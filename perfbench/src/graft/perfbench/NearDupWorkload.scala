package graft.perfbench

import java.io.File

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** `near_dup`: `Dedup.corpusDedup` (word `n`-gram shingles, MinHash
  * banding, exact verify) over a seeded corpus with planted near-duplicate
  * pairs at known edit counts. One operation is one dedup of the whole
  * corpus, read from a tab-separated file. */
final class NearDupWorkload(docs: Int, planted: Int, n: Int, threshold: Double) extends Workload {
  private var file: File = _
  private var corpus: Gen.Corpus = _

  def generate(work: File, seed: Long): Unit = {
    corpus = Gen.corpus(seed, docs, planted, n)
    file = new File(work, "dedup_in/docs.tsv")
    Gen.writeCorpus(file, corpus)
  }

  private def read(ctx: Ctx): DataFrame =
    ctx.spark.read.schema("doc_id LONG, text STRING").option("sep", "\t").csv(file.getPath)

  private def dedup(ctx: Ctx): (Double, Array[(Long, Long, Double)]) = {
    val (rows, secs) = Harness.seconds(ctx.tracer.span("operators.Dedup.corpusDedup")(
      Dedup.corpusDedup(read(ctx), n, threshold).collect()))
    (secs, rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard"))))
  }

  /** Every reported pair has exact Jaccard at or above the threshold,
    * recomputed here from the texts, and no planted pair is lost beyond
    * what MinHash banding allows (below). Returns the recall of the
    * planted pairs whose exact Jaccard is at or above the threshold. */
  private def verify(pairs: Array[(Long, Long, Double)], report: Report): Double = {
    val bad = pairs.filterNot { case (a, b, j) =>
      val exact = Gen.jaccard(corpus.texts(a.toInt), corpus.texts(b.toInt), n)
      a < b && exact >= threshold && math.abs(exact - j) < 1e-9
    }
    report.check("near_dup: every reported pair has exact Jaccard >= threshold", bad.isEmpty,
      s"${bad.length} of ${pairs.length} pairs, e.g. ${bad.headOption}")
    val found = pairs.map(p => (p._1, p._2)).toSet
    val due = corpus.pairs.filter(_._3 >= threshold)
    val missed = due.filterNot(p => found.contains((math.min(p._1, p._2), math.max(p._1, p._2))))
    // identical documents share every band, so none may be lost
    val exact = missed.count(_._3 == 1.0)
    report.fail("near_dup: every exact duplicate pair reported", exact,
      s"$exact missed, e.g. ${missed.find(_._3 == 1.0)}")
    // a near pair may be lost by chance; each loss beyond the allowance fails
    val p = due.filter(_._3 < 1.0).map(x => NearDupWorkload.missProbability(x._3))
    val allowed = math.ceil(p.sum + 4 * math.sqrt(p.map(q => q * (1 - q)).sum)).toLong
    val near = missed.size - exact
    report.fail("near_dup: near-duplicate pairs lost within the banding allowance", near - allowed,
      s"$near of ${p.size} lost, $allowed allowed")
    (due.size - missed.size).toDouble / due.size
  }

  /** Two dedups: the JIT is still compiling the dedup path after one. */
  def setup(ctx: Ctx): Unit = { dedup(ctx); dedup(ctx) }

  private def e2e(report: Report, secs: Seq[Double], recall: Double): Unit = {
    report.e2e("throughput_per_s") = docs * secs.size / secs.sum
    report.e2e("op_p50_ms") = Stats.median(secs) * 1e3
    report.detail("dedup_docs_per_s", docs / Stats.median(secs), "1/s", s"$docs docs, n=${secs.size}")
    report.detail("dedup_recall", recall, "ratio",
      s"${corpus.pairs.count(_._3 >= threshold)} planted pairs at or above $threshold")
    report.timing("dedup", "s", 1.0, secs)
  }

  def measure(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val secs = Seq.newBuilder[Double]
    var recall = 0.0
    Harness.closedLoop(seconds, 2) { _ =>
      report.attempted += 1
      val (s, pairs) = dedup(ctx)
      secs += s
      recall = verify(pairs, report)
    }
    e2e(report, secs.result(), recall)
  }

  def traced(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val plain = Seq.newBuilder[Double]
    val withTrace = Seq.newBuilder[(Double, Map[String, Long], Double)]
    var recall = 0.0
    var verified = 0L
    Harness.closedLoop(seconds, 2) { i =>
      report.attempted += 1
      val pairs =
        if (i % 2 == 0) { val (s, p) = dedup(ctx); plain += s; p }
        else {
          val ((s, p), _, d, gc) = ctx.traced(dedup(ctx))
          withTrace += ((s, d, gc)); p
        }
      recall = verify(pairs, report)
      verified = pairs.length
    }
    val ps = plain.result()
    val ts = withTrace.result()
    e2e(report, ps, recall)
    val L = report.layer
    L("trace.overhead_ms") = (Stats.median(ts.map(_._1)) - Stats.median(ps)) * 1e3
    L("GraftSession.task_failures") = ts.map(_._2("task_failures")).sum.toDouble
    L("GraftSession.gc_s") = ts.map(_._3).sum / ts.size
    L("operators.Dedup.spill_bytes") = ts.map(_._2("disk_spill_bytes")).sum.toDouble / ts.size
    L("operators.Dedup.recall") = recall
    // prefix-forcing: the signature stage alone, then the candidate count
    L("operators.Dedup.signature_s") =
      Harness.seconds(Harness.noop(Dedup.minHashSignatures(read(ctx), n)))._2
    val candidates = Dedup.minHashCandidates(Dedup.minHashSignatures(read(ctx), n)).count()
    L("operators.Dedup.candidate_pairs") = candidates.toDouble
    L("operators.Dedup.verified_per_candidate") = verified.toDouble / math.max(1L, candidates)
  }
}

object NearDupWorkload {
  /** Chance that MinHash banding misses a pair of Jaccard `j`, with the
    * banding `Dedup.corpusDedup` had when this benchmark was defined:
    * 8 bands of 4 rows, so the pair shares no band with probability
    * (1 - j^4)^8. It is fixed here, not read from `Dedup`, so that a change
    * to fewer or wider bands that loses pairs fails the recall check. */
  def missProbability(j: Double): Double = math.pow(1 - math.pow(j, 4), 8)
}
