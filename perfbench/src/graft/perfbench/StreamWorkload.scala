package graft.perfbench

import java.io.File

import graft.BulkLoad
import graft.functions.keys
import graft.sources.Delimited
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions.col

/** `stream_ingest`: the same generator written as a backlog of small
  * files, drained by `StreamingIngest.run` one file per trigger with a
  * minor compaction every `compactEvery` triggers. A closed loop with one
  * client: each trigger starts after the previous one commits. One pass
  * drains the whole backlog into a fresh output and checkpoint. */
final class StreamWorkload(files: Int, rowsPerFile: Int, compactEvery: Int) extends Workload {
  require(files % compactEvery == 0, "every batch must be absorbed by a compaction")
  private var in: File = _
  private var warm: File = _
  private var tally: Gen.Tally = _
  private var passNo = 0
  private var quarantined = 0L
  private val regions = BulkLoad.Config().regions

  def generate(work: File, seed: Long): Unit = {
    in = new File(work, "stream_in")
    tally = (0 until files).map { f =>
      Gen.writeCsv(new File(in, f"f-$f%04d.csv"), seed, 2000000000L,
        f.toLong * rowsPerFile, (f + 1L) * rowsPerFile)
    }.reduce(_ + _)
    warm = new File(work, "stream_warm")
    (0 until WarmFiles).foreach { f =>
      Gen.writeCsv(new File(warm, f"f-$f%04d.csv"), seed + 1, 3000000000L,
        f.toLong * rowsPerFile, (f + 1L) * rowsPerFile)
    }
  }

  private final case class Pass(secs: Double, out: File, results: Seq[StreamingIngest.BatchResult],
                                triggers: Seq[StreamEvents#Trigger]) {
    /** (trigger seconds, compacting?) in batch order. */
    def triggerSecs: Seq[(Double, Boolean)] = results.zipWithIndex.map { case (b, i) =>
      val t = triggers.find(_.batchId == b.batchId).map(_.durations("triggerExecution") / 1e3)
      (t.getOrElse(Double.NaN), (i + 1) % compactEvery == 0)
    }
  }

  /** The set-up drain: three files, compacting after the last. */
  private val WarmFiles = 3

  private def drain(ctx: Ctx, dir: File, every: Int = compactEvery): Pass = {
    val out = new File(ctx.work, f"stream_out_$passNo%03d")
    val ckpt = new File(ctx.work, f"stream_ckpt_$passNo%03d")
    passNo += 1
    ctx.streams.take()
    val (results, secs) = Harness.seconds(ctx.tracer.span("streaming.StreamingIngest.run")(
      StreamingIngest.run(ctx.spark, dir.getPath, out.getPath, ckpt.getPath, BulkLoad.Config(),
        ",", maxFilesPerTrigger = 1, compactEvery = every)))
    org.apache.spark.perfbench.ListenerBus.drain(ctx.spark.sparkContext)
    val ids = results.map(_.batchId).toSet
    val triggers = ctx.streams.take().filter(t => ids.contains(t.batchId) && t.inputRows > 0)
    Harness.deleteTree(ckpt)
    Pass(secs, out, results, triggers)
  }

  def setup(ctx: Ctx): Unit = Harness.deleteTree(drain(ctx, warm, WarmFiles).out)

  private def serving(p: Pass): File = new File(p.out, "serving")

  /** Per-pass check: one trigger per file, the expected cell count, and
    * every planted reject in the quarantine. */
  private def quickCheck(ctx: Ctx, p: Pass, report: Report): Unit = {
    val cells = p.results.map(_.cells).sum
    val expected = Gen.Arity.toLong * tally.naiveKept
    report.check("stream_ingest: one trigger per backlog file",
      p.results.size == files && p.triggers.size == files,
      s"${p.results.size} batches, ${p.triggers.size} progress events")
    report.check("stream_ingest: cells = 9 x kept rows", cells == expected,
      s"got $cells, expected $expected")
    val qDirs = Option(p.out.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.endsWith(".quarantine")).map(_.getPath)
    val q = if (qDirs.isEmpty) 0L else ctx.spark.read.parquet(qDirs: _*).count()
    quarantined = q
    report.check("stream_ingest: quarantined rows = planted rejects", q == tally.naiveQuarantined,
      s"got $q, planted ${tally.naiveQuarantined}")
  }

  /** After compaction: every batch absorbed, the expected cells, and no
    * (row, family, qualifier) twice. */
  private def fullCheck(ctx: Ctx, p: Pass, report: Report): Unit = {
    val left = graft.sources.CellCompaction.batchDirs(ctx.spark, p.out.getPath)
    report.check("stream_ingest: every batch absorbed by compaction", left.isEmpty,
      s"${left.size} batch dirs left")
    val cells = ctx.spark.read.parquet(serving(p).getPath)
    val n = cells.count()
    val distinct = cells.select("row", "family", "qualifier").distinct().count()
    report.check("stream_ingest: serving cells = 9 x kept rows", n == Gen.Arity.toLong * tally.naiveKept,
      s"got $n")
    report.check("stream_ingest: no duplicated cell after compaction", distinct == n,
      s"$n cells, $distinct distinct")
  }

  private def passes(ctx: Ctx, seconds: Double, report: Report, traced: Int => Boolean)
      : (Seq[Pass], Seq[Pass], Seq[(Map[String, Long], Double)], Pass) = {
    val plain = Seq.newBuilder[Pass]
    val withTrace = Seq.newBuilder[Pass]
    val counts = Seq.newBuilder[(Map[String, Long], Double)]
    var last: Pass = null
    Harness.closedLoop(seconds, 2) { i =>
      if (last != null) Harness.deleteTree(last.out)
      val p =
        if (traced(i)) {
          val (p, _, d, gc) = ctx.traced(drain(ctx, in))
          withTrace += p; counts += ((d, gc)); p
        } else { val p = drain(ctx, in); plain += p; p }
      report.attempted += p.results.size
      quickCheck(ctx, p, report)
      last = p
    }
    fullCheck(ctx, last, report)
    (plain.result(), withTrace.result(), counts.result(), last)
  }

  private def e2e(report: Report, ps: Seq[Pass]): Unit = {
    val trig = ps.flatMap(_.triggerSecs.map(_._1))
    // a long-running stream pays query start and stop once, so throughput
    // is input rows over the time its triggers took, compactions included
    report.e2e("throughput_per_s") = tally.lines * ps.size / trig.sum
    report.e2e("op_p50_ms") = Stats.median(trig) * 1e3
    report.detail("stream_rows_per_s", tally.lines * ps.size / trig.sum, "1/s",
      s"$files files x $rowsPerFile rows per pass, ${ps.size} passes, ${trig.size} triggers")
    report.detail("stream_pass_rows_per_s", tally.lines / Stats.median(ps.map(_.secs)), "1/s",
      "whole passes, query start and stop included")
    report.timing("trigger", "s", 1.0, trig)
  }

  def measure(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val (plain, _, _, last) = passes(ctx, seconds, report, _ => false)
    e2e(report, plain)
    Harness.deleteTree(last.out)
  }

  def traced(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val (plain, withTrace, counts, last) = passes(ctx, seconds, report, _ % 2 == 1)
    e2e(report, plain)
    val L = report.layer
    def trig(ps: Seq[Pass]) = ps.flatMap(_.triggerSecs.map(_._1))
    L("trace.overhead_ms") = (Stats.median(trig(withTrace)) - Stats.median(trig(plain))) * 1e3
    val nTrig = withTrace.map(_.results.size).sum.toDouble
    def perTrigger(k: String): Double = counts.map(_._1(k).toDouble).sum / nTrig
    L("GraftSession.jobs_per_load") = perTrigger("jobs")
    L("GraftSession.task_failures") = counts.map(_._1("task_failures")).sum.toDouble
    L("GraftSession.gc_s") = counts.map(_._2).sum / nTrig
    L("plans.exchange_bytes_per_row") = counts.map(_._1("shuffle_write_bytes")).sum.toDouble /
      (tally.lines * withTrace.size)
    L("plans.exchange_write_s") = perTrigger("shuffle_write_ns") / 1e9
    L("operators.RegionSort.spill_bytes") = perTrigger("disk_spill_bytes")
    L("sources.quarantine_ratio") = quarantined.toDouble / tally.lines
    L("operators.CellOps.cells_per_row") =
      withTrace.last.results.map(_.cells).sum.toDouble / tally.naiveKept

    val all = withTrace ++ plain
    val steady = all.flatMap(p => p.results.zip(p.triggers.sortBy(_.batchId))
      .zip(p.triggerSecs).collect { case ((b, t), (s, false)) => (b, t, s) })
    L("streaming.engine_s") = Stats.median(steady.map { case (b, _, s) => s - b.secs })
    L("streaming.wal_commit_s") = Stats.median(steady.map { case (_, t, _) =>
      (t.durations.getOrElse("walCommit", 0L) + t.durations.getOrElse("commitOffsets", 0L)) / 1e3 })
    L("streaming.body_write_s") = Stats.median(all.flatMap(_.results.map(_.phases("write"))))
    L("streaming.deferred_s") = Stats.median(all.flatMap(_.results.map(_.deferredSecs)))
    val ts = all.flatMap(_.triggerSecs)
    L("sources.CellCompaction.minor_s") =
      Stats.median(ts.filter(_._2).map(_._1)) - Stats.median(ts.filterNot(_._2).map(_._1))
    L("sources.CellCompaction.bytes_rewritten_per_input_byte") =
      Harness.storedBytes(serving(last), partsOnly = true).toDouble / tally.bytes
    L("sources.serving_files_per_region") =
      Harness.partFiles(serving(last)).size.toDouble / regions
    L("BulkLoad.bytes_written") = Harness.storedBytes(serving(last), partsOnly = true).toDouble
    Harness.deleteTree(last.out)

    // prefix-forcing over one backlog file: the per-trigger parse and key
    val one = new File(in, "f-0000.csv").getPath
    def kept = Delimited.naiveSplit(ctx.spark, one, ",", Gen.Arity)._1
    val valueCols = (0 until Gen.Arity).map(i => col(s"c$i"))
    def keyed = kept.select((keys.md5CompositeKey(valueCols.take(4)).as("row") +: valueCols): _*)
    Harness.prefixLadder(Seq(
      "sources.parse_s" -> (() => Harness.noop(kept)),
      "functions.keys.rowkey_s" -> (() => Harness.noop(keyed))))
      .foreach { case (n, s) => L(n) = s }
  }
}
