package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — per-query wall-clock over the declared query set.
  *
  * Queries are forced through the `noop` sink (full computation of every
  * output column; a bare `count()` would let Catalyst prune most of the
  * work — e.g. the md5 rowkeys are dead code under count). A warmup pass
  * runs first so JIT/codegen compilation is not billed to the first query.
  *
  * Output contract (the driver captures a BOUNDED stdout tail, so size
  * matters — round 1's and round 7's full per-query lines both clipped
  * past parseability):
  *   - `bench_out.json` on disk: the FULL artifact — per-query seconds,
  *     the query probe's passes, methodology notes.
  *   - stdout LAST line: one short (<500 char) JSON summary — total,
  *     per-family subtotals, query count, query-probe ratio — always
  *     within the driver's tail window.
  *
  * Ingest throughput is not measured here: `perfbench/` (`bulk_load`,
  * `stream_ingest`) is its measure of record.
  *
  * Bench-session hygiene: ~40 of the queries materialize fixpoint /
  * multi-consumer frames via `localCheckpoint`; across 3 × 200+
  * executions in one SparkSession the pinned blocks compound into
  * storage-memory pressure that hits checkpoint-heavy iterative queries
  * hardest (round 7's `graph_pagerank` artifact: 15.8 s vs 5.7 s
  * isolated). Every forced query is therefore followed by an unpersist
  * of all accumulated RDDs — each query builds a fresh plan, so nothing
  * is recomputed from a dropped block.
  */
object Bench {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drop every pinned block (localCheckpoint RDDs, persisted frames)
    * left behind by a completed query so timings stay independent. */
  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Family key for the summary line: leading name segment, with the 22
    * TPC-H shapes (`q1`..`q22`) folded into the `q` family. */
  private def family(name: String): String = {
    val head = name.takeWhile(_ != '_')
    if (head.matches("q\\d+")) "q" else head
  }

  /** QUERY-FAMILY ambient canary. Three same-session r17 runs showed
    * totals ±7% and the graph family ±27–44% on identical code, so
    * cross-round per-query diffs need a mechanical normalizer for the
    * shuffle+CPU regime most queries live in. This probe is that
    * normalizer: a FIXED synthetic workload, independent of the sf dir
    * and of every declared query — `spark.range` rows through an md5 CPU
    * stage, a non-broadcast shuffle join (both sides above the 10 MB
    * auto-broadcast threshold), and a two-shuffle distinct aggregate —
    * run 3×, min taken, at bench start. Reported as `query_probe_sec`
    * (raw) and `query_probe_ratio` (best-recorded / session: > 1.0 = this
    * session's shuffle+CPU regime ran FASTER than the recorded best,
    * multiply family times by it before cross-round comparison). */
  private[graft] def queryProbe(spark: SparkSession): Seq[Double] = {
    import org.apache.spark.sql.functions._
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val a = spark.range(0L, 3000000L)
        .select(col("id"), pmod(hash(col("id")), lit(200000)).as("k"),
          md5(col("id").cast("string").cast("binary")).as("s"))
      val b = spark.range(0L, 1000000L)
        .select(pmod(hash(col("id") * 31), lit(200000)).as("k"),
          md5((col("id") + 7L).cast("string").cast("binary")).as("t"))
      force(a.join(b, "k")
        .groupBy(substring(col("s"), 1, 2).as("g"))
        .agg(count(lit(1)).as("n"), countDistinct(col("t")).as("d")))
      unpersistAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Best recorded [[queryProbe]] min (r18 calibration: 2.209 s — pass
    * secs 6.2/2.9/2.2, the first pass paying the probe's own JIT, which
    * is why min-of-3 is the statistic). Re-measure only when the probe
    * workload itself changes, and never reuse a stale best across a
    * probe change. */
  private val BestRecordedProbeSec = 2.209

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-bench", cpus.toInt)

    // Warmup: JIT, codegen cache, parquet footer reads.
    try force(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => () }
    unpersistAll(spark)

    // query-family ambient canary: fixed shuffle+CPU probe, min-of-3,
    // AFTER warmup so JIT is not billed to the probe
    val probePasses = queryProbe(spark)
    val probeSec = probePasses.min
    val probeRatio = BestRecordedProbeSec / probeSec

    // optional args = query-name subset (same contract as graft.Verify)
    val subset = args.toSet
    val picked =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => subset(n) }

    // min of 3 runs, taken as three FULL alternating passes rather than
    // back-to-back: first-run JIT/GC noise dominates single-shot numbers,
    // and a transient machine-load spike poisons adjacent timings — the
    // passes are minutes apart per query, so the min survives it. Round 3's
    // 2-pass min still showed 2-3x ambient artifacts (q21/q22) inside the
    // full pass that vanished in isolated re-runs; a third interleaved
    // sample prices one spike per query out of the min.
    val names = picked.toSeq.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (_ <- 1 to 3; (name, fn) <- names) {
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        if (t < best.getOrElse(name, Double.MaxValue)) best(name) = t
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      unpersistAll(spark)
    }
    val results = names.map { case (name, _) => name -> best.getOrElse(name, -1.0) }

    def ms(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val total = results.map(_._2).filter(_ >= 0).sum

    // Full artifact → disk only (a 200-query map exceeds the driver's tail).
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val probeFull =
      s""","query_probe_sec":${ms(probeSec)},"query_probe_pass_secs":${
        probePasses.map(ms).mkString("[", ",", "]")
      },"query_probe_ratio":${ms(probeRatio)},"query_probe_method":"fixed synthetic shuffle+CPU workload (3M-row md5 stage, non-broadcast shuffle join, two-shuffle distinct agg), min-of-3 after warmup; ratio = best recorded (${BestRecordedProbeSec}s) / session, >1.0 = session shuffle+CPU ambient FASTER than best — multiply family times by it before cross-round comparison""""
    val full =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs$probeFull,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), full + "\n")
    catch { case _: Throwable => () }

    // Short summary → LAST stdout line (the artifact the driver records).
    val famTotals = results.filter(_._2 >= 0)
      .groupBy { case (n, _) => family(n) }
      .map { case (f, xs) => f -> xs.map(_._2).sum }
      .toSeq.sortBy(_._1)
    val fams = famTotals.map { case (f, v) => "\"" + f + "\":" + f"$v%.1f" }.mkString("{", ",", "}")
    val nFail = results.count(_._2 < 0)
    val summary =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_failed":$nFail,"families":$fams,"query_probe_ratio":${ms(probeRatio)},"full":"bench_out.json","sf":"$sfDir"}"""
    println(summary)
    spark.stop()
  }
}
