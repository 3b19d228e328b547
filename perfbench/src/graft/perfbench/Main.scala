package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

/** Benchmark entry point (run through `perfbench/run.py`, which builds the
  * classes, sets the JVM flags and formats the result line).
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --cores <n> --spans <file>
  * }}}
  *
  * Generates the workload's inputs from the seed under `--work`, sets up
  * [[SetupRounds]] times (each round: a fresh session plus the workload's
  * warm-up or layout build), then measures for `--seconds`. Prints
  * `METRIC <name> <value>` lines (end-to-end metrics untraced, per-layer
  * metrics traced), `ATTEMPTED`/`FAILED` counts, and readable detail
  * lines. Exits 1 when any output check failed. */
object Main {
  val SetupRounds = 3

  /** Per-layer metric names, as in BENCHMARK.json. A workload that does
    * not reach a layer reports 0 for it. */
  val LayerMetrics: Seq[String] = Seq(
    "sources.parse_s", "sources.quarantine_ratio", "sources.arity_mismatch_kept",
    "functions.keys.rowkey_s", "plans.exchange_s", "plans.exchange_bytes_per_row",
    "plans.exchange_write_s", "operators.CellOps.explode_s", "operators.CellOps.cells_per_row",
    "operators.RegionSort.sort_s", "operators.RegionSort.spill_bytes",
    "BulkLoad.sink_write_s", "BulkLoad.bytes_written", "BulkLoad.stored_bytes_per_input_byte",
    "sources.CellManifest.write_s", "streaming.engine_s", "streaming.wal_commit_s",
    "streaming.body_write_s", "streaming.deferred_s", "sources.CellCompaction.minor_s",
    "sources.CellCompaction.bytes_rewritten_per_input_byte", "sources.serving_files_per_region",
    "sources.CellScan.plan_ms", "sources.CellScan.exec_ms", "sources.CellManifest.read_ms",
    "sources.CellScan.files_per_get", "sources.CellScan.footer_opens",
    "sources.CellScan.rows_read_per_row_returned", "GraftSession.tasks_per_read",
    "GraftSession.jobs_per_load", "operators.Dedup.signature_s", "operators.Dedup.candidate_pairs",
    "operators.Dedup.verified_per_candidate", "operators.Dedup.spill_bytes", "operators.Dedup.recall",
    "GraftSession.task_failures", "GraftSession.gc_s", "trace.overhead_ms")

  val E2eMetrics: Seq[String] = Seq("setup_s", "peak_rss_mb", "throughput_per_s", "op_p50_ms")

  def workload(name: String): Workload = name match {
    case "bulk_load" => new BulkLoadWorkload(files = 4, rowsPerFile = 25000)
    case "stream_ingest" => new StreamWorkload(files = 6, rowsPerFile = 2000, compactEvery = 6)
    case "near_dup" => new NearDupWorkload(docs = 1500, planted = 150, n = 3, threshold = 0.5)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val budget = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val wl = workload(opts("workload"))
    val tracer = new Tracer
    val report = new Report
    val code =
      try {
        val (_, genS) = Harness.seconds(wl.generate(work, seed))
        var ctx: Ctx = null
        val sessionS = Seq.newBuilder[Double]
        val setupS = (1 to SetupRounds).map { _ =>
          if (ctx != null) ctx.stop()
          Harness.seconds {
            sessionS += Harness.seconds { ctx = Ctx.start(opts("cores").toInt, tracer, work) }._2
            wl.setup(ctx)
          }._2
        }
        val steal0 = Ctx.stealTicks
        val (_, measureS) = Harness.seconds {
          try { if (trace) wl.traced(ctx, budget, report) else wl.measure(ctx, budget, report) }
          finally ctx.stop()
        }
        // clock ticks are 1/100 s on Linux
        val cpus = Runtime.getRuntime.availableProcessors
        report.detail("host_steal_pct", (Ctx.stealTicks - steal0) / (measureS * cpus), "%",
          "CPU time other guests took from this machine while measuring; high values mean noisy figures")
        report.e2e("setup_s") = Stats.median(setupS)
        report.e2e("peak_rss_mb") = Ctx.peakRssMb
        report.detail("input_generation_s", genS, "s", "excluded from setup_s")
        report.details += s"setup rounds (s): ${setupS.map(s => f"$s%.3f").mkString(" ")}; " +
          s"of which session start: ${sessionS.result().map(s => f"$s%.3f").mkString(" ")}"
        if (report.failed == 0) 0 else 1
      } catch {
        case NonFatal(e) =>
          e.printStackTrace(System.out)
          report.attempted += 1
          report.failed += 1
          1
      }
    if (trace) {
      tracer.write(new File(opts("spans")))
      report.details += s"spans: ${tracer.all.size} written to ${opts("spans")}"
    }
    report.details.foreach(d => println(s"DETAIL $d"))
    val names = if (trace) LayerMetrics else E2eMetrics
    val values = if (trace) report.layer else report.e2e
    names.foreach(n => println(s"METRIC $n ${values.getOrElse(n, 0.0)}"))
    println(s"ATTEMPTED ${report.attempted}")
    println(s"FAILED ${report.failed}")
    System.out.flush()
    sys.exit(code)
  }
}
