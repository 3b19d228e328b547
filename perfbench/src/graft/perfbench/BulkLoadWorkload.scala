package graft.perfbench

import java.io.File

import graft.BulkLoad
import graft.functions.keys
import graft.operators.{CellOps, RegionSort}
import graft.sources.{CellManifest, Delimited}
import org.apache.spark.sql.functions.col

/** `bulk_load`: the paper's pipeline end to end. Reference-shaped CSV
  * through `BulkLoad.csv` (default `Config()`, strict RFC-4180 parsing),
  * the returned sink's `write` (data files plus manifest), then
  * `postCommit`. One operation is one load of the whole input into a
  * fresh directory. */
final class BulkLoadWorkload(files: Int, rowsPerFile: Int) extends Workload {
  private var in: File = _
  private var tally: Gen.Tally = _
  private var passNo = 0
  private var seed = 0L
  private val cfg = BulkLoad.Config()

  def generate(work: File, seed: Long): Unit = {
    this.seed = seed
    in = new File(work, "bulk_in")
    tally = (0 until files).map { f =>
      Gen.writeCsv(new File(in, f"part-$f%03d.csv"), seed, 1000000000L,
        f.toLong * rowsPerFile, (f + 1L) * rowsPerFile)
    }.reduce(_ + _)
  }

  private def expectedCells: Long = Gen.Arity.toLong * tally.strictKeyable

  /** One load; returns its seconds, output dir and the pipeline result. */
  private def load(ctx: Ctx): (Double, File, BulkLoad.Result) = {
    val out = new File(ctx.work, f"bulk_out_$passNo%03d")
    passNo += 1
    val t = ctx.tracer
    val (r, secs) = Harness.seconds {
      val r = t.span("BulkLoad.csv")(BulkLoad.csv(ctx.spark, in.getPath, cfg))
      t.span("BulkLoad.sink_write")(r.sink.write(r.cells, out.getPath))
      t.span("BulkLoad.post_commit")(r.sink.postCommit(out.getPath))
      r
    }
    (secs, out, r)
  }

  /** Per-load check: the manifest indexes every part file and records
    * 9 cells per keyable row. */
  private def quickCheck(ctx: Ctx, out: File, report: Report): Boolean = {
    val m = CellManifest.read(ctx.spark, out.getPath).getOrElse(Map.empty)
    val parts = Harness.partFiles(out).map(_.getName).toSet
    report.check("bulk_load: manifest lists every part file", parts.nonEmpty && m.keySet == parts,
      s"${parts.size} part files, ${m.size} manifest entries") &&
      report.check("bulk_load: cells = 9 x keyable rows",
        CellManifest.totalRows(ctx.spark, out.getPath).contains(expectedCells),
        s"manifest ${CellManifest.totalRows(ctx.spark, out.getPath)}, expected $expectedCells")
  }

  /** Full output check of one load: quarantine count, and each file in
    * unsigned (row, family, qualifier) order with the files' row ranges
    * disjoint and ascending (file i holds only region i's keys). Returns
    * the quarantined rows and the cells read back. */
  private def fullCheck(ctx: Ctx, out: File, r: BulkLoad.Result, report: Report): (Long, Long) = {
    val q = r.quarantined.count()
    report.check("bulk_load: quarantined rows = planted rejects", q == tally.strictQuarantined,
      s"got $q, planted ${tally.strictQuarantined}")
    val files = Harness.partFiles(out)
    val perFile = files.map(f => Layout.fileSummary(ctx.spark, f.getPath))
    report.check("bulk_load: every file in unsigned (row, family, qualifier) order",
      perFile.forall(_.sorted))
    report.check("bulk_load: file row ranges disjoint and ascending",
      perFile.filter(_.cells > 0).sliding(2).forall {
        case Seq(a, b) => RegionSort.unsignedBytes.compare(a.lastRow, b.firstRow) < 0
        case _ => true
      })
    val cells = perFile.map(_.cells).sum
    report.check("bulk_load: cells read back = 9 x keyable rows", cells == expectedCells,
      s"got $cells, expected $expectedCells")
    (q, cells)
  }

  def setup(ctx: Ctx): Unit = {
    val (_, out, _) = load(ctx)
    Harness.deleteTree(out)
  }

  private def timedLoads(ctx: Ctx, seconds: Double, report: Report,
                         traced: Int => Boolean): (Seq[Double], Seq[Double], File, BulkLoad.Result,
                                                    Seq[(Map[String, Long], Double)]) = {
    val plain = Seq.newBuilder[Double]
    val withTrace = Seq.newBuilder[Double]
    val counts = Seq.newBuilder[(Map[String, Long], Double)]
    var last: (File, BulkLoad.Result) = null
    Harness.closedLoop(seconds, 2) { i =>
      if (last != null) Harness.deleteTree(last._1)
      report.attempted += 1
      val (secs, out, r) =
        if (traced(i)) {
          val ((s, o, r), _, d, gc) = ctx.traced(load(ctx))
          withTrace += s; counts += ((d, gc)); (s, o, r)
        } else { val x = load(ctx); plain += x._1; x }
      quickCheck(ctx, out, report)
      last = (out, r)
    }
    (plain.result(), withTrace.result(), last._1, last._2, counts.result())
  }

  private def e2e(report: Report, secs: Seq[Double], out: File): Unit = {
    report.e2e("throughput_per_s") = tally.lines * secs.size / secs.sum
    report.e2e("op_p50_ms") = Stats.median(secs) * 1e3
    report.detail("load_rows_per_s", tally.lines / Stats.median(secs), "1/s",
      s"${tally.lines} input rows per load, median of ${secs.size} loads")
    report.detail("load_stored_bytes_per_input_byte",
      Harness.storedBytes(out, partsOnly = false).toDouble / tally.bytes, "ratio",
      s"${tally.bytes} input bytes")
    report.timing("load", "s", 1.0, secs)
  }

  def measure(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val (secs, _, out, r, _) = timedLoads(ctx, seconds, report, _ => false)
    e2e(report, secs, out)
    fullCheck(ctx, out, r, report)
  }

  def traced(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val (plain, withTrace, out, r, counts) = timedLoads(ctx, seconds, report, _ % 2 == 1)
    e2e(report, plain, out)
    val (quarantined, cells) = fullCheck(ctx, out, r, report)
    val L = report.layer
    L("trace.overhead_ms") = (Stats.median(withTrace) - Stats.median(plain)) * 1e3
    def perLoad(k: String): Double = counts.map(_._1(k).toDouble).sum / counts.size
    L("GraftSession.jobs_per_load") = perLoad("jobs")
    L("GraftSession.task_failures") = counts.map(_._1("task_failures")).sum.toDouble
    L("GraftSession.gc_s") = counts.map(_._2).sum / counts.size
    L("plans.exchange_bytes_per_row") = perLoad("shuffle_write_bytes") / tally.lines
    L("plans.exchange_write_s") = perLoad("shuffle_write_ns") / 1e9
    L("operators.RegionSort.spill_bytes") = perLoad("disk_spill_bytes")
    L("sources.quarantine_ratio") = quarantined.toDouble / tally.lines
    // rows the engine kept beyond the ones with exactly 9 fields
    L("sources.arity_mismatch_kept") =
      cells.toDouble / Gen.Arity - (tally.strictKeyable - tally.arityMismatchKept)
    L("operators.CellOps.cells_per_row") = cells.toDouble / tally.strictKeyable
    L("BulkLoad.bytes_written") = Harness.storedBytes(out, partsOnly = true).toDouble
    L("BulkLoad.stored_bytes_per_input_byte") =
      Harness.storedBytes(out, partsOnly = false).toDouble / tally.bytes
    // the manifest alone: direct rewrites of the last load's manifest
    L("sources.CellManifest.write_s") = Stats.median((0 until 5).map { _ =>
      Harness.seconds(ctx.tracer.span("sources.CellManifest.write")(
        CellManifest.write(ctx.spark, out.getPath)))._2
    })
    Harness.deleteTree(out)

    // prefix-forcing: each pipeline prefix to the noop sink, then the real
    // write; a layer's self time is the difference between neighbours
    val spark = ctx.spark
    val valueCols = (0 until cfg.arity).map(i => col(s"c$i"))
    def parsed = Delimited.strictCsv(spark, in.getPath, cfg.arity)
    def keyed = parsed.where(cfg.keyFields.map(i => col(s"c$i").isNotNull).reduce(_ && _))
      .select((keys.md5CompositeKey(cfg.keyFields.map(i => col(s"c$i"))).as("row") +: valueCols): _*)
    def exchanged = keyed.repartitionByRange(cfg.regions, col("row"))
    def exploded = CellOps.explodeIndexed(exchanged, col("row"), cfg.family, valueCols, cfg.loadTs)
    val sink = new File(ctx.work, "bulk_prefix_out")
    val ladder = Harness.prefixLadder(Seq(
      "sources.parse_s" -> (() => Harness.noop(parsed)),
      "functions.keys.rowkey_s" -> (() => Harness.noop(keyed)),
      "plans.exchange_s" -> (() => Harness.noop(exchanged)),
      "operators.CellOps.explode_s" -> (() => Harness.noop(exploded)),
      "operators.RegionSort.sort_s" -> (() => Harness.noop(BulkLoad.csv(spark, in.getPath, cfg).cells)),
      "BulkLoad.sink_write_s" -> { () =>
        val r = BulkLoad.csv(spark, in.getPath, cfg)
        r.sink.write(r.cells, sink.getPath)
      }))
    ladder.foreach { case (n, s) => L(n) = s }
    Harness.deleteTree(sink)

    // the read layers, on a serving layout of several files per region
    val reads = new ReadProbe(filesets = 3, rowsPerFileset = 2000)
    reads.generate(ctx.work, seed)
    reads.setup(ctx)
    reads.traced(ctx, seconds, report)
  }
}
