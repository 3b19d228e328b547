package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.BulkLoad
import graft.operators.RegionSort
import graft.sources.{CellCompaction, CellManifest, CellScan}
import org.apache.spark.sql.{DataFrame, Row}

/** The read probe of the traced `bulk_load` run: it measures the read
  * layers (`CellScan.get`/`multiGet`/`scanPrefix`, `CellManifest.read`,
  * the serving layout) and checks every read result. It is not a
  * workload of its own, because its latencies on a shared host were too
  * unsteady to bound (see README.md). `setup` builds a serving directory
  * from `filesets` bulk-loaded filesets, each absorbed by a minor
  * compaction, so every region holds `filesets` files. One closed-loop
  * client then sends rounds of four requests, one of each kind, in seeded
  * order: a get of a present key, a get of an absent key, a multi-get of
  * 16 keys (12 present, 4 absent) and a two-byte prefix scan. */
final class ReadProbe(filesets: Int, rowsPerFileset: Int) {
  private val cfg = BulkLoad.Config(splits = Some(RegionSort.uniformMd5Splits(BulkLoad.Config().regions).toSeq))
  private var inputs: Seq[File] = Nil
  private var keys: Array[Array[Byte]] = _           // every stored row key, unsigned order
  private var clean: Array[(Array[Byte], Array[String])] = _
  private var seed = 0L
  private var serving: File = _

  sealed trait Req { def kind: String }
  final case class Get(key: Array[Byte], fields: Option[Array[String]]) extends Req { val kind = "get" }
  final case class MultiGet(keys: Seq[Array[Byte]], present: Set[String]) extends Req { val kind = "multiget" }
  final case class Scan(prefix: Array[Byte]) extends Req { val kind = "scan" }

  def generate(work: File, seed: Long): Unit = {
    this.seed = seed
    val kept = Array.newBuilder[(Array[Byte], Gen.Row)]
    inputs = (0 until filesets).map { k =>
      val f = new File(work, f"reads_in/fileset-$k%02d.csv")
      Gen.writeCsv(f, seed, 4000000000L, k.toLong * rowsPerFileset, (k + 1L) * rowsPerFileset,
        r => r.strict.foreach(fields => kept += ((Gen.rowKey(fields), r))))
      f
    }
    val all = kept.result()
    keys = all.map(_._1).sorted(RegionSort.unsignedBytesOrdering)
    clean = all.collect { case (k, r) if r.kind == Gen.Clean => (k, r.strict.get) }
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Round `r`: one request of each kind, in seeded order. */
  private def round(r: Int): Seq[Req] = {
    val rnd = new SplittableRandom(seed * 1000003L + r)
    def present() = clean(rnd.nextInt(clean.length))
    def absent() = { val b = new Array[Byte](64); rnd.nextBytes(b); b }
    val shuffler = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
    val (k, fields) = present()
    val ps = Seq.fill(12)(present()._1)
    shuffler.shuffle(Seq(
      Get(k, Some(fields)),
      Get(absent(), None),
      MultiGet(shuffler.shuffle(ps ++ Seq.fill(4)(absent())), ps.map(hex).toSet),
      Scan(present()._1.take(2))))
  }

  private def call(ctx: Ctx, q: Req): DataFrame = q match {
    case Get(k, _) => CellScan.get(ctx.spark, serving.getPath, k)
    case MultiGet(ks, _) => CellScan.multiGet(ctx.spark, serving.getPath, ks)
    case Scan(p) => CellScan.scanPrefix(ctx.spark, serving.getPath, p)
  }

  private def be4(b: Array[Byte]): Int = java.nio.ByteBuffer.wrap(b).getInt

  /** Each get returns exactly the generator's 9 cells (0 for an absent
    * key); multi-get and scan return the predicted key sets, 9 cells
    * per key. */
  private def verify(q: Req, rows: Array[Row], report: Report): Unit = {
    def rowKeys = rows.map(r => hex(r.getAs[Array[Byte]]("row"))).toSet
    q match {
      case Get(k, Some(fields)) =>
        val got = rows.map(r => (hex(r.getAs[Array[Byte]]("row")), new String(r.getAs[Array[Byte]]("family"), UTF_8),
          be4(r.getAs[Array[Byte]]("qualifier")), new String(r.getAs[Array[Byte]]("value"), UTF_8))).toSet
        val want = fields.zipWithIndex.map { case (v, i) => (hex(k), "c", i, v) }.toSet
        report.check("read probe: get returns the row's 9 cells", rows.length == 9 && got == want,
          s"${rows.length} cells")
      case Get(_, None) =>
        report.check("read probe: get of an absent key returns 0 cells", rows.isEmpty, s"${rows.length} cells")
      case MultiGet(_, present) =>
        report.check("read probe: multi-get returns the present keys' cells",
          rowKeys == present && rows.length == 9 * present.size, s"${rows.length} cells")
      case Scan(p) =>
        val lo = keys.indexWhere(k => RegionSort.unsignedBytes.compare(k.take(2), p) >= 0)
        val want = keys.drop(lo).takeWhile(_.take(2).sameElements(p)).map(hex).toSet
        report.check("read probe: prefix scan returns the predicted keys",
          rowKeys == want && rows.length == 9 * want.size, s"${rows.length} cells, ${want.size} keys")
    }
  }

  def setup(ctx: Ctx): Unit = {
    val root = new File(ctx.work, "reads_root")
    serving = new File(ctx.work, "reads_serving")
    inputs.zipWithIndex.foreach { case (f, k) =>
      val r = BulkLoad.csv(ctx.spark, f.getPath, cfg)
      val dest = new File(root, f"batch_$k%05d").getPath
      r.sink.write(r.cells, dest)
      r.sink.postCommit(dest)
      CellCompaction.compactMinor(ctx.spark, root.getPath, serving.getPath, cfg)
    }
    Harness.deleteTree(root)
    round(-1).foreach(q => call(ctx, q).collect())
  }

  private final case class Sample(kind: String, planS: Double, execS: Double, cells: Int, keptFiles: Long) {
    def secs: Double = planS + execS
  }

  private def one(ctx: Ctx, q: Req, report: Report): Sample = {
    val t = ctx.tracer
    val (df, planS) = Harness.seconds(t.span("sources.CellScan.plan")(call(ctx, q)))
    val kept = CellScan.lastKeptFiles.get()
    val (rows, execS) = Harness.seconds(t.span("sources.CellScan.exec")(df.collect()))
    verify(q, rows, report)
    Sample(q.kind, planS, execS, rows.length, kept)
  }

  /** Traced rounds for `seconds` (at least 5); the read layers' metrics
    * go to `report.layer`, the per-kind latencies to its details. */
  def traced(ctx: Ctx, seconds: Double, report: Report): Unit = {
    val rounds = Seq.newBuilder[(Sample, Map[String, Long])]
    var footer = 0L
    Harness.closedLoop(seconds, 5) { i =>
      report.attempted += 4
      round(i).foreach { q =>
        val f0 = CellScan.footerOpens.get()
        val (s, _, d, _) = ctx.traced(one(ctx, q, report))
        footer += CellScan.footerOpens.get() - f0
        rounds += ((s, d))
      }
    }
    val ts = rounds.result()
    Seq("get", "multiget", "scan").foreach(k =>
      report.timing(s"read_probe_$k", "ms", 1e3, ts.map(_._1).filter(_.kind == k).map(_.secs)))
    val L = report.layer
    val n = ts.size.toDouble
    L("GraftSession.tasks_per_read") = ts.map(_._2("tasks")).sum / n
    L("sources.CellScan.plan_ms") = Stats.median(ts.map(_._1.planS)) * 1e3
    L("sources.CellScan.exec_ms") = Stats.median(ts.map(_._1.execS)) * 1e3
    val gets = ts.map(_._1).filter(_.kind == "get")
    L("sources.CellScan.files_per_get") = gets.map(_.keptFiles).sum.toDouble / gets.size
    L("sources.CellScan.footer_opens") = footer / n
    L("sources.CellScan.rows_read_per_row_returned") =
      ts.map(_._2("records_read")).sum.toDouble / math.max(1, ts.map(_._1.cells).sum)
    L("sources.serving_files_per_region") =
      Harness.partFiles(serving).size.toDouble / BulkLoad.Config().regions
    L("sources.CellManifest.read_ms") = Stats.median((0 until 20).map { _ =>
      Harness.seconds(CellManifest.read(ctx.spark, serving.getPath))._2 * 1e3
    })
  }
}
