package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.operators.CellOps
import graft.sources.{CellManifest, RegionWriter}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hex, lit, udf}

/** The one cell writer ([[RegionWriter]], behind [[SortedParquetCellSink]]
  * and compaction) on generated data: the same cells, file by file, as
  * Spark's own parquet writer; `row` prefix-encoded; the manifest from the
  * writer's statistics; no trace of a failed write. */
class RegionWriterSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-rw").toString

  /** `rows` 9-field CSV lines with unique key fields; every 7th has an
    * empty value field, every 50th a quoted comma and every 11th only 6
    * fields (a short row: its missing fields read as null). */
  private def csv(rows: Int): String = {
    val dir = tmpDir()
    val rnd = new scala.util.Random(3)
    val lines = (0 until rows).map { i =>
      val name = if (i % 50 == 0) "\"Utility, Inc\"" else s"u${rnd.nextInt(1000)}"
      val rate = if (i % 7 == 0) "" else f"${rnd.nextDouble()}%.3f"
      val fields = Seq(s"$i", s"${rnd.nextInt(100000)}", name, "AL", "Bundled",
        "Investor Owned", rate, "0.060", "0.114")
      (if (i % 11 == 0) fields.take(6) else fields).mkString(",")
    }
    Files.write(new File(dir, "part-000.csv").toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    dir
  }

  private def partFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  /** Each non-empty part file's cells as hex strings, in file order, keyed
    * by the file's region prefix (`part-NNNNN`). */
  private def cellView(dir: String): Seq[(String, Seq[String])] =
    partFiles(dir).map { f =>
      f.getName.take(10) -> spark.read.parquet(f.getPath)
        .select(hex(col("row")), hex(col("family")), hex(col("qualifier")), hex(col("value")), col("ts"))
        .collect().map(_.toString).toSeq
    }.filter(_._2.nonEmpty)

  private def footer(f: File) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
    try r.getFooter finally r.close()
  }

  private val sparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** `cells` through the sink and through Spark's parquet writer: the same
    * cells in the same order per region file, and the same Spark schema
    * (columns and nullability) in the footers. */
  private def assertSameCells(cells: DataFrame): Unit = {
    val (ours, theirs) = (tmpDir() + "/ours", tmpDir() + "/theirs")
    SortedParquetCellSink.write(cells, ours)
    cells.write.parquet(theirs)
    val (a, b) = (cellView(ours), cellView(theirs))
    assert(a.nonEmpty && a.flatMap(_._2).nonEmpty)
    assert(a.map(_._1) === b.map(_._1))
    a.zip(b).foreach { case ((n, x), (_, y)) => assert(x === y, n) }
    def schemas(dir: String): Set[String] =
      partFiles(dir).map(f => footer(f).getFileMetaData.getKeyValueMetaData.get(sparkRowMetadata)).toSet
    assert(schemas(ours) === schemas(theirs))
  }

  private val fixed = BulkLoad.withFixedSplits(BulkLoad.Config())

  test("cell view equals Spark's parquet writer: default CSV load (short rows pad null values)") {
    assertSameCells(BulkLoad.csv(spark, csv(3000)).cells)
  }

  test("cell view equals Spark's parquet writer: duplicate-key runs and null values") {
    val rnd = new scala.util.Random(5)
    def v(i: Int, c: Int): String = if (rnd.nextInt(5) == 0) null else s"v${i}_$c"
    val wide = (0 until 900).map { i =>
      val k = i % 300
      (s"k$k", s"${k * 7}", "AL", "x", v(i, 4), v(i, 5), v(i, 6), v(i, 7), v(i, 8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    assertSameCells(BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), BulkLoad.Config()).cells)
  }

  test("cell view equals Spark's parquet writer: salted config") {
    assertSameCells(BulkLoad.csv(spark, csv(2000), BulkLoad.Config(saltBuckets = Some(6))).cells)
  }

  test("cell view equals Spark's parquet writer: JSONL name qualifiers") {
    val dir = tmpDir() + "/in.jsonl"
    val rnd = new scala.util.Random(9)
    (0 until 2000).map(i => (rnd.alphanumeric.take(10).mkString, s"v$i",
      if (i % 5 == 0) null else s"${rnd.nextInt(1000)}"))
      .toDF("id", "zeta", "alpha").coalesce(1).write.json(dir)
    assertSameCells(BulkLoad.jsonl(spark, dir, "id STRING, zeta STRING, alpha STRING").cells)
  }

  test("cell view equals Spark's parquet writer: a compacted fileset") {
    val root = tmpDir()
    val batches = (0 until 3).map { b =>
      val wide = (0 until 300).map { i =>
        val r = (0 until 9).map(c => s"b${b}_$i" + (if (c > 3) s"_$c" else ""))
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      val dir = f"$root/batch_$b%05d"
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), fixed).cells, dir)
      dir
    }
    // the frame a compaction rewrites: every batch, region-sorted again
    assertSameCells(BulkLoad.sorted(
      spark.read.schema(CellOps.cellSchema).parquet(batches: _*), fixed))
  }

  test("a 24k-row region: row chunk DELTA_BYTE_ARRAY with no PLAIN fallback, no larger than Spark's file") {
    val wide = (0 until 24000).map { i =>
      val r = (0 until 9).map(c => s"big${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*).repartition(4)
    val cells = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(regions = 1)).cells
    val (ours, theirs) = (tmpDir() + "/ours", tmpDir() + "/theirs")
    SortedParquetCellSink.writeData(cells, ours)
    cells.write.option("parquet.enable.dictionary#value", "false").parquet(theirs)
    assert(partFiles(ours).length === 1)
    val file = partFiles(ours).head
    val rowChunks = footer(file).getBlocks.asScala.flatMap(_.getColumns.asScala)
      .filter(_.getPath.toDotString == "row")
    assert(rowChunks.nonEmpty)
    rowChunks.foreach { c =>
      val stats = c.getEncodingStats
      assert(!stats.hasDictionaryPages, c)
      assert(stats.getDataEncodings.asScala.toSet === Set(Encoding.DELTA_BYTE_ARRAY), c)
    }
    assert(file.length <= partFiles(theirs).map(_.length).sum,
      s"${file.length} B against ${partFiles(theirs).map(_.length).sum} B")
    assert(spark.read.parquet(ours).count() === 9L * 24000)
  }

  test("manifest entries are the files' footer stats, and a sink write opens no footer") {
    val out = tmpDir() + "/cells"
    val cells = BulkLoad.csv(spark, csv(2000)).cells
    val before = CellManifest.statReads.get()
    SortedParquetCellSink.write(cells, out)
    assert(CellManifest.statReads.get() === before)
    val m = CellManifest.read(spark, out).get
    val files = partFiles(out)
    assert(files.length === 10 && m.keySet === files.map(_.getName).toSet)
    files.foreach { f =>
      val e = m(f.getName)
      val (rows, bounds) = CellManifest.footerStats(f.getPath, new Configuration())
      assert(e.length === f.length)
      assert(e.rows === rows)
      assert(e.bounds.map { case (lo, hi) => (lo.toSeq, hi.toSeq) } ===
        bounds.map { case (lo, hi) => (lo.toSeq, hi.toSeq) }, f.getName)
    }
    assert(CellManifest.totalRows(spark, out) === Some(spark.read.parquet(out).count()))
  }

  test("a task that throws leaves no part file and no temp") {
    val boom = udf { (id: Long) =>
      if (id == 1990) throw new IllegalStateException("injected cell failure")
      s"v$id".getBytes(UTF_8)
    }
    // partition 0 (ids 0..9) lands its temp long before partition 1
    // fails on its last row, with its own temp open
    val cells = spark.sparkContext.parallelize(Seq(0L until 10L, 10L until 2000L), 2)
      .flatMap(identity).toDF("id")
      .select(col("id").cast("string").cast("binary").as("row"), lit(Array[Byte](99)).as("family"),
        lit(Array[Byte](0, 0, 0, 0)).as("qualifier"), boom(col("id")).as("value"), lit(0L).as("ts"))
    assert(cells.rdd.getNumPartitions === 2)
    val out = tmpDir() + "/cells"
    intercept[Exception](RegionWriter.write(cells, out))
    assert(new File(out).list().toSeq === Seq.empty)
  }

  test("empty input: one empty file that reads with the cell schema") {
    val none = Seq.empty[(String, String, String, String, String, String, String, String, String)]
      .toDF((0 until 9).map(i => s"c$i"): _*)
    val cells = BulkLoad.fromPositional(none, BulkLoad.emptyQuarantine(spark), BulkLoad.Config()).cells
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(cells, out)
    val back = spark.read.parquet(out)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      CellOps.cellSchema.map(f => (f.name, f.dataType)))
    assert(back.count() === 0)
    assert(partFiles(out).length === 1)
    assert(CellManifest.totalRows(spark, out) === Some(0L))
  }
}
