package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.functions.keys
import graft.operators.CellOps
import graft.plans.OrderedExplodeExec
import graft.sources.{CellCompaction, Delimited}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SortExec}
import org.apache.spark.sql.functions.{col, hex}

/** The load path sorts source rows and emits cells in KeyValue order from
  * one ordered explode; compactions sort cells to the same order, newest
  * version first. Every input here is generated. */
class OrderedExplodeSpec extends SparkSuite {
  import spark.implicits._

  private type Cell = (Array[Byte], Array[Byte], Array[Byte], Array[Byte], Long)

  private def tmpDir(): String = Files.createTempDirectory("graft-oe").toString

  /** `rows` 9-field CSV lines with unique key fields; every 7th has an
    * empty (null) value field and every 50th a quoted comma. */
  private def uniqueCsv(rows: Int): String = {
    val dir = tmpDir()
    val rnd = new scala.util.Random(11)
    val lines = (0 until rows).map { i =>
      val name = if (i % 50 == 0) "\"Utility, Inc\"" else s"u${rnd.nextInt(1000)}"
      val rate = if (i % 7 == 0) "" else f"${rnd.nextDouble()}%.3f"
      Seq(s"$i", s"${rnd.nextInt(100000)}", name, "AL", "Bundled", "Investor Owned",
        rate, "0.060", "0.114").mkString(",")
    }
    Files.write(new File(dir, "part-000.csv").toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    dir
  }

  /** Wide rows `c0..c8` whose key fields repeat (runs of up to 3 rows per
    * key), with null value fields and a few un-keyable rows. */
  private lazy val duplicated: DataFrame = {
    val rnd = new scala.util.Random(5)
    def v(i: Int, c: Int): String = if (rnd.nextInt(5) == 0) null else s"v${i}_$c"
    (0 until 450).map { i =>
      val k = i % 160
      val c0 = if (i % 97 == 0) null else s"k$k"
      (c0, s"${k * 7}", "AL", "x", v(i, 4), v(i, 5), v(i, 6), v(i, 7), v(i, 8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
  }

  private def key(c: Cell) = (c._1, c._2, c._3, c._5)

  private def sameCoordinate(a: Cell, b: Cell): Boolean =
    java.util.Arrays.equals(a._1, b._1) && java.util.Arrays.equals(a._2, b._2) &&
      java.util.Arrays.equals(a._3, b._3)

  private def inKeyValueOrder(cells: Seq[Cell]): Boolean =
    cells.sliding(2).forall {
      case Seq(a, b) => CellOps.keyValueOrdering.lteq(key(a), key(b))
      case _ => true
    }

  /** Each part file's cells in file order (a small file is one split). */
  private def partFiles(dir: String): Seq[(String, Seq[Cell])] =
    new File(dir).listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq.map { f =>
        f.getName -> spark.read.parquet(f.getPath)
          .select("row", "family", "qualifier", "value", "ts").as[Cell].collect().toSeq
      }

  /** The distinct parquet schemas in `dir`'s part-file footers. */
  private def footerSchemas(dir: String): Set[String] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
      try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
    }.toSet

  private def written(cells: DataFrame): Seq[(String, Seq[Cell])] = {
    val dir = tmpDir()
    SortedParquetCellSink.writeData(cells, dir)
    partFiles(dir)
  }

  private def multiset(df: DataFrame): Seq[(String, String, String, String, Long)] =
    df.select(hex(col("row")), hex(col("family")), hex(col("qualifier")), hex(col("value")), col("ts"))
      .as[(String, String, String, String, Long)].collect().sorted.toSeq

  private val fixed = BulkLoad.withFixedSplits(BulkLoad.Config())
  private val valueCols = (0 until 9).map(i => col(s"c$i"))
  private val md5Key = keys.md5CompositeKey((0 until 4).map(i => col(s"c$i")))

  test("KeyValue order: compacted loads at three timestamps keep each coordinate newest first") {
    val in = uniqueCsv(300)
    val root = tmpDir()
    Seq(100L, 200L, 300L).zipWithIndex.foreach { case (ts, b) =>
      val r = BulkLoad.csv(spark, in, BulkLoad.Config(loadTs = ts))
      r.sink.write(r.cells, f"$root/batch_$b%05d")
    }
    val dest = tmpDir() + "/serving"
    assert(CellCompaction.compactMinor(spark, root, dest, fixed) === 3)
    CellCompaction.compactMajor(spark, dest, fixed)
    var pairs = 0
    partFiles(dest).foreach { case (name, cells) =>
      assert(inKeyValueOrder(cells), name)
      cells.sliding(2).foreach {
        case Seq(a, b) if sameCoordinate(a, b) =>
          pairs += 1
          assert(a._5 > b._5, s"$name: ts ${a._5} before ${b._5} at one coordinate")
        case _ =>
      }
    }
    // 3 versions per coordinate: 2 adjacent same-coordinate pairs each
    assert(pairs === 2 * BulkLoad.csv(spark, in).cells.count())
  }

  test("salted compaction: every entry point routes persisted keys by their salt digit, never re-salting") {
    val cfg = BulkLoad.Config(saltBuckets = Some(4))
    val in = uniqueCsv(200)
    def load(dir: String): Unit = {
      val r = BulkLoad.csv(spark, in, cfg)
      r.sink.write(r.cells, dir)
    }
    val loaded = tmpDir() + "/batch_00000"
    load(loaded)
    val cellsIn = partFiles(loaded).flatMap(_._2)
    val keysIn = cellsIn.map(_._1.toSeq).toSet
    assert(keysIn.size === 200 && keysIn.forall(_.length == 65))
    // 64-byte md5 key + 1 salt digit; one salt region per file, each file
    // inside its own region, key set and cell count unchanged
    def check(dir: String, what: String): Unit = {
      val files = partFiles(dir)
      val cells = files.flatMap(_._2)
      assert(cells.forall(_._1.length == 65), s"$what: re-salted keys")
      assert(cells.size === cellsIn.size, what)
      assert(cells.map(_._1.toSeq).toSet === keysIn, what)
      val digits = files.map { case (name, fc) =>
        val d = fc.map(_._1.head).distinct
        assert(d.size === 1 && d.head >= '0' && d.head <= '3', s"$what: $name spans regions $d")
        d.head
      }
      assert(digits.distinct.size === files.size, s"$what: two files share a region")
    }
    val root = tmpDir()
    load(s"$root/batch_00000")
    val dest = s"$root/serving"
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 1)
    check(dest, "compactMinor")
    CellCompaction.compactMajor(spark, dest, cfg)
    check(dest, "compactMajor")
  }

  test("unique keys: the default csv load writes part files byte-identical to the cell-sort path") {
    val in = uniqueCsv(3000)
    val r = BulkLoad.csv(spark, in)
    val cellSort = BulkLoad.sorted(CellOps.explodeIndexed(
      Delimited.strictCsv(spark, in, 9), md5Key, "c", valueCols), fixed)
    val (a, b) = (tmpDir(), tmpDir())
    SortedParquetCellSink.writeData(r.cells, a)
    SortedParquetCellSink.writeData(cellSort, b)
    def bytes(dir: String): Seq[(String, Seq[Byte])] =
      new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
        .map(f => f.getName.take(10) -> Files.readAllBytes(f.toPath).toSeq)
    val (rowSorted, cellSorted) = (bytes(a), bytes(b))
    assert(rowSorted.length === 10)
    assert(rowSorted.map(_._1) === cellSorted.map(_._1))
    rowSorted.zip(cellSorted).foreach { case ((n, x), (_, y)) => assert(x === y, n) }
  }

  test("duplicate keys and null fields: the cell-sort path's cells, every file in KeyValue order") {
    val r = BulkLoad.fromPositional(duplicated, BulkLoad.emptyQuarantine(spark), BulkLoad.Config())
    val keyable = duplicated.where(col("c0").isNotNull)
    val cellSort = BulkLoad.sorted(CellOps.explodeIndexed(keyable, md5Key, "c", valueCols), fixed)
    assert(multiset(r.cells) === multiset(cellSort))
    val files = written(r.cells)
    files.foreach { case (name, cells) => assert(inKeyValueOrder(cells), name) }
    assert(files.map(_._2.size).sum.toLong === cellSort.count())
  }

  test("equal-key runs spill: the same cells in KeyValue order with a one-row run buffer") {
    val expected = multiset(BulkLoad.fromPositional(duplicated, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config()).cells)
    withSQLConf("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "2") {
      val r = BulkLoad.fromPositional(duplicated, BulkLoad.emptyQuarantine(spark), BulkLoad.Config())
      assert(multiset(r.cells) === expected)
      written(r.cells).foreach { case (name, cells) => assert(inKeyValueOrder(cells), name) }
    }
  }

  test("JSONL named qualifiers out of byte order: the cell-sort path's cells, every file in KeyValue order") {
    val dir = tmpDir() + "/in.jsonl"
    val names = Seq("id", "zeta", "Beta", "é", "alpha", "Zulu")
    val lines = (0 until 240).map { i =>
      val id = if (i % 53 == 0) "null" else s""""${i % 90}""""
      val fields = names.tail.zipWithIndex.map { case (n, c) =>
        val v = if ((i + c) % 6 == 0) "null" else s""""$n-$i""""
        s""""$n":$v"""
      }
      (s""""id":$id""" +: fields).mkString("{", ",", "}")
    }
    lines.toDF("value").coalesce(1).write.text(dir)
    val ddl = names.map(n => s"`$n` STRING").mkString(", ")
    val r = BulkLoad.jsonl(spark, dir, ddl)
    val kept = graft.sources.JsonLines.read(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(ddl))._1.where(col("id").isNotNull)
    val named = BulkLoad.Config(qualifiers = BulkLoad.NameQualifiers)
    val cellSort = BulkLoad.sorted(CellOps.explodeNamed(kept, keys.reversedKey(col("id")), "c",
      names), named)
    assert(multiset(r.cells) === multiset(cellSort))
    // the part files declare the cell-sort path's schema, nullability included
    val (a, b) = (tmpDir(), tmpDir())
    SortedParquetCellSink.writeData(r.cells, a)
    SortedParquetCellSink.writeData(cellSort, b)
    assert(footerSchemas(a) === footerSchemas(b))
    val files = partFiles(a)
    files.foreach { case (name, cells) => assert(inKeyValueOrder(cells), name) }
    // the byte order differs from the declared one, so it was really exercised
    val order = files.flatMap(_._2).groupBy(c => new String(c._1, UTF_8)).values
      .map(_.map(c => new String(c._3, UTF_8)).distinct).maxBy(_.size)
    assert(order === Seq("Beta", "Zulu", "alpha", "id", "zeta", "é"))
  }

  test("plan: one row-only SortExec below the ordered explode, no Generate") {
    val in = uniqueCsv(200)
    val cells = BulkLoad.csv(spark, in).cells
    val all = planNodes(cells.queryExecution.executedPlan)
    val sorts = all.collect { case s: SortExec => s }
    assert(sorts.size === 1, all.mkString("\n"))
    assert(sorts.head.sortOrder.map(_.child.references.map(_.name).toSeq) === Seq(Seq("row")))
    val explode = all.collect { case e: OrderedExplodeExec => e }
    assert(explode.size === 1)
    assert(planNodes(explode.head.child).contains(sorts.head), "the row sort feeds the explode")
    assert(!all.exists(_.isInstanceOf[GenerateExec]), all.mkString("\n"))
  }
}
