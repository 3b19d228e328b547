package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{CellOps, RegionSort}
import graft.plans.{RegionAlignedRowExchange, RegionAlignedRowExchangeExec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
import org.apache.spark.sql.functions.{col, hex}
import org.apache.spark.sql.graft.RowShuffle
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** The one region exchange, on generated data (no reference fixture): the
  * single-pass MD5-keyed load (fixed uniform boundaries, Spark SQL's
  * shuffle path, one Spark job per write) and the named-key feeds, whose
  * boundaries are sampled from their keys and whose files are exactly
  * aligned to them. */
class RegionExchangeSpec extends SparkSuite {
  import spark.implicits._

  private val rowsPerFile = 1500
  private val files = 4

  /** 4 seeded CSV files of 9-field rows with unique key fields, a few of
    * them quoted with an embedded comma. */
  private lazy val input: String = {
    val dir = Files.createTempDirectory("graft-xchg").toFile
    val rnd = new scala.util.Random(7)
    (0 until files).foreach { f =>
      val lines = (0 until rowsPerFile).map { j =>
        val i = f * rowsPerFile + j
        val name = if (i % 50 == 0) "\"Utility, Inc\"" else s"u${rnd.nextInt(1000)}"
        Seq(s"$i", s"${rnd.nextInt(100000)}", name, "AL", "Bundled",
          "Investor Owned", f"${rnd.nextDouble()}%.3f", "0.060", "0.114").mkString(",")
      }
      Files.write(new File(dir, f"part-$f%03d.csv").toPath,
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    dir.getPath
  }
  private def inputRows: Long = files.toLong * rowsPerFile

  private def tmpDir(): String = Files.createTempDirectory("graft-xchg-out").toString

  /** Spark jobs started while `body` runs. A marker job in its own group
    * runs afterwards; once the listener has seen it, every earlier event
    * has been delivered (the bus keeps post order). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-xchg-${System.nanoTime()}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      counted.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Per partition: (index, every key inside region `index` of `splits`,
    * keys in unsigned (row, family, qualifier) order, row count). */
  private def alignment(cells: DataFrame, splits: Array[Array[Byte]]): Array[(Int, Boolean, Boolean, Long)] = {
    val part = new RegionSort.RegionPartitioner(splits)
    cells.select("row", "family", "qualifier", "ts").rdd.mapPartitionsWithIndex { (i, it) =>
      var prev: (Array[Byte], Array[Byte], Array[Byte], Long) = null
      var inRegion = true
      var ordered = true
      var n = 0L
      it.foreach { r =>
        val k = (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2), r.getLong(3))
        inRegion &&= part.getPartition(k._1) == i
        if (prev != null) ordered &&= CellOps.keyValueOrdering.lt(prev, k)
        prev = k
        n += 1
      }
      Iterator.single((i, inRegion, ordered, n))
    }.collect()
  }

  /** Named-key feed rows: random 12-character ids, whose reversed keys
    * are far from MD5-uniform, and two value fields. */
  private lazy val namedRows: DataFrame = {
    val rnd = new scala.util.Random(23)
    (0 until 12000).map(i => (rnd.alphanumeric.take(12).mkString, s"v$i", s"${rnd.nextInt(1000)}"))
      .toDF("id", "v", "w").repartition(4)
  }
  private val namedDdl = "id STRING, v STRING, w STRING"
  private lazy val jsonlInput: String = {
    val dir = tmpDir() + "/named.jsonl"
    namedRows.write.json(dir)
    dir
  }
  private lazy val avroInput: String = {
    val dir = tmpDir() + "/named.avro"
    graft.sources.AvroSource.write(namedRows, dir)
    dir
  }

  test("default BulkLoad.csv: fixed MD5 boundaries, one region exchange, no range sampling, one write job") {
    val r = BulkLoad.csv(spark, input, BulkLoad.Config())
    val plan = r.cells.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[RegionAlignedRowExchangeExec]), plan.toString)
    assert(!plan.toString.toLowerCase.contains("rangepartitioning"), plan.toString)
    val out = tmpDir()
    assert(jobsDuring(SortedParquetCellSink.writeData(r.cells, out)) === 1)
    // file i ⊆ region i of the uniform 10-region pre-split
    val perFile = alignedFileCells(out, RegionSort.uniformMd5Splits(10).toSeq)
    assert(perFile.length === 10)
    assert(perFile.sum === 9 * inputRows)
  }

  test("promoted default load is byte-identical to an explicit uniformMd5Splits(10) load") {
    def byPartition(cfg: BulkLoad.Config): Seq[(Int, String, String, String, String, Long)] =
      BulkLoad.csv(spark, input, cfg).cells
        .select(hex(col("row")), hex(col("family")), hex(col("qualifier")),
          hex(col("value")), col("ts"))
        .rdd.mapPartitionsWithIndex { (i, it) =>
          it.map(r => (i, r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        }.collect().toSeq
    val promoted = byPartition(BulkLoad.Config())
    val explicit = byPartition(BulkLoad.Config(splits = Some(RegionSort.uniformMd5Splits(10).toSeq)))
    assert(promoted.size === 9 * inputRows)
    assert(promoted === explicit)
  }

  test("named-key feeds and out-of-range region counts sample their boundaries in the region exchange") {
    assert(BulkLoad.withFixedSplits(BulkLoad.Config(regions = 1)).splits.isEmpty)
    assert(BulkLoad.withFixedSplits(BulkLoad.Config(saltBuckets = Some(4))).splits.isEmpty)
    val fixed = BulkLoad.withFixedSplits(BulkLoad.Config(regions = 7)).splits.get
    assert(fixed.map(_.toSeq) === RegionSort.uniformMd5Splits(7).toSeq.map(_.toSeq))
    val dir = tmpDir() + "/in.jsonl"
    Seq("""{"id":"a1","v":"x"}""", """{"id":"b2","v":"y"}""").toDF("value")
      .coalesce(1).write.text(dir)
    val r = BulkLoad.jsonl(spark, dir, "id STRING, v STRING")
    val plan = r.cells.queryExecution.executedPlan
    assert(plan.collect { case e: RegionAlignedRowExchangeExec => e.fixedSplits }.toSeq === Seq(None),
      plan.toString)
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]), plan.toString)
    assert(!plan.toString.toLowerCase.contains("rangepartitioning"), plan.toString)
    assert(r.cells.count() === 4)
  }

  Seq[(String, () => BulkLoad.Result)](
    "JSONL" -> (() => BulkLoad.jsonl(spark, jsonlInput, namedDdl)),
    "Avro" -> (() => BulkLoad.avro(spark, avroInput))
  ).foreach { case (feed, load) =>
    test(s"$feed load: sampled boundaries, every file inside its region in KeyValue order, balanced regions") {
      load() // stage the input before counting jobs
      var r: BulkLoad.Result = null
      assert(jobsDuring { r = load() } === 0, "building the load's frame starts no job")
      val out = tmpDir()
      var jobs = 0
      val ran = exchangesRun { jobs = jobsDuring(SortedParquetCellSink.writeData(r.cells, out)) }
      // one key sample and the write; the sampled `repartitionByRange`
      // this exchange replaces took 3 (sample, map stage, write)
      assert(jobs === 2)
      assert(ran.length === 1 && ran.head.fixedSplits.isEmpty)
      val splits = ran.head.splits
      assert(splits.length === 9)
      val perFile = alignedFileCells(out, splits)
      assert(perFile.length === 10)
      assert(perFile.sum === 3L * 12000)
      assert(perFile.max <= 2 * perFile.sum / perFile.length, perFile)
    }
  }

  test("regions = 1 and an empty JSONL input each give one partition through the region exchange") {
    val empty = tmpDir() + "/empty.jsonl"
    Files.createDirectories(new File(empty).toPath)
    Files.write(new File(empty, "part-00000.json").toPath, Array.emptyByteArray)
    Seq(
      BulkLoad.jsonl(spark, jsonlInput, namedDdl,
        BulkLoad.Config(qualifiers = BulkLoad.NameQualifiers, regions = 1)) -> 3L * 12000,
      BulkLoad.jsonl(spark, empty, namedDdl) -> 0L
    ).foreach { case (r, cells) =>
      val plan = r.cells.queryExecution.executedPlan
      val exchanges = plan.collect { case e: RegionAlignedRowExchangeExec => e }
      assert(exchanges.length === 1)
      assert(plan.execute().getNumPartitions === 1)
      assert(exchanges.head.splits.isEmpty)
      assert(r.cells.count() === cells)
    }
  }

  test("the exchange keeps every row and exact alignment on non-UnsafeRow input") {
    val splits = RegionSort.uniformMd5Splits(8)
    val part = new RegionSort.RegionPartitioner(splits)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val keys = (0 until 2000).map(i => md5.digest(s"k$i".getBytes(UTF_8)))
    // DataFrame API over local rows
    val schema = StructType(Seq(StructField("row", BinaryType), StructField("i", IntegerType)))
    val local = spark.createDataFrame(keys.zipWithIndex.map { case (k, i) => Row(k, i) }.asJava, schema)
    val viaApi = RegionAlignedRowExchange(local, splits).rdd.mapPartitionsWithIndex { (p, it) =>
      it.map(r => (p, part.getPartition(r.getAs[Array[Byte]](0)), r.getInt(1)))
    }.collect()
    // the shuffle itself over GenericInternalRows (the projection branch)
    val output = Seq(AttributeReference("row", BinaryType)(), AttributeReference("i", IntegerType)())
    val generic = spark.sparkContext.parallelize(
      keys.zipWithIndex.map { case (k, i) => new GenericInternalRow(Array[Any](k, i)): InternalRow }, 3)
    val direct = RowShuffle(generic, output, part.numPartitions,
      row => part.getPartition(row.getBinary(0)), RowShuffle.metrics(spark.sparkContext))
      .mapPartitionsWithIndex { (p, it) =>
        it.map(r => (p, part.getPartition(r.getBinary(0)), r.getInt(1)))
      }.collect()
    Seq(viaApi, direct).foreach { got =>
      assert(got.map(_._3).sorted.toSeq === keys.indices)
      assert(got.forall { case (p, region, _) => p == region })
    }
  }

  test("256 regions (serialized shuffle writer, above the bypass-merge threshold): every row, exact alignment, KV order") {
    val r = BulkLoad.csv(spark, input, BulkLoad.Config(regions = 256))
    assert(r.cells.queryExecution.executedPlan.exists(_.isInstanceOf[RegionAlignedRowExchangeExec]))
    val perPart = alignment(r.cells, RegionSort.uniformMd5Splits(256))
    assert(perPart.length === 256)
    assert(perPart.forall(p => p._2 && p._3), perPart.filterNot(p => p._2 && p._3).toSeq)
    assert(perPart.map(_._4).sum === 9 * inputRows)
  }

  test("written files: value chunks without dictionary encoding, row chunks with min/max") {
    val r = BulkLoad.csv(spark, input, BulkLoad.Config())
    val out = tmpDir()
    SortedParquetCellSink.writeData(r.cells, out)
    val f = new File(out).listFiles().filter(_.getName.startsWith("part-")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
    try {
      val chunks = reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      val value = chunks.filter(_.getPath.toDotString == "value")
      val row = chunks.filter(_.getPath.toDotString == "row")
      assert(value.nonEmpty && row.nonEmpty)
      value.foreach { c =>
        assert(!c.hasDictionaryPage)
        assert(!c.getEncodings.asScala.exists(e => e == Encoding.PLAIN_DICTIONARY || e == Encoding.RLE_DICTIONARY))
      }
      row.foreach(c => assert(c.getStatistics.hasNonNullValue))
    } finally reader.close()
  }
}
