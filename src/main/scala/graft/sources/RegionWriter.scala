package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties.WriterVersion
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StructType}

/** The one writer of cell files — the engine's `HFileOutputFormat2`: one
  * writer per region appends that region's sorted cells to one file, and
  * the file's own statistics (row count, first and last key) come back to
  * the driver with the task result, the way an HFile trailer records its
  * key range so `doBulkLoad` never scans the file
  * (BulkImporterFromCSVText.java:108-111). Every cell write goes through
  * [[write]]: batch loads and streaming micro-batches (via
  * [[graft.SortedParquetCellSink]]), minor and major compaction, the
  * `graft-cells` source and the oracle fixtures.
  *
  * The cells plan runs as ONE Spark job inside one SQL execution; task i
  * writes partition i — region i, by the exchange's contract — with
  * parquet-mr. What the generic `FileFormatWriter` path cost, and what
  * this writer does instead:
  *   - the Hadoop configuration is broadcast once per write instead of
  *     travelling in every task;
  *   - `row` is written without a dictionary, `DELTA_BYTE_ARRAY`-encoded
  *     on `PARQUET_2_0` pages: sorted keys share long prefixes, the analog
  *     of HBase's prefix data-block encoding. A dictionary hashed every
  *     cell's key and overflowed to PLAIN past ~15k rows per region;
  *     consecutive cells of one row share one `Binary`;
  *   - `value`, which mixes every column's values, has no dictionary
  *     either; `family`, `qualifier` and `ts` keep theirs;
  *   - the manifest entries come from each writer's in-memory footer, so
  *     no file is re-opened to index what was just written.
  * The schema is Spark's own conversion of the frame's schema, with
  * Spark's row-metadata footer key, so readers see the frame's columns
  * and nullability.
  *
  * Commit: each task writes under an attempt-unique hidden temp name in
  * the target directory; a task that throws deletes its temp. After the
  * job the driver renames every temp to `part-<partition>-<uuid>.parquet`
  * (a failed rename aborts loudly); a failed job sweeps the write's temps,
  * so it leaves no part file and no temp. Empty partitions write nothing;
  * an all-empty input writes one empty file, so the directory still reads
  * with the cell schema. */
object RegionWriter {

  /** The writer's report of one landed file, keyed by its part-file name. */
  type Written = (String, CellManifest.Entry)

  /** What a task hands back: its temp file's name, length, row count and
    * unsigned row-key bounds. */
  private final case class TaskFile(tmp: String, length: Long, rows: Long,
                                    bounds: Option[(Array[Byte], Array[Byte])])

  /** The file layout every task of one write shares, as plain strings. */
  private final case class Layout(parquetSchema: String, sparkSchema: String, codec: String)

  /** Write each partition of `cells` as one parquet file directly under
    * `dir` (created when absent; files already there are kept) and return
    * the new files' manifest entries, in partition order. */
  def write(cells: DataFrame, dir: String): Seq[Written] = {
    val spark = cells.sparkSession
    val sqlConf = spark.sessionState.conf
    val hc = spark.sessionState.newHadoopConf()
    val out = new Path(dir)
    val fs = out.getFileSystem(hc)
    fs.mkdirs(out)
    val stamp = UUID.randomUUID().toString
    def sweepTemps(): Unit =
      Option(fs.globStatus(new Path(out, s"${tempPrefix(stamp)}*"))).toSeq.flatten
        .foreach(s => fs.delete(s.getPath, false))
    val landed = try {
      val (layout, perPartition) = Bridge.inExecution(cells, "graft region write") { (schema, rdd) =>
        require(schema.forall(f => f.dataType == BinaryType || f.dataType == LongType),
          s"cell files hold binary and bigint columns only, got ${schema.simpleString}")
        val layout = Layout(new SparkToParquetSchemaConverter(sqlConf).convert(schema).toString,
          schema.json, sqlConf.parquetCompressionCodec)
        (layout, spark.sparkContext.runJob(rdd,
          writeTask(out.toString, stamp, Bridge.broadcastConf(spark.sparkContext, hc), layout) _))
      }
      val files = perPartition.toSeq.zipWithIndex.collect { case (Some(f), i) => (f, i) }
      if (files.nonEmpty) files
      else Seq((writeFile(Iterator.empty, new Path(out, s"${tempPrefix(stamp)}driver.parquet"),
        hc, layout), 0))
    } catch { case e: Throwable => sweepTemps(); throw e }
    try landed.map { case (f, i) =>
      val name = f"part-$i%05d-$stamp.parquet"
      val (from, to) = (new Path(out, f.tmp), new Path(out, name))
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"region write install failed: rename $from -> $to")
      name -> CellManifest.Entry(f.length, f.rows, f.bounds)
    } catch { case e: Throwable => sweepTemps(); throw e }
  }

  /** Hidden (leading `_`) and not `part-*`: no reader lists a temp. */
  private def tempPrefix(stamp: String): String = s"_tmp-$stamp-"

  /** Task body: write the partition, when it has rows, to a temp named by
    * the task attempt. Takes only serializable values, never the session. */
  private def writeTask(dir: String, stamp: String, conf: () => Configuration, layout: Layout)
                       (ctx: TaskContext, rows: Iterator[InternalRow]): Option[TaskFile] =
    if (!rows.hasNext) None
    else Some(writeFile(rows, new Path(dir, s"${tempPrefix(stamp)}${ctx.taskAttemptId()}.parquet"),
      conf(), layout))

  /** Write `rows` to `file` and read its statistics from the writer's own
    * footer. On any failure — a row that throws, a killed task — the
    * partial file is deleted before the error propagates. */
  private def writeFile(rows: Iterator[InternalRow], file: Path, conf: Configuration,
                        layout: Layout): TaskFile = {
    val writer = new Builder(HadoopOutputFile.fromPath(file, conf), new CellWriteSupport(layout))
      .withConf(conf)
      .withWriterVersion(WriterVersion.PARQUET_2_0)
      .withCompressionCodec(CompressionCodecName.fromConf(
        if (layout.codec.equalsIgnoreCase("none")) "uncompressed" else layout.codec))
      .withDictionaryEncoding("row", false)
      .withDictionaryEncoding("value", false)
      .build()
    try {
      rows.foreach(writer.write)
      writer.close()
      // a task killed after its last row (its job already failed) must
      // not leave a finished temp behind the driver's sweep
      if (Option(TaskContext.get()).exists(_.isInterrupted()))
        throw new org.apache.spark.TaskKilledException("region write task killed")
    } catch { case e: Throwable =>
      scala.util.Try(writer.close())
      file.getFileSystem(conf).delete(file, false)
      throw e
    }
    val (n, bounds) = CellManifest.stats(writer.getFooter)
    TaskFile(file.getName, file.getFileSystem(conf).getFileStatus(file).getLen, n, bounds)
  }

  private final class Builder(file: OutputFile, support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = support
    override protected def getWriteSupport(
        conf: org.apache.parquet.conf.ParquetConfiguration): WriteSupport[InternalRow] = support
  }

  /** Rows of binary/bigint columns to parquet records. The leading column
    * is the row key: consecutive cells with an equal key reuse one
    * `Binary`. */
  private final class CellWriteSupport(layout: Layout) extends WriteSupport[InternalRow] {
    private val sparkSchema = DataType.fromJson(layout.sparkSchema).asInstanceOf[StructType]
    private val names = sparkSchema.fieldNames
    private val isLong = sparkSchema.fields.map(_.dataType == LongType)
    private var out: RecordConsumer = _
    private var lastKey: Array[Byte] = _
    private var lastKeyBinary: Binary = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(MessageTypeParser.parseMessageType(layout.parquetSchema),
        Map(ParquetReadSupport.SPARK_METADATA_KEY -> layout.sparkSchema,
          "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT).asJava)

    override def prepareForWrite(consumer: RecordConsumer): Unit = out = consumer

    override def write(row: InternalRow): Unit = {
      out.startMessage()
      var i = 0
      while (i < names.length) {
        if (!row.isNullAt(i)) {
          out.startField(names(i), i)
          if (isLong(i)) out.addLong(row.getLong(i))
          else if (i == 0) out.addBinary(key(row.getBinary(0)))
          else out.addBinary(Binary.fromConstantByteArray(row.getBinary(i)))
          out.endField(names(i), i)
        }
        i += 1
      }
      out.endMessage()
    }

    private def key(bytes: Array[Byte]): Binary = {
      if (lastKey == null || !java.util.Arrays.equals(bytes, lastKey)) {
        lastKey = bytes
        lastKeyBinary = Binary.fromConstantByteArray(bytes)
      }
      lastKeyBinary
    }
  }
}
