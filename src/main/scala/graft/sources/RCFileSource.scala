package graft.sources

import org.apache.hadoop.hive.ql.io.{RCFile, RCFileInputFormat}
import org.apache.hadoop.hive.serde2.columnar.{BytesRefArrayWritable, BytesRefWritable}
import org.apache.hadoop.io.LongWritable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Hive RCFile source — reference S4 path (BulkImporterFromRC.java:94-95).
  *
  * OSS Spark has no DataFrame reader for RCFile without a Hive catalog
  * table, so this source shims the classic `RCFileInputFormat` through
  * `sparkContext.hadoopFile` and reconstructs rows as UTF-8 strings —
  * exactly the reference's `BytesRefArrayWritable` row-reconstruction
  * (BulkImporterFromRC.java:50-64), minus its field-20 bug (SURVEY.md
  * §1.3: the guard requires 9 columns yet the key reads index 20; we
  * normalize to in-range key fields). For new data, ORC/Parquet are the
  * supported columnar inputs (vectorized, codegen'd); RCFile support
  * exists for legacy-data parity.
  */
object RCFileSource {

  /** Read an RCFile of `arity` string columns into the engine's positional
    * schema (`c0..c{arity-1}`), returned as (kept, rejected). Records with
    * a different column count fail the reference's arity guard
    * (`…RC.java:53`) and are quarantined, not dropped: each rejected
    * record is the JSON array of its columns in the single `value`
    * column every quarantine frame carries. */
  def read(spark: SparkSession, path: String, arity: Int): (DataFrame, DataFrame) = {
    val records = spark.sparkContext
      .hadoopFile(path,
        classOf[RCFileInputFormat[LongWritable, BytesRefArrayWritable]],
        classOf[LongWritable], classOf[BytesRefArrayWritable])
      .map { case (_, v) =>
        // eager copy: Hadoop reuses the Writable between records. Empty
        // bytes decode to "" (not null) — the same record through the
        // text drivers yields an empty-string cell, and nulling key
        // fields here would silently void the row key
        (0 until v.size()).map { i =>
          val ref = v.get(i)
          new String(ref.getData, ref.getStart, ref.getLength, "UTF-8")
        }
      }
    val kept = spark.createDataFrame(
      records.filter(_.length == arity).map(Row.fromSeq),
      Delimited.positionalSchema(arity))
    val rejected = spark.createDataFrame(
        records.filter(_.length != arity).map(f => Row(f)),
        StructType(Seq(StructField("f", ArrayType(StringType)))))
      .select(to_json(col("f")).as("value"))
    (kept, rejected)
  }

  /** Write a DataFrame of STRING columns as an RCFile directory — the
    * fixture/migration complement of [[read]] (the reference only ever
    * consumes RCFiles someone else's Hive job wrote;
    * BulkImporterFromRC.java:94-95). Distributed: each task streams its
    * partition through an `RCFile.Writer` into its own part file, nothing
    * is collected to the driver. (`RCFileOutputFormat` is unusable outside
    * a real MR task runner: its record writer resolves the MR task-side
    * work dir, which doubles as the commit path — so this writes direct,
    * one deterministic file per partition; a retried task rewrites the
    * same bytes. Don't enable speculative execution around it.) Null
    * cells write as empty byte sequences — the same representation Hive's
    * columnar serde gives an empty string, matching [[read]]'s
    * empty-bytes→"" decode. */
  def write(df: DataFrame, path: String): Unit = {
    val arity = df.columns.length
    val sc = df.sparkSession.sparkContext
    // Hadoop Configuration is not java-serializable; ship it through its
    // own Writable image (the mechanism MR itself uses)
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(baos)
      sc.hadoopConfiguration.write(dos)
      dos.flush(); baos.toByteArray
    }
    val bc = sc.broadcast(confBytes)
    df.rdd.foreachPartition { rows =>
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bc.value)))
      conf.setInt(RCFile.COLUMN_NUMBER_CONF_STR, arity)
      val part = org.apache.spark.TaskContext.getPartitionId()
      val file = new org.apache.hadoop.fs.Path(path, f"part-$part%05d.rc")
      val w = new RCFile.Writer(file.getFileSystem(conf), conf, file)
      try rows.foreach { row =>
        val braw = new BytesRefArrayWritable(arity)
        (0 until arity).foreach { i =>
          val v = if (row.isNullAt(i)) "" else row.getString(i)
          braw.set(i, new BytesRefWritable(v.getBytes("UTF-8")))
        }
        w.append(braw)
      } finally w.close()
    }
  }
}
