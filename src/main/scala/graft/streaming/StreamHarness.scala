package graft.streaming

import graft.operators.Dedup
import graft.sources.Publish
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** How a finite table runs as a stream — the one owner of the staging
  * step every declared streaming query shares. The reference stages its
  * HFiles in a temp directory on the job's file system and deletes it
  * after the load (`fs.delete`); a streaming driver does the same through
  * [[scratch]]: its staged input, checkpoint and sink live in one per-call
  * directory, the answer is materialized before that directory goes, and
  * it goes whether the query returns or throws. */
private[graft] object StreamHarness {

  /** Run `body` in a fresh `<root>/graft-scratch/<uuid>` directory on the
    * job's file system ([[Publish.root]]), materialize the frame it
    * returns, then delete the directory — also when `body` throws. */
  def scratch(spark: SparkSession)(body: String => DataFrame): DataFrame = {
    val dir = new Path(s"${Publish.root}/graft-scratch", java.util.UUID.randomUUID().toString)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    try Dedup.materialize(body(dir.toString))
    finally fs.delete(dir, true)
  }

  /** Start `writer`, process all available input, stop. The stream runs
    * at `width` shuffle partitions: stateful operators pin their
    * state-store partition count from that conf at the first batch, and
    * each state partition pays per-batch open/flush cost, so the width is
    * sized to the stream's keys, not inherited from the batch session.
    * The session value is restored afterwards. */
  def drain(spark: SparkSession, writer: DataStreamWriter[_], width: Int): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try {
      val q = writer.start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set(key, prev)
  }

  /** Drain `stream` in append mode into the parquet file sink
    * `dir/out` (checkpoint `dir/ckpt`) and return the sink's contents. */
  def appendToFiles(stream: DataFrame, dir: String, width: Int = 8): DataFrame = {
    val spark = stream.sparkSession
    drain(spark, stream.writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", s"$dir/ckpt").option("path", s"$dir/out"), width)
    spark.read.parquet(s"$dir/out")
  }

  /** Shared replay harness for the streaming-maintenance queries — every
    * mergeable-state stream (quantile/HLL sketches, CMS grids, CDC
    * snapshots, IVF lists) is this one shape: stage `source` as `parts`
    * parquet files, stream them one per micro-batch, APPEND
    * `perBatch(batch)` partials to a store, then return `fold(store)`. */
  def replayFold(spark: SparkSession, source: DataFrame, parts: Int)(
      perBatch: DataFrame => DataFrame)(fold: DataFrame => DataFrame): DataFrame =
    scratch(spark) { dir =>
      source.repartition(parts).write.parquet(s"$dir/in")
      val stream = spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
      drain(spark, stream.writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          perBatch(batch).write.mode("append").parquet(s"$dir/store")
          ()
        }, 8)
      fold(spark.read.parquet(s"$dir/store"))
    }

  /** Copy the file `src` to `dest` byte for byte. */
  def copyFile(spark: SparkSession, src: String, dest: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val (s, d) = (new Path(src), new Path(dest))
    FileUtil.copy(s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf)
  }

  /** Land `df` as the single parquet file `dest`, modified at `mtime`
    * (the file source orders arrivals by it): one single-task write into
    * a hidden build directory beside `dest`, then [[adopt]]. */
  def stageFile(df: DataFrame, dest: String, mtime: Long): Unit = {
    val d = new Path(dest)
    val build = new Path(d.getParent, s"_build_${d.getName}")
    df.coalesce(1).write.parquet(build.toString)
    adopt(df.sparkSession, build.toString, dest, mtime)
    build.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).delete(build, true)
  }

  /** Rename the one part file a single-task write left in `build` to
    * `dest`, modified at `mtime`. A `build` that does not exist (a
    * partitioned write no row reached) stages nothing. */
  def adopt(spark: SparkSession, build: String, dest: String, mtime: Long): Unit = {
    val (b, d) = (new Path(build), new Path(dest))
    val fs = b.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(b)) {
      val part = fs.listStatus(b).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
      fs.mkdirs(d.getParent)
      if (!fs.rename(part, d)) throw new java.io.IOException(s"staging failed: $part -> $d")
      fs.setTimes(d, mtime, -1)
    }
  }

  /** The first row of `table` with the `overrides` columns replaced: the
    * watermark-advancing sentinel a finite table is staged beside. */
  def sentinelRow(table: DataFrame, overrides: (String, Column)*): DataFrame = {
    val o = overrides.toMap
    table.limit(1).select(table.columns.toIndexedSeq.map(c => o.getOrElse(c, col(c)).as(c)): _*)
  }
}
