package graft

import java.io.File

import graft.operators.Dedup
import graft.queries.Tables
import graft.streaming.{CorpusStream, EventStream}
import org.apache.spark.sql.functions._

/** Declared streaming queries stage their input, checkpoint and sink in a
  * per-call scratch directory under the store root, hand back an answer
  * that no longer reads it, and leave nothing behind there or in
  * `java.io.tmpdir`. */
class StreamScratchSpec extends SparkSuite {

  test("declared streaming queries: results outlive their scratch; graft-scratch empty, java.io.tmpdir unchanged") {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val store = java.nio.file.Files.createTempDirectory("graft-store").toFile
    val prior = sys.props.get("graft.store.dir")
    sys.props("graft.store.dir") = store.getPath
    try {
      // the batch answers run first, so lazy one-time initializers (native
      // codec libraries) have touched the temp dir before the snapshot
      val events = Tables.events(spark, sf001)
      val docs = spark.read.parquet(s"$sf001/documents.parquet")
      val lateBatch = events.select(col("ts"), col("event_type"),
        (((dayofmonth(col("ts")) - 1) / 3).cast("int") +
          when(pmod(col("event_id"), lit(17)) === 0, 2).otherwise(0)).as("batch"))
      // the watermark each arrival batch operates under (lateDropAuditSql)
      val wm = lateBatch.select(col("batch").as("x")).distinct()
        .join(lateBatch.select(col("batch").as("y"), col("ts").as("y_ts")),
          col("y") <= col("x") - 2)
        .groupBy(col("x"))
        .agg((date_trunc("millisecond", max(col("y_ts"))) - expr("INTERVAL 30 MINUTES")).as("wm"))
      val ingestHour = date_trunc("hour", timestamp_micros(
        lit(CorpusStream.EpochBaseMicros) + col("doc_id") * lit(60000000L)))
      val batchRows: Seq[(String, Long)] = Seq(
        "stream_windowed_agg" ->
          events.select(date_trunc("hour", col("ts")), col("event_type")).distinct().count(),
        "stream_session_window" ->
          events.groupBy(col("user_id"), session_window(col("ts"), "30 minutes")).count().count(),
        "stream_sessionize" -> EventStream.sessionize(spark, sf001, 30).count(),
        "stream_late_drop" ->
          lateBatch.join(wm, col("batch") === col("x"), "left")
            .where(col("wm").isNull ||
              date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") > col("wm"))
            .select(date_trunc("hour", col("ts")), col("event_type")).distinct().count(),
        "stream_quality_monitor" ->
          docs.select(ingestHour, col("source")).distinct().count(),
        // one row per day plus the all-time row
        "stream_hll_distinct" -> (events.select(to_date(col("ts"))).distinct().count() + 1),
        "stream_dedup_incremental" -> Dedup.minHashPairs(docs, 3, 0.5).count())
      val before = tmp.list().toSet

      batchRows.foreach { case (name, expected) =>
        val result = SparkEntry.queries(name)(spark, sf001)
        // the call has returned, so its scratch is gone: the answer must
        // not read it
        val rows = result.collect()
        if (expected > 0) assert(rows.length === expected, name)
      }

      val gained = tmp.list().toSet -- before
      assert(gained.isEmpty, s"java.io.tmpdir gained ${gained.mkString(", ")}")
      val scratchRoot = new File(store, "graft-scratch")
      assert(scratchRoot.isDirectory, s"no scratch root at $scratchRoot")
      assert(scratchRoot.list().isEmpty, scratchRoot.list().mkString(", "))
    } finally {
      prior match {
        case Some(p) => sys.props("graft.store.dir") = p
        case None    => sys.props -= "graft.store.dir"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(store)
    }
  }
}
