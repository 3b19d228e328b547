package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured Streaming surface: the engine's stream path for the `events`
  * table (`readStream` → watermark → tumbling-window agg → sink).
  *
  * The reference is strictly batch (`job.waitForCompletion`), so this is a
  * north-star extension: the same declarative aggregation as the batch
  * path, run incrementally. At scale the file source is swapped for Kafka;
  * the plan (watermark + windowed partial aggs + state store) is identical.
  *
  * The DECLARED queries run append-mode against file sinks: a finite
  * table is staged next to one watermark-advancing sentinel event
  * ([[stageEventsWithSentinel]]), so the closing no-data micro-batch
  * flushes every open window/session/join-state and the sink holds the
  * exact batch answer. Staging, checkpoint and sink live in one
  * [[StreamHarness.scratch]] directory per call.
  */
object EventStream {

  case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(start: Long, last: Long, n: Long) // epoch micros
  case class Session(user_id: Long, session_start: java.sql.Timestamp, n_events: Long)

  private def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def fromMicros(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(us / 1000000L,
      (us % 1000000L) * 1000L))

  /** TRUE incremental sessionization: per-user custom state via
    * `flatMapGroupsWithState`, event-time timeout closes a session once the
    * watermark passes `last event + gap`. Emits each closed session exactly
    * once (Append mode). This is the streaming form of [[sessionize]] — at
    * scale the state store holds one `OpenSession` (24 bytes) per active
    * user, and the watermark bounds it: idle users' state is reaped on
    * timeout, so state size tracks ACTIVE users, not all users ever seen. */
  def sessionizeIncremental(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (uid, it, state) =>
        val evs = it.toVector.sortBy(e => (micros(e.ts), e.event_id))
        if (evs.isEmpty) { // watermark-driven timeout: close the open session
          val out = state.getOption.map(o => Session(uid, fromMicros(o.start), o.n))
          state.remove()
          out.iterator
        } else {
          var closed = Vector.empty[Session]
          var open = state.getOption
          evs.foreach { e =>
            val t = micros(e.ts)
            open = open match {
              case Some(o) if t - o.last <= gapUs =>
                Some(o.copy(last = math.max(o.last, t), n = o.n + 1))
              case Some(o) =>
                closed :+= Session(uid, fromMicros(o.start), o.n)
                Some(OpenSession(t, t, 1))
              case None => Some(OpenSession(t, t, 1))
            }
          }
          open.foreach { o =>
            state.update(o)
            state.setTimeoutTimestamp(o.last / 1000L + gapMinutes * 60000L)
          }
          closed.iterator
        }
      }
  }

  /** Declared-query driver for [[sessionizeIncremental]] over a finite
    * events table: stages the parquet file alongside a single
    * watermark-advancing SENTINEL event (ts far past max(ts) + gap for a
    * reserved user), streams the staging directory, and runs the
    * flatMapGroupsWithState sessionizer to completion. The sentinel pushes
    * the global watermark beyond every open session's timeout, so the
    * no-data micro-batch that follows the final watermark advance closes
    * and emits ALL sessions — making the true incremental operator
    * value-comparable against the batch oracle (same sessions, minus the
    * sentinel user, which never closes and is filtered).
    * Output: (user_id, session_start, n_events). */
  def sessionizeIncrementalAll(spark: SparkSession, dir: String,
                               gapMinutes: Int): DataFrame = {
    import spark.implicits._
    StreamHarness.scratch(spark) { scratch =>
      val (stream, _) = stageEventsWithSentinel(spark, dir, scratch, gapMinutes + 120L)
      val sessions = sessionizeIncremental(
        stream.select(col("user_id"), col("event_id"), col("ts")).as[Ev], gapMinutes)
      StreamHarness.appendToFiles(sessions.toDF(), scratch).where(col("user_id") >= 0)
    }
  }

  /** Stage the events table under `scratch/in` next to ONE
    * watermark-advancing sentinel event (reserved user/event id -1, ts =
    * max(ts) + `deltaMinutes`). Streaming the staging directory makes any
    * watermarked operator over a FINITE table run to completion: the
    * sentinel advances the global watermark past every open
    * session/window, and the no-data micro-batch that follows flushes
    * them. Returns the staged stream (ts normalized to a timestamp) and
    * max(ts) in epoch micros. */
  private def stageEventsWithSentinel(spark: SparkSession, dir: String, scratch: String,
                                      deltaMinutes: Long,
                                      copies: Int = 1): (DataFrame, Long) = {
    // legacy fixtures ship ts as TIMESTAMP(NANOS) — read as long; newer
    // ones as timestamp[us]. Normalize via Tables.normTs; the sentinel row
    // is written back in the RAW encoding so it streams with the copies.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"$dir/events.parquet"
    (0 until copies).foreach(i =>
      StreamHarness.copyFile(spark, src, s"$scratch/in/events_$i.parquet"))
    val raw = spark.read.parquet(src)
    val tsType = raw.schema("ts").dataType
    val maxTs = raw // epoch micros
      .agg(unix_micros(max(graft.queries.Tables.normTs(tsType)))).head().getLong(0)
    val sentinelUs = maxTs + deltaMinutes * 60L * 1000000L
    val sentinelTs = tsType match {
      case org.apache.spark.sql.types.LongType => lit(sentinelUs * 1000L) // nanos
      case other => timestamp_micros(lit(sentinelUs)).cast(other)
    }
    StreamHarness.stageFile(StreamHarness.sentinelRow(raw,
        "user_id" -> lit(-1L), "event_id" -> lit(-1L), "ts" -> sentinelTs),
      s"$scratch/in/sentinel.parquet", System.currentTimeMillis())
    val stream = spark.readStream.schema(raw.schema).parquet(s"$scratch/in")
      .withColumn("ts", graft.queries.Tables.normTs(tsType))
    (stream, maxTs)
  }

  /** The DECLARED scale-shaped tumbling-window aggregate: append output
    * mode, parquet FILE sink, watermark-driven emission — no complete-mode
    * driver materialization anywhere. The sentinel staged by
    * [[stageEventsWithSentinel]] closes every real window (its own window
    * stays open and is excluded by the `window_start <= max(ts)` filter),
    * so on a finite table the file sink holds exactly the batch answer.
    * Output: (window_start, event_type, n, sum_value). */
  def windowedAggAppendAll(spark: SparkSession, dir: String): DataFrame =
    windowedAggAppendImpl(spark, dir, "1 hour", "1 hour")

  /** SLIDING-window form of [[windowedAggAppendAll]]: 2-hour windows
    * advancing hourly, so every event lands in exactly two overlapping
    * windows — the moving-average shape dashboards stream. Same
    * watermark/append/file-sink scale contract; per-window partial
    * aggregation state is 2× the tumbling form (the overlap factor),
    * still bounded by watermark eviction. */
  def slidingAggAppendAll(spark: SparkSession, dir: String): DataFrame =
    windowedAggAppendImpl(spark, dir, "2 hours", "1 hour")

  /** DECLARATIVE streaming sessionization — the built-in `session_window`
    * aggregate beside [[sessionizeIncrementalAll]]'s custom
    * flatMapGroupsWithState form: zero state-management code, the state
    * store's native session merge, same watermark/append/file-sink
    * contract (the sentinel advances the global watermark past every real
    * session's end + gap, so the finite table flushes completely; the
    * sentinel's own session stays open and is never emitted).
    *
    * Gap semantics differ from the batch window form at EXACT equality:
    * `session_window` merges two events iff their spacing is STRICTLY
    * less than the gap (each event's window is [t, t+gap), end
    * exclusive), so the oracle's new-session rule is `diff >= gap` where
    * the lag/sum batch form uses `diff > gap`. Microsecond timestamps
    * make the boundary case measure-zero in practice but the mirror is
    * exact about it. Output: (user_id, session_start, n_events). */
  def sessionWindowAggAll(spark: SparkSession, dir: String,
                          gapMinutes: Int): DataFrame =
    StreamHarness.scratch(spark) { scratch =>
      val (stream, _) = stageEventsWithSentinel(spark, dir, scratch, 240L)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"), col("n_events"))
      StreamHarness.appendToFiles(agg, scratch).where(col("user_id") >= 0)
    }

  private def windowedAggAppendImpl(spark: SparkSession, dir: String,
                                    duration: String, slide: String): DataFrame =
    StreamHarness.scratch(spark) { scratch =>
      val (stream, maxTs) = stageEventsWithSentinel(spark, dir, scratch, 240L)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), duration, slide), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
      StreamHarness.appendToFiles(agg, scratch)
        .where(col("window_start") <= timestamp_micros(lit(maxTs)))
    }

  /** WATERMARK LATE-DATA semantics as a declared, oracle-checkable
    * query. The stream arrives in DETERMINISTIC micro-batches (3-day
    * event-time buckets, one parquet file per batch, mtime-ordered), but
    * rows with event_id % 17 == 0 are displaced TWO batches later — past
    * the point where the watermark has evicted their hour windows, so the
    * windowed count must DROP them unless the window still clears the
    * allowed lateness. The oracle is the relational model of the rule the
    * engine ACTUALLY implements (empirically pinned by this row): a late
    * row is dropped iff its window state was already evicted, eviction of
    * window w happens at the end of the first batch b whose operating
    * watermark wm_b ≥ end(w), and wm_b derives from the max event time of
    * batches < b (ms-truncated) minus the delay — so a row arriving in
    * batch b survives iff end(w) > wm_{b−1}, i.e. the effective allowed
    * lateness is the declared delay PLUS one batch of watermark lag, and
    * a row arriving in the very batch that evicts its window is still
    * merged (eviction runs at batch END). One-batch displacement is
    * therefore NEVER late — which is why this query displaces by two.
    * Rows that are dropped still advance the watermark (event times are
    * observed before the state filter).
    *
    * Scale shape: identical to [[windowedAggAppendAll]] — watermark +
    * tumbling-window partial aggregation, append-mode file sink; the
    * batched staging is harness plumbing, not operator cost.
    * Output: (window_start, event_type, n) over on-time rows only. */
  def lateDropAudit(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val ev = raw.withColumn("ts", graft.queries.Tables.normTs(raw.schema("ts").dataType))
    val batchCol =
      ((dayofmonth(col("ts")) - 1) / 3).cast(org.apache.spark.sql.types.IntegerType) +
        when(pmod(col("event_id"), lit(17)) === 0, 2).otherwise(0)
    // max ts and max batch in ONE scan (this harness pays per-trigger
    // fixed costs ~14 times already; no reason to add driver-side passes)
    val maxTsRow = ev.agg(unix_micros(max(col("ts"))), max(batchCol)).head()
    if (maxTsRow.isNullAt(0)) // empty stream: nothing to window, nothing late
      return ev.limit(0).select(col("ts").as("window_start"),
        col("event_type"), lit(0L).as("n"))
    val maxTs = maxTsRow.getLong(0)
    val nBatches = maxTsRow.getInt(1) + 1
    StreamHarness.scratch(spark) { scratch =>
      val in = s"$scratch/in"
      val t0 = (System.currentTimeMillis() / 1000L) * 1000L
      // one file per batch, strictly increasing mtimes: the file source
      // processes oldest-first, so arrival order is the batch order. ALL
      // batch files land in ONE repartition(batch)+partitionBy pass (one
      // scan, one task per batch ⇒ one file per batch dir) — per-batch
      // single-file writes would re-scan the events table once per batch
      ev.withColumn("batch", batchCol).repartition(nBatches, col("batch"))
        .write.partitionBy("batch").parquet(s"$scratch/build")
      (0 until nBatches).foreach(b => StreamHarness.adopt(spark,
        s"$scratch/build/batch=$b", f"$in/b$b%02d.parquet", t0 + b * 1000L))
      // sentinel LAST: advances the watermark past every real window so the
      // append sink flushes them; its own window is excluded by the filter
      StreamHarness.stageFile(StreamHarness.sentinelRow(ev,
          "event_id" -> lit(-1L), "user_id" -> lit(-1L),
          "ts" -> timestamp_micros(lit(maxTs + 240L * 60L * 1000000L))),
        f"$in/b$nBatches%02d.parquet", t0 + nBatches * 1000L)
      val stream = spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(spark.read.parquet(in).schema).parquet(in)
      val agg = stream
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      // 3 state partitions, not the stream default 8: per-trigger cost
      // scales with partition count (state commits, sink files, tasks)
      // while the answer does not depend on it. Measured floor (r15): the
      // ~13 triggers ARE the semantics (one watermark advancement per
      // staged arrival batch — the oracle models eviction per batch index,
      // so triggers cannot fold), and each costs ~0.4 s of microbatch
      // machinery (incremental re-plan + offset/commit log + sink commit;
      // state partitions 8→3→1 moved nothing beyond noise, and async
      // progress tracking is structurally unavailable — Spark's
      // checkNotStatefulStreamingQuery refuses stateful queries). The
      // query is therefore fixed-cost-bound: decade α ≈ 0 (SCALESTRESS.md),
      // a harness floor, not a scale risk. The parquet FILE SINK is kept
      // deliberately: a foreachBatch per-batch-dir sink was measured 40%
      // SLOWER here (r15) — thirteen standalone FileFormatWriter jobs with
      // their commit protocols cost more than the file sink's incremental
      // _spark_metadata maintenance.
      StreamHarness.appendToFiles(agg, scratch, width = 3)
        .where(col("window_start") <= timestamp_micros(lit(maxTs)))
    }
  }

  /** DuckDB mirror of [[lateDropAudit]] (oracle builder): the explicit
    * relational model of the watermark contract. */
  def lateDropAuditSql(): String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) ts, event_type
         FROM events),
       b AS (SELECT event_id, ts, event_type,
              CAST((CAST(strftime(ts, '%d') AS INT) - 1) // 3 AS INT)
                + (CASE WHEN event_id % 17 = 0 THEN 2 ELSE 0 END) AS batch
             FROM e),
       wm AS (SELECT x.batch,
               date_trunc('milliseconds', max(y.ts)) - INTERVAL 30 MINUTE AS wm
              FROM (SELECT DISTINCT batch FROM b) x
              JOIN b y ON y.batch <= x.batch - 2
              GROUP BY x.batch),
       keep AS (SELECT b.ts, b.event_type
                FROM b LEFT JOIN wm ON b.batch = wm.batch
                WHERE wm.wm IS NULL
                   OR time_bucket(INTERVAL '1 hour', b.ts) + INTERVAL 1 HOUR > wm.wm)
       SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         event_type, count(*) AS n
       FROM keep GROUP BY 1, 2"""

  /** Declared STREAM-STATIC enrichment join: the event stream picks up
    * its customer's nation from the static dimension, then aggregates
    * revenue per (hour window, nation). Stream-static inner joins are
    * STATELESS — the dim is just re-read (and here explicitly broadcast)
    * each micro-batch, nothing is buffered in the state store — so this
    * is the canonical shape for enriching a 100 TB/day event stream
    * against reference data: no stream-side shuffle before the join, and
    * the watermark/window state is the same as the plain windowed agg.
    * The sentinel (user_id = -1) matches no customer and its window is
    * excluded by the `window_start <= max(ts)` filter.
    * Output: (window_start, c_nationkey, n, sum_value). */
  def enrichedWindowedAgg(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.scratch(spark) { scratch =>
      val (stream, maxTs) = stageEventsWithSentinel(spark, dir, scratch, 240L)
      val dim = broadcast(spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey")))
      val agg = stream
        .withWatermark("ts", "1 hour")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
        .select(col("window.start").as("window_start"), col("c_nationkey"),
          col("n"), col("sum_value"))
      StreamHarness.appendToFiles(agg, scratch)
        .where(col("window_start") <= timestamp_micros(lit(maxTs)))
    }

  /** Declared stream-stream INTERVAL JOIN over the finite events table:
    * purchases attributed to the same user's click within the PRECEDING 30
    * minutes. Both sides are watermarked filters of one staged file
    * stream (the watermark operator sits UPSTREAM of the event_type
    * filter, so every event — including the sentinel — advances both
    * sides' watermarks and lets the join evict state); inner interval
    * joins emit eagerly per micro-batch, so the file sink holds the exact
    * batch answer once the input drains. Output:
    * (user_id, click_id, purchase_id, c_ts, b_ts, amount). */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.scratch(spark) { scratch =>
      val (ev, _) = stageEventsWithSentinel(spark, dir, scratch, 240L)
      val clicks = ev.withWatermark("ts", "1 hour")
        .where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val buys = ev.withWatermark("ts", "1 hour")
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("event_id").as("purchase_id"),
          col("ts").as("b_ts"), col("value").as("amount"))
      val joined = clicks.join(buys,
        col("c_user") === col("b_user") &&
          col("b_ts") >= col("c_ts") &&
          col("b_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      StreamHarness.appendToFiles(joined, scratch)
        .where(col("c_user") >= 0)
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
          col("c_ts"), col("b_ts"), col("amount"))
    }

  /** Declared EXACTLY-ONCE dedup over an at-least-once stream: the events
    * table is staged TWICE (every event delivered twice, the way a
    * replaying source or at-least-once producer would), and
    * `dropDuplicatesWithinWatermark` on the event id collapses the
    * redeliveries — state for an id is held only until the watermark
    * passes its event time, so memory is bounded by the redelivery
    * horizon, not the stream's history. The file sink then holds exactly
    * the batch events table (sentinel filtered).
    * Output: (event_id, user_id, ts, event_type). */
  def dedupEventsAll(spark: SparkSession, dir: String): DataFrame =
    StreamHarness.scratch(spark) { scratch =>
      val (stream, _) = stageEventsWithSentinel(spark, dir, scratch, 240L, copies = 2)
      val ev = stream
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      StreamHarness.appendToFiles(ev, scratch).where(col("event_id") >= 0)
    }

  /** Streaming HLL maintenance — the incremental form of the batch
    * [[graft.operators.Sketches]] register sketch: event micro-batches
    * each contribute their per-day (day, register, max-rho) partials to
    * an append-only store, and the standing per-day + all-time distinct
    * estimates fold the store with max-per-register (the HLL merge law —
    * max is associative, commutative and idempotent, so batch order AND
    * at-least-once redelivery cannot change any answer). Result provably
    * equals the one-shot batch sketch — the shared oracle. Exact counts
    * ride along from the batch table as the error reference.
    * Output: (day, n_exact, n_regs, est). */
  def hllDistinctAll(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup.MaterializeSyntax
    import graft.operators.Sketches
    val events = graft.queries.Tables.events(spark, dir)
    val day = date_format(col("ts").cast("date"), "yyyy-MM-dd")
    StreamHarness.replayFold(spark, events, 3)(
      batch => Sketches.hllRegisters(batch, day, col("user_id"))) { store =>
      val regs = store
        .groupBy(col("g"), col("reg")).agg(max(col("mx")).as("mx"))
        .materialized
      val est = Sketches.hllEstimate(
        regs.unionByName(Sketches.hllMerge(regs, "ALL")))
      val ud = events.select(day.as("g"), col("user_id")).distinct().materialized
      val exact = ud.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
        .unionByName(ud.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_exact")).select(lit("ALL").as("g"), col("n_exact")))
      est.join(exact, Seq("g"))
        .select(col("g").as("day"), col("n_exact"), col("n_regs"), col("est"))
    }
  }

  /** Streaming CDC APPLY — the incremental form of the batch
    * [[graft.operators.EventAnalytics.latestSnapshot]]: each changelog
    * micro-batch reduces to its per-key argmax row (latest (ts, seq)
    * within the batch, tombstones INCLUDED — a tombstone must shadow
    * older puts across batches, so it stays in state and is filtered
    * only at read) and appends that partial to the store; the standing
    * snapshot folds the store with the same argmax. Per-key max is
    * associative and commutative, so batch arrival order cannot change
    * any answer and the result provably EQUALS the one-shot batch
    * snapshot — the shared oracle. The append-only store is the same
    * mergeable-partial-state shape as the sketch streams (a real
    * deployment compacts it with [[graft.operators.CellOps]]-style
    * keep-1 passes instead of growing forever).
    * Output: (user_id, last_ts, last_type, last_value). */
  def cdcApplyAll(spark: SparkSession, dir: String,
                  tombstoneType: String): DataFrame = {
    val events = graft.queries.Tables.events(spark, dir)
    def argmax(df: DataFrame) = df.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("l"))
      .select(col("user_id"), col("l.ts").as("ts"), col("l.event_id").as("event_id"),
        col("l.event_type").as("event_type"), col("l.value").as("value"))
    StreamHarness.replayFold(spark, events, 3)(argmax) { store =>
      argmax(store)
        .where(col("event_type") =!= tombstoneType)
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
    }
  }

  /** Streaming BITMAP-RETENTION maintenance — the incremental form of the
    * batch `events_bitmap_retention` fold: each micro-batch bit_or's its
    * users' active days into one long per (month, user) and appends that
    * 8-byte partial to the store; the standing days-active histogram folds
    * the store with the same bit_or. The merge law is the strongest of the
    * sketch family — associative, commutative AND idempotent — so neither
    * batch order nor redelivery can change a bit, and the result provably
    * EQUALS the one-shot batch bitmap (the shared oracle). This is the
    * streaming form of the roaring-bitmap engagement idiom: per user-month
    * the whole month of activity crosses the wire as ONE long, and the
    * standing store stays |user-month|-sized no matter how many batches
    * append (a real deployment compacts the appended partials with the
    * same bit_or keep-1 pass). Output: (month_start, active_days, n_users). */
  def bitmapRetentionAll(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.queries.Tables.events(spark, dir)
    def partial(df: DataFrame) = df.select(
        date_trunc("month", col("ts")).as("mon"), col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)").as("bm"))
      .groupBy(col("mon"), col("user_id"))
      .agg(expr("bit_or(bm)").as("bm"))
    StreamHarness.replayFold(spark, events, 3)(partial) { store =>
      store.groupBy(col("mon"), col("user_id"))
        .agg(expr("bit_or(bm)").as("bm"))
        .select(col("mon"), expr("CAST(bit_count(bm) AS INT)").as("active_days"))
        .groupBy(col("mon"), col("active_days"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("mon").as("month_start"), col("active_days"), col("n_users"))
    }
  }

  /** Streaming QUANTILE-SKETCH maintenance — the incremental form of the
    * batch [[graft.operators.Sketches]] histogram sketch: event
    * micro-batches each contribute their own (day, bin, count) register
    * rows to an append-only store inside `foreachBatch`, and the standing
    * per-day + all-time p50/p90/p99 estimates are read from the FOLDED
    * store (counts add — the mergeability that makes the sketch a
    * streaming object; `percentile()` partials cannot be maintained this
    * way). Batch order cannot change any answer, so the result EQUALS the
    * one-shot batch sketch over the whole table — which is exactly the
    * declared oracle. Output: (day, n, p50, p90, p99). */
  def quantileSketchAll(spark: SparkSession, dir: String,
                        width: Double): DataFrame = {
    import graft.operators.Dedup.MaterializeSyntax
    val events = graft.queries.Tables.events(spark, dir)
    StreamHarness.replayFold(spark, events, 3)(batch =>
      graft.operators.Sketches.histRegisters(batch,
        date_format(col("ts").cast("date"), "yyyy-MM-dd"),
        col("value"), width)) { store =>
      // fold the appended partial registers (counts add), then estimate
      val regs = store
        .groupBy(col("g"), col("bin")).agg(sum(col("cnt")).as("cnt"))
        .materialized
      graft.operators.Sketches.histQuantiles(
          regs.unionByName(graft.operators.Sketches.histMerge(regs, "ALL")), width)
        .select(col("g").as("day"), col("n"), col("p50"), col("p90"), col("p99"))
    }
  }

  /** Stateful sessionization: groups each user's events into sessions
    * split on > `gapMinutes` inactivity, via flatMapGroupsWithState-style
    * semantics expressed with window functions on the batch table (the
    * declarative form; the incremental form plugs the same logic into
    * `KeyValueGroupedDataset.flatMapGroupsWithState`). Output:
    * (user_id, session_id, n_events, session_start). */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = graft.queries.Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60_000_000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"))
  }
}
