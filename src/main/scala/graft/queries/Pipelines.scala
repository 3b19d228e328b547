package graft.queries

import graft.operators.{AsOf, EventAnalytics, Multimodal, Sketches}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Temporal / streaming / multimodal pipeline queries: as-of join,
  * Structured Streaming windowed aggregation, stateful sessionization, and
  * binary-payload feature extraction. */
object Pipelines {
  import Tables._

  val defs: Map[String, Q] = Map(
    // point-in-time join: each event ↦ the user's latest order at/before ts
    "asof_join_events_orders" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
      AsOf.asOfJoin(e, o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("ts"), rightTime = col("o_orderdate"),
          rightValues = Seq(col("o_orderkey"), col("o_totalprice")),
          rightTiebreak = col("o_orderkey"))
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("asof_orderkey"),
          col("asof.o_totalprice").as("asof_totalprice"))
    }),

    // nearest-in-time join (merge_asof direction='nearest'): each event ↦
    // the user's order minimizing |orderdate − ts| within 7 days, ties →
    // the earlier order — one exchange + one sort, two directional
    // carries over the same ordering
    "asof_join_nearest" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
      AsOf.nearestJoin(e, o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("ts"), rightTime = col("o_orderdate"),
          rightValues = Seq(col("o_orderkey"), col("o_totalprice")),
          rightTiebreak = col("o_orderkey"),
          toleranceMicros = 7L * 86400L * 1000000L)
        .select(col("event_id"), col("user_id"),
          col("nearest.o_orderkey").as("near_orderkey"),
          col("nearest.o_totalprice").as("near_totalprice"))
    }),

    // as-of with a STALENESS BOUND (pandas merge_asof tolerance): a match
    // older than 7 days yields NULL — same one-exchange plan
    "asof_join_tolerance" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
      AsOf.asOfJoin(e, o,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("ts"), rightTime = col("o_orderdate"),
          rightValues = Seq(col("o_orderkey"), col("o_totalprice")),
          rightTiebreak = col("o_orderkey"),
          tolerance = Some(expr("INTERVAL 7 DAYS")))
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("asof_orderkey"),
          col("asof.o_totalprice").as("asof_totalprice"))
    }),

    // sequence mining: per-session ordered event-type paths, top-20 most
    // frequent — sessions from the 30-min-gap rule, the path string built
    // by an in-group sort of (ts, seq)-keyed structs (no per-row UDF)
    "events_top_paths" -> ((s, dir) => {
      EventAnalytics.sessionIds(t(s, dir, "events"), gapMinutes = 30)
        .groupBy(col("user_id"), col("session_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    }),

    // interval OVERLAP join without a cross product: user sessions ×
    // error-incident ±30-min windows meet in an hour-bucket EQUI-join
    // (explode to touched buckets → exact predicate → pair distinct) —
    // cost tracks temporal overlap density, not |A|·|B|
    "events_incident_overlap" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val sess = EventAnalytics.sessionIds(e, gapMinutes = 30)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("start"), max(col("ts")).as("end"))
        .select(concat(col("user_id"), lit(":"), col("session_id")).as("id"),
          col("start"), col("end"))
      val incidents = e.where(col("event_type") === "error")
        .select(col("event_id").cast("string").as("id"),
          (col("ts") - expr("INTERVAL 30 MINUTES")).as("start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end"))
      graft.operators.TimeSeries.intervalOverlapJoin(sess, incidents)
        .select(col("a_id").as("session_id"), col("b_id").cast("long").as("error_id"),
          col("a_start").as("s_start"), col("a_end").as("s_end"))
    }),

    // first-order Markov transitions: P(next event type | type) from
    // per-user (ts, seq)-ordered successor pairs — one window pass over
    // the keyed stream, the row-count normalizer is a per-from window over
    // the |types|² transition matrix, not the data
    "events_markov_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = t(s, dir, "events")
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      trans.withColumn("p", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
    }),

    // gaps & islands: per-user runs of consecutive active DAYS via the
    // day - row_number() grouping constant — the classic streak analysis
    "events_activity_islands" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      ud.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).cast("timestamp").as("streak_start"),
          max(col("day")).cast("timestamp").as("streak_end"),
          count(lit(1)).as("n_days"))
        .drop("grp")
    }),

    // Structured Streaming: tumbling 1h windows, run to completion in
    // the append-mode file-sink form (watermark-driven emission, sentinel
    // closes trailing windows) — the scale shape
    "stream_windowed_agg" -> ((s, dir) => EventStream.windowedAggAppendAll(s, dir)),
    // sliding 2h/1h streaming windows: every event in exactly two
    // overlapping windows, watermark-evicted state, append file sink
    "stream_sliding_agg" -> ((s, dir) => EventStream.slidingAggAppendAll(s, dir)),

    // stream-static enrichment: broadcast dim join on the stream, then the
    // windowed revenue-per-nation aggregate (stateless join, same window
    // state as stream_windowed_agg)
    "stream_static_join" -> ((s, dir) => EventStream.enrichedWindowedAgg(s, dir)),

    // watermark LATE-DROP semantics: deterministic out-of-order batches,
    // displaced rows must be dropped exactly where window.end clears the
    // allowed lateness — the oracle is the relational model of that rule
    "stream_late_drop" -> ((s, dir) => EventStream.lateDropAudit(s, dir)),

    // streaming IVF index maintenance: embedding micro-batches routed to
    // their coarse cell against broadcast centroids and appended to the
    // inverted-list store; declared result = the per-cell occupancy
    // census, equal to one-shot assignment by construction
    "stream_ann_assign" -> ((s, dir) =>
      graft.streaming.CorpusStream.annAssignAll(s, dir, 16)),
    // the drift monitor STANDING: advance-batch micro-batches append
    // (cell, count, decimal qerr-sum) partials — both associative — and
    // the readout folds them against the base index's build-time
    // occupancy; provably equals the one-shot ann_ivf_drift_monitor,
    // which is the shared oracle (thresholds + finite-sample null
    // included), so rebuild_due flips while vectors land
    "stream_drift_monitor" -> ((s, dir) =>
      graft.streaming.CorpusStream.driftMonitorAll(s, dir)),

    // stateful sessionization (30-min inactivity gap)
    "sessionize_events" -> ((s, dir) => EventStream.sessionize(s, dir, 30)),

    // streaming HLL maintenance: per-batch (day, register, max-rho)
    // partials append; the standing estimates fold the store with
    // max-per-register — associative, commutative AND idempotent, so
    // neither batch order nor redelivery can change an answer; provably
    // equals the one-shot batch sketch (shared oracle)
    "stream_hll_distinct" -> ((s, dir) =>
      EventStream.hllDistinctAll(s, dir)),

    // streaming bitmap-retention maintenance: per-batch (month, user)
    // bit_or partials append (8 bytes per user-month on the wire); the
    // standing days-active histogram folds the store with the same bit_or
    // — associative, commutative AND idempotent, so batch order and
    // redelivery are both invisible; provably equals the one-shot batch
    // bitmap (shared oracle)
    "stream_bitmap_retention" -> ((s, dir) =>
      EventStream.bitmapRetentionAll(s, dir)),

    // streaming CDC apply: each micro-batch appends its per-key argmax
    // partial (tombstones included — they must shadow across batches);
    // the standing snapshot folds the store with the same argmax, equal
    // to the one-shot batch snapshot by the max merge law (shared oracle)
    "stream_cdc_apply" -> ((s, dir) =>
      EventStream.cdcApplyAll(s, dir, tombstoneType = "error")),

    // the TRUE incremental sessionizer (flatMapGroupsWithState +
    // event-time timeouts) run to completion with a sentinel-advanced
    // watermark — same sessions as the batch form, emitted by the state
    // store instead of a window
    "stream_sessionize" -> ((s, dir) =>
      EventStream.sessionizeIncrementalAll(s, dir, 30)),

    // declarative streaming sessions: the built-in session_window
    // aggregate (state-store native merge, zero custom state code) —
    // the scale-preferred form beside the flatMapGroupsWithState one
    "stream_session_window" -> ((s, dir) =>
      EventStream.sessionWindowAggAll(s, dir, 30)),

    // stream-stream interval join (purchase→click attribution), both
    // sides watermarked filters of one staged file stream, file sink
    "stream_stream_join" -> ((s, dir) =>
      EventStream.clickAttribution(s, dir)),

    // exactly-once dedup of an at-least-once stream: every event staged
    // twice, dropDuplicatesWithinWatermark collapses the redeliveries
    "stream_dedup_events" -> ((s, dir) =>
      EventStream.dedupEventsAll(s, dir)),

    // streaming incremental dedup: the documents table streamed in 4
    // micro-batches against a cold, per-batch-growing signature index —
    // union of batch outputs provably equals the one-shot LSH pair
    // search (each pair surfaces exactly once, when its later member
    // arrives), which IS the oracle
    "stream_dedup_incremental" -> ((s, dir) =>
      graft.streaming.CorpusStream.dedupIncrementalAll(s, dir, 3, 0.5)),

    // streaming CMS maintenance: per-batch partial d×w counter grids
    // append to a store; the standing heavy-hitter top-k reads the FOLDED
    // grid — cells sum, so the result provably equals the one-shot batch
    // sketch (the shared oracle); no per-batch vocabulary materialization
    "stream_cms_heavy_hitters" -> ((s, dir) =>
      graft.streaming.CorpusStream.cmsHeavyHittersAll(s, dir)),

    // streaming corpus-quality monitor: per (hour, source) doc counts,
    // mean token length and short-doc fraction over a watermarked
    // document stream (ingest clock = doc_id minutes past a fixed epoch)
    "stream_quality_monitor" -> ((s, dir) =>
      graft.streaming.CorpusStream.qualityMonitor(s, dir)),

    // multimodal: binary payloads + partition-wise stub decode
    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(s, t(s, dir, "documents")).toDF()),

    // multimodal: REAL PNG decode via the JDK's javax.imageio — synthetic
    // solid-color PNGs (row-derived dims/color, oracle-predictable) are
    // encoded and decoded inside one partition pass; output is what the
    // DECODER saw (dims + per-channel pixel means)
    "multimodal_image_dims" -> ((s, dir) =>
      Multimodal.imageDims(s, t(s, dir, "documents")).toDF()),

    // multimodal: REAL WAV decode via the JDK's javax.sound.sampled —
    // integer sawtooth signals encoded to WAV containers and decoded back
    // in one partition pass; output is decoder-observed (rate, length,
    // peak, mean |amplitude|), oracle-predicted from the synthesis rule
    // because PCM is lossless
    "multimodal_audio_stats" -> ((s, dir) =>
      Multimodal.audioStats(s, t(s, dir, "documents")).toDF()),

    // perceptual audio dedup: 8-band energy fingerprint over the REAL
    // WAV container round-trip (integer-only bits — oracle-predictable
    // from the synthesis rule), min-doc_id cluster representative
    "multimodal_audio_dedup" -> ((s, dir) =>
      Multimodal.audioDedup(s, t(s, dir, "documents"))),

    // multimodal: perceptual image dedup — aHash (8×8 gray, bit = pixel >
    // integer mean) over REAL decoded PNG bytes, identical-hash clusters
    // keyed by their min doc_id; integer-only hash arithmetic keeps the
    // 64-bit summary oracle-predictable from the two-tone test pattern
    "multimodal_phash_dedup" -> ((s, dir) =>
      Multimodal.imageDedup(s, t(s, dir, "documents"))),

    // multimodal: video-style frame sampling (128-char frames, every 2nd),
    // fully relational — sequence/explode + substr + md5 inside codegen
    "multimodal_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(t(s, dir, "documents"), 128, 2)),

    // multimodal: deterministic nearest-neighbor "resize" (stride-4
    // resample + fingerprint) — pure column expressions, no shuffle
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resize(t(s, dir, "documents"), 4)),

    // time-series regularization: irregular events → dense per-user hourly
    // grid with forward fill (n_events = 0 marks the filled gap rows)
    "events_resample_locf" -> ((s, dir) =>
      graft.operators.TimeSeries.resampleHourlyLocf(t(s, dir, "events"))),

    // linear-interpolation gap fill on the same per-key hourly grid — the
    // level-series companion to LOCF's step function; ONE lead pass over
    // the observed buckets only, the lerp computed during the gap explode
    // (window input |observed|, not grid-sized)
    "events_resample_interp" -> ((s, dir) =>
      graft.operators.TimeSeries.resampleHourlyInterp(t(s, dir, "events"))),

    // day-of-week multiplicative seasonality per event type — integer
    // algebra over the |types|·|days| reduction, one division at the end
    "events_seasonal_index" -> ((s, dir) =>
      graft.operators.TimeSeries.seasonalIndex(t(s, dir, "events"))),

    // per-type OLS trend line over daily counts: slope/intercept/R² from
    // five exact integer moments — one scan, one |types|-row aggregate
    "events_trend_ols" -> ((s, dir) =>
      graft.operators.TimeSeries.trendOls(t(s, dir, "events"))),

    // ML FEATURE LAGS — the feature-store projection a training pipeline
    // materializes per entity: previous two values, trailing-3 mean
    // (current row excluded), and the inter-event gap, all from ONE
    // hash-partitioned window pass. Cross-engine determinism by the
    // events_ewma integer-cents pattern: values scale to exact cent
    // longs, the trailing mean is an integer sum with ONE final double
    // division, gaps are exact epoch-second integers — no round() needed
    "events_feature_lags" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val w3 = w.rowsBetween(-3, -1)
      val cents = round(col("value") * 100).cast("bigint")
      t(s, dir, "events").select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        (lag(cents, 1).over(w).cast("double") / 100).as("lag1"),
        (lag(cents, 2).over(w).cast("double") / 100).as("lag2"),
        (sum(cents).over(w3).cast("double") /
          (lit(100) * count(lit(1)).over(w3)).cast("double")).as("mean3"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
    }),

    // DAU/MAU stickiness per calendar month — the engagement ratio every
    // growth dashboard leads with. ONE (month, day, user) distinct
    // exchange (map-side partial dedup) bounds all later work by
    // day-table size; the monthly distinct re-reduces the SAME deduped
    // frame. Integer algebra until one division.
    "events_stickiness" -> ((s, dir) => {
      val ud = t(s, dir, "events").select(
          date_trunc("month", col("ts")).as("mon"),
          date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val daily = ud.groupBy(col("mon"), col("day"))
        .agg(count(lit(1)).as("dau"))
      val monthly = ud.select(col("mon"), col("user_id")).distinct()
        .groupBy(col("mon")).agg(count(lit(1)).as("mau"))
      daily.groupBy(col("mon"))
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
        .join(monthly, "mon")
        .select(col("mon").as("month_start"), col("n_days"), col("sum_dau"),
          col("mau"),
          round(try_divide(col("sum_dau").cast("double"),
            (col("n_days") * col("mau")).cast("double")), 6).as("stickiness"))
    }),

    // BITMAP engagement histogram — the roaring-bitmap retention idiom at
    // relational scale: each user-month folds its active days into ONE
    // 31-bit long via bit_or (map-side combinable — the whole month of
    // activity ships as 8 bytes per user through the single exchange),
    // then popcount buckets users by days-active. The same bitmap column
    // is what cohort/streak queries AND-together at 100 TB instead of
    // re-scanning events.
    "events_bitmap_retention" -> ((s, dir) =>
      t(s, dir, "events").select(
          date_trunc("month", col("ts")).as("mon"), col("user_id"),
          expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)").as("bit"))
        .groupBy(col("mon"), col("user_id"))
        .agg(expr("bit_or(bit)").as("bm"))
        .select(col("mon"), expr("CAST(bit_count(bm) AS INT)").as("active_days"))
        .groupBy(col("mon"), col("active_days"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("mon").as("month_start"), col("active_days"),
          col("n_users"))),

    // sliding (overlapping) windows: each event lands in two 2h windows
    "sliding_window_counts" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("n"))),

    // ordered conversion funnel view → click → purchase: per-stage filters
    // push to the scan, survivor sets broadcast forward
    "events_funnel" -> ((s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))),

    // the funnel with a CONVERSION WINDOW: each stage must happen within
    // 60 min of the previous stage's conversion (same broadcast-join plan)
    "events_funnel_windowed" -> ((s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"), withinMinutes = Some(60))),

    // weekly cohort retention: first-seen cohort map broadcasts back over
    // one events pass, exact distinct users per (cohort, week offset)
    "events_cohort_retention" -> ((s, dir) =>
      EventAnalytics.cohortRetention(t(s, dir, "events"))),

    // exponential retention-curve fit: pooled observable day-age rates,
    // log-linear OLS, half-life in days — calendar-bounded censuses,
    // one 1-row moment aggregate
    "events_retention_halflife" -> ((s, dir) =>
      EventAnalytics.retentionHalfLife(t(s, dir, "events"))),

    // CDC apply: events as a keyed changelog ('error' = tombstone),
    // latest-wins snapshot via a two-phase max_by — no per-key window sort
    "events_cdc_snapshot" -> ((s, dir) =>
      EventAnalytics.latestSnapshot(t(s, dir, "events"), tombstoneType = "error")),

    // Kaplan-Meier retention per event_type: right-censored product-limit
    // survival (exp∘Σln over the life table) — one stream aggregate, all
    // downstream work on a |types|·|days| frame
    "events_survival_km" -> ((s, dir) =>
      EventAnalytics.survivalKm(t(s, dir, "events"), horizonDays = 3)),

    // growth accounting: per-day NEW vs RETURNING active users (new =
    // first-ever active day) — one distinct (user, day) reduction + a
    // user-keyed min join; the daily census every growth dashboard leads
    // with, beside the cohort matrix
    "events_new_returning" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val firstDay = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      daily.join(firstDay, "user_id")
        .withColumn("is_new", col("day") === col("first_day"))
        .groupBy(col("day"))
        .agg(count(when(col("is_new"), 1)).as("n_new"),
          count(when(!col("is_new"), 1)).as("n_returning"))
        .select(col("day").cast("timestamp").as("day"),
          col("n_new"), col("n_returning"))
    }),

    // funnel latency: exact p50/p90 seconds from first view to first
    // subsequent purchase — per-user min-aggregates before the join, the
    // percentile walk over DISTINCT delay values only
    "events_funnel_ttc" -> ((s, dir) =>
      EventAnalytics.timeToConvert(t(s, dir, "events"), "view", "purchase")),

    // rolling engagement: DAU + trailing-7-day WAU per active day, the
    // rolling distinct via explode-forward (no per-day range self-join)
    "events_active_users" -> ((s, dir) =>
      EventAnalytics.activeUsers(t(s, dir, "events"), window = 7)),

    // market-basket mining: part pairs co-ordered in ≥ 3 orders; the
    // within-basket self-join is bounded by the basket-size cap
    "basket_item_pairs" -> ((s, dir) =>
      graft.operators.Affinity.itemPairs(
        t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        minSupport = 3, maxBasketSize = 20)),

    // A-priori association rules over the same baskets: both directions of
    // every supported pair scored by confidence and lift — supports, item
    // counts and the basket total all derive from ONE grouped frame
    "basket_association_rules" -> ((s, dir) =>
      graft.operators.Affinity.associationRules(
        t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        minSupport = 3, maxBasketSize = 20)),

    // marketing attribution: each purchase credited to the user's LAST
    // view/click touch in a 7-day lookback ('none' when no touch) — the
    // per-purchase argmax is a max_by aggregate over the user-keyed
    // interval join, never a per-key window sort over all events
    "events_attribution" -> ((s, dir) =>
      EventAnalytics.lastTouchAttribution(t(s, dir, "events"),
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackDays = 7)
        .groupBy(col("last_touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          Tables.dsum(col("value")).as("attributed_value"))),

    // SCD-type-2 history: the changelog as validity intervals (row opens on
    // state CHANGE, closes when the next distinct state opens) — the
    // type-2 companion to events_cdc_snapshot's latest-wins compaction
    "events_scd2" -> ((s, dir) =>
      EventAnalytics.scd2History(t(s, dir, "events"))),

    // the warehouse pattern SCD2 exists FOR: each fact row (order) stamped
    // with the dimension state valid AT its event time — user-keyed
    // equi-join + interval filter (intervals are non-overlapping per key,
    // so at most one match; pre-history orders surface with NULL state)
    "events_scd2_lookup" -> ((s, dir) => {
      val dim = EventAnalytics.scd2History(t(s, dir, "events"))
      t(s, dir, "orders").join(dim,
          col("o_custkey") === col("user_id") &&
            col("valid_from") <= col("o_orderdate") &&
            (col("valid_to").isNull || col("o_orderdate") < col("valid_to")),
          "left")
        .select(col("o_orderkey"), col("o_custkey"), col("state"))
    }),

    // incremental aggregate maintenance: the standing per-user aggregate is
    // kept by MERGING yesterday's aggregate with the new day's delta
    // (counts add, decimal sums add exactly) — at 100 TB the rollup is
    // never recomputed from the full history; the oracle's one-shot
    // aggregate over everything proves the merge law
    "events_incremental_agg" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val cut = lit("2024-01-24 00:00:00").cast(org.apache.spark.sql.types.TimestampType)
      def part(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("v"))
      val hist = part(e.where(col("ts") < cut))
      val delta = part(e.where(col("ts") >= cut))
      hist.as("h").join(delta.as("d"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("h.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n_events"),
          (coalesce(col("h.v"), lit(0)) + coalesce(col("d.v"), lit(0)))
            .cast(org.apache.spark.sql.types.DoubleType).as("v_sum"))
    }),

    // mergeable distinct sketches: per-day HLL register tables estimate
    // daily uniques, and the SAME registers fold (max per register) into
    // the all-time estimate without rescanning events — the materialized
    // form of approx_count_distinct a 100 TB metrics store keeps; exact
    // counts ride along as the oracle-checked error reference
    "events_hll_distinct" -> ((s, dir) => {
      import graft.operators.Dedup.MaterializeSyntax
      val e = t(s, dir, "events")
      val day = date_format(col("ts").cast("date"), "yyyy-MM-dd")
      val regs = Sketches.hllRegisters(e, day, col("user_id")).materialized
      val est = Sketches.hllEstimate(
        regs.unionByName(Sketches.hllMerge(regs, "ALL")))
      val ud = e.select(day.as("g"), col("user_id")).distinct().materialized
      val exact = ud.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
        .unionByName(ud.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_exact")).select(lit("ALL").as("g"), col("n_exact")))
      est.join(exact, Seq("g"))
        .select(col("g").as("day"), col("n_exact"), col("n_regs"), col("est"))
    }),

    // sketch SET ALGEBRA: audience union via register-wise max merge,
    // intersection by inclusion-exclusion — the cross-segment overlap
    // estimate that never rescans or joins the raw streams; registers are
    // built once, both estimates read the same 128-row frame (exact
    // intersection rides along as the error reference)
    "events_hll_setops" -> ((s, dir) => {
      import graft.operators.Dedup.MaterializeSyntax
      val e = t(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
      val regs = Sketches.hllRegisters(e, col("event_type"), col("user_id"))
        .materialized
      val est = Sketches.hllEstimate(
        regs.unionByName(Sketches.hllMerge(regs, "UNION")))
      val wide = est.agg(
        max(when(col("g") === "view", col("est"))).as("est_view"),
        max(when(col("g") === "purchase", col("est"))).as("est_purchase"),
        max(when(col("g") === "UNION", col("est"))).as("est_union"))
      val both = e.select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
        .where(col("k") === 2).agg(count(lit(1)).as("exact_intersect"))
      wide.crossJoin(broadcast(both)) // 1-row scalar, documented pattern
        .select(col("est_view"), col("est_purchase"), col("est_union"),
          round(col("est_view") + col("est_purchase") - col("est_union"), 4)
            .as("est_intersect"),
          col("exact_intersect"))
    }),

    // RFM segmentation: exact population quartile scores on recency /
    // frequency / monetary via the equi-depth census pattern (distinct-
    // value cum walk + broadcast boundaries — never a global per-user
    // ntile sort); ties share a bucket deterministically
    "events_rfm_segments" -> ((s, dir) =>
      EventAnalytics.rfmSegments(t(s, dir, "events"))),

    // mergeable quantile sketches: per-day fixed-width histogram bin
    // tables estimate daily p50/p90/p99 of event value, and the SAME bins
    // fold (counts add) into the all-time estimate without rescanning —
    // the property percentile() partials lack; bin math and the rank
    // interpolation are integer-exact, so estimates are bit-reproducible
    "events_quantile_sketch" -> ((s, dir) => {
      import graft.operators.Dedup.MaterializeSyntax
      val e = t(s, dir, "events")
      val day = date_format(col("ts").cast("date"), "yyyy-MM-dd")
      val regs = Sketches.histRegisters(e, day, col("value"), width = 4.0)
        .materialized
      Sketches.histQuantiles(
          regs.unionByName(Sketches.histMerge(regs, "ALL")), width = 4.0)
        .select(col("g").as("day"), col("n"), col("p50"), col("p90"), col("p99"))
    }),

    // streaming quantile-sketch maintenance: micro-batches append partial
    // histogram registers, the standing estimates read the folded store —
    // batch order can't change any answer, so the declared oracle is the
    // one-shot batch sketch itself
    "stream_quantile_sketch" -> ((s, dir) =>
      EventStream.quantileSketchAll(s, dir, width = 4.0)),

    // single most-likely level shift per event-type daily-count series
    // (binary-segmentation changepoint) — the monitoring primitive that
    // answers "when did this metric change" from window algebra alone
    "events_changepoint" -> ((s, dir) =>
      graft.operators.TimeSeries.changepoint(t(s, dir, "events"))),

    // robust monitoring: MAD-based daily-count anomaly flags per event
    // type — integer medians via the census walk, thresholds broadcast
    // back; the spike detector beside the level-shift changepoint
    "events_anomaly_mad" -> ((s, dir) =>
      graft.operators.TimeSeries.anomalyMad(t(s, dir, "events"))),

    // seasonal-naive forecast backtest: tomorrow ≈ same weekday last week
    // over per-type daily counts (lag-7 window), with per-type MAE/MAPE
    // over the evaluable days — the baseline every fancier forecaster
    // must beat, and a pure integer/decimal window pass
    "events_forecast_snaive" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val f = daily.withColumn("fc", lag(col("n"), 7).over(w))
      // all-integer error sums (abs diffs, and per-day ppm via integer
      // div) — exact and order-independent; doubles only at the final
      // per-type division
      f.where(col("fc").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("fc"))).as("mae_sum"),
          sum(expr("abs(n - fc) * 1000000L div n")).as("mape_ppm_sum"))
        .select(col("event_type"), col("n_days"),
          round(col("mae_sum").cast("double") / col("n_days"), 6).as("mae"),
          round(col("mape_ppm_sum").cast("double") / col("n_days"), 2).as("mape_ppm"))
    }),

    // capacity planning: per-day peak concurrent sessions via a per-day
    // sweep line over session boundary points (end-inclusive overlap)
    "events_peak_concurrency" -> ((s, dir) =>
      EventAnalytics.peakConcurrency(t(s, dir, "events"), gapMinutes = 30)),
  )

  /** Shared oracle for the batch histogram-quantile sketch and its
    * streaming maintenance form (they are provably equal). */
  private val quantileSketchSql =
    """WITH e AS (SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE),
            '%Y-%m-%d') AS g, value FROM events),
       regs AS (SELECT g, CAST(floor(value / 4.0) AS BIGINT) bin, count(*) cnt
                FROM e GROUP BY 1, 2),
       m AS (SELECT g, bin, cnt FROM regs
             UNION ALL
             SELECT 'ALL' AS g, bin, CAST(SUM(cnt) AS BIGINT) cnt
             FROM regs GROUP BY bin),
       b AS (SELECT g, bin, cnt,
              CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                ROWS UNBOUNDED PRECEDING) AS BIGINT) cum,
              CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) n FROM m),
       q50 AS (SELECT g, n, round(bin * 4.0 + 4.0 *
                (ceil(0.5 * n) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE), 6) p50
               FROM b WHERE cum >= ceil(0.5 * n) AND cum - cnt < ceil(0.5 * n)),
       q90 AS (SELECT g, round(bin * 4.0 + 4.0 *
                (ceil(0.9 * n) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE), 6) p90
               FROM b WHERE cum >= ceil(0.9 * n) AND cum - cnt < ceil(0.9 * n)),
       q99 AS (SELECT g, round(bin * 4.0 + 4.0 *
                (ceil(0.99 * n) - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE), 6) p99
               FROM b WHERE cum >= ceil(0.99 * n) AND cum - cnt < ceil(0.99 * n))
       SELECT q50.g AS day, q50.n, q50.p50, q90.p90, q99.p99
       FROM q50 JOIN q90 ON q50.g = q90.g JOIN q99 ON q50.g = q99.g"""

  /** Shared by the batch HLL query and its streaming maintenance form
    * (max-per-register folding provably equals the one-shot sketch). */
  private val hllDistinctSql =
    """WITH e AS (SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE),
              '%Y-%m-%d') AS g, user_id FROM events),
         h AS (SELECT g, CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))
                AS BIGINT) AS hv FROM e),
         r0 AS (SELECT g, hv & 63 AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 55
                      ELSE 55 - length(bin(hv >> 6)) END AS rho FROM h),
         m0 AS (SELECT g, reg, max(rho) AS mx FROM r0 GROUP BY 1, 2),
         m AS (SELECT * FROM m0 UNION ALL
               SELECT 'ALL' AS g, reg, max(mx) AS mx FROM m0 GROUP BY reg),
         z AS (SELECT g, count(*) AS n_regs,
                CAST(sum(1::BIGINT << (55 - mx)) AS BIGINT)
                  + (64 - count(*)) * (1::BIGINT << 55) AS zs
               FROM m GROUP BY 1),
         est AS (SELECT g, CAST(n_regs AS INT) AS n_regs,
                  round(CASE WHEN CAST(0.709 AS DOUBLE) * 64 * 64
                          * CAST(1::BIGINT << 55 AS DOUBLE) / CAST(zs AS DOUBLE)
                          <= 160.0 AND n_regs < 64
                        THEN 64.0 * ln(64.0 / (64 - n_regs))
                        ELSE CAST(0.709 AS DOUBLE) * 64 * 64
                          * CAST(1::BIGINT << 55 AS DOUBLE) / CAST(zs AS DOUBLE)
                        END, 4) AS est FROM z),
         ud AS (SELECT DISTINCT g, user_id FROM e),
         ex AS (SELECT g, count(*) AS n_exact FROM ud GROUP BY 1
                UNION ALL
                SELECT 'ALL' AS g, count(DISTINCT user_id) AS n_exact FROM ud)
         SELECT g AS day, n_exact, n_regs, est FROM est JOIN ex USING (g)"""

  /** Shared by the batch CDC snapshot and its streaming apply form
    * (per-key argmax partials fold to the one-shot answer). */
  private val cdcSnapshotSql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type, value, event_id
           FROM events),
         r AS (SELECT user_id, ts, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) rn FROM e)
         SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
         FROM r WHERE rn = 1 AND event_type <> 'error'"""

  /** Shared by events_scd2 and the as-of dimension lookup built on it. */
  private val scd2Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id, event_type
           FROM events),
         x AS (SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) prev FROM e),
         m AS (SELECT user_id, ts, event_id, event_type FROM x
               WHERE prev IS NULL OR event_type <> prev)
         SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         FROM m"""

  val oracle: Map[String, String] = Map(
    "events_anomaly_mad" ->
      """WITH daily AS (SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, count(*) n
           FROM events GROUP BY 1, 2),
         mc AS (SELECT event_type, n x, count(*) c FROM daily GROUP BY 1, 2),
         mw AS (SELECT event_type, x,
                 CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY x
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) cum,
                 CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) nd
                FROM mc),
         med AS (SELECT event_type, min(x) med FROM mw
                 WHERE cum * 2 >= nd GROUP BY 1),
         dv AS (SELECT daily.event_type, day, n, med, abs(n - med) dev
                FROM daily JOIN med USING (event_type)),
         dc AS (SELECT event_type, dev x, count(*) c FROM dv GROUP BY 1, 2),
         dw AS (SELECT event_type, x,
                 CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY x
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) cum,
                 CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) nd
                FROM dc),
         mad AS (SELECT event_type, min(x) mad FROM dw
                 WHERE cum * 2 >= nd GROUP BY 1)
         SELECT dv.event_type, day, n, med, mad, dev > 3 * mad AS anomaly
         FROM dv JOIN mad USING (event_type)""",
    "events_forecast_snaive" ->
      """WITH daily AS (SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, count(*) n
           FROM events GROUP BY 1, 2),
         f AS (SELECT event_type, n,
                lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) fc
               FROM daily)
         SELECT event_type, count(*) AS n_days,
           round(CAST(SUM(abs(n - fc)) AS DOUBLE) / count(*), 6) AS mae,
           round(CAST(SUM((abs(n - fc) * 1000000) // n) AS DOUBLE) / count(*), 2)
             AS mape_ppm
         FROM f WHERE fc IS NOT NULL GROUP BY 1""",
    "asof_join_events_orders" ->
      """WITH latest AS (
           SELECT e.event_id, e.user_id, e.ts,
             (SELECT max(o2.o_orderdate) FROM orders o2
              WHERE o2.o_custkey = e.user_id AND o2.o_orderdate <= e.ts) d
           FROM events e),
         pick AS (
           SELECT event_id, user_id, ts, d,
             (SELECT max(o.o_orderkey) FROM orders o
              WHERE o.o_custkey = pick0.user_id AND o.o_orderdate = pick0.d) k
           FROM latest pick0)
         SELECT event_id, user_id, k AS asof_orderkey,
           (SELECT o.o_totalprice FROM orders o WHERE o.o_orderkey = pick.k) AS asof_totalprice
         FROM pick""",
    "asof_join_nearest" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts FROM events),
         best AS (SELECT e.event_id, e.user_id, e.ts,
           (SELECT min(abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)))
            FROM orders o
            WHERE o.o_custkey = e.user_id
              AND abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)) <= 604800000000) d
          FROM e),
         dirn AS (SELECT event_id, user_id, ts, d,
           CASE WHEN d IS NULL THEN NULL
                WHEN EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = dirn0.user_id
                               AND epoch_us(o.o_orderdate) = epoch_us(dirn0.ts) - dirn0.d)
                THEN epoch_us(ts) - d ELSE epoch_us(ts) + d END pick_us
           FROM best dirn0),
         pick AS (SELECT event_id, user_id,
           (SELECT max(o.o_orderkey) FROM orders o
            WHERE o.o_custkey = dirn.user_id
              AND epoch_us(o.o_orderdate) = dirn.pick_us) k
          FROM dirn)
         SELECT event_id, user_id, k AS near_orderkey,
           (SELECT o.o_totalprice FROM orders o WHERE o.o_orderkey = pick.k)
             AS near_totalprice
         FROM pick""",
    "asof_join_tolerance" ->
      """WITH latest AS (
           SELECT e.event_id, e.user_id, e.ts,
             (SELECT max(o2.o_orderdate) FROM orders o2
              WHERE o2.o_custkey = e.user_id AND o2.o_orderdate <= e.ts
                AND o2.o_orderdate >= e.ts - INTERVAL 7 DAY) d
           FROM events e),
         pick AS (
           SELECT event_id, user_id, ts, d,
             (SELECT max(o.o_orderkey) FROM orders o
              WHERE o.o_custkey = pick0.user_id AND o.o_orderdate = pick0.d) k
           FROM latest pick0)
         SELECT event_id, user_id, k AS asof_orderkey,
           (SELECT o.o_totalprice FROM orders o WHERE o.o_orderkey = pick.k) AS asof_totalprice
         FROM pick""",
    "events_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
         x AS (SELECT user_id, event_id, ts, event_type,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev FROM e),
         y AS (SELECT user_id, event_id, ts, event_type,
                CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                     THEN 1 ELSE 0 END ns FROM x),
         z AS (SELECT user_id, event_id, ts, event_type,
                SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) session_id
               FROM y),
         p AS (SELECT user_id, session_id,
                string_agg(event_type, '>' ORDER BY ts, event_id) path
               FROM z GROUP BY 1, 2)
         SELECT path, count(*) AS n FROM p GROUP BY 1
         ORDER BY n DESC, path ASC LIMIT 20""",
    "events_incident_overlap" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
         x AS (SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev FROM e),
         y AS (SELECT user_id, event_id, ts,
                CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                     THEN 1 ELSE 0 END ns FROM x),
         z AS (SELECT user_id, ts,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) sid
               FROM y),
         sess AS (SELECT user_id, sid, min(ts) st, max(ts) en FROM z GROUP BY 1, 2),
         inc AS (SELECT event_id, ts - INTERVAL 30 MINUTE st, ts + INTERVAL 30 MINUTE en
                 FROM e WHERE event_type = 'error')
         SELECT CAST(sess.user_id AS VARCHAR) || ':' || CAST(sess.sid AS VARCHAR)
             AS session_id,
           inc.event_id AS error_id, sess.st AS s_start, sess.en AS s_end
         FROM sess JOIN inc ON sess.st <= inc.en AND inc.st <= sess.en""",
    "events_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
         x AS (SELECT event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) to_type
               FROM e),
         c AS (SELECT from_type, to_type, count(*) n FROM x
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) /
             SUM(n) OVER (PARTITION BY from_type), 6) AS p
         FROM c""",
    "events_activity_islands" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) d FROM events),
         g AS (SELECT user_id, d,
                d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INT) grp
               FROM ud)
         SELECT user_id, CAST(min(d) AS TIMESTAMP) AS streak_start,
           CAST(max(d) AS TIMESTAMP) AS streak_end, count(*) AS n_days
         FROM g GROUP BY user_id, grp""",
    "stream_windowed_agg" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "stream_sliding_agg" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) ts, event_type,
             CAST(value AS DECIMAL(18,4)) v FROM events),
         x AS (SELECT unnest([
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL 1 HOUR,
                 time_bucket(INTERVAL '1 hour', ts)]) ws,
               event_type, v FROM e)
         SELECT ws AS window_start, event_type, COUNT(*) AS n,
           CAST(SUM(v) AS DOUBLE) AS sum_value
         FROM x GROUP BY 1, 2""",
    "stream_ann_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         cent AS (SELECT vec_id cid, v cv FROM e
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         asn AS (SELECT nid, cell FROM (
                  SELECT e.vec_id nid, cent.cid cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                               cent.cid ASC) rn
                  FROM e, cent) WHERE rn = 1)
         SELECT cell, COUNT(*) AS n_vecs FROM asn GROUP BY 1""",
    // streaming fold ≡ one-shot monitor (associative partials), so the
    // batch drift oracle is shared verbatim
    "stream_drift_monitor" -> graft.queries.NorthStar.annIvfDriftSql,
    "stream_static_join" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2""",
    "stream_quality_monitor" ->
      """WITH d AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) n_tokens,
             TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE ts
           FROM documents)
         SELECT date_trunc('hour', ts) AS window_start, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) AS avg_tokens,
           round(CAST(SUM(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*), 6)
             AS short_frac
         FROM d GROUP BY 1, 2""",
    "sessionize_events" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts FROM events),
         x AS (SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts FROM e),
         y AS (SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END ns FROM x),
         z AS (SELECT user_id, ts,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) session_id
               FROM y)
         SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS session_start
         FROM z GROUP BY 1, 2""",
    "stream_session_window" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts FROM events),
         x AS (SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts FROM e),
         y AS (SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                     THEN 1 ELSE 0 END ns FROM x),
         z AS (SELECT user_id, ts,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) sid
               FROM y)
         SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
         FROM z GROUP BY user_id, sid""",
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts FROM events),
         x AS (SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts FROM e),
         y AS (SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END ns FROM x),
         z AS (SELECT user_id, ts,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) session_id
               FROM y)
         SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
         FROM z GROUP BY user_id, session_id""",
    "stream_dedup_events" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events""",
    // pairs surface exactly once across micro-batches, so the streamed
    // union equals the one-shot LSH pair search
    "stream_dedup_incremental" -> NorthStar.minhashSql,
    "stream_cms_heavy_hitters" -> NorthStar.cmsHeavyHittersSql,
    "stream_stream_join" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) ts, user_id, event_type, value FROM events),
         c AS (SELECT user_id, event_id click_id, ts c_ts FROM e WHERE event_type = 'click'),
         b AS (SELECT user_id, event_id purchase_id, ts b_ts, value amount FROM e WHERE event_type = 'purchase')
         SELECT user_id, click_id, purchase_id, c_ts, b_ts, amount
         FROM c JOIN b USING (user_id)
         WHERE b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTE""",
    "events_resample_locf" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) h, value
           FROM events),
         hr AS (SELECT user_id, h, COUNT(*) n_events, MAX(value) v_max
                FROM e GROUP BY 1, 2),
         span AS (SELECT user_id, MIN(h) h0, MAX(h) h1 FROM e GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 hour)) h
                  FROM span)
         SELECT g.user_id, g.h AS hour_start,
           COALESCE(n_events, 0) AS n_events,
           last_value(v_max IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
         FROM grid g LEFT JOIN hr ON g.user_id = hr.user_id AND g.h = hr.h""",
    "stream_late_drop" -> EventStream.lateDropAuditSql(),
    "events_resample_interp" ->
      graft.operators.TimeSeries.resampleHourlyInterpSql(),
    "events_seasonal_index" ->
      graft.operators.TimeSeries.seasonalIndexSql(),
    "events_trend_ols" ->
      graft.operators.TimeSeries.trendOlsSql(),
    "events_feature_lags" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value,
             CAST(round(value * 100) AS BIGINT) cents
           FROM events)
         SELECT user_id, event_id, ts, value,
           CAST(lag(cents, 1) OVER w AS DOUBLE) / 100 AS lag1,
           CAST(lag(cents, 2) OVER w AS DOUBLE) / 100 AS lag2,
           CAST(SUM(cents) OVER w3 AS DOUBLE)
             / CAST(100 * COUNT(*) OVER w3 AS DOUBLE) AS mean3,
           epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)""",
    "events_stickiness" ->
      """WITH ud AS (SELECT DISTINCT
             date_trunc('month', CAST(ts AS TIMESTAMP)) mon,
             date_trunc('day', CAST(ts AS TIMESTAMP)) "day", user_id
           FROM events),
         daily AS (SELECT mon, "day", count(*) dau FROM ud GROUP BY 1, 2),
         monthly AS (SELECT mon, count(DISTINCT user_id) mau FROM ud GROUP BY 1),
         agg AS (SELECT mon, count(*) n_days,
                  CAST(SUM(dau) AS BIGINT) sum_dau FROM daily GROUP BY 1)
         SELECT a.mon AS month_start, n_days, sum_dau, mau,
           round(CAST(sum_dau AS DOUBLE) / CAST(n_days * mau AS DOUBLE), 6)
             AS stickiness
         FROM agg a JOIN monthly m ON a.mon = m.mon""",
    "events_bitmap_retention" ->
      """WITH b AS (SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) mon,
             user_id,
             bit_or(CAST(1 AS BIGINT) << (day(CAST(ts AS TIMESTAMP)) - 1)) bm
           FROM events GROUP BY 1, 2)
         SELECT mon AS month_start, CAST(bit_count(bm) AS INT) AS active_days,
           count(*) AS n_users
         FROM b GROUP BY 1, 2""",
    // streamed ≡ batch by the bit_or merge law — the batch bitmap IS the oracle
    "stream_bitmap_retention" ->
      """WITH b AS (SELECT date_trunc('month', CAST(ts AS TIMESTAMP)) mon,
             user_id,
             bit_or(CAST(1 AS BIGINT) << (day(CAST(ts AS TIMESTAMP)) - 1)) bm
           FROM events GROUP BY 1, 2)
         SELECT mon AS month_start, CAST(bit_count(bm) AS INT) AS active_days,
           count(*) AS n_users
         FROM b GROUP BY 1, 2""",
    "sliding_window_counts" ->
      """WITH e AS (SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) h FROM events),
         x AS (SELECT h AS ws FROM e
               UNION ALL SELECT h - INTERVAL '1 hour' AS ws FROM e)
         SELECT ws AS window_start, COUNT(*) AS n FROM x GROUP BY 1""",
    "multimodal_audio_stats" ->
      """WITH d AS (SELECT doc_id, 800 + doc_id % 100 AS n, 1 + doc_id % 7 AS f
            FROM documents),
         s AS (SELECT doc_id, n, f, unnest(generate_series(0, n - 1)) AS i FROM d),
         v AS (SELECT doc_id, n, abs(((i * f) % 256 - 128) * 256) AS a FROM s)
         SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
           CAST(max(n) AS BIGINT) AS n_samples, CAST(max(a) AS BIGINT) AS peak,
           CAST(SUM(a) // max(n) AS BIGINT) AS mean_abs
         FROM v GROUP BY doc_id""",
    "multimodal_audio_dedup" ->
      """WITH d AS (SELECT doc_id, 800 + doc_id % 100 AS n, 1 + doc_id % 7 AS f
            FROM documents),
         s AS (SELECT doc_id, n, f, unnest(generate_series(0, n - 1)) AS i FROM d),
         v AS (SELECT doc_id, (i * 8) // n AS b,
                 abs(((i * f) % 256 - 128) * 256) AS a FROM s),
         e AS (SELECT doc_id, b, CAST(SUM(a) AS BIGINT) eb FROM v GROUP BY 1, 2),
         t AS (SELECT doc_id, CAST(SUM(eb) AS BIGINT) tot FROM e GROUP BY 1),
         fph AS (SELECT e.doc_id,
                  CAST(SUM(CASE WHEN 8 * eb > tot THEN 1 << b ELSE 0 END)
                    AS BIGINT) fp
                 FROM e JOIN t USING (doc_id) GROUP BY 1),
         c AS (SELECT fp, min(doc_id) cluster_id FROM fph GROUP BY 1)
         SELECT doc_id, fph.fp, cluster_id FROM fph JOIN c USING (fp)""",
    "multimodal_image_dims" ->
      """SELECT doc_id,
           CAST(1 + doc_id % 64 AS BIGINT) AS width,
           CAST(1 + length(text) % 48 AS BIGINT) AS height,
           CAST((doc_id * 7) % 256 AS BIGINT) AS mean_r,
           CAST((doc_id * 11) % 256 AS BIGINT) AS mean_g,
           CAST((doc_id * 13) % 256 AS BIGINT) AS mean_b
         FROM documents""",
    "multimodal_phash_dedup" ->
      """WITH h AS (SELECT doc_id,
             repeat(printf('%02x', 256 - (1 << (8 - (1 + doc_id % 7)))), 8) ahash
           FROM documents),
         c AS (SELECT ahash, min(doc_id) cluster_id FROM h GROUP BY 1)
         SELECT doc_id, h.ahash, cluster_id FROM h JOIN c USING (ahash)""",
    "multimodal_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
             CAST(ceil(length(text)/128.0) AS INT) n_frames
           FROM documents WHERE length(text) > 0),
         x AS (SELECT doc_id, text, n_frames, unnest(range(n_frames)) i FROM f)
         SELECT doc_id, CAST(i AS INT) AS frame_idx,
           md5(substring(text, CAST(i*128+1 AS INT), 128)) AS frame_md5, n_frames
         FROM x WHERE i % 2 = 0""",
    "multimodal_resize" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
           CAST(len(range(0, length(text), 4)) AS INT) AS r_chars,
           md5(array_to_string(list_transform(range(0, length(text), 4),
             i -> substring(text, CAST(i+1 AS INT), 1)), '')) AS resized_md5
         FROM documents WHERE length(text) > 0""",
    "events_funnel" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
         s1 AS (SELECT user_id, min(ts) t FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) t FROM e
                JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
                WHERE e.event_type = 'click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) t FROM e
                JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
                WHERE e.event_type = 'purchase' GROUP BY 1),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS users FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         SELECT stage, stage_name, users,
           round(CAST(users AS DOUBLE) /
             (SELECT CAST(count(*) AS DOUBLE) FROM s1), 6) AS conv_rate
         FROM c""",
    "events_funnel_windowed" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
         s1 AS (SELECT user_id, min(ts) t FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) t FROM e
                JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
                  AND e.ts <= s1.t + INTERVAL 60 MINUTE
                WHERE e.event_type = 'click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) t FROM e
                JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
                  AND e.ts <= s2.t + INTERVAL 60 MINUTE
                WHERE e.event_type = 'purchase' GROUP BY 1),
         c AS (SELECT 1 AS stage, 'view' AS stage_name, count(*) AS users FROM s1
               UNION ALL SELECT 2, 'click', count(*) FROM s2
               UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
         SELECT stage, stage_name, users,
           round(CAST(users AS DOUBLE) /
             (SELECT CAST(count(*) AS DOUBLE) FROM s1), 6) AS conv_rate
         FROM c""",
    "events_retention_halflife" ->
      graft.operators.EventAnalytics.retentionHalfLifeSql(),
    "events_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events),
         c AS (SELECT user_id, date_trunc('week', min(ts)) cohort_week FROM e GROUP BY 1)
         SELECT c.cohort_week,
           CAST(date_diff('day', CAST(c.cohort_week AS DATE),
             CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT) AS week_no,
           count(DISTINCT e.user_id) AS active_users
         FROM e JOIN c USING (user_id)
         GROUP BY 1, 2""",
    "events_survival_km" -> EventAnalytics.survivalKmSql(3),
    "events_new_returning" ->
      """WITH e AS (SELECT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) d FROM events),
         ud AS (SELECT DISTINCT user_id, d FROM e),
         fd AS (SELECT user_id, min(d) first_day FROM ud GROUP BY 1)
         SELECT CAST(ud.d AS TIMESTAMP) AS "day",
           count(CASE WHEN ud.d = first_day THEN 1 END) AS n_new,
           count(CASE WHEN ud.d <> first_day THEN 1 END) AS n_returning
         FROM ud JOIN fd USING (user_id) GROUP BY 1""",
    "events_funnel_ttc" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
         f AS (SELECT user_id, min(ts) t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
         d AS (SELECT e.user_id,
                (epoch_us(min(e.ts)) - epoch_us(max(t1))) // 1000000 AS d
               FROM e JOIN f USING (user_id)
               WHERE event_type = 'purchase' AND ts >= t1 GROUP BY 1),
         c AS (SELECT d, count(*) c FROM d GROUP BY 1),
         b AS (SELECT d,
                CAST(SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) cum,
                CAST(SUM(c) OVER () AS BIGINT) n FROM c)
         SELECT max(n) AS n_converted,
           min(CASE WHEN cum * 2 >= n THEN d END) AS p50_secs,
           min(CASE WHEN cum * 10 >= n * 9 THEN d END) AS p90_secs
         FROM b""",
    "events_cdc_snapshot" -> cdcSnapshotSql,
    "stream_cdc_apply" -> cdcSnapshotSql,
    "events_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
         dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
         ex AS (SELECT user_id,
                 CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                   CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                   INTERVAL 1 DAY)) AS DATE) AS day
                FROM ud),
         wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM ex GROUP BY 1)
         SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, w.wau
         FROM dau d JOIN wau w USING (day)""",
    "basket_item_pairs" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
           FROM lineitem),
         keep AS (SELECT basket FROM d GROUP BY basket HAVING count(*) <= 20)
         SELECT x.item AS item_a, y.item AS item_b, count(*) AS support
         FROM d x JOIN keep USING (basket)
         JOIN d y ON x.basket = y.basket AND x.item < y.item
         GROUP BY 1, 2 HAVING count(*) >= 3""",
    "basket_association_rules" ->
      """WITH d AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
           FROM lineitem),
         sets AS (SELECT basket FROM d GROUP BY basket
                  HAVING count(*) BETWEEN 2 AND 20),
         k AS (SELECT d.basket, d.item FROM d JOIN sets USING (basket)),
         pair AS (SELECT x.item a, y.item b, count(*) support
                  FROM k x JOIN k y ON x.basket = y.basket AND x.item < y.item
                  GROUP BY 1, 2 HAVING count(*) >= 3),
         isup AS (SELECT item, count(*) n_item FROM k GROUP BY 1),
         tot AS (SELECT count(*) n_baskets FROM sets),
         dir AS (SELECT a antecedent, b consequent, support FROM pair
                 UNION ALL SELECT b, a, support FROM pair)
         SELECT antecedent, consequent, support,
           round(CAST(support AS DOUBLE) / ia.n_item, 6) AS confidence,
           round(CAST(support AS DOUBLE) * (SELECT n_baskets FROM tot)
             / (ia.n_item * ic.n_item), 6) AS lift
         FROM dir
         JOIN isup ia ON ia.item = dir.antecedent
         JOIN isup ic ON ic.item = dir.consequent""",
    "events_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts,
             event_type, value FROM events),
         p AS (SELECT event_id pid, user_id, ts pts, value FROM e
               WHERE event_type = 'purchase'),
         t AS (SELECT user_id, ts, event_id, event_type FROM e
               WHERE event_type IN ('view', 'click')),
         j AS (SELECT p.pid, p.value, t.event_type,
                row_number() OVER (PARTITION BY p.pid
                  ORDER BY t.ts DESC, t.event_id DESC) rn
               FROM p LEFT JOIN t ON t.user_id = p.user_id
                 AND t.ts < p.pts AND t.ts >= p.pts - INTERVAL 7 DAY),
         last AS (SELECT pid, value, event_type FROM j WHERE rn = 1)
         SELECT coalesce(event_type, 'none') AS last_touch_type,
           count(*) AS n_purchases,
           ${Tables.dsumSql("value")} AS attributed_value
         FROM last GROUP BY 1""",
    "events_incremental_agg" ->
      s"""SELECT user_id, count(*) AS n_events,
            ${Tables.dsumSql("value")} AS v_sum
          FROM events GROUP BY 1""",
    "events_scd2" -> scd2Sql,
    "events_scd2_lookup" ->
      s"""WITH dim AS ($scd2Sql)
          SELECT o_orderkey, o_custkey, state
          FROM orders LEFT JOIN dim
            ON o_custkey = user_id AND valid_from <= o_orderdate
            AND (valid_to IS NULL OR o_orderdate < valid_to)""",
    "multimodal_features" ->
      """SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS height
         FROM documents""",
    // literal mirror of Sketches: low-60-bit md5 hash, register = low 6
    // bits, rho from bin() length, Z scaled by 2^55 in integer arithmetic;
    // the merged 'ALL' sketch is max-per-register over the daily sketches
    "events_hll_distinct" -> hllDistinctSql,
    "stream_hll_distinct" -> hllDistinctSql,
    "events_hll_setops" ->
      """WITH e AS (SELECT event_type, user_id FROM events
             WHERE event_type IN ('view', 'purchase')),
         h AS (SELECT event_type AS g,
                CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))
                  AS BIGINT) AS hv FROM e),
         r0 AS (SELECT g, hv & 63 AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 55
                      ELSE 55 - length(bin(hv >> 6)) END AS rho FROM h),
         m0 AS (SELECT g, reg, max(rho) AS mx FROM r0 GROUP BY 1, 2),
         m AS (SELECT * FROM m0 UNION ALL
               SELECT 'UNION' AS g, reg, max(mx) AS mx FROM m0 GROUP BY reg),
         z AS (SELECT g, count(*) AS n_regs,
                CAST(sum(1::BIGINT << (55 - mx)) AS BIGINT)
                  + (64 - count(*)) * (1::BIGINT << 55) AS zs
               FROM m GROUP BY 1),
         est AS (SELECT g,
                  round(CASE WHEN CAST(0.709 AS DOUBLE) * 64 * 64
                          * CAST(1::BIGINT << 55 AS DOUBLE) / CAST(zs AS DOUBLE)
                          <= 160.0 AND n_regs < 64
                        THEN 64.0 * ln(64.0 / (64 - n_regs))
                        ELSE CAST(0.709 AS DOUBLE) * 64 * 64
                          * CAST(1::BIGINT << 55 AS DOUBLE) / CAST(zs AS DOUBLE)
                        END, 4) AS est FROM z),
         wide AS (SELECT
                   max(CASE WHEN g = 'view' THEN est END) est_view,
                   max(CASE WHEN g = 'purchase' THEN est END) est_purchase,
                   max(CASE WHEN g = 'UNION' THEN est END) est_union
                  FROM est),
         bothu AS (SELECT CAST(count(*) AS BIGINT) exact_intersect FROM (
                    SELECT user_id FROM (SELECT DISTINCT event_type, user_id FROM e)
                    GROUP BY user_id HAVING count(*) = 2))
         SELECT est_view, est_purchase, est_union,
           round(est_view + est_purchase - est_union, 4) AS est_intersect,
           exact_intersect
         FROM wide, bothu""",
    "events_rfm_segments" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events),
         a AS (SELECT max(ts) anchor FROM e),
         per AS (SELECT user_id,
                  CAST(date_diff('day', CAST(max(ts) AS DATE),
                    CAST((SELECT anchor FROM a) AS DATE)) AS INT) recency_days,
                  count(*) frequency,
                  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) monetary
                 FROM e GROUP BY 1),
         nn AS (SELECT count(*) n FROM per),
         rc AS (SELECT x, CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
                FROM (SELECT recency_days x, count(*) c FROM per GROUP BY 1)),
         rb AS (SELECT min(CASE WHEN cum*4 >= (SELECT n FROM nn)*1 THEN x END) b1,
                       min(CASE WHEN cum*4 >= (SELECT n FROM nn)*2 THEN x END) b2,
                       min(CASE WHEN cum*4 >= (SELECT n FROM nn)*3 THEN x END) b3 FROM rc),
         fc AS (SELECT x, CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
                FROM (SELECT frequency x, count(*) c FROM per GROUP BY 1)),
         fb AS (SELECT min(CASE WHEN cum*4 >= (SELECT n FROM nn)*1 THEN x END) b1,
                       min(CASE WHEN cum*4 >= (SELECT n FROM nn)*2 THEN x END) b2,
                       min(CASE WHEN cum*4 >= (SELECT n FROM nn)*3 THEN x END) b3 FROM fc),
         mc AS (SELECT x, CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
                FROM (SELECT monetary x, count(*) c FROM per GROUP BY 1)),
         mb AS (SELECT min(CASE WHEN cum*4 >= (SELECT n FROM nn)*1 THEN x END) b1,
                       min(CASE WHEN cum*4 >= (SELECT n FROM nn)*2 THEN x END) b2,
                       min(CASE WHEN cum*4 >= (SELECT n FROM nn)*3 THEN x END) b3 FROM mc),
         sc AS (SELECT user_id, recency_days, frequency, monetary,
                 5 - (1 + CAST(recency_days > rb.b1 AS INT)
                        + CAST(recency_days > rb.b2 AS INT)
                        + CAST(recency_days > rb.b3 AS INT)) AS r_score,
                 1 + CAST(frequency > fb.b1 AS INT)
                   + CAST(frequency > fb.b2 AS INT)
                   + CAST(frequency > fb.b3 AS INT) AS f_score,
                 1 + CAST(monetary > mb.b1 AS INT)
                   + CAST(monetary > mb.b2 AS INT)
                   + CAST(monetary > mb.b3 AS INT) AS m_score
                FROM per, rb, fb, mb)
         SELECT user_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS segment
         FROM sc""",
    "events_quantile_sketch" -> quantileSketchSql,
    "stream_quantile_sketch" -> quantileSketchSql,
    "events_peak_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts FROM events),
         x AS (SELECT user_id, event_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_ts FROM e),
         y AS (SELECT user_id, event_id, ts,
                CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END ns FROM x),
         z AS (SELECT user_id, ts,
                SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) sid FROM y),
         s AS (SELECT user_id, sid, min(ts) s_start, max(ts) s_end FROM z GROUP BY 1, 2),
         d AS (SELECT s_start, s_end,
                unnest(generate_series(date_trunc('day', s_start),
                  date_trunc('day', s_end), INTERVAL 1 DAY)) AS day FROM s),
         pts AS (SELECT day, greatest(s_start, day) AS ts, 1 AS delta FROM d
                 UNION ALL
                 SELECT day, least(s_end, day + INTERVAL 1 DAY) AS ts, -1 AS delta FROM d),
         r AS (SELECT day, SUM(delta) OVER (PARTITION BY day
                 ORDER BY ts, delta DESC ROWS UNBOUNDED PRECEDING) run FROM pts)
         SELECT day, CAST(max(run) AS INT) AS peak FROM r GROUP BY 1""",
    "events_changepoint" ->
      """WITH e AS (SELECT event_type,
              date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
         d AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2),
         c AS (SELECT event_type, day,
                row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
                sum(n) OVER (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS s,
                count(*) OVER (PARTITION BY event_type) AS nd,
                sum(n) OVER (PARTITION BY event_type) AS stot
               FROM d),
         sc AS (SELECT event_type, day,
                 CAST(s AS DOUBLE) / t AS mean_l,
                 CAST(stot - s AS DOUBLE) / (nd - t) AS mean_r,
                 abs(CAST(s AS DOUBLE) / t
                   - CAST(stot - s AS DOUBLE) / (nd - t))
                   * sqrt(CAST(t * (nd - t) AS DOUBLE) / nd) AS raw_stat
                FROM c WHERE t < nd),
         b AS (SELECT *, row_number() OVER (PARTITION BY event_type
                 ORDER BY raw_stat DESC, day ASC) AS rk FROM sc)
         SELECT event_type, day AS change_day, round(raw_stat, 6) AS stat,
           round(mean_l, 6) AS mean_before, round(mean_r, 6) AS mean_after
         FROM b WHERE rk = 1""",
  )
}
