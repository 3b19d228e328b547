package graft

import java.sql.Timestamp

import graft.operators.{AsOf, Multimodal}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** As-of join edge semantics, streaming-vs-batch agreement, sessionization,
  * and multimodal plumbing. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("replaySafeFrame: folded-id replay gets pre-fold, newer gets post-fold, older refuses loudly") {
    import graft.streaming.CorpusStream.replaySafeFrame
    assert(replaySafeFrame(5L, 5L, "pre", "post") === "pre")
    assert(replaySafeFrame(6L, 5L, "pre", "post") === "post")
    assert(replaySafeFrame(0L, -1L, "pre", "post") === "post") // cold start
    // a replay strictly behind the fold has no correct frame left: both
    // retained frames contain its own signatures — must fail, not self-match
    val e = intercept[IllegalArgumentException](
      replaySafeFrame(4L, 5L, "pre", "post"))
    assert(e.getMessage.contains("replayed BEHIND"))
  }

  test("asOfJoin: inclusive <=, latest-wins, tiebreak on max key, null when no match") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 12:00:00")),  // exact tie with right row
      (2L, 10L, ts("2024-01-01 11:59:59")),  // just before → earlier match
      (3L, 10L, ts("2023-01-01 00:00:00")),  // before all → null
      (4L, 99L, ts("2024-06-01 00:00:00"))   // unknown key → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 10:00:00"), 10.0),
      (101L, 10L, ts("2024-01-01 12:00:00"), 20.0), // tie instant
      (102L, 10L, ts("2024-01-01 12:00:00"), 30.0), // same instant, higher key wins
      (103L, 10L, ts("2024-02-01 00:00:00"), 40.0)  // future → never visible
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = AsOf.asOfJoin(left, right,
        col("user_id"), col("o_custkey"), col("ts"), col("o_orderdate"),
        Seq(col("o_orderkey"), col("o_totalprice")), col("o_orderkey"))
      .select(col("event_id"), col("asof.o_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got(1L) === Some(102L)) // inclusive, max-key tiebreak
    assert(got(2L) === Some(100L))
    assert(got(3L) === None)
    assert(got(4L) === None)
  }

  test("nearestJoin: closer side wins, equidistant prefers backward, tolerance bounds both ways") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 12:00:00")),  // same instant → backward at 0
      (2L, 10L, ts("2024-01-01 13:00:00")),  // 1h after noon vs 23h before next → backward
      (3L, 10L, ts("2024-01-02 11:00:00")),  // 1h before day-2 noon → forward
      (4L, 10L, ts("2024-01-01 18:00:00")),  // equidistant 6h → backward wins
      (5L, 10L, ts("2024-03-01 00:00:00")),  // > tolerance both ways → null
      (6L, 99L, ts("2024-01-01 12:00:00"))   // unknown key → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 12:00:00"), 10.0),
      (101L, 10L, ts("2024-01-01 12:00:00"), 20.0), // same instant, higher key wins
      (102L, 10L, ts("2024-01-02 12:00:00"), 30.0)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = AsOf.nearestJoin(left, right,
        col("user_id"), col("o_custkey"), col("ts"), col("o_orderdate"),
        Seq(col("o_orderkey"), col("o_totalprice")), col("o_orderkey"),
        toleranceMicros = 7L * 86400L * 1000000L)
      .select(col("event_id"), col("nearest.o_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got(1L) === Some(101L)) // instant tie → greatest-key right row
    assert(got(2L) === Some(101L))
    assert(got(3L) === Some(102L)) // strictly-later match via the forward carry
    assert(got(4L) === Some(101L)) // equidistant → backward
    assert(got(5L) === None)
    assert(got(6L) === None)
  }

  test("as-of family: NULL keys match nothing (SQL join semantics), never each other") {
    // the hash-partitioning hazard: NULL-key left rows land in the NULL
    // partition WITH NULL-key right rows — SQL (and pandas merge_asof)
    // gives them no match instead
    val left = Seq(
      (1L, Some(10L), ts("2024-01-01 12:00:00")),
      (2L, None,      ts("2024-01-01 12:00:00"))   // NULL key → no match
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, Some(10L), ts("2024-01-01 10:00:00"), 10.0),
      (101L, None,      ts("2024-01-01 11:00:00"), 66.6) // NULL key → matches nothing
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val asof = AsOf.asOfJoin(left, right,
        col("user_id"), col("o_custkey"), col("ts"), col("o_orderdate"),
        Seq(col("o_orderkey")), col("o_orderkey"))
      .select(col("event_id"), col("asof.o_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    assert(asof(1L) === Some(100L))
    assert(asof(2L) === None)
    val nearest = AsOf.nearestJoin(left, right,
        col("user_id"), col("o_custkey"), col("ts"), col("o_orderdate"),
        Seq(col("o_orderkey")), col("o_orderkey"),
        toleranceMicros = 7L * 86400L * 1000000L)
      .select(col("event_id"), col("nearest.o_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    assert(nearest(1L) === Some(100L))
    assert(nearest(2L) === None)
  }

  test("WavCodec: WAV container round-trip is sample-exact, format preserved") {
    val samples = Array.tabulate(1000)(i => (((i * 3) % 256 - 128) * 256).toShort)
    val (rate, decoded) = Multimodal.WavCodec.decode(
      Multimodal.WavCodec.encode(8000, samples))
    assert(rate === 8000)
    assert(decoded.length === 1000)
    assert(decoded.sameElements(samples))
    // int16 extremes survive the byte split/reassembly
    val edge = Array[Short](Short.MinValue, Short.MaxValue, 0, -1)
    assert(Multimodal.WavCodec.decode(
      Multimodal.WavCodec.encode(44100, edge))._2.sameElements(edge))
  }

  test("streaming windowed agg equals the batch plan over the same data") {
    val streamed = EventStream.windowedAggAppendAll(spark, sf001)
      .orderBy("window_start", "event_type")
      .collect().toSeq
    val batch = graft.queries.Tables.events(spark, sf001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("RocksDB state backend: provider conf binds to stateful queries; results ≡ default heap store") {
    import graft.streaming.StateBackend
    // the provider conf is HONORED on this path — a bogus class must fail
    // the query, so the parity run below provably exercised RocksDB
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", "graft.NoSuchProvider")
    try intercept[Exception] { EventStream.windowedAggAppendAll(spark, sf001).collect() }
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    // the failed query's staged input, checkpoint and sink went with it
    val scratchRoot = new java.io.File(graft.sources.Publish.root, "graft-scratch")
    assert(scratchRoot.isDirectory, s"no scratch root at $scratchRoot")
    assert(scratchRoot.list().isEmpty, scratchRoot.list().mkString(", "))
    val default = EventStream.windowedAggAppendAll(spark, sf001)
      .orderBy("window_start", "event_type").collect().toSeq
    val rocks = StateBackend.withRocksDB(spark) {
      EventStream.windowedAggAppendAll(spark, sf001)
        .orderBy("window_start", "event_type").collect().toSeq
    }
    assert(rocks === default)
    // withRocksDB restored the prior (heap-backed) provider on exit —
    // getOption surfaces the conf DEFAULT, so assert it is not RocksDB
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .contains(StateBackend.RocksDBProvider))
  }

  test("streaming span removal: cross-batch registry handoff ≡ the one-shot rewrite") {
    val got = graft.streaming.CorpusStream.spanRemovalAll(spark, sf001, 8)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = graft.operators.Dedup.removeRepeatedSpans(
      graft.queries.Tables.t(spark, sf001, "documents"), 8)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    assert(got === oneShot)
  }

  test("append-mode file-sink windowed agg: watermark-closed windows equal the batch result") {
    import graft.streaming.StreamHarness
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_append").toString
    val evs = graft.queries.Tables.events(spark, sf001)
      .select(col("ts"), col("event_type"), col("value"))
    // sentinel 10.5 h past the last event: advances the watermark beyond
    // every real window's end; its own window stays open and is never
    // emitted, so the appended output covers exactly the real events
    // (no filter on the sink's contents)
    val maxTs = evs.agg(max("ts")).as[Timestamp].head()
    val sentinel = Seq((new Timestamp(maxTs.getTime + 37800000L), "sentinel", 0.0))
      .toDF("ts", "event_type", "value")
    evs.write.parquet(s"$tmp/in")
    sentinel.write.mode("append").parquet(s"$tmp/in")
    val agg = spark.readStream.schema(spark.read.parquet(s"$tmp/in").schema).parquet(s"$tmp/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    val got = StreamHarness.appendToFiles(agg, tmp)
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = evs
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(got.nonEmpty)
    assert(got === batch)
  }

  test("sessionize: session breaks exactly at the inactivity gap") {
    val sessions = EventStream.sessionize(spark, sf001, 30)
    val total = sessions.agg(sum("n_events")).as[Long].head()
    assert(total === 1000) // every event lands in exactly one session
    // session ids are dense per user starting at 1
    val ids = sessions.groupBy("user_id").agg(min("session_id").as("mn"))
    assert(ids.where(col("mn") =!= 1).count() === 0)
  }

  test("incremental sessionization: flatMapGroupsWithState emits closed sessions matching batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream.{Ev, Session}
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = graft.streaming.EventStream
      .sessionizeIncremental(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("inc_sessions").start()
    try {
      // user 7: two events 5 min apart (one session), then a 2h gap
      input.addData(
        Ev(7L, 1L, ts("2024-01-01 10:00:00")),
        Ev(7L, 2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // nothing closed yet: watermark hasn't passed start+gap
      assert(spark.table("inc_sessions").count() === 0)
      // a much later event advances the watermark past 10:05+30min,
      // closing the first session and opening a new one
      input.addData(Ev(7L, 3L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      input.addData(Ev(7L, 4L, ts("2024-01-01 16:00:00")))
      q.processAllAvailable()
      val closed = spark.table("inc_sessions").as[Session].collect()
        .map(s => (s.user_id, s.session_start.toString, s.n_events)).toSet
      assert(closed.contains((7L, "2024-01-01 10:00:00.0", 2L)))
      assert(closed.contains((7L, "2024-01-01 13:00:00.0", 1L)))
    } finally q.stop()
  }

  test("stream-stream join: watermarked interval join matches the batch join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)] // (user, clickTime)
    val buys = MemoryStream[(Long, java.sql.Timestamp)]   // (user, buyTime)
    val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "1 hour")
    val b = buys.toDF().toDF("b_user", "b_ts").withWatermark("b_ts", "1 hour")
    // buys attributed to a click within the preceding 30 minutes
    val joined = c.join(b,
      col("c_user") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
      buys.addData((1L, ts("2024-01-01 10:10:00")),   // within 30 min → match
        (2L, ts("2024-01-01 11:30:00")),              // too late → no match
        (3L, ts("2024-01-01 10:15:00")))              // no click → no match
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select("c_user", "b_ts").as[(Long, java.sql.Timestamp)].collect().toSet
      // the streamed result must equal the BATCH interval join over the
      // same rows (pins streaming/batch boundary-semantics agreement)
      val cb = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
        .toDF("c_user", "c_ts")
      val bb = Seq((1L, ts("2024-01-01 10:10:00")), (2L, ts("2024-01-01 11:30:00")),
        (3L, ts("2024-01-01 10:15:00"))).toDF("b_user", "b_ts")
      val batch = cb.join(bb,
          col("c_user") === col("b_user") &&
            col("b_ts") >= col("c_ts") &&
            col("b_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .select("c_user", "b_ts").as[(Long, java.sql.Timestamp)].collect().toSet
      assert(got === batch)
      assert(got === Set((1L, ts("2024-01-01 10:10:00"))))
    } finally q.stop()
  }

  test("streaming incremental dedup: each pair surfaces in exactly one micro-batch; union = one-shot LSH") {
    import graft.streaming.CorpusStream
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val staging = java.nio.file.Files.createTempDirectory("graft-cs").toString
    docs.repartition(4).write.mode("overwrite").parquet(s"$staging/in")
    val batches = CorpusStream.run(spark, s"$staging/in", s"$staging/out",
      s"$staging/ckpt", n = 3, minEst = 0.5)
    assert(batches.length === 4)
    val perBatch = batches.map(b => spark.read.parquet(b.path)
      .select("a", "b").as[(Long, Long)].collect().toSet)
    // disjoint: a pair is emitted only when its LATER member arrives
    perBatch.combinations(2).foreach { case Seq(x, y) =>
      assert((x & y).isEmpty, "a pair surfaced in two micro-batches")
    }
    val streamed = perBatch.reduce(_ ++ _)
    val oneShot = graft.operators.Dedup.minHashPairs(docs, 3, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(streamed === oneShot)
    assert(streamed.nonEmpty)
  }

  test("multimodal: per-partition codec, md5 matches builtin, stub dims deterministic") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val feats = Multimodal.extractFeatures(spark, docs)
    val viaSql = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("m"))
    val joined = feats.toDF().join(viaSql, "doc_id")
      .where(col("payload_md5") =!= col("m"))
    assert(joined.count() === 0)
    assert(feats.where(col("n_bytes") <= 0).count() === 0)
  }

  test("multimodal: ImageIO round-trip decodes real PNG bytes exactly") {
    import Multimodal.ImageIoCodec
    // encode → sniff → decode: dims and every pixel survive the PNG container
    val png = ImageIoCodec.encodePng(17, 9, 200, 100, 50)
    assert(ImageIoCodec.isPng(png))
    assert(!ImageIoCodec.isPng("plain text payload".getBytes("UTF-8")))
    val img = ImageIoCodec.decode(png)
    assert((img.getWidth, img.getHeight) === ((17, 9)))
    assert((img.getRGB(16, 8) & 0xffffff) === ((200 << 16) | (100 << 8) | 50))
    // extractFeatures routes PNG payloads through the REAL decoder (the
    // reported dims are the decoded ones, not FakeCodec's byte math) and
    // text payloads through the stub, in the same partition pass
    import spark.implicits._
    val mixed = Seq((1L, png), (2L, "text payload".getBytes("UTF-8")))
      .toDF("doc_id", "payload") // binary column passes through untouched
    val feats = Multimodal.extractFeatures(spark, mixed)
    val byId = feats.collect().map(f => f.doc_id -> ((f.width, f.height))).toMap
    assert(byId(1L) === ((17, 9)))
    assert(byId(2L) === (("text payload".length % 640, 't'.toInt)))
    // the oracle-checked query itself: decoded dims equal the row-derived spec
    val dims = Multimodal.imageDims(spark,
      Seq((5L, "abcde"), (130L, "x" * 100)).toDF("doc_id", "text")).collect()
      .map(d => d.doc_id -> d).toMap
    assert(dims(5L) === Multimodal.ImageDims(5L, 6L, 6L, 35L, 55L, 65L))
    assert(dims(130L) === Multimodal.ImageDims(130L, 3L, 5L, 142L, 150L, 154L))
  }

  test("multimodal aHash: bright-column bits set, solid image ties to zero, clusters by k") {
    import Multimodal.ImageIoCodec
    import spark.implicits._
    // two-tone k=4: mean = 120, bright half > mean → per-row byte 0xf0
    val docs = Seq((3L, "x"), (10L, "y"), (4L, "z")).toDF("doc_id", "text")
    // doc 3 and 10 share k = 1 + id%7 = 4; doc 4 has k = 5
    val got = Multimodal.imageDedup(spark, docs).as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(3L) === (("f0" * 8, 3L)))
    assert(got(10L) === (("f0" * 8, 3L))) // same hash → clustered under min id
    assert(got(4L) === (("f8" * 8, 4L)))
    // a solid image has every gray == mean: no bit exceeds it → hash 0
    val solid = ImageIoCodec.decode(ImageIoCodec.encodePng(8, 8, 99, 99, 99))
    assert((0 until 8).forall(y => (0 until 8).forall(x =>
      ((solid.getRGB(x, y) >> 16) & 0xff) == 99)))
  }

  test("multimodal resize: stride-4 nearest-neighbor sample, exact fingerprint") {
    import spark.implicits._
    val docs = Seq((3L, "abcdefghij")).toDF("doc_id", "text") // samples a,e,i
    val r = Multimodal.resize(docs, 4).as[(Long, Int, Int, String)].head()
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r === ((3L, 10, 3, h("aei"))))
  }

  test("multimodal frameSample: frame boundaries, stride, and counts are exact") {
    import spark.implicits._
    // 10 chars, 4-char frames -> 3 frames (last one short); keep idx 0 and 2
    val docs = Seq((7L, "abcdefghij")).toDF("doc_id", "text")
    val got = Multimodal.frameSample(docs, 4, 2)
      .orderBy("frame_idx").as[(Long, Int, String, Int)].collect()
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Array((7L, 0, h("abcd"), 3), (7L, 2, h("ij"), 3)))
    // every frame hash covers disjoint slices: sampling everyK=1 over the
    // same doc reproduces the full partition of the text
    val all = Multimodal.frameSample(docs, 4, 1).as[(Long, Int, String, Int)].collect()
    assert(all.map(_._3).toSeq === Seq(h("abcd"), h("efgh"), h("ij")))
  }

  test("resampleHourlyLocf: dense hourly grid, gaps carry the last bucket's value forward") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1: events at 00:10, 00:40 (same bucket) and 03:05 — hours 01
    // and 02 are gaps; user 2: a single event (grid of one row, no fill)
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), 5.0),
      (1L, ts("2024-01-01 00:40:00"), 7.0),
      (1L, ts("2024-01-01 03:05:00"), 2.0),
      (2L, ts("2024-01-01 10:30:00"), 9.0)
    ).toDF("user_id", "ts", "value")
    val got = graft.operators.TimeSeries.resampleHourlyLocf(events)
      .orderBy("user_id", "hour_start")
      .as[(Long, Timestamp, Long, Double)].collect()
    assert(got === Array(
      (1L, ts("2024-01-01 00:00:00"), 2L, 7.0), // bucket max of 5.0/7.0
      (1L, ts("2024-01-01 01:00:00"), 0L, 7.0), // gap: carried forward
      (1L, ts("2024-01-01 02:00:00"), 0L, 7.0),
      (1L, ts("2024-01-01 03:00:00"), 1L, 2.0),
      (2L, ts("2024-01-01 10:00:00"), 1L, 9.0)))
  }

  test("resampleHourlyInterp: gaps take the line between neighbors, observed rows keep their value") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1: buckets at 00 (v=1.0) and 03 (v=4.0) — gaps at 01, 02 lerp
    // to 2.0, 3.0; user 2: single bucket, no gaps
    val events = Seq(
      (1L, ts("2024-01-01 00:30:00"), 1.0),
      (1L, ts("2024-01-01 03:05:00"), 4.0),
      (2L, ts("2024-01-01 10:30:00"), 9.0)
    ).toDF("user_id", "ts", "value")
    val got = graft.operators.TimeSeries.resampleHourlyInterp(events)
      .orderBy("user_id", "hour_start")
      .as[(Long, Timestamp, Long, Double)].collect()
    assert(got === Array(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 01:00:00"), 0L, 2.0),
      (1L, ts("2024-01-01 02:00:00"), 0L, 3.0),
      (1L, ts("2024-01-01 03:00:00"), 1L, 4.0),
      (2L, ts("2024-01-01 10:00:00"), 1L, 9.0)))
  }

  test("seasonalIndex: dow means over overall mean, exact integer algebra") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // Mondays 01-01 (4 events) and 01-08 (2) -> dow mean 3; Tuesday
    // 01-02 (6) -> mean 6; overall mean 4 -> indexes 0.75 / 1.5
    val rows =
      Seq.fill(4)(ts("2024-01-01 09:00:00")) ++
      Seq.fill(2)(ts("2024-01-08 09:00:00")) ++
      Seq.fill(6)(ts("2024-01-02 09:00:00"))
    val events = rows.map(t => ("a", t)).toDF("event_type", "ts")
    val got = graft.operators.TimeSeries.seasonalIndex(events)
      .select("dow", "n_days", "seasonal_index")
      .as[(Int, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(2) === ((2L, 0.75))) // Monday (dow 2, 1=Sunday)
    assert(got(3) === ((1L, 1.5)))  // Tuesday
  }

  test("sq8QuantizationError: replicates the serving-path arithmetic bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1f, -1f), 0),  // codes ±127: residual ~0 up to s's own ulp
      (1L, Array(1f, 0.3f), 1)  // code 38 for 0.3: genuine residual
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.sq8QuantizationError(df)
      .select("label", "n", "mean_err", "max_err")
      .as[(Int, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // the same scale / floor(x/s+0.5) / dot-identity chain in plain Scala
    def err9(vs: Array[Float]): Double = {
      val v = vs.map(_.toDouble)
      val sc = math.max(v.map(math.abs).max, 1e-30) / 127.0
      val c = v.map(x => math.floor(x / sc + 0.5))
      val raw = v.map(x => x * x).sum - 2.0 * sc * v.zip(c).map { case (a, b) => a * b }.sum +
        sc * sc * c.map(x => x * x).sum
      BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(0 -> Array(1f, -1f), 1 -> Array(1f, 0.3f)).foreach { case (l, v) =>
      val e = r6(err9(v))
      assert(got(l)._2 === 1L)
      assert(math.abs(got(l)._3 - e) < 1e-12, s"label $l mean ${got(l)._3} vs $e")
      assert(math.abs(got(l)._4 - e) < 1e-12, s"label $l max ${got(l)._4} vs $e")
    }
    // the ±1 vector must quantize essentially exactly, the 0.3 one must not
    assert(math.abs(got(0)._3) < 1e-9)
    assert(got(1)._3 > 1e-7)
  }

  test("lateDropAudit: displaced rows drop, no duplicate windows, on-time rows all survive") {
    import spark.implicits._
    val got = graft.streaming.EventStream.lateDropAudit(spark, sf001)
    val emitted = got.agg(sum(col("n"))).as[Long].head()
    // no (window, event_type) group may emit twice (append-mode contract)
    assert(got.groupBy("window_start", "event_type").count()
      .where(col("count") > 1).count() === 0L)
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val total = ev.count()
    val displaced = ev.where(pmod(col("event_id"), lit(17)) === 0).count()
    // drops happened, and ONLY displaced rows can drop
    assert(emitted < total, s"emitted $emitted of $total — nothing dropped")
    assert(emitted >= total - displaced,
      s"emitted $emitted but only $displaced rows were displaced")
  }

  test("generalizationLadder: coarsening never lowers the anonymous share") {
    import spark.implicits._
    // provable monotonicity: merging classes can only grow k and l, so a
    // row inside an anonymous class stays inside one up the ladder
    val got = SparkEntry.queries("privacy_generalization_ladder")(spark, sf001)
      .select("level", "anon_share").as[(String, Double)].collect().toMap
    assert(got("nation_segment") <= got("region_segment") + 1e-9, got.toString)
    assert(got("region_segment") <= got("segment") + 1e-9, got.toString)
  }

  test("filterAudit: stages partition the corpus and dedup matches cleanCorpus order") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val audit = graft.operators.CorpusPipeline.filterAudit(docs)
      .as[(String, String, Long)].collect()
    // first-gate attribution partitions the corpus: counts reconcile exactly
    assert(audit.map(_._3).sum === docs.count())
    val stages = audit.map(_._2).toSet
    assert(stages.contains("kept"))
    assert(stages.subsetOf(Set("too_short", "lang_other", "low_stopword",
      "exact_dup", "kept")), s"unknown stage in $stages")
    // every source reports a kept row (the synthetic corpus has survivors
    // in each source)
    val keptSources = audit.filter(_._2 == "kept").map(_._1).toSet
    assert(keptSources === docs.select("source").distinct().as[String].collect().toSet)

    // constructed funnel: the dup gate fires only among gate-survivors and
    // keeps the min doc_id; a dup of a NON-survivor is itself kept
    val base = "the cat sat of a mat and it is to be in"
    val fx = Seq(
      (1L, base, "en", "s1"),          // kept (canonical copy)
      (2L, base, "en", "s1"),          // exact_dup of 1
      (3L, "tiny", "en", "s1"),        // too_short
      (4L, base, "fr", "s1"),          // lang_other (same text, wrong lang)
      (5L, "x y z q r s t u v w", "en", "s1") // low_stopword (0 stopwords)
    ).toDF("doc_id", "text", "lang", "source")
    val byStage = graft.operators.CorpusPipeline.filterAudit(fx)
      .as[(String, String, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(byStage === Map("kept" -> 1L, "exact_dup" -> 1L, "too_short" -> 1L,
      "lang_other" -> 1L, "low_stopword" -> 1L))
  }

  test("packSequences: pack sums capped at maxLen, every doc packed once, offsets contiguous") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val packed = graft.operators.CorpusPipeline.packSequences(docs, 512)
    // every document assigned exactly once
    assert(packed.count() === docs.count())
    assert(packed.select("doc_id").distinct().count() === docs.count())
    // the trainer contract: no pack's token total exceeds the context window
    val packSums = packed.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("tot"), max(col("seq_off") + col("n_tokens")).as("hi"))
    assert(packSums.where(col("tot") > 512).count() === 0)
    // seq_off is the exclusive within-pack prefix: offsets tile the pack
    // exactly (max end-offset equals the pack total — no gap, no overlap)
    assert(packSums.where(col("hi") =!= col("tot")).count() === 0)

    // constructed packs, maxLen=10: 4+4 fill block 0's pack; the third doc
    // straddles the 10-token boundary and lands alone in overflow pack 1;
    // a 15-token doc truncates to 10, starts at tape offset 12 (block 1,
    // straddling) → overflow pack 3, alone and exactly full
    val fx = Seq(
      (1L, "a b c d", "s"), (2L, "a b c d", "s"), (3L, "a b c d", "s"),
      (4L, (1 to 15).map(_ => "w").mkString(" "), "s")
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.CorpusPipeline.packSequences(fx, 10)
      .as[(Long, String, Int, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "s", 4, 0L, 0L), (2L, "s", 4, 0L, 4L),
      (3L, "s", 4, 1L, 0L), (4L, "s", 10, 3L, 0L)))
  }

  test("curriculumSchedule: dense per-bin positions, round-robin steps, stable binning") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val got = graft.operators.CorpusPipeline.curriculumSchedule(docs, 4, 20, 8)
      .as[(Long, Int, Long, Long)].collect()
    assert(got.length === docs.count())
    // every doc scheduled exactly once, steps are unique
    assert(got.map(_._1).distinct.length === got.length)
    assert(got.map(_._4).distinct.length === got.length)
    // pos_in_bin is dense 0..n-1 within each bin
    got.groupBy(_._2).foreach { case (bin, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq,
        s"bin $bin positions not dense")
    }
    // step encodes (pos, bin) round-robin: step = pos*4 + bin
    got.foreach { case (_, bin, pos, step) => assert(step === pos * 4 + bin) }
    // binning is the documented token-band rule (spot-check via recompute)
    val bins = docs.select(col("doc_id"), least(lit(3),
        floor(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))) / 20))
        .cast("int").as("b")).as[(Long, Int)].collect().toMap
    got.foreach { case (id, bin, _, _) => assert(bin === bins(id)) }
  }

  test("dsirTopK: target-vocabulary docs outrank off-domain docs") {
    // target (src0) is "spark data" vocabulary; among the raw docs, the
    // one sharing that vocabulary must importance-rank above the
    // off-domain one — the whole point of DSIR selection
    val docs = Seq(
      (1L, "spark engine fast data shuffle", "src0"),
      (2L, "spark data join broadcast engine", "src0"),
      (3L, "spark data engine shuffle broadcast", "raw"), // target-like
      (4L, "zebra yak quagga wombat okapi", "raw")        // off-domain
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.CorpusPipeline.dsirTopK(docs, "src0", 64, 10)
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    val rkOf = got.map(r => r._1 -> r._3).toMap
    assert(rkOf(3L) < rkOf(4L),
      s"target-like doc 3 should outrank off-domain doc 4: $got")
    // scores are monotone in rank (TopKPairs contract: ord DESC, id ASC)
    assert(got.map(_._2).toSeq === got.map(_._2).toSeq.sorted.reverse)
  }
}
