package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** At-scale mechanics that sf-sized correctness runs don't exercise:
  * bucketed co-located joins, partition pruning, and streaming dedup
  * state. These pin the behaviors ARCHITECTURE.md promises. */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("bucketed tables join with ZERO exchanges (co-located join)") {
    val o = spark.read.parquet(s"$sf001/orders.parquet")
    val l = spark.read.parquet(s"$sf001/lineitem.parquet")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    // disable broadcast so the join must pick a shuffle-or-colocated plan
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val p = fmt(j)
      assert(p.contains("SortMergeJoin"), p)
      // bucket alignment: the ONLY exchange is the groupBy's — an
      // unbucketed shuffle join would add one per join side (3 total)
      assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) === 1, p)
      // and the result is right
      val n = j.agg(sum("n")).head().getLong(0)
      assert(n === 6000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("GramMoments at a realistic d=768: one unexploded pass, exact sums, merge ≡ single partition") {
    // the shape the participation-ratio re-plan exists for: at d=768 a
    // posexplode-based moment pass would materialize n·589,824 rows; the
    // typed aggregate must handle the width in one pass — and produce
    // BIT-IDENTICAL sums regardless of partitioning (scaled-integer
    // accumulation is order-independent by construction)
    val d = 768
    val df = spark.range(200).select(
      transform(sequence(lit(0), lit(d - 1)),
        i => ((col("id") * d + i) % 997).cast("double") / lit(997.0)).as("v"))
    def moments(frame: org.apache.spark.sql.DataFrame) = frame
      .agg(graft.functions.GramMoments.gram(col("v"), d).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2")).head()
    val one = moments(df.coalesce(1))
    val many = moments(df.repartition(32))
    assert(one.getLong(0) === 200L && many.getLong(0) === 200L)
    assert(one.getSeq[Double](1) === many.getSeq[Double](1))
    assert(one.getSeq[Double](2).length === d * d)
    assert(one.getSeq[Double](2) === many.getSeq[Double](2))
    // spot-check exactness: dim 0 component sum = Σ (id·768 % 997)/997
    // quantized at 1e9 — computed independently here
    val expect0 = (0L until 200L)
      .map(id => math.floor((id * d % 997).toDouble / 997.0 * 1e9 + 0.5).toLong)
      .sum.toDouble
    assert(one.getSeq[Double](1).head === expect0)
  }

  test("partitioning invariance: scores/codes are bit-identical under adversarial repartitioning") {
    // the determinism claim the decimal-sum / round-6 / fixed-tiebreak
    // designs make: results cannot depend on how the cluster happened to
    // split the data (partial-agg combine order, task scheduling)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    import graft.operators.{Dedup, Similarity, TextOps}
    assert(rows(TextOps.lmBigramScores(docs.repartition(17))) ===
      rows(TextOps.lmBigramScores(docs)))
    assert(rows(TextOps.tfidfTopTerms(docs.repartition(17), 5)) ===
      rows(TextOps.tfidfTopTerms(docs, 5)))
    assert(rows(Similarity.pqCodes(emb.repartition(13))) ===
      rows(Similarity.pqCodes(emb)))
    assert(rows(Dedup.minHashSignatures(docs.repartition(17), 3)) ===
      rows(Dedup.minHashSignatures(docs, 3)))
    assert(rows(TextOps.dupNgramStats(docs.repartition(17), 3)) ===
      rows(TextOps.dupNgramStats(docs, 3)))
    assert(rows(Similarity.ivfAdcTopK(emb.repartition(13),
        emb.where(col("vec_id") < 3), 5)) ===
      rows(Similarity.ivfAdcTopK(emb, emb.where(col("vec_id") < 3), 5)))
    // round-9 decimal-stabilized additions: LOF's reach/lrd sums and
    // PSI's ln-term sums must not feel partial-agg combine order
    assert(rows(Similarity.lofScores(emb.repartition(13), 3)) ===
      rows(Similarity.lofScores(emb, 3)))
    assert(rows(graft.operators.Profile.psiDrift(docs.repartition(17),
        col("source"), col("n_chars"), 50)) ===
      rows(graft.operators.Profile.psiDrift(docs,
        col("source"), col("n_chars"), 50)))
  }

  test("ksDrift quantize: continuous-metric census bounded at 10^q·range, drift still detected") {
    import graft.operators.Profile
    // a continuous score: 5,000 distinct raw values; 10 groups, group 9
    // shifted +0.3 (the rest-of-corpus reference stays 8/9 clean, so only
    // the shifted group crosses the critical value)
    val df = spark.range(5000).select(
      (col("id") % 10).cast("string").as("g"),
      (col("id").cast("double") / 5000.0 +
        when(col("id") % 10 === 9, lit(0.3)).otherwise(lit(0.0))).as("m"))
    assert(df.select(col("m")).distinct().count() === 5000L)
    // the quantized census key round(m·100) spans [0, 130] — the grid the
    // unpartitioned cumulative walk sorts is ≤131 rows NO MATTER the
    // corpus size (the raw-value census would be corpus-sized)
    val grid = df.select(round(col("m") * 100).cast("long").as("x")).distinct().count()
    assert(grid <= 131L, s"quantized grid $grid exceeds the 10^q·range bound")
    val out = Profile.ksDrift(df, col("g"), col("m"), quantize = Some(2))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getBoolean(4))).toMap
    // the shifted group drifts (sup |F_g − F_rest| for a +0.3 shift of a
    // uniform [0,1] vs a clean rest is ~0.3); every aligned group's sup is
    // the shifted group's 1/9 dilution of ITS rest (~0.033), under the
    // α=0.05 critical value (~0.064 at n_g=500)
    assert(out("9")._2 === true && out("9")._1 > 0.29)
    (0 to 8).foreach(g => assert(out(g.toString)._2 === false, s"group $g"))
  }

  test("robustness: every batch query survives EMPTY input tables (0 rows, no crash)") {
    // empty mirrors of all ten tables with the exact sf schemas — empty
    // aggregates, empty LSH codebooks, zero-pair fixpoints, empty windows
    // are classic operator crash sites at 3am on a real cluster
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    // the real events.parquet is TIMESTAMP(NANOS) — schema-read needs the
    // same legacy conf Tables.events sets
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val names = Seq("customer", "documents", "embeddings", "events", "lineitem",
      "nation", "orders", "part", "region", "supplier")
    names.foreach { n =>
      val schema = spark.read.parquet(s"$sf001/$n.parquet").schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    // streaming drivers need staged streams; everything else must run
    val skip = Set("stream_windowed_agg", "stream_sliding_agg",
      "stream_session_window", "stream_sessionize", "stream_stream_join",
      "stream_dedup_events", "stream_dedup_incremental", "sessionize_events",
      "stream_quality_monitor", "stream_static_join", "stream_ann_assign",
      "stream_drift_monitor",
      "stream_quantile_sketch")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip.contains(q._1))
      .flatMap { case (name, fn) =>
        try { fn(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(100)}") }
      }
    assert(failures.isEmpty, s"queries crashed on empty inputs:\n${failures.mkString("\n")}")
  }

  test("planLint standing sweep: every declared batch plan is lint-clean or adjudicated") {
    // Profile.planLint productized over the WHOLE inventory (VERDICT r9
    // #6), so the cartesian/NLJ/single-partition posture can't decay as
    // queries are added: any hit outside the adjudicated allowlists
    // fails this test and must be either re-planned or adjudicated here.
    //
    // nested-loop-join allowlist = PlanSpec's `intentional` set (each a
    // documented 1-row broadcast-scalar cross join — the q22 pattern —
    // or a deliberate broadcast-query ANN scan); single-partition
    // allowlist covers exactly two shapes, both O(1)- or census-bounded
    // by construction: (a) the partial→Exchange SinglePartition→final
    // step of a GLOBAL scalar aggregate (one row per map partition on
    // the wire), and (b) the unpartitioned cumulative window of a
    // distinct-value census walk (grid-bounded: equidepth boundaries,
    // KS/AUC cums, RFM quartiles, per-column profile branches).
    val nljAllow = Set(
      "ann_binary_hamming_topk", "ann_cosine_topk", "ann_hard_negatives",
      "ann_hybrid_topk", "ann_ivf_adc_topk", "ann_ivf_recall", "ann_ivf_topk",
      "ann_ivf_store", // broadcast-centroid probe (the ann_ivf_topk shape)
      "ann_sq8_topk", "ann_whitened_topk", "basket_association_rules",
      "corpus_decontaminate_bloom", "corpus_dsir_topk", "corpus_mixture_plan",
      "corpus_stratified_neyman", "corpus_temperature_mix",
      "dedup_lsh_recall", // 1-row sample-size scalar (q22 pattern)
      "dedup_rate_report",
      "emb_kmeans", "emb_matryoshka_recall", "emb_top_pc", "events_funnel",
      "events_funnel_windowed", "events_hll_setops", "events_retention_halflife",
      "events_rfm_segments", "events_survival_km", "events_trend_ols",
      "events_uplift_deciles", "graph_clustering_coeff", "graph_modularity",
      "graph_pagerank", "graph_ppr", "profile_key_skew", "q11_important_share",
      "q22_idle_balances", "q_histogram_equidepth", "q_join_cardinality_est",
      "ann_ivf_drift_monitor", "ann_ivf_drift_monitor_chain", // 1-row monitor scalars (psi/qerr) broadcast onto the 16-cell census (psiDrift pattern)
      "quality_ks_drift", "quality_ks_drift_ttr", "quality_psi_drift",
      "quality_probe_accuracy", // 1-row broadcast model scoring (q22 pattern)
      "rag_passage_topk", "rag_rrf_fusion", "text_bm25_topk",
      "text_kn_bigram_lm", "text_lm_score", "text_source_divergence",
      "text_tfidf_topk", "text_vocab_growth")
    val speAllow = nljAllow ++ Set(
      // global scalar aggregates (1-row readouts / report lines)
      "events_ab_cuped", "events_ab_srm", "events_ab_test",
      "events_power_analysis", "events_funnel_ttc", "events_hll_distinct",
      "emb_participation_ratio", "graph_assortativity", "graph_triangles",
      "quality_score_auc", "quality_constraint_report",
      "quality_linear_probe", // 1-row trained-model readout (9 moments)
      "source_csv_compat_skips", // 1-row skip-parity census readout
      "table_checksum",
      "q14_promo_revenue", "q15_top_supplier", "q17_small_quantity_revenue",
      "q19_disjunctive_predicates", "q6_filter_pushdown", "q_sql_not_in_nulls",
      // census walks / bounded per-level ladders
      "cells_split_advisor", "privacy_generalization_ladder",
      "q_skyline_pareto", "table_profile")
    val skip = Set("stream_windowed_agg", "stream_sliding_agg",
      "stream_session_window", "stream_sessionize", "stream_stream_join",
      "stream_dedup_events", "stream_dedup_incremental", "sessionize_events",
      "stream_quality_monitor", "stream_static_join", "stream_ann_assign",
      "stream_drift_monitor",
      "stream_quantile_sketch", "stream_cms_heavy_hitters", "stream_cdc_apply",
      "stream_hll_distinct", "stream_late_drop", "stream_bitmap_retention")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip(q._1)).flatMap { case (name, fn) =>
        val hits = graft.operators.Profile.planLint(fn(spark, sf001))
          .collect().map(_.getString(0)).toSet
        val bad =
          (if (hits("cartesian-product")) Seq("cartesian-product") else Nil) ++
          (if (hits("nested-loop-join") && !nljAllow(name)) Seq("nested-loop-join") else Nil) ++
          (if (hits("single-partition-exchange") && !speAllow(name)) Seq("single-partition-exchange") else Nil)
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
      }
    assert(offenders.isEmpty, s"unadjudicated lint hits:\n${offenders.mkString("\n")}")
  }

  test("saltedJoin: exactly the plain join, and the hot key spreads across reducers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one pathological key: 10k of 10.2k rows share key "hot"
    val big = ((0 until 10000).map(i => ("hot", i.toLong)) ++
      (0 until 200).map(i => (s"k$i", i.toLong))).toDF("k", "payload")
    val small = (Seq("hot") ++ (0 until 200).map(i => s"k$i"))
      .map(k => (k, s"dim_$k")).toDF("k", "dimval")
    val salted = graft.operators.SkewOps.saltedJoin(
      big, small, "k", spreadOn = col("payload"), buckets = 8)
    val plain = big.join(small, "k")
    // exact equality, row multiset included
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the spread is real: under a forced shuffle join, the hot key's rows
    // arrive via 8 distinct (key, salt) buckets
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val buckets = big
        .withColumn("__salt", pmod(crc32(col("payload").cast("string")), lit(8)))
        .where(col("k") === "hot").select("__salt").distinct().count()
      assert(buckets === 8)
    }
  }

  test("partition pruning: year-partitioned writes are pruned by the filter") {
    val dirPath = java.nio.file.Files.createTempDirectory("graft-part")
    try {
      val dir = dirPath.toString
      spark.read.parquet(s"$sf001/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir)
      val q = spark.read.parquet(dir).where(col("o_year") === 1996)
        .agg(count(lit(1)).as("n"))
      val p = fmt(q)
      // the pruned scan reads only the 1996 partition directory
      assert(p.contains("PartitionFilters"), p)
      val scanLine = p.linesIterator.find(_.trim.startsWith("PartitionFilters")).get
      assert(scanLine.contains("o_year"), scanLine)
      val expected = spark.read.parquet(s"$sf001/orders.parquet")
        .where(year(col("o_orderdate")) === 1996).count()
      assert(q.head().getLong(0) === expected)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(dirPath)) { walk =>
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("streaming dedup: dropDuplicatesWithinWatermark keeps one row per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = input.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:00:05")),
        (2L, ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:01:00"))) // dup within watermark
      q.processAllAvailable()
      val got = spark.table("dedup_stream").select("id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("graft.fixpoint.dir flips every materialization to reliable checkpoints") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val local = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val root = java.nio.file.Files.createTempDirectory("graft-fixpoint").toFile
    spark.conf.set("graft.fixpoint.dir", root.getAbsolutePath)
    try {
      // a fixpoint consumer (clusters iterates label propagation through
      // Dedup.materialize) — same call, same labels as the local path
      val cl = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
      assert(cl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(cl === local)
      // iteration state landed under the configured root as RELIABLE
      // checkpoint files (rdd-*/part-*), not executor-local blocks
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      assert(walk(root).exists(_.getName.startsWith("part-")),
        s"no checkpoint parts under $root")
    } finally {
      spark.conf.unset("graft.fixpoint.dir")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(root)
    }
  }
}
