package graft

import graft.functions.ArrayDotProduct
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the 100 TB posture checks: filters reach the
  * parquet scan, projections prune the read schema, dims broadcast, aggs
  * have a partial (map-side) phase, and the custom expressions stay inside
  * whole-stage codegen. */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q6: filters pushed to parquet scan, read schema pruned") {
    val p = plan("q6_filter_pushdown")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_discount,0.02)"), p)
    // only the 4 needed columns are read, not all 11
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"), readSchema)
    assert(readSchema.contains("l_discount") && readSchema.contains("l_extendedprice"), readSchema)
  }

  test("broadcast joins: dims broadcast, no shuffle of the fact side for q_join_broadcast_dims") {
    val p = plan("q_join_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1: two-phase aggregation (map-side partial before the exchange)") {
    val p = plan("q1_pricing_summary")
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate, got:\n$p")
  }

  test("ingest pipeline: one region exchange, no Catalyst exchange, sort within partitions only") {
    val p = plan("ingest_sorted_cells")
    // count physical nodes via their "(n) Name" detail headers
    assert(p.linesIterator.count(_.matches("""\(\d+\) RegionAlignedRowExchange.*""")) === 1, p)
    // the production load path: cells come out of one ordered explode
    assert(p.linesIterator.count(_.matches("""\(\d+\) OrderedExplode.*""")) === 1, p)
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Exchange.*""")), p)
    assert(!p.toLowerCase.contains("rangepartitioning"), p)
    // sort is per-partition (global=false), no global sort
    assert(p.contains("Sort") && !p.contains("global=true"), p)
  }

  test("top-k is TakeOrderedAndProject, not a global sort materialization") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ArrayDotProduct participates in whole-stage codegen and matches the HOF fold bit-exactly") {
    val df = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val expr = df.select(ArrayDotProduct(col("v"), col("v")).as("d"))
    val hof = df.select(
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    assert(expr.as[Double].collect().toSeq === hof.as[Double].collect().toSeq)
    val p = expr.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // '[codegen id : n]' on the projecting node = inside whole-stage codegen
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("codegen id")), p)
  }

  test("TopKPairs aggregate: equals the window top-n result, with a partial (map-side) phase") {
    val viaAgg = SparkEntry.queries("q_topk_custom_agg")(spark, sf001)
    val viaWindow = SparkEntry.queries("q_window_topn_per_cust")(spark, sf001)
    assert(viaAgg.exceptAll(viaWindow).count() === 0)
    assert(viaWindow.exceptAll(viaAgg).count() === 0)
    val p = viaAgg.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // partial + final ObjectHashAggregate: k pairs per key cross the exchange
    assert(p.linesIterator.count(_.matches("""\(\d+\) ObjectHashAggregate.*""")) >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("as-of join: exactly one exchange (union + keyed window, no per-row probing)") {
    val p = plan("asof_join_events_orders")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) === 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("minhash signatures: partial (map-side) min aggregation before the exchange") {
    val sig = graft.operators.Dedup.minHashSignatures(
      spark.read.parquet(s"$sf001/documents.parquet"), 3)
    val p = sig.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.linesIterator.count(_.matches("""\(\d+\) HashAggregate.*""")) >= 2, p)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) === 1, p)
  }

  test("CC fixpoint: checkpointed edge partitioning survives, iteration join shuffles labels only") {
    // the Dedup.clusters iteration shape: edges repartitioned by the join
    // key and checkpointed ONCE; each iteration's equi-join must exchange
    // only the (small) label side, never the edge list again. AQE hides
    // runtime reuse, so assert on the static plan with adaptive off.
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
                "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("a", "b")
        .repartition(col("b")).localCheckpoint()
      val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "cluster_id")
      val joined = edges.join(
        labels.select(col("id").as("b"), col("cluster_id")), "b")
      val p = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) === 1, p)
    }
  }

  test("global guard: no unintentional cross products anywhere in the inventory") {
    // intentional: ANN brute force broadcasts the query set over the corpus
    // (BroadcastNestedLoopJoin by design); q22 cross-joins a 1-row scalar agg.
    // ann_cosine_pairs and ann_lsh_topk are deliberately NOT here: their
    // declared forms are bucketed equi-joins and must stay BNLJ-free.
    // (ann_ivf_topk's BNLJ is the O(n·nlist) broadcast-centroid assignment
    // pass, not an all-pairs join; q11 and q22 cross-join a 1-row scalar agg)
    // text_tfidf_topk / text_lm_score broadcast a 1-row corpus scalar
    // (document count / vocab size) — the q22 pattern
    // events_funnel / graph_pagerank cross-join a 1-row count (q22 pattern)
    // q_histogram_equidepth broadcasts the 1-row boundary frame;
    // emb_kmeans / dedup_semantic broadcast the k-row centroid codebook
    // into the unshuffled assignment pass; text_bm25_topk / ann_hybrid_topk
    // broadcast the 1-row corpus stats / query vector / max-score scalars;
    // events_funnel_windowed is the funnel's 1-row top-of-funnel count
    // ann_ivf_adc_topk shares ann_ivf_topk's broadcast-centroid assignment;
    // ann_ivf_recall composes brute-force (broadcast query set) + IVF
    // corpus_decontaminate_bloom broadcasts the 1-row bloom image (q22
    // shape); corpus_mixture_plan the 1-row weight-sum scalar
    // ann_hard_negatives shares ann_cosine_topk's broadcast-query scan
    // text_bpe_merges cross-joins each round's 1-row merge rule into the
    // vocab rewrite (broadcast-scalar pattern)
    // corpus_dsir_topk cross-joins the 1-row (np, nq) totals into the
    // B-row weight table (broadcast-scalar pattern)
    // rag_passage_topk inherits bm25Scores' 1-row (n, avgdl) cross join
    // text_vocab_growth broadcasts the 1-row corpus doc count (q22 pattern)
    // rag_mmr_topk: pool-sized greedy loop over checkpointed 10-row frames
    // (broadcast-scalar max + tiny anti-joins by construction)
    // corpus_temperature_mix broadcasts the 1-row α-mass/doc-count totals
    // text_kn_bigram_lm broadcasts the 1-row bigram-type total (q22 pattern)
    // basket_association_rules broadcasts the 1-row basket total into the
    // lift projection; events_rfm_segments the 1-row anchor timestamp and
    // the three 1-row quartile-boundary frames (q22 pattern throughout)
    // q_join_cardinality_est / profile_key_skew / text_source_divergence
    // cross-join 1-row scalar frames (HLL estimates + counts / the key
    // total / the corpus token total — q22 pattern throughout)
    // events_survival_km broadcasts the 1-row observation-window end;
    // events_hll_setops the 1-row exact-intersection scalar (q22 pattern)
    // round-9: events_trend_ols / events_uplift_deciles broadcast 1-row
    // scalars (global min day / user total); events_retention_halflife the
    // calendar-bounded ages x cohort-sizes census + the 1-row max day;
    // quality_psi_drift the bins x group-totals census + 1-row bin stats
    // (the ks_drift shape); graph_clustering_coeff crosses its two 1-row
    // aggregates; emb_matryoshka_recall composes bruteForceTopK twice
    // (the ann_cosine_topk broadcast-query scan)
    val intentional = Set(
      "dedup_rate_report", // three 1-row report scalars crossed (q22 pattern)
      "events_trend_ols", "events_uplift_deciles",
      "events_retention_halflife", "quality_psi_drift",
      "graph_clustering_coeff", "emb_matryoshka_recall",
      "events_survival_km",
      "events_hll_setops",
      "q_join_cardinality_est", "profile_key_skew", "text_source_divergence",
      "graph_modularity", // 1-row |E| scalar cross join (q22 pattern)
      "basket_association_rules", "events_rfm_segments",
      "text_kn_bigram_lm",
      "text_vocab_growth", "rag_mmr_topk", "corpus_temperature_mix",
      "ann_cosine_topk", "ann_ivf_topk", "ann_ivf_adc_topk",
      "ann_ivf_store", // broadcast-centroid probe (the ann_ivf_topk shape)
      "text_bpe_merges", "text_bpe_fertility", "corpus_dsir_topk", "rag_passage_topk",
      "emb_top_pc", "ann_whitened_topk",
      "graph_ppr",                // 1-row seed-count scalar (q22 pattern)
      "dedup_lsh_recall",         // 1-row sample-size scalar (q22 pattern)
      "rag_rrf_fusion",           // broadcast-query ANN list (ann_cosine_topk shape)
      "quality_probe_accuracy",   // 1-row broadcast model scoring (q22 pattern)
      "ann_ivf_drift_monitor", "ann_ivf_drift_monitor_chain", // 1-row monitor scalars broadcast onto the 16-cell census (psiDrift pattern)
      "quality_ks_drift",         // census grid x group-totals bounded expansion
      "quality_ks_drift_ttr",     // same census shape, quantized continuous metric
      "corpus_stratified_neyman", // 1-row weight-total scalar (q22 pattern)
      "ann_ivf_recall", "ann_sq8_topk", "ann_binary_hamming_topk",
      "ann_hard_negatives",
      "corpus_decontaminate_bloom", "corpus_mixture_plan",
      "q22_idle_balances", "q11_important_share",
      "text_tfidf_topk", "text_lm_score", "events_funnel", "graph_pagerank",
      "q_histogram_equidepth", "emb_kmeans", "dedup_semantic",
      "text_bm25_topk", "ann_hybrid_topk", "events_funnel_windowed")
    // streaming queries execute rather than explain statically
    val skip = Set("stream_windowed_agg", "stream_sliding_agg",
      "stream_session_window", "stream_sessionize",
      "stream_stream_join", "stream_dedup_events", "stream_dedup_incremental",
      "stream_quality_monitor", "stream_static_join", "stream_ann_assign",
      "stream_drift_monitor",
      "stream_quantile_sketch", "stream_cms_heavy_hitters", "stream_cdc_apply",
      "stream_hll_distinct", "stream_late_drop", "stream_bitmap_retention")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip.contains).flatMap { name =>
        val p = SparkEntry.queries(name)(spark, sf001)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        val crossy = p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
        if (crossy && !intentional.contains(name)) Some(name) else None
      }
    assert(offenders.isEmpty, s"unintentional cross products in: $offenders")
  }

  test("global guard: Expand appears only where it IS the operator") {
    // Expand multiplies every input row by the number of grouping sets /
    // distinct aggregates / stack branches — the operator's own semantics
    // for these queries, an accidental plan regression anywhere else
    // (q_approx_distinct specifically was rewritten to avoid it)
    val expandIsTheOperator = Set(
      "q_cube", "q_rollup", "q_sql_grouping_sets", // grouping-set lattices
      "q_sql_grouping_id",                         // same lattice + GROUPING()
      "q_distinct_agg",                            // native multi-distinct agg
      "cells_explode_named", "source_avro_cells",  // unpivot/stack
      "source_jsonl_cells",                        // same named-cell unpivot
      "q_unpivot", "q_sql_unpivot",                // wide→long melt IS an Expand
      "sliding_window_counts")                     // window-per-event expansion
    val skip = Set("stream_windowed_agg", "stream_sliding_agg",
      "stream_session_window", "stream_sessionize",
      "stream_stream_join", "stream_dedup_events", "stream_dedup_incremental",
      "stream_quality_monitor", "stream_static_join", "stream_ann_assign",
      "stream_drift_monitor",
      "stream_quantile_sketch", "stream_cms_heavy_hitters", "stream_cdc_apply",
      "stream_hll_distinct", "stream_late_drop", "stream_bitmap_retention")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip.contains).flatMap { name =>
        val p = SparkEntry.queries(name)(spark, sf001)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        if (p.contains("Expand") && !expandIsTheOperator.contains(name)) Some(name)
        else None
      }
    assert(offenders.isEmpty, s"unexpected Expand in: $offenders")
  }

  test("dedup_corpus: candidate-restricted verify — no all-pairs join in the plan") {
    val p = plan("dedup_corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the only self-join is the banded equi-join; Jaccard verify is an
    // equi-join on (candidate doc, shingle)
    assert(p.contains("Join") || p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_span_removal: dup filter prunes the registry below the join; windows materialized once") {
    // AQE off for the explain only: formatted details (the Condition
    // lines) are not rendered for a not-yet-final AdaptiveSparkPlan
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val p = try { spark.conf.set(key, "false"); plan("dedup_span_removal") }
      finally spark.conf.set(key, prev)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the ndocs >= 2 conjunct must prune the keeper registry BEFORE the
    // window join (Catalyst pushes it through the projection as
    // `coalesce(ond,0)+bnd >= 2`; the cross-side doc_id != keeper
    // predicate stays on the join) — without the push, the join's right
    // side is the full corpus-digest frame instead of the
    // duplication-sized one
    val pushed = p.linesIterator.exists(l =>
      l.contains("Condition") && l.contains(">= 2") && l.contains("bnd") &&
        !l.contains("doc_id"))
    assert(pushed, p)
    // the positional window frame is computed once (checkpointed) and
    // both consumers read it; corpus text is re-scanned only by the
    // doc-local rewrite itself
    val simple = SparkEntry.queries("dedup_span_removal")(spark, sf001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(simple.contains("ExistingRDD"), simple)
    assert("documents\\.parquet".r.findAllIn(simple).size === 1, simple)
  }

  test("simhashPairs/corpusDedup: shared frames computed ONCE (reuse / materialize)") {
    // simhashPairs: the banded self-join's two sides are the same subtree;
    // ReuseExchange must collapse them or the signature frame is
    // aggregated twice. (AQE applies the same reuse at runtime
    // stage-materialization; asserted here on the static planner where it
    // is visible.)
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val s = plan("dedup_simhash_pairs")
      assert(s.linesIterator.count(_.contains("ReusedExchange")) >= 1, s"dedup_simhash_pairs:\n$s")
      // corpusDedup materializes the per-document kernel frame once; every
      // consumer (band grouping, both verify join sides) reads the
      // materialized RDD — the documents parquet is scanned ZERO times
      // inside the declared plan
      val p = plan("dedup_corpus")
      assert(p.contains("ExistingRDD"), p)
      assert(!p.contains("documents.parquet"), p)
      // nothing at shingle grain: no shingle arrays, no shingle hashing, no
      // window; the only generators are the band explode over the
      // signature and the bucket pair stream
      assert(!p.contains("arrays_zip") && !p.contains("md5(") && !p.contains("Window"), p)
      assert("""\(\d+\) Generate""".r.findAllIn(p).size === 2, p)
      assert(p.contains("bucket_pairs("), p)
      // no self-join: the two joins are the verify lookups of the kernel
      // frame by doc_id
      assert(p.linesIterator.count(_.matches("""\(\d+\) \w*(HashJoin|SortMergeJoin).*""")) === 2, p)
      assert(p.linesIterator.count(_.matches("""(Left|Right) keys \[1\]: \[doc_id#.*""")) === 2, p)
    } finally spark.conf.set(key, prev)
  }

  test("ann_cosine_pairs (bucketed): the O(n²) BNLJ is gone from the declared query") {
    val p = plan("ann_cosine_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("similarity top-k: partial-aggregate TopKPairs phase, no window sort") {
    val p = plan("ann_cosine_topk")
    assert(p.linesIterator.count(_.matches("""\(\d+\) ObjectHashAggregate.*""")) >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("weighted sampling: bounded TopKPairs partial aggregate, no per-source window sort") {
    // the row_number window form plans one single-task sort per source —
    // the bounded aggregate ships at most perSource pairs per map task
    val p = plan("corpus_weighted_sample")
    assert(p.linesIterator.count(_.matches("""\(\d+\) ObjectHashAggregate.*""")) >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("ivf-adc: bounded aggregates rank the search; windows only derive the tiny codebook") {
    // assignment, coding, ADC sum and final top-k are all partial
    // aggregates (TopKPairs/HashAggregate); the only Window nodes are
    // pqCentroids' ksub-row single-task code numbering — every one must
    // sit directly over a ksub-bounded GlobalLimit, never corpus data
    val p = plan("ann_ivf_adc_topk")
    assert(p.linesIterator.count(_.matches("""\(\d+\) ObjectHashAggregate.*""")) >= 2, p)
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    val limits = p.linesIterator.count(_.matches("""\(\d+\) GlobalLimit.*"""))
    assert(windows <= limits, s"corpus-sized window sort suspected:\n$p")
  }

  test("q22 scalar average joins as a broadcast, never a cartesian") {
    // the 1-row avg-balance side carries an explicit broadcast() hint (the
    // same posture as every other scalar-subquery site) — the plan must
    // realize it as BroadcastNestedLoopJoin, not CartesianProduct
    val p = plan("q22_idle_balances")
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("round-3 additions keep the declared plan posture (broadcast dims, bounded exchanges)") {
    // centroid scoring: the codebook-sized centroid table broadcasts; the
    // corpus side is never shuffle-joined
    val cs = plan("emb_centroid_similarity")
    assert(cs.contains("BroadcastHashJoin") && !cs.contains("SortMergeJoin"), cs)
    // global shuffle: ONE corpus exchange (hash by shard for the window);
    // no global total-order sort anywhere
    val gs = plan("corpus_global_shuffle")
    assert(gs.linesIterator.count(_.matches("""\(\d+\) Exchange.*""")) === 1, gs)
    assert(!gs.contains("rangepartitioning"), gs)
    // winsorization: the 3-row bounds side broadcasts back onto the stream
    val cl = plan("events_clip_outliers")
    assert(cl.contains("BroadcastHashJoin") && !cl.contains("SortMergeJoin"), cl)
    // resample: bucket aggregate has a map-side partial phase before its
    // exchange; the grid join is keyed, never a cross product
    val rs = plan("events_resample_locf")
    assert(rs.linesIterator.count(_.contains("HashAggregate")) >= 2, rs)
    assert(!rs.contains("CartesianProduct") && !rs.contains("BroadcastNestedLoopJoin"), rs)
  }

  test("bucketed tables co-locate the join AND the downstream agg: zero exchanges") {
    // the 100 TB fact⋈fact posture: when both sides are bucketed on the
    // join key, the shuffle that dominates a repeated big join is paid
    // ONCE at write time — the join (and any aggregate on the same key)
    // then plans with NO Exchange at all
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_customer")
    try {
      spark.read.parquet(s"$sf001/orders.parquet")
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("bkt_orders")
      spark.read.parquet(s"$sf001/customer.parquet")
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("bkt_customer")
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = spark.table("bkt_orders")
          .join(spark.table("bkt_customer"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        val p = j.queryExecution.explainString(ExplainMode.fromString("simple"))
        assert(p.contains("SortMergeJoin"), p)
        assert(!p.contains("Exchange"), p) // bucketing carries join AND agg
        // and the answer matches the shuffled plan
        val expected = spark.read.parquet(s"$sf001/orders.parquet")
          .join(spark.read.parquet(s"$sf001/customer.parquet"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_orders"))
        assert(j.exceptAll(expected).isEmpty && expected.exceptAll(j).isEmpty)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
    }
  }

  test("participation ratio never explodes the embedding: one gram_moments pass, d²-row tail") {
    // the n·d² hazard: a posexplode of the embedding BEFORE the moment
    // aggregate multiplies every corpus row by d² (n·589,824 at d=768) —
    // the moment pass must be the unexploded GramMoments typed aggregate;
    // the only generator allowed is the d²-row expansion AFTER it
    // simple mode keeps function names on the node line, root-first
    val p = SparkEntry.queries("emb_participation_ratio")(spark, sf001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(p.contains("gram_moments"), p)
    val lines = p.linesIterator.toSeq
    val gramLine = lines.indexWhere(_.contains("gram_moments"))
    val explodeLines = lines.zipWithIndex
      .filter(_._1.toLowerCase.contains("explode")).map(_._2)
    // root-first: the d²-row Generate (post-agg expansion) must sit ABOVE
    // the first gram_moments aggregate; an explode BELOW it would be the
    // n·d² pre-agg blowup this plan exists to avoid
    assert(explodeLines.nonEmpty && explodeLines.forall(_ < gramLine), p)
  }

  test("emb_top_pc: power iterations run on the checkpointed Gram matrix, never corpus re-scans") {
    // the one-pass re-plan: the corpus is consumed EXACTLY ONCE by the
    // eager GramMoments checkpoint while the query is being built; the
    // declared plan that actually executes per call is iterations over
    // the d²-row matrix — if 'embeddings' appears in it at all, an
    // iteration went back to the corpus (iters × 100 TB scans)
    val p = SparkEntry.queries("emb_top_pc")(spark, sf001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("embeddings"), p)
  }

  test("approx-distinct rewrite: opt-in conf flips COUNT DISTINCT to HLL++, off by default") {
    import spark.implicits._
    (1 to 1000).map(i => i % 100).toDF("k").createOrReplaceTempView("adr_t")
    val sql = "SELECT count(DISTINCT k) AS d FROM adr_t"
    // off (the default): exact plan, exact answer
    val exact = spark.sql(sql)
    assert(!exact.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
    assert(exact.as[Long].head() === 100L)
    withSQLConf("graft.approx.distinct" -> "true") {
      val approx = spark.sql(sql)
      val plan = approx.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"), plan)
      // HLL++ default rsd 5% — a 100-distinct stream lands well inside ±10
      val est = approx.as[Long].head()
      assert(est > 90L && est < 110L, s"estimate $est")
    }
    // the conf is re-read per query: back off after the block
    assert(!spark.sql(sql).queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
  }

  test("runtime bloom-filter join pruning: a selective dim filter injects might_contain on the fact scan") {
    // The 100 TB shape: a shuffle join whose small side carries a selective
    // filter should push a runtime bloom filter into the fact-side scan, so
    // the shuffle only carries rows that can match. The feature thresholds
    // are sized for clusters (10 GB application side) — lowered here to
    // demonstrate the injection on test-scale data; on a real corpus the
    // defaults fire on their own.
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val o = spark.read.parquet(s"$sf001/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val l = spark.read.parquet(s"$sf001/lineitem.parquet")
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("might_contain"), p)
      // and the result is unaffected by the pruning filter
      val n = joined.collect().map(_.getLong(1)).sum
      val expect = l.join(o.hint("broadcast"), col("l_orderkey") === col("o_orderkey")).count()
      assert(n === expect)
    }
  }

  test("semi/anti joins never materialize right-side payload columns") {
    val p = plan("q_semi_join")
    assert(p.contains("LeftSemi"), p)
    val read = p.linesIterator.filter(_.trim.startsWith("ReadSchema")).mkString
    assert(!read.contains("o_orderpriority"), read) // only o_custkey + filter col read
  }

  test("runtime bloom filter: a selective dim filter injects probe-side pruning on shuffle joins") {
    // the engine posture for 100 TB shuffle joins Catalyst can't broadcast:
    // Spark's runtime filter builds a bloom filter from the FILTERED dim
    // side and applies it below the fact scan, so most probe rows die
    // before the exchange. Pinned here so a config regression (the feature
    // silently off, thresholds unreachable) is caught — the thresholds are
    // size-gated for production; zeroing the application floor is what
    // makes the small fixture eligible.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf001/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter") ||
        p.toLowerCase.contains("might_contain"), p)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
