package graft.queries

import graft.functions.MinHashKernel
import graft.operators.{Bpe, CorpusPipeline, Dedup, Similarity, TextOps}
import graft.operators.Dedup.MaterializeSyntax
import org.apache.spark.sql.functions._

/** North-star operator inventory: dedup + text analysis over `documents`
  * (the LLM-training-data-pipeline surface; BASELINE.json). Spark defs live
  * in [[graft.operators.Dedup]] / [[graft.operators.TextOps]]; here each is
  * declared as a driver-checkable query with its DuckDB oracle.
  */
object NorthStar {
  import Tables._

  private val N = 3 // word-shingle width
  private val Bm25Terms = Seq("spark", "join", "fast") // fixed retrieval query

  /** The co-purchase graph every graph_* query runs over: item pairs from
    * size-capped baskets at min-support 3 — ONE definition, so communities,
    * triangles and link prediction can never silently diverge. */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Affinity.itemPairs(
        t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        minSupport = 3, maxBasketSize = 20)
      .select(col("item_a").as("a"), col("item_b").as("b"))

  /** DuckDB mirror of [[coPurchaseEdges]] (yields (a, b)). */
  private val coPurchaseEdgesSql =
    """SELECT item_a AS a, item_b AS b FROM (
           WITH d AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
           keep AS (SELECT basket FROM d GROUP BY basket HAVING count(*) <= 20)
           SELECT x.item AS item_a, y.item AS item_b
           FROM d x JOIN keep USING (basket)
           JOIN d y ON x.basket = y.basket AND x.item < y.item
           GROUP BY 1, 2 HAVING count(*) >= 3)"""

  /** The LOOSER (min-support 2) co-purchase graph the connectivity
    * analyses (k-core, BFS) run over — support 3 leaves a near-empty
    * periphery-free graph at small SF, which would make a density filter
    * and a distance relaxation vacuous. */
  private def coPurchaseEdges2(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Affinity.itemPairs(
        t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        minSupport = 2, maxBasketSize = 20)
      .select(col("item_a").as("a"), col("item_b").as("b"))

  /** DuckDB mirror of [[coPurchaseEdges2]] (yields (a, b)). */
  private val coPurchaseEdges2Sql =
    """SELECT item_a AS a, item_b AS b FROM (
           WITH d AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
           keep AS (SELECT basket FROM d GROUP BY basket HAVING count(*) <= 20)
           SELECT x.item AS item_a, y.item AS item_b
           FROM d x JOIN keep USING (basket)
           JOIN d y ON x.basket = y.basket AND x.item < y.item
           GROUP BY 1, 2 HAVING count(*) >= 2)"""

  /** Shared Spark/oracle adornment for text_normalize: tab + space run +
    * "e"+U+0301 (NFC composes to é) + precomposed É + ß + uppercase — the
    * one constant makes every normalizer stage fire in BOTH engines. */
  private val normProbe = " \tRedundant  SPACE é É STRAßE "

  val defs: Map[String, Q] = Map(
    "dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    // tSpread (r18): the shingle explode + md5 pass is scan-chained and
    // single-row-group-serialized; measured −0.6 s with adaptive spread
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(tSpread(s, dir, "documents"), N, 0.8)),
    // the df-capped form a standalone corpus-wide run needs: boilerplate
    // shingles (df > 2) leave the index before the self-join, bounding the
    // quadratic blowup; Jaccard is exact over the capped shingle sets
    "dedup_ngram_jaccard_capped" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), N, 0.8, maxDf = Some(2L))),
    // prefix filtering (PPJoin principle): only the rarest
    // |d|-ceil(0.8|d|)+1 shingles of each doc enter the candidate join —
    // 100% recall by pigeonhole, so the rows EQUAL dedup_ngram_jaccard
    // while the quadratic term shrinks to prefix-shingle df
    "dedup_jaccard_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPrefixPairs(t(s, dir, "documents"), N, 4, 5)),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashPairs(t(s, dir, "documents"), N, 0.5)),
    // sketch-accuracy eval #4 (HLL/CMS/quantile have est-vs-exact rows;
    // this closes the set for MinHash): every dedup_minhash_lsh pair with
    // its signature estimate, TRUE Jaccard, and the absolute error —
    // candidates stay LSH-restricted on both sides, no all-pairs join
    // one pipeline, not minHashPairs ⋈ corpusDedup(0.0): the two operands
    // recomputed the same digest index / signatures / banded candidates —
    // see Dedup.minHashEstVsExact's equivalence note (r18; rows identical,
    // same oracle)
    "dedup_minhash_est" -> ((s, dir) =>
      Dedup.minHashEstVsExact(t(s, dir, "documents"), N, 0.5)),
    // incremental dedup — the operational 100 TB form: every 10th doc
    // plays the incoming batch, the rest the existing corpus represented
    // ONLY by its persisted signature index; output = near-dup pairs
    // touching a new doc (new-vs-old and new-vs-new in one pass)
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = Dedup.minHashSignatures(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), N)
      Dedup.incrementalMinHashPairs(
        docs.where(pmod(col("doc_id"), lit(10)) === 0), index, N, 0.5)
    }),

    // LSH tuning eval: recall of the banded MinHash candidate generator
    // against EXACT n-gram Jaccard truth, per similarity decile — the
    // S-curve check a dedup stack runs before committing band/row
    // parameters (the dedup analogue of ann_ivf_recall). The exact truth
    // join is the eval stage, not the production path (dedup_corpus never
    // runs it corpus-wide) — and it is BOUNDED: the eval runs over a
    // deterministic md5-sampled 50% doc subset (same banding, same
    // S-curve shape, quadratic truth cost ÷4; sample size in the output),
    // because an eval quadratic in the corpus won't run at eval-scale.
    "dedup_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecallCurve(t(s, dir, "documents"), N, 0.05,
        samplePermille = 500)),

    // the BandBucketCap path under the oracle gate: candidate generation
    // with a cap LOW enough (2) to bind on the real corpus's exact-dup
    // cohorts — the oracle mirrors the occupancy window literally, so the
    // capped generator (not just the uncapped happy path) is hash-checked
    "dedup_capped_lsh" -> ((s, dir) =>
      Dedup.minHashCandidates(
        Dedup.minHashSignatures(t(s, dir, "documents"), N), maxBucket = 2)),

    // the flagship corpus-dedup composition: LSH candidates → exact
    // Jaccard verify restricted to candidates (no corpus-wide
    // inverted-index self-join anywhere in the plan)
    "dedup_corpus" -> ((s, dir) =>
      Dedup.corpusDedup(t(s, dir, "documents"), N, 0.8)),
    // near-dup pairs → connected components → canonical representative:
    // the decision stage of corpus dedup (cluster_id = min reachable doc)
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(Dedup.corpusDedup(t(s, dir, "documents"), N, 0.8)
        .select(col("a"), col("b")))),
    // the end product a dedup run ships: the corpus with every
    // non-representative cluster member dropped (anti-join on the
    // cluster assignment). Served FROM the durable store — the
    // production shape: the LSH+verify+fixpoint pipeline runs once per
    // corpus drop (store ≡ one-shot is dedup_clusters_store's oracle
    // proof); every consumer here is one parquet read + one anti-join
    "dedup_keep_list" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val drop = Dedup.clustersStore(docs, N, 0.8, dir)
        .where(col("doc_id") =!= col("cluster_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("lang"))
    }),
    // QUALITY-AWARE survivorship — what production dedup actually ships:
    // per near-dup cluster keep the HIGHEST-QUALITY member (token count;
    // tie → min doc_id), not the arbitrary min-id representative the
    // keep-list baseline uses. One bounded max_by per cluster over the
    // same clusters frame; quality joins in on the doc id
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cl = Dedup.clustersStore(docs, N, 0.8, dir) // durable store read
      val q = docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("quality"))
      val best = cl.join(q, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(max_by(col("doc_id"),
          struct(col("quality"), -col("doc_id"))).as("keep_id"))
      val drop = cl.join(best, "cluster_id")
        .where(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // the DEDUP FUNNEL REPORT — the one-row summary a curation run logs:
    // corpus size, exact-duplicate count (md5-identical texts beyond the
    // first), near-duplicate count (non-representative cluster members),
    // and the survivor share in exact ppm. Three bounded aggregates over
    // already-declared frames; integer-only output
    "dedup_rate_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // distinct-then-count instead of count+countDistinct in ONE agg:
      // the mixed form plans a 2x Expand (the q21 class)
      val totals = docs.agg(count(lit(1)).as("n_docs"))
      val distinctTexts = docs.select(md5(col("text")).as("h")).distinct()
        .agg(count(lit(1)).as("n_distinct_texts"))
      val nearDrop = Dedup.clustersStore(docs, N, 0.8, dir)
        .where(col("doc_id") =!= col("cluster_id"))
        .agg(count(lit(1)).as("n_near_dups"))
      totals.crossJoin(distinctTexts) // 1-row frames, documented pattern
        .crossJoin(nearDrop)
        .select(col("n_docs"),
          (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
          col("n_near_dups"),
          // guard: an EMPTY corpus has n_docs = 0 and ANSI `div` throws
          // (the events_ab_srm class); NULL survivor share is the honest
          // read of "nothing to survive"
          when(col("n_docs") > 0,
            expr("(n_docs - n_near_dups) * 1000000L div n_docs"))
            .as("survivor_ppm"))
    }),

    // the cluster assignment as a DURABLE ARTIFACT (build-once,
    // serve-many): first evaluation computes corpusDedup→clusters and
    // persists the (doc_id, cluster_id) table; every later evaluation —
    // and every consumer below — is ONE parquet read. This is the
    // production amortization for the five self-contained cluster
    // queries above (each rebuilds the ~2 s pair pipeline only because
    // bench queries declare themselves self-contained). The oracle
    // recomputes clustering from scratch in DuckDB, so a green hash IS
    // the store-equals-one-shot proof.
    "dedup_clusters_store" -> ((s, dir) =>
      Dedup.clustersStore(t(s, dir, "documents"), N, 0.8, dir)),
    // the marginal consumer: the shipped keep-list served FROM the
    // store — one parquet read + one anti-join, sub-second at bench
    // grain because the candidate/verify/fixpoint cost is amortized
    "dedup_from_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val drop = Dedup.clustersStore(docs, N, 0.8, dir)
        .where(col("doc_id") =!= col("cluster_id"))
      docs.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // STORE MAINTENANCE — the operational form of cluster upkeep at
    // 100 TB: a new 10% drop arrives; the stored assignment (built on
    // the old 90% and served from its own durable store) is updated
    // with ONLY the exact-verified pairs touching new docs. The old
    // corpus contributes NOTHING but its persisted kernel frame
    // (shingle-set sizes, signatures and sorted shingle digests, written
    // once at store build; band keys are projected from it) —
    // the maintenance path never re-reads or re-shingles old TEXT, so
    // per-batch cost tracks batch size, not corpus size (spec-pinned:
    // every file scan in the maintenance plan reads the store).
    // Old-old pairs connect exactly what the stored star edges already
    // connect, so components(star edges ∪ touching pairs) ≡ a full
    // recompute — and the ORACLE IS the full-corpus clustering, making
    // that equivalence a hash-checked fact, not a comment.
    "dedup_store_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newDocs = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val oldDocs = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val store = Dedup.dedupStore(oldDocs, N, 0.8, s"$dir#old90")
      val starEdges = store.clusters
        .where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("a"), col("cluster_id").as("b"))
      val touching = Dedup.incrementalCorpusDedupStored(newDocs, store, N, 0.8)
        .select(col("a"), col("b"))
      Dedup.clusters(starEdges.unionByName(touching))
    }),

    // the FULL maintenance cycle: advance the old-90% store by the 10%
    // drop and serve the UPDATED assignment from the published artifacts
    // (merged kernel frame + new clusters, one atomic
    // rename). The oracle is the full-corpus clustering, so store-
    // advance ≡ full recompute is a hash-checked fact; and because the
    // advance never reads old text, this is the end-to-end proof that a
    // 100 TB corpus store can roll forward at batch-tracking cost.
    "dedup_store_advance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newDocs = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val oldDocs = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val store = Dedup.dedupStore(oldDocs, N, 0.8, s"$dir#old90")
      Dedup.dedupStoreAdvance(store, newDocs, N, 0.8, s"$dir#adv100").clusters
    }),

    "dedup_simhash" -> ((s, dir) => Dedup.simhash(t(s, dir, "documents"))),
    // exact Hamming-ball banding: the 4×4-bit band join guarantees every
    // pair with hamming <= 3 collides somewhere, so the oracle is the
    // straightforward all-pairs form while the plan stays bucketed
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), 3)),

    // the composed curation pipeline: quality gate → exact dedup →
    // cross-source decontamination, in one declarative plan
    "pipeline_clean_corpus" -> ((s, dir) =>
      CorpusPipeline.cleanCorpus(t(s, dir, "documents"))),

    // the FULL curation DAG a training run ships, one declarative plan:
    // quality gate → exact dedup → cross-source screen → eval n-gram
    // decontamination (every 50th doc = the benchmark) → hash-stratified
    // mixing → token-budget shard packing
    "pipeline_curate_full" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val train = docs.where(pmod(col("doc_id"), lit(50)) =!= 0)
      // stage boundary: decontamination consumes the cleaned corpus twice
      // (n-gram stream + anti-join), and the mix/pack tail reads it again —
      // materialize once instead of re-running the clean stage per consumer
      val clean = CorpusPipeline.cleanCorpus(train)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .materialized
      val decon = CorpusPipeline.evalNgramDecontaminate(clean, evalSet, N)
      val mixed = CorpusPipeline.sampleMix(decon,
        Map("src0" -> 1.0, "src1" -> 0.5), 0.25)
      CorpusPipeline.packShards(mixed, 500L)
    }),

    // deterministic hash-stratified corpus mixing: per-source keep rates
    // (src0 all, src1 half, src2 quarter, everything else 10%), selected
    // by md5 bucket — reproducible across engines/runs/retries, no RNG
    "corpus_sample_mix" -> ((s, dir) =>
      CorpusPipeline.sampleMix(t(s, dir, "documents"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), 0.1)
        .select(col("doc_id"), col("source"), col("lang"))),

    // epoch-aware oversampling (the multi-epoch mixture knob: src0 seen
    // ~2.5×, src1 ~1.5×, everything else once) — whole copies for
    // floor(e), one extra for a deterministic md5-bucket frac(e) slice;
    // shuffle-free per-row fan-out
    "corpus_epoch_mix" -> ((s, dir) =>
      CorpusPipeline.epochMix(t(s, dir, "documents"),
          Map("src0" -> 2.5, "src1" -> 1.5), 1.0)
        .select(col("doc_id"), col("source"), col("copy_idx"))),

    // deterministic token-budget shard packing (sequence-packing prelude):
    // shard = which 500-token block a document's first token falls in,
    // doc_id order within each source
    "corpus_pack_shards" -> ((s, dir) =>
      CorpusPipeline.packShards(t(s, dir, "documents"), 500L)),

    // context-window sequence packing (the trainer-facing "packed
    // examples"): per-pack token sums NEVER exceed 512, every doc in
    // exactly one pack with its within-pack offset — block packing, the
    // prefix-sum-parallel form of greedy fill (overflow doc per block
    // boundary gets the odd pack id)
    "corpus_pack_sequences" -> ((s, dir) =>
      CorpusPipeline.packSequences(t(s, dir, "documents"), 512)),

    // shard manifest: per-(source, shard) doc/token counts + md5
    // membership fingerprint — the reproducibility record a training run
    // stores next to its data
    "corpus_shard_manifest" -> ((s, dir) =>
      CorpusPipeline.shardManifest(t(s, dir, "documents"), 500L)),

    // deterministic global training shuffle: md5-bucket shard + in-shard
    // rank — a reproducible epoch permutation realized as independent
    // per-shard sorts (never one total-order sort); seed varies per epoch
    "corpus_global_shuffle" -> ((s, dir) =>
      CorpusPipeline.globalShuffle(t(s, dir, "documents"), 16)),

    // deterministic weighted sampling (Efraimidis-Spirakis, md5-derived
    // uniforms): 20 docs per source, inclusion odds proportional to
    // n_chars — longer documents sample in more often, reproducibly
    "corpus_weighted_sample" -> ((s, dir) =>
      CorpusPipeline.weightedSample(t(s, dir, "documents"), 20, col("n_chars"))),

    // Neyman-allocation stratified sampling: a 500-doc budget split
    // across sources ∝ N_h·S_h (size × token-count std — the
    // variance-minimizing allocation), drawn at md5-bucket rates;
    // exact-integer moments, two map-side passes, no per-stratum sorts
    "corpus_stratified_neyman" -> ((s, dir) =>
      CorpusPipeline.stratifiedNeyman(t(s, dir, "documents"), 500)),

    // corpus diversity: per-source bigram type-token ratio — repetitive
    // or templated sources score low. Exact two-level distinct (group by
    // (source, ngram) then count) — both levels map-side combinable, no
    // approx sketch needed
    "text_ngram_diversity" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("source"), explode(TextOps.shingleStructs(col("text"), 2)).as("g"))
        .select(col("source"), TextOps.shingleString(col("g"), 2).as("g"))
      sh.groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("distinct_ngrams"), sum("c").as("total_ngrams"),
          round(count(lit(1)) / sum("c"), 6).as("ttr"))
    }),

    // packing/planning stats: per-source token-count percentiles (choose
    // max_seq_len, budget packing). Exact percentile buffers per group —
    // the 100-TB path swaps in approx_percentile (q_approx_percentile)
    "corpus_length_percentiles" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), TextOps.tokenCount(col("text")).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("total_tokens"),
          round(expr("percentile(n_tok, 0.5)"), 6).as("p50"),
          round(expr("percentile(n_tok, 0.9)"), 6).as("p90"),
          round(expr("percentile(n_tok, 0.99)"), 6).as("p99"))),

    // per-language quota sampling (language-balanced corpus): exactly
    // min(30, |lang|) docs per language, uniform (weight 1) A-ES keys,
    // bounded TopKPairs aggregate — no per-stratum window sort
    "corpus_lang_quota" -> ((s, dir) =>
      CorpusPipeline.weightedSample(t(s, dir, "documents"), 30, lit(1.0), "lang")),

    // curriculum schedule: token-count difficulty bins (4 bins, 20-token
    // bands) round-robin-interleaved; within-bin order is a two-level
    // (md5 shard, in-shard sort) permutation — never one global sort
    "corpus_curriculum" -> ((s, dir) =>
      CorpusPipeline.curriculumSchedule(t(s, dir, "documents"), 4, 20, 8)),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    // log-likelihood-ratio scores against the src0 target domain, top-50
    // most target-like documents
    // tSpread (r18): the hashed-ngram scoring pass is scan-chained and
    // single-row-group-serialized; measured −0.8 s with adaptive spread
    "corpus_dsir_topk" -> ((s, dir) =>
      CorpusPipeline.dsirTopK(tSpread(s, dir, "documents"), "src0", 256, 50)),

    // leakage-safe train/val/test split: hash assignment on the near-dup
    // cluster REPRESENTATIVE, so no cluster ever straddles a split
    // boundary (the train/test contamination a per-doc hash produces)
    // served from the durable cluster store (the production consumer
    // shape; the split itself is one left join + a per-row hash)
    "corpus_split_leakage_safe" -> ((s, dir) =>
      CorpusPipeline.leakageSafeSplitFromClusters(
        t(s, dir, "documents"),
        Dedup.clustersStore(t(s, dir, "documents"), N, 0.8, dir),
        trainRate = 0.8, valRate = 0.1)),

    // eval-set decontamination by n-gram overlap (the GPT-3/PaLM recipe):
    // every 50th document plays the held-out benchmark; training docs
    // sharing ANY word 3-gram with it are dropped via a broadcast
    // semi-join over the corpus n-gram stream
    "corpus_decontaminate_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusPipeline.evalNgramDecontaminate(
          docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(50)) === 0), N)
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // MIXTURE PLANNING: given a token budget and per-source weights, the
    // sampling rate and repeat factor (epochs) each source needs — the
    // design sheet a training mix is built from. Integer budget split
    // ((B·w) div Σw) and ceil-division epochs, so the plan is bit-exact;
    // weights derive from the source name (no RNG, mirrorable)
    "corpus_mixture_plan" -> ((s, dir) => {
      val B = 100000L
      val per = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast(org.apache.spark.sql.types.LongType))
            .as("tokens_avail"))
        .withColumn("weight", expr("CAST(substring(source, 4) AS BIGINT) % 4 + 1"))
      per.crossJoin(broadcast(per.agg(sum(col("weight")).as("sumw"))))
        .select(col("source"), col("n_docs"), col("tokens_avail"), col("weight"),
          expr(s"(${B}L * weight) div sumw").as("target_tokens"),
          round(expr(s"(${B}L * weight) div sumw")
              .cast(org.apache.spark.sql.types.DoubleType) / col("tokens_avail"), 6)
            .as("rate"),
          expr(s"(((${B}L * weight) div sumw) + tokens_avail - 1) div tokens_avail")
            .as("epochs"))
    }),

    // TEMPERATURE-scaled mixture (the multilingual-LM up/down-sampling rule,
    // p_s ∝ n_s^α with α = 0.5): flattens the source distribution so head
    // sources stop drowning the tail without discarding their mass ordering.
    // α = 0.5 is computed as sqrt — IEEE-correctly-rounded in BOTH engines,
    // unlike general pow — then rounded once; the α-mass total is
    // decimal-summed so partial-agg order can't perturb the shares
    "corpus_temperature_mix" -> ((s, dir) => {
      val B = 10000L // document budget to apportion
      val per = t(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_alpha",
          round(sqrt(col("n_docs").cast(org.apache.spark.sql.types.DoubleType)), 6))
      val tot = per.agg(
        sum(col("w_alpha").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_alpha"),
        sum(col("n_docs")).as("n_total"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          round(col("n_docs").cast(org.apache.spark.sql.types.DoubleType) /
            col("n_total"), 6).as("raw_share"),
          round(col("w_alpha") / col("sum_alpha"), 6).as("temp_share"),
          floor(lit(B.toDouble) * round(col("w_alpha") / col("sum_alpha"), 6))
            .cast(org.apache.spark.sql.types.LongType).as("planned_docs"))
    }),

    // paragraph-granularity exact dedup: every repeated 8-token block keeps
    // its FIRST corpus occurrence only, documents rewritten from surviving
    // blocks — the substring-level pass of Lee et al. 2022, vs
    // text_remove_boilerplate which deletes ALL copies of high-df blocks
    "corpus_paragraph_dedup" -> ((s, dir) =>
      TextOps.dedupParagraphs(t(s, dir, "documents"))),

    // the filter FUNNEL: every document attributed to the first gate
    // that drops it (length → language → stopword density → exact dup),
    // per source — the reconciliation report for a curation run (stage
    // counts sum to the corpus row count)
    "pipeline_audit_filters" -> ((s, dir) =>
      CorpusPipeline.filterAudit(t(s, dir, "documents"))),

    // the same decontamination behind a Bloom prefilter — the plan that
    // survives an eval n-gram set too big to broadcast exactly: the
    // 128 KiB bloom image rides a 1-row broadcast, the corpus stream
    // probes it inside codegen, and the exact semi-join sees only
    // hits + fp residue. Answer is bit-identical to the plain form.
    "corpus_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusPipeline.evalNgramDecontaminateBloom(
          docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(50)) === 0), N)
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // graded contamination: per training doc, the fraction of its distinct
    // 3-grams found in the eval set — the threshold/audit companion to the
    // any-hit filter above (same broadcast shape)
    "corpus_contamination_scores" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusPipeline.evalNgramOverlap(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(50)) === 0), N)
    }),

    // TF-IDF top-5 terms per document (smoothed idf, window over per-doc
    // distinct terms only)
    "text_tfidf_topk" -> ((s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), 5)),

    // corpus-bigram LM quality score (CCNet-style perplexity proxy):
    // add-one-smoothed bigram logP averaged per document, decimal-summed
    // for order-independent parity
    "text_lm_score" -> ((s, dir) =>
      TextOps.lmBigramScores(t(s, dir, "documents"))),

    // interpolated Kneser-Ney bigram model (the KenLM smoothing): held-out
    // probability mass routed through continuation counts; one corpus pass
    // then vocab²-bounded algebra — rows capped at raw count ≥ 3
    "text_kn_bigram_lm" -> ((s, dir) =>
      TextOps.knBigramProbs(t(s, dir, "documents"))),

    // exact-substring dedup signal (Lee et al. 2022): share of each doc's
    // positional 8-token windows that also occur in ANOTHER document —
    // the per-doc score a curation pass thresholds to drop or trim
    "dedup_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpanStats(t(s, dir, "documents"), 8)),

    // exact-substring dedup as a rewrite (Lee et al. 2022's removal pass):
    // every 8-token window occurring in ≥2 docs is deleted from all but
    // the min-doc_id holder; output is the REWRITTEN corpus, shuffles
    // sized by duplication (doc-local token filter), not corpus tokens
    "dedup_span_removal" -> ((s, dir) =>
      Dedup.removeRepeatedSpans(t(s, dir, "documents"), 8)),

    // INCREMENTAL span removal: the 10% drop is rewritten against the
    // old-90% corpus' durable window-digest registry — old text never
    // re-read, old docs never re-emitted. The oracle is the FULL-corpus
    // removal restricted to batch ids, so store ∪ batch ≡ full recompute
    // is a hash-checked fact
    "dedup_span_store_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newDocs = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val oldDocs = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val store = Dedup.spanStore(oldDocs, 8, s"$dir#old90")
      Dedup.removeRepeatedSpansStored(newDocs, store, 8)
    }),

    // STREAMING span removal: two doc_id-ordered micro-batches, each
    // rewritten against the registry of everything seen so far then
    // folded into it — the oracle is the ONE-SHOT full-corpus removal,
    // so the cross-batch registry handoff is a hash-checked fact
    "stream_span_removal" -> ((s, dir) =>
      graft.streaming.CorpusStream.spanRemovalAll(s, dir, 8)),

    // the maintenance cycle: advance the old-90% registry by the 10%
    // drop (digest-keyed merge, batch-scan cost) and serve the advanced
    // store's dup rows — the oracle recomputes them from the full corpus,
    // so advanced registry ≡ full rebuild is a hash-checked fact
    "dedup_span_store_advance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newDocs = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val oldDocs = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val store = Dedup.spanStore(oldDocs, 8, s"$dir#old90")
      val adv = Dedup.spanStoreAdvance(store, newDocs, 8, s"$dir#full")
      adv.spans.where(col("ndocs") >= 2)
        .select(lower(hex(col("s"))).as("span_md5"), col("keeper"), col("ndocs"))
    }),

    // frequency-rank vocabulary encoding: top-1000 tokens become ids, the
    // corpus re-assembles into the id sequences a trainer consumes
    "corpus_token_ids" -> ((s, dir) =>
      CorpusPipeline.tokenIds(t(s, dir, "documents"), vocabSize = 1000)),

    "text_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeEstimate(col("text")).as("bpe_est"))),

    // canonical normalization (NFC → lower → whitespace collapse → trim)
    // as ONE fused codegen expression — the first pass of every cleaning
    // pipeline. The corpus is ASCII, so `norm_probe` adorns each document
    // with normProbe (tabs, double spaces, a combining accent, ß,
    // uppercase) to force the oracle to exercise every normalization
    // stage, not just the identity path.
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.NormalizeText.normText(col("text")).as("norm_text"),
        graft.functions.NormalizeText.normText(
          concat(col("text"), lit(normProbe))).as("norm_probe"))),

    // inverted index: term → df + sorted posting list; stoplist-grade
    // terms (df > cap) keep their df row with NULL postings, so no
    // unbounded collect buffer exists anywhere in the plan
    "text_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(t(s, dir, "documents"), maxDf = 50)),

    // Count-Min-Sketch heavy hitters: d×w md5-hashed counter grid, token
    // estimate = MIN over its d cells, reported next to the exact count so
    // the over-estimate is itself an oracle-checked column
    "text_cms_heavy_hitters" -> ((s, dir) =>
      TextOps.cmsHeavyHitters(t(s, dir, "documents"))),

    // Heaps'-law vocabulary growth: new distinct tokens contributed by each
    // corpus decile (token owned by its FIRST document) + cumulative vocab
    "text_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(t(s, dir, "documents"))),

    // Zipf head fit per source: OLS of ln(freq) on ln(rank) over the top
    // terms — generator-artifact detector (templated text flattens, noise
    // steepens); vocab-bounded window + five decimal-exact sums
    "text_zipf_slope" -> ((s, dir) =>
      TextOps.zipfSlope(t(s, dir, "documents"))),
    // hapax fraction per source — the tail-regime complement to the Zipf
    // head fit; one token census, exact integers
    "text_hapax_ratio" -> ((s, dir) =>
      TextOps.hapaxRatio(t(s, dir, "documents"))),

    // edit-distance fuzzy pairs over the distinct part-name catalog
    // (entity resolution): block on the rarest token, verify exact
    // levenshtein in the join projection
    "dedup_fuzzy_names" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .select(col("p_name").as("id"), col("p_name").as("name")).distinct()
      Dedup.editDistancePairs(names, maxDist = 4)
    }),

    // PageRank centrality over the part↔supplier bipartite graph (the
    // crawl-graph/domain-ranking primitive for source prioritization):
    // 3 power iterations, edges derived once, fixed-point integer units
    // so ranks are bit-exact across engines
    "graph_pagerank" -> ((s, dir) => {
      val e = t(s, dir, "lineitem").select(
          concat(lit("p"), col("l_partkey").cast("string")).as("a"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
        .distinct()
      graft.operators.GraphOps.pageRank(e, 3)
    }),

    // personalized PageRank from a seed set (every 10th supplier):
    // the "more like these" neighborhood-expansion primitive — restart
    // mass lands ONLY on seeds, so rank concentrates near them; same
    // fixed-point integer units as graph_pagerank, bit-exact
    "graph_ppr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val e = li.select(
          concat(lit("p"), col("l_partkey").cast("string")).as("a"),
          concat(lit("s"), col("l_suppkey").cast("string")).as("b"))
        .distinct()
      val seeds = li.where(pmod(col("l_suppkey"), lit(10)) === 0)
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("id"))
        .distinct()
      graft.operators.GraphOps.personalizedPageRank(e, seeds, 3)
    }),

    // deterministic label-propagation communities over the co-purchase
    // graph: 4 synchronous rounds, most-frequent neighbor label with
    // smallest-label tie-break as a map-side-combinable argmax — no RNG,
    // no visit order, no per-node window sort
    "graph_communities" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.GraphOps.labelPropagation(edges, 4)
    }),

    // exact triangle count over the co-purchase graph (parts co-ordered in
    // ≥ 3 baskets): degree-ordered orientation bounds the wedge self-join
    // by O(√m) out-degrees even on power-law graphs
    "graph_triangles" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.GraphOps.triangleCount(edges)
    }),

    // global clustering coefficient (transitivity): 3·triangles/wedges —
    // the one-number cliquishness diagnostic; shares the triangle
    // machinery, wedge denominator straight off the degree census
    "graph_clustering_coeff" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.GraphOps.clusteringCoefficient(edges)
    }),

    // link prediction over the co-purchase graph: top-20 NON-adjacent pairs
    // by neighbor-set Jaccard — "bought with the same things, never
    // together yet", the graph-completion/recommendation primitive; wedge
    // join + anti-join against the canonical edge frame
    "graph_link_prediction" -> ((s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.GraphOps.linkPrediction(edges, 20)
    }),

    // k-core of the co-purchase graph: 4 synchronous peel sweeps at k=3
    // isolate the densely co-ordered heart from one-off periphery — each
    // sweep is two nodes-sized semi-joins against the once-materialized
    // adjacency, never an edge re-shuffle
    "graph_kcore" -> ((s, dir) => {
      val edges = coPurchaseEdges2(s, dir)
      graft.operators.GraphOps.kCore(edges, k = 3, rounds = 4)
    }),

    // embedding-noise curation: per-label BOTTOM-DECILE prototypicality
    // outliers (cos to own-label centroid ≤ the exact decile boundary via
    // the census walk) — the mislabeled/noise screen a curation pass runs
    // before centroids feed SemDeDup or classifiers; scores computed once,
    // thresholds broadcast back
    "emb_label_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sim = Similarity.centroidSim(t(s, dir, "embeddings")).materialized
      val cum = sim.groupBy(col("label"), col("cos_centroid"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("label")).orderBy(col("cos_centroid"))))
      val nl = sim.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val thr = cum.join(nl, "label")
        .where(col("cum") * 10 >= col("n"))
        .groupBy(col("label")).agg(min(col("cos_centroid")).as("threshold"))
      sim.join(broadcast(thr), "label")
        .where(col("cos_centroid") <= col("threshold"))
        .select(col("vec_id"), col("label"), col("cos_centroid"), col("threshold"))
    }),

    // graph-structure eval: degree assortativity (Pearson r of endpoint
    // degrees) over the co-purchase graph — hub-to-hub vs hub-to-leaf
    // mixing, the partitioning-strategy signal; one row of integer sums
    "graph_assortativity" -> ((s, dir) =>
      graft.operators.GraphOps.assortativity(coPurchaseEdges2(s, dir))),

    // community-quality eval: per-community Newman modularity of the
    // label-propagation partition — intra-edge density vs the degree-mass
    // null model; edge-sized label stamps, community-sized algebra
    "graph_modularity" -> ((s, dir) => {
      // both frames fan out (edges ×3, labels ×2 inside modularity) —
      // materialize once so neither the basket mining nor the 4-round LP
      // fixpoint re-executes per consumer
      val edges = coPurchaseEdges(s, dir).materialized
      graft.operators.GraphOps.modularity(edges,
        graft.operators.GraphOps.labelPropagation(edges, 4).materialized)
    }),

    // connected components at SCALE: alternating large-star/small-star
    // rounds (O(log n) rounds vs hash-min's O(diameter)) over the
    // co-purchase graph — min-id representatives identical to the
    // hash-min fixpoint, proven by the shared recursive-CTE oracle shape
    "graph_cc_star" -> ((s, dir) => {
      val edges = coPurchaseEdges2(s, dir)
      graft.operators.GraphOps.connectedComponentsStar(edges)
    }),

    // hop-bounded multi-source BFS over the co-purchase graph: exact
    // shortest hop distance (≤ 4) from the id%37==0 landmark items — the
    // landmark-distance feature primitive; per hop = one nodes-sized join
    // + min fold
    "graph_bfs_distances" -> ((s, dir) => {
      val edges = coPurchaseEdges2(s, dir)
      graft.operators.GraphOps.bfsDistances(edges, col("id") % 37 === 0, maxHops = 4)
    }),

    // sampled harmonic centrality: Σ 1/d from 4 md5-chosen landmark
    // seeds, hop-bounded — the closeness variant that survives
    // disconnection; per-hop cost = seeds × the BFS frontier frame
    "graph_harmonic_centrality" -> ((s, dir) =>
      graft.operators.GraphOps.harmonicCentrality(
        coPurchaseEdges2(s, dir), seeds = 4, maxHops = 4)),

    // asymmetric near-dup: containment C(A→B) = |A∩B|/|A| catches the
    // quote/excerpt case Jaccard misses (short doc embedded in a long one);
    // same df-capped inverted index as the capped Jaccard run
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), N, 0.5, maxDf = Some(2L))),

    "text_quality" -> ((s, dir) => {
      val cols = TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: cols: _*)
    }),

    "text_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("pred_lang"))),

    // Flesch reading ease per doc — exact integer word/sentence/syllable
    // counts, one shuffle-free projection
    "text_readability" -> ((s, dir) =>
      TextOps.readability(t(s, dir, "documents"))),

    // code-vs-prose detection (mixture-weighting signal): symbol/indent
    // ppm + keyword hits, fixed linear verdict, exact integers
    "text_code_detect" -> ((s, dir) =>
      TextOps.codeDetect(t(s, dir, "documents"))),

    // classifier EVAL as a first-class query: the lang-ID confusion
    // matrix (actual × predicted counts with integer recall ppm per
    // cell's actual class) — the number that says whether the n-gram
    // heuristic is good enough to gate a corpus on; one tiny aggregate
    // over the per-doc predictions
    "text_langid_confusion" -> ((s, dir) => {
      import graft.operators.Dedup.MaterializeSyntax
      val pred = t(s, dir, "documents").select(col("lang"),
        TextOps.langId(col("text")).as("pred_lang")).materialized
      val totals = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_actual"))
      pred.groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        .join(broadcast(totals), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n * 1000000L div n_actual").as("recall_ppm"))
    }),

    // token-distribution Shannon entropy (bits) per document: the
    // quality signal separating prose from template/keyword-stuffed spam —
    // one (doc, token) shuffle, H folded from Σ c·ln c in the same pass
    "text_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(t(s, dir, "documents"))),

    // classifier eval #2: ROC AUC of the type-token-ratio quality score
    // against the lang=='en' pseudo-label — Mann-Whitney rank-sum over the
    // distinct-score census, 2×-scaled integer tied ranks, one division
    "quality_score_auc" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      graft.operators.Profile.rankAuc(t(s, dir, "documents"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 6),
        col("lang") === "en")
    }),

    // mixture monitoring: per-source unigram KL divergence vs the corpus
    // blend — one (source, token) aggregate feeds source marginals, token
    // marginals and the per-term sum; vocab-bounded joins, corpus scanned
    // once
    "text_source_divergence" -> ((s, dir) =>
      TextOps.sourceDivergence(t(s, dir, "documents"))),

    // distribution-level drift: per-source two-sample KS statistic of
    // the token-count distribution vs the REST of the corpus, flagged
    // against the α=0.05 critical value — catches shape changes
    // (bimodalization, truncation) that mean/variance monitors miss;
    // census-bounded cumulative walks, exact integer cums
    "quality_ks_drift" -> ((s, dir) =>
      graft.operators.Profile.ksDrift(t(s, dir, "documents"),
        col("source"), TextOps.tokenCount(col("text")))),

    // the LEARNED-MODEL step of curation, trained in-engine and
    // oracle-exact: a linear quality probe (2 integer features +
    // intercept, weak label = in-engine langId == 'en') solved in
    // closed form by Cramer over the exact integer normal equations —
    // one corpus pass, nine longs on the wire, floats only at the
    // final coefficient divisions (same exact integers → same IEEE
    // doubles in any engine)
    "quality_linear_probe" -> ((s, dir) =>
      TextOps.linearQualityProbe(t(s, dir, "documents"))),
    // the loop closed: score the corpus with the trained 3-vector (one
    // 1-row broadcast, shuffle-free scoring pass) and report training
    // accuracy at the 0.5 threshold — integer-exact readout
    "quality_probe_accuracy" -> ((s, dir) =>
      TextOps.linearQualityProbeAccuracy(t(s, dir, "documents"))),

    // KS drift over a CONTINUOUS metric (type-token ratio): the census
    // key is the exact scaled integer round(ttr·100) — quantize=Some(2)
    // bounds the grid at ≤101 rows at ANY corpus size, where the raw
    // ratio's distinct-value census would approach corpus size and turn
    // the unpartitioned cumulative walk into a global sort
    "quality_ks_drift_ttr" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      graft.operators.Profile.ksDrift(t(s, dir, "documents"),
        col("source"),
        size(array_distinct(toks)).cast("double") / size(toks),
        quantize = Some(2))
    }),

    // binned drift (Population Stability Index) per source vs the rest,
    // over width-50 n_chars bins: the mass-reallocation complement to
    // the KS sup-norm above — |sources|·|bins|-bounded census, Laplace-
    // smoothed shares, decimal-exact term sums
    "quality_psi_drift" -> ((s, dir) =>
      graft.operators.Profile.psiDrift(t(s, dir, "documents"),
        col("source"), col("n_chars"), binWidth = 50)),

    // per-source QUALITY FLOOR at the exact 25th percentile — drop each
    // source's worst quartile by type-token ratio. The quantile is the
    // equi-depth-histogram trick, NOT a per-source sort: scores aggregate
    // to a (source, score) histogram (bounded by distinct rounded scores),
    // the cum-dist window runs over that histogram, and the threshold
    // broadcasts back — per-group quantiles with no group-sized sort
    // partition anywhere, the shape that survives a 10-source 100 TB corpus
    "corpus_quality_floor" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("score"))
      val cum = scored.groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("score"))))
      val ns = scored.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val thr = cum.join(ns, Seq("source"))
        .where(col("cum") >= ceil(col("n_docs") * 0.25))
        .groupBy(col("source")).agg(min(col("score")).as("threshold"))
      // >= keeps threshold-tied docs: the floor drops only STRICTLY-worse
      // scores, so a source whose scores are all equal keeps everything
      // (with >, the degenerate all-ties source kept nothing)
      val kept = scored.join(thr, Seq("source"))
        .where(col("score") >= col("threshold"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      ns.join(thr, Seq("source")).join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("threshold"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),

    // per-source QUALITY CALIBRATION: each doc's score mapped to its
    // source-local empirical-CDF position (fraction of the source strictly
    // below it) so thresholds compare ACROSS sources whose raw score
    // distributions differ — same sort-free histogram + cum-dist shape as
    // the quality floor (never a per-source percent_rank sort over docs);
    // ties share a calibrated value by construction
    "corpus_quality_calibrate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("score"))
      val hist = scored.groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("score"))))
      val ns = scored.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      scored.join(hist, Seq("source", "score")).join(ns, Seq("source"))
        .select(col("doc_id"), col("source"), col("score"),
          round((col("cum") - col("c")).cast("double") / col("n_docs"), 6).as("pct"))
    }),

    // TERM PROXIMITY: the phrase-nearness signal BM25 is blind to — for
    // docs containing BOTH query terms, the minimum token distance between
    // their occurrences (positions self-join per doc, bounded by
    // occurrences of the two terms, not doc length), plus the 1/(1+span)
    // proximity score. Top-20 by nearest span.
    "text_term_proximity" -> ((s, dir) => {
      val terms = Seq("spark", "join")
      val pos = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("p", "tk")))
        .where(col("tk").isInCollection(terms))
      pos.as("x").join(pos.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.tk") < col("y.tk"))
        .groupBy(col("x.doc_id").as("doc_id"))
        .agg(min(abs(col("x.p") - col("y.p"))).cast("int").as("min_span"))
        .select(col("doc_id"), col("min_span"),
          round(lit(1.0) / (lit(1.0) + col("min_span")), 6).as("prox"))
        .orderBy(col("min_span").asc, col("doc_id").asc)
        .limit(20)
    }),

    "doc_fingerprint" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp_md5"))
        .join(TextOps.shingleMinFp(docs, N, "doc_id").withColumnRenamed("fp", "fp_shingle"),
          "doc_id")
    }),

    // rolling-hash winnowing fingerprints (SIGMOD'03): positional k-gram
    // hashes, sliding-window minima, distinct — local-match guarantee
    "doc_fingerprint_winnow" -> ((s, dir) =>
      TextOps.winnowFingerprints(t(s, dir, "documents"), N, 4)),

    // PII scrub: the corpus text decorated with synthetic PII (email, IP,
    // long id — the testdata itself is clean words) then redacted; the
    // oracle replays both the decoration and the redaction
    "text_redact_pii" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7 ref 12345678"),
          col("doc_id"))).as("clean"))),

    // URL-canonicalization dedup: four synthetic crawl variants of each
    // article (scheme/www/utm-query/fragment/trailing-slash noise — the
    // testdata has no URL column, so the decoration is replayed by the
    // oracle like text_redact_pii) collapse onto one canonical key; the
    // group census is the crawl-dedup decision table
    "dedup_url_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val g = expr("(doc_id div 4) % 10").cast("string")
      val aid = expr("doc_id div 4").cast("string")
      val base = concat(lit("site"), g, lit(".com/articles/"), aid)
      // arm 1 replays the upper-case crawl variant (HTTP://Site…) that the
      // case-insensitive strip + host lowercasing must collapse
      val baseUpper = concat(lit("Site"), g, lit(".com/articles/"), aid)
      val raw = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("https://www."), base, lit("/")))
        .when(pmod(col("doc_id"), lit(4)) === 1, concat(lit("HTTP://"), baseUpper))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("https://"), base, lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(concat(lit("https://www."), base, lit("#section-2")))
      d.select(col("doc_id"), raw.as("raw_url"))
        .select(col("doc_id"),
          TextOps.canonicalUrl(col("raw_url")).as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_raw"), min(col("doc_id")).as("keep_doc"))
    }),

    // Gopher-style repetition signal: the most-repeated bigram's share of
    // each document's positional bigrams
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionScores(t(s, dir, "documents"))),

    // substring-duplication signal (Lee et al. 2021): per doc, the share
    // of its positional word 3-grams that also occur in another document
    // — boilerplate that whole-doc dedup can't see
    "text_dup_ngram_fraction" -> ((s, dir) =>
      TextOps.dupNgramStats(t(s, dir, "documents"), N)),

    // n-gram NOVELTY attribution: per doc, the share of its distinct
    // 3-gram shingles whose FIRST corpus occurrence (min doc_id) is the
    // doc itself — dup_ngram_fraction's symmetric "is repeated" signal
    // re-cut as keep-first redundancy ordering; integer ppm, one shingle
    // exchange + one shingle-keyed join
    "text_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(t(s, dir, "documents"), N)),

    // boilerplate REMOVAL with reassembly (RefinedWeb/CCNet line dedup,
    // block = 8 tokens here): blocks shared by >= 2 docs are cut and each
    // document is rewritten from its surviving blocks in order — the one
    // text op that outputs a cleaned corpus, not a signal
    "text_remove_boilerplate" -> ((s, dir) =>
      TextOps.removeBoilerplateBlocks(t(s, dir, "documents"))),

    // tokenizer-fertility stats per language: subword-estimate tokens per
    // whitespace token — the "how expensive is this language to tokenize"
    // budget metric a multilingual mix is balanced against
    "text_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("ws"),
          TextOps.bpeEstimate(col("text")).as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          round(try_divide(sum(col("bpe")).cast("double"),
            sum(col("ws")).cast("double")), 6).as("fertility"))),

    // corpus vocabulary statistics: bigram document frequency, top 50
    "text_top_bigrams" -> ((s, dir) => {
      val sh = TextOps.distinctShingleRows(t(s, dir, "documents"), 2, "bigram")
      sh.groupBy(col("bigram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram").asc)
        .limit(50)
    }),

    // distributed BPE tokenizer induction (Sennrich et al. 2016): 6 merge
    // rounds over the word-frequency table — ONE corpus scan, then every
    // iteration is vocab-sized with a 1-row broadcast merge rule
    "text_bpe_merges" -> ((s, dir) => Bpe.merges(t(s, dir, "documents"), 6)),

    // train → apply: per-doc subword fertility under the corpus's own
    // 6-merge BPE vocab (n_subwords / n_words over vocab-eligible words)
    "text_bpe_fertility" -> ((s, dir) =>
      Bpe.fertility(t(s, dir, "documents"), 6)),

    // context-window chunking: 40-token windows advancing by 30 (10-token
    // overlap) — RAG/context-packing preprocessing, pure map-side explode
    "text_chunk_windows" -> ((s, dir) =>
      TextOps.chunkWindows(t(s, dir, "documents"), 40, 30)),

    // RAG passage retrieval: BM25 over chunk windows (passage surrogate
    // id = doc_id·10⁴ + chunk_id; chunk counts are bounded far below 10⁴
    // by tokens/stride), top-10 passages for the fixed query, attributed
    // back to (doc_id, chunk_id)
    "rag_passage_topk" -> ((s, dir) => {
      val ch = TextOps.chunkWindows(t(s, dir, "documents"), 40, 30)
      val passages = ch.select(
        (col("doc_id") * 10000 + col("chunk_id")).as("doc_id"),
        col("chunk_text").as("text"))
      TextOps.bm25Scores(passages, Bm25Terms)
        .select(struct(col("bm25").as("ord"), col("doc_id").as("payload")).as("pair"))
        .agg(graft.functions.TopKPairs.topK(col("pair"), 10).as("top"))
        .select(posexplode(col("top")))
        .select(expr("CAST(col.payload DIV 10000 AS BIGINT)").as("doc_id"),
          expr("CAST(col.payload % 10000 AS INT)").as("chunk_id"),
          col("col.ord").as("bm25"),
          (col("pos") + 1).cast("int").as("rank"))
    }),

    // MMR-diversified rerank of the BM25 top-10: greedy λ·rel − (1−λ)·max
    // token-Jaccard-to-selected selection of 5 — the diversity rerank a RAG
    // stack runs so retrieved context isn't five copies of one passage
    "rag_mmr_topk" -> ((s, dir) =>
      TextOps.mmrRerank(t(s, dir, "documents"), Bm25Terms)),

    // reciprocal-rank fusion of the BM25 top-20 with the cosine top-20
    // around vec_id 0 — the calibration-free hybrid-search merge
    // (Cormack et al. 2009); both lists are bounded reductions, the
    // fusion is a pool-sized full outer join + TakeOrdered
    "rag_rrf_fusion" -> ((s, dir) =>
      TextOps.rrfFusion(t(s, dir, "documents"), t(s, dir, "embeddings"),
        Bm25Terms, queryId = 0L, pool = 20, k = 10)),

    // length-distribution histogram (100-char buckets)
    "text_length_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(floor(length(col("text")) / 100).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_len"))),

    // decontamination: near-identical docs appearing under DIFFERENT
    // sources (shingle-min fingerprint collision across source labels)
    "dedup_cross_source" -> ((s, dir) => {
      val fp = TextOps.shingleMinFp(t(s, dir, "documents"), N, "doc_id", "source")
      fp.as("x").join(fp.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id") &&
            col("x.source") =!= col("y.source"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.source").as("source_a"), col("y.source").as("source_b"))
    }),

    // the source-pair contamination MATRIX: which sources copy from which
    // (count of cross-source fingerprint collisions per ordered source
    // pair) — the aggregate a curator reads before deciding which feed to
    // cut; same fingerprint grain as dedup_cross_source
    "corpus_source_overlap" -> ((s, dir) => {
      val fp = TextOps.shingleMinFp(t(s, dir, "documents"), N, "doc_id", "source")
      fp.as("x").join(fp.as("y"),
          col("x.fp") === col("y.fp") && col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // near-dup cluster SIZE histogram — the shape report a dedup run
    // ships (how much mass sits in big boilerplate clusters vs pairs);
    // singletons never enter the pair stream, so sizes start at 2
    "dedup_cluster_sizes" -> ((s, dir) => {
      val cl = Dedup.clustersStore(t(s, dir, "documents"), N, 0.8, dir)
      cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    }),

    // exact cosine top-10 for the first 5 vectors as queries
    "ann_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), 10)
    }),
    // embedding-cosine near-dup pairs: banded RP-sketch candidates →
    // exact cosine verify within buckets (the scale form; the exact O(n²)
    // Similarity.cosinePairs remains the test-side recall baseline)
    "ann_cosine_pairs" -> ((s, dir) =>
      Similarity.cosinePairsBucketed(t(s, dir, "embeddings"), 0.4)),
    // k-NN graph build (the NSW-style serving-index edge list): per-vector
    // top-3 neighbors by exact cosine over the SAME banded candidates as
    // ann_cosine_pairs; bounded TopKPairs cut, ≤ k edges per node on the
    // exchange
    "ann_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(t(s, dir, "embeddings"), 3)),

    // Local Outlier Factor over those same kNN edges: density-relative
    // embedding anomalies (mis-embedded / OOD vectors) — three id-keyed
    // joins with fan-in ≤ k, O(n·k) rows end-to-end
    "emb_lof_outliers" -> ((s, dir) =>
      Similarity.lofScores(t(s, dir, "embeddings"), 3)),

    // one-hop graph-expansion search (flattened NSW beam): LSH seeds
    // widened through the kNN-graph edges, exact rerank — recall repair
    // for one id-keyed join instead of more corpus probes
    "ann_graph_expand_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.graphExpandTopK(e, e.where(col("vec_id") < 5), 10,
        seedK = 10, graphK = 3)
    }),

    // Matryoshka truncation eval: recall@10 of the 16-of-64-dims prefix
    // cosine ranking vs the full ranking — the "can we serve 4x-smaller
    // vectors" measurement, two brute-force passes + one semi-join
    "emb_matryoshka_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.matryoshkaRecall(e, e.where(col("vec_id") < 5), 10, 16)
    }),

    // embedding-cosine near-dup DEDUP end product: the bucketed pair graph
    // above → connected components → keep-list (vectors minus
    // non-representative cluster members) — the same decision stage
    // dedup_keep_list runs for text, keyed on the embedding column
    "dedup_embedding" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val drop = Dedup.clusters(
          Similarity.cosinePairsBucketed(e, 0.4).select(col("a"), col("b")))
        .where(col("doc_id") =!= col("cluster_id"))
      e.join(drop.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),
    // the COHORT-SAFE composed pipeline the RpBucketCap recall story
    // prescribes, declared end-to-end on a corpus WITH a template cohort
    // (61 copies of vec_id 0's embedding — the embedded-boilerplate
    // shape that floods one bucket in every band): identity pass
    // (rounded-vector digest groupBy) collapses the cohort to one
    // representative BEFORE any pair join, the capped RP stage (the
    // derived median-occupancy binding cap) runs over representatives
    // only, CC over identity ∪ pair edges yields the keep-list —
    // hash-checked proof that the cohort is fully deduped while the
    // pair join stays capped
    "dedup_embedding_composed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cohort = e.where(col("vec_id") === 0)
        .select(explode(sequence(lit(1L), lit(60L))).as("i"),
          col("embedding"), col("label"))
        .select((lit(1000000L) + col("i")).as("vec_id"),
          col("embedding"), col("label"))
      Similarity.embeddingDedupComposed(e.unionByName(cohort), 0.4,
        maxBucket = Similarity.BindingOccupancyCap)
    }),
    // the RpBucketCap path under the oracle gate (the dedup_capped_lsh
    // pattern for embeddings): RP-band candidate generation with the cap
    // in its BINDING regime at every scale — ceil(n/2^r), the median-
    // occupancy cap (a fixed literal cannot stay binding: r16's sf0.1
    // compare caught cap 30 dropping EVERY bucket at n=2000 — the silent-
    // collapse regime). The oracle mirrors the occupancy window AND the
    // cap derivation literally, so the capped generator (not just the
    // uncapped happy path) is hash-checked
    "ann_capped_rp_pairs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val n = e.count()
      val r = Similarity.rpPlanesFor(n)
      Similarity.cosinePairsBucketed(e, -1.0, bands = 4, planesPerBand = r,
          maxBucket = Similarity.derivedBindingCap(n, r))
        .select(col("a"), col("b"))
    }),
    // hard-negative mining (contrastive training): per query, the top-10
    // most similar vectors with a DIFFERENT label — boundary negatives,
    // label filter applied before any dot product is computed
    "ann_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.where(col("vec_id") < 5), 10)
    }),
    // LSH-bucketed scale path — the hyperplanes are deterministic md5
    // literals and projections are rounded before the sign test, so the
    // DuckDB oracle mirrors the sketch exactly
    "ann_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.rpLshTopK(e, e.where(col("vec_id") < 5), 10, planes = 8, probes = 3)
    }),
    // int8 scalar-quantization path: 4×-compressed candidate scan (exact
    // integer code dot products), top-30 candidates per query re-scored
    // with the exact double cosine
    "ann_sq8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(e, e.where(col("vec_id") < 5), 10, rerank = 30)
    }),
    // binary quantization (1 bit/dim, 32× compression): sign-bit Hamming
    // candidate scan over two 32-bit words, exact cosine rerank — the
    // cheapest first-stage filter a vector store runs
    "ann_binary_hamming_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.binaryHammingTopK(e, e.where(col("vec_id") < 5), 10, rerank = 30)
    }),
    // IVF-Flat scale path: broadcast-centroid assignment, nprobe cells per
    // query, exact scoring within probed cells only
    "ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 10)
    }),
    // the IVF index as a DURABLE ARTIFACT (the dedup-store posture for
    // retrieval serving): centroids + cell-partitioned inverted lists
    // persisted once per corpus drop; this query SERVES top-k from the
    // store — only the probed list partitions are scanned — and the
    // oracle recomputes the whole search from scratch, so store ≡
    // recompute is a hash-checked fact
    "ann_ivf_store" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val store = Similarity.annIndexStore(e, 16, dir)
      Similarity.ivfTopKStored(store, e.where(col("vec_id") < 5), 10)
    }),
    // INCREMENTAL index maintenance (the dedup_store_advance posture for
    // retrieval): the old-90% index is advanced by the 10% batch — new
    // vectors assigned to the PINNED base centroids, delta lists appended
    // as their own cell-partitioned fileset behind a BASE pointer, old
    // vectors never re-read, old list files never rewritten — and top-k
    // is SERVED from the advanced chain. The oracle recomputes the whole
    // search from the full corpus with the same pinned (old-90%-derived)
    // centroids, so advance ≡ pinned-centroid rebuild is a hash-checked
    // fact and a 100 TB index rolls forward at batch cost.
    "ann_ivf_store_advance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val newV = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#emb-old90")
      val adv = Similarity.annIndexStoreAdvance(store, newV, s"$dir#emb-adv100")
      Similarity.ivfTopKStored(adv, e.where(col("vec_id") < 5), 10)
    }),
    // COMPACTION of an advance chain under the oracle gate (previously
    // suite-pinned only): the same old-90% base advanced TWICE (two 5%
    // batches), then folded into ONE cell-partitioned fileset — the
    // minor-compaction answer to per-serve link-listing overhead. The
    // oracle is the identical pinned-centroid full recompute as
    // ann_ivf_store_advance (assignments never moved: same centroids at
    // every link), so compact ≡ chain ≡ rebuild is a hash-checked fact.
    "ann_ivf_store_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val b1 = e.where(pmod(col("vec_id"), lit(20)) === 0)
      val b2 = e.where(pmod(col("vec_id"), lit(20)) === 10)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#emb-old90")
      val a1 = Similarity.annIndexStoreAdvance(store, b1, s"$dir#emb-cpt-a1")
      val a2 = Similarity.annIndexStoreAdvance(a1, b2, s"$dir#emb-cpt-a2")
      val cpt = Similarity.annIndexStoreCompact(a2, s"$dir#emb-cpt")
      Similarity.ivfTopKStored(cpt, e.where(col("vec_id") < 5), 10)
    }),
    // the REBUILD-CADENCE monitor for the pinned-centroid posture (r16
    // ask #3): advance/compact pin centroids forever, so this query is
    // what tells a deployment when retraining is due — per-cell
    // occupancy of the incoming batch (assigned by the advance's own
    // pinned-centroid rule) PSI-compared to the stored lists'
    // build-time occupancy over the fixed nlist universe, plus the
    // mean-quantization-error trend; rebuild_due fires at
    // PSI > 0.25 + psi_null (the finite-sample noise floor — without
    // it the industry 0.25 rule always fires at small batches) or
    // batch qerr > 1.5x build-time. Everything decimal-summed and
    // 6dp-cut, so the whole monitor — thresholds and null included —
    // is hash-checked against the DuckDB mirror.
    "ann_ivf_drift_monitor" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val newV = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#emb-old90")
      Similarity.annIndexDrift(store, newV)
    }),
    // the monitor in the production posture: the CURRENT index is
    // usually an advance CHAIN, so the build-time occupancy side is
    // the pointer-chain union (base lists ∪ delta lists), read through
    // the same per-link partition pruning a serve uses. Base = old-90%
    // advanced by the first 5% batch; monitored batch = the second 5%.
    // The oracle recomputes the chain's membership relationally, so
    // the chain-union read path itself is hash-checked under drift.
    "ann_ivf_drift_monitor_chain" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val b1 = e.where(pmod(col("vec_id"), lit(20)) === 0)
      val b2 = e.where(pmod(col("vec_id"), lit(20)) === 10)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#emb-old90")
      val a1 = Similarity.annIndexStoreAdvance(store, b1, s"$dir#emb-cpt-a1")
      Similarity.annIndexDrift(a1, b2)
    }),
    // the REBUILD the monitor mandates (r17 ask #2): when rebuild_due
    // fires, the coarse quantizer is RETRAINED over the advance chain's
    // full membership (read from the lists — the corpus is never
    // re-read) and a fresh base is published; serving cuts over and new
    // batches advance from it. Top-k served from the rebuilt index must
    // equal a from-scratch build over the full corpus — the build is
    // deterministic and shares its staging body — so the oracle is
    // exactly ann_ivf_store's from-scratch search, making
    // monitor→rebuild→cutover a hash-checked loop, not a convention.
    "ann_ivf_store_rebuild" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val newV = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#emb-old90")
      val adv = Similarity.annIndexStoreAdvance(store, newV, s"$dir#emb-adv100")
      val rebuilt = Similarity.annIndexStoreRebuild(adv, s"$dir#emb-rebuilt")
      Similarity.ivfTopKStored(rebuilt, e.where(col("vec_id") < 5), 10)
    }),
    // retrieval QUALITY as a query: recall@10 of the IVF search vs the
    // exact ranking — the evaluation loop a retrieval stack runs after
    // every index rebuild, here one semi-join of two declared pipelines
    "ann_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, q, 10).select(col("qid"), col("nid"))
      val approx = Similarity.ivfTopK(e, q, 10).select(col("qid"), col("nid"))
      val hits = exact.join(approx, Seq("qid", "nid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("qid")).distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / lit(10.0), 6)
            .as("recall"))
    }),
    // IVF-ADC: the billion-scale composition — coarse cells bound WHICH
    // vectors a query scores, PQ codes bound what each score costs
    // (non-residual IVFADC; search never touches raw embeddings)
    "ann_ivf_adc_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfAdcTopK(e, e.where(col("vec_id") < 5), 10)
    }),
    // metadata-filtered retrieval ("ANN with filters"): each query ranks
    // only vectors sharing its label — filter enforced in the join key,
    // never post-hoc, so no k-starvation
    "ann_filtered_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.filteredTopK(e, e.where(col("vec_id") < 5), 10, "label")
    }),

    // per-label mean embedding (SemDeDup/cluster-curation primitive):
    // decimal-summed means, map-side partial agg — codebook-sized shuffle
    "emb_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(t(s, dir, "embeddings"))),
    // EMBEDDING DRIFT between two corpus snapshots (vec_id parity plays
    // old/new): per label, L2 and cosine between the snapshot centroids —
    // the "did the encoder or the corpus move" monitor an embedding
    // pipeline alarms on before any index rebuild. Two decimal-exact
    // centroid aggregates (|labels|·dims rows each) + a label-keyed merge;
    // the corpus is scanned twice and never shuffled.
    "emb_source_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = Similarity.labelCentroids(e.where(pmod(col("vec_id"), lit(2)) === 0))
        .withColumnRenamed("c", "ca")
      val b = Similarity.labelCentroids(e.where(pmod(col("vec_id"), lit(2)) === 1))
        .withColumnRenamed("c", "cb")
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(
          round(sqrt(sum(((col("ca") - col("cb")) * (col("ca") - col("cb")))
            .cast(dec)).cast("double")), 6).as("l2_drift"),
          round(sum((col("ca") * col("cb")).cast(dec)).cast("double") /
            (sqrt(sum((col("ca") * col("ca")).cast(dec)).cast("double")) *
             sqrt(sum((col("cb") * col("cb")).cast(dec)).cast("double"))), 6)
            .as("cos_drift"))
    }),
    // each vector's cosine to its OWN label centroid — the
    // prototypicality score semantic pruning thresholds on; broadcast
    // centroids, one codegen'd corpus pass, no corpus exchange
    "emb_centroid_similarity" -> ((s, dir) =>
      Similarity.centroidSim(t(s, dir, "embeddings"))),

    // Lloyd k-means (k=8, 2 assignment passes): label-free cluster
    // structure for cluster-conditioned curation; broadcast centroids, one
    // unshuffled corpus pass per iteration, decimal-exact recomputation
    // top principal component by 4 power iterations — the whitening /
    // anisotropy-removal direction; candidate vector always broadcast,
    // corpus never shuffled
    "emb_top_pc" -> ((s, dir) =>
      Similarity.topPrincipalComponent(t(s, dir, "embeddings"), 64, 4)),

    // whitened ANN: cosine top-10 on dominant-direction residuals —
    // similarity after discounting what all embeddings share
    "ann_whitened_topk" -> ((s, dir) =>
      Similarity.whitenedTopK(t(s, dir, "embeddings"), 64, 4, 0L, 10)),

    "emb_kmeans" -> ((s, dir) =>
      Similarity.kMeans(t(s, dir, "embeddings"), 8, 2)),

    // per-label mean pairwise cosine WITHOUT a pairwise join (the
    // sum-of-vectors identity on unit vectors) — the slice-redundancy
    // score diversity-aware curation budgets on; O(n·d) total where the
    // naive pairwise form is O(n²·d) per label
    "emb_label_diversity" -> ((s, dir) =>
      Similarity.labelDiversity(t(s, dir, "embeddings"))),
    // intrinsic dimensionality of the embedding space (participation
    // ratio of the covariance spectrum, tr(C)²/tr(C²)) — the
    // representation-collapse alarm; eigen-free via trace identities,
    // one linear corpus pass with a d²-row exchange
    "emb_participation_ratio" -> ((s, dir) =>
      Similarity.participationRatio(t(s, dir, "embeddings"), 64)),
    // int8 reconstruction loss per label with the serving path's exact
    // quantization rule — decides SQ8 vs full precision per slice; one
    // unshuffled pass, three dot products per row
    "emb_quantization_error" -> ((s, dir) =>
      Similarity.sq8QuantizationError(t(s, dir, "embeddings"))),
    // per-label participation ratio — the SLICE collapse monitor (a
    // blend can hold overall PR steady while one source collapses);
    // same one-pass GramMoments shape, label-keyed buffers
    "emb_participation_by_label" -> ((s, dir) =>
      Similarity.participationRatioByLabel(t(s, dir, "embeddings"), 64)),

    // SemDeDup shape: exact cosine pairs WITHIN k-means cells — k·O((n/k)²)
    // instead of O(n²), equi-join on the cluster id, near-dups concentrate
    // in the same cell by construction
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticPairs(t(s, dir, "embeddings"), 8, 2, 0.35)),

    // BM25 lexical ranking against a fixed query-term set: the token
    // stream filters to query terms at the explode, df/N/avgdl broadcast —
    // the corpus is never shuffled
    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25Scores(t(s, dir, "documents"), Bm25Terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)),

    // hybrid retrieval (the RAG ranking shape): max-normalized BM25 fused
    // 50/50 with cosine-to-query-vector; lexical misses contribute 0, the
    // score join is id-keyed, the query vector and the max are broadcast
    "ann_hybrid_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // materialized once: the max scalar and the score join would
      // otherwise each re-run the whole BM25 pipeline from lineage
      val lex = TextOps.bm25Scores(t(s, dir, "documents"), Bm25Terms)
        .materialized
      val mx = lex.agg(max(col("bm25")).as("mx"))
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val cos = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          round(Similarity.cosineSim(col("v"), col("qv")), 6).as("cos_q"))
      cos.join(lex, cos("vec_id") === lex("doc_id"), "left")
        .crossJoin(broadcast(mx))
        .select(col("vec_id"),
          round(lit(0.5) * coalesce(col("bm25"), lit(0.0)) / col("mx") +
            lit(0.5) * col("cos_q"), 6).as("hybrid"))
        .orderBy(col("hybrid").desc, col("vec_id")).limit(20)
    }),

    // product quantization: each vector as m nearest-sub-centroid codes —
    // the memory-scale ANN representation (m·log2(ksub) bits per vector)
    "ann_pq_codes" -> ((s, dir) =>
      Similarity.pqCodes(t(s, dir, "embeddings"))),
    // asymmetric-distance search over the codes: broadcast per-query
    // distance tables, equi-join on (subspace, code), decimal-exact sums
    "ann_pq_adc_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqAdcTopK(e, e.where(col("vec_id") < 5), 10)
    }),
  )

  // ---- oracle SQL ----------------------------------------------------

  /** DuckDB list expr for POSITIONAL word-3-gram shingles of tokens `w`. */
  private val posShingleExpr =
    "list_transform(range(len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3])"

  /** DuckDB list expr for distinct word-3-gram shingles of tokens `w`. */
  private val shingleExpr = s"list_distinct($posShingleExpr)"

  /** The df-capped overlap CTEs (shingle sets, sizes, pairwise common
    * counts) — the literal mirror of `Dedup.overlapCounts` with `maxDf`;
    * shared by the capped-Jaccard and containment oracles. */
  private def cappedOverlapCte(cap: Long) =
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        sh0 AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
        sh1 AS (SELECT doc_id, unnest(ss) s FROM sh0),
        dfok AS (SELECT s FROM sh1 GROUP BY s HAVING count(*) <= $cap),
        sh AS (SELECT sh1.doc_id, sh1.s FROM sh1 JOIN dfok USING (s)),
        sz AS (SELECT doc_id, count(*) nsh FROM sh GROUP BY doc_id),
        cm AS (SELECT x.doc_id a, y.doc_id b, count(*) common
               FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2)"""

  /** [[ngramJaccardSql]] with the df > `cap` shingles dropped from both the
    * self-join and the set sizes — the literal mirror of `maxDf`. */
  private def ngramJaccardCappedSql(cap: Long) =
    s"""${cappedOverlapCte(cap)}
        SELECT a, b, CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) AS jaccard
        FROM cm JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        WHERE CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) >= 0.8"""

  /** Containment mirror over the same capped shingle sets. */
  private def containmentCappedSql(cap: Long, threshold: Double) =
    s"""${cappedOverlapCte(cap)}
        SELECT a, b, CAST(common AS DOUBLE)/sa.nsh AS cont_a,
          CAST(common AS DOUBLE)/sb.nsh AS cont_b
        FROM cm JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        WHERE greatest(CAST(common AS DOUBLE)/sa.nsh,
                       CAST(common AS DOUBLE)/sb.nsh) >= $threshold"""

  private val ngramJaccardSql =
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        sh0 AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
        sh AS (SELECT doc_id, unnest(ss) s FROM sh0),
        sz AS (SELECT doc_id, count(*) nsh FROM sh GROUP BY doc_id),
        cm AS (SELECT x.doc_id a, y.doc_id b, count(*) common
               FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2)
        SELECT a, b, CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) AS jaccard
        FROM cm JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        WHERE CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) >= 0.8"""

  /** DuckDB literal mirror of the universal-hash family: one md5 base per
    * shingle, k affine transforms with the same md5-derived constants. */
  /** DuckDB mirror of [[graft.operators.TextOps.chunkWindows]] at
    * width 40 / stride 30: one window per stride multiple below the token
    * count, tail windows short, 1-based inclusive list slice clamps. */
  private val chunkWindowsSql =
    """WITH t0 AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
       s AS (SELECT doc_id, w, unnest(generate_series(0, len(w)-1, 30)) start_tok FROM t0)
       SELECT doc_id, CAST(start_tok / 30 AS INT) AS chunk_id,
         CAST(start_tok AS INT) AS start_tok,
         CAST(least(40, len(w) - start_tok) AS INT) AS n_tok,
         array_to_string(w[start_tok+1 : start_tok+40], ' ') AS chunk_text
       FROM s"""

  // RE2 has no backreferences, so the no-triple-run filter is spelled
  // as 26 LIKE clauses (kept words are [a-z]+ only — equivalent to
  // Spark's rlike "(.)\1\1" rejection)
  private val bpeNoTriple =
    ('a' to 'z').map(c => s"word NOT LIKE '%$c$c$c%'").mkString(" AND ")

  /** DuckDB mirror of [[graft.operators.Bpe]]'s train loop: the 6-round
    * merge loop unrolled as a w0→t1→w1→…→t6→w6 CTE chain; replace applied
    * 3× per round exactly as the Spark side, same lexicographic
    * tie-break. Returns the WITH-prefix shared by the merges and
    * fertility oracles. */
  private val BpeRounds = 6
  private val bpeChainSql: String = {
    val sep = "chr(31)"
    val roundsSql = (1 to BpeRounds).map { r =>
      val prev = s"w${r - 1}"
      val pat = s"$sep || lhs || $sep || rhs || $sep"
      val rep = s"$sep || lhs || rhs || $sep"
      s"""p$r AS (SELECT l[i] lhs, l[i+1] rhs, freq FROM (
         |      SELECT freq, l, unnest(generate_series(1, len(l)-1)) i FROM (
         |        SELECT freq, list_filter(string_split(syms, $sep), x -> x <> '') l FROM $prev))),
         |  t$r AS (SELECT $r AS rank, lhs, rhs, SUM(freq) pair_freq FROM p$r GROUP BY lhs, rhs
         |          ORDER BY pair_freq DESC, lhs, rhs LIMIT 1),
         |  w$r AS (SELECT word, replace(replace(replace(syms, $pat, $rep), $pat, $rep), $pat, $rep) syms, freq
         |          FROM $prev, t$r)""".stripMargin
    }
    s"""WITH wf AS (
       |    SELECT word, COUNT(*) freq FROM (
       |      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word FROM documents)
       |    WHERE len(word) BETWEEN 2 AND 20 AND $bpeNoTriple
       |    GROUP BY word),
       |  w0 AS (SELECT word, $sep || regexp_replace(word, '(.)', '\\1' || $sep, 'g') syms, freq FROM wf),
       |  ${roundsSql.mkString(",\n  ")}""".stripMargin
  }

  private val bpeMergesSql: String = {
    val union = (1 to BpeRounds).map(r => s"SELECT * FROM t$r").mkString(" UNION ALL ")
    s"""$bpeChainSql
       |SELECT CAST(rank AS INT) AS rank, lhs, rhs, CAST(pair_freq AS BIGINT) AS pair_freq
       |FROM ($union)""".stripMargin
  }

  /** Train → apply mirror: per-doc subword fertility under the learned
    * w6 vocab (inner join on the same filtered word stream). */
  private val bpeFertilitySql: String =
    s"""$bpeChainSql,
       |  vocab AS (SELECT word,
       |      len(list_filter(string_split(syms, chr(31)), x -> x <> '')) n_sub
       |    FROM w$BpeRounds),
       |  fw AS (SELECT doc_id, word FROM (
       |      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |      FROM documents)
       |    WHERE len(word) BETWEEN 2 AND 20 AND $bpeNoTriple)
       |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       |  round(SUM(n_sub) / COUNT(*), 6) AS fertility
       |FROM fw JOIN vocab USING (word) GROUP BY doc_id""".stripMargin

  private val minhashSigSql = {
    val terms = (0 until Dedup.MinHashK).map { i =>
      val (a, b) = (MinHashKernel.hashConstant(s"a$i"), MinHashKernel.hashConstant(s"b$i"))
      s"list_min(list_transform(bs, x -> ($a * x + $b) % ${MinHashKernel.Prime}))"
    }.mkString(", ")
    s"[$terms]"
  }

  /** Shared by text_lang_id and the confusion-matrix eval built on it. */
  private[queries] val langIdSql: String = {
      val m = TextOps.langMarkers.toMap
      def sc(lang: String) =
        s"len(list_filter(w, t2 -> t2 IN (${m(lang).map(x => s"'$x'").mkString(", ")})))"
      s"""WITH t0 AS (SELECT doc_id, lang, text, string_split(text,' ') w FROM documents),
          sc AS (SELECT doc_id, lang,
                  ${sc("en")} s_en, ${sc("de")} s_de, ${sc("fr")} s_fr, ${sc("es")} s_es,
                  length(text) - length(regexp_replace(text, '[一-龥]', '', 'g')) s_zh
                 FROM t0)
          SELECT doc_id, lang,
            CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
                 WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
                 WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
                 WHEN s_es >= s_zh THEN 'es'
                 ELSE 'zh' END AS pred_lang
          FROM sc"""
    }

  /** Shared by the batch CMS query and its streaming maintenance form
    * (the folded per-batch grids provably equal the one-shot sketch). */
  private[queries] val cmsHeavyHittersSql =
      """WITH ex AS (SELECT token, count(*) AS exact
             FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             GROUP BY 1),
         cells AS (SELECT token, exact, j,
             CAST(('0x'||substr(md5(CAST(j AS VARCHAR)||':'||token),1,7)) AS BIGINT)
               % 512 AS bucket
             FROM ex, (SELECT unnest(generate_series(0, 3)) AS j)),
         sk AS (SELECT j, bucket, CAST(sum(exact) AS BIGINT) AS cnt
                FROM cells GROUP BY 1, 2),
         est AS (SELECT c.token, min(sk.cnt) AS est, CAST(min(c.exact) AS BIGINT) AS exact
                 FROM cells c JOIN sk USING (j, bucket) GROUP BY 1)
         SELECT token, est, exact, est - exact AS over_count
         FROM est ORDER BY est DESC, token ASC LIMIT 40"""

  /** Literal occupancy-cap mirror of [[Dedup.BandBucketCap]]: band
    * buckets past the cap are excluded from candidate generation, in the
    * oracle exactly as in every Spark generator — so the capped path is
    * hash-checked whenever it binds, not argued from comments. */
  private def bandCapSql(cap: Int) =
    s"""bkk AS (SELECT doc_id, j, bkey FROM (
          SELECT *, count(*) OVER (PARTITION BY j, bkey) occ FROM bk)
         WHERE occ <= $cap)"""

  private[queries] val minhashSql =
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        shd AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
        based AS (SELECT doc_id,
                   list_transform(ss, s -> CAST(('0x'||substr(md5(s),1,7)) AS BIGINT)) bs
                  FROM shd),
        sig AS (SELECT doc_id, $minhashSigSql sg FROM based),
        bands AS (SELECT doc_id, sg, unnest(range(${Dedup.Bands})) j FROM sig),
        bk AS (SELECT doc_id, j,
                md5(array_to_string(list_transform(
                  sg[j*${Dedup.RowsPerBand}+1:j*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}],
                  x -> CAST(x AS VARCHAR)), '|')) bkey
               FROM bands),
        ${bandCapSql(Dedup.BandBucketCap)},
        cand AS (SELECT DISTINCT x.doc_id a, y.doc_id b
                 FROM bkk x JOIN bkk y ON x.j = y.j AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        SELECT a, b,
          CAST(len(list_filter(range(${Dedup.MinHashK}), i -> sa.sg[i+1] = sb.sg[i+1])) AS DOUBLE)/${Dedup.MinHashK}.0 AS est_jaccard
        FROM cand JOIN sig sa ON a = sa.doc_id JOIN sig sb ON b = sb.doc_id
        WHERE CAST(len(list_filter(range(${Dedup.MinHashK}), i -> sa.sg[i+1] = sb.sg[i+1])) AS DOUBLE)/${Dedup.MinHashK}.0 >= 0.5"""

  /** dedup_corpus = the minhash CTE chain (candidates) + exact-Jaccard
    * verify over the candidates only — the literal mirror of
    * [[graft.operators.Dedup.corpusDedup]]. */
  private def corpusDedupSqlAt(threshold: Double) =
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        shd AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
        based AS (SELECT doc_id,
                   list_transform(ss, s -> CAST(('0x'||substr(md5(s),1,7)) AS BIGINT)) bs
                  FROM shd),
        sig AS (SELECT doc_id, $minhashSigSql sg FROM based),
        bands AS (SELECT doc_id, sg, unnest(range(${Dedup.Bands})) j FROM sig),
        bk AS (SELECT doc_id, j,
                md5(array_to_string(list_transform(
                  sg[j*${Dedup.RowsPerBand}+1:j*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}],
                  x -> CAST(x AS VARCHAR)), '|')) bkey
               FROM bands),
        ${bandCapSql(Dedup.BandBucketCap)},
        cand AS (SELECT DISTINCT x.doc_id a, y.doc_id b
                 FROM bkk x JOIN bkk y ON x.j = y.j AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        sh AS (SELECT doc_id, unnest(ss) s FROM shd),
        sz AS (SELECT doc_id, count(*) nsh FROM sh GROUP BY doc_id),
        cm AS (SELECT a, b, count(*) common
               FROM cand JOIN sh x ON x.doc_id = a JOIN sh y ON y.doc_id = b AND y.s = x.s
               GROUP BY 1, 2)
        SELECT a, b, CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) AS jaccard
        FROM cm JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        WHERE CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) >= $threshold"""

  private val corpusDedupSql = corpusDedupSqlAt(0.8)

  /** DuckDB literal for random hyperplane p (64 dims) — the same
    * md5-derived constants as [[Similarity.plane]]; exact binary fractions
    * (denominator 2^15), so the decimal literals roundtrip bit-exactly. */
  private def planeSql(p: Int): String =
    "[" + Similarity.plane(p, 64).mkString(", ") + "]"

  /** Sign-bit bucket over planes [fromPlane, fromPlane+n): projections are
    * rounded to 6 decimals before the sign test, mirroring rpSketchRange. */
  private def bucketSql(v: String, fromPlane: Int, n: Int): String =
    (0 until n).map { i =>
      s"(CASE WHEN round(list_dot_product($v, ${planeSql(fromPlane + i)}), 6) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** The RP-band occupancy window — [[bandCapSql]]'s embedding analog
    * (mirrors [[Similarity.RpBucketCap]]'s filter literally). */
  private def rpCapSql(cap: Int) =
    s"""bbk AS (SELECT vec_id, band, bucket FROM (
          SELECT *, count(*) OVER (PARTITION BY band, bucket) occ FROM bb)
         WHERE occ <= $cap)"""

  /** Dynamic-layout mirror of [[Similarity.cosinePairsBucketed]]'s r16
    * DEFAULT: r = [[Similarity.rpPlanesFor]](count) — the smallest r in
    * [4, 24] with 2^r · 125 ≥ n, integer arithmetic on both engines — and
    * the 4·r hyperplanes computed IN SQL from the same md5 derivation as
    * [[Similarity.plane]]: ((first 2 md5 bytes of "p:d") − 32768) / 32768,
    * exact binary fractions, so both engines hold identical doubles and
    * round-6 projections sign-match bit-exactly. Band b owns planes
    * [b·r, b·r+r): global plane p ⇒ band p÷r, bit p mod r. Requires an
    * `e(vec_id, v DOUBLE[])` CTE; defines `bb(vec_id, band, bucket)`. */
  private val annBandCtes =
    s"""rr AS (SELECT coalesce((SELECT min(r) FROM range(4, 25) t(r)
                WHERE (CAST(1 AS BIGINT) << r) * 125 >= (SELECT count(*) FROM e)), 24) r),
        pl AS (SELECT CAST(p // r AS INT) band, CAST(p % r AS INT) i,
                 list((CAST(('0x' || substr(md5(p || ':' || d), 1, 4)) AS BIGINT) - 32768)
                      / 32768.0 ORDER BY d) pv
               FROM rr, range(0, 96) tp(p), range(0, 64) td(d)
               WHERE p < 4 * r
               GROUP BY p, r),
        bb AS (SELECT vec_id, band,
                 SUM(CASE WHEN round(list_dot_product(v, pv), 6) >= 0
                     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) bucket
               FROM e CROSS JOIN pl GROUP BY 1, 2)"""

  private val annPairsBucketedSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        $annBandCtes,
        ${rpCapSql(Similarity.RpBucketCap)},
        cand AS (SELECT DISTINCT x.vec_id a, y.vec_id b
                 FROM bbk x JOIN bbk y ON x.band = y.band AND x.bucket = y.bucket
                   AND x.vec_id < y.vec_id)
        SELECT a, b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
        FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
        WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4"""

  /** The DERIVED median-occupancy cap ceil(n/2^r) — binding at every
    * scale (mirror of [[Similarity.derivedBindingCap]]; integer
    * arithmetic, so both engines agree bit-exactly). Requires the `e`
    * and `rr` CTEs. */
  private val rpCapDerivedSql =
    """bbk AS (SELECT vec_id, band, bucket FROM (
          SELECT *, count(*) OVER (PARTITION BY band, bucket) occ FROM bb)
         WHERE occ <= (SELECT ((SELECT count(*) FROM e) + (CAST(1 AS BIGINT) << r) - 1)
                              // (CAST(1 AS BIGINT) << r) FROM rr))"""

  private val annCappedRpPairsSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        $annBandCtes,
        $rpCapDerivedSql
        SELECT DISTINCT x.vec_id a, y.vec_id b
        FROM bbk x JOIN bbk y ON x.band = y.band AND x.bucket = y.bucket
          AND x.vec_id < y.vec_id"""

  /** Literal mirror of [[Similarity.knnGraph]]: same banded candidates as
    * [[annPairsBucketedSql]], no threshold, symmetrized, per-node top-3. */
  private val annKnnGraphSql = {
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        $annBandCtes,
        ${rpCapSql(Similarity.RpBucketCap)},
        cand AS (SELECT DISTINCT x.vec_id a, y.vec_id b
                 FROM bbk x JOIN bbk y ON x.band = y.band AND x.bucket = y.bucket
                   AND x.vec_id < y.vec_id),
        sc AS (SELECT a, b, round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
               FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b),
        sym AS (SELECT a src, b nbr, cos_sim FROM sc
                UNION ALL SELECT b, a, cos_sim FROM sc),
        r AS (SELECT src, nbr, cos_sim,
               row_number() OVER (PARTITION BY src
                 ORDER BY cos_sim DESC, nbr ASC) rn
              FROM sym)
        SELECT src, nbr, cos_sim, CAST(rn AS INT) AS rank FROM r WHERE rn <= 3"""
  }

  private val annLshTopKSql =
    s"""WITH c AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
        cb AS (SELECT nid, nv, ${bucketSql("nv", 0, 8)} AS bucket FROM c),
        q0 AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 5),
        qb AS (SELECT qid, qv, ${bucketSql("qv", 0, 8)} AS qbucket FROM q0),
        q AS (SELECT qid, qv, unnest([qbucket, xor(qbucket, 1), xor(qbucket, 2)]) AS bucket FROM qb),
        sc AS (SELECT DISTINCT qid, nid, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
               FROM q JOIN cb USING (bucket) WHERE qid <> nid),
        r AS (SELECT qid, nid, cos_sim,
               row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
              FROM sc)
        SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"""

  /** Literal mirror of [[CorpusPipeline.cleanCorpus]] (minTokens=5, n=3). */
  private val cleanCorpusSql =
    s"""WITH q AS (SELECT doc_id, source, text,
             CAST(len(regexp_extract_all(text, '\\S+')) AS INT) n_tokens
           FROM documents
           WHERE len(regexp_extract_all(text, '\\S+')) >= 5),
        kept0 AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) keep_id FROM q),
        k AS (SELECT doc_id, source, text, n_tokens FROM kept0 WHERE doc_id = keep_id),
        fp AS (SELECT doc_id, source,
                 list_min(list_transform($shingleExpr, s -> md5(s))) f
               FROM (SELECT doc_id, source, string_split(text,' ') w FROM k)
               WHERE len(w) >= $N),
        contaminated AS (SELECT DISTINCT x.doc_id FROM fp x JOIN fp y
                         ON x.f = y.f AND x.source <> y.source AND x.doc_id > y.doc_id)
        SELECT doc_id, source, n_tokens FROM k
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)"""

  /** Literal mirror of [[Similarity.ivfTopK]] (nlist=16, nprobe=4, k=10):
    * deterministic md5-ordered centroid subset, round-6 cosine ranking with
    * cid tiebreak for both assignment and probing. */
  private val annCosineTopKSql =
    """WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
       sc AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
              FROM q, c WHERE qid <> nid),
       r AS (SELECT qid, nid, cos_sim,
              row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
             FROM sc)
       SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"""

  /** Recall@10 of the IVF search against the exact ranking — retrieval
    * quality measured as a relational join of the two declared pipelines
    * (both CTE-nested subqueries; DuckDB allows WITH inside FROM).
    * Lazy: refers to [[annIvfTopKSql]], declared below. */
  private lazy val annIvfRecallSql =
    s"""WITH exact AS (SELECT qid, nid FROM ($annCosineTopKSql)),
        approx AS (SELECT qid, nid FROM ($annIvfTopKSql)),
        hits AS (SELECT e.qid, count(*) n_hit FROM exact e
                 JOIN approx a ON a.qid = e.qid AND a.nid = e.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
          round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0, 6) AS recall
        FROM (SELECT DISTINCT qid FROM exact) q
        LEFT JOIN hits h ON h.qid = q.qid"""

  private val annIvfTopKSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       cent AS (SELECT vec_id cid, v cv FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       asn AS (SELECT nid, cell FROM (
                SELECT e.vec_id nid, cent.cid cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                             cent.cid ASC) rn
                FROM e, cent) WHERE rn = 1),
       qp AS (SELECT qid, cell FROM (
               SELECT q.vec_id qid, cent.cid cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.v, cent.cv), 6) DESC,
                            cent.cid ASC) rn
               FROM e q, cent WHERE q.vec_id < 5) WHERE rn <= 4),
       sc AS (SELECT qp.qid, asn.nid,
                round(list_cosine_similarity(eq.v, en.v), 6) cos_sim
              FROM qp JOIN asn USING (cell)
                JOIN e eq ON eq.vec_id = qp.qid
                JOIN e en ON en.vec_id = asn.nid
              WHERE qp.qid <> asn.nid),
       r AS (SELECT qid, nid, cos_sim,
              row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
             FROM sc)
       SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"""

  /** Shared PQ codebook/assignment CTE prefix — the literal mirror of
    * [[Similarity.pqCentroids]]/[[Similarity.pqCodes]] (md5-ordered
    * centroid subset, 8 subspaces × 16 codes, round-6 squared L2 with
    * code-asc tiebreak). */
  private val pqCommonSql =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       cent0 AS (SELECT vec_id, v FROM e
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       cent AS (SELECT v, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
                FROM cent0),
       js AS (SELECT unnest(range(8)) j),
       cb AS (SELECT j, code, v[j*8+1 : j*8+8] cv FROM cent, js),
       sub AS (SELECT vec_id, j, v[j*8+1 : j*8+8] sv FROM e, js),
       d AS (SELECT s.vec_id, s.j, cb.code,
              round(list_dot_product(s.sv, s.sv)
                    - 2*list_dot_product(s.sv, cb.cv)
                    + list_dot_product(cb.cv, cb.cv), 6) d2
             FROM sub s JOIN cb ON s.j = cb.j),
       codes AS (SELECT vec_id, j, code FROM (
                  SELECT vec_id, j, code,
                    row_number() OVER (PARTITION BY vec_id, j
                      ORDER BY d2 ASC, code ASC) rn
                  FROM d) WHERE rn = 1)"""

  private val pqCodesSql =
    s"""WITH $pqCommonSql
        SELECT vec_id, CAST(j AS INTEGER) AS j, CAST(code AS INTEGER) AS code
        FROM codes"""

  private val pqAdcTopKSql =
    s"""WITH $pqCommonSql,
        q AS (SELECT vec_id qid, v FROM e WHERE vec_id < 5),
        qsub AS (SELECT qid, j, v[j*8+1 : j*8+8] sv FROM q, js),
        dtab AS (SELECT qid, qs.j, cb.code,
                  CAST(round(list_dot_product(qs.sv, qs.sv)
                             - 2*list_dot_product(qs.sv, cb.cv)
                             + list_dot_product(cb.cv, cb.cv), 6)
                    AS DECIMAL(18,6)) pd
                 FROM qsub qs JOIN cb ON qs.j = cb.j),
        sc AS (SELECT qid, c.vec_id nid, CAST(sum(pd) AS DOUBLE) adc
               FROM codes c JOIN dtab ON c.j = dtab.j AND c.code = dtab.code
               WHERE qid <> c.vec_id GROUP BY 1, 2),
        r AS (SELECT qid, nid, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) rn
              FROM sc)
        SELECT qid, nid, adc, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"""

  /** Non-residual IVFADC mirror: [[annIvfTopKSql]]'s cell CTEs (renamed to
    * avoid clashing with the PQ prefix's `cent`) feeding [[pqAdcTopKSql]]'s
    * table-lookup scoring, restricted to candidate (query, cell) pairs. */
  private val annIvfAdcTopKSql =
    s"""WITH $pqCommonSql,
        icent AS (SELECT vec_id cid, v cv FROM e
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        asn AS (SELECT nid, cell FROM (
                 SELECT e.vec_id nid, icent.cid cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(e.v, icent.cv), 6) DESC,
                              icent.cid ASC) rn
                 FROM e, icent) WHERE rn = 1),
        qp AS (SELECT qid, cell FROM (
                SELECT q.vec_id qid, icent.cid cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round(list_cosine_similarity(q.v, icent.cv), 6) DESC,
                             icent.cid ASC) rn
                FROM e q, icent WHERE q.vec_id < 5) WHERE rn <= 4),
        cand AS (SELECT qp.qid, asn.nid FROM qp JOIN asn USING (cell)
                 WHERE qp.qid <> asn.nid),
        q AS (SELECT vec_id qid, v FROM e WHERE vec_id < 5),
        qsub AS (SELECT qid, j, v[j*8+1 : j*8+8] sv FROM q, js),
        dtab AS (SELECT qid, qs.j, cb.code,
                  CAST(round(list_dot_product(qs.sv, qs.sv)
                             - 2*list_dot_product(qs.sv, cb.cv)
                             + list_dot_product(cb.cv, cb.cv), 6)
                    AS DECIMAL(18,6)) pd
                 FROM qsub qs JOIN cb ON qs.j = cb.j),
        sc AS (SELECT cand.qid, cand.nid, CAST(sum(pd) AS DOUBLE) adc
               FROM cand JOIN codes c ON c.vec_id = cand.nid
                 JOIN dtab ON dtab.qid = cand.qid
                   AND dtab.j = c.j AND dtab.code = c.code
               GROUP BY 1, 2),
        r AS (SELECT qid, nid, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) rn
              FROM sc)
        SELECT qid, nid, adc, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"""

  private val simhashSql = {
    val terms = (0 until Dedup.SimHashBits).map { j =>
      val m = 1 << j
      s"(CASE WHEN 2*len(list_filter(hs, h -> (h & $m) <> 0)) > len(hs) THEN CAST($m AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH t0 AS (SELECT doc_id,
          list_transform(string_split(text,' '),
            w2 -> CAST(('0x'||substr(md5(w2),1,4)) AS INTEGER)) hs
        FROM documents)
        SELECT doc_id, $terms AS simhash FROM t0"""
  }

  /** Transitive closure over the corpus-dedup pair graph (recursive CTE):
    * cluster_id = min doc_id reachable — the same fixpoint hash-min label
    * propagation converges to in [[graft.operators.Dedup.clusters]]. */
  private val dedupClustersSql =
    s"""WITH RECURSIVE p AS (SELECT a, b FROM ($corpusDedupSql)),
        edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r)
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"""

  /** All-pairs Hamming form — legitimate as an oracle because the Spark
    * plan's 4×8-bit banding over the 32-bit signature is exact for
    * maxHamming <= 3 (pigeonhole). */
  private val simhashPairsSql = {
    val terms = (0 until Dedup.SimHashPairBits).map { j =>
      val m = 1L << j
      s"(CASE WHEN 2*len(list_filter(hs, h -> (h & $m) <> 0)) > len(hs) THEN CAST($m AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""WITH t0 AS (SELECT doc_id,
          list_transform(string_split(text,' '),
            w2 -> CAST(('0x'||substr(md5(w2),1,${Dedup.SimHashPairBits / 4})) AS BIGINT)) hs
        FROM documents),
        sig AS (SELECT doc_id, $terms AS sh FROM t0)
        SELECT x.doc_id a, y.doc_id b,
          CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
        FROM sig x JOIN sig y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.sh, y.sh)) <= 3"""
  }

  /** The full curation DAG, assembled from the per-stage oracle
    * fragments: quality gate + first-copy dedup + cross-source screen
    * (= cleanCorpus), eval n-gram decontamination, md5-bucket mixing,
    * prefix-sum shard packing. */
  private val curateFullSql =
    s"""WITH q AS (SELECT doc_id, source, text,
             CAST(len(regexp_extract_all(text, '\\S+')) AS INT) n_tokens
           FROM documents
           WHERE doc_id % 50 <> 0 AND len(regexp_extract_all(text, '\\S+')) >= 5),
        kept0 AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) keep_id FROM q),
        k AS (SELECT doc_id, source, text, n_tokens FROM kept0 WHERE doc_id = keep_id),
        fp AS (SELECT doc_id, source,
                 list_min(list_transform($shingleExpr, s -> md5(s))) f
               FROM (SELECT doc_id, source, string_split(text,' ') w FROM k)
               WHERE len(w) >= $N),
        contaminated AS (SELECT DISTINCT x.doc_id FROM fp x JOIN fp y
                         ON x.f = y.f AND x.source <> y.source AND x.doc_id > y.doc_id),
        clean AS (SELECT doc_id, source, text, n_tokens FROM k
                  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        ev AS (SELECT DISTINCT unnest(ss) s FROM (
                SELECT $shingleExpr ss
                FROM (SELECT string_split(text,' ') w FROM documents WHERE doc_id % 50 = 0)
                WHERE len(w) >= $N)),
        dg AS (SELECT doc_id, unnest(ss) s FROM (
                SELECT doc_id, $shingleExpr ss
                FROM (SELECT doc_id, string_split(text,' ') w FROM clean)
                WHERE len(w) >= $N)),
        cont AS (SELECT DISTINCT doc_id FROM dg JOIN ev USING (s)),
        decon AS (SELECT * FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        mixed AS (SELECT doc_id, source, text FROM (
                   SELECT *, CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 10000 bucket
                   FROM decon)
                  WHERE bucket < (CASE source WHEN 'src0' THEN 10000
                                              WHEN 'src1' THEN 5000
                                              ELSE 2500 END)),
        t0 AS (SELECT doc_id, source,
                CAST(len(regexp_extract_all(text, '\\S+')) AS INT) n_tokens FROM mixed),
        c AS (SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
              FROM t0)
        SELECT doc_id, source, n_tokens, CAST(start_off // 500 AS BIGINT) AS shard_id FROM c"""

  /** Leakage-safe split: the recursive-CTE cluster closure + the same
    * md5-bucket assignment on the representative. */
  private val leakageSafeSplitSql =
    s"""WITH RECURSIVE p AS (SELECT a, b FROM ($corpusDedupSql)),
        edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT re.id, e2.b FROM reach re JOIN edges e2 ON e2.a = re.r),
        cl AS (SELECT id, min(r) cluster_id FROM reach GROUP BY id),
        rep AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) rep
                FROM documents d LEFT JOIN cl ON d.doc_id = cl.id),
        bk AS (SELECT doc_id, rep,
                CAST(('0x'||substr(md5(CAST(rep AS VARCHAR)),1,7)) AS BIGINT) % 10000 bucket
               FROM rep)
        SELECT doc_id, rep,
          CASE WHEN bucket < 8000 THEN 'train'
               WHEN bucket < 9000 THEN 'validation'
               ELSE 'test' END AS split
        FROM bk"""

  private val tfidfTopKSql =
    """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       words AS (SELECT doc_id, unnest(w) tw FROM t0),
       tf AS (SELECT doc_id, tw, count(*) tf FROM words GROUP BY 1, 2),
       df AS (SELECT tw, count(DISTINCT doc_id) df FROM words GROUP BY 1),
       n AS (SELECT count(*) nd FROM documents),
       sc AS (SELECT doc_id, tw AS term, round(tf * ln((nd + 1.0)/(df + 1.0)), 6) tfidf
              FROM tf JOIN df USING (tw), n),
       r AS (SELECT doc_id, term, tfidf,
              row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) rn
             FROM sc)
       SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 5"""

  private val lmScoreSql =
    """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       bg AS (SELECT doc_id, w[i+1] w0, w[i+2] w1
              FROM (SELECT doc_id, w, unnest(range(len(w)-1)) i FROM t0)
              WHERE len(w) >= 2),
       c2 AS (SELECT w0, w1, count(*) c2 FROM bg GROUP BY 1, 2),
       c1 AS (SELECT w0, count(*) c1 FROM bg GROUP BY 1),
       v AS (SELECT count(DISTINCT w1) v FROM bg),
       term AS (SELECT doc_id,
                 CAST(round(ln((c2 + 1.0)/(c1 + v)), 6) AS DECIMAL(18,6)) logp
                FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0), v)
       SELECT doc_id, count(*) AS n_bigrams,
         CAST(CAST(sum(logp) * 1000000 AS BIGINT) AS DOUBLE) /
           CAST(count(*) * 1000000 AS DOUBLE) AS avg_logp
       FROM term GROUP BY doc_id"""

  /** Literal mirror of [[graft.operators.TextOps.knBigramProbs]]: the
    * count table feeds left/continuation/type aggregates; double literals
    * are CAST so DuckDB doesn't route the discount through decimal. */
  private val knBigramSql =
    """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       bg AS (SELECT w[i+1] w0, w[i+2] w1
              FROM (SELECT doc_id, w, unnest(range(len(w)-1)) i FROM t0)
              WHERE len(w) >= 2),
       c2 AS (SELECT w0, w1, count(*) c2 FROM bg GROUP BY 1, 2),
       lft AS (SELECT w0, CAST(sum(c2) AS BIGINT) c1, count(*) n1p_succ
               FROM c2 GROUP BY 1),
       cont AS (SELECT w1, count(*) n1p_pred FROM c2 GROUP BY 1),
       ty AS (SELECT count(*) btypes FROM c2)
       SELECT w0, w1, c2,
         round(greatest(c2 - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / c1
           + (CAST(0.75 AS DOUBLE) * n1p_succ / c1)
             * (CAST(n1p_pred AS DOUBLE) / btypes), 6) AS p_kn
       FROM c2 JOIN lft USING (w0) JOIN cont USING (w1), ty
       WHERE c2 >= 3"""

  /** Literal mirror of [[graft.operators.Dedup.removeRepeatedSpans]] at
    * k = 8: dup-flagged window occurrences (df ≥ 2, not the min-doc_id
    * keeper) expand to covered token positions; the rewrite anti-joins
    * those positions out and re-joins the survivors in order. */
  private val spanRemovalSql = {
    val span = (1 to 8).map(j => s"w[i+$j]").mkString("||' '||")
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        sp AS (SELECT doc_id, i, md5($span) s
               FROM (SELECT doc_id, w, unnest(range(len(w)-7)) i FROM t0)
               WHERE len(w) >= 8),
        ag AS (SELECT s, count(DISTINCT doc_id) ndocs, min(doc_id) keeper
               FROM sp GROUP BY 1),
        fl AS (SELECT sp.doc_id, sp.i FROM sp JOIN ag USING (s)
               WHERE ndocs >= 2 AND sp.doc_id <> keeper),
        rm AS (SELECT DISTINCT doc_id, i + j.j AS t
               FROM fl CROSS JOIN (SELECT unnest(range(8)) AS j) j),
        tok AS (SELECT doc_id, t, w[t+1] tok
                FROM (SELECT doc_id, w, unnest(range(len(w))) t FROM t0)),
        kept AS (SELECT tok.doc_id, tok.t, tok.tok
                 FROM tok ANTI JOIN rm USING (doc_id, t)),
        agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY t) tc,
                       count(*) nk FROM kept GROUP BY 1)
        SELECT t0.doc_id, coalesce(agg.tc, '') AS text_clean,
          CAST(len(t0.w) AS BIGINT) AS n_tokens,
          CAST(len(t0.w) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed
        FROM t0 LEFT JOIN agg USING (doc_id)"""
  }

  /** Oracle for `dedup_span_store_advance`: the advanced registry's dup
    * rows recomputed from the FULL corpus in one shot. */
  private val spanStoreAdvanceSql = {
    val span = (1 to 8).map(j => s"w[i+$j]").mkString("||' '||")
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        sp AS (SELECT doc_id, md5($span) s
               FROM (SELECT doc_id, w, unnest(range(len(w)-7)) i FROM t0)
               WHERE len(w) >= 8)
        SELECT s AS span_md5, min(doc_id) AS keeper,
               count(DISTINCT doc_id) AS ndocs
        FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2"""
  }

  /** Literal mirror of [[graft.operators.Dedup.repeatedSpanStats]] at
    * k = 8: positional 8-token windows, md5 span identity, df ≥ 2 flag. */
  private val repeatedSpansSql = {
    val span = (1 to 8).map(j => s"w[i+$j]").mkString("||' '||")
    s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        sp AS (SELECT doc_id, md5($span) s
               FROM (SELECT doc_id, w, unnest(range(len(w)-7)) i FROM t0)
               WHERE len(w) >= 8),
        pd AS (SELECT doc_id, s, count(*) cnt FROM sp GROUP BY 1, 2),
        df AS (SELECT s, count(*) ndocs FROM pd GROUP BY 1)
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans,
          CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
            AS n_dup_spans,
          round(CAST(sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
            / sum(cnt), 6) AS dup_fraction
        FROM pd JOIN df USING (s) GROUP BY 1"""
  }

  private val stopSql = TextOps.stopwords.map(w => s"'$w'").mkString(", ")

  /** Per-doc probe features (expects a `p` CTE = [[langIdSql]] in scope):
    * x1 = token count, x2 = engine-stoplist count, y = en weak label. */
  private val probeFeaturesSql =
    s"""SELECT CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) x1,
               CAST(len(list_filter(string_split(d.text, ' '),
                 t2 -> t2 IN ($stopSql))) AS BIGINT) x2,
               CAST(CASE WHEN p.pred_lang = 'en' THEN 1 ELSE 0 END AS BIGINT) y
        FROM documents d JOIN p ON p.doc_id = d.doc_id"""

  /** Literal mirror of [[TextOps.linearQualityProbe]]: nine exact integer
    * moments in HUGEINT, Cramer's 3×3 expansion, floats only at the final
    * coefficient divisions. */
  private val qualityProbeSql = {
    val dets =
      """n*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2) + sx2*(sx1*s12 - s11*sx2) AS det,
         sy*(s11*s22 - s12*s12) - sx1*(s1y*s22 - s12*s2y) + sx2*(s1y*s12 - s11*s2y) AS det0,
         n*(s1y*s22 - s12*s2y) - sy*(sx1*s22 - s12*sx2) + sx2*(sx1*s2y - s1y*sx2) AS det1,
         n*(s11*s2y - s1y*s12) - sx1*(sx1*s2y - s1y*sx2) + sy*(sx1*s12 - s11*sx2) AS det2"""
    s"""WITH p AS ($langIdSql),
        f AS ($probeFeaturesSql),
        m AS (SELECT CAST(count(*) AS HUGEINT) n,
                     CAST(coalesce(sum(x1), 0) AS HUGEINT) sx1,
                     CAST(coalesce(sum(x2), 0) AS HUGEINT) sx2,
                     CAST(coalesce(sum(x1*x1), 0) AS HUGEINT) s11,
                     CAST(coalesce(sum(x1*x2), 0) AS HUGEINT) s12,
                     CAST(coalesce(sum(x2*x2), 0) AS HUGEINT) s22,
                     CAST(coalesce(sum(y), 0) AS HUGEINT) sy,
                     CAST(coalesce(sum(x1*y), 0) AS HUGEINT) s1y,
                     CAST(coalesce(sum(x2*y), 0) AS HUGEINT) s2y
              FROM f),
        dd AS (SELECT n, $dets FROM m)
        SELECT CAST(n AS BIGINT) AS n_docs,
          CASE WHEN det <> 0 THEN round(CAST(det0 AS DOUBLE)/CAST(det AS DOUBLE), 6) END AS b0,
          CASE WHEN det <> 0 THEN round(CAST(det1 AS DOUBLE)/CAST(det AS DOUBLE), 6) END AS b1,
          CASE WHEN det <> 0 THEN round(CAST(det2 AS DOUBLE)/CAST(det AS DOUBLE), 6) END AS b2
        FROM dd"""
  }

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, COUNT(*) AS n FROM documents GROUP BY md5(text)",
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_ngram_jaccard_capped" -> ngramJaccardCappedSql(2L),
    // literal prefix-filter mirror; integer prefix length and acceptance,
    // digests as md5 hex strings (hex order == Spark's binary order)
    "dedup_jaccard_prefix" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
          sh0 AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
          shd AS (SELECT doc_id, md5(s) s
                  FROM (SELECT doc_id, unnest(ss) s FROM sh0)),
          d AS (SELECT *, count(*) OVER (PARTITION BY s) df FROM shd),
          r AS (SELECT *,
                 row_number() OVER (PARTITION BY doc_id ORDER BY df, s) rn,
                 count(*) OVER (PARTITION BY doc_id) nsh FROM d),
          p AS (SELECT doc_id, s FROM r
                WHERE rn <= nsh - ((nsh * 4 + 4) // 5) + 1),
          cand AS (SELECT DISTINCT x.doc_id a, y.doc_id b
                   FROM p x JOIN p y ON x.s = y.s AND x.doc_id < y.doc_id),
          cm AS (SELECT a, b, count(*) common
                 FROM cand c JOIN shd xa ON xa.doc_id = c.a
                 JOIN shd xb ON xb.doc_id = c.b AND xb.s = xa.s
                 GROUP BY 1, 2),
          sz AS (SELECT doc_id, count(*) nsh FROM shd GROUP BY 1)
          SELECT a, b,
            CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) AS jaccard
          FROM cm JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
          WHERE common * 5 >= (sa.nsh + sb.nsh - common) * 4""",
    "dedup_minhash_lsh" -> minhashSql,
    "dedup_minhash_est" ->
      s"""WITH e AS (SELECT a, b, est_jaccard FROM ($minhashSql)),
          x AS (SELECT a, b, jaccard FROM (${corpusDedupSqlAt(0.0)}))
          SELECT a, b, round(est_jaccard, 6) AS est_jaccard,
            round(jaccard, 6) AS exact_jaccard,
            round(abs(est_jaccard - jaccard), 6) AS abs_err
          FROM e JOIN x USING (a, b)""",
    // band collision is symmetric, so the incremental batch-vs-index run
    // equals the full-corpus LSH restricted to pairs touching a new doc
    "dedup_incremental" ->
      s"SELECT a, b, est_jaccard FROM ($minhashSql) WHERE a % 10 = 0 OR b % 10 = 0",
    "dedup_lsh_recall" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents
                      WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,4)) AS BIGINT) % 1000 < 500),
          ns AS (SELECT count(*) n_docs_sampled FROM t0),
          sh0 AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
          sh AS (SELECT doc_id, unnest(ss) s FROM sh0),
          sz AS (SELECT doc_id, count(*) nsh FROM sh GROUP BY doc_id),
          cm AS (SELECT x.doc_id a, y.doc_id b, count(*) common
                 FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                 GROUP BY 1, 2),
          truth AS (SELECT a, b,
              CAST(least(floor(round(CAST(common AS DOUBLE) /
                (sa.nsh + sb.nsh - common), 6) * 10), 9) AS INT) sim_band
            FROM cm JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
            WHERE CAST(common AS DOUBLE)/(sa.nsh + sb.nsh - common) >= 0.05),
          based AS (SELECT doc_id,
                     list_transform(ss, s -> CAST(('0x'||substr(md5(s),1,7)) AS BIGINT)) bs
                    FROM sh0),
          sig AS (SELECT doc_id, $minhashSigSql sg FROM based),
          bands AS (SELECT doc_id, sg, unnest(range(${Dedup.Bands})) j FROM sig),
          bk AS (SELECT doc_id, j,
                  md5(array_to_string(list_transform(
                    sg[j*${Dedup.RowsPerBand}+1:j*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}],
                    x -> CAST(x AS VARCHAR)), '|')) bkey
                 FROM bands),
          ${bandCapSql(Dedup.BandBucketCap)},
          cand AS (SELECT DISTINCT x.doc_id a, y.doc_id b
                   FROM bkk x JOIN bkk y
                   ON x.j = y.j AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
          tt AS (SELECT sim_band, count(*) n_true FROM truth GROUP BY 1),
          hh AS (SELECT sim_band, count(*) n_hit
                 FROM truth JOIN cand USING (a, b) GROUP BY 1)
          SELECT sim_band, n_true, coalesce(n_hit, 0) AS n_hit,
            round(CAST(coalesce(n_hit, 0) AS DOUBLE)/n_true, 6) AS recall,
            n_docs_sampled
          FROM tt LEFT JOIN hh USING (sim_band), ns""",
    // the capped candidate generator hash-checked IN the binding regime:
    // cap 2 excludes every exact-dup cohort of size >= 3 (all bands
    // collide for identical texts), which the real corpus contains
    "dedup_capped_lsh" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
          shd AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
          based AS (SELECT doc_id,
                     list_transform(ss, s -> CAST(('0x'||substr(md5(s),1,7)) AS BIGINT)) bs
                    FROM shd),
          sig AS (SELECT doc_id, $minhashSigSql sg FROM based),
          bands AS (SELECT doc_id, sg, unnest(range(${Dedup.Bands})) j FROM sig),
          bk AS (SELECT doc_id, j,
                  md5(array_to_string(list_transform(
                    sg[j*${Dedup.RowsPerBand}+1:j*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}],
                    x -> CAST(x AS VARCHAR)), '|')) bkey
                 FROM bands),
          ${bandCapSql(2)}
          SELECT DISTINCT x.doc_id a, y.doc_id b
          FROM bkk x JOIN bkk y
          ON x.j = y.j AND x.bkey = y.bkey AND x.doc_id < y.doc_id""",
    "dedup_corpus" -> corpusDedupSql,
    "dedup_clusters" -> dedupClustersSql,
    // store round-trip ≡ one-shot: the oracle recomputes the clustering
    // from scratch — a hash match proves the persisted artifact carries
    // exactly the one-shot assignment
    "dedup_clusters_store" ->
      s"""SELECT doc_id, cluster_id FROM ($dedupClustersSql)""",
    "dedup_keep_list" ->
      s"""SELECT doc_id, source, lang FROM documents
          WHERE doc_id NOT IN (
            SELECT doc_id FROM ($dedupClustersSql) WHERE doc_id <> cluster_id)""",
    "dedup_from_store" ->
      s"""SELECT doc_id, source, lang FROM documents
          WHERE doc_id NOT IN (
            SELECT doc_id FROM ($dedupClustersSql) WHERE doc_id <> cluster_id)""",
    // incremental maintenance ≡ full recompute: the oracle clusters the
    // WHOLE corpus from scratch
    "dedup_store_incremental" -> dedupClustersSql,
    // store ADVANCE ≡ full recompute, same from-scratch oracle — the
    // published rolled-forward store carries exactly the one-shot answer
    "dedup_store_advance" -> dedupClustersSql,
    "dedup_rate_report" ->
      s"""WITH t0 AS (SELECT count(*) n_docs,
             count(DISTINCT md5(text)) n_distinct_texts FROM documents),
          nd AS (SELECT count(*) n_near_dups FROM ($dedupClustersSql)
                 WHERE doc_id <> cluster_id)
          SELECT n_docs, n_docs - n_distinct_texts AS n_exact_dups,
            n_near_dups,
            (n_docs - n_near_dups) * 1000000 // n_docs AS survivor_ppm
          FROM t0, nd""",
    "dedup_keep_best" ->
      s"""WITH cl AS (SELECT * FROM ($dedupClustersSql)),
          q AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) quality
                FROM documents),
          r AS (SELECT cl.doc_id, cluster_id,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY quality DESC, cl.doc_id ASC) rn
                FROM cl JOIN q USING (doc_id)),
          d AS (SELECT doc_id FROM r WHERE rn > 1)
          SELECT doc_id, source, lang FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM d)""",
    "pipeline_clean_corpus" -> cleanCorpusSql,
    "pipeline_curate_full" -> curateFullSql,
    "corpus_pack_shards" ->
      """WITH t0 AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS INT) n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
               FROM t0)
         SELECT doc_id, source, n_tokens, CAST(start_off // 500 AS BIGINT) AS shard_id FROM c""",
    "corpus_pack_sequences" ->
      """WITH t0 AS (SELECT doc_id, source,
             least(CAST(len(regexp_extract_all(text, '\S+')) AS INT), 512) n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
               FROM t0),
         b AS (SELECT doc_id, source, n_tokens,
                CASE WHEN start_off % 512 + n_tokens <= 512
                     THEN (start_off // 512) * 2
                     ELSE (start_off // 512) * 2 + 1 END AS pack_id
               FROM c)
         SELECT doc_id, source, n_tokens, CAST(pack_id AS BIGINT) AS pack_id,
           CAST(SUM(n_tokens) OVER (PARTITION BY source, pack_id ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
             AS seq_off
         FROM b""",
    "corpus_shard_manifest" ->
      """WITH t0 AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS INT) n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
               FROM t0),
         p AS (SELECT doc_id, source, n_tokens,
                CAST(start_off // 500 AS BIGINT) AS shard_id FROM c)
         SELECT source, shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS fingerprint
         FROM p GROUP BY source, shard_id""",
    "corpus_epoch_mix" ->
      """WITH b AS (SELECT doc_id, source,
             CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 10000 AS bucket,
             (CASE source WHEN 'src0' THEN 25000
                          WHEN 'src1' THEN 15000
                          ELSE 10000 END) AS e10k
           FROM documents),
         c AS (SELECT doc_id, source,
                (e10k // 10000) + CASE WHEN bucket < e10k % 10000
                                       THEN 1 ELSE 0 END AS copies
               FROM b)
         SELECT doc_id, source,
           unnest(generate_series(1, copies)) AS copy_idx
         FROM c WHERE copies > 0""",
    "corpus_sample_mix" ->
      """WITH b AS (SELECT doc_id, source, lang,
             CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 10000 AS bucket
           FROM documents)
         SELECT doc_id, source, lang FROM b
         WHERE bucket < (CASE source WHEN 'src0' THEN 10000
                                     WHEN 'src1' THEN 5000
                                     WHEN 'src2' THEN 2500
                                     ELSE 1000 END)""",
    "corpus_global_shuffle" ->
      """WITH k AS (SELECT doc_id, md5('epoch0:'||CAST(doc_id AS VARCHAR)) skey
           FROM documents),
         s AS (SELECT doc_id, skey,
                CAST(('0x'||substr(skey,1,7)) AS BIGINT) % 16 AS shard FROM k)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                AS BIGINT) - 1 AS pos
         FROM s""",
    "emb_top_pc" -> Similarity.topPcSql(64, 4),
    "emb_label_diversity" -> Similarity.labelDiversitySql(),
    "emb_participation_ratio" -> Similarity.participationRatioSql(64),
    "emb_participation_by_label" -> Similarity.participationRatioByLabelSql(64),
    "emb_quantization_error" -> Similarity.sq8QuantizationErrorSql(),
    "ann_whitened_topk" -> Similarity.whitenedTopKSql(64, 4, 0L, 10),
    "emb_kmeans" -> Similarity.kMeansSql(8, 2),
    "dedup_semantic" -> Similarity.semanticPairsSql(8, 2, 0.35),
    "text_bm25_topk" ->
      s"""SELECT doc_id, bm25 FROM (${TextOps.bm25Sql(Bm25Terms)})
          ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "ann_hybrid_topk" ->
      s"""WITH lex AS (SELECT * FROM (${TextOps.bm25Sql(Bm25Terms)})),
          mx AS (SELECT max(bm25) mx FROM lex),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
          qvec AS (SELECT v qv FROM e WHERE vec_id = 0),
          cosq AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 6) cos_q
                   FROM e, qvec)
          SELECT cosq.vec_id,
            round(0.5 * COALESCE(bm25, 0.0) / mx + 0.5 * cos_q, 6) AS hybrid
          FROM cosq LEFT JOIN lex ON cosq.vec_id = lex.doc_id, mx
          ORDER BY hybrid DESC, vec_id LIMIT 20""",
    "text_chunk_windows" -> chunkWindowsSql,
    "rag_passage_topk" -> {
      // passages as a parenthesized CTE subquery spliced in as the BM25
      // "table" (bm25Sql references it twice — fine for the oracle)
      val passages = s"""(WITH t0 AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
           st0 AS (SELECT doc_id, w, unnest(generate_series(0, len(w)-1, 30)) s FROM t0)
           SELECT doc_id*10000 + CAST(s/30 AS INT) AS doc_id,
             array_to_string(w[s+1 : s+40], ' ') AS text
           FROM st0)"""
      s"""WITH bm AS (${TextOps.bm25Sql(Bm25Terms, passages)}),
          r AS (SELECT doc_id pid, bm25,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) rn FROM bm)
          SELECT CAST(pid // 10000 AS BIGINT) AS doc_id,
            CAST(pid % 10000 AS INT) AS chunk_id, bm25, CAST(rn AS INT) AS rank
          FROM r WHERE rn <= 10"""
    },
    "rag_mmr_topk" -> TextOps.mmrSql(Bm25Terms),
    "rag_rrf_fusion" -> TextOps.rrfFusionSql(Bm25Terms, 0L, 20, 10),
    "quality_ks_drift" -> graft.operators.Profile.ksDriftSql(
      "source", "len(regexp_extract_all(text, '\\S+'))"),
    // literal mirror of TextOps.linearQualityProbe: the same nine exact
    // integer moments (HUGEINT — DuckDB's exact 128-bit lane for the
    // determinant polynomials), the same Cramer expansion, floats only
    // at the final divisions
    "quality_linear_probe" -> qualityProbeSql,
    // train on the corpus, score every doc with the published 3-vector,
    // report training accuracy at the 0.5 threshold — all comparisons on
    // the SAME rounded doubles both engines derive from the exact moments
    "quality_probe_accuracy" ->
      s"""WITH pr AS ($qualityProbeSql),
          p AS ($langIdSql),
          f AS ($probeFeaturesSql),
          s AS (SELECT y, b0 + b1*x1 + b2*x2 AS yhat FROM f, pr)
          SELECT count(*) AS n_docs,
            CAST(coalesce(sum(CASE WHEN (yhat >= 0.5) = (y = 1)
              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_correct,
            CASE WHEN count(*) > 0 THEN
              CAST(coalesce(sum(CASE WHEN (yhat >= 0.5) = (y = 1)
                THEN 1 ELSE 0 END), 0) AS BIGINT) * 1000000 // count(*)
            END AS accuracy_ppm
          FROM s""",
    "quality_ks_drift_ttr" -> graft.operators.Profile.ksDriftSql(
      "source",
      "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))",
      quantize = Some(2)),
    "quality_psi_drift" -> graft.operators.Profile.psiDriftSql(
      "source", "n_chars", 50),
    "emb_source_drift" ->
      """WITH ce AS (SELECT label, vec_id % 2 AS half,
             unnest(list_transform(range(len(embedding)),
               i -> {'dim': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) t
           FROM embeddings),
         cent AS (SELECT label, half, t.dim AS dim,
                   round(CAST(SUM(CAST(t.v AS DECIMAL(28,12))) AS DOUBLE)/count(*), 6) c
                  FROM ce GROUP BY 1, 2, 3),
         j AS (SELECT a.label, a.c ca, b.c cb FROM cent a JOIN cent b
               ON a.label = b.label AND a.dim = b.dim
                  AND a.half = 0 AND b.half = 1)
         SELECT label,
           round(sqrt(CAST(SUM(CAST((ca-cb)*(ca-cb) AS DECIMAL(28,12))) AS DOUBLE)), 6)
             AS l2_drift,
           round(CAST(SUM(CAST(ca*cb AS DECIMAL(28,12))) AS DOUBLE) /
             (sqrt(CAST(SUM(CAST(ca*ca AS DECIMAL(28,12))) AS DOUBLE)) *
              sqrt(CAST(SUM(CAST(cb*cb AS DECIMAL(28,12))) AS DOUBLE))), 6)
             AS cos_drift
         FROM j GROUP BY label""",
    "emb_label_centroids" ->
      """WITH ex AS (SELECT label,
             unnest(list_transform(range(len(embedding)),
               i -> {'dim': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) t
           FROM embeddings)
         SELECT label, CAST(t.dim AS INT) AS dim,
           round(CAST(SUM(CAST(t.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(t.v), 6) AS c
         FROM ex GROUP BY 1, 2""",
    "emb_centroid_similarity" ->
      """WITH ex AS (SELECT label,
             unnest(list_transform(range(len(embedding)),
               i -> {'dim': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) t
           FROM embeddings),
         c AS (SELECT label, t.dim dim,
                round(CAST(SUM(CAST(t.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(t.v), 6) c
               FROM ex GROUP BY 1, 2),
         cv AS (SELECT label, list(c ORDER BY dim) cv FROM c GROUP BY label)
         SELECT vec_id, e.label,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv), 6)
             AS cos_centroid
         FROM embeddings e JOIN cv ON e.label = cv.label""",
    "emb_label_outliers" ->
      """WITH ex AS (SELECT label,
             unnest(list_transform(range(len(embedding)),
               i -> {'dim': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) t
           FROM embeddings),
         c AS (SELECT label, t.dim dim,
                round(CAST(SUM(CAST(t.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(t.v), 6) c
               FROM ex GROUP BY 1, 2),
         cv AS (SELECT label, list(c ORDER BY dim) cv FROM c GROUP BY label),
         sim AS (SELECT vec_id, e.label,
                  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv), 6)
                    AS cos_centroid
                 FROM embeddings e JOIN cv ON e.label = cv.label),
         cm AS (SELECT label, cos_centroid, count(*) c FROM sim GROUP BY 1, 2),
         w AS (SELECT label, cos_centroid,
                CAST(SUM(c) OVER (PARTITION BY label ORDER BY cos_centroid
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
               FROM cm),
         nl AS (SELECT label, count(*) n FROM sim GROUP BY 1),
         thr AS (SELECT w.label, min(cos_centroid) threshold
                 FROM w JOIN nl USING (label)
                 WHERE cum * 10 >= n GROUP BY 1)
         SELECT vec_id, sim.label, cos_centroid, threshold
         FROM sim JOIN thr ON sim.label = thr.label
         WHERE cos_centroid <= threshold""",
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "corpus_split_leakage_safe" -> leakageSafeSplitSql,
    "corpus_weighted_sample" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) pre
           FROM documents WHERE n_chars > 0),
         k AS (SELECT doc_id, source,
                round(ln((pre + 1) / 4503599627370496.0) / n_chars, 9) skey
               FROM d),
         r AS (SELECT doc_id, source, skey,
                row_number() OVER (PARTITION BY source
                  ORDER BY skey DESC, doc_id ASC) rk
               FROM k)
         SELECT doc_id, source, skey, CAST(rk AS INT) AS rk
         FROM r WHERE rk <= 20""",
    "corpus_stratified_neyman" ->
      graft.operators.CorpusPipeline.stratifiedNeymanSql(500),
    "text_ngram_diversity" ->
      """WITH t0 AS (SELECT source, string_split(text, ' ') w FROM documents),
         sh AS (SELECT source,
                 unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) g
               FROM t0),
         per AS (SELECT source, g, COUNT(*) c FROM sh GROUP BY 1, 2)
         SELECT source, COUNT(*) AS distinct_ngrams,
           CAST(SUM(c) AS BIGINT) AS total_ngrams,
           round(COUNT(*) / SUM(c), 6) AS ttr
         FROM per GROUP BY source""",
    "corpus_length_percentiles" ->
      """WITH d AS (SELECT source, len(regexp_extract_all(text, '\S+')) n_tok
           FROM documents)
         SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           round(quantile_cont(n_tok, 0.5), 6) AS p50,
           round(quantile_cont(n_tok, 0.9), 6) AS p90,
           round(quantile_cont(n_tok, 0.99), 6) AS p99
         FROM d GROUP BY source""",
    "corpus_lang_quota" ->
      """WITH d AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) pre
           FROM documents),
         k AS (SELECT doc_id, lang,
                round(ln((pre + 1) / 4503599627370496.0) / 1.0, 9) skey
               FROM d),
         r AS (SELECT doc_id, lang, skey,
                row_number() OVER (PARTITION BY lang
                  ORDER BY skey DESC, doc_id ASC) rk
               FROM k)
         SELECT doc_id, lang, skey, CAST(rk AS INT) AS rk
         FROM r WHERE rk <= 30""",
    "corpus_curriculum" ->
      """WITH base AS (SELECT doc_id,
             CAST(least(3, floor(len(regexp_extract_all(text, '\S+')) / 20)) AS INT) bin,
             md5(CAST(doc_id AS VARCHAR)) skey,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 8
               AS INT) shard
           FROM documents),
         ranked AS (SELECT doc_id, bin, shard,
             row_number() OVER (PARTITION BY bin, shard ORDER BY skey, doc_id) rk
           FROM base),
         counts AS (SELECT bin, shard, COUNT(*) c FROM base GROUP BY 1, 2),
         offs AS (SELECT bin, shard,
             CAST(COALESCE(SUM(c) OVER (PARTITION BY bin ORDER BY shard
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) shard_off
           FROM counts)
         SELECT doc_id, bin, shard_off + rk - 1 AS pos_in_bin,
           (shard_off + rk - 1) * 4 + bin AS step
         FROM ranked JOIN offs USING (bin, shard)""",
    "corpus_dsir_topk" ->
      """WITH t0 AS (SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') w
           FROM documents),
         feats AS (SELECT doc_id, source,
             unnest(list_concat(w,
               list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2]))) f
           FROM t0),
         b AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5(f), 1, 13)) AS BIGINT) % 256 bkt
           FROM feats),
         dist AS (SELECT bkt, COUNT(CASE WHEN source = 'src0' THEN 1 END) pc,
                 COUNT(*) qc
               FROM b GROUP BY bkt),
         tot AS (SELECT SUM(pc) np, SUM(qc) nq FROM dist),
         w8 AS (SELECT bkt,
                 round(ln((pc + 1.0) * (nq + 256) / ((qc + 1.0) * (np + 256))), 6) lw
               FROM dist, tot),
         sc AS (SELECT doc_id,
                 CAST(SUM(CAST(lw AS DECIMAL(18,6))) AS DOUBLE) score
               FROM b JOIN w8 USING (bkt) GROUP BY doc_id),
         r AS (SELECT doc_id, score,
                row_number() OVER (ORDER BY score DESC, doc_id ASC) rk
               FROM sc)
         SELECT doc_id, score, CAST(rk AS INT) AS rk FROM r WHERE rk <= 50""",
    "corpus_decontaminate_eval" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
          ev AS (SELECT DISTINCT unnest(ss) s
                 FROM (SELECT $shingleExpr ss FROM t0
                       WHERE doc_id % 50 = 0 AND len(w) >= $N)),
          dg AS (SELECT doc_id, unnest(ss) s
                 FROM (SELECT doc_id, $shingleExpr ss FROM t0
                       WHERE doc_id % 50 <> 0 AND len(w) >= $N)),
          cont AS (SELECT DISTINCT doc_id FROM dg JOIN ev USING (s))
          SELECT doc_id, source, lang FROM documents
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM cont)""",
    "corpus_mixture_plan" ->
      """WITH per AS (SELECT source, count(*) n_docs,
             CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) tokens_avail,
             CAST(substr(source, 4) AS BIGINT) % 4 + 1 weight
           FROM documents GROUP BY source),
         t AS (SELECT CAST(SUM(weight) AS BIGINT) sumw FROM per)
         SELECT source, n_docs, tokens_avail, weight,
           (100000 * weight) // sumw AS target_tokens,
           round(CAST((100000 * weight) // sumw AS DOUBLE) / tokens_avail, 6) AS rate,
           ((100000 * weight) // sumw + tokens_avail - 1) // tokens_avail AS epochs
         FROM per, t""",
    "pipeline_audit_filters" ->
      s"""WITH d AS (SELECT doc_id, source, lang, string_split(text,' ') w,
                 md5(text) h FROM documents),
          f AS (SELECT doc_id, source, h,
                 len(w) < 5 AS g1,
                 lang NOT IN ('en') AS g2,
                 len(list_filter(w, t2 -> t2 IN ($stopSql))) * 20 < len(w) AS g3
                FROM d),
          k AS (SELECT *, min(CASE WHEN NOT g1 AND NOT g2 AND NOT g3
                                   THEN doc_id END)
                            OVER (PARTITION BY h) AS keep_id FROM f)
          SELECT source,
            CASE WHEN g1 THEN 'too_short'
                 WHEN g2 THEN 'lang_other'
                 WHEN g3 THEN 'low_stopword'
                 WHEN doc_id <> keep_id THEN 'exact_dup'
                 ELSE 'kept' END AS stage,
            COUNT(*) AS n_docs
          FROM k GROUP BY 1, 2""",
    // the bloom prefilter is plan-only: the exact oracle is the same
    // semi-join answer as the plain decontamination
    "corpus_decontaminate_bloom" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
          ev AS (SELECT DISTINCT unnest(ss) s
                 FROM (SELECT $shingleExpr ss FROM t0
                       WHERE doc_id % 50 = 0 AND len(w) >= $N)),
          dg AS (SELECT doc_id, unnest(ss) s
                 FROM (SELECT doc_id, $shingleExpr ss FROM t0
                       WHERE doc_id % 50 <> 0 AND len(w) >= $N)),
          cont AS (SELECT DISTINCT doc_id FROM dg JOIN ev USING (s))
          SELECT doc_id, source, lang FROM documents
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM cont)""",
    "corpus_contamination_scores" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
          ev AS (SELECT DISTINCT unnest(ss) s
                 FROM (SELECT $shingleExpr ss FROM t0
                       WHERE doc_id % 50 = 0 AND len(w) >= $N)),
          dg AS (SELECT doc_id, unnest(list_distinct(ss)) s
                 FROM (SELECT doc_id, $shingleExpr ss FROM t0
                       WHERE doc_id % 50 <> 0 AND len(w) >= $N)),
          j AS (SELECT dg.doc_id, CASE WHEN ev.s IS NULL THEN 0 ELSE 1 END hit
                FROM dg LEFT JOIN ev ON dg.s = ev.s)
          SELECT doc_id, COUNT(*) AS n_grams,
            CAST(SUM(hit) AS BIGINT) AS n_shared,
            round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS overlap_frac
          FROM j GROUP BY doc_id""",
    "text_tfidf_topk" -> tfidfTopKSql,
    "text_lm_score" -> lmScoreSql,
    "text_kn_bigram_lm" -> knBigramSql,
    "dedup_repeated_spans" -> repeatedSpansSql,
    "dedup_span_removal" -> spanRemovalSql,
    "dedup_span_store_incremental" ->
      s"""SELECT * FROM ($spanRemovalSql) WHERE doc_id % 10 = 0""",
    "stream_span_removal" -> spanRemovalSql,
    "dedup_span_store_advance" -> spanStoreAdvanceSql,
    "corpus_token_ids" ->
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         tk AS (SELECT doc_id, i AS pos, w[i+1] AS tok
                FROM (SELECT doc_id, w, unnest(range(len(w))) i FROM t0)),
         vc AS (SELECT tok, count(*) cnt FROM tk GROUP BY 1),
         vr AS (SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) id
                FROM vc WHERE cnt >= 2),
         v AS (SELECT * FROM vr WHERE id <= 1000),
         enc AS (SELECT doc_id, pos, coalesce(id, 0) AS id
                 FROM tk LEFT JOIN v USING (tok))
         SELECT doc_id,
           string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS token_ids,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         FROM enc GROUP BY 1""",
    // literal mirror of the sign-bit signature (two positive 32-bit words,
    // BIGINT sign bit never touched) and both TopKPairs tie rules
    "ann_binary_hamming_topk" ->
      """WITH q0 AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
             FROM embeddings WHERE vec_id < 5),
         c0 AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
         qs AS (SELECT qid, qv,
             list_sum(list_transform(range(32), i -> CASE WHEN qv[i+1] >= 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END)) qw0,
             list_sum(list_transform(range(32), i -> CASE WHEN qv[i+33] >= 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END)) qw1
           FROM q0),
         cs AS (SELECT nid, nv,
             list_sum(list_transform(range(32), i -> CASE WHEN nv[i+1] >= 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END)) nw0,
             list_sum(list_transform(range(32), i -> CASE WHEN nv[i+33] >= 0
               THEN (1::BIGINT << i) ELSE 0::BIGINT END)) nw1
           FROM c0),
         sc AS (SELECT qid, nid,
                 CAST(64 - bit_count(xor(qw0, nw0)) - bit_count(xor(qw1, nw1))
                   AS DOUBLE) approx
                FROM cs, qs WHERE qid <> nid),
         cand AS (SELECT qid, nid FROM (
             SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY approx DESC, nid ASC) rn
             FROM sc) WHERE rn <= 30),
         ex AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
                FROM cand JOIN q0 USING (qid) JOIN c0 USING (nid)),
         r AS (SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
               FROM ex)
         SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10""",
    "text_token_count" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
           CAST(list_sum(list_transform(string_split(text,' '),
             w2 -> CAST(ceil(length(w2)/4.0) AS BIGINT))) AS BIGINT) AS bpe_est
         FROM documents""",
    "text_normalize" -> {
      // the regex class mirrors NormalizeText.isWs character by character
      val norm = (e: String) =>
        s"trim(regexp_replace(lower(nfc_normalize($e)), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))"
      s"""SELECT doc_id,
           ${norm("text")} AS norm_text,
           ${norm(s"text || '$normProbe'")} AS norm_probe
         FROM documents"""
    },
    "dedup_fuzzy_names" ->
      """WITH t0 AS (SELECT DISTINCT p_name FROM part),
         c AS (SELECT p_name AS id, p_name AS nm, string_split(p_name, ' ') w FROM t0),
         tok AS (SELECT id, unnest(w) tk FROM c),
         dfs AS (SELECT tk, count(*) tdf FROM tok GROUP BY 1),
         rare AS (SELECT id, tk FROM (
           SELECT t.id, t.tk,
             row_number() OVER (PARTITION BY t.id ORDER BY d.tdf, t.tk) rn
           FROM tok t JOIN dfs d USING (tk)) WHERE rn = 1),
         k AS (SELECT r.id, r.tk, c.nm FROM rare r JOIN c USING (id))
         SELECT x.id AS a, y.id AS b, levenshtein(x.nm, y.nm) AS dist
         FROM k x JOIN k y ON x.tk = y.tk AND x.id < y.id
         WHERE levenshtein(x.nm, y.nm) <= 4""",
    "graph_pagerank" -> graft.operators.GraphOps.pageRankSql(
      "SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS a, " +
        "'s' || CAST(l_suppkey AS VARCHAR) AS b FROM lineitem", 3),
    "graph_ppr" -> graft.operators.GraphOps.personalizedPageRankSql(
      "SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS a, " +
        "'s' || CAST(l_suppkey AS VARCHAR) AS b FROM lineitem",
      "SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS id " +
        "FROM lineitem WHERE l_suppkey % 10 = 0", 3),
    "graph_communities" -> graft.operators.GraphOps.labelPropagationSql(
      coPurchaseEdgesSql, 4),
    "graph_triangles" -> graft.operators.GraphOps.triangleCountSql(
      coPurchaseEdgesSql),
    "graph_clustering_coeff" -> graft.operators.GraphOps.clusteringCoefficientSql(
      coPurchaseEdgesSql),
    "graph_link_prediction" -> graft.operators.GraphOps.linkPredictionSql(
      coPurchaseEdgesSql, 20),
    "graph_kcore" -> graft.operators.GraphOps.kCoreSql(
      coPurchaseEdges2Sql, 3, 4),
    "graph_assortativity" ->
      s"""WITH p AS (SELECT a, b FROM ($coPurchaseEdges2Sql)),
          sym AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          deg AS (SELECT a AS id, count(*) deg FROM sym GROUP BY 1),
          st AS (SELECT dx.deg AS dx, dy.deg AS dy FROM sym
                 JOIN deg dx ON dx.id = sym.a JOIN deg dy ON dy.id = sym.b),
          s AS (SELECT count(*) m2, CAST(SUM(dx) AS BIGINT) sx,
                 CAST(SUM(dx * dy) AS BIGINT) sxy,
                 CAST(SUM(dx * dx) AS BIGINT) sxx
                FROM st)
          SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
            round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / nullif(CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0), 6) AS assortativity
          FROM s""",
    "graph_modularity" -> {
      val lp = graft.operators.GraphOps.labelPropagationSql(coPurchaseEdgesSql, 4)
      s"""WITH lp AS ($lp), edges AS ($coPurchaseEdgesSql),
          m AS (SELECT count(*) m FROM edges),
          st AS (SELECT la.lbl AS la, lb.lbl AS lb FROM edges e
                 JOIN lp la ON la.id = e.a JOIN lp lb ON lb.id = e.b),
          ein AS (SELECT la AS community, count(*) e_in FROM st
                  WHERE la = lb GROUP BY 1),
          deg AS (SELECT id, count(*) deg FROM (
                    SELECT a AS id FROM edges UNION ALL SELECT b FROM edges)
                  GROUP BY 1),
          ds AS (SELECT lbl AS community, CAST(SUM(deg) AS BIGINT) d_sum,
                  count(*) n_nodes
                 FROM lp JOIN deg USING (id) GROUP BY 1)
          SELECT community, n_nodes, coalesce(e_in, 0) AS e_in, d_sum,
            round(CAST(coalesce(e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE)
              - (CAST(d_sum AS DOUBLE) / CAST(2 * m AS DOUBLE))
                * (CAST(d_sum AS DOUBLE) / CAST(2 * m AS DOUBLE)), 6) AS q_contrib
          FROM ds LEFT JOIN ein USING (community), m"""
    },
    "graph_cc_star" ->
      s"""WITH RECURSIVE p AS (SELECT a, b FROM ($coPurchaseEdges2Sql)),
          edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT re.id, e2.b FROM reach re JOIN edges e2 ON e2.a = re.r)
          SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""",
    "graph_bfs_distances" -> graft.operators.GraphOps.bfsDistancesSql(
      coPurchaseEdges2Sql, "id % 37 = 0", 4),
    "graph_harmonic_centrality" -> graft.operators.GraphOps
      .harmonicCentralitySql(coPurchaseEdges2Sql, 4, 4),
    "dedup_containment" -> containmentCappedSql(2L, 0.5),
    "text_inverted_index" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         p AS (SELECT DISTINCT doc_id, term
               FROM (SELECT doc_id, unnest(w) term FROM t0)
               WHERE length(term) > 0),
         d AS (SELECT term, count(*) df FROM p GROUP BY 1),
         l AS (SELECT term,
                 string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) postings
               FROM p
               WHERE term IN (SELECT term FROM d WHERE df <= 50)
               GROUP BY 1)
         SELECT d.term, d.df, l.postings FROM d LEFT JOIN l USING (term)""",
    "text_cms_heavy_hitters" -> cmsHeavyHittersSql,
    "text_vocab_growth" ->
      """WITH n AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
         tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                  generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents),
         bg AS (SELECT doc_id, w AS w1,
                  lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM tk),
         fd AS (SELECT w1 || ' ' || w2 AS token, min(doc_id) AS fd
                FROM bg WHERE w2 IS NOT NULL GROUP BY 1),
         b AS (SELECT CAST(fd.fd * 10 // n.n_docs AS BIGINT) AS decile,
                      count(*) AS new_tokens
               FROM fd, n GROUP BY 1)
         SELECT decile, new_tokens,
           CAST(sum(new_tokens) OVER (ORDER BY decile) AS BIGINT) AS vocab_size
         FROM b""",
    "corpus_quality_floor" ->
      """WITH s AS (SELECT doc_id, source,
             round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
               len(string_split(text,' ')), 6) AS score
           FROM documents),
         h AS (SELECT source, score, count(*) c FROM s GROUP BY 1, 2),
         cum AS (SELECT source, score,
                  sum(c) OVER (PARTITION BY source ORDER BY score) cum FROM h),
         ns AS (SELECT source, count(*) n_docs FROM s GROUP BY 1),
         thr AS (SELECT source, min(score) threshold
                 FROM cum JOIN ns USING (source)
                 WHERE cum >= ceil(n_docs * 0.25) GROUP BY 1),
         kept AS (SELECT source, count(*) n_kept FROM s JOIN thr USING (source)
                  WHERE score >= threshold GROUP BY 1)
         SELECT source, n_docs, threshold, coalesce(n_kept, 0) AS n_kept
         FROM ns JOIN thr USING (source) LEFT JOIN kept USING (source)""",
    "corpus_quality_calibrate" ->
      """WITH s AS (SELECT doc_id, source,
             round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
               len(string_split(text,' ')), 6) AS score
           FROM documents),
         h AS (SELECT source, score, count(*) c FROM s GROUP BY 1, 2),
         cum AS (SELECT source, score, c,
                  CAST(sum(c) OVER (PARTITION BY source ORDER BY score) AS BIGINT) cum
                 FROM h),
         ns AS (SELECT source, count(*) n_docs FROM s GROUP BY 1)
         SELECT doc_id, s.source, s.score,
           round(CAST(cum - c AS DOUBLE) / n_docs, 6) AS pct
         FROM s JOIN cum ON s.source = cum.source AND s.score = cum.score
         JOIN ns ON ns.source = s.source""",
    "text_term_proximity" ->
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         p AS (SELECT doc_id, CAST(i AS INT) p, w[CAST(i AS INT)+1] tk
               FROM (SELECT doc_id, w, unnest(range(len(w))) i FROM t0)
               WHERE w[CAST(i AS INT)+1] IN ('spark', 'join')),
         m AS (SELECT x.doc_id, min(abs(x.p - y.p)) ms
               FROM p x JOIN p y ON x.doc_id = y.doc_id AND x.tk < y.tk
               GROUP BY 1)
         SELECT doc_id, CAST(ms AS INT) AS min_span,
           round(CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + CAST(ms AS INT)), 6)
             AS prox
         FROM m ORDER BY min_span ASC, doc_id ASC LIMIT 20""",
    "text_quality" ->
      s"""SELECT doc_id,
           CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text,' '))) AS INT) AS n_distinct,
           CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)/len(string_split(text,' ')) AS ttr,
           CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' ')) AS avg_word_len,
           CAST(len(list_filter(string_split(text,' '), t2 -> t2 IN ($stopSql))) AS DOUBLE)/len(string_split(text,' ')) AS stopword_ratio
         FROM documents""",
    "text_lang_id" -> langIdSql,
    "text_readability" -> TextOps.readabilitySql(),
    "text_code_detect" -> TextOps.codeDetectSql(),
    "text_langid_confusion" ->
      s"""WITH p AS (SELECT lang, pred_lang FROM ($langIdSql)),
          t AS (SELECT lang, count(*) n_actual FROM p GROUP BY 1)
          SELECT p.lang, pred_lang, count(*) AS n,
            (count(*) * 1000000) // max(t.n_actual) AS recall_ppm
          FROM p JOIN t USING (lang) GROUP BY 1, 2""",
    "quality_score_auc" ->
      """WITH sc AS (SELECT
             round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
           FROM documents),
         b AS (SELECT s, count(*) c, CAST(SUM(y) AS BIGINT) np_b
               FROM sc GROUP BY 1),
         r AS (SELECT s, c, np_b,
                CAST(coalesce(SUM(c) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) cumb
               FROM b)
         SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(np_b) AS BIGINT) AS n_pos,
           round(CAST(SUM(np_b * (2 * cumb + c + 1))
               - SUM(np_b) * (SUM(np_b) + 1) AS DOUBLE)
             / CAST(2 * SUM(np_b) * (SUM(c) - SUM(np_b)) AS DOUBLE), 6) AS auc
         FROM r""",
    "text_entropy" -> TextOps.tokenEntropySql(),
    "text_zipf_slope" -> TextOps.zipfSlopeSql(),
    "text_hapax_ratio" -> TextOps.hapaxRatioSql(),
    "text_source_divergence" -> TextOps.sourceDivergenceSql(),
    "doc_fingerprint" ->
      s"""WITH t0 AS (SELECT doc_id, text, string_split(text,' ') w FROM documents)
          SELECT doc_id, md5(text) AS fp_md5,
            list_min(list_transform($shingleExpr, s -> md5(s))) AS fp_shingle
          FROM t0 WHERE len(w) >= $N""",
    "doc_fingerprint_winnow" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
          hs AS (SELECT doc_id,
                  list_transform($posShingleExpr,
                    s -> CAST(('0x'||substr(md5(s),1,7)) AS BIGINT)) h
                 FROM t0 WHERE len(w) >= $N)
          SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
              unnest(list_transform(range(len(h)), i -> list_min(h[i+1:i+4]))) AS fp
            FROM hs)""",
    "dedup_url_canonical" ->
      """WITH u AS (SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN 'https://www.site' || ((doc_id // 4) % 10) || '.com/articles/' || (doc_id // 4) || '/'
             WHEN 1 THEN 'HTTP://Site' || ((doc_id // 4) % 10) || '.com/articles/' || (doc_id // 4)
             WHEN 2 THEN 'https://site' || ((doc_id // 4) % 10) || '.com/articles/' || (doc_id // 4) || '?utm_source=feed&utm_campaign=x'
             ELSE 'https://www.site' || ((doc_id // 4) % 10) || '.com/articles/' || (doc_id // 4) || '#section-2'
           END AS raw_url
          FROM documents),
         c0 AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(raw_url, '(?i)^[a-z][a-z0-9+.-]*://', ''),
             '(?i)^www\.', ''),
             '#.*$', ''), '\?.*$', ''), '/+$', '') AS s
          FROM u),
         c AS (SELECT doc_id,
           lower(regexp_extract(s, '^[^/]*')) ||
             regexp_replace(s, '^[^/]*', '') AS canonical
          FROM c0)
         SELECT canonical, count(*) AS n_raw, min(doc_id) AS keep_doc
         FROM c GROUP BY 1""",
    "text_redact_pii" ->
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com from 10.0.' ||
             (doc_id % 256) || '.7 ref 12345678' || doc_id AS t2
          FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\b\d{7,}\b', '<NUM>', 'g') AS clean
         FROM d""",
    "text_repetition" ->
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         b AS (SELECT doc_id, unnest(list_transform(range(len(w)-1), i -> w[i+1]||' '||w[i+2])) bg
               FROM t0 WHERE len(w) >= 2),
         c AS (SELECT doc_id, bg, count(*) c FROM b GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS DOUBLE)/SUM(c) AS top_bigram_frac
         FROM c GROUP BY doc_id""",
    "text_token_stats" ->
      """WITH d AS (SELECT lang,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) ws,
             CAST(list_sum(list_transform(string_split(text, ' '),
               w2 -> CAST(ceil(length(w2)/4.0) AS BIGINT))) AS BIGINT) bpe
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           round(CAST(SUM(bpe) AS DOUBLE) / NULLIF(CAST(SUM(ws) AS DOUBLE), 0), 6)
             AS fertility
         FROM d GROUP BY lang""",
    "text_dup_ngram_fraction" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         g AS (SELECT doc_id, unnest($posShingleExpr) g
               FROM t0 WHERE len(w) >= $N),
         occ AS (SELECT doc_id, g, count(*) cnt FROM g GROUP BY 1, 2),
         nd AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
         dup AS (SELECT doc_id, SUM(cnt) n_dup FROM occ JOIN nd USING (g) GROUP BY 1),
         tot AS (SELECT doc_id, SUM(cnt) n_ngrams FROM occ GROUP BY 1)
         SELECT t.doc_id, CAST(t.n_ngrams AS BIGINT) AS n_ngrams,
           CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup,
           round(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(t.n_ngrams AS DOUBLE), 6)
             AS dup_fraction
         FROM tot t LEFT JOIN dup d USING (doc_id)""",
    "text_ngram_novelty" ->
      s"""WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         sh0 AS (SELECT doc_id, $shingleExpr ss FROM t0 WHERE len(w) >= $N),
         sh AS (SELECT doc_id, unnest(ss) s FROM sh0),
         f AS (SELECT s, min(doc_id) first_doc FROM sh GROUP BY 1)
         SELECT sh.doc_id, count(*) AS n_shingles,
           CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           (CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // count(*) AS novelty_ppm
         FROM sh JOIN f USING (s) GROUP BY 1""",
    "text_remove_boilerplate" ->
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         c AS (SELECT doc_id,
                list_transform(range((len(w)+7)//8),
                  i -> array_to_string(w[i*8+1:i*8+8], ' ')) chunks
               FROM t0),
         b AS (SELECT doc_id, CAST(i AS INT) pos, chunks[CAST(i AS INT)+1] block
               FROM (SELECT doc_id, chunks, unnest(range(len(chunks))) i FROM c)),
         hot AS (SELECT block
                 FROM (SELECT block, count(*) df
                       FROM (SELECT DISTINCT doc_id, block FROM b) GROUP BY 1)
                 WHERE df >= 2),
         j AS (SELECT b.doc_id, b.pos, b.block, h.block IS NOT NULL AS hot
               FROM b LEFT JOIN hot h ON b.block = h.block)
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT hot THEN block END, ' ' ORDER BY pos), '')
             AS clean_text,
           count(CASE WHEN NOT hot THEN 1 END) AS n_kept,
           count(CASE WHEN hot THEN 1 END) AS n_dropped
         FROM j GROUP BY doc_id""",
    "corpus_temperature_mix" ->
      """WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(CAST(round(sqrt(n_docs), 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS sum_alpha,
                      CAST(SUM(n_docs) AS BIGINT) AS n_total FROM per)
         SELECT source, n_docs,
           round(CAST(n_docs AS DOUBLE) / n_total, 6) AS raw_share,
           round(round(sqrt(n_docs), 6) / sum_alpha, 6) AS temp_share,
           CAST(floor(10000 * round(round(sqrt(n_docs), 6) / sum_alpha, 6))
             AS BIGINT) AS planned_docs
         FROM per, t""",
    "corpus_paragraph_dedup" ->
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         c AS (SELECT doc_id,
                list_transform(range((len(w)+7)//8),
                  i -> array_to_string(w[i*8+1:i*8+8], ' ')) chunks
               FROM t0),
         b AS (SELECT doc_id, CAST(i AS INT) pos, chunks[CAST(i AS INT)+1] block
               FROM (SELECT doc_id, chunks, unnest(range(len(chunks))) i FROM c)),
         r AS (SELECT doc_id, pos, block,
                row_number() OVER (PARTITION BY block ORDER BY doc_id, pos) rn
               FROM b)
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN block END, ' ' ORDER BY pos), '')
             AS clean_text,
           count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           count(CASE WHEN rn > 1 THEN 1 END) AS n_dropped
         FROM r GROUP BY doc_id""",
    "text_top_bigrams" ->
      """WITH t0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         sh AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(len(w)-1), i -> w[i+1]||' '||w[i+2]))) b
                FROM t0 WHERE len(w) >= 2)
         SELECT b AS bigram, COUNT(*) AS df FROM sh
         GROUP BY 1 ORDER BY df DESC, bigram ASC LIMIT 50""",
    "text_bpe_merges" -> bpeMergesSql,
    "text_bpe_fertility" -> bpeFertilitySql,
    "text_length_histogram" ->
      """SELECT CAST(floor(length(text)/100) AS BIGINT) AS bucket, COUNT(*) AS n,
           CAST(SUM(length(text)) AS DOUBLE)/COUNT(*) AS avg_len
         FROM documents GROUP BY 1""",
    "dedup_cross_source" ->
      s"""WITH t0 AS (SELECT doc_id, source, string_split(text,' ') w FROM documents),
          fp AS (SELECT doc_id, source,
                  list_min(list_transform($shingleExpr, s -> md5(s))) f
                 FROM t0 WHERE len(w) >= $N)
          SELECT x.doc_id a, y.doc_id b, x.source source_a, y.source source_b
          FROM fp x JOIN fp y
            ON x.f = y.f AND x.doc_id < y.doc_id AND x.source <> y.source""",
    "corpus_source_overlap" ->
      s"""WITH t0 AS (SELECT doc_id, source, string_split(text,' ') w FROM documents),
          fp AS (SELECT doc_id, source,
                  list_min(list_transform($shingleExpr, s -> md5(s))) f
                 FROM t0 WHERE len(w) >= $N)
          SELECT x.source AS source_a, y.source AS source_b,
            CAST(count(*) AS BIGINT) AS n_pairs
          FROM fp x JOIN fp y ON x.f = y.f AND x.source < y.source
          GROUP BY 1, 2""",
    "dedup_cluster_sizes" ->
      s"""SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM (
            SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM ($dedupClustersSql) GROUP BY cluster_id)
          GROUP BY cluster_size""",
    "ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
         sc AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
                FROM q, c WHERE qid <> nid),
         r AS (SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
               FROM sc)
         SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10""",
    "ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id qid, label, CAST(embedding AS DOUBLE[]) qv
           FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id nid, label, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
         sc AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
                FROM q JOIN c USING (label) WHERE qid <> nid),
         r AS (SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
               FROM sc)
         SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10""",
    "ann_cosine_pairs" -> annPairsBucketedSql,
    "ann_capped_rp_pairs" -> annCappedRpPairsSql,
    "ann_knn_graph" -> annKnnGraphSql,
    "emb_lof_outliers" ->
      s"""WITH knn AS (SELECT * FROM ($annKnnGraphSql)),
          e AS (SELECT src, nbr, round(1.0 - cos_sim, 6) d FROM knn),
          kd AS (SELECT src, max(d) kdist FROM e GROUP BY 1),
          reach AS (SELECT e.src, e.nbr, greatest(kd.kdist, e.d) r
                    FROM e JOIN kd ON kd.src = e.nbr),
          lrd AS (SELECT src, count(*) deg,
                   round(CAST(count(*) AS DOUBLE) /
                     CAST(SUM(CAST(r AS DECIMAL(28,12))) AS DOUBLE), 9) lrd
                  FROM reach GROUP BY 1),
          s AS (SELECT e.src,
                 CAST(SUM(CAST(l2.lrd AS DECIMAL(28,12))) AS DOUBLE) slo
                FROM e JOIN lrd l2 ON l2.src = e.nbr GROUP BY 1)
          SELECT s.src AS vec_id, lrd.deg,
            round(slo / lrd.deg / lrd.lrd, 6) AS lof
          FROM s JOIN lrd ON lrd.src = s.src""",
    "ann_graph_expand_topk" ->
      s"""WITH seeds AS (SELECT qid, nid FROM ($annLshTopKSql)),
          g AS (SELECT src, nbr FROM ($annKnnGraphSql)),
          cand AS (SELECT DISTINCT qid, nid FROM (
              SELECT qid, nid FROM seeds
              UNION ALL
              SELECT seeds.qid, g.nbr FROM seeds JOIN g ON g.src = seeds.nid)),
          q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
                FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
          sc AS (SELECT cand.qid, cand.nid,
                  round(list_cosine_similarity(qv, nv), 6) cos_sim
                 FROM cand JOIN q USING (qid) JOIN c USING (nid)
                 WHERE cand.qid <> cand.nid),
          r AS (SELECT qid, nid, cos_sim,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos_sim DESC, nid ASC) rn
                FROM sc)
          SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank
          FROM r WHERE rn <= 10""",
    "emb_matryoshka_recall" ->
      """WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
            FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
         sf AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
                FROM q, c WHERE qid <> nid),
         rf AS (SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
                FROM sf),
         fullk AS (SELECT qid, nid FROM rf WHERE rn <= 10),
         st AS (SELECT qid, nid,
                 round(list_cosine_similarity(qv[1:16], nv[1:16]), 6) cos_sim
                FROM q, c WHERE qid <> nid),
         rt AS (SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
                FROM st),
         trunck AS (SELECT qid, nid FROM rt WHERE rn <= 10),
         hits AS (SELECT qid, count(*) n_hit FROM fullk
                  WHERE EXISTS (SELECT 1 FROM trunck t
                                WHERE t.qid = fullk.qid AND t.nid = fullk.nid)
                  GROUP BY 1)
         SELECT DISTINCT f.qid, COALESCE(n_hit, 0) AS n_hit,
           round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / 10.0, 6) AS recall
         FROM fullk f LEFT JOIN hits ON hits.qid = f.qid""",
    "dedup_embedding" ->
      s"""WITH RECURSIVE p AS (SELECT a, b FROM ($annPairsBucketedSql)),
          edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT re.id, e2.b FROM reach re JOIN edges e2 ON e2.a = re.r),
          cl AS (SELECT id, min(r) cluster_id FROM reach GROUP BY id)
          SELECT vec_id, label FROM embeddings
          WHERE vec_id NOT IN (SELECT id FROM cl WHERE id <> cluster_id)""",
    // literal mirror of the composed pipeline: cohort append → integer-
    // scaled rounded digest groupBy (identical bytes on both engines) →
    // dynamic-layout capped RP over representatives → CC over identity ∪
    // pair edges → keep-list
    "dedup_embedding_composed" ->
      s"""WITH RECURSIVE
          base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
          cohort AS (SELECT 1000000 + i AS vec_id, t.v, t.label
                     FROM (SELECT v, label FROM base WHERE vec_id = 0) t,
                          range(1, 61) g(i)),
          e0 AS (SELECT vec_id, v, label FROM base
                 UNION ALL SELECT vec_id, v, label FROM cohort),
          ikt AS (SELECT vec_id, md5(array_to_string(list_transform(v,
                    x -> CAST(CAST(round(x * 10000) AS BIGINT) AS VARCHAR)), '|')) k
                  FROM e0),
          grp AS (SELECT k, min(vec_id) rep FROM ikt GROUP BY k),
          mem AS (SELECT ikt.vec_id, grp.rep FROM ikt JOIN grp USING (k)),
          ide AS (SELECT vec_id a, rep b FROM mem WHERE vec_id <> rep),
          e AS (SELECT e0.vec_id, e0.v FROM e0
                JOIN mem ON mem.vec_id = e0.vec_id WHERE mem.vec_id = mem.rep),
          $annBandCtes,
          $rpCapDerivedSql,
          cand AS (SELECT DISTINCT x.vec_id a, y.vec_id b
                   FROM bbk x JOIN bbk y ON x.band = y.band AND x.bucket = y.bucket
                     AND x.vec_id < y.vec_id),
          p AS (SELECT a, b FROM cand
                JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
                WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4),
          alledges AS (SELECT a, b FROM p UNION SELECT a, b FROM ide),
          edges AS (SELECT a, b FROM alledges UNION SELECT b, a FROM alledges),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT re.id, e2.b FROM reach re JOIN edges e2 ON e2.a = re.r),
          cl AS (SELECT id, min(r) cluster_id FROM reach GROUP BY id)
          SELECT vec_id, label FROM e0
          WHERE vec_id NOT IN (SELECT id FROM cl WHERE id <> cluster_id)""",
    "ann_lsh_topk" -> annLshTopKSql,
    "ann_sq8_topk" ->
      """WITH q0 AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv
             FROM embeddings WHERE vec_id < 5),
         c0 AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv FROM embeddings),
         q1 AS (SELECT qid, qv,
             greatest(list_max(list_transform(qv, x -> abs(x))), 1e-30)/127.0 AS qs
           FROM q0),
         q2 AS (SELECT qid, qs, list_transform(qv, x -> floor(x/qs + 0.5)) AS qa FROM q1),
         c1 AS (SELECT nid, nv,
             greatest(list_max(list_transform(nv, x -> abs(x))), 1e-30)/127.0 AS ns
           FROM c0),
         c2 AS (SELECT nid, ns, list_transform(nv, x -> floor(x/ns + 0.5)) AS na FROM c1),
         sc AS (SELECT qid, nid, qs * ns * list_dot_product(qa, na) AS approx
                FROM c2, q2 WHERE qid <> nid),
         cand AS (SELECT qid, nid FROM (
             SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY approx DESC, nid ASC) rn
             FROM sc) WHERE rn <= 30),
         ex AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
                FROM cand JOIN q0 USING (qid) JOIN c0 USING (nid)),
         r AS (SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
               FROM ex)
         SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10""",
    "ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv, label qlbl
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id nid, CAST(embedding AS DOUBLE[]) nv, label nlbl
               FROM embeddings),
         sc AS (SELECT qid, nid, round(list_cosine_similarity(qv, nv), 6) cos_sim
                FROM q, c WHERE qlbl <> nlbl),
         r AS (SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
               FROM sc)
         SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10""",
    "ann_ivf_topk" -> annIvfTopKSql,
    // store-served IVF ≡ the from-scratch search (deterministic build)
    "ann_ivf_store" -> annIvfTopKSql,
    // pinned-centroid full recompute: centroids from the old-90% corpus
    // (what the base index derived and the advance must NOT move), lists
    // over the FULL corpus (base ∪ delta) — the advanced chain must equal
    // this exactly
    "ann_ivf_store_advance" -> annIvfPinnedRebuildSql,
    // compaction serves the SAME pinned-centroid search as the chain it
    // folded (assignments were all made against the base centroids), so
    // the oracle is the identical full recompute
    "ann_ivf_store_compact" -> annIvfPinnedRebuildSql,
    // literal mirror of the drift monitor: pinned-centroid assignment of
    // base and batch, per-cell counts over the fixed 16-cell universe,
    // Laplace-smoothed PSI + decimal-summed quantization-error means,
    // same thresholds
    "ann_ivf_drift_monitor" -> annIvfDriftSql,
    // chain posture: the store's lists are old-90% ∪ first-5% batch
    // (everything except the monitored second-5%), centroids unchanged
    "ann_ivf_drift_monitor_chain" ->
      annIvfDriftSqlFor("b.vec_id % 20 <> 10", "b.vec_id % 20 = 10"),
    // rebuild retrains centroids over the chain union = the FULL corpus,
    // so the rebuilt index must serve exactly the from-scratch search
    "ann_ivf_store_rebuild" -> annIvfTopKSql,
    "ann_pq_codes" -> pqCodesSql,
    "ann_pq_adc_topk" -> pqAdcTopKSql,
    "ann_ivf_adc_topk" -> annIvfAdcTopKSql,
    "ann_ivf_recall" -> annIvfRecallSql,
  )

  /** Pinned-centroid full recompute shared by the advance-chain and
    * compaction oracles: centroids from the old-90% corpus (what the
    * base index derived and no advance/compact may move), lists over the
    * FULL corpus — every store posture must equal this exactly. */
  private lazy val annIvfPinnedRebuildSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         cent AS (SELECT vec_id cid, v cv FROM e WHERE vec_id % 10 <> 0
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         asn AS (SELECT nid, cell FROM (
                  SELECT e.vec_id nid, cent.cid cell,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                               cent.cid ASC) rn
                  FROM e, cent) WHERE rn = 1),
         qp AS (SELECT qid, cell FROM (
                 SELECT q.vec_id qid, cent.cid cell,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round(list_cosine_similarity(q.v, cent.cv), 6) DESC,
                              cent.cid ASC) rn
                 FROM e q, cent WHERE q.vec_id < 5) WHERE rn <= 4),
         sc AS (SELECT qp.qid, asn.nid,
                  round(list_cosine_similarity(eq.v, en.v), 6) cos_sim
                FROM qp JOIN asn USING (cell)
                  JOIN e eq ON eq.vec_id = qp.qid
                  JOIN e en ON en.vec_id = asn.nid
                WHERE qp.qid <> asn.nid),
         r AS (SELECT qid, nid, cos_sim,
                row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) rn
               FROM sc)
         SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"""

  /** DuckDB mirror of [[graft.operators.Similarity.annIndexDrift]] on
    * the declared old-90%/batch-10% split: same pinned-centroid
    * assignment rule as the advance oracle, per-cell counts over the
    * fixed 16-cell universe, the psiDrift smoothing/rounding
    * conventions, identical thresholds. */
  private[queries] lazy val annIvfDriftSql =
    annIvfDriftSqlFor("b.vec_id % 10 <> 0", "b.vec_id % 10 = 0")

  /** The drift-monitor mirror parameterized by base/batch membership —
    * the base predicate describes WHOSE vectors the monitored store's
    * (possibly chain-union) lists hold; centroids are always the
    * old-90% pick the base index pinned. */
  private[queries] def annIvfDriftSqlFor(basePred: String,
                                         batchPred: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       cent AS (SELECT vec_id cid, v cv FROM e WHERE vec_id % 10 <> 0
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       basn AS (SELECT cell, sim FROM (
                 SELECT b.vec_id, cent.cid cell,
                   round(list_cosine_similarity(b.v, cent.cv), 6) sim,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY round(list_cosine_similarity(b.v, cent.cv), 6) DESC,
                              cent.cid ASC) rn
                 FROM e b, cent WHERE $basePred) WHERE rn = 1),
       qasn AS (SELECT cell, sim FROM (
                 SELECT b.vec_id, cent.cid cell,
                   round(list_cosine_similarity(b.v, cent.cv), 6) sim,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY round(list_cosine_similarity(b.v, cent.cv), 6) DESC,
                              cent.cid ASC) rn
                 FROM e b, cent WHERE $batchPred) WHERE rn = 1),
       bs AS (SELECT cell, count(*) n_base,
                SUM(CAST(round(1.0 - sim, 9) AS DECIMAL(28,12))) s_base
              FROM basn GROUP BY 1),
       qs AS (SELECT cell, count(*) n_batch,
                SUM(CAST(round(1.0 - sim, 9) AS DECIMAL(28,12))) s_batch
              FROM qasn GROUP BY 1),
       u AS (SELECT cent.cid cell,
               COALESCE(bs.n_base, 0) n_base, COALESCE(qs.n_batch, 0) n_batch,
               COALESCE(bs.s_base, CAST(0 AS DECIMAL(28,12))) s_base,
               COALESCE(qs.s_batch, CAST(0 AS DECIMAL(28,12))) s_batch
             FROM cent LEFT JOIN bs ON bs.cell = cent.cid
               LEFT JOIN qs ON qs.cell = cent.cid),
       tot AS (SELECT CAST(SUM(n_base) AS BIGINT) nb,
                 CAST(SUM(n_batch) AS BIGINT) nq,
                 SUM(s_base) sb, SUM(s_batch) sq FROM u),
       psi AS (SELECT round(CAST(SUM(CAST(round(
                 ((CAST(n_batch AS DOUBLE) + 0.5) / (CAST(nq AS DOUBLE) + 0.5 * 16)
                  - (CAST(n_base AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 0.5 * 16))
                 * ln(((CAST(n_batch AS DOUBLE) + 0.5) / (CAST(nq AS DOUBLE) + 0.5 * 16))
                    / ((CAST(n_base AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 0.5 * 16))),
                 9) AS DECIMAL(28,12))) AS DOUBLE), 6) psi
               FROM u, tot),
       mon AS (SELECT psi.psi,
                 CASE WHEN tot.nb > 0 AND tot.nq > 0
                   THEN round((16 - 1) * (1.0 / CAST(tot.nq AS DOUBLE)
                          + 1.0 / CAST(tot.nb AS DOUBLE)), 6)
                   ELSE 1e308 END psi_null,
                 CASE WHEN tot.nb > 0
                   THEN round(CAST(tot.sb AS DOUBLE) / CAST(tot.nb AS DOUBLE), 6)
                   ELSE 0.0 END qerr_base,
                 CASE WHEN tot.nq > 0
                   THEN round(CAST(tot.sq AS DOUBLE) / CAST(tot.nq AS DOUBLE), 6)
                   ELSE 0.0 END qerr_batch
               FROM psi, tot)
       SELECT u.cell, u.n_base, u.n_batch, mon.psi, mon.psi_null,
         mon.qerr_base, mon.qerr_batch,
         (mon.psi > round(0.25 + mon.psi_null, 6)
           OR mon.qerr_batch > 1.5 * mon.qerr_base) AS rebuild_due
       FROM u, mon"""
}
