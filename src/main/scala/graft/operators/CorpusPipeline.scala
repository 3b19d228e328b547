package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, IntegerType, LongType}

/** The end-to-end corpus-cleaning composition a training-data curator
  * actually runs, as one declarative pipeline:
  *
  *   1. quality gate — drop documents below a token-count floor,
  *   2. exact dedup — keep the FIRST (smallest doc_id) copy of each
  *      byte-identical text,
  *   3. cross-source decontamination — drop a document whose shingle-min
  *      fingerprint collides with an EARLIER document from a DIFFERENT
  *      source (the later copy is the contaminated one; the first
  *      occurrence stays canonical).
  *
  * Scale shape: stage 2 is one shuffle on the md5 digest; stage 3 is the
  * shingle-min fingerprint aggregation (explode → codegen'd md5 → map-side
  * min) plus an equi-self-join on the fingerprint — no stage touches more
  * than one corpus-wide exchange, and nothing is quadratic. Documents too
  * short to shingle carry no fingerprint and pass stage 3 untouched
  * (no contamination evidence). Output: (doc_id, source, n_tokens).
  */
object CorpusPipeline {

  /** Deterministic WEIGHTED sampling without replacement, `perSource`
    * docs per stratum (Efraimidis–Spirakis A-ES): rank by u^(1/w) — in
    * log space, ln(u)/w — where the uniform u derives from md5(doc_id)
    * (52-bit prefix → an exactly-representable dyadic rational), so the
    * selection is reproducible across runs/retries/engines like
    * [[sampleMix]], but inclusion probability scales with the WEIGHT
    * (sample long documents more, or by quality score). The key is
    * rounded to 9 decimals before ranking so libm last-ulp differences
    * cannot flip an order; ties break on doc_id. Rows with weight <= 0
    * are excluded (A-ES requires positive weights).
    *
    * Scale shape: one codegen'd projection computes the key, then the
    * per-stratum selection is the bounded [[graft.functions.TopKPairs]]
    * partial aggregate — each map task ships at most `perSource` pairs
    * per source through the one exchange, so a stratum's cost is
    * O(perSource), not a full sort of its documents (the `row_number`
    * window form plans one single-task sort PER SOURCE — a handful of
    * giant sorts on a real corpus). `doc_id` must be integral (it rides
    * as the aggregate's long payload).
    *
    * Practical weight bound: the key is round(ln(u)/w, 9), so once
    * w ≳ 10⁸ all keys collapse onto a ~37-value grid of the 9-decimal
    * rounding and selection degrades to doc_id tie-order. Weights at
    * document scale (chars, tokens, quality scores) are fine; normalize
    * anything larger (divide by its max) before passing it in.
    *
    * Output: (doc_id, source, skey, rk), rk 1..perSource per source. */
  def weightedSample(docs: DataFrame, perSource: Int,
                     weight: org.apache.spark.sql.Column,
                     stratumCol: String = "source"): DataFrame = {
    val u = (graft.functions.keys.md5Prefix64(
        col("doc_id").cast(org.apache.spark.sql.types.StringType).cast(BinaryType), 13)
      + lit(1L)).cast(org.apache.spark.sql.types.DoubleType) /
      lit(4503599627370496.0) // 2^52
    docs.where(weight > 0)
      .select(col(stratumCol),
        struct(round(log(u) / weight, 9).as("skey"),
          col("doc_id").cast(org.apache.spark.sql.types.LongType).as("doc_id")).as("pair"))
      .groupBy(col(stratumCol))
      .agg(graft.functions.TopKPairs.topK(col("pair"), perSource).as("top"))
      .select(col(stratumCol), posexplode(col("top")))
      .select(col("col.payload").as("doc_id"), col(stratumCol),
        col("col.ord").as("skey"),
        (col("pos") + 1).cast(org.apache.spark.sql.types.IntegerType).as("rk"))
  }

  /** Deterministic hash-stratified sampling — the corpus MIXING primitive
    * (up/down-weighting sources into a training mix): each stratum keeps
    * `rate` of its documents, selected by a hash bucket instead of an
    * RNG. Reproducibility is the point: the same document set is kept
    * across engines, runs, task retries and cluster sizes (an RNG-based
    * sampleBy re-draws on task re-execution), and the DuckDB oracle can
    * mirror the selection bit-for-bit. Shuffle-free — the predicate is a
    * per-row filter that pushes down like any other.
    *
    * Bucket = first 7 md5 hex chars of the doc id, mod 10⁴; a document is
    * kept iff bucket < round(rate·10⁴), so rates are exact to 1/10⁴ and
    * a stratum's sample is a SUBSET of any higher-rate sample of itself
    * (nested samples — raising a source's weight only adds documents). */
  def sampleMix(docs: DataFrame, rates: Map[String, Double],
                defaultRate: Double, stratumCol: String = "source"): DataFrame = {
    val bucket = pmod(graft.functions.keys.md5Prefix64(
      col("doc_id").cast(org.apache.spark.sql.types.StringType).cast(BinaryType), 7),
      lit(10000L))
    val threshold = rates.foldLeft(lit(math.round(defaultRate * 10000).toInt)) {
      case (acc, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(math.round(r * 10000).toInt)).otherwise(acc)
    }
    docs.where(bucket < threshold)
  }

  /** Epoch-aware oversampling — the mixture knob multi-epoch training
    * runs actually turn (rare high-quality sources repeated 2-3×, bulk
    * web seen once): a source with epoch target e contributes floor(e)
    * whole copies of every document plus one extra copy for a
    * deterministic frac(e) fraction of them, selected by the same
    * md5-bucket rule as [[sampleMix]] — so realized token mass per
    * source is e× its corpus share to 1/10⁴, reproducible across
    * runs/engines/retries, and nested (raising e only adds copies).
    * Output one row per (doc, copy_idx ∈ 1..copies) — the expanded
    * stream a trainer consumes (ordering comes from
    * [[globalShuffle]]-style hashing downstream).
    *
    * Scale shape: shuffle-free — `explode(sequence(…))` is a per-row
    * generator with fan-out bounded by the epoch ceiling (a small
    * constant), and the fractional gate is a pushed-down per-row
    * predicate; integer 10⁴-scaled arithmetic end to end. */
  def epochMix(docs: DataFrame, epochs: Map[String, Double],
               defaultEpochs: Double, stratumCol: String = "source"): DataFrame = {
    val e10k = epochs.foldLeft(lit(math.round(defaultEpochs * 10000).toInt)) {
      case (acc, (stratum, v)) =>
        when(col(stratumCol) === stratum, lit(math.round(v * 10000).toInt)).otherwise(acc)
    }.cast(org.apache.spark.sql.types.LongType)
    val bucket = pmod(graft.functions.keys.md5Prefix64(
      col("doc_id").cast(org.apache.spark.sql.types.StringType).cast(BinaryType), 7),
      lit(10000L))
    val copies = (e10k / lit(10000L)).cast(org.apache.spark.sql.types.LongType) +
      when(bucket < e10k % lit(10000L), lit(1L)).otherwise(lit(0L))
    docs.withColumn("copies", copies)
      .where(col("copies") > 0)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("copies"))))
      .drop("copies")
  }

  /** NEYMAN-ALLOCATION stratified sampling — the statistically optimal
    * split of a fixed sampling budget across strata: stratum h gets
    * n_h ∝ N_h·S_h (size × token-count standard deviation), the
    * allocation that minimizes the variance of the stratified estimate
    * (Neyman 1934). A curation pass uses it to size per-source QA /
    * labeling / eval samples: big-but-uniform sources need fewer draws
    * than small-but-wild ones, and proportional allocation over-spends
    * on the former.
    *
    * The draw itself is rate-based (Bernoulli) on the [[sampleMix]]
    * md5 bucket — a per-row pushed-down predicate, reproducible across
    * runs/retries/engines and NESTED (raising the budget only adds
    * documents) — with the realized rate the 10⁻⁴-floor of alloc/N_h,
    * so realized counts track the allocation binomially rather than
    * exactly (an exact top-n_h per stratum would cost a per-stratum
    * selection pass; pipelines sample at rates).
    *
    * Determinism: per-stratum moments are EXACT integer sums (n, Σx,
    * Σx²); the variance numerator n·Σx² − (Σx)² stays in exact BIGINT;
    * std/weight are fixed-order IEEE ops on those exact integers,
    * rounded to 9 decimals; the weight total crosses strata through
    * DECIMAL(28,12) (order-free); alloc = floor(budget·w/W) and the
    * rate are integer floors. try_divide guards the all-zero-variance
    * corpus (W = 0 → NULL allocs, no crash).
    *
    * Scale shape: two corpus passes (map-side moment aggregate; then
    * the gated count with the |strata|-row rate table broadcast back),
    * zero windows, zero per-stratum sorts. Output per stratum:
    * (source, n_docs, std_tokens, alloc, rate_bp, n_sampled). */
  def stratifiedNeyman(docs: DataFrame, budget: Long,
                       stratumCol: String = "source"): DataFrame = {
    val dec = DecimalType(28, 12)
    val x = docs.select(col(stratumCol).as("g"),
      TextOps.tokenCount(col("text")).cast(LongType).as("x"))
    val mom = x.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2"))
      // exact-integer variance numerator; n = 1 → zero spread (not 0/0)
      .select(col("g"), col("n"),
        when(col("n") > 1,
          round(sqrt((col("n") * col("sx2") - col("sx") * col("sx"))
            .cast(DoubleType) / (col("n") * (col("n") - 1)).cast(DoubleType)), 9))
          .otherwise(lit(0.0)).as("std"))
      .select(col("g"), col("n"), col("std"),
        round(col("n").cast(DoubleType) * col("std"), 9).as("w"))
    val tot = mom.agg(sum(col("w").cast(dec)).cast(DoubleType).as("tw"))
    val alloc = mom.crossJoin(broadcast(tot)) // 1-row scalar, documented pattern
      .select(col("g"), col("n"), col("std"),
        least(col("n"),
          floor(lit(budget.toDouble) * try_divide(col("w"), col("tw")))
            .cast(LongType)).as("alloc"))
      .select(col("g"), col("n"), col("std"), col("alloc"),
        expr("(alloc * 10000) div n").as("rate_bp"))
    val bucket = pmod(graft.functions.keys.md5Prefix64(
      col("doc_id").cast(org.apache.spark.sql.types.StringType).cast(BinaryType), 7),
      lit(10000L))
    val sampled = docs.select(col(stratumCol).as("g"), bucket.as("bucket"))
      .join(broadcast(alloc.select(col("g"), col("rate_bp"))), Seq("g"))
      .where(col("bucket") < col("rate_bp"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_sampled"))
    alloc.join(sampled, Seq("g"), "left")
      .select(col("g").as("source"), col("n").as("n_docs"),
        col("std").as("std_tokens"), col("alloc"), col("rate_bp"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  /** DuckDB mirror of [[stratifiedNeyman]] (oracle builder). */
  def stratifiedNeymanSql(budget: Long, table: String = "documents",
                          stratumCol: String = "source"): String =
    s"""WITH x AS (SELECT $stratumCol g,
          CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) x, doc_id
         FROM $table),
        mom0 AS (SELECT g, count(*) n, SUM(x) sx, SUM(x*x) sx2
                 FROM x GROUP BY 1),
        mom AS (SELECT g, n,
                 CASE WHEN n > 1 THEN round(sqrt(
                     CAST(n * sx2 - sx * sx AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE)), 9)
                   ELSE 0.0 END std
                FROM mom0),
        wts AS (SELECT g, n, std, round(CAST(n AS DOUBLE) * std, 9) w FROM mom),
        tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE) tw FROM wts),
        alloc AS (SELECT g, n, std,
                   least(n, CAST(floor($budget.0 * w / tw) AS BIGINT)) alloc
                  FROM wts, tot),
        rates AS (SELECT g, n, std, alloc, (alloc * 10000) // n rate_bp FROM alloc),
        smp AS (SELECT x.g, count(*) n_sampled
                FROM x JOIN rates r ON x.g = r.g
                WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT)
                  % 10000 < r.rate_bp
                GROUP BY 1)
        SELECT r.g AS source, r.n AS n_docs, r.std AS std_tokens,
          r.alloc, r.rate_bp, COALESCE(s.n_sampled, 0) AS n_sampled
        FROM rates r LEFT JOIN smp s ON r.g = s.g"""

  /** Shard manifest — the reproducibility artifact a training run records
    * next to its data: one row per (source, shard) with document count,
    * token total, and a content fingerprint (md5 of the comma-joined
    * ascending doc_id list). Re-running the pipeline must reproduce the
    * fingerprints bit-for-bit; a changed fingerprint pinpoints exactly
    * which shard's membership drifted. Shard membership comes from
    * [[packShards]], so a shard holds ~budget/avg_tokens documents — the
    * per-shard collect is budget-bounded, never corpus-bounded. */
  def shardManifest(docs: DataFrame, budgetTokens: Long,
                    stratumCol: String = "source"): DataFrame =
    packShards(docs, budgetTokens, stratumCol)
      .groupBy(col(stratumCol), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast(LongType)).as("n_tokens"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast(org.apache.spark.sql.types.StringType)))
          .cast(BinaryType)).as("fingerprint"))

  /** Deterministic token-budget shard assignment — the sequence-packing
    * prelude: documents are laid out in doc_id order within each source
    * and a document belongs to the budget-block its first token falls in
    * (shard = start_offset DIV budget). Exclusive prefix sums make the
    * assignment a single bounded window per source partition —
    * deterministic, engine-mirrorable, and one shuffle on the stratum
    * key. Output: (doc_id, source, n_tokens, shard_id). */
  def packShards(docs: DataFrame, budgetTokens: Long,
                 stratumCol: String = "source"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col(stratumCol),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col(stratumCol), col("n_tokens"),
        expr(s"start_off div $budgetTokens").as("shard_id"))
  }

  /** Context-window SEQUENCE packing — the "packed examples" a trainer
    * consumes: documents laid out in doc_id order within each source are
    * grouped into packs whose token totals NEVER exceed `maxLen`, each
    * document in exactly one pack, with its within-pack token offset.
    *
    * First-fit greedy packing is a sequential recurrence (each pack
    * boundary depends on every previous remainder), so at corpus scale
    * this uses its order-preserving parallel form, BLOCK packing: the
    * exclusive prefix sum lays all documents on one virtual token tape,
    * block b is tape range [b·maxLen, (b+1)·maxLen), a document fully
    * inside its block joins that block's pack (id 2b), and a document
    * straddling a block boundary gets the block's overflow pack (id
    * 2b+1). Disjoint tape intervals mean AT MOST ONE document can
    * contain any boundary point, so an overflow pack holds at most one
    * document — both pack kinds are ≤ maxLen by construction (documents
    * longer than maxLen are truncated to it, the trainer's semantics).
    * Utilization trades ≥50% worst-case for exact prefix-sum
    * parallelism: two windows (stratum tape, then within-pack offset),
    * zero sequential state, bit-identical on any engine or cluster.
    * Output: (doc_id, source, n_tokens, pack_id, seq_off); n_tokens is
    * the truncated count, seq_off the exclusive within-pack offset. */
  def packSequences(docs: DataFrame, maxLen: Int,
                    stratumCol: String = "source"): DataFrame = {
    val tape = Window.partitionBy(col(stratumCol)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocked = docs.select(col("doc_id"), col(stratumCol),
        least(TextOps.tokenCount(col("text")), lit(maxLen)).as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(tape) - col("n_tokens"))
      .withColumn("pack_id",
        when(pmod(col("start_off"), lit(maxLen)) + col("n_tokens") <= maxLen,
          expr(s"start_off div $maxLen") * 2)
        .otherwise(expr(s"start_off div $maxLen") * 2 + 1))
    val inPack = Window.partitionBy(col(stratumCol), col("pack_id"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    blocked.select(col("doc_id"), col(stratumCol), col("n_tokens"),
      col("pack_id"),
      (sum(col("n_tokens")).over(inPack) - col("n_tokens")).as("seq_off"))
  }

  /** Materialize the packed corpus as a training-ready layout: parquet
    * partitioned by (stratum, shard_id), so a trainer reads one shard
    * directory per step and partition pruning serves shard selection for
    * free. Hive-style partition paths carry the assignment — no
    * shard manifest to keep consistent. */
  def writeShards(docs: DataFrame, budgetTokens: Long, outDir: String,
                  stratumCol: String = "source"): Unit = {
    val shards = packShards(docs, budgetTokens, stratumCol)
      .select(col("doc_id"), col("shard_id"))
    docs.join(shards, "doc_id")
      .write.mode("overwrite")
      .partitionBy(stratumCol, "shard_id")
      .parquet(outDir)
  }

  /** Deterministic global training shuffle: every document gets a
    * reproducible pseudo-random position, materialized as
    * (shard, pos-within-shard) — the layout a data loader consumes
    * (read shard s, iterate in pos order) with none of an RNG's
    * re-draw-on-retry nondeterminism. Varying `seed` re-shuffles for a
    * new epoch; the same seed gives the same order on any engine,
    * cluster size, or retry.
    *
    * Scale shape: shard assignment is a per-row md5 bucket (shuffle-free
    * predicate), and position is a row_number window PARTITIONED BY
    * shard — the global order is realized as `shards` independent
    * in-partition sorts, never a single total-order sort; pick `shards`
    * ≥ cluster cores so no reducer sorts more than one shard's worth.
    * Output: (doc_id, shard, pos). */
  def globalShuffle(docs: DataFrame, shards: Int,
                    seed: String = "epoch0"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val keyBytes = concat_ws(":", lit(seed),
      col("doc_id").cast(org.apache.spark.sql.types.StringType)).cast(BinaryType)
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    docs.select(col("doc_id"), md5(keyBytes).as("skey"),
        pmod(graft.functions.keys.md5Prefix64(keyBytes, 7), lit(shards.toLong))
          .as("shard"))
      .select(col("doc_id"), col("shard"),
        (row_number().over(w) - 1).cast(org.apache.spark.sql.types.LongType).as("pos"))
  }

  /** Leakage-safe train/validation/test split: deterministic hash
    * assignment made CONSISTENT within near-duplicate clusters, so two
    * near-identical documents can never land in different splits (the
    * train/test contamination a naive per-document hash split produces
    * whenever the corpus still carries near-dups).
    *
    * The split hash is computed on each document's cluster REPRESENTATIVE
    * (min doc_id reachable through the near-dup pair graph; unpaired
    * documents represent themselves), with the same nested md5-bucket
    * scheme as [[sampleMix]]: train gets buckets [0, train·10⁴),
    * validation the next valRate·10⁴, test the rest — so rates are exact
    * to 1/10⁴ and growing a split only moves whole clusters.
    *
    * Scale shape: the pair graph is whatever candidate generator the
    * caller ran (LSH-verified pairs — corpus-size-safe); clustering is
    * the [[Dedup.clusters]] fixpoint; the assignment itself is one
    * left join (docs against the cluster table, output-sized) plus a
    * per-row hash — no extra corpus exchange.
    * Output: (doc_id, rep, split). */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       trainRate: Double, valRate: Double): DataFrame = {
    require(trainRate >= 0 && valRate >= 0 && trainRate + valRate <= 1.0,
      s"rates must be non-negative and sum <= 1, got ($trainRate, $valRate)")
    leakageSafeSplitFromClusters(docs,
      Dedup.clusters(pairs.select(col("a"), col("b"))),
      trainRate, valRate)
  }

  /** [[leakageSafeSplit]] from an ALREADY-CLUSTERED assignment — the
    * durable-store consumer form ([[Dedup.clustersStore]]): the split is
    * one left join + a per-row hash, no fixpoint anywhere. */
  def leakageSafeSplitFromClusters(docs: DataFrame, clusterTable: DataFrame,
                                   trainRate: Double, valRate: Double): DataFrame = {
    require(trainRate >= 0 && valRate >= 0 && trainRate + valRate <= 1.0,
      s"rates must be non-negative and sum <= 1, got ($trainRate, $valRate)")
    val bucket = pmod(graft.functions.keys.md5Prefix64(
      col("rep").cast(org.apache.spark.sql.types.StringType).cast(BinaryType), 7),
      lit(10000L))
    val tr = math.round(trainRate * 10000).toInt
    val va = tr + math.round(valRate * 10000).toInt
    docs.join(clusterTable, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
      .select(col("doc_id"), col("rep"),
        when(bucket < tr, lit("train"))
          .when(bucket < va, lit("validation"))
          .otherwise(lit("test")).as("split"))
  }

  /** The distinct word n-gram strings of an eval set: (s). */
  private def evalGrams(evalDocs: DataFrame, n: Int): DataFrame =
    TextOps.distinctShingleRows(evalDocs, n, "s").distinct()

  /** Benchmark decontamination by n-gram overlap — the GPT-3/PaLM-style
    * eval-set filter: drop every training document that shares ANY word
    * n-gram with the held-out evaluation set (the published recipes use
    * n=8..13 on real corpora; n is a parameter here).
    *
    * Scale shape: the eval side is an evaluation BENCHMARK — small by
    * definition — so its distinct n-gram set broadcasts and the
    * contamination scan is a broadcast semi-join against the corpus
    * n-gram stream: ONE pass over the corpus, no corpus-wide exchange at
    * all before the output-sized anti-join. For an unusually large eval
    * set, drop the broadcast hint and the same plan runs as a shuffled
    * semi-join. Output: the surviving documents (all input columns). */
  def evalNgramDecontaminate(docs: DataFrame, evalDocs: DataFrame,
                             n: Int): DataFrame = {
    val contaminated = TextOps.distinctShingleRows(docs, n, "s", "doc_id")
      .join(broadcast(evalGrams(evalDocs, n)), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** [[evalNgramDecontaminate]] with a BLOOM PREFILTER in front of the
    * exact join — the form that survives an eval/contamination set too
    * large to broadcast as a hash relation. A full benchmark suite's
    * n-gram set runs to hundreds of millions of entries (tens of GB as
    * strings — unbroadcastable), but its Bloom image (`numBits/8` bytes,
    * ~1.2 GB per 10⁹ grams at 1% fpp) still ships to every executor.
    * The corpus n-gram stream probes the image INSIDE the scan's codegen
    * span and only the ~fpp false-positive residue plus the true hits —
    * orders of magnitude fewer rows — reach the exact semi-join that
    * removes false positives, so the result is BIT-IDENTICAL to the
    * plain form: the filter changes the plan, never the answer.
    *
    * Both sides key the filter on the md5 image of the shingle string
    * ([[graft.functions.keys.md5Raw]]) — one digest supplies all
    * `numHashes` probe positions (Kirsch–Mitzenmacher), deterministic
    * across runs, partitionings and engines. The bloom rides a 1-row
    * broadcast nested-loop join, the engine's standard broadcast-scalar
    * shape. Output: the surviving documents (all input columns). */
  def evalNgramDecontaminateBloom(docs: DataFrame, evalDocs: DataFrame,
                                  n: Int, numBits: Int = 1 << 20,
                                  numHashes: Int = 5): DataFrame = {
    import graft.functions.{keys, BloomSet}
    val grams = evalGrams(evalDocs, n)
    val bloomRow = grams.agg(
      BloomSet.bloomAgg(keys.md5Raw(col("s")), numBits, numHashes).as("bloom"))
    val contaminated = TextOps.distinctShingleRows(docs, n, "s", "doc_id")
      .crossJoin(broadcast(bloomRow))
      .where(BloomSet.mightContain(col("bloom"), keys.md5Raw(col("s")), numHashes))
      .join(broadcast(grams), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Contamination SCORING — the graded companion to
    * [[evalNgramDecontaminate]]: instead of dropping on any shared
    * n-gram, report per training document what fraction of its distinct
    * n-grams appear in the eval set, so a curator can threshold (the
    * published recipes drop at a high-overlap cutoff rather than
    * any-hit) and audit what the filter would remove.
    *
    * Same scale shape as the filter: eval n-grams broadcast, one corpus
    * n-gram pass, the aggregate is keyed per doc with map-side partials.
    * Documents too short to shingle carry no score (no evidence).
    * Output: (doc_id, n_grams, n_shared, overlap_frac). */
  def evalNgramOverlap(docs: DataFrame, evalDocs: DataFrame, n: Int): DataFrame = {
    TextOps.distinctShingleRows(docs, n, "s", "doc_id")
      .join(broadcast(evalGrams(evalDocs, n).withColumn("hit", lit(1))), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast(org.apache.spark.sql.types.LongType)
          .as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        round(col("n_shared").cast(org.apache.spark.sql.types.DoubleType) / col("n_grams"), 6)
          .as("overlap_frac"))
  }

  /** Filter-funnel AUDIT — the "why did my corpus shrink" report every
    * curation run needs before anyone trusts it: each document is
    * attributed to the FIRST gate that rejects it (gates in pipeline
    * order: token-count floor → language allowlist → stopword-density
    * floor → exact dedup), survivors count under `kept`, and the
    * per-(source, stage) totals are the funnel. Attribution to the first
    * gate makes the stages a partition of the corpus: the counts sum to
    * the input row count, so the report reconciles exactly.
    *
    * The dedup gate is evaluated on the SURVIVORS of the content gates
    * (true funnel semantics, matching [[cleanCorpus]]'s stage order):
    * keep_id is the min doc_id among same-md5 docs that passed gates
    * 1–3, computed as a conditional window min — no second pass, no
    * self-join. The stopword gate compares n_stop·denom < n_tokens in
    * INTEGER arithmetic, so no float threshold can disagree across
    * engines.
    *
    * Scale shape: ONE corpus scan, one hash exchange on the md5 digest
    * (the exchange exact dedup pays anyway), then a tiny
    * (source × stage) aggregate. Output: (source, stage, n_docs). */
  def filterAudit(docs: DataFrame, minTokens: Int = 5,
                  keepLangs: Seq[String] = Seq("en"),
                  stopDenom: Int = 20): DataFrame = {
    val w = TextOps.tokens(col("text"))
    val flagged = docs.select(col("doc_id"), col("source"),
        TextOps.fingerprintMd5(col("text")).as("h"),
        (size(w) < minTokens).as("g1"),
        (!col("lang").isin(keepLangs.map(x => x: Any): _*)).as("g2"),
        (size(filter(w, t => t.isin(TextOps.stopwords.map(x => x: Any): _*)))
          * stopDenom < size(w)).as("g3"))
    val keyed = flagged.withColumn("keep_id",
      min(when(!col("g1") && !col("g2") && !col("g3"), col("doc_id")))
        .over(Window.partitionBy(col("h"))))
    keyed.select(col("source"),
        when(col("g1"), lit("too_short"))
          .when(col("g2"), lit("lang_other"))
          .when(col("g3"), lit("low_stopword"))
          .when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
          .otherwise(lit("kept")).as("stage"))
      .groupBy(col("source"), col("stage"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw documents by
    * how target-domain-like they are, using hashed n-gram importance
    * weights. Features are word unigrams + bigrams hashed into `buckets`
    * md5 buckets; the target distribution is fitted from `targetSource`'s
    * documents and the raw distribution from the whole corpus, both
    * add-1-smoothed; a document's score is the sum of its features'
    * log-likelihood ratios ln(p̂(b)/q̂(b)). The top-k highest-scoring
    * documents are the ones importance resampling keeps.
    *
    * Determinism/parity: the feature hash is md5-derived (no RNG), each
    * bucket's log-ratio is rounded to 6dp ONCE (absorbing libm last-ulp
    * differences), and per-doc scores sum those rounded values in
    * DECIMAL(18,6) — bit-exact across engines; ranking ties break on
    * doc_id via the bounded [[graft.functions.TopKPairs]] aggregate.
    *
    * Scale shape: two corpus passes BY DESIGN, matching the paper's
    * two-phase estimator — pass 1 fits the two distributions (one
    * explode → B-bucket aggregate, map-side combined), pass 2 scores
    * (explode → broadcast join against the B-row weight table → per-doc
    * partial sum). Everything crossing the passes is B rows; the final
    * top-k ships k pairs per map task through one exchange — no global
    * sort, no full-corpus shuffle anywhere. */
  def dsirTopK(docs: DataFrame, targetSource: String, buckets: Int,
               k: Int): DataFrame = {
    val w = filter(split(lower(col("text")), "[^a-z]+"), _ =!= "")
    val bigrams = zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (a, b) => concat(a, lit(" "), b))
    val feats = docs.select(col("doc_id"), col("source"),
      explode(concat(w, bigrams)).as("f"))
    val b = feats.select(col("doc_id"), col("source"),
      pmod(graft.functions.keys.md5Prefix64(col("f").cast(BinaryType), 13),
        lit(buckets.toLong)).as("bkt"))
    val dist = b.groupBy("bkt").agg(
      count(when(col("source") === targetSource, 1)).as("pc"),
      count(lit(1)).as("qc"))
    val tot = dist.agg(sum("pc").as("np"), sum("qc").as("nq"))
    val lw = dist.crossJoin(broadcast(tot)).select(col("bkt"),
      round(log((col("pc") + lit(1.0)) * (col("nq") + lit(buckets)) /
        ((col("qc") + lit(1.0)) * (col("np") + lit(buckets)))), 6).as("lw"))
    val sc = b.join(broadcast(lw), Seq("bkt"))
      .groupBy("doc_id")
      .agg(sum(col("lw").cast(DecimalType(18, 6))).cast(DoubleType).as("score"))
    sc.select(struct(col("score").as("ord"),
        col("doc_id").cast(LongType).as("payload")).as("pair"))
      .agg(graft.functions.TopKPairs.topK(col("pair"), k).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.payload").as("doc_id"), col("col.ord").as("score"),
        (col("pos") + 1).cast(IntegerType).as("rk"))
  }

  /** Curriculum schedule — order the corpus easy→hard for training while
    * keeping every difficulty level present throughout (Bengio et al.
    * 2009-style curriculum, realized as round-robin interleave): each
    * document lands in a difficulty bin (token-count bands, capped at
    * `bins`), is deterministically md5-shuffled WITHIN its bin, and gets
    * a global step = pos_in_bin·bins + bin — consecutive steps cycle
    * through the bins while each bin's internal order is a reproducible
    * permutation. Bins exhaust at different times, so `step` is ordinal,
    * not dense — training consumes in step order.
    *
    * Scale shape: the within-bin permutation is NEVER one global sort —
    * documents hash into `shards` md5 shards per bin, each (bin, shard)
    * partition sorts independently (corpus/(bins·shards) rows — pick
    * `shards` to bound partition size), and shard offsets come from a
    * bins·shards-row count table broadcast back (same two-level scheme as
    * [[globalShuffle]]). The count pass re-reads only (doc_id, text-length)
    * — column-pruned; at 100 TB derive it from footer metadata or cache
    * the projected base.
    *
    * Output: (doc_id, bin, pos_in_bin, step). */
  def curriculumSchedule(docs: DataFrame, bins: Int, binWidth: Int,
                         shards: Int): DataFrame = {
    val keyBytes = col("doc_id").cast(org.apache.spark.sql.types.StringType).cast(BinaryType)
    val base = docs.select(col("doc_id"),
      least(lit(bins - 1), floor(TextOps.tokenCount(col("text")) / binWidth))
        .cast(IntegerType).as("bin"),
      md5(keyBytes).as("skey"),
      pmod(graft.functions.keys.md5Prefix64(keyBytes, 7), lit(shards.toLong))
        .cast(IntegerType).as("shard"))
    val ranked = base.withColumn("rk",
      row_number().over(Window.partitionBy(col("bin"), col("shard"))
        .orderBy(col("skey"), col("doc_id"))))
    val offsets = base.groupBy(col("bin"), col("shard")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.partitionBy(col("bin")).orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bin"), col("shard"), col("off"))
    ranked.join(broadcast(offsets), Seq("bin", "shard"))
      .select(col("doc_id"), col("bin"),
        (col("off") + col("rk") - 1).as("pos_in_bin"),
        ((col("off") + col("rk") - 1) * bins + col("bin")).as("step"))
  }

  def cleanCorpus(docs: DataFrame, minTokens: Int = 5, shingleN: Int = 3): DataFrame = {
    val q = docs.select(col("doc_id"), col("source"), col("text"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
      .where(col("n_tokens") >= minTokens)
    val kept = q.withColumn("h", TextOps.fingerprintMd5(col("text")))
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .where(col("doc_id") === col("keep_id"))
      .drop("h", "keep_id")
    val fp = TextOps.shingleMinFp(kept, shingleN, "doc_id", "source")
    val contaminated = fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.source") =!= col("y.source") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id")).distinct()
    kept.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** Frequency-rank vocabulary encoding — the "tokenizer apply" step that
    * turns a curated corpus into the id sequences a trainer consumes: the
    * top `vocabSize` tokens by corpus count (rank 1 = most frequent, ties
    * alphabetical) become ids 1..V, every other token encodes as 0 (OOV),
    * and each document re-assembles positionally into its id sequence.
    *
    * Scale shape: the corpus-sized passes are the token-count aggregate
    * and the encode join, both map-side-combinable/broadcast (the vocab is
    * ≤ V rows after the `minCount` floor, so it broadcasts); the one
    * unpartitioned window ranks the AGGREGATED vocab — |vocab ≥ minCount|
    * rows, not corpus rows (at 100 TB raise the floor so the ranked frame
    * stays executor-sized). Reassembly sorts each doc's collected
    * (pos, id) structs in-group — bounded by per-document length. Output:
    * (doc_id, token_ids space-joined, n_tokens, n_oov). */
  def tokenIds(docs: DataFrame, vocabSize: Int, minCount: Long = 2): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("tok"),
        row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)).as("id"))
      .where(col("id") <= vocabSize)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0)).as("id"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          x => x.getField("id").cast("string")), " ").as("token_ids"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"))
  }
}
