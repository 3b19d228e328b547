package graft.operators

import graft.functions.MinHashKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, in increasing
  * robustness / decreasing cost-at-scale order:
  *
  *  - [[exact]]: hash-groupBy — one shuffle on the 32-char digest.
  *  - [[ngramJaccardPairs]]: EXACT set-similarity via an inverted shingle
  *    index (explode → self-join on shingle → count intersections). Cost is
  *    quadratic in per-shingle document frequency, so at 100 TB it is the
  *    *verification* stage, not the candidate generator.
  *  - [[minHashPairs]]: MinHash + LSH banding — the scale path. Signatures
  *    are per-document (no shuffle), banding buckets candidates so the
  *    self-join touches only probable pairs. k=32 hashes, 8 bands × 4 rows
  *    ⇒ catches Jaccard ≳ 0.5 with high probability.
  *  - [[simhash]]: 16-bit SimHash over word unigrams — constant-size
  *    signature, equal-signature grouping finds near-dups in ONE shuffle.
  *
  * All hashing derives from md5 (deterministic across engines/sessions —
  * no seed state), all math from integer counts, so every operator is
  * oracle-checkable bit-for-bit. No UDFs anywhere: the shingle-grain
  * operators are relational plans of codegen'd built-ins, and the
  * MinHash path ([[minHashSignatures]], [[corpusDedup]]) runs the native
  * per-document kernel [[graft.functions.MinHashKernel]] — Catalyst
  * expressions, like `array_dot` — so it never widens to one row per
  * shingle.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the smallest doc_id.
    * Output: (h, keep_id, n). */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol).cast(BinaryType)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Distinct (doc_id, shingle) pairs — the inverted index. Built from the
    * codegen struct shingles ([[TextOps.shingleStructs]]); the string form
    * materializes only after explode, where concat_ws is codegen'd. */
  private def shingleIndex(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(TextOps.shingleStructs(col("text"), n))).as("t"))
      .select(col("doc_id"), TextOps.shingleString(col("t"), n).as("s"))

  /** Exact n-gram Jaccard near-dup pairs with similarity >= threshold.
    * Output: (a, b, jaccard), a < b.
    *
    * The inverted-index self-join needs no singleton (df = 1) prefilter: a
    * singleton shingle matches only itself and dies on `a < b`, so pruning
    * it saves hash-probe work ONLY — the exchange on the shingle key is
    * byte-identical with or without it — while costing a whole extra
    * aggregate + join-back. Cost is quadratic in per-shingle document
    * frequency, so at corpus scale this is the *verification* stage of
    * [[corpusDedup]]. Running it standalone on a real corpus needs `maxDf`:
    * shingles appearing in more than `maxDf` documents (boilerplate) are
    * dropped from the index BEFORE the self-join — and symmetrically from
    * the set sizes, so the result is the exact Jaccard over each document's
    * df-filtered shingle set. A boilerplate shingle shared by d documents
    * would otherwise alone contribute d·(d-1)/2 join rows.
    *
    * "Exact" is hash-exact: shingles are compared by md5 digest, so an
    * adversarially constructed md5 collision could merge two distinct
    * shingles (set sizes/intersections off by the collision count). Benign
    * corpora are unaffected; swap in `sha2(…, 256)` if adversarial inputs
    * are in scope. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxDf: Option[Long] = None): DataFrame =
    overlapCounts(docs, n, maxDf)
      .select(col("a"), col("b"),
        (col("common").cast(DoubleType) /
          (col("nsh_a") + col("nsh_b") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** The shared inverted-index machinery of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: (a, b, common, nsh_a, nsh_b), a < b, over the
    * (optionally df-capped) distinct-shingle sets. */
  private def overlapCounts(docs: DataFrame, n: Int,
                            maxDf: Option[Long]): DataFrame = {
    // shingles join on their 16-byte md5 instead of the raw string: the
    // inverted-index shuffle and self-join carry fixed-width binary keys
    // rather than arbitrary-length n-grams (distinct-per-doc shingles map
    // 1:1 to digests, so set sizes and intersections are unchanged).
    // Materialized once — the size aggregate and both self-join sides read
    // the ~24 B/row index instead of re-running scan → shingle → md5.
    val raw = shingleIndex(docs, n)
      .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
    val sh = maxDf.fold(raw) { cap =>
      // df per digest over the SAME partitioning the self-join needs; the
      // window avoids a groupBy + join-back on the digest key
      import org.apache.spark.sql.expressions.Window
      raw.withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
        .where(col("df") <= cap)
        .drop("df")
    }.materialized
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val common = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("common"),
        col("sa.nsh").as("nsh_a"), col("sb.nsh").as("nsh_b"))
  }

  /** PREFIX-FILTERED exact Jaccard pairs (the PPJoin family's prefix
    * principle — Chaudhuri et al. 2006, Xiao et al. 2008): for
    * J(A,B) ≥ t, A and B MUST share a shingle within the first
    * |d| − ⌈t·|d|⌉ + 1 entries of their df-ascending-sorted shingle
    * lists — so only that PREFIX enters the candidate self-join, and
    * recall is exactly 100% by the pigeonhole bound, not a tuning
    * accident. Rarest-first ordering makes prefixes collide on the
    * rarest evidence available: candidate volume is quadratic in the
    * df of PREFIX shingles only — the df-cap variant's sub-quadratic
    * bound without its "verify stage only" asterisk, since no true
    * pair is ever dropped.
    *
    * The threshold is the rational tNum/tDen and the prefix length and
    * final acceptance (`common·tDen ≥ (|A|+|B|−common)·tNum`) are pure
    * integer arithmetic — nothing about candidate generation or
    * acceptance touches a float (the reported jaccard double is render
    * only). Verification joins each candidate pair against the two
    * full digest sets restricted to the pair — cost |cand|·avg-set,
    * never corpus². Output: (a, b, jaccard), a < b — identical rows to
    * [[ngramJaccardPairs]] at threshold = tNum/tDen. */
  def ngramJaccardPrefixPairs(docs: DataFrame, n: Int,
                              tNum: Int, tDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 < tNum && tNum < tDen, "threshold must be in (0,1)")
    // digest index feeds the df window, the prefix join and both verify
    // sides — materialized once (the overlapCounts posture)
    val sh = shingleIndex(docs, n)
      .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
      .materialized
    val ranked = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val prefix = ranked
      .where(col("rn") <= expr(s"nsh - ((nsh * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("s"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val common = cand
      .join(sh.as("xa"), col("a") === col("xa.doc_id"))
      .join(sh.as("xb"), col("b") === col("xb.doc_id") && col("xa.s") === col("xb.s"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    common
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .where(col("common") * tDen >= (col("sa.nsh") + col("sb.nsh") - col("common")) * tNum)
      .select(col("a"), col("b"),
        (col("common").cast(DoubleType) /
          (col("sa.nsh") + col("sb.nsh") - col("common"))).as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A|. Jaccard misses
    * the quote/excerpt case — a short document wholly embedded in a long
    * one scores |A|/|B| ≈ 0 — while containment scores it 1.0 from the
    * short side. Pairs where either direction reaches `threshold` survive:
    * (a, b, cont_a, cont_b), a < b, cont_a = share of a's shingles also in
    * b.
    *
    * Same inverted-index shape (and the same md5 hash-exactness caveat and
    * `maxDf` boilerplate cap — applied to both the self-join and the set
    * sizes) as [[ngramJaccardPairs]]; the two differ only in the final
    * ratio projection, so the scale posture is identical: candidate cost
    * quadratic in per-shingle df, which `maxDf` bounds. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       maxDf: Option[Long] = None): DataFrame =
    overlapCounts(docs, n, maxDf)
      .select(col("a"), col("b"),
        (col("common").cast(DoubleType) / col("nsh_a")).as("cont_a"),
        (col("common").cast(DoubleType) / col("nsh_b")).as("cont_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)

  /** Per-document cross-document repeated-SPAN statistics — the
    * exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), who remove any ≥50-token
    * span occurring twice in the corpus. Their suffix-array machinery is a
    * single-node construction; the relational equivalent fixes a span
    * width `k` and slides it one token at a time (every repeated substring
    * of length ≥ k contains a repeated k-token window, so detection
    * coverage is identical — only the boundary resolution coarsens to k).
    *
    * Pipeline: positional k-token windows → md5 digest → per-(doc, digest)
    * positional counts → per-digest distinct-doc df → flag df ≥ 2 → per-doc
    * rollup. Output: (doc_id, n_spans, n_dup_spans, dup_fraction) where
    * n_dup_spans counts POSITIONS covered by some cross-doc-repeated
    * window — the score a curation pass thresholds to drop or trim docs.
    *
    * Scale shape: the corpus-sized frames are reduced BEFORE every
    * shuffle (positional windows collapse to per-doc digest counts in one
    * map-side-combinable aggregate; the df join is digest-keyed on ~24 B
    * rows); docs shorter than k tokens contribute no windows and no rows.
    * Same md5 hash-exactness caveat as [[exact]]. */
  def repeatedSpanStats(docs: DataFrame, k: Int): DataFrame = {
    val perDoc = docs.select(col("doc_id"),
        explode(TextOps.shingleStructs(col("text"), k)).as("t"))
      .select(col("doc_id"),
        unhex(md5(TextOps.shingleString(col("t"), k).cast(BinaryType))).as("s"))
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("cnt"))
      .materialized
    val df = perDoc.groupBy(col("s")).agg(count(lit(1)).as("ndocs"))
    perDoc.join(df, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("ndocs") >= 2, col("cnt")).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast(DoubleType) / col("n_spans"), 6)
          .as("dup_fraction"))
  }

  /** Exact-substring dedup as a REWRITE, not just a score — the actual
    * removal pass of Lee et al. 2022: every ≥ k-token span occurring in
    * two or more documents is deleted from all but one of them. Detection
    * is the [[repeatedSpanStats]] sliding k-token window (every repeated
    * substring of length ≥ k contains a repeated k-window); the retained
    * copy is deterministic — for each duplicated window digest, the
    * minimum doc_id that contains it keeps ALL its occurrences, every
    * other document drops every token position covered by that window.
    * Output: (doc_id, text_clean, n_tokens, n_removed) — one row per input
    * document (fully-deduplicated documents survive with text_clean = '').
    *
    * Scale shape — the key property is that the expensive frames are sized
    * by DUPLICATION, not by the corpus: the positional window frame
    * collapses digest-keyed (map-side-combinable `min`/`count distinct`)
    * before its one shuffle; only dup-flagged occurrences expand to
    * covered positions (≤ k · dup windows) and collapse again to ONE
    * per-doc position-set row. The rewrite itself is doc-local — a codegen
    * higher-order `filter` over the token array where the document row
    * already lives — so clean data flows through with an empty side of a
    * single key-join and zero token-level shuffle. Same md5 hash-exactness
    * caveat as [[exact]]. */
  def removeRepeatedSpans(docs: DataFrame, k: Int): DataFrame =
    // the one-shot IS the incremental form against an empty registry
    // (left join coalesces to ndocs = batch df, keeper = batch min) —
    // one implementation, so the hash-checked incremental ≡ full
    // contract can never drift
    removeRepeatedSpansVs(docs, emptySpanRegistry(docs.sparkSession), k)

  /** Positional k-token window digests: (doc_id, pos, s) — one row per
    * window occurrence, s = md5 of the space-joined window. */
  private def spanWindows(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(TextOps.shingleStructs(col("text"), k)).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"),
        unhex(md5(TextOps.shingleString(col("t"), k).cast(BinaryType))).as("s"))

  /** Doc-local token rewrite shared by the one-shot and stored span
    * removers: drop each document's removed-position set (`rm`,
    * array<int> keyed by doc_id) inside a codegen higher-order `filter`
    * where the document row lives — no token-level shuffle. */
  private def applySpanRemoval(docs: DataFrame, removedPerDoc: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs.join(removedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), toks.as("w"),
        coalesce(col("rm"), array().cast(ArrayType(IntegerType))).as("rm"))
      .select(col("doc_id"),
        filter(col("w"), (_, i) => !array_contains(col("rm"), i)).as("kept"),
        size(col("w")).cast(LongType).as("n_tokens"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"))
  }

  /** Durable window-digest registry backing INCREMENTAL exact-substring
    * removal: one row per distinct k-token window digest with the minimum
    * doc_id holding it (`keeper`) and the count of distinct documents
    * holding it (`ndocs`). ~40 B/digest, text never stored.
    *
    * The registry is BUCKETED BY DIGEST at write time
    * ([[spanRegistryBuckets]] buckets, per-bucket sorted — the
    * [[graft.operators.Layout.writeBucketed]] contract): a bucketed scan
    * reports `HashPartitioning(s, n)`, so every digest-keyed store-side
    * operation — the incremental rewrite's registry probe, the advance's
    * full-outer fold — runs with ZERO exchange on the store side. At
    * 100 TB the registry is corpus-duplication-sized; pre-bucketing it
    * moves the per-batch shuffle from O(registry) to O(batch), the same
    * amortize-the-shuffle-once trade the bucketed fact-table layout
    * makes. Registries published by pre-bucketing code (no
    * [[SpanBucketsFile]] sidecar) fall back to a plain parquet scan. */
  final case class SpanStore(spark: org.apache.spark.sql.SparkSession,
                             dir: String) {
    def spans: DataFrame = {
      val side = new org.apache.hadoop.fs.Path(s"$dir/$SpanBucketsFile")
      val fs = side.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(side))
        spark.read.schema("s BINARY, keeper BIGINT, ndocs BIGINT")
          .parquet(s"$dir/spans.parquet")
      else {
        val in = fs.open(side)
        val n = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
        // bucket metadata lives in the catalog, not the files — register
        // an external bucketed table over the published location once per
        // session. The name keys on (dir, bucket count): the dir is
        // content-keyed, but a dir deleted and re-published in the same
        // session under a different -Dgraft.spanstore.buckets would
        // otherwise reuse a stale catalog entry whose bucket spec no
        // longer matches the files — the zero-exchange join would then
        // read wrong partitioning silently
        val tbl = "graft_spanstore_" + md5Hex(s"$dir|$n")
        if (!spark.catalog.tableExists(tbl))
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS `$tbl` (s BINARY, keeper BIGINT, ndocs BIGINT)
               |USING PARQUET
               |CLUSTERED BY (s) SORTED BY (s) INTO $n BUCKETS
               |LOCATION '$dir/spans.parquet'""".stripMargin)
        spark.table(tbl)
      }
    }
  }

  /** Sidecar recording the bucket count a span registry's files were
    * laid out with (written LAST, before the store's atomic publish). */
  private[graft] val SpanBucketsFile = "SPAN_BUCKETS"

  /** Span-registry bucket count. 32 matches the local session's shuffle
    * width; a deployment sizes it so one bucket's digests fit an
    * executor's join hash table (`-Dgraft.spanstore.buckets=N`). */
  private[graft] def spanRegistryBuckets: Int =
    sys.props.get("graft.spanstore.buckets").map(_.toInt).getOrElse(32)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Land a registry frame as the digest-bucketed `spans.parquet` fileset
    * under `tmp` (staging table → drop keeps the files → sidecar). The
    * stage table is external (explicit path), so DROP leaves the data;
    * the UUID name keeps concurrent builders apart. */
  private def writeSpanRegistry(spark: org.apache.spark.sql.SparkSession,
                                registry: DataFrame, tmp: String): Unit = {
    val n = spanRegistryBuckets
    val stage = s"graft_spanstore_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    registry.repartition(n, col("s"))
      .write.mode("overwrite")
      .option("path", s"$tmp/spans.parquet")
      .bucketBy(n, "s").sortBy("s")
      .saveAsTable(stage)
    spark.sql(s"DROP TABLE IF EXISTS `$stage`")
    val side = new org.apache.hadoop.fs.Path(s"$tmp/$SpanBucketsFile")
    val fs = side.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(side, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Resolve the PUBLISHED span store for a (corpusKey, k) pair, if one
    * exists — the admin/CLI entry point (mirrors [[openStore]]). */
  def openSpanStore(spark: org.apache.spark.sql.SparkSession,
                    corpusKey: String, k: Int): Option[SpanStore] = {
    val path = storePath(spark, s"$corpusKey#spanstore:$SpanLayoutVersion", k, 0.0)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) Some(SpanStore(spark, path.toString)) else None
  }

  /** Build-once, serve-many [[SpanStore]] over a corpus drop (same
    * keying / atomic-rename / immutability contract as [[dedupStore]]).
    * One corpus text scan: windows → digest-keyed map-side-combinable
    * aggregate → publish. */
  def spanStore(docs: DataFrame, k: Int, corpusKey: String): SpanStore = {
    val spark = docs.sparkSession
    val path = storePath(spark, s"$corpusKey#spanstore:$SpanLayoutVersion", k, 0.0)
    publishIfAbsent(spark, path) { tmp =>
      writeSpanRegistry(spark,
        spanWindows(docs, k).groupBy(col("s"))
          .agg(min(col("doc_id")).as("keeper"),
            countDistinct(col("doc_id")).as("ndocs")),
        tmp)
    }
    SpanStore(spark, path.toString)
  }

  /** INCREMENTAL exact-substring removal: rewrite ONLY the new batch,
    * with duplication judged against store ∪ batch — output ≡
    * [[removeRepeatedSpans]] over the full corpus restricted to batch
    * doc_ids (the contract `dedup_span_store_incremental`'s oracle
    * hash-checks), provided batch and store doc sets are disjoint — the
    * same drop-partition contract every store in this engine assumes.
    *
    * Scale shape: the old corpus contributes only its persisted digest
    * registry — old TEXT is never re-read, re-tokenized, or re-hashed,
    * and old documents are never re-emitted. Per-batch cost = one batch
    * text scan + a digest-keyed join of batch digests against the
    * registry (fixed ~40 B rows). The registry is digest-bucketed at
    * write time ([[SpanStore]]), so the store side of that join is scan
    * only — ZERO exchange; only the batch's own digest aggregate
    * shuffles (to the registry's bucket width), which is the O(batch)
    * cost an incremental pass is supposed to pay. */
  def removeRepeatedSpansStored(newDocs: DataFrame, store: SpanStore,
                                k: Int): DataFrame =
    removeRepeatedSpansVs(newDocs, store.spans, k)

  /** The batch's digest-keyed aggregate over a positional window frame:
    * one row per distinct batch digest, (s, bkeep = min doc_id, bnd =
    * distinct doc count). Map-side combinable; the ONE batch-side
    * shuffle every span operation below shares. */
  private def batchSpanAgg(win: DataFrame): DataFrame =
    win.groupBy(col("s"))
      .agg(min(col("doc_id")).as("bkeep"), countDistinct(col("doc_id")).as("bnd"))

  /** Rewrite `newDocs` given its materialized window frame `win` and its
    * digest aggregate `batchAgg` — the body shared by the one-shot, the
    * stored-registry, and the streaming forms (so the hash-checked
    * incremental ≡ full contract can never drift). The registry probe is
    * a LEFT join keyed on the digest: against a digest-bucketed
    * [[SpanStore]] scan (or a previously hash-partitioned in-session
    * registry) the store side satisfies the join's distribution from its
    * layout — zero store-side exchange. */
  private def removeSpansCore(newDocs: DataFrame, win: DataFrame,
                              batchAgg: DataFrame, registry: DataFrame,
                              k: Int): DataFrame = {
    val merged = batchAgg.join(
        registry.select(col("s"), col("keeper").as("okeep"),
          col("ndocs").as("ond")),
        Seq("s"), "left")
      .select(col("s"),
        (coalesce(col("ond"), lit(0L)) + col("bnd")).as("ndocs"),
        least(col("bkeep"), coalesce(col("okeep"), col("bkeep"))).as("keeper"))
    val removedPerDoc = win.join(merged, Seq("s"))
      .where(col("ndocs") >= 2 && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .groupBy(col("doc_id")).agg(collect_set(col("p")).as("rm"))
    applySpanRemoval(newDocs, removedPerDoc)
  }

  /** [[removeRepeatedSpansStored]] against any registry FRAME
    * (s, keeper, ndocs) — the streaming path holds its registry as a
    * materialized in-session frame instead of a published store. */
  private[graft] def removeRepeatedSpansVs(newDocs: DataFrame,
                                           registry: DataFrame,
                                           k: Int): DataFrame = {
    // the window frame feeds two consumers (digest aggregate, positional
    // join) — materializing beats recomputing: measured r15 at sf0.1,
    // skipping this checkpoint cost +25% on the one-shot and +15% on the
    // streaming form (two window hash passes lose to one pass + a
    // (doc_id, pos, 16B) block-store round trip)
    val win = spanWindows(newDocs, k).materialized
    removeSpansCore(newDocs, win, batchSpanAgg(win), registry, k)
  }

  /** One streaming step: rewrite the batch against `registry` AND return
    * the advanced registry, sharing ONE materialized window pass and ONE
    * digest aggregate between the two — the merge costs a small
    * digest-keyed fold instead of re-scanning and re-hashing the batch's
    * text (which is what merging via [[spanRegistryMerge]] after a
    * separate rewrite paid). Both returned frames depend only on
    * materialized inputs, so the caller may evaluate them after its
    * micro-batch completes. */
  private[graft] def removeRepeatedSpansAndAdvance(
      newDocs: DataFrame, registry: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val win = spanWindows(newDocs, k).materialized
    val agg = batchSpanAgg(win).materialized
    (removeSpansCore(newDocs, win, agg, registry, k),
      spanRegistryMergeFromAgg(registry, agg))
  }

  /** Fold a batch digest aggregate into a registry frame — keeper = min,
    * ndocs = sum (disjoint doc sets) — as a digest-keyed FULL OUTER join
    * rather than union + re-aggregate: against a digest-bucketed
    * [[SpanStore]] scan the store side satisfies the join distribution
    * from its layout (zero store-side exchange), and the join's output
    * ordering lets the advanced registry land back in bucketed files
    * without an extra sort. */
  private def spanRegistryMergeFromAgg(registry: DataFrame,
                                       batchAgg: DataFrame): DataFrame =
    registry.select(col("s"), col("keeper").as("okeep"), col("ndocs").as("ond"))
      .join(batchAgg, Seq("s"), "full_outer")
      .select(col("s"),
        least(coalesce(col("okeep"), col("bkeep")),
          coalesce(col("bkeep"), col("okeep"))).as("keeper"),
        (coalesce(col("ond"), lit(0L)) + coalesce(col("bnd"), lit(0L))).as("ndocs"))

  /** Fold a new drop's window digests into a registry frame: keeper =
    * min, ndocs = sum (disjoint doc sets). Shared by [[spanStoreAdvance]]
    * and the streaming registry handoff. */
  private[graft] def spanRegistryMerge(registry: DataFrame, newDocs: DataFrame,
                                       k: Int): DataFrame =
    spanRegistryMergeFromAgg(registry,
      batchSpanAgg(spanWindows(newDocs, k)))

  /** Empty span registry frame — the streaming cold start. */
  private[graft] def emptySpanRegistry(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("s", BinaryType),
        StructField("keeper", LongType),
        StructField("ndocs", LongType))))

  /** ADVANCE a span store by one corpus drop and publish under
    * `newCorpusKey` (build-once, atomic rename): merged registry =
    * digest-keyed fold of the stored rows with the batch's — keeper =
    * min, ndocs = sum (doc sets disjoint by the drop contract), so the
    * advanced store is EXACTLY the registry a full rebuild over
    * old ∪ batch would produce (`dedup_span_store_advance`'s oracle),
    * at batch-scan + registry-merge cost — old text never read. */
  def spanStoreAdvance(store: SpanStore, newDocs: DataFrame, k: Int,
                       newCorpusKey: String): SpanStore = {
    val spark = newDocs.sparkSession
    val path = storePath(spark, s"$newCorpusKey#spanstore:$SpanLayoutVersion", k, 0.0)
    publishIfAbsent(spark, path) { tmp =>
      writeSpanRegistry(spark, spanRegistryMerge(store.spans, newDocs, k), tmp)
    }
    SpanStore(spark, path.toString)
  }

  val MinHashK = MinHashKernel.K
  val Bands = 8
  val RowsPerBand = 4 // MinHashK / Bands

  /** k MinHash values: sig(i) = min over shingles of md5(i + ":" + shingle).
    * Hex-string min — lexicographic order on lowercase hex is consistent
    * across engines. Column form (nested HOFs, interpreted) — kept for
    * column-level composition; the pipeline uses [[minHashSignatures]]. */
  def minHashSignature(text: Column, n: Int): Column = {
    val sh = TextOps.shingles(text, n)
    transform(sequence(lit(0), lit(MinHashK - 1)),
      i => array_min(transform(sh,
        s => md5(concat(i.cast(StringType), lit(":"), s).cast(BinaryType)))))
  }

  /** One [[MinHashKernel]] struct `k` per input row with at least one
    * shingle: (doc_id, k = struct<nsh, sig, dg>). Null text and texts of
    * fewer than n tokens have no shingles and drop out, as they do from
    * the relational shingle index. */
  private def kernel(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), MinHashKernel.document(col("text"), n).as("k"))
      .where(col("k").isNotNull)

  /** Per-document MinHash signatures (doc_id, sig): the kernel's one pass
    * per document, then a per-position min per doc_id (map-side partial),
    * which folds rows sharing a doc_id into the signature of their pooled
    * shingles — the identity when doc_ids are unique. The shuffle carries
    * one k-vector per document regardless of document length. */
  def minHashSignatures(docs: DataFrame, n: Int): DataFrame = {
    val mins = (0 until MinHashK).map(i =>
      min(element_at(col("k.sig"), i + 1)).as(s"h$i"))
    kernel(docs, n)
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), sigArray)
  }

  /** The kernel frame of [[corpusDedup]] and its evals, one row per
    * doc_id, materialized: (doc_id, k = struct<nsh, sig, dg>). Rows
    * sharing a doc_id are folded by [[MinHashKernel.merge]] into the
    * multiset the relational index builds for them (sizes add, digest
    * lists concatenate, signatures take the element-wise min), so a
    * duplicated doc_id keeps the relational formulation's results. */
  private def kernelFrame(docs: DataFrame, n: Int): DataFrame =
    kernel(docs, n)
      .groupBy(col("doc_id"))
      .agg(MinHashKernel.merge(collect_list(col("k"))).as("k"))
      .materialized

  /** (doc_id, sig) of a kernel frame — the candidate generator's input. */
  private def kernelSigs(k: DataFrame): DataFrame =
    k.select(col("doc_id"), col("k.sig").as("sig"))

  /** Exact verify of candidate pairs against a [[kernelFrame]]: both
    * sides join the kernel frame, [[MinHashKernel.overlap]]
    * merge-intersects the two sorted digest lists, and pairs sharing no
    * shingle drop out. Output: (a, b, jaccard, siga, sigb); unused
    * signature columns are pruned. */
  private def kernelVerify(cand: DataFrame, k: DataFrame): DataFrame = {
    val side = k.select(col("doc_id"), col("k.nsh").as("nsh"),
      col("k.dg").as("dg"), col("k.sig").as("sig"))
    cand
      .join(side.as("ka"), col("a") === col("ka.doc_id"))
      .join(side.as("kb"), col("b") === col("kb.doc_id"))
      .select(col("a"), col("b"),
        MinHashKernel.overlap(col("ka.dg"), col("kb.dg")).as("common"),
        col("ka.nsh").as("nsh_a"), col("kb.nsh").as("nsh_b"),
        col("ka.sig").as("siga"), col("kb.sig").as("sigb"))
      .where(col("common") > 0)
      .select(col("a"), col("b"),
        (col("common").cast(DoubleType) /
          (col("nsh_a") + col("nsh_b") - col("common"))).as("jaccard"),
        col("siga"), col("sigb"))
  }

  /** Signature-estimated Jaccard: share of equal MinHash positions. */
  private def estJaccard(siga: Column, sigb: Column): Column =
    size(filter(sequence(lit(0), lit(MinHashK - 1)),
      i => element_at(siga, i + lit(1)) === element_at(sigb, i + lit(1))))
      .cast(DoubleType) / lit(MinHashK.toDouble)

  /** (doc_id, band, bkey) band keys from MinHash signatures. Band key =
    * md5 of the band's r signature values joined with '|'. */
  def bandKeys(sigd: DataFrame): DataFrame =
    sigd.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(Bands - 1)),
        j => struct(j.as("band"),
          md5(concat_ws("|",
            transform(slice(col("sig"), j * lit(RowsPerBand) + lit(1), lit(RowsPerBand)),
              x => x.cast(StringType)))
            .cast(BinaryType)).as("bkey")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** A band bucket with more than this many members contributes occ²/2
    * candidate pairs from ONE key — the quadratic term that sinks LSH on
    * template/boilerplate-heavy corpora (a crawl's 10⁶-copy footer makes
    * 5·10¹¹ pairs in a single bucket). Buckets past the cap are dropped
    * from candidate generation: their members are near-certainly an
    * exact-duplicate cohort, which the md5-identity pass ([[exact]])
    * catches without any pair join — compose exact-dedup FIRST and the
    * cap costs recall only for similar-but-not-identical docs whose
    * EVERY collision band is oversized. 10,000 caps a bucket's
    * contribution at 5·10⁷ pairs while sitting orders of magnitude above
    * any bucket the declared corpora produce (observed max occupancy: 4
    * at sf0.1; 590 on the adversarial canonicalized-decade corpus). */
  val BandBucketCap = 10000

  /** LSH band candidate pairs (a < b, distinct) from MinHash signatures
    * (doc_id, sig) with one row per doc_id — the one generator shared by
    * [[corpusDedup]], [[minHashPairs]], [[minHashEstVsExact]],
    * [[lshRecallCurve]] and [[dedupStore]].
    *
    * Each (doc, band) row carries the band's [[RowsPerBand]] = 4 signature
    * values packed exactly into two longs (each value is < 2^31), and ONE
    * aggregate groups them into buckets: (band, k1, k2, occ, ids). Two
    * documents share a bucket iff their band values are equal — the
    * bucket relation of [[bandKeys]]' md5 `bkey`, without the hash.
    * Buckets above `maxBucket` ([[BandBucketCap]]) are dropped, then each
    * remaining bucket streams its member pairs ([[MinHashKernel.bucketPairs]])
    * and `distinct` folds pairs found in several bands. No window and no
    * self-join: one exchange of ~24 B per (doc, band) row, one of the
    * pairs. A bucket's ids are collected by [[MinHashKernel.bucketIds]],
    * which drops them as soon as the bucket's occupancy passes the cap,
    * so a flooded bucket holds at most `maxBucket` ids however large its
    * cohort. */
  def minHashCandidates(sigd: DataFrame,
                        maxBucket: Int = BandBucketCap,
                        observeCap: Boolean = true): DataFrame = {
    def v(i: Int) = element_at(col("sig"), i + 1)
    val banded = sigd.select(col("doc_id"),
        explode(array((0 until Bands).map { j =>
          val r = j * RowsPerBand
          struct(lit(j).as("band"),
            shiftleft(v(r), 31).bitwiseOR(v(r + 1)).as("k1"),
            shiftleft(v(r + 2), 31).bitwiseOR(v(r + 3)).as("k2"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.*"))
    val buckets = banded.groupBy(col("band"), col("k1"), col("k2"))
      .agg(MinHashKernel.bucketIds(col("doc_id"), maxBucket).as("bk"))
      .select(col("band"), col("k1"), col("k2"), col("bk.occ").as("occ"), col("bk.ids").as("ids"))
    // the cap carries the shared CapMetrics observation by default
    // (binding drop counts + loud collapse detection, incl. AQE's
    // empty-relation pruning of the metric node itself), weighted by
    // occupancy so it still counts (doc, band) rows, and observed before
    // the singleton filter. `observeCap = false` keeps an opt-out for
    // metric-averse callers; the uncapped path has no observation, no
    // listener and no metric name
    val kept =
      if (maxBucket == Int.MaxValue) buckets
      else {
        val metered =
          if (!observeCap) buckets
          else {
            CapMetrics.ensureListener(sigd.sparkSession)
            CapMetrics.observed(buckets, col("occ"), maxBucket, weight = col("occ"))
          }
        metered.where(col("occ") <= maxBucket)
      }
    kept.where(col("occ") >= 2)
      .select(MinHashKernel.bucketPairs(col("ids")))
      .distinct()
  }

  /** The maintenance-side occupancy window, O(batch) in exchange volume:
    * the incremental candidate join is batch-side × all-side on
    * (band, bkey), so only buckets the BATCH TOUCHES can ever emit a
    * candidate — the stored band index is restricted to those buckets by
    * a broadcast left-semi join against the batch's distinct bucket set
    * (batch-sized by construction: ≤ [[Bands]] · |batch| keys) BEFORE the
    * [[BandBucketCap]] occupancy window runs. The semi-join keeps whole
    * buckets, so occupancy over (touched stored rows ∪ batch rows) is
    * still FULL-corpus occupancy inside every touched bucket and the cap
    * binds exactly as a one-shot run would; untouched buckets simply
    * never enter the exchange. Net per-batch window cost: O(batch-touched
    * rows), independent of stored-index size — the stored scan itself is
    * a broadcast-filtered projection, never a corpus-wide shuffle.
    * (The HBase analog the store imitates consults META per write; it
    * never re-aggregates META — BulkImporterFromText.java:105-111.)
    *
    * BROADCAST BOUND — the build side is ≤ [[Bands]] · |batch| rows of
    * (int band, fixed-width bkey digest) ≈ 40 B/row: a 1M-doc
    * maintenance batch broadcasts ≤ ~[[Bands]]·40 MB, within executor
    * memory but ABOVE the default 10 MB autoBroadcast threshold — which
    * is fine, an explicit broadcast() hint ignores the threshold; the
    * operational ceiling is driver/executor heap (~8 GB ≈ 200M batch
    * docs). The documented maintenance posture is one drop at a time
    * (the CLI advance path), far below that; a drop large enough to
    * threaten the bound should be split into multiple advances, NOT fed
    * through a shuffled semi-join — a shuffle here re-exchanges the
    * stored index and forfeits the O(batch) property this join exists
    * to provide (the executed-plan spec pins the broadcast form). */
  private def touchedBandsWithCap(bandsNew: DataFrame,
                                  bandsOld: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val touched = bandsNew.select(col("band"), col("bkey")).distinct()
    bandsOld
      .join(broadcast(touched), Seq("band", "bkey"), "left_semi")
      .unionByName(bandsNew)
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .where(col("occ") <= BandBucketCap)
      .drop("occ")
  }

  /** INCREMENTAL near-dup detection — the operational form of corpus
    * dedup at 100 TB: a new batch is checked against the EXISTING corpus
    * without ever touching the existing corpus' text again. The corpus is
    * represented by its persisted signature index ([[minHashSignatures]]
    * output — k longs per document, ~0.1% of corpus bytes); each
    * incoming batch computes its own signatures, band-joins against
    * index ∪ batch, and emits every near-dup pair with at least one NEW
    * side (new-vs-old contamination and new-vs-new dups in one pass).
    *
    * Per-batch cost: |batch| signature passes + a band equi-join whose
    * left side is batch-sized — independent of corpus text size; the
    * index side shuffles band keys only (fixed-width digests). Equals
    * `minHashPairs(existing ∪ new)` restricted to pairs touching a new
    * doc (band collision is symmetric), which is exactly the declared
    * oracle. Output: (a, b, est_jaccard), a < b. */
  def incrementalMinHashPairs(newDocs: DataFrame, index: DataFrame,
                              n: Int, minEst: Double): DataFrame =
    // materialize the batch signatures once: the band join reads them on
    // both sides and the estimate re-attaches them twice more — without
    // this the full shingle+hash pipeline of the batch runs ~4x
    incrementalMinHashPairsFromSigs(
      minHashSignatures(newDocs, n).materialized, index, minEst)

  /** [[incrementalMinHashPairs]] from ALREADY-COMPUTED batch signatures —
    * the entry point for callers that also need the signatures afterwards
    * (e.g. to merge them into the index: the streaming form computes them
    * exactly once per batch). `newSig` should be materialized. */
  def incrementalMinHashPairsFromSigs(newSig: DataFrame, index: DataFrame,
                                      minEst: Double): DataFrame = {
    val allSig = index.union(newSig)
    // the probe target carries the same [[BandBucketCap]] occupancy guard
    // as every batch generator — an oversized bucket (boilerplate cohort)
    // would otherwise cost |batch|·occ join rows per band — restricted to
    // batch-touched buckets ([[touchedBandsWithCap]]): the index side is
    // a broadcast-filtered projection, never an index-wide window
    val bandsNew = bandKeys(newSig)
    val bandsAll = touchedBandsWithCap(bandsNew, bandKeys(index))
    val cand = bandsNew.as("x").join(bandsAll.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
    cand
      .join(allSig.select(col("doc_id").as("a"), col("sig").as("siga")), "a")
      .join(allSig.select(col("doc_id").as("b"), col("sig").as("sigb")), "b")
      .select(col("a"), col("b"),
        estJaccard(col("siga"), col("sigb")).as("est_jaccard"))
      .where(col("est_jaccard") >= minEst)
  }

  /** LSH candidate pairs + signature-estimated Jaccard.
    * Output: (a, b, est_jaccard = |equal minhash positions| / k), filtered
    * to est >= minEst. */
  def minHashPairs(docs: DataFrame, n: Int, minEst: Double): DataFrame = {
    val sigd = minHashSignatures(docs, n)
    val cand = minHashCandidates(sigd)
    cand
      .join(sigd.select(col("doc_id").as("a"), col("sig").as("siga")), "a")
      .join(sigd.select(col("doc_id").as("b"), col("sig").as("sigb")), "b")
      .select(col("a"), col("b"),
        estJaccard(col("siga"), col("sigb")).as("est_jaccard"))
      .where(col("est_jaccard") >= minEst)
  }

  /** Sketch-accuracy eval: every [[minHashPairs]] pair (est ≥ `minEst`)
    * with its signature estimate, TRUE n-gram Jaccard, and the absolute
    * error — the MinHash analogue of the HLL/CMS est-vs-exact rows.
    *
    * ROW-IDENTICAL to `minHashPairs(docs,n,minEst) ⋈_{a,b}
    * corpusDedup(docs,n,0.0)` but ONE pipeline instead of two: the
    * [[corpusDedup]] kernel frame, candidates and verify, with the
    * estimate read from the signatures the verify join already carries.
    * The join kept exactly {(a,b) ∈ candidates : est ≥ minEst ∧ common
    * ≥ 1} (pairs sharing no shingle never verify), which is what the
    * verify filter and the est filter keep here. */
  def minHashEstVsExact(docs: DataFrame, n: Int, minEst: Double): DataFrame = {
    val k = kernelFrame(docs, n)
    kernelVerify(minHashCandidates(kernelSigs(k)), k)
      .select(col("a"), col("b"), col("jaccard"),
        estJaccard(col("siga"), col("sigb")).as("est_jaccard"))
      .where(col("est_jaccard") >= minEst)
      .select(col("a"), col("b"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        round(col("jaccard"), 6).as("exact_jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
  }

  /** The flagship corpus-dedup composition: MinHash-LSH candidate
    * generation + EXACT n-gram Jaccard verification restricted to candidate
    * pairs. Output: (a, b, jaccard), a < b, jaccard >= threshold (exact,
    * not signature-estimated).
    *
    * Per-document kernel, not a shingle-grain plan: ONE text pass
    * ([[MinHashKernel]]) gives every document its shingle count, its
    * MinHash signature and its sorted shingle digests, and that frame is
    * materialized once. Candidates come from [[minHashCandidates]]
    * (exact-band buckets, one aggregate, [[BandBucketCap]]); the verify
    * joins each candidate pair to the kernel frame on both sides and
    * merge-intersects the two digest lists ([[MinHashKernel.overlap]]).
    * The quadratic inverted-index join ([[ngramJaccardPairs]]) never runs;
    * no stage is wider than one row per (document, band), and verify cost
    * is O(|candidates| · shingles/doc), independent of corpus size.
    *
    * Rows are identical to the relational formulation this replaced
    * (shingle-grain digest index, [[digestSignatures]], windowed band
    * self-join, [[exactVerify]]; `MinHashKernelSpec` keeps it as the
    * reference): same tokenization, same md5 digests, same signatures,
    * same bucket relation and cap, same Jaccard expression — including
    * its multiset semantics for rows that share a doc_id
    * ([[kernelFrame]]). At cluster scale, swap the local checkpoint for
    * a persisted one (`graft.fixpoint.dir`). */
  def corpusDedup(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val k = kernelFrame(docs, n)
    kernelVerify(minHashCandidates(kernelSigs(k)), k)
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** The shared exact-Jaccard verify tail of every corpus-dedup form:
    * fan each candidate pair over the digest index on both sides, count
    * common digests, compute exact Jaccard from the pre-aggregated set
    * sizes. Cost O(|cand| · shingles/doc) — never corpus². */
  private def exactVerify(cand: DataFrame, sh: DataFrame, sz: DataFrame,
                          threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("a"), col("s")), "a")
      .join(sh.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        (col("common").cast(DoubleType) /
          (col("sa.nsh") + col("sb.nsh") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** INCREMENTAL [[corpusDedup]] — the pair generation for STORE
    * MAINTENANCE: exact-verified near-dup pairs restricted to those
    * TOUCHING a new document drop (new-vs-old and new-vs-new), never
    * re-pairing the existing corpus with itself. Combined with the
    * stored assignment's star edges, the component structure of
    * (old assignment ∪ these pairs) provably equals a full recompute:
    * old-old pairs connect exactly what the stored assignment already
    * connects, so only pairs with a new endpoint can change anything.
    *
    * Scale shape: the old side contributes its shingle DIGEST index and
    * signatures (~24 B/shingle + k longs/doc — the persisted companion
    * index a production store keeps beside the assignment; recomputed
    * here from text because the declared queries are self-contained).
    * The band join is new-side × all-side with the [[BandBucketCap]]
    * occupancy guard on the all side; exact verify fans only the
    * surviving touching pairs over the digest index — O(|new batch|)
    * band rows on the probe side, independent of corpus size.
    * Output: (a, b, jaccard), a < b, jaccard >= threshold.
    *
    * The incremental and store paths ([[incrementalCorpusDedup]],
    * [[incrementalCorpusDedupStored]], [[dedupStore]],
    * [[dedupStoreAdvance]], [[capCrossings]]) keep the relational
    * shingle-grain index and its persisted format — digest rows, signature
    * rows, md5 band keys — rather than the [[corpusDedup]] kernel; their
    * pairs are the same, and a stored index stays readable. */
  def incrementalCorpusDedup(newDocs: DataFrame, oldDocs: DataFrame,
                             n: Int, threshold: Double): DataFrame = {
    def digests(docs: DataFrame) = shingleIndex(docs, n)
      .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
      .materialized
    val shOld = digests(oldDocs)
    val sigOld = digestSignatures(shOld)
    incrementalFromIndex(newDocs, shOld,
      sigOld.select(col("doc_id"), sigArray, col("nsh")),
      bandKeys(sigOld.select(col("doc_id"), sigArray)), n, threshold)
  }

  /** [[incrementalCorpusDedup]] probing a PERSISTED companion index — the
    * production maintenance path: the old corpus contributes ONLY its
    * stored artifacts (digest index, signatures+sizes, band keys), so a
    * maintenance batch never re-reads or re-shingles old text. The store
    * is built once per corpus drop by [[dedupStore]]; per-batch cost is
    * |batch| signature passes + a batch-sized band probe + a verify
    * restricted to touching pairs' digest rows. Bucket occupancy is
    * re-computed over stored ∪ batch rows of batch-TOUCHED buckets only
    * ([[touchedBandsWithCap]] — a broadcast semi-join keeps whole
    * buckets, so the [[BandBucketCap]] still binds at FULL-corpus
    * occupancy while the exchange stays O(batch), never O(stored index)).
    *
    * Equivalence scope (full recompute ≡ stored-assignment ∪ this): exact
    * as long as no band bucket CROSSES the cap between drops — a bucket
    * capped only once the batch lands can retroactively invalidate
    * old-old pairs the stored assignment already connected; detect that
    * regime with [[capCrossings]] and rebuild the affected drop. */
  def incrementalCorpusDedupStored(newDocs: DataFrame, store: DedupStore,
                                   n: Int, threshold: Double): DataFrame =
    incrementalFromIndex(newDocs, store.digests,
      store.signatures, store.bands, n, threshold)

  /** Shared maintenance core: exact-verified near-dup pairs touching a
    * new doc, with the old side supplied as INDEX FRAMES (from a live
    * computation or a persisted store — never text). */
  private def incrementalFromIndex(newDocs: DataFrame, shOld: DataFrame,
                                   sigOld: DataFrame, bandsOld: DataFrame,
                                   n: Int, threshold: Double): DataFrame = {
    val shNew = shingleIndex(newDocs, n)
      .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
      .materialized
    val sigNew = digestSignatures(shNew).materialized
    incrementalPrepared(shNew, sigNew,
      bandKeys(sigNew.select(col("doc_id"), sigArray)),
      shOld, sigOld, bandsOld, threshold)
  }

  /** [[incrementalFromIndex]] with the new-batch index frames ALREADY
    * computed — the entry point for callers that also persist them
    * ([[dedupStoreAdvance]] derives the batch index exactly once for
    * both the merged store write and the touching-pair probe).
    * `sigNew` carries the h0..h(k-1)/nsh aggregate columns. */
  private def incrementalPrepared(shNew: DataFrame, sigNew: DataFrame,
                                  bandsNew: DataFrame, shOld: DataFrame,
                                  sigOld: DataFrame, bandsOld: DataFrame,
                                  threshold: Double): DataFrame = {
    val bandsAll = touchedBandsWithCap(bandsNew, bandsOld)
    val cand = bandsNew.as("x")
      .join(bandsAll.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
    val sh = shNew.unionByName(shOld)
    val sz = sigNew.select(col("doc_id"), col("nsh"))
      .unionByName(sigOld.select(col("doc_id"), col("nsh")))
    exactVerify(cand, sh, sz, threshold)
  }

  /** Band buckets that CROSS [[BandBucketCap]] only once `newDocs` land —
    * the one regime where stored-assignment ∪ incremental pairs can
    * over-connect relative to a full recompute (the stored old-old pairs
    * were generated under old-only occupancies). Empty output = the
    * incremental result is exactly the full recompute; non-empty names
    * the buckets whose member docs need a rebuild. Cost: two band-keyed
    * aggregates, no text reads. Output: (band, bkey, occ_old, occ_all). */
  def capCrossings(newDocs: DataFrame, store: DedupStore, n: Int,
                   cap: Int = BandBucketCap): DataFrame = {
    val sigNew = digestSignatures(
      shingleIndex(newDocs, n)
        .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s")))
    val bandsNew = bandKeys(sigNew.select(col("doc_id"), sigArray))
    val occOld = store.bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("occ_old"))
    val occNew = bandsNew.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("occ_new"))
    occOld.join(occNew, Seq("band", "bkey"))
      .select(col("band"), col("bkey"), col("occ_old"),
        (col("occ_old") + col("occ_new")).as("occ_all"))
      .where(col("occ_old") <= cap && col("occ_all") > cap)
  }

  /** MinHash signature aggregate over a checkpointed digest index
    * (doc_id, s = 16-byte md5): the k universal-hash minima per doc over
    * the digest's 7-hex-char prefix, FUSED with the shingle-set size —
    * one doc_id exchange serves candidate generation and exact verify.
    * The relational form behind the incremental and store paths (whose
    * persisted digest index it reads); its values equal the
    * [[MinHashKernel]] signature and size bit for bit. */
  private def digestSignatures(sh: DataFrame): DataFrame = {
    val hashMins = (0 until MinHashK).map { i =>
      val (a, b) = (MinHashKernel.hashConstant(s"a$i"), MinHashKernel.hashConstant(s"b$i"))
      min(pmod(col("base") * lit(a) + lit(b), lit(MinHashKernel.Prime))).as(s"h$i")
    }
    sh.withColumn("base", conv(substring(hex(col("s")), 1, 7), 16, 10).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(hashMins.head, (hashMins.tail :+ count(lit(1)).as("nsh")): _*)
  }

  /** The h0..h(k-1) signature columns re-assembled as one array column. */
  private def sigArray: Column =
    array((0 until MinHashK).map(i => col(s"h$i")): _*).as("sig")

  /** LSH parameter-tuning evaluation: recall of the banded MinHash
    * candidate generator against EXACT n-gram Jaccard truth, per Jaccard
    * decile (capped at band 9) — the S-curve a dedup stack checks before
    * committing band/row parameters. The exact truth join is EVAL-ONLY
    * (quadratic in shingle df; the production path stays
    * candidate-restricted — [[corpusDedup]]).
    *
    * `samplePermille < 1000` bounds the quadratic truth side: the eval
    * runs over a DETERMINISTIC md5-sampled doc subset (doc_id's md5
    * prefix mod 1000 < samplePermille — no seed state, every engine
    * selects the same docs), with the same banding over the same subset,
    * so the per-decile recall estimate keeps the S-curve's shape while
    * truth cost drops quadratically in the sample rate. An eval that is
    * quadratic in the corpus would not run at all at eval-scale corpora;
    * the sample size rides in the output (`n_docs_sampled`) so a reader
    * can judge the estimate's resolution.
    *
    * The candidates are exactly what [[corpusDedup]] generates: the same
    * kernel frame (which also supplies the set sizes) and the same
    * [[minHashCandidates]]. The truth side is independent of that path — the
    * relational digest index's inverted self-join — and is checkpointed
    * once for the totals and the candidate semi-join.
    * Output: (sim_band, n_true, n_hit, recall, n_docs_sampled). */
  def lshRecallCurve(docs: DataFrame, n: Int, minJaccard: Double,
                     samplePermille: Int = 1000): DataFrame = {
    require(0 < samplePermille && samplePermille <= 1000,
      "samplePermille must be in (0, 1000]")
    val sampled =
      if (samplePermille >= 1000) docs
      else docs.where(
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
          .cast(LongType) % 1000 < samplePermille)
    val nSampled = sampled.agg(count(lit(1)).as("n_docs_sampled"))
    // the PRODUCTION kernel frame and generator — sharing them is the
    // point: the eval must measure the generator corpusDedup actually runs
    val k = kernelFrame(sampled, n)
    val cand = minHashCandidates(kernelSigs(k))
    val sz = k.select(col("doc_id"), col("k.nsh").as("nsh"))
    val sh = shingleIndex(sampled, n)
      .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
      .materialized
    val truth = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), (col("common").cast(DoubleType) /
        (col("sa.nsh") + col("sb.nsh") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"),
        least(floor(round(col("jaccard"), 6) * 10), lit(9)).cast("int").as("sim_band"))
      .materialized
    val hits = truth.join(cand, Seq("a", "b"), "left_semi")
      .groupBy(col("sim_band")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("sim_band")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("sim_band"), "left")
      .select(col("sim_band"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_true"), 6).as("recall"))
      .crossJoin(broadcast(nSampled)) // 1-row scalar, documented pattern
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * pairwise similarity into the dedup decision (one KEEPER per cluster).
    * Output: (doc_id, cluster_id) for every doc appearing in `pairs`,
    * cluster_id = smallest doc_id reachable through the pair graph (so the
    * representative is canonical and deterministic).
    *
    * Hash-min label propagation: every iteration each node takes the min
    * of its own label and its neighbors' labels; converges in
    * graph-diameter iterations. Near-dup graphs are clique-ish (every
    * member of a dup group pairs with most others), so the diameter — and
    * the iteration count — is small and independent of corpus size; each
    * iteration is one equi-join + min-agg, all executor-side, and
    * `localCheckpoint` truncates the growing lineage. The driver holds
    * only the per-iteration change COUNT, never row data. */
  /** Storage strategy for fixpoint intermediates. `LocalCheckpoint` pins
    * blocks to executor storage — fastest, but a lost executor kills the
    * lineage-truncated dataset, so long cluster runs should use
    * `ReliableCheckpoint(hdfsDir)` to land iteration state on durable
    * storage instead (survives executor loss; one write per iteration of
    * one label row per node).
    *
    * `SessionDefault` (the default everywhere) resolves from the session:
    * when `graft.fixpoint.dir` is set (SparkConf or `spark.conf.set`),
    * every materialization in the engine — fixpoint loops, multi-consumer
    * frames, incremental indexes — lands there as a reliable checkpoint;
    * unset means `LocalCheckpoint`. One conf line is the cluster
    * deployment's durability switch; local runs need nothing. */
  sealed trait FixpointStorage
  case object SessionDefault extends FixpointStorage
  case object LocalCheckpoint extends FixpointStorage
  final case class ReliableCheckpoint(dir: String) extends FixpointStorage

  /** The `graft.fixpoint.dir`-aware materializer for single-frame call
    * sites (checkpoint-once shared frames, streaming index state). */
  private[graft] def materialize(df: DataFrame): DataFrame =
    materializeFixpoint(df, SessionDefault)

  /** [[materialize]] as postfix syntax (`df.materialized`) so
    * checkpoint-once sites keep their operator-chain shape. */
  private[graft] implicit class MaterializeSyntax(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Dedup.materialize(df)
  }

  private[graft] def materializeFixpoint(df: DataFrame, storage: FixpointStorage): DataFrame =
    storage match {
      case SessionDefault =>
        df.sparkSession.conf.getOption("graft.fixpoint.dir").filter(_.nonEmpty) match {
          case Some(dir) => materializeFixpoint(df, ReliableCheckpoint(dir))
          case None      => materializeFixpoint(df, LocalCheckpoint)
        }
      case LocalCheckpoint => df.localCheckpoint()
      case ReliableCheckpoint(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir appends a UUID subdir — only (re)set when the
        // current dir is not already under the requested root
        if (!sc.getCheckpointDir.exists(_.startsWith(dir))) sc.setCheckpointDir(dir)
        df.checkpoint()
    }

  /** HARD BACKSTOP on cheap min-label propagation rounds in [[clusters]]
    * (any component of eccentricity ≤ 7 resolves inside it). Since
    * round 17 the primary escalation trigger is ADAPTIVE — the
    * changed-count decay stall test [[ccStalled]] — so chain-grade
    * graphs escalate at round ~2-3 instead of paying all 8 light
    * rounds; this constant only bounds the pathological middle (decay
    * hovering just under the stall floor). */
  private[graft] val CcEscalateAfterRounds = 8

  /** Adaptive escalation trigger for [[clusters]]: propagation has
    * STALLED when a round retires less than 30% of the previous round's
    * changed labels (changed/prev > 0.7, integer form so the decision
    * is engine-exact) AND the residual is big enough to be worth a
    * contraction ([[CcStallChangedFloor]]). Blocky components decay
    * geometrically (ratio ≈ 0 by round 2-3) and simply converge; a
    * chain-grade component changes ~constant labels per round
    * (ratio ≈ 1), which this test catches at round 2 — 6 light rounds
    * earlier than the fixed budget, each of them a full corpus-edge
    * join on the decade corpus's chained component. Round 1 is always
    * paid: its changed count IS the baseline.
    *
    * The floor exists because a stalled changed of C bounds the
    * remaining light rounds by ~C (the moving frontier is the set of
    * nodes whose component-min is still > k hops away; it retires at
    * least its farthest member every round) — the round-17 in-session
    * A/B caught the floorless rule firing star contraction on a 2-label
    * residual that two more cheap rounds would have finished. Outputs
    * are escalation-time-independent (min-id per component is
    * algorithm-independent; AnalyticsLayoutSpec pins star ≡ propagation
    * equality), so the adaptive trigger can only move COST, never
    * values. */
  private[graft] def ccStalled(round: Int, changed: Long,
                               prevChanged: Long): Boolean =
    round >= 2 && changed >= CcStallChangedFloor &&
      changed * 10L > prevChanged * 7L

  /** Smallest stalled residual worth a star-contraction escalation: at
    * ~0.2-0.4 s per light round and ~3-4 heavier contraction rounds,
    * the breakeven sits at a handful of remaining rounds — below it,
    * finishing the propagation is strictly cheaper. */
  private[graft] val CcStallChangedFloor = 8L

  /** Connected components over an irreflexive near-dup pair list:
    * (doc_id, cluster_id = min id reachable) for every node appearing in
    * an edge.
    *
    * HYBRID algorithm (r16): min-label propagation for up to
    * [[CcEscalateAfterRounds]] rounds — each round is one
    * edge-stationary equi-join + a map-side-combinable min (the edge
    * list is hash-partitioned by the join key ONCE and never moves
    * again) — then, if not yet converged, escalation to
    * [[GraphOps.connectedComponentsStar]] (O(log diameter) rounds,
    * heavier per round). Propagation alone pays component-ECCENTRICITY
    * rounds (measured: 107 rounds ≈ 30 s on the decade corpus's
    * chained 10k-edge component); star contraction alone pays its
    * heavier round on the blocky graphs that converge in 2–4 light
    * rounds (measured: +~1.5 s/query across the dedup bench family).
    * The hybrid is the min of both regimes, and the escalation
    * threshold is deterministic, so outputs stay engine-reproducible:
    * min-id per component is algorithm-independent on irreflexive
    * inputs (AnalyticsLayoutSpec pins star ≡ propagation equality), and
    * every declared pair generator emits strict a < b pairs. */
  def clusters(pairs: DataFrame,
               storage: FixpointStorage = SessionDefault): DataFrame = {
    // materialize the edge list ONCE — without this every fixpoint
    // iteration re-runs the upstream pair pipeline (LSH + verify) from
    // scratch inside its join. The undirected doubling is an explode of a
    // 2-element struct array, NOT a union of two selects: each union
    // branch would evaluate the (expensive) upstream pair pipeline once
    // per branch. Partitioned by the JOIN key before the checkpoint:
    // hashpartitioning(b) survives materialization, so each iteration's
    // equi-join exchanges only the label rows — the (usually much larger)
    // edge list never moves again.
    val und = materializeFixpoint(pairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .repartition(col("b")), storage)
    var labels = materializeFixpoint(und.select(col("a").as("id")).distinct()
      .withColumn("cluster_id", col("id")), storage)
    var changed = 1L
    var prevChanged = Long.MaxValue
    var stalled = false
    var round = 0
    // session off-switch for the adaptive trigger (measurement harness +
    // deployment escape hatch); the 8-round backstop always stands
    val adaptive =
      pairs.sparkSession.conf.get("graft.cc.adaptive", "true").toBoolean
    while (changed > 0 && !stalled && round < CcEscalateAfterRounds) {
      round += 1
      val nbrMin = und
        .join(labels.select(col("id").as("b"), col("cluster_id")), "b")
        .groupBy(col("a")).agg(min(col("cluster_id")).as("nbr_min"))
      // convergence flag computed INLINE (the old label is already in the
      // row) — a join-based next-vs-old compare would cost an extra
      // shuffle per iteration just to count changes
      val next = materializeFixpoint(labels
        .join(nbrMin.withColumnRenamed("a", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id")).as("chg")),
        storage)
      changed = next.where(col("chg")).count()
      stalled = adaptive && ccStalled(round, changed, prevChanged)
      prevChanged = changed
      labels = next.select(col("id"), col("cluster_id"))
    }
    if (changed == 0) labels.select(col("id").as("doc_id"), col("cluster_id"))
    else {
      // chain-grade component: contract edges through the labels the
      // light rounds already earned (label(x) is reachable from x, so
      // the contracted graph has the same components over label ids),
      // then finish with log-round star contraction and map back
      System.err.println(s"[graft] clusters: escalating to star contraction " +
        s"after $round propagation rounds (" +
        (if (stalled) s"changed-count decay stalled at $changed"
         else s"light-round budget $CcEscalateAfterRounds exhausted") + ")")
      val contracted = und
        .join(labels.select(col("id").as("a"), col("cluster_id").as("la")), "a")
        .join(labels.select(col("id").as("b"), col("cluster_id").as("lb")), "b")
        .select(col("la").as("a"), col("lb").as("b"))
        .where(col("a") =!= col("b"))
      val roots = GraphOps.connectedComponentsStar(contracted, storage)
        .select(col("doc_id").as("cluster_id"), col("cluster_id").as("root"))
      labels.join(roots, Seq("cluster_id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("root"), col("cluster_id")).as("cluster_id"))
    }
  }

  /** The cluster assignment as a DURABLE ARTIFACT — build-once,
    * serve-many. A production curation run computes
    * [[corpusDedup]]→[[clusters]] ONCE per corpus drop and every
    * consumer (keep-list, quality survivorship, funnel report, audit
    * reads) joins against the stored (doc_id, cluster_id) table; only a
    * bench that declares each query self-contained rebuilds the pair
    * pipeline per read. First call for a given store path computes the
    * fixpoint and persists it (write to a temp dir + atomic rename, so a
    * concurrent reader never sees a half-written store); subsequent
    * calls are ONE parquet read of a corpus-bounded two-column table.
    *
    * The store key is the caller's corpus identity (`corpusKey` — the
    * corpus drop's path, possibly read-only; the store itself lands
    * under the engine's writable store root, `graft.store.dir` or the
    * JVM temp dir, keyed by md5(corpusKey)). The contract is an
    * immutable corpus drop, the same contract HFile bulk loads make: a
    * changed corpus is a NEW drop with a new key.
    *
    * Scale shape: the stored table is ≤1 row per clustered doc (~16
    * B/row); the consumer join is a plain equi-join against it — at
    * 100 TB the store is the only artifact the serving side ever scans,
    * and it can additionally be bucketed by doc_id at write time. */
  def clustersStore(docs: DataFrame, n: Int, threshold: Double,
                    corpusKey: String): DataFrame =
    dedupStore(docs, n, threshold, corpusKey).clusters

  /** Folded into every store key so artifacts persisted by OLDER
    * clustering logic (different k/bands/cap, or a changed algorithm —
    * bump the trailing literal on any such change) can never be served
    * verbatim to newer code: the version changes the key, so the new code
    * simply builds a fresh store.
    *
    * Store FAMILIES version independently: a LAYOUT change scoped to one
    * family bumps that family's version ([[SpanLayoutVersion]] for the
    * span registries), not this shared literal — r15 bumped rev here for
    * the span-bucketing change and needlessly invalidated every MinHash
    * cluster store whose format had not moved (full rebuilds on first
    * use).
    *
    * NEVER REUSE A RETIRED LITERAL: r16 decoupled the span layout by
    * reverting this to rev=2 — but rev=2 had been live before r15, so
    * the key would silently re-admit any store written by pre-r15 rev=2
    * code as current; whether that is safe rests on commit archaeology
    * the key itself cannot enforce. Version literals only move FORWARD:
    * rev=4 gives the same family decoupling (span stores keep
    * [[SpanLayoutVersion]]) while guaranteeing no artifact from any
    * earlier code era can match the key. */
  val StoreAlgoVersion: String =
    s"minhash:k=$MinHashK,b=$Bands,r=$RowsPerBand,cap=$BandBucketCap,rev=4"

  /** The span registries' OWN layout version, folded only into span-store
    * keys: rev=3 is the digest-bucketed per-bucket-sorted fileset
    * (SPAN_BUCKETS sidecar). Future span-layout changes bump THIS, so
    * dedup/cluster stores keep their cached builds. */
  val SpanLayoutVersion: String = "spanlayout:rev=3"

  /** Handle over one persisted dedup store: the cluster assignment plus
    * the COMPANION INDEX a production store keeps beside it (the HBase
    * analog: the region index consulted per write, never rebuilt —
    * BulkImporterFromText.java:105-111 reads boundaries once per job).
    * Every frame is one parquet read; nothing re-derives from text.
    *  - clusters:   (doc_id, cluster_id) — the assignment.
    *  - digests:    (doc_id, s BINARY)   — the shingle md5 index
    *                (~24 B/shingle; at cluster scale bucket by doc_id at
    *                write time so verify joins co-locate for free).
    *  - signatures: (doc_id, sig ARRAY<BIGINT>, nsh) — MinHash k-vector +
    *                shingle-set size (k longs per doc).
    *  - bands:      (doc_id, band, bkey) — LSH band keys, the probe
    *                target for incremental maintenance (occupancy over
    *                stored ∪ batch re-applies [[BandBucketCap]] at
    *                full-corpus occupancy). */
  final case class DedupStore(spark: org.apache.spark.sql.SparkSession,
                              dir: String) {
    def clusters: DataFrame =
      spark.read.schema("doc_id BIGINT, cluster_id BIGINT")
        .parquet(s"$dir/clusters.parquet")
    def digests: DataFrame =
      spark.read.schema("doc_id BIGINT, s BINARY")
        .parquet(s"$dir/digests.parquet")
    def signatures: DataFrame =
      spark.read.schema("doc_id BIGINT, sig ARRAY<BIGINT>, nsh BIGINT")
        .parquet(s"$dir/signatures.parquet")
    def bands: DataFrame =
      spark.read.schema("doc_id BIGINT, band INT, bkey STRING")
        .parquet(s"$dir/bands.parquet")
  }

  /** Build-once, serve-many dedup store (see [[clustersStore]] for the
    * keying/immutability contract): first call for a (corpus drop,
    * params, [[StoreAlgoVersion]]) key computes the digest index ONCE,
    * derives signatures → band keys → capped candidates → exact verify →
    * cluster fixpoint from it, and publishes all four artifacts with ONE
    * atomic rename (a concurrent reader never sees a partial store).
    * Subsequent calls return the handle without touching corpus text. */
  /** Writable store location for a (corpus drop, params) pair — the
    * keying contract shared by [[dedupStore]] and [[dedupStoreAdvance]]:
    * md5(corpusKey | file stamp | params | [[StoreAlgoVersion]]) under
    * the engine's store root (`graft.store.dir` or the JVM temp dir). */
  private def storePath(spark: org.apache.spark.sql.SparkSession,
                        corpusKey: String, n: Int,
                        threshold: Double): org.apache.hadoop.fs.Path = {
    // fold the corpus drop's physical identity (size + mtime of its files)
    // into the key: a regenerated drop at the same path is a NEW drop.
    // An optional '#tag' suffix on corpusKey names a SUBSET of the drop
    // (e.g. "<dir>#old90") — it differentiates the key while the stamp
    // still reads the underlying drop's files
    val stampDir = corpusKey.takeWhile(_ != '#')
    // fail-hard stamp contract shared with the ANN store family — see
    // [[StoreStamp]]: absent table ⇒ opaque key (path-only, logged);
    // any other stamp-read fault ⇒ error, never a silent stale serve
    val stamp = StoreStamp.read(spark, stampDir, "documents.parquet",
      "dedupStore")
    val keyHex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$corpusKey|$stamp|n=$n|thr=$threshold|$StoreAlgoVersion"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val root = sys.props.getOrElse("graft.store.dir",
      sys.props("java.io.tmpdir") + "/graft-cluster-store")
    new org.apache.hadoop.fs.Path(s"$root/$keyHex", "store")
  }

  /** Resolve the PUBLISHED store for a (corpusKey, n, threshold) triple,
    * if one exists — the admin/CLI entry point: a maintenance job names
    * the store it advances FROM by key, without access to the original
    * corpus frame (the key derivation only stats the drop's files). */
  def openStore(spark: org.apache.spark.sql.SparkSession, corpusKey: String,
                n: Int, threshold: Double): Option[DedupStore] = {
    val path = storePath(spark, corpusKey, n, threshold)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) Some(DedupStore(spark, path.toString)) else None
  }

  /** Build-once atomic publish shared by every durable store: when
    * `path` is absent, `write` lands the artifacts in a UUID temp
    * sibling which is renamed in whole. Losing the rename race to a
    * concurrent identical build keeps theirs (the computations are
    * deterministic). ONE implementation of the install protocol — a fix
    * to the rename-failure handling applies to every store at once. */
  private def publishIfAbsent(spark: org.apache.spark.sql.SparkSession,
                              path: org.apache.hadoop.fs.Path)
                             (write: String => Unit): Unit = {
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) {
      fs.mkdirs(path.getParent)
      val tmp = new org.apache.hadoop.fs.Path(path.getParent,
        s"_store_tmp_${java.util.UUID.randomUUID()}")
      write(tmp.toString)
      if (!fs.rename(tmp, path)) fs.delete(tmp, true)
    }
  }

  def dedupStore(docs: DataFrame, n: Int, threshold: Double,
                 corpusKey: String): DedupStore = {
    val spark = docs.sparkSession
    val path = storePath(spark, corpusKey, n, threshold)
    publishIfAbsent(spark, path) { tmp =>
      // ONE text scan: the digest index is computed once, persisted, and
      // every downstream artifact (signatures, bands, candidates, verify,
      // fixpoint) derives from it
      val sh = shingleIndex(docs, n)
        .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
        .materialized
      sh.write.mode("overwrite").parquet(s"$tmp/digests.parquet")
      val sigsz = digestSignatures(sh).materialized
      sigsz.select(col("doc_id"), sigArray, col("nsh"))
        .write.mode("overwrite").parquet(s"$tmp/signatures.parquet")
      bandKeys(sigsz.select(col("doc_id"), sigArray))
        .write.mode("overwrite").parquet(s"$tmp/bands.parquet")
      val cand = minHashCandidates(sigsz.select(col("doc_id"), sigArray))
      val pairs = exactVerify(cand, sh,
        sigsz.select(col("doc_id"), col("nsh")), threshold)
      clusters(pairs.select(col("a"), col("b")))
        .write.mode("overwrite").parquet(s"$tmp/clusters.parquet")
    }
    DedupStore(spark, path.toString)
  }

  /** ADVANCE a dedup store by one corpus drop — the full production
    * maintenance cycle, closing the loop [[incrementalCorpusDedupStored]]
    * opens: compute the batch's index frames ONCE, probe the stored
    * index for exact-verified touching pairs, fold them into the stored
    * assignment (components(star edges ∪ touching) ≡ a full recompute —
    * the same equivalence `dedup_store_incremental`'s oracle proves),
    * and publish the UPDATED store — merged digests / signatures / band
    * keys + the new assignment — under `newCorpusKey` with the same
    * atomic-rename, build-once contract. The old corpus' TEXT is never
    * read: its contribution is entirely the persisted index (the probe
    * path is the spec-pinned zero-old-text-read plan). Per-advance cost:
    * |batch| text scan + batch-sized band probe + touching-pair verify +
    * index-sized union writes — no old-side recompute anywhere.
    * Subsequent [[dedupStoreAdvance]]/[[dedupStore]] calls with
    * `newCorpusKey` serve the published artifacts without recomputing. */
  def dedupStoreAdvance(store: DedupStore, newDocs: DataFrame, n: Int,
                        threshold: Double, newCorpusKey: String): DedupStore = {
    val spark = newDocs.sparkSession
    val path = storePath(spark, newCorpusKey, n, threshold)
    publishIfAbsent(spark, path) { tmp =>
      // ONE batch text scan: digests → signatures → band keys, each
      // persisted (merged with the stored frames) AND probed
      val shNew = shingleIndex(newDocs, n)
        .select(col("doc_id"), unhex(md5(col("s").cast(BinaryType))).as("s"))
        .materialized
      val sigNew = digestSignatures(shNew).materialized
      val bandsNew = bandKeys(sigNew.select(col("doc_id"), sigArray))
      shNew.unionByName(store.digests)
        .write.mode("overwrite").parquet(s"$tmp/digests.parquet")
      sigNew.select(col("doc_id"), sigArray, col("nsh"))
        .unionByName(store.signatures)
        .write.mode("overwrite").parquet(s"$tmp/signatures.parquet")
      bandsNew.unionByName(store.bands)
        .write.mode("overwrite").parquet(s"$tmp/bands.parquet")
      val touching = incrementalPrepared(shNew, sigNew, bandsNew,
        store.digests, store.signatures, store.bands, threshold)
      val star = store.clusters
        .where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("a"), col("cluster_id").as("b"))
      clusters(star.unionByName(touching.select(col("a"), col("b"))))
        .write.mode("overwrite").parquet(s"$tmp/clusters.parquet")
    }
    DedupStore(spark, path.toString)
  }

  val SimHashBits = 16

  /** 16-bit SimHash over word unigrams: word hash = first 4 hex chars of
    * md5 as an int; bit j of the signature is the majority vote of bit j
    * over all (multiplicity-counted) words. */
  def simhashCol(text: Column): Column = {
    val hs = transform(TextOps.tokens(text),
      w => conv(substring(md5(w.cast(BinaryType)), 1, 4), 16, 10).cast(IntegerType))
    val n = size(hs)
    (0 until SimHashBits).map { j =>
      val ones = size(filter(hs, h => h.bitwiseAND(lit(1 << j)) =!= 0))
      when(ones * 2 > n, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Per-doc SimHash signatures. Output: (doc_id, simhash). Equal-signature
    * grouping (or hamming-ball probing over bit flips) finds near-dups. */
  /** Relational SimHash (same shape as [[minHashSignatures]]): explode
    * words, hash with a plain codegen'd md5 column, aggregate the 16
    * per-bit majority counts map-side, assemble the signature — identical
    * values to [[simhashCol]], and the shuffle carries 17 ints per document
    * instead of evaluating nested interpreted lambdas per row. */
  def simhash(docs: DataFrame): DataFrame = simhashSigs(docs, SimHashBits)

  /** Parameterized-width SimHash (word hash = first bits/4 md5 hex chars).
    * Values for bits=16 are identical to the original 16-bit form; wider
    * signatures (32/64) buy smaller LSH buckets for the pair search. */
  def simhashSigs(docs: DataFrame, bits: Int): DataFrame = {
    val words = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .withColumn("h",
        graft.functions.keys.md5Prefix64(col("w").cast(BinaryType), bits / 4))
    val bitCounts = (0 until bits).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(0)).as(s"b$j")
    }
    val grouped = words.groupBy(col("doc_id"))
      .agg(bitCounts.head, (bitCounts.tail :+ count(lit(1)).as("n")): _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    grouped.select(col("doc_id"), sig.as("simhash"))
  }

  val SimHashPairBits = 32
  val SimHashBands = 4
  val SimHashBandBits = 8 // SimHashPairBits / SimHashBands

  /** SimHash near-dup pairs via EXACT Hamming-ball banding: split a 32-bit
    * signature into 4 bands of 8 bits; any pair within Hamming distance
    * <= 3 differs in at most 3 bands, so by pigeonhole it COLLIDES in at
    * least one band — banding loses nothing (100% recall for
    * maxHamming <= bands-1), and the bit_count verify removes the false
    * positives, so the result is exactly "all pairs with
    * hamming(simhash32) <= maxHamming".
    *
    * Scale shape mirrors [[minHashCandidates]], with one twist the minhash
    * path can't afford: the WHOLE signature is a single long, so each
    * banded row carries it through the self-join (8 extra bytes) and the
    * Hamming verify runs inside the join projection. False positives die
    * before anything else moves — the only post-join shuffle is the
    * distinct over TRUE near-dup pairs (output-sized), versus a
    * candidate-sized distinct plus two signature re-joins. Band width sets
    * E[bucket size] = n/2^8 per band; at larger corpora, widen the
    * signature again (64-bit, 4×16-bit bands) — the plan is unchanged. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= SimHashBands - 1,
      s"banding is only exact for maxHamming <= ${SimHashBands - 1}")
    val sig = simhashSigs(docs, SimHashPairBits)
    val mask = (1L << SimHashBandBits) - 1
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimHashBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * SimHashBandBits)
            .bitwiseAND(lit(mask)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Edit-distance fuzzy pairs over short strings (entity / catalog-name
    * resolution): block on each string's RAREST token (global document
    * frequency, ties on the token), verify candidates with the exact
    * `levenshtein` inside the join projection. Output: (a, b, dist) with
    * a < b and dist <= maxDist.
    *
    * Blocking semantics: a pair is reported iff the two strings agree on
    * their rarest token — the single-key instance of the PPJoin prefix
    * filter. Near-identical strings usually share their rarest token
    * (an edit inside that one token is the miss case); raising recall
    * means blocking on the K rarest tokens at K× the candidate volume —
    * same plan, wider explode. The choice is deliberate: blocking is
    * what makes the join linear-ish, and the oracle mirrors the exact
    * same candidate rule, so approximation lives in the DECLARED
    * semantics, not in engine drift.
    *
    * Scale shape: token dfs are one map-side-combined aggregate; the
    * rarest-token pick is a min(struct) aggregate (no per-string window
    * sort); candidates come from an equi-join on that token, skew-bounded
    * because the blocking key is by construction each string's RAREST
    * token — hot tokens are nobody's rarest when any rarer one exists.
    * False positives die in the join projection (codegen'd levenshtein)
    * before the output-sized distinct. */
  def editDistancePairs(strs: DataFrame, maxDist: Int): DataFrame = {
    val tok = strs.select(col("id"),
      explode(graft.operators.TextOps.tokens(col("name"))).as("tk"))
    val dfs = tok.groupBy(col("tk")).agg(count(lit(1)).as("tdf"))
    val rare = tok.join(dfs, "tk")
      .groupBy(col("id"))
      .agg(min(struct(col("tdf"), col("tk"))).as("m"))
      .select(col("id"), col("m.tk").as("tk"))
    val keyed = rare.join(strs, "id")
    keyed.as("x").join(keyed.as("y"),
        col("x.tk") === col("y.tk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        levenshtein(col("x.name"), col("y.name")).as("dist"))
      .where(col("dist") <= maxDist)
  }
}
