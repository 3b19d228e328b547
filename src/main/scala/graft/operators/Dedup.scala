package graft.operators

import graft.functions.MinHashKernel
import graft.sources.Publish
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, in increasing
  * robustness / decreasing cost-at-scale order:
  *
  *  - [[exact]]: hash-groupBy — one shuffle on the 32-char digest.
  *  - [[ngramJaccardPairs]]: EXACT set-similarity via an inverted shingle
  *    index (explode digests → self-join on digest → count
  *    intersections). Cost is quadratic in per-shingle document frequency,
  *    so at 100 TB it is the *verification* stage, not the candidate
  *    generator.
  *  - [[minHashPairs]]: MinHash + LSH banding — the scale path. Signatures
  *    are per-document (no shuffle), banding buckets candidates so the
  *    self-join touches only probable pairs. k=32 hashes, 8 bands × 4 rows
  *    ⇒ catches Jaccard ≳ 0.5 with high probability.
  *  - [[simhash]]: 16-bit SimHash over word unigrams — constant-size
  *    signature, equal-signature grouping finds near-dups in ONE shuffle.
  *
  * All hashing derives from md5 (deterministic across engines/sessions —
  * no seed state), all math from integer counts, so every operator is
  * oracle-checkable bit-for-bit. No UDFs anywhere. Every word-shingle SET
  * operator reads its shingle digests from ONE source, the native
  * per-document kernel [[graft.functions.MinHashKernel]] (Catalyst
  * expressions, like `array_dot`), which md5s each distinct shingle once:
  * the MinHash path ([[minHashSignatures]], [[corpusDedup]]) keeps them
  * in one row per document, while the exact Jaccard, containment and
  * prefix operators and [[lshRecallCurve]]'s truth explode them into one
  * row per (document, digest) for their inverted index. Only the span
  * operators, which need window POSITIONS, hash their own k-token
  * windows.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the smallest doc_id.
    * Output: (h, keep_id, n). */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol).cast(BinaryType)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Exact n-gram Jaccard near-dup pairs with similarity >= threshold.
    * Output: (a, b, jaccard), a < b.
    *
    * An inverted-index self-join over the shingle digests of
    * [[MinHashKernel]] ([[digests]] of the unfolded kernel rows): one row
    * per (input row, distinct shingle), joined on the digest. It needs no
    * singleton (df = 1) prefilter: a singleton digest matches only itself
    * and dies on `a < b`, so pruning it saves hash-probe work ONLY — the
    * exchange on the digest key is byte-identical with or without it —
    * while costing a whole extra aggregate + join-back. Cost is quadratic
    * in per-shingle document frequency, so at corpus scale this is the
    * *verification* stage of [[corpusDedup]]. Running it standalone on a
    * real corpus needs `maxDf`: shingles appearing in more than `maxDf`
    * documents (boilerplate) are dropped from the index BEFORE the
    * self-join — and symmetrically from the set sizes, so the result is
    * the exact Jaccard over each document's df-filtered shingle set. A
    * boilerplate shingle shared by d documents would otherwise alone
    * contribute d·(d-1)/2 join rows.
    *
    * "Exact" is hash-exact: shingles are compared by md5 digest, so an
    * adversarially constructed md5 collision could merge two distinct
    * shingles (set sizes/intersections off by the collision count). Benign
    * corpora are unaffected. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxDf: Option[Long] = None): DataFrame =
    jaccardAtLeast(overlapCounts(digests(kernel(docs, n)), maxDf), threshold)

  /** The Jaccard ratio of an overlap frame's (common, nsh_a, nsh_b) — the
    * one expression every exact pair path reports. */
  private val Jaccard: Column =
    col("common").cast(DoubleType) / (col("nsh_a") + col("nsh_b") - col("common"))

  /** (a, b, jaccard) of an overlap frame, pairs below `threshold` dropped. */
  private def jaccardAtLeast(overlaps: DataFrame, threshold: Double): DataFrame =
    overlaps.select(col("a"), col("b"), Jaccard.as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** The shingle digests of a kernel frame (doc_id, k), one row per
    * digest: (doc_id, hi, lo), the md5's two signed 64-bit halves as
    * `k.dg` stores them. Unfolded kernel rows give one row per (input row,
    * distinct shingle); a folded frame keeps its repeated digests, so it
    * gives the same multiset for rows that share a doc_id. */
  private def digests(k: DataFrame): DataFrame =
    // explode the digest ordinals, then read both halves with plain
    // codegen'd array access — no per-digest lambda
    k.select(col("doc_id"), col("k.dg").as("dg"),
        explode(sequence(lit(0), shiftright(size(col("k.dg")), 1) - 1)).as("i"))
      .select(col("doc_id"), col("dg").getItem(col("i") * 2).as("hi"),
        col("dg").getItem(col("i") * 2 + 1).as("lo"))

  /** The inverted-index machinery of [[ngramJaccardPairs]],
    * [[containmentPairs]] and [[lshRecallCurve]]'s truth over a
    * [[digests]] frame: (a, b, common, nsh_a, nsh_b), a < b, over the
    * (optionally df-capped) shingle sets — the shape [[kernelVerify]]
    * returns. The index is materialized once: the size aggregate and both
    * self-join sides read its ~24 B rows instead of re-running scan →
    * shingle → md5. */
  private def overlapCounts(sh: DataFrame, maxDf: Option[Long]): DataFrame = {
    val idx = maxDf.fold(sh) { cap =>
      // df per digest over the SAME partitioning the self-join needs; the
      // window avoids a groupBy + join-back on the digest key
      import org.apache.spark.sql.expressions.Window
      sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("hi"), col("lo"))))
        .where(col("df") <= cap)
        .drop("df")
    }.materialized
    val sz = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    idx.as("x").join(idx.as("y"), col("x.hi") === col("y.hi") &&
        col("x.lo") === col("y.lo") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("common"),
        col("sa.nsh").as("nsh_a"), col("sb.nsh").as("nsh_b"))
  }

  /** PREFIX-FILTERED exact Jaccard pairs (the PPJoin family's prefix
    * principle — Chaudhuri et al. 2006, Xiao et al. 2008): for
    * J(A,B) ≥ t, A and B MUST share a shingle within the first
    * |d| − ⌈t·|d|⌉ + 1 entries of their shingle lists sorted in any one
    * global order — so only that PREFIX enters the candidate self-join,
    * and recall is exactly 100% by the pigeonhole bound, not a tuning
    * accident. The order here is rarest first, (df, hi, lo) over the
    * [[digests]] of the [[kernelFrame]]: prefixes collide on the rarest
    * evidence available, so candidate volume is quadratic in the df of
    * PREFIX shingles only — the df-cap variant's sub-quadratic bound
    * without its "verify stage only" asterisk, since no true pair is ever
    * dropped.
    *
    * The threshold is the rational tNum/tDen and the prefix length and
    * final acceptance (`common·tDen ≥ (|A|+|B|−common)·tNum`) are pure
    * integer arithmetic — nothing about candidate generation or
    * acceptance touches a float (the reported jaccard double is render
    * only). Candidates are verified by [[kernelVerify]], the merge-intersect
    * of the two kernel digest lists [[corpusDedup]] runs — cost
    * |cand|·avg-set, never corpus². Output: (a, b, jaccard), a < b —
    * identical rows to [[ngramJaccardPairs]] at threshold = tNum/tDen.
    * The bound holds for sets: input rows that share a doc_id pool into a
    * multiset whose shared digests count r·s, and such a pair may be
    * missed, never added. */
  def ngramJaccardPrefixPairs(docs: DataFrame, n: Int,
                              tNum: Int, tDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 < tNum && tNum < tDen, "threshold must be in (0,1)")
    val k = kernelFrame(docs, n)
    val ranked = digests(k)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("hi"), col("lo"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("hi"), col("lo"))))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val prefix = ranked
      .where(col("rn") <= expr(s"nsh - ((nsh * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("hi"), col("lo"))
    val cand = prefix.as("x").join(prefix.as("y"), col("x.hi") === col("y.hi") &&
        col("x.lo") === col("y.lo") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    kernelVerify(cand, k)
      .where(col("common") * tDen >= (col("nsh_a") + col("nsh_b") - col("common")) * tNum)
      .select(col("a"), col("b"), Jaccard.as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A|. Jaccard misses
    * the quote/excerpt case — a short document wholly embedded in a long
    * one scores |A|/|B| ≈ 0 — while containment scores it 1.0 from the
    * short side. Pairs where either direction reaches `threshold` survive:
    * (a, b, cont_a, cont_b), a < b, cont_a = share of a's shingles also in
    * b.
    *
    * Same kernel-digest inverted index (and the same md5 hash-exactness
    * caveat and `maxDf` boilerplate cap — applied to both the self-join
    * and the set sizes) as [[ngramJaccardPairs]]; the two differ only in
    * the final ratio projection, so the scale posture is identical:
    * candidate cost quadratic in per-shingle df, which `maxDf` bounds. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       maxDf: Option[Long] = None): DataFrame =
    overlapCounts(digests(kernel(docs, n)), maxDf)
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
    * ([[SpanRegistryBuckets]] buckets, per-bucket sorted — the
    * [[graft.operators.Layout.writeBucketed]] contract): a bucketed scan
    * reports `HashPartitioning(s, n)`, so every digest-keyed store-side
    * operation — the incremental rewrite's registry probe, the advance's
    * full-outer fold — runs with ZERO exchange on the store side. At
    * 100 TB the registry is corpus-duplication-sized; pre-bucketing it
    * moves the per-batch shuffle from O(registry) to O(batch), the same
    * amortize-the-shuffle-once trade the bucketed fact-table layout
    * makes. */
  final case class SpanStore(spark: org.apache.spark.sql.SparkSession,
                             dir: String) {
    def spans: DataFrame = {
      // bucket metadata lives in the catalog, not the files — register
      // an external bucketed table over the published location once per
      // session. The dir is content-keyed and folds [[SpanLayoutVersion]],
      // so its files always carry [[SpanRegistryBuckets]] buckets
      val tbl = "graft_spanstore_" + Publish.md5Hex(dir)
      if (!spark.catalog.tableExists(tbl))
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS `$tbl` (s BINARY, keeper BIGINT, ndocs BIGINT)
             |USING PARQUET
             |CLUSTERED BY (s) SORTED BY (s) INTO $SpanRegistryBuckets BUCKETS
             |LOCATION '$dir/spans.parquet'""".stripMargin)
      spark.table(tbl)
    }
  }

  /** Span-registry bucket count: the local session's shuffle width.
    * Part of the span layout — a change bumps [[SpanLayoutVersion]]. */
  private[graft] val SpanRegistryBuckets = 32

  /** Land a registry frame as the digest-bucketed `spans.parquet` fileset
    * under `tmp` (staging table → drop keeps the files). The stage table
    * is external (explicit path), so DROP leaves the data; the UUID name
    * keeps concurrent builders apart. */
  private def writeSpanRegistry(spark: org.apache.spark.sql.SparkSession,
                                registry: DataFrame, tmp: String): Unit = {
    val stage = s"graft_spanstore_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    registry.repartition(SpanRegistryBuckets, col("s"))
      .write.mode("overwrite")
      .option("path", s"$tmp/spans.parquet")
      .bucketBy(SpanRegistryBuckets, "s").sortBy("s")
      .saveAsTable(stage)
    spark.sql(s"DROP TABLE IF EXISTS `$stage`")
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
    Publish.publishIfAbsent(spark.sessionState.newHadoopConf(), path) { tmp =>
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
    Publish.publishIfAbsent(spark.sessionState.newHadoopConf(), path) { tmp =>
      writeSpanRegistry(spark, spanRegistryMerge(store.spans, newDocs, k), tmp)
    }
    SpanStore(spark, path.toString)
  }

  val MinHashK = MinHashKernel.K
  val Bands = 8
  val RowsPerBand = 4 // MinHashK / Bands

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
      .select(col("doc_id"), array((0 until MinHashK).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Kernel rows folded to one per doc_id by [[MinHashKernel.merge]] into
    * the multiset the relational index builds for them (sizes add, digest
    * lists concatenate, signatures take the element-wise min), so a
    * duplicated doc_id keeps the relational formulation's results. */
  private def foldKernels(k: DataFrame): DataFrame =
    k.groupBy(col("doc_id"))
      .agg(MinHashKernel.merge(collect_list(col("k"))).as("k"))

  /** The kernel frame of every MinHash pair path and of the dedup store,
    * one row per doc_id, materialized: (doc_id, k = struct<nsh, sig, dg>). */
  private[graft] def kernelFrame(docs: DataFrame, n: Int): DataFrame =
    foldKernels(kernel(docs, n)).materialized

  /** (doc_id, sig) of a kernel frame — the candidate generator's input. */
  private def kernelSigs(k: DataFrame): DataFrame =
    k.select(col("doc_id"), col("k.sig").as("sig"))

  /** Exact verify of candidate pairs against a [[kernelFrame]]: both
    * sides join the kernel frame, [[MinHashKernel.overlap]]
    * merge-intersects the two sorted digest lists, and pairs sharing no
    * shingle drop out. Output: (a, b, common, nsh_a, nsh_b, siga, sigb),
    * the [[overlapCounts]] shape plus the signatures; unused columns are
    * pruned. */
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
  }

  /** [[kernelVerify]] at `threshold`: (a, b, jaccard), a < b. */
  private def verifiedPairs(cand: DataFrame, k: DataFrame,
                            threshold: Double): DataFrame =
    jaccardAtLeast(kernelVerify(cand, k), threshold)

  /** Signature-estimated Jaccard: share of equal MinHash positions. */
  private def estJaccard(siga: Column, sigb: Column): Column =
    size(filter(sequence(lit(0), lit(MinHashK - 1)),
      i => element_at(siga, i + lit(1)) === element_at(sigb, i + lit(1))))
      .cast(DoubleType) / lit(MinHashK.toDouble)

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

  /** The band-bucket key columns of [[packedBands]]. */
  private val BandKey = Seq("band", "k1", "k2")

  /** (doc_id, band, k1, k2): one row per (document, band) of a (doc_id,
    * sig) frame, the band's [[RowsPerBand]] = 4 signature values packed
    * exactly into two longs (each value is < 2^31). Two documents share a
    * band bucket iff their band values are equal. The one bucket key of
    * every MinHash candidate relation: [[minHashCandidates]],
    * [[touchingCandidates]], [[capCrossings]] and [[DedupStore.bands]]. */
  private def packedBands(sigd: DataFrame): DataFrame = {
    def v(i: Int) = element_at(col("sig"), i + 1)
    sigd.select(col("doc_id"),
        explode(array((0 until Bands).map { j =>
          val r = j * RowsPerBand
          struct(lit(j).as("band"),
            shiftleft(v(r), 31).bitwiseOR(v(r + 1)).as("k1"),
            shiftleft(v(r + 2), 31).bitwiseOR(v(r + 3)).as("k2"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.*"))
  }

  /** LSH band candidate pairs (a < b, distinct) from MinHash signatures
    * (doc_id, sig) with one row per doc_id — the one generator shared by
    * [[corpusDedup]], [[minHashPairs]], [[minHashEstVsExact]],
    * [[lshRecallCurve]] and [[dedupStore]].
    *
    * ONE aggregate groups the [[packedBands]] rows into buckets: (band,
    * k1, k2, occ, ids). Buckets above `maxBucket` ([[BandBucketCap]]) are
    * dropped, then each remaining bucket streams its member pairs
    * ([[MinHashKernel.bucketPairs]]) and `distinct` folds pairs found in
    * several bands. No window and no self-join: one exchange of ~24 B per
    * (doc, band) row, one of the pairs. A bucket's ids are collected by
    * [[MinHashKernel.bucketIds]], which drops them as soon as the
    * bucket's occupancy passes the cap, so a flooded bucket holds at most
    * `maxBucket` ids however large its cohort. */
  def minHashCandidates(sigd: DataFrame,
                        maxBucket: Int = BandBucketCap): DataFrame = {
    val buckets = packedBands(sigd).groupBy(BandKey.map(col): _*)
      .agg(MinHashKernel.bucketIds(col("doc_id"), maxBucket).as("bk"))
      .select(col("band"), col("k1"), col("k2"), col("bk.occ").as("occ"), col("bk.ids").as("ids"))
    // the cap carries the shared CapMetrics observation (binding drop
    // counts + loud collapse detection, incl. AQE's empty-relation
    // pruning of the metric node itself), weighted by occupancy so it
    // still counts (doc, band) rows, and observed before the singleton
    // filter
    CapMetrics.ensureListener(sigd.sparkSession)
    CapMetrics.observed(buckets, col("occ"), maxBucket, weight = col("occ"))
      .where(col("occ") <= maxBucket)
      .where(col("occ") >= 2)
      .select(MinHashKernel.bucketPairs(col("ids")))
      .distinct()
  }

  /** Candidate pairs (a < b, distinct) with at least one side in the
    * batch `newSig`, over the buckets of `oldSig` ∪ `newSig` — the probe
    * of every incremental path ([[incrementalMinHashPairsFromSigs]],
    * [[incrementalCorpusDedupStored]], [[dedupStoreAdvance]]). Both
    * frames are (doc_id, sig), one row per doc_id, their doc sets
    * disjoint.
    *
    * The occupancy window is O(batch) in exchange volume: only buckets
    * the BATCH touches can emit a touching pair, so the stored bands are
    * restricted to those buckets by a broadcast left-semi join against
    * the batch's distinct bucket set (≤ [[Bands]] · |batch| keys) BEFORE
    * the [[BandBucketCap]] window runs. The semi-join keeps whole
    * buckets, so occupancy inside every touched bucket is still the
    * full-corpus occupancy and the cap binds exactly as a one-shot run
    * would; untouched buckets never enter the exchange. (The HBase
    * analog the store imitates consults META per write; it never
    * re-aggregates META — BulkImporterFromText.java:105-111.)
    *
    * BROADCAST BOUND — the build side is ≤ [[Bands]] · |batch| rows of
    * (int band, two longs) ≈ 20 B/row: a 1M-doc maintenance batch
    * broadcasts ≤ ~[[Bands]]·20 MB, above the default 10 MB
    * autoBroadcast threshold, which the explicit broadcast() hint
    * ignores; the operational ceiling is driver/executor heap. A drop
    * large enough to threaten it should be split into several advances,
    * NOT fed through a shuffled semi-join — that re-exchanges the stored
    * bands and forfeits the O(batch) property (the executed-plan spec
    * pins the broadcast form). */
  private def touchingCandidates(newSig: DataFrame, oldSig: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bandsNew = packedBands(newSig)
    val touched = bandsNew.select(BandKey.map(col): _*).distinct()
    val bandsAll = packedBands(oldSig)
      .join(broadcast(touched), BandKey, "left_semi")
      .unionByName(bandsNew)
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(BandKey.map(col): _*)))
      .where(col("occ") <= BandBucketCap)
      .drop("occ")
    bandsNew.as("x").join(bandsAll.as("y"),
        BandKey.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
  }

  /** INCREMENTAL near-dup detection — the operational form of corpus
    * dedup at 100 TB: a new batch is checked against the EXISTING corpus
    * without ever touching the existing corpus' text again. The corpus is
    * represented by its signature index ([[minHashSignatures]] output —
    * k longs per document, ~0.1% of corpus bytes); each incoming batch
    * computes its own signatures, probes index ∪ batch
    * ([[touchingCandidates]]), and emits every near-dup pair with at
    * least one NEW side (new-vs-old contamination and new-vs-new dups in
    * one pass).
    *
    * Per-batch cost: |batch| signature passes + a band probe whose left
    * side is batch-sized — independent of corpus text size. Equals
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
    touchingCandidates(newSig, index)
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
      .select(col("a"), col("b"), Jaccard.as("jaccard"),
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
    * The kernel's digests are the engine's one shingle digest: the exact
    * Jaccard, containment and prefix operators read the same `dg` lists.
    * Rows are identical to the relational formulation this replaced
    * (string-shingle digest index, signature aggregate, windowed md5 band
    * self-join, two-join exact verify; `MinHashKernelSpec` keeps it as
    * the reference): same tokenization, same md5 digests, same
    * signatures, same bucket relation and cap, same Jaccard expression —
    * including its multiset semantics for rows that share a doc_id
    * ([[foldKernels]]). The store and incremental paths run the same
    * kernel frame, candidates and verify. At cluster scale, swap the
    * local checkpoint for a persisted one (`graft.fixpoint.dir`). */
  def corpusDedup(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    corpusPairs(kernelFrame(docs, n), threshold)

  /** The pair step of [[corpusDedup]] and [[dedupStore]] over a kernel
    * frame: all-pairs candidates, then the exact verify. */
  private def corpusPairs(k: DataFrame, threshold: Double): DataFrame =
    verifiedPairs(minHashCandidates(kernelSigs(k)), k, threshold)

  /** Exact-verified near-dup pairs TOUCHING the batch kernel frame
    * `kNew` (new-vs-old and new-vs-new), never re-pairing the stored
    * kernel `kOld` with itself: [[touchingCandidates]] over the two
    * frames' signatures, then [[kernelVerify]] over kNew ∪ kOld. Output:
    * (a, b, jaccard), a < b, jaccard >= threshold. */
  private def touchingPairs(kNew: DataFrame, kOld: DataFrame,
                            threshold: Double): DataFrame =
    verifiedPairs(touchingCandidates(kernelSigs(kNew), kernelSigs(kOld)),
      kNew.unionByName(kOld), threshold)

  /** INCREMENTAL [[corpusDedup]] against a PERSISTED [[DedupStore]] — the
    * production maintenance path: exact-verified near-dup pairs
    * restricted to those TOUCHING a new document drop (new-vs-old and
    * new-vs-new). Combined with the stored assignment's star edges, the
    * component structure of (old assignment ∪ these pairs) equals a full
    * recompute: old-old pairs connect exactly what the stored assignment
    * already connects, so only pairs with a new endpoint can change
    * anything.
    *
    * The old corpus contributes ONLY its stored kernel frame, so a
    * maintenance batch never re-reads or re-shingles old text. Per-batch
    * cost: one kernel pass over the batch + a batch-sized band probe
    * ([[touchingCandidates]]: the [[BandBucketCap]] binds at FULL-corpus
    * occupancy while the exchange stays O(batch)) + a verify restricted
    * to touching pairs.
    *
    * Equivalence scope (full recompute ≡ stored-assignment ∪ this): exact
    * as long as no band bucket CROSSES the cap between drops — a bucket
    * capped only once the batch lands can retroactively invalidate
    * old-old pairs the stored assignment already connected; detect that
    * regime with [[capCrossings]] and rebuild the affected drop. */
  def incrementalCorpusDedupStored(newDocs: DataFrame, store: DedupStore,
                                   n: Int, threshold: Double): DataFrame =
    touchingPairs(kernelFrame(newDocs, n), store.kernel, threshold)

  /** Band buckets that CROSS [[BandBucketCap]] only once `newDocs` land —
    * the one regime where stored-assignment ∪ incremental pairs can
    * over-connect relative to a full recompute (the stored old-old pairs
    * were generated under old-only occupancies). Empty output = the
    * incremental result is exactly the full recompute; non-empty names
    * the buckets whose member docs need a rebuild. Cost: two band-keyed
    * aggregates, no old-text reads. Output: (band, k1, k2, occ_old,
    * occ_all). */
  def capCrossings(newDocs: DataFrame, store: DedupStore, n: Int,
                   cap: Int = BandBucketCap): DataFrame = {
    def occ(bands: DataFrame, name: String) =
      bands.groupBy(BandKey.map(col): _*).agg(count(lit(1)).as(name))
    occ(store.bands, "occ_old")
      .join(occ(packedBands(minHashSignatures(newDocs, n)), "occ_new"), BandKey)
      .select(col("band"), col("k1"), col("k2"), col("occ_old"),
        (col("occ_old") + col("occ_new")).as("occ_all"))
      .where(col("occ_old") <= cap && col("occ_all") > cap)
  }

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
    * ONE kernel pass over the sample feeds both sides. The candidates
    * are exactly what [[corpusDedup]] generates: the same kernel frame and
    * the same [[minHashCandidates]]. The truth reads the same frame's
    * shingle digests but not its signatures or bands — it is
    * [[ngramJaccardPairs]]' inverted-index self-join over the
    * [[digests]] — so it stays independent of the candidate generator it
    * grades; it is checkpointed once for the totals and the candidate
    * semi-join.
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
    val truth = jaccardAtLeast(overlapCounts(digests(k), None), minJaccard)
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

  /** The engine's one materializer — fixpoint loops, multi-consumer
    * frames and incremental indexes all truncate lineage here. The
    * session conf `graft.fixpoint.dir` is its only switch: set
    * (SparkConf or `spark.conf.set`), every materialization lands under
    * it as a reliable checkpoint, which survives executor loss at one
    * write per materialized frame; unset, it is a `localCheckpoint`
    * (executor block storage — fastest, but a lost executor kills the
    * truncated dataset). One conf line is the cluster deployment's
    * durability switch; local runs need nothing. */
  private[graft] def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.fixpoint.dir").filter(_.nonEmpty) match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir appends a UUID subdir — only (re)set when the
        // current dir is not already under the requested root
        if (!sc.getCheckpointDir.exists(_.startsWith(dir))) sc.setCheckpointDir(dir)
        df.checkpoint()
    }

  /** [[materialize]] as postfix syntax (`df.materialized`) so
    * checkpoint-once sites keep their operator-chain shape. */
  private[graft] implicit class MaterializeSyntax(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Dedup.materialize(df)
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
  def clusters(pairs: DataFrame): DataFrame = {
    // materialize the edge list ONCE — without this every fixpoint
    // iteration re-runs the upstream pair pipeline (LSH + verify) from
    // scratch inside its join. The undirected doubling is an explode of a
    // 2-element struct array, NOT a union of two selects: each union
    // branch would evaluate the (expensive) upstream pair pipeline once
    // per branch. Partitioned by the JOIN key before the checkpoint:
    // hashpartitioning(b) survives materialization, so each iteration's
    // equi-join exchanges only the label rows — the (usually much larger)
    // edge list never moves again.
    val und = materialize(pairs
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .repartition(col("b")))
    var labels = materialize(und.select(col("a").as("id")).distinct()
      .withColumn("cluster_id", col("id")))
    var changed = 1L
    var prevChanged = Long.MaxValue
    var stalled = false
    var round = 0
    while (changed > 0 && !stalled && round < CcEscalateAfterRounds) {
      round += 1
      val nbrMin = und
        .join(labels.select(col("id").as("b"), col("cluster_id")), "b")
        .groupBy(col("a")).agg(min(col("cluster_id")).as("nbr_min"))
      // convergence flag computed INLINE (the old label is already in the
      // row) — a join-based next-vs-old compare would cost an extra
      // shuffle per iteration just to count changes
      val next = materialize(labels
        .join(nbrMin.withColumnRenamed("a", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id")).as("chg")))
      changed = next.where(col("chg")).count()
      stalled = ccStalled(round, changed, prevChanged)
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
      val roots = GraphOps.connectedComponentsStar(contracted)
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
    * under the engine's writable store root, keyed by md5(corpusKey) —
    * [[Publish.storePath]]). The contract is an
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
    * earlier code era can match the key.
    *
    * rev=5 is the kernel-frame store (`clusters` + `kernel`); stores of
    * the shingle-grain digest format (rev=4) are rebuilt, not served. */
  val StoreAlgoVersion: String =
    s"minhash:k=$MinHashK,b=$Bands,r=$RowsPerBand,cap=$BandBucketCap,rev=5"

  /** The span registries' OWN layout version, folded only into span-store
    * keys: rev=4 is the digest-bucketed per-bucket-sorted fileset at the
    * constant [[SpanRegistryBuckets]] (rev=3 recorded a configurable
    * count in a sidecar file). Future span-layout changes bump THIS, so
    * dedup/cluster stores keep their cached builds. */
  val SpanLayoutVersion: String = "spanlayout:rev=4"

  /** Handle over one persisted dedup store: the cluster assignment plus
    * the kernel frame it was computed from, the index a production store
    * keeps beside it (the HBase analog: the region index consulted per
    * write, never rebuilt — BulkImporterFromText.java:105-111 reads
    * boundaries once per job). Every frame is one parquet read; nothing
    * re-derives from text.
    *  - clusters: (doc_id, cluster_id) — the assignment.
    *  - kernel:   (doc_id, k = struct<nsh, sig, dg>) — one
    *              [[kernelFrame]] row per doc_id: shingle-set size,
    *              MinHash signature, sorted shingle digests.
    *  - bands:    the [[packedBands]] of the stored signatures, the probe
    *              target of [[capCrossings]] (a projection, not a file). */
  final case class DedupStore(spark: org.apache.spark.sql.SparkSession,
                              dir: String) {
    def clusters: DataFrame =
      spark.read.schema("doc_id BIGINT, cluster_id BIGINT")
        .parquet(s"$dir/clusters.parquet")
    def kernel: DataFrame =
      spark.read.schema("doc_id BIGINT, k STRUCT<nsh: BIGINT, sig: ARRAY<BIGINT>, dg: ARRAY<BIGINT>>")
        .parquet(s"$dir/kernel.parquet")
    def bands: DataFrame = packedBands(kernelSigs(kernel))
  }

  /** Writable store location for a (corpus drop, params) pair — the
    * keying contract shared by [[dedupStore]] and [[dedupStoreAdvance]]:
    * md5(corpusKey | file stamp | params | [[StoreAlgoVersion]]) under
    * the engine's store root ([[Publish.storePath]]). */
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
    Publish.storePath(StoreFamily,
      s"$corpusKey|$stamp|n=$n|thr=$threshold|$StoreAlgoVersion")
  }

  /** Store-root family of the dedup and span stores
    * ([[Publish.storePath]]). */
  private val StoreFamily = "graft-cluster-store"

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

  /** Build-once, serve-many dedup store (see [[clustersStore]] for the
    * keying/immutability contract): the first call for a (corpus drop,
    * params, [[StoreAlgoVersion]]) key computes the [[kernelFrame]] ONCE,
    * persists it, runs [[corpusDedup]]'s own pair step on it and the
    * cluster fixpoint, and publishes both artifacts with ONE atomic
    * rename (a concurrent reader never sees a partial store). Subsequent
    * calls return the handle without touching corpus text. */
  def dedupStore(docs: DataFrame, n: Int, threshold: Double,
                 corpusKey: String): DedupStore = {
    val spark = docs.sparkSession
    val path = storePath(spark, corpusKey, n, threshold)
    Publish.publishIfAbsent(spark.sessionState.newHadoopConf(), path) { tmp =>
      val k = kernelFrame(docs, n)
      k.write.mode("overwrite").parquet(s"$tmp/kernel.parquet")
      clusters(corpusPairs(k, threshold).select(col("a"), col("b")))
        .write.mode("overwrite").parquet(s"$tmp/clusters.parquet")
    }
    DedupStore(spark, path.toString)
  }

  /** ADVANCE a dedup store by one corpus drop — the full production
    * maintenance cycle, closing the loop [[incrementalCorpusDedupStored]]
    * opens: build the batch's kernel frame ONCE, probe the stored kernel
    * for exact-verified touching pairs, fold them into the stored
    * assignment (components(star edges ∪ touching) ≡ a full recompute —
    * the same equivalence `dedup_store_incremental`'s oracle proves), and
    * publish the UPDATED store — the stored ∪ batch kernel (shared
    * doc_ids folded by [[MinHashKernel.merge]], as [[kernelFrame]] folds
    * them) + the new assignment — under `newCorpusKey` with the same
    * atomic-rename, build-once contract. The old corpus' TEXT is never
    * read: its contribution is entirely the stored kernel. Per-advance
    * cost: |batch| kernel pass + batch-sized band probe + touching-pair
    * verify + a kernel-sized fold and write. Subsequent
    * [[dedupStoreAdvance]]/[[dedupStore]] calls with `newCorpusKey` serve
    * the published artifacts without recomputing. */
  def dedupStoreAdvance(store: DedupStore, newDocs: DataFrame, n: Int,
                        threshold: Double, newCorpusKey: String): DedupStore = {
    val spark = newDocs.sparkSession
    val path = storePath(spark, newCorpusKey, n, threshold)
    Publish.publishIfAbsent(spark.sessionState.newHadoopConf(), path) { tmp =>
      val kNew = kernelFrame(newDocs, n)
      foldKernels(kNew.unionByName(store.kernel))
        .write.mode("overwrite").parquet(s"$tmp/kernel.parquet")
      val star = store.clusters
        .where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("a"), col("cluster_id").as("b"))
      val touching = touchingPairs(kNew, store.kernel, threshold)
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
