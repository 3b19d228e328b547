package graft.operators

import graft.functions.TopKPairs
import graft.operators.Dedup.MaterializeSyntax
import graft.sources.Publish
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, mirroring how ANN is deployed at 100 TB:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k. Queries are broadcast, the
  *    corpus stays partitioned: a BroadcastNestedLoopJoin scans each corpus
  *    partition once with ALL queries — embarrassingly parallel, no corpus
  *    shuffle, and per-partition top-k via window rank. This is the
  *    correctness baseline and the right plan whenever |queries| is small.
  *  - [[rpLshTopK]]: random-hyperplane LSH buckets as the scale path —
  *    sign-bit sketches shrink the candidate set to same-bucket vectors, so
  *    cost drops from |Q|·|C| to |Q|·E[bucket size]. Hyperplanes derive
  *    deterministically from md5 (no RNG state, reproducible across runs).
  *
  * Cosine math is done in double (`array<float>` cast up first) with a
  * sequential left-fold — deterministic, and rounded to 6 decimals before
  * ranking so rank order is stable across engines.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — a codegen'd native
    * expression (see [[graft.functions.ArrayDotProduct]]; the equivalent
    * `aggregate∘zip_with` HOF form runs interpreted and is ~35× slower on
    * all-pairs workloads). */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDotProduct(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosineSim(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  private def asDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (qid, nid, cos_sim, rank), rank 1..k per qid. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms once per vector BEFORE the |Q|×|C| join, not once per pair
    val q = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm2(col("qv")))
    val c = corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv"))
      .withColumn("nn", norm2(col("nv")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** HARD-NEGATIVE mining for contrastive training: per query vector, the
    * top-k most similar corpus vectors carrying a DIFFERENT label — the
    * negatives closest to the decision boundary, which are the ones a
    * contrastive loss learns most from (random negatives are trivially
    * separable and teach almost nothing). Same broadcast-query scan shape
    * as [[bruteForceTopK]], with the label inequality applied BEFORE
    * scoring so disqualified pairs never reach the dot product, and the
    * bounded top-k aggregate shipping k pairs per query through the one
    * exchange. Output: (qid, nid, cos_sim, rank), rank 1..k. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
        asDouble(col("embedding")).as("qv"), col("label").as("qlbl"))
      .withColumn("qn", norm2(col("qv")))
    val c = corpus.select(col("vec_id").as("nid"),
        asDouble(col("embedding")).as("nv"), col("label").as("nlbl"))
      .withColumn("nn", norm2(col("nv")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("qlbl") =!= col("nlbl"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** Per-qid top-k of (cos_sim DESC, nid ASC) via the bounded [[TopKPairs]]
    * aggregate: map-side partial top-k means the exchange carries at most k
    * pairs per qid instead of every scored pair landing on |Q| window
    * reducers. Output: (qid, nid, cos_sim, rank), rank 1..k. */
  private def topKByScore(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(TopKPairs.topK(struct(col("cos_sim"), col("nid")), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.payload").as("nid"), col("col.ord").as("cos_sim"),
        (col("pos") + 1).cast(IntegerType).as("rank"))

  /** int8 scalar-quantization (SQ8) ANN: each vector compresses to a
    * per-vector scale plus int8 codes — 4× fewer bytes than float32, the
    * regime that matters when a 100 TB candidate scan is memory-bandwidth
    * bound — then the top `rerank` candidates per query are re-scored
    * with the exact double cosine and cut to `k`.
    *
    * Cross-engine determinism: codes are `floor(x/scale + 0.5)` (floor of
    * an IEEE double is engine-agnostic, unlike decimal-repr `round`), the
    * code dot product is exact integer arithmetic in doubles (|code| ≤
    * 127, far inside the 2^53 exact-integer range), and the approx score
    * `qs*ns*dot` multiplies in one fixed order — so the candidate SET is
    * bit-identical in the oracle, and the exact rerank inherits
    * [[bruteForceTopK]]'s proven round-6 cosine parity.
    *
    * Plan shape: quantized queries broadcast over the corpus (same
    * no-corpus-shuffle BNLJ as brute force, reading quarter-width codes),
    * bounded [[TopKPairs]] candidate cut, then an equi-join back to the
    * two full-precision sides restricted to `rerank` rows per query.
    * Output: (qid, nid, cos_sim, rank), rank 1..k per qid. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int): DataFrame = {
    def quant(df: DataFrame, id: String, v: String, s: String, codes: String) =
      df.select(col("vec_id").as(id), asDouble(col("embedding")).as(v))
        .withColumn(s,
          greatest(array_max(transform(col(v), x => abs(x))), lit(1e-30)) / lit(127.0))
        .withColumn(codes,
          transform(col(v), x => floor(x / col(s) + lit(0.5)).cast(DoubleType)))
    val q = quant(queries, "qid", "qv", "qs", "qa").withColumn("qn", norm2(col("qv")))
    val c = quant(corpus, "nid", "nv", "ns", "na").withColumn("nn", norm2(col("nv")))
    val approx = c.select(col("nid"), col("ns"), col("na"))
      .crossJoin(broadcast(q.select(col("qid"), col("qs"), col("qa"))))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (col("qs") * col("ns") * dot(col("qa"), col("na"))).as("cos_sim"))
    val cand = topKByScore(approx, rerank).select(col("qid"), col("nid"))
    val exact = cand
      .join(q.select(col("qid"), col("qv"), col("qn")), Seq("qid"))
      .join(c.select(col("nid"), col("nv"), col("nn")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(exact, k)
  }

  /** One 32-bit sign-bit word of a double-array column: bit i set iff
    * v[lo+i] ≥ 0. Two words cover the 64-dim embeddings; 32-bit words keep
    * every value positive so the DuckDB mirror never touches the BIGINT
    * sign bit (engine-defined overflow). An unrolled `element_at` chain —
    * every term is a codegen'd built-in, so the whole signature build
    * stays inside whole-stage codegen (the earlier `aggregate∘zip_with`
    * HOF form ran interpreted per row — the same trap
    * [[graft.functions.ArrayDotProduct]] exists to avoid). */
  private def signWord(v: String, lo: Int): Column =
    (0 until 32).map { i =>
      when(element_at(col(v), lo + i + 1) >= 0d, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Binary quantization (1 bit/dim) ANN: each vector compresses to its
    * 64 sign bits — 32× smaller than float32, the cheapest candidate scan
    * a vector store runs (pgvector/Qdrant-style BQ) — candidates are the
    * `rerank` smallest Hamming distances (sign-agreement count as the
    * score, ties → smaller id, the [[TopKPairs]] rank order), then exact
    * double-cosine rerank cut to `k`.
    *
    * Everything is integer (bit_count of XOR) until the proven round-6
    * exact rerank, so the oracle reproduces the candidate set exactly.
    * Plan shape: identical to [[sq8TopK]] — broadcast-query scan over
    * 2-long signatures (no corpus shuffle), bounded candidate agg,
    * equi-join back to full precision. Output: (qid, nid, cos_sim, rank). */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame,
                        k: Int, rerank: Int): DataFrame = {
    def sigs(df: DataFrame, id: String, v: String) =
      df.select(col("vec_id").as(id), asDouble(col("embedding")).as(v))
        .withColumn(s"${id}_w0", signWord(v, 0))
        .withColumn(s"${id}_w1", signWord(v, 32))
    val q = sigs(queries, "qid", "qv").withColumn("qn", norm2(col("qv")))
    val c = sigs(corpus, "nid", "nv").withColumn("nn", norm2(col("nv")))
    val approx = c.select(col("nid"), col("nid_w0"), col("nid_w1"))
      .crossJoin(broadcast(q.select(col("qid"), col("qid_w0"), col("qid_w1"))))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (lit(64) - bit_count(col("qid_w0").bitwiseXOR(col("nid_w0")))
                 - bit_count(col("qid_w1").bitwiseXOR(col("nid_w1"))))
          .cast(DoubleType).as("cos_sim")) // sign-agreement count as score
    val cand = topKByScore(approx, rerank).select(col("qid"), col("nid"))
    val exact = cand
      .join(q.select(col("qid"), col("qv"), col("qn")), Seq("qid"))
      .join(c.select(col("nid"), col("nv"), col("nn")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(exact, k)
  }

  /** All pairs with cosine >= threshold (embedding near-dup detection).
    * Exact O(n²) form — at scale, run [[rpLshTopK]]-style bucketing first
    * and this as the verify stage within buckets. */
  def cosinePairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("a"), asDouble(col("embedding")).as("va"))
      .withColumn("an", norm2(col("va")))
    val b = corpus.select(col("vec_id").as("b"), asDouble(col("embedding")).as("vb"))
      .withColumn("bn", norm2(col("vb")))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("an") * col("bn")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * plane p, dimension d ↦ (md5-derived 16-bit value - 32768) / 32768.
    * Hyperplanes are CONSTANTS, so they are materialized once on the
    * driver (O(planes × dims) bytes) and embedded as array literals — the
    * projection is then a codegen'd [[dot]] per plane, not an interpreted
    * per-row md5 of every (plane, dim) pair. */
  private def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .take(2).map("%02x".format(_)).mkString
    (java.lang.Integer.parseInt(hex, 16).toDouble - 32768.0) / 32768.0
  }

  def plane(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => planeComponent(p, d))

  /** Sign-bit sketch: bit p = round(v · plane_p, 6) >= 0. The projection is
    * rounded exactly like the cosine scores so an independent engine (the
    * DuckDB oracle) computes identical buckets — fold-order float noise
    * below 1e-6 cannot flip a sign bit. */
  def rpSketch(v: Column, planes: Int, dims: Int): Column =
    rpSketchRange(v, 0, planes, dims)

  /** Sketch over the plane range [fromPlane, fromPlane+planes) — bands of a
    * banded sketch reuse one deterministic plane family with offsets. Bit i
    * of the result corresponds to plane fromPlane+i. */
  def rpSketchRange(v: Column, fromPlane: Int, planes: Int, dims: Int): Column =
    (0 until planes).map { i =>
      when(round(dot(v, typedlit(plane(fromPlane + i, dims))), 6) >= 0,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: candidates share the query's bucket
    * (optionally hamming-adjacent buckets via `probes` extra bit flips).
    * Output schema matches [[bruteForceTopK]]. */
  def rpLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                planes: Int = 8, probes: Int = 1, dims: Int = 64): DataFrame = {
    val c = corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv"))
      .withColumn("bucket", rpSketch(col("nv"), planes, dims))
    // multi-probe: query also probes buckets at hamming distance 1..probes-1
    val q0 = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .withColumn("qbucket", rpSketch(col("qv"), planes, dims))
    val probeBuckets = {
      val flips = (0 until math.min(probes - 1, planes))
        .map(p => col("qbucket").bitwiseXOR(lit(1 << p)))
      array(col("qbucket") +: flips: _*)
    }
    val q = q0.select(col("qid"), col("qv"), explode(probeBuckets).as("bucket"))
    val scored = c.withColumn("nn", norm2(col("nv")))
      .join(broadcast(q.withColumn("qn", norm2(col("qv")))), "bucket")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
      .dropDuplicates("qid", "nid") // multi-probe can score a pair twice
    topKByScore(scored, k)
  }

  /** IVF-Flat ANN: coarse quantization into `nlist` cells, query probes its
    * `nprobe` nearest cells, exact scoring only within probed cells.
    *
    * Centroids are the `nlist` corpus vectors with smallest
    * md5(vec_id) — a deterministic, engine-mirrorable stand-in for k-means
    * (random-subset centroids are the standard k-means init; training moves
    * recall, not the plan shape, and determinism buys an exact DuckDB
    * oracle). The 100 TB shape:
    *  - assignment is one pass over the corpus against BROADCAST centroids
    *    (O(n·nlist) codegen'd dot products, no corpus shuffle),
    *  - each (query, probe) lands on its cell via an equi-join on cell id,
    *    so scored pairs shrink from |Q|·|C| to |Q|·nprobe·E[cell size],
    *  - top-k is the bounded [[TopKPairs]] partial aggregate.
    * A corpus vector lives in exactly one cell and probe cells are
    * distinct, so no pair is scored twice (no dedup step needed). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val cent = coarseCentroids(corpus, nlist)
    val c = nearestCells(cent)(
      corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv")),
      "nid", "nv", 1).withColumn("nn", norm2(col("nv")))
    val q = nearestCells(cent)(
      queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv")),
      "qid", "qv", nprobe).withColumn("qn", norm2(col("qv")))
    val scored = c.join(broadcast(q), "cell")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** The `nlist` coarse-quantizer centroids: smallest-md5(vec_id) corpus
    * vectors (deterministic random-subset stand-in for trained k-means —
    * training moves recall, not plan shape; see [[ivfTopK]]). */
  private def coarseCentroids(corpus: DataFrame, nlist: Int): DataFrame =
    corpus
      .orderBy(md5(col("vec_id").cast(StringType).cast(BinaryType)), col("vec_id"))
      .limit(nlist)
      .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm2(col("cv")))

  /** Public top-1 cell assignment against `corpus`-derived coarse
    * centroids — the IVF index-MAINTENANCE primitive: a new vector batch
    * (e.g. one streaming micro-batch) is routed to its inverted list with
    * one broadcast-centroid pass and no corpus shuffle, exactly the
    * assignment [[ivfTopK]] performs on its corpus side. Output:
    * (vec_id, cell). */
  def ivfAssign(corpus: DataFrame, vectors: DataFrame, nlist: Int): DataFrame =
    nearestCells(coarseCentroids(corpus, nlist))(
      vectors.select(col("vec_id"), asDouble(col("embedding")).as("v")), "vec_id", "v", 1)
      .select(col("vec_id"), col("cell"))

  /** Folded into every ANN index-store key (the [[graft.operators.Dedup
    * .StoreAlgoVersion]] discipline): bump on any change to the
    * centroid rule / assignment semantics OR the store fileset contract,
    * so older persisted indexes can never serve newer code. Never reuse a
    * retired literal.
    *
    * rev=2 (r18): every link now carries a [[DriftSidecarFile]] — the
    * per-cell (n_base, s_base) drift partials the monitor reads instead
    * of rescanning the inverted lists. rev=1 filesets lack it. */
  val AnnStoreVersion: String = "ivfflat:rev=2"

  /** Handle over one persisted IVF index: `centroids` (cid, cv, cn) and
    * `lists` — the INVERTED LISTS: every corpus vector with its norm,
    * physically PARTITIONED BY CELL (`lists.parquet/cell=N/…`), so a
    * probe reads only its lists' files (Spark partition pruning — the
    * on-disk analog of an IVF index's per-list layout). */
  final case class AnnIndexStore(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, nlist: Int) {
    // explicit schemas: an EMPTY corpus publishes footer-less filesets
    // (a partitionBy write of zero rows lands no files), which must read
    // back as empty frames, not schema-inference failures
    def centroids: DataFrame =
      spark.read.schema("cid BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE")
        .parquet(s"$dir/centroids.parquet")
    /** The inverted lists. An ADVANCED index ([[annIndexStoreAdvance]])
      * holds only its own batch's delta fileset plus an [[AnnBaseFile]]
      * pointer; the full lists are the pointer chain's union — each link
      * is an independent cell-partitioned fileset, so a probed-cell
      * filter partition-prunes every link separately and a serve reads
      * only `cell=` directories it probed, never a whole link. */
    def lists: DataFrame = {
      val own = spark.read
        .schema("nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT")
        .parquet(s"$dir/lists.parquet")
      base.map(_.lists.unionByName(own)).getOrElse(own)
    }
    /** THIS link's drift-base sidecar — per-cell (n_base, s_base)
      * partials over the link's OWN lists fileset, written at
      * build/advance/compact/rebuild time (the manifest pattern the cell
      * store uses): the store-invariant half of the drift monitor,
      * persisted once so [[annIndexDrift]] reads nlist rows per link
      * instead of rescanning the inverted lists — including the
      * embedding vectors, the fattest column in the store — on every
      * monitoring cycle. */
    def ownDriftBase: DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$DriftSidecarFile")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p))
        throw new IllegalStateException(s"[graft] ANN store at '$dir' has " +
          s"no $DriftSidecarFile sidecar — it predates $AnnStoreVersion. " +
          "Rebuild the store (the keyed API never resolves pre-sidecar " +
          "filesets; only a hand-pointed dir can reach this).")
      spark.read.schema("cell BIGINT, n_base BIGINT, s_base DECIMAL(28,12)")
        .parquet(p.toString)
    }

    /** The whole store's drift-base partials: own sidecar ∪ the base
      * chain's (decimal sums are associative, so summing per-link
      * partials by cell equals one pass over the chain-union lists
      * EXACTLY). O(nlist × links) rows — never the index. */
    def driftBase: DataFrame =
      base.map(_.driftBase.unionByName(ownDriftBase)).getOrElse(ownDriftBase)

    /** The base index this store advances, if any. */
    def base: Option[AnnIndexStore] =
      Publish.readText(spark.sessionState.newHadoopConf(),
          new org.apache.hadoop.fs.Path(s"$dir/$AnnBaseFile"))
        .map(AnnIndexStore(spark, _, nlist))
  }

  /** Pointer file inside an ADVANCED index dir naming the base index dir
    * (written before the advance's atomic publish). The chain contract
    * matches parquet-over-object-store reality: links are immutable
    * filesets; deleting a base store orphans its descendants, exactly as
    * deleting a table's old files orphans a snapshot that references
    * them — retention is the store root's job, not the reader's. */
  private[graft] val AnnBaseFile = "BASE"

  /** Per-link drift-base sidecar fileset name (see
    * [[AnnIndexStore.ownDriftBase]]). */
  private[graft] val DriftSidecarFile = "drift_base.parquet"

  /** Provenance file inside a COMPACTED index dir naming the chain-head
    * dir it folded — what the `ann-gc` admin verb walks to find the
    * superseded links a compaction leaves behind. Provenance only: a
    * compacted store never reads through it. */
  private[graft] val CompactedFromFile = "COMPACTED_FROM"

  /** Write the [[DriftSidecarFile]] partials for the fileset just staged
    * at `tmp`: one pass over the staged lists (read BACK from tmp — the
    * written bytes are the truth the sidecar must mirror, and the
    * assignment pass is never recomputed) against the staged centroids,
    * folded to per-cell (n_base, s_base) exactly as
    * [[annIndexDriftFinish]] used to compute them per monitor run. The
    * sum is cast back to DECIMAL(28,12) — the sidecar's documented
    * schema — which is exact for any s_base < 10^16 (s_base ≤ 2·n). */
  private def writeDriftSidecar(spark: org.apache.spark.sql.SparkSession,
                                tmp: String): Unit = {
    val cent = spark.read.schema("cid BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE")
      .parquet(s"$tmp/centroids.parquet")
    val lists = spark.read
      .schema("nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT")
      .parquet(s"$tmp/lists.parquet")
    driftCellSim(cent)(lists, "nv", col("nn"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"),
        sum(round(lit(1.0) - col("sim"), 9).cast(DriftDec)).cast(DriftDec)
          .as("s_base"))
      .write.mode("overwrite").parquet(s"$tmp/$DriftSidecarFile")
  }

  /** Stage a full (non-advanced) index fileset at `tmp`: retrained
    * coarse centroids over `corpus` (vec_id, embedding), the
    * cell-partitioned inverted lists, and the drift sidecar — shared by
    * [[annIndexStore]] and [[annIndexStoreRebuild]] so rebuild ≡
    * from-scratch build is true by construction, not by parallel
    * maintenance of two bodies. */
  private def writeIndexFilesets(corpus: DataFrame, nlist: Int,
                                 tmp: String): Unit = {
    val cent = coarseCentroids(corpus, nlist)
    cent.write.mode("overwrite").parquet(s"$tmp/centroids.parquet")
    nearestCells(cent)(
      corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv")),
      "nid", "nv", 1)
      .withColumn("nn", norm2(col("nv")))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$tmp/lists.parquet")
    writeDriftSidecar(corpus.sparkSession, tmp)
  }

  /** Store-root family of the ANN index stores
    * ([[Publish.storePath]]). */
  private val StoreFamily = "graft-ann-store"

  /** Publish (build once) the ANN store keyed by `key` — `write` stages
    * its filesets into the temp dir it is given — and open it. */
  private def publishAnn(spark: org.apache.spark.sql.SparkSession, key: String,
                         nlist: Int)(write: String => Unit): AnnIndexStore = {
    val path = Publish.storePath(StoreFamily, key)
    Publish.publishIfAbsent(spark.sessionState.newHadoopConf(), path)(write)
    AnnIndexStore(spark, path.toString, nlist)
  }

  /** DURABLE IVF index — build-once/serve-many for the ANN family (the
    * dedup cluster store's posture applied to retrieval serving): first
    * call for a (corpus drop, nlist, [[AnnStoreVersion]]) key derives the
    * coarse centroids and routes every corpus vector to its inverted
    * list (one broadcast-centroid pass, no corpus shuffle), publishing
    * both with ONE atomic rename; subsequent calls — and every
    * [[ivfTopKStored]] serve — read the persisted index without touching
    * corpus embeddings. At 100 TB the cell-partitioned list layout is
    * the only artifact the query side scans, and only the probed
    * partitions of it. */
  def annIndexStore(corpus: DataFrame, nlist: Int,
                    corpusKey: String): AnnIndexStore = {
    val spark = corpus.sparkSession
    val stampDir = corpusKey.takeWhile(_ != '#')
    // fail-hard stamp contract shared with every store family — see
    // [[StoreStamp]]: absent table ⇒ opaque key (path-only, logged);
    // any other stamp-read fault ⇒ error, never a silent stale serve
    val stamp = StoreStamp.read(spark, stampDir, "embeddings.parquet",
      "annIndexStore")
    publishAnn(spark, s"$corpusKey|$stamp|nlist=$nlist|$AnnStoreVersion", nlist)(
      writeIndexFilesets(corpus, nlist, _))
  }

  /** The advance's ONLY computation, factored for the spec to pin its
    * read set: the batch assigned to the BASE store's pinned centroids
    * (one broadcast-centroid pass over the batch). `delta.inputFiles` is
    * exactly {base centroids fileset} ∪ {batch files} — no base list
    * file, no old-corpus file, anywhere in the plan. */
  private[graft] def annIndexAdvanceDelta(store: AnnIndexStore,
                                          batch: DataFrame): DataFrame =
    nearestCells(store.centroids)(
      batch.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv")),
      "nid", "nv", 1)
      .withColumn("nn", norm2(col("nv")))

  /** INCREMENTAL maintenance for the durable IVF index (the
    * dedup/span-store advance posture applied to retrieval serving):
    * route one new vector batch to the EXISTING index's inverted lists.
    * The batch is assigned against the base's PINNED centroids (16 rows,
    * broadcast — coarse quantizers are retrained on rebuild cadence, not
    * per batch, or every prior assignment would be invalidated), and the
    * advanced index publishes a NEW keyed dir holding only
    *  - `centroids.parquet` — the pinned centroids (nlist rows, copied),
    *  - `lists.parquet`     — the BATCH's delta lists, cell-partitioned,
    *  - [[AnnBaseFile]]     — a pointer to the base index dir,
    * with the same one-atomic-rename publish as [[annIndexStore]]. Old
    * vectors are never re-read and old list files never rewritten: the
    * advance's cost is one broadcast pass over the batch plus the delta
    * write — O(batch) at any index size. Serving reads the pointer
    * chain's union, partition-pruned per link, so a probe still touches
    * only probed `cell=` directories. [[AnnStoreVersion]] is folded into
    * the key unchanged — the assignment rule is identical, so existing
    * base indexes remain valid (store families version independently;
    * the r15 lesson of the shared-rev bump). */
  def annIndexStoreAdvance(store: AnnIndexStore, batch: DataFrame,
                           newKey: String): AnnIndexStore = {
    val spark = batch.sparkSession
    val stampDir = newKey.takeWhile(_ != '#')
    // fail-hard stamp contract ([[StoreStamp]]): a transient stamp-read
    // fault must error, not degrade — a degraded (path-only) key here
    // would serve a stale advanced store for a corpus that changed in
    // place (the r16 review's flagged edge)
    val stamp = StoreStamp.read(spark, stampDir, "embeddings.parquet",
      "annIndexStoreAdvance")
    publishAnn(spark,
        s"advance|${store.dir}|$newKey|$stamp|nlist=${store.nlist}|$AnnStoreVersion",
        store.nlist) { tmp =>
      store.centroids.write.mode("overwrite").parquet(s"$tmp/centroids.parquet")
      annIndexAdvanceDelta(store, batch)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$tmp/lists.parquet")
      // the link's OWN drift partials (delta lists only — the chain
      // monitor sums sidecars across links): one O(batch) pass over the
      // just-staged delta, so the advance stays O(batch) at any index size
      writeDriftSidecar(spark, tmp)
      Publish.writeText(spark.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(s"$tmp/$AnnBaseFile"), store.dir)
    }
  }

  /** COMPACTION for an advanced index chain: fold every link's inverted
    * lists into ONE cell-partitioned fileset under a new keyed store
    * (same pinned centroids, one atomic rename, no [[AnnBaseFile]]).
    * The advance chain is the write-optimized posture — O(batch) per
    * advance — but each serve lists and unions every link; after many
    * advances the per-probe file-listing overhead accumulates exactly
    * like small HFiles after many memstore flushes, and this is the
    * minor-compaction answer: ONE pass over the index files themselves
    * (never the corpus embeddings — the lists already carry vectors,
    * norms, and cell assignments), cost O(index), run on maintenance
    * cadence. Serving from the compacted store is value-identical:
    * assignments were all made against the same pinned centroids. */
  def annIndexStoreCompact(store: AnnIndexStore, newKey: String): AnnIndexStore = {
    val spark = store.spark
    publishAnn(spark,
        s"compact|${store.dir}|$newKey|nlist=${store.nlist}|$AnnStoreVersion",
        store.nlist) { tmp =>
      store.centroids.write.mode("overwrite").parquet(s"$tmp/centroids.parquet")
      store.lists.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$tmp/lists.parquet")
      // the compacted sidecar FOLDS the chain's sidecars (nlist·links
      // rows, decimal sums associative ⇒ exactly the union-lists
      // partials) instead of re-scoring the full folded lists — the one
      // part of compaction that doesn't need to touch vector data
      store.driftBase.groupBy(col("cell"))
        .agg(sum(col("n_base")).as("n_base"),
          sum(col("s_base")).cast(DriftDec).as("s_base"))
        .write.mode("overwrite").parquet(s"$tmp/$DriftSidecarFile")
      // provenance for retention tooling (`ann-gc`): which chain head
      // this compaction superseded — never read on the serve path
      Publish.writeText(spark.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(s"$tmp/$CompactedFromFile"), store.dir)
    }
  }

  /** REBUILD for a drifted index — the operator [[annIndexDrift]]'s
    * `rebuild_due` contract mandates ("retrain + rebuild + re-advance
    * from the new base"), closing the maintenance loop the monitor
    * opens: RETRAIN the coarse quantizer over the chain union's full
    * membership (the lists already carry every vector — the corpus is
    * never re-read) and publish a FRESH base index — new centroids, new
    * cell-partitioned lists, new drift sidecar, no [[AnnBaseFile]] —
    * under one atomic rename. Subsequent batches advance from the
    * rebuilt base; the superseded chain stays untouched until `ann-gc`
    * retires it (serving cutover first, retention second — the HFile
    * compaction discipline).
    *
    * The build is deterministic and shares [[annIndexStore]]'s staging
    * body verbatim ([[writeIndexFilesets]]), so rebuild(chain) is
    * VALUE-IDENTICAL to a from-scratch [[annIndexStore]] over the
    * chain's full corpus — which is exactly the hash-checked oracle of
    * the `ann_ivf_store_rebuild` query. Cost is O(index): one pass over
    * the chain-union lists for the centroid pick and one for the
    * re-assignment — run on monitor-fired cadence, never per batch. */
  def annIndexStoreRebuild(store: AnnIndexStore, newKey: String): AnnIndexStore = {
    val spark = store.spark
    // keyed on the chain head dir: a published chain is an immutable
    // fileset whose dir name already folds in corpus stamps and
    // [[AnnStoreVersion]] transitively, so no live-table stamp is needed
    publishAnn(spark,
        s"rebuild|${store.dir}|$newKey|nlist=${store.nlist}|$AnnStoreVersion",
        store.nlist)(writeIndexFilesets(
      store.lists.select(col("nid").as("vec_id"), col("nv").as("embedding")),
      store.nlist, _))
  }

  /** CENTROID-DRIFT MONITOR for the pinned-centroid IVF posture (the
    * rebuild-cadence contract): [[annIndexStoreAdvance]] and
    * [[annIndexStoreCompact]] pin the base centroids forever — coarse
    * quantizers retrain on REBUILD cadence, never per batch — so as the
    * corpus distribution shifts, serving recall decays silently unless
    * something measures the shift. This is that something, composing
    * the engine's two in-house drift shapes over the store:
    *
    *  - OCCUPANCY DRIFT — the incoming batch is assigned to the pinned
    *    centroids (the advance's own rule) and its per-cell occupancy
    *    distribution is PSI-compared to the stored lists' build-time
    *    distribution over the FIXED nlist-cell universe
    *    (Laplace-smoothed 0.5 pseudo-counts, the
    *    [[graft.operators.Profile.psiDrift]] convention): mass
    *    re-allocation across cells = the corpus moved relative to the
    *    quantizer.
    *  - QUANTIZATION-ERROR TREND — mean (1 − cos to assigned centroid)
    *    for stored vectors vs the batch: a batch that lands
    *    systematically farther from every pinned centroid is drifting
    *    into cells the quantizer never carved.
    *
    * REBUILD CONTRACT (`rebuild_due`): retrain + rebuild (then
    * re-advance from the new base) when PSI > 0.25 + PSI_NULL, or the
    * batch's mean quantization error exceeds 1.5× the build-time mean.
    * `psi_null = (nlist−1)·(1/n_batch + 1/n_base)` is the expected PSI
    * of a STATIONARY batch from finite-sample multinomial noise alone
    * (the χ²/n approximation: E[χ²] = k−1 per sample set) — without it
    * the industry 0.25 rule sits BELOW the noise floor at small batch
    * sizes and the alarm always fires (measured: a stationary 50-vector
    * batch over 16 cells reads PSI ≈ 0.37 against a null of 0.33; an
    * alarm that always fires is as useless as one that never does). As
    * n_batch and n_base grow the null vanishes and the threshold
    * converges to the standard 0.25. Run on every advance batch; cost
    * is one broadcast-centroid pass over the BATCH plus an O(nlist)
    * read of the store's persisted drift sidecars
    * ([[AnnIndexStore.driftBase]] — the base occupancy/qerr partials
    * are store invariants, written once at build/advance/compact, never
    * recomputed from the inverted lists; nothing corpus-sized is read
    * or shuffled, so the standing streaming monitor costs O(batch +
    * nlist) per trigger at any index size). Determinism:
    * round-9 terms through DECIMAL(28,12), one 6dp cut (the psiDrift
    * convention); the null is integer-derived double arithmetic — the
    * DuckDB oracle mirrors everything bit-exactly, thresholds included.
    *
    * Output: one row per cell — (cell, n_base, n_batch) — with the
    * monitor scalars (psi, psi_null, qerr_base, qerr_batch,
    * rebuild_due) attached to every row (the census pattern). */
  def annIndexDrift(store: AnnIndexStore, batch: DataFrame): DataFrame =
    annIndexDriftFinish(store, annIndexDriftBatchPartials(store, batch))

  /** The BATCH side of [[annIndexDrift]] as mergeable partials — (cell,
    * n_batch, s_batch): a count and a decimal qerr sum, both
    * associative, so micro-batch partials folded with
    * sum-by-cell equal the one-shot monitor EXACTLY (the
    * streaming-maintenance contract every replay-fold query rides). */
  private[graft] def annIndexDriftBatchPartials(store: AnnIndexStore,
                                                batch: DataFrame): DataFrame = {
    val cent = store.centroids
    val batchAsn = nearestCells(cent)(
      batch.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv")),
      "nid", "nv", 1)
    driftCellSim(cent)(batchAsn, "nv", norm2(col("nv")))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_batch"),
        sum(round(lit(1.0) - col("sim"), 9).cast(DriftDec)).as("s_batch"))
  }

  /** Winning-cell similarity against the broadcast pinned centroids:
    * stored rows carry their precomputed norm, batch rows norm on the
    * fly — both round-6, the store family's cosine form. */
  private def driftCellSim(cent: DataFrame)(
      df: DataFrame, v: String, n: Column): DataFrame =
    df.join(broadcast(cent), col("cell") === col("cid"))
      .select(col("cell"),
        round(dot(col(v), col("cv")) / (n * col("cn")), 6).as("sim"))

  private val DriftDec = org.apache.spark.sql.types.DecimalType(28, 12)

  /** [[annIndexDrift]] given already-aggregated batch partials (one-shot
    * or a folded streaming store — identical by associativity). */
  private[graft] def annIndexDriftFinish(store: AnnIndexStore,
                                         batchPartials: DataFrame): DataFrame = {
    val dec = DriftDec
    val cent = store.centroids
    val nlist = store.nlist
    // the base side is a STORE INVARIANT (pinned centroids, immutable
    // filesets), so it is read from the per-link sidecars — nlist rows
    // per chain link — never recomputed from the inverted lists. Until
    // r18 this line scanned every list file (embedding vectors included)
    // on every monitor run; the standing streaming monitor re-ran that
    // full-index pass per trigger. Now the monitor's read set excludes
    // list files entirely (spec-pinned), and its base cost is O(nlist).
    val basePerCell = store.driftBase.groupBy(col("cell"))
      .agg(sum(col("n_base")).as("n_base"),
        sum(col("s_base")).as("s_base"))
    val u = cent.select(col("cid").as("cell"))
      .join(basePerCell, Seq("cell"), "left")
      .join(batchPartials, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        coalesce(col("s_base"), lit(0).cast(dec)).as("s_base"),
        coalesce(col("s_batch"), lit(0).cast(dec)).as("s_batch"))
    val tot = u.agg(sum(col("n_base")).as("nb"), sum(col("n_batch")).as("nq"),
      sum(col("s_base")).as("sb"), sum(col("s_batch")).as("sq"))
    val p = (col("n_base").cast("double") + lit(0.5)) /
      (col("nb").cast("double") + lit(0.5) * lit(nlist))
    val q = (col("n_batch").cast("double") + lit(0.5)) /
      (col("nq").cast("double") + lit(0.5) * lit(nlist))
    val psiRow = u.crossJoin(broadcast(tot)) // 1-row scalar, documented pattern
      .agg(round(sum(round((q - p) * log(q / p), 9).cast(dec))
        .cast("double"), 6).as("psi"))
    val monitor = psiRow.crossJoin(broadcast(tot))
      .select(col("psi"),
        // finite-sample null: the PSI a stationary batch produces from
        // multinomial noise alone; sentinel-infinite when either side
        // has no samples (drift is unassessable, never alarmed)
        when(col("nb") > 0 && col("nq") > 0,
          round(lit(nlist - 1) *
            (lit(1.0) / col("nq").cast("double") +
             lit(1.0) / col("nb").cast("double")), 6))
          .otherwise(lit(1.0e308)).as("psi_null"),
        when(col("nb") > 0,
          round(col("sb").cast("double") / col("nb").cast("double"), 6))
          .otherwise(lit(0.0)).as("qerr_base"),
        when(col("nq") > 0,
          round(col("sq").cast("double") / col("nq").cast("double"), 6))
          .otherwise(lit(0.0)).as("qerr_batch"))
      .select(col("psi"), col("psi_null"), col("qerr_base"), col("qerr_batch"),
        (col("psi") > round(lit(0.25) + col("psi_null"), 6) ||
          col("qerr_batch") > lit(1.5) * col("qerr_base")).as("rebuild_due"))
    u.select(col("cell"), col("n_base"), col("n_batch"))
      .crossJoin(broadcast(monitor))
  }

  /** [[ivfTopK]] SERVED from a persisted index: probe cells against the
    * stored centroids (broadcast), score only inside the probed inverted
    * lists, bounded top-k. Values are identical to the self-contained
    * [[ivfTopK]] on the same corpus — the store build is deterministic,
    * so store ≡ recompute is oracle-checkable.
    *
    * The probed-cells-only read is a CONTRACT, not an optimizer
    * courtesy: the probe assignment (nprobe × |queries| cells — driver
    * sized by definition; the probe side is broadcast anyway) is
    * collected and pushed as an explicit `cell IN (…)` PARTITION filter
    * on the stored lists, so file-level pruning to the probed `cell=`
    * directories holds by static partition pruning regardless of whether
    * dynamic partition pruning elects to fire. The spec pins
    * `inputFiles ⊆ probed partitions` on exactly this plan. */
  def ivfTopKStored(store: AnnIndexStore, queries: DataFrame, k: Int,
                    nprobe: Int = 4): DataFrame = {
    val q = Dedup.materialize(nearestCells(store.centroids)(
      queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv")),
      "qid", "qv", nprobe).withColumn("qn", norm2(col("qv"))))
    val probed = q.select(col("cell")).distinct().collect().map(_.getLong(0))
    val scored = store.lists
      .where(col("cell").isInCollection(probed.toSeq))
      .join(broadcast(q), "cell")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** Nearest-centroid cells for a vector set: top-`n` centroids by
    * (cosine DESC, cid ASC) — rank semantics identical to topKByScore.
    * Grouping is by the 8-byte id ONLY; the vector rides as a first()
    * aggregate (constant within the group), so the assignment exchange
    * hashes/compares scalar keys instead of the ~512 B embedding array.
    * Output: (id, v, cell), `n` rows per input vector. */
  private def nearestCells(cent: DataFrame)(
      df: DataFrame, id: String, v: String, n: Int): DataFrame =
    df.crossJoin(broadcast(cent))
      .select(col(id), col(v),
        round(dot(col(v), col("cv")) / (norm2(col(v)) * col("cn")), 6).as("sim"),
        col("cid"))
      .groupBy(col(id))
      .agg(TopKPairs.topK(struct(col("sim"), col("cid")), n).as("top"),
        first(col(v)).as(v))
      .select(col(id), col(v), explode(col("top")).as("t"))
      .select(col(id), col(v), col("t.payload").as("cell"))

  val PqM = 8     // subspaces
  val PqKsub = 16 // codes per subspace

  /** PQ codebook: per subspace j, the `ksub` deterministic sample vectors'
    * j-th subvector slices, code = the vector's rank in md5 order (the
    * same random-subset stand-in for trained k-means centroids as
    * [[ivfTopK]] — training moves quantization error, not plan shape, and
    * determinism buys an exact oracle). Output: (j, code, cv), m·ksub rows
    * — driver-small, always broadcast. */
  private def pqCentroids(corpus: DataFrame, m: Int, ksub: Int, dims: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(md5(col("vec_id").cast(StringType).cast(BinaryType)), col("vec_id"))
    val sub = dims / m
    corpus
      .orderBy(ord: _*)
      .limit(ksub)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      // ksub rows total: the unpartitioned window is a single tiny task
      .withColumn("code", row_number().over(Window.orderBy(ord: _*)) - 1)
      .select(col("code"), explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col("v"), j * sub + 1, sub).as("cv"))
      }: _*)).as("t"))
      .select(col("t.j").as("j"), col("code"), col("t.cv").as("cv"))
  }

  /** Rounded squared L2 between two double arrays (‖x‖² − 2x·c + ‖c‖²,
    * codegen'd dots; round 6 keeps argmin engine-stable). */
  private def l2sq(x: Column, c: Column): Column =
    round(dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c), 6)

  /** Product-quantization codes — the memory-scale ANN representation:
    * each `dims`-dim vector compresses to `m` small codes (one nearest
    * sub-centroid per subspace), m·log2(ksub) bits instead of dims·32 —
    * at 100 TB the difference between an index that fits executor memory
    * and one that doesn't.
    *
    * Scale shape: the codebook (m·ksub subvectors) broadcasts; assignment
    * is one corpus pass — explode into m subvector rows, broadcast-join
    * the codebook, codegen'd squared-L2 per candidate, bounded
    * [[graft.functions.TopKPairs]] argmin with map-side partials. No
    * corpus shuffle wider than (vec_id, j).
    * Output tall: (vec_id, j, code), code ∈ [0, ksub). */
  def pqCodes(corpus: DataFrame, m: Int = PqM, ksub: Int = PqKsub,
              dims: Int = 64): DataFrame =
    pqCodesWith(corpus, pqCentroids(corpus, m, ksub, dims), m, dims)

  /** [[pqCodes]] against an already-built codebook — the codebook
    * derivation is a corpus-wide TakeOrdered scan, so callers needing
    * both codes and the codebook (the ADC search) build it once. */
  private def pqCodesWith(corpus: DataFrame, cb: DataFrame,
                          m: Int, dims: Int): DataFrame = {
    val sub = dims / m
    val vecs = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col("v"), j * sub + 1, sub).as("sv"))
      }: _*)).as("t"))
      .select(col("vec_id"), col("t.j").as("j"), col("t.sv").as("sv"))
    vecs.join(broadcast(cb), "j")
      .select(col("vec_id"), col("j"),
        (-l2sq(col("sv"), col("cv"))).as("nd2"), col("code"))
      .groupBy(col("vec_id"), col("j"))
      .agg(TopKPairs.topK(struct(col("nd2"), col("code").cast(LongType)), 1).as("top"))
      .select(col("vec_id"), col("j"),
        col("top").getItem(0).getField("payload").cast(IntegerType).as("code"))
  }

  /** Asymmetric-distance (ADC) approximate top-k over PQ codes: the query
    * stays exact, every corpus vector is its code tuple, and distance is
    * the sum of per-subspace query→centroid distances looked up from a
    * tiny table — the classic Jégou et al. (TPAMI 2011) search shape.
    *
    * Scale shape: the per-query distance table (|Q|·m·ksub rounded
    * DECIMAL entries) broadcasts; the corpus side joins it on (j, code) —
    * an equi-join against the CODES, never the vectors — then one
    * (qid, nid) aggregate sums the m exact decimal terms
    * (order-independent addition, so the score is bit-stable) and the
    * bounded top-k ships k pairs per query. The raw embedding column is
    * read ONCE (to code the corpus); the search itself touches only
    * m-code rows. Output: (qid, nid, adc, rank), adc ascending. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                m: Int = PqM, ksub: Int = PqKsub, dims: Int = 64): DataFrame = {
    val sub = dims / m
    val cb = pqCentroids(corpus, m, ksub, dims)
    val codes = pqCodesWith(corpus, cb, m, dims)
      .select(col("vec_id").as("nid"), col("j"), col("code"))
    val qsub = queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .select(col("qid"), explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col("qv"), j * sub + 1, sub).as("sv"))
      }: _*)).as("t"))
      .select(col("qid"), col("t.j").as("j"), col("t.sv").as("sv"))
    val dtab = qsub.join(broadcast(cb), "j")
      .select(col("qid"), col("j"), col("code"),
        l2sq(col("sv"), col("cv")).cast(DecimalType(18, 6)).as("pd"))
    val scored = codes.join(broadcast(dtab), Seq("j", "code"))
      .where(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("pd")).as("adcd"))
      .select(col("qid"), col("nid"), col("adcd").cast(DoubleType).as("adc"))
    scored.groupBy(col("qid"))
      .agg(TopKPairs.topK(struct((-col("adc")).as("ord"), col("nid")), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.payload").as("nid"), (-col("col.ord")).as("adc"),
        (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** IVF-ADC: the billion-scale ANN configuration — coarse cells bound
    * WHICH vectors a query scores ([[ivfTopK]]'s inverted lists), PQ codes
    * bound what each score COSTS ([[pqAdcTopK]]'s table lookups). This is
    * the non-residual IVFADC variant (codes quantize raw vectors, not
    * cell residuals — Jégou et al. TPAMI 2011 §IV notes the residual
    * refinement as optional): cell structure and codebook stay
    * independent, which keeps the DuckDB oracle exact.
    *
    * Scale shape: candidate pairs come from the cell equi-join
    * (|Q|·nprobe·E[cell size], never |Q|·|C|); each candidate then costs
    * m code lookups against the BROADCAST per-query distance table
    * instead of a dims-wide dot product, and the only corpus-sized
    * exchange is the (nid)-keyed join of candidates to codes. Raw
    * embeddings are read once each for assignment and coding; the search
    * itself never touches them. Output: (qid, nid, adc, rank). */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nlist: Int = 16, nprobe: Int = 4,
                 m: Int = PqM, ksub: Int = PqKsub, dims: Int = 64): DataFrame = {
    val sub = dims / m
    val cent = coarseCentroids(corpus, nlist)
    val cand = nearestCells(cent)(
        corpus.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nv")),
        "nid", "nv", 1)
      .select(col("nid"), col("cell"))
      .join(broadcast(nearestCells(cent)(
          queries.select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv")),
          "qid", "qv", nprobe)
        .select(col("qid"), col("cell"))), "cell")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    val cb = pqCentroids(corpus, m, ksub, dims)
    val codes = pqCodesWith(corpus, cb, m, dims)
      .select(col("vec_id").as("nid"), col("j"), col("code"))
    val dtab = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .select(col("qid"), explode(array((0 until m).map { j =>
        struct(lit(j).as("j"), slice(col("qv"), j * sub + 1, sub).as("sv"))
      }: _*)).as("t"))
      .select(col("qid"), col("t.j").as("j"), col("t.sv").as("sv"))
      .join(broadcast(cb), "j")
      .select(col("qid"), col("j"), col("code"),
        l2sq(col("sv"), col("cv")).cast(DecimalType(18, 6)).as("pd"))
    val scored = cand.join(codes, "nid")
      .join(broadcast(dtab), Seq("qid", "j", "code"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("pd")).as("adcd"))
      .select(col("qid"), col("nid"), col("adcd").cast(DoubleType).as("adc"))
    scored.groupBy(col("qid"))
      .agg(TopKPairs.topK(struct((-col("adc")).as("ord"), col("nid")), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.payload").as("nid"), (-col("col.ord")).as("adc"),
        (col("pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Metadata-filtered exact top-k: each query only scores corpus vectors
    * sharing its partition attribute (tenant / language / label) — the
    * standard "ANN with filters" retrieval shape. The equi-join on the
    * attribute replaces [[bruteForceTopK]]'s broadcast cross join, so cost
    * drops from |Q|·|C| to Σ_q |partition(q)| and the filter is enforced
    * in the join key itself, never post-hoc (no k-starvation from
    * filtering after ranking). Queries broadcast as usual; the corpus side
    * stays partitioned and unshuffled. Output: (qid, nid, cos_sim, rank). */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   filterCol: String): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col(filterCol),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm2(col("qv")))
    val c = corpus.select(col("vec_id").as("nid"), col(filterCol),
        asDouble(col("embedding")).as("nv"))
      .withColumn("nn", norm2(col("nv")))
    val scored = c.join(broadcast(q), filterCol)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** Per-label mean embedding — the class-centroid primitive behind
    * SemDeDup-style pruning, cluster-conditioned curation and
    * nearest-centroid classification.
    *
    * Scale shape: the explode multiplies rows by `dims`, but the aggregate
    * is keyed on (label, dim) so map-side partial aggregation collapses
    * each partition to |labels|·dims rows BEFORE the exchange — the
    * shuffle is codebook-sized, not corpus-sized. Sums go through
    * DECIMAL(28,12) (exact, order-independent) so the mean is bit-stable
    * across partial-agg orders and engines; each component is rounded to
    * 6 decimals so downstream cosine math is engine-mirrorable.
    * Output tall: (label, dim, c), dim ∈ [0, dims). */
  def labelCentroids(corpus: DataFrame): DataFrame =
    corpus
      .select(col("label"), posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(
        sum(col("v").cast(DecimalType(28, 12))).cast(DoubleType) / count(col("v")),
        6).as("c"))

  /** Cosine of every vector to its OWN label centroid — the per-item
    * "prototypicality" score SemDeDup-style pruning thresholds on (drop
    * the near-centroid redundant mass, keep the tails).
    *
    * Scale shape: centroids are |labels|·dims rows — always broadcast —
    * re-assembled into arrays by a tiny post-aggregate sort, so scoring
    * is ONE corpus pass of codegen'd dot products with no corpus
    * exchange at all. Output: (vec_id, label, cos_centroid). */
  def centroidSim(corpus: DataFrame): DataFrame = {
    val cent = labelCentroids(corpus)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        t => t.getField("c")).as("cv"))
    corpus.select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        round(dot(col("v"), col("cv")) / (norm2(col("v")) * norm2(col("cv"))), 6)
          .as("cos_centroid"))
  }

  /** Lloyd's k-means over the embedding column — the clustering primitive
    * behind cluster-conditioned curation (SemDeDup partitions, diversity
    * sampling, per-cluster quality thresholds) when no label column exists
    * for [[labelCentroids]].
    *
    * Deterministic end to end, no RNG state: init picks the `k` vectors
    * first in (md5(vec_id), vec_id) order — a seedless pseudo-random
    * spread, the [[pqCentroids]] trick — and every assignment breaks
    * distance ties by centroid id. Squared L2 is computed as
    * ‖v‖² − 2·v·c + ‖c‖² with the codegen'd [[dot]] and rounded to 6
    * decimals (fold-order float noise cannot reorder an argmin), centroid
    * recomputation is the decimal-exact [[labelCentroids]] mean — so the
    * whole fixpoint is bit-reproducible across engines and partitionings,
    * and the DuckDB oracle ([[kMeansSql]]) mirrors it literally.
    *
    * Scale shape: centroids are k·dims doubles — always broadcast — so
    * each iteration is ONE unshuffled corpus pass (k codegen'd dot
    * products per row, map-side argmin) plus a codebook-sized centroid
    * aggregate (the explode is collapsed by partial aggregation before
    * the exchange, exactly [[labelCentroids]]). The corpus is never
    * exchanged; `iters` is fixed, not converged, keeping the plan finite
    * and oracle-mirrorable. An emptied cluster drops out of the codebook
    * (both engines identically). Output: (vec_id, cluster, d2) — the
    * final assignment with its rounded squared distance. */
  def kMeans(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    val seedOrder = Window.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
    var cent = e.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id")).limit(k)
      .select((row_number().over(seedOrder) - 1).as("cid"), col("v").as("cv"))
      .withColumn("cc", dot(col("cv"), col("cv")))
    def assign = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"),
        round(col("vv") - lit(2) * dot(col("v"), col("cv")) + col("cc"), 6).as("d2"),
        col("cid"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("v"), col("d2")),
        struct(col("d2"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.v").as("v"), col("best.d2").as("d2"))
    for (_ <- 1 until iters) {
      cent = assign
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(round(
          sum(col("x").cast(DecimalType(28, 12))).cast(DoubleType) / count(col("x")),
          6).as("c"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          t => t.getField("c")).as("cv"))
        .withColumn("cc", dot(col("cv"), col("cv")))
    }
    assign.select(col("vec_id"), col("cid").cast(IntegerType).as("cluster"), col("d2"))
  }

  /** SemDeDup-shaped semantic near-dup candidates: [[kMeans]] partitions
    * the corpus into k cells, and exact cosine pairs are computed WITHIN
    * cells only — the O(n²) pair search becomes k·O((n/k)²), and because
    * near-duplicates land in the same cell (they are near the same
    * centroid), recall concentrates where the mass is. At 100 TB, k scales
    * with corpus size to bound E[cell size]; the pair join is an equi-join
    * on the cluster id, never a corpus-wide cross product. Output:
    * (cluster, a, b, cos_sim), a < b, cos_sim ≥ threshold. */
  def semanticPairs(corpus: DataFrame, k: Int, iters: Int,
                    threshold: Double): DataFrame = {
    // the assignment feeds both self-join sides — materialize once
    val assign = kMeans(corpus, k, iters)
      .select(col("vec_id"), col("cluster")).materialized
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nn", norm2(col("v")))
      .join(assign, "vec_id")
    e.as("x").join(e.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cluster").as("cluster"),
        col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(dot(col("x.v"), col("y.v")) / (col("x.nn") * col("y.nn")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** DuckDB mirror of [[semanticPairs]] (oracle builder). */
  def semanticPairsSql(k: Int, iters: Int, threshold: Double): String =
    s"""WITH km AS (SELECT * FROM (${kMeansSql(k, iters)})),
        ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        j AS (SELECT km.vec_id, km.cluster, ee.v
              FROM km JOIN ee USING (vec_id))
        SELECT x.cluster AS cluster, x.vec_id a, y.vec_id b,
          round(list_cosine_similarity(x.v, y.v), 6) cos_sim
        FROM j x JOIN j y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v), 6) >= $threshold"""

  /** Top principal component of the embedding corpus by the power method
    * — the PCA direction used for embedding whitening / anisotropy
    * correction before cosine-based dedup (dominant-direction removal is
    * why "all-embeddings-look-alike" collapses). Fixed `iters` iterations
    * from the exact all-0.125 start (1/√64 for dim 64 — exact in binary,
    * so the init needs no rounding): vₖ₊₁ = normalize(M·vₖ) with
    * M = Σᵢ xᵢxᵢᵀ the (uncentered) second-moment matrix.
    *
    * Scale shape: the corpus is read EXACTLY ONCE — M comes from the
    * [[graft.functions.GramMoments]] one-pass typed aggregate and
    * materializes as a d²-row frame; every power iteration then runs on
    * THAT frame (a d²-row grouped sum — constant-sized work), not on the
    * corpus. (The previous form re-scanned the whole corpus once per
    * iteration — at 4 iterations, 4 × 100 TB instead of 1×. Power
    * iteration on M is the textbook identity: Σᵢ (xᵢ·v)·xᵢ = (Σᵢ xᵢxᵢᵀ)v,
    * modulo the old form's per-row 6dp projection rounding, which the
    * mirror reproduced and both sides now drop together.)
    *
    * Determinism: M's entries are exact scaled-integer sums (see
    * GramMoments — order-independent, bit-identical cross-engine)
    * divided by the constant 1e9 (one correctly-rounded IEEE op); each
    * iteration's d²-term Σⱼ goes through DECIMAL(28,12) (sum order
    * cannot matter); the norm is decimal-summed the same way; each new
    * component is rounded once. [[topPcSql]] mirrors it literally.
    * Output: (dim, loading). */
  def topPrincipalComponent(corpus: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(iters >= 1)
    import graft.operators.Dedup.MaterializeSyntax
    val dec = DecimalType(28, 12)
    // ONE corpus pass → the d×d second-moment matrix (i, j, m)
    val m = corpus.select(asDouble(col("embedding")).as("v"))
      .agg(graft.functions.GramMoments.gram(col("v"), dim).as("g"))
      .where(col("g.n") > 0) // empty corpus → empty frames (never 0/√0 below)
      .select(posexplode(col("g.s2")).as(Seq("k", "s")))
      .select(floor(col("k") / dim).cast(IntegerType).as("i"),
        pmod(col("k"), lit(dim)).cast(IntegerType).as("j"),
        (col("s") / lit(1e9)).as("m"))
      .materialized // consumed once per iteration — never recompute the pass
    var cur = m.sparkSession.range(1)
      .select(array((0 until dim).map(_ =>
        lit(BigDecimal(1.0 / math.sqrt(dim.toDouble)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)): _*).as("pc"))
    for (_ <- 1 to iters) {
      val w = m.crossJoin(broadcast(cur))
        .select(col("i").as("dim"),
          (col("m") * element_at(col("pc"), col("j") + 1)).as("t"))
        .groupBy(col("dim"))
        .agg(sum(col("t").cast(dec)).cast(DoubleType).as("w"))
      val n2 = w.agg(sum((col("w") * col("w")).cast(dec))
        .cast(DoubleType).as("n2"))
      cur = w.crossJoin(broadcast(n2))
        .select(col("dim"), round(col("w") / sqrt(col("n2")), 6).as("c"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          t => t.getField("c")).as("pc"))
    }
    cur.select(posexplode(col("pc")).as(Seq("dim", "loading")))
  }

  /** Whitened ANN: remove the [[topPrincipalComponent]] direction from
    * every vector (w = v − (v·pc)·pc, the anisotropy / "common direction"
    * correction) and run the broadcast-query cosine top-k on the
    * residuals — similarity after discounting what ALL embeddings share.
    * The pc is a dim-double 1-row broadcast; the whitening itself is a
    * shuffle-free projection, so the plan shape is [[bruteForceTopK]]'s
    * plus the power-iteration passes. */
  def whitenedTopK(corpus: DataFrame, dim: Int, iters: Int,
                   queryId: Long, k: Int): DataFrame = {
    // the PC is one dim-double row consumed by BOTH the query-row whitening
    // and the corpus whitening — checkpoint it so the power-iteration chain
    // (iters corpus passes) runs exactly once, not once per consumer
    val pcArr = topPrincipalComponent(corpus, dim, iters)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("loading")))),
        t => t.getField("loading")).as("pc"))
      .materialized
    def whiten(df: DataFrame): DataFrame = df
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(pcArr))
      .withColumn("d", round(dot(col("v"), col("pc")), 6))
      // unrolled element_at arithmetic instead of a zip_with lambda: every
      // term is a codegen'd built-in, so the projection stays inside
      // whole-stage codegen (the HOF form ran interpreted per row)
      .select(col("vec_id"),
        array((1 to dim).map(i =>
          element_at(col("v"), i) - col("d") * element_at(col("pc"), i)): _*)
          .as("w"))
      .withColumn("wn", norm2(col("w")))
    // whiten the single query row on its own pushed-down scan, so the
    // full-corpus whitening is consumed exactly once by the scoring pass
    val q = whiten(corpus.where(col("vec_id") === queryId))
      .select(lit(queryId).as("qid"), col("w").as("qw"), col("wn").as("qn"))
    val scored = whiten(corpus).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot(col("w"), col("qw")) / (col("wn") * col("qn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** The power-iteration CTE chain (e, m2, v0..v`iters`) shared by the
    * [[topPcSql]] and [[whitenedTopKSql]] oracles — mirrors the
    * one-Gram-pass form: m2 is the scaled second-moment matrix
    * (GramMoments' quantization, floor(x·10⁹+0.5) summed exactly), and
    * each iteration is a d²-term decimal sum over m2, not a corpus scan. */
  private def topPcChainSql(dim: Int, iters: Int): String = {
    require(iters >= 1)
    val v0 = BigDecimal(1.0 / math.sqrt(dim.toDouble)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val iterCtes = (1 to iters).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS (SELECT i AS dim,
         |          CAST(SUM(CAST(m * pc[j+1] AS DECIMAL(28,12))) AS DOUBLE) w
         |        FROM m2, $prev GROUP BY i),
         |n$r AS (SELECT CAST(SUM(CAST(w*w AS DECIMAL(28,12))) AS DOUBLE) n2 FROM w$r),
         |v$r AS (SELECT list(round(w / sqrt(n2), 6) ORDER BY dim) pc
         |        FROM w$r, n$r)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |  m2 AS (SELECT i, j,
       |          CAST(SUM(CAST(floor(v[i+1]*v[j+1]*1e9 + 0.5) AS BIGINT))
       |            AS DOUBLE) / 1e9 m
       |         FROM e, (SELECT unnest(range($dim)) i),
       |              (SELECT unnest(range($dim)) j)
       |         GROUP BY i, j),
       |  v0 AS (SELECT list_transform(range($dim), i -> $v0) pc),
       |  ${iterCtes.mkString(",\n  ")}""".stripMargin
  }

  /** The unrolled DuckDB mirror of [[topPrincipalComponent]] over the
    * `embeddings` table (oracle builder). */
  def topPcSql(dim: Int, iters: Int): String =
    s"""${topPcChainSql(dim, iters)}
       |SELECT CAST(i AS INT) AS dim, pc[i+1] AS loading
       |FROM v$iters, (SELECT unnest(range($dim)) i)""".stripMargin

  /** The DuckDB mirror of [[whitenedTopK]] (oracle builder). */
  def whitenedTopKSql(dim: Int, iters: Int, queryId: Long, k: Int): String =
    s"""${topPcChainSql(dim, iters)},
       |  ew AS (SELECT vec_id,
       |          list_transform(range($dim),
       |            j -> v[j+1] - round(list_dot_product(v, pc), 6) * pc[j+1]) w
       |        FROM e, v$iters),
       |  q AS (SELECT w qw FROM ew WHERE vec_id = $queryId),
       |  sc AS (SELECT $queryId AS qid, vec_id nid,
       |          round(list_cosine_similarity(w, qw), 6) cos_sim FROM ew, q),
       |  r AS (SELECT qid, nid, cos_sim,
       |         row_number() OVER (ORDER BY cos_sim DESC, nid ASC) rn FROM sc)
       |SELECT qid, nid, cos_sim, CAST(rn AS INTEGER) AS rank
       |FROM r WHERE rn <= $k""".stripMargin

  /** The unrolled DuckDB mirror of [[kMeans]] over the `embeddings` table
    * (oracle builder). */
  def kMeansSql(k: Int, iters: Int): String = {
    require(iters >= 1)
    def assignCte(name: String, centCte: String) =
      s"""$name AS (SELECT vec_id, v, cid, d2 FROM (
            SELECT e.vec_id, e.v, c.cid,
              round(list_dot_product(e.v, e.v)
                    - 2*list_dot_product(e.v, c.cv)
                    + list_dot_product(c.cv, c.cv), 6) d2,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY round(list_dot_product(e.v, e.v)
                    - 2*list_dot_product(e.v, c.cv)
                    + list_dot_product(c.cv, c.cv), 6) ASC, c.cid ASC) rn
            FROM e, $centCte c) WHERE rn = 1)"""
    def centCte(name: String, assignCteName: String) =
      s"""$name AS (SELECT cid, list(c ORDER BY dim) cv FROM (
            SELECT cid, t.dim dim,
              round(CAST(SUM(CAST(t.v AS DECIMAL(28,12))) AS DOUBLE)
                / COUNT(t.v), 6) c
            FROM (SELECT cid, unnest(list_transform(range(len(v)),
                    i -> {'dim': i, 'v': v[i+1]})) t
                  FROM $assignCteName) GROUP BY 1, 2) GROUP BY cid)"""
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
          c0 AS (SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 cid, v cv
                 FROM (SELECT vec_id, v FROM e
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k))"""
    val steps = (1 until iters).flatMap(i =>
      Seq(assignCte(s"a$i", s"c${i - 1}"), centCte(s"c$i", s"a$i")))
    val fin = assignCte(s"a$iters", s"c${iters - 1}")
    (Seq(base) ++ steps :+ fin).mkString(",\n") +
      s"\nSELECT vec_id, CAST(cid AS INT) AS cluster, d2 FROM a$iters"
  }

  /** Near-dup pairs at scale: banded RP-sketch candidate generation + exact
    * cosine verify WITHIN buckets — the composition [[cosinePairs]]'s
    * scaladoc promises. Each band b hashes planes [b·r, b·r+r); a pair is a
    * candidate if it collides in ANY band (recall 1-(1-p^r)^bands for
    * per-plane agreement p), and every candidate is verified with the exact
    * dot product, so false positives are zero and the only approximation is
    * band recall. The per-band self-join is an equi-join on (band, bucket) —
    * no O(n²) BroadcastNestedLoopJoin anywhere in the plan; at 100 TB,
    * planesPerBand scales with log(n) to keep E[bucket size] bounded. */
  /** An RP-band bucket past this occupancy contributes occ²/2 candidate
    * pairs from ONE (band, bucket) key — the same boilerplate-cohort
    * quadratic [[graft.operators.Dedup.BandBucketCap]] caps for MinHash
    * buckets: a corpus with 10⁶ near-identical template embeddings (one
    * embedded boilerplate page) collides them into one bucket in EVERY
    * band. Buckets past the cap are dropped from candidate generation;
    * their members are near-certainly an exact-duplicate cohort, which an
    * identity pass (group by the rounded vector's digest) catches without
    * any pair join — compose exact dedup first and the cap costs recall
    * only for similar-but-distinct vectors whose every collision band is
    * oversized. 10,000 bounds one bucket at 5·10⁷ pairs while sitting
    * far above any bucket the declared corpora produce. */
  val RpBucketCap = 10000

  /** Deployment sizing for the RP-band layout: planes per band so that
    * E[bucket occupancy] stays near `targetOccupancy` for an `n`-vector
    * corpus (buckets/band = 2^planes). Bucket count is a DATA-SIZE knob,
    * not a constant — the fixed default (4 planes = 16 buckets) prices a
    * ×10 corpus at α ≈ 1.4–1.7 (candidate volume ~n²/buckets), while
    * scaling planes with log2(n) holds the candidate stage linear
    * (measured: 38.1 s → 5.3 s at ×10, α 0.55 — SCALESTRESS_embscale.md).
    * More planes lower per-band recall; deployments compensate with more
    * bands — recall tuning is the S-curve eval's job, this function sizes
    * COST. Clamped to [4, 24] (16 buckets minimum keeps tiny corpora off
    * degenerate 1-bucket bands; 2^24 buckets is past any single-cluster
    * corpus).
    *
    * Since round 16 this is the DEFAULT layout of every declared RP-band
    * consumer ([[cosinePairsBucketed]] sizes itself from a planning-time
    * corpus count when no explicit layout is passed), so the formula is
    * INTEGER arithmetic — smallest r in [4, 24] with 2^r · occupancy ≥ n —
    * rather than ceil(log2(n/occ)): the two agree everywhere except that
    * float log2 of an exact power of two can land one ulp above the
    * integer and ceil to the wrong plane count, and the DuckDB oracle
    * mirrors the integer form bit-exactly. */
  def rpPlanesFor(n: Long, targetOccupancy: Int = RpTargetOccupancy,
                  maxPlanes: Int = RpMaxPlanes): Int = {
    require(targetOccupancy >= 1, s"targetOccupancy must be >= 1")
    require(maxPlanes >= 4 && maxPlanes <= 62,
      s"maxPlanes must be in [4, 62], got $maxPlanes")
    // overflow-free form of 2^r·occupancy >= n: compare ceil(n/2^r) to the
    // occupancy instead — (1L << r) * occupancy wraps Long from r ≈ 57 at
    // the default occupancy, exactly the raise-maxPlanes regime the API
    // advertises for past-envelope corpora
    (4 to maxPlanes).find(r => n <= 0 || ((n - 1) >> r) + 1 <= targetOccupancy)
      .getOrElse(maxPlanes)
  }

  /** Sized-layout defaults and their VALIDITY ENVELOPE: the plane count
    * is clamped at [[RpMaxPlanes]], so above
    * 2^RpMaxPlanes · RpTargetOccupancy vectors (≈ 2.1 B) per-bucket
    * occupancy grows LINEARLY with n again — the layout is slow there,
    * not collapsed, and the cap-binding metric will not warn (nothing is
    * dropped). Callers past the envelope pass an explicit layout
    * ([[rpPlanesFor]] with a larger `maxPlanes`); [[sizedRpPlanes]] logs
    * the estimated occupancy next to each layout decision and warns
    * when n exceeds the envelope, so the regime change is never
    * silent. */
  val RpTargetOccupancy: Int = 125
  val RpMaxPlanes: Int = 24

  /** The sized default's layout decision: [[rpPlanesFor]] at the
    * default constants plus the occupancy log line (and the loud
    * past-the-envelope warning) — every declared RP consumer routes its
    * sizing through here. */
  private[graft] def sizedRpPlanes(n: Long): Int = {
    val r = rpPlanesFor(n)
    val est = if (n <= 0) 0L else ((n - 1) >> r) + 1 // ceil(n/2^r), overflow-free
    val envelope = (1L << RpMaxPlanes) * RpTargetOccupancy
    System.err.println(s"[graft] RP sized layout: n=$n -> $r planes/band, " +
      s"estimated bucket occupancy ~$est (target $RpTargetOccupancy, " +
      s"clamp [4,$RpMaxPlanes])")
    if (n > envelope)
      System.err.println(s"[graft] RP sized layout: n=$n EXCEEDS the " +
        s"2^$RpMaxPlanes*$RpTargetOccupancy=$envelope validity envelope — " +
        "occupancy now grows linearly with n (slow, not collapsed; the cap " +
        "metric will not warn). Pass an explicit rpPlanesFor layout with a " +
        "larger maxPlanes.")
    r
  }

  /** The RP cap observation rides the shared [[CapMetrics]] machinery
    * (one observe() metric per capped generator + the
    * declared-but-absent collapse detection; see there). These aliases
    * keep the RP call sites and specs reading naturally. */
  val RpCapMetricPrefix: String = CapMetrics.MetricPrefix
  private[graft] def rpCapWarnings(
      metrics: Map[String, org.apache.spark.sql.Row],
      declared: Seq[String] = Nil): Seq[(Boolean, String)] =
    CapMetrics.warnings(metrics, declared)

  /** `planesPerBand = 0` (the default since round 16) sizes the layout
    * from a planning-time corpus count via [[rpPlanesFor]] — one
    * metadata-cheap count job, the same accepted planning-read pattern as
    * the manifest-answered `rangedCount`. Fixed layouts remain available
    * for callers that manage sizing themselves (recall studies).
    *
    * CONSTRUCTION COST CAVEAT: under the sized default, building the
    * frame runs the planning count EAGERLY — constructing it is not
    * side-effect-free, and an expensive un-materialized upstream
    * pipeline executes twice (once for the count, once for the banded
    * pass). Callers composing this over a derived pipeline should
    * materialize the input first or pass an explicit
    * [[rpPlanesFor]]-derived layout ([[embeddingDedupComposed]] does
    * both: checkpointed representatives, explicit planes). */
  def cosinePairsBucketed(corpus: DataFrame, threshold: Double,
                          bands: Int = 4, planesPerBand: Int = 0,
                          dims: Int = 64,
                          maxBucket: Int = RpBucketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(planesPerBand >= 0, "planesPerBand: 0 = size from corpus count")
    val planesPerBand0 =
      if (planesPerBand > 0) planesPerBand
      else sizedRpPlanes(corpus.count())
    // listener + metric only when a cap can bind: the uncapped path
    // stays side-effect-free (no listener install, no metric name burned)
    if (maxBucket != Int.MaxValue) CapMetrics.ensureListener(corpus.sparkSession)
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val banded = e.select(col("vec_id"), col("v"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            rpSketchRange(col("v"), b * planesPerBand0, planesPerBand0, dims).as("bucket"))
        }: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // occupancy cap shares the self-join's (band, bucket) exchange — no
    // extra shuffle; the observe node rides the same pass and feeds
    // [[rpCapWarnings]]
    val kept =
      if (maxBucket == Int.MaxValue) banded
      else CapMetrics.observed(banded
          .withColumn("occ",
            count(lit(1)).over(Window.partitionBy(col("band"), col("bucket")))),
          col("occ"), maxBucket)
        .where(col("occ") <= maxBucket)
        .drop("occ")
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val va = e.select(col("vec_id").as("a"), col("v").as("va"))
      .withColumn("an", norm2(col("va")))
    val vb = e.select(col("vec_id").as("b"), col("v").as("vb"))
      .withColumn("bn", norm2(col("vb")))
    cand.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("an") * col("bn")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Sentinel for [[embeddingDedupComposed]]'s `maxBucket`: derive the
    * MEDIAN-OCCUPANCY cap ceil(n / 2^r) from the representative corpus —
    * the scale-invariant binding regime. A FIXED binding cap cannot stay
    * binding across scales: r16's sf0.1 full-inventory compare caught the
    * fixed cap 30 dropping EVERY bucket at n=2000 (min occupancy 68 under
    * the sized 16-bucket layout), i.e. the silent-collapse regime the
    * observation warns about — while ceil(n/2^r) straddles the occupancy
    * median at every n (36/28 buckets kept/dropped at sf0.01, 30/34 at
    * sf0.1). Integer arithmetic throughout, so the DuckDB oracle mirrors
    * it bit-exactly. */
  val BindingOccupancyCap: Int = -1

  /** ceil(n / 2^r) as the integer form both engines compute. */
  def derivedBindingCap(n: Long, r: Int): Int =
    ((n + (1L << r) - 1) / (1L << r)).toInt

  /** IDENTITY KEY of an embedding: md5 of the '|'-joined components
    * rounded to 1e-4 (scaled to integers BEFORE stringification, so both
    * engines hash the same bytes — double→string formatting differs
    * between JVM and DuckDB, integer formatting does not). Two vectors
    * agreeing to 4 decimals per component — re-embedded boilerplate,
    * replicated templates — share the key; one hash aggregate groups
    * them with no pair join anywhere. */
  private[graft] def embeddingIdentityKey(v: Column): Column =
    md5(concat_ws("|", transform(v,
      x => round(x * lit(10000), 0).cast("long").cast("string"))).cast("binary"))

  /** The COHORT-SAFE composed embedding dedup — the decision pipeline the
    * [[RpBucketCap]] recall story prescribes (compose exact dedup first
    * and the cap costs recall only for similar-but-distinct vectors):
    *
    *  1. IDENTITY PASS — group by [[embeddingIdentityKey]], representative
    *     = min vec_id. A 10⁶-copy template cohort (one boilerplate page
    *     embedded everywhere) collapses to ONE representative here, in a
    *     map-side-combinable aggregate — it never reaches a pair join.
    *  2. CAPPED RP PAIRS — [[cosinePairsBucketed]] over REPRESENTATIVES
    *     only (sized default layout, caller's occupancy cap). The cohort
    *     no longer floods any (band, bucket), so the cap binds only on
    *     genuine dense regions.
    *  3. CONNECTED COMPONENTS over identity edges ∪ pair edges, keep-list
    *     output (vectors minus non-representative cluster members) — the
    *     same decision stage dedup_keep_list ships for text.
    *
    * Output: (vec_id, label) of kept vectors. */
  def embeddingDedupComposed(corpus: DataFrame, threshold: Double,
                             maxBucket: Int = RpBucketCap): DataFrame = {
    val keyed = corpus.select(col("vec_id"),
      embeddingIdentityKey(asDouble(col("embedding"))).as("ik"))
    val groups = keyed.groupBy(col("ik")).agg(min(col("vec_id")).as("rep"))
    // the identity aggregate + member join run ONCE (the dedup_corpus
    // materialize-the-shared-index convention): `members` feeds the
    // identity edges, the representative filter, and — through `reps` —
    // the planning count and all three pair-stage references; without
    // the checkpoint each of those consumers re-executes the
    // full-corpus identity shuffle in its own job (exchange reuse only
    // dedupes within one physical plan, never across the planning-count
    // job and the fixpoint's materialization job).
    // CompositionSpec pins exactly one identity-aggregate execution
    // across the whole pipeline.
    val members = Dedup.materialize(
      keyed.join(groups, "ik").select(col("vec_id"), col("rep")))
    val identityEdges = members.where(col("vec_id") =!= col("rep"))
      .select(col("vec_id").as("a"), col("rep").as("b"))
    // representatives materialized too: the pair stage reads them three
    // times (banded sketch, both exact-verify sides) and the layout
    // count makes a fourth — one corpus join, then every consumer scans
    // the checkpointed block (embedding rows are the pair stage's whole
    // working set; at 100 TB this is the index you'd persist anyway)
    val reps = Dedup.materialize(corpus.join(
      members.where(col("vec_id") === col("rep")).select(col("vec_id")), "vec_id"))
    // one planning count serves the layout, and — under the
    // [[BindingOccupancyCap]] sentinel — the scale-invariant cap too
    val nReps = reps.count()
    val r = sizedRpPlanes(nReps)
    val cap =
      if (maxBucket == BindingOccupancyCap) derivedBindingCap(nReps, r)
      else maxBucket
    val pairEdges = cosinePairsBucketed(reps, threshold,
        bands = 4, planesPerBand = r, maxBucket = cap)
      .select(col("a"), col("b"))
    val drop = Dedup.clusters(identityEdges.unionByName(pairEdges))
      .where(col("doc_id") =!= col("cluster_id"))
    corpus.join(drop.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** k-NN GRAPH construction — the build step for graph-based ANN serving
    * (NSW-family) and for any downstream pass that wants edges rather
    * than clusters: every vector's top-k neighbors by exact cosine, with
    * candidates restricted to the [[cosinePairsBucketed]] RP-band buckets
    * (threshold −1 keeps every candidate; recall is band recall, false
    * positives zero). The symmetrized candidate list cuts to k per node
    * through the bounded [[TopKPairs]] aggregate — map-side partial
    * top-k, so the exchange carries ≤ k edges per node, never a
    * per-node window sort over the full candidate fan-in.
    * Output: (src, nbr, cos_sim, rank 1..k). */
  def knnGraph(corpus: DataFrame, k: Int): DataFrame = {
    val pairs = cosinePairsBucketed(corpus, -1.0)
    val sym = pairs
      .select(col("a").as("qid"), col("b").as("nid"), col("cos_sim"))
      .unionByName(
        pairs.select(col("b").as("qid"), col("a").as("nid"), col("cos_sim")))
    topKByScore(sym, k)
      .select(col("qid").as("src"), col("nid").as("nbr"),
        col("cos_sim"), col("rank"))
  }

  /** GRAPH-EXPANSION ANN search (the flattened one-hop form of NSW/HNSW
    * beam search): LSH-bucket seeds per query are widened through the
    * prebuilt [[knnGraph]] edges — a vector the buckets missed is found
    * if any of its graph neighbors seeded — then the widened candidate
    * set is exactly re-scored and cut to k. The recall-repair step a
    * serving tier applies when bucket recall alone is short of SLA,
    * bought with one extra id-keyed equi-join (fan-out ≤ graphK per
    * seed) instead of more probes over the corpus.
    *
    * Scale shape: seeds are bucket equi-joins (never a corpus scan), the
    * expansion joins the ≤ seedK·|Q| seed list against the O(n·graphK)
    * edge list on a vector id, and the rerank touches only the widened
    * candidates (≤ seedK·(1+graphK) per query) through the bounded
    * [[TopKPairs]] cut. Output: (qid, nid, cos_sim, rank). */
  def graphExpandTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      seedK: Int, graphK: Int): DataFrame = {
    val seeds = rpLshTopK(corpus, queries, seedK, planes = 8, probes = 3)
      .select(col("qid"), col("nid"))
    val g = knnGraph(corpus, graphK).select(col("src"), col("nbr"))
    val cand = seeds.unionByName(
        seeds.join(g, seeds("nid") === g("src"))
          .select(col("qid"), col("nbr").as("nid")))
      .distinct()
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv")).withColumn("qn", norm2(col("qv")))
    val c = corpus.select(col("vec_id").as("nid"),
      asDouble(col("embedding")).as("nv")).withColumn("nn", norm2(col("nv")))
    val scored = cand.join(c, "nid").join(broadcast(q), "qid")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("cos_sim"))
    topKByScore(scored, k)
  }

  /** MATRYOSHKA truncation eval — recall@k of the PREFIX-dims cosine
    * ranking against the full-dims ranking, per query. The measurement an
    * MRL-embedding rollout (Kusupati et al., NeurIPS'22) runs before
    * serving truncated vectors: if recall@k at d'=16 of 64 is already
    * ~1.0, the ANN tier can store/scan 4× less. Both rankings are the
    * proven [[bruteForceTopK]] shape (broadcast queries, bounded top-k
    * cut); the truncated side just slices the array BEFORE the scan, so
    * its dot products genuinely cost d'/d of the full pass.
    * Output: (qid, n_hit, recall). */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                       prefixDims: Int): DataFrame = {
    def pfx(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))
    val full = bruteForceTopK(corpus, queries, k).select(col("qid"), col("nid"))
    val trunc = bruteForceTopK(pfx(corpus), pfx(queries), k)
      .select(col("qid"), col("nid"))
    val hits = full.join(trunc, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    full.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / lit(k.toDouble), 6)
          .as("recall"))
  }

  /** LOCAL OUTLIER FACTOR (Breunig et al., SIGMOD'00) over the banded
    * [[knnGraph]] edges — the density-relative anomaly score an embedding
    * QA pass runs to surface mis-embedded / out-of-distribution vectors
    * that a global distance threshold misses (a point can be far from
    * everything in a sparse region and still be normal). LOF(p) ≈ 1 means
    * p's local density matches its neighbors'; LOF ≫ 1 flags an outlier.
    *
    * Relational form on the edge list (distance = 1 − cos, exact at 6dp):
    * k-distance is a per-node max; reachability reach(p,o) =
    * max(kdist(o), d(p,o)) is one edge-keyed join; lrd(p) =
    * deg(p)/Σ_o reach(p,o) one aggregate; LOF(p) = mean_o lrd(o)/lrd(p)
    * one more join+aggregate. Every join is keyed on a vector id with
    * fan-in ≤ k — the whole pass is O(n·k) rows end-to-end, no pairwise
    * blowup beyond the banded candidate step the graph itself bounds.
    * Nodes with no in-band candidates have no neighborhood to compare
    * against and drop out (the graph's recall, not LOF's concern).
    *
    * Determinism: distances and k-distances are exact 6dp values,
    * reach sums go through DECIMAL(28,12) (exact), lrd is ONE double
    * division rounded to 9dp, the lrd sums are decimal-exact again, and
    * the final score is a fixed two-division shape rounded to 6dp —
    * bit-identical across engines and partitionings. try_divide: a node
    * whose neighbors all sit at distance 0 (exact duplicates) has
    * Σreach = 0 → NULL lrd → NULL lof, the honest "density is infinite
    * here" read. Output: (vec_id, deg, lof). */
  def lofScores(corpus: DataFrame, k: Int): DataFrame = {
    val dec = DecimalType(28, 12)
    val e = knnGraph(corpus, k)
      .select(col("src"), col("nbr"),
        round(lit(1.0) - col("cos_sim"), 6).as("d"))
      .materialized // feeds kdist, reach, and the final LOF join
    val kd = e.groupBy(col("src")).agg(max(col("d")).as("kdist"))
    val reach = e
      .join(kd.select(col("src").as("nbr"), col("kdist").as("kd_o")), "nbr")
      .select(col("src"), col("nbr"), greatest(col("kd_o"), col("d")).as("r"))
    val lrd = reach.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"),
        sum(col("r").cast(dec)).cast(DoubleType).as("sr"))
      .select(col("src"), col("deg"),
        round(try_divide(col("deg").cast(DoubleType), col("sr")), 9).as("lrd"))
    e.join(lrd.select(col("src").as("nbr"), col("lrd").as("lrd_o")), "nbr")
      .groupBy(col("src"))
      .agg(sum(col("lrd_o").cast(dec)).cast(DoubleType).as("slo"))
      .join(lrd, "src")
      .select(col("src").as("vec_id"), col("deg"),
        round(try_divide(col("slo") / col("deg"), col("lrd")), 6).as("lof"))
  }

  /** Per-label embedding DIVERSITY: the mean pairwise cosine among a
    * label's vectors — the "is this slice redundant" score diversity-aware
    * curation (SemDeDup-style pruning budgets, mixture re-weighting)
    * consumes. High mean pairwise cosine = the label's mass is
    * near-duplicated; low = genuinely varied.
    *
    * Computed WITHOUT any pairwise join via the sum-of-vectors identity on
    * unit-normalized vectors: Σᵢ≠ⱼ uᵢ·uⱼ = ‖Σᵢuᵢ‖² − Σᵢ‖uᵢ‖², so the mean
    * pairwise cosine is (‖S‖² − selfsq) / (n(n−1)). Cost is ONE normalize
    * pass + a |labels|·dims partial aggregate — O(n·d) total where the
    * naive form is O(n²·d) per label. At 100 TB this is the difference
    * between a metric you compute every run and one you can't compute at
    * all; the corpus is never shuffled (map-side partials collapse to
    * |labels|·dims rows).
    *
    * Determinism: components of u are rounded to 9dp before the
    * DECIMAL(28,12) sums (exact at scale 12), per-vector self-dots are the
    * sequential [[dot]] fold, and every double-squaring is re-rounded
    * before its decimal sum — bit-identical across engines/partitionings.
    * Output: (label, n, mean_pair_cos). */
  def labelDiversity(corpus: DataFrame): DataFrame = {
    val dec = DecimalType(28, 12)
    val u = corpus.select(col("label"), asDouble(col("embedding")).as("v"))
      .select(col("label"),
        transform(col("v"), x => round(x / norm2(col("v")), 9)).as("u"))
    val self = u.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(round(dot(col("u"), col("u")), 9).cast(dec))
          .cast(DoubleType).as("selfsq"))
    val sums = u.select(col("label"), posexplode(col("u")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x").cast(dec)).cast(DoubleType).as("sd"))
    val normsq = sums.groupBy(col("label"))
      .agg(sum(round(col("sd") * col("sd"), 9).cast(dec))
        .cast(DoubleType).as("normsq"))
    self.join(normsq, "label")
      .select(col("label"), col("n"),
        when(col("n") > 1,
          round((col("normsq") - col("selfsq")) / (col("n") * (col("n") - 1)), 6))
          .as("mean_pair_cos"))
  }

  /** DuckDB mirror of [[labelDiversity]] (oracle builder). */
  def labelDiversitySql(): String =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |  u AS (SELECT label,
      |          list_transform(v, x -> round(x / sqrt(list_dot_product(v, v)), 9)) u
      |        FROM e),
      |  sf AS (SELECT label, count(*) n,
      |          CAST(SUM(CAST(round(list_dot_product(u, u), 9)
      |            AS DECIMAL(28,12))) AS DOUBLE) selfsq
      |         FROM u GROUP BY label),
      |  s AS (SELECT label, t.dim dim,
      |         CAST(SUM(CAST(t.x AS DECIMAL(28,12))) AS DOUBLE) sd
      |        FROM (SELECT label, unnest(list_transform(range(len(u)),
      |                i -> {'dim': i, 'x': u[i+1]})) t FROM u)
      |        GROUP BY 1, 2),
      |  ns AS (SELECT label,
      |          CAST(SUM(CAST(round(sd*sd, 9) AS DECIMAL(28,12))) AS DOUBLE) normsq
      |         FROM s GROUP BY label)
      |SELECT sf.label, n,
      |  CASE WHEN n > 1
      |    THEN round((normsq - selfsq) / (n * (n - 1)), 6) END AS mean_pair_cos
      |FROM sf JOIN ns ON sf.label = ns.label""".stripMargin

  /** INTRINSIC DIMENSIONALITY of the embedding space via the participation
    * ratio of the covariance spectrum: PR = tr(C)² / tr(C²) — how many
    * directions the embedding mass effectively occupies (d if isotropic,
    * →1 if collapsed onto one axis). The encoder-health monitor a training
    * pipeline alarms on: representation collapse shows up as PR falling
    * long before downstream retrieval degrades.
    *
    * Eigen-free by the trace identities tr(C) = Σᵢ var(xᵢ) and
    * tr(C²) = Σᵢⱼ C²ᵢⱼ, so no driver-side eigensolver and no iteration:
    * all moments come from ONE unexploded corpus pass through the
    * [[graft.functions.GramMoments]] typed aggregate — each row folds its
    * d(d+1)/2 upper-triangle products into a fixed buffer, partials merge
    * element-wise, and the exchange carries one ~d²-long buffer per
    * partition. (The previous double-posexplode form materialized n·d²
    * ROWS before the combine — n·4,096 at d=64, n·589,824 at a realistic
    * d=768 — which no partial aggregation amortizes.) Everything after the
    * aggregate runs on a d²-row frame.
    *
    * Determinism: products are quantized to scaled integers
    * floor(x·10⁹+0.5) before exact integer summation (order-independent;
    * see GramMoments doc for the cross-engine bit-exactness argument); the
    * d²-element trace sums go through DECIMAL(28,12) as before. `dims`
    * must equal the embedding arity — the aggregate asserts it per row.
    * Output: ONE row (trace_c, trace_c2, participation_ratio). */
  def participationRatio(corpus: DataFrame, dims: Int): DataFrame = {
    val dec = DecimalType(28, 12)
    val g = corpus.select(asDouble(col("embedding")).as("v"))
      .agg(graft.functions.GramMoments.gram(col("v"), dims).as("g"))
      .select(col("g.n").as("n"), col("g.s1").as("s1"), col("g.s2").as("s2"))
      .where(col("n") > 0) // empty corpus → empty frame (never 0/0 below)
    val c = g
      .select(col("n"), col("s1"), posexplode(col("s2")).as(Seq("k", "s")))
      .select(col("n"), col("s1"),
        floor(col("k") / dims).cast(IntegerType).as("i"),
        pmod(col("k"), lit(dims)).cast(IntegerType).as("j"), col("s"))
      .select(col("i"), col("j"),
        (col("s") / lit(1e9) / col("n") -
          (element_at(col("s1"), col("i") + 1) / lit(1e9) / col("n")) *
          (element_at(col("s1"), col("j") + 1) / lit(1e9) / col("n"))).as("c"))
    c.agg(
        sum(when(col("i") === col("j"), col("c")).otherwise(lit(0.0)).cast(dec))
          .cast(DoubleType).as("tc"),
        sum(round(col("c") * col("c"), 12).cast(dec))
          .cast(DoubleType).as("tc2"))
      .select(round(col("tc"), 6).as("trace_c"),
        round(col("tc2"), 9).as("trace_c2"),
        // try_divide: an all-constant (zero-variance) corpus gives tc2 = 0
        round(try_divide(col("tc") * col("tc"), col("tc2")), 6)
          .as("participation_ratio"))
  }

  /** [[participationRatio]] PER LABEL — the slice-level collapse monitor:
    * a mixture can hold overall PR steady while one source's embeddings
    * collapse (its drop hides in the blend); the per-label spectrum trace
    * catches it. Same one-pass [[graft.functions.GramMoments]] shape with
    * a label key on the aggregate: the exchange carries one ~d²-long
    * buffer per (partition, label) — sized for label cardinalities in the
    * hundreds/thousands (a source/slice monitor, NOT a per-user metric:
    * at d=768 a buffer is ~4.7 MB·|labels| per partition).
    * Labels need n ≥ 2 for a covariance (n ≤ 1 rows are dropped).
    * Output: (label, n, trace_c, trace_c2, participation_ratio). */
  def participationRatioByLabel(corpus: DataFrame, dims: Int): DataFrame = {
    val dec = DecimalType(28, 12)
    val g = corpus.select(col("label"), asDouble(col("embedding")).as("v"))
      .groupBy(col("label"))
      .agg(graft.functions.GramMoments.gram(col("v"), dims).as("g"))
      .select(col("label"), col("g.n").as("n"),
        col("g.s1").as("s1"), col("g.s2").as("s2"))
      .where(col("n") > 1)
    val c = g
      .select(col("label"), col("n"), col("s1"),
        posexplode(col("s2")).as(Seq("k", "s")))
      .select(col("label"), col("n"),
        floor(col("k") / dims).cast(IntegerType).as("i"),
        pmod(col("k"), lit(dims)).cast(IntegerType).as("j"),
        (col("s") / lit(1e9) / col("n") -
          (element_at(col("s1"), col("i") + 1) / lit(1e9) / col("n")) *
          (element_at(col("s1"), col("j") + 1) / lit(1e9) / col("n"))).as("c"))
    c.groupBy(col("label"), col("n"))
      .agg(
        sum(when(col("i") === col("j"), col("c")).otherwise(lit(0.0)).cast(dec))
          .cast(DoubleType).as("tc"),
        sum(round(col("c") * col("c"), 12).cast(dec))
          .cast(DoubleType).as("tc2"))
      .select(col("label"), col("n"),
        round(col("tc"), 6).as("trace_c"),
        round(col("tc2"), 9).as("trace_c2"),
        round(try_divide(col("tc") * col("tc"), col("tc2")), 6)
          .as("participation_ratio"))
  }

  /** DuckDB mirror of [[participationRatioByLabel]] (oracle builder). */
  def participationRatioByLabelSql(dims: Int): String =
    s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |  m1 AS (SELECT label, i,
       |          CAST(SUM(CAST(floor(v[i+1]*1e9 + 0.5) AS BIGINT)) AS DOUBLE) s1,
       |          COUNT(*) n
       |         FROM e, (SELECT unnest(range($dims)) i) GROUP BY label, i),
       |  m2 AS (SELECT label, i, j,
       |          CAST(SUM(CAST(floor(v[i+1]*v[j+1]*1e9 + 0.5) AS BIGINT))
       |            AS DOUBLE) s
       |         FROM e, (SELECT unnest(range($dims)) i),
       |              (SELECT unnest(range($dims)) j)
       |         GROUP BY label, i, j),
       |  c AS (SELECT m2.label, m2.i, m2.j, a.n,
       |          s/1e9/a.n - (a.s1/1e9/a.n) * (b.s1/1e9/b.n) c
       |        FROM m2 JOIN m1 a ON m2.label = a.label AND m2.i = a.i
       |                JOIN m1 b ON m2.label = b.label AND m2.j = b.i
       |        WHERE a.n > 1),
       |  t AS (SELECT label, n,
       |         CAST(SUM(CAST(CASE WHEN i = j THEN c ELSE 0.0 END
       |           AS DECIMAL(28,12))) AS DOUBLE) tc,
       |         CAST(SUM(CAST(round(c*c, 12) AS DECIMAL(28,12))) AS DOUBLE) tc2
       |        FROM c GROUP BY label, n)
       |SELECT label, n, round(tc, 6) AS trace_c, round(tc2, 9) AS trace_c2,
       |  round(tc * tc / tc2, 6) AS participation_ratio FROM t""".stripMargin

  /** SQ8 QUANTIZATION ERROR per label — the reconstruction-loss monitor
    * that decides whether int8 candidate scans ([[sq8TopK]]) are safe for
    * a corpus slice or it needs full precision / PQ: per vector,
    * ‖v − s·code‖² with the SAME scale and floor(x/s+0.5) code rule the
    * serving path uses, expanded through the dot identity
    * ‖v‖² − 2s·(v·c) + s²·‖c‖² so every term is a sequential codegen'd
    * [[dot]] fold (deterministic, no per-dim explode).
    *
    * Scale shape: ONE unshuffled corpus pass (quantize + three dot
    * products per row) into a map-side |labels|-group aggregate.
    * Per-vector errors round to 9dp before the DECIMAL(28,12) mean sum.
    * Output: (label, n, mean_err, max_err). */
  def sq8QuantizationError(corpus: DataFrame): DataFrame = {
    val dec = DecimalType(28, 12)
    val err = corpus
      .select(col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("s",
        greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-30)) / lit(127.0))
      .withColumn("c",
        transform(col("v"), x => floor(x / col("s") + lit(0.5)).cast(DoubleType)))
      .select(col("label"),
        round(dot(col("v"), col("v")) - lit(2.0) * col("s") * dot(col("v"), col("c"))
          + col("s") * col("s") * dot(col("c"), col("c")), 9).as("err"))
    err.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("err").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_err"),
        round(max(col("err")), 6).as("max_err"))
  }

  /** DuckDB mirror of [[sq8QuantizationError]] (oracle builder). */
  def sq8QuantizationErrorSql(): String =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |  q AS (SELECT label, v,
      |         greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
      |           / CAST(127.0 AS DOUBLE) s
      |        FROM e),
      |  c AS (SELECT label, v, s,
      |         list_transform(v, x -> floor(x / s + 0.5)) c FROM q),
      |  er AS (SELECT label,
      |          round(list_dot_product(v, v)
      |            - CAST(2.0 AS DOUBLE) * s * list_dot_product(v, c)
      |            + s * s * list_dot_product(c, c), 9) err FROM c)
      |SELECT label, count(*) AS n,
      |  round(CAST(SUM(CAST(err AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
      |    AS mean_err,
      |  round(max(err), 6) AS max_err
      |FROM er GROUP BY label""".stripMargin

  /** DuckDB mirror of [[participationRatio]] (oracle builder). */
  def participationRatioSql(dims: Int): String =
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |  m1 AS (SELECT i,
       |          CAST(SUM(CAST(floor(v[i+1]*1e9 + 0.5) AS BIGINT)) AS DOUBLE) s1,
       |          COUNT(*) n
       |         FROM e, (SELECT unnest(range($dims)) i) GROUP BY i),
       |  m2 AS (SELECT i, j,
       |          CAST(SUM(CAST(floor(v[i+1]*v[j+1]*1e9 + 0.5) AS BIGINT))
       |            AS DOUBLE) s
       |         FROM e, (SELECT unnest(range($dims)) i),
       |              (SELECT unnest(range($dims)) j)
       |         GROUP BY i, j),
       |  c AS (SELECT m2.i, m2.j,
       |          s/1e9/a.n - (a.s1/1e9/a.n) * (b.s1/1e9/b.n) c
       |        FROM m2 JOIN m1 a ON m2.i = a.i JOIN m1 b ON m2.j = b.i),
       |  t AS (SELECT
       |         CAST(SUM(CAST(CASE WHEN i = j THEN c ELSE 0.0 END
       |           AS DECIMAL(28,12))) AS DOUBLE) tc,
       |         CAST(SUM(CAST(round(c*c, 12) AS DECIMAL(28,12))) AS DOUBLE) tc2
       |        FROM c)
       |SELECT round(tc, 6) AS trace_c, round(tc2, 9) AS trace_c2,
       |  round(tc * tc / tc2, 6) AS participation_ratio FROM t""".stripMargin
}
