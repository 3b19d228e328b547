package graft.streaming

import graft.operators.Dedup
import graft.operators.Dedup.MaterializeSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming corpus dedup: documents arrive as a file stream and every
  * micro-batch is checked against the signature index of everything seen
  * so far ([[Dedup.incrementalMinHashPairs]]), then merged into it — the
  * continuous form of incremental dedup (the reference's batch drivers
  * compose the same way: each dropped fileset is a batch against the
  * already-loaded table).
  *
  * Each batch runs the per-document MinHash kernel
  * ([[Dedup.minHashSignatures]]: one pass per document, then a map-side
  * per-position min per doc_id) and the packed-band touching-pair probe
  * via `foreachBatch`, so the stream reuses the exact batch dataflow of
  * [[Dedup.incrementalMinHashPairs]]; the growing index holds k longs per seen
  * document (~0.1% of corpus bytes) and is localCheckpoint-materialized
  * per batch so batch t+1 never recomputes batch t's signatures. At
  * cluster scale the index lives in a Delta/parquet table MERGEd per
  * batch and the file source is Kafka; the per-batch plan is unchanged.
  *
  * COMPLETENESS: a near-dup pair is emitted exactly once — in the batch
  * where its LATER member arrives (the earlier member is already indexed;
  * same-batch pairs come from the batch-vs-(index ∪ batch) join). So over
  * any partition of a corpus into batches, in any order, the union of
  * batch outputs equals the one-shot [[Dedup.minHashPairs]] of the whole
  * corpus — which is exactly the declared oracle. Per-batch output
  * directories keep retries idempotent (overwrite, not append).
  */
object CorpusStream {

  /** One completed micro-batch: its id, output path, and pair count. */
  case class BatchResult(batchId: Long, path: String, pairs: Long)

  /** Pick the index/registry frame for a (possibly replayed) micro-batch
    * from a (foldedUpTo, preFold, postFold) handoff. The triple retains
    * exactly ONE pre-fold frame — the latest folded batch's — so a replay
    * of that id rewrites against the pre-fold state (correct), while a
    * replay of any STRICTLY OLDER id has no correct frame left: both
    * retained frames already contain that batch's own signatures, and
    * silently using either would judge the batch against itself (the
    * self-match bug the triple exists to prevent). Serial foreachBatch on
    * a fresh checkpoint can never produce such a replay, so this refuses
    * LOUDLY instead of answering wrongly if that invariant ever breaks. */
  private[graft] def replaySafeFrame[A](batchId: Long, foldedUpTo: Long,
                                            preFold: A, postFold: A): A = {
    require(batchId >= foldedUpTo,
      s"micro-batch $batchId replayed BEHIND the latest folded batch " +
        s"$foldedUpTo: the handoff retains only that batch's pre-fold frame, " +
        "so an older replay would be matched against state containing its " +
        "own signatures — refusing instead of self-matching")
    if (batchId == foldedUpTo) preFold else postFold
  }

  /** Stream parquet document files from `inputDir` through incremental
    * dedup. Runs until all currently-available input drains; returns the
    * per-batch results. `initialIndex` defaults to empty (cold start). */
  def run(spark: SparkSession, inputDir: String, outDir: String,
          checkpointDir: String, n: Int, minEst: Double,
          initialIndex: Option[DataFrame] = None,
          maxFilesPerTrigger: Int = 1,
          lastBatchHint: Option[Long] = None): Seq[BatchResult] = {
    // keyed by batch id: a transient failure can re-run foreachBatch for
    // the same id, and appending a second BatchResult for it would make
    // callers union that batch's output twice
    val results = scala.collection.mutable.LinkedHashMap.empty[Long, BatchResult]
    val schema = spark.read.parquet(inputDir).schema
    val emptyIndex = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sig",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
    // RETRY-SAFE handoff (foreachBatch bodies run serially per stream, so
    // the only synchronization needed is the reference itself): the triple
    // is (foldedUpTo, preFold, postFold) — a REPLAYED id searches against
    // the PRE-fold index (the post-fold one already contains the batch's
    // own signatures, which would duplicate index rows and grow the
    // handoff unboundedly under repeated retries) and never folds twice
    val init = initialIndex.getOrElse(emptyIndex)
    val handoff = new java.util.concurrent.atomic.AtomicReference[
      (Long, DataFrame, DataFrame)]((-1L, init, init))
    val docs = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(schema).parquet(inputDir)
    StreamHarness.drain(spark, docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (folded, pre, post) = handoff.get()
        val idx = replaySafeFrame(batchId, folded, pre, post)
        // ONE signature pass per batch: the pair search reads it from the
        // checkpoint and the same materialization merges into the index
        val sig = Dedup.minHashSignatures(batch, n).materialized
        val pairs = Dedup.incrementalMinHashPairsFromSigs(sig, idx, minEst)
        val dest = f"$outDir/batch_$batchId%05d"
        pairs.write.mode("overwrite").parquet(dest)
        // the handoff union is re-checkpointed DELIBERATELY: a lazy union
        // chain over the materialized per-batch frames was measured 30%
        // SLOWER end-to-end (r15) — the pair search consumes the index
        // several times and each consumption re-plans and re-reads every
        // chain leaf, which costs more than one flat block-store copy.
        // A caller that KNOWS the final batch id (it staged the files on
        // a fresh checkpoint) skips the copy there — that handoff has no
        // consumer; a standing stream passes no hint and always folds
        if (batchId > folded && !lastBatchHint.contains(batchId))
          handoff.set((batchId, idx, idx.union(sig).materialized))
        results.synchronized {
          results(batchId) =
            BatchResult(batchId, dest, spark.read.parquet(dest).count())
        }
        ()
      }, sessionWidth(spark))
    results.synchronized(results.values.toSeq).sortBy(_.batchId)
  }

  /** Declared-query driver: stage the documents table as two parquet
    * files, stream them through [[run]] from a cold index, and return the
    * union of per-batch pair outputs — value-equal to the one-shot LSH
    * pair search over the whole table. Two micro-batches exercise the
    * cross-batch index handoff with minimal fixed stream overhead; the
    * PipelineSpec test drives the 4-batch form. */
  def dedupIncrementalAll(spark: SparkSession, dir: String,
                          n: Int, minEst: Double): DataFrame =
    StreamHarness.scratch(spark) { scratch =>
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(2).write.parquet(s"$scratch/in")
      // two staged files on a fresh checkpoint → batch ids 0 and 1; the
      // final batch's index handoff is skipped (no consumer)
      run(spark, s"$scratch/in", s"$scratch/out", s"$scratch/ckpt",
        n, minEst, lastBatchHint = Some(1L))
        .map(b => spark.read.parquet(b.path)).reduce(_ unionByName _)
    }

  /** The session's shuffle width: the foreachBatch drivers are stateless,
    * so their per-batch jobs keep the batch session's sizing. */
  private def sessionWidth(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Streaming exact-substring removal — the continuous form of
    * [[graft.operators.Dedup.removeRepeatedSpansStored]]: each document
    * micro-batch is rewritten against the window-digest registry of
    * everything seen so far, then folded into it (the same
    * registry-merge the durable store's advance uses, held as a
    * materialized in-session frame; at cluster scale it is the published
    * [[graft.operators.Dedup.SpanStore]] advanced per batch).
    *
    * EQUIVALENCE CONTRACT: within a batch, duplication resolves exactly
    * as the one-shot operator does; across batches it resolves
    * first-seen-wins (an already-emitted document is never rewritten).
    * When batches arrive in doc_id order — which this driver stages
    * explicitly by splitting the table at max(doc_id)/2 with ordered
    * file mtimes — first-seen coincides with min-doc_id, so the union of
    * batch outputs is VALUE-EQUAL to the one-shot
    * [[graft.operators.Dedup.removeRepeatedSpans]] over the whole
    * corpus: that one-shot result is the declared oracle
    * (`stream_span_removal`), making the cross-batch registry handoff a
    * hash-checked fact. */
  def spanRemovalAll(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // empty corpus → NULL max; stage two empty files and let the fold run
    val mid = Option(docs.agg(max(col("doc_id"))).head().get(0))
      .map(_.asInstanceOf[Long] / 2).getOrElse(0L)
    StreamHarness.scratch(spark) { scratch =>
      // fixed mtimes: the file source orders by (mtime, path), so batch
      // order — and therefore keeper resolution — is deterministic. The
      // two halves' staging writes are independent single-file jobs — run
      // them CONCURRENTLY (Spark schedules both jobs' tasks at once), so
      // staging wall time is the larger half, not the sum; the trigger
      // contract is untouched because each half's file lands in `in` only
      // after its write completes, one file per half, mtimes fixed.
      val t0 = 1700000000000L
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Seq(
        Future(StreamHarness.stageFile(docs.where(col("doc_id") <= mid),
          s"$scratch/in/00_low.parquet", t0)),
        Future(StreamHarness.stageFile(docs.where(col("doc_id") > mid),
          s"$scratch/in/01_high.parquet", t0 + 60000L)))
        .foreach(Await.result(_, Duration.Inf))
      // RETRY-SAFE registry handoff: a transient failure can re-run
      // foreachBatch for the SAME batch id, and a replay that reads a
      // registry already advanced by the failed attempt would judge the
      // batch against ITSELF — every within-batch singleton window reaches
      // ndocs ≥ 2 and gets removed, a wrong answer, not just wasted work.
      // The handoff therefore carries (foldedUpTo, preFold, postFold): a
      // replayed id rewrites against the PRE-fold registry and never folds
      // twice.
      val handoff = new java.util.concurrent.atomic.AtomicReference[
        (Long, DataFrame, DataFrame)](
        (-1L, Dedup.emptySpanRegistry(spark), Dedup.emptySpanRegistry(spark)))
      // keyed by batch id so a replayed id REPLACES its result (the r15
      // ADVICE double-count class); each batch's output is handed over as
      // a lineage-severed localCheckpoint frame instead of a parquet write
      // + read-back, so the frames outlive the micro-batch
      val results = scala.collection.mutable.LinkedHashMap.empty[Long, DataFrame]
      StreamHarness.drain(spark, spark.readStream
        .option("maxFilesPerTrigger", 1)
        .schema(docs.schema).parquet(s"$scratch/in")
        .writeStream
        .option("checkpointLocation", s"$scratch/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val (folded, pre, post) = handoff.get()
          val reg = replaySafeFrame(batchId, folded, pre, post)
          // rewrite + advance share one window pass and one digest
          // aggregate; this driver staged exactly two files on a fresh
          // checkpoint, so batch 1 is final and its advanced registry has
          // no consumer — skip the fold (a standing stream keeps it)
          val kept =
            if (batchId >= 1) Dedup.materialize(Dedup.removeRepeatedSpansVs(batch, reg, k))
            else {
              val (out, advanced) = Dedup.removeRepeatedSpansAndAdvance(batch, reg, k)
              val m = Dedup.materialize(out)
              // hand the advanced registry over LAZILY: it depends only on
              // materialized inputs (the batch digest aggregate is
              // localCheckpointed inside the advance), so the next batch's
              // single consumption computes the small digest fold inline —
              // cheaper than eagerly checkpointing a frame the final batch
              // would never read
              if (batchId > folded) handoff.set((batchId, reg, advanced))
              m
            }
          results.synchronized { results(batchId) = kept }
          ()
        }, sessionWidth(spark))
      results.synchronized(results.values.toSeq).reduce(_ unionByName _)
    }
  }

  /** Epoch base of [[qualityMonitor]]'s synthetic ingest clock (micros). */
  val EpochBaseMicros: Long = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    .toInstant.getEpochSecond * 1000000L

  /** Tokens-below-this count as a "short" (low-quality) document. */
  val ShortDocTokens = 20

  /** Streaming corpus-QUALITY monitor — the ingest-time drift dashboard a
    * training-data pipeline runs while a crawl feed lands: per (hour,
    * source) document counts, mean token length and short-doc fraction,
    * computed incrementally with a watermark instead of nightly batch
    * (the [[EventStream]] append-mode pattern applied to documents).
    *
    * Documents carry no timestamp, so the synthetic ingest clock is
    * doc_id minutes past a fixed epoch (a real feed supplies its own
    * event time; the plan — watermark + tumbling window + map-side
    * partial aggregates — is unchanged). A sentinel document staged past
    * every real window's close lets the final no-data micro-batch flush
    * all state, so on a finite table the file sink holds exactly the
    * batch answer the DuckDB oracle computes.
    *
    * Scale shape: the only state is open (hour, source) windows —
    * bounded by the watermark horizon, not corpus size; token counting
    * is a pure codegen'd projection ahead of the aggregate's map-side
    * partials. Sums go through DECIMAL so emitted means are bit-stable.
    * Output: (window_start, source, n_docs, avg_tokens, short_frac). */
  def qualityMonitor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val src = s"$dir/documents.parquet"
    val raw = spark.read.parquet(src)
    val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
    def ingestTs(id: org.apache.spark.sql.Column) =
      timestamp_micros(lit(EpochBaseMicros) + id * lit(60000000L))
    StreamHarness.scratch(spark) { scratch =>
      StreamHarness.copyFile(spark, src, s"$scratch/in/docs.parquet")
      // sentinel doc far enough ahead (id minutes >> watermark + window) to
      // close every real window; excluded from results by the maxTs filter
      StreamHarness.stageFile(StreamHarness.sentinelRow(raw,
          "doc_id" -> lit(maxId + 10000L), "source" -> lit("__sentinel__"),
          "text" -> lit("")),
        s"$scratch/in/sentinel.parquet", System.currentTimeMillis())
      val stream = spark.readStream.schema(raw.schema).parquet(s"$scratch/in")
        .withColumn("ts", ingestTs(col("doc_id")))
        .withColumn("n_tokens",
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long"))
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("n_tokens").cast(DecimalType(18, 4))).cast(DoubleType) /
            count(lit(1))).as("avg_tokens"),
          round(sum(when(col("n_tokens") < ShortDocTokens, 1).otherwise(0))
            .cast(DoubleType) / count(lit(1)), 6).as("short_frac"))
        .select(col("window.start").as("window_start"), col("source"),
          col("n_docs"), col("avg_tokens"), col("short_frac"))
      StreamHarness.appendToFiles(agg, scratch)
        .where(col("window_start") <= ingestTs(lit(maxId)))
    }
  }

  /** Streaming IVF index MAINTENANCE: embedding micro-batches are routed
    * to their coarse cell against BROADCAST centroids inside
    * `foreachBatch` and appended to the inverted-list store — the shape
    * that keeps an ANN index current while vectors land, instead of
    * rebuilding it nightly. The centroid codebook is pinned from the
    * static corpus (re-training mid-stream would silently re-route
    * history); each batch is one unshuffled scan + the nodes-sized
    * assignment exchange, and the store only ever APPENDS. Returns the
    * per-cell occupancy census — batch-order independent, and equal to
    * one-shot assignment of the whole table by construction (assignment
    * is per-vector, so batching cannot change any answer).
    * Output: (cell, n_vecs). */
  /** Streaming Count-Min maintenance — the heavy-hitter monitor a corpus
    * ingest keeps standing: each micro-batch contributes its own d×w
    * partial counter grid ([[graft.operators.TextOps.cmsGrid]]) to an
    * append-only store, and the standing top-k reads the FOLDED grid
    * (cells sum — the mergeability that makes CMS a streaming object; no
    * vocabulary is ever materialized per batch). Disjoint batches' grids
    * sum to the whole-table grid, so the result provably EQUALS the
    * one-shot batch sketch — which is the declared oracle
    * (text_cms_heavy_hitters' SQL). Output: (token, est, exact,
    * over_count), top k. */
  def cmsHeavyHittersAll(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    StreamHarness.replayFold(spark, docs, 3)(
      batch => graft.operators.TextOps.cmsGrid(batch)) { store =>
      val folded = store
        .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      graft.operators.TextOps.cmsTopK(folded, docs, d = 4, w = 512, k = 40)
    }
  }

  def annAssignAll(spark: SparkSession, dir: String, nlist: Int): DataFrame = {
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    StreamHarness.replayFold(spark, corpus, 2)(
      batch => graft.operators.Similarity.ivfAssign(corpus, batch, nlist)) {
      store => store.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    }
  }

  /** STREAMING drift monitoring — [[graft.operators.Similarity
    * .annIndexDrift]] in its production posture: the advance batch
    * arrives as micro-batches, each contributing its (cell, n_batch,
    * s_batch) partials (one broadcast-centroid assignment pass — a
    * count and a decimal qerr sum, both associative) to an append-only
    * store; the standing monitor folds the store by cell and finishes
    * against the base index's build-time occupancy. Disjoint batches'
    * partials sum to the whole-drop partials, so the streaming readout
    * provably EQUALS the one-shot [[graft.operators.Similarity
    * .annIndexDrift]] — which is the declared oracle
    * (ann_ivf_drift_monitor's SQL, thresholds and finite-sample null
    * included). This is the monitor a serving tier keeps STANDING next
    * to [[annAssignAll]]'s index maintenance: rebuild_due flips while
    * vectors land, not at the nightly audit.
    * Output: (cell, n_base, n_batch, psi, psi_null, qerr_base,
    * qerr_batch, rebuild_due). */
  def driftMonitorAll(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val oldV = corpus.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val newV = corpus.where(pmod(col("vec_id"), lit(10)) === 0)
    val store = Similarity.annIndexStore(oldV, 16, s"$dir#emb-old90")
    StreamHarness.replayFold(spark, newV, 2)(
      batch => Similarity.annIndexDriftBatchPartials(store, batch)) { parts =>
      Similarity.annIndexDriftFinish(store,
        parts.groupBy(col("cell")).agg(
          sum(col("n_batch")).as("n_batch"),
          sum(col("s_batch")).as("s_batch")))
    }
  }
}
