package graft.streaming

import graft.{BulkLoad, CellSink}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured Streaming form of the bulk-load pipeline: the exact batch
  * dataflow (parse → quarantine → rowkey → region exchange → row sort →
  * ordered cell explode → [[CellSink]] → postCommit) wrapped in a
  * file-source stream with `foreachBatch`.
  *
  * This is the continuous-ingestion shape the reference's batch drivers
  * (`BulkImporterFrom*.java`, one `Tool.run` per dropped fileset) imply but
  * never built: files land in a directory, each micro-batch becomes an
  * independent region-aligned sorted fileset under `outDir/batch_NNNNN`,
  * and `postCommit` (chmod → doBulkLoad → cleanup) fires per batch — which
  * is precisely how incremental HBase bulk loads compose, since every
  * adoption is atomic per HFile set. The checkpoint makes ingestion
  * exactly-once across restarts: a re-submitted job resumes from the last
  * committed source offset instead of re-loading files.
  *
  * At scale the file source swaps for Kafka and `maxFilesPerTrigger`
  * becomes `maxOffsetsPerTrigger`; the per-batch plan — ONE total-order
  * exchange over the batch, O(#regions) driver state — is unchanged.
  *
  * Per-batch overhead budget (the round-9 batch-vs-streaming 17× gap was
  * mostly fixed per-batch cost, not pipeline throughput), and what this
  * harness does about each item:
  *   - region boundaries are FIXED: every micro-batch goes through
  *     [[BulkLoad.fromPositional]], which gives an unsalted/unsplit MD5-
  *     keyed config the uniform [[graft.operators.RegionSort.uniformMd5Splits]]
  *     boundaries like every batch load ([[BulkLoad.withFixedSplits]]),
  *     so no micro-batch pays Catalyst's range-sampling scan — exactly
  *     the reference's once-per-job `RegionLocator` read (a live table's
  *     regions don't move between micro-batches). Compaction sweeps use
  *     the same boundaries;
  *   - the per-batch cell count is read from metadata on the driver —
  *     the manifest the sink wrote inline from its writer's statistics
  *     (no footer is opened, so nothing is left to defer), or a footer per
  *     file it cannot vouch for ([[graft.sources.CellScan.countRows]]) —
  *     never a Spark count job;
  *   - what remains per batch — offset/commit log writes, one write job
  *     per output (cells + quarantine), postCommit — is the floor;
  *     `bench_out.json` records per-batch seconds so a regression is
  *     distinguishable from this design cost.
  */
object StreamingIngest {

  /** One completed micro-batch: its id, output path, cell count,
    * wall-clock seconds spent inside its foreachBatch body, the body's
    * per-phase breakdown (`write` = parse + region-aligned sort + data
    * files + the manifest the sink writes from its writer's statistics;
    * `quarantine` — runs CONCURRENTLY with `write` on its own lane, so
    * phases overlap and do not sum to `secs`; `post_commit`), and
    * `deferredSecs`: the seconds the body spent after postCommit reading
    * the batch's cell count back from that inline manifest. */
  case class BatchResult(batchId: Long, path: String, cells: Long,
                         secs: Double = 0.0,
                         phases: Map[String, Double] = Map.empty,
                         deferredSecs: Double = 0.0)

  /** Stream `delim`-separated text files from `inputDir` through the cell
    * pipeline. Runs until all currently-available input is drained, then
    * returns the per-batch results (ordered by batch id). `sinkOverride`
    * lets tests record the write/postCommit sequence; production uses the
    * pipeline's own sink. */
  /** `compactEvery > 0` runs [[graft.sources.CellCompaction.compactMinor]]
    * after every N completed micro-batches: the accumulated per-batch
    * filesets are absorbed into `outDir/serving` as one region-aligned
    * fileset per sweep (incremental manifest refresh, inputs retired) —
    * the HBase background-compaction posture composed with the ingest
    * stream, so a long-running feed's serving layout holds
    * O(batches / N) filesets instead of one per batch. Runs INSIDE the
    * sequential foreachBatch turn, after postCommit (adoption first,
    * sweep second — the server compacts what it has adopted). */
  def run(spark: SparkSession, inputDir: String, outDir: String,
          checkpointDir: String, cfg: BulkLoad.Config = BulkLoad.Config(),
          delim: String = ",", maxFilesPerTrigger: Int = 1,
          sinkOverride: Option[CellSink] = None,
          compactEvery: Int = 0): Seq[BatchResult] = {
    // the batches fix their boundaries in BulkLoad.fromPositional; the
    // compaction sweeps below must use the same ones
    val fixedCfg = BulkLoad.withFixedSplits(cfg)
    val results = scala.collection.mutable.ArrayBuffer.empty[BatchResult]

    // quarantine lane: the quarantine write IS commit-ordered (it must
    // land before the checkpoint commit — no-silent-drop), but it is
    // INDEPENDENT of the cells write, so it runs concurrently with it
    // and is joined before postCommit; its tiny job hides entirely under
    // the region exchange
    val quarExec = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-stream-quarantine"); t.setDaemon(true); t })
    val quarEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(quarExec)

    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(inputDir)
    val q = lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        def lap(since: Long): Double = (System.nanoTime() - since) / 1e9
        // the cells write and the quarantine write both parse the batch —
        // cache the raw lines so the second job reads memory, not files
        val cached = batch.persist()
        try {
          val r = BulkLoad.naiveLines(cached, delim, fixedCfg)
          val sink = sinkOverride.getOrElse(r.sink)
          val dest = f"$outDir/batch_$batchId%05d"
          // quarantined rows ride along per batch — same no-silent-drop
          // contract as the batch path; submitted FIRST so the tiny job
          // overlaps the cells write, joined before postCommit (a
          // quarantine failure still fails the batch pre-commit)
          val quarF = scala.concurrent.Future {
            val t = System.nanoTime()
            r.quarantined.write.mode("overwrite").parquet(s"$dest.quarantine")
            lap(t)
          }(quarEc)
          val wSecs =
            try {
              val tw = System.nanoTime()
              sink.write(r.cells, dest)
              lap(tw)
            } catch { case e: Throwable =>
              // join the in-flight quarantine job before the batch failure
              // propagates: an abandoned Future would keep writing after
              // the engine retries/replays this batch id, racing a second
              // mode-overwrite writer on the same $dest.quarantine dir
              scala.concurrent.Await.ready(
                quarF, scala.concurrent.duration.Duration.Inf)
              throw e
            }
          val qSecs = scala.concurrent.Await.result(
            quarF, scala.concurrent.duration.Duration.Inf)
          // adoption stays ON the critical path: exactly-once bulk-load
          // ordering (chmod → doBulkLoad → cleanup) is per batch
          val tp = System.nanoTime()
          sink.postCommit(dest)
          val pSecs = lap(tp)
          val tc = System.nanoTime()
          val cells = graft.sources.CellScan.rowCount(spark, dest)
          val completed = results.synchronized {
            results += BatchResult(batchId, dest, cells, lap(t0),
              Map("write" -> wSecs, "quarantine" -> qSecs, "post_commit" -> pSecs), lap(tc))
            results.size
          }
          if (compactEvery > 0 && completed % compactEvery == 0)
            graft.sources.CellCompaction.compactMinor(
              spark, outDir, s"$outDir/serving", fixedCfg)
        } finally cached.unpersist(blocking = false)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally { q.stop(); quarExec.shutdown() }
    results.sortBy(_.batchId).toSeq
  }
}
