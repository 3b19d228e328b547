package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming state-store backend selection — the deployment switch for
  * stateful queries whose state exceeds executor heap.
  *
  * Spark's default `HDFSBackedStateStoreProvider` keeps every store's
  * working map ON-HEAP (the HDFS part is only the checkpoint), so a
  * 1000-executor deployment running the sessionizers / streaming dedup /
  * watermarked aggregations in this package is bounded by
  * `state per partition × stores per executor ≤ heap`. At corpus scale
  * (e.g. [[graft.operators.Dedup]]'s incremental LSH index keyed by
  * shingle digest, or million-user session state) that bound breaks first.
  * `RocksDBStateStoreProvider` moves the working set to native memory +
  * local SSD, which is the posture Spark itself recommends for large
  * state; CHANGELOG checkpointing then uploads per-batch deltas instead
  * of full snapshots, so checkpoint cost tracks the batch's state churn
  * rather than total state size — the property that matters when state is
  * 100× a batch.
  *
  * Results are provider-independent (the store is an exact key-value map
  * either way) — pinned by the PipelineSpec parity test. Kept OFF by
  * default locally: the engine's bench state fits comfortably in heap
  * where the JNI + serde round-trip per access only costs (measured in
  * BASELINE.md round 14); flip it when state size, not per-access cost,
  * is the binding constraint.
  */
object StateBackend {

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Run `body` with every streaming query it STARTS bound to RocksDB
    * state with changelog checkpointing (the provider is bound per query
    * at start from the session conf; running queries are unaffected),
    * restoring the prior provider conf afterwards (exception-safe). */
  def withRocksDB[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(ProviderKey)
    val priorLog = spark.conf.getOption(ChangelogKey)
    spark.conf.set(ProviderKey, RocksDBProvider)
    spark.conf.set(ChangelogKey, "true")
    try body
    finally {
      prior.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
      priorLog.fold(spark.conf.unset(ChangelogKey))(spark.conf.set(ChangelogKey, _))
    }
  }
}
