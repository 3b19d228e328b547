package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared observability for the engine's occupancy caps — the
  * [[Dedup.BandBucketCap]] (MinHash band buckets) and
  * [[Similarity.RpBucketCap]] (RP-band buckets) filters both drop
  * over-cap (band, bucket) groups from candidate generation, and both
  * can silently return an EMPTY candidate set when a template cohort
  * floods every band (the recall-collapse regime). Every capped
  * candidate generator attaches one `observe()` metric
  * (banded_rows / kept_rows) riding the occupancy stage's exchange —
  * no extra job, no extra shuffle — and a once-per-session listener
  * surfaces it:
  *
  *  - cap BINDING (kept < banded): an INFO-grade stderr line with the
  *    dropped-row count;
  *  - collapse (kept == 0 with input present): a WARN-grade line — and
  *    because AQE's empty-relation propagation PRUNES the CollectMetrics
  *    node from the final plan exactly in this regime (verified on
  *    Spark 4.1), collapse is additionally detected from a metric that
  *    is DECLARED in the analyzed plan but ABSENT from the executed
  *    metrics. Silent recall collapse is never silent. */
object CapMetrics {

  /** Observation-name prefix; unique sequence per attach (duplicate
    * names in one plan are only legal for identical subtrees). */
  val MetricPrefix = "graft_occ_cap_"
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Attach the cap observation to a banded frame carrying `occ`. Each
    * frame row stands for `weight` banded rows: 1 on a frame with one row
    * per (member, band), the bucket's `occ` on a frame already grouped to
    * one row per bucket — either way banded_rows / kept_rows count
    * (member, band) rows. */
  private[operators] def observed(banded: DataFrame, occ: Column,
                                  maxBucket: Int,
                                  weight: Column = lit(1L)): DataFrame =
    banded.observe(MetricPrefix + metricSeq.incrementAndGet(),
      coalesce(sum(weight), lit(0L)).as("banded_rows"),
      coalesce(sum(when(occ <= maxBucket, weight)), lit(0L)).as("kept_rows"))

  /** The cap-observation messages for one finished query execution —
    * pure so specs can pin the exact binding/collapse conditions.
    * `declared` = the [[MetricPrefix]] observation names in the query's
    * ANALYZED plan; a declared-but-absent name means the observed
    * subtree executed empty and was empty-relation-pruned — reported as
    * loudly as an explicit kept_rows == 0. Returns (isCollapse,
    * message) pairs. */
  def warnings(metrics: Map[String, org.apache.spark.sql.Row],
               declared: Seq[String] = Nil): Seq[(Boolean, String)] = {
    val fromMetrics = metrics.toSeq.collect {
      case (name, row) if name.startsWith(MetricPrefix) =>
        (row.getAs[Long]("banded_rows"), row.getAs[Long]("kept_rows"))
    }.collect {
      case (banded, 0L) if banded > 0L =>
        (true, s"[graft] occupancy cap dropped ALL $banded banded rows — " +
          "every (band, bucket) group is over the cap, so the candidate stage " +
          "returns NO pairs (silent recall collapse). Run the identity pass " +
          "(exact-dup digest dedup) first, or raise maxBucket / the band layout.")
      case (banded, kept) if kept < banded =>
        (false, s"[graft] occupancy cap binding: dropped ${banded - kept} " +
          s"of $banded banded rows (over-cap (band, bucket) groups are excluded " +
          "from candidate generation; their members are near-certain exact-dup " +
          "cohorts an identity pass catches without a pair join).")
    }
    // A declared-but-absent name only proves the observed subtree DID NOT
    // EXECUTE — adaptive empty-relation propagation prunes it when it
    // executes empty (the collapse regime this warning exists for), but
    // also when a DOWNSTREAM empty relation (e.g. an empty sibling join
    // input in a larger composed plan) makes its stage unnecessary, and
    // when the input corpus itself was empty. The message states all
    // three causes rather than asserting collapse: on a healthy composed
    // plan with an empty source it is a pointer, not a verdict.
    val pruned = declared.filter(n =>
      n.startsWith(MetricPrefix) && !metrics.contains(n)).map { _ =>
      (true, "[graft] occupancy cap observation did not execute — the observed " +
        "candidate subtree was pruned by adaptive empty-relation propagation. " +
        "If the banded input was non-empty this is silent recall collapse " +
        "(every (band, bucket) group over the cap ⇒ ZERO kept rows — run the " +
        "identity pass first, or raise maxBucket / the band layout); otherwise " +
        "the input corpus was empty, or a downstream empty relation pruned a " +
        "healthy subtree before it ran.")
    }
    fromMetrics ++ pruned
  }

  private val listenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Install (once per session) the listener that surfaces the cap
    * observations. Metrics flow whether or not a reader is listening;
    * this is the default "never silent" reader. */
  def ensureListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (listenerSessions.add(spark))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = {
          val declared = qe.analyzed.collect {
            case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
                if c.name.startsWith(MetricPrefix) => c.name
          }
          warnings(qe.observedMetrics, declared).foreach { case (_, msg) =>
            System.err.println(msg)
          }
        }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
}
