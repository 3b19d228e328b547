package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.RangePartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression converters.
  *
  * Spark 4 split `Column` into a connect-agnostic API and made the classic
  * converters `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala in the Spark source). This object lives under the
  * `org.apache.spark.sql` package to re-expose those calls, and the few
  * internals below, to the engine's custom Catalyst nodes — the sanctioned
  * pattern for native (codegen'd, non-UDF) extensions on classic sessions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (classic `Dataset.ofRows` is
    * `private[sql]`) — needed to wrap custom LogicalPlan nodes. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Range boundaries sampled from `keys` as Spark's range exchange
    * samples them (`RangePartitioner`'s `private[spark]` `sketch` and
    * `determineBounds`, without its re-sample of oversized partitions):
    * at most `partitions - 1` strictly increasing keys, none for
    * `partitions <= 1` or empty `keys`. One Spark job. */
  def rangeBounds[K: ClassTag](keys: RDD[K], partitions: Int, samplePointsPerPartition: Int)
                              (implicit ord: Ordering[K]): Array[K] =
    if (partitions <= 1) Array.empty[K]
    else {
      val sampleSize = math.min(samplePointsPerPartition.toDouble * partitions, 1e6)
      val (_, sketched) = RangePartitioner.sketch(keys,
        math.ceil(3.0 * sampleSize / math.max(keys.partitions.length, 1)).toInt)
      val weighted = ArrayBuffer.from(sketched.iterator.flatMap { case (_, n, sample) =>
        sample.iterator.map(k => (k, (n.toDouble / sample.length).toFloat))
      })
      if (weighted.isEmpty) Array.empty[K]
      else RangePartitioner.determineBounds(weighted, math.min(partitions, weighted.size))
    }

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed
}
