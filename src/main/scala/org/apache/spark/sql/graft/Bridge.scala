package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{RangePartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

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

  /** Run `body` over `df`'s physical rows inside ONE SQL execution, as a
    * `Dataset` action does: the jobs `body` starts (and any the plan runs
    * first, such as a boundary sample) are attributed to the query, and
    * query listeners see its executed plan. `body` also gets the rows'
    * schema as the executed plan declares it — the nullability the
    * optimizer proved, which Spark's file writers record, not the
    * analyzed frame's. */
  def inExecution[T](df: DataFrame, name: String)(body: (StructType, RDD[InternalRow]) => T): T = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val schema = StructType(qe.executedPlan.output.map(a =>
        StructField(a.name, a.dataType, a.nullable, a.metadata)))
      body(schema, qe.toRdd)
    }
  }

  /** `conf` broadcast once per job: tasks call the returned function to
    * read it, so each executor deserializes the configuration once instead
    * of every task carrying a copy in its closure. */
  def broadcastConf(sc: SparkContext, conf: Configuration): () => Configuration = {
    val b = sc.broadcast(new SerializableConfiguration(conf))
    () => b.value.value
  }
}
