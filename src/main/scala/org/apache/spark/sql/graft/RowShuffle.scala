package org.apache.spark.sql.graft

import org.apache.spark.{ShuffleDependency, SparkContext, SparkEnv}
import org.apache.spark.PartitionIdPassthrough
import org.apache.spark.rdd.RDD
import org.apache.spark.shuffle.sort.SortShuffleManager
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics,
  SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.util.MutablePair

/** Spark SQL's own shuffle for an exchange whose partition function is not
  * one of Catalyst's `Partitioning`s: map tasks tag each `UnsafeRow` with
  * its target partition id and write it through `UnsafeRowSerializer`
  * (no Java serialization, no per-row object graph), reduce tasks read it
  * back through `ShuffledRowRDD` — the same wire path as
  * `ShuffleExchangeExec`. The serializer, pass-through partitioner and
  * shuffled-row RDD are `private[spark]`/`private[sql]`, hence this
  * package (see [[Bridge]]).
  */
object RowShuffle {

  /** SQL UI metrics for one exchange: shuffle read, shuffle write and the
    * serialized data size. Pass the same map to [[apply]]. */
  def metrics(sc: SparkContext): Map[String, SQLMetric] =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc) ++
      SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc) +
      ("dataSize" -> SQLMetrics.createSizeMetric(sc, "data size"))

  /** Shuffle `rows` (schema `output`) into `numPartitions` partitions,
    * row → `partitionOf(row)`. Rows that are not `UnsafeRow`s are
    * projected to one first. The sort shuffle's bypass-merge and
    * serialized writers serialize each record as it arrives, so rows are
    * only copied when neither can run (another shuffle manager, or more
    * partitions than the serialized writer addresses). */
  def apply(rows: RDD[InternalRow], output: Seq[Attribute], numPartitions: Int,
            partitionOf: InternalRow => Int,
            metrics: Map[String, SQLMetric]): RDD[InternalRow] = {
    val copy = !SparkEnv.get.shuffleManager.isInstanceOf[SortShuffleManager] ||
      numPartitions > SortShuffleManager.MAX_SHUFFLE_OUTPUT_PARTITIONS_FOR_SERIALIZED_MODE
    val tagged = rows.mapPartitions[Product2[Int, InternalRow]] { it =>
      lazy val toUnsafe = UnsafeProjection.create(output, output)
      val pair = new MutablePair[Int, InternalRow]()
      it.map { row =>
        val u = row match {
          case u: UnsafeRow => u
          case other => toUnsafe(other)
        }
        pair.update(partitionOf(u), if (copy) u.copy() else u)
      }
    }
    val dep = new ShuffleDependency[Int, InternalRow, InternalRow](
      tagged,
      new PartitionIdPassthrough(numPartitions),
      new UnsafeRowSerializer(output.size, metrics("dataSize")),
      shuffleWriterProcessor = ShuffleExchangeExec.createShuffleWriteProcessor(metrics))
    new ShuffledRowRDD(dep, metrics)
  }
}
