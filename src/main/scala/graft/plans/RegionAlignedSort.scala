package graft.plans

import graft.operators.{CellOps, RegionSort}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.{Bridge, RowShuffle}

/** Exact-region-boundary exchange as a first-class Catalyst operator —
  * the one whole-operator semantic Spark's built-ins genuinely cannot
  * express (SURVEY.md §4.1): `repartitionByRange` SAMPLES its boundaries,
  * while HFile bulk load requires output partition i to hold exactly
  * region i's key range (`TotalOrderPartitioner` over
  * `RegionLocator.getStartKeys` in the reference,
  * BulkImporterFromText.java:105-108). A sampled boundary that straddles a
  * region makes HBase split files server-side during adoption.
  *
  * Partitions any plan whose FIRST column is the binary row key into exact
  * region partitions, with no intra-partition order. Two shapes compose
  * it: the ingest path ([[graft.BulkLoad.sortedFromRows]]) exchanges
  * source ROWS — the 64-byte key plus the encoded values move once — then
  * sorts them on the key alone and emits their cells in KeyValue order
  * through [[OrderedExplode]]; [[RegionAlignedSort]] exchanges
  * already-exploded cells (layout compaction) and sorts them to KeyValue
  * order ([[graft.operators.CellOps.keyValueOrder]]). Either way the
  * output contract is file i ⊆ region i, cells in KeyValue order.
  *
  * Full extension stack: logical nodes → planner [[RegionSortStrategy]] →
  * [[RegionAlignedRowExchangeExec]] / [[OrderedExplodeExec]], injectable
  * via `GraftExtensions` or `spark.experimental.extraStrategies`. The
  * RDD-level path (`RegionSort.partitionByRegions`) remains for RDD
  * consumers.
  *
  * Contract: column 0 is a non-null BinaryType row key (callers
  * quarantine un-keyable rows before the exchange). */
case class RegionAlignedRowExchange(child: LogicalPlan, splits: Seq[Array[Byte]])
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  /** Positional col-0 read in the exec — keep every child column so
    * ColumnPruning can't re-project below this node. */
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): RegionAlignedRowExchange =
    copy(child = newChild)
}

/** One shuffle on Spark SQL's own path ([[RowShuffle]]): the region id is
  * computed map-side by [[RegionSort.RegionPartitioner]] over column 0,
  * and rows cross as `UnsafeRow`s — no Java serialization, no per-row
  * copy, the key shipped once inside its row. */
case class RegionAlignedRowExchangeExec(child: SparkPlan, splits: Seq[Array[Byte]])
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** This node REPARTITIONS — never inherit the child's partitioning
    * (the default), which would let a downstream operator skip a needed
    * exchange on the basis of a distribution this shuffle destroyed. */
  override def outputPartitioning: Partitioning = UnknownPartitioning(splits.length + 1)

  override lazy val metrics: Map[String, SQLMetric] = RowShuffle.metrics(sparkContext)

  /** Built once per physical plan, so repeated actions reuse the shuffle
    * output (as `ShuffleExchangeExec` does). */
  @transient private lazy val shuffled: RDD[InternalRow] = {
    val part = new RegionSort.RegionPartitioner(splits.toArray)
    RowShuffle(child.execute(), child.output, part.numPartitions,
      row => part.getPartition(row.getBinary(0)), metrics)
  }

  override protected def doExecute(): RDD[InternalRow] = shuffled

  override protected def withNewChildInternal(newChild: SparkPlan): RegionAlignedRowExchangeExec =
    copy(child = newChild)
}

object RegionAlignedRowExchange {
  /** DataFrame-level API: rows whose FIRST column is the binary row key →
    * exact region-aligned partitions (no intra-partition order — compose
    * a `sortWithinPartitions` above it). */
  def apply(rows: DataFrame, splits: Array[Array[Byte]]): DataFrame = {
    val spark: SparkSession = rows.sparkSession
    RegionSortStrategy.register(spark)
    Bridge.ofRows(spark, new RegionAlignedRowExchange(Bridge.logicalPlan(rows), splits.toSeq))
  }
}

object RegionSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RegionAlignedRowExchange(child, splits) =>
      RegionAlignedRowExchangeExec(planLater(child), splits) :: Nil
    case OrderedExplode(family, cells, ts, output, child) =>
      OrderedExplodeExec(family, cells, ts, output, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Plan the graft nodes in `spark` (idempotent) — for sessions built
    * without `GraftExtensions`. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
    }
}

object RegionAlignedSort {
  /** Cells (row/family/qualifier binary leading columns) → exact
    * region-aligned DataFrame in KeyValue order: the row exchange over the
    * cells, then a partition-local sort. */
  def apply(cells: DataFrame, splits: Array[Array[Byte]]): DataFrame =
    RegionAlignedRowExchange(cells, splits).sortWithinPartitions(CellOps.keyValueOrder: _*)
}
