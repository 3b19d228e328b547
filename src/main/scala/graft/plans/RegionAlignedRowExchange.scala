package graft.plans

import graft.operators.RegionSort
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.{Bridge, RowShuffle}

/** The engine's one region exchange, as a first-class Catalyst operator:
  * output partition i holds exactly region i's key range, the contract of
  * the reference's `TotalOrderPartitioner` over
  * `RegionLocator.getStartKeys` (BulkImporterFromText.java:105-108) — a
  * file straddling a region boundary would be split server-side at
  * adoption. Partitions any plan whose FIRST column is the binary row key,
  * with no intra-partition order. The boundaries are `splits` (first key
  * of region i+1, unsigned byte order: salt digits, explicit table splits
  * or the uniform MD5 pre-split), or, without them, sampled from the
  * child's keys once, when the exec first runs, into at most `regions`
  * regions ([[Bridge.rangeBounds]]).
  *
  * [[graft.BulkLoad]] composes it twice: the ingest path exchanges source
  * ROWS, sorts them on the key alone and emits their cells in KeyValue
  * order through [[OrderedExplode]]; `BulkLoad.sorted` exchanges
  * already-exploded cells (compaction, `graft-cells` writes) and sorts them
  * to [[graft.operators.CellOps.keyValueOrder]]. Either way file i ⊆
  * region i, cells in KeyValue order.
  *
  * Extension stack: logical nodes → planner [[RegionSortStrategy]] →
  * [[RegionAlignedRowExchangeExec]] / [[OrderedExplodeExec]], injectable
  * via `GraftExtensions` or `spark.experimental.extraStrategies`.
  * Contract: column 0 is a non-null BinaryType row key (callers
  * quarantine un-keyable rows before the exchange). */
case class RegionAlignedRowExchange(child: LogicalPlan, splits: Option[Seq[Array[Byte]]],
                                    regions: Int) extends UnaryNode {
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
case class RegionAlignedRowExchangeExec(child: SparkPlan, fixedSplits: Option[Seq[Array[Byte]]],
                                        regions: Int) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  /** This node REPARTITIONS — never inherit the child's partitioning
    * (the default), which would let a downstream operator skip a needed
    * exchange on the basis of a distribution this shuffle destroyed.
    * Planning reads this before any sample exists, so a sampled exchange
    * declares its upper bound, `regions`, as Spark's range exchange does. */
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(fixedSplits.fold(regions)(_.length + 1))

  override lazy val metrics: Map[String, SQLMetric] = RowShuffle.metrics(sparkContext)

  @transient private lazy val input: RDD[InternalRow] = child.execute()

  /** The boundaries the rows are routed by: the fixed ones, or a sample of
    * the child's keys taken at the first execution (one Spark job, where
    * Spark's range exchange samples too). */
  @transient lazy val splits: Seq[Array[Byte]] = fixedSplits.getOrElse(
    Bridge.rangeBounds(input.map(_.getBinary(0)), regions,
      conf.rangeExchangeSampleSizePerPartition)(implicitly, RegionSort.unsignedBytesOrdering).toSeq)

  /** Built once per physical plan, so repeated actions reuse the shuffle
    * output (as `ShuffleExchangeExec` does). */
  @transient private lazy val shuffled: RDD[InternalRow] = {
    val part = new RegionSort.RegionPartitioner(splits.toArray)
    RowShuffle(input, child.output, part.numPartitions,
      row => part.getPartition(row.getBinary(0)), metrics)
  }

  override protected def doExecute(): RDD[InternalRow] = shuffled

  override protected def withNewChildInternal(newChild: SparkPlan): RegionAlignedRowExchangeExec =
    copy(child = newChild)
}

object RegionAlignedRowExchange {
  /** DataFrame-level API: rows whose FIRST column is the binary row key →
    * region-aligned partitions (compose a `sortWithinPartitions` above).
    * `regions` applies only without `splits`, as in `BulkLoad.Config`. */
  def apply(rows: DataFrame, splits: Option[Seq[Array[Byte]]], regions: Int): DataFrame = {
    require(splits.isDefined || regions >= 1, s"a sampled region exchange needs regions >= 1, got $regions")
    val spark: SparkSession = rows.sparkSession
    RegionSortStrategy.register(spark)
    Bridge.ofRows(spark, new RegionAlignedRowExchange(Bridge.logicalPlan(rows), splits, regions))
  }

  /** Exact region partitions over fixed `splits`. */
  def apply(rows: DataFrame, splits: Array[Array[Byte]]): DataFrame =
    apply(rows, Some(splits.toSeq), splits.length + 1)
}

object RegionSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RegionAlignedRowExchange(child, splits, regions) =>
      RegionAlignedRowExchangeExec(planLater(child), splits, regions) :: Nil
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
