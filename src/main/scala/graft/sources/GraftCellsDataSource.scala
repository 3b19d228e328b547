package graft.sources

import java.util

import graft.{BulkLoad, HFileCellSink}
import graft.operators.CellOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The region-aligned cell sink as a DataSource V2 format:
  * {{{
  *   cells.write.format("graft-cells")
  *     .option("salt", "10")            // or "splits" / "regions"
  *     .mode("overwrite").save(outDir)
  * }}}
  * composes the sorted-cell contract (file i ⊆ region i, rows in unsigned
  * (row, family, qualifier) KeyValue order — SURVEY.md §4.2) with the
  * standard writer API instead of requiring the [[graft.BulkLoad]] entry
  * points: any cell-shaped DataFrame — whatever plan produced it, AQE and
  * all — lands in the golden layout and runs the bulk-load post-commit
  * tail (chmod → adoption handoff → cleanup).
  *
  * Thin by design: `WriteBuilder` hands back a [[V1Write]] whose insert
  * applies the SAME exchange/sort/sink path the `BulkLoad` drivers use —
  * exact alignment via the [[graft.plans.RegionAlignedRowExchange]] Catalyst
  * operator, to the `salt`/`splits` boundaries or to boundaries it samples
  * under `regions` — so there is exactly one implementation of the layout
  * contract. (A pure DSv2 `BatchWrite` cannot express EXACT boundaries:
  * `RequiresDistributionAndOrdering` plans a SAMPLED range exchange,
  * the straddle the region contract exists to prevent; the V1 insert
  * seam is what lets the custom exchange stay inside the plan.)
  *
  * Options: `salt` (bucket count — salts row keys and aligns to the salt
  * digits' exact boundaries), `splits` (comma-separated hex split points
  * — exact alignment to those boundaries; see [[GraftCellsDataSource
  * .splitsOption]]), `regions` (boundaries sampled from the keys into
  * at most that many regions, default 10). `salt` and `splits` are mutually exclusive (`BulkLoad.Config`'s
  * rule). Overwrite mode only — HFile staging directories are
  * write-once-then-adopt, append has no bulk-load meaning.
  */
class GraftCellsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cells"

  /** Write-side schema is the engine-wide cell contract. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CellOps.cellSchema

  /** Accept the incoming frame's schema verbatim (nullability varies by
    * producing plan); [[GraftCellsWrite]] validates the column CONTRACT. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftCellsTable(schema, properties)
}

/** The row-bound extraction behind the DSv2 scan's filter pushdown —
  * the piece vanilla parquet cannot provide (`ParquetFilters` creates no
  * binary-column predicates, so a plain
  * `spark.read.parquet(dir).where(row >= …)` scans every region file). */
private[sources] object GraftCellsFilters {
  import org.apache.spark.sql.sources._

  /** (start inclusive, stop exclusive) bounds from the pushed filters —
    * the conjunction of every recognized `row` comparison (tightest
    * bound wins; EqualTo becomes the [key, key+0x00) point range). */
  def rowBounds(filters: Array[Filter])
      : (Option[Array[Byte]], Option[Array[Byte]]) = {
    val cmp = graft.operators.RegionSort.unsignedBytes
    def tighterLo(a: Option[Array[Byte]], b: Array[Byte]) =
      Some(a.filter(x => cmp.compare(x, b) >= 0).getOrElse(b))
    def tighterHi(a: Option[Array[Byte]], b: Array[Byte]) =
      Some(a.filter(x => cmp.compare(x, b) <= 0).getOrElse(b))
    filters.foldLeft((Option.empty[Array[Byte]], Option.empty[Array[Byte]])) {
      case ((lo, hi), GreaterThanOrEqual("row", v: Array[Byte])) => (tighterLo(lo, v), hi)
      case ((lo, hi), GreaterThan("row", v: Array[Byte])) => (tighterLo(lo, v :+ 0x00.toByte), hi)
      case ((lo, hi), LessThan("row", v: Array[Byte])) => (lo, tighterHi(hi, v))
      case ((lo, hi), LessThanOrEqual("row", v: Array[Byte])) => (lo, tighterHi(hi, v :+ 0x00.toByte))
      case ((lo, hi), EqualTo("row", v: Array[Byte])) =>
        (tighterLo(lo, v), tighterHi(hi, v :+ 0x00.toByte))
      case (acc, _) => acc
    }
  }

  def recognized(f: Filter): Boolean = f match {
    case GreaterThanOrEqual("row", _: Array[Byte]) | GreaterThan("row", _: Array[Byte]) |
         LessThan("row", _: Array[Byte]) | LessThanOrEqual("row", _: Array[Byte]) |
         EqualTo("row", _: Array[Byte]) => true
    case _ => false
  }
}

/** DSv2 scan builder: `row`-range filters push down (fully handled —
  * file pruning via the manifest + the residual codegen filter inside
  * [[CellScan]]), required-column pruning trims the projection;
  * everything else is re-evaluated by Spark above the scan. Execution
  * rides the [[V1Scan]] seam — the same posture as the write side's
  * [[V1Write]]: DSv2 pushdown/catalog surface, [[CellScan.scanRange]]
  * underneath. This is the source's only read route.
  *
  * COUNT(*), MIN(row) and MAX(row) additionally push down COMPLETELY
  * when unfiltered and ungrouped: the answers come from
  * [[CellScan.metaStats]] — manifest row counts and key bounds (footer
  * fallback under the scan's own freshness rules) — so these aggregates
  * over a staged table are a metadata read, zero data pages, zero tasks
  * (the scan plans as a local one-row relation). Under a pushed
  * row-RANGE filter, COUNT(*) still pushes: fully-contained region
  * files contribute their manifest counts and only the boundary files
  * are scanned ([[CellScan.countRowsInRange]], run once at planning) —
  * a range count touches ≤ 2 data files no matter how many regions
  * exist. The push is claimed only AFTER the metadata walk succeeds
  * (and, for MIN/MAX, only when every non-empty live file carries exact
  * bounds), so a layout the scanner doesn't understand silently falls
  * back to the ordinary scan-and-aggregate plan. */
private[sources] class GraftCellsScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = CellOps.cellSchema
  // pushed aggregate kinds ("c" = COUNT(*), "lo" = MIN(row), "hi" =
  // MAX(row)) + the metadata answers backing them
  private var pushedAgg: Option[(Seq[String], Long, Option[(Array[Byte], Array[Byte])])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, unhandled) = filters.partition(GraftCellsFilters.recognized)
    pushed = handled
    unhandled // Spark re-evaluates these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def rowRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames.length == 1 && r.fieldNames()(0) == "row"
      case _ => false
    }

  /** Aggregate kinds iff EVERY expression is metadata-answerable and the
    * scan is ungrouped; None otherwise. Under pushed row-range filters
    * only COUNT(*) qualifies (answered as manifest counts of the fully-
    * contained region files + a scan of the boundary files only). */
  private def kinds(agg: Aggregation): Option[Seq[String]] =
    if (!(agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty)) None
    else {
      val ks = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some("c")
        case m: Min if rowRef(m.column) && pushed.isEmpty => Some("lo")
        case m: Max if rowRef(m.column) && pushed.isEmpty => Some("hi")
        case _ => None
      }
      if (ks.forall(_.isDefined)) Some(ks.flatten) else None
    }

  // one metadata walk per planned query: supportCompletePushDown and
  // pushAggregation are both called during planning, and at the 100k-file
  // scale a manifest-less directory would otherwise pay every footer
  // open twice (the builder instance is per-query, so caching is safe)
  private lazy val meta =
    CellScan.metaStats(org.apache.spark.sql.SparkSession.active, path)
  // DELIBERATE planning-time work: the boundary-file count runs a real
  // (two-task-ish) job inside pushAggregation, so even an EXPLAIN of a
  // range-filtered COUNT touches the two boundary files, and the answer
  // is snapshotted at plan time rather than execution time. Accepted
  // trade for an immutable-fileset store (plan/execute skew requires a
  // concurrent rewrite of the scanned dir, which the layout contract
  // forbids); if EXPLAIN side effects ever matter, the alternative is a
  // one-task Batch scan carrying (lo, hi) that defers this count to
  // execution — same I/O, later.
  private lazy val rangedCount: Option[Long] = {
    val (lo, hi) = GraftCellsFilters.rowBounds(pushed)
    CellScan.countRowsInRange(
      org.apache.spark.sql.SparkSession.active, path, lo, hi)
  }

  /** The metadata answers, iff they can back `ks`: bounds are required
    * only when MIN/MAX is requested against a non-empty table; a pushed
    * row range routes through the contained+boundary count. */
  private def answers(ks: Seq[String])
      : Option[(Long, Option[(Array[Byte], Array[Byte])])] =
    if (pushed.nonEmpty) rangedCount.map(c => (c, None))
    else meta.collect { case (total, bounds)
        if !ks.exists(k => k == "lo" || k == "hi") || total == 0L || bounds.isDefined =>
        (total, bounds)
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    kinds(agg).exists(ks => answers(ks).isDefined)

  override def pushAggregation(agg: Aggregation): Boolean =
    kinds(agg).exists { ks =>
      answers(ks) match {
        case Some((total, bounds)) => pushedAgg = Some((ks, total, bounds)); true
        case None => false
      }
    }

  override def build(): Scan = pushedAgg match {
    case Some((ks, total, bounds)) =>
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = StructType(ks.zipWithIndex.map {
          case ("c", i) => org.apache.spark.sql.types.StructField(
            s"count_$i", org.apache.spark.sql.types.LongType, nullable = false)
          case (k, i) => org.apache.spark.sql.types.StructField(
            s"${k}_$i", org.apache.spark.sql.types.BinaryType, nullable = true)
        })
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            ks.map {
              case "c"  => total: Any
              case "lo" => bounds.map(_._1).orNull
              case "hi" => bounds.map(_._2).orNull
            }.toArray))
        override def description(): String =
          s"graft-cells metadata aggregate [${ks.mkString(",")}] [$path]"
      }
    // NOTE on join statistics: the ordinary scan rides the V1Scan seam,
    // and Spark's V1ScanWrapper does not forward SupportsReportStatistics
    // (verified on this Spark: the wrapper reports the default infinite
    // size). Static auto-broadcast of a small staged table is therefore
    // unavailable through this seam BY CONSTRUCTION — the deployment
    // answer is AQE's runtime join conversion, which re-plans from the
    // ACTUAL materialized size (a property the engine's default session
    // enables and the SourceDriversSpec join test pins).
    case None => new V1Scan {
      override def readSchema(): StructType = required
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: org.apache.spark.sql.SQLContext): T = {
        val (p, (lo, hi), cols) = (path, GraftCellsFilters.rowBounds(pushed), required)
        new BaseRelation with TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = cols
          // manifest-pruned region scan with the residual range filter,
          // projected to the required columns (empty = 0-column rows for
          // count-only scans)
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            CellScan.scanRange(context.sparkSession, p, lo, hi)
              .select(cols.fieldNames.toIndexedSeq
                .map(org.apache.spark.sql.functions.col): _*).rdd
        }.asInstanceOf[T]
      }
    }
  }
}

object GraftCellsDataSource {
  /** Render explicit split points for `.option("splits", ...)`:
    * comma-separated hex (the inverse is [[parseSplits]]). */
  def splitsOption(splits: Seq[Array[Byte]]): String =
    splits.map(java.util.HexFormat.of().formatHex(_)).mkString(",")

  private[sources] def parseSplits(s: String): Seq[Array[Byte]] =
    s.split(",").toSeq.filter(_.nonEmpty).map(graft.operators.RegionSort.splitKey)
}

private[sources] class GraftCellsTable(schema0: StructType,
                                       properties: util.Map[String, String])
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String =
    "graft-cells " + properties.getOrDefault("path", "")
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // df.write carries path/salt in the per-write options; the SQL catalog
    // path (CREATE TABLE … USING graft-cells OPTIONS …) delivers them as
    // TABLE properties instead — merge, write options winning
    val merged = new util.HashMap[String, String](properties)
    info.options.entrySet().forEach(e => merged.put(e.getKey, e.getValue))
    new GraftCellsWrite(new CaseInsensitiveStringMap(merged))
  }
  /** READ side of the same table: `spark.read.format("graft-cells")` and
    * the catalog path (`CREATE TABLE … USING graft-cells` then plain
    * SELECT) both resolve here — the staged layout is a readable SQL
    * table, not a write-only sink. Path comes from per-read options or
    * the table properties (catalog tables). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](properties)
    options.entrySet().forEach(e => merged.put(e.getKey, e.getValue))
    val path = merged.get("path")
    require(path != null && path.nonEmpty, "graft-cells read requires a path")
    new GraftCellsScanBuilder(path)
  }
}

private[sources] class GraftCellsWrite(options: CaseInsensitiveStringMap)
    extends WriteBuilder with SupportsTruncate {

  private var truncateRequested = false
  override def truncate(): WriteBuilder = { truncateRequested = true; this }

  override def build(): V1Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          writeAligned(data, overwrite || truncateRequested)
      }
  }

  private def writeAligned(data: DataFrame, overwrite: Boolean): Unit = {
    require(overwrite,
      "graft-cells is a bulk-load staging sink: use mode(\"overwrite\") " +
        "(staging dirs are write-once-then-adopt; append has no bulk-load meaning)")
    val path = options.get("path")
    require(path != null && path.nonEmpty, "graft-cells requires a save path")
    val expected = CellOps.cellSchema.fieldNames.toSeq
    require(expected.forall(data.columns.contains),
      s"graft-cells input must carry columns $expected, got ${data.columns.toSeq}")

    val cfg = BulkLoad.Config(
      saltBuckets = Option(options.get("salt")).map(_.toInt),
      splits = Option(options.get("splits"))
        .map(GraftCellsDataSource.parseSplits),
      regions = Option(options.get("regions")).map(_.toInt).getOrElse(10))
    // column order pinned to the cell contract (positional exec reads),
    // then the one shared exchange/sort/sink path the BulkLoad drivers use
    val cells = data.select(expected.map(org.apache.spark.sql.functions.col): _*)
    val sink = HFileCellSink.orFallback
    sink.write(BulkLoad.sorted(cells, cfg), path)
    sink.postCommit(path)
  }
}
