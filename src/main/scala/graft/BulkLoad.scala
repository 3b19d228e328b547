package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.keys
import graft.operators.{CellOps, RegionSort}
import graft.sources.{AvroSource, Delimited, JsonLines, OrcSource, RCFileSource}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's user-facing bulk-load API — drop-in parity with the four
  * reference drivers (`BulkImporterFromText/CSVText/Avro/RC`, each a
  * `Tool.run` of scan → parse → rowkey → cells → total-order sort → HFiles
  * → bulk load), re-expressed as one configurable declarative pipeline.
  *
  * A reference invocation like `sample_run.sh`'s
  * `BulkImporterFromCSVText hbase-site.xml input out` becomes:
  * {{{
  *   val r = BulkLoad.csv(spark, input, BulkLoad.Config())
  *   r.sink.write(r.cells, out)   // sorted cells, region-aligned
  * }}}
  *
  * Differences from the reference are deliberate and documented:
  * UTF-8 everywhere (it mixed platform charset and UTF-8), strict
  * RFC-4180 CSV by default with `compatNaiveSplit` opt-in, quarantined
  * (not silently dropped) malformed rows, salting exposed as a
  * first-class option (its disabled design intent), and the RC key
  * normalized to in-range fields (its field-20 bug).
  */
object BulkLoad {

  sealed trait QualifierStrategy
  /** 4-byte big-endian column index (text/CSV/RC reference paths). */
  case object IndexQualifiers extends QualifierStrategy
  /** UTF-8 field name (Avro reference path). */
  case object NameQualifiers extends QualifierStrategy

  /** Pipeline configuration. Defaults mirror the reference's CSV driver:
    * 9 string columns, key = md5 over fields 0-3, family "c", 10 regions
    * (`create_table.rb:1`), no salt. */
  case class Config(
      arity: Int = 9,
      keyFields: Seq[Int] = Seq(0, 1, 2, 3),
      family: String = "c",
      regions: Int = 10,
      saltBuckets: Option[Int] = None,
      qualifiers: QualifierStrategy = IndexQualifiers,
      compatNaiveSplit: Boolean = false,
      loadTs: Long = 0L,
      /** Explicit region boundaries (first key of region i+1, unsigned
        * byte order) — the `TotalOrderPartitioner` split-file analog of
        * the reference's live `RegionLocator.getStartKeys` lookup
        * (BulkImporterFromText.java:105-108); `regions` is then ignored.
        * Mutually exclusive with `saltBuckets`, whose salt digits define
        * their own boundaries. When unset, the MD5-keyed loads ([[csv]],
        * [[hiveText]], [[rcFile]], [[orc]]) fix them to
        * [[RegionSort.uniformMd5Splits]]`(regions)` (see
        * [[withFixedSplits]]); the named-key feeds ([[avro]], [[jsonl]]),
        * [[sorted]] calls without splits and `regions` outside 2..65536
        * sample `regions` boundaries from the keys. Every load is exactly
        * aligned to its boundaries through
        * [[graft.plans.RegionAlignedRowExchange]]. */
      splits: Option[Seq[Array[Byte]]] = None) {
    require(splits.isEmpty || saltBuckets.isEmpty,
      "explicit splits and salting are mutually exclusive: salt digits define their own region boundaries")
  }

  /** Result: region-sorted cells + quarantined rows + the sink.
    * `quarantined` is a single string column `value`: the raw line for
    * parse-level rejects, a JSON rendering for rows rejected later (e.g.
    * un-keyable rows whose key fields are null). */
  case class Result(cells: DataFrame, quarantined: DataFrame, sink: CellSink)

  /** CSV driver (reference `BulkImporterFromCSVText`). Strict RFC-4180 by
    * default; `cfg.compatNaiveSplit` reproduces the reference's naive
    * `split(",")` skip semantics. */
  def csv(spark: SparkSession, input: String, cfg: Config = Config()): Result =
    if (cfg.compatNaiveSplit) naiveLines(spark.read.text(input), ",", cfg)
    else {
      val kept = Delimited.strictCsv(spark, input, cfg.arity)
      fromPositional(kept, emptyQuarantine(spark), cfg)
    }

  /** Hive `\u0001`-delimited text driver (reference `BulkImporterFromText`). */
  def hiveText(spark: SparkSession, input: String, cfg: Config = Config()): Result =
    naiveLines(spark.read.text(input), Delimited.HiveDelimiter, cfg)

  /** Avro driver (reference `BulkImporterFromAvro`): key = reverse(first
    * field), field-name qualifiers, null `id` quarantined (the reference
    * NPEs on it). */
  def avro(spark: SparkSession, input: String, cfg: Config = Config(qualifiers = NameQualifiers)): Result = {
    val df = AvroSource.read(spark, input)
    val idCol = df.columns.head
    val kept = df.where(col(idCol).isNotNull)
    val rejected = df.where(col(idCol).isNull)
      .select(to_json(struct(df.columns.map(col): _*)).as("value"))
    Result(sortedNamedFromRows(kept, keys.reversedKey(col(idCol)),
      df.columns.toSeq, cfg), rejected, SortedParquetCellSink)
  }

  /** JSON-lines driver — same named-cell semantics as [[avro]] (reversed
    * first-field key, field-name qualifiers, null-id quarantine, null
    * fields emit no cell) over the feed format modern pipelines actually
    * ship. Reads through [[JsonLines.read]], so malformed lines join the
    * null-id rows in the quarantine frame (the [[Delimited]]
    * no-silent-drop contract); `ddl` fixes the schema and the qualifier
    * order explicitly — never inferred. */
  def jsonl(spark: SparkSession, input: String, ddl: String,
            cfg: Config = Config(qualifiers = NameQualifiers)): Result = {
    val (df, malformed) = JsonLines.read(spark, input,
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val idCol = df.columns.head
    val kept = df.where(col(idCol).isNotNull)
    val rejected = df.where(col(idCol).isNull)
      .select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .unionByName(malformed)
    Result(sortedNamedFromRows(kept, keys.reversedKey(col(idCol)),
      df.columns.toSeq, cfg), rejected, SortedParquetCellSink)
  }

  /** The reference RC driver's literal key fields (BulkImporterFromRC.java:54-56):
    * (1, 3, 4, 20) against a 9-column schema — field 20 is out of range, so
    * the reference mapper throws on every arity-matched row (the documented
    * field-20 bug, SURVEY §1.3). Opt in via `Config(keyFields =
    * ReferenceRcKeyFields)` (CLI: `rcfile-compat`): out-of-range key fields
    * read as null, so affected rows are QUARANTINED instead of killing the
    * job — same rows rejected, recoverably. */
  val ReferenceRcKeyFields: Seq[Int] = Seq(1, 3, 4, 20)

  /** RCFile driver (reference `BulkImporterFromRC`); default key fields
    * normalized to in-range positions, [[ReferenceRcKeyFields]] opt-in.
    * Records failing the arity guard join the quarantine. */
  def rcFile(spark: SparkSession, input: String, cfg: Config = Config()): Result = {
    val (kept, rejected) = RCFileSource.read(spark, input, cfg.arity)
    fromPositional(kept, rejected, cfg)
  }

  /** ORC driver — the modern columnar input (vectorized scan + column
    * pruning; the legacy RCFile shim covers reference parity). */
  def orc(spark: SparkSession, input: String, cfg: Config = Config()): Result = {
    val kept = OrcSource.read(spark, input, cfg.arity)
    fromPositional(kept, emptyQuarantine(spark), cfg)
  }

  /** Shared tail: positional columns → rowkey → region exchange → row
    * sort → cells ([[sortedFromRows]]).
    * Rows whose KEY fields contain nulls cannot be keyed (the composite MD5
    * would be NULL) — they join the quarantine as JSON instead of silently
    * producing key-less cells ('quarantine, not drop', ARCHITECTURE.md).
    * Key fields beyond the row arity read as null (⇒ quarantine), mirroring
    * where the reference would crash (see [[ReferenceRcKeyFields]]). */
  def fromPositional(kept: DataFrame, quarantined: DataFrame, config: Config): Result = {
    val cfg = withFixedSplits(config)
    val ok = keyable(cfg)
    Result(positionalCells(kept.where(ok), cfg),
      quarantined.unionByName(kept.where(!ok).select(asJson(kept.columns.toSeq.map(col)).as("value"))),
      SortedParquetCellSink)
  }

  /** The naive-split loads ([[csv]] in compat mode, [[hiveText]], every
    * streaming micro-batch) over a raw `value` lines frame: ONE token
    * frame ([[Delimited.naiveFields]]) feeds the cells and the
    * quarantine, and the quarantine is one filter and projection over it —
    * arity rejects keep their raw line, un-keyable rows their JSON, as in
    * [[fromPositional]] — so writing it scans the lines once. */
  private[graft] def naiveLines(lines: DataFrame, delim: String, config: Config): Result = {
    val cfg = withFixedSplits(config)
    val fields = Delimited.naiveFields(lines, delim, cfg.arity)
    val positional = (0 until cfg.arity).map(i => col(s"c$i"))
    val fits = col(Delimited.TokenCount) === cfg.arity
    val ok = fits && keyable(cfg)
    Result(positionalCells(fields.where(ok).select(positional: _*), cfg),
      fields.where(!ok).select(when(fits, asJson(positional)).otherwise(col("value")).as("value")),
      SortedParquetCellSink)
  }

  /** Positional field `i` of a `c0..` frame; beyond the arity, null. */
  private def field(cfg: Config, i: Int): Column =
    if (i < cfg.arity) col(s"c$i")
    else lit(null).cast(org.apache.spark.sql.types.StringType)

  /** True for rows whose key fields are all present. */
  private def keyable(cfg: Config): Column =
    cfg.keyFields.map(field(cfg, _).isNotNull).reduce(_ && _)

  /** The quarantine rendering of a row the pipeline could not key. */
  private def asJson(fields: Seq[Column]): Column = to_json(struct(fields: _*))

  /** Keyable positional rows → MD5 row key → cells. */
  private def positionalCells(rows: DataFrame, cfg: Config): DataFrame = {
    val rowKey = keys.md5CompositeKey(cfg.keyFields.map(field(cfg, _)))
    sortedFromRows(rows.select((rowKey.as("row") +: (0 until cfg.arity).map(i => col(s"c$i"))): _*), cfg)
  }

  /** MD5-keyed config with fixed region boundaries: no salt, no splits
    * and `regions` in 2..65536 becomes `splits =`
    * [[RegionSort.uniformMd5Splits]]`(regions)`. MD5-composite keys are
    * uniform in their leading bytes, so the static uniform pre-split is
    * exactly region-aligned, and the load needs no sampling pass over its
    * input — the reference reads the live table's start keys once per
    * job (BulkImporterFromText.java:105-108). Any other config is
    * returned as is. */
  def withFixedSplits(cfg: Config): Config =
    if (cfg.saltBuckets.isEmpty && cfg.splits.isEmpty &&
        cfg.regions >= 2 && cfg.regions <= 65536)
      cfg.copy(splits = Some(RegionSort.uniformMd5Splits(cfg.regions).toSeq))
    else cfg

  /** Empty quarantine frame with the canonical single `value` column. */
  def emptyQuarantine(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))

  /** Region exchange on the leading binary key column, always through
    * [[graft.plans.RegionAlignedRowExchange]]; only the boundaries'
    * source differs. Salted loads use the salt digits (the table's
    * pre-split boundaries, create_table.rb:1), explicit `cfg.splits` an
    * EXISTING table's region layout (MD5-keyed loads get the uniform
    * pre-split from [[withFixedSplits]]), and a config with neither
    * samples `cfg.regions` boundaries from the keys when the exchange
    * first runs. */
  private def exchange(rows: DataFrame, cfg: Config): DataFrame = {
    val key = rows.columns.head
    cfg.saltBuckets match {
      case Some(b) =>
        val salted = rows.withColumn(key,
          concat(keys.saltPrefix(crc32(col(key)), b), col(key)))
        graft.plans.RegionAlignedRowExchange(salted, RegionSort.saltSplits(b))
      case None =>
        graft.plans.RegionAlignedRowExchange(rows, cfg.splits, cfg.regions)
    }
  }

  private def kvSorted(cells: DataFrame): DataFrame =
    cells.sortWithinPartitions(CellOps.keyValueOrder: _*)

  /** Region sort of already-exploded cells (`row` leading): the
    * [[exchange]] chosen by `cfg`, then a partition-local sort to
    * [[CellOps.keyValueOrder]]. Every compaction re-sorts persisted cell
    * filesets through this, so versions of one coordinate land newest
    * first. */
  private[graft] def sorted(cells: DataFrame, cfg: Config): DataFrame =
    kvSorted(exchange(cells, cfg))

  /** The load path from WIDE keyed rows (leading binary key, then one
    * column per value): (1) the values are UTF-8 encoded and the
    * total-order [[exchange]] moves the source ROWS — the key moves once
    * per row instead of once per cell, arity× fewer shuffle tuples;
    * (2) a partition-local sort orders the rows on the key alone (BinaryType
    * compares unsigned lexicographic, as [[RegionSort.unsignedBytes]]);
    * (3) [[graft.plans.OrderedExplode]] emits each row's cells in qualifier
    * byte order, buffering equal-key runs, so the cells come out in
    * [[CellOps.keyValueOrder]] with no cell sort: the sort buffers one
    * record per row, not one per cell. Qualifiers follow
    * `cfg.qualifiers`: 4-byte indexes, or the value columns' names.
    * Output contract is IDENTICAL to [[sorted]]: file i ⊆ region i,
    * in-file KeyValue order. Salting prepends the salt digit to the key
    * before the exchange, so the salt-digit boundaries stay exact. With
    * fixed boundaries the whole load is one Spark job: no sampling pass
    * re-reads the input. */
  private[graft] def sortedFromRows(rows: DataFrame, cfg: Config): DataFrame = {
    val key = rows.columns.head
    val values = rows.columns.toSeq.tail
    val encoded = rows.select(col(key) +: values.map(v => keys.utf8(col(v)).as(v)): _*)
    val indexed = cfg.qualifiers == IndexQualifiers
    val qualifiers =
      if (indexed) values.indices.map(keys.beInt4Bytes) else values.map(_.getBytes(UTF_8))
    graft.plans.OrderedExplode(exchange(encoded, cfg).sortWithinPartitions(col(key)),
      cfg.family.getBytes(UTF_8), qualifiers, cfg.loadTs, CellOps.loadSchema(indexed))
  }

  /** [[sortedFromRows]] for the NAMED-qualifier feeds (Avro/JSONL): keys
    * each source row under a collision-proof column name (the source
    * schema may legitimately contain a `row` field). */
  private[graft] def sortedNamedFromRows(kept: DataFrame, rowKey: Column,
                                         names: Seq[String], cfg: Config): DataFrame =
    sortedFromRows(kept.select((rowKey.as("__graft_row") +: names.map(col)): _*),
      cfg.copy(qualifiers = NameQualifiers))
}

/** Terminal sink for sorted cells — the stand-in seam for
  * `HFileOutputFormat2` + `LoadIncrementalHFiles` (reference X3/X5).
  * Implementations must preserve the partition/order contract: file i
  * holds region i's cells in KeyValue order — unsigned (row, family,
  * qualifier), newest `ts` first ([[graft.operators.CellOps.keyValueOrder]]). */
trait CellSink {
  def write(cells: DataFrame, path: String): Unit
  /** Post-commit hook — the reference's fixed tail sequence after the
    * files land (BulkImporterFromText.java:118-133): permission walk →
    * `doBulkLoad` handoff → staging cleanup, IN THAT ORDER (the region
    * server must be able to read the files before adoption, and nothing
    * may be deleted until adoption succeeds). Steps are no-ops without an
    * HBase cluster; implementations override the individual steps, never
    * the sequencing. */
  final def postCommit(path: String): Unit = {
    chmodStep(path)
    bulkLoadStep(path)
    cleanupStep(path)
  }
  /** X4: recursive permission walk (the reference's chmod 777). */
  protected def chmodStep(path: String): Unit = ()
  /** X5: hand the written files to the serving system (doBulkLoad). */
  protected def bulkLoadStep(path: String): Unit = ()
  /** X6: remove staging output after successful adoption. */
  protected def cleanupStep(path: String): Unit = ()
}

/** Parquet sink preserving the sorted, region-partitioned layout —
  * byte-verifiable without HBase jars (SURVEY.md §7.4). Writing real
  * HFiles is a drop-in alternative implementation of this trait via
  * `saveAsNewAPIHadoopFile[HFileOutputFormat2]` when hbase-mapreduce is on
  * the classpath. Both phases ride on [[graft.sources.RegionWriter]]: one
  * parquet file per region, written by that region's task, and the
  * region manifest from the writer's own statistics — no file is opened
  * after it is written. */
object SortedParquetCellSink extends CellSink {
  /** Data files only, replacing whatever `path` held: one file per
    * non-empty region, the writer's manifest entries returned. */
  def writeData(cells: DataFrame, path: String): Seq[graft.sources.RegionWriter.Written] = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(cells.sparkSession.sessionState.newHadoopConf()).delete(p, true)
    graft.sources.RegionWriter.write(cells, path)
  }

  /** [[writeData]], then the META-analog boundary index from the writer's
    * entries (graft.sources.CellManifest), so every later CellScan is one
    * small-file read. The manifest is a cache by contract — every reader
    * falls back to footer stats without it — so a failure to write it
    * is logged and the load, whose data files are complete, stands. */
  override def write(cells: DataFrame, path: String): Unit = {
    val written = writeData(cells, path)
    // NonFatal only: OutOfMemoryError/InterruptedException propagate
    try graft.sources.CellManifest.write(cells.sparkSession, path, written)
    catch { case scala.util.control.NonFatal(e) => System.err.println(
      s"[graft] manifest for $path failed (${e.getClass.getSimpleName}); " +
        "readers fall back to footers") }
  }
}
