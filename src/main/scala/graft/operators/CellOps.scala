package graft.operators

import graft.functions.keys
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's cell model and wide→tall transforms.
  *
  * Unit of data is the HBase-style cell `(row, family, qualifier, value)` —
  * all BinaryType, plus a LongType `ts` version (SURVEY.md §1.1; reference
  * `Put` construction at BulkImporterFromText.java:60-66). The reference
  * explodes each parsed record into ≤9 cells in a hand-written mapper loop
  * (BulkImporterFromText.java:62-66); here the same shape transform is the
  * declarative `posexplode`/`unpivot`, which Catalyst prunes and pushes
  * filters through, and which stays inside whole-stage codegen.
  */
object CellOps {

  val cellSchema: StructType = StructType(Seq(
    StructField("row", BinaryType, nullable = false),
    StructField("family", BinaryType, nullable = false),
    StructField("qualifier", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("ts", LongType, nullable = false)))

  /** The schema a load writes into its part files: [[cellSchema]]'s
    * columns with the nullability the optimized [[explodeIndexed]] and
    * [[explodeNamed]] plans carry into the writer — `row` and `value` are
    * nullable, as are name qualifiers; the constant family, index
    * qualifiers and `ts` are not. The load path's ordered explode
    * declares the same, so its files stay byte-identical to the cell-sort
    * path's. */
  def loadSchema(indexQualifiers: Boolean): StructType = StructType(cellSchema.map { f =>
    f.copy(nullable = f.name == "row" || f.name == "value" ||
      (f.name == "qualifier" && !indexQualifiers))
  })

  /** HBase KeyValue order, the one definition every region sort and
    * compaction uses: unsigned (row, family, qualifier), then NEWEST
    * version first (`ts` descending) — a reader takes the first cell at a
    * coordinate as the latest, and the HFile writer rejects a key below
    * its predecessor. */
  val keyValueOrder: Seq[Column] = Seq(col("row"), col("family"), col("qualifier"), col("ts").desc)

  /** [[keyValueOrder]] over `(row, family, qualifier, ts)` tuples. */
  val keyValueOrdering: Ordering[(Array[Byte], Array[Byte], Array[Byte], Long)] = {
    val b = RegionSort.unsignedBytesOrdering
    Ordering.Tuple4(b, b, b, Ordering.Long.reverse)
  }

  /** Wide row → cells with 4-byte big-endian column-index qualifiers
    * (text/CSV/RC reference paths; BulkImporterFromText.java:62-66).
    * Null fields emit no cell (reference P4 null guard), and a NULL row
    * key emits NO cells — a key-less cell is invalid downstream; BulkLoad
    * quarantines such source rows before this point. `ts` defaults to a
    * caller-provided load timestamp so output is deterministic/testable. */
  def explodeIndexed(df: DataFrame, rowKey: Column, family: String,
                     valueCols: Seq[Column], ts: Long = 0L): DataFrame =
    df.select(rowKey.as("row"),
        posexplode(array(valueCols.map(_.cast(StringType)): _*)).as(Seq("pos", "v")))
      .where(col("v").isNotNull && col("row").isNotNull)
      .select(
        col("row"),
        keys.utf8(lit(family)).as("family"),
        keys.beInt4(col("pos")).as("qualifier"),
        keys.utf8(col("v")).as("value"),
        lit(ts).as("ts"))

  /** HBase read-path versioning semantics, expressed relationally: drop
    * cells at or below the TTL cutoff, then keep the newest `maxVersions`
    * per (row, family, qualifier) coordinate. The reference declares BOTH
    * server-side (`create_table.rb:1` — `VERSIONS => 3, TTL => 7776000`)
    * and never touches them in code; this operator makes the same
    * semantics an explicit compaction pass any cell table can run before
    * serving or re-writing.
    *
    * Scale shape: ONE shuffle on the cell coordinate; the rank window's
    * per-key sort is bounded by the version count (one cell per load per
    * coordinate — small by construction, unlike fact-table top-k where
    * [[graft.functions.TopKPairs]] is the right tool). Ties on `ts` rank
    * deterministically by value. */
  def compactVersions(cells: DataFrame, maxVersions: Int, minTs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("row"), col("family"), col("qualifier"))
      .orderBy(col("ts").desc, col("value").asc)
    cells.where(col("ts") >= minTs)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxVersions)
      .drop("rn")
  }

  /** MAJOR compaction with DELETE-marker semantics (the HBase read/flush
    * model [[compactVersions]] leaves out): an `op = 'delete'` cell at a
    * coordinate shadows every put at that coordinate with `ts` at or
    * before the marker (HBase DeleteColumn), and a major compaction then
    * DROPS the markers themselves — the output is pure surviving puts,
    * version-trimmed and TTL-cut like [[compactVersions]].
    *
    * Scale shape: the shadow horizon is a map-side-combinable `max(ts)`
    * aggregate per coordinate (markers are a small minority, so the
    * aggregate frame is tiny), re-attached with a left join keyed
    * EXACTLY like the compaction window — one partitioning serves the
    * join and the rank. */
  def compactWithTombstones(cells: DataFrame, maxVersions: Int,
                            minTs: Long): DataFrame = {
    val key = Seq(col("row"), col("family"), col("qualifier"))
    val horizon = cells.where(col("op") === "delete")
      .groupBy(key: _*).agg(max(col("ts")).as("del_ts"))
    compactVersions(
      cells.where(col("op") =!= "delete")
        .join(horizon, Seq("row", "family", "qualifier"), "left")
        .where(col("del_ts").isNull || col("ts") > col("del_ts"))
        .drop("del_ts", "op"),
      maxVersions, minTs)
  }

  /** HBase point-in-time READ (a Get/Scan with time range `[0, asOfTs]`):
    * the visible image of a cell store at time T. Puts with `ts <= T` are
    * candidates; an `op = 'delete'` marker with `ts <= T` shadows every
    * put at its coordinate with `ts` at or before the marker; the newest
    * surviving put per coordinate wins. Unlike [[compactWithTombstones]]
    * this is a read, not a rewrite — markers stay in the store and a later
    * read at a higher T can surface puts this one hides (the time-travel
    * primitive the compactions permanently forgo).
    *
    * Scale shape: delegates to the compaction pass, so one shuffle on the
    * cell coordinate; the `ts <= T` filter is a plain pushed predicate on
    * the scan. */
  def snapshotAsOf(cells: DataFrame, asOfTs: Long): DataFrame =
    compactWithTombstones(cells.where(col("ts") <= asOfTs),
      maxVersions = 1, minTs = Long.MinValue)

  /** The read-path INVERSE of [[explodeIndexed]]: latest-version cells
    * pivoted back to one wide row per row key, with `colNames(i)` taking
    * the value of the 4-byte-big-endian qualifier `i` (an HBase
    * multi-column Get rendered relationally). Version resolution first
    * ([[compactVersions]] keep-1), then ONE shuffle on the row key builds
    * a qualifier→value map per row — `map_from_entries` over a frame
    * bounded by the column count, never a per-row window. Columns absent
    * from a row (null cells were never written) come back NULL, restoring
    * the write-side null guard's round-trip. */
  def reconstituteWide(cells: DataFrame, colNames: Seq[String]): DataFrame = {
    val latest = compactVersions(cells, maxVersions = 1, minTs = Long.MinValue)
    latest
      .select(col("row"),
        conv(hex(col("qualifier")), 16, 10).cast(IntegerType).as("pos"),
        col("value").cast(StringType).as("v"))
      .groupBy(col("row"))
      .agg(map_from_entries(collect_list(struct(col("pos"), col("v")))).as("m"))
      .select(col("row") +: colNames.zipWithIndex.map { case (n, i) =>
        col("m").getItem(i).as(n) }: _*)
  }

  /** Wide row → cells with field-name qualifiers (Avro reference path;
    * BulkImporterFromAvro.java:62-67). Uses `Dataset.unpivot` (Spark 3.4+
    * melt) — the idiomatic declarative form of the mapper loop. */
  def explodeNamed(df: DataFrame, rowKey: Column, family: String,
                   valueCols: Seq[String], ts: Long = 0L): DataFrame =
    df.withColumn("__row", rowKey)
      .unpivot(
        ids = Array(col("__row")),
        values = valueCols.map(c => col(c).cast(StringType).as(c)).toArray,
        variableColumnName = "qual",
        valueColumnName = "v")
      .where(col("v").isNotNull && col("__row").isNotNull)
      .select(
        col("__row").as("row"),
        keys.utf8(lit(family)).as("family"),
        keys.utf8(col("qual")).as("qualifier"),
        keys.utf8(col("v")).as("value"),
        lit(ts).as("ts"))
}
