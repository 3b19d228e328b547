package graft.queries

import graft.functions.keys
import graft.operators.{CellOps, Layout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity query inventory — the bulk-load engine's operators
  * (SURVEY.md §2.1-§2.4) expressed over the driver testdata tables so the
  * DuckDB oracle can hash-check byte-exact behavior: MD5 composite row keys,
  * reversed keys, salting, wide→tall cell explode with index/name
  * qualifiers, arity-filtered tokenization, and the region-sorted pipeline.
  */
object ReferenceParity {
  import Tables._

  /** customer's 64-byte composite MD5 rowkey (RowKeyConverter.java:13-31). */
  private def custKey = keys.md5CompositeKey(Seq(
    col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")))

  /** The region layout of [[custKey]] cells: the uniform 10-region MD5
    * pre-split every MD5-keyed load fixes. */
  private val md5Regions = graft.BulkLoad.withFixedSplits(graft.BulkLoad.Config())

  /** lowercase-hex rendering of the composite key — md5() is already hex in
    * both engines, so hex(unhex(md5 a)||unhex(md5 b)…) = md5(a)||md5(b)…. */
  private val custKeyHexSql =
    "md5(CAST(c_custkey AS VARCHAR)) || md5(c_name) || " +
    "md5(CAST(c_nationkey AS VARCHAR)) || md5(c_mktsegment)"

  /** customer columns as deterministic strings (doubles via DECIMAL(18,2)
    * so Spark and DuckDB render identically). */
  private def custValueCols = Seq(
    col("c_custkey").cast(StringType),
    col("c_name"),
    col("c_nationkey").cast(StringType),
    col("c_acctbal").cast(DecimalType(18, 2)).cast(StringType),
    col("c_mktsegment"))

  private val custValueSqls = Seq(
    "CAST(c_custkey AS VARCHAR)", "c_name", "CAST(c_nationkey AS VARCHAR)",
    "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)", "c_mktsegment")

  /** Cell columns are emitted as lowercase hex (see [[Tables.hexBin]]):
    * family 'c' ↦ '63', indexed qualifiers ↦ 8 hex digits, named
    * qualifiers ↦ hex of the UTF-8 name, values ↦ hex of UTF-8 bytes. */
  private def cellsIndexedSql: String = cellsIndexedSql(0L)

  private def cellsIndexedSql(ts: Long): String = {
    val branches = custValueSqls.zipWithIndex.map { case (v, i) =>
      s"""SELECT k AS "row", '63' AS "family", '${f"$i%08x"}' AS "qualifier", lower(hex($v)) AS "value", CAST($ts AS BIGINT) AS "ts" FROM src"""
    }
    s"WITH src AS (SELECT $custKeyHexSql AS k, * FROM customer) " + branches.mkString(" UNION ALL ")
  }

  /** Hex of the KeyValue wire image for the indexed customer cells:
    * keylen=2+64+1+1+4+8+1=81 (0x51), rowlen=64 (0x0040), famlen=1,
    * family 'c'=0x63, 8-hex-digit qualifier, ts=0, type Put=0x04. */
  private def kvWireSql: String = {
    val branches = custValueSqls.zipWithIndex.map { case (v, i) =>
      s"""SELECT k AS "row",
            '00000051' || lower(lpad(to_hex(strlen($v)), 8, '0')) ||
            '0040' || k || '0163' || '${f"$i%08x"}' ||
            '0000000000000000' || '04' || lower(hex($v)) AS "kv"
          FROM src"""
    }
    s"WITH src AS (SELECT $custKeyHexSql AS k, * FROM customer) " +
      branches.mkString(" UNION ALL ")
  }

  /** Four loads at ts 100..400 → TTL cutoff 150 drops the first, keep-2
    * versioning drops the second — mirror of CellOps.compactVersions. */
  private def cellsCompactSql: String = {
    val unions = Seq(100L, 200L, 300L, 400L)
      .map(ts => s"SELECT * FROM (${cellsIndexedSql(ts)})").mkString(" UNION ALL ")
    s"""SELECT "row", "family", "qualifier", "value", "ts" FROM (
          SELECT *, row_number() OVER (
            PARTITION BY "row", "family", "qualifier"
            ORDER BY "ts" DESC, "value" ASC) rn
          FROM ($unions) WHERE "ts" >= 150)
        WHERE rn <= 2"""
  }

  /** Visible image at T=350 of the tombstone store: loads 100..300 are
    * candidates (400 is future), marked rows fully shadowed, newest wins. */
  private def cellsSnapshotSql: String = {
    val unions = Seq(100L, 200L, 300L, 400L)
      .map(ts => s"SELECT * FROM (${cellsIndexedSql(ts)})").mkString(" UNION ALL ")
    s"""WITH del AS (SELECT $custKeyHexSql AS k FROM customer WHERE c_custkey % 7 = 0)
        SELECT "row", "family", "qualifier", "value", "ts" FROM (
          SELECT *, row_number() OVER (
            PARTITION BY "row", "family", "qualifier"
            ORDER BY "ts" DESC, "value" ASC) rn
          FROM ($unions)
          WHERE "ts" <= 350
            AND NOT ("row" IN (SELECT k FROM del) AND "ts" <= 350))
        WHERE rn = 1"""
  }

  /** Round-trip identity: the reconstituted wide rows must equal the
    * original customer rendering (newest load wins at every coordinate). */
  private def cellsReconstituteSql: String =
    s"""SELECT $custKeyHexSql AS "row", CAST(c_custkey AS VARCHAR) AS c_custkey,
          c_name, CAST(c_nationkey AS VARCHAR) AS c_nationkey,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS c_acctbal,
          c_mktsegment
        FROM customer"""

  private def cellsNamedSql: String = {
    val names = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val branches = names.zip(custValueSqls).map { case (n, v) =>
      s"""SELECT k AS "row", '63' AS "family", '${hexOf(n)}' AS "qualifier", lower(hex($v)) AS "value", CAST(0 AS BIGINT) AS "ts" FROM src"""
    }
    "WITH src AS (SELECT lower(hex(reverse(CAST(c_custkey AS VARCHAR)))) AS k, * FROM customer) " +
      branches.mkString(" UNION ALL ")
  }

  /** [[cellsCompactSql]] plus DELETE markers at ts 350 on every qualifier
    * of the `c_custkey % 7 = 0` rows: those coordinates lose the 100..300
    * puts (shadowed) and keep only the 400 load; unmarked coordinates keep
    * {400, 300} — mirror of CellOps.compactWithTombstones. */
  private def cellsTombstonesSql: String = {
    val unions = Seq(100L, 200L, 300L, 400L)
      .map(ts => s"SELECT * FROM (${cellsIndexedSql(ts)})").mkString(" UNION ALL ")
    s"""WITH del AS (SELECT $custKeyHexSql AS k FROM customer WHERE c_custkey % 7 = 0)
        SELECT "row", "family", "qualifier", "value", "ts" FROM (
          SELECT *, row_number() OVER (
            PARTITION BY "row", "family", "qualifier"
            ORDER BY "ts" DESC, "value" ASC) rn
          FROM ($unions)
          WHERE "ts" >= 150
            AND NOT ("row" IN (SELECT k FROM del) AND "ts" <= 350))
        WHERE rn <= 2"""
  }

  // ---- non-text source formats under the oracle gate (S3/S4 + ORC) ----
  // Each query stages a small fixture DERIVED FROM the sf supplier table
  // in the format under test (once per data dir; content is a pure
  // function of the driver-fixed parquet, so the staged copy never goes
  // stale), reads it back through the engine's source driver, and runs
  // the full cell pipeline. The oracle computes the same cells straight
  // from the parquet table — a green row proves the format round-trip
  // AND the pipeline are byte-identical to the text drivers.

  /** supplier as deterministic positional strings (doubles via
    * DECIMAL(18,2), the custValueCols convention). */
  private def supplierPositional(df: org.apache.spark.sql.DataFrame) = df.select(
    col("s_suppkey").cast(StringType).as("c0"),
    col("s_name").as("c1"),
    col("s_nationkey").cast(StringType).as("c2"),
    col("s_acctbal").cast(DecimalType(18, 2)).cast(StringType).as("c3"))

  private val suppValueSqls = Seq(
    "CAST(s_suppkey AS VARCHAR)", "s_name", "CAST(s_nationkey AS VARCHAR)",
    "CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR)")

  /** Indexed cells of the 4-column supplier fixture: key = md5 concat of
    * all four fields (Config default keyFields 0..3 at arity 4). */
  private def suppCellsIndexedSql: String = {
    val k = suppValueSqls.map(v => s"md5($v)").mkString(" || ")
    val branches = suppValueSqls.zipWithIndex.map { case (v, i) =>
      s"""SELECT k AS "row", '63' AS "family", '${f"$i%08x"}' AS "qualifier", lower(hex($v)) AS "value", CAST(0 AS BIGINT) AS "ts" FROM src"""
    }
    s"WITH src AS (SELECT $k AS k, * FROM supplier) " + branches.mkString(" UNION ALL ")
  }

  /** Named cells of the avro supplier fixture: reversed-id key, field-name
    * qualifiers, and a NULLABLE acctbal (negative balances write as avro
    * nulls → the null-cell guard emits no cell, the reference S3 path). */
  private def suppCellsAvroSql: String = {
    val cols = Seq(
      "id" -> "id", "name" -> "name", "nationkey" -> "nk", "acctbal" -> "ab")
    val branches = cols.map { case (n, v) =>
      val guard = if (n == "acctbal") " WHERE ab IS NOT NULL" else ""
      s"""SELECT lower(hex(reverse(id))) AS "row", '63' AS "family", '${hexOf(n)}' AS "qualifier", lower(hex($v)) AS "value", CAST(0 AS BIGINT) AS "ts" FROM src$guard"""
    }
    """WITH src AS (SELECT CAST(s_suppkey AS VARCHAR) AS id, s_name AS name,
         CAST(s_nationkey AS VARCHAR) AS nk,
         CASE WHEN s_acctbal < 0 THEN NULL
              ELSE CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR) END AS ab
       FROM supplier) """ + branches.mkString(" UNION ALL ")
  }

  /** Stage a fixture once per path (deterministic content — same
    * immutable-input contract as [[Layout.bucketedTable]]): `write` lands
    * it at the temp path it is given and [[graft.sources.Publish
    * .publishIfAbsent]] renames it in on the session's file system, so a
    * write that fails midway leaves no fixture for a later run to reuse.
    * Returns `path`. */
  private[graft] def staged(s: SparkSession, path: String)(write: String => Unit): String = {
    graft.sources.Publish.publishIfAbsent(
      s.sessionState.newHadoopConf(), new org.apache.hadoop.fs.Path(path))(write)
    path
  }

  /** Where the fixture `name` lives: under [[graft.sources.Publish.root]],
    * the root keyed stores and stream scratch use. */
  private def fixtureRoot(name: String): String =
    new org.apache.hadoop.fs.Path(graft.sources.Publish.root, name).toString

  private def fixturePath(dir: String, fmt: String): String =
    fixtureRoot(s"graft_src_${fmt}_${dir.replaceAll("[^A-Za-z0-9]", "_")}")

  /** `cust`'s cells through the production load path
    * ([[graft.BulkLoad.fromPositional]]): the five [[custValueCols]] as
    * `c0..c4`, key fields (0, 1, 2, 4) = [[custKey]], so the cells are
    * byte-identical to [[CellOps.explodeIndexed]] over the same columns,
    * region-sorted over [[md5Regions]] through
    * [[graft.plans.OrderedExplode]]. */
  private def loadedCustCells(cust: DataFrame): DataFrame =
    graft.BulkLoad.fromPositional(
      cust.select(custValueCols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*),
      graft.BulkLoad.emptyQuarantine(cust.sparkSession),
      graft.BulkLoad.Config(arity = 5, keyFields = Seq(0, 1, 2, 4))).cells

  /** customer's [[loadedCustCells]] staged once as the `cellscan` cell
    * table. */
  private def cellScanTable(s: SparkSession, dir: String): String =
    staged(s, fixturePath(dir, "cellscan")) {
      graft.SortedParquetCellSink.write(loadedCustCells(t(s, dir, "customer")), _)
    }

  val defs: Map[String, Q] = Map(
    // S3: avro container round-trip → reversed-id key + name qualifiers +
    // nullable-field cell guard, byte-checked against the oracle
    "source_avro_cells" -> ((s, dir) => {
      val path = staged(s, fixturePath(dir, "avro")) { tmp =>
        graft.sources.AvroSource.write(t(s, dir, "supplier").select(
          col("s_suppkey").cast(StringType).as("id"),
          col("s_name").as("name"),
          col("s_nationkey").cast(StringType).as("nationkey"),
          when(col("s_acctbal") < 0, lit(null).cast(StringType))
            .otherwise(col("s_acctbal").cast(DecimalType(18, 2)).cast(StringType))
            .as("acctbal")), tmp)
      }
      hexBin(graft.BulkLoad.avro(s, path).cells)
    }),

    // JSON-lines round-trip: same named-cell semantics as the avro path
    // (explicit-schema read — no inference scan, no alphabetized columns)
    // over the feed format modern pipelines actually ship
    "source_jsonl_cells" -> ((s, dir) => {
      val path = staged(s, fixturePath(dir, "jsonl")) { tmp =>
        graft.sources.JsonLines.write(t(s, dir, "supplier").select(
          col("s_suppkey").cast(StringType).as("id"),
          col("s_name").as("name"),
          col("s_nationkey").cast(StringType).as("nationkey"),
          when(col("s_acctbal") < 0, lit(null).cast(StringType))
            .otherwise(col("s_acctbal").cast(DecimalType(18, 2)).cast(StringType))
            .as("acctbal")), tmp, shards = 1)
      }
      hexBin(graft.BulkLoad.jsonl(s, path,
        "id STRING, name STRING, nationkey STRING, acctbal STRING").cells)
    }),

    // S4 (legacy): RCFile columnar round-trip through the positional
    // pipeline — same cells as the csv/hivetext drivers on this content
    "source_rcfile_cells" -> ((s, dir) => {
      val path = staged(s, fixturePath(dir, "rcfile")) {
        graft.sources.RCFileSource.write(supplierPositional(t(s, dir, "supplier")), _)
      }
      hexBin(graft.BulkLoad.rcFile(s, path,
        graft.BulkLoad.Config(arity = 4)).cells)
    }),

    // S4 (modern): ORC round-trip through the same positional pipeline
    "source_orc_cells" -> ((s, dir) => {
      val path = staged(s, fixturePath(dir, "orc")) {
        graft.sources.OrcSource.write(supplierPositional(t(s, dir, "supplier")), _)
      }
      hexBin(graft.BulkLoad.orc(s, path,
        graft.BulkLoad.Config(arity = 4)).cells)
    }),

    // P5-P7: composite MD5 row key (text/CSV/RC reference paths)
    "rowkey_md5_composite" -> ((s, dir) =>
      hexBin(t(s, dir, "customer").select(col("c_custkey"), custKey.as("rowkey")))),

    // P8: reversed natural key (Avro reference path)
    "rowkey_reversed" -> ((s, dir) =>
      hexBin(t(s, dir, "orders").select(col("o_orderkey"),
        keys.reversedKey(col("o_orderkey")).as("rowkey")))),

    // P12: salt prefix (the reference's disabled-but-intended design)
    "rowkey_salted" -> ((s, dir) =>
      hexBin(t(s, dir, "orders").select(col("o_orderkey"),
        keys.saltedKey(col("o_orderkey"), 10, keys.md5Raw(col("o_orderkey"))).as("rowkey")))),

    // T1+P10: wide→tall explode, 4-byte big-endian index qualifiers
    "cells_explode_indexed" -> ((s, dir) =>
      hexBin(CellOps.explodeIndexed(t(s, dir, "customer"), custKey, "c", custValueCols))),

    // T1+P11: wide→tall explode, field-name qualifiers (Avro path)
    "cells_explode_named" -> ((s, dir) =>
      hexBin(CellOps.explodeNamed(
        t(s, dir, "customer")
          .withColumn("c_acctbal", col("c_acctbal").cast(DecimalType(18, 2))),
        keys.reversedKey(col("c_custkey")), "c",
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")))),

    // P1-P3: tokenize + arity filter (delimited-parse semantics)
    "tokenize_arity_filter" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), split(col("p_name"), " ", -1).as("t"))
      p.where(size(col("t")) === 2)
        .select(col("p_partkey"), col("t").getItem(0).as("tok0"), col("t").getItem(1).as("tok1"))
    }),

    // X1-X3: the flagship pipeline — the production load path: MD5
    // composite key → region exchange of wide rows → partition-local row
    // sort → OrderedExplode (rows identical to cells_explode_indexed;
    // partitioning/order is asserted by CellPipelineSpec, the driver
    // hash-checks the row set)
    "ingest_sorted_cells" -> ((s, dir) =>
      hexBin(loadedCustCells(t(s, dir, "customer")))),

    // HBase-scan analog over the STAGED layout: range read [0x40, 0x80)
    // that prunes non-intersecting region files via footer stats before
    // Spark plans the scan (parquet can't push binary predicates), then
    // applies the residual unsigned-range filter in codegen
    "cells_scan_range" -> ((s, dir) => {
      val path = cellScanTable(s, dir)
      hexBin(graft.sources.CellScan.scanRange(s, path,
        Some(Array(0x40.toByte)), Some(Array(0x80.toByte))))
    }),

    // the same SCAN through the SQL-facing source: spark.read
    // .format("graft-cells") + a WHERE on `row` — the DSv2 scan builder's
    // filter pushdown hands the binary range to CellScan.scanRange
    // (vanilla parquet pushes no binary predicates), which prunes region
    // files via the manifest
    "cells_scan_sql" -> ((s, dir) => {
      val path = cellScanTable(s, dir)
      hexBin(s.read.format("graft-cells").load(path)
        .where(col("row") >= lit(Array(0x40.toByte)) &&
          col("row") < lit(Array(0x80.toByte))))
    }),

    // COUNT(*) / MIN(row) / MAX(row) over the staged table answer from
    // METADATA (manifest row counts + key bounds, parquet-footer
    // fallback — CellScan.metaStats): the DSv2 scan builder claims
    // complete aggregate pushdown and plans a local one-row relation —
    // zero data pages, zero tasks at any table size
    "cells_count_pushdown" -> ((s, dir) => {
      val path = cellScanTable(s, dir)
      s.read.format("graft-cells").load(path)
        .agg(count(lit(1)).as("n_cells"),
          min(col("row")).as("lo"), max(col("row")).as("hi"))
        .select(col("n_cells"),
          lower(hex(col("lo"))).as("row_lo"), lower(hex(col("hi"))).as("row_hi"))
    }),

    // COUNT(*) under a row-RANGE also pushes: fully-contained region
    // files answer from the manifest, only the boundary files are
    // scanned — a range count touches <= 2 data files at any region count
    "cells_count_range_pushdown" -> ((s, dir) => {
      val path = cellScanTable(s, dir)
      s.read.format("graft-cells").load(path)
        .where(col("row") >= lit(Array(0x40.toByte)) &&
          col("row") < lit(Array(0x80.toByte)))
        .agg(count(lit(1)).as("n_cells"))
    }),

    // HBase PrefixFilter analog: all rows under a 1-byte key prefix as
    // the [prefix, prefix+1) range — same manifest-pruned machinery
    "cells_scan_prefix" -> ((s, dir) => {
      val path = cellScanTable(s, dir)
      hexBin(graft.sources.CellScan.scanPrefix(s, path, Array(0x01.toByte)))
    }),

    // HBase-Get analog over the same staged layout: the cells of ONE row
    // key (customer 42's md5-composite key, read via a 1-row staging
    // lookup — a Get client knows its key). The manifest/footer pruning
    // opens one region file; the equality is the [key, key+0x00) range
    "cells_point_get" -> ((s, dir) => {
      val path = cellScanTable(s, dir)
      // a Get whose key row doesn't exist (EMPTY corpus) degrades to the
      // empty-key Get — [∅, 0x00) matches nothing, schema preserved
      val key = t(s, dir, "customer").where(col("c_custkey") === 42)
        .select(custKey.as("k")).limit(1).collect().headOption
        .map(_.getAs[Array[Byte]]("k")).getOrElse(Array.empty[Byte])
      hexBin(graft.sources.CellScan.get(s, path, key))
    }),

    // the HBase minor/major-compaction analog on the SERVING layout:
    // three per-batch region-aligned filesets (the layout streaming
    // ingest accumulates) merge, by a minor compaction into an empty
    // serving dir, into ONE fileset with exactly one file per region + a
    // fresh manifest; the oracle is the plain cell
    // rendering of the whole table — a green hash proves compaction is
    // the identity on cell content (it moves bytes, never changes them)
    "cells_compact_regions" -> ((s, dir) => {
      val root = fixturePath(dir, "compactroot")
      val dest = s"$root/compacted"
      staged(s, root) { tmp =>
        val cust = t(s, dir, "customer")
        (0 until 3).foreach { b =>
          graft.SortedParquetCellSink.write(
            loadedCustCells(cust.where(pmod(col("c_custkey"), lit(3)) === b)),
            f"$tmp/batch_$b%05d")
        }
        graft.sources.CellCompaction.compactMinor(s, tmp, s"$tmp/compacted", md5Regions)
        ()
      }
      hexBin(graft.sources.CellScan.scanRange(s, dest, None, None))
    }),

    // TIERED compaction e2e: two MINOR rounds absorb per-batch filesets
    // into the serving dir (one extra fileset per round, manifest
    // refreshed INCREMENTALLY — only the moved-in files are statted),
    // then a MAJOR rewrite restores one file per region in place. The
    // oracle is again the plain cell rendering: the whole tier sequence
    // is the identity on cell content.
    "cells_compact_minor" -> ((s, dir) => {
      val root = fixturePath(dir, "compactminor")
      val dest = s"$root/serving"
      staged(s, root) { tmp =>
        val cust = t(s, dir, "customer")
        val cfg = md5Regions
        val serving = s"$tmp/serving"
        def batch(b: Int): Unit = graft.SortedParquetCellSink.write(
          loadedCustCells(cust.where(pmod(col("c_custkey"), lit(3)) === b)),
          f"$tmp/batch_$b%05d")
        batch(0); batch(1)
        graft.sources.CellCompaction.compactMinor(s, tmp, serving, cfg)
        batch(2)
        graft.sources.CellCompaction.compactMinor(s, tmp, serving, cfg)
        graft.sources.CellCompaction.compactMajor(s, serving, cfg)
        ()
      }
      hexBin(graft.sources.CellScan.scanRange(s, dest, None, None))
    }),

    // X3 payload fidelity: each cell serialized to the public HBase
    // KeyValue WIRE layout — the exact bytes HFileOutputFormat2 stores
    // per cell; only the HFile container stays behind the hbase-jars seam
    "cells_keyvalue_wire" -> ((s, dir) => {
      val cells = CellOps.explodeIndexed(t(s, dir, "customer"), custKey, "c", custValueCols)
      hexBin(cells.select(col("row"),
        keys.keyValueWire(col("row"), col("family"), col("qualifier"),
          col("value"), col("ts")).as("kv")))
    }),

    // SECONDARY-INDEX LOOKUP + MULTI-GET — the serving composition HBase
    // users run against the index table `cells_secondary_index` builds:
    // (1) one prefix scan on the index ('BUILDING:' — manifest-pruned)
    // yields the segment's primary row keys; (2) the client pages the
    // first 40 in key order (a Get batch is driver-held by definition);
    // (3) CellScan.multiGet fetches exactly those rows from the primary
    // table, opening only the region files whose manifest bounds contain
    // a requested key — K keys read <= K files at ANY region count
    "cells_index_lookup" -> ((s, dir) => {
      val primaryPath = cellScanTable(s, dir)
      val idxPath = staged(s, fixturePath(dir, "cellindex")) { tmp =>
        graft.SortedParquetCellSink.write(graft.BulkLoad.sorted(
          t(s, dir, "customer").select(
            concat(keys.utf8(col("c_mktsegment")), keys.utf8(lit(":")), custKey).as("row"),
            keys.utf8(lit("i")).as("family"),
            keys.utf8(lit("pk")).as("qualifier"),
            custKey.as("value"),
            lit(0L).as("ts")), graft.BulkLoad.Config()), tmp)
      }
      val page = graft.sources.CellScan
        .scanPrefix(s, idxPath, "BUILDING:".getBytes("UTF-8"))
        .select(col("value")).collect().map(_.getAs[Array[Byte]](0))
        .sortBy(k => k.map("%02x".format(_)).mkString).take(40).toSeq
      hexBin(graft.sources.CellScan.multiGet(s, primaryPath, page))
    }),

    // the reference's VERSIONS=>3 / TTL DDL semantics (create_table.rb:1)
    // as an explicit relational compaction: four loads, TTL cutoff drops
    // the oldest, keep-2 versioning drops the next
    "cells_compact_versions" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val loads = Seq(100L, 200L, 300L, 400L)
        .map(ts => CellOps.explodeIndexed(cust, custKey, "c", custValueCols, ts))
      hexBin(CellOps.compactVersions(loads.reduce(_ unionByName _),
        maxVersions = 2, minTs = 150L))
    }),

    // HBase DELETE-marker semantics under major compaction: markers at
    // ts 350 shadow every older put at their coordinate and are then
    // dropped themselves; TTL + keep-2 versioning run on the survivors
    "cells_compact_tombstones" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val puts = Seq(100L, 200L, 300L, 400L)
        .map(ts => CellOps.explodeIndexed(cust, custKey, "c", custValueCols, ts)
          .withColumn("op", lit("put")))
        .reduce(_ unionByName _)
      val markers = CellOps.explodeIndexed(
          cust.where(pmod(col("c_custkey"), lit(7)) === 0),
          custKey, "c", custValueCols, 350L)
        .withColumn("op", lit("delete"))
      hexBin(CellOps.compactWithTombstones(puts.unionByName(markers),
        maxVersions = 2, minTs = 150L))
    }),

    // HBase point-in-time READ over the same staged store as
    // cells_compact_tombstones, at T=350: the ts=400 load is still in the
    // future, the ts=350 markers shadow every older put on the marked
    // rows (they read as absent), and unmarked rows surface their ts=300
    // values — time travel the compaction queries permanently forgo
    "cells_snapshot_asof" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val puts = Seq(100L, 200L, 300L, 400L)
        .map(ts => CellOps.explodeIndexed(cust, custKey, "c", custValueCols, ts)
          .withColumn("op", lit("put")))
        .reduce(_ unionByName _)
      val markers = CellOps.explodeIndexed(
          cust.where(pmod(col("c_custkey"), lit(7)) === 0),
          custKey, "c", custValueCols, 350L)
        .withColumn("op", lit("delete"))
      hexBin(CellOps.snapshotAsOf(puts.unionByName(markers), 350L))
    }),

    // the read-path INVERSE of the cell explode: a stale ts=100 load
    // (acctbal zeroed) overwritten by the true ts=200 load, reconstituted
    // back to wide rows — the oracle is the ORIGINAL customer rendering,
    // so a green row proves write→read is the identity and that version
    // resolution picked the newest cell at every coordinate
    "cells_reconstitute_wide" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val staleVals = custValueCols.updated(3,
        lit(0).cast(DecimalType(18, 2)).cast(StringType))
      val cells = CellOps.explodeIndexed(cust, custKey, "c", staleVals, 100L)
        .unionByName(CellOps.explodeIndexed(cust, custKey, "c", custValueCols, 200L))
      hexBin(CellOps.reconstituteWide(cells,
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")))
    }),

    // secondary-index maintenance: the value→row index table HBase users
    // materialize beside the main table (the reference writes only the
    // primary): index rowkey = segment byte-prefix + ':' + primary rowkey,
    // so one segment prefix-scan finds every matching primary; the index
    // table itself flows through the SAME region-sorted pipeline as any
    // cell table (derived, not hand-maintained — rebuilding it IS this
    // one declarative plan)
    "cells_secondary_index" -> ((s, dir) => {
      val idx = t(s, dir, "customer").select(
        concat(keys.utf8(col("c_mktsegment")), keys.utf8(lit(":")), custKey).as("row"),
        keys.utf8(lit("i")).as("family"),
        keys.utf8(lit("pk")).as("qualifier"),
        custKey.as("value"),
        lit(0L).as("ts"))
      hexBin(graft.BulkLoad.sorted(idx, graft.BulkLoad.Config()))
    }),

    // the ADMIN op that produces `--splits` boundary files (the reference
    // assumes a pre-split table and never computes the splits): balanced
    // region boundaries from a deterministic md5-bucket SAMPLE of the row
    // keys — the census/equi-depth pattern at HBase RegionSplitter's
    // sampling discipline, so the global rank window runs over the small
    // sample, never the full key population; boundary i = the sample key
    // at rank ceil(i·n/10), keys rendered hex like every cell query
    "cells_split_advisor" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val keyHex = lower(hex(custKey))
      // md5-bucket sample rate sized to the fixture (~20% of 1,500 keys);
      // production picks rate ≈ target_sample / |keys| so the sample —
      // and with it the single-partition rank window below — stays a few
      // thousand rows no matter the table size (the RegionSplitter
      // discipline: bound the sample, not the fraction)
      val sample = t(s, dir, "customer").select(keyHex.as("k"))
        .where(pmod(graft.functions.keys.md5Prefix64(
          keys.utf8(col("k")), 7), lit(10000L)) < 2000)
      // the 9 boundary RANKS derive from the 1-row count by explode — a
      // 9-row frame equi-joined (broadcast hash) onto the ranked sample;
      // no cross join anywhere
      val bounds = sample.agg(count(lit(1)).as("n"))
        .select(explode(sequence(lit(1L), lit(9L))).as("region_idx"), col("n"))
        .select(col("region_idx"),
          ceil(col("region_idx") * col("n") / 10).cast("int").as("rn"))
      sample
        .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
        .join(broadcast(bounds), "rn")
        .groupBy(col("region_idx"))
        .agg(min(col("k")).as("split_key"))
    }),

    // multi-dimensional layout: Morton code over (partkey, suppkey) — the
    // data-skipping complement to the single-key region sort; clustering
    // itself (range exchange + local sort + both-dims file pruning) is
    // asserted by CellPipelineSpec on Layout.clusterZ
    "layout_zorder" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        Layout.zorder2(col("l_partkey"), col("l_suppkey")).as("zval"))),

    // bucketed layout: lineitem and orders pre-bucketed (and per-bucket
    // sorted) on the join key sort-merge-join with ZERO exchanges on
    // either side — the write amortizes the shuffle across every future
    // join (AnalyticsLayoutSpec pins the exchange-free plan); staged once
    // per session, then read back through the catalog's bucket metadata
    "layout_bucketed_join" -> ((s, dir) => {
      // collision-free table names per staged location (a 32-bit hash
      // could alias two data dirs within one session and serve the wrong
      // staged table; a new store root is a new location)
      val base = fixtureRoot(s"graft_bucketed_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      val tag = graft.sources.Publish.md5Hex(base)
      val li = Layout.bucketedTable(s, s"li_bkt_$tag", s"$base/lineitem", "l_orderkey", 8)(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
      val ord = Layout.bucketedTable(s, s"ord_bkt_$tag", s"$base/orders", "o_orderkey", 8)(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(revSum(money(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(4, 2)) - factor(col("l_discount"))))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // S2 COMPAT SKIP PARITY under the oracle gate: the naive-split CSV
    // path's keep/skip census on a reference-shaped CSV ([[CsvSample]]) —
    // the silent drop String.split produces on quoted commas
    // (BulkImporterFromCSVText.java:54,68-70). One row,
    // (rows_kept, rows_skipped) = (CsvSample.Rows - CsvSample.Quoted,
    // CsvSample.Quoted); the oracle re-derives both counts from the raw
    // lines with the same no-quoting split. The reference sample's own
    // (36,992, 799) stays pinned by CellPipelineSpec on the real file.
    "source_csv_compat_skips" -> ((s, _) => {
      val (kept, rejected) =
        graft.sources.Delimited.naiveSplit(s, CsvSample.stage(s), ",", 9)
      // one union-tagged aggregate, not a cross join of two 1-row aggs
      // (a 1-row × 1-row BroadcastNestedLoopJoin is harmless here but
      // would need a standing lint adjudication — the union plans clean)
      kept.select(lit(1L).as("k"))
        .unionByName(rejected.select(lit(0L).as("k")))
        .agg(sum(col("k")).as("rows_kept"),
          (count(lit(1)) - sum(col("k"))).as("rows_skipped"))
    }),
  )

  /** A CSV shaped like the reference sample (FIXTURES.md §1), generated
    * deterministically so the census needs no file from outside the repo:
    * no header, 9 positional columns, 5-digit zips with leading zeros, and
    * exactly [[Quoted]] RFC-4180 quoted-comma utility names (one row in
    * [[QuotedEvery]], 2 % — the sample's 799 of 37,791 is 2.1 %). Staged
    * once under the fixture root at a fixed name that carries [[Version]]:
    * bump it whenever the content changes, so a stale file is never
    * reused. */
  private[graft] object CsvSample {
    private val Version = 1
    val Rows = 2000
    private val QuotedEvery = 50
    val Quoted: Int = Rows / QuotedEvery

    /** Resolved per call, so the census and its oracle SQL name the
      * same file under the current store root. */
    def path: String = fixtureRoot(s"graft_ref_shaped_csv_v$Version.csv")

    private val Names = Array("Alabama Power Co", "Appalachian Power Co",
      "Pacific Gas & Electric Co", "Georgia Power Co", "Idaho Power Co",
      "Commonwealth Edison Co", "Kentucky Utilities Co", "Union Electric Co")
    private val CommaNames = Array("Duke Energy Carolinas, LLC",
      "Duke Energy Progress, Inc", "Ohio Edison Co, The")
    private val States = Array("AL", "AK", "CA", "GA", "ID", "IL", "KY",
      "MO", "NC", "OH", "PR", "WY")
    private val Services = Array("Bundled", "Delivery", "Energy")

    private def padded(v: Long, width: Int): String = {
      val d = v.toString
      "0" * (width - d.length) + d
    }

    /** Line `i`: quoted iff `i % QuotedEvery == QuotedEvery / 2`. */
    private def line(i: Int): String = {
      val h = (i.toLong + 1) * 0x9E3779B97F4A7C15L
      def pick(a: Array[String], shift: Int) =
        a(((h >>> shift) & 0xffff).toInt % a.length)
      def rate(shift: Int) =
        "0." + padded(20000000000L + (h >>> shift) % 280000000000L, 12)
      val name =
        if (i % QuotedEvery == QuotedEvery / 2) "\"" + pick(CommaNames, 8) + "\""
        else pick(Names, 8)
      Seq(padded((h >>> 40) % 100000, 5), (100 + i).toString, name,
        pick(States, 24), pick(Services, 32), "Investor Owned",
        rate(4), rate(12), rate(20)).mkString(",")
    }

    /** The staged file's path, writing it first if absent ([[staged]]). */
    def stage(s: SparkSession): String = staged(s, path) { tmp =>
      graft.sources.Publish.writeText(s.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(tmp), (0 until Rows).map(i => line(i) + "\n").mkString)
    }
  }

  def oracle: Map[String, String] = Map(
    "source_avro_cells" -> suppCellsAvroSql,
    // raw-line census with the same unquoted split — DuckDB reads the
    // generated sample as one-column lines (a delimiter that never occurs
    // in it)
    "source_csv_compat_skips" ->
      s"""WITH raw AS (SELECT value FROM read_csv('${CsvSample.path}',
            header=false, delim=e'\\x01', quote='', escape='',
            columns={'value': 'VARCHAR'})),
          t AS (SELECT len(string_split(value, ',')) n FROM raw)
          SELECT CAST(sum(CASE WHEN n = 9 THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept,
                 CAST(sum(CASE WHEN n <> 9 THEN 1 ELSE 0 END) AS BIGINT) AS rows_skipped
          FROM t""",
    // identical cell semantics on identical staged content
    "source_jsonl_cells" -> suppCellsAvroSql,
    "source_rcfile_cells" -> suppCellsIndexedSql,
    "source_orc_cells" -> suppCellsIndexedSql,
    "rowkey_md5_composite" ->
      s"SELECT c_custkey, $custKeyHexSql AS rowkey FROM customer",
    "rowkey_reversed" ->
      "SELECT o_orderkey, lower(hex(reverse(CAST(o_orderkey AS VARCHAR)))) AS rowkey FROM orders",
    "rowkey_salted" ->
      ("SELECT o_orderkey, lower(hex(CAST(o_orderkey % 10 AS VARCHAR))) || " +
        "md5(CAST(o_orderkey AS VARCHAR)) AS rowkey FROM orders"),
    "cells_explode_indexed" -> cellsIndexedSql,
    "cells_explode_named" -> cellsNamedSql,
    "tokenize_arity_filter" ->
      ("SELECT p_partkey, string_split(p_name, ' ')[1] AS tok0, " +
        "string_split(p_name, ' ')[2] AS tok1 FROM part " +
        "WHERE len(string_split(p_name, ' ')) = 2"),
    "ingest_sorted_cells" -> cellsIndexedSql,
    // hex-string range on the hex cells ≡ unsigned byte range on raw keys
    "cells_scan_range" ->
      s"""SELECT * FROM ($cellsIndexedSql) WHERE "row" >= '40' AND "row" < '80'""",
    "cells_point_get" ->
      s"""SELECT * FROM ($cellsIndexedSql)
          WHERE "row" = (SELECT $custKeyHexSql FROM customer WHERE c_custkey = 42)""",
    "cells_scan_sql" ->
      s"""SELECT * FROM ($cellsIndexedSql) WHERE "row" >= '40' AND "row" < '80'""",
    "cells_scan_prefix" ->
      s"""SELECT * FROM ($cellsIndexedSql) WHERE "row" >= '01' AND "row" < '02'""",
    "cells_count_pushdown" ->
      s"""SELECT count(*) AS n_cells, min("row") AS row_lo,
                 max("row") AS row_hi FROM ($cellsIndexedSql)""",
    "cells_count_range_pushdown" ->
      s"""SELECT count(*) AS n_cells FROM ($cellsIndexedSql)
          WHERE "row" >= '40' AND "row" < '80'""",
    "cells_compact_versions" -> cellsCompactSql,
    "cells_compact_tombstones" -> cellsTombstonesSql,
    // layout compaction is the identity on cell content
    "cells_compact_regions" -> cellsIndexedSql,
    // the tiered minor->minor->major sequence is too
    "cells_compact_minor" -> cellsIndexedSql,
    // index lookup + multi-get: the paged segment fetch — hex order on
    // the composite keys equals the client's unsigned byte order
    "cells_index_lookup" ->
      s"""SELECT * FROM ($cellsIndexedSql) WHERE "row" IN (
            SELECT $custKeyHexSql FROM customer
            WHERE c_mktsegment = 'BUILDING' ORDER BY 1 LIMIT 40)""",
    "cells_keyvalue_wire" -> kvWireSql,
    "cells_snapshot_asof" -> cellsSnapshotSql,
    "cells_split_advisor" ->
      s"""WITH ks AS (SELECT $custKeyHexSql k FROM customer),
          sm AS (SELECT k FROM ks
                 WHERE CAST(('0x'||substr(md5(k),1,7)) AS BIGINT) % 10000 < 2000),
          n AS (SELECT count(*) n FROM sm),
          r AS (SELECT k, row_number() OVER (ORDER BY k) rn FROM sm),
          g AS (SELECT unnest(generate_series(1, 9)) region_idx)
          SELECT region_idx, min(k) AS split_key
          FROM r, n, g
          WHERE rn = CAST(ceil(region_idx * n / 10.0) AS BIGINT)
          GROUP BY 1""",
    "cells_secondary_index" ->
      s"""SELECT lower(hex(c_mktsegment)) || '3a' || $custKeyHexSql AS "row",
            '69' AS "family", '706b' AS "qualifier",
            $custKeyHexSql AS "value", CAST(0 AS BIGINT) AS "ts"
          FROM customer""",
    "cells_reconstitute_wide" -> cellsReconstituteSql,
    "layout_zorder" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
        s"CAST(${Layout.zorder2Sql("l_partkey", "l_suppkey")} AS BIGINT) AS zval " +
        "FROM lineitem"),
    "layout_bucketed_join" ->
      s"""SELECT o_orderpriority,
            CAST(SUM(${moneySql("l_extendedprice")} *
              (CAST(1 AS DECIMAL(4,2)) - ${factorSql("l_discount")})) AS DOUBLE)
              AS revenue,
            count(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1""",
  )
}
