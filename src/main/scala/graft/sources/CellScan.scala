package graft.sources

import graft.operators.RegionSort
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HBase-SCAN analog over a staged cell directory: a row-range read that
  * touches only the region files that can contain the range, the way a
  * region server's scan touches only the regions [startRow, stopRow)
  * spans (reference context: the staged HFiles the bulk load adopts are
  * exactly these files — `LoadIncrementalHFiles` at
  * BulkImporterFromText.java:129-130 assigns file i to region i).
  *
  * Why this exists: the golden layout guarantees file i ⊆ region i with
  * rows in unsigned (row, family, qualifier) order, but Spark's parquet
  * source does NOT push binary-column comparisons down to the scan
  * (BinaryType predicates are unsupported parquet filters), so a naive
  * `read.parquet(dir).where(row between …)` opens EVERY region file and
  * filters row-by-row. At 100 TB / 100k regions that is the difference
  * between a point lookup and a full table scan. Here the footer min/max
  * statistics of the `row` column — metadata, a few KB per file, read
  * once on the driver exactly like a region-location lookup against
  * META — prune whole files BEFORE Spark plans the scan; the residual
  * range filter (Spark's binary ordering is the same unsigned
  * lexicographic order the layout sorts by — RegionSort.scala:17) then
  * trims the boundary files inside codegen.
  *
  * Files without usable `row` stats are conservatively kept — pruning is
  * an optimization, never a correctness gate.
  *
  * Every read — scan, get, multi-get, count, the metadata aggregates and
  * the compaction replay fingerprint — runs on ONE metadata walk
  * ([[regionFiles]]). Per live file, in preference order:
  *  1. the sink-written [[CellManifest]] (`_graft_region_manifest.tsv`) —
  *     ONE small file read, the META-lookup analog; at 100k regions this
  *     is the only shape that keeps a point scan a point scan;
  *  2. the file's own footer, read on the driver, when its manifest
  *     entry is missing, stale (recorded length ≠ live length) or
  *     damaged (no row count) — or when there is no manifest at all;
  *  3. no flat `part-*.parquet` layout at all (nested/partitioned
  *     parquet) → an unpruned `spark.read.parquet(dir)` with the residual
  *     range filter: pruning silently disabled, results still right. */
object CellScan {

  /** Driver-side footer opens performed by the metadata walk —
    * observable so tests can pin "manifest present ⇒ zero footer reads". */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Region files kept by the most recent pruned read ([[scanRange]],
    * [[multiGet]]; -1 before any; flat-layout reads only) — observable so
    * tests can pin the pruning itself, independent of how Spark packs
    * files into splits. */
  val lastKeptFiles = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** One live region file: path, live byte length, row count and unsigned
    * [lo, hi] row-key bounds (None = no exact stats). */
  private[sources] final case class RegionFile(
      path: String, length: Long, rows: Long,
      bounds: Option[(Array[Byte], Array[Byte])])

  /** Point GET — the HBase `Get` analog: exactly the cells of one row
    * key. The stop bound is the key's immediate unsigned successor
    * (`row ++ 0x00`: longer array, equal prefix, sorts directly after),
    * so the range [row, row+0x00) holds precisely `row` and the scan
    * touches ONE region file when a manifest (or footer stats) is
    * present — the serving-side read the whole bulk-load pipeline
    * exists to make cheap. */
  def get(spark: SparkSession, dir: String, row: Array[Byte]): DataFrame =
    scanRange(spark, dir, Some(row), Some(row :+ 0x00.toByte))

  /** [startRow, stopRow) range scan; None = unbounded on that side. */
  def scanRange(spark: SparkSession, dir: String,
                startRow: Option[Array[Byte]],
                stopRow: Option[Array[Byte]]): DataFrame =
    pruned(spark, dir, inRange(startRow, stopRow))(intersects(startRow, stopRow))

  /** Prefix scan: all rows whose key starts with `prefix` — the
    * [prefix, prefix+1) range (HBase `PrefixFilter` + scan-range setup). */
  def scanPrefix(spark: SparkSession, dir: String,
                 prefix: Array[Byte]): DataFrame =
    scanRange(spark, dir, Some(prefix), nextPrefix(prefix))

  /** MULTI-GET — the HBase batched-`Get` analog (`Table.get(List<Get>)`):
    * the cells of exactly the given row keys. Region routing is the
    * manifest lookup a region-server client performs against META: each
    * key maps to the region files whose [lo, hi] bounds contain it, so
    * the scan opens ONLY the touched regions — K keys read ≤ K files no
    * matter how many regions exist — and the residual key-set equality
    * runs in codegen inside those files. Keys are driver-held by
    * definition (a Get client knows what it is fetching); a KEY SET too
    * large to hold on the driver is a join, not a multi-get — use an
    * equi-join against the staged table instead. Files without usable
    * bounds are kept conservatively; an empty key set returns the empty
    * frame with the cell schema. */
  def multiGet(spark: SparkSession, dir: String,
               keys: Seq[Array[Byte]]): DataFrame = {
    val cmp = RegionSort.unsignedBytes
    val inSet = keys.map(k => col("row") === lit(k)).reduceOption(_ || _)
      .getOrElse(lit(false))
    pruned(spark, dir, inSet) { case (lo, hi) =>
      keys.exists(k => cmp.compare(k, lo) >= 0 && cmp.compare(k, hi) <= 0)
    }
  }

  /** The one pruned read: keep a region file iff it has no bounds or its
    * bounds pass `keep`, then apply the `residual` filter in codegen (so
    * results never depend on the pruning). A layout the walk does not
    * understand is read whole under the same residual. */
  private def pruned(spark: SparkSession, dir: String, residual: Column)(
      keep: ((Array[Byte], Array[Byte])) => Boolean): DataFrame =
    regionFiles(spark, dir) match {
      case None => spark.read.parquet(dir).where(residual)
      case Some(files) =>
        val kept = files.filter(_.bounds.forall(keep)).map(_.path)
        lastKeptFiles.set(kept.size.toLong)
        val base =
          if (kept.isEmpty)
            spark.read.schema(graft.operators.CellOps.cellSchema).parquet(dir)
              .where(lit(false))
          else spark.read.parquet(kept: _*)
        base.where(residual)
    }

  /** The [startRow, stopRow) residual filter (binary ordering is unsigned). */
  private def inRange(startRow: Option[Array[Byte]],
                      stopRow: Option[Array[Byte]]): Column =
    startRow.map(s => col("row") >= lit(s)).getOrElse(lit(true)) &&
      stopRow.map(e => col("row") < lit(e)).getOrElse(lit(true))

  /** [lo, hi] intersects [startRow, stopRow). */
  private def intersects(startRow: Option[Array[Byte]], stopRow: Option[Array[Byte]])(
      b: (Array[Byte], Array[Byte])): Boolean =
    startRow.forall(s => RegionSort.unsignedBytes.compare(b._2, s) >= 0) &&
      stopRow.forall(e => RegionSort.unsignedBytes.compare(b._1, e) < 0)

  /** Smallest key strictly greater than every key with this prefix:
    * increment the last non-0xff byte, dropping the tail (all-0xff →
    * unbounded). */
  private[graft] def nextPrefix(prefix: Array[Byte]): Option[Array[Byte]] = {
    val p = prefix.clone()
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None else { p(i) = (p(i) + 1).toByte; Some(p.take(i + 1)) }
  }

  /** EXACT row count of a staged cell directory from METADATA only —
    * no data pages read, no Spark job: the sum of the metadata walk's
    * per-file row counts, so the count always describes the LIVE
    * fileset under the same trust rules every scan uses. None for
    * layouts this scanner doesn't understand (nested / hive-partitioned)
    * — the caller scans instead. At 100 TB this is the difference
    * between a `SELECT count(*)` that reads every region file and one
    * answered from ~100k manifest lines. */
  def countRows(spark: SparkSession, dir: String): Option[Long] =
    regionFiles(spark, dir).map(_.map(_.rows).sum)

  /** Row count of a directory a sink just wrote: [[countRows]] from
    * metadata, else a distributed count for a layout that is not flat
    * parquet region files. */
  def rowCount(spark: SparkSession, dir: String): Long =
    countRows(spark, dir).getOrElse(spark.read.parquet(dir).count())

  /** EXACT row count of the [startRow, stopRow) key range: region files
    * FULLY inside the range contribute their metadata row count (no data
    * read), files that straddle a boundary — or carry no usable bounds —
    * are scanned with the residual range filter, and files outside
    * contribute nothing. At 100k regions a point/range count is a
    * manifest sum plus a scan of at most the two boundary files, instead
    * of counting every row in range. None for layouts this scanner
    * doesn't understand. */
  def countRowsInRange(spark: SparkSession, dir: String,
                       startRow: Option[Array[Byte]],
                       stopRow: Option[Array[Byte]]): Option[Long] =
    regionFiles(spark, dir).map { files =>
      val cmp = RegionSort.unsignedBytes
      val touched = files.filter(f =>
        f.rows > 0 && f.bounds.forall(intersects(startRow, stopRow)))
      val (inside, straddling) = touched.partition(_.bounds.exists { case (lo, hi) =>
        startRow.forall(s => cmp.compare(lo, s) >= 0) &&
          stopRow.forall(e => cmp.compare(hi, e) < 0)
      })
      inside.map(_.rows).sum +
        (if (straddling.isEmpty) 0L
         else spark.read.parquet(straddling.map(_.path): _*)
           .where(inRange(startRow, stopRow)).count())
    }

  /** (total rows, folded [lo, hi] bounds) from the metadata walk. The
    * bounds are None when any non-empty file lacks them, or the table
    * is empty. */
  private[sources] def metaStats(spark: SparkSession, dir: String)
      : Option[(Long, Option[(Array[Byte], Array[Byte])])] =
    regionFiles(spark, dir).map { files =>
      val ord = scala.math.Ordering.comparatorToOrdering(RegionSort.unsignedBytes)
      val bs = files.filter(_.rows > 0).map(_.bounds)
      val bounds =
        if (bs.isEmpty || bs.exists(_.isEmpty)) None
        else {
          val known = bs.flatten
          Some((known.map(_._1).min(ord), known.map(_._2).max(ord)))
        }
      (files.map(_.rows).sum, bounds)
    }

  private[sources] def regionFiles(spark: SparkSession,
                                   dir: String): Option[Seq[RegionFile]] =
    regionFiles(spark.sessionState.newHadoopConf(), dir)

  /** THE metadata walk: the live flat region files of `dir` with their
    * row counts and bounds; None when `dir` has no flat `part-*.parquet`
    * files. A file's manifest entry is used iff it is listed, its
    * recorded length equals the live length (a mismatch means an in-place
    * rewrite) and it carries a row count (a damaged line does not);
    * otherwise the file's own footer is opened once, counted in
    * [[footerOpens]]. Stale entries for deleted files are never
    * consulted. */
  private[sources] def regionFiles(conf: Configuration,
                                   dir: String): Option[Seq[RegionFile]] = {
    val p = new Path(dir)
    val live = CellManifest.partFiles(p.getFileSystem(conf), p)
    if (live.isEmpty) None
    else {
      val manifest = CellManifest.read(conf, dir).getOrElse(Map.empty)
      Some(live.map { s =>
        val (rows, bounds) = manifest.get(s.getPath.getName)
          .filter(e => e.length == s.getLen && e.rows >= 0)
          .fold {
            footerOpens.incrementAndGet()
            CellManifest.footerStats(s.getPath.toString, conf)
          }(e => (e.rows, e.bounds))
        RegionFile(s.getPath.toString, s.getLen, rows, bounds)
      })
    }
  }
}
