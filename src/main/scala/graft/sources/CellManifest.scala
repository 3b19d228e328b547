package graft.sources

import graft.operators.RegionSort
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Region-boundary manifest for a staged cell directory — the engine's
  * analog of HBase's META region index (the `RegionLocator` lookup the
  * reference's bulk load performs once per job,
  * BulkImporterFromText.java:105-111): ONE small driver-readable file
  * recording each region file's unsigned min/max row key.
  *
  * Why: [[CellScan.scanRange]] prunes region files by footer min/max
  * statistics. Correct — but at 100 TB / 100k region files, opening every
  * footer sequentially on the driver turns a point SCAN into minutes of
  * metadata latency. A region server never does that: it consults META,
  * written once at region creation. Same move here — the manifest is
  * written when the files are: [[RegionWriter]] returns each file's
  * length, row count and key bounds from the writer's own footer (the
  * HFile-trailer analog), and [[write]]/[[update]] persist those entries
  * without opening any file. Only a part file no writer vouched for —
  * copied in, rewritten in place, or listed by a plain `write(spark,
  * dir)` rebuild — is statted from its footer. Every subsequent scan
  * reads one file.
  *
  * Format (`_graft_region_manifest.tsv`): one
  * `name<TAB>length<TAB>rows<TAB>loHex<TAB>hiHex` line per part file,
  * `-` for a file without usable stats (kept conservatively by readers).
  * The recorded byte LENGTH lets readers detect a part file rewritten IN
  * PLACE under the same name (compaction, manual repair) — the one
  * mutation a name-keyed index cannot see — and fall back to that file's
  * live footer stats instead of trusting stale bounds. The ROW COUNT
  * turns the streaming sink's per-batch count readback into one
  * manifest read instead of N footer opens. Damaged lines parse to
  * −1 = unverifiable, which no reader trusts. The leading underscore
  * keeps the file invisible to Spark's parquet source, so
  * `spark.read.parquet(dir)` over the staged layout is unchanged.
  *
  * Trust contract: the manifest is advisory metadata maintained by the
  * sink that wrote the directory. Readers intersect it with the live
  * file listing ([[CellScan]]'s one metadata walk): an entry is used
  * only when it is listed, its recorded length matches the live file
  * and it carries a row count; a part file missing from the manifest,
  * rewritten in place or with a damaged entry is statted from its own
  * footer, and stale entries for deleted files are never consulted — so
  * a manually modified directory costs footer opens, never wrong
  * results. (The one residual trust assumption: a same-name,
  * same-LENGTH in-place rewrite with different contents is
  * indistinguishable without checksums.) */
object CellManifest {

  val FileName = "_graft_region_manifest.tsv"

  /** One manifest line: recorded file length and row count (−1 =
    * unknown: a damaged line) and row bounds (None = stat-less, keep
    * conservatively). */
  final case class Entry(length: Long, rows: Long,
                         bounds: Option[(Array[Byte], Array[Byte])])

  /** Files whose footers were actually opened by [[write]]/[[update]]
    * on the DRIVER — observable so tests can pin the incremental
    * contract ("update stats only the new files", "a write from the
    * writer's entries stats nothing"). The distributed (>32-file) pass is
    * not counted (executor-side). */
  val statReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Persist the manifest of every `part-*.parquet` under `dir`. A live
    * file that `written` (a [[RegionWriter]] result) covers at its current
    * length takes that entry; any other file is statted from its footer
    * — on EXECUTORS above 32 files (parallelize over file paths), so even
    * a full rebuild at 100k regions is files/parallelism footer opens per
    * task, and the driver only writes the collected ~50 B/file TSV. */
  def write(spark: SparkSession, dir: String,
            written: Seq[RegionWriter.Written] = Seq.empty): Unit = {
    checkSeam(dir)
    refresh(spark, dir, written.toMap)
  }

  /** INCREMENTAL manifest maintenance: the existing manifest's entries
    * and `written` both vouch for their files; stat ONLY the part files
    * neither covers at their current length, drop entries for deleted
    * files, rewrite the (small) TSV. This is the refresh a compaction
    * round or an appending sink calls — at 100k regions a minor
    * compaction that hands over its writer's entries stats nothing. No
    * existing manifest → identical to [[write]]. Returns the number of
    * files statted. */
  def update(spark: SparkSession, dir: String,
             written: Seq[RegionWriter.Written] = Seq.empty): Int = {
    checkSeam(dir)
    refresh(spark, dir, read(spark, dir).getOrElse(Map.empty) ++ written)
  }

  /** The shared body of [[write]] and [[update]]: entries for the live
    * part files, `known` ones kept where their length still matches,
    * the rest statted. Returns the number of files statted. */
  private def refresh(spark: SparkSession, dir: String, known: Map[String, Entry]): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val (kept, fresh) = listParts(fs, p).partition { case (name, len) =>
      known.get(name).exists(e => e.length == len)
    }
    val freshStats = statFiles(spark, dir, fresh)
    persist(fs, p,
      (kept.map { case (name, _) => (name, known(name)) } ++ freshStats).sortBy(_._1))
    freshStats.size
  }

  /** Total recorded row count across the manifest's files, if EVERY
    * entry carries one — the no-Spark-job, no-footer-open count readback
    * for a directory this sink just wrote. None when the manifest is
    * absent or any entry is damaged. */
  def totalRows(spark: SparkSession, dir: String): Option[Long] =
    read(spark, dir).filter(m => m.nonEmpty && m.values.forall(_.rows >= 0))
      .map(_.values.map(_.rows).sum)

  /** The flat region files of a staged directory: the `part-*.parquet`
    * files directly under `dir`, sorted by name. Every reader, the
    * manifest and compaction list the layout through this one rule;
    * anything else in the directory (the manifest, the `_absorbed`
    * ledger, temps, nested dirs) is not a region file. */
  private[sources] def partFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)

  private def listParts(fs: FileSystem, dir: Path): Seq[(String, Long)] =
    partFiles(fs, dir).map(s => (s.getPath.getName, s.getLen))

  /** Driver-side footer opens are metadata latency (a few ms each), not
    * CPU: they overlap on this small bounded pool of daemon threads. */
  private lazy val footerPool: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "graft-manifest-footers"); t.setDaemon(true); t
    }))

  /** Footer stats for the named files, in the given (name) order:
    * driver-side and concurrent under 32 files (a streaming micro-batch /
    * compaction delta — beats job-scheduling latency), distributed above
    * (the 100k-region bulk sink). */
  private def statFiles(spark: SparkSession, dir: String,
                        files: Seq[(String, Long)]): Seq[(String, Entry)] = {
    val hc = spark.sessionState.newHadoopConf()
    if (files.isEmpty) Seq.empty
    else if (files.size <= 32) {
      val opens = files.map { case (name, len) =>
        Future {
          statReads.incrementAndGet()
          val (rows, bounds) = footerStats(s"$dir/$name", hc)
          (name, Entry(len, rows, bounds))
        }(footerPool)
      }
      Await.result(Future.sequence(opens)(implicitly, footerPool), Duration.Inf)
    } else {
      // the conf (fs.defaultFS + credentials) travels as one broadcast
      val conf = org.apache.spark.sql.graft.Bridge.broadcastConf(spark.sparkContext, hc)
      val paths = files.map { case (name, len) => (s"$dir/$name", name, len) }
      spark.sparkContext
        .parallelize(paths, math.min(paths.size,
          math.max(1, spark.sparkContext.defaultParallelism * 2)))
        .mapPartitions { it =>
          val c = conf()
          it.map { case (path, name, len) =>
            val (rows, bounds) = footerStats(path, c)
            (name, Entry(len, rows, bounds))
          }
        }
        .collect().toSeq.sortBy(_._1)
    }
  }

  /** Test seam: [[write]]/[[update]] throw before touching anything when
    * the target dir starts with this prefix — lets a spec drive the
    * sink's manifest-failure degrade ([[graft.SortedParquetCellSink]])
    * without corrupting real state. Path-scoped so a parallel suite can
    * never trip another test's writes. */
  @volatile private[graft] var failWritesUnder: Option[String] = None

  private def checkSeam(dir: String): Unit =
    failWritesUnder.foreach { prefix =>
      if (dir.startsWith(prefix))
        throw new java.io.IOException(s"injected manifest write failure (test seam): $dir")
    }

  /** Install the TSV through [[Publish.replace]]: a reader racing the
    * rewrite (a scan beside a compaction round) sees the old manifest or
    * the new one, never a prefix of a torn write. */
  private def persist(fs: FileSystem, p: Path, entries: Seq[(String, Entry)]): Unit =
    Publish.replace(fs, p, FileName, entries.map {
      case (name, Entry(len, rows, Some((lo, hi)))) =>
        s"$name\t$len\t$rows\t${toHex(lo)}\t${toHex(hi)}"
      case (name, Entry(len, rows, None)) => s"$name\t$len\t$rows\t-\t-"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))

  /** Parse the manifest if present: part-file name → [[Entry]]. Returns
    * None when the directory carries no manifest — callers fall back to
    * footer reads.
    *
    * TRUST CONTRACT — a damaged manifest degrades, never aborts. Two
    * distinct failure layers, both covered:
    *   - IO-level corruption (a torn write on a checksummed FS surfaces
    *     as `ChecksumException` from open/read, before the parser sees a
    *     byte; likewise permission loss or a transient FS fault): the
    *     WHOLE read maps to None — the same full footer-stat fallback as
    *     "no manifest at all", which [[CellScan]] already handles.
    *   - parse-level corruption (wrong arity, truncated number, bad
    *     hex): the damaged LINE maps to the conservative
    *     Entry(-1,-1,None) — a live footer re-stat for that file
    *     only. */
  def read(spark: SparkSession, dir: String): Option[Map[String, Entry]] =
    read(spark.sessionState.newHadoopConf(), dir)

  /** Configuration-based variant (no SparkSession) — usable from executor
    * tasks and non-Spark call sites ([[CellScan]]'s metadata walk, which
    * the compaction replay fingerprint runs without a session). */
  private[graft] def read(conf: Configuration, dir: String): Option[Map[String, Entry]] =
    scala.util.Try(readOrThrow(conf, dir)).toOption.flatten

  // the newest-temp fallback of [[Publish.readReplaced]] covers the
  // retire-then-rename window; a half-written leftover temp parses to
  // conservative entries, never to a wrong prune
  private def readOrThrow(conf: Configuration, dir: String): Option[Map[String, Entry]] = {
    val p = new Path(dir)
    Publish.readReplaced(p.getFileSystem(conf), p, FileName).map(parse)
  }

  private def parse(text: String): Map[String, Entry] = {
    // [[persist]] always terminates the body with '\n', so a file that
    // does NOT end in a newline was torn mid-line — and a line torn
    // inside its LAST hex field still parses as valid (shorter) bounds,
    // which would UNDERSTATE hi and mis-prune. The unterminated final
    // fragment is therefore never trusted: it degrades to the
    // conservative no-stats entry like any other damaged line.
    val lines = text.split('\n').iterator.filter(_.nonEmpty).toSeq
    val (terminated, torn) =
      if (text.isEmpty || text.endsWith("\n")) (lines, Seq.empty[String])
      else (lines.dropRight(1), lines.takeRight(1))
    (terminated.iterator.map { line =>
      // any damaged field (wrong arity, truncated number, bad hex) maps
      // to the conservative Entry(-1, -1, None) — a corrupted manifest
      // degrades to a live footer re-stat, never to an aborted
      // scan (the directory's trust contract)
      val fields = line.split('\t')
      val parsed = scala.util.Try {
        fields match {
          case Array(name, len, rows, "-", "-") =>
            name -> Entry(len.toLong, rows.toLong, None)
          case Array(name, len, rows, lo, hi) =>
            name -> Entry(len.toLong, rows.toLong, Some((fromHex(lo), fromHex(hi))))
        }
      }
      parsed.getOrElse(fields.head -> Entry(-1L, -1L, None))
    } ++ torn.iterator.map(line =>
      line.split('\t').head -> Entry(-1L, -1L, None))).toMap
  }

  /** [[stats]] of a file's footer, from ONE footer open — metadata
    * pages only, no data read. Takes a plain Configuration so it runs
    * inside executor tasks. */
  private[graft] def footerStats(file: String, conf: Configuration)
      : (Long, Option[(Array[Byte], Array[Byte])]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try stats(reader.getFooter) finally reader.close()
  }

  /** (record count, unsigned min/max of the `row` column across the
    * file's row groups) of a parquet footer — read back from a file, or
    * the one a [[RegionWriter]] task just wrote. Bounds are None when any
    * row group lacks exact stats; a file without row groups has the empty
    * bounds. */
  private[graft] def stats(footer: ParquetMetadata): (Long, Option[(Array[Byte], Array[Byte])]) = {
    val blocks = footer.getBlocks.asScala
    def bounds: Option[(Array[Byte], Array[Byte])] = {
      if (blocks.isEmpty) return Some((Array.empty, Array.empty))
      var lo: Array[Byte] = null
      var hi: Array[Byte] = null
      val it = blocks.iterator
      while (it.hasNext) {
        val st = it.next().getColumns.asScala.find(_.getPath.toDotString == "row")
          .map(_.getStatistics).orNull
        if (st == null || !st.hasNonNullValue) return None
        val mn = st.getMinBytes
        val mx = st.getMaxBytes
        if (lo == null || RegionSort.unsignedBytes.compare(mn, lo) < 0) lo = mn
        if (hi == null || RegionSort.unsignedBytes.compare(mx, hi) > 0) hi = mx
      }
      Some((lo, hi))
    }
    (blocks.map(_.getRowCount).sum, bounds)
  }

  /** Uppercase hex of a row-key bound; `0x` is the empty key (never a
    * valid hex body). */
  private[graft] def toHex(b: Array[Byte]): String =
    if (b.isEmpty) "0x" else java.util.HexFormat.of().withUpperCase().formatHex(b)

  /** Inverse of [[toHex]]. Throws on a non-hex character or an odd
    * length, so a damaged bound parses to the conservative entry instead
    * of a wrong one. */
  private[graft] def fromHex(s: String): Array[Byte] =
    if (s == "0x") Array.empty else java.util.HexFormat.of().parseHex(s)
}
