package graft.sources

import graft.operators.RegionSort
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
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
  * written once at region creation. Same move here — the SINK pays one
  * distributed footer-stat pass at write time (executors each open a
  * handful of footers — metadata pages only, no data read) and persists
  * the boundaries; every subsequent scan reads one file.
  *
  * Format (`_graft_region_manifest.tsv`): one
  * `name<TAB>length<TAB>rows<TAB>loHex<TAB>hiHex` line per part file,
  * `-` for a file without usable stats (kept conservatively by readers).
  * The recorded byte LENGTH lets readers detect a part file rewritten IN
  * PLACE under the same name (compaction, manual repair) — the one
  * mutation a name-keyed index cannot see — and fall back to that file's
  * live footer stats instead of trusting stale bounds. The ROW COUNT
  * rides along because the same footer open yields it for free, and it
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
    * contract ("update stats only the new files"). The distributed
    * (>32-file) pass is not counted (executor-side). */
  val statReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Compute per-file row bounds for every `part-*.parquet` under `dir`
    * and persist the manifest. Footer stats are gathered on EXECUTORS
    * (parallelize over file paths), so sink-time cost is
    * files/parallelism footer opens per task — O(seconds) even at 100k
    * regions — and the driver only writes the collected ~50 B/file TSV. */
  def write(spark: SparkSession, dir: String): Unit = {
    checkSeam(dir)
    val hc = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(hc)
    persist(fs, p, statFiles(spark, dir, listParts(fs, p)))
  }

  /** INCREMENTAL manifest maintenance: stat ONLY the part files that are
    * new (or length-changed) since the existing manifest, keep the
    * surviving entries verbatim, drop entries for deleted files, rewrite
    * the (small) TSV. This is the refresh a compaction round or an
    * appending sink calls — at 100k regions a minor compaction touching
    * 50 files costs 50 footer opens, not 100k. No existing manifest →
    * identical to [[write]]. Returns the number of files statted. */
  def update(spark: SparkSession, dir: String): Int = {
    checkSeam(dir)
    val hc = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(hc)
    val existing = read(spark, dir).getOrElse(Map.empty)
    val live = listParts(fs, p)
    val (kept, fresh) = live.partition { case (name, len) =>
      existing.get(name).exists(e => e.length == len)
    }
    val freshStats = statFiles(spark, dir, fresh)
    val entries =
      kept.map { case (name, _) => (name, existing(name)) } ++ freshStats
    persist(fs, p, entries.sortBy(_._1))
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
      // Hadoop Configuration is not serializable; ship the entries and
      // rebuild ONCE PER PARTITION (fs.defaultFS + credentials travel).
      val confEntries = hc.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
      val paths = files.map { case (name, len) => (s"$dir/$name", name, len) }
      spark.sparkContext
        .parallelize(paths, math.min(paths.size,
          math.max(1, spark.sparkContext.defaultParallelism * 2)))
        .mapPartitions { it =>
          val conf = new Configuration(false)
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          it.map { case (path, name, len) =>
            val (rows, bounds) = footerStats(path, conf)
            (name, Entry(len, rows, bounds))
          }
        }
        .collect().toSeq.sortBy(_._1)
    }
  }

  /** Test seam: [[write]]/[[update]] throw before touching anything when
    * the target dir starts with this prefix — lets a spec drive the
    * deferred-manifest failure path ([[graft.streaming.StreamingIngest]])
    * without corrupting real state. Path-scoped so a parallel suite can
    * never trip another test's writes. */
  @volatile private[graft] var failWritesUnder: Option[String] = None

  private def checkSeam(dir: String): Unit =
    failWritesUnder.foreach { prefix =>
      if (dir.startsWith(prefix))
        throw new java.io.IOException(s"injected manifest write failure (test seam): $dir")
    }

  /** ATOMIC install — temp sibling + rename, never an in-place overwrite.
    * The deferred manifest lane ([[graft.streaming.StreamingIngest]])
    * made writer/reader overlap routine: a reader racing this rewrite
    * must see either the old manifest or the new one, never a prefix of
    * a torn in-place write. If the FS refuses a rename onto an existing
    * destination (HDFS semantics), the old file is retired first; the
    * [live-missing, tmp-present] crash/race window between those steps is
    * covered by [[readOrThrow]]'s tmp fallback (the tmp is always
    * complete by then — it is fully written and closed before the live
    * file is touched). Same posture as the compaction ledger install
    * ([[CellCompaction]]). */
  private def persist(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                      entries: Seq[(String, Entry)]): Unit = {
    val body = entries.map {
      case (name, Entry(len, rows, Some((lo, hi)))) =>
        s"$name\t$len\t$rows\t${toHex(lo)}\t${toHex(hi)}"
      case (name, Entry(len, rows, None)) => s"$name\t$len\t$rows\t-\t-"
    }.mkString("", "\n", "\n")
    val live = new Path(p, FileName)
    // epoch+UUID-suffixed temp sibling: two concurrent persist() calls
    // (an operator-run compaction racing a stream's deferred lane on the
    // same dir) each write their OWN temp — a fixed ".tmp" name would
    // let one writer truncate the other's half-written file and then
    // rename those torn bytes in as the live manifest. The leading
    // epoch is the WRITER's clock, embedded so the sweep below ages
    // temps by it instead of filesystem mtime (object stores with
    // skewed clocks made the mtime grace a narrowed window, not a
    // closed one)
    val tmp = new Path(p,
      s"$FileName.tmp-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, live)) {
      // re-check OUR temp before retiring the live file: if the temp has
      // vanished (external sweep, crash cleanup), deleting live would
      // leave the directory with no manifest at all and the retry rename
      // would still fail — the lose-lose end state of the sweep race.
      // A vanished temp with a live file present means a concurrent
      // writer won the install; their manifest may lack our newest
      // entries, but a missing entry only degrades that file to a footer
      // re-stat (the same trust contract as a damaged line) — accept it.
      if (!fs.exists(tmp)) {
        if (fs.exists(live)) {
          // LOGGED, not silent: the winner's manifest may lack this
          // writer's newest entries — each missing entry degrades that
          // file to a footer re-stat (the documented trust contract),
          // but an operator chasing slow reads deserves the breadcrumb
          System.err.println(s"[graft] manifest install for $live lost its " +
            s"temp ($tmp) to a concurrent writer/sweep and accepted the " +
            "winner's manifest; entries from this writer may be missing " +
            "until the next update (missing entries degrade to footer " +
            "re-stats, never wrong data)")
          return
        }
        throw new java.io.IOException(
          s"manifest install lost its temp with no live manifest present: $tmp -> $live")
      }
      fs.delete(live, false)
      if (!fs.rename(tmp, live))
        throw new java.io.IOException(s"manifest install failed: $tmp -> $live")
    }
    // best-effort sweep of crashed writers' leftovers, now shadowed by
    // the live file we just installed. GRACE-GUARDED: a temp younger
    // than the window may be a CONCURRENT writer's in-flight file —
    // deleting it would fail their first rename and (pre-guard) made
    // them retire the just-installed live manifest before failing too,
    // leaving no manifest at all. Only temps old enough to be crashed
    // writers' leftovers are swept.
    val sweepGraceMs = 10 * 60 * 1000L
    val now = System.currentTimeMillis()
    // each candidate is judged and deleted under its OWN Try: one
    // malformed name (or one delete fault) must not veto the rest of
    // the sweep — a single all-Try around the loop would abort on the
    // first bad entry and silently leak every remaining stale temp
    // flatMap(Option(_)): several FileSystem implementations return NULL
    // from globStatus instead of an empty array — Some(null) would NPE the
    // foreach outside the narrowed Try and fail the write after the live
    // manifest was already installed
    scala.util.Try(fs.globStatus(new Path(p, FileName + ".tmp-*"))).toOption
      .flatMap(Option(_))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .foreach { s =>
        scala.util.Try {
          if (now - tempAgeBasis(s) > sweepGraceMs) fs.delete(s.getPath, false)
        }
      }
  }

  /** Age basis for sweeping a leftover temp: the writer's epoch embedded
    * in the name (`manifest.tmp-<epochMs>-<uuid>`) when present —
    * writer-clock-to-writer-clock comparison, immune to store-side mtime
    * skew — falling back to filesystem mtime for legacy UUID-only names. */
  private[graft] def tempAgeBasis(s: org.apache.hadoop.fs.FileStatus): Long = {
    val rest = s.getPath.getName.stripPrefix(s"$FileName.tmp-")
    val head = rest.takeWhile(_ != '-')
    // a UUID segment is 8 hex chars and can be all digits; a real epoch
    // is 13+ digits for any modern date and ≤18 fits a Long — a 19+
    // digit all-digit head is NOT a writer epoch (and would overflow
    // `toLong`), so it falls back to mtime like any other foreign name
    if (head.length >= 13 && head.length <= 18 && head.forall(_.isDigit))
      head.toLong
    else s.getModificationTime
  }

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

  private def readOrThrow(conf: Configuration, dir: String): Option[Map[String, Entry]] = {
    val live = new Path(dir, FileName)
    val fs = live.getFileSystem(conf)
    // tmp fallback: persist() on an HDFS-semantics FS retires the live
    // file before renaming the (complete, closed) temp sibling in — a
    // reader landing in that window reads the tmp instead of degrading
    // to footer stats. Same recovery the compaction ledger uses.
    val p =
      if (fs.exists(live)) live
      else {
        // temps are UUID-suffixed (concurrent-writer safety) — glob for
        // them and take the newest; a half-written leftover parses to
        // conservative entries, never to a wrong prune
        val tmps = scala.util.Try(
          fs.globStatus(new Path(dir, FileName + ".tmp-*")).toSeq).getOrElse(Seq.empty)
        if (tmps.isEmpty) return None
        tmps.maxBy(_.getModificationTime).getPath
      }
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
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
    Some((terminated.iterator.map { line =>
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
      line.split('\t').head -> Entry(-1L, -1L, None))).toMap)
  }

  /** (record count, unsigned min/max of the `row` column across the
    * file's row groups) from ONE footer open — metadata pages only, no
    * data read. Bounds are None when any row group lacks exact stats.
    * Takes a plain Configuration so it runs inside executor tasks. */
  private[graft] def footerStats(file: String, conf: Configuration)
      : (Long, Option[(Array[Byte], Array[Byte])]) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    def bounds: Option[(Array[Byte], Array[Byte])] = {
      val blocks = reader.getFooter.getBlocks
      if (blocks.isEmpty) return Some((Array.empty, Array.empty))
      var lo: Array[Byte] = null
      var hi: Array[Byte] = null
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        val colMeta = b.getColumns.stream()
          .filter(c => c.getPath.toDotString == "row").findFirst()
        if (!colMeta.isPresent) return None
        val st = colMeta.get().getStatistics
        if (st == null || !st.hasNonNullValue) return None
        val mn = st.getMinBytes
        val mx = st.getMaxBytes
        if (lo == null || RegionSort.unsignedBytes.compare(mn, lo) < 0) lo = mn
        if (hi == null || RegionSort.unsignedBytes.compare(mx, hi) > 0) hi = mx
      }
      Some((lo, hi))
    }
    try (reader.getRecordCount, bounds) finally reader.close()
  }

  private val HexChars = "0123456789ABCDEF".toCharArray

  private[graft] def toHex(b: Array[Byte]): String =
    if (b.isEmpty) "0x" // sentinel: empty byte array (never a valid hex body)
    else {
      val sb = new java.lang.StringBuilder(b.length * 2)
      b.foreach { x =>
        sb.append(HexChars((x >> 4) & 0xf)); sb.append(HexChars(x & 0xf))
      }
      sb.toString
    }

  private[graft] def fromHex(s: String): Array[Byte] =
    if (s == "0x") Array.empty
    else {
      val out = new Array[Byte](s.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((Character.digit(s.charAt(2 * i), 16) << 4) |
          Character.digit(s.charAt(2 * i + 1), 16)).toByte
        i += 1
      }
      out
    }
}
