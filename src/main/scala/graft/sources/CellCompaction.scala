package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Region-file COMPACTION for the serving layout — the HBase minor/major
  * compaction analog. Streaming ingest ([[graft.streaming.StreamingIngest]])
  * lands one region-aligned fileset per micro-batch (`batch_00000/`,
  * `batch_00001/`, …): correct, exactly-once, but a long-running feed
  * accumulates small region files whose COUNT — not size — drives scan
  * cost even with the manifest (every scan intersecting a key range opens
  * one file per batch per region). A region server solves this with
  * background compaction: merge the accumulated store files into one file
  * per region, atomically swap, and serving cost returns to O(regions).
  *
  * Same move here, one declarative plan: read every batch fileset under
  * `root`, re-run the SAME region-aligned total-order sort the batch sink
  * uses (`BulkLoad.sorted` — the one region exchange, exactly aligned to
  * the config's boundaries, so the compacted layout obeys the identical
  * file-i-⊆-region-i contract),
  * land it in `dest` with a refreshed manifest, and retire the input
  * batch dirs. Cell content is the IDENTITY — compaction moves
  * bytes, never changes them (oracle-checked by `cells_compact_regions`).
  *
  * Scale shape: ONE total-order exchange over the union of batch files —
  * the same cost one big batch would have paid, amortized to whenever the
  * operator runs; the scan side is a plain multi-path parquet read
  * (splittable, no driver materialization), and the manifest refresh
  * takes the region writer's entries for the regions-count output files —
  * it opens no footer. Version-resolution
  * compaction (TTL / max-versions / tombstones) is deliberately NOT fused
  * here — that is [[graft.operators.CellOps.compactVersions]] /
  * `compactWithTombstones`, composable upstream of the sort when a purge
  * is wanted; this operator is the LAYOUT compaction. */
object CellCompaction {

  /** Region sort of cells already written under `cfg` ([[graft.BulkLoad
    * .sorted]]). A salted config's persisted keys already carry their salt
    * digit, so they are routed by the salt-digit boundaries
    * ([[graft.operators.RegionSort.saltSplits]]) and never salted again. */
  private def resorted(cells: org.apache.spark.sql.DataFrame,
                       cfg: graft.BulkLoad.Config): org.apache.spark.sql.DataFrame =
    graft.BulkLoad.sorted(cells, cfg.saltBuckets.fold(cfg)(b => cfg.copy(saltBuckets = None,
      splits = Some(graft.operators.RegionSort.saltSplits(b).toSeq))))

  /** Directories named exactly `batch_<digits>` under `root`, sorted by
    * batch id (`batch_00003.quarantine` siblings are NOT cell filesets
    * and must never be swept into a compaction). */
  def batchDirs(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("batch_\\d+"))
      .map(_.getPath.toString).sorted
  }

  /** MINOR compaction: absorb the CURRENT batch filesets into an
    * existing (or new) serving directory `dest` as ONE additional
    * region-aligned fileset, refresh `dest`'s manifest INCREMENTALLY
    * ([[CellManifest.update]] — the writer's entries for the new files,
    * existing entries kept verbatim, no footer opened), and retire the
    * inputs. Into an empty `dest` this is the full merge:
    * one file per region plus a fresh manifest (and an `_absorbed`
    * ledger, which Spark's parquet source never reads — the leading
    * underscore hides it). `dest` accumulates one fileset per minor
    * round; scans stay manifest-pruned throughout (files from different
    * rounds may overlap in key range — the manifest prunes per FILE, so
    * a bounded range touches intersecting files from each round, which
    * is exactly HBase's multi-store-file read). Run [[compactMajor]]
    * when the per-region file count warrants one file per region again.
    * Crash window (files landed, inputs not yet deleted) leaves
    * duplicates visible to a ROOT-level reader, never missing data —
    * production wraps the retire in the serving layer's pointer swap.
    *
    * IDEMPOTENT PER BATCH ID: `dest/_absorbed` records the batch-dir
    * NAME plus a CONTENT FINGERPRINT (md5 over the fileset's sorted
    * per-file length/rowCount/row-key-bound tuples — name-independent,
    * since a deterministic replay re-lands the same bytes under fresh
    * task-attempt file names; see [[fingerprint]]) of each recently
    * absorbed batch. A batch dir whose name AND fingerprint
    * match a ledger entry is a STREAMING REPLAY (a crash after the sweep
    * but before the checkpoint commit re-runs foreachBatch for the same
    * batch id, which deterministically recreates the same fileset) — it
    * is retired WITHOUT re-absorbing, so a replayed micro-batch can never
    * permanently duplicate cells in the serving layout. A name match with
    * a DIFFERENT fingerprint is NOT a replay (a checkpoint reset with new
    * data, or a second stream root compacting into the same dest) and
    * FAILS LOUDLY rather than silently deleting new data. The residual
    * crash window (fileset installed, ledger not yet rewritten) degrades
    * to the transient duplicate contract above, never to loss: the
    * ledger lands ([[Publish.replace]] — temp sibling + rename, with the
    * newest-temp fallback on read) before the inputs are deleted.
    *
    * BOUNDED LEDGER: only entries for batch ids ≥ the newest absorbed id
    * are retained. Structured Streaming commits batch N's checkpoint
    * before producing batch N+1, so once a newer id has been absorbed an
    * older id can never legitimately replay — sweep cost is therefore
    * independent of how many batches the stream has ever produced.
    * Resetting a checkpoint against a live dest is outside this
    * contract: a re-landed old id re-absorbs (duplicates) or, with
    * different content at a retained id, fails loudly — use a fresh dest.
    * Returns the number of batch filesets absorbed (replays excluded). */
  def compactMinor(spark: SparkSession, root: String, dest: String,
                   cfg: graft.BulkLoad.Config): Int = {
    val all = batchDirs(spark, root)
    if (all.isEmpty) return 0
    val hc = spark.sessionState.newHadoopConf()
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(hc)
    fs.mkdirs(destPath)
    val absorbed = readLedger(fs, destPath)
    val (replayed, dirs) = all.partition(d => absorbed.contains(new Path(d).getName))
    // a replay re-lands the same content, so its fingerprint equals the
    // recorded one; anything else under an absorbed id is new data (a
    // checkpoint reset, or a second stream compacting into this dest):
    // fail loudly, before any dir is retired
    replayed.foreach { d =>
      val dp = new Path(d)
      val recorded = absorbed(dp.getName)
      val found = fingerprint(fs, dp)
      if (found != recorded)
        throw new IllegalStateException(
          s"batch dir ${dp.getName} carries an already-absorbed batch id but " +
            s"DIFFERENT content (ledger fingerprint $recorded, found $found) — " +
            "not a streaming replay (checkpoint reset with new data, or a " +
            "second stream compacting into this dest?). Refusing to retire it; " +
            "compact into a fresh dest.")
    }
    replayed.foreach(d => fs.delete(new Path(d), true))
    if (dirs.isEmpty) return 0
    // fingerprint the inputs BEFORE they move (they are deleted below)
    val newEntries = dirs.map(d => new Path(d).getName -> fingerprint(fs, new Path(d)))
    CellManifest.update(spark, dest, rewrite(spark, dirs, destPath, cfg))
    val newestId = newEntries.map(e => batchId(e._1)).max
    Publish.replace(fs, destPath, AbsorbedLedger,
      (absorbed ++ newEntries).filter { case (n, _) => batchId(n) >= newestId }
        .toSeq.sorted.map { case (n, fp) => s"$n\t$fp" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    dirs.foreach(d => fs.delete(new Path(d), true))
    dirs.size
  }

  /** The absorbed-batch ledger's file name under a minor-compaction
    * serving dir (not `part-*` — [[CellManifest.partFiles]] ignores
    * it). */
  val AbsorbedLedger = "_absorbed"

  private def batchId(name: String): Long =
    name.stripPrefix("batch_").toLong

  /** Ledger fingerprint FORMAT version, bumped whenever [[fingerprint]]'s
    * input tuple changes. A recorded value of any other format never
    * equals today's fingerprint, so its replay check fails loudly. */
  private[graft] val FingerprintVersion = "v2:"

  /** Content fingerprint of a landed batch fileset: md5 over the SORTED
    * per-file (length, rowCount, loKeyHex, hiKeyHex) tuples — names
    * excluded (a deterministic foreachBatch replay recreates identical
    * bytes under fresh task-attempt UUID names). Lengths alone are NOT
    * enough: a checkpoint-reset batch whose NEW data coincidentally lands
    * the same sorted length multiset would be indistinguishable from a
    * replay and silently retired; row counts and row-key bounds are
    * content-derived and free (they come from [[CellScan]]'s metadata
    * walk: the batch's own manifest — one small-file read — or one
    * footer open per file the manifest cannot vouch for, metadata pages,
    * no data read). */
  private[graft] def fingerprint(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: Path): String = {
    val sigs = CellScan.regionFiles(fs.getConf, dir.toString).getOrElse(Seq.empty)
      .map { f =>
        val b = f.bounds.map { case (lo, hi) =>
          CellManifest.toHex(lo) + "/" + CellManifest.toHex(hi) }.getOrElse("-")
        s"${f.length}:${f.rows}:$b"
      }.sorted
    val body = sigs.length + ":" + sigs.mkString(",")
    FingerprintVersion + Publish.md5Hex(body)
  }

  /** The `_absorbed` ledger under `dest` ([[Publish.readReplaced]]):
    * name → fingerprint ("" for a line without one, which therefore
    * matches no batch's fingerprint). Lines whose name is not a
    * `batch_<digits>` id are DROPPED: such a name can never match a batch
    * dir ([[batchDirs]] admits only that shape), so it carries no replay
    * protection — and keeping it would crash every subsequent sweep's
    * bounded-retention filter ([[batchId]] toLong) on a hand-edited or
    * corrupted ledger line. Degrade, don't abort. */
  private def readLedger(fs: org.apache.hadoop.fs.FileSystem,
                         dest: Path): Map[String, String] =
    Publish.readReplaced(fs, dest, AbsorbedLedger).fold(Map.empty[String, String]) {
      _.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map { line =>
        line.split('\t') match {
          case Array(n, fp) => n -> fp
          case fields       => fields.head -> ""
        }
      }.filter { case (n, _) => n.matches("batch_\\d+") }.toMap
    }

  /** The rewrite every compaction shares: read `inputs`, re-run the
    * region sort ([[resorted]]) and land the new files straight in `dest`
    * through [[RegionWriter]] — hidden temps renamed in under fresh
    * `part-*` names, so they never collide with the files they replace and
    * a failed rename aborts LOUDLY before any old data is retired (the
    * caller's install-first/delete-second ordering depends on it).
    * Returns the writer's manifest entries; the caller refreshes the
    * manifest from them and retires what the new files replace. */
  private def rewrite(spark: SparkSession, inputs: Seq[String], dest: Path,
                      cfg: graft.BulkLoad.Config): Seq[RegionWriter.Written] = {
    val cells = spark.read.schema(graft.operators.CellOps.cellSchema)
      .parquet(inputs: _*)
    RegionWriter.write(resorted(cells, cfg), dest.toString)
  }

  /** MAJOR compaction IN PLACE: rewrite `dir`'s accumulated filesets as
    * exactly one file per region (fresh full manifest from the writer's
    * entries). Install-first, delete-second: the rewrite lands under
    * hidden temps, the new part files are RENAMED IN (fresh-UUID names
    * cannot collide with the old parts), and only
    * then are the old parts deleted and the manifest rewritten — so the
    * crash window at every point shows a root-level reader duplicates,
    * never loss, and a failed rename aborts with the old fileset (and
    * its manifest) fully intact. A concurrent reader between install and
    * manifest rewrite sees a manifest that prunes only the old names —
    * stale-but-safe for ranges, which is why single-writer serving is
    * still the documented posture for point-in-time row counts. */
  def compactMajor(spark: SparkSession, dir: String,
                   cfg: graft.BulkLoad.Config): Unit = {
    val hc = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(hc)
    val oldParts = CellManifest.partFiles(fs, dirPath).map(_.getPath)
    if (oldParts.isEmpty) return
    val written = rewrite(spark, Seq(dir), dirPath, cfg)
    oldParts.foreach(p => fs.delete(p, false))
    CellManifest.write(spark, dir, written)
  }
}
