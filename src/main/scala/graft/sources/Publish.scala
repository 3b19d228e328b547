package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** How an artifact becomes visible — the one place the engine decides it.
  * The reference's last step is an atomic adoption: `LoadIncrementalHFiles`
  * moves staged HFiles into live regions only once they are fully written
  * (BulkImporterFromText.java:118-133). Everything the engine persists
  * makes the same promise through one of two protocols here:
  *
  *  - BUILD ONCE ([[publishIfAbsent]]): a keyed, immutable artifact (a
  *    dedup / span / ANN store, an oracle fixture) is written whole into a
  *    UUID temp sibling and renamed into place. A reader sees no artifact
  *    or the complete one; a write that throws leaves nothing behind, so
  *    the next call rebuilds it.
  *  - REPLACE ([[replace]] / [[readReplaced]]): a small mutable file
  *    (the region manifest, the compaction `_absorbed` ledger) is rewritten
  *    through an epoch+UUID temp sibling and a rename, so a racing reader
  *    sees the old contents or the new, never a prefix.
  *
  * Region part files moved into a serving directory by compaction are the
  * one other install ([[CellCompaction]]'s `installParts`): they are
  * renamed one by one under fresh names, and the manifest replace makes
  * them visible to pruning readers. */
object Publish {

  private val hex = java.util.HexFormat.of()

  /** Lowercase md5 hex of a string's UTF-8 bytes. */
  def md5Hex(s: String): String =
    hex.formatHex(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")))

  private def storeDir: Option[String] = sys.props.get("graft.store.dir")

  /** Root of what the engine writes for itself on the job's file system:
    * `graft.store.dir` when set, else `java.io.tmpdir`. */
  def root: String = storeDir.getOrElse(sys.props("java.io.tmpdir"))

  /** Location of the keyed store `key` of a store `family`:
    * `<graft.store.dir>/<md5(key)>/store`, or under
    * `java.io.tmpdir/<family>` when no store dir is set. The key string
    * is the caller's whole identity (corpus drop, its stamp, parameters,
    * version literal), so a changed input is a new key, never an
    * overwrite. */
  def storePath(family: String, key: String): Path =
    new Path(s"${storeDir.getOrElse(s"$root/$family")}/${md5Hex(key)}", "store")

  /** Build-once publish: when `path` is absent, `write` lands the artifact
    * (a directory or a single file) at the temp path it is given, a UUID
    * sibling of `path`, which is then renamed in whole. Losing the rename
    * race to a concurrent identical build keeps theirs (builds are
    * deterministic) and drops ours; a `write` that throws drops its temp
    * and rethrows, so a failed build is never served. */
  def publishIfAbsent(conf: Configuration, path: Path)(write: String => Unit): Unit = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) {
      fs.mkdirs(path.getParent)
      val tmp = new Path(path.getParent, s"_store_tmp_${java.util.UUID.randomUUID()}")
      try write(tmp.toString)
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
      if (!fs.rename(tmp, path)) fs.delete(tmp, true)
    }
  }

  /** A leftover temp younger than this may be a concurrent writer's
    * in-flight file; only older ones are swept. */
  private val sweepGraceMs = 10 * 60 * 1000L

  /** Atomically replace `dir/name` with `bytes`. The temp sibling is
    * `name.tmp-<epochMs>-<uuid>`: two concurrent writers each write their
    * own temp (a fixed name would let one truncate the other's file and
    * rename torn bytes in), and the writer's epoch in the name ages the
    * temp for the sweep independent of store-side mtime skew.
    *
    * If the filesystem refuses a rename onto an existing file (HDFS
    * semantics), the live file is retired and the rename retried; the
    * [live-missing, temp-present] window between those steps is covered
    * by [[readReplaced]]'s newest-temp fallback (the temp is complete and
    * closed before the live file is touched). If our temp has vanished
    * meanwhile while a live file exists, a concurrent writer won the
    * install and theirs is kept. Finally, temps of crashed writers older
    * than the grace window are swept, each under its own Try. */
  def replace(fs: FileSystem, dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val live = new Path(dir, name)
    val tmp = new Path(dir,
      s"$name.tmp-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, live)) {
      // re-check OUR temp before retiring the live file: deleting live
      // after losing the temp would leave no file at all
      if (!fs.exists(tmp)) {
        if (fs.exists(live)) {
          System.err.println(s"[graft] install of $live lost its temp ($tmp) " +
            "to a concurrent writer/sweep and kept the winner's file")
          return
        }
        throw new java.io.IOException(
          s"install lost its temp with no live file present: $tmp -> $live")
      }
      fs.delete(live, false)
      if (!fs.rename(tmp, live))
        throw new java.io.IOException(s"install failed: $tmp -> $live")
    }
    val now = System.currentTimeMillis()
    // flatMap(Option(_)): some FileSystems return null from globStatus
    scala.util.Try(fs.globStatus(new Path(dir, s"$name.tmp-*"))).toOption
      .flatMap(Option(_))
      .getOrElse(Array.empty[FileStatus])
      .foreach { s =>
        scala.util.Try {
          if (now - tempAgeBasis(s, name) > sweepGraceMs) fs.delete(s.getPath, false)
        }
      }
  }

  /** Age basis for sweeping a leftover temp of `name`: the writer's epoch
    * embedded in the temp name when present, else filesystem mtime (a
    * foreign or legacy UUID-only name). A real epoch is 13..18 digits; a
    * shorter all-digit head is a UUID segment and a longer one would
    * overflow a Long. */
  private[graft] def tempAgeBasis(s: FileStatus, name: String): Long = {
    val head = s.getPath.getName.stripPrefix(s"$name.tmp-").takeWhile(_ != '-')
    if (head.length >= 13 && head.length <= 18 && head.forall(_.isDigit)) head.toLong
    else s.getModificationTime
  }

  /** Contents of `dir/name` as installed by [[replace]]: the live file, or
    * — in the retire-then-rename window — the newest temp sibling. None
    * when neither exists. IO faults propagate; callers choose how to
    * degrade. */
  def readReplaced(fs: FileSystem, dir: Path, name: String): Option[String] = {
    val live = new Path(dir, name)
    val src =
      if (fs.exists(live)) Some(live)
      else scala.util.Try(fs.globStatus(new Path(dir, s"$name.tmp-*")).toSeq)
        .toOption.filter(_.nonEmpty).map(_.maxBy(_.getModificationTime).getPath)
    src.map(slurp(fs, _))
  }

  /** Write a one-line sidecar (`BASE`, `COMPACTED_FROM`, `SPAN_BUCKETS`)
    * into a fileset being staged: no temp of its own, the fileset's
    * [[publishIfAbsent]] makes it visible. */
  def writeText(conf: Configuration, p: Path, text: String): Unit = {
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** A one-line sidecar's trimmed text, None when absent. */
  def readText(conf: Configuration, p: Path): Option[String] = {
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) Some(slurp(fs, p).trim) else None
  }

  private def slurp(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}
