package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared corpus-stamp reader for every durable store family (dedup /
  * cluster / span stores, the ANN index store and its advance chain).
  *
  * A store key folds in the corpus drop's PHYSICAL identity — size +
  * mtime of its table files — so a regenerated drop at the same path is
  * a new drop and can never be served a stale artifact. The stamp read
  * has exactly three outcomes, and the distinction is the contract:
  *
  *  - SUCCESS → the file stamp string.
  *  - `FileNotFoundException` → the key path holds no such table, i.e.
  *    the caller passed an OPAQUE key (spec fixtures, ad-hoc tags), not
  *    a corpus drop directory. There is nothing to stamp and nothing
  *    that can be regenerated under the key, so the key degrades to
  *    path-only — logged, deterministic, safe.
  *  - any OTHER Throwable (transient IO fault, permission loss, a
  *    half-down filesystem) → FAIL HARD. Degrading here is the unsafe
  *    case the round-16 review flagged: the drop exists but could not
  *    be stamped, so a path-only key would silently serve a stale store
  *    for a corpus that HAS changed in place.
  */
private[graft] object StoreStamp {

  /** Stamp of `<stampDir>/<table>` (file or directory of part files);
    * see the object scaladoc for the failure contract. `site` names the
    * calling store family in log/error lines. */
  def read(spark: SparkSession, stampDir: String, table: String,
           site: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$stampDir/$table")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val s = fs.getFileStatus(p)
      if (s.isFile) s"${s.getLen}:${s.getModificationTime}"
      else fs.listStatus(p)
        .map(c => s"${c.getPath.getName}:${c.getLen}:${c.getModificationTime}")
        .sorted.mkString(",")
    } catch {
      case _: java.io.FileNotFoundException =>
        System.err.println(s"[graft] $site: no '$table' under '$stampDir' — " +
          "opaque store key, key degrades to path-only")
        ""
      // NonFatal only: a fatal throwable (OutOfMemoryError, interruption,
      // linkage failure) is neither a degradable stamp fault nor something
      // to wrap — it propagates unchanged
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"[graft] $site: corpus stamp read " +
          s"failed for '$stampDir' (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}). Refusing to key the store path-only: a " +
          "regenerated corpus at an unchanged path would silently serve a " +
          "stale artifact. Fix the filesystem fault.", e)
    }
}
