package graft.queries

import org.apache.hadoop.fs.Path

/** Scan-layout metadata kept by [[Tables]]. */
class TablesSpec extends graft.SparkSuite {

  test("rowGroupCache: one entry per path, a rewritten file replaces its stale entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowgroups").toString
    val target = new Path(dir, "f.parquet")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = target.getFileSystem(hconf)
    // write `rows` longs as one parquet file with small row groups and
    // move it onto the same path
    def place(rows: Int, stamp: Long): Unit = {
      val out = new Path(dir, s"w$rows")
      spark.range(rows).coalesce(1).write.option("parquet.block.size", 4096L)
        .parquet(out.toString)
      val part = fs.listStatus(out).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.delete(target, false)
      assert(fs.rename(part, target))
      fs.setTimes(target, stamp, -1)
    }
    place(10, 1000000L)
    assert(Tables.rowGroups(fs.getFileStatus(target), hconf) === Some(1L))
    val entries = Tables.rowGroupCache.size()
    place(200000, 2000000L)
    val groups = Tables.rowGroups(fs.getFileStatus(target), hconf)
    assert(groups.exists(_ > 1L), s"$groups")
    // replaced, not added beside the stale (mtime, length)
    assert(Tables.rowGroupCache.size() === entries)
    val key = fs.getFileStatus(target).getPath.toString
    assert(Tables.rowGroupCache.get(key) === ((2000000L, fs.getFileStatus(target).getLen,
      groups.get.toInt)))
    // an unchanged file is served from the entry
    assert(Tables.rowGroups(fs.getFileStatus(target), hconf) === groups)
  }
}
