package graft

import java.io.File

/** The oracle fixtures `ReferenceParity` stages (source round-trip files,
  * the bucketed join tables, the reference-shaped CSV) land under the store
  * root that keyed stores and stream scratch use, never in
  * `java.io.tmpdir` when `graft.store.dir` is set. */
class FixtureRootSpec extends SparkSuite {

  test("ReferenceParity fixtures land under graft.store.dir; java.io.tmpdir gains no graft_* entry") {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val store = java.nio.file.Files.createTempDirectory("graft-store").toFile
    val prior = sys.props.get("graft.store.dir")
    sys.props("graft.store.dir") = store.getPath
    try {
      def graftEntries: Set[String] = tmp.list().filter(_.startsWith("graft_")).toSet
      val before = graftEntries
      val queries = Seq("source_avro_cells", "source_orc_cells", "source_rcfile_cells",
        "source_jsonl_cells", "layout_bucketed_join", "source_csv_compat_skips")
      queries.foreach { name =>
        assert(SparkEntry.queries(name)(spark, sf001).collect().nonEmpty, name)
      }

      val gained = graftEntries -- before
      assert(gained.isEmpty, s"java.io.tmpdir gained ${gained.mkString(", ")}")
      val staged = store.list().toSet
      Seq("graft_src_avro_", "graft_src_orc_", "graft_src_rcfile_", "graft_src_jsonl_",
        "graft_bucketed_", "graft_ref_shaped_csv_").foreach { prefix =>
        assert(staged.exists(_.startsWith(prefix)), s"no $prefix* under $store: $staged")
      }
      // the census and its oracle SQL read the same file
      val csv = graft.queries.ReferenceParity.CsvSample.path
      assert(csv.startsWith(store.getPath) && new File(csv).isFile, csv)
      assert(SparkEntry.oracleSql("source_csv_compat_skips").contains(csv))
    } finally {
      prior match {
        case Some(p) => sys.props("graft.store.dir") = p
        case None    => sys.props -= "graft.store.dir"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(store)
    }
  }
}
