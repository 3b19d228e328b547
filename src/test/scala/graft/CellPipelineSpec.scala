package graft

import graft.functions.keys
import graft.operators.{CellOps, RegionSort}
import graft.sources.Delimited
import org.apache.spark.sql.functions._

/** Cell explode, arity-filter/quarantine, and region sort semantics —
  * including the reference-fixture e2e (SURVEY.md §5.2). */
class CellPipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = Seq(
    ("1", "alice", null.asInstanceOf[String]),
    ("2", "bob", "x")
  ).toDF("id", "name", "opt")

  test("explodeIndexed: ≤N cells per row, null fields emit no cell") {
    val cells = CellOps.explodeIndexed(df, keys.md5Raw(col("id")), "c",
      Seq(col("id"), col("name"), col("opt")))
    assert(cells.count() === 5) // 2+3: nulls dropped (reference P4)
    assert(cells.schema.fieldNames.toSeq === Seq("row", "family", "qualifier", "value", "ts"))
    val r1 = cells.where(col("value") === lit("alice").cast("binary")).head()
    assert(r1.getAs[Array[Byte]]("qualifier").sameElements(Array[Byte](0, 0, 0, 1)))
    assert(new String(r1.getAs[Array[Byte]]("family"), "UTF-8") === "c")
  }

  test("explodeNamed: field-name qualifiers (Avro path)") {
    val cells = CellOps.explodeNamed(df, keys.reversedKey(col("id")), "c",
      Seq("id", "name", "opt"))
    assert(cells.count() === 5)
    val quals = cells.select(col("qualifier").cast("string")).as[String].collect().toSet
    assert(quals === Set("id", "name", "opt"))
  }

  test("compactVersions: TTL boundary is inclusive, newest-k kept, ts ties break on value") {
    val cells = Seq(
      // one coordinate, four versions
      ("r1", "q", "v100", 100L), ("r1", "q", "v150", 150L),
      ("r1", "q", "v300", 300L), ("r1", "q", "v400", 400L),
      // ts tie at the keep boundary: value ASC wins deterministically
      ("r2", "q", "b", 200L), ("r2", "q", "a", 200L), ("r2", "q", "c", 300L)
    ).toDF("r", "q", "v", "ts")
      .select(col("r").cast("binary").as("row"),
        lit("c").cast("binary").as("family"),
        col("q").cast("binary").as("qualifier"),
        col("v").cast("binary").as("value"), col("ts"))
    val out = CellOps.compactVersions(cells, maxVersions = 2, minTs = 150L)
      .select(col("row").cast("string"), col("value").cast("string"), col("ts"))
      .as[(String, String, Long)].collect().toSet
    assert(out === Set(
      ("r1", "v400", 400L), ("r1", "v300", 300L), // ts=100 < TTL, 150 ranked out
      ("r2", "c", 300L), ("r2", "a", 200L)))      // tie 200: "a" beats "b"
  }

  test("compactWithTombstones: marker shadows at-or-before, newer put survives, marker dropped") {
    def cell(r: String, v: String, ts: Long, op: String) =
      (r, "q", v, ts, op)
    val cells = Seq(
      // r1: delete at 250 shadows 100/250-inclusive... puts 100, 200 and
      // the AT-marker-ts put 250 all go; 300 survives
      cell("r1", "v100", 100L, "put"), cell("r1", "v200", 200L, "put"),
      cell("r1", "v250", 250L, "put"), cell("r1", "x", 250L, "delete"),
      cell("r1", "v300", 300L, "put"),
      // r2: no marker — plain keep-2 over TTL survivors
      cell("r2", "v100", 100L, "put"), cell("r2", "v200", 200L, "put"),
      cell("r2", "v300", 300L, "put")
    ).toDF("r", "q", "v", "ts", "op")
      .select(col("r").cast("binary").as("row"),
        lit("c").cast("binary").as("family"),
        col("q").cast("binary").as("qualifier"),
        col("v").cast("binary").as("value"), col("ts"), col("op"))
    val out = CellOps.compactWithTombstones(cells, maxVersions = 2, minTs = 0L)
      .select(col("row").cast("string"), col("value").cast("string"), col("ts"))
      .as[(String, String, Long)].collect().toSet
    assert(out === Set(
      ("r1", "v300", 300L),                       // everything <= 250 shadowed
      ("r2", "v300", 300L), ("r2", "v200", 200L)))
    // no marker row (and no op column) leaks into the compacted output
    assert(!CellOps.compactWithTombstones(cells, 2, 0L).columns.contains("op"))
  }

  test("snapshotAsOf: future cells invisible, markers shadow without rewriting") {
    def cell(r: String, v: String, ts: Long, op: String) = (r, "q", v, ts, op)
    val cells = Seq(
      // r1: marker at 250 — a read at 260 sees nothing, a read at 300 sees v300
      cell("r1", "v100", 100L, "put"), cell("r1", "x", 250L, "delete"),
      cell("r1", "v300", 300L, "put"),
      // r2: no marker — read at T sees the newest put <= T
      cell("r2", "v100", 100L, "put"), cell("r2", "v400", 400L, "put")
    ).toDF("r", "q", "v", "ts", "op")
      .select(col("r").cast("binary").as("row"),
        lit("c").cast("binary").as("family"),
        col("q").cast("binary").as("qualifier"),
        col("v").cast("binary").as("value"), col("ts"), col("op"))
    def visible(t: Long) = CellOps.snapshotAsOf(cells, t)
      .select(col("row").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toSet
    assert(visible(260L) === Set(("r2", "v100")))   // r1 fully shadowed, r2@400 future
    assert(visible(300L) === Set(("r1", "v300"), ("r2", "v100"))) // post-marker put resurfaces
    assert(visible(99L) === Set.empty)              // before any write
  }

  test("reconstituteWide inverts explodeIndexed: newest version wins, null cells stay null") {
    val wide = Seq(("1", "alice", null.asInstanceOf[String]),
      ("2", "bob", "x")).toDF("id", "name", "opt")
    val stale = CellOps.explodeIndexed(
      wide.withColumn("name", upper(col("name"))),
      keys.md5Raw(col("id")), "c",
      Seq(col("id"), col("name"), col("opt")), ts = 100L)
    val fresh = CellOps.explodeIndexed(wide, keys.md5Raw(col("id")), "c",
      Seq(col("id"), col("name"), col("opt")), ts = 200L)
    val back = CellOps.reconstituteWide(stale.unionByName(fresh),
      Seq("id", "name", "opt"))
      .select(col("id"), col("name"), col("opt"))
      .as[(String, String, String)].collect().toSet
    assert(back === Set(("1", "alice", null), ("2", "bob", "x")))
  }

  test("naiveSplit keeps exact-arity rows and quarantines the rest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    Seq("a,b,c", "x,y", "p,q,r", "one,\"two,half\",three").toDF("value")
      .coalesce(1).write.mode("overwrite").text(tmp)
    val (kept, rejected) = Delimited.naiveSplit(spark, tmp, ",", 3)
    assert(kept.count() === 2)          // naive split breaks the quoted row
    assert(rejected.count() === 2)
    val (strict) = Delimited.strictCsv(spark, tmp, 3)
    assert(strict.where(col("c2").isNotNull).count() === 3) // RFC mode keeps the quoted row
  }

  test("reference fixture e2e: naive CSV split keeps 36,992 of 37,791 rows") {
    val path = "/root/reference/src/main/resources/iouzipcodes2011.csv"
    val (kept, rejected) = Delimited.naiveSplit(spark, path, ",", 9)
    assert(kept.count() === 36992)      // observable reference semantics
    assert(rejected.count() === 799)    // 2.11% quoted-comma rows skipped
    // strict RFC-4180 mode keeps every row
    assert(Delimited.strictCsv(spark, path, 9).count() === 37791)
  }

  test("reference fixture e2e: 64B keys, 9 cells/row, sorted range-disjoint partitions") {
    val path = "/root/reference/src/main/resources/iouzipcodes2011.csv"
    val (kept, _) = Delimited.naiveSplit(spark, path, ",", 9)
    val rowKey = keys.md5CompositeKey(Seq(col("c0"), col("c1"), col("c2"), col("c3")))
    val cells = CellOps.explodeIndexed(kept, rowKey, "c", (0 until 9).map(i => col(s"c$i")))
    assert(cells.count() === 36992L * 9)
    val sorted = BulkLoad.sorted(cells, BulkLoad.Config()) // 10 sampled regions
    assert(sorted.rdd.getNumPartitions === 10)
    // per-partition: sorted by (row, qualifier); across partitions: ranges disjoint
    val stats = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      val rows = it.map(r => (r.getAs[Array[Byte]]("row"), r.getAs[Array[Byte]]("qualifier")))
      var prev: (Array[Byte], Array[Byte]) = null
      var first: Array[Byte] = null
      var ok = true
      var n = 0L
      for (kv <- rows) {
        if (first == null) first = kv._1
        if (prev != null) {
          val c = RegionSort.unsignedBytes.compare(prev._1, kv._1)
          ok &&= c < 0 || (c == 0 && RegionSort.unsignedBytes.compare(prev._2, kv._2) <= 0)
        }
        prev = kv
        n += 1
      }
      Iterator.single((i, ok, n, Option(first), Option(prev).map(_._1)))
    }.collect().sortBy(_._1)
    assert(stats.forall(_._2), "each partition must be KV-sorted")
    assert(stats.map(_._3).sum === 36992L * 9)
    val nonEmpty = stats.filter(_._3 > 0)
    nonEmpty.sliding(2).foreach {
      case Array(a, b) =>
        assert(RegionSort.unsignedBytes.compare(a._5.get, b._4.get) <= 0,
          "partition ranges must be disjoint and ordered")
      case _ =>
    }
    // every key is 64 bytes (4 raw MD5 digests)
    assert(sorted.where(length(col("row")) =!= 64).count() === 0)
  }

  test("RegionPartitioner: exact boundary routing in unsigned byte order") {
    val splits = Array(Array[Byte](0x10), Array[Byte](0x80.toByte), Array[Byte](0xf0.toByte))
    val p = new RegionSort.RegionPartitioner(splits)
    assert(p.numPartitions === 4)
    assert(p.getPartition(Array[Byte](0x00)) === 0)
    assert(p.getPartition(Array[Byte](0x0f)) === 0)
    assert(p.getPartition(Array[Byte](0x10)) === 1) // split key starts its region
    assert(p.getPartition(Array[Byte](0x7f)) === 1)
    assert(p.getPartition(Array[Byte](0x80.toByte)) === 2) // unsigned: 0x80 > 0x7f
    assert(p.getPartition(Array[Byte](0xff.toByte)) === 3)
    assert(p.getPartition(Array[Byte](0x10, 0x00)) === 1) // longer key after prefix
  }

  test("BulkLoad.sorted over salt splits (custom LogicalPlan/SparkPlan): exact alignment inside the DataFrame world") {
    import graft.queries.ReferenceParity.CsvSample
    val kept9 = (CsvSample.Rows - CsvSample.Quoted).toLong // naive split drops the quoted rows
    val (kept, _) = Delimited.naiveSplit(spark, CsvSample.stage(spark), ",", 9)
    val rowKey = keys.saltedKey(crc32(col("c0")), 10,
      keys.md5CompositeKey(Seq(col("c0"), col("c1"), col("c2"), col("c3"))))
    val cells = CellOps.explodeIndexed(kept, rowKey, "c", (0 until 3).map(i => col(s"c$i")))
    val sorted = BulkLoad.sorted(cells, BulkLoad.Config(splits = Some(RegionSort.saltSplits(10).toSeq)))
    // still a DataFrame: downstream relational ops compose
    assert(sorted.schema === cells.schema)
    assert(sorted.groupBy().count().head().getLong(0) === kept9 * 3)
    // physical plan contains the custom exchange node
    assert(sorted.queryExecution.executedPlan
      .exists(_.isInstanceOf[graft.plans.RegionAlignedRowExchangeExec]),
      sorted.queryExecution.executedPlan.toString)
    val perPart = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var prev: Array[Byte] = null
      var ok = true
      var n = 0L
      for (r <- it) {
        val k = r.getAs[Array[Byte]]("row")
        ok &&= k(0) == ('0' + i).toByte // exact salt-region alignment
        if (prev != null) ok &&= RegionSort.unsignedBytes.compare(prev, k) <= 0
        prev = k
        n += 1
      }
      Iterator.single((ok, n))
    }.collect()
    assert(perPart.length === 10)
    assert(perPart.forall(_._1))
    assert(perPart.map(_._2).sum === kept9 * 3)
  }

  test("two-phase ingest sort: cell-identical to the cell-level sort; exact alignment; the exchange moves ROWS not cells") {
    import spark.implicits._
    val wide = (0 until 200).map { i =>
      val r = (0 until 9).map(c => s"tp${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val cfg = BulkLoad.Config(splits = Some(RegionSort.uniformMd5Splits(8).toSeq))
    // (a) content equivalence: the row-exchange + in-partition explode +
    // local sort yields the EXACT cell multiset of the cell-level path
    val twoPhase = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells
    val rowKey = keys.md5CompositeKey(Seq(col("c0"), col("c1"), col("c2"), col("c3")))
    val cellLevel = BulkLoad.sorted(
      CellOps.explodeIndexed(wide, rowKey, cfg.family, (0 until 9).map(i => col(s"c$i"))), cfg)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(hex(col("row")), hex(col("family")), hex(col("qualifier")),
        hex(col("value")), col("ts"))
      .as[(String, String, String, String, Long)].collect().sorted.toSeq
    assert(snap(twoPhase) === snap(cellLevel))
    // (b) the X1/X2 contract survives the redesign: partition i holds
    // exactly region i, in KeyValue order
    val part = new RegionSort.RegionPartitioner(cfg.splits.get.toArray)
    val perPart = twoPhase.rdd.mapPartitionsWithIndex { (i, it) =>
      var prev: Array[Byte] = null
      var ok = true
      for (r <- it) {
        val k = r.getAs[Array[Byte]]("row")
        ok &&= part.getPartition(k) == i
        if (prev != null) ok &&= RegionSort.unsignedBytes.compare(prev, k) <= 0
        prev = k
      }
      Iterator.single(ok)
    }.collect()
    assert(perPart.length === 8)
    assert(perPart.forall(identity), "file i must hold region i, KV-sorted")
    // (c) the skinny-shuffle claim as an executed-plan METRIC (default
    // config: the fixed-boundary region exchange, which reports Spark's
    // shuffle-write metrics): the total-order exchange moves the 200
    // source rows, not the 1800 cells
    val r2 = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config())
    r2.cells.collect()
    val ex = planNodes(r2.cells.queryExecution.executedPlan)
      .collect { case s: graft.plans.RegionAlignedRowExchangeExec => s }
    assert(ex.nonEmpty, "the default path plans a region exchange")
    val moved = ex.map(e => e.metrics.get("shuffleRecordsWritten")
      .orElse(e.metrics.get("numOutputRows")).map(_.value).getOrElse(0L)).sum
    assert(moved === 200L,
      s"the total-order exchange must move 200 source rows, not cells; moved $moved")
    assert(r2.cells.count() === 1800)
  }

  test("explicit --splits boundaries: unsalted MD5 load is exactly region-aligned (file i in region i)") {
    // the TotalOrderPartitioner split-file analog: 15 first-byte boundaries
    // -> 16 regions over the uniform MD5 keyspace
    val splitsFile = java.nio.file.Files.createTempFile("graft-splits", ".txt")
    val lines = "# first key of region i+1, hex per line\n\n" +
      (1 to 15).map(i => f"${i * 0x10}%02X").mkString("\n") + "\n"
    java.nio.file.Files.write(splitsFile, lines.getBytes("UTF-8"))
    val splits = IngestCli.loadSplits(splitsFile.toString)
    assert(splits.length === 15)
    assert(splits.head.toSeq === Seq(0x10.toByte)) // uppercase hex accepted
    // comments/blanks dropped, bad hex rejected
    intercept[IllegalArgumentException] {
      val bad = java.nio.file.Files.createTempFile("graft-splits", ".txt")
      java.nio.file.Files.write(bad, "xyz\n".getBytes("UTF-8"))
      IngestCli.loadSplits(bad.toString)
    }

    import graft.queries.ReferenceParity.CsvSample
    val r = BulkLoad.csv(spark, CsvSample.stage(spark),
      BulkLoad.Config(compatNaiveSplit = true, splits = Some(splits)))
    assert(r.cells.queryExecution.executedPlan
      .exists(_.isInstanceOf[graft.plans.RegionAlignedRowExchangeExec]),
      "explicit splits must plan through the exact-boundary ROW exchange " +
        "(the two-phase ingest sort)")
    val perPart = r.cells.rdd.mapPartitionsWithIndex { (i, it) =>
      var prev: Array[Byte] = null
      var ok = true
      var n = 0L
      for (row <- it) {
        val k = row.getAs[Array[Byte]]("row")
        // region i holds exactly first-byte range [i*0x10, (i+1)*0x10)
        ok &&= (k(0) & 0xff) / 0x10 == i
        if (prev != null) ok &&= RegionSort.unsignedBytes.compare(prev, k) <= 0
        prev = k
        n += 1
      }
      Iterator.single((ok, n))
    }.collect()
    assert(perPart.length === 16)
    assert(perPart.forall(_._1), "file i must hold region i's range, KV-sorted")
    // the naive split drops the sample's quoted rows
    assert(perPart.map(_._2).sum === (CsvSample.Rows - CsvSample.Quoted) * 9L)

    // salting and explicit splits are mutually exclusive boundary sources
    intercept[IllegalArgumentException] {
      BulkLoad.Config(saltBuckets = Some(10), splits = Some(splits))
    }
  }
}
