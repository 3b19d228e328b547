package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.hive.ql.io.RCFile
import org.apache.hadoop.hive.serde2.columnar.{BytesRefArrayWritable, BytesRefWritable}
import org.apache.spark.sql.functions._

/** End-to-end drives of all four bulk-load drivers (the reference's
  * BulkImporterFrom{Text,CSVText,Avro,RC} surface) through the BulkLoad
  * facade, on generated fixtures matching FIXTURES.md §1-§4. */
class SourceDriversSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-src").toString

  /** Write `rows` as an RCFile fixture, returning its path. */
  private def writeRcFixture(rows: Seq[Product], dir: String): Path = {
    val conf = new Configuration()
    conf.setInt(RCFile.COLUMN_NUMBER_CONF_STR, 9)
    val file = new Path(dir, "data.rc")
    val w = new RCFile.Writer(FileSystem.getLocal(conf), conf, file)
    rows.foreach { r =>
      val braw = new BytesRefArrayWritable(9)
      r.productIterator.map(_.toString).zipWithIndex.foreach { case (v, i) =>
        braw.set(i, new BytesRefWritable(v.getBytes("UTF-8")))
      }
      w.append(braw)
    }
    w.close()
    file
  }

  private lazy val rows9 = Seq(
    ("35218", "195", "Alabama Power Co", "AL", "Bundled", "Investor Owned", "0.105", "0.060", "0.114"),
    ("00601", "196", "Utility, With Comma", "PR", "Bundled", "Investor Owned", "0.2", "0.1", "0.3"),
    ("99999", "197", "Last Utility", "AK", "Energy", "Investor Owned", "0.3", "0.2", "0.1"))

  test("csv driver: strict mode keeps quoted commas; compat mode skips them; un-keyable rows quarantine") {
    val dir = tmpDir()
    Seq(
      "35218,195,Alabama Power Co,AL,Bundled,Investor Owned,0.105,0.060,0.114",
      "00601,196,\"Utility, With Comma\",PR,Bundled,Investor Owned,0.2,0.1,0.3",
      "a,b" // short row: null-padded by PERMISSIVE parse, key fields c2/c3 null
    ).toDF("value").coalesce(1).write.mode("overwrite").text(dir)

    val strict = BulkLoad.csv(spark, dir)
    assert(strict.cells.count() === 18) // 2 keyable rows × 9 cells
    // NO cell may lack a row key: the short row is quarantined as JSON,
    // not silently emitted with a NULL key
    assert(strict.cells.where(col("row").isNull).count() === 0)
    assert(strict.quarantined.count() === 1)
    assert(strict.quarantined.head().getString(0).contains("\"c0\":\"a\""))

    val compat = BulkLoad.csv(spark, dir, BulkLoad.Config(compatNaiveSplit = true))
    assert(compat.cells.count() === 9)  // quoted + short rows quarantined (reference semantics)
    assert(compat.quarantined.count() === 2)
  }

  test("source_csv_compat_skips: naive-split census equals the generated CSV's planted counts") {
    import graft.queries.ReferenceParity.CsvSample
    val r = graft.queries.ReferenceParity.defs("source_csv_compat_skips")(spark, sf001)
      .collect()
    assert(r.length === 1)
    val census = (r.head.getAs[Long]("rows_kept"), r.head.getAs[Long]("rows_skipped"))
    // without planted quoted rows the oracle would match 0 ≡ 0 and check nothing
    assert(census === ((1960L, 40L)))
    assert(census === ((CsvSample.Rows - CsvSample.Quoted).toLong, CsvSample.Quoted.toLong))
    val lines = scala.io.Source.fromFile(CsvSample.path, "UTF-8")
    try assert(lines.getLines().count(_.contains('"')) === CsvSample.Quoted)
    finally lines.close()
    // the planted rows are well-formed RFC-4180: strict parsing keeps every row
    val strict = BulkLoad.csv(spark, CsvSample.path)
    assert(strict.quarantined.count() === 0)
    assert(strict.cells.count() === CsvSample.Rows * 9L)
  }

  test("hiveText driver: \\u0001-delimited parse + 64-byte keys") {
    val dir = tmpDir()
    rows9.map(r => r.productIterator.mkString("\u0001"))
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val r = BulkLoad.hiveText(spark, dir)
    assert(r.cells.count() === 27)
    assert(r.cells.where(length(col("row")) =!= 64).count() === 0)
  }

  test("avro driver: nullable strings, reversed-id key, name qualifiers, null id quarantined") {
    val dir = tmpDir() + "/pw"
    val df = Seq(
      (Some("123"), Some("a"), Some("b")),
      (Some("456"), None, Some("c")),
      (None, Some("x"), Some("y")) // reference NPEs here; we quarantine
    ).toDF("id", "col1", "cl2")
    graft.sources.AvroSource.write(df, dir)

    val r = BulkLoad.avro(spark, dir)
    assert(r.quarantined.count() === 1)
    // 3 cells for id=123, 2 for id=456 (null col1 emits no cell)
    assert(r.cells.count() === 5)
    val k = r.cells.select(col("row").cast("string")).distinct()
      .as[String].collect().toSet
    assert(k === Set("321", "654")) // reversed natural keys
    val quals = r.cells.select(col("qualifier").cast("string")).distinct()
      .as[String].collect().toSet
    assert(quals === Set("id", "col1", "cl2"))
  }

  test("rcFile driver: columnar read, arity guard, same cells as csv path") {
    val dir = tmpDir()
    writeRcFixture(rows9 :+ (("short", "row", "", "", "", "", "", "", "")), dir)
    // a second RCFile of 3-column records in the same input: the arity
    // guard rejects them into the quarantine, rendered as JSON arrays
    graft.sources.RCFileSource.write(
      Seq(("x1", "x2", "x3"), ("y1", "y2", "y3")).toDF("c0", "c1", "c2").coalesce(1), dir)
    val r = BulkLoad.rcFile(spark, dir)
    assert(r.quarantined.as[String].collect().toSet ===
      Set("""["x1","x2","x3"]""", """["y1","y2","y3"]"""))
    // 3 full rows ×9 cells + the 9-col "short" row (empty strings → null-ish?)
    assert(r.cells.where(length(col("row")) =!= 64).count() === 0)
    val csvEquivalent = BulkLoad.fromPositional(
      rows9.toDF((0 until 9).map(i => s"c$i"): _*),
      BulkLoad.emptyQuarantine(spark), BulkLoad.Config())
    val a = r.cells.where(col("value").cast("string").isin(rows9.map(_._1): _*))
    assert(a.count() === 3) // zip values present once each
    assert(csvEquivalent.cells.count() === 27)
  }

  test("IngestCli.loadConf: UTF-8 properties dialect (comments, colons, non-ASCII values)") {
    val f = java.nio.file.Files.createTempFile("graft", ".conf")
    java.nio.file.Files.write(f,
      "# comment\nspark.a=1\nspark.b: zwei\nspark.c=/données/tmp\n"
        .getBytes("UTF-8"))
    val got = IngestCli.loadConf(f.toString)
    assert(got === Seq("spark.a" -> "1", "spark.b" -> "zwei", "spark.c" -> "/données/tmp"))
  }

  test("IngestCli.loadConf: hadoop-style hbase-site.xml (the reference's first CLI arg)") {
    val f = java.nio.file.Files.createTempFile("graft-site", ".xml")
    java.nio.file.Files.write(f,
      """<?xml version="1.0"?>
        |<configuration>
        |  <property><name>hbase.zookeeper.quorum</name><value>zk1,zk2</value></property>
        |  <property><name>spark.x</name><value> trimmed </value><final>true</final></property>
        |  <property><name>no.value.skipped</name></property>
        |</configuration>""".stripMargin.getBytes("UTF-8"))
    val got = IngestCli.loadConf(f.toString)
    assert(got === Seq("hbase.zookeeper.quorum" -> "zk1,zk2", "spark.x" -> "trimmed"))
  }

  test("RCFileSource.write: distributed writer roundtrips through read, one file per partition") {
    val dir = tmpDir() + "/rcw"
    val df = rows9.toDF((0 until 9).map(i => s"c$i"): _*).repartition(2)
    graft.sources.RCFileSource.write(df, dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) === 2)
    val back = graft.sources.RCFileSource.read(spark, dir, 9)._1
    assert(back.orderBy("c0").collect().map(_.toSeq).toSeq ===
      rows9.sortBy(_._1).map(_.productIterator.toSeq).toSeq)
    // null cells write as empty bytes and read back as "" (the serde's
    // empty-string representation, same as the Writer-fixture path)
    val withNull = Seq(("1", null: String, "x")).toDF("c0", "c1", "c2")
    val nd = tmpDir() + "/rcn"
    graft.sources.RCFileSource.write(withNull, nd)
    assert(graft.sources.RCFileSource.read(spark, nd, 3)._1.collect().map(_.toSeq).toSeq ===
      Seq(Seq("1", "", "x")))
  }

  test("rcfile-compat keys (1,3,4,20): field 20 out of range quarantines every row instead of crashing") {
    // the reference reads value.get(20) on a 9-column row and dies
    // (BulkImporterFromRC.java:54-56); the compat flag reproduces the key
    // spec but rejects affected rows recoverably
    val file = writeRcFixture(rows9, tmpDir())
    val r = BulkLoad.rcFile(spark, file.toString,
      BulkLoad.Config(keyFields = BulkLoad.ReferenceRcKeyFields))
    assert(r.cells.count() === 0)
    assert(r.quarantined.count() === 3)
    assert(r.quarantined.head().getString(0).contains("\"c1\":"))

    // with a wide-enough schema the same key spec produces 4-field MD5 keys
    val wide = (0 until 5).map { i =>
      val r21 = (0 until 21).map(c => s"r${i}c$c")
      org.apache.spark.sql.Row(r21: _*)
    }
    val schema = org.apache.spark.sql.types.StructType(
      (0 until 21).map(c => org.apache.spark.sql.types.StructField(s"c$c",
        org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(wide), schema)
    val ok = BulkLoad.fromPositional(df, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(arity = 21, keyFields = BulkLoad.ReferenceRcKeyFields))
    assert(ok.quarantined.count() === 0)
    assert(ok.cells.count() === 5 * 21)
    assert(ok.cells.where(length(col("row")) =!= 64).count() === 0)
  }

  test("ORC roundtrip: the supported modern columnar input (RCFile's successor)") {
    val dir = tmpDir() + "/orc"
    val df = rows9.toDF((0 until 9).map(i => s"c$i"): _*)
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === df.schema)
    assert(back.count() === 3)
    val r = BulkLoad.orc(spark, dir)
    assert(r.cells.count() === 27)

    // a WIDER file projects its first `arity` columns in file order (the
    // vectorized scan prunes the rest on disk); a narrower one fails fast
    val wideDir = tmpDir() + "/orc_wide"
    rows9.map { r =>
      val s = r.productIterator.map(_.toString).toSeq
      (s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7), s(8), "extra1", "extra2")
    }.toDF((0 until 11).map(i => s"k$i"): _*).write.mode("overwrite").orc(wideDir)
    assert(BulkLoad.orc(spark, wideDir).cells.count() === 27)
    val narrowDir = tmpDir() + "/orc_narrow"
    rows9.map(r => (r._1, r._2)).toDF("a", "b").write.mode("overwrite").orc(narrowDir)
    intercept[IllegalArgumentException](BulkLoad.orc(spark, narrowDir))

    // column PRUNING reaches the ORC scan: the wide file's extra columns
    // never leave disk (ReadSchema excludes them) — the property the
    // reference's columnar-input choice was after
    val plan = graft.sources.OrcSource.read(spark, wideDir, 9).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("k0") && !readSchema.contains("k9") &&
      !readSchema.contains("k10"), plan)
  }

  test("cross-driver consistency: csv, hivetext and rcfile yield byte-identical cells") {
    def cellSet(cells: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      cells.select(hex(col("row")), hex(col("qualifier")), hex(col("value")))
        .as[(String, String, String)].collect().toSet

    // csv (strict; RFC-quote fields containing commas)
    val csvDir = tmpDir()
    rows9.map(_.productIterator
        .map(f => if (f.toString.contains(",")) "\"" + f + "\"" else f.toString)
        .mkString(","))
      .toDF("value").coalesce(1).write.mode("overwrite").text(csvDir)
    val viaCsv = cellSet(BulkLoad.csv(spark, csvDir).cells)

    // hive text
    val hiveDir = tmpDir()
    rows9.map(r => r.productIterator.mkString("\u0001"))
      .toDF("value").coalesce(1).write.mode("overwrite").text(hiveDir)
    val viaHive = cellSet(BulkLoad.hiveText(spark, hiveDir).cells)

    // rcfile
    val rcFilePath = writeRcFixture(rows9, tmpDir())
    val viaRc = cellSet(BulkLoad.rcFile(spark, rcFilePath.toString).cells)

    // orc (modern columnar path through the same cell pipeline)
    val orcDir = tmpDir() + "/orc"
    rows9.toDF((0 until 9).map(i => s"c$i"): _*).write.mode("overwrite").orc(orcDir)
    val viaOrc = cellSet(BulkLoad.orc(spark, orcDir).cells)

    assert(viaCsv === viaHive)
    assert(viaCsv === viaRc)
    assert(viaCsv === viaOrc)
    assert(viaCsv.size === 27)
  }

  test("CellSink contract: postCommit sequences chmod -> bulkLoad -> cleanup after write") {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = new CellSink {
      override def write(cells: org.apache.spark.sql.DataFrame, path: String): Unit =
        log += s"write:$path"
      override protected def chmodStep(path: String): Unit = log += s"chmod:$path"
      override protected def bulkLoadStep(path: String): Unit = log += s"bulkLoad:$path"
      override protected def cleanupStep(path: String): Unit = log += s"cleanup:$path"
    }
    val dir = tmpDir()
    rows9.map(r => r.productIterator.mkString("\u0001"))
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val r = BulkLoad.hiveText(spark, dir)
    val out = tmpDir() + "/sinkout"
    sink.write(r.cells, out)
    sink.postCommit(out)
    // the reference's fixed tail (BulkImporterFromText.java:118-133): files
    // land, THEN the permission walk, THEN adoption, THEN staging cleanup
    assert(log.toSeq ===
      Seq(s"write:$out", s"chmod:$out", s"bulkLoad:$out", s"cleanup:$out"))
  }

  test("golden layout: each written part-file holds exactly one region's key range, sorted") {
    import graft.operators.RegionSort
    // 200 rows spread over all 10 salt buckets (exact region boundaries)
    val wide = (0 until 200).map { i =>
      (0 until 9).map(c => s"v${i}_$c")
    }.map(r => (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8)))
      .toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)
    r.sink.postCommit(out)

    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.nonEmpty)
    val digits = parts.map { f =>
      val rows = spark.read.parquet(f.getPath)
        .select(col("row")).as[Array[Byte]].collect()
      assert(rows.nonEmpty, s"empty part file ${f.getName}")
      // file ⊆ one region: every key carries the same salt digit, and the
      // salt digit IS the region boundary (saltSplits)
      val digit = rows.head.head
      assert(rows.forall(_.head == digit), f.getName)
      // KeyValue order within the file (unsigned byte-lexicographic)
      rows.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(RegionSort.unsignedBytes.compare(w(0), w(1)) <= 0, f.getName)
      }
      digit
    }
    // file order = region order: salt digits strictly increase across files
    assert(digits.toSeq === digits.sorted.toSeq)
    assert(digits.distinct.length === digits.length)
    assert(digits.length === 10) // 200 md5-salted rows hit all 10 buckets
  }

  test("CellScan: range scan prunes non-intersecting region files via footer stats") {
    import graft.operators.RegionSort
    import graft.sources.CellScan
    val wide = (0 until 200).map { i =>
      (0 until 9).map(c => s"v${i}_$c")
    }.map(r => (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8)))
      .toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)

    // salt digit '3' (0x33) occupies exactly one region file — the scan
    // must open only that file, like a region server routing [0x33, 0x34)
    val scan = CellScan.scanRange(spark, out,
      Some(Array('3'.toByte)), Some(Array('4'.toByte)))
    assert(scan.inputFiles.length === 1,
      s"expected 1 pruned file, scanned ${scan.inputFiles.length}")
    // correctness: pruned scan ≡ full scan + filter, byte for byte
    val full = spark.read.parquet(out)
      .where(col("row") >= lit(Array('3'.toByte)) &&
        col("row") < lit(Array('4'.toByte)))
    assert(scan.count() === full.count())
    assert(scan.count() > 0)
    assert(scan.exceptAll(full).isEmpty && full.exceptAll(scan).isEmpty)

    // an empty range prunes everything and still returns the cell schema
    val none = CellScan.scanRange(spark, out,
      Some(Array(0xfe.toByte)), Some(Array(0xff.toByte)))
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("row", "family", "qualifier", "value", "ts"))

    // prefix scan: all of salt digit '7' via [0x37, 0x38)
    val pfx = CellScan.scanPrefix(spark, out, Array('7'.toByte))
    assert(pfx.inputFiles.length === 1)
    val pfxFull = spark.read.parquet(out)
      .where(col("row") >= lit(Array('7'.toByte)) &&
        col("row") < lit(Array('8'.toByte)))
    assert(pfx.count() === pfxFull.count() && pfx.count() > 0)

    // nextPrefix edges: increments last non-0xff byte; all-0xff → unbounded
    assert(CellScan.nextPrefix(Array(0x01.toByte, 0xff.toByte)).get.toSeq
      === Seq(0x02.toByte))
    assert(CellScan.nextPrefix(Array(0xff.toByte, 0xff.toByte)) === None)
    // unsigned residual-filter parity: scanning [0x80, unbounded) must use
    // unsigned comparison (0x80 > 0x33 unsigned, negative signed)
    val hiHalf = CellScan.scanRange(spark, out, Some(Array(0x80.toByte)), None)
    val hiFull = spark.read.parquet(out).as[(Array[Byte], Array[Byte], Array[Byte], Array[Byte], Long)]
      .collect().count(t => RegionSort.unsignedBytes.compare(t._1, Array(0x80.toByte)) >= 0)
    assert(hiHalf.count() === hiFull)
  }

  test("CellManifest: sink writes the boundary manifest; scans use it with ZERO footer opens") {
    import graft.sources.{CellManifest, CellScan}
    val wide = (0 until 120).map { i =>
      val r = (0 until 9).map(c => s"v${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)

    // 1) the sink persisted the manifest, one line per part file, bounds
    //    agreeing with a direct footer read
    val fs = FileSystem.get(new Configuration())
    assert(fs.exists(new Path(out, CellManifest.FileName)))
    val m = CellManifest.read(spark, out).get
    val parts = fs.listStatus(new Path(out)).filter(s =>
      s.getPath.getName.startsWith("part-") && s.getPath.getName.endsWith(".parquet"))
    assert(m.keySet === parts.map(_.getPath.getName).toSet)
    parts.foreach { p =>
      val direct = CellManifest.footerStats(p.getPath.toString, new Configuration())._2
      val recorded = m(p.getPath.getName)
      // the recorded length matches the live file (in-place-rewrite guard)
      assert(recorded.length === p.getLen, p.getPath.getName)
      assert(recorded.bounds.isDefined === direct.isDefined)
      for ((rb, db) <- recorded.bounds.zip(direct)) {
        assert(rb._1.toSeq === db._1.toSeq, p.getPath.getName)
        assert(rb._2.toSeq === db._2.toSeq, p.getPath.getName)
      }
    }

    // 2) manifest present ⇒ the scan performs ZERO driver-side footer
    //    opens (the 100k-region latency contract) and still prunes right
    val before = CellScan.footerOpens.get()
    val scan = CellScan.scanRange(spark, out,
      Some(Array('3'.toByte)), Some(Array('4'.toByte)))
    val pruned = scan.inputFiles.length
    val nScan = scan.count()
    assert(CellScan.footerOpens.get() === before, "manifest scan opened footers")
    assert(pruned === 1 && nScan > 0)

    // 3) manifest deleted ⇒ footer fallback: same result, footers opened
    fs.delete(new Path(out, CellManifest.FileName), false)
    val b2 = CellScan.footerOpens.get()
    val scan2 = CellScan.scanRange(spark, out,
      Some(Array('3'.toByte)), Some(Array('4'.toByte)))
    assert(scan2.count() === nScan && scan2.inputFiles.length === pruned)
    assert(CellScan.footerOpens.get() > b2, "fallback did not read footers")

    // 3.5) recorded per-file row counts sum to the table's count — the
    //      streaming sink's zero-footer-open readback
    assert(CellManifest.totalRows(spark, out).isEmpty, "manifest was deleted")
    CellManifest.write(spark, out) // restore after the deletion in (3)
    assert(CellManifest.totalRows(spark, out) ===
      Some(spark.read.parquet(out).count()))

    // 4) hex round-trip incl. the empty-array sentinel
    val bytes = Array(0x00.toByte, 0x7f.toByte, 0x80.toByte, 0xff.toByte)
    assert(CellManifest.fromHex(CellManifest.toHex(bytes)).toSeq === bytes.toSeq)
    assert(CellManifest.fromHex(CellManifest.toHex(Array.empty[Byte])).isEmpty)
    assert(CellManifest.toHex(bytes) === "007F80FF")
    // damaged hex is an error, never a silently decoded bound
    Seq("zz!", "ABC", "7g").foreach(h =>
      intercept[IllegalArgumentException](CellManifest.fromHex(h)))

    // 5) 3-field lines (legacy format OR a 5-field line torn after the
    //    rows field — decimal lengths parse as valid hex, so the two are
    //    indistinguishable) parse CONSERVATIVELY: no bounds trusted, the
    //    file is kept and re-statted instead of risking a garbage prune
    val legacy = "part-x.parquet\t0A\t0B\npart-y.parquet\t-\t-\n" +
      "part-z.parquet\t12345\t678\n" // torn 5-field line (len\trows)
    val lp = new Path(out, CellManifest.FileName)
    val os = fs.create(lp, true)
    os.write(legacy.getBytes("UTF-8")); os.close()
    val lm = CellManifest.read(spark, out).get
    assert(lm("part-x.parquet") === CellManifest.Entry(-1L, -1L, None))
    assert(lm("part-y.parquet") === CellManifest.Entry(-1L, -1L, None))
    assert(lm("part-z.parquet") === CellManifest.Entry(-1L, -1L, None))
    // legacy entries lack row counts → no manifest-served total
    assert(CellManifest.totalRows(spark, out).isEmpty)
  }

  test("CellManifest.update: stats ONLY new files; in-place rewrite re-statted, never mispruned") {
    import graft.sources.{CellManifest, CellScan}
    val wide = (0 until 120).map { i =>
      val r = (0 until 9).map(c => s"u${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)
    val fs = FileSystem.get(new Configuration())
    val parts = fs.listStatus(new Path(out)).filter(s =>
      s.getPath.getName.startsWith("part-") && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)

    // add ONE new file (copy of an existing region file under a new name):
    // update must stat exactly that file and keep every other entry
    val added = new Path(out, "part-99999-added.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, parts.head, fs, added, false,
      new Configuration())
    val before = CellManifest.statReads.get()
    val statted = CellManifest.update(spark, out)
    assert(statted === 1, "update must stat only the ONE new file")
    assert(CellManifest.statReads.get() === before + 1)
    val m = CellManifest.read(spark, out).get
    assert(m.contains("part-99999-added.parquet"))
    assert(m.size === parts.length + 1)

    // in-place REWRITE under the same name with different content: replace
    // the '3'-region file with a copy of the '7'-region file. The stale
    // manifest says this file holds only '3…' keys — a bounds-trusting
    // scan for ['7','8') would PRUNE it and silently lose rows. The
    // length check must detect the rewrite and fall back to live footer
    // stats for that file.
    val threeFile = parts.find { p =>
      spark.read.parquet(p.toString).select("row").head()
        .getAs[Array[Byte]]("row").head == '3'.toByte
    }.get
    val sevenFile = parts.find { p =>
      spark.read.parquet(p.toString).select("row").head()
        .getAs[Array[Byte]]("row").head == '7'.toByte
    }.get
    // the rewrite content is the 7-region rows DOUBLED — guaranteed to
    // differ in byte length from the original 3-region file, so the
    // length check must fire (a same-length rewrite is the documented
    // residual trust assumption)
    val rwTmp = tmpDir() + "/rewrite"
    spark.read.parquet(sevenFile.toString)
      .unionAll(spark.read.parquet(sevenFile.toString))
      .coalesce(1).write.mode("overwrite").parquet(rwTmp)
    val rwPart = fs.listStatus(new Path(rwTmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.delete(threeFile, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, rwPart, fs, threeFile, false,
      new Configuration())
    val expect7 = spark.read.parquet(out)
      .where(col("row") >= lit(Array('7'.toByte)) &&
        col("row") < lit(Array('8'.toByte))).count()
    val got7 = CellScan.scanRange(spark, out,
      Some(Array('7'.toByte)), Some(Array('8'.toByte)))
    assert(got7.count() === expect7,
      "stale manifest bounds mispruned an in-place-rewritten file")
    // the rewritten duplicate now matches: both its copies are read
    assert(got7.inputFiles.length === 2)
    // and a refresh re-stats ONLY the rewritten file (length changed)
    val b2 = CellManifest.statReads.get()
    assert(CellManifest.update(spark, out) === 1)
    assert(CellManifest.statReads.get() === b2 + 1)
  }

  test("CellCompaction: N batch filesets merge to ONE region-count fileset, content identity, zero-footer scans") {
    import graft.sources.{CellCompaction, CellManifest, CellScan}
    val root = tmpDir() + "/stream"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    // three "micro-batches" of 40 rows each, one fileset per batch —
    // the layout StreamingIngest leaves behind
    (0 until 3).foreach { b =>
      val wide = (0 until 40).map { i =>
        val r = (0 until 9).map(c => s"b${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      val cells = BulkLoad.fromPositional(wide,
        BulkLoad.emptyQuarantine(spark), cfg).cells
      SortedParquetCellSink.write(cells, f"$root/batch_$b%05d")
    }
    // content identity: exactly the union of the batches
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(lower(hex(col("row"))), lower(hex(col("qualifier"))),
        lower(hex(col("value")))).collect().map(_.toString).sorted.toSeq
    val union = spark.read.parquet(CellCompaction.batchDirs(spark, root): _*)
    val nBefore = union.count()
    val filesBefore = union.inputFiles.length
    val keyedBefore = keyed(union)

    // a minor compaction into a fresh dest is the full merge
    val dest = tmpDir() + "/compacted"
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 3)
    val fs = FileSystem.get(new Configuration())
    val destParts = fs.listStatus(new Path(dest)).filter(s =>
      s.getPath.getName.startsWith("part-") && s.getPath.getName.endsWith(".parquet"))
    // post-compaction file count = region count (10), down from 3x that
    assert(destParts.length === 10, s"got ${destParts.length} files")
    assert(filesBefore > destParts.length)
    assert(keyed(spark.read.parquet(dest)) === keyedBefore)
    assert(spark.read.parquet(dest).count() === nBefore)
    // the compacted dir serves manifest-pruned scans: zero footer opens,
    // bounded range touches a strict subset of region files
    assert(fs.exists(new Path(dest, CellManifest.FileName)))
    val before = CellScan.footerOpens.get()
    val scan = CellScan.scanRange(spark, dest,
      Some(Array(0x40.toByte)), Some(Array(0x80.toByte)))
    assert(scan.count() > 0)
    assert(CellScan.footerOpens.get() === before)
    assert(CellScan.lastKeptFiles.get() < 10)
    // inputs are retired once the compacted set is live
    assert(CellCompaction.batchDirs(spark, root).isEmpty)
  }

  test("tiered compaction: minor rounds stat only moved-in files; major restores one file per region") {
    import graft.sources.{CellCompaction, CellManifest, CellScan}
    val root = tmpDir() + "/tiered"
    val dest = s"$root/serving"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    def writeBatch(b: Int): Unit = {
      val wide = (0 until 40).map { i =>
        val r = (0 until 9).map(c => s"t${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
        f"$root/batch_$b%05d")
    }
    val fs = FileSystem.get(new Configuration())
    def destParts() = fs.listStatus(new Path(dest)).filter(s =>
      s.getPath.getName.startsWith("part-") && s.getPath.getName.endsWith(".parquet"))

    // round 1: two batches absorbed as ONE fileset; the manifest takes
    // the region writer's entries for its 10 files, no footer opened
    writeBatch(0); writeBatch(1)
    val expected01 = spark.read.parquet(s"$root/batch_00000", s"$root/batch_00001")
      .count()
    val s0 = CellManifest.statReads.get()
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 2)
    assert(destParts().length === 10)
    assert(CellManifest.statReads.get() === s0 + 0,
      "minor round 1 must index its 10 new files from the writer, not their footers")
    assert(CellCompaction.batchDirs(spark, root).isEmpty, "inputs retired")
    assert(spark.read.parquet(dest).count() === expected01)

    // round 2: one more batch → dest accumulates a SECOND fileset; the
    // incremental manifest refresh keeps the 10 existing entries and
    // takes the writer's entries for the 10 new files
    writeBatch(2)
    val s1 = CellManifest.statReads.get()
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 1)
    assert(destParts().length === 20)
    assert(CellManifest.statReads.get() === s1 + 0,
      "minor round 2 must not re-stat round 1's files nor stat its own")
    val totalRows = spark.read.parquet(dest).count()

    // scans across rounds stay manifest-pruned: zero footer opens, a
    // bounded range touches only intersecting files from each round
    val before = CellScan.footerOpens.get()
    val scan = CellScan.scanRange(spark, dest,
      Some(Array(0x40.toByte)), Some(Array(0x80.toByte)))
    val expect = spark.read.parquet(dest)
      .where(col("row") >= lit(Array(0x40.toByte)) &&
        col("row") < lit(Array(0x80.toByte))).count()
    assert(scan.count() === expect && expect > 0)
    assert(CellScan.footerOpens.get() === before)
    assert(CellScan.lastKeptFiles.get() < 20)

    // MAJOR: in-place rewrite back to one file per region, content kept
    CellCompaction.compactMajor(spark, dest, cfg)
    assert(destParts().length === 10)
    assert(spark.read.parquet(dest).count() === totalRows)
    val after = CellScan.scanRange(spark, dest,
      Some(Array(0x40.toByte)), Some(Array(0x80.toByte)))
    assert(after.count() === expect)
  }

  test("compactMinor replay idempotence: a re-created batch fileset is retired, never re-absorbed") {
    import graft.sources.CellCompaction
    val root = tmpDir() + "/replay"
    val dest = s"$root/serving"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    def writeBatch(b: Int): Unit = {
      val wide = (0 until 40).map { i =>
        val r = (0 until 9).map(c => s"r${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
        f"$root/batch_$b%05d")
    }
    writeBatch(0); writeBatch(1)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 2)
    val rowsAfter = spark.read.parquet(dest).count()
    // a crash after the sweep but before the streaming checkpoint commit
    // replays the micro-batch: foreachBatch deterministically recreates
    // the SAME fileset under the same batch dir name
    writeBatch(1)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 0,
      "a replayed batch id must not be re-absorbed")
    assert(CellCompaction.batchDirs(spark, root).isEmpty,
      "the replayed fileset is still retired")
    assert(spark.read.parquet(dest).count() === rowsAfter,
      "no duplicate cells may enter the serving layout")
    // a genuinely new batch id still absorbs normally
    writeBatch(2)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 1)
    assert(spark.read.parquet(dest).count() > rowsAfter)
  }

  test("CellManifest.read: corrupted numeric/hex fields degrade to conservative entries, scans still serve") {
    import graft.sources.{CellManifest, CellScan}
    val dir = tmpDir() + "/corrupt"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(8).toSeq))
    val wide = (0 until 60).map { i =>
      val r = (0 until 9).map(c => s"m_v${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    SortedParquetCellSink.write(
      BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells, dir)
    val all = spark.read.parquet(dir)
    val total = all.count()
    val expect = all.where(col("row") >= lit(Array(0x40.toByte)) &&
      col("row") < lit(Array(0x80.toByte))).count()
    // damage the first line's rows field (truncated number), the
    // second line's hex bounds, and the lo bound of a file INSIDE the
    // scanned range — a torn write, not a wrong-arity line. Decoded
    // leniently, "zz!" would read as lo = 0xFF, above the range, and the
    // scan would drop that file's rows.
    val mf = new java.io.File(dir, CellManifest.FileName)
    val lines = scala.io.Source.fromFile(mf, "UTF-8").getLines().toSeq
    assert(lines.size >= 3)
    def firstByte(h: String) = Integer.parseInt(h.take(2), 16)
    val inRange = lines.lastIndexWhere { l =>
      val f = l.split('\t')
      firstByte(f(3)) >= 0x40 && firstByte(f(4)) < 0x80
    }
    assert(inRange > 1, "some region file must lie inside [0x40, 0x80)")
    val damaged = lines.zipWithIndex.map {
      case (l, 0) =>
        val f = l.split('\t'); f(2) = "12x9"; f.mkString("\t")
      case (l, i) if i == 1 || i == inRange =>
        val f = l.split('\t'); f(3) = "zz!"; f.mkString("\t")
      case (l, _) => l
    }
    java.nio.file.Files.write(mf.toPath,
      damaged.mkString("", "\n", "\n").getBytes("UTF-8"))
    // LAYER 1 — IO corruption: the java.nio rewrite left Hadoop local
    // FS's checksum sidecar stale, so fs.open/read throws
    // ChecksumException before the parser sees a byte. The read must
    // degrade to None (full footer-stat fallback), never abort...
    assert(CellManifest.read(spark, dir).isEmpty,
      "an IO-corrupt manifest must degrade to None, not abort")
    // ...and scans must still serve, exact, via footer stats
    assert(CellScan.scanRange(spark, dir, None, None).count() === total)
    assert(CellScan.scanRange(spark, dir,
      Some(Array(0x40.toByte)), Some(Array(0x80.toByte))).count() === expect)
    // LAYER 2 — parse corruption: drop the stale .crc sidecar so the
    // bytes reach the parser; damaged lines map to the conservative entry
    val crc = new java.io.File(dir, "." + CellManifest.FileName + ".crc")
    assert(!crc.exists() || crc.delete(), "stale checksum sidecar must go")
    val m = CellManifest.read(spark, dir).get
    val name0 = lines.head.split('\t').head
    assert(m(name0).rows === -1L && m(name0).bounds.isEmpty)
    val nameIn = lines(inRange).split('\t').head
    assert(m(nameIn).rows === -1L && m(nameIn).bounds.isEmpty,
      "a damaged hex bound must parse to the conservative entry")
    // and scans still serve, exact: conservative entries re-stat/keep
    assert(CellScan.scanRange(spark, dir, None, None).count() === total)
    assert(CellScan.scanRange(spark, dir,
      Some(Array(0x40.toByte)), Some(Array(0x80.toByte))).count() === expect)
    assert(CellScan.countRowsInRange(spark, dir,
      Some(Array(0x40.toByte)), Some(Array(0x80.toByte))) === Some(expect))
  }

  test("CellScan.multiGet: K keys open only the touched region files, zero footer reads") {
    import graft.sources.CellScan
    val wide = (0 until 120).map { i =>
      val r = (0 until 9).map(c => s"m${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)
    // pick 3 keys from exactly TWO salt regions ('2…' and '7…')
    val rows = spark.read.parquet(out).select("row").distinct()
      .as[Array[Byte]].collect()
    val keys = (rows.filter(_.head == '2'.toByte).sortBy(_.toSeq.map(b => b & 0xff).mkString(",")).take(2) ++
      rows.filter(_.head == '7'.toByte).take(1)).toSeq
    assert(keys.size === 3)
    val before = CellScan.footerOpens.get()
    val got = CellScan.multiGet(spark, out, keys)
    assert(got.inputFiles.length === 2, "3 keys in 2 regions must open 2 files")
    assert(CellScan.footerOpens.get() === before, "manifest multiGet opened footers")
    // exactly the requested rows' cells, 9 cells each
    assert(got.count() === 27)
    assert(got.select("row").distinct().count() === 3)
    // empty key set: empty frame, schema intact
    val empty = CellScan.multiGet(spark, out, Seq.empty)
    assert(empty.count() === 0)
    assert(empty.schema.fieldNames.toSeq ===
      graft.operators.CellOps.cellSchema.fieldNames.toSeq)
  }

  test("CellScan.get: point lookup opens exactly ONE region file, zero footer reads") {
    import graft.sources.CellScan
    val wide = (0 until 120).map { i =>
      val r = (0 until 9).map(c => s"g${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)
    val key = spark.read.parquet(out).select("row").head().getAs[Array[Byte]]("row")
    val before = CellScan.footerOpens.get()
    val got = CellScan.get(spark, out, key)
    assert(got.inputFiles.length === 1, "a Get must touch one region file")
    assert(CellScan.footerOpens.get() === before, "manifest Get opened footers")
    // exactly that row's cells, nothing adjacent
    assert(got.count() === 9)
    assert(got.select("row").distinct().count() === 1)
    assert(got.select("row").head().getAs[Array[Byte]]("row").toSeq === key.toSeq)
  }

  test("CellScan: a region file the manifest does not list is pruned by its own footer in every read") {
    import graft.sources.CellScan
    val wide = (0 until 200).map { i =>
      val r = (0 until 9).map(c => s"ul${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length === 10)
    // copy the salt-digit-'0' region file in under a name the manifest
    // does not list (an externally added file)
    assert(spark.read.parquet(parts.head.getPath).select("row").as[Array[Byte]]
      .collect().forall(_.head == '0'.toByte))
    java.nio.file.Files.copy(parts.head.toPath,
      new java.io.File(out, "part-99999-extra.parquet").toPath)

    // a range that misses region '0': the copy is statted by ONE footer
    // open and pruned, so only the '3' region file is kept
    val before = CellScan.footerOpens.get()
    val lo = Array('3'.toByte)
    val hi = Array('4'.toByte)
    val scan = CellScan.scanRange(spark, out, Some(lo), Some(hi))
    assert(CellScan.lastKeptFiles.get() === 1L,
      s"the unlisted copy must be pruned, kept ${CellScan.lastKeptFiles.get()}")
    assert(CellScan.footerOpens.get() === before + 1)
    val expect = spark.read.parquet(out)
      .where(col("row") >= lit(lo) && col("row") < lit(hi)).count()
    assert(scan.count() === expect && expect > 0)

    // multi-get and get of keys in other regions exclude it too
    val rows = spark.read.parquet(out).select("row").distinct().as[Array[Byte]].collect()
    val keys = (rows.filter(_.head == '2'.toByte).take(2) ++
      rows.filter(_.head == '7'.toByte).take(1)).toSeq
    assert(keys.size === 3)
    val got = CellScan.multiGet(spark, out, keys)
    assert(CellScan.lastKeptFiles.get() === 2L)
    assert(got.count() === 27)
    val one = CellScan.get(spark, out, keys.head)
    assert(CellScan.lastKeptFiles.get() === 1L)
    assert(one.count() === 9)

    // the metadata count and the unfiltered scan describe the same live
    // fileset (the copy's rows included)
    val all = CellScan.scanRange(spark, out, None, None)
    assert(CellScan.lastKeptFiles.get() === 11L)
    assert(CellScan.countRows(spark, out) === Some(all.count()))
    assert(all.count() === spark.read.parquet(out).count())
  }

  test("graft-cells READ: row-range pushdown prunes region files through the manifest") {
    import graft.sources.CellScan
    val wide = (0 until 120).map { i =>
      val r = (0 until 9).map(c => s"p${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cells"
    SortedParquetCellSink.write(r.cells, out)

    val before = CellScan.footerOpens.get()
    val lo = Array('3'.toByte)
    val hi = Array('4'.toByte)
    val pruned = spark.read.format("graft-cells").load(out)
      .where(col("row") >= lit(lo) && col("row") < lit(hi))
    // collect(), not count(): a range COUNT is now answered from
    // metadata without running the scan whose pruning this test pins
    val nPruned = pruned.collect().length.toLong
    // the V1 pushdown delivered the bounds: the relation kept ONE of the
    // ten region files, via the manifest (no footer opens)
    assert(CellScan.lastKeptFiles.get() === 1L,
      s"expected 1 kept file, got ${CellScan.lastKeptFiles.get()}")
    assert(CellScan.footerOpens.get() === before)
    // and the result equals the unpruned read with the same residual
    val expect = spark.read.parquet(out)
      .where(col("row") >= lit(lo) && col("row") < lit(hi)).count()
    assert(nPruned === expect && nPruned > 0)
    // column pruning path: a projection-only read works and sees all rows
    assert(spark.read.format("graft-cells").load(out)
      .select(col("qualifier")).count() === r.cells.count())
    // a non-row predicate is re-evaluated above the scan (unhandled)
    val q0 = spark.read.format("graft-cells").load(out)
      .where(col("ts") === 0L).count()
    assert(q0 === r.cells.count())
    // SQL over the relation: a view carries the pushdown
    spark.read.format("graft-cells").load(out).createOrReplaceTempView("cells_v")
    try {
      assert(spark.sql("SELECT count(*) FROM cells_v").head().getLong(0) ===
        r.cells.count())
      // a range COUNT now pushes to metadata (contained manifest counts
      // + boundary-file scan) — assert the VALUE against a real scan;
      // per-file pruning for row-returning scans is asserted above
      val viaSql = spark.sql(
        "SELECT count(*) FROM cells_v WHERE row >= x'33' AND row < x'34'")
        .head().getLong(0)
      assert(viaSql > 0 && viaSql === spark.read.parquet(out)
        .where(col("row") >= lit(Array('3'.toByte)) &&
          col("row") < lit(Array('4'.toByte))).count(),
        "SQL-through-view range count must be exact")
    } finally spark.catalog.dropTempView("cells_v")

    // the CATALOG path is READABLE (DSv2 SupportsRead on the same table
    // the write path uses): CREATE TABLE … USING graft-cells, then plain
    // SELECTs — with the same manifest-pruned pushdown, zero footer opens
    spark.sql("DROP TABLE IF EXISTS cells_cat")
    spark.sql(
      s"CREATE TABLE cells_cat USING `graft-cells` OPTIONS (path '$out')")
    try {
      assert(spark.sql("SELECT count(*) FROM cells_cat").head().getLong(0) ===
        r.cells.count())
      val b3 = CellScan.footerOpens.get()
      val viaCat = spark.sql(
        "SELECT count(*) FROM cells_cat WHERE row >= x'33' AND row < x'34'")
        .head().getLong(0)
      assert(viaCat > 0 && viaCat === spark.read.parquet(out)
        .where(col("row") >= lit(Array('3'.toByte)) &&
          col("row") < lit(Array('4'.toByte))).count(),
        "catalog-table range count must be exact")
      assert(CellScan.footerOpens.get() === b3,
        "manifest present: the metadata count opens zero footers")
      // the DSv2 scan reports the pushed row filters in EXPLAIN
      val plan = spark.sql(
        "SELECT * FROM cells_cat WHERE row >= x'33' AND row < x'34'")
        .queryExecution.executedPlan.toString
      assert(plan.contains("row"), plan.take(2000))
    } finally spark.sql("DROP TABLE IF EXISTS cells_cat")
  }

  test("CellScan: non-flat parquet layout falls back to an unpruned read, not empty") {
    import graft.sources.CellScan
    // hive-partitioned layout: no top-level part-*.parquet files
    val out = tmpDir() + "/nested"
    val cells = BulkLoad.fromPositional(
      (0 until 40).map { i =>
        val r = (0 until 9).map(c => s"n${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*),
      BulkLoad.emptyQuarantine(spark), BulkLoad.Config()).cells
      .withColumn("bucket", (crc32(col("row")) % 2).cast("int"))
    cells.write.partitionBy("bucket").mode("overwrite").parquet(out)
    val got = CellScan.scanRange(spark, out, None, None)
    assert(got.count() === cells.count(),
      "nested layout must fall back to reading everything")
    // and a bounded range still applies the residual filter
    val lo = CellScan.scanRange(spark, out, Some(Array(0x00.toByte)), None)
    assert(lo.count() === cells.count())
  }

  test("graft-cells COUNT(*): complete aggregate pushdown plans a local one-row relation; fallbacks stay correct") {
    import graft.sources.CellScan
    val wide = (0 until 80).map { i =>
      val r = (0 until 9).map(c => s"q${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    val r = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
      BulkLoad.Config(saltBuckets = Some(10)))
    val out = tmpDir() + "/cellsCount"
    SortedParquetCellSink.write(r.cells, out)
    val expected = spark.read.parquet(out).count()
    // metadata count is exact without a Spark job
    assert(CellScan.countRows(spark, out) === Some(expected))
    // pushed COUNT(*) + MIN/MAX(row): the executed plan is a local
    // one-row relation — no parquet scan node anywhere
    val df = spark.read.format("graft-cells").load(out)
      .agg(count(lit(1)).as("n"), min(col("row")).as("lo"), max(col("row")).as("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.toLowerCase.contains("parquet"), plan)
    val got = df.head()
    val viaScan = spark.read.parquet(out)
      .agg(count(lit(1)), min(col("row")), max(col("row"))).head()
    assert(got.getLong(0) === expected)
    assert(got.getAs[Array[Byte]](1).sameElements(viaScan.getAs[Array[Byte]](1)))
    assert(got.getAs[Array[Byte]](2).sameElements(viaScan.getAs[Array[Byte]](2)))
    // join posture: the V1Scan seam cannot report statistics (Spark's
    // V1ScanWrapper does not forward SupportsReportStatistics, so the
    // relation statically costs the default infinite size) — the
    // deployment answer is AQE's runtime conversion, which re-plans the
    // join from the ACTUAL materialized size. Pin it: static broadcast
    // disabled, adaptive threshold on → the executed join IS a broadcast.
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    try {
      val cellsSide = spark.read.format("graft-cells").load(out)
        .select(col("row"), col("qualifier"))
      val factSide = spark.read.parquet(out).select(col("row"), col("value"))
      val j = factSide.join(cellsSide, "row")
      // collect() executes THIS queryExecution, finalizing its adaptive
      // plan (count() would spawn a separate execution and leave this
      // one unexecuted)
      assert(j.collect().length > 0)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // a RANGE-filtered count pushes too: fully-contained region files
    // answer from the manifest, only boundary files are scanned — the
    // executed plan is still a local one-row relation, values exact
    // across range shapes (point, half-open, boundary-straddling, empty)
    val ranges = Seq(
      (Some(Array('3'.toByte)), None),
      (Some(Array('3'.toByte)), Some(Array('7'.toByte))),
      (Some(Array('3'.toByte, 0x33.toByte)), Some(Array('4'.toByte, 0x99.toByte))),
      (Some(Array(0xfe.toByte)), Some(Array(0xff.toByte)))) // empty range
    ranges.foreach { case (lo2, hi2) =>
      var q = spark.read.format("graft-cells").load(out)
      var e = spark.read.parquet(out)
      lo2.foreach { b => q = q.where(col("row") >= lit(b)); e = e.where(col("row") >= lit(b)) }
      hi2.foreach { b => q = q.where(col("row") < lit(b)); e = e.where(col("row") < lit(b)) }
      val agg = q.agg(count(lit(1)).as("n"))
      assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"range ($lo2,$hi2) must plan locally")
      assert(agg.head().getLong(0) === e.count(), s"range ($lo2,$hi2)")
    }
    // a MIN/MAX under a range does NOT claim the push — and stays correct
    val lo = Array('3'.toByte)
    val filtered = spark.read.format("graft-cells").load(out)
      .where(col("row") >= lit(lo)).agg(min(col("row")).as("m"))
    assert(filtered.queryExecution.executedPlan.toString
      .contains("LocalTableScan") === false)
    assert(filtered.head().getAs[Array[Byte]](0).sameElements(
      spark.read.parquet(out).where(col("row") >= lit(lo))
        .agg(min(col("row"))).head().getAs[Array[Byte]](0)))
    // freshness rule: an externally added part file the manifest does not
    // list is counted via its own footer (same keep-unlisted contract as
    // the scan)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val extraRows = spark.read.parquet(parts.head.getPath).count()
    java.nio.file.Files.copy(parts.head.toPath,
      new java.io.File(out, "part-99999-extra.parquet").toPath)
    assert(CellScan.countRows(spark, out) === Some(expected + extraRows))
    assert(spark.read.format("graft-cells").load(out)
      .agg(count(lit(1))).head().getLong(0) === expected + extraRows)
  }

  test("DSv2: write.format(\"graft-cells\") lands the golden layout from an UNALIGNED frame") {
    import graft.operators.RegionSort
    // same 200-row corpus as the golden test, but cells arrive UNSALTED
    // and deliberately scrambled — the DSv2 sink itself must salt, align
    // and sort (the exchange lives inside the sink's insert plan)
    val wide = (0 until 200).map { i =>
      (0 until 9).map(c => s"v${i}_$c")
    }.map(r => (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8)))
      .toDF((0 until 9).map(i => s"c$i"): _*)
    val unaligned = BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
        BulkLoad.Config()) // no salt: plain md5 rowkeys
      .cells.repartition(13) // destroy any incidental ordering
    val out = tmpDir() + "/dsv2cells"
    unaligned.write.format("graft-cells")
      .option("salt", "10").mode("overwrite").save(out)

    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length === 10) // exactly one file per salt region
    val digits = parts.map { f =>
      val rows = spark.read.parquet(f.getPath)
        .select(col("row")).as[Array[Byte]].collect()
      assert(rows.nonEmpty, s"empty part file ${f.getName}")
      // file ⊆ one region: one salt digit per file (digit = region boundary)
      val digit = rows.head.head
      assert(rows.forall(_.head == digit), f.getName)
      // KeyValue order within the file (unsigned byte-lexicographic)
      rows.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(RegionSort.unsignedBytes.compare(w(0), w(1)) <= 0, f.getName)
      }
      digit
    }
    assert(digits.toSeq === digits.sorted.toSeq)
    assert(digits.distinct.length === digits.length)

    // an unsalted `regions` write goes through the same exchange, on
    // boundaries sampled from the keys: file i ⊆ region i of the splits
    // the exchange that ran carries (the input's own load exchange has
    // fixed MD5 splits)
    val sampledOut = tmpDir() + "/dsv2regions"
    val sampled = exchangesRun(unaligned.write.format("graft-cells")
      .option("regions", "4").mode("overwrite").save(sampledOut)).filter(_.fixedSplits.isEmpty)
    assert(sampled.length === 1 && sampled.head.splits.length === 3)
    val perFile = alignedFileCells(sampledOut, sampled.head.splits)
    assert(perFile.length === 4 && perFile.sum === 1800)

    // append mode is rejected: staging dirs are write-once-then-adopt
    val err = intercept[Exception] {
      unaligned.write.format("graft-cells").option("salt", "10")
        .mode("append").save(out)
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("; ")
    assert(messages.contains("overwrite"), messages)
  }

  test("graft-cells splits option: one hex split-key parser; odd-length or non-hex keys are rejected") {
    import graft.operators.RegionSort
    import graft.sources.GraftCellsDataSource
    val cells = BulkLoad.fromPositional(
      rows9.toDF((0 until 9).map(i => s"c$i"): _*),
      BulkLoad.emptyQuarantine(spark), BulkLoad.Config()).cells
    def iaeIn(t: Throwable): Boolean = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).exists(_.isInstanceOf[IllegalArgumentException])
    Seq("abc", "zz", "40,7g").foreach { bad =>
      val e = intercept[Exception](cells.write.format("graft-cells")
        .option("splits", bad).mode("overwrite").save(tmpDir() + "/badsplits"))
      assert(iaeIn(e), s"splits '$bad' must be rejected: $e")
    }
    // the CLI's split file reads through the same parser
    val f = java.nio.file.Files.createTempFile("graft-splits", ".txt")
    java.nio.file.Files.writeString(f, "40\nabc\n")
    intercept[IllegalArgumentException](IngestCli.loadSplits(f.toString))
    // either case parses; the option renders lowercase and round-trips
    val keys = Seq(RegionSort.splitKey("3F"), RegionSort.splitKey("a0ff"))
    assert(GraftCellsDataSource.splitsOption(keys) === "3f,a0ff")
    val out = tmpDir() + "/oksplits"
    cells.write.format("graft-cells").option("splits", "3F,a0ff")
      .mode("overwrite").save(out)
    assert(spark.read.parquet(out).count() === 27)
  }

  test("DSv2 via SQL DDL: CREATE TABLE USING graft-cells + INSERT OVERWRITE lands the golden layout") {
    import graft.operators.RegionSort
    // the catalog path — how a SQL-only user reaches the sink: the table
    // is declared once with the cell contract schema, and INSERT OVERWRITE
    // runs the same aligned insert plan as df.write.format("graft-cells")
    val wide = (0 until 200).map { i =>
      (0 until 9).map(c => s"v${i}_$c")
    }.map(r => (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8)))
      .toDF((0 until 9).map(i => s"c$i"): _*)
    BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark),
        BulkLoad.Config()) // no salt: plain md5 rowkeys — the SINK must salt
      .cells.repartition(13)
      .createOrReplaceTempView("cells_ddl_src")
    val out = tmpDir() + "/dsv2sql"
    spark.sql(
      s"""CREATE TABLE cells_ddl (
         |  row BINARY, family BINARY, qualifier BINARY, value BINARY, ts BIGINT)
         |USING `graft-cells` OPTIONS (path '$out', salt '10')""".stripMargin)
    try {
      spark.sql(
        """INSERT OVERWRITE TABLE cells_ddl
          |SELECT row, family, qualifier, value, ts FROM cells_ddl_src""".stripMargin)
      val parts = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      assert(parts.length === 10) // exactly one file per salt region
      val digits = parts.map { f =>
        val rows = spark.read.parquet(f.getPath)
          .select(col("row")).as[Array[Byte]].collect()
        assert(rows.nonEmpty, s"empty part file ${f.getName}")
        val digit = rows.head.head
        assert(rows.forall(_.head == digit), f.getName)
        rows.sliding(2).foreach { w =>
          if (w.length == 2)
            assert(RegionSort.unsignedBytes.compare(w(0), w(1)) <= 0, f.getName)
        }
        digit
      }
      assert(digits.toSeq === digits.sorted.toSeq)
      assert(digits.distinct.length === digits.length)

      // plain INSERT INTO (append) is rejected: staging is write-once
      val err = intercept[Exception] {
        spark.sql(
          "INSERT INTO cells_ddl SELECT row, family, qualifier, value, ts FROM cells_ddl_src")
      }
      val messages = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("; ")
      assert(messages.contains("overwrite"), messages)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cells_ddl")
    }
  }

  test("salting spreads rows across buckets and keeps per-bucket sort") {
    val dir = tmpDir()
    rows9.map(r => r.productIterator.mkString("\u0001"))
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val r = BulkLoad.hiveText(spark, dir, BulkLoad.Config(saltBuckets = Some(10)))
    // key = 1 salt byte + 64 key bytes
    assert(r.cells.where(length(col("row")) =!= 65).count() === 0)
    val salts = r.cells.select(substring(col("row").cast("string"), 1, 1)).distinct().count()
    assert(salts >= 2) // 3 distinct keys → very likely ≥2 buckets
    // salted path plans through the exact row-level exchange (the
    // two-phase ingest sort: rows move once, cells explode inside the
    // region partition): one output partition per salt bucket
    assert(r.cells.rdd.getNumPartitions === 10)
    assert(r.cells.queryExecution.executedPlan
      .exists(_.isInstanceOf[graft.plans.RegionAlignedRowExchangeExec]))
  }

  test("jsonl: documents roundtrip losslessly (incl. CJK); malformed lines quarantine") {
    import graft.sources.JsonLines
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val out = tmpDir() + "/corpus"
    JsonLines.write(docs, out, shards = 4)
    assert(new java.io.File(out).listFiles().count(_.getName.startsWith("part-")) === 4)
    // poison one extra shard with garbage + a blank line
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "part-9999-bad.json"),
      "not json at all\n\n{\"doc_id\":9999123,\"text\":\"ok\",\"lang\":\"en\",\"source\":\"s\",\"n_chars\":2}\n"
        .getBytes("UTF-8"))
    val (kept, rejected) = JsonLines.read(spark, out, docs.schema)
    assert(rejected.as[String].collect().toSeq === Seq("not json at all"))
    assert(kept.count() === docs.count() + 1)
    // byte-exact text roundtrip, joined on doc_id (ordering-free)
    val diff = kept.as("k").join(docs.as("d"), "doc_id")
      .where(col("k.text") =!= col("d.text") || col("k.lang") =!= col("d.lang"))
    assert(diff.count() === 0)
  }

  test("jsonl driver: named cells like avro; null id AND malformed lines quarantine") {
    val dir = tmpDir() + "/jfeed"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "feed.jsonl"),
      ("""{"id":"123","col1":"a","cl2":"b"}""" + "\n" +
       """{"id":"456","cl2":"c"}""" + "\n" +           // missing col1 → no cell
       """{"col1":"x","cl2":"y"}""" + "\n" +           // null id → quarantined
       "{broken\n"                                     // malformed → quarantined
      ).getBytes("UTF-8"))
    val r = BulkLoad.jsonl(spark, dir, "id STRING, col1 STRING, cl2 STRING")
    assert(r.quarantined.count() === 2)
    assert(r.cells.count() === 5) // 3 cells for 123, 2 for 456
    val k = r.cells.select(col("row").cast("string")).distinct()
      .as[String].collect().toSet
    assert(k === Set("321", "654")) // reversed natural keys, avro semantics
    val quals = r.cells.select(col("qualifier").cast("string")).distinct()
      .as[String].collect().toSet
    assert(quals === Set("id", "col1", "cl2"))
  }

  test("HFileCellSink: reflection guard falls back to parquet without hbase jars; chmod walk runs") {
    // this environment has no hbase-mapreduce on the classpath
    assert(!HFileCellSink.available)
    assert(HFileCellSink.orFallback eq SortedParquetCellSink)
    // write() through the guard still lands the sorted-cell contract
    val dir = tmpDir()
    rows9.map(r => r.productIterator.mkString(","))
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val r = BulkLoad.csv(spark, dir, BulkLoad.Config(compatNaiveSplit = true))
    val out = tmpDir() + "/hfile-fallback"
    HFileCellSink.write(r.cells, out)
    // the quoted-comma row quarantines under naive split: 2 rows × 9 cells
    assert(spark.read.parquet(out).count() === 18)
    // X4 chmod walk is real Hadoop-FS code (no hbase classes involved)
    HFileCellSink.postCommit(out)
    val st = java.nio.file.Files.getPosixFilePermissions(java.nio.file.Paths.get(out))
    assert(st.contains(java.nio.file.attribute.PosixFilePermission.OTHERS_WRITE))

    // the container write path itself, driven through structurally
    // identical stand-in classes (same constructor shapes the reflection
    // resolves): every cell byte must reach the output format
    val out2 = tmpDir() + "/hfile-write"
    HFileCellSink.writeVia(r.cells, out2,
      "graft.fakehbase.KeyValue", "graft.fakehbase.BytesKey",
      "graft.fakehbase.CellTextOutputFormat")
    val written = spark.read.text(out2).as[String].collect().sorted.toSeq
    val expected = r.cells
      .select(concat_ws(",", lower(hex(col("row"))), lower(hex(col("family"))),
        lower(hex(col("qualifier"))), col("ts"), lower(hex(col("value")))))
      .as[String].collect().sorted.toSeq
    assert(written === expected)
    assert(written.size === 18)
  }

  test("bulkLoadStep: postCommit drives the adoption tool through the reflection seam") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(HFileCellSink.TableKey, "transactions")
    conf.set(HFileCellSink.ToolClassKey, "graft.fakehbase.BulkLoadHFiles")
    conf.set(HFileCellSink.TableNameClassKey, "graft.fakehbase.TableName")
    try {
      graft.fakehbase.RecordedBulkLoads.calls.clear()
      val dir = tmpDir()
      rows9.map(r => r.productIterator.mkString("\u0001"))
        .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
      val r = BulkLoad.hiveText(spark, dir)
      val out = tmpDir() + "/adopt"
      HFileCellSink.write(r.cells, out)
      HFileCellSink.postCommit(out)
      // the adoption call reached the (stand-in) tool with the configured
      // table and the staging path — the full create→valueOf→bulkLoad
      // wiring, not a stub
      val calls = graft.fakehbase.RecordedBulkLoads.calls.toArray
        .toSeq.map(_.asInstanceOf[(String, String, Set[String])])
      assert(calls.map(c => (c._1, c._2)) === Seq(("transactions", out)))
      // the ADOPTED FILE SET (walked inside the tool at adoption time) is
      // exactly the staged fileset — X5 ran on the real files, after X4
      // and before any cleanup could touch them
      def listing(d: String): Set[String] = {
        def walk(f: java.io.File): Seq[String] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getName)
        // the tool walks through Hadoop's ChecksumFileSystem, which hides
        // the local-FS .crc sidecars — compare the visible fileset
        walk(new java.io.File(d)).filterNot(_.startsWith(".")).toSet
      }
      assert(calls.head._3 === listing(out))
      assert(calls.head._3.exists(n => n.startsWith("part-") && n.endsWith(".parquet")),
        s"no data files in the adopted set: ${calls.head._3}")
      // and X4 had already run by then (postCommit order is final in the
      // trait; the chmod walk's effect is visible after the sequence)
      val st = java.nio.file.Files.getPosixFilePermissions(java.nio.file.Paths.get(out))
      assert(st.contains(java.nio.file.attribute.PosixFilePermission.OTHERS_WRITE))
    } finally {
      conf.unset(HFileCellSink.TableKey)
      conf.unset(HFileCellSink.ToolClassKey)
      conf.unset(HFileCellSink.TableNameClassKey)
    }
  }

  test("X5 e2e: container write + adoption against the fake hbase classes — the adopted set is the container fileset") {
    // the full reference tail on one dir: the HFile CONTAINER write
    // (saveAsNewAPIHadoopFile through the reflection-resolved stand-in
    // classes) followed by postCommit's chmod → doBulkLoad → cleanup,
    // with the adoption tool recording the fileset it saw — the
    // LoadIncrementalHFiles call-shape end to end, no step stubbed
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(HFileCellSink.TableKey, "transactions")
    conf.set(HFileCellSink.ToolClassKey, "graft.fakehbase.BulkLoadHFiles")
    conf.set(HFileCellSink.TableNameClassKey, "graft.fakehbase.TableName")
    try {
      graft.fakehbase.RecordedBulkLoads.calls.clear()
      val dir = tmpDir()
      rows9.map(r => r.productIterator.mkString("\u0001"))
        .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
      val r = BulkLoad.hiveText(spark, dir)
      val out = tmpDir() + "/adopt-container"
      HFileCellSink.writeVia(r.cells, out,
        "graft.fakehbase.KeyValue", "graft.fakehbase.BytesKey",
        "graft.fakehbase.CellTextOutputFormat")
      HFileCellSink.postCommit(out)
      val calls = graft.fakehbase.RecordedBulkLoads.calls.toArray
        .toSeq.map(_.asInstanceOf[(String, String, Set[String])])
      assert(calls.map(c => (c._1, c._2)) === Seq(("transactions", out)))
      val adopted = calls.head._3
      assert(adopted.exists(n => n.startsWith("part-") && n.endsWith(".txt")),
        s"container data files missing from the adopted set: $adopted")
      // every cell byte the pipeline produced is inside the adopted files
      val fromAdopted = spark.read.text(out).count()
      assert(fromAdopted === r.cells.count())
    } finally {
      conf.unset(HFileCellSink.TableKey)
      conf.unset(HFileCellSink.ToolClassKey)
      conf.unset(HFileCellSink.TableNameClassKey)
    }
  }

  test("bulkLoadStep: unset table key or unloadable tool classes degrade to a no-op") {
    graft.fakehbase.RecordedBulkLoads.calls.clear()
    val out = tmpDir() + "/noop"
    new java.io.File(out).mkdirs()
    // no table configured → nothing attempted
    HFileCellSink.postCommit(out)
    // table set but production class names unloadable here → still a no-op
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(HFileCellSink.TableKey, "transactions")
    try HFileCellSink.postCommit(out)
    finally conf.unset(HFileCellSink.TableKey)
    assert(graft.fakehbase.RecordedBulkLoads.calls.isEmpty)
  }

  test("CLI key spec: --key-fields/--family/--qualifiers reach the pipeline (reference RC spec)") {
    val cfg = IngestCli.configFrom(Map(
      "--key-fields" -> "1,3,4,20", "--family" -> "fam", "--qualifiers" -> "name",
      "--arity" -> "21"))
    assert(cfg.keyFields === BulkLoad.ReferenceRcKeyFields)
    assert(cfg.family === "fam")
    assert(cfg.qualifiers === BulkLoad.NameQualifiers)
    assert(IngestCli.configFrom(Map("--load-ts" -> "1723500000000")).loadTs === 1723500000000L)
    intercept[IllegalArgumentException](
      IngestCli.configFrom(Map("--qualifiers" -> "bogus")))

    // e2e: a custom 2-field key (32-byte md5 concat), custom family, named
    // qualifiers, driven end to end through the csv driver
    val dir = tmpDir()
    Seq("35218,195,Alabama Power Co,AL",
        "00601,196,Utility Two,PR").toDF("value")
      .coalesce(1).write.mode("overwrite").text(dir)
    val r = BulkLoad.csv(spark, dir, IngestCli.configFrom(Map(
      "--arity" -> "4", "--key-fields" -> "0,1", "--family" -> "f2",
      "--qualifiers" -> "name")))
    assert(r.cells.count() === 8) // 2 rows × 4 named cells
    assert(r.cells.where(length(col("row")) =!= 32).count() === 0) // 2 digests
    assert(r.cells.select(col("family").cast("string")).distinct()
      .as[String].collect().toSeq === Seq("f2"))
    assert(r.cells.select(col("qualifier").cast("string")).distinct()
      .as[String].collect().toSet === Set("c0", "c1", "c2", "c3"))
  }

  test("streaming ingest: micro-batches reproduce the batch pipeline; postCommit fires per batch") {
    import graft.streaming.StreamingIngest
    val in = tmpDir() + "/in"
    new java.io.File(in).mkdirs()
    // two files → two micro-batches at maxFilesPerTrigger=1; file 1 carries
    // the quoted-comma row that naive split quarantines (10 tokens)
    def put(name: String, rows: Seq[Product]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        rows.map(_.productIterator.mkString(",")).mkString("\n").getBytes("UTF-8"))
    put("f1.txt", Seq(rows9(0), rows9(1)))
    put("f2.txt", Seq(rows9(2)))

    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = new CellSink {
      override def write(cells: org.apache.spark.sql.DataFrame, path: String): Unit = {
        log.synchronized { log += s"write:$path" }
        SortedParquetCellSink.write(cells, path)
      }
      override protected def chmodStep(path: String): Unit =
        log.synchronized { log += s"chmod:$path" }
      override protected def bulkLoadStep(path: String): Unit =
        log.synchronized { log += s"bulkLoad:$path" }
      override protected def cleanupStep(path: String): Unit =
        log.synchronized { log += s"cleanup:$path" }
    }
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    val batches = StreamingIngest.run(spark, in, out, ckpt,
      cfg = BulkLoad.Config(compatNaiveSplit = true), sinkOverride = Some(sink))

    assert(batches.map(_.batchId) === batches.map(_.batchId).sorted)
    assert(batches.length === 2)
    // per batch: write then the fixed postCommit tail, in order
    batches.foreach { b =>
      val steps = log.filter(_.endsWith(s":${b.path}")).map(_.takeWhile(_ != ':'))
      assert(steps.toSeq === Seq("write", "chmod", "bulkLoad", "cleanup"), b.path)
    }
    // union of batch outputs == the batch pipeline on the same directory
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(hex(col("row")), hex(col("qualifier")), hex(col("value")))
      .as[(String, String, String)].collect().sorted.toSeq
    val streamed = batches.map(b => spark.read.parquet(b.path))
      .reduce(_ unionByName _)
    val batch = BulkLoad.csv(spark, in, BulkLoad.Config(compatNaiveSplit = true))
    assert(key(streamed) === key(batch.cells))
    // the quoted-comma row landed in exactly one batch quarantine
    val quarantined = batches.map(b => spark.read.parquet(s"${b.path}.quarantine"))
      .reduce(_ unionByName _)
    assert(quarantined.count() === 1)
    assert(quarantined.head().getString(0).contains("Utility, With Comma"))
  }

  test("streaming ingest + compactEvery: the serving dir accumulates swept filesets, content exact") {
    import graft.streaming.StreamingIngest
    import graft.sources.{CellCompaction, CellScan}
    val in = tmpDir() + "/in"
    new java.io.File(in).mkdirs()
    def put(name: String, rows: Seq[Product]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        rows.map(_.productIterator.mkString(",")).mkString("\n").getBytes("UTF-8"))
    // four files → four micro-batches; compactEvery=2 → two minor sweeps
    // (f4 reuses row 0 with a distinct zip so its rowkey differs)
    put("f1.txt", Seq(rows9(0)))
    put("f2.txt", Seq(rows9(1)))
    put("f3.txt", Seq(rows9(2)))
    put("f4.txt", Seq(rows9(0).copy(_1 = "77777")))
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    val batches = StreamingIngest.run(spark, in, out, ckpt,
      cfg = BulkLoad.Config(compatNaiveSplit = true), compactEvery = 2)
    assert(batches.length === 4)
    // every batch fileset was absorbed; serving holds the swept layout
    assert(CellCompaction.batchDirs(spark, out).isEmpty)
    val serving = s"$out/serving"
    val served = spark.read.parquet(serving)
    // content = the batch pipeline over the same input (quarantines,
    // which live in batch_NNNNN.quarantine dirs, are NOT swept)
    val batch = BulkLoad.csv(spark, in, BulkLoad.Config(compatNaiveSplit = true))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(hex(col("row")), hex(col("qualifier")), hex(col("value")))
      .as[(String, String, String)].collect().sorted.toSeq
    assert(key(served) === key(batch.cells))
    // two sweeps → two distinct fileset stamps in the part names,
    // `part-<region>-<stamp>.parquet` (file COUNT varies with how many
    // regions each tiny sweep touches)
    val stamps = new java.io.File(serving).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getName.split("-", 3)(2)).toSet
    assert(stamps.size === 2, s"expected 2 sweep stamps, got $stamps")
    val before = CellScan.footerOpens.get()
    assert(CellScan.scanRange(spark, serving, None, None).count() === served.count())
    assert(CellScan.footerOpens.get() === before)
  }

  test("IngestCli compact verb: dispatches minor/major; unknown mode is an error") {
    import graft.sources.CellCompaction
    val root = tmpDir() + "/cliroot"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    (0 until 2).foreach { b =>
      val wide = (0 until 30).map { i =>
        val r = (0 until 9).map(c => s"cli${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
        f"$root/batch_$b%05d")
    }
    val dest = tmpDir() + "/clidest"
    assert(IngestCli.compactCommand(spark, "minor", root, dest, cfg) === 2)
    assert(CellCompaction.batchDirs(spark, root).isEmpty, "batches retired")
    val n = spark.read.parquet(dest).count()
    assert(n === 2 * 30 * 9)
    // major in place is a no-op on content
    assert(IngestCli.compactCommand(spark, "major", dest, "", cfg) === -1)
    assert(spark.read.parquet(dest).count() === n)
    intercept[IllegalArgumentException](
      IngestCli.compactCommand(spark, "bogus", root, dest, cfg))
    intercept[IllegalArgumentException](
      IngestCli.compactCommand(spark, "batches", root, dest, cfg))
  }

  test("IngestCli batch load: csv-compat wrong-arity lines land verbatim in <output>.quarantine") {
    val in = tmpDir() + "/in"
    val good = (0 until 40).map(i => (0 until 9).map(c => s"q${i}_$c").mkString(","))
    val planted = Seq(
      "short,row,of,eight,fields,only,here,x",                  // 8 fields
      "long,row,of,ten,fields,one,two,three,four,five",         // 10 fields
      "p0,p1,\"quoted, comma\",p3,p4,p5,p6,p7,p8")              // naive split: 10
    (good.take(20) ++ planted ++ good.drop(20)).toDF("value")
      .coalesce(1).write.mode("overwrite").text(in)
    val out = tmpDir() + "/cells"
    val line = IngestCli.loadCommand(spark, "csv-compat", in, out,
      IngestCli.configFrom(Map.empty), Map.empty)
    assert(line.contains(s""""cells":${40 * 9},"quarantined":3,"""), line)
    assert(spark.read.parquet(s"$out.quarantine").as[String].collect().sorted.toSeq ===
      planted.sorted)
    assert(spark.read.parquet(out).count() === 40 * 9)
  }

  /** Input records Spark tasks read while `body` runs. A marker job in
    * its own group runs afterwards; once the listener has seen it start,
    * every earlier task end has been delivered (the bus keeps post order). */
  private def recordsReadDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    val marker = s"graft-records-${System.nanoTime()}"
    val read = new java.util.concurrent.atomic.AtomicLong(0L)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      read.get()
    } finally sc.removeSparkListener(listener)
  }

  test("naive-split quarantine scans the input once: arity rejects verbatim, un-keyable rows as JSON") {
    val in = tmpDir() + "/in"
    val good = (0 until 40).map(i => (0 until 9).map(c => s"q${i}_$c").mkString(","))
    val planted = Seq(
      "short,row,of,eight,fields,only,here,x",
      "long,row,of,ten,fields,one,two,three,four,five",
      "p0,p1,\"quoted, comma\",p3,p4,p5,p6,p7,p8")
    (good.take(20) ++ planted ++ good.drop(20)).toDF("value")
      .coalesce(1).write.mode("overwrite").text(in)
    // the CLI's csv-compat quarantine stage over the 43-line input
    val r = BulkLoad.csv(spark, in, IngestCli.configFrom(Map.empty).copy(compatNaiveSplit = true))
    val q = tmpDir() + "/q"
    assert(recordsReadDuring(r.quarantined.write.parquet(q)) === 43)
    assert(spark.read.parquet(q).as[String].collect().sorted.toSeq === planted.sorted)
    // a key field beyond the arity makes every fitting row un-keyable:
    // its JSON joins the raw arity rejects, still from one scan
    val all = BulkLoad.csv(spark, in, BulkLoad.Config(compatNaiveSplit = true, keyFields = Seq(0, 9)))
    val q2 = tmpDir() + "/q2"
    assert(recordsReadDuring(all.quarantined.write.parquet(q2)) === 43)
    val json = good.map(l => l.split(",").zipWithIndex
      .map { case (v, i) => s""""c$i":"$v"""" }.mkString("{", ",", "}"))
    assert(spark.read.parquet(q2).as[String].collect().sorted.toSeq === (planted ++ json).sorted)
    assert(all.cells.count() === 0)
  }

  test("compactMinor ledger: a re-used batch id with DIFFERENT content fails loudly; the ledger stays bounded") {
    import graft.sources.CellCompaction
    val root = tmpDir() + "/fpledger"
    val dest = s"$root/serving"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    def writeBatch(b: Int, nRows: Int): Unit = {
      val wide = (0 until nRows).map { i =>
        val r = (0 until 9).map(c => s"fp${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
        f"$root/batch_$b%05d")
    }
    writeBatch(0, 40); writeBatch(1, 40)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 2)
    // BOUNDED: only the newest absorbed id is retained (streaming commits
    // batch N before producing N+1, so older ids can never replay), and
    // every retained entry is a v2 name\tfingerprint line
    val ledger = new java.io.File(dest, CellCompaction.AbsorbedLedger)
    val lines = scala.io.Source.fromFile(ledger, "UTF-8").getLines()
      .filter(_.nonEmpty).toSeq
    assert(lines.map(_.split('\t').head) === Seq("batch_00001"))
    assert(lines.forall(l => l.split('\t').length === 2 &&
      l.split('\t')(1).matches("v2:[0-9a-f]{32}")))
    // a same-named dir holding NEW data (checkpoint reset / second stream
    // into this dest) is NOT a replay: refuse loudly, delete nothing
    writeBatch(1, 55)
    val rowsBefore = spark.read.parquet(dest).count()
    val e = intercept[IllegalStateException](
      CellCompaction.compactMinor(spark, root, dest, cfg))
    assert(e.getMessage.contains("DIFFERENT content"))
    assert(CellCompaction.batchDirs(spark, root).nonEmpty,
      "the mismatched fileset must NOT be deleted")
    assert(spark.read.parquet(dest).count() === rowsBefore,
      "nothing may be absorbed past a fingerprint mismatch")
    // a recorded value that is not a v2 fingerprint (here the same md5
    // body without its prefix) never matches, even under a true replay
    // of the original content: it fails loudly and retires nothing
    val bareHex = lines.head.split('\t') match {
      case Array(n, fp) => s"$n\t${fp.stripPrefix("v2:")}\n"
    }
    java.nio.file.Files.writeString(ledger.toPath, bareHex)
    // the raw rewrite invalidates the local-FS checksum sidecar
    new java.io.File(dest, "." + CellCompaction.AbsorbedLedger + ".crc").delete()
    writeBatch(1, 40) // the original batch_00001 content, re-landed
    intercept[IllegalStateException](CellCompaction.compactMinor(spark, root, dest, cfg))
    assert(CellCompaction.batchDirs(spark, root).nonEmpty &&
      spark.read.parquet(dest).count() === rowsBefore,
      "a non-v2 ledger entry must leave the batch dir in place, nothing absorbed")
  }

  test("batch fileset fingerprint: deterministic across identical re-writes, different for different content") {
    // the replay guard's foundation: a deterministic foreachBatch replay
    // re-lands byte-identical part files (fresh names, same lengths), so
    // the name-independent length fingerprint matches — and any content
    // change moves at least one length
    import graft.sources.CellCompaction
    import org.apache.hadoop.fs.Path
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    def land(dir: String, nRows: Int): Unit = {
      val wide = (0 until nRows).map { i =>
        val r = (0 until 9).map(c => s"fpd_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells, dir)
    }
    val base = tmpDir()
    land(s"$base/a", 40); land(s"$base/b", 40); land(s"$base/c", 55)
    val fs = new Path(base).getFileSystem(spark.sessionState.newHadoopConf())
    val (fa, fb, fc) = (CellCompaction.fingerprint(fs, new Path(s"$base/a")),
      CellCompaction.fingerprint(fs, new Path(s"$base/b")),
      CellCompaction.fingerprint(fs, new Path(s"$base/c")))
    assert(fa === fb, "identical content re-landed must fingerprint identically")
    assert(fa !== fc, "different content must move the fingerprint")
    // name-independence: part names differ across the two writes (fresh
    // task UUIDs) even though the fingerprints match
    def names(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert((names(s"$base/a") intersect names(s"$base/b")).isEmpty)
  }

  test("replay fingerprint folds in row counts + key bounds: footer-sourced ≡ manifest-sourced; a row-count change at identical lengths moves it") {
    import graft.sources.{CellCompaction, CellManifest}
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    val base = tmpDir()
    val wide = (0 until 40).map { i =>
      val r = (0 until 9).map(c => s"fpr_v${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    SortedParquetCellSink.write(
      BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
      s"$base/d")
    val fs = new Path(base).getFileSystem(spark.sessionState.newHadoopConf())
    val p = new Path(s"$base/d")
    val fromManifest = CellCompaction.fingerprint(fs, p)
    // the two sourcing paths must agree: delete the manifest (and its
    // checksum sidecar) and the per-file footer opens yield the same hash
    val mf = new java.io.File(s"$base/d", CellManifest.FileName)
    val crcName = "." + CellManifest.FileName + ".crc"
    val bytes = java.nio.file.Files.readAllBytes(mf.toPath)
    assert(mf.delete())
    new java.io.File(s"$base/d", crcName).delete()
    assert(CellCompaction.fingerprint(fs, p) === fromManifest,
      "manifest-sourced and footer-sourced fingerprints must agree")
    // forge the manifest: same names, same LENGTHS, different ROW COUNTS —
    // the checkpoint-reset corner a lengths-only hash cannot see. The
    // fingerprint trusts a length-matching manifest entry, so it must move.
    val forged = new String(bytes, "UTF-8").split('\n').filter(_.nonEmpty)
      .map { l =>
        val f = l.split('\t'); f(2) = (f(2).toLong + 1).toString; f.mkString("\t")
      }.mkString("", "\n", "\n")
    java.nio.file.Files.write(mf.toPath, forged.getBytes("UTF-8"))
    new java.io.File(s"$base/d", crcName).delete()
    assert(CellCompaction.fingerprint(fs, p) !== fromManifest,
      "a row-count change at identical part lengths must move the fingerprint")
  }

  test("compactMinor: corrupted/hand-edited ledger lines are dropped, never crash the sweep") {
    import graft.sources.CellCompaction
    val root = tmpDir() + "/badledger"
    val dest = s"$root/serving"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(10).toSeq))
    def writeBatch(b: Int, nRows: Int): Unit = {
      val wide = (0 until nRows).map { i =>
        val r = (0 until 9).map(c => s"bl${b}_v${i}_$c")
        (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
      }.toDF((0 until 9).map(i => s"c$i"): _*)
      SortedParquetCellSink.write(
        BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells,
        f"$root/batch_$b%05d")
    }
    writeBatch(0, 30)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 1)
    // hand-edit the ledger: a non-batch name and a junk line — neither can
    // ever match a batch dir, so both are droppable; before validation the
    // bounded-retention filter crashed every later sweep on toLong
    val ledger = new java.io.File(dest, CellCompaction.AbsorbedLedger)
    val text = scala.io.Source.fromFile(ledger, "UTF-8").mkString
    java.nio.file.Files.write(ledger.toPath,
      (text + "not_a_batch\tdeadbeef\ngarbage line without tabs\n").getBytes("UTF-8"))
    new java.io.File(dest, "." + CellCompaction.AbsorbedLedger + ".crc").delete()
    writeBatch(1, 30)
    assert(CellCompaction.compactMinor(spark, root, dest, cfg) === 1,
      "a sweep past a corrupted ledger line must degrade, not crash")
    // the rewritten ledger carries only well-formed batch ids
    val after = scala.io.Source.fromFile(ledger, "UTF-8").getLines()
      .filter(_.nonEmpty).toSeq
    assert(after.nonEmpty &&
      after.forall(_.split('\t').head.matches("batch_\\d+")), after.toString)
  }

  test("CellManifest.persist installs atomically: racing reads parse complete manifests, never a prefix; tmp fallback covers the rename window") {
    import graft.sources.CellManifest
    val dir = tmpDir() + "/race"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(8).toSeq))
    val wide = (0 until 40).map { i =>
      val r = (0 until 9).map(c => s"race_v${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    SortedParquetCellSink.write(
      BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells, dir)
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts > 0)
    // hammer full rewrites on another thread while this one reads: the
    // rename-based install means every successful read parses COMPLETELY
    // (full part count, no torn/conservative entries). A transient None
    // (e.g. a checksum-sidecar race on the local FS) is the documented
    // degrade path and is allowed; a PARTIAL parse never is.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread({ () =>
      try (0 until 12).foreach(_ => CellManifest.write(spark, dir))
      catch { case t: Throwable => writerErr.set(t) }
      finally stop.set(true)
    }: Runnable)
    writer.start()
    var observed = 0
    while (!stop.get()) {
      CellManifest.read(spark, dir).foreach { m =>
        assert(m.size === parts, "a racing read may never see a partial manifest")
        assert(m.values.forall(e => e.length >= 0 && e.rows >= 0 && e.bounds.nonEmpty),
          "a racing read may never see torn entries under pure rewrites")
        observed += 1
      }
    }
    writer.join()
    assert(writerErr.get() === null, s"writer failed: ${writerErr.get()}")
    assert(observed > 0, "the reader must have observed the manifest")
    // the [live-missing, tmp-present] retire-first window (HDFS rename
    // semantics): a reader falls back to the COMPLETE temp sibling
    val expected = CellManifest.read(spark, dir).get
    val live = new java.io.File(dir, CellManifest.FileName)
    // temps are UUID-suffixed since the concurrent-writer fix; the
    // reader globs FileName.tmp-*
    val tmp = new java.io.File(dir, CellManifest.FileName + ".tmp-racewindow")
    assert(live.renameTo(tmp))
    val liveCrc = new java.io.File(dir, "." + CellManifest.FileName + ".crc")
    if (liveCrc.exists())
      assert(liveCrc.renameTo(
        new java.io.File(dir, "." + CellManifest.FileName + ".tmp-racewindow.crc")))
    val viaTmp = CellManifest.read(spark, dir)
    assert(viaTmp.isDefined, "read must fall back to the tmp sibling")
    assert(viaTmp.get.keySet === expected.keySet)
  }

  test("CellManifest.persist sweep is grace-guarded: stale crashed-writer temps are swept, a concurrent writer's fresh temp survives") {
    import graft.sources.CellManifest
    val dir = tmpDir() + "/sweepgrace"
    val cfg = BulkLoad.Config(splits =
      Some(graft.operators.RegionSort.uniformMd5Splits(4).toSeq))
    val wide = (0 until 10).map { i =>
      val r = (0 until 9).map(c => s"swp_v${i}_$c")
      (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8))
    }.toDF((0 until 9).map(i => s"c$i"): _*)
    SortedParquetCellSink.write(
      BulkLoad.fromPositional(wide, BulkLoad.emptyQuarantine(spark), cfg).cells, dir)
    // a STALE temp (a crashed writer's leftover, mtime past the grace
    // window) and a FRESH temp (a concurrent writer's in-flight file —
    // deleting it would fail that writer's install AND make it retire
    // the live manifest, the r15 ADVICE race)
    val stale = new java.io.File(dir, CellManifest.FileName + ".tmp-stalecrash")
    val fresh = new java.io.File(dir, CellManifest.FileName + ".tmp-inflight")
    java.nio.file.Files.writeString(stale.toPath, "half-written")
    java.nio.file.Files.writeString(fresh.toPath, "half-written")
    assert(stale.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    CellManifest.write(spark, dir) // persist() runs the sweep
    assert(!stale.exists(), "crashed-writer leftover must be swept")
    assert(fresh.exists(), "a concurrent writer's fresh temp must survive the sweep")
    assert(CellManifest.read(spark, dir).isDefined)
  }

  test("streaming ingest: a deferred-manifest failure degrades to footer fallback — batch commits, counts exact, serving read exact") {
    import graft.streaming.StreamingIngest
    import graft.sources.CellManifest
    val in = tmpDir() + "/in"
    new java.io.File(in).mkdirs()
    def put(name: String, rows: Seq[Product]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        rows.map(_.productIterator.mkString(",")).mkString("\n").getBytes("UTF-8"))
    put("f1.txt", Seq(rows9(0), rows9(1)))
    put("f2.txt", Seq(rows9(2)))
    val out = tmpDir() + "/out"
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    CellManifest.failWritesUnder = Some(out)
    val batches =
      try {
        System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
        try StreamingIngest.run(spark, in, out, tmpDir() + "/ckpt",
          cfg = BulkLoad.Config(compatNaiveSplit = true))
        finally System.setErr(oldErr)
      } finally CellManifest.failWritesUnder = None
    assert(batches.length === 2, "batches must still commit past a manifest failure")
    assert(new String(errBuf.toByteArray, "UTF-8").contains("readers fall back to footers"),
      "the degrade must be logged, not silent")
    batches.foreach { b =>
      assert(!new java.io.File(b.path, CellManifest.FileName).exists(),
        "the injected failure must have blocked the manifest write")
      assert(b.cells === spark.read.parquet(b.path).count(),
        "the cell-count readback must be exact via the footer fallback")
    }
    // serving content is exact without any manifest (scan-side footer path)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(hex(col("row")), hex(col("qualifier")), hex(col("value")))
      .as[(String, String, String)].collect().sorted.toSeq
    val streamed = batches.map(b => spark.read.parquet(b.path))
      .reduce(_ unionByName _)
    val batch = BulkLoad.csv(spark, in, BulkLoad.Config(compatNaiveSplit = true))
    assert(key(streamed) === key(batch.cells))
  }

  test("streaming ingest: a failed cells write fails the batch LOUDLY with the quarantine job joined, not orphaned") {
    import graft.streaming.StreamingIngest
    val in = tmpDir() + "/in"
    new java.io.File(in).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "f1.txt"),
      Seq(rows9(0), rows9(1)).map(_.productIterator.mkString(","))
        .mkString("\n").getBytes("UTF-8"))
    val out = tmpDir() + "/out"
    val boom = new CellSink {
      override def write(cells: org.apache.spark.sql.DataFrame, path: String): Unit =
        throw new RuntimeException("injected cells-write failure")
    }
    val e = intercept[Throwable](
      StreamingIngest.run(spark, in, out, tmpDir() + "/ckpt",
        cfg = BulkLoad.Config(compatNaiveSplit = true), sinkOverride = Some(boom)))
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ causes(t.getCause)
    assert(causes(e).exists(_.contains("injected cells-write failure")),
      s"the batch failure must propagate loudly, got: ${causes(e)}")
    // the in-flight quarantine job was JOINED before the failure left the
    // batch body: its output is a committed fileset (_SUCCESS present),
    // never an orphan writer that would race a replayed batch's overwrite
    assert(new java.io.File(s"$out/batch_00000.quarantine", "_SUCCESS").exists(),
      "quarantine must be complete by the time the batch failure surfaces")
  }

  test("IngestCli dedup-build / dedup-advance verbs e2e: advance ≡ full recompute; --from-key errors are loud") {
    import graft.operators.Dedup
    val drop1 = tmpDir() + "/drop1"
    val drop2 = tmpDir() + "/drop2"
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val docs1 = all.where(col("doc_id") % 5 < 4)
    val docs2 = all.where(col("doc_id") % 5 === 4)
    docs1.write.parquet(s"$drop1/documents.parquet")
    docs2.write.parquet(s"$drop2/documents.parquet")
    // build: publishes under the drop-stamped key and prints valid JSON
    val o1 = IngestCli.storeCommand(spark, "dedup-build",
      s"$drop1/documents.parquet", drop1, Map.empty)
    assert(o1.startsWith("""{"verb":"dedup-build","store":""""))
    val built = Dedup.openStore(spark, drop1, 3, 0.8)
    assert(built.isDefined, "dedup-build must publish under the given key")
    assert(o1.contains(s""""store":${IngestCli.jstr(built.get.dir)}"""))
    // advance: --from-key resolves the PUBLISHED store (never rebuilds),
    // and the advanced assignment equals a full recompute on drop1 ∪ drop2
    val advKey = s"$drop2#cliadv"
    val o2 = IngestCli.storeCommand(spark, "dedup-advance",
      s"$drop2/documents.parquet", advKey, Map("--from-key" -> drop1))
    assert(o2.startsWith("""{"verb":"dedup-advance""""))
    val adv = Dedup.openStore(spark, advKey, 3, 0.8)
    assert(adv.isDefined, "dedup-advance must publish under the new key")
    val full = Dedup.clusters(
        Dedup.corpusDedup(docs1.unionByName(docs2), 3, 0.8)
          .select(col("a"), col("b")))
      .as[(Long, Long)].collect().toMap
    assert(adv.get.clusters.as[(Long, Long)].collect().toMap === full)
    assert(full.nonEmpty, "fixture must contain near-dup pairs")
    // error paths: the usage contract is asserted, not just 'it throws'
    val e1 = intercept[IllegalArgumentException](IngestCli.storeCommand(
      spark, "dedup-advance", s"$drop2/documents.parquet", advKey, Map.empty))
    assert(e1.getMessage.contains("requires --from-key"))
    val e2 = intercept[IllegalArgumentException](IngestCli.storeCommand(
      spark, "dedup-advance", s"$drop2/documents.parquet", advKey,
      Map("--from-key" -> (tmpDir() + "/nowhere"))))
    assert(e2.getMessage.contains("no published dedup store"))
    intercept[IllegalArgumentException](IngestCli.storeCommand(
      spark, "bogus-verb", s"$drop1/documents.parquet", drop1, Map.empty))
  }

  test("IngestCli span-build / span-advance / span-clean verbs e2e: clean ≡ full-corpus removal on the drop; errors are loud") {
    import graft.operators.Dedup
    val drop1 = tmpDir() + "/spandrop1"
    val drop2 = tmpDir() + "/spandrop2"
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val docs1 = all.where(col("doc_id") % 5 < 4)
    val docs2 = all.where(col("doc_id") % 5 === 4)
    docs1.write.parquet(s"$drop1/documents.parquet")
    docs2.write.parquet(s"$drop2/documents.parquet")
    val o1 = IngestCli.storeCommand(spark, "span-build",
      s"$drop1/documents.parquet", drop1, Map.empty)
    assert(o1.startsWith("""{"verb":"span-build","store":""""))
    val built = Dedup.openSpanStore(spark, drop1, 8)
    assert(built.isDefined, "span-build must publish under the given key")
    // clean: rewrite drop2 against drop1's registry ≡ one-shot removal
    // over drop1 ∪ drop2 restricted to drop2's ids
    val outDir = tmpDir() + "/spanclean"
    val o2 = IngestCli.storeCommand(spark, "span-clean",
      s"$drop2/documents.parquet", outDir, Map("--from-key" -> drop1))
    assert(o2.startsWith("""{"verb":"span-clean","out":"""), o2)
    val cleaned = spark.read.parquet(outDir)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val oneShot = Dedup.removeRepeatedSpans(docs1.unionByName(docs2), 8)
      .where(col("doc_id") % 5 === 4)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(cleaned === oneShot)
    assert(cleaned.exists(_._4 > 0L), "fixture must contain removable dup spans")
    // advance: published merged registry ≡ fresh full rebuild
    val advKey = s"$drop2#cliadv"
    val o3 = IngestCli.storeCommand(spark, "span-advance",
      s"$drop2/documents.parquet", advKey, Map("--from-key" -> drop1))
    assert(o3.startsWith("""{"verb":"span-advance""""), o3)
    def rows(st: Dedup.SpanStore) =
      st.spans.select(lower(hex(col("s"))), col("keeper"), col("ndocs"))
        .collect().map(_.toString).sorted.toSeq
    val rebuilt = Dedup.spanStore(docs1.unionByName(docs2), 8, s"$drop2#clirebuild")
    assert(rows(Dedup.openSpanStore(spark, advKey, 8).get) === rows(rebuilt))
    // error paths
    val e1 = intercept[IllegalArgumentException](IngestCli.storeCommand(
      spark, "span-clean", s"$drop2/documents.parquet", outDir, Map.empty))
    assert(e1.getMessage.contains("requires --from-key"))
    val e2 = intercept[IllegalArgumentException](IngestCli.storeCommand(
      spark, "span-advance", s"$drop2/documents.parquet", advKey,
      Map("--from-key" -> (tmpDir() + "/nowhere"))))
    assert(e2.getMessage.contains("no published span store"))
  }

  test("IngestCli ann-build verb e2e: publishes the IVF store; stored serve ≡ self-contained ivfTopK") {
    import graft.operators.Similarity
    val drop = tmpDir() + "/anndrop"
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    emb.write.parquet(s"$drop/embeddings.parquet")
    val o = IngestCli.storeCommand(spark, "ann-build",
      s"$drop/embeddings.parquet", drop, Map.empty)
    assert(o.startsWith("""{"verb":"ann-build","store":""""))
    assert(o.contains(""""nlist":16"""))
    assert(o.contains(s""""vectors":${emb.count()}"""))
    // the published store serves: re-resolving the key is build-once, and
    // the stored serve matches the self-contained plan's values
    val store = Similarity.annIndexStore(
      spark.read.parquet(s"$drop/embeddings.parquet"), 16, drop)
    val q = emb.where(col("vec_id") === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Similarity.ivfTopKStored(store, q, 10)) ===
      rows(Similarity.ivfTopK(emb, q, 10)))
    // --nlist plumbing reaches the build
    val o8 = IngestCli.storeCommand(spark, "ann-build",
      s"$drop/embeddings.parquet", s"$drop#n8", Map("--nlist" -> "8"))
    assert(o8.contains(""""nlist":8"""))
  }

  test("IngestCli ann-gc verb: retires a compacted-away chain, never a BASE-referenced or chained-under link") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val key = s"anngc-${java.util.UUID.randomUUID()}"
    val root = sys.props.getOrElse("graft.store.dir",
      sys.props("java.io.tmpdir") + "/graft-ann-store")
    val oldV = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val b1 = emb.where(pmod(col("vec_id"), lit(20)) === 0)
    val b2 = emb.where(pmod(col("vec_id"), lit(20)) === 10)
    val base = Similarity.annIndexStore(oldV, 16, key)
    val a1 = Similarity.annIndexStoreAdvance(base, b1, s"$key#a1")
    val a2 = Similarity.annIndexStoreAdvance(a1, b2, s"$key#a2")
    val cpt = Similarity.annIndexStoreCompact(a2, s"$key#cpt")
    // an EXTERNAL chain grows from a1 — the orphan-protection fixture:
    // deleting a1 (or anything below it) would orphan this store
    val ext = Similarity.annIndexStoreAdvance(a1,
      emb.where(col("vec_id") < 2)
        .select((col("vec_id") + lit(700000L)).as("vec_id"), col("embedding")),
      s"$key#ext")
    def alive(st: Similarity.AnnIndexStore) =
      new java.io.File(st.dir.stripPrefix("file:")).exists()
    // dry run: the full plan, nothing touched
    val dry = IngestCli.annGcCommand(spark, cpt.dir, root, dryRun = true)
    assert(dry.contains(""""dry_run":true"""))
    assert(dry.contains(s""""deleted":[${IngestCli.jstr(a2.dir)}]"""),
      s"only the unreferenced head is deletable: $dry")
    assert(dry.contains("referenced by BASE of"))
    assert(Seq(base, a1, a2, cpt, ext).forall(alive))
    // real run: head gone; the referenced link, its base, the compacted
    // store, and the external chain all survive and still serve
    val out = IngestCli.annGcCommand(spark, cpt.dir, root, dryRun = false)
    assert(out.contains(s""""deleted":[${IngestCli.jstr(a2.dir)}]"""))
    assert(!alive(a2), "the superseded unreferenced head must be deleted")
    assert(Seq(base, a1, cpt, ext).forall(alive),
      "a chained-under or BASE-referenced link is NEVER deleted")
    assert(ext.lists.count() === oldV.count() + b1.count() + 2)
    assert(Similarity.ivfTopKStored(cpt,
      emb.where(col("vec_id") === 0), 5).count() === 5)
    // refusal paths are loud: not-a-compacted-store; integrity damage
    val e1 = intercept[IllegalArgumentException](
      IngestCli.annGcCommand(spark, a1.dir, root, dryRun = true))
    assert(e1.getMessage.contains("COMPACTED_FROM"))
    // second chain: wound a link's lists fileset → gc refuses wholesale
    val key2 = s"$key-2"
    val base2 = Similarity.annIndexStore(oldV, 16, s"$key2")
    val c1 = Similarity.annIndexStoreAdvance(base2, b1, s"$key2#a1")
    val cpt2 = Similarity.annIndexStoreCompact(c1, s"$key2#cpt")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete()
    }
    rmTree(new java.io.File(c1.dir.stripPrefix("file:"), "lists.parquet"))
    val e2 = intercept[IllegalStateException](
      IngestCli.annGcCommand(spark, cpt2.dir, root, dryRun = false))
    assert(e2.getMessage.contains("integrity"))
    assert(alive(base2) && alive(cpt2))
  }

  test("IngestCli.jstr: the CLI's one-line JSON survives quotes, backslashes and control bytes") {
    assert(IngestCli.jstr("plain") === "\"plain\"")
    assert(IngestCli.jstr("a\"b\\c\nd") === "\"a\\\"b\\\\c\\u000ad\"")
  }

  test("streaming hivetext: CLI delimiter mapping parses \\u0001 lines byte-identically to the batch driver") {
    import graft.streaming.StreamingIngest
    val in = tmpDir() + "/in"
    new java.io.File(in).mkdirs()
    // \\u0001-joined lines, plus one short line that must quarantine (not
    // explode into per-character tokens — the regression the CLI mapping
    // test exists to catch: an empty delimiter splits per character)
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "f1.txt"),
      (rows9.take(2).map(_.productIterator.mkString("\u0001")) :+ "short\u0001line")
        .mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "f2.txt"),
      rows9.drop(2).map(_.productIterator.mkString("\u0001")).mkString("\n").getBytes("UTF-8"))

    // the CLI's own streaming mapping, not a hand-written delimiter
    val Some((cfg, delim)) = IngestCli.streamConfig("hivetext", BulkLoad.Config())
    val out = tmpDir() + "/out"
    val batches = StreamingIngest.run(spark, in, out, tmpDir() + "/ckpt", cfg, delim)
    assert(batches.length === 2)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(hex(col("row")), hex(col("qualifier")), hex(col("value")))
      .as[(String, String, String)].collect().sorted.toSeq
    val streamed = batches.map(b => spark.read.parquet(b.path)).reduce(_ unionByName _)
    val batch = BulkLoad.hiveText(spark, in)
    assert(key(streamed) === key(batch.cells))
    assert(streamed.count() === 27) // 3 arity-9 rows; the 2-token line is out
    val quarantined = batches.map(b => spark.read.parquet(s"${b.path}.quarantine"))
      .reduce(_ unionByName _)
    assert(quarantined.as[String].collect().toSeq === Seq("short\u0001line"))
  }
}
