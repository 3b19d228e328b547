package graft

import graft.functions.keys
import graft.operators.RegionSort
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2): key-width, unsigned
  * ordering, reversal, salt-range, and partitioner-routing laws.
  * ScalaCheck is used as the generator (fixed seed ⇒ reproducible);
  * samples are batched into one DataFrame per law so each property is a
  * single Spark job. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val asciiStr = Gen.asciiPrintableStr.map(_.take(80))

  test("shingleStructs ≡ positionalShingles on random token lists (n = 2..4)") {
    import graft.operators.TextOps
    // word pool includes multi-byte UTF-8 and digits; list length spans the
    // empty / shorter-than-n / equal-to-n / longer classes
    val tokGen = Gen.choose(0, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "bb", "ccc", "dddd", "é文", "x1", "a")))
    val texts = samples(tokGen, 150).map(_.mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (n <- 2 to 4) {
      val ref = df.select(col("doc_id"), posexplode(TextOps.positionalShingles(col("text"), n)))
        .select(col("doc_id"), col("pos"), col("col"))
        .as[(Long, Int, String)].collect().sorted.toSeq
      val got = df.select(col("doc_id"), posexplode(TextOps.shingleStructs(col("text"), n)))
        .select(col("doc_id"), col("pos"), TextOps.shingleString(col("col"), n))
        .as[(Long, Int, String)].collect().sorted.toSeq
      assert(got === ref, s"n=$n")
    }
  }

  test("keyValueWire layout invariants for arbitrary row/qualifier/value bytes") {
    val bytes = Gen.choose(1, 40).flatMap(len =>
      Gen.listOfN(len, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    val rows = samples(Gen.zip(bytes, bytes, bytes, Gen.chooseNum(0L, 1L << 40)), 120)
    val kvs = rows.toDF("r", "q", "v", "ts")
      .select(struct(col("r"), col("q"), col("v"), col("ts")).as("in"),
        keys.keyValueWire(col("r"), lit("c").cast("binary"), col("q"),
          col("v"), col("ts")).as("kv"))
      .as[((Array[Byte], Array[Byte], Array[Byte], Long), Array[Byte])].collect()
    def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    kvs.foreach { case ((r, q, v, ts), kv) =>
      val keylen = be32(kv, 0)
      val vallen = be32(kv, 4)
      assert(keylen === 2 + r.length + 1 + 1 + q.length + 8 + 1)
      assert(vallen === v.length)
      assert(kv.length === 8 + keylen + vallen)
      // rowlen short + row bytes recovered at their offsets
      assert(((kv(8) & 0xff) << 8 | (kv(9) & 0xff)) === r.length)
      assert(kv.slice(10, 10 + r.length).toSeq === r.toSeq)
      // value is the tail
      assert(kv.takeRight(vallen).toSeq === v.toSeq)
      // type byte Put=4 sits just before the value
      assert(kv(8 + keylen - 1) === 4.toByte)
      // big-endian ts at its offset
      val tsOff = 8 + keylen - 9
      val gotTs = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (kv(tsOff + i) & 0xffL))
      assert(gotTs === ts)
    }
  }

  test("md5CompositeKey width = 16 × #fields for arbitrary strings") {
    val rows = samples(Gen.zip(asciiStr, asciiStr, asciiStr, asciiStr), 200)
    val widths = rows.toDF("a", "b", "c", "d")
      .select(length(keys.md5CompositeKey(Seq(col("a"), col("b"), col("c"), col("d")))))
      .as[Int].collect()
    assert(widths.forall(_ === 64))
  }

  test("reverse ∘ reverse = identity on key strings") {
    val rows = samples(asciiStr, 200)
    val got = rows.toDF("v").select(col("v"), reverse(reverse(col("v"))))
      .as[(String, String)].collect()
    assert(got.forall { case (orig, rt) => orig == rt })
  }

  test("unsignedBytes is a total order consistent with HBase semantics") {
    val bytesGen = Gen.listOfN(8, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    val cmp = RegionSort.unsignedBytes
    samples(Gen.zip(bytesGen, bytesGen, bytesGen), 300).foreach { case (a, b, c) =>
      assert(math.signum(cmp.compare(a, b)) === -math.signum(cmp.compare(b, a)))
      if (cmp.compare(a, b) <= 0 && cmp.compare(b, c) <= 0)
        assert(cmp.compare(a, c) <= 0)
      assert(cmp.compare(a, a ++ Array[Byte](0)) < 0) // strict prefix sorts first
    }
  }

  test("salt prefix is always one ASCII digit within bucket range") {
    val ks = samples(Gen.chooseNum(Long.MinValue + 10, Long.MaxValue), 300)
    val salts = ks.toDF("k").select(keys.saltPrefix(col("k"), 10).cast("string"))
      .as[String].collect()
    assert(salts.forall(s => s.length == 1 && s.head.isDigit))
  }

  test("RegionPartitioner routes every key to the unique region containing it") {
    val splits = RegionSort.saltSplits(10)
    val p = new RegionSort.RegionPartitioner(splits)
    val keyGen = Gen.listOfN(6, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    samples(keyGen, 500).foreach { k =>
      val r = p.getPartition(k)
      assert(r >= 0 && r < 10)
      if (r > 0) assert(RegionSort.unsignedBytes.compare(splits(r - 1), k) <= 0)
      if (r < splits.length) assert(RegionSort.unsignedBytes.compare(k, splits(r)) < 0)
    }
  }

  test("loadSplits: hex round-trip, comment/blank tolerance, bad-hex rejection") {
    val hexLine = Gen.choose(1, 6).flatMap(pairs =>
      Gen.listOfN(pairs * 2, Gen.oneOf("0123456789abcdefABCDEF".toSeq)).map(_.mkString))
    val linesSample = samples(Gen.listOfN(8, hexLine), 40)
    linesSample.foreach { lines =>
      val f = java.nio.file.Files.createTempFile("graft-prop-splits", ".txt")
      java.nio.file.Files.write(f,
        ("# header\n" + lines.mkString("\n") + "\n\n# tail\n").getBytes("UTF-8"))
      val parsed = IngestCli.loadSplits(f.toString)
      assert(parsed.length === lines.length)
      // parse is value-preserving: re-hex gives the lowercased input
      parsed.zip(lines).foreach { case (bytes, line) =>
        assert(bytes.map("%02x".format(_)).mkString === line.toLowerCase)
      }
      java.nio.file.Files.delete(f)
    }
    // odd length and non-hex both fail fast
    for (badLine <- Seq("0g", "abc")) {
      intercept[IllegalArgumentException] {
        val bad = java.nio.file.Files.createTempFile("graft-prop-splits", ".txt")
        java.nio.file.Files.write(bad, s"$badLine\n".getBytes("UTF-8"))
        IngestCli.loadSplits(bad.toString)
      }
    }
  }

  test("md5Prefix64 equals BigInteger reference for arbitrary bytes and widths 1..16") {
    import org.apache.spark.sql.types.BinaryType
    val bytes = Gen.choose(0, 60).flatMap(len =>
      Gen.listOfN(len, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    val inputs = samples(bytes, 80)
    val df = inputs.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "b")
    for (n <- Seq(1, 7, 8, 15, 16)) {
      val got = df.select(col("i"), keys.md5Prefix64(col("b").cast(BinaryType), n))
        .as[(Int, Long)].collect().toMap
      inputs.zipWithIndex.foreach { case (b, i) =>
        val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(b)
        val expected = new java.math.BigInteger(hex.substring(0, n), 16).longValue()
        assert(got(i) === expected, s"n=$n i=$i")
      }
    }
  }

  test("cells explode: count = Σ non-null fields, for arbitrary null patterns") {
    val rows = samples(Gen.listOfN(5, Gen.option(asciiStr)), 100)
    val df = rows.map(f => (f(0).orNull, f(1).orNull, f(2).orNull, f(3).orNull, f(4).orNull))
      .toDF("c0", "c1", "c2", "c3", "c4")
    val cellCount = graft.operators.CellOps.explodeIndexed(
      df, keys.md5Raw(lit("k")), "c", (0 until 5).map(i => col(s"c$i"))).count()
    assert(cellCount === rows.map(_.count(_.isDefined)).sum)
  }

  test("intervalOverlapJoin ≡ quadratic overlap join on random interval sets") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // starts across ~3 days, lengths from sub-bucket (minutes) to
    // multi-bucket (up to 8 h) — exercises same-bucket, spanning, and
    // touching-endpoint geometries
    val iv = Gen.zip(Gen.chooseNum(0L, 72L * 3600), Gen.chooseNum(60L, 8L * 3600))
    def frame(n: Int, seedOff: Int, tag: String) =
      samples(iv, n).zipWithIndex.map { case ((off, len), i) =>
        (s"$tag$i", new java.sql.Timestamp(base + (off + seedOff) * 1000L),
          new java.sql.Timestamp(base + (off + seedOff + len) * 1000L))
      }.toDF("id", "start", "end")
    val a = frame(60, 0, "a")
    val b = frame(60, 1234, "b")
    val got = graft.operators.TimeSeries.intervalOverlapJoin(a, b)
      .select("a_id", "b_id").as[(String, String)].collect().toSeq
    val naive = a.as("x").crossJoin(b.as("y"))
      .where(col("x.start") <= col("y.end") && col("y.start") <= col("x.end"))
      .select(col("x.id"), col("y.id")).as[(String, String)].collect().toSeq
    assert(got.sorted === naive.sorted)
    assert(got.size === got.distinct.size, "pair emitted more than once")
  }

  test("triangleCount is invariant under edge direction, duplication and permutation") {
    val edgeGen = Gen.zip(Gen.chooseNum(0, 14), Gen.chooseNum(0, 14))
      .map { case (x, y) => (s"n$x", s"n$y") }
    val edges = samples(edgeGen, 60)
    def count(es: Seq[(String, String)]): Long =
      graft.operators.GraphOps.triangleCount(es.toDF("a", "b"))
        .as[Long].collect().head
    val baseline = count(edges)
    assert(count(edges.map(_.swap)) === baseline, "direction must not matter")
    assert(count(edges ++ edges.take(20)) === baseline, "duplicates must not matter")
    assert(count(scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(edges)) === baseline, "order must not matter")
  }

  test("kMeans: every vector lands on its genuinely nearest centroid (argmin law)") {
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-100, 100).map(_ / 10.0f)).map(_.toArray)
    val vecs = samples(vecGen, 80).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val corpus = vecs.toDF("vec_id", "embedding")
    // iters = 1 assigns against the INITIAL centroids, which the test can
    // reconstruct exactly: the k vectors first in (md5(id), id) order
    val assign = graft.operators.Similarity.kMeans(corpus, 5, iters = 1)
      .as[(Long, Int, Double)].collect()
    val k = 5
    val init = vecs
      .sortBy { case (id, _) =>
        (org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString), id)
      }.take(k).map(_._2.map(_.toDouble)).zipWithIndex
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i)) // sequential fold
    def d2(v: Array[Double], c: Array[Double]) = {
      val raw = dot(v, v) - 2 * dot(v, c) + dot(c, c)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = vecs.toMap
    assert(assign.length === 80)
    assign.foreach { case (id, cluster, dist) =>
      val v = byId(id).map(_.toDouble)
      val best = init.map { case (c, cid) => (d2(v, c), cid) }.min // (d2, cid) tie order
      assert((best._2, best._1) === (cluster, dist),
        s"vec $id: got cluster $cluster d2 $dist, argmin says $best")
    }
  }

  test("BPE merge rewrite ≡ canonical leftmost-greedy fold on filtered words") {
    // Bpe's merge step is sentinel-string replace applied 3×; the claim
    // (Bpe.scala scaladoc) is that on triple-run-filtered words with
    // single-char symbols this equals the canonical non-overlapping
    // leftmost fold for EVERY candidate pair. Hammer it with the full
    // {a,b,c} word space the filter admits.
    val sep = ''
    def foldMerge(syms: List[String], l: String, r: String): List[String] =
      syms.foldLeft(List.empty[String]) {
        case (acc, x) if acc.nonEmpty && acc.last == l && x == r =>
          acc.init :+ (l + r)
        case (acc, x) => acc :+ x
      }
    def replaceMerge(syms: List[String], l: String, r: String): List[String] = {
      val s0 = syms.mkString(sep.toString, sep.toString, sep.toString)
      val pat = s"$sep$l$sep$r$sep"
      val rep = s"$sep$l$r$sep"
      val s3 = s0.replace(pat, rep).replace(pat, rep).replace(pat, rep)
      s3.split(sep).filter(_.nonEmpty).toList
    }
    val word = for {
      n <- Gen.chooseNum(2, 20)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val cases = samples(word, 4000)
      .filter(w => !w.matches(".*(.)\\1\\1.*")) // the wordFreq filter
    assert(cases.size > 2000) // the filter must not hollow out the sample
    for (w <- cases; l <- Seq("a", "b", "c"); r <- Seq("a", "b", "c")) {
      val syms = w.map(_.toString).toList
      assert(replaceMerge(syms, l, r) === foldMerge(syms, l, r),
        s"word=$w pair=($l,$r)")
    }
  }

  test("labelDiversity ≡ naive mean pairwise cosine on random vectors") {
    import graft.operators.Similarity
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-5.0f, 5.0f))
      .map(_.toArray).suchThat(v => v.exists(_ != 0f))
    val vs = samples(vecGen, 60)
    val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 4) }
    val got = Similarity.labelDiversity(rows.toDF("vec_id", "embedding", "label"))
      .select("label", "mean_pair_cos").as[(Int, Double)].collect().toMap
    // naive O(n²) reference: mean cosine over distinct unordered pairs
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
    }
    rows.groupBy(_._3).foreach { case (label, members) =>
      val pairs = for {
        (a, i) <- members.zipWithIndex; (b, j) <- members.zipWithIndex if i < j
      } yield cos(a._2, b._2)
      val expected = pairs.sum / pairs.size
      // the operator normalizes through round-9 components; allow that slack
      assert(math.abs(got(label) - expected) < 1e-5,
        s"label $label: ${got(label)} vs $expected")
    }
  }

  test("removeRepeatedSpans ≡ in-memory reference; incremental ≡ full across random id-ordered splits") {
    import graft.operators.Dedup
    // 4-token pool + k=3 forces heavy cross-doc window collisions; doc
    // lengths span empty / shorter-than-k / exactly-k / longer classes
    val k = 3
    val docGen = Gen.choose(0, 14).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val corpus = samples(docGen, 24).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    // plain-Scala reference of the published semantics: every k-window in
    // ≥2 docs removes its covered positions everywhere but the min doc_id
    def reference(docs: Seq[(Long, String)]): Map[Long, (String, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val occs = for {
        (id, ws) <- docs.map { case (id, _) => id -> toks(id) }
        p <- 0 to ws.length - k
      } yield (ws.slice(p, p + k).mkString(" "), id, p)
      val removed = scala.collection.mutable.Set.empty[(Long, Int)]
      occs.groupBy(_._1).values.foreach { os =>
        val holders = os.map(_._2).distinct
        if (holders.size >= 2) {
          val keeper = holders.min
          os.foreach { case (_, id, p) =>
            if (id != keeper) (p until p + k).foreach(t => removed += ((id, t)))
          }
        }
      }
      docs.map { case (id, _) =>
        val ws = toks(id)
        val kept = ws.zipWithIndex.collect { case (w, i) if !removed((id, i)) => w }
        id -> ((kept.mkString(" "), ws.length.toLong, (ws.length - kept.length).toLong))
      }.toMap
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(df, k)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val ref = reference(corpus)
    assert(got === ref)
    assert(got.values.exists(_._3 > 0L), "generator must produce removable dups")
    // incremental ≡ full: registry built over ids < cut, batch = the rest
    for (cut <- Seq(5L, 12L, 20L)) {
      val reg = Dedup.spanRegistryMerge(
        Dedup.emptySpanRegistry(spark), df.where(col("doc_id") < cut), k)
      val inc = Dedup.removeRepeatedSpansVs(df.where(col("doc_id") >= cut), reg, k)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(inc === got.filter(_._1 >= cut), s"cut=$cut")
    }
    // the streaming step (shared window pass + lazy advance) produces the
    // SAME rewrite and the SAME advanced registry as the separate calls
    locally {
      val cut = 12L
      val reg = Dedup.spanRegistryMerge(
        Dedup.emptySpanRegistry(spark), df.where(col("doc_id") < cut), k)
      val (out2, adv2) = Dedup.removeRepeatedSpansAndAdvance(
        df.where(col("doc_id") >= cut), reg, k)
      val inc2 = out2.as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(inc2 === got.filter(_._1 >= cut), "AndAdvance rewrite drifted")
      def regRows(r: org.apache.spark.sql.DataFrame) =
        r.select(lower(hex(col("s"))), col("keeper"), col("ndocs"))
          .as[(String, Long, Long)].collect().toSet
      assert(regRows(adv2) === regRows(
        Dedup.spanRegistryMerge(Dedup.emptySpanRegistry(spark), df, k)),
        "advanced registry != full-corpus registry")
    }
  }

  test("manifest temp sweep: writer-epoch names age by embedded epoch, legacy names by filesystem mtime") {
    import graft.sources.{CellManifest, Publish}
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-sweep")
    val now = System.currentTimeMillis()
    val hourAgo = now - 3600L * 1000
    // stale by WRITER epoch though its mtime is fresh (store clock ahead):
    // swept — the embedded epoch is the age basis
    val stale = dir.resolve(s"${CellManifest.FileName}.tmp-$hourAgo-deadbeef")
    // fresh by writer epoch though its mtime is an hour old (store clock
    // behind): survives — pre-epoch naming would have swept a concurrent
    // writer's in-flight temp here
    val fresh = dir.resolve(s"${CellManifest.FileName}.tmp-$now-cafebabe")
    // legacy UUID-only name: no embedded epoch, ages by mtime
    val legacy = dir.resolve(s"${CellManifest.FileName}.tmp-0af3c1d2-e654")
    Seq(stale, fresh, legacy).foreach(p =>
      java.nio.file.Files.write(p, "x".getBytes("UTF-8")))
    fresh.toFile.setLastModified(hourAgo)
    legacy.toFile.setLastModified(hourAgo)
    CellManifest.write(spark, dir.toString) // install runs the sweep
    assert(!java.nio.file.Files.exists(stale), "stale-by-writer-epoch temp must be swept")
    assert(java.nio.file.Files.exists(fresh), "fresh-by-writer-epoch temp must survive mtime skew")
    assert(!java.nio.file.Files.exists(legacy), "legacy temp must still age by mtime")
    // the age-basis parse itself: >=13 all-digit head = writer epoch;
    // anything else (a UUID segment can be all digits but shorter) = mtime
    def st(name: String, mtime: Long) = new org.apache.hadoop.fs.FileStatus(
      1L, false, 1, 1L, mtime,
      new org.apache.hadoop.fs.Path(dir.toString, name))
    assert(Publish.tempAgeBasis(
      st(s"${CellManifest.FileName}.tmp-$hourAgo-u", now), CellManifest.FileName) === hourAgo)
    assert(Publish.tempAgeBasis(
      st(s"${CellManifest.FileName}.tmp-12345678-u", now), CellManifest.FileName) === now)
    // a 19+-digit all-digit head is NOT a writer epoch (it would overflow
    // Long): ages by mtime instead of throwing
    assert(Publish.tempAgeBasis(
      st(s"${CellManifest.FileName}.tmp-9999999999999999999-u", now), CellManifest.FileName) === now)
    // and one such name must never veto the rest of the sweep: the old
    // single Try around the whole glob aborted on the first bad head,
    // silently leaking every remaining stale temp (r16 advice) — now
    // each candidate is judged under its own Try
    val overflow = dir.resolve(s"${CellManifest.FileName}.tmp-9999999999999999999-x")
    val stale2 = dir.resolve(s"${CellManifest.FileName}.tmp-$hourAgo-ee")
    Seq(overflow, stale2).foreach(p =>
      java.nio.file.Files.write(p, "x".getBytes("UTF-8")))
    overflow.toFile.setLastModified(hourAgo)
    CellManifest.write(spark, dir.toString)
    assert(!java.nio.file.Files.exists(overflow),
      "overflow-named temp must age by mtime and be swept")
    assert(!java.nio.file.Files.exists(stale2),
      "a malformed sibling name must not veto sweeping a stale temp")
  }

  test("manifest parsing: EVERY byte-truncation yields only exact or conservative entries — never wrong bounds") {
    import graft.sources.CellManifest
    import graft.sources.CellManifest.Entry
    // a line torn inside its trailing hex field parses as VALID shorter
    // hex — an understated hi bound that would mis-prune; the parser's
    // torn-tail rule (complete files end in '\n') must catch every cut
    val rows = Seq(
      ("part-00000-aaaa.parquet", 123456L, 789L,
        Some((Array(0x00.toByte, 0xde.toByte),
          Array(0xad.toByte, 0xbe.toByte, 0xef.toByte)))),
      ("part-00001-bbbb.parquet", 99L, 1L,
        Some((Array(0x10.toByte), Array(0xff.toByte, 0x00.toByte)))),
      ("part-00002-cccc.parquet", 7L, 0L, None))
    def hex(b: Array[Byte]) = CellManifest.toHex(b)
    val body = rows.map {
      case (n, len, r, Some((lo, hi))) => s"$n\t$len\t$r\t${hex(lo)}\t${hex(hi)}"
      case (n, len, r, None)           => s"$n\t$len\t$r\t-\t-"
    }.mkString("", "\n", "\n")
    val expected = rows.map { case (n, len, r, b) => n -> Entry(len, r, b) }.toMap
    def same(a: Entry, b: Entry): Boolean =
      a.length == b.length && a.rows == b.rows &&
        a.bounds.map { case (l, h) => (hex(l), hex(h)) } ==
          b.bounds.map { case (l, h) => (hex(l), hex(h)) }
    val conservative = Entry(-1L, -1L, None)
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-trunc")
    val f = dir.resolve(CellManifest.FileName)
    (1 to body.length).foreach { cut =>
      java.nio.file.Files.write(f, body.substring(0, cut).getBytes("UTF-8"))
      CellManifest.read(spark, dir.toString).foreach(_.foreach { case (name, e) =>
        expected.get(name) match {
          case Some(exp) =>
            assert(same(e, exp) || same(e, conservative),
              s"cut=$cut name=$name got=$e want exact-or-conservative")
          case None => // a truncated NAME can never carry trusted stats
            assert(same(e, conservative), s"cut=$cut torn-name=$name got=$e")
        }
      })
    }
  }

  test("participationRatio ≡ direct covariance-trace computation, and is bounded by [1, d]") {
    import graft.operators.Similarity
    val d = 6
    val vecGen = Gen.listOfN(d, Gen.chooseNum(-3.0f, 3.0f)).map(_.toArray)
    val vs = samples(vecGen, 80)
    val got = Similarity.participationRatio(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"), d)
      .select("participation_ratio").as[Double].head()
    // direct reference: C = E[xxᵀ] − μμᵀ, PR = tr(C)²/ΣC²
    val n = vs.size
    val mu = (0 until d).map(i => vs.map(_(i).toDouble).sum / n)
    val c = Array.tabulate(d, d)((i, j) =>
      vs.map(v => v(i).toDouble * v(j).toDouble).sum / n - mu(i) * mu(j))
    val tr = (0 until d).map(i => c(i)(i)).sum
    val tr2 = c.flatten.map(x => x * x).sum
    val expected = tr * tr / tr2
    assert(math.abs(got - expected) < 1e-4, s"$got vs $expected")
    assert(got >= 1.0 - 1e-9 && got <= d + 1e-9)
  }
}
