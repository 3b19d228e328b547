package graft

import graft.functions.MinHashKernel
import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-document MinHash kernel — the engine's one source of shingle
  * digests — against the relational formulations it replaced, written out
  * here as the reference: the string-shingle md5 index (`refIndex`), and
  * over it the signature aggregate, windowed band self-join and two-join
  * exact verify of `Dedup.corpusDedup`, and the inverted-index self-join
  * that `ngramJaccardPairs`, `containmentPairs` and
  * `ngramJaccardPrefixPairs` ran before they read the kernel's digests.
  * Corpora are generated, with the edge cases the two must agree on: null
  * text and null doc_id, fewer than n tokens, double / leading / trailing
  * spaces and the empty string, non-ASCII words, repeated shingles inside
  * a document, and rows sharing a doc_id (both formulations pool such
  * rows: sizes add, shared digests count once per pair of rows, signatures
  * take the element-wise min). */
class MinHashKernelSpec extends SparkSuite {

  private val vocab = Seq("the", "a", "of", "fox", "dog", "river", "stone", "light",
    "café", "naïve", "日本語", "Ωmega", "straße", "🙂", "x", "y")

  /** A seeded corpus: random documents, near-duplicate copies with a few
    * words replaced, exact copies, and the edge-case rows. */
  private def corpus(seed: Long, docs: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val base = (0 until docs).map { i =>
      val w = words(3 + rnd.nextInt(25))
      (i.toLong, w)
    }
    val near = base.take(docs / 3).map { case (i, w) =>
      val edited = w.zipWithIndex.map { case (t, j) =>
        if (j % 7 == (i % 7) && rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size)) else t }
      (i + 10000L, edited)
    }
    val exact = base.slice(docs / 3, docs / 3 + 5).map { case (i, w) => (i + 20000L, w) }
    val generated = (base ++ near ++ exact).map { case (i, w) => Row(i, w.mkString(" ")) }
    val edge = Seq(
      Row(30000L, null),
      Row(null, "the fox of the river stone light"),
      Row(null, "the fox of the river stone dark"),
      Row(30001L, "two words"),
      Row(30002L, ""),
      Row(30003L, " "),
      Row(30004L, "the  fox of  the river"),
      Row(30005L, " the fox of the river "),
      Row(30006L, "the fox of the river"),
      Row(30007L, "café naïve 日本語 Ωmega straße 🙂 café naïve"),
      Row(30008L, "café naïve 日本語 Ωmega straße 🙂 café naive"),
      Row(30009L, "a b a b a b a b a b a b"),
      Row(30010L, "a b a b a b a b a b a b c"),
      Row(30011L, "the fox of the river stone light"),
      Row(30011L, "the fox of the river stone light again"),
      Row(30012L, "the fox of the river stone light"),
      Row(30012L, "one two three four five six"),
      Row(30013L, "one two three four five six"))
    spark.createDataFrame(spark.sparkContext.parallelize(generated ++ edge, 3),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  }

  // ---- the relational reference ------------------------------------------

  private def refIndex(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(TextOps.shingleStructs(col("text"), n))).as("t"))
      .select(col("doc_id"),
        unhex(md5(TextOps.shingleString(col("t"), n).cast(BinaryType))).as("s"))

  private def refSigs(sh: DataFrame): DataFrame = {
    val mins = (0 until Dedup.MinHashK).map { i =>
      val (a, b) = (MinHashKernel.hashConstant(s"a$i"), MinHashKernel.hashConstant(s"b$i"))
      min(pmod(col("base") * lit(a) + lit(b), lit(MinHashKernel.Prime))).as(s"h$i")
    }
    sh.withColumn("base", conv(substring(hex(col("s")), 1, 7), 16, 10).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(mins.head, (mins.tail :+ count(lit(1)).as("nsh")): _*)
      .select(col("doc_id"),
        array((0 until Dedup.MinHashK).map(i => col(s"h$i")): _*).as("sig"), col("nsh"))
  }

  /** (doc_id, band, bkey): bkey = md5 of the band's r signature values
    * joined with '|' — the bucket key the oracle SQL computes. */
  private def refBandKeys(sigd: DataFrame): DataFrame =
    sigd.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(Dedup.Bands - 1)),
        j => struct(j.as("band"),
          md5(concat_ws("|",
            transform(slice(col("sig"), j * lit(Dedup.RowsPerBand) + lit(1), lit(Dedup.RowsPerBand)),
              x => x.cast(StringType)))
            .cast(BinaryType)).as("bkey")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  private def refCorpusDedup(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sh = refIndex(docs, n).localCheckpoint()
    val sigsz = refSigs(sh)
    val kept = refBandKeys(sigsz.select(col("doc_id"), col("sig")))
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .where(col("occ") <= Dedup.BandBucketCap)
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val sz = sigsz.select(col("doc_id"), col("nsh"))
    cand
      .join(sh.select(col("doc_id").as("a"), col("s")), "a")
      .join(sh.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        (col("common").cast(DoubleType) /
          (col("sa.nsh") + col("sb.nsh") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** (a, b, common, nsh_a, nsh_b), a < b, of the reference index with
    * digests held by more than `maxDf` rows dropped before the sizes are
    * counted. */
  private def refOverlaps(docs: DataFrame, n: Int, maxDf: Option[Long]): DataFrame = {
    val raw = refIndex(docs, n)
    val sh = maxDf.fold(raw) { cap =>
      raw.join(raw.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .where(col("df") <= cap).select(col("s")), "s")
    }.localCheckpoint()
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    sh.as("x").join(sh.as("y"), col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("common"),
        col("sa.nsh").as("nsh_a"), col("sb.nsh").as("nsh_b"))
  }

  private def refJaccard(overlaps: DataFrame, t: Double): DataFrame =
    overlaps.select(col("a"), col("b"),
        (col("common").cast(DoubleType) /
          (col("nsh_a") + col("nsh_b") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= t)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---- specs ---------------------------------------------------------------

  test("kernel sig and nsh equal the relational digest signatures (n = 1, 2, 3, 5)") {
    val docs = corpus(11, 120)
    for (n <- Seq(1, 2, 3, 5)) {
      val kernel = docs.select(col("doc_id"),
          MinHashKernel.document(col("text"), n).as("k"))
        .where(col("k").isNotNull)
        .groupBy(col("doc_id"))
        .agg(MinHashKernel.merge(collect_list(col("k"))).as("k"))
        .select(col("doc_id"), col("k.sig").as("sig"), col("k.nsh").as("nsh"))
      val ref = refSigs(refIndex(docs, n))
      val got = rows(kernel)
      assert(got.nonEmpty)
      assert(got === rows(ref), s"n=$n")
      // the public signature frame is the same signature
      assert(rows(Dedup.minHashSignatures(docs, n)) ===
        rows(ref.select(col("doc_id"), col("sig"))), s"n=$n")
    }
  }

  test("kernel: interpreted evaluation equals whole-stage codegen, nulls for shingle-free texts") {
    val docs = corpus(12, 40)
    def eval(): Seq[String] = rows(docs.select(col("doc_id"), col("text"),
      MinHashKernel.document(col("text"), 3).as("k")))
    val codegen = eval()
    val interpreted = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(eval())
    assert(codegen === interpreted)
    val k = docs.select(col("text"), MinHashKernel.document(col("text"), 3).as("k"))
      .collect().map(r => Option(r.getString(0)) -> r.isNullAt(1))
    assert(k.contains(None -> true))
    assert(k.contains(Some("two words") -> true) && k.contains(Some("") -> true))
    assert(k.contains(Some("the  fox of  the river") -> false))
  }

  test("digest overlap: merge-intersect count, with multiset products for pooled rows") {
    import spark.implicits._
    val k = Seq((1L, "a b c d e f"), (2L, "a b c d x y"),
        (3L, "p q r"), (3L, "a b c z"), (3L, "a b w"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), MinHashKernel.document(col("text"), 2).as("k"))
      .groupBy(col("doc_id")).agg(MinHashKernel.merge(collect_list(col("k"))).as("k"))
    val pairs = k.as("x").join(k.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        MinHashKernel.overlap(col("x.k.dg"), col("y.k.dg")), col("x.k.nsh"), col("y.k.nsh"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // {ab, bc, cd} shared by 1 and 2; 3 pools {pq, qr}, {ab, bc, cz} and
    // {ab, bw}: its two ab rows each meet the other side's ab
    assert(pairs === Set((1L, 2L, 3L, 5L, 5L), (1L, 3L, 3L, 5L, 7L), (2L, 3L, 3L, 5L, 7L)))
  }

  test("corpusDedup rows equal the relational formulation at thresholds 0.0, 0.5, 0.8") {
    for (seed <- Seq(21L, 22L)) {
      val docs = corpus(seed, 150)
      for (t <- Seq(0.0, 0.5, 0.8)) {
        val got = rows(Dedup.corpusDedup(docs, 3, t))
        assert(got.nonEmpty, s"seed=$seed t=$t")
        assert(got === rows(refCorpusDedup(docs, 3, t)), s"seed=$seed t=$t")
      }
    }
  }

  test("exact Jaccard, containment and prefix pairs on kernel digests equal the string-shingle index join; nsh = |dg|/2") {
    for (seed <- Seq(51L, 52L)) {
      val docs = corpus(seed, 150)
      for (maxDf <- Seq(None, Some(2L))) {
        val ref = refOverlaps(docs, 3, maxDf)
        for (t <- Seq(0.0, 0.5, 0.8)) {
          val got = rows(Dedup.ngramJaccardPairs(docs, 3, t, maxDf))
          assert(got.nonEmpty, s"seed=$seed maxDf=$maxDf t=$t")
          assert(got === rows(refJaccard(ref, t)), s"seed=$seed maxDf=$maxDf t=$t")
        }
        val cont = rows(Dedup.containmentPairs(docs, 3, 0.5, maxDf))
        assert(cont.nonEmpty, s"seed=$seed maxDf=$maxDf")
        assert(cont === rows(ref.select(col("a"), col("b"),
            (col("common").cast(DoubleType) / col("nsh_a")).as("cont_a"),
            (col("common").cast(DoubleType) / col("nsh_b")).as("cont_b"))
          .where(greatest(col("cont_a"), col("cont_b")) >= 0.5)), s"seed=$seed maxDf=$maxDf")
      }
      // the prefix principle holds for sets: pairs of single-row doc_ids
      // are exactly the reference's; a pooled doc_id is a multiset whose
      // shared digests count r·s, so there it may miss a pair, never add one
      val prefix = Dedup.ngramJaccardPrefixPairs(docs, 3, 4, 5)
      val ref = refJaccard(refOverlaps(docs, 3, None), 0.8)
      val pooled = docs.groupBy(col("doc_id")).count().where(col("count") > 1)
        .where(col("doc_id").isNotNull).collect().map(_.getLong(0)).toSeq
      assert(pooled.nonEmpty)
      def sets(df: DataFrame) = df.where(!col("a").isin(pooled: _*) && !col("b").isin(pooled: _*))
      assert(rows(sets(prefix)).nonEmpty, s"seed=$seed")
      assert(rows(sets(prefix)) === rows(sets(ref)), s"seed=$seed")
      assert(rows(prefix).toSet.subsetOf(rows(ref).toSet), s"seed=$seed")
      // nsh counts exactly the digests dg holds, folded rows included
      for (n <- Seq(1, 3)) {
        val k = Dedup.kernelFrame(docs, n)
        assert(k.count() > 0)
        assert(k.where(col("k.nsh") =!= size(col("k.dg")) / 2).count() === 0, s"seed=$seed n=$n")
      }
    }
  }

  test("minHashEstVsExact and lshRecallCurve: same rows as their relational forms") {
    val docs = corpus(31, 150)
    val ref = refCorpusDedup(docs, 3, 0.0)
    // exact side of every est-passing candidate pair = the corpusDedup row
    val est = Dedup.minHashEstVsExact(docs, 3, 0.5)
    val joined = Dedup.minHashPairs(docs, 3, 0.5).join(ref, Seq("a", "b"))
      .select(col("a"), col("b"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        round(col("jaccard"), 6).as("exact_jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
    assert(rows(est).nonEmpty)
    assert(rows(est) === rows(joined))
    // recall: every truth pair the generator hits is a corpusDedup(0.0) pair
    val curve = Dedup.lshRecallCurve(docs, 3, 0.3).collect()
    val hits = curve.map(_.getAs[Long]("n_hit")).sum
    assert(hits === rows(ref.where(col("jaccard") >= 0.3)).size)
    assert(curve.map(_.getAs[Long]("n_true")).sum >= hits)
  }

  test("dedup store: stored kernel = kernelFrame; stored assignment ∪ touching pairs ≡ full clustering") {
    val docs = corpus(41, 150)
    val tag = java.util.UUID.randomUUID().toString
    val store = Dedup.dedupStore(docs, 3, 0.5, s"kernelspec-$tag#all")
    // one row per doc_id, shared doc_ids folded, shingle-free texts absent
    val stored = rows(store.kernel)
    assert(stored === rows(Dedup.kernelFrame(docs, 3)))
    assert(stored.size === store.kernel.select("doc_id").distinct().count())
    // maintenance on a doc_id split (rows sharing a doc_id stay on one side)
    val isNew = pmod(col("doc_id"), lit(4)) === 0
    val oldStore = Dedup.dedupStore(docs.where(!isNew), 3, 0.5, s"kernelspec-$tag#old")
    val touching = Dedup.incrementalCorpusDedupStored(docs.where(isNew), oldStore, 3, 0.5)
    val star = oldStore.clusters.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("a"), col("cluster_id").as("b"))
    val got = rows(Dedup.clusters(star.unionByName(touching.select(col("a"), col("b")))))
    val full = rows(Dedup.clusters(Dedup.corpusDedup(docs, 3, 0.5).select(col("a"), col("b"))))
    assert(full.nonEmpty)
    assert(got === full)
    assert(rows(store.clusters) === full)
  }
}
