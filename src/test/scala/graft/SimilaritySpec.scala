package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Similarity-search semantics: exact cosine math, top-k determinism, and
  * LSH recall vs the brute-force baseline. */
class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet")

  test("cosineSim: exact on known vectors") {
    val df = Seq((Array(1.0, 2.0), Array(2.0, 3.0))).toDF("a", "b")
    val got = df.select(Similarity.cosineSim(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - 8.0 / (math.sqrt(5) * math.sqrt(13))) < 1e-12)
  }

  test("bruteForceTopK: k rows per query, rank ordered by similarity") {
    val topk = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), 10)
    val rows = topk.select("qid", "rank", "cos_sim").as[(Long, Int, Double)].collect()
    assert(rows.length === 50)
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1 to 10))
      assert(byRank.map(_._3).toSeq === byRank.map(_._3).sortBy(-(_: Double)).toSeq)
    }
    // no self-matches
    assert(topk.where(col("qid") === col("nid")).count() === 0)
  }

  test("sq8TopK: full-width rerank reproduces brute force exactly; tight rerank stays close") {
    val queries = emb.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .select("qid", "nid", "cos_sim", "rank").as[(Long, Long, Double, Int)]
      .collect().toSet
    // rerank = |corpus|: every vector survives the candidate cut, so the
    // exact-rerank stage IS brute force — results must be identical
    val full = Similarity.sq8TopK(emb, queries, 10, rerank = emb.count().toInt)
      .select("qid", "nid", "cos_sim", "rank").as[(Long, Long, Double, Int)]
      .collect().toSet
    assert(full === brute)
    // the declared tight-rerank form keeps high recall on real data
    val tight = Similarity.sq8TopK(emb, queries, 10, rerank = 30)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = tight.count(p => brute.exists(b => (b._1, b._2) == p)) / 50.0
    assert(recall >= 0.9, s"sq8 rerank=30 recall $recall")
  }

  test("binaryHammingTopK: full-width rerank equals brute force; sign-flip twin is Hamming-0") {
    val queries = emb.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, 10)
      .select("qid", "nid", "cos_sim", "rank").as[(Long, Long, Double, Int)]
      .collect().toSet
    val full = Similarity.binaryHammingTopK(emb, queries, 10,
        rerank = emb.count().toInt)
      .select("qid", "nid", "cos_sim", "rank").as[(Long, Long, Double, Int)]
      .collect().toSet
    assert(full === brute)
    // planted: 1000 shares every sign with 1001 (scaled copy) but none with
    // 1002 (negated) — with rerank 1 the candidate IS the top result
    val base = (0 until 64).map(d => (if (d % 3 == 0) 1.0f else -1.0f) * (d + 1))
    val planted = Seq(
      (1000L, base.toArray, 0), (1001L, base.map(_ * 0.5f).toArray, 0),
      (1002L, base.map(-_).toArray, 0)).toDF("vec_id", "embedding", "label")
    val top = Similarity.binaryHammingTopK(planted,
        planted.where(col("vec_id") === 1000L), 1, rerank = 1)
      .select("qid", "nid", "cos_sim").as[(Long, Long, Double)].collect()
    assert(top.toSeq === Seq((1000L, 1001L, 1.0)))
  }

  test("rpLshTopK: planted near-duplicates are recovered (the LSH guarantee)") {
    // plant a perturbed copy of each query vector: cos(v, v') ≈ 0.9999
    val planted = emb.where(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => x + (pmod(d, lit(7)) - lit(3)).cast("float") * lit(0.002f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").union(planted)
    val q = emb.where(col("vec_id") < 20)
    val top1 = Similarity.rpLshTopK(corpus, q, 1, planes = 8, probes = 3)
      .select("qid", "nid").as[(Long, Long)].collect()
    val found = top1.count { case (qid, nid) => nid == qid + 100000 }
    info(s"planted near-dup recall@1 = $found/20")
    assert(found >= 16, s"only $found/20 planted near-dups recovered")
  }

  test("rpLshTopK on uniform random data: same-bucket candidates only (informational recall)") {
    val q = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, q, 10)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.rpLshTopK(emb, q, 10, planes = 4, probes = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"LSH recall@10 on random vectors = $recall%.3f (expected low: top-10 of uniform noise is near-orthogonal)")
    assert(approx.nonEmpty)
  }

  test("cosinePairs: symmetric threshold pairs, a < b") {
    val pairs = Similarity.cosinePairs(emb, 0.4)
      .select("a", "b", "cos_sim").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.forall(_._3 >= 0.4))
  }

  test("ivfTopK: results are a subset of exact scores; planted near-dups recovered") {
    // any (qid, nid, cos_sim) the IVF path emits must carry the same score
    // the brute-force path assigns that pair (scoring is exact; only the
    // candidate set is approximate)
    val q = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, 2000)
      .select("qid", "nid", "cos_sim").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(emb, q, 10)
      .select("qid", "nid", "cos_sim").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (qid, nid, s) => assert(exact((qid, nid)) === s) }

    // a near-identical copy ranks centroids near-identically, so it lands
    // in the query's own probed cells and must surface at rank 1
    val planted = emb.where(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => x + (pmod(d, lit(7)) - lit(3)).cast("float") * lit(0.002f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").union(planted)
    val top1 = Similarity.ivfTopK(corpus, emb.where(col("vec_id") < 20), 1)
      .select("qid", "nid").as[(Long, Long)].collect()
    val found = top1.count { case (qid, nid) => nid == qid + 100000 }
    info(s"IVF planted near-dup recall@1 = $found/20")
    assert(found >= 18, s"only $found/20 planted near-dups recovered")
  }

  test("annIndexStore: store-served IVF ≡ self-contained; inverted lists cell-partitioned; never rebuilds") {
    val key = s"annspec-${java.util.UUID.randomUUID()}"
    val store = Similarity.annIndexStore(emb, 16, key)
    val q = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "cos_sim", "rank").collect().map(_.toString).sorted.toSeq
    // served results equal the self-contained search exactly
    assert(rows(Similarity.ivfTopKStored(store, q, 10)) ===
      rows(Similarity.ivfTopK(emb, q, 10)))
    // the inverted lists landed cell-partitioned (the per-list layout:
    // a probe reads only its cells' files)
    val listDirs = new java.io.File(store.dir.stripPrefix("file:"), "lists.parquet")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(listDirs.length > 1, "lists must be partitioned by cell")
    // a second call with a POISONED corpus serves the store (no rebuild)
    val poisoned = emb.withColumn("embedding",
      when(size(col("embedding")) >= 0,
        raise_error(lit("annIndexStore rebuilt instead of serving"))
          .cast("array<float>")).otherwise(col("embedding")))
    assert(rows(Similarity.ivfTopKStored(
      Similarity.annIndexStore(poisoned, 16, key), q, 10)) ===
      rows(Similarity.ivfTopK(emb, q, 10)))
  }

  test("annIndexStoreAdvance: batch-cost delta behind a BASE pointer; base untouched; serve prunes every link") {
    val baseKey = s"annadv-${java.util.UUID.randomUUID()}"
    val oldV = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val newV = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val store = Similarity.annIndexStore(oldV, 16, baseKey)
    def fileState(dir: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir.stripPrefix("file:"), "lists.parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)).sorted
    }
    val baseBefore = fileState(store.dir)

    // the advance's read set: base centroids + the batch — never a list
    // file, never an old-corpus scan beyond the batch's own source
    val delta = Similarity.annIndexAdvanceDelta(store, newV)
    assert(delta.inputFiles.nonEmpty)
    assert(!delta.inputFiles.exists(_.contains("lists.parquet")),
      "the advance must not read any inverted-list file")
    assert(delta.inputFiles.exists(_.contains("centroids.parquet")),
      "the advance assigns against the base's pinned centroids")

    val adv = Similarity.annIndexStoreAdvance(store, newV, s"$baseKey#adv")
    // delta-only fileset: the advanced dir holds exactly the batch's rows
    val own = spark.read
      .schema("nid BIGINT, nv ARRAY<DOUBLE>, nn DOUBLE, cell BIGINT")
      .parquet(s"${adv.dir}/lists.parquet")
    assert(own.count() === newV.count())
    // chain union = full corpus; centroids pinned; base files untouched
    assert(adv.lists.count() === emb.count())
    assert(adv.base.map(_.dir) === Some(store.dir))
    assert(adv.centroids.collect().map(_.getLong(0)).sorted.toSeq ===
      store.centroids.collect().map(_.getLong(0)).sorted.toSeq)
    assert(fileState(store.dir) === baseBefore, "old list files must not be rewritten")

    // a second advance with the same key SERVES (no recompute): a batch
    // poisoned with raise_error must never be evaluated
    val poisoned = newV.withColumn("embedding",
      when(size(col("embedding")) >= 0,
        raise_error(lit("annIndexStoreAdvance rebuilt instead of serving"))
          .cast("array<float>")).otherwise(col("embedding")))
    val served = Similarity.annIndexStoreAdvance(store, poisoned, s"$baseKey#adv")
    assert(served.dir === adv.dir)
    assert(served.lists.count() === emb.count())

    // an EMPTY batch publishes a file-less delta that reads back as empty
    // (not a schema-inference failure), leaving the chain count unchanged
    val advEmpty = Similarity.annIndexStoreAdvance(adv,
      emb.where(col("vec_id") < 0), s"$baseKey#advempty")
    assert(advEmpty.lists.count() === emb.count())

    // chained advance: the second delta stacks behind a second pointer
    val batch2 = emb.where(col("vec_id") < 3)
      .select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding"))
    val adv2 = Similarity.annIndexStoreAdvance(adv, batch2, s"$baseKey#adv2")
    assert(adv2.base.map(_.dir) === Some(adv.dir))
    assert(adv2.lists.count() === emb.count() + 3)

    // COMPACTION folds the chain into one fileset: no BASE pointer, same
    // rows, same served values, corpus embeddings never read
    val compacted = Similarity.annIndexStoreCompact(adv2, s"$baseKey#compact")
    assert(compacted.base.isEmpty, "a compacted store must not chain")
    assert(compacted.lists.count() === adv2.lists.count())
    assert(!compacted.lists.inputFiles.exists(_.contains("embeddings.parquet")),
      "compaction reads index files only, never the corpus")
    def served10(st: Similarity.AnnIndexStore) =
      Similarity.ivfTopKStored(st, emb.where(col("vec_id") < 5), 10)
        .collect().map(_.toString).sorted.toSeq
    assert(served10(compacted) === served10(adv2))

    // the served search still reads only probed cell partitions — on
    // EVERY link of the chain
    val q = emb.where(col("vec_id") === 0)
    val topk = Similarity.ivfTopKStored(adv2, q, 5, nprobe = 2)
    topk.collect()
    val scans = planNodes(topk.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("lists.parquet")) => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        "every chain link's lists scan must carry the static cell filter")
      assert(f.selectedPartitions.partitionCount <= 2,
        "1 query x nprobe=2 may read at most 2 inverted lists per link")
    }
  }

  test("ivfTopKStored: the query-time read set is the probed cells' partitions ONLY (static pruning, not DPP)") {
    val key = s"annreadspec-${java.util.UUID.randomUUID()}"
    val store = Similarity.annIndexStore(emb, 16, key)
    val cellDirs = new java.io.File(store.dir.stripPrefix("file:"), "lists.parquet")
      .listFiles().filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length > 4, "fixture must land several inverted lists")
    val served = Similarity.ivfTopKStored(store, emb.where(col("vec_id") === 0), 5, nprobe = 2)
    served.collect()
    // walk the EXECUTED plan (through AQE stages) to the lists scan and
    // read its selected partitions — the contract is a plan property:
    // the explicit `cell IN (probed)` filter prunes statically, so a DPP
    // regression can never silently widen the read to the full index
    val scans = planNodes(served.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("lists.parquet")) => f
    }
    assert(scans.nonEmpty, "the serve must read the persisted inverted lists")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        "the lists scan must carry a static partition filter on cell")
      // Spark 4.1's FileSourceScanExec.selectedPartitions returns a
      // ScanFileListing (not an array) — partitionCount is the API
      val selected = f.selectedPartitions.partitionCount
      assert(selected <= 2,
        s"1 query x nprobe=2 may read at most 2 inverted lists, read $selected")
      assert(selected < cellDirs.length,
        "the probed read set must be a strict subset of the index")
    }
  }

  test("pqCodes/pqAdcTopK: complete code tuples in range; planted twins win the ADC search") {
    val codes = Similarity.pqCodes(emb)
      .select("vec_id", "j", "code").as[(Long, Int, Int)].collect()
    val nVec = emb.count()
    // every vector gets exactly one code per subspace, codes in [0, ksub)
    assert(codes.length === nVec * Similarity.PqM)
    assert(codes.forall(c => c._3 >= 0 && c._3 < Similarity.PqKsub))
    assert(codes.groupBy(c => (c._1, c._2)).values.forall(_.length == 1))
    // quantization actually uses the codebook: >1 distinct code per subspace
    assert(codes.groupBy(_._2).values.forall(_.map(_._3).distinct.length > 1))

    // a near-identical copy quantizes to (nearly) the query's own code
    // tuple, which minimizes the asymmetric distance — rank 1 by ADC
    val planted = emb.where(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => x + (pmod(d, lit(7)) - lit(3)).cast("float") * lit(0.002f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").union(planted)
    val top1 = Similarity.pqAdcTopK(corpus, emb.where(col("vec_id") < 20), 1)
      .select("qid", "nid").as[(Long, Long)].collect()
    val found = top1.count { case (qid, nid) => nid == qid + 100000 }
    info(s"PQ/ADC planted near-dup recall@1 = $found/20")
    assert(found >= 14, s"only $found/20 planted near-dups recovered")
  }

  test("ivfAdcTopK: probing ALL cells reproduces the unrestricted ADC ranking") {
    // with nprobe = nlist the candidate set is every (query, vector) pair,
    // so the composed IVF-ADC search must equal plain ADC exactly — the
    // invariant that pins the composition to its two verified pieces
    val q = emb.where(col("vec_id") < 3)
    val composed = Similarity.ivfAdcTopK(emb, q, 5, nlist = 4, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val plain = Similarity.pqAdcTopK(emb, q, 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(composed === plain)
    // with a selective probe, results are a SUBSET of the scored universe:
    // every neighbor still carries the exact ADC score plain ADC computes
    val narrow = Similarity.ivfAdcTopK(emb, q, 5, nlist = 8, nprobe = 2)
      .select("qid", "nid", "adc").as[(Long, Long, Double)].collect().toSet
    val all = Similarity.pqAdcTopK(emb, q, emb.count().toInt)
      .select("qid", "nid", "adc").as[(Long, Long, Double)].collect().toSet
    assert(narrow.subsetOf(all))
  }

  test("cosinePairsBucketed: subset of the exact pairs (zero false positives), full recall on planted near-dups") {
    val exact = Similarity.cosinePairs(emb, 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosinePairsBucketed(emb, 0.4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(bucketed.nonEmpty)
    assert(bucketed.subsetOf(exact),
      s"bucketed produced non-exact pairs: ${(bucketed -- exact).take(3)}")
    info(f"banded-sketch recall on uniform-random pairs = ${bucketed.size.toDouble / exact.size}%.3f")

    // planted near-dups (cos ≈ 0.9999) agree on nearly every plane, so the
    // banded sketch must recover essentially all of them
    val planted = emb.where(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, d) => x + (pmod(d, lit(7)) - lit(3)).cast("float") * lit(0.002f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").union(planted)
    val found = Similarity.cosinePairsBucketed(corpus, 0.99)
      .select("a", "b").as[(Long, Long)].collect()
      .count { case (a, b) => b == a + 100000 }
    info(s"planted near-dup pair recall = $found/20")
    assert(found >= 19, s"only $found/20 planted near-dup pairs recovered")
  }

  test("filteredTopK: every neighbor shares the query's label; equals per-label brute force") {
    val queries = emb.where(col("vec_id") < 5)
    val got = Similarity.filteredTopK(emb, queries, 10, "label")
      .select("qid", "nid", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    assert(got.nonEmpty)
    got.foreach { case (qid, nid, _, _) =>
      assert(labels(qid) === labels(nid), s"$qid (label ${labels(qid)}) matched $nid")
    }
    // per query: identical to brute force over ONLY that label's vectors
    for (qid <- 0L until 5L) {
      val expect = Similarity.bruteForceTopK(
          emb.where(col("label") === labels(qid)), queries.where(col("vec_id") === qid), 10)
        .select("qid", "nid", "cos_sim", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(got.filter(_._1 == qid).toSet === expect)
    }
  }

  test("labelCentroids: hand-checked means; centroidSim = 1 for a vector AT its centroid") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 0),  // label 0 centroid = (0.5, 0.5)
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(2.0f, 2.0f), 1)   // label 1 centroid = its only member
    ).toDF("vec_id", "embedding", "label")
    val cent = Similarity.labelCentroids(corpus)
      .as[(Int, Int, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(cent((0, 0)) === 0.5 && cent((0, 1)) === 0.5)
    assert(cent((1, 0)) === 2.0 && cent((1, 1)) === 2.0)

    val sims = Similarity.centroidSim(corpus)
      .select("vec_id", "cos_centroid").as[(Long, Double)].collect().toMap
    // vec 3 IS its centroid → cosine exactly 1; vecs 1/2 are 45° off the
    // (0.5, 0.5) centroid → cos = 1/sqrt(2)
    assert(sims(3L) === 1.0)
    assert(math.abs(sims(1L) - 1.0 / math.sqrt(2)) < 1e-5)
    assert(math.abs(sims(2L) - 1.0 / math.sqrt(2)) < 1e-5)
  }

  test("centroidSim on the fixture: one score per vector, all in [-1, 1]") {
    val got = Similarity.centroidSim(emb)
    assert(got.count() === emb.count())
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val (lo, hi) = got.agg(fmin(col("cos_centroid")), fmax(col("cos_centroid")))
      .as[(Double, Double)].head()
    assert(lo >= -1.0 && hi <= 1.0)
  }

  test("kMeans: recovers well-separated planted clusters, deterministic across runs") {
    // three tight blobs far apart; any reasonable k=3 run must put each
    // blob in one cluster regardless of which members seed the init
    val blobs = Seq(0.0f, 100.0f, 200.0f).zipWithIndex.flatMap { case (c, b) =>
      (0 until 10).map(i => ((b * 10 + i).toLong, Array(c + i * 0.1f, c - i * 0.1f)))
    }
    val corpus = blobs.toDF("vec_id", "embedding")
    val got = Similarity.kMeans(corpus, 3, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect()
    assert(got.length === 30)
    val byBlob = got.groupBy(_._1 / 10).map { case (b, m) => b -> m.map(_._2).toSet }
    // each blob maps to exactly one cluster, and the three clusters differ
    assert(byBlob.values.forall(_.size === 1), s"split blob: $byBlob")
    assert(byBlob.values.flatten.toSet.size === 3, s"merged blobs: $byBlob")
    // determinism: a second run yields the identical assignment
    val again = Similarity.kMeans(corpus, 3, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect()
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("topPrincipalComponent: recovers a planted dominant axis, unit norm") {
    // variance concentrated on axis 1: loadings must peak there and the
    // component must be (rounded-)unit-length
    val corpus = (0 until 40).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(0.1f * (i % 3), sign * (5.0f + i % 7), 0.2f * (i % 2)))
    }.toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(corpus, 3, 4)
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(pc.length === 3)
    assert(math.abs(pc(1)) > math.abs(pc(0)) && math.abs(pc(1)) > math.abs(pc(2)),
      s"axis 1 should dominate: ${pc.toSeq}")
    assert(math.abs(pc.map(x => x * x).sum - 1.0) < 1e-4)
    assert(math.abs(pc(1)) > 0.99)
  }

  test("labelDiversity: identical directions → 1, orthogonal pair → 0, no pairwise join") {
    val df = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(2f, 0f), 0), // same direction, different norm → cos 1
      (2L, Array(1f, 0f), 1),
      (3L, Array(0f, 3f), 1)  // orthogonal → cos 0
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelDiversity(df)
      .select("label", "n", "mean_pair_cos").as[(Int, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0) === ((2L, 1.0)))
    assert(got(1) === ((2L, 0.0)))
    // the sum-of-vectors identity must keep the plan free of any
    // vector-pair join — only label-keyed aggregate merges remain
    val p = Similarity.labelDiversity(df).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("participationRatio: axis-collapsed → 1, isotropic 2D → 2") {
    def pr(vs: Seq[Array[Float]]): Double =
      Similarity.participationRatio(
          vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
            .toDF("vec_id", "embedding"), 2)
        .select("participation_ratio").as[Double].head()
    val collapsed = pr(Seq(Array(1f, 0f), Array(-1f, 0f), Array(2f, 0f), Array(-2f, 0f)))
    assert(math.abs(collapsed - 1.0) < 1e-6, s"collapsed: $collapsed")
    val iso = pr(Seq(Array(1f, 0f), Array(-1f, 0f), Array(0f, 1f), Array(0f, -1f)))
    assert(math.abs(iso - 2.0) < 1e-6, s"isotropic: $iso")
  }

  test("lofScores: a planted density outlier scores above every clustered inlier") {
    val lof = Similarity.lofScores(emb, 3)
      .where(col("lof").isNotNull)
      .select("vec_id", "lof").as[(Long, Double)].collect()
    // fixture vectors are clustered; scores exist and the LOF≈1 mass dominates
    assert(lof.nonEmpty)
    assert(lof.forall(_._2 > 0))
    val near1 = lof.count(t => t._2 > 0.5 && t._2 < 2.0)
    assert(near1 >= lof.length / 2, s"LOF mass should sit near 1, got $near1/${lof.length}")
  }

  test("matryoshkaRecall: full-width prefix is recall 1.0 by construction") {
    val q = emb.where(col("vec_id") < 5)
    // prefix = full dimensionality → the two rankings are identical
    val dims = emb.select(size(col("embedding"))).as[Int].head()
    val full = Similarity.matryoshkaRecall(emb, q, 10, dims)
      .select("recall").as[Double].collect()
    assert(full.length === 5 && full.forall(_ === 1.0))
    // a 1-dim prefix ranks on almost no signal — recall must drop for some query
    val tiny = Similarity.matryoshkaRecall(emb, q, 10, 1)
      .select("recall").as[Double].collect()
    assert(tiny.exists(_ < 1.0))
  }

  test("graphExpandTopK: results are exact-scored and at least match the LSH seeds' recall") {
    val q = emb.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, 10)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val seeds = Similarity.rpLshTopK(emb, q, 10, planes = 8, probes = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val expanded = Similarity.graphExpandTopK(emb, q, 10, seedK = 10, graphK = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // expansion can only ADD candidates before the exact rerank, so its
    // hit count against the exact truth is >= the seed ranking's
    assert((expanded & brute).size >= (seeds & brute).size)
  }
  test("embeddingDedupComposed: template cohort fully deduped though the cap would drop its bucket") {
    import graft.operators.Similarity
    // 40 exact copies of vec_id 0: one over-cap bucket in EVERY band —
    // the capped pair stage alone returns zero cohort pairs (the collapse
    // regime pinned above), so only the identity-first composition can
    // dedup it
    val cohort = emb.where(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(40L))).as("i"),
        col("embedding"), col("label"))
      .select((lit(500000L) + col("i")).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(cohort)
    val kept = Similarity.embeddingDedupComposed(corpus, 0.4, maxBucket = 30)
      .select("vec_id").as[Long].collect().toSet
    // every cohort copy dropped, its representative (vec_id 0) kept
    assert(cohort.select("vec_id").as[Long].collect().forall(!kept.contains(_)))
    assert(kept.contains(0L))
    // the pair stage saw representatives only: the capped RP pass over the
    // raw cohort corpus finds NO cohort pairs (they flood every band), so
    // the dedup above cannot have come from the pair join
    val rawPairs = Similarity.cosinePairsBucketed(corpus, 0.4, maxBucket = 30)
      .where(col("a") >= 500000L || col("b") >= 500000L)
    assert(rawPairs.count() === 0)
    // the BindingOccupancyCap sentinel equals the hand-derived cap: the
    // declared query's scale-invariant regime is just ceil(nReps/2^r)
    val nReps = corpus.select(Similarity.embeddingIdentityKey(
      col("embedding").cast("array<double>"))).distinct.count()
    val r = Similarity.rpPlanesFor(nReps)
    val viaSentinel = Similarity.embeddingDedupComposed(corpus, 0.4,
        maxBucket = Similarity.BindingOccupancyCap)
      .select("vec_id").as[Long].collect().toSet
    val viaDerived = Similarity.embeddingDedupComposed(corpus, 0.4,
        maxBucket = Similarity.derivedBindingCap(nReps, r))
      .select("vec_id").as[Long].collect().toSet
    assert(viaSentinel === viaDerived)
  }

  test("rpPlanesFor: constant-occupancy layout sizing, clamped at both ends") {
    import graft.operators.Similarity
    assert(Similarity.rpPlanesFor(2000) === 4)  // the declared sf layout
    assert(Similarity.rpPlanesFor(20000) === 8) // the measured x10 point
    assert(Similarity.rpPlanesFor(1) === 4)     // tiny corpus: floor
    assert(Similarity.rpPlanesFor(Long.MaxValue) === 24) // ceiling
    // expected occupancy stays within (target/2, target] across decades
    for (n <- Seq(10000L, 100000L, 1000000L, 10000000L)) {
      val occ = n.toDouble / (1L << Similarity.rpPlanesFor(n))
      assert(occ <= 125.0 && occ > 62.5, s"n=$n occ=$occ")
    }
    // integer form: exactly the smallest r with 2^r * occ >= n (the ulp-proof
    // property the DuckDB oracle mirrors literally)
    for (n <- Seq(1999L, 2000L, 2001L, 16L * 125, 16L * 125 + 1)) {
      val r = Similarity.rpPlanesFor(n)
      assert((1L << r) * 125 >= n)
      if (r > 4) assert((1L << (r - 1)) * 125 < n, s"n=$n r=$r not minimal")
    }
  }

  test("cosinePairsBucketed: r16 sized default equals the explicit rpPlanesFor layout") {
    val n = emb.count()
    val sized = Similarity.cosinePairsBucketed(emb, 0.4)
      .select("a", "b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val explicit = Similarity.cosinePairsBucketed(emb, 0.4,
        bands = 4, planesPerBand = Similarity.rpPlanesFor(n))
      .select("a", "b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(sized === explicit)
    assert(sized.nonEmpty)
  }

  test("RP cap observation: binding regime metered, all-buckets-dropped warns loudly") {
    import graft.operators.Similarity
    // binding regime: cap 30 drops some (band, bucket) groups of the real
    // corpus but keeps others — the observation must carry both counts
    val capped = Similarity.cosinePairsBucketed(emb, -1.0, maxBucket = 30)
    capped.collect()
    val bindMsgs = Similarity.rpCapWarnings(capped.queryExecution.observedMetrics)
    assert(bindMsgs.nonEmpty, "cap binding produced no observation message")
    assert(bindMsgs.forall { case (collapse, _) => !collapse },
      "binding-but-not-collapsed regime must not report collapse")
    assert(bindMsgs.head._2.contains("binding"))

    // collapse regime: a pure template cohort (one embedding replicated
    // past the cap) occupies ONE over-cap bucket in EVERY band — the cap
    // silently returns zero pairs, which is exactly what the warning exists
    // to make loud
    val template = emb.where(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(40L))).as("i"), col("embedding"))
      .select(col("i").as("vec_id"), col("embedding"))
    val collapsed = Similarity.cosinePairsBucketed(template, -1.0, maxBucket = 30)
    assert(collapsed.count() === 0)
    collapsed.collect()
    // AQE's empty-relation propagation prunes the CollectMetrics subtree in
    // exactly this regime (verified r16) — the declared-but-absent name IS
    // the collapse signal the listener reports
    def declaredNames(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
            if c.name.startsWith(Similarity.RpCapMetricPrefix) => c.name
      }
    val msgs = Similarity.rpCapWarnings(
      collapsed.queryExecution.observedMetrics, declaredNames(collapsed))
    assert(msgs.exists(_._1), s"expected a collapse warning, got: $msgs")
    assert(msgs.find(_._1).get._2.contains("ZERO"))

    // uncapped plans carry no cap observation — nothing to warn about
    val uncapped = Similarity.cosinePairsBucketed(emb, 0.4, maxBucket = Int.MaxValue)
    uncapped.collect()
    assert(Similarity.rpCapWarnings(
      uncapped.queryExecution.observedMetrics, declaredNames(uncapped)).isEmpty)
  }

  test("rpPlanesFor: parameterized ceiling + constant sized default (the validity envelope is movable)") {
    // past the default 2^24*125 envelope the plane count saturates (the
    // linear-occupancy regime); raising maxPlanes restores the
    // constant-occupancy layout
    assert(Similarity.rpPlanesFor(1L << 40) === Similarity.RpMaxPlanes)
    assert(Similarity.rpPlanesFor(1L << 40, 125, 34) === 34)
    assert(Similarity.rpPlanesFor(2000, 1) === 11)
    // the sized default every declared RP consumer routes through reads
    // the RpTargetOccupancy / RpMaxPlanes constants
    assert(Similarity.sizedRpPlanes(2000) === 4)
  }

  test("embeddingDedupComposed: the identity aggregate executes exactly ONCE across the whole pipeline") {
    import scala.jdk.CollectionConverters._
    // r16's one `weak`: un-materialized members/reps re-ran the identity
    // aggregate + member join in the planning-count job, the fixpoint's
    // edge materialization (three reps references), and the final union —
    // 3-5 full-corpus shuffles where one suffices. The fix checkpoints
    // members and reps once; this pin counts identity-aggregate
    // EXECUTIONS — QueryExecutions whose executed plan carries both the
    // identity md5 key and the min(vec_id) representative aggregate —
    // across every job the pipeline triggers (localCheckpoint actions
    // included: Dataset.checkpoint routes through withAction, so the
    // listener sees them).
    Thread.sleep(2000) // drain async listener deliveries from prior tests
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        seen.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Similarity.embeddingDedupComposed(emb, 0.4,
        maxBucket = Similarity.BindingOccupancyCap)
      assert(out.count() > 0)
      def idAggExecs(): Int =
        seen.asScala.count(p => p.contains("min(vec_id") && p.contains("md5("))
      // listener delivery is async — poll until the count stabilizes
      val deadline = System.currentTimeMillis() + 30000
      var n = idAggExecs(); var stable = 0
      while (System.currentTimeMillis() < deadline && stable < 8) {
        Thread.sleep(250); val m = idAggExecs()
        if (m == n) stable += 1 else { stable = 0; n = m }
      }
      assert(n === 1, s"identity aggregate executed $n times (must be exactly 1)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("annIndexDrift: stationary batch keeps rebuild_due quiet; a shifted batch fires it") {
    import graft.operators.Similarity
    val store = Similarity.annIndexStore(emb.where(pmod(col("vec_id"), lit(10)) =!= 0),
      16, s"driftspec-${java.util.UUID.randomUUID()}")
    def monitor(batch: org.apache.spark.sql.DataFrame) =
      Similarity.annIndexDrift(store, batch)
        .select("psi", "psi_null", "qerr_base", "qerr_batch", "rebuild_due")
        .head()
    // a batch drawn from the SAME distribution (the held-out 10%): PSI
    // inside the finite-sample null band, comparable quantization
    // error, no rebuild — the sample-aware threshold is what makes this
    // hold (a fixed 0.25 sits BELOW the 16-cell/50-vector noise floor)
    val same = monitor(emb.where(pmod(col("vec_id"), lit(10)) === 0))
    assert(!same.getBoolean(4),
      s"stationary batch must not demand a rebuild: $same")
    // a batch whose mass CONCENTRATES (a template cohort: 50 copies of
    // one vector, all landing in a single cell — the corpus-shift shape
    // that actually starves an IVF quantizer): occupancy PSI blows past
    // the null and the monitor MUST fire. (Negating embeddings is NOT a
    // drift signal here, by design: it permutes near-uniform cell mass
    // and leaves |cos-to-best-centroid| similar, so both PSI and qerr
    // correctly read stationary.)
    val hot = emb.where(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(50L))).as("i"), col("embedding"))
      .select((lit(900000L) + col("i")).as("vec_id"), col("embedding"))
    val shifted = monitor(hot)
    assert(shifted.getBoolean(4),
      s"one-cell cohort batch must demand a rebuild: $shifted")
    // the monitor row is constant across the per-cell census rows
    val distinctRows = Similarity.annIndexDrift(store,
      emb.where(pmod(col("vec_id"), lit(10)) === 0))
      .select("psi", "psi_null", "qerr_base", "qerr_batch", "rebuild_due")
      .distinct().count()
    assert(distinctRows === 1)
  }

  test("annIndexDrift: read set is sidecars + centroids + batch — NEVER an inverted-list file (flat and chain)") {
    val key = s"driftread-${java.util.UUID.randomUUID()}"
    val oldV = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val b1 = emb.where(pmod(col("vec_id"), lit(20)) === 0)
    val b2 = emb.where(pmod(col("vec_id"), lit(20)) === 10)
    val store = Similarity.annIndexStore(oldV, 16, key)
    // the r17 weak: the monitor rescanned every list file (embedding
    // vectors included) per run to recompute the store-INVARIANT base
    // partials; the standing streaming monitor did it per trigger. The
    // contract is now a plan property: base partials come from the
    // persisted per-link sidecars, O(nlist) rows, no list file anywhere
    // in the monitor's read set.
    val flat = Similarity.annIndexDrift(store, b1)
    assert(flat.inputFiles.nonEmpty)
    assert(!flat.inputFiles.exists(_.contains("lists.parquet")),
      "the drift monitor must never read an inverted-list file")
    assert(flat.inputFiles.exists(_.contains("drift_base.parquet")),
      "the base side must come from the persisted sidecar")
    // chain posture: one sidecar PER LINK, summed — still no list file
    val a1 = Similarity.annIndexStoreAdvance(store, b1, s"$key#a1")
    val chainMon = Similarity.annIndexDrift(a1, b2)
    assert(!chainMon.inputFiles.exists(_.contains("lists.parquet")))
    val sidecarDirs = chainMon.inputFiles.filter(_.contains("drift_base.parquet"))
      .map(_.split("/drift_base.parquet").head).distinct
    assert(sidecarDirs.length === 2,
      s"a 2-link chain monitor reads both links' sidecars, got $sidecarDirs")
    // the sidecar IS the lists' partials: per-cell (n_base, s_base)
    // summed across links equals the direct recomputation from the
    // chain-union lists (associative decimal sums) — the invariant that
    // makes the O(nlist) read exact, not approximate
    val cent = a1.centroids
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val fromLists = a1.lists.join(broadcast(cent), col("cell") === col("cid"))
      .select(col("cell"),
        round(Similarity.dot(col("nv"), col("cv")) / (col("nn") * col("cn")), 6)
          .as("sim"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_base"),
        sum(round(lit(1.0) - col("sim"), 9).cast(dec)).as("s_base"))
    val fromSidecars = a1.driftBase.groupBy(col("cell"))
      .agg(sum(col("n_base")).as("n_base"), sum(col("s_base")).as("s_base"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cell"), col("n_base"),
        col("s_base").cast(dec).as("s_base"))
        .collect().map(_.toString).sorted.toSeq
    assert(snap(fromSidecars) === snap(fromLists))
  }

  test("annIndexStoreRebuild: the monitor's mandated loop — fire, retrain over the chain, re-advance from the fresh base") {
    val key = s"annrebuild-${java.util.UUID.randomUUID()}"
    val oldV = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val store = Similarity.annIndexStore(oldV, 16, key)
    // the corpus drifts: a one-cell template cohort (the shape that
    // starves a pinned quantizer) — the monitor MUST mandate a rebuild
    val hot = emb.where(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(50L))).as("i"), col("embedding"))
      .select((lit(900000L) + col("i")).as("vec_id"), col("embedding"))
    val adv = Similarity.annIndexStoreAdvance(store, hot, s"$key#adv")
    assert(Similarity.annIndexDrift(store, hot)
      .select("rebuild_due").head().getBoolean(0),
      "the template-cohort batch must fire rebuild_due")
    // the mandated response: retrain + rebuild over the chain union
    val rebuilt = Similarity.annIndexStoreRebuild(adv, s"$key#rebuilt")
    assert(rebuilt.base.isEmpty, "a rebuilt store is a fresh base, no chain")
    // rebuild(chain) ≡ from-scratch build on the same membership — the
    // deterministic-build identity the CORRECTNESS oracle also pins
    val scratch = Similarity.annIndexStore(
      oldV.select(col("vec_id"), col("embedding")).unionByName(hot), 16,
      s"$key#scratch")
    assert(rebuilt.centroids.collect().map(_.getLong(0)).sorted.toSeq ===
      scratch.centroids.collect().map(_.getLong(0)).sorted.toSeq,
      "retrained centroids must equal the from-scratch pick")
    def served(st: Similarity.AnnIndexStore) =
      Similarity.ivfTopKStored(st, emb.where(col("vec_id") < 5), 10)
        .collect().map(_.toString).sorted.toSeq
    assert(served(rebuilt) === served(scratch))
    // serving caches: a second rebuild under the same key must not
    // recompute (the keyed-store discipline every family follows)
    assert(Similarity.annIndexStoreRebuild(adv, s"$key#rebuilt").dir
      === rebuilt.dir)
    // …and the loop closes: the next batch advances from the REBUILT
    // base (O(batch), fresh centroids), and the standing monitor over
    // the new chain still reads only sidecars
    val newV = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val adv2 = Similarity.annIndexStoreAdvance(rebuilt, newV, s"$key#adv2")
    assert(adv2.lists.count() === emb.count() + 50)
    val mon2 = Similarity.annIndexDrift(adv2, newV)
    assert(!mon2.inputFiles.exists(_.contains("lists.parquet")))
    assert(mon2.select("psi").distinct().count() === 1)
  }

  test("StoreStamp: a stamp-read FAULT fails hard — no silent path-only key; opaque keys still work") {
    // no FileSystem handles the scheme → a non-FileNotFound Throwable,
    // the transient-fault shape that previously degraded the key to
    // path-only and could serve a STALE store for a corpus changed in
    // place (r16 ledger edge). Now: loud error, not a stale serve.
    val e = intercept[IllegalStateException] {
      Similarity.annIndexStore(emb, 16, "graft-nofs://nohost/drop")
    }
    assert(e.getMessage.contains("stamp"))
    val e2 = intercept[IllegalStateException] {
      val base = Similarity.annIndexStore(emb, 16,
        s"annstamp-${java.util.UUID.randomUUID()}")
      Similarity.annIndexStoreAdvance(base, emb.limit(3), "graft-nofs://nohost/adv")
    }
    assert(e2.getMessage.contains("stamp"))
    // an OPAQUE key (no embeddings.parquet under the key path) is NOT a
    // fault: path-only keying by contract — spec fixtures depend on it
    val opaque = Similarity.annIndexStore(emb, 16,
      s"annstamp-opaque-${java.util.UUID.randomUUID()}")
    assert(opaque.lists.count() > 0)
  }
}
