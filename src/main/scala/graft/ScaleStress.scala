package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off DECADE scale-stress (VERDICT r9 #2): every scale claim in tree
  * is argued from plan shape at sf0.1 — this main buys one decade of real
  * evidence. It derives a ~sf1 dataset from sf0.1 (x`reps` replication
  * with disjoint key spaces), times the heaviest declared queries at both
  * scales, and prints per-query wall-times with the empirical scaling
  * exponent alpha = ln(t_big/t_small)/ln(reps) — alpha ~ 1 is linear,
  * alpha >> 1 names the next weak component. Results are recorded in
  * BASELINE.md; this is NOT part of the standing bench.
  *
  * Replication is semantics-preserving per decade:
  *  - `lineitem` x10 with l_orderkey/l_partkey/l_suppkey shifted by
  *    10M/replica — 10 disjoint copies of the co-purchase graph, so the
  *    degree distribution (what graph cost scales with) is unchanged;
  *    price/quantity columns replicate, keeping value distributions.
  *  - `documents` x10 with doc_id shifted and replica r > 0 vocabularies
  *    SUBSTITUTED through a per-replica token cipher: every similarity
  *    relation within a replica is preserved exactly (isomorphic
  *    corpora), cross-replica vocabularies are disjoint — the duplication
  *    RATE stays the corpus's own, instead of every doc gaining 9
  *    near-copies.
  *  - `events` x10 with event_id/user_id shifted per replica (disjoint
  *    user populations, same temporal profile).
  *  - everything else copies through unchanged.
  */
object ScaleStress {

  private val Targets = Seq(
    "q_histogram_equidepth", "graph_pagerank", "graph_ppr", "graph_cc_star",
    "dedup_corpus", "dedup_clusters", "corpus_split_leakage_safe",
    "stream_late_drop",
    // second wave: the rest of the bench top — embedding-space dedup/ANN
    // (decade via the signed-permutation transform below), the remaining
    // text-dedup heavies, streaming index maintenance, graph census
    "dedup_embedding", "dedup_embedding_composed",
    "ann_whitened_topk", "ann_cosine_pairs",
    "dedup_minhash_est", "dedup_ngram_jaccard", "stream_dedup_incremental",
    "graph_modularity",
    // third wave: the q relational family (the largest bench family) —
    // orders/supplier/part/customer now replicate WITH shifted keys, so
    // every fact-dim join matches within its replica (a true decade, not
    // a 90%-dangling-FK join that silently drops 9 replicas)
    "q21_sole_late_supplier", "q16_supplier_variety", "q_distinct_agg",
    "q_ivm_join_view", "q1_pricing_summary",
    // store maintenance: min-of-2 serves the second run from the durable
    // store, so the measured cost is the MAINTENANCE path (batch-sized
    // probe + verify against the persisted index), not the store build
    "dedup_store_incremental",
    // PPJoin family (r11 ask #4): the df-capped prefix filter's candidate
    // volume should track corpus size, not its square
    "dedup_jaccard_prefix",
    // exact-substring REWRITE (r14): shuffles sized by duplication, the
    // doc-local token filter adds no token-level exchange — alpha should
    // track the window-digest aggregate (linear), not pair volume
    "dedup_span_removal",
    // its incremental form (r14): min-of-2 serves the second run from
    // the published registry, so the measured cost is the batch rewrite
    // against a 10x registry — the store-maintenance posture
    "dedup_span_store_incremental",
    // the streaming form (r14): per-pass Structured Streaming fixed cost
    // (staging writes, stream start, 2 triggers) should dominate — the
    // per-batch plan is the incremental rewrite above
    "stream_span_removal",
    // cell-store READ path (r15 ask #6): range COUNT must stay flat at
    // x10 (manifest-answered, <=2 boundary files scanned at any region
    // count) and the secondary-index multiGet page must stay bounded by
    // the <=40 region files its keys land in. min-of-2 serves the staged
    // layout from the fixture, so the measured cost is the read path,
    // not the stage write
    "cells_count_range_pushdown", "cells_index_lookup",
    // the STANDING drift monitor (r17 ask #6): replayFold partials are
    // O(micro-batch) and the finisher reads only sidecars after r18, so
    // the row should be trigger-floor-bound like the other replayFold
    // streams (batch side scales with the drop; nothing O(index))
    "stream_drift_monitor")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Deterministic per-replica token SUBSTITUTION (a vocabulary cipher):
    * every token t becomes an 8-hex pseudo-token md5(t ++ replica tag).
    * This is the isomorphic-decade transform: sequence structure, token
    * frequencies, and every within-replica similarity relation are
    * preserved exactly (the mapping is per-replica consistent), while
    * cross-replica vocabularies are DISJOINT — so the scaled corpus has
    * the original's duplication profile at 10x the rows, rather than
    * manufactured cross-replica near-dups.
    *
    * (The first cut of this transform SORTED tokens by a per-replica
    * hash — which canonicalizes word order and turns every pair of docs
    * sharing vocabulary into sequence-near-dups: LSH candidates blew up
    * 20,000x while true pairs grew 10x. Kept as a cautionary note; that
    * adversarial corpus is reported separately in SCALESTRESS.md.) */
  private def cipheredText(r: Int) = expr(
    s"concat_ws(' ', transform(split(text, ' '), t -> substr(md5(concat(t, 'r$r')), 1, 8)))")

  private def buildScaled(spark: SparkSession, src: String, dst: String,
                          reps: Int): Unit = {
    val Shift = 10000000L
    def reps10(f: Int => DataFrame): DataFrame =
      (0 until reps).map(f).reduce(_ unionByName _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write(reps10 { r =>
      li.select(
        (col("l_orderkey") + lit(r * Shift)).as("l_orderkey"),
        (col("l_partkey") + lit(r * Shift)).as("l_partkey"),
        (col("l_suppkey") + lit(r * Shift)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write(reps10 { r =>
      val text = if (r == 0) col("text") else cipheredText(r)
      docs.select((col("doc_id") + lit(r * Shift)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }, "documents")

    val ev = spark.read.parquet(s"$src/events.parquet")
    write(reps10 { r =>
      ev.select((col("event_id") + lit(r * Shift)).as("event_id"), col("ts"),
        (col("user_id") + lit(r * Shift)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    // embeddings x10 through a per-replica SIGNED PERMUTATION of the
    // dimensions (an orthogonal transform): every inner product within a
    // replica is preserved EXACTLY — the embedding-space isomorphism
    // matching the text cipher — while a vector and its cross-replica
    // image decorrelate like random pairs. Permutation/signs are
    // md5-derived per (replica, dim), built once on the driver.
    write(embeddingDecade(spark, src, reps), "embeddings")

    // dims replicate WITH shifted surrogate keys so every lineitem FK
    // resolves within its replica (nation/region keys are small fixed
    // vocabularies — they stay put, and the dim rows keep referencing
    // them). Without this the q-family joins silently drop 9/10 replicas.
    val ord = spark.read.parquet(s"$src/orders.parquet")
    write(reps10 { r =>
      ord.select((col("o_orderkey") + lit(r * Shift)).as("o_orderkey"),
        (col("o_custkey") + lit(r * Shift)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    write(reps10 { r =>
      cust.select((col("c_custkey") + lit(r * Shift)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, "customer")
    val sup = spark.read.parquet(s"$src/supplier.parquet")
    write(reps10 { r =>
      sup.select((col("s_suppkey") + lit(r * Shift)).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }, "supplier")
    val prt = spark.read.parquet(s"$src/part.parquet")
    write(reps10 { r =>
      prt.select((col("p_partkey") + lit(r * Shift)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }, "part")

    Seq("region", "nation")
      .foreach(n => write(spark.read.parquet(s"$src/$n.parquet"), n))
  }

  /** The signed-permutation embedding decade frame (see [[buildScaled]]
    * — shared with the [[embScaleMain]] layout-scaling measurement). */
  private def embeddingDecade(spark: SparkSession, src: String,
                              reps: Int): DataFrame = {
    val Shift = 10000000L
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    def h(r: Int, i: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"perm|$r|$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    (0 until reps).map { r =>
      if (r == 0)
        emb.select(col("vec_id"), col("embedding"), col("label"))
      else {
        val perm = (0 until d).sortBy(h(r, _))
        val sign = (0 until d).map(i => if (h(r, i + d).head < '8') 1.0f else -1.0f)
        val mapped = array(perm.zip(sign).map { case (p, s) =>
          (element_at(col("embedding"), p + 1) * lit(s)).cast("float")
        }: _*)
        emb.select((col("vec_id") + lit(r * Shift)).as("vec_id"),
          mapped.as("embedding"), col("label"))
      }
    }.reduce(_ unionByName _)
  }

  /** LAYOUT-SCALED RP search decade (`runMain graft.ScaleStress
    * embscale`): the fixed-parameter decade rows for the RP-band family
    * (dedup_embedding α ~1.2, ann_cosine_pairs α ~1.7 at x10) measure a
    * STRUCTURAL quadratic — 2^planesPerBand band buckets are a constant,
    * so per-bucket occupancy grows with n and candidate volume with n².
    * The deployment answer named in [[graft.operators.Similarity
    * .cosinePairsBucketed]]'s scaladoc is that planesPerBand scales with
    * log(n), holding E[occupancy] constant. This mode MEASURES that
    * knob: the x`reps` corpus under (a) the declared fixed parameters
    * and (b) planesPerBand+ceil(log2 reps) — same expected occupancy as
    * x1 — and prints both alphas. (More planes lower per-band recall; a
    * deployment compensates with more bands — the cost knob measured
    * here is buckets, recall tuning is the S-curve eval's job.)
    * Results → SCALESTRESS_embscale.md + one JSON line. */
  /** Alternating in-session A/B of the adaptive CC escalation trigger
    * (`graft.cc.adaptive`) over the cluster-heavy declared queries at
    * sf0.1 — the measurement discipline the r16 cap-metric ledger line
    * mandates: same JVM, arms interleaved, 3 reps each, report mins and
    * means. The adaptive trigger can only move COST (outputs are min-id
    * identical, spec-pinned), so this is the whole question. */
  private def ccAbMain(spark: SparkSession, src: String): Unit = {
    val queries = Seq("dedup_clusters", "dedup_embedding",
      "dedup_embedding_composed", "graph_cc_star")
    val arms = Seq("true", "false")
    val times = scala.collection.mutable.Map[(String, String),
      List[Double]]().withDefaultValue(Nil)
    // warmup
    force(SparkEntry.queries("dedup_clusters")(spark, src))
    unpersistAll(spark)
    for (rep <- 1 to 3; arm <- arms; qn <- queries) {
      spark.conf.set("graft.cc.adaptive", arm)
      val t0 = System.nanoTime()
      force(SparkEntry.queries(qn)(spark, src))
      unpersistAll(spark)
      val t = (System.nanoTime() - t0) / 1e9
      times((qn, arm)) ::= t
      System.err.println(f"[ccab] rep$rep adaptive=$arm $qn%-28s $t%6.2f s")
    }
    spark.conf.set("graft.cc.adaptive", "true")
    println(queries.map { qn =>
      val on = times((qn, "true")); val off = times((qn, "false"))
      f""""$qn":{"adaptive_min":${on.min}%.2f,"fixed_min":${off.min}%.2f,""" +
        f""""adaptive_mean":${on.sum / on.size}%.2f,"fixed_mean":${off.sum / off.size}%.2f}"""
    }.mkString("{", ",", "}"))
  }

  private def embScaleMain(spark: SparkSession, src: String, reps: Int): Unit = {
    import graft.operators.Similarity
    val dst = java.nio.file.Files.createTempDirectory("graft-embscale").toString
    System.err.println(s"[scalestress] building embedding x$reps decade at $dst")
    embeddingDecade(spark, src, reps)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val small = spark.read.parquet(s"$src/embeddings.parquet")
    val big = spark.read.parquet(s"$dst/embeddings.parquet")
    // the engine's own sizing function picks the scaled layout (for the
    // x10 corpus it lands on 4 + log2(reps) — the constant-occupancy knob)
    val extraPlanes = Similarity.rpPlanesFor(big.count()) - 4
    def min2(body: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); body; unpersistAll(spark)
      (System.nanoTime() - t0) / 1e9
    }.min
    // since r16 the DECLARED DEFAULT is the corpus-sized layout
    // (planesPerBand = rpPlanesFor(count)); the fixed row pins the old
    // 4-plane constant explicitly to keep measuring the structural
    // quadratic the default retired
    val tSmall = min2(force(Similarity.cosinePairsBucketed(small, 0.4)))
    val tFixed = min2(force(Similarity.cosinePairsBucketed(big, 0.4,
      bands = 4, planesPerBand = 4)))
    val tScaled = min2(force(Similarity.cosinePairsBucketed(big, 0.4)))
    def alpha(b: Double): Double = math.log(b / tSmall) / math.log(reps.toDouble)
    val table =
      s"""# RP-band layout scaling (embeddings sf0.1 -> x$reps, min-of-2, local[32])
         |
         |Fixed parameters leave 2^4 buckets/band at every scale, so occupancy
         |grows with n and candidate volume with n² — the structural quadratic
         |behind the pre-r16 fixed-layout decade alphas. Scaling planesPerBand
         |with log2(reps) (4 -> ${4 + extraPlanes}) holds E[occupancy] at the
         |x1 level — and since r16 that corpus-sized layout (rpPlanesFor over a
         |planning-time count) IS the declared default; the fixed row pins
         |planesPerBand=4 explicitly:
         |
         || corpus | planes/band | secs | alpha vs x1 |
         ||---|---|---|---|
         || x1 | 4 (default, sized) | ${f"$tSmall%.2f"} | — |
         || x$reps | 4 (pinned fixed) | ${f"$tFixed%.2f"} | ${f"${alpha(tFixed)}%.2f"} |
         || x$reps | ${4 + extraPlanes} (default, sized) | ${f"$tScaled%.2f"} | ${f"${alpha(tScaled)}%.2f"} |
         |
         |The sized layout is the 100 TB posture: bucket count is a data-size
         |knob, not a constant — with it the RP candidate stage prices linearly
         |(occupancy-capped against cohorts either way, RpBucketCap).
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALESTRESS_embscale.md"), table)
    println(s"""{"emb_scale":{"reps":$reps,"small_secs":${f"$tSmall%.2f"},""" +
      s""""fixed_secs":${f"$tFixed%.2f"},"fixed_alpha":${f"${alpha(tFixed)}%.2f"},""" +
      s""""scaled_planes":${4 + extraPlanes},"scaled_secs":${f"$tScaled%.2f"},""" +
      s""""scaled_alpha":${f"${alpha(tScaled)}%.2f"}}}""")
  }

  /** REGION-COUNT decade for the cell-store read path (`runMain
    * graft.ScaleStress cellscale`): the Targets decade row for
    * `cells_index_lookup` reads α ≈ 0.65 — but that corpus decade holds
    * REGION COUNT fixed at 10, so each region FILE grows 10× and the
    * per-lookup bound ("K keys open ≤ K files, one file per Get") is a
    * bound over 10×-bigger files. A deployment does the opposite —
    * region SIZE is the held constant (the HBase split policy) and
    * region COUNT grows with data. This mode measures THAT posture:
    * x1 = sf0.1 customer cells in 10 regions, x`reps` = the shifted-key
    * customer decade in `reps`×10 regions (same expected cells/region),
    * timing (a) the manifest-answered row-range COUNT and (b) a 40-key
    * multiGet page. Both read sets are bounded by files of CONSTANT
    * size at any region count, so both should hold ~flat. Results →
    * SCALESTRESS_cellscale.md + one JSON line. */
  private def cellScaleMain(spark: SparkSession, src: String, reps: Int): Unit = {
    import graft.functions.keys
    import graft.operators.{CellOps, RegionSort}
    val custKey = keys.md5CompositeKey(Seq(
      col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment")))
    val custVals = Seq(col("c_custkey").cast("string"), col("c_name"),
      col("c_nationkey").cast("string"),
      col("c_acctbal").cast("decimal(18,2)").cast("string"), col("c_mktsegment"))
    val Shift = 10000000L
    val cust1 = spark.read.parquet(s"$src/customer.parquet")
    val custN = (0 until reps).map(r =>
      cust1.select((col("c_custkey") + lit(r * Shift)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
      .reduce(_ unionByName _)
    val base = java.nio.file.Files.createTempDirectory("graft-cellscale").toString
    def stage(df: DataFrame, regions: Int, name: String): String = {
      val path = s"$base/$name"
      graft.SortedParquetCellSink.write(RegionSort.sortedByRange(
        CellOps.explodeIndexed(df, custKey, "c", custVals), regions), path)
      path
    }
    System.err.println(s"[scalestress] staging cellscale layouts under $base")
    val p1 = stage(cust1, 10, "x1")
    val pN = stage(custN, reps * 10, s"x$reps")
    // the same 40-key Get page on both layouts: replica 0 keeps the
    // original keys, so x1's page exists verbatim in the xN table
    val page = cust1.select(custKey.as("k")).collect()
      .map(_.getAs[Array[Byte]]("k"))
      .sortBy(_.map("%02x".format(_)).mkString).take(40).toSeq
    def min2(body: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); body; unpersistAll(spark)
      (System.nanoTime() - t0) / 1e9
    }.min
    def rangeCount(path: String): Unit =
      spark.read.format("graft-cells").load(path)
        .where(col("row") >= lit(Array(0x40.toByte)) &&
          col("row") < lit(Array(0x80.toByte)))
        .agg(count(lit(1))).collect()
    def multiGet(path: String): Unit =
      graft.sources.CellScan.multiGet(spark, path, page).collect()
    val rc1 = min2(rangeCount(p1)); val rcN = min2(rangeCount(pN))
    val mg1 = min2(multiGet(p1)); val mgN = min2(multiGet(pN))
    def alpha(b: Double, s: Double) = math.log(b / s) / math.log(reps.toDouble)
    val table =
      s"""# Cell-store read path, REGION-COUNT decade (sf0.1 -> x$reps, min-of-2, local[32])
         |
         |Constant region SIZE (the deployment posture): x1 = 10 regions,
         |x$reps = ${reps * 10} regions, same expected cells/region. The corpus
         |decade in SCALESTRESS_partial.md holds region COUNT fixed instead,
         |so its per-file bound is over 10x-bigger files (alpha 0.65 there).
         |
         || read | x1 s | x$reps s | alpha |
         ||---|---|---|---|
         || range COUNT (manifest-answered, <=2 boundary files) | ${f"$rc1%.2f"} | ${f"$rcN%.2f"} | ${f"${alpha(rcN, rc1)}%.2f"} |
         || 40-key multiGet page (<=40 region files) | ${f"$mg1%.2f"} | ${f"$mgN%.2f"} | ${f"${alpha(mgN, mg1)}%.2f"} |
         |
         |Both read sets are bounded by files of constant size at any region
         |count — the lookup tier a serving deployment actually scales on.
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALESTRESS_cellscale.md"), table)
    println(s"""{"cell_scale":{"reps":$reps,"range_count_x1":${f"$rc1%.2f"},""" +
      s""""range_count_xN":${f"$rcN%.2f"},"range_count_alpha":${f"${alpha(rcN, rc1)}%.2f"},""" +
      s""""multiget_x1":${f"$mg1%.2f"},"multiget_xN":${f"$mgN%.2f"},""" +
      s""""multiget_alpha":${f"${alpha(mgN, mg1)}%.2f"}}}""")
  }

  /** ADVERSARIAL store-maintenance stress (`runMain graft.ScaleStress
    * adversarial`): rebuild the canonicalized-order corpus that first
    * exposed the bucket-occupancy bound (per-replica token cipher THEN
    * per-doc token SORT — any two docs sharing vocabulary become
    * sequence-near-dups, so band buckets reach occupancies two orders
    * above the real corpus), build the durable dedup store on its old-90%
    * under that hostile occupancy, and measure what the VERDICT asked:
    * does maintenance cost track BATCH size (not store size) when the
    * buckets are hostile, and what does [[graft.operators.Dedup
    * .capCrossings]] report? Two maintenance probes against the SAME
    * published store — the full 10% drop and a 1% sub-drop (10× smaller)
    * — plus the full advance-and-publish cycle, and the crossings count.
    * Results → SCALESTRESS_adversarial.md + one JSON line. */
  private def adversarialMain(spark: SparkSession, src: String, reps: Int): Unit = {
    import graft.operators.Dedup
    val Shift = 10000000L
    val dst = java.nio.file.Files.createTempDirectory("graft-advstress").toString
    System.err.println(s"[scalestress] building adversarial x$reps corpus at $dst")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    def sortedCipher(r: Int) = expr(
      s"concat_ws(' ', array_sort(transform(split(text, ' '), " +
        s"t -> substr(md5(concat(t, 'r$r')), 1, 8))))")
    (0 until reps).map { r =>
      val text = sortedCipher(r)
      docs.select((col("doc_id") + lit(r * Shift)).as("doc_id"), text.as("text"),
        col("lang"), col("source"), length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val all = spark.read.parquet(s"$dst/documents.parquet")
    val old90 = all.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch10 = all.where(pmod(col("doc_id"), lit(10)) === 0)   // the full drop
    val batch01 = all.where(pmod(col("doc_id"), lit(100)) === 0)  // 10x smaller sub-drop
    val (nOld, n10, n01) = (old90.count(), batch10.count(), batch01.count())
    def lap(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val tb = System.nanoTime()
    val store = Dedup.dedupStore(old90, 3, 0.8, s"$dst#advold90")
    val buildSecs = lap(tb)
    val storedBands = store.bands.count()
    def min2(body: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); body; unpersistAll(spark); lap(t0)
    }.min
    val t10 = min2(force(Dedup.incrementalCorpusDedupStored(batch10, store, 3, 0.8)))
    val t01 = min2(force(Dedup.incrementalCorpusDedupStored(batch01, store, 3, 0.8)))
    val crossings = Dedup.capCrossings(batch10, store, 3).count()
    val ta = System.nanoTime()
    Dedup.dedupStoreAdvance(store, batch10, 3, 0.8, s"$dst#advanced")
    val advSecs = lap(ta)
    // exact-substring REMOVAL worst case: per-doc token sort makes any
    // two vocabulary-sharing docs window-identical, maximizing cross-doc
    // duplication — coverage is token-bounded, so cost must stay
    // comparable to the plain ciphered corpus (the SCALESTRESS.md x10
    // row), not blow up with the dup rate
    val tSpanAdv = min2(force(Dedup.removeRepeatedSpans(all, 8)))
    val spanStats = Dedup.removeRepeatedSpans(all, 8)
      .agg(sum(col("n_removed")), sum(col("n_tokens"))).head()
    val (remTok, totTok) = (spanStats.getLong(0), spanStats.getLong(1))
    // RP-bucket occupancy cap under an embedding BOILERPLATE COHORT
    // (r15 ask): the real corpus plus a `reps`×|corpus|/5 cohort of ONE
    // template vector — the embedded boilerplate page. Every band
    // collides the whole cohort into a single bucket, so uncapped
    // candidate volume gains a cohort²/2·bands quadratic term while the
    // real part keeps its ordinary occupancies; a cap sitting between
    // the two regimes (binding, the ann_capped_rp_pairs oracle posture)
    // must price the corpus like its non-cohort part.
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val dEmb = emb.select(size(col("embedding"))).head().getInt(0)
    val template = array((0 until dEmb).map(i =>
      lit(math.cos(i * 0.37).toFloat)): _*)
    val nBase = emb.count()
    val cohort = nBase * reps / 5
    val cohortDf = spark.range(cohort)
      .select((col("id") + lit(Shift)).as("vec_id"), template.as("embedding"),
        lit(-1L).cast(emb.schema("label").dataType).as("label"))
    emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(cohortDf)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val hostile = spark.read.parquet(s"$dst/embeddings.parquet")
    val nVec = hostile.count()
    val embCap = 500 // >> real-corpus band occupancy, << cohort size
    val tEmbCapped = min2(force(
      Similarity.cosinePairsBucketed(hostile, 0.4, maxBucket = embCap)))
    val tEmbBase = min2(force(Similarity.cosinePairsBucketed(emb, 0.4)))
    val cappedPairs = Similarity
      .cosinePairsBucketed(hostile, 0.4, maxBucket = embCap).count()
    // uncapped cohort candidate volume per band is a closed form — the
    // quadratic the cap removes (timing it IS the blowup, so it is
    // counted, not run)
    val uncappedCand = cohort * (cohort - 1) / 2
    val table =
      s"""# Adversarial store maintenance (canonicalized-order corpus, x$reps, local[32])
         |
         |Corpus: per-replica token cipher + per-doc token SORT — the hostile
         |transform from "The adversarial decade" (any two docs sharing
         |vocabulary become sequence-near-dups; band-bucket occupancy is two
         |orders above the real corpus). Store built on the old-90%
         |($nOld docs, $storedBands stored band rows, ${f"$buildSecs%.1f"} s build —
         |build cost is not the claim; the maintenance path is).
         |
         || probe (same published store) | batch docs | secs (min-of-2) |
         ||---|---|---|
         || incremental, full 10% drop | $n10 | ${f"$t10%.2f"} |
         || incremental, 1% sub-drop | $n01 | ${f"$t01%.2f"} |
         || full advance + publish (10% drop) | $n10 | ${f"$advSecs%.2f"} |
         |
         |Batch ratio ${f"${n10.toDouble / n01}%.1f"}x -> cost ratio
         |${f"${t10 / t01}%.1f"}x: maintenance cost tracks BATCH size at
         |hostile occupancy (a store-size-shaped cost would be flat across
         |the two probes at ~the big-batch time; per-run fixed cost pulls
         |the ratio below the batch ratio, never above it).
         |capCrossings(full drop) = $crossings buckets crossed the
         |occupancy cap only once the batch landed — the exact set whose
         |member docs would need a rebuild for incremental ==
         |full-recompute equivalence. Zero means even this engineered
         |corpus keeps every bucket below BandBucketCap (10,000) — the
         |hostile occupancies (~hundreds per bucket at x10) are still an
         |order of magnitude under it, so the incremental result is
         |EXACTLY the full recompute here; the binding-cap regime is
         |oracle-pinned separately (`dedup_capped_lsh`, cap=2).
         |
         |Exact-substring removal under the same hostile transform (every
         |vocabulary-sharing doc pair becomes window-identical — the
         |worst case for cross-doc span duplication): full-corpus
         |`removeRepeatedSpans` k=8 over all ${nOld + n10} docs runs in
         |${f"$tSpanAdv%.2f"} s (min-of-2) and removes $remTok of $totTok
         |tokens. Dup coverage is TOKEN-bounded by construction, so even a
         |maximally duplicated corpus prices like the plain ciphered x$reps
         |decade row (SCALESTRESS.md), not like its duplication rate.
         |
         |RP-bucket occupancy cap under an embedding BOILERPLATE COHORT
         |($nVec vectors = the real corpus ($nBase) plus a $cohort-copy
         |template cohort — every band collides the cohort into one
         |bucket): `cosinePairsBucketed` with the cap binding at $embCap
         |runs in ${f"$tEmbCapped%.2f"} s (min-of-2) and emits $cappedPairs
         |verified pairs, vs ${f"$tEmbBase%.2f"} s for the cohort-free
         |corpus — the capped plan prices like the corpus's non-cohort
         |part. Uncapped, the cohort alone contributes $uncappedCand
         |candidate pairs PER BAND before any verify — the occ²/2
         |quadratic the cap removes. Cohort members are exact duplicates
         |by construction, which the identity pass catches without a pair
         |join (the composition the cap's scaladoc prescribes).
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALESTRESS_adversarial.md"), table)
    println(s"""{"adversarial":{"reps":$reps,"old_docs":$nOld,"stored_bands":$storedBands,""" +
      s""""build_secs":${f"$buildSecs%.2f"},"batch10_docs":$n10,"batch10_secs":${f"$t10%.2f"},""" +
      s""""batch01_docs":$n01,"batch01_secs":${f"$t01%.2f"},"advance_secs":${f"$advSecs%.2f"},""" +
      s""""cap_crossings":$crossings,"span_removal_secs":${f"$tSpanAdv%.2f"},""" +
      s""""span_removed_tokens":$remTok,"span_total_tokens":$totTok,""" +
      s""""emb_vectors":$nVec,"emb_cohort":$cohort,"emb_cap":$embCap,""" +
      s""""emb_capped_secs":${f"$tEmbCapped%.2f"},"emb_base_secs":${f"$tEmbBase%.2f"},""" +
      s""""emb_capped_pairs":$cappedPairs,"emb_uncapped_cohort_cand":$uncappedCand}}""")
  }

  /** Per-run shuffle-write tally (bytes + records across all tasks). */
  private class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** TWO-PHASE INGEST decade (`runMain graft.ScaleStress ingest` — VERDICT
    * r13 #4): the round-13 redesign moved the ingest total-order exchange
    * from exploded CELLS to source ROWS, claiming ~2.5-3× fewer shuffle
    * bytes and arity× fewer shuffle tuples — metric-pinned at 200 rows,
    * never MEASURED across a scale decade. This mode records the curve:
    * both paths (the production two-phase `fromPositional` and the
    * retired explode-first cell-level exchange) at 10 and 10×`reps`
    * replicas of the reference CSV, wall-clock min-of-2 plus shuffle
    * write bytes/records from Spark's own task metrics.
    * Results → SCALESTRESS_ingest.md + one JSON line. */
  private def ingestMain(spark: SparkSession, reps: Int): Unit = {
    import graft.functions.keys
    val refCsv = "/root/reference/src/main/resources/iouzipcodes2011.csv"
    require(new java.io.File(refCsv).exists(), s"missing $refCsv")
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refCsv))
    def mkInput(copies: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ingstress$copies")
      (0 until copies).foreach(i =>
        java.nio.file.Files.write(dir.resolve(f"part-$i%04d.csv"), raw))
      dir.toString
    }
    // explicit boundaries so BOTH paths take the exact-alignment custom
    // exchange (RegionAlignedRowExchange over rows vs over cells) — the
    // comparison the r13 claim is about, not Catalyst's sampled range
    val cfg = BulkLoad.Config(compatNaiveSplit = true,
      splits = Some(graft.operators.RegionSort.uniformMd5Splits(32).toSeq))
    // production two-phase path: rows keyed once, exchanged once, cells
    // exploded INSIDE the destination region partition
    def twoPhase(dir: String): DataFrame = BulkLoad.csv(spark, dir, cfg).cells
    // retired pre-r13 cell-level path: explode FIRST, then the exchange
    // moves every cell (key + family/qualifier/ts overhead × arity)
    def cellLevel(dir: String): DataFrame = {
      val (kept, _) = graft.sources.Delimited.naiveSplit(spark, dir, ",", cfg.arity)
      val keyable = kept.where(
        cfg.keyFields.map(i => col(s"c$i").isNotNull).reduce(_ && _))
      val cells = graft.operators.CellOps.explodeIndexed(keyable,
        keys.md5CompositeKey(cfg.keyFields.map(i => col(s"c$i"))),
        cfg.family, (0 until cfg.arity).map(i => col(s"c$i")), cfg.loadTs)
      BulkLoad.sorted(cells, cfg)
    }
    def measure(build: => DataFrame): (Double, Long, Long) = {
      var best = Double.MaxValue
      var b = 0L; var r = 0L
      (1 to 2).foreach { _ =>
        val tally = new ShuffleTally
        spark.sparkContext.addSparkListener(tally)
        val t0 = System.nanoTime()
        force(build)
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // let the listener bus drain task-end events
        spark.sparkContext.removeSparkListener(tally)
        unpersistAll(spark)
        // record bytes/records together with the wall-clock they belong
        // to — unconditionally overwriting them would publish a ratio
        // that mixes metrics from one pass with the other's timing
        if (secs < best) {
          best = secs
          b = tally.bytes.get(); r = tally.records.get()
        }
      }
      (best, b, r)
    }
    val scales = Seq(10, 10 * reps)
    val rows = scales.map { copies =>
      val dir = mkInput(copies)
      val inputRows = spark.read.text(dir).count()
      val (tpSecs, tpB, tpR) = measure(twoPhase(dir))
      val (clSecs, clB, clR) = measure(cellLevel(dir))
      System.err.println(f"[scalestress] ingest x$copies%-4d rows=$inputRows%-9d " +
        f"two-phase $tpSecs%6.2f s ${tpB / 1e6}%8.1f MB $tpR%9d rec | " +
        f"cell-level $clSecs%6.2f s ${clB / 1e6}%8.1f MB $clR%9d rec")
      val d = new java.io.File(dir)
      d.listFiles().foreach(_.delete()); d.delete()
      (copies, inputRows, tpSecs, tpB, tpR, clSecs, clB, clR)
    }
    def alpha(small: Double, big: Double): Double =
      math.log(big / small) / math.log(reps.toDouble)
    val (s, l) = (rows.head, rows.last)
    val table =
      s"""# Two-phase ingest decade (reference CSV, explicit 32-way splits, min-of-2, local[32])
         |
         |Both paths parse the same input and land identical sorted cells; they
         |differ ONLY in what the region-aligned total-order exchange moves —
         |source ROWS (two-phase, the production path since r13) vs exploded
         |CELLS (the retired pre-r13 path). Shuffle bytes/records are summed
         |from Spark task metrics over the measured job.
         |
         || path | input rows | wall s | shuffle MB | shuffle records |
         ||---|---|---|---|---|
         || two-phase, x${s._1} | ${s._2} | ${f"${s._3}%.2f"} | ${f"${s._4 / 1e6}%.1f"} | ${s._5} |
         || cell-level, x${s._1} | ${s._2} | ${f"${s._6}%.2f"} | ${f"${s._7 / 1e6}%.1f"} | ${s._8} |
         || two-phase, x${l._1} | ${l._2} | ${f"${l._3}%.2f"} | ${f"${l._4 / 1e6}%.1f"} | ${l._5} |
         || cell-level, x${l._1} | ${l._2} | ${f"${l._6}%.2f"} | ${f"${l._7 / 1e6}%.1f"} | ${l._8} |
         |
         |At x${l._1}: the cell-level exchange moves ${f"${l._7.toDouble / l._4}%.2f"}x the bytes and
         |${f"${l._8.toDouble / l._5}%.1f"}x the records of the two-phase exchange, for
         |${f"${l._6 / l._3}%.2f"}x the wall-clock. Decade alpha (x${s._1} -> x${l._1}):
         |two-phase ${f"${alpha(s._3, l._3)}%.2f"}, cell-level ${f"${alpha(s._6, l._6)}%.2f"} —
         |both linear in input; the two-phase advantage is a constant FACTOR on
         |the dominant exchange, which is exactly what survives a 100x scale-up.
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALESTRESS_ingest.md"), table)
    println(rows.map { case (c, n, tps, tpb, tpr, cls, clb, clr) =>
      s""""x$c":{"rows":$n,"two_phase":{"secs":${f"$tps%.2f"},"bytes":$tpb,"records":$tpr},""" +
        s""""cell_level":{"secs":${f"$cls%.2f"},"bytes":$clb,"records":$clr}}"""
    }.mkString("{\"ingest_decade\":{", ",", "}}"))
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val spark = GraftSession.local("graft-scalestress", 32)
    if (args.headOption.contains("adversarial")) {
      try adversarialMain(spark, src, reps) finally spark.stop()
      return
    }
    if (args.headOption.contains("ingest")) {
      try ingestMain(spark, reps) finally spark.stop()
      return
    }
    if (args.headOption.contains("ccab")) {
      try ccAbMain(spark, src) finally spark.stop()
      return
    }
    if (args.headOption.contains("embscale")) {
      try embScaleMain(spark, src, reps) finally spark.stop()
      return
    }
    if (args.headOption.contains("cellscale")) {
      try cellScaleMain(spark, src, reps) finally spark.stop()
      return
    }
    val dst = java.nio.file.Files.createTempDirectory("graft-scalestress").toString
    System.err.println(s"[scalestress] building x$reps dataset at $dst")
    buildScaled(spark, src, dst, reps)

    def time(name: String, dir: String): Double = {
      // min of 2 (ambient-noise damping; same rationale as Bench)
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        force(SparkEntry.queries(name)(spark, dir))
        unpersistAll(spark)
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // warmup
    try force(SparkEntry.queries("q1_pricing_summary")(spark, src))
    catch { case _: Throwable => () }
    unpersistAll(spark)

    // the ANN index-advance MAINTENANCE path (r15 ask #2): the declared
    // query's keyed store would serve from cache on the second run, so
    // batch cost is measured with a fresh advance key per pass against a
    // pre-built (and excluded) base store — what's timed is exactly one
    // broadcast-centroid assignment of the 10% batch plus the delta
    // publish, at both scales
    // fresh-UUID-keyed stores are measurement scaffolding, not artifacts:
    // delete each one's keyed dir after its timing so a scalestress run
    // leaves only the stable cached base behind (pre-fix every run leaked
    // ~11 store filesets per scale into the store root permanently)
    def deleteStore(st: graft.operators.Similarity.AnnIndexStore): Unit = {
      val keyed = new org.apache.hadoop.fs.Path(st.dir).getParent
      keyed.getFileSystem(spark.sessionState.newHadoopConf()).delete(keyed, true)
    }
    def annAdvanceBatch(dir: String): Double = {
      import graft.operators.Similarity
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val newV = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#scalestress-old90")
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val adv = Similarity.annIndexStoreAdvance(store, newV,
          s"$dir#scalestress-adv-${java.util.UUID.randomUUID()}")
        unpersistAll(spark)
        val t = (System.nanoTime() - t0) / 1e9
        deleteStore(adv) // outside the timed region; base stays cached
        t
      }.min
    }
    val AdvanceRowName = "ann_ivf_store_advance_batch"

    // drift monitor at FIXED batch size (r17 ask #1 evidence): the base
    // side is the persisted per-link sidecar (O(nlist) rows), so
    // monitoring cost must stay FLAT while the index grows 10x under an
    // unchanged batch — pre-r18 this was O(index): annIndexDriftFinish
    // rescanned every inverted-list file (embedding vectors included)
    // on every run. The store is pre-built outside the timed region;
    // the batch is always the sf0.1 10% slice, both scales.
    def annDriftFixedBatch(dir: String): Double = {
      import graft.operators.Similarity
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val batch = spark.read.parquet(s"$src/embeddings.parquet")
        .where(pmod(col("vec_id"), lit(10)) === 0)
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val store = Similarity.annIndexStore(oldV, 16, s"$dir#scalestress-old90")
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        force(Similarity.annIndexDrift(store, batch))
        unpersistAll(spark)
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val DriftRowName = "ann_ivf_drift_fixed_batch"

    // chain-cost vs compaction (r16 ask #2): after k advances every
    // serve lists and unions k+1 link filesets (partition-pruned per
    // link, but the listing overhead accumulates exactly like small
    // HFiles after many flushes); compaction folds the chain into one
    // fileset. Measured: the SAME pinned-centroid top-k served from an
    // 8-link chain vs from its compacted store, at both scales — the
    // per-serve overhead the compaction exists to kill, and its decade
    // trend. Stores are pre-built outside the timed region; a fresh tag
    // per invocation keeps min-of-2 serving real filesets, not caches.
    def annServeChainVsCompact(dir: String): (Double, Double) = {
      import graft.operators.Similarity
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val oldV = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
      val newV = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val base = Similarity.annIndexStore(oldV, 16, s"$dir#scalestress-old90")
      val tag = java.util.UUID.randomUUID()
      val links = scala.collection.mutable.Buffer.empty[Similarity.AnnIndexStore]
      var chain = base
      for (i <- 0 until 8) {
        chain = Similarity.annIndexStoreAdvance(chain,
          newV.where(pmod((col("vec_id") / lit(10)).cast("long"), lit(8)) === i),
          s"$dir#scalestress-chain-$tag-$i")
        links += chain
      }
      val compacted = Similarity.annIndexStoreCompact(chain, s"$dir#scalestress-cpt-$tag")
      val q = e.where(col("vec_id") < 5)
      def serve(st: Similarity.AnnIndexStore): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        force(Similarity.ivfTopKStored(st, q, 10))
        unpersistAll(spark)
        (System.nanoTime() - t0) / 1e9
      }.min
      val r = (serve(chain), serve(compacted))
      (links :+ compacted).foreach(deleteStore) // keep only the cached base
      r
    }
    val ChainRowName = "ann_ivf_serve_chain8"
    val CompactRowName = "ann_ivf_serve_compacted"

    // optional args = subset of Targets (re-measuring one family)
    val picked = if (args.isEmpty) Targets else Targets.filter(args.toSet)
    val rows0 = picked.map { name =>
      val small = time(name, src)
      System.err.println(f"[scalestress] $name%-28s sf0.1 $small%7.2f s")
      val big = time(name, dst)
      val alpha = math.log(big / small) / math.log(reps.toDouble)
      System.err.println(f"[scalestress] $name%-28s x$reps   $big%7.2f s  alpha=$alpha%5.2f")
      (name, small, big, alpha)
    }
    val rows = rows0 ++ (if (args.isEmpty || args.contains(AdvanceRowName)) {
      val small = annAdvanceBatch(src)
      System.err.println(f"[scalestress] $AdvanceRowName%-28s sf0.1 $small%7.2f s")
      val big = annAdvanceBatch(dst)
      val alpha = math.log(big / small) / math.log(reps.toDouble)
      System.err.println(f"[scalestress] $AdvanceRowName%-28s x$reps   $big%7.2f s  alpha=$alpha%5.2f")
      Seq((AdvanceRowName, small, big, alpha))
    } else Nil) ++ (if (args.isEmpty || args.contains(DriftRowName)) {
      val small = annDriftFixedBatch(src)
      System.err.println(f"[scalestress] $DriftRowName%-28s sf0.1 $small%7.2f s")
      val big = annDriftFixedBatch(dst)
      val alpha = math.log(big / small) / math.log(reps.toDouble)
      System.err.println(f"[scalestress] $DriftRowName%-28s x$reps   $big%7.2f s  alpha=$alpha%5.2f")
      Seq((DriftRowName, small, big, alpha))
    } else Nil) ++ (if (args.isEmpty || args.contains(ChainRowName) ||
        args.contains(CompactRowName)) {
      val (chainS, cptS) = annServeChainVsCompact(src)
      System.err.println(f"[scalestress] $ChainRowName%-28s sf0.1 $chainS%7.2f s" +
        f" vs compacted $cptS%7.2f s")
      val (chainB, cptB) = annServeChainVsCompact(dst)
      val aChain = math.log(chainB / chainS) / math.log(reps.toDouble)
      val aCpt = math.log(cptB / cptS) / math.log(reps.toDouble)
      System.err.println(f"[scalestress] $ChainRowName%-28s x$reps   $chainB%7.2f s" +
        f" vs compacted $cptB%7.2f s")
      Seq((ChainRowName, chainS, chainB, aChain),
        (CompactRowName, cptS, cptB, aCpt))
    } else Nil)
    val table = rows.map { case (n, s, b, a) =>
      f"| $n | $s%.2f | $b%.2f | $a%.2f |"
    }.mkString(
      s"| query | sf0.1 s | x$reps s | alpha |\n|---|---|---|---|\n", "\n", "\n")
    // subset runs land in a side file: SCALESTRESS.md is the curated
    // cross-round table and a partial re-measure must not clobber it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        if (args.isEmpty) "SCALESTRESS.md" else "SCALESTRESS_partial.md"),
      s"# Decade scale-stress (sf0.1 -> x$reps, min-of-2, local[32])\n\n" +
        "alpha = ln(t_big/t_small)/ln(reps); ~1.0 linear, >1.3 investigate.\n\n" +
        table)
    println(rows.map { case (n, s, b, a) =>
      s""""$n":{"small":${f"$s%.2f"},"big":${f"$b%.2f"},"alpha":${f"$a%.2f"}}"""
    }.mkString("{", ",", "}"))
    spark.stop()
  }
}
