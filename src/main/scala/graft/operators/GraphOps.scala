package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph analytics over relational edge lists — the centrality
  * complement to [[Dedup.clusters]]' connected components.
  */
object GraphOps {

  /** Fixed-point scale: ranks are integer counts of 10⁻¹² units. */
  val RankScale = 1000000000000L

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log n)-round algorithm that replaces hash-min label
    * propagation's O(diameter) rounds at scale: a 100 TB near-dup graph
    * with a long chain component costs hash-min one full shuffle round
    * PER HOP, while the star rounds square away path length. Each round
    * is one groupBy-min + one equi-join over the edge frame — same
    * per-round cost as hash-min, exponentially fewer rounds.
    *
    *  - large-star: every neighbor v > u re-parents to
    *    m = min(Γ(u) ∪ {u}) (computed over the symmetrized frame);
    *  - small-star: keyed on the LARGER endpoint, every smaller neighbor
    *    (and u itself) re-parents to the minimum.
    *
    * Convergence = the small-star edge set reproduces itself (an exact
    * exceptAll check, run once per round over the star-shrunk frame, not
    * per hop). At the fixpoint edges form stars centered at component
    * minima, so labels read directly off the edge list. Output:
    * (doc_id, cluster_id) for every node, matching [[Dedup.clusters]]
    * exactly (min-id representative) on irreflexive pair lists — the
    * near-dup generators' contract (self-pairs are dropped here, so a
    * node appearing ONLY as a self-pair emits no row). Edge frames
    * materialize per round through [[Dedup.materialize]]. */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    var edges = Dedup.materialize(
      pairs.select(col("a").as("u"), col("b").as("v"))
        .where(col("u") =!= col("v")).distinct())
    // node set off the materialized frame — the upstream pair pipeline
    // (often an LSH candidate search) must run exactly once; self-loop
    // pairs were dropped above and contribute no cluster anyway
    val nodes = Dedup.materialize(edges
      .select(explode(array(col("u"), col("v"))).as("id")).distinct())
    var converged = false
    var edgeCount = -1L // unknown until a round materializes a star frame
    var round = 0
    while (!converged) {
      round += 1
      // large-star over the symmetrized frame; duplicates flow through
      // un-distinct'd — the small-star groupBy-min and the final set
      // distinct absorb them, and dropping the extra exchange here cuts a
      // full shuffle per round
      val sym = edges.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(lsMin, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star keyed on the larger endpoint; large-star output is
      // already oriented larger→smaller (v re-parented to m ≤ u < v), so
      // no greatest/least re-orientation is needed — every neighbor here
      // is < u and the minimum is min(Γ⁻(u)); u itself re-parents too
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = Dedup.materialize(
        ls.join(ssMin, "u").where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ssMin.select(col("u"), col("m").as("v")))
          .where(col("u") =!= col("v")).distinct())
      // convergence: both frames are distinct sets, so equal counts plus
      // an empty one-sided difference ⟹ equality — one count (cheap over
      // the materialized frame) gates the single exceptAll; round 1 can
      // never converge (the input orientation differs), so skip its check
      val ssCount = ss.count()
      converged = round > 1 && ssCount == edgeCount &&
        ss.exceptAll(edges).limit(1).count() == 0
      edgeCount = ssCount
      edges = ss
    }
    // at the fixpoint each non-center u carries exactly (u, center); the
    // min-aggregate is belt-and-braces against duplicate rows
    val roots = edges.groupBy(col("u")).agg(min(col("v")).as("root"))
    nodes.join(roots.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Power-iteration PageRank over an UNDIRECTED edge list (a, b) — each
    * edge contributes both ways, so every node has out-degree ≥ 1 and no
    * dangling-mass correction is needed.
    *
    * Arithmetic is FIXED-POINT: ranks are integer units of 10⁻¹², every
    * step is integer division/multiplication/sum (damping as the rational
    * dampNum/dampDen), and the only float op is the final units→double
    * render. Integer ops are bit-identical on every engine and every
    * partial-aggregation order, so ranks are exactly reproducible — no
    * round() calls whose half-up/half-even behavior differs between
    * engines (a double formulation diverged at 1 ulp of the 12th decimal
    * between Spark and DuckDB). Floor-division sheds < deg·10⁻¹² mass per
    * node per iteration — bounded and deterministic.
    *
    * Scale shape: the expanded edge list and degree table are computed
    * once; every iteration is one equi-join of the (nodes-sized) rank
    * frame against the edges plus one map-side-combined long-sum — the
    * edge list itself is never re-derived or re-shuffled per iteration
    * (the [[Dedup.clusters]] posture; at cluster scale,
    * `graft.fixpoint.dir` pins the edge frame durably). The node count
    * joins as a broadcast 1-row scalar. `iters` is fixed, not converged — rank
    * deltas shrink geometrically and a fixed unrolling keeps the plan
    * finite and oracle-mirrorable. Output: (id, rank), Σ rank = 1 − the
    * shed floor remainders.
    *
    * The expanded edge frame is computed and materialized EXACTLY ONCE via
    * [[Dedup.materialize]] (as in [[Dedup.clusters]]): the doubling is an
    * explode of a 2-element struct array (one scan of `edges` — a unionAll
    * of two selects would evaluate an expensive upstream edge derivation
    * once per branch), the per-node degree rides each edge row via one
    * count window over the src-hash exchange (a separate checkpointed
    * degree table, as in round 3, re-ran the edge derivation a second time
    * for its join), and the frame is src-partitioned before materializing,
    * so each iteration exchanges only the nodes-sized rank frame. The node
    * list and count derive from the checkpointed frame — cheap rescans, no
    * second materialization. */
  def pageRank(edges: DataFrame, iters: Int,
               dampNum: Int = 17, dampDen: Int = 20): DataFrame = {
    require(0 < dampNum && dampNum < dampDen, "damping must be in (0,1)")
    val raw = edges.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // degree rides each edge row, so the per-iteration step is ONE
    // equi-join (ranks against this frame) + one long-sum — no separate
    // degree join inside the loop
    val und = Dedup.materialize(
      raw.repartition(col("src"))
        .select(col("src"), col("dst"),
          count(lit(1)).over(Window.partitionBy(col("src"))).as("deg")))
    // no exchange: und is already src-partitioned
    val nodes = und.select(col("src")).distinct()
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    // teleport mass per node, in units: (S·(1-d)) div n
    val tele = s"((${RankScale}L * ${dampDen - dampNum}) div $dampDen) div n_nodes"
    var ranks = nodes.crossJoin(broadcast(n)) // 1-row scalar, documented pattern
      .select(col("src").as("id"), expr(s"${RankScale}L div n_nodes").as("units"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(und.select(col("src").as("id"), col("dst"), col("deg")), "id")
        .select(col("dst"), expr("units div deg").as("c"))
      ranks = contrib.groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("id"),
          expr(s"$tele + (s * $dampNum) div $dampDen").as("units"))
    }
    ranks.select(col("id"),
      (col("units").cast(DoubleType) / lit(RankScale.toDouble)).as("rank"))
  }

  /** The unrolled DuckDB mirror of [[pageRank]] (oracle builder):
    * `edgesSql` must yield columns (a, b). */
  def pageRankSql(edgesSql: String, iters: Int,
                  dampNum: Int = 17, dampDen: Int = 20): String = {
    val tele = s"(($RankScale * ${dampDen - dampNum}) // $dampDen) // (SELECT n_nodes FROM n)"
    val base =
      s"""WITH edges AS ($edgesSql),
          und AS (SELECT a AS src, b AS dst FROM edges
                  UNION ALL SELECT b, a FROM edges),
          deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
          n AS (SELECT count(*) AS n_nodes FROM deg),
          r0 AS (SELECT src AS id, $RankScale // (SELECT n_nodes FROM n) AS units
                 FROM deg)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT u.dst AS id,
            $tele + (SUM(r.units // d.deg) * $dampNum) // $dampDen AS units
          FROM r${i - 1} r
          JOIN deg d ON d.src = r.id
          JOIN und u ON u.src = r.id
          GROUP BY u.dst)"""
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT id, CAST(units AS DOUBLE) / $RankScale.0 AS rank FROM r$iters"
  }

  /** PERSONALIZED PageRank — the random walk restarts at a SEED SET
    * instead of everywhere, so rank mass concentrates in the seeds'
    * neighborhood: the "more like these" expansion primitive (seed
    * domains → related domains, seed documents → related sources) that
    * global [[pageRank]] cannot express because its teleport flattens
    * locality. Same fixed-point integer arithmetic (units of 10⁻¹²,
    * damping as the rational dampNum/dampDen, floor division) — ranks
    * are bit-identical across engines and partial-aggregation orders.
    *
    * Walk: r₀ = uniform over seeds; each step routes `damp` of a node's
    * units along its edges and restarts `1−damp` of the TOTAL mass
    * uniformly on the seeds (the standard restart formulation; mass at
    * non-seed teleports is zero by construction, not by renormalizing).
    *
    * Scale shape: identical to [[pageRank]] — the doubled,
    * degree-carrying edge frame materializes ONCE src-partitioned; each
    * iteration exchanges only the nodes-sized rank frame, plus one
    * nodes-sized equi-join to re-attach the seed flag (the seed set
    * itself is usually broadcast-sized, but the flag frame keeps the
    * plan safe when it is not). Nodes the walk never reaches hold
    * exactly 0 units and are dropped — at 100 TB the output is the
    * seeds' neighborhood, not the node universe.
    * Output: (id, rank) for nodes with rank > 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
                           dampNum: Int = 17, dampDen: Int = 20): DataFrame = {
    require(0 < dampNum && dampNum < dampDen, "damping must be in (0,1)")
    val raw = edges.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val und = Dedup.materialize(
      raw.repartition(col("src"))
        .select(col("src"), col("dst"),
          count(lit(1)).over(Window.partitionBy(col("src"))).as("deg")))
    // n_seeds counts only seeds PRESENT in the node universe: a seed id
    // absent from the edge list can receive no initial or restart mass,
    // so counting it would silently dilute every real seed's share and
    // leave total walk mass < 1. Semi-join before counting keeps the
    // walk-mass invariant exact for isolated/unknown seed ids.
    val nodes = und.select(col("src").as("id")).distinct()
    val sd = seeds.select(col("id")).distinct().join(nodes, Seq("id"), "left_semi")
    val ns = sd.agg(count(lit(1)).as("n_seeds"))
    // seed flag rides the nodes-sized rank frame (0/1 integer — the tele
    // term multiplies by it, so non-seeds restart exactly nothing)
    val base = nodes
      .join(sd.select(col("id"), lit(1L).as("is_seed")), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    // n_seeds = 0 (seeds supplied but none present in the graph) must
    // yield an EMPTY result, not NULL ranks: `x div 0` is NULL in Spark,
    // and 0 * NULL = NULL would propagate through every iteration. The
    // guard gives every node 0 initial/restart mass, so the final
    // units > 0 filter returns the well-defined empty frame.
    val tele = s"is_seed * (CASE WHEN n_seeds = 0 THEN 0L ELSE " +
      s"((${RankScale}L * ${dampDen - dampNum}) div $dampDen) div n_seeds END)"
    var ranks = base.crossJoin(broadcast(ns)) // 1-row scalar, documented pattern
      .select(col("id"),
        expr(s"is_seed * (CASE WHEN n_seeds = 0 THEN 0L " +
          s"ELSE ${RankScale}L div n_seeds END)").as("units"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(und.select(col("src").as("id"), col("dst"), col("deg")), "id")
        .select(col("dst"), expr("units div deg").as("c"))
      ranks = contrib.groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"), col("s"))
        .join(base, Seq("id"))
        .crossJoin(broadcast(ns))
        .select(col("id"), expr(s"$tele + (s * $dampNum) div $dampDen").as("units"))
    }
    ranks.where(col("units") > 0)
      .select(col("id"),
        (col("units").cast(DoubleType) / lit(RankScale.toDouble)).as("rank"))
  }

  /** The unrolled DuckDB mirror of [[personalizedPageRank]] (oracle
    * builder): `edgesSql` yields (a, b); `seedsSql` yields (id). */
  def personalizedPageRankSql(edgesSql: String, seedsSql: String, iters: Int,
                              dampNum: Int = 17, dampDen: Int = 20): String = {
    // same n_seeds = 0 guard as the Spark form (DuckDB's // 0 errors)
    val tele = s"b.is_seed * (CASE WHEN (SELECT n_seeds FROM ns) = 0 THEN 0 " +
      s"ELSE (($RankScale * ${dampDen - dampNum}) // $dampDen) // (SELECT n_seeds FROM ns) END)"
    val base =
      s"""WITH edges AS ($edgesSql),
          und AS (SELECT a AS src, b AS dst FROM edges
                  UNION ALL SELECT b, a FROM edges),
          deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
          seeds AS (SELECT DISTINCT s.id FROM ($seedsSql) s
                    WHERE s.id IN (SELECT src FROM und)),
          ns AS (SELECT count(*) AS n_seeds FROM seeds),
          base AS (SELECT d.src AS id,
                     CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS is_seed
                   FROM deg d LEFT JOIN seeds s ON d.src = s.id),
          r0 AS (SELECT id,
                   is_seed * (CASE WHEN (SELECT n_seeds FROM ns) = 0 THEN 0
                     ELSE $RankScale // (SELECT n_seeds FROM ns) END) AS units
                 FROM base)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT u.dst AS id,
            $tele + (SUM(r.units // d.deg) * $dampNum) // $dampDen AS units
          FROM r${i - 1} r
          JOIN deg d ON d.src = r.id
          JOIN und u ON u.src = r.id
          JOIN base b ON b.id = u.dst
          GROUP BY u.dst, b.is_seed)"""
    }
    (base +: steps).mkString(",\n") +
      s"""
         SELECT id, CAST(units AS DOUBLE) / $RankScale.0 AS rank
         FROM r$iters WHERE units > 0"""
  }

  /** Synchronous LABEL PROPAGATION over an undirected edge list (a, b) —
    * the near-linear community-detection pass (Raghavan et al. 2007)
    * that groups a co-occurrence graph into behavioral communities where
    * [[Dedup.clusters]]' connected components would merge everything
    * touching anything.
    *
    * Determinism: every node starts as its own label; each round a node
    * adopts the most frequent label among its neighbors, ties broken by
    * SMALLEST label — realized as `max(struct(cnt, -lbl))`, a plain
    * map-side-combinable aggregate, so no RNG, no visit order, no
    * async drift: the assignment is a pure function of the graph and
    * `iters`. Fixed iterations (not convergence-polled) keep the plan
    * finite and oracle-mirrorable; synchronous LPA can 2-cycle on
    * bipartite structures, which a fixed even/odd horizon simply
    * freezes, deterministically.
    *
    * Scale shape (the [[pageRank]] posture): the doubled edge frame is
    * derived once via one explode-of-struct-array scan, src-partitioned
    * and materialized through [[Dedup.materialize]]; each round is ONE equi-join of
    * the nodes-sized label frame against it plus two grouped aggregates
    * ((dst, lbl) count, then the argmax) — the edges never re-shuffle,
    * and nothing is windowed (a per-dst row_number would sort every
    * message on the exchange). Output: (id, lbl). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val und = Dedup.materialize(
      edges.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src")))
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iters) {
      labels = labels
        .join(und.select(col("src").as("id"), col("dst")), "id")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("id"), (-col("m.nl")).as("lbl"))
    }
    labels
  }

  /** Newman MODULARITY of a community assignment — the eval metric that
    * says whether detected communities are denser than chance: per
    * community c, q_c = e_c/m − (d_c/2m)², where e_c = intra-community
    * edges, d_c = degree mass, m = |E|; Q = Σ q_c ∈ [−0.5, 1], ~0 for
    * random structure. Declared per-community so the breakdown itself is
    * oracle-checked (Σ is one trivial fold away).
    *
    * Scale shape: two label joins stamp each edge's endpoints (edge-sized
    * equi-joins), then everything reduces to |communities|-sized frames;
    * m joins as the 1-row broadcast scalar. All inputs to the one
    * rounded double expression are exact integers in a fixed operation
    * order. Output: (community, n_nodes, e_in, d_sum, q_contrib). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val m = edges.agg(count(lit(1)).as("m"))
    val stamped = edges
      .join(labels.select(col("id").as("a"), col("lbl").as("la")), "a")
      .join(labels.select(col("id").as("b"), col("lbl").as("lb")), "b")
    val ein = stamped.where(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = edges.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val dm = col("d_sum").cast(DoubleType) / (lit(2) * col("m")).cast(DoubleType)
    labels.join(deg, "id")
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("deg")).as("d_sum"), count(lit(1)).as("n_nodes"))
      .join(ein, Seq("community"), "left")
      .crossJoin(broadcast(m)) // 1-row scalar, documented BNLJ pattern
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        round(coalesce(col("e_in"), lit(0L)).cast(DoubleType) /
          col("m").cast(DoubleType) - dm * dm, 6).as("q_contrib"))
  }

  /** Degree ASSORTATIVITY (Newman 2002): the Pearson correlation of
    * endpoint degrees over directed edge instances — positive = hubs
    * link hubs (social nets), negative = hubs link leaves
    * (hub-and-spoke / web graphs); the one number that says which
    * degree-aware partitioning strategy a 100 TB graph job should pick.
    * By symmetry of the doubled edge list Σx = Σy and Σx² = Σy², so
    * r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) over m directed instances.
    *
    * Scale shape: degree is one count aggregate; the two stamps are
    * edge-sized equi-joins; everything reduces to ONE row of exact
    * integer sums, converted to double only inside the final rounded
    * expression (each sum is far below 2^53, and IEEE products of exact
    * doubles are correctly rounded — bit-equal cross-engine).
    * Output: one row (n_edges, assortativity). */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym = edges.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("id").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("dy")), "b")
      .agg(count(lit(1)).as("m2"), sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
      .select((col("m2") / 2).cast("long").as("n_edges"),
        // zero degree variance (e.g. a perfect matching — every node
        // degree 1) leaves r undefined: NULL, not an ANSI divide-by-zero
        round(when(
          col("m2").cast(DoubleType) * col("sxx").cast(DoubleType) =!=
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType),
          (col("m2").cast(DoubleType) * col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
          (col("m2").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType))), 6)
          .as("assortativity"))
  }

  /** The unrolled DuckDB mirror of [[labelPropagation]] (oracle builder):
    * `edgesSql` must yield columns (a, b). */
  def labelPropagationSql(edgesSql: String, iters: Int): String = {
    val base =
      s"""WITH edges AS ($edgesSql),
          und AS (SELECT a AS src, b AS dst FROM edges
                  UNION ALL SELECT b, a FROM edges),
          r0 AS (SELECT DISTINCT src AS id, src AS lbl FROM und)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT id, lbl FROM (
            SELECT u.dst AS id, r.lbl, count(*) AS cnt,
              row_number() OVER (PARTITION BY u.dst
                ORDER BY count(*) DESC, r.lbl ASC) AS rn
            FROM r${i - 1} r JOIN und u ON u.src = r.id
            GROUP BY 1, 2) WHERE rn = 1)"""
    }
    (base +: steps).mkString(",\n") + s"\nSELECT id, lbl FROM r$iters"
  }

  /** Exact triangle count over an undirected edge list (a, b) — the
    * clustering/community signal (and the classic "does your join strategy
    * survive power-law graphs" benchmark).
    *
    * Degree-ordered orientation (Latapy / Schank-Wagner): each canonical
    * edge points from its lower (degree, id) endpoint to the higher, so
    * every node's out-degree is O(√m) even on power-law graphs — the wedge
    * self-join on the center vertex, the only superlinear step, is bounded
    * by Σ outdeg² = O(m^1.5) instead of Σ deg² (quadratic in the hub
    * degree). Each triangle {x ≺ y ≺ z} materializes as exactly one wedge
    * (x→y, x→z) and survives exactly one closure probe, the equi-join of
    * the id-canonical wedge pair against the canonical edge set — no
    * OR-condition join, no DISTINCT over triangle triples. Output: one row
    * (n_triangles). */
  def triangleCount(edges: DataFrame): DataFrame = {
    // the canonical edge frame feeds four subtrees (degrees, orientation,
    // the closure probe) and the oriented frame both wedge sides —
    // materialize each once so an expensive upstream edge derivation
    // (e.g. basket-pair mining) is not re-run per consumer (4.1 -> 3.1 s
    // on the co-purchase graph at sf0.1, where mining the edges is ~2.4 s
    // of the total — the triangle counting itself is now sub-second)
    val canon = Dedup.materialize(edges
      .select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
      .where(col("x") =!= col("y")).distinct())
    val deg = canon.select(col("x").as("v")).unionAll(canon.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    val fwd = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val oriented = Dedup.materialize(withDeg.select(
      when(fwd, col("x")).otherwise(col("y")).as("u"),
      when(fwd, col("y")).otherwise(col("x")).as("v")))
    val wedges = oriented.as("p").join(oriented.as("q"),
        col("p.u") === col("q.u") && col("p.v") < col("q.v"))
      .select(col("p.v").as("wx"), col("q.v").as("wy"))
    wedges.join(canon, col("wx") === col("x") && col("wy") === col("y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** GLOBAL CLUSTERING COEFFICIENT — 3·triangles / wedges, the one-number
    * "how cliquish is this graph" summary (transitivity): near 0 for
    * random/bipartite-ish structure, high for community-dominated graphs —
    * the diagnostic read BEFORE choosing between the hash-min CC fixpoint
    * and the star-contraction path, and a drift signal on co-occurrence
    * graphs. Shares [[triangleCount]]'s exact machinery over ONE
    * materialized canonical frame (degree-ordered orientation bounds the
    * wedge self-join by O(√m) out-degrees); the wedge DENOMINATOR needs no
    * join at all — Σ_v d_v(d_v−1)/2 off the degree census. Exact integers
    * into one final division (try_divide: a wedge-free graph reads NULL).
    * Output: one row (n_triangles, n_wedges, global_cc). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val canon = Dedup.materialize(edges
      .select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
      .where(col("x") =!= col("y")).distinct())
    val deg = canon.select(col("x").as("v")).unionAll(canon.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wedgeTotal = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val withDeg = canon
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    val fwd = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val oriented = Dedup.materialize(withDeg.select(
      when(fwd, col("x")).otherwise(col("y")).as("u"),
      when(fwd, col("y")).otherwise(col("x")).as("v")))
    val tri = oriented.as("p").join(oriented.as("q"),
        col("p.u") === col("q.u") && col("p.v") < col("q.v"))
      .select(col("p.v").as("wx"), col("q.v").as("wy"))
      .join(canon, col("wx") === col("x") && col("wy") === col("y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    tri.crossJoin(wedgeTotal) // two 1-row frames, documented pattern
      .select(col("n_triangles"), col("n_wedges"),
        round(try_divide((lit(3) * col("n_triangles")).cast(
          org.apache.spark.sql.types.DoubleType), col("n_wedges")), 6)
          .as("global_cc"))
  }

  /** DuckDB mirror of [[clusteringCoefficient]] (oracle builder). */
  def clusteringCoefficientSql(edgesSql: String): String =
    s"""WITH edges AS ($edgesSql),
        canon AS (SELECT DISTINCT least(a, b) x, greatest(a, b) y
                  FROM edges WHERE a <> b),
        deg AS (SELECT v, count(*) d
                FROM (SELECT x v FROM canon UNION ALL SELECT y FROM canon)
                GROUP BY 1),
        wt AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) n_wedges FROM deg),
        o AS (SELECT CASE WHEN (dx.d, c.x) < (dy.d, c.y) THEN c.x ELSE c.y END u,
                     CASE WHEN (dx.d, c.x) < (dy.d, c.y) THEN c.y ELSE c.x END v
              FROM canon c JOIN deg dx ON dx.v = c.x JOIN deg dy ON dy.v = c.y),
        w AS (SELECT p.v wx, q.v wy FROM o p JOIN o q
              ON p.u = q.u AND p.v < q.v),
        tri AS (SELECT count(*) n_triangles FROM w
                WHERE EXISTS (SELECT 1 FROM canon c
                              WHERE c.x = w.wx AND c.y = w.wy))
        SELECT n_triangles, n_wedges,
          round(CASE WHEN n_wedges = 0 THEN NULL
            ELSE CAST(3 * n_triangles AS DOUBLE) / n_wedges END, 6) AS global_cc
        FROM tri, wt"""

  /** LINK PREDICTION by neighbor-set Jaccard (Liben-Nowell & Kleinberg
    * 2003): score every NON-adjacent pair with ≥1 common neighbor by
    * |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| and return the top `k` — "products bought
    * together with the same things but never together yet", the
    * recommendation/graph-completion primitive.
    *
    * Scale shape: common neighbors come from the same wedge join as
    * [[triangleCount]] (self-join of the adjacency list on the shared
    * neighbor — quadratic in per-node degree, which the upstream
    * min-support mining already bounds); existing edges leave via one
    * anti-join against the canonical edge frame; the ranking is a bounded
    * top-k. The adjacency frame is materialized once and feeds both wedge
    * sides and the degree aggregate. Output: (a, b, cn, score). */
  def linkPrediction(edges: DataFrame, k: Int): DataFrame = {
    val canon = Dedup.materialize(edges
      .select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
      .where(col("x") =!= col("y")).distinct())
    val adj = Dedup.materialize(
      canon.select(col("x").as("v"), col("y").as("n"))
        .unionAll(canon.select(col("y").as("v"), col("x").as("n"))))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val common = adj.as("p").join(adj.as("q"),
        col("p.n") === col("q.n") && col("p.v") < col("q.v"))
      .groupBy(col("p.v").as("a"), col("q.v").as("b"))
      .agg(count(lit(1)).as("cn"))
    common
      .join(canon, col("a") === col("x") && col("b") === col("y"), "left_anti")
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("cn"),
        round(col("cn").cast(org.apache.spark.sql.types.DoubleType) /
          (col("da") + col("db") - col("cn")), 6).as("score"))
      .orderBy(col("score").desc, col("a").asc, col("b").asc)
      .limit(k)
  }

  /** DuckDB mirror of [[linkPrediction]]: `edgesSql` must yield (a, b). */
  def linkPredictionSql(edgesSql: String, k: Int): String =
    s"""WITH edges AS ($edgesSql),
        canon AS (SELECT DISTINCT least(a, b) x, greatest(a, b) y
                  FROM edges WHERE a <> b),
        adj AS (SELECT x v, y n FROM canon UNION ALL SELECT y v, x n FROM canon),
        deg AS (SELECT v, count(*) d FROM adj GROUP BY 1),
        cm AS (SELECT p.v a, q.v b, count(*) cn FROM adj p JOIN adj q
               ON p.n = q.n AND p.v < q.v GROUP BY 1, 2),
        cand AS (SELECT a, b, cn,
                  round(CAST(cn AS DOUBLE)/(da.d + db.d - cn), 6) score
                 FROM cm JOIN deg da ON da.v = cm.a JOIN deg db ON db.v = cm.b
                 WHERE NOT EXISTS (SELECT 1 FROM canon c
                                   WHERE c.x = cm.a AND c.y = cm.b))
        SELECT a, b, cn, score FROM cand
        ORDER BY score DESC, a, b LIMIT $k"""

  /** K-CORE decomposition by synchronous peeling (Matula-Beck / Batagelj-
    * Zaversnik shape): repeatedly remove every node whose degree in the
    * SURVIVING subgraph is < `k`; what remains after `rounds` synchronous
    * sweeps is (a superset converging to) the k-core — the density filter
    * that isolates the stable heart of a co-occurrence graph from its
    * one-off periphery.
    *
    * `rounds` is fixed, not convergence-polled (the [[pageRank]] posture):
    * each sweep only ever REMOVES nodes, so the surviving set is monotone
    * and a fixed horizon is a deterministic, oracle-mirrorable cut of the
    * same ladder; peeling converges in ≤ diameter-ish sweeps on real
    * graphs, and the output carries the in-subgraph degree so a
    * non-converged run is still exactly checkable.
    *
    * Scale shape: the doubled adjacency frame is materialized once; each
    * sweep is two nodes-sized LEFT-SEMI joins of the adjacency against the
    * surviving set (endpoint filters) + one map-side-combinable count —
    * the edges never re-shuffle, nothing is windowed, and the surviving
    * frame (nodes-sized, shrinking) is the only per-round exchange.
    * Output: (id, core_deg) for survivors, core_deg = degree within the
    * surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val adj = Dedup.materialize(
      edges.select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
        .where(col("x") =!= col("y")).distinct()
        .select(explode(array(
          struct(col("x").as("v"), col("y").as("n")),
          struct(col("y").as("v"), col("x").as("n")))).as("e"))
        .select(col("e.v").as("v"), col("e.n").as("n"))
        .repartition(col("v")))
    var surv = adj.select(col("v")).distinct()
    for (_ <- 1 to rounds) {
      surv = adj
        .join(surv, "v", "left_semi")
        .join(surv.select(col("v").as("n")), "n", "left_semi")
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
        .select(col("v"))
    }
    adj.join(surv, "v", "left_semi")
      .join(surv.select(col("v").as("n")), "n", "left_semi")
      .groupBy(col("v").as("id")).agg(count(lit(1)).as("core_deg"))
      .where(col("core_deg") >= k)
  }

  /** DuckDB mirror of [[kCore]]: `edgesSql` must yield (a, b). */
  def kCoreSql(edgesSql: String, k: Int, rounds: Int): String = {
    val base =
      s"""WITH edges AS ($edgesSql),
          canon AS (SELECT DISTINCT least(a, b) x, greatest(a, b) y
                    FROM edges WHERE a <> b),
          adj AS (SELECT x v, y n FROM canon UNION ALL SELECT y v, x n FROM canon),
          s0 AS (SELECT DISTINCT v FROM adj)"""
    val steps = (1 to rounds).map { i =>
      s"""s$i AS (SELECT v FROM (
            SELECT a.v, count(*) d FROM adj a
            JOIN s${i - 1} p ON p.v = a.v
            JOIN s${i - 1} q ON q.v = a.n
            GROUP BY a.v) WHERE d >= $k)"""
    }
    (base +: steps).mkString(",\n") +
      s"""\nSELECT a.v AS id, count(*) AS core_deg FROM adj a
          JOIN s$rounds p ON p.v = a.v
          JOIN s$rounds q ON q.v = a.n
          GROUP BY a.v HAVING count(*) >= $k"""
  }

  /** Hop-bounded multi-source BFS: exact shortest hop distance (≤
    * `maxHops`) from the landmark set `isSource` to every reachable node —
    * the landmark-distance primitive behind "how far is this item from the
    * catalog's anchor products" features and graph-radius profiling.
    *
    * Scale shape: the frontier relaxation is the textbook iterative
    * equi-join — each hop joins the CURRENT distance frame (nodes-sized)
    * against the once-materialized adjacency and folds with a min — but
    * expressed so the per-hop exchange is only the nodes-sized frame.
    * `maxHops` is a fixed unroll (oracle-mirrorable); distances beyond it
    * are absent rather than approximated, which is the honest contract for
    * a bounded relaxation. Output: (id, dist), dist ∈ [0, maxHops]. */
  def bfsDistances(edges: DataFrame, isSource: org.apache.spark.sql.Column,
                   maxHops: Int): DataFrame = {
    val adj = Dedup.materialize(
      edges.select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
        .where(col("x") =!= col("y")).distinct()
        .select(explode(array(
          struct(col("x").as("v"), col("y").as("n")),
          struct(col("y").as("v"), col("x").as("n")))).as("e"))
        .select(col("e.v").as("v"), col("e.n").as("n"))
        .repartition(col("v")))
    var dist = adj.select(col("v").as("id")).distinct()
      .where(isSource).select(col("id"), lit(0).as("dist"))
    for (_ <- 1 to maxHops) {
      val relaxed = dist
        .join(adj.select(col("v").as("id"), col("n")), "id")
        .select(col("n").as("id"), (col("dist") + 1).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    }
    dist
  }

  /** DuckDB mirror of [[bfsDistances]]: `edgesSql` yields (a, b);
    * `isSourceSql` is a predicate over column `id`. */
  def bfsDistancesSql(edgesSql: String, isSourceSql: String, maxHops: Int): String = {
    val base =
      s"""WITH edges AS ($edgesSql),
          canon AS (SELECT DISTINCT least(a, b) x, greatest(a, b) y
                    FROM edges WHERE a <> b),
          adj AS (SELECT x v, y n FROM canon UNION ALL SELECT y v, x n FROM canon),
          d0 AS (SELECT id, 0 AS dist FROM (SELECT DISTINCT v AS id FROM adj)
                 WHERE $isSourceSql)"""
    val steps = (1 to maxHops).map { i =>
      s"""d$i AS (SELECT id, min(dist) AS dist FROM (
            SELECT id, dist FROM d${i - 1}
            UNION ALL
            SELECT a.n AS id, d.dist + 1 AS dist
            FROM d${i - 1} d JOIN adj a ON a.v = d.id) GROUP BY id)"""
    }
    (base +: steps).mkString(",\n") + s"\nSELECT id, dist FROM d$maxHops"
  }

  /** DuckDB mirror of [[triangleCount]]: `edgesSql` must yield (a, b). */
  def triangleCountSql(edgesSql: String): String =
    s"""WITH edges AS ($edgesSql),
        canon AS (SELECT DISTINCT least(a, b) x, greatest(a, b) y
                  FROM edges WHERE a <> b),
        deg AS (SELECT v, count(*) d
                FROM (SELECT x v FROM canon UNION ALL SELECT y FROM canon)
                GROUP BY 1),
        o AS (SELECT CASE WHEN (dx.d, c.x) < (dy.d, c.y) THEN c.x ELSE c.y END u,
                     CASE WHEN (dx.d, c.x) < (dy.d, c.y) THEN c.y ELSE c.x END v
              FROM canon c JOIN deg dx ON dx.v = c.x JOIN deg dy ON dy.v = c.y),
        w AS (SELECT p.v wx, q.v wy FROM o p JOIN o q
              ON p.u = q.u AND p.v < q.v)
        SELECT count(*) AS n_triangles
        FROM w WHERE EXISTS (SELECT 1 FROM canon c
                             WHERE c.x = w.wx AND c.y = w.wy)"""

  /** Sampled HARMONIC CENTRALITY — Σ_seeds 1/d(seed, v) over a
    * deterministic md5-ordered seed sample, hop-bounded. The
    * landmark/pivot estimator (Eppstein-Wang style): exact closeness needs
    * all-pairs distances (quadratic — off the table at any scale), but a
    * fixed seed panel ranks nodes by reachability-weighted proximity at
    * `seeds`× the BFS cost, and the panel is stable across runs because
    * seeds are the md5-smallest node ids, not a random draw.
    *
    * Scale shape: the adjacency is materialized once (same frame as
    * [[bfsDistances]]); each hop's exchange is the (seed × nodes)-bounded
    * distance frame — seeds is a small constant, so per-hop cost is a
    * constant factor over single-source BFS. The final centrality fold is
    * one grouped aggregate. Unreachable (seed, node) pairs are absent, not
    * infinite — harmonic centrality is exactly the closeness variant that
    * stays well-defined under disconnection. Output: (id, reached,
    * harmonic), reached = seeds whose ball covers the node. */
  def harmonicCentrality(edges: DataFrame, seeds: Int, maxHops: Int): DataFrame = {
    val adj = Dedup.materialize(
      edges.select(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
        .where(col("x") =!= col("y")).distinct()
        .select(explode(array(
          struct(col("x").as("v"), col("y").as("n")),
          struct(col("y").as("v"), col("x").as("n")))).as("e"))
        .select(col("e.v").as("v"), col("e.n").as("n"))
        .repartition(col("v")))
    val seedRows = adj.select(col("v").as("id")).distinct()
      .orderBy(md5(col("id").cast(StringType)), col("id")).limit(seeds)
    var dist = seedRows.select(col("id").as("seed"), col("id"), lit(0).as("dist"))
    for (_ <- 1 to maxHops) {
      val relaxed = dist
        .join(adj.select(col("v").as("id"), col("n")), "id")
        .select(col("seed"), col("n").as("id"), (col("dist") + 1).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("seed"), col("id")).agg(min(col("dist")).as("dist"))
    }
    dist.where(col("dist") > 0)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("reached"),
        // the engine's decimal-sum convention (labelDiversity, zipfSlope):
        // round-9 terms through DECIMAL(28,12) so partition order can
        // never flip the final 6dp cut vs the DuckDB mirror
        round(sum(round(lit(1.0) / col("dist"), 9)
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast(org.apache.spark.sql.types.DoubleType), 6).as("harmonic"))
  }

  /** DuckDB mirror of [[harmonicCentrality]]: `edgesSql` yields (a, b). */
  def harmonicCentralitySql(edgesSql: String, seeds: Int, maxHops: Int): String = {
    val base =
      s"""WITH edges AS ($edgesSql),
          canon AS (SELECT DISTINCT least(a, b) x, greatest(a, b) y
                    FROM edges WHERE a <> b),
          adj AS (SELECT x v, y n FROM canon UNION ALL SELECT y v, x n FROM canon),
          sd AS (SELECT id FROM (SELECT DISTINCT v AS id FROM adj)
                 ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $seeds),
          d0 AS (SELECT id AS seed, id, 0 AS dist FROM sd)"""
    val steps = (1 to maxHops).map { i =>
      s"""d$i AS (SELECT seed, id, min(dist) AS dist FROM (
            SELECT seed, id, dist FROM d${i - 1}
            UNION ALL
            SELECT d.seed, a.n AS id, d.dist + 1 AS dist
            FROM d${i - 1} d JOIN adj a ON a.v = d.id) GROUP BY 1, 2)"""
    }
    (base +: steps).mkString(",\n") +
      s"""
         SELECT id, count(*) AS reached,
           round(CAST(SUM(CAST(round(CAST(1.0 AS DOUBLE) / dist, 9)
             AS DECIMAL(28,12))) AS DOUBLE), 6) AS harmonic
         FROM d$maxHops WHERE dist > 0 GROUP BY id"""
  }
}
