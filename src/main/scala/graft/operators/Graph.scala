package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training corpora carry a link structure (hyperlinks,
  * citations, cross-references), and link-based centrality is a classic
  * document-quality prior (reference pipelines rank crawl frontiers and
  * weight sources by it). This operator family computes PageRank with the
  * same Pregel-style DataFrame iteration as
  * [[Dedup.connectedComponents]]: each iteration is one keyed join (ship
  * ranks to out-edges) plus one map-side-combined aggregate (sum
  * contributions per target), with an eager pin cutting
  * lineage per round.
  *
  * Determinism: ranks live in integer MICRO-UNITS (`Scale` = 1e12 total
  * mass), every per-iteration operation is integer arithmetic
  * (`div`-truncation, positive operands), and integer sums are
  * order-independent — so the fixpoint trajectory is bit-identical in any
  * engine, and a DuckDB oracle reproduces K unrolled iterations exactly.
  * Float PageRank would drift by summation order across partitionings.
  *
  * Scale shape (100 TB): edges are the big table; each iteration shuffles
  * edges by `src` (join with ranks) and contributions by `dst` (aggregate)
  * — partial aggregation collapses the per-target sums map-side, so the
  * second shuffle carries at most one row per (partition, target). Ranks
  * are one fixed-width row per node. Pre-partitioning edges by `src` lets
  * AQE reuse the exchange across iterations. Nodes with zero out-degree
  * leak their damped mass (the common production simplification — the
  * teleport term keeps ranks well-defined); redistribute-dangling-mass
  * needs one extra scalar aggregate per round if ever required.
  */
object Graph {

  /** Total rank mass in micro-units: 1 unit = 1e-12 of the corpus mass. */
  val Scale: Long = 1000000000000L

  /** Deterministic synthetic link graph over a document table: each doc
    * links to `(id * p + j) % n` for (p, j) in (7,0), (13,1), (31,2) —
    * every node has out-degree 3 (self-links and duplicate targets kept;
    * PageRank is defined on multigraphs). Mirrored literally by the
    * DuckDB oracle, so the graph is engine-reproducible fixture data, not
    * random. Returns (src, dst). */
  def syntheticLinks(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val nd = docs.select(col(idCol).cast("bigint").as("node"))
    val nn = nd.agg(count(lit(1)).as("n"))
    Seq((7L, 0L), (13L, 1L), (31L, 2L)).map { case (p, j) =>
      nd.crossJoin(broadcast(nn))
        .select(col("node").as("src"),
          ((col("node") * p + j) % col("n")).as("dst"))
    }.reduce(_ unionByName _)
  }

  /** Degree-SKEWED deterministic link graph: targets are
    * `(id² * p + j) % n` — quadratic residues collide, so in-degree
    * varies (0..~3√n at harness scale) instead of [[syntheticLinks]]'s
    * uniform 3 (each linear map is a bijection when gcd(p, n) = 1, which
    * makes degree-sensitive centralities like HITS degenerate on it).
    * Same engine-reproducible fixture contract. Returns (src, dst). */
  def syntheticSkewedLinks(docs: DataFrame,
                           idCol: String = "doc_id"): DataFrame = {
    val nd = docs.select(col(idCol).cast("bigint").as("node"))
    val nn = nd.agg(count(lit(1)).as("n"))
    Seq((7L, 0L), (13L, 1L), (31L, 2L)).map { case (p, j) =>
      nd.crossJoin(broadcast(nn))
        .select(col("node").as("src"),
          ((col("node") * col("node") * p + j) % col("n")).as("dst"))
    }.reduce(_ unionByName _)
  }

  /** UNNORMALIZED integer HITS (Kleinberg's hubs-and-authorities), `iters`
    * mutual-reinforcement rounds from hub = 1:
    * `auth'(v) = Σ_{(u,v)∈E} hub(u)`, then `hub'(u) = Σ_{(u,v)∈E} auth'(v)`.
    *
    * Skipping the per-round L2 normalization is what makes the scores
    * engine-exact: every quantity stays an integer sum (order-independent),
    * whereas a float norm would be an order-dependent reduction. Rankings
    * are unaffected — normalization rescales uniformly — and overflow is
    * far off (scores grow like (Σdeg²)^iters; two rounds on a 10⁹-node,
    * avg-degree-100 graph is ~10¹⁰ « 2⁶³).
    *
    * Per round: two keyed joins + two map-side-combined aggregates — the
    * same shuffle budget as a PageRank round; a pin after each
    * round cuts the lineage for the iteration (the [[pagerank]] pattern).
    * Nodes with no in-edges (out-edges) keep auth (hub) 0.
    * Returns (node, auth, hub). */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val nd = nodes.select(col(nodes.columns.head).cast("bigint").as("node"))
      .transform(graft.operators.GlobalRank.pinned)
    val e = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")).transform(graft.operators.GlobalRank.pinned)
    var hub = nd.withColumn("h", lit(1L))
    var auth = nd.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      val aNew = e.join(hub, e("src") === hub("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("c"))
      auth = nd.join(aNew, Seq("node"), "left")
        .select(col("node"), coalesce(col("c"), lit(0L)).as("a"))
        .transform(graft.operators.GlobalRank.pinned)
      val hNew = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("c"))
      hub = nd.join(hNew, Seq("node"), "left")
        .select(col("node"), coalesce(col("c"), lit(0L)).as("h"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    auth.join(hub, "node").select(col("node"), col("a").as("auth"),
      col("h").as("hub"))
  }

  /** Integer-exact PageRank: `iters` rounds of
    * `r' = tele + (dampingPct * Σ_in (r_src div outdeg_src)) div 100`
    * with `tele = ((100 - dampingPct) * Scale) div (100 * n)`.
    *
    * All quantities are longs and all divisions truncate on positive
    * operands, so the result is independent of partitioning and engine.
    * Rounding loses < n + 1 micro-units of mass per round — at Scale =
    * 1e12 that is a < 1e-6 relative perturbation, far below the rank
    * differences PageRank is used to discriminate.
    *
    * `nodes`' first column is the node id; `edges` must carry (src, dst).
    * The single `count()` action sizes the teleport literal (driver-side
    * scalar, same pattern as [[GlobalRank]]). Returns
    * (node, rank_micro). */
  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int = 3,
               dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct > 0 && dampingPct < 100,
      s"need iters >= 1 and dampingPct in (0,100), got $iters/$dampingPct")
    val nd = nodes.select(col(nodes.columns.head).cast("bigint").as("node"))
      .transform(graft.operators.GlobalRank.pinned)
    val n = nd.count()
    if (n == 0) // empty graph: empty rank table, not a driver 0-division
      return nd.select(col("node"), lit(0L).as("rank_micro"))
    val tele = ((100L - dampingPct) * Scale) / (100L * n)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val e = edges.join(outdeg, "src").transform(graft.operators.GlobalRank.pinned)
    var ranks = nd.withColumn("r", lit(Scale / n))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r div od").as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("c"))
      ranks = nd.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(tele) +
            expr(s"($dampingPct * coalesce(c, 0L)) div 100")).as("r"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** PERSONALIZED PageRank: [[pagerank]] with the teleport vector
    * concentrated on a SEED set instead of uniform — random walks restart
    * only at trusted seeds, so rank measures proximity to them. The
    * corpus-curation use: expand a small trusted/high-quality seed corpus
    * into the link neighborhood worth crawling or upweighting
    * (TrustRank). Identical integer micro-unit contract and per-round
    * shape as [[pagerank]]; the only new state is one broadcast-sized
    * seed flag column. r_0 = Scale/|S| on seeds and 0 elsewhere; each
    * round adds the seed-only teleport `(100-d)·Scale div (100·|S|)`.
    * Returns (node, rank_micro). */
  def personalizedPagerank(nodes: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iters: Int = 3,
                           dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct > 0 && dampingPct < 100,
      s"need iters >= 1 and dampingPct in (0,100), got $iters/$dampingPct")
    val nd = nodes.select(col(nodes.columns.head).cast("bigint").as("node"))
    val sd = seeds.select(col(seeds.columns.head).cast("bigint").as("node"))
      .distinct().withColumn("is_seed", lit(1L)).transform(graft.operators.GlobalRank.pinned)
    val ns = sd.count()
    // empty seed set: the teleport vector is zero everywhere, so every
    // rank is exactly 0 — well-defined, and what the oracle's guarded
    // division produces (no require: an empty corpus slice is data, not
    // a caller bug)
    val tele =
      if (ns == 0) 0L else ((100L - dampingPct) * Scale) / (100L * ns)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val e = edges.join(outdeg, "src").transform(graft.operators.GlobalRank.pinned)
    val ndSeed = nd.join(sd, Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .transform(graft.operators.GlobalRank.pinned)
    var ranks = ndSeed.select(col("node"),
      (col("is_seed") * lit(if (ns == 0) 0L else Scale / ns)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r div od").as("contrib"))
        .groupBy("node").agg(sum(col("contrib")).as("c"))
      ranks = ndSeed.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * lit(tele) +
            expr(s"($dampingPct * coalesce(c, 0L)) div 100")).as("r"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** Per-node wedge and triangle counts by DEGREE-ORDERED node-iterator —
    * the standard scalable exact triangle count (cf. Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11).
    * Edges are first undirected + deduplicated, then ORIENTED from the
    * endpoint with lower (degree, id) to the higher: every wedge is then
    * enumerated only at its lowest-ordered vertex, and each oriented
    * out-degree is O(√m) regardless of raw degree skew — a celebrity node
    * with 10⁸ followers contributes wedges only through its few
    * higher-degree peers, so no reducer ever materializes the 10¹⁶-pair
    * fan-out a naive per-node enumeration would. Three shuffles total
    * (dedup, wedge self-join on apex, closing-edge join); counting joins,
    * never collected adjacency lists. Returns (node, wedges, triangles)
    * for each apex node with at least one wedge; triangle ownership is
    * per-apex, so `sum(triangles)` is the exact global count. */
  def triangles(edges: DataFrame): DataFrame = {
    val ue = edges
      .select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = ue.select(col("u").as("node"))
      .unionByName(ue.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // pinned: the oriented edge list feeds both wedge sides and the
    // closure probe (edgeSupport's fix — the degree joins ran 3x)
    val o = ue
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(when(uLower, col("u")).otherwise(col("v")).as("a"),
        when(uLower, col("v")).otherwise(col("u")).as("b"))
      .transform(GlobalRank.pinned)
    val wedges = o.select(col("a"), col("b").as("p"))
      .join(o.select(col("a"), col("b").as("q")), Seq("a"))
      .filter(col("p") =!= col("q"))
    wedges
      .join(o.select(col("a").as("p"), col("b").as("q"), lit(1L).as("hit")),
        Seq("p", "q"), "left")
      .groupBy("a")
      .agg(expr("count(1) div 2").as("wedges"),
        sum(coalesce(col("hit"), lit(0L))).as("triangles"))
      .select(col("a").as("node"), col("wedges"), col("triangles"))
  }

  /** Per-EDGE triangle support on the undirected simple projection:
    * (u, v, sup) with u < v — the number of triangles through each
    * edge, found via the same degree-ordered wedge enumeration as
    * [[triangles]] (fan-out O(√m) under any skew), with each closed
    * wedge exploded back to its three id-ordered edges before one
    * counting shuffle. Edges in no triangle are absent (join back with
    * a default). */
  private def edgeSupport(ue: DataFrame): DataFrame = {
    val deg = ue.select(col("u").as("node"))
      .unionByName(ue.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // pinned: the oriented edge list feeds BOTH wedge sides and the
    // closure probe — un-pinned, the two degree joins re-ran per
    // reference (the support pass's static plan carried them 9×)
    val o = ue
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(when(uLower, col("u")).otherwise(col("v")).as("a"),
        when(uLower, col("v")).otherwise(col("u")).as("b"))
      .transform(GlobalRank.pinned)
    val tri = o.select(col("a"), col("b").as("p"))
      .join(o.select(col("a"), col("b").as("q")), Seq("a"))
      .filter(col("p") =!= col("q"))
      .join(o.select(col("a").as("p"), col("b").as("q")), Seq("p", "q"))
    // one explode per triangle instead of three re-unions of the wedge
    // join: each triangle contributes its three edges in a single pass
    tri.select(explode(array(
        struct(least(col("a"), col("p")).as("u"),
          greatest(col("a"), col("p")).as("v")),
        struct(least(col("a"), col("q")).as("u"),
          greatest(col("a"), col("q")).as("v")),
        struct(least(col("p"), col("q")).as("u"),
          greatest(col("p"), col("q")).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
  }

  /** Bounded-round k-TRUSS peel: repeatedly drop every edge in fewer
    * than k−2 triangles, `rounds` times, then report the surviving
    * edges with their final support (computed once more on the settled
    * set, unfiltered). The truss is the standard cohesion sieve above
    * plain triangle counts — dedup/community cores survive, bridge and
    * spam edges peel off. Rounds are FIXED (the gr1 unrolled-iteration
    * contract: deterministic, oracle-mirrorable; a fixpoint loop would
    * hide data-dependent round counts from the oracle) — extra rounds
    * past convergence are no-ops on both engines. Each round is one
    * degree-ordered support pass (O(√m)-capped wedge fan-out) + one
    * keyed anti-filter; the edge set is pinned per round with
    * a pin so the unrolled plan stays linear in `rounds`
    * instead of exponential in the support pass's six reuses of it. */
  def ktrussEdges(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "k >= 3 and at least one round")
    val thr = (k - 2).toLong
    var cur = edges
      .select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(graft.operators.GlobalRank.pinned)
    for (_ <- 1 to rounds) {
      val sup = edgeSupport(cur)
      cur = cur.join(sup, Seq("u", "v"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= thr)
        .select("u", "v")
        .transform(graft.operators.GlobalRank.pinned)
    }
    cur.join(edgeSupport(cur), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** Per-NODE triangle membership: (node, n_triangles) counting every
    * triangle at each of its three corners — the input LCC and
    * cohesion metrics need, where [[triangles]] attributes each
    * triangle only to its degree-ordered pivot. Same oriented wedge
    * enumeration (fan-out capped at O(√m) by the degree order); the
    * one extra step EXPLODES each found triangle to its three corners
    * before the count, so the shuffle carries 3 rows per triangle. */
  def triangleCorners(edges: DataFrame): DataFrame = {
    val ue = edges
      .select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = ue.select(col("u").as("node"))
      .unionByName(ue.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = ue
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(when(uLower, col("u")).otherwise(col("v")).as("a"),
        when(uLower, col("v")).otherwise(col("u")).as("b"))
      .transform(GlobalRank.pinned) // 3 refs: both wedge sides + closure probe
    val wedges = o.select(col("a"), col("b").as("p"))
      .join(o.select(col("a"), col("b").as("q")), Seq("a"))
      .filter(col("p") =!= col("q"))
    wedges
      .join(o.select(col("a").as("p"), col("b").as("q")), Seq("p", "q"))
      .select(explode(array(col("a"), col("p"), col("q"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Root and depth of every node in a forest (parent pointers, roots
    * have null parent) by POINTER DOUBLING: each round every node's
    * ancestor pointer jumps to its ancestor's ancestor and the hop
    * distances add, so the distance-to-root doubles per round — O(log
    * depth) keyed self-joins instead of the O(depth) rounds a naive
    * parent-chase needs (hierarchies this operator targets — org trees,
    * category taxonomies, thread reply chains — are shallow-but-huge,
    * exactly where log-rounds matter). Spark has no recursive CTE; this
    * loop IS the scalable restatement, with [[Dedup.connectedComponents]]'
    * checkpoint-per-round discipline and a scalar-only convergence probe.
    * Cycles would never converge (parents must be a forest); `maxRounds`
    * bounds the loop defensively. Returns (node, root_id, depth). */
  def treePaths(nodes: DataFrame, idCol: String, parentCol: String,
                maxRounds: Int = 20): DataFrame = {
    var st = nodes.select(col(idCol).cast("bigint").as("id"),
        col(parentCol).cast("bigint").as("anc"))
      .withColumn("d", when(col("anc").isNull, 0L).otherwise(1L))
      .withColumn("anc", coalesce(col("anc"), col("id")))
      .transform(graft.operators.GlobalRank.pinned)
    var done = false
    var i = 0
    while (!done && i < maxRounds) {
      val a = st.select(col("id"), col("anc"), col("d"))
      val b = st.select(col("id").as("b_id"), col("anc").as("b_anc"),
        col("d").as("b_d"))
      val jumped = a.join(b, a("anc") === b("b_id"))
        .select(col("id"), col("b_anc").as("anc"),
          (col("d") + col("b_d")).as("d"), (col("b_d") > 0).as("moved"))
        .transform(graft.operators.GlobalRank.pinned)
      done = jumped.filter(col("moved")).isEmpty
      st = jumped.select("id", "anc", "d")
      i += 1
    }
    st.select(col("id").as("node"), col("anc").as("root_id"),
      col("d").as("depth"))
  }

  /** Bounded-hop BFS distances from `source`: `maxHops` rounds of
    * frontier expansion, each one keyed join (ship the previous frontier
    * to its out-edges) plus one map-side-combined `min(hops)` — the
    * reachability probe a link-graph audit runs from a seed set (spam
    * nucleus, trusted-domain whitelist). Distances only ever shrink, so
    * the union + groupBy-min per round is idempotent and the K-round
    * trajectory is engine-reproducible (the DuckDB oracle replays it as
    * a depth-bounded recursive CTE + MIN). At 100 TB the per-round cost
    * is |frontier ⋈ edges|, not |V|: the state table carries one row per
    * REACHED node and the join is frontier-sided, so early rounds are
    * near-free and the operator never materializes all-pairs anything.
    * Returns (node, hops) for nodes within `maxHops` of `source`. */
  def bfsHops(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1, got $maxHops")
    val e = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")).transform(graft.operators.GlobalRank.pinned)
    var dist = e.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("hops"))
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1))
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), lit(h.toLong).as("hops"))
      dist = dist.unionByName(next)
        .groupBy("node").agg(min(col("hops")).as("hops"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    dist
  }

  /** Multi-source BFS: shortest hop counts from EVERY node in `sources`
    * at once, keyed (root, node) — the landmark pass behind
    * landmark-based centrality/closeness estimation (Potamias et al.'s
    * classic trick: exact all-pairs distances are O(n·m) and dead at
    * scale; k landmarks make it k BFS sweeps that here share one frontier
    * join per round, with the root carried as part of the state key).
    * Frontier size is bounded by k·n, each round is one keyed join + one
    * min-combine on (root, node), and a per-round pin
    * truncates the growing lineage exactly as [[bfsHops]] does. */
  def multiSourceBfsHops(edges: DataFrame, sources: Seq[Long],
                         maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"need maxHops >= 1, got $maxHops")
    require(sources.nonEmpty, "need at least one source")
    val e = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")).transform(graft.operators.GlobalRank.pinned)
    val s = e.sparkSession
    import s.implicits._
    var dist = sources.toDF("root")
      .select(col("root"), col("root").as("node"), lit(0L).as("hops"))
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1))
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("root"), col("dst").as("node"),
          lit(h.toLong).as("hops"))
      dist = dist.unionByName(next)
        .groupBy("root", "node").agg(min(col("hops")).as("hops"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    dist
  }

  /** k-core PEELING, pinned to exactly `rounds` rounds: each round drops
    * every node whose degree in the surviving edge set is below `k`
    * (one degree aggregate + two semi-joins), the textbook iterative
    * algorithm behind coreness-based graph sparsification. The round
    * count is pinned — not run to convergence — so the trajectory is a
    * pure function of the input and a DuckDB oracle reproduces it as
    * `rounds` unrolled MATERIALIZED CTEs; production use would loop to
    * fixpoint with [[ccStar]]'s scalar convergence probe (≤ diameter
    * rounds). Returns (node, peel_round): round 1..`rounds` when the
    * node fell below `k`, or 0 for nodes still in the core after the
    * last round. Nodes that lose their last edge while AT degree ≥ k
    * vanish without a verdict (they were never observed under-degree) —
    * both engines apply the same rule, and a fixpoint run classifies
    * everyone. Scale: each round shuffles the CURRENT edge set once for
    * degrees and once per semi-join; the set only shrinks, and
    * a pin per round keeps the plan linear in `rounds`. */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k, rounds >= 1, got $k/$rounds")
    var cur = edges
      .select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(graft.operators.GlobalRank.pinned)
    var dropped = cur.sparkSession.range(0)
      .select(col("id").as("node"), col("id").as("peel_round"))
    for (r <- 1 to rounds) {
      val deg = cur.select(col("u").as("node"))
        .unionByName(cur.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      // Round 14: filter the edge set with ANTI-joins against the nodes
      // dropped THIS round instead of semi-joins against the survivors.
      // Equivalent (every endpoint of `cur` appears in `deg`, so "not
      // kept" = "dropped this round"), but the materialized/broadcast
      // side flips from the large survivor set to the small per-round
      // drop set — AQE turns both anti-joins into broadcasts and the
      // current edge set is never re-exchanged; the old shape pinned
      // and shuffled against the survivors every round.
      val below = deg.filter(col("d") < k).select("node")
        .transform(graft.operators.GlobalRank.pinned)
      dropped = dropped.unionByName(
        below.select(col("node"), lit(r.toLong).as("peel_round")))
      cur = cur
        .join(below.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(below.select(col("node").as("v")), Seq("v"), "left_anti")
        .select("u", "v").transform(graft.operators.GlobalRank.pinned)
    }
    val survivors = cur.select(col("u").as("node"))
      .unionByName(cur.select(col("v").as("node"))).distinct()
      .select(col("node"), lit(0L).as("peel_round"))
    dropped.unionByName(survivors)
  }

  /** Common-neighbor LINK PREDICTION: for every NON-adjacent pair with at
    * least `minCommon` shared neighbors, the shared-neighbor count — the
    * classic first-pass candidate generator for related-item / similar-
    * document suggestions (Adamic-Adar and Jaccard variants reweight the
    * same wedge table). Wedges are enumerated at their apex (one keyed
    * self-join), counted map-side, and existing edges removed with an
    * anti-join. Apexes with degree > `maxApexDegree` are EXCLUDED before
    * wedge fan-out — the Σd² celebrity guard (a 10⁶-degree hub would emit
    * 10¹² wedges, and a common neighbor that popular carries no signal
    * anyway — the same reasoning Adamic-Adar encodes by 1/log(deg)
    * down-weighting). The cap is part of the operator's CONTRACT (the
    * oracle applies the same rule), not a silent truncation. Returns
    * (p, q, common_neighbors), p < q, pairs non-adjacent. */
  def linkPredictCommonNeighbors(edges: DataFrame, minCommon: Long = 2,
                                 maxApexDegree: Long = 1000): DataFrame = {
    val ue = edges.select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct().transform(graft.operators.GlobalRank.pinned)
    val sym = ue.select(col("u").as("a"), col("v").as("b"))
      .unionByName(ue.select(col("v").as("a"), col("u").as("b")))
    val okApex = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxApexDegree).select("a")
    val capped = sym.join(okApex, Seq("a"), "left_semi")
    val wedge = capped.alias("s1").join(capped.alias("s2"),
        col("s1.a") === col("s2.a") && col("s1.b") < col("s2.b"))
      .select(col("s1.b").as("p"), col("s2.b").as("q"))
    val cn = wedge.groupBy("p", "q")
      .agg(count(lit(1)).as("common_neighbors"))
    cn.join(ue, cn("p") === ue("u") && cn("q") === ue("v"), "left_anti")
      .filter(col("common_neighbors") >= minCommon)
  }

  /** Semi-supervised LABEL PROPAGATION, pinned to `rounds` rounds: each
    * round every node adopts the majority label of its already-labeled
    * neighbors (ties to the smallest label), seeds never change — the
    * cheap label-spreading pass that turns a 0.1%-labeled corpus into a
    * weak-labeled one before training a real classifier. `nodes` carries
    * (node, label, seed); non-seed labels start null. Votes are integer
    * counts with a total-order tiebreak, and the round count is pinned,
    * so the trajectory is engine-reproducible (oracle: unrolled
    * MATERIALIZED CTEs). Each round is one keyed join (ship labels to
    * out-edges) + one map-side-combined vote count + a per-node window
    * over ≤ |labels| vote rows — all hash-partitioned by node, no
    * single-partition shape; a pin per round keeps the plan
    * linear. Returns (node, label, is_seed). */
  def labelSpread(nodes: DataFrame, edges: DataFrame, rounds: Int)
  : DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val sym = edges.select(col("src").cast("bigint").as("src"),
        col("dst").cast("bigint").as("dst"))
      .unionByName(edges.select(col("dst").cast("bigint").as("src"),
        col("src").cast("bigint").as("dst")))
      .filter(col("src") =!= col("dst")).transform(graft.operators.GlobalRank.pinned)
    var lab = nodes.select(col("node").cast("bigint").as("node"),
        when(col("seed"), col("label").cast("bigint")).as("lab"),
        col("seed"))
      .transform(graft.operators.GlobalRank.pinned)
    for (_ <- 1 to rounds) {
      val votes = sym.join(lab.filter(col("lab").isNotNull)
          .select(col("node").as("src"), col("lab")), "src")
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      // Round-14 audit note: this row_number-over-(cnt desc, lab asc)
      // = 1 pick is ALREADY the optimal shape — the TopKPerKey rewrite
      // rule turns it into the bounded-heap partial/final top-1 (map-side
      // reduction, no per-node sort). A max(struct(cnt, −lab)) aggregate
      // was tried and measured SLOWER: struct buffers are immutable, so
      // the aggregate plans as SortAggregate.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("node")
        .orderBy(col("cnt").desc, col("lab").asc)
      val winner = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("node"), col("lab").as("wlab"))
      lab = lab.join(winner, Seq("node"), "left")
        .select(col("node"),
          when(col("seed"), col("lab"))
            .otherwise(coalesce(col("wlab"), col("lab"))).as("lab"),
          col("seed"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    lab.select(col("node"), col("lab").as("label"),
      when(col("seed"), 1L).otherwise(0L).as("is_seed"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the general-graph scale path that [[Dedup.connectedComponents]]'
    * docstring defers to. Min-label propagation needs DIAMETER rounds
    * (a 10⁶-hop path graph = 10⁶ shuffles); star contraction rewires
    * every node toward its neighborhood minimum each round, so the
    * component collapses in O(log n) rounds regardless of shape:
    *
    *  - large-star (per node u, m = min(Γ(u) ∪ {u})): every neighbor
    *    ABOVE u re-attaches to m — handled at the smaller endpoint, so
    *    the edge (v, m) it emits strictly lowers v's reach;
    *  - small-star (per node u over neighbors BELOW u, m = their min):
    *    u and those neighbors all re-attach to m — the contraction step
    *    that flattens local chains into stars.
    *
    * Each half-round is one groupBy-min plus one keyed join on the
    * current edge set — no adjacency list is ever collected, so a node
    * of any degree costs its edge count, not its degree squared.
    * Fixpoint (edge set unchanged, detected by an order-free signature
    * aggregate over the checkpointed set) is a star forest whose centers
    * are the component
    * minima. Returns (node, component = min id in the component) for
    * every endpoint in `pairs`; `maxIter` bounds the loop defensively
    * (convergence proof gives 3·log n), and an edge set still changing
    * after `maxIter` rounds throws rather than return partial labels.
    * Each round's edge set is a scope-owned [[GlobalRank.pinned]]
    * checkpoint, freed with the caller's query scope. */
  def ccStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    def norm(df: DataFrame): DataFrame = df
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    var cur = norm(pairs.select(col(pairs.columns(0)).cast("bigint").as("u"),
        col(pairs.columns(1)).cast("bigint").as("v")))
      .transform(GlobalRank.pinned)
    // Edge-set signature for the convergence test: (count, Σu, Σv,
    // Σxxhash64(u,v)), one map-side-combined aggregate over the freshly
    // checkpointed set — versus the previous union+groupBy symmetric-
    // difference probe, which re-shuffled BOTH edge sets every round and
    // was ~a third of the per-round cost on chain graphs. Soundness: a
    // contraction round only ever rewrites an edge endpoint DOWNWARD or
    // merges duplicates, so an unchanged (count, Σu, Σv) already implies
    // no rewrite fired; the 64-bit hash sum guards the remaining
    // add/remove-balancing corner (collision odds ~2⁻⁶⁴). Sums run in
    // decimal(38,0) so ANSI mode cannot overflow on billion-edge sets.
    def sig(df: DataFrame): Seq[Any] = {
      import org.apache.spark.sql.types.DecimalType
      val d = DecimalType(38, 0)
      df.agg(count(lit(1)), sum(col("u").cast(d)), sum(col("v").cast(d)),
          sum(expr("xxhash64(u, v)").cast(d))).head().toSeq
    }
    var curSig = sig(cur)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // Directed view: each endpoint sees its full neighborhood.
      val sym = cur.select(col("u"), col("v"))
        .union(cur.select(col("v").as("u"), col("u").as("v")))
      // large-star: neighbors above u re-attach to m(u) = min(Γ(u) ∪ {u}).
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // No norm() here: m = min(Γ(u) ∪ {u}) ≤ u < v already gives
      // m < v (ordered, no self-loop), and the small-star half below is
      // duplicate-insensitive (its groupBy-min and the round-final
      // distinct absorb them) — the dedup exchange this used to pay per
      // half-round bought nothing. The round-final edge SET is
      // unchanged, so the convergence signature trajectory is too.
      val afterLs = sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
      // small-star: u and its below-neighbors contract onto their min.
      // Round 14: every afterLs row satisfies u < v STRICTLY (its filter
      // keeps v > old-u and new-u = m ≤ old-u), so the old
      // "symmetrize afterLs then keep v < u" kept EXACTLY the swapped
      // copies and discarded the entire un-swapped branch — while
      // re-embedding (and re-executing) the large-star join once per
      // union arm. `smaller` is therefore just the swap projection:
      // identical row multiset, half the large-star join executions.
      val smaller = afterLs.select(col("v").as("u"), col("u").as("v"))
      val m2 = smaller.groupBy("u").agg(min(col("v")).as("m"))
      // Emitted edges already satisfy u < v (m = min of u's
      // below-neighbors, v ≠ m another one; m2 rows have m < u), so the
      // round-final norm() reduces to the distinct that keeps the edge
      // set canonical.
      val next =
        smaller.join(m2, "u").filter(col("v") =!= col("m"))
          .select(col("m").as("u"), col("v"))
          .union(m2.select(col("m").as("u"), col("u").as("v")))
          .distinct()
          .transform(GlobalRank.pinned)
      val nextSig = sig(next)
      converged = nextSig == curSig
      cur = next
      curSig = nextSig
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ccStar did not converge within maxIter = $maxIter rounds")
    // Fixpoint is a star forest (center, spoke): spokes label to their
    // center, centers to themselves.
    cur.select(col("v").as("node"), col("u").as("component"))
      .union(cur.select(col("u").as("node"), col("u").as("component")))
      .distinct()
  }

  /** Bounded-horizon KATZ centrality: c(v) = Σ_{k=1..rounds} αᵏ·pₖ(v),
    * where pₖ(v) = #paths of length k ENDING at v — the attenuated
    * "how reachable is this node" score that, unlike PageRank, rewards
    * being pointed at by well-connected regions without normalizing
    * away hub mass. α = ½ fixed, in integer micro units
    * (αᵏ → 1 000 000 >> k), so path counts and the final score are
    * EXACT integers — no float iteration drift between engines.
    *
    * 100 TB shape: k rounds of (join on src → rollup on dst), each one
    * hash exchange of the CURRENT frontier only (p₀ = all nodes, then
    * monotonically whatever has in-paths); a per-round pin
    * cuts lineage like ccStar/bfsHops. Path counts grow like
    * out-degreeᵏ — callers cap `rounds` small (the usual Katz horizon)
    * and keep αᵏ·counts inside int64, which 4 rounds on any real
    * link graph does. `rounds` caps at 19: the micro-unit attenuation
    * `1000000 >> k` hits 0 at k = 20 (1 at k = 19), so a 20th round
    * would pay a full join + checkpoint for a guaranteed-zero
    * contribution. */
  def katzCentrality(nodes: DataFrame, edges: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 19, s"rounds in 1..19, got $rounds")
    val e = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")).transform(graft.operators.GlobalRank.pinned)
    val n0 = nodes.select(col("node").cast("bigint").as("node"))
    var p = n0.withColumn("paths", lit(1L)) // p₀ = 1 per node
    var katz = n0.withColumn("katz_micro", lit(0L))
    for (k <- 1 to rounds) {
      val pk = p.join(e, p("node") === e("src"))
        .groupBy(col("dst")).agg(sum(col("paths")).as("pk_paths"))
        .select(col("dst").as("pk_node"), col("pk_paths"))
        .transform(graft.operators.GlobalRank.pinned)
      katz = katz
        .join(pk, katz("node") === pk("pk_node"), "left")
        .select(katz("node"),
          (katz("katz_micro") + coalesce(
            col("pk_paths") * lit(1000000L >> k), lit(0L)))
            .as("katz_micro"))
      p = pk.select(col("pk_node").as("node"),
        col("pk_paths").as("paths"))
    }
    katz
  }
}
