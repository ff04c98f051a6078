package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {

  test("pagerank: symmetric cycle gives equal ranks, mass ~ conserved") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val out = Graph.pagerank(nodes, edges, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == 4)
    // A 4-cycle is vertex-transitive: every node gets the same rank.
    assert(out.values.toSet.size == 1)
    // Integer truncation loses < n+1 micro-units per round.
    val total = out.values.sum
    assert(total <= Graph.Scale && total > Graph.Scale - 4 * (4 + 1))
  }

  test("pagerank: chain sink outranks source; dangling mass leaks") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = Graph.pagerank(nodes, edges, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(2L) > out(1L) && out(1L) > out(0L))
    // Node 0 receives teleport only after round 1.
    val tele = (15L * Graph.Scale) / (100L * 3L)
    assert(out(0L) == tele)
  }

  test("syntheticLinks: out-degree 3 for every doc, targets in range") {
    import spark.implicits._
    val docs = (0L until 10L).toDF("doc_id")
    val e = Graph.syntheticLinks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(e.length == 30)
    assert(e.groupBy(_._1).forall(_._2.length == 3))
    assert(e.forall { case (_, d) => d >= 0 && d < 10 })
  }

  test("ccStar: path, triangle, and pair collapse to component minima") {
    import spark.implicits._
    val edges = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L), (100L, 101L))).toDF("u", "v")
    val out = Graph.ccStar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 9L).forall(out(_) == 0L))
    assert(Seq(20L, 21L, 22L).forall(out(_) == 20L))
    assert(out(100L) == 100L && out(101L) == 100L)
    assert(out.size == 15)
  }

  test("ccStar and connectedComponents throw, naming the operator and " +
      "its bound, when a path graph outlasts maxIter") {
    import spark.implicits._
    // min-label propagation needs one round per hop: 40 hops > 20
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("u", "v")
    val cc = intercept[IllegalStateException](graft.operators.Dedup
      .connectedComponents(path, "u", "v").collect())
    assert(cc.getMessage.contains("connectedComponents") &&
      cc.getMessage.contains("maxIter = 20"), cc.getMessage)
    // star contraction needs a few rounds on 41 nodes, and at least two
    // to see an unchanged edge set
    val star = intercept[IllegalStateException](
      Graph.ccStar(path, maxIter = 2).collect())
    assert(star.getMessage.contains("ccStar") &&
      star.getMessage.contains("maxIter = 2"), star.getMessage)
  }

  test("bfsHops: path graph distances, unreachable nodes absent") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 1L)).toDF("src", "dst")
    val out = Graph.bfsHops(edges, source = 1L, maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 4 is 3 hops away, 9 has no in-path from 1: neither appears.
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsHops: min distance wins when paths of both lengths exist") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val out = Graph.bfsHops(edges, source = 0L, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  test("triangleCorners attributes each triangle to all three corners") {
    import spark.implicits._
    // two triangles sharing node 2, plus a pendant edge
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (4L, 2L), (4L, 9L)).toDF("src", "dst")
    val out = Graph.triangleCorners(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("multiSourceBfsHops: per-root distances match single-source runs") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 1L), (0L, 3L))
      .toDF("src", "dst")
    val multi = Graph.multiSourceBfsHops(edges, Seq(0L, 1L), maxHops = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    for (root <- Seq(0L, 1L)) {
      val single = Graph.bfsHops(edges, source = root, maxHops = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(multi.collect { case ((`root`, n), d) => n -> d }.toMap
        == single, s"root $root")
    }
    // no cross-talk: node 9 is reachable from neither root
    assert(!multi.keySet.exists(_._2 == 9L))
  }

  test("kcorePeel: pendant chain peels outside-in, triangle core survives") {
    import spark.implicits._
    // triangle 0-1-2 plus a chain 2-3-4: at k=2 the chain peels from the
    // tip inward (4 first, then 3), the triangle is the 2-core.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val out = Graph.kcorePeel(edges, k = 2, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 4L -> 1L, 3L -> 2L))
  }

  test("labelSpread: labels flow one hop per round, seeds immutable") {
    import spark.implicits._
    val nodes = Seq((0L, 3L, true), (1L, 7L, false), (2L, 9L, false))
      .toDF("node", "label", "seed")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r1 = Graph.labelSpread(nodes, edges, rounds = 1).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    // after one round node 1 adopts the seed's label; node 2's only
    // neighbor was unlabeled at vote time
    assert(r1 == Map(0L -> 3L, 1L -> 3L, 2L -> -1L))
    val r2 = Graph.labelSpread(nodes, edges, rounds = 2).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(r2 == Map(0L -> 3L, 1L -> 3L, 2L -> 3L))
  }

  test("labelSpread: majority wins, ties break to the smallest label") {
    import spark.implicits._
    // node 9 hears 5 twice and 1 once → 5; node 8 hears 1 and 5 once
    // each → tie → 1
    val nodes = Seq((1L, 5L, true), (2L, 5L, true), (3L, 1L, true),
      (8L, 0L, false), (9L, 0L, false))
      .toDF("node", "label", "seed")
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (1L, 8L), (3L, 8L))
      .toDF("src", "dst")
    val out = Graph.labelSpread(nodes, edges, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(9L) == 5L && out(8L) == 1L)
  }

  test("ccStar agrees with min-label propagation on a hashed graph") {
    import spark.implicits._
    val raw = (0L until 60L).map(i => (i, (i * i + 1) % 60))
      .filter { case (a, b) => a != b }
    val df = raw.toDF("u", "v")
    val star = Graph.ccStar(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val prop = graft.operators.Dedup
      .connectedComponents(df, "u", "v", maxIter = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == prop)
  }
}
