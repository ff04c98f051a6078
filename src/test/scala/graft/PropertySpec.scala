package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.gold.WindowOps

/** Property tests (SURVEY.md §5): invariants of the window helpers under
  * random seasons. Points are integer-valued doubles so sums are exact.
  */
object WindowProps extends SparkProps("WindowOps") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val seasonGen: Gen[List[(Int, Int, Int)]] = for {
    nDrivers <- Gen.choose(1, 5)
    nRaces <- Gen.choose(1, 6)
    points <- Gen.listOfN(nDrivers * nRaces, Gen.choose(0, 25))
  } yield {
    for {
      d <- (1 to nDrivers).toList
      r <- (1 to nRaces).toList
    } yield (d, r, points((d - 1) * nRaces + (r - 1)))
  }

  property("running total at season end equals groupBy sum") =
    Prop.forAll(seasonGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("driver", "race", "points")
        .withColumn("pts", col("points").cast("double"))
      val running = df.withColumn("total",
        WindowOps.runningTotal(col("pts"), Seq(col("driver")),
          Seq(col("race"))))
      val finals = running.groupBy("driver")
        .agg(max_by(col("total"), col("race")).as("final"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val direct = df.groupBy("driver").agg(sum("pts").as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      finals == direct
    }

  property("gap to leader is non-negative and zero for the max") =
    Prop.forAll(seasonGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("driver", "race", "points")
      val gapped = df.withColumn("gap",
        WindowOps.gapToLeader(col("points").cast("double"),
          Seq(col("race")))).collect()
      gapped.forall(_.getAs[Double]("gap") >= 0) &&
        gapped.groupBy(_.getAs[Int]("race"))
          .forall { case (_, rs) => rs.exists(_.getAs[Double]("gap") == 0.0) }
    }

  property("TopKPerKey equals the window row_number form on random data") =
    Prop.forAll(seasonGen, Gen.choose(1, 4)) { (rows, k) =>
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val df = rows.toDF("driver", "race", "points")
      // total order: points desc, race asc — deterministic on ties
      val viaCustom = graft.plans.TopKPerKey.topKPerKey(df,
          Seq(col("driver")), Seq(col("points").desc, col("race").asc), k)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
      val w = Window.partitionBy(col("driver"))
        .orderBy(col("points").desc, col("race").asc)
      val viaWindow = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
      viaCustom == viaWindow
    }

  property("rank is invariant under input row permutation") =
    Prop.forAll(seasonGen, Gen.long) { (rows, seed) =>
      import spark.implicits._
      def ranks(input: List[(Int, Int, Int)]): Map[(Int, Int), Int] =
        input.toDF("driver", "race", "points")
          .withColumn("rk", WindowOps.rankWithTieBreak(Seq(col("race")),
            col("points").cast("double"), col("driver")).cast("int"))
          .collect()
          .map(r => (r.getAs[Int]("driver"), r.getAs[Int]("race")) ->
            r.getAs[Int]("rk")).toMap
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      ranks(rows) == ranks(shuffled)
    }
}

/** Pure-JVM properties of the fused hash/signature kernels: each is
  * checked against an independent naive reimplementation of the
  * documented math (no Spark session needed). */
/** asofNearest against the obvious brute force: for every left row, the
  * deduped right row with minimal |t − rt|, ties to the EARLIER rt. */
object AsOfProps extends SparkProps("AsOfJoin.asofNearest") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val gen = for {
    nl <- Gen.choose(1, 10)
    nr <- Gen.choose(0, 8)
    ls <- Gen.listOfN(nl, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 30L)))
    rs <- Gen.listOfN(nr, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 30L),
      Gen.choose(0, 100)))
  } yield (ls, rs)

  property("equals brute-force nearest with backward tie-break") =
    Prop.forAll(gen) { case (ls, rs) =>
      import graft.operators.AsOfJoin
      import spark.implicits._
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("id", "k", "t")
      val right = AsOfJoin.dedupeRight(
        rs.toDF("k", "rt", "price"), "k", "rt", "price")
      val dedup = right.collect()
        .map(r => (r.getAs[Int]("k"), r.getAs[Long]("rt"),
          r.getAs[Int]("price")))
      val expected = ls.zipWithIndex.map { case ((k, t), i) =>
        val cand = dedup.filter(_._1 == k)
        i.toLong -> (if (cand.isEmpty) None
        else {
          val (_, rt, price) =
            cand.minBy { case (_, rt, _) => (math.abs(rt - t), rt) }
          Some((rt, price))
        })
      }.toMap
      val got = AsOfJoin
        .asofNearest(left, right, "k", "t", "rt", Seq("price"), "id")
        .collect().map { r =>
          r.getAs[Long]("id") -> (if (r.isNullAt(r.fieldIndex("rt"))) None
          else Some((r.getAs[Long]("rt"), r.getAs[Int]("price"))))
        }.toMap
      got == expected
    }
}

/** The winnowing guarantee (Schleimer et al. §2): any substring of length
  * ≥ w + k − 1 shared by two documents forces ≥ 1 shared fingerprint —
  * detection is deterministic, never a MinHash-style probabilistic miss. */
object WinnowProps extends SparkProps("Dedup.winnowFingerprints") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val word = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val phrase = Gen.choose(1, 5)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
  // 6 single-space-joined words ≥ 11 chars ≥ w + k − 1 = 10 (k=7, w=4)
  private val sharedRun = Gen.listOfN(6, word).map(_.mkString(" "))

  property("a shared >= 10-char run forces a shared fingerprint") =
    Prop.forAll(phrase, phrase, sharedRun, phrase, phrase) {
      (a, b, shared, c, d) =>
        import graft.operators.Dedup
        import spark.implicits._
        val docs = Seq((1L, s"$a $shared $b"), (2L, s"$c $shared $d"))
          .toDF("doc_id", "text")
        val byDoc = Dedup.winnowFingerprints(docs).collect()
          .groupBy(_.getAs[Long]("doc_id"))
          .view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
        (byDoc(1L) intersect byDoc(2L)).nonEmpty
    }
}

object KernelProps extends Properties("Kernels") {

  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.{Md5Hash, MinhashSignature, SimhashSignature}

  property("md5 prefix60 equals hex-parse of the first 15 digest chars") =
    Prop.forAll(Gen.asciiPrintableStr) { s =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      Md5Hash.prefix60(UTF8String.fromString(s)) ==
        java.lang.Long.parseLong(hex.take(15), 16)
    }

  private val hashArrayGen =
    Gen.nonEmptyListOf(Gen.choose(0L, (1L << 60) - 1))

  property("minhash kernel equals naive per-function minima") =
    Prop.forAll(hashArrayGen, Gen.choose(1, 24)) { (hs, k) =>
      val inBand = hs.map(h => h % MinhashSignature.Prime)
      val fused = MinhashSignature.compute(
        new GenericArrayData(inBand.toArray), k).toSeq
      val naive = (0 until k).map { j =>
        inBand.map(h => (MinhashSignature.affineA(j) * h +
          MinhashSignature.affineB(j)) % MinhashSignature.Prime).min
      }
      fused == naive
    }

  property("minhash kernel reduces out-of-band hashes, not just in-band") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue)),
      Gen.choose(1, 24)) { (hs, k) =>
      // full-width (even negative) inputs: the kernel must reduce into
      // [0, Prime) itself and agree with feeding it pre-reduced values
      val fused = MinhashSignature.compute(
        new GenericArrayData(hs.toArray), k).toSeq
      val reduced = hs.map { h =>
        val m = h % MinhashSignature.Prime
        if (m < 0) m + MinhashSignature.Prime else m
      }
      val viaInBand = MinhashSignature.compute(
        new GenericArrayData(reduced.toArray), k).toSeq
      fused == viaInBand &&
        fused.forall(v => v >= 0 && v < MinhashSignature.Prime)
    }

  property("simhash kernel sets exactly the majority bits") =
    Prop.forAll(hashArrayGen) { hs =>
      val sig = SimhashSignature.compute(new GenericArrayData(hs.toArray))
      (0 until 60).forall { j =>
        val ones = hs.count(h => ((h >>> j) & 1L) == 1L)
        (((sig >>> j) & 1L) == 1L) == (2 * ones > hs.size)
      }
    }

  // The round-14 fused winnow kernel must compute the EXACT fingerprint
  // list the round-13 zip-slice chain computed (same grams, same rolling
  // minima with shrinking tail windows, same first-occurrence dedup) —
  // the dd12/dd13/pipe2 oracles were written against that chain.
  private def naiveWinnow(s: String, k: Int, w: Int): Seq[Long] = {
    val t = UTF8String.fromString(s)
    val nGrams = math.max(t.numChars() - (k - 1), 1)
    val h = (0 until nGrams).map(i => Md5Hash.prefix60(t.substringSQL(i + 1, k)))
    val nWins = math.max(nGrams - (w - 1), 1)
    val mins = (0 until nWins).map(j => h.slice(j, math.min(j + w, nGrams)).min)
    mins.distinct // Seq.distinct keeps first occurrence, like array_distinct
  }

  private val textGen = Gen.frequency(
    (1, Gen.const("")),
    (1, Gen.const("   ")),
    (2, Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))),
    (6, Gen.choose(1, 120).flatMap(n => Gen.listOfN(n,
      Gen.frequency((8, Gen.alphaLowerChar), (2, Gen.const(' '))))
      .map(_.mkString))))

  property("winnow kernel equals the zip-slice chain semantics") =
    Prop.forAll(textGen, Gen.choose(1, 9), Gen.choose(1, 6)) { (s, k, w) =>
      val fused = graft.functions.WinnowFingerprints
        .compute(UTF8String.fromString(s), k, w).toSeq
      fused == naiveWinnow(s, k, w)
    }
}

/** Invariants of the strided sliding-window chunk plan: chunks tile
  * [0, n) exactly with stride-spaced starts, clamp at the document end,
  * and every document (even empty) emits at least one chunk. */
object ChunkProps extends SparkProps("Packing.overlapChunks") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val cases: Gen[(List[Long], Int, Int)] = for {
    nDocs <- Gen.choose(1, 6)
    lens <- Gen.listOfN(nDocs, Gen.choose(0L, 900L))
    stride <- Gen.choose(1, 300)
    extra <- Gen.choose(0, 200)
  } yield (lens, stride + extra, stride)

  property("chunks cover [0, n) with stride starts and clamped ends") =
    Prop.forAll(cases) { case (lens, chunkSize, stride) =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val docs = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, n) }.toDF("doc_id", "n_tokens")
      val got = graft.operators.Packing
        .overlapChunks(docs, col("n_tokens"), chunkSize, stride)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
          r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end")))
        .groupBy(_._1)
      lens.zipWithIndex.forall { case (n, i) =>
        val chunks = got(i.toLong).sortBy(_._2).toList
        val idxOk = chunks.map(_._2).toSeq == chunks.indices.map(_.toLong)
        val startOk = chunks.forall(c => c._3 == c._2 * stride)
        val endOk = chunks.forall(c => c._4 == math.min(c._3 + chunkSize, n))
        // every token position lands in >=1 chunk; one chunk even if n=0
        val coverOk = if (n == 0) chunks.map(c => (c._3, c._4)).toSeq == Seq((0L, 0L))
          else chunks.last._4 == n && chunks.head._3 == 0 &&
            chunks.sliding(2).forall {
              case List(a, b) => b._3 == a._3 + stride && b._3 <= a._4
              case _ => true
            } && chunks.dropRight(1).forall(_._3 < n)
        idxOk && startOk && endOk && coverOk
      }
    }
}

/** Random-graph invariants of the Graph operators, each checked against a
  * driver-side reference implementation (tiny graphs, exhaustive truth).
  */
object GraphProps extends SparkProps("Graph") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(3, 10)
    m <- Gen.choose(2, 18)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
    } yield (a, b))
  } yield (n, edges)

  private def undirected(edges: List[(Long, Long)]): Set[(Long, Long)] =
    edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b))
    }.toSet

  property("bfsHops equals a reference BFS within the hop budget") =
    Prop.forAll(graphGen) { case (_, edges) =>
      import spark.implicits._
      val maxHops = 3
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      // reference: level-by-level BFS from 0, capped at maxHops
      var dist = Map(0L -> 0L)
      var frontier = Set(0L)
      for (h <- 1 to maxHops) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> h.toLong)
      }
      val got = graft.operators.Graph
        .bfsHops(edges.toDF("src", "dst"), source = 0L, maxHops = maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == dist
    }

  property("kcorePeel survivors are exactly the reference k-core") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val k = 2
      // reference: peel to fixpoint
      var cur = undirected(edges)
      var changed = true
      while (changed) {
        val deg = cur.toList.flatMap(e => List(e._1, e._2))
          .groupBy(identity).map { case (v, l) => v -> l.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        changed = next != cur
        cur = next
      }
      val core = cur.flatMap(e => List(e._1, e._2))
      undirected(edges).isEmpty || {
        // rounds = n is always enough for an n-node graph to converge
        val got = graft.operators.Graph
          .kcorePeel(edges.toDF("src", "dst"), k = k, rounds = n)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got.filter(_._2 == 0L).keySet == core
      }
    }

  property("hits matches a reference two-round mutual reinforcement") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      // reference: hub=1 start, two rounds of integer auth/hub sums
      val nodes = (0L until n.toLong).toList
      var hub = nodes.map(_ -> 1L).toMap
      var auth = Map.empty[Long, Long].withDefaultValue(0L)
      for (_ <- 1 to 2) {
        auth = nodes.map(v =>
          v -> edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
        hub = nodes.map(u =>
          u -> edges.filter(_._1 == u).map(e => auth(e._2)).sum).toMap
      }
      val got = graft.operators.Graph
        .hits(nodes.toDF("node"), edges.toDF("src", "dst"), iters = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      got == nodes.map(v => v -> (auth(v), hub(v))).toMap
    }

  property("labelSpread never rewrites a seed label") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val nodes = (0L until n.toLong)
        .map(i => (i, i % 3, i % 2 == 0)).toDF("node", "label", "seed")
      undirected(edges).isEmpty || {
        val got = graft.operators.Graph
          .labelSpread(nodes, edges.toDF("src", "dst"), rounds = 2)
          .collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
        got.filter(_._3 == 1L).forall { case (node, lab, _) =>
          lab == node % 3
        }
      }
    }

  private val pointsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(4, 20)
    xs <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
  } yield xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }

  property("kCenterGreedy matches reference farthest-first exactly") =
    Prop.forAll(pointsGen) { pts =>
      import spark.implicits._
      val k = 3
      // reference: greedy farthest-first on 1-d points, lowest-id seed,
      // strict-< assignment updates, ties to the lowest id
      def d2(a: Long, b: Long): Long = (a - b) * (a - b)
      val byId = pts.toMap
      val seed = pts.map(_._1).min
      var centers = List(seed)
      var minD = pts.map { case (id, x) =>
        id -> (d2(x, byId(seed)), seed)
      }.toMap
      for (_ <- 2 to k) {
        val far = minD.toList
          .sortBy { case (id, (d, _)) => (-d, id) }.head._1
        centers :+= far
        minD = minD.map { case (id, (d, c)) =>
          val nd = d2(byId(id), byId(far))
          id -> (if (nd < d) (nd, far) else (d, c))
        }
      }
      val got = graft.operators.Coreset.kCenterGreedy(
          pts.map { case (id, x) => (id, Seq(x)) }.toDF("vec_id", "qv"),
          "vec_id", "qv", k = k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getBoolean(3)))).toMap
      got == minD.map { case (id, (d, c)) =>
        id -> ((c, d, centers.contains(id)))
      }
    }
}

/** Round-7 operator invariants: seeded PageRank mass, blocking-verify
  * containment, and the trained-weights scorer's equivalence contract. */
object Round7Props extends SparkProps("Round7Ops") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(2, 12)
    nEdges <- Gen.choose(0, 20)
    edges <- Gen.listOfN(nEdges, for {
      s <- Gen.choose(0L, n - 1L); d <- Gen.choose(0L, n - 1L)
    } yield (s, d))
  } yield (n, edges)

  property("personalized pagerank: non-negative, mass <= Scale, empty seeds -> all zero") =
    Prop.forAll(graphGen, Gen.choose(0, 3)) { case ((n, edges), nSeeds) =>
      import spark.implicits._
      val nodes = (0L until n.toLong).toDF("node")
      val e = if (edges.isEmpty) Seq((0L, 0L)).toDF("src", "dst").limit(0)
        else edges.toDF("src", "dst")
      val seeds = (0L until math.min(nSeeds, n).toLong).toDF("node")
      val ranks = graft.operators.Graph
        .personalizedPagerank(nodes, e, seeds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = ranks.values.sum
      ranks.values.forall(_ >= 0L) &&
        total <= graft.operators.Graph.Scale &&
        (nSeeds > 0 || total == 0L)
    }

  private val namesGen: Gen[List[(Long, String)]] = for {
    k <- Gen.choose(2, 12)
    names <- Gen.listOfN(k,
      Gen.listOfN(8, Gen.oneOf("abcdef".toSeq)).map(_.mkString))
  } yield names.zipWithIndex.map { case (s, i) => (i.toLong, s) }

  property("fuzzy join results are contained in the blocking candidates") =
    Prop.forAll(namesGen) { rows =>
      import graft.operators.FuzzyJoin
      import spark.implicits._
      val df = rows.toDF("id", "nm")
      val cands = FuzzyJoin.candidatePairs(df, col("id"), col("nm"),
          df, col("id"), col("nm"), ngram = 3, maxGramDf = 100)
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val matched = FuzzyJoin.fuzzyJoin(df, col("id"), col("nm"),
          df, col("id"), col("nm"), maxDistance = 2, ngram = 3,
          maxGramDf = 100)
        .collect()
        .map(r => (r.getAs[Long]("lid"), r.getAs[Long]("rid"),
          r.getAs[Long]("dist")))
      matched.forall { case (l, r, d) =>
        cands.contains((l, r)) && d <= 2
      }
    }

  private val docsGen: Gen[List[(Long, String)]] = for {
    k <- Gen.choose(1, 8)
    texts <- Gen.listOfN(k, Gen.listOfN(6,
      Gen.oneOf("dup", "key", "the", "batch", "x", "zz"))
      .map(_.mkString(" ")))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("trained-weight scorer with the formula's weights equals the formula scorer") =
    Prop.forAll(docsGen) { rows =>
      import graft.operators.Scoring
      import spark.implicits._
      val df = rows.toDF("doc_id", "text")
      val formulaWeights =
        Array.tabulate(64)(b => ((b.toLong * 37) % 21) - 10)
      val a = Scoring.hashedLinearScore(df).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val b = Scoring
        .linearScoreWithWeights(df, formulaWeights, bias = -3L)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      a == b
    }
}

/** Independent reference check for the BPE merge round: the DuckDB
  * oracle is a logic TWIN (same window algebra both engines), so a
  * semantic bug could pass it on both sides. This property pins
  * [[graft.queries.TrainerQueries.mergeRound]] against a straight
  * sequential BPE implementation (Sennrich get_stats + greedy
  * left-to-right merge) over random word-frequency tables. */
object BpeProps extends SparkProps("TrainerQueries.mergeRound") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  // distinct words over a 3-letter alphabet (repeats force the a==a run
  // logic), with random frequencies — the wordFreq grain
  private val wfGen: Gen[Map[String, Long]] = for {
    n <- Gen.choose(1, 7)
    words <- Gen.listOfN(n,
      Gen.choose(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString)))
    freqs <- Gen.listOfN(n, Gen.choose(1L, 5L))
  } yield words.zip(freqs).toMap  // toMap dedupes to distinct words

  private def refPairs(wf: Map[String, List[String]],
                       freq: Map[String, Long]): Map[(String, String), Long] =
    wf.toList.flatMap { case (w, syms) =>
      syms.zip(syms.drop(1)).map(p => p -> freq(w))
    }.groupMapReduce(_._1)(_._2)(_ + _)

  private def refApply(syms: List[String], l: String,
                       r: String): List[String] = syms match {
    case a :: b :: rest if a == l && b == r => (a + b) :: refApply(rest, l, r)
    case a :: rest => a :: refApply(rest, l, r)
    case Nil => Nil
  }

  property("pick and merged segmentation match sequential BPE") =
    Prop.forAll(wfGen) { freq =>
      import spark.implicits._
      val segRef = freq.keys.map(w => w -> w.split("").toList).toMap
      val pairs = refPairs(segRef, freq)
      val wfDf = freq.toSeq.toDF("word", "freq")
      val (pickDf, nextDf) =
        graft.queries.TrainerQueries.mergeRound(
          graft.queries.TrainerQueries.charSeg(wfDf))
      val pickRows = pickDf.collect()
      if (pairs.isEmpty) {
        pickRows.isEmpty
      } else {
        val expPick = pairs.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.head
        val got = pickRows.head
        val gotPick = ((got.getString(0), got.getString(1)), got.getLong(2))
        val expNext = segRef.map { case (w, syms) =>
          w -> refApply(syms, expPick._1._1, expPick._1._2)
        }
        val gotNext = nextDf.orderBy("word", "pos").collect()
          .groupBy(_.getString(0))
          .map { case (w, rs) =>
            w -> rs.sortBy(_.getLong(2)).map(_.getString(3)).toList }
        gotPick == expPick && gotNext == expNext
      }
    }
}
