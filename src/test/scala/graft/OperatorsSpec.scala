package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Contamination, Dedup, Multimodal, Packing, Similarity, TextAnalysis}

/** Training-data operator specs on the sf0.001 fixtures. */
class OperatorsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fused codegen dot product agrees bit-for-bit with the HOF form") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val self = emb.select(col("vec_id"),
      Similarity.dot(col("embedding"), col("embedding")).as("fused"),
      Similarity.dotHof(col("embedding"), col("embedding")).as("hof"))
    val mismatches = self.filter(col("fused") =!= col("hof")).count()
    assert(mismatches == 0)
    // the fused-only projection stays inside whole-stage codegen (the HOF
    // variant would force the whole Project to fall back)
    val fusedOnly = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fused"))
    val plan = fusedOnly.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      plan.take(1000))
  }

  test("k-truss peel drops pendant/bridge edges, keeps cohesive cores") {
    import spark.implicits._
    import graft.operators.Graph
    // two triangles {1,2,3} and {4,5,6} joined by a bridge 3-4, plus a
    // pendant 6-7: the bridge and pendant are in no triangle and peel
    // in round 1; both triangles survive with support 1 per edge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L))
      .toDF("src", "dst")
    val out = Graph.ktrussEdges(edges, k = 3, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.keySet == Set((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)))
    assert(out.values.forall(_ == 1L))
    // k = 4 (support >= 2) peels everything: no edge sits in 2 triangles
    assert(Graph.ktrussEdges(edges, k = 4, rounds = 3).count() == 0)
    // a 4-clique survives k = 4 with support 2 on every edge
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    val t4 = Graph.ktrussEdges(k4, k = 4, rounds = 3).collect()
    assert(t4.length == 6 && t4.forall(_.getLong(2) == 2L))
  }

  test("exact dedup groups identical normalized texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs).collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("winnowing: a shared >= w+k-1 char run guarantees a shared fingerprint") {
    import spark.implicits._
    // defaults k=7, w=4 => guarantee threshold 10 chars. Doc 1 and 2
    // share a 26-char run inside otherwise different text; doc 3 shares
    // nothing. The winnowing guarantee makes the (1,2) overlap certain,
    // not probabilistic.
    val shared = "abcdefghij klmnopqrstuvwxy"
    val docs = Seq(
      (1L, s"left context one $shared and a distinct tail here"),
      (2L, s"totally other opening $shared closing words differ"),
      (3L, "zz qq ww ee rr tt yy uu ii oo pp completely disjoint"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs)
    val byDoc = fps.collect().groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    // every fingerprint must be one of the doc's own gram minima — spot
    // check cardinality: selected fingerprints are far fewer than grams
    assert(byDoc(1L).size < docs.filter($"doc_id" === 1L)
      .select(org.apache.spark.sql.functions.length($"text")).head().getInt(0))
  }

  test("minhash finds the planted near-duplicate and skips the rest") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val nearDup = base.replace("lazy", "sleepy")
    val docs = Seq((1L, base), (2L, nearDup),
      (3L, "completely unrelated content about spark aggregation plans " * 5))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(docs, threshold = 0.3).collect()
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet == Set((1L, 2L)))
    assert(pairs.head.getAs[Double]("jaccard") > 0.3)
  }

  test("incremental dedup: incoming batch probes the existing index only") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val existing = Seq(
      (1L, base),
      (2L, base), // duplicate WITHIN existing: must NOT be re-reported
      (3L, "completely unrelated content about spark aggregation plans " * 5))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base.replace("lazy", "sleepy")),
      (11L, "fresh never seen before text with zero overlap anywhere " * 5))
      .toDF("doc_id", "text")
    val pairs = Dedup
      .minhashDedupIncremental(existing, incoming, threshold = 0.3)
      .collect().map(r =>
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // only existing->incoming edges; the (1,2) intra-existing pair and
    // the novel doc 11 stay out
    assert(pairs == Set((1L, 10L), (2L, 10L)))
  }

  test("per-key cap keeps at most N per key, stable under repartition") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (1L to 100L).map(i => (i, s"k${i % 3}")).toDF("doc_id", "lang")
    def pick(input: org.apache.spark.sql.DataFrame) =
      Sampling.capPerKey(input, col("lang"), col("doc_id"), maxN = 5)
        .select("doc_id").as[Long].collect().toSet
    val once = pick(df)
    assert(once.size == 15) // 3 keys x 5 kept
    assert(pick(df.repartition(13)) == once) // membership is record-keyed
  }

  test("quality gate rejects with the right reason codes") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to the old barn where it sleeps all day long, " +
      "waking only when the farmer comes by with food for all of them " +
      "and the other animals are also there watching it happen again " +
      "until evening falls quietly across those wide golden fields while " +
      "every creature settles down into a warm familiar corner somewhere"
    val docs = Seq(
      (1L, good),
      (2L, "too short"),
      (3L, ("spark " * 120).trim), // no stopwords, highly repetitive
      (4L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) " * 30))
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("fail_reasons"))).toMap
    assert(out(1L) == ((true, "")))
    assert(!out(2L)._1 && out(2L)._2.contains("too_short"))
    assert(!out(3L)._1 && out(3L)._2.contains("low_stopword") &&
      out(3L)._2.contains("repetitive"))
    assert(!out(4L)._1 && out(4L)._2.contains("high_punct"))
  }

  test("simhash hamming distance separates near-dups from unrelated docs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val docs = Seq((1L, base), (2L, base.replace("delta", "kappa")),
      (3L, "nothing in common with those documents at all " * 4))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("sig")).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
  }

  test("brute-force cosine top-k is k rows per query, ranked") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 3), k = 5).collect()
    assert(out.length == 15)
    val perQuery = out.groupBy(_.getAs[Long]("query_id"))
    perQuery.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Double]("cos_sim")).toSeq
        .sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("text stats produce sane ranges") {
    val stats = TextAnalysis.textStats(Tables.documents(spark, sf).limit(100))
      .collect()
    stats.foreach { r =>
      assert(r.getAs[Long]("n_tokens") > 0)
      assert(r.getAs[Double]("quality_score") >= 0.0 &&
        r.getAs[Double]("quality_score") <= 1.0)
      assert(r.getAs[String]("fingerprint").length == 32)
    }
  }

  test("ivf cells written as a partition column prune the ANN scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val assigned = Similarity.ivfAssign(
      Tables.embeddings(spark, sf), ncells = 4)
    assigned.write.partitionBy("cell").parquet(s"$dir/ivf")
    val probe = spark.read.parquet(s"$dir/ivf").filter(col("cell") === 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(1500))
    val cells = spark.read.parquet(s"$dir/ivf")
      .groupBy("cell").count().collect()
    assert(cells.length > 1, "expected multiple populated cells")
    assert(probe.count() > 0)
  }

  test("ivfTopK honors a non-default embedding dim on both sides") {
    import spark.implicits._
    // 8-dim vectors: two tight clusters; with dim threaded through both
    // corpus assignment and query-side projections, each query's top-1
    // neighbor is its cluster partner.
    def v(base: Float): Array[Float] = Array.tabulate(8)(i => base + i * 0.01f)
    val corpus = Seq(
      (1L, v(1.0f)), (2L, v(1.01f)),  // cluster A
      (3L, v(-5.0f)), (4L, v(-5.01f)) // cluster B
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, corpus, k = 1, ncells = 2,
      nprobe = 2, dim = 8)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Long]("corpus_id")).toMap
    assert(out(1L) == 2L && out(2L) == 1L)
    assert(out(3L) == 4L && out(4L) == 3L)
  }

  test("semDedup keeps the lowest-id member of a semantic cluster") {
    import spark.implicits._
    // two tight clusters (near-dups within, near-orthogonal across): every
    // cluster keeps exactly its lowest id, the rest are pruned
    def v(hot: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == hot) 1.0f else 0.001f)
    val corpus = Seq(
      (10L, v(0)), (11L, v(0)), (12L, v(0)),  // cluster on axis 0
      (20L, v(5)), (21L, v(5)))               // cluster on axis 5
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(corpus, threshold = 0.9, ncells = 4,
      dim = 8).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("keep")).toMap
    assert(out == Map(10L -> 1, 11L -> 0, 12L -> 0, 20L -> 1, 21L -> 0))
  }

  test("hash sampling: repartition-stable, split disjoint and exhaustive") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
    // membership keyed on the record, not row order: repartitioning (which
    // scrambles order/placement) must not change the sample
    val a = Sampling.hashSample(docs, col("doc_id"), 250)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs.repartition(7), col("doc_id"), 250)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < docs.count())

    val split = Sampling.splitAssign(docs, col("doc_id"), 800, 100)
    assert(split.count() == docs.count())
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train") > counts.getOrElse("val", 0L))

    // null keys belong to NO split (never silently in the holdout set)
    val withNull = docs.select(
      when(col("doc_id") === 1L, lit(null).cast("long"))
        .otherwise(col("doc_id")).as("doc_id"))
    val nullSplit = Sampling.splitAssign(withNull, col("doc_id"), 800, 100)
      .filter(col("doc_id").isNull).select("split").collect()
    assert(nullSplit.length == 1 && nullSplit.head.isNullAt(0))

    // stratified: a 0-permille stratum vanishes, 1000-permille kept whole
    val strat = Sampling.stratifiedSample(docs, col("lang"), col("doc_id"),
      Map("en" -> 0), defaultPermille = 1000)
    assert(strat.filter(col("lang") === "en").count() == 0)
    assert(strat.count() ==
      docs.filter(col("lang") =!= "en" || col("lang").isNull).count())
  }

  test("kmeans recovers planted clusters and is repartition-stable") {
    import spark.implicits._
    import graft.operators.KMeans
    def v(c: Double, jitter: Double) =
      Array.tabulate(8)(i => (if (i < 4) c else -c).toFloat +
        (if (i % 2 == 0) jitter.toFloat else -jitter.toFloat))
    // two tight planted clusters around +1/-1 and -1/+1 patterns; the
    // seeds are the k lowest ids, so ids 0 and 1 sit in DIFFERENT
    // clusters (seeding both in one cluster makes Lloyd stall on a
    // degenerate mid-point split — the standard bad-init failure)
    val pts = Seq(
      (0L, v(1.0, 0.01)), (2L, v(1.0, 0.02)), (4L, v(1.0, 0.03)),
      (1L, v(-1.0, 0.01)), (3L, v(-1.0, 0.02)), (5L, v(-1.0, 0.03)))
      .toDF("vec_id", "embedding")
    val fit = KMeans.fit(pts, k = 2, iters = 3, vecCol = "embedding")
    val byCluster = fit.collect()
      .groupBy(_.getAs[Int]("cluster"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(byCluster.values.toSet == Set(Set(0L, 2L, 4L), Set(1L, 3L, 5L)))
    // membership is a pure function of the data, not partitioning
    val fit2 = KMeans.fit(pts.repartition(5), k = 2, iters = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster"))
      .toMap
    val fit1 = fit.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(fit1 == fit2)
  }

  test("kCenterGreedy picks spread-out centers and covers by first pick") {
    import spark.implicits._
    import graft.operators.Coreset
    // four 1-d points in two far pairs: seed = lowest id (0 at x=0),
    // farthest-first must then take 11 (x=110), then the farthest
    // remaining from {0, 110} is 10 (x=100); assignment covers 1→0.
    val pts = Seq((0L, Seq(0L)), (1L, Seq(10L)), (10L, Seq(1000L)),
      (11L, Seq(1100L))).toDF("vec_id", "qv")
    val out = Coreset.kCenterGreedy(pts, "vec_id", "qv", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(0L) == ((0L, 0L, true)))
    assert(out(11L) == ((11L, 0L, true)))
    assert(out(10L) == ((10L, 0L, true)))
    // non-center point assigned to its nearest center with exact d²
    assert(out(1L) == ((0L, 100L, false)))
  }

  test("trained IVF with full probing matches brute-force membership") {
    import spark.implicits._
    import graft.operators.{KMeans, Similarity}
    // well-separated vectors (axis-aligned, distinct magnitudes) so the
    // quantized and float cosine rankings agree unambiguously
    def axis(i: Int, mag: Double) =
      Array.tabulate(8)(j => if (j == i % 8) mag.toFloat else 0.05f * (i % 3))
    val pts = (0L until 12L).map(i => (i, axis(i.toInt, 1.0 + 0.1 * i)))
      .toDF("vec_id", "embedding")
    val queries = pts.filter(col("vec_id") < 2)
    val trained = KMeans.trainedIvfTopK(pts, queries, k = 2, iters = 2,
      nprobe = 2, topK = 3) // nprobe = k: every cell probed, zero loss
    val brute = Similarity.bruteForceTopK(pts, queries, k = 3)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("corpus_id")).toSet }
    assert(sets(trained) == sets(brute) && sets(trained).nonEmpty)
  }

  test("repetition stats separate a looped document from running text") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the cat sat on the mat " * 10),            // looped boilerplate
      (2L, "every word here appears exactly once today friends"),
      (3L, ""))                                         // degenerate
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("ttr"), r.getAs[Double]("dup_bigram_frac"))).toMap
    val (ttr1, dup1) = out(1L)
    val (ttr2, dup2) = out(2L)
    assert(ttr1 < 0.15 && dup1 > 0.85) // loop: few types, repeated bigrams
    assert(ttr2 == 1.0 && dup2 == 0.0) // all-distinct text
    assert(out(3L) == (1.0, 0.0))      // empty doc: no repetition signal
  }

  test("weighted sampling: monotone in weight, clamped, null keys drop") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
    // same salt + higher weight can only ADD rows (the row's uniform draw
    // is fixed) — no membership churn from small score shifts
    val lo = Sampling.weightedSample(docs, col("doc_id"), lit(200))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = Sampling.weightedSample(docs, col("doc_id"), lit(600))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi) && lo.nonEmpty && lo.size < hi.size)
    // weight clamping: >=1000 keeps everything, <=0 keeps nothing
    assert(Sampling.weightedSample(docs, col("doc_id"), lit(5000)).count()
      == docs.count())
    assert(Sampling.weightedSample(docs, col("doc_id"), lit(-3)).isEmpty)
    // per-row weights agree with the constant gates row-by-row
    val perRow = Sampling.weightedSample(docs, col("doc_id"),
        when(col("doc_id") % 2 === 0, 600).otherwise(200))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(perRow == hi.filter(_ % 2 == 0) ++ lo.filter(_ % 2 != 0))
    // null keys and null weights drop out
    val nullKey = docs.select(lit(null).cast("long").as("doc_id"))
    assert(Sampling.weightedSample(nullKey, col("doc_id"), lit(1000)).isEmpty)
    assert(Sampling.weightedSample(docs, col("doc_id"),
      lit(null).cast("int")).isEmpty)
  }

  test("contamination flags the planted eval leak and decontaminate drops it") {
    import spark.implicits._
    val evalItem = "what is the capital of france paris is the capital " * 3
    val corpus = Seq(
      (1L, "training text about spark shuffles and partitions " * 3),
      (2L, evalItem), // verbatim eval leak
      (3L, "more unrelated training content entirely " * 3))
      .toDF("doc_id", "text")
    val bench = Seq((100L, evalItem)).toDF("doc_id", "text")
    val report = Contamination.contaminationReport(corpus, bench)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("overlap_ratio")).toMap
    assert(report.keySet == Set(2L))
    assert(report(2L) == 1.0) // verbatim copy: every shingle overlaps
    val clean = Contamination.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(1L, 3L))
  }

  test("sequence packing: exact offsets, chunk invariants, order-stable") {
    import spark.implicits._
    val docs = Seq(
      ("en", 1L, 300L), ("en", 2L, 300L), ("en", 3L, 100L),
      ("de", 10L, 600L), ("de", 11L, 50L))
      .toDF("lang", "doc_id", "n_tokens")
    val packed = Packing.packSequences(docs, col("lang"), col("doc_id"),
      col("n_tokens"), seqLen = 512)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("token_offset"), r.getAs[Long]("seq_idx"),
          r.getAs[Long]("seq_offset"))).toMap
    // en stream: 0 | 300 (starts in seq 0 at 300) | 600 (seq 1 at 88)
    assert(packed(1L) == (0L, 0L, 0L))
    assert(packed(2L) == (300L, 0L, 300L))
    assert(packed(3L) == (600L, 1L, 88L))
    // de stream independent: 0 | 600 → seq 1
    assert(packed(10L) == (0L, 0L, 0L))
    assert(packed(11L) == (600L, 1L, 88L))
  }

  test("overlap chunking: stride coverage, tail clamp, empty-doc chunk") {
    import spark.implicits._
    val docs = Seq((1L, 500L), (2L, 0L), (3L, 1L), (4L, 256L))
      .toDF("doc_id", "n_tokens")
    val chunks = Packing.overlapChunks(docs, col("n_tokens"),
        size = 256, stride = 192)
      .collect().groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.map(r =>
        (r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end"))).sorted.toSeq }
    // 500 tokens: three strided windows, tail clamped to the doc end
    assert(chunks(1L) == Seq((0L, 256L), (192L, 448L), (384L, 500L)))
    assert(chunks(2L) == Seq((0L, 0L)))   // empty doc keeps its one chunk
    assert(chunks(3L) == Seq((0L, 1L)))
    // every start < n_tokens: window at 192 still emitted for n=256
    assert(chunks(4L) == Seq((0L, 256L), (192L, 256L)))
  }

  test("corpus mix: per-source rates, provenance, repartition-stable") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    def mix(d: org.apache.spark.sql.DataFrame) = Sampling.mixCorpus(Seq(
      ("en", d.filter(col("lang") === "en"), 800),
      ("rest", d.filter(col("lang").isNull || col("lang") =!= "en"), 250)),
      key = col("doc_id"))
    val out = mix(docs).collect()
    // provenance column is consistent with the source predicate
    assert(out.forall(r => (r.getAs[String]("source") == "en") ==
      (r.getAs[String]("lang") == "en")))
    // deterministic under physical re-layout
    val again = mix(docs.repartition(7)).collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSet ==
      again.map(r => (r.getLong(0), r.getString(2))).toSet)
    // sources sampled at different rates: en keeps ~80%, rest ~25%
    val enTotal = docs.filter(col("lang") === "en").count().toDouble
    val restTotal = docs.count() - enTotal
    val enKept = out.count(_.getAs[String]("source") == "en") / enTotal
    val restKept = out.count(_.getAs[String]("source") == "rest") / restTotal
    assert(enKept > 0.7 && enKept < 0.9, s"enKept=$enKept")
    assert(restKept > 0.15 && restKept < 0.35, s"restKept=$restKept")
  }

  test("bloom-pruned join: transparent result, probe side actually shrinks") {
    import graft.operators.BloomJoin
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val hot = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
    val plain = li.join(hot, col("l_orderkey") === col("o_orderkey"))
      .collect().map(_.toSeq).toSet
    val bloomed = BloomJoin.bloomJoin(li, col("l_orderkey"), hot,
        col("o_orderkey"), expectedItems = 10000L)
      .collect().map(_.toSeq).toSet
    assert(bloomed == plain) // no false negatives → identical join result
    // and the sketch really prunes: far fewer probe rows survive than exist
    val pruned = BloomJoin.prune(li, col("l_orderkey"), hot,
      col("o_orderkey"), expectedItems = 10000L)
    assert(pruned.count() < li.count() / 2)
    // the probe predicate is the codegen'd might_contain expression
    assert(pruned.queryExecution.executedPlan.toString
      .contains("might_contain"))
  }

  test("z-order value interleaves bits; clustered write round-trips") {
    import spark.implicits._
    import graft.operators.ZOrder
    // x=5 (101), y=3 (011), 3 bits: positions x->0,2,4 y->1,3,5 => 011011b
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), 3).as("z"))
      .head().getLong(0)
    assert(z == 27L)
    // locality: points sharing high-order halves in BOTH dims share the
    // z-prefix (the property that makes min/max stats prune on either dim)
    val pts = Seq((1L, 2L), (3L, 0L), (900L, 1000L), (1001L, 901L))
      .toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), 10).as("z"))
      .collect().map(_.getLong(0))
    assert(pts(0) >> 10 == 0 && pts(1) >> 10 == 0) // small quadrant
    assert(pts(2) >> 16 == pts(3) >> 16)           // large quadrant shared prefix
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    ZOrder.writeZOrdered(orders, s"$dir/t",
      Seq(col("o_custkey") % 1024, col("o_orderkey") % 1024), 10, nFiles = 4)
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == orders.count())
    assert(back.columns.toSet == Set("o_orderkey", "o_custkey"))
  }

  test("fuzzy join links misspellings, stop-gram pruning blocks hot grams") {
    import spark.implicits._
    import graft.operators.FuzzyJoin
    val left = Seq((1L, "Acme Corporation"), (2L, "Globex Industries"),
      (3L, "Initech LLC")).toDF("id", "name")
    val right = Seq((10L, "Acme Corporatoin"), // transposition, dist 2
      (20L, "Completely Different Name")).toDF("id", "name")
    val matches = FuzzyJoin.fuzzyJoin(left, col("id"), col("name"),
        right, col("id"), col("name"), maxDistance = 2)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(matches.toSet == Set((1L, 10L)))
    // stop-gram pruning: when every gram exceeds the frequency cap, no
    // candidates form at all — even identical strings stay unpaired (the
    // deliberate recall/cost trade of blocking on rare grams only)
    val many = (1L to 30L).map(i => (i, "The Exact Same Name"))
      .toDF("id", "name")
    val none = FuzzyJoin.fuzzyJoin(many, col("id"), col("name"),
      many.withColumn("id", col("id") + 100), col("id"), col("name"),
      maxDistance = 10, maxGramDf = 3)
    assert(none.count() == 0)
  }

  test("global rank matches the built-in window without a single-partition exchange") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val scalable = GlobalRank.withGlobalRank(df,
      order = Seq(col("o_totalprice")), tieBreak = Seq(col("o_orderkey")),
      out = "rnk")
    val builtin = df.withColumn("rnk",
      rank().over(Window.orderBy(col("o_totalprice"))).cast("bigint"))
    assert(scalable.exceptAll(builtin).isEmpty &&
      builtin.exceptAll(scalable).isEmpty)
    // the whole point: no Exchange SinglePartition anywhere in the plan
    val p = scalable.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(builtin.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition")) // the shape being replaced
  }

  test("pq codes pack consistently and ADC retrieval overlaps exact top-k") {
    import graft.operators.{ProductQuantization, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val enc = ProductQuantization.pqEncode(emb)
    // every lane in range, and pq_code unpacks back to the lane codes
    val bad = enc.filter(
      (0 until 8).map(mi => col(s"code_$mi") < 0 || col(s"code_$mi") > 7)
        .reduce(_ || _) ||
      (0 until 8).map(mi =>
        (shiftright(col("pq_code"), 8 * mi) % 256) =!=
          col(s"code_$mi").cast("bigint")).reduce(_ || _))
    assert(bad.count() == 0)
    // ADC should agree with exact retrieval above chance (chance ≈
    // 10·10/499 ≈ 0.2 hits/query → 1 of 50). The synthetic embeddings are
    // STRUCTURELESS random vectors (distance concentration), so untrained
    // deterministic codebooks keep only weak rank signal — 3/50 here,
    // deterministic. Bit-exactness of codes and ADC sums is the real
    // guarantee and is proven by the sim7/sim8 DuckDB differential.
    val q = emb.filter(col("vec_id") < 5)
    val adc = ProductQuantization.pqTopK(emb, q)
      .select("query_id", "corpus_id")
    val exact = Similarity.bruteForceTopK(emb, q, 10)
      .select("query_id", "corpus_id")
    val hits = adc.intersect(exact).count()
    assert(hits >= 3, s"ADC∩exact overlap only $hits of 50")
  }

  test("ivf-pq hits stay in probed cells and ADC dists agree with cell-blind PQ") {
    import graft.operators.{ProductQuantization, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val res = ProductQuantization.ivfPqTopK(emb, q).cache()
    assert(res.count() > 0)
    // (1) every hit lies in one of its query's probed cells
    val cells = Similarity.ivfAssign(emb, ncells = 8)
      .select(col("vec_id").as("corpus_id"), col("cell"))
    val probed = q.select(col("vec_id").as("query_id"),
      explode(Similarity.probeCells(col("embedding"), 8, 3, 7, 64)).as("cell"))
    assert(res.join(cells, "corpus_id")
      .join(probed, Seq("query_id", "cell"), "left_anti").count() == 0)
    // (2) ADC distance of each hit matches the cell-blind full PQ ranking
    val full = ProductQuantization.pqTopK(emb, q, topK = 1000000)
      .select(col("query_id"), col("corpus_id"),
        col("adc_dist").as("full_dist"))
    val joined = res.join(full, Seq("query_id", "corpus_id"))
    assert(joined.count() == res.count())
    assert(joined.filter(col("adc_dist") =!= col("full_dist")).count() == 0)
  }

  test("grouped rank matches built-in windows incl. null groups and boundary ties") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // 4 groups (one null), only 7 order values per group — value runs are
    // long, so ties straddle range-partition boundaries constantly (the
    // case the heal pass exists for)
    val df = (1L to 4000L).map { i =>
      (i, if (i % 11 == 0) null else s"g${i % 3}", (i % 7).toDouble)
    }.toDF("id", "grp", "v")
    val scalable = GlobalRank.withGroupedRank(df, group = Seq("grp"),
      order = Seq(col("v")), tieBreak = Seq(col("id")),
      out = "rnk", pctOut = Some("pr"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
    val builtin = df
      .withColumn("rnk", rank().over(w).cast("bigint"))
      .withColumn("pr", percent_rank().over(w))
    assert(scalable.exceptAll(builtin).isEmpty &&
      builtin.exceptAll(scalable).isEmpty)
    assert(!scalable.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"))
  }

  test("grouped row number and prefix sum match built-in windows") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // null group + long value runs so both offset corrections (group
    // start inside a partition, group prefix across partitions) are
    // exercised at every boundary
    val df = (1L to 4000L).map { i =>
      (i, if (i % 11 == 0) null else s"g${i % 3}", (i % 7).toDouble,
        (i % 5) + 1L)
    }.toDF("id", "grp", "v", "w")
    // (v, id) is total within each group → both operators are
    // bit-identical to the built-ins, not just equivalent
    val rn = GlobalRank.withGroupedRowNumber(df, group = Seq("grp"),
      order = Seq(col("v"), col("id")), out = "rn", nOut = Some("n"))
    val wOrd = Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))
    val rnB = df
      .withColumn("rn", row_number().over(wOrd).cast("bigint"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("grp"))))
    assert(rn.exceptAll(rnB).isEmpty && rnB.exceptAll(rn).isEmpty)
    val ps = GlobalRank.withGroupedPrefixSum(df, group = Seq("grp"),
      order = Seq(col("v"), col("id")), col("w"),
      out = "cum", totOut = Some("tot"))
    val psB = df
      .withColumn("cum", sum(col("w")).over(wOrd
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot",
        sum(col("w")).over(Window.partitionBy(col("grp"))))
    assert(ps.exceptAll(psB).isEmpty && psB.exceptAll(ps).isEmpty)
    // and neither plan contains a single-partition exchange
    assert(!rn.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"))
    assert(!ps.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"))
  }

  test("global prefix sum matches the built-in running sum; layout " +
      "checkpoints release at the query boundary; contracts enforce") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = (1L to 4000L).map(i => (i, (i % 13).toDouble, (i % 5) + 1L))
      .toDF("id", "v", "w")
    val scope = GlobalRank.openScope()
    // (v, id) is a total order → bit-identical to the built-in window
    val ps = GlobalRank.withGlobalPrefixSum(df, Seq(col("v"), col("id")),
      col("w"), out = "cum", totOut = Some("tot"))
    val builtin = df
      .withColumn("cum", sum(col("w")).over(
        Window.orderBy(col("v"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    assert(ps.exceptAll(builtin).isEmpty && builtin.exceptAll(ps).isEmpty)
    assert(!ps.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"))
    // the pinned range layout is persisted while the frame is in use…
    assert(spark.sparkContext.getPersistentRDDs.size > before)
    // …and releases deterministically when its scope closes (results
    // above are fully materialized; the frame is not touched again)
    assert(scope.close() >= 1)
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
    // executable contracts: a wide frame is rejected (each call
    // checkpoints its full input)…
    val wide = df.select(col("id") +: (1 to 12).map(i =>
      lit(i).as(s"c$i")): _*)
    intercept[IllegalArgumentException] {
      GlobalRank.withGlobalRowNumber(wide, Seq(col("id")))
    }
    // …and an out name colliding with an input column is rejected
    // (withColumn would silently replace the data being ranked)
    intercept[IllegalArgumentException] {
      GlobalRank.withGroupedRowNumber(df, group = Seq("v"),
        order = Seq(col("id")), out = "w")
    }
  }

  test("release-then-reuse fails with the operator's own message, not " +
      "an opaque missing-block error (the lifecycle contract is " +
      "executable)") {
    import graft.operators.GlobalRank
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, (i % 7).toDouble)).toDF("id", "v")
    val scope = GlobalRank.openScope()
    val ranked = GlobalRank.withGlobalRowNumber(df,
      Seq(col("v"), col("id")), out = "rn")
    assert(ranked.count() == 500L) // materialized once: legitimate use
    assert(scope.close() >= 1)
    // re-executing the frame after its layout was freed must surface
    // ReleasedLayoutMsg somewhere in the failure chain — the guard RDD
    // fails fast instead of Spark's unrecoverable missing-block error
    val e = intercept[Throwable] { ranked.count() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      String.valueOf(t.getMessage)
        .contains("re-executed after its scope closed")), s"got: $e")
  }

  test("layout scopes are per-owner: closing owner A's scope leaves " +
      "owner B's frames computable (round-10 directive 4)") {
    import graft.operators.GlobalRank
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, (i % 5).toDouble)).toDF("id", "v")
    // owner B opens first; owner A nests inside (LIFO close order) —
    // the old process-global free list would have freed BOTH owners'
    // layouts on A's release
    val scopeB = GlobalRank.openScope()
    val rankedB = GlobalRank.withGlobalRowNumber(df,
      Seq(col("v"), col("id")), out = "rnB")
    val scopeA = GlobalRank.openScope()
    val rankedA = GlobalRank.withGlobalRowNumber(df,
      Seq(col("id")), out = "rnA")
    assert(rankedA.count() == 300L)
    assert(scopeA.close() >= 1)
    // A's release must NOT invalidate B's live layout
    assert(rankedB.count() == 300L)
    assert(scopeB.close() >= 1)
    // after B's own close, B's frame fails fast with the operator's
    // message — same lifecycle contract, now per owner
    val e = intercept[Throwable] { rankedB.count() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      String.valueOf(t.getMessage)
        .contains("re-executed after its scope closed")), s"got: $e")
  }

  test("a layout scope closed from another thread frees its handles " +
      "and stops owning later checkpoints (no silent accumulation)") {
    import graft.operators.GlobalRank
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, (i % 5).toDouble)).toDF("id", "v")
    val outer = GlobalRank.openScope()
    val scope = GlobalRank.openScope()
    val ranked = GlobalRank.withGlobalRowNumber(df,
      Seq(col("id")), out = "rn")
    assert(ranked.count() == 300L)
    // cleanup-executor shape: close() runs on a different thread — the
    // handles must free even though that thread's scope stack is empty
    var freed = -1
    val t = new Thread(() => { freed = scope.close() })
    t.start(); t.join()
    assert(freed >= 1, s"cross-thread close freed $freed")
    // the opener's stack still holds the closed scope until lazily
    // popped — a NEW checkpoint on this thread must NOT register into
    // the closed scope's drained queue (it would strand forever); it
    // belongs to the next open scope down the stack
    val ranked2 = GlobalRank.withGlobalRowNumber(df,
      Seq(col("v"), col("id")), out = "rn2")
    assert(ranked2.count() == 300L)
    assert(outer.close() >= 1,
      "post-cross-thread-close checkpoint stranded in a closed scope")
  }

  test("a pin on a thread with no open scope throws before it " +
      "checkpoints, naming GlobalRank.withScope") {
    import graft.operators.GlobalRank
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, (i % 5).toDouble)).toDF("id", "v")
    // this test's own thread runs inside the spec's scope; a fresh
    // thread has none
    var err: Throwable = null
    val (_, jobs) = jobsDuring {
      val t = new Thread(() =>
        try GlobalRank.pinned(df) catch { case e: Throwable => err = e })
      t.start(); t.join()
    }
    assert(err.isInstanceOf[IllegalStateException] &&
      err.getMessage.contains("GlobalRank.withScope"), s"got: $err")
    assert(jobs == 0, s"$jobs checkpoint jobs ran for a refused pin")
  }

  test("pinnedIfSmall pins a frame under its 1 GiB gate and returns " +
      "one estimated above it unpinned, with no job") {
    import graft.operators.GlobalRank
    import org.apache.spark.sql.execution.LogicalRDD
    val (small, smallJobs) =
      jobsDuring(GlobalRank.pinnedIfSmall(spark.range(100).toDF()))
    assert(smallJobs == 1, s"$smallJobs jobs for one pin")
    assert(small.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      small.queryExecution.analyzed.nodeName)
    // 2^28 longs: Catalyst estimates 8 B a row, 2 GiB in all
    val big = spark.range(1L << 28).toDF()
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes == (1L << 31))
    val (skipped, bigJobs) = jobsDuring(GlobalRank.pinnedIfSmall(big))
    assert(bigJobs == 0 && (skipped eq big), s"$bigJobs jobs")
  }

  test("er4 cluster-audit cap bounds pair work and still flags chains") {
    import graft.operators.EntityAudit
    import spark.implicits._
    // one 30-member CHAINED cluster (the er4 pathology): member i's name
    // is i copies of 'x' padded with 'a' — Levenshtein(i, j) = |i - j|,
    // so neighbors are near-duplicates while the chain ends are 29 apart
    val chain = (1 to 30).map(i => (1L, i.toLong, "x" * i + "a" * (30 - i)))
    // plus a below-cap cluster whose audit must stay EXACT
    val small = Seq((2L, 101L, "abcdef"), (2L, 102L, "abcxyz"))
    val members = (chain ++ small).toDF("component", "id", "nm")
    val out = EntityAudit.clusterAudit(members, col("component"),
        col("id"), col("nm"), cap = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // size is exact over ALL members; the diameter comes from the first
    // 20 by id only: max |i - j| over i,j ≤ 20 is 19. An uncapped audit
    // would report 29 — this pin fails if the cap silently regresses,
    // and the 19 ≫ maxDistance=2 bound shows a capped sample still
    // flags the chain. Pair work: C(20,2) = 190 comparisons, not
    // C(30,2) = 435 (and not size² at sf0.1, the measured 336 s run).
    assert(out(1L) == ((30L, 19L)))
    // below the cap nothing is sampled away: exact distance 3
    assert(out(2L) == ((2L, 3L)))
  }

  test("pii redaction replaces emails, ips, and phones in order") {
    import spark.implicits._
    val doc = "mail bob@example.com or call +1 555-123-4567; " +
      "server at 192.168.10.20 logged 12345678901 and kept text intact"
    val out = Seq(doc).toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("t")).head().getString(0)
    assert(out == "mail [EMAIL] or call [PHONE]; " +
      "server at [IP] logged [PHONE] and kept text intact")
    // e-mail digits are not half-eaten by the phone pass
    assert(!out.contains("example") && !out.contains("555"))
  }

  test("the widened phone prefix DISCRIMINATES on the fixture: pii1 " +
    "under WidePhonePrefix counts the id%13 444-prefixed phones the " +
    "555 default provably misses (round-12 directive 1 — a parameter " +
    "proof must discriminate, not just embed)") {
    import graft.queries.PrivacyQueries
    def census(prefix: String): Map[String, (Long, Long)] =
      PrivacyQueries.queriesWith(prefix)("pii1_detect_counts")(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n_phone"), r.getAs[Long]("n_email")))).toMap
    val wide = census(PrivacyQueries.WidePhonePrefix)
    val dflt = census(PrivacyQueries.DefaultPhonePrefix)
    val widePhones = wide.values.map(_._1).sum
    val dfltPhones = dflt.values.map(_._1).sum
    // if these were equal, a plumbing bug that silently drops the
    // prefix parameter on either engine side would pass the oracle
    assert(widePhones > dfltPhones,
      s"vacuous parameter proof: wide=$widePhones default=$dfltPhones")
    // the prefix only widens the PHONE detector — emails agree
    assert(wide.view.mapValues(_._2).toMap ==
      dflt.view.mapValues(_._2).toMap)
  }

  test("repeated spans finds shared boilerplate across dissimilar docs") {
    import spark.implicits._
    val boiler = "this content is licensed under creative commons attribution four"
    val docs = Seq(
      (1L, s"totally unique article about spark plans. $boiler"),
      (2L, s"$boiler completely different subject matter here entirely"),
      (3L, "no shared span with anything else in this tiny corpus at all"))
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, spanTokens = 8).collect()
    assert(spans.nonEmpty) // the license span is caught
    assert(spans.forall(r => r.getAs[Long]("n_docs") == 2 &&
      r.getAs[Long]("min_doc") == 1L && r.getAs[Long]("max_doc") == 2L))
  }

  test("connected components cluster chains, cliques, and isolated pairs") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), pair 10-11,
    // triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("bucketized interval join matches the nested-loop range join") {
    import spark.implicits._
    import graft.operators.IntervalJoin
    val points = Seq((1L, 5L), (2L, 10L), (3L, 19L), (4L, 20L), (5L, 35L))
      .toDF("pid", "x")
    val intervals = Seq((100L, 0L, 10L), (200L, 10L, 20L), (300L, 22L, 30L))
      .toDF("iid", "lo", "hi")
    // bucket width deliberately NOT dividing the bounds: intervals span
    // buckets, points sit on inclusive endpoints
    val got = IntervalJoin.pointInInterval(points, col("x"), intervals,
        col("lo"), col("hi"), bucketWidth = 7)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val want = points.join(intervals,
        col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == want)
    assert(want == Set((1L, 100L), (2L, 100L), (2L, 200L), (3L, 200L),
      (4L, 200L))) // inclusive both ends; 35 matches nothing
  }

  test("z-ordered layout confines either-dimension filters to few files") {
    import graft.operators.ZOrder
    val dir = java.nio.file.Files.createTempDirectory("zskip").toString
    // both dims must exercise their full 10-bit domain for the interleave
    // to matter (a narrow column has nothing to cluster)
    val src = Tables.orders(spark, sf).select(
      ((col("o_orderkey") * 17) % 1024).as("x"),
      ((col("o_orderkey") * 31) % 1024).as("y"))
    ZOrder.writeZOrdered(src, s"$dir/z", Seq(col("x"), col("y")), 10,
      nFiles = 16)
    src.repartition(16).write.parquet(s"$dir/r")
    def filesHit(path: String, cond: org.apache.spark.sql.Column) =
      spark.read.parquet(path).filter(cond)
        .select(input_file_name()).distinct().count()
    // z clusters BOTH dims: a 1/16-selective filter on EITHER dim lands
    // in a few of 16 files (measured 4; margin for range-sampling
    // boundary wobble) — the locality row-group stats prune on
    assert(filesHit(s"$dir/z", col("x") < 64) <= 6)
    assert(filesHit(s"$dir/z", col("y") < 64) <= 6)
    // round-robin layout: the same filters touch every file
    assert(filesHit(s"$dir/r", col("x") < 64) == 16)
    assert(filesHit(s"$dir/r", col("y") < 64) == 16)
  }

  test("multimodal feature extraction is deterministic per payload") {
    val media = Multimodal.syntheticMedia(spark,
      Tables.documents(spark, sf).limit(20))
    val f1 = Multimodal.extractFeatures(media).collect()
      .map(m => m.media_id -> m.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(media).collect()
      .map(m => m.media_id -> m.feature.toSeq).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == 8))
    // float view is exactly the quantized lanes divided once at the end
    val rows = Multimodal.extractFeatures(media).collect()
    assert(rows.forall(m =>
      m.feature.toSeq == m.feature_q.map(_ / 255.0f).toSeq))
  }

  test("finite-values audit detects NaN, infinities, absurd magnitudes, nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dq6").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "dirty",
        Double.NaN, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L, "dirty",
        Double.PositiveInfinity, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 1L, "dirty",
        1e300, "{}"),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"), 1L, "clean",
        42.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("dq6_finite_values_audit")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_nan"), r.getAs[Long]("n_inf"),
          r.getAs[Long]("n_absurd"), r.getAs[Long]("clean")))).toMap
    assert(rows("dirty") == ((1L, 1L, 1L, 0L)), rows)
    assert(rows("clean") == ((0L, 0L, 0L, 1L)), rows)
  }

  test("image payloads are really decoded (javax.imageio), not byte-summed") {
    import Multimodal.MediaRecord
    // a 4x2 PNG with known pixel values, encoded in-memory
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, (x * 40 << 16) | (y * 100 << 8) | (x + y))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    // expected: lane sums over the DECODED row-major RGB stream
    val pixelBytes = for (y <- 0 until 2; x <- 0 until 4;
                          c <- Seq(x * 40, y * 100, x + y)) yield c.toLong
    val want = pixelBytes.zipWithIndex
      .groupBy(_._2 % 8).map { case (l, xs) => l -> xs.map(_._1).sum }
    val media = spark.createDataset(Seq(
      MediaRecord(1L, "image", png, 4, 2, 0L, "png"),
      // same bytes, but declared audio: magic gate still decodes by
      // CONTENT, so the declared type does not change the feature
      MediaRecord(2L, "audio", png, 0, 0, 0L, "opus"),
      // non-image payload falls back to raw-byte lane sums
      MediaRecord(3L, "audio", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9),
        0, 0, 0L, "opus")))(
      org.apache.spark.sql.Encoders.product[MediaRecord])
    val got = Multimodal.extractFeatures(media).collect()
      .map(m => m.media_id -> m.feature_q.toSeq).toMap
    assert(got(1L) == (0 until 8).map(want(_)))
    assert(got(2L) == got(1L))
    // PNG container bytes differ from pixel bytes — a byte-summed "decode"
    // could not produce the pixel lane sums
    assert(got(1L) != png.zipWithIndex.groupBy(_._2 % 8).toSeq
      .sortBy(_._1).map(_._2.map(b => (b._1 & 0xFF).toLong).sum))
    assert(got(3L) == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).updated(0, 10L))
  }
}
