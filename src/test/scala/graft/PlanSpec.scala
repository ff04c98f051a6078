package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.BronzeReader

/** Plan-shape assertions: the scale-critical properties (filter pushdown,
  * partition pruning, broadcast joins, top-k without global sort) must be
  * visible in the optimized plans, not assumed. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter reaches the parquet scan as a pushed filter") {
    val df = SparkEntry.queries("a3_pruned_scan")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("l_shipdate"), scan.take(2000))
  }

  test("dimension joins broadcast the small side") {
    val df = SparkEntry.queries("c2_threeway_join")(spark, sf)
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("count-min cells combine map-side: partial aggregate below the " +
      "exchange") {
    val df = SparkEntry.queries("tx38_countmin")(spark, sf)
    val p = plan(df)
    // the 4-way exploded token stream must collapse to (j, b) cells
    // BEFORE any shuffle — a partial HashAggregate under the Exchange
    // is the sketch-grain contract
    assert(p.contains("partial_count") || p.contains("Partial"),
      p.take(2000))
  }

  test("TwoNN and semantic-decontamination probe joins broadcast the " +
      "probe side, never shuffle the corpus") {
    for (name <- Seq("sim20_twonn_id", "cx4_semantic_decontamination")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"), s"$name:\n" + p.take(2000))
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(2000))
    }
  }

  test("global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val df = SparkEntry.queries("f5_global_topk")(spark, sf)
    assert(plan(df).contains("TakeOrderedAndProject"))
  }

  test("custom TopKPerKey: partial below the exchange, final above, matches window") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.core.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val topk = graft.plans.TopKPerKey.topKPerKey(orders,
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)

    // plan shape: partial phase BEFORE the shuffle (so the exchange moves
    // ≤k rows per key per partition), final phase after
    val p = plan(topk)
    val iPartial = p.indexOf("TopKPerKeyPartial")
    val iFinal = p.indexOf("TopKPerKeyFinal")
    val iExchange = p.indexOf("Exchange")
    assert(iPartial >= 0 && iFinal >= 0 && iExchange >= 0, p.take(2000))
    // tree prints root-first: final above exchange above partial
    assert(iFinal < iExchange && iExchange < iPartial, p.take(2000))

    // correctness: identical row set to the window row_number form
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    assert(topk.except(viaWindow).isEmpty && viaWindow.except(topk).isEmpty)
    assert(topk.count() == viaWindow.count())
  }

  test("TopKPerKey partial phase flushes at the key cap and stays correct") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.expressions.Window
    import graft.plans.TopKPerKey
    // 125,000 distinct keys through ONE partition, past the partial
    // phase's 100,000-key cap: the partial phase must flush-and-reset
    // instead of holding one heap per key, and the final phase
    // re-selects the true top-k from the flushed union.
    val keyed = spark.range(0, 250000, 1, 1)
      .select(expr("id div 2").as("key"), expr("id * 7919 % 1000").as("v"),
        col("id"))
    assert(keyed.rdd.getNumPartitions == 1)
    assert(TopKPerKey.PartialFlushKeys < 125000)
    val topk = TopKPerKey.topKPerKey(keyed, keys = Seq(col("key")),
      order = Seq(col("v").asc, col("id").asc), k = 1)
    val w = Window.partitionBy(col("key")).orderBy(col("v").asc, col("id").asc)
    val viaWindow = keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 1).drop("rn")
    // run THIS plan instance, so its metrics are the ones read below
    assert(topk.collect().length == 125000)
    val flushes = new AdaptiveSparkPlanHelper {}.collect(
        topk.queryExecution.executedPlan) {
      case p: TopKPerKey.TopKPerKeyExec if p.partial =>
        p.metrics("numFlushes").value
    }
    assert(flushes.nonEmpty && flushes.sum >= 1, flushes)
    assert(topk.except(viaWindow).isEmpty && viaWindow.except(topk).isEmpty)
  }

  test("RowNumberToTopK rule rewrites the window top-k idiom to the custom plan") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.core.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    // the portable window idiom…
    val idiom = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
    // …optimizes into the custom operator (no Window node survives)
    val p = plan(idiom)
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"),
      p.take(2000))
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      p.take(2000))
    assert(idiom.groupBy("o_custkey").count()
      .filter(col("count") > 2).isEmpty)
    // a query that KEEPS the rank column must NOT be rewritten
    val keepsRn = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    assert(!plan(keepsRn).contains("TopKPerKey"))
    // rank() keeps ties — must NOT be rewritten either
    val rankForm = orders.withColumn("rk", rank().over(w))
      .filter(col("rk") <= 2).drop("rk")
    assert(!plan(rankForm).contains("TopKPerKey"))
  }

  test("flagship entry plan broadcasts dims and windows without extra exchanges") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // exactly two shuffles: one per window partitioning (customer, then
    // date); dim joins ride broadcast exchanges, which don't shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      p.take(2000))
  }

  test("custom dot_f expression is SQL-addressable after registration") {
    graft.queries.SqlQueries.registerViews(spark, sf)
    val row = spark.sql(
      """SELECT vec_id, dot_f(embedding, embedding) AS selfdot
        |FROM embeddings ORDER BY vec_id LIMIT 1""".stripMargin).head()
    assert(row.getAs[Double]("selfdot") > 0.0)
  }

  test("partition-value filters prune bronze partitions at the source") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bronze").toString + "/t"
    val data = Seq(
      (1L, 2024, "bahrain", 1.0), (2L, 2024, "miami", 2.0),
      (3L, 2025, "bahrain", 3.0), (4L, 2025, "miami", 4.0))
      .toDF("id", "year", "grand_prix", "v")
    data.write.partitionBy("year", "grand_prix").parquet(root)

    val pruned = BronzeReader.read(spark, root, year = Some(2025),
      grandPrix = Some("miami"))
    assert(pruned.collect().map(_.getAs[Long]("id")).toSeq == Seq(4L))
    val p = plan(pruned)
    assert(p.contains("PartitionFilters") && p.contains("year"),
      p.take(2000))
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_lines")
    graft.io.ParquetSink.writeBucketed(
      (1 to 500).map(i => (i.toLong, i * 10.0)).toDF("k", "amount"),
      "graft_bkt_orders", "k", 4)
    graft.io.ParquetSink.writeBucketed(
      (1 to 2000).map(i => ((i % 500 + 1).toLong, i)).toDF("k", "qty"),
      "graft_bkt_lines", "k", 4)
    // Disable auto-broadcast: the 500-row side would otherwise broadcast
    // and pass the no-exchange assertion vacuously — the point is that
    // the SHUFFLE join reads co-located buckets.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bkt_lines")
        .join(spark.table("graft_bkt_orders"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
      assert(joined.count() == 2000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.sql("DROP TABLE graft_bkt_orders")
      spark.sql("DROP TABLE graft_bkt_lines")
    }
  }

  test("metadata-only multimodal stages prune the payload column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mm").toString
    graft.operators.Multimodal.syntheticMedia(spark,
        graft.core.Tables.documents(spark, sf)).toDF()
      .write.parquet(s"$dir/media")
    val resized = graft.operators.Multimodal.resizeMeta(
      spark.read.parquet(s"$dir/media"), maxDim = 512)
    val p = resized.queryExecution.executedPlan.toString
    val readSchema = p.split("ReadSchema:").last
    assert(!readSchema.contains("content"), readSchema.take(500))
    assert(resized.count() > 0)
  }

  test("bloom prune filters BELOW the aggregation exchange") {
    import graft.operators.BloomJoin
    val li = graft.core.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice")
    val hot = graft.core.Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
    val agg = BloomJoin.prune(li, col("l_orderkey"), hot, col("o_orderkey"),
        expectedItems = 10000L)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
    val p = plan(agg)
    val iFilter = p.indexOf("might_contain")
    val iExchange = p.indexOf("Exchange")
    assert(iFilter >= 0 && iExchange >= 0, p.take(2000))
    // root-first print: the exchange sits ABOVE the bloom filter, so the
    // shuffle only carries rows that passed the sketch
    assert(iExchange < iFilter, p.take(2000))
  }

  test("contamination plan broadcasts the benchmark hash set") {
    val df = SparkEntry.queries("cx1_contamination")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the corpus is never exchanged for the probe itself: the only hash
    // exchanges are the report aggregation and the benchmark side's
    // distinct INSIDE the broadcast build (tiny by design)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("sequence packing is a single window exchange") {
    val df = SparkEntry.queries("pk1_sequence_pack")(spark, sf)
    val p = plan(df)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("salted skew join: both paths broadcast the dim, no sort-merge") {
    val p = plan(SparkEntry.queries("j5_salted_skew_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("vocabulary indexing avoids the single-partition window") {
    val p = plan(SparkEntry.queries("fe1_dict_encode")(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
  }

  test("OOV rate broadcasts the truncated vocabulary") {
    val p = plan(SparkEntry.queries("fe2_oov_rate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("hashed linear scoring is narrow: no hash shuffle") {
    val p = plan(SparkEntry.queries("ml1_linear_score")(spark, sf))
    // Tables.spread's round-robin exchange is the only exchange — the
    // scoring fold itself never shuffles
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("snapshot diff shuffles only the (key, fingerprint) projection") {
    val df = SparkEntry.queries("cdc1_snapshot_diff")(spark, sf)
    val p = plan(df)
    // exactly the two join-input exchanges, nothing upstream or downstream
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(2000))
    // the md5 fingerprint is computed below the exchange (map-side), so
    // the shuffle payload is (key, fp) — md5 appears under the scan side,
    // not above the join
    val iJoin = p.indexOf("SortMergeJoin")
    assert(iJoin >= 0 && p.indexOf("md5") > iJoin, p.take(2000))
  }

  test("PIT lookup is one key shuffle, no range-join explosion") {
    val p = plan(SparkEntry.queries("j6_pit_lookup")(spark, sf))
    // the union + running-fill plan shuffles ONCE on the key; a
    // NestedLoop/cartesian interval join must never appear
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(2000))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(2000))
  }

  test("NDCG eval cuts candidates with TopKPerKey, not a full sort") {
    val p = plan(SparkEntry.queries("ml5_ndcg")(spark, sf))
    assert(p.contains("TopKPerKey"), p.take(2000))
  }

  test("market basket emits pairs row-locally from capped baskets: no " +
    "join at all, and the basket rollup reuses the TopKPerKey clustering") {
    val p = plan(SparkEntry.queries("j7_market_basket")(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(2000))
    // round-14: the capped-basket SELF-join (2 exchanges + an eager pin)
    // became a per-order array rollup + row-local pair explode — no join
    // node of any kind remains
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Generate explode"), p.take(2000))
    // the collect_list rollup is keyed by ok exactly like the TopKPerKey
    // cap feeding it, and TopKPerKeyExec propagates its child's
    // partitioning — so the rollup must NOT re-exchange on ok: the plan
    // carries exactly 3 exchanges (distinct, top-k clustering, pair
    // rollup)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 3, p.take(3000))
  }

  test("rolling distinct fans to window anchors, no nested-loop range join") {
    val p = plan(SparkEntry.queries("ev13_rolling_distinct")(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(2000))
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("winnowing pairs: bucket equi-join, no cartesian; no gram window") {
    val p = plan(SparkEntry.queries("dd12_winnowing")(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(2000))
    // round-13: the w-window minimum moved INTO the row (zip-slice chain
    // over the gram-hash array column — see winnowFingerprints), so the
    // plan must carry NO window at all: neither the per-doc ROWS frame
    // this pinned before, nor the global (empty-partition) funnel it was
    // guarding against.
    assert(!p.contains("windowspecdefinition"), p.take(2000))
  }

  test("nearest as-of composes two sorted-window passes, no range join") {
    val p = plan(SparkEntry.queries("j8_asof_nearest")(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(2000))
  }

  test("corpus mix and z-order value plans are narrow (no exchange)") {
    val mix = plan(SparkEntry.queries("mix1_corpus_mix")(spark, sf))
    assert(!mix.contains("Exchange"), mix.take(2000))
    val zv = plan(SparkEntry.queries("z1_zorder_value")(spark, sf))
    assert(!zv.contains("Exchange"), zv.take(2000))
    // the interleave stays inside whole-stage codegen
    assert(zv.contains("WholeStageCodegen") || zv.contains("*(1)"),
      zv.take(2000))
  }

  test("Fellegi-Sunter scoring broadcasts both attribute lookups") {
    val p = plan(SparkEntry.queries("er2_fellegi_sunter")(spark, sf))
    // the pair scorer must never sort-merge the dimension lookups
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("sequential pair mining joins on the (user, day) key, no cartesian") {
    val p = plan(SparkEntry.queries("seq1_behavior_pairs")(spark, sf))
    // the self-join must stay an equi-join keyed (user_id, day) — the
    // |types|² fan-out happens inside a key, never as a cross product
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("NestedLoop"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("hashing-trick featurizer has one aggregation exchange, no vocab join") {
    val p = plan(SparkEntry.queries("fe12_hashed_features")(spark, sf))
    // stateless bucketing: no join anywhere in the plan, a single hash
    // exchange for the (doc, bucket) combine beyond the spread
    assert(!p.contains("Join"), p.take(2000))
  }

  test("decile lift sorts the corpus per-partition, not globally") {
    val p = plan(SparkEntry.queries("ml12_decile_lift")(spark, sf))
    // GlobalRank's range layout means the corpus-level sort on the score
    // key is partition-LOCAL (global=false in the Sort node); the only
    // SinglePartition exchange feeds the 10-row decile window — metadata
    val corpusSort = p.linesIterator.find(l =>
      l.contains("Sort [neg") || l.contains("Sort [score"))
    assert(corpusSort.exists(_.contains("false, 0")),
      corpusSort.getOrElse(p.take(2000)))
  }

  // ---- round-7 pins for the round-6 tiers --------------------------------

  test("A/B tier crossjoins resolve to broadcast nested loops over scalar frames") {
    // every crossJoin in ab1/ab3 carries a broadcast 1-row stats frame —
    // a CartesianProduct (or a non-broadcast NLJ) would mean the scalar
    // frame lost its broadcast and the per-user table is being looped
    for (q <- Seq("ab1_cuped", "ab3_diff_in_means")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
    }
  }

  test("Kaplan-Meier windows run over the tenure-bucket rollup, not raw events") {
    val p = plan(SparkEntry.queries("ev42_kaplan_meier")(spark, sf))
    // root-first print: every (unpartitioned, bucket-grain) Window node
    // must sit ABOVE the event-grain HashAggregate that rolls events up
    // to tenure buckets — a Window printing below the deepest aggregate
    // would mean it consumes raw event rows through one task
    val iWindow = p.lastIndexOf("Window")
    val iAgg = p.lastIndexOf("HashAggregate")
    assert(iWindow >= 0 && iAgg >= 0, p.take(2000))
    assert(iWindow < iAgg, p.take(2000))
  }

  test("CDC chunking stays narrow until the chunk-digest rollup — no joins") {
    val p = plan(SparkEntry.queries("dd15_cdc_chunking")(spark, sf))
    // cut detection + slicing are per-row array HOFs; the only wide ops
    // are the digest aggregate's exchanges — any Join in the plan means
    // the chunker grew a pairwise shape
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000)) // the explode is columnar
  }

  test("shrunk-mean encoder broadcasts its totals frame") {
    val p = plan(SparkEntry.queries("fe17_shrunk_encode")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("b-bit minhash audit joins only LSH candidates — never all pairs") {
    val p = plan(SparkEntry.queries("dd14_bbit_minhash")(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("blocking audit: truth loop broadcasts the bounded sample, candidates stay equi") {
    val p = plan(SparkEntry.queries("er3_blocking_eval")(spark, sf))
    // the deliberate quadratic ground truth must ride a BROADCAST nested
    // loop over the 1/37 sample; the production blocking path stays an
    // n-gram equi-join — an unbroadcast CartesianProduct anywhere means
    // either side lost its bound
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("matryoshka recall broadcasts the query set on both rankings") {
    val p = plan(SparkEntry.queries("sim16_matryoshka_recall")(spark, sf))
    // both the full-dim and prefix-dim scorers cross the corpus with a
    // BROADCAST 5-row query frame — never a shuffled cartesian
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("online anomaly window is co-partitioned by series") {
    val p = plan(SparkEntry.queries("ts15_online_anomaly")(spark, sf))
    // the prior-stats window must ride the event_type hash exchange, not
    // a single partition
    assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("trained-weight scoring is a zero-shuffle scan like ml1") {
    val p = plan(SparkEntry.queries("ml14_trained_score")(spark, sf))
    // the weight array is a plan literal: no join, no vocabulary shuffle;
    // the only exchange is the Tables.spread repartition
    assert(!p.contains("Join"), p.take(2000))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      p.take(2000))
  }

  test("string-similarity expressions stay narrow inside codegen") {
    // h19/h20 are per-row scalar probes: one scan, zero exchanges, and
    // the custom BinaryExpressions must inline into whole-stage codegen
    // (a CodegenFallback here would put an interpreted call on the
    // per-pair hot path of the ER tier)
    for (q <- Seq("h19_jaro_winkler", "h20_damerau")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$q: ${p.take(2000)}")
      // "*(n)" is the executed plan's whole-stage-codegen marker
      assert(p.contains("WholeStageCodegen") || p.contains("*(1)"),
        s"$q: ${p.take(2000)}")
      assert(df.count() > 0)
    }
  }

  test("PII detectors run inside one codegen scan — regex work never " +
      "shuffles") {
    // the three regexp_count columns are per-row compute; the only
    // exchange in pii1 is the final source-grain rollup (plus its
    // partial-agg map side)
    val p = plan(SparkEntry.queries("pii1_detect_counts")(spark, sf))
    assert(!p.contains("Join"), p.take(2000))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1,
      p.take(2000))
    assert(p.contains("partial"), p.take(2000))
  }

  test("source-KL never HINTS a broadcast of the vocab-grain totals") {
    // lm11's per-token totals scale with the VOCABULARY: an explicit
    // broadcast() there would FORCE shipping the whole vocab to every
    // executor at any scale. At fixture scale Catalyst's size-based
    // planning may still broadcast it (it's tiny — that's the planner
    // doing its job, and the same stats pick the shuffle join at
    // corpus scale), so the executable contract is hint placement:
    // exactly the two metadata-grain frames (source totals, the grand
    // total) are hinted, the tok-key side is left to the planner.
    val df = SparkEntry.queries("lm11_source_unigram_kl")(spark, sf)
    val hints = "ResolvedHint".r
      .findAllIn(df.queryExecution.analyzed.toString).size
    assert(hints == 2, df.queryExecution.analyzed.toString.take(3000))
  }

  test("permutation test partially aggregates the replica explode") {
    val p = plan(
      SparkEntry.queries("ab16_permutation_test")(spark, sf))
    // the 200× replica expansion must combine map-side: a partial
    // HashAggregate below the (r, parm) exchange keeps the shuffle at
    // replica grain, not user×replica grain
    assert(p.contains("partial_count") || p.contains("partial"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }
}
