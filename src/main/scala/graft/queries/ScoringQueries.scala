package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.operators.{ChangeCapture, Retrieval, Sampling, Scoring, TextAnalysis}
import Det.{d38, normSql, quantized}

/** Model-scoring, evaluation, normalization, and change-capture operators
  * exposed to the oracle harness — the "score, evaluate, diff" tier of a
  * curation pipeline, layered on the same determinism contracts as the
  * rest of the catalog (exact integer reductions; every float derived
  * from exact integers through an identically-associated expression tree
  * in both engines).
  */
object ScoringQueries {

  /** DuckDB fragment matching [[graft.operators.Scoring.hashedLinearScore]]'s
    * per-token weight: md5-60-bit bucket mod 64 through the integer weight
    * formula. */
  private val weightSql =
    "((CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64) * 37) % 21 - 10"

  /** Oracle CTE `sc`: every document's hashed linear score by doc_id;
    * the labelled form carries `label` (lang is 'en') instead. */
  private val scoreSql =
    s"""sc AS (
       |  SELECT doc_id,
       |    CAST(-3 + list_sum(list_transform(toks, t ->
       |      $weightSql)) AS BIGINT) AS score
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
       |        FROM documents))""".stripMargin
  private val labelledScoreSql =
    s"""sc AS (
       |  SELECT CAST(-3 + list_sum(list_transform(toks, t ->
       |      $weightSql)) AS BIGINT) AS score,
       |    label
       |  FROM (SELECT string_split($normSql, ' ') AS toks,
       |        lang = 'en' AS label FROM documents))""".stripMargin

  /** Oracle CTEs `e` (each vector's first 16 lanes, micro-quantized, as
    * the list `qv`) and `l` (one row per lane, its index cast to
    * `iType`). */
  private def laneSql(iType: String): String =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding[1:16],
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |l AS (
       |  SELECT vec_id, CAST(i AS $iType) AS i,
       |    qv[CAST(i + 1 AS INTEGER)] AS q
       |  FROM e, unnest(range(0, 16)) AS t(i))""".stripMargin

  /** Every document's hashed linear score joined to its `label`
    * (lang is 'en'). */
  private def labelledScores(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(s, dir))
    Scoring.hashedLinearScore(d)
      .join(d.select(col("doc_id"), (col("lang") === "en").as("label")),
        "doc_id")
  }

  /** The first 16 embedding lanes of every vector, micro-quantized, as
    * (vec_id, lane `i`, value `q`). */
  private def laneValues(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(
        quantized(slice(col("embedding"), 1, 16))).as(Seq("i", "q")))

  private val tfidfTerms: Seq[String] = Seq("dup", "key", "the", "batch")

  /** A stand-in "trained" 64-dim integer weight vector (what a quantized
    * learned model exports); deliberately NOT the formulaWeight sequence,
    * so ml13 only matches its oracle if the externally-supplied array
    * really drives the score. */
  private val trainedWeights: Array[Long] =
    Array.tabulate(64)(i => ((i * 13) % 17).toLong - 8L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Hashed-feature linear quality classifier: narrow codegen fold over
    // the token array, zero shuffles — the fastText-style score-everything
    // pass of corpus curation.
    "ml1_linear_score" -> { (s, dir) =>
      Scoring.hashedLinearScore(Tables.spread(Tables.documents(s, dir)))
    },

    // ml1 with EXTERNALLY-SUPPLIED trained weights (the deployment path):
    // the integer weight vector enters the plan as a literal array and the
    // per-token lookup is a codegen element_at against that broadcast
    // constant — same zero-shuffle scan; the oracle replays the identical
    // weights, proving the scoring path is model-agnostic, not formula-
    // baked.
    "ml14_trained_score" -> { (s, dir) =>
      Scoring.linearScoreWithWeights(Tables.spread(Tables.documents(s, dir)),
        trainedWeights, bias = 5L)
    },

    // ML18 (beyond reference): TRAIN → SCORE end-to-end — closes ml14's
    // loop: instead of a fixture weight array, the 64-bucket integer
    // weight vector is LEARNED from a deterministic md5 train split
    // (per-bucket label purity in micro units: w_b = 2e6·P(en|b) − 1e6,
    // exact integer division) and immediately drives scoring of the
    // HELD-OUT split through the ml14 deployment path. Training is one
    // map-side-combined token rollup to MODEL size (64 cells); the
    // learned weights collect at model grain (≤64 longs — the
    // KMeans-centroid bounded-collect pattern) and re-enter the plan as
    // a literal array via linearScoreWithWeights, so the scoring pass
    // itself stays the zero-shuffle hashed-linear scan. The oracle
    // replays the whole composition — split, training rollup, weight
    // formula, scoring — in one SQL statement.
    "ml18_train_then_score" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
      val gate = Sampling.bucket(col("doc_id"), "ml18") % 2
      val trainToks = d.filter(gate === 0)
        .select((col("lang") === "en").as("en"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("t"))
      val learned = trainToks
        .groupBy(Scoring.tokenBucket(col("t"), 64).as("b"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("en"), 1L).otherwise(0L)).as("ne"))
        .select(col("b"), expr("ne * 2000000 div n - 1000000").as("w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val weights = Array.tabulate(64)(i => learned.getOrElse(i.toLong, 0L))
      Scoring.linearScoreWithWeights(d.filter(gate =!= 0), weights,
        bias = 0L)
    },

    // ML20 (beyond reference): FAIRNESS audit of the quality gate — a
    // corpus filter that silently selects against a language group
    // biases every model trained downstream. Per language: selection
    // rate of ml1's keep verdict, TPR/FPR against the high-quality
    // proxy label (tx9's length gate), and the disparate-impact ratio
    // vs the CORPUS selection rate (the four-fifths rule: ratio <
    // 800000 micro flags the group). All exact integer counts from one
    // scan + a language rollup; ratios are integer micro or
    // exact-ratio doubles. NULL rates where a group lacks
    // positives/negatives are surfaced, not hidden.
    "ml20_fairness_audit" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val d = Scoring.hashedLinearScore(docs)
        .join(docs.select(col("doc_id"), col("lang"),
          (length(col("text")) >= 100).as("hq")), "doc_id")
      val glob = d.agg(count(lit(1)).as("gn"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("gk"))
      val per = d.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("k"),
          sum(when(col("hq"), 1L).otherwise(0L)).as("np"),
          sum(when(col("hq") && col("keep"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("hq") && col("keep"), 1L).otherwise(0L))
            .as("fp"))
      per.crossJoin(broadcast(glob))
        .select(col("lang"), col("n"),
          expr("k * 1000000 div n").as("sel_rate_micro"),
          expr("""case when np > 0 then tp * 1000000 div np end""")
            .as("tpr_micro"),
          expr("""case when n - np > 0
                 |then fp * 1000000 div (n - np) end"""
            .stripMargin.replace("\n", " ")).as("fpr_micro"),
          expr("""case when gk > 0
                 |then (k * 1000000 div n) * gn div gk end"""
            .stripMargin.replace("\n", " "))
            .as("disparate_impact_micro"))
        .withColumn("flagged",
          col("disparate_impact_micro").isNotNull &&
            col("disparate_impact_micro") < 800000L)
    },

    // CP1 (beyond reference): SPLIT-CONFORMAL calibration — the
    // distribution-free coverage guarantee for ml1's classifier: on an
    // md5 calibration split, rank the signed nonconformity score
    // (−score for the true class, +score otherwise) and take the
    // ⌈0.9·(n+1)⌉-th order statistic as the threshold q̂; on the
    // held-out split, the prediction SET is every class whose
    // nonconformity ≤ q̂, and the audit reports empirical coverage and
    // mean set size (the conformal promise: coverage ≥ 90%). The order
    // statistic rides GlobalRank's two-pass global row number
    // (range-partitioned — no single-partition sort) and is picked by
    // conditional min; everything downstream is exact integer
    // arithmetic over two broadcast scalar rows.
    "cp1_split_conformal" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val docs = Tables.spread(Tables.documents(s, dir))
      val d = Scoring.hashedLinearScore(docs)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").as("en")), "doc_id")
        .withColumn("a",
          when(col("en"), -col("score")).otherwise(col("score")))
        .withColumn("gate", Sampling.bucket(col("doc_id"), "cp1") % 2)
      val cal = d.filter(col("gate") === 0)
        .select(col("a"), col("doc_id"))
      val nc = cal.agg(count(lit(1)).as("n_cal"))
      val calr = GlobalRank.withGlobalRowNumber(cal,
        Seq(col("a"), col("doc_id")), out = "rn")
      val q = calr.crossJoin(broadcast(nc)).groupBy("n_cal")
        .agg(min(when(
          col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"),
          col("a"))).as("qhat"))
      d.filter(col("gate") =!= 0).crossJoin(broadcast(q))
        .groupBy("n_cal", "qhat")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("a") <= col("qhat"), 1L).otherwise(0L)).as("cov"),
          sum(when(-col("score") <= col("qhat"), 1L).otherwise(0L) +
            when(col("score") <= col("qhat"), 1L).otherwise(0L))
            .as("ss"))
        .select(col("n_cal"), col("qhat"), col("n_test"),
          expr("cov * 1000000 div n_test").as("coverage_micro"),
          expr("ss * 1000000 div n_test").as("avg_set_micro"))
    },

    // CP2 (beyond reference): MONDRIAN (group-conditional) split
    // conformal — cp1's marginal guarantee stratified by class:
    // calibrate a separate q̂ per group (en vs other), so each class
    // gets its own ≥90% coverage instead of borrowing the easy class's
    // slack — the standard fix when nonconformity distributions differ
    // by group (exactly the fairness failure ml20 audits). The
    // per-group ceil-rank selection rides GlobalRank's grouped two-pass
    // (range-partitioned; n_cal from its pass-1 counts, never a
    // count-over-group window), and the two (group, q̂) rows broadcast
    // back over the test half.
    "cp2_mondrian_conformal" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val docs = Tables.spread(Tables.documents(s, dir))
      val d = Scoring.hashedLinearScore(docs)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").as("en")), "doc_id")
        .withColumn("a",
          when(col("en"), -col("score")).otherwise(col("score")))
        .withColumn("gate", Sampling.bucket(col("doc_id"), "cp1") % 2)
      val cal = d.filter(col("gate") === 0)
        .select(col("en"), col("a"), col("doc_id"))
      val calr = GlobalRank.withGroupedRowNumber(cal,
        group = Seq("en"), order = Seq(col("a"), col("doc_id")),
        out = "rn", nOut = Some("n_cal"))
      val q = calr
        .filter(col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"))
        .groupBy("en")
        .agg(min(col("n_cal")).as("n_cal"), min(col("a")).as("qhat"))
      d.filter(col("gate") =!= 0).join(broadcast(q), "en")
        .groupBy("en", "n_cal", "qhat")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("a") <= col("qhat"), 1L).otherwise(0L)).as("cov"))
        .select(col("en"), col("n_cal"), col("qhat"), col("n_test"),
          expr("cov * 1000000 div n_test").as("coverage_micro"))
    },

    // ML19 (beyond reference): CONFIDENT-LEARNING label-noise audit
    // (Northcutt et al.): an example is counted as confidently class c
    // when its score crosses class c's self-confidence threshold (the
    // mean score of examples LABELED c); the (label, confident-class)
    // joint's off-diagonal cells estimate how much of the corpus is
    // mislabeled — the table that decides whether lang tags can be
    // trusted as training labels. Thresholds are two broadcast scalars
    // (kept as exact-ratio doubles — no negative integer division);
    // scoring and the joint are one scan plus a 5-cell rollup.
    "ml19_confident_learning" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val d = Scoring.hashedLinearScore(docs)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").as("en")), "doc_id")
        .select(col("en"), col("score").as("sc"))
        .withColumn("sd", col("sc").cast("double"))
      val th = d.groupBy("en")
        .agg(count(lit(1)).as("n"), sum(col("sc")).as("ssum"))
        .select(col("en"),
          (col("ssum").cast("double") / col("n").cast("double")).as("t"))
      val t = th.agg(min(when(col("en"), col("t"))).as("t_en"),
        min(when(!col("en"), col("t"))).as("t_other"))
      val cnt = d.crossJoin(broadcast(t))
        .withColumn("chat",
          when(col("sd") >= col("t_en") && col("sd") <= col("t_other"),
            when(col("sd") - col("t_en") >= col("t_other") - col("sd"),
              lit("en")).otherwise(lit("other")))
            .when(col("sd") >= col("t_en"), lit("en"))
            .when(col("sd") <= col("t_other"), lit("other"))
            .otherwise(lit(null).cast("string")))
        .groupBy("en", "chat").agg(count(lit(1)).as("n"))
      val perLab = cnt.groupBy("en").agg(sum(col("n")).as("n_label"))
      cnt.join(perLab, "en")
        .select(col("en"), col("chat"), col("n"),
          expr("n * 1000000 div n_label").as("share_micro"))
    },

    // ML17 (beyond reference): McNEMAR'S paired test — is the trained
    // model (ml14) actually BETTER than the formula baseline (ml1), or
    // do they just disagree randomly? Accuracy deltas on the same corpus
    // are paired data: only the discordant cells carry signal, and
    // χ² = (b−c)²/(b+c) tests them. The 2×2 discordance table is one
    // conditional-count aggregate over the joined verdicts; the
    // statistic is a single IEEE division of exact integers.
    "ml17_mcnemar" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
      val a = Scoring.hashedLinearScore(d)
        .select(col("doc_id"), col("keep").as("keep_a"))
      val b = Scoring.linearScoreWithWeights(d, trainedWeights, bias = 5L)
        .select(col("doc_id"), col("keep").as("keep_b"))
      val j = a.join(b, "doc_id")
        .join(d.select(col("doc_id"), (col("lang") === "en").as("label")),
          "doc_id")
        .select((col("keep_a") === col("label")).as("ca"),
          (col("keep_b") === col("label")).as("cb"))
      j.agg(
          sum(when(col("ca") && col("cb"), 1L).otherwise(0L))
            .as("n_both_right"),
          sum(when(!col("ca") && !col("cb"), 1L).otherwise(0L))
            .as("n_both_wrong"),
          sum(when(col("ca") && !col("cb"), 1L).otherwise(0L))
            .as("n_a_only"),
          sum(when(!col("ca") && col("cb"), 1L).otherwise(0L))
            .as("n_b_only"))
        .select(col("n_both_right"), col("n_both_wrong"),
          col("n_a_only"), col("n_b_only"),
          when(col("n_a_only") + col("n_b_only") > 0,
            ((col("n_a_only") - col("n_b_only")) *
              (col("n_a_only") - col("n_b_only"))).cast("double") /
              (col("n_a_only") + col("n_b_only")).cast("double"))
            .as("chi2"))
    },

    // Precision/recall threshold sweep of ml1's scores against the
    // lang='en' label: distinct-score aggregation first (map-side
    // combined), then the cumulative window over score-cardinality rows.
    "ml2_threshold_sweep" -> { (s, dir) =>
      val labeled = labelledScores(s, dir)
      Scoring.thresholdSweep(labeled)
    },

    // FE18 (beyond reference): pairwise COVARIANCE/CORRELATION matrix of
    // the first 16 embedding lanes — the screen for redundant feature
    // dimensions (|corr| ≈ 1 pairs carry no extra signal; near-zero rows
    // mark dead lanes) run before any projection/whitening decision.
    // Lanes quantize to exact integers (floor micro), every moment is an
    // exact decimal(38,0) sum at (i, j) grain — the shuffle carries
    // dim²/2 cells × a handful of integers, never vectors — and
    // cov/corr are single fixed IEEE trees, so both engines agree
    // bitwise. At 100 TB the lane-pair fan-out is per-ROW compute
    // (dim² bounded by model width, not corpus), map-side-combined into
    // the 136-cell rollup.
    "fe18_feature_covariance" -> { (s, dir) =>
      val lanes = laneValues(s, dir)
      val pairs = lanes.as("a").join(lanes.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
        .select(col("a.i").as("i"), col("b.i").as("j"),
          col("a.q").as("x"), col("b.q").as("y"))
      val st = pairs.groupBy("i", "j").agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
      val num = col("n").cast(d38) * col("sxy") - col("sx") * col("sy")
      val vx = col("n").cast(d38) * col("sxx") - col("sx") * col("sx")
      val vy = col("n").cast(d38) * col("syy") - col("sy") * col("sy")
      // n = 1 (single vector) or a constant lane (vx/vy = 0) leave the
      // sample moments undefined — NULL, not 0/0 (matches fe20's edge
      // handling; edge-fixture sweep)
      st.select(col("i"), col("j"), col("n"),
        when(col("n") > 1, num.cast("double") /
          (col("n") * (col("n") - 1)).cast("double")).as("cov"),
        when(vx > 0 && vy > 0, num.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))).as("corr"))
    },

    // FE22 (beyond reference): EQUAL-FREQUENCY binning (quantile
    // discretization) — the feature-engineering step that turns a
    // skewed numeric column into 10 equal-population ordinal buckets
    // per stratum (tree/monotonic models, drift dashboards, and dq
    // monitors all consume bins, not raw values). Bucket assignment is
    // pure rank arithmetic ((rn−1)·10 div n — no float percentile), and
    // the rank rides GlobalRank's grouped two-pass row number with the
    // group totals off its pass-1 counts, so no #sources-parallel
    // window ever sees the corpus. Emits the per-bin boundary table
    // (count + min/max value), i.e. the fitted discretizer itself.
    // FE23 (beyond reference): MUTUAL-INFORMATION feature relevance —
    // I(feature; label) in exact micro-nats for each candidate
    // categorical feature against the length-quality label, the
    // feature-selection ranking that says which metadata columns carry
    // signal BEFORE anyone trains on them. Distinct from fe3 (PMI of
    // token PAIRS — cooccurrence, not label relevance) and d53
    // (Cramér's V — a χ²-family effect size; MI is the
    // information-theoretic one the mRMR/filter-selection literature
    // ranks by). Each joint cell's ln((c_vy·n)/(c_v·c_y)) is
    // floor-quantized to micro-nats once and weighted by its exact
    // count, so MI = Σw/n is one exact-int-fed IEEE division. Shape:
    // both features stack into ONE corpus pass (Expand), then all
    // rollups are category-grain.
    "fe23_mi_relevance" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir)).select(
        expr("stack(2, 'source', source, 'lang', lang)")
          .as(Seq("feature", "v")),
        when(col("n_chars") >= 200, 1L).otherwise(0L).as("y"))
      val joint = d.groupBy("feature", "v", "y")
        .agg(count(lit(1)).as("c_vy"))
        // pinned: the joint table feeds three marginals and the MI join
        .transform(graft.operators.GlobalRank.pinned)
      val mv = joint.groupBy("feature", "v").agg(sum(col("c_vy")).as("c_v"))
      val my = joint.groupBy("feature", "y").agg(sum(col("c_vy")).as("c_y"))
      val n = joint.groupBy("feature").agg(sum(col("c_vy")).as("n"))
      joint.join(mv, Seq("feature", "v"))
        .join(broadcast(my), Seq("feature", "y"))
        .join(broadcast(n), Seq("feature"))
        .select(col("feature"), col("n"),
          (col("c_vy") * floor(lit(1e6) * log(
            (col("c_vy").cast("double") * col("n").cast("double")) /
              (col("c_v").cast("double") * col("c_y").cast("double"))))
            .cast("bigint")).as("w"))
        .groupBy("feature", "n").agg(sum(col("w").cast(d38)).as("sw"))
        .select(col("feature"), col("n").as("n_rows"),
          (col("sw").cast("double") / col("n").cast("double"))
            .as("mi_nat_micro"))
    },

    "fe22_equal_freq_binning" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("source"), col("doc_id"), col("n_chars"))
      graft.operators.GlobalRank.withGroupedRowNumber(d,
          group = Seq("source"),
          order = Seq(col("n_chars"), col("doc_id")),
          out = "rn", nOut = Some("n"))
        .withColumn("bucket", expr("(rn - 1) * 10 div n"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("lo_chars"),
          max(col("n_chars")).as("hi_chars"))
    },

    // FE21 (beyond reference): hashing-trick COLLISION audit — for each
    // candidate feature dimension (16/64/256), how many distinct tokens
    // share each bucket and what fraction of tokens collide at all: the
    // measurement behind choosing ml1's `dim` (too small ⇒ features
    // alias; expected load is vocab/dim, and the audit shows the actual
    // tail). One vocabulary rollup, then three bucket rollups at
    // vocabulary grain — never corpus-sized.
    "fe21_hashing_collision_audit" -> { (s, dir) =>
      val vocab = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .transform(graft.operators.GlobalRank.pinned)
      Seq(16, 64, 256).map { dim =>
        vocab
          .select(Scoring.tokenBucket(col("token"), dim).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
          .agg(count(lit(1)).as("n_used_buckets"),
            sum(col("n_tokens")).as("vocab"),
            sum(when(col("n_tokens") > 1, col("n_tokens")).otherwise(0L))
              .as("n_colliding"),
            max(col("n_tokens")).as("max_load"))
          .select(lit(dim.toLong).as("dim"), col("n_used_buckets"),
            col("vocab"), col("n_colliding"), col("max_load"),
            expr("n_colliding * 1000000 div vocab").as("collide_micro"))
          .filter(col("n_used_buckets") > 0)
      }.reduce(_ unionByName _)
    },

    // FE20 (beyond reference): feature REDUNDANCY groups — connected
    // components over the |corr| > 0.5 edges of fe18's lane-correlation
    // matrix: lanes in one group carry (mostly) shared signal, so a
    // model keeps one representative per group. The matrix is dim²
    // metadata; the contraction runs on ≤dim nodes — everything after
    // the one corpus moment-rollup is free. Lanes with no strong
    // partner are their own group.
    "fe20_redundancy_groups" -> { (s, dir) =>
      val lanes = laneValues(s, dir)
      val st = lanes.as("a").join(lanes.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") < col("b.i"))
        .select(col("a.i").as("i"), col("b.i").as("j"),
          col("a.q").as("x"), col("b.q").as("y"))
        .groupBy("i", "j").agg(count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
      val num = col("n").cast(d38) * col("sxy") - col("sx") * col("sy")
      val vx = col("n").cast(d38) * col("sxx") - col("sx") * col("sx")
      val vy = col("n").cast(d38) * col("syy") - col("sy") * col("sy")
      val edges = st
        .select(col("i"), col("j"),
          when(vx > 0 && vy > 0, num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
            .as("corr"))
        .filter(abs(col("corr")) > 0.5)
        .select(col("i").cast("bigint").as("id_a"),
          col("j").cast("bigint").as("id_b"))
      val comp = graft.operators.Dedup.connectedComponents(edges)
      val allLanes = lanes.select(col("i").cast("bigint").as("lane"))
        .distinct()
      allLanes.join(comp, allLanes("lane") === comp("doc_id"), "left")
        .select(col("lane"),
          coalesce(col("cluster_id"), col("lane")).as("group_id"))
    },

    // FE19 (beyond reference): top PRINCIPAL COMPONENT by four unrolled
    // power-iteration rounds over fe18's exact-moment covariance —
    // distributed PCA direction without any linear-algebra library. The
    // corpus is touched ONCE (the (i, j) moment rollup); every iteration
    // is metadata-sized (16 cells × 16 v-entries). Integer contract
    // throughout: covariance cells truncate to integer units, each round
    // renormalizes v to max|v| = 1e6 with sign-split divisions (abs
    // before div, so Spark's truncating `div` and DuckDB's flooring `//`
    // agree on negatives), and the widened products run in
    // decimal(38,0)/HUGEINT — both engines replay the identical four
    // rounds bit for bit (gr1/ev48's unrolled-iteration contract).
    "fe19_pca_direction" -> { (s, dir) =>
      val lanes = laneValues(s, dir)
      val st = lanes.as("a").join(lanes.as("b"),
          col("a.vec_id") === col("b.vec_id"))
        .select(col("a.i").as("i"), col("b.i").as("j"),
          col("a.q").as("x"), col("b.q").as("y"))
        .groupBy("i", "j").agg(count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"))
      val cells = st.select(col("i"), col("j"),
        expr("""cast(case when n * sxy - sx * sy >= 0 then
               |  (n * sxy - sx * sy) div (n * (n - 1)) div 1000000
               |else -((-(n * sxy - sx * sy)) div (n * (n - 1))
               |  div 1000000) end as bigint)"""
          .stripMargin.replace("\n", " ")).as("c"))
        .transform(graft.operators.GlobalRank.pinned)
      var v = cells.select(col("i")).distinct()
        .withColumn("v", lit(1000000L))
      for (_ <- 1 to 4) {
        val nv = cells
          .join(v.select(col("i").as("j"), col("v")), "j")
          .groupBy("i").agg(sum(col("c") * col("v")).as("nv"))
        val m = nv.agg(max(abs(col("nv"))).as("m"))
        v = nv.crossJoin(broadcast(m)).select(col("i"),
          expr("""cast(case when m = 0 then 0
                 |when nv >= 0 then cast(nv as decimal(38,0)) * 1000000 div m
                 |else -(cast(-nv as decimal(38,0)) * 1000000 div m)
                 |end as bigint)""".stripMargin.replace("\n", " ")).as("v"))
          .transform(graft.operators.GlobalRank.pinned)
      }
      v.select(col("i"), col("v").as("component_micro"))
    },

    // Per-group z-score feature normalization: one map-side-combined
    // aggregate to (source, n, Σx, Σx²) — exact decimal sums, group count
    // = source cardinality — broadcast back over the scan. Every double
    // derives from those exact integers through the same expression tree
    // as the oracle, so z-scores are bit-identical.
    "fe4_zscore" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("n_chars"))
      val stats = d.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast(DecimalType(38, 0))).as("s"),
        sum((col("n_chars") * col("n_chars")).cast(DecimalType(38, 0)))
          .as("ss"))
      val mean = col("s").cast("double") / col("n").cast("double")
      val variance = (col("ss").cast("double") -
        col("s").cast("double") * col("s").cast("double") /
          col("n").cast("double")) / (col("n") - 1).cast("double")
      d.join(broadcast(stats), "source")
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(col("n") > 1,
            (col("n_chars").cast("double") - mean) / sqrt(variance))
            .as("zscore"))
    },

    // Calibration table for ml1's classifier: score bucketed into width-4
    // bins, per-bin count and observed positive rate — how well the score
    // orders true quality. Bin via floor over an exact small-int double
    // quotient (Spark's integer `div` truncates toward zero, DuckDB's `//`
    // floors — they disagree on negative scores, the double floor doesn't).
    "ml3_calibration" -> { (s, dir) =>
      labelledScores(s, dir)
        .groupBy(floor(col("score") / lit(4.0)).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("npos"))
        .select(col("bin"), col("n"), col("npos"),
          (col("npos").cast("double") / col("n").cast("double"))
            .as("pos_rate"))
    },

    // ML15 (beyond reference): EXPECTED CALIBRATION ERROR — ml3 shows the
    // per-bin reliability table; ECE/MCE compress it into the two numbers
    // a model card reports (mean and max |accuracy − confidence| gap,
    // bin-weighted). Confidence is the score mapped affinely onto [0, 1]
    // in micro units (clamp AFTER the division, so the one negative-
    // numerator case where Spark's div truncates and DuckDB's // floors is
    // clamped identically to 0 by both); accuracy is an exact integer
    // micro-ratio per bin. Everything stays integer until the report —
    // the per-bin rollup is one map-side-combined shuffle, the summary is
    // bin-count-sized.
    "ml15_ece" -> { (s, dir) =>
      val binned = labelledScores(s, dir)
        .select(col("score"), col("label"),
          expr("least(1000000L, greatest(0L, (score + 20) * 1000000 div 40))")
            .as("conf_micro"))
        .groupBy(floor(col("score") / lit(4.0)).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("npos"),
          sum(col("conf_micro")).as("sum_conf"))
        .select(col("n"),
          expr("abs(npos * 1000000 div n - sum_conf div n)")
            .as("gap_micro"))
      binned.agg(sum(col("n")).as("n_total"),
        expr("sum(n * gap_micro) div sum(n)").as("ece_micro"),
        max(col("gap_micro")).as("mce_micro"))
    },

    // ML16 (beyond reference): COHEN'S KAPPA between ml1's keep verdict
    // and the lang='en' label — chance-corrected agreement, the honest
    // replacement for raw accuracy when classes are imbalanced (a gate
    // that keeps everything "agrees" with a mostly-positive label). The
    // 2×2 confusion is one conditional-count aggregate; kappa is written
    // as ONE division of two exact integer polynomials
    // (N·(n11+n00) − Σ marginal products) / (N² − Σ marginal products),
    // so both engines produce the identical double.
    "ml16_cohens_kappa" -> { (s, dir) =>
      val cells = labelledScores(s, dir)
        .agg(
          sum(when(col("keep") && col("label"), 1L).otherwise(0L))
            .as("n11"),
          sum(when(col("keep") && !col("label"), 1L).otherwise(0L))
            .as("n10"),
          sum(when(!col("keep") && col("label"), 1L).otherwise(0L))
            .as("n01"),
          sum(when(!col("keep") && !col("label"), 1L).otherwise(0L))
            .as("n00"))
      val n = col("n11") + col("n10") + col("n01") + col("n00")
      val chance = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00"))
      cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
        ((n * (col("n11") + col("n00")) - chance).cast("double") /
          (n * n - chance).cast("double")).as("kappa"))
    },

    // Exact AUC of ml1's score vs the lang='en' label via the rank-sum
    // (Mann-Whitney U) identity with tie-averaged ranks — every
    // intermediate is an INTEGER (2·Σranks stays integral under tie
    // averaging because avg = (min_rank + max_rank)/2), so the result is
    // order-independent: no float accumulation over thresholds, unlike
    // trapezoid-ROC summation. Aggregates to distinct scores first; the
    // cumulative window sees score-cardinality rows.
    // ML21 (beyond reference): CROSS-GROUP AUC (xAUC, Kallus & Zhou) —
    // ml20 audits RATE fairness at one threshold; this audits RANKING
    // fairness across the whole score range: P(score of a long-doc
    // from group A outranks a short-doc from group B). A model can
    // have equal per-group AUC yet systematically rank one group's
    // positives below the other's negatives — exactly what the two
    // cross terms expose. Same value-grain machinery as ml4 (score
    // domain bounded by construction): doubled tie-aware contributions
    // stay exact integers, one division per readout.
    "ml21_xauc" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
      val labeled = Scoring.hashedLinearScore(d)
        .join(d.select(col("doc_id"), (col("lang") === "en").as("en"),
          (TextAnalysis.tokenCount(col("text")) > 40).as("label")),
          "doc_id")
      val byScore = labeled.groupBy(col("score")).agg(
        sum(when(col("label") && col("en"), 1L).otherwise(0L))
          .as("pos_en"),
        sum(when(col("label") && !col("en"), 1L).otherwise(0L))
          .as("pos_ot"),
        sum(when(!col("label") && col("en"), 1L).otherwise(0L))
          .as("neg_en"),
        sum(when(!col("label") && !col("en"), 1L).otherwise(0L))
          .as("neg_ot"))
      val asc = Window.orderBy(col("score").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // 2·contrib(v) = pos_A(v)·(2·cumNeg_B(≤v) − neg_B(v))
      //              = pos_A(v)·(2·cumNeg_B(<v) + neg_B(v))
      val ranked = byScore
        .withColumn("cneg_ot", sum(col("neg_ot")).over(asc))
        .withColumn("cneg_en", sum(col("neg_en")).over(asc))
        .select(
          (col("pos_en").cast(d38) *
            (lit(2L) * col("cneg_ot") - col("neg_ot")).cast(d38))
            .as("c2_en"),
          (col("pos_ot").cast(d38) *
            (lit(2L) * col("cneg_en") - col("neg_en")).cast(d38))
            .as("c2_ot"),
          col("pos_en"), col("pos_ot"), col("neg_en"), col("neg_ot"))
      ranked.agg(sum(col("pos_en")).as("p_en"),
          sum(col("pos_ot")).as("p_ot"),
          sum(col("neg_en")).as("n_en"),
          sum(col("neg_ot")).as("n_ot"),
          sum(col("c2_en")).as("s2_en"), sum(col("c2_ot")).as("s2_ot"))
        .select(col("p_en"), col("p_ot"), col("n_en"), col("n_ot"),
          when(col("p_en") > 0 && col("n_ot") > 0,
            col("s2_en").cast("double") /
              (lit(2.0) * (col("p_en").cast(d38) * col("n_ot").cast(d38))
                .cast("double"))).as("xauc_en_over_ot"),
          when(col("p_ot") > 0 && col("n_en") > 0,
            col("s2_ot").cast("double") /
              (lit(2.0) * (col("p_ot").cast(d38) * col("n_en").cast(d38))
                .cast("double"))).as("xauc_ot_over_en"))
    },

    "ml4_auc" -> { (s, dir) =>
      val labeled = labelledScores(s, dir)
      val byScore = labeled.groupBy(col("score"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("npos"))
      val asc = Window.orderBy(col("score").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = byScore.select(col("score"), col("n"), col("npos"),
        sum(col("n")).over(asc).as("max_rn"))
      // min_rn = max_rn - n + 1; 2·avg_rank = min_rn + max_rn
      val contrib = ranked.select(col("npos"), col("n"),
        (col("npos") * (col("max_rn") - col("n") + 1 + col("max_rn")))
          .as("two_rank_sum"))
      contrib.agg(sum(col("npos")).as("npos"),
          sum(col("n") - col("npos")).as("nneg"),
          sum(col("two_rank_sum")).as("two_ranks"))
        .select(col("npos"), col("nneg"),
          // single-class corpus: AUC is undefined — NULL, not a
          // divide-by-zero (ANSI throws on it; found by the edge-fixture
          // sweep)
          when(col("npos") > 0 && col("nneg") > 0,
            (col("two_ranks") - col("npos") * (col("npos") + 1))
              .cast("double")
              / (lit(2.0) * (col("npos") * col("nneg")).cast("double")))
            .as("auc"))
    },

    // Population Stability Index of the score distribution between two
    // corpus generations (even vs odd doc_id, drift2's split) — THE
    // deployed-model monitor: PSI = Σ_bins (p_new − p_old)·ln(p_new/p_old),
    // alarm thresholds 0.1/0.25. Exact formulation: per ml3-style score
    // bin, the difference is the exact rational (n_n·t_o − n_o·t_n)/(t_n·t_o)
    // and the log ratio ln((n_n·t_o)/(n_o·t_n)) is floor-quantized to
    // micro-nats, so the per-bin terms and their sum are exact integers;
    // the one division to a double happens at the end. Bins empty on
    // either side drop (both engines identically) — the no-epsilon
    // convention, documented in place of the usual fudge factor.
    "ml11_psi" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
      val binned = Scoring.hashedLinearScore(d)
        .select(col("doc_id"), expr("score div 4").as("bin"),
          (col("doc_id") % 2 === 0).as("is_old"))
      val cells = binned.groupBy("bin")
        .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_o"),
          sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_n"))
        .filter(col("n_o") > 0 && col("n_n") > 0)
      val all = Window.partitionBy()
      val withTot = cells
        .withColumn("t_o", sum(col("n_o")).over(all))
        .withColumn("t_n", sum(col("n_n")).over(all))
        .withColumn("diff_num",
          col("n_n") * col("t_o") - col("n_o") * col("t_n"))
        .withColumn("ln_micro",
          floor(log((col("n_n") * col("t_o")).cast("double") /
            (col("n_o") * col("t_n")).cast("double")) * lit(1e6))
            .cast("bigint"))
      withTot.agg(max(col("t_o")).as("n_old"), max(col("t_n")).as("n_new"),
          sum(col("diff_num") * col("ln_micro")).as("psi_num_micro"))
        .select(col("n_old"), col("n_new"), col("psi_num_micro"),
          (col("psi_num_micro").cast("double") /
            (col("n_old") * col("n_new")).cast("double") / lit(1e6))
            .as("psi"))
    },

    // Kolmogorov–Smirnov separation of ml1's score distributions
    // (positives vs negatives) — the credit-scoring/classifier-QA
    // staple: KS = max_t |CDF⁺(t) − CDF⁻(t)|. Aggregated to distinct
    // scores first (the cumulative window sees score-cardinality rows,
    // ml4's shape), and the max runs over the EXACT integer numerator
    // |cum_pos·N⁻ − cum_neg·N⁺| — order-free, no float CDFs compared;
    // the one division happens after the max.
    "ml10_ks_stat" -> { (s, dir) =>
      val labeled = labelledScores(s, dir)
      val byScore = labeled.groupBy(col("score"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("npos"))
      val asc = Window.orderBy(col("score").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      val cum = byScore
        .withColumn("cum_pos", sum(col("npos")).over(asc))
        .withColumn("cum_neg", sum(col("n") - col("npos")).over(asc))
        .withColumn("tot_pos", sum(col("npos")).over(all))
        .withColumn("tot_neg", sum(col("n") - col("npos")).over(all))
      cum.agg(max(col("tot_pos")).as("n_pos"),
          max(col("tot_neg")).as("n_neg"),
          max(abs(col("cum_pos") * col("tot_neg") -
            col("cum_neg") * col("tot_pos"))).as("ks_num"))
        .select(col("n_pos"), col("n_neg"), col("ks_num"),
          // single-class corpus: KS undefined — NULL (edge-fixture sweep)
          when(col("n_pos") > 0 && col("n_neg") > 0,
            col("ks_num").cast("double") /
              (col("n_pos") * col("n_neg")).cast("double")).as("ks"))
    },

    // Average precision (area under the PR curve) of ml1's score vs the
    // lang='en' label — the imbalanced-class twin of ml4's ROC AUC:
    // AP = (1/P)·Σ_{positives} Precision@rank. The ranking order is
    // total (score desc, doc_id), so both engines agree on every rank;
    // Precision@k for the k-th positive is pos_rank/rn, quantized to
    // integer NANO-units by pure integer division BEFORE summation, so
    // the sum is order-free and engine-exact (no float accumulation
    // across the curve). Both ranking passes run through GlobalRank's
    // two-pass range layout — never a one-task global window. (The
    // nano-unit products cap pos_rank at ~9·10⁹ before long overflow;
    // past that the term moves to decimal(38,0), same as tx20's sums.)
    "ml8_average_precision" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val labeled = labelledScores(s, dir)
        .select(col("doc_id"), col("score"), col("label"))
      val ranked = GlobalRank.withGlobalRowNumber(labeled,
        Seq(-col("score"), col("doc_id")), "rn")
      val pos = GlobalRank.withGlobalRowNumber(ranked.filter(col("label")),
        Seq(col("rn")), "pos_rank")
      pos.select(expr("pos_rank * 1000000000 div rn").as("prec_nano"))
        .agg(count(lit(1)).as("n_pos"),
          sum(col("prec_nano")).as("sum_prec_nano"))
        .select(col("n_pos"), col("sum_prec_nano"),
          (col("sum_prec_nano").cast("double") / lit(1e9) /
            col("n_pos").cast("double")).as("average_precision"))
    },

    // ML5 (beyond reference): NDCG@10 ranking evaluation — the metric a
    // retrieval/reranking pipeline reports. System ranking = account
    // balance per market segment (stand-in for any scorer), graded
    // relevance = custkey % 4, gain = 2^rel − 1. Candidates are cut to
    // the top-10 per group by the bounded-heap TopKPerKey operator (never
    // a full per-group sort), so the eval costs O(n log k) map-side; the
    // per-rank discount floor(1e9 / log2(r+1)) is one IEEE log + divide
    // + floor on identical operands in both engines — bit-stable — and
    // every sum after it is exact integer micro-units.
    "ml5_ndcg" -> { (s, dir) =>
      val cand = Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          expr("cast(shiftleft(1, cast(c_custkey % 4 as int)) - 1 as bigint)")
            .as("gain"))
      def dcgTop10(ordered: DataFrame, orderCols: Seq[Column]): DataFrame = {
        val top = graft.plans.TopKPerKey.topKPerKey(
          ordered, keys = Seq(col("c_mktsegment")), order = orderCols, k = 10)
        val w = Window.partitionBy(col("c_mktsegment")).orderBy(orderCols: _*)
        top.withColumn("r", row_number().over(w))
          .withColumn("disc",
            floor(lit(1e9) / log2(col("r").cast("double") + 1.0)))
          .groupBy("c_mktsegment")
          .agg(sum(col("gain") * col("disc")).as("dcg"))
      }
      val sys = dcgTop10(cand,
        Seq(col("c_acctbal").desc, col("c_custkey").asc))
      val ideal = dcgTop10(cand,
          Seq(col("gain").desc, col("c_acctbal").desc, col("c_custkey").asc))
        .withColumnRenamed("dcg", "idcg")
      sys.join(ideal, "c_mktsegment")
        .select(col("c_mktsegment"), col("dcg"), col("idcg"),
          expr("dcg * 1000000 div idcg").as("ndcg_micro"))
    },

    // Log-scaled TF-IDF against the same probe-term set as ir1_bm25: one
    // narrow scan + one broadcast scalar aggregate.
    "ir2_tfidf" -> { (s, dir) =>
      Retrieval.tfidf(Tables.spread(Tables.documents(s, dir)), tfidfTerms)
    },

    // IR15 (beyond reference): query CLARITY score (Cronen-Townsend et
    // al.) — judgment-free query-performance prediction: the KL
    // divergence between the top-10 docs' relevance language model and
    // the corpus model. High clarity = the result set speaks a focused
    // sublanguage (query will perform); clarity ≈ 0 = the results look
    // like random corpus text (query is ambiguous — route to ir5's
    // expansion). Corpus side is one vocab rollup; the relevance side
    // is 10 docs, broadcast into the join, so the plan costs one token
    // scan at any corpus size. Each KL term is nano-quantized before
    // the cross-token sum (the cross-row float contract).
    "ir15_clarity" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val top = Retrieval.bm25(docs, tfidfTerms)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
        .select("doc_id")
      val toks = docs.select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("t"))
        .filter(length(col("t")) > 0)
      val rCounts = toks.join(broadcast(top), "doc_id")
        .groupBy("t").agg(count(lit(1)).as("cr"))
      val rTot = rCounts.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"),
        count(lit(1)).as("vr"))
      val cCounts = toks.groupBy("t").agg(count(lit(1)).as("cc"))
      val cTot = toks.agg(count(lit(1)).as("nc"))
      // every relevance token exists in the corpus by construction, so
      // the inner join loses nothing and P(w|C) > 0 always holds
      val terms = cCounts.join(broadcast(rCounts), "t")
        .crossJoin(broadcast(rTot)).crossJoin(broadcast(cTot))
        .select(col("nr"), col("vr"),
          floor((col("cr").cast("double") / col("nr").cast("double")) *
            log((col("cr").cast(DecimalType(38, 0)) *
              col("nc").cast(DecimalType(38, 0))).cast("double") /
              (col("nr").cast(DecimalType(38, 0)) *
                col("cc").cast(DecimalType(38, 0))).cast("double")) *
            lit(1e9)).cast("long").as("term_nano"))
      terms.groupBy("nr", "vr")
        .agg(sum(col("term_nano")).as("sum_nano"))
        .select(col("nr").as("rel_tokens"), col("vr").as("rel_vocab"),
          (col("sum_nano").cast("double") / lit(1e9)).as("clarity"))
    },

    // IR14 (beyond reference): RANK-BIASED OVERLAP (Webber et al.) at
    // p = 0.9 between the BM25 and TF-IDF top-10 rankings — the
    // top-weighted list-similarity readout behind "do the two scorers
    // agree where it matters?" (ir3 fuses the lists; this MEASURES
    // their agreement, the number that justifies fusing at all).
    // Agreement at each depth d is |A_1:d ∩ B_1:d| as exact integers
    // over the two 10-row lists; the geometric weights p^(d−1) are
    // EXACT decimal literals (9^d/10^d — no pow() call whose libm
    // could differ per engine), each depth's term is quantized to
    // 1e-12 before the cumulative sum, and every window rides the
    // 10-row depth frame. Emits the full agreement/RBO curve.
    "ir14_rbo" -> { (s, dir) =>
      // round 14: one tokenized scan serves both rankings (ir3's shape)
      val both =
        Retrieval.bm25AndTfidf(Tables.spread(Tables.documents(s, dir)), tfidfTerms)
      val wA = Window.orderBy(col("bm25").desc, col("doc_id").asc)
      val topA = both.select("doc_id", "bm25")
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
        .withColumn("r_a", row_number().over(wA).cast("long"))
        .select(col("doc_id"), col("r_a"))
      val wB = Window.orderBy(col("tfidf").desc, col("doc_id").asc)
      val topB = both.select("doc_id", "tfidf")
        .orderBy(col("tfidf").desc, col("doc_id").asc).limit(10)
        .withColumn("r_b", row_number().over(wB).cast("long"))
        .select(col("doc_id"), col("r_b"))
      val pairs = topA.join(topB, "doc_id").select("r_a", "r_b")
      val weights = typedLit(Seq(1.0, 0.9, 0.81, 0.729, 0.6561,
        0.59049, 0.531441, 0.4782969, 0.43046721, 0.387420489))
      val inter = s.range(1, 11).toDF("d")
        .join(broadcast(pairs), lit(true), "left")
        .groupBy("d")
        .agg(sum(when(col("r_a").isNotNull &&
          greatest(col("r_a"), col("r_b")) <= col("d"), 1L)
          .otherwise(0L)).as("inter"))
      val wCum = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      inter
        .withColumn("tq",
          floor(element_at(weights, col("d").cast("int")) *
            (col("inter").cast("double") / col("d").cast("double")) *
            lit(1e12)).cast("long"))
        .select(col("d"), col("inter"),
          expr("inter * 1000000 div d").as("a_micro"),
          (lit(0.1) * (sum(col("tq")).over(wCum).cast("double") /
            lit(1e12))).as("rbo_cum"))
    },

    // Smoothed target encoding of a categorical feature: per-category
    // positive rate shrunk toward the global prior (m=10 pseudo-counts) —
    // the leakage-safe categorical-to-numeric feature map. Two
    // map-side-combined aggregates (category-sized and one scalar row),
    // both broadcast back over the scan; the fraction derives from exact
    // integer counts through the same expression tree in both engines.
    "fe5_target_encode" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"),
          (col("lang") === "en").as("label"))
      val glob = d.agg(count(lit(1)).as("tn"),
        sum(when(col("label"), 1L).otherwise(0L)).as("tp"))
      val per = d.groupBy("source").agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("npos"))
      val enc = per.crossJoin(broadcast(glob))
        .select(col("source"),
          ((col("npos").cast("double") +
            lit(10.0) * (col("tp").cast("double") / col("tn").cast("double")))
            / (col("n").cast("double") + lit(10.0))).as("te_rate"))
      d.join(broadcast(enc), "source")
        .select(col("doc_id"), col("source"), col("te_rate"))
    },

    // K-FOLD out-of-fold target encoding — fe5 with the self-leakage
    // removed: each row's encoding is computed from the OTHER folds'
    // counts only (leave-fold-out), the standard guard against a
    // high-cardinality categorical memorizing its own label. No K-way
    // re-aggregation: one (source × fold) count pass, the per-source
    // totals roll up from it, and leave-out counts are differences
    // (total − own fold) — so the extra cost over fe5 is a K×-larger
    // (still tiny) broadcast, not a second scan. Fold assignment is the
    // stable md5 bucket (Sampling.bucket div 200 → 5 folds), so the
    // encoding is reproducible forever and across engines.
    "fe8_kfold_target_encode" -> { (s, dir) =>
      import graft.operators.Sampling
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"),
          (col("lang") === "en").as("label"))
        .withColumn("b", Sampling.bucket(col("doc_id"), "fold"))
        .withColumn("fold", expr("b div 200"))
        .drop("b")
      val glob = d.agg(count(lit(1)).as("tn"),
        sum(when(col("label"), 1L).otherwise(0L)).as("tp"))
      val perFold = d.groupBy("source", "fold").agg(
        count(lit(1)).as("nf"),
        sum(when(col("label"), 1L).otherwise(0L)).as("posf"))
      val perSrc = perFold.groupBy("source").agg(
        sum(col("nf")).as("n"), sum(col("posf")).as("npos"))
      val enc = perFold.join(perSrc, "source").crossJoin(broadcast(glob))
        .select(col("source"), col("fold"),
          (((col("npos") - col("posf")).cast("double") +
            lit(10.0) * (col("tp").cast("double") / col("tn").cast("double")))
            / ((col("n") - col("nf")).cast("double") + lit(10.0)))
            .as("te_oof"))
      d.join(broadcast(enc), Seq("source", "fold"))
        .select(col("doc_id"), col("source"), col("fold"), col("te_oof"))
    },

    // Weight-of-evidence encoding of source against the lang=en target:
    // ln of the smoothed good/bad rate ratio (+0.5 Laplace counts, the
    // standard credit-scoring formulation) — fe5's target-encode sibling
    // that lives on the LOG-odds scale, so downstream linear models can
    // sum it. Same two-aggregate broadcast shape; the single ln is
    // floor-quantized to integer micro-nats, everything else is exact
    // integer counts through a fixed IEEE tree.
    // Feature↔label MUTUAL INFORMATION — the model-agnostic feature-
    // selection primitive (fe9's WoE ranks one bin; MI ranks the whole
    // feature): I(F;Y) = Σ_cells p(f,y)·ln(p(f,y)/(p(f)p(y))). Feature =
    // doc-length quartile from GlobalRank's closed form ((rn−1)·4) div
    // n + 1 (integer-exact bucket edges), label = lang='en'. Each
    // cell's ln is floor-quantized to micro-nats and weighted by the
    // exact cell count, so the sum is an order-free integer and the
    // nats conversion is one division at the end. Cell table is
    // 4×2 — metadata — after one count shuffle.
    "fe10_feature_mi" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars"),
          (col("lang") === "en").as("label"))
      val n = d.count()
      val ranked = GlobalRank.withGlobalRowNumber(d,
        Seq(col("n_chars"), col("doc_id")), "rn")
        .withColumn("bucket", expr(s"((rn - 1) * 4) div $n + 1"))
      val cells = ranked.groupBy("bucket", "label")
        .agg(count(lit(1)).as("nc"))
      val fTot = cells.groupBy("bucket").agg(sum(col("nc")).as("nf"))
      val yTot = cells.groupBy("label").agg(sum(col("nc")).as("ny"))
      cells.join(fTot, "bucket").join(yTot, "label")
        .select(col("nc"),
          floor(log((col("nc") * lit(n)).cast("double") /
            (col("nf") * col("ny")).cast("double")) * lit(1e6))
            .cast("bigint").as("ln_micro"))
        .agg(sum(col("nc") * col("ln_micro")).as("mi_num_micro"))
        .select(col("mi_num_micro"),
          (col("mi_num_micro").cast("double") / lit(n.toDouble) / lit(1e6))
            .as("mi_nats"))
    },

    // FE16 (beyond reference): INFORMATION VALUE — fe9 gives each
    // source bin a WoE; IV = Σ_bins (good%−bad%)·WoE collapses the
    // whole feature to the one screening number credit-scoring practice
    // thresholds on (<0.02 useless, >0.3 strong). The share difference
    // is kept as an exact integer rational over the common smoothed
    // denominator ((2g+1)(2bt+1) − (2b+1)(2gt+1)), multiplied by the
    // micro-quantized WoE and divided ONCE — order-free integer sum.
    // Same two-aggregate broadcast shape as fe9.
    "fe16_information_value" -> { (s, dir) =>
      val c = Tables.spread(Tables.documents(s, dir)).groupBy("source")
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("good"),
          sum(when(col("lang") === "en", 0L).otherwise(1L)).as("bad"))
      val tot = c.agg(sum(col("good")).as("gt"), sum(col("bad")).as("bt"))
      // fe9's exact WoE expression tree, micro-quantized
      val woeRatio =
        ((col("good").cast("double") + lit(0.5)) /
          (col("gt").cast("double") + lit(0.5))) /
          ((col("bad").cast("double") + lit(0.5)) /
            (col("bt").cast("double") + lit(0.5)))
      c.crossJoin(broadcast(tot))
        .select(
          floor(log(woeRatio) * lit(1e6)).cast("bigint").as("woe_micro"),
          ((lit(2) * col("good") + 1) * (lit(2) * col("bt") + 1) -
            (lit(2) * col("bad") + 1) * (lit(2) * col("gt") + 1)).as("num"),
          ((lit(2) * col("gt") + 1) * (lit(2) * col("bt") + 1)).as("den"))
        .agg(count(lit(1)).as("n_bins"),
          expr("sum(num * woe_micro) div max(den)").as("iv_micro"))
    },

    "fe9_woe" -> { (s, dir) =>
      val c = Tables.spread(Tables.documents(s, dir)).groupBy("source")
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("good"),
          sum(when(col("lang") === "en", 0L).otherwise(1L)).as("bad"))
      val tot = c.agg(sum(col("good")).as("gt"), sum(col("bad")).as("bt"))
      c.crossJoin(broadcast(tot))
        .select(col("source"), col("good"), col("bad"),
          floor(log(((col("good").cast("double") + lit(0.5)) /
            (col("gt").cast("double") + lit(0.5))) /
            ((col("bad").cast("double") + lit(0.5)) /
              (col("bt").cast("double") + lit(0.5)))) * lit(1e6))
            .cast("bigint").as("woe_micro"))
    },

    // Quantile normalization across sources: each document's
    // within-source quantile is mapped onto the GLOBAL value at that
    // quantile — the distribution-matching transform that makes quality
    // scores comparable across corpora with different scales before
    // mix1-style sampling. Both rank passes use GlobalRank's two-pass
    // range layout (no single-partition window, no per-group funnel);
    // quantiles are exact integer micro-units and the lookup is an
    // equi-join on the computed global position.
    "fe6_quantile_norm" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("n_chars"))
        // pinned: this narrow doc-grain projection feeds FOUR consumers
        // (grouped rank, per-source counts, the global rank layout, and
        // the corpus count) — un-pinned, each re-ran the scan+spread
        .transform(graft.operators.GlobalRank.pinned)
      val ranked = GlobalRank.withGroupedRank(d, group = Seq("source"),
        order = Seq(col("n_chars"), col("doc_id")), tieBreak = Seq(),
        out = "r")
      val ns = d.groupBy(col("source").as("src"))
        .agg(count(lit(1)).as("ns"))
      val qq = ranked.join(broadcast(ns), col("source") === col("src"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("""case when ns > 1 then ((r - 1) * 1000000) div (ns - 1)
                 |else cast(0 as bigint) end""".stripMargin).as("q_micro"))
      val gv = GlobalRank.withGlobalRowNumber(
          d.select(col("n_chars"), col("doc_id")),
          order = Seq(col("n_chars"), col("doc_id")), out = "gr")
        .select(col("n_chars").as("gval"), col("gr"))
      val nn = d.agg(count(lit(1)).as("n"))
      qq.crossJoin(broadcast(nn))
        .join(gv, col("gr") === lit(1L) +
          expr("(q_micro * (n - 1)) div 1000000"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("q_micro"), col("gval").as("norm_value"))
    },

    // Hashing-trick FEATURE CROSS (status × priority → 1024 buckets):
    // the fastText/VW trick that keeps a categorical cross of unbounded
    // cardinality inside a fixed parameter space — the bucket is a pure
    // md5-60 function of the value pair (engine-reproducible, same
    // family as Sampling.bucket), so train- and serve-side hashing
    // agree by construction. Cross cardinality drives the cost (one
    // map-side-combined count), never row volume; collisions are
    // visible as bucket values shared across (a, b) rows.
    "fe7_feature_cross" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .withColumn("bucket", expr(
          """cast(conv(substring(md5(concat(a, '|', b)), 1, 15), 16, 10)
            |  as bigint) % 1024""".stripMargin))
    },

    // Reciprocal-rank fusion of the two lexical rankings (BM25 + ltc
    // TF-IDF) over the same probe terms — hybrid retrieval's
    // calibration-free combiner. Ranks come from GlobalRank's two-pass
    // layout (no single-partition exchange); the fused score is an
    // integer micro-unit sum, engine-exact.
    "ir3_rrf_fusion" -> { (s, dir) =>
      // round 14: both rankings come off ONE tokenized scan + pinned
      // proxy table (Retrieval.bm25AndTfidf) — the standalone bm25 and
      // tfidf calls each scanned and tokenized the corpus (the two term
      // sets are the same probe set); scores are bit-identical
      val both =
        Retrieval.bm25AndTfidf(Tables.spread(Tables.documents(s, dir)), tfidfTerms)
      Retrieval.rrfFuse(
        both.select("doc_id", "bm25"),
        both.select("doc_id", "tfidf"),
        idCol = "doc_id", aScore = "bm25", bScore = "tfidf")
    },

    // CDC snapshot diff: the old snapshot is missing keys ≡3 (mod 10) and
    // carries a stale status for keys ≡0 (mod 7); the new snapshot is
    // missing keys ≡7 (mod 10). Full-outer fingerprint join classifies
    // every key as insert / delete / update / unchanged.
    "cdc1_snapshot_diff" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val k = col("o_orderkey")
      val oldSnap = o.filter(k % 10 =!= 3)
        .withColumn("o_orderstatus",
          when(k % 7 === 0, lit("X")).otherwise(col("o_orderstatus")))
      val newSnap = o.filter(k % 10 =!= 7)
      ChangeCapture.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
    },

    // MERGE-apply round trip: applying cdc1's classified changeset to the
    // old snapshot must reconstruct the new snapshot EXACTLY — the oracle
    // is the new snapshot's own definition, so any mis-applied
    // insert/update/delete fails the hash compare.
    "cdc2_merge_apply" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val k = col("o_orderkey")
      val oldSnap = o.filter(k % 10 =!= 3)
        .withColumn("o_orderstatus",
          when(k % 7 === 0, lit("X")).otherwise(col("o_orderstatus")))
      val newSnap = o.filter(k % 10 =!= 7)
      val changes = ChangeCapture.snapshotDiff(oldSnap, newSnap,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      ChangeCapture.applyChangeset(oldSnap, changes, newSnap,
        Seq("o_orderkey"))
    },

    // Closed-form OLS trend fit of each series' daily volume (the drift
    // line a data-freshness monitor plots): slope/intercept from the five
    // sufficient statistics via the normal equations — one
    // map-side-combined aggregate per series, no iteration, no driver
    // math. The statistics are exact integer sums; slope and intercept
    // are the same fixed IEEE tree in both engines.
    "ml6_ols_fit" -> { (s, dir) =>
      val daily = Tables.eventsUs(s, dir)
        .select(col("event_type"),
          expr("ts div 86400000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val st = daily.groupBy("event_type").agg(
        count(lit(1)).as("m"),
        sum(col("day")).as("sx"), sum(col("n")).as("sy"),
        sum(col("day") * col("n")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      // a one-day (or constant-day) series has a singular normal
      // equation — slope/intercept NULL, not a divide-by-zero
      val det = col("m") * col("sxx") - col("sx") * col("sx")
      val slope = when(det =!= 0,
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          det.cast("double"))
      st.select(col("event_type"), col("m"), slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("m").cast("double")).as("intercept"))
    },

    // Inverted-index build: per-term document frequency, total term
    // frequency, and the SORTED postings list (comma-joined doc ids — a
    // string in both engines, so the oracle hash covers postings ORDER).
    // Two shuffles: (term, doc) partial-tf, then term rollup; the
    // per-term collect is bounded by document frequency, and the df
    // floor keeps harness output at head-term postings (a real index
    // shards exactly these hot postings lists by doc-range).
    "ir4_postings" -> { (s, dir) =>
      val toks = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("term"))
      val tf = toks.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
          concat_ws(",",
            sort_array(collect_list(col("doc_id"))).cast("array<string>"))
            .as("postings"))
        .filter(col("df") >= 40)
    },

    // Positional phrase retrieval: the exact-phrase step an index serves
    // AFTER the term-level candidate fetch (ir4's postings say which docs
    // hold both words; positions say whether they are ADJACENT). The
    // phrase itself is data-derived (the corpus argmax bigram, bpe-style
    // deterministic tie-break) so the query is scale-invariant; adjacency
    // comes from one lead() over the doc-partitioned position order — the
    // co-partitioned shape a positional index evaluates phrases with,
    // never a doc-text rescan.
    "ir7_phrase_match" -> { (s, dir) =>
      val tp = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          posexplode(split(TextAnalysis.normalizeText(col("text")), " ")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          col("col").as("tok"))
      val order = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val big = tp.withColumn("nxt", lead(col("tok"), 1).over(order))
        .filter(col("nxt").isNotNull)
      val top = big.groupBy("tok", "nxt").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("nxt")).limit(1)
        .select(col("tok").as("p1"), col("nxt").as("p2"))
      big.crossJoin(broadcast(top))
        .filter(col("tok") === col("p1") && col("nxt") === col("p2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
    },

    // IR9 (beyond reference): SNIPPET extraction — the search-result
    // preview: for every document matching ir7's corpus-argmax phrase,
    // the ±2-token window around the FIRST match, joined back to text.
    // Window selection is per-row array slicing on the already-held
    // token array (1-based slice over the 0-based position — both
    // engines clamp identically via greatest), so snippets cost one
    // phrase-match pass plus a projection — no text re-scan, no UDF.
    "ir9_snippets" -> { (s, dir) =>
      val toksCol = split(TextAnalysis.normalizeText(col("text")), " ")
      val docs = Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
        toksCol.as("toks"))
      val tp = docs.select(col("doc_id"), posexplode(col("toks")))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          col("col").as("tok"))
      val order = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val big = tp.withColumn("nxt", lead(col("tok"), 1).over(order))
        .filter(col("nxt").isNotNull)
      val top = big.groupBy("tok", "nxt").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"), col("nxt")).limit(1)
        .select(col("tok").as("p1"), col("nxt").as("p2"))
      val firsts = big.crossJoin(broadcast(top))
        .filter(col("tok") === col("p1") && col("nxt") === col("p2"))
        .groupBy("doc_id").agg(min(col("pos")).as("first_pos"))
      docs.join(firsts, "doc_id")
        .select(col("doc_id"), col("first_pos"),
          array_join(slice(col("toks"),
            greatest(col("first_pos") - 1, lit(1)).cast("int"),
            lit(6)), " ").as("snippet"))
    },

    // IR8 (beyond reference): CHAMPION LISTS (impact-ordered postings
    // truncation): keep only each term's top-10 highest-tf documents —
    // the index-time pruning that lets query evaluation touch champions
    // first and skip the tail (Manning et al.'s classic early-
    // termination structure). Runs on the custom TopKPerKey physical
    // operator: per-term bounded heaps BELOW the exchange, so the
    // shuffle carries at most term-cardinality × 10 rows — at web scale
    // the difference between shipping postings and shipping champions.
    "ir8_champion_lists" -> { (s, dir) =>
      val postings = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      graft.plans.TopKPerKey.topKPerKey(postings,
        keys = Seq(col("term")),
        order = Seq(col("tf").desc, col("doc_id").asc),
        k = 10)
    },

    // S11 (beyond reference): word2vec NEGATIVE-SAMPLING distribution —
    // the f^(3/4)-smoothed unigram table every skip-gram trainer draws
    // negatives from. The ¾ power is computed as sqrt(sqrt(f³)) — two
    // correctly-rounded IEEE sqrts on an exact-integer input, so both
    // engines produce bit-identical weights with no libm pow — then
    // milli-quantized per term BEFORE the normalizing sum, making the
    // denominator an order-free integer. One vocabulary aggregate, one
    // broadcast scalar.
    "s11_negative_sampling" -> { (s, dir) =>
      val tf = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("f"))
        .filter(col("f") >= 10)
        .withColumn("wq",
          floor(sqrt(sqrt((col("f") * col("f") * col("f")).cast("double")))
            * lit(1000)).cast("bigint"))
      val tot = tf.agg(sum(col("wq")).as("wt"))
      tf.crossJoin(broadcast(tot))
        .select(col("term"), col("f"), col("wq"),
          expr("(wq * 1000000) div wt").as("p_micro"))
    },

    // ML12 (beyond reference): DECILE LIFT / GAINS table — "if we only
    // review the top 10/20/…% by score, what share of positives do we
    // catch?", the campaign-targeting readout that complements ml4's
    // scalar AUC with an actionable curve. Deciles come from
    // GlobalRank's range layout and the (rn−1)·10 div N closed form
    // (never a one-task window over the corpus); the cumulative window
    // runs over 10 decile rows — metadata. Lift is exact-integer
    // cross-products cast once to double, so both engines emit
    // identical curves.
    "ml12_decile_lift" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val labeled = labelledScores(s, dir)
        .select(col("doc_id"), col("score"), col("label"))
      val n = labeled.count()
      val ranked = GlobalRank.withGlobalRowNumber(
          labeled.withColumn("neg", -col("score")),
          Seq(col("neg"), col("doc_id")), "rn")
        .withColumn("decile", expr(s"((rn - 1) * 10) div $n + 1"))
      val per = ranked.groupBy("decile").agg(count(lit(1)).as("n_rows"),
        sum(when(col("label"), 1L).otherwise(0L)).as("npos"))
      val tot = per.agg(sum(col("n_rows")).as("nt"),
        sum(col("npos")).as("pt"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.withColumn("cum_n", sum(col("n_rows")).over(w))
        .withColumn("cum_pos", sum(col("npos")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_rows"), col("npos"), col("cum_pos"),
          ((col("cum_pos") * col("nt")).cast("double") /
            (col("cum_n") * col("pt")).cast("double")).as("lift"),
          (col("cum_pos").cast("double") / col("pt").cast("double"))
            .as("gain"))
    },

    // ML13 (beyond reference): Murphy DECOMPOSITION of the Brier score —
    // reliability (calibration error), resolution (how much forecasts
    // separate outcomes), uncertainty (base-rate entropy): the readout
    // that says WHY a probabilistic quality score is good or bad, where
    // ml3 only plots it. Forecast = score clamped into {0..32}/32, so
    // every group statistic is an exact rational; each component term is
    // floor-quantized to micro AFTER its exact integer numerator/
    // denominator form (decimal(38) — the (npos·N − P·n)² cross terms
    // pass 2^63), summed order-free, divided once. Brier = REL − RES +
    // UNC holds up to quantization (each side also reported).
    "ml13_brier_decomposition" -> { (s, dir) =>
      val sc = labelledScores(s, dir)
        .select(expr("least(greatest(score + 16, 0), 32)").as("s"),
          col("label"))
      val per = sc.groupBy("s").agg(count(lit(1)).as("nk"),
        sum(when(col("label"), 1L).otherwise(0L)).as("pk"))
      val tot = per.agg(sum(col("nk")).as("n"), sum(col("pk")).as("p"))
      per.crossJoin(broadcast(tot))
        .select(col("nk"), col("pk"), col("s"), col("n"), col("p"),
          // n_k·p_k² − 2·p_k·pos_k + pos_k in 1/1024 units → exact
          (col("nk") * col("s") * col("s") - lit(64) * col("s") * col("pk")
            + lit(1024) * col("pk")).as("brier_num"),
          // n_k·(p_k − pos_k/n_k)² = (s·n_k − 32·pos_k)² / (1024·n_k)
          expr("""cast(cast((s * nk - 32 * pk) as decimal(38,0))
                 |* (s * nk - 32 * pk) * 1000000
                 |div (1024 * nk) as bigint)"""
            .stripMargin.replace("\n", " ")).as("rel_term_micro"),
          // n_k·(pos_k/n_k − P/N)² = (pos_k·N − P·n_k)² / (n_k·N²)
          expr("""cast(cast((pk * n - p * nk) as decimal(38,0))
                 |* (pk * n - p * nk) * 1000000
                 |div (cast(nk as decimal(38,0)) * n * n) as bigint)"""
            .stripMargin.replace("\n", " ")).as("res_term_micro"))
        .groupBy()
        .agg(max(col("n")).as("n"), max(col("p")).as("p"),
          sum(col("brier_num")).as("bn"),
          sum(col("rel_term_micro")).as("rel_sum"),
          sum(col("res_term_micro")).as("res_sum"))
        .select(col("n"), col("p"),
          expr("(bn * 1000000) div (1024 * n)").as("brier_micro"),
          expr("rel_sum div n").as("rel_micro"),
          expr("res_sum div n").as("res_micro"),
          expr("(p * (n - p) * 1000000) div (n * n)").as("unc_micro"))
    },
  )

  def oracleSql: Map[String, String] = Map(
    "ir7_phrase_match" ->
      s"""WITH tp AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
         |        FROM documents),
         |       unnest(generate_series(1, len(toks))) AS s(i)),
         |big AS (
         |  SELECT doc_id, pos, tok,
         |    LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM tp),
         |bg AS (SELECT * FROM big WHERE nxt IS NOT NULL),
         |top AS (
         |  SELECT tok AS p1, nxt AS p2 FROM bg
         |  GROUP BY tok, nxt
         |  ORDER BY COUNT(*) DESC, tok, nxt LIMIT 1)
         |SELECT doc_id, COUNT(*) AS n_matches, MIN(pos) AS first_pos
         |FROM bg CROSS JOIN top
         |WHERE tok = p1 AND nxt = p2
         |GROUP BY doc_id""".stripMargin,
    "fe7_feature_cross" ->
      """SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS n,
        |  CAST(('0x' || substr(md5(o_orderstatus || '|' ||
        |    o_orderpriority), 1, 15)) AS BIGINT) % 1024 AS bucket
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "fe6_quantile_norm" ->
      """WITH ranked AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS r,
        |    COUNT(*) OVER (PARTITION BY source) AS ns
        |  FROM documents),
        |qq AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN ns > 1 THEN ((r - 1) * 1000000) // (ns - 1)
        |         ELSE 0 END AS q_micro
        |  FROM ranked),
        |gv AS (
        |  SELECT n_chars AS gval,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr
        |  FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT qq.doc_id, qq.source, qq.n_chars, qq.q_micro,
        |  g.gval AS norm_value
        |FROM qq CROSS JOIN nn
        |JOIN gv g ON g.gr = 1 + (qq.q_micro * (nn.n - 1)) // 1000000"""
        .stripMargin,
    "ml6_ols_fit" ->
      """WITH daily AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, COUNT(*) AS m,
        |    CAST(SUM(CAST(day AS HUGEINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(n AS HUGEINT)) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(day AS HUGEINT) * n) AS BIGINT) AS sxy,
        |    CAST(SUM(CAST(day AS HUGEINT) * day) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, m,
        |  CASE WHEN m * sxx - sx * sx <> 0 THEN
        |    CAST(m * sxy - sx * sy AS DOUBLE) /
        |      CAST(m * sxx - sx * sx AS DOUBLE) END AS slope,
        |  CASE WHEN m * sxx - sx * sx <> 0 THEN
        |    (CAST(sy AS DOUBLE) -
        |      (CAST(m * sxy - sx * sy AS DOUBLE) /
        |       CAST(m * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
        |      CAST(m AS DOUBLE) END AS intercept
        |FROM s""".stripMargin,
    "ir4_postings" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2)
         |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
         |    AS postings
         |FROM tf GROUP BY term HAVING COUNT(*) >= 40""".stripMargin,
    "ml5_ndcg" ->
      """WITH cand AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST((1 << CAST(c_custkey % 4 AS INTEGER)) - 1 AS BIGINT) AS gain
        |  FROM customer),
        |sys AS (
        |  SELECT c_mktsegment, gain,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS r
        |  FROM cand QUALIFY r <= 10),
        |sdcg AS (
        |  SELECT c_mktsegment,
        |    CAST(SUM(gain * CAST(floor(1e9 / log2(r + 1)) AS BIGINT))
        |         AS BIGINT) AS dcg
        |  FROM sys GROUP BY 1),
        |idl AS (
        |  SELECT c_mktsegment, gain,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY gain DESC, c_acctbal DESC,
        |                                c_custkey ASC) AS r
        |  FROM cand QUALIFY r <= 10),
        |icg AS (
        |  SELECT c_mktsegment,
        |    CAST(SUM(gain * CAST(floor(1e9 / log2(r + 1)) AS BIGINT))
        |         AS BIGINT) AS idcg
        |  FROM idl GROUP BY 1)
        |SELECT s.c_mktsegment, s.dcg, i.idcg,
        |  CAST((s.dcg * 1000000) // i.idcg AS BIGINT) AS ndcg_micro
        |FROM sdcg s JOIN icg i USING (c_mktsegment)""".stripMargin,
    "ml1_linear_score" ->
      s"""SELECT doc_id, n_terms, score, score >= 0 AS keep FROM (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_terms,
         |    CAST(-3 + list_sum(list_transform(toks, t ->
         |      $weightSql)) AS BIGINT) AS score
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
         |        FROM documents))""".stripMargin,
    "ml20_fairness_audit" ->
      s"""WITH $scoreSql,
         |lab AS (SELECT doc_id, lang, length(text) >= 100 AS hq
         |        FROM documents),
         |d AS (SELECT sc.doc_id, score >= 0 AS keep, lang, hq
         |      FROM sc JOIN lab USING (doc_id)),
         |g AS (SELECT COUNT(*) AS gn,
         |      SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS gk FROM d),
         |per AS (SELECT lang, COUNT(*) AS n,
         |    SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS k,
         |    SUM(CASE WHEN hq THEN 1 ELSE 0 END) AS np,
         |    SUM(CASE WHEN hq AND keep THEN 1 ELSE 0 END) AS tp,
         |    SUM(CASE WHEN NOT hq AND keep THEN 1 ELSE 0 END) AS fp
         |  FROM d GROUP BY 1),
         |r AS (SELECT lang, n, k, np, tp, fp,
         |    CASE WHEN gk > 0 THEN (k * 1000000 // n) * gn // gk
         |      END AS di
         |  FROM per CROSS JOIN g)
         |SELECT lang, CAST(n AS BIGINT) AS n,
         |  CAST(k * 1000000 // n AS BIGINT) AS sel_rate_micro,
         |  CASE WHEN np > 0 THEN CAST(tp * 1000000 // np AS BIGINT)
         |    END AS tpr_micro,
         |  CASE WHEN n - np > 0 THEN
         |    CAST(fp * 1000000 // (n - np) AS BIGINT) END AS fpr_micro,
         |  CAST(di AS BIGINT) AS disparate_impact_micro,
         |  di IS NOT NULL AND di < 800000 AS flagged
         |FROM r""".stripMargin,
    "cp1_split_conformal" ->
      s"""WITH $scoreSql,
         |lab AS (SELECT doc_id, lang = 'en' AS en FROM documents),
         |d AS (
         |  SELECT sc.doc_id, score, en,
         |    CASE WHEN en THEN -score ELSE score END AS a,
         |    CAST(('0x' || substr(md5('cp1:' ||
         |      CAST(sc.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 1000 % 2 AS gate
         |  FROM sc JOIN lab USING (doc_id)),
         |cal AS (SELECT a, doc_id FROM d WHERE gate = 0),
         |nc AS (SELECT COUNT(*) AS n_cal FROM cal),
         |calr AS (SELECT a,
         |    ROW_NUMBER() OVER (ORDER BY a, doc_id) AS rn FROM cal),
         |q AS (
         |  SELECT n_cal, MIN(CASE WHEN
         |      rn = (9 * (n_cal + 1) + 9) // 10 THEN a END) AS qhat
         |  FROM calr CROSS JOIN nc GROUP BY n_cal)
         |SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
         |  CAST(q.qhat AS BIGINT) AS qhat,
         |  CAST(COUNT(*) AS BIGINT) AS n_test,
         |  CAST(SUM(CASE WHEN a <= qhat THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS coverage_micro,
         |  CAST(SUM((CASE WHEN -score <= qhat THEN 1 ELSE 0 END)
         |    + (CASE WHEN score <= qhat THEN 1 ELSE 0 END))
         |    * 1000000 // COUNT(*) AS BIGINT) AS avg_set_micro
         |FROM d CROSS JOIN q WHERE gate <> 0
         |GROUP BY 1, 2""".stripMargin,
    "cp2_mondrian_conformal" ->
      s"""WITH $scoreSql,
         |lab AS (SELECT doc_id, lang = 'en' AS en FROM documents),
         |d AS (
         |  SELECT sc.doc_id, score, en,
         |    CASE WHEN en THEN -score ELSE score END AS a,
         |    CAST(('0x' || substr(md5('cp1:' ||
         |      CAST(sc.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 1000 % 2 AS gate
         |  FROM sc JOIN lab USING (doc_id)),
         |cal AS (SELECT en, a, doc_id FROM d WHERE gate = 0),
         |calr AS (SELECT en, a,
         |    ROW_NUMBER() OVER (PARTITION BY en ORDER BY a, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY en) AS n_cal
         |  FROM cal),
         |q AS (SELECT en, MIN(n_cal) AS n_cal, MIN(a) AS qhat
         |      FROM calr WHERE rn = (9 * (n_cal + 1) + 9) // 10
         |      GROUP BY en)
         |SELECT d.en, CAST(q.n_cal AS BIGINT) AS n_cal,
         |  CAST(q.qhat AS BIGINT) AS qhat,
         |  CAST(COUNT(*) AS BIGINT) AS n_test,
         |  CAST(SUM(CASE WHEN a <= qhat THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS coverage_micro
         |FROM d JOIN q ON d.en = q.en WHERE gate <> 0
         |GROUP BY 1, 2, 3""".stripMargin,
    "ml19_confident_learning" ->
      s"""WITH $scoreSql,
         |lab AS (SELECT doc_id, lang = 'en' AS en FROM documents),
         |d AS (SELECT en, score AS sc2,
         |        CAST(score AS DOUBLE) AS sd
         |      FROM sc JOIN lab USING (doc_id)),
         |th AS (
         |  SELECT en,
         |    CAST(SUM(sc2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS t
         |  FROM d GROUP BY 1),
         |t AS (SELECT MIN(CASE WHEN en THEN t END) AS t_en,
         |        MIN(CASE WHEN NOT en THEN t END) AS t_other FROM th),
         |c AS (
         |  SELECT en,
         |    CASE WHEN sd >= t_en AND sd <= t_other THEN
         |        (CASE WHEN sd - t_en >= t_other - sd
         |         THEN 'en' ELSE 'other' END)
         |      WHEN sd >= t_en THEN 'en'
         |      WHEN sd <= t_other THEN 'other' END AS chat
         |  FROM d CROSS JOIN t),
         |cnt AS (SELECT en, chat, COUNT(*) AS n FROM c GROUP BY 1, 2),
         |pl AS (SELECT en, SUM(n) AS n_label FROM cnt GROUP BY 1)
         |SELECT cnt.en, cnt.chat, CAST(cnt.n AS BIGINT) AS n,
         |  CAST(cnt.n * 1000000 // pl.n_label AS BIGINT) AS share_micro
         |FROM cnt JOIN pl USING (en)""".stripMargin,
    "ml14_trained_score" -> {
      val wList = trainedWeights.mkString("[", ",", "]")
      s"""SELECT doc_id, n_terms, score, score >= 0 AS keep FROM (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_terms,
         |    CAST(5 + list_sum(list_transform(toks, t ->
         |      ($wList)[CAST(CAST(('0x' || substr(md5(t), 1, 15))
         |        AS BIGINT) % 64 AS INTEGER) + 1])) AS BIGINT) AS score
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
         |        FROM documents))""".stripMargin
    },
    "ml18_train_then_score" -> {
      val gateSql = "CAST(('0x' || substr(md5('ml18:' || " +
        "CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 % 2"
      s"""WITH tr AS (
         |  SELECT lang = 'en' AS en,
         |    unnest(string_split($normSql, ' ')) AS t
         |  FROM documents WHERE $gateSql = 0),
         |wt AS (
         |  SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64
         |      AS b,
         |    SUM(CASE WHEN en THEN 1 ELSE 0 END) * 2000000
         |      // COUNT(*) - 1000000 AS w
         |  FROM tr GROUP BY 1),
         |ho AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS toks
         |  FROM documents WHERE $gateSql <> 0),
         |tok AS (SELECT doc_id, unnest(toks) AS t FROM ho),
         |sc AS (
         |  SELECT tok.doc_id, SUM(COALESCE(wt.w, 0)) AS score
         |  FROM tok LEFT JOIN wt
         |    ON CAST(('0x' || substr(md5(tok.t), 1, 15)) AS BIGINT) % 64
         |      = wt.b
         |  GROUP BY 1)
         |SELECT ho.doc_id, CAST(len(ho.toks) AS BIGINT) AS n_terms,
         |  CAST(sc.score AS BIGINT) AS score, sc.score >= 0 AS keep
         |FROM ho JOIN sc USING (doc_id)""".stripMargin
    },
    "ml2_threshold_sweep" ->
      s"""WITH $labelledScoreSql,
         |by_score AS (
         |  SELECT score AS threshold, COUNT(*) AS n,
         |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos
         |  FROM sc GROUP BY score)
         |SELECT threshold,
         |  CAST(pred_pos AS BIGINT) AS pred_pos,
         |  CAST(tp AS BIGINT) AS tp,
         |  CAST(pred_pos - tp AS BIGINT) AS fp,
         |  CAST(total_pos - tp AS BIGINT) AS fn,
         |  CAST(tp AS DOUBLE) / CAST(pred_pos AS DOUBLE) AS "precision",
         |  CAST(tp AS DOUBLE) / CAST(total_pos AS DOUBLE) AS recall
         |FROM (
         |  SELECT threshold,
         |    SUM(n) OVER w AS pred_pos,
         |    SUM(npos) OVER w AS tp,
         |    SUM(npos) OVER () AS total_pos
         |  FROM by_score
         |  WINDOW w AS (ORDER BY threshold DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin,
    "ml21_xauc" ->
      s"""WITH sc AS (
         |  SELECT CAST(-3 + list_sum(list_transform(toks, t ->
         |      $weightSql)) AS BIGINT) AS score,
         |    en, label
         |  FROM (SELECT string_split($normSql, ' ') AS toks,
         |        lang = 'en' AS en,
         |        (CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+'))
         |         END) > 40 AS label
         |        FROM documents)),
         |by_score AS (
         |  SELECT score,
         |    SUM(CASE WHEN label AND en THEN 1 ELSE 0 END) AS pos_en,
         |    SUM(CASE WHEN label AND NOT en THEN 1 ELSE 0 END) AS pos_ot,
         |    SUM(CASE WHEN NOT label AND en THEN 1 ELSE 0 END) AS neg_en,
         |    SUM(CASE WHEN NOT label AND NOT en THEN 1 ELSE 0 END)
         |      AS neg_ot
         |  FROM sc GROUP BY score),
         |ranked AS (
         |  SELECT pos_en, pos_ot, neg_en, neg_ot,
         |    SUM(neg_ot) OVER w AS cneg_ot,
         |    SUM(neg_en) OVER w AS cneg_en
         |  FROM by_score
         |  WINDOW w AS (ORDER BY score ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |agg AS (
         |  SELECT CAST(SUM(pos_en) AS BIGINT) AS p_en,
         |    CAST(SUM(pos_ot) AS BIGINT) AS p_ot,
         |    CAST(SUM(neg_en) AS BIGINT) AS n_en,
         |    CAST(SUM(neg_ot) AS BIGINT) AS n_ot,
         |    SUM(CAST(pos_en AS HUGEINT) * (2 * cneg_ot - neg_ot))
         |      AS s2_en,
         |    SUM(CAST(pos_ot AS HUGEINT) * (2 * cneg_en - neg_en))
         |      AS s2_ot
         |  FROM ranked)
         |SELECT p_en, p_ot, n_en, n_ot,
         |  CASE WHEN p_en > 0 AND n_ot > 0 THEN
         |    CAST(s2_en AS DOUBLE) /
         |    (2.0 * CAST(CAST(p_en AS HUGEINT) * n_ot AS DOUBLE))
         |  END AS xauc_en_over_ot,
         |  CASE WHEN p_ot > 0 AND n_en > 0 THEN
         |    CAST(s2_ot AS DOUBLE) /
         |    (2.0 * CAST(CAST(p_ot AS HUGEINT) * n_en AS DOUBLE))
         |  END AS xauc_ot_over_en
         |FROM agg""".stripMargin,
    "ml4_auc" ->
      s"""WITH $labelledScoreSql,
         |by_score AS (
         |  SELECT score, COUNT(*) AS n,
         |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos
         |  FROM sc GROUP BY score),
         |ranked AS (
         |  SELECT score, n, npos,
         |    SUM(n) OVER (ORDER BY score ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_rn
         |  FROM by_score),
         |contrib AS (
         |  SELECT npos, n, npos * (max_rn - n + 1 + max_rn) AS two_rank_sum
         |  FROM ranked)
         |SELECT CAST(SUM(npos) AS BIGINT) AS npos,
         |  CAST(SUM(n - npos) AS BIGINT) AS nneg,
         |  CASE WHEN SUM(npos) > 0 AND SUM(n - npos) > 0 THEN
         |    CAST(SUM(two_rank_sum) - SUM(npos) * (SUM(npos) + 1)
         |      AS DOUBLE) /
         |    (2.0e0 * CAST(SUM(npos) * SUM(n - npos) AS DOUBLE)) END AS auc
         |FROM contrib""".stripMargin,
    "fe10_feature_mi" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, lang = 'en' AS label FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |r AS (
        |  SELECT doc_id, label,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn FROM d),
        |b AS (
        |  SELECT label, ((rn - 1) * 4) // nn.n + 1 AS bucket
        |  FROM r CROSS JOIN nn),
        |cells AS (
        |  SELECT bucket, label, COUNT(*) AS nc FROM b GROUP BY 1, 2),
        |ft AS (SELECT bucket, SUM(nc) AS nf FROM cells GROUP BY bucket),
        |yt AS (SELECT label, SUM(nc) AS ny FROM cells GROUP BY label),
        |t AS (
        |  SELECT c.nc,
        |    CAST(FLOOR(ln(CAST(c.nc * nn.n AS DOUBLE) /
        |      CAST(f.nf * y.ny AS DOUBLE)) * 1e6) AS BIGINT) AS ln_micro
        |  FROM cells c JOIN ft f USING (bucket) JOIN yt y USING (label)
        |  CROSS JOIN nn)
        |SELECT CAST(SUM(nc * ln_micro) AS BIGINT) AS mi_num_micro,
        |  CAST(SUM(nc * ln_micro) AS DOUBLE) /
        |    CAST((SELECT n FROM nn) AS DOUBLE) / 1e6 AS mi_nats
        |FROM t""".stripMargin,
    "ml11_psi" ->
      s"""WITH $scoreSql,
         |b AS (SELECT score // 4 AS bin, doc_id % 2 = 0 AS is_old FROM sc),
         |cells AS (
         |  SELECT bin,
         |    SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS n_o,
         |    SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS n_n
         |  FROM b GROUP BY bin
         |  HAVING SUM(CASE WHEN is_old THEN 1 ELSE 0 END) > 0
         |     AND SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) > 0),
         |w AS (
         |  SELECT n_o, n_n,
         |    SUM(n_o) OVER () AS t_o, SUM(n_n) OVER () AS t_n
         |  FROM cells),
         |t AS (
         |  SELECT t_o, t_n,
         |    n_n * t_o - n_o * t_n AS diff_num,
         |    CAST(FLOOR(ln(CAST(n_n * t_o AS DOUBLE) /
         |      CAST(n_o * t_n AS DOUBLE)) * 1e6) AS BIGINT) AS ln_micro
         |  FROM w)
         |SELECT CAST(MAX(t_o) AS BIGINT) AS n_old,
         |  CAST(MAX(t_n) AS BIGINT) AS n_new,
         |  CAST(SUM(diff_num * ln_micro) AS BIGINT) AS psi_num_micro,
         |  CAST(SUM(diff_num * ln_micro) AS DOUBLE) /
         |    CAST(MAX(t_o) * MAX(t_n) AS DOUBLE) / 1e6 AS psi
         |FROM t""".stripMargin,
    "ml10_ks_stat" ->
      s"""WITH $labelledScoreSql,
         |by_score AS (
         |  SELECT score, COUNT(*) AS n,
         |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos
         |  FROM sc GROUP BY score),
         |cum AS (
         |  SELECT
         |    SUM(npos) OVER w AS cum_pos,
         |    SUM(n - npos) OVER w AS cum_neg,
         |    SUM(npos) OVER () AS tot_pos,
         |    SUM(n - npos) OVER () AS tot_neg
         |  FROM by_score
         |  WINDOW w AS (ORDER BY score ASC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(MAX(tot_pos) AS BIGINT) AS n_pos,
         |  CAST(MAX(tot_neg) AS BIGINT) AS n_neg,
         |  CAST(MAX(abs(cum_pos * tot_neg - cum_neg * tot_pos)) AS BIGINT)
         |    AS ks_num,
         |  CASE WHEN MAX(tot_pos) > 0 AND MAX(tot_neg) > 0 THEN
         |    CAST(MAX(abs(cum_pos * tot_neg - cum_neg * tot_pos)) AS DOUBLE)
         |      / CAST(MAX(tot_pos) * MAX(tot_neg) AS DOUBLE) END AS ks
         |FROM cum""".stripMargin,
    "ml8_average_precision" ->
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    CAST(-3 + list_sum(list_transform(toks, t ->
         |      $weightSql)) AS BIGINT) AS score,
         |    label
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks,
         |        lang = 'en' AS label FROM documents)),
         |r AS (
         |  SELECT doc_id, score, label,
         |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM sc),
         |p AS (
         |  SELECT rn, ROW_NUMBER() OVER (ORDER BY rn) AS pos_rank
         |  FROM r WHERE label),
         |t AS (SELECT (pos_rank * 1000000000) // rn AS prec_nano FROM p)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
         |  CAST(SUM(prec_nano) AS BIGINT) AS sum_prec_nano,
         |  CAST(SUM(prec_nano) AS DOUBLE) / 1e9 /
         |    CAST(COUNT(*) AS DOUBLE) AS average_precision
         |FROM t""".stripMargin,
    "ml17_mcnemar" -> {
      val wList = trainedWeights.mkString("[", ",", "]")
      s"""WITH sc AS (
         |  SELECT
         |    (CAST(-3 + list_sum(list_transform(toks, t ->
         |      $weightSql)) AS BIGINT) >= 0) = label AS ca,
         |    (CAST(5 + list_sum(list_transform(toks, t ->
         |      ($wList)[CAST(CAST(('0x' || substr(md5(t), 1, 15))
         |        AS BIGINT) % 64 AS INTEGER) + 1])) AS BIGINT) >= 0) = label
         |      AS cb
         |  FROM (SELECT string_split($normSql, ' ') AS toks,
         |        lang = 'en' AS label FROM documents)),
         |cells AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_both_right,
         |    CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_both_wrong,
         |    CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a_only,
         |    CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b_only
         |  FROM sc)
         |SELECT n_both_right, n_both_wrong, n_a_only, n_b_only,
         |  CASE WHEN n_a_only + n_b_only > 0 THEN
         |    CAST((n_a_only - n_b_only) * (n_a_only - n_b_only) AS DOUBLE)
         |      / CAST(n_a_only + n_b_only AS DOUBLE)
         |  END AS chi2
         |FROM cells""".stripMargin
    },
    "ml15_ece" ->
      s"""WITH $labelledScoreSql,
         |conf AS (
         |  SELECT score, label,
         |    least(1000000, greatest(0, (score + 20) * 1000000 // 40))
         |      AS conf_micro
         |  FROM sc),
         |bins AS (
         |  SELECT CAST(FLOOR(score / 4.0e0) AS BIGINT) AS bin,
         |    COUNT(*) AS n,
         |    SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos,
         |    SUM(conf_micro) AS sum_conf
         |  FROM conf GROUP BY 1),
         |gaps AS (
         |  SELECT n, abs(npos * 1000000 // n - sum_conf // n) AS gap_micro
         |  FROM bins)
         |SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         |  CAST(SUM(n * gap_micro) // SUM(n) AS BIGINT) AS ece_micro,
         |  CAST(MAX(gap_micro) AS BIGINT) AS mce_micro
         |FROM gaps""".stripMargin,
    "ml16_cohens_kappa" ->
      s"""WITH sc AS (
         |  SELECT CAST(-3 + list_sum(list_transform(toks, t ->
         |      $weightSql)) AS BIGINT) >= 0 AS keep,
         |    label
         |  FROM (SELECT string_split($normSql, ' ') AS toks,
         |        lang = 'en' AS label FROM documents)),
         |cells AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN keep AND label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n11,
         |    CAST(SUM(CASE WHEN keep AND NOT label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n10,
         |    CAST(SUM(CASE WHEN NOT keep AND label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n01,
         |    CAST(SUM(CASE WHEN NOT keep AND NOT label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n00
         |  FROM sc)
         |SELECT n11, n10, n01, n00,
         |  CAST((n11 + n10 + n01 + n00) * (n11 + n00)
         |    - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
         |    AS DOUBLE) /
         |  CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
         |    - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
         |    AS DOUBLE) AS kappa
         |FROM cells""".stripMargin,
    "ml3_calibration" ->
      s"""WITH $labelledScoreSql
         |SELECT CAST(FLOOR(score / 4.0e0) AS BIGINT) AS bin,
         |  COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS npos,
         |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS pos_rate
         |FROM sc GROUP BY 1""".stripMargin,
    "fe21_hashing_collision_audit" -> {
      def one(dim: Int) =
        s"""SELECT CAST($dim AS BIGINT) AS dim,
           |  CAST(COUNT(*) AS BIGINT) AS n_used_buckets,
           |  CAST(SUM(n_tokens) AS BIGINT) AS vocab,
           |  CAST(SUM(CASE WHEN n_tokens > 1 THEN n_tokens ELSE 0 END)
           |    AS BIGINT) AS n_colliding,
           |  CAST(MAX(n_tokens) AS BIGINT) AS max_load,
           |  CAST(SUM(CASE WHEN n_tokens > 1 THEN n_tokens ELSE 0 END)
           |    * 1000000 // SUM(n_tokens) AS BIGINT) AS collide_micro
           |FROM (
           |  SELECT CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
           |    % $dim AS bucket, COUNT(*) AS n_tokens
           |  FROM vocab GROUP BY 1) b
           |HAVING COUNT(*) > 0""".stripMargin
      s"""WITH vocab AS (
         |  SELECT token FROM (
         |    SELECT unnest(string_split($normSql, ' ')) AS token
         |    FROM documents) z
         |  WHERE length(token) > 0 GROUP BY token)
         |${one(16)}
         |UNION ALL
         |${one(64)}
         |UNION ALL
         |${one(256)}""".stripMargin
    },
    "fe20_redundancy_groups" ->
      s"""WITH RECURSIVE ${laneSql("BIGINT")},
        |st AS (
        |  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
        |    SUM(CAST(a.q AS HUGEINT)) AS sx,
        |    SUM(CAST(b.q AS HUGEINT)) AS sy,
        |    SUM(CAST(a.q AS HUGEINT) * b.q) AS sxy,
        |    SUM(CAST(a.q AS HUGEINT) * a.q) AS sxx,
        |    SUM(CAST(b.q AS HUGEINT) * b.q) AS syy
        |  FROM l a JOIN l b ON a.vec_id = b.vec_id AND a.i < b.i
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT i AS a, j AS b FROM st
        |  WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    AND abs(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) > 0.5),
        |und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS cluster_id
        |         FROM reach GROUP BY a),
        |lanes AS (SELECT DISTINCT i AS lane FROM l)
        |SELECT lane, COALESCE(c.cluster_id, lane) AS group_id
        |FROM lanes LEFT JOIN comp c ON lane = c.node""".stripMargin,
    "fe19_pca_direction" -> {
      val rounds = (1 to 4).map { r =>
        s"""nv_$r AS (
           |  SELECT c.i, SUM(c.c * v.v) AS nv
           |  FROM cells c JOIN v_${r - 1} v ON c.j = v.i GROUP BY c.i),
           |m_$r AS (SELECT MAX(ABS(nv)) AS m FROM nv_$r),
           |v_$r AS (
           |  SELECT i, CAST(CASE WHEN m = 0 THEN 0
           |    WHEN nv >= 0 THEN CAST(nv AS HUGEINT) * 1000000 // m
           |    ELSE -(CAST(-nv AS HUGEINT) * 1000000 // m)
           |  END AS BIGINT) AS v
           |  FROM nv_$r CROSS JOIN m_$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${laneSql("INTEGER")},
         |st AS (
         |  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
         |    SUM(CAST(a.q AS HUGEINT)) AS sx,
         |    SUM(CAST(b.q AS HUGEINT)) AS sy,
         |    SUM(CAST(a.q AS HUGEINT) * b.q) AS sxy
         |  FROM l a JOIN l b ON a.vec_id = b.vec_id
         |  GROUP BY 1, 2),
         |cells AS (
         |  SELECT i, j, CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN
         |      (n * sxy - sx * sy) // (n * (n - 1)) // 1000000
         |    ELSE -((-(n * sxy - sx * sy)) // (n * (n - 1)) // 1000000)
         |  END AS BIGINT) AS c FROM st),
         |v_0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v
         |        FROM cells),
         |$rounds
         |SELECT i, v AS component_micro FROM v_4""".stripMargin
    },
    "fe23_mi_relevance" ->
      """WITH d AS (
        |  SELECT 'source' AS feature, source AS v,
        |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', lang,
        |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
        |  FROM documents),
        |joint AS (SELECT feature, v, y, COUNT(*) AS c_vy
        |  FROM d GROUP BY 1, 2, 3),
        |mv AS (SELECT feature, v, CAST(SUM(c_vy) AS BIGINT) AS c_v
        |  FROM joint GROUP BY 1, 2),
        |my AS (SELECT feature, y, CAST(SUM(c_vy) AS BIGINT) AS c_y
        |  FROM joint GROUP BY 1, 2),
        |n AS (SELECT feature, CAST(SUM(c_vy) AS BIGINT) AS n
        |  FROM joint GROUP BY 1),
        |w AS (
        |  SELECT feature, n,
        |    c_vy * CAST(FLOOR(1e6 * ln(
        |      (CAST(c_vy AS DOUBLE) * CAST(n AS DOUBLE)) /
        |      (CAST(c_v AS DOUBLE) * CAST(c_y AS DOUBLE)))) AS BIGINT)
        |      AS w
        |  FROM joint JOIN mv USING (feature, v)
        |  JOIN my USING (feature, y) JOIN n USING (feature))
        |SELECT feature, n AS n_rows,
        |  CAST(SUM(CAST(w AS HUGEINT)) AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS mi_nat_micro
        |FROM w GROUP BY feature, n""".stripMargin,
    "fe22_equal_freq_binning" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, CAST((rn - 1) * 10 // n AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(n_chars) AS BIGINT) AS lo_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS hi_chars
        |FROM r GROUP BY 1, 2""".stripMargin,
    "fe18_feature_covariance" ->
      s"""WITH ${laneSql("INTEGER")},
        |st AS (
        |  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
        |    SUM(CAST(a.q AS HUGEINT)) AS sx,
        |    SUM(CAST(b.q AS HUGEINT)) AS sy,
        |    SUM(CAST(a.q AS HUGEINT) * b.q) AS sxy,
        |    SUM(CAST(a.q AS HUGEINT) * a.q) AS sxx,
        |    SUM(CAST(b.q AS HUGEINT) * b.q) AS syy
        |  FROM l a JOIN l b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2)
        |SELECT i, j, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 1 THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE) /
        |      CAST(n * (n - 1) AS DOUBLE) END AS cov,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr
        |FROM st""".stripMargin,
    "fe4_zscore" ->
      """WITH stats AS (
        |  SELECT source, COUNT(*) AS n,
        |    SUM(CAST(n_chars AS HUGEINT)) AS s,
        |    SUM(CAST(n_chars * n_chars AS HUGEINT)) AS ss
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CASE WHEN st.n > 1 THEN
        |    (CAST(d.n_chars AS DOUBLE) -
        |      CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE)) /
        |    sqrt((CAST(st.ss AS DOUBLE) -
        |      CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) /
        |        CAST(st.n AS DOUBLE)) / CAST(st.n - 1 AS DOUBLE))
        |  END AS zscore
        |FROM documents d JOIN stats st ON d.source = st.source""".stripMargin,
    "fe9_woe" ->
      """WITH c AS (SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS good,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
        |    AS bad
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(good) AS BIGINT) AS gt,
        |  CAST(SUM(bad) AS BIGINT) AS bt FROM c)
        |SELECT source, good, bad,
        |  CAST(FLOOR(ln(((CAST(good AS DOUBLE) + 0.5e0) /
        |    (CAST(gt AS DOUBLE) + 0.5e0)) /
        |    ((CAST(bad AS DOUBLE) + 0.5e0) /
        |     (CAST(bt AS DOUBLE) + 0.5e0))) * 1e6) AS BIGINT) AS woe_micro
        |FROM c CROSS JOIN tot""".stripMargin,
    "fe5_target_encode" ->
      """WITH d AS (SELECT doc_id, source, lang = 'en' AS label
        |           FROM documents),
        |g AS (SELECT COUNT(*) AS tn,
        |        SUM(CASE WHEN label THEN 1 ELSE 0 END) AS tp FROM d),
        |p AS (SELECT source, COUNT(*) AS n,
        |        SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos
        |      FROM d GROUP BY source),
        |e AS (SELECT source,
        |        (CAST(npos AS DOUBLE) +
        |          10.0e0 * (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))) /
        |        (CAST(n AS DOUBLE) + 10.0e0) AS te_rate
        |      FROM p CROSS JOIN g)
        |SELECT d.doc_id, d.source, e.te_rate
        |FROM d JOIN e USING (source)""".stripMargin,
    "fe8_kfold_target_encode" ->
      """WITH d AS (SELECT doc_id, source, lang = 'en' AS label,
        |    CAST(('0x' || substr(md5('fold' || ':' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 // 200
        |      AS fold
        |  FROM documents),
        |g AS (SELECT COUNT(*) AS tn,
        |        SUM(CASE WHEN label THEN 1 ELSE 0 END) AS tp FROM d),
        |pf AS (SELECT source, fold, COUNT(*) AS nf,
        |         SUM(CASE WHEN label THEN 1 ELSE 0 END) AS posf
        |       FROM d GROUP BY 1, 2),
        |ps AS (SELECT source, SUM(nf) AS n, SUM(posf) AS npos
        |       FROM pf GROUP BY 1),
        |e AS (SELECT pf.source, pf.fold,
        |        (CAST(npos - posf AS DOUBLE) +
        |          10.0e0 * (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))) /
        |        (CAST(n - nf AS DOUBLE) + 10.0e0) AS te_oof
        |      FROM pf JOIN ps USING (source) CROSS JOIN g)
        |SELECT d.doc_id, d.source, d.fold, e.te_oof
        |FROM d JOIN e USING (source, fold)""".stripMargin,
    "ir2_tfidf" -> ir2Sql,
    "ir15_clarity" ->
      s"""WITH a AS (SELECT * FROM (${TrainingDataQueries.bm25Sql}) ta),
         |top AS (SELECT doc_id FROM a
         |  ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
         |toks AS (SELECT doc_id, t FROM (
         |    SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
         |    FROM documents) z
         |  WHERE length(t) > 0),
         |rc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cr
         |  FROM toks JOIN top USING (doc_id) GROUP BY 1),
         |rt AS (SELECT COALESCE(CAST(SUM(cr) AS BIGINT), 0) AS nr,
         |    CAST(COUNT(*) AS BIGINT) AS vr FROM rc),
         |cco AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cc
         |  FROM toks GROUP BY 1),
         |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM toks),
         |terms AS (SELECT nr, vr,
         |    CAST(FLOOR((CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE)) *
         |      ln(CAST(CAST(cr AS HUGEINT) * nc AS DOUBLE) /
         |         CAST(CAST(nr AS HUGEINT) * cc AS DOUBLE)) * 1e9)
         |      AS BIGINT) AS term_nano
         |  FROM cco JOIN rc USING (t) CROSS JOIN rt CROSS JOIN ct)
         |SELECT nr AS rel_tokens, vr AS rel_vocab,
         |  CAST(SUM(term_nano) AS DOUBLE) / 1e9 AS clarity
         |FROM terms GROUP BY 1, 2""".stripMargin,
    "ir14_rbo" ->
      s"""WITH a AS (SELECT * FROM (${TrainingDataQueries.bm25Sql}) ta),
         |b AS (SELECT * FROM ($ir2Sql) tb),
         |ra AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS r_a
         |  FROM a ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
         |rb AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY tfidf DESC, doc_id ASC) AS BIGINT) AS r_b
         |  FROM b ORDER BY tfidf DESC, doc_id ASC LIMIT 10),
         |pairs AS (SELECT r_a, r_b FROM ra JOIN rb USING (doc_id)),
         |ds AS (SELECT CAST(UNNEST(generate_series(1, 10)) AS BIGINT)
         |    AS d),
         |inter AS (SELECT d, CAST(SUM(CASE WHEN r_a IS NOT NULL AND
         |      greatest(r_a, r_b) <= d THEN 1 ELSE 0 END) AS BIGINT)
         |      AS inter
         |  FROM ds LEFT JOIN pairs ON TRUE GROUP BY 1),
         |t AS (SELECT d, inter,
         |    CAST(FLOOR(CAST(list_extract([1.0e0, 0.9e0, 0.81e0,
         |        0.729e0, 0.6561e0, 0.59049e0, 0.531441e0, 0.4782969e0,
         |        0.43046721e0, 0.387420489e0], CAST(d AS INT))
         |        AS DOUBLE) *
         |      (CAST(inter AS DOUBLE) / CAST(d AS DOUBLE)) * 1e12)
         |      AS BIGINT) AS tq
         |  FROM inter)
         |SELECT d, inter, CAST(inter * 1000000 // d AS BIGINT) AS a_micro,
         |  0.1e0 * (CAST(SUM(tq) OVER (ORDER BY d) AS DOUBLE) / 1e12)
         |    AS rbo_cum
         |FROM t""".stripMargin,
    "cdc2_merge_apply" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 10 <> 7""".stripMargin,
    "ir3_rrf_fusion" ->
      s"""WITH a AS (SELECT * FROM (${TrainingDataQueries.bm25Sql}) ta),
         |b AS (SELECT * FROM ($ir2Sql) tb),
         |ra AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS r_a FROM a),
         |rb AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY tfidf DESC, doc_id ASC) AS BIGINT) AS r_b FROM b)
         |SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         |  CAST(COALESCE(1000000000000 // (60 + ra.r_a), 0) +
         |       COALESCE(1000000000000 // (60 + rb.r_b), 0) AS BIGINT)
         |    AS rrf_micro,
         |  ra.r_a, rb.r_b
         |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id""".stripMargin,
    "ir9_snippets" ->
      s"""WITH dt AS (SELECT doc_id, string_split($normSql, ' ') AS toks
         |            FROM documents),
         |tp AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
         |  FROM dt, unnest(generate_series(1, len(toks))) AS s(i)),
         |big AS (
         |  SELECT doc_id, pos, tok,
         |    LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM tp),
         |bg AS (SELECT * FROM big WHERE nxt IS NOT NULL),
         |top AS (
         |  SELECT tok AS p1, nxt AS p2 FROM bg
         |  GROUP BY tok, nxt
         |  ORDER BY COUNT(*) DESC, tok, nxt LIMIT 1),
         |fp AS (
         |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS first_pos
         |  FROM bg CROSS JOIN top
         |  WHERE tok = p1 AND nxt = p2
         |  GROUP BY doc_id)
         |SELECT dt.doc_id, fp.first_pos,
         |  array_to_string(dt.toks[
         |    CAST(greatest(fp.first_pos - 1, 1) AS INTEGER) :
         |    CAST(greatest(fp.first_pos - 1, 1) + 5 AS INTEGER)], ' ')
         |    AS snippet
         |FROM dt JOIN fp USING (doc_id)""".stripMargin,
    "fe16_information_value" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS good,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS bad
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(good) AS BIGINT) AS gt,
        |        CAST(SUM(bad) AS BIGINT) AS bt FROM c),
        |terms AS (
        |  SELECT
        |    CAST(FLOOR(ln(((CAST(good AS DOUBLE) + 0.5) /
        |        (CAST(gt AS DOUBLE) + 0.5)) /
        |      ((CAST(bad AS DOUBLE) + 0.5) /
        |        (CAST(bt AS DOUBLE) + 0.5))) * 1e6) AS BIGINT)
        |      AS woe_micro,
        |    (2 * good + 1) * (2 * bt + 1) - (2 * bad + 1) * (2 * gt + 1)
        |      AS num,
        |    (2 * gt + 1) * (2 * bt + 1) AS den
        |  FROM c CROSS JOIN t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(num * woe_micro) // MAX(den) AS BIGINT) AS iv_micro
        |FROM terms""".stripMargin,
    "ir8_champion_lists" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM toks WHERE length(term) > 0 GROUP BY 1, 2)
         |SELECT term, doc_id, tf FROM (
         |  SELECT term, doc_id, tf,
         |    ROW_NUMBER() OVER (PARTITION BY term
         |      ORDER BY tf DESC, doc_id ASC) AS rk
         |  FROM tf) z
         |WHERE rk <= 10""".stripMargin,
    "s11_negative_sampling" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS f
         |       FROM toks WHERE length(term) > 0
         |       GROUP BY 1 HAVING COUNT(*) >= 10),
         |wq AS (SELECT term, f,
         |         CAST(FLOOR(sqrt(sqrt(CAST(f * f * f AS DOUBLE))) * 1000)
         |           AS BIGINT) AS wq
         |       FROM tf),
         |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wt FROM wq)
         |SELECT term, f, wq,
         |  CAST((wq * 1000000) // tot.wt AS BIGINT) AS p_micro
         |FROM wq CROSS JOIN tot""".stripMargin,
    "ml12_decile_lift" ->
      s"""WITH sc AS (
         |  SELECT doc_id, CAST(-3 + list_sum(list_transform(toks, t ->
         |      $weightSql)) AS BIGINT) AS score,
         |    label
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks,
         |        lang = 'en' AS label FROM documents)),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
         |rk AS (SELECT label,
         |         ROW_NUMBER() OVER (ORDER BY -score, doc_id) AS rn
         |       FROM sc),
         |dec AS (SELECT ((rn - 1) * 10) // nn.n + 1 AS decile, label
         |        FROM rk CROSS JOIN nn),
         |per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |          CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |            AS npos
         |        FROM dec GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS nt,
         |          CAST(SUM(npos) AS BIGINT) AS pt FROM per),
         |cum AS (SELECT decile, n_rows, npos,
         |          CAST(SUM(n_rows) OVER w AS BIGINT) AS cum_n,
         |          CAST(SUM(npos) OVER w AS BIGINT) AS cum_pos
         |        FROM per
         |        WINDOW w AS (ORDER BY decile
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT decile, n_rows, npos, cum_pos,
         |  CAST(cum_pos * nt AS DOUBLE) / CAST(cum_n * pt AS DOUBLE)
         |    AS lift,
         |  CAST(cum_pos AS DOUBLE) / CAST(pt AS DOUBLE) AS gain
         |FROM cum CROSS JOIN tot""".stripMargin,
    "ml13_brier_decomposition" ->
      s"""WITH sc AS (
         |  SELECT least(greatest(CAST(-3 + list_sum(list_transform(toks,
         |      t -> $weightSql)) AS BIGINT) + 16, 0), 32) AS s,
         |    label
         |  FROM (SELECT string_split($normSql, ' ') AS toks,
         |        lang = 'en' AS label FROM documents)),
         |per AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS nk,
         |          CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
         |            AS pk
         |        FROM sc GROUP BY 1),
         |tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n,
         |          CAST(SUM(pk) AS BIGINT) AS p FROM per),
         |terms AS (
         |  SELECT nk, pk, s, n, p,
         |    nk * s * s - 64 * s * pk + 1024 * pk AS brier_num,
         |    CAST(CAST(s * nk - 32 * pk AS HUGEINT)
         |      * (s * nk - 32 * pk) * 1000000
         |      // (1024 * nk) AS BIGINT) AS rel_term_micro,
         |    CAST(CAST(pk * n - p * nk AS HUGEINT)
         |      * (pk * n - p * nk) * 1000000
         |      // (CAST(nk AS HUGEINT) * n * n) AS BIGINT)
         |      AS res_term_micro
         |  FROM per CROSS JOIN tot)
         |SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(p) AS BIGINT) AS p,
         |  CAST((SUM(brier_num) * 1000000) // (1024 * MAX(n)) AS BIGINT)
         |    AS brier_micro,
         |  CAST(SUM(rel_term_micro) // MAX(n) AS BIGINT) AS rel_micro,
         |  CAST(SUM(res_term_micro) // MAX(n) AS BIGINT) AS res_micro,
         |  CAST((MAX(p) * (MAX(n) - MAX(p)) * 1000000)
         |    // (MAX(n) * MAX(n)) AS BIGINT) AS unc_micro
         |FROM terms""".stripMargin,
    "cdc1_snapshot_diff" ->
      """WITH snap_a AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS st,
        |    o_totalprice AS tp
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |snap_b AS (
        |  SELECT o_orderkey, o_orderstatus AS st, o_totalprice AS tp
        |  FROM orders WHERE o_orderkey % 10 <> 7)
        |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |       WHEN b.o_orderkey IS NULL THEN 'delete'
        |       WHEN a.st IS DISTINCT FROM b.st
        |         OR a.tp IS DISTINCT FROM b.tp THEN 'update'
        |       ELSE 'unchanged' END AS change_type
        |FROM snap_a a FULL OUTER JOIN snap_b b
        |  ON a.o_orderkey = b.o_orderkey""".stripMargin,
  )

  /** ir2 oracle, generated from the SAME [[tfidfTerms]] as the query: the
    * identical left-associative per-term chain as
    * [[graft.operators.Retrieval.tfidf]], both `ln`s quantized to integer
    * micro-nats, all constants written as the same literals. */
  private def ir2Sql: String = {
    def qln(x: String) = s"(CAST(FLOOR(ln($x) * 1e6) AS DOUBLE) / 1e6)"
    val tfCols = tfidfTerms.map(t =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n    ")
    val dfAggs = tfidfTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n    ")
    val chain = "0.0" + tfidfTerms.map { t =>
      val idf = s"(${qln(s"(CAST(n AS DOUBLE) + 1.0) / (CAST(df_$t AS DOUBLE) + 1.0)")} + 1.0)"
      s" +\n  CASE WHEN tf_$t > 0 THEN " +
        s"(${qln(s"CAST(tf_$t AS DOUBLE)")} + 1.0) * $idf ELSE 0.0 END"
    }.mkString
    s"""WITH tf AS (
       |  SELECT doc_id,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks
       |        FROM documents)),
       |stats AS (SELECT COUNT(*) AS n,
       |    $dfAggs FROM tf)
       |SELECT doc_id, ${tfidfTerms.map(t => s"tf_$t").mkString(", ")},
       |  $chain AS tfidf
       |FROM tf CROSS JOIN stats""".stripMargin
  }
}
