package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Sampling
import Det.d38

/** Experimentation analytics over the event stream — the A/B-platform
  * tier (beyond reference): deterministic hash assignment, integrity
  * checks, and variance-reduced effect readouts. Everything reduces to
  * exact integer sufficient statistics plus one fixed IEEE tree, so the
  * DuckDB oracles match bitwise (the catalog's standard contract).
  */
object ExperimentQueries {

  /** Deterministic 50/50 arm from the salted md5 bucket — the same
    * assignment gate s1/s3 sample with, so a user's arm is stable across
    * runs, engines, and re-ingests. */
  private def arm(key: Column): Column =
    Sampling.bucket(key, "ab1") % 2

  /** Each event's user, day index and spend in integer cents. */
  private def dayCents(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), expr("ts div 86400000000").as("day"),
      expr("cast(floor(value * 100) as bigint)").as("cents"))

  /** Per-user rollup of `d` (user_id and day, plus what `aggs` read) with
    * the corpus min day `d0` broadcast to every row, so an aggregate can
    * split the pre-period (the first 15 days from `d0`; the fixture spans
    * 30) from the post-period. One per-user shuffle. */
  private def perUser(d: DataFrame)(aggs: Column*): DataFrame =
    d.crossJoin(broadcast(d.agg(min(col("day")).as("d0"))))
      .groupBy("user_id").agg(aggs.head, aggs.tail: _*)

  private def preCents: Column =
    sum(when(col("day") < col("d0") + 15, col("cents")).otherwise(0L))
  private def postCents: Column =
    sum(when(col("day") >= col("d0") + 15, col("cents")).otherwise(0L))

  /** Per-user post-period cents `y` with the user's arm. */
  private def perUserY(ev: DataFrame): DataFrame =
    perUser(dayCents(ev))(postCents.as("y"))
      .withColumn("arm", arm(col("user_id")))

  /** Per-user pre-period cents `x`, post-period cents `y` and the arm. */
  private def perUserXY(ev: DataFrame): DataFrame =
    perUser(dayCents(ev))(preCents.as("x"), postCents.as("y"))
      .withColumn("arm", arm(col("user_id")))

  /** Per-user post-period purchase flag `conv` with the user's arm. */
  private def perUserConv(ev: DataFrame): DataFrame =
    perUser(ev.select(col("user_id"), col("event_type"),
        expr("ts div 86400000000").as("day")))(
      max(when(col("event_type") === "purchase" &&
        col("day") >= col("d0") + 15, 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", arm(col("user_id")))

  /** Each user's modal event type (ties go to the lexicographically
    * first) as (user_id, event_type, n, rk = 1). */
  private def modalType(ev: DataFrame): DataFrame =
    ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("n").desc, col("event_type").asc)))
      .filter(col("rk") === 1)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CUPED variance reduction (Deng et al. 2013): the experiment
    // readout every mature A/B platform ships. Pre-period spend (first
    // 15 days from the corpus min day — the fixture spans 30 — a broadcast scalar) is the
    // covariate X, post-period spend the metric Y; θ = cov(X,Y)/var(X)
    // is computed POOLED across arms from five exact integer sufficient
    // statistics (decimal(38,0) sums — ANSI-safe at any user count),
    // and each arm's adjusted mean is ȳ_a − θ·(x̄_a − x̄). One groupBy
    // per user, one broadcast scalar row, one 2-row arm rollup: the
    // 100 TB plan is the per-user rollup's single shuffle.
    "ab1_cuped" -> { (s, dir) =>
      val per = perUserXY(Tables.eventsUs(s, dir))
      val pooled = per.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
      val theta =
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val byArm = per.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sum_x_cents"), sum(col("y")).as("sum_y_cents"))
      byArm.crossJoin(broadcast(pooled))
        .select(col("arm"), col("n_users"), col("sum_x_cents"),
          col("sum_y_cents"),
          (col("sum_y_cents").cast("double") /
            col("n_users").cast("double")).as("mean_y"),
          (col("sum_y_cents").cast("double") /
            col("n_users").cast("double") -
            theta * (col("sum_x_cents").cast("double") /
              col("n_users").cast("double") -
              col("sx").cast("double") / col("n").cast("double")))
            .as("mean_y_adjusted"))
    },

    // Welch difference-in-means readout — the baseline ab1 improves on:
    // per-arm mean of per-user post-period spend and the t statistic
    // from exact integer (n, Σy, Σy²) per arm, variance and the final
    // ratio as one fixed IEEE tree (d15's exact-moments idiom). Same
    // single per-user shuffle as ab1; the 2-arm rollup is metadata.
    "ab3_diff_in_means" -> { (s, dir) =>
      val per = perUserY(Tables.eventsUs(s, dir))
      val st = per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("y").cast(d38)).as("sy"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
      def m(n: Column, sy: Column): Column =
        sy.cast("double") / n.cast("double")
      def v(n: Column, sy: Column, syy: Column): Column =
        (n * syy - sy * sy).cast("double") /
          (n * (n - 1)).cast("double")
      val a0 = st.filter(col("arm") === 0).select(col("n").as("n0"),
        col("sy").as("sy0"), col("syy").as("syy0"))
      val a1 = st.filter(col("arm") === 1).select(col("n").as("n1"),
        col("sy").as("sy1"), col("syy").as("syy1"))
      a0.crossJoin(a1).select(
        col("n0"), col("n1"),
        m(col("n0"), col("sy0")).as("mean0"),
        m(col("n1"), col("sy1")).as("mean1"),
        (m(col("n1"), col("sy1")) - m(col("n0"), col("sy0"))).as("diff"),
        // single-user arm: the sample variance (and so the t) is
        // undefined — NULL, not a divide-by-zero (edge-fixture sweep)
        when(col("n0") > 1 && col("n1") > 1,
          (m(col("n1"), col("sy1")) - m(col("n0"), col("sy0"))) /
            sqrt(v(col("n0"), col("sy0"), col("syy0")) /
              col("n0").cast("double") +
              v(col("n1"), col("sy1"), col("syy1")) /
                col("n1").cast("double"))).as("t_stat"))
    },

    // Ratio-metric readout with DELTA-METHOD variance — the correction
    // every platform needs for per-user-ratio metrics like CTR: the
    // naive binomial variance is wrong because users, not impressions,
    // are the randomization unit. R = Σclicks/Σviews per arm;
    // Var(R) ≈ (Vy − 2R·Cxy + R²·Vx) / (n·x̄²) with all (co)variances
    // from exact integer (n, Σx, Σy, Σxx, Σyy, Σxy) per arm — one
    // per-user rollup shuffle, a 2-row arm table, one pinned IEEE tree.
    "ab4_ratio_delta" -> { (s, dir) =>
      val per = Tables.eventsUs(s, dir)
        .select(col("user_id"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("c"))
        .groupBy("user_id")
        .agg(sum(col("v")).as("x"), sum(col("c")).as("y"))
        .withColumn("arm", arm(col("user_id")))
      val st = per.groupBy("arm").agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"))
      val nD = col("n").cast("double")
      val r = col("sy").cast("double") / col("sx").cast("double")
      val xbar = col("sx").cast("double") / nD
      def cm(spq: Column, sp: Column, sq: Column): Column =
        (col("n") * spq - sp * sq).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")
      val vx = cm(col("sxx"), col("sx"), col("sx"))
      val vy = cm(col("syy"), col("sy"), col("sy"))
      val cxy = cm(col("sxy"), col("sx"), col("sy"))
      st.select(col("arm"), col("n"),
        col("sx").cast("long").as("views"),
        col("sy").cast("long").as("clicks"),
        // zero-view arm / single-user arm: ratio or variance undefined —
        // NULL, not a divide-by-zero (edge-fixture sweep)
        when(col("sx") > 0, r).as("ctr"),
        when(col("n") > 1 && col("sx") > 0,
          (vy - lit(2.0) * r * cxy + r * r * vx) / (nD * xbar * xbar))
          .as("var_delta"))
    },

    // AB9 (beyond reference): WINSORIZED difference-in-means — ab3's
    // readout after clamping each arm's per-user spend to its [p05, p95]
    // (d30's exact rank-cut winsorization, per arm): the robust variant
    // every revenue experiment runs because one whale in one arm can
    // fabricate a "win". Quantile cuts come from exact rank order
    // statistics (no float percentile), clamped sums stay exact
    // integers, and only the two means divide at the end.
    "ab9_winsorized_diff" -> { (s, dir) =>
      val per = perUserY(Tables.eventsUs(s, dir))
      // arm has 2 values and users are corpus-scale in a real
      // experiment: a Window.partitionBy(arm) rank caps parallelism at
      // 2. The grouped two-pass row number keeps the per-arm sort
      // range-partitioned; nOut ships the arm totals from its pass-1
      // counts (replacing the count-over-arm window, same funnel).
      val ranked = graft.operators.GlobalRank.withGroupedRowNumber(per,
        group = Seq("arm"), order = Seq(col("y"), col("user_id")),
        out = "rn", nOut = Some("n"))
      val cuts = ranked
        .filter(col("rn") === expr("(n * 5 + 99) div 100") ||
          col("rn") === expr("(n * 95 + 99) div 100"))
        .groupBy(col("arm").as("c_arm"))
        .agg(min(col("y")).as("lo"), max(col("y")).as("hi"))
      val st = ranked.join(broadcast(cuts), col("arm") === col("c_arm"))
        .withColumn("wy", when(col("y") < col("lo"), col("lo"))
          .when(col("y") > col("hi"), col("hi")).otherwise(col("y")))
        .groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("wy")).as("swy"))
        .transform(graft.operators.GlobalRank.pinned) // arm-grain; read by both a0 and a1
      val a0 = st.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("swy").as("s0"))
      val a1 = st.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("swy").as("s1"))
      a0.crossJoin(a1).select(col("n0"), col("n1"),
        (col("s0").cast("double") / col("n0").cast("double"))
          .as("wmean0"),
        (col("s1").cast("double") / col("n1").cast("double"))
          .as("wmean1"),
        (col("s1").cast("double") / col("n1").cast("double") -
          col("s0").cast("double") / col("n0").cast("double"))
          .as("wdiff"))
    },

    // Power / minimum-detectable-effect readout — the planning number an
    // experiment review asks first ("could this test even see a 1%
    // move?"): MDE at 80% power / 5% two-sided α is (1.96 + 0.8416) ·
    // √(s²/n₀ + s²/n₁) with the POOLED variance from the same exact
    // integer moments as ab3. Constants are literals, variance one fixed
    // IEEE tree, the whole readout a 1-row reduction off the per-user
    // rollup.
    "ab5_power_mde" -> { (s, dir) =>
      val per = perUserY(Tables.eventsUs(s, dir))
      val st = per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("y").cast(d38)).as("sy"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
      val pooled = st.agg(sum(col("n")).as("n"), sum(col("sy")).as("sy"),
        sum(col("syy")).as("syy"),
        sum(when(col("arm") === 0, col("n")).otherwise(lit(0L))).as("n0"),
        sum(when(col("arm") === 1, col("n")).otherwise(lit(0L))).as("n1"))
      val variance =
        (col("n") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")
      pooled.select(col("n0"), col("n1"), variance.as("pooled_var"),
        (lit(1.96 + 0.8416) *
          sqrt(variance / col("n0").cast("double") +
            variance / col("n1").cast("double"))).as("mde_cents"))
    },

    // Sample-ratio mismatch check — the assignment-integrity alarm run
    // BEFORE any effect is read (a skewed split invalidates the
    // experiment): χ² against the expected 50/50 collapses to
    // (n0 − n1)²/(n0 + n1), one exact integer numerator over the user
    // count, flagged at the 95% critical value. Distinct users, one
    // 2-cell rollup — nothing here grows with event volume.
    "ab2_srm_check" -> { (s, dir) =>
      val users = Tables.eventsUs(s, dir).select("user_id").distinct()
        .withColumn("arm", arm(col("user_id")))
      users.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        .select(col("n0"), col("n1"),
          (((col("n0") - col("n1")) * (col("n0") - col("n1")))
            .cast("double") / (col("n0") + col("n1")).cast("double"))
            .as("chi2"),
          ((((col("n0") - col("n1")) * (col("n0") - col("n1")))
            .cast("double") / (col("n0") + col("n1")).cast("double"))
            > 3.841).cast("bigint").as("srm_flag"))
    },

    // AB7 (beyond reference): HETEROGENEOUS treatment effects — ab3
    // answers "did it work on average"; this answers "for whom": the
    // per-segment diff-in-means with its z statistic, segments defined
    // from pre-treatment behavior (the user's modal event type,
    // deterministic tie-break) so the split is independent of
    // assignment. Same exact decimal sufficient statistics and fixed
    // IEEE tree as ab3, one extra segment key in the rollup — the HTE
    // table a launch review reads before shipping to everyone.
    "ab7_uplift_by_segment" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      // segment: modal event type per user (ties → lexicographic)
      val seg = modalType(ev)
        .select(col("user_id"), col("event_type").as("segment"))
      val per = perUserY(ev)
        .join(seg, "user_id")
      val st = per.groupBy("segment", "arm")
        .agg(count(lit(1)).as("n"), sum(col("y").cast(d38)).as("sy"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
      val a0 = st.filter(col("arm") === 0).select(col("segment"),
        col("n").as("n0"), col("sy").as("sy0"), col("syy").as("syy0"))
      val a1 = st.filter(col("arm") === 1).select(
        col("segment").as("seg1"), col("n").as("n1"),
        col("sy").as("sy1"), col("syy").as("syy1"))
      def m(n: Column, sy: Column): Column =
        sy.cast("double") / n.cast("double")
      def v(n: Column, sy: Column, syy: Column): Column =
        (n.cast(d38) * syy - sy * sy).cast("double") /
          (n.cast(d38) * (n - 1).cast(d38)).cast("double")
      a0.join(a1, col("segment") === col("seg1"))
        .filter(col("n0") > 1 && col("n1") > 1)
        .select(col("segment"), col("n0"), col("n1"),
          (m(col("n1"), col("sy1")) - m(col("n0"), col("sy0"))).as("diff"),
          ((m(col("n1"), col("sy1")) - m(col("n0"), col("sy0"))) /
            sqrt(v(col("n1"), col("sy1"), col("syy1")) /
              col("n1").cast("double") +
              v(col("n0"), col("sy0"), col("syy0")) /
                col("n0").cast("double"))).as("z"))
    },

    // AB8 (beyond reference): FUNNEL by arm — WHERE in the journey does
    // the treatment act? ev8's strictly-ordered first-occurrence funnel
    // split by assignment: per arm, users reaching each stage plus the
    // stage-to-stage conversion (exact integer micro ratio). The
    // readout that turns ab3's "spend went up" into "clicks convert to
    // purchases 8% more often" — same three min-aggregates as ev8 with
    // the arm key riding the user_id exchange.
    // AB13 (beyond reference): POISSON BOOTSTRAP — the at-scale
    // bootstrap (one pass, no resampling): each user enters replicate b
    // with a Poisson(1)-distributed multiplicity derived from the
    // stable md5 bucket of (user, b), pmf fixed as integer thresholds
    // out of 1000 (368/736/920/981/996 — the standard production-A/B
    // technique and fully engine-reproducible). 32 replicates of the
    // arm-mean difference collapse map-side into a 64-cell (arm × b)
    // rollup — the 32× row fan exists only inside one combine — and the
    // replicate spread (min/max envelope + SE from micro-quantized
    // diffs) is metadata arithmetic. The only corpus-sized shuffle is
    // the per-user rollup.
    "ab13_poisson_bootstrap" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val per = perUserY(ev)
      val rep = per.select(col("user_id"), col("y"), col("arm"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .withColumn("bk", Sampling.bucket(
          concat(col("user_id").cast("string"), lit("_"),
            col("b").cast("string")), "ab13"))
        .withColumn("w",
          when(col("bk") < 368, 0L).when(col("bk") < 736, 1L)
            .when(col("bk") < 920, 2L).when(col("bk") < 981, 3L)
            .when(col("bk") < 996, 4L).otherwise(5L))
      val cells = rep.groupBy("arm", "b")
        .agg(sum(col("w")).as("sw"),
          sum((col("w") * col("y")).cast(d38)).as("swy"))
      val diffs = cells.groupBy("b").agg(
          min(when(col("arm") === 0, col("sw"))).as("sw0"),
          min(when(col("arm") === 1, col("sw"))).as("sw1"),
          min(when(col("arm") === 0, col("swy"))).as("swy0"),
          min(when(col("arm") === 1, col("swy"))).as("swy1"))
        .select(col("b"),
          when(col("sw0") > 0 && col("sw1") > 0,
            floor(lit(1e6) *
              (col("swy1").cast("double") / col("sw1").cast("double") -
                col("swy0").cast("double") / col("sw0").cast("double")))
              .cast("bigint")).as("d_micro"))
      diffs.agg(count(col("d_micro")).as("n_reps"),
          min(col("d_micro")).as("lo_micro"),
          max(col("d_micro")).as("hi_micro"),
          sum(col("d_micro")).as("sd"),
          sum(col("d_micro").cast(d38) * col("d_micro").cast(d38))
            .as("sdd"))
        .select(col("n_reps"), col("lo_micro"), col("hi_micro"),
          when(col("n_reps") > 1,
            sqrt((col("n_reps").cast(d38) * col("sdd") -
              (col("sd").cast(d38) * col("sd").cast(d38))).cast("double") /
              (col("n_reps").cast(d38) *
                (col("n_reps") - 1).cast(d38)).cast("double")))
            .as("se_boot_micro"))
    },

    // AB14 (beyond reference): QINI / uplift curve — does TARGETING by a
    // score capture incremental value? Users rank by pre-period spend
    // (the targeting proxy), deciles come from GlobalRank's closed form
    // ((rn−1)·10 div n + 1 — no ntile window), and each cumulative
    // decile reports the Qini value cum_y₁ − cum_y₀·(cum_n₁/cum_n₀):
    // incremental spend had the control group been scaled to the
    // treated group's size. The decile windows ride a 20-row (decile ×
    // arm) rollup — metadata; the ranking pass is the range-partitioned
    // two-pass row number.
    "ab14_qini_curve" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val ev = Tables.eventsUs(s, dir)
      val per = perUserXY(ev)
      val nn = per.agg(count(lit(1)).as("n_all"))
      val ranked = GlobalRank.withGlobalRowNumber(per,
          Seq(col("x").desc, col("user_id")), out = "rn")
        .crossJoin(broadcast(nn))
        .withColumn("decile", expr("(rn - 1) * 10 div n_all + 1"))
      val cells = ranked.groupBy("decile")
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === 1, col("y").cast(d38))
            .otherwise(lit(0).cast(d38))).as("syt"),
          sum(when(col("arm") === 0, col("y").cast(d38))
            .otherwise(lit(0).cast(d38))).as("syc"))
      val wc = Window.orderBy(col("decile").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cnt", sum(col("nt")).over(wc))
        .withColumn("cnc", sum(col("nc")).over(wc))
        .withColumn("cyt", sum(col("syt")).over(wc))
        .withColumn("cyc", sum(col("syc")).over(wc))
        .select(col("decile"), col("cnt").as("cum_treated"),
          col("cnc").as("cum_control"),
          when(col("cnc") > 0,
            col("cyt").cast("double") - col("cyc").cast("double") *
              (col("cnt").cast("double") / col("cnc").cast("double")))
            .as("qini"))
    },

    // AB12 (beyond reference): STRATIFIED IPW / standardization — the
    // OBSERVATIONAL causal readout (no randomized arm): does being a
    // purchase-dominant user CAUSE higher post-period spend, adjusting
    // for activity volume? With a discrete confounder the inverse-
    // propensity estimate collapses to exact stratification: within
    // each activity stratum (log2-banded event count — a fixed integer
    // CASE, no data-derived cut), the treated/control means difference
    // is weighted by the stratum's population share. Output is
    // stratum-grain: the propensity e_s, both means, and the stratum's
    // additive contribution to the ATE (NULL when a stratum lacks one
    // group — standard positivity failure, surfaced not hidden). One
    // per-user rollup is the only corpus-sized shuffle.
    "ab12_ipw_ate" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val modal = modalType(ev)
        .select(col("user_id"),
          (col("event_type") === "purchase").as("treated"))
      val per = perUser(dayCents(ev))(count(lit(1)).as("n_ev"),
          postCents.as("y"))
        .join(modal, "user_id")
        .withColumn("stratum",
          when(col("n_ev") >= 8, 3L).when(col("n_ev") >= 4, 2L)
            .when(col("n_ev") >= 2, 1L).otherwise(0L))
        // pinned: the user-grain frame feeds the total AND the stratum
        // rollup — un-pinned, the modal window + revenue pipeline ran
        // twice (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val tot = per.agg(count(lit(1)).as("n_all"))
      val st = per.groupBy("stratum")
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
          sum(when(col("treated"), col("y").cast(d38))
            .otherwise(lit(0).cast(d38))).as("sy1"),
          sum(when(!col("treated"), col("y").cast(d38))
            .otherwise(lit(0).cast(d38))).as("sy0"))
      st.crossJoin(broadcast(tot))
        .select(col("stratum"), col("n_s"),
          expr("nt * 1000000 div n_s").as("e_micro"),
          when(col("nt") > 0, col("sy1").cast("double") /
            col("nt").cast("double")).as("mean_treated"),
          when(col("n_s") - col("nt") > 0, col("sy0").cast("double") /
            (col("n_s") - col("nt")).cast("double")).as("mean_control"),
          when(col("nt") > 0 && col("n_s") - col("nt") > 0,
            (col("n_s").cast("double") / col("n_all").cast("double")) *
              (col("sy1").cast("double") / col("nt").cast("double") -
                col("sy0").cast("double") /
                  (col("n_s") - col("nt")).cast("double")))
            .as("ate_contrib"))
    },

    // AB11 (beyond reference): DIFFERENCE-IN-DIFFERENCES — the readout
    // when arms differ at baseline (a botched ramp, a pre-existing
    // cohort skew): each arm's post-minus-pre change is computed from
    // exact integer sufficient statistics and the effect is the change
    // OF the changes, (ȳ₁−x̄₁) − (ȳ₀−x̄₀), cancelling any additive
    // baseline gap that CUPED (ab1) would instead model away. One
    // per-user rollup (the only corpus-sized shuffle), a 2-row arm
    // rollup, and a 1-row pivot; the four means and the DiD are one
    // fixed IEEE tree.
    "ab11_diff_in_diff" -> { (s, dir) =>
      val per = perUserXY(Tables.eventsUs(s, dir))
      val byArm = per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"))
      val piv = byArm.agg(
        min(when(col("arm") === 0, col("n"))).as("n0"),
        min(when(col("arm") === 1, col("n"))).as("n1"),
        min(when(col("arm") === 0, col("sx"))).as("sx0"),
        min(when(col("arm") === 1, col("sx"))).as("sx1"),
        min(when(col("arm") === 0, col("sy"))).as("sy0"),
        min(when(col("arm") === 1, col("sy"))).as("sy1"))
      def mm(sv: Column, n: Column): Column =
        sv.cast("double") / n.cast("double")
      piv.select(col("n0").cast("bigint").as("n0"),
        col("n1").cast("bigint").as("n1"),
        mm(col("sx0"), col("n0")).as("pre_mean0"),
        mm(col("sy0"), col("n0")).as("post_mean0"),
        mm(col("sx1"), col("n1")).as("pre_mean1"),
        mm(col("sy1"), col("n1")).as("post_mean1"),
        ((mm(col("sy1"), col("n1")) - mm(col("sx1"), col("n1"))) -
          (mm(col("sy0"), col("n0")) - mm(col("sx0"), col("n0"))))
          .as("did"))
    },

    // AB10 (beyond reference): BENJAMINI–HOCHBERG FDR control over
    // ab7's per-segment z-tests — the multiple-testing correction every
    // segment-sliced readout needs (at α=.05, six naive per-segment
    // thresholds alone produce a false positive in ~1 of 4 null
    // experiments). Two-sided p-values come from the Abramowitz–Stegun
    // 7.1.26 erf polynomial (its one exp is the plan's only
    // transcendental and is floor-quantized to micro immediately), and
    // the BH step-up k = max{i : p_(i)·m ≤ α·1e6·i} plus the reject
    // flags are exact integer arithmetic. Ranking rides the
    // SEGMENT-grain table (≤ #event-type rows — metadata, per the
    // SCALE.md window rule); the corpus-sized work is ab7's one
    // per-user rollup.
    "ab10_fdr_bh" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val seg = modalType(ev)
        .select(col("user_id"), col("event_type").as("segment"))
      val per = perUserY(ev)
        .join(seg, "user_id")
      val st = per.groupBy("segment", "arm")
        .agg(count(lit(1)).as("n"), sum(col("y").cast(d38)).as("sy"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
      val a0 = st.filter(col("arm") === 0).select(col("segment"),
        col("n").as("n0"), col("sy").as("sy0"), col("syy").as("syy0"))
      val a1 = st.filter(col("arm") === 1).select(
        col("segment").as("seg1"), col("n").as("n1"),
        col("sy").as("sy1"), col("syy").as("syy1"))
      def m(n: Column, sy: Column): Column =
        sy.cast("double") / n.cast("double")
      def v(n: Column, sy: Column, syy: Column): Column =
        (n.cast(d38) * syy - sy * sy).cast("double") /
          (n.cast(d38) * (n - 1).cast(d38)).cast("double")
      val perSeg = a0.join(a1, col("segment") === col("seg1"))
        .filter(col("n0") > 1 && col("n1") > 1)
        .select(col("segment"), col("n0"), col("n1"),
          ((m(col("n1"), col("sy1")) - m(col("n0"), col("sy0"))) /
            sqrt(v(col("n1"), col("sy1"), col("syy1")) /
              col("n1").cast("double") +
              v(col("n0"), col("sy0"), col("syy0")) /
                col("n0").cast("double"))).as("z"))
      // Pin the segment-grain test table once: it fans out into the
      // count, the BH rank, and the k_BH scan — un-pinned, each
      // reference re-embeds the whole corpus pipeline (segment window +
      // revenue rollup + per-arm joins; 19 shuffles in the static plan).
      val withP = perSeg
        .withColumn("x", abs(col("z")) * lit(0.7071067811865476))
        .withColumn("t",
          lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
        .withColumn("p_micro", expr(pMicroSql))
        .drop("x", "t")
        .transform(graft.operators.GlobalRank.pinned)
      val cnt = withP.agg(count(lit(1)).as("m"))
      val ranked = withP.crossJoin(broadcast(cnt))
        .withColumn("i", row_number().over(
          Window.orderBy(col("p_micro").asc, col("segment").asc))
          .cast("bigint"))
        .transform(graft.operators.GlobalRank.pinned)
      val kbh = ranked.agg(max(when(expr("p_micro * m <= 50000 * i"),
        col("i")).otherwise(0L)).as("kbh"))
      ranked.crossJoin(broadcast(kbh))
        .select(col("segment"), col("n0"), col("n1"), col("z"),
          col("p_micro"), (col("i") <= col("kbh")).as("bh_reject"))
    },

    "ab8_funnel_by_arm" -> { (s, dir) =>
      val e = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"), col("ts").as("ts_us"))
        .withColumn("arm", arm(col("user_id")))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id", "arm").agg(min(col("ts_us")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v.select("user_id", "t1"), "user_id")
        .filter(col("ts_us") > col("t1"))
        .groupBy("user_id", "arm").agg(min(col("ts_us")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(col("ts_us") > col("t2"))
        .groupBy("user_id", "arm").agg(min(col("ts_us")).as("t3"))
      def stage(df: DataFrame, name: String) =
        df.groupBy("arm").agg(count(lit(1)).as("n_users"))
          .select(col("arm"), lit(name).as("stage"), col("n_users"))
      val stages = stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
      val w = Window.partitionBy(col("arm")).orderBy(col("stage"))
      stages
        .withColumn("prev_n", lag(col("n_users"), 1).over(w))
        .withColumn("conv_micro",
          when(col("prev_n").isNotNull,
            expr("(n_users * 1000000) div prev_n")))
        .drop("prev_n")
    },

    // AB6 (beyond reference): SEQUENTIAL monitoring trajectory — the
    // "can we stop early?" readout: the day-by-day cumulative two-sample
    // z² with a fixed Pocock-style boundary (10.273 ≈ 10-look α=0.05),
    // the curve an experiment dashboard plots instead of one end-of-test
    // p-value (naively re-testing daily at 3.84 inflates false
    // positives; the boundary prices the peeking in). Cumulative
    // sufficient statistics are exact integer window sums per arm
    // (decimal(38) here, HUGEINT in the oracle), and the z² is the same
    // fixed IEEE tree as ab3 evaluated per day — bit-identical engines.
    // One daily rollup shuffle + one per-arm cumulative window + a
    // day-aligned self-join of the two 1-row-per-day arm tracks.
    "ab6_sequential_monitor" -> { (s, dir) =>
      val d = Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"),
          expr("cast(floor(value * 100) as bigint)").as("cents"))
        .withColumn("arm", arm(col("user_id")))
      val daily = d.groupBy("arm", "day")
        .agg(count(lit(1)).as("n"), sum(col("cents").cast(d38)).as("sc"),
          sum((col("cents") * col("cents")).cast(d38)).as("scc"))
      val w = Window.partitionBy(col("arm")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily.select(col("arm"), col("day"),
        sum(col("n")).over(w).as("cn"),
        sum(col("sc")).over(w).as("cs"),
        sum(col("scc")).over(w).as("css"))
      val a0 = cum.filter(col("arm") === 0).select(col("day"),
        col("cn").as("cn0"), col("cs").as("cs0"), col("css").as("css0"))
      val a1 = cum.filter(col("arm") === 1).select(col("day").as("day1"),
        col("cn").as("cn1"), col("cs").as("cs1"), col("css").as("css1"))
      def mean(cs: Column, cn: Column): Column =
        cs.cast("double") / cn.cast("double")
      def se2(cn: Column, cs: Column, css: Column): Column =
        (cn.cast(d38) * css - cs * cs).cast("double") /
          (cn.cast(d38) * (cn - 1).cast(d38)).cast("double") /
          cn.cast("double")
      a0.join(a1, col("day") === col("day1"))
        .filter(col("cn0") > 1 && col("cn1") > 1)
        .select(col("day"), col("cn0"), col("cn1"),
          (mean(col("cs1"), col("cn1")) - mean(col("cs0"), col("cn0")))
            .as("diff"),
          (se2(col("cn0"), col("cs0"), col("css0")) +
            se2(col("cn1"), col("cs1"), col("css1"))).as("se2"))
        .select(col("day"), col("cn0"), col("cn1"), col("diff"),
          (col("diff") * col("diff") / col("se2")).as("z2"),
          (col("diff") * col("diff") / col("se2") > 10.273)
            .as("crossed"))
    },

    // AB20 (beyond reference): BAYESIAN Beta-posterior readout — the
    // "probability treatment beats control" number product teams ask
    // for instead of a p-value: uniform prior, posterior
    // Beta(1+x, 1+n−x) per arm, so the posterior mean is the exact
    // integer ratio (1+x)/(2+n) and the variance collapses to
    // m(1−m)/(n+3) — no a·b products to overflow. P(p_t > p_c) by the
    // normal approximation of the posterior difference through the
    // shared erf polynomial; the one-sided flip is exact integer
    // arithmetic on the two-sided micro p.
    // AB22 (beyond reference): SPRT — Wald's sequential probability
    // ratio test, the always-valid monitor that says WHEN an experiment
    // may stop (fixed-horizon tests like ab7 forbid peeking; SPRT's
    // boundaries make daily peeking legitimate). Per arm, the daily
    // Bernoulli log-likelihood-ratio increment for H1: p=0.22 vs
    // H0: p=0.18 (purchase share among events) uses PRE-COMPUTED
    // micro-nat literals (ln(p1/p0)=200670, ln(q1/q0)=−50011 — inlined
    // identically in both engines, so the cumulative is exact integer
    // arithmetic), and the α=β=0.05 boundaries are ±ln(19)≈±2944438
    // micro. The cumulative window rides (arm × day) — OBSERVATION-SPAN
    // grain, bounded by the calendar, never the corpus (the ts-family
    // contract); the only corpus-sized work is the daily rollup.
    // Output per arm: final LLR and the first boundary-crossing days
    // (null = still running, the honest sequential readout).
    "ab22_sprt" -> { (s, dir) =>
      val d = Tables.eventsUs(s, dir)
        .select(arm(col("user_id")).as("arm"),
          expr("ts div 86400000000").as("day"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("conv"))
        .groupBy("arm", "day")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        .withColumn("inc",
          col("c") * 200670L + (col("n") - col("c")) * -50011L)
      val w = Window.partitionBy(col("arm")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("llr", sum(col("inc")).over(w))
        .groupBy("arm").agg(
          count(lit(1)).as("n_days"),
          sum(col("n")).as("n_events"),
          // final LLR = the last day's cumulative: max over (day, llr)
          // structs orders by day first — a deterministic argmax
          max(struct(col("day"), col("llr"))).as("__fin"),
          min(when(col("llr") >= 2944438L, col("day"))).as("day_accept"),
          min(when(col("llr") <= -2944438L, col("day"))).as("day_reject"))
        .select(col("arm"), col("n_days"), col("n_events"),
          col("__fin.llr").as("llr_final_micro"),
          col("day_accept"), col("day_reject"))
    },

    "ab20_bayes_beta" -> { (s, dir) =>
      val per = perUserConv(Tables.eventsUs(s, dir))
      val st = per.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
      val a0 = st.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("x").as("x0"))
      val a1 = st.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("x").as("x1"))
      def m(x: Column, n: Column): Column =
        (x + 1).cast("double") / (n + 2).cast("double")
      def v(x: Column, n: Column): Column =
        m(x, n) * (lit(1.0) - m(x, n)) / (n + 3).cast("double")
      val base = a0.crossJoin(a1)
        .withColumn("mean_c", m(col("x0"), col("n0")))
        .withColumn("mean_t", m(col("x1"), col("n1")))
        .withColumn("vsum",
          v(col("x1"), col("n1")) + v(col("x0"), col("n0")))
        .withColumn("z",
          when(col("vsum") > 0,
            (col("mean_t") - col("mean_c")) / sqrt(col("vsum"))))
        .withColumn("x", abs(col("z")) * lit(0.7071067811865476))
        .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
        .withColumn("p2", when(col("z").isNotNull, expr(pMicroSql)))
      base.select(col("n0"), col("x0"), col("n1"), col("x1"),
        col("mean_c"), col("mean_t"), col("z").as("z_stat"),
        when(col("z") >= 0, lit(1000000L) - expr("p2 div 2"))
          .otherwise(expr("p2 div 2")).as("prob_beat_micro"))
    },

    // AB18 (beyond reference): DELETE-ONE-BUCKET JACKKNIFE for a ratio
    // metric — the variance every platform quotes for CTR-style
    // metrics where users (not events) are the i.i.d. unit and the
    // delta method (ab4) needs a distribution-free cross-check: 50
    // hash-buckets of users, θ̂₍₋ᵢ₎ = (ΣN−nᵢ)/(ΣD−dᵢ), and
    // var = (k−1)/k·Σ(θ₍₋ᵢ₎−θ̄)². Every cross-bucket sum is an exact
    // integer of floor-quantized per-bucket terms (θ at 1e15, squared
    // deviations at 1e18) — summing raw doubles across rows is NOT
    // reproducible across engines even in a declared order (DuckDB's
    // windowed SUM tree-reduces; this query's first cut differed in
    // the last ulp), so the quantize-then-integer-sum idiom is the
    // contract here, as in the lm/ev54 families.
    "ab18_jackknife_ratio" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"))
        .withColumn("bkt", Sampling.bucket(col("user_id"), "jk") % 50)
      val per = ev.groupBy("bkt").agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("num"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("den"))
      val tot = per.agg(sum(col("num")).as("sn"), sum(col("den")).as("sd"))
      val jk = per.crossJoin(broadcast(tot))
        .withColumn("theta_i",
          when(col("sd") - col("den") > 0,
            (col("sn") - col("num")).cast("double") /
              (col("sd") - col("den")).cast("double")))
        .withColumn("qt",
          floor(col("theta_i") * lit(1e15)).cast("bigint"))
      val m = jk.agg(
        sum(when(col("theta_i").isNotNull, 1L).otherwise(0L))
          .as("k_valid"),
        sum(col("qt").cast(d38)).as("sq"))
      val mean = m.select(col("k_valid"),
        when(col("k_valid") > 0,
          col("sq").cast("double") / lit(1e15) /
            col("k_valid").cast("double")).as("t_bar"))
      val dev = jk.crossJoin(broadcast(mean))
        .withColumn("qd", floor(
          (col("theta_i") - col("t_bar")) *
            (col("theta_i") - col("t_bar")) * lit(1e18)).cast("bigint"))
        .groupBy("k_valid", "t_bar", "sn", "sd")
        .agg(sum(col("qd").cast(d38)).as("sd2"))
      dev.select(col("k_valid"),
        when(col("sd") > 0,
          col("sn").cast("double") / col("sd").cast("double"))
          .as("theta"),
        col("t_bar"),
        when(col("k_valid") > 1,
          sqrt((col("k_valid") - 1).cast("double") /
            col("k_valid").cast("double") *
            (col("sd2").cast("double") / lit(1e18)))).as("se_jack"))
    },

    // AB19 (beyond reference): REGRESSION-ADJUSTED readout (CUPED with
    // TWO covariates) — ab1 removes variance along one pre-period
    // covariate; real platforms adjust on several (pre-spend AND
    // pre-activity). β = Σc⁻¹·b solved in closed 2×2 form from CENTERED
    // moments, each an exact decimal combination n·Σxy − Σx·Σy of
    // integer sufficient statistics; the determinant and both βs are
    // one fixed IEEE tree (the raw decimal det would need ~10⁷⁰
    // headroom — the doubles enter only after every subtraction is
    // exact). Same single per-user shuffle as ab1.
    "ab19_regression_cuped" -> { (s, dir) =>
      val per = perUser(dayCents(Tables.eventsUs(s, dir)))(
          preCents.as("x1"),
          sum(when(col("day") < col("d0") + 15, 1L).otherwise(0L))
            .as("x2"),
          postCents.as("y"))
        .withColumn("arm", arm(col("user_id")))
      val pooled = per.agg(count(lit(1)).as("n"),
        sum(col("x1").cast(d38)).as("s1"),
        sum(col("x2").cast(d38)).as("s2"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x1") * col("x1")).cast(d38)).as("s11"),
        sum((col("x1") * col("x2")).cast(d38)).as("s12"),
        sum((col("x2") * col("x2")).cast(d38)).as("s22"),
        sum((col("x1") * col("y")).cast(d38)).as("s1y"),
        sum((col("x2") * col("y")).cast(d38)).as("s2y"))
      // centered moments — exact decimals; doubles only afterwards
      val a11 = (col("n") * col("s11") - col("s1") * col("s1"))
        .cast("double")
      val a12 = (col("n") * col("s12") - col("s1") * col("s2"))
        .cast("double")
      val a22 = (col("n") * col("s22") - col("s2") * col("s2"))
        .cast("double")
      val b1 = (col("n") * col("s1y") - col("s1") * col("sy"))
        .cast("double")
      val b2 = (col("n") * col("s2y") - col("s2") * col("sy"))
        .cast("double")
      val det = a11 * a22 - a12 * a12
      val stats = pooled.select(col("n"), col("s1"), col("s2"),
        when(abs(det) > 0, (a22 * b1 - a12 * b2) / det).as("beta1"),
        when(abs(det) > 0, (a11 * b2 - a12 * b1) / det).as("beta2"))
      val byArm = per.groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
          sum(col("y")).as("sy_arm"))
      byArm.crossJoin(broadcast(stats))
        .select(col("arm"), col("n_users"), col("beta1"), col("beta2"),
          (col("sy_arm").cast("double") / col("n_users").cast("double"))
            .as("mean_y"),
          (col("sy_arm").cast("double") / col("n_users").cast("double") -
            col("beta1") * (col("sx1").cast("double") /
              col("n_users").cast("double") -
              col("s1").cast("double") / col("n").cast("double")) -
            col("beta2") * (col("sx2").cast("double") /
              col("n_users").cast("double") -
              col("s2").cast("double") / col("n").cast("double")))
            .as("mean_y_adjusted"))
    },

    // AB17 (beyond reference): COCHRAN–MANTEL–HAENSZEL pooled odds
    // ratio — "does the treatment lift conversion once stratified?",
    // the Simpson's-paradox-proof readout when arms are imbalanced
    // across segments (ab7 reads each segment alone; CMH pools them
    // with the correct n_i weighting). One per-user rollup (arm,
    // modal-event-type stratum, any-post-purchase flag), a 2×2 per
    // stratum, and OR_MH = Σ(a·d/n)/Σ(b·c/n) folded through an ordered
    // window over the STRATA frame (event-type domain — bounded), so
    // the cross-stratum double sums are order-deterministic on both
    // engines. Cell products cast to decimal before multiplying
    // (10⁹-user strata overflow int64).
    "ab17_cmh_odds" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val seg = modalType(ev)
        .select(col("user_id"), col("event_type").as("segment"))
      val per = perUserConv(ev)
        .join(seg, "user_id")
      val st = per.groupBy("segment").agg(
        sum(when(col("arm") === 1 && col("conv") === 1, 1L)
          .otherwise(0L)).as("a"),
        sum(when(col("arm") === 1 && col("conv") === 0, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("arm") === 0 && col("conv") === 1, 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("arm") === 0 && col("conv") === 0, 1L)
          .otherwise(0L)).as("d"))
        .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      // micro-quantize each stratum's a·d/n and b·c/n BEFORE the
      // cross-stratum sum (cross-row double SUMs are not
      // order-reproducible across engines — ab18's lesson); OR_MH is
      // then one division of two exact integer sums
      st.withColumn("qad", floor((col("a").cast(d38) * col("d"))
          .cast("double") / col("n").cast("double") * lit(1e6))
          .cast(d38))
        .withColumn("qbc", floor((col("b").cast(d38) * col("c"))
          .cast("double") / col("n").cast("double") * lit(1e6))
          .cast(d38))
        .agg(count(lit(1)).as("k_strata"), sum(col("qad")).as("sa"),
          sum(col("qbc")).as("sb"))
        .select(col("k_strata"),
          (col("sa").cast("double") / lit(1e6)).as("sum_ad_n"),
          (col("sb").cast("double") / lit(1e6)).as("sum_bc_n"),
          when(col("sb") > 0,
            col("sa").cast("double") / col("sb").cast("double"))
            .as("or_mh"))
    },

    // AB21 (beyond reference): WILCOXON SIGNED-RANK — the PAIRED
    // nonparametric test (ab15 compares two user populations; this
    // tests whether the same users' spend SHIFTED between the pre and
    // post periods, robust to the heavy tail a paired t chokes on).
    // Zero diffs drop (the standard treatment); |diff| ranks ride
    // GlobalRank's two-pass with the doubled tie-averaged identity, so
    // 2·W⁺, 2·μ = m(m+1)/2, and Σ(t³−t) are exact integers; σ (with
    // tie correction /48) and z are one fixed IEEE tree.
    "ab21_wilcoxon_signed" -> { (s, dir) =>
      val per = perUser(dayCents(Tables.eventsUs(s, dir)))(
          (postCents - preCents).as("diff"))
        .filter(col("diff") =!= 0)
        .withColumn("absd", abs(col("diff")))
        // pinned: `ties` below re-reads the user-grain rollup instead
        // of re-running the corpus aggregate (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val rk = graft.operators.GlobalRank.withGlobalRank(per,
          order = Seq(col("absd")), tieBreak = Seq(col("user_id")),
          out = "rnk")
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("absd"))))
      val ties = per.groupBy("absd").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t").cast(d38) * col("t").cast(d38) *
          col("t").cast(d38) - col("t").cast(d38)),
          lit(0).cast(d38)).as("tsum"))
      val st = rk.agg(count(lit(1)).as("m"),
        sum(when(col("diff") > 0,
          (lit(2L) * col("rnk") + col("cnt") - lit(1L)).cast(d38))
          .otherwise(lit(0).cast(d38))).as("w2pos"))
      st.crossJoin(broadcast(ties))
        // 2μ = m(m+1)/2 — always integral (consecutive product even);
        // W⁺ itself can be half-integral under odd tie groups, so the
        // DOUBLED form is the exact integer contract throughout
        .withColumn("mu2",
          expr("cast(m as decimal(38,0)) * (m + 1) div 2"))
        .withColumn("var_w",
          (col("m").cast(d38) * (col("m") + 1).cast(d38) *
            (lit(2L) * col("m") + 1).cast(d38)).cast("double") /
            lit(24.0) - col("tsum").cast("double") / lit(48.0))
        .select(col("m").as("m_nonzero"),
          col("w2pos").cast("bigint").as("w_plus_x2"),
          when(col("m") > 0 && col("var_w") > 0,
            (col("w2pos") - col("mu2")).cast("double") /
              (lit(2.0) * sqrt(col("var_w")))).as("z_stat"))
    },

    // AB15 (beyond reference): MANN–WHITNEY U rank-sum test — the
    // nonparametric two-sample readout for heavy-tailed metrics where
    // ab3's Welch t is miscalibrated (per-user spend is exactly that
    // shape). Tie-averaged ranks over the COMBINED per-user sample stay
    // integral via d41's identity 2·avg_rank = 2·rank + cnt − 1, so the
    // arm rank sums, U, and the tie correction Σ(t³−t) are exact
    // decimal(38,0); only the final z (normal approximation with tie
    // variance) divides. The per-user frame is corpus-sized, so the
    // rank rides GlobalRank's range-partitioned two-pass — never an
    // unpartitioned window; tie counts come from a hash-partitioned
    // per-value window.
    "ab15_mann_whitney" -> { (s, dir) =>
      val per = perUserY(Tables.eventsUs(s, dir))
        // pinned: `ties` below re-reads this user-grain rollup instead
        // of re-running the corpus aggregate (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val rk = graft.operators.GlobalRank.withGlobalRank(per,
          order = Seq(col("y")), tieBreak = Seq(col("user_id")),
          out = "rnk")
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("y"))))
      val byArm = rk.groupBy("arm").agg(count(lit(1)).as("n"),
        sum((lit(2L) * col("rnk") + col("cnt") - lit(1L)).cast(d38))
          .as("s2r"))
        .transform(graft.operators.GlobalRank.pinned) // arm-grain; read by both a0 and a1
      // cast BEFORE the cube: a single tie group past ~2·10⁶ rows (the
      // y=0 mass at corpus scale) overflows t³ in int64
      val ties = per.groupBy("y").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t").cast(d38) * col("t").cast(d38) *
          col("t").cast(d38) - col("t").cast(d38)),
          lit(0).cast(d38)).as("tsum"))
      val a0 = byArm.filter(col("arm") === 0).select(col("n").as("n0"))
      val a1 = byArm.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("s2r").as("s2r1"))
      val base = a0.crossJoin(a1).crossJoin(broadcast(ties))
        // 2·U₁ = Σ(2·avg_rank)₁ − n₁(n₁+1): exact integers end to end
        .withColumn("u1_x2",
          (col("s2r1") - col("n1").cast(d38) * (col("n1") + 1).cast(d38))
            .cast("bigint"))
        .withColumn("nn", (col("n0") + col("n1")).cast("double"))
        // Var(U) with tie correction:
        // n0·n1/12 · [(n+1) − Σ(t³−t)/(n(n−1))] — one fixed IEEE tree
        .withColumn("var_u",
          col("n0").cast("double") * col("n1").cast("double") / lit(12.0) *
            ((col("nn") + lit(1.0)) - col("tsum").cast("double") /
              (col("nn") * (col("nn") - lit(1.0)))))
        .withColumn("z",
          when(col("var_u") > 0,
            (col("u1_x2").cast("double") -
              col("n0").cast("double") * col("n1").cast("double")) /
              (lit(2.0) * sqrt(col("var_u")))))
        .withColumn("x", abs(col("z")) * lit(0.7071067811865476))
        .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
      base.select(col("n0"), col("n1"), col("u1_x2"),
        col("z").as("z_stat"),
        when(col("z").isNotNull, expr(pMicroSql)).as("p_micro"))
    },

    // AB16 (beyond reference): PERMUTATION test via hash-seeded
    // RERANDOMIZATION — the assumption-free p-value for the arm mean
    // diff: re-assign every user to a pseudo-arm under R=200
    // independent salted hashes, recompute the diff per replica, and
    // report the rank of the observed |diff| in that null ensemble
    // (p = (1+exceed)/(R_valid+1), the standard +1 bias guard). The
    // replica expansion is one map-side explode of the per-user rollup
    // (users × 200 rows, partially aggregated before the replica
    // shuffle — never the raw event stream), and exceedance is decided
    // on exact cross-multiplied integers |Δr|·n0·n1 ≥ |Δobs|·r0·r1, no
    // float epsilon. Whole-DOLLAR units (d29's trick) keep those
    // 4-factor products inside decimal(38) headroom at 10⁹-user scale.
    "ab16_permutation_test" -> { (s, dir) =>
      val per = perUser(Tables.eventsUs(s, dir)
          .select(col("user_id"), expr("ts div 86400000000").as("day"),
            expr("cast(round(value) as bigint)").as("dollars")))(
          sum(when(col("day") >= col("d0") + 15, col("dollars"))
            .otherwise(0L)).as("y"))
        .withColumn("arm", arm(col("user_id")))
        // pinned: feeds BOTH the observed stats and the 200-replica
        // explode — un-pinned, the corpus rollup ran twice
        .transform(graft.operators.GlobalRank.pinned)
      val st = per.groupBy("arm").agg(count(lit(1)).as("n"),
        sum(col("y").cast(d38)).as("sy"))
        .transform(graft.operators.GlobalRank.pinned) // arm-grain; read by both obs sides
      val obs = st.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("sy").as("sy0"))
        .crossJoin(st.filter(col("arm") === 1)
          .select(col("n").as("n1"), col("sy").as("sy1")))
      val reps = per.select(col("user_id"), col("y"),
          explode(expr("sequence(0, 199)")).as("r"))
        .withColumn("parm",
          graft.functions.HashExpressions.md5Prefix60(
            concat(lit("perm"), col("r").cast("string"), lit(":"),
              col("user_id").cast("string"))) % 1000 % 2)
      val rst = reps.groupBy("r", "parm").agg(count(lit(1)).as("rn"),
        sum(col("y").cast(d38)).as("rs"))
        // pinned: the replica table feeds both pseudo-arm sides —
        // un-pinned, the users×200 explode+rollup ran twice
        .transform(graft.operators.GlobalRank.pinned)
      val r0 = rst.filter(col("parm") === 0).select(col("r"),
        col("rn").as("rn0"), col("rs").as("rs0"))
      val r1 = rst.filter(col("parm") === 1).select(col("r").as("r1"),
        col("rn").as("rn1"), col("rs").as("rs1"))
      val joined = r0.join(r1, col("r") === col("r1"))
        .crossJoin(broadcast(obs))
        .select((abs(col("rs1") * col("rn0").cast(d38) -
          col("rs0") * col("rn1").cast(d38)) *
          (col("n0").cast(d38) * col("n1").cast(d38)) >=
          abs(col("sy1") * col("n0").cast(d38) -
            col("sy0") * col("n1").cast(d38)) *
            (col("rn0").cast(d38) * col("rn1").cast(d38)))
          .as("exceed"))
      val tallied = joined.agg(count(lit(1)).as("n_valid"),
        sum(when(col("exceed"), 1L).otherwise(0L)).as("n_exceed"))
      obs.crossJoin(broadcast(tallied)).select(
        col("n0"), col("n1"),
        (col("sy1").cast("double") / col("n1").cast("double") -
          col("sy0").cast("double") / col("n0").cast("double"))
          .as("diff_dollars"),
        col("n_valid"), col("n_exceed"),
        expr("(1 + n_exceed) * 1000000 div (n_valid + 1)").as("p_micro"))
    },
  )

  private val armSql =
    "(CAST(('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000) % 2"

  /** Two-sided normal p-value in micro units from columns `x` (=|z|/√2)
    * and `t` (=1/(1+0.3275911·x)): the Abramowitz–Stegun 7.1.26 erf
    * polynomial in Horner form. The SAME text runs on both engines
    * (Spark `expr` and the DuckDB oracle), so the fixed IEEE tree and
    * its single exp round identically. */
  private val pMicroSql =
    "least(CAST(FLOOR(1000000.0 * ((t * (0.254829592 + t * " +
      "(-0.284496736 + t * (1.421413741 + t * (-1.453152027 + " +
      "t * 1.061405429))))) * exp(-(x * x)))) AS BIGINT), 1000000)"

  /** Oracle CTEs `d` (every event's user, day and integer cents) and
    * `mn` (the corpus min day `d0`). */
  private val dMnSql =
    """WITH d AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mn AS (SELECT MIN(day) AS d0 FROM d),""".stripMargin
  private def centsSql(cmp: String, name: String): String =
    s"CAST(SUM(CASE WHEN day $cmp d0 + 15 THEN cents ELSE 0 END) AS BIGINT) AS $name"
  private val xSql = centsSql("<", "x")
  private val ySql = centsSql(">=", "y")

  /** Oracle CTE `per`: per-user `cols` and the arm over `d` × `mn`. */
  private def perSql(cols: String*): String =
    s"""$dMnSql
       |per AS (
       |  SELECT user_id,
       |    ${cols.mkString(",\n")},
       |    $armSql AS arm
       |  FROM d CROSS JOIN mn GROUP BY user_id),""".stripMargin

  /** The same per-user CTE reading `events` directly: `mn`, then `per`. */
  private val evMnSql =
    "mn AS (SELECT MIN(epoch_us(ts) // 86400000000) AS d0 FROM events),"
  private def evCentsSql(cmp: String, name: String): String =
    s"""CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 $cmp mn.d0 + 15
       |      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS $name""".stripMargin
  private val evXSql = evCentsSql("<", "x")
  private val evYSql = evCentsSql(">=", "y")
  private def evPerSql(cols: String*): String =
    s"""$evMnSql
       |per AS (
       |  SELECT user_id,
       |    ${cols.mkString(",\n")},
       |    $armSql AS arm
       |  FROM events CROSS JOIN mn GROUP BY user_id),""".stripMargin

  /** Oracle CTE `name`: each user's modal event type (ties go to the
    * lexicographically first), projected as `sel`. */
  private def modalSql(name: String, sel: String): String =
    s"""$name AS (
       |  SELECT user_id, $sel FROM (
       |    SELECT user_id, event_type,
       |      ROW_NUMBER() OVER (PARTITION BY user_id
       |        ORDER BY COUNT(*) DESC, event_type ASC) AS rk
       |    FROM events GROUP BY user_id, event_type) z
       |  WHERE rk = 1)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ab9_winsorized_diff" ->
      s"""${perSql(ySql)}
         |ranked AS (
         |  SELECT user_id, y, arm,
         |    ROW_NUMBER() OVER (PARTITION BY arm ORDER BY y, user_id)
         |      AS rn,
         |    COUNT(*) OVER (PARTITION BY arm) AS n
         |  FROM per),
         |cuts AS (
         |  SELECT arm AS c_arm, MIN(y) AS lo, MAX(y) AS hi FROM ranked
         |  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
         |  GROUP BY 1),
         |st AS (
         |  SELECT r.arm, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN y < lo THEN lo WHEN y > hi THEN hi
         |      ELSE y END) AS BIGINT) AS swy
         |  FROM ranked r JOIN cuts c ON r.arm = c.c_arm GROUP BY 1),
         |a0 AS (SELECT n AS n0, swy AS s0 FROM st WHERE arm = 0),
         |a1 AS (SELECT n AS n1, swy AS s1 FROM st WHERE arm = 1)
         |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |  CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS wmean0,
         |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS wmean1,
         |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS wdiff
         |FROM a0 CROSS JOIN a1""".stripMargin,
    "ab1_cuped" ->
      s"""${perSql(xSql, ySql)}
         |pooled AS (
         |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
         |  FROM per),
         |by_arm AS (
         |  SELECT arm, COUNT(*) AS n_users,
         |    CAST(SUM(x) AS BIGINT) AS sum_x_cents,
         |    CAST(SUM(y) AS BIGINT) AS sum_y_cents
         |  FROM per GROUP BY arm)
         |SELECT arm, n_users, sum_x_cents, sum_y_cents,
         |  CAST(sum_y_cents AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y,
         |  CAST(sum_y_cents AS DOUBLE) / CAST(n_users AS DOUBLE) -
         |    (CAST(n * sxy - sx * sy AS DOUBLE) /
         |     CAST(n * sxx - sx * sx AS DOUBLE)) *
         |    (CAST(sum_x_cents AS DOUBLE) / CAST(n_users AS DOUBLE) -
         |     CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_y_adjusted
         |FROM by_arm CROSS JOIN pooled""".stripMargin,
    "ab3_diff_in_means" ->
      s"""${perSql(ySql)}
         |st AS (
         |  SELECT arm, COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy
         |  FROM per GROUP BY arm),
         |a0 AS (SELECT n AS n0, sy AS sy0, syy AS syy0 FROM st WHERE arm = 0),
         |a1 AS (SELECT n AS n1, sy AS sy1, syy AS syy1 FROM st WHERE arm = 1)
         |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |  CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
         |  CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
         |  CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |    CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS diff,
         |  CASE WHEN n0 > 1 AND n1 > 1 THEN
         |    (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |     CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
         |    sqrt(CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE) /
         |           CAST(n0 * (n0 - 1) AS DOUBLE) / CAST(n0 AS DOUBLE) +
         |         CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE) /
         |           CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE))
         |  END AS t_stat
         |FROM a0 CROSS JOIN a1""".stripMargin,
    "ab4_ratio_delta" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y,
         |    $armSql AS arm
         |  FROM events GROUP BY user_id),
         |st AS (
         |  SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
         |  FROM per GROUP BY arm)
         |SELECT arm, n,
         |  CAST(sx AS BIGINT) AS views, CAST(sy AS BIGINT) AS clicks,
         |  CASE WHEN sx > 0 THEN
         |    CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) END AS ctr,
         |  CASE WHEN n > 1 AND sx > 0 THEN
         |    (CAST(n * syy - sy * sy AS DOUBLE) /
         |       CAST(n * (n - 1) AS DOUBLE) -
         |     2.0e0 * (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) *
         |       (CAST(n * sxy - sx * sy AS DOUBLE) /
         |        CAST(n * (n - 1) AS DOUBLE)) +
         |     (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) *
         |       (CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE)) *
         |       (CAST(n * sxx - sx * sx AS DOUBLE) /
         |        CAST(n * (n - 1) AS DOUBLE))) /
         |    (CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
         |  END AS var_delta
         |FROM st""".stripMargin,
    "ab5_power_mde" ->
      s"""${perSql(ySql)}
         |st AS (
         |  SELECT arm, COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy
         |  FROM per GROUP BY arm),
         |pooled AS (
         |  SELECT SUM(n) AS n, SUM(sy) AS sy, SUM(syy) AS syy,
         |    CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1
         |  FROM st)
         |SELECT n0, n1,
         |  CAST(n * syy - sy * sy AS DOUBLE) /
         |    CAST(n * (n - 1) AS DOUBLE) AS pooled_var,
         |  (1.96e0 + 0.8416e0) *
         |    sqrt(CAST(n * syy - sy * sy AS DOUBLE) /
         |           CAST(n * (n - 1) AS DOUBLE) / CAST(n0 AS DOUBLE) +
         |         CAST(n * syy - sy * sy AS DOUBLE) /
         |           CAST(n * (n - 1) AS DOUBLE) / CAST(n1 AS DOUBLE))
         |    AS mde_cents
         |FROM pooled""".stripMargin,
    "ab2_srm_check" ->
      s"""WITH u AS (
         |  SELECT DISTINCT user_id FROM events),
         |a AS (SELECT $armSql AS arm FROM u)
         |SELECT
         |  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |  CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST((SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) -
         |        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)) *
         |       (SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) -
         |        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS chi2,
         |  CAST(CAST((SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) -
         |        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)) *
         |       (SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) -
         |        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) > 3.841 AS BIGINT) AS srm_flag
         |FROM a""".stripMargin,
    "ab8_funnel_by_arm" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         |    $armSql AS arm
         |  FROM events),
         |v AS (SELECT user_id, arm, MIN(ts_us) AS t1 FROM e
         |      WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT e.user_id, e.arm, MIN(e.ts_us) AS t2
         |      FROM e JOIN v ON e.user_id = v.user_id
         |      WHERE e.event_type = 'click' AND e.ts_us > v.t1
         |      GROUP BY 1, 2),
         |p AS (SELECT e.user_id, e.arm, MIN(e.ts_us) AS t3
         |      FROM e JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type = 'purchase' AND e.ts_us > c.t2
         |      GROUP BY 1, 2),
         |st AS (
         |  SELECT arm, '1_view' AS stage, CAST(COUNT(*) AS BIGINT)
         |    AS n_users FROM v GROUP BY arm
         |  UNION ALL SELECT arm, '2_click', CAST(COUNT(*) AS BIGINT)
         |    FROM c GROUP BY arm
         |  UNION ALL SELECT arm, '3_purchase', CAST(COUNT(*) AS BIGINT)
         |    FROM p GROUP BY arm)
         |SELECT arm, stage, n_users,
         |  CASE WHEN LAG(n_users, 1) OVER w IS NOT NULL THEN
         |    CAST((n_users * 1000000) // LAG(n_users, 1) OVER w AS BIGINT)
         |  END AS conv_micro
         |FROM st
         |WINDOW w AS (PARTITION BY arm ORDER BY stage)""".stripMargin,
    "ab7_uplift_by_segment" ->
      s"""WITH ${modalSql("seg", "event_type AS segment")},
         |${evPerSql(evYSql)}
         |j AS (SELECT p.y, p.arm, s.segment
         |      FROM per p JOIN seg s USING (user_id)),
         |st AS (
         |  SELECT segment, arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS HUGEINT) AS sy,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM j GROUP BY 1, 2),
         |p AS (
         |  SELECT a0.segment, a0.n AS n0, a0.sy AS sy0, a0.syy AS syy0,
         |         a1.n AS n1, a1.sy AS sy1, a1.syy AS syy1
         |  FROM st a0 JOIN st a1
         |    ON a0.segment = a1.segment AND a0.arm = 0 AND a1.arm = 1
         |  WHERE a0.n > 1 AND a1.n > 1)
         |SELECT segment, n0, n1,
         |  CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |    CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS diff,
         |  (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |    CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
         |  sqrt(
         |    CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE) /
         |      CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) +
         |    CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE) /
         |      CAST(n0 * (n0 - 1) AS DOUBLE) / CAST(n0 AS DOUBLE)) AS z
         |FROM p""".stripMargin,
    "ab13_poisson_bootstrap" ->
      s"""WITH ${evPerSql(evYSql)}
         |rep AS (
         |  SELECT arm, y, b,
         |    CAST(('0x' || substr(md5('ab13:' ||
         |      CAST(user_id AS VARCHAR) || '_' || CAST(b AS VARCHAR)),
         |      1, 15)) AS BIGINT) % 1000 AS bk
         |  FROM per CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bb),
         |w AS (SELECT arm, b, y,
         |    CASE WHEN bk < 368 THEN 0 WHEN bk < 736 THEN 1
         |      WHEN bk < 920 THEN 2 WHEN bk < 981 THEN 3
         |      WHEN bk < 996 THEN 4 ELSE 5 END AS w
         |  FROM rep),
         |cells AS (SELECT arm, b, CAST(SUM(w) AS BIGINT) AS sw,
         |    CAST(SUM(CAST(w AS HUGEINT) * y) AS HUGEINT) AS swy
         |  FROM w GROUP BY 1, 2),
         |diffs AS (
         |  SELECT b,
         |    CASE WHEN MIN(CASE WHEN arm = 0 THEN sw END) > 0
         |       AND MIN(CASE WHEN arm = 1 THEN sw END) > 0 THEN
         |      CAST(FLOOR(1000000.0 * (
         |        CAST(MIN(CASE WHEN arm = 1 THEN swy END) AS DOUBLE)
         |          / CAST(MIN(CASE WHEN arm = 1 THEN sw END) AS DOUBLE)
         |        - CAST(MIN(CASE WHEN arm = 0 THEN swy END) AS DOUBLE)
         |          / CAST(MIN(CASE WHEN arm = 0 THEN sw END) AS DOUBLE)))
         |        AS BIGINT) END AS d_micro
         |  FROM cells GROUP BY b)
         |SELECT CAST(COUNT(d_micro) AS BIGINT) AS n_reps,
         |  CAST(MIN(d_micro) AS BIGINT) AS lo_micro,
         |  CAST(MAX(d_micro) AS BIGINT) AS hi_micro,
         |  CASE WHEN COUNT(d_micro) > 1 THEN
         |    sqrt(CAST(COUNT(d_micro) *
         |        SUM(CAST(d_micro AS HUGEINT) * d_micro)
         |      - SUM(d_micro) * SUM(d_micro) AS DOUBLE)
         |      / CAST(COUNT(d_micro) * (COUNT(d_micro) - 1) AS DOUBLE))
         |  END AS se_boot_micro
         |FROM diffs""".stripMargin,
    "ab14_qini_curve" ->
      s"""WITH ${evPerSql(evXSql, evYSql)}
         |nn AS (SELECT COUNT(*) AS n_all FROM per),
         |ranked AS (SELECT user_id, x, y, arm,
         |    ROW_NUMBER() OVER (ORDER BY x DESC, user_id) AS rn
         |  FROM per),
         |dec AS (SELECT y, arm, (rn - 1) * 10 // n_all + 1 AS decile
         |  FROM ranked CROSS JOIN nn),
         |cells AS (SELECT decile,
         |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
         |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
         |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)
         |      AS HUGEINT) AS syt,
         |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)
         |      AS HUGEINT) AS syc
         |  FROM dec GROUP BY 1),
         |cum AS (SELECT decile,
         |    SUM(nt) OVER w AS cnt, SUM(nc) OVER w AS cnc,
         |    SUM(syt) OVER w AS cyt, SUM(syc) OVER w AS cyc
         |  FROM cells WINDOW w AS (ORDER BY decile ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT CAST(decile AS BIGINT) AS decile,
         |  CAST(cnt AS BIGINT) AS cum_treated,
         |  CAST(cnc AS BIGINT) AS cum_control,
         |  CASE WHEN cnc > 0 THEN CAST(cyt AS DOUBLE)
         |    - CAST(cyc AS DOUBLE) *
         |      (CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE))
         |  END AS qini
         |FROM cum""".stripMargin,
    "ab12_ipw_ate" ->
      s"""WITH ${modalSql("modal", "event_type = 'purchase' AS treated")},
        |$evMnSql
        |per AS (
        |  SELECT user_id, COUNT(*) AS n_ev, $evYSql
        |  FROM events CROSS JOIN mn GROUP BY user_id),
        |j AS (
        |  SELECT p.user_id, p.y, m.treated,
        |    CASE WHEN p.n_ev >= 8 THEN 3 WHEN p.n_ev >= 4 THEN 2
        |      WHEN p.n_ev >= 2 THEN 1 ELSE 0 END AS stratum
        |  FROM per p JOIN modal m USING (user_id)),
        |tot AS (SELECT COUNT(*) AS n_all FROM j),
        |st AS (
        |  SELECT stratum, COUNT(*) AS n_s,
        |    SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS nt,
        |    CAST(SUM(CASE WHEN treated THEN y ELSE 0 END)
        |      AS HUGEINT) AS sy1,
        |    CAST(SUM(CASE WHEN NOT treated THEN y ELSE 0 END)
        |      AS HUGEINT) AS sy0
        |  FROM j GROUP BY 1)
        |SELECT CAST(stratum AS BIGINT) AS stratum,
        |  CAST(n_s AS BIGINT) AS n_s,
        |  CAST(nt * 1000000 // n_s AS BIGINT) AS e_micro,
        |  CASE WHEN nt > 0 THEN CAST(sy1 AS DOUBLE) / CAST(nt AS DOUBLE)
        |    END AS mean_treated,
        |  CASE WHEN n_s - nt > 0 THEN
        |    CAST(sy0 AS DOUBLE) / CAST(n_s - nt AS DOUBLE)
        |    END AS mean_control,
        |  CASE WHEN nt > 0 AND n_s - nt > 0 THEN
        |    (CAST(n_s AS DOUBLE) / CAST(n_all AS DOUBLE)) *
        |      (CAST(sy1 AS DOUBLE) / CAST(nt AS DOUBLE) -
        |        CAST(sy0 AS DOUBLE) / CAST(n_s - nt AS DOUBLE))
        |    END AS ate_contrib
        |FROM st CROSS JOIN tot""".stripMargin,
    "ab11_diff_in_diff" ->
      s"""${perSql(xSql, ySql)}
         |ba AS (SELECT arm, COUNT(*) AS n, CAST(SUM(x) AS HUGEINT) AS sx,
         |       CAST(SUM(y) AS HUGEINT) AS sy FROM per GROUP BY 1),
         |piv AS (SELECT
         |    MIN(CASE WHEN arm = 0 THEN n END) AS n0,
         |    MIN(CASE WHEN arm = 1 THEN n END) AS n1,
         |    MIN(CASE WHEN arm = 0 THEN sx END) AS sx0,
         |    MIN(CASE WHEN arm = 1 THEN sx END) AS sx1,
         |    MIN(CASE WHEN arm = 0 THEN sy END) AS sy0,
         |    MIN(CASE WHEN arm = 1 THEN sy END) AS sy1
         |  FROM ba)
         |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |  CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS pre_mean0,
         |  CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS post_mean0,
         |  CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS pre_mean1,
         |  CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS post_mean1,
         |  (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |    - CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         |  - (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         |    - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS did
         |FROM piv""".stripMargin,
    "ab10_fdr_bh" ->
      s"""WITH ${modalSql("seg", "event_type AS segment")},
         |${evPerSql(evYSql)}
         |j AS (SELECT p.y, p.arm, s.segment
         |      FROM per p JOIN seg s USING (user_id)),
         |st AS (
         |  SELECT segment, arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(y) AS HUGEINT) AS sy,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM j GROUP BY 1, 2),
         |p AS (
         |  SELECT a0.segment, a0.n AS n0, a0.sy AS sy0, a0.syy AS syy0,
         |         a1.n AS n1, a1.sy AS sy1, a1.syy AS syy1
         |  FROM st a0 JOIN st a1
         |    ON a0.segment = a1.segment AND a0.arm = 0 AND a1.arm = 1
         |  WHERE a0.n > 1 AND a1.n > 1),
         |zs AS (
         |  SELECT segment, n0, n1,
         |    (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |      CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) /
         |    sqrt(
         |      CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE) /
         |        CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) +
         |      CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE) /
         |        CAST(n0 * (n0 - 1) AS DOUBLE) / CAST(n0 AS DOUBLE)) AS z
         |  FROM p),
         |w1 AS (SELECT segment, n0, n1, z,
         |         abs(z) * 0.7071067811865476 AS x FROM zs),
         |w2 AS (SELECT segment, n0, n1, z, x,
         |         1.0 / (1.0 + 0.3275911 * x) AS t FROM w1),
         |pp AS (SELECT segment, n0, n1, z,
         |         $pMicroSql AS p_micro FROM w2),
         |cnt AS (SELECT COUNT(*) AS m FROM pp),
         |rk AS (SELECT pp.*, m,
         |    ROW_NUMBER() OVER (ORDER BY p_micro ASC, segment ASC) AS i
         |  FROM pp CROSS JOIN cnt),
         |kk AS (SELECT MAX(CASE WHEN p_micro * m <= 50000 * i
         |         THEN i ELSE 0 END) AS kbh FROM rk)
         |SELECT segment, n0, n1, z, p_micro, i <= kbh AS bh_reject
         |FROM rk CROSS JOIN kk""".stripMargin,
    "ab6_sequential_monitor" ->
      s"""WITH d AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |    CAST(FLOOR(value * 100) AS BIGINT) AS cents, $armSql AS arm
         |  FROM events),
         |daily AS (
         |  SELECT arm, day, COUNT(*) AS n, SUM(cents) AS sc,
         |    SUM(CAST(cents AS HUGEINT) * cents) AS scc
         |  FROM d GROUP BY 1, 2),
         |cum AS (
         |  SELECT arm, day, SUM(n) OVER w AS cn, SUM(sc) OVER w AS cs,
         |    SUM(scc) OVER w AS css
         |  FROM daily
         |  WINDOW w AS (PARTITION BY arm ORDER BY day
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |j AS (
         |  SELECT a0.day, a0.cn AS cn0, a0.cs AS cs0, a0.css AS css0,
         |         a1.cn AS cn1, a1.cs AS cs1, a1.css AS css1
         |  FROM cum a0 JOIN cum a1
         |    ON a0.day = a1.day AND a0.arm = 0 AND a1.arm = 1
         |  WHERE a0.cn > 1 AND a1.cn > 1),
         |z AS (
         |  SELECT day, cn0, cn1,
         |    CAST(cs1 AS DOUBLE) / CAST(cn1 AS DOUBLE) -
         |      CAST(cs0 AS DOUBLE) / CAST(cn0 AS DOUBLE) AS diff,
         |    CAST(cn0 * css0 - cs0 * cs0 AS DOUBLE) /
         |      CAST(cn0 * (cn0 - 1) AS DOUBLE) / CAST(cn0 AS DOUBLE)
         |    + CAST(cn1 * css1 - cs1 * cs1 AS DOUBLE) /
         |      CAST(cn1 * (cn1 - 1) AS DOUBLE) / CAST(cn1 AS DOUBLE) AS se2
         |  FROM j)
         |SELECT day, CAST(cn0 AS BIGINT) AS cn0, CAST(cn1 AS BIGINT) AS cn1,
         |  diff, diff * diff / se2 AS z2,
         |  diff * diff / se2 > 10.273e0 AS crossed
         |FROM z""".stripMargin,
    "ab21_wilcoxon_signed" ->
      s"""$dMnSql
         |per0 AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN day >= d0 + 15 THEN cents ELSE 0 END)
         |      - SUM(CASE WHEN day < d0 + 15 THEN cents ELSE 0 END)
         |      AS BIGINT) AS diff
         |  FROM d CROSS JOIN mn GROUP BY user_id),
         |per AS (SELECT user_id, diff, abs(diff) AS absd
         |        FROM per0 WHERE diff <> 0),
         |rk AS (SELECT diff, RANK() OVER (ORDER BY absd) AS rnk,
         |    COUNT(*) OVER (PARTITION BY absd) AS cnt FROM per),
         |ties AS (
         |  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
         |    AS tsum
         |  FROM (SELECT COUNT(*) AS t FROM per GROUP BY absd)),
         |st AS (SELECT COUNT(*) AS m,
         |    SUM(CASE WHEN diff > 0 THEN
         |      CAST(2 * rnk + cnt - 1 AS HUGEINT)
         |      ELSE CAST(0 AS HUGEINT) END) AS w2pos
         |  FROM rk),
         |v AS (SELECT m, w2pos, tsum,
         |    CAST(CAST(m AS HUGEINT) * (m + 1) * (2 * m + 1) AS DOUBLE)
         |      / 24.0 - CAST(tsum AS DOUBLE) / 48.0 AS var_w
         |  FROM st CROSS JOIN ties)
         |SELECT CAST(m AS BIGINT) AS m_nonzero,
         |  CAST(w2pos AS BIGINT) AS w_plus_x2,
         |  CASE WHEN m > 0 AND var_w > 0 THEN
         |    CAST(w2pos - (CAST(m AS HUGEINT) * (m + 1) // 2)
         |      AS DOUBLE) / (2.0 * sqrt(var_w))
         |  END AS z_stat
         |FROM v""".stripMargin,
    "ab22_sprt" ->
      s"""WITH d AS (
         |  SELECT $armSql AS arm, epoch_us(ts) // 86400000000 AS day,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
         |  FROM events),
         |daily AS (
         |  SELECT arm, day, COUNT(*) AS n,
         |    CAST(SUM(conv) AS BIGINT) AS c
         |  FROM d GROUP BY 1, 2),
         |cum AS (
         |  SELECT arm, day, n,
         |    CAST(SUM(c * 200670 + (n - c) * -50011) OVER (
         |      PARTITION BY arm ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS llr
         |  FROM daily)
         |SELECT arm, COUNT(*) AS n_days,
         |  CAST(SUM(n) AS BIGINT) AS n_events,
         |  CAST(arg_max(llr, day) AS BIGINT) AS llr_final_micro,
         |  MIN(CASE WHEN llr >= 2944438 THEN day END) AS day_accept,
         |  MIN(CASE WHEN llr <= -2944438 THEN day END) AS day_reject
         |FROM cum GROUP BY arm""".stripMargin,
    "ab20_bayes_beta" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |    epoch_us(ts) // 86400000000 AS day
         |  FROM events),
         |mn AS (SELECT MIN(day) AS d0 FROM ev),
         |per AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' AND day >= d0 + 15
         |        THEN 1 ELSE 0 END) AS conv,
         |    $armSql AS arm
         |  FROM ev CROSS JOIN mn GROUP BY user_id),
         |st AS (SELECT arm, COUNT(*) AS n,
         |    CAST(SUM(conv) AS BIGINT) AS x FROM per GROUP BY 1),
         |j AS (SELECT a0.n AS n0, a0.x AS x0, a1.n AS n1, a1.x AS x1
         |      FROM st a0, st a1 WHERE a0.arm = 0 AND a1.arm = 1),
         |b AS (SELECT n0, x0, n1, x1,
         |    CAST(x0 + 1 AS DOUBLE) / CAST(n0 + 2 AS DOUBLE) AS mean_c,
         |    CAST(x1 + 1 AS DOUBLE) / CAST(n1 + 2 AS DOUBLE) AS mean_t
         |  FROM j),
         |c AS (SELECT *,
         |    mean_t * (1.0 - mean_t) / CAST(n1 + 3 AS DOUBLE)
         |      + mean_c * (1.0 - mean_c) / CAST(n0 + 3 AS DOUBLE)
         |      AS vsum
         |  FROM b),
         |z AS (SELECT *, CASE WHEN vsum > 0 THEN
         |    (mean_t - mean_c) / sqrt(vsum) END AS z FROM c),
         |w1 AS (SELECT *, abs(z) * 0.7071067811865476 AS x FROM z),
         |w2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM w1),
         |p AS (SELECT *, CASE WHEN z IS NOT NULL THEN $pMicroSql END
         |        AS p2 FROM w2)
         |SELECT CAST(n0 AS BIGINT) AS n0, x0,
         |  CAST(n1 AS BIGINT) AS n1, x1, mean_c, mean_t, z AS z_stat,
         |  CAST(CASE WHEN z >= 0 THEN 1000000 - p2 // 2
         |       ELSE p2 // 2 END AS BIGINT) AS prob_beat_micro
         |FROM p""".stripMargin,
    "ab18_jackknife_ratio" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |    (CAST(('0x' || substr(md5('jk:' ||
         |      CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 1000) % 50 AS bkt
         |  FROM events),
         |per AS (SELECT bkt,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS num,
         |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS den
         |  FROM ev GROUP BY 1),
         |tot AS (SELECT CAST(SUM(num) AS BIGINT) AS sn,
         |    CAST(SUM(den) AS BIGINT) AS sd FROM per),
         |jk AS (SELECT bkt, num, den, sn, sd,
         |    CASE WHEN sd - den > 0 THEN
         |      CAST(sn - num AS DOUBLE) / CAST(sd - den AS DOUBLE)
         |    END AS theta_i
         |  FROM per CROSS JOIN tot),
         |jq AS (SELECT jk.*,
         |    CAST(FLOOR(theta_i * 1e15) AS BIGINT) AS qt FROM jk),
         |m AS (SELECT SUM(CASE WHEN theta_i IS NOT NULL THEN 1 ELSE 0
         |    END) AS k_valid, SUM(CAST(qt AS HUGEINT)) AS sq FROM jq),
         |mean AS (SELECT k_valid,
         |    CASE WHEN k_valid > 0 THEN CAST(sq AS DOUBLE) / 1e15 /
         |      CAST(k_valid AS DOUBLE) END AS t_bar
         |  FROM m),
         |dev AS (SELECT k_valid, t_bar, sn, sd,
         |    SUM(CAST(CAST(FLOOR((theta_i - t_bar) * (theta_i - t_bar)
         |      * 1e18) AS BIGINT) AS HUGEINT)) AS sd2
         |  FROM jq CROSS JOIN mean GROUP BY 1, 2, 3, 4)
         |SELECT CAST(k_valid AS BIGINT) AS k_valid,
         |  CASE WHEN sd > 0 THEN
         |    CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE) END AS theta,
         |  t_bar,
         |  CASE WHEN k_valid > 1 THEN
         |    sqrt(CAST(k_valid - 1 AS DOUBLE) / CAST(k_valid AS DOUBLE)
         |      * (CAST(sd2 AS DOUBLE) / 1e18)) END AS se_jack
         |FROM dev""".stripMargin,
    "ab19_regression_cuped" ->
      s"""${perSql(centsSql("<", "x1"),
           "CAST(SUM(CASE WHEN day < d0 + 15 THEN 1 ELSE 0 END) AS BIGINT) AS x2",
           ySql)}
         |pooled AS (SELECT COUNT(*) AS n,
         |    SUM(CAST(x1 AS HUGEINT)) AS s1,
         |    SUM(CAST(x2 AS HUGEINT)) AS s2,
         |    SUM(CAST(y AS HUGEINT)) AS sy,
         |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
         |    SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
         |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
         |    SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
         |    SUM(CAST(x2 AS HUGEINT) * y) AS s2y
         |  FROM per),
         |st AS (SELECT n, s1, s2,
         |    CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
         |    CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
         |    CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
         |    CAST(n * s1y - s1 * sy AS DOUBLE) AS b1,
         |    CAST(n * s2y - s2 * sy AS DOUBLE) AS b2
         |  FROM pooled),
         |bet AS (SELECT n, s1, s2,
         |    CASE WHEN abs(a11 * a22 - a12 * a12) > 0 THEN
         |      (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12)
         |    END AS beta1,
         |    CASE WHEN abs(a11 * a22 - a12 * a12) > 0 THEN
         |      (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)
         |    END AS beta2
         |  FROM st),
         |byarm AS (SELECT arm, COUNT(*) AS n_users,
         |    CAST(SUM(x1) AS BIGINT) AS sx1,
         |    CAST(SUM(x2) AS BIGINT) AS sx2,
         |    CAST(SUM(y) AS BIGINT) AS sy_arm
         |  FROM per GROUP BY 1)
         |SELECT arm, n_users, beta1, beta2,
         |  CAST(sy_arm AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y,
         |  CAST(sy_arm AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    - beta1 * (CAST(sx1 AS DOUBLE) / CAST(n_users AS DOUBLE)
         |      - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         |    - beta2 * (CAST(sx2 AS DOUBLE) / CAST(n_users AS DOUBLE)
         |      - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
         |    AS mean_y_adjusted
         |FROM byarm CROSS JOIN bet""".stripMargin,
    "ab17_cmh_odds" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |    epoch_us(ts) // 86400000000 AS day
         |  FROM events),
         |seg AS (
         |  SELECT user_id, event_type AS segment FROM (
         |    SELECT user_id, event_type,
         |      ROW_NUMBER() OVER (PARTITION BY user_id
         |        ORDER BY COUNT(*) DESC, event_type ASC) AS rk
         |    FROM ev GROUP BY user_id, event_type)
         |  WHERE rk = 1),
         |mn AS (SELECT MIN(day) AS d0 FROM ev),
         |per AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' AND day >= d0 + 15
         |        THEN 1 ELSE 0 END) AS conv,
         |    $armSql AS arm
         |  FROM ev CROSS JOIN mn GROUP BY user_id),
         |j AS (SELECT per.*, seg.segment FROM per
         |      JOIN seg USING (user_id)),
         |st AS (
         |  SELECT segment,
         |    SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS a,
         |    SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS b,
         |    SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS c,
         |    SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS d
         |  FROM j GROUP BY 1),
         |t AS (SELECT segment, a, b, c, d, a + b + c + d AS n FROM st),
         |c1 AS (SELECT segment,
         |    CAST(FLOOR(CAST(CAST(a AS HUGEINT) * d AS DOUBLE) /
         |      CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS qad,
         |    CAST(FLOOR(CAST(CAST(b AS HUGEINT) * c AS DOUBLE) /
         |      CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS qbc
         |  FROM t),
         |c2 AS (SELECT COUNT(*) AS k_strata,
         |    SUM(CAST(qad AS HUGEINT)) AS sa,
         |    SUM(CAST(qbc AS HUGEINT)) AS sb
         |  FROM c1)
         |SELECT k_strata,
         |  CAST(sa AS DOUBLE) / 1e6 AS sum_ad_n,
         |  CAST(sb AS DOUBLE) / 1e6 AS sum_bc_n,
         |  CASE WHEN sb > 0 THEN
         |    CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE) END AS or_mh
         |FROM c2""".stripMargin,
    "ab15_mann_whitney" ->
      s"""${perSql(ySql)}
         |rk AS (
         |  SELECT arm, y, RANK() OVER (ORDER BY y) AS rnk,
         |    COUNT(*) OVER (PARTITION BY y) AS cnt
         |  FROM per),
         |byarm AS (
         |  SELECT arm, COUNT(*) AS n,
         |    SUM(CAST(2 * rnk + cnt - 1 AS HUGEINT)) AS s2r
         |  FROM rk GROUP BY 1),
         |ties AS (
         |  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0) AS tsum
         |  FROM (SELECT COUNT(*) AS t FROM per GROUP BY y)),
         |uz AS (
         |  SELECT n0, n1,
         |    CAST(s2r1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT)
         |      AS u1_x2,
         |    CAST(n0 + n1 AS DOUBLE) AS nn, tsum
         |  FROM (SELECT a0.n AS n0, a1.n AS n1, a1.s2r AS s2r1
         |        FROM byarm a0, byarm a1
         |        WHERE a0.arm = 0 AND a1.arm = 1)
         |  CROSS JOIN ties),
         |v AS (
         |  SELECT n0, n1, u1_x2,
         |    CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0 *
         |      ((nn + 1.0) - CAST(tsum AS DOUBLE) / (nn * (nn - 1.0)))
         |      AS var_u
         |  FROM uz),
         |z AS (
         |  SELECT n0, n1, u1_x2,
         |    CASE WHEN var_u > 0 THEN
         |      (CAST(u1_x2 AS DOUBLE) -
         |        CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) /
         |      (2.0 * sqrt(var_u)) END AS z_stat
         |  FROM v),
         |w1 AS (SELECT n0, n1, u1_x2, z_stat,
         |         abs(z_stat) * 0.7071067811865476 AS x FROM z),
         |w2 AS (SELECT n0, n1, u1_x2, z_stat, x,
         |         1.0 / (1.0 + 0.3275911 * x) AS t FROM w1)
         |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |  u1_x2, z_stat,
         |  CASE WHEN z_stat IS NOT NULL THEN $pMicroSql END AS p_micro
         |FROM w2""".stripMargin,
    "ab16_permutation_test" ->
      s"""WITH d AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |    CAST(ROUND(value) AS BIGINT) AS dollars
         |  FROM events),
         |mn AS (SELECT MIN(day) AS d0 FROM d),
         |per AS (
         |  SELECT user_id,
         |    CAST(SUM(CASE WHEN day >= d0 + 15 THEN dollars ELSE 0 END)
         |      AS BIGINT) AS y,
         |    $armSql AS arm
         |  FROM d CROSS JOIN mn GROUP BY user_id),
         |st AS (SELECT arm, COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS sy
         |       FROM per GROUP BY 1),
         |obs AS (SELECT a0.n AS n0, a0.sy AS sy0, a1.n AS n1, a1.sy AS sy1
         |        FROM st a0, st a1 WHERE a0.arm = 0 AND a1.arm = 1),
         |reps AS (
         |  SELECT user_id, y, r,
         |    (CAST(('0x' || substr(md5('perm' || CAST(r AS VARCHAR) ||
         |      ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 1000) % 2 AS parm
         |  FROM per CROSS JOIN generate_series(0, 199) t(r)),
         |rst AS (SELECT r, parm, COUNT(*) AS rn,
         |          SUM(CAST(y AS HUGEINT)) AS rs
         |        FROM reps GROUP BY 1, 2),
         |j AS (
         |  SELECT r0.rn AS rn0, r0.rs AS rs0, r1.rn AS rn1, r1.rs AS rs1
         |  FROM rst r0 JOIN rst r1
         |    ON r0.r = r1.r AND r0.parm = 0 AND r1.parm = 1),
         |ex AS (
         |  SELECT CASE WHEN
         |      abs(rs1 * CAST(rn0 AS HUGEINT) - rs0 * CAST(rn1 AS HUGEINT))
         |        * (CAST(n0 AS HUGEINT) * n1) >=
         |      abs(sy1 * CAST(n0 AS HUGEINT) - sy0 * CAST(n1 AS HUGEINT))
         |        * (CAST(rn0 AS HUGEINT) * rn1)
         |    THEN 1 ELSE 0 END AS e
         |  FROM j CROSS JOIN obs),
         |tl AS (SELECT COUNT(*) AS n_valid, CAST(SUM(e) AS BIGINT)
         |         AS n_exceed FROM ex)
         |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |  CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
         |    CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS diff_dollars,
         |  n_valid, n_exceed,
         |  (1 + n_exceed) * 1000000 // (n_valid + 1) AS p_micro
         |FROM obs CROSS JOIN tl""".stripMargin,
  )
}
