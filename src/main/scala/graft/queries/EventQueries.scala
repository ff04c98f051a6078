package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import Det.d38

/** Batch restatement of event-stream operations over the `events` table
  * (SURVEY.md §2.I: the reference's "incremental" processing is scheduled
  * batch; these show the same late-data-tolerant semantics expressed
  * declaratively as batch queries).
  *
  * `events.ts` has shipped under two physical contracts (TIMESTAMP(NANOS)
  * read as long nanos, and timestamp[us] read as TIMESTAMP_NTZ);
  * `Tables.eventsUs` normalizes both to long epoch-µs at the scan, so every
  * query below sees one integer contract (DuckDB side: `epoch_us(ts)`).
  */
object EventQueries {

  private val gapUs = 30L * 60 * 1000000L // 30-min sessionization gap, µs

  /** Event time as long microseconds — `Tables.eventsUs` already rewrote
    * `ts` to epoch-µs (type-adaptively), so this is just the column. */
  private def tsUs = col("ts")

  /** Events per (event_type, day index): the daily series every
    * time-series query below starts from. */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(s, dir)
      .select(col("event_type"), expr("ts div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))

  /** Every event after a user's first, with the type of the event before
    * it (per user by ts, then event_id) as `prev_type`: the transition
    * frame behind the Markov-chain queries. */
  private def transitions(s: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("prev_type").isNotNull)

  /** The distinct (user_id, day index) pairs: one row per active day. */
  private def userDays(s: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(s, dir)
      .select(col("user_id"), expr("ts div 86400000000").as("day"))
      .distinct()

  /** ts8's classical seasonal decomposition (trend = centered ±3-day
    * RANGE-frame mean, seasonal = day-of-week mean of the detrended
    * series, residual = the rest), shared with ts9's anomaly test.
    * Exact integer micro-units throughout — window mean and dow mean are
    * truncating integer divisions of exact sums, identical in both
    * engines for negative values too. One daily-rollup shuffle; the
    * trend window rides its partitioning; the 7×|series| profile
    * broadcasts back. */
  private def stlDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-3, 3)
    val dt = daily
      .withColumn("wsum", sum(col("n")).over(w))
      .withColumn("wcnt", count(lit(1)).over(w))
      .withColumn("trend_micro", expr("(wsum * 1000000) div wcnt"))
      .withColumn("det", expr("n * 1000000 - trend_micro"))
    val seasonal = dt.groupBy(col("event_type"),
        (col("day") % 7).as("dow"))
      .agg(sum(col("det")).as("dsum"), count(lit(1)).as("dcnt"))
      .select(col("event_type").as("se_type"), col("dow"),
        expr("dsum div dcnt").as("seasonal_micro"))
    dt.join(broadcast(seasonal),
        dt("event_type") === col("se_type") && col("day") % 7 === col("dow"))
      .select(col("event_type"), col("day"), col("n"),
        col("trend_micro"), col("seasonal_micro"),
        (col("det") - col("seasonal_micro")).as("resid_micro"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-user inter-event gap via lag over event time.
    "ev1_event_gaps" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(tsUs, col("event_id"))
      Tables.eventsUs(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        ((tsUs - lag(tsUs, 1).over(w)) / lit(1000000.0))
          .as("gap_seconds"))
    },

    // Gap-based sessionization: a new session starts after a 30-min silence;
    // session index = running count of session starts. This is the batch
    // equivalent of a session window — at scale it is one shuffle on
    // user_id, then two sorted-window passes over co-partitioned data.
    "ev2_sessionize" -> { (s, dir) =>
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(tsUs, col("event_id"))
      val running = byTime.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      Tables.eventsUs(s, dir)
        .withColumn("is_new_session",
          when(tsUs - lag(tsUs, 1).over(byTime) > gapUs ||
            lag(tsUs, 1).over(byTime).isNull, 1L).otherwise(0L))
        .select(
          col("user_id"), col("event_id"),
          sum(col("is_new_session")).over(running).as("session_seq"))
    },

    // The NATIVE tumbling-window operator (`window(ts, duration)`), run
    // in batch and oracled: epoch-aligned 6-hour buckets per event type.
    // Start/end in epoch-µs longs for engine-exact comparison.
    "ev7_tumbling_counts" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
        .withColumn("__ts", timestamp_micros(tsUs))
      ev.groupBy(window(col("__ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"))
    },

    // The NATIVE session-window operator (`session_window`), run in
    // batch and oracled: Spark merges per-event [ts, ts+gap) windows, so
    // a new session starts iff the silence is >= gap; window end = last
    // event + gap. One shuffle on the session-window key; state merges
    // map-side. Emitted in epoch-µs longs for engine-exact comparison.
    "ev6_session_window" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
        .withColumn("__ts", timestamp_micros(tsUs))
      ev.groupBy(col("user_id"), session_window(col("__ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
    },

    // As-of join (backward): each event picks up the user's most recent
    // order at or before the event time — the point-in-time join Spark
    // lacks natively, composed in graft.operators.AsOfJoin.
    "ev4_asof_last_order" -> { (s, dir) =>
      import graft.operators.AsOfJoin
      val ev = Tables.eventsUs(s, dir).select(col("event_id"),
        col("user_id"), col("ts").as("ts_us"))
      val o = Tables.orders(s, dir)
      val orders = o.select(
        col("o_custkey").as("user_id"),
        Tables.eventTimeUs(o, "o_orderdate").as("order_us"),
        col("o_orderkey"), col("o_totalprice"))
      val deduped = AsOfJoin.dedupeRight(orders, "user_id", "order_us",
        "o_orderkey")
      AsOfJoin.asofJoin(ev, deduped, "user_id", "ts_us", "order_us",
          Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("o_orderkey").as("last_order"),
          col("o_totalprice").as("last_order_price"))
    },

    // Forward as-of join: each order picks up the user's NEXT event at or
    // after the order time — conversion attribution ("what happened
    // next"), the mirror of ev4's backward point-in-time lookup.
    "ev10_asof_next_event" -> { (s, dir) =>
      import graft.operators.AsOfJoin
      val o = Tables.orders(s, dir)
      val orders = o.select(col("o_orderkey"),
        col("o_custkey").as("user_id"),
        Tables.eventTimeUs(o, "o_orderdate").as("order_us"))
      val ev = Tables.eventsUs(s, dir).select(col("user_id"),
        col("ts").as("ts_us"), col("event_id"), col("event_type"))
      val deduped = AsOfJoin.dedupeRight(ev, "user_id", "ts_us", "event_id")
      AsOfJoin.asofJoin(orders, deduped, "user_id", "order_us", "ts_us",
          Seq("event_id", "event_type"), direction = "forward")
        .select(col("o_orderkey"), col("user_id"), col("order_us"),
          col("event_id").as("next_event"),
          col("event_type").as("next_event_type"))
    },

    // Tolerance-bounded backward as-of: each view picks up the user's
    // LAST click at or before the view, but only if it happened within
    // 30 minutes — attribution with an expiry window, pandas-merge_asof
    // tolerance semantics (a too-far nearest match drops, it does not
    // fall through to an older click).
    "ev11_asof_tolerance" -> { (s, dir) =>
      import graft.operators.AsOfJoin
      val ev = Tables.eventsUs(s, dir).select(col("user_id"),
        col("ts").as("ts_us"), col("event_id"), col("event_type"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("view_us"),
          col("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val deduped = AsOfJoin.dedupeRight(clicks, "user_id", "ts_us",
        "event_id")
      AsOfJoin.asofJoin(views, deduped, "user_id", "view_us", "ts_us",
          Seq("event_id"), tolerance = Some(1800L * 1000000L))
        .select(col("view_id"), col("user_id"), col("view_us"),
          col("event_id").as("click_id"))
    },

    // Trailing-window anomaly detection on the daily event-count series:
    // each (event_type, day)'s count is z-scored against its own trailing
    // 7 observations (ROWS frame — mirrored literally in the oracle).
    // fe4's determinism contract: exact decimal Σx/Σx² in the frame,
    // every double derived through the identical expression tree. The
    // monitoring pass an ingest pipeline runs on its own volume curve.
    // PREF1 (beyond reference): BRADLEY-TERRY strength fitting — the
    // preference-data primitive of RLHF curation (rank models/annotators
    // /prompt variants from pairwise win counts). Comparisons derive
    // deterministically from behavior: on each (user, day), the event
    // type with more events "beats" the other for every type pair (ties
    // dropped). Three unrolled MM rounds (Hunter 2004:
    // s_i ← W_i / Σ_j n_ij/(s_i+s_j), renormalized to Σs = k·1e6) in
    // exact integer micro units — gr1/fe19's unrolled-iteration
    // contract, so both engines replay the fit bit for bit. The only
    // corpus-sized work is the (user, day, type) rollup; the pair table
    // and every MM round are type²-sized metadata.
    "pref1_bradley_terry" -> { (s, dir) =>
      val daily = Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"),
          col("event_type"))
        .groupBy("user_id", "day", "event_type").agg(count(lit(1)).as("n"))
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("ia"), col("b.event_type").as("ib"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .filter(col("na") =!= col("nb"))
      val stats = pairs.groupBy("ia", "ib").agg(
        count(lit(1)).as("n_ij"),
        sum(when(col("na") > col("nb"), 1L).otherwise(0L)).as("w_a"))
      val npairs = stats
        .select(col("ia").as("i"), col("ib").as("j"), col("n_ij"))
        .unionByName(stats
          .select(col("ib").as("i"), col("ia").as("j"), col("n_ij")))
        .transform(graft.operators.GlobalRank.pinned)
      val wins = stats.select(col("ia").as("i"), col("w_a").as("w"))
        .unionByName(stats
          .select(col("ib").as("i"), (col("n_ij") - col("w_a")).as("w")))
        .groupBy("i").agg(sum(col("w")).as("w")).transform(graft.operators.GlobalRank.pinned)
      var sf = wins.select(col("i"), lit(1000000L).as("s"))
      for (_ <- 1 to 3) {
        val denom = npairs
          .join(sf.select(col("i"), col("s").as("si")), "i")
          .join(sf.select(col("i").as("j"), col("s").as("sj")), "j")
          .groupBy("i")
          .agg(sum(expr("n_ij * 1000000000000 div (si + sj)")).as("denom"))
        val raw = wins.join(denom, "i")
          .select(col("i"),
            expr("""greatest(case when denom = 0 then 1000000L
                   |else w * 1000000000000 div denom end, 1L)"""
              .stripMargin.replace("\n", " ")).as("s"))
        val tot = raw.agg(sum(col("s")).as("ts"), count(lit(1)).as("k"))
        sf = raw.crossJoin(broadcast(tot))
          .select(col("i"),
            expr("greatest(s * (k * 1000000) div ts, 1L)").as("s"))
          .transform(graft.operators.GlobalRank.pinned)
      }
      wins.join(sf, "i").select(col("i").as("event_type"),
        col("w").as("n_wins"), col("s").as("strength_micro"))
    },

    // PREF2 (beyond reference): pairwise WIN RATES with a Wilson lower
    // bound (z = 2) — pref1 fits global strengths; this is the per-pair
    // readout with uncertainty, the table that decides which preference
    // pairs have enough evidence to train on (a 3/4 win rate and a
    // 300/400 one have the same p̂ and very different lower bounds).
    // Same comparison rollup as pref1; the bound is one fixed IEEE tree
    // over exact integer (w, n) — in the n-normalized Wilson form
    // lb = (w + z²/2 − z·sqrt(w(n−w)/n + z²/4)) / (n + z²).
    "pref2_winrate_wilson" -> { (s, dir) =>
      val daily = Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"),
          col("event_type"))
        .groupBy("user_id", "day", "event_type").agg(count(lit(1)).as("n"))
      val stats = daily.as("a").join(daily.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("ia"), col("b.event_type").as("ib"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .filter(col("na") =!= col("nb"))
        .groupBy("ia", "ib").agg(
          count(lit(1)).as("n_ij"),
          sum(when(col("na") > col("nb"), 1L).otherwise(0L)).as("w_a"))
      stats.select(col("ia"), col("ib"), col("n_ij"), col("w_a"),
        (col("w_a").cast("double") / col("n_ij").cast("double"))
          .as("win_rate"),
        ((col("w_a").cast("double") + 2.0 -
          lit(2.0) * sqrt(
            (col("w_a") * (col("n_ij") - col("w_a"))).cast("double") /
              col("n_ij").cast("double") + lit(1.0))) /
          (col("n_ij").cast("double") + 4.0)).as("wilson_lb"))
    },

    // EV53 (beyond reference): ENGAGEMENT inequality — Gini over
    // per-user event counts (tx22's closed form at the user grain): the
    // one-number answer to "is this product's activity a community or
    // five whales?" — and for training-data purposes, whether user-keyed
    // shuffles will be skew-bound. GlobalRank's two-pass layout keeps
    // the rank global without a single-partition window.
    // TS17 (beyond reference): exponential GAP fit — are inter-event
    // times memoryless? The assumption behind every Poisson-process
    // model of arrivals (and behind treating ev1's gaps as i.i.d.): fit
    // λ by MLE (n/Σgap — exact integers until one division) and report
    // the Kolmogorov–Smirnov distance max|F_emp − F_exp| against that
    // exponential. Gaps are per-USER lag differences (the partition key
    // is corpus-cardinality — no funnel), floored to minute grain so
    // the distribution rollup is bounded by the observation span, not
    // the corpus; each |ΔCDF| is floor-quantized to micro so the max is
    // an integer. The one exp per distinct gap value is the usual
    // quantize-at-the-boundary site.
    // TS18 (beyond reference): LAGGED CROSS-CORRELATION between the
    // daily click and purchase series — the lead-lag readout ("do
    // clicks predict purchases k days out?") that decides attribution
    // windows and forecasting features. Both series are day-grain
    // rollups (bounded by the calendar span), the ±7-lag expansion is
    // one explode over that tiny frame, and each lag's Pearson r comes
    // from exact decimal moments (counts cast before the cross product
    // — two 10¹¹-event days overflow int64) through one fixed IEEE
    // tree. The only corpus-sized work is the first daily rollup.
    "ts18_lagged_xcorr" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val x = daily.filter(col("event_type") === "click")
        .select(col("day"), col("n").as("x"))
      val y = daily.filter(col("event_type") === "purchase")
        .select(col("day").as("yday"), col("n").as("y"))
      val lagged = x.select(col("day"), col("x"),
          explode(expr("sequence(-7, 7)")).as("lag"))
        .join(y, col("day") + col("lag") === col("yday"))
      val st = lagged.groupBy("lag").agg(count(lit(1)).as("n_days"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
      val num = col("n_days").cast(d38) * col("sxy") -
        col("sx") * col("sy")
      val vx = col("n_days").cast(d38) * col("sxx") -
        col("sx") * col("sx")
      val vy = col("n_days").cast(d38) * col("syy") -
        col("sy") * col("sy")
      st.select(col("lag"), col("n_days"),
        when(vx > 0 && vy > 0, num.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("xcorr"))
    },

    "ts17_exp_gap_fit" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts"))
      val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val gaps = ev.withColumn("prev", lag(col("ts"), 1).over(wu))
        .filter(col("prev").isNotNull)
        .select(expr("(ts - prev) div 60000000").as("g"))
      val st = gaps.agg(count(lit(1)).as("n"), sum(col("g")).as("sg"))
      val byv = gaps.groupBy("g").agg(count(lit(1)).as("c"))
      // the empirical-CDF cumulative rides the range-partitioned global
      // prefix sum: the gap histogram is span-bounded (minute grain,
      // ≤43 200 rows for a 30-day fixture) so an unpartitioned window
      // would also terminate — but bounded-or-not, no catalog query
      // funnels through Window.orderBy-with-no-partition (the shape the
      // measured funnel gate exists to reject)
      val cum = graft.operators.GlobalRank.withGlobalPrefixSum(
          byv, Seq(col("g")), col("c"), out = "cc")
        .crossJoin(broadcast(st))
      val dm = when(col("sg") > 0,
        floor(lit(1e6) * abs(
          col("cc").cast("double") / col("n").cast("double") -
            (lit(1.0) - exp(-(col("n").cast("double") /
              col("sg").cast("double") * col("g").cast("double"))))))
          .cast("bigint"))
      cum.select(col("n"), col("sg"), dm.as("dm"))
        .groupBy("n", "sg")
        .agg(max(col("dm")).as("ks_micro"))
        .select(col("n").as("n_gaps"), col("sg").as("sum_gap_min"),
          col("ks_micro"))
    },

    // EV54 (beyond reference): KAPLAN–MEIER churn curve — the survival
    // estimator over user lifetimes (last-minus-first active day), with
    // users still active on the corpus's final day treated as CENSORED
    // (the right-censoring that naive "days until last event"
    // histograms get wrong). The product-limit Π(1 − d_i/n_i) runs in
    // log space: each churn day's ln(1 − d/n) is floor-quantized to
    // micro once, the cumulative sum is exact integers, and one exp at
    // the end recovers S(t). If the risk set ever empties (d = n), S
    // pins to exactly 0 from that day on via a windowed flag — no
    // ln(0). The corpus-sized work is one per-user rollup; every window
    // rides the DAY-grain lifetime table (bounded by the observation
    // span, not the corpus — the ts-family contract).
    "ev54_kaplan_meier" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"))
      val mx = ev.agg(max(col("day")).as("maxd"))
      val per = ev.groupBy("user_id")
        .agg(min(col("day")).as("fd"), max(col("day")).as("ld"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"), (col("ld") - col("fd")).as("t"),
          (col("ld") < col("maxd")).as("churned"))
      val u = per.agg(count(lit(1)).as("n_users"))
      val byT = per.groupBy("t")
        .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
          sum(when(!col("churned"), 1L).otherwise(0L)).as("c"))
      val w = Window.orderBy(col("t").asc)
      val cumPrev = sum(col("d") + col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val risked = byT.crossJoin(broadcast(u))
        .withColumn("n_risk",
          col("n_users") - coalesce(cumPrev, lit(0L)))
      val term = when(col("d") > 0 && col("n_risk") > col("d"),
        floor(lit(1e6) *
          log((col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double"))).cast("bigint"))
        .otherwise(0L)
      val cumw =
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      risked.withColumn("ls", sum(term).over(cumw))
        .withColumn("dead", max(when(col("d") > 0 &&
          col("n_risk") === col("d"), 1L).otherwise(0L)).over(cumw))
        .select(col("t").as("t_days"), col("d").as("n_churn"),
          col("c").as("n_censored"), col("n_risk"),
          when(col("dead") === 1, 0L)
            .otherwise(floor(lit(1e6) *
              exp(col("ls").cast("double") / lit(1e6))).cast("bigint"))
            .as("s_micro"))
    },

    "ev53_engagement_gini" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val n = Tables.eventsUs(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("x"))
      val ranked = GlobalRank.withGlobalRowNumber(n,
        Seq(col("x"), col("user_id")), "rn")
      ranked.agg(count(lit(1)).as("n_users"), sum(col("x")).as("total"),
          sum(col("rn") * col("x")).as("rx"))
        .select(col("n_users"), col("total"),
          ((lit(2L) * col("rx") - (col("n_users") + 1) * col("total"))
            .cast("double") /
            (col("n_users") * col("total")).cast("double")).as("gini"))
    },

    // DQ6 (beyond reference): FINITE-VALUES audit — NaN / ±Infinity /
    // absurd-magnitude counts for the double metric column, per stream:
    // the ingest gate that makes the rest of the catalog's finite-value
    // assumption EXPLICIT (a single NaN silently poisons every
    // float aggregate downstream; a 1e300 overflows any cents
    // quantization). One map-side-combined rollup; flags are exact
    // integers.
    "dq6_finite_values_audit" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(isnan(col("value")), 1L).otherwise(0L)).as("n_nan"),
          sum(when(col("value") === Double.PositiveInfinity ||
            col("value") === Double.NegativeInfinity, 1L).otherwise(0L))
            .as("n_inf"),
          sum(when(!isnan(col("value")) &&
            col("value") =!= Double.PositiveInfinity &&
            col("value") =!= Double.NegativeInfinity &&
            abs(col("value")) > 1e15, 1L)
            .otherwise(0L)).as("n_absurd"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"))
        .withColumn("clean",
          (col("n_nan") + col("n_inf") + col("n_absurd") + col("n_null")
            === 0).cast("bigint"))
    },

    // DQ5 (beyond reference): ingestion FRESHNESS audit — per stream
    // (event_type), last-seen lag against the corpus high-water mark and
    // a 24 h SLA flag: the ops table that catches a stalled upstream
    // feed before a training snapshot silently ships without it. One
    // metadata-grain rollup + a broadcast scalar; exact integer hours.
    "dq5_freshness_audit" -> { (s, dir) =>
      val per = Tables.eventsUs(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("max_ts"))
      per.crossJoin(broadcast(per.agg(max(col("max_ts")).as("corpus_max"))))
        .select(col("event_type"), col("n_events"),
          expr("(corpus_max - max_ts) div 3600000000").as("lag_hours"),
          (col("corpus_max") - col("max_ts") <= 86400000000L)
            .cast("bigint").as("fresh_24h"))
    },

    // TS15 (beyond reference): ONE-STEP-AHEAD online anomaly flags: each
    // day's count is tested against the running statistics of STRICTLY
    // PRIOR days (cumulative ROWS .. 1 PRECEDING window), so the anomaly
    // can't inflate the variance it is judged against — ts1's honest
    // online formulation. The |z| > 2.5 test is the cross-multiplied
    // integer inequality 4·(x·n − S)² > 25·(n·Σx² − S²) in decimal(38,0).
    // One (type, day) rollup shuffle; the window is co-partitioned by
    // series.
    "ts15_online_anomaly" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      daily
        .withColumn("n_prior", count(lit(1)).over(w))
        .withColumn("s1", sum(col("n").cast(d38)).over(w))
        .withColumn("s2", sum((col("n") * col("n")).cast(d38)).over(w))
        .select(col("event_type"), col("day"), col("n"), col("n_prior"),
          when(col("n_prior") >= 3, {
            val dev = col("n").cast(d38) * col("n_prior").cast(d38) -
              col("s1")
            (dev * dev * lit(4) >
              lit(25) * (col("n_prior").cast(d38) * col("s2") -
                col("s1") * col("s1"))).cast("bigint")
          }).otherwise(0L).as("is_anomaly"))
    },

    "ts1_anomaly" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      val mean = col("s1").cast("double") / col("cnt_w").cast("double")
      val variance = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") /
          col("cnt_w").cast("double")) / (col("cnt_w") - 1).cast("double")
      daily
        .withColumn("cnt_w", count(lit(1)).over(w))
        .withColumn("s1", sum(col("n").cast(DecimalType(38, 0))).over(w))
        .withColumn("s2",
          sum((col("n") * col("n")).cast(DecimalType(38, 0))).over(w))
        .withColumn("z",
          when((col("cnt_w") > 1) && (variance > 0),
            (col("n").cast("double") - mean) / sqrt(variance)))
        .select(col("event_type"), col("day"), col("n"), col("z"),
          // bigint 1/0/null, not boolean: a nullable bool canonicalizes
          // differently across the two engines' pandas bridges
          when(col("z").isNotNull, (abs(col("z")) > 3.0).cast("bigint"))
            .as("is_anomaly"))
    },

    // Gap-fill + forward-fill of a sparse daily series: the dense
    // calendar is generated per key (sequence/explode — runs inside
    // codegen), missing days join null and take the last observed value
    // (ignoreNulls running window — ONE shuffle on the key). Sparsity is
    // synthesized deterministically (every day ≡0 mod 3 dropped) so the
    // oracle can rebuild the identical series with generate_series +
    // IGNORE NULLS. The sparse→dense densification every
    // time-series feature pipeline needs.
    // Integer-exact EWMA (α = 1/2) over each type's daily-count series:
    // smoothed_t = (x_t·1e6 + smoothed_{t-1}) div 2, a sequential
    // recurrence no window frame expresses — so each series is folded
    // LOCALLY with a codegen'd `aggregate` HOF over its collected,
    // sorted (day, n) array. Per-series state is bounded by the day
    // count (~hundreds), not the row count: the groupBy reduces 100 TB
    // of raw events to #types × #days fixed-width rows BEFORE any
    // collection, which is the standard per-entity-fold contract
    // (series that outgrow memory need chunked prefix folds instead).
    // Micro-unit integers make the div-2 recurrence bit-replayable as a
    // DuckDB recursive CTE.
    // Holt double exponential smoothing (level + trend, α = β = 1/2) of
    // the per-type daily counts — ts3's EWMA upgraded with a trend state,
    // the standard short-horizon forecaster. Same engine-exact recurrence
    // contract: both states live in integer micro-units and every step is
    // a truncating integer div (Spark `div` and DuckDB `//` both truncate
    // toward zero, including on the signed trend), so the whole recursion
    // is bit-reproducible. Series length is bounded by the date range
    // (documented contract shared with ts3), so the per-group fold is a
    // bounded array, not a corpus-sized collect.
    // TS19 (beyond reference): HOLT–WINTERS additive triple smoothing —
    // ts7's level+trend plus a rotating 7-slot WEEKLY seasonal state,
    // the classic forecaster for dashboards with day-of-week shape
    // (ts5 profiles that shape statically; this tracks it adaptively).
    // α=β=γ=½ in integer micro state; every halving is
    // floor(v/2.0) on DOUBLES, never integer div — the differences
    // (x−s₇, l−lₚᵣₑᵥ) go negative, where Spark's `div` truncates but
    // DuckDB's `//` floors (a real divergence, unlike ts7's always-
    // positive sums). The fold is ts7's per-series array aggregate
    // (series = day grain, bounded by the span); the oracle is the
    // same recursion as a recursive CTE carrying the seasonal LIST.
    "ts19_holt_winters" -> { (s, dir) =>
      val prev = "element_at(acc, -1)"
      val s7 = s"element_at($prev.s, 1)"
      val lt = s"cast(floor(((x.n * 1000000L - $s7) + " +
        s"($prev.l + $prev.b)) / 2.0D) as bigint)"
      val bt = s"cast(floor((($lt - $prev.l) + $prev.b) / 2.0D) " +
        "as bigint)"
      val snew = s"cast(floor(((x.n * 1000000L - $lt) + $s7) / 2.0D) " +
        "as bigint)"
      val step = s"named_struct('l', $lt, 'b', $bt, " +
        s"'f', $prev.l + $prev.b + $s7, " +
        s"'s', concat(slice($prev.s, 2, 6), array($snew)))"
      val init = "named_struct('l', x.n * 1000000L, 'b', 0L, " +
        "'f', x.n * 1000000L, 's', array_repeat(0L, 7))"
      dailyCounts(s, dir)
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("n"))))
          .as("xs"))
        .withColumn("st", expr(
          "aggregate(xs, cast(array() as " +
            "array<struct<l:bigint,b:bigint,f:bigint,s:array<bigint>>>), " +
            s"(acc, x) -> concat(acc, array(case when size(acc) = 0 " +
            s"then $init else $step end)))"))
        .select(col("event_type"), explode(expr(
          """zip_with(xs, st,
            |  (x, s) -> struct(x.day as day, x.n as n,
            |    s.l as level_micro, s.b as trend_micro,
            |    s.f as forecast_micro))""".stripMargin)).as("r"))
        .select(col("event_type"), col("r.day").as("day"),
          col("r.n").as("n"), col("r.level_micro").as("level_micro"),
          col("r.trend_micro").as("trend_micro"),
          col("r.forecast_micro").as("forecast_micro"))
    },

    "ts7_holt" -> { (s, dir) =>
      dailyCounts(s, dir)
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("n"))))
          .as("xs"))
        .withColumn("st", expr(
          """aggregate(xs, cast(array() as array<struct<l:bigint,b:bigint>>),
            |  (acc, x) -> concat(acc, array(case when size(acc) = 0
            |    then named_struct('l', x.n * 1000000L, 'b', 0L)
            |    else named_struct(
            |      'l', (x.n * 1000000L + element_at(acc, -1).l
            |            + element_at(acc, -1).b) div 2,
            |      'b', (((x.n * 1000000L + element_at(acc, -1).l
            |              + element_at(acc, -1).b) div 2
            |             - element_at(acc, -1).l)
            |            + element_at(acc, -1).b) div 2)
            |    end)))""".stripMargin))
        .select(col("event_type"), explode(expr(
          """zip_with(xs, st,
            |  (x, s) -> struct(x.day as day, x.n as n,
            |    s.l as level_micro, s.b as trend_micro,
            |    s.l + s.b as forecast_micro))""".stripMargin)).as("r"))
        .select(col("event_type"), col("r.day").as("day"),
          col("r.n").as("n"), col("r.level_micro").as("level_micro"),
          col("r.trend_micro").as("trend_micro"),
          col("r.forecast_micro").as("forecast_micro"))
    },

    // LINEAR multi-touch attribution: each purchase's cents are split
    // equally across the user's click/view touches in the preceding 7
    // days (integer div; the remainder goes to the EARLIEST touch so the
    // split conserves mass exactly), then credit rolls up per touch type.
    // The touch join is per-user + bounded time range — a sort-merge join
    // on user_id whose per-key fan-out is capped by the window, so it
    // scales with users, not corpus². Purchases with no prior touch drop
    // out (no attributable credit) on both engines.
    "ev21_linear_attribution" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          tsUs.as("p_ts"),
          expr("cast(floor(value * 100) as bigint)").as("cents"))
      val t = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
          col("event_type"), tsUs.as("t_ts"))
      val pairs = p.join(t, col("user_id") === col("t_user") &&
        col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - lit(604800000000L))
      val nt = pairs.groupBy(col("p_id").as("p_id2"))
        .agg(count(lit(1)).as("n_touch"))
      val firstTouch = Window.partitionBy(col("p_id"))
        .orderBy(col("t_ts"), col("t_id"))
      pairs.join(nt, col("p_id") === col("p_id2"))
        .withColumn("rk", row_number().over(firstTouch))
        .select(col("event_type"),
          (expr("cents div n_touch") +
            when(col("rk") === 1, expr("cents % n_touch"))
              .otherwise(lit(0L))).as("credit_cents"))
        .groupBy("event_type")
        .agg(sum(col("credit_cents")).as("cents"),
          count(lit(1)).as("n_touches"))
    },

    // EV29 (beyond reference): U-SHAPED (position-based 40/20/40)
    // attribution — ev21's linear split treats a 9-touch path's middle
    // browse as equal to discovery and close; the U-shape pays the
    // first and last touch 40% each and spreads 20% over the middles
    // (the marketing-analytics default). Exact-mass integer split:
    // 40% = cents·2 div 5 to first and last, remainder to the middles
    // (div + modulo-to-earliest-middle), degenerate paths defined
    // deterministically (1 touch → all; 2 → first 40%, last the rest).
    // Same single bounded-range user join as ev21 — position logic is
    // pure per-row arithmetic on the rank.
    "ev29_position_attribution" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          tsUs.as("p_ts"),
          expr("cast(floor(value * 100) as bigint)").as("cents"))
      val t = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
          col("event_type"), tsUs.as("t_ts"))
      val pairs = p.join(t, col("user_id") === col("t_user") &&
        col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - lit(604800000000L))
      val nt = pairs.groupBy(col("p_id").as("p_id2"))
        .agg(count(lit(1)).as("n_touch"))
      val firstTouch = Window.partitionBy(col("p_id"))
        .orderBy(col("t_ts"), col("t_id"))
      pairs.join(nt, col("p_id") === col("p_id2"))
        .withColumn("rk", row_number().over(firstTouch).cast("bigint"))
        .withColumn("c40", expr("cents * 2 div 5"))
        .withColumn("rem", expr("cents - 2 * c40"))
        .withColumn("credit_cents",
          when(col("n_touch") === 1L, col("cents"))
            .when(col("rk") === 1L, col("c40"))
            .when(col("rk") === col("n_touch") && col("n_touch") === 2L,
              col("cents") - col("c40"))
            .when(col("rk") === col("n_touch"), col("c40"))
            .otherwise(expr("rem div (n_touch - 2)") +
              when(col("rk") === 2L, expr("rem % (n_touch - 2)"))
                .otherwise(lit(0L))))
        .groupBy("event_type")
        .agg(sum(col("credit_cents")).as("cents"),
          count(lit(1)).as("n_touches"))
    },

    // EV30 (beyond reference): inter-event BURSTINESS per user — the
    // squared coefficient of variation of a user's event gaps, the
    // classic bot/human separator (machines fire metronomically,
    // CV² ≈ 0; humans are bursty, CV² > 1). Gap second moments exceed
    // 2^63 (µs² over month-long gaps), so the sufficient statistics
    // accumulate in decimal(38) (HUGEINT in the oracle); the CV² is
    // then one fixed IEEE tree over the exact integers, ts4's contract.
    // One user-partitioned lag window + one rollup on its partitioning.
    "ev30_gap_burstiness" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("g", col("ts") - lag(col("ts"), 1).over(w))
        .filter(col("g").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("g").cast(d38)).as("sg"),
          sum((col("g").cast(d38) * col("g").cast(d38))).as("sgg"))
        .filter(col("n") >= 2 && col("sg") > 0)
        .select(col("user_id"), col("n"),
          expr("cast(floor(sg / n) as bigint)").as("mean_gap_us"),
          ((col("n").cast(d38) * col("sgg") - col("sg") * col("sg"))
            .cast("double") /
            (col("sg") * col("sg")).cast("double")).as("cv2"))
    },

    "ts3_ewma" -> { (s, dir) =>
      dailyCounts(s, dir)
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("n"))))
          .as("xs"))
        .withColumn("sm", expr(
          """aggregate(xs, cast(array() as array<bigint>),
            |  (acc, x) -> concat(acc, array(case when size(acc) = 0
            |    then x.n * 1000000L
            |    else (x.n * 1000000L + element_at(acc, -1)) div 2
            |    end)))""".stripMargin))
        .select(col("event_type"), explode(expr(
          """zip_with(xs, sm,
            |  (x, s) -> struct(x.day as day, x.n as n,
            |                   s as ewma_micro))""".stripMargin)).as("r"))
        .select(col("event_type"), col("r.day").as("day"),
          col("r.n").as("n"), col("r.ewma_micro").as("ewma_micro"))
    },

    // Lag-1 autocorrelation of each series' daily volume — the
    // seasonality/trend probe run before picking an anomaly model (white
    // noise → ts1's z-score is sound; strong ACF → difference first).
    // All six sufficient statistics are exact integer sums
    // (order-independent under any partitioning); the Pearson r is then
    // a fixed tree of IEEE ops on those exact integers, so both engines
    // compute bit-identical doubles. One shuffle (daily rollup); the lag
    // window rides the same partitioning.
    "ts4_autocorr" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val st = daily.withColumn("a", lag(col("n"), 1).over(w))
        .filter(col("a").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("m"), sum(col("a")).as("sa"),
          sum(col("n")).as("sb"), sum(col("a") * col("n")).as("sab"),
          sum(col("a") * col("a")).as("saa"),
          sum(col("n") * col("n")).as("sbb"))
      val va = col("m") * col("saa") - col("sa") * col("sa")
      val vb = col("m") * col("sbb") - col("sb") * col("sb")
      st.select(col("event_type"), col("m"), col("sa"), col("sb"),
        col("sab"), col("saa"), col("sbb"),
        when(va > 0 && vb > 0,
          (col("m") * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double"))))
          .as("acf1"))
    },

    // PARTIAL autocorrelation at lags 1–3 via Durbin–Levinson — the AR
    // order probe (ts4's ACF says "correlated"; PACF says "how many AR
    // terms"). The full-series ACF r_k = Σ(x_t−x̄)(x_{t−k}−x̄)/Σ(x_t−x̄)²
    // is computed with the mean cleared by cross-multiplying through T²:
    // numT2_k = T²·C_k − T·S·(A_k+B_k) + (T−k)·S², denT2 = T²·SS − T·S²
    // — every sufficient statistic an exact decimal(38,0) integer sum
    // (≲1e35 even at absurd per-day volumes), so each r_k is ONE IEEE
    // division and the Durbin–Levinson recursion is a fixed IEEE tree on
    // bit-identical doubles. One daily rollup shuffle; the lag window
    // rides it at day grain (span-bounded — the ts4-audited shape).
    // Gaps in the day sequence are treated as adjacent observations,
    // matching ts4's series definition.
    "ts20_pacf" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = daily
        .withColumn("l1", lag(col("n"), 1).over(w))
        .withColumn("l2", lag(col("n"), 2).over(w))
        .withColumn("l3", lag(col("n"), 3).over(w))
      def ck(l: String) = sum(when(col(l).isNotNull,
        col("n").cast(d38) * col(l).cast(d38)))
      def ak(l: String) = sum(when(col(l).isNotNull, col("n").cast(d38)))
      def bk(l: String) = sum(col(l).cast(d38))
      val st = lagged.groupBy("event_type").agg(
        count(lit(1)).as("t"), sum(col("n").cast(d38)).as("s"),
        sum(col("n").cast(d38) * col("n").cast(d38)).as("ss"),
        ck("l1").as("c1"), ak("l1").as("a1"), bk("l1").as("b1"),
        ck("l2").as("c2"), ak("l2").as("a2"), bk("l2").as("b2"),
        ck("l3").as("c3"), ak("l3").as("a3"), bk("l3").as("b3"))
      val t38 = col("t").cast(d38)
      val den = t38 * t38 * col("ss") - t38 * col("s") * col("s")
      def rho(k: Int) = {
        val num = t38 * t38 * col(s"c$k") -
          t38 * col("s") * (col(s"a$k") + col(s"b$k")) +
          (t38 - k) * col("s") * col("s")
        when(col("t") > k && den > 0,
          num.cast("double") / den.cast("double"))
      }
      st.withColumn("r1", rho(1)).withColumn("r2", rho(2))
        .withColumn("r3", rho(3))
        .withColumn("d2", lit(1.0) - col("r1") * col("r1"))
        .withColumn("phi22",
          when(col("d2") =!= 0.0,
            (col("r2") - col("r1") * col("r1")) / col("d2")))
        .withColumn("phi21", col("r1") * (lit(1.0) - col("phi22")))
        .withColumn("d3", lit(1.0) - col("phi21") * col("r1") -
          col("phi22") * col("r2"))
        .withColumn("phi33",
          when(col("d3") =!= 0.0,
            (col("r3") - col("phi21") * col("r2") -
              col("phi22") * col("r1")) / col("d3")))
        .select(col("event_type"), col("t"), col("r1"), col("r2"),
          col("r3"), col("r1").as("pacf1"), col("phi22").as("pacf2"),
          col("phi33").as("pacf3"))
    },

    // LJUNG–BOX portmanteau test at K = 5 — "is this daily series white
    // noise at ALL of lags 1–5 jointly?", the formal gate on ts1's iid
    // assumption (ts4 eyeballs lag 1 only). Q = T(T+2)·Σ r_k²/(T−k)
    // with the same exact-integer ACF base as ts20; each lag's term is
    // floor-quantized to 1e-12 BEFORE the cross-lag sum (the cross-row
    // float contract — here cross-COLUMN, kept anyway so the spelled-out
    // sum is associativity-free), and series too short for a lag simply
    // drop that term (k_used reports the effective df). The χ²₅ 5%
    // decision is emitted only at full df.
    "ts22_ljung_box" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = (1 to 5).foldLeft(daily) { (d, k) =>
        d.withColumn(s"l$k", lag(col("n"), k).over(w))
      }
      val aggs = Seq(count(lit(1)).as("t"),
        sum(col("n").cast(d38)).as("s"),
        sum(col("n").cast(d38) * col("n").cast(d38)).as("ss")) ++
        (1 to 5).flatMap { k =>
          Seq(sum(when(col(s"l$k").isNotNull,
              col("n").cast(d38) * col(s"l$k").cast(d38))).as(s"c$k"),
            sum(when(col(s"l$k").isNotNull, col("n").cast(d38)))
              .as(s"a$k"),
            sum(col(s"l$k").cast(d38)).as(s"b$k"))
        }
      val st = lagged.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      val t38 = col("t").cast(d38)
      val den = t38 * t38 * col("ss") - t38 * col("s") * col("s")
      def rho(k: Int) = {
        val num = t38 * t38 * col(s"c$k") -
          t38 * col("s") * (col(s"a$k") + col(s"b$k")) +
          (t38 - k) * col("s") * col("s")
        when(col("t") > k && den > 0,
          num.cast("double") / den.cast("double"))
      }
      def term(k: Int) = floor(rho(k) * rho(k) /
        (col("t") - k).cast("double") * lit(1e12)).cast("long")
      val kUsed = (1 to 5).map(k =>
        when(rho(k).isNotNull, 1).otherwise(0)).reduce(_ + _)
      val qsum = (1 to 5).map(k =>
        coalesce(term(k), lit(0L))).reduce(_ + _)
      st.withColumn("k_used", kUsed.cast("long"))
        .withColumn("qsum", qsum)
        .select(col("event_type"), col("t"), col("k_used"),
          when(col("k_used") > 0,
            (col("t").cast(d38) * (col("t") + 2).cast(d38))
              .cast("double") *
              (col("qsum").cast("double") / lit(1e12))).as("q_stat"),
          // non-null by convention (a NULL boolean round-trips as None
          // from parquet but NaN from the oracle df): a series too short
          // for the full df=5 test is simply "not rejected"
          coalesce(when(col("k_used") === 5,
            (col("t").cast(d38) * (col("t") + 2).cast(d38))
              .cast("double") *
              (col("qsum").cast("double") / lit(1e12)) > lit(11.0705)),
            lit(false)).as("reject_5pct"))
    },

    // POISSON DISPERSION test — is daily volume actually Poisson
    // (VMR = 1), or over-dispersed/bursty (the usual reality)? The
    // index of dispersion D = (n−1)s²/x̄ is χ²(n−1) under H₀, so
    // alerting thresholds calibrated on a Poisson assumption are wrong
    // exactly when this flags. Exact decimal moments per series, one
    // IEEE tree: D = (nΣx² − S²)/S via the cross-multiplied identity
    // (the (n−1)s²/x̄ algebra collapses to it — no mean ever
    // materializes). Normal-approximation flag at |√(2D) − √(2(n−1)−1)|
    // > 1.96 (Wilson–Hilferty-free form, fine at day-grain n).
    "ev58_dispersion_test" -> { (s, dir) =>
      val st = dailyCounts(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("days"), sum(col("n").cast(d38)).as("sx"),
          sum(col("n").cast(d38) * col("n").cast(d38)).as("sxx"))
      val dStat = (col("days").cast(d38) * col("sxx") -
        col("sx") * col("sx")).cast("double") / col("sx").cast("double")
      st.select(col("event_type"), col("days"),
          when(col("days") > 1 && col("sx") > 0, dStat).as("d_stat"))
        .withColumn("z",
          when(col("d_stat").isNotNull && col("days") > 1,
            sqrt(lit(2.0) * col("d_stat")) -
              sqrt(lit(2.0) * (col("days") - 1).cast("double") -
                lit(1.0))))
        .withColumn("overdispersed",
          coalesce(col("z") > 1.96, lit(false)))
    },

    // GRANGER-style lag-causality screen — "does yesterday's click
    // volume predict today's purchases beyond purchases' own lag?"
    // (and the reverse): the F-test comparing restricted (own-lag) vs
    // unrestricted (own-lag + other-lag) OLS, both solved in CLOSED
    // FORM from 13 exact decimal(38,0) moments of the joined daily
    // frame — no iterative fit, one aggregate. The n-scaled centered
    // S-terms cancel in the F ratio, so only exact integers enter the
    // final IEEE trees. Day-grain window (span-bounded); degenerate
    // inputs (n ≤ 3, singular normal matrix, zero residual) emit NULL.
    "ts23_granger" -> { (s, dir) =>
      val daily = Tables.eventsUs(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), expr("ts div 86400000000").as("day"))
        .groupBy("day").agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("a"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("b"))
      val w = Window.orderBy(col("day"))
      val lagged = daily
        .withColumn("a1", lag(col("a"), 1).over(w))
        .withColumn("b1", lag(col("b"), 1).over(w))
        .filter(col("a1").isNotNull)
      def m2(c1: Column, c2: Column) = sum(c1.cast(d38) * c2.cast(d38))
      val st = lagged.agg(count(lit(1)).as("n"),
        sum(col("a").cast(d38)).as("sa"),
        sum(col("b").cast(d38)).as("sb"),
        sum(col("a1").cast(d38)).as("sa1"),
        sum(col("b1").cast(d38)).as("sb1"),
        m2(col("a1"), col("a1")).as("sa1a1"),
        m2(col("b1"), col("b1")).as("sb1b1"),
        m2(col("a1"), col("b1")).as("sa1b1"),
        m2(col("a1"), col("a")).as("sa1a"),
        m2(col("a1"), col("b")).as("sa1b"),
        m2(col("b1"), col("a")).as("sb1a"),
        m2(col("b1"), col("b")).as("sb1b"),
        m2(col("a"), col("a")).as("saa"),
        m2(col("b"), col("b")).as("sbb"))
      val n38 = col("n").cast(d38)
      def cS(sxy: Column, sx: Column, sy: Column) =
        (n38 * sxy - sx * sy).cast("double")
      def fstat(syy: Column, sxx1: Column, s12: Column, sxx2: Column,
                s1y: Column, s2y: Column): Column = {
        val det = sxx1 * sxx2 - s12 * s12
        val b1 = (s1y * sxx2 - s2y * s12) / det
        val b2 = (s2y * sxx1 - s1y * s12) / det
        val rssU = syy - b1 * s1y - b2 * s2y
        val rssR = syy - s1y * s1y / sxx1
        when(col("n") > 3 && det =!= 0.0 && sxx1 =!= 0.0 && rssU > 0,
          (rssR - rssU) / (rssU / (col("n") - 3).cast("double")))
      }
      st.select(col("n"),
        fstat(cS(col("sbb"), col("sb"), col("sb")),
          cS(col("sb1b1"), col("sb1"), col("sb1")),
          cS(col("sa1b1"), col("sa1"), col("sb1")),
          cS(col("sa1a1"), col("sa1"), col("sa1")),
          cS(col("sb1b"), col("sb1"), col("sb")),
          cS(col("sa1b"), col("sa1"), col("sb")))
          .as("f_click_to_purchase"),
        fstat(cS(col("saa"), col("sa"), col("sa")),
          cS(col("sa1a1"), col("sa1"), col("sa1")),
          cS(col("sa1b1"), col("sa1"), col("sb1")),
          cS(col("sb1b1"), col("sb1"), col("sb1")),
          cS(col("sa1a"), col("sa1"), col("sa")),
          cS(col("sb1a"), col("sb1"), col("sa")))
          .as("f_purchase_to_click"))
    },

    // SEASONAL MANN–KENDALL trend test (Hirsch & Slack) — "is daily
    // volume monotonically drifting, net of weekday seasonality?": the
    // nonparametric trend gate a capacity planner runs before ts7/ts19
    // fit a trend at all. S sums sgn(n_j − n_i) over same-weekday day
    // pairs; the pair fan-out is SPAN-bounded ((days/7)² per season —
    // the ts17 admission argument: a 10-year corpus is ~520 same-season
    // days however many petabytes of events land on them), never
    // corpus-proportional, and everything upstream is one map-side-
    // combined daily rollup. Var(S) (×18, exact integers) uses the
    // per-season tie-corrected formula; z gets the ±1 continuity
    // correction; the 5% verdict is a non-null string.
    "ts21_mann_kendall" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
        .withColumn("dow", col("day") % 7)
        // pinned: the daily rollup feeds both pair sides, the seasonal
        // rollup, and the tie rollup (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val a = daily.select(col("event_type").as("et"),
        col("dow").as("dw"), col("day").as("da"), col("n").as("na"))
      val b = daily.select(col("event_type").as("et2"),
        col("dow").as("dw2"), col("day").as("db"), col("n").as("nb"))
      val sStat = a.join(b, col("et") === col("et2") &&
          col("dw") === col("dw2") && col("da") < col("db"))
        .select(col("et").as("event_type"),
          when(col("nb") > col("na"), 1L)
            .when(col("nb") < col("na"), -1L).otherwise(0L).as("sgn"))
        .groupBy("event_type").agg(sum(col("sgn")).as("s_stat"))
      val seas = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("vt"))
      val ties = daily.groupBy("event_type", "dow", "n")
        .agg(count(lit(1)).as("tj"))
        .groupBy("event_type")
        .agg(sum(expr("tj * (tj - 1) * (2 * tj + 5)")).as("vtie"))
      sStat.join(seas, "event_type").join(ties, "event_type")
        .withColumn("var18", col("vt") - col("vtie"))
        .withColumn("z", when(col("var18") > 0,
          when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
            .otherwise(lit(0.0)) /
            sqrt(col("var18").cast("double") / lit(18.0))))
        .select(col("event_type"), col("s_stat"), col("var18"), col("z"),
          coalesce(when(col("z") > 1.96, lit("increasing"))
            .when(col("z") < -1.96, lit("decreasing"))
            .otherwise(lit("none")), lit("none")).as("trend"))
    },

    // Day-of-week seasonal profile + residual: each day's volume against
    // its weekday mean — the cheap seasonal decomposition that turns
    // ts1's trailing-window z-score into a seasonality-aware one.
    // Profile statistics are exact integer sums over a 7×|series| table,
    // broadcast back over the daily rollup; the mean and residual are
    // the same fixed IEEE tree in both engines.
    "ts5_dow_profile" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val prof = daily
        .groupBy(col("event_type").as("et"), (col("day") % 7).as("dow"))
        .agg(count(lit(1)).as("m"), sum(col("n")).as("s"))
      val mean = col("s").cast("double") / col("m").cast("double")
      daily.join(broadcast(prof),
          col("event_type") === col("et") && col("day") % 7 === col("dow"))
        .select(col("event_type"), col("day"), col("n"),
          mean.as("dow_mean"),
          (col("n").cast("double") - mean).as("residual"))
    },

    // RFM segmentation: users quartiled on Recency (last active day),
    // Frequency (event count), and Monetary (exact value cents) — the
    // classic behavioral-segmentation grid. Quartiles use the CLOSED
    // FORM ((rn−1)·4) div n + 1 over GlobalRank's two-pass ordinal
    // (identical integer arithmetic in both engines, no
    // single-partition ntile, scalable to any user count); monetary is
    // floor-quantized to cents per row so the sum is an exact integer.
    "ev19_rfm" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val rfm = Tables.eventsUs(s, dir)
        .select(col("user_id"),
          expr("ts div 86400000000").as("day"),
          expr("cast(floor(value * 100) as bigint)").as("cents"))
        .groupBy("user_id")
        .agg(max(col("day")).as("r_day"), count(lit(1)).as("f_cnt"),
          sum(col("cents")).as("m_cents"))
        // pinned: the user-grain rollup feeds the count AND the first
        // rank layout's range sample (round-13 aggregate-input rule)
        .transform(graft.operators.GlobalRank.pinned)
      val n = rfm.agg(count(lit(1)).as("n"))
      val ranked = Seq(("r_day", "rn_r"), ("f_cnt", "rn_f"),
        ("m_cents", "rn_m")).foldLeft(rfm) { case (df, (metric, out)) =>
        GlobalRank.withGlobalRowNumber(df,
          Seq(col(metric), col("user_id")), out)
      }
      ranked.crossJoin(broadcast(n))
        .select(col("user_id"), col("r_day"), col("f_cnt"),
          col("m_cents"),
          expr("((rn_r - 1) * 4) div n + 1").as("r_q"),
          expr("((rn_f - 1) * 4) div n + 1").as("f_q"),
          expr("((rn_m - 1) * 4) div n + 1").as("m_q"))
        .withColumn("segment", expr("r_q * 100 + f_q * 10 + m_q"))
    },

    // Top-10 session event-type PATHS (click>view>purchase …): the
    // behavioral-flow report on top of ev2's sessionization rule. The
    // per-session path is array_sort over (ts, event_id, type) structs —
    // collect_list is order-nondeterministic, the sort restores a total
    // order — then one map-side-combined count per path and a global
    // top-10 via TakeOrdered (n desc, path asc). Path length is bounded
    // by session length, not corpus size.
    "ev20_session_paths" -> { (s, dir) =>
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(tsUs, col("event_id"))
      val running = byTime.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sess = Tables.eventsUs(s, dir)
        .withColumn("is_new_session",
          when(tsUs - lag(tsUs, 1).over(byTime) > gapUs ||
            lag(tsUs, 1).over(byTime).isNull, 1L).otherwise(0L))
        .select(col("user_id"), col("event_id"), col("event_type"),
          tsUs.as("ts_us"),
          sum(col("is_new_session")).over(running).as("session_seq"))
      sess.groupBy("user_id", "session_seq")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"),
            col("event_type")))), x => x.getField("event_type")), ">")
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    },

    // Longest consecutive-day activity streak per user — the classic
    // GAPS-AND-ISLANDS shape: within a user's distinct active days,
    // day − row_number is constant exactly along a consecutive run, so
    // one window + one groupBy finds every island without self-joins or
    // iteration. Engagement/retention feature; all integer arithmetic.
    "ev18_streaks" -> { (s, dir) =>
      val ud = Tables.eventsUs(s, dir)
        .select(col("user_id"),
          expr("ts div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      ud.withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
    },

    // Signup → first-purchase conversion lag per user: the activation
    // funnel's latency distribution (feed d11/d22 for percentiles).
    // One equi-join on user_id with the time bound as a join-side
    // residual predicate (hash join + filter, never a range explosion),
    // min-combined map-side; non-converts survive the left join with a
    // null lag rather than dropping out — the cohort denominator stays
    // honest.
    "ev15_conversion_lag" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir).select(col("user_id"),
        col("event_type"), col("ts").as("us"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("signup_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("uid"), col("us"))
      su.join(p,
          col("uid") === col("user_id") && col("us") >= col("signup_us"),
          "left")
        .groupBy(col("user_id"), col("signup_us"))
        .agg(min(col("us")).as("first_purchase_us"))
        .select(col("user_id"), col("signup_us"),
          (col("first_purchase_us") - col("signup_us")).as("lag_us"),
          when(col("first_purchase_us").isNull, 0L).otherwise(1L)
            .as("converted"))
    },

    // CUSUM changepoint detection per series: the cumulative sum of
    // deviations from the series mean, scaled by the day count so every
    // term is an exact integer (S_t = Σ_{i≤t} (n_i·m − T) = m·Σ(n_i − T/m)
    // without the fraction); the |S| peak marks the most likely level
    // shift — the distribution-drift alarm over ingest volume. One daily
    // rollup shuffle; the scalar (m, T) stats broadcast back; running sum
    // and argmax ride per-series windows.
    "ts6_changepoint" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val st = daily.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("m"), sum(col("n")).as("t"))
      val wcs = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = daily.join(broadcast(st), col("event_type") === col("et"))
        .withColumn("s_scaled",
          sum(col("n") * col("m") - col("t")).over(wcs))
      val wcp = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("s_scaled")).desc, col("day").asc)
      cs.select(col("event_type"), col("day"), col("n"), col("s_scaled"),
        when(row_number().over(wcp) === 1, 1L).otherwise(0L)
          .as("is_changepoint"))
    },

    // Exact rolling 7-day distinct purchasers per day — the sliding
    // count-distinct a retention dashboard wants, which no window frame
    // computes (distinct doesn't decompose over sliding frames). The
    // scalable exact form: dedup to (user, day) FIRST (one shuffle,
    // map-side combined), then fan each user-day to the ≤7 window
    // anchors it serves and count distinct per anchor — shuffle volume
    // is 7×|user-days|, independent of raw event volume. The approximate
    // scale path (mergeable HLL sketches per day, unioned over the
    // frame) is d18_hll_union's shape.
    "ev13_rolling_distinct" -> { (s, dir) =>
      val ud = Tables.eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("ts div 86400000000").as("day"))
        .distinct()
      val days = ud.select(col("day")).distinct()
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user_id")).as("users_7d"))
    },

    // The SKETCH path for ev13's sliding distinct: one mergeable HLL
    // sketch per day (max-register updates — order- and dup-insensitive),
    // each shipped to its ≤7 window anchors and union-merged per anchor.
    // This is how wide windows scale: a 90-day window merges 90
    // fixed-width sketches instead of fanning 90× the user-days, and
    // day sketches are computed once for ANY set of window widths. The
    // estimate is audited in-query against the exact ev13 answer (≤10%;
    // datasketches HLL-12 is exact-mode below ~4k distincts, ~1.6% rsd
    // beyond), so the oracle pins the exact column and the bound.
    "ev14_hll_sliding" -> { (s, dir) =>
      val ud = Tables.eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("ts div 86400000000").as("day"))
      val udd = ud.distinct()
      val days = udd.select("day").distinct()
      val exact = udd.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user_id")).as("users_7d"))
      val daySk = ud.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val est = daySk.select(
          explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("sk"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .cast("bigint").as("est"))
      exact.join(est, "day")
        .select(col("day"), col("users_7d"),
          (abs(col("est") - col("users_7d")).cast("double") /
            col("users_7d").cast("double") <= 0.10)
            .as("hll_within_10pct"))
    },

    "ts2_gap_fill" -> { (s, dir) =>
      val sparse = dailyCounts(s, dir)
        .filter(col("day") % 3 =!= 0)
      val bounds = sparse.groupBy("event_type")
        .agg(min("day").as("mn"), max("day").as("mx"))
      val dense = bounds.select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dense.join(sparse, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          last(col("n"), ignoreNulls = true).over(w).as("n_filled"),
          col("n").isNull.cast("bigint").as("is_synthetic"))
    },

    // First-order Markov transition matrix of per-user event-type
    // sequences: lag over (user, time) — ONE shuffle on user_id — then a
    // map-side-combined pair count; transition probabilities as exact
    // integer micro-units (n·1e6 div row-total) so the oracle matches
    // bit-for-bit. The behavioral-sequence model a funnel/session
    // pipeline feeds into next-event prediction.
    "ev12_transitions" -> { (s, dir) =>
      transitions(s, dir)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("p_micro",
          expr("n * 1000000 div sum(n) over (partition by prev_type)"))
    },

    // MARKOV STATIONARY distribution of the behavior chain — where
    // ev12's transition matrix SENDS the traffic in the long run
    // (steady-state type shares ≠ today's observed shares ⇒ the mix is
    // still drifting; ev48 measures the observed mix over time, this
    // is its model-implied limit). Three unrolled power-iteration
    // rounds from the uniform vector, all in integer micro units
    // (Σ π_i·P_ij floored ONCE per round after the exact sum), on a
    // k×k matrix — metadata grain at any corpus size. Emits π₃ with
    // the per-type |π₃ − π₂| mixing residual; states with no outgoing
    // transitions leak their mass identically on both engines (none
    // exist in recurrent behavior data).
    "ev56_markov_stationary" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("i"), col("event_type").as("j"))
        .agg(count(lit(1)).as("c"))
      val rowTot = trans.groupBy("i").agg(sum(col("c")).as("ct"))
      // Pin the |types|² matrix once (ev48's idiom): pi2 feeds BOTH pi3
      // and the final residual join, and each un-pinned step() reference
      // re-embeds the corpus window+aggregate subtree in the plan.
      val pmat = trans.join(rowTot, "i")
        .select(col("i"), col("j"),
          expr("c * 1000000 div ct").as("p_micro"))
        .transform(graft.operators.GlobalRank.pinned)
      val states = pmat.select(col("i").as("t")).distinct()
      val k = states.agg(count(lit(1)).as("k"))
      def step(pi: DataFrame): DataFrame =
        pmat.join(pi.select(col("t").as("i"), col("pi").as("pv")), "i")
          .groupBy(col("j").as("t"))
          .agg(expr("sum(pv * p_micro) div 1000000").as("pi"))
      val pi0 = states.crossJoin(broadcast(k))
        .select(col("t"), expr("1000000 div k").as("pi"))
      val pi2 = step(step(pi0)).transform(graft.operators.GlobalRank.pinned)
      val pi3 = step(pi2)
      pi3.join(pi2.select(col("t"), col("pi").as("pi_prev")), Seq("t"),
          "left")
        .select(col("t").as("event_type"), col("pi").as("pi_micro"),
          abs(col("pi") - coalesce(col("pi_prev"), lit(0L)))
            .as("mixing_residual_micro"))
    },

    // Per-user sequence log-likelihood under ev12's transition matrix —
    // the Markov anomaly score (bot/fraud sessions walk improbable
    // paths). Each transition contributes floor(1e6·ln(p_micro)): the
    // ln is quantized to integer micro-nats BEFORE summation
    // (Retrieval's idiom — JVM Math.log and C libm can differ by 1 ulp;
    // the integer sum is then order-free and engine-exact). The
    // transition matrix is |types|²-sized and broadcast; the scoring
    // pass shuffles once per user.
    "ev16_markov_anomaly" -> { (s, dir) =>
      val seq = transitions(s, dir)
      val trans = seq.groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p_micro",
          expr("n * 1000000 div sum(n) over (partition by prev_type)"))
        .select(col("prev_type").as("pt"), col("event_type").as("et"),
          col("p_micro"))
      seq.join(broadcast(trans),
          col("prev_type") === col("pt") && col("event_type") === col("et"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_transitions"),
          sum(floor(log(col("p_micro").cast("double")) * 1e6)
            .cast("long")).as("loglik_micro"))
    },

    // Frequent event-type TRIGRAM motifs: the k=3 sequential patterns a
    // behavioral miner reports (and the contrast set for ev16's anomaly
    // score). Two lags per user, one map-side-combined motif count.
    "ev17_motifs" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t1", lag(col("event_type"), 2).over(w))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .filter(col("t1").isNotNull)
        .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
    },

    // Full-outer interval join: views matched to clicks within 30 min,
    // PLUS unconverted views and orphan clicks null-extended.
    "ev5_interval_fullouter" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), tsUs.as("view_us"),
          col("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), tsUs.as("click_us"),
          col("event_id").as("click_id"))
      views.join(clicks,
          col("v_user") === col("c_user") &&
            col("click_us") >= col("view_us") &&
            col("click_us") <= col("view_us") + gapUs,
          "full_outer")
        .select(coalesce(col("v_user"), col("c_user")).as("user_id"),
          col("view_id"), col("view_us"), col("click_id"), col("click_us"))
    },

    // Bucketized point-in-interval join: each "error" event opens a
    // 2-hour incident window for its user; count the user's events inside
    // each window. Neither side broadcast — the shuffle-scalable range
    // join (j1 is the broadcast tier). Exact predicate re-applied behind
    // the bucket equi-join, so the oracle is the plain range join.
    "j3_interval_bucket_join" -> { (s, dir) =>
      import graft.operators.IntervalJoin
      val hourUs = 3600L * 1000000L
      val ev = Tables.eventsUs(s, dir).select(col("event_id"),
        col("user_id"), tsUs.as("ts_us"))
      val incidents = Tables.eventsUs(s, dir)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          col("user_id").as("i_user"), tsUs.as("lo_us"))
        .withColumn("hi_us", col("lo_us") + lit(2L * hourUs))
      IntervalJoin.pointInInterval(ev, col("ts_us"), incidents,
          col("lo_us"), col("hi_us"), bucketWidth = hourUs,
          extraCond = Some(col("user_id") === col("i_user")))
        .groupBy("incident_id").agg(count(lit(1)).as("n_events"))
    },

    // NEAREST as-of join — the fourth direction of the as-of family
    // (backward ev4, forward ev10, tolerance ev11): each event picks the
    // user's order closest in time on EITHER side, ties to the earlier
    // order (pandas merge_asof direction='nearest'). Composed as the
    // backward and forward passes (each one sorted-window shuffle on
    // user_id) re-joined on event_id — the hash partitioning from the
    // as-of passes is reused, and unmatched events survive with nulls so
    // the denominator stays honest. Never a per-user fan-out join: cost
    // is 2× the one-directional as-of, independent of orders-per-user.
    "j8_asof_nearest" -> { (s, dir) =>
      import graft.operators.AsOfJoin
      val ev = Tables.eventsUs(s, dir).select(col("event_id"),
        col("user_id"), col("ts").as("ts_us"))
      val o = Tables.orders(s, dir)
      val orders = o.select(
        col("o_custkey").as("user_id"),
        Tables.eventTimeUs(o, "o_orderdate").as("order_us"),
        col("o_orderkey"))
      val deduped = AsOfJoin.dedupeRight(orders, "user_id", "order_us",
        "o_orderkey")
      AsOfJoin.asofNearest(ev, deduped, "user_id", "ts_us", "order_us",
          Seq("o_orderkey"), rowId = "event_id")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("o_orderkey").as("nearest_order"),
          abs(col("ts_us") - col("order_us")).as("gap_us"),
          when(col("order_us").isNull, lit(null).cast("string"))
            .when(col("order_us") <= col("ts_us"), lit("backward"))
            .otherwise(lit("forward")).as("side"))
    },

    // Watermark sizing audit — choose `withWatermark`'s delay FROM data,
    // not folklore: an event's lateness is (max event-time already
    // arrived in its user's stream) − its own event-time; the output is
    // the cumulative coverage curve per candidate watermark (6-hour
    // buckets), and the row where coverage_micro crosses the SLO is the
    // delay to configure. The fixture's event_ids arrive exactly in
    // event-time order (zero lateness), so arrival disorder is
    // SYNTHESIZED deterministically — every 7th event_id is displaced
    // +400 arrival slots (the tx7 contract: the oracle rebuilds the
    // identical disorder). One sorted window per user for the running max
    // (co-partitioned, no global pass), a bucket rollup, and a
    // bucket-grain (metadata-sized) cumulative window; all integer
    // arithmetic.
    "ev22_watermark_audit" -> { (s, dir) =>
      val bucketUs = 6L * 3600L * 1000000L
      val arrival = Window.partitionBy(col("user_id"))
        .orderBy(col("arr"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val late = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("arr", col("event_id") +
          when(col("event_id") % 7 === 0, 400L).otherwise(0L))
        .withColumn("seen_max", max(col("ts")).over(arrival))
        .select(when(col("seen_max").isNull || col("seen_max") < col("ts"),
          0L).otherwise(col("seen_max") - col("ts")).as("late_us"))
      val buckets = late
        .select(expr(s"late_us div $bucketUs").as("late_bucket_6h"))
        .groupBy("late_bucket_6h").agg(count(lit(1)).as("n"))
      val cum = Window.orderBy(col("late_bucket_6h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      buckets
        .withColumn("cum_n", sum(col("n")).over(cum))
        .withColumn("total", sum(col("n")).over(all))
        .select(col("late_bucket_6h"), col("n"), col("cum_n"),
          expr("cum_n * 1000000 div total").as("coverage_micro"))
    },

    // DAU / trailing-7-day WAU stickiness per day — the engagement
    // headline on every product dashboard. WAU reuses ev13's
    // window-anchor fan-out (each distinct user-day serves its ≤7
    // anchors; shuffle volume is 7×|user-days|, independent of raw event
    // volume); stickiness is exact integer micro-units (dau·1e6 div
    // wau), so the ratio never rides a float division.
    "ev24_stickiness" -> { (s, dir) =>
      val ud = userDays(s, dir)
      val days = ud.select("day").distinct()
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      val wau = ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000 div wau").as("stickiness_micro"))
    },

    // Theta-sketch SET ALGEBRA audit — the sketch family HLL can't be:
    // HLL unions only, theta sketches intersect and subtract, so
    // "viewers who also purchased" comes from two mergeable sketches
    // instead of a distinct-distinct join. Both algebra results are
    // audited in-query against the exact set counts (d18/ev14's
    // estimate-vs-exact contract; datasketches theta is exact below its
    // 4096-entry nominal, ~2% rsd beyond, so the oracle pins the exact
    // columns and the ≤2% flags). At warehouse scale the per-segment
    // sketch TABLE is materialized once and any audience intersection
    // is sketch algebra — no re-scan, no pairwise distinct joins.
    "d27_theta_algebra" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
      val sk = ev.agg(
        expr("theta_sketch_agg(CASE WHEN event_type = 'view' " +
          "THEN user_id END)").as("sv"),
        expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' " +
          "THEN user_id END)").as("sp"))
      val est = sk.select(
        expr("theta_sketch_estimate(theta_intersection(sv, sp))")
          .cast("bigint").as("est_both"),
        expr("theta_sketch_estimate(theta_difference(sv, sp))")
          .cast("bigint").as("est_view_only"))
      val v = ev.filter(col("event_type") === "view")
        .select("user_id").distinct()
      val p = ev.filter(col("event_type") === "purchase")
        .select("user_id").distinct()
      val exBoth = v.join(p, "user_id")
        .agg(count(lit(1)).as("exact_both"))
      val exViewOnly = v.join(p, Seq("user_id"), "left_anti")
        .agg(count(lit(1)).as("exact_view_only"))
      exBoth.crossJoin(exViewOnly).crossJoin(est)
        .select(col("exact_both"), col("exact_view_only"),
          (abs(col("est_both") - col("exact_both")).cast("double") <=
            lit(0.02) * col("exact_both").cast("double"))
            .as("both_within_2pct"),
          (abs(col("est_view_only") - col("exact_view_only"))
            .cast("double") <=
            lit(0.02) * col("exact_view_only").cast("double"))
            .as("view_only_within_2pct"))
    },

    // Per-user/event-type pivot-style conditional aggregation.
    "ev3_type_counts" -> { (s, dir) =>
      Tables.eventsUs(s, dir).groupBy("user_id").agg(
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        Det.moneySum(col("value")).as("total_value"))
    },

    // Ordered conversion funnel: first view, then first click strictly
    // after it, then first purchase strictly after that — per-stage user
    // counts. Three per-user aggregates chained by joins on user_id: the
    // first groupBy fixes the hash partitioning and every later join and
    // groupBy reuses it (one logical shuffle for the whole funnel), so
    // depth-k funnels stay k co-partitioned passes — never a per-user
    // event-list collect.
    // TIME-CONSTRAINED funnel — ev8 with conversion windows, the form
    // funnel products actually ship (an unbounded funnel credits a
    // purchase months after the click): first view, first click within
    // 1 day of it, first purchase within 7 days of that. The window is
    // a residual predicate on the same co-partitioned join+min chain as
    // ev8 — one logical shuffle for the whole funnel, never a per-user
    // event-list collect, and depth-k funnels stay k passes.
    "ev23_windowed_funnel" -> { (s, dir) =>
      val dayUs = 86400000000L
      val e = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts_us") > col("t1") &&
          col("ts_us") <= col("t1") + lit(dayUs))
        .groupBy("user_id").agg(min(col("ts_us")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts_us") > col("t2") &&
          col("ts_us") <= col("t2") + lit(7L * dayUs))
        .groupBy("user_id").agg(min(col("ts_us")).as("t3"))
      def stage(df: DataFrame, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("stage"), col("n_users"))
      stage(v, "1_view")
        .unionByName(stage(c, "2_click_1d"))
        .unionByName(stage(p, "3_purchase_7d"))
    },

    "ev8_funnel" -> { (s, dir) =>
      val e = Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts_us") > col("t1"))
        .groupBy("user_id").agg(min(col("ts_us")).as("t2"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts_us") > col("t2"))
        .groupBy("user_id").agg(min(col("ts_us")).as("t3"))
      def stage(df: DataFrame, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("stage"), col("n_users"))
      stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
    },

    // Cohort LTV: cumulative purchase value per signup cohort by week —
    // ev9's retention with money attached, the growth-accounting curve
    // ("when does a cohort pay back?"). Value is floor-quantized to
    // cents per event so every sum is an exact integer; the cumulative
    // ride is a per-cohort window over the (cohort, week) rollup —
    // metadata grain. Same exchange-reuse as ev9: everything hashes on
    // user_id once, then cohort_day.
    "ev25_cohort_ltv" -> { (s, dir) =>
      val d = Tables.eventsUs(s, dir)
        .selectExpr("user_id", "ts div 86400000000 AS day",
          "event_type", "cast(floor(value * 100) as bigint) AS cents")
      val first = d.groupBy("user_id")
        .agg(min(col("day")).as("cohort_day"))
      val weekly = d.filter(col("event_type") === "purchase")
        .join(first, "user_id")
        .selectExpr("cohort_day", "(day - cohort_day) div 7 AS week_offset",
          "cents")
        .groupBy("cohort_day", "week_offset")
        .agg(sum(col("cents")).as("cents"))
      val cum = Window.partitionBy(col("cohort_day"))
        .orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly.select(col("cohort_day"), col("week_offset"), col("cents"),
        sum(col("cents")).over(cum).as("cum_cents"))
    },

    // Per-day PEAK CONCURRENT SESSIONS — the interval sweep ("how many
    // sessions are open at once?") that sizes serving capacity. Sessions
    // come from the same native session_window as ev6; each becomes a
    // +1 at start / −1 at end delta, and the peak is the max prefix sum
    // of the deltas in time order. Distributed shape: the sweep is
    // partitioned by DAY with a carry-in (concurrency at midnight)
    // computed from per-day delta totals — the only unpartitioned window
    // runs over #days rows, metadata grain. At corpus scale the shard
    // key drops to the hour the same way. Tie convention: ends sort
    // before starts at the same µs (delta ASC), matching the
    // half-open [start, end) session window — touching sessions do not
    // overlap.
    "ev26_peak_concurrency" -> { (s, dir) =>
      val ev = Tables.eventsUs(s, dir)
        .withColumn("__ts", timestamp_micros(tsUs))
      val sess = ev
        .groupBy(col("user_id"), session_window(col("__ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"))
      val deltas = sess.select(col("start_us").as("t"), lit(1L).as("delta"))
        .union(sess.select(col("end_us").as("t"), lit(-1L).as("delta")))
        .withColumn("day", expr("t div 86400000000"))
      val dayAgg = deltas.groupBy("day").agg(sum(col("delta")).as("day_delta"))
      val wDays = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = dayAgg.select(col("day"),
        coalesce(sum(col("day_delta")).over(wDays), lit(0L)).as("carry_in"))
      val wIn = Window.partitionBy(col("day"))
        .orderBy(col("t"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val peak = deltas.withColumn("run", sum(col("delta")).over(wIn))
        .groupBy("day").agg(max(col("run")).as("peak_rel"))
      peak.join(carry, "day")
        .select(col("day"),
          greatest(col("carry_in"), col("carry_in") + col("peak_rel"))
            .as("peak_concurrency"))
    },

    // Cohort retention: users grouped by first-activity day, activity
    // rolled up to (cohort_day, week_offset) distinct-user counts. Two
    // aggregates + one join, all hash-partitioned on user_id (exchange
    // reused); day arithmetic in exact integer epoch-µs days, so the
    // week offset is engine-exact integer division of non-negatives.
    "ev9_retention" -> { (s, dir) =>
      val d = Tables.eventsUs(s, dir)
        .selectExpr("user_id", "ts div 86400000000 AS day")
      val first = d.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val active = d.distinct()
      active.join(first, "user_id")
        .selectExpr("user_id", "cohort_day",
          "(day - cohort_day) div 7 AS week_offset")
        .groupBy("cohort_day", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // RETENTION HALF-LIFE — one number out of ev9's cohort grid: pool
    // cohorts by week offset, fit ln(retention_k) = −λk by closed-form
    // OLS, and report λ and the half-life ln2/λ — the "how fast do we
    // lose users" summary a growth review actually quotes. Offsets are
    // span-bounded (weeks), each point's log-rate is nano-quantized
    // once, the OLS runs on exact integer sums, and ln 2 is a LITERAL
    // (no libm call to disagree on). Flat-or-growing retention (λ ≤ 0)
    // reports NULL half-life rather than a negative one.
    "ev57_retention_halflife" -> { (s, dir) =>
      val d = Tables.eventsUs(s, dir)
        .selectExpr("user_id", "ts div 86400000000 AS day")
      val first = d.groupBy("user_id")
        .agg(min(col("day")).as("cohort_day"))
      val byK = d.distinct().join(first, "user_id")
        .selectExpr("user_id", "(day - cohort_day) div 7 AS k")
        .groupBy("k").agg(countDistinct(col("user_id")).as("n"))
        // pinned: the week-grain retention curve feeds the k=0 base AND
        // the regression points (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val base = byK.filter(col("k") === 0).select(col("n").as("n0"))
      val pts = byK.crossJoin(broadcast(base))
        .filter(col("n") > 0 && col("n0") > 0)
        .select(col("k"),
          floor(log(col("n").cast("double") / col("n0").cast("double"))
            * lit(1e9)).cast("long").as("y_nano"))
      val st = pts.agg(count(lit(1)).as("m"),
        sum(col("k").cast(d38)).as("sx"),
        sum(col("y_nano").cast(d38)).as("sy"),
        sum(col("k").cast(d38) * col("y_nano").cast(d38)).as("sxy"),
        sum(col("k").cast(d38) * col("k").cast(d38)).as("sxx"))
      val den = (col("m").cast(d38) * col("sxx") -
        col("sx") * col("sx")).cast("double")
      val slope = (col("m").cast(d38) * col("sxy") -
        col("sx") * col("sy")).cast("double") / den / lit(1e9)
      st.select(col("m").as("n_weeks"),
          when(col("m") > 1 && den =!= 0.0, -slope).as("lambda"))
        .withColumn("half_life_weeks",
          when(col("lambda") > 0,
            lit(0.6931471805599453) / col("lambda")))
    },

    // TS8 (beyond reference): classical seasonal decomposition
    // (STL-by-moving-average): trend = centered ±3-day mean over a RANGE
    // frame (well-defined at series edges and across gap days), seasonal
    // = day-of-week mean of the detrended series, residual = the rest.
    // All three components are exact integer micro-units — the window
    // mean and the per-dow mean are integer divisions of exact sums, so
    // both engines agree bit-for-bit, negative values included (Spark
    // `div` and DuckDB `//` both truncate toward zero). One daily-rollup
    // shuffle; the trend window rides its partitioning; the 7×|series|
    // seasonal profile broadcasts back.
    "ts8_stl_decompose" -> ((s, dir) => stlDecompose(s, dir)),

    // TS16 (beyond reference): SEASONAL STRENGTH — Hyndman's
    // F_s = max(0, 1 − Var(resid)/Var(seasonal + resid)) per series from
    // ts8's decomposition: the one-number answer to "does this series
    // actually have weekly structure worth modeling?" (≈0 noise, →1
    // strongly seasonal). Both variances reduce to exact integer
    // second-moment forms (m·Σx² − (Σx)², common factors cancel), so
    // only the final ratio divides — engine-bitwise. Metadata-grain
    // rollup over ts8's plan.
    "ts16_stl_strength" -> { (s, dir) =>
      val dec = DecimalType(38, 0)
      val d = stlDecompose(s, dir)
        .select(col("event_type"), col("resid_micro"),
          (col("seasonal_micro") + col("resid_micro")).as("det"))
      val st = d.groupBy("event_type")
        .agg(count(lit(1)).as("m"),
          sum(col("resid_micro").cast(dec)).as("sr"),
          sum(col("resid_micro").cast(dec) * col("resid_micro").cast(dec))
            .as("srr"),
          sum(col("det").cast(dec)).as("sd"),
          sum(col("det").cast(dec) * col("det").cast(dec)).as("sdd"))
      val vr = col("m").cast(dec) * col("srr") - col("sr") * col("sr")
      val vd = col("m").cast(dec) * col("sdd") - col("sd") * col("sd")
      st.select(col("event_type"), col("m"),
        when(vd > 0, greatest(lit(0.0),
          lit(1.0) - vr.cast("double") / vd.cast("double")))
          .as("seasonal_strength"))
    },

    // TS9 (beyond reference): seasonality-AWARE anomaly flags — ts1's
    // z-score fires every Saturday on a weekday-seasonal series; this
    // tests ts8's RESIDUAL against the residual distribution instead.
    // The |z| > 2.5 test is evaluated as the cross-multiplied integer
    // inequality 4·(m·r − Σr)² > 25·(m·Σr² − (Σr)²) (both sides exact —
    // decimal(38,0) on the Spark side, HUGEINT in DuckDB — so the flag
    // is bit-deterministic; no float σ is ever formed). One extra
    // metadata-grain aggregate + broadcast join over ts8's plan.
    "ts9_stl_anomaly" -> { (s, dir) =>
      val d = stlDecompose(s, dir)
      val dec = DecimalType(38, 0)
      val st = d.groupBy(col("event_type").as("st_type"))
        .agg(count(lit(1)).as("m"), sum(col("resid_micro")).as("sr"),
          sum(col("resid_micro").cast(dec) * col("resid_micro").cast(dec))
            .as("srr"))
      d.join(broadcast(st), d("event_type") === col("st_type"))
        .select(col("event_type"), col("day"), col("n"), col("resid_micro"),
          (lit(4).cast(dec) *
            (col("resid_micro").cast(dec) * col("m").cast(dec) -
              col("sr").cast(dec)) *
            (col("resid_micro").cast(dec) * col("m").cast(dec) -
              col("sr").cast(dec)) >
            lit(25).cast(dec) *
              (col("m").cast(dec) * col("srr") -
                col("sr").cast(dec) * col("sr").cast(dec)))
            .as("is_anomaly"))
    },

    // SEQ1 (beyond reference): sequential pattern mining at 2-gram depth
    // — "users who do A tend to do B later the same day", the ordered
    // (first-occurrence-of-A before first-occurrence-of-B) association
    // rule with per-antecedent confidence. Collapsing to FIRST
    // occurrences per (user, day, type) bounds the self-join at
    // |types|² per user-day — never the raw-event cross product — and
    // the join is co-partitioned on (user_id, day), so it is one
    // exchange-reused shuffle however large the event log grows; the
    // |types|² support table then broadcasts against the antecedent
    // counts. Strict `<` on first timestamps makes ties drop from both
    // directions identically in both engines.
    "seq1_behavior_pairs" -> { (s, dir) =>
      val firsts = Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"),
          col("event_type"), col("ts"))
        .groupBy("user_id", "day", "event_type")
        .agg(min(col("ts")).as("first_ts"))
      val a = firsts.select(col("user_id"), col("day"),
        col("event_type").as("etype_a"), col("first_ts").as("ts_a"))
      val b = firsts.select(col("user_id"), col("day"),
        col("event_type").as("etype_b"), col("first_ts").as("ts_b"))
      val support = a.join(b, Seq("user_id", "day"))
        .filter(col("ts_a") < col("ts_b"))
        .groupBy("etype_a", "etype_b")
        .agg(count(lit(1)).as("support"))
      val na = firsts.groupBy(col("event_type").as("etype_a"))
        .agg(count(lit(1)).as("n_a"))
      support.join(broadcast(na), Seq("etype_a"))
        .select(col("etype_a"), col("etype_b"), col("support"), col("n_a"),
          expr("(support * 1000000) div n_a").as("confidence_micro"))
    },

    // EV27 (beyond reference): exponentially time-DECAYED counters —
    // freshness-weighted popularity (the signal behind recency-aware
    // sampling and trending detection), with half-life decay kept
    // integer-exact: weight = 1e6 >> age_weeks (a power-of-two halving
    // schedule — no float pow), age measured against the corpus
    // max-timestamp watermark (one metadata-grain scalar, broadcast).
    // Shift clamped at 40 so the weight bottoms out at 0 without
    // overflow; the weighted count is then one map-side-combined
    // aggregate — same cost as a plain count at any scale.
    "ev27_decay_counter" -> { (s, dir) =>
      val d = Tables.eventsUs(s, dir)
        .select(col("event_type"), expr("ts div 86400000000").as("day"))
      val mx = d.agg(max(col("day")).as("max_day"))
      d.crossJoin(broadcast(mx))
        .select(col("event_type"),
          expr("""1000000 div shiftleft(cast(1 as bigint),
                 |cast(least((max_day - day) div 7, 40) as int))"""
            .stripMargin.replace("\n", " ")).as("w_micro"))
        .groupBy("event_type")
        .agg(sum(col("w_micro")).as("decayed_micro"),
          count(lit(1)).as("n_events"))
    },

    // EV28 (beyond reference): per-state ENTROPY of the behavior Markov
    // chain — how predictable is what users do AFTER each event type
    // (H(next|s) = Σ_t P(t|s)·(ln n_s − ln n_t,s))? Low entropy after
    // 'view' means funnels are deterministic; high entropy after
    // 'error' means recovery paths scatter — the sequence-complexity
    // readout behind ev16's anomaly scoring. Transition extraction is
    // ev12's lag-over-user-order; each log is floor-quantized to
    // micro-nats and weighted by the exact transition count, so the
    // per-state sum is an order-free integer divided once. |states|²
    // cells — metadata after one user-keyed window + one count shuffle.
    "ev28_markov_entropy" -> { (s, dir) =>
      val trans = transitions(s, dir)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("nst"))
      val perState = trans.groupBy("prev_type")
        .agg(sum(col("nst")).as("ns"), count(lit(1)).as("n_next_types"))
      trans.join(broadcast(perState), Seq("prev_type"))
        .select(col("prev_type"), col("ns"), col("n_next_types"),
          (col("nst") *
            (floor(log(col("ns").cast("double")) * lit(1e6))
              .cast("bigint") -
              floor(log(col("nst").cast("double")) * lit(1e6))
                .cast("bigint"))).as("term"))
        .groupBy("prev_type")
        .agg(max(col("ns")).as("n_s"),
          max(col("n_next_types")).as("n_next_types"),
          expr("sum(term) div max(ns)").as("h_micro"))
    },

    // EV48 (beyond reference): STATIONARY distribution of the behavior
    // Markov chain — where does a long session settle? Six power-
    // iteration rounds v' = vP over ev12's transition matrix, vector
    // and matrix both in integer micro-units (each round sums exact
    // products then divides once — same integer-iteration contract as
    // gr1's PageRank, so the oracle unrolls the identical six CTE
    // rounds bit-for-bit). The matrix is |states|² metadata; rounds are
    // joins on a 5-row table after one transition shuffle.
    "ev48_stationary_mix" -> { (s, dir) =>
      // The transition matrix is |states|² metadata — pin it with an
      // eager checkpoint so the six unrolled rounds below reference
      // ONE materialized 25-row table. Without the pin, every round's
      // join re-embeds the events window+aggregate subtree in the final
      // plan (6 copies of the corpus scan: plan bloat locally, repeated
      // corpus passes at scale).
      val p = transitions(s, dir)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("nst"))
        .withColumn("p_micro", expr(
          "nst * 1000000 div sum(nst) over (partition by prev_type)"))
        .select(col("prev_type").as("s"), col("event_type").as("t"),
          col("p_micro"))
        .transform(graft.operators.GlobalRank.pinned)
      val states = p.select(col("s").as("state")).distinct()
      // max(k, 1): an empty chain yields an empty state set — the init
      // literal is then never used, but the driver division must not throw
      val k = math.max(states.count(), 1L)
      var v = states.withColumn("v_micro", lit(1000000L / k))
      for (_ <- 1 to 6) {
        v = p.join(v, col("s") === col("state"))
          .groupBy(col("t"))
          .agg(expr("sum(v_micro * p_micro) div 1000000").as("v_micro"))
          .select(col("t").as("state"), col("v_micro"))
      }
      v
    },

    // EV49 (beyond reference): expected STEPS-TO-PURCHASE per state —
    // treating 'purchase' as the absorbing state of ev12's chain, the
    // expected transition count to absorption from each other state
    // (the "how far is each behavior from converting" distance the
    // funnel can't see). Exact answer needs (I−Q)⁻¹; here the Neumann
    // series E = Σ Qᵏ·1 is truncated at 8 integer micro-iterations
    // e' = 1e6 + Q·e (same unrolled-integer-rounds contract as ev48 /
    // gr1, so the oracle replays it bit-for-bit). Mass that never
    // reaches 'purchase' within 8 steps simply stops accumulating —
    // a documented lower bound, not an estimate error.
    "ev49_steps_to_purchase" -> { (s, dir) =>
      // Same pin as ev48: the eight unrolled Neumann rounds reference q
      // and states each round — without the eager checkpoint the
      // final plan carries 17 copies of the events window+aggregate
      // subtree (measured: 36 exchanges in the static plan, 1.9 s at
      // sf0.1; one materialized ~20-row matrix removes all of them).
      val p = transitions(s, dir)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("nst"))
        .withColumn("p_micro", expr(
          "nst * 1000000 div sum(nst) over (partition by prev_type)"))
        .select(col("prev_type").as("s"), col("event_type").as("t"),
          col("p_micro"))
        .filter(col("s") =!= "purchase")
        .transform(graft.operators.GlobalRank.pinned)
      val q = p.filter(col("t") =!= "purchase")
      val states = p.select(col("s").as("state")).distinct()
        .transform(graft.operators.GlobalRank.pinned)
      var e = states.withColumn("e_micro", lit(0L))
      for (_ <- 1 to 8) {
        e = states.join(
            q.join(e, col("t") === col("state"))
              .groupBy(col("s"))
              .agg(expr("sum(p_micro * e_micro) div 1000000").as("acc")),
            states("state") === col("s"), "left")
          .select(col("state"),
            (lit(1000000L) + coalesce(col("acc"), lit(0L))).as("e_micro"))
      }
      e
    },

    // EV47 (beyond reference): L28 engagement HISTOGRAM — users binned
    // by how many of the trailing 28 days they were active (the L5/L28
    // family product teams grade stickiness by; the histogram's shape —
    // smile vs slump — is the health readout). Watermark-anchored
    // window, one distinct rollup, user-grain count, 28-bucket combine.
    "ev47_l28_histogram" -> { (s, dir) =>
      val d = userDays(s, dir)
      val mx = d.agg(max(col("day")).as("max_day"))
      d.crossJoin(broadcast(mx))
        .filter(col("day") > col("max_day") - 28)
        .groupBy("user_id").agg(count(lit(1)).as("l28"))
        .groupBy("l28").agg(count(lit(1)).as("n_users"))
    },

    // EV46 (beyond reference): usage METERING — billable session-
    // seconds attributed to the CALENDAR DAY they occurred in, sessions
    // split at midnight (the attribution step billing and capacity
    // dashboards need, where ev6 reports sessions whole). Sessions are
    // ev2's 30-min gaps-and-islands; each session explodes into only
    // the days it spans (bounded by duration, not corpus) and
    // contributes clamp(overlap) exact µs per day. One user window +
    // one session rollup + a day-grain combine.
    "ev46_usage_metering" -> { (s, dir) =>
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val running = byTime.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sess = Tables.eventsUs(s, dir)
        .withColumn("is_new",
          when(col("ts") - lag(col("ts"), 1).over(byTime) > gapUs ||
            lag(col("ts"), 1).over(byTime).isNull, 1L).otherwise(0L))
        .withColumn("sid", sum(col("is_new")).over(running))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("t_start"), max(col("ts")).as("t_end"))
      sess
        .select(col("user_id"),
          col("t_start"), col("t_end"),
          explode(sequence(expr("t_start div 86400000000"),
            expr("t_end div 86400000000"))).as("day"))
        .select(col("day"),
          (least(col("t_end"), (col("day") + 1) * lit(86400000000L) - 1) -
            greatest(col("t_start"), col("day") * lit(86400000000L)))
            .as("overlap_us"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_session_days"),
          sum(col("overlap_us")).as("usage_us"))
    },

    // EV45 (beyond reference): GROWTH ACCOUNTING — every active
    // user-day classified new / retained / resurrected (returning after
    // a >14-day gap), rolled up per day with the growth QUICK RATIO
    // ((new + resurrected) per lost... approximated here at daily grain
    // as the incoming-state mix since churn needs the future) — the
    // decomposition behind "DAU grew, but is it new users or
    // resurrection?". One distinct rollup + one lag window on the
    // user_id exchange; day arithmetic in exact integer days.
    "ev45_growth_accounting" -> { (s, dir) =>
      val d = userDays(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      d.withColumn("prev_day", lag(col("day"), 1).over(w))
        .withColumn("state",
          when(col("prev_day").isNull, "new")
            .when(col("day") - col("prev_day") > 14, "resurrected")
            .otherwise("retained"))
        .groupBy("day")
        .agg(count(lit(1)).as("dau"),
          sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("state") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"),
          sum(when(col("state") === "retained", 1L).otherwise(0L))
            .as("n_retained"))
        .withColumn("incoming_share_micro",
          expr("((n_new + n_resurrected) * 1000000) div dau"))
    },

    // EV43 (beyond reference): conversion MILESTONES — per user, the
    // elapsed time from their first event to their 1st/2nd/3rd
    // purchase (the "time to Aha / time to habit" ladder activation
    // teams steer by). One user-partitioned rank over purchases + a
    // broadcast-scale min-per-user join; exact integer µs elapsed,
    // milestones beyond a user's purchase count simply absent.
    "ev43_purchase_milestones" -> { (s, dir) =>
      val e = Tables.eventsUs(s, dir)
      val first = e.groupBy("user_id").agg(min(col("ts")).as("t0"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("milestone", row_number().over(w).cast("long"))
        .filter(col("milestone") <= 3)
        .join(first, "user_id")
        .select(col("user_id"), col("milestone"),
          (col("ts") - col("t0")).as("elapsed_us"))
    },

    // TS14 (beyond reference): dominant-PERIOD detection — ts4 reads
    // one lag; this scans the ACF over lags 1..14 and reports each
    // series' best lag (the data-derived seasonality ts5/ts8 currently
    // assume is 7). Fourteen row-based lag columns unpivot to
    // (series, lag) rows; per cell the same six exact integer
    // sufficient statistics as ts4 feed one fixed IEEE Pearson tree,
    // and the argmax is a 14-row-per-series rank (ties → smaller lag).
    // Degenerate cells (zero variance either side) drop before the
    // argmax on both engines.
    "ts14_period_detect" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = (1 to 14).foldLeft(daily) { (df, k) =>
        df.withColumn(s"l$k", lag(col("n"), k).over(w))
      }
      val arr = array((1 to 14).map(k =>
        struct(lit(k.toLong).as("k"), col(s"l$k").as("a"))): _*)
      val cells = lagged.select(col("event_type"), col("n"),
          explode(arr).as("r"))
        .select(col("event_type"), col("r.k").as("k"),
          col("r.a").as("a"), col("n"))
        .filter(col("a").isNotNull)
        .groupBy("event_type", "k")
        .agg(count(lit(1)).as("m"), sum(col("a")).as("sa"),
          sum(col("n")).as("sb"), sum(col("a") * col("n")).as("sab"),
          sum(col("a") * col("a")).as("saa"),
          sum(col("n") * col("n")).as("sbb"))
      val va = col("m") * col("saa") - col("sa") * col("sa")
      val vb = col("m") * col("sbb") - col("sb") * col("sb")
      val acf = cells.filter(va > 0 && vb > 0)
        .select(col("event_type"), col("k"),
          ((col("m") * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double"))))
            .as("acf"))
      acf.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("acf").desc, col("k").asc)))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("k").as("best_lag"), col("acf"))
    },

    // TS13 (beyond reference): THEIL–SEN robust trend — the median of
    // all pairwise slopes, immune to the outlier days that bend an OLS
    // fit (ml6): the robust "is this series growing?" number. Slopes
    // are micro-quantized integers ((Δn·1e6) div Δday — exact, same
    // truncation both engines), the median is the lower-middle order
    // statistic by (slope, day-pair) rank. Pair count is days²/2 per
    // series — bounded by the CALENDAR (≤ ~66k pairs/series/year), not
    // by event volume, so the self-join stays metadata-grain at any
    // corpus size.
    "ts13_theil_sen" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("n").as("n1"))
      val b = daily.select(col("event_type").as("et2"),
        col("day").as("d2"), col("n").as("n2"))
      val slopes = a.join(b, col("event_type") === col("et2") &&
          col("d1") < col("d2"))
        .select(col("event_type"),
          expr("((n2 - n1) * 1000000) div (d2 - d1)").as("slope_micro"),
          col("d1"), col("d2"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("slope_micro"), col("d1"), col("d2"))
      slopes
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("rk") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
          col("slope_micro").as("sen_slope_micro"))
    },

    // EV42 (beyond reference): KAPLAN–MEIER survival curve — "what
    // fraction of users survive to tenure t?", with still-active users
    // correctly treated as CENSORED (the error every naive churn-rate
    // query makes is dropping them). The product Π(1 − dᵢ/nᵢ) is kept
    // exact in log space: each factor contributes qlog(nᵢ−dᵢ) −
    // qlog(nᵢ) micro-nats, cumulated by one window — order-free
    // integers, no float product. Risk sets come from a descending
    // cumulative count over the tenure-grain rollup; everything after
    // the per-user label pass is metadata-sized.
    "ev42_kaplan_meier" -> { (s, dir) =>
      val d = userDays(s, dir)
      val mx = d.agg(max(col("day")).as("max_day"))
      val users = d.groupBy("user_id")
        .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .crossJoin(broadcast(mx))
        .select((col("last_day") - col("first_day")).as("tenure"),
          (col("last_day") < col("max_day") - 14).as("churned"))
      val byTenure = users.groupBy("tenure")
        .agg(count(lit(1)).as("n_here"),
          sum(when(col("churned"), 1L).otherwise(0L)).as("d_t"))
      val wAsc = Window.orderBy(col("tenure"))
      val wDesc = Window.orderBy(col("tenure").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byTenure
        .withColumn("n_risk", sum(col("n_here")).over(wDesc))
        .withColumn("log_factor_micro",
          when(col("d_t") > 0,
            floor(log((col("n_risk") - col("d_t")).cast("double")) *
              lit(1e6)).cast("bigint") -
              floor(log(col("n_risk").cast("double")) * lit(1e6))
                .cast("bigint")).otherwise(lit(0L)))
        .withColumn("log_surv_micro", sum(col("log_factor_micro")).over(
          wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("tenure"), col("n_risk"), col("d_t"),
          col("log_surv_micro"))
    },

    // EV38 (beyond reference): next-event BASELINE accuracy — the
    // sanity number every sequence model must beat: predict each
    // transition's next type as the source state's majority class
    // (ev12's matrix argmax, ties to the lexicographically first type)
    // and score accuracy per state. acc = n_majority / n_s — all exact
    // counts from one transition shuffle; the argmax is a 25-row
    // metadata sort inside each state.
    "ev38_next_event_baseline" -> { (s, dir) =>
      val trans = transitions(s, dir)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("nst"))
      val pick = Window.partitionBy(col("prev_type"))
        .orderBy(col("nst").desc, col("event_type").asc)
      trans.withColumn("rk", row_number().over(pick))
        .groupBy("prev_type")
        .agg(sum(col("nst")).as("n_s"),
          sum(when(col("rk") === 1, col("nst")).otherwise(0L))
            .as("n_majority"),
          max(when(col("rk") === 1, col("event_type"))).as("predicted"))
        .select(col("prev_type"), col("predicted"), col("n_s"),
          col("n_majority"),
          expr("(n_majority * 1000000) div n_s").as("accuracy_micro"))
    },

    // TS12 (beyond reference): CUSUM drift detector — ts6 splits the
    // series at the single best changepoint; CUSUM instead accumulates
    // deviation from the global mean and flags the first day the
    // cumulative drift leaves a 3σ·√k envelope — the small-persistent-
    // shift detector (a 5% drop every day never trips ts1's per-day
    // z-score but walks CUSUM out of the envelope linearly). Exactness:
    // deviations are N·x−S integers, the envelope test is the
    // cross-multiplied inequality C²·(N−1)·N > 9·k·(N·Σx²−S²) in
    // decimal(38)/HUGEINT — no float mean, σ, or sqrt anywhere.
    "ts12_cusum_drift" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val st = daily.groupBy(col("event_type").as("st_type"))
        .agg(count(lit(1)).as("nn"), sum(col("n")).as("ss"),
          sum((col("n").cast(d38) * col("n").cast(d38))).as("sxx"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.join(broadcast(st), daily("event_type") === col("st_type"))
        .withColumn("dev", col("nn").cast(d38) * col("n").cast(d38) -
          col("ss").cast(d38))
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("cusum", sum(col("dev")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("event_type"), col("day"), col("n"), col("k"),
          col("cusum").cast("long").as("cusum_dev"),
          (col("cusum") * col("cusum") * (col("nn") - 1).cast(d38) >
            lit(9).cast(d38) * col("k").cast(d38) * col("nn").cast(d38) *
              (col("nn").cast(d38) * col("sxx") -
                col("ss").cast(d38) * col("ss").cast(d38)))
            .as("drifted"))
    },

    // EV33 (beyond reference): CHURN labeling — the supervised-learning
    // label factory: per user, tenure span, active-day count, and a
    // churned flag (no activity in the trailing 14 days before the
    // corpus watermark). Labels derive from the data's own max-day
    // watermark (broadcast scalar), so the query is reproducible on any
    // snapshot; one distinct rollup + one user aggregate, both on the
    // user_id exchange.
    "ev33_churn_labels" -> { (s, dir) =>
      val d = userDays(s, dir)
      val mx = d.agg(max(col("day")).as("max_day"))
      d.groupBy("user_id")
        .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"),
          count(lit(1)).as("n_active_days"))
        .crossJoin(broadcast(mx))
        .select(col("user_id"), col("first_day"), col("last_day"),
          col("n_active_days"),
          (col("last_day") - col("first_day") + 1).as("tenure_days"),
          (col("last_day") < col("max_day") - 14).as("churned"))
    },

    // FE15 (beyond reference): temporal LAG-FEATURE matrix — the
    // feature table a daily-grain model trains on: per (user, day),
    // yesterday's count, same-weekday-last-week's count, and the
    // trailing-7-day total/active-day count (RANGE frame, gap-correct).
    // One daily rollup; every feature is a window riding the same
    // (user) partitioning — the no-self-join formulation of temporal
    // features (a naive approach joins the table to itself once per
    // lag).
    "fe15_lag_features" -> { (s, dir) =>
      val daily = Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts div 86400000000").as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val trail = byDay.rangeBetween(-7, -1)
      daily
        .withColumn("lag_1d", sum(col("n")).over(byDay.rangeBetween(-1, -1)))
        .withColumn("lag_7d", sum(col("n")).over(byDay.rangeBetween(-7, -7)))
        .withColumn("trail7_sum", sum(col("n")).over(trail))
        .withColumn("trail7_days", count(lit(1)).over(trail))
        .na.fill(0L, Seq("lag_1d", "lag_7d", "trail7_sum", "trail7_days"))
    },

    // TS11 (beyond reference): rolling-origin forecast BACKTEST — which
    // baseline should the anomaly/forecast tier trust, last-value naive
    // or seasonal-naive (same weekday last week)? Every observed day
    // after a 7-row warmup scores both one-step forecasts; MAE in exact
    // integer micro-units decides. The honest-evaluation loop (forecast
    // only from the past) expressed as two lags over the daily rollup —
    // no refit per origin, both "models" are pure window lookups riding
    // one partitioning.
    "ts11_forecast_backtest" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val scored = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("naive", lag(col("n"), 1).over(w))
        .withColumn("snaive", lag(col("n"), 7).over(w))
        .filter(col("rn") > 7)
      def mae(fc: String, name: String) =
        scored.groupBy("event_type")
          .agg(count(lit(1)).as("n_evals"),
            expr(s"sum(abs(n - $fc)) * 1000000 div count(1)")
              .as("mae_micro"))
          .select(col("event_type"), lit(name).as("method"),
            col("n_evals"), col("mae_micro"))
      mae("naive", "naive").unionByName(mae("snaive", "seasonal_naive"))
    },

    // EV31 (beyond reference): exact audience-OVERLAP matrix — Jaccard
    // of distinct-user sets per event-type pair ("are clickers just
    // viewers?"), the exact twin of d27's theta-sketch set algebra for
    // when the group count is small enough to afford one distinct
    // shuffle. Intersections come from a user-keyed self-join of the
    // distinct (type, user) table — fan-out per user is |types|², never
    // corpus²; set sizes broadcast.
    "ev31_audience_overlap" -> { (s, dir) =>
      val du = Tables.eventsUs(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = du.groupBy("event_type").agg(count(lit(1)).as("nu"))
      val inter = du.select(col("event_type").as("type_a"), col("user_id"))
        .join(du.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("nu").as("n_a"))), Seq("type_a"))
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("nu").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_inter"), col("n_a"),
          col("n_b"),
          expr("(n_inter * 1000000) div (n_a + n_b - n_inter)")
            .as("jaccard_micro"))
    },

    // TS10 (beyond reference): BURST detection with episode merging —
    // days where a series runs over 1.25× its trailing-7-day mean,
    // collapsed into contiguous episodes (the "what happened this week"
    // alert unit, not a per-day flag storm). The 1.25× test is the exact
    // integer cross-multiplication 4·n·cnt > 5·Σ (no float mean); episode
    // grouping is the gaps-and-islands rownum-difference trick inside
    // the same event_type partition, so the whole query is one daily
    // rollup + two windows riding one partitioning.
    "ts10_burst_episodes" -> { (s, dir) =>
      val daily = dailyCounts(s, dir)
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-7, -1)
      val flagged = daily
        .withColumn("wsum", sum(col("n")).over(wt))
        .withColumn("wcnt", count(lit(1)).over(wt))
        .filter(col("wcnt") > 0 &&
          lit(4) * col("n") * col("wcnt") > lit(5) * col("wsum"))
      val wi = Window.partitionBy(col("event_type")).orderBy(col("day"))
      flagged
        .withColumn("island", col("day") - row_number().over(wi))
        .groupBy("event_type", "island")
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"), sum(col("n")).as("total_events"))
        .drop("island")
    },
  )

  /** Oracle CTE `daily`: events per (event_type, day index). The two
    * spellings differ only in the parentheses around the day. */
  private val dailySql =
    """daily AS (
      |  SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)""".stripMargin
  private val dailyBareSql =
    """daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Oracle CTEs `daily` and `tr`: the centred ±3-day trend of each
    * daily series in integer micro-units. */
  private val trendSql =
    s"""$dailySql,
       |tr AS (
       |  SELECT event_type, day, n,
       |    ((SUM(n) OVER w * 1000000) // COUNT(*) OVER w) AS trend_micro
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))""".stripMargin

  /** Oracle CTEs `seq` (each event with the type of the same user's
    * previous event as `prev_type`) and `tr` (transition counts `nst`). */
  private val transitionSql =
    """seq AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |tr AS (SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS nst
      |       FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ev1_event_gaps" ->
      """SELECT user_id, event_id, event_type,
        |(epoch_us(ts) - LAG(epoch_us(ts), 1)
        |  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) / CAST(1000000 AS DOUBLE) AS gap_seconds
        |FROM events""".stripMargin,
    "ev2_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
        |      OR LAG(epoch_us(ts), 1) OVER w IS NULL
        |      THEN 1 ELSE 0 END AS is_new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, event_id,
        |  CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM flagged""".stripMargin,
    "ev7_tumbling_counts" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600000000
        |    AS window_start_us,
        |  event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ev6_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN LAG(ts_us) OVER w IS NULL
        |      OR ts_us - LAG(ts_us) OVER w >= 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) + 1800000000 AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "ev26_peak_concurrency" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN LAG(ts_us) OVER w IS NULL
        |      OR ts_us - LAG(ts_us) OVER w >= 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (
        |  SELECT user_id, ts_us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |b AS (SELECT MIN(ts_us) AS start_us,
        |        MAX(ts_us) + 1800000000 AS end_us
        |      FROM s GROUP BY user_id, sid),
        |d AS (SELECT start_us AS t, 1 AS delta FROM b
        |      UNION ALL SELECT end_us, -1 FROM b),
        |dd AS (SELECT t // 86400000000 AS day, t, delta FROM d),
        |da AS (SELECT day, SUM(delta) AS day_delta FROM dd GROUP BY 1),
        |ca AS (SELECT day, COALESCE(SUM(day_delta) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         AS carry_in
        |       FROM da),
        |r AS (SELECT day, SUM(delta) OVER (PARTITION BY day
        |        ORDER BY t, delta
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM dd),
        |p AS (SELECT day, MAX(run) AS peak_rel FROM r GROUP BY 1)
        |SELECT p.day,
        |  CAST(GREATEST(ca.carry_in, ca.carry_in + p.peak_rel) AS BIGINT)
        |    AS peak_concurrency
        |FROM p JOIN ca USING (day)""".stripMargin,
    "ev4_asof_last_order" ->
      """WITH rd AS (
        |  SELECT user_id, order_us, o_orderkey, o_totalprice FROM (
        |    SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS order_us,
        |      o_orderkey, o_totalprice,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) t WHERE rn = 1),
        |l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT l.event_id, l.user_id, l.ts_us,
        |  rd.o_orderkey AS last_order, rd.o_totalprice AS last_order_price
        |FROM l ASOF JOIN rd
        |  ON l.user_id = rd.user_id AND l.ts_us >= rd.order_us""".stripMargin,
    "j8_asof_nearest" ->
      """WITH rd AS (
        |  SELECT user_id, order_us, o_orderkey FROM (
        |    SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS order_us,
        |      o_orderkey,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) t WHERE rn = 1),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |cand AS (
        |  SELECT e.event_id, rd.o_orderkey, rd.order_us,
        |    abs(e.ts_us - rd.order_us) AS gap,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(e.ts_us - rd.order_us), rd.order_us) AS pick
        |  FROM e JOIN rd ON e.user_id = rd.user_id)
        |SELECT e.event_id, e.user_id, e.ts_us,
        |  c.o_orderkey AS nearest_order, c.gap AS gap_us,
        |  CASE WHEN c.order_us IS NULL THEN NULL
        |       WHEN c.order_us <= e.ts_us THEN 'backward'
        |       ELSE 'forward' END AS side
        |FROM e LEFT JOIN (SELECT * FROM cand WHERE pick = 1) c
        |  ON e.event_id = c.event_id""".stripMargin,
    "ev22_watermark_audit" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    event_id + CASE WHEN event_id % 7 = 0 THEN 400 ELSE 0 END
        |      AS arr,
        |    epoch_us(ts) AS ts_us FROM events),
        |mx AS (
        |  SELECT ts_us, MAX(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM e),
        |l AS (
        |  SELECT CASE WHEN mx IS NULL OR mx < ts_us THEN 0
        |    ELSE mx - ts_us END AS late_us FROM mx),
        |b AS (
        |  SELECT late_us // 21600000000 AS late_bucket_6h, COUNT(*) AS n
        |  FROM l GROUP BY 1)
        |SELECT late_bucket_6h, n,
        |  CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
        |  CAST((SUM(n) OVER w * 1000000) // SUM(n) OVER () AS BIGINT)
        |    AS coverage_micro
        |FROM b
        |WINDOW w AS (ORDER BY late_bucket_6h
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "ev10_asof_next_event" ->
      """WITH rd AS (
        |  SELECT user_id, ts_us, event_id, event_type FROM (
        |    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
        |        ORDER BY event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1),
        |l AS (SELECT o_orderkey, o_custkey AS user_id,
        |        epoch_us(o_orderdate) AS order_us FROM orders)
        |SELECT l.o_orderkey, l.user_id, l.order_us,
        |  rd.event_id AS next_event, rd.event_type AS next_event_type
        |FROM l ASOF JOIN rd
        |  ON l.user_id = rd.user_id AND l.order_us <= rd.ts_us""".stripMargin,
    "ev11_asof_tolerance" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |v AS (SELECT user_id, ts_us AS view_us, event_id AS view_id
        |      FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts_us, event_id FROM (
        |  SELECT user_id, ts_us, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, ts_us
        |      ORDER BY event_id DESC) AS rn
        |  FROM ev WHERE event_type = 'click') t WHERE rn = 1),
        |m AS (SELECT v.view_id, v.user_id, v.view_us,
        |        c.event_id AS click_id, c.ts_us AS click_us
        |      FROM v ASOF JOIN c
        |        ON v.user_id = c.user_id AND v.view_us >= c.ts_us)
        |SELECT view_id, user_id, view_us, click_id FROM m
        |WHERE view_us - click_us <= 1800000000""".stripMargin,
    "pref1_bradley_terry" -> {
      val rounds = (1 to 3).map { r =>
        s"""d_$r AS (
           |  SELECT np.i,
           |    SUM(np.n_ij * 1000000000000 // (si.s + sj.s)) AS denom
           |  FROM np JOIN s_${r - 1} si ON np.i = si.i
           |          JOIN s_${r - 1} sj ON np.j = sj.i
           |  GROUP BY np.i),
           |raw_$r AS (
           |  SELECT w.i, greatest(CASE WHEN d.denom = 0 THEN 1000000
           |    ELSE w.w * 1000000000000 // d.denom END, 1) AS s
           |  FROM wins w JOIN d_$r d ON w.i = d.i),
           |t_$r AS (SELECT SUM(s) AS ts, COUNT(*) AS k FROM raw_$r),
           |s_$r AS (
           |  SELECT i, greatest(s * (k * 1000000) // ts, 1) AS s
           |  FROM raw_$r CROSS JOIN t_$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH daily AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |    event_type, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2, 3),
         |p AS (
         |  SELECT a.event_type AS ia, b.event_type AS ib,
         |    a.n AS na, b.n AS nb
         |  FROM daily a JOIN daily b
         |    ON a.user_id = b.user_id AND a.day = b.day
         |   AND a.event_type < b.event_type
         |  WHERE a.n <> b.n),
         |stats AS (
         |  SELECT ia, ib, COUNT(*) AS n_ij,
         |    SUM(CASE WHEN na > nb THEN 1 ELSE 0 END) AS w_a
         |  FROM p GROUP BY 1, 2),
         |np AS (SELECT ia AS i, ib AS j, n_ij FROM stats
         |       UNION ALL SELECT ib, ia, n_ij FROM stats),
         |wins AS (
         |  SELECT i, CAST(SUM(w) AS BIGINT) AS w FROM (
         |    SELECT ia AS i, w_a AS w FROM stats
         |    UNION ALL SELECT ib, n_ij - w_a FROM stats) z
         |  GROUP BY i),
         |s_0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM wins),
         |$rounds
         |SELECT w.i AS event_type, w.w AS n_wins,
         |  CAST(s.s AS BIGINT) AS strength_micro
         |FROM wins w JOIN s_3 s ON w.i = s.i""".stripMargin
    },
    "pref2_winrate_wilson" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT a.event_type AS ia, b.event_type AS ib,
        |    CAST(COUNT(*) AS BIGINT) AS n_ij,
        |    CAST(SUM(CASE WHEN a.n > b.n THEN 1 ELSE 0 END) AS BIGINT)
        |      AS w_a
        |  FROM daily a JOIN daily b
        |    ON a.user_id = b.user_id AND a.day = b.day
        |   AND a.event_type < b.event_type
        |  WHERE a.n <> b.n
        |  GROUP BY 1, 2)
        |SELECT ia, ib, n_ij, w_a,
        |  CAST(w_a AS DOUBLE) / CAST(n_ij AS DOUBLE) AS win_rate,
        |  (CAST(w_a AS DOUBLE) + 2.0 -
        |   2.0 * sqrt(CAST(w_a * (n_ij - w_a) AS DOUBLE) /
        |     CAST(n_ij AS DOUBLE) + 1.0)) /
        |  (CAST(n_ij AS DOUBLE) + 4.0) AS wilson_lb
        |FROM stats""".stripMargin,
    "ts18_lagged_xcorr" ->
      s"""WITH $dailyBareSql,
        |x AS (SELECT day, n AS x FROM daily WHERE event_type = 'click'),
        |y AS (SELECT day AS yday, n AS y FROM daily
        |      WHERE event_type = 'purchase'),
        |lagged AS (
        |  SELECT lag, x.x, y.y
        |  FROM x CROSS JOIN generate_series(-7, 7) t(lag)
        |  JOIN y ON x.day + lag = y.yday),
        |st AS (
        |  SELECT lag, COUNT(*) AS n_days,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM lagged GROUP BY 1)
        |SELECT CAST(lag AS INTEGER) AS lag, n_days,
        |  CASE WHEN n_days * sxx - sx * sx > 0
        |        AND n_days * syy - sy * sy > 0 THEN
        |    CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))
        |  END AS xcorr
        |FROM st""".stripMargin,
    "ts17_exp_gap_fit" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |g0 AS (SELECT user_id, tus,
        |    LAG(tus, 1) OVER (PARTITION BY user_id ORDER BY tus) AS prev
        |  FROM ev),
        |gaps AS (SELECT (tus - prev) // 60000000 AS g FROM g0
        |         WHERE prev IS NOT NULL),
        |st AS (SELECT COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS sg
        |       FROM gaps),
        |byv AS (SELECT g, COUNT(*) AS c FROM gaps GROUP BY 1),
        |cum AS (SELECT g, n, sg,
        |    SUM(c) OVER (ORDER BY g ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        |  FROM byv CROSS JOIN st),
        |dm AS (SELECT n, sg,
        |    CASE WHEN sg > 0 THEN CAST(FLOOR(1000000.0 * abs(
        |      CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (1.0 - exp(-(CAST(n AS DOUBLE) / CAST(sg AS DOUBLE)
        |        * CAST(g AS DOUBLE)))))) AS BIGINT) END AS dm
        |  FROM cum)
        |SELECT CAST(n AS BIGINT) AS n_gaps, sg AS sum_gap_min,
        |  CAST(MAX(dm) AS BIGINT) AS ks_micro
        |FROM dm GROUP BY 1, 2""".stripMargin,
    "ev54_kaplan_meier" ->
      """WITH ev AS (SELECT user_id,
        |        epoch_us(ts) // 86400000000 AS day FROM events),
        |mx AS (SELECT MAX(day) AS maxd FROM ev),
        |per AS (
        |  SELECT user_id, MAX(day) - MIN(day) AS t,
        |    MAX(day) < mx.maxd AS churned
        |  FROM ev CROSS JOIN mx GROUP BY user_id, mx.maxd),
        |u AS (SELECT COUNT(*) AS n_users FROM per),
        |byt AS (SELECT t,
        |    SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN NOT churned THEN 1 ELSE 0 END) AS c
        |  FROM per GROUP BY 1),
        |risked AS (
        |  SELECT t, d, c,
        |    n_users - COALESCE(SUM(d + c) OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM byt CROSS JOIN u),
        |term AS (
        |  SELECT t, d, c, n_risk,
        |    CASE WHEN d > 0 AND n_risk > d THEN
        |      CAST(FLOOR(1000000.0 * ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE))) AS BIGINT)
        |    ELSE 0 END AS tm
        |  FROM risked),
        |fin AS (
        |  SELECT t, d, c, n_risk,
        |    SUM(tm) OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
        |    MAX(CASE WHEN d > 0 AND n_risk = d THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM term)
        |SELECT t AS t_days, CAST(d AS BIGINT) AS n_churn,
        |  CAST(c AS BIGINT) AS n_censored,
        |  CAST(n_risk AS BIGINT) AS n_risk,
        |  CASE WHEN dead = 1 THEN 0 ELSE
        |    CAST(FLOOR(1000000.0 * exp(CAST(ls AS DOUBLE) / 1000000.0))
        |      AS BIGINT) END AS s_micro
        |FROM fin""".stripMargin,
    "ev53_engagement_gini" ->
      """WITH n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
        |           FROM events GROUP BY 1),
        |r AS (SELECT x,
        |        ROW_NUMBER() OVER (ORDER BY x, user_id) AS rn FROM n)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(x) AS BIGINT) AS total,
        |  CAST(2 * SUM(rn * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE) /
        |    CAST(COUNT(*) * SUM(x) AS DOUBLE) AS gini
        |FROM r""".stripMargin,
    "dq6_finite_values_audit" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nan,
        |  CAST(SUM(CASE WHEN value = 'infinity'::DOUBLE
        |    OR value = '-infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inf,
        |  CAST(SUM(CASE WHEN NOT isnan(value)
        |    AND value <> 'infinity'::DOUBLE AND value <> '-infinity'::DOUBLE
        |    AND abs(value) > 1e15
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_absurd,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  CAST(CASE WHEN SUM(CASE WHEN isnan(value) THEN 1 ELSE 0 END) +
        |    SUM(CASE WHEN value = 'infinity'::DOUBLE
        |      OR value = '-infinity'::DOUBLE THEN 1 ELSE 0 END) +
        |    SUM(CASE WHEN NOT isnan(value)
        |      AND value <> 'infinity'::DOUBLE
        |      AND value <> '-infinity'::DOUBLE AND abs(value) > 1e15
        |      THEN 1 ELSE 0 END) +
        |    SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
        |  THEN 1 ELSE 0 END AS BIGINT) AS clean
        |FROM events GROUP BY 1""".stripMargin,
    "dq5_freshness_audit" ->
      """WITH per AS (
        |  SELECT event_type, COUNT(*) AS n_events,
        |    MAX(epoch_us(ts)) AS max_ts
        |  FROM events GROUP BY 1),
        |c AS (SELECT MAX(max_ts) AS corpus_max FROM per)
        |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
        |  CAST((corpus_max - max_ts) // 3600000000 AS BIGINT) AS lag_hours,
        |  CAST(CASE WHEN corpus_max - max_ts <= 86400000000 THEN 1 ELSE 0
        |    END AS BIGINT) AS fresh_24h
        |FROM per CROSS JOIN c""".stripMargin,
    "ts15_online_anomaly" ->
      s"""WITH $dailySql,
        |fr AS (
        |  SELECT event_type, day, n,
        |    COUNT(*) OVER tw AS n_prior,
        |    SUM(CAST(n AS HUGEINT)) OVER tw AS s1,
        |    SUM(CAST(n AS HUGEINT) * n) OVER tw AS s2
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n, CAST(n_prior AS BIGINT) AS n_prior,
        |  CAST(CASE WHEN n_prior >= 3 AND
        |    4 * (CAST(n AS HUGEINT) * n_prior - s1)
        |      * (CAST(n AS HUGEINT) * n_prior - s1)
        |    > 25 * (n_prior * s2 - s1 * s1)
        |  THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM fr""".stripMargin,
    "ts1_anomaly" ->
      s"""WITH $dailySql,
        |fr AS (
        |  SELECT event_type, day, n,
        |    COUNT(*) OVER tw AS cnt_w,
        |    SUM(CAST(n AS HUGEINT)) OVER tw AS s1,
        |    SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) OVER tw AS s2
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, day, n,
        |    CASE WHEN cnt_w > 1 AND
        |      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(cnt_w AS DOUBLE)) / CAST(cnt_w - 1 AS DOUBLE) > 0
        |    THEN (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) /
        |        CAST(cnt_w AS DOUBLE)) /
        |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |        CAST(s1 AS DOUBLE) / CAST(cnt_w AS DOUBLE)) /
        |        CAST(cnt_w - 1 AS DOUBLE))
        |    END AS z
        |  FROM fr)
        |SELECT event_type, day, n, z,
        |  CASE WHEN z IS NOT NULL THEN CAST(abs(z) > 3.0e0 AS BIGINT)
        |  END AS is_anomaly
        |FROM z""".stripMargin,
    "ts4_autocorr" ->
      s"""WITH $dailySql,
        |pairs AS (
        |  SELECT event_type, n AS b,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS a
        |  FROM daily),
        |s AS (
        |  SELECT event_type, COUNT(*) AS m,
        |    CAST(SUM(CAST(a AS HUGEINT)) AS BIGINT) AS sa,
        |    CAST(SUM(CAST(b AS HUGEINT)) AS BIGINT) AS sb,
        |    CAST(SUM(CAST(a AS HUGEINT) * b) AS BIGINT) AS sab,
        |    CAST(SUM(CAST(a AS HUGEINT) * a) AS BIGINT) AS saa,
        |    CAST(SUM(CAST(b AS HUGEINT) * b) AS BIGINT) AS sbb
        |  FROM pairs WHERE a IS NOT NULL GROUP BY 1)
        |SELECT event_type, m, sa, sb, sab, saa, sbb,
        |  CASE WHEN (m * saa - sa * sa) > 0 AND (m * sbb - sb * sb) > 0
        |    THEN CAST(m * sab - sa * sb AS DOUBLE) /
        |      (sqrt(CAST(m * saa - sa * sa AS DOUBLE)) *
        |       sqrt(CAST(m * sbb - sb * sb AS DOUBLE)))
        |  END AS acf1
        |FROM s""".stripMargin,

    "ts20_pacf" ->
      s"""WITH $dailySql,
        |lagged AS (
        |  SELECT event_type, n,
        |    LAG(n, 1) OVER w AS l1, LAG(n, 2) OVER w AS l2,
        |    LAG(n, 3) OVER w AS l3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |st AS (
        |  SELECT event_type, COUNT(*) AS t,
        |    SUM(CAST(n AS HUGEINT)) AS s, SUM(CAST(n AS HUGEINT)*n) AS ss,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(n AS HUGEINT)*l1 END) AS c1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a1,
        |    SUM(CAST(l1 AS HUGEINT)) AS b1,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(n AS HUGEINT)*l2 END) AS c2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a2,
        |    SUM(CAST(l2 AS HUGEINT)) AS b2,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(n AS HUGEINT)*l3 END) AS c3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a3,
        |    SUM(CAST(l3 AS HUGEINT)) AS b3
        |  FROM lagged GROUP BY 1),
        |r AS (
        |  SELECT event_type, t,
        |    CASE WHEN t > 1 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c1
        |          - CAST(t AS HUGEINT)*s*(a1+b1) + (t-1)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r1,
        |    CASE WHEN t > 2 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c2
        |          - CAST(t AS HUGEINT)*s*(a2+b2) + (t-2)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r2,
        |    CASE WHEN t > 3 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c3
        |          - CAST(t AS HUGEINT)*s*(a3+b3) + (t-3)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r3
        |  FROM st),
        |p2 AS (SELECT *, 1.0 - r1*r1 AS d2 FROM r),
        |p3 AS (SELECT *,
        |    CASE WHEN d2 <> 0 THEN (r2 - r1*r1)/d2 END AS phi22 FROM p2),
        |p4 AS (SELECT *, r1*(1.0 - phi22) AS phi21 FROM p3),
        |p5 AS (SELECT *, 1.0 - phi21*r1 - phi22*r2 AS d3 FROM p4)
        |SELECT event_type, t, r1, r2, r3, r1 AS pacf1, phi22 AS pacf2,
        |  CASE WHEN d3 <> 0 THEN (r3 - phi21*r2 - phi22*r1)/d3 END
        |    AS pacf3
        |FROM p5""".stripMargin,

    "ts22_ljung_box" ->
      s"""WITH $dailySql,
        |lagged AS (
        |  SELECT event_type, n,
        |    LAG(n, 1) OVER w AS l1, LAG(n, 2) OVER w AS l2,
        |    LAG(n, 3) OVER w AS l3, LAG(n, 4) OVER w AS l4,
        |    LAG(n, 5) OVER w AS l5
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |st AS (
        |  SELECT event_type, COUNT(*) AS t,
        |    SUM(CAST(n AS HUGEINT)) AS s, SUM(CAST(n AS HUGEINT)*n) AS ss,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(n AS HUGEINT)*l1 END) AS c1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a1,
        |    SUM(CAST(l1 AS HUGEINT)) AS b1,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(n AS HUGEINT)*l2 END) AS c2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a2,
        |    SUM(CAST(l2 AS HUGEINT)) AS b2,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(n AS HUGEINT)*l3 END) AS c3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a3,
        |    SUM(CAST(l3 AS HUGEINT)) AS b3,
        |    SUM(CASE WHEN l4 IS NOT NULL THEN CAST(n AS HUGEINT)*l4 END) AS c4,
        |    SUM(CASE WHEN l4 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a4,
        |    SUM(CAST(l4 AS HUGEINT)) AS b4,
        |    SUM(CASE WHEN l5 IS NOT NULL THEN CAST(n AS HUGEINT)*l5 END) AS c5,
        |    SUM(CASE WHEN l5 IS NOT NULL THEN CAST(n AS HUGEINT) END) AS a5,
        |    SUM(CAST(l5 AS HUGEINT)) AS b5
        |  FROM lagged GROUP BY 1),
        |r AS (
        |  SELECT event_type, t,
        |    CASE WHEN t > 1 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c1
        |          - CAST(t AS HUGEINT)*s*(a1+b1) + (t-1)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r1,
        |    CASE WHEN t > 2 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c2
        |          - CAST(t AS HUGEINT)*s*(a2+b2) + (t-2)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r2,
        |    CASE WHEN t > 3 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c3
        |          - CAST(t AS HUGEINT)*s*(a3+b3) + (t-3)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r3,
        |    CASE WHEN t > 4 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c4
        |          - CAST(t AS HUGEINT)*s*(a4+b4) + (t-4)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r4,
        |    CASE WHEN t > 5 AND
        |        (CAST(t AS HUGEINT)*t*ss - CAST(t AS HUGEINT)*s*s) > 0
        |      THEN CAST(CAST(t AS HUGEINT)*t*c5
        |          - CAST(t AS HUGEINT)*s*(a5+b5) + (t-5)*s*s AS DOUBLE) /
        |        CAST(CAST(t AS HUGEINT)*t*ss
        |          - CAST(t AS HUGEINT)*s*s AS DOUBLE) END AS r5
        |  FROM st),
        |q AS (
        |  SELECT event_type, t,
        |    CAST((CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN r2 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN r3 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN r4 IS NOT NULL THEN 1 ELSE 0 END) +
        |      (CASE WHEN r5 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k_used,
        |    COALESCE(CAST(FLOOR(r1*r1/CAST(t-1 AS DOUBLE)*1e12) AS BIGINT), 0) +
        |    COALESCE(CAST(FLOOR(r2*r2/CAST(t-2 AS DOUBLE)*1e12) AS BIGINT), 0) +
        |    COALESCE(CAST(FLOOR(r3*r3/CAST(t-3 AS DOUBLE)*1e12) AS BIGINT), 0) +
        |    COALESCE(CAST(FLOOR(r4*r4/CAST(t-4 AS DOUBLE)*1e12) AS BIGINT), 0) +
        |    COALESCE(CAST(FLOOR(r5*r5/CAST(t-5 AS DOUBLE)*1e12) AS BIGINT), 0)
        |      AS qsum
        |  FROM r)
        |SELECT event_type, t, k_used,
        |  CASE WHEN k_used > 0 THEN
        |    CAST(CAST(t AS HUGEINT) * (t + 2) AS DOUBLE) *
        |      (CAST(qsum AS DOUBLE) / 1e12) END AS q_stat,
        |  COALESCE(CASE WHEN k_used = 5 THEN
        |    CAST(CAST(t AS HUGEINT) * (t + 2) AS DOUBLE) *
        |      (CAST(qsum AS DOUBLE) / 1e12) > 11.0705 END, FALSE)
        |    AS reject_5pct
        |FROM q""".stripMargin,

    "ev58_dispersion_test" ->
      s"""WITH $dailySql,
        |st AS (SELECT event_type, COUNT(*) AS days,
        |    SUM(CAST(n AS HUGEINT)) AS sx,
        |    SUM(CAST(n AS HUGEINT) * n) AS sxx
        |  FROM daily GROUP BY 1),
        |d AS (SELECT event_type, days,
        |    CASE WHEN days > 1 AND sx > 0 THEN
        |      CAST(days * sxx - sx * sx AS DOUBLE) / CAST(sx AS DOUBLE)
        |    END AS d_stat
        |  FROM st),
        |z AS (SELECT event_type, days, d_stat,
        |    CASE WHEN d_stat IS NOT NULL AND days > 1 THEN
        |      sqrt(2.0e0 * d_stat) -
        |      sqrt(2.0e0 * CAST(days - 1 AS DOUBLE) - 1.0e0) END AS z
        |  FROM d)
        |SELECT event_type, CAST(days AS BIGINT) AS days, d_stat, z,
        |  COALESCE(z > 1.96e0, FALSE) AS overdispersed
        |FROM z""".stripMargin,

    "ts23_granger" ->
      """WITH daily AS (
        |  SELECT (epoch_us(ts) // 86400000000) AS day,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS b
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |lagged AS (SELECT a, b,
        |    LAG(a) OVER (ORDER BY day) AS a1,
        |    LAG(b) OVER (ORDER BY day) AS b1
        |  FROM daily),
        |l2 AS (SELECT * FROM lagged WHERE a1 IS NOT NULL),
        |st AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
        |    SUM(CAST(a1 AS HUGEINT)) AS sa1,
        |    SUM(CAST(b1 AS HUGEINT)) AS sb1,
        |    SUM(CAST(a1 AS HUGEINT) * a1) AS sa1a1,
        |    SUM(CAST(b1 AS HUGEINT) * b1) AS sb1b1,
        |    SUM(CAST(a1 AS HUGEINT) * b1) AS sa1b1,
        |    SUM(CAST(a1 AS HUGEINT) * a) AS sa1a,
        |    SUM(CAST(a1 AS HUGEINT) * b) AS sa1b,
        |    SUM(CAST(b1 AS HUGEINT) * a) AS sb1a,
        |    SUM(CAST(b1 AS HUGEINT) * b) AS sb1b,
        |    SUM(CAST(a AS HUGEINT) * a) AS saa,
        |    SUM(CAST(b AS HUGEINT) * b) AS sbb
        |  FROM l2),
        |cs AS (SELECT n,
        |    CAST(n * sbb - sb * sb AS DOUBLE) AS cbb,
        |    CAST(n * sb1b1 - sb1 * sb1 AS DOUBLE) AS cb1b1,
        |    CAST(n * sa1b1 - sa1 * sb1 AS DOUBLE) AS ca1b1,
        |    CAST(n * sa1a1 - sa1 * sa1 AS DOUBLE) AS ca1a1,
        |    CAST(n * sb1b - sb1 * sb AS DOUBLE) AS cb1b,
        |    CAST(n * sa1b - sa1 * sb AS DOUBLE) AS ca1b,
        |    CAST(n * saa - sa * sa AS DOUBLE) AS caa,
        |    CAST(n * sa1a - sa1 * sa AS DOUBLE) AS ca1a,
        |    CAST(n * sb1a - sb1 * sa AS DOUBLE) AS cb1a
        |  FROM st),
        |g AS (SELECT *,
        |    cb1b1 * ca1a1 - ca1b1 * ca1b1 AS det1,
        |    ca1a1 * cb1b1 - ca1b1 * ca1b1 AS det2
        |  FROM cs),
        |h AS (SELECT *,
        |    (cb1b * ca1a1 - ca1b * ca1b1) / det1 AS b1_1,
        |    (ca1b * cb1b1 - cb1b * ca1b1) / det1 AS b2_1,
        |    (ca1a * cb1b1 - cb1a * ca1b1) / det2 AS b1_2,
        |    (cb1a * ca1a1 - ca1a * ca1b1) / det2 AS b2_2
        |  FROM g),
        |i AS (SELECT *,
        |    cbb - b1_1 * cb1b - b2_1 * ca1b AS rssu1,
        |    cbb - cb1b * cb1b / cb1b1 AS rssr1,
        |    caa - b1_2 * ca1a - b2_2 * cb1a AS rssu2,
        |    caa - ca1a * ca1a / ca1a1 AS rssr2
        |  FROM h)
        |SELECT n,
        |  CASE WHEN n > 3 AND det1 <> 0 AND cb1b1 <> 0 AND rssu1 > 0
        |    THEN (rssr1 - rssu1) / (rssu1 / CAST(n - 3 AS DOUBLE)) END
        |    AS f_click_to_purchase,
        |  CASE WHEN n > 3 AND det2 <> 0 AND ca1a1 <> 0 AND rssu2 > 0
        |    THEN (rssr2 - rssu2) / (rssu2 / CAST(n - 3 AS DOUBLE)) END
        |    AS f_purchase_to_click
        |FROM i""".stripMargin,

    "ts21_mann_kendall" ->
      s"""WITH $dailySql,
        |d2 AS (SELECT event_type, day, day % 7 AS dow, n FROM daily),
        |s AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.n > a.n THEN 1
        |                  WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT)
        |      AS s_stat
        |  FROM d2 a JOIN d2 b ON a.event_type = b.event_type
        |    AND a.dow = b.dow AND a.day < b.day
        |  GROUP BY 1),
        |seas AS (
        |  SELECT event_type,
        |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vt
        |  FROM (SELECT event_type, dow, COUNT(*) AS t FROM d2
        |        GROUP BY 1, 2) GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    CAST(SUM(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT) AS vtie
        |  FROM (SELECT event_type, dow, n, COUNT(*) AS tj FROM d2
        |        GROUP BY 1, 2, 3) GROUP BY 1),
        |fin AS (
        |  SELECT s.event_type, s_stat, vt - vtie AS var18
        |  FROM s JOIN seas ON s.event_type = seas.event_type
        |    JOIN ties ON s.event_type = ties.event_type),
        |wz AS (
        |  SELECT event_type, s_stat, var18,
        |    CASE WHEN var18 > 0 THEN
        |      (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |            WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |            ELSE 0.0e0 END) /
        |      sqrt(CAST(var18 AS DOUBLE) / 18.0e0) END AS z
        |  FROM fin)
        |SELECT event_type, s_stat, var18, z,
        |  COALESCE(CASE WHEN z > 1.96e0 THEN 'increasing'
        |                WHEN z < -1.96e0 THEN 'decreasing'
        |                ELSE 'none' END, 'none') AS trend
        |FROM wz""".stripMargin,

    "ts5_dow_profile" ->
      s"""WITH $dailySql,
        |prof AS (
        |  SELECT event_type, day % 7 AS dow, COUNT(*) AS m,
        |    CAST(SUM(CAST(n AS HUGEINT)) AS BIGINT) AS s
        |  FROM daily GROUP BY 1, 2)
        |SELECT d.event_type, d.day, d.n,
        |  CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE) AS dow_mean,
        |  CAST(d.n AS DOUBLE) - CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE)
        |    AS residual
        |FROM daily d JOIN prof p
        |  ON d.event_type = p.event_type AND d.day % 7 = p.dow""".stripMargin,
    "ev20_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
        |      OR LAG(epoch_us(ts), 1) OVER w IS NULL
        |      THEN 1 ELSE 0 END AS is_new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    CAST(SUM(is_new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM flagged),
        |pth AS (
        |  SELECT user_id, session_seq,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM sess GROUP BY user_id, session_seq)
        |SELECT path, COUNT(*) AS n FROM pth GROUP BY path
        |ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "ev19_rfm" ->
      """WITH rfm AS (
        |  SELECT user_id,
        |    MAX(epoch_us(ts) // 86400000000) AS r_day,
        |    COUNT(*) AS f_cnt,
        |    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS m_cents
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT COUNT(*) AS n FROM rfm),
        |rk AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY r_day, user_id) AS rn_r,
        |    ROW_NUMBER() OVER (ORDER BY f_cnt, user_id) AS rn_f,
        |    ROW_NUMBER() OVER (ORDER BY m_cents, user_id) AS rn_m
        |  FROM rfm)
        |SELECT user_id, r_day, f_cnt, m_cents,
        |  ((rn_r - 1) * 4) // nn.n + 1 AS r_q,
        |  ((rn_f - 1) * 4) // nn.n + 1 AS f_q,
        |  ((rn_m - 1) * 4) // nn.n + 1 AS m_q,
        |  (((rn_r - 1) * 4) // nn.n + 1) * 100 +
        |  (((rn_f - 1) * 4) // nn.n + 1) * 10 +
        |  (((rn_m - 1) * 4) // nn.n + 1) AS segment
        |FROM rk CROSS JOIN nn""".stripMargin,
    "ev18_streaks" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM ud),
        |runs AS (SELECT user_id, grp, COUNT(*) AS len
        |         FROM isl GROUP BY 1, 2)
        |SELECT user_id, MAX(len) AS longest_streak,
        |  COUNT(*) AS n_streaks
        |FROM runs GROUP BY user_id""".stripMargin,
    "ev15_conversion_lag" ->
      """WITH su AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS signup_us FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT s.user_id, s.signup_us,
        |    MIN(epoch_us(e.ts)) AS first_purchase_us
        |  FROM su s LEFT JOIN events e
        |    ON e.user_id = s.user_id AND e.event_type = 'purchase'
        |       AND epoch_us(e.ts) >= s.signup_us
        |  GROUP BY s.user_id, s.signup_us)
        |SELECT user_id, signup_us,
        |  first_purchase_us - signup_us AS lag_us,
        |  CASE WHEN first_purchase_us IS NULL THEN CAST(0 AS BIGINT)
        |       ELSE 1 END AS converted
        |FROM pu""".stripMargin,
    "ts6_changepoint" ->
      s"""WITH $dailySql,
        |st AS (
        |  SELECT event_type, COUNT(*) AS m,
        |    CAST(SUM(CAST(n AS HUGEINT)) AS BIGINT) AS t
        |  FROM daily GROUP BY 1),
        |cs AS (
        |  SELECT d.event_type, d.day, d.n,
        |    CAST(SUM(d.n * s.m - s.t) OVER (
        |      PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s_scaled
        |  FROM daily d JOIN st s ON d.event_type = s.event_type)
        |SELECT event_type, day, n, s_scaled,
        |  CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY abs(s_scaled) DESC, day ASC) = 1
        |    THEN CAST(1 AS BIGINT) ELSE 0 END AS is_changepoint
        |FROM cs""".stripMargin,
    "ev13_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) AS day
        |  FROM events WHERE event_type = 'purchase'),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT d.day, COUNT(DISTINCT u.user_id) AS users_7d
        |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin,
    "ev14_hll_sliding" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) AS day
        |  FROM events WHERE event_type = 'purchase'),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT d.day, COUNT(DISTINCT u.user_id) AS users_7d,
        |  TRUE AS hll_within_10pct
        |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin,
    "ts19_holt_winters" ->
      s"""WITH RECURSIVE $dailySql,
        |seq AS (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS rn
        |  FROM daily),
        |h(event_type, day, n, rn, l, b, f, s) AS (
        |  SELECT event_type, day, n, rn, n * 1000000,
        |    CAST(0 AS BIGINT), n * 1000000,
        |    CAST([0, 0, 0, 0, 0, 0, 0] AS BIGINT[])
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT q.event_type, q.day, q.n, q.rn,
        |    CAST(FLOOR(((q.n * 1000000 - h.s[1]) + (h.l + h.b)) / 2.0)
        |      AS BIGINT),
        |    CAST(FLOOR(((CAST(FLOOR(((q.n * 1000000 - h.s[1])
        |        + (h.l + h.b)) / 2.0) AS BIGINT) - h.l) + h.b) / 2.0)
        |      AS BIGINT),
        |    h.l + h.b + h.s[1],
        |    list_append(h.s[2:7],
        |      CAST(FLOOR(((q.n * 1000000
        |        - CAST(FLOOR(((q.n * 1000000 - h.s[1]) + (h.l + h.b))
        |            / 2.0) AS BIGINT)) + h.s[1]) / 2.0) AS BIGINT))
        |  FROM seq q JOIN h ON q.event_type = h.event_type
        |    AND q.rn = h.rn + 1)
        |SELECT event_type, day, n, l AS level_micro, b AS trend_micro,
        |  f AS forecast_micro FROM h""".stripMargin,
    "ts7_holt" ->
      s"""WITH RECURSIVE $dailySql,
        |seq AS (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |h(event_type, day, n, rn, l, b) AS (
        |  SELECT event_type, day, n, rn, n * 1000000, CAST(0 AS BIGINT)
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT q.event_type, q.day, q.n, q.rn,
        |    (q.n * 1000000 + h.l + h.b) // 2,
        |    (((q.n * 1000000 + h.l + h.b) // 2 - h.l) + h.b) // 2
        |  FROM seq q JOIN h ON q.event_type = h.event_type
        |    AND q.rn = h.rn + 1)
        |SELECT event_type, day, n, l AS level_micro, b AS trend_micro,
        |  l + b AS forecast_micro FROM h""".stripMargin,
    "ev21_linear_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS t_id, user_id, event_type,
        |    epoch_us(ts) AS t_ts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |pairs AS (
        |  SELECT p.p_id, p.cents, t.t_id, t.event_type, t.t_ts
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - 604800000000),
        |nt AS (SELECT p_id, COUNT(*) AS n_touch FROM pairs GROUP BY p_id),
        |credit AS (
        |  SELECT pr.p_id, pr.t_id, pr.event_type,
        |    pr.cents // nt.n_touch +
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY pr.p_id
        |      ORDER BY pr.t_ts, pr.t_id) = 1
        |      THEN pr.cents % nt.n_touch ELSE 0 END AS credit_cents
        |  FROM pairs pr JOIN nt USING (p_id))
        |SELECT event_type, CAST(SUM(credit_cents) AS BIGINT) AS cents,
        |  COUNT(*) AS n_touches
        |FROM credit GROUP BY event_type""".stripMargin,
    "ev29_position_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS t_id, user_id, event_type,
        |    epoch_us(ts) AS t_ts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |pairs AS (
        |  SELECT p.p_id, p.cents, t.t_id, t.event_type, t.t_ts
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - 604800000000),
        |nt AS (SELECT p_id, COUNT(*) AS n_touch FROM pairs GROUP BY p_id),
        |rk AS (
        |  SELECT pr.p_id, pr.t_id, pr.event_type, pr.cents, nt.n_touch,
        |    ROW_NUMBER() OVER (PARTITION BY pr.p_id
        |      ORDER BY pr.t_ts, pr.t_id) AS rk,
        |    pr.cents * 2 // 5 AS c40,
        |    pr.cents - 2 * (pr.cents * 2 // 5) AS rem
        |  FROM pairs pr JOIN nt USING (p_id)),
        |credit AS (
        |  SELECT event_type,
        |    CASE WHEN n_touch = 1 THEN cents
        |         WHEN rk = 1 THEN c40
        |         WHEN rk = n_touch AND n_touch = 2 THEN cents - c40
        |         WHEN rk = n_touch THEN c40
        |         ELSE rem // (n_touch - 2) +
        |           CASE WHEN rk = 2 THEN rem % (n_touch - 2) ELSE 0 END
        |    END AS credit_cents
        |  FROM rk)
        |SELECT event_type, CAST(SUM(credit_cents) AS BIGINT) AS cents,
        |  COUNT(*) AS n_touches
        |FROM credit GROUP BY event_type""".stripMargin,
    "ev30_gap_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS g
        |  FROM events),
        |st AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(g) AS HUGEINT) AS sg,
        |    SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sgg
        |  FROM g WHERE g IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n, CAST(sg // n AS BIGINT) AS mean_gap_us,
        |  CAST(n * sgg - sg * sg AS DOUBLE) /
        |    CAST(sg * sg AS DOUBLE) AS cv2
        |FROM st WHERE n >= 2 AND sg > 0""".stripMargin,
    "ts3_ewma" ->
      s"""WITH RECURSIVE $dailySql,
        |seq AS (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |ew(event_type, day, n, rn, s) AS (
        |  SELECT event_type, day, n, rn, n * 1000000 FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT q.event_type, q.day, q.n, q.rn, (q.n * 1000000 + e.s) // 2
        |  FROM seq q JOIN ew e
        |    ON q.event_type = e.event_type AND q.rn = e.rn + 1)
        |SELECT event_type, day, n, s AS ewma_micro FROM ew""".stripMargin,
    "ts2_gap_fill" ->
      """WITH sparse AS (
        |  SELECT * FROM (
        |    SELECT event_type, (epoch_us(ts) // 86400000000) AS day,
        |      COUNT(*) AS n
        |    FROM events GROUP BY 1, 2) t WHERE (day % 3) <> 0),
        |bounds AS (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
        |           FROM sparse GROUP BY event_type),
        |dense AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day
        |          FROM bounds)
        |SELECT d.event_type, d.day,
        |  last_value(s.n IGNORE NULLS) OVER (PARTITION BY d.event_type
        |    ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled,
        |  CAST(s.n IS NULL AS BIGINT) AS is_synthetic
        |FROM dense d LEFT JOIN sparse s
        |  ON d.event_type = s.event_type AND d.day = s.day""".stripMargin,
    "ev16_markov_anomaly" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |sq AS (SELECT user_id, prev_type, event_type FROM seq
        |       WHERE prev_type IS NOT NULL),
        |cnt AS (SELECT prev_type, event_type, COUNT(*) AS n
        |        FROM sq GROUP BY 1, 2),
        |tr AS (
        |  SELECT prev_type, event_type,
        |    CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type)
        |         AS BIGINT) AS p_micro
        |  FROM cnt)
        |SELECT s.user_id, COUNT(*) AS n_transitions,
        |  CAST(SUM(CAST(floor(ln(CAST(t.p_micro AS DOUBLE)) * 1000000)
        |    AS BIGINT)) AS BIGINT) AS loglik_micro
        |FROM sq s JOIN tr t ON s.prev_type = t.prev_type
        |                   AND s.event_type = t.event_type
        |GROUP BY s.user_id""".stripMargin,
    "ev17_motifs" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type, 2) OVER w AS t1,
        |    lag(event_type, 1) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1, t2, event_type AS t3, COUNT(*) AS n
        |FROM seq WHERE t1 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 20""".stripMargin,
    "ev57_retention_halflife" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000) AS day
        |  FROM events),
        |fst AS (SELECT user_id, MIN(day) AS cohort_day FROM d
        |        GROUP BY 1),
        |byk AS (SELECT (day - cohort_day) // 7 AS k,
        |    COUNT(DISTINCT d.user_id) AS n
        |  FROM d JOIN fst ON d.user_id = fst.user_id GROUP BY 1),
        |base AS (SELECT n AS n0 FROM byk WHERE k = 0),
        |pts AS (SELECT k,
        |    CAST(FLOOR(ln(CAST(n AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS y_nano
        |  FROM byk CROSS JOIN base WHERE n > 0 AND n0 > 0),
        |st AS (SELECT COUNT(*) AS m,
        |    SUM(CAST(k AS HUGEINT)) AS sx,
        |    SUM(CAST(y_nano AS HUGEINT)) AS sy,
        |    SUM(CAST(k AS HUGEINT) * y_nano) AS sxy,
        |    SUM(CAST(k AS HUGEINT) * k) AS sxx
        |  FROM pts),
        |fit AS (SELECT m,
        |    CASE WHEN m > 1 AND
        |        CAST(m * sxx - sx * sx AS DOUBLE) <> 0 THEN
        |      -(CAST(m * sxy - sx * sy AS DOUBLE) /
        |        CAST(m * sxx - sx * sx AS DOUBLE) / 1e9) END AS lambda
        |  FROM st)
        |SELECT CAST(m AS BIGINT) AS n_weeks, lambda,
        |  CASE WHEN lambda > 0 THEN 0.6931471805599453e0 / lambda END
        |    AS half_life_weeks
        |FROM fit""".stripMargin,

    "ev56_markov_stationary" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |tr AS (SELECT prev AS i, event_type AS j, COUNT(*) AS c
        |       FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT i, CAST(SUM(c) AS BIGINT) AS ct FROM tr
        |       GROUP BY 1),
        |pm AS (SELECT tr.i, tr.j,
        |    CAST(c * 1000000 // ct AS BIGINT) AS p_micro
        |  FROM tr JOIN rt ON tr.i = rt.i),
        |st AS (SELECT DISTINCT i AS t FROM pm),
        |kk AS (SELECT COUNT(*) AS k FROM st),
        |pi0 AS (SELECT t, CAST(1000000 // k AS BIGINT) AS pi
        |        FROM st CROSS JOIN kk),
        |pi1 AS (SELECT j AS t,
        |    CAST(SUM(pv * p_micro) // 1000000 AS BIGINT) AS pi FROM (
        |    SELECT pm.j, pi0.pi AS pv, pm.p_micro
        |    FROM pm JOIN pi0 ON pm.i = pi0.t) z GROUP BY 1),
        |pi2 AS (SELECT j AS t,
        |    CAST(SUM(pv * p_micro) // 1000000 AS BIGINT) AS pi FROM (
        |    SELECT pm.j, pi1.pi AS pv, pm.p_micro
        |    FROM pm JOIN pi1 ON pm.i = pi1.t) z GROUP BY 1),
        |pi3 AS (SELECT j AS t,
        |    CAST(SUM(pv * p_micro) // 1000000 AS BIGINT) AS pi FROM (
        |    SELECT pm.j, pi2.pi AS pv, pm.p_micro
        |    FROM pm JOIN pi2 ON pm.i = pi2.t) z GROUP BY 1)
        |SELECT pi3.t AS event_type, pi3.pi AS pi_micro,
        |  abs(pi3.pi - COALESCE(pi2.pi, 0)) AS mixing_residual_micro
        |FROM pi3 LEFT JOIN pi2 ON pi3.t = pi2.t""".stripMargin,
    "ev12_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |cnt AS (SELECT prev_type, event_type, COUNT(*) AS n
        |        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type)
        |       AS BIGINT) AS p_micro
        |FROM cnt""".stripMargin,
    "ev5_interval_fullouter" ->
      """WITH v AS (
        |  SELECT user_id AS v_user, epoch_us(ts) AS view_us, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id AS c_user, epoch_us(ts) AS click_us, event_id AS click_id
        |  FROM events WHERE event_type = 'click')
        |SELECT COALESCE(v_user, c_user) AS user_id,
        |  view_id, view_us, click_id, click_us
        |FROM v FULL OUTER JOIN c
        |  ON v_user = c_user AND click_us >= view_us
        |  AND click_us <= view_us + 1800000000""".stripMargin,
    "j3_interval_bucket_join" ->
      """WITH i AS (
        |  SELECT event_id AS incident_id, user_id AS i_user,
        |    epoch_us(ts) AS lo_us, epoch_us(ts) + 7200000000 AS hi_us
        |  FROM events WHERE event_type = 'error')
        |SELECT incident_id, COUNT(*) AS n_events
        |FROM events e JOIN i ON e.user_id = i.i_user
        |  AND epoch_us(e.ts) >= lo_us AND epoch_us(e.ts) <= hi_us
        |GROUP BY incident_id""".stripMargin,
    "d27_theta_algebra" ->
      """WITH v AS (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT DISTINCT user_id FROM events
        |      WHERE event_type = 'purchase')
        |SELECT
        |  (SELECT COUNT(*) FROM v JOIN p USING (user_id)) AS exact_both,
        |  (SELECT COUNT(*) FROM v WHERE user_id NOT IN
        |    (SELECT user_id FROM p)) AS exact_view_only,
        |  TRUE AS both_within_2pct,
        |  TRUE AS view_only_within_2pct""".stripMargin,
    "ev24_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
        |        FROM ud GROUP BY day),
        |f AS (
        |  SELECT user_id, day + o AS day
        |  FROM ud, unnest(generate_series(0, 6)) AS t(o)),
        |wau AS (
        |  SELECT f.day, COUNT(DISTINCT user_id) AS wau
        |  FROM f JOIN days USING (day) GROUP BY f.day)
        |SELECT dau.day, dau.dau, wau.wau,
        |  CAST((dau * 1000000) // wau AS BIGINT) AS stickiness_micro
        |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,
    "ev23_windowed_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts_us > t1
        |        AND ts_us <= t1 + 86400000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_us > t2
        |        AND ts_us <= t2 + 604800000000 GROUP BY e.user_id)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL SELECT '2_click_1d', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase_7d', COUNT(*) FROM p""".stripMargin,
    "ev8_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |v AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*) FROM p""".stripMargin,
    "ev25_cohort_ltv" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
        |w AS (
        |  SELECT f.cohort_day, (d.day - f.cohort_day) // 7 AS week_offset,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM d JOIN f USING (user_id)
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort_day, week_offset, cents,
        |  CAST(SUM(cents) OVER (PARTITION BY cohort_day ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents
        |FROM w""".stripMargin,
    "ev9_retention" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, day FROM d)
        |SELECT f.cohort_day, (a.day - f.cohort_day) // 7 AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "ev3_type_counts" ->
      s"""SELECT user_id,
         |COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
         |COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         |COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
         |COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
         |${Det.sqlMoneySum("value")} AS total_value
         |FROM events GROUP BY user_id""".stripMargin,
    "ts16_stl_strength" ->
      s"""WITH $trendSql,
        |dt AS (SELECT event_type, day, n,
        |         n * 1000000 - trend_micro AS det FROM tr),
        |se AS (SELECT event_type, day % 7 AS dow,
        |         (SUM(det) // COUNT(*)) AS seasonal_micro
        |       FROM dt GROUP BY 1, 2),
        |r AS (SELECT dt.event_type,
        |        CAST(dt.det - se.seasonal_micro AS BIGINT) AS resid_micro,
        |        CAST(dt.det AS BIGINT) AS det
        |      FROM dt JOIN se
        |        ON dt.event_type = se.event_type AND dt.day % 7 = se.dow),
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
        |         CAST(SUM(resid_micro) AS HUGEINT) AS sr,
        |         SUM(CAST(resid_micro AS HUGEINT) * resid_micro) AS srr,
        |         CAST(SUM(det) AS HUGEINT) AS sd,
        |         SUM(CAST(det AS HUGEINT) * det) AS sdd
        |       FROM r GROUP BY 1)
        |SELECT event_type, m,
        |  CASE WHEN m * sdd - sd * sd > 0 THEN
        |    greatest(0.0, 1.0 - CAST(m * srr - sr * sr AS DOUBLE) /
        |      CAST(m * sdd - sd * sd AS DOUBLE))
        |  END AS seasonal_strength
        |FROM st""".stripMargin,
    "ts8_stl_decompose" ->
      s"""WITH $trendSql,
        |dt AS (SELECT event_type, day, n, trend_micro,
        |         n * 1000000 - trend_micro AS det FROM tr),
        |se AS (SELECT event_type, day % 7 AS dow,
        |         (SUM(det) // COUNT(*)) AS seasonal_micro
        |       FROM dt GROUP BY 1, 2)
        |SELECT dt.event_type, dt.day, CAST(dt.n AS BIGINT) AS n,
        |  CAST(dt.trend_micro AS BIGINT) AS trend_micro,
        |  CAST(se.seasonal_micro AS BIGINT) AS seasonal_micro,
        |  CAST(dt.det - se.seasonal_micro AS BIGINT) AS resid_micro
        |FROM dt JOIN se
        |  ON dt.event_type = se.event_type AND dt.day % 7 = se.dow""".stripMargin,
    "ts9_stl_anomaly" ->
      s"""WITH $trendSql,
        |dt AS (SELECT event_type, day, n,
        |         n * 1000000 - trend_micro AS det FROM tr),
        |se AS (SELECT event_type, day % 7 AS dow,
        |         (SUM(det) // COUNT(*)) AS seasonal_micro
        |       FROM dt GROUP BY 1, 2),
        |r AS (SELECT dt.event_type, dt.day, dt.n,
        |        CAST(dt.det - se.seasonal_micro AS BIGINT) AS resid_micro
        |      FROM dt JOIN se
        |        ON dt.event_type = se.event_type AND dt.day % 7 = se.dow),
        |st AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS m,
        |         CAST(SUM(resid_micro) AS HUGEINT) AS sr,
        |         SUM(CAST(resid_micro AS HUGEINT)
        |             * CAST(resid_micro AS HUGEINT)) AS srr
        |       FROM r GROUP BY 1)
        |SELECT r.event_type, r.day, CAST(r.n AS BIGINT) AS n, r.resid_micro,
        |  (4 * (CAST(r.resid_micro AS HUGEINT) * st.m - st.sr)
        |     * (CAST(r.resid_micro AS HUGEINT) * st.m - st.sr)
        |   > 25 * (st.m * st.srr - st.sr * st.sr)) AS is_anomaly
        |FROM r JOIN st USING (event_type)""".stripMargin,
    "seq1_behavior_pairs" ->
      """WITH f AS (
        |  SELECT user_id, (epoch_us(ts) // 86400000000) AS day, event_type,
        |    MIN(epoch_us(ts)) AS first_ts
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (SELECT a.event_type AS etype_a, b.event_type AS etype_b,
        |        COUNT(*) AS support
        |      FROM f a JOIN f b
        |        ON a.user_id = b.user_id AND a.day = b.day
        |        AND a.first_ts < b.first_ts
        |      GROUP BY 1, 2),
        |na AS (SELECT event_type AS etype_a, COUNT(*) AS n_a
        |       FROM f GROUP BY 1)
        |SELECT p.etype_a, p.etype_b, CAST(p.support AS BIGINT) AS support,
        |  CAST(na.n_a AS BIGINT) AS n_a,
        |  CAST((p.support * 1000000) // na.n_a AS BIGINT)
        |    AS confidence_micro
        |FROM p JOIN na USING (etype_a)""".stripMargin,
    "ev49_steps_to_purchase" -> {
      def round(i: Int): String =
        s"""e$i AS (
           |  SELECT st.state,
           |    1000000 + COALESCE(acc.acc, 0) AS e_micro
           |  FROM st LEFT JOIN (
           |    SELECT q.s, SUM(q.p_micro * e${i - 1}.e_micro) // 1000000
           |      AS acc
           |    FROM q JOIN e${i - 1} ON q.t = e${i - 1}.state
           |    GROUP BY 1) acc ON st.state = acc.s)""".stripMargin
      s"""WITH $transitionSql,
         |p AS (SELECT prev_type AS s, event_type AS t,
         |        nst * 1000000 // SUM(nst) OVER (PARTITION BY prev_type)
         |          AS p_micro
         |      FROM tr WHERE prev_type <> 'purchase'),
         |q AS (SELECT * FROM p WHERE t <> 'purchase'),
         |st AS (SELECT DISTINCT s AS state FROM p),
         |e0 AS (SELECT state, CAST(0 AS BIGINT) AS e_micro FROM st),
         |${(1 to 8).map(round).mkString(",\n")}
         |SELECT state, CAST(e_micro AS BIGINT) AS e_micro FROM e8"""
        .stripMargin
    },
    "ev48_stationary_mix" -> {
      def round(i: Int): String =
        s"""v$i AS (
           |  SELECT p.t AS state,
           |    SUM(v${i - 1}.v_micro * p.p_micro) // 1000000 AS v_micro
           |  FROM p JOIN v${i - 1} ON p.s = v${i - 1}.state
           |  GROUP BY 1)""".stripMargin
      s"""WITH $transitionSql,
         |p AS (SELECT prev_type AS s, event_type AS t,
         |        nst * 1000000 // SUM(nst) OVER (PARTITION BY prev_type)
         |          AS p_micro
         |      FROM tr),
         |kk AS (SELECT COUNT(DISTINCT s) AS k FROM p),
         |v0 AS (SELECT DISTINCT s AS state, 1000000 // kk.k AS v_micro
         |       FROM p CROSS JOIN kk),
         |${(1 to 6).map(round).mkString(",\n")}
         |SELECT state, CAST(v_micro AS BIGINT) AS v_micro FROM v6"""
        .stripMargin
    },
    "ev47_l28_histogram" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM d),
        |l AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS l28
        |      FROM d CROSS JOIN mx
        |      WHERE day > mx.max_day - 28 GROUP BY user_id)
        |SELECT l28, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM l GROUP BY 1""".stripMargin,
    "ev46_usage_metering" ->
      """WITH fl AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w
        |           > 1800000000
        |         OR LAG(epoch_us(ts), 1) OVER w IS NULL
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (
        |  SELECT user_id, ts_us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM fl),
        |sess AS (
        |  SELECT user_id, sid, MIN(ts_us) AS t_start, MAX(ts_us) AS t_end
        |  FROM sid GROUP BY 1, 2),
        |days AS (
        |  SELECT t_start, t_end, d.day
        |  FROM sess, unnest(range(t_start // 86400000000,
        |    t_end // 86400000000 + 1)) AS d(day)),
        |ov AS (
        |  SELECT day,
        |    least(t_end, (day + 1) * 86400000000 - 1) -
        |      greatest(t_start, day * 86400000000) AS overlap_us
        |  FROM days)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_session_days,
        |  CAST(SUM(overlap_us) AS BIGINT) AS usage_us
        |FROM ov GROUP BY day""".stripMargin,
    "ev45_growth_accounting" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |st AS (
        |  SELECT user_id, day,
        |    LAG(day, 1) OVER (PARTITION BY user_id ORDER BY day)
        |      AS prev_day
        |  FROM d),
        |cl AS (
        |  SELECT day,
        |    CASE WHEN prev_day IS NULL THEN 'new'
        |         WHEN day - prev_day > 14 THEN 'resurrected'
        |         ELSE 'retained' END AS state
        |  FROM st)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
        |  CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resurrected,
        |  CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(((SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) +
        |    SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END))
        |    * 1000000) // COUNT(*) AS BIGINT) AS incoming_share_micro
        |FROM cl GROUP BY day""".stripMargin,
    "ev43_purchase_milestones" ->
      """WITH f AS (SELECT user_id, MIN(epoch_us(ts)) AS t0
        |           FROM events GROUP BY 1),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS ts,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS milestone
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.milestone,
        |  CAST(p.ts - f.t0 AS BIGINT) AS elapsed_us
        |FROM p JOIN f USING (user_id)
        |WHERE p.milestone <= 3""".stripMargin,
    "ts14_period_detect" -> {
      val lagCols = (1 to 14)
        .map(k => s"LAG(n, $k) OVER w AS l$k").mkString(",\n    ")
      val unpiv = (1 to 14)
        .map(k => s"SELECT event_type, CAST($k AS BIGINT) AS k, " +
          s"l$k AS a, n FROM lg WHERE l$k IS NOT NULL")
        .mkString("\n  UNION ALL ")
      s"""WITH $dailyBareSql,
         |lg AS (
         |  SELECT event_type, day, n,
         |    $lagCols
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |cells AS (
         |  $unpiv),
         |st AS (
         |  SELECT event_type, k, CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
         |    CAST(SUM(a * b) AS BIGINT) AS sab,
         |    CAST(SUM(a * a) AS BIGINT) AS saa,
         |    CAST(SUM(b * b) AS BIGINT) AS sbb
         |  FROM (SELECT event_type, k, a, n AS b FROM cells) z
         |  GROUP BY 1, 2),
         |acf AS (
         |  SELECT event_type, k,
         |    CAST(m * sab - sa * sb AS DOUBLE) /
         |    (sqrt(CAST(m * saa - sa * sa AS DOUBLE)) *
         |     sqrt(CAST(m * sbb - sb * sb AS DOUBLE))) AS acf
         |  FROM st
         |  WHERE m * saa - sa * sa > 0 AND m * sbb - sb * sb > 0)
         |SELECT event_type, k AS best_lag, acf FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
         |    ORDER BY acf DESC, k ASC) AS rk FROM acf) t
         |WHERE rk = 1""".stripMargin
    },
    "ts13_theil_sen" ->
      s"""WITH $dailyBareSql,
        |sl AS (
        |  SELECT a.event_type,
        |    CAST(((b.n - a.n) * 1000000) // (b.day - a.day) AS BIGINT)
        |      AS slope_micro,
        |    a.day AS d1, b.day AS d2
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |rk AS (
        |  SELECT event_type, slope_micro,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY slope_micro, d1, d2) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np
        |  FROM sl)
        |SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
        |  slope_micro AS sen_slope_micro
        |FROM rk WHERE rk = (np + 1) // 2""".stripMargin,
    "ev42_kaplan_meier" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM d),
        |u AS (
        |  SELECT MAX(day) - MIN(day) AS tenure,
        |    MAX(day) < MAX(mx.max_day) - 14 AS churned
        |  FROM d CROSS JOIN mx GROUP BY user_id),
        |bt AS (SELECT tenure, CAST(COUNT(*) AS BIGINT) AS n_here,
        |         CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |           AS d_t
        |       FROM u GROUP BY 1),
        |rs AS (
        |  SELECT tenure, n_here, d_t,
        |    CAST(SUM(n_here) OVER (ORDER BY tenure DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_risk
        |  FROM bt),
        |lf AS (
        |  SELECT tenure, n_risk, d_t,
        |    CASE WHEN d_t > 0 THEN
        |      CAST(FLOOR(ln(CAST(n_risk - d_t AS DOUBLE)) * 1e6) AS BIGINT)
        |      - CAST(FLOOR(ln(CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
        |    ELSE 0 END AS log_factor_micro
        |  FROM rs)
        |SELECT tenure, n_risk, d_t,
        |  CAST(SUM(log_factor_micro) OVER (ORDER BY tenure
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS log_surv_micro
        |FROM lf""".stripMargin,
    "ev38_next_event_baseline" ->
      s"""WITH $transitionSql,
        |rk AS (SELECT prev_type, event_type, nst,
        |         ROW_NUMBER() OVER (PARTITION BY prev_type
        |           ORDER BY nst DESC, event_type ASC) AS rk
        |       FROM tr)
        |SELECT prev_type,
        |  MAX(CASE WHEN rk = 1 THEN event_type END) AS predicted,
        |  CAST(SUM(nst) AS BIGINT) AS n_s,
        |  CAST(SUM(CASE WHEN rk = 1 THEN nst ELSE 0 END) AS BIGINT)
        |    AS n_majority,
        |  CAST((SUM(CASE WHEN rk = 1 THEN nst ELSE 0 END) * 1000000)
        |    // SUM(nst) AS BIGINT) AS accuracy_micro
        |FROM rk GROUP BY prev_type""".stripMargin,
    "ts12_cusum_drift" ->
      s"""WITH $dailyBareSql,
        |st AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS nn,
        |         CAST(SUM(n) AS HUGEINT) AS ss,
        |         SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sxx
        |       FROM daily GROUP BY 1),
        |cs AS (
        |  SELECT d.event_type, d.day, d.n, st.nn, st.ss, st.sxx,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
        |    SUM(st.nn * d.n - st.ss) OVER (w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM daily d JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day))
        |SELECT event_type, day, CAST(n AS BIGINT) AS n, k,
        |  CAST(cusum AS BIGINT) AS cusum_dev,
        |  (cusum * cusum * (nn - 1) >
        |    9 * k * nn * (nn * sxx - ss * ss)) AS drifted
        |FROM cs""".stripMargin,
    "ev33_churn_labels" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM d)
        |SELECT user_id, CAST(MIN(day) AS BIGINT) AS first_day,
        |  CAST(MAX(day) AS BIGINT) AS last_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_active_days,
        |  CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS tenure_days,
        |  MAX(day) < MAX(mx.max_day) - 14 AS churned
        |FROM d CROSS JOIN mx GROUP BY user_id""".stripMargin,
    "fe15_lag_features" ->
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day, CAST(n AS BIGINT) AS n,
        |  CAST(COALESCE(SUM(n) OVER (w RANGE BETWEEN 1 PRECEDING
        |    AND 1 PRECEDING), 0) AS BIGINT) AS lag_1d,
        |  CAST(COALESCE(SUM(n) OVER (w RANGE BETWEEN 7 PRECEDING
        |    AND 7 PRECEDING), 0) AS BIGINT) AS lag_7d,
        |  CAST(COALESCE(SUM(n) OVER (w RANGE BETWEEN 7 PRECEDING
        |    AND 1 PRECEDING), 0) AS BIGINT) AS trail7_sum,
        |  CAST(COUNT(*) OVER (w RANGE BETWEEN 7 PRECEDING
        |    AND 1 PRECEDING) AS BIGINT) AS trail7_days
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day)""".stripMargin,
    "ts11_forecast_backtest" ->
      s"""WITH $dailyBareSql,
        |sc AS (
        |  SELECT event_type, day, n,
        |    ROW_NUMBER() OVER w AS rn,
        |    LAG(n, 1) OVER w AS naive,
        |    LAG(n, 7) OVER w AS snaive
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |f AS (SELECT * FROM sc WHERE rn > 7)
        |SELECT event_type, 'naive' AS method,
        |  CAST(COUNT(*) AS BIGINT) AS n_evals,
        |  CAST(SUM(abs(n - naive)) * 1000000 // COUNT(*) AS BIGINT)
        |    AS mae_micro
        |FROM f GROUP BY 1
        |UNION ALL
        |SELECT event_type, 'seasonal_naive',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(abs(n - snaive)) * 1000000 // COUNT(*) AS BIGINT)
        |FROM f GROUP BY 1""".stripMargin,
    "ev31_audience_overlap" ->
      """WITH du AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu
        |       FROM du GROUP BY 1),
        |inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM du a JOIN du b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, i.n_inter,
        |  sa.nu AS n_a, sb.nu AS n_b,
        |  CAST((i.n_inter * 1000000) // (sa.nu + sb.nu - i.n_inter)
        |    AS BIGINT) AS jaccard_micro
        |FROM inter i
        |JOIN sz sa ON sa.event_type = i.type_a
        |JOIN sz sb ON sb.event_type = i.type_b""".stripMargin,
    "ev27_decay_counter" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM d),
        |w AS (SELECT event_type,
        |        1000000 // (CAST(1 AS BIGINT) <<
        |          least((mx.max_day - day) // 7, 40)) AS w_micro
        |      FROM d CROSS JOIN mx)
        |SELECT event_type, CAST(SUM(w_micro) AS BIGINT) AS decayed_micro,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1""".stripMargin,
    "ev28_markov_entropy" ->
      s"""WITH $transitionSql,
        |ps AS (SELECT prev_type, CAST(SUM(nst) AS BIGINT) AS ns,
        |         CAST(COUNT(*) AS BIGINT) AS n_next_types
        |       FROM tr GROUP BY 1),
        |terms AS (
        |  SELECT tr.prev_type, ps.ns, ps.n_next_types,
        |    tr.nst * (CAST(FLOOR(ln(CAST(ps.ns AS DOUBLE)) * 1e6) AS BIGINT)
        |      - CAST(FLOOR(ln(CAST(tr.nst AS DOUBLE)) * 1e6) AS BIGINT))
        |      AS term
        |  FROM tr JOIN ps USING (prev_type))
        |SELECT prev_type, CAST(MAX(ns) AS BIGINT) AS n_s,
        |  CAST(MAX(n_next_types) AS BIGINT) AS n_next_types,
        |  CAST(SUM(term) // MAX(ns) AS BIGINT) AS h_micro
        |FROM terms GROUP BY prev_type""".stripMargin,
    "ts10_burst_episodes" ->
      s"""WITH $dailyBareSql,
        |fl AS (
        |  SELECT event_type, day, n,
        |    SUM(n) OVER w AS wsum, COUNT(*) OVER w AS wcnt
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |b AS (SELECT event_type, day, n,
        |        day - ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY day) AS island
        |      FROM fl WHERE wcnt > 0 AND 4 * n * wcnt > 5 * wsum)
        |SELECT event_type, CAST(MIN(day) AS BIGINT) AS start_day,
        |  CAST(MAX(day) AS BIGINT) AS end_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(n) AS BIGINT) AS total_events
        |FROM b GROUP BY event_type, island""".stripMargin,
  )
}
