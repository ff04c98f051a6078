package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import Det.d38

/** Scan / projection / filter / join / aggregation operators from
  * SURVEY.md §2.A-§2.D, re-expressed over the harness star schema.
  *
  * Each entry pairs a DataFrame program with DuckDB oracle SQL (identical
  * column names — the driver sorts columns by name before hashing).
  */
object RelationalQueries {
  import Det._

  /** Orders ranked by whole-dollar price `v` (ties by o_orderkey) within
    * their priority `grp`: row number `rn`, and the priority's size as
    * `size`, from GlobalRank's grouped two-pass (range-partitioned, never
    * a window over the few-valued priority). */
  private def priorityRanks(s: SparkSession, dir: String,
                            size: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("grp"), col("o_orderkey"),
        expr("cast(round(o_totalprice) as bigint)").as("v"))
    graft.operators.GlobalRank.withGroupedRowNumber(o,
      group = Seq("grp"), order = Seq(col("v"), col("o_orderkey")),
      out = "rn", nOut = Some(size))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3: partition/predicate-pruned scan. The reference bakes pruning into
    // path strings (transforms/silver/qualifying_transform.py:83-131); we
    // declare the filter and let Catalyst push it to the parquet scan.
    "a3_pruned_scan" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    },

    // B1: typed projection — select + cast + alias column shaping
    // (transforms/silver/laps_transform.py:289-320 pattern).
    "b1_typed_projection" -> { (s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"),
        col("l_linenumber").cast("bigint").as("line_no"),
        floor(col("l_quantity")).as("qty_floor"),
        concat(col("l_returnflag"), lit("|"), col("l_linestatus")).as("flag_status"))
    },

    // B2+B3: null-key + range predicate quality filter
    // (pitstops_transform.py:166-199 valid-duration pattern).
    "b2_quality_filter" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_custkey").isNotNull &&
          col("o_totalprice") > 0 && col("o_totalprice") < 400000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // B4: equality / isin filters (gold read-path filters,
    // driver_performance_summary_race_transform.py:131-141).
    "b4_isin_filter" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderstatus").isin("F", "O") &&
          col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    },

    // B7: distinct projection (sessions extracted from per-driver rows,
    // sessions_transform.py:135-160).
    "b7_distinct" -> { (s, dir) =>
      Tables.lineitem(s, dir).select("l_returnflag", "l_linestatus").distinct()
    },

    // D1: groupBy min/max (SCD validity periods, scd.py:213-225).
    "d1_group_minmax" -> { (s, dir) =>
      Tables.orders(s, dir).groupBy("o_custkey").agg(
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"))
    },

    // D3: countDistinct (total_races per driver, common.py:526-546).
    // Spread first: the distinct-expand partial agg is the heavy phase.
    "d3_count_distinct" -> { (s, dir) =>
      Tables.spread(Tables.lineitem(s, dir)).groupBy("l_suppkey").agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))
    },

    // D4: conditional count agg (finishers vs DNFs,
    // race_weekend_insights_transform.py:363-388).
    "d4_conditional_count" -> { (s, dir) =>
      Tables.spread(Tables.orders(s, dir)).groupBy("o_orderpriority").agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        count(when(col("o_orderstatus") =!= "F", 1)).as("n_open"),
        count(lit(1)).as("n_total"))
    },

    // D5: global stats agg (pit duration stats, pitstops_transform.py:306-330).
    // Spread first: the exact-decimal partial agg dominates; 32-way
    // partials reduce to one row each before the single-partition final.
    "d5_global_stats" -> { (s, dir) =>
      Tables.spread(Tables.lineitem(s, dir)).agg(
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("n_rows"))
    },

    // D6: groupBy sum then use as a grouped fact (team points per race,
    // business_logic.py:459-483).
    "d6_group_sum" -> { (s, dir) =>
      Tables.spread(Tables.lineitem(s, dir))
        .groupBy("l_returnflag", "l_linestatus").agg(
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("l_quantity")).as("sum_qty"))
    },

    // D8 (beyond reference): ROLLUP with grouping indicators — subtotal
    // levels in one pass (partial aggregation per grouping set).
    "d8_rollup" -> { (s, dir) =>
      Tables.spread(Tables.lineitem(s, dir))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
          grouping(col("l_linestatus")).cast("bigint").as("g_status"))
    },

    // D9 (beyond reference): CUBE over two dimensions.
    "d9_cube" -> { (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("o_totalprice")).as("sum_price"))
    },

    // D10 (beyond reference): HLL approximate distinct next to the exact
    // count. Sketches differ across engines, so the oracled surface is the
    // exact count plus a relative-error bound on the estimate (default
    // rsd = 5%; 15% = 3σ): the oracle asserts the bound column is TRUE, so
    // an HLL drift past 3σ fails the differential loudly instead of
    // hiding behind a rows-only check.
    "d10_approx_distinct" -> { (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts").cast("double") <= 0.15)
            .as("approx_within_3sd"))
    },

    // C1: inner equi-join + aggregate (drivers⋈sessions, common.py:500-523).
    // customer is small → broadcast, so the agg-side shuffle is the only
    // exchange in the plan.
    "c1_inner_join" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("segment_spend"))
    },

    // C2: 3-way inner join with broadcast dims (gold base join,
    // championship_tracker_transform.py:213-258).
    "c2_threeway_join" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("nation_spend"))
    },

    // C3/C4: left outer join + null-side detection (SCD change detect,
    // scd.py:112-137; enrichment fillna, common.py:544-557).
    "c3_left_join_fillna" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val oAgg = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
      c.join(oAgg, c("c_custkey") === oAgg("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("cnt"), lit(0L)).as("n_orders"),
          when(col("o_custkey").isNull, lit("NEW")).otherwise(lit("KNOWN")).as("status"))
    },

    // C5: join on a non-key attribute (weekend⋈winners on grand_prix_name,
    // race_weekend_insights_transform.py:316-320). supplier⋈customer on
    // nationkey is many-to-many just like the reference's single-year GP join.
    "c5_nonkey_join" -> { (s, dir) =>
      val sup = Tables.supplier(s, dir)
      val c = Tables.customer(s, dir)
      sup.join(c, sup("s_nationkey") === c("c_nationkey"), "inner")
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_local_customers"))
    },

    // C7 (beyond reference): left-semi join — EXISTS without carrying
    // right columns; no row multiplication, broadcast-able.
    "c7_semi_join" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val bigOrders = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 250000.0)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"),
          "left_semi")
        .select("c_custkey", "c_mktsegment")
    },

    // C8 (beyond reference): left-anti join — NOT EXISTS.
    "c8_anti_join" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    // B10 (beyond reference): pivot — event-type counts as columns.
    "b10_pivot" -> { (s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .pivot("event_type",
          Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },

    // J1 (beyond reference): range/band join — quantity bucketed into
    // literal bands via a broadcast inequality join (BroadcastNestedLoop
    // on a 3-row build side; never a shuffled cross product).
    "j1_range_join" -> { (s, dir) =>
      val bands = broadcast(Seq(
        (0.0, 20.0, "small"), (20.0, 40.0, "medium"),
        (40.0, 1e9, "large")).toDfBands(s))
      val li = Tables.lineitem(s, dir)
      li.join(bands, li("l_quantity") >= bands("lo") &&
          li("l_quantity") < bands("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_extendedprice")).as("band_revenue"))
    },

    // G2/G3 (beyond reference): set intersection / difference with
    // distinct semantics — which nations have customers AND suppliers,
    // and which have customers but NO suppliers.
    "g2_intersect" -> { (s, dir) =>
      Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
        .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nk")))
    },
    "g3_except" -> { (s, dir) =>
      Tables.customer(s, dir).select(col("c_nationkey").as("nk"))
        .except(Tables.supplier(s, dir).select(col("s_nationkey").as("nk")))
    },

    // G4 (beyond reference): schema-evolution union — an old snapshot
    // missing a column unions BY NAME with null fill
    // (unionByName(allowMissingColumns)); positional unionAll would
    // silently misalign the evolved schema.
    "g4_union_evolution" -> { (s, dir) =>
      val cust = Tables.customer(s, dir)
      val old = cust.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
      val evolved = cust.filter(col("c_custkey") % 2 =!= 0)
        .select("c_custkey", "c_name", "c_acctbal")
      old.unionByName(evolved, allowMissingColumns = true)
    },

    // C9 (beyond reference): full outer join — per-nation customer and
    // supplier counts, nulls on the unmatched side filled to zero.
    "c9_full_outer" -> { (s, dir) =>
      val cAgg = Tables.customer(s, dir).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val sAgg = Tables.supplier(s, dir).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      cAgg.join(sAgg, cAgg("c_nationkey") === sAgg("s_nationkey"),
          "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },

    // C10 (beyond reference): cross join of two tiny dims (25×5 rows) —
    // Catalyst picks BroadcastNestedLoopJoin, no shuffle.
    "c10_cross_join" -> { (s, dir) =>
      Tables.nation(s, dir).select("n_name")
        .crossJoin(Tables.region(s, dir).select("r_name"))
    },

    // D11 (beyond reference): exact interpolated percentiles. Quantile
    // fractions are powers of two so the (n-1)*q interpolation arithmetic
    // is bit-identical across engines.
    "d11_percentile" -> { (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
        percentile(col("l_quantity"), lit(0.25)).as("p25_qty"),
        max(col("l_quantity")).as("max_qty"))
    },

    // D16 (beyond reference): quantile SKETCH — percentile_approx
    // (GK summaries, mergeable across partitions: the 100 TB quantile
    // path where exact percentile's full sort-per-group won't fly).
    // Same oracle trick as d10: the exact median is hash-checked, the
    // sketch is asserted inside a ±5%-rank band around it (sketch rank
    // error at accuracy 1000 is 0.1% — 50x margin), so partition-merge
    // nondeterminism of the summary can never flake the row.
    "d16_approx_percentile" -> { (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
          percentile(col("l_quantity"), lit(0.5)).as("p50_exact"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(1000))
            .as("p50_sketch"),
          percentile(col("l_quantity"), lit(0.45)).as("p45"),
          percentile(col("l_quantity"), lit(0.55)).as("p55"))
        .select(col("l_returnflag"), col("p50_exact"),
          (col("p50_sketch") >= col("p45") &&
            col("p50_sketch") <= col("p55")).as("sketch_in_bounds"))
    },

    // D12 (beyond reference): GROUPING SETS — two independent subtotal
    // levels plus the grand total in one pass (the generalization of
    // rollup/cube; one shuffle, expand-node fan-out).
    "d12_grouping_sets" -> { (s, dir) =>
      Tables.spread(Tables.lineitem(s, dir))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          moneySum(col("l_quantity")).as("sum_qty"))
    },

    // D13 (beyond reference): two-phase SALTED aggregation
    // (operators.Skew) — the hot-key mitigation is semantically
    // transparent, proven by oracling against a plain GROUP BY. Decimal
    // partials keep the two-phase sum exact.
    "d13_salted_agg" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(col("l_suppkey"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      graft.operators.Skew.saltedSumCount(li, Seq("l_suppkey"), "qty",
          saltFactor = 16)
        .select(col("l_suppkey"), col("n_rows"),
          col("sum_qty").cast("double").as("sum_qty"))
    },

    // D14 (beyond reference): ordered set-aggregation to a delimited
    // string — collect_list is unordered by contract, so the sort happens
    // explicitly inside the row (array_sort) for a deterministic result.
    "d14_string_agg" -> { (s, dir) =>
      Tables.nation(s, dir).groupBy("n_regionkey").agg(
        array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"),
        count(lit(1)).as("n_nations"))
    },

    // D15 (beyond reference): second-moment statistics (stddev, corr)
    // from EXACT decimal power sums. The built-in stddev/corr accumulate
    // floating-point and are order-dependent (non-reproducible under
    // re-partitioning); the moments formulation keeps every sum exact and
    // does the identical IEEE arithmetic at the end — same rationale as
    // Det.moneySum, extended to second moments.
    "d15_exact_moments" -> { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_discount").cast(DecimalType(18, 2))
      val agg = Tables.spread(Tables.lineitem(s, dir))
        .groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum((x * x).cast(DecimalType(28, 4))).cast("double").as("sxx"),
          sum((y * y).cast(DecimalType(28, 4))).cast("double").as("syy"),
          sum((x * y).cast(DecimalType(28, 4))).cast("double").as("sxy"))
      val n = col("n").cast("double")
      agg.select(col("l_returnflag"), col("n"),
        (col("sx") / n).as("mean_qty"),
        sqrt((col("sxx") - col("sx") * col("sx") / n) / (n - 1))
          .as("stddev_qty"),
        ((col("sxy") - col("sx") * col("sy") / n) /
          (sqrt(col("sxx") - col("sx") * col("sx") / n) *
            sqrt(col("syy") - col("sy") * col("sy") / n)))
          .as("corr_qty_disc"))
    },

    // Typed Dataset tier (SURVEY §1.3): case-class Encoder + groupByKey/
    // mapGroups argmax — the per-group imperative escape hatch, with a
    // deterministic tie-break. Same semantics as f2_argmax_per_group but
    // through the typed API.
    "t1_typed_argmax" -> { (s, dir) =>
      import s.implicits._
      val ds = Tables.orders(s, dir)
        .select(col("o_orderkey").cast("long"),
          col("o_custkey").cast("long"),
          col("o_totalprice").cast("double"))
        .as[OrderSlim]
      ds.groupByKey(_.o_custkey)
        .mapGroups { (cust, rows) =>
          val top = rows.minBy(r => (-r.o_totalprice, r.o_orderkey))
          (cust, top.o_orderkey, top.o_totalprice)
        }
        .toDF("o_custkey", "top_orderkey", "top_price")
    },
    // Typed Aggregator tier (beyond reference §2.J): argmax as a real
    // partial-aggregating UDAF — buffers reduce map-side and merge after
    // the shuffle, unlike mapGroups which ships every row.
    "t2_typed_aggregator" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.TypedAggregators.{OrderObs, TopOrder}
      // Spread: the Encoder ser/de + map-side partial aggregation is the
      // cost center; 32-way beats one scan task doing every encode.
      val ds = Tables.spread(Tables.orders(s, dir))
        .select(col("o_orderkey").cast("long"),
          col("o_custkey").cast("long"),
          col("o_totalprice").cast("double"))
        .as[OrderSlim]
      ds.groupByKey(_.o_custkey)
        .mapValues(r => OrderObs(r.o_orderkey, r.o_totalprice))
        .agg(TopOrder.toColumn.name("top"))
        .select(col("key").as("o_custkey"),
          col("top.o_orderkey").as("top_orderkey"),
          col("top.o_totalprice").as("top_price"))
    },

    // J2 (beyond reference): Bloom-pruned join — the fact side is filtered
    // by a sketch of the selective build side's keys BEFORE the join
    // shuffle. No false negatives, so the oracle is the PLAIN join: the
    // sketch is proven semantically transparent, like d13's salting.
    "j2_bloom_join" -> { (s, dir) =>
      import graft.operators.BloomJoin
      val hot = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000.0)
        .select("o_orderkey")
      BloomJoin.bloomJoin(
          Tables.spread(Tables.lineitem(s, dir))
            .select("l_orderkey", "l_extendedprice"),
          col("l_orderkey"), hot, col("o_orderkey"),
          expectedItems = 100000L, fpp = 0.01)
        .groupBy("o_orderkey")
        .agg(moneySum(col("l_extendedprice")).as("order_revenue"),
          count(lit(1)).as("n_lines"))
    },

    // J4 (beyond reference): fuzzy string join / record linkage —
    // character-n-gram blocking with stop-gram pruning, exact levenshtein
    // on candidates only (never the cross product).
    "j4_fuzzy_join" -> { (s, dir) =>
      import graft.operators.FuzzyJoin
      FuzzyJoin.fuzzyJoin(
        Tables.customer(s, dir), col("c_custkey"), col("c_name"),
        Tables.supplier(s, dir), col("s_suppkey"), col("s_name"),
        maxDistance = 5, ngram = 4, maxGramDf = 50)
    },

    // D17 (beyond reference): robust outlier profile — per-group median,
    // MAD, and |x − med| > 3·MAD count, the heavy-tail-safe quality gate.
    // Prices quantize to integer cents first: interpolated medians of
    // integers are exact doubles, so both engines agree bit-for-bit
    // (graft-oracle-tricks quantization rule).
    "d17_robust_outliers" -> { (s, dir) =>
      import graft.operators.Outliers
      val li = Tables.spread(Tables.lineitem(s, dir))
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      Outliers.robustStats(li, "grp", "cents", k = 3.0)
    },

    // D22 (beyond reference): exact WEIGHTED median per group — the
    // center of a value distribution where each row carries a weight
    // (price weighted by quantity: "the price at which half the VOLUME
    // trades", not half the line items). First value whose cumulative
    // weight reaches half the total; prices in exact integer cents, so
    // no float compare decides the crossover. Two windows per group +
    // one aggregate; for a high-cardinality value domain the cumulative
    // pass generalizes to GlobalRank's grouped two-pass layout (e13's
    // treatment) — the crossover rule is unchanged.
    "d22_weighted_median" -> { (s, dir) =>
      val v = Tables.spread(Tables.lineitem(s, dir)).select(
        col("l_returnflag").as("grp"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("bigint").as("cents"),
        col("l_quantity").cast("bigint").as("w"))
      // grp has 3 values — a partitionBy(grp) running sum would push the
      // corpus through 3 tasks; the grouped PREFIX SUM keeps the
      // cumulative weight range-partitioned and ships the group totals
      // from its tiny pass-1 frame. The crossover rule is unchanged.
      graft.operators.GlobalRank.withGroupedPrefixSum(v, Seq("grp"),
          Seq(col("cents"), col("w")), col("w"),
          out = "cumw", totOut = Some("totw"))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy("grp").agg(min(col("cents")).as("wmedian_cents"))
    },

    // D23 (beyond reference): EXACT multi-quantile (p25/50/75/95) per
    // group from the d17-style value histogram — the same interpolation
    // rule as Spark `percentile` / DuckDB `quantile_cont` (verified
    // equal), but computed over DISTINCT-VALUE cardinality with
    // conditional-min rank lookups instead of buffering every value of
    // a group in one aggregation buffer (the `percentile` shape that
    // OOMs a straggler at 100 TB). All four quantiles ride ONE
    // cumulative pass; interpolation is a fixed IEEE tree over exact
    // integers (p literals forced to double in both engines).
    "d23_group_quantiles" -> { (s, dir) =>
      val hist = Tables.spread(Tables.lineitem(s, dir))
        .select(col("l_returnflag").as("grp"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("bigint").as("cents"))
        .groupBy("grp", "cents").agg(count(lit(1)).as("c"))
        // pinned: GlobalRank's range sample re-executes its input, and
        // this input is itself a full scan+aggregate — one pin replaces
        // a second histogram pass (round-13; scan-grade inputs stay
        // un-pinned, see d17's measured note)
        .transform(graft.operators.GlobalRank.pinned)
      // price-cents cardinality SCALES with the corpus, so this
      // "histogram" is not domain-bounded: the cumulative pass rides the
      // grouped prefix sum (3-value grp would otherwise cap the window
      // at 3 tasks), with n from its pass-1 totals.
      val cum = graft.operators.GlobalRank.withGroupedPrefixSum(hist,
        Seq("grp"), Seq(col("cents")), col("c"),
        out = "cum", totOut = Some("n"))
      val pps = Seq(25, 50, 75, 95)
      val aggs = max(col("n")).as("n") +: pps.flatMap { pp =>
        val h = (col("n") - 1).cast("double") * lit(pp / 100.0)
        Seq(
          min(when(col("cum") >= floor(h).cast("bigint") + 1,
            col("cents"))).as(s"lo$pp"),
          min(when(col("cum") >= floor(h).cast("bigint") + 2,
            col("cents"))).as(s"hi$pp"))
      }
      def qcol(pp: Int) = {
        val h = (col("n") - 1).cast("double") * lit(pp / 100.0)
        (col(s"lo$pp").cast("double") + (h - floor(h)) *
          (coalesce(col(s"hi$pp"), col(s"lo$pp")).cast("double") -
            col(s"lo$pp").cast("double"))).as(s"q$pp")
      }
      cum.groupBy("grp").agg(aggs.head, aggs.tail: _*)
        .select(col("grp") +: col("n") +: pps.map(qcol): _*)
    },

    // D21 (beyond reference): exact per-group mode with a deterministic
    // tie-break (smallest value among the max counts) — Spark's and
    // DuckDB's built-in mode() both leave ties implementation-defined,
    // so the window formulation IS the portable operator. One map-side-
    // combined count shuffle; the rank runs over distinct values.
    // Benford first-digit audit of l_extendedprice — the classic
    // fabricated-data screen. The digit comes from the DECIMAL STRING of
    // exact integer cents (never float log10, whose ulp wobble near
    // powers of ten would make the digit itself engine-dependent); the
    // expected counts and χ² terms are a fixed IEEE tree over the digit
    // counts with log10(1+1/d) interpolated from the same Scala doubles
    // on both engines. One map-side-combined 9-row aggregate.
    "d24_benford" -> { (s, dir) =>
      val obs = Tables.spread(Tables.lineitem(s, dir))
        .filter(col("l_extendedprice") > 0)
        .select(substring(expr("cast(floor(l_extendedprice * 100) as bigint)")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = obs.agg(sum(col("n_obs")).as("n"))
      val pd = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, d) =>
        when(col("digit") === d, lit(math.log10(1 + 1.0 / d))).otherwise(acc)
      }
      obs.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          (col("n").cast("double") * pd).as("expected"),
          ((col("n_obs").cast("double") - col("n").cast("double") * pd) *
            (col("n_obs").cast("double") - col("n").cast("double") * pd) /
            (col("n").cast("double") * pd)).as("chi2_term"))
    },

    "d21_mode" -> { (s, dir) =>
      val counts = Tables.spread(Tables.lineitem(s, dir))
        .select(col("l_returnflag").as("grp"),
          col("l_quantity").cast("bigint").as("qty"))
        .groupBy("grp", "qty").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("c").desc, col("qty").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("grp"), col("qty").as("mode_qty"), col("c").as("n_at_mode"))
    },

    // Table profile (Deequ-shaped): per-column row/null/distinct counts
    // and min/max — the stats pass every ingest runs before trusting a
    // feed. One column-pruned scan per profiled column (at scale, swap
    // countDistinct for the d10/d18 HLL sketch and the per-column scans
    // for one pass with expand — both shapes exist in this catalog).
    // Values profile as strings so heterogeneous columns stack into one
    // report (bigint/date/varchar all render identically cross-engine).
    "prof1_table_profile" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate").map { c =>
        o.select(col(c).cast("string").as("v"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(when(col("v").isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
      }.reduce(_ unionByName _)
    },

    // Market-basket co-occurrence: part pairs co-purchased in one order.
    // The raw pair explode is quadratic in basket size — the classic
    // co-occurrence skew bomb (one 10⁵-item basket = 10¹⁰ pairs) — so
    // baskets are CAPPED first: lowest-8 partkeys per order via the
    // bounded-heap TopKPerKey pattern (here a window over per-order
    // items, ≤13 at harness scale). After the cap the self-join fan-out
    // is ≤ C(8,2) = 28 rows per order, flat under any skew; the pair
    // rollup is map-side combined.
    "j7_market_basket" -> { (s, dir) =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val w = Window.partitionBy(col("ok")).orderBy(col("pk"))
      val capped = items.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8).select("ok", "pk")
      // Round 14: the pair generation is no longer a capped-basket
      // SELF-JOIN (2 exchanges + the r13 pin that the driver billed at
      // −23%): each order's ≤8 sorted parts roll up into ONE array row —
      // the rollup is keyed by `ok` exactly like the TopKPerKey cap
      // above it, so it adds no exchange — and the ≤C(8,2)=28 pairs per
      // order are emitted row-locally from the array (tiny arrays, so
      // the HOF's interpreted eval is bounded by the cap, not the
      // basket). One pair-keyed exchange remains: the final rollup.
      val baskets = capped.groupBy("ok")
        .agg(sort_array(collect_list(col("pk"))).as("parts"))
      baskets
        .select(explode(flatten(transform(col("parts"),
          (x, i) => transform(
            slice(col("parts"), i + lit(2),
              greatest(size(col("parts")) - i - 1, lit(0))),
            y => struct(x.as("p1"), y.as("p2")))))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
    },

    // Join-key skew diagnostic — the pre-join audit that decides between
    // plain hash join, j5's salting, or AQE skew handling: key
    // cardinality, max key weight, and the max/mean ratio in exact
    // integer micro-units. One map-side-combined key count, then a
    // scalar rollup (the second aggregate sees key-cardinality rows).
    // Top-heavy detail is tx10's heavy-hitter query; this is the
    // one-row verdict a planner thresholds on.
    // PROF5 (beyond reference): JOIN-SIZE estimation audit — the
    // optimizer-style question "how big would this join be?" answered
    // two ways and compared: exactly (|A ⋈_k A| = Σ_k c(k)², one
    // key-grain rollup — never materializing the join) and from a
    // 1/16 md5 KEY sample (sampling keys, not rows, keeps each
    // sampled key's c(k)² exact — the estimator is unbiased in the
    // key dimension, and the ratio exposes how heavy-key skew inflates
    // its variance). The audit that says whether sampled stats are
    // safe to plan skewed self-joins with.
    "prof5_join_size_sketch" -> { (s, dir) =>
      import graft.functions.HashExpressions.md5Prefix60
      def audit(df: DataFrame, keyName: String): DataFrame = {
        val per = df.groupBy(col(keyName).cast("string").as("k"))
          .agg(count(lit(1)).as("c"))
          .withColumn("c2", col("c").cast(d38) * col("c").cast(d38))
          .withColumn("in_sample",
            md5Prefix60(concat(lit("joinsz:"), col("k"))) % 16 === 0)
        per.agg(
            sum(col("c2")).as("exact_pairs"),
            (sum(when(col("in_sample"), col("c2"))
              .otherwise(lit(0).cast(d38))) * 16).as("est_pairs"),
            count(lit(1)).as("n_keys"))
          .select(lit(keyName).as("join_key"), col("n_keys"),
            col("exact_pairs").cast("long").as("exact_pairs"),
            col("est_pairs").cast("long").as("est_pairs"),
            when(col("exact_pairs") > 0,
              floor(col("est_pairs").cast("double") /
                col("exact_pairs").cast("double") * lit(1e6))
                .cast("long")).as("ratio_micro"))
      }
      audit(Tables.orders(s, dir), "o_orderdate")
        .unionByName(audit(Tables.lineitem(s, dir), "l_partkey"))
    },

    "prof2_key_skew" -> { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("total_rows"),
          max(col("c")).as("max_cnt"))
        .select(col("n_keys"), col("total_rows"), col("max_cnt"),
          expr("(max_cnt * 1000000 * n_keys) div total_rows")
            .as("skew_ratio_micro"))
    },

    // Expectation suite (Deequ-shaped): declarative constraints evaluated
    // to violation counts — completeness, uniqueness, range, and
    // referential integrity in one report. Each check is one aggregate
    // (the FK check one anti join); a real deployment unions dozens.
    "dq1_expectations" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val cu = Tables.customer(s, dir)
      val notNull = o.agg(
        coalesce(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)),
          lit(0L)).as("violations"))
        .select(lit("o_orderkey_not_null").as("check_name"),
          col("violations"))
      val unique = o.agg(
        (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
          .as("violations"))
        .select(lit("o_orderkey_unique").as("check_name"), col("violations"))
      val positive = o.agg(
        coalesce(sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)),
          lit(0L)).as("violations"))
        .select(lit("o_totalprice_positive").as("check_name"),
          col("violations"))
      val fk = o.join(cu, o("o_custkey") === cu("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("orders_custkey_fk").as("check_name"), col("violations"))
      notNull.union(unique).union(positive).union(fk)
        .withColumn("pass", col("violations") === 0L)
    },

    // Schema-WIDE referential-integrity audit — dq1 checks one FK edge;
    // this walks every edge of the star schema's FK graph (7 edges) and
    // reports orphan counts per edge. Each edge is one anti join whose
    // parent side is a key-only projection (dims broadcast under AQE;
    // the lineitem→orders edge shuffles on the key — at corpus scale
    // that is the one genuinely big-big check and it stays a single
    // hash anti-join, no fallback to per-row lookups). NULL FKs are
    // excluded on both engines (SQL RI semantics: a null reference is
    // "not asserted", not an orphan — Spark's anti join would otherwise
    // count them, DuckDB's NOT EXISTS would not).
    // DQ8 (beyond reference): FUNCTIONAL-DEPENDENCY discovery — does
    // A determine B? The schema-inference primitive behind
    // normalization advice, join-key validation, and "is this column
    // derivable" curation questions (dq2 checks DECLARED FKs; this
    // TESTS candidate dependencies against the data). Each candidate
    // is one map-side-combined rollup at LHS-key grain: a dependency
    // holds iff no key sees two distinct RHS values; violations are
    // counted, not just flagged, so drift shows as a number. The
    // per-key distinct is bounded by the RHS domain.
    "dq8_fd_discovery" -> { (s, dir) =>
      def fd(df: DataFrame, lhs: String, rhs: String): DataFrame =
        df.groupBy(col(lhs).as("k"))
          .agg(countDistinct(col(rhs)).as("nd"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("nd") > 1, 1L).otherwise(0L))
              .as("n_violating"))
          .select(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
            col("n_lhs"), col("n_violating"),
            (col("n_violating") === 0).as("holds"))
      val orders = Tables.orders(s, dir)
      fd(orders, "o_orderkey", "o_custkey")
        .unionByName(fd(orders, "o_custkey", "o_orderpriority"))
        .unionByName(fd(orders, "o_orderdate", "o_orderstatus"))
        .unionByName(fd(Tables.customer(s, dir),
          "c_nationkey", "c_mktsegment"))
        .unionByName(fd(Tables.nation(s, dir),
          "n_nationkey", "n_regionkey"))
    },

    "dq2_fk_graph" -> { (s, dir) =>
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck)).filter(col(ck).isNotNull)
          .join(parent.select(col(pk).as(ck)), Seq(ck), "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .select(lit(name).as("edge"), col("orphans"))
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val cu = Tables.customer(s, dir)
      val su = Tables.supplier(s, dir)
      val pa = Tables.part(s, dir)
      val na = Tables.nation(s, dir)
      val re = Tables.region(s, dir)
      Seq(
        edge("lineitem_orderkey_fk", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem_partkey_fk", li, "l_partkey", pa, "p_partkey"),
        edge("lineitem_suppkey_fk", li, "l_suppkey", su, "s_suppkey"),
        edge("orders_custkey_fk", o, "o_custkey", cu, "c_custkey"),
        edge("customer_nationkey_fk", cu, "c_nationkey", na, "n_nationkey"),
        edge("supplier_nationkey_fk", su, "s_nationkey", na, "n_nationkey"),
        edge("nation_regionkey_fk", na, "n_regionkey", re, "r_regionkey"))
        .reduce(_ union _)
        .withColumn("pass", col("orphans") === 0L)
    },

    // D19 (beyond reference): equal-width histogram — the distribution
    // profile every column-stats pass wants. Bucket = floor(x / width)
    // on exact 2-decimal doubles, so both engines bin identically; one
    // map-side-combined aggregate, bucket count bounded by the range.
    "d19_histogram" -> { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("long")
          .as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("bucket_total"))
    },

    // D18 (beyond reference): HLL sketch ALGEBRA — per-group sketches
    // unioned into the global distinct estimate, audited against the
    // exact answer. The reusable-sketch-table pattern: union answers
    // any group-combination distinct question without re-scanning data.
    "d18_hll_union" -> { (s, dir) =>
      import graft.operators.Sketches
      Sketches.hllUnionAudit(
        Tables.spread(Tables.lineitem(s, dir))
          .select("l_returnflag", "l_partkey"),
        "l_returnflag", "l_partkey")
    },

    // J5 (beyond reference): salted skew join with AUTO-detected hot
    // keys — one count pass finds the heavy tail of the large side's key
    // distribution; only those keys are salted (small side replicated
    // saltFactor ways), the rest take the normal path. The oracle is the
    // PLAIN join aggregate: salting is proven semantically transparent,
    // like d13 for aggregation. avgMultiple=1.02 so the near-uniform
    // TPC-H key distribution still exercises the skew path.
    "j5_salted_skew_join" -> { (s, dir) =>
      import graft.operators.Skew
      val li = Tables.spread(Tables.lineitem(s, dir))
        .select(col("l_suppkey"), col("l_extendedprice"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      // Round 14: hot-key DETECTION runs on the bare scan projection —
      // a map-side-combined key count straight off parquet. Detecting on
      // the spread frame paid the full round-robin corpus exchange once
      // more inside hotKeys' own jobs before the join even started
      // (spread is row-preserving, so the detected key set is identical);
      // the join branches still share one spread exchange via reuse.
      val hot = Skew.hotKeys(
        Tables.lineitem(s, dir).select(col("l_suppkey")), "l_suppkey",
        avgMultiple = 1.02)
      val joined =
        if (hot.isEmpty) li.join(sup, Seq("l_suppkey"))
        else Skew.saltedJoin(li, sup, "l_suppkey", hot, saltFactor = 8)
      joined.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_lines"),
          moneySum(col("l_extendedprice")).as("revenue"))
    },

    // J6 (beyond reference): point-in-time SCD2 lookup — every order
    // joined to the dimension VERSION that was effective on its order
    // date. The dim is generated deterministically (1-3 tier versions
    // per customer at fixed day offsets) so the oracle can restate it;
    // the join itself is AsOfJoin's union + running-fill plan: ONE
    // shuffle on the key, no interval range-join explosion — versions
    // per key can grow without changing the plan, the property that
    // makes this the at-scale PIT formulation against a 100 TB fact.
    "j6_pit_lookup" -> { (s, dir) =>
      import graft.operators.AsOfJoin
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"),
          explode(sequence(lit(0L), col("c_custkey") % 3)).as("ver"))
        .select(col("c_custkey").as("o_custkey"),
          expr("ver * (2520 div (1 + c_custkey % 3))").as("eff_day"),
          expr("(c_custkey * 7 + ver * 13) % 5").as("tier"))
      val facts = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("long").as("day"))
      AsOfJoin.asofJoin(facts, dim, "o_custkey", "day", "eff_day",
        Seq("tier"))
    },

    // INC1 (beyond reference): incremental aggregate maintenance —
    // the base partition's per-key state (count / exact decimal sum /
    // min / max) merged with a later delta batch must equal the full
    // recompute the oracle runs. Proves the monoid merge algebra that
    // lets a daily pipeline fold deltas into a state table instead of
    // rescanning the 100 TB base.
    "inc1_state_merge" -> { (s, dir) =>
      import graft.operators.Incremental
      val orders = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1996-01-01").cast("timestamp")
      val base = Incremental.partialState(
        orders.filter(col("o_orderdate") < cut), "o_custkey", "o_totalprice")
      val delta = Incremental.partialState(
        orders.filter(col("o_orderdate") >= cut), "o_custkey", "o_totalprice")
      Incremental.readView(Incremental.merge(Seq(base, delta)))
    },

    // Z1 (beyond reference): Morton/Z-order clustering value — the
    // multi-dimension layout key behind ZORDER BY-style file clustering.
    // Oracled bit-for-bit via generated interleave SQL.
    "z1_zorder_value" -> { (s, dir) =>
      import graft.operators.ZOrder
      Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") % 1024).as("zx"),
          (col("o_orderkey") % 1024).as("zy"))
        .withColumn("zv", ZOrder.zValue(Seq(col("zx"), col("zy")), 10))
    },

    // Z6 (beyond reference): the MEASUREMENT that justifies z5 —
    // range-cluster the same grid into 28 files by Hilbert index and
    // by Morton index, and compare per-file BOUNDING BOXES (the
    // min/max stats a scan actually prunes with). Hilbert's unit-step
    // locality yields strictly tighter boxes than Morton's
    // power-of-two jumps; this query reports avg/max box area per
    // layout so the claim is a number, not folklore. Exact integer
    // areas; one rollup per layout.
    "z6_hilbert_vs_morton" -> { (s, dir) =>
      import graft.operators.ZOrder
      val span = 1048576L / 28 + 1 // ceil(2^20 / 28) index values/file
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") % 1024).as("zx"),
          (col("o_orderkey") % 1024).as("zy"))
        .withColumn("hv", graft.functions.SpatialExpressions
          .hilbertIndex(col("zx"), col("zy"), 10))
        .withColumn("zv", ZOrder.zValue(Seq(col("zx"), col("zy")), 10))
      def layout(idx: String, name: String) = {
        val area = (col("mxx") - col("mnx") + 1) *
          (col("mxy") - col("mny") + 1)
        base.groupBy(expr(s"$idx div ${span}L").as("file_id"))
          .agg(min(col("zx")).as("mnx"), max(col("zx")).as("mxx"),
            min(col("zy")).as("mny"), max(col("zy")).as("mxy"))
          .agg(count(lit(1)).as("n_files"),
            sum(area.cast(d38)).as("sarea"),
            max(area).as("max_area"))
          .select(lit(name).as("layout"), col("n_files"),
            when(col("n_files") > 0,
              expr("cast(sarea * 1000000 div n_files as bigint)"))
              .as("avg_area_micro"),
            col("max_area"))
      }
      layout("hv", "hilbert").unionByName(layout("zv", "morton"))
    },

    // Z5 (beyond reference): HILBERT index over the same 1024×1024
    // bucket grid as z1 — the locality-optimal alternative to Morton
    // for range-clustered layouts (consecutive indexes are always
    // grid-adjacent; Morton jumps at power-of-two seams, so Hilbert
    // files get tighter per-file min/max boxes on both dimensions).
    // Native codegen expression ([[graft.functions.HilbertIndex]]);
    // the oracle runs the identical 10-level rotate/flip recurrence as
    // a generated chain of 10 CTE steps. Both indexes emitted side by
    // side for layout comparison.
    "z5_hilbert_value" -> { (s, dir) =>
      import graft.operators.ZOrder
      Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") % 1024).as("zx"),
          (col("o_orderkey") % 1024).as("zy"))
        .withColumn("hv", graft.functions.SpatialExpressions
          .hilbertIndex(col("zx"), col("zy"), 10))
        .withColumn("zv", ZOrder.zValue(Seq(col("zx"), col("zy")), 10))
    },

    // Z2 (beyond reference): zone-map skipping report — per-"file"
    // min/max ship-day stats and whether a 1997 date predicate can prune
    // the file without reading it. This is the manifest-level planning
    // pass behind parquet row-group pruning / Iceberg-style data
    // skipping: at 100 TB the I/O you never issue is the cheapest, and
    // the skip decision needs only the fixed-width stats rows (files ×
    // 3 longs), never the data. File identity models the time-partitioned
    // layout an ingest pipeline writes (one file per 90-day window, day =
    // ship date) — the layout whose tight zone maps let a date predicate
    // prune almost every file, which is why ingest ORDER matters as much
    // as the stats themselves.
    "z2_skipping_stats" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
            .cast("long").as("day"))
        .withColumn("file_id", expr("day div 90"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"), min(col("day")).as("min_day"),
          max(col("day")).as("max_day"))
        .withColumn("skipped",
          (col("max_day") < 1827 || col("min_day") >= 2192).cast("bigint"))
    },

    // Z3 (beyond reference): compaction plan over z2's file stats —
    // files merged greedily in layout order into ~10 MB output groups
    // (bin = running-bytes-before div target). The small-file compaction
    // planner every ingest pipeline runs: the plan is computed over the
    // FILE-STATS table (tens of rows per partition, regardless of data
    // scale), so the single-partition running sum is over metadata, never
    // data; the rewrite jobs it emits are per-bin and embarrassingly
    // parallel.
    "z3_compaction_plan" -> { (s, dir) =>
      val files = Tables.lineitem(s, dir)
        .select(datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
          .cast("long").as("day"))
        .withColumn("file_id", expr("day div 90"))
        .groupBy("file_id")
        .agg((count(lit(1)) * 1000L).as("bytes"))
      val w = Window.orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("prev", coalesce(sum(col("bytes")).over(w), lit(0L)))
        .select(col("file_id"), col("bytes"),
          expr("prev div 10000000").as("bin"))
    },

    // Z4 (beyond reference): CLUSTERING-DEPTH audit — for each candidate
    // layout, the average/max number of files whose [min,max] ship-day
    // zone covers a given day, i.e. how many files a point-date query
    // must read. Depth ≈ 1 means the layout clusters the key (z2's
    // date-partitioned files); depth ≈ #files means zone maps are
    // useless (arrival round-robin) — exactly the metric an OPTIMIZE /
    // re-cluster decision thresholds on, computed on file STATS rows
    // (explode of day ranges, never the data).
    "z4_clustering_depth" -> { (s, dir) =>
      val days = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          datediff(to_date(col("l_shipdate")), lit("1992-01-01"))
            .cast("long").as("day"))
      val byDate = days.groupBy(expr("day div 90").as("file_id"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .withColumn("layout", lit("date_clustered"))
      val byArrival = days.groupBy((col("l_orderkey") % 28).as("file_id"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .withColumn("layout", lit("arrival_rr"))
      byDate.unionByName(byArrival)
        .select(col("layout"),
          explode(sequence(col("mn"), col("mx"))).as("day"))
        .groupBy("layout", "day").agg(count(lit(1)).as("depth"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_days"), max(col("depth")).as("max_depth"),
          sum(col("depth")).as("sum_depth"))
        .select(col("layout"), col("n_days"), col("max_depth"),
          expr("(sum_depth * 1000000) div n_days").as("avg_depth_micro"))
    },

    // ER1 (beyond reference): end-to-end entity resolution — n-gram
    // blocked fuzzy SELF-join over customer names (stop-gram pruning
    // keeps blocking skew-proof), then large-star/small-star closure
    // turns surviving pairs into entity clusters, each labeled by its
    // minimum key; unmatched rows stay their own entity. The classic
    // dedup-the-dimension pipeline (same machinery as document near-dup:
    // block → score → cluster → canonicalize), composed from fuzzyJoin
    // and ccStar and oracled as one statement including the recursive
    // closure.
    "er1_entity_resolution" -> { (s, dir) =>
      import graft.operators.{FuzzyJoin, Graph}
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"))
      val pairs = FuzzyJoin.fuzzySelfJoin(
          cust, col("c_custkey"), col("c_name"),
          maxDistance = 2, ngram = 4, maxGramDf = 50)
        .filter(col("lid") < col("rid"))
      val comp = Graph.ccStar(
        pairs.select(col("lid").as("u"), col("rid").as("v")))
      cust.join(comp, cust("c_custkey") === comp("node"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("component"), col("c_custkey")).as("entity_id"))
    },

    // ER4 (beyond reference): CLUSTER-quality audit — er1's transitive
    // closure can chain A~B~C into one entity even when A and C are far
    // apart; EntityAudit.clusterAudit reports per-cluster size + the
    // maximum intra-cluster edit distance over a CAPPED member sample
    // (first 20 by id). The cap is load-bearing — see the operator's
    // scaladoc for the measured 336 s → 3.4 s story and the C(20,2)
    // pair-work bound; OperatorsSpec pins both cap properties.
    "er4_cluster_audit" -> { (s, dir) =>
      import graft.operators.{EntityAudit, FuzzyJoin, Graph}
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"))
      val pairs = FuzzyJoin.fuzzySelfJoin(
          cust, col("c_custkey"), col("c_name"),
          maxDistance = 2, ngram = 4, maxGramDf = 50)
        .filter(col("lid") < col("rid"))
      val comp = Graph.ccStar(
        pairs.select(col("lid").as("u"), col("rid").as("v")))
      val members = cust
        .join(comp, cust("c_custkey") === comp("node"))
      EntityAudit.clusterAudit(members, col("component"),
        col("c_custkey"), col("c_name"), cap = 20)
    },

    // ER3 (beyond reference): BLOCKING-quality audit — before trusting
    // er1/er2's stop-gram blocking at scale, measure what it loses and
    // what it saves: pair RECALL (which truly-close pairs survive
    // blocking) against a brute-force ground truth on a deterministic
    // 1/37 sample, and the REDUCTION RATIO (candidate pairs vs all
    // pairs) — the two numbers every record-linkage methodology reports.
    // The quadratic truth is confined to the bounded sample (a broadcast
    // nested loop over ~n/37 rows — an audit cost, not a pipeline cost;
    // at 100 TB the sample rate keeps it constant-sized) while the
    // candidate set comes from the production blocking path itself.
    "er3_blocking_eval" -> { (s, dir) =>
      import graft.operators.FuzzyJoin
      val slice = Tables.customer(s, dir)
        .filter(col("c_custkey") % 37 === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("nm"))
      val truth = slice.select(col("id").as("lid"), col("nm").as("lnm"))
        .crossJoin(broadcast(
          slice.select(col("id").as("rid"), col("nm").as("rnm"))))
        .filter(col("lid") < col("rid") &&
          levenshtein(col("lnm"), col("rnm")) <= 2)
        .select("lid", "rid")
      val blocked = FuzzyJoin.candidatePairs(
          slice, col("id"), col("nm"), slice, col("id"), col("nm"),
          ngram = 4, maxGramDf = 50)
        .filter(col("lid") < col("rid")).select("lid", "rid")
      val found = truth.join(blocked, Seq("lid", "rid"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
        .crossJoin(broadcast(blocked.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(slice.agg(count(lit(1)).as("n_rows"))))
        .select(col("n_truth"), col("n_found"), col("n_candidates"),
          expr("""case when n_truth = 0 then 1000000L
                 |else n_found * 1000000 div n_truth end"""
            .stripMargin.replace("\n", " ")).as("recall_micro"),
          // ≤1 row in the sample: no orderable pairs exist, so blocking
          // "kept" everything it could — report full reduction rather
          // than divide by zero (edge-fixture hardening, matches the
          // recall_micro guard above)
          expr("""case when n_rows > 1
                 |then 1000000 - n_candidates * 2000000
                 |  div (n_rows * (n_rows - 1))
                 |else 1000000L end""".stripMargin.replace("\n", " "))
            .as("reduction_micro"))
    },

    // DQ3 (beyond reference): k-anonymity / l-diversity audit — the
    // privacy datasheet a release review asks for before a table ships:
    // every quasi-identifier equivalence class (nation × segment) with
    // its size (k) and the number of distinct sensitive-value bands it
    // contains (l, on thousand-dollar acctbal bands). One map-side-
    // combined aggregate keyed by the QI tuple; class count is bounded
    // by the QI domain product, and the distinct-l term is a bounded
    // partial-distinct expand — at 100 TB still a single shuffle whose
    // key space is the QI domain, not the row count.
    "dq3_k_anonymity" -> { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(floor(col("c_acctbal") / 1000.0).cast("long"))
            .as("l_distinct"))
        .withColumn("k_anonymous", col("class_size") >= 15L)
    },

    // ER2 (beyond reference): Fellegi–Sunter probabilistic record
    // linkage — er1 decides match/non-match by a hard edit-distance cut;
    // this scores every blocked candidate pair with per-field agreement
    // weights ln(m/u) (match vs chance-agreement probability, the
    // Splink/classic-FS model) and classifies by score thresholds. The
    // weights are PRE-COMPUTED micro-nat integer literals, so the score
    // is an order-free integer sum both engines reproduce bit-for-bit.
    // Candidate generation is er1's skew-proof stop-gram blocking (never
    // the cross product); attribute lookup is two broadcast joins
    // against the key-projected dimension.
    "er2_fellegi_sunter" -> { (s, dir) =>
      import graft.operators.FuzzyJoin
      val cust = Tables.customer(s, dir)
      val names = cust.select(col("c_custkey"), col("c_name"))
      val pairs = FuzzyJoin.fuzzySelfJoin(
          names, col("c_custkey"), col("c_name"),
          maxDistance = 3, ngram = 4, maxGramDf = 50)
        .filter(col("lid") < col("rid"))
      def attrs(side: String) = broadcast(
        cust.select(col("c_custkey").as(side),
          col("c_nationkey").as(s"${side.head}_nat"),
          col("c_mktsegment").as(s"${side.head}_seg")))
      pairs
        .join(attrs("lid"), Seq("lid"))
        .join(attrs("rid"), Seq("rid"))
        .select(col("lid"), col("rid"), col("dist"),
          // ln(m/u) in micro-nats: name exact ln(0.95/0.001), close
          // ln(0.30/0.01), far ln(0.03/0.10); nation ln(0.9/0.04) /
          // ln(0.1/0.96); segment ln(0.85/0.2) / ln(0.15/0.8).
          (when(col("dist") === 0L, 6856462L)
            .when(col("dist") <= 2L, 3401197L).otherwise(-1203973L)
            + when(col("l_nat") === col("r_nat"), 3113515L)
              .otherwise(-2261763L)
            + when(col("l_seg") === col("r_seg"), 1446919L)
              .otherwise(-1673976L)).as("score_micro"))
        .withColumn("decision",
          when(col("score_micro") >= 9000000L, "match")
            .when(col("score_micro") >= 3000000L, "possible")
            .otherwise("nonmatch"))
    },

    // D36 (beyond reference): chi-square test of INDEPENDENCE — are
    // two categorical columns related (status × priority), d29's
    // counterpart for categorical-vs-categorical? Each cell's
    // (o·N − r·c)² / (r·c·N) term is an exact integer rational
    // floor-quantized to micro before the cross-cell sum (HUGEINT/
    // decimal(38) for the squared numerator), so the statistic is an
    // order-free integer; cells are the contingency table — metadata
    // after one count shuffle.
    "d36_chi2_independence" -> { (s, dir) =>
      val cells = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("a"),
          col("o_orderpriority").as("b"))
        .agg(count(lit(1)).as("o"))
        // pinned: feeds both marginals, the total, and the term join
        .transform(graft.operators.GlobalRank.pinned)
      val ra = cells.groupBy("a").agg(sum(col("o")).as("rc"))
      val cb = cells.groupBy("b").agg(sum(col("o")).as("cc"))
      val tot = cells.agg(sum(col("o")).as("n"))
      cells.join(broadcast(ra), "a").join(broadcast(cb), "b")
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("o"),
          expr("""cast(cast((o * n - rc * cc) as decimal(38,0))
                 |* (o * n - rc * cc) * 1000000
                 |div (cast(rc as decimal(38,0)) * cc * n) as bigint)"""
            .stripMargin.replace("\n", " ")).as("term_micro"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("term_micro")).as("chi2_micro"))
    },

    // DQ4 (beyond reference): sequence-INTEGRITY audit — are event ids
    // assigned in time order? Adjacent inversions (id decreasing while
    // time advances) per user, rolled up to the corpus summary — the
    // check that catches clock skew, replayed batches, and id-generator
    // races before an as-of join silently mis-sorts on them. One lag
    // window riding the user exchange; linear, unlike full inversion
    // counting.
    "dq4_sequence_integrity" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_id", lag(col("event_id"), 1).over(w))
        .select(col("user_id"),
          when(col("prev_id").isNotNull && col("event_id") < col("prev_id"),
            1L).otherwise(0L).as("inv"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("inv")).as("n_inv"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("n_events"),
          sum(col("n_inv")).as("n_inversions"),
          sum(when(col("n_inv") > 0, 1L).otherwise(0L))
            .as("n_affected_users"))
    },

    // D32 (beyond reference): GEOMETRIC mean (log-domain) with the
    // AM ≥ GM audit — the right average for multiplicative quantities
    // (price ratios, growth factors) where the arithmetic mean
    // overweights spikes. Each ln is floor-quantized to micro-nats and
    // weighted 1 per row, so the log-mean is an order-free integer sum
    // divided once (no float product, no overflow however many rows);
    // the arithmetic mean rides the same aggregate and the classic
    // inequality is asserted per group as an output flag.
    "d32_geo_mean" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("grp"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
        .filter(col("cents") > 0)
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(floor(log(col("cents").cast("double")) * lit(1e6))
            .cast("bigint")).as("slog"))
        .select(col("grp"), col("n"),
          expr("cast(cast(sc as decimal(38,0)) * 1000000 div n as bigint)")
            .as("arith_mean_micro"),
          expr("slog div n").as("log_gm_micronats"),
          // AM ≥ GM ⟺ ln(AM) ≥ ln(GM); compare in micro-nats
          (floor(log((col("sc").cast("double") / col("n").cast("double")))
            * lit(1e6)).cast("bigint") >= expr("slog div n") - lit(1))
            .as("am_ge_gm"))
    },

    // D29 (beyond reference): one-way ANOVA — does the grouping explain
    // the variance? Between/within sum-of-squares via the exact
    // identities SSB = Σ S_g²/n_g − S²/N and SSW = Σx² − Σ S_g²/n_g,
    // every per-group ratio floor-quantized to micro (cents² units)
    // BEFORE the cross-group sum so the totals are order-free integers;
    // the F statistic is one fixed IEEE tree at the end. One group
    // aggregate + one metadata-grain reduce — the "is this dimension
    // worth partitioning on" screen at any scale.
    "d29_anova" -> { (s, dir) =>
      // whole-dollar units keep every quantized ratio inside int64
      // headroom (~1e17 at sf0.1); the ≤1-unit floor error per group is
      // negligible against ~1e16 sums and identical in both engines
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          expr("cast(round(o_totalprice) as bigint)").as("v"))
      val per = o.groupBy("grp").agg(count(lit(1)).as("ng"),
        sum(col("v").cast(d38)).as("sg"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("sxx"))
        .withColumn("sg2n", expr("cast(sg * sg div ng as bigint)"))
      val tot = per.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).as("s"), sum(col("sxx")).as("xx"),
        sum(col("sg2n")).as("sum_sg2n"))
      tot.select(col("k"), col("n"),
          (col("sum_sg2n") - expr("cast(s * s div n as bigint)"))
            .as("ssb"),
          (col("xx").cast("long") - col("sum_sg2n")).as("ssw"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          ((col("ssb").cast("double") / (col("k") - 1).cast("double"))
            / (col("ssw").cast("double") /
              (col("n") - col("k")).cast("double"))).as("f_stat"))
    },

    // D30 (beyond reference): WINSORIZATION report — clamp each group's
    // tails at the exact p5/p95 values (ceil-rank order statistics, the
    // robust-preprocessing cousin of d17's MAD outliers) and report how
    // much mass moved: clamp counts and exact before/after means. One
    // in-group rank window; the two cut values per group are a
    // metadata-grain table broadcast back — the clamp itself is then a
    // per-row expression, so at scale this costs one sort-window pass,
    // not a quantile self-join.
    // D41 (beyond reference): SPEARMAN rank correlation per group — the
    // outlier-robust monotone-association readout (Pearson's d-tier
    // cousin answers "linear?", this answers "monotone?"). Tie-averaged
    // ranks stay integral as 2·avg_rank = min_rn + max_rn, so every
    // moment is an exact decimal(38,0) sum and only the final ratio
    // divides. The small-DOMAIN x side uses the ml4 value-grain idiom;
    // the corpus-cardinality y side uses GlobalRank's grouped two-pass
    // (see the asymmetry note at the rank passes below).
    "d41_spearman_by_group" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(col("l_returnflag").as("g"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("bigint").as("x"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("y"))
      // The two rank passes are deliberately ASYMMETRIC — do not "unify"
      // them. x (quantity) has a ~50-value DOMAIN: its value-grain rollup
      // keeps the in-group cumulative window at ≤ |domain| rows per
      // group — bounded by the domain, never the corpus, so the plain
      // window form is admissible (SCALE.md single-partition-window
      // review rule) and the cheapest plan. y (price cents) has
      // ≈ row-count cardinality: the same chain would push the whole
      // corpus through a 3-way-parallel cumulative window.
      val byValX = li.groupBy(col("g"), col("x").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val wx = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rx = byValX.withColumn("max_rn", sum(col("cnt")).over(wx))
        .select(col("g"), col("v").as("x"),
          (col("max_rn") - col("cnt") + 1 + col("max_rn")).as("a"))
      // y rides GlobalRank's grouped two-pass at ROW grain (range-
      // partitioned; parallelism = #partitions), then recovers the
      // doubled tie-averaged rank per row in closed form:
      // 2·avg = min_rn + max_rn = 2·rank + cnt − 1, with cnt from a
      // hash-partitioned (g, y) window at tie grain — scalable, and
      // row-grain means no join-back for the y side.
      val ry = graft.operators.GlobalRank.withGroupedRank(li,
          group = Seq("g"), order = Seq(col("y")),
          tieBreak = Seq(col("l_orderkey"), col("l_linenumber")),
          out = "rky")
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("g"), col("y"))))
        .withColumn("b", lit(2L) * col("rky") + col("cnt") - lit(1L))
      val st = ry.join(rx, Seq("g", "x"))
        .groupBy("g").agg(count(lit(1)).as("n"),
          sum(col("a").cast(d38)).as("sa"),
          sum(col("b").cast(d38)).as("sb"),
          sum((col("a") * col("b")).cast(d38)).as("sab"),
          sum((col("a") * col("a")).cast(d38)).as("saa"),
          sum((col("b") * col("b")).cast(d38)).as("sbb"))
      val num = col("n").cast(d38) * col("sab") - col("sa") * col("sb")
      val va = col("n").cast(d38) * col("saa") - col("sa") * col("sa")
      val vb = col("n").cast(d38) * col("sbb") - col("sb") * col("sb")
      st.select(col("g").as("l_returnflag"), col("n"),
        when(va > 0 && vb > 0, num.cast("double") /
          (sqrt(va.cast("double")) * sqrt(vb.cast("double"))))
          .as("spearman_rho"))
    },

    // D39 (beyond reference): exact per-group MODE with a total
    // tie-break (count desc, value asc) — the categorical "typical
    // value" the profiling tier (prof1) reports min/max for but never
    // the most frequent. One map-side-combined (group, value) rollup,
    // then a group-keyed window over value-cardinality rows.
    "d39_group_mode" -> { (s, dir) =>
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_value"),
          col("n").as("n_occurrences"))
    },

    "d30_winsorize" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("grp"),
          col("l_orderkey"), col("l_linenumber"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      // grp has 3 values: a plain Window.partitionBy(grp) rank over the
      // FULL corpus caps parallelism at 3 no matter how many executors
      // exist. GlobalRank's grouped two-pass keeps the sort range-
      // partitioned, and nOut ships the group totals from its pass-1
      // counts — replacing the count(*)-over-group window that shares
      // the same funnel.
      val ranked = graft.operators.GlobalRank.withGroupedRowNumber(li,
        group = Seq("grp"),
        order = Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        out = "rn", nOut = Some("n"))
      val cuts = ranked
        .filter(col("rn") === expr("(n * 5 + 99) div 100") ||
          col("rn") === expr("(n * 95 + 99) div 100"))
        .groupBy(col("grp").as("c_grp"))
        .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      ranked.join(broadcast(cuts), col("grp") === col("c_grp"))
        .withColumn("clamped",
          when(col("cents") < col("lo"), col("lo"))
            .when(col("cents") > col("hi"), col("hi"))
            .otherwise(col("cents")))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), max(col("lo")).as("lo_cents"),
          max(col("hi")).as("hi_cents"),
          sum(when(col("cents") < col("lo"), 1L).otherwise(0L))
            .as("n_clamped_low"),
          sum(when(col("cents") > col("hi"), 1L).otherwise(0L))
            .as("n_clamped_high"),
          expr("sum(cents) div count(1)").as("mean_before_cents"),
          expr("sum(clamped) div count(1)").as("mean_after_cents"))
    },

    // D42 (beyond reference): LORENZ curve at decile grain — revenue
    // concentration per group ("the cheapest 10%/20%/…/90% of line
    // items carry what share of revenue?"), the distribution readout
    // behind Gini (ev53/tx22 report the scalar; this emits the curve a
    // skew dashboard actually plots). Ranks ride GlobalRank's grouped
    // two-pass row number (3-value group key — the funnel shape
    // FunnelSpec rejects), and each decile share is a conditional
    // exact-decimal sum against the pass-1 group totals: one rank pass
    // + one aggregate, no cumulative window, shares as exact micro
    // integers.
    "d42_lorenz_deciles" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("grp"),
          col("l_orderkey"), col("l_linenumber"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      val ranked = graft.operators.GlobalRank.withGroupedRowNumber(li,
        group = Seq("grp"),
        order = Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        out = "rn", nOut = Some("n"))
      val shares = (1 to 9).map { k =>
        expr(s"""cast((cast(1000000 as decimal(38,0)) *
                |sum(case when rn <= n * $k div 10
                |  then cast(cents as decimal(38,0))
                |  else cast(0 as decimal(38,0)) end))
                |div sum(cast(cents as decimal(38,0))) as bigint)"""
            .stripMargin.replace("\n", " "))
          .as(s"share_p${k}0_micro")
      }
      ranked.groupBy("grp")
        .agg(count(lit(1)).as("n_rows"), shares: _*)
    },

    // D60 (beyond reference): GEOMETRIC and HARMONIC means per group —
    // the two Pythagorean means a skewed-distribution datasheet needs
    // next to the arithmetic one (geometric for multiplicative
    // quantities, harmonic for rates). ln terms floor-quantize to micro
    // once and sum exactly (decimal(38,0)); reciprocals are EXACT
    // integer divisions 10¹²/x summed the same way; each mean is then
    // one fixed IEEE tree (one exp for the geometric — the mix7
    // single-float contract). One map-side-combined rollup, no second
    // pass.
    "d61_generalized_means" -> { (s, dir) =>
      val li = Tables.spread(Tables.lineitem(s, dir))
        .select(col("l_returnflag").as("grp"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      li.groupBy("grp").agg(
          count(lit(1)).as("n"),
          sum(floor(lit(1e6) * log(col("cents").cast("double")))
            .cast("long").cast(d38)).as("sl"),
          sum(expr("1000000000000 div cents").cast(d38)).as("sr"))
        .select(col("grp"), col("n"),
          floor(lit(1e6) * exp(
            (col("sl").cast("double") / col("n").cast("double")) /
              lit(1e6))).cast("bigint").as("geomean_cents_micro"),
          expr("""cast(cast(n as decimal(38,0)) *
                 |  1000000000000000000 div sr as bigint)"""
            .stripMargin.replace("\n", " ")).as("harmmean_cents_micro"))
    },

    // D45 (beyond reference): PRICE ELASTICITY — the log-log OLS slope
    // d ln(qty)/d ln(unit price) across line items: the econometric
    // readout of how demand responds to price (|ε| > 1 = elastic). Both
    // logs are floor-quantized to integer micro-nats PER ROW (the fe10
    // contract), so the five OLS sufficient statistics are exact
    // decimal(38,0) sums in one map-side-combined pass and the slope is
    // one fixed IEEE tree. Nothing shuffles except the 1-row aggregate.
    "d45_price_elasticity" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("bigint").as("q"),
          expr("cast(floor(l_extendedprice * 100) as bigint)")
            .as("cents"))
        .filter(col("q") > 0 && col("cents") > 0)
        .withColumn("unit", expr("cents div q"))
        .filter(col("unit") > 0)
        .select(
          floor(lit(1e6) * log(col("unit").cast("double")))
            .cast("bigint").as("x"),
          floor(lit(1e6) * log(col("q").cast("double")))
            .cast("bigint").as("y"))
      val m = li.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"))
      m.select(col("n"),
        when(col("n") > 1 &&
          col("n").cast(d38) * col("sxx") - col("sx") * col("sx") =!=
            lit(0).cast(d38),
          (col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("elasticity"),
        when(col("n") > 0, col("sy").cast("double") /
          col("n").cast("double")).as("mean_log_q_micro"),
        when(col("n") > 0, col("sx").cast("double") /
          col("n").cast("double")).as("mean_log_p_micro"))
    },

    // DQ7 (beyond reference): t-CLOSENESS — dq3's k-anonymity says the
    // quasi-identifier classes are big; this asks whether a class's
    // SENSITIVE-value distribution still leaks (a class can be
    // 15-anonymous and 100% high-balance). For the ordered balance
    // bands the distance is the 1-D earth-mover's: mean |ΔCDF| between
    // the class and global band distributions, computed over the FULL
    // class × band grid (absent bands matter — the CDF gap persists
    // through them) as exact cross-multiplied integers
    // |cq·N − cp·n_c| in decimal(38,0), one double division at the
    // end. Grid and windows are metadata-grain (classes × ~12 bands);
    // the corpus is touched once for the two band rollups.
    "dq7_t_closeness" -> { (s, dir) =>
      val c = Tables.customer(s, dir).select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("cast(floor(c_acctbal / 1000.0e0) as bigint)").as("band"))
      val cls = c.groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(count(lit(1)).as("q"))
      val glob = c.groupBy("band").agg(count(lit(1)).as("p"))
      val m = glob.agg(count(lit(1)).as("m"),
        sum(col("p")).as("n_total"))
      val csize = cls.groupBy("c_nationkey", "c_mktsegment")
        .agg(sum(col("q")).as("n_c"))
      val grid = csize.crossJoin(broadcast(glob))
        .join(cls, Seq("c_nationkey", "c_mktsegment", "band"), "left")
        .na.fill(0L, Seq("q"))
        .crossJoin(broadcast(m))
      val win = Window.partitionBy(col("c_nationkey"),
          col("c_mktsegment")).orderBy(col("band").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.withColumn("cq", sum(col("q")).over(win))
        .withColumn("cp", sum(col("p")).over(win))
        .withColumn("term",
          abs(col("cq").cast(d38) * col("n_total").cast(d38) -
            col("cp").cast(d38) * col("n_c").cast(d38)))
        .groupBy("c_nationkey", "c_mktsegment", "n_c", "n_total", "m")
        .agg(sum(col("term")).as("st"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_c"),
          when(col("m") > 1,
            col("st").cast("double") /
              (col("n_c").cast(d38) * col("n_total").cast(d38) *
                (col("m") - 1).cast(d38)).cast("double"))
            .otherwise(lit(0.0)).as("emd"))
        .withColumn("t_close", col("emd") <= 0.2)
    },

    // D44 (beyond reference): HILL tail-index estimator — how heavy is
    // the revenue tail? γ̂ = (1/k)·Σ ln(x_(i)/x_(k+1)) over the k = 100
    // largest values; α̂ = 1/γ̂ < 2 means infinite variance (means and
    // z-tests stop being trustworthy — the diagnostic that tells the
    // ab-family which metrics need winsorizing). The k+1 order
    // statistics come from ONE GlobalRank descending pass (range
    // partitioned, no single-partition sort at any corpus size); each
    // log ratio is floor-quantized to micro (all ≥ 0 by construction,
    // so integer division stays engine-identical), and the two scalars
    // fold in a 1-row broadcast.
    // D46 (beyond reference): KRUSKAL–WALLIS rank test — the k-group
    // nonparametric ANOVA (d29's robust cousin, ab15's k-group
    // extension): does order value differ across the 5 priority
    // classes when the distribution is too heavy-tailed for the F
    // test? Tie-averaged ranks over the COMBINED corpus ride
    // GlobalRank's range-partitioned two-pass (d41's doubled-rank
    // identity keeps every rank sum an exact decimal); the per-group
    // Σ(2R_g)²/n_g terms fold in GROUP order through a 5-row ordered
    // window, so the cross-group double sum is order-deterministic and
    // both engines walk the identical IEEE tree. Tie correction
    // 1 − Σ(t³−t)/(N³−N) from a cents-grain rollup.
    "d46_kruskal_wallis" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("grp"), col("o_orderkey"),
        expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
      val rk = graft.operators.GlobalRank.withGlobalRank(o,
          order = Seq(col("cents")), tieBreak = Seq(col("o_orderkey")),
          out = "rnk")
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("cents"))))
      val per = rk.groupBy("grp").agg(count(lit(1)).as("ng"),
        sum((lit(2L) * col("rnk") + col("cnt") - lit(1L)).cast(d38))
          .as("s2r"))
        .transform(graft.operators.GlobalRank.pinned) // group-grain; feeds the totals AND terms
      val ties = o.groupBy("cents").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t").cast(d38) * col("t").cast(d38) *
          col("t").cast(d38) - col("t").cast(d38)),
          lit(0).cast(d38)).as("tsum"))
      val tot = per.agg(sum(col("ng")).as("n"),
        count(lit(1)).as("k_groups"))
      // Σ_g R_g²/n_g with R_g = s2r_g/2 → Σ s2r_g²/(4n_g); the 3/(N(N+1))
      // prefactor absorbs the 4: term_g = 3·s2r_g²/(N(N+1)·n_g). Each
      // term is floor-quantized to micro BEFORE the cross-group sum —
      // engine SUMs over raw doubles are not order-reproducible (DuckDB
      // tree-reduces; ab18's first cut differed in the last ulp), so
      // the cross-row accumulation must be exact integers.
      val terms = per.crossJoin(broadcast(tot))
        .withColumn("term",
          (lit(3.0) * (col("s2r") * col("s2r")).cast("double")) /
            ((col("n").cast(d38) * (col("n") + 1).cast(d38))
              .cast("double") * col("ng").cast("double")))
        .withColumn("qterm", floor(col("term") * lit(1e6)).cast(d38))
        .groupBy("n", "k_groups")
        .agg(sum(col("qterm")).as("sq"))
      terms
        .crossJoin(broadcast(ties))
        .withColumn("h_stat",
          col("sq").cast("double") / lit(1e6) -
            lit(3.0) * (col("n") + 1).cast("double"))
        .withColumn("tie_d",
          lit(1.0) - col("tsum").cast("double") /
            (col("n").cast(d38) * col("n").cast(d38) * col("n").cast(d38)
              - col("n").cast(d38)).cast("double"))
        .select(col("n"), col("k_groups"), col("h_stat"),
          // n=1 → N³−N = 0 → tie_d is 0/0 = NaN, and NaN > 0 is TRUE
          // under both engines' NaN-is-greatest ordering — gate on n
          when(col("n") > 1 && col("tie_d") > 0,
            col("h_stat") / col("tie_d")).as("h_adjusted"))
    },

    // D48 (beyond reference): JARQUE–BERA normality test per priority
    // class — "is this metric even approximately normal?", the
    // gate before trusting d29's F or ab3's t. Naive raw moments
    // n²Σx³/n³Σx⁴ overflow decimal(38) near 10⁹ rows; instead pass 1
    // finds each group's integer-shifted origin c = ⌊Σx/n⌋ and pass 2
    // accumulates EXACT integer moments of y = x − c (bounded by the
    // value spread, not the magnitude), from which the mean-centered
    // m₂/m₃/m₄ follow by the standard origin-shift identities with
    // d = ȳ ∈ [0,1) — one fixed IEEE tree per group, no cross-row
    // float. Whole-dollar units (d29).
    // D53 (beyond reference): CRAMÉR'S V — the effect SIZE for a
    // contingency table (d36 answers "is order status independent of
    // priority?"; at corpus n everything is "significant", so the
    // decision-grade number is V = √(χ²/(n·min(r−1,c−1))) ∈ [0,1]).
    // χ² from the cross-multiplied integer identity (n·o − r·c)²/(n·r·c)
    // per cell, each cell micro-quantized BEFORE the cross-cell sum
    // (the cross-row float contract); one map-side-combined cell
    // rollup, margins broadcast back.
    "d53_cramers_v" -> { (s, dir) =>
      val cells = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("o"))
        // pinned: the contingency table feeds the row/column marginals,
        // the totals, and the term join (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val rows = cells.groupBy("o_orderstatus").agg(sum(col("o")).as("r"))
      val colsM = cells.groupBy("o_orderpriority").agg(sum(col("o")).as("c"))
      val dims = rows.agg(count(lit(1)).as("nr"))
        .crossJoin(broadcast(colsM.agg(count(lit(1)).as("nc"))))
        .crossJoin(broadcast(cells.agg(sum(col("o")).as("n"))))
      val term =
        (col("n").cast(d38) * col("o").cast(d38) -
          col("r").cast(d38) * col("c").cast(d38)).cast("double")
      val t2 = term * term /
        (col("n").cast(d38) * col("r").cast(d38) * col("c").cast(d38))
          .cast("double")
      val agg = cells.join(broadcast(rows), "o_orderstatus")
        .join(broadcast(colsM), "o_orderpriority")
        .crossJoin(broadcast(dims))
        .withColumn("qc", floor(t2 * lit(1e6)).cast(d38))
        .groupBy("n", "nr", "nc")
        .agg(sum(col("qc")).as("sq"))
      agg.select(col("n"), col("nr").as("n_rows"),
          col("nc").as("n_cols"),
          (col("sq").cast("double") / lit(1e6)).as("chi2"),
          when(col("n") > 0 && least(col("nr"), col("nc")) > 1,
            sqrt(col("sq").cast("double") / lit(1e6) /
              (col("n").cast(d38) *
                (least(col("nr"), col("nc")) - 1).cast(d38))
                .cast("double"))).as("cramers_v"))
    },

    // D54 (beyond reference): BROWN–FORSYTHE (median-based Levene)
    // homogeneity-of-variance test — the gate BEFORE d29's F: one-way
    // ANOVA assumes equal group variances, and at corpus scale the
    // robust way to check is an ANOVA on |x − median_g|. Group medians
    // are rank SELECTION on GlobalRank's grouped two-pass (never a
    // #groups-parallel window); deviations stay integral by doubling
    // (z = |2x − (lo+hi)| where lo/hi are the two middle order
    // statistics), and the F on z reuses d29's exact-integer SSB/SSW
    // identities. One rank pass + one metadata-grain broadcast + one
    // aggregate.
    "d54_levene" -> { (s, dir) =>
      val ranked = priorityRanks(s, dir, "ng")
      // med2 = lo + hi middle order statistics (equal when ng is odd):
      // the doubled median, exact in whole-dollar integers
      val meds = ranked
        .filter(col("rn") === expr("(ng + 1) div 2") ||
          col("rn") === expr("(ng + 2) div 2"))
        .groupBy(col("grp").as("m_grp"))
        .agg((min(when(col("rn") === expr("(ng + 1) div 2"), col("v"))) +
          min(when(col("rn") === expr("(ng + 2) div 2"), col("v"))))
          .as("med2"))
      val z = ranked.join(broadcast(meds), col("grp") === col("m_grp"))
        .select(col("grp"),
          abs(lit(2L) * col("v") - col("med2")).as("z"))
      val per = z.groupBy("grp").agg(count(lit(1)).as("ng"),
        sum(col("z").cast(d38)).as("sg"),
        sum(col("z").cast(d38) * col("z").cast(d38)).as("sxx"))
        .withColumn("sg2n", expr("cast(sg * sg div ng as bigint)"))
      per.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg")).as("sz"), sum(col("sxx")).as("xx"),
          sum(col("sg2n")).as("sum_sg2n"))
        .select(col("k"), col("n"),
          (col("sum_sg2n") - expr("cast(sz * sz div n as bigint)"))
            .as("ssb"),
          (col("xx") - col("sum_sg2n").cast(d38)).cast("long").as("ssw"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          // degenerate inputs (n ≤ k: no within df; ssw = 0: constant
          // deviations) leave W undefined — NULL, not 0/0
          when(col("n") > col("k") && col("ssw") > 0,
            (col("ssb").cast("double") / (col("k") - 1).cast("double"))
              / (col("ssw").cast("double") /
                (col("n") - col("k")).cast("double"))).as("w_stat"))
    },

    // D55 (beyond reference): TWO-FACTOR cell-means ANOVA screen — does
    // return flag, line status, or their combination explain revenue
    // variance? (d29 is one-way.) Everything reduces to ONE map-side-
    // combined rollup at (a, b) cell grain; margins and totals are
    // metadata-grain folds of the cell table. Exact integer SS via the
    // d29 identities per stratum; the additivity gap SS_cells − SS_A −
    // SS_B is reported as the interaction screen (exact under balance,
    // a diagnostic otherwise — the unbalanced Type-II fit needs a
    // regression, which is ml6/ab19 territory). Whole-dollar units.
    "d55_two_way_anova" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("a"), col("l_linestatus").as("b"),
          expr("cast(round(l_extendedprice) as bigint)").as("v"))
      val cells = li.groupBy("a", "b").agg(count(lit(1)).as("n_ab"),
        sum(col("v").cast(d38)).as("s_ab"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("sxx"))
        .withColumn("s2n", expr("cast(s_ab * s_ab div n_ab as bigint)"))
      val byA = cells.groupBy("a").agg(sum(col("n_ab")).as("na"),
          sum(col("s_ab")).as("sa"))
        .select(expr("cast(sa * sa div na as bigint)").as("sa2n"))
        .agg(count(lit(1)).as("ka"), sum(col("sa2n")).as("ss_a_raw"))
      val byB = cells.groupBy("b").agg(sum(col("n_ab")).as("nb"),
          sum(col("s_ab")).as("sb"))
        .select(expr("cast(sb * sb div nb as bigint)").as("sb2n"))
        .agg(count(lit(1)).as("kb"), sum(col("sb2n")).as("ss_b_raw"))
      val tot = cells.agg(count(lit(1)).as("k_cells"),
        sum(col("n_ab")).as("n"), sum(col("s_ab")).as("s"),
        sum(col("sxx")).as("xx"), sum(col("s2n")).as("sum_s2n"))
      tot.crossJoin(broadcast(byA)).crossJoin(broadcast(byB))
        .withColumn("cf", expr("cast(s * s div n as bigint)"))
        .select(col("n"), col("ka"), col("kb"), col("k_cells"),
          (col("ss_a_raw") - col("cf")).as("ss_a"),
          (col("ss_b_raw") - col("cf")).as("ss_b"),
          (col("sum_s2n") - col("cf")).as("ss_cells"),
          (col("xx") - col("sum_s2n").cast(d38)).cast("long").as("ss_within"))
        .withColumn("interaction_gap",
          col("ss_cells") - col("ss_a") - col("ss_b"))
        .withColumn("f_cells",
          when(col("n") > col("k_cells") && col("ss_within") > 0 &&
            col("k_cells") > 1,
            (col("ss_cells").cast("double") /
              (col("k_cells") - 1).cast("double")) /
              (col("ss_within").cast("double") /
                (col("n") - col("k_cells")).cast("double"))))
    },

    // D60 (beyond reference): 5% TRIMMED MEAN per group — d30's
    // winsorize CLAMPS the tails to the cut values; trimming DROPS
    // them, the estimator ab-family power calculations usually assume.
    // Same single GlobalRank grouped rank pass; keep t < rn ≤ n−t with
    // t = ⌊n·5/100⌋, then exact integer sums (whole dollars; means by
    // nonneg integer div — identical truncation in both engines).
    "d60_trimmed_mean" -> { (s, dir) =>
      val ranked = priorityRanks(s, dir, "n")
        .withColumn("t", expr("n * 5 div 100"))
      ranked.groupBy("grp")
        .agg(max(col("n")).as("n"), max(col("t") * 2).as("n_trimmed"),
          expr("sum(v) div count(1)").as("mean_dollars"),
          expr("""sum(case when rn > t and rn <= n - t then v end) div
                 |  nullif(sum(case when rn > t and rn <= n - t
                 |    then 1 else 0 end), 0)"""
            .stripMargin.replace("\n", " ")).as("trimmed_mean_dollars"))
    },

    // D59 (beyond reference): distribution-free MEDIAN CI — the
    // binomial order-statistic interval (ranks (n ∓ 1.96√n)/2), the
    // error bar d22/d30's point medians ship without. No resampling,
    // no normality assumption: ALL four order statistics (two middle,
    // two CI bounds) come out of ONE GlobalRank grouped two-pass via
    // rank selection; the rank formulas are a fixed IEEE tree on n
    // only, clamped into [1, n]. med2 is the exact doubled median
    // (integer — equal halves when n is odd).
    "d59_median_ci" -> { (s, dir) =>
      val ranked = priorityRanks(s, dir, "n")
        .withColumn("lo_rk", greatest(lit(1L),
          floor((col("n").cast("double") -
            lit(1.96) * sqrt(col("n").cast("double"))) / lit(2.0))
            .cast("long")))
        .withColumn("hi_rk", least(col("n"),
          ceil(lit(1.0) + (col("n").cast("double") +
            lit(1.96) * sqrt(col("n").cast("double"))) / lit(2.0))
            .cast("long")))
      val mLo = expr("(n + 1) div 2")
      val mHi = expr("(n + 2) div 2")
      ranked
        .filter(col("rn") === mLo || col("rn") === mHi ||
          col("rn") === col("lo_rk") || col("rn") === col("hi_rk"))
        .groupBy("grp")
        .agg(max(col("n")).as("n"),
          (min(when(col("rn") === mLo, col("v"))) +
            min(when(col("rn") === mHi, col("v")))).as("med2"),
          min(when(col("rn") === col("lo_rk"), col("v"))).as("ci_lo"),
          min(when(col("rn") === col("hi_rk"), col("v"))).as("ci_hi"))
        .select(col("grp"), col("n"), col("med2"), col("ci_lo"),
          col("ci_hi"))
    },

    // D57 (beyond reference): GAMMA method-of-moments fit per priority
    // class — the right-skewed counterpart of d48's normality test:
    // revenue-like positives are gamma-shaped, and the (shape, rate)
    // pair is what a simulator or an outlier fence needs (shape ≤ 1
    // means mode-at-zero, shape ≫ 1 means near-normal — the skew
    // verdict in one number). k̂ = m²/v, λ̂ = m/v from the same exact
    // decimal(38,0) sufficient statistics as d29, one IEEE tree per
    // group; degenerate groups (n ≤ 1 or zero variance) emit NULL.
    "d57_gamma_moments" -> { (s, dir) =>
      val st = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          expr("cast(round(o_totalprice) as bigint)").as("v"))
        .groupBy("grp").agg(count(lit(1)).as("n"),
          sum(col("v").cast(d38)).as("sx"),
          sum(col("v").cast(d38) * col("v").cast(d38)).as("sxx"))
      val num = col("n").cast(d38) * col("sxx") - col("sx") * col("sx")
      val mean = col("sx").cast("double") / col("n").cast("double")
      val vhat = num.cast("double") /
        (col("n").cast(d38) * (col("n") - 1).cast(d38)).cast("double")
      st.select(col("grp"), col("n"),
        when(col("n") > 0, mean).as("mean"),
        when(col("n") > 1, vhat).as("variance"),
        when(col("n") > 1 && num > 0, mean * mean / vhat).as("shape"),
        when(col("n") > 1 && num > 0, mean / vhat).as("rate"))
    },

    // D52 (beyond reference): TWO-SAMPLE Kolmogorov–Smirnov — do
    // urgent and low-priority orders draw from the same value
    // distribution? (ml10's KS is score-vs-label; this is the
    // distribution-vs-distribution form.) CDFs live at whole-dollar
    // grain; the two cumulative counts ride GlobalRank's prefix-sum
    // two-pass (range-partitioned — the dollar domain is
    // price-bounded, but this keeps the plan funnel-free at ANY
    // domain), and the sup statistic is the exact integer max of
    // |F₁−F₂| cross-multiplied by n₂·n₁ — one division at the end, and
    // the α=0.05 decision compares two micro integers.
    "d52_ks_two_sample" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(expr("cast(round(o_totalprice) as bigint)").as("dollar"),
          (col("o_orderpriority") === "1-URGENT").as("is_a"))
      // pinned: GlobalRank's range sample re-executes its input, and
      // this input is an aggregate (value-grain CDF table) — one pin
      // replaces a second full count rollup. Both CDFs then ride ONE
      // layout pass (withGroupedPrefixSums) instead of two chained
      // single-value calls.
      val byVal = o.groupBy("dollar").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c2"))
        .withColumn("g", lit(1))
        .transform(graft.operators.GlobalRank.pinned)
      val p2 = graft.operators.GlobalRank.withGroupedPrefixSums(byVal,
        group = Seq("g"), order = Seq(col("dollar")),
        values = Seq((col("c1"), "cum1", Some("n1")),
          (col("c2"), "cum2", Some("n2"))))
      p2.select(col("n1"), col("n2"),
          abs(col("cum1").cast(d38) * col("n2").cast(d38) -
            col("cum2").cast(d38) * col("n1").cast(d38)).as("dnum"))
        .groupBy("n1", "n2")
        .agg(max(col("dnum")).as("dmax"))
        .select(col("n1"), col("n2"),
          when(col("n1") > 0 && col("n2") > 0,
            expr("cast(dmax * 1000000 div " +
              "(cast(n1 as decimal(38,0)) * n2) as bigint)"))
            .as("d_micro"),
          when(col("n1") > 0 && col("n2") > 0,
            floor(lit(1.3581) * sqrt(
              (col("n1") + col("n2")).cast("double") /
                (col("n1").cast(d38) * col("n2").cast(d38))
                  .cast("double")) * lit(1e6)).cast("bigint"))
            .as("crit_micro"))
        .withColumn("reject_h0", col("d_micro") > col("crit_micro"))
    },

    // D58 (beyond reference): two-sample CRAMÉR–VON MISES — d52's KS
    // reads only the WORST CDF gap; CvM integrates (F₁−F₂)² over the
    // pooled distribution, the whole-shape complement that catches
    // "many small persistent gaps" KS misses. Same value-grain prefix
    // machinery as d52, and the statistic is EXACT end to end: each
    // value contributes l_j·(cum1·n₂ − cum2·n₁)² as a decimal(38,0)
    // integer (no quantization anywhere), and
    // T = Σ/(n₁·n₂·N²) is one IEEE division. Headroom: the summand is
    // ≤ N·(n₁n₂)² — inside decimal(38) up to ~10⁷ pooled rows per test
    // cell; past that, pre-scale the cum counts (the d46 playbook).
    // Asymptotic 5% critical value for T is 0.461 (Anderson 1962).
    "d58_cvm_two_sample" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(expr("cast(round(o_totalprice) as bigint)").as("dollar"),
          (col("o_orderpriority") === "1-URGENT").as("is_a"))
      // pinned: GlobalRank's range sample re-executes its input, and
      // this input is an aggregate (value-grain CDF table) — one pin
      // replaces a second full count rollup. Both CDFs then ride ONE
      // layout pass (withGroupedPrefixSums) instead of two chained
      // single-value calls.
      val byVal = o.groupBy("dollar").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c2"))
        .withColumn("g", lit(1))
        .transform(graft.operators.GlobalRank.pinned)
      val p2 = graft.operators.GlobalRank.withGroupedPrefixSums(byVal,
        group = Seq("g"), order = Seq(col("dollar")),
        values = Seq((col("c1"), "cum1", Some("n1")),
          (col("c2"), "cum2", Some("n2"))))
      val diff = col("cum1").cast(d38) * col("n2").cast(d38) -
        col("cum2").cast(d38) * col("n1").cast(d38)
      p2.select(col("n1"), col("n2"),
          (col("c1") + col("c2")).as("l"), diff.as("diff"))
        .groupBy("n1", "n2")
        .agg(sum(col("l").cast(d38) * col("diff") * col("diff"))
          .as("ssum"))
        .select(col("n1"), col("n2"),
          when(col("n1") > 0 && col("n2") > 0,
            col("ssum").cast("double") /
              (col("n1").cast(d38) * col("n2").cast(d38) *
                ((col("n1") + col("n2")).cast(d38) *
                  (col("n1") + col("n2")).cast(d38))).cast("double"))
            .as("t_stat"))
        .withColumn("reject_5pct",
          coalesce(col("t_stat") > 0.461, lit(false)))
    },

    "d48_jarque_bera" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("grp"),
        expr("cast(round(o_totalprice) as bigint)").as("x"))
      val c = o.groupBy("grp")
        .agg(expr("sum(x) div count(1)").as("c"))
        .withColumnRenamed("grp", "c_grp")
      val m = o.join(broadcast(c), col("grp") === col("c_grp"))
        .withColumn("y", col("x") - col("c"))
        .groupBy("grp").agg(count(lit(1)).as("n"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("y") * col("y")).cast(d38)).as("s2"),
          sum((col("y") * col("y") * col("y")).cast(d38)).as("s3"),
          sum(col("y").cast(d38) * col("y").cast(d38) *
            col("y").cast(d38) * col("y").cast(d38)).as("s4"))
      val nD = col("n").cast("double")
      val d = col("sy").cast("double") / nD
      val m2 = col("s2").cast("double") / nD - d * d
      val m3 = col("s3").cast("double") / nD -
        lit(3.0) * d * (col("s2").cast("double") / nD) +
        lit(2.0) * d * d * d
      val m4 = col("s4").cast("double") / nD -
        lit(4.0) * d * (col("s3").cast("double") / nD) +
        lit(6.0) * d * d * (col("s2").cast("double") / nD) -
        lit(3.0) * d * d * d * d
      m.select(col("grp"), col("n"),
          when(col("n") > 1 && m2 > 0, m3 / sqrt(m2 * m2 * m2))
            .as("skew"),
          when(col("n") > 1 && m2 > 0, m4 / (m2 * m2) - lit(3.0))
            .as("kurt_excess"))
        .withColumn("jb",
          when(col("skew").isNotNull,
            col("n").cast("double") / lit(6.0) *
              (col("skew") * col("skew") +
                col("kurt_excess") * col("kurt_excess") / lit(4.0))))
    },

    "d44_hill_estimator" -> { (s, dir) =>
      val k = 100L
      val o = Tables.orders(s, dir)
        .select(expr("cast(floor(o_totalprice * 100) as bigint)")
          .as("cents"), col("o_orderkey"))
        .filter(col("cents") > 0)
      val rn = graft.operators.GlobalRank.withGlobalRowNumber(o,
        Seq(col("cents").desc, col("o_orderkey")), out = "rn")
      val thr = rn.filter(col("rn") === (k + 1))
        .agg(min(col("cents")).as("xk1"))
      rn.filter(col("rn") <= k).crossJoin(broadcast(thr))
        .agg(count(lit(1)).as("n_top"), min(col("xk1")).as("xk1"),
          sum(floor(lit(1e6) *
            log(col("cents").cast("double") / col("xk1").cast("double")))
            .cast("bigint")).as("lsum"))
        .select(col("n_top"), col("xk1"),
          expr("case when n_top > 0 then lsum div n_top end")
            .as("gamma_micro"),
          expr("""case when n_top > 0 then
                 |  case when lsum div n_top > 0
                 |  then 1000000000000 div (lsum div n_top) end
                 |end""".stripMargin.replace("\n", " "))
            .as("alpha_micro"))
    },

    // D43 (beyond reference): THEIL-INDEX inequality DECOMPOSITION —
    // d42's Lorenz curve says how unequal revenue is; Theil says WHERE
    // the inequality lives, because it decomposes exactly:
    // T = Σ_g s_g·T_g (within groups) + Σ_g s_g·ln(μ_g/μ) (between).
    // Per-row terms (x/μ_g)·ln(x/μ_g) are floor-quantized to micro so
    // each group's sum is an order-free integer; group shares and the
    // between terms are one fixed IEEE tree over broadcast scalars. The
    // corpus is touched once (a broadcast join against the ≤5-row group
    // stats and a rollup); every division that can see a negative
    // numerator uses FLOOR on a double (never integer div — engines
    // disagree on flooring vs truncation there).
    "d43_theil_decomposition" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("priority"),
          expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
        .filter(col("cents") > 0)
      val grp = o.groupBy("priority")
        .agg(count(lit(1)).as("n_g"),
          sum(col("cents").cast(d38)).as("s_g"))
      val tot = grp.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"))
      val rg = col("cents").cast("double") * col("n_g").cast("double") /
        col("s_g").cast("double")
      val terms = o.join(broadcast(grp), "priority")
        .select(col("priority"),
          floor(lit(1e6) * (rg * log(rg))).cast("bigint")
            .as("term_micro"))
        .groupBy("priority").agg(sum(col("term_micro")).as("sum_term"))
      grp.join(terms, "priority").crossJoin(broadcast(tot))
        .select(col("priority"), col("n_g").as("n_orders"),
          col("s_g").cast("bigint").as("sum_cents"),
          floor(lit(1e6) * (col("s_g").cast("double") /
            col("s").cast("double"))).cast("bigint").as("share_micro"),
          floor(col("sum_term").cast("double") /
            col("n_g").cast("double")).cast("bigint")
            .as("theil_within_micro"),
          floor(lit(1e6) * ((col("s_g").cast("double") /
            col("s").cast("double")) *
            log((col("s_g").cast("double") * col("n").cast("double")) /
              (col("s").cast("double") * col("n_g").cast("double")))))
            .cast("bigint").as("between_term_micro"))
    },

    // C14 (beyond reference): join-FANOUT audit — the pre-flight a
    // pipeline runs before shipping a join: per-key multiplicities on
    // both sides give the EXACT output cardinality (Σ nL·nR), the worst
    // single-key fan-out (the skew bomb), match coverage, and orphan
    // mass — all from two key-grain aggregates and one key-keyed
    // full-outer join, never by running the join itself. The "why did
    // my join explode 40×" answer at any scale.
    "c14_join_fanout_audit" -> { (s, dir) =>
      val lk = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("n_left"))
      val rk = Tables.orders(s, dir)
        .groupBy(col("o_orderkey").as("key")).agg(count(lit(1)).as("n_right"))
      lk.join(rk, Seq("key"), "full_outer")
        .na.fill(0L, Seq("n_left", "n_right"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n_left") * col("n_right")).as("join_rows"),
          max(col("n_left") * col("n_right")).as("max_fanout"),
          sum(when(col("n_left") > 0 && col("n_right") > 0, 1L)
            .otherwise(0L)).as("n_matched_keys"),
          sum(when(col("n_right") === 0, col("n_left")).otherwise(0L))
            .as("left_orphan_rows"),
          sum(when(col("n_left") === 0, col("n_right")).otherwise(0L))
            .as("right_orphan_rows"))
    },

    // D28 (beyond reference): BITMAP aggregation — fold each order's
    // line numbers into one bit_or mask (bit i set ⟺ line i present),
    // then profile the mask distribution. The bitmap-index building
    // block: set-membership rollups as single integers that later AND/OR
    // cheaply (the exact counterpart of d27's theta sketches for small
    // universes). Map-side-combined bit_or — commutative, order-free,
    // engine-exact.
    "d28_bitmask_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(expr("""bit_or(shiftleft(cast(1 as bigint),
               |cast(l_linenumber as int)))"""
          .stripMargin.replace("\n", " ")).as("line_mask"),
          count(lit(1)).as("n_lines"))
        .groupBy("line_mask")
        .agg(count(lit(1)).as("n_orders"), max(col("n_lines")).as("max_lines"))
    },

    // PROF3 (beyond reference): per-column Shannon ENTROPY profile —
    // prof1 reports cardinalities; entropy tells you how the mass is
    // spread (the difference between "1M distinct, uniform" and "1M
    // distinct, 99% one value" — what sort keys, dictionary encodings,
    // and skew-salting decisions actually need). Identity used:
    // H = ln N − (Σ n_v·ln n_v)/N, so with ln floor-quantized to
    // micro-nats every term is an exact integer weighted sum — one
    // value-keyed count per column, then a scalar reduce. The
    // n·qlog(n) products stay < 2^63 up to ~1e11 rows; past that,
    // widen to decimal(38) like ab6.
    "prof3_column_entropy" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      Seq("o_orderstatus", "o_orderpriority", "o_custkey").map { c =>
        o.groupBy(col(c).cast("string").as("v"))
          .agg(count(lit(1)).as("nv"))
          .agg(sum(col("nv")).as("n"), count(lit(1)).as("n_distinct"),
            sum(col("nv") *
              floor(log(col("nv").cast("double")) * lit(1e6))
                .cast("bigint")).as("snl"))
          .select(lit(c).as("col_name"), col("n"), col("n_distinct"),
            expr("""(n * cast(floor(ln(cast(n as double)) * 1e6)
                   |as bigint) - snl) div n"""
              .stripMargin.replace("\n", " ")).as("entropy_micro"))
      }.reduce(_ unionByName _)
    },
  )

  /** Typed row for the Dataset-API queries. */
  final case class OrderSlim(o_orderkey: Long, o_custkey: Long,
                             o_totalprice: Double)

  /** Literal quantity-band dimension. */
  private implicit class BandSeq(rows: Seq[(Double, Double, String)]) {
    def toDfBands(s: SparkSession): DataFrame = {
      import s.implicits._
      rows.toDF("lo", "hi", "band")
    }
  }

  /** Oracle CTEs `o` (each order's priority `grp` and whole-dollar
    * price `v`) and `rk` (its row number `rn` by price within the
    * priority, and the priority's size as `size`). */
  private def priorityRankSql(size: String): String =
    s"""o AS (SELECT o_orderpriority AS grp, o_orderkey,
       |    CAST(round(o_totalprice) AS BIGINT) AS v FROM orders),
       |rk AS (SELECT grp, v,
       |    ROW_NUMBER() OVER (PARTITION BY grp
       |      ORDER BY v, o_orderkey) AS rn,
       |    COUNT(*) OVER (PARTITION BY grp) AS $size FROM o)""".stripMargin

  /** Oracle CTEs over names `nm (id, s)`: `lg` (each name's distinct
    * 4-grams `g`) and `keep` (the grams at most 50 names share, the
    * blocking keys). */
  private val blockSql =
    """lg AS (SELECT id, s, unnest(list_distinct(list_transform(
      |  range(1, greatest(length(s) - 3, 1) + 1),
      |  i -> substr(s, CAST(i AS INTEGER), 4)))) AS g FROM nm),
      |keep AS (SELECT g FROM (SELECT g FROM lg UNION ALL SELECT g FROM lg)
      |         GROUP BY g HAVING COUNT(*) <= 50)""".stripMargin

  /** Oracle CTEs from the customer names to `comp (node, component)`:
    * blocked candidate pairs within edit distance 2, closed transitively
    * (needs WITH RECURSIVE); a component is its smallest custkey. */
  private val componentsSql =
    s"""nm AS (
       |  SELECT c_custkey AS id, c_name AS s FROM customer),
       |$blockSql,
       |cand AS (SELECT DISTINCT a.id AS lid, a.s AS lstr,
       |                b.id AS rid, b.s AS rstr
       |         FROM lg a JOIN keep USING (g) JOIN lg b USING (g)),
       |pairs AS (SELECT lid AS a, rid AS b FROM cand
       |          WHERE lid < rid AND levenshtein(lstr, rstr) <= 2),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |lbl(node, l) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, lbl.l FROM edges e JOIN lbl ON e.b = lbl.node),
       |comp AS (SELECT node, MIN(l) AS component FROM lbl GROUP BY node)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "a3_pruned_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-06-01'""".stripMargin,
    "b1_typed_projection" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
        |l_returnflag || '|' || l_linestatus AS flag_status FROM lineitem""".stripMargin,
    "b2_quality_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IS NOT NULL AND o_totalprice > 0 AND o_totalprice < 400000.0""".stripMargin,
    "b4_isin_filter" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE o_orderstatus IN ('F','O') AND o_orderpriority = '1-URGENT'""".stripMargin,
    "b7_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "d1_group_minmax" ->
      """SELECT o_custkey, MIN(o_orderdate) AS first_order,
        |MAX(o_orderdate) AS last_order, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "d3_count_distinct" ->
      """SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS n_orders,
        |COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY l_suppkey""".stripMargin,
    "d4_conditional_count" ->
      """SELECT o_orderpriority,
        |COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
        |COUNT(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS n_open,
        |COUNT(*) AS n_total FROM orders GROUP BY o_orderpriority""".stripMargin,
    "d5_global_stats" ->
      s"""SELECT ${Det.sqlMoneySum("l_extendedprice")} AS sum_price,
         |${Det.sqlMoneyAvg("l_extendedprice")} AS avg_price,
         |MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
         |COUNT(*) AS n_rows FROM lineitem""".stripMargin,
    "d6_group_sum" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${Det.sqlMoneySum("l_extendedprice")} AS sum_price,
         |${Det.sqlMoneySum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "d10_approx_distinct" ->
      """SELECT l_returnflag,
        |COUNT(DISTINCT l_partkey) AS exact_parts,
        |TRUE AS approx_within_3sd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "d8_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
         |${Det.sqlMoneySum("l_quantity")} AS sum_qty,
         |CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         |CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "d9_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows,
         |${Det.sqlMoneySum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "c1_inner_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |${Det.sqlMoneySum("o_totalprice")} AS segment_spend
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,
    "c2_threeway_join" ->
      s"""SELECT n_name, COUNT(*) AS n_orders,
         |${Det.sqlMoneySum("o_totalprice")} AS nation_spend
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin,
    "c3_left_join_fillna" ->
      """SELECT c_custkey, COALESCE(cnt, 0) AS n_orders,
        |CASE WHEN o_custkey IS NULL THEN 'NEW' ELSE 'KNOWN' END AS status
        |FROM customer LEFT JOIN
        |(SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) t
        |ON c_custkey = o_custkey""".stripMargin,
    "c5_nonkey_join" ->
      """SELECT s_suppkey, COUNT(*) AS n_local_customers
        |FROM supplier JOIN customer ON s_nationkey = c_nationkey
        |GROUP BY s_suppkey""".stripMargin,
    "c7_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)""".stripMargin,
    "c8_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "b10_pivot" ->
      """SELECT user_id,
        |COALESCE(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0) AS view,
        |COALESCE(COUNT(CASE WHEN event_type = 'click' THEN 1 END), 0) AS click,
        |COALESCE(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS purchase,
        |COALESCE(COUNT(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS signup,
        |COALESCE(COUNT(CASE WHEN event_type = 'error' THEN 1 END), 0) AS error
        |FROM events GROUP BY user_id""".stripMargin,
    "j1_range_join" ->
      s"""WITH bands(lo, hi, band) AS (VALUES
         |  (0.0, 20.0, 'small'), (20.0, 40.0, 'medium'), (40.0, 1000000000.0, 'large'))
         |SELECT band, COUNT(*) AS n_rows,
         |${Det.sqlMoneySum("l_extendedprice")} AS band_revenue
         |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
         |GROUP BY band""".stripMargin,
    "g2_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier""".stripMargin,
    "g3_except" ->
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT SELECT s_nationkey AS nk FROM supplier""".stripMargin,
    "g4_union_evolution" ->
      """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey % 2 <> 0""".stripMargin,
    "c9_full_outer" ->
      """SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        |COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |(SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
        |ON c_nationkey = s_nationkey""".stripMargin,
    "c10_cross_join" ->
      "SELECT n_name, r_name FROM nation CROSS JOIN region",
    "d11_percentile" ->
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.5) AS p50_qty,
        |quantile_cont(l_quantity, 0.25) AS p25_qty,
        |MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "d16_approx_percentile" ->
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.5) AS p50_exact,
        |TRUE AS sketch_in_bounds
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "d12_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
         |${Det.sqlMoneySum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "d13_salted_agg" ->
      """SELECT l_suppkey, COUNT(*) AS n_rows,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,
    "d14_string_agg" ->
      """SELECT n_regionkey,
        |string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |COUNT(*) AS n_nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,
    "d15_exact_moments" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) *
        |      CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
        |      CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |sx / n AS mean_qty,
        |sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
        |(sxy - sx * sy / n) /
        |  (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_disc
        |FROM a""".stripMargin,
    "t2_typed_aggregator" ->
      """SELECT o_custkey, o_orderkey AS top_orderkey,
        |o_totalprice AS top_price FROM (
        |  SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |         CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |         CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "t1_typed_argmax" ->
      """SELECT o_custkey, o_orderkey AS top_orderkey,
        |o_totalprice AS top_price FROM (
        |  SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |         CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |         CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "j2_bloom_join" ->
      s"""SELECT o_orderkey, ${Det.sqlMoneySum("l_extendedprice")} AS order_revenue,
         |COUNT(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_totalprice > 400000.0
         |GROUP BY o_orderkey""".stripMargin,
    // Benford probabilities interpolated from the same Scala doubles the
    // query plan embeds, so both engines parse identical IEEE values.
    "d24_benford" -> {
      val pcase = "CASE digit " + (1 to 9).map(d =>
        s"WHEN $d THEN ${math.log10(1 + 1.0 / d)}e0").mkString(" ") + " END"
      s"""WITH c AS (SELECT CAST(SUBSTRING(CAST(CAST(floor(l_extendedprice
         |    * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM lineitem WHERE l_extendedprice > 0),
         |obs AS (SELECT digit, COUNT(*) AS n_obs FROM c GROUP BY digit),
         |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
         |SELECT digit, n_obs,
         |  CAST(n AS DOUBLE) * $pcase AS expected,
         |  (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * $pcase) *
         |  (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * $pcase) /
         |  (CAST(n AS DOUBLE) * $pcase) AS chi2_term
         |FROM obs CROSS JOIN tot""".stripMargin
    },
    "d21_mode" ->
      """SELECT grp, qty AS mode_qty, c AS n_at_mode FROM (
        |  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS qty,
        |    COUNT(*) AS c,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY COUNT(*) DESC, CAST(l_quantity AS BIGINT) ASC) AS rn
        |  FROM lineitem GROUP BY 1, 2) WHERE rn = 1""".stripMargin,
    "j7_market_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |capped AS (
        |  SELECT ok, pk FROM (
        |    SELECT ok, pk,
        |      ROW_NUMBER() OVER (PARTITION BY ok ORDER BY pk) AS rn
        |    FROM items) z WHERE rn <= 8),
        |pairs AS (
        |  SELECT a.pk AS p1, b.pk AS p2 FROM capped a JOIN capped b
        |  ON a.ok = b.ok AND a.pk < b.pk)
        |SELECT p1, p2, COUNT(*) AS n_orders FROM pairs GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin,
    "z4_clustering_depth" ->
      """WITH days AS (
        |  SELECT l_orderkey,
        |    datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
        |      AS day
        |  FROM lineitem),
        |fs AS (
        |  SELECT 'date_clustered' AS layout, day // 90 AS file_id,
        |    MIN(day) AS mn, MAX(day) AS mx
        |  FROM days GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'arrival_rr', l_orderkey % 28, MIN(day), MAX(day)
        |  FROM days GROUP BY 1, 2),
        |cover AS (
        |  SELECT layout, unnest(generate_series(mn, mx)) AS day FROM fs),
        |dep AS (SELECT layout, day, COUNT(*) AS depth
        |        FROM cover GROUP BY 1, 2)
        |SELECT layout, COUNT(*) AS n_days, MAX(depth) AS max_depth,
        |  CAST((SUM(depth) * 1000000) // COUNT(*) AS BIGINT)
        |    AS avg_depth_micro
        |FROM dep GROUP BY layout""".stripMargin,
    "d23_group_quantiles" -> {
      val pps = Seq(25, 50, 75, 95)
      val aggFrags = pps.flatMap { pp =>
        val p = s"0.${"%02d".format(pp)}e0"
        Seq(
          s"""MIN(CASE WHEN cum >= CAST(floor((n - 1) * $p) AS BIGINT) + 1
             |  THEN cents END) AS lo$pp""".stripMargin,
          s"""MIN(CASE WHEN cum >= CAST(floor((n - 1) * $p) AS BIGINT) + 2
             |  THEN cents END) AS hi$pp""".stripMargin)
      }
      val selFrags = pps.map { pp =>
        val p = s"0.${"%02d".format(pp)}e0"
        s"""CAST(lo$pp AS DOUBLE) + ((n - 1) * $p - floor((n - 1) * $p)) *
           |  (CAST(COALESCE(hi$pp, lo$pp) AS DOUBLE) -
           |   CAST(lo$pp AS DOUBLE)) AS q$pp""".stripMargin
      }
      s"""WITH hist AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS cents,
         |    COUNT(*) AS c
         |  FROM lineitem GROUP BY 1, 2),
         |cum AS (
         |  SELECT grp, cents, c,
         |    SUM(c) OVER (PARTITION BY grp ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(c) OVER (PARTITION BY grp) AS n
         |  FROM hist),
         |a AS (
         |  SELECT grp, MAX(n) AS n,
         |    ${aggFrags.mkString(",\n    ")}
         |  FROM cum GROUP BY grp)
         |SELECT grp, CAST(n AS BIGINT) AS n,
         |  ${selFrags.mkString(",\n  ")}
         |FROM a""".stripMargin
    },
    "d22_weighted_median" ->
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |c AS (
        |  SELECT grp, cents, w,
        |    SUM(w) OVER (PARTITION BY grp ORDER BY cents, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY grp) AS totw
        |  FROM v)
        |SELECT grp, MIN(cents) AS wmedian_cents FROM c
        |WHERE 2 * cumw >= totw GROUP BY grp""".stripMargin,
    "prof5_join_size_sketch" -> {
      def auditSql(table: String, key: String): String =
        s"""SELECT '$key' AS join_key,
           |  CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS exact_pairs,
           |  CAST(SUM(CASE WHEN
           |      CAST(('0x' || substr(md5('joinsz:' || k), 1, 15))
           |        AS BIGINT) % 16 = 0
           |      THEN CAST(c AS HUGEINT) * c ELSE 0 END) * 16 AS BIGINT)
           |    AS est_pairs,
           |  CASE WHEN SUM(CAST(c AS HUGEINT) * c) > 0 THEN
           |    CAST(FLOOR(
           |      CAST(SUM(CASE WHEN
           |        CAST(('0x' || substr(md5('joinsz:' || k), 1, 15))
           |          AS BIGINT) % 16 = 0
           |        THEN CAST(c AS HUGEINT) * c ELSE 0 END) * 16
           |        AS DOUBLE) /
           |      CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) * 1e6)
           |      AS BIGINT) END AS ratio_micro
           |FROM (SELECT CAST($key AS VARCHAR) AS k, COUNT(*) AS c
           |      FROM $table GROUP BY 1) z""".stripMargin
      s"""${auditSql("orders", "o_orderdate")}
         |UNION ALL
         |${auditSql("lineitem", "l_partkey")}""".stripMargin
    },
    "prof2_key_skew" ->
      """WITH kc AS (
        |  SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1)
        |SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS total_rows,
        |  MAX(c) AS max_cnt,
        |  CAST((MAX(c) * 1000000 * COUNT(*)) // SUM(c) AS BIGINT)
        |    AS skew_ratio_micro
        |FROM kc""".stripMargin,
    "prof1_table_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           |  MIN(v) AS min_v, MAX(v) AS max_v
           |FROM (SELECT CAST($c AS VARCHAR) AS v FROM orders) t""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate").map(one).mkString("\nUNION ALL\n")
    },
    "dq1_expectations" ->
      """WITH checks AS (
        |  SELECT 'o_orderkey_not_null' AS check_name,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1
        |      ELSE 0 END), 0) AS BIGINT) AS violations FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey_unique',
        |    CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        |    FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice_positive',
        |    CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0.0e0 THEN 1
        |      ELSE 0 END), 0) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders_custkey_fk', CAST(COUNT(*) AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT check_name, violations, violations = 0 AS pass
        |FROM checks""".stripMargin,
    "dq8_fd_discovery" -> {
      def fdSql(table: String, lhs: String, rhs: String): String =
        s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
           |  CAST(COUNT(*) AS BIGINT) AS n_lhs,
           |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT $lhs AS k, COUNT(DISTINCT $rhs) AS nd
           |      FROM $table GROUP BY 1) z""".stripMargin
      Seq(fdSql("orders", "o_orderkey", "o_custkey"),
        fdSql("orders", "o_custkey", "o_orderpriority"),
        fdSql("orders", "o_orderdate", "o_orderstatus"),
        fdSql("customer", "c_nationkey", "c_mktsegment"),
        fdSql("nation", "n_nationkey", "n_regionkey"))
        .mkString("\nUNION ALL\n")
    },
    "dq2_fk_graph" -> {
      def edgeSql(name: String, child: String, ck: String,
                  parent: String, pk: String): String =
        s"""SELECT '$name' AS edge, CAST(COUNT(*) AS BIGINT) AS orphans
           |  FROM $child c WHERE c.$ck IS NOT NULL AND NOT EXISTS
           |  (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck)""".stripMargin
      val edges = Seq(
        edgeSql("lineitem_orderkey_fk", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edgeSql("lineitem_partkey_fk", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edgeSql("lineitem_suppkey_fk", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edgeSql("orders_custkey_fk", "orders", "o_custkey",
          "customer", "c_custkey"),
        edgeSql("customer_nationkey_fk", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edgeSql("supplier_nationkey_fk", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        edgeSql("nation_regionkey_fk", "nation", "n_regionkey",
          "region", "r_regionkey"))
      s"""WITH edges AS (
         |${edges.mkString("\n  UNION ALL\n")})
         |SELECT edge, orphans, orphans = 0 AS pass FROM edges""".stripMargin
    },
    "d19_histogram" ->
      s"""SELECT CAST(FLOOR(o_totalprice / 50000.0e0) AS BIGINT) AS bucket,
         |COUNT(*) AS n_orders,
         |${Det.sqlMoneySum("o_totalprice")} AS bucket_total
         |FROM orders GROUP BY 1""".stripMargin,
    "d18_hll_union" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_exact,
        |TRUE AS union_in_bounds FROM lineitem""".stripMargin,
    "d17_robust_outliers" ->
      """WITH q AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |m AS (SELECT grp, quantile_cont(cents, 0.5e0) AS med
        |      FROM q GROUP BY grp),
        |d AS (SELECT q.grp, quantile_cont(abs(q.cents - m.med), 0.5e0) AS mad
        |      FROM q JOIN m ON q.grp = m.grp GROUP BY q.grp)
        |SELECT q.grp, m.med, d.mad, COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN abs(q.cents - m.med) > 3.0e0 * d.mad THEN 1 END)
        |    AS n_outliers
        |FROM q JOIN m ON q.grp = m.grp JOIN d ON q.grp = d.grp
        |GROUP BY q.grp, m.med, d.mad""".stripMargin,
    "j5_salted_skew_join" ->
      s"""SELECT s_nationkey, COUNT(*) AS n_lines,
         |${Det.sqlMoneySum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey""".stripMargin,
    "j4_fuzzy_join" ->
      """WITH ln AS (SELECT c_custkey AS lid, c_name AS lstr FROM customer),
        |rn AS (SELECT s_suppkey AS rid, s_name AS rstr FROM supplier),
        |lg AS (SELECT lid, lstr, unnest(list_distinct(list_transform(
        |  range(1, greatest(length(lstr) - 3, 1) + 1),
        |  i -> substr(lstr, CAST(i AS INTEGER), 4)))) AS g FROM ln),
        |rg AS (SELECT rid, rstr, unnest(list_distinct(list_transform(
        |  range(1, greatest(length(rstr) - 3, 1) + 1),
        |  i -> substr(rstr, CAST(i AS INTEGER), 4)))) AS g FROM rn),
        |keep AS (SELECT g FROM (SELECT g FROM lg UNION ALL SELECT g FROM rg)
        |         GROUP BY g HAVING COUNT(*) <= 50),
        |cand AS (SELECT DISTINCT lid, lstr, rid, rstr
        |         FROM lg JOIN keep USING (g) JOIN rg USING (g))
        |SELECT lid, lstr, rid, rstr,
        |  CAST(levenshtein(lstr, rstr) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(lstr, rstr) <= 5""".stripMargin,
    "j6_pit_lookup" ->
      """WITH dim AS (
        |  SELECT c_custkey,
        |    CAST(i * (2520 // (1 + c_custkey % 3)) AS BIGINT) AS eff_day,
        |    CAST((c_custkey * 7 + i * 13) % 5 AS BIGINT) AS tier
        |  FROM customer,
        |    UNNEST(generate_series(0, CAST(c_custkey % 3 AS INTEGER))) AS t(i)),
        |f AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |         AS BIGINT) AS day
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day, tier
        |FROM f JOIN dim d ON d.c_custkey = f.o_custkey AND d.eff_day <= f.day
        |QUALIFY row_number()
        |  OVER (PARTITION BY o_orderkey ORDER BY d.eff_day DESC) = 1""".stripMargin,
    "inc1_state_merge" ->
      s"""SELECT o_custkey, COUNT(o_totalprice) AS cnt,
         |  ${Det.sqlMoneySum("o_totalprice")} AS total,
         |  MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
         |  ${Det.sqlMoneySum("o_totalprice")} / COUNT(o_totalprice)
         |    AS avg_value
         |FROM orders GROUP BY o_custkey""".stripMargin,
    "z1_zorder_value" ->
      s"""WITH t AS (
         |  SELECT o_orderkey, o_custkey % 1024 AS zx, o_orderkey % 1024 AS zy
         |  FROM orders)
         |SELECT o_orderkey, zx, zy, ${zInterleaveSql("zx", "zy", 10)} AS zv
         |FROM t""".stripMargin,
    "z5_hilbert_value" -> hilbertSql(10),
    "z6_hilbert_vs_morton" -> {
      val span = 1048576L / 28 + 1
      s"""WITH base AS (${hilbertSql(10)}),
         |fh AS (SELECT hv // $span AS file_id,
         |    MIN(zx) AS mnx, MAX(zx) AS mxx,
         |    MIN(zy) AS mny, MAX(zy) AS mxy
         |  FROM base GROUP BY 1),
         |fz AS (SELECT zv // $span AS file_id,
         |    MIN(zx) AS mnx, MAX(zx) AS mxx,
         |    MIN(zy) AS mny, MAX(zy) AS mxy
         |  FROM base GROUP BY 1)
         |SELECT 'hilbert' AS layout, COUNT(*) AS n_files,
         |  CASE WHEN COUNT(*) > 0 THEN CAST(
         |    SUM(CAST((mxx - mnx + 1) * (mxy - mny + 1) AS HUGEINT))
         |    * 1000000 // COUNT(*) AS BIGINT) END AS avg_area_micro,
         |  CAST(MAX((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |    AS max_area
         |FROM fh
         |UNION ALL
         |SELECT 'morton' AS layout, COUNT(*) AS n_files,
         |  CASE WHEN COUNT(*) > 0 THEN CAST(
         |    SUM(CAST((mxx - mnx + 1) * (mxy - mny + 1) AS HUGEINT))
         |    * 1000000 // COUNT(*) AS BIGINT) END AS avg_area_micro,
         |  CAST(MAX((mxx - mnx + 1) * (mxy - mny + 1)) AS BIGINT)
         |    AS max_area
         |FROM fz""".stripMargin
    },
    "z2_skipping_stats" ->
      """SELECT d // 90 AS file_id, COUNT(*) AS n_rows,
        |  MIN(d) AS min_day, MAX(d) AS max_day,
        |  CAST(MAX(d) < 1827 OR MIN(d) >= 2192 AS BIGINT) AS skipped
        |FROM (SELECT CAST(date_diff('day', DATE '1992-01-01',
        |                            CAST(l_shipdate AS DATE)) AS BIGINT) AS d
        |      FROM lineitem)
        |GROUP BY 1""".stripMargin,
    "z3_compaction_plan" ->
      """WITH f AS (
        |  SELECT d // 90 AS file_id, COUNT(*) * 1000 AS bytes
        |  FROM (SELECT CAST(date_diff('day', DATE '1992-01-01',
        |                               CAST(l_shipdate AS DATE)) AS BIGINT)
        |               AS d
        |        FROM lineitem)
        |  GROUP BY 1)
        |SELECT file_id, CAST(bytes AS BIGINT) AS bytes,
        |  CAST(COALESCE(SUM(bytes) OVER (ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 10000000
        |    AS BIGINT) AS bin
        |FROM f""".stripMargin,
    "er1_entity_resolution" ->
      s"""WITH RECURSIVE $componentsSql
        |SELECT c.c_custkey, c.c_name,
        |  COALESCE(p.component, c.c_custkey) AS entity_id
        |FROM customer c LEFT JOIN comp p ON c.c_custkey = p.node""".stripMargin,
    "d41_spearman_by_group" ->
      """WITH li AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |bx AS (SELECT g, x AS v, COUNT(*) AS cnt FROM li GROUP BY 1, 2),
        |rx AS (SELECT g, v,
        |         (SUM(cnt) OVER w - cnt + 1 + SUM(cnt) OVER w) AS r2
        |       FROM bx
        |       WINDOW w AS (PARTITION BY g ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |by_ AS (SELECT g, y AS v, COUNT(*) AS cnt FROM li GROUP BY 1, 2),
        |ry AS (SELECT g, v,
        |         (SUM(cnt) OVER w - cnt + 1 + SUM(cnt) OVER w) AS r2
        |       FROM by_
        |       WINDOW w AS (PARTITION BY g ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |j AS (SELECT li.g, rx.r2 AS a, ry.r2 AS b
        |      FROM li JOIN rx ON li.g = rx.g AND li.x = rx.v
        |              JOIN ry ON li.g = ry.g AND li.y = ry.v),
        |st AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS HUGEINT) AS sa, CAST(SUM(b) AS HUGEINT) AS sb,
        |    SUM(CAST(a AS HUGEINT) * b) AS sab,
        |    SUM(CAST(a AS HUGEINT) * a) AS saa,
        |    SUM(CAST(b AS HUGEINT) * b) AS sbb
        |  FROM j GROUP BY 1)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
        |    CAST(n * sab - sa * sb AS DOUBLE) /
        |    (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
        |     sqrt(CAST(n * sbb - sb * sb AS DOUBLE)))
        |  END AS spearman_rho
        |FROM st""".stripMargin,
    "d39_group_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_value,
        |  CAST(n AS BIGINT) AS n_occurrences
        |FROM (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
        |  FROM lineitem GROUP BY 1, 2) t
        |WHERE rn = 1""".stripMargin,
    "er4_cluster_audit" ->
      s"""WITH RECURSIVE $componentsSql,
        |mem AS (SELECT p.component, c.c_custkey AS id, c.c_name AS nmv
        |        FROM comp p JOIN customer c ON c.c_custkey = p.node),
        |capped AS (SELECT component, id, nmv FROM (
        |  SELECT mem.*, ROW_NUMBER() OVER (PARTITION BY component
        |    ORDER BY id) AS rn FROM mem) z WHERE rn <= 20),
        |intra AS (SELECT a.component,
        |            CAST(levenshtein(a.nmv, b.nmv) AS BIGINT) AS dist
        |          FROM capped a JOIN capped b
        |            ON a.component = b.component AND a.id < b.id),
        |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        |       FROM mem GROUP BY 1),
        |mx AS (SELECT component, MAX(dist) AS max_intra_dist
        |       FROM intra GROUP BY 1)
        |SELECT sz.component, sz.n_members, mx.max_intra_dist
        |FROM sz JOIN mx USING (component)""".stripMargin,
    "er3_blocking_eval" ->
      s"""WITH nm AS (SELECT c_custkey AS id, c_name AS s FROM customer
        |            WHERE c_custkey % 37 = 0),
        |$blockSql,
        |candp AS (SELECT DISTINCT a.id AS lid, b.id AS rid
        |          FROM lg a JOIN keep USING (g) JOIN lg b USING (g)
        |          WHERE a.id < b.id),
        |truth AS (SELECT a.id AS lid, b.id AS rid FROM nm a, nm b
        |          WHERE a.id < b.id AND levenshtein(a.s, b.s) <= 2),
        |found AS (SELECT t.lid, t.rid FROM truth t
        |          JOIN candp c ON t.lid = c.lid AND t.rid = c.rid),
        |counts AS (SELECT
        |  (SELECT COUNT(*) FROM truth) AS n_truth,
        |  (SELECT COUNT(*) FROM found) AS n_found,
        |  (SELECT COUNT(*) FROM candp) AS n_candidates,
        |  (SELECT COUNT(*) FROM nm) AS n_rows)
        |SELECT CAST(n_truth AS BIGINT) AS n_truth,
        |  CAST(n_found AS BIGINT) AS n_found,
        |  CAST(n_candidates AS BIGINT) AS n_candidates,
        |  CAST(CASE WHEN n_truth = 0 THEN 1000000
        |       ELSE n_found * 1000000 // n_truth END AS BIGINT)
        |    AS recall_micro,
        |  CAST(CASE WHEN n_rows > 1
        |       THEN 1000000 - n_candidates * 2000000
        |         // (n_rows * (n_rows - 1))
        |       ELSE 1000000 END AS BIGINT) AS reduction_micro
        |FROM counts""".stripMargin,
    "dq3_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS class_size,
        |  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0e0) AS BIGINT))
        |    AS BIGINT) AS l_distinct,
        |  COUNT(*) >= 15 AS k_anonymous
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "er2_fellegi_sunter" ->
      s"""WITH nm AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |$blockSql,
        |cand AS (SELECT DISTINCT a.id AS lid, a.s AS lstr,
        |                b.id AS rid, b.s AS rstr
        |         FROM lg a JOIN keep USING (g) JOIN lg b USING (g)),
        |pairs AS (SELECT lid, rid,
        |            CAST(levenshtein(lstr, rstr) AS BIGINT) AS dist
        |          FROM cand
        |          WHERE lid < rid AND levenshtein(lstr, rstr) <= 3),
        |sc AS (SELECT p.lid, p.rid, p.dist,
        |  (CASE WHEN p.dist = 0 THEN 6856462
        |        WHEN p.dist <= 2 THEN 3401197 ELSE -1203973 END
        |   + CASE WHEN l.c_nationkey = r.c_nationkey THEN 3113515
        |          ELSE -2261763 END
        |   + CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1446919
        |          ELSE -1673976 END) AS score_micro
        |  FROM pairs p JOIN customer l ON p.lid = l.c_custkey
        |               JOIN customer r ON p.rid = r.c_custkey)
        |SELECT lid, rid, dist, CAST(score_micro AS BIGINT) AS score_micro,
        |  CASE WHEN score_micro >= 9000000 THEN 'match'
        |       WHEN score_micro >= 3000000 THEN 'possible'
        |       ELSE 'nonmatch' END AS decision
        |FROM sc""".stripMargin,
    "d36_chi2_independence" ->
      """WITH cells AS (
        |  SELECT o_orderstatus AS a, o_orderpriority AS b,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rc
        |       FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cc
        |       FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |terms AS (
        |  SELECT cells.a, cells.b, cells.o,
        |    CAST(CAST(cells.o * t.n - ra.rc * cb.cc AS HUGEINT)
        |      * (cells.o * t.n - ra.rc * cb.cc) * 1000000
        |      // (CAST(ra.rc AS HUGEINT) * cb.cc * t.n) AS BIGINT)
        |      AS term_micro
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |FROM terms""".stripMargin,
    "dq4_sequence_integrity" ->
      """WITH l AS (
        |  SELECT user_id, event_id,
        |    LAG(event_id, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_id
        |  FROM events),
        |per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN prev_id IS NOT NULL AND event_id < prev_id
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inv
        |  FROM l GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(SUM(n_inv) AS BIGINT) AS n_inversions,
        |  CAST(SUM(CASE WHEN n_inv > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_affected_users
        |FROM per""".stripMargin,
    "d32_geo_mean" ->
      """WITH li AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |st AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS sc,
        |    CAST(SUM(CAST(FLOOR(ln(CAST(cents AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS slog
        |  FROM li WHERE cents > 0 GROUP BY 1)
        |SELECT grp, n,
        |  CAST((CAST(sc AS HUGEINT) * 1000000) // n AS BIGINT)
        |    AS arith_mean_micro,
        |  CAST(slog // n AS BIGINT) AS log_gm_micronats,
        |  CAST(FLOOR(ln(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
        |    AS BIGINT) >= slog // n - 1 AS am_ge_gm
        |FROM st""".stripMargin,
    "d29_anova" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |             CAST(round(o_totalprice) AS BIGINT) AS v FROM orders),
        |per AS (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(v) AS HUGEINT) AS sg,
        |    SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS sxx,
        |    CAST(CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT)
        |      // COUNT(*) AS BIGINT) AS sg2n
        |  FROM o GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |        CAST(SUM(ng) AS BIGINT) AS n,
        |        CAST(SUM(sg) AS HUGEINT) AS s,
        |        CAST(SUM(sxx) AS BIGINT) AS xx,
        |        CAST(SUM(sg2n) AS BIGINT) AS sum_sg2n
        |      FROM per)
        |SELECT k, n,
        |  CAST(sum_sg2n - CAST(s * s // n AS BIGINT) AS BIGINT) AS ssb,
        |  CAST(xx - sum_sg2n AS BIGINT) AS ssw,
        |  (CAST(sum_sg2n - CAST(s * s // n AS BIGINT) AS DOUBLE) /
        |     CAST(k - 1 AS DOUBLE)) /
        |  (CAST(xx - sum_sg2n AS DOUBLE) / CAST(n - k AS DOUBLE))
        |    AS f_stat
        |FROM t""".stripMargin,
    "d30_winsorize" ->
      """WITH li AS (
        |  SELECT l_returnflag AS grp, l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |rk AS (
        |  SELECT grp, cents,
        |    ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY cents, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM li),
        |cuts AS (
        |  SELECT grp AS c_grp, CAST(MIN(cents) AS BIGINT) AS lo,
        |    CAST(MAX(cents) AS BIGINT) AS hi
        |  FROM rk
        |  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
        |  GROUP BY 1)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(lo) AS BIGINT) AS lo_cents,
        |  CAST(MAX(hi) AS BIGINT) AS hi_cents,
        |  CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_low,
        |  CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clamped_high,
        |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_before_cents,
        |  CAST(SUM(CASE WHEN cents < lo THEN lo
        |                WHEN cents > hi THEN hi
        |                ELSE cents END) // COUNT(*) AS BIGINT)
        |    AS mean_after_cents
        |FROM rk JOIN cuts ON rk.grp = cuts.c_grp
        |GROUP BY grp""".stripMargin,
    "d61_generalized_means" ->
      """WITH li AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |a AS (
        |  SELECT grp, COUNT(*) AS n,
        |    SUM(CAST(CAST(FLOOR(1e6 * ln(CAST(cents AS DOUBLE)))
        |      AS BIGINT) AS HUGEINT)) AS sl,
        |    SUM(CAST(1000000000000 // cents AS HUGEINT)) AS sr
        |  FROM li GROUP BY 1)
        |SELECT grp, n,
        |  CAST(FLOOR(1e6 * exp((CAST(sl AS DOUBLE) / CAST(n AS DOUBLE))
        |    / 1e6)) AS BIGINT) AS geomean_cents_micro,
        |  CAST(CAST(n AS HUGEINT) * 1000000000000000000 // sr AS BIGINT)
        |    AS harmmean_cents_micro
        |FROM a""".stripMargin,
    "d42_lorenz_deciles" -> {
      val shares = (1 to 9).map { k =>
        s"""  CAST((CAST(1000000 AS HUGEINT) *
           |    SUM(CASE WHEN rn <= n * $k // 10
           |      THEN CAST(cents AS HUGEINT)
           |      ELSE CAST(0 AS HUGEINT) END))
           |    // SUM(CAST(cents AS HUGEINT)) AS BIGINT)
           |    AS share_p${k}0_micro""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (
         |  SELECT l_returnflag AS grp, l_orderkey, l_linenumber,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem),
         |rk AS (
         |  SELECT grp, cents,
         |    ROW_NUMBER() OVER (PARTITION BY grp
         |      ORDER BY cents, l_orderkey, l_linenumber) AS rn,
         |    COUNT(*) OVER (PARTITION BY grp) AS n
         |  FROM li)
         |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |$shares
         |FROM rk GROUP BY grp""".stripMargin
    },
    "d45_price_elasticity" ->
      """WITH li AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE CAST(l_quantity AS BIGINT) > 0
        |    AND CAST(FLOOR(l_extendedprice * 100) AS BIGINT) > 0),
        |u AS (SELECT q, cents // q AS unit FROM li
        |      WHERE cents // q > 0),
        |xy AS (
        |  SELECT
        |    CAST(FLOOR(1000000.0 * ln(CAST(unit AS DOUBLE)))
        |      AS BIGINT) AS x,
        |    CAST(FLOOR(1000000.0 * ln(CAST(q AS DOUBLE)))
        |      AS BIGINT) AS y
        |  FROM u),
        |m AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx <> 0 THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE)
        |  END AS elasticity,
        |  CASE WHEN n > 0 THEN CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |    END AS mean_log_q_micro,
        |  CASE WHEN n > 0 THEN CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |    END AS mean_log_p_micro
        |FROM m""".stripMargin,
    "dq7_t_closeness" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0e0) AS BIGINT) AS band
        |  FROM customer),
        |cls AS (SELECT c_nationkey, c_mktsegment, band,
        |        COUNT(*) AS q FROM c GROUP BY 1, 2, 3),
        |gb AS (SELECT band, COUNT(*) AS p FROM c GROUP BY 1),
        |m AS (SELECT COUNT(*) AS m, SUM(p) AS n_total FROM gb),
        |csize AS (SELECT c_nationkey, c_mktsegment, SUM(q) AS n_c
        |          FROM cls GROUP BY 1, 2),
        |grid AS (
        |  SELECT cs.c_nationkey, cs.c_mktsegment, cs.n_c,
        |    g.band, g.p, COALESCE(cl.q, 0) AS q, m.m, m.n_total
        |  FROM csize cs CROSS JOIN gb g
        |  LEFT JOIN cls cl ON cl.c_nationkey = cs.c_nationkey
        |    AND cl.c_mktsegment = cs.c_mktsegment AND cl.band = g.band
        |  CROSS JOIN m),
        |cum AS (
        |  SELECT c_nationkey, c_mktsegment, n_c, m, n_total,
        |    abs(CAST(SUM(q) OVER w AS HUGEINT) * n_total
        |      - CAST(SUM(p) OVER w AS HUGEINT) * n_c) AS term
        |  FROM grid WINDOW w AS (
        |    PARTITION BY c_nationkey, c_mktsegment ORDER BY band ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT c_nationkey, c_mktsegment, n_c, m, n_total,
        |    SUM(term) AS st
        |  FROM cum GROUP BY 1, 2, 3, 4, 5)
        |SELECT c_nationkey, c_mktsegment, CAST(n_c AS BIGINT) AS n_c,
        |  CASE WHEN m > 1 THEN
        |    CAST(st AS DOUBLE) /
        |      CAST(CAST(n_c AS HUGEINT) * n_total * (m - 1) AS DOUBLE)
        |  ELSE 0.0 END AS emd,
        |  CASE WHEN m > 1 THEN
        |    CAST(st AS DOUBLE) /
        |      CAST(CAST(n_c AS HUGEINT) * n_total * (m - 1) AS DOUBLE)
        |  ELSE 0.0 END <= 0.2 AS t_close
        |FROM agg""".stripMargin,
    "d53_cramers_v" ->
      """WITH cells AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS o
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderstatus, CAST(SUM(o) AS BIGINT) AS r
        |      FROM cells GROUP BY 1),
        |c AS (SELECT o_orderpriority, CAST(SUM(o) AS BIGINT) AS c
        |      FROM cells GROUP BY 1),
        |dims AS (SELECT
        |    (SELECT COUNT(*) FROM r) AS nr,
        |    (SELECT COUNT(*) FROM c) AS nc,
        |    (SELECT CAST(SUM(o) AS BIGINT) FROM cells) AS n),
        |q AS (SELECT n, nr, nc,
        |    CAST(FLOOR(
        |      CAST(CAST(n AS HUGEINT) * o - CAST(r.r AS HUGEINT) * c.c
        |        AS DOUBLE) *
        |      CAST(CAST(n AS HUGEINT) * o - CAST(r.r AS HUGEINT) * c.c
        |        AS DOUBLE) /
        |      CAST(CAST(n AS HUGEINT) * r.r * c.c AS DOUBLE) * 1e6)
        |      AS BIGINT) AS qc
        |  FROM cells JOIN r USING (o_orderstatus)
        |    JOIN c USING (o_orderpriority) CROSS JOIN dims),
        |agg AS (SELECT n, nr, nc, SUM(CAST(qc AS HUGEINT)) AS sq
        |        FROM q GROUP BY 1, 2, 3)
        |SELECT n, CAST(nr AS BIGINT) AS n_rows,
        |  CAST(nc AS BIGINT) AS n_cols,
        |  CAST(sq AS DOUBLE) / 1e6 AS chi2,
        |  CASE WHEN n > 0 AND least(nr, nc) > 1 THEN
        |    sqrt(CAST(sq AS DOUBLE) / 1e6 /
        |      CAST(CAST(n AS HUGEINT) * (least(nr, nc) - 1) AS DOUBLE))
        |  END AS cramers_v
        |FROM agg""".stripMargin,
    "d54_levene" ->
      s"""WITH ${priorityRankSql("ng")},
        |meds AS (SELECT grp,
        |    MIN(CASE WHEN rn = (ng + 1) // 2 THEN v END) +
        |    MIN(CASE WHEN rn = (ng + 2) // 2 THEN v END) AS med2
        |  FROM rk
        |  WHERE rn = (ng + 1) // 2 OR rn = (ng + 2) // 2
        |  GROUP BY 1),
        |z AS (SELECT o.grp, abs(2 * v - med2) AS z
        |      FROM o JOIN meds USING (grp)),
        |per AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(z) AS HUGEINT) AS sg,
        |    SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS sxx,
        |    CAST(CAST(SUM(z) AS HUGEINT) * CAST(SUM(z) AS HUGEINT)
        |      // COUNT(*) AS BIGINT) AS sg2n
        |  FROM z GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |        CAST(SUM(ng) AS BIGINT) AS n,
        |        CAST(SUM(sg) AS HUGEINT) AS sz,
        |        CAST(SUM(sxx) AS HUGEINT) AS xx,
        |        CAST(SUM(sg2n) AS BIGINT) AS sum_sg2n
        |      FROM per)
        |SELECT k, n,
        |  CAST(sum_sg2n - CAST(sz * sz // n AS BIGINT) AS BIGINT) AS ssb,
        |  CAST(xx - sum_sg2n AS BIGINT) AS ssw,
        |  CASE WHEN n > k AND CAST(xx - sum_sg2n AS BIGINT) > 0 THEN
        |    (CAST(sum_sg2n - CAST(sz * sz // n AS BIGINT) AS DOUBLE) /
        |       CAST(k - 1 AS DOUBLE)) /
        |    (CAST(xx - sum_sg2n AS DOUBLE) / CAST(n - k AS DOUBLE))
        |  END AS w_stat
        |FROM t""".stripMargin,
    "d55_two_way_anova" ->
      """WITH li AS (SELECT l_returnflag AS a, l_linestatus AS b,
        |    CAST(round(l_extendedprice) AS BIGINT) AS v FROM lineitem),
        |cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab,
        |    CAST(SUM(v) AS HUGEINT) AS s_ab,
        |    SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS sxx,
        |    CAST(CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT)
        |      // COUNT(*) AS BIGINT) AS s2n
        |  FROM li GROUP BY 1, 2),
        |bya AS (SELECT CAST(COUNT(*) AS BIGINT) AS ka,
        |    CAST(SUM(sa2n) AS BIGINT) AS ss_a_raw
        |  FROM (SELECT CAST(CAST(SUM(s_ab) AS HUGEINT) *
        |          CAST(SUM(s_ab) AS HUGEINT) // SUM(n_ab) AS BIGINT)
        |          AS sa2n
        |        FROM cells GROUP BY a)),
        |byb AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb,
        |    CAST(SUM(sb2n) AS BIGINT) AS ss_b_raw
        |  FROM (SELECT CAST(CAST(SUM(s_ab) AS HUGEINT) *
        |          CAST(SUM(s_ab) AS HUGEINT) // SUM(n_ab) AS BIGINT)
        |          AS sb2n
        |        FROM cells GROUP BY b)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_cells,
        |    CAST(SUM(n_ab) AS BIGINT) AS n,
        |    CAST(SUM(s_ab) AS HUGEINT) AS s,
        |    CAST(SUM(sxx) AS HUGEINT) AS xx,
        |    CAST(SUM(s2n) AS BIGINT) AS sum_s2n FROM cells),
        |fin AS (SELECT n, ka, kb, k_cells,
        |    ss_a_raw - CAST(s * s // n AS BIGINT) AS ss_a,
        |    ss_b_raw - CAST(s * s // n AS BIGINT) AS ss_b,
        |    sum_s2n - CAST(s * s // n AS BIGINT) AS ss_cells,
        |    CAST(xx - sum_s2n AS BIGINT) AS ss_within
        |  FROM tot CROSS JOIN bya CROSS JOIN byb)
        |SELECT n, ka, kb, k_cells, ss_a, ss_b, ss_cells, ss_within,
        |  ss_cells - ss_a - ss_b AS interaction_gap,
        |  CASE WHEN n > k_cells AND ss_within > 0 AND k_cells > 1 THEN
        |    (CAST(ss_cells AS DOUBLE) / CAST(k_cells - 1 AS DOUBLE)) /
        |    (CAST(ss_within AS DOUBLE) / CAST(n - k_cells AS DOUBLE))
        |  END AS f_cells
        |FROM fin""".stripMargin,
    "d60_trimmed_mean" ->
      s"""WITH ${priorityRankSql("n")},
        |rk2 AS (SELECT grp, v, rn, n, n * 5 // 100 AS t FROM rk)
        |SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(t * 2) AS BIGINT) AS n_trimmed,
        |  CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_dollars,
        |  CAST(SUM(CASE WHEN rn > t AND rn <= n - t THEN v END) //
        |    NULLIF(SUM(CASE WHEN rn > t AND rn <= n - t
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS trimmed_mean_dollars
        |FROM rk2 GROUP BY 1""".stripMargin,
    "d59_median_ci" ->
      s"""WITH ${priorityRankSql("n")},
        |rk2 AS (SELECT grp, v, rn, n,
        |    greatest(1, CAST(FLOOR((CAST(n AS DOUBLE) -
        |      1.96e0 * sqrt(CAST(n AS DOUBLE))) / 2.0e0) AS BIGINT))
        |      AS lo_rk,
        |    least(n, CAST(CEIL(1.0e0 + (CAST(n AS DOUBLE) +
        |      1.96e0 * sqrt(CAST(n AS DOUBLE))) / 2.0e0) AS BIGINT))
        |      AS hi_rk
        |  FROM rk)
        |SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN rn = (n + 1) // 2 THEN v END) +
        |    MIN(CASE WHEN rn = (n + 2) // 2 THEN v END) AS med2,
        |  MIN(CASE WHEN rn = lo_rk THEN v END) AS ci_lo,
        |  MIN(CASE WHEN rn = hi_rk THEN v END) AS ci_hi
        |FROM rk2
        |WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |  OR rn = lo_rk OR rn = hi_rk
        |GROUP BY 1""".stripMargin,
    "d57_gamma_moments" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(round(o_totalprice) AS BIGINT) AS v FROM orders),
        |st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(v) AS HUGEINT) AS sx,
        |    SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS sxx
        |  FROM o GROUP BY 1)
        |SELECT grp, n,
        |  CASE WHEN n > 0 THEN
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) END AS mean,
        |  CASE WHEN n > 1 THEN
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) END AS variance,
        |  CASE WHEN n > 1 AND (CAST(n AS HUGEINT) * sxx - sx * sx) > 0
        |    THEN (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) /
        |       CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)) END AS shape,
        |  CASE WHEN n > 1 AND (CAST(n AS HUGEINT) * sxx - sx * sx) > 0
        |    THEN (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      (CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) /
        |       CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)) END AS rate
        |FROM st""".stripMargin,
    "d58_cvm_two_sample" ->
      """WITH o AS (
        |  SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS dollar,
        |    o_orderpriority = '1-URGENT' AS is_a
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |bv AS (SELECT dollar,
        |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS c2
        |  FROM o GROUP BY 1),
        |cum AS (SELECT dollar, c1, c2,
        |    SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
        |  FROM bv
        |  WINDOW w AS (ORDER BY dollar
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2 FROM bv),
        |agg AS (SELECT n1, n2,
        |    SUM(CAST(c1 + c2 AS HUGEINT) *
        |      (CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1) *
        |      (CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1))
        |      AS ssum
        |  FROM cum CROSS JOIN tot GROUP BY 1, 2),
        |fin AS (SELECT n1, n2,
        |    CASE WHEN n1 > 0 AND n2 > 0 THEN
        |      CAST(ssum AS DOUBLE) /
        |      CAST(CAST(n1 AS HUGEINT) * n2 *
        |        (CAST(n1 + n2 AS HUGEINT) * (n1 + n2)) AS DOUBLE) END
        |      AS t_stat
        |  FROM agg)
        |SELECT n1, n2, t_stat,
        |  COALESCE(t_stat > 0.461e0, FALSE) AS reject_5pct
        |FROM fin""".stripMargin,
    "d52_ks_two_sample" ->
      """WITH o AS (
        |  SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS dollar,
        |    o_orderpriority = '1-URGENT' AS is_a
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |bv AS (SELECT dollar,
        |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS c2
        |  FROM o GROUP BY 1),
        |cum AS (SELECT dollar,
        |    SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
        |  FROM bv
        |  WINDOW w AS (ORDER BY dollar
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2 FROM bv),
        |mx AS (SELECT n1, n2,
        |    MAX(abs(CAST(cum1 AS HUGEINT) * n2
        |      - CAST(cum2 AS HUGEINT) * n1)) AS dmax
        |  FROM cum CROSS JOIN tot GROUP BY 1, 2)
        |SELECT n1, n2,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(dmax * 1000000 // (CAST(n1 AS HUGEINT) * n2)
        |      AS BIGINT) END AS d_micro,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(FLOOR(1.3581 * sqrt(CAST(n1 + n2 AS DOUBLE) /
        |      CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) * 1e6)
        |      AS BIGINT) END AS crit_micro,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST(dmax * 1000000 // (CAST(n1 AS HUGEINT) * n2)
        |      AS BIGINT) >
        |    CAST(FLOOR(1.3581 * sqrt(CAST(n1 + n2 AS DOUBLE) /
        |      CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) * 1e6)
        |      AS BIGINT) END AS reject_h0
        |FROM mx""".stripMargin,
    "d48_jarque_bera" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(ROUND(o_totalprice) AS BIGINT) AS x
        |  FROM orders),
        |c AS (SELECT grp, CAST(SUM(x) // COUNT(*) AS BIGINT) AS c
        |      FROM o GROUP BY 1),
        |m AS (SELECT o.grp, COUNT(*) AS n,
        |    SUM(CAST(x - c AS HUGEINT)) AS sy,
        |    SUM(CAST((x - c) * (x - c) AS HUGEINT)) AS s2,
        |    SUM(CAST((x - c) * (x - c) * (x - c) AS HUGEINT)) AS s3,
        |    SUM(CAST(x - c AS HUGEINT) * (x - c) * (x - c) * (x - c))
        |      AS s4
        |  FROM o JOIN c USING (grp) GROUP BY 1),
        |t AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS d,
        |    CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
        |    CAST(s4 AS DOUBLE) AS s4d
        |  FROM m),
        |u AS (SELECT grp, n, nd,
        |    s2d / nd - d * d AS m2,
        |    s3d / nd - 3.0 * d * (s2d / nd) + 2.0 * d * d * d AS m3,
        |    s4d / nd - 4.0 * d * (s3d / nd) + 6.0 * d * d * (s2d / nd)
        |      - 3.0 * d * d * d * d AS m4
        |  FROM t),
        |v AS (SELECT grp, n, nd,
        |    CASE WHEN n > 1 AND m2 > 0 THEN m3 / sqrt(m2 * m2 * m2)
        |      END AS skew,
        |    CASE WHEN n > 1 AND m2 > 0 THEN m4 / (m2 * m2) - 3.0
        |      END AS kurt_excess
        |  FROM u)
        |SELECT grp, n, skew, kurt_excess,
        |  CASE WHEN skew IS NOT NULL THEN nd / 6.0 *
        |    (skew * skew + kurt_excess * kurt_excess / 4.0) END AS jb
        |FROM v""".stripMargin,
    "d46_kruskal_wallis" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grp, o_orderkey,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |rk AS (SELECT grp, RANK() OVER (ORDER BY cents) AS rnk,
        |    COUNT(*) OVER (PARTITION BY cents) AS cnt FROM o),
        |per AS (SELECT grp, COUNT(*) AS ng,
        |    SUM(CAST(2 * rnk + cnt - 1 AS HUGEINT)) AS s2r
        |  FROM rk GROUP BY 1),
        |ties AS (
        |  SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0) AS tsum
        |  FROM (SELECT COUNT(*) AS t FROM o GROUP BY cents)),
        |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
        |    COUNT(*) AS k_groups FROM per),
        |terms AS (SELECT n, k_groups,
        |    SUM(CAST(CAST(FLOOR(
        |      (3.0 * CAST(s2r * s2r AS DOUBLE)) /
        |        (CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) *
        |          CAST(ng AS DOUBLE)) * 1e6) AS BIGINT) AS HUGEINT))
        |      AS sq
        |  FROM per CROSS JOIN tot GROUP BY 1, 2),
        |fin AS (SELECT n, k_groups,
        |    CAST(sq AS DOUBLE) / 1e6 - 3.0 * CAST(n + 1 AS DOUBLE)
        |      AS h_stat,
        |    1.0 - CAST(tsum AS DOUBLE) /
        |      CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE) AS tie_d
        |  FROM terms CROSS JOIN ties)
        |SELECT n, CAST(k_groups AS BIGINT) AS k_groups, h_stat,
        |  CASE WHEN n > 1 AND tie_d > 0 THEN h_stat / tie_d END
        |    AS h_adjusted
        |FROM fin""".stripMargin,
    "d44_hill_estimator" ->
      """WITH o AS (
        |  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey
        |  FROM orders
        |  WHERE CAST(FLOOR(o_totalprice * 100) AS BIGINT) > 0),
        |rn AS (SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey) AS rn
        |  FROM o),
        |thr AS (SELECT MIN(cents) AS xk1 FROM rn WHERE rn = 101),
        |top AS (SELECT cents, xk1 FROM rn CROSS JOIN thr
        |        WHERE rn <= 100),
        |ag AS (SELECT COUNT(*) AS n_top, MIN(xk1) AS xk1,
        |    SUM(CAST(FLOOR(1000000.0 * ln(CAST(cents AS DOUBLE)
        |      / CAST(xk1 AS DOUBLE))) AS BIGINT)) AS lsum
        |  FROM top)
        |SELECT CAST(n_top AS BIGINT) AS n_top,
        |  CAST(xk1 AS BIGINT) AS xk1,
        |  CASE WHEN n_top > 0 THEN CAST(lsum // n_top AS BIGINT)
        |    END AS gamma_micro,
        |  CASE WHEN n_top > 0 THEN
        |    CASE WHEN lsum // n_top > 0 THEN
        |      CAST(1000000000000 // (lsum // n_top) AS BIGINT) END
        |  END AS alpha_micro
        |FROM ag""".stripMargin,
    "d43_theil_decomposition" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE CAST(FLOOR(o_totalprice * 100) AS BIGINT) > 0),
        |grp AS (SELECT priority, COUNT(*) AS n_g,
        |        CAST(SUM(cents) AS HUGEINT) AS s_g FROM o GROUP BY 1),
        |tot AS (SELECT SUM(n_g) AS n, SUM(s_g) AS s FROM grp),
        |terms AS (
        |  SELECT priority,
        |    SUM(CAST(FLOOR(1000000.0 * (
        |      (CAST(cents AS DOUBLE) * CAST(n_g AS DOUBLE)
        |        / CAST(s_g AS DOUBLE)) *
        |      ln(CAST(cents AS DOUBLE) * CAST(n_g AS DOUBLE)
        |        / CAST(s_g AS DOUBLE)))) AS BIGINT)) AS sum_term
        |  FROM o JOIN grp USING (priority) GROUP BY 1)
        |SELECT grp.priority, CAST(grp.n_g AS BIGINT) AS n_orders,
        |  CAST(grp.s_g AS BIGINT) AS sum_cents,
        |  CAST(FLOOR(1000000.0 * (CAST(s_g AS DOUBLE)
        |    / CAST(s AS DOUBLE))) AS BIGINT) AS share_micro,
        |  CAST(FLOOR(CAST(sum_term AS DOUBLE) / CAST(n_g AS DOUBLE))
        |    AS BIGINT) AS theil_within_micro,
        |  CAST(FLOOR(1000000.0 * ((CAST(s_g AS DOUBLE)
        |      / CAST(s AS DOUBLE)) *
        |    ln((CAST(s_g AS DOUBLE) * CAST(n AS DOUBLE))
        |      / (CAST(s AS DOUBLE) * CAST(n_g AS DOUBLE)))))
        |    AS BIGINT) AS between_term_micro
        |FROM grp JOIN terms USING (priority) CROSS JOIN tot""".stripMargin,
    "c14_join_fanout_audit" ->
      """WITH lk AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT)
        |              AS n_left FROM lineitem GROUP BY 1),
        |rk AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT)
        |         AS n_right FROM orders GROUP BY 1),
        |j AS (SELECT COALESCE(l.n_left, 0) AS n_left,
        |        COALESCE(r.n_right, 0) AS n_right
        |      FROM lk l FULL OUTER JOIN rk r ON l.key = r.key)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(n_left * n_right) AS BIGINT) AS join_rows,
        |  CAST(MAX(n_left * n_right) AS BIGINT) AS max_fanout,
        |  CAST(SUM(CASE WHEN n_left > 0 AND n_right > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched_keys,
        |  CAST(SUM(CASE WHEN n_right = 0 THEN n_left ELSE 0 END)
        |    AS BIGINT) AS left_orphan_rows,
        |  CAST(SUM(CASE WHEN n_left = 0 THEN n_right ELSE 0 END)
        |    AS BIGINT) AS right_orphan_rows
        |FROM j""".stripMargin,
    "d28_bitmask_agg" ->
      """WITH m AS (
        |  SELECT l_orderkey,
        |    bit_or(CAST(1 AS BIGINT) << l_linenumber) AS line_mask,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT line_mask, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(MAX(n_lines) AS BIGINT) AS max_lines
        |FROM m GROUP BY 1""".stripMargin,
    "prof3_column_entropy" -> {
      def one(c: String): String =
        s"""SELECT '$c' AS col_name, CAST(SUM(nv) AS BIGINT) AS n,
           |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
           |  CAST((SUM(nv) *
           |      CAST(FLOOR(ln(CAST(SUM(nv) AS DOUBLE)) * 1e6) AS BIGINT)
           |    - SUM(nv * CAST(FLOOR(ln(CAST(nv AS DOUBLE)) * 1e6)
           |        AS BIGINT))) // SUM(nv) AS BIGINT) AS entropy_micro
           |FROM (SELECT CAST($c AS VARCHAR) AS v, COUNT(*) AS nv
           |      FROM orders GROUP BY 1) t""".stripMargin
      Seq("o_orderstatus", "o_orderpriority", "o_custkey").map(one)
        .mkString("", "\nUNION ALL\n", "")
    },
  )

  /** Generated Morton-interleave SQL: bit b of x → position 2b, of y →
    * 2b+1 — target bits disjoint, so OR-combining terms mirrors
    * [[graft.operators.ZOrder.zValue]] exactly. */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(b => Seq(
      s"((($x >> $b) & 1) << ${b * 2})",
      s"((($y >> $b) & 1) << ${b * 2 + 1})")).mkString(" | ")

  /** z5 oracle: the Hilbert rotate/flip recurrence unrolled into one
    * CTE step per level — mechanically generated so the SQL is the
    * SAME recurrence [[graft.functions.HilbertIndex.compute]] runs
    * (full-grid n−1−x flips: no negative intermediates, no
    * two's-complement bitwise questions across engines). */
  private def hilbertSql(bits: Int): String = {
    val n = 1L << bits
    val steps = (0 until bits).map { i =>
      val s = n >> (i + 1)
      s"""h${i + 1} AS (SELECT o_orderkey, zx, zy,
         |  CASE WHEN (y & $s) != 0 THEN x
         |       WHEN (x & $s) != 0 THEN ${n - 1} - y ELSE y END AS x,
         |  CASE WHEN (y & $s) != 0 THEN y
         |       WHEN (x & $s) != 0 THEN ${n - 1} - x ELSE x END AS y,
         |  d + ${s * s} * (CASE WHEN (x & $s) = 0 AND (y & $s) = 0
         |       THEN 0 WHEN (x & $s) = 0 THEN 1
         |       WHEN (y & $s) != 0 THEN 2 ELSE 3 END) AS d
         |FROM h$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT o_orderkey, o_custkey % 1024 AS zx,
       |    o_orderkey % 1024 AS zy
       |  FROM orders),
       |h0 AS (SELECT o_orderkey, zx, zy, CAST(zx AS BIGINT) AS x,
       |  CAST(zy AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM t),
       |$steps
       |SELECT o_orderkey, zx, zy, d AS hv,
       |  ${zInterleaveSql("zx", "zy", bits)} AS zv
       |FROM h$bits""".stripMargin
  }
}
