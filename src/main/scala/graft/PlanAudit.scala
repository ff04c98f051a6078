package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}

/** Measured plan gates over the query catalog: window funnels and scale
  * hazards, read from one build and one run of each query
  * ([[PlanAudit.auditQuery]]). FunnelSpec and ScaleGateSpec assert on
  * them at sf0.001, [[PreflightSweep]] at sf0.01.
  */
object PlanAudit {

  /** Gate bounds, shared by the specs and [[PreflightSweep]]: a window
    * flags below 32 key groups when fed more than 512 rows per group; a
    * single-partition exchange flags above 512 rows, a nested-loop or
    * cartesian side above 64 (rationale in ScaleGateSpec). */
  val MinGroups = 32L; val RowsPerGroup = 512L
  val SinglePartBound = 512L; val LoopBound = 64L

  /** One catalog query's gate facts from one build and one run: the
    * seconds spent building the frame (including any jobs an eager
    * operator runs then), the seconds of its one execution, and the
    * hazards and window funnels that flagged. */
  case class QueryAudit(buildSec: Double, runSec: Double,
                        hazards: Seq[Hazard], funnels: Seq[WindowShape])

  /** Builds `query` over `dir`, runs it once ([[scaleHazardsTimed]]) and
    * measures the same frame's windows ([[windowFunnels]]). Callers run
    * it with AQE off, inside their own GlobalRank scope: construction
    * pins layouts that the run and the window counts still read. */
  def auditQuery(spark: SparkSession,
                 query: (SparkSession, String) => DataFrame,
                 dir: String): QueryAudit = {
    val (df, buildSec, runSec, hazards) = buildAndRun(spark, query, dir)
    QueryAudit(buildSec, runSec, hazards,
      windowFunnels(df, MinGroups, RowsPerGroup))
  }

  /** [[auditQuery]] without the window counts: the frame, its build and
    * run seconds, and its hazards. Construction is inside the clock:
    * eager-construction queries (trainer collect loops, graph/dedup
    * checkpoint chains) do their dominant, SF-dependent work while
    * the frame is built, and a clock that starts at execute() reads them
    * near zero (lr1's 3-step training loop "measured" 0.015 s that way),
    * blinding the superlinear gate to the whole class. */
  private[graft] def buildAndRun(spark: SparkSession,
      query: (SparkSession, String) => DataFrame, dir: String)
  : (DataFrame, Double, Double, Seq[Hazard]) = {
    val t0 = System.nanoTime()
    val df = query(spark, dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val (hazards, runSec) =
      scaleHazardsTimed(df, SinglePartBound, LoopBound)
    (df, buildSec, runSec, hazards)
  }

  /** One window's measured shape: partition-key SQL, the distinct key
    * count (= the window's parallelism ceiling — an unpartitioned window
    * counts as 1), and its input row count. */
  case class WindowShape(keys: Seq[String], groups: Long, rows: Long) {
    def describe: String =
      s"partitionBy(${keys.mkString(", ")}) groups=$groups rows=$rows"
  }

  /** MEASURED window-funnel audit — the executable form of SCALE.md's
    * single-partition-window review rule. A window partitioned by a
    * low-cardinality key (3 return flags, 2 experiment arms) over a
    * corpus-sized frame is correct today and dead at 100×: parallelism
    * = #groups no matter how many executors exist — and the shape is
    * invisible to a static plan check because key cardinality is a DATA
    * property. So measure it: collect every logical [[Window]] in the
    * plan, wrap its child back into a DataFrame, and count input rows
    * and distinct partition-key values. Flag when the parallelism
    * ceiling is below `minGroups` AND the input exceeds
    * `groups × rowsPerGroup` (i.e. the funnel is fed more than a
    * bounded-domain frame). Windows over domain-bounded frames (score
    * sweeps, calendar days, decile tables) stay under the row bound and
    * pass; anything flagged must either move to
    * [[graft.operators.GlobalRank]] or be added to the audited
    * exception list that PlanSpec pins against SCALE.md's table. */
  def windowFunnels(df: DataFrame, minGroups: Long, rowsPerGroup: Long)
  : Seq[WindowShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    val shapes = wins.flatMap { w =>
      // GlobalRank's running-sum pass windows by its reserved `__pid`
      // (= spark_partition_id of the pinned range layout): cardinality
      // is the session's parallelism BY CONSTRUCTION — it scales with
      // the cluster, which is exactly what this gate is measuring for.
      // The name is safe to key on: GlobalRank require()s it absent
      // from user frames.
      if (w.partitionSpec.exists(_.references.exists(_.name == "__pid")))
        None
      else windowShape(df, w, minGroups, rowsPerGroup)
    }
    // Layout lifecycle: this helper executes per-window counting
    // queries against frames whose GlobalRank layouts were pinned at
    // the CALLER's query construction — the caller owns the query
    // boundary and wraps construction + this measurement in
    // GlobalRank.withScope (PreflightSweep, the specs); a library
    // helper never frees layouts it does not own.
    shapes
  }

  private def windowShape(
      df: DataFrame,
      w: org.apache.spark.sql.catalyst.plans.logical.Window,
      minGroups: Long, rowsPerGroup: Long): Option[WindowShape] = {
      val child = DatasetBridge.ofRows(df, w.child)
      val (groups, rows) =
        if (w.partitionSpec.isEmpty) (1L, child.count())
        else {
          val r = child.select(
            count_distinct(
              struct(w.partitionSpec.map(ColumnBridge.column): _*))
              .as("g"),
            count(lit(1)).as("n")).head()
          (r.getLong(0), r.getLong(1))
        }
      if (groups < minGroups && rows > groups * rowsPerGroup)
        Some(WindowShape(w.partitionSpec.map(_.sql), groups, rows))
      else None
  }

  /** One measured plan hazard: the scale-killer class, the MEASURED row
    * count feeding it, and where it sat in the plan. */
  case class Hazard(kind: String, rows: Long, detail: String) {
    def describe: String = s"$kind rows=$rows $detail"
  }

  /** MEASURED scale-hazard sweep — the FunnelSpec pattern generalized
    * from windows to the other plan shapes that are correct at test SF
    * and dead at 100× (round-8 directive 1). Three classes, each gated
    * on MEASURED row counts (read from the executed plan's SQL metrics
    * after running the query once), because boundedness is a DATA
    * property invisible to static plan checks:
    *
    *  - `single-partition-exchange`: a shuffle whose output partitioning
    *    is `SinglePartition` funnels its whole input through one task.
    *    Legit at any scale when the input is already reduced (a global
    *    agg's partial rows: ≤ #partitions); fatal when a corpus-sized
    *    frame flows in. Gate: records written > `singlePartBound`.
    *  - `cartesian-product`: a non-broadcast nested-loop join shuffles
    *    nothing but computes |L|·|R| partition pairs — admissible only
    *    when one side is domain-bounded (and then it should have been
    *    broadcast). Gate: min(side rows) > `loopBound`.
    *  - `nested-loop-broadcast`: a BroadcastNestedLoopJoin re-scans its
    *    broadcast side per streamed row AND ships it to every executor —
    *    fine for scalar stats frames and ≤64-row query sets, fatal for a
    *    corpus-proportional side (150 customers at sf0.001 is 150M at
    *    petabyte SF). Gate: build-side rows > `loopBound`.
    *
    * Metrics require the plan to have EXECUTED: callers run with AQE off
    * (so the executed plan is the static shape, with no runtime skew
    * rescue flattering the audit) and this method drives the plan's own
    * RDD once before reading. A MISSING metric key reports -1 and FLAGS.
    * A metric that exists but never fired reads as its 0 init value —
    * indistinguishable from a fired zero (`SQLMetric` is created with
    * initValue 0 and `isZero` compares against it), so an exchange in a
    * short-circuited subtree passes like any zero-row exchange. That is
    * the measured truth at this fixture (zero rows flowed); growth that
    * would wake such a subtree is what the sf0.01 preflight sweep and
    * the cross-SF timing gate ([[graft.PreflightSweep]]) exist to catch.
    * Returns the hazards and the wall seconds of that one execution
    * (metric traversal excluded). */
  def scaleHazardsTimed(df: DataFrame, singlePartBound: Long,
                        loopBound: Long): (Seq[Hazard], Double) = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

    val qe = df.queryExecution
    // execute THIS plan instance so its metrics populate (df.count()
    // would build and run a different plan)
    val t0 = System.nanoTime()
    qe.executedPlan.execute().count()
    val execSec = (System.nanoTime() - t0) / 1e9
    // layout lifecycle: the caller owns the query boundary and wraps
    // construction + this execution in GlobalRank.withScope (see the
    // windowFunnels note — same contract, round-11 directive 6)

    def metricOf(p: SparkPlan, key: String): Long =
      p.metrics.get(key).map(_.value).getOrElse(-1L)
    // a node's produced row count = first pre-order descendant exposing
    // numOutputRows (codegen wrappers don't; their head operator does)
    def outRows(p: SparkPlan): Long =
      p.collectFirst {
        case n if n.metrics.contains("numOutputRows") =>
          n.metrics("numOutputRows").value
      }.getOrElse(-1L)
    def buildRows(p: SparkPlan): Long =
      p.collectFirst {
        case b: BroadcastExchangeExec => metricOf(b, "numOutputRows")
        case r: ReusedExchangeExec => metricOf(r.child, "numOutputRows")
      }.getOrElse(outRows(p))

    val roots = qe.executedPlan +: qe.executedPlan.subqueriesAll
    val hazards = roots.flatMap { root =>
      root.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition =>
          // records WRITTEN to this exchange is the exact funnel input;
          // the child's numOutputRows over-reports it (rows counted
          // before a local limit, or accumulated across subtree
          // re-executions), so it is only the absent-metric fallback
          val w = metricOf(e, "shuffleRecordsWritten")
          val rows = if (w >= 0) w else outRows(e.child)
          if (rows > singlePartBound || rows < 0)
            Some(Hazard("single-partition-exchange", rows,
              s"into ${e.child.nodeName}"))
          else None
        case c: CartesianProductExec =>
          val l = outRows(c.left); val r = outRows(c.right)
          val mn = math.min(l, r)
          if (mn > loopBound || mn < 0)
            Some(Hazard("cartesian-product", mn, s"left=$l right=$r"))
          else None
        case j: BroadcastNestedLoopJoinExec =>
          val side = j.buildSide match {
            case BuildLeft => j.left
            case BuildRight => j.right
          }
          val b = buildRows(side)
          if (b > loopBound || b < 0)
            Some(Hazard("nested-loop-broadcast", b,
              s"build=${j.buildSide} ${j.joinType}"))
          else None
      }.flatten
    }
    (hazards, execSec)
  }
}

/** Shared pieces of the allowlisted catalog sweep ([[PreflightSweep]])
  * and the bench warm-up: the warm-up query set, the SPARK_GRAFT_ONLY
  * selection, and the stale-allowlist rule (an allowlisted query that
  * no longer flags would otherwise keep its exemption forever, silently
  * masking a future regression of that query — the same
  * allowlist-can-only-shrink honesty rule FunnelSpec/ScaleGateSpec
  * assert in CI). */
private[graft] object AllowlistedSweep {

  /** Warm-up set shared by every timed/measured sweep: one scan +
    * shuffle + window + array/HOF codegen first-touch apiece, so JIT/
    * codegen cost is never billed to whichever query runs first (the
    * Bench rule). One list — a divergent copy per sweep would let a
    * warm-up fix silently miss the path preflight actually gates on. */
  val WarmupQueries = Seq("e6_running_sum", "d6_group_sum", "h2_array_parse")

  /** SPARK_GRAFT_ONLY-filtered catalog selection plus the unmissable
    * partial-sweep banner — a stale filter left exported in a shell
    * would silently turn a gating sweep into a near-empty pass, so
    * every sweep that honors the variable announces it the same way. */
  def selectWithBanner()
  : Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    only.foreach { o =>
      println(s"### PARTIAL SWEEP (SPARK_GRAFT_ONLY=${
        o.toSeq.sorted.mkString(",")}): ${selected.size}/${
        SparkEntry.queries.size} queries — NOT a full-catalog gate ###")
    }
    selected
  }

  /** The stale-allowlist honesty rule, shared verbatim by every gating
    * sweep: an entry is stale iff it was allowlisted, RAN, did not
    * flag, and did not ERROR (a query that threw tells us nothing
    * about its flag status — "remove the exemption" would be wrong
    * advice). Prints each entry with `prefix` ("" or "TAG ") and
    * returns them. */
  def staleEntries(prefix: String, allowed: Set[String],
                   ran: Set[String], flagged: collection.Set[String],
                   errored: collection.Set[String]): Seq[String] = {
    val stale = ((allowed & ran) -- flagged -- errored).toSeq.sorted
    stale.foreach(n => println(
      s"STALE-ALLOWLIST $prefix$n no longer flags — remove it from the " +
        "allowlist (a stale exemption masks future regressions)"))
    stale
  }
}

/** ONE-JVM full-gate sweep: the window-funnel, scale-hazard and
  * cross-SF scaling checks share one JVM/session, one query-construction
  * pass per SF, and ONE full sf-B catalog execution (the hazard
  * measurement and the timing gate's t_B). It runs all three checks per
  * query in one pass: timed construction + execution at sfA (t_A), then
  * ONE [[PlanAudit.auditQuery]] at sf-B, whose execution populates the
  * hazard metrics AND serves as t_B, and whose (untimed) window-funnel
  * measurement reads the SAME sf-B frame. Bounds are PlanAudit's
  * (funnel 32/512, hazard 512/64) and a scaling ratio of 10 above a
  * 2 s floor; allowlists are per-check and always gate: exit 1 on any
  * unexpected flag or stale allowlist entry. A first-measurement
  * scaling flag is re-timed on both SFs (min of two) before it counts.
  * Prints one `TIMING name tA=… tB=… ratio=…` line per query (query
  * construction + executedPlan.execute().count(), AQE off — construction
  * stays inside the clock, see [[PlanAudit.buildAndRun]]).
  *
  * `runMain graft.PreflightSweep <sfA> <sfB> <funnelAllowCsv>
  * <hazardAllowCsv> <scalingAllowCsv> [noscaling]` (`-` = empty
  * allowlist; `noscaling` skips the cross-SF timing gate — the
  * filtered fast path). */
object PreflightSweep {
  def main(args: Array[String]): Unit = {
    import scala.collection.mutable
    val sfA = args(0); val sfB = args(1)
    def parse(a: String): Set[String] =
      a.split(',').map(_.trim).filter(x => x.nonEmpty && x != "-").toSet
    val allow = Map("FUNNEL" -> parse(args(2)), "HAZARD" -> parse(args(3)),
      "SUPERLINEAR" -> parse(args(4)))
    val doScaling = !args.lift(5).contains("noscaling")
    val (ratioBound, floorSec) = (10.0, 2.0)

    val spark =
      graft.core.GraftSession.local(appName = "graft-preflight-sweep")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val selected = AllowlistedSweep.selectWithBanner()

    // warm-up, t_A and re-timings: build + one run, timed as auditQuery's
    def timedRun(name: String, dir: String): Double = {
      val (_, buildSec, runSec, _) =
        PlanAudit.buildAndRun(spark, SparkEntry.queries(name), dir)
      buildSec + runSec
    }

    // warm-up (the Bench rule): first-touch JIT/codegen
    // cost must not be billed to whichever query runs first. sfA frames
    // are only ever timed on the scaling path — in noscaling mode the
    // sfA warm-up would feed nothing, so skip it.
    val warmDirs = if (doScaling) Seq(sfA, sfB) else Seq(sfB)
    warmDirs.foreach { dir =>
      AllowlistedSweep.WarmupQueries.foreach { q =>
        try graft.operators.GlobalRank.withScope(timedRun(q, dir))
        catch { case _: Throwable => () }
      }
    }

    var flagged = 0
    var unexpected = 0
    val flaggedBy = Map("FUNNEL" -> mutable.Set.empty[String],
      "HAZARD" -> mutable.Set.empty[String],
      "SUPERLINEAR" -> mutable.Set.empty[String])
    val erroredNames = mutable.Set.empty[String]
    def flag(tag: String, name: String, detail: String): Unit = {
      flagged += 1
      flaggedBy(tag) += name
      if (!allow(tag)(name)) unexpected += 1
      println(s"$tag $name $detail")
    }

    selected.foreach { case (name, query) =>
      try graft.operators.GlobalRank.withScope {
        val tA = if (doScaling) timedRun(name, sfA) else 0.0
        // ONE sf-B construction + execution: hazard metrics + t_B, and
        // the window funnels of the same frame (deliberately untimed) —
        // re-constructing for them would pay the whole eager chain again
        val auditB = PlanAudit.auditQuery(spark, query, sfB)
        auditB.hazards.foreach(h => flag("HAZARD", name, h.describe))
        if (doScaling) {
          var ta = tA; var tb = auditB.buildSec + auditB.runSec
          def ratio = tb / math.max(ta, 0.05)
          if (tb > floorSec && ratio > ratioBound) {
            // re-time both before flagging: min of two runs per SF
            val ta2 = timedRun(name, sfA)
            val tb2 = timedRun(name, sfB)
            ta = math.min(ta, ta2); tb = math.min(tb, tb2)
          }
          println(f"TIMING $name tA=$ta%.3f tB=$tb%.3f ratio=${ratio}%.1f")
          if (tb > floorSec && ratio > ratioBound)
            flag("SUPERLINEAR", name,
              f"tA=$ta%.2fs tB=$tb%.2fs ratio=${ratio}%.1fx " +
                f"(bound ${ratioBound}%.0fx above ${floorSec}%.1fs floor)")
        }
        auditB.funnels.foreach(s => flag("FUNNEL", name, s.describe))
      } catch {
        case e: Throwable =>
          unexpected += 1
          erroredNames += name
          println(s"ERROR $name ${String.valueOf(e.getMessage).take(100)}")
      }
    }

    val ranNames = selected.map(_._1).toSet
    val checks = if (doScaling) allow.keys.toSeq.sorted
                 else Seq("FUNNEL", "HAZARD")
    val stale = checks.flatMap { tag =>
      AllowlistedSweep.staleEntries(s"$tag ", allow(tag), ranNames,
        flaggedBy(tag), erroredNames).map(tag -> _)
    }
    println(s"flagged: $flagged (unexpected: $unexpected, " +
      s"stale allowlist: ${stale.size}, " +
      s"ran: ${selected.size}/${SparkEntry.queries.size})")
    spark.stop()
    if (unexpected > 0 || stale.nonEmpty) sys.exit(1)
  }
}
