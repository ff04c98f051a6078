package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable GLOBAL and GROUPED ranking: row_number / rank / percent_rank
  * without the single-task (or few-task) window funnel.
  *
  * `Window.orderBy(c)` with no partition key funnels every row through ONE
  * task — the one window shape that cannot scale (fine at 60k rows, dead
  * at 100 TB). A window partitioned by a LOW-CARDINALITY key (3 return
  * flags, 5 regions…) has the same disease: parallelism = #groups no
  * matter how many executors exist. The standard fix is two passes over
  * range-partitioned data:
  *
  *  1. range-repartition by the (group ++ order) key — the same exchange
  *     any global sort pays — and count rows per partition(×group): a tiny
  *     aggregate whose result is metadata, like the range partitioner's
  *     own sample;
  *  2. local sort within the pinned partitions, then within-partition
  *     ordinal + prefix-sum offset. The ordinal comes from the low 33 bits
  *     of `monotonically_increasing_id()` (partition id lives in the high
  *     bits), so pass 2 adds ZERO shuffles — row_number costs exactly a
  *     global sort, its theoretical floor. (The 33-bit field caps
  *     partitions at 2^33 rows — at 100 TB that bounds partition size at
  *     ~1 TB of 128-byte rows; any sane partition count is far below it.)
  *
  * Ties that straddle a partition boundary are healed afterwards: rank =
  * min(row_number) over the VALUE (a hash-partitioned, scalable window),
  * and percent_rank = (rank − 1) / (N − 1) with N taken from the SAME
  * pass-1 counts (no extra action). Results are bit-identical to the
  * built-in window functions (oracle-checked), only the plan shape
  * changes.
  *
  * Cost note: each call materializes the ranged input once to executor
  * storage (an eager guarded local checkpoint). That is deliberate — both
  * passes must observe the SAME physical partitioning (AQE may re-plan the
  * exchange differently per job, skewing offsets; `spark_partition_id` and
  * the id ordinal are only meaningful against a pinned layout) — but it
  * means the operator costs one full materialization of the input plus the
  * range exchange, and the checkpointed blocks live until the returned
  * frame goes out of scope. The pruned-input contract is EXECUTABLE, not
  * advisory: every entry point `require`s the input at most
  * [[MaxLayoutWidth]] columns — rank a (keys, rowid) projection and join
  * the wide row back, never feed the wide row itself. Callers that own a
  * query boundary (Bench, Verify, the audit sweeps, each spec) wrap
  * construction + materialization of each result in [[withScope]], which
  * frees THAT owner's checkpointed blocks deterministically instead of
  * waiting for GC — and only that owner's, so interleaved components
  * cannot release each other's live layouts. A pin with no open scope is
  * an error: nothing would ever free it;
  * after release the returned frame must not be re-executed (a local
  * checkpoint's lineage is truncated — recompute is impossible by
  * design). That lifecycle contract is EXECUTABLE: a frame computed
  * after its layout was freed fails fast with [[ReleasedLayoutMsg]],
  * the operator's own error, not an opaque missing-block failure
  * (OperatorsSpec pins it).
  */
object GlobalRank {

  /** Executable form of the pruned-input contract (see the cost note):
    * each call checkpoints its FULL input to executor storage, so the
    * input must be a pruned projection — rank keys, grouping keys, a row
    * id, a weight — never the wide row. 12 columns is comfortably above
    * every legitimate layout (keys + id + a handful of carried values)
    * and far below a full fact-table row. */
  val MaxLayoutWidth = 12

  /** Per-OWNER release scope: a scope owns exactly the layouts
    * checkpointed on its thread while it was the innermost open scope;
    * [[close]] frees those and no others, so owner A releasing cannot
    * invalidate owner B's frames (OperatorsSpec pins this). Each release
    * handle drops that layout's storage blocks AND flips its guard, so
    * post-release re-execution fails with [[ReleasedLayoutMsg]] instead
    * of an opaque missing-block error.
    * Scopes nest as a stack per thread; close in LIFO order. Closing
    * from ANOTHER thread is safe too: the handles are freed, and the
    * opening thread's stack entry — which only that thread's
    * ThreadLocal can drop — is popped lazily by its next
    * [[openScope]]/checkpoint, which also skip closed scopes when
    * choosing an owner (a handle must never strand in a queue nothing
    * drains). */
  final class LayoutScope private[GlobalRank] () {
    private[GlobalRank] val handles =
      new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

    private[GlobalRank] def isClosed: Boolean = closed.get

    /** Drain and run every queued release handle (each handle runs at
      * most once — poll removes it). */
    private[GlobalRank] def drain(): Int = {
      var n = 0
      var r = handles.poll()
      while (r != null) { r(); n += 1; r = handles.poll() }
      n
    }

    /** Release only THIS scope's layouts and pop it from the CLOSING
      * thread's scope stack (a cross-thread close leaves the opener's
      * stack entry for lazy pop — see the class scaladoc); returns how
      * many were freed. Idempotent. */
    def close(): Int = {
      if (!closed.compareAndSet(false, true)) return 0
      currentScopes.set(currentScopes.get.filterNot(_ eq this))
      drain()
    }
  }

  private val currentScopes = new ThreadLocal[List[LayoutScope]] {
    override def initialValue(): List[LayoutScope] = Nil
  }

  /** Open a per-owner scope on the calling thread: layouts checkpointed
    * until the matching [[LayoutScope.close]] belong to it alone.
    * Checkpoint registration happens on the caller's thread during the
    * operator's eager construction, so a scope opened around query
    * construction + materialization captures exactly that query's
    * layouts. */
  def openScope(): LayoutScope = {
    val s = new LayoutScope
    // lazy-pop scopes a cross-thread close() could not remove from
    // this thread's stack
    currentScopes.set(s :: currentScopes.get.filterNot(_.isClosed))
    s
  }

  /** Run `f` under its own scope and release that scope's layouts (and
    * only those) afterwards — the query-boundary-owner idiom: construct
    * AND fully materialize the result inside `f`; the returned frames
    * must not be re-executed after. */
  def withScope[T](f: => T): T = {
    val s = openScope()
    try f finally s.close()
  }

  /** The error a frame raises when computed after its layout was freed
    * — the executable form of the lifecycle contract (see the class
    * scaladoc's cost note). */
  val ReleasedLayoutMsg: String =
    "GlobalRank layout re-executed after its scope closed: frames " +
      "returned by GlobalRank must be fully materialized before the " +
      "GlobalRank.withScope that owns them closes — materialize " +
      "(collect/write) inside the scope, or widen the scope"

  /** The error a pin raises when its thread has no open scope: nothing
    * would ever free it (the release handle holds the checkpointed RDD,
    * so not even Spark's ContextCleaner could). */
  private val NoScopeMsg: String =
    "GlobalRank pin outside any scope: wrap query construction and " +
      "materialization in GlobalRank.withScope, which frees the pin at " +
      "the query boundary"

  private def checkpointLayout(df: DataFrame): DataFrame = {
    // the owner is the calling thread's innermost OPEN scope (lazy-
    // popping scopes a cross-thread close() left behind); with none,
    // fail before the checkpoint job runs
    val stack = currentScopes.get.filterNot(_.isClosed)
    currentScopes.set(stack)
    val scope = stack.headOption
      .getOrElse(throw new IllegalStateException(NoScopeMsg))
    // guarded local checkpoint: materializes the plan into a LogicalRDD
    // whose rdd holds the persisted blocks, with a compute guard that
    // turns post-release recomputation into ReleasedLayoutMsg; the
    // release handle frees the blocks deterministically at the query
    // boundary.
    val (pinned, release) = org.apache.spark.sql.graftbridge.DatasetBridge
      .guardedLocalCheckpoint(df, ReleasedLayoutMsg)
    scope.handles.add(release)
    // if the scope closed concurrently between the filter and the add,
    // its drain may already have run — drain again so the handle cannot
    // strand in a queue nothing else will touch
    if (scope.isClosed) scope.drain()
    pinned
  }

  /** Pin an arbitrary (narrow, multiply-consumed) frame with the SAME
    * owner-scoped lifecycle as a rank layout: eager guarded local
    * checkpoint, release handle registered with the calling thread's
    * innermost open scope. This is the only way `src/main` keeps a
    * materialized frame past the function that made it (a `persist`
    * freed in the same function's `finally` is the one other form).
    * Query-boundary owners (Bench, Verify, the audit sweeps) therefore
    * free the blocks at each query boundary instead of letting hundreds
    * of dead checkpoints ride the block manager for the rest of the
    * catalog run — a bare local checkpoint measured as a progressive
    * tail slowdown (last alphabetical decile 1.31× while every earlier
    * decile improved) once the round-13 fan-out pins multiplied the call
    * sites; `Dataset.unpersist` cannot free one, because the
    * CacheManager never saw it. Same post-release contract as every
    * layout: the returned frame must be fully materialized inside the
    * owning scope. */
  def pinned(df: DataFrame): DataFrame = checkpointLayout(df)

  /** [[pinnedIfSmall]]'s size gate: 1 GiB, far above every
    * multiply-consumed frame the local fixtures produce (the largest
    * estimate at sf0.1 is under 0.5 MB), far below any corpus-derived
    * frame at production scale, and small next to a single executor's
    * storage memory — a pin under the gate is always cheap to hold. */
  private val PinMaxBytes = 1L << 30

  /** COST-CONDITIONAL [[pinned]] (round-14 grain audit): pin only when
    * the optimizer's size estimate for the frame is at most
    * [[PinMaxBytes]]. For frames whose bytes are
    * comparable to their INPUT's — exploded gram/token/fingerprint
    * tables, tokenized-corpus projections — an eager local checkpoint at
    * 100 TB writes the whole exploded corpus through the block manager
    * (a §5 spill/IO bill) to save re-runs of a scan-parallel subtree
    * that the shuffle layer often shares anyway (ReusedExchange fires
    * wherever two consumers end at identically-keyed exchanges). Below
    * the gate the recompute-vs-materialize tradeoff flips: the write is
    * trivial and the saved subtree re-execution is pure win, so small
    * inputs (and every local fixture) keep round-13's pinned plan.
    * Catalyst's estimate scales with the scanned input (parquet file
    * bytes × projection/explode factors), which is exactly the signal
    * needed — the gate is scale-adaptive, not a local[32] tune. Frames
    * that REDUCE their input by orders of magnitude (per-doc stat
    * rollups, type-grain count tables, id-grain gates) should stay on
    * the unconditional [[pinned]]: for those the pin is the §8
    * "lightweight proxy" materialization and is right at every scale. */
  def pinnedIfSmall(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= PinMaxBytes)
      checkpointLayout(df)
    else df

  private def requireNarrow(df: DataFrame): Unit =
    require(df.columns.length <= MaxLayoutWidth,
      s"GlobalRank checkpoints its full input: got ${df.columns.length} " +
        s"columns (max $MaxLayoutWidth) — feed a pruned projection " +
        "(rank keys + row id) and join the wide row back on the id")

  /** Output-name hygiene: `withColumn(out, …)` silently REPLACES an
    * existing column, which here would corrupt the very keys being
    * ranked — reject the collision instead. */
  private def requireFreshNames(df: DataFrame, outs: Seq[String]): Unit = {
    val clash = outs.filter(df.columns.contains)
    require(clash.isEmpty,
      s"output column(s) ${clash.mkString(", ")} already exist in the " +
        "input — pass different out names")
  }

  /** Within-partition ordinal (0-based): the low 33 bits of
    * `monotonically_increasing_id()`. Evaluated AFTER the local sort in a
    * projection — nondeterministic exprs pin their evaluation point, so
    * the optimizer cannot reorder it below the sort. */
  private def ordinal: Column =
    monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))

  /** Pinned range layout + per-partition prefix offsets + total count.
    * One action (the tiny counts collect) — the offsets AND N both come
    * out of it. */
  private case class Ranged(df: DataFrame, offsets: Map[Int, Long],
                            total: Long)

  /** Pinned range layout on `sort` with the partition id baked into the
    * rows as `__pid`, materialized ONCE: both passes must observe the
    * SAME physical partitioning (see the class-level cost note). The
    * input may not carry any of the `reserved` names. */
  private def pinRangeLayout(df: DataFrame, sort: Seq[Column],
                             reserved: Seq[String]): DataFrame = {
    require(!df.columns.exists(reserved.contains),
      s"reserved by GlobalRank: ${reserved.mkString(", ")}")
    requireNarrow(df)
    val parts = df.sparkSession.sparkContext.defaultParallelism
    checkpointLayout(df.repartitionByRange(parts, sort: _*)
      .withColumn("__pid", spark_partition_id()))
  }

  private def rangeLayout(df: DataFrame, sortKeys: Seq[Column]): Ranged = {
    val ranged = pinRangeLayout(df, sortKeys, Seq("__pid"))
    val counts = ranged.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) =>
      val off = acc; acc += n; pid -> off
    }.toMap
    Ranged(ranged, offsets, acc)
  }

  /** Local-sorted ranged layout with the global row number attached —
    * zero shuffles beyond the range exchange. */
  private def rowNumbered(r: Ranged, sort: Seq[Column], out: String)
  : DataFrame =
    r.df.sortWithinPartitions(sort: _*)
      .withColumn(out,
        ordinal + element_at(typedLit(r.offsets), col("__pid")) + 1L)
      .drop("__pid")

  /** Global row_number in ascending `(order, tieBreak)` order (columns
    * are plain keys, ranked ascending; the combined order should be total
    * for a deterministic result), as column `out`. */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column],
                          out: String = "rn"): DataFrame = {
    requireFreshNames(df, Seq(out))
    rowNumbered(rangeLayout(df, order), order, out)
  }

  /** Global inclusive PREFIX SUM of `value` along `order` — the
    * group-free form of [[withGroupedPrefixSum]] for cumulative passes
    * whose natural key has NO partition column at all (a global CDF, a
    * Lorenz curve): `sum(v).over(Window.orderBy(k))` funnels every row
    * through one task, the one window shape that cannot scale. Same
    * two-pass medicine: pinned range layout on `order`, per-partition
    * totals → broadcast prefix offsets, then a per-PARTITION running sum
    * (one balanced hash exchange on `__pid`). `totOut` exposes the grand
    * total from the same pass-1 frame. Ties in `order` accumulate in
    * layout order — the built-in running-sum contract. `value` must be
    * INTEGER-valued (long/int/decimal(_,0) — quantize floats first, the
    * catalog-wide exactness contract): the broadcast offsets are exact
    * longs, and a float value would make the cross-partition correction
    * order-dependent. Exactness is GUARDED on every path: partial and
    * running sums aggregate in decimal(38,0) (a long sum would wrap
    * silently on int64 overflow in non-ANSI mode), the driver-side
    * offset accumulation uses `Math.addExact`/`longValueExact`, and the
    * final bigint cast raises rather than truncate — `out` (and
    * `totOut`) are always bigint. */
  def withGlobalPrefixSum(df: DataFrame, order: Seq[Column], value: Column,
                          out: String = "cum",
                          totOut: Option[String] = None): DataFrame = {
    requireFreshNames(df, out +: totOut.toSeq)
    val r = rangeLayout(df, order)
    // sum in decimal(38,0) on EVERY path — guarded exactness, never the
    // silent int64 wrap of a long sum (the input-type contract is still
    // enforced below: floats must arrive pre-quantized)
    r.df.select(value.as("__v")).schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => ()
      case d: org.apache.spark.sql.types.DecimalType if d.scale == 0 => ()
      case t => throw new IllegalArgumentException(
        s"withGlobalPrefixSum needs an integer-valued value column " +
          s"(got $t) — quantize floats to integer units first")
    }
    val dec = value.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    // per-partition prefix offsets over `value` (not row counts): same
    // shape as Ranged.offsets but weighted, from one tiny aggregate
    val partials = r.df.groupBy("__pid").agg(sum(dec).as("__psum"))
      .collect()
      .map(x => x.getInt(0) ->
        Option(x.getDecimal(1)).fold(0L)(_.longValueExact()))
      .sortBy(_._1)
    var acc = 0L
    val offsets = partials.map { case (pid, s) =>
      val off = acc; acc = Math.addExact(acc, s); pid -> off
    }.toMap
    val run = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running sum in decimal(38,0) + exact long offset, then a RANGE-
    // CHECKED cast back to bigint: overflow raises, never truncates
    val cumDec = sum(dec).over(run) +
      element_at(typedLit(offsets), col("__pid"))
    val cum = r.df
      .withColumn(out,
        when(cumDec.between(Long.MinValue, Long.MaxValue),
          cumDec.cast("bigint"))
          .otherwise(raise_error(lit(
            "withGlobalPrefixSum overflowed int64 — rescale the value " +
              "units"))))
      .drop("__pid")
    totOut match {
      case Some(t) => cum.withColumn(t, lit(acc))
      case None    => cum
    }
  }

  /** Global rank over `order` (ties share the smallest row number;
    * `tieBreak` must extend `order` to a total order for determinism of
    * the underlying pass, rank itself only depends on `order`). When
    * `pctOut` is set, also percent_rank = (rank − 1) / (N − 1) in the
    * same layout pass: N comes from the pass-1 partition counts — no
    * extra action over the input. */
  def withGlobalRank(df: DataFrame, order: Seq[Column],
                     tieBreak: Seq[Column], out: String = "rnk",
                     pctOut: Option[String] = None): DataFrame = {
    requireFreshNames(df, out +: pctOut.toSeq)
    val r = rangeLayout(df, order ++ tieBreak)
    val rn = rowNumbered(r, order ++ tieBreak, "__rn")
    // heal boundary-straddling ties: rank = min row_number per VALUE —
    // a hash-partitioned (scalable) window over the order key
    val byValue = Window.partitionBy(order: _*)
    val ranked = rn.withColumn(out, min(col("__rn")).over(byValue))
      .drop("__rn")
    pctOut match {
      case Some(p) => ranked.withColumn(p,
        (col(out) - 1).cast("double") / math.max(r.total - 1L, 1L))
      case None => ranked
    }
  }

  /** Per-group rank over `order` within each `group`, WITHOUT the
    * parallelism = #groups funnel of `Window.partitionBy(group)`: range
    * partition on (group ++ order) — groups lie contiguous within and
    * across partitions — then per-partition local ordinals corrected by
    * two broadcast quantities derived from ONE tiny counts frame:
    * the group's start ordinal inside the partition, and the group's
    * prefix count over earlier partitions. Pass 2 therefore adds no
    * shuffle for row numbers; only the tie heal (rank = min row number
    * per value, a hash window on high-cardinality (group, order)) pays
    * one. The offsets frame has at most (#partitions + #groups) rows, so
    * this targets LOW-cardinality groups — the exact case the plain
    * window can't parallelize (with many groups the plain hash window is
    * already scalable; use that).
    *
    * Returns the input plus `out` (bigint rank) and, when `pctOut` is
    * set, percent_rank = (rank − 1) / (N_group − 1) with single-row
    * groups scoring 0.0 — both bit-identical to the built-ins.
    *
    * `group` are column NAMES (they key a broadcast equi-join; null group
    * values join null-safely and rank like any other group value). */
  def withGroupedRank(df: DataFrame, group: Seq[String],
                      order: Seq[Column], tieBreak: Seq[Column],
                      out: String = "rnk", pctOut: Option[String] = None)
  : DataFrame = {
    requireFreshNames(df, out +: pctOut.toSeq)
    val groupCols = group.map(col)
    val rn = groupedCoreOn(pinGroupedLayout(df, group, order ++ tieBreak),
      group, groupCols ++ order ++ tieBreak)
    // the scalable per-VALUE tie heal: rank = min row number per value —
    // a hash-partitioned window over the HIGH-cardinality (group, order)
    // key, parallelism = #distinct values
    val byValue = Window.partitionBy(groupCols ++ order: _*)
    val rankedDf = rn.withColumn(out, min(col("__grn")).over(byValue))
    val withPct = pctOut match {
      case Some(p) => rankedDf.withColumn(p,
        (col(out) - 1).cast("double") /
          greatest(col("__gn") - 1, lit(1L)).cast("double"))
      case None => rankedDf
    }
    withPct.drop("__gn", "__grn")
  }

  /** Per-group ROW NUMBER over a TOTAL per-group `order` key — the same
    * two-pass plan as [[withGroupedRank]] minus the per-value tie heal,
    * so pass 2 adds ZERO shuffles beyond the range exchange. Only use
    * when `order` is total within each group (include a unique tiebreak
    * column); with duplicate keys the numbering among ties follows the
    * pinned physical layout, which is deterministic per run but not a
    * stable function of the data.
    *
    * `nOut` optionally exposes the per-group row count from the SAME
    * pass-1 counts frame — use it instead of
    * `count(*).over(Window.partitionBy(group))`, which funnels the whole
    * corpus through #groups tasks exactly like the rank window this
    * operator replaces. */
  def withGroupedRowNumber(df: DataFrame, group: Seq[String],
                           order: Seq[Column], out: String = "rn",
                           nOut: Option[String] = None): DataFrame = {
    // checked before the pin, so a clash costs no checkpoint job
    requireFreshNames(df, out +: nOut.toSeq)
    withGroupedRowNumberOn(pinGroupedLayout(df, group, order), group, order,
      out, nOut)
  }

  /** Pin one grouped range layout for REUSE across several passes of the
    * SAME query (the multi-pass robust-stats shape: median pass, then a
    * counting pass over the same (group, value) rows). Returns the
    * checkpointed layout — the caller's input columns plus the reserved
    * `__pid` — to feed [[withGroupedRowNumberOn]] and, with `__pid`
    * dropped, any plain aggregate. Each reuse re-reads the checkpointed
    * blocks instead of re-scanning and re-exchanging the source: N
    * passes cost ONE scan + ONE range exchange instead of N of each.
    * Same lifecycle contract as every layout ([[withScope]] owner). */
  def pinGroupedLayout(df: DataFrame, group: Seq[String],
                       order: Seq[Column]): DataFrame = {
    require(group.nonEmpty, "use the global forms for an empty group")
    pinRangeLayout(df, group.map(col) ++ order,
      Seq("__pid", "__gcnt", "__gstart", "__goff", "__gn", "__grn"))
  }

  /** [[withGroupedRowNumber]] over a layout already pinned by
    * [[pinGroupedLayout]] WITH THE SAME (group, order) keys — adds zero
    * shuffles and zero materializations: pass 1 is the tiny counts
    * aggregate over the pinned blocks, pass 2 the local sort + ordinal.
    * The caller must pass the same keys the layout was pinned on (the
    * ordinal correction is only valid against that physical order). */
  def withGroupedRowNumberOn(layout: DataFrame, group: Seq[String],
                             order: Seq[Column], out: String = "rn",
                             nOut: Option[String] = None): DataFrame = {
    require(layout.columns.contains("__pid"),
      "withGroupedRowNumberOn needs a pinGroupedLayout frame (__pid)")
    requireFreshNames(layout, out +: nOut.toSeq)
    val core = groupedCoreOn(layout, group, group.map(col) ++ order)
      .withColumnRenamed("__grn", out)
    nOut match {
      case Some(n) => core.withColumnRenamed("__gn", n)
      case None    => core.drop("__gn")
    }
  }

  /** Grouped inclusive PREFIX SUM of `value` along `order` within each
    * low-cardinality `group` — the weighted generalization of
    * [[withGroupedRowNumber]] (`value = lit(1)` recovers row numbers).
    * The cumulative-sum cousin of the rank funnel has the same disease
    * (`sum(w).over(partitionBy(grp).orderBy(v))` runs #groups tasks over
    * the corpus); the same two-pass medicine applies: range partition on
    * (group ++ order), per-(partition, group) partial sums → broadcast
    * offsets, then a per-PARTITION running sum (parallelism =
    * #partitions, never #groups) corrected into the per-group
    * cumulative. Unlike the ordinal trick, the running sum needs a real
    * window keyed by the partition id, which costs one hash exchange on
    * `__pid` — balanced by construction, since the range partitioner
    * sized those partitions. `totOut` optionally exposes the per-group
    * total from the SAME pass-1 frame (replacing the
    * `sum(w).over(partitionBy(grp))` corpus window). Ties in `order`
    * accumulate in layout order — the same contract as the built-in
    * rowsBetween(unboundedPreceding, currentRow) running sum. */
  def withGroupedPrefixSum(df: DataFrame, group: Seq[String],
                           order: Seq[Column], value: Column,
                           out: String = "cum",
                           totOut: Option[String] = None): DataFrame =
    withGroupedPrefixSums(df, group, order, Seq((value, out, totOut)))

  /** Several grouped prefix sums over the SAME (group, order) key in ONE
    * layout pass — the d52/d58 shape (two sample CDFs along one value
    * axis) previously chained two full calls, paying the range sample,
    * exchange, checkpoint, offsets pass, and running window twice. All
    * `values` ride one pinned layout, one per-(pid, group) offsets
    * aggregate, and one running window (same window spec — one
    * WindowExec evaluating all the sums). Each element is
    * (value, outName, totalOutName). */
  def withGroupedPrefixSums(df: DataFrame, group: Seq[String],
                            order: Seq[Column],
                            values: Seq[(Column, String, Option[String])])
  : DataFrame = {
    require(values.nonEmpty, "need at least one value column")
    requireFreshNames(df,
      values.flatMap { case (_, o, t) => o +: t.toSeq })
    val sort = group.map(col) ++ order
    val ranged = pinGroupedLayout(df, group, order)
    // pass 1: per-(pid, group) partial sums for EVERY value at once
    val offRenamed = groupedOffsets(ranged, group,
      values.zipWithIndex.map { case ((v, _, _), i) => (v, i.toString) })
    // pass 2: one running window over the pinned layout for all values
    val run = Window.partitionBy(col("__pid")).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRuns = values.zipWithIndex.foldLeft(ranged) {
      case (f, ((v, _, _), i)) =>
        f.withColumn(s"__grn$i", sum(v).over(run))
    }
    val cum = withRuns
      .join(broadcast(offRenamed), offsetsJoinCond(group).reduce(_ && _),
        "inner")
    // emit input columns, then per-value `out` (+ total) — a
    // deterministic order regardless of where the join landed the
    // offset columns
    val inputCols = df.columns.toSeq.map(col)
    val outCols = values.zipWithIndex.flatMap { case ((_, o, t), i) =>
      (col(s"__grn$i") - col(s"__gstart$i") + col(s"__goff$i")).as(o) +:
        t.map(tn => col(s"__gn$i").as(tn)).toSeq
    }
    cum.select(inputCols ++ outCols: _*)
  }

  /** Grouped pass 2 shared by [[withGroupedRank]] and
    * [[withGroupedRowNumberOn]], over a layout pinned on the full `sort`
    * key — groups lie contiguous within and across partitions: local
    * sort + per-partition ordinals, corrected into per-group row numbers
    * by two broadcast quantities derived from ONE tiny counts frame (the
    * group's start ordinal inside the partition and the group's prefix
    * count over earlier partitions). Returns the input plus `__grn`
    * (1-based per-group row number in `sort` order) and `__gn` (group
    * total). The offsets frame has ≤ (#partitions + #groups) rows, so
    * this targets LOW-cardinality groups — the exact case the plain
    * window can't parallelize (with many groups the plain hash window is
    * already scalable; use that). */
  private def groupedCoreOn(ranged: DataFrame, group: Seq[String],
                            sort: Seq[Column]): DataFrame = {
    val offRenamed = groupedOffsets(ranged, group, Seq((lit(1L), "")))
    // pass 2: local sort + ordinal, group-corrected — no shuffle
    ranged.sortWithinPartitions(sort: _*)
      .withColumn("__grn", ordinal)
      .join(broadcast(offRenamed), offsetsJoinCond(group).reduce(_ && _),
        "inner")
      .withColumn("__grn",
        col("__grn") - col("__gstart") + col("__goff") + 1L)
      .drop("__pid", "__opid", "__gstart", "__goff")
      .drop(group.zipWithIndex.map { case (_, i) => s"__og$i" }: _*)
  }

  /** Pass 1 over a pinned layout: per-(pid, group) totals of each
    * value, one aggregate for all of them. Each (value, suffix) pair
    * yields columns named with that suffix (`""` for the row-number
    * paths). Tiny frame (≤ #partitions + #groups rows) — the windows
    * over it are free. Group order inside a partition follows the range
    * partitioner's ascending key order, so the within-partition start
    * offset (`__gstart`) is a prefix sum over groups; `__goff` is the
    * group's prefix total over earlier partitions, `__gn` its grand
    * total. Group columns come back renamed `__og<i>` for the
    * null-safe broadcast join ([[offsetsJoinCond]]). */
  private def groupedOffsets(ranged: DataFrame, group: Seq[String],
                             values: Seq[(Column, String)]): DataFrame = {
    val groupCols = group.map(col)
    val partials = values.map { case (v, s) => sum(v).as(s"__gcnt$s") }
    val counts = ranged.groupBy(col("__pid") +: groupCols: _*)
      .agg(partials.head, partials.tail: _*)
    val wStart = Window.partitionBy(col("__pid"))
      .orderBy(groupCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(groupCols: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(groupCols: _*)
    val offsets = values.foldLeft(counts) { case (f, (_, s)) =>
      f.withColumn(s"__gstart$s",
          coalesce(sum(col(s"__gcnt$s")).over(wStart), lit(0L)))
        .withColumn(s"__goff$s",
          coalesce(sum(col(s"__gcnt$s")).over(wOff), lit(0L)))
        .withColumn(s"__gn$s", sum(col(s"__gcnt$s")).over(wTot))
    }.drop(values.map { case (_, s) => s"__gcnt$s" }: _*)
      .withColumnRenamed("__pid", "__opid")
    group.zipWithIndex.foldLeft(offsets) {
      case (f, (g, i)) => f.withColumnRenamed(g, s"__og$i")
    }
  }

  private def offsetsJoinCond(group: Seq[String]): Seq[Column] =
    (col("__pid") === col("__opid")) +:
      group.zipWithIndex.map { case (g, i) => col(g) <=> col(s"__og$i") }
}
