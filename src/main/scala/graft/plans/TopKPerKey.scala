package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, EqualTo, Expression, LessThan, LessThanOrEqual, Literal, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Group-wise top-k as a first-class operator — the tier-(c) custom plan
  * of the builder prompt's preference order (logical node + planner
  * strategy + physical operator, injected via `SparkSessionExtensions`
  * in [[graft.core.GraftExtensions]]).
  *
  * Why not `row_number().over(...).filter(rn <= k)`? The window form
  * shuffles EVERY row to its key's partition and sorts whole partitions
  * before any row can be discarded. This operator runs in two phases the
  * way partial aggregation does:
  *
  *   partial: each input partition keeps at most k rows per key present
  *            (bounded per-key heap, no sort of the full partition);
  *   final:   after the key-clustered exchange, the surviving ≤k-per-
  *            (key, partition) rows merge to the true per-key top k.
  *
  * At 100 TB with k ≪ rows-per-key the exchange moves O(keys × k ×
  * partitions) rows instead of O(N) — the shuffle, not the scan, is what
  * dies first on wide clusters. With an empty key list it degenerates to
  * global top-k (the TakeOrderedAndProject shape).
  *
  * Ties: rows are kept by the given sort order alone; pass a total order
  * (explicit tie-break column) for deterministic output, exactly as the
  * reference's rank specs do (window_functions.py:117 in
  * /root/reference).
  */
object TopKPerKey {

  /** Logical marker node: "keep the first `k` rows per `grouping` key
    * under `order`". Output = child output (no schema change). */
  final case class TopKPerKeyNode(grouping: Seq[Expression],
      order: Seq[SortOrder], k: Int, child: LogicalPlan) extends UnaryNode {
    require(k > 0, s"k must be positive, got $k")
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(newChild: LogicalPlan)
    : TopKPerKeyNode = copy(child = newChild)
  }

  /** Optimizer rewrite (the tier-(c) `Rule[LogicalPlan]`): recognizes the
    * idiomatic window top-k —
    * {{{ df.withColumn("rn", row_number().over(w)).filter("rn <= k").drop("rn") }}}
    * — and replaces it with [[TopKPerKeyNode]], so code written in the
    * portable window form still gets the partial/final bounded-heap plan.
    * Deliberately narrow: exactly one window expression, a bare
    * `row_number`, a literal bound, and a projection that drops the rank
    * column (rank()/dense_rank() keep ties, so only RowNumber is
    * set-equivalent to top-k).
    */
  object RowNumberToTopK extends Rule[LogicalPlan] {
    private def bound(cond: Expression, rn: Attribute): Option[Int] =
      cond match {
        case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _))
          if a.exprId == rn.exprId && k > 0 => Some(k)
        case LessThan(a: AttributeReference, Literal(k: Int, _))
          if a.exprId == rn.exprId && k > 1 => Some(k - 1)
        case EqualTo(a: AttributeReference, Literal(1, _))
          if a.exprId == rn.exprId => Some(1)
        case _ => None
      }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case Project(projList,
          Filter(cond,
            Window(Seq(alias @ Alias(
              WindowExpression(_: RowNumber, spec), _)),
              partSpec, orderSpec, child, _)))
        if orderSpec.nonEmpty &&
          bound(cond, alias.toAttribute).isDefined &&
          !projList.exists(_.references.contains(alias.toAttribute)) &&
          projList.forall(_.references.subsetOf(child.outputSet)) =>
        Project(projList,
          TopKPerKeyNode(partSpec, orderSpec,
            bound(cond, alias.toAttribute).get, child))
    }
  }

  /** Plans the logical node as partial → exchange (via required
    * distribution) → final. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(grouping, order, k, child) =>
        TopKPerKeyExec(grouping, order, k, partial = false,
          TopKPerKeyExec(grouping, order, k, partial = true,
            planLater(child))) :: Nil
      case _ => Nil
    }
  }

  /** Bound on the partial phase's in-memory state: when a
    * partition's heap map exceeds this many distinct keys, the partial
    * operator FLUSHES everything kept so far downstream and starts a fresh
    * map. Emitting extra rows is always safe — the final phase re-selects
    * the true top-k after the key-clustered exchange, exactly like partial
    * aggregation falling back to pass-through on hash overflow. Memory is
    * therefore bounded at O(flushKeys × k) rows regardless of key
    * cardinality (the window form this operator replaces used a spillable
    * sort; without the cap a high-cardinality key set could OOM the
    * partial phase). */
  val PartialFlushKeys = 100000

  /** Physical per-partition bounded top-k. `partial = true` accepts any
    * input distribution; the final node demands key-clustering, so
    * EnsureRequirements inserts the (now tiny) exchange between them.
    *
    * Memory bounds: partial holds ≤ [[PartialFlushKeys]] keys × k rows
    * (flush-and-reset beyond that); final holds its partition's keys × k
    * rows — which IS its output, the same bound a hash-aggregate final
    * phase carries. */
  final case class TopKPerKeyExec(grouping: Seq[Expression],
      order: Seq[SortOrder], k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

    override def output: Seq[Attribute] = child.output

    override lazy val metrics = Map(
      "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of output rows"),
      "numKeys" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of distinct keys (final phase)"),
      "numFlushes" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "partial heap-map flushes"))

    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) Seq(UnspecifiedDistribution)
      else if (grouping.isEmpty) Seq(AllTuples)
      else Seq(ClusteredDistribution(grouping))

    // Rows never move between partitions here (mapPartitions), so the
    // child's partitioning survives — without this override the node
    // reported UnknownPartitioning and EVERY downstream operator keyed
    // on the same grouping re-exchanged rows the final phase had just
    // clustered (j7's basket rollup paid one full extra shuffle).
    // Ordering is NOT propagated: heaps drain per key, not sorted.
    override def outputPartitioning
    : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      child.outputPartitioning

    override protected def doExecute(): RDD[InternalRow] = {
      val schema = child.output
      val groupingExprs = grouping
      val sortOrder = order
      val limit = k
      val numOutputRows = longMetric("numOutputRows")
      val numKeys = longMetric("numKeys")
      val numFlushes = longMetric("numFlushes")
      // Final phase must see every row of a key before emitting any (rows
      // arrive clustered but unsorted), so only partial may flush early.
      val flushKeys = if (partial) PartialFlushKeys else Int.MaxValue
      val isPartial = partial // local copy — closures must not capture the plan node
      child.execute().mapPartitions { iter =>
        val keyProj = UnsafeProjection.create(groupingExprs, schema)
        val ord = RowOrdering.create(sortOrder, schema)
        new Iterator[InternalRow] {
          // One bounded heap per key: PriorityQueue dequeues the MAX under
          // `ord` (= the worst kept row), so admission is O(log k).
          private val heaps = mutable.HashMap
            .empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
          private var out: Iterator[InternalRow] = Iterator.empty

          // numKeys counts true distinct keys, so only the final phase (one
          // drain per partition, keys clustered) may accumulate it — a
          // flushing partial would re-count keys spanning flushes.
          private def drain(): Iterator[InternalRow] = {
            if (!isPartial) numKeys += heaps.size
            val rows = heaps.values.toIndexedSeq
              .flatMap(_.dequeueAll.reverseIterator)
            heaps.clear()
            rows.iterator
          }

          private def refill(): Unit = {
            while (!out.hasNext && (iter.hasNext || heaps.nonEmpty)) {
              while (iter.hasNext && heaps.size <= flushKeys) {
                val row = iter.next()
                val key = keyProj(row)
                val heap = heaps.get(key) match {
                  case Some(h) => h
                  case None =>
                    val h = mutable.PriorityQueue.empty[InternalRow](ord)
                    heaps.put(key.copy(), h) // projection reuses its buffer
                    h
                }
                if (heap.size < limit) heap.enqueue(row.copy())
                else if (ord.compare(row, heap.head) < 0) {
                  heap.dequeue()
                  heap.enqueue(row.copy())
                }
              }
              if (iter.hasNext) numFlushes += 1
              out = drain()
            }
          }

          override def hasNext: Boolean = { refill(); out.hasNext }
          override def next(): InternalRow = {
            refill(); numOutputRows += 1; out.next()
          }
        }
      }
    }

    override protected def withNewChildInternal(newChild: SparkPlan)
    : TopKPerKeyExec = copy(child = newChild)

    override def nodeName: String =
      if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"
  }

  /** Public API: rows ranked ≤ k within each key under `order` (pass
    * `.desc`/`.asc` columns; bare columns sort ascending). */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                 k: Int): DataFrame = {
    val grouping = keys.map(DatasetBridge.expression(df, _))
    val sortOrder = order.map(c => DatasetBridge.expression(df, c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    DatasetBridge.ofRows(df,
      TopKPerKeyNode(grouping, sortOrder, k, DatasetBridge.logicalPlan(df)))
  }
}
