package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

import graft.operators.GlobalRank

/** Generated-code reuse: building and running a transform or catalog query
  * a second time compiles no class. Two things break it: a codegen cache
  * smaller than the working set (Spark's default holds 100 classes;
  * [[graft.core.GraftSession.CodegenCacheEntries]] sizes it), and
  * run-varying values inlined in the generated source, such as the literal
  * `current_timestamp()` folds to ([[graft.functions.AuditTime]] keeps the
  * audit time out of it). */
class CodegenReuseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001" // TESTDATA.md

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Runs every item once, then again, and returns the items whose second
    * run compiled classes, with the count. AQE is off: it re-plans while
    * stages run, and which shuffle finishes first can turn a join into a
    * broadcast join in one run and not the next. That is a new plan with
    * new code, not a failure to reuse the old one. */
  private def recompiled(items: Seq[(String, () => Unit)])
  : Seq[(String, Long)] = withConf("spark.sql.adaptive.enabled" -> "false") {
    items.foreach(_._2())
    items.map { case (name, run) =>
      val before = compiles
      run()
      name -> (compiles - before)
    }.filter(_._2 > 0)
  }

  test("silver, SCD2 and gold transforms reuse their generated classes") {
    // each run builds its frames anew, as a refresh does
    val names = AuditSpec.outputs(spark).map(_._1)
    val items = names.map(n => n -> (() =>
      noop(AuditSpec.outputs(spark).toMap.apply(n))))
    assert(recompiled(items).isEmpty)
  }

  test("catalog queries reuse their generated classes") {
    val queries = Seq("e17_global_rank", "j7_market_basket",
      "dd4_dup_clusters", "a3_pruned_scan", "c7_semi_join", "e9_lag_lead",
      "f6_topk_per_key", "h19_jaro_winkler", "ir1_bm25", "s1_hash_sample")
    val items = queries.map(q => q -> (() =>
      GlobalRank.withScope(noop(SparkEntry.queries(q)(spark, sf)))))
    assert(recompiled(items).isEmpty)
  }
}
