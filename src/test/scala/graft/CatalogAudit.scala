package graft

import scala.util.{Failure, Try}

import org.scalatest.Assertions.assert

import graft.operators.GlobalRank

/** The sf0.001 catalog audit that FunnelSpec and ScaleGateSpec both
  * assert on: every query built and run once ([[PlanAudit.auditQuery]]),
  * AQE off, in sorted order, one [[GlobalRank.withScope]] per query. The
  * sweep runs once per test JVM, for whichever spec asks first; a query
  * that throws is recorded with its error, never skipped. */
object CatalogAudit {
  private lazy val sweep: Seq[(String, Try[PlanAudit.QueryAudit])] = {
    val (spark, dir) = (SparkSpec.session, "/root/testdata/sf0.001")
    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, query) =>
      name -> Try(GlobalRank.withScope(PlanAudit.auditQuery(spark, query, dir)))
    } finally spark.conf.set(aqe, prevAqe)
  }

  /** Each query's audit at sf0.001; fails the calling test, naming every
    * query that threw, if any did. */
  def sf0001: Seq[(String, PlanAudit.QueryAudit)] = {
    val failed = sweep.collect { case (n, Failure(e)) => s"  $n: $e" }
    assert(failed.isEmpty,
      "catalog queries threw during the audit sweep:\n" + failed.mkString("\n"))
    sweep.map { case (n, t) => n -> t.get }
  }
}
