package graft

import scala.util.{Failure, Try}

import org.scalatest.Assertions.assert

import graft.operators.GlobalRank

/** The sf0.001 catalog audit that FunnelSpec and ScaleGateSpec both
  * assert on: every query built and run once ([[PlanAudit.auditQuery]]),
  * AQE off, in sorted order, one [[GlobalRank.withScope]] per query. The
  * sweep runs once per test JVM, for whichever spec asks first; a query
  * that throws is recorded with its error, never skipped. It also
  * records, per query, the ids of the persisted RDDs
  * (`SparkContext.getPersistentRDDs`) that are there after the query's
  * scope closed but were not before it opened. */
object CatalogAudit {
  private case class Swept(name: String, audit: Try[PlanAudit.QueryAudit],
                           leaked: Seq[Int])

  private lazy val sweep: Seq[Swept] = {
    val (spark, dir) = (SparkSpec.session, "/root/testdata/sf0.001")
    val sc = spark.sparkContext
    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, query) =>
      val before = sc.getPersistentRDDs.keySet
      val audit =
        Try(GlobalRank.withScope(PlanAudit.auditQuery(spark, query, dir)))
      Swept(name, audit, (sc.getPersistentRDDs.keySet -- before).toSeq.sorted)
    } finally spark.conf.set(aqe, prevAqe)
  }

  /** Each query's audit at sf0.001; fails the calling test, naming every
    * query that threw, if any did. */
  def sf0001: Seq[(String, PlanAudit.QueryAudit)] = {
    val failed = sweep.collect { case Swept(n, Failure(e), _) => s"  $n: $e" }
    assert(failed.isEmpty,
      "catalog queries threw during the audit sweep:\n" + failed.mkString("\n"))
    sweep.map(s => s.name -> s.audit.get)
  }

  /** The queries that left persisted RDDs behind their scope, with those
    * RDDs' ids. */
  def leakedPins: Seq[(String, Seq[Int])] =
    sweep.collect { case Swept(n, _, ids) if ids.nonEmpty => n -> ids }
}
