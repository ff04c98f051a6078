package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Prop, Properties}
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GlobalRank

/** Shared local session for specs: the product's own session,
  * [[graft.core.GraftSession.local]] on 4 cores, so specs check the
  * settings every main runs with (generated-code cache size, the `file`
  * file system, static partition overwrite). The codegen cache and the
  * local file system are JVM-wide and set up once by their first user:
  * in a test JVM, this session.
  *
  * Every test runs inside its own [[graft.operators.GlobalRank.withScope]],
  * as every main runs each query: the test is the query boundary, and
  * pins made during it are freed when it ends. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, never stop per-suite

  override def withFixture(test: NoArgTest): Outcome =
    GlobalRank.withScope(super.withFixture(test))

  /** Runs `f` with the session confs `kv` set, then restores them. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(counter)
    try {
      val r = f
      ListenerBusBridge.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.core.GraftSession.local("4", "graft-test")
}

/** [[SparkSpec]] for ScalaCheck: the shared session, and each property
  * (all its generated cases) inside its own
  * [[graft.operators.GlobalRank.withScope]]. */
abstract class SparkProps(name: String) extends Properties(name) {
  protected lazy val spark: SparkSession = SparkSpec.session

  override def properties: collection.Seq[(String, Prop)] =
    super.properties.map { case (n, p) =>
      n -> Prop(prms => GlobalRank.withScope(p(prms)))
    }
}
