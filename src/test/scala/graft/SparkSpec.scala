package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs.
  *
  * It takes the product's generated-code settings,
  * [[graft.core.GraftSession.CodegenReuse]], cache size included, so specs
  * that count compiled classes test the product's setting. The cache is
  * JVM-wide and sized once, by the first session that generates code: in
  * a test JVM, this one. The same holds for the local file system,
  * [[graft.core.GraftSession.ForkFreeLocalFs]]: Hadoop caches it per JVM,
  * created by its first user. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, never stop per-suite

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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // same extension tier as the product session (GraftSession.local):
      // SQL-registered kernels (md5_prefix60 …) + custom planner
      // strategies resolve in specs that sweep the whole catalog
      .config("spark.sql.extensions",
        classOf[graft.core.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.core.GraftSession.CodegenReuse)
      .config(graft.core.GraftSession.ForkFreeLocalFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
