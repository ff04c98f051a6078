package lakebench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One pass of a workload: its wall time, per-item latencies and failures.
  * An item is a query (catalog) or a weekend refresh (pipeline_incremental). */
final case class Pass(wallS: Double, itemsS: Seq[Double], failed: Int)

/** A workload over inputs run.py generated: the starting state, one pass of
  * timed work, and the output checks run after the timed region. */
trait Workload {
  /** Untimed passes after the starting state: about where this workload's
    * pass times stop falling in a fresh JVM. */
  def warmPasses: Int
  /** Timed passes at least, so the medians rest on a fixed count. */
  def minTimedPasses: Int
  /** Build the starting state from the inputs. */
  def prepare(): Unit
  def pass(trace: Trace): Pass
  /** (check name, passed, detail) */
  def check(): Seq[(String, Boolean, String)]
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, catalogData: String, catalogList: String,
      inputsS: Double)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val o = Opts(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--work"), kv.getOrElse("--catalog-data", ""),
      kv.getOrElse("--catalog-list", ""), kv("--inputs-s").toDouble)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.local(cores.toString, "lakebench")
    try println(run(spark, o, cores))
    finally spark.stop()
  }

  def run(spark: SparkSession, o: Opts, cores: Int): String = {
    val wl: Workload = o.workload match {
      case "pipeline_incremental" => new Incremental(spark, o.work)
      case "catalog" => new CatalogRun(spark, o.seed, o.work, o.catalogData,
        Source.fromFile(o.catalogList).getLines().map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up: the inputs' generation time (run.py, median of several),
    // the starting state, then a fixed number of warm-up passes
    val prepare = timeS(wl.prepare())
    val warmPasses = mutable.ArrayBuffer[Double]()
    val warm = timeS {
      for (_ <- 1 to wl.warmPasses) warmPasses += wl.pass(NoTrace).wallS
    }
    val setupS = o.inputsS + prepare + warm

    val passes =
      if (!o.trace) timed(o.seconds, wl.minTimedPasses)(wl.pass(NoTrace))
      else {
        // pairs of an untraced and a traced pass, at least two, half the
        // region each, in the order untraced, traced, traced, untraced, ...
        // so that passes still speeding up favour neither; the difference
        // of their median walls is the tracing overhead
        val tr = new SpanTrace(spark)
        val plain = mutable.ArrayBuffer[Pass]()
        def tracedPass() = { tr.start(); try wl.pass(tr) finally tr.stop() }
        var pair = 0
        val traced = timed(o.seconds / 2, 2) {
          pair += 1
          if (pair % 2 == 1) { plain += wl.pass(NoTrace); tracedPass() }
          else { val t = tracedPass(); plain += wl.pass(NoTrace); t }
        }
        val overhead = median(traced.map(_.wallS)) - median(plain.map(_.wallS).toSeq)
        Layers.report(o.workload, tr, traced, cores, overhead,
          s"${o.work}/trace-${o.workload}.json")
        traced
      }

    val checks = wl.check()
    checks.filterNot(_._2).foreach { case (n, _, d) =>
      System.err.println(s"[lakebench] check failed: $n: $d")
    }
    val items = passes.flatMap(_.itemsS)
    val attempted = items.size + checks.size
    val failed = passes.map(_.failed).sum + checks.count(!_._2)
    // a traced run's metrics are in its artifact, which run.py reads
    val metrics =
      if (o.trace) "{}"
      else Seq(
        "setup_s" -> setupS,
        "run_s" -> median(passes.map(_.wallS)),
        "p50_s" -> quantile(items, 0.5),
        "p90_s" -> quantile(items, 0.9))
        .map { case (k, v) => s""""$k": {"value": $v, "unit": "s"}""" }
        .mkString("{", ", ", "}")
    System.err.println(s"[lakebench] ${o.workload}: ${passes.size} passes, " +
      s"${items.size} items, inputs ${o.inputsS}, prepare $prepare, warm-up " +
      s"passes ${warmPasses.mkString(",")}, timed passes ${passes.map(_.wallS).mkString(",")}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $metrics}"""
  }

  /** Whole passes until `seconds` have elapsed and at least `minPasses`
    * have run. */
  def timed(seconds: Double, minPasses: Int)(pass: => Pass): Seq[Pass] = {
    val out = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      out += pass
    out.toSeq
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val t = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  def path(s: String): Path = Paths.get(s)
}
