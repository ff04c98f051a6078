package lakebench

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.GlobalRank

import Main.{copyTree, deleteTree, path}

/** pipeline_incremental, over the bronze tables run.py generated: a full
  * season and the opening weekend of the next. Set-up backfills the full
  * season (HISTORICAL) and snapshots the warehouse. Each pass restores the
  * snapshot and applies the opening weekend as one INCREMENTAL refresh, the
  * item of this workload. */
final class Incremental(spark: SparkSession, work: String) extends Workload {
  val warmPasses = 1
  val minTimedPasses = 2
  private val bronze = s"$work/bronze"
  private val wh = s"$work/warehouse"
  private val pristine = s"$work/warehouse.start"
  private val weekends = Weekend.load(s"$bronze/weekends.tsv")
  private val (history, Seq(opener)) = weekends.partition(_.year < weekends.last.year)
  private var last: Medallion = _

  def prepare(): Unit = {
    deleteTree(path(wh))
    new Medallion(spark, bronze, wh, NoTrace).backfill(Some(history.head.year))
    copyTree(path(wh), path(pristine))
  }

  def pass(trace: Trace): Pass = {
    deleteTree(path(wh))
    copyTree(path(pristine), path(wh))
    last = new Medallion(spark, bronze, wh, trace)
    val t0 = System.nanoTime()
    val failed = try { trace.span("refresh", opener.gp)(last.refresh(opener)); 0 }
      catch { case e: Exception => System.err.println(s"[lakebench] refresh failed: $e"); 1 }
    val s = (System.nanoTime() - t0) / 1e9
    Pass(s, Seq(s), failed)
  }

  /** Warehouse row counts after the history and the opener, and the last
    * refresh's `observe()` gates: the opener's rows, no null key. */
  def check(): Seq[(String, Boolean, String)] = {
    val want = Medallion.expected(history :+ opener).toMap
    val counts = Medallion.observedCounts(spark, wh).map { case (t, n) =>
      (s"rows.$t", want(t) == n, s"expected ${want(t)}, found $n")
    }
    val batch = Medallion.expected(Seq(opener)).toMap
    val gates = last.gates.toSeq.map { case (t, rows, nulls) =>
      (s"gate.$t", rows == batch(t) && nulls == 0,
        s"rows $rows (expected ${batch(t)}), null keys $nulls")
    }
    counts ++ gates :+ (("gates", gates.size == Medallion.SilverTables.size,
      s"${gates.size} silver gates"))
  }
}

/** catalog: a fixed list of `SparkEntry.queries`, each built and executed
  * into the `noop` sink, in an order the seed permutes. The starting state
  * is one untimed pass that writes each result to Parquet: the outputs the
  * checks compare, and every query's first, cold execution. */
final class CatalogRun(spark: SparkSession, seed: Long, work: String,
                       dataDir: String, names: Seq[String]) extends Workload {
  val warmPasses = 0
  val minTimedPasses = 2
  private val order = new Random(seed).shuffle(names)
  private val out = s"$work/catalog_out"

  def prepare(): Unit = {
    deleteTree(path(out))
    order.foreach { q =>
      try GlobalRank.withScope {
        SparkEntry.queries(q)(spark, dataDir).write.parquet(s"$out/$q")
      } catch { case e: Exception => System.err.println(s"[lakebench] $q: $e") }
    }
  }

  def pass(trace: Trace): Pass = {
    val t0 = System.nanoTime()
    var failed = 0
    val items = order.map { q =>
      val t = System.nanoTime()
      try trace.span("query", q) {
        GlobalRank.withScope {
          val df = trace.span("build")(SparkEntry.queries(q)(spark, dataDir))
          trace.span("exec")(df.write.mode("overwrite").format("noop").save())
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[lakebench] $q failed: $e"); failed += 1
      }
      (System.nanoTime() - t) / 1e9
    }
    Pass((System.nanoTime() - t0) / 1e9, items, failed)
  }

  /** Writes each query's DuckDB oracle SQL next to the results set-up
    * dumped; run.py compares them with tools/check_oracle.py's rules, a
    * missing dump failing. */
  def check(): Seq[(String, Boolean, String)] = {
    val sql = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.createDirectories(path(out))
    Files.writeString(path(s"$out/oracle_sql.json"), sql.map { case (q, s) =>
      s""""$q": "${jsonEscape(s)}""""
    }.mkString("{", ",\n", "}"))
    names.filterNot(SparkEntry.oracleSql.contains)
      .map(q => (s"oracle.$q", false, "no oracle SQL"))
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
