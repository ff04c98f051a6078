package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer. Untraced runs use
  * [[NoTrace]], which only evaluates the body. */
trait Trace {
  def span[T](name: String, attr: String = "")(body: => T): T
}

object NoTrace extends Trace {
  def span[T](name: String, attr: String)(body: => T): T = body
}

final class Span(val id: Int, val parent: Int, val name: String,
    val attr: String, val startNs: Long) {
  var endNs: Long = 0L
  var childNs: Long = 0L
  val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counts(k) += v
  def durS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
}

/** In-memory span recorder. Spark job, stage and task events, SQL
  * executions and block updates are charged to the innermost span open
  * when they were processed; the listener bus is drained at every span
  * boundary, so that is the span that was open when they happened. */
final class SpanTrace(spark: SparkSession) extends Trace {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val stageSpan = mutable.Map[Int, Span]()
  /** Cached bytes per RDD block, by RDD id. */
  private val rddBytes = mutable.Map[Int, mutable.Map[String, Long]]()
  private val pinnedRdds = mutable.Set[Int]()
  private var pinnedNow = 0L
  private var pinnedPeak = 0L
  /** Peak cached RDD bytes of each traced pass (between start and stop). */
  val passPinnedPeaks = mutable.ArrayBuffer[Long]()

  private def top: Option[Span] = stack.headOption
  private def locked[T](f: => T): T = SpanTrace.this.synchronized(f)

  def span[T](name: String, attr: String)(body: => T): T = {
    drain()
    val s = locked {
      val s = new Span(spans.size, top.fold(-1)(_.id), name, attr,
        System.nanoTime())
      spans += s; stack.push(s); s
    }
    try body
    finally {
      drain()
      locked {
        s.endNs = System.nanoTime()
        stack.pop()
        top.foreach(_.childNs += s.endNs - s.startNs)
      }
    }
  }

  private def drain(): Unit =
    org.apache.spark.lakebench.ListenerBusDrain(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      top.foreach { s =>
        s.add("jobs", 1)
        e.stageInfos.foreach(i => stageSpan(i.stageId) = s)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      locked {
        stageSpan.get(e.stageInfo.stageId).orElse(top).foreach(_.add("stages", 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).orElse(top).foreach { s =>
        s.add("tasks", 1)
        if (m != null) {
          s.add("task_run_s", m.executorRunTime / 1e3)
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("task_gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      locked {
        val info = e.blockUpdatedInfo
        info.blockId.asRDDId.foreach { rdd =>
          val key = info.blockId.name
          val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize
            else 0L
          val blocks = rddBytes.getOrElseUpdate(rdd.rddId, mutable.Map())
          pinnedNow += bytes - blocks.getOrElse(key, 0L)
          if (bytes > 0) blocks(key) = bytes else blocks.remove(key)
          if (bytes > 0 && pinnedRdds.add(rdd.rddId)) top.foreach(_.add("pins", 1))
          pinnedPeak = math.max(pinnedPeak, pinnedNow)
          top.foreach(s => s.counts("pinned_peak_bytes") =
            math.max(s.counts("pinned_peak_bytes"), pinnedNow.toDouble))
        }
      }
    // a non-blocking unpersist removes the blocks without a block update
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = locked {
      rddBytes.remove(e.rddId).foreach(b => pinnedNow -= b.values.sum)
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = locked {
      top.foreach { s =>
        val phases = qe.tracker.phases
        s.add("plan_s", Seq("optimization", "planning")
          .flatMap(phases.get).map(_.durationMs / 1e3).sum)
        writeMetrics(qe.executedPlan).foreach { case (k, v) => s.add(k, v) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** files/bytes/rows written by the write commands inside a plan. */
  private def writeMetrics(plan: SparkPlan): Seq[(String, Double)] = plan match {
    case w: DataWritingCommandExec =>
      Seq("numFiles" -> "files_written", "numOutputBytes" -> "bytes_written",
        "numOutputRows" -> "rows_written").flatMap { case (m, k) =>
        w.metrics.get(m).map(v => k -> v.value.toDouble)
      }
    case c: CommandResultExec => writeMetrics(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeMetrics(a.executedPlan)
    case q: QueryStageExec => writeMetrics(q.plan)
    case p => p.children.flatMap(writeMetrics)
  }

  /** Listens for one traced pass. Blocks cached or released while no pass
    * was traced are unknown, so the pinned bytes count from zero. */
  def start(): Unit = {
    locked { rddBytes.clear(); pinnedNow = 0L; pinnedPeak = 0L }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    locked { passPinnedPeaks += pinnedPeak }
  }
}
