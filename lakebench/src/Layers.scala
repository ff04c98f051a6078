package lakebench

import java.nio.file.{Files, Paths}

/** Per-layer numbers of a traced run, per pass: the artifact with every
  * span and layer metric. run.py prints the `per_layer` metrics of
  * BENCHMARK.json from its `per_pass` object. */
object Layers {

  def report(workload: String, tr: SpanTrace, passes: Seq[Pass], cores: Int,
             overheadS: Double, out: String): Unit = {
    val spans = tr.spans.toSeq
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val n = passes.size.toDouble
    def named(name: String) = spans.filter(_.name == name)
    def time(name: String) = named(name).map(_.durS).sum / n
    def count(name: String, k: String) =
      named(name).flatMap(subtree).map(_.counts(k)).sum / n
    def total(k: String) = spans.map(_.counts(k)).sum / n
    val catalog = workload == "catalog"
    val bronzeBytes = count("silver.write", "input_bytes")
    val written = Seq("silver.write", "scd2.write", "gold.write")
      .map(count(_, "bytes_written")).sum

    val metrics: Seq[(String, Double)] = Seq(
      "queries.build_s" -> (if (catalog) time("build") else 0.0),
      "queries.build_jobs" -> (if (catalog) count("build", "jobs") else 0.0),
      "operators.pins" -> total("pins"),
      "operators.pinned_peak_bytes" ->
        Main.median(tr.passPinnedPeaks.map(_.toDouble).toSeq),
      "catalyst.plan_s" -> total("plan_s"),
      "build.s" -> time("build"), "build.jobs" -> count("build", "jobs"),
      "exec.s" -> time("exec"), "exec.jobs" -> count("exec", "jobs"),
      "exec.stages" -> count("exec", "stages"),
      "exec.tasks" -> count("exec", "tasks"),
      "tasks.run_s" -> total("task_run_s"), "tasks.cpu_s" -> total("task_cpu_s"),
      "tasks.gc_s" -> total("task_gc_s"),
      "shuffle.read_bytes" -> total("shuffle_read_bytes"),
      "shuffle.write_bytes" -> total("shuffle_write_bytes"),
      "spill.bytes" -> total("spill_bytes"),
      "sched.idle_s" ->
        (passes.map(_.wallS).sum / n - total("task_run_s") / cores),
      "sources.read_s" -> time("sources.read"),
      "sources.read_jobs" -> count("sources.read", "jobs"),
      "silver.write_s" -> time("silver.write"),
      "silver.jobs" -> count("silver.write", "jobs"),
      "silver.rows_out" -> count("silver.write", "rows_written"),
      "silver.files" -> count("silver.write", "files_written"),
      "silver.bytes" -> count("silver.write", "bytes_written"),
      "scd2.write_s" -> time("scd2.write"),
      "scd2.jobs" -> count("scd2.write", "jobs"),
      "scd2.dim_rows" -> count("scd2.write", "rows_written"),
      "gold.write_s" -> time("gold.write"),
      "gold.jobs" -> count("gold.write", "jobs"),
      "gold.rows_out" -> count("gold.write", "rows_written"),
      "gold.files" -> count("gold.write", "files_written"),
      "gold.bytes" -> count("gold.write", "bytes_written"),
      "io.write_amp" -> (if (bronzeBytes > 0) written / bronzeBytes else 0.0),
      "process.peak_rss_mb" -> Main.peakRssMb())

    val layers = spans.map(_.name).distinct.map { name =>
      val ss = named(name)
      val counts = ss.flatMap(subtree).flatMap(_.counts.toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      s""""$name": {"spans_per_pass": ${ss.size / n}, "total_s": ${time(name)}, """ +
        s""""self_s": ${ss.map(_.selfS).sum / n}, "counts": ${
          obj(counts.toSeq.sorted.map { case (k, v) => k -> (v / n).toString })}}"""
    }
    val spanRows = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""attr": "${s.attr}", "start_s": ${(s.startNs - spans.head.startNs) / 1e9}, """ +
        s""""dur_s": ${s.durS}, "self_s": ${s.selfS}, "counts": ${
          obj(s.counts.toSeq.map { case (k, v) => k -> v.toString })}}"""
    }
    val artifact =
      s"""{"workload": "$workload", "passes": ${passes.size}, "cores": $cores,
         |"traced_run_s": ${Main.median(passes.map(_.wallS))},
         |"tracing_overhead_s": $overheadS,
         |"per_pass": ${obj(metrics.map { case (k, v) => k -> v.toString })},
         |"layers": {${layers.mkString(",\n")}},
         |"spans": [${spanRows.mkString(",\n")}]}
         |""".stripMargin
    Files.writeString(Paths.get(out), artifact)
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
}
