package graft

/** Per-round benchmark main: runs every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query and total
  * seconds.
  *
  * Measurement notes:
  *  - results are fully materialized via the `noop` sink (a bare `count()`
  *    lets Catalyst prune projections, which would under-measure);
  *  - a small warm-up action runs first so JVM/classloader/codegen
  *    first-touch cost is not billed to the first query;
  *  - the session is [[graft.core.GraftSession.local]], the one every
  *    other main and the specs run: AQE on, shuffle partitions sized to
  *    the core count (local mode).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(appName = "graft-bench")

    // each query's GlobalRank layout checkpoints live in a per-query
    // owner scope, freed deterministically at the query boundary (the
    // result is fully materialized by the noop sink) instead of riding
    // until GC — and never touching another owner's layouts
    def materialize(name: String): Unit =
      graft.operators.GlobalRank.withScope {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }

    // Warm-up: exercise scan, shuffle, window, decimal-agg, and
    // array/HOF codegen paths once so first-touch JIT/codegen cost isn't
    // billed to whichever query happens to run first. The SHARED list —
    // the audit sweeps warm with the same queries, keeping catalog and
    // preflight timings comparable.
    graft.AllowlistedSweep.WarmupQueries.foreach { q =>
      try materialize(q) catch { case _: Throwable => () }
    }

    // min of two runs per query: a single-JVM session running 90+ queries
    // hits occasional multi-second JIT/GC stalls that land on a random
    // query; the min reflects steady-state cost. If both runs were slow
    // (a stall spanning the pair), retry up to twice more before
    // accepting the number — threshold 2 s: every query in the catalog
    // runs under that warm, so anything above is a stall, and the extra
    // runs cost nothing when the query really is slow.
    // A throw returns None — never a ~0 s "time" that silently deflates
    // the total while hiding a broken query (round-5 lesson).
    def timeOne(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try { materialize(name); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // Optional comma-separated query filter for focused local runs
    // (absent on driver runs → full catalog).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val firstPass = names.map { name =>
      var best = (timeOne(name) ++ timeOne(name)).reduceOption(_ min _)
      var extra = 0
      while (best.exists(_ > 2.0) && extra < 2) {
        best = (best ++ timeOne(name)).reduceOption(_ min _); extra += 1
      }
      name -> best
    }
    // Second chance for stall victims: immediate retries don't help when a
    // contention burst on a shared machine spans all of them (round 3 saw a
    // 1.1 s query report 9.1 s that way). Re-time anything still above the
    // stall threshold once more at the END of the catalog — minutes later,
    // when the burst has usually passed — and keep the min.
    val retimed = firstPass.map { case (name, best) =>
      name -> (if (best.exists(_ > 2.0))
        (best ++ timeOne(name)).reduceOption(_ min _) else best)
    }
    val failed = retimed.collect { case (name, None) => name }
    val results = retimed.collect { case (name, Some(v)) => name -> v }
    // The harness captures only the last ~2000 chars of output, so the
    // JSON line must stay short: 3-decimal seconds, and the per-query dict
    // capped to a character budget — slowest queries first (the ones worth
    // diagnosing), the rest folded into "omitted". The TOTAL always covers
    // every query.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.map(_._2).sum
    val entries = results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val budget = 1600
    val sb = new StringBuilder
    var omitted = 0
    entries.foreach { e =>
      if (sb.length + e.length + 1 <= budget) {
        if (sb.nonEmpty) sb.append(','); sb.append(e)
      } else omitted += 1
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The stdout line is budget-capped (the harness keeps only its tail),
    // but round-over-round regression detection needs EVERY per-query
    // time, not just the slow tail — persist the complete map to a file
    // the repo can commit and diff against next round. The artifact
    // carries its own noise floor (round-11 directive 3): between two
    // identical-code catalog runs, per-query times below ~2 s swung
    // 0.63-1.56x (occasionally 8-10x on sub-0.3s queries) from run
    // order/JIT/GC coupling while TOTALS agreed to ~1% — deltas under
    // stable_above_sec carry no signal; time a mover on its own in a
    // fresh JVM (SPARK_GRAFT_ONLY=<query> on this main), never from raw
    // diffs.
    val noiseNote = "per-query times below stable_above_sec are " +
      "in-catalog order/JIT noise (measured 0.63-1.56x band on " +
      "identical code; totals agree to ~1%) - re-time movers alone in " +
      "a fresh JVM (SPARK_GRAFT_ONLY), not from raw deltas"
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","stable_above_sec":2.0,"per_query_noise":"$noiseNote","queries":{${
        entries.mkString(",")}},"failed":$failedJson,"sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{$sb},"omitted":$omitted,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
