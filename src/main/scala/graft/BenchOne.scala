package graft

/** Dev helper: time one named query (or a comma list) on a given sf dir
  * in this JVM. Run 1 warms JIT/codegen and is dropped; the MIN of the
  * remaining (warm) runs is the isolated steady-state number SCALE.md's
  * contention-band triage uses — `tools/bench_isolated.sh` harvests the
  * `min=` field into BENCH_ISOLATED.json.
  *
  * Runs are ADAPTIVE (round-11 directive 2): a FIXED run count does not
  * converge for sub-second queries — ev14's floor read 1.39 s at 3 runs
  * but 0.60 s at 4 (a 2.3x artifact that made the triage tool print
  * REGRESSION for a query that actually got faster). The rule: keep
  * running until the LATEST warm run sits within the 15% band AROUND
  * the minimum of the EARLIER warm runs — band on both sides, because
  * a latest run that BEATS the prior minimum by more than the band
  * means the floor is still falling (comparing against the running min
  * INCLUDING the latest run is vacuously true whenever the latest run
  * is the new minimum — the still-improving sequence would "converge"
  * at its most inflated reading, the exact artifact this rule exists
  * to kill), and a latest run far ABOVE it is a contention spike worth
  * re-checking. Capped at `maxRuns`. The printed `runs=`/`converged=`
  * fields let the harvesters record runs-to-converge and refuse to
  * confirm cap-outs.
  *
  * Usage: runMain graft.BenchOne <sfDir> <name>[,<name>...] [maxRuns=8]
  */
object BenchOne {
  /** Latest warm run must sit within this factor of the PRIOR warm
    * minimum — on both sides — for the floor to count as converged. */
  val ConvergenceBand = 1.15

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1)
    val maxRuns = if (args.length > 2) args(2).toInt else 8
    val spark = graft.core.GraftSession.local(appName = "graft-bench-one")
    names.split(",").foreach { name =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var converged = false
      while (times.length < maxRuns && !converged) {
        // this run's layouts live in an owner scope; close is query-
        // BOUNDARY lifecycle cost, not query cost — keep it out of the
        // timed region so minima time the query alone
        val scope = graft.operators.GlobalRank.openScope()
        try {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          times += (System.nanoTime() - t0) / 1e9
        } finally scope.close()
        val warm = times.drop(1)
        // band around the PRIOR minimum: a latest run materially BELOW
        // it is a still-falling floor, materially ABOVE it a spike —
        // either way, not converged yet
        val prior = warm.dropRight(1)
        converged = prior.nonEmpty && {
          val m = prior.min
          warm.last <= m * ConvergenceBand &&
            warm.last >= m / ConvergenceBand
        }
      }
      val warm = if (times.length > 1) times.drop(1) else times.toSeq
      println(f"[benchone] $name ${times.map(t => f"$t%.2f").mkString(" ")}" +
        f" min=${warm.min}%.3f runs=${times.length} converged=$converged")
    }
    spark.stop()
  }
}
