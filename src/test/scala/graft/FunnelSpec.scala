package graft

/** Executable window-funnel review rule (round-7 directive 3) — the CI
  * form of SCALE.md's "single-partition windows" audit.
  *
  * The disease: a window partitioned by a low-cardinality key (3 return
  * flags, 2 experiment arms) over a corpus-sized frame is CORRECT today
  * and dead at 100× — parallelism = #groups no matter how many
  * executors exist. It is also invisible to static plan checks, because
  * key cardinality is a data property; round 7 shipped three such
  * funnels (d30/d41/ab9) past a documented-but-unenforced review rule,
  * and this gate's first catalog sweep found three more the reviewer
  * missed (d17/d22/d23, whose "histogram" grain — price cents — itself
  * scales with the corpus). All six now ride
  * [[graft.operators.GlobalRank]]; this spec keeps the catalog clean by
  * MEASURING every logical window in every catalog query, read from the
  * shared sf0.001 pass ([[CatalogAudit]]). Windows come from the
  * optimized plan and are counted by their own jobs, so the pass's AQE
  * setting does not change what this spec measures.
  */
class FunnelSpec extends SparkSpec {

  test("no catalog query windows a corpus-sized frame through a " +
      "low-cardinality partition key") {
    // Audited exceptions. ONE admission argument, spelled (keep in
    // lockstep with SCALE.md's audit table; a stale entry fails the
    // second assertion below):
    //  - e2/e10: the partition-key cardinality SCALES with the data but
    //    is tiny at sf0.001 (10 suppliers) — the measured ceiling is a
    //    fixture artifact; at any real scale these keys have
    //    executor-count cardinality.
    // (ts17 left this list in round 9: its span-bounded CDF cumulative
    // now rides GlobalRank.withGlobalPrefixSum, so the remaining
    // entries are exactly "keys whose cardinality scales with data".)
    val audited = Set("e2_best_flags", "e10_sliding_frame")
    val flagged = CatalogAudit.sf0001.flatMap { case (name, audit) =>
      audit.funnels.map(sh => name -> sh.describe)
    }
    val unexpected = flagged.filterNot { case (n, _) => audited(n) }
    assert(unexpected.isEmpty,
      "new window funnels (fix via GlobalRank or add to the audited " +
        "list WITH a cardinality argument):\n" +
        unexpected.map { case (n, d) => s"  $n: $d" }.mkString("\n"))
    // the audited list must stay honest: entries that no longer flag
    // must be removed, so the list can only shrink toward zero
    val flaggedNames = flagged.map(_._1).toSet
    assert(audited.subsetOf(flaggedNames),
      s"stale audited entries: ${(audited -- flaggedNames).mkString(", ")}")
  }
}
