package graft

import org.apache.spark.sql.functions._

import graft.queries.TrainerQueries

/** Specs for the corpus-training loops (BPE merge learning, GD
  * classifier training). The oracle harness pins engine parity; these
  * pin the SEMANTICS that make the queries correct BPE / correct GD —
  * greedy run-parity merging, deterministic tie-breaks, loop
  * reproducibility. */
class TrainerSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def wf(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("word", "freq")
  }

  private def segText(seg: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
    seg.orderBy("word", "pos").collect()
      .groupBy(_.getString(0))
      .map { case (w, rs) => w -> rs.sortBy(_.getLong(2)).map(_.getString(3)).toSeq }

  test("charSeg explodes words to one symbol per character, no empties") {
    val seg = TrainerQueries.charSeg(wf("spark" -> 2L, "ab" -> 1L))
    val m = segText(seg)
    assert(m("spark") == Seq("s", "p", "a", "r", "k"))
    assert(m("ab") == Seq("a", "b"))
  }

  test("mergeRound applies the argmax pair greedily left-to-right " +
    "(run parity: aaaa -> aa|aa, aaa -> aa|a)") {
    val seg = TrainerQueries.charSeg(wf("aaaa" -> 1L, "aaa" -> 1L))
    val (pick, next) = TrainerQueries.mergeRound(seg)
    val p = pick.collect()(0)
    // overlapping occurrences count (Sennrich get_stats): 3 + 2 = 5
    assert((p.getString(0), p.getString(1), p.getLong(2)) == ("a", "a", 5L))
    val m = segText(next)
    assert(m("aaaa") == Seq("aa", "aa"), m)
    assert(m("aaa") == Seq("aa", "a"), m)
  }

  test("mergeRound tie-break is deterministic: lowest (left, right) pair") {
    val seg = TrainerQueries.charSeg(wf("dcba" -> 3L))
    val (pick, _) = TrainerQueries.mergeRound(seg)
    val p = pick.collect()(0)
    // dc, cb, ba all have weighted count 3 -> 'ba' sorts first? No:
    // ORDER BY cnt DESC, left, right -> ('b','a') < ('c','b') < ('d','c')
    assert((p.getString(0), p.getString(1), p.getLong(2)) == ("b", "a", 3L))
  }

  test("merges compose: second round works on merged symbols and the " +
    "weighted symbol count is strictly decreasing while merges apply") {
    val seg0 = TrainerQueries.charSeg(wf("abab" -> 2L, "aba" -> 1L))
    def weighted(d: org.apache.spark.sql.DataFrame): Long =
      d.agg(coalesce(sum(col("freq")), lit(0L))).collect()(0).getLong(0)
    val n0 = weighted(seg0)
    val (p1, seg1) = TrainerQueries.mergeRound(seg0)
    val n1 = weighted(seg1)
    // (a,b) weighted 2*2+1 = 5 beats (b,a) 2+1
    val r1 = p1.collect()(0)
    assert((r1.getString(0), r1.getString(1), r1.getLong(2)) == ("a", "b", 5L))
    assert(segText(seg1)("abab") == Seq("ab", "ab"))
    assert(segText(seg1)("aba") == Seq("ab", "a"))
    val (p2, seg2) = TrainerQueries.mergeRound(seg1)
    val r2 = p2.collect()(0)
    // now (ab,ab) weighted 2 beats (ab,a) weighted 1
    assert((r2.getString(0), r2.getString(1), r2.getLong(2)) == ("ab", "ab", 2L))
    assert(segText(seg2)("abab") == Seq("abab"))
    val n2 = weighted(seg2)
    assert(n0 > n1 && n1 > n2, s"$n0 $n1 $n2")
  }

  test("pretokenizedVocab replays the training algebra: tokens match " +
    "the trained segmentation and the fold form, and the bounded-" +
    "lineage re-pinning is transparent") {
    val w = wf("aaab" -> 2L, "abab" -> 1L, "aaa" -> 1L, "b" -> 4L)
    var seg = TrainerQueries.charSeg(w)
    val merges = (1 to 2).map { _ =>
      val (pick, next) = TrainerQueries.mergeRound(seg)
      seg = next
      val r = pick.collect()(0)
      (r.getString(0), r.getString(1))
    }
    val trained = segText(seg)
    def vocabMap(checkpointEvery: Int): Map[String, List[String]] =
      TrainerQueries.pretokenizedVocab(w, merges, checkpointEvery)
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    val v = vocabMap(16)
    assert(v == trained, (v, trained))
    // re-pinning the segmentation after EVERY merge (the production
    // bounded-lineage path for a ~30k table) changes nothing
    assert(vocabMap(1) == v)
    // the fold form agrees word-for-word
    val fold = w.select(col("word"),
        TrainerQueries.applyMerges(col("word"), merges).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList)
      .toMap
    assert(fold == v, (fold, v))
  }

  test("the bpe word gate is a parameter with a fixture default: a " +
    "tighter gate restricts exactly by the pattern, and the oracle " +
    "template embeds the same gate") {
    val default = TrainerQueries.wordFreq(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tight = TrainerQueries.wordFreq(spark, sf, "^[a-z]{4,12}$")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(default.exists(_._1.length < 4)) // the parameter has effect
    assert(tight == default.filter(_._1.length >= 4))
    // the parameterized catalog builds, and the SQL twin embeds the
    // same pattern so a production differential stays exact
    assert(TrainerQueries.queriesWith("^[a-z]{4,12}$").keySet ==
      TrainerQueries.queries.keySet)
    assert(TrainerQueries.oracleSqlWith("^[a-z]{4,12}$")("bpe1_pair_stats")
      .contains("'^[a-z]{4,12}$'"))
    // the quote-free/ASCII embedding convention is an executable
    // contract on BOTH template paths, not a scaladoc caveat — a quote
    // would silently break the single-quoted oracle SQL
    intercept[IllegalArgumentException] {
      TrainerQueries.wordFreq(spark, sf, "^[a-z']{2,12}$")
    }
    intercept[IllegalArgumentException] {
      TrainerQueries.oracleSqlWith("^[a-zé]{2,12}$")
    }
  }

  test("the wide word gate DISCRIMINATES on the fixture: bpe1's " +
    "augmented corpus carries digit-bearing x<id> words that pass " +
    "WideWordPat and fail DefaultWordPat, so the two instantiations " +
    "produce different pair tables (round-12 directive 1)") {
    def pairs(gate: String): Map[(String, String), Long] =
      TrainerQueries.queriesWith(gate)("bpe1_pair_stats")(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wide = pairs(TrainerQueries.WideWordPat)
    val dflt = pairs(TrainerQueries.DefaultWordPat)
    // if these were equal, a plumbing bug that silently drops the gate
    // parameter on either engine side would pass the oracle
    assert(wide != dflt, "vacuous parameter proof: wide == default")
    // specifically: the wide table sees the digit symbols of the
    // augmentation words, the default gate filters every one of them
    assert(wide.keys.exists { case (l, r) => (l + r).exists(_.isDigit) })
    assert(!dflt.keys.exists { case (l, r) => (l + r).exists(_.isDigit) })
  }

  test("applyMerges fold form is bounded: a merge table past " +
    "MaxFoldMerges is rejected with the lookup-join pointer") {
    val big = (1 to TrainerQueries.MaxFoldMerges + 1).map(i => (s"x$i", "y"))
    val e = intercept[IllegalArgumentException] {
      TrainerQueries.applyMerges(col("word"), big)
    }
    assert(e.getMessage.contains("pretokenize"), e.getMessage)
    // at the bound it still builds (the expression, not an error)
    TrainerQueries.applyMerges(col("word"),
      big.take(TrainerQueries.MaxFoldMerges))
  }

  test("trainWeights is reproducible and moves weights off zero on the " +
    "fixture corpus") {
    val feat = TrainerQueries.features(spark, sf)
    val w1 = TrainerQueries.trainWeights(feat)
    val w2 = TrainerQueries.trainWeights(feat)
    assert(w1.toSeq == w2.toSeq)
    assert(w1.exists(_ != 0L), w1.toSeq)
    // micro-unit weights stay in the bounded envelope the scaladoc
    // argues (|delta| <= max per-row gradient / 2 per step)
    assert(w1.forall(v => math.abs(v) < 10000000L), w1.toSeq)
  }

  test("trainWeights matches a sequential driver-side GD reference " +
    "(independent of the distributed aggregation path)") {
    val feat = TrainerQueries.features(spark, sf)
    val rows = feat.collect()
    val w = Array(0L, 0L, 0L, 0L)
    for (_ <- 1 to 3) {
      val g = Array(0L, 0L, 0L, 0L)
      rows.foreach { r =>
        val y = r.getLong(0)
        val x = Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        // term-by-term double multiply, matching predMicro's documented
        // overflow-symmetric semantics (identical to the long product
        // for every in-envelope value)
        val s = w(0).toDouble * x(0) + w(1).toDouble * x(1) +
          w(2).toDouble * x(2) + w(3).toDouble * x(3)
        val z = s / 1000000000000.0
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val pm = math.floor(p * 1000000.0).toLong
        val e = pm - y * 1000000L
        var j = 0
        while (j < 4) {
          g(j) += math.floor((e * x(j)).toDouble / 1000000.0).toLong
          j += 1
        }
      }
      if (rows.nonEmpty) {
        var j = 0
        while (j < 4) {
          w(j) -= math.floor(g(j).toDouble / (2.0 * rows.length)).toLong
          j += 1
        }
      }
    }
    assert(TrainerQueries.trainWeights(feat).toSeq == w.toSeq, w.toSeq)
  }

  test("feature extraction prunes the documents scan to (lang, text)") {
    val p = TrainerQueries.features(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = p.split("ReadSchema:").last
    assert(readSchema.contains("lang") && readSchema.contains("text"),
      readSchema.take(300))
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      readSchema.take(300))
  }

  test("bpe windows are word-partitioned (no funnel at sweep bounds) and " +
    "the pick re-enters as a 1-row broadcast") {
    val df = queries.TrainerQueries.queries("bpe2_merge_table")(spark, sf)
    // the catalog-wide measured gate, applied directly: flags any window
    // whose group key is low-cardinality relative to its input (scoped:
    // this test owns the query boundary, the helper no longer drains)
    graft.operators.GlobalRank.withScope {
      assert(PlanAudit.windowFunnels(df, 32L, 512L).isEmpty)
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("predMicro is a valid quantized probability under any weights") {
    val feat = TrainerQueries.features(spark, sf)
    val scored = feat.select(
      TrainerQueries.predMicro(Array(123456L, -654321L, 42L, 7L)).as("pm"))
    val bad = scored.filter(col("pm") < 0L || col("pm") > 1000000L).count()
    assert(bad == 0L)
  }
}
