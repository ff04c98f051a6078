package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.TextAnalysis
import Det.normSql

/** Corpus-level TRAINING loops — queries whose output is a LEARNED
  * artifact (a tokenizer merge table, classifier weights) rather than a
  * transform of the input rows. Two capability classes the catalog's
  * scoring/application queries consume but nothing previously produced:
  *
  *  - **Tokenizer training** (`bpe1`–`bpe3`): distributed byte-pair-
  *    encoding merge learning. The corpus collapses to a word-frequency
  *    table FIRST (the classic BPE-trainer design — one corpus-grain
  *    aggregation), so every merge round runs at WORD-TYPE grain:
  *    at 100 TB the vocabulary is ~10^8 rows against ~10^11 documents,
  *    a 1000× reduction before any iterative work starts. Each round is
  *    word-partitioned window arithmetic (greedy left-to-right pair
  *    merging via run-parity — exact BPE semantics, including overlapping
  *    runs like `aaa`) plus a top-1 pair pick that flows back in as a
  *    1-row broadcast, never a driver collect.
  *
  *  - **Classifier training** (`lr1`–`lr2`): full-batch gradient descent
  *    for a logistic-style language classifier over text-derived
  *    features. Each step is one narrow map over the cached feature
  *    frame plus a 5-number gradient aggregate (metadata grain — the
  *    same contract as KMeans' k-row centroid collect); at any scale a
  *    step costs one scan and a tree-reduce, no shuffle of row data.
  *    The link function is the rational "fast sigmoid"
  *    `0.5 + z / (2(1+|z|))` — deliberately transcendental-free so every
  *    double op is a correctly-rounded IEEE primitive and the DuckDB
  *    oracle reproduces training bit-exactly (the micro-quantization
  *    idiom from ExperimentQueries, applied to a whole training loop).
  *
  * Both families quantize every ratio to integer micro units immediately
  * (floor of an exact-integer-valued dividend over a small divisor —
  * quotient granularity 1/b with b ≪ 2^33, far above double ulp, so
  * floor is engine-stable).
  */
object TrainerQueries {

  /** documents, spread across cores (the Tables.spread rationale: the
    * harness parquet is one row group; these queries are compute-bound
    * per row). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))

  private val stopPat =
    "\\b(the|a|an|of|and|in|to|is|it|for|on|with|as|at|by|from)\\b"

  // ---------------------------------------------------------------- BPE

  /** Fixture default for the trainer's word gate: bounds the per-word
    * character explode and keeps char semantics identical between Java
    * regex and RE2. A production trainer widens the class to the
    * byte/codepoint alphabet (and pre-tokenizes punctuation) — the gate
    * is a PARAMETER ([[wordFreq]] / [[queriesWith]] / [[oracleSqlWith]]),
    * not a constant, so that generalization is an argument, not a code
    * edit (round-10 directive 6); the word-frequency pivot and the merge
    * algebra are unchanged by it. Pass a quote-free, fully-anchored,
    * ASCII-class-only pattern (it embeds verbatim in both engines'
    * regex literals, single-quoted on the oracle side). */
  val DefaultWordPat = "^[a-z]{2,12}$"

  /** Production-shaped word gate for the catalog's parameterization
    * proof (round-11 directive 4): a wider class (digits admitted,
    * longer words) than the fixture default. `bpe1_pair_stats` ships
    * re-oracled under THIS gate — green hashes on both engine sides for
    * a non-default parameter — while `bpe2`–`bpe4` keep the default, so
    * both instantiations stay covered every round. The fixture's word
    * salad has no digit-bearing words, so bpe1 additionally AUGMENTS
    * its corpus with one deterministic `x&lt;doc_id%100&gt;` word per
    * document (round-12 directive 1): those words pass THIS gate and
    * fail [[DefaultWordPat]], so the two instantiations produce
    * provably different pair tables on the fixture and a
    * parameter-plumbing bug on either engine side breaks the hash
    * (TrainerSpec asserts wide ≠ default). */
  val WideWordPat = "^[a-z0-9]{2,16}$"

  /** Word-frequency table: the scale pivot. One corpus-grain shuffle,
    * everything downstream is word-TYPE grain. */
  private[graft] def wordFreq(s: SparkSession, dir: String,
                              wordPat: String = DefaultWordPat): DataFrame =
    wordFreqOf(docs(s, dir), wordPat)

  /** [[wordFreq]] over an explicit documents frame — lets a training
    * run pivot a SLICE of the corpus (bpe4 trains on yesterday's half
    * and serves today's whole) without re-reading the source. */
  private[graft] def wordFreqOf(d: DataFrame, wordPat: String): DataFrame = {
    Det.requireEmbeddablePattern("bpe word gate", wordPat)
    d.select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
        .as("word"))
      .filter(col("word").rlike(wordPat))
      .groupBy("word")
      .agg(count(lit(1)).cast("bigint").as("freq"))
  }

  /** Character-level segmentation rows: (word, freq, pos, sym). The
    * `(?!^)` split puts one character per element with no leading
    * empty string — the DuckDB twin enumerates positions with
    * generate_series + substr. */
  private[graft] def charSeg(wf: DataFrame): DataFrame =
    wf.select(col("word"), col("freq"),
        posexplode(split(col("word"), "(?!^)")).as(Seq("pos", "sym")))
      // Spark split keeps a trailing empty element (limit -1 semantics;
      // the (?!^) lookahead also matches at end-of-string) — drop it, the
      // real symbols already sit at pos 0..len-1.
      .filter(col("sym") =!= "")
      .select(col("word"), col("freq"), col("pos").cast("bigint").as("pos"),
        col("sym"))

  /** One BPE merge round over a segmentation: pick the argmax adjacent
    * pair (weighted by word frequency, overlapping occurrences counted —
    * Sennrich's get_stats semantics), then apply it greedily left-to-
    * right. Greedy-with-runs is expressed as pure window arithmetic:
    * within each maximal run of consecutive flagged positions, ODD
    * row_numbers merge (so `aaaa` + merge (a,a) → `aa aa`, `aaa` →
    * `(aa)a` — exact reference-BPE behavior). The pick joins back as a
    * 1-row broadcast (LEFT join on TRUE, so an empty corpus degrades to
    * zero flags, never an emptied segmentation).
    *
    * Returns (pick, nextSeg); pick has columns (ml, mr, mcnt). */
  private[graft] def mergeRound(seg: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("word").orderBy("pos")
    val pick = seg.withColumn("nxt", lead(col("sym"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("ml"), col("nxt").as("mr"))
      .agg(sum(col("freq")).cast("bigint").as("mcnt"))
      .orderBy(col("mcnt").desc, col("ml"), col("mr"))
      .limit(1)
    (pick, applyPick(seg, pick))
  }

  /** Apply ONE merge pair (any 1-row frame with (ml, mr) columns — the
    * training argmax, or a frozen learned merge on the apply side) to a
    * segmentation, greedily left-to-right. Factored out of [[mergeRound]]
    * so [[pretokenizedVocab]] can replay a learned merge table with the
    * training-side algebra. */
  private[graft] def applyPick(seg: DataFrame, pick: DataFrame): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    val withNxt = seg.withColumn("nxt", lead(col("sym"), 1).over(w))
    val flagged = withNxt.join(broadcast(pick), lit(true), "left")
      .withColumn("f",
        coalesce(col("sym") === col("ml") && col("nxt") === col("mr"),
          lit(false)))
    // island id: constant within a run of consecutive flagged positions,
    // distinct across runs (pos minus the running flagged count) — the
    // gaps-and-islands step computed with the SAME word partitioning.
    val withIsland = flagged.withColumn("island",
      col("pos") - sum(when(col("f"), 1L).otherwise(0L)).over(w))
    val wi = Window.partitionBy(col("word"), col("island"), col("f"))
      .orderBy("pos")
    val marked = withIsland
      .withColumn("m", col("f") && row_number().over(wi) % 2 === 1)
    val withPrev = marked.withColumn("pm", lag(col("m"), 1).over(w))
    withPrev.filter(!coalesce(col("pm"), lit(false)))
      .select(col("word"), col("freq"),
        (row_number().over(w) - 1).cast("bigint").as("pos"),
        when(col("m"), concat(col("sym"), col("nxt"))).otherwise(col("sym"))
          .as("sym"))
  }

  /** The APPLY path's scale form (round-10 directive 2): pretokenize
    * the word-type vocabulary ONCE under a FROZEN learned merge table —
    * with the training-side algebra itself ([[applyPick]] replayed per
    * merge) — and serve word → tokens downstream as a lookup join, the
    * design real tokenizers ship. The fold form ([[applyMerges]]) builds
    * one CodegenFallback HOF per merge and is bounded at
    * [[MaxFoldMerges]] entries; THIS form costs merge-table-depth × a
    * WORD-TYPE-grain pass (the same ~10³× corpus→vocabulary reduction the
    * trainer rides), independent of corpus size, amortized once per
    * released tokenizer. The segmentation is re-pinned every
    * `checkpointEvery` merges so lineage/plan depth stays bounded at a
    * ~30k-entry production table.
    *
    * Returns (word, freq, tokens array&lt;string&gt;), tokens in
    * position order. */
  private[graft] def pretokenizedVocab(wf: DataFrame,
      merges: Seq[(String, String)], checkpointEvery: Int = 16)
  : DataFrame = {
    val session = wf.sparkSession
    import session.implicits._
    var seg = charSeg(wf)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      seg = applyPick(seg, Seq((l, r)).toDF("ml", "mr"))
      if ((i + 1) % checkpointEvery == 0)
        seg = graft.operators.GlobalRank.pinned(seg)
    }
    segVocab(seg)
  }

  /** (word, freq, tokens) vocabulary view of a segmentation — the rollup
    * [[pretokenizedVocab]] ends with, exposed so a trainer that already
    * HOLDS the final segmentation (bpe4's in-query train-then-serve) can
    * derive the vocabulary from it directly instead of replaying the
    * merge chain from characters. */
  private[graft] def segVocab(seg: DataFrame): DataFrame =
    seg.groupBy("word", "freq")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("sym")))),
        e => e.getField("sym")).as("tokens"))

  /** The fold form's executable scale bound: [[applyMerges]] folds one
    * `aggregate` HOF per merge, so a table of n merges builds an n-deep
    * CodegenFallback expression tree — fine at fixture scale, a plan-size
    * explosion at a production ~30k-entry table. Past this bound,
    * pretokenize the vocabulary once ([[pretokenizedVocab]]) and serve
    * word → tokens as a left join on `word`. */
  val MaxFoldMerges = 64

  /** Tokenize one word column under a FROZEN merge list: characters,
    * then each merge applied greedily in learned order, as chained
    * `aggregate` higher-order functions — a stateless per-row projection.
    * Greedy left-to-right semantics fall out of the fold: a merged symbol
    * is strictly longer than the merge's left symbol, so it never
    * re-matches within the same pass (`aaa` + (a,a) → [aa, a], the
    * training side's run-parity result; StreamingSpec and TrainerSpec pin
    * fold ≡ [[applyPick]] replay). Returns `array<string>`. Bounded at
    * [[MaxFoldMerges]] entries. */
  def applyMerges(word: Column, merges: Seq[(String, String)]): Column = {
    require(merges.size <= MaxFoldMerges,
      s"applyMerges folds one aggregate HOF per merge: ${merges.size} " +
        s"merges would build a ${merges.size}-deep CodegenFallback " +
        s"expression tree (bound $MaxFoldMerges) — pretokenize the " +
        "vocabulary once (TrainerQueries.pretokenizedVocab) and left-join " +
        "it on word instead")
    val chars = filter(split(word, "(?!^)"), s => s =!= lit(""))
    merges.foldLeft(chars) { case (syms, (l, r)) =>
      aggregate(syms, array().cast("array<string>"),
        (acc, s) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(element_at(acc, -1), s))))
            .otherwise(concat(acc, array(s))))
    }
  }

  // ------------------------------------------------------------ LogReg

  /** Per-document training features, all exact-integer micro units:
    * y = (lang = 'en'); x0 bias; x1 stopword ratio; x2 mean word length
    * (÷10 so the range is ~[0, 1.2e6]); x3 'e'-character ratio (letter
    * frequency — the classic language-ID signal). */
  private[graft] def features(s: SparkSession, dir: String): DataFrame = {
    // NULL text coalesces to '' at the source in BOTH engines — greatest/
    // length NULL semantics must never be load-bearing (edge fixtures
    // carry NULL text by design).
    val t = coalesce(col("text"), lit(""))
    val norm = TextAnalysis.normalizeText(t)
    val raw = docs(s, dir).select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      greatest(TextAnalysis.tokenCount(t), lit(1L)).as("nt"),
      regexp_count(lower(t), lit(stopPat)).cast("bigint")
        .as("nsw"),
      length(regexp_replace(norm, " ", "")).cast("bigint").as("nnsp"),
      (length(norm) - length(regexp_replace(norm, "e", ""))).cast("bigint")
        .as("ne"))
    raw.select(col("y"), lit(1000000L).as("x0"),
      floor((col("nsw") * 1000000L).cast("double") / col("nt"))
        .cast("bigint").as("x1"),
      floor((col("nnsp") * 100000L).cast("double") / col("nt"))
        .cast("bigint").as("x2"),
      floor((col("ne") * 1000000L).cast("double") /
          greatest(col("nnsp"), lit(1L)))
        .cast("bigint").as("x3"))
  }

  /** Per-row quantized prediction under weights w (micro units):
    * pm = floor(1e6 · fastsig(w·x / 1e12)). Every op is an IEEE
    * primitive on integer-derived doubles — engine-stable. The dot
    * product multiplies in DOUBLE, term by term (not long-multiply-
    * then-cast): Spark wraps silently on int64 overflow while DuckDB
    * raises, so a pathological-but-representable input (a multi-
    * megabyte single token blowing up x2, or arbitrary caller weights
    * — this is private[graft] and streams reuse it) would diverge
    * asymmetrically. Double products round identically in both
    * engines; for every in-envelope value (|term| < 2^53) they are
    * exact and bit-equal to the integer product. */
  private[graft] def predMicro(w: Array[Long]) = {
    val z = (lit(w(0).toDouble) * col("x0").cast("double") +
      lit(w(1).toDouble) * col("x1").cast("double") +
      lit(w(2).toDouble) * col("x2").cast("double") +
      lit(w(3).toDouble) * col("x3").cast("double")) /
      lit(1000000000000.0)
    floor((lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))) *
      lit(1000000.0)).cast("bigint")
  }

  /** Three full-batch GD steps; returns the final micro weights. The
    * per-step collect is a 5-number gradient row (metadata grain). */
  private[graft] def trainWeights(feat: DataFrame): Array[Long] = {
    val w = Array(0L, 0L, 0L, 0L)
    for (_ <- 1 to 3) {
      val e = (predMicro(w) - col("y") * 1000000L).as("e")
      val base = feat.select(col("x0"), col("x1"), col("x2"), col("x3"), e)
      val g = base.agg(count(lit(1)).as("n"),
        coalesce(sum(floor((col("e") * col("x0")).cast("double") /
          1000000.0).cast("bigint")), lit(0L)).as("g0"),
        coalesce(sum(floor((col("e") * col("x1")).cast("double") /
          1000000.0).cast("bigint")), lit(0L)).as("g1"),
        coalesce(sum(floor((col("e") * col("x2")).cast("double") /
          1000000.0).cast("bigint")), lit(0L)).as("g2"),
        coalesce(sum(floor((col("e") * col("x3")).cast("double") /
          1000000.0).cast("bigint")), lit(0L)).as("g3")).collect()(0)
      val n = g.getLong(0)
      if (n > 0L) {
        var j = 0
        while (j < 4) {
          w(j) -= math.floor(g.getLong(j + 1).toDouble / (2.0 * n)).toLong
          j += 1
        }
      }
    }
    w
  }

  // ----------------------------------------------------------- queries

  /** The shipped catalog exercises BOTH instantiations of the word-gate
    * parameter (round-11 directive 4, "re-oracle existing keys" option
    * — catalog stays flat): `bpe1_pair_stats` runs under the widened
    * production gate [[WideWordPat]], its oracle templated identically,
    * so a non-default parameter is proven green on both engine sides
    * every round; `bpe2`–`bpe4` keep [[DefaultWordPat]] so the fixture
    * default stays covered too. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesWith(DefaultWordPat) +
      ("bpe1_pair_stats" -> queriesWith(WideWordPat)("bpe1_pair_stats"))

  /** The catalog with a caller-chosen word-gate pattern (fixture
    * default above; a production trainer passes a wider class). */
  def queriesWith(wordPat: String)
  : Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tokenizer training, pass 0: corpus-wide adjacent-pair statistics
    // (weighted by word frequency) — the table the first merge argmaxes
    // over. Pair cardinality is alphabet², bounded regardless of corpus
    // size. The corpus is augmented with one digit-bearing word per doc
    // (x<doc_id%100>, inside WideWordPat but OUTSIDE DefaultWordPat) so
    // the word-gate parameter discriminates on this fixture — see the
    // WideWordPat scaladoc.
    "bpe1_pair_stats" -> { (s, dir) =>
      val aug = docs(s, dir).select(
        concat(coalesce(col("text"), lit("")), lit(" x"),
          (col("doc_id") % 100).cast("string")).as("text"))
      val w = Window.partitionBy("word").orderBy("pos")
      charSeg(wordFreqOf(aug, wordPat))
        .withColumn("nxt", lead(col("sym"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("left_sym"), col("nxt").as("right_sym"))
        .agg(sum(col("freq")).cast("bigint").as("pair_count"))
    },

    // Tokenizer training: the learned merge table after 3 rounds —
    // (round, left, right, pair count at pick time). The artifact a BPE
    // tokenizer ships.
    "bpe2_merge_table" -> { (s, dir) =>
      // NO per-round checkpoint here, deliberately: the output consumes
      // only the three 1-row picks, so the replayed chain is ~3 rounds
      // total — measured CHEAPER than eagerly materializing every
      // intermediate segmentation (1.8 s vs 2.8 s at sf0.1). bpe3, whose
      // output aggregates every round's segmentation, pins instead.
      // Staying unpinned also keeps ALL of mergeRound's window shapes
      // visible to the sf0.01 funnel/hazard sweeps — bpe3's pinned
      // rounds appear to the gates as LogicalRDD leaves, so bpe2 is the
      // family's plan-shape sentinel.
      var seg = charSeg(wordFreq(s, dir, wordPat))
      val picks = (1 to 3).map { k =>
        val (pick, next) = mergeRound(seg)
        seg = next
        pick.select(lit(k.toLong).as("merge_round"),
          col("ml").as("left_sym"), col("mr").as("right_sym"),
          col("mcnt").as("pair_count"))
      }
      picks.reduce(_.union(_))
    },

    // Tokenizer training: the compression curve — corpus-weighted symbol
    // count after each merge round (round 0 = raw characters). The
    // metric a tokenizer trainer monitors for diminishing returns.
    "bpe3_compression_curve" -> { (s, dir) =>
      // same per-round pin as bpe2 — the four union'd aggregates would
      // otherwise replay progressively deeper merge chains.
      var seg = charSeg(wordFreq(s, dir, wordPat))
      def point(k: Int, d: DataFrame): DataFrame =
        d.agg(coalesce(sum(col("freq")), lit(0L)).cast("bigint")
            .as("weighted_symbols"))
          .select(lit(k.toLong).as("merge_round"), col("weighted_symbols"))
      var out = point(0, seg)
      for (k <- 1 to 3) {
        val (_, next) = mergeRound(seg)
        seg = next.transform(graft.operators.GlobalRank.pinned)
        out = out.union(point(k, seg))
      }
      out
    },

    // Tokenizer APPLY at scale (round-10 directive 2): learn the
    // 3-merge table (as bpe2), then serve it the way production
    // tokenizers do — pretokenize the word-type vocabulary once with
    // the training-side algebra (deliberately replaying the FROZEN
    // collected table, the released-artifact path, rather than reusing
    // the in-flight training segmentation) and tokenize the corpus via
    // a word-grain lookup JOIN: zero per-row merge replay, so the
    // serving cost is independent of merge-table depth. The learned
    // picks come to the driver as three 1-row collects (metadata grain,
    // the trainWeights contract). The vocabulary is word-TYPE grain
    // (~1e8 rows at 100 TB) — a hash equi-join on word; broadcast only
    // fits small vocabularies.
    //
    // OOV is EXERCISED, not dodged (round-11 directive 5): real serving
    // tokenizes TOMORROW's corpus with YESTERDAY's vocabulary, so the
    // trainer here sees only half the documents (doc_id % 2 = 0 — the
    // released-artifact slice) while the serve side tokenizes the whole
    // corpus. The fixture's word salad has only ~30 word types (every
    // slice covers them all), so the corpus is AUGMENTED in-query with
    // one deterministic doc_id-derived novel word per document — the
    // same plan-time fixture-generation contract as the PII detectors'
    // identifier augmentation: both engines build the identical string,
    // so odd-doc novel types are genuinely absent from the frozen
    // vocabulary and the OOV columns have real, data-dependent values
    // under an exact oracle. On a real corpus the augmentation column
    // is simply the raw text. The LEFT join keeps OOV words with NULL
    // token counts and the census reports them under the documented
    // count-OOV-separately policy (the lookup join's caller-policy
    // contract). Output: per-source token census — total words, word
    // types, in-vocabulary token count, OOV word/type counts, and the
    // token total under the bounded-fold straggler fallback (round-12
    // directive 6: the coalesce(tokens, fold) path is ORACLED here, not
    // just spec-pinned — see foldToks below).
    "bpe4_tokenize_corpus" -> { (s, dir) =>
      // novel word: 'q' + doc_id%1000 digits mapped to letters — inside
      // the default [a-z]{2,12} gate, ~1000 types corpus-wide, half of
      // them (odd ids) unseen by the trained vocabulary
      val augDocs = docs(s, dir).select(col("doc_id"), col("source"),
        concat(coalesce(col("text"), lit("")), lit(" q"),
          translate((col("doc_id") % 1000).cast("string"),
            "0123456789", "abcdefghij")).as("text"))
      // the train-slice word-frequency pivot feeds the training chain;
      // word-TYPE grain, scope-pinned (round 14: GlobalRank.pinned
      // instead of a bare checkpoint so the blocks free at the query
      // boundary instead of riding the block manager)
      val wf0 = graft.operators.GlobalRank.pinned(
        wordFreqOf(augDocs.filter(col("doc_id") % 2 === 0), wordPat))
      var seg = charSeg(wf0)
      val merges = (1 to 3).flatMap { _ =>
        val (pick, next) = mergeRound(seg)
        seg = graft.operators.GlobalRank.pinned(next)
        pick.collect().headOption.map(r => (r.getString(0), r.getString(1)))
      }
      // Round 14: the vocabulary comes straight off the FINAL training
      // segmentation (segVocab) — `seg` at this point IS applyPick
      // replayed over charSeg(wf0) with exactly the collected picks
      // (empty-pick rounds are identity repacks), which is what
      // pretokenizedVocab(wf0, merges) recomputed from characters: the
      // replay paid ~3 more applyPick window chains over the word-type
      // table per run for a value TrainerSpec pins as identical
      // ("pretokenizedVocab replays the training algebra"). The frozen-
      // artifact replay path stays covered by bpc2/bpc3 and TrainerSpec;
      // the word-grain serving JOIN below is unchanged.
      val vocab = segVocab(seg)
        .select(col("word"), size(col("tokens")).cast("bigint").as("n_toks"))
      val words = augDocs.select(col("source"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("word"))
        .filter(col("word").rlike(wordPat))
      // the OOV straggler fallback, oracled (round-12 directive 6): an
      // OOV word is tokenized by the bounded fold (applyMerges — the
      // production coalesce(tokens, fold) path), so the census also
      // reports the token total AS IF every OOV word were folded in-line.
      // The census runs at word-TYPE grain (round 13): the occurrence
      // stream is first map-side-combined to (source, word, occ) counts,
      // so the vocab hash join probes types not occurrences, the fold (a
      // bounded CodegenFallback HOF, ≤3 merges here, ≤MaxFoldMerges by
      // contract) evaluates ONCE per type instead of once per OOV
      // occurrence, and the per-source distinct-type counts are plain
      // sums at this grain — no countDistinct, so no Expand multiplying
      // the occurrence stream. At 100 TB the type-grain join/fold is
      // the only shape that works: fold cost tracks vocabulary size,
      // not corpus size. The oracle replays the same picks over a
      // whole-corpus segmentation with the training algebra's SQL twin.
      val foldToks =
        size(applyMerges(col("word"), merges)).cast("bigint")
      words.groupBy("source", "word")
        .agg(count(lit(1)).cast("bigint").as("occ"))
        .join(vocab, Seq("word"), "left")
        .withColumn("n_toks_f", coalesce(col("n_toks"), foldToks))
        .groupBy("source").agg(
          sum(col("occ")).cast("bigint").as("n_words"),
          count(lit(1)).cast("bigint").as("n_word_types"),
          coalesce(sum(col("n_toks") * col("occ")), lit(0L))
            .cast("bigint").as("n_tokens"),
          coalesce(sum(when(col("n_toks").isNull, col("occ"))
            .otherwise(0L)), lit(0L)).cast("bigint").as("n_oov_words"),
          sum(when(col("n_toks").isNull, 1L).otherwise(0L))
            .cast("bigint").as("n_oov_types"),
          coalesce(sum(col("n_toks_f") * col("occ")), lit(0L))
            .cast("bigint").as("n_tokens_with_fallback"))
    },

    // Classifier training: final weights after 3 exact-replayable GD
    // steps (micro units). The feature frame is cached once; each step
    // is one scan + a 5-number tree-aggregate.
    "lr1_grad_descent" -> { (s, dir) =>
      import s.implicits._
      val feat = features(s, dir).persist()
      val w =
        try trainWeights(feat)
        finally feat.unpersist()
      Seq(("w0_bias", w(0)), ("w1_stop_ratio", w(1)),
        ("w2_mean_wordlen", w(2)), ("w3_e_char_ratio", w(3)))
        .toDF("feature", "weight_micro")
    },

    // Classifier training + eval: confusion matrix and micro-accuracy of
    // the trained model at threshold 0.5 — the train-then-score loop in
    // one query (weights learned exactly as lr1, then one distributed
    // scoring pass).
    "lr2_train_confusion" -> { (s, dir) =>
      val feat = features(s, dir).persist()
      val w =
        try trainWeights(feat)
        finally feat.unpersist()
      val scored = features(s, dir)
        .select(col("y"), (predMicro(w) >= 500000L).as("pred"))
      scored.agg(count(lit(1)).cast("bigint").as("n_docs"),
          coalesce(sum(when(col("pred") && col("y") === 1L, 1L)
            .otherwise(0L)), lit(0L)).cast("bigint").as("tp"),
          coalesce(sum(when(col("pred") && col("y") === 0L, 1L)
            .otherwise(0L)), lit(0L)).cast("bigint").as("fp"),
          coalesce(sum(when(!col("pred") && col("y") === 1L, 1L)
            .otherwise(0L)), lit(0L)).cast("bigint").as("fn"),
          coalesce(sum(when(!col("pred") && col("y") === 0L, 1L)
            .otherwise(0L)), lit(0L)).cast("bigint").as("tn"))
        .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
          coalesce(floor(((col("tp") + col("tn")) * 1000000L)
              .cast("double") /
              when(col("n_docs") === 0L, lit(null)).otherwise(col("n_docs")))
            .cast("bigint"), lit(0L)).as("accuracy_micro"))
    }
  )

  // -------------------------------------------------------- oracle SQL

  /** Shared CTE prefix: word-frequency table + character segmentation,
    * templated with the same word-gate parameter as [[queriesWith]].
    * `trainFrom` names the TRAINING relation (with an optional WHERE —
    * bpe4 trains on the augmented corpus' yesterday-slice; default =
    * the whole documents table) — the SQL twin of [[wordFreqOf]] over
    * a caller-chosen frame. */
  private def segSql(wordPat: String,
                     trainFrom: String = "documents"): String =
    s"""words AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split($normSql, ' ')) AS word
       |    FROM $trainFrom) t
       |  WHERE regexp_matches(word, '$wordPat')
       |  GROUP BY word),
       |seg0 AS (
       |  SELECT word, freq, CAST(i - 1 AS BIGINT) AS pos,
       |         substr(word, CAST(i AS INT), 1) AS sym
       |  FROM words, unnest(generate_series(1, length(word))) AS s(i))"""
      .stripMargin

  /** Greedy run-parity APPLY of a 1-row pick CTE to a lead-annotated
    * segmentation (the a/b/c/d/seg chain of [[roundSql]]), factored so
    * the bpe4 oracle can REPLAY the learned picks over a different
    * (whole-corpus) segmentation — the SQL twin of [[applyPick]] and
    * therefore of the serving fold fallback ([[applyMerges]], whose
    * ≡-to-training-algebra parity StreamingSpec pins). `tag` uniquifies
    * the intermediate CTE names; `nxSrc` must carry (word, freq, pos, sym,
    * nxt). */
  private def applyChainSql(tag: String, nxSrc: String, pick: String,
                            outSeg: String): String =
    s"""a$tag AS (
       |  SELECT n.word, n.freq, n.pos, n.sym, n.nxt,
       |         coalesce(n.sym = p.ml AND n.nxt = p.mr, FALSE) AS f
       |  FROM $nxSrc n LEFT JOIN $pick p ON TRUE),
       |b$tag AS (
       |  SELECT *, pos - sum(CASE WHEN f THEN 1 ELSE 0 END)
       |              OVER (PARTITION BY word ORDER BY pos) AS island
       |  FROM a$tag),
       |c$tag AS (
       |  SELECT *, f AND (row_number() OVER
       |      (PARTITION BY word, island, f ORDER BY pos)) % 2 = 1 AS m
       |  FROM b$tag),
       |d$tag AS (
       |  SELECT *, lag(m) OVER (PARTITION BY word ORDER BY pos) AS pm
       |  FROM c$tag),
       |$outSeg AS (
       |  SELECT word, freq,
       |         CAST(row_number() OVER (PARTITION BY word ORDER BY pos) - 1
       |              AS BIGINT) AS pos,
       |         CASE WHEN m THEN sym || nxt ELSE sym END AS sym
       |  FROM d$tag WHERE NOT coalesce(pm, FALSE))""".stripMargin

  /** Lead-annotate `srcSeg` and replay an ALREADY-LEARNED pick over it
    * — the frozen-merge-table serving path's SQL twin. */
  private def replaySql(tag: String, srcSeg: String, pick: String,
                        outSeg: String): String =
    s"""nx$tag AS (
       |  SELECT word, freq, pos, sym,
       |         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM $srcSeg),
       |${applyChainSql(tag, s"nx$tag", pick, outSeg)}""".stripMargin

  /** CTEs for merge round k: pair lead, argmax pick, greedy run-parity
    * apply — the exact SQL twin of [[mergeRound]]. */
  private def roundSql(k: Int): String = {
    val p = k - 1
    s"""nx$k AS (
       |  SELECT word, freq, pos, sym,
       |         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM seg$p),
       |pick$k AS (
       |  SELECT sym AS ml, nxt AS mr, CAST(sum(freq) AS BIGINT) AS mcnt
       |  FROM nx$k WHERE nxt IS NOT NULL GROUP BY sym, nxt
       |  ORDER BY mcnt DESC, ml, mr LIMIT 1),
       |${applyChainSql(k.toString, s"nx$k", s"pick$k", s"seg$k")}"""
      .stripMargin
  }

  /** Feature CTE, the SQL twin of [[features]] (text coalesced to '' at
    * the source, matching the Spark side). */
  private val featSql: String = {
    val cNorm =
      "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"
    s"""feat AS (
       |  SELECT y, CAST(1000000 AS BIGINT) AS x0,
       |         CAST(floor(CAST(nsw * 1000000 AS DOUBLE) / nt) AS BIGINT)
       |           AS x1,
       |         CAST(floor(CAST(nnsp * 100000 AS DOUBLE) / nt) AS BIGINT)
       |           AS x2,
       |         CAST(floor(CAST(ne * 1000000 AS DOUBLE) /
       |              greatest(nnsp, 1)) AS BIGINT) AS x3
       |  FROM (
       |    SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
       |             AS y,
       |           greatest(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
       |             ELSE len(string_split_regex(trim(coalesce(text, '')),
       |                      '\\s+')) END,
       |             1) AS nt,
       |           len(regexp_extract_all(lower(coalesce(text, '')),
       |               '$stopPat')) AS nsw,
       |           length(replace($cNorm, ' ', '')) AS nnsp,
       |           length($cNorm) -
       |             length(replace($cNorm, 'e', '')) AS ne
       |    FROM documents) t)""".stripMargin
  }

  /** CTEs for GD step k: per-row prediction under wt(k-1), the gradient
    * aggregate, the weight update — the SQL twin of [[trainWeights]]'s
    * loop body. */
  private def stepSql(k: Int): String = {
    val p = k - 1
    def gTerm(j: Int): String =
      s"""CAST(coalesce(sum(CAST(floor(CAST((pm - y * 1000000) * x$j
         |        AS DOUBLE) / 1000000.0) AS BIGINT)), 0) AS BIGINT)
         |      AS g$j""".stripMargin
    def wTerm(j: Int): String =
      s"""w.w$j - coalesce(CAST(floor(g.g$j / (2.0 * nullif(g.n, 0)))
         |        AS BIGINT), 0) AS w$j""".stripMargin
    s"""p$k AS (
       |  SELECT t.*, CAST(floor((0.5 + z / (2.0 * (1.0 + abs(z)))) *
       |           1000000.0) AS BIGINT) AS pm
       |  FROM (SELECT f.*,
       |          (CAST(w.w0 AS DOUBLE) * f.x0 + CAST(w.w1 AS DOUBLE) * f.x1 +
       |           CAST(w.w2 AS DOUBLE) * f.x2 + CAST(w.w3 AS DOUBLE) * f.x3)
       |            / 1000000000000.0 AS z
       |        FROM feat f, wt$p w) t),
       |g$k AS (
       |  SELECT count(*) AS n,
       |      ${gTerm(0)},
       |      ${gTerm(1)},
       |      ${gTerm(2)},
       |      ${gTerm(3)}
       |  FROM p$k),
       |wt$k AS (
       |  SELECT ${wTerm(0)},
       |      ${wTerm(1)},
       |      ${wTerm(2)},
       |      ${wTerm(3)}
       |  FROM wt$p w, g$k g)""".stripMargin
  }

  private val wt0Sql: String =
    """wt0 AS (
      |  SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
      |         CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
      .stripMargin

  private val trainSql: String =
    s"$featSql,\n$wt0Sql,\n${stepSql(1)},\n${stepSql(2)},\n${stepSql(3)}"

  /** Same bpe1-under-[[WideWordPat]] override as [[queries]] — the two
    * sides must instantiate the template with the SAME parameter. */
  def oracleSql: Map[String, String] =
    oracleSqlWith(DefaultWordPat) +
      ("bpe1_pair_stats" -> oracleSqlWith(WideWordPat)("bpe1_pair_stats"))

  /** Oracle SQL templated with the SAME word-gate parameter as
    * [[queriesWith]] — the differential stays exact for any gate
    * (same embeddability contract, enforced here too since this path
    * does not go through [[wordFreq]]). */
  def oracleSqlWith(wordPat: String): Map[String, String] = {
    Det.requireEmbeddablePattern("bpe word gate", wordPat)
    val segSql = this.segSql(wordPat)
    Map(
    "bpe1_pair_stats" ->
      s"""WITH b1aug AS (
         |  SELECT coalesce(text, '') || ' x' ||
         |    CAST(doc_id % 100 AS VARCHAR) AS text
         |  FROM documents),
         |${this.segSql(wordPat, "b1aug")}
         |SELECT sym AS left_sym, nxt AS right_sym,
         |       CAST(sum(freq) AS BIGINT) AS pair_count
         |FROM (SELECT word, freq, sym,
         |        lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |      FROM seg0) t
         |WHERE nxt IS NOT NULL GROUP BY sym, nxt""".stripMargin,

    "bpe2_merge_table" ->
      s"""WITH $segSql,
         |${roundSql(1)},
         |${roundSql(2)},
         |${roundSql(3)}
         |SELECT CAST(1 AS BIGINT) AS merge_round, ml AS left_sym,
         |       mr AS right_sym, mcnt AS pair_count FROM pick1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), ml, mr, mcnt FROM pick2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), ml, mr, mcnt FROM pick3"""
        .stripMargin,

    "bpe3_compression_curve" ->
      s"""WITH $segSql,
         |${roundSql(1)},
         |${roundSql(2)},
         |${roundSql(3)}
         |SELECT CAST(0 AS BIGINT) AS merge_round,
         |       CAST(coalesce(sum(freq), 0) AS BIGINT) AS weighted_symbols
         |FROM seg0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(coalesce(sum(freq), 0) AS BIGINT)
         |FROM seg1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), CAST(coalesce(sum(freq), 0) AS BIGINT)
         |FROM seg2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), CAST(coalesce(sum(freq), 0) AS BIGINT)
         |FROM seg3""".stripMargin,

    "bpe4_tokenize_corpus" ->
      s"""WITH baug AS (
         |  SELECT doc_id, source,
         |    coalesce(text, '') || ' q' ||
         |      translate(CAST(doc_id % 1000 AS VARCHAR),
         |                '0123456789', 'abcdefghij') AS text
         |  FROM documents),
         |${this.segSql(wordPat, "baug WHERE doc_id % 2 = 0")},
         |${roundSql(1)},
         |${roundSql(2)},
         |${roundSql(3)},
         |vocab AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_toks
         |  FROM seg3 GROUP BY word),
         |wa AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split($normSql, ' ')) AS word
         |    FROM baug) t
         |  WHERE regexp_matches(word, '$wordPat')
         |  GROUP BY word),
         |sega0 AS (
         |  SELECT word, freq, CAST(i - 1 AS BIGINT) AS pos,
         |         substr(word, CAST(i AS INT), 1) AS sym
         |  FROM wa, unnest(generate_series(1, length(word))) AS s(i)),
         |${replaySql("r1", "sega0", "pick1", "sega1")},
         |${replaySql("r2", "sega1", "pick2", "sega2")},
         |${replaySql("r3", "sega2", "pick3", "sega3")},
         |fold AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS fn
         |  FROM sega3 GROUP BY word),
         |w AS (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS word
         |  FROM baug),
         |g AS (
         |  SELECT source, word FROM w
         |  WHERE regexp_matches(word, '$wordPat'))
         |SELECT g.source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(count(DISTINCT g.word) AS BIGINT) AS n_word_types,
         |  CAST(coalesce(sum(v.n_toks), 0) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.n_toks IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_oov_words,
         |  CAST(count(DISTINCT CASE WHEN v.n_toks IS NULL THEN g.word END)
         |    AS BIGINT) AS n_oov_types,
         |  CAST(coalesce(sum(coalesce(v.n_toks, f.fn)), 0) AS BIGINT)
         |    AS n_tokens_with_fallback
         |FROM g LEFT JOIN vocab v ON g.word = v.word
         |     LEFT JOIN fold f ON g.word = f.word
         |GROUP BY g.source""".stripMargin,

    "lr1_grad_descent" ->
      s"""WITH $trainSql
         |SELECT 'w0_bias' AS feature, w0 AS weight_micro FROM wt3
         |UNION ALL SELECT 'w1_stop_ratio', w1 FROM wt3
         |UNION ALL SELECT 'w2_mean_wordlen', w2 FROM wt3
         |UNION ALL SELECT 'w3_e_char_ratio', w3 FROM wt3""".stripMargin,

    "lr2_train_confusion" ->
      s"""WITH $trainSql,
         |scored AS (
         |  SELECT f.y,
         |    CAST(floor((0.5 + z / (2.0 * (1.0 + abs(z)))) * 1000000.0)
         |         AS BIGINT) >= 500000 AS pred
         |  FROM (SELECT f.*,
         |          (CAST(w.w0 AS DOUBLE) * f.x0 +
         |           CAST(w.w1 AS DOUBLE) * f.x1 +
         |           CAST(w.w2 AS DOUBLE) * f.x2 +
         |           CAST(w.w3 AS DOUBLE) * f.x3)
         |            / 1000000000000.0 AS z
         |        FROM feat f, wt3 w) f),
         |conf AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END),
         |         0) AS BIGINT) AS tp,
         |    CAST(coalesce(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END),
         |         0) AS BIGINT) AS fp,
         |    CAST(coalesce(sum(CASE WHEN NOT pred AND y = 1 THEN 1
         |         ELSE 0 END), 0) AS BIGINT) AS fn,
         |    CAST(coalesce(sum(CASE WHEN NOT pred AND y = 0 THEN 1
         |         ELSE 0 END), 0) AS BIGINT) AS tn
         |  FROM scored)
         |SELECT n_docs, tp, fp, fn, tn,
         |  coalesce(CAST(floor(CAST((tp + tn) * 1000000 AS DOUBLE) /
         |    nullif(n_docs, 0)) AS BIGINT), 0) AS accuracy_micro
         |FROM conf""".stripMargin
  )
  }
}
