package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.operators.{Contamination, Dedup, KMeans, Packing, ProductQuantization, Retrieval, Sampling, Scoring, Similarity, TextAnalysis}
import Det.{d38, normSql, quantized}

/** Training-data pipeline operators (dedup, text analysis, similarity
  * search) exposed to the oracle harness over `documents` / `embeddings`.
  *
  * Where the computation is reproducible in ANSI-ish SQL (md5-derived hash
  * family, exact integer quantization) the entry has a full DuckDB oracle —
  * including the MinHash-LSH pipeline. Float-native variants (LSH cosine,
  * SimHash) are exercised as rows-only checks.
  */
object TrainingDataQueries {

  private val stopPat =
    "\\b(the|a|an|of|and|in|to|is|it|for|on|with|as|at|by|from)\\b"

  /** Plan-time ±1 JL sign: +1 iff the 60-bit md5 hash of "j_d" is even —
    * the same literal-pseudo-randomness contract as sim2's hyperplanes
    * (derived, not sampled, so any engine reproduces it). */
  private def jlSign(j: Int, d: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_${d}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace + BPE-ish regex + mean token length.
    // Two-level projection: the split/regex counters run once in the lower
    // select; the ratio derives from the materialized count column
    // (CollapseProject keeps non-cheap exprs referenced twice un-inlined).
    "tx1_token_stats" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), t,
          TextAnalysis.tokenCount(t).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(t).as("n_tokens_bpeish"))
        .select(col("doc_id"), col("n_tokens"), col("n_tokens_bpeish"),
          (length(trim(t)).cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double"))
            .as("avg_token_len"))
    },

    // Quality scoring: stopword/punct ratios + composite score, derived
    // from counts computed ONCE (mirrors the oracle's CTE shape).
    "tx2_quality" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), t,
          TextAnalysis.tokenCount(t).as("nt"),
          TextAnalysis.stopwordCount(t).as("nsw"),
          TextAnalysis.punctCount(t).as("np"))
        .select(col("doc_id"),
          TextAnalysis.stopwordRatioFrom(col("nt"), col("nsw"))
            .as("stopword_ratio"),
          TextAnalysis.punctRatioFrom(col("np"), length(t)).as("punct_ratio"),
          TextAnalysis.qualityScoreFrom(col("nt"), col("nsw"), col("np"),
            length(t)).as("quality_score"))
    },

    // Language ID: per-language marker scores + argmax with fixed ties.
    // Language-ID EVALUATION: tx3's n-gram heuristic judged against the
    // corpus's true lang labels as a confusion matrix — the accuracy
    // report that decides whether the cheap classifier suffices or the
    // corpus needs a model-based pass (zh has no stopword list here, so
    // its row shows up entirely as 'und' — exactly the blind spot the
    // report exists to expose). |langs|²-sized output after one
    // map-side-combined count.
    "tx16_lang_confusion" -> { (s, dir) =>
      Tables.spread(Tables.documents(s, dir))
        .select(col("lang").as("true_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
    },

    "tx3_lang_id" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir)).select(
        col("doc_id"),
        TextAnalysis.langScore(t, "en").as("s_en"),
        TextAnalysis.langScore(t, "de").as("s_de"),
        TextAnalysis.langScore(t, "fr").as("s_fr"),
        TextAnalysis.langScore(t, "es").as("s_es"),
        TextAnalysis.langId(t).as("lang_id"))
    },

    // Document fingerprinting: md5 of normalized text + 64-bit key.
    "tx4_fingerprint" -> { (s, dir) =>
      Tables.spread(Tables.documents(s, dir)).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.fingerprint64(col("text")).as("fp64"))
    },

    // C4-style cleanup: URL/e-mail strip + whitespace collapse, with the
    // removal counts alongside (quality filters key off them).
    "tx5_clean_text" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir)).select(
        col("doc_id"),
        TextAnalysis.urlCount(t).as("n_urls"),
        TextAnalysis.emailCount(t).as("n_emails"),
        TextAnalysis.cleanText(t).as("clean_text"))
    },

    // PII redaction over a deterministic synthetic-PII column: the corpus
    // itself carries no PII, so each doc gets an email/IPv4/phone suffix
    // generated from doc_id (mod-gated so some docs lack each kind, incl.
    // completely clean ones at doc_id % 60 == 0) — the oracle regenerates
    // the same strings and applies the same 3-stage regex chain.
    "tx7_redact_pii" -> { (s, dir) =>
      val id = col("doc_id")
      val pii = concat_ws(" ",
        col("text"),
        when(id % 3 =!= 0, concat(lit("reach me at user"),
          id.cast("string"), lit("@mail.example.org"))),
        when(id % 4 =!= 0, concat(lit("server "),
          ((id % 223) + 1).cast("string"), lit(".0.113."),
          ((id % 254) + 1).cast("string"))),
        when(id % 5 =!= 0, concat(lit("tel +1 555-01"),
          lpad((id % 100).cast("string"), 2, "0"), lit(" now"))))
      Tables.spread(Tables.documents(s, dir)).select(id, pii.as("pii_text"),
        TextAnalysis.redactPii(pii).as("redacted"))
    },

    // Corpus vocabulary: exact top-50 tokens by frequency (deterministic
    // tie-break). Explode → count → global top-k: the aggregation carries
    // one row per distinct token (map-side combined) and the top-k is a
    // TakeOrdered, never a full sort.
    // TX38 (beyond reference): COUNT-MIN SKETCH accuracy audit — the
    // streaming-frequency sketch (Cormode & Muthukrishnan) built as a
    // 4×1024 cell table (depth 4 md5-salted hash rows — the engine-
    // reproducible hash contract, no RNG), then probed with the ir1
    // query terms against their EXACT counts. The point is the audit:
    // est − exact is the collision overestimate (provably ≥ 0), the
    // number that says whether 4 KB of sketch state can replace tx10's
    // exact heavy-hitter pass on a stream. One token scan (the 4-way
    // explode collapses map-side to ≤4096 cells per partition before
    // any shuffle); probes and cells are metadata-grain broadcasts.
    "tx38_countmin" -> { (s, dir) =>
      import graft.functions.HashExpressions.md5Prefix60
      val probeToks = Seq("dup", "key", "the", "batch")
      val toks = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")),
          " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val cells = toks
        .select(col("tok"), explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("j"), (md5Prefix60(concat(lit("cms"),
          col("j").cast("string"), lit(":"), col("tok"))) % 1024)
          .as("b"))
        .groupBy("j", "b").agg(count(lit(1)).as("cnt"))
      val probes = s.range(1)
        .select(explode(typedLit(probeToks)).as("tok"))
        .select(col("tok"), explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("tok"), col("j"), (md5Prefix60(concat(lit("cms"),
          col("j").cast("string"), lit(":"), col("tok"))) % 1024)
          .as("b"))
      val est = probes.join(broadcast(cells), Seq("j", "b"), "left")
        .groupBy("tok")
        .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
      val exact = toks.filter(col("tok").isin(probeToks: _*))
        .groupBy("tok").agg(count(lit(1)).as("exact"))
      est.join(broadcast(exact), Seq("tok"), "left")
        .select(col("tok"), coalesce(col("exact"), lit(0L)).as("exact"),
          col("cm_est"),
          (col("cm_est") - coalesce(col("exact"), lit(0L)))
            .as("overestimate"))
    },

    // TX39 (beyond reference): pairwise SOURCE vocabulary overlap —
    // tx24 scores each source against the corpus; this fills in the
    // source×source matrix ("are crawl A and crawl B the same
    // register?") as Jaccard over each source's top-200 token set.
    // The per-source top-k rank rides GlobalRank's grouped two-pass
    // (source cardinality is tiny; vocabulary is NOT — the exact
    // funnel shape the plain window can't parallelize), after which
    // everything is ≤200·#sources rows. Zero-overlap pairs still emit
    // (sizes frame outer-applied), jaccard as exact micro integers.
    "tx39_source_vocab_jaccard" -> { (s, dir) =>
      val counts = Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val top = graft.operators.GlobalRank.withGroupedRowNumber(counts,
          group = Seq("source"),
          order = Seq(col("c").desc, col("tok").asc), out = "rn")
        .filter(col("rn") <= 200)
        // pinned: ≤200×sources rows feeding the size rollup AND both
        // self-join sides (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val sizes = top.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = top.select(col("source").as("sa"), col("tok"))
        .join(top.select(col("source").as("sb"), col("tok")), "tok")
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
      sizes.select(col("source").as("sa"), col("sz").as("na"))
        .crossJoin(broadcast(
          sizes.select(col("source").as("sb"), col("sz").as("nb"))))
        .filter(col("sa") < col("sb"))
        .join(inter, Seq("sa", "sb"), "left")
        .select(col("sa"), col("sb"), col("na"), col("nb"),
          coalesce(col("inter"), lit(0L)).as("inter"),
          expr("""coalesce(inter, 0L) * 1000000 div
                 |  (na + nb - coalesce(inter, 0L))"""
            .stripMargin.replace("\n", " ")).as("jaccard_micro"))
    },

    "tx6_top_tokens" -> { (s, dir) =>
      Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(50)
    },

    // VOCABULARY GROWTH (Heaps-law) curve by ingest batch — "how much NEW
    // vocabulary does each data increment contribute?", the diminishing-
    // returns readout that tells a curation pipeline when more of the
    // same source stops adding lexical diversity. Batch = doc_id div 100
    // (ingest-order proxy); a token's contribution lands on the batch of
    // its FIRST occurrence (min over one token-keyed shuffle — the only
    // big exchange; the batch grain after it is metadata, so the
    // cumulative windows run over #batches rows). No per-batch rescans:
    // the classic "distinct-so-far per prefix" is answered by first-seen
    // attribution + one running sum.
    "tx23_vocab_growth" -> { (s, dir) =>
      val toks = Tables.spread(Tables.documents(s, dir))
        .select(expr("doc_id div 100").as("batch"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
      val perBatch = toks.groupBy("batch")
        .agg(count(lit(1)).as("batch_tokens"))
      val firstSeen = toks.groupBy("token")
        .agg(min(col("batch")).as("batch"))
        .groupBy("batch").agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy(col("batch"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perBatch.join(firstSeen, Seq("batch"), "left")
        .na.fill(0L, Seq("new_types"))
        .select(col("batch"), col("batch_tokens"), col("new_types"),
          sum(col("new_types")).over(w).as("cum_types"),
          sum(col("batch_tokens")).over(w).as("cum_tokens"))
    },

    // Count-Min heavy hitters over the token stream: exact top-20 counts
    // with the mergeable-sketch estimate audited in-bounds per winner
    // (d10/d16's estimate-vs-exact trick, now for frequencies).
    "tx10_heavy_hitters" -> { (s, dir) =>
      import graft.operators.Sketches
      val toks = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) > 0)
      Sketches.heavyHitters(toks, "token", k = 20, eps = 1e-4)
    },

    // Vocabulary / label INDEXING: dense contiguous token ids in global
    // frequency order — the categorical-encode every feature pipeline
    // needs — without the single-partition window funnel: ids come from
    // GlobalRank's two-pass range layout over the distinct vocabulary.
    "fe1_dict_encode" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val vocab = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .withColumn("__negn", -col("n"))
      GlobalRank.withGlobalRowNumber(vocab,
          Seq(col("__negn"), col("token")), out = "token_id")
        .select(col("token"), col("n"), col("token_id"))
    },

    // OOV rate after vocabulary truncation: per-document fraction of
    // tokens outside the top-50 vocabulary — the tokenizer-design metric
    // behind vocab-size choices. The (tiny) truncated vocabulary
    // broadcasts; the corpus is scanned once.
    "fe2_oov_rate" -> { (s, dir) =>
      val toks = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(50)
        .select(col("token"), lit(1).as("__iv"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("__iv").isNull, lit(1))).as("n_oov"))
        .withColumn("oov_frac",
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
    },

    // Cross-SOURCE shingle overlap: exact pairwise Jaccard between the
    // distinct 3-shingle sets of each source — the provenance-level
    // contamination/redundancy report (which feeds deduplicate-before-mix
    // decisions). Shuffle ∝ distinct (source, shingle) rows; the pair
    // join keys on the shingle, never a document cross product.
    "dd7_source_overlap" -> { (s, dir) =>
      val sh = Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode(Dedup.shinglesExpr(col("text"), 3)).as("sh"))
        .distinct()
        // GRAIN (round-14 audit): (source, shingle) DISTINCT-type table —
        // shingle-type domains grow toward corpus scale on diverse text,
        // so the round-13 unconditional pin is size-gated; it feeds the
        // size rollup AND both self-join sides either way
        .transform(graft.operators.GlobalRank.pinnedIfSmall)
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("sz").as("__sza"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("sz").as("__szb"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_inter"),
          (col("n_inter").cast("double") /
            (col("__sza") + col("__szb") - col("n_inter")).cast("double"))
            .as("jaccard"))
    },

    // Distribution DRIFT between corpus generations: per-IVF-cell counts
    // of the old half (even vec_id) vs the new half — the embedding-space
    // shift detector run before accepting a new data drop. tv_numerator
    // is the exact integer |n_old·N_new − n_new·N_old| term; the total
    // variation distance is Σ/(2·N_old·N_new), one reproducible division
    // away. One narrow assignment pass + one 8-row aggregate.
    "drift1_cell_divergence" -> { (s, dir) =>
      val assigned = Similarity.ivfAssign(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        ncells = 8)
        .select(col("cell"), (col("vec_id") % 2 === 0).as("is_old"))
      val counts = assigned.groupBy("cell").agg(
        count(when(col("is_old"), lit(1))).as("n_old"),
        count(when(!col("is_old"), lit(1))).as("n_new"))
      val totals = counts.agg(sum(col("n_old")).as("tot_old"),
        sum(col("n_new")).as("tot_new"))
      counts.crossJoin(broadcast(totals))
        .select(col("cell"), col("n_old"), col("n_new"),
          abs(col("n_old") * col("tot_new") - col("n_new") * col("tot_old"))
            .as("tv_numerator"))
    },

    // Embedding-space drift / class-separation matrix — the EMBEDDING
    // view of drift monitoring (drift1 watches cells, drift2 vocabulary):
    // per-label centroid in integer micro-units (Σq div n per dimension,
    // truncating div — engine-exact), then the full pairwise
    // centroid-cosine matrix. Row form throughout (mm7's contract): two
    // hash aggregates over (label, dim) rows and one dim-grain self-join
    // of the labels×dims centroid table — never a dense vector in an
    // aggregation buffer, so 4096-dim embeddings cost more rows, not
    // wider state. Two clusters whose centroid cosine jumps between
    // ingest batches have collapsed — the alarm this feeds.
    "drift3_centroid_shift" -> { (s, dir) =>
      val q = Tables.embeddings(s, dir)
        .select(col("label").cast("bigint").as("label"),
          posexplode(col("embedding")))
        .select(col("label"), col("pos").cast("bigint").as("dim"),
          floor(col("col").cast("double") * 1000000).cast("long").as("q"))
      val cent = q.groupBy("label", "dim")
        .agg(expr("sum(q) div count(1)").as("c"))
      val dots = cent.select(col("label").as("la"), col("dim"),
          col("c").as("ca"))
        .join(cent.select(col("label").as("lb"), col("dim"),
          col("c").as("cb")), "dim")
        .filter(col("la") < col("lb"))
        .groupBy("la", "lb")
        .agg(sum(col("ca") * col("cb")).as("dot"))
      val nrm = cent.groupBy("label")
        .agg(sum(col("c") * col("c")).as("nrm"))
      dots
        .join(nrm.select(col("label").as("la"), col("nrm").as("nrm_a")),
          "la")
        .join(nrm.select(col("label").as("lb"), col("nrm").as("nrm_b")),
          "lb")
        .select(col("la"), col("lb"),
          (col("dot").cast("double") /
            (sqrt(col("nrm_a").cast("double")) *
              sqrt(col("nrm_b").cast("double")))).as("centroid_cos"))
    },

    // Token-frequency drift between corpus generations: per-top-50-token
    // counts in the old half (even doc_id) vs the new — the text twin of
    // drift1, same exact integer TV numerator. A vocabulary whose mass
    // moves between drops is the first sign of a source change.
    "drift2_vocab_shift" -> { (s, dir) =>
      val toks = Tables.spread(Tables.documents(s, dir))
        .select((col("doc_id") % 2 === 0).as("is_old"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(50).select("token")
      val counts = toks.join(broadcast(vocab), Seq("token"))
        .groupBy("token").agg(
          count(when(col("is_old"), lit(1))).as("n_old"),
          count(when(!col("is_old"), lit(1))).as("n_new"))
      val totals = counts.agg(sum(col("n_old")).as("tot_old"),
        sum(col("n_new")).as("tot_new"))
      counts.crossJoin(broadcast(totals))
        .select(col("token"), col("n_old"), col("n_new"),
          abs(col("n_old") * col("tot_new") - col("n_new") * col("tot_old"))
            .as("tv_numerator"))
    },

    // PMI co-occurrence pairs over the broadcast top-50 vocabulary:
    // document-level word association mining. The pair space is bounded
    // by (vocab tokens per doc)² — never corpus²; ln quantizes to
    // integer micro-nats (lm1's trick) so both engines agree exactly.
    "fe3_pmi_pairs" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val toks = docs.select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(50).select("token")
      val dt = toks.join(broadcast(vocab), Seq("token"))
        .select("doc_id", "token").distinct()
      val nTok = dt.groupBy("token").agg(count(lit(1)).as("nd"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      dt.as("a").join(dt.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
          col("a.token") < col("b.token"))
        .groupBy(col("a.token").as("token_a"), col("b.token").as("token_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
        .join(broadcast(nTok.select(col("token").as("token_a"),
          col("nd").as("__na"))), Seq("token_a"))
        .join(broadcast(nTok.select(col("token").as("token_b"),
          col("nd").as("__nb"))), Seq("token_b"))
        .crossJoin(broadcast(total))
        .select(col("token_a"), col("token_b"), col("n_ab"),
          floor(log(col("n_ab").cast("double") * col("n_docs").cast("double")
              / (col("__na").cast("double") * col("__nb").cast("double")))
            * lit(1e6)).cast("bigint").as("pmi_micro_nats"))
    },

    // The end-to-end curation FUNNEL: quality gate → near-dup removal →
    // train/val/test split, with row counts at every stage — the whole
    // library composed into the pipeline it exists for, oracled as one
    // statement (tx9's gate CTE + dd4's recursive closure + s3's bucket
    // CASE nested in DuckDB).
    "pipe1_curation_funnel" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      // Round 14: the r13 gated/deduped pins are GONE. The driver's
      // cold-JVM bench billed them at −22% on this query: `clusters`
      // already ends at connectedComponents' own checkpointed labels, so
      // re-deriving `deduped` per consumer is a cheap join of small
      // frames, and the quality-gate regex pass the `gated` pin saved is
      // cheaper than the two extra materialization jobs the pins cost.
      val gated = TextAnalysis.qualityGate(docs)
        .filter(col("keep")).select("doc_id")
      val clusters = Dedup.connectedComponents(
        Dedup.minhashDedup(docs, threshold = 0.5).select("id_a", "id_b"))
      val deduped = gated.join(clusters, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"))
        .select("doc_id")
      def stageCount(df: DataFrame, stage: String) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(stage).as("stage"), col("n_docs"))
      stageCount(docs, "1_raw")
        .unionByName(stageCount(gated, "2_gated"))
        .unionByName(stageCount(deduped, "3_deduped"))
        .unionByName(Sampling
          .splitAssign(deduped, col("doc_id"), trainPermille = 800,
            valPermille = 100)
          .groupBy(concat(lit("4_"), col("split")).as("stage"))
          .agg(count(lit(1)).as("n_docs")))
    },

    // Deterministic per-class CAP: at most 20 docs per language, picked
    // by record-keyed md5 order — the class-balancing quota, stable
    // under repartitioning and re-runs like every other gate.
    "s5_balanced_cap" -> { (s, dir) =>
      Sampling.capPerKey(
        Tables.spread(Tables.documents(s, dir)).select("doc_id", "lang"),
        key = col("lang"), id = col("doc_id"), maxN = 20)
    },

    // Leakage-safe GROUP split: near-dup clusters (dd4's connected
    // components over the MinHash-LSH pairs) are split as a UNIT — the
    // split gate hashes the cluster representative, so near-identical
    // docs can never straddle train/test (the classic holdout leak that
    // per-doc hashing cannot prevent). Singletons hash their own id,
    // which IS their representative.
    "s6_group_split" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val clusters = Dedup.connectedComponents(
        Dedup.minhashDedup(docs, threshold = 0.5).select("id_a", "id_b"))
      val grouped = docs.select("doc_id")
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      Sampling.splitAssign(grouped, col("group_id"),
        trainPermille = 800, valPermille = 100)
    },

    // Token-BUDGET mixing: per-source quota in TOKENS, not documents —
    // docs admitted in deterministic md5 order until the source's budget
    // is spent. One window shuffle on source; the mix1 proportions
    // become absolute token counts, which is how real pretraining mixes
    // are specified. Low source cardinality at corpus scale makes this
    // the j5 skew case — salt the window key or pre-aggregate per
    // (source, bucket) if a source dominates.
    "mix2_token_budget" -> { (s, dir) =>
      val st = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_toks"),
          Sampling.bucket(col("doc_id"), "mix2").as("bkt"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("bkt"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      st.withColumn("cum_toks", sum(col("n_toks")).over(w))
        .filter(col("cum_toks") <= 800L)
        .select("doc_id", "source", "n_toks", "cum_toks")
    },

    // Temperature sampling weights (T = 2): per-language sampling
    // probability ∝ n^(1/T) = √n — the multilingual-corpus rebalancing
    // rule (exponent-smoothed sampling upweights low-resource languages
    // without drowning the head). The normalizer W = Σ√n is a LEFT FOLD
    // over the language-sorted count list (one metadata-sized row), so
    // the float accumulation order is pinned and both engines produce
    // bit-identical probabilities (the oracle replays the fold as a
    // recursive CTE); √ of an exact integer and one division are
    // correctly-rounded IEEE ops. The stats pass is one
    // map-side-combined count; everything after is per-group scalar
    // math — apply the resulting rates with s2's stratified gate.
    "s7_temperature_mix" -> { (s, dir) =>
      val byLang = Tables.spread(Tables.documents(s, dir)).groupBy("lang")
        .agg(count(lit(1)).as("n"))
      val tot = byLang
        .agg(sort_array(collect_list(struct(col("lang"), col("n"))))
          .as("xs"))
        .select(expr(
          "aggregate(xs, 0.0D, (acc, x) -> acc + sqrt(cast(x.n as double)))")
          .as("w"))
      byLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n").as("n_docs"),
          floor(lit(1000000.0) * sqrt(col("n").cast("double")) / col("w"))
            .cast("bigint").as("p_micro"))
    },

    // SYSTEMATIC sample: order by the stratification key and take every
    // 20th row — spans the full value distribution by construction
    // (equal-probability strata without a hash), the survey-sampling
    // complement to s1's Bernoulli gate. The global ordinal comes from
    // GlobalRank's two-pass range layout, so the "sort + every k-th"
    // semantics survive any partitioning with no single-task window.
    "s8_systematic_sample" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      GlobalRank.withGlobalRowNumber(d,
          order = Seq(col("n_chars"), col("doc_id")), out = "rn")
        .filter((col("rn") - 1) % 20 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rn"))
    },

    // Deterministic hash-bucket Bernoulli sample (~25% of documents):
    // membership is per-record and engine-reproducible, unlike
    // sample(seed) which keys on row order.
    "s1_hash_sample" -> { (s, dir) =>
      Sampling.hashSample(Tables.documents(s, dir).select("doc_id", "lang"),
          col("doc_id"), keepPermille = 250)
        .withColumn("bucket", Sampling.bucket(col("doc_id"), "sample"))
    },

    // Stratified sample: per-language keep rates (downsample the dominant
    // class, keep rare ones whole) — corpus rebalancing.
    "s2_stratified_sample" -> { (s, dir) =>
      Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang"),
        strata = col("lang"), key = col("doc_id"),
        rates = Map("en" -> 200, "de" -> 600), defaultPermille = 1000)
    },

    // Train/val/test split assignment: 800/100/100 permille, stable per
    // doc_id forever (no holdout leakage across reruns).
    "s3_split_assign" -> { (s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir).select("doc_id"),
        col("doc_id"), trainPermille = 800, valPermille = 100)
    },

    // The composed quality GATE: C4/Gopher rule stack — length, stopword
    // presence, punctuation density, repetition, language — as one
    // keep/drop verdict with auditable reason codes.
    "tx9_quality_gate" -> { (s, dir) =>
      TextAnalysis.qualityGate(Tables.spread(Tables.documents(s, dir)))
    },

    // Per-source corpus DATASHEET: docs, tokens, language spread, mean
    // length, and the quality-gate keep rate — the data card every
    // curated corpus ships with, and the aggregate view that tunes tx9's
    // rule stack per provenance.
    "tx11_source_datasheet" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val gate = TextAnalysis.qualityGate(docs).select("doc_id", "keep")
      docs.select(col("doc_id"), col("source"), col("n_chars"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
        .join(gate, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          (sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double")).as("avg_chars"),
          (count(when(col("keep"), lit(1))).cast("double") /
            count(lit(1)).cast("double")).as("keep_frac"))
    },

    // Repetition / lexical-diversity filter signals (Gopher-style):
    // type-token ratio + duplicate-bigram fraction per document.
    "tx8_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionStats(Tables.spread(Tables.documents(s, dir)))
    },

    // TX31 (beyond reference): URL DOMAIN census — extract every URL,
    // reduce to its host, and report per-domain URL/document counts:
    // the table C4-style curation keys its domain blocklists and
    // per-site caps off (one spam domain dominating the corpus is the
    // first thing this surfaces). The harness text carries no URLs, so
    // each doc is augmented with two deterministic ones (same
    // synthetic-fixture contract as mm's media table) — the regex
    // extraction, host reduction, and rollup are the real machinery.
    // Per-row regex, no shuffle before the domain rollup; the shuffle
    // carries hosts, never documents.
    "tx31_url_domains" -> { (s, dir) =>
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), concat(col("text"),
          lit(" see https://"), col("source"), lit(".example.com/page/"),
          col("doc_id").cast("string"),
          lit(" and http://mirror-"), (col("doc_id") % 3).cast("string"),
          lit(".example.org/x?id="), col("doc_id").cast("string"))
          .as("text"))
        .select(col("doc_id"), explode(
          regexp_extract_all(col("text"),
            lit(TextAnalysis.urlPattern), lit(0))).as("u"))
        .select(col("doc_id"),
          regexp_extract(col("u"), "https?://([^/]+)", 1).as("domain"),
          col("u"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("u")).as("n_distinct_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
    },

    // TX32 (beyond reference): SENTENCE segmentation stats — sentences
    // per document and mean/max sentence length in words (regex
    // terminator split; the same segmentation a context-window packer or
    // a readability score keys off — tx17 estimates syllables, this
    // measures structure). Pure per-row array ops; empty docs guarded
    // identically on both engines.
    "tx32_sentence_stats" -> { (s, dir) =>
      val sents = expr(
        """filter(transform(split(text, '[.!?]+'), x -> trim(x)),
          |  x -> length(x) > 0)""".stripMargin.replace("\n", " "))
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), sents.as("sents"))
        .selectExpr("doc_id",
          "cast(size(sents) as bigint) AS n_sentences",
          """transform(sents,
            |  x -> size(filter(split(x, ' '), w -> length(w) > 0)))
            |AS wc""".stripMargin.replace("\n", " "))
        .selectExpr("doc_id", "n_sentences",
          """CASE WHEN n_sentences = 0 THEN NULL ELSE
            |  aggregate(wc, 0L, (a, x) -> a + x) * 1000000
            |    div n_sentences END AS mean_sentence_words_micro"""
            .stripMargin.replace("\n", " "),
          "CASE WHEN n_sentences = 0 THEN NULL ELSE " +
            "cast(array_max(wc) as bigint) END AS max_sentence_words")
    },

    // TX33 (beyond reference): tokenizer FERTILITY by lang × source —
    // tokens per 100 characters under both tokenizers (whitespace and
    // the BPE-ish regex). The multilingual-pipeline diagnostic: a
    // language whose fertility sits far above the corpus norm is being
    // over-fragmented (its token budget buys less text), which silently
    // skews every token-denominated plan (mix2's budget, mix5's
    // waterfill). One exact integer rollup to (lang, source) grain —
    // metadata-sized at any corpus scale, counters all per-row codegen.
    "tx33_fertility" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir))
        .select(col("lang"), col("source"), length(t).as("nc"),
          TextAnalysis.tokenCount(t).as("nw"),
          TextAnalysis.bpeishTokenCount(t).as("nb"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
          sum(col("nw")).as("n_tokens_ws"),
          sum(col("nb")).as("n_tokens_bpeish"))
        .select(col("lang"), col("source"), col("n_docs"),
          col("n_chars"), col("n_tokens_ws"), col("n_tokens_bpeish"),
          expr("""case when n_chars = 0 then null
                 |else n_tokens_ws * 100000000 div n_chars end"""
            .stripMargin.replace("\n", " ")).as("fert_ws_micro"),
          expr("""case when n_chars = 0 then null
                 |else n_tokens_bpeish * 100000000 div n_chars end"""
            .stripMargin.replace("\n", " ")).as("fert_bpeish_micro"))
    },

    // TX34 (beyond reference): FLESCH reading ease per document — the
    // classic readability feature: 206.835 − 1.015·(words/sentence) −
    // 84.6·(syllables/word), with syllables estimated as vowel-group
    // runs (the standard regex surrogate) and sentences as
    // terminal-punctuation runs (min 1 so one-liners score). Three
    // regexp counters of per-row codegen — the scan streams, nothing
    // shuffles — and the score is one fixed IEEE tree floor-quantized
    // to micro, so the cross-engine compare is exact.
    "tx34_readability" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(t).as("nw"),
          size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
            .cast("bigint").as("nsyl"),
          greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0)))
            .cast("bigint"), lit(1L)).as("nsent"))
        .select(col("doc_id"), col("nw"), col("nsyl"), col("nsent"),
          when(col("nw") > 0,
            floor(lit(1e6) * (lit(206.835) -
              lit(1.015) * (col("nw").cast("double") /
                col("nsent").cast("double")) -
              lit(84.6) * (col("nsyl").cast("double") /
                col("nw").cast("double")))).cast("bigint"))
            .as("flesch_micro"))
    },

    // TX36 (beyond reference): YULE'S K lexical-diversity constant per
    // language — the length-invariant repeat-rate readout
    // 10⁴·(Σf² − N)/N² over type frequencies, separating formulaic from
    // diverse text where raw TTR is length-confounded (tx28's MATTR
    // fixes length by windowing; K fixes it in closed form from two
    // frequency moments). One map-side-combined (lang, token) rollup,
    // then a lang-grain reduce; exact decimal moments (f² casts before
    // the square — a 10⁸-occurrence stopword overflows int64), one
    // final IEEE division.
    "tx36_yule_k" -> { (s, dir) =>
      val f = Tables.spread(Tables.documents(s, dir))
        .select(col("lang"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("lang", "token").agg(count(lit(1)).as("f"))
      f.groupBy("lang")
        .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("f").cast(d38) * col("f").cast(d38)).as("s2"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          when(col("n_tokens") > 0,
            lit(1e4) *
              (col("s2") - col("n_tokens").cast(d38)).cast("double") /
              (col("n_tokens").cast("double") *
                col("n_tokens").cast("double"))).as("yule_k"))
    },

    // TX37 (beyond reference): token BURSTINESS (Church–Gale VMR) for
    // the 30 highest-frequency tokens — variance-to-mean ratio of
    // per-document counts INCLUDING the absent-doc zeros, in closed
    // form from (Σc, Σc², n_docs): VMR = (n·Σc² − S²)/(n·S). ≈1 for
    // Poisson-scattered glue words, ≫1 for bursty topical terms — the
    // signal that separates content from function words when curating
    // stopword lists or keyword extractors (tx19). The zero mass enters
    // the moments in closed form (tx27's trick — never manufactured
    // rows); the top-30 cut is a TakeOrdered over the vocab rollup,
    // never a corpus sort; the ratio is exact integer micro
    // (n·Σc² ≥ S² by Cauchy–Schwarz, so truncation = floor on both
    // engines).
    "tx37_burstiness" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val perDoc = docs
        .select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
      val perTok = perDoc.groupBy("token")
        .agg(sum(col("c")).as("s"), count(lit(1)).as("df"),
          sum(col("c").cast(d38) * col("c").cast(d38)).as("s2"))
        .orderBy(col("s").desc, col("token").asc).limit(30)
      perTok.crossJoin(broadcast(nd))
        .withColumn("num",
          (col("n_docs").cast(d38) * col("s2") -
            col("s").cast(d38) * col("s").cast(d38)) *
            lit(1000000L).cast(d38))
        .withColumn("den", col("n_docs").cast(d38) * col("s").cast(d38))
        .select(col("token"), col("df"), col("s").as("total"),
          expr("cast(num div den as bigint)").as("vmr_micro"))
    },

    // TX35 (beyond reference): CODE detection — is this document prose
    // or source code? The curation fork every mixed crawl needs (code
    // goes to the code pipeline with different dedup/quality rules;
    // code inside a prose corpus is usually boilerplate). Signals: code
    // punctuation density ({};=() per char), indented-line share, and
    // reserved-word hits — three regexp counters, all per-row codegen,
    // ratios exact micro integers; the verdict is a fixed rule over
    // them (≥2% symbols AND (≥20% indented lines OR ≥3 keywords)).
    "tx35_code_detection" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
          length(t).as("nc"),
          split(t, "\n").as("lines"),
          size(regexp_extract_all(t, lit("[{};=()]"), lit(0)))
            .cast("bigint").as("n_sym"),
          size(regexp_extract_all(t, lit(
            "\\b(def|class|import|return|function|const|var|for|while)\\b"),
            lit(0))).cast("bigint").as("n_kw"))
        .select(col("doc_id"), col("nc"),
          size(col("lines")).cast("bigint").as("n_lines"),
          size(filter(col("lines"), l => l.rlike("^(\t|  )")))
            .cast("bigint").as("n_indent"),
          col("n_sym"), col("n_kw"))
        .select(col("doc_id"), col("n_lines"), col("n_indent"),
          col("n_sym"), col("n_kw"),
          expr("""case when nc = 0 then null
                 |else n_sym * 1000000 div nc end"""
            .stripMargin.replace("\n", " ")).as("sym_frac_micro"),
          expr("n_indent * 1000000 div n_lines")
            .as("indent_frac_micro"))
        .withColumn("is_code",
          coalesce(col("sym_frac_micro"), lit(0L)) >= 20000L &&
            (col("indent_frac_micro") >= 200000L || col("n_kw") >= 3L))
    },

    // DD17 (beyond reference): canonical-URL dedup — the provenance-
    // level dedup pass that content hashing cannot do: the same page
    // fetched as http://HOST/x?id=1 and https://host/x/ is one
    // document. URLs (tx31's deterministic augmentation) are
    // canonicalized — query/fragment stripped, trailing slash stripped,
    // scheme+host lowercased, path kept case-sensitive — and grouped;
    // each canonical group reports its mention count, distinct docs,
    // and the kept doc (lowest id, the dd1 keeper rule). Pure per-row
    // regex work plus one canonical-key rollup — the same shape (and
    // scale story) as exact dedup.
    "dd17_url_dedup" -> { (s, dir) =>
      val aug = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), concat(col("text"),
          lit(" see https://"), col("source"), lit(".example.com/page/"),
          col("doc_id").cast("string"),
          lit(" and http://mirror-"), (col("doc_id") % 3).cast("string"),
          lit(".example.org/x?id="), col("doc_id").cast("string"))
          .as("text"))
      aug.select(col("doc_id"), explode(
          regexp_extract_all(col("text"),
            lit(TextAnalysis.urlPattern), lit(0))).as("u"))
        .withColumn("u2", regexp_replace(col("u"), "[?#].*$", ""))
        .withColumn("u3", regexp_replace(col("u2"), "/$", ""))
        .withColumn("h", regexp_extract(col("u3"), "https?://[^/]+", 0))
        .select(col("doc_id"),
          concat(lower(col("h")),
            expr("substr(u3, length(h) + 1)")).as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper_doc"))
        .withColumn("n_dup_docs", col("n_docs") - 1)
    },

    // TX30 (beyond reference): the GOPHER rule battery (Rae et al. 2021)
    // — the published heuristic set tx9's gate doesn't cover: mean word
    // length in [3, 10], symbol-to-word ratio (# and ... marks) < 0.1,
    // bullet-started line share < 0.9, share of words containing an
    // alphabetic character > 0.8, plus the ALL-CAPS share as a report
    // column. Raw-text tokens (not normalized — capitalization is
    // signal here), every ratio an exact micro integer, every rule a
    // per-row array/regex op — the scan streams, nothing shuffles.
    "tx30_gopher_rules" -> { (s, dir) =>
      val t = col("text")
      val base = Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
        filter(split(t, "\\s+"), x => length(x) > 0).as("toks"),
        split(t, "\n").as("lines"),
        expr("length(text) - length(replace(text, '#', ''))").as("n_hash"),
        expr("(length(text) - length(replace(text, '...', ''))) div 3")
          .as("n_ellipsis"))
      val m = base.selectExpr("doc_id",
        "cast(size(toks) as bigint) AS n_words",
        """CASE WHEN size(toks) = 0 THEN NULL ELSE
          |  aggregate(toks, 0L, (a, x) -> a + length(x)) * 1000000
          |    div size(toks) END AS mean_word_len_micro"""
          .stripMargin.replace("\n", " "),
        """CASE WHEN size(toks) = 0 THEN NULL ELSE
          |  (n_hash + n_ellipsis) * 1000000 div size(toks)
          |END AS symbol_ratio_micro""".stripMargin.replace("\n", " "),
        """cast(size(filter(lines, l -> l rlike '^\\s*[-*•]')) as bigint)
          |  * 1000000 div size(lines) AS bullet_frac_micro"""
          .stripMargin.replace("\n", " "),
        """CASE WHEN size(toks) = 0 THEN NULL ELSE
          |  cast(size(filter(toks, x -> x rlike '[A-Za-z]')) as bigint)
          |    * 1000000 div size(toks) END AS alpha_frac_micro"""
          .stripMargin.replace("\n", " "),
        """CASE WHEN size(toks) = 0 THEN NULL ELSE
          |  cast(size(filter(toks, x -> x rlike '^[A-Z]{2,}$')) as bigint)
          |    * 1000000 div size(toks) END AS caps_frac_micro"""
          .stripMargin.replace("\n", " "))
      m.withColumn("gopher_pass", expr(
        """CASE WHEN n_words = 0 THEN 0
          |WHEN mean_word_len_micro BETWEEN 3000000 AND 10000000
          |  AND symbol_ratio_micro < 100000
          |  AND bullet_frac_micro < 900000
          |  AND alpha_frac_micro > 800000 THEN 1 ELSE 0 END"""
          .stripMargin.replace("\n", " ")).cast("bigint"))
    },

    // Quality-weighted sampling: keep probability proportional to a
    // per-document signal (token count here, standing in for any quality
    // score), clamped to [100, 900] permille — soft downweighting instead
    // of a hard cutoff, membership stable per doc_id forever.
    "s4_weighted_sample" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val permille =
        least(lit(100L) + col("n_tokens").cast("bigint") * 8L, lit(900L))
      Sampling.weightedSample(docs, col("doc_id"), permille)
        .withColumn("keep_permille", permille)
    },

    // Exact dedup: group by content fingerprint, keep lowest doc_id.
    // Spread first: the normalize+md5 fingerprint pass is the cost center
    // and would otherwise run inside the 1-task scan.
    "dd1_exact_dedup" -> { (s, dir) =>
      Dedup.exactDedup(Tables.spread(Tables.documents(s, dir)))
    },

    // MinHash + LSH near-dup: banded signature buckets → candidate pairs →
    // exact n-gram Jaccard ≥ 0.5.
    "dd2_minhash_pairs" -> { (s, dir) =>
      // spread: signatures/shingle-hashes are now computed scan-side
      Dedup.minhashDedup(Tables.spread(Tables.documents(s, dir)), threshold = 0.5)
    },

    // Incremental dedup-on-ingest: the incoming tenth of the corpus
    // (doc_id % 10 == 0) LSH-probes the existing corpus's bucket index —
    // one bucket equi-join per batch, never a corpus self-join.
    "dd8_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      Dedup.minhashDedupIncremental(
        existing = docs.filter(col("doc_id") % 10 =!= 0),
        incoming = docs.filter(col("doc_id") % 10 === 0),
        threshold = 0.5)
    },

    // Token frequency SPECTRUM: vocabulary size and total mass per
    // power-of-two frequency band — the Zipf-shape fingerprint of a
    // corpus (a healthy natural-language crawl is a straight line in
    // log-log; bot spam and template farms bulge the high-frequency
    // bands). The log2 bucket is `length(bin(f)) - 1` — pure integer
    // bit arithmetic, no libm log whose last-bit rounding could differ
    // between engines. Two map-side-combined aggregates, the second
    // over vocabulary-sized input.
    "tx15_freq_spectrum" -> { (s, dir) =>
      Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("t"))
        .groupBy("t").agg(count(lit(1)).as("f"))
        .groupBy(expr("length(bin(f)) - 1").as("log2_bucket"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("f")).as("total_occurrences"))
    },

    // N-gram novelty: the fraction of a document's distinct 3-gram
    // shingles that occur in NO other document — high novelty separates
    // genuinely new text from remixes/boilerplate, the complement of the
    // dd-tier's duplication signals and a standard curation feature. One
    // shingle explode + one df count + one shingle-keyed join back, all
    // map-side combined; ratios are exact integer micro-units. Shingles
    // travel as strings here to keep the oracle literal — at corpus
    // scale hash them first (Dedup's md5-60 kernel) so the shuffle rows
    // are fixed-width.
    "tx14_ngram_novelty" -> { (s, dir) =>
      val ex = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shinglesExpr(col("text"), 3)))
            .as("g"))
      val dfc = ex.groupBy("g").agg(count(lit(1)).as("df"))
      ex.join(dfc, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel"))
        .select(col("doc_id"), col("n_grams"), col("novel"),
          expr("(novel * 1000000) div n_grams").as("novelty_micro"))
    },

    // Containment scoring on the LSH candidates: near-superset detection
    // (quote/boilerplate absorption) that Jaccard structurally misses —
    // |∩| / min(|A|,|B|) ≥ 0.8 over the same candidate pairs as dd2.
    "dd10_containment" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      Dedup.containmentOnCandidates(docs, Dedup.minhashCandidates(docs))
        .filter(col("containment") >= 0.8)
    },

    // LSH parameter PLANNER: for each (bands, rows-per-band) split of the
    // 16-hash signature, the bucket count and the candidate-pair volume
    // Σ C(bucket, 2) the config would generate — the measurement that
    // picks dd2's operating point on the cost/recall curve (more bands =
    // catch lower similarities = more pairs to score; the s-curve
    // threshold (1/b)^(1/r) is closed-form, the PAIR VOLUME is not — it
    // depends on the corpus, so a real deployment measures exactly this
    // before committing a multi-day dedup run). Signatures are computed
    // ONCE (checkpointed) and re-bucketed per config; each config costs
    // one bands-wide explode + a map-side-combined bucket count — the
    // planner never materializes a single candidate pair.
    "dd9_lsh_planner" -> { (s, dir) =>
      val sigs = Dedup.minhashSignatures(Tables.spread(Tables.documents(s, dir)))
        .transform(graft.operators.GlobalRank.pinned)
      Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
        val bucketed = sigs.select(col("id"),
          posexplode(transform(sequence(lit(0), lit(b - 1)),
            bi => concat_ws("_", transform(
              slice(col("sig"), bi * r + 1, lit(r)),
              x => x.cast("string"))))).as(Seq("band", "bucket")))
        bucketed.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(expr("c * (c - 1) div 2")).as("candidate_pairs"))
          .select(lit(b.toLong).as("bands"),
            lit(r.toLong).as("rows_per_band"),
            col("n_buckets"), col("candidate_pairs"))
          // empty corpus: no plan rows (matches the oracle's grouped
          // aggregation, which emits nothing without data)
          .filter(col("n_buckets") > 0)
      }.reduce(_ unionByName _)
    },

    // SimHash near-dup candidates — full DuckDB oracle: the 60 per-bit
    // majority sums are program-generated SQL, same md5 hash family.
    "dd3_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashCandidates(Tables.spread(Tables.documents(s, dir)),
        maxHamming = 12)
    },

    // Exact repeated-span report: 8-token spans occurring in 2+ docs —
    // span-level dedup for boilerplate that document-level near-dup
    // misses. One explode + one hash groupBy.
    "dd5_repeated_spans" -> { (s, dir) =>
      Dedup.repeatedSpans(Tables.spread(Tables.documents(s, dir)), spanTokens = 8)
    },

    // Per-document BOILERPLATE ratio: the fraction of a doc's distinct
    // 8-token spans that repeat in ≥2 docs of the SAME source — the
    // header/footer/template score a curation pipeline thresholds before
    // training (dd5 lists global repeated spans; this rolls the signal up
    // per doc, scoped to the source whose template it would be). Explode
    // + two hash aggregates + one keyed join — all span-grain, scalable.
    "dd11_boilerplate" -> { (s, dir) =>
      import graft.functions.HashExpressions.md5Prefix60
      val spans = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(transform(
            Dedup.shinglesExpr(col("text"), 8), x => md5Prefix60(x))))
            .as("h"))
      val rep = spans.groupBy("source", "h")
        .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
        .select(col("source").as("r_source"), col("h").as("r_h"))
      spans.join(rep, col("source") === col("r_source") &&
          col("h") === col("r_h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("r_h").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_spans"), col("n_boiler"),
          (col("n_boiler").cast("double") / col("n_spans").cast("double"))
            .as("boiler_ratio"))
    },

    // Near-dup pairs → dedup CLUSTERS: connected components by iterative
    // min-label propagation (oracle: recursive-CTE transitive closure
    // over the same pair pipeline).
    "dd4_dup_clusters" -> { (s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashDedup(Tables.spread(Tables.documents(s, dir)),
          threshold = 0.5)
          .select("id_a", "id_b"))
    },

    // DD16 (beyond reference): cluster DOWNWEIGHTING — the soft
    // alternative to dd6's hard dedup apply: instead of dropping
    // near-duplicates, every document gets training weight
    // 1/cluster_size (a cluster of five counts once in expectation —
    // the policy several labs prefer because borderline near-dups keep
    // a vote instead of being guillotined by a threshold). Reuses the
    // LSH candidate graph + star-contraction clusters; singletons weight
    // 1.0. One left join over the cluster table; no new corpus pass.
    "dd16_cluster_downweight" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val comp = Dedup.connectedComponents(
        Dedup.minhashDedup(docs, threshold = 0.5).select("id_a", "id_b"))
      val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .join(sizes, Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("csize"), lit(1L)).as("cluster_size"),
          expr("1000000 div coalesce(csize, 1L)").as("weight_micro"))
    },

    // CX3 (beyond reference): PARAPHRASE-level decontamination — cx1's
    // exact shingle probe misses rewordings; here the held-out benchmark
    // slice (doc_id % 10 == 0) probes the corpus MinHash-LSH bucket
    // index and pairs verify by exact Jaccard ≥ 0.3 — near-duplicate
    // (not just verbatim) benchmark leakage, via dd8's incremental-probe
    // shape: one bucket equi-join, never a corpus self-join.
    "cx3_fuzzy_contamination" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      Dedup.minhashDedupIncremental(
          existing = docs.filter(col("doc_id") % 10 =!= 0),
          incoming = docs.filter(col("doc_id") % 10 === 0),
          threshold = 0.3)
        .select(col("id_b").as("bench_id"), col("id_a").as("corpus_id"),
          col("jaccard"))
    },

    // Brute-force cosine top-10 for query vectors vec_id<5, on exact
    // integer-quantized embeddings (reproducible cross-engine).
    "sim1_cosine_topk" -> { (s, dir) => sim1Frame(s, dir) },

    // SIM20 (beyond reference): TwoNN INTRINSIC DIMENSION (Facco et
    // al.) — how many degrees of freedom the embedding cloud actually
    // uses (the number that decides PQ code budget, sim13's projection
    // dim, and whether IVF cells will be balanced). Estimator: for a
    // FIXED 64-point probe set (vec_id < 64 — O(1) queries at any
    // corpus size, the sim1 contract), exact 1st/2nd-NN squared
    // distances against the whole corpus (integer micro-lane
    // arithmetic: d² = |q|² − 2q·c + |c|², order-free), μ = √(d₂/d₁),
    // and d̂ = n/Σ ln μ. Each ln μ is nano-quantized before the
    // cross-probe sum; duplicate-distance ties make μ = 1 exactly
    // (integer equality, no float tie ambiguity), zero-distance
    // duplicates are excluded (μ undefined). Two linear scans, one
    // 64-row broadcast — never a corpus×corpus product.
    "sim20_twonn_id" -> { (s, dir) =>
      import graft.functions.VectorExpressions.dotL
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        quantized(col("embedding")).as("qv"))
        .withColumn("nrm", dotL(col("qv"), col("qv")))
      val q = broadcast(quant.filter(col("vec_id") < 64)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
          col("nrm").as("q_nrm")))
      val dists = quant.select(col("vec_id").as("corpus_id"),
          col("qv").as("c_qv"), col("nrm").as("c_nrm"))
        .crossJoin(q)
        .filter(col("corpus_id") =!= col("query_id"))
        .select(col("query_id"),
          (col("q_nrm") - lit(2L) * dotL(col("q_qv"), col("c_qv")) +
            col("c_nrm")).as("d2q"))
        .filter(col("d2q") > 0)
      val d1 = dists.groupBy("query_id").agg(min(col("d2q")).as("d1"))
      val nn = dists.join(broadcast(d1), "query_id")
        .groupBy("query_id", "d1")
        .agg(sum(when(col("d2q") === col("d1"), 1L).otherwise(0L))
          .as("n1"),
          min(when(col("d2q") > col("d1"), col("d2q"))).as("dgt"))
        .withColumn("dd2",
          when(col("n1") > 1, col("d1")).otherwise(col("dgt")))
        .filter(col("dd2").isNotNull)
      nn.select(floor(lit(0.5) *
          log(col("dd2").cast("double") / col("d1").cast("double")) *
          lit(1e9)).cast("long").as("lnmu_nano"))
        .agg(count(lit(1)).as("n_used"),
          sum(col("lnmu_nano")).as("sum_lnmu_nano"))
        .select(col("n_used"), col("sum_lnmu_nano"),
          when(col("sum_lnmu_nano") > 0,
            col("n_used").cast("double") /
              (col("sum_lnmu_nano").cast("double") / lit(1e9)))
            .as("id_hat"))
    },

    // Johnson-Lindenstrauss random projection 64-d → 8-d with a ±1 sign
    // matrix (Achlioptas, "Database-friendly random projections"): the
    // dimensionality-reduction pass that makes downstream ANN/clustering
    // 8× cheaper while preserving pairwise distances to (1±ε). The sign
    // matrix is PLAN-TIME LITERAL data (md5-parity of "j_d" — sim2's
    // hyperplane contract: engine-reproducible, no RNG state), so the
    // whole projection is one narrow codegen fold per row — ZERO
    // shuffles at any corpus size. Lanes are quantized to integer
    // micro-units first; the signed sums are order-free integers, so
    // the oracle recomputing the same md5 parity in SQL is bit-exact.
    "sim13_rand_proj" -> { (s, dir) =>
      val dims = 8
      val lanes = 64
      val pcols = (0 until dims).map { d =>
        val signs = (1 to lanes).map(j => jlSign(j, d)).mkString(", ")
        expr(
          s"""aggregate(
             |  zip_with(embedding, array($signs),
             |    (e, sg) -> sg *
             |      cast(floor(cast(e as double) * 1000000D) as bigint)),
             |  0L, (acc, x) -> acc + x)""".stripMargin)
      }
      Tables.spread(Tables.embeddings(s, dir))
        .select(col("vec_id"), posexplode(array(pcols: _*)))
        .select(col("vec_id"), col("pos").cast("bigint").as("d"),
          col("col").as("p_micro"))
    },

    // MMR diversity re-rank: top-20 exact-cosine candidates per query,
    // then 10 greedy picks maximizing 0.7·relevance − 0.3·max-sim-to-
    // selected. Candidate generation is the distributed part; the greedy
    // loop is per-query local (the production ANN-then-MMR split). The
    // oracle replays all 10 steps as unrolled CTEs, bit-exact.
    "sim12_mmr" -> { (s, dir) =>
      import graft.functions.VectorExpressions.dotL
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        quantized(col("embedding")).as("qv"))
      val withNorm = quant.withColumn("nrm", dotL(col("qv"), col("qv")))
        .filter(col("nrm") > 0) // zero-norm: cosine undefined, excluded
      val q = broadcast(withNorm.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
          col("nrm").as("q_nrm")))
      val scored = withNorm
        .select(col("vec_id").as("corpus_id"), col("qv"), col("nrm"))
        .crossJoin(q)
        .filter(col("corpus_id") =!= col("query_id"))
        .select(col("query_id"), col("corpus_id"), col("qv"), col("nrm"),
          (dotL(col("q_qv"), col("qv")).cast("double") /
            (sqrt(col("q_nrm").cast("double")) *
              sqrt(col("nrm").cast("double")))).as("cos_sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("corpus_id").asc)
      val cands = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select("query_id", "corpus_id", "cos_sim", "qv", "nrm")
      graft.operators.Mmr.mmrSelect(cands, k = 10)
    },

    // k-NN label vote: each query's exact top-10 neighbors vote with
    // their `label`; majority (ties: lowest label) vs the query's own
    // label — the standard embedding-quality eval (does the space
    // cluster by class?). Composes the sim1 exact-top-k frame.
    "sim11_knn_label_vote" -> { (s, dir) =>
      val labels = Tables.embeddings(s, dir).select("vec_id", "label")
      val votes = sim1Frame(s, dir).select("query_id", "corpus_id")
        .join(labels.select(col("vec_id").as("corpus_id"),
          col("label").as("n_label")), Seq("corpus_id"))
        .groupBy("query_id", "n_label").agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("n_label").asc)
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("own_label")), Seq("query_id"))
        .select(col("query_id"), col("own_label"),
          col("n_label").as("voted_label"), col("n_votes"),
          (col("own_label") === col("n_label")).as("label_match"))
    },

    // Multi-class evaluation of sim11's kNN classifier: confusion-matrix
    // marginals and per-class precision/recall in exact integer
    // micro-units. The confusion matrix is label²-sized (metadata scale
    // no matter the corpus); the only data-sized work is the prediction
    // pass itself, shared with sim11. Classes that are never predicted
    // (or never true) get null precision (recall) rather than a fake 0.
    "ml7_confusion" -> { (s, dir) =>
      val labels = Tables.embeddings(s, dir).select("vec_id", "label")
      val votes = sim1Frame(s, dir).select("query_id", "corpus_id")
        .join(labels.select(col("vec_id").as("corpus_id"),
          col("label").as("n_label")), Seq("corpus_id"))
        .groupBy("query_id", "n_label").agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("n_label").asc)
      val pred = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("t")), Seq("query_id"))
        .select(col("t").cast("bigint").as("true_label"),
          col("n_label").cast("bigint").as("pred_label"))
      val cm = pred.groupBy("true_label", "pred_label")
        .agg(count(lit(1)).as("n"))
      val byT = cm.groupBy(col("true_label").as("lbl"))
        .agg(sum("n").as("t_n"))
      val byP = cm.groupBy(col("pred_label").as("lbl"))
        .agg(sum("n").as("p_n"))
      val diag = cm.filter(col("true_label") === col("pred_label"))
        .select(col("true_label").as("lbl"), col("n").as("tp0"))
      byT.join(byP, Seq("lbl"), "full_outer")
        .join(diag, Seq("lbl"), "left")
        .select(col("lbl").as("label"),
          coalesce(col("tp0"), lit(0L)).as("tp"),
          (coalesce(col("p_n"), lit(0L)) - coalesce(col("tp0"), lit(0L)))
            .as("fp"),
          (coalesce(col("t_n"), lit(0L)) - coalesce(col("tp0"), lit(0L)))
            .as("fn"))
        .withColumn("precision_micro",
          when(col("tp") + col("fp") > 0,
            expr("(tp * 1000000) div (tp + fp)")))
        .withColumn("recall_micro",
          when(col("tp") + col("fn") > 0,
            expr("(tp * 1000000) div (tp + fn)")))
    },

    // Exact embedding near-dup baseline on quantized vectors (full
    // oracle): every pair above the cosine threshold. O(n²) — this is the
    // correctness baseline; sim2's LSH is the scale path.
    "sim4_neardup_exact" -> { (s, dir) =>
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        quantized(col("embedding")).as("qv"))
      import graft.functions.VectorExpressions.dotL
      val withNorm = quant.withColumn("nrm", dotL(col("qv"), col("qv")))
        .filter(col("nrm") > 0) // zero-norm: cosine undefined, excluded
      val a = withNorm.select(col("vec_id").as("id_a"),
        col("qv").as("qa"), col("nrm").as("na"))
      val b = withNorm.select(col("vec_id").as("id_b"),
        col("qv").as("qb"), col("nrm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (dotL(col("qa"), col("qb")).cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
    },

    // LSH-bucketed embedding near-dup — full DuckDB oracle: Spark's HOF
    // fold and DotProductF both accumulate `0.0 + t1 + t2 + …` in element
    // order, so a program-generated left-associative SQL chain with
    // round-trip double literals reproduces every float bit-for-bit.
    "sim2_lsh_neardup" -> { (s, dir) =>
      Similarity.cosineNearDup(Tables.embeddings(s, dir), threshold = 0.2,
        planes = 4)
    },

    // IVF-probed ANN top-k: queries scan only nprobe/ncells of the corpus.
    // Full DuckDB oracle via the same bit-exact float-chain technique as
    // sim2 (cell assignment, probe ranking, and cosines all reproduce).
    "sim3_ivf_topk" -> { (s, dir) => sim3Frame(s, dir) },

    // SemDeDup-style semantic dedup: IVF-cell clustering, then prune rows
    // with a cosine-close lower-id neighbor in the SAME cell only — the
    // pairwise work is O(Σ cell²), never O(n²).
    "sim6_semdedup" -> { (s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), threshold = 0.2,
        ncells = 8)
    },

    // ANN quality evaluation: recall@10 of the IVF probe against the
    // exact brute-force ranking — the measurement that justifies the
    // nprobe/ncells cost-recall trade before relying on it at scale.
    // SIM18 (beyond reference): recall@k CURVE — sim5 reports IVF recall
    // at one cutoff; the tuning decision needs the curve: recall@1/@5/@10
    // of the probed index against the exact ranking in one table (how
    // fast does the ANN "catch up" as k grows — shallow cutoffs are where
    // IVF loses). Reuses both ranked frames; the rollup is
    // queries × 3 rows.
    "sim18_recall_curve" -> { (s, dir) =>
      // single pass: one (exact ⋈ ivf) join, conditional hit counts per
      // cutoff, rows fanned out by a 3-element struct explode — the
      // union-per-k form re-evaluated both ranking frames 3× (3.5 s
      // isolated vs ~1 s here at sf0.1)
      // exact ranking pinned: it feeds the hit join AND the query
      // universe (round-13 fan-out rule; sim5 likewise)
      val ex = sim1Frame(s, dir).select("query_id", "corpus_id", "rk")
        .transform(graft.operators.GlobalRank.pinned)
      val ivf = sim3Frame(s, dir).select(col("query_id"),
        col("corpus_id"), col("rk").as("ivf_rk"))
      val hits = ex.join(ivf, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(
          sum(when(col("rk") <= 1 && col("ivf_rk") <= 1, 1L)
            .otherwise(0L)).as("h1"),
          sum(when(col("rk") <= 5 && col("ivf_rk") <= 5, 1L)
            .otherwise(0L)).as("h5"),
          sum(when(col("rk") <= 10 && col("ivf_rk") <= 10, 1L)
            .otherwise(0L)).as("h10"))
      ex.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), explode(array(
          struct(lit(1L).as("k"), coalesce(col("h1"), lit(0L)).as("nh")),
          struct(lit(5L).as("k"), coalesce(col("h5"), lit(0L)).as("nh")),
          struct(lit(10L).as("k"), coalesce(col("h10"), lit(0L)).as("nh"))))
          .as("kv"))
        .select(col("query_id"), col("kv.k").as("k"),
          col("kv.nh").as("n_hits"),
          (col("kv.nh").cast("double") / col("kv.k").cast("double"))
            .as("recall"))
    },

    "sim5_ivf_recall" -> { (s, dir) =>
      val ex = sim1Frame(s, dir).select("query_id", "corpus_id")
        .transform(graft.operators.GlobalRank.pinned) // fan-out: hit join + query universe
      val ivf = sim3Frame(s, dir).select("query_id", "corpus_id")
      val hits = ex.join(ivf, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ex.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10.0)
            .as("recall"))
    },

    // SIM17 (beyond reference): FILTERED vector search — top-5 cosine
    // neighbors restricted to corpus vectors sharing the query's label
    // (the "where category = X" every production vector store bolts onto
    // ANN). Spark-first answer: the metadata predicate BECOMES the join
    // key — scoring is an equi-join on label (broadcast query set), so
    // the filter prunes candidates BEFORE any dot product instead of
    // post-filtering a top-k that may then starve; at scale this is a
    // label-partitioned index, and the plan is the same keyed join.
    // Same micro-quantized integer dot + IEEE-tree cosine as sim1.
    "sim17_filtered_topk" -> { (s, dir) =>
      import graft.functions.VectorExpressions.dotL
      val quant = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          quantized(col("embedding")).as("qv"))
      val withNorm = quant.withColumn("nrm", dotL(col("qv"), col("qv")))
        .filter(col("nrm") > 0) // zero-norm: cosine undefined, excluded
      val q = broadcast(withNorm.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("qv").as("q_qv"), col("nrm").as("q_nrm")))
      val scored = withNorm.select(col("vec_id").as("corpus_id"),
          col("label").as("c_label"), col("qv").as("c_qv"),
          col("nrm").as("c_nrm"))
        .join(q, col("c_label") === col("q_label"))
        .filter(col("corpus_id") =!= col("query_id"))
        .select(col("query_id"), col("q_label").as("label"),
          col("corpus_id"),
          (dotL(col("q_qv"), col("c_qv")).cast("double") /
            (sqrt(col("q_nrm").cast("double")) *
              sqrt(col("c_nrm").cast("double")))).as("cos_sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("corpus_id").asc)
      scored.withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 5)
    },

    // SIM16 (beyond reference): MATRYOSHKA truncation eval — score the
    // corpus with only the FIRST 16 of 64 embedding lanes (the
    // matryoshka-representation trick: a prefix of a well-trained
    // embedding is itself an embedding) and report top-10 recall against
    // the full-dimension ranking. The number that licenses running ANN
    // at a quarter of the memory/compute; same micro-quantized integer
    // dot + one-IEEE-tree cosine as sim1, same broadcast query set —
    // prefix slicing is free at scan time (narrower arrays through every
    // buffer), which IS the 100 TB point.
    "sim16_matryoshka_recall" -> { (s, dir) =>
      val full = sim1Frame(s, dir).select("query_id", "corpus_id")
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        quantized(slice(col("embedding"), 1, 16)).as("qv"))
      // zero-norm prefix: cosine undefined, excluded
      val scored = probeCosines(quant)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("corpus_id").asc)
      val pref = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10).select("query_id", "corpus_id")
      val hits = full.join(pref, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      full.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10.0)
            .as("recall"))
    },

    // Benchmark decontamination: training docs (doc_id % 10 != 0) sharing
    // any 3-gram shingle with the held-out "benchmark" slice (% 10 == 0).
    // Benchmark hash set broadcast; corpus scanned once.
    // CX4 (beyond reference): SEMANTIC decontamination — the third
    // rung of the ladder (cx1 exact shingles, cx3 fuzzy shingles):
    // paraphrased benchmark leakage shares no shingle at all but sits
    // next to the eval item in embedding space. Eval set = the fixed
    // probe vectors (vec_id < 5, the sim1 O(1)-probe contract),
    // broadcast against one corpus scan; a corpus vector is flagged
    // when quantized-integer cosine to ANY eval vector clears 0.3, and
    // the report keeps the argmax eval item per flagged vector (max on
    // a (cos, eval_id) struct — deterministic, ties to the higher id).
    "cx4_semantic_decontamination" -> { (s, dir) =>
      import graft.functions.VectorExpressions.dotL
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        quantized(col("embedding")).as("qv"))
        .withColumn("nrm", dotL(col("qv"), col("qv")))
        .filter(col("nrm") > 0)
      val evalSet = broadcast(quant.filter(col("vec_id") < 5)
        .select(col("vec_id").as("eval_id"), col("qv").as("e_qv"),
          col("nrm").as("e_nrm")))
      quant.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("corpus_id"), col("qv").as("c_qv"),
          col("nrm").as("c_nrm"))
        .crossJoin(evalSet)
        .select(col("corpus_id"), col("eval_id"),
          (dotL(col("c_qv"), col("e_qv")).cast("double") /
            (sqrt(col("c_nrm").cast("double")) *
              sqrt(col("e_nrm").cast("double")))).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .groupBy("corpus_id")
        .agg(max(struct(col("cos_sim"), col("eval_id"))).as("m"))
        .select(col("corpus_id"), col("m.eval_id").as("eval_id"),
          col("m.cos_sim").as("cos_sim"))
    },

    "cx1_contamination" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      Contamination.contaminationReport(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          benchmark = docs.filter(col("doc_id") % 10 === 0))
        .withColumn("n_shingles", col("n_shingles").cast("bigint"))
    },

    // The BENCHMARK-side contamination view: for each held-out item, how
    // many corpus documents share shingles with it and how many distinct
    // shingle hashes leak — the "which test items are burned" report an
    // eval-integrity audit publishes (cx1 is the corpus-side flag; this
    // is its transpose). Same broadcast-hash-probe shape: the benchmark
    // hash set is tiny and broadcast, the corpus is scanned once.
    "cx2_benchmark_report" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      def hashes(df: DataFrame) = df.select(col("doc_id"),
        explode(array_distinct(transform(
          Dedup.shinglesExpr(col("text"), 3),
          sh => graft.functions.HashExpressions.md5Prefix60(sh)))).as("h"))
      val bh = broadcast(hashes(docs.filter(col("doc_id") % 10 === 0))
        .withColumnRenamed("doc_id", "bench_id"))
      hashes(docs.filter(col("doc_id") % 10 =!= 0)).join(bh, "h")
        .groupBy("bench_id")
        .agg(countDistinct(col("doc_id")).as("n_matching_docs"),
          countDistinct(col("h")).as("n_shared_hashes"))
    },

    // Weighted corpus mixture: per-source deterministic sampling rates
    // with provenance — corpus assembly's mixing step.
    // Cross-modal alignment probe (the LAION/CLIP-style curation gate,
    // re-expressed over the harness's opaque embeddings): cosine between
    // each document's TEXT-derived hashed bag-of-words vector (64 md5
    // buckets, integer counts) and its stored embedding, quantized to
    // integer micro-units. A mismatched caption/payload pair scores low
    // and gets filtered before training. ROW form end to end (token
    // buckets and embedding lanes explode to (id, dim) rows; dot and both
    // norms are exact integer sums over an equi-join on (id, dim)), so
    // the cosine is one fixed IEEE tree over exact integers — engine-
    // bitwise — and nothing holds a per-doc dense vector in an
    // aggregation buffer.
    "mm7_crossmodal_align" -> { (s, dir) =>
      import graft.functions.HashExpressions.md5Prefix60
      val tb = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("t"))
        .select(col("doc_id"), (md5Prefix60(col("t")) % 64).as("dim"))
        .groupBy("doc_id", "dim").agg(count(lit(1)).as("f"))
      val fn = tb.groupBy("doc_id")
        .agg(sum(col("f") * col("f")).as("f_nrm"))
      val q = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("bigint").as("dim"),
          floor(col("col").cast("double") * 1000000).cast("long").as("q"))
      val qn = q.groupBy("vec_id").agg(sum(col("q") * col("q")).as("q_nrm"))
      val dot = tb
        .join(q, tb("doc_id") === q("vec_id") && tb("dim") === q("dim"))
        .groupBy(tb("doc_id")).agg(sum(col("f") * col("q")).as("dot"))
      dot.join(fn, "doc_id")
        .join(qn, col("doc_id") === col("vec_id"))
        // zero-norm side (all-zero embedding / quantized-to-zero): the
        // alignment cosine is undefined — excluded, mirrored in oracle
        .filter(col("f_nrm") > 0 && col("q_nrm") > 0)
        .select(col("doc_id"), col("dot"), col("f_nrm"), col("q_nrm"),
          (col("dot").cast("double") /
            (sqrt(col("f_nrm").cast("double")) *
              sqrt(col("q_nrm").cast("double")))).as("alignment"))
    },

    // Epoch/repeat planning for a token-budgeted mixture: rebalance the
    // corpus toward EQUAL per-source token shares under a hard 2-epoch
    // repeat cap — the upsample-the-tail / downsample-the-head step
    // between s7's mixture weights and actual sampling (a source short of
    // its share repeats up to the cap; an over-long source samples down).
    // Everything is integer micro-units (epochs_micro = min(cap,
    // share·1e6 div n_toks)), so the plan is engine-exact: one map-side-
    // combined count per source, broadcast scalar, per-source math after.
    "mix3_epoch_plan" -> { (s, dir) =>
      val n = Tables.spread(Tables.documents(s, dir)).select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("bigint").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("n_toks"))
        .filter(col("n_toks") > 0)
      val k = n.agg(count(lit(1)).as("k"))
      n.crossJoin(broadcast(k))
        .select(col("source"), col("n_toks"),
          expr("40000 div k").as("target_toks"))
        .select(col("source"), col("n_toks"), col("target_toks"),
          least(lit(2000000L),
            expr("target_toks * 1000000 div n_toks")).as("epochs_micro"))
        .withColumn("planned_toks",
          expr("n_toks * epochs_micro div 1000000"))
    },

    "mix1_corpus_mix" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "lang")
      Sampling.mixCorpus(Seq(
        ("en", docs.filter(col("lang") === "en"), 800),
        ("de", docs.filter(col("lang") === "de"), 500),
        ("rest", docs.filter(col("lang").isNull ||
          (col("lang") =!= "en" && col("lang") =!= "de")), 250)),
        key = col("doc_id"))
    },

    // Product quantization: encode every embedding to an 8-byte PQ code
    // (8 subspaces × 8 deterministic centroids) — the 32× memory
    // compression tier of a cluster-scale ANN index.
    "sim7_pq_codes" -> { (s, dir) =>
      ProductQuantization.pqEncode(Tables.embeddings(s, dir))
        .select("vec_id", "pq_code")
    },

    // ADC top-10 over the PQ codes for queries vec_id<5: per-query m×k
    // lookup tables, m element_at's per candidate pair — no float math
    // per pair.
    "sim8_pq_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      ProductQuantization.pqTopK(emb, emb.filter(col("vec_id") < 5))
    },

    // IVF-PQ composition: queries probe 3 of 8 IVF cells and rank the
    // probed rows by ADC over 8-byte PQ codes — the standard
    // cluster-scale ANN index layout (prune WHICH rows + shrink WHAT
    // each row costs).
    "sim9_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      ProductQuantization.ivfPqTopK(emb, emb.filter(col("vec_id") < 5))
    },

    // PQ quality evaluation: recall@10 of the ADC ranking (sim8) against
    // the EXACT L2 top-10 — the apples-to-apples measurement of pure
    // quantization loss (both rank by squared L2; the only difference is
    // 8-byte codes vs full vectors). Same role for PQ that sim5 plays for
    // IVF: the number that justifies the 32× memory compression.
    "sim10_pq_recall" -> { (s, dir) =>
      import graft.functions.VectorExpressions.dotF
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.select(col("vec_id").as("corpus_id"),
        col("embedding").as("cv"))
      val qs = broadcast(emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      // exact ||q-c||² expanded so each term is one fused dot kernel; the
      // oracle writes the identical chains in the identical association
      val l2 = dotF(col("qv"), col("qv")) -
        lit(2.0) * dotF(col("qv"), col("cv")) +
        dotF(col("cv"), col("cv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("l2").asc, col("corpus_id").asc)
      val ex = corpus.crossJoin(qs)
        .filter(col("query_id") =!= col("corpus_id"))
        .select(col("query_id"), col("corpus_id"), l2.as("l2"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select("query_id", "corpus_id")
      val pq = ProductQuantization.pqTopK(emb, emb.filter(col("vec_id") < 5))
        .select("query_id", "corpus_id")
      val hits = ex.join(pq, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ex.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 10.0)
            .as("recall"))
    },

    // Centroid training: 3 Lloyd iterations of k-means over the
    // integer-quantized embeddings — the step that produces the
    // IVF cells / PQ codebooks the ANN tier consumes. Exact integer
    // distances + floored integer centroid means make every round
    // engine-reproducible, so the full iteration is DuckDB-oracled.
    "km1_kmeans" -> { (s, dir) =>
      KMeans.fit(Tables.embeddings(s, dir), k = 4, iters = 3)
        .select("vec_id", "cluster", "dist")
    },

    // Trained-IVF ANN: Lloyd-trained cells (k=8), queries probe their 3
    // nearest trained centroids, quantized-cosine top-10 over probed
    // cells only — the data-adaptive composition of km1 + sim3.
    "km2_trained_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      KMeans.trainedIvfTopK(emb, emb.filter(col("vec_id") < 5))
    },

    // KM4 (beyond reference): centroid-based SILHOUETTE — the
    // cluster-quality readout km1's inertia can't give (inertia always
    // improves with k; silhouette s = (b−a)/max(a,b) peaks at the
    // RIGHT k). The simplified (centroid-distance) form is the one
    // that scales: a = distance to own centroid, b = nearest OTHER
    // centroid — k broadcast rows per point instead of the O(n²)
    // pairwise original. Distances are exact integers off km1's
    // Lloyd state; each point's s is one IEEE tree, nano-quantized
    // before the per-cluster mean (cross-row float contract).
    // Single-cluster corners (no "other" centroid, or coincident
    // centroids at distance 0) score NULL and are excluded from the
    // mean on both engines.
    "km4_silhouette" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // round 14: b (nearest OTHER centroid) is a per-row expression
      // over the k centroid literals — array_min of the ≠-own-cluster
      // (d2, c2) structs — off the assignment projection, which already
      // carries qv and a2. The old crossJoin fan-out (k rows per point),
      // its groupBy(id) exchange, and the two id joins are gone; an
      // emptied centroid set degrades to an empty filtered array →
      // b2 null, exactly the old left-join miss.
      val (full, cents) = KMeans.fitFull(emb, k = 4, iters = 3,
        idCol = "vec_id", vecCol = "embedding")
      val dArr = array(cents.map { case (cl, cv) =>
        struct(KMeans.sqDistL(col("qv"), typedLit(cv)).as("d2"),
          lit(cl).as("c2"))
      }: _*)
      // empty corpus ⇒ no centroids AND no rows: only b2's type matters
      val b2 =
        if (cents.isEmpty) lit(null).cast("long")
        else array_min(filter(dArr, s =>
          s.getField("c2") =!= col("cluster"))).getField("d2")
      val sil = full
        .select(col("id"), col("cluster"), col("dist").as("a2"),
          b2.as("b2"))
      val ra = sqrt(col("a2").cast("double"))
      val rb = sqrt(col("b2").cast("double"))
      val silN = sil
        .withColumn("s_nano",
          when(col("b2").isNotNull && greatest(ra, rb) > 0,
            floor((rb - ra) / greatest(ra, rb) * lit(1e9))
              .cast("long")))
      silN.groupBy("cluster")
        .agg(count(lit(1)).as("n"), count(col("s_nano")).as("n_scored"),
          sum(col("s_nano")).as("sum_nano"))
        .select(col("cluster"), col("n"), col("n_scored"),
          when(col("n_scored") > 0,
            col("sum_nano").cast("double") /
              col("n_scored").cast("double") / lit(1e9))
            .as("silhouette"))
    },

    // Okapi BM25 against a fixed probe-term set (df spread: rare "dup" to
    // ubiquitous "batch") — one narrow scan + one broadcast scalar aggregate.
    // Pseudo-relevance-feedback query EXPANSION: score the corpus with
    // the original BM25 query, take the top-10 pseudo-relevant docs
    // (exact-score order, id tiebreak), and emit the 8 most common
    // terms in that set that aren't already query terms — the classic
    // PRF loop (Rocchio's term-selection step). The feedback set is
    // 10 rows → broadcast; term stats are one map-side-combined count
    // over those docs only; top-8 via TakeOrdered, deterministic
    // (df desc, term asc).
    "ir5_query_expansion" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val top = Retrieval.bm25(docs, bm25Terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select("doc_id")
      docs.join(broadcast(top), "doc_id")
        .select(explode(array_distinct(
          split(TextAnalysis.normalizeText(col("text")), " "))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df_prf"))
        .filter(!col("term").isin(bm25Terms: _*))
        .orderBy(col("df_prf").desc, col("term")).limit(8)
    },

    "ir1_bm25" -> { (s, dir) =>
      Retrieval.bm25(Tables.spread(Tables.documents(s, dir)), bm25Terms)
    },

    // IR11 (beyond reference): BM25F — field-weighted BM25 (title ×2,
    // body ×1) in the simple-BM25F form: weight the term frequencies
    // and the document length per field BEFORE the saturation curve, so
    // a title hit is worth two body hits but still saturates like one
    // stream. The harness corpus has no field structure, so the first 5
    // tokens stand in as the title (deterministic, mirrored by the
    // oracle). Same one-scan + broadcast-scalar shape as ir1; the idf
    // is micro-nat-quantized identically.
    "ir11_bm25f" -> { (s, dir) =>
      val k1 = 1.2; val b = 0.75; val wTitle = 2L
      val base = Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
        split(TextAnalysis.normalizeText(col("text")), " ").as("toks"))
        .select(col("doc_id"),
          slice(col("toks"), 1, 5).as("title"),
          expr("slice(toks, 6, greatest(size(toks) - 5, 0))").as("body"))
      def cnt(f: String, t: String) =
        size(filter(col(f), x => x === lit(t))).cast("bigint")
      val withTf = base.select(col("doc_id") +:
        (expr("least(size(title), 5)") * wTitle +
          expr("size(body)")).cast("bigint").as("wdl") +:
        bm25Terms.map(t =>
          (cnt("title", t) * wTitle + cnt("body", t)).as(s"wtf_$t")): _*)
      val stats = withTf.agg(count(lit(1)).as("n"),
        sum(col("wdl")).as("swdl") +: bm25Terms.map(t =>
          sum(when(col(s"wtf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
      val scored = withTf.crossJoin(broadcast(stats))
      val avgwdl = col("swdl").cast("double") / col("n").cast("double")
      val lenNorm = lit(k1) * (lit(1 - b) +
        lit(b) * col("wdl").cast("double") / avgwdl)
      val score = bm25Terms.foldLeft(lit(0.0)) { (acc, t) =>
        val tf = col(s"wtf_$t").cast("double")
        val df = col(s"df_$t").cast("double")
        val idf = floor(log((col("n").cast("double") - df + 0.5) /
          (df + 0.5) + 1.0) * lit(1e6)).cast("double") / lit(1e6)
        acc + idf * (tf * lit(k1 + 1)) / (tf + lenNorm)
      }
      scored.select(col("doc_id") +: col("wdl") +:
        bm25Terms.map(t => col(s"wtf_$t")) :+ score.as("bm25f"): _*)
    },

    // IR13 (beyond reference): PRECISION/RECALL@k over the BM25
    // top-10 — the set-based eval pair alongside the graded metrics
    // (ml5 NDCG, ir12 ERR, ml8 AP): relevance = at least 2 of the 4
    // query terms present (integer rule, no float threshold). The
    // recall denominator is the CORPUS-wide relevant count (one
    // broadcast scalar from the scored scan); everything else rides
    // the 10-row list. All-integer outputs.
    "ir13_pr_at_k" -> { (s, dir) =>
      val scored = Retrieval
        .bm25(Tables.spread(Tables.documents(s, dir)), bm25Terms)
        .withColumn("m", bm25Terms.map(t =>
          when(col(s"tf_$t") > 0, 1).otherwise(0)).reduce(_ + _))
        .withColumn("rel", when(col("m") >= 2, 1L).otherwise(0L))
      val totRel = scored.agg(sum(col("rel")).as("rel_total"))
      val top = scored.orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(10)
      val ord = Window.orderBy(col("bm25").desc, col("doc_id").asc)
      top.withColumn("r", row_number().over(ord).cast("long"))
        .withColumn("cum_rel", sum(col("rel")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(totRel))
        .select(col("r"), col("doc_id"), col("rel"),
          expr("cum_rel * 1000000 div r").as("precision_micro"),
          when(col("rel_total") > 0,
            expr("cum_rel * 1000000 div rel_total")).as("recall_micro"))
    },

    // IR12 (beyond reference): EXPECTED RECIPROCAL RANK — the cascade
    // eval metric (Chapelle et al.) over the BM25 top-10: a user scans
    // down the list and stops at the first satisfying doc, so rank r
    // contributes R_r/r · Π_{i<r}(1−R_i). Graded relevance is the
    // integer count of matched query terms capped at 3 (no float
    // thresholds), so R = (2^g−1)/8 and 1−R = (9−2^g)/8 are exact
    // dyadic rationals: the stopping-probability product is an exact
    // int64 numerator (list-fold over ≤9 prior grades) over 8^r — no
    // ln/exp in the chain, every contribution one exact-integer-fed
    // IEEE division. All windows ride the 10-row top list.
    "ir12_err" -> { (s, dir) =>
      val top = Retrieval.bm25(Tables.spread(Tables.documents(s, dir)), bm25Terms)
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
        .withColumn("m", bm25Terms.map(t =>
          when(col(s"tf_$t") > 0, 1).otherwise(0)).reduce(_ + _))
        .withColumn("g", least(col("m"), lit(3)))
        .withColumn("relnum", expr("cast(shiftleft(1, g) - 1 as bigint)"))
        .withColumn("k", expr("cast(9 - shiftleft(1, g) as bigint)"))
      val ord = Window.orderBy(col("bm25").desc, col("doc_id").asc)
      val ranked = top
        .withColumn("r", row_number().over(ord))
        .withColumn("prodk", aggregate(
          collect_list(col("k"))
            .over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(1L), (acc, x) => acc * x))
        .withColumn("contrib",
          (col("relnum") * col("prodk")).cast("double") /
            (expr("cast(shiftleft(1L, cast(3 * r as int)) as double)") *
              col("r").cast("double")))
      // the running ERR accumulates INTEGER femto-units, not doubles —
      // cross-row double sums are not order-reproducible across engines
      // (DuckDB windowed SUM tree-reduces)
      ranked
        .withColumn("qc", floor(col("contrib") * lit(1e15))
          .cast("bigint"))
        .withColumn("err_cum",
          sum(col("qc")).over(Window.orderBy(col("r"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / lit(1e15))
        .select(col("r"), col("doc_id"), col("g").as("grade"),
          col("contrib"), col("err_cum"))
    },

    // Dirichlet query likelihood over the same probe terms — the LM
    // ranker complement to BM25 (same one-scan + broadcast-scalar shape,
    // integer micro-nat per-term quantization makes the sum exact).
    "ir6_qlm" -> { (s, dir) =>
      Retrieval.queryLikelihood(Tables.spread(Tables.documents(s, dir)),
        bm25Terms)
    },

    // Flesch reading-ease per document: words (whitespace tokens),
    // sentences (terminator runs), syllables (vowel-group heuristic —
    // the standard cheap proxy), combined by the fixed IEEE tree
    // 206.835 − 1.015·w/s − 84.6·syll/w over integer counts, so the
    // score is bit-identical across engines. One narrow codegen scan.
    // Per-document top-3 TF-IDF keywords: the cheap extractive tagger a
    // corpus datasheet wants. Corpus df is one map-side-combined count
    // broadcast back; the idf is floor-quantized to micro-nats so the
    // weight tf·idf_micro is an exact bigint; top-3 via a per-doc window
    // (hash-partitioned by doc_id — millions of tiny groups, no skew).
    "tx19_keywords" -> { (s, dir) =>
      val toks = Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("term"))
        .filter(length(col("term")) > 0)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val nn = Tables.spread(Tables.documents(s, dir)).agg(count(lit(1)).as("n"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = tf.join(df, "term").crossJoin(broadcast(nn))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf") * floor(log(col("n").cast("double") /
            col("df").cast("double")) * lit(1e6)).cast("bigint"))
            .as("w_micro"))
      val perDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("w_micro").desc, col("term").asc)
      w.withColumn("rk", row_number().over(perDoc))
        .filter(col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "w_micro")
    },

    "tx17_readability" -> { (s, dir) =>
      val t = col("text")
      Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
          TextAnalysis.tokenCount(t).as("n_words"),
          regexp_count(t, lit("[.!?]+")).cast("bigint").as("n_sents"),
          regexp_count(lower(t), lit("[aeiouy]+")).cast("bigint")
            .as("n_syll"))
        .select(col("doc_id"), col("n_words"), col("n_sents"),
          col("n_syll"),
          (lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              greatest(col("n_sents"), lit(1L)).cast("double")) -
            lit(84.6) * (col("n_syll").cast("double") /
              greatest(col("n_words"), lit(1L)).cast("double")))
            .as("flesch"))
    },

    // Cluster-quality EVALUATION of the km1 Lloyd assignment against the
    // embeddings' true labels: per-cluster majority label and purity —
    // the report that decides whether trained IVF cells are also usable
    // as weak labels. The per-(cluster,label) contingency table is one
    // map-side-combined count (k·|labels| rows); majority via max(struct)
    // with smallest-label ties, purity the one exact division.
    "km3_cluster_purity" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // round 14: the label rides the Lloyd point set (fitFull carry),
      // so the contingency table is one map-side-combined count off the
      // assignment projection — the old re-join of the assignment onto
      // the embeddings (two exchanges) is gone
      val (asg, _) = KMeans.fitFull(emb, k = 4, iters = 3,
        idCol = "vec_id", vecCol = "embedding", carry = Seq("label"))
      val cl = asg.groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      cl.groupBy("cluster").agg(
          sum(col("n")).as("n_total"),
          max(struct(col("n"), (-col("label")).as("neg"))).as("mx"))
        .select(col("cluster"), col("n_total"),
          (-col("mx.neg")).cast("int").as("maj_label"),
          col("mx.n").as("maj_n"),
          (col("mx.n").cast("double") / col("n_total").cast("double"))
            .as("purity"))
    },

    // Unigram-LM mean surprisal per document (perplexity-style quality
    // filter): corpus vocabulary counted once, broadcast back, per-doc
    // exact integer micro-nat sum.
    "lm1_surprisal" -> { (s, dir) =>
      Retrieval.unigramSurprisal(Tables.spread(Tables.documents(s, dir)))
    },

    // Bigram-LM mean surprisal: P(w2|w1) from the corpus's own bigram
    // counts — the context-sensitive upgrade of lm1's unigram filter
    // (rare-continuation soup scores high even when every unigram is
    // common). Bigrams are formed narrowly per row (two array slices
    // zipped — no shuffle); counts shuffle once on the bigram, the
    // conditional probabilities join back on the bigram key (vocabulary²
    // upper bound — AQE picks broadcast vs shuffle join by actual size),
    // and the per-document reduction is an exact integer micro-nat sum.
    // Documents with fewer than two tokens have no bigrams and drop out.
    // Simple Good-Turing ADJUSTED COUNTS over the bigram frequency
    // spectrum: r* = (r+1)·N_{r+1}/N_r in integer micro-units — the
    // smoothing estimate whose r=1 row is the Good-Turing unseen-mass
    // probe (bigrams, not unigrams: the synthetic corpus has no unigram
    // singletons, and GT is about the rare-count region). Spectrum-sized
    // output after two map-side-combined counts + one self-join on r+1.
    "lm4_good_turing" -> { (s, dir) =>
      val toks = split(TextAnalysis.normalizeText(col("text")), " ")
      val bigrams = Tables.spread(Tables.documents(s, dir))
        .select(explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      val cnt = bigrams.groupBy("bg").agg(count(lit(1)).as("r"))
      val nr = cnt.groupBy("r").agg(count(lit(1)).as("n_r"))
      val next = nr.select((col("r") - 1).as("r2"), col("n_r").as("n_r1"))
      nr.join(next, col("r") === col("r2"), "left")
        .select(col("r"), col("n_r"),
          coalesce(expr("(r + 1) * n_r1 * 1000000 div n_r"), lit(0L))
            .as("r_star_micro"))
    },

    // LM10 (beyond reference): WITTEN–BELL smoothed bigram surprisal —
    // the fourth smoothing family next to lm3/lm9 (Kneser–Ney), lm7
    // (Jelinek–Mercer) and lm4 (Good–Turing): the interpolation weight
    // is DATA-DERIVED per history (λ_h = T(h)/(c(h)+T(h)), T = distinct
    // successors — histories that branch widely trust their unigram
    // fallback more), not a global constant like lm7's. The smoothed
    // probability is an exact rational ((c·N + T·c_u)/(N·(c_h+T))), so
    // one ln per bigram TYPE feeds micro-nat integers and the per-doc
    // sum is order-free. Same type-grain scoring shape as lm2: counts
    // at bigram-type grain, one token-keyed join back.
    "lm10_witten_bell" -> { (s, dir) =>
      val toksCol = split(TextAnalysis.normalizeText(col("text")), " ")
      // GRAIN (round-14 audit): the tokenized corpus is corpus-bytes
      // (the token array IS the text) — its round-13 pin is size-gated:
      // below the gate it feeds the bigram AND unigram explodes from one
      // materialization; above it each explode re-tokenizes (scan-
      // parallel) instead of writing corpus bytes through the block
      // manager. The type-grain count table stays unconditionally
      // pinned — it feeds the context rollup AND the probability join.
      val base = Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
        toksCol.as("toks"))
        .transform(graft.operators.GlobalRank.pinnedIfSmall)
      val bigrams = base.select(col("doc_id"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"),
          col("bg.w2").as("w2"))
      val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .transform(graft.operators.GlobalRank.pinned)
      val ctx = counts.groupBy("w1").agg(sum(col("c")).as("cctx"),
        count(lit(1)).as("t"))
      val uni = base.select(explode(col("toks")).as("w2"))
        .filter(length(col("w2")) > 0)
        .groupBy("w2").agg(count(lit(1)).as("cu"))
      val nTok = uni.agg(sum(col("cu")).as("ntok"))
      val probs = counts.join(ctx, "w1").join(uni, "w2")
        .crossJoin(broadcast(nTok))
        .select(col("w1"), col("w2"),
          floor(log((col("c").cast(d38) * col("ntok").cast(d38) +
            col("t").cast(d38) * col("cu").cast(d38)).cast("double") /
            (col("ntok").cast(d38) *
              (col("cctx") + col("t")).cast(d38)).cast("double")) *
            lit(1e6)).cast("bigint").as("micro_nats"))
      bigrams.join(probs, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("micro_nats")).as("wb_micro_nats"))
    },

    "lm2_bigram_surprisal" -> { (s, dir) =>
      docSurprisal(s, dir)
        .select(col("doc_id"), col("n_bigrams"), col("sum_micro_nats"),
          (-col("sum_micro_nats").cast("double") / lit(1e6) /
            col("n_bigrams").cast("double")).as("mean_surprisal_nats"))
    },

    // CCNet-style perplexity partition: each document scored by its own
    // corpus bigram LM (lm2's engine-exact micro-nat sum), then split per
    // LANGUAGE into head/middle/tail tertiles of mean surprisal — the
    // quality gate CCNet applies before anything else touches a crawl
    // (head = fluent text the LM predicts well, tail = noise). The bucket
    // uses the closed form ((rn−1)·3) div n + 1 on an integer-exact order
    // key (micro-nat sum div bigram count — truncating div in both
    // engines), so bucket edges never ride a float comparison. The
    // per-lang window parallelizes by language; a corpus whose single
    // language dominates would use GlobalRank's two-pass layout instead
    // (e17/e18 show both shapes).
    // Cross-domain perplexity matrix — corpus cartography: a bigram LM
    // per SOURCE, every source's text scored under every other source's
    // LM (the diagonal is the self-fit baseline). Two domains that score
    // each other well are stylistic neighbors — the similarity map that
    // drives mixing/curriculum decisions. Scoring happens at TYPE grain:
    // per-source bigram counts join the LM table on (w1, w2) and weight
    // by occurrence count, so the cross fan-out is |bigram types| × the
    // sources sharing the type — never occurrences × sources. OOV
    // bigrams drop per LM (inner join) and n_scored keeps the
    // denominator honest; micro-nat quantization before the weighted
    // integer sum keeps the matrix engine-exact.
    "lm6_domain_xppl" -> { (s, dir) =>
      val toks = split(TextAnalysis.normalizeText(col("text")), " ")
      val bigrams = Tables.spread(Tables.documents(s, dir))
        .select(col("source"), toks.as("toks"))
        .select(col("source"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val counts = bigrams.groupBy("source", "w1", "w2")
        .agg(count(lit(1)).as("c"))
        // pinned: the type-grain count table feeds the context rollup,
        // the LM join, and the scoring join (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val ctx = counts.groupBy("source", "w1").agg(sum(col("c")).as("cctx"))
      val lm = counts.join(ctx, Seq("source", "w1"))
        .select(col("source").as("lm_source"), col("w1"), col("w2"),
          floor(log(col("c").cast("double") / col("cctx").cast("double"))
            * lit(1e6)).cast("bigint").as("micro"))
      counts.join(lm, Seq("w1", "w2"))
        .groupBy(col("source").as("doc_source"), col("lm_source"))
        .agg(sum(col("c")).as("n_scored"),
          sum(col("c") * col("micro")).as("sum_micro"))
        .select(col("doc_source"), col("lm_source"), col("n_scored"),
          (-col("sum_micro").cast("double") / lit(1e6) /
            col("n_scored").cast("double")).as("mean_surprisal"))
    },

    // LM8 (beyond reference): CHARACTER-trigram LM cross-entropy per
    // language — the gibberish/encoding-noise detector that works where
    // token LMs can't (no tokenizer assumption; OCR garbage and
    // mojibake light up immediately). Corpus char-trigram MLE
    // p(tri) = c(tri)/c(prefix-bigram), micro-nat quantized at TYPE
    // grain, re-weighted by per-language type counts — lm6/lm7's shape
    // one level down. The trigram explode is n_chars per row; the
    // shuffles are trigram-vocabulary-grain.
    "lm8_char_trigram" -> { (s, dir) =>
      val t = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
      // ROW form (the dd12/dd15 lesson): materialize the normalized text
      // as a column BELOW the explode so the regex runs O(1) per
      // document — the array-HOF form re-ran it per POSITION (measured
      // 3.8 s → 1.3 s at sf0.1)
      val tris = Tables.spread(Tables.documents(s, dir))
        .select(col("lang"), expr(t).as("t"))
        .filter(length(col("t")) >= 3)
        .select(col("lang"), col("t"),
          explode(sequence(lit(1), length(col("t")) - 2)).as("i"))
        .selectExpr("lang", "substr(t, i, 3) AS tri")
      val perLang = tris.groupBy("lang", "tri").agg(count(lit(1)).as("c"))
        .transform(graft.operators.GlobalRank.pinned) // type-grain; feeds c3 AND the scoring join
      val c3 = perLang.groupBy("tri").agg(sum(col("c")).as("c3"))
        .withColumn("pre", expr("substr(tri, 1, 2)"))
        .transform(graft.operators.GlobalRank.pinned) // feeds the bigram rollup AND the LM join
      val c2 = c3.groupBy("pre").agg(sum(col("c3")).as("c2"))
      val lm = c3.join(c2, "pre")
        .select(col("tri"),
          floor(log(col("c3").cast("double") / col("c2").cast("double"))
            * lit(1e6)).cast("bigint").as("micro"))
      perLang.join(lm, "tri")
        .groupBy("lang")
        .agg(sum(col("c")).as("n_trigrams"),
          sum(col("c") * col("micro")).as("sum_micro"))
        .select(col("lang"), col("n_trigrams"),
          (-col("sum_micro").cast("double") / lit(1e6) /
            col("n_trigrams").cast("double")).as("mean_surprisal"))
    },

    // LM7 (beyond reference): JELINEK-MERCER interpolated bigram LM —
    // lm3's Kneser-Ney is the high end; JM (λ=0.5 linear mix of the
    // bigram MLE and the corpus unigram) is the cheap smoother every LM
    // scoring stack starts from, and unlike the raw MLE (lm2) it assigns
    // finite surprisal to bigrams whose CONTEXT is rare. Scoring stays at
    // TYPE grain (per-source bigram-type counts join the smoothed LM
    // table and weight by occurrence count — lm6's shape); the
    // interpolated probability is one fixed IEEE tree over four exact
    // integers, micro-nat-quantized before the weighted integer sum, so
    // the per-source cross-entropies are engine-exact. Shuffles: the
    // bigram-type rollup and the vocabulary rollup — both vocabulary-
    // grain, never corpus-grain.
    "lm7_jelinek_mercer" -> { (s, dir) =>
      val toks = split(TextAnalysis.normalizeText(col("text")), " ")
      // GRAIN (round-14 audit): tokenized corpus = corpus bytes — size-
      // gated pin (lm10's note). The per-source and corpus bigram-TYPE
      // count tables below stay unconditionally pinned (vocabulary
      // grain; they feed the corpus-count rollup AND the scoring join /
      // the context rollup AND the LM join).
      val base = Tables.spread(Tables.documents(s, dir))
        .select(col("source"), toks.as("toks"))
        .transform(graft.operators.GlobalRank.pinnedIfSmall)
      val bigrams = base.select(col("source"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val perSource = bigrams.groupBy("source", "w1", "w2")
        .agg(count(lit(1)).as("c"))
        .transform(graft.operators.GlobalRank.pinned)
      val counts = perSource.groupBy("w1", "w2").agg(sum(col("c")).as("c12"))
        .transform(graft.operators.GlobalRank.pinned)
      val ctx = counts.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val uni = base.select(explode(col("toks")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("c2"))
      val tot = uni.agg(sum(col("c2")).as("tt"))
      val lm = counts.join(ctx, "w1").join(uni, "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"),
          floor(log(lit(0.5) *
              (col("c12").cast("double") / col("c1").cast("double")) +
            lit(0.5) *
              (col("c2").cast("double") / col("tt").cast("double")))
            * lit(1e6)).cast("bigint").as("micro"))
      perSource.join(lm, Seq("w1", "w2"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_bigrams"),
          sum(col("c") * col("micro")).as("sum_micro"))
        .select(col("source"), col("n_bigrams"),
          (-col("sum_micro").cast("double") / lit(1e6) /
            col("n_bigrams").cast("double")).as("mean_surprisal"))
    },

    "lm5_ppl_buckets" -> { (s, dir) =>
      val scored = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"))
        .join(docSurprisal(s, dir), "doc_id")
        .withColumn("surprisal_micro",
          expr("(-sum_micro_nats) div n_bigrams"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("surprisal_micro"), col("doc_id"))
      val n = Window.partitionBy(col("lang"))
      scored
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(n))
        .select(col("doc_id"), col("lang"), col("surprisal_micro"),
          expr("((rn - 1) * 3) div n + 1").as("ppl_bucket"))
    },

    // Winnowing (MOSS) fingerprints: hash every 7-char gram of the
    // normalized text, keep the minimum hash of each 4-gram window, and
    // report document pairs sharing ≥ half the smaller side's selected
    // fingerprints — the
    // guaranteed-detection near-dup/plagiarism sketch (any shared run of
    // ≥ w+k−1 = 10 chars shares a fingerprint; character-level, so it
    // catches splice edits MinHash's word shingles smear out). Per doc the
    // gram hashing and window minima run entirely inside codegen HOFs (no
    // explode until the bucket join); pair generation is a fingerprint-
    // bucket equi-join with a document-frequency cap — boilerplate
    // fingerprints shared by >50 docs are dropped (cf. FuzzyJoin's
    // maxGramDf), so the join fans out per-fingerprint, never all-pairs.
    "dd12_winnowing" -> { (s, dir) =>
      // Fingerprint selection lives in Dedup.winnowFingerprints (fused
      // per-row kernel; see its scaladoc). GRAIN (round-14 audit): fps
      // and kept are OCCURRENCE-grain — one row per selected fingerprint
      // / per kept candidate, bytes comparable to the corpus — so their
      // r13 unconditional pins become size-gated (pinnedIfSmall): below
      // the gate (every local fixture) the round-13 single-execution
      // plan survives; at 100 TB the eager corpus-scale checkpoint
      // is skipped and the identically-keyed downstream exchanges share
      // the pipeline via ReusedExchange instead.
      val fps = graft.operators.GlobalRank.pinnedIfSmall(
        Dedup.winnowFingerprints(Tables.spread(Tables.documents(s, dir))))
      val perDoc = fps.join(
        fps.groupBy("doc_id").agg(count(lit(1)).as("nfp")), "doc_id")
      val keep = perDoc.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select("fp")
      val kept = graft.operators.GlobalRank.pinnedIfSmall(
        perDoc.join(keep, "fp"))
      kept.select(col("fp"), col("doc_id").as("id_a"),
          col("nfp").as("nfp_a"))
        .join(kept.select(col("fp"), col("doc_id").as("id_b"),
          col("nfp").as("nfp_b")), "fp")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b", "nfp_a", "nfp_b")
        .agg(count(lit(1)).as("n_shared"))
        .select(col("id_a"), col("id_b"), col("n_shared"),
          (col("n_shared").cast("double") /
            least(col("nfp_a"), col("nfp_b")).cast("double")).as("overlap"))
        // ≥ half the smaller doc's fingerprints shared: on this corpus the
        // background (common-phrase) overlap sits at ~0.07 and true
        // near-dups at ≥ 0.5 — the same containment bar dd10 uses.
        .filter(col("overlap") >= 0.5)
    },

    // Dedup-strategy IMPACT report — the question a curation owner
    // actually asks before turning a dedup stage on: how many documents
    // and tokens does each strategy cost? Three corpora side by side:
    // untouched, exact-fingerprint dedup (keep the lowest id per
    // normalized-text md5), and winnowing near-dup dedup (dd12's ≥0.5
    // containment pairs → ccStar components → keep each component's
    // minimum + all singletons). Every stage reuses the audited
    // operators (exactDedup, winnowFingerprints, ccStar); the oracle
    // replays the winnow closure as a recursive CTE. Costs: the winnow
    // pair pipeline plus one O(log n)-round contraction on a pairs-sized
    // edge set — nothing rescans text.
    "pipe2_dedup_impact" -> { (s, dir) =>
      import graft.operators.Graph
      val docs = Tables.spread(Tables.documents(s, dir))
      // toks stays pinned: a doc-grain TWO-column frame (id, token
      // count — ~16 B/doc, ~1e-4 of corpus bytes at 100 TB) consumed by
      // all three strategy stats; un-pinned, the tokenize regex runs 3×
      // over the corpus. The r13 fps/kept pins are dropped (dd12's
      // corpus-row-grain reasoning; ReusedExchange shares the winnow
      // pipeline between the re-embedded consumers).
      val toks = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
        .transform(graft.operators.GlobalRank.pinned)
      val exactKept = Dedup.exactDedup(docs)
        .select(col("keep_id").as("doc_id"))
      val fps = graft.operators.GlobalRank.pinnedIfSmall(
        Dedup.winnowFingerprints(docs))
      val perDoc = fps.join(
        fps.groupBy("doc_id").agg(count(lit(1)).as("nfp")), "doc_id")
      val hot = perDoc.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select("fp")
      val kept = graft.operators.GlobalRank.pinnedIfSmall(
        perDoc.join(hot, "fp"))
      val pairs = kept.select(col("fp"), col("doc_id").as("id_a"),
          col("nfp").as("nfp_a"))
        .join(kept.select(col("fp"), col("doc_id").as("id_b"),
          col("nfp").as("nfp_b")), "fp")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b", "nfp_a", "nfp_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared").cast("double") /
          least(col("nfp_a"), col("nfp_b")).cast("double") >= 0.5)
      val comp = Graph.ccStar(
        pairs.select(col("id_a").as("u"), col("id_b").as("v")))
      val winnowKept = docs.select("doc_id")
        .join(comp, docs("doc_id") === comp("node"), "left")
        .filter(col("component").isNull ||
          col("component") === col("doc_id"))
        .select("doc_id")
      def stat(keptIds: DataFrame, name: String): DataFrame =
        keptIds.join(toks, "doc_id")
          .agg(count(lit(1)).as("docs_kept"),
            sum(col("nt")).as("tokens_kept"))
          .select(lit(name).as("strategy"), col("docs_kept"),
            col("tokens_kept"))
      toks.agg(count(lit(1)).as("docs_kept"),
          sum(col("nt")).as("tokens_kept"))
        .select(lit("0_none").as("strategy"), col("docs_kept"),
          col("tokens_kept"))
        .unionByName(stat(exactKept, "1_exact"))
        .unionByName(stat(winnowKept, "2_winnow"))
    },

    // Source-concentration Gini over token mass — "how much of the
    // corpus comes from how few sources": the inequality number a
    // datasheet (tx11) headline needs next to the per-source rows, and
    // the trigger for mix3's rebalancing. Exact closed form on sorted
    // ranks, G = (2·Σ rᵢxᵢ − (n+1)·Σx) / (n·Σx), with the rank from
    // GlobalRank's two-pass layout (sources here, but the same query
    // audits million-key contributor tables) and every numerator an
    // exact integer.
    "tx22_source_gini" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val n = Tables.spread(Tables.documents(s, dir)).select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("bigint").as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("x"))
      val ranked = GlobalRank.withGlobalRowNumber(n,
        Seq(col("x"), col("source")), "rn")
      ranked.agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total"),
          sum(col("rn") * col("x")).as("rx"))
        .select(col("n_sources"), col("total"),
          (lit(2L) * col("rx") - (col("n_sources") + 1) * col("total"))
            .as("gini_num"),
          ((lit(2L) * col("rx") -
            (col("n_sources") + 1) * col("total")).cast("double") /
            (col("n_sources") * col("total")).cast("double")).as("gini"))
    },

    // Zipf-law fit of the corpus token-frequency spectrum: OLS of
    // ln(freq) on ln(rank) — the one-line sanity check that a crawl's
    // unigram distribution looks like natural language (exponent ≈ −1)
    // rather than template spam (flat head) or boilerplate (cliff). Each
    // ln is quantized to integer micro-nats BEFORE summation (the
    // Retrieval idiom: libm vs JVM may differ by 1 ulp; integer sums are
    // order-free and engine-exact), the five sufficient statistics
    // accumulate in decimal(38,0) (ANSI-safe at any vocabulary size), and
    // slope/intercept are one fixed IEEE tree over those exact integers.
    // Ranking uses GlobalRank's two-pass layout, not a one-task global
    // window — vocabulary can be 10⁸ types at corpus scale.
    "tx20_zipf_fit" -> { (s, dir) =>
      import graft.operators.GlobalRank
      import org.apache.spark.sql.types.DecimalType
      val freq = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")),
          " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val ranked = GlobalRank.withGlobalRowNumber(freq,
        Seq(-col("c"), col("tok")), "rn")
      val q = ranked.select(
        floor(log(col("rn").cast("double")) * lit(1e6))
          .cast("bigint").as("x"),
        floor(log(col("c").cast("double")) * lit(1e6))
          .cast("bigint").as("y"))
      val st = q.agg(count(lit(1)).as("m"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
      val slope =
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
      st.select(col("m"), slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("m").cast("double")).as("intercept"))
    },

    // Interpolated Kneser-Ney bigram probabilities (discount d = 3/4) —
    // the smoothing every production n-gram LM uses: raw conditional
    // probability underestimates unseen continuations, KN discounts each
    // observed bigram by d and redistributes the held-out mass through
    // the CONTINUATION probability (how many distinct contexts a word
    // follows — "Francisco" is frequent but only ever follows "San").
    // Everything is exact integer arithmetic in quarters (4c−3 = 4(c−¾))
    // and micro-units, with the division order pinned identically in
    // both engines, so the smoothed table is bit-reproducible. Plan
    // shape: one bigram-key count shuffle, two group-bys over the COUNTS
    // table (type cardinality, not token volume), one broadcast scalar.
    // LM9 (beyond reference): KNESER–NEY DISCOUNT estimation — lm3
    // applies a fixed D=0.5; the principled value is estimated from
    // the corpus itself via the count-of-counts identity
    // D = n₁/(n₁ + 2n₂) (Chen & Goodman 1999), where n_r = #grams seen
    // exactly r times. Reported for unigrams and bigrams: two
    // vocab-grain rollups into a 2-row table, exact integer micro.
    // The singleton/doubleton masses also feed Good–Turing (lm4) —
    // this query is the estimation half both smoothers share.
    "lm9_kn_discount" -> { (s, dir) =>
      val toks = split(TextAnalysis.normalizeText(col("text")), " ")
      // GRAIN (round-14 audit): tokenized corpus = corpus bytes — size-
      // gated like lm7/lm10's bases; feeds the unigram AND bigram explodes
      val base = Tables.spread(Tables.documents(s, dir)).select(toks.as("toks"))
        .transform(graft.operators.GlobalRank.pinnedIfSmall)
      val uni = base
        .select(explode(col("toks")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(lit(1L).as("gram_order"), col("n1"), col("n2"))
      val bi = base
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .filter(length(col("bg.w1")) > 0 && length(col("bg.w2")) > 0)
        .groupBy(col("bg.w1"), col("bg.w2")).agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(lit(2L).as("gram_order"), col("n1"), col("n2"))
      uni.unionByName(bi)
        .select(col("gram_order"), col("n1"), col("n2"),
          when(col("n1") + col("n2") * 2 > 0,
            expr("n1 * 1000000 div (n1 + 2 * n2)")).as("d_micro"))
    },

    "lm3_kneser_ney" -> { (s, dir) =>
      val toks = split(TextAnalysis.normalizeText(col("text")), " ")
      val bigrams = Tables.spread(Tables.documents(s, dir))
        .select(toks.as("toks"))
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val counts = bigrams.groupBy("w1", "w2")
        .agg(count(lit(1)).as("c12"))
        // pinned: the type-grain count table feeds the context rollup,
        // the continuation rollup, the total, and the KN join
        .transform(graft.operators.GlobalRank.pinned)
      val ctx = counts.groupBy("w1")
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fanout"))
      val cont = counts.groupBy("w2").agg(count(lit(1)).as("precede"))
      val t = counts.agg(count(lit(1)).as("t"))
      counts.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(t))
        .select(col("w1"), col("w2"), col("c12"),
          expr("""((4 * c12 - 3) * 1000000) div (4 * c1)
                 + (3 * fanout * ((precede * 1000000) div t)) div (4 * c1)""")
            .as("p_kn_micro"))
    },

    // BPE tokenizer training, step statistic: adjacent-symbol pair counts
    // over the word-frequency table — the argmax of this table IS the
    // next merge rule. Family prefix `bpc` (BPE, Char-sentinel replace
    // style) — renamed from bpe1-bpe3 in round 13 (directive 4) so the
    // prefix no longer collides with TrainerQueries' window-algebra
    // bpe1-bpe4 family; semantics unchanged, floors carried over. Counting runs on the VOCABULARY (word types ×
    // their frequency), not the token stream: the corpus is scanned
    // once for word counts and every later BPE iteration is
    // vocabulary-sized — the standard trick that makes tokenizer
    // training feasible at 100 TB. Pair enumeration is a codegen
    // transform over character positions; one (c1, c2) shuffle of
    // map-side-combined partials.
    "bpc1_merge_pairs" -> { (s, dir) =>
      val wf = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("f"))
      wf.select(col("f"), explode(expr(
          """transform(sequence(1, length(w) - 1),
            |  i -> struct(substring(w, i, 1) as c1,
            |              substring(w, i + 1, 1) as c2))""".stripMargin))
          .as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .agg(sum(col("f")).as("cnt"))
    },

    // BPE step 2: APPLY the argmax merge rule and recount — one full
    // train-loop iteration, end to end. `replace` is left-to-right
    // non-overlapping in both engines, which is exactly BPE's greedy
    // merge application; the merged digraph travels as a sentinel char
    // (U+001F, absent from the corpus) so pair enumeration stays
    // char-positional, and is mapped back to its digraph on output.
    // The merge rule is data-derived (argmax with a deterministic
    // tiebreak), never hard-coded, so the query is scale-invariant.
    "bpc2_apply_merge" -> { (s, dir) =>
      val wf = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("f"))
        .transform(graft.operators.GlobalRank.pinned)
      val top = wf.select(col("f"), explode(expr(
          """transform(sequence(1, length(w) - 1),
            |  i -> struct(substring(w, i, 1) as c1,
            |              substring(w, i + 1, 1) as c2))""".stripMargin))
          .as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("c1"), col("c2")).limit(1)
        .select(col("c1").as("m1"), col("c2").as("m2"))
      val merged = wf.crossJoin(broadcast(top))
        .select(col("f"), col("m1"), col("m2"),
          expr("replace(w, concat(m1, m2), chr(31))").as("w"))
        .filter(length(col("w")) >= 2)
      merged.select(col("f"), col("m1"), col("m2"), explode(expr(
          """transform(sequence(1, length(w) - 1),
            |  i -> struct(substring(w, i, 1) as a,
            |              substring(w, i + 1, 1) as b))""".stripMargin))
          .as("p"))
        .select(col("f"),
          when(col("p.a") === expr("chr(31)"), concat(col("m1"), col("m2")))
            .otherwise(col("p.a")).as("s1"),
          when(col("p.b") === expr("chr(31)"), concat(col("m1"), col("m2")))
            .otherwise(col("p.b")).as("s2"))
        .groupBy("s1", "s2").agg(sum(col("f")).as("cnt"))
    },

    // BPE step 3: the TRAINING LOOP — three argmax-merge iterations end
    // to end (bpc2 runs one), each merge's pair drawn from the corpus at
    // that iteration, never hard-coded. Merge i travels as sentinel
    // chr(32−i) (U+001F/1E/1D, absent from the corpus); a rule's symbols
    // may themselves be earlier sentinels, so the output pieces expand
    // through the chained reverse-order replaces (later sentinels first —
    // an expansion can only introduce EARLIER sentinels, which the
    // remaining replaces resolve). Per iteration: one pair-count shuffle
    // over the word-frequency table (type grain, not token grain) and a
    // broadcast of the single argmax row — the exact shape a distributed
    // BPE trainer keeps for its thousands of merges.
    "bpc3_train_merges" -> { (s, dir) =>
      def argmaxPair(wf: DataFrame, i: Int): DataFrame =
        wf.select(col("f"), explode(expr(
            """transform(sequence(1, length(w) - 1),
              |  i -> struct(substring(w, i, 1) as c1,
              |              substring(w, i + 1, 1) as c2))""".stripMargin))
            .as("p"))
          .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
          .agg(sum(col("f")).as("cnt"))
          .orderBy(col("cnt").desc, col("c1"), col("c2")).limit(1)
          .select(col("c1").as(s"m$i"), col("c2").as(s"n$i"),
            col("cnt").as(s"cnt$i"))
      var wf = Tables.spread(Tables.documents(s, dir))
        .select(explode(split(TextAnalysis.normalizeText(col("text")),
          " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("f"))
        .transform(graft.operators.GlobalRank.pinned)
      var rules: DataFrame = null
      (1 to 3).foreach { i =>
        val top = argmaxPair(wf, i).transform(graft.operators.GlobalRank.pinned)
        rules = if (rules == null) top else rules.crossJoin(broadcast(top))
        // the last round's rewritten table has no reader: build it only
        // for the rounds that feed a next argmax
        if (i < 3) wf = wf.crossJoin(broadcast(top))
          .withColumn("w",
            expr(s"replace(w, concat(m$i, n$i), chr(${32 - i}))"))
          .filter(length(col("w")) >= 2)
          .select("w", "f").transform(graft.operators.GlobalRank.pinned)
      }
      val piece1 = expr("concat(m1, n1)")
      val piece2 =
        expr("replace(concat(m2, n2), chr(31), concat(m1, n1))")
      val piece3 = expr(
        """replace(replace(concat(m3, n3),
          |  chr(30), concat(m2, n2)),
          |  chr(31), concat(m1, n1))""".stripMargin)
      rules.select(explode(array(
          struct(lit(1L).as("iter"), piece1.as("piece"),
            col("cnt1").as("cnt")),
          struct(lit(2L).as("iter"), piece2.as("piece"),
            col("cnt2").as("cnt")),
          struct(lit(3L).as("iter"), piece3.as("piece"),
            col("cnt3").as("cnt")))).as("r"))
        .select(col("r.iter").as("iter"), col("r.piece").as("piece"),
          col("r.cnt").as("cnt"))
    },

    // Character-level Shannon entropy per document (gibberish / encoded-
    // blob detector: natural language sits in a narrow entropy band).
    // Explode to (doc, char) → map-side-combined count → per-doc exact
    // integer micro-nat sum; the alphabet is tiny so the count shuffle
    // carries ≤ |alphabet| rows per document.
    "tx13_char_entropy" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).cast("bigint").as("dl"),
          explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
      d.groupBy("doc_id", "dl", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "dl")
        .agg(sum(col("c") * floor(log(col("c").cast("double") /
          col("dl").cast("double")) * lit(1e6)).cast("bigint"))
          .as("sum_micro"))
        .select(col("doc_id"),
          (-col("sum_micro").cast("double") / lit(1e6) /
            col("dl").cast("double")).as("entropy_nats"))
    },

    // Concat-and-chunk sequence packing plan: 512-token sequences per
    // language stream, documents laid down in doc_id order.
    // PK9 (beyond reference): ATTENTION-CONTAMINATION of the pk1
    // concat-and-chunk layout — the other half of the packing
    // trade-off pk3/pk8 price in padding: a 512-token sequence built
    // from several documents lets tokens attend ACROSS document
    // boundaries (full block attention), and the contaminated share of
    // attention pairs is 1 − Σ seg² / L² per sequence. Segments come
    // from exploding each document's span across the sequences it
    // crosses (pure integer interval arithmetic off pk1's running
    // offsets); the rollup is sequence-grain. The report that decides
    // whether the loader needs per-document attention masks.
    "pk9_attention_contamination" -> { (s, dir) =>
      val seqLen = 512L
      val packed = Packing.packSequences(
        Tables.spread(Tables.documents(s, dir)).select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        streamCol = col("lang"), orderCol = col("doc_id"),
        tokensCol = col("n_tokens"), seqLen = seqLen.toInt)
        .filter(col("n_tokens") > 0)
        .withColumn("doc_end", col("token_offset") + col("n_tokens"))
      val segs = packed
        .withColumn("k", explode(sequence(col("seq_idx"),
          expr(s"(doc_end - 1) div $seqLen"))))
        .select(col("lang"), col("k"),
          (least(col("doc_end"), (col("k") + 1) * seqLen) -
            greatest(col("token_offset"), col("k") * seqLen)).as("seg"))
      segs.groupBy("lang", "k")
        .agg(count(lit(1)).as("n_segments"), sum(col("seg")).as("l"),
          sum(col("seg").cast(d38) * col("seg").cast(d38)).as("sumsq"))
        .select(col("lang"), col("k").as("seq_idx"), col("n_segments"),
          col("l").as("seq_tokens"),
          expr("""cast((cast(l as decimal(38,0)) * l - sumsq) * 1000000
                 |  div (cast(l as decimal(38,0)) * l) as bigint)"""
            .stripMargin.replace("\n", " "))
            .as("contamination_micro"))
    },

    "pk1_sequence_pack" -> { (s, dir) =>
      val withTokens = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.packSequences(withTokens, streamCol = col("lang"),
        orderCol = col("doc_id"), tokensCol = col("n_tokens"), seqLen = 512)
    },

    // Strided sliding-window chunk plan: 256-token chunks, stride 192
    // (64-token overlap) within each document — the long-document
    // treatment for retrieval indexing / pretraining context windows.
    "pk2_overlap_chunks" -> { (s, dir) =>
      val withTokens = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.overlapChunks(withTokens, tokensCol = col("n_tokens"),
        size = 256, stride = 192)
    },

    // Inference-side batching plan: docs grouped into power-of-two
    // length buckets (the bucketed-batching trick that replaces
    // pad-to-global-max), with the padding cost of batching at the
    // bucket boundary vs at the global max — the report that justifies
    // length-bucketed serving/eval loaders. The bucket is integer-exact:
    // next-pow2(n) = 1 << len(bin(n−1)) (no float log2 whose edge
    // rounding could differ across engines); the global max rides a
    // broadcast-scalar window over the bucket-grain rollup.
    "pk4_length_buckets" -> { (s, dir) =>
      val t = Tables.spread(Tables.documents(s, dir)).select(
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .filter(col("n") > 0)
      val bucketed = t.withColumn("bucket",
        when(col("n") === 1, lit(1L)).otherwise(
          expr("shiftleft(1L, length(bin(n - 1)))")))
      val rolled = bucketed.groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_toks"),
          max(col("n")).as("max_toks"))
      val all = Window.partitionBy()
      rolled
        .withColumn("global_max", max(col("max_toks")).over(all))
        .select(col("bucket"), col("n_docs"), col("sum_toks"),
          (col("n_docs") * col("bucket") - col("sum_toks"))
            .as("pad_bucketed"),
          (col("n_docs") * col("global_max") - col("sum_toks"))
            .as("pad_global"))
    },

    // Packing efficiency report: per-stream padding waste of pad-per-doc
    // vs concat-and-chunk at seqLen=512 — the numbers that justify pk1.
    // Pure integer arithmetic end to end.
    // PK8 (beyond reference): ATTENTION-FLOPs packing diagnostic —
    // pk3 prices padding in TOKENS, but transformer attention is
    // quadratic, so the right cost unit is Σ len². Per 128-token
    // length bucket: sequence count, token mass, each bucket's share
    // of total attention FLOPs, and the quadratic overhead of padding
    // every sequence to its bucket ceiling (n·max² vs Σ len²) — the
    // table that decides bucketed-batching boundaries. Exact decimal
    // squares, integer micro shares.
    "pk8_attention_cost" -> { (s, dir) =>
      val t = Tables.spread(Tables.documents(s, dir))
        .select(TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n"))
        .filter(col("n") > 0)
        .withColumn("bucket", least(expr("n div 128"), lit(7L)))
      // pad target = the bucket's LONGEST sequence (not a fixed
      // ceiling: the overflow bucket has no ceiling, and padsq must
      // dominate sumsq so the overhead share stays in [0, 1))
      val per = t.groupBy("bucket").agg(
        count(lit(1)).as("n_seqs"), sum(col("n")).as("sum_tokens"),
        max(col("n")).as("mx"),
        sum(col("n").cast(d38) * col("n").cast(d38)).as("sumsq"))
      val tot = per.agg(sum(col("sumsq")).as("tot_sq"))
      per.crossJoin(broadcast(tot))
        .withColumn("padsq",
          col("n_seqs").cast(d38) *
            (col("mx").cast(d38) * col("mx").cast(d38)))
        .select(col("bucket"), col("n_seqs"), col("sum_tokens"),
          expr("cast(sumsq * 1000000 div tot_sq as bigint)")
            .as("flops_share_micro"),
          expr("cast((padsq - sumsq) * 1000000 div padsq as bigint)")
            .as("pad_overhead_micro"))
    },

    "pk3_padding_waste" -> { (s, dir) =>
      val t = Tables.spread(Tables.documents(s, dir)).select(col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      t.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          sum(expr("(n + 511) div 512") * 512L - col("n")).as("pad_naive"))
        .withColumn("pad_packed",
          expr("(total_tokens + 511) div 512") * 512L - col("total_tokens"))
    },

    // Apply the dedup verdict: materialize the kept corpus — cluster
    // representatives (lowest id) plus documents with no near-dup at
    // all. One left join of the corpus against the (duplicates-sized)
    // cluster map; the curation step dd2/dd4 exist to feed.
    "dd6_dedup_apply" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val clusters = Dedup.connectedComponents(
        Dedup.minhashDedup(docs, threshold = 0.5).select("id_a", "id_b"))
      docs.select("doc_id").join(clusters, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"))
        .select(col("doc_id"),
          coalesce(col("cluster_id") === col("doc_id"), lit(false))
            .as("is_representative"))
    },

    // TX24 (beyond reference): pairwise Jensen–Shannon divergence matrix
    // between source unigram distributions — the "which sources are
    // lexically redundant / which are outliers" readout that complements
    // tx11's per-source datasheet and drives mix1-style re-weighting.
    // JSD(a,b) = ½KL(p‖m)+½KL(q‖m) with m the midpoint: each KL term is
    // cnt·ln(2·cnt_a·N_b / (cnt_a·N_b + cnt_b·N_a)) — the log argument
    // is a ratio of exact integer products (kept < 2^53, so the double
    // division is exact-input), floor-quantized to micro-nats and
    // weighted by the exact count, making each side's sum an order-free
    // integer; the final division happens once per pair. Work is
    // vocab-bounded: one (source × token) count shuffle, the |src|²
    // pair table broadcasts against it, and tokens missing from one side
    // surface via a left join (ratio exactly 2 → ln 2), never a full
    // cross product.
    "tx24_source_jsd" -> { (s, dir) =>
      val tc = Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("source", "token").agg(count(lit(1)).as("n"))
        // pinned: the (source, token) type table feeds the totals and
        // BOTH KL directions (5 references un-pinned; round-13 rule)
        .transform(graft.operators.GlobalRank.pinned)
      val tot = tc.groupBy("source").agg(sum(col("n")).as("nt"))
      val pairs = tot.select(col("source").as("src_a"), col("nt").as("n_a"))
        .join(tot.select(col("source").as("src_b"), col("nt").as("n_b")),
          col("src_a") < col("src_b"))
      // one side's weighted micro-nat KL sum (roles swappable)
      def klSum(aSrc: String, bSrc: String, aN: String, bN: String,
                out: String): DataFrame =
        tc.select(col("source").as(aSrc), col("token"),
            col("n").as("cnt_a"))
          .join(broadcast(pairs), Seq(aSrc))
          .join(tc.select(col("source").as(bSrc), col("token"),
            col("n").as("cnt_b")), Seq(bSrc, "token"), "left")
          .na.fill(0L, Seq("cnt_b"))
          .select(col("src_a"), col("src_b"),
            (col("cnt_a") * floor(log(
              (lit(2.0) * (col("cnt_a") * col(bN)).cast("double")) /
                (col("cnt_a") * col(bN) + col("cnt_b") * col(aN))
                  .cast("double")) * lit(1e6)).cast("bigint")).as("term"))
          .groupBy("src_a", "src_b").agg(sum(col("term")).as(out))
      val sa = klSum("src_a", "src_b", "n_a", "n_b", "s_a")
      val sb = klSum("src_b", "src_a", "n_b", "n_a", "s_b")
      sa.join(sb, Seq("src_a", "src_b"))
        .join(broadcast(pairs), Seq("src_a", "src_b"))
        .select(col("src_a"), col("src_b"),
          expr("((s_a div n_a) + (s_b div n_b)) div 2").as("jsd_micro"))
    },

    // TX25 (beyond reference): per-source PARETO SKYLINE of documents on
    // (length, lexical diversity) — the non-dominated set no weighting of
    // the two criteria can beat, the principled shortlist when "keep the
    // long AND diverse docs" has no agreed trade-off. 2-D skyline via the
    // sort-scan identity: order by x desc, then a point is non-dominated
    // iff its y exceeds the running max of all preceding y — one window
    // per source (range-partitioned by the grouping key, never a global
    // single-reducer sort; an ungrouped skyline would run the same scan
    // per range partition and merge, since skyline is distributive).
    // Duplicate (x,y) points keep one representative (lowest doc_id) —
    // the sort makes that convention engine-identical. Both features are
    // single-pass array expressions on the row, no token shuffle.
    "tx25_pareto_skyline" -> { (s, dir) =>
      val toks = filter(split(TextAnalysis.normalizeText(col("text")), " "),
        t => length(t) > 0)
      val st = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("n_chars").as("x"),
          size(toks).as("n_toks"),
          size(array_distinct(toks)).as("n_types"))
        .filter(col("n_toks") > 0)
        .select(col("doc_id"), col("source"), col("x"),
          expr("(cast(n_types as bigint) * 1000000) div n_toks").as("y"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("x").desc, col("y").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      st.withColumn("prev_max", max(col("y")).over(w))
        .filter(col("prev_max").isNull || col("y") > col("prev_max"))
        .select(col("source"), col("doc_id"), col("x"), col("y"))
    },

    // SIM14 (beyond reference): HARD-NEGATIVE mining for contrastive
    // training — for each query embedding, the top-5 most-similar
    // vectors carrying a DIFFERENT label (the negatives that actually
    // move an embedding model; random negatives are trivially separable).
    // sim1's exact integer-quantized cosine kernel with the label
    // inequality pushed below the top-k, so the heap never fills with
    // positives; scale path is the same as retrieval (IVF/PQ prune the
    // candidate set, the label filter rides along — sim3/sim9 machinery).
    "sim14_hard_negatives" -> { (s, dir) =>
      import graft.functions.VectorExpressions.dotL
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        col("label"),
        quantized(col("embedding")).as("qv"))
      val withNorm = quant.withColumn("nrm", dotL(col("qv"), col("qv")))
        .filter(col("nrm") > 0) // zero-norm: cosine undefined, excluded
      val q = broadcast(withNorm.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("qv").as("q_qv"), col("nrm").as("q_nrm")))
      val scored = withNorm.select(col("vec_id").as("corpus_id"),
          col("label").as("neg_label"), col("qv").as("c_qv"),
          col("nrm").as("c_nrm"))
        .crossJoin(q)
        .filter(col("neg_label") =!= col("q_label"))
        .select(col("query_id"), col("q_label"), col("corpus_id"),
          col("neg_label"),
          (dotL(col("q_qv"), col("c_qv")).cast("double") /
            (sqrt(col("q_nrm").cast("double")) *
              sqrt(col("c_nrm").cast("double")))).as("cos_sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("corpus_id").asc)
      scored.withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 5)
    },

    // PK5 (beyond reference): deterministic EPOCH SHUFFLE — the global
    // training-order generator: each epoch permutes the corpus by the
    // md5 of (doc_id, epoch) (seeded pseudo-randomness, the s1/jlSign
    // hash-gate contract — reproducible on any engine, no RNG state),
    // assigns the global ordinal with GlobalRank's two-pass
    // range-partitioned layout (never a single-reducer sort), and cuts
    // fixed-size shards off the ordinal. Re-running an epoch is
    // bit-identical — the property that makes training resumable — and
    // consecutive epochs decorrelate because the hash input changes.
    "pk5_epoch_shuffle" -> { (s, dir) =>
      import graft.operators.GlobalRank
      val docs = Tables.spread(Tables.documents(s, dir)).select("doc_id")
      Seq(0, 1).map { ep =>
        GlobalRank.withGlobalRowNumber(
          docs.withColumn("epoch", lit(ep.toLong))
            .withColumn("k",
              md5(concat_ws("_", col("doc_id"), lit(ep)))),
          Seq(col("k"), col("doc_id")), "ordinal")
      }.reduce(_ unionByName _)
        .select(col("epoch"), col("doc_id"), col("ordinal"),
          expr("(ordinal - 1) div 64").as("shard"))
    },

    // FE12 (beyond reference): the HASHING TRICK (Weinberger et al.) —
    // unbounded token vocabulary → fixed 128-dim signed feature vector
    // with NO dictionary state: bucket and sign both derive from the
    // 60-bit md5 prefix (the s1/jlSign seeded-hash contract), the signed
    // sum cancels collision bias in expectation. The featurizer every
    // streaming/out-of-core linear model uses when fe1's dict-encode
    // can't hold the vocabulary; stateless per token, so it's one
    // map-side-combined aggregate keyed (doc, bucket) — no vocabulary
    // shuffle, no OOV path, any corpus size.
    "fe12_hashed_features" -> { (s, dir) =>
      import graft.functions.HashExpressions.md5Prefix60
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
        .select(col("doc_id"),
          (md5Prefix60(concat(lit("fh:"), col("token"))) % 128)
            .as("bucket"),
          when(md5Prefix60(concat(lit("fs:"), col("token"))) % 2 === 0,
            1L).otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn")).as("feat_val"), count(lit(1)).as("n_toks"))
    },

    // S9 (beyond reference): deterministic BOOTSTRAP confidence interval
    // — "how stable is this corpus statistic under resampling?", the
    // error bar a datasheet should put on every mean. 50 m-out-of-n
    // replicates (80% each), every replicate membership a salted
    // md5 gate (the s1 contract — reproducible, no RNG state, and a
    // row's inclusion is decided WHERE THE ROW IS, so the fan-out is a
    // map-side explode, one shuffle at replicate grain). Replicate
    // means are exact integer micro-units; the 5th/95th percentile pick
    // is a rank on the 50-row replicate table (metadata grain — the
    // only unpartitioned window, bounded by B, never by data).
    "s9_bootstrap_ci" -> { (s, dir) =>
      import graft.functions.HashExpressions.md5Prefix60
      val reps = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(49))).as("rep"))
        .filter(md5Prefix60(concat(lit("bs"), col("rep"), lit(":"),
          col("doc_id"))) % 1000 < 800)
      val means = reps.groupBy("rep")
        .agg(expr("(sum(n_chars) * 1000000) div count(1)")
          .as("mean_micro"))
      val ranked = means.withColumn("rk",
        row_number().over(Window.orderBy(col("mean_micro"), col("rep"))))
      ranked.agg(count(lit(1)).as("b"),
        sum(when(col("rk") === 3, col("mean_micro"))).as("lo_micro"),
        sum(when(col("rk") === 48, col("mean_micro"))).as("hi_micro"))
    },

    // S13 (beyond reference): HORVITZ–THOMPSON estimation audit — the
    // design-based estimator that justifies sampling at all: blow the
    // s1 hash-sample (π = 250/1000) back up by 1/π and compare against
    // the TRUE corpus total, reporting the exact relative error in
    // micro units. The certificate a sampling pipeline ships next to
    // every sampled metric; both totals are exact integer sums, the
    // blow-up is integer arithmetic (π is a permille literal), and the
    // audit needs one extra aggregate over the same scan.
    "s13_horvitz_thompson" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars"))
      val sample = Sampling.hashSample(d, col("doc_id"), keepPermille = 250)
      val est = sample.agg(count(lit(1)).as("n_sampled"),
        expr("sum(n_chars) * 1000 div 250").as("ht_total"))
      val truth = d.agg(count(lit(1)).as("n_total"),
        sum(col("n_chars")).as("true_total"))
      est.crossJoin(broadcast(truth))
        .select(col("n_sampled"), col("n_total"), col("ht_total"),
          col("true_total"),
          expr("""abs(ht_total - true_total) * 1000000
                 |div true_total""".stripMargin.replace("\n", " "))
            .as("rel_err_micro"))
    },

    // S10 (beyond reference): k-center CORESET — pick the 4 embeddings
    // that SPAN the space (Gonzalez farthest-first, a 2-approx of the
    // optimal cover) and report every point's covering center and
    // radius. The diversity-maximizing dual of mix/sampling: curation
    // uses it to seed annotation pools and dedup sweeps where density
    // sampling would pick 4 near-identical popular docs. Exact
    // integer-quantized distances; per-round cost is one distributed
    // min-update + a 1-row argmax collect (k driver rows total — the
    // KMeans contract). Oracle: 4 unrolled CTE rounds.
    "s10_kcenter_coreset" -> { (s, dir) =>
      import graft.operators.Coreset
      val quant = Tables.embeddings(s, dir).select(col("vec_id"),
        quantized(col("embedding")).as("qv"))
      Coreset.kCenterGreedy(quant, "vec_id", "qv", k = 4)
    },

    // TX27 (beyond reference): token DISPERSION (Gries' DP) across
    // sources — "is this token everywhere or is it one source's
    // boilerplate?": DP = ½·Σ_parts |f_i/f − s_i/s|, 0 = perfectly
    // even, →1 = concentrated (the corpus-linguistics complement of
    // tx10's heavy hitters, and the detector behind dd11-style
    // boilerplate screens). Every |·| term is the exact integer
    // |f_i·s − s_i·f| over the common denominator, summed order-free in
    // decimal(38) (the cross products pass 2^63 at corpus scale), with
    // ONE division at the end: dp_micro = num·1e6 / (2·f·s). Work is
    // (source × token)-bounded — one count shuffle, the 20-row source
    // size table broadcasts.
    "tx27_token_dispersion" -> { (s, dir) =>
      val tc = Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("source", "token").agg(count(lit(1)).as("fi"))
        // pinned: feeds the size rollup, the frequency rollup, and the
        // dispersion join (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val sizes = tc.groupBy("source").agg(sum(col("fi")).as("si"))
      val totals = sizes.agg(sum(col("si")).as("s_tot"))
      val freqs = tc.groupBy("token").agg(sum(col("fi")).as("f"))
        .filter(col("f") >= 50)
      tc.join(broadcast(sizes), Seq("source"))
        .join(freqs, Seq("token"))
        .crossJoin(broadcast(totals))
        .select(col("token"), col("f"), col("s_tot"), col("si"),
          abs(col("fi").cast(d38) * col("s_tot").cast(d38) -
            col("si").cast(d38) * col("f").cast(d38)).as("term"))
        .groupBy("token")
        // sources where the token never occurs still carry |0 − s_i·f|
        // mass: added in closed form as (s − Σ_present s_i)·f, so the
        // join never has to manufacture zero rows.
        .agg(max(col("f")).as("f"), max(col("s_tot")).as("s_tot"),
          sum(col("term")).as("num_p"),
          sum(col("si").cast(d38)).as("sip"))
        .select(col("token"), col("f"),
          expr("""cast(floor(((num_p + (s_tot - sip) * f) * 1000000)
                 |/ (2 * f * s_tot)) as bigint)"""
            .stripMargin.replace("\n", " ")).as("dp_micro"))
    },

    // DD13 (beyond reference): near-dup STRATEGY AGREEMENT audit — the
    // side-by-side a curation review wants before standardizing on one
    // detector: how many candidate pairs do word-shingle MinHash (dd2,
    // Jaccard ≥ 0.5) and character-winnowing (dd12, containment ≥ 0.5)
    // agree on, and what does each find alone (MinHash smears splice
    // edits; winnowing misses word-order paraphrase). Both pair sets
    // come from the already-audited blocked pipelines — no new
    // quadratic surface — and meet in one full-outer join on the pair
    // key, reduced to three counts.
    "dd13_strategy_agreement" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val mh = Dedup.minhashDedup(docs, threshold = 0.5)
        .select(col("id_a"), col("id_b")).withColumn("in_mh", lit(1L))
      // GRAIN (round-14 audit): fps/kept are occurrence-grain, so the
      // r13 unconditional pins are size-gated — dd12's reasoning.
      val fps = graft.operators.GlobalRank.pinnedIfSmall(
        Dedup.winnowFingerprints(docs))
      val perDoc = fps.join(
        fps.groupBy("doc_id").agg(count(lit(1)).as("nfp")), "doc_id")
      val keep = perDoc.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select("fp")
      val kept = graft.operators.GlobalRank.pinnedIfSmall(
        perDoc.join(keep, "fp"))
      val wn = kept.select(col("fp"), col("doc_id").as("id_a"),
          col("nfp").as("nfp_a"))
        .join(kept.select(col("fp"), col("doc_id").as("id_b"),
          col("nfp").as("nfp_b")), "fp")
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b", "nfp_a", "nfp_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared").cast("double") /
          least(col("nfp_a"), col("nfp_b")).cast("double") >= 0.5)
        .select(col("id_a"), col("id_b")).withColumn("in_wn", lit(1L))
      mh.join(wn, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("in_mh").isNotNull && col("in_wn").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_mh").isNotNull && col("in_wn").isNull, 1L)
            .otherwise(0L)).as("n_minhash_only"),
          sum(when(col("in_mh").isNull && col("in_wn").isNotNull, 1L)
            .otherwise(0L)).as("n_winnow_only"))
    },

    // SIM15 (beyond reference): TRIPLET mining — the (anchor, hardest
    // positive, hardest negative) table a metric-learning trainer
    // consumes: within each anchor's exact top-10 neighborhood, the
    // LEAST-similar same-label neighbor (the positive that still needs
    // pulling in) and the MOST-similar other-label neighbor (the
    // negative about to invade), with the margin between them — margin
    // < 0 flags anchors whose neighborhood is already violated. One
    // pass over sim1's ranking joined to labels; ties break on id.
    "sim15_triplet_mining" -> { (s, dir) =>
      val labels = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"))
      // Pin the scored ranking: `pos` and `neg` both derive from it, and
      // un-pinned each re-embeds the full exact-scoring crossJoin+window
      // subtree (the query's entire cost) in the plan.
      val ranked = sim1Frame(s, dir)
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("corpus_id"),
          col("label").as("c_label")), "corpus_id")
        .transform(graft.operators.GlobalRank.pinned)
      val pos = ranked.filter(col("q_label") === col("c_label"))
        .withColumn("rk2", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos_sim").asc, col("corpus_id").asc)))
        .filter(col("rk2") === 1)
        .select(col("query_id"), col("corpus_id").as("pos_id"),
          col("cos_sim").as("pos_cos"))
      val neg = ranked.filter(col("q_label") =!= col("c_label"))
        .withColumn("rk2", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos_sim").desc, col("corpus_id").asc)))
        .filter(col("rk2") === 1)
        .select(col("query_id").as("q2"), col("corpus_id").as("neg_id"),
          col("cos_sim").as("neg_cos"))
      pos.join(neg, col("query_id") === col("q2"))
        .select(col("query_id"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          (col("pos_cos") - col("neg_cos")).as("margin"))
    },

    // IR10 (beyond reference): Mean Reciprocal Rank — the navigational-
    // search metric (one right answer; how deep did the user scroll to
    // find it?) completing the eval set next to AUC (ml4), AP (ml8),
    // NDCG (ml5): per query the reciprocal of the FIRST relevant rank
    // (same-label neighbor on sim1's exact ranking), micro-quantized so
    // the mean is one integer division. Queries with no relevant
    // neighbor in the cutoff contribute rr = 0 — stated, not skipped.
    "ir10_mrr" -> { (s, dir) =>
      val labels = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"))
      // Pin the exact ranking once: it feeds both the first-relevant
      // rollup and the query-universe distinct — un-pinned, the scoring
      // crossJoin+window subtree runs twice.
      val base = sim1Frame(s, dir).transform(graft.operators.GlobalRank.pinned)
      val ranked = base
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("corpus_id"),
          col("label").as("c_label")), "corpus_id")
      val firstRel = ranked.filter(col("q_label") === col("c_label"))
        .groupBy("query_id").agg(min(col("rk")).as("first_rel"))
      base.select(col("query_id")).distinct()
        .join(firstRel, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          expr("case when count(1) = 0 then null else " +
            "sum(coalesce(1000000 div first_rel, 0L)) div count(1) end")
            .as("mrr_micro"))
    },

    // TX29 (beyond reference): HAPAX ratio per source — the share of a
    // source's vocabulary seen exactly once (hapax legomena): high ⇒
    // productive/creative text (or OCR noise — read with tx13), low ⇒
    // templated boilerplate; the per-source datasheet cousin of lm4's
    // corpus-level Good-Turing singleton mass. One (source, token)
    // count shuffle, then a vocabulary-grain rollup.
    "tx29_hapax_ratio" -> { (s, dir) =>
      Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("source", "token").agg(count(lit(1)).as("f"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("f")).as("n_tokens"))
        .withColumn("hapax_share_micro",
          expr("(n_hapax * 1000000) div vocab"))
    },

    // TX28 (beyond reference): MATTR — moving-average type-token ratio
    // (window 50): raw TTR monotonically penalizes LONG documents (more
    // tokens ⇒ more repeats), so tx25-style diversity misranks by
    // length; MATTR averages the distinct-ratio over every 50-token
    // sliding window, giving a length-stable diversity score (Covington
    // & McFall). Distinct counts per window are exact integers; the
    // per-doc mean is one integer division of their sum. All work is a
    // per-row O(n·w) array HOF — no shuffle beyond the scan spread;
    // docs shorter than the window fall back to whole-doc TTR,
    // identically on both engines.
    "tx28_mattr" -> { (s, dir) =>
      val t = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
      Tables.spread(Tables.documents(s, dir)).selectExpr("doc_id",
          s"filter(split($t, ' '), x -> length(x) > 0) AS toks")
        .filter("size(toks) > 0") // empty docs: 0-div diverges vs oracle
        .selectExpr("doc_id", "size(toks) AS n_toks",
          """CASE WHEN size(toks) <= 50 THEN
            |  cast(size(array_distinct(toks)) as bigint) * 1000000
            |    div size(toks)
            |ELSE
            |  aggregate(transform(sequence(1, size(toks) - 49),
            |      i -> cast(size(array_distinct(slice(toks, i, 50)))
            |        as bigint)),
            |    0L, (acc, x) -> acc + x) * 1000000
            |    div (cast(size(toks) - 49 as bigint) * 50)
            |END AS mattr_micro"""
            .stripMargin.replace("\n", " "))
    },

    // DD15 (beyond reference): CONTENT-DEFINED chunking — pk7's fixed
    // 64-char grid breaks at insertions (one shifted byte re-keys every
    // following chunk); CDC cuts where the hash of the trailing 8-gram
    // hits a target (≈1/64 rate), so boundaries move WITH the content
    // and edits stay local — the rsync/LBFS trick storage dedup relies
    // on. Cut detection and chunk slicing run entirely in per-row array
    // HOFs over the registered md5_prefix60 kernel (no explode until
    // the digest rollup); chunk-size distribution and dedup ratio come
    // out of one digest-keyed aggregate.
    "dd15_cdc_chunking" -> { (s, dir) =>
      // STAGED projections (round-13): the single-expression form
      // interpolated the normalize regex into the filter/zip_with lambda
      // bodies, and a lambda body re-evaluates its non-lambda subtrees
      // PER ELEMENT — the regex ran once per character position (HOFs
      // get no codegen subexpression elimination). Materializing `nt`
      // as a column first, then `cuts` (referenced twice downstream),
      // leaves one regex and one cut enumeration per ROW; CollapseProject
      // keeps non-cheap exprs referenced more than once un-inlined.
      // Guard: Spark's sequence(8, stop) steps DOWN when stop < 8
      // (docs shorter than one 8-gram), enumerating bogus cut
      // candidates; gate the whole enumeration behind one per-row CASE
      // so short docs yield zero cuts — exactly DuckDB's empty
      // range(8, n+1).
      val chunks = Tables.spread(Tables.documents(s, dir))
        .selectExpr("trim(regexp_replace(lower(text), '\\\\s+', ' ')) AS nt")
        .selectExpr("nt",
          """case when length(nt) >= 8 then
            |  filter(sequence(8, length(nt)),
            |    i -> md5_prefix60(substr(nt, i - 7, 8)) % 64 = 0)
            |else array() end AS cuts""".stripMargin.replace("\n", " "))
        .selectExpr(
          """explode(filter(zip_with(
            |  concat(array(1), transform(cuts, c -> c + 1)),
            |  concat(cuts, array(length(nt))),
            |  (s2, e) -> if(e >= s2, substr(nt, s2, e - s2 + 1), null)),
            |  x -> x is not null)) AS chunk"""
            .stripMargin.replace("\n", " "))
      chunks.select(md5(col("chunk")).as("h"),
          length(col("chunk")).cast("bigint").as("len"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("h")).as("n_distinct"),
          expr("sum(len) div count(1)").as("mean_len"),
          min(col("len")).as("min_len"), max(col("len")).as("max_len"))
    },

    // PROF4 (beyond reference): pairwise WELCH-t matrix between sources
    // on document length — "which providers actually differ?" as a
    // source²-sized screen (the multiple-comparison table a datasheet
    // review reads before trusting any per-source mean difference). Per-
    // source exact moments once (one metadata-grain rollup), then a
    // broadcast self-join over the ~k² source pairs; each t is one fixed
    // IEEE tree, NULL when either side has a single document. Scale-
    // free: the pair fan-out is provenance-count², never rows.
    "prof4_source_welch_matrix" -> { (s, dir) =>
      val st = Tables.spread(Tables.documents(s, dir)).groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast(d38)).as("sx"),
          sum((col("n_chars") * col("n_chars")).cast(d38)).as("sxx"))
        .transform(graft.operators.GlobalRank.pinned)
      def mv(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
             sxx: org.apache.spark.sql.Column) = (
        sx.cast("double") / n.cast("double"),
        (n.cast(d38) * sxx - sx * sx).cast("double") /
          (n * (n - 1)).cast("double"))
      val a = st.select(col("source").as("src_a"), col("n").as("na"),
        col("sx").as("sxa"), col("sxx").as("sxxa"))
      val b = st.select(col("source").as("src_b"), col("n").as("nb"),
        col("sx").as("sxb"), col("sxx").as("sxxb"))
      val (ma, va) = mv(col("na"), col("sxa"), col("sxxa"))
      val (mb, vb) = mv(col("nb"), col("sxb"), col("sxxb"))
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), col("na"), col("nb"),
          (ma - mb).as("mean_diff"),
          when(col("na") > 1 && col("nb") > 1,
            (ma - mb) / sqrt(va / col("na").cast("double") +
              vb / col("nb").cast("double"))).as("t_stat"))
    },

    // S15 (beyond reference): NEYMAN optimal allocation — s2 samples
    // strata at hand-picked rates and mix5 waterfills counts; Neyman
    // allocates a fixed audit budget ∝ N_h·σ_h (big AND variable strata
    // get the samples), the design that minimizes the estimator variance
    // s13's Horvitz-Thompson blow-up then rides on. σ_h comes from exact
    // integer moments through one IEEE tree (sqrt is correctly rounded,
    // so both engines agree), is floor-quantized to micro BEFORE the
    // integer allocation arithmetic, and the final n_h is a pure integer
    // proportional split capped at the stratum size. One metadata-grain
    // rollup; the plan is scale-free.
    "s15_neyman_allocation" -> { (s, dir) =>
      val per = Tables.spread(Tables.documents(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("nh"),
          sum(col("n_chars").cast(d38)).as("sx"),
          sum((col("n_chars") * col("n_chars")).cast(d38)).as("sxx"))
        .select(col("source"), col("nh"),
          when(col("nh") > 1, floor(sqrt(
            (col("nh").cast(d38) * col("sxx") - col("sx") * col("sx"))
              .cast("double") /
              (col("nh") * (col("nh") - 1)).cast("double"))
            * lit(1e6)).cast("bigint")).otherwise(0L).as("sigma_micro"))
        .withColumn("wh", col("nh") * col("sigma_micro"))
      val tot = per.agg(sum(col("wh")).as("wtot"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("nh").as("n_rows"), col("sigma_micro"),
          expr("""least(nh, case when wtot = 0 then 0
                 |else 100 * wh div wtot end)"""
            .stripMargin.replace("\n", " ")).as("alloc_n"))
    },

    // PIPE4 (beyond reference): gate-REASON attribution — pipe1 counts
    // what each funnel stage kills; this attributes every rejected doc
    // to its failing rule(s) and, crucially, counts EXCLUSIVE kills
    // (docs failing exactly one rule) — the number that says which gate
    // would actually recover documents if relaxed (a rule with many
    // hits but zero exclusive kills is redundant). One gated scan; the
    // reason rollup is rule-cardinality metadata.
    "pipe4_reason_attribution" -> { (s, dir) =>
      val gate = TextAnalysis.qualityGate(Tables.spread(Tables.documents(s, dir)))
      gate.filter(!col("keep"))
        .select(col("doc_id"), split(col("fail_reasons"), ",").as("rs"))
        .select(col("doc_id"), size(col("rs")).as("n_reasons"),
          explode(col("rs")).as("reason"))
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_reasons") === 1, 1L).otherwise(0L))
            .as("n_exclusive"))
    },

    // MIX6 (beyond reference): two-phase ANNEAL plan — modern pretraining
    // ends on a high-quality anneal mix: phase 1 samples every source by
    // its share of the corpus; phase 2 restricts to documents passing
    // the tx9 quality gate and re-shares by the gated counts. This emits
    // both share tables side by side (plus the gate pass-rate) — the
    // planner handed to the sampler at the phase switch. Two metadata-
    // grain rollups over one gated scan; shares are exact micro
    // integers.
    "mix6_anneal_plan" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val gated = TextAnalysis.qualityGate(docs).select("doc_id", "keep")
      val per = docs.select(col("doc_id"), col("source"))
        .join(gated, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_all"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_gated"))
        // pinned: feeds the totals AND the share projection — un-pinned,
        // the quality-gate regex pass ran twice (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val tot = per.agg(sum(col("n_all")).as("t_all"),
        sum(col("n_gated")).as("t_gated"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_all"), col("n_gated"),
          expr("n_all * 1000000 div t_all").as("pretrain_share_micro"),
          expr("""case when t_gated = 0 then 0
                 |else n_gated * 1000000 div t_gated end"""
            .stripMargin.replace("\n", " ")).as("anneal_share_micro"),
          expr("n_gated * 1000000 div n_all").as("gate_pass_micro"))
    },

    // S17 (beyond reference): RAKING (iterative proportional fitting) —
    // the survey-statistics reweighting a curation pipeline uses when
    // it must hit TWO margins at once: here, rebalance language shares
    // to uniform while preserving each source's observed share. Two
    // unrolled IPF rounds over the (lang × source) CELL table (metadata
    // grain — L·S rows after one corpus rollup): round 1 scales every
    // cell to the uniform language target, round 2 rescales to restore
    // the source margins round 1 disturbed. Weights stay micro
    // integers; every product runs in decimal(38,0) (HUGEINT in the
    // oracle) so nothing overflows at corpus scale, and every division
    // is nonneg div nonneg — engine-identical.
    "s17_raking_weights" -> { (s, dir) =>
      val cells = Tables.spread(Tables.documents(s, dir))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
      graft.operators.Sampling.rakeTwoRound(cells)
    },

    // SIM19 (beyond reference): MAHALANOBIS OOD scoring — distance to
    // the corpus's embedding distribution under a DIAGONAL covariance
    // (the production OOD filter: full Σ⁻¹ is dim²·corpus work and
    // numerically fragile; per-dimension standardization catches the
    // same gross outliers). One lane rollup to DIM grain (64 rows of
    // exact integer moments over micro-quantized lanes), broadcast
    // back, and each (row, dim) term (x−μ)²/σ² is floor-quantized to
    // micro so the per-row sum is order-free integers. `ood` flags
    // md² > 2× its expectation (128 = 2·64 dims). Zero-variance lanes
    // contribute 0 (the NaN/Inf guard is the `vr > 0` branch — both
    // engines agree because the doubles are the same fixed tree).
    "sim19_mahalanobis_ood" -> { (s, dir) =>
      val lanes = Tables.spread(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          posexplode(quantized(col("embedding"))))
        .select(col("vec_id"), col("pos").as("dim"), col("col").as("v"))
        // pinned: the lane table feeds the moment rollup AND the
        // scoring join (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val st = lanes.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("v").cast(d38)).as("sx"),
          sum((col("v") * col("v")).cast(d38)).as("sxx"))
        .select(col("dim"),
          (col("sx").cast("double") / col("n").cast("double")).as("mu"),
          ((col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
            .cast("double") /
            (col("n").cast(d38) * (col("n") - 1).cast(d38))
              .cast("double")).as("vr"))
      lanes.join(broadcast(st), "dim")
        .select(col("vec_id"),
          when(col("vr") > 0,
            floor(lit(1e6) *
              ((col("v").cast("double") - col("mu")) *
                (col("v").cast("double") - col("mu")) / col("vr")))
              .cast("bigint")).otherwise(0L).as("term_micro"))
        .groupBy("vec_id")
        .agg(sum(col("term_micro")).as("md2_micro"))
        .withColumn("ood", col("md2_micro") > lit(128000000L))
    },

    // S16 (beyond reference): DSIR-style importance weights — data
    // selection via importance resampling in its hashed-feature form:
    // score every document by how much more likely its tokens are under
    // the TARGET distribution (here the lang='en' slice stands in for
    // "formal text") than under the raw corpus,
    // log w(d) = Σ_tokens ln p_tgt(b(t)) − ln p_raw(b(t)), with 64
    // hashed buckets (ml1's tokenBucket) and +1 Laplace smoothing. The
    // two bucket distributions are ONE map-side-combined token rollup
    // (64 cells — model grain); each bucket's log-ratio is
    // floor-quantized to micro-nats once (the fe10 contract), so the
    // per-doc weight is an order-free integer sum over a 64-row
    // broadcast join. At 100 TB the token pass is embarrassingly
    // parallel and the only corpus-sized shuffle is the doc_id rollup.
    "s16_dsir_weights" -> { (s, dir) => dsirWeights(s, dir) },

    // LM11 (beyond reference): per-source UNIGRAM KL divergence from
    // the corpus language model — the drift number a mixing pipeline
    // tracks per ingest source (tx39's vocab Jaccard asks "same top
    // words?"; KL weighs the whole distribution by probability mass).
    // Each (source, token) term ln(p_s/p_c) is floor-quantized to
    // micro-nats ONCE (the fe10 contract) and weighted by its exact
    // count, so the per-source sum is order-free integers in
    // decimal(38,0) (int64 overflows near 10¹² tokens × 14e6 max
    // term); KL = sum / n_s is one exact-int-fed IEEE division. Scale
    // shape: the (source, token) rollup is the only corpus-sized
    // shuffle; the corpus-total join is TOKEN-grain (vocab-sized,
    // hash-partitioned — deliberately NOT broadcast), source totals
    // and the grand total broadcast.
    "lm11_source_unigram_kl" -> { (s, dir) =>
      val st = Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          explode(split(TextAnalysis.normalizeText(col("text")), " "))
            .as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("source", "tok").agg(count(lit(1)).as("cst"))
        // pinned: feeds the corpus rollup, the source totals, and the
        // KL join (round-13 fan-out rule)
        .transform(graft.operators.GlobalRank.pinned)
      val ct = st.groupBy("tok").agg(sum(col("cst")).as("ct"))
      val ns = st.groupBy("source").agg(sum(col("cst")).as("ns"))
      val nc = ct.agg(sum(col("ct")).as("nc"))
      st.join(ct, "tok").join(broadcast(ns), "source")
        .crossJoin(broadcast(nc))
        .select(col("source"), col("ns"),
          (col("cst") * floor(lit(1e6) * log(
            (col("cst").cast("double") / col("ns").cast("double")) /
              (col("ct").cast("double") / col("nc").cast("double"))))
            .cast("bigint")).as("w"))
        .groupBy("source", "ns").agg(sum(col("w").cast(d38)).as("sw"))
        .select(col("source"), col("ns").as("n_tokens"),
          (col("sw").cast("double") / col("ns").cast("double"))
            .as("kl_nat_micro"))
    },

    // S19 (beyond reference): PPS SYSTEMATIC sampling — probability
    // proportional to SIZE (token count), the survey-sampling design
    // that makes a 100-doc sample carry an unbiased token-mass picture
    // of the corpus (s8's systematic sample is equal-probability; long
    // docs are the mass and deserve proportional representation). Lay
    // every document's token count end to end on an integer line
    // (GlobalRank's prefix-sum two-pass — no single-partition window),
    // then select the documents whose span covers a lattice point
    // m·step, step = ⌊total/100⌋ — zero RNG, membership reproducible
    // forever, and a doc longer than step is hit multiple times
    // (n_hits is its integer inclusion multiplicity). All-nonnegative
    // integer division, so Spark `div` and DuckDB `//` agree.
    "s19_pps_sampling" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("size"))
        .withColumn("g", lit(1))
      val c = graft.operators.GlobalRank.withGroupedPrefixSum(d,
        group = Seq("g"), order = Seq(col("doc_id")),
        value = col("size"), out = "cum", totOut = Some("total"))
      c.withColumn("step", expr("total div 100"))
        .filter(col("step") > 0)
        .withColumn("n_hits",
          expr("cum div step - (cum - size) div step"))
        .filter(col("n_hits") > 0)
        .select(col("doc_id"), col("size"), col("cum"), col("n_hits"),
          col("step"))
    },

    // S18 (beyond reference): SAMPLING-IMPORTANCE-RESAMPLING gate on
    // the s16 DSIR weights — the step that turns importance weights
    // into an actual selected corpus: accept doc i iff u_i < w_i/w_max,
    // decided entirely in LOG space (ln u_i < w̄_i − w̄_max) so no exp()
    // ever runs. u_i is the stable md5 bucket mapped to (b+0.5)/1000 —
    // the engine-reproducible uniform, membership reproducible forever;
    // w̄ is the LENGTH-NORMALIZED per-token log ratio (floor-on-double,
    // never integer div: logw can be negative, where Spark `div`
    // truncates and DuckDB `//` floors). One broadcast scalar (w̄_max)
    // over the s16 rollup; the gate is a per-row predicate.
    "s18_importance_resampling" -> { (s, dir) =>
      import graft.operators.Sampling
      val w = dsirWeights(s, dir)
        .withColumn("avg_micro",
          floor(col("logw_micro").cast("double") /
            col("n_terms").cast("double")).cast("bigint"))
      val wmax = w.agg(max(col("avg_micro")).as("wmax"))
      w.crossJoin(broadcast(wmax))
        .withColumn("lnu_micro",
          floor(log((Sampling.bucket(col("doc_id"), "sir")
            .cast("double") + lit(0.5)) / lit(1000.0)) * lit(1e6))
            .cast("bigint"))
        .filter(col("lnu_micro") < col("avg_micro") - col("wmax"))
        .select(col("doc_id"), col("n_terms"), col("logw_micro"),
          col("avg_micro"), col("lnu_micro"))
    },

    // MIX7 (beyond reference): DoReMi-style domain reweighting — one
    // exponentiated-gradient step on per-domain EXCESS loss. Loss proxy
    // = each source's non-English rate (what its quality gate loses);
    // excess_s = rate_s − corpus rate, exact micro integers. The EG
    // multiplier exp(η·excess) with η = 0.5 is the single float in the
    // plan and is floor-quantized to micro immediately, so the
    // normalization (share = m_s·1e6 div Σm) and DoReMi's uniform
    // smoothing (1% mixed back toward 1/K) stay order-free integer
    // arithmetic. K = #sources: a per-domain rollup plus two 1-row
    // broadcasts — metadata grain at any corpus size.
    "mix7_doremi_step" -> { (s, dir) =>
      val per = Tables.spread(Tables.documents(s, dir)).groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("bad"))
        .transform(graft.operators.GlobalRank.pinned) // feeds the totals AND the step join
      val tot = per.agg(sum(col("n")).as("tn"), sum(col("bad")).as("tbad"),
        count(lit(1)).as("k"))
      val m = per.crossJoin(broadcast(tot))
        .withColumn("excess_micro",
          expr("bad * 1000000 div n - tbad * 1000000 div tn"))
        .withColumn("mult_micro",
          floor(lit(1e6) *
            exp(lit(0.5) * col("excess_micro").cast("double") / lit(1e6)))
            .cast("bigint"))
      val msum = m.agg(sum(col("mult_micro")).as("ms"))
      m.crossJoin(broadcast(msum))
        .select(col("source"), col("n").as("n_docs"), col("excess_micro"),
          col("mult_micro"),
          expr("""mult_micro * 1000000 div ms * 99 div 100
                 |  + 1000000 div (100 * k)"""
            .stripMargin.replace("\n", " ")).as("weight_micro"))
    },

    // MIX5 (beyond reference): token-budget WATER-FILLING — given a
    // total token budget (60% of the corpus here), find the exact cap τ
    // such that allocating min(n_source, τ) to every source spends the
    // budget: small sources keep everything, big sources are capped at
    // one common level — the max-min-fair allocation a mixture planner
    // uses to spend a fixed training budget without letting one crawl
    // dominate. τ comes out of ONE sorted prefix-sum pass over the
    // source rollup (the classic closed form: at the boundary row,
    // τ = (B − prefix_below) div #capped) — no search loop. The
    // unpartitioned window is source-cardinality (bounded by provenance
    // count, ~20 here), per the SCALE.md window rule. Exact integers
    // end to end.
    "mix5_token_waterfill" -> { (s, dir) =>
      val per = Tables.spread(Tables.documents(s, dir))
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("nt"))
        .groupBy("source").agg(sum(col("nt")).as("n"))
        // pinned: the source rollup feeds the ranked window AND the
        // budget total — un-pinned, the tokenize pass ran twice
        .transform(graft.operators.GlobalRank.pinned)
      val byN = Window.orderBy(col("n").asc, col("source").asc)
      val ranked = per
        .withColumn("rn", row_number().over(byN))
        .withColumn("prefix", sum(col("n")).over(byN
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = per.agg(sum(col("n")).as("total"),
        count(lit(1)).as("nk"))
      val chosen = ranked.crossJoin(broadcast(tot))
        .withColumn("tau",
          expr("(total * 60 div 100 - (prefix - n)) div (nk - rn + 1)"))
        .filter(col("tau") < col("n") && col("tau") >= 0)
        .orderBy(col("rn")).limit(1)
        .agg(min(col("tau")).as("tau_star"))
      ranked.crossJoin(broadcast(chosen))
        .select(col("source"), col("n").as("n_tokens"),
          expr("least(n, coalesce(tau_star, n))").as("alloc_tokens"),
          col("tau_star"))
    },

    // MIX4 (beyond reference): data-DERIVED rebalancing plan — mix1/s2
    // apply HAND-PICKED per-stratum rates; this computes them: target =
    // uniform share per language, keep-permille = min(1000,
    // target_n·1000 div stratum_n) (never upsample), with the resulting
    // expected kept counts and the residual imbalance — the plan table
    // a curation pipeline feeds INTO s2. Two metadata-grain aggregates;
    // the rule is share-based, so the plan is identical at any corpus
    // size with the same composition.
    "mix4_rebalance_plan" -> { (s, dir) =>
      val counts = Tables.spread(Tables.documents(s, dir)).groupBy("lang")
        .agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("k"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          expr("total div k").as("target_n"),
          expr("least(1000, (total div k) * 1000 div n)")
            .as("keep_permille"))
        .withColumn("expected_kept", expr("n * keep_permille div 1000"))
        .withColumn("residual",
          expr("n * keep_permille div 1000 - target_n"))
    },

    // DD14 (beyond reference): b-BIT MINHASH (Li & König) audited —
    // keep only the PARITY bit of each minhash component (16 bits ≈ 2
    // bytes per doc instead of 128) and estimate Jaccard from the
    // agreement rate via Ĵ = 2·A − 1; the audit reports each candidate
    // pair's 1-bit estimate against the exact Jaccard. The memory
    // format that makes planet-scale dedup signatures fit in RAM —
    // candidates still come from the banded LSH index, so nothing here
    // is all-pairs; the bit fold is a per-row codegen HOF.
    "dd14_bbit_minhash" -> { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      val pairs = Dedup.minhashDedup(docs, threshold = 0.3)
      val bits = Dedup.minhashSignatures(docs)
        .select(col("id"), expr("transform(sig, h -> h % 2)").as("bits"))
      pairs
        .join(bits.select(col("id").as("id_a"), col("bits").as("ba")),
          "id_a")
        .join(bits.select(col("id").as("id_b"), col("bits").as("bb")),
          "id_b")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          expr("""aggregate(zip_with(ba, bb,
                 |(x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"""
            .stripMargin.replace("\n", " ")).as("agree"))
        .select(col("id_a"), col("id_b"), col("jaccard"), col("agree"),
          expr("((2 * agree - 16) * 1000000) div 16")
            .as("bbit_est_micro"))
        .withColumn("err_micro",
          abs(floor(col("jaccard") * lit(1e6)).cast("bigint") -
            col("bbit_est_micro")))
    },

    // PIPE3 (beyond reference): cross-SIGNAL correlation — do two
    // independent quality signals (document length, lexical diversity)
    // agree? The screen run before adding a new filter to the curation
    // stack: a signal highly correlated with one already in use adds
    // thresholding complexity but no information. Pearson r via six
    // exact integer sufficient statistics (both features integer-
    // valued: n_chars and the micro-quantized type/token ratio), then
    // ts4's fixed IEEE tree — engines agree bitwise. One token-free
    // array pass per row, one scalar reduce.
    "pipe3_signal_correlation" -> { (s, dir) =>
      val toks = filter(split(TextAnalysis.normalizeText(col("text")), " "),
        t => length(t) > 0)
      val xy = Tables.spread(Tables.documents(s, dir))
        .select(col("n_chars").as("x"), size(toks).as("n_toks"),
          size(array_distinct(toks)).as("n_types"))
        .filter(col("n_toks") > 0)
        .select(col("x"),
          expr("(cast(n_types as bigint) * 1000000) div n_toks").as("y"))
      val st = xy.agg(count(lit(1)).as("m"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
        sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"))
      val vx = col("m").cast(d38) * col("sxx") - col("sx") * col("sx")
      val vy = col("m").cast(d38) * col("syy") - col("sy") * col("sy")
      st.select(col("m"),
        ((col("m").cast(d38) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))).as("r"))
    },

    // FE17 (beyond reference): James–Stein SHRUNK mean encoder — fe5's
    // raw per-source target mean overfits small sources; shrinking
    // toward the global mean by n/(n+m) (empirical-Bayes, m=20 pseudo-
    // observations) is the standard fix. The shrunk mean is ONE exact
    // rational (S_g·N + m·S)/(N·(n_g+m)), micro-quantized with a single
    // floor-div — no float mean is ever formed, so both engines agree
    // exactly. Same two-aggregate broadcast shape as fe5/fe9.
    "fe17_shrunk_encode" -> { (s, dir) =>
      val per = Tables.spread(Tables.documents(s, dir)).groupBy("source")
        .agg(count(lit(1)).as("ng"), sum(col("n_chars")).as("sg"))
      val tot = per.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("ng"),
          expr("(sg * 1000000) div ng").as("raw_mean_micro"),
          expr("((sg * n + 20 * st) * 1000000) div (n * (ng + 20))")
            .as("shrunk_mean_micro"))
    },

    // PK7 (beyond reference): chunk-level DEDUP ratio — the storage-
    // dedup readout: slice every document into fixed 64-char chunks,
    // fingerprint each, and report how much of the corpus is repeated
    // chunk content (the block-level view dd1's whole-doc checksum
    // can't see — two docs sharing one paragraph dedup at chunk grain).
    // Chunking is a per-row array expression (no shuffle until the
    // fingerprint count); the shuffle carries 16-byte digests, never
    // text.
    "pk7_chunk_dedup" -> { (s, dir) =>
      // Guard: an empty normalized text makes the chunk-count stop
      // (0+63) div 64 - 1 = -1, and Spark's sequence(0, -1) steps DOWN
      // to [0, -1] — two phantom empty chunks vs DuckDB's empty
      // range(0, 0). Clamp the stop to 0 and re-filter i*64 < length.
      val chunks = Tables.spread(Tables.documents(s, dir))
        .select(explode(expr(
          """transform(filter(sequence(0,
            |greatest(cast((length(trim(regexp_replace(lower(text),
            |  '\\s+', ' '))) + 63) div 64 - 1 as int), 0)),
            |i -> i * 64 <
            |  length(trim(regexp_replace(lower(text), '\\s+', ' ')))),
            |i -> substr(trim(regexp_replace(lower(text), '\\s+', ' ')),
            |  i * 64 + 1, 64))"""
            .stripMargin.replace("\n", " "))).as("chunk"))
        .select(md5(col("chunk")).as("h"))
      chunks.agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("h")).as("n_distinct"))
        .select(col("n_chunks"), col("n_distinct"),
          expr("case when n_chunks = 0 then null " +
            "else (n_distinct * 1000000) div n_chunks end")
            .as("unique_micro"),
          ((col("n_chunks") - col("n_distinct")) * 64).as("chars_saved"))
    },

    // FE13 (beyond reference): RARE-LABEL grouping — collapse categories
    // below a share threshold into one '__other__' level before
    // encoding (the guard that keeps fe1/fe5-style encoders from
    // minting a column per typo; share-based 10% cut, so the rule is
    // scale-free). One count aggregate broadcast back over the rows,
    // then the encoded distribution — the before/after audit a feature
    // review wants.
    "fe13_rare_label_encode" -> { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir)).select("doc_id", "lang")
      val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("tot"))
      d.join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          when(col("n") * 10 >= col("tot"), col("lang"))
            .otherwise(lit("__other__")).as("lang_enc"))
        .groupBy("lang_enc").agg(count(lit(1)).as("n_docs"))
    },
  )

  /** Per-document corpus-bigram-LM surprisal sufficient statistics
    * (doc_id, n_bigrams, sum_micro_nats) — lm2's pipeline, shared with
    * lm5's perplexity partition. Each bigram's ln p is quantized to
    * integer micro-nats before the per-doc sum, so the frame is
    * engine/order-exact (docs with <2 tokens drop out in both engines). */
  private def docSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = split(TextAnalysis.normalizeText(col("text")), " ")
    val bigrams = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val ctx = counts.groupBy("w1").agg(sum(col("c")).as("cctx"))
    val probs = counts.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        floor(log(col("c").cast("double") / col("cctx").cast("double"))
          * lit(1e6)).cast("bigint").as("micro_nats"))
    bigrams.join(probs, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("micro_nats")).as("sum_micro_nats"))
  }

  /** Brute-force quantized cosine top-10 for queries vec_id<5 — the exact
    * ANN ground truth (broadcast queries, integer-exact quantized math).
    * Shared by sim1 and the sim5 recall evaluation. */
  /** s16's DSIR chain — per-document Σ ln(p_tgt/p_raw) over 64 hashed
    * token buckets with Laplace smoothing, micro-nat integers — shared
    * by s16 (the weight table) and s18 (the resampling gate). */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), (col("lang") === "en").as("tgt"),
        explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("t"))
      .select(col("doc_id"), col("tgt"),
        Scoring.tokenBucket(col("t"), 64).as("b"))
    val dist = toks.groupBy("b").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = dist.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val ratio = dist.crossJoin(broadcast(tot))
      .select(col("b"),
        floor(lit(1e6) *
          (log((col("ct") + lit(1L)).cast("double") /
            (col("nt") + lit(64L)).cast("double")) -
            log((col("cr") + lit(1L)).cast("double") /
              (col("nr") + lit(64L)).cast("double"))))
          .cast("bigint").as("lr_micro"))
    toks.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("lr_micro")).as("logw_micro"))
  }

  /** The cosine of each of the probes (vec_id < 5) with every other
    * vector of `quant` (vec_id and the micro-quantized lanes `qv`): the
    * exact integer dot over the two norms, one fixed IEEE tree. Zero-norm
    * vectors have no direction — cosine is undefined, and the ANSI
    * division would throw; they are EXCLUDED (normalize-or-drop, the
    * standard ANN ingest rule), mirrored in every oracle. */
  private def probeCosines(quant: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.dotL
    val withNorm = quant.withColumn("nrm", dotL(col("qv"), col("qv")))
      .filter(col("nrm") > 0)
    val q = broadcast(withNorm.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm")))
    withNorm.select(col("vec_id").as("corpus_id"),
        col("qv").as("c_qv"), col("nrm").as("c_nrm"))
      .crossJoin(q)
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (dotL(col("q_qv"), col("c_qv")).cast("double") /
          (sqrt(col("q_nrm").cast("double")) *
            sqrt(col("c_nrm").cast("double")))).as("cos_sim"))
  }

  private def sim1Frame(s: SparkSession, dir: String): DataFrame = {
    val quant = Tables.embeddings(s, dir).select(col("vec_id"),
      quantized(col("embedding")).as("qv"))
    val scored = probeCosines(quant)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 10)
  }

  /** IVF-probed ANN top-10 for the same query set — shared by sim3 and
    * the sim5 recall evaluation. */
  private def sim3Frame(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
      ncells = 8, nprobe = 3)
  }

  /** lm2's corpus-bigram-LM chain as DuckDB CTEs ending in
    * `ds (doc_id, n_bigrams, sum_micro_nats)` — the oracle twin of
    * [[docSurprisal]], shared by lm2 and lm5. */
  private def surprisalCtes: String =
    s"""base AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(toks[1:len(toks)-1]) AS w1,
       |    unnest(toks[2:len(toks)]) AS w2
       |  FROM base),
       |counts AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
       |ctx AS (SELECT w1, SUM(c) AS cctx FROM counts GROUP BY w1),
       |probs AS (
       |  SELECT counts.w1, counts.w2,
       |    CAST(FLOOR(ln(CAST(c AS DOUBLE) / CAST(cctx AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS micro_nats
       |  FROM counts JOIN ctx ON counts.w1 = ctx.w1),
       |ds AS (
       |  SELECT bg.doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(micro_nats) AS BIGINT) AS sum_micro_nats
       |  FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
       |  GROUP BY bg.doc_id)""".stripMargin

  /** The MinHash-LSH pipeline as a DuckDB CTE chain ending in `scored`
    * (id_a, id_b, jaccard) — shared by the dd2 pair oracle and the dd4
    * cluster oracle, which appends a recursive transitive closure. */
  private def dd2Ctes: String = lshCtes("l.id < r.id")

  /** Oracle CTEs `e` (each embedding micro-quantized to the list `qv`)
    * and `n` (the rows of `e` with a nonzero squared norm `nrm`); `cols`
    * is a prefix of extra columns both carry, such as "label, ". */
  private def normedSql(cols: String): String =
    s"""e AS (
       |  SELECT vec_id, ${cols}list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (
       |  SELECT * FROM (
       |    SELECT vec_id, ${cols}qv,
       |      CAST(list_sum(list_transform(range(1, len(qv) + 1),
       |        i -> qv[i] * qv[i])) AS BIGINT) AS nrm
       |    FROM e) z WHERE nrm > 0)""".stripMargin

  /** Oracle cosine of rows `a` and `b` of [[normedSql]]'s `n`: the exact
    * integer dot over the two norms, the same IEEE tree as the Spark side. */
  private def cosineSql(a: String, b: String): String =
    s"""CAST(CAST(list_sum(list_transform(range(1, len($a.qv) + 1),
       |      i -> $a.qv[i] * $b.qv[i])) AS BIGINT) AS DOUBLE) /
       |    (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))""".stripMargin

  /** Oracle CTEs over `scored`: `edges` (the pairs at Jaccard ≥ 0.5),
    * `und` (both directions) and `reach` (their transitive closure, so
    * the query needs WITH RECURSIVE). */
  private val reachSql =
    """edges AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
      |und AS (SELECT id_a AS a, id_b AS b FROM edges
      |        UNION SELECT id_b, id_a FROM edges),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)""".stripMargin

  /** [[reachSql]] plus `cl`: each clustered doc's component id, the
    * smallest doc id it reaches. */
  private val clusterSql =
    s"""$reachSql,
       |cl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       |       FROM reach GROUP BY a)""".stripMargin

  /** Shingle → base-hash → 16-minhash signature CTE chain (docs, sh,
    * shd, bh, sig) — the shared prefix of every minhash oracle. */
  private[queries] def sigCtes: String =
    s"""docs AS (
       |  SELECT doc_id AS id, string_split($normSql, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT id, CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_transform(range(0, len(toks) - 2),
       |      i -> array_to_string(toks[i+1:i+3], ' ')) END AS shingles
       |  FROM docs),
       |shd AS (SELECT id, list_distinct(shingles) AS ds FROM sh),
       |bh AS (
       |  SELECT id, ds, list_transform(ds,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
       |  FROM shd),
       |sig AS (
       |  SELECT id, $minhashSigSql AS sig FROM bh)""".stripMargin

  /** Same chain with a custom candidate-pair predicate (dd8 swaps the
    * self-join's `l.id < r.id` for the existing-vs-incoming split). */
  private[queries] def lshCtes(candPred: String): String =
    s"""$sigCtes,
       |banded AS (
       |  SELECT id, b.b AS band,
       |    array_to_string(list_transform(sig[b.b*4+1:b.b*4+4], x -> CAST(x AS VARCHAR)), '_') AS bucket
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
       |cands AS (
       |  SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.bucket = r.bucket AND $candPred),
       |h60 AS (
       |  SELECT id, list_distinct(list_transform(ds,
       |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hs60
       |  FROM shd),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.hs60, b.hs60)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(a.hs60, b.hs60))) AS DOUBLE) AS jaccard
       |  FROM cands c JOIN h60 a ON c.id_a = a.id JOIN h60 b ON c.id_b = b.id)""".stripMargin

  /** 16 minhash components as DuckDB SQL list entries — affine family over
    * one md5-derived base hash, mirroring Dedup.minhashSignatures. */
  private def minhashSigSql: String =
    (0 until 16).map { j =>
      val a = (j + 1L) * 1000003L
      val b = j * 999983L
      s"list_min(list_transform(hs, h -> ($a * h + $b) % 2147483647))"
    }.mkString("[", ",\n      ", "]")

  /** sim2 oracle building blocks: explicit left-associative term chains
    * (`0.0 + t1 + t2 + …`) matching the sequential accumulation of both
    * Spark's HOF fold and DotProductF, with the hyperplane components
    * embedded as round-trip double literals (same md5 family as
    * [[graft.operators.Similarity.planeComponent]]). */
  private[queries] def sqlDotChain(a: String, b: String): String =
    "0.0" + (0 until 64).map(i =>
      s" + CAST($a[${i + 1}] AS DOUBLE) * CAST($b[${i + 1}] AS DOUBLE)")
      .mkString
  private def sqlProjChain(alias: String, plane: Int,
                           seed: Int = 42): String =
    "0.0" + (0 until 64).map { i =>
      val c = graft.operators.Similarity.planeComponent(seed, plane, i)
      s" + CAST($alias[${i + 1}] AS DOUBLE) * (${dlit(c)})"
    }.mkString

  /** 60 per-bit majority-vote sums / signature terms for the simhash
    * oracle — generated, since hand-writing 60 bit expressions is the
    * only thing that made this oracle "impractical". */
  private def simhashBitSums: String =
    (0 until 60).map(j => s"SUM((h >> $j) & 1) AS c_$j").mkString(", ")
  private def simhashSigTerms: String =
    (0 until 60).map(j =>
      s"CASE WHEN 2 * c_$j > n THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END")
      .mkString(" + ")

  /** DuckDB fragment matching [[Sampling.bucket]] (same md5 family). */
  /** s16's DSIR chain as DuckDB CTEs ending in
    * `dsirw (doc_id, n_terms, logw_micro)` — the oracle twin of
    * [[dsirWeights]], shared by s16 and s18. */
  private def dsirCtes: String =
    s"""tok AS (
       |  SELECT doc_id, lang = 'en' AS tgt,
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(string_split($normSql, ' ')) AS t
       |        FROM documents)),
       |dist AS (
       |  SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
       |    COUNT(*) AS cr
       |  FROM tok GROUP BY 1),
       |tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM dist),
       |ratio AS (
       |  SELECT b, CAST(FLOOR(1000000.0 * (
       |      ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 64 AS DOUBLE)) -
       |      ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 64 AS DOUBLE))))
       |    AS BIGINT) AS lr_micro
       |  FROM dist CROSS JOIN tot),
       |dsirw AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |    CAST(SUM(lr_micro) AS BIGINT) AS logw_micro
       |  FROM tok JOIN ratio USING (b) GROUP BY 1)""".stripMargin

  private def bucketSql(salt: String, key: String): String =
    s"CAST(('0x' || substr(md5('$salt' || ':' || CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) % 1000"

  /** Double literal for DuckDB that is guaranteed to PARSE AS DOUBLE:
    * a plain decimal literal becomes DECIMAL, and DuckDB's
    * DECIMAL→DOUBLE conversion is off by 1 ulp for some 17-digit values
    * (probed — it broke sim8's ADC sums). An exponent suffix forces the
    * correctly-rounded string→double path; Scala's Double.toString is
    * round-trippable, so the engines then agree bit-for-bit. */
  private def dlit(c: Double): String = {
    val s = c.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** PQ constants mirrored by both the Spark queries (sim7/sim8 use the
    * [[graft.operators.ProductQuantization]] defaults) and the generated
    * oracle SQL below. */
  private val PqM = 8
  private val PqK = 8
  private val PqSub = 8
  private val PqSeed = 11

  /** One squared-L2 subvector-to-centroid chain, identical association to
    * ProductQuantization.subDist: 0.0 + d*d + … with round-trip double
    * centroid literals. */
  private def pqChain(vecAlias: String, mi: Int, ki: Int): String =
    "0.0" + (0 until PqSub).map { j =>
      val c = graft.operators.ProductQuantization
        .centroidComponent(PqSeed, PqM, PqK, mi, ki, j)
      val e = s"CAST($vecAlias[${mi * PqSub + j + 1}] AS DOUBLE) - (${dlit(c)})"
      s" + ($e) * ($e)"
    }.mkString

  /** PQ encode as DuckDB CTEs ending in `enc` (vec_id, embedding,
    * code_0..code_7): distance matrix → per-subspace LEAST → first-match
    * CASE (ties to the lowest code word, same as the Spark side). */
  private def pqEncCtes: String = {
    val sCols = (for { mi <- 0 until PqM; ki <- 0 until PqK }
      yield s"${pqChain("embedding", mi, ki)} AS s_${mi}_$ki")
      .mkString(",\n    ")
    val gCols = (0 until PqM).map(mi =>
      s"LEAST(${(0 until PqK).map(ki => s"s_${mi}_$ki").mkString(", ")}) AS g_$mi")
      .mkString(",\n    ")
    val codeCols = (0 until PqM).map { mi =>
      "CASE " + (0 until PqK).map(ki =>
        s"WHEN s_${mi}_$ki = g_$mi THEN $ki").mkString(" ") +
        s" END AS code_$mi"
    }.mkString(",\n    ")
    s"""pqs AS (
       |  SELECT vec_id, embedding,
       |    $sCols
       |  FROM embeddings),
       |pqg AS (
       |  SELECT *,
       |    $gCols
       |  FROM pqs),
       |enc AS (
       |  SELECT vec_id, embedding,
       |    $codeCols
       |  FROM pqg)""".stripMargin
  }

  private def sim7Sql: String = {
    val packed = "CAST(0 AS BIGINT)" + (0 until PqM).map(mi =>
      s" + CAST(code_$mi AS BIGINT) * ${1L << (8 * mi)}").mkString
    s"""WITH $pqEncCtes
       |SELECT vec_id, $packed AS pq_code FROM enc""".stripMargin
  }

  private def sim8Sql: String = {
    val lutCols = (0 until PqM).map(mi =>
      "[" + (0 until PqK).map(ki => pqChain("embedding", mi, ki))
        .mkString(",\n      ") + s"] AS lut_$mi").mkString(",\n    ")
    val dist = "0.0" + (0 until PqM).map(mi =>
      s" + lut_$mi[code_$mi + 1]").mkString
    s"""WITH $pqEncCtes,
       |lut AS (
       |  SELECT vec_id AS query_id,
       |    $lutCols
       |  FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT l.query_id, e.vec_id AS corpus_id, $dist AS adc_dist
       |  FROM enc e CROSS JOIN lut l WHERE l.query_id <> e.vec_id)
       |SELECT query_id, corpus_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, corpus_id ASC) AS rk FROM scored)
       |WHERE rk <= 10""".stripMargin
  }

  /** km1 oracle: the three Lloyd rounds UNROLLED as generated CTE pairs
    * (assignment a_r, centroids cents_r) — possible because every step is
    * exact: integer squared L2 (order-free sums), floored integer centroid
    * means (one correctly-rounded double division from exact inputs), ties
    * to the lowest cluster. Mirrors [[graft.operators.KMeans.fit]]. */
  private def kmDistSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"

  /** Shared Lloyd-unroll CTE chain: `pts`, `cents_0`, then per round r an
    * assignment `a_r` and updated centroids `cents_r`. Usable because
    * every step is exact (see [[graft.operators.KMeans]]). */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""a_$r AS (
         |  SELECT id, cluster, dist FROM (
         |    SELECT p.id, c.cluster, ${kmDistSql("p.qv", "c.cv")} AS dist,
         |      ROW_NUMBER() OVER (PARTITION BY p.id
         |        ORDER BY ${kmDistSql("p.qv", "c.cv")} ASC, c.cluster ASC) AS rn
         |    FROM pts p CROSS JOIN cents_${r - 1} c) WHERE rn = 1),
         |cents_$r AS (
         |  SELECT cluster, list(c ORDER BY dim) AS cv FROM (
         |    SELECT a.cluster, d.i AS dim,
         |      CAST(FLOOR(CAST(CAST(SUM(p.qv[d.i]) AS BIGINT) AS DOUBLE) /
         |        CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
         |    FROM a_$r a JOIN pts p USING (id)
         |    CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
         |    GROUP BY a.cluster, d.i)
         |  GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""pts AS (
       |  SELECT vec_id AS id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |cents_0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cluster,
       |    qv AS cv
       |  FROM pts ORDER BY id LIMIT $k),
       |$rounds""".stripMargin
  }

  private def km1Sql: String =
    s"""WITH ${kmeansCtes(4, 3)}
       |SELECT id AS vec_id, CAST(cluster AS INTEGER) AS cluster, dist
       |FROM a_3""".stripMargin

  /** sim12 oracle: top-20 exact-cosine candidates per query, then the 10
    * greedy MMR steps UNROLLED — each step scores the remaining
    * candidates against the selected set (max pairwise cosine via the
    * same integer dots), picks the per-query argmax (ties: lowest
    * corpus_id), and appends it to the selection. Literals 0.7e0/0.3e0
    * parse to the same doubles as the operator's lambda/mu parameters. */
  private def sim12Sql: String = {
    def cosSql(a: String, b: String) =
      s"(CAST(CAST(list_sum(list_transform(range(1, 65), " +
        s"i -> $a.qv[i] * $b.qv[i])) AS BIGINT) AS DOUBLE) / " +
        s"(sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE))))"
    val steps = (1 to 10).map { i =>
      val prev = s"sel_${i - 1}"
      s"""sc_$i AS MATERIALIZED (
         |  SELECT c.query_id, c.corpus_id, c.qv, c.nrm,
         |    0.7e0 * c.cos_sim - 0.3e0 * COALESCE(m.maxsel, 0.0e0) AS score
         |  FROM cand c
         |  LEFT JOIN (
         |    SELECT c2.query_id, c2.corpus_id,
         |      MAX(${cosSql("c2", "s")}) AS maxsel
         |    FROM cand c2 JOIN $prev s ON c2.query_id = s.query_id
         |    GROUP BY c2.query_id, c2.corpus_id) m
         |    ON c.query_id = m.query_id AND c.corpus_id = m.corpus_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s
         |    WHERE s.query_id = c.query_id
         |      AND s.corpus_id = c.corpus_id)),
         |pk_$i AS MATERIALIZED (
         |  SELECT query_id, corpus_id, qv, nrm, score, $i AS step FROM (
         |    SELECT query_id, corpus_id, qv, nrm, score,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, corpus_id ASC) AS rn
         |    FROM sc_$i) t WHERE rn = 1),
         |sel_$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL
         |  SELECT query_id, corpus_id, qv, nrm, score, step FROM pk_$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |nr AS MATERIALIZED (SELECT * FROM (
       |  SELECT vec_id, qv,
       |    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))
       |      AS BIGINT) AS nrm FROM pts) z WHERE nrm > 0),
       |sc0 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, c.qv, c.nrm,
       |    ${cosSql("q", "c")} AS cos_sim
       |  FROM nr q JOIN nr c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (SELECT query_id, corpus_id, qv, nrm, cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, corpus_id ASC) AS rk FROM sc0) t
       |  WHERE rk <= 20),
       |sel_0 AS MATERIALIZED (SELECT query_id, corpus_id, qv, nrm, 0.0e0 AS score,
       |  0 AS step FROM cand WHERE FALSE),
       |$steps
       |SELECT query_id, CAST(step AS INTEGER) AS step, corpus_id,
       |  score AS mmr_score
       |FROM sel_10""".stripMargin
  }

  /** km2 oracle: the k=8 Lloyd unroll, then query routing against
    * `cents_2` (the centroid set the FINAL assignment a_3 used — same
    * contract as KMeans.fitWithCentroids) and quantized cosine over the
    * probed cells, sim1's exact-integer formulation. */
  private def km2Sql: String = {
    val qnrm =
      "CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT)"
    s"""WITH ${kmeansCtes(8, 3)},
       |qn AS (
       |  SELECT * FROM (
       |    SELECT id AS query_id, qv, $qnrm AS qnrm
       |    FROM pts WHERE id < 5) z WHERE qnrm > 0),
       |probes AS (
       |  SELECT query_id, qv, qnrm, cell FROM (
       |    SELECT q.query_id, q.qv, q.qnrm, c.cluster AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${kmDistSql("q.qv", "c.cv")} ASC, c.cluster ASC) AS rn
       |    FROM qn q CROSS JOIN cents_2 c) WHERE rn <= 3),
       |cn AS (
       |  SELECT * FROM (
       |    SELECT p.id AS corpus_id, p.qv, $qnrm AS nrm, a.cluster AS cell
       |    FROM pts p JOIN a_3 a USING (id)) z WHERE nrm > 0),
       |scored AS (
       |  SELECT pr.query_id, c.corpus_id,
       |    CAST(CAST(list_sum(list_transform(range(1, 65),
       |      i -> pr.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE) /
       |    (sqrt(CAST(pr.qnrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos_sim
       |  FROM probes pr JOIN cn c ON pr.cell = c.cell
       |  WHERE pr.query_id <> c.corpus_id)
       |SELECT query_id, corpus_id, cos_sim, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, corpus_id ASC) AS rk FROM scored)
       |WHERE rk <= 10""".stripMargin
  }

  /** sim10 oracle: exact squared-L2 top-10 — the identical fused-dot
    * chains in the identical association as the Spark side's expanded
    * ||q||² − 2·q·c + ||c||² — joined against the sim8 ADC ranking. The
    * recall of codes against exact distances is pure quantization loss. */
  private def sim10Sql: String = {
    val qq = sqlDotChain("q.embedding", "q.embedding")
    val qc = sqlDotChain("q.embedding", "c.embedding")
    val cc = sqlDotChain("c.embedding", "c.embedding")
    s"""WITH exd AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    ($qq) - 2.0e0 * ($qc) + ($cc) AS l2
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |ex AS (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY l2 ASC, corpus_id ASC) AS rk FROM exd)
       |  WHERE rk <= 10),
       |pq AS ($sim8Sql),
       |hits AS (
       |  SELECT e.query_id, COUNT(*) AS n_hits
       |  FROM ex e JOIN pq p
       |    ON e.query_id = p.query_id AND e.corpus_id = p.corpus_id
       |  GROUP BY e.query_id)
       |SELECT q.query_id, COALESCE(n_hits, 0) AS n_hits,
       |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 10.0 AS recall
       |FROM (SELECT DISTINCT query_id FROM ex) q
       |LEFT JOIN hits USING (query_id)""".stripMargin
  }

  /** sim9 oracle: the sim3 cell-assignment/probe CTEs (seed 7, 8 cells,
    * nprobe 3) composed with the sim7/sim8 PQ-code and LUT CTEs — the
    * join graph of an IVF-PQ index, every float chain bit-exact. */
  private def sim9Sql: String = {
    val scores = (0 until 8).map(p =>
      s"(${sqlProjChain("embedding", p, seed = 7)}) AS s$p").mkString(",\n  ")
    val cellCase = "CASE " + (0 until 8).map(p =>
      s"WHEN s$p = g THEN $p").mkString(" ") + " END"
    val probeScore = "CASE c.c " + (0 until 8).map(p =>
      s"WHEN $p THEN s$p").mkString(" ") + " END"
    val lutCols = (0 until PqM).map(mi =>
      "[" + (0 until PqK).map(ki => pqChain("embedding", mi, ki))
        .mkString(",\n      ") + s"] AS lut_$mi").mkString(",\n    ")
    val dist = "0.0" + (0 until PqM).map(mi =>
      s" + l.lut_$mi[ce.code_$mi + 1]").mkString
    val codeList = (0 until PqM).map(mi => s"e.code_$mi").mkString(", ")
    s"""WITH $pqEncCtes,
       |base AS (
       |  SELECT vec_id, embedding,
       |  $scores
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id AS corpus_id, $cellCase AS cell
       |  FROM (SELECT *, GREATEST(s0,s1,s2,s3,s4,s5,s6,s7) AS g FROM base)),
       |cenc AS (
       |  SELECT a.corpus_id, a.cell, $codeList
       |  FROM assigned a JOIN enc e ON a.corpus_id = e.vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT b.vec_id, c.c AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY $probeScore DESC, c.c DESC) AS rn
       |    FROM base b CROSS JOIN (SELECT unnest(range(0, 8)) AS c) c
       |    WHERE b.vec_id < 5) WHERE rn <= 3),
       |lut AS (
       |  SELECT vec_id AS query_id,
       |    $lutCols
       |  FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT p.query_id, ce.corpus_id, $dist AS adc_dist
       |  FROM probes p JOIN cenc ce ON p.cell = ce.cell
       |  JOIN lut l ON l.query_id = p.query_id
       |  WHERE p.query_id <> ce.corpus_id)
       |SELECT query_id, corpus_id, adc_dist, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, corpus_id ASC) AS rk FROM scored)
       |WHERE rk <= 10""".stripMargin
  }

  /** BM25 probe terms, df spread rare→ubiquitous on the synthetic corpus
    * (sf0.01: "dup" df=25/500, "key" 373, "the" 382, "batch" 402) — so the
    * idf term actually discriminates across the set. */
  private[queries] val bm25Terms: Seq[String] = Seq("dup", "key", "the", "batch")

  /** ir1 oracle, generated from the SAME [[bm25Terms]] the query uses: the
    * score is the identical left-associative per-term chain as
    * [[graft.operators.Retrieval.bm25]] — every double sub-expression
    * (idf, length norm, avgdl) written in the same association order, and
    * all constants (k1=1.2, b=0.75, 1-b, k1+1) interpolated from the same
    * Scala doubles so both engines parse the identical values. */
  private[queries] def bm25Sql: String = {
    val k1 = 1.2
    val b = 0.75
    val tfCols = bm25Terms.map(t =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n    ")
    val dfAggs = bm25Terms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n    ")
    // one shared length-norm value, same association as the Spark side:
    // k1 * ((1-b) + (b * dl) / (sdl / n))
    val lenNorm = s"($k1 * (${1 - b} + ($b * CAST(dl AS DOUBLE)) / " +
      "(CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))"
    val chain = "0.0" + bm25Terms.map { t =>
      val idf = s"(CAST(FLOOR(ln((CAST(n AS DOUBLE) - CAST(df_$t AS DOUBLE) " +
        s"+ 0.5) / (CAST(df_$t AS DOUBLE) + 0.5) + 1.0) * 1e6) AS DOUBLE) / 1e6)"
      s" +\n  $idf * (CAST(tf_$t AS DOUBLE) * ${k1 + 1}) / " +
        s"(CAST(tf_$t AS DOUBLE) + $lenNorm)"
    }.mkString
    s"""WITH base AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS toks,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS dl
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, dl,
       |    $tfCols
       |  FROM base),
       |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sdl,
       |    $dfAggs FROM tf)
       |SELECT doc_id, dl, ${bm25Terms.map(t => s"tf_$t").mkString(", ")},
       |  $chain AS bm25
       |FROM tf CROSS JOIN stats""".stripMargin
  }

  /** ir11 oracle: the bm25Sql chain over FIELD-WEIGHTED tf/dl (title =
    * first 5 tokens ×2, body ×1) — sub-expression-identical to the Spark
    * side's simple-BM25F fold. */
  private def bm25fSql: String = {
    val k1 = 1.2
    val b = 0.75
    val tfCols = bm25Terms.map(t =>
      s"CAST(2 * len(list_filter(title, x -> x = '$t')) + " +
        s"len(list_filter(body, x -> x = '$t')) AS BIGINT) AS wtf_$t")
      .mkString(",\n    ")
    val dfAggs = bm25Terms.map(t =>
      s"CAST(SUM(CASE WHEN wtf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n    ")
    val lenNorm = s"($k1 * (${1 - b} + ($b * CAST(wdl AS DOUBLE)) / " +
      "(CAST(swdl AS DOUBLE) / CAST(n AS DOUBLE))))"
    val chain = "0.0" + bm25Terms.map { t =>
      val idf = s"(CAST(FLOOR(ln((CAST(n AS DOUBLE) - CAST(df_$t AS DOUBLE) " +
        s"+ 0.5) / (CAST(df_$t AS DOUBLE) + 0.5) + 1.0) * 1e6) AS DOUBLE) / 1e6)"
      s" +\n  $idf * (CAST(wtf_$t AS DOUBLE) * ${k1 + 1}) / " +
        s"(CAST(wtf_$t AS DOUBLE) + $lenNorm)"
    }.mkString
    s"""WITH base AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS toks
       |  FROM documents),
       |fields AS (
       |  SELECT doc_id, toks[1:5] AS title, toks[6:len(toks)] AS body
       |  FROM base),
       |tf AS (
       |  SELECT doc_id,
       |    CAST(2 * len(title) + len(body) AS BIGINT) AS wdl,
       |    $tfCols
       |  FROM fields),
       |stats AS (SELECT COUNT(*) AS n, CAST(SUM(wdl) AS BIGINT) AS swdl,
       |    $dfAggs FROM tf)
       |SELECT doc_id, wdl, ${bm25Terms.map(t => s"wtf_$t").mkString(", ")},
       |  $chain AS bm25f
       |FROM tf CROSS JOIN stats""".stripMargin
  }

  /** ir6 oracle, generated from the SAME [[bm25Terms]]: per-term Dirichlet
    * log-probability floor-quantized to micro-nats (bigint) before the
    * exact integer sum — mirrors
    * [[graft.operators.Retrieval.queryLikelihood]] sub-expression for
    * sub-expression (mu = 2000 interpolated from the same Scala double). */
  private def qlmSql: String = {
    val mu = 2000.0
    val tfCols = bm25Terms.map(t =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n    ")
    val cfAggs = bm25Terms.map(t =>
      s"CAST(SUM(tf_$t) AS BIGINT) AS cf_$t").mkString(",\n    ")
    val chain = bm25Terms.map { t =>
      s"CASE WHEN cf_$t = 0 THEN 0 ELSE " +
        s"CAST(FLOOR(ln((CAST(tf_$t AS DOUBLE) + ${mu}e0 * " +
        s"(CAST(cf_$t AS DOUBLE) / CAST(ctot AS DOUBLE))) / " +
        s"(CAST(dl AS DOUBLE) + ${mu}e0)) * 1e6) AS BIGINT) END"
    }.mkString(" +\n  ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS toks,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS dl
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, dl,
       |    $tfCols
       |  FROM base),
       |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS ctot,
       |    $cfAggs FROM tf)
       |SELECT doc_id, dl, ${bm25Terms.map(t => s"tf_$t").mkString(", ")},
       |  CAST($chain AS BIGINT) AS qlm_micro
       |FROM tf CROSS JOIN stats""".stripMargin
  }

  /** lm1 oracle: per-token ln p quantized to integer micro-nats BEFORE the
    * per-document sum (matching [[graft.operators.Retrieval.unigramSurprisal]])
    * so the reduction is exact integer math; only the final mean divides in
    * doubles, in the same order. 1e6 literals (not 1000000.0) keep DuckDB in
    * DOUBLE arithmetic rather than DECIMAL. */
  private def tx9Sql: String =
    s"""WITH t AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt,
         |    len(regexp_extract_all(lower(text), '$stopPat')) AS nsw,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np,
         |    length(text) AS tlen,
         |    string_split($normSql, ' ') AS toks,
         |    len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|that|it|was)\\b')) AS s_en,
         |    len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|zu)\\b')) AS s_de,
         |    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une|que|pour)\\b')) AS s_fr,
         |    len(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|una|que|por)\\b')) AS s_es
         |  FROM documents),
         |b AS (
         |  SELECT *, CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 1),
         |      i -> array_to_string(toks[i+1:i+2], ' ')) END AS bigrams
         |  FROM t),
         |r AS (
         |  SELECT doc_id,
         |    nt < 50 AS r1,
         |    CAST(nsw AS DOUBLE) / CAST(GREATEST(nt, 1) AS DOUBLE) < 0.05e0 AS r2,
         |    CAST(np AS DOUBLE) / CAST(GREATEST(tlen, 1) AS DOUBLE) > 0.3e0 AS r3,
         |    1.0e0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) /
         |      CAST(GREATEST(len(bigrams), 1) AS DOUBLE) > 0.3e0 AS r4,
         |    COALESCE(greatest(s_en, s_de, s_fr, s_es), 0) = 0 AS r5
         |  FROM b)
         |SELECT doc_id, NOT (r1 OR r2 OR r3 OR r4 OR r5) AS keep,
         |  concat_ws(',',
         |    CASE WHEN r1 THEN 'too_short' END,
         |    CASE WHEN r2 THEN 'low_stopword' END,
         |    CASE WHEN r3 THEN 'high_punct' END,
         |    CASE WHEN r4 THEN 'repetitive' END,
         |    CASE WHEN r5 THEN 'unknown_lang' END) AS fail_reasons
         |FROM r""".stripMargin

  private def lm1Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
       |counts AS (SELECT token, COUNT(*) AS cnt FROM tf GROUP BY token),
       |total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts),
       |probs AS (
       |  SELECT token, CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
       |    * 1e6) AS BIGINT) AS micro_nats
       |  FROM counts CROSS JOIN total)
       |SELECT doc_id, COUNT(*) AS n_toks,
       |  CAST(SUM(micro_nats) AS BIGINT) AS sum_micro_nats,
       |  (-CAST(CAST(SUM(micro_nats) AS BIGINT) AS DOUBLE)) / 1e6 /
       |    CAST(COUNT(*) AS DOUBLE) AS mean_surprisal_nats
       |FROM tf JOIN probs USING (token)
       |GROUP BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "tx24_source_jsd" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nt
         |        FROM tc GROUP BY 1),
         |pairs AS (SELECT a.source AS src_a, a.nt AS n_a,
         |                 b.source AS src_b, b.nt AS n_b
         |          FROM tot a JOIN tot b ON a.source < b.source),
         |ea AS (
         |  SELECT p.src_a, p.src_b,
         |    ta.n * CAST(FLOOR(ln(
         |      (2.0e0 * CAST(ta.n * p.n_b AS DOUBLE)) /
         |      CAST(ta.n * p.n_b + COALESCE(tb.n, 0) * p.n_a AS DOUBLE))
         |      * 1e6) AS BIGINT) AS term
         |  FROM pairs p
         |  JOIN tc ta ON ta.source = p.src_a
         |  LEFT JOIN tc tb ON tb.source = p.src_b AND tb.token = ta.token),
         |sa AS (SELECT src_a, src_b, CAST(SUM(term) AS BIGINT) AS s_a
         |       FROM ea GROUP BY 1, 2),
         |eb AS (
         |  SELECT p.src_a, p.src_b,
         |    tb.n * CAST(FLOOR(ln(
         |      (2.0e0 * CAST(tb.n * p.n_a AS DOUBLE)) /
         |      CAST(tb.n * p.n_a + COALESCE(ta.n, 0) * p.n_b AS DOUBLE))
         |      * 1e6) AS BIGINT) AS term
         |  FROM pairs p
         |  JOIN tc tb ON tb.source = p.src_b
         |  LEFT JOIN tc ta ON ta.source = p.src_a AND ta.token = tb.token),
         |sb AS (SELECT src_a, src_b, CAST(SUM(term) AS BIGINT) AS s_b
         |       FROM eb GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b,
         |  CAST(((sa.s_a // p.n_a) + (sb.s_b // p.n_b)) // 2 AS BIGINT)
         |    AS jsd_micro
         |FROM pairs p
         |JOIN sa ON sa.src_a = p.src_a AND sa.src_b = p.src_b
         |JOIN sb ON sb.src_a = p.src_a AND sb.src_b = p.src_b""".stripMargin,
    "tx25_pareto_skyline" ->
      s"""WITH st AS (
         |  SELECT doc_id, source, n_chars AS x,
         |    len(list_filter(string_split($normSql, ' '),
         |      t -> length(t) > 0)) AS n_toks,
         |    len(list_distinct(list_filter(string_split($normSql, ' '),
         |      t -> length(t) > 0))) AS n_types
         |  FROM documents),
         |xy AS (SELECT doc_id, source, x,
         |         (n_types * 1000000) // n_toks AS y
         |       FROM st WHERE n_toks > 0),
         |sc AS (SELECT source, doc_id, x, y,
         |         MAX(y) OVER (PARTITION BY source
         |           ORDER BY x DESC, y DESC, doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS prev_max
         |       FROM xy)
         |SELECT source, doc_id, CAST(x AS BIGINT) AS x,
         |  CAST(y AS BIGINT) AS y
         |FROM sc WHERE prev_max IS NULL OR y > prev_max""".stripMargin,
    "sim14_hard_negatives" ->
      s"""WITH ${normedSql("label, ")},
        |p AS (
        |  SELECT q.vec_id AS query_id, CAST(q.label AS INTEGER) AS q_label,
        |    c.vec_id AS corpus_id, CAST(c.label AS INTEGER) AS neg_label,
        |    ${cosineSql("q", "c")}
        |      AS cos_sim
        |  FROM n q, n c
        |  WHERE q.vec_id < 20 AND c.label <> q.label)
        |SELECT query_id, q_label, corpus_id, neg_label, cos_sim, rk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id ASC) AS BIGINT) AS rk FROM p) t
        |WHERE rk <= 5""".stripMargin,
    "pk5_epoch_shuffle" ->
      """WITH ep AS (SELECT 0 AS epoch UNION ALL SELECT 1),
        |k AS (SELECT ep.epoch, d.doc_id,
        |        md5(concat(d.doc_id, '_', ep.epoch)) AS k
        |      FROM documents d CROSS JOIN ep),
        |r AS (SELECT epoch, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY epoch
        |          ORDER BY k, doc_id) AS ordinal
        |      FROM k)
        |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
        |  CAST(ordinal AS BIGINT) AS ordinal,
        |  CAST((ordinal - 1) // 64 AS BIGINT) AS shard
        |FROM r""".stripMargin,
    "fe12_hashed_features" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |h AS (SELECT doc_id,
         |        CAST(('0x' || substr(md5('fh:' || token), 1, 15))
         |          AS BIGINT) % 128 AS bucket,
         |        CASE WHEN CAST(('0x' || substr(md5('fs:' || token), 1, 15))
         |          AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |      FROM t)
         |SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS feat_val,
         |  CAST(COUNT(*) AS BIGINT) AS n_toks
         |FROM h GROUP BY 1, 2""".stripMargin,
    "s9_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT d.doc_id, d.n_chars, t.r AS rep
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(range(0, 50)) AS r) t
        |  WHERE CAST(('0x' || substr(md5('bs' || t.r || ':' ||
        |    CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 800),
        |m AS (SELECT rep, (SUM(n_chars) * 1000000) // COUNT(*)
        |        AS mean_micro
        |      FROM reps GROUP BY 1),
        |rk AS (SELECT mean_micro,
        |         ROW_NUMBER() OVER (ORDER BY mean_micro, rep) AS rk
        |       FROM m)
        |SELECT CAST(COUNT(*) AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN rk = 3 THEN mean_micro END) AS BIGINT)
        |    AS lo_micro,
        |  CAST(SUM(CASE WHEN rk = 48 THEN mean_micro END) AS BIGINT)
        |    AS hi_micro
        |FROM rk""".stripMargin,
    "s13_horvitz_thompson" -> {
      val gate = "CAST(('0x' || substr(md5('sample:' || " +
        "CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 250"
      s"""WITH est AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
         |    CAST(SUM(n_chars) * 1000 // 250 AS BIGINT) AS ht_total
         |  FROM documents WHERE $gate),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         |        CAST(SUM(n_chars) AS BIGINT) AS true_total
         |      FROM documents)
         |SELECT n_sampled, n_total, ht_total, true_total,
         |  CAST(abs(ht_total - true_total) * 1000000 // true_total
         |    AS BIGINT) AS rel_err_micro
         |FROM est CROSS JOIN t""".stripMargin
    },
    "s10_kcenter_coreset" -> {
      // one farthest-first round: argmax-of-min pick, then the strict-<
      // min/assignment update (matching Coreset.kCenterGreedy exactly)
      def round(i: Int): String =
        s"""c$i AS (SELECT vec_id, qv FROM s${i - 1}
           |       ORDER BY min_d2 DESC, vec_id LIMIT 1),
           |s$i AS (
           |  SELECT vec_id, qv,
           |    CASE WHEN nd < min_d2 THEN nd ELSE min_d2 END AS min_d2,
           |    CASE WHEN nd < min_d2 THEN cid ELSE assigned END AS assigned
           |  FROM (
           |    SELECT s.vec_id, s.qv, s.min_d2, s.assigned,
           |      c.vec_id AS cid,
           |      CAST(list_sum(list_transform(range(1, len(s.qv) + 1),
           |        i -> (s.qv[i] - c.qv[i]) * (s.qv[i] - c.qv[i])))
           |        AS BIGINT) AS nd
           |    FROM s${i - 1} s CROSS JOIN c$i c) t)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c1 AS (SELECT vec_id, qv FROM e ORDER BY vec_id LIMIT 1),
         |s1 AS (
         |  SELECT e.vec_id, e.qv,
         |    CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
         |      i -> (e.qv[i] - c.qv[i]) * (e.qv[i] - c.qv[i])))
         |      AS BIGINT) AS min_d2,
         |    c.vec_id AS assigned
         |  FROM e CROSS JOIN c1 c),
         |${(2 to 4).map(round).mkString(",\n")}
         |SELECT vec_id AS pid, assigned, min_d2,
         |  vec_id IN (SELECT vec_id FROM c1 UNION ALL
         |             SELECT vec_id FROM c2 UNION ALL
         |             SELECT vec_id FROM c3 UNION ALL
         |             SELECT vec_id FROM c4) AS is_center
         |FROM s4""".stripMargin
    },
    "tx27_token_dispersion" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tc AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS fi
         |       FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
         |sz AS (SELECT source, CAST(SUM(fi) AS BIGINT) AS si
         |       FROM tc GROUP BY 1),
         |tot AS (SELECT CAST(SUM(si) AS BIGINT) AS s_tot FROM sz),
         |fr AS (SELECT token, CAST(SUM(fi) AS BIGINT) AS f
         |       FROM tc GROUP BY 1 HAVING SUM(fi) >= 50),
         |terms AS (
         |  SELECT tc.token, fr.f, tot.s_tot, sz.si,
         |    abs(CAST(tc.fi AS HUGEINT) * tot.s_tot -
         |        CAST(sz.si AS HUGEINT) * fr.f) AS term
         |  FROM tc JOIN sz USING (source) JOIN fr USING (token)
         |  CROSS JOIN tot)
         |SELECT token, CAST(MAX(f) AS BIGINT) AS f,
         |  CAST(((SUM(term) + (MAX(s_tot) - SUM(CAST(si AS HUGEINT)))
         |      * MAX(f)) * 1000000)
         |    // (2 * MAX(f) * MAX(s_tot)) AS BIGINT) AS dp_micro
         |FROM terms GROUP BY token""".stripMargin,
    "dd13_strategy_agreement" ->
      s"""WITH $dd2Ctes,
         |mh AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
         |w_d AS (SELECT doc_id AS id, $normSql AS t FROM documents),
         |w_hs AS (
         |  SELECT id, list_transform(range(1, greatest(length(t) - 6, 1) + 1),
         |    i -> CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 7)),
         |      1, 15)) AS BIGINT)) AS hs
         |  FROM w_d),
         |w_wins AS (
         |  SELECT id, list_distinct(list_transform(
         |    range(1, greatest(len(hs) - 3, 1) + 1),
         |    j -> list_min(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)])))
         |    AS fps
         |  FROM w_hs),
         |w_fp AS (SELECT id, len(fps) AS nfp, unnest(fps) AS fp FROM w_wins),
         |w_keep AS (SELECT fp FROM w_fp GROUP BY fp HAVING COUNT(*) <= 50),
         |w_k AS (SELECT w_fp.* FROM w_fp JOIN w_keep USING (fp)),
         |wn AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared,
         |      MAX(least(a.nfp, b.nfp)) AS mnfp
         |    FROM w_k a JOIN w_k b ON a.fp = b.fp AND a.id < b.id
         |    GROUP BY a.id, b.id) z
         |  WHERE CAST(n_shared AS DOUBLE) / CAST(mnfp AS DOUBLE) >= 0.5)
         |SELECT
         |  CAST(SUM(CASE WHEN m.id_a IS NOT NULL AND w.id_a IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN m.id_a IS NOT NULL AND w.id_a IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_minhash_only,
         |  CAST(SUM(CASE WHEN m.id_a IS NULL AND w.id_a IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_winnow_only
         |FROM mh m FULL OUTER JOIN wn w
         |  ON m.id_a = w.id_a AND m.id_b = w.id_b""".stripMargin,
    "sim15_triplet_mining" ->
      s"""WITH ex AS ($sim1Sql),
         |lab AS (
         |  SELECT ex.query_id, ex.corpus_id, ex.cos_sim,
         |    q.label AS q_label, c.label AS c_label
         |  FROM ex JOIN embeddings q ON ex.query_id = q.vec_id
         |          JOIN embeddings c ON ex.corpus_id = c.vec_id),
         |pos AS (
         |  SELECT query_id, corpus_id AS pos_id, cos_sim AS pos_cos
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim ASC, corpus_id ASC) AS rk2
         |        FROM lab WHERE q_label = c_label) z
         |  WHERE rk2 = 1),
         |neg AS (
         |  SELECT query_id, corpus_id AS neg_id, cos_sim AS neg_cos
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, corpus_id ASC) AS rk2
         |        FROM lab WHERE q_label <> c_label) z
         |  WHERE rk2 = 1)
         |SELECT p.query_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
         |  p.pos_cos - n.neg_cos AS margin
         |FROM pos p JOIN neg n USING (query_id)""".stripMargin,
    "ir10_mrr" ->
      s"""WITH ex AS ($sim1Sql),
         |fr AS (SELECT ex.query_id, MIN(ex.rk) AS first_rel
         |       FROM ex JOIN embeddings q ON ex.query_id = q.vec_id
         |               JOIN embeddings c ON ex.corpus_id = c.vec_id
         |       WHERE q.label = c.label GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM ex)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(CASE WHEN COUNT(*) = 0 THEN NULL
         |    ELSE SUM(COALESCE(1000000 // fr.first_rel, 0)) // COUNT(*)
         |  END AS BIGINT) AS mrr_micro
         |FROM qs LEFT JOIN fr USING (query_id)""".stripMargin,
    "tx29_hapax_ratio" ->
      s"""WITH tc AS (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT source, unnest(string_split($normSql, ' ')) AS token
         |    FROM documents) z
         |  WHERE length(token) > 0 GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
         |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hapax,
         |  CAST(SUM(f) AS BIGINT) AS n_tokens,
         |  CAST((SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS hapax_share_micro
         |FROM tc GROUP BY source""".stripMargin,
    "tx28_mattr" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter(string_split($normSql, ' '),
         |    x -> length(x) > 0) AS toks
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
         |  CASE WHEN len(toks) <= 50 THEN
         |    CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
         |      // len(toks)
         |  ELSE
         |    CAST(list_sum(list_transform(range(1, len(toks) - 48),
         |        i -> len(list_distinct(toks[CAST(i AS INTEGER):
         |          CAST(i + 49 AS INTEGER)])))) AS BIGINT) * 1000000
         |      // (CAST(len(toks) - 49 AS BIGINT) * 50)
         |  END AS mattr_micro
         |FROM d WHERE len(toks) > 0""".stripMargin,
    "dd15_cdc_chunking" ->
      s"""WITH d AS (SELECT $normSql AS t FROM documents),
         |cuts AS (
         |  SELECT t, list_filter(range(8, length(t) + 1),
         |    i -> CAST(('0x' || substr(md5(substr(t,
         |      CAST(i - 7 AS INTEGER), 8)), 1, 15)) AS BIGINT) % 64 = 0)
         |    AS c
         |  FROM d),
         |se AS (SELECT t,
         |         list_prepend(1, list_transform(c, x -> x + 1)) AS starts,
         |         list_append(c, length(t)) AS ends
         |       FROM cuts),
         |ch AS (
         |  SELECT unnest(list_filter(list_transform(
         |    range(1, len(starts) + 1),
         |    i -> CASE WHEN ends[i] >= starts[i]
         |         THEN substr(t, CAST(starts[i] AS INTEGER),
         |           CAST(ends[i] - starts[i] + 1 AS INTEGER)) END),
         |    x -> x IS NOT NULL)) AS chunk
         |  FROM se)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(DISTINCT md5(chunk)) AS BIGINT) AS n_distinct,
         |  CAST(SUM(length(chunk)) // COUNT(*) AS BIGINT) AS mean_len,
         |  CAST(MIN(length(chunk)) AS BIGINT) AS min_len,
         |  CAST(MAX(length(chunk)) AS BIGINT) AS max_len
         |FROM ch""".stripMargin,
    "prof4_source_welch_matrix" ->
      """WITH st AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(n_chars AS HUGEINT)) AS sx,
        |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
        |  FROM documents GROUP BY 1)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  a.n AS na, b.n AS nb,
        |  CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) -
        |    CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_diff,
        |  CASE WHEN a.n > 1 AND b.n > 1 THEN
        |    (CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) -
        |     CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE)) /
        |    sqrt(CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE) /
        |           CAST(a.n * (a.n - 1) AS DOUBLE) / CAST(a.n AS DOUBLE) +
        |         CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE) /
        |           CAST(b.n * (b.n - 1) AS DOUBLE) / CAST(b.n AS DOUBLE))
        |  END AS t_stat
        |FROM st a JOIN st b ON a.source < b.source""".stripMargin,
    "s17_raking_weights" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT SUM(n) AS t, COUNT(DISTINCT lang) AS nl
        |        FROM cells),
        |w1 AS (
        |  SELECT lang,
        |    CAST(CAST(n_l0.t AS HUGEINT) * 1000000 // n_l0.nl * 1000000
        |      // (CAST(n_l0.n_l AS HUGEINT) * 1000000) AS BIGINT)
        |      AS w1_micro
        |  FROM (SELECT lang, SUM(n) AS n_l, t, nl
        |        FROM cells CROSS JOIN tot GROUP BY 1, 3, 4) n_l0),
        |c1 AS (SELECT c.lang, c.source, c.n, w1.w1_micro
        |       FROM cells c JOIN w1 USING (lang)),
        |f2 AS (
        |  SELECT source,
        |    CAST(CAST(SUM(n) AS HUGEINT) * 1000000 * 1000000
        |      // SUM(CAST(n AS HUGEINT) * w1_micro) AS BIGINT)
        |      AS f2_micro
        |  FROM c1 GROUP BY 1)
        |SELECT c1.lang, c1.source, CAST(c1.n AS BIGINT) AS n,
        |  c1.w1_micro,
        |  CAST(CAST(c1.w1_micro AS HUGEINT) * f2.f2_micro // 1000000
        |    AS BIGINT) AS w2_micro
        |FROM c1 JOIN f2 USING (source)""".stripMargin,
    "sim19_mahalanobis_ood" ->
      """WITH lanes AS (
        |  SELECT vec_id, i AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
        |      AS BIGINT) AS v
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS t(i)),
        |st AS (
        |  SELECT dim, COUNT(*) AS n, CAST(SUM(v) AS HUGEINT) AS sx,
        |    SUM(CAST(v AS HUGEINT) * v) AS sxx
        |  FROM lanes GROUP BY 1),
        |st2 AS (
        |  SELECT dim, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(n * sxx - sx * sx AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) AS vr
        |  FROM st),
        |terms AS (
        |  SELECT vec_id,
        |    CASE WHEN vr > 0 THEN
        |      CAST(FLOOR(1000000.0 * ((CAST(v AS DOUBLE) - mu) *
        |        (CAST(v AS DOUBLE) - mu) / vr)) AS BIGINT)
        |    ELSE 0 END AS term_micro
        |  FROM lanes JOIN st2 USING (dim))
        |SELECT vec_id, CAST(SUM(term_micro) AS BIGINT) AS md2_micro,
        |  SUM(term_micro) > 128000000 AS ood
        |FROM terms GROUP BY 1""".stripMargin,
    "s16_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_terms, logw_micro FROM dsirw""".stripMargin,
    "lm11_source_unigram_kl" ->
      s"""WITH toks AS (
         |  SELECT source, t AS tok
         |  FROM documents, unnest(string_split($normSql, ' ')) AS u(t)
         |  WHERE length(t) > 0),
         |st AS (SELECT source, tok, COUNT(*) AS cst
         |  FROM toks GROUP BY 1, 2),
         |ct AS (SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct
         |  FROM st GROUP BY 1),
         |ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns
         |  FROM st GROUP BY 1),
         |nc AS (SELECT CAST(SUM(ct) AS BIGINT) AS nc FROM ct),
         |w AS (
         |  SELECT source, ns,
         |    cst * CAST(FLOOR(1e6 * ln(
         |      (CAST(cst AS DOUBLE) / CAST(ns AS DOUBLE)) /
         |      (CAST(ct AS DOUBLE) / CAST(nc AS DOUBLE)))) AS BIGINT)
         |      AS w
         |  FROM st JOIN ct USING (tok) JOIN ns USING (source)
         |  CROSS JOIN nc)
         |SELECT source, ns AS n_tokens,
         |  CAST(SUM(CAST(w AS HUGEINT)) AS DOUBLE) / CAST(ns AS DOUBLE)
         |    AS kl_nat_micro
         |FROM w GROUP BY source, ns""".stripMargin,
    "s19_pps_sampling" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+'))
        |      END AS BIGINT) AS size
        |  FROM documents),
        |c AS (SELECT doc_id, size,
        |    CAST(SUM(size) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(size) OVER () AS BIGINT) AS total
        |  FROM d),
        |f AS (SELECT doc_id, size, cum, total // 100 AS step
        |  FROM c WHERE total // 100 > 0)
        |SELECT doc_id, size, cum,
        |  CAST(cum // step - (cum - size) // step AS BIGINT) AS n_hits,
        |  CAST(step AS BIGINT) AS step
        |FROM f WHERE cum // step - (cum - size) // step > 0"""
        .stripMargin,
    "s18_importance_resampling" ->
      s"""WITH $dsirCtes,
         |w AS (SELECT doc_id, n_terms, logw_micro,
         |    CAST(FLOOR(CAST(logw_micro AS DOUBLE) /
         |      CAST(n_terms AS DOUBLE)) AS BIGINT) AS avg_micro
         |  FROM dsirw),
         |wm AS (SELECT MAX(avg_micro) AS wmax FROM w),
         |g AS (SELECT doc_id, n_terms, logw_micro, avg_micro, wmax,
         |    CAST(FLOOR(ln((CAST(${bucketSql("sir", "doc_id")}
         |        AS DOUBLE) + 0.5e0) / 1000.0e0) * 1e6) AS BIGINT)
         |      AS lnu_micro
         |  FROM w CROSS JOIN wm)
         |SELECT doc_id, n_terms, logw_micro, avg_micro, lnu_micro
         |FROM g WHERE lnu_micro < avg_micro - wmax""".stripMargin,
    "mix7_doremi_step" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n,
        |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS bad
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT SUM(n) AS tn, SUM(bad) AS tbad,
        |        COUNT(*) AS k FROM per),
        |m AS (
        |  SELECT source, n, k,
        |    bad * 1000000 // n - tbad * 1000000 // tn AS excess_micro
        |  FROM per CROSS JOIN tot),
        |m2 AS (
        |  SELECT source, n, k, excess_micro,
        |    CAST(FLOOR(1000000.0 * exp(
        |      0.5 * CAST(excess_micro AS DOUBLE) / 1000000.0))
        |      AS BIGINT) AS mult_micro
        |  FROM m),
        |ms AS (SELECT SUM(mult_micro) AS ms FROM m2)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST(excess_micro AS BIGINT) AS excess_micro, mult_micro,
        |  CAST(mult_micro * 1000000 // ms * 99 // 100
        |    + 1000000 // (100 * k) AS BIGINT) AS weight_micro
        |FROM m2 CROSS JOIN ms""".stripMargin,
    "tx33_fertility" ->
      """WITH d AS (
        |  SELECT lang, source, length(text) AS nc,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS nw,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS nb
        |  FROM documents)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  CAST(SUM(nw) AS BIGINT) AS n_tokens_ws,
        |  CAST(SUM(nb) AS BIGINT) AS n_tokens_bpeish,
        |  CASE WHEN SUM(nc) = 0 THEN NULL
        |    ELSE CAST(SUM(nw) * 100000000 // SUM(nc) AS BIGINT)
        |  END AS fert_ws_micro,
        |  CASE WHEN SUM(nc) = 0 THEN NULL
        |    ELSE CAST(SUM(nb) * 100000000 // SUM(nc) AS BIGINT)
        |  END AS fert_bpeish_micro
        |FROM d GROUP BY 1, 2""".stripMargin,
    "tx34_readability" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS nw,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS nsyl,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS nsent
        |  FROM documents)
        |SELECT doc_id, CAST(nw AS BIGINT) AS nw,
        |  CAST(nsyl AS BIGINT) AS nsyl, CAST(nsent AS BIGINT) AS nsent,
        |  CASE WHEN nw > 0 THEN
        |    CAST(FLOOR(1000000.0 * (206.835
        |      - 1.015 * (CAST(nw AS DOUBLE) / CAST(nsent AS DOUBLE))
        |      - 84.6 * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE))))
        |      AS BIGINT)
        |  ELSE NULL END AS flesch_micro
        |FROM d""".stripMargin,
    "s15_neyman_allocation" ->
      """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nh,
        |    SUM(CAST(n_chars AS HUGEINT)) AS sx,
        |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
        |  FROM documents GROUP BY 1),
        |sig AS (
        |  SELECT source, nh,
        |    CASE WHEN nh > 1 THEN
        |      CAST(FLOOR(sqrt(CAST(nh * sxx - sx * sx AS DOUBLE) /
        |        CAST(nh * (nh - 1) AS DOUBLE)) * 1e6) AS BIGINT)
        |    ELSE 0 END AS sigma_micro
        |  FROM per),
        |w AS (SELECT source, nh, sigma_micro,
        |        nh * sigma_micro AS wh FROM sig),
        |t AS (SELECT SUM(wh) AS wtot FROM w)
        |SELECT source, nh AS n_rows, sigma_micro,
        |  CAST(least(nh, CASE WHEN wtot = 0 THEN 0
        |    ELSE 100 * wh // wtot END) AS BIGINT) AS alloc_n
        |FROM w CROSS JOIN t""".stripMargin,
    "mix5_token_waterfill" ->
      """WITH per AS (
        |  SELECT source, CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END)
        |    AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |ranked AS (
        |  SELECT source, n,
        |    ROW_NUMBER() OVER (ORDER BY n ASC, source ASC) AS rn,
        |    SUM(n) OVER (ORDER BY n ASC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
        |  FROM per),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |          CAST(COUNT(*) AS BIGINT) AS nk FROM per),
        |chosen AS (
        |  SELECT MIN(tau) AS tau_star FROM (
        |    SELECT rn, (total * 60 // 100 - (prefix - n)) // (nk - rn + 1)
        |      AS tau, n
        |    FROM ranked CROSS JOIN tot) t
        |  WHERE tau < n AND tau >= 0
        |    AND rn = (SELECT MIN(rn) FROM (
        |      SELECT rn, (total * 60 // 100 - (prefix - n))
        |        // (nk - rn + 1) AS tau, n
        |      FROM ranked CROSS JOIN tot) t2
        |      WHERE tau < n AND tau >= 0))
        |SELECT r.source, r.n AS n_tokens,
        |  CAST(least(r.n, COALESCE(c.tau_star, r.n)) AS BIGINT)
        |    AS alloc_tokens,
        |  CAST(c.tau_star AS BIGINT) AS tau_star
        |FROM ranked r CROSS JOIN chosen c""".stripMargin,
    "mix4_rebalance_plan" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |        CAST(COUNT(*) AS BIGINT) AS k FROM c)
        |SELECT lang, n,
        |  CAST(total // k AS BIGINT) AS target_n,
        |  CAST(least(1000, (total // k) * 1000 // n) AS BIGINT)
        |    AS keep_permille,
        |  CAST(n * least(1000, (total // k) * 1000 // n) // 1000
        |    AS BIGINT) AS expected_kept,
        |  CAST(n * least(1000, (total // k) * 1000 // n) // 1000
        |    - total // k AS BIGINT) AS residual
        |FROM c CROSS JOIN t""".stripMargin,
    "dd14_bbit_minhash" ->
      s"""WITH ${lshCtes("l.id < r.id")},
         |pa AS (SELECT id_a, id_b, jaccard FROM scored
         |       WHERE jaccard >= 0.3),
         |bits AS (SELECT id, list_transform(sig, x -> x % 2) AS bits
         |         FROM sig),
         |ag AS (
         |  SELECT p.id_a, p.id_b, p.jaccard,
         |    CAST(list_sum(list_transform(range(1, 17),
         |      i -> CASE WHEN a.bits[i] = b.bits[i] THEN 1 ELSE 0 END))
         |      AS BIGINT) AS agree
         |  FROM pa p JOIN bits a ON p.id_a = a.id
         |            JOIN bits b ON p.id_b = b.id)
         |SELECT id_a, id_b, jaccard, agree,
         |  CAST(((2 * agree - 16) * 1000000) // 16 AS BIGINT)
         |    AS bbit_est_micro,
         |  CAST(abs(CAST(FLOOR(jaccard * 1e6) AS BIGINT) -
         |    ((2 * agree - 16) * 1000000) // 16) AS BIGINT) AS err_micro
         |FROM ag""".stripMargin,
    "pipe3_signal_correlation" ->
      s"""WITH xy AS (
         |  SELECT n_chars AS x,
         |    (CAST(len(list_filter(string_split($normSql, ' '),
         |       t -> length(t) > 0)) AS BIGINT)) AS n_toks,
         |    (CAST(len(list_distinct(list_filter(string_split($normSql,
         |       ' '), t -> length(t) > 0))) AS BIGINT)) AS n_types
         |  FROM documents),
         |v AS (SELECT x, (n_types * 1000000) // n_toks AS y
         |      FROM xy WHERE n_toks > 0),
         |st AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM v)
         |SELECT m,
         |  CAST(m * sxy - sx * sy AS DOUBLE) /
         |  (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
         |   sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS r
         |FROM st""".stripMargin,
    "fe17_shrunk_encode" ->
      """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(SUM(n_chars) AS BIGINT) AS sg
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
        |        CAST(SUM(sg) AS BIGINT) AS st FROM per)
        |SELECT source, ng,
        |  CAST((sg * 1000000) // ng AS BIGINT) AS raw_mean_micro,
        |  CAST(((sg * n + 20 * st) * 1000000) // (n * (ng + 20))
        |    AS BIGINT) AS shrunk_mean_micro
        |FROM per CROSS JOIN t""".stripMargin,
    "pk7_chunk_dedup" ->
      s"""WITH ch AS (
         |  SELECT md5(unnest(list_transform(
         |    range(0, (length($normSql) + 63) // 64),
         |    i -> substr($normSql, CAST(i * 64 + 1 AS INTEGER), 64))))
         |    AS h
         |  FROM documents)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
         |  CAST(CASE WHEN COUNT(*) = 0 THEN NULL
         |    ELSE (COUNT(DISTINCT h) * 1000000) // COUNT(*)
         |  END AS BIGINT) AS unique_micro,
         |  CAST((COUNT(*) - COUNT(DISTINCT h)) * 64 AS BIGINT)
         |    AS chars_saved
         |FROM ch""".stripMargin,
    "fe13_rare_label_encode" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
        |SELECT CASE WHEN c.n * 10 >= t.tot THEN d.lang
        |            ELSE '__other__' END AS lang_enc,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents d JOIN c USING (lang) CROSS JOIN t
        |GROUP BY 1""".stripMargin,
    "tx5_clean_text" ->
      """SELECT doc_id,
        |len(regexp_extract_all(text, 'https?://[^ \t\n\r]+')) AS n_urls,
        |len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |trim(regexp_replace(regexp_replace(regexp_replace(text,
        |  'https?://[^ \t\n\r]+', ' ', 'g'),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
        |  '\s+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin,
    "s1_hash_sample" ->
      s"""SELECT doc_id, lang, ${bucketSql("sample", "doc_id")} AS bucket
         |FROM documents WHERE ${bucketSql("sample", "doc_id")} < 250""".stripMargin,
    "s2_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${bucketSql("strata", "doc_id")} <
         |  CASE WHEN lang = 'en' THEN 200 WHEN lang = 'de' THEN 600
         |       ELSE 1000 END""".stripMargin,
    "s3_split_assign" ->
      s"""SELECT doc_id,
         |CASE WHEN doc_id IS NULL THEN NULL
         |     WHEN ${bucketSql("split", "doc_id")} < 800 THEN 'train'
         |     WHEN ${bucketSql("split", "doc_id")} < 900 THEN 'val'
         |     ELSE 'test' END AS split
         |FROM documents""".stripMargin,
    "tx9_quality_gate" -> tx9Sql,
    "pipe4_reason_attribution" ->
      s"""WITH gate AS ($tx9Sql),
         |f AS (SELECT doc_id, string_split(fail_reasons, ',') AS rs
         |      FROM gate WHERE NOT keep),
         |e AS (SELECT doc_id, len(rs) AS n_reasons, unnest(rs) AS reason
         |      FROM f)
         |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n_reasons = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exclusive
         |FROM e GROUP BY 1""".stripMargin,
    "mix6_anneal_plan" ->
      s"""WITH gate AS ($tx9Sql),
         |per AS (
         |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_all,
         |    CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_gated
         |  FROM documents d JOIN gate g ON d.doc_id = g.doc_id
         |  GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_all) AS BIGINT) AS t_all,
         |        CAST(SUM(n_gated) AS BIGINT) AS t_gated FROM per)
         |SELECT source, n_all, n_gated,
         |  CAST(n_all * 1000000 // t_all AS BIGINT)
         |    AS pretrain_share_micro,
         |  CAST(CASE WHEN t_gated = 0 THEN 0
         |    ELSE n_gated * 1000000 // t_gated END AS BIGINT)
         |    AS anneal_share_micro,
         |  CAST(n_gated * 1000000 // n_all AS BIGINT) AS gate_pass_micro
         |FROM per CROSS JOIN t""".stripMargin,
    "tx11_source_datasheet" ->
      s"""WITH gate AS ($tx9Sql),
         |st AS (
         |  SELECT doc_id, source, n_chars, lang,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS n_toks
         |  FROM documents)
         |SELECT st.source, COUNT(*) AS n_docs,
         |  CAST(SUM(st.n_toks) AS BIGINT) AS total_tokens,
         |  COUNT(DISTINCT st.lang) AS n_langs,
         |  CAST(SUM(st.n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS avg_chars,
         |  CAST(COUNT(CASE WHEN g.keep THEN 1 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS keep_frac
         |FROM st JOIN gate g ON st.doc_id = g.doc_id
         |GROUP BY st.source""".stripMargin,
    "tx8_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
         |b AS (
         |  SELECT doc_id, toks,
         |    CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
         |      ELSE list_transform(range(0, len(toks) - 1),
         |        i -> array_to_string(toks[i+1:i+2], ' ')) END AS bigrams
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) /
         |    CAST(GREATEST(len(toks), 1) AS DOUBLE) AS ttr,
         |  1.0e0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) /
         |    CAST(GREATEST(len(bigrams), 1) AS DOUBLE) AS dup_bigram_frac
         |FROM b""".stripMargin,
    "s4_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |  LEAST(100 + n_tokens * 8, 900) AS keep_permille
         |FROM t
         |WHERE ${bucketSql("wsample", "doc_id")} < LEAST(100 + n_tokens * 8, 900)""".stripMargin,
    "tx39_source_vocab_jaccard" ->
      s"""WITH counts AS (
         |  SELECT source, tok, COUNT(*) AS c FROM (
         |    SELECT source, unnest(string_split($normSql, ' ')) AS tok
         |    FROM documents) z
         |  WHERE length(tok) > 0 GROUP BY 1, 2),
         |top AS (SELECT source, tok FROM (
         |    SELECT source, tok,
         |      ROW_NUMBER() OVER (PARTITION BY source
         |        ORDER BY c DESC, tok ASC) AS rn
         |    FROM counts) t WHERE rn <= 200),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
         |          FROM top GROUP BY 1),
         |inter AS (SELECT a.source AS sa, b.source AS sb,
         |    CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
         |  GROUP BY 1, 2),
         |pairs AS (SELECT a.source AS sa, b.source AS sb,
         |    a.sz AS na, b.sz AS nb
         |  FROM sizes a CROSS JOIN sizes b WHERE a.source < b.source)
         |SELECT sa, sb, na, nb, COALESCE(inter, 0) AS inter,
         |  CAST(COALESCE(inter, 0) * 1000000 //
         |    (na + nb - COALESCE(inter, 0)) AS BIGINT) AS jaccard_micro
         |FROM pairs LEFT JOIN inter USING (sa, sb)""".stripMargin,
    "tx38_countmin" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS tok
         |  FROM documents),
         |t AS (SELECT tok FROM toks WHERE length(tok) > 0),
         |tj AS (SELECT tok, j FROM t, (VALUES (0),(1),(2),(3)) s(j)),
         |cells AS (SELECT j,
         |    CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) ||
         |      ':' || tok), 1, 15)) AS BIGINT) % 1024 AS b,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM tj GROUP BY 1, 2),
         |probes AS (SELECT tok, j,
         |    CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) ||
         |      ':' || tok), 1, 15)) AS BIGINT) % 1024 AS b
         |  FROM (VALUES ('dup'),('key'),('the'),('batch')) p(tok),
         |       (VALUES (0),(1),(2),(3)) s(j)),
         |est AS (SELECT tok, MIN(COALESCE(cnt, 0)) AS cm_est
         |  FROM probes LEFT JOIN cells USING (j, b) GROUP BY 1),
         |ex AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact FROM t
         |  WHERE tok IN ('dup', 'key', 'the', 'batch') GROUP BY 1)
         |SELECT est.tok, COALESCE(exact, 0) AS exact, cm_est,
         |  cm_est - COALESCE(exact, 0) AS overestimate
         |FROM est LEFT JOIN ex USING (tok)""".stripMargin,
    "tx6_top_tokens" ->
      s"""SELECT token, COUNT(*) AS n FROM (
         |  SELECT unnest(string_split($normSql, ' ')) AS token FROM documents)
         |WHERE length(token) > 0
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "tx23_vocab_growth" ->
      s"""WITH toks AS (
         |  SELECT doc_id // 100 AS batch,
         |    unnest(string_split($normSql, ' ')) AS token FROM documents),
         |t AS (SELECT batch, token FROM toks WHERE length(token) > 0),
         |pb AS (SELECT batch, COUNT(*) AS batch_tokens FROM t GROUP BY 1),
         |fs AS (SELECT MIN(batch) AS batch FROM t GROUP BY token),
         |nt AS (SELECT batch, COUNT(*) AS new_types FROM fs GROUP BY 1)
         |SELECT pb.batch, pb.batch_tokens,
         |  CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
         |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY pb.batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_types,
         |  CAST(SUM(pb.batch_tokens) OVER (ORDER BY pb.batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |FROM pb LEFT JOIN nt USING (batch)""".stripMargin,
    "pipe1_curation_funnel" ->
      s"""WITH RECURSIVE gate AS ($tx9Sql),
         |${lshCtes("l.id < r.id")},
         |$clusterSql,
         |gated AS (SELECT doc_id FROM gate WHERE keep),
         |deduped AS (
         |  SELECT g.doc_id FROM gated g LEFT JOIN cl ON g.doc_id = cl.doc_id
         |  WHERE cl.cluster_id IS NULL OR cl.cluster_id = g.doc_id),
         |splits AS (
         |  SELECT CASE WHEN ${bucketSql("split", "doc_id")} < 800 THEN 'train'
         |              WHEN ${bucketSql("split", "doc_id")} < 900 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM deduped)
         |SELECT '1_raw' AS stage, COUNT(*) AS n_docs FROM documents
         |UNION ALL SELECT '2_gated', COUNT(*) FROM gated
         |UNION ALL SELECT '3_deduped', COUNT(*) FROM deduped
         |UNION ALL SELECT '4_' || split, COUNT(*) FROM splits
         |          GROUP BY split""".stripMargin,
    "s5_balanced_cap" ->
      """SELECT doc_id, lang, pick_rank FROM (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS pick_rank
        |  FROM documents) WHERE pick_rank <= 20""".stripMargin,
    // dd4's transitive closure feeding s3's hash gate keyed on the
    // cluster representative (singletons: the doc's own id).
    "s6_group_split" ->
      s"""WITH RECURSIVE $dd2Ctes,
         |$clusterSql,
         |grouped AS (
         |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
         |SELECT doc_id, group_id,
         |  CASE WHEN group_id IS NULL THEN NULL
         |       WHEN ${bucketSql("split", "group_id")} < 800 THEN 'train'
         |       WHEN ${bucketSql("split", "group_id")} < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM grouped""".stripMargin,
    "mm7_crossmodal_align" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
         |  FROM documents),
         |tb AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS dim,
         |    COUNT(*) AS f
         |  FROM tok GROUP BY doc_id, dim),
         |fn AS (SELECT doc_id, CAST(SUM(f * f) AS BIGINT) AS f_nrm
         |       FROM tb GROUP BY doc_id),
         |q AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
         |      AS q
         |  FROM embeddings,
         |       unnest(generate_series(1, len(embedding))) AS s(i)),
         |qn AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS q_nrm
         |       FROM q GROUP BY vec_id),
         |dt AS (
         |  SELECT tb.doc_id, CAST(SUM(tb.f * q.q) AS BIGINT) AS dot
         |  FROM tb JOIN q ON tb.doc_id = q.vec_id AND tb.dim = q.dim
         |  GROUP BY tb.doc_id)
         |SELECT d.doc_id, d.dot, f.f_nrm, n.q_nrm,
         |  CAST(d.dot AS DOUBLE) /
         |    (sqrt(CAST(f.f_nrm AS DOUBLE)) * sqrt(CAST(n.q_nrm AS DOUBLE)))
         |    AS alignment
         |FROM dt d JOIN fn f ON d.doc_id = f.doc_id
         |JOIN qn n ON d.doc_id = n.vec_id
         |WHERE f.f_nrm > 0 AND n.q_nrm > 0""".stripMargin,
    "pk4_length_buckets" ->
      s"""WITH t AS (
         |  SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END
         |    AS BIGINT) AS n
         |  FROM documents),
         |b AS (
         |  SELECT n, CASE WHEN n = 1 THEN 1
         |    ELSE CAST(1 AS BIGINT) << len(bin(n - 1)) END AS bucket
         |  FROM t WHERE n > 0),
         |r AS (
         |  SELECT bucket, COUNT(*) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS sum_toks,
         |    MAX(n) AS max_toks
         |  FROM b GROUP BY bucket)
         |SELECT bucket, n_docs, sum_toks,
         |  n_docs * bucket - sum_toks AS pad_bucketed,
         |  n_docs * (MAX(max_toks) OVER ()) - sum_toks AS pad_global
         |FROM r""".stripMargin,
    "mix3_epoch_plan" ->
      s"""WITH st AS (
         |  SELECT source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS nt
         |  FROM documents),
         |n AS (SELECT source, SUM(nt) AS n_toks FROM st GROUP BY source
         |      HAVING SUM(nt) > 0),
         |k AS (SELECT COUNT(*) AS k FROM n),
         |tgt AS (
         |  SELECT source, CAST(n_toks AS BIGINT) AS n_toks,
         |    CAST(40000 // k.k AS BIGINT) AS target_toks
         |  FROM n CROSS JOIN k),
         |ep AS (
         |  SELECT source, n_toks, target_toks,
         |    CAST(least(2000000, (target_toks * 1000000) // n_toks)
         |      AS BIGINT) AS epochs_micro
         |  FROM tgt)
         |SELECT source, n_toks, target_toks, epochs_micro,
         |  CAST((n_toks * epochs_micro) // 1000000 AS BIGINT)
         |    AS planned_toks
         |FROM ep""".stripMargin,
    "mix2_token_budget" ->
      s"""WITH st AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS n_toks,
         |    ${bucketSql("mix2", "doc_id")} AS bkt
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_toks,
         |    CAST(SUM(n_toks) OVER (PARTITION BY source
         |      ORDER BY bkt, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_toks
         |  FROM st)
         |SELECT doc_id, source, n_toks, cum_toks FROM c
         |WHERE cum_toks <= 800""".stripMargin,
    "drift3_centroid_shift" ->
      """WITH q AS (
        |  SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT)
        |      AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS q
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS s(i)),
        |cent AS (
        |  SELECT label, dim, CAST(SUM(q) // COUNT(*) AS BIGINT) AS c
        |  FROM q GROUP BY label, dim),
        |d AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY a.label, b.label),
        |n AS (
        |  SELECT label, CAST(SUM(c * c) AS BIGINT) AS nrm
        |  FROM cent GROUP BY label)
        |SELECT d.la, d.lb,
        |  CAST(d.dot AS DOUBLE) /
        |    (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
        |    AS centroid_cos
        |FROM d JOIN n na ON d.la = na.label
        |JOIN n nb ON d.lb = nb.label""".stripMargin,
    "drift2_vocab_shift" ->
      s"""WITH toks AS (
         |  SELECT doc_id % 2 = 0 AS is_old,
         |    unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT is_old, token FROM toks WHERE length(token) > 0),
         |vocab AS (
         |  SELECT token FROM (
         |    SELECT token, COUNT(*) AS n FROM tf GROUP BY token
         |    ORDER BY n DESC, token ASC LIMIT 50)),
         |counts AS (
         |  SELECT token,
         |    COUNT(CASE WHEN is_old THEN 1 END) AS n_old,
         |    COUNT(CASE WHEN NOT is_old THEN 1 END) AS n_new
         |  FROM tf JOIN vocab USING (token) GROUP BY token),
         |tot AS (SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
         |               CAST(SUM(n_new) AS BIGINT) AS tot_new FROM counts)
         |SELECT token, n_old, n_new,
         |  abs(n_old * tot_new - n_new * tot_old) AS tv_numerator
         |FROM counts CROSS JOIN tot""".stripMargin,
    "fe3_pmi_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         |vocab AS (
         |  SELECT token FROM (
         |    SELECT token, COUNT(*) AS n FROM tf GROUP BY token
         |    ORDER BY n DESC, token ASC LIMIT 50)),
         |dt AS (SELECT DISTINCT doc_id, token FROM tf JOIN vocab USING (token)),
         |na AS (SELECT token, COUNT(*) AS nd FROM dt GROUP BY token),
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.token AS token_a, b.token AS token_b, COUNT(*) AS n_ab
         |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
         |  GROUP BY a.token, b.token HAVING COUNT(*) >= 5)
         |SELECT token_a, token_b, n_ab,
         |  CAST(FLOOR(ln(CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE) /
         |    (CAST(za.nd AS DOUBLE) * CAST(zb.nd AS DOUBLE))) * 1e6)
         |    AS BIGINT) AS pmi_micro_nats
         |FROM pairs
         |JOIN na za ON token_a = za.token
         |JOIN na zb ON token_b = zb.token
         |CROSS JOIN tot""".stripMargin,
    "fe2_oov_rate" ->
      s"""WITH t AS (
         |  SELECT doc_id, token FROM (
         |    SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0),
         |vocab AS (
         |  SELECT token FROM (
         |    SELECT token, COUNT(*) AS n FROM t GROUP BY token
         |    ORDER BY n DESC, token ASC LIMIT 50)),
         |j AS (SELECT t.doc_id, v.token AS iv
         |      FROM t LEFT JOIN vocab v ON t.token = v.token)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  COUNT(CASE WHEN iv IS NULL THEN 1 END) AS n_oov,
         |  CAST(COUNT(CASE WHEN iv IS NULL THEN 1 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS oov_frac
         |FROM j GROUP BY doc_id""".stripMargin,
    "dd7_source_overlap" ->
      s"""WITH docs AS (
         |  SELECT source, string_split($normSql, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT source,
         |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 2),
         |      i -> array_to_string(toks[i+1:i+3], ' ')) END AS shingles
         |  FROM docs),
         |ss AS (SELECT DISTINCT source, unnest(shingles) AS g FROM sh),
         |sz AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    COUNT(*) AS n_inter
         |  FROM ss a JOIN ss b ON a.g = b.g AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT p.source_a, p.source_b, p.n_inter,
         |  CAST(p.n_inter AS DOUBLE) /
         |    CAST(za.n + zb.n - p.n_inter AS DOUBLE) AS jaccard
         |FROM pairs p
         |JOIN sz za ON p.source_a = za.source
         |JOIN sz zb ON p.source_b = zb.source""".stripMargin,
    "fe1_dict_encode" ->
      s"""SELECT token, n,
         |  ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS token_id
         |FROM (
         |  SELECT token, COUNT(*) AS n FROM (
         |    SELECT unnest(string_split($normSql, ' ')) AS token
         |    FROM documents)
         |  WHERE length(token) > 0 GROUP BY token)""".stripMargin,
    "tx32_sentence_stats" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(text, '[.!?]+'),
        |      x -> trim(x)), x -> length(x) > 0) AS sents
        |  FROM documents),
        |ws AS (
        |  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
        |    list_transform(sents,
        |      x -> len(list_filter(string_split(x, ' '),
        |        t -> length(t) > 0))) AS wc
        |  FROM d)
        |SELECT doc_id, n_sentences,
        |  CASE WHEN n_sentences = 0 THEN NULL ELSE
        |    CAST(list_sum(wc) * 1000000 // n_sentences AS BIGINT) END
        |    AS mean_sentence_words_micro,
        |  CASE WHEN n_sentences = 0 THEN NULL ELSE
        |    CAST(list_max(wc) AS BIGINT) END AS max_sentence_words
        |FROM ws""".stripMargin,
    "tx36_yule_k" ->
      s"""WITH t AS (
         |  SELECT lang, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |f AS (SELECT lang, token, COUNT(*) AS f FROM t
         |      WHERE length(token) > 0 GROUP BY 1, 2)
         |SELECT lang, CAST(SUM(f) AS BIGINT) AS n_tokens,
         |  COUNT(*) AS n_types,
         |  CASE WHEN SUM(f) > 0 THEN
         |    1e4 * CAST(SUM(CAST(f AS HUGEINT) * f) - SUM(f) AS DOUBLE) /
         |    (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE))
         |  END AS yule_k
         |FROM f GROUP BY 1""".stripMargin,
    "tx37_burstiness" ->
      s"""WITH nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |t AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS token
         |  FROM documents),
         |pd AS (SELECT token, doc_id, COUNT(*) AS c FROM t
         |       WHERE length(token) > 0 GROUP BY 1, 2),
         |pt AS (SELECT token, CAST(SUM(c) AS BIGINT) AS s,
         |         COUNT(*) AS df, SUM(CAST(c AS HUGEINT) * c) AS s2
         |       FROM pd GROUP BY 1
         |       ORDER BY s DESC, token ASC LIMIT 30)
         |SELECT token, CAST(df AS BIGINT) AS df, s AS total,
         |  CAST((n_docs * s2 - CAST(s AS HUGEINT) * s) * 1000000 //
         |    (n_docs * CAST(s AS HUGEINT)) AS BIGINT) AS vmr_micro
         |FROM pt CROSS JOIN nd""".stripMargin,
    "pk8_attention_cost" ->
      s"""WITH t AS (SELECT n FROM (
         |    SELECT CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+'))
         |      END AS n
         |    FROM documents) WHERE n > 0),
         |b AS (SELECT least(n // 128, 7) AS bucket, n FROM t),
         |per AS (SELECT bucket, COUNT(*) AS n_seqs,
         |    CAST(SUM(n) AS BIGINT) AS sum_tokens,
         |    CAST(MAX(n) AS BIGINT) AS mx,
         |    SUM(CAST(n AS HUGEINT) * n) AS sumsq
         |  FROM b GROUP BY 1),
         |tot AS (SELECT SUM(sumsq) AS tot_sq FROM per)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_seqs, sum_tokens,
         |  CAST(sumsq * 1000000 // tot_sq AS BIGINT)
         |    AS flops_share_micro,
         |  CAST((CAST(n_seqs AS HUGEINT) * (CAST(mx AS HUGEINT) * mx)
         |      - sumsq) * 1000000 //
         |    (CAST(n_seqs AS HUGEINT) * (CAST(mx AS HUGEINT) * mx))
         |    AS BIGINT) AS pad_overhead_micro
         |FROM per CROSS JOIN tot""".stripMargin,
    "tx35_code_detection" ->
      """WITH d AS (
        |  SELECT doc_id, length(text) AS nc,
        |    string_split(text, chr(10)) AS lines,
        |    len(regexp_extract_all(text, '[{};=()]')) AS n_sym,
        |    len(regexp_extract_all(text,
        |      '\b(def|class|import|return|function|const|var|for|while)\b'))
        |      AS n_kw
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, nc,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines,
        |        l -> regexp_matches(l, '^(\t|  )'))) AS BIGINT)
        |      AS n_indent,
        |    CAST(n_sym AS BIGINT) AS n_sym,
        |    CAST(n_kw AS BIGINT) AS n_kw
        |  FROM d),
        |r AS (
        |  SELECT doc_id, n_lines, n_indent, n_sym, n_kw,
        |    CASE WHEN nc = 0 THEN NULL
        |      ELSE CAST(n_sym * 1000000 // nc AS BIGINT)
        |    END AS sym_frac_micro,
        |    CAST(n_indent * 1000000 // n_lines AS BIGINT)
        |      AS indent_frac_micro
        |  FROM m)
        |SELECT doc_id, n_lines, n_indent, n_sym, n_kw,
        |  sym_frac_micro, indent_frac_micro,
        |  COALESCE(sym_frac_micro, 0) >= 20000 AND
        |    (indent_frac_micro >= 200000 OR n_kw >= 3) AS is_code
        |FROM r""".stripMargin,
    "dd17_url_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id, text || ' see https://' || source ||
        |    '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
        |    ' and http://mirror-' || CAST(doc_id % 3 AS VARCHAR) ||
        |    '.example.org/x?id=' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(text, 'https?://[^ \t\n\r]+')) AS u
        |  FROM aug),
        |c AS (
        |  SELECT doc_id, u,
        |    regexp_replace(regexp_replace(u, '[?#].*$', ''),
        |      '/$', '') AS u3
        |  FROM u),
        |canon AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u3, 'https?://[^/]+', 0)) ||
        |      substr(u3,
        |        length(regexp_extract(u3, 'https?://[^/]+', 0)) + 1)
        |      AS canon
        |  FROM c)
        |SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_mentions,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
        |  CAST(COUNT(DISTINCT doc_id) - 1 AS BIGINT) AS n_dup_docs
        |FROM canon GROUP BY 1""".stripMargin,
    "tx31_url_domains" ->
      """WITH aug AS (
        |  SELECT doc_id, text || ' see https://' || source ||
        |    '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
        |    ' and http://mirror-' || CAST(doc_id % 3 AS VARCHAR) ||
        |    '.example.org/x?id=' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(text, 'https?://[^ \t\n\r]+')) AS u
        |  FROM aug)
        |SELECT regexp_extract(u, 'https?://([^/]+)', 1) AS domain,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_distinct_urls,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM u GROUP BY 1""".stripMargin,
    "tx30_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> length(x) > 0) AS toks,
        |    string_split(text, chr(10)) AS lines,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '...', ''))) // 3
        |      AS n_ellipsis
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) = 0 THEN NULL ELSE
        |      CAST(list_sum(list_transform(toks, x -> length(x))) * 1000000
        |        // len(toks) AS BIGINT) END AS mean_word_len_micro,
        |    CASE WHEN len(toks) = 0 THEN NULL ELSE
        |      CAST((n_hash + n_ellipsis) * 1000000 // len(toks) AS BIGINT)
        |    END AS symbol_ratio_micro,
        |    CAST(len(list_filter(lines,
        |        l -> regexp_matches(l, '^\s*[-*•]'))) * 1000000
        |      // len(lines) AS BIGINT) AS bullet_frac_micro,
        |    CASE WHEN len(toks) = 0 THEN NULL ELSE
        |      CAST(len(list_filter(toks,
        |          x -> regexp_matches(x, '[A-Za-z]'))) * 1000000
        |        // len(toks) AS BIGINT) END AS alpha_frac_micro,
        |    CASE WHEN len(toks) = 0 THEN NULL ELSE
        |      CAST(len(list_filter(toks,
        |          x -> regexp_matches(x, '^[A-Z]{2,}$'))) * 1000000
        |        // len(toks) AS BIGINT) END AS caps_frac_micro
        |  FROM d)
        |SELECT doc_id, n_words, mean_word_len_micro, symbol_ratio_micro,
        |  bullet_frac_micro, alpha_frac_micro, caps_frac_micro,
        |  CAST(CASE WHEN n_words = 0 THEN 0
        |    WHEN mean_word_len_micro BETWEEN 3000000 AND 10000000
        |      AND symbol_ratio_micro < 100000
        |      AND bullet_frac_micro < 900000
        |      AND alpha_frac_micro > 800000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS gopher_pass
        |FROM m""".stripMargin,
    "tx10_heavy_hitters" ->
      s"""SELECT token, COUNT(*) AS n_exact, TRUE AS est_in_bounds FROM (
         |  SELECT unnest(string_split($normSql, ' ')) AS token FROM documents)
         |WHERE length(token) > 0
         |GROUP BY token ORDER BY n_exact DESC, token ASC LIMIT 20""".stripMargin,
    "cx2_benchmark_report" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, string_split($normSql, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT id, CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 2),
         |      i -> array_to_string(toks[i+1:i+3], ' ')) END AS shingles
         |  FROM docs),
         |h60 AS (
         |  SELECT id, list_distinct(list_transform(list_distinct(shingles),
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hs
         |  FROM sh),
         |bench AS (SELECT id AS bench_id, unnest(hs) AS h
         |          FROM h60 WHERE id % 10 = 0),
         |corp AS (SELECT id, unnest(hs) AS h FROM h60 WHERE id % 10 <> 0)
         |SELECT bench.bench_id,
         |  COUNT(DISTINCT corp.id) AS n_matching_docs,
         |  COUNT(DISTINCT bench.h) AS n_shared_hashes
         |FROM corp JOIN bench USING (h)
         |GROUP BY bench.bench_id""".stripMargin,
    "cx4_semantic_decontamination" ->
      s"""WITH ${normedSql("")},
        |p AS (
        |  SELECT c.vec_id AS corpus_id, q.vec_id AS eval_id,
        |    ${cosineSql("c", "q")}
        |      AS cos_sim
        |  FROM n c, n q WHERE c.vec_id >= 5 AND q.vec_id < 5),
        |f AS (SELECT * FROM p WHERE cos_sim >= 0.3e0),
        |r AS (SELECT corpus_id, eval_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY corpus_id
        |      ORDER BY cos_sim DESC, eval_id DESC) AS rn
        |  FROM f)
        |SELECT corpus_id, eval_id, cos_sim FROM r WHERE rn = 1"""
        .stripMargin,
    "cx1_contamination" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, string_split($normSql, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT id, CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 2),
         |      i -> array_to_string(toks[i+1:i+3], ' ')) END AS shingles
         |  FROM docs),
         |h60 AS (
         |  SELECT id, list_distinct(list_transform(list_distinct(shingles),
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hs
         |  FROM sh),
         |bench AS (SELECT DISTINCT unnest(hs) AS h FROM h60 WHERE id % 10 = 0),
         |corp AS (SELECT id, len(hs) AS n_shingles, unnest(hs) AS h
         |         FROM h60 WHERE id % 10 <> 0)
         |SELECT corp.id AS doc_id, COUNT(*) AS n_overlap, n_shingles,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_ratio
         |FROM corp JOIN bench USING (h)
         |GROUP BY corp.id, n_shingles""".stripMargin,
    "mix1_corpus_mix" ->
      s"""SELECT doc_id, lang, 'en' AS source FROM documents
         |WHERE lang = 'en' AND ${bucketSql("mix:en", "doc_id")} < 800
         |UNION ALL
         |SELECT doc_id, lang, 'de' AS source FROM documents
         |WHERE lang = 'de' AND ${bucketSql("mix:de", "doc_id")} < 500
         |UNION ALL
         |SELECT doc_id, lang, 'rest' AS source FROM documents
         |WHERE (lang IS NULL OR lang NOT IN ('en', 'de'))
         |  AND ${bucketSql("mix:rest", "doc_id")} < 250""".stripMargin,
    "pk9_attention_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+'))
        |      END AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS token_offset
        |  FROM t),
        |q AS (SELECT lang, token_offset,
        |    token_offset + n_tokens AS doc_end,
        |    CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS seq_idx
        |  FROM p WHERE n_tokens > 0),
        |segs AS (
        |  SELECT lang, k,
        |    least(doc_end, (k + 1) * 512) -
        |      greatest(token_offset, k * 512) AS seg
        |  FROM q, unnest(generate_series(seq_idx,
        |    (doc_end - 1) // 512)) AS s(k))
        |SELECT lang, k AS seq_idx, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(seg) AS BIGINT) AS seq_tokens,
        |  CAST((CAST(SUM(seg) AS HUGEINT) * SUM(seg) -
        |      SUM(CAST(seg AS HUGEINT) * seg)) * 1000000 //
        |    (CAST(SUM(seg) AS HUGEINT) * SUM(seg)) AS BIGINT)
        |    AS contamination_micro
        |FROM segs GROUP BY 1, 2""".stripMargin,
    "pk1_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, token_offset,
        |  CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS seq_idx,
        |  token_offset % 512 AS seq_offset
        |FROM p""".stripMargin,
    "pk2_overlap_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    unnest(range(0, GREATEST(CAST(FLOOR((n_tokens - 1) / 192.0)
        |      AS BIGINT), 0) + 1)) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, n_tokens, chunk_idx,
        |  chunk_idx * 192 AS tok_start,
        |  LEAST(chunk_idx * 192 + 256, n_tokens) AS tok_end
        |FROM c""".stripMargin,
    "pk3_padding_waste" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n
        |  FROM documents),
        |g AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n) AS BIGINT) AS total_tokens,
        |    CAST(SUM(((n + 511) // 512) * 512 - n) AS BIGINT) AS pad_naive
        |  FROM t GROUP BY lang)
        |SELECT lang, n_docs, total_tokens, pad_naive,
        |  ((total_tokens + 511) // 512) * 512 - total_tokens AS pad_packed
        |FROM g""".stripMargin,
    "dd6_dedup_apply" ->
      s"""WITH RECURSIVE $dd2Ctes,
         |$clusterSql
         |SELECT d.doc_id, (cl.doc_id IS NOT NULL) AS is_representative
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |WHERE cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id""".stripMargin,
    "tx1_token_stats" ->
      s"""SELECT doc_id,
         |CASE WHEN length(trim(text)) = 0 THEN 0
         |  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens_bpeish,
         |CAST(length(trim(text)) AS DOUBLE) / CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
         |  ELSE len(string_split_regex(trim(text), '\\s+')) END, 1) AS DOUBLE) AS avg_token_len
         |FROM documents""".stripMargin,
    "tx2_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt,
         |  len(regexp_extract_all(lower(text), '$stopPat')) AS nsw,
         |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS np
         |  FROM documents)
         |SELECT doc_id,
         |CAST(nsw AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE) AS stopword_ratio,
         |CAST(np AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         |least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |least(CAST(nsw AS DOUBLE) / CAST(greatest(nt, 1) AS DOUBLE) * 4.0, 1.0) * 0.4 +
         |(1.0 - least(CAST(np AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) * 5.0, 1.0)) * 0.2 AS quality_score
         |FROM t""".stripMargin,
    "tx16_lang_confusion" ->
      """WITH sc AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|it|was)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|que|pour)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|una|que|por)\b')) AS s_es
        |  FROM documents),
        |pred AS (
        |  SELECT doc_id,
        |    CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
        |         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
        |         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
        |         WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
        |         ELSE 'und' END AS pred_lang
        |  FROM sc)
        |SELECT d.lang AS true_lang, p.pred_lang, COUNT(*) AS n
        |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "tx3_lang_id" ->
      """WITH sc AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|it|was)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS s_de,
        |  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|que|pour)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|una|que|por)\b')) AS s_es
        |  FROM documents)
        |SELECT doc_id, s_en, s_de, s_fr, s_es,
        |CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'en'
        |     WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'de'
        |     WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'fr'
        |     WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND greatest(s_en, s_de, s_fr, s_es) > 0 THEN 'es'
        |     ELSE 'und' END AS lang_id
        |FROM sc""".stripMargin,
    "tx4_fingerprint" ->
      s"""SELECT doc_id, md5($normSql) AS fp,
         |CAST(('0x' || substr(md5($normSql), 1, 15)) AS BIGINT) AS fp64
         |FROM documents""".stripMargin,
    "dd1_exact_dedup" ->
      s"""SELECT md5($normSql) AS fp, MIN(doc_id) AS keep_id,
         |COUNT(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin,
    "dd2_minhash_pairs" ->
      s"""WITH $dd2Ctes
         |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,
    "s8_systematic_sample" ->
      """SELECT doc_id, source, n_chars, rn FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
        |  FROM documents) z
        |WHERE (rn - 1) % 20 = 0""".stripMargin,
    "s7_temperature_mix" ->
      """WITH RECURSIVE s AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |o AS (SELECT lang, n,
        |        ROW_NUMBER() OVER (ORDER BY lang) AS i FROM s),
        |acc(i, w) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        |  UNION ALL
        |  SELECT o.i, acc.w + sqrt(CAST(o.n AS DOUBLE))
        |  FROM acc JOIN o ON o.i = acc.i + 1),
        |tot AS (SELECT w FROM acc ORDER BY i DESC LIMIT 1)
        |SELECT o.lang, o.n AS n_docs,
        |  CAST(floor(1000000.0 * sqrt(CAST(o.n AS DOUBLE)) / tot.w)
        |    AS BIGINT) AS p_micro
        |FROM o CROSS JOIN tot""".stripMargin,
    "tx15_freq_spectrum" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS t FROM documents),
         |tf AS (SELECT t, COUNT(*) AS f FROM toks GROUP BY t)
         |SELECT length(bin(f)) - 1 AS log2_bucket, COUNT(*) AS n_tokens,
         |  CAST(SUM(f) AS BIGINT) AS total_occurrences
         |FROM tf GROUP BY 1""".stripMargin,
    "tx14_ngram_novelty" ->
      s"""WITH $sigCtes,
         |ex AS (SELECT id, unnest(ds) AS g FROM shd),
         |dfc AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
         |agg AS (
         |  SELECT ex.id AS doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS novel
         |  FROM ex JOIN dfc ON ex.g = dfc.g GROUP BY ex.id)
         |SELECT doc_id, n_grams, novel,
         |  CAST((novel * 1000000) // n_grams AS BIGINT) AS novelty_micro
         |FROM agg""".stripMargin,
    "dd10_containment" ->
      s"""WITH ${lshCtes("l.id < r.id")},
         |cont AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(a.hs60, b.hs60)) AS DOUBLE) /
         |    CAST(LEAST(len(a.hs60), len(b.hs60)) AS DOUBLE) AS containment
         |  FROM cands c JOIN h60 a ON c.id_a = a.id
         |               JOIN h60 b ON c.id_b = b.id)
         |SELECT id_a, id_b, containment FROM cont
         |WHERE containment >= 0.8""".stripMargin,
    "dd9_lsh_planner" ->
      s"""WITH $sigCtes,
         |cfg AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2))
         |        t(bands, rpb)),
         |bb AS (
         |  SELECT s.id, c.bands, c.rpb, b.b AS band,
         |    array_to_string(
         |      list_transform(sig[(b.b*c.rpb+1):(b.b*c.rpb+c.rpb)],
         |        x -> CAST(x AS VARCHAR)), '_') AS bucket
         |  FROM sig s CROSS JOIN cfg c
         |       CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b
         |  WHERE b.b < c.bands),
         |bc AS (SELECT bands, rpb, band, bucket, COUNT(*) AS c
         |       FROM bb GROUP BY 1, 2, 3, 4)
         |SELECT bands, rpb AS rows_per_band, COUNT(*) AS n_buckets,
         |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
         |FROM bc GROUP BY 1, 2""".stripMargin,
    "dd8_incremental_dedup" ->
      s"""WITH ${lshCtes("l.id % 10 <> 0 AND r.id % 10 = 0")}
         |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,
    "lm4_good_turing" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS toks
         |  FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
         |  FROM base),
         |cnt AS (SELECT bigram, COUNT(*) AS r FROM bg GROUP BY bigram),
         |nr AS (SELECT r, COUNT(*) AS n_r FROM cnt GROUP BY r)
         |SELECT a.r, a.n_r,
         |  COALESCE((a.r + 1) * b.n_r * 1000000 // a.n_r, 0)
         |    AS r_star_micro
         |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1""".stripMargin,
    "dd11_boilerplate" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, source, string_split($normSql, ' ') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT id, source,
         |    CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 7),
         |      i -> array_to_string(toks[i+1:i+8], ' ')) END AS shingles
         |  FROM docs),
         |hx AS (
         |  SELECT id, source,
         |    unnest(list_distinct(list_transform(list_distinct(shingles),
         |      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS h
         |  FROM sh),
         |rep AS (
         |  SELECT source, h FROM hx GROUP BY source, h
         |  HAVING COUNT(*) >= 2),
         |per AS (
         |  SELECT hx.id, COUNT(*) AS n_spans,
         |    CAST(SUM(CASE WHEN rep.h IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_boiler
         |  FROM hx LEFT JOIN rep
         |    ON hx.source = rep.source AND hx.h = rep.h
         |  GROUP BY hx.id)
         |SELECT id AS doc_id, n_spans, n_boiler,
         |  CAST(n_boiler AS DOUBLE) / CAST(n_spans AS DOUBLE)
         |    AS boiler_ratio
         |FROM per""".stripMargin,
    "dd5_repeated_spans" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, string_split($normSql, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT id, CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 7),
         |      i -> array_to_string(toks[i+1:i+8], ' ')) END AS shingles
         |  FROM docs),
         |hx AS (
         |  SELECT id, unnest(list_distinct(list_transform(list_distinct(shingles),
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS h
         |  FROM sh)
         |SELECT h AS span_hash, COUNT(*) AS n_docs,
         |  MIN(id) AS min_doc, MAX(id) AS max_doc
         |FROM hx GROUP BY h HAVING COUNT(*) >= 2""".stripMargin,
    "dd16_cluster_downweight" ->
      s"""WITH RECURSIVE $dd2Ctes,
         |$reachSql,
         |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
         |         FROM reach GROUP BY a),
         |sizes AS (SELECT cluster_id, COUNT(*) AS csize
         |          FROM comp GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |  CAST(COALESCE(s.csize, 1) AS BIGINT) AS cluster_size,
         |  CAST(1000000 // COALESCE(s.csize, 1) AS BIGINT) AS weight_micro
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |LEFT JOIN sizes s ON c.cluster_id = s.cluster_id""".stripMargin,
    "cx3_fuzzy_contamination" ->
      s"""WITH ${lshCtes("l.id % 10 <> 0 AND r.id % 10 = 0")}
         |SELECT id_b AS bench_id, id_a AS corpus_id, jaccard
         |FROM scored WHERE jaccard >= 0.3""".stripMargin,
    "dd4_dup_clusters" ->
      s"""WITH RECURSIVE $dd2Ctes,
         |$reachSql
         |SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin,
    "dd3_simhash_pairs" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, string_split($normSql, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT id, CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
         |    ELSE list_transform(range(0, len(toks) - 1),
         |      i -> array_to_string(toks[i+1:i+2], ' ')) END AS shingles
         |  FROM docs),
         |ex AS (SELECT id, unnest(shingles) AS s FROM sh),
         |hs AS (
         |  SELECT id, CAST(('0x' || substr(md5('0:' || s), 1, 15)) AS BIGINT) AS h
         |  FROM ex),
         |agg AS (SELECT id, COUNT(*) AS n, $simhashBitSums FROM hs GROUP BY id),
         |sig AS (SELECT id, CAST($simhashSigTerms AS BIGINT) AS sig FROM agg),
         |banded AS (
         |  SELECT id, sig, b.b AS band, (sig >> (b.b * 15)) & 32767 AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
         |pairs AS (
         |  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
         |    l.sig AS sig_a, r.sig AS sig_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 12""".stripMargin,
    "sim2_lsh_neardup" ->
      s"""WITH s AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${sqlDotChain("embedding", "embedding")}) AS nrm,
         |    (CASE WHEN (${sqlProjChain("embedding", 0)}) > 0 THEN 1 ELSE 0 END +
         |     CASE WHEN (${sqlProjChain("embedding", 1)}) > 0 THEN 2 ELSE 0 END +
         |     CASE WHEN (${sqlProjChain("embedding", 2)}) > 0 THEN 4 ELSE 0 END +
         |     CASE WHEN (${sqlProjChain("embedding", 3)}) > 0 THEN 8 ELSE 0 END) AS sig
         |  FROM embeddings),
         |sz AS (SELECT * FROM s WHERE nrm > 0),
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    (${sqlDotChain("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cos_sim
         |  FROM sz a JOIN sz b ON a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.2""".stripMargin,
    "sim3_ivf_topk" -> sim3Sql,
    "drift1_cell_divergence" -> drift1Sql,
    "sim6_semdedup" -> sim6Sql,
    "sim17_filtered_topk" ->
      s"""WITH ${normedSql("label, ")},
        |p AS (
        |  SELECT q.vec_id AS query_id, q.label AS label,
        |    c.vec_id AS corpus_id,
        |    ${cosineSql("q", "c")}
        |      AS cos_sim
        |  FROM n q JOIN n c ON q.label = c.label
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, label, corpus_id, cos_sim, rk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, corpus_id ASC) AS BIGINT) AS rk
        |  FROM p) t
        |WHERE rk <= 5""".stripMargin,
    "sim16_matryoshka_recall" ->
      s"""WITH ex AS ($sim1Sql),
         |ep AS (
         |  SELECT vec_id, list_transform(embedding[1:16],
         |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |np AS (
         |  SELECT * FROM (
         |    SELECT vec_id, qv,
         |      CAST(list_sum(list_transform(range(1, len(qv) + 1),
         |        i -> qv[i] * qv[i])) AS BIGINT) AS nrm
         |    FROM ep) z WHERE nrm > 0),
         |pp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |    ${cosineSql("q", "c")}
         |      AS cos_sim
         |  FROM np q, np c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |pr AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, corpus_id ASC) AS rk FROM pp) t
         |  WHERE rk <= 10),
         |hits AS (
         |  SELECT e.query_id, COUNT(*) AS n_hits
         |  FROM ex e JOIN pr p
         |    ON e.query_id = p.query_id AND e.corpus_id = p.corpus_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, COALESCE(n_hits, 0) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) q
         |LEFT JOIN hits USING (query_id)""".stripMargin,
    "sim18_recall_curve" -> {
      def one(k: Int) =
        s"""SELECT q.query_id, CAST($k AS BIGINT) AS k,
           |  COALESCE(h.n_hits, 0) AS n_hits,
           |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ${k.toDouble}
           |    AS recall
           |FROM (SELECT DISTINCT query_id FROM ex) q
           |LEFT JOIN (
           |  SELECT e.query_id, COUNT(*) AS n_hits
           |  FROM ex e JOIN ivf i
           |    ON e.query_id = i.query_id AND e.corpus_id = i.corpus_id
           |   AND e.rk <= $k AND i.rk <= $k
           |  GROUP BY e.query_id) h USING (query_id)""".stripMargin
      s"""WITH ex AS ($sim1Sql),
         |ivf AS ($sim3Sql)
         |${one(1)}
         |UNION ALL
         |${one(5)}
         |UNION ALL
         |${one(10)}""".stripMargin
    },
    "sim5_ivf_recall" ->
      s"""WITH ex AS ($sim1Sql),
         |ivf AS ($sim3Sql),
         |hits AS (
         |  SELECT e.query_id, COUNT(*) AS n_hits
         |  FROM ex e JOIN ivf i
         |    ON e.query_id = i.query_id AND e.corpus_id = i.corpus_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, COALESCE(n_hits, 0) AS n_hits,
         |  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) q
         |LEFT JOIN hits USING (query_id)""".stripMargin,
    "sim4_neardup_exact" ->
      s"""WITH ${normedSql("")},
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosineSql("a", "b")} AS cos_sim
        |  FROM n a, n b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.3""".stripMargin,
    "sim1_cosine_topk" -> sim1Sql,
    "sim20_twonn_id" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(range(1, len(qv) + 1),
        |      i -> qv[i] * qv[i])) AS BIGINT) AS nrm
        |  FROM e),
        |p AS (
        |  SELECT q.vec_id AS query_id,
        |    q.nrm - 2 * CAST(list_sum(list_transform(
        |      range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i]))
        |      AS BIGINT) + c.nrm AS d2q
        |  FROM n q, n c WHERE q.vec_id < 64 AND c.vec_id <> q.vec_id),
        |pp AS (SELECT query_id, d2q FROM p WHERE d2q > 0),
        |d1 AS (SELECT query_id, MIN(d2q) AS d1 FROM pp GROUP BY 1),
        |nn AS (SELECT query_id, t.d1,
        |    SUM(CASE WHEN d2q = t.d1 THEN 1 ELSE 0 END) AS n1,
        |    MIN(CASE WHEN d2q > t.d1 THEN d2q END) AS dgt
        |  FROM pp JOIN d1 t USING (query_id) GROUP BY 1, 2),
        |mu AS (SELECT CASE WHEN n1 > 1 THEN d1 ELSE dgt END AS dd2, d1
        |       FROM nn),
        |terms AS (
        |  SELECT CAST(FLOOR(0.5e0 *
        |      ln(CAST(dd2 AS DOUBLE) / CAST(d1 AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS lnmu_nano
        |  FROM mu WHERE dd2 IS NOT NULL),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
        |    CAST(SUM(lnmu_nano) AS BIGINT) AS sum_lnmu_nano FROM terms)
        |SELECT n_used, sum_lnmu_nano,
        |  CASE WHEN sum_lnmu_nano > 0 THEN CAST(n_used AS DOUBLE) /
        |    (CAST(sum_lnmu_nano AS DOUBLE) / 1e9) END AS id_hat
        |FROM agg""".stripMargin,
    "ml7_confusion" ->
      s"""WITH ex AS ($sim1Sql),
         |votes AS (
         |  SELECT ex.query_id, l.label AS n_label, COUNT(*) AS n_votes
         |  FROM ex JOIN embeddings l ON ex.corpus_id = l.vec_id
         |  GROUP BY ex.query_id, l.label),
         |voted AS (
         |  SELECT query_id, n_label FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY n_votes DESC, n_label ASC) AS rn FROM votes)
         |  WHERE rn = 1),
         |pred AS (
         |  SELECT CAST(q.label AS BIGINT) AS t,
         |    CAST(v.n_label AS BIGINT) AS p
         |  FROM voted v JOIN embeddings q ON v.query_id = q.vec_id),
         |cm AS (SELECT t, p, COUNT(*) AS n FROM pred GROUP BY 1, 2),
         |byt AS (SELECT t AS lbl, CAST(SUM(n) AS BIGINT) AS t_n
         |        FROM cm GROUP BY 1),
         |byp AS (SELECT p AS lbl, CAST(SUM(n) AS BIGINT) AS p_n
         |        FROM cm GROUP BY 1),
         |diag AS (SELECT t AS lbl, n AS tp0 FROM cm WHERE t = p),
         |j AS (
         |  SELECT COALESCE(byt.lbl, byp.lbl) AS lbl, t_n, p_n
         |  FROM byt FULL JOIN byp ON byt.lbl = byp.lbl),
         |f AS (
         |  SELECT j.lbl AS label, COALESCE(d.tp0, 0) AS tp,
         |    COALESCE(j.p_n, 0) - COALESCE(d.tp0, 0) AS fp,
         |    COALESCE(j.t_n, 0) - COALESCE(d.tp0, 0) AS fn
         |  FROM j LEFT JOIN diag d ON j.lbl = d.lbl)
         |SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CASE WHEN tp + fp > 0 THEN CAST((tp * 1000000) // (tp + fp)
         |    AS BIGINT) END AS precision_micro,
         |  CASE WHEN tp + fn > 0 THEN CAST((tp * 1000000) // (tp + fn)
         |    AS BIGINT) END AS recall_micro
         |FROM f""".stripMargin,
    "sim11_knn_label_vote" ->
      s"""WITH ex AS ($sim1Sql),
         |votes AS (
         |  SELECT ex.query_id, l.label AS n_label, COUNT(*) AS n_votes
         |  FROM ex JOIN embeddings l ON ex.corpus_id = l.vec_id
         |  GROUP BY ex.query_id, l.label),
         |voted AS (
         |  SELECT query_id, n_label, n_votes FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY n_votes DESC, n_label ASC) AS rn FROM votes)
         |  WHERE rn = 1)
         |SELECT v.query_id, q.label AS own_label,
         |  v.n_label AS voted_label, v.n_votes,
         |  q.label = v.n_label AS label_match
         |FROM voted v JOIN embeddings q ON v.query_id = q.vec_id""".stripMargin,
    "ir1_bm25" -> bm25Sql,
    "ir13_pr_at_k" -> {
      val mexpr = bm25Terms.map(t =>
        s"(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH scored AS ($bm25Sql),
         |g AS (SELECT doc_id, bm25,
         |    CASE WHEN $mexpr >= 2 THEN 1 ELSE 0 END AS rel
         |  FROM scored),
         |tot AS (SELECT CAST(SUM(rel) AS BIGINT) AS rel_total FROM g),
         |top AS (SELECT * FROM g
         |        ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
         |rk AS (SELECT doc_id, rel,
         |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r,
         |    SUM(rel) OVER (ORDER BY bm25 DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_rel
         |  FROM top)
         |SELECT r, doc_id, CAST(rel AS BIGINT) AS rel,
         |  CAST(cum_rel * 1000000 // r AS BIGINT) AS precision_micro,
         |  CASE WHEN rel_total > 0 THEN
         |    CAST(cum_rel * 1000000 // rel_total AS BIGINT)
         |  END AS recall_micro
         |FROM rk CROSS JOIN tot""".stripMargin
    },
    "ir12_err" -> {
      val mexpr = bm25Terms.map(t =>
        s"(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH scored AS ($bm25Sql),
         |top AS (SELECT * FROM scored
         |        ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
         |g AS (SELECT doc_id, bm25,
         |    least($mexpr, 3) AS g FROM top),
         |rk AS (SELECT doc_id, g,
         |    CAST((1 << g) - 1 AS BIGINT) AS relnum,
         |    CAST(9 - (1 << g) AS BIGINT) AS k,
         |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
         |  FROM g),
         |p AS (SELECT doc_id, g, relnum, r,
         |    CAST(COALESCE(list_aggregate(array_agg(k) OVER (ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      'product'), 1) AS BIGINT) AS prodk
         |  FROM rk),
         |c AS (SELECT r, doc_id, g AS grade,
         |    CAST(relnum * prodk AS DOUBLE) /
         |      (CAST(1::BIGINT << (3 * r) AS DOUBLE) * CAST(r AS DOUBLE))
         |      AS contrib
         |  FROM p)
         |SELECT r, doc_id, grade, contrib,
         |  CAST(SUM(CAST(FLOOR(contrib * 1e15) AS BIGINT)) OVER (
         |    ORDER BY r
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) / 1e15 AS err_cum
         |FROM c""".stripMargin
    },
    "ir11_bm25f" -> bm25fSql,
    "ir6_qlm" -> qlmSql,
    "tx19_keywords" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |  WHERE length(term) > 0 GROUP BY doc_id, term),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |w AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    tf.tf * CAST(FLOOR(ln(CAST(n AS DOUBLE) / CAST(df.df AS DOUBLE))
         |      * 1e6) AS BIGINT) AS w_micro
         |  FROM tf JOIN df USING (term) CROSS JOIN nn)
         |SELECT doc_id, term, tf, df, w_micro FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY w_micro DESC, term ASC) AS rk FROM w) t
         |WHERE rk <= 3""".stripMargin,
    "tx17_readability" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
        |  len(regexp_extract_all(text, '[.!?]+')) AS n_sents,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  206.835e0
        |  - 1.015e0 * (CAST(n_words AS DOUBLE) /
        |      CAST(GREATEST(n_sents, 1) AS DOUBLE))
        |  - 84.6e0 * (CAST(n_syll AS DOUBLE) /
        |      CAST(GREATEST(n_words, 1) AS DOUBLE)) AS flesch
        |FROM c""".stripMargin,
    "km3_cluster_purity" ->
      s"""WITH asg AS ($km1Sql),
         |lab AS (SELECT asg.cluster, e.label
         |  FROM asg JOIN embeddings e ON asg.vec_id = e.vec_id),
         |cl AS (SELECT cluster, label, COUNT(*) AS n
         |  FROM lab GROUP BY cluster, label),
         |tot AS (SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_total
         |  FROM cl GROUP BY cluster),
         |maj AS (SELECT cluster, label AS maj_label, n AS maj_n FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
         |    ORDER BY n DESC, label ASC) AS rk FROM cl) t WHERE rk = 1)
         |SELECT t.cluster, t.n_total, m.maj_label, m.maj_n,
         |  CAST(m.maj_n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS purity
         |FROM tot t JOIN maj m USING (cluster)""".stripMargin,
    "ir5_query_expansion" ->
      s"""WITH scores AS ($bm25Sql),
         |top10 AS (SELECT doc_id FROM scores
         |          ORDER BY bm25 DESC, doc_id LIMIT 10),
         |tk AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(string_split($normSql, ' '))) AS term
         |  FROM documents),
         |prf AS (
         |  SELECT term, COUNT(*) AS df_prf FROM tk
         |  JOIN top10 USING (doc_id) GROUP BY term)
         |SELECT term, df_prf FROM prf
         |WHERE term NOT IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
         |ORDER BY df_prf DESC, term LIMIT 8""".stripMargin,
    "lm1_surprisal" -> lm1Sql,
    // Bigram LM: same micro-nat-before-reduction contract as lm1; the
    // bigram lists are two zipped array slices, so docs with < 2 tokens
    // contribute no rows on either engine.
    "lm10_witten_bell" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split($normSql, ' ') AS toks
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |    unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM base),
         |counts AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cctx,
         |    CAST(COUNT(*) AS BIGINT) AS t
         |  FROM counts GROUP BY 1),
         |uni AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cu FROM (
         |    SELECT unnest(toks) AS w2 FROM base) z
         |  WHERE length(w2) > 0 GROUP BY 1),
         |nt AS (SELECT CAST(SUM(cu) AS BIGINT) AS ntok FROM uni),
         |probs AS (
         |  SELECT counts.w1, counts.w2,
         |    CAST(FLOOR(ln(
         |      CAST(CAST(c AS HUGEINT) * ntok +
         |        CAST(t AS HUGEINT) * cu AS DOUBLE) /
         |      CAST(CAST(ntok AS HUGEINT) * (cctx + t) AS DOUBLE)) * 1e6)
         |      AS BIGINT) AS micro_nats
         |  FROM counts JOIN ctx ON counts.w1 = ctx.w1
         |  JOIN uni ON counts.w2 = uni.w2
         |  CROSS JOIN nt)
         |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(micro_nats) AS BIGINT) AS wb_micro_nats
         |FROM bg JOIN probs ON bg.w1 = probs.w1 AND bg.w2 = probs.w2
         |GROUP BY 1""".stripMargin,
    "lm2_bigram_surprisal" ->
      s"""WITH $surprisalCtes
         |SELECT doc_id, n_bigrams, sum_micro_nats,
         |  -CAST(sum_micro_nats AS DOUBLE) / 1e6 / CAST(n_bigrams AS DOUBLE)
         |    AS mean_surprisal_nats
         |FROM ds""".stripMargin,
    "lm6_domain_xppl" ->
      s"""WITH base AS (
         |  SELECT source, string_split($normSql, ' ') AS toks
         |  FROM documents),
         |bg AS (
         |  SELECT source,
         |    unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM base),
         |counts AS (
         |  SELECT source, w1, w2, COUNT(*) AS c
         |  FROM bg GROUP BY source, w1, w2),
         |ctx AS (
         |  SELECT source, w1, SUM(c) AS cctx
         |  FROM counts GROUP BY source, w1),
         |lm AS (
         |  SELECT counts.source AS lm_source, counts.w1, counts.w2,
         |    CAST(FLOOR(ln(CAST(c AS DOUBLE) / CAST(cctx AS DOUBLE)) * 1e6)
         |      AS BIGINT) AS micro
         |  FROM counts JOIN ctx
         |    ON counts.source = ctx.source AND counts.w1 = ctx.w1)
         |SELECT c.source AS doc_source, lm.lm_source,
         |  CAST(SUM(c.c) AS BIGINT) AS n_scored,
         |  -CAST(SUM(c.c * lm.micro) AS DOUBLE) / 1e6 /
         |    CAST(SUM(c.c) AS DOUBLE) AS mean_surprisal
         |FROM counts c JOIN lm ON c.w1 = lm.w1 AND c.w2 = lm.w2
         |GROUP BY c.source, lm.lm_source""".stripMargin,
    "lm8_char_trigram" ->
      s"""WITH d AS (
         |  SELECT lang, $normSql AS t FROM documents),
         |tri AS (
         |  SELECT lang, substr(t, CAST(i AS INTEGER), 3) AS tri
         |  FROM d, unnest(range(1, length(t) - 1)) AS u(i)
         |  WHERE length(t) >= 3),
         |per_lang AS (
         |  SELECT lang, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2),
         |c3 AS (
         |  SELECT tri, substr(tri, 1, 2) AS pre, SUM(c) AS c3
         |  FROM per_lang GROUP BY 1, 2),
         |c2 AS (SELECT pre, SUM(c3) AS c2 FROM c3 GROUP BY 1),
         |lm AS (
         |  SELECT tri,
         |    CAST(FLOOR(ln(CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE)) * 1e6)
         |      AS BIGINT) AS micro
         |  FROM c3 JOIN c2 USING (pre))
         |SELECT p.lang, CAST(SUM(p.c) AS BIGINT) AS n_trigrams,
         |  -CAST(SUM(p.c * lm.micro) AS DOUBLE) / 1e6 /
         |    CAST(SUM(p.c) AS DOUBLE) AS mean_surprisal
         |FROM per_lang p JOIN lm USING (tri)
         |GROUP BY p.lang""".stripMargin,
    "lm7_jelinek_mercer" ->
      s"""WITH base AS (
         |  SELECT source, string_split($normSql, ' ') AS toks
         |  FROM documents),
         |bg AS (
         |  SELECT source,
         |    unnest(toks[1:len(toks)-1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM base),
         |per_source AS (
         |  SELECT source, w1, w2, COUNT(*) AS c
         |  FROM bg GROUP BY 1, 2, 3),
         |counts AS (
         |  SELECT w1, w2, SUM(c) AS c12 FROM per_source GROUP BY 1, 2),
         |ctx AS (SELECT w1, SUM(c12) AS c1 FROM counts GROUP BY 1),
         |uni AS (
         |  SELECT w2, COUNT(*) AS c2
         |  FROM (SELECT unnest(toks) AS w2 FROM base) GROUP BY 1),
         |tot AS (SELECT SUM(c2) AS tt FROM uni),
         |lm AS (
         |  SELECT w1, w2,
         |    CAST(FLOOR(ln(0.5 * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
         |      + 0.5 * (CAST(c2 AS DOUBLE) / CAST(tt AS DOUBLE))) * 1e6)
         |      AS BIGINT) AS micro
         |  FROM counts JOIN ctx USING (w1) JOIN uni USING (w2)
         |  CROSS JOIN tot)
         |SELECT p.source, CAST(SUM(p.c) AS BIGINT) AS n_bigrams,
         |  -CAST(SUM(p.c * lm.micro) AS DOUBLE) / 1e6 /
         |    CAST(SUM(p.c) AS DOUBLE) AS mean_surprisal
         |FROM per_source p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
         |GROUP BY p.source""".stripMargin,
    "lm5_ppl_buckets" ->
      s"""WITH $surprisalCtes,
         |j AS (
         |  SELECT d.doc_id, d.lang,
         |    (-ds.sum_micro_nats) // ds.n_bigrams AS surprisal_micro
         |  FROM documents d JOIN ds ON d.doc_id = ds.doc_id)
         |SELECT doc_id, lang, surprisal_micro,
         |  ((ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY surprisal_micro, doc_id) - 1) * 3)
         |    // (COUNT(*) OVER (PARTITION BY lang)) + 1 AS ppl_bucket
         |FROM j""".stripMargin,
    "dd12_winnowing" ->
      s"""WITH d AS (SELECT doc_id AS id, $normSql AS t FROM documents),
         |hs AS (
         |  SELECT id, list_transform(range(1, greatest(length(t) - 6, 1) + 1),
         |    i -> CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 7)),
         |      1, 15)) AS BIGINT)) AS hs
         |  FROM d),
         |wins AS (
         |  SELECT id, list_distinct(list_transform(
         |    range(1, greatest(len(hs) - 3, 1) + 1),
         |    j -> list_min(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)])))
         |    AS fps
         |  FROM hs),
         |fp AS (SELECT id, len(fps) AS nfp, unnest(fps) AS fp FROM wins),
         |keep AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 50),
         |k AS (SELECT fp.* FROM fp JOIN keep USING (fp))
         |SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(least(a.nfp, b.nfp) AS DOUBLE)
         |    AS overlap
         |FROM k a JOIN k b ON a.fp = b.fp AND a.id < b.id
         |GROUP BY a.id, b.id, a.nfp, b.nfp
         |HAVING CAST(COUNT(*) AS DOUBLE) /
         |  CAST(least(a.nfp, b.nfp) AS DOUBLE) >= 0.5""".stripMargin,
    "pipe2_dedup_impact" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id AS id, $normSql AS t FROM documents),
         |tok AS (
         |  SELECT doc_id AS id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS nt
         |  FROM documents),
         |hs AS (
         |  SELECT id, list_transform(range(1, greatest(length(t) - 6, 1) + 1),
         |    i -> CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 7)),
         |      1, 15)) AS BIGINT)) AS hs
         |  FROM d),
         |wins AS (
         |  SELECT id, list_distinct(list_transform(
         |    range(1, greatest(len(hs) - 3, 1) + 1),
         |    j -> list_min(hs[CAST(j AS INTEGER):CAST(j + 3 AS INTEGER)])))
         |    AS fps
         |  FROM hs),
         |fp AS (SELECT id, len(fps) AS nfp, unnest(fps) AS fp FROM wins),
         |keep AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 50),
         |k AS (SELECT fp.* FROM fp JOIN keep USING (fp)),
         |pairs AS (
         |  SELECT a.id AS ia, b.id AS ib
         |  FROM k a JOIN k b ON a.fp = b.fp AND a.id < b.id
         |  GROUP BY a.id, b.id, a.nfp, b.nfp
         |  HAVING CAST(COUNT(*) AS DOUBLE) /
         |    CAST(least(a.nfp, b.nfp) AS DOUBLE) >= 0.5),
         |edges AS (SELECT ia AS a, ib AS b FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |lbl(node, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, lbl.l FROM edges e JOIN lbl ON e.b = lbl.node),
         |comp AS (SELECT node, MIN(l) AS component FROM lbl GROUP BY node),
         |wkept AS (
         |  SELECT t.id FROM tok t LEFT JOIN comp c ON t.id = c.node
         |  WHERE c.component IS NULL OR c.component = t.id),
         |ekept AS (
         |  SELECT MIN(id) AS id FROM (SELECT id, md5(t) AS h FROM d) z
         |  GROUP BY h)
         |SELECT '0_none' AS strategy, COUNT(*) AS docs_kept,
         |  CAST(SUM(nt) AS BIGINT) AS tokens_kept FROM tok
         |UNION ALL
         |SELECT '1_exact', COUNT(*), CAST(SUM(nt) AS BIGINT)
         |FROM ekept JOIN tok USING (id)
         |UNION ALL
         |SELECT '2_winnow', COUNT(*), CAST(SUM(nt) AS BIGINT)
         |FROM wkept JOIN tok USING (id)""".stripMargin,
    "tx22_source_gini" ->
      s"""WITH st AS (
         |  SELECT source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS nt
         |  FROM documents),
         |n AS (SELECT source, SUM(nt) AS x FROM st GROUP BY source),
         |r AS (SELECT x,
         |    ROW_NUMBER() OVER (ORDER BY x, source) AS rn FROM n)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
         |  CAST(SUM(x) AS BIGINT) AS total,
         |  CAST(2 * SUM(rn * x) - (COUNT(*) + 1) * SUM(x) AS BIGINT)
         |    AS gini_num,
         |  CAST(2 * SUM(rn * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE) /
         |    CAST(COUNT(*) * SUM(x) AS DOUBLE) AS gini
         |FROM r""".stripMargin,
    "tx20_zipf_fit" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS tok FROM documents),
         |f AS (SELECT tok, COUNT(*) AS c FROM toks WHERE tok <> ''
         |      GROUP BY tok),
         |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn
         |      FROM f),
         |q AS (SELECT
         |    CAST(FLOOR(ln(CAST(rn AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |    CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM r),
         |st AS (SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM q)
         |SELECT m,
         |  CAST(m * sxy - sx * sy AS DOUBLE) /
         |    CAST(m * sxx - sx * sx AS DOUBLE) AS slope,
         |  (CAST(sy AS DOUBLE) -
         |    (CAST(m * sxy - sx * sy AS DOUBLE) /
         |      CAST(m * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
         |    CAST(m AS DOUBLE) AS intercept
         |FROM st""".stripMargin,
    "bpc1_merge_pairs" ->
      s"""WITH words AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
         |wf AS (SELECT w, COUNT(*) AS f FROM words
         |       WHERE len(w) >= 2 GROUP BY w),
         |pairs AS (
         |  SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, f
         |  FROM wf, unnest(generate_series(1, len(w) - 1)) AS t(i))
         |SELECT c1, c2, CAST(SUM(f) AS BIGINT) AS cnt
         |FROM pairs GROUP BY c1, c2""".stripMargin,
    "bpc3_train_merges" ->
      s"""WITH words AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
         |wf1 AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w),
         |t1 AS MATERIALIZED (
         |  SELECT c1, c2, CAST(SUM(f) AS BIGINT) AS cnt FROM (
         |    SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, f
         |    FROM wf1, unnest(generate_series(1, len(w) - 1)) AS t(i))
         |  GROUP BY c1, c2 ORDER BY cnt DESC, c1, c2 LIMIT 1),
         |wf2 AS MATERIALIZED (
         |  SELECT w, f FROM (
         |    SELECT replace(w, t1.c1 || t1.c2, chr(31)) AS w, f
         |    FROM wf1 CROSS JOIN t1) z WHERE len(w) >= 2),
         |t2 AS MATERIALIZED (
         |  SELECT c1, c2, CAST(SUM(f) AS BIGINT) AS cnt FROM (
         |    SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, f
         |    FROM wf2, unnest(generate_series(1, len(w) - 1)) AS t(i))
         |  GROUP BY c1, c2 ORDER BY cnt DESC, c1, c2 LIMIT 1),
         |wf3 AS MATERIALIZED (
         |  SELECT w, f FROM (
         |    SELECT replace(w, t2.c1 || t2.c2, chr(30)) AS w, f
         |    FROM wf2 CROSS JOIN t2) z WHERE len(w) >= 2),
         |t3 AS MATERIALIZED (
         |  SELECT c1, c2, CAST(SUM(f) AS BIGINT) AS cnt FROM (
         |    SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, f
         |    FROM wf3, unnest(generate_series(1, len(w) - 1)) AS t(i))
         |  GROUP BY c1, c2 ORDER BY cnt DESC, c1, c2 LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS iter, t1.c1 || t1.c2 AS piece,
         |  t1.cnt AS cnt FROM t1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT),
         |  replace(t2.c1 || t2.c2, chr(31), t1.c1 || t1.c2), t2.cnt
         |FROM t2 CROSS JOIN t1
         |UNION ALL
         |SELECT CAST(3 AS BIGINT),
         |  replace(replace(t3.c1 || t3.c2, chr(30), t2.c1 || t2.c2),
         |    chr(31), t1.c1 || t1.c2), t3.cnt
         |FROM t3 CROSS JOIN t2 CROSS JOIN t1""".stripMargin,
    "bpc2_apply_merge" ->
      s"""WITH words AS (
         |  SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
         |wf AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w),
         |pairs AS (
         |  SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2, f
         |  FROM wf, unnest(generate_series(1, len(w) - 1)) AS t(i)),
         |top AS MATERIALIZED (
         |  SELECT c1, c2 FROM pairs GROUP BY c1, c2
         |  ORDER BY SUM(f) DESC, c1, c2 LIMIT 1),
         |mw AS (
         |  SELECT replace(w, top.c1 || top.c2, chr(31)) AS w, f
         |  FROM wf CROSS JOIN top),
         |p2 AS (
         |  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, f
         |  FROM mw, unnest(generate_series(1, len(w) - 1)) AS t(i)
         |  WHERE len(w) >= 2)
         |SELECT
         |  CASE WHEN a = chr(31) THEN top.c1 || top.c2 ELSE a END AS s1,
         |  CASE WHEN b = chr(31) THEN top.c1 || top.c2 ELSE b END AS s2,
         |  CAST(SUM(f) AS BIGINT) AS cnt
         |FROM p2 CROSS JOIN top GROUP BY 1, 2""".stripMargin,
    "lm9_kn_discount" ->
      s"""WITH base AS (
         |  SELECT string_split($normSql, ' ') AS toks FROM documents),
         |u AS (SELECT unnest(toks) AS w FROM base),
         |uc AS (SELECT w, COUNT(*) AS c FROM u
         |       WHERE length(w) > 0 GROUP BY w),
         |un AS (SELECT CAST(1 AS BIGINT) AS gram_order,
         |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2 FROM uc),
         |bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
         |         unnest(toks[2:len(toks)]) AS w2 FROM base),
         |bc AS (SELECT w1, w2, COUNT(*) AS c FROM bg
         |       WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
         |bn AS (SELECT CAST(2 AS BIGINT) AS gram_order,
         |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2 FROM bc),
         |a AS (SELECT * FROM un UNION ALL SELECT * FROM bn)
         |SELECT gram_order, CAST(n1 AS BIGINT) AS n1,
         |  CAST(n2 AS BIGINT) AS n2,
         |  CASE WHEN n1 + 2 * n2 > 0 THEN
         |    CAST(n1 * 1000000 // (n1 + 2 * n2) AS BIGINT)
         |  END AS d_micro
         |FROM a""".stripMargin,
    "lm3_kneser_ney" ->
      s"""WITH base AS (
         |  SELECT string_split($normSql, ' ') AS toks FROM documents),
         |bg AS (
         |  SELECT unnest(toks[1:len(toks)-1]) AS w1,
         |         unnest(toks[2:len(toks)]) AS w2
         |  FROM base),
         |counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
         |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         |               COUNT(*) AS fanout
         |        FROM counts GROUP BY w1),
         |cont AS (SELECT w2, COUNT(*) AS precede FROM counts GROUP BY w2),
         |t AS (SELECT COUNT(*) AS t FROM counts)
         |SELECT counts.w1, counts.w2, c12,
         |  CAST(((4 * c12 - 3) * 1000000) // (4 * c1)
         |    + (3 * fanout * ((precede * 1000000) // t.t)) // (4 * c1)
         |    AS BIGINT) AS p_kn_micro
         |FROM counts JOIN ctx ON counts.w1 = ctx.w1
         |            JOIN cont ON counts.w2 = cont.w2
         |            CROSS JOIN t""".stripMargin,
    "tx13_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS dl,
        |    unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |cc AS (
        |  SELECT doc_id, dl, ch, COUNT(*) AS c FROM ch
        |  WHERE length(ch) > 0 GROUP BY doc_id, dl, ch)
        |SELECT doc_id,
        |  -CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE) / CAST(dl AS DOUBLE))
        |      * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / CAST(dl AS DOUBLE)
        |    AS entropy_nats
        |FROM cc GROUP BY doc_id, dl""".stripMargin,
    "sim7_pq_codes" -> sim7Sql,
    "sim8_pq_topk" -> sim8Sql,
    "sim9_ivfpq" -> sim9Sql,
    "sim10_pq_recall" -> sim10Sql,
    "sim12_mmr" -> sim12Sql,
    "sim13_rand_proj" ->
      """WITH lanes AS (
        |  SELECT vec_id, i AS j,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS v
        |  FROM embeddings,
        |       unnest(generate_series(1, len(embedding))) AS t(i)),
        |proj AS (
        |  SELECT vec_id, d,
        |    CAST(SUM(CASE WHEN
        |        (CAST(('0x' || substr(md5(j || '_' || d), 1, 15)) AS BIGINT)
        |         % 2) = 0
        |      THEN v ELSE -v END) AS BIGINT) AS p_micro
        |  FROM lanes, unnest(generate_series(0, 7)) AS s(d)
        |  GROUP BY vec_id, d)
        |SELECT vec_id, d, p_micro FROM proj""".stripMargin,
    "km1_kmeans" -> km1Sql,
    "km2_trained_ivf" -> km2Sql,
    "km4_silhouette" ->
      s"""WITH ${kmeansCtes(4, 3)},
         |all_d AS (
         |  SELECT p.id, c.cluster AS c2,
         |    ${kmDistSql("p.qv", "c.cv")} AS d2
         |  FROM pts p CROSS JOIN cents_2 c),
         |own AS (SELECT id, cluster, dist AS a2 FROM a_3),
         |oth AS (SELECT a.id, MIN(a.d2) AS b2
         |  FROM all_d a JOIN own o ON a.id = o.id AND a.c2 <> o.cluster
         |  GROUP BY 1),
         |sil AS (
         |  SELECT o.cluster,
         |    CASE WHEN b2 IS NOT NULL AND
         |        greatest(sqrt(CAST(a2 AS DOUBLE)),
         |          sqrt(CAST(b2 AS DOUBLE))) > 0 THEN
         |      CAST(FLOOR((sqrt(CAST(b2 AS DOUBLE)) -
         |          sqrt(CAST(a2 AS DOUBLE))) /
         |        greatest(sqrt(CAST(a2 AS DOUBLE)),
         |          sqrt(CAST(b2 AS DOUBLE))) * 1e9) AS BIGINT) END
         |      AS s_nano
         |  FROM own o LEFT JOIN oth ON o.id = oth.id)
         |SELECT CAST(cluster AS INTEGER) AS cluster,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(s_nano) AS BIGINT) AS n_scored,
         |  CASE WHEN COUNT(s_nano) > 0 THEN
         |    CAST(SUM(s_nano) AS DOUBLE) / CAST(COUNT(s_nano) AS DOUBLE)
         |      / 1e9 END AS silhouette
         |FROM sil GROUP BY 1""".stripMargin,
    // Same deterministic PII synthesis + the same ordered regex chain as
    // TextAnalysis.redactPii (emails, then IPs, then phones; 'g' flag —
    // Spark replaces all matches by default, DuckDB only the first).
    "tx7_redact_pii" ->
      """WITH pii AS (
        |  SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 3 <> 0 THEN 'reach me at user' ||
        |      CAST(doc_id AS VARCHAR) || '@mail.example.org' END,
        |    CASE WHEN doc_id % 4 <> 0 THEN 'server ' ||
        |      CAST(doc_id % 223 + 1 AS VARCHAR) || '.0.113.' ||
        |      CAST(doc_id % 254 + 1 AS VARCHAR) END,
        |    CASE WHEN doc_id % 5 <> 0 THEN 'tel +1 555-01' ||
        |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now' END
        |  ) AS pii_text FROM documents)
        |SELECT doc_id, pii_text,
        |  regexp_replace(regexp_replace(regexp_replace(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\+?\d[\d\- ]{7,}\d', '[PHONE]', 'g') AS redacted
        |FROM pii""".stripMargin,
  )

  /** sim1's full oracle text — also embedded as the `ex` CTE of the sim5
    * recall oracle (DuckDB allows a nested WITH inside a CTE body). */
  private def sim1Sql: String =
    s"""WITH ${normedSql("")},
      |p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    ${cosineSql("q", "c")} AS cos_sim
      |  FROM n q, n c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
      |SELECT query_id, corpus_id, cos_sim, rk FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, corpus_id ASC) AS BIGINT) AS rk FROM p) t
      |WHERE rk <= 10""".stripMargin

  /** sim6 oracle: the same bit-exact IVF cell assignment as sim3
    * (seed 7, 8 cells), then the within-cell keep-lowest-id prune —
    * a row is removed when ANY lower-id row in its cell is cosine-≥ 0.2. */
  private def sim6Sql: String = {
    val scores = (0 until 8).map(p =>
      s"(${sqlProjChain("embedding", p, seed = 7)}) AS s$p").mkString(",\n  ")
    val cellCase = "CASE " + (0 until 8).map(p =>
      s"WHEN s$p = g THEN $p").mkString(" ") + " END"
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDotChain("embedding", "embedding")}) AS nrm,
       |  $scores
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, embedding, nrm, $cellCase AS cell
       |  FROM (SELECT *, GREATEST(s0,s1,s2,s3,s4,s5,s6,s7) AS g FROM base)),
       |removed AS (
       |  SELECT DISTINCT r.vec_id AS rm_id
       |  FROM assigned l JOIN assigned r
       |    ON l.cell = r.cell AND l.vec_id < r.vec_id
       |  WHERE l.nrm > 0 AND r.nrm > 0
       |    AND (${sqlDotChain("l.embedding", "r.embedding")}) / (l.nrm * r.nrm) >= 0.2)
       |SELECT a.vec_id, a.cell,
       |  CASE WHEN rm.rm_id IS NULL THEN 1 ELSE 0 END AS keep
       |FROM assigned a LEFT JOIN removed rm ON a.vec_id = rm.rm_id""".stripMargin
  }

  /** sim3's full oracle text — also the `ivf` CTE of the sim5 recall
    * oracle. Bit-exact float chains, same as sim2. */
  /** drift1 oracle: the sim3 cell-assignment chain, then exact integer
    * old/new counts and TV numerators per cell. */
  private def drift1Sql: String = {
    val scores = (0 until 8).map(p =>
      s"(${sqlProjChain("embedding", p, seed = 7)}) AS s$p").mkString(",\n  ")
    val cellCase = "CASE " + (0 until 8).map(p =>
      s"WHEN s$p = g THEN $p").mkString(" ") + " END"
    s"""WITH base AS (
       |  SELECT vec_id,
       |  $scores
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, $cellCase AS cell
       |  FROM (SELECT *, GREATEST(s0,s1,s2,s3,s4,s5,s6,s7) AS g FROM base)),
       |counts AS (
       |  SELECT cell,
       |    COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_old,
       |    COUNT(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS n_new
       |  FROM assigned GROUP BY cell),
       |tot AS (SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
       |               CAST(SUM(n_new) AS BIGINT) AS tot_new FROM counts)
       |SELECT cell, n_old, n_new,
       |  abs(n_old * tot_new - n_new * tot_old) AS tv_numerator
       |FROM counts CROSS JOIN tot""".stripMargin
  }

  private def sim3Sql: String = {
    val scores = (0 until 8).map(p =>
      s"(${sqlProjChain("embedding", p, seed = 7)}) AS s$p").mkString(",\n  ")
    val cellCase = "CASE " + (0 until 8).map(p =>
      s"WHEN s$p = g THEN $p").mkString(" ") + " END"
    val probeScore = "CASE c.c " + (0 until 8).map(p =>
      s"WHEN $p THEN s$p").mkString(" ") + " END"
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDotChain("embedding", "embedding")}) AS nrm,
       |  $scores
       |  FROM embeddings),
       |assigned AS (
       |  SELECT vec_id AS corpus_id, embedding, nrm, $cellCase AS cell
       |  FROM (SELECT *, GREATEST(s0,s1,s2,s3,s4,s5,s6,s7) AS g FROM base)
       |  WHERE nrm > 0),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding, nrm, cell FROM (
       |    SELECT b.*, c.c AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY $probeScore DESC, c.c DESC) AS rn
       |    FROM base b CROSS JOIN (SELECT unnest(range(0, 8)) AS c) c
       |    WHERE b.vec_id < 5 AND b.nrm > 0) WHERE rn <= 3),
       |scored AS (
       |  SELECT p.query_id, a.corpus_id,
       |    (${sqlDotChain("p.embedding", "a.embedding")}) / (p.nrm * a.nrm) AS cos_sim
       |  FROM probes p JOIN assigned a ON p.cell = a.cell
       |  WHERE p.query_id <> a.corpus_id)
       |SELECT query_id, corpus_id, cos_sim, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, corpus_id ASC) AS rk FROM scored)
       |WHERE rk <= 10""".stripMargin
  }
}
