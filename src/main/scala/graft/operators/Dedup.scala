package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact:   one hash-shuffle on a 128-bit content fingerprint.
  *  - minhash: shingle → K md5-derived min-hashes → B bands; duplicates
  *             meet in a band-bucket shuffle (no O(n²) compare). Band
  *             buckets are the LSH trick that makes near-dup feasible at
  *             100 TB: candidate pairs only form inside a bucket.
  *  - simhash: 64-bit weighted-bit signature; near-dups differ in few bits
  *             and are bucketed by signature bands the same way.
  *  - ngram Jaccard: exact pair similarity, evaluated only on LSH/shingle
  *             candidates — never all pairs.
  *
  * Hash family is md5-derived (not xxhash64) so fingerprints are
  * reproducible by any engine, which the oracle harness exploits.
  */
object Dedup {

  import TextAnalysis.normalizeText
  import graft.functions.HashExpressions.md5Prefix60

  /** One md5-derived 60-bit hash of a shingle under seed `seed`.
    * [[graft.functions.Md5Prefix60]] fuses the digest→long step (the
    * equivalent `conv(substring(md5(..)))` chain materializes and parses
    * a hex string per shingle); the value is bit-identical, so the
    * hex-formulated DuckDB oracles still hash-match. */
  def seededHash(c: Column, seed: Int): Column =
    md5Prefix60(concat(lit(seed.toString), lit(":"), c))

  /** MinHash uses ONE md5 per shingle (reduced mod a Mersenne prime) and
    * derives the K hash functions affinely: h_j = (a_j·h + b_j) mod p.
    * md5 dominates the cost of signature computation — the affine family
    * is 16x cheaper than 16 independent md5 passes and equally valid for
    * MinHash (pairwise-independent). Constants are small enough that
    * a_j·h stays inside a 64-bit long. */
  private[operators] val MinhashPrime = 2147483647L // 2^31 - 1
  private[operators] def affineA(j: Int): Long = (j + 1L) * 1000003L
  private[operators] def affineB(j: Int): Long = j * 999983L

  /** Base shingle hash in [0, p): 60-bit md5 prefix mod p. */
  def baseHash(c: Column): Column = md5Prefix60(c) % MinhashPrime

  /** Exact dedup: keep the lowest-id document per content fingerprint.
    * One shuffle on the fingerprint; map-side partial aggregation makes the
    * shuffle carry one row per distinct hash per partition. */
  def exactDedup(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures as a NARROW per-document projection: one md5 per
    * distinct shingle ([[graft.functions.Md5Prefix60]] under the
    * transform), then all K affine minima in one fused pass over the hash
    * array ([[graft.functions.MinhashSignature]]). No explode, no
    * shuffle — signature computation is embarrassingly parallel, so at
    * corpus scale the LSH band buckets are the pipeline's only exchange.
    * (Round 2 used explode → groupBy with K min-aggregates to dodge the
    * HOF per-element re-evaluation trap; the fused kernel removes the
    * reason.) Spread single-row-group inputs upstream ([[graft.core
    * .Tables.spread]]) — the per-doc hashing runs wherever the scan
    * runs. Returns (id, sig array). */
  def minhashSignatures(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", numHashes: Int = 16,
                        shingleN: Int = 3): DataFrame = {
    require(MinhashPrime == graft.functions.MinhashSignature.Prime &&
      (0 until numHashes).forall(j =>
        affineA(j) == graft.functions.MinhashSignature.affineA(j) &&
          affineB(j) == graft.functions.MinhashSignature.affineB(j)),
      "fused kernel must use the documented affine family")
    df.select(col(idCol).as("id"),
      graft.functions.SignatureExpressions.minhashSig(
        transform(array_distinct(shinglesExpr(col(textCol), shingleN)),
          s => baseHash(s)),
        numHashes).as("sig"))
  }

  /** Word n-gram shingles as an array column.
    *
    * Implementation note: the obvious
    * `transform(sequence(0, m), i -> concat_ws(slice(toks, i+1, n)))`
    * re-evaluates the whole tokenize subtree per element (lambda bodies in
    * higher-order functions re-run their non-lambda sub-expressions, and
    * HOFs get no codegen subexpression elimination) — O(tokens²) regex
    * work per document. Instead we zip the token array with its own
    * k-shifted slices: each zip_with argument is evaluated once, so
    * shingling is O(tokens·n). Null padding from the shorter slice marks
    * the tail positions, filtered at the end. */
  def shinglesExpr(text: Column, n: Int): Column = {
    val toks = split(normalizeText(text), " ")
    val chained = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc,
        slice(toks, lit(k), greatest(size(toks) - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) <= n, array(concat_ws(" ", toks)))
      .otherwise(filter(chained, x => x.isNotNull))
  }

  /** Winnowing (Schleimer–Wilkerson–Aiken, the MOSS algorithm)
    * fingerprint selection: hash every `k`-char gram of the normalized
    * text, keep the minimum hash of each `w`-gram window. GUARANTEE: any
    * shared substring of length ≥ w + k − 1 contributes at least one
    * shared fingerprint — character-level near-dup detection is
    * deterministic, not MinHash-probabilistic, and catches splice edits
    * word-shingle signatures smear out. FUSED-KERNEL form (round-14):
    * the whole selection — gram hashing, rolling w-window minimum,
    * first-occurrence distinct — is ONE compiled loop per document
    * ([[graft.functions.WinnowFingerprints]]), so nothing leaves the row
    * until the distinct fingerprints explode. The round-13 zip-slice
    * chain (gram-hash `transform` + w−1 `zip_with(…, least)` steps) had
    * the right plan shape (no explode-to-gram-grain, no per-doc window,
    * no distinct shuffle) but ran INTERPRETED: higher-order functions
    * are CodegenFallback and re-enter Catalyst eval per array element —
    * the driver's round-13 bench billed that at −11% on dd12/pipe2.
    * The kernel keeps the zip-slice plan shape and computes the
    * identical fingerprint multiset (same `substr` grams, same md5
    * prefix, same shrinking tail windows, same first-occurrence dedup —
    * PropertySpec pins kernel ≡ chain), so the DuckDB oracles still
    * hash-match. Short docs (< k chars) yield their whole text as the
    * single gram in both this and the oracle formulation; a NULL text
    * keeps the chain's one-null-fp-row behavior via the explicit
    * when-branch. Returns one row per distinct (id, fp). */
  def winnowFingerprints(df: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         k: Int = 7, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k, w >= 1, got k=$k w=$w")
    df.select(col(idCol),
      explode(when(col(textCol).isNull, array(lit(null).cast("long")))
        .otherwise(graft.functions.SignatureExpressions.winnowFps(
          normalizeText(col(textCol)), k, w))).as("fp"))
  }

  /** MinHash+LSH near-dup candidate pairs: split the signature into
    * `bands` bands of `rowsPerBand`, bucket on (band index, band slice),
    * and emit intra-bucket pairs. Shuffle cost: one explode×bands plus a
    * self-join per bucket — candidates only, never the full cross product.
    */
  /** Banded LSH buckets from a (id, sig) frame. */
  private def bandedBuckets(sig: DataFrame, numHashes: Int, bands: Int)
  : DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("_", transform(
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string")))))
        .as(Seq("band", "bucket")))
  }

  def minhashCandidates(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", numHashes: Int = 16,
                        bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val sig = minhashSignatures(df, textCol, idCol, numHashes, shingleN)
    val banded = bandedBuckets(sig, numHashes, bands)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Full-width (60-bit) shingle hash — used for set intersection, where
    * the [[baseHash]] mod-2^31 reduction would make pair collisions
    * non-negligible. */
  private def hash60(c: Column): Column = md5Prefix60(c)

  /** n-gram Jaccard similarity for given candidate pairs (id_a, id_b):
    * |A∩B| / |A∪B| over distinct 60-bit shingle-hash sets. Hashing first
    * makes the intersect/union long-typed (cheap comparisons, fixed-width
    * shuffle rows) instead of carrying full shingle strings; 60 bits keep
    * the per-pair collision probability ~1e-13. */
  def jaccardOnCandidates(docs: DataFrame, candidates: DataFrame,
                          textCol: String = "text", idCol: String = "doc_id",
                          shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(transform(shinglesExpr(col(textCol), shingleN),
        s => hash60(s))).as("sh"))
    candidates
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"),
        "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
  }

  /** Broder CONTAINMENT on candidate pairs: |A∩B| / min(|A|, |B|) —
    * resemblance (Jaccard) misses near-SUPERSET pairs (a doc quoting
    * another wholesale scores |small|/|big| ≈ 0 on Jaccard but ≈ 1 on
    * containment), and quote/boilerplate absorption is a distinct dedup
    * failure mode. Same shingle-set join shape as
    * [[jaccardOnCandidates]]; the score is one IEEE division of two
    * exact integers. Note the recall caveat: resemblance-tuned LSH
    * buckets under-recall asymmetric pairs — a containment-tuned index
    * buckets on the SMALL side's signature (or uses dd5's span-level
    * exact dedup, which catches verbatim quoting directly). */
  def containmentOnCandidates(docs: DataFrame, candidates: DataFrame,
                              textCol: String = "text",
                              idCol: String = "doc_id",
                              shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(transform(shinglesExpr(col(textCol), shingleN),
        s => hash60(s))).as("sh"))
    candidates
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
          .as("containment"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates → exact Jaccard →
    * threshold filter. */
  def minhashDedup(df: DataFrame, threshold: Double = 0.8,
                   textCol: String = "text", idCol: String = "doc_id",
                   numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3)
  : DataFrame = {
    val cands =
      minhashCandidates(df, textCol, idCol, numHashes, bands, shingleN)
    jaccardOnCandidates(df, cands, textCol, idCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** The persistable LSH bucket INDEX of a corpus: one (id, band,
    * bucket) row per document×band. This is the index side of
    * [[minhashDedupIncremental]]; in production write it bucketed on
    * (band, bucket) so every later probe join is exchange-free on the
    * index side. */
  def bucketIndex(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id", numHashes: Int = 16,
                  bands: Int = 4, shingleN: Int = 3): DataFrame =
    bandedBuckets(minhashSignatures(df, textCol, idCol, numHashes,
      shingleN), numHashes, bands)

  /** Incremental dedup-on-ingest: probe an INCOMING batch's LSH buckets
    * against the EXISTING corpus's bucket index — the per-batch
    * production shape. The index side is built once per corpus
    * generation (and in practice persisted / bucketed on the bucket
    * key); each arriving batch pays only its own signatures plus one
    * bucket equi-join against the index — never a corpus self-join, so
    * batch cost is O(batch + matched buckets) regardless of corpus size.
    * Ids must be disjoint across the two sides. Emits
    * (id_a = existing, id_b = incoming, jaccard) pairs at or above the
    * threshold. */
  def minhashDedupIncremental(existing: DataFrame, incoming: DataFrame,
                              threshold: Double = 0.8,
                              textCol: String = "text",
                              idCol: String = "doc_id",
                              numHashes: Int = 16, bands: Int = 4,
                              shingleN: Int = 3): DataFrame = {
    val idx = bucketIndex(existing, textCol, idCol, numHashes, bands,
      shingleN)
    val probe = bucketIndex(incoming, textCol, idCol, numHashes, bands,
      shingleN)
    val cands = idx.as("l").join(probe.as("r"),
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    jaccardOnCandidates(existing.unionByName(incoming), cands,
        textCol, idCol, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** 60-bit SimHash signatures as a narrow per-document projection: hash
    * each shingle once (duplicates kept — they weight the vote), then the
    * per-bit majority in one fused pass ([[graft.functions
    * .SimhashSignature]]). Same zero-shuffle rationale as
    * [[minhashSignatures]]. Returns (id, sig). */
  def simhashSignatures(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", shingleN: Int = 2)
  : DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.SignatureExpressions.simhashSig(
        transform(shinglesExpr(col(textCol), shingleN),
          s => seededHash(s, 0))).as("sig"))

  /** Repeated-span report: token n-gram spans appearing in MORE THAN ONE
    * document — the exact-substring tier of training-data dedup (repeated
    * boilerplate, licenses, navigation chrome inflate loss and leak
    * verbatim memorization; span-level dedup catches what document-level
    * near-dup cannot, because the containing documents may be globally
    * dissimilar). Spans are 60-bit-hashed (never shipped as strings), so
    * the shuffle carries fixed-width rows: one explode + one hash groupBy,
    * the exact-dedup cost shape, at n-gram granularity. Returns
    * (span_hash, n_docs, min_doc, max_doc) for spans with `n_docs >= 2`;
    * min/max doc ids anchor a span back to example documents. */
  def repeatedSpans(df: DataFrame, spanTokens: Int = 8,
                    textCol: String = "text", idCol: String = "doc_id")
  : DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(array_distinct(transform(
          shinglesExpr(col(textCol), spanTokens),
          s => md5Prefix60(s)))).as("span_hash"))
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)

  /** Connected components over near-dup candidate pairs: the step that
    * turns pairwise output into actionable DEDUP CLUSTERS (keep one doc
    * per component, drop the rest). Iterative min-label propagation on
    * DataFrames: every node starts labeled with itself; each round it
    * takes the min of its label and its neighbors' labels; fixpoint =
    * every node carries its component's minimum id.
    *
    * Scale shape: each round is one hash-shuffled join + aggregate, and
    * the round count is the component DIAMETER — near-dup clusters are
    * band-bucket near-cliques, so 2-4 rounds in practice (`maxIter`
    * bounds pathological chains and throws when hit unconverged; for
    * general billion-edge graphs the alternating large-star/small-star
    * variant shortcuts diameter, not needed for dedup-shaped inputs).
    * Lineage is cut per round with a scope-owned pin
    * ([[GlobalRank.pinned]]) so the plan doesn't grow with iterations; the
    * per-round convergence check is one count() action — the standard
    * iterative-algorithm driver loop (it inspects a scalar, never data).
    *
    * Returns (doc_id, cluster_id = min id in the component) for every id
    * appearing in `pairs`. Exact min is order-independent, so the result
    * is deterministic under any partitioning. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 20)
  : DataFrame = {
    val und = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .transform(graft.operators.GlobalRank.pinned)
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).transform(graft.operators.GlobalRank.pinned)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = und.join(labels, und("dst") === labels("id"))
        .groupBy(und("src").as("nid")).agg(min(col("lbl")).as("nbr_lbl"))
      // carry a per-row `changed` flag through the update so convergence
      // is a scan of the checkpointed result, not another join
      val updated = labels.join(nbrMin, labels("id") === nbrMin("nid"))
        .select(labels("id"),
          least(labels("lbl"), col("nbr_lbl")).as("lbl"),
          (col("nbr_lbl") < labels("lbl")).as("changed"))
        .transform(graft.operators.GlobalRank.pinned)
      converged = updated.filter(col("changed")).isEmpty
      labels = updated.select("id", "lbl")
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter = $maxIter rounds")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Hamming distance between two simhash signatures. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: bucket by 4 bands of 15 bits, compare hamming
    * distance inside buckets only. */
  def simhashCandidates(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", maxHamming: Int = 8)
  : DataFrame = {
    val sigs = simhashSignatures(df, textCol, idCol)
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND((1L << 15) - 1)): _*))
        .as(Seq("band", "bucket")))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hammingDistance(col("l.sig"), col("r.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
