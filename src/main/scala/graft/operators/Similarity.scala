package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Three tiers, trading recall for scan cost:
  *  - bruteForceTopK: exact cosine over a broadcast query set — the
  *    baseline; scales linearly in corpus size, constant in query count.
  *  - lshTopK: random-hyperplane LSH — corpus is bucketed by sign
  *    pattern; only same-bucket pairs are scored. The bucketing is one
  *    narrow projection; the join shuffles each side once on the bucket.
  *  - ivfTopK: inverted-file (IVF) — k-means-ish coarse centroids assign
  *    each vector to a cell; queries probe the nearest `nprobe` cells.
  *    At 100 TB the cell assignment is written at ingest (partition
  *    column), so a query scans only `nprobe/ncells` of the data.
  *
  * All arithmetic is element-wise fold over the array column — codegen'd,
  * no UDF, no explode of the 64-dim vectors.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in
    * element order (deterministic). Fused codegen expression
    * ([[graft.functions.VectorExpressions.DotProductF]]); the composable
    * HOF form ([[dotHof]]) is kept as the semantics reference — both
    * accumulate in element order and agree bit-for-bit. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotF(a, b)

  /** Composable higher-order-function dot product (CodegenFallback;
    * allocation per row — reference implementation for tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force cosine top-k: broadcast the (small) query set,
    * score every corpus vector, keep top k per query via partitioned
    * row_number. One broadcast join + one shuffle on query_id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding")
  : DataFrame = {
    // norms are computed once per row BELOW the join, so each scored pair
    // pays only the dot product
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm")))
    val scored = corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"),
        norm(col(vecCol)).as("c_norm"))
      .crossJoin(q)
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "corpus_id", "cos_sim", "rk")
  }

  /** Deterministic pseudo-random hyperplane component for (seed, plane j,
    * dim i) in [-0.5, 0.5): md5-derived. Computed ONCE at plan-build time
    * on the driver and embedded as an array literal — an expression form
    * would re-run md5 per row per element (HOFs are CodegenFallback, no
    * subexpression elimination). */
  private[graft] def planeComponent(seed: Int, plane: Int, dim: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${seed}_${plane}_$dim".getBytes("UTF-8"))
    val v = ((d(0) & 0xFF) << 16) | ((d(1) & 0xFF) << 8) | (d(2) & 0xFF)
    v.toDouble / 0xFFFFFF.toDouble - 0.5
  }

  private def planeLit(seed: Int, plane: Int, dim: Int): Column =
    typedLit((0 until dim).map(i => planeComponent(seed, plane, i)))

  /** Random-hyperplane LSH signature: `planes` sign bits packed into a
    * long. Same-signature vectors are cosine-close with high probability.
    * `dim` must match the embedding dimensionality (plane vectors are
    * plan-time literals). */
  def lshSignature(vec: Column, planes: Int = 12, seed: Int = 42,
                   dim: Int = 64): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, planeLit(seed, p, dim),
          (v, c) => v.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed ANN top-k: join corpus and queries on the signature
    * bucket, score only collisions. Recall is tunable via `planes`
    * (fewer planes → bigger buckets → higher recall, more compute). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val cSig = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_norm"),
      lshSignature(col(vecCol), planes, dim = dim).as("sig"))
    val qSig = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_norm"),
      lshSignature(col(vecCol), planes, dim = dim).as("sig")))
    val scored = cSig.join(qSig, "sig")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "corpus_id", "cos_sim", "rk")
  }

  /** IVF coarse assignment: nearest of `ncells` deterministic pseudo-random
    * centroids (same md5 family). Returns the input plus a `cell` column —
    * at ingest time this becomes a partition column so queries prune cells.
    */
  def ivfAssign(df: DataFrame, ncells: Int = 16, seed: Int = 7,
                vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val vec = col(vecCol)
    val scores = (0 until ncells).map { cCell =>
      aggregate(
        zip_with(vec, planeLit(seed, cCell, dim),
          (v, c) => v.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
    }
    val best = scores.reduce((a, b) => greatest(a, b))
    val cell = scores.zipWithIndex.foldRight(lit(-1)) {
      case ((s, idx), acc) => when(s === best, lit(idx)).otherwise(acc)
    }
    df.withColumn("cell", cell)
  }

  /** The `nprobe` best cells for a query vector, as an `array<int>` —
    * highest centroid score first, ties to the higher cell id (the
    * descending sort of (score, cell) structs). Shared by [[ivfTopK]]
    * and [[ProductQuantization.ivfPqTopK]] so both probe bit-identical
    * cells. `dim` must match the corpus-side [[ivfAssign]] — a
    * mismatched projection would silently probe the wrong cells
    * (zip_with null-pads short arrays). */
  private[graft] def probeCells(vec: Column, ncells: Int, nprobe: Int,
                                seed: Int, dim: Int): Column = {
    val cellScores = array((0 until ncells).map { cCell =>
      struct(
        aggregate(zip_with(vec, planeLit(seed, cCell, dim),
          (v, c) => v.cast("double") * c), lit(0.0), (a, x) => a + x)
          .as("score"),
        lit(cCell).as("cell"))
    }: _*)
    slice(reverse(array_sort(cellScores)), 1, nprobe).getField("cell")
  }

  /** IVF ANN top-k: corpus vectors are pre-assigned to coarse cells
    * ([[ivfAssign]] — at ingest this is a partition column); each query
    * probes only its `nprobe` best cells, so the scan covers
    * ~nprobe/ncells of the corpus. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              ncells: Int = 16, nprobe: Int = 4, seed: Int = 7,
              idCol: String = "vec_id", vecCol: String = "embedding",
              dim: Int = 64): DataFrame = {
    // zero-norm vectors have no direction — cosine is undefined (and the
    // ANSI division would throw); they are excluded from both sides, the
    // normalize-or-drop ingest rule every oracle mirrors
    val assigned = ivfAssign(corpus, ncells, seed, vecCol, dim)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"),
        norm(col(vecCol)).as("c_norm"), col("cell"))
      .filter(col("c_norm") > 0)
    val vec = col(vecCol)
    val probes = broadcast(queries
      .select(col(idCol).as("query_id"), vec.as("q_vec"),
        norm(vec).as("q_norm"),
        probeCells(vec, ncells, nprobe, seed, dim).as("top_cells"))
      .filter(col("q_norm") > 0)
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        explode(col("top_cells")).as("cell")))
    val scored = assigned.join(probes, "cell")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("corpus_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "corpus_id", "cos_sim", "rk")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv
    * 2303.09540): coarse-cluster the embedding space, then prune
    * near-duplicates WITHIN each cluster only — the pairwise cosine work
    * drops from O(n²) to O(Σ cell²), and since the cell is the shuffle
    * key, every comparison is intra-partition.
    *
    * Clustering reuses [[ivfAssign]]'s deterministic centroids (at 100 TB
    * the cell is a partition column written at ingest, so this phase is a
    * partitioned scan, not a shuffle). Within a cell, a row is pruned when
    * some LOWER-id row in the same cell is cosine-≥ `threshold` — the
    * keep-lowest-id rule that makes the output order-independent.
    *
    * Returns every corpus row with its `cell` and a `keep` flag (1/0) —
    * callers filter `keep = 1` for the deduplicated corpus; the flag form
    * keeps the decision auditable.
    *
    * SIZING: pair work is O(Σ cell_size²), so `ncells` must GROW with the
    * corpus — size it ≈ √n rows (SemDeDup itself uses 50k clusters for
    * 5B embeddings). The default 8 fits the 2k-row harness corpus only;
    * [[ivfAssign]] supports 10⁴-10⁵ cells unchanged. A cell holding ~10⁵+
    * rows means ~10¹⁰ in-cell pairs — raise `ncells` before running. The
    * `require` below enforces the intent coarsely at call time.
    */
  def semDedup(corpus: DataFrame, threshold: Double = 0.2,
               ncells: Int = 8, seed: Int = 7, idCol: String = "vec_id",
               vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    require(ncells >= 1, "ncells must be positive; size ncells ≈ √n rows " +
      "(pair work is O(Σ cell²) — 8 is harness-scale, use 10⁴-10⁵ at corpus scale)")
    val assigned = ivfAssign(corpus, ncells, seed, vecCol, dim)
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("cell"))
    // zero-norm rows can't be near-dups of anything (cosine undefined) —
    // they stay in the output with keep = 1 but never enter the pairwise
    // phase (ANSI would throw on the 0-norm division)
    val directed = assigned.filter(col("nrm") > 0)
    val l = directed.as("l")
    val r = directed.as("r")
    // a row is removed when a lower-id row in its cell is close enough
    val removed = l.join(r, col("l.cell") === col("r.cell") &&
        col("l.vec_id") < col("r.vec_id"))
      .filter(dot(col("l.vec"), col("r.vec")) /
        (col("l.nrm") * col("r.nrm")) >= threshold)
      .select(col("r.vec_id").as("rm_id")).distinct()
    assigned.select(col("vec_id"), col("cell"))
      .join(removed, col("vec_id") === col("rm_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("rm_id").isNull, lit(1)).otherwise(lit(0)).as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucket the corpus against
    * itself and keep pairs above `threshold`. */
  def cosineNearDup(corpus: DataFrame, threshold: Double = 0.95,
                    planes: Int = 8, idCol: String = "vec_id",
                    vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val sig = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"),
      lshSignature(col(vecCol), planes, dim = dim).as("sig"))
      .filter(col("nrm") > 0) // zero-norm: cosine undefined, excluded
    val l = sig.as("l")
    val r = sig.as("r")
    l.join(r, col("l.sig") === col("r.sig") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        (dot(col("l.vec"), col("r.vec")) / (col("l.nrm") * col("r.nrm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
