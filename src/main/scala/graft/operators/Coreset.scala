package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (Gonzalez's farthest-first
  * traversal): pick the point farthest from the current center set,
  * repeat k times — a 2-approximation of the optimal k-center cover and
  * the standard diversity-maximizing subset selector for data curation /
  * active-learning pools (pick the docs that SPAN the embedding space,
  * not the densest cluster).
  *
  * Scale shape mirrors [[KMeans]]: the per-round work is ONE distributed
  * min-update over all points against a single broadcast-literal center
  * (distance via the exact integer identity |x−c|² = x·x − 2x·c + c·c on
  * micro-quantized lanes — order-free, engine-reproducible), and the only
  * driver traffic is the 1-row argmax collect per round (k rows total;
  * k is a model constant, never data-sized). Per-round pin
  * truncates the k-deep lineage. Ties on the farthest pick break to the
  * lowest id, so the trajectory is a pure function of the input.
  */
object Coreset {

  /** Runs farthest-first on `(idCol, vecCol: array<bigint>)` rows.
    * Returns (pid, assigned, min_d2, is_center): each point's covering
    * center (first-selected wins distance ties — updates only on
    * strictly smaller d²), its squared distance to it, and whether the
    * point itself was selected. Seed center = lowest id (deterministic,
    * no RNG). */
  def kCenterGreedy(points: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    import graft.functions.VectorExpressions.dotL
    val pts = points.select(col(idCol).cast("bigint").as("pid"),
      col(vecCol).as("qv")).transform(graft.operators.GlobalRank.pinned)

    def d2To(cvec: Seq[Long]): Column = {
      val carr = array(cvec.map(lit): _*)
      dotL(col("qv"), col("qv")) - lit(2L) * dotL(col("qv"), carr) +
        lit(cvec.map(v => v * v).sum)
    }

    val firstArr = pts.orderBy(col("pid")).limit(1).collect()
    if (firstArr.isEmpty) // empty corpus: empty coreset, not an index error
      return pts.select(col("pid"), col("pid").as("assigned"),
        lit(0L).as("min_d2"), lit(false).as("is_center"))
    val first = firstArr(0)
    var centerIds = Seq(first.getLong(0))
    var state = pts.select(col("pid"), col("qv"),
        d2To(first.getSeq[Long](1)).as("min_d2"),
        lit(first.getLong(0)).as("assigned"))
      .transform(graft.operators.GlobalRank.pinned)
    for (_ <- 2 to k) {
      val far = state.orderBy(col("min_d2").desc, col("pid").asc)
        .limit(1).collect()(0)
      val cid = far.getLong(0)
      centerIds :+= cid
      val nd = d2To(far.getSeq[Long](1))
      state = state.select(col("pid"), col("qv"),
          when(nd < col("min_d2"), nd).otherwise(col("min_d2"))
            .as("min_d2"),
          when(nd < col("min_d2"), lit(cid)).otherwise(col("assigned"))
            .as("assigned"))
        .transform(graft.operators.GlobalRank.pinned)
    }
    state.select(col("pid"), col("assigned"), col("min_d2"),
      col("pid").isin(centerIds: _*).as("is_center"))
  }
}
