package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions.md5Prefix60

/** Deterministic sampling / split assignment for training-data pipelines.
  *
  * `df.sample(seed)` keys its Bernoulli draw on ROW ORDER: the same seed
  * over the same data yields a different sample when partitioning,
  * file-split planning, or AQE changes row placement — which at 100 TB it
  * always eventually does. A training pipeline needs the opposite
  * property: membership decided per RECORD, stable forever, so holdout
  * sets never leak into training across reruns and engines. These
  * operators hash a key column (md5-derived, engine-reproducible — same
  * family as the dedup fingerprints) into 1000 buckets and gate on the
  * bucket: pure narrow per-row compute, no shuffle, no state, and any
  * engine that can md5 reproduces the exact membership.
  */
object Sampling {

  /** Two-round RAKING (iterative proportional fitting) over a
    * (lang, source, n) CELL table: round 1 scales every cell to the
    * uniform language target, round 2 rescales to restore the source
    * margins round 1 disturbed. Weights stay micro integers; every
    * product runs in decimal(38,0) so nothing overflows at corpus
    * scale, and every division is nonneg div nonneg — engine-identical.
    * The input is METADATA grain (L·S rows after one corpus rollup), so
    * every join below broadcasts. StreamingSpec's s17 case feeds it a
    * complete-mode stream rollup's snapshot and gets the batch plan. */
  def rakeTwoRound(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum(col("n")).as("t"),
      countDistinct(col("lang")).as("nl"))
    val w1 = cells.groupBy("lang").agg(sum(col("n")).as("n_l"))
      .crossJoin(broadcast(tot))
      .select(col("lang"),
        expr("""cast(t as decimal(38,0)) * 1000000 div nl * 1000000
               |  div (cast(n_l as decimal(38,0)) * 1000000)"""
          .stripMargin.replace("\n", " ")).cast("bigint")
          .as("w1_micro"))
    val c1 = cells.join(broadcast(w1), "lang")
    val f2 = c1.groupBy("source")
      .agg(sum(col("n")).as("n_s"),
        sum(expr("cast(n as decimal(38,0)) * w1_micro")).as("cur2"))
      .select(col("source"),
        expr("""cast(n_s as decimal(38,0)) * 1000000 * 1000000
               |  div cur2""".stripMargin.replace("\n", " "))
          .cast("bigint").as("f2_micro"))
    c1.join(broadcast(f2), "source")
      .select(col("lang"), col("source"), col("n"), col("w1_micro"),
        expr("""cast(w1_micro as decimal(38,0)) * f2_micro
               |  div 1000000""".stripMargin.replace("\n", " "))
          .cast("bigint").as("w2_micro"))
  }

  /** Stable bucket in [0, 1000) for a key under a salt. Distinct salts
    * give independent samples (e.g. a sampling gate that must not
    * correlate with the train/val/test split). Null keys get a null
    * bucket (concat propagates null, matching SQL `||` semantics —
    * concat_ws would silently hash the bare salt), so null-keyed rows
    * drop out of every gate instead of clustering in one bucket. */
  def bucket(key: Column, salt: String): Column =
    md5Prefix60(concat(lit(salt + ":"), key.cast("string"))) % 1000

  /** Bernoulli-by-key sample: keeps ~keepPermille/1000 of rows,
    * deterministically. */
  def hashSample(df: DataFrame, key: Column, keepPermille: Int,
                 salt: String = "sample"): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000, "permille in 0..1000")
    df.filter(bucket(key, salt) < keepPermille)
  }

  /** Stratified sample: per-stratum keep rates (permille), e.g. downsample
    * boilerplate-heavy document classes while keeping all rare ones —
    * the class-rebalancing step of corpus curation. Unlisted strata fall
    * back to `defaultPermille`. */
  def stratifiedSample(df: DataFrame, strata: Column, key: Column,
                       rates: Map[String, Int], defaultPermille: Int,
                       salt: String = "strata"): DataFrame = {
    val rate = rates.foldRight(lit(defaultPermille)) {
      case ((stratum, permille), acc) =>
        when(strata === stratum, lit(permille)).otherwise(acc)
    }
    df.filter(bucket(key, salt) < rate)
  }

  /** Quality-weighted Bernoulli sample: per-row keep probability given as
    * a PERMILLE COLUMN (e.g. derived from a quality score — keep good
    * documents at a high rate, boilerplate at a low one, without a hard
    * cutoff). Same stable-membership contract as [[hashSample]]: the draw
    * keys on (salt, key), so reruns, repartitioning, and other engines
    * reproduce the exact keep set for a given weight; rows whose weight
    * changes between runs re-draw against the SAME uniform, so membership
    * is monotone in the weight (raising a row's permille can only add it,
    * never drop it — no churn from small score shifts). Weights are
    * clamped to [0, 1000]; null weights (and null keys) drop out. Pure
    * narrow per-row compute, no shuffle. */
  def weightedSample(df: DataFrame, key: Column, permille: Column,
                     salt: String = "wsample"): DataFrame =
    df.filter(bucket(key, salt) <
      least(greatest(permille.cast("bigint"), lit(0L)), lit(1000L)))

  /** Weighted corpus mixture: each source contributes a deterministic
    * hash-sample at its own rate (permille), tagged with a provenance
    * column — the "mix web 60% / books 25% / code 15%" step of training-
    * corpus assembly. Salting the bucket per source keeps the draws
    * independent: a record appearing in two sources is not correlated
    * across them. Union is by name, so sources may differ in column order
    * (not in schema). Narrow per-row compute plus a union — no shuffle;
    * at 100 TB each source's scan filters map-side and the mixture is
    * just the concatenation of the surviving partitions. */
  def mixCorpus(sources: Seq[(String, DataFrame, Int)],
                key: Column, outCol: String = "source"): DataFrame = {
    require(sources.nonEmpty, "at least one source")
    sources.map { case (name, df, permille) =>
      hashSample(df, key, permille, salt = s"mix:$name")
        .withColumn(outCol, lit(name))
    }.reduce(_ unionByName _)
  }

  /** Train/val/test assignment as a column — consistent forever for a
    * given key, disjoint and exhaustive over keyed rows. Null keys get a
    * null split (matching [[bucket]]'s null semantics: an unkeyed record
    * belongs to no split, and must never land silently in the holdout
    * set — without the explicit gate the null bucket would fall through
    * every `when` into the `otherwise("test")` branch). */
  /** Deterministic per-key CAP: keep at most `maxN` rows per key,
    * chosen by record-keyed md5 order — class balancing / per-source
    * quotas without RNG state, so the kept set is stable under
    * repartitioning and re-runs (same contract as the other gates).
    * One window shuffle on the key; for low-cardinality keys at corpus
    * scale prefer feeding it through [[graft.plans.TopKPerKey]]'s
    * partial-reduction plan (same semantics, bounded shuffle). */
  def capPerKey(df: DataFrame, key: Column, id: Column,
                maxN: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(md5(id.cast("string")), id)
    df.withColumn("pick_rank", row_number().over(w).cast("bigint"))
      .filter(col("pick_rank") <= maxN)
  }

  def splitAssign(df: DataFrame, key: Column, trainPermille: Int,
                  valPermille: Int, salt: String = "split",
                  outCol: String = "split"): DataFrame = {
    require(trainPermille + valPermille <= 1000, "train+val must fit in 1000")
    val b = bucket(key, salt)
    df.withColumn(outCol,
      when(b.isNull, lit(null).cast("string"))
        .when(b < trainPermille, "train")
        .when(b < trainPermille + valPermille, "val")
        .otherwise("test"))
  }
}
