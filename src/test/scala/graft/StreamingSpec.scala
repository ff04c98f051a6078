package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Runs kept batch operators unchanged on a MemoryStream (append or
  * complete mode, one or two micro-batches) and checks that the
  * streamed result equals the batch result over the same rows. The
  * engine itself is batch-only; these cases pin that the operators are
  * stateless projections or standard aggregations. */
class StreamingSpec extends SparkSpec {

  test("hash sampling and split assignment run unchanged on streams") {
    import spark.implicits._
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext
    // record-keyed gates are narrow per-row predicates: the SAME operators
    // run on a stream, and membership agrees with the batch run exactly
    val stream = MemoryStream[Long]
    val out = Sampling.splitAssign(
      Sampling.weightedSample(
        Sampling.hashSample(stream.toDF().toDF("doc_id"), col("doc_id"), 500),
        col("doc_id"), when(col("doc_id") % 2 === 0, 900).otherwise(400)),
      col("doc_id"), 800, 100)
    val query = out.writeStream.format("memory")
      .queryName("sampled_out").outputMode("append").start()
    stream.addData(1L to 200L: _*)
    query.processAllAvailable()
    val streamed = spark.table("sampled_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    query.stop()
    val batch = Sampling.splitAssign(
        Sampling.weightedSample(
          Sampling.hashSample((1L to 200L).toDF("doc_id"), col("doc_id"), 500),
          col("doc_id"), when(col("doc_id") % 2 === 0, 900).otherwise(400)),
        col("doc_id"), 800, 100)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("dsir weights stream through the trained-score path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Scoring, TextAnalysis}
    // s16's serving shape: the 64-bucket log-ratio table is a
    // (periodically rebuilt) MODEL, not a join side — arriving documents
    // score through the ml14 deployment path (codegen fold over the
    // token array against a literal weight vector), so the streaming
    // pass is zero-shuffle. Batch (join-based) and stream (fold-based)
    // forms must agree integer-for-integer.
    val rows = Seq((1L, "the cat sat", "en"), (2L, "le chat", "fr"),
      (3L, "the the dog", "en"), (4L, "der hund und", "de"),
      (5L, "", "en"))
    val docs = rows.toDF("doc_id", "text", "lang")
    val toks = docs.select(col("doc_id"),
        (col("lang") === "en").as("tgt"),
        explode(split(TextAnalysis.normalizeText(col("text")), " "))
          .as("t"))
      .select(col("doc_id"), col("tgt"),
        Scoring.tokenBucket(col("t"), 64).as("b"))
    val dist = toks.groupBy("b").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = dist.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val ratio = dist.crossJoin(broadcast(tot)).select(col("b"),
      floor(lit(1e6) *
        (log((col("ct") + lit(1L)).cast("double") /
          (col("nt") + lit(64L)).cast("double")) -
          log((col("cr") + lit(1L)).cast("double") /
            (col("nr") + lit(64L)).cast("double"))))
        .cast("bigint").as("lr_micro"))
    val batch = toks.join(broadcast(ratio), "b").groupBy("doc_id")
      .agg(sum(col("lr_micro")).as("logw_micro")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // model export: ≤64 longs (the bounded KMeans-centroid collect)
    val learned = ratio.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Array.tabulate(64)(i => learned.getOrElse(i.toLong, 0L))
    val stream = MemoryStream[(Long, String)]
    val scored = Scoring.linearScoreWithWeights(
      stream.toDF().toDF("doc_id", "text"), w, bias = 0L)
    val query = scored.writeStream.format("memory")
      .queryName("s16_out").outputMode("append").start()
    stream.addData(rows.map { case (id, t, _) => (id, t) }: _*)
    query.processAllAvailable()
    val streamed = spark.table("s16_out").select("doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    query.stop()
    assert(streamed == batch && streamed.size == rows.size)
  }

  test("cluster downweighting assigns identical weights on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // dd16's ingest shape: the cluster table is a (periodically rebuilt)
    // STATIC side; arriving documents pick up their training weight via
    // a stream-static left join — membership and weights must agree with
    // the batch assignment exactly
    val comp = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L), (5L, 40L))
      .toDF("doc_id", "cluster_id")
    val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
    def assignWeights(docs: org.apache.spark.sql.DataFrame) = docs
      .join(comp, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("csize"), lit(1L)).as("cluster_size"),
        expr("1000000 div coalesce(csize, 1L)").as("weight_micro"))
    val stream = MemoryStream[Long]
    val query = assignWeights(stream.toDF().toDF("doc_id"))
      .writeStream.format("memory").queryName("dd16_out")
      .outputMode("append").start()
    stream.addData(1L to 8L: _*)
    query.processAllAvailable()
    val streamed = spark.table("dd16_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    query.stop()
    val batch = assignWeights((1L to 8L).toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch && streamed.size == 8)
    // spot-pin the semantics: 3-member cluster → weight 333333 micro,
    // singleton (doc 7 unclustered) → full weight
    assert(streamed(1L) == ((10L, 3L, 333333L)))
    assert(streamed(7L) == ((7L, 1L, 1000000L)))
  }

  test("neyman allocation converges to the batch plan on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    // s15's rollup is a standard streaming aggregation: run the SAME
    // moment/σ/allocation program in complete mode and the final
    // allocation table must equal the batch plan over the same rows
    def neyman(docs: org.apache.spark.sql.DataFrame) = {
      val per = docs.groupBy("source")
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
      per
    }
    val rows = Seq(
      ("web", 100L), ("web", 300L), ("web", 900L),
      ("code", 50L), ("code", 52L), ("books", 4000L))
    val stream = MemoryStream[(String, Long)]
    val query = neyman(stream.toDF().toDF("source", "n_chars"))
      .writeStream.format("memory").queryName("s15_out")
      .outputMode("complete").start()
    stream.addData(rows.take(3): _*)
    query.processAllAvailable()
    stream.addData(rows.drop(3): _*) // state merges across batches
    query.processAllAvailable()
    val streamed = spark.table("s15_out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    query.stop()
    val batch = neyman(rows.toDF("source", "n_chars")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch && streamed.size == 3)
    // σ must come from the exact cross-batch moments, not per-batch ones
    assert(streamed("web")._1 == 3L && streamed("web")._2 > 0L)
  }

  test("bloom decontamination gate filters a document stream statelessly") {
    import spark.implicits._
    import graft.operators.Contamination
    implicit val sqlCtx = spark.sqlContext
    val evalItem = "what is the capital of france paris is the capital " * 3
    val bench = Seq((100L, evalItem)).toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val out = Contamination.bloomGate(
      stream.toDF().toDF("doc_id", "text"), bench,
      expectedShingles = 10000L)
    val query = out.writeStream.format("memory")
      .queryName("decontam_out").outputMode("append").start()
    stream.addData(
      (1L, "training text about spark shuffles and partitions " * 3),
      (2L, evalItem), // leaked eval item — must be gated out
      (3L, "more unrelated training content entirely " * 3))
    query.processAllAvailable()
    val kept = spark.table("decontam_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    query.stop()
    assert(kept == Set(1L, 3L))
  }

  test("raking cells (s17): a complete-mode stream rollup feeds the " +
      "same two-round IPF plan as batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(
      ("en", "web"), ("en", "web"), ("en", "code"), ("de", "web"),
      ("de", "code"), ("de", "code"), ("fr", "web"), ("en", "books"))
    def rake(cells: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.rakeTwoRound(cells).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = rake(rows.toDF("lang", "source")
      .groupBy("lang", "source").agg(count(lit(1)).as("n")))
    val stream = MemoryStream[(String, String)]
    val query = stream.toDF().toDF("lang", "source")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("s17_cells_out")
      .outputMode("complete").start()
    stream.addData(rows.take(4): _*)
    query.processAllAvailable()
    stream.addData(rows.drop(4): _*) // counts merge across batches
    query.processAllAvailable()
    // snapshot the memory-sink state before raking: the IPF program
    // self-joins its cell table, and DeduplicateRelations cannot clone
    // a MemoryPlan view (Spark internal-error on conflicting refs) —
    // also the honest shape: the periodic re-rake runs on a pinned
    // snapshot of the rolling cell state, not on a moving table
    val streamed = rake(spark.table("s17_cells_out").localCheckpoint(true))
    query.stop()
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("PII detection gate (pii1): the stateless detector projection " +
      "counts identically on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.queries.PrivacyQueries
    val rows = Seq(
      (1L, "clean text with no identifiers at all"),
      (2L, "reach me at jane.doe@example.org or 555-123-4567 today"),
      (3L, "server at 10.0.42.7 and backup 192.168.1.254 online"),
      (4L, "two mails a@b.io c@d.net one phone 555-000-9999"),
      (5L, ""))
    def run(df: org.apache.spark.sql.DataFrame) =
      PrivacyQueries.piiCounts(df, "text")
    val batch = run(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val stream = MemoryStream[(Long, String)]
    val query = run(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii1_out")
      .outputMode("append").start()
    stream.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("pii1_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    query.stop()
    assert(streamed == batch)
    // the phone pattern is a parameter with a fixture default: the
    // widened production prefix detects a non-fixture number the
    // default deliberately ignores, and catalog + oracle template
    // carry the same parameter
    import graft.queries.PrivacyQueries.phonePat
    val mixed = Seq((9L, "call 415-123-4567 or 555-123-4567"))
      .toDF("doc_id", "text")
    assert(PrivacyQueries.piiCounts(mixed, "text")
      .collect()(0).getLong(3) == 1L)
    assert(PrivacyQueries.piiCounts(mixed, "text", phonePat("[0-9]{3}"))
      .collect()(0).getLong(3) == 2L)
    assert(PrivacyQueries.queriesWith("[0-9]{3}").keySet ==
      PrivacyQueries.queries.keySet)
    assert(PrivacyQueries.oracleSqlWith("[0-9]{3}")("pii1_detect_counts")
      .contains(phonePat("[0-9]{3}")))
    // the embedding convention is enforced, not advisory: a quoted
    // prefix would break the single-quoted oracle SQL template
    intercept[IllegalArgumentException] { phonePat("55'5") }
    // spot-pin the detector semantics on the fixture
    assert(batch(2L) == ((1L, 1L, 0L))) // one email, one phone
    assert(batch(3L) == ((0L, 0L, 2L))) // two IPv4s
    assert(batch(4L) == ((2L, 1L, 0L))) // two emails, one phone
    assert(batch(1L) == ((0L, 0L, 0L)) && batch(5L) == ((0L, 0L, 0L)))
  }

  test("BPE application is a stateless projection: stream = batch = " +
    "the training-side window algebra") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.TrainerQueries
    // learn the merge table from the fixture corpus (batch training)
    val merges = TrainerQueries
      .queries("bpe2_merge_table")(spark, "/root/testdata/sf0.001")
      .orderBy("merge_round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 3)
    // application words: adversarial run/overlap shapes plus the first
    // learned pair itself (single chars by construction, so that word is
    // GUARANTEED to merge — the fire assertion can't silently weaken)
    val w1 = merges.head._1 + merges.head._2
    val words = Seq("spark", "table", "aaaa", "aaa", "abab", "zz", "a", w1)
    def toksOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("word"),
        TrainerQueries.applyMerges(col("word"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList)
      .toMap
    val batch = toksOf(words.toDF("word"))
    // stream: the SAME projection, append mode, across two micro-batches
    val stream = MemoryStream[String]
    val out = stream.toDF().toDF("word")
      .select(col("word"),
        TrainerQueries.applyMerges(col("word"), merges).as("toks"))
    val query = out.writeStream.format("memory")
      .queryName("bpe_apply_out").outputMode("append").start()
    stream.addData(words.take(3): _*)
    query.processAllAvailable()
    stream.addData(words.drop(3): _*)
    query.processAllAvailable()
    val streamed = spark.table("bpe_apply_out").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    query.stop()
    assert(streamed == batch)
    // cross-check against the training-side window algebra: fold the
    // learned merges through applyPick and compare segmentations
    val wf = words.distinct.toDF("word").withColumn("freq", lit(1L))
    val seg = merges.foldLeft(TrainerQueries.charSeg(wf)) {
      case (s, (l, r)) =>
        TrainerQueries.applyPick(s, Seq((l, r)).toDF("ml", "mr"))
    }
    val windowed = seg.orderBy("word", "pos").collect()
      .groupBy(_.getString(0))
      .map { case (w0, rs) =>
        w0 -> rs.sortBy(_.getLong(2)).map(_.getString(3)).toList }
    assert(words.forall(w => windowed(w) == batch(w)), (windowed, batch))
    assert(batch(w1).length < w1.length) // the learned merge fired
  }

  test("GD classifier scoring streams unchanged against frozen weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.TrainerQueries
    // frozen trained weights (a frozen table, as for DSIR): scoring
    // is predMicro, a pure per-row projection over the feature columns
    val w = Array(123456L, -654321L, 42000L, 7000L)
    val feats = Seq((1L, 1000000L, 250000L, 400000L, 120000L),
      (2L, 1000000L, 0L, 900000L, 0L), (3L, 1000000L, 999999L, 1L, 500000L))
    def score(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
      TrainerQueries.predMicro(w).as("pm"))
    val batch = score(feats.toDF("id", "x0", "x1", "x2", "x3"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stream = MemoryStream[(Long, Long, Long, Long, Long)]
    val query = score(stream.toDF().toDF("id", "x0", "x1", "x2", "x3"))
      .writeStream.format("memory").queryName("lr_score_out")
      .outputMode("append").start()
    stream.addData(feats.take(1): _*)
    query.processAllAvailable()
    stream.addData(feats.drop(1): _*)
    query.processAllAvailable()
    val streamed = spark.table("lr_score_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    query.stop()
    assert(streamed == batch && batch.values.forall(p => p >= 0 && p <= 1000000L))
  }
}
