package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.HashExpressions.md5Prefix60

/** PII / privacy auditing over the documents corpus — the compliance
  * pass every training-data pipeline runs before release: detect
  * identifier-shaped spans (email / phone / IPv4), measure redaction
  * impact, audit quasi-identifier k-anonymity, and verify that
  * pseudonymization preserves joinability.
  *
  * Fixture note: the synthetic corpus is identifier-free word salad, so
  * each query AUGMENTS the text in-query with deterministic
  * doc_id-derived identifiers (emails on id%7, 555-prefixed phones on
  * id%5, NON-555 phones on id%13, IPv4 on id%11) — the same plan-time
  * fixture-generation contract as the gold weekend×driver grids: both
  * engines build the identical string, so the detector (the operator
  * under test) has real, data-dependent work and an exact oracle. The
  * id%13 phones carry prefix 444, which [[DefaultPhonePrefix]] misses
  * and [[WidePhonePrefix]] catches — so the two prefix instantiations
  * produce DIFFERENT counts on the fixture (round-12 directive 1: a
  * parameter proof must discriminate, not just embed; OperatorsSpec
  * asserts wide ≠ default). On a real corpus the augmentation column is
  * simply the raw text.
  *
  * 100 TB shape: every detector is a per-row regexp inside one narrow
  * codegen scan (regexp_count / regexp_replace / regexp_extract — no
  * explode, no join); the only shuffles are the final source- or
  * cell-grain rollups. Patterns use explicit ASCII classes (never \w/\d
  * shorthands), so Java regex and RE2-based engines match identically.
  */
object PrivacyQueries {

  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Fixture default for the phone detector's leading block: the
    * augmentation below plants `555-…` numbers, so the shipped catalog
    * detects exactly what the fixture carries. A production detector
    * widens the block (e.g. `[0-9]{3}`) — the pattern is a PARAMETER
    * ([[phonePat]] / [[queriesWith]] / [[oracleSqlWith]]), not a
    * constant, so that generalization is an argument, not a code edit
    * (round-10 directive 6). */
  val DefaultPhonePrefix = "555"

  /** Phone pattern with a parameterized leading block. The prefix is
    * embedded verbatim in BOTH engines' regex literals (inside
    * single-quoted SQL on the oracle side) — quote-free printable
    * ASCII, ENFORCED at construction by
    * [[Det.requireEmbeddablePattern]] (a quote would break the oracle
    * template silently). */
  def phonePat(prefix: String = DefaultPhonePrefix): String = {
    Det.requireEmbeddablePattern("phone prefix", prefix)
    s"\\b$prefix-[0-9]{3}-[0-9]{4}\\b"
  }

  val ipPat =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Per-row detector projection: the input plus `ne`/`np`/`ni` match
    * counts over `textCol`. A pure stateless projection, so the same
    * column program runs in the batch census below and, unchanged,
    * append-mode on a stream (StreamingSpec pins batch ≡ stream). */
  def piiCounts(docs: DataFrame, textCol: String,
                phonePattern: String = phonePat()): DataFrame =
    docs.select(col("*"),
      regexp_count(col(textCol), lit(emailPat)).cast("long").as("ne"),
      regexp_count(col(textCol), lit(phonePattern)).cast("long").as("np"),
      regexp_count(col(textCol), lit(ipPat)).cast("long").as("ni"))

  /** Deterministic identifier augmentation (see class note). */
  private def augmented(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call 444-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 192.168."),
            (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit(""))).as("t2"))

  private val augSql =
    """aug AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    coalesce(text, '') ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
      |      CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0 THEN ' call 444-867-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.' ||
      |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |      CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS t2
      |  FROM documents)""".stripMargin

  /** Production-shaped phone prefix (any 3-digit leading block) for the
    * catalog's parameterization proof — see [[queries]]. */
  val WidePhonePrefix = "[0-9]{3}"

  /** The shipped catalog exercises BOTH instantiations of the
    * phone-prefix parameter (round-11 directive 4, "re-oracle existing
    * keys" option — catalog stays flat): `pii1_detect_counts` runs
    * under the widened production prefix [[WidePhonePrefix]], its
    * oracle templated identically, and the id%13 non-555 augmentation
    * makes the instantiations DISCRIMINATE — the wide prefix counts
    * phones the default provably misses on this very fixture (round-12
    * directive 1; OperatorsSpec asserts wide ≠ default), so a
    * parameter-plumbing bug on either engine side breaks the hash.
    * `pii2_redaction_impact` keeps [[DefaultPhonePrefix]] so the
    * fixture default stays covered too. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesWith(DefaultPhonePrefix) +
      ("pii1_detect_counts" ->
        queriesWith(WidePhonePrefix)("pii1_detect_counts"))

  /** The catalog with a caller-chosen phone-prefix pattern (fixture
    * default above; a production run passes e.g. `[0-9]{3}`). */
  def queriesWith(phonePrefix: String)
  : Map[String, (SparkSession, String) => DataFrame] = {
    val pp = phonePat(phonePrefix)
    Map(

    // PII1: detection census — per source, how many documents carry
    // each identifier class and how many carry any. One codegen scan
    // (three regexp_count per row), one source-grain rollup.
    "pii1_detect_counts" -> { (s, dir) =>
      val d = piiCounts(augmented(Tables.documents(s, dir)), "t2", pp)
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ne") + col("np") + col("ni") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("ne")).as("n_email"),
        sum(col("np")).as("n_phone"),
        sum(col("ni")).as("n_ip"))
    },

    // PII2: redaction impact — replace emails/phones with fixed masks
    // and report the byte budget the release loses per source, plus the
    // redaction count. regexp_replace is per-row narrow compute; the
    // oracle must pass DuckDB's 'g' flag (Spark replaces all matches by
    // default, DuckDB only the first).
    "pii2_redaction_impact" -> { (s, dir) =>
      val d = augmented(Tables.documents(s, dir))
        .select(col("source"), col("t2"),
          regexp_replace(regexp_replace(col("t2"), emailPat, "[EMAIL]"),
            pp, "[PHONE]").as("red"),
          (regexp_count(col("t2"), lit(emailPat)) +
            regexp_count(col("t2"), lit(pp))).cast("long").as("nr"))
      d.groupBy("source").agg(
        sum(length(col("t2")).cast("long")).as("chars_before"),
        sum(length(col("red")).cast("long")).as("chars_after"),
        sum(col("nr")).as("n_redactions"))
    },

    // PII3: k-ANONYMITY audit over the quasi-identifier cell
    // (lang, source, length-centile bucket): how many cells hold fewer
    // than k = 5 documents, and what fraction of the corpus sits in
    // those re-identifiable cells. The RELEASE-GATE summary complement
    // of dq3 (which pins per-class k/l flags on the customer table):
    // one number — the risk share — that decides whether the corpus
    // ships. Cell grain is metadata-sized (L·S·buckets); the corpus is
    // touched once.
    "pii3_k_anonymity" -> { (s, dir) =>
      val cells = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 100).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("c"))
      cells.agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("c") < 5, 1L).otherwise(0L)).as("n_small_cells"),
        sum(when(col("c") < 5, col("c")).otherwise(0L)).as("docs_small"),
        sum(col("c")).as("n_docs"))
        .select(col("n_cells"), col("n_small_cells"), col("docs_small"),
          expr("docs_small * 1000000 div n_docs").as("risk_share_micro"))
    },

    // PII4: pseudonymization joinability — replace each detected email
    // with a stable 60-bit md5 pseudonym and verify the mapping is
    // injective at corpus scale: distinct pseudonyms must equal
    // distinct emails per source (a collision would silently merge two
    // users' documents in every downstream join). Hash-then-count is
    // two source-grain rollups over the matched subset.
    "pii4_pseudonym_join" -> { (s, dir) =>
      val d = augmented(Tables.documents(s, dir))
        .select(col("source"),
          regexp_extract(col("t2"), emailPat, 0).as("email"))
        .filter(col("email") =!= "")
        .withColumn("pseudo", md5Prefix60(col("email")))
      d.groupBy("source").agg(
        count(lit(1)).as("n_email_docs"),
        countDistinct(col("email")).as("n_emails"),
        countDistinct(col("pseudo")).as("n_pseudonyms"))
        .withColumn("injective", col("n_emails") === col("n_pseudonyms"))
    })
  }

  /** Same pii1-under-[[WidePhonePrefix]] override as [[queries]] — the
    * two sides must instantiate the template with the SAME parameter. */
  def oracleSql: Map[String, String] =
    oracleSqlWith(DefaultPhonePrefix) +
      ("pii1_detect_counts" ->
        oracleSqlWith(WidePhonePrefix)("pii1_detect_counts"))

  /** Oracle SQL templated with the SAME phone-prefix parameter as
    * [[queriesWith]] — the differential stays exact for any prefix. */
  def oracleSqlWith(phonePrefix: String): Map[String, String] = {
    val pp = phonePat(phonePrefix)
    Map(
    "pii1_detect_counts" ->
      s"""WITH $augSql,
         |d AS (SELECT source,
         |    len(regexp_extract_all(t2, '$emailPat')) AS ne,
         |    len(regexp_extract_all(t2, '$pp')) AS np,
         |    len(regexp_extract_all(t2, '$ipPat')) AS ni
         |  FROM aug)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with_pii,
         |  CAST(SUM(ne) AS BIGINT) AS n_email,
         |  CAST(SUM(np) AS BIGINT) AS n_phone,
         |  CAST(SUM(ni) AS BIGINT) AS n_ip
         |FROM d GROUP BY source""".stripMargin,
    "pii2_redaction_impact" ->
      s"""WITH $augSql,
         |d AS (SELECT source, t2,
         |    regexp_replace(regexp_replace(t2, '$emailPat', '[EMAIL]',
         |      'g'), '$pp', '[PHONE]', 'g') AS red,
         |    len(regexp_extract_all(t2, '$emailPat')) +
         |      len(regexp_extract_all(t2, '$pp')) AS nr
         |  FROM aug)
         |SELECT source,
         |  CAST(SUM(length(t2)) AS BIGINT) AS chars_before,
         |  CAST(SUM(length(red)) AS BIGINT) AS chars_after,
         |  CAST(SUM(nr) AS BIGINT) AS n_redactions
         |FROM d GROUP BY source""".stripMargin,
    "pii3_k_anonymity" ->
      """WITH cells AS (
        |  SELECT lang, source, n_chars // 100 AS len_bucket,
        |    COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |s AS (SELECT COUNT(*) AS n_cells,
        |    CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_small_cells,
        |    CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
        |      AS docs_small,
        |    CAST(SUM(c) AS BIGINT) AS n_docs
        |  FROM cells)
        |SELECT n_cells, n_small_cells, docs_small,
        |  docs_small * 1000000 // n_docs AS risk_share_micro
        |FROM s""".stripMargin,
    "pii4_pseudonym_join" ->
      s"""WITH $augSql,
         |d AS (SELECT source, regexp_extract(t2, '$emailPat', 0) AS email
         |  FROM aug),
         |f AS (SELECT source, email,
         |    CAST(('0x' || substr(md5(email), 1, 15)) AS BIGINT) AS pseudo
         |  FROM d WHERE email <> '')
         |SELECT source, COUNT(*) AS n_email_docs,
         |  COUNT(DISTINCT email) AS n_emails,
         |  COUNT(DISTINCT pseudo) AS n_pseudonyms,
         |  COUNT(DISTINCT email) = COUNT(DISTINCT pseudo) AS injective
         |FROM f GROUP BY source""".stripMargin)
  }
}
