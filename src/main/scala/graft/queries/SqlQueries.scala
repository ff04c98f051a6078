package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** SQL-front-end queries: the engine's tables registered as views and
  * queried through `spark.sql` (SURVEY.md §3 — the reference's only SQL
  * surface is DDL/DML strings; here the full analytical surface is
  * SQL-addressable too). The Spark SQL text and the DuckDB oracle are the
  * same dialect-neutral statement.
  */
object SqlQueries {

  /** Register the star schema as temp views once per session. Views stay
    * un-spread: an exchange inside the view would sit below every SQL
    * query whether it helps or not (measured a 2x regression on the
    * pricing summary — the shuffle write costs more than the parallel
    * partial agg saves at this row width). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }

  private val pricingSummary =
    """SELECT l_returnflag, l_linestatus,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val topCustomers =
    """SELECT c_custkey, c_name, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY spend DESC, c_custkey ASC LIMIT 20""".stripMargin

  private val marketShare =
    """WITH rev AS (
      |  SELECT s_nationkey, l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS revenue
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_nationkey, l_suppkey),
      |ranked AS (
      |  SELECT n_name, l_suppkey, revenue,
      |    CAST(RANK() OVER (PARTITION BY s_nationkey
      |      ORDER BY revenue DESC, l_suppkey ASC) AS BIGINT) AS rk
      |  FROM rev JOIN nation ON s_nationkey = n_nationkey)
      |SELECT n_name, l_suppkey, revenue, rk
      |FROM ranked WHERE rk <= 3""".stripMargin

  private val windowSql =
    """SELECT o_custkey, o_orderkey,
      |CAST(RANK() OVER (PARTITION BY o_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS spend_rank,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  AS running_spend
      |FROM orders""".stripMargin

  /** Recursive-CTE BFS over the deterministic synthetic link graph
    * (gr-tier fixture: dst = (src·p + j) mod n for three (p, j) maps):
    * hop distance from node 0 and path multiplicity, depth-capped at 4.
    * The recursion fans 3^depth rows from one seed — bounded by the cap,
    * not the corpus — and each round is one equi-join against the edge
    * relation, so the iterative-query surface scales like any keyed
    * join chain. Dialect-neutral: the SAME text runs on both engines
    * (Spark 4's WITH RECURSIVE and DuckDB's agree on UNION ALL
    * semantics here). */
  // Round 14: the edge generators ride a 3-row CTE cross join instead of
  // three UNION ALL arms — the recursive step re-executes `edges` every
  // iteration, and the old form paid three document scans and three
  // scalar subqueries per step where one of each suffices. Identical
  // edge multiset (the generator constants just moved from arm literals
  // to rows), same single dialect-neutral WITH RECURSIVE statement.
  private val recursiveReach =
    """WITH RECURSIVE
      |nn AS (SELECT COUNT(*) AS n FROM documents),
      |gens AS (SELECT 7 AS m, 0 AS o
      |  UNION ALL SELECT 13, 1 UNION ALL SELECT 31, 2),
      |edges AS (
      |  SELECT CAST(doc_id AS BIGINT) AS src,
      |    (CAST(doc_id AS BIGINT) * m + o) % (SELECT n FROM nn) AS dst
      |  FROM documents CROSS JOIN gens),
      |reach(node, dist) AS (
      |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
      |  UNION ALL
      |  SELECT e.dst AS node, r.dist + 1 AS dist
      |  FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.dist < 4)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS hops,
      |  CAST(COUNT(*) AS BIGINT) AS n_paths
      |FROM reach GROUP BY node""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — "top order per
    * customer" as the row-correlated form (Catalyst decorrelates it into
    * a join + per-key cut, so the per-row subquery never executes
    * per-row). Dialect-neutral: DuckDB runs the identical text. */
  private val lateralTopk =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1) t
      |WHERE c.c_custkey % 10 = 0""".stripMargin

  /** INTERSECT / EXCEPT through the SQL front end — the set-operation
    * keywords (the API tier's g1–g4 cover union shapes); one tagged
    * summary row per operation, same text on both engines. */
  private val setOps =
    """SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0
      |  INTERSECT
      |  SELECT o_custkey FROM orders) t
      |UNION ALL
      |SELECT 'except', CAST(COUNT(*) AS BIGINT) FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0
      |  EXCEPT
      |  SELECT o_custkey FROM orders) u""".stripMargin

  /** sql11: the PIVOT keyword through Spark's SQL front end. The oracle
    * is the dialect-neutral CASE pivot of the same cells — PIVOT is
    * syntax, not semantics, so the two must agree cell-for-cell
    * (including NULL for absent (priority, status) combinations). */
  private val pivotSpark =
    """SELECT * FROM (
      |  SELECT o_orderpriority AS priority, o_orderstatus AS status,
      |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |PIVOT (SUM(cents) FOR status IN
      |  ('O' AS open_cents, 'F' AS done_cents, 'P' AS part_cents))"""
      .stripMargin

  private val pivotOracle =
    """SELECT o_orderpriority AS priority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
      |    AS BIGINT) AS open_cents,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
      |    AS BIGINT) AS done_cents,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
      |    AS BIGINT) AS part_cents
      |FROM orders GROUP BY 1""".stripMargin

  /** sql12: the UNPIVOT keyword through Spark's SQL front end — the
    * wide-to-long inverse of sql11. The oracle is the dialect-neutral
    * stacked-UNION form of the same cells; UNPIVOT's default NULL-row
    * drop never fires here because the counts are ELSE-0 sums, so the
    * two forms must agree row-for-row. */
  private val unpivotSpark =
    """SELECT * FROM (
      |  SELECT o_orderpriority AS priority,
      |    SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS open_n,
      |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS done_n,
      |    SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS part_n
      |  FROM orders GROUP BY o_orderpriority)
      |UNPIVOT (n FOR status IN
      |  (open_n AS `open`, done_n AS `done`, part_n AS `part`))"""
      .stripMargin

  private val unpivotOracle =
    """WITH agg AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS open_n,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS done_n,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS part_n
      |  FROM orders GROUP BY 1)
      |SELECT priority, 'open' AS status, open_n AS n FROM agg
      |UNION ALL SELECT priority, 'done', done_n FROM agg
      |UNION ALL SELECT priority, 'part', part_n FROM agg""".stripMargin

  /** GROUPING SETS + GROUPING() through the SQL front end — the
    * explicit-sets sibling of d9's CUBE (three chosen aggregation
    * grains in ONE pass: Spark plans an Expand over the sets, so the
    * fact table is scanned once, not three times). The identical text
    * runs on DuckDB: every aggregate is the exact-decimal money-sum
    * idiom and the grouping flags cast to BIGINT in both engines. */
  private val groupingSets =
    """WITH cell AS (
      |  SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp
      |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus,
      |CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
      |CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
      |CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
      |CAST(SUM(sp) AS DOUBLE) AS sum_price
      |FROM cell
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), ())""".stripMargin
  // ^ round-13: aggregate BEFORE the grouping-sets Expand — the flat
  // form expanded every lineitem row 3× on the single scan task. The
  // cell CTE's exact decimal partial sums re-aggregate losslessly
  // (decimal addition is exact and associative; counts sum), so the
  // rollup is byte-identical while the Expand runs over ~6 cells.

  /** Named-WINDOW clause through the SQL front end: two window
    * functions share one window definition (the deduplication the
    * WINDOW clause exists for — Catalyst plans ONE Window operator for
    * both). Partitioned by l_orderkey — per-order groups whose count
    * scales with the corpus, so parallelism grows with the data (the
    * funnel-gate contract). The identical text runs on DuckDB; the
    * running spend uses the exact-decimal cumulative cast to double
    * per row, and (price, linenumber) is a total order within an
    * order, so the default RANGE frame equals ROWS in both engines. */
  private val namedWindow =
    """SELECT l_orderkey, l_linenumber,
      |ROW_NUMBER() OVER w AS line_rank,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w
      |  AS DOUBLE) AS run_spend
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_orderkey
      |  ORDER BY l_extendedprice DESC, l_linenumber)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Named windows through pure SQL text.
    "sql14_named_window" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(namedWindow)
    },
    // Explicit multi-grain aggregation through pure SQL text.
    "sql13_grouping_sets" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(groupingSets)
    },
    // UNPIVOT through pure SQL text (relational surface breadth).
    "sql12_unpivot" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(unpivotSpark)
    },
    // PIVOT through pure SQL text (relational surface breadth).
    "sql11_pivot" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(pivotSpark)
    },
    // Set-operation keywords through pure SQL text.
    "sql10_set_operations" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(setOps)
    },
    // Iterative graph traversal through pure SQL text — WITH RECURSIVE
    // as a first-class front-end capability (BFS hops + path counts).
    "sql8_recursive_reach" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(recursiveReach)
    },
    // Correlated LATERAL through the SQL front end.
    "sql9_lateral_topk" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(lateralTopk)
    },
    // TPC-H Q1-shaped pricing summary through the SQL front end.
    "sql1_pricing_summary" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(pricingSummary)
    },
    // Join + top-k through the SQL front end.
    "sql2_top_customers" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(topCustomers)
    },
    // Custom codegen expression through the SQL front end. Oracled: the
    // DotProductF loop accumulates 0.0 + t1 + t2 + … in element order, so
    // the generated left-associative chain reproduces it bit-for-bit.
    "sql3_dotf_selfsim" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(
        """SELECT vec_id, dot_f(embedding, embedding) AS self_dot
          |FROM embeddings ORDER BY self_dot DESC, vec_id LIMIT 25""".stripMargin)
    },
    // Window functions through the SQL front end — rank + running frame
    // in one dialect-neutral statement.
    "sql4_window_sql" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(windowSql)
    },
    // The extension-injected hash expression through SQL text: dedup
    // fingerprint buckets addressable from any SQL client connected to a
    // graft session (md5_prefix60 registers via GraftExtensions).
    "sql5_hash_buckets" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(
        """SELECT md5_prefix60(text) % 1000 AS bucket,
          |COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
          |FROM documents GROUP BY bucket""".stripMargin)
    },
    // The WHOLE MinHash-LSH candidate pipeline as SQL text: registered
    // kernels (md5_prefix60, minhash_signature) + built-in HOFs — any
    // SQL client on a graft session can run dedup without Scala. (The
    // sequence-transform shingling here is the readable O(n²) form; the
    // hot path stays on the zip_with kernel — this entry is the SQL
    // surface-parity proof, oracled against the same DuckDB chain as
    // dd2's candidates.)
    "sql6_lsh_pairs" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(
        """WITH docs AS (
          |  SELECT doc_id AS id,
          |    split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ')
          |      AS toks
          |  FROM documents),
          |sh AS (
          |  SELECT id, CASE WHEN size(toks) <= 3
          |    THEN array(concat_ws(' ', toks))
          |    ELSE transform(sequence(0, size(toks) - 3),
          |      i -> concat_ws(' ', slice(toks, i + 1, 3))) END AS shingles
          |  FROM docs),
          |sig AS (
          |  SELECT id, minhash_signature(
          |    transform(array_distinct(shingles),
          |      s -> md5_prefix60(s) % 2147483647L), 16) AS sig
          |  FROM sh),
          |banded AS (
          |  SELECT id, b AS band,
          |    array_join(transform(slice(sig, b * 4 + 1, 4),
          |      x -> CAST(x AS STRING)), '_') AS bucket
          |  FROM sig LATERAL VIEW explode(sequence(0, 3)) t AS b)
          |SELECT /*+ SHUFFLE_HASH(l, r) */ DISTINCT
          |  l.id AS id_a, r.id AS id_b
          |FROM banded l JOIN banded r
          |  ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
          |""".stripMargin)
      // The SHUFFLE_HASH hint replaces the planner's broadcast of the
      // second `banded` copy: a broadcast side gets NO exchange, so the
      // whole shingle→md5→signature pipeline ran twice. With both sides
      // shuffled on (band, bucket) the two exchange subtrees are
      // canonically equal and ReusedExchange computes the signatures
      // ONCE (measured 1.87 s → ~0.9 s at sf0.1) — and at corpus scale a
      // band-bucket table could never broadcast in the first place.
    },
    // CTE + join + partitioned rank + filter-on-rank in one
    // dialect-neutral statement — the "top-N per group through pure
    // SQL" surface (QUALIFY's portable form).
    "sql7_market_share" -> { (s, dir) =>
      registerViews(s, dir)
      s.sql(marketShare)
    },
  )

  def oracleSql: Map[String, String] = Map(
    "sql11_pivot" -> pivotOracle,
    "sql12_unpivot" -> unpivotOracle,
    "sql13_grouping_sets" -> groupingSets,
    "sql14_named_window" -> namedWindow,
    "sql8_recursive_reach" -> recursiveReach,
    "sql9_lateral_topk" -> lateralTopk,
    "sql10_set_operations" -> setOps,
    "sql1_pricing_summary" -> pricingSummary,
    "sql2_top_customers" -> topCustomers,
    "sql3_dotf_selfsim" ->
      s"""SELECT vec_id,
         |(${TrainingDataQueries.sqlDotChain("embedding", "embedding")}) AS self_dot
         |FROM embeddings ORDER BY self_dot DESC, vec_id LIMIT 25""".stripMargin,
    "sql4_window_sql" -> windowSql,
    "sql7_market_share" -> marketShare,
    "sql6_lsh_pairs" ->
      s"""WITH ${TrainingDataQueries.lshCtes("l.id < r.id")}
         |SELECT id_a, id_b FROM cands""".stripMargin,
    "sql5_hash_buckets" ->
      """SELECT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1000 AS bucket,
        |COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM documents
        |GROUP BY bucket""".stripMargin,
  )
}
