package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.B — projection / filter / scalar expressions. All stay inside
  * WholeStageCodegen (built-in expressions only). Engine-compat notes:
  * Spark's floor/year/size/datediff return INT/LONG vs DuckDB's
  * DOUBLE/BIGINT — every such output is cast to BIGINT on both sides;
  * ln/pow outputs are ROUND(,4)ed (libm last-ulp differences), sqrt is
  * IEEE-correctly-rounded so it may pass through raw. */
object Funcs {

  /** B1 — computed money columns. Final outputs are micro-unit BIGINTs
    * (exact decimal math internally, ×1e6 at the edge): the driver reads
    * Spark DECIMAL parquet as Python Decimal objects but materializes the
    * DuckDB oracle as float64, so a DECIMAL output column can never
    * hash-match even when values are equal (CORRECTNESS_r01). */
  val projectCompute: Q = Q(
    "project_compute",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))), 6) AS DECIMAL(18,6))
      |      * 1000000 AS BIGINT) AS revenue_micro,
      |  CAST(CAST(ROUND(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))), 6) AS DECIMAL(18,6))
      |      * (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6))), 6) AS DECIMAL(18,6))
      |      * 1000000 AS BIGINT) AS charge_micro
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue_micro, charge_micro""".stripMargin
  ) { (s, dir) =>
    val rev = d6(col("l_extendedprice")) * (lit(1).cast("decimal(18,6)") - d6(col("l_discount")))
    val rev6 = rev.cast("decimal(18,6)")
    val charge = rev6 * (lit(1).cast("decimal(18,6)") + d6(col("l_tax")))
    lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        micro(rev).as("revenue_micro"), micro(charge).as("charge_micro"))
      .orderBy("l_orderkey", "l_linenumber", "revenue_micro", "charge_micro")
  }

  /** B2 — compound filter: IN + LIKE + comparison. */
  val filterCompound: Q = Q(
    "filter_compound",
    """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
      |WHERE o_orderstatus IN ('O','F') AND o_orderpriority LIKE '1-%'
      |  AND o_totalprice > 50000
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    orders(s, dir)
      .where(col("o_orderstatus").isin("O", "F")
        && col("o_orderpriority").like("1-%")
        && col("o_totalprice") > 50000)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** B3 — CASE / COALESCE / NULLIF. */
  val funcCaseCoalesce: Q = Q(
    "func_case_coalesce",
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment IN ('AUTOMOBILE','MACHINERY') THEN 'industrial'
      |       WHEN c_mktsegment = 'BUILDING' THEN 'construction'
      |       ELSE 'other' END AS seg_bucket,
      |  COALESCE(NULLIF(CASE WHEN c_acctbal > 0 THEN 'pos'
      |                       WHEN c_acctbal < 0 THEN 'neg' ELSE '' END, ''),
      |           'zero') AS bal_sign
      |FROM customer ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    customer(s, dir)
      .select(col("c_custkey"),
        when(col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), "industrial")
          .when(col("c_mktsegment") === "BUILDING", "construction")
          .otherwise("other").as("seg_bucket"),
        coalesce(
          nullif(when(col("c_acctbal") > 0, "pos")
            .when(col("c_acctbal") < 0, "neg").otherwise(""), lit("")),
          lit("zero")).as("bal_sign"))
      .orderBy("c_custkey")
  }

  /** B4 — string functions. */
  val funcString: Q = Q(
    "func_string",
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower, upper(p_brand) AS brand_upper,
      |  substring(p_type, 1, 4) AS type_pre,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  replace(p_name, ' ', '_') AS name_snake,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
      |FROM part ORDER BY p_partkey""".stripMargin
  ) { (s, dir) =>
    part(s, dir)
      .select(col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_type"), 1, 4).as("type_pre"),
        length(col("p_name")).cast("bigint").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"))
      .orderBy("p_partkey")
  }

  /** B5 — datetime functions (UTC session, ms-precision source). */
  val funcDate: Q = Q(
    "func_date",
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
      |  CAST(day(o_orderdate) AS BIGINT) AS o_day,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("o_year"),
        month(col("o_orderdate")).cast("bigint").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("bigint").as("days_since"))
      .orderBy("o_orderkey")
  }

  /** B6 — math functions. sqrt is IEEE-exact both engines; ln is
    * ROUND(,4)ed (libm ulp drift); % on positive doubles == fmod. */
  val funcMath: Q = Q(
    "func_math",
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_quantity - 25.0) AS qty_dev,
      |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
      |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
      |  sqrt(l_extendedprice) AS price_sqrt,
      |  round(ln(l_extendedprice), 4) AS price_ln4,
      |  l_quantity % 7.0 AS qty_mod7
      |FROM lineitem WHERE l_orderkey % 10 = 0
      |ORDER BY l_orderkey, l_linenumber, qty_dev, price_sqrt, qty_mod7, price_ln4""".stripMargin
  ) { (s, dir) =>
    lineitem(s, dir)
      .where(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25.0).as("qty_dev"),
        floor(col("l_extendedprice") / 1000.0).cast("bigint").as("price_k_floor"),
        ceil(col("l_quantity") / 7.0).cast("bigint").as("qty_ceil7"),
        sqrt(col("l_extendedprice")).as("price_sqrt"),
        round(log(col("l_extendedprice")), 4).as("price_ln4"),
        (col("l_quantity") % 7.0).as("qty_mod7"))
      .orderBy("l_orderkey", "l_linenumber", "qty_dev", "price_sqrt", "qty_mod7", "price_ln4")
  }

  /** B7 — array functions over tokenized text. */
  val funcArray: Q = Q(
    "func_array",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  list_contains(string_split(text, ' '), 'spark') AS has_spark,
      |  string_split(text, ' ')[1] AS first_tok,
      |  string_split(text, ' ')[-1] AS last_tok
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val toks = split(col("text"), " ")
    documents(s, dir)
      .select(col("doc_id"),
        size(toks).cast("bigint").as("n_tokens"),
        array_contains(toks, "spark").as("has_spark"),
        element_at(toks, 1).as("first_tok"),
        element_at(toks, -1).as("last_tok"))
      .orderBy("doc_id")
  }

  /** B8 — JSON extraction from string payloads (Electron-style dict). */
  val funcJsonMap: Q = Q(
    "func_json_map",
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .orderBy("event_id")
  }

  /** B9 (r8) — Spark 4 VARIANT path over the same payloads: parse once
    * to the binary semi-structured type, then typed `variant_get`
    * extraction — the modern replacement for per-path string re-parsing
    * (B8's get_json_object re-tokenizes the JSON text for every path;
    * a VARIANT parses once and serves every extraction from the binary
    * form, the difference that matters when a 100 TB event stream
    * carries wide props). Outputs are plain scalars so the DuckDB
    * oracle (which has no VARIANT) compares on the extracted values:
    * the typed hit, a missing-path null via try_variant_get, the
    * string-typed view, and a predicate computed on the variant. */
  val funcVariant: Q = Q(
    "func_variant",
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  CAST(NULL AS BIGINT) AS missing,
      |  json_extract_string(props, '$.k') AS k_str,
      |  (CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0) AS k_even
      |FROM events ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    events(s, dir)
      .withColumn("v", expr("parse_json(props)"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.missing', 'bigint')").as("missing"),
        expr("variant_get(v, '$.k', 'string')").as("k_str"),
        (expr("variant_get(v, '$.k', 'bigint')") % 2 === 0).as("k_even"))
      .orderBy("event_id")
  }

  /** B10 (r8) — the SQL surface end-to-end: a migrating user's query
    * arrives as TEXT, not as DataFrame calls — register the fixture as
    * a temp view and run one ANSI SQL string through `spark.sql`,
    * exercising the parser → analyzer → same Catalyst pipeline every
    * DataFrame query uses (plus a native graft function in SQL form,
    * proving the registered-function path works from pasted SQL). The
    * oracle is NEARLY the same text — the engines' sole divergence
    * here is integer division spelling (`div` vs `//`), which is the
    * migration-note this row documents. */
  val sqlSurface: Q = Q(
    "sql_surface",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS sum_qty_micro,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT))
      |    // count(*) AS BIGINT) AS avg_qty_micro
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, dir) =>
    lineitem(s, dir).createOrReplaceTempView("graft_lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
        |    AS sum_qty_micro,
        |  SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT))
        |    div count(*) AS avg_qty_micro
        |FROM graft_lineitem_v
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** B11 (r9) — pasted SQL with a WINDOW function (r8 verdict item 7:
    * the surface row covered one aggregate; migrating users paste
    * window queries just as often). Same pattern as [[sqlSurface]]:
    * temp view + one ANSI string through spark.sql, text identical to
    * the oracle modulo the view name. */
  /** Pasted-SQL PIVOT (r10): the warehouse crosstab through Spark's
    * native `PIVOT` clause over a temp view — each order status becomes
    * a revenue column per order-year. Sums run in exact micro-unit
    * longs (the cross-engine money policy; a DOUBLE sum would be
    * summation-order-dependent and hash-flaky), the DuckDB oracle is
    * the equivalent CASE aggregation (portable crosstab), and the
    * status list is explicit — at 100 TB an implicit pivot would scan
    * once just to enumerate columns; the explicit IN list keeps it one
    * partial-aggregated pass (a plain hash aggregate underneath). */
  val sqlSurfacePivot: Q = Q(
    "sql_surface_pivot",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      |    END) AS BIGINT) AS f_micro,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      |    END) AS BIGINT) AS o_micro,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      |    END) AS BIGINT) AS p_micro
      |FROM orders GROUP BY 1 ORDER BY oyear""".stripMargin
  ) { (s, dir) =>
    orders(s, dir).createOrReplaceTempView("graft_orders_pv")
    s.sql(
      """SELECT * FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
        |  FROM graft_orders_pv)
        |PIVOT (SUM(m) FOR o_orderstatus IN ('F' f_micro, 'O' o_micro, 'P' p_micro))
        |ORDER BY oyear""".stripMargin)
  }

  /** Pasted-SQL correlated EXISTS / NOT EXISTS (r10): Catalyst
    * decorrelates both to semi/anti hash joins — the plan a warehouse
    * migration's most common subquery shape must become at 100 TB (a
    * per-row re-execution would be O(n·m); the decorrelated form is
    * two key-partitioned joins). Whale customers (some order above the
    * threshold) with no finalized order, straight through spark.sql. */
  val sqlSurfaceExists: Q = Q(
    "sql_surface_exists",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    customer(s, dir).createOrReplaceTempView("graft_cust_ex")
    orders(s, dir).createOrReplaceTempView("graft_orders_ex")
    s.sql(
      """SELECT c_custkey, c_name FROM graft_cust_ex c
        |WHERE EXISTS (SELECT 1 FROM graft_orders_ex o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders_ex o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Pasted-SQL correlated SCALAR subquery in the SELECT list (r10):
    * per-customer order count and max price, decorrelated by Catalyst
    * into ONE aggregate + left outer join (never n executions of the
    * inner query); COALESCE pins the no-orders customer to 0 on both
    * engines. */
  val sqlSurfaceScalarSubq: Q = Q(
    "sql_surface_scalar_subq",
    """SELECT c_custkey,
      |  COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |            WHERE o.o_custkey = c.c_custkey), 0) AS n_orders,
      |  (SELECT MAX(o_totalprice) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price
      |FROM customer c ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    customer(s, dir).createOrReplaceTempView("graft_cust_sq")
    orders(s, dir).createOrReplaceTempView("graft_orders_sq")
    s.sql(
      """SELECT c_custkey,
        |  COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM graft_orders_sq o
        |            WHERE o.o_custkey = c.c_custkey), 0) AS n_orders,
        |  (SELECT MAX(o_totalprice) FROM graft_orders_sq o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM graft_cust_sq c ORDER BY c_custkey""".stripMargin)
  }

  val sqlSurfaceWindow: Q = Q(
    "sql_surface_window",
    """SELECT o_custkey, o_orderkey, rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin
  ) { (s, dir) =>
    orders(s, dir).createOrReplaceTempView("graft_orders_v")
    s.sql(
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM graft_orders_v) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)
  }

  /** B12 (r9) — pasted SQL joining two temp views + aggregating, the
    * other everyday migration shape. Catalyst still picks the physical
    * join (broadcast here — nation is 25 rows) exactly as the
    * DataFrame form would. */
  val sqlSurfaceJoin: Q = Q(
    "sql_surface_join",
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS sum_bal_micro
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin
  ) { (s, dir) =>
    customer(s, dir).createOrReplaceTempView("graft_customer_v")
    nation(s, dir).createOrReplaceTempView("graft_nation_v")
    s.sql(
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
        |    AS sum_bal_micro
        |FROM graft_customer_v JOIN graft_nation_v ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
  }

  /** B13 (r9) — pasted SQL with chained CTEs and a set operation, the
    * remaining everyday migration shape after B10's aggregate, B11's
    * window and B12's join: a WITH pipeline (filter → aggregate) whose
    * branches are combined with EXCEPT — customers who have placed an
    * urgent order but never a failed ('F') one. DISTINCT set semantics
    * ride the same hash aggregate both engines use. */
  val sqlSurfaceCte: Q = Q(
    "sql_surface_cte",
    """WITH urgent AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |failed AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderstatus = 'F')
      |SELECT o_custkey FROM urgent
      |EXCEPT SELECT o_custkey FROM failed
      |ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    orders(s, dir).createOrReplaceTempView("graft_orders_cte_v")
    s.sql(
      """WITH urgent AS (SELECT DISTINCT o_custkey FROM graft_orders_cte_v
        |  WHERE o_orderpriority = '1-URGENT'),
        |failed AS (SELECT DISTINCT o_custkey FROM graft_orders_cte_v
        |  WHERE o_orderstatus = 'F')
        |SELECT o_custkey FROM urgent
        |EXCEPT SELECT o_custkey FROM failed
        |ORDER BY o_custkey""".stripMargin)
  }

  /** B14 (r9) — pasted RECURSIVE CTE through spark.sql (Spark 4's
    * WITH RECURSIVE): the calendar-spine pattern — generate every month
    * from min to max order date by recursion, left-join monthly order
    * counts so EMPTY months surface as 0 (the gap a plain GROUP BY
    * silently drops; a real report's x-axis needs them). Migration
    * note this row documents: Spark 4.1 fails to resolve string
    * literals inside the anchor when the CTE uses an explicit column
    * list (`spine(m) AS ...` → UNRESOLVED_COLUMN on 'MONTH'); alias in
    * the SELECT instead. Both engines cap runaway recursion (Spark
    * errors past spark.sql.cteRecursionLevelLimit, default 100).
    *
    * Perf note baked into the shape: the recursion CARRIES the upper
    * bound computed once in the anchor — a scalar subquery in the
    * recursive WHERE would re-scan the fact table on EVERY step (80
    * iterations × full orders scan; measured 11 s vs ~1 s at sf0.1).
    * Each recursive step is still its own Spark job, so iteration
    * count — not data size — dominates; recursion is for genuinely
    * iterative logic, spines past ~100 steps belong to sequence(). */
  val sqlSurfaceRecursive: Q = Q(
    "sql_surface_recursive",
    """WITH RECURSIVE bounds AS (
      |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
      |         date_trunc('MONTH', max(o_orderdate)) AS hi FROM orders),
      |spine AS (
      |  SELECT lo AS m, hi FROM bounds
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH AS m, hi FROM spine WHERE m < hi)
      |SELECT CAST(m AS TIMESTAMP) AS month_start,
      |  CAST(coalesce(n, 0) AS BIGINT) AS n_orders
      |FROM spine LEFT JOIN (
      |  SELECT date_trunc('MONTH', o_orderdate) AS m2, count(*) AS n
      |  FROM orders GROUP BY 1) t ON m2 = m
      |ORDER BY month_start""".stripMargin
  ) { (s, dir) =>
    orders(s, dir).createOrReplaceTempView("graft_orders_rec_v")
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
        |         date_trunc('MONTH', max(o_orderdate)) AS hi FROM graft_orders_rec_v),
        |spine AS (
        |  SELECT lo AS m, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH AS m, hi FROM spine WHERE m < hi)
        |SELECT CAST(m AS TIMESTAMP) AS month_start,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        |FROM spine LEFT JOIN (
        |  SELECT date_trunc('MONTH', o_orderdate) AS m2, count(*) AS n
        |  FROM graft_orders_rec_v GROUP BY 1) t ON m2 = m
        |ORDER BY month_start""".stripMargin)
  }

  /** B15 (r9) — pasted LATERAL correlated subquery: a per-customer
    * aggregate computed "for each row" syntactically; Catalyst
    * DECORRELATES it into the same aggregate-then-join plan the
    * hand-written form produces — the row pins that a pasted
    * correlated query neither errors nor degenerates into a
    * per-row re-execution. */
  val sqlSurfaceLateral: Q = Q(
    "sql_surface_lateral",
    """SELECT c_custkey, t.n AS n_orders
      |FROM customer c, LATERAL (
      |  SELECT count(*) AS n FROM orders o WHERE o.o_custkey = c.c_custkey) t
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    customer(s, dir).createOrReplaceTempView("graft_customer_lat_v")
    orders(s, dir).createOrReplaceTempView("graft_orders_lat_v")
    s.sql(
      """SELECT c_custkey, t.n AS n_orders
        |FROM graft_customer_lat_v c, LATERAL (
        |  SELECT count(*) AS n FROM graft_orders_lat_v o
        |  WHERE o.o_custkey = c.c_custkey) t
        |ORDER BY c_custkey""".stripMargin)
  }

  def all: Seq[Q] = Seq(projectCompute, filterCompound, funcCaseCoalesce,
    funcString, funcDate, funcMath, funcArray, funcJsonMap, funcVariant,
    sqlSurface, sqlSurfaceWindow, sqlSurfaceJoin, sqlSurfaceCte,
    sqlSurfaceRecursive, sqlSurfaceLateral, sqlSurfacePivot,
    sqlSurfaceExists, sqlSurfaceScalarSubq)
}
