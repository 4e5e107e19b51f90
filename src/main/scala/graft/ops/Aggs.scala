package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.D — aggregation operators. All money math follows the Tables.scala
  * determinism policy: DECIMAL(18,6) inputs, products ≤ DECIMAL(38,12),
  * explicit ROUND-then-CAST in the DuckDB twins, integer micro-unit
  * averages. Scale note (100 TB): every query here is a single hash
  * aggregate — partial (map-side) + final after one shuffle on the group
  * keys; group cardinality is tiny relative to input so the shuffle is
  * the partial-agg output, not the fact table. */
object Aggs {

  /** D1 — TPC-H Q1 analog (pricing summary). All money outputs are
    * micro-unit BIGINTs (sum of per-row micro values — exact integer
    * arithmetic, order-independent). DuckDB SUM(BIGINT) returns HUGEINT
    * which pandas materializes as float64, so every SUM-derived output
    * in the oracle is wrapped in CAST(... AS BIGINT). */
  val aggPricingSummary: Q = Q(
    "agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_qty_micro,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_base_price_micro,
      |  CAST(SUM(CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))), 6) AS DECIMAL(18,6))
      |      * 1000000 AS BIGINT)) AS BIGINT) AS sum_disc_price_micro,
      |  CAST(SUM(CAST(CAST(ROUND(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))), 6) AS DECIMAL(18,6))
      |      * (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6))), 6) AS DECIMAL(18,6))
      |      * 1000000 AS BIGINT)) AS BIGINT) AS sum_charge_micro,
      |  CAST((2*SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) + COUNT(*)) // (2*COUNT(*)) AS BIGINT) AS avg_qty_micro,
      |  CAST((2*SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)) + COUNT(*)) // (2*COUNT(*)) AS BIGINT) AS avg_price_micro,
      |  CAST((2*SUM(CAST(CAST(l_discount AS DECIMAL(18,6)) * 1000000 AS BIGINT)) + COUNT(*)) // (2*COUNT(*)) AS BIGINT) AS avg_disc_micro,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, dir) =>
    val l = lineitem(s, dir)
    val disc1 = lit(1).cast("decimal(18,6)") - d6(col("l_discount"))
    val rev = d6(col("l_extendedprice")) * disc1 // exact DECIMAL(38,12)
    val rev6 = rev.cast("decimal(18,6)") // HALF_UP == DuckDB ROUND(,6)
    val charge = rev6 * (lit(1).cast("decimal(18,6)") + d6(col("l_tax")))
    l.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(micro(col("l_quantity"))).as("sum_qty_micro"),
        sum(micro(col("l_extendedprice"))).as("sum_base_price_micro"),
        sum(micro(rev)).as("sum_disc_price_micro"),
        sum(micro(charge)).as("sum_charge_micro"),
        sum(micro(col("l_discount"))).as("sd_micro"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty_micro", avgMicroExpr("sum_qty_micro", "count_order"))
      .withColumn("avg_price_micro", avgMicroExpr("sum_base_price_micro", "count_order"))
      .withColumn("avg_disc_micro", avgMicroExpr("sd_micro", "count_order"))
      .drop("sd_micro")
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** D2 — exact distinct counts (Expand + two-phase agg under the hood).
    * Scale note: count(DISTINCT x) forces a shuffle on (group, x); at
    * 100 TB prefer D3's approx_count_distinct unless exactness is
    * contractual. */
  val aggDistinctExact: Q = Q(
    "agg_distinct_exact",
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** D7 — post-aggregation filter (HAVING). The avg threshold is an
    * exact integer comparison on micro-units — no decimal division. */
  val aggHaving: Q = Q(
    "agg_having",
    """SELECT c_nationkey, COUNT(*) AS n_cust,
      |  CAST((2*SUM(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)) + COUNT(*)) // (2*COUNT(*)) AS BIGINT) AS avg_bal_micro
      |FROM customer
      |GROUP BY c_nationkey
      |HAVING COUNT(*) > 2
      |   AND SUM(CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)) > 4000000000 * COUNT(*)
      |ORDER BY c_nationkey""".stripMargin
  ) { (s, dir) =>
    customer(s, dir)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(micro(col("c_acctbal"))).as("bal_micro"))
      .where(col("n_cust") > 2 && col("bal_micro") > lit(4000000000L) * col("n_cust"))
      .withColumn("avg_bal_micro", avgMicroExpr("bal_micro", "n_cust"))
      .drop("bal_micro")
      .orderBy("c_nationkey")
  }

  /** D3 — approximate distinct (HLL++). No oracle: HLL implementations
    * differ across engines; a property test (AggsSpec) asserts ±5% of
    * exact. This is the 100 TB path that replaces D2's exact distinct:
    * constant memory, single-pass, mergeable across partitions. */
  val aggDistinctApprox: Q = Q.noOracle("agg_distinct_approx") { (s, dir) =>
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** D4 — ROLLUP with GROUPING markers over the dim-enriched orders.
    * total_spent in micro-unit BIGINT (see D1 note on driver hashing). */
  val aggRollup: Q = Q(
    "agg_rollup",
    """SELECT r_name, n_name,
      |  CAST(GROUPING(r_name) AS BIGINT) AS g_r,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS total_spent_micro,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    val base = orders(s, dir)
      .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), micro(col("o_totalprice")).as("tp_micro"))
    // grouping() on a post-join column trips the ambiguous-self-join
    // check in the DataFrame API; the SQL surface resolves it cleanly.
    base.createOrReplaceTempView("rollup_base")
    s.sql(
      """SELECT r_name, n_name,
        |  CAST(GROUPING(r_name) AS BIGINT) AS g_r,
        |  CAST(GROUPING(n_name) AS BIGINT) AS g_n,
        |  SUM(tp_micro) AS total_spent_micro,
        |  COUNT(*) AS n_orders
        |FROM rollup_base
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
  }

  /** D5 — CUBE over lineitem flags. */
  val aggCube: Q = Q(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_qty_micro
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
        grouping(col("l_linestatus")).cast("bigint").as("g_ls"),
        count(lit(1)).as("n_rows"),
        sum(micro(col("l_quantity"))).as("sum_qty_micro"))
      .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n_rows", "sum_qty_micro")
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** D6 — explicit GROUPING SETS through the SQL entry point (ANTLR →
    * same analyzer/optimizer as the DataFrame surface). */
  val aggGroupingSets: Q = Q(
    "agg_grouping_sets",
    """SELECT c_mktsegment, n_name, COUNT(*) AS n_cust,
      |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nat
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
      |ORDER BY g_seg, g_nat, c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    customer(s, dir).createOrReplaceTempView("gs_customer")
    nation(s, dir).createOrReplaceTempView("gs_nation")
    s.sql(
      """SELECT c_mktsegment, n_name, COUNT(*) AS n_cust,
        |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
        |  CAST(GROUPING(n_name) AS BIGINT) AS g_nat
        |FROM gs_customer JOIN gs_nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        |ORDER BY g_seg, g_nat, c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin)
  }

  /** D8 — ordered array aggregation, emitted as a comma-delimited STRING:
    * the driver's pandas row-sorter cannot lexsort ndarray columns (it
    * crashed on the raw ArrayType output in round 1), and the string form
    * carries the same information while staying sortable/hashable. */
  val aggCollectSorted: Q = Q(
    "agg_collect_sorted",
    """SELECT o_custkey,
      |  array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  ) { (s, dir) =>
    orders(s, dir)
      .groupBy("o_custkey")
      .agg(array_join(sort_array(collect_list(col("o_orderkey"))).cast("array<string>"), ",")
          .as("order_keys"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")
  }

  /** D9 — custom typed Aggregator: quantity-weighted average price per
    * returnflag, in exact micro-units (see WeightedAvg). */
  val udafWeightedAvg: Q = Q(
    "udaf_weighted_avg",
    """SELECT l_returnflag,
      |  CAST((2*SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) * CAST(l_quantity AS BIGINT))
      |    + SUM(CAST(l_quantity AS BIGINT))) // (2*SUM(CAST(l_quantity AS BIGINT))) AS BIGINT) AS wavg_price_micro
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    val wavg = udaf(graft.functions.WeightedAvg)
    lineitem(s, dir)
      .withColumn("pq_micro", micro(col("l_extendedprice")) * col("l_quantity").cast("bigint"))
      .withColumn("q_int", col("l_quantity").cast("bigint"))
      .groupBy("l_returnflag")
      .agg(wavg(col("pq_micro"), col("q_int")).as("wavg_price_micro"))
      .orderBy("l_returnflag")
  }

  /** D10 — exact lower median per group via a VALUE HISTOGRAM: count
    * rows per (group, value) with a fully-parallel partial aggregate
    * (map-side combine; ~150 rows out here), then one cumulative-sum
    * window over that tiny frame picks the smallest value whose
    * cumulative count reaches (n+1)/2. The naive spelling — row_number
    * over a per-group total sort — caps parallelism at the GROUP count
    * (3 tasks sorting 200k rows each at sf0.1; 3 tasks sorting
    * terabytes at 100 TB); the histogram shape instead scales with the
    * input partition count and shuffles only distinct values. Valid
    * whenever per-group distinct values fit an aggregate (discrete /
    * low-cardinality measures like quantities, scores, ratings); for
    * continuous high-cardinality measures use the GK sketch (D10b) —
    * same trade as D2 vs D3. The DuckDB oracle keeps the independent
    * engine-neutral row_number construction, so the two engines must
    * agree across DIFFERENT algorithms (percentile/quantile builtins
    * were avoided in both: they differ in interpolation). */
  val aggMedian: Q = Q(
    "agg_median",
    """WITH r AS (SELECT l_returnflag, l_quantity,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag, l_quantity AS median_qty, n AS n_rows
      |FROM r WHERE rn = (n + 1) // 2
      |ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val wAll = Window.partitionBy("l_returnflag")
    lineitem(s, dir)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n_rows", sum("cnt").over(wAll))
      .where(expr("cum >= (n_rows + 1) div 2 AND cum - cnt < (n_rows + 1) div 2"))
      .select(col("l_returnflag"), col("l_quantity").as("median_qty"), col("n_rows"))
      .orderBy("l_returnflag")
  }

  /** D10b — approximate quantiles (GK sketch): the 100 TB path that D10's
    * scaladoc promises in place of the exact row_number median. One pass,
    * constant memory per group, mergeable across partitions — no window,
    * no per-group sort. No oracle (sketch internals are engine-specific);
    * AggsSpec/LlmSpec-style property: within 2 quantity units of the
    * exact percentile at accuracy 1000 on this data. Output exploded to
    * (flag, quantile, value) rows — never array columns (driver checker
    * can't sort them). */
  val aggQuantilesApprox: Q = Q.noOracle("agg_quantiles_approx") { (s, dir) =>
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_quantity, array(0.25d, 0.5d, 0.75d), 1000)")
        .as("qs"))
      .select(col("l_returnflag"),
        posexplode(col("qs")).as(Seq("q_idx", "q_value")))
      .withColumn("quantile", element_at(array(lit(0.25), lit(0.5), lit(0.75)),
        col("q_idx") + 1))
      .select("l_returnflag", "quantile", "q_value")
      .orderBy("l_returnflag", "quantile")
  }

  /** D3b — KMV distinct sketch alongside the exact count (the same
    * shape as D3's HLL row): the mergeable k-minimum-values Aggregator
    * flows through partial aggregation like a built-in; KMV additionally
    * supports sketch-level set ops (union = merge, intersection via
    * inclusion-exclusion) that HLL can't do. No oracle (hash-dependent);
    * SketchSpec asserts the ±6% (k=256) error bound. */
  val aggDistinctKmv: Q = Q.noOracle("agg_distinct_kmv") { (s, dir) =>
    val kmv = udaf(new graft.functions.KmvDistinct(256))
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(kmv(xxhash64(col("l_partkey"))).as("kmv_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** D13 — salted (two-stage) aggregation, oracle-checked: the skew
    * path for hot grouping keys. l_returnflag has only 3 values — every
    * row hammers one of 3 reducers in a naive groupBy — so stage 1
    * spreads each key across 16 salt buckets and stage 2 combines the
    * 48 partials. The oracle is the PLAIN group-by: salting must be
    * invisible in the result (exact micro-unit integers make the
    * re-associated sum bit-identical). AQE's skew handling only splits
    * join partitions, not aggregation keys — this is the pattern that
    * covers the aggregation side at 100 TB. */
  val aggSaltedHotkey: Q = Q(
    "agg_salted_hotkey",
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    Salted.sumByKey(lineitem(s, dir), "l_returnflag", micro(col("l_quantity")))
      .orderBy("l_returnflag")
  }

  /** D11 — pivot: status columns per priority (Spark groupBy().pivot();
    * oracle: FILTERed counts — empty cells coalesced to 0 on the Spark
    * side since pivot yields NULL there). */
  val aggPivot: Q = Q(
    "agg_pivot",
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, dir) =>
    orders(s, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")
  }

  /** D12 — unpivot/melt (Spark Dataset.unpivot; oracle: UNION ALL). */
  val aggUnpivot: Q = Q(
    "agg_unpivot",
    """SELECT p_partkey, attr, val FROM (
      |  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part)
      |ORDER BY p_partkey, attr""".stripMargin
  ) { (s, dir) =>
    part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")),
        "attr", "val")
      .orderBy("p_partkey", "attr")
  }

  /** D14 — heavy hitters via a mergeable Misra-Gries sketch PLUS an
    * exact verification pass, so the result carries a real oracle: MG
    * guarantees every term with frequency > n/k survives in its ≤ k-1
    * counters (k=64 here), the exact pass re-counts only the ≤ k-1
    * candidates and applies the strict threshold — sketch false
    * positives drop out, false negatives are impossible, output ≡ the
    * plain GROUP BY ... HAVING. Scale shape: the corpus-wide term
    * group-by is replaced by one O(k)-memory partial-agg tree (no
    * per-term shuffle) plus an exact count whose shuffle carries only
    * candidate-term rows after a broadcast semi-join. */
  val aggHeavyHitters: Q = Q(
    "agg_heavy_hitters",
    """WITH u AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
      |SELECT term, cnt FROM c, t WHERE cnt * 64 > n ORDER BY term""".stripMargin
  ) { (s, dir) =>
    val mg = udaf(new graft.functions.MisraGries(64))
    val terms = documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    // one pass yields BOTH the sketch and the stream length n — the
    // third scan the code review flagged (a separate count) is gone,
    // and no persist is needed: exactly two explode passes total
    // (sketch+n, then the candidates-only exact re-count).
    val sketchAndN = terms.agg(mg(col("term")).as("cands"), count(lit(1)).as("n"))
    val cands = sketchAndN.select(explode(col("cands")).as("term"), col("n"))
    terms.join(broadcast(cands), "term")
      .groupBy("term", "n").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 64 > col("n"))
      .select("term", "cnt")
      .orderBy("term")
  }

  /** D15 — fixed-width histogram: integer bucketing is a pure
    * projection, so the whole distribution profile is one two-phase
    * aggregate over the scan — the standard data-profiling query at
    * any scale (bucket count bounded, shuffle carries one row per
    * non-empty bucket per partition). */
  val aggHistogram: Q = Q(
    "agg_histogram",
    """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_qty_micro
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    lineitem(s, dir)
      .groupBy(floor(col("l_extendedprice") / 5000).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(micro(col("l_quantity"))).as("sum_qty_micro"))
      .orderBy("bucket")
  }

  /** D16 — Count-Min frequency table: the mergeable sketch that answers
    * per-key frequency queries in O(d·w) memory (KMV = how many
    * distinct, MG = which are top, CM = how often is THIS key). Built
    * distributed (partial sketches add element-wise), probed with the
    * native codegen `cm_estimate`. Output lists every vocabulary term
    * with exact count beside the estimate; deterministic (fixed sha-
    * derived hashes), but the estimate is sketch-internal → no oracle;
    * SketchSpec asserts one-sidedness and the collision bound. */
  val aggCountMin: Q = Q.noOracle("agg_count_min") { (s, dir) =>
    val cm = udaf(new graft.functions.CountMinAgg(1024))
    val terms = documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .withColumn("h",
        expr("cast(conv(substring(sha2(term, 256), 1, 15), 16, 10) as bigint)"))
    val sketch = terms.agg(cm(col("h")).as("sketch"))
    terms.groupBy("term", "h").agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .withColumn("est", graft.functions.GraftFunctions.expr("cm_estimate(sketch, h)"))
      .select("term", "exact", "est")
      .orderBy("term")
  }

  /** D-ext (r8) — per-group MODE (most frequent value, deterministic
    * alphabetical tie-break): the categorical summary statistic the
    * numeric family (median/quantiles) doesn't cover. Same shape as
    * agg_median: one (group, value) count aggregate + one row_number
    * window over the group — the window partition is the group's
    * DISTINCT value count, never its row count, so a 100 TB group with
    * five categories windows five rows. */
  val aggMode: Q = Q(
    "agg_mode",
    """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT user_id, event_type, cnt,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY cnt DESC, event_type ASC) AS rn FROM c)
      |SELECT user_id, event_type AS mode_event_type, cnt AS mode_count
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("cnt").desc, col("event_type").asc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_event_type"),
        col("cnt").as("mode_count"))
      .orderBy("user_id")
  }

  /** D-ext (r8) — winsorized aggregation: per-group exact rank-based
    * p05/p95 thresholds, values clipped into [p05, p95] before the sum
    * — the standard outlier-robust pre-aggregation for feature
    * engineering (a fat-finger 1e9 reading moves a plain sum by 1e9
    * and a winsorized sum by p95). Exact, not sketched: threshold =
    * the value at rank ceil(q·n) of the group's sorted micro values
    * (engine-identical integer rank arithmetic; the GK-sketch swap-in
    * for trillion-row groups is agg_quantiles_approx's machinery).
    * Shape: one rank window over the group + a broadcast-size
    * threshold frame joined back — two passes over the group's rows,
    * both group-partitioned. */
  val aggWinsorize: Q = Q(
    "agg_winsorize",
    """WITH v AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events),
      |r AS (SELECT event_type, v_micro,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v_micro) AS rk,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM v),
      |t AS (SELECT event_type,
      |    min(CASE WHEN rk = (n * 5 + 99) // 100 THEN v_micro END) AS p05,
      |    min(CASE WHEN rk = (n * 95 + 99) // 100 THEN v_micro END) AS p95,
      |    CAST(max(n) AS BIGINT) AS n
      |  FROM r GROUP BY 1)
      |SELECT v.event_type, t.n, t.p05 AS p05_micro, t.p95 AS p95_micro,
      |  CAST(SUM(least(greatest(v.v_micro, t.p05), t.p95)) AS BIGINT)
      |    AS sum_winsorized_micro,
      |  CAST(SUM(CASE WHEN v.v_micro < t.p05 OR v.v_micro > t.p95
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM v JOIN t USING (event_type)
      |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    winsorizeEngine(events(s, dir)
      .select(col("event_type"), micro(col("value")).as("v_micro")))
  }

  /** The winsorize engine over any (event_type, v_micro) frame — the
    * registered row and AggInvariantsSpec's degenerate-input checks
    * drive THE SAME code (the spec previously asserted on its own
    * duplicated rank expressions, which could not catch a regression
    * here — r8 review). */
  private[graft] def winsorizeEngine(
      v0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Q.cached(v0)
    val w = Window.partitionBy("event_type")
    val r = v
      .withColumn("rk", row_number().over(w.orderBy("v_micro")))
      .withColumn("n", count(lit(1)).over(w).cast("bigint"))
    val t = r.groupBy("event_type")
      .agg(min(when(col("rk") === expr("(n * 5 + 99) div 100"), col("v_micro"))).as("p05"),
        min(when(col("rk") === expr("(n * 95 + 99) div 100"), col("v_micro"))).as("p95"),
        max("n").as("n"))
    v.join(broadcast(t), "event_type")
      .groupBy("event_type", "n", "p05", "p95")
      .agg(sum(least(greatest(col("v_micro"), col("p05")), col("p95")))
          .as("sum_winsorized_micro"),
        sum(when(col("v_micro") < col("p05") || col("v_micro") > col("p95"), 1L)
          .otherwise(0L)).as("n_clipped"))
      .select(col("event_type"), col("n"), col("p05").as("p05_micro"),
        col("p95").as("p95_micro"), col("sum_winsorized_micro"), col("n_clipped"))
      .orderBy("event_type")
  }

  /** D-ext (r8) — correlation SUFFICIENT STATISTICS per group: n, Σx,
    * Σy, Σxy, Σx², Σy² as exact integers — everything Pearson's r (or
    * a least-squares slope) needs, with the one float division left to
    * the caller (the same split as llm_ngram_counts: corr(x,y) itself
    * is sqrt-divergent across engines, its moments are not). x = event
    * value in MILLI-units, y = hour-of-day — bounds chosen so Σx²/Σxy
    * stay under int64 at any corpus size a single group can hold
    * (x ≤ 5·10⁵, x² ≤ 2.5·10¹¹ → 3.7·10⁷ rows per group headroom; at
    * 100 TB the same statistics shard by group and merge, since every
    * moment is a sum). One partial+final hash aggregate — the
    * textbook mergeable-statistics shape. */
  val aggCorrStats: Q = Q(
    "agg_corr_stats",
    """WITH v AS (SELECT event_type,
      |    CAST(ROUND(CAST(value AS DECIMAL(18,6)) * 1000, 0) AS BIGINT) AS x,
      |    epoch_us(ts) // 3600000000 % 24 AS y
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |  CAST(sum(x * x) AS BIGINT) AS sum_x2,
      |  CAST(sum(y * y) AS BIGINT) AS sum_y2
      |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    events(s, dir)
      .select(col("event_type"),
        // explicit HALF_UP round BEFORE the long cast: Spark's
        // decimal→long cast truncates while DuckDB's rounds, so a
        // 4-decimal value would diverge without it (r8 review; the D1
        // ROUND-then-CAST pattern)
        round(col("value").cast("decimal(18,6)") * 1000, 0).cast("long").as("x"),
        expr("unix_micros(ts) div 3600000000 % 24").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sum_x"), sum("y").as("sum_y"),
        sum(expr("x * y")).as("sum_xy"), sum(expr("x * x")).as("sum_x2"),
        sum(expr("y * y")).as("sum_y2"))
      .orderBy("event_type")
  }

  def all: Seq[Q] = Seq(aggPricingSummary, aggDistinctExact, aggDistinctApprox,
    aggRollup, aggCube, aggGroupingSets, aggHaving, aggCollectSorted,
    udafWeightedAvg, aggMedian, aggQuantilesApprox, aggDistinctKmv,
    aggSaltedHotkey, aggPivot, aggUnpivot, aggHeavyHitters, aggHistogram,
    aggCountMin, aggMode, aggWinsorize, aggCorrStats)
}
