package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.G — generators (1-to-N) and scalar UDFs. G1 is the flatMap analog
  * of a catenae Link returning a list of Electrons. Scale note: explode
  * happens inside codegen before the aggregation's map-side combine, so
  * the shuffle carries (word, partial count), not raw tokens. G2's UDF is
  * Catalyst-opaque by design (the surface test) — the oracle twin proves
  * the semantics, and the registered-function path is exercised via
  * spark.udf.register. */
object Generators {

  /** G1 — explode tokens → word count top-50. */
  val explodeTokens: Q = Q(
    "explode_tokens",
    """SELECT word, COUNT(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY cnt DESC, word LIMIT 50""".stripMargin
  ) { (s, dir) =>
    documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(50)
  }

  /** G2 — registered Scala UDF (price banding) + grouped counts. */
  val udfScalar: Q = Q(
    "udf_scalar",
    """SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
      |            WHEN o_totalprice < 300000 THEN 'mid'
      |            ELSE 'high' END AS band,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY band""".stripMargin
  ) { (s, dir) =>
    // java.lang.Double, not Double: a primitive-typed udf makes Spark
    // emit NULL for NULL input, but the oracle's CASE falls through to
    // ELSE 'high' (NULL < x is NULL, not true) — match that (r4 review)
    val priceBand = udf((p: java.lang.Double) =>
      if (p == null) "high"
      else if (p < 100000) "low" else if (p < 300000) "mid" else "high")
    // register-once-if-absent (r11 verdict item 7): the builder is a
    // stateless constant, so re-registering only produced the "replaced
    // a previously registered function" WARN on every Bench/Verify run
    // — the same fix GraftFunctions.register got in r11
    if (!s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("price_band")))
      s.udf.register("price_band", priceBand)
    orders(s, dir)
      .select(call_udf("price_band", col("o_totalprice")).as("band"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"))
      .orderBy("band")
  }

  /** G3 — the true UDTF surface: the custom Catalyst Generator
    * graft.functions.TokenizePos driven through LATERAL VIEW (SQL entry
    * point: SQL text resolves names through the session's registry, so
    * the row installs graft with GraftSession.ensure). Semantically
    * posexplode(split(...)) — which is exactly what the oracle twin
    * computes — but exercised through the Generator extension point. */
  val udtfGenerator: Q = Q(
    "udtf_generator",
    """SELECT doc_id, tok, pos FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |    CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos
      |  FROM documents WHERE doc_id < 100) t
      |ORDER BY doc_id, pos""".stripMargin
  ) { (s, dir) =>
    graft.GraftSession.ensure(s)
    documents(s, dir).where(col("doc_id") < 100).createOrReplaceTempView("g3_docs")
    s.sql(
      """SELECT doc_id, t.tok, CAST(t.pos AS BIGINT) AS pos
        |FROM g3_docs LATERAL VIEW tokenize_pos(text) t AS tok, pos
        |ORDER BY doc_id, pos""".stripMargin)
  }

  /** G4 — time-series resampling with gap fill: bucket events per
    * (event_type, hour), then LEFT-join each type's dense hour grid
    * (sequence + explode of its own [min, max] span) so silent hours
    * surface as explicit zeros — the resample-then-model prep step.
    * The grid generator is per-group and arithmetic (no driver
    * enumeration); grid and buckets co-partition on the same
    * (event_type, hour) key, and grid size is span/step per type
    * regardless of event count — at 100 TB the join is grid-bounded,
    * not event-bounded. */
  val generateResample: Q = Q(
    "generate_resample",
    """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value_micro
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, min(h) AS mn, max(h) AS mx FROM b GROUP BY 1),
      |g AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM r)
      |SELECT g.event_type, g.h, coalesce(b.n, 0) AS n,
      |  coalesce(b.sum_value_micro, 0) AS sum_value_micro
      |FROM g LEFT JOIN b USING (event_type, h)
      |ORDER BY event_type, h""".stripMargin
  ) { (s, dir) =>
    val b = Q.cached(events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), sum(micro(col("value"))).as("sum_value_micro"))
    ) // read twice: grid bounds and the join probe (r4 review)
    val g = b.groupBy("event_type").agg(min("h").as("mn"), max("h").as("mx"))
      .select(col("event_type"),
        explode(expr("sequence(mn, mx, interval 1 hour)")).as("h"))
    g.join(b, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value_micro"), lit(0L)).as("sum_value_micro"))
      .orderBy("event_type", "h")
  }

  /** Gap-filling with LINEAR INTERPOLATION (r8) — generate_resample's
    * sibling for metrics that must stay continuous (sensor feeds,
    * spend curves): per user, the hourly grid from first to last
    * observation; observed slots keep their exact micro-unit sum,
    * missing slots take the linear interpolation between the nearest
    * observed neighbors. All-integer arithmetic: values pre-scaled to
    * micro units (exact DECIMAL(18,6) rounding), interpolation is the
    * rational (prev*(next_t - t) + next*(t - prev_t)) FLOOR-divided by
    * (next_t - prev_t) — the floor spelled explicitly on the Spark side
    * so the engines agree even on negative values (r8 advice; `div`
    * truncates, DuckDB `//` floors). Bounded to the fixed-count user_id < 50 prefix (the
    * r7-verdict sampling rule: count bounds, not % samples — the grid
    * is O(users × span) at any corpus size). Shape: one narrow agg,
    * one per-user sequence explode, one left join, ONE window over the
    * user partition computing all four neighbor frames — nothing
    * corpus-wide; at 100 TB users partition the grid and each
    * partition's window is span-bounded. Interpolated slots always
    * have both neighbors because the grid ends at observed slots. */
  val tsInterpolate: Q = Q(
    "ts_interpolate",
    """WITH b AS (SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT // 3600 AS slot,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |      AS v_micro
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |r AS (SELECT user_id, min(slot) AS mn, max(slot) AS mx FROM b GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(mn, mx)) AS slot FROM r),
      |j AS (SELECT g.user_id, g.slot, b.v_micro FROM g LEFT JOIN b USING (user_id, slot)),
      |w AS (SELECT user_id, slot, v_micro,
      |    last_value(v_micro IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v_micro IS NOT NULL THEN slot END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
      |    first_value(v_micro IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v_micro IS NOT NULL THEN slot END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns
      |  FROM j)
      |SELECT user_id, slot,
      |  CASE WHEN v_micro IS NOT NULL THEN v_micro
      |       ELSE (pv * (ns - slot) + nv * (slot - ps)) // (ns - ps) END AS v_micro,
      |  CASE WHEN v_micro IS NULL THEN TRUE ELSE FALSE END AS is_interp
      |FROM w ORDER BY user_id, slot""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val b = Q.cached(events(s, dir).where(col("user_id") < 50)
      .groupBy(col("user_id"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("slot"))
      .agg(sum(micro(col("value"))).as("v_micro")))
    val g = b.groupBy("user_id").agg(min("slot").as("mn"), max("slot").as("mx"))
      .select(col("user_id"), explode(expr("sequence(mn, mx)")).as("slot"))
    val back = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    g.join(b, Seq("user_id", "slot"), "left")
      .withColumn("pv", last(col("v_micro"), ignoreNulls = true).over(back))
      .withColumn("ps", last(when(col("v_micro").isNotNull, col("slot")),
        ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v_micro"), ignoreNulls = true).over(fwd))
      .withColumn("ns", first(when(col("v_micro").isNotNull, col("slot")),
        ignoreNulls = true).over(fwd))
      // floor-division spelled explicitly: DuckDB `//` floors, Spark
      // `div` truncates toward zero — identical only for non-negative
      // numerators, and negative values would make them diverge
      // silently (r8 advice). den = ns - ps > 0 always.
      .withColumn("inum", expr("pv * (ns - slot) + nv * (slot - ps)"))
      .withColumn("iden", col("ns") - col("ps"))
      .select(col("user_id"), col("slot"),
        when(col("v_micro").isNotNull, col("v_micro"))
          .otherwise(expr(
            "(inum div iden) - if(inum % iden != 0 and inum < 0, 1, 0)"))
          .as("v_micro"),
        col("v_micro").isNull.as("is_interp"))
      .orderBy("user_id", "slot")
  }

  /** Per-user hourly series row for the typed EWMA fold. */
  final case class SlotVal(user_id: Long, slot: Long, v: Long)

  /** Exponentially-weighted moving average, α = 1/2 in INTEGER
    * arithmetic: ewma₀ = v₀, ewmaᵢ = (ewmaᵢ₋₁ + vᵢ) div 2 — a true
    * RECURSION no window frame can express (each output depends on the
    * previous OUTPUT, not on previous inputs). The Spark-first answer
    * is the typed `KeyValueGroupedDataset.flatMapGroups` fold — the
    * batch sibling of H5's mapGroupsWithState: group by user, sort the
    * bounded series in-group, fold once. Memory bound = one user's
    * series (the same per-key bound every stateful-streaming op here
    * carries); the groups partition the cluster, so 100 TB of users
    * fan out while each series folds sequentially, which is the
    * algorithm's own data dependence. The oracle spells the identical
    * recursion as a DuckDB recursive CTE, so every folded value is
    * hash-pinned. Same fixed-count user_id < 50 bound as
    * ts_interpolate. */
  val tsEwma: Q = Q(
    "ts_ewma",
    """WITH RECURSIVE b AS (SELECT user_id,
      |    epoch(date_trunc('hour', ts))::BIGINT // 3600 AS slot,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |s AS (SELECT user_id, slot, v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY slot) AS seq FROM b),
      |e AS (
      |  SELECT user_id, slot, seq, v, v AS ewma FROM s WHERE seq = 1
      |  UNION ALL
      |  SELECT s.user_id, s.slot, s.seq, s.v, CAST((e.ewma + s.v) // 2 AS BIGINT) AS ewma
      |  FROM e JOIN s ON s.user_id = e.user_id AND s.seq = e.seq + 1)
      |SELECT user_id, slot, v AS v_micro, ewma AS ewma_micro
      |FROM e ORDER BY user_id, slot""".stripMargin
  ) { (s, dir) =>
    import s.implicits._
    val b = events(s, dir).where(col("user_id") < 50)
      .groupBy(col("user_id"),
        expr("unix_timestamp(date_trunc('hour', ts)) div 3600").as("slot"))
      .agg(sum(micro(col("value"))).as("v"))
      .as[SlotVal]
    b.groupByKey(_.user_id)
      .flatMapGroups { (_, it) =>
        // one user's series: sort by slot, fold the recursion once.
        // floorDiv, not `/`: DuckDB's `//` floors, Scala `/` truncates
        // toward zero — they agree only on non-negative operands, and
        // nothing guarantees a production feed's values are (r8 advice).
        val series = it.toArray.sortBy(_.slot)
        var ewma = 0L
        series.iterator.zipWithIndex.map { case (sv, i) =>
          ewma = if (i == 0) sv.v else Math.floorDiv(ewma + sv.v, 2)
          (sv.user_id, sv.slot, sv.v, ewma)
        }
      }
      .toDF("user_id", "slot", "v_micro", "ewma_micro")
      .orderBy("user_id", "slot")
  }

  def all: Seq[Q] = Seq(explodeTokens, udfScalar, udtfGenerator, generateResample,
    tsInterpolate, tsEwma)
}
