package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions

/** §2 extension (r8) — physical DATA LAYOUT operators: the decisions
  * that dominate 100 TB cost before any query runs.
  *
  *  - `join_bucketed_colocated` — bucketed table writes + a
  *    co-located join that needs NO shuffle: both fact tables are
  *    bucketed 8-ways on the join key at write time, so the sort-merge
  *    join reads bucket i against bucket i directly (zero Exchange in
  *    the physical plan — LayoutSpec asserts it). This is THE answer to
  *    "the same big join runs every day": pay the shuffle once at
  *    ingest, never again.
  *  - `layout_zorder` — Morton (Z-order) clustering keys via the native
  *    codegen `interleave16` expression: sort-by-zkey clusters rows
  *    close in BOTH dimensions into the same files, giving tight
  *    per-file min/max bounding boxes → multi-dimensional file skipping
  *    (a linear sort only serves its leading column). LayoutSpec
  *    MEASURES the claim: mean per-file bounding-box area under
  *    Z-order ≪ under linear sort.
  *  - `profile_table` — per-column profiling (nulls / distincts /
  *    min / max) in long format — the data-quality gate a pipeline runs
  *    before committing a new corpus drop.
  */
object Layout {

  /** Deterministic scratch root for the bucketed-table files (same
    * policy as Scans.roundTrip: fixed path + overwrite, so repeated
    * runs never accrete). */
  private def bucketRoot(tag: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_bkt",
      Integer.toHexString(tag.hashCode)).toString

  /** Shuffle-free co-located fact join: write lineitem and orders
    * bucketed (and sorted) 8-ways on the join key, then sort-merge-join
    * the bucketed tables. Spark's bucketing metadata lives in the
    * session catalog, so the write is part of the query (idempotent:
    * DROP + overwrite); a production pipeline does the write once per
    * ingest and every downstream join of the pair is exchange-free —
    * at 100 TB that converts the daily O(corpus) shuffle into zero.
    * The digest aggregate is the usual partial+final hash agg. The
    * merge hint forces the sort-merge path so the exchange-free plan is
    * what actually runs even where the dimension side would broadcast
    * (the spec asserts zero ShuffleExchange under it). */
  val joinBucketedColocated: Q = Q(
    "join_bucketed_colocated",
    """SELECT o_orderstatus, l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS sum_qty_micro,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS sum_price_micro
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, dir) =>
    val root = bucketRoot(dir)
    // catalog names carry the same per-dir tag as the backing path (r8
    // advice): fixed global names raced when two fixture dirs ran in
    // one session — one run's DROP+overwrite invalidated the other's
    // read mid-query
    val tag = Integer.toHexString(dir.hashCode)
    val liName = s"graft_bkt_lineitem_$tag"
    val odName = s"graft_bkt_orders_$tag"
    s.sql(s"DROP TABLE IF EXISTS $liName")
    s.sql(s"DROP TABLE IF EXISTS $odName")
    // project to the digest's columns before the layout write: the
    // bucketed artifact carries what downstream reads, not the full row
    // (at 100 TB the bucketed copy is usually a curated projection too)
    //
    // r14: repartition(8, key) BEFORE the bucketed write. The input
    // parquet arrives as a handful of scan splits, and a bucketed write
    // makes every input task sort by (bucket, key) and write all 8
    // bucket files it sees — effectively one serialized writer locally
    // (measured: the lineitem write stage was 1.66 s wall ≈ its summed
    // task time). Hash-repartitioning on the bucket column into exactly
    // numBuckets partitions uses the SAME murmur3 pmod function as the
    // bucket-id assignment, so each task holds exactly one bucket and
    // writes exactly one file — 8-way parallel write, still ONE file
    // per bucket (the sorted-bucket metadata the exchange-free read
    // depends on). The count derives from the table's bucket spec, not
    // the local core count, so it scales with the declared layout
    // (guide §2.4/§6: the one shuffle is the ingest-time price the
    // bucketed layout already pays by contract).
    lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .repartition(8, col("l_orderkey"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$root/lineitem").mode("overwrite")
      .saveAsTable(liName)
    orders(s, dir).select("o_orderkey", "o_orderstatus")
      .repartition(8, col("o_orderkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$root/orders").mode("overwrite")
      .saveAsTable(odName)
    val li = s.table(liName)
    val od = s.table(odName).hint("merge")
    li.join(od, li("l_orderkey") === od("o_orderkey"))
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(micro(col("l_quantity"))).as("sum_qty_micro"),
        sum(micro(col("l_extendedprice"))).as("sum_price_micro"))
      .orderBy("o_orderstatus", "l_returnflag")
  }

  /** Morton clustering keys over (user, hour) — the key computation is
    * one codegen'd expression per row (a narrow map stage); the actual
    * layout write is `sort(zkey).write` (LayoutSpec measures the
    * bounding-box effect). The oracle reproduces the bit-spread with
    * plain shift/mask SQL, so the driver hash pins every interleaved
    * bit. Both dimensions fold into 16 bits explicitly (user ids mod
    * 2^16; hour slots since 2024-01-01 00:00, span ≪ 2^16 on the
    * fixture — a production layout picks per-dimension bucketizations
    * the same way). */
  val layoutZorder: Q = Q(
    "layout_zorder",
    """WITH e AS (SELECT event_id, user_id & 65535 AS x,
      |    ((epoch(date_trunc('hour', ts))::BIGINT // 3600) - 473352) & 65535 AS y
      |  FROM events),
      |s1 AS (SELECT event_id, x, y,
      |    (x | (x << 8)) & 16711935 AS xa, (y | (y << 8)) & 16711935 AS ya FROM e),
      |s2 AS (SELECT event_id, x, y,
      |    (xa | (xa << 4)) & 252645135 AS xb, (ya | (ya << 4)) & 252645135 AS yb FROM s1),
      |s3 AS (SELECT event_id, x, y,
      |    (xb | (xb << 2)) & 858993459 AS xc, (yb | (yb << 2)) & 858993459 AS yc FROM s2),
      |s4 AS (SELECT event_id, x, y,
      |    (xc | (xc << 1)) & 1431655765 AS xd, (yc | (yc << 1)) & 1431655765 AS yd FROM s3)
      |SELECT event_id, x, y, xd | (yd << 1) AS zkey
      |FROM s4 ORDER BY zkey, event_id LIMIT 1000""".stripMargin
  ) { (s, dir) =>
    events(s, dir)
      .select(col("event_id"),
        expr("user_id & 65535").as("x"),
        // hour slots relative to 2024-01-01 (epoch hour 473352) so the
        // dimension genuinely varies within 16 bits on the fixture
        expr("((unix_timestamp(date_trunc('hour', ts)) div 3600) - 473352) & 65535")
          .as("y"))
      .withColumn("zkey", GraftFunctions.expr("interleave16(x, y)"))
      .orderBy("zkey", "event_id")
      .limit(1000)
  }

  /** Columns profiled by `profile_table`, with a per-type string
    * canonicalization both engines print identically: numerics via
    * DECIMAL(18,6) (fixed 6-digit rendering), timestamps via the
    * session-UTC cast, strings as-is. The format is applied to the
    * AGGREGATE (min(col)/max(col)), never to the column before
    * aggregation — min/max must compare native values; comparing the
    * canonicalized strings would be lexicographic ("9.0" > "14999.0",
    * the r8 review catch). */
  private val ProfiledCols: Seq[(String, String)] = Seq(
    ("l_orderkey", "CAST(CAST(%s AS DECIMAL(18,6)) AS STRING)"),
    ("l_quantity", "CAST(CAST(%s AS DECIMAL(18,6)) AS STRING)"),
    ("l_returnflag", "CAST(%s AS STRING)"),
    ("l_shipdate", "CAST(%s AS STRING)"))

  /** Per-column data-quality profile of lineitem in long format: row
    * count, null count, exact distinct count, min/max (canonicalized to
    * strings so one schema carries every column type). Shape: one
    * column-pruned scan per profiled column (a 100 TB profile reads
    * each column's pages once, in parallel, never the whole row) — the
    * exact-distinct aggregate is the only shuffle, and the documented
    * swap-in for trillion-row columns is approx_count_distinct on the
    * same plan. */
  val profileTable: Q = Q(
    "profile_table",
    ProfiledCols.map { case (c, fmt) =>
      val lo = fmt.replace("AS STRING", "AS VARCHAR").format(s"min($c)")
      val hi = fmt.replace("AS STRING", "AS VARCHAR").format(s"max($c)")
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $lo AS min_s, $hi AS max_s
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  ) { (s, dir) =>
    val li = lineitem(s, dir)
    ProfiledCols.map { case (c, fmt) =>
      li.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        expr(fmt.format(s"min($c)")).as("min_s"),
        expr(fmt.format(s"max($c)")).as("max_s"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionByName _)
      .orderBy("col_name")
  }

  /** The write-side Z-order API: min/max-scale each dimension into
    * `bits` bits (the rank-normalization step every production Z-order
    * implementation performs — interleaving RAW values lets the
    * larger-ranged dimension's high bits dominate the key and the
    * layout degenerates to a linear sort on it), then Morton-interleave.
    * `df.sort("zkey").write` is the layout; LayoutSpec measures the
    * per-file min/max pruning it buys on BOTH dimensions. The min/max
    * pass is one tiny aggregate broadcast back over the frame — at
    * 100 TB use the ingest batch's known bounds or a sampled quantile
    * map the same way. */
  def zorderKey(df: org.apache.spark.sql.DataFrame,
      xCol: org.apache.spark.sql.Column, yCol: org.apache.spark.sql.Column,
      bits: Int = 8): org.apache.spark.sql.DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val top = (1L << bits) - 1
    val withDims = df.withColumn("zx_raw", xCol.cast("bigint"))
      .withColumn("zy_raw", yCol.cast("bigint"))
    val bounds = withDims.agg(
      min("zx_raw").as("x_mn"), max("zx_raw").as("x_mx"),
      min("zy_raw").as("y_mn"), max("zy_raw").as("y_mx"))
    withDims.join(broadcast(bounds))
      .withColumn("zkey", GraftFunctions.expr(
        s"""interleave16(
           |  (zx_raw - x_mn) * $top div greatest(x_mx - x_mn, 1),
           |  (zy_raw - y_mn) * $top div greatest(y_mx - y_mn, 1))""".stripMargin))
      .drop("zx_raw", "zy_raw", "x_mn", "x_mx", "y_mn", "y_mx")
  }

  /** Recursive parquet-file byte count — `listFiles(_, true)` so a
    * hive-partitioned layout (`k=v/` subdirs) totals correctly; a
    * top-level listStatus would see zero files there, size the output
    * as ONE file, and silently serialize the whole dataset (r8
    * self-review). */
  private[graft] def parquetBytes(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Long = {
    var total = 0L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) total += st.getLen
    }
    total
  }

  /** Compact a parquet directory into ~`targetBytes`-sized files:
    * list the input files (Hadoop FS — works on HDFS/S3A the same
    * way), size the output file count from the actual byte total, and
    * rewrite round-robin-balanced. `repartition(n)` (one shuffle) is
    * deliberate: `coalesce(n)` is shuffle-free but concatenates
    * neighboring input files, inheriting their skew — a compaction
    * pass exists to fix layout, so it pays the one shuffle for
    * balance. Returns the output file count. The small-files problem
    * is THE chronic 100 TB ingest pathology (per-micro-batch and
    * per-task files): scans pay per-file open cost and footer reads,
    * so periodic compaction keeps scan parallelism matched to data,
    * not to ingest history. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = parquetBytes(fs, path)
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    countParquetFiles(fs, outDir)
  }

  private[graft] def countParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Int =
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

  /** Sort-aware compaction (r9, r8 verdict item 4): [[compactParquet]]'s
    * round-robin `repartition(n)` balances bytes but DESTROYS any
    * clustering the input had — every output file spans the full key
    * space, so the compacted copy prunes nothing. The production shape
    * recombines the two layout operators this file already had:
    * compute the [[zorderKey]], range-partition INTO the computed file
    * count on it, and sort within each partition — every output file
    * is a contiguous segment of the Z-curve, so per-file min/max
    * footers bound BOTH dimensions tightly (LayoutSpec measures the
    * compacted copy's read fractions at the pre-compaction Z-order
    * level, vs ~1.0 for round-robin). Balance comes from the range
    * partitioner's sampling instead of round-robin. One shuffle + one
    * in-partition sort — same exchange count as the balanced form;
    * the sort is the only extra cost, exactly the ingest-time price
    * every Z-ordered table pays. */
  def compactParquetZorder(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, targetBytes: Long,
      xCol: String, yCol: String, bits: Int = 8): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = parquetBytes(fs, path)
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    zorderKey(spark.read.parquet(inDir), col(xCol), col(yCol), bits)
      .repartitionByRange(n, col("zkey"))
      .sortWithinPartitions("zkey")
      .drop("zkey")
      .write.mode("overwrite").parquet(outDir)
    countParquetFiles(fs, outDir)
  }

  /** End-to-end compaction row: fragment events into 64 task files (the
    * ingest-history pathology), compact to ~quarter-of-total target
    * size, and digest the COMPACTED copy — the oracle digests the
    * original table, so the row proves bit-level content preservation
    * through fragment→compact→scan. LayoutSpec asserts the physical
    * claims (file count shrinks to the computed n, sizes balanced). */
  val compactFiles: Q = Q(
    "compact_files",
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS sum_value_micro,
      |  CAST(min(event_id) AS BIGINT) AS min_id, CAST(max(event_id) AS BIGINT) AS max_id
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_compact",
      Integer.toHexString(dir.hashCode)).toString
    val frag = s"$root/frag"
    val comp = s"$root/comp"
    events(s, dir).repartition(64).write.mode("overwrite").parquet(frag)
    val path = new org.apache.hadoop.fs.Path(frag)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val total = parquetBytes(fs, path)
    compactParquet(s, frag, comp, targetBytes = math.max(1L, total / 4))
    s.read.parquet(comp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(micro(col("value"))).as("sum_value_micro"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** Sort-aware compaction end-to-end (r9): fragment events, compact
    * with [[compactParquetZorder]] on (user, hour-slot), digest the
    * compacted copy against the original-table oracle — content
    * preservation through fragment → Z-order-compact → scan, while
    * LayoutSpec measures the pruning the re-established clustering
    * buys on the same output. */
  val compactZorder: Q = Q(
    "compact_zorder",
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT)
      |    AS sum_value_micro,
      |  CAST(min(event_id) AS BIGINT) AS min_id, CAST(max(event_id) AS BIGINT) AS max_id
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_compactz",
      Integer.toHexString(dir.hashCode)).toString
    val frag = s"$root/frag"
    val comp = s"$root/comp"
    events(s, dir)
      .withColumn("hour_slot",
        expr("(unix_timestamp(date_trunc('hour', ts)) div 3600) - 473352"))
      .repartition(64).write.mode("overwrite").parquet(frag)
    val path = new org.apache.hadoop.fs.Path(frag)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val total = parquetBytes(fs, path)
    compactParquetZorder(s, frag, comp, targetBytes = math.max(1L, total / 4),
      xCol = "user_id", yCol = "hour_slot")
    s.read.parquet(comp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(micro(col("value"))).as("sum_value_micro"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  def all: Seq[Q] = Seq(joinBucketedColocated, layoutZorder, profileTable,
    compactFiles, compactZorder)
}
