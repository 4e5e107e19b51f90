package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._

/** §2.H — batch twins of the streaming operators. Each query here defines
  * the semantics that the Structured Streaming layer (graft.stream.*)
  * must converge to once all data has arrived; StreamingSpec proves
  * batch ≡ stream over MemoryStream for each pair. The oracle checks the
  * batch side; the streaming side reuses the same expressions.
  *
  * All event-time values are epoch µs/s BIGINTs (both engines truncate
  * the ns source identically; see Tables.events). Scale notes: tumbling/
  * sliding windows shuffle once on (window, key) with map-side partials;
  * session windows and the stateful counter shuffle on user_id — state
  * per key is bounded by the watermark in the streaming twin. */
object StreamTwins {

  /** H1 — tumbling 1-hour windows per event_type. */
  val streamTumblingCounts: Q = Q(
    "stream_tumbling_counts",
    """SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_value_micro
      |FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type""".stripMargin
  ) { (s, dir) =>
    graft.stream.StreamOps.tumblingCounts(events(s, dir))
      .orderBy("ws_us", "event_type")
  }

  /** H2 — sliding windows: 1 hour long, every 15 minutes. The oracle
    * expands each event into its 4 covering windows explicitly. */
  val streamSlidingCounts: Q = Q(
    "stream_sliding_counts",
    """SELECT ((epoch_us(ts) // 1000000) // 900) * 900 - o AS ws_s,
      |  COUNT(*) AS n
      |FROM events CROSS JOIN (SELECT unnest([0, 900, 1800, 2700]) AS o) offs
      |GROUP BY 1 ORDER BY ws_s""".stripMargin
  ) { (s, dir) =>
    graft.stream.StreamOps.slidingCounts(events(s, dir))
      .orderBy("ws_s")
  }

  /** H3 — session windows with a 30-minute gap. Spark: session_window;
    * oracle: gaps-and-islands with the same boundary rule (a gap of
    * exactly 30 min starts a NEW session — Spark merges only on strict
    * overlap). end_us = last event + gap, matching session_window.end. */
  val streamSessionWindows: Q = Q(
    "stream_session_windows",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |m AS (SELECT user_id, us,
      |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
      |       THEN 1 ELSE 0 END AS brk FROM e),
      |g AS (SELECT user_id, us,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
      |SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
      |  COUNT(*) AS n_events
      |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin
  ) { (s, dir) =>
    graft.stream.StreamOps.sessionWindows(events(s, dir))
      .orderBy("user_id", "start_us")
  }

  /** H4 — dedup: first event per (user_id, event_type) by (ts, event_id).
    * Streaming twin: dropDuplicatesWithinWatermark keyed the same way. */
  val streamDedup: Q = Q(
    "stream_dedup",
    """SELECT user_id, event_type, event_id, ts_us FROM (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin
  ) { (s, dir) =>
    // the SAME code path the streaming side runs (dedupFirst's batch
    // branch is the deterministic first-by-(ts, event_id) window) — a
    // previous inline copy here let the oracle go stale against the
    // shared operator (r4 review)
    graft.stream.StreamOps.dedupFirst(events(s, dir))
      .orderBy("user_id", "event_type")
  }

  /** H5 — per-user running event count (the Aerospike-counter analog;
    * streaming twin: mapGroupsWithState in graft.stream.StreamOps). */
  val streamStatefulCounter: Q = Q(
    "stream_stateful_counter",
    """SELECT user_id, event_id,
      |  CAST(row_number() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS k
      |FROM events ORDER BY user_id, event_id""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("k", row_number().over(w).cast("bigint"))
      .select("user_id", "event_id", "k")
      .orderBy("user_id", "event_id")
  }

  /** H8 — streaming near-dup flagging against a static reference corpus
    * (the incremental form of llm_minhash_lsh): for each document, the
    * min-doc_id EARLIER near-duplicate, if any. The registered batch
    * twin runs the corpus against itself; StreamingSpec proves a
    * MemoryStream arrival of the same corpus converges to the identical
    * result (ref_id < doc_id makes arrival order irrelevant). The LSH
    * candidates are exact-verified, so the DuckDB oracle is the exact
    * Jaccard pair set reduced the same way. */
  val streamNearDup: Q = Q(
    "stream_near_dup",
    s"""WITH m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents),
      |p AS (SELECT a.doc_id AS ra, b.doc_id AS rb
      |  FROM m a JOIN m b ON a.doc_id < b.doc_id
      |  WHERE ${Llm.TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |     >= ${Llm.TauNumer} * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT))
      |SELECT rb AS doc_id, MIN(ra) AS dup_of FROM p GROUP BY rb
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    graft.stream.StreamOps.nearDupAgainst(documents(s, dir), documents(s, dir))
      .orderBy("doc_id")
  }

  /** H9b — the STREAMING CDC SOURCE end-to-end (r12, r11 verdict item
    * 4): events land in a Txn table as one commit + two appends (the
    * second arriving while the stream is LIVE), a
    * `readStream.format("graft")` query folds them into a complete-mode
    * aggregate, and the memory-sink result is hash-gated against DuckDB
    * recomputing the same aggregate from the raw table. A dropped
    * version, a double-served batch, or a wrong initial snapshot each
    * break the hash. Aggregates are COUNT/MIN/MAX — order-insensitive
    * exact, so micro-batch boundaries cannot leak in. 100 TB: each
    * micro-batch reads only the appended dirs at file level
    * ([[Txn.streamBatch]]), never a diff of the table. */
  val streamCdcSource: Q = Q(
    "stream_cdc_source",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, dir) =>
    import graft.ops.Txn
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_txn", Integer.toHexString(dir.hashCode), "cdc_src").toString
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = events(s, dir).select("event_id", "event_type")
    Txn.commit(ev.where(col("event_id") % 3 === 0), root)
    Txn.commitAppend(ev.where(col("event_id") % 3 === 1), root)
    val sink = s"cdc_src_sink_${java.util.UUID.randomUUID().toString.take(8)}"
    // r14: pin the STATE partition count for this stateful stream
    // instead of inheriting the session's batch shuffle width. The
    // aggregate's state is keyed by event_type (a handful of groups),
    // but every micro-batch ran one state-store task PER shuffle
    // partition — measured 32 tasks × ~1.3 s of state-store open/commit
    // overhead per batch with ZERO input rows attributed to the state
    // stages (~70 s task time per bench run); at 4-8 partitions the
    // same stages cost < 1 s. State partitioning is a property of the
    // STREAM (checkpoint-pinned at first batch, sized to stateful-key
    // cardinality), not of the session's batch parallelism —
    // `spark.graft.stream.statePartitions` parameterises it for
    // production (size to keys/executors there); the session conf is
    // restored after the stream stops, so batch queries are untouched.
    val sp = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      graft.GraftConf.streamStatePartitions.get(s).toString)
    try {
      val q = s.readStream.format("graft").load(root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"),
          max("event_id").as("max_id"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      // stop() in its own finally (r14 advice): a failing
      // processAllAvailable must not leak a live stream into the session
      try {
        q.processAllAvailable()
        // the third shard lands while the stream is LIVE — the next batch
        // must serve exactly its rows
        Txn.commitAppend(ev.where(col("event_id") % 3 === 2), root)
        q.processAllAvailable()
      } finally if (q.isActive) q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", sp)
    s.table(sink).orderBy("event_type")
  }

  /** H9c — the full graft→graft STREAMING PIPELINE (r12): a CDC source
    * over one Txn table, a projection/filter transform, and the
    * exactly-once idempotent graft SINK into a second Txn table — both
    * ends on the commit log, the production shape for incremental
    * curation (ingest table → cleaned table). The oracle recomputes the
    * transform from the raw events, so the hash pins source
    * completeness (initial snapshot + live append), transform
    * semantics, and sink exactly-once at once. 100 TB: each micro-batch
    * reads O(appended files) and lands O(batch) — nothing in the loop
    * touches the full table. */
  val streamTxnPipeline: Q = Q(
    "stream_txn_pipeline",
    """SELECT event_id, user_id, event_type
      |FROM events WHERE event_type <> 'error'
      |ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    import graft.ops.Txn
    val tag = Integer.toHexString(dir.hashCode)
    val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_txn", tag).toString
    val fsys = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("pipe_src", "pipe_dst", "pipe_ckpt").foreach { d =>
      fsys.delete(new org.apache.hadoop.fs.Path(s"$base/$d"), true)
    }
    val ev = events(s, dir).select("event_id", "user_id", "event_type")
    Txn.commit(ev.where(col("event_id") % 2 === 0), s"$base/pipe_src")
    val q = s.readStream.format("graft").load(s"$base/pipe_src")
      .where(col("event_type") =!= "error")
      .select("event_id", "user_id", "event_type")
      .writeStream.format("graft")
      .option("root", s"$base/pipe_dst")
      .option("checkpointLocation", s"$base/pipe_ckpt")
      .start()
    q.processAllAvailable()
    // the second shard lands while the pipeline is LIVE
    Txn.commitAppend(ev.where(col("event_id") % 2 === 1), s"$base/pipe_src")
    q.processAllAvailable()
    q.stop()
    Txn.read(s, s"$base/pipe_dst")
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
  }

  def all: Seq[Q] = Seq(streamTumblingCounts, streamSlidingCounts,
    streamSessionWindows, streamDedup, streamStatefulCounter, streamNearDup,
    streamCdcSource, streamTxnPipeline)
}
