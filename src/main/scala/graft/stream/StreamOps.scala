package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The H-operators (SURVEY §2.H), written once over an events DataFrame
  * with columns (event_id long, ts timestamp, user_id long,
  * event_type string, value double, props string). Each function works
  * on BOTH a batch frame and a streaming frame — the batch twins in
  * graft.ops.StreamTwins and the MemoryStream tests call the very same
  * code, which is the proof obligation that stream ≡ batch.
  *
  * Watermarks: `withWatermark` is only legal/meaningful on streaming
  * frames; pass `watermark = Some("10 minutes")` in streaming use. State
  * eviction at 100 TB: the watermark bounds every stateful op's store
  * (windows, sessions, dedup keys) — without it state grows with key
  * cardinality forever.
  *
  * Checkpoint recovery: every stateful op restores its state store from
  * `checkpointLocation` on restart — StreamingSpec pins it for both the
  * built-in dedup state and an explicit flatMapGroupsWithState store
  * (kill mid-stream, restart, final output ≡ batch twin). Cluster
  * deployments with large state should swap the default HDFS-backed
  * in-heap provider for RocksDB (state spills to local disk instead of
  * executor heap, incremental snapshots to the checkpoint FS):
  * {{{
  * spark.sql.streaming.stateStore.providerClass=
  *   org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
  * spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true
  * }}}
  * (changelog checkpointing uploads per-batch deltas rather than full
  * snapshots — the knob that keeps commit latency flat as state grows).
  * The provider changes only WHERE state lives; these operators and
  * their checkpoints are provider-agnostic.
  */
object StreamOps {

  /** Event-time in MICROseconds for state-op ordering: getTime
    * truncates to ms, which diverged from the batch twins' unix_micros
    * ordering for same-millisecond events (r4 review); hoisted to ONE
    * definition (r8 review — three verbatim copies had accreted, and
    * the r4 fix itself had already been applied twice). */
  private[stream] def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L


  private def wm(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))

  /** H1 — tumbling 1-hour counts per event_type. sum_value in exact
    * micro-unit BIGINT (DECIMAL outputs can't hash-match the oracle). */
  def tumblingCounts(events: DataFrame, watermark: Option[String] = None): DataFrame =
    wm(events, watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * lit(1000000L)).cast("long"))
          .as("sum_value_micro"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("event_type"),
        col("n"), col("sum_value_micro"))

  /** H2 — sliding windows (1 h length, 15 min slide). */
  def slidingCounts(events: DataFrame, watermark: Option[String] = None): DataFrame =
    wm(events, watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) div 1000000").as("ws_s"), col("n"))

  /** H3 — session windows, 30-minute gap. */
  def sessionWindows(events: DataFrame, watermark: Option[String] = None): DataFrame =
    wm(events, watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** H4 — streaming dedup: first arrival per (user_id, event_type) wins.
    * With a watermark the state for old keys is evicted
    * (dropDuplicatesWithinWatermark).
    *
    * TRANSPORT CONTRACT (r4 advice — this is a requirement, not a
    * footnote): the streaming branch keeps the first ARRIVAL per key;
    * it equals the batch twin's first-by-(ts_us, event_id) winner ONLY
    * when the transport delivers each key's events in event order —
    * i.e. all events of one (user_id, event_type) flow through one
    * ordered partition (Kafka keyed by user_id gives exactly this; the
    * MemoryStream proof in StreamingSpec feeds in order). If a key's
    * events are spread across partitions, arrival order is not event
    * order and the streaming winner may differ from the batch/oracle
    * winner.
    *
    * RECOMMENDED DEFAULT (r5 verdict item 5): unless your source is
    * provably keyed by the dedup key — most real Kafka deployments
    * guarantee ordering only within a partition — use
    * `dedupFirstExact` below. It is order-insensitive: it holds the
    * min-(ts_us, event_id) row per key in flatMapGroupsWithState and
    * emits on watermark expiry with a monotone timeout basis, trading
    * (a) per-event emission latency for watermark-delayed emission and
    * (b) one full winner row of state per in-flight key (vs. this
    * variant's key-presence marker) for exactness under arbitrary
    * arrival order (proven against the batch twin on out-of-order
    * feeds in StreamingSpec H4b/H4c). Keep `dedupFirst` when the
    * transport IS keyed and you want minimum-latency emission. */
  def dedupFirst(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val base = wm(events, watermark)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
    if (events.isStreaming) {
      // streaming: state-store dedup keeps the first ARRIVAL per key —
      // equal to first-by-(ts, event_id) when the transport delivers
      // per-key in event order (Kafka keyed by user does; the
      // MemoryStream proof feeds in order)
      val deduped = watermark match {
        case Some(_) => base.dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
        case None    => base.dropDuplicates(Seq("user_id", "event_type"))
      }
      deduped.select("user_id", "event_type", "event_id", "ts_us")
    } else {
      // batch: dropDuplicates keeps an ARBITRARY row per key (whatever
      // the shuffle delivers first), so the documented
      // first-by-(ts, event_id) winner must be selected explicitly
      // (r4 review) — same window as the oracle twin
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
      base.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts_us")
    }
  }

  /** H5/H6 input element type for the typed stateful ops. */
  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Counted(user_id: Long, event_id: Long, k: Long)
  final case class DedupWinner(user_id: Long, event_type: String,
      event_id: Long, ts_us: Long)

  /** H4b — ORDER-INSENSITIVE exact streaming dedup: the alternative
    * branch of dedupFirst's transport contract (r4 advice), for sources
    * that spread one key's events across partitions. Holds the current
    * first-by-(ts_us, event_id) row per (user_id, event_type) in state
    * and emits ONLY when the event-time watermark passes every event
    * seen for the key — at that point any future admitted row has
    * ts ≥ watermark > winner.ts_us, so the winner is final and equals
    * the batch twin's over the admitted rows, for ANY arrival order.
    * The trade against dedupFirst: emission waits for the watermark
    * (latency = the allowed disorder) instead of firing per event, and
    * rows later than the watermark are dropped rather than deduped.
    * Like dropDuplicatesWithinWatermark, state is removed on emission,
    * so a key seen again AFTER its watermark expiry starts a fresh
    * window — "exactly once per key per watermark window", the only
    * bounded-state semantics an unbounded stream admits. The window is
    * session-shaped: each new event for a key pushes its timeout
    * forward, so a key with no inter-event gap ≥ the watermark delay
    * holds its winner (one state row) until such a gap appears.
    * Streaming-only by construction (batch flatMapGroupsWithState never
    * times out, so nothing would ever emit): batch callers use
    * dedupFirst's window twin.
    *
    * The state carries (winner, all-time max event ts) — NOT just the
    * winner — so the timeout basis is monotone per key (r5 advice): an
    * out-of-order OLDER event arriving in a later batch must not move
    * the timeout backward, or the key could fire before the watermark
    * passes the newest event previously seen and a subsequent in-window
    * event would reopen the key and emit a second winner.
    * NOTE: widening the state changed its schema; a streaming query
    * restored from a checkpoint written by the previous (winner-only)
    * version must restart from a fresh checkpoint directory. */
  def dedupFirstExact(events: Dataset[Ev],
      watermark: String = "10 minutes"): Dataset[DedupWinner] = {
    require(events.isStreaming,
      "dedupFirstExact is streaming-only (timeouts never fire in batch); " +
        "use dedupFirst on a batch frame")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[(DedupWinner, Long), DedupWinner](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((user, etype), evs, state) =>
          if (state.hasTimedOut) {
            // watermark passed every event seen for this key: final
            val winner = state.get._1
            state.remove()
            Iterator.single(winner)
          } else {
            var (best, maxUs) = state.getOption.getOrElse(
              (null: DedupWinner, Long.MinValue))
            evs.foreach { e =>
              val c = DedupWinner(user, etype, e.event_id, micros(e.ts))
              if (best == null || c.ts_us < best.ts_us ||
                  (c.ts_us == best.ts_us && c.event_id < best.event_id))
                best = c
              if (c.ts_us > maxUs) maxUs = c.ts_us
            }
            state.update((best, maxUs))
            // fire once the watermark passes the NEWEST event EVER seen
            // for this key (maxUs is the all-time max, carried in state,
            // so the basis never regresses); ms floor +1 covers the µs
            // truncation, and the timestamp must exceed the current
            // watermark or Spark rejects it
            state.setTimeoutTimestamp(math.max(
              Math.floorDiv(maxUs, 1000L) + 1L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** H5 — per-user running event count via explicit per-key state
    * (the Aerospike-counter analog; state = one Long per user). Works on
    * a typed stream; flatMap emits one Counted row per input event with
    * its running index. Events must arrive per-user in event order for
    * the k values to match the batch twin (Kafka partitions by user key
    * give exactly that; the MemoryStream test feeds in order). */
  def statefulCounter(events: Dataset[Ev]): Dataset[Counted] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Counted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          var k = state.getOption.getOrElse(0L)
          val out = evs.toSeq
            .sortBy(e => (micros(e.ts), e.event_id))
            .map { e => k += 1; Counted(user, e.event_id, k) }
          state.update(k)
          out.iterator
      }
  }

  /** H5-TWS — the same per-user running counter on Spark 4's
    * `transformWithState` API (the successor to flatMapGroupsWithState:
    * named state variables with per-variable Encoders and TTL, timers,
    * and in-place state-schema evolution — the capabilities a long-lived
    * production counter eventually needs that GroupState cannot grow).
    * Semantics are IDENTICAL to [[statefulCounter]] (StreamingSpec pins
    * stream ≡ fMGWS ≡ batch window twin on the same feed), so the two
    * are drop-in interchangeable; this variant REQUIRES the RocksDB
    * state-store provider (a transformWithState constraint — the same
    * provider the checkpoint-recovery tests already exercise), which is
    * also the right provider at 100 TB: per-key state lives on executor
    * local disk with changelog checkpointing, not in heap. */
  final class CounterProcessor extends StatefulProcessor[Long, Ev, Counted] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, evs: Iterator[Ev],
        timerValues: TimerValues): Iterator[Counted] = {
      var k = if (count.exists()) count.get() else 0L
      val out = evs.toSeq
        .sortBy(e => (micros(e.ts), e.event_id))
        .map { e => k += 1; Counted(user, e.event_id, k) }
      count.update(k)
      out.iterator
    }
  }

  def statefulCounterTws(events: Dataset[Ev]): Dataset[Counted] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new CounterProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Versioned state records for the transformWithState SCHEMA-EVOLUTION
    * contract (r9, r8 verdict item 5): a long-lived production counter
    * eventually needs to grow its state — V2 adds an Option field
    * (nullable in the state schema, which is exactly the evolution the
    * Avro state encoding permits: restored V1 records read with the new
    * field null). Requires `spark.sql.streaming.stateStore
    * .encodingFormat=avro` from the FIRST run of the query (the default
    * unsaferow encoding is positional and cannot evolve) + the RocksDB
    * provider TWS already mandates; StreamingSpec restarts a V1
    * checkpoint under the V2 processor mid-stream and pins output ≡
    * batch twin. */
  final case class CounterStateV1(value: Long)
  final case class CounterStateV2(value: Long, lastEventId: Option[Long])

  /** [[CounterProcessor]] with record-shaped (evolvable) state. */
  final class CounterProcessorV1 extends StatefulProcessor[Long, Ev, Counted] {
    @transient private var count: ValueState[CounterStateV1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[CounterStateV1]("countRec",
        Encoders.product[CounterStateV1], TTLConfig.NONE)
    override def handleInputRows(user: Long, evs: Iterator[Ev],
        timerValues: TimerValues): Iterator[Counted] = {
      var k = if (count.exists()) count.get().value else 0L
      val out = evs.toSeq
        .sortBy(e => (micros(e.ts), e.event_id))
        .map { e => k += 1; Counted(user, e.event_id, k) }
      count.update(CounterStateV1(k))
      out.iterator
    }
  }

  /** The EVOLVED processor: same state variable name, V2 record. A V1
    * checkpoint restores with `lastEventId = None`; the counter value
    * carries through untouched. */
  final class CounterProcessorV2 extends StatefulProcessor[Long, Ev, Counted] {
    @transient private var count: ValueState[CounterStateV2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[CounterStateV2]("countRec",
        Encoders.product[CounterStateV2], TTLConfig.NONE)
    override def handleInputRows(user: Long, evs: Iterator[Ev],
        timerValues: TimerValues): Iterator[Counted] = {
      var k = if (count.exists()) count.get().value else 0L
      val ordered = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val out = ordered.map { e => k += 1; Counted(user, e.event_id, k) }
      count.update(CounterStateV2(k, ordered.lastOption.map(_.event_id)))
      out.iterator
    }
  }

  def statefulCounterTwsV1(events: Dataset[Ev]): Dataset[Counted] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new CounterProcessorV1, TimeMode.None(), OutputMode.Append())
  }

  def statefulCounterTwsV2(events: Dataset[Ev]): Dataset[Counted] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new CounterProcessorV2, TimeMode.None(), OutputMode.Append())
  }

  /** One EWMA output row: the input slot value and the folded state. */
  final case class EwmaRow(user_id: Long, slot: Long, v_micro: Long,
      ewma_micro: Long)

  /** H10 — streaming EWMA: the stateful-stream form of
    * `Generators.tsEwma`'s recursion (ewma₀ = v₀, ewmaᵢ =
    * (ewmaᵢ₋₁ + vᵢ) div 2). The fold's data dependence IS per-key
    * state, so the streaming form is the natural one: state = the last
    * folded value per user (one Long — O(keys) store, watermark-free),
    * each micro-batch folds its slots in slot order and emits one row
    * per input. Slots must arrive per-user in slot order across
    * micro-batches for stream ≡ batch (the same contract as
    * [[statefulCounter]]; Kafka keyed by user gives it); StreamingSpec
    * pins equality against the batch flatMapGroups fold on the same
    * feed. */
  def ewmaStream(slots: Dataset[graft.ops.Generators.SlotVal]): Dataset[EwmaRow] = {
    import slots.sparkSession.implicits._
    slots
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, EwmaRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user: Long, it: Iterator[graft.ops.Generators.SlotVal],
            state: GroupState[Long]) =>
          // absent state (first batch for this user) seeds with v₀
          var cur: Option[Long] = state.getOption
          val out = it.toSeq.sortBy(_.slot).map { r =>
            // floorDiv matches the batch fold and DuckDB's `//` even on
            // negative values (r8 advice)
            val e = cur match {
              case Some(prev) => Math.floorDiv(prev + r.v, 2)
              case None => r.v
            }
            cur = Some(e)
            EwmaRow(user, r.slot, r.v, e)
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** H8 / I-ext — streaming near-dup against a STATIC reference corpus:
    * the incremental form of llm_minhash_lsh, i.e. what a production
    * ingest pipeline runs as new documents arrive. Each incoming doc is
    * minhash-banded with the SAME expressions as the batch index
    * (graft.ops.DedupOps.minhashBandExpr), probed against the corpus's
    * persisted (band, bucket) index via a stream-static equi-join (the
    * supported, state-free streaming join shape — the static side is the
    * build side), exact-verified with the inter_count_sorted Jaccard
    * test (precision 1), and reduced to the FIRST (min doc_id) earlier
    * near-duplicate per incoming doc. The only stateful op is the final
    * min-per-key aggregate — one row per duplicate doc, bounded by the
    * dup count, emitted in Update/Complete mode.
    *
    * Works identically on a batch frame (the registered oracle twin
    * streams the corpus against itself; `ref_id < doc_id` makes arrival
    * order irrelevant, so stream ≡ batch — proven in StreamingSpec). */
  def nearDupAgainst(docs: DataFrame, corpus: DataFrame): DataFrame = {
    // static reference index CONTRACTED to one doc per distinct token
    // set: a group's representative is its MIN doc_id, so for any doc d
    // the min earlier near-dup is always a rep — if a member m < d
    // matches, its group's rep r ≤ m also matches (same token set) —
    // and probing the rep-only index is exactly equivalent while
    // collapsing equal-ts cliques (sf0.1's 248-doc group: one probe row
    // instead of up to 247 candidate matches per incoming doc).
    val (_, repDocs) = graft.ops.DedupOps.tsContraction(corpus)
    // ONE tokenization of the static side (r4 review; same shape as
    // lshVerifiedPairs): minhash32 is order-independent, so the sorted
    // verify array also feeds the signature — one persisted frame
    // derives both the band index and the verify sets.
    // Q.cached: inside a withCached scope (the batch twin) these release
    // with the query; in a long-lived streaming query they are the
    // static index and SHOULD live as long as the query does — outside
    // a scope cached() is a plain persist().
    val refSets = graft.ops.Q.cached(repDocs
      .select(col("doc_id").as("ref_id"),
        expr("array_sort(array_distinct(split(text, ' ')))").as("ref_toks")))
    val idx = graft.ops.Q.cached(refSets
      .withColumn("mhs", graft.functions.GraftFunctions.expr("minhash32(ref_toks)"))
      .select(col("ref_id"), posexplode(expr(graft.ops.DedupOps.minhashBandExpr))
        .as(Seq("band", "bh"))))
    // incoming docs: band with the same expressions, carrying the token
    // array through the explode (no stream-stream join anywhere). A
    // probe pair colliding in k bands is verified k≤4 times — the
    // final min-aggregate collapses them, and a pre-verify distinct
    // would be a SECOND stateful op in the streaming plan (not worth
    // the state for a ≤4× bounded re-verify).
    val probes = docs
      .select(col("doc_id"),
        expr("array_sort(array_distinct(split(text, ' ')))").as("toks"))
      .withColumn("mhs", graft.functions.GraftFunctions.expr("minhash32(toks)"))
      .select(col("doc_id"), col("toks"),
        posexplode(expr(graft.ops.DedupOps.minhashBandExpr)).as(Seq("band", "bh")))
    // the exact verify is the shared Llm.verifyJaccardPairs — same τ
    // and algebra as the batch baseline and the LSH verify, one source
    graft.ops.Llm.verifyJaccardPairs(probes
      .join(idx, Seq("band", "bh"))
      .where(col("ref_id") < col("doc_id"))
      .join(refSets, "ref_id")
      .withColumnRenamed("toks", "ts_a")
      .withColumnRenamed("ref_toks", "ts_b"))
      .groupBy(col("doc_id"))
      .agg(min(col("ref_id")).as("dup_of"))
  }

  /** H7 — stream-stream interval join (the streaming twin of C7): for
    * each signup, purchases by the same user within the following two
    * hours. Watermarks on both sides bound the join state. */
  def intervalJoin(signups: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val s = signups.withWatermark("ts", watermark)
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    s.join(p, col("s_user") === col("p_user")
        && col("p_ts") > col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("s_user").as("user_id"), col("signup_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("delay_us"))
  }

  /** H9 — incremental heavy hitters over an unbounded term stream: each
    * micro-batch builds a DISTRIBUTED Misra-Gries sketch (the
    * `MisraGries` udaf — per-partition partials, O(k) merge tree), and
    * `absorb` folds the batch summary into an O(k) running buffer via
    * the same mergeable-summaries merge. Driven from `foreachBatch`
    * (the bloom-build shape): the per-batch heavy lifting stays on
    * executors and only a ≤(k-1)-entry map crosses to the accumulator.
    * Retention bound — honestly 2n/k, not n/k: the per-batch sketch
    * forgets ≤ n_i/k of any term's mass (Σ = n/k) and the accumulator's
    * own merges decrement at most inserted-mass/k (≤ n/k more), so any
    * term with total stream frequency > 2n/k is guaranteed in
    * `candidates` regardless of batching (proven in StreamingSpec H9;
    * size the budget 2× the batch guarantee you need). Exact counts,
    * when needed, come from the same candidates-only second pass as
    * batch agg_heavy_hitters. */
  class HeavyHitterAccumulator(k: Int) extends Serializable {
    private val mg = new graft.functions.MisraGries(k)
    @volatile private var buf: Map[String, Long] = mg.zero

    /** Fold one micro-batch (a frame with a `term` string column).
      * `synchronized`: the read-modify-write of `buf` must be atomic if
      * two streaming queries ever share one accumulator — foreachBatch
      * serializes invocations WITHIN a query, not across queries, and a
      * lost merge is silent under-counting (r4 advice). The merge is
      * O(k); contention is negligible next to the batch aggregate. */
    def absorb(batch: DataFrame): Unit = synchronized {
      // two actions run over the batch (sketch, then candidate
      // re-count) — persist so the micro-batch source is read once
      // (the standard foreachBatch multi-action rule; r4 review)
      batch.persist()
      try {
        val sketch = udaf(mg)
        val row = batch.agg(sketch(col("term")).as("cands")).head
        // the udaf surfaces candidate KEYS; re-weigh them with the
        // batch's exact per-candidate counts so merges keep the MG error
        // bound (candidate set ⊆ batch terms — a candidates-only agg)
        val cands = row.getSeq[String](0)
        if (cands.nonEmpty) {
          val counts = batch.where(col("term").isin(cands: _*))
            .groupBy("term").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          buf = mg.merge(buf, counts)
        }
      } finally batch.unpersist()
    }

    def candidates: Set[String] = buf.keySet
  }
}
