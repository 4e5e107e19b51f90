package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.ops.Txn
import graft.stream.{Electron, Link}

/** stream_link: the catenae consume → transform → produce model over the
  * commit log, in an open loop.
  *
  * A generator thread commits seeded events-shaped batches to a source
  * table on a fixed schedule, each row stamped with its batch's due time.
  * One streaming query reads the table with `readStream.format("graft")`,
  * maps rows to `Electron`s, runs a `Link` (drop errors, route by topic,
  * fan signups out to two topics) and writes to the exactly-once
  * `writeStream.format("graft")` sink.
  *
  * Phase 1 commits at a fixed rate below saturation and times each
  * version from its due time to the end of the micro-batch that delivers
  * it. Phase 2 stops the query, lands a fixed backlog, restarts the query
  * from the same checkpoint with `maxVersionsPerTrigger`, and times the
  * drain. */
object StreamLink {
  val batchRows = 100
  val periodMs = 2000L
  val warmupVersions = 3
  val backlogVersions = 8
  val backlogRows = 2000
  val maxVersionsPerTrigger = 3L
  val types = Seq("click", "view", "signup", "purchase", "error")

  final case class Event(event_id: Long, due_ms: Long, user_id: Long,
      event_type: String, value: Double)

  /** The Link under test: 0, 1 or 2 outputs per input. */
  def route(e: Electron): Seq[Electron] = e.previousTopic match {
    case Some("error")    => Nil
    case Some("signup")   => Seq(e.copy(topic = Some("crm")), e.copy(topic = Some("analytics")))
    case Some("purchase") => Seq(e.copy(topic = Some("billing")))
    case _                => Seq(e.copy(topic = Some("analytics")))
  }
  val link: Link = Link(route)

  def electrons(events: DataFrame): Dataset[Electron] = {
    import events.sparkSession.implicits._
    events.select(
      col("event_id").cast("string").as("key"),
      concat_ws(":", col("user_id"), col("value")).as("value"),
      col("event_type").as("topic"),
      lit(null).cast("string").as("previousTopic"),
      timestamp_millis(col("due_ms")).as("ts")).as[Electron]
  }

  /** One progress report: end version, batch end time, input rows and the
    * engine's per-phase durations. */
  final case class Progress(endVersion: Long, endMs: Long, rows: Long,
      durations: Map[String, Long])

  def endVersion(json: String): Long = {
    val t = json.trim
    if (t.startsWith("{")) """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(t).get.group(1).toLong
    else t.toLong
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val trace = ctx.trace
    val seedEvents = 2000
    val spark = ctx.spark
    spark.sql("""CREATE TABLE bench.events_src (event_id BIGINT, due_ms BIGINT,
      |user_id BIGINT, event_type STRING, value DOUBLE)""".stripMargin)
    spark.sql(s"""INSERT INTO bench.events_src SELECT event_id, 0L AS due_ms, user_id,
      |event_type, value FROM parquet.`${a.data}/events.parquet`
      |WHERE event_id < $seedEvents""".stripMargin)
    spark.sql("""CREATE TABLE bench.events_out (key STRING, value STRING,
      |topic STRING, previousTopic STRING, ts TIMESTAMP)""".stripMargin)
    Main.log("source and sink tables created")
    import spark.implicits._
    /** location, num_versions, num_files and size_bytes of both tables */
    def details(): Seq[Row] = Seq("events_src", "events_out").map(t =>
      spark.sql(s"SELECT location, num_versions, num_files, size_bytes FROM bench.$t.detail").head())
    val Seq(srcRoot, outRoot) = details().map(_.getString(0))
    def headVersion() = spark.sql("SELECT max(version) FROM bench.events_src.history").head().getLong(0)
    val checkpoint = s"${a.work}/checkpoint"

    val progress = new ConcurrentLinkedQueue[Progress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L)
        p.sources.headOption.filter(_.endOffset != null).foreach { s =>
          progress.add(Progress(endVersion(s.endOffset), end, p.numInputRows, d))
        }
      }
    })
    def start(opts: Map[String, String]): StreamingQuery = {
      val in = spark.readStream.format("graft").options(opts).load(srcRoot)
      link.run(electrons(in)).toDF().writeStream.format("graft")
        .option("checkpointLocation", checkpoint).start(outRoot)
    }
    /** Wait until a micro-batch of `q` has delivered version `v`. */
    def awaitVersion(q: StreamingQuery, v: Long): Boolean = {
      val deadline = System.currentTimeMillis() + 30000
      while (!progress.asScala.exists(_.endVersion >= v) && q.isActive &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      progress.asScala.exists(_.endVersion >= v)
    }

    // the generator: seeded batches, one INSERT per batch on its own thread
    val rnd = new scala.util.Random(a.seed)
    val generated = mutable.ArrayBuffer.empty[Event]
    var nextId = seedEvents.toLong
    def commit(rows: Int, dueMs: Long): Unit = {
      val evs = Seq.fill(rows) {
        nextId += 1
        Event(nextId, dueMs, rnd.nextInt(1500).toLong, types(rnd.nextInt(types.size)),
          rnd.nextInt(50000) / 100.0)
      }
      generated ++= evs
      evs.toDF().createOrReplaceTempView("gen_src")
      spark.sql("INSERT INTO bench.events_src SELECT * FROM gen_src")
    }

    // set-up ends once the seeded snapshot and a few single-version
    // batches have streamed through: the first commits and micro-batches
    // run cold, and timing them made freshness fall through phase 1
    var query = start(Map.empty)
    awaitVersion(query, headVersion())
    (1 to warmupVersions).foreach { _ =>
      commit(batchRows, 0L)
      awaitVersion(query, headVersion())
    }
    val base = headVersion()
    progress.clear()

    // phase 1: open loop at a fixed rate
    val versions = (a.seconds * 1000L / periodMs).toInt
    val due = new Array[Long](versions)
    val late = new Array[Double](versions)
    val commitMs = new Array[Double](versions)
    val versionMs = new Array[Double](versions)
    var failed = 0L
    var genDone = 0
    ctx.setupDone()
    val d0 = if (trace.enabled) details() else Nil
    val bytes0 = if (trace.enabled) d0.map(r => dirBytes(r.getString(0))).sum else 0L
    val w0 = trace.counters()
    val t0 = System.currentTimeMillis() + 50
    val t0Ns = System.nanoTime() + 50000000L
    val gen = new Thread(() => {
      (0 until versions).foreach { i =>
        due(i) = t0 + i * periodMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val c0 = System.nanoTime()
        late(i) = (c0 - t0Ns) / 1e6 - i * periodMs
        try trace.span("gen.commit", i + 1)(commit(batchRows, due(i)))
        catch { case e: Exception => failed += 1; System.err.println(s"stream_link: commit failed: $e") }
        commitMs(i) = (System.nanoTime() - c0) / 1e6
        genDone = i + 1
        if (trace.enabled) {
          val v0 = System.nanoTime()
          Txn.currentVersion(spark, srcRoot)
          versionMs(i) = (System.nanoTime() - v0) / 1e6
        }
      }
    }, "perfbench-generator")
    gen.start()
    // backlog in versions, sampled while phase 1 runs
    var backlogMax = 0L
    while (gen.isAlive) {
      val delivered = progress.asScala.map(_.endVersion).foldLeft(base)(math.max)
      backlogMax = math.max(backlogMax, base + genDone - delivered)
      Thread.sleep(20)
    }
    gen.join()
    val last1 = base + versions
    if (!awaitVersion(query, last1)) failed += 1
    val phase1 = progress.asScala.toList
    val freshness = (1 to versions).flatMap { i =>
      phase1.filter(_.endVersion >= base + i).map(_.endMs).minOption
        .map(t => (t - due(i - 1)).toDouble)
    }
    failed += versions - freshness.size

    Main.log(s"phase 1 done: ${freshness.size} versions delivered, freshness ms: ${freshness.map(_.round).mkString(" ")}")
    // phase 2: the query is down while a backlog lands, then drains it
    query.stop()
    progress.clear()
    (1 to backlogVersions).foreach(_ => commit(backlogRows, 0L))
    val last2 = last1 + backlogVersions
    val drainT0 = System.currentTimeMillis()
    query = start(Map("maxVersionsPerTrigger" -> maxVersionsPerTrigger.toString))
    val drained = awaitVersion(query, last2)
    val drainS = (progress.asScala.map(_.endMs).maxOption.getOrElse(drainT0) - drainT0) / 1000.0
    if (!drained) failed += 1
    val phase2 = progress.asScala.toList
    query.stop()
    Main.log(f"phase 2 done: drained in $drainS%.1f s")
    val w = trace.counters() - w0
    val wallMs = (System.currentTimeMillis() - t0).toDouble

    // output checks: the sink holds exactly the Link applied in batch to
    // every event the source received, each output once
    val seeded = spark.read.parquet(s"${a.data}/events.parquet")
      .where(col("event_id") < seedEvents)
      .select(col("event_id"), lit(0L).as("due_ms"), col("user_id"), col("event_type"), col("value"))
    val expected = bag(link.run(electrons(seeded.unionByName(generated.toSeq.toDF()))).toDF())
    val got = bag(spark.sql("SELECT key, value, topic, previousTopic, ts FROM bench.events_out"))
    val (nExp, nGot) = (expected.values.sum, got.values.sum)
    val missing = expected.map { case (r, n) => math.max(0, n - got.getOrElse(r, 0)) }.sum
    val extra = got.map { case (r, n) => math.max(0, n - expected.getOrElse(r, 0)) }.sum
    val sinkCheck = ("sink equals Link over every event, exactly once",
      nExp == nGot && missing == 0 && extra == 0,
      s"expected=$nExp got=$nGot missing=$missing extra=$extra")
    val head = headVersion()
    val srcCheck = ("source holds every committed version", head == last2,
      s"head=$head expected=$last2")

    val e2e = Map(
      "throughput_per_s" -> backlogVersions * backlogRows / math.max(drainS, 1e-3),
      "op_p50_ms" -> Stats.pct(freshness, 0.5),
      "op_p90_ms" -> Stats.pct(freshness, 0.9))
    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      // the commit log of both tables over the window: the generator's
      // INSERTs into the source and the sink's micro-batch commits
      val d1 = details()
      def grew(col: Int) = d1.zip(d0).map { case (e, b) => e.getLong(col) - b.getLong(col) }.sum
      val seededOut = link.run(electrons(seeded)).count()
      val rowsWritten = generated.size + (nGot - seededOut)
      val commits = trace.spans.filter(_.name == "gen.commit")
      val batches = (phase1 ++ phase2).filter(_.rows > 0)
      def dur(keys: String*) = Stats.mean(batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble))
      val phases = Seq("latestOffset", "getOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets", "addBatch")
      Map(
        "stream.offset_ms" -> dur("latestOffset", "getOffset"),
        "stream.get_batch_ms" -> dur("getBatch"),
        "stream.plan_ms" -> dur("queryPlanning"),
        "stream.wal_ms" -> dur("walCommit", "commitOffsets"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.batches" -> batches.size.toDouble,
        "stream.rows_per_batch" -> Stats.mean(batches.map(_.rows.toDouble)),
        "stream.backlog_versions_max" -> backlogMax.toDouble,
        "gen.late_ms" -> Stats.mean(late.toSeq),
        "gen.commit_ms" -> Stats.mean(commitMs.toSeq),
        "txn.commit_jobs" -> Stats.mean(commits.map(c => trace.jobsOf(c.id).toDouble)),
        "txn.versions" -> d1.head.getLong(1).toDouble,
        "txn.current_version_ms" -> Stats.mean(versionMs.toSeq),
        "txn.files_written" -> grew(2).toDouble / math.max(1L, grew(1)),
        "txn.bytes_written_per_row" -> (d1.map(r => dirBytes(r.getString(0))).sum - bytes0).toDouble /
          math.max(1L, rowsWritten),
        "txn.space_amp" -> d1.map(r => dirBytes(r.getString(0))).sum.toDouble / d1.map(_.getLong(3)).sum,
        // the named phases' share of each batch's trigger time
        "trace.covered_ratio" -> dur(phases: _*) / math.max(1e-9, dur("triggerExecution"))) ++
        trace.engineMetrics(w, batches.size, wallMs, a.cores)
    }
    Outcome(versions + backlogVersions, failed, Seq(sinkCheck, srcCheck), e2e, layers)
  }

  /** The rows of `df` as a multiset. */
  def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Bytes of every file under a local table root. */
  def dirBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(new java.net.URI(
      if (root.contains(":")) root else s"file://$root"))
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
