package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (0 at the top), `op` the operation it belongs to. */
final case class Span(id: Long, name: String, op: Long, parent: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine counters read from Spark's public listeners and metric sources.
  * A window's figures are the difference of two snapshots. */
final case class Counters(jobs: Long, tasks: Long, taskRunMs: Long,
    schedDelayMs: Long, shuffleWriteBytes: Long, inputBytes: Long,
    planMs: Long, codegenCompiles: Long, codegenMeanMs: Double) {
  /** The window from `o` to this snapshot. `CodegenMetrics` keeps compile
    * times in a decaying reservoir, not a sum, so the window keeps this
    * (the later) snapshot's mean and compile time is estimated as
    * compiles × that mean. */
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskRunMs - o.taskRunMs, schedDelayMs - o.schedDelayMs,
    shuffleWriteBytes - o.shuffleWriteBytes, inputBytes - o.inputBytes,
    planMs - o.planMs, codegenCompiles - o.codegenCompiles, codegenMeanMs)
}

/** In-memory span recorder plus the engine listeners of a traced run.
  *
  * Disabled (the untraced runs that give the end-to-end metrics), `span`
  * only evaluates its body and no listener is attached. Enabled, every
  * span also becomes a Spark job group, so the listener can attribute the
  * jobs a layer call starts to that call. */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private val jobs, tasks, taskRunMs, schedDelayMs, shuffleWrite, inputBytes,
      planMs = new AtomicLong(0)
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("span-")).foreach { g =>
            jobsBySpan.computeIfAbsent(g.stripPrefix("span-").toLong,
              _ => new AtomicLong(0)).incrementAndGet()
          }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inputBytes.addAndGet(m.inputMetrics.bytesRead)
          // the scheduler-delay formula of Spark's own stage page
          val delay = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime
          schedDelayMs.addAndGet(math.max(0L, delay))
        }
      }
    })
    // the planning time of every query the session runs
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Time `body` as span `name` of operation `op`. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = open.get()
      open.set(id :: parents)
      sc.setJobGroup(s"span-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parents)
        parents match {
          case p :: _ => sc.setJobGroup(s"span-$p", "")
          case Nil    => sc.clearJobGroup()
        }
        recorded.synchronized {
          recorded += Span(id, name, op, parents.headOption.getOrElse(0L), t0, t1)
        }
      }
    }

  /** Snapshot of the engine counters after every queued event landed. */
  def counters(): Counters = {
    if (enabled) ListenerBusAccess.drain(sc)
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    Counters(jobs.get, tasks.get, taskRunMs.get, schedDelayMs.get,
      shuffleWrite.get, inputBytes.get, planMs.get, compile.getCount,
      compile.getSnapshot.getMean)
  }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Spark jobs started inside span `id` (not counting child spans). */
  def jobsOf(id: Long): Long = Option(jobsBySpan.get(id)).map(_.get).getOrElse(0L)

  /** Self time of each span: its duration minus its children's. */
  def selfMs: Map[Long, Double] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Spark-engine per-layer metrics over a window of `ops` operations that
    * took `wallMs` of wall time, as per-operation means. */
  def engineMetrics(w: Counters, ops: Long, wallMs: Double, cores: Int): Map[String, Double] = {
    val n = math.max(1L, ops).toDouble
    Map(
      "spark.jobs" -> w.jobs / n,
      "spark.tasks" -> w.tasks / n,
      "spark.sched_delay_ms" -> w.schedDelayMs / n,
      "spark.task_run_ms" -> w.taskRunMs / n,
      "spark.core_busy" -> (if (wallMs > 0) w.taskRunMs / (wallMs * cores) else 0.0),
      "spark.plan_ms" -> w.planMs / n,
      "spark.codegen_compiles" -> w.codegenCompiles / n,
      "spark.codegen_ms" -> w.codegenCompiles * w.codegenMeanMs / n,
      "spark.shuffle_write_bytes" -> w.shuffleWriteBytes / n,
      "spark.input_bytes" -> w.inputBytes / n)
  }

  /** Share of the ops' wall time that their layer spans cover: the summed
    * time of the spans named `layers` over the summed `opMs`, the wall
    * time of each op timed apart from the spans. Below 1, the rest went
    * to work outside every layer span. */
  def coveredRatio(opMs: Map[Long, Double], layers: Set[String]): Double = {
    val covered = spans.filter(s => layers(s.name) && opMs.contains(s.op)).map(_.ms).sum
    val wall = opMs.values.sum
    if (wall > 0) covered / wall else 0.0
  }

  /** Write every span as one JSON line. */
  def dump(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    val self = selfMs
    try spans.foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> self(s.id), "jobs" -> jobsOf(s.id))))
    } finally out.close()
  }
}
