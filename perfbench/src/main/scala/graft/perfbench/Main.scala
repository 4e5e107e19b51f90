package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: String, work: String, out: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("out"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** What one workload run reports. `checks` are the output checks: a
  * failed check fails the run. */
final case class Outcome(attempted: Long, failed: Long,
    checks: Seq[(String, Boolean, String)],
    endToEnd: Map[String, Double], layers: Map[String, Double])

/** Per-run state shared by the workloads: the session, the trace and the
  * set-up clock.
  *
  * Set-up time runs from JVM start to the first timed op: session start,
  * the workload's tables and warm-up, and whatever else precedes the
  * timed window. A workload calls `setupDone()` just before its first
  * timed op. */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Trace) {
  /** Seconds from JVM start to the end of set-up. */
  var setupS = Double.NaN
  /** Input files listed during set-up, from `HiveCatalogMetrics`. */
  var filesDiscovered = 0L

  def setupDone(): Unit = {
    setupS = Main.secondsSinceJvmStart()
    filesDiscovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    Main.log("set-up done")
  }
}

object Main {
  /** High-water mark of this process's resident memory, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def secondsSinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** A progress line, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${secondsSinceJvmStart()}%.1f s: $msg")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    // graft.Bench's session settings, plus scratch dirs inside the run's
    // work directory
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.catalog.bench", classOf[graft.catalog.GraftSqlCatalog].getName)
      .config("spark.sql.catalog.bench.root", s"${a.work}/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(a.trace, spark)
    val ctx = new Ctx(spark, a, trace)
    log("session started")
    val o = a.workload match {
      case "query_mix"   => QueryMix.run(ctx)
      case "stream_link" => StreamLink.run(ctx)
      case w             => sys.error(s"unknown workload $w")
    }
    log("workload done")
    val e2e = o.endToEnd ++ Map("setup_s" -> ctx.setupS, "peak_rss_mb" -> peakRssMb())
    val layers = o.layers ++ Map(
      // traced end-to-end figures: minus the untraced run's, the overhead
      "trace.op_p50_ms" -> e2e("op_p50_ms"),
      "trace.throughput_per_s" -> e2e("throughput_per_s"),
      "Tables.files_discovered" -> ctx.filesDiscovered.toDouble)
    if (a.trace) trace.dump(s"${a.work}/spans.jsonl")
    val checks = o.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    val pw = new java.io.PrintWriter(a.out, "UTF-8")
    try pw.println(Json.obj(Seq("attempted" -> o.attempted, "failed" -> o.failed,
      "checks" -> checks, "end_to_end" -> e2e, "per_layer" -> layers)))
    finally pw.close()
    spark.stop()
  }
}
