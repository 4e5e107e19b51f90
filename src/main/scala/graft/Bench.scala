package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Warm-up: touch every input table once (parquet footer reads, FS
    // cache, codegen of the scan path) so the first timed query doesn't
    // pay cold-start costs that min-of-2 can't always hide (round-1
    // bench showed 11.8 s on a pushed-down 600k-row scan — cold FS).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    // min of two runs per query: the first pays codegen/broadcast
    // warm-up and is hostage to ambient host noise (observed 10x swings
    // on shared CPU); the min is the reproducible cost. A query that
    // throws reports -1 (never a fast-fail latency masquerading as a
    // result) and is listed under "errors".
    var errors = List.empty[String]
    // optional comma-separated key filter for targeted timing runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }.toSeq
    // Cache lifecycle: Q.withCached releases each build's own cached
    // intermediates when its action finishes (the r5 library-level
    // lifecycle); clearCache stays as belt-and-braces so no query
    // inherits (or re-warns about) another's cache even if a build
    // persists outside the Q.cached registry.
    val fns = selected.toMap
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        graft.ops.Q.withCached(fns(name)(spark, sfDir))(_.count())
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally spark.catalog.clearCache()
    }
    // Noise strategy for this shared host (bursty multi-minute CPU-steal
    // windows, observed 10-40x swings): take the min over PASSES of the
    // whole suite rather than back-to-back repeats — consecutive samples
    // of one query land in the same steal burst, samples minutes apart
    // don't. Two full passes, then a third sample only for queries still
    // slow AND unstable (genuine cost reproduces, a burst doesn't).
    val mins = scala.collection.mutable.Map.empty[String, Double]
    val maxs = scala.collection.mutable.Map.empty[String, Double]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    // pass count is overridable for percentile collection (BASELINE.md's
    // p50/p95 rows); the driver default stays min-of-2
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    (1 to passes).foreach { _ =>
      selected.foreach { case (name, _) =>
        val t = once(name)
        if (t >= 0) {
          mins(name) = math.min(mins.getOrElse(name, Double.MaxValue), t)
          maxs(name) = math.max(maxs.getOrElse(name, 0.0), t)
          samples(name) = t :: samples.getOrElse(name, Nil)
        }
      }
    }
    val results = selected.map { case (name, _) =>
      var best = mins.getOrElse(name, -1.0)
      if (best < 0) errors ::= name
      else if (best > 3.0 && maxs(name) / best > 3.0) {
        val t3 = once(name)
        if (t3 >= 0) best = math.min(best, t3)
      }
      name -> best
    }.toMap
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def line(qs: Map[String, Double], otherN: Int, otherSec: Double): String = {
      val qj = qs.toSeq.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      val other = if (otherN > 0)
        s""","other":{"n":$otherN,"sec":${f(otherSec)}}""" else ""
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qj$other,"errors":$errJson,"sf":"$sfDir"}"""
    }
    // Full-precision record for the repo (PLANS.md evidence and local
    // diffing), including per-query p50/p95 over the collected samples
    // (meaningful with SPARK_GRAFT_PASSES >= 3); the stdout line below
    // is the driver's tail capture.
    def pct(xs: List[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }
    val fullJson = "{" + results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString(",") + "}"
    val pctJson = "{" + samples.toSeq.sortBy(_._1).map { case (k, xs) =>
      "\"" + k + "\":[" + pct(xs, 0.5) + "," + pct(xs, 0.95) + "]"
    }.mkString(",") + "}"
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_local.json"),
      s"""{"total":$total,"passes":$passes,"queries":$fullJson,"p50_p95":$pctJson,"errors":$errJson,"sf":"$sfDir"}""".getBytes)
    catch { case _: Throwable => () }
    // The driver captures only the LAST 2000 chars of output, and sbt
    // appends a ~80-char "[success]" line after ours — a JSON line longer
    // than ~1850 chars gets its head truncated and becomes unparseable
    // (BENCH_r02 "parsed": null). Fold the fastest queries into an
    // aggregate bucket until the line fits.
    var keepN = results.size
    var out = line(results, 0, 0.0)
    while (out.length > 1850 && keepN > 8) {
      keepN -= 8
      val keep = results.toSeq.sortBy(-_._2).take(keepN).toMap
      val dropped = results.filterNot { case (k, _) => keep.contains(k) }
      out = line(keep, dropped.size, dropped.values.filter(_ >= 0).sum)
    }
    // r15 (verdict item 2): the stdout line below reaches the driver only
    // through sbt's "[info] "-prefixed tail capture, and its parser has
    // reported `parsed: null` two rounds straight. Emit the IDENTICAL
    // contract line to a bare artifact as well — additions-only, nothing
    // about the timed region or the stdout contract changes.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      (out + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(out)
    spark.stop()
  }
}
