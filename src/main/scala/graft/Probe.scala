package graft

import org.apache.spark.sql.SparkSession

/** Dev-only timing/plan probe (not part of the driver contract).
  * Usage: Probe <queryKey> [sfDir] — times one query (twice) and prints
  * its formatted physical plan. */
object Probe {
  def main(args: Array[String]): Unit = {
    val key = if (args.nonEmpty) args(0) else "agg_pricing_summary"
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val t00 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def tick(label: String, t0: Long): Long = {
      val t = System.nanoTime(); println(f"[probe] $label: ${(t - t0) / 1e9}%.2f s"); t
    }
    var t = tick("session", t00)
    sys.env.get("PROBE_CONF").foreach { kvs =>
      kvs.split(";").foreach { kv =>
        val Array(k2, v2) = kv.split("=", 2); spark.conf.set(k2, v2)
      }
    }
    if (key == "micro_inter") {
      // raw throughput of inter_count_sorted: 4M pairs of 54-ish tokens
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.functions.GraftFunctions.register(spark)
      import org.apache.spark.sql.functions._
      // pure-JVM eval-path timing first (no Spark involved)
      {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.catalyst.util.GenericArrayData
        import org.apache.spark.sql.types.{ArrayType, StringType}
        import org.apache.spark.unsafe.types.UTF8String
        def arr(seed: Int) = new GenericArrayData(
          (0 until 54).map(i => UTF8String.fromString(f"tok_${(i * 7 + seed) % 97}%03d"))
            .sortBy(_.toString).toArray)
        val e = graft.functions.InterCountSorted(
          Literal.create(arr(0), ArrayType(StringType)),
          Literal.create(arr(13), ArrayType(StringType)))
        var s0 = 0L
        val t0 = System.nanoTime()
        var k = 0
        while (k < 1000000) { s0 += e.eval(null).asInstanceOf[Long]; k += 1 }
        println(f"[probe] 1M pure evals: ${(System.nanoTime() - t0) / 1e9}%.2f s (sum $s0)")
      }
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), expr("array_sort(array_distinct(split(text, ' ')))").as("ts"))
        .limit(2000).cache()
      docs.count() // force materialization
      val aa = docs.repartition(32).select(col("doc_id").as("ia"), col("ts").as("ta"))
      val bb = docs.select(col("doc_id").as("ib"), col("ts").as("tb"))
      t = tick("build", t)
      val q = aa.crossJoin(broadcast(bb))
        .select(expr("inter_count_sorted(ta, tb)").as("x"))
        .agg(sum(col("x")))
      println(q.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode).take(12000))
      val n = q.collect()(0)
      t = tick("4M inter_count_sorted evals", t)
      println("[probe] sum: " + n)
      spark.stop(); return
    }
    if (key == "micro_join") {
      graft.functions.GraftFunctions.register(spark)
      import org.apache.spark.sql.functions._
      val sets = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), expr("array_sort(array_distinct(split(text, ' ')))").as("ts"))
        .persist()
      sets.count()
      val aa = sets.repartition(32, col("doc_id"))
        .select(col("doc_id").as("doc_a"), col("ts").as("ts_a"))
      val bb = sets.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"))
      t = tick("build", t)
      println("[probe] idcond pairs: " +
        aa.join(broadcast(bb), col("doc_a") < col("doc_b")).count())
      t = tick("join id-cond only", t)
      println("[probe] project-filter pairs: " +
        aa.crossJoin(broadcast(bb))
          .where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            expr("inter_count_sorted(ts_a, ts_b)").as("n_inter"),
            (size(col("ts_a")) + size(col("ts_b"))).cast("bigint").as("sz"))
          .where(lit(graft.ops.Llm.TauDenom) * col("n_inter") >= lit(graft.ops.Llm.TauNumer) * (col("sz") - col("n_inter")))
          .count())
      t = tick("crossJoin + where", t)
      println("[probe] cond pairs: " +
        aa.join(broadcast(bb), col("doc_a") < col("doc_b")
          && lit(graft.ops.Llm.TauDenom) * expr("inter_count_sorted(ts_a, ts_b)")
             >= lit(graft.ops.Llm.TauNumer) * ((size(col("ts_a")) + size(col("ts_b"))).cast("bigint")
                - expr("inter_count_sorted(ts_a, ts_b)"))).count())
      t = tick("join full-cond", t)
      spark.stop(); return
    }
    if (key == "micro_overhead") {
      // decompose the ~0.15-0.3 s floor that 24 cheap bench queries pay:
      // base job dispatch, plan build/analysis, execution, clearCache
      import org.apache.spark.sql.functions.col
      Tables.lineitem(spark, sf).count()
      t = tick("warm lineitem", t)
      (1 to 3).foreach { _ => spark.range(32).repartition(32).count() }
      t = tick("3x empty 32-part job (dispatch floor)", t)
      (1 to 5).foreach { i =>
        var tq = System.nanoTime()
        val df = SparkEntry.queries("scan_filter_pushdown")(spark, sf)
        tq = tick(s"[$i] build", tq)
        graft.ops.Q.withCached(df)(_.count())
        tq = tick(s"[$i] execute", tq)
        spark.catalog.clearCache()
        tq = tick(s"[$i] clearCache", tq)
      }
      (1 to 5).foreach { i =>
        var tq = System.nanoTime()
        graft.ops.Q.withCached(
          SparkEntry.queries("agg_histogram")(spark, sf))(_.count())
        tq = tick(s"[$i] agg_histogram e2e", tq)
      }
      locally {
        var tq = System.nanoTime()
        (1 to 10).foreach(_ => spark.read.parquet(s"$sf/lineitem.parquet"))
        tq = tick("10x spark.read.parquet(lineitem) plan-only", tq)
        (1 to 10).foreach(_ => Tables.lineitem(spark, sf).where(col("l_orderkey") < 0).count())
        tq = tick("10x fresh-read trivial count", tq)
        val memo = Tables.lineitem(spark, sf)
        (1 to 10).foreach(_ => memo.where(col("l_orderkey") < 0).count())
        tq = tick("10x memoized-frame trivial count", tq)
      }
      spark.stop(); return
    }
    if (key == "micro_shape") {
      // which build-side shape does DedupOps.verifySide pick for the
      // verify joins at this corpus size? (sf arg = fixture dir)
      import org.apache.spark.sql.functions.{col, expr}
      graft.functions.GraftFunctions.register(spark)
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      val sets = docs.select(col("doc_id"),
        expr("array_sort(array_distinct(split(text, ' ')))").as("ts"))
      val est = sets.queryExecution.optimizedPlan.stats.sizeInBytes
      val plan = graft.ops.DedupOps.lshVerifiedPairs(docs)
        .queryExecution.executedPlan.toString
      val bhj = plan.split("\n").count(_.contains("BroadcastHashJoin"))
      val shj = plan.split("\n").count(_.contains("ShuffledHashJoin"))
      println(s"[probe] $sf sets-estimate=$est bytes threshold=" +
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold") +
        s" BroadcastHashJoin=$bhj ShuffledHashJoin=$shj")
      spark.stop(); return
    }
    if (key == "micro_cc2") {
      // r6 shape: contraction -> LSH pairs -> CC over paired reps only,
      // with the tick exposing per-contraction-level cost
      graft.functions.GraftFunctions.register(spark)
      import org.apache.spark.sql.functions._
      Tables.documents(spark, sf).count()
      t = tick("warm docs", t)
      var tv = System.nanoTime()
      val (tagged, repDocs) =
        graft.ops.DedupOps.tsContraction(Tables.documents(spark, sf))
      // materialize the LSH pair plan ONCE and feed the same frame to
      // both the CC loop and componentLabels — evaluating
      // lshVerifiedPairs twice made the "cc total" tick include a
      // second candidate+verify pass and misattributed per-phase cost
      // (r5 advice; the very double-evaluation
      // connectedComponentsOfEdges' scaladoc warns about)
      val repPairs = graft.ops.DedupOps.lshVerifiedPairs(repDocs).localCheckpoint()
      tv = tick("lsh pairs (materialized once)", tv)
      val cc = graft.ops.DedupOps.connectedComponentsOfEdges(
        repPairs, tag => { tv = tick(tag, tv) })
      println("[probe] cc rows (paired reps): " + cc.count())
      tv = tick("cc count", tv)
      val labels = graft.ops.DedupOps.componentLabels(tagged, repPairs)
      println("[probe] label rows: " + labels.count())
      tick("cc total", t)
      spark.stop(); return
    }
    if (key == "micro_cc") {
      // per-phase cost of llm_dedup_clusters: pair build, then the real
      // connectedComponents contraction with its per-level tick callback
      graft.functions.GraftFunctions.register(spark)
      import org.apache.spark.sql.functions._
      Tables.documents(spark, sf).count()
      t = tick("warm docs", t)
      var tv = System.nanoTime()
      val labels = graft.ops.DedupOps.connectedComponents(
        Tables.documents(spark, sf).select(col("doc_id")),
        graft.ops.DedupOps.contractedNearDupEdges(Tables.documents(spark, sf),
          graft.ops.Llm.jaccardPairs(_).select(col("doc_a"), col("doc_b"))),
        tag => { tv = tick(tag, tv) })
      println("[probe] label rows: " + labels.count())
      tick("cc total", t)
      spark.stop(); return
    }
    if (key.startsWith("plan:")) {
      // build-only formatted-plan dump (no timed run) for the committed
      // plans/<round> evidence files; build-time training actions still
      // run (they are part of building the frame)
      val k = key.stripPrefix("plan:")
      val df = SparkEntry.queries(k)(spark, sf)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      spark.stop(); return
    }
    if (key.startsWith("jobs:")) {
      // per-stage breakdown of one query: warm run first, then an
      // instrumented run that prints every stage's wall time, task-time
      // sum, task count and shuffle bytes — the UI-less stand-in for
      // the Stages tab (guide §7.1)
      val k = key.stripPrefix("jobs:")
      graft.ops.Q.withCached(SparkEntry.queries(k)(spark, sf))(_.count())
      spark.catalog.clearCache()
      t = tick("warm run", t)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
          val m = si.taskMetrics
          stages.add(f"[stage ${si.stageId}%4d] wall=${wall}%5d ms tasks=${si.numTasks}%3d " +
            f"taskTime=${m.executorRunTime}%6d ms shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%7d KB " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%7d KB in=${m.inputMetrics.bytesRead / 1024}%7d KB " +
            si.name.take(90))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.ops.Q.withCached(SparkEntry.queries(k)(spark, sf))(_.count())
      println(f"[probe] instrumented run: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the listener bus drain
      stages.forEach(s => println(s))
      spark.catalog.clearCache()
      spark.stop(); return
    }
    val df = SparkEntry.queries(key)(spark, sf)
    t = tick("build", t)
    println("[probe] rows: " + df.count())
    t = tick("first run", t)
    SparkEntry.queries(key)(spark, sf).count()
    t = tick("second run", t)
    df.explain("formatted")
    spark.stop()
  }
}
