package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness (r5 verdict item 2): measure the near-dup
  * family at 1× and 10× the fixture corpus and commit the curve, so the
  * "banded/LSH paths scale near-linearly, all-pairs quadratically"
  * claim is a measurement rather than shape reasoning.
  *
  * Corpus synthesis — n× the fixture with the SAME duplication
  * structure: replica k of the sf0.1 documents table keeps every doc,
  * offsets doc_id by k·1e6, and suffixes every token with "_k". Jaccard
  * similarity is invariant under any injective token remap, so each
  * replica reproduces the fixture's internal near-dup structure
  * exactly, while distinct replicas share no tokens (cross-replica
  * Jaccard = 0). Hence the TRUE pair set grows exactly linearly in n —
  * the right fixture for a scaling curve: an algorithm whose cost
  * follows the true structure should grow ~n, an all-pairs algorithm
  * must still consider n² candidate pairs. Replica 0 is also suffixed,
  * so per-token bytes are identical at every multiplier.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<fixture dir> runMain graft.ScaleBench`
  * Env knobs: SPARK_GRAFT_SF_DIR (base fixture), SPARK_GRAFT_CPUS
  * (local cores, default 32), SPARK_GRAFT_SCALE_MULTS (default "1,10"),
  * SPARK_GRAFT_SCALE_PASSES (default 2, min-of-passes like Bench),
  * SPARK_GRAFT_SCALE_ONLY (comma-filter on query keys).
  * Writes SCALING_r13.json (per-query seconds and output rows per
  * multiplier, plus the x10/x1 ratio).
  *
  * Two curve modes run INSTEAD of the query curve, each for a decision
  * still open: SPARK_GRAFT_SCALE_PARTITION=1 writes PARTITION_r13.json
  * and SPARK_GRAFT_SCALE_STREAMBACKLOG=1 writes STREAMBACKLOG_r13.json.
  * The other committed `*_rNN.json` curves are history, with no mode.
  */
object ScaleBench {

  /** The two all-pairs baselines run UNSAMPLED here (the registry
    * scopes them to fixed-count prefixes — r7 verdict item 1 — but the
    * scaling curve's whole point is the unsampled quadratic-vs-linear
    * contrast, so the curve calls the full-corpus engines directly). */
  private val unsampledBaselines: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_jaccard_near_dup" -> ((s, d) =>
      graft.ops.Llm.jaccardPairs(Tables.documents(s, d))),
    "llm_simhash_dedup" -> ((s, d) =>
      graft.ops.DedupOps.simhashAllPairs(Tables.documents(s, d))),
    // the r8 rewrite op's engine (the registered row's +1e6 twin slice
    // would collide with the replica offsets, so the curve runs the
    // twin-free core): one hash-keyed corpus shuffle + one doc_id
    // re-group — near-LINEAR is the claim
    "llm_line_dedup" -> ((s, d) =>
      graft.ops.Rewrite.lineDedup(
        Tables.documents(s, d).select("doc_id", "text"))))

  /** The REGISTERED (fixed-count-bounded) baseline forms, measured on
    * the same growing corpora (r7 verdict item 1's done-condition): the
    * doc_id/vec_id < SampleBound scan predicate pushes down, so their
    * cost must stay FLAT — O(bound²) work over a bound-size input — as
    * the corpus grows, where the r7 %-sampled forms were still
    * quadratic in corpus size (46× at 10× in SCALING_r07). The `@bound`
    * suffix keeps them from shadowing the unsampled engines above. */
  private val registeredForms: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_jaccard_near_dup@bound" -> SparkEntry.queries("llm_jaccard_near_dup"),
    "llm_simhash_dedup@bound" -> SparkEntry.queries("llm_simhash_dedup"),
    "llm_cosine_near_dup@bound" -> SparkEntry.queries("llm_cosine_near_dup"),
    // r8: the bounded-prefix PageRank — edge build + 3 iterations all
    // confined to doc_id < SampleBound, so FLAT as the corpus grows
    "graph_pagerank@bound" -> SparkEntry.queries("graph_pagerank"))

  private val queryKeys = Seq(
    "llm_jaccard_near_dup", // all-pairs baseline (quadratic by design)
    "llm_simhash_dedup",    // all-pairs simhash baseline (quadratic)
    "llm_jaccard_near_dup@bound", // registered fixed-count forms (r8):
    "llm_simhash_dedup@bound",    //   must be FLAT as the corpus grows
    "llm_cosine_near_dup@bound",  //   (pushed-down prefix bound)
    "graph_pagerank@bound", // bounded-prefix PageRank (r8) — flat
    "llm_line_dedup",       // line dedup+reconstruct engine (r8) — ~linear
    "llm_minhash_lsh",      // banded scale path
    "llm_simhash_banded",   // banded scale path
    "llm_dedup_clusters",   // contraction + confined CC loop
    "llm_corpus_clean",     // composed pipeline
    "llm_cluster_best",     // components + quality-argmax keep policy (r6)
    "llm_dedup_incremental") // LSH shard-ingest path (r6; shard AND corpus
                             // both grow n× here — near-linear is the claim)

  def synthesize(spark: SparkSession, baseDir: String, mult: Int,
      outDir: String): Unit = {
    val docs = Tables.documents(spark, baseDir)
    val replicas = (0 until mult).map { k =>
      docs.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        concat_ws(" ", expr(s"transform(split(text, ' '), t -> concat(t, '_$k'))"))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicas.reduce(_.unionByName(_))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** n× the fixture embeddings for the registered cosine baseline's
    * flatness point: replica k offsets vec_id by k·100000 — STRICTLY
    * below the +1000000 synthetic-twin offset, so embWithTwins' id
    * guard holds (and the bounded query's twins still come only from
    * the replica-0 prefix it scans). Values are unchanged: the
    * registered form reads only the pushed-down vec_id < SampleBound
    * prefix + its twins, so replica content is inert by construction —
    * the point of the measurement is that corpus GROWTH stays outside
    * the plan. */
  def synthesizeEmb(spark: SparkSession, baseDir: String, mult: Int,
      outDir: String): Unit = {
    require(mult <= 10, s"vec_id offset k*100000 needs mult <= 10, got $mult")
    val emb = Tables.embeddings(spark, baseDir)
    (0 until mult).map { k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * 100000L))
    }.reduce(_.unionByName(_))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** PARTITION-PRUNING economics (r10): the table grows n× by adding
    * YEARS (replica k shifts o_year by +100k — new partitions of
    * constant size, the time-partitioned ingest shape), and a fixed
    * one-year query runs via [[Txn.readSkipping]] (opens 1
    * partition dir) vs the full-scan filter. The claim: partition-read
    * cost tracks PARTITION size (flat as the table grows) while the
    * scan is linear — the one skipping mechanism that needs no sidecar
    * because the directory listing is the index. Writes
    * PARTITION_r13.json. Enabled with SPARK_GRAFT_SCALE_PARTITION=1. */
  private def partitionCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("o_year", col("o_year") + lit(k * 100L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var buildMin = Double.MaxValue
      var pruneMin = Double.MaxValue
      var scanMin = Double.MaxValue
      var kept = -1
      var total = -1
      var nHits = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root = s"/tmp/graft_txnpart_x$m"
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        val t0 = System.nanoTime()
        Txn.commit(base, root, partitionBy = Some("o_year"))
        val t1 = System.nanoTime()
        val year = Seq(Txn.PartProbe("o_year", Seq(1995L)))
        val pp = Txn.partitionCensus(spark, root, year)
        kept = pp._1; total = pp._2
        nHits = Txn.readSkipping(spark, root, year).count()
        val t2 = System.nanoTime()
        Txn.read(spark, root).where(col("o_year") === 1995L).count()
        val t3 = System.nanoTime()
        buildMin = math.min(buildMin, (t1 - t0) / 1e9)
        pruneMin = math.min(pruneMin, (t2 - t1) / 1e9)
        scanMin = math.min(scanMin, (t3 - t2) / 1e9)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
      }
      System.err.println(f"partition x$m (dirs $kept/$total, hits=$nHits): " +
        f"build $buildMin%.2f s, pruned $pruneMin%.2f s, scan $scanMin%.2f s")
      (m, kept, total, nHits, buildMin, pruneMin, scanMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, k, t, h, b, p, sc) =>
      s""""x$m":{"dirs_kept":$k,"dirs_total":$t,"year_rows":$h,"build_sec":${f2(b)},"pruned_read_sec":${f2(p)},"full_scan_sec":${f2(sc)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"table grown nx by ADDING years (new partitions of constant size -- the time-partitioned ingest shape); fixed one-year query: readSkipping opens dirs_kept of dirs_total partition dirs straight off the directory listing (no sidecar). The claim is pruned_read_sec flat in table size (tracks the partition, 1/nx of the table) vs the full scan linear","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("PARTITION_r13.json"), s.getBytes)
    println(s)
  }

  /** STREAMING-SOURCE BACKLOG drain (r13, r12 verdict item 1): a graft
    * table with an m-scaled version backlog (and an m-scaled initial
    * snapshot) drains through a RATE-LIMITED stream
    * (`maxVersionsPerTrigger=1`, `maxFilesPerTrigger=4`) vs the r12
    * unlimited source. The claim the curve gates: the bounded stream's
    * MAX micro-batch stays FLAT (one version's rows, resp. 4 files'
    * rows) while the backlog/snapshot grows m× — every batch is
    * individually checkpointed, so a failure mid-drain loses one
    * bounded batch, not the whole 100 TB onboarding; the unlimited
    * form's single batch grows linearly (reported, not detonated past
    * x10). Writes STREAMBACKLOG_r13.json. Enabled with
    * SPARK_GRAFT_SCALE_STREAMBACKLOG=1. */
  private def streamBacklogCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("v"))
      .limit(20000).cache()
    shard.count()
    // per-batch input sizes via the listener — recentProgress caps out
    val batchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batchRows.synchronized {
          if (e.progress.numInputRows > 0) batchRows += e.progress.numInputRows
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    def drain(root: String, ckpt: String, out: String,
        opts: Map[String, String]): (Long, Int, Double) = {
      batchRows.synchronized(batchRows.clear())
      val t0 = System.nanoTime()
      val r = opts.foldLeft(spark.readStream.format("graft")) {
        case (b, (k, v)) => b.option(k, v)
      }
      val q = r.load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = batchRows.synchronized(batchRows.toSeq)
      (if (rows.isEmpty) 0L else rows.max, rows.size, wall)
    }
    val unit = shard.limit(5000).cache(); unit.count()
    val bounded = Map(
      "maxFilesPerTrigger" -> "4", "maxVersionsPerTrigger" -> "1")
    val out = mults.map { m =>
      val root = s"/tmp/graft_sbk_x$m/t"
      val f = new org.apache.hadoop.fs.Path(s"/tmp/graft_sbk_x$m")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(s"/tmp/graft_sbk_x$m"), true)
      // initial snapshot: 4m uniform ~5000-row files
      Txn.commit((0 until m).map(k => unit.select(
        (col("id") + lit(k * 1000000L)).as("id"), col("v")))
        .reduce(_.unionByName(_)).repartition(4 * m), root)
      var snapMax = Long.MaxValue; var snapBatches = 0
      var snapWall = Double.MaxValue
      var catchMax = Long.MaxValue; var catchBatches = 0
      var catchWall = Double.MaxValue
      var unlimMax = 0L; var unlimWall = Double.MaxValue
      (1 to passes).foreach { p =>
        // phase 1: the bounded INITIAL SNAPSHOT drain (fresh checkpoint)
        val ckpt = java.nio.file.Files.createTempDirectory("sbk_ck").toString
        // the file sink pins its _spark_metadata to the checkpoint: the
        // catch-up drain must reuse the SAME output dir
        val outDir = java.nio.file.Files.createTempDirectory("sbk_out").toString
        val (sm, sb, sw) = drain(root, ckpt, outDir, bounded)
        snapMax = math.min(snapMax, sm); snapBatches = sb
        snapWall = math.min(snapWall, sw)
        // phase 2: a 3m-version backlog lands while the stream is DOWN,
        // then the SAME checkpoint catches up one version per batch
        if (p == 1) (1 to 3 * m).foreach { k =>
          Txn.commitAppend(unit.select(
            (col("id") + lit((1000 + k) * 1000000L)).as("id"), col("v"))
            .coalesce(1), root)
        }
        val (cm, cb, cw) = drain(root, ckpt, outDir, bounded)
        catchMax = math.min(catchMax, cm); catchBatches = cb
        catchWall = math.min(catchWall, cw)
        // the r12 shape: everything in ONE unbounded batch
        val ckptU = java.nio.file.Files.createTempDirectory("sbk_cku").toString
        val outU = java.nio.file.Files.createTempDirectory("sbk_outu").toString
        val (um, _, uw) = drain(root, ckptU, outU, Map.empty)
        unlimMax = math.max(unlimMax, um); unlimWall = math.min(unlimWall, uw)
      }
      System.err.println(f"streambacklog x$m: snapshot max-batch $snapMax " +
        f"rows/$snapBatches batches ($snapWall%.2f s); catch-up max-batch " +
        f"$catchMax rows/$catchBatches batches ($catchWall%.2f s); " +
        f"unlimited max-batch $unlimMax rows ($unlimWall%.2f s)")
      (m, snapMax, snapBatches, snapWall, catchMax, catchBatches, catchWall,
        unlimMax, unlimWall)
    }
    spark.streams.removeListener(listener)
    shard.unpersist(); unit.unpersist()
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, sm, sb, sw, cm, cb, cw, um, uw) =>
      s""""x$m":{"snapshot_max_batch_rows":$sm,"snapshot_batches":$sb,"snapshot_wall_sec":${f2(sw)},"catchup_max_batch_rows":$cm,"catchup_batches":$cb,"catchup_wall_sec":${f2(cw)},"unlimited_max_batch_rows":$um,"unlimited_wall_sec":${f2(uw)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"graft streaming source rate limiting (r13): table = 4m uniform ~5000-row files, then a 3m-version backlog lands while the stream is DOWN. snapshot = the bounded initial-snapshot drain from a fresh checkpoint (maxFilesPerTrigger=4): max micro-batch FLAT at ~4 files' rows while the snapshot grows m-fold, every chunk checkpointed via sub-version offsets; catchup = the SAME checkpoint resuming over the backlog (maxVersionsPerTrigger=1): max batch FLAT at one version's rows while the backlog grows m-fold; unlimited = the r12 behavior, ONE batch of everything, growing linearly - the shape that loses all progress on failure. Local walls favor fewer micro-batch roundtrips at page-cached scale; the claim is the bounded max-batch row counts","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("STREAMBACKLOG_r13.json"), s.getBytes)
    println(s)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val keys = queryKeys.filter(k => only.forall(_.contains(k)))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    if (sys.env.get("SPARK_GRAFT_SCALE_PARTITION").contains("1")) {
      partitionCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_STREAMBACKLOG").contains("1")) {
      streamBacklogCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    val dirs = mults.map { m =>
      val d = s"/tmp/graft_scale_x$m"
      synthesize(spark, baseDir, m, d)
      // embeddings only feed the cosine @bound key, whose vec_id offset
      // leaves headroom for at most 10 replicas
      if (m <= 10) synthesizeEmb(spark, baseDir, m, d)
      m -> d
    }
    val docCounts = dirs.map { case (m, d) =>
      m -> spark.read.parquet(s"$d/documents.parquet").count() // also warms FS cache
    }

    def once(name: String, dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      try {
        val build = unsampledBaselines.getOrElse(name,
          registeredForms.getOrElse(name, SparkEntry.queries(name)))
        val n = graft.ops.Q.withCached(build(spark, dir))(_.count())
        ((System.nanoTime() - t0) / 1e9, n)
      } catch { case e: Throwable =>
        System.err.println(s"FAIL $name $dir: $e"); (-1.0, -1L)
      } finally spark.catalog.clearCache()
    }

    // pass structure mirrors Bench: min over whole-suite passes, so two
    // samples of one query never share a host steal burst
    val secs = scala.collection.mutable.Map.empty[(String, Int), Double]
    val rows = scala.collection.mutable.Map.empty[(String, Int), Long]
    (1 to passes).foreach { p =>
      dirs.foreach { case (m, d) =>
        keys.foreach { k =>
          val (t, n) = once(k, d)
          System.err.println(f"pass $p x$m $k%-22s $t%8.2f s  ($n rows)")
          if (t >= 0) {
            val cur = secs.getOrElse((k, m), Double.MaxValue)
            secs((k, m)) = math.min(cur, t)
            rows((k, m)) = n
          }
        }
      }
    }
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val lo = mults.min
    val hi = mults.max
    val qJson = keys.map { k =>
      val per = mults.map(m => s""""x$m":{"sec":${f(secs.getOrElse((k, m), -1.0))},"rows":${rows.getOrElse((k, m), -1L)}}""").mkString(",")
      val ratio =
        if (secs.contains((k, lo)) && secs.contains((k, hi)) && secs((k, lo)) > 0)
          f(secs((k, hi)) / secs((k, lo)))
        else "-1"
      s""""$k":{$per,"t_x$hi/t_x$lo":$ratio}"""
    }.mkString("{", ",", "}")
    val docsJson = docCounts
      .map { case (m, n) => s""""x$m":$n""" }.mkString("{", ",", "}")
    val out =
      s"""{"base":"$baseDir","multipliers":[${mults.mkString(",")}],"passes":$passes,"docs":$docsJson,"queries":$qJson}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALING_r13.json"), out.getBytes)
    println(out)
    spark.stop()
  }
}
