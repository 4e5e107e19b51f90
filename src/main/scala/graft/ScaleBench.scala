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
  * Curve modes: SPARK_GRAFT_SCALE_<MODE>=1 runs one point INSTEAD of
  * the query curve and writes <MODE>_r13.json, for MODE in STOPGRAM,
  * CELEBRITY, TXNAPPEND, TXNDELETE, UPSERT, BLOOM, PARTITION, PARTSKIP,
  * CLONE, SQLMERGE, STREAMBACKLOG, SQLSKIP, OVERWRITE and INGEST.
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
      outDir: String, stopGram: Boolean = false): Unit = {
    val docs0 = Tables.documents(spark, baseDir)
    // stop-gram mode (r7 verdict item 2's done-condition): plant one
    // bigram shared by EVERY doc before the per-replica token suffixing,
    // so each replica carries an every-doc gram — f ≈ corpus/3 docs per
    // hot key after llm_ngram_jaccard's %3 sample, the single-key f²
    // shuffle bomb the NgramDfCap ceiling exists to drop
    val docs =
      if (stopGram) docs0.withColumn("text", concat(col("text"), lit(" zzof zzthe")))
      else docs0
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

  /** Fixed-shard ingest probe (r6; r7 adds the persistence leg): the
    * amortization claim behind `buildNearDupIndex`/`novelAgainst` is
    * "per-shard cost scales with the SHARD, not the corpus" — so
    * measure a FIXED shard (the base fixture's doc_id % 10 slice,
    * tokens suffixed `_0` so it matches replica 0 of the synthesized
    * corpora) probing corpora of growing size. Since r7 the curve runs
    * the real cross-job shape end-to-end: build the index, WRITE it to
    * parquet, RELOAD it, and probe from the RELOADED index — build and
    * write are the amortized once-per-corpus-version costs, probe (from
    * the reloaded frames) is the recurring per-shard cost. Writes
    * INGEST_r13.json. Enabled with SPARK_GRAFT_SCALE_INGEST=1 (runs
    * INSTEAD of the query curve). */
  private def ingestCurve(spark: SparkSession, dirs: Seq[(Int, String)],
      passes: Int): Unit = {
    import graft.ops.DedupOps
    val shard = spark.read.parquet(s"${dirs.head._2}/documents.parquet")
      .where(col("doc_id") % 10 === 0 && col("doc_id") < 1000000L)
    val nShard = shard.count()
    val out = dirs.map { case (m, d) =>
      val corpus = spark.read.parquet(s"$d/documents.parquet")
        .where(col("doc_id") % 10 =!= 0)
      var buildMin = Double.MaxValue
      var writeMin = Double.MaxValue
      var probeMin = Double.MaxValue
      var novel = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val idx = DedupOps.buildNearDupIndex(corpus)
        // force BOTH persisted frames — the one-time cost a real
        // pipeline pays once per corpus version
        idx.refSets.count(); idx.bands.count(); idx.members.count()
        val t1 = System.nanoTime()
        val ipath = s"$d/neardup_index"
        idx.write(ipath)
        val t2 = System.nanoTime()
        val loaded = DedupOps.NearDupIndex.load(spark, ipath)
        novel = DedupOps.novelAgainst(shard, loaded).count()
        val t3 = System.nanoTime()
        buildMin = math.min(buildMin, (t1 - t0) / 1e9)
        writeMin = math.min(writeMin, (t2 - t1) / 1e9)
        probeMin = math.min(probeMin, (t3 - t2) / 1e9)
        idx.unpersist(); loaded.unpersist()
      }
      System.err.println(f"ingest x$m: build $buildMin%.2f s, write $writeMin%.2f s, " +
        f"probe-after-reload $probeMin%.2f s, novel $novel")
      (m, buildMin, writeMin, probeMin, novel)
    }
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, b, w, p, n) =>
      s""""x$m":{"build_sec":${f(b)},"write_sec":${f(w)},"probe_sec":${f(p)},"novel_rows":$n}"""
    }.mkString(",")
    val s =
      s"""{"shard_docs":$nShard,"passes":$passes,"note":"fixed shard vs growing corpus; build+write are the amortized once-per-corpus-version costs, probe runs against the RELOADED parquet index (r7 persistence leg)","corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("INGEST_r13.json"), s.getBytes)
    println(s)
  }

  /** Stop-gram bound point (r7 verdict item 2's done-condition): run
    * the REGISTERED llm_ngram_jaccard on corpora where every doc shares
    * a planted bigram (per replica — token suffixing keeps replicas
    * disjoint), at 1× and the max multiplier. Without the NgramDfCap
    * ceiling the planted gram alone contributes f(f-1)/2 candidate
    * pairs ON ONE JOIN KEY (f ≈ corpus/3 after the %3 sample); with it
    * the gram is dropped before the join. The artifact records both the
    * measured capped runtime AND the analytic uncapped single-key pair
    * count it avoided — the bomb is reported, not detonated. */
  private def stopGramCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.DedupOps
    val out = mults.map { m =>
      val d = s"/tmp/graft_scale_sg_x$m"
      synthesize(spark, baseDir, m, d, stopGram = true)
      // gram df census over the SAME %3-sampled distinct gram sets the
      // query builds — uncapped candidate pairs = Σ f(f-1)/2
      val bg = Tables.documents(spark, d)
        .where(col("doc_id") % 3 === 0)
        .withColumn("toks", split(col("text"), " "))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
            "(x, y) -> concat(x, ' ', y))")).as("gram"))
        .distinct()
        .groupBy("gram").agg(count(lit(1)).as("f"))
      val Seq(maxDf, uncappedPairs, cappedPairs) = bg.agg(
          max(col("f")),
          sum(expr("f * (f - 1) div 2")),
          sum(expr(s"if(f <= ${DedupOps.NgramDfCap}, f * (f - 1) div 2, 0L)")))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
      var secMin = Double.MaxValue
      var nRows = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        nRows = graft.ops.Q.withCached(
          SparkEntry.queries("llm_ngram_jaccard")(spark, d))(_.count())
        secMin = math.min(secMin, (System.nanoTime() - t0) / 1e9)
      }
      System.err.println(f"stopgram x$m: $secMin%.2f s, $nRows rows, " +
        f"max df $maxDf, uncapped candidate pairs $uncappedPairs -> capped $cappedPairs")
      (m, secMin, nRows, maxDf, uncappedPairs, cappedPairs)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, s, n, df, u, c) =>
      s""""x$m":{"sec":${f2(s)},"rows":$n,"max_gram_df":$df,"uncapped_cand_pairs":$u,"capped_cand_pairs":$c}"""
    }.mkString(",")
    val s =
      s"""{"note":"every doc carries a planted stop-bigram; registered llm_ngram_jaccard timed WITH the df cap ${graft.ops.DedupOps.NgramDfCap}; uncapped_cand_pairs is the analytic single-key bomb the cap removed","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("STOPGRAM_r13.json"), s.getBytes)
    println(s)
  }

  /** Celebrity-vertex point (r9, graph_triangles' skew claim): a star
    * graph — one hub adjacent to every spoke, plus a spoke path so real
    * triangles (hub, i, i+1) exist — is the adversarial input for
    * triangle counting: UNORIENTED wedge enumeration emits
    * d(d-1)/2 ≈ n²/2 join rows from the hub alone (all hitting one
    * join task — the same unsplittable hot-key class as the boilerplate
    * line), while the degree-ordered orientation points every hub edge
    * INTO the hub, leaving ≤ 1 oriented wedge per spoke — O(n) total.
    * The naive form is timed only at the smallest multiplier (the n²
    * wedge set is the bomb; at the top multiplier it is reported
    * analytically, not detonated — the stop-gram protocol) and its
    * output is asserted ≡ the oriented engine's there. */
  private def celebrityCurve(spark: SparkSession, mults: Seq[Int],
      passes: Int): Unit = {
    import graft.ops.Graph
    val baseN = 5000L
    val out = mults.map { m =>
      val n = baseN * m
      val hub = spark.range(1, n).select(lit(0L).as("src"), col("id").as("dst"))
      val path = spark.range(1, n - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val half = hub.unionByName(path)
      // analytic wedge ledgers from the degree distribution
      val deg = half.select(col("src").as("id"))
        .unionByName(half.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val naiveWedges = deg.agg(sum(expr("d * (d - 1) div 2")))
        .head().getLong(0)
      var orientedMin = Double.MaxValue
      var naiveMin = -1.0
      var nTri = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        nTri = graft.ops.Q.withCached(Graph.triangleCounts(half))(
          _.agg(sum("n_tri")).head().getLong(0)) / 3
        orientedMin = math.min(orientedMin, (System.nanoTime() - t0) / 1e9)
      }
      if (m == mults.min) {
        (1 to passes).foreach { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val naiveTri = graft.ops.Q.withCached(
            Graph.triangleCountsNaive(half))(
            _.agg(sum("n_tri")).head().getLong(0)) / 3
          val t = (System.nanoTime() - t0) / 1e9
          naiveMin = if (naiveMin < 0) t else math.min(naiveMin, t)
          require(naiveTri == nTri,
            s"naive ($naiveTri) and oriented ($nTri) triangle totals diverge")
        }
      }
      System.err.println(f"celebrity x$m (n=$n): oriented $orientedMin%.2f s, " +
        f"naive ${naiveMin}%.2f s, triangles $nTri, naive wedges $naiveWedges")
      (m, n, orientedMin, naiveMin, nTri, naiveWedges)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, n, o, nv, t, w) =>
      s""""x$m":{"vertices":$n,"oriented_sec":${f2(o)},"naive_sec":${f2(nv)},"triangles":$t,"naive_wedge_rows":$w}"""
    }.mkString(",")
    val s =
      s"""{"note":"star graph (one celebrity hub + spoke path): unoriented wedge enumeration emits d(d-1)/2 ~ n^2/2 join rows from the hub on one key; degree-ordered orientation points every hub edge INTO the hub (<= 1 oriented wedge per spoke, O(n) total). naive timed only at the smallest multiplier (outputs asserted equal there); naive_sec -1.00 = reported analytically via naive_wedge_rows, not detonated","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("CELEBRITY_r13.json"), s.getBytes)
    println(s)
  }

  /** Txn append-vs-rewrite point (r9, commitAppend's cost claim): a
    * fixed shard lands in a table of growing size, once as
    * [[graft.ops.Txn.commitAppend]] (manifest extension — cost must
    * stay FLAT, O(shard)) and once as a full-snapshot
    * [[graft.ops.Txn.commit]] of the grown table (cost must grow
    * LINEARLY, O(table)). The gap at the top multiplier is the
    * difference between ingesting into a 100 TB table in seconds and
    * rewriting 100 TB per arriving shard. Also times the CDC read of
    * the append step (file-level fast path — flat) at each scale. */
  /** SQL MERGE economics (r12, r11 verdict item 2's done-condition): a
    * FIXED merge batch (every 97th customer updated + 200 new keys)
    * into a table grown n×, once against a DECLARED-KEY table (delta
    * row-level path: tombstone+rows manifest extension) and once
    * against a keyless one (group-based COW: full-table rewrite).
    * Also times the post-merge full read on the keyed table — the
    * anti-join tax a delta chain accrues until compaction. Expected
    * shape: delta ~flat in table size (the batch is fixed), COW linear
    * (it rewrites the table); at 100 TB that is the difference between
    * landing a CDC batch in seconds and rewriting the warehouse.
    * Writes SQLMERGE_r13.json. Enabled with SPARK_GRAFT_SCALE_SQLMERGE=1. */
  private def sqlMergeCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.{GraftCatalog, Txn}
    val shard = spark.read.parquet(s"$baseDir/customer.parquet")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
    val nShard = shard.count()
    val out = mults.map { m =>
      // replica keys SHIFTED so the fixed merge batch matches exactly
      // once regardless of the multiplier (the scale-curve trap note)
      val base = (0 until m).map { k =>
        shard.withColumn("custkey", col("custkey") + lit(k * 100000000L))
      }.reduce(_.unionByName(_))
      var deltaMin = Double.MaxValue
      var cowMin = Double.MaxValue
      var readMin = Double.MaxValue
      var deltaBytes = -1L
      var cowBytes = -1L
      var nAfter = -1L
      // total bytes on disk under a table root — the growth across a
      // merge is exactly the bytes that merge WROTE (old snapshots are
      // immutable), the construction-level cost local page-cached wall
      // times hide
      def rootBytes(root: String): Long = {
        val p = new org.apache.hadoop.fs.Path(root)
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(p)) 0L
        else {
          var total = 0L
          val it = f.listFiles(p, true)
          while (it.hasNext) { val st = it.next(); if (st.isFile) total += st.getLen }
          total
        }
      }
      (1 to passes).foreach { p =>
        spark.catalog.clearCache()
        val catName = s"gsbm${m}p$p"
        val catRoot = s"/tmp/graft_sqlmerge_x${m}_p$p"
        val f = new org.apache.hadoop.fs.Path(catRoot)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(catRoot), true)
        spark.conf.set(s"spark.sql.catalog.$catName",
          "graft.catalog.GraftSqlCatalog")
        spark.conf.set(s"spark.sql.catalog.$catName.root", catRoot)
        base.createOrReplaceTempView("sqlmerge_base")
        spark.sql(s"CREATE TABLE $catName.keyed " +
          "TBLPROPERTIES ('graft.key' = 'custkey') AS " +
          "SELECT * FROM sqlmerge_base")
        spark.sql(s"CREATE TABLE $catName.cow AS SELECT * FROM sqlmerge_base")
        val mergeSql = (t: String) =>
          s"""MERGE INTO $catName.$t t USING (
             |  SELECT custkey AS k, bal * 2 AS nb
             |  FROM sqlmerge_base
             |  WHERE custkey % 97 = 0 AND custkey < 100000000
             |  UNION ALL
             |  SELECT custkey + 900000000000L, bal FROM sqlmerge_base
             |  WHERE custkey <= 200
             |) s ON t.custkey = s.k
             |WHEN MATCHED THEN UPDATE SET bal = s.nb
             |WHEN NOT MATCHED THEN INSERT (custkey, bal, seg)
             |  VALUES (s.k, s.nb, 'NEW')""".stripMargin
        val keyedRoot0 = GraftCatalog.resolve(spark, catRoot, "keyed")
        val cowRoot0 = GraftCatalog.resolve(spark, catRoot, "cow")
        val kb0 = rootBytes(keyedRoot0)
        val cb0 = rootBytes(cowRoot0)
        val t0 = System.nanoTime()
        spark.sql(mergeSql("keyed"))
        val t1 = System.nanoTime()
        spark.sql(mergeSql("cow"))
        val t2 = System.nanoTime()
        deltaBytes = rootBytes(keyedRoot0) - kb0
        cowBytes = rootBytes(cowRoot0) - cb0
        nAfter = spark.sql(s"SELECT count(*) AS n FROM $catName.keyed")
          .head().getLong(0)
        val t3 = System.nanoTime()
        deltaMin = math.min(deltaMin, (t1 - t0) / 1e9)
        cowMin = math.min(cowMin, (t2 - t1) / 1e9)
        readMin = math.min(readMin, (t3 - t2) / 1e9)
        // the delta path must actually have fired — measured, not assumed
        val keyedRoot = GraftCatalog.resolve(spark, catRoot, "keyed")
        require(Txn.history(spark, keyedRoot).last._3("op") == "sql-merge-delta",
          "keyed MERGE did not take the delta path")
        spark.conf.unset(s"spark.sql.catalog.$catName")
        spark.conf.unset(s"spark.sql.catalog.$catName.root")
        f.delete(new org.apache.hadoop.fs.Path(catRoot), true)
      }
      System.err.println(f"sqlmerge x$m (rows=$nAfter): delta $deltaMin%.2f s " +
        f"($deltaBytes B written), cow $cowMin%.2f s ($cowBytes B written), " +
        f"keyed-read $readMin%.2f s")
      (m, nAfter, deltaMin, cowMin, readMin, deltaBytes, cowBytes)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, n, d, c, r, db, cb) =>
      s""""x$m":{"table_rows":$n,"delta_merge_sec":${f2(d)},"cow_merge_sec":${f2(c)},"keyed_read_sec":${f2(r)},"delta_write_bytes":$db,"cow_write_bytes":$cb}"""
    }.mkString(",")
    val s =
      s"""{"note":"fixed MERGE batch (1-in-97 updates + 200 inserts from a $nShard-row shard) into a table grown nx through pasted SQL: declared-key table takes the delta row-level path (ONE tombstone+rows manifest extension, history op asserted sql-merge-delta) vs keyless group-based COW (full rewrite). keyed_read_sec = post-merge full count on the keyed table (the anti-join tax until compaction). write_bytes is the construction-level claim (old snapshots are immutable, so root growth = bytes the merge wrote): delta writes O(batch) regardless of table size while cow rewrites the table — local WALL times tie because the shared target-scan join dominates at page-cached local scale; at 100 TB the write volume is the cost. The UPSERT_r11 economics, now reachable from SQL","shard_rows":$nShard,"passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SQLMERGE_r13.json"), s.getBytes)
    println(s)
  }

  /** PARTITION-OVERWRITE write volume (r13, r12 verdict item 6's
    * done-condition): a year-partitioned SQL table grown m× (m
    * replicas of the orders shard, years shifted so partition count
    * grows linearly), then ONE year refreshed three ways — static
    * `INSERT OVERWRITE … PARTITION (yr=…)`, dynamic-mode
    * `INSERT OVERWRITE` whose batch holds only that year, and the
    * whole-table replace. Claims the curve gates: (1) both partition
    * forms' WRITE BYTES stay FLAT while the full replace grows
    * linearly with the table (old snapshots are immutable, so root
    * growth = bytes written); (2) untouched partitions' FILES are
    * untouched — the current version's scan re-points at the exact
    * same paths (inputFiles asserted per pass). Local walls tie at
    * page-cached scale; write volume is the 100 TB cost. Writes
    * OVERWRITE_r13.json. Enabled with SPARK_GRAFT_SCALE_OVERWRITE=1. */
  private def overwriteCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.GraftCatalog
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select(col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"),
        year(col("o_orderdate")).cast("long").as("yr"))
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("yr", col("yr") + lit(k * 100L))
          .withColumn("okey", col("okey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var staticMin = Double.MaxValue
      var dynMin = Double.MaxValue
      var fullMin = Double.MaxValue
      var staticBytes = -1L
      var dynBytes = -1L
      var fullBytes = -1L
      var nParts = -1L
      def rootBytes(root: String): Long = {
        val p = new org.apache.hadoop.fs.Path(root)
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(p)) 0L
        else {
          var total = 0L
          val it = f.listFiles(p, true)
          while (it.hasNext) { val st = it.next(); if (st.isFile) total += st.getLen }
          total
        }
      }
      (1 to passes).foreach { p =>
        spark.catalog.clearCache()
        val catName = s"gsbo${m}p$p"
        val catRoot = s"/tmp/graft_overwrite_x${m}_p$p"
        val f = new org.apache.hadoop.fs.Path(catRoot)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(catRoot), true)
        spark.conf.set(s"spark.sql.catalog.$catName",
          "graft.catalog.GraftSqlCatalog")
        spark.conf.set(s"spark.sql.catalog.$catName.root", catRoot)
        base.createOrReplaceTempView("ow_base")
        spark.sql(s"CREATE TABLE $catName.part " +
          "(okey BIGINT, price DOUBLE, yr BIGINT) PARTITIONED BY (yr)")
        spark.sql(s"INSERT INTO $catName.part SELECT okey, price, yr FROM ow_base")
        nParts = spark.sql(
          s"SELECT count(DISTINCT yr) AS n FROM $catName.part").head().getLong(0)
        val root = GraftCatalog.resolve(spark, catRoot, "part")
        // the untouched-partition witness: the exact file paths the
        // CURRENT version reads for a year the overwrites never touch
        def filesOf(yr: Long): Set[String] =
          spark.sql(s"SELECT * FROM $catName.part WHERE yr = $yr")
            .inputFiles.toSet
        val before1996 = filesOf(1996L)
        val b0 = rootBytes(root)
        val t0 = System.nanoTime()
        spark.sql(s"INSERT OVERWRITE $catName.part PARTITION (yr=1995) " +
          "SELECT okey, price * 2 FROM ow_base WHERE yr = 1995")
        val t1 = System.nanoTime()
        val b1 = rootBytes(root)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        spark.sql(s"INSERT OVERWRITE $catName.part " +
          "SELECT okey, price * 3, yr FROM ow_base WHERE yr = 1995")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        val t2 = System.nanoTime()
        val b2 = rootBytes(root)
        require(filesOf(1996L) == before1996,
          "partition overwrite touched files of an un-overwritten partition")
        spark.sql(s"INSERT OVERWRITE $catName.part " +
          "SELECT okey, price, yr FROM ow_base")
        val t3 = System.nanoTime()
        val b3 = rootBytes(root)
        staticMin = math.min(staticMin, (t1 - t0) / 1e9)
        dynMin = math.min(dynMin, (t2 - t1) / 1e9)
        fullMin = math.min(fullMin, (t3 - t2) / 1e9)
        staticBytes = b1 - b0
        dynBytes = b2 - b1
        fullBytes = b3 - b2
        spark.conf.unset(s"spark.sql.catalog.$catName")
        spark.conf.unset(s"spark.sql.catalog.$catName.root")
        f.delete(new org.apache.hadoop.fs.Path(catRoot), true)
      }
      System.err.println(f"overwrite x$m (partitions=$nParts): " +
        f"static $staticMin%.2f s ($staticBytes B), " +
        f"dynamic $dynMin%.2f s ($dynBytes B), " +
        f"full $fullMin%.2f s ($fullBytes B)")
      (m, nParts, staticMin, dynMin, fullMin, staticBytes, dynBytes, fullBytes)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, np, st, dy, fu, sb, db, fb) =>
      s""""x$m":{"partitions":$np,"static_sec":${f2(st)},"dynamic_sec":${f2(dy)},"full_sec":${f2(fu)},"static_write_bytes":$sb,"dynamic_write_bytes":$db,"full_write_bytes":$fb}"""
    }.mkString(",")
    val s =
      s"""{"note":"year-partitioned SQL table grown nx (partitions grow linearly), ONE year refreshed three ways: static INSERT OVERWRITE PARTITION, dynamic-mode INSERT OVERWRITE (only the touched partitions replace, via one manifest extension whose tombstones come from the new dirs' leaf listing), and the whole-table replace. static/dynamic write_bytes stay FLAT (one partition's data) while full grows with the table; inputFiles of an untouched year asserted IDENTICAL across both partition overwrites per pass. At 100 TB the flat forms are the daily-refresh path; the linear form is what every refresh would cost without them","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("OVERWRITE_r13.json"), s.getBytes)
    println(s)
  }

  /** SQL file-skipping economics (r12, r11 verdict item 1's
    * done-condition): a fixed 4-key point probe through pasted SQL
    * against an INDEXED table (range-clustered, stats+bloom sidecars)
    * grown n× — kept/total files from the scan decision plus wall
    * time, vs the same query on an unindexed control table. The honest
    * claim at local scale is FILES OPENED (the page cache hides IO):
    * kept stays ~constant while total grows linearly, so the kept
    * fraction falls as 1/n — at 100 TB that fraction IS the point-query
    * latency. Writes SQLSKIP_r13.json. Enabled with
    * SPARK_GRAFT_SCALE_SQLSKIP=1. */
  private def sqlSkipCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.{GraftCatalog, Txn}
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val nShard = shard.count()
    val probes = "19, 365, 746, 1138" // keys only the ORIGINAL shard holds
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        // shift EVERY key column a probe touches (the scale-curve trap)
        shard.withColumn("o_custkey", col("o_custkey") + lit(k * 100000000L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
      }.reduce(_.unionByName(_))
      var idxMin = Double.MaxValue
      var ctlMin = Double.MaxValue
      var kept = -1
      var total = -1
      val catName = s"gsbs$m"
      val catRoot = s"/tmp/graft_sqlskip_x${m}_cat"
      val f = new org.apache.hadoop.fs.Path(catRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(catRoot), true)
      Seq("idx", "ctl").foreach { t =>
        val root = s"/tmp/graft_sqlskip_x${m}_$t"
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        val clustered = base.repartitionByRange(16 * m, col("o_custkey"))
        if (t == "idx")
          Txn.commit(clustered, root,
            statsCols = Seq("o_custkey"), bloomCols = Seq("o_custkey"))
        else Txn.commit(clustered, root)
      }
      spark.conf.set(s"spark.sql.catalog.$catName",
        "graft.catalog.GraftSqlCatalog")
      spark.conf.set(s"spark.sql.catalog.$catName.root", catRoot)
      GraftCatalog.create(spark, catRoot, "idx", s"/tmp/graft_sqlskip_x${m}_idx")
      GraftCatalog.create(spark, catRoot, "ctl", s"/tmp/graft_sqlskip_x${m}_ctl")
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        graft.catalog.GraftScanStats.reset()
        val t0 = System.nanoTime()
        val nIdx = spark.sql(s"SELECT count(*) AS n FROM $catName.idx " +
          s"WHERE o_custkey IN ($probes)").head().getLong(0)
        val t1 = System.nanoTime()
        val nCtl = spark.sql(s"SELECT count(*) AS n FROM $catName.ctl " +
          s"WHERE o_custkey IN ($probes)").head().getLong(0)
        val t2 = System.nanoTime()
        require(nIdx == nCtl, s"skipping changed results: $nIdx vs $nCtl")
        idxMin = math.min(idxMin, (t1 - t0) / 1e9)
        ctlMin = math.min(ctlMin, (t2 - t1) / 1e9)
        graft.catalog.GraftScanStats.lastDecision.foreach { _ => () }
      }
      // the decision of the LAST indexed query (reset happens before
      // the idx query; the ctl table has no sidecars so it records a
      // keep-everything decision or none — read right after idx)
      graft.catalog.GraftScanStats.reset()
      spark.sql(s"SELECT count(*) AS n FROM $catName.idx " +
        s"WHERE o_custkey IN ($probes)").head()
      val d = graft.catalog.GraftScanStats.lastDecision.get
      kept = d.filesKept; total = d.filesTotal
      spark.conf.unset(s"spark.sql.catalog.$catName")
      spark.conf.unset(s"spark.sql.catalog.$catName.root")
      System.err.println(f"sqlskip x$m: kept $kept/$total files, " +
        f"idx $idxMin%.2f s vs unindexed $ctlMin%.2f s")
      (m, kept, total, idxMin, ctlMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, k, t, i, c) =>
      s""""x$m":{"files_kept":$k,"files_total":$t,"sql_indexed_sec":${f2(i)},"sql_unindexed_sec":${f2(c)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"fixed 4-key SQL point probe (IN list on the clustered column) against an indexed table grown nx ($nShard-row shard, replica keys shifted so probes match only the original): files_kept stays ~flat while files_total grows linearly -- the kept FRACTION is the claim (local wall times tie because the page cache hides the IO the skipped footers would cost; at 100 TB files opened IS the latency). Unindexed control answers identically (one-sided contract, checked per pass)","shard_rows":$nShard,"passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SQLSKIP_r13.json"), s.getBytes)
    println(s)
  }

  private def txnAppendCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val nShard = shard.count()
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var appendMin = Double.MaxValue
      var rewriteMin = Double.MaxValue
      var cdcMin = Double.MaxValue
      var nTable = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root = s"/tmp/graft_txnapp_x$m"
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        Txn.commit(base, root)
        val sh = shard.withColumn("o_orderkey",
          col("o_orderkey") + lit(900000000L))
        val t0 = System.nanoTime()
        Txn.commitAppend(sh, root)
        val t1 = System.nanoTime()
        cdcMin = math.min(cdcMin,
          { val c0 = System.nanoTime()
            Txn.changes(spark, root, 2L - 1, 2L).count()
            (System.nanoTime() - c0) / 1e9 })
        // the rewrite alternative: commit the WHOLE grown table again
        val t2 = System.nanoTime()
        Txn.commit(Txn.read(spark, root), root)
        val t3 = System.nanoTime()
        nTable = Txn.read(spark, root).count()
        appendMin = math.min(appendMin, (t1 - t0) / 1e9)
        rewriteMin = math.min(rewriteMin, (t3 - t2) / 1e9)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
      }
      System.err.println(f"txnappend x$m (table=$nTable): append $appendMin%.2f s, " +
        f"rewrite $rewriteMin%.2f s, cdc-read $cdcMin%.2f s")
      (m, nTable, appendMin, rewriteMin, cdcMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, n, a, r, c) =>
      s""""x$m":{"table_rows":$n,"append_sec":${f2(a)},"rewrite_sec":${f2(r)},"cdc_read_sec":${f2(c)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"fixed $nShard-row shard into a table grown nx: commitAppend (manifest extension, O(shard)) vs full-snapshot commit of the grown table (O(table)); cdc_read_sec = changes() over the append step (file-level fast path). The gap at the top multiplier is ingest-into-100TB vs rewrite-100TB-per-shard","shard_rows":$nShard,"passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("TXNAPPEND_r13.json"), s.getBytes)
    println(s)
  }

  /** Txn tombstone-delete point (r9, commitDelete's cost claim): a
    * fixed 1000-key erasure against a table grown n×, once as a
    * tombstone commit (O(keys) — flat) and once as the rewrite
    * alternative (full commit of read().anti-join — O(table), linear).
    * Also times the post-tombstone READ (the anti-join tax every
    * reader pays until compaction) — it grows with the table, which
    * is exactly why the API documents periodic compaction. */
  /** UPSERT economics (r10): a FIXED update batch (≈1k updates + 1k
    * inserts) lands in a table grown n× three ways — [[Txn.commitUpsert]]
    * (one tombstone+dir manifest extension, O(batch)), the per-read
    * anti-join tax that choice accrues, and the MERGE-rewrite
    * alternative (full commit of the anti-joined base + batch,
    * O(table)). The claim: upsert commit time is FLAT in table size
    * while the rewrite is linear — at 100 TB that is the difference
    * between a CDC sink that keeps up and one that rewrites the world
    * per batch. Writes UPSERT_r13.json. Enabled with
    * SPARK_GRAFT_SCALE_UPSERT=1. */
  private def upsertCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val batch = shard.where(col("o_orderkey") % 150 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .unionByName(shard.where(col("o_orderkey") % 151 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L)))
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var upsMin = Double.MaxValue
      var readMin = Double.MaxValue
      var rewriteMin = Double.MaxValue
      var nTable = -1L
      var nBatch = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root = s"/tmp/graft_txnups_x$m"
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        Txn.commit(base, root)
        nTable = Txn.read(spark, root).count()
        nBatch = batch.count()
        val t0 = System.nanoTime()
        Txn.commitUpsert(batch, root, "o_orderkey")
        val t1 = System.nanoTime()
        Txn.read(spark, root).count()
        val t2 = System.nanoTime()
        // the MERGE-rewrite alternative: anti-join the base, re-add the
        // batch, commit the whole table
        Txn.commit(Txn.readVersion(spark, root, 1L)
          .join(batch.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionByName(batch), root)
        val t3 = System.nanoTime()
        upsMin = math.min(upsMin, (t1 - t0) / 1e9)
        readMin = math.min(readMin, (t2 - t1) / 1e9)
        rewriteMin = math.min(rewriteMin, (t3 - t2) / 1e9)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
      }
      System.err.println(f"upsert x$m (table=$nTable, batch=$nBatch): " +
        f"upsert $upsMin%.2f s, folded-read $readMin%.2f s, rewrite $rewriteMin%.2f s")
      (m, nTable, nBatch, upsMin, readMin, rewriteMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, n, b, u, r, w) =>
      s""""x$m":{"table_rows":$n,"batch_rows":$b,"upsert_sec":${f2(u)},"folded_read_sec":${f2(r)},"merge_rewrite_sec":${f2(w)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"fixed ~2k-row upsert batch (updates + inserts) into a table grown nx: commitUpsert (one tombstone+dir manifest extension, O(batch)) vs the MERGE-rewrite alternative (anti-join + full commit, O(table)); folded_read_sec is the per-read anti-join tax until compaction","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("UPSERT_r13.json"), s.getBytes)
    println(s)
  }

  /** BLOOM point-skipping economics (r10): a table clustered by
    * o_custkey grown n× (file count grows with the table), per-file
    * bloom sidecars on the UNCLUSTERED o_orderkey; a fixed 8-key point
    * probe measured three ways — files kept by the bloom vs total
    * (min/max keeps ~all: every file's unclustered-key range spans the
    * domain), [[Txn.readSkipping]] wall time, and the full-scan filter
    * alternative. The claim: kept-file fraction FALLS as the table
    * grows (probe cost tracks matching files, not table size) while
    * the full scan is linear — the Delta bloom-index story measured.
    * Writes BLOOM_r13.json. Enabled with SPARK_GRAFT_SCALE_BLOOM=1. */
  private def bloomCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val probes = shard.where(col("o_orderkey") % 4999 === 0)
      .select("o_orderkey").orderBy("o_orderkey").limit(8)
      .collect().map(_.getLong(0)).toSeq
    val out = mults.map { m =>
      // each replica shifts BOTH keys: custkey so the clustering keeps
      // spreading across files, orderkey so the probe keys stay unique
      // (a corpus grown nx does not grow nx copies of one order)
      val base = (0 until m).map { k =>
        shard.withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var buildMin = Double.MaxValue
      var pointMin = Double.MaxValue
      var scanMin = Double.MaxValue
      var kept = -1
      var total = -1
      var nHits = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root = s"/tmp/graft_txnbloom_x$m"
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        val t0 = System.nanoTime()
        Txn.commit(
          base.repartitionByRange(8 * m, col("o_custkey"))
            .sortWithinPartitions("o_custkey"),
          root, statsCols = Seq("o_custkey"), bloomCols = Seq("o_orderkey"),
          bloomBits = 1 << 18)
        val t1 = System.nanoTime()
        val point = Seq(Txn.PointProbe("o_orderkey", probes))
        val (_, pf) = Txn.skipDecision(spark, root,
          Txn.currentVersion(spark, root).get, point)
        kept = pf.filesKept; total = pf.filesTotal
        nHits = Txn.readSkipping(spark, root, point).count()
        val t2 = System.nanoTime()
        Txn.read(spark, root)
          .where(col("o_orderkey").isin(probes: _*)).count()
        val t3 = System.nanoTime()
        buildMin = math.min(buildMin, (t1 - t0) / 1e9)
        pointMin = math.min(pointMin, (t2 - t1) / 1e9)
        scanMin = math.min(scanMin, (t3 - t2) / 1e9)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
      }
      System.err.println(f"bloom x$m (files $kept/$total, hits=$nHits): " +
        f"build $buildMin%.2f s, point $pointMin%.2f s, scan $scanMin%.2f s")
      (m, kept, total, nHits, buildMin, pointMin, scanMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, k, t, h, b, p, sc) =>
      s""""x$m":{"files_kept":$k,"files_total":$t,"probe_hits":$h,"build_sec":${f2(b)},"point_read_sec":${f2(p)},"full_scan_sec":${f2(sc)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"table clustered by o_custkey grown nx with per-file bloom sidecars on the UNCLUSTERED o_orderkey; fixed 8-key point probe: files_kept/files_total is the bloom skipping decision (min/max keeps ~all files for an unclustered key). The CLAIM is files_kept staying ~constant as files_total grows nx -- at 100 TB that is 6 file opens vs 400; local wall times tie because the page cache hides the IO a cluster would pay","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BLOOM_r13.json"), s.getBytes)
    println(s)
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

  /** TWO-RUNG skipping economics (r11): partition-dir pruning COMPOSED
    * with file-stats skipping inside the kept partitions. The table
    * grows n× by adding YEARS (replica k shifts o_year +100k and
    * o_orderkey so probes stay unique); within every year the data is
    * range-laid-out by o_custkey into ~16 files with distinct ranges
    * (the clustered-ingest shape). A fixed one-year, narrow-custkey
    * query then reads via (a) [[Txn.readSkipping]] — both
    * rungs, (b) [[Txn.readSkipping]] + residual — directory rung
    * only, (c) full scan + filter. The CLAIM: dirs_kept stays 1 while
    * dirs_total grows n×, files_kept stays ~1-2 of the ~16 in the kept
    * dir, and at 100 TB rung (b)→(a) is another ~10× fewer file opens
    * on top of partition pruning's n× (local wall times may tie — the
    * page cache hides IO; the gated claim is the open counts). Writes
    * PARTSKIP_r13.json. Enabled with SPARK_GRAFT_SCALE_PARTSKIP=1. */
  private def partSkipCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val (cLo, cHi) = (1000L, 2000L) // fixed narrow customer range
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("o_year", col("o_year") + lit(k * 100L))
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var buildMin = Double.MaxValue
      var twoRungMin = Double.MaxValue
      var dirRungMin = Double.MaxValue
      var scanMin = Double.MaxValue
      var probe = (-1, -1, -1, -1)
      var nHits = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root = s"/tmp/graft_txnpartskip_x$m"
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        val t0 = System.nanoTime()
        // range layout on o_custkey: each of the 16 range tasks writes
        // one distinct-custkey-range file into every year dir it holds
        Txn.commit(
          base.repartitionByRange(16, col("o_custkey"))
            .sortWithinPartitions("o_custkey"),
          root, statsCols = Seq("o_custkey"), partitionBy = Some("o_year"))
        val t1 = System.nanoTime()
        val year = Txn.PartProbe("o_year", Seq(1995L))
        val twoRung = Seq(year, Txn.RangeProbe("o_custkey", cLo, cHi))
        val (dk, dt) = Txn.partitionCensus(spark, root, twoRung)
        val (_, fr) = Txn.skipDecision(spark, root,
          Txn.currentVersion(spark, root).get, twoRung)
        probe = (dk, dt, fr.filesKept, fr.filesTotal)
        nHits = Txn.readSkipping(spark, root, twoRung).count()
        val t2 = System.nanoTime()
        Txn.readSkipping(spark, root, Seq(year))
          .where(col("o_custkey").between(cLo, cHi)).count()
        val t3 = System.nanoTime()
        Txn.read(spark, root).where(col("o_year") === 1995L &&
          col("o_custkey").between(cLo, cHi)).count()
        val t4 = System.nanoTime()
        buildMin = math.min(buildMin, (t1 - t0) / 1e9)
        twoRungMin = math.min(twoRungMin, (t2 - t1) / 1e9)
        dirRungMin = math.min(dirRungMin, (t3 - t2) / 1e9)
        scanMin = math.min(scanMin, (t4 - t3) / 1e9)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
      }
      // TWO-LEVEL layout (r13, r12 verdict item 4): the same corpus
      // laid out year=…/src=… (4 sources per year); a (year, src)
      // probe walks the recursive directory rung — non-matching year
      // SUBTREES are never listed, then 1 of 4 src dirs inside the
      // kept year survives. dirs2_kept stays FLAT at 2 while the leaf
      // count grows ~7m*4: the per-level listing cost IS the claim.
      var twoLevelMin = Double.MaxValue
      var d2 = (-1, -1, -1, -1)
      var nHits2 = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root2 = s"/tmp/graft_txnpartskip2_x$m"
        val f2a = new org.apache.hadoop.fs.Path(root2)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f2a.delete(new org.apache.hadoop.fs.Path(root2), true)
        val base2 = base.withColumn("o_src",
          concat(lit("s"), (col("o_custkey") % 4).cast("string")))
        Txn.commit(
          base2.repartition(col("o_year"), col("o_src")),
          root2, partitionBy = Some("o_year,o_src"))
        val t0b = System.nanoTime()
        val (frame, r) =
          Txn.skipScan(spark, root2, Txn.currentVersion(spark, root2).get,
            Seq(Txn.PartProbe("o_year", Seq(1995L)),
              Txn.PartProbe("o_src", Seq("s1"))))
        nHits2 = frame.count()
        val t1b = System.nanoTime()
        d2 = (r.dirsKept, r.dirsTotal, r.filesKept, r.filesTotal)
        twoLevelMin = math.min(twoLevelMin, (t1b - t0b) / 1e9)
        f2a.delete(new org.apache.hadoop.fs.Path(root2), true)
      }
      val (dk, dt, fk, fit) = probe
      System.err.println(f"partskip x$m (dirs $dk/$dt, files $fk/$fit, " +
        f"hits=$nHits): build $buildMin%.2f s, two-rung $twoRungMin%.2f s, " +
        f"dir-rung $dirRungMin%.2f s, scan $scanMin%.2f s; " +
        f"two-level dirs ${d2._1}/${d2._2} files ${d2._3}/${d2._4} " +
        f"hits=$nHits2 ${twoLevelMin}%.2f s")
      (m, dk, dt, fk, fit, nHits, buildMin, twoRungMin, dirRungMin, scanMin,
        d2, nHits2, twoLevelMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map {
      case (m, dk, dt, fk, fit, h, b, two, dir, sc, dd2, h2, tl) =>
        s""""x$m":{"dirs_kept":$dk,"dirs_total":$dt,"files_kept":$fk,"files_in_kept_dirs":$fit,"hits":$h,"build_sec":${f2(b)},"two_rung_sec":${f2(two)},"dir_rung_sec":${f2(dir)},"full_scan_sec":${f2(sc)},"two_level":{"dirs_kept":${dd2._1},"dirs_total":${dd2._2},"files_kept":${dd2._3},"files_total":${dd2._4},"hits":$h2,"sec":${f2(tl)}}}"""
    }.mkString(",")
    val s =
      s"""{"note":"year-partitioned table grown nx by adding years, each year range-laid-out by o_custkey into ~16 files with per-partition _stats.tsv sidecars; fixed one-year narrow-custkey query. Two rungs compose: dirs_kept/dirs_total is the directory rung (flat 1 vs nx), files_kept/files_in_kept_dirs the file rung inside the kept year (~2 of ~16). two_level (r13): the same corpus as a NESTED year=/src= layout probed on (year, src) — dirs_kept counts PER-LEVEL listing decisions and stays FLAT at 2 (1 year subtree listed of 7m, then 1 src dir of 4) while leaves grow 28m; dropped year subtrees are never listed at all. At 100 TB the product is the point-query read path (partition -> file -> row); local wall times can tie because the page cache hides the file opens the counts gate","passes":$passes,"probe":{"year":1995,"custkey_lo":$cLo,"custkey_hi":$cHi,"two_level_src":"s1"},"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("PARTSKIP_r13.json"), s.getBytes)
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

  /** CLONE economics (r10): shallow-clone a table grown n× vs the
    * deep-copy alternative (a full [[Txn.commit]] of `read(src)` into
    * the new root). The claim: cloneTable is O(manifest) — FLAT
    * milliseconds regardless of table size (a 100 TB dev/test branch
    * for free) — while the deep copy is O(table); first-read-from-clone
    * included to show the clone read costs the same as reading the
    * source (it IS the source's files). Writes CLONE_r13.json.
    * Enabled with SPARK_GRAFT_SCALE_CLONE=1. */
  private def cloneCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      var cloneMin = Double.MaxValue
      var readMin = Double.MaxValue
      var deepMin = Double.MaxValue
      var nTable = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val src = s"/tmp/graft_txnclone_src_x$m"
        val dst = s"/tmp/graft_txnclone_dst_x$m"
        val deep = s"/tmp/graft_txnclone_deep_x$m"
        val f = new org.apache.hadoop.fs.Path(src)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(src, dst, deep).foreach(p =>
          f.delete(new org.apache.hadoop.fs.Path(p), true))
        Txn.commit(base, src)
        nTable = Txn.read(spark, src).count()
        val t0 = System.nanoTime()
        Txn.cloneTable(spark, src, dst)
        val t1 = System.nanoTime()
        Txn.read(spark, dst).count()
        val t2 = System.nanoTime()
        Txn.commit(Txn.read(spark, src), deep) // the deep-copy alternative
        val t3 = System.nanoTime()
        cloneMin = math.min(cloneMin, (t1 - t0) / 1e9)
        readMin = math.min(readMin, (t2 - t1) / 1e9)
        deepMin = math.min(deepMin, (t3 - t2) / 1e9)
        Seq(src, dst, deep).foreach(p =>
          f.delete(new org.apache.hadoop.fs.Path(p), true))
      }
      System.err.println(f"clone x$m (table=$nTable): " +
        f"clone $cloneMin%.3f s, first-read $readMin%.2f s, deep-copy $deepMin%.2f s")
      (m, nTable, cloneMin, readMin, deepMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, n, c, r, d) =>
      s""""x$m":{"table_rows":$n,"clone_sec":${f3(c)},"first_read_sec":${f2(r)},"deep_copy_sec":${f2(d)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"shallow clone of a table grown nx vs the deep-copy alternative (full commit of read(src)): cloneTable is O(manifest) -- flat milliseconds at any table size (the free dev/test branch) -- while deep copy is O(table); first_read_sec shows the clone read costs what reading the source costs (same files)","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("CLONE_r13.json"), s.getBytes)
    println(s)
  }

  private def txnDeleteCurve(spark: SparkSession, baseDir: String,
      mults: Seq[Int], passes: Int): Unit = {
    import graft.ops.Txn
    val shard = spark.read.parquet(s"$baseDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val out = mults.map { m =>
      val base = (0 until m).map { k =>
        shard.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
      }.reduce(_.unionByName(_))
      val keys = shard.where(col("o_orderkey") % 150 === 0)
        .select("o_orderkey")
      var tombMin = Double.MaxValue
      var rewriteMin = Double.MaxValue
      var readMin = Double.MaxValue
      var nTable = -1L
      var nAfter = -1L
      (1 to passes).foreach { _ =>
        spark.catalog.clearCache()
        val root = s"/tmp/graft_txndel_x$m"
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
        Txn.commit(base, root)
        nTable = Txn.read(spark, root).count()
        val t0 = System.nanoTime()
        Txn.commitDelete(spark, root, Seq("o_orderkey"), keys)
        val t1 = System.nanoTime()
        nAfter = Txn.read(spark, root).count()
        val t2 = System.nanoTime()
        // the rewrite alternative a tombstone-less layer would need
        Txn.commit(Txn.readVersion(spark, root, 1L)
          .join(keys, Seq("o_orderkey"), "left_anti"), root)
        val t3 = System.nanoTime()
        tombMin = math.min(tombMin, (t1 - t0) / 1e9)
        readMin = math.min(readMin, (t2 - t1) / 1e9)
        rewriteMin = math.min(rewriteMin, (t3 - t2) / 1e9)
        f.delete(new org.apache.hadoop.fs.Path(root), true)
      }
      System.err.println(f"txndelete x$m (table=$nTable, after=$nAfter): " +
        f"tombstone $tombMin%.2f s, folded-read $readMin%.2f s, rewrite $rewriteMin%.2f s")
      (m, nTable, tombMin, readMin, rewriteMin)
    }
    def f2(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val json = out.map { case (m, n, t, r, w) =>
      s""""x$m":{"table_rows":$n,"tombstone_sec":${f2(t)},"folded_read_sec":${f2(r)},"rewrite_sec":${f2(w)}}"""
    }.mkString(",")
    val s =
      s"""{"note":"fixed 1000-key erasure against a table grown nx: commitDelete (tombstone entry, O(keys)) vs the rewrite alternative (full commit of the anti-joined table, O(table)); folded_read_sec is the per-read anti-join tax a tombstoned version carries until compaction","passes":$passes,"corpora":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("TXNDELETE_r13.json"), s.getBytes)
    println(s)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val keys = queryKeys.filter(k => only.forall(_.contains(k)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // same UTC pin as every shipped entry point (r7 advice):
      // Tables.events fails loud in a non-UTC session
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (sys.env.get("SPARK_GRAFT_SCALE_STOPGRAM").contains("1")) {
      stopGramCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_CELEBRITY").contains("1")) {
      celebrityCurve(spark, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_TXNAPPEND").contains("1")) {
      txnAppendCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_TXNDELETE").contains("1")) {
      txnDeleteCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_UPSERT").contains("1")) {
      upsertCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_BLOOM").contains("1")) {
      bloomCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_PARTITION").contains("1")) {
      partitionCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_PARTSKIP").contains("1")) {
      partSkipCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_CLONE").contains("1")) {
      cloneCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_SQLMERGE").contains("1")) {
      sqlMergeCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_STREAMBACKLOG").contains("1")) {
      streamBacklogCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_SQLSKIP").contains("1")) {
      sqlSkipCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_OVERWRITE").contains("1")) {
      overwriteCurve(spark, baseDir, mults, passes)
      spark.stop(); return
    }
    val ingest = sys.env.get("SPARK_GRAFT_SCALE_INGEST").contains("1")
    val dirs = mults.map { m =>
      val d = s"/tmp/graft_scale_x$m"
      synthesize(spark, baseDir, m, d)
      // embeddings only feed the cosine @bound key of the query curve;
      // the ingest mode (which goes to 100x, past synthesizeEmb's
      // vec_id-offset headroom) never reads them
      if (!ingest && m <= 10) synthesizeEmb(spark, baseDir, m, d)
      m -> d
    }
    if (ingest) {
      ingestCurve(spark, dirs, passes)
      spark.stop(); return
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
