package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the r4 pipeline operators beyond the DuckDB
  * hash gate: the oracle proves Spark ≡ DuckDB on the same SQL; these
  * prove the SQL means what the operator claims. */
class TextPipelineSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("decontaminate probes the broadcast BEFORE any corpus exchange") {
    // executable golden for the r5 plan fix (r4 verdict item 3): the
    // corpus side must reach the gram-probe broadcast join straight off
    // the scan (scan -> generate -> join); the only hash exchanges are
    // the bench slice's own distinct and the post-probe candidate
    // distinct / per-doc count. In the plan text, the streamed branch
    // is exactly the lines between the BroadcastHashJoin and its
    // BroadcastExchange build side.
    val df = SparkEntry.queries("llm_decontaminate")(spark, dir)
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    val bhj = lines.indexWhere(_.contains("BroadcastHashJoin"))
    assert(bhj >= 0, lines.mkString("\n"))
    val bcast = lines.indexWhere(_.contains("BroadcastExchange"), bhj)
    assert(bcast > bhj, lines.mkString("\n"))
    val corpusBranch = lines.slice(bhj + 1, bcast)
    assert(corpusBranch.exists(_.contains("Scan parquet")), lines.mkString("\n"))
    assert(!corpusBranch.exists(_.contains("Exchange")),
      "corpus side must not exchange before the probe:\n" + lines.mkString("\n"))
  }

  test("spreadScan: width derives from input bytes capped at session " +
      "parallelism, wide/tiny inputs pass through untouched, rows identical (r15)") {
    val dp = spark.sparkContext.defaultParallelism
    // assume(), not assert (r14 advice): on a single-core runner the
    // spread branch is untestable — cancel instead of spuriously failing
    assume(dp > 1, "single-core session — spread branch untestable")
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    assume(docs.rdd.getNumPartitions < dp,
      "fixture unexpectedly wide — the spread branch is untested")
    val sizeEst = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    // force the spread with a 1-byte/task target: width = min(dp, size)
    spark.conf.set("spark.graft.spread.targetBytesPerTask", "1")
    try {
      val spread = ops.Q.spreadScan(docs, col("doc_id"))
      assert(spread.rdd.getNumPartitions == sizeEst.min(BigInt(dp)).toInt)
      assert(spread.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
        docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    } finally spark.conf.unset("spark.graft.spread.targetBytesPerTask")
    // a byte target at/above the input size means the input already fits
    // one task's worth of work — identity, no exchange
    spark.conf.set("spark.graft.spread.targetBytesPerTask",
      (sizeEst + 1).toString)
    try assert(ops.Q.spreadScan(docs, col("doc_id")) eq docs)
    finally spark.conf.unset("spark.graft.spread.targetBytesPerTask")
    // an input at/above the session parallelism must return unchanged —
    // at scale this is every real scan, so no exchange is ever added
    val wide = docs.repartition(dp + 2)
    assert(ops.Q.spreadScan(wide, col("doc_id")) eq wide)
    // a streaming frame degrades to identity instead of throwing (r14
    // advice: spreadScan is reachable from StreamOps.nearDupAgainst)
    val stream = spark.readStream.format("rate").load()
    assert(ops.Q.spreadScan(stream, col("value")) eq stream)
  }

  test("spreadScan: a malformed byte target fails naming the key and value") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    assume(docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes,
      "fixture wider than one split — the byte target is never read")
    spark.conf.set("spark.graft.spread.targetBytesPerTask", "48k")
    val err = try intercept[IllegalArgumentException](
      ops.Q.spreadScan(docs, col("doc_id")))
    finally spark.conf.unset("spark.graft.spread.targetBytesPerTask")
    assert(err.getMessage.contains("spark.graft.spread.targetBytesPerTask"))
    assert(err.getMessage.contains("'48k'"))
  }

  test("doc chunks reassemble to the original document") {
    // stride 32, width 40: dropping the 8-token overlap from every
    // chunk after the first and concatenating must rebuild the doc.
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // collect_list has no intra-group order guarantee; sort_array over
    // (chunk_id, core) structs makes the concatenation order exact.
    val rebuilt = ops.TextOps.llmDocChunks.build(spark, dir)
      .withColumn("core", when(col("chunk_id") === 0, col("chunk"))
        .otherwise(expr("concat_ws(' ', slice(split(chunk, ' '), 9, 32))")))
      .where(length(col("core")) > 0)
      .groupBy("doc_id")
      .agg(expr("concat_ws(' ', transform(sort_array(collect_list(struct(chunk_id, core))), s -> s.core))").as("rebuilt"))
    val bad = rebuilt.join(docs, "doc_id")
      .where(col("rebuilt") =!= col("text")).count()
    assert(bad == 0, s"$bad docs did not reassemble from their chunks")
  }

  test("chunk sizes follow the stride-32/width-40 contract exactly") {
    // chunk i covers tokens [32i, 32i+40) clipped to the doc, so its
    // size must be min(40, n_tokens - 32i) — truncation can reach the
    // last TWO chunks (when n_tokens mod 32 is in 1..7), never earlier.
    val n = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
    val c = ops.TextOps.llmDocChunks.build(spark, dir).join(n, "doc_id")
    val viol = c.where(
      col("n_chunk_tokens") =!= least(lit(40L), col("n_tokens") - col("chunk_id") * 32)).count()
    assert(viol == 0)
  }

  test("sequence packing is a per-source exclusive prefix sum") {
    val p = ops.TextOps.llmPackSequences.build(spark, dir)
    // start_off must equal the sum of earlier docs' n_tokens in the
    // same source, and (seq_no, seq_off) must be its div/mod by 256.
    val viol = p.where(
      col("seq_no") * 256 + col("seq_off") =!= col("start_off") ||
      col("seq_off") < 0 || col("seq_off") >= 256).count()
    assert(viol == 0)
    import spark.implicits._
    val perSource = p.select("source", "doc_id", "n_tokens", "start_off")
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).values
    perSource.foreach { rows =>
      var acc = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, off) =>
        assert(off == acc); acc += n
      }
    }
  }

  test("decontamination flags every exact duplicate of a benchmark doc") {
    // an exact dup of a benchmark doc (>= 4 tokens) shares ALL its
    // 4-grams, so it must appear in the contaminated set.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .where(size(split(col("text"), " ")) >= 4)
    val benchTexts = docs.where(col("doc_id") % 53 === 0).select(col("text").as("bt"))
    val dupIds = docs.where(col("doc_id") % 53 =!= 0)
      .join(benchTexts, col("text") === col("bt"))
      .select("doc_id").distinct()
    val flagged = ops.TextOps.llmDecontaminate.build(spark, dir).select("doc_id")
    assert(dupIds.except(flagged).count() == 0,
      "an exact duplicate of a benchmark doc escaped decontamination")
  }

  test("pii redaction masks emails/phones and denylist terms (synthetic)") {
    // the fixture corpus has no digits or '@' (documented in the Q), so
    // the email/phone paths are exercised on injected rows run through
    // the same regexes the operator uses on the documents table.
    import spark.implicits._
    val probe = Seq(
      (1L, "contact bob.smith@example.com or call (415) 555-0132 now"),
      (2L, "spark streams beat stream engines says spark"),
      (3L, "no sensitive content here")).toDF("doc_id", "text")
    // rebuild the operator's projection against the probe rows: the Q
    // reads the documents table, so re-apply its exact expressions here.
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
    val phone = "\\(?[0-9][0-9() -]{7,}[0-9]"
    val term = "\\b(spark|stream)\\b"
    val red = probe.select(col("doc_id"),
      regexp_count(col("text"), lit(email)).cast("bigint").as("n_email"),
      regexp_count(col("text"), lit(phone)).cast("bigint").as("n_phone"),
      regexp_count(col("text"), lit(term)).cast("bigint").as("n_term"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        email, "<EMAIL>"), phone, "<PHONE>"), term, "<TERM>").as("clean_text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(red(1L).getLong(1) == 1 && red(1L).getLong(2) == 1)
    assert(red(1L).getString(4) == "contact <EMAIL> or call <PHONE> now")
    // 'streams' must NOT match (word boundary); 'spark' and 'stream' must.
    assert(red(2L).getLong(3) == 3)
    assert(red(2L).getString(4) == "<TERM> streams beat <TERM> engines says <TERM>")
    assert(red(3L).getLong(1) == 0 && red(3L).getLong(3) == 0)
    assert(red(3L).getString(4) == "no sensitive content here")
    // and on the real corpus: redaction never changes token COUNT for
    // the denylist scrub (1:1 token replacement), so doc shape survives.
    val shape = ops.TextOps.llmPiiRedact.build(spark, dir)
      .join(Tables.documents(spark, dir), "doc_id")
      .where(size(split(col("clean_text"), " ")) =!= size(split(col("text"), " ")))
      .count()
    assert(shape == 0, "denylist scrub changed token counts")
    // r7 (r6 verdict item 1): the registered query's synthetic PII slice
    // must show REAL masking in the driver-gated output — one email (with
    // the doc_id baked in), one phone, two denylist terms per row, and no
    // digit or '@' may survive redaction.
    val syn = ops.TextOps.llmPiiRedact.build(spark, dir)
      .where(col("doc_id") >= 1000000L).collect()
    assert(syn.length == 10, s"expected 10 synthetic rows, got ${syn.length}")
    syn.foreach { r =>
      assert(r.getAs[Long]("n_email") == 1 && r.getAs[Long]("n_phone") == 1
        && r.getAs[Long]("n_term") == 2)
      val ct = r.getAs[String]("clean_text")
      assert(ct == "ping <EMAIL> or call <PHONE> about the <TERM> <TERM>")
    }
  }

  test("chunk dedup: exact-duplicate docs share all chunk survivors") {
    // two docs with identical text produce identical chunk hashes, so
    // the later doc's chunks must ALL be marked duplicates. The sf0.001
    // fixture has exact-dup texts (the exact-dedup op depends on them).
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val dupPairs = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id")).distinct()
    val out = ops.TextOps.llmChunkDedup.build(spark, dir)
    val clean = out.join(dupPairs, "doc_id")
      .where(col("n_dup_chunks") =!= col("n_chunks")).count()
    assert(clean == 0, "a later exact-duplicate doc kept a surviving chunk")
    // survivor accounting: per chunk_hash exactly one survivor, so
    // total chunks - total dups = distinct chunk hashes.
    val tot = out.agg(sum("n_chunks"), sum("n_dup_chunks")).collect()(0)
    val distinctHashes = ops.TextOps.llmDocChunks.build(spark, dir)
      .select(expr("cast(conv(substring(sha2(chunk, 256), 1, 15), 16, 10) as bigint)"))
      .distinct().count()
    assert(tot.getLong(0) - tot.getLong(1) == distinctHashes)
  }

  test("source mix weights equalize the mixture") {
    // applying each source's weight to its token mass must land every
    // source within 2% of the uniform target share (floor rounding at
    // micro granularity is far inside that margin on this fixture)
    val rows = ops.TextOps.llmSourceMix.build(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val target = total.toDouble / rows.length
    rows.foreach { r =>
      val reweighted =
        r.getAs[Long]("n_tokens").toDouble * r.getAs[Long]("weight_micro") / 1e6
      assert(math.abs(reweighted - target) <= 0.02 * target,
        s"${r.getAs[String]("source")}: $reweighted vs target $target")
    }
    val fracSum = rows.map(_.getAs[Long]("actual_frac_micro")).sum
    assert(math.abs(fracSum - 1000000L) <= rows.length,
      s"fractions sum to $fracSum")
  }

  test("split assignment is subset-invariant and near the 98/1/1 target") {
    val full = ops.TextOps.llmSplitAssign.build(spark, dir)
    val rows = full.collect()
    val byId = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // subset/growth invariance holds iff the assignment is a pure
    // function of doc_id (no dependence on position, row order, or the
    // rest of the corpus) — verify against an independent scalar
    // recomputation of the LCG bucket for every doc
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val h = (id % 1000000007L * 1103515245L + 12345L) % 1000000007L
      val expect = (h * h + id % 1000000007L) % 1000000007L % 1000L
      assert(r.getAs[Long]("bucket") == expect, s"doc $id bucket drift")
    }
    // ratio sanity: 500 docs at 98/1/1 — binomial 3-sigma margins
    val counts = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    val n = byId.size.toDouble
    assert(math.abs(counts.getOrElse("train", 0) / n - 0.98) < 0.02)
    assert(counts.getOrElse("valid", 0) + counts.getOrElse("test", 0) > 0)
    // buckets must actually spread (LCG sanity, not all-one-bucket)
    val buckets = full.select(countDistinct(col("bucket"))).head().getLong(0)
    assert(buckets > 200, s"only $buckets distinct buckets")
  }

  test("hash and mixture arithmetic stays exact in int64 at 100 TB inputs") {
    import spark.implicits._
    val P = BigInt(1000000007)
    // split/shuffle hash at extreme ids (an unreduced doc_id * A
    // overflows past ~8.4e9): every bucket must equal the BigInt-exact
    // value and land in [0, 1000)
    val ids = Seq(0L, 1L, 999999999999L, 4611686018427387904L,
      Long.MaxValue - 1, Long.MaxValue).toDF("doc_id")
    ids
      .select(col("doc_id"),
        expr("(doc_id % 1000000007 * 1103515245 + 12345) % 1000000007").as("h"))
      .select(col("doc_id"),
        expr("(h * h + doc_id % 1000000007) % 1000000007 % 1000").as("bucket"))
      .collect().foreach { r =>
        val id = BigInt(r.getLong(0))
        val h = (id % P * 1103515245 + 12345) % P
        val expect = (h * h + id % P) % P % 1000
        assert(BigInt(r.getLong(1)) == expect && r.getLong(1) >= 0,
          s"doc ${r.getLong(0)}")
      }
    // mixture fraction at a 25e12-token corpus (≈100 TB of text): the
    // unshifted n_tokens * 1e6 would overflow; the sc-shifted value
    // must stay within 2 micro units of the BigInt-exact fraction
    val per = Seq(("web", 15000000000000L), ("code", 7000000000000L),
      ("books", 3000000000000L)).toDF("source", "n_tokens")
    val total = 25000000000000L
    per.withColumn("total", lit(total))
      .withColumn("sc", expr("greatest(1L, total div 9000000000000)"))
      .withColumn("frac", expr(
        "greatest(1L, (n_tokens div sc) * 1000000 div greatest(1L, total div sc))"))
      .collect().foreach { r =>
        val exact = BigInt(r.getAs[Long]("n_tokens")) * 1000000 / BigInt(total)
        val got = BigInt(r.getAs[Long]("frac"))
        assert((got - exact).abs <= 2, s"${r.getAs[String]("source")}: $got vs $exact")
      }
  }

  test("corpus shuffle is a deterministic bijective resharding") {
    val out = ops.TextOps.llmCorpusShuffle.build(spark, dir)
    val nDocs = Tables.documents(spark, dir).count()
    // bijection: every doc exactly once, shards cover 0..7, positions
    // within a shard are contiguous 1..count(shard).
    assert(out.count() == nDocs)
    assert(out.select("doc_id").distinct().count() == nDocs)
    val badShard = out.where(col("shard") < 0 || col("shard") >= 8).count()
    assert(badShard == 0)
    val badPos = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
        countDistinct("pos").as("dp"))
      .where(col("mn") =!= 1L || col("mx") =!= col("n") || col("dp") =!= col("n"))
      .count()
    assert(badPos == 0, "positions must be contiguous 1..n per shard")
    // determinism: an independent rebuild yields the identical assignment
    val again = ops.TextOps.llmCorpusShuffle.build(spark, dir)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    // it IS a shuffle: assignment order must not be doc_id order (the
    // LCG scatters any contiguous id range across shards)
    val inOrder = out.orderBy("shard", "pos").select("doc_id")
      .collect().map(_.getLong(0))
    assert(!(inOrder.sliding(2).forall(p => p(0) < p(1))),
      "shuffled order degenerated to doc_id order")
  }

  test("corpus shuffle: parameterized shard count + physical write layout " +
      "== shard assignment (r7)") {
    // r6 verdict item 7: n_shards is an argument (the registry pins 8;
    // a real prep job sizes it to the cluster), and the partitionBy
    // write must land every row in its assigned shard=K directory —
    // layout IS the assignment, per-directory and per-row.
    val docs = Tables.documents(spark, dir).select("doc_id", "text", "source")
    val assign = ops.TextOps.corpusShuffle(docs, nShards = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.values.toSet == (0L until 5L).toSet, "all 5 shards populated")
    // a different shard count is a different (complete) partition
    val assign3 = ops.TextOps.corpusShuffle(docs, nShards = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign3.values.toSet == (0L until 3L).toSet)
    assert(assign.keySet == assign3.keySet)
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      ops.TextOps.writeSharded(docs, nShards = 5, out)
      // directory layout: exactly shard=0..4
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      assert(dirs == (0 until 5).map(k => s"shard=$k").toSet, s"got $dirs")
      // per-directory content: every row of shard K and only shard K,
      // written as ONE file (the pre-write repartition clusters each
      // shard into a single task — no dynamic-partition small-files
      // spray; r7 review)
      (0 until 5).foreach { k =>
        val ids = spark.read.parquet(s"$out/shard=$k")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(ids == assign.filter(_._2 == k).keySet, s"shard $k layout drift")
        val files = new java.io.File(s"$out/shard=$k").listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        assert(files.length == 1, s"shard $k written as ${files.length} files")
      }
      // full round-trip: nothing lost, partition column readable
      val back = spark.read.parquet(out)
      assert(back.count() == docs.count())
      assert(back.select("doc_id", "shard").collect()
        .forall(r => assign(r.getLong(0)) == r.getAs[Number]("shard").longValue()))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
