package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.ops.Txn

/** Top-level so MemoryStream's implicit Encoder derivation can find a
  * TypeTag (the StreamingSpec NdDoc rule). */
case class CdcRow(change_op: String, grp: String, v: Long)

/** The transactional-table contract (ops/Txn.scala): atomic pointer-swap
  * commits, torn-writer invisibility (the r8 verdict's "a failed rewrite
  * of a compacted or merged table is not atomic" gap), time travel,
  * version-CAS retry, transactional compaction, and vacuum. */
class TxnSpec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"txn_${tag}_").toString
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(p), true)
    p
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("commit/read roundtrip and time travel") {
    import spark.implicits._
    val root = freshRoot("rt")
    val v1 = Txn.commit((1L to 10L).toDF("id"), root)
    val v2 = Txn.commit((11L to 25L).toDF("id"), root)
    assert(v1 == 1 && v2 == 2)
    assert(Txn.currentVersion(spark, root).contains(2L))
    assert(ids(Txn.read(spark, root)) == (11L to 25L).toSet)
    // old snapshot still pinned — readers of v1 are unaffected by v2
    assert(ids(Txn.readVersion(spark, root, 1)) == (1L to 10L).toSet)
  }

  test("torn writer (crash before publish rename) is invisible to readers") {
    import spark.implicits._
    val root = freshRoot("torn")
    Txn.commit((1L to 5L).toDF("id"), root)
    // simulate the crash: snapshot fully written, manifest staged, the
    // publish rename never ran
    (100L to 200L).toDF("id")
      .write.mode("overwrite").parquet(s"$root/data/torn-attempt")
    val out = fs(root).create(new Path(s"$root/_tmp/staged"), false)
    try out.write("data/torn-attempt".getBytes("UTF-8")) finally out.close()
    assert(Txn.currentVersion(spark, root).contains(1L))
    assert(ids(Txn.read(spark, root)) == (1L to 5L).toSet)
  }

  test("rewrite killed MID-WRITE leaves the previous version intact") {
    import spark.implicits._
    val root = freshRoot("kill")
    Txn.commit((1L to 5L).toDF("id"), root)
    // the new-version computation dies partway through the data write —
    // some task has already flushed parquet bytes when another throws
    val boom = udf((i: Long) =>
      if (i == 9999L) throw new RuntimeException("killed mid-rewrite") else i)
    intercept[Exception] {
      Txn.commit(spark.range(0, 10000, 1, 8).select(boom(col("id")).as("id")), root)
    }
    // no marker was published; readers see version 1 exactly
    assert(Txn.currentVersion(spark, root).contains(1L))
    assert(ids(Txn.read(spark, root)) == (1L to 5L).toSet)
  }

  test("version CAS: a taken version number is skipped, not overwritten") {
    import spark.implicits._
    val root = freshRoot("cas")
    Txn.commit((1L to 3L).toDF("id"), root)
    // a concurrent writer already published version 2 (marker exists);
    // our commit must land at 3 without touching 2
    val out = fs(root).create(new Path(s"$root/_commits/2"), false)
    try out.write("data/someone-else".getBytes("UTF-8")) finally out.close()
    val v = Txn.commit((10L to 12L).toDF("id"), root)
    assert(v == 3L)
    assert(ids(Txn.readVersion(spark, root, 3)) == (10L to 12L).toSet)
  }

  test("transactional compaction: atomic swap, content preserved, files shrink") {
    val root = freshRoot("compact")
    val frag = s"${freshRoot("frag")}/in"
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.repartition(32).write.mode("overwrite").parquet(frag)
    val v1 = Txn.commit(spark.read.parquet(frag), root)
    val fragBytes = {
      var t = 0L
      val it = fs(frag).listFiles(new Path(frag), true)
      while (it.hasNext) { val s = it.next(); if (s.getPath.getName.endsWith(".parquet")) t += s.getLen }
      t
    }
    val (v2, nOut) = Txn.compactCommit(spark, frag, root, math.max(1L, fragBytes / 4))
    assert(v2 == v1 + 1)
    assert(nOut <= 8, s"expected <= 8 compacted files, got $nOut")
    // bit-level content preservation through the committed swap
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(expr("event_id * 31 + crc32(cast(event_type as string))")),
        count(lit(1))).collect().head
    assert(digest(Txn.read(spark, root)) == digest(ev))
    // the fragmented snapshot remains pinned for in-flight readers
    assert(Txn.readVersion(spark, root, v1).count() == ev.count())
  }

  test("data skipping: clustered commit prunes files, pruned read ≡ full filter") {
    import spark.implicits._
    val root = freshRoot("skip")
    // 8 range-clustered files over id 0..7999 → a narrow range hits few
    Txn.commit(
      spark.range(0, 8000).toDF("id")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      root, statsCols = Seq("id"))
    val (kept, Txn.SkipReport(_, total, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.RangeProbe("id", 2100L, 2900L)))
    assert(total >= 8, s"expected >= 8 data files, got $total")
    assert(kept.size < total,
      s"stats pruned nothing: kept ${kept.size} of $total")
    assert(kept.size <= 2, s"narrow range should hit <= 2 files, got ${kept.size}")
    val pruned = ids(Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 2100L, 2900L))))
    assert(pruned == (2100L to 2900L).toSet)
    // no-stats snapshot: pruning keeps everything (never a filter)
    val root2 = freshRoot("skip2")
    Txn.commit((1L to 100L).toDF("id"), root2)
    val (kept2, Txn.SkipReport(_, total2, _, _)) = Txn.skipDecision(spark, root2,
      Txn.currentVersion(spark, root2).get, Seq(Txn.RangeProbe("id", 5L, 10L)))
    assert(kept2.size == total2)
    assert(ids(Txn.readSkipping(spark, root2, Seq(Txn.RangeProbe("id", 5L, 10L)))) ==
      (5L to 10L).toSet)
  }

  test("commitIf: stale writer detected, fresh writer lands") {
    import spark.implicits._
    val root = freshRoot("occ")
    Txn.commit((1L to 5L).toDF("id"), root) // v1
    // writer A reads at v1 and starts computing; writer B lands v2 first
    Txn.commit((6L to 9L).toDF("id"), root) // v2
    intercept[java.util.ConcurrentModificationException] {
      Txn.commit((100L to 105L).toDF("id"), root, expectedBase = Some(1L))
    }
    // loser's orphan snapshot never became visible
    assert(ids(Txn.read(spark, root)) == (6L to 9L).toSet)
    // after re-reading at v2, the recomputed rewrite lands as v3
    val v3 = Txn.commit((200L to 202L).toDF("id"), root, expectedBase = Some(2L))
    assert(v3 == 3L)
    assert(ids(Txn.read(spark, root)) == (200L to 202L).toSet)
  }

  test("changes feed: update = delete+insert pair, keeps absent, multi-step") {
    import spark.implicits._
    def snap(rows: (Long, String)*) = rows.toDF("id", "v")
    val root = freshRoot("cdc")
    Txn.commit(snap(1L -> "a", 2L -> "b", 3L -> "c"), root)        // v1
    Txn.commit(snap(1L -> "a", 2L -> "B2", 4L -> "d"), root)       // v2: upd 2, del 3, ins 4
    Txn.commit(snap(1L -> "a", 2L -> "B2", 4L -> "d", 5L -> "e"), root) // v3: ins 5
    val step2 = Txn.changes(spark, root, 1L, 2L)
      .select("change_op", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(step2 == Set(("delete", 2L, "b"), ("insert", 2L, "B2"),
      ("delete", 3L, "c"), ("insert", 4L, "d")))
    val all = Txn.changes(spark, root, 1L, 3L)
      .select("change_op", "id", "change_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == Set(("delete", 2L, 2L), ("insert", 2L, 2L),
      ("delete", 3L, 2L), ("insert", 4L, 2L), ("insert", 5L, 3L)))
    // untouched row 1 never entered the feed (checked by the Sets above)
  }

  test("incremental view maintenance across cycles ≡ recompute at every version") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    def snap(rows: (Long, String, Long)*) = rows.toDF("id", "grp", "v")
    val root = freshRoot("ivm")
    Txn.commit(snap((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)), root)   // v1
    Txn.commit(snap((1L, "a", 11L), (3L, "b", 5L), (4L, "c", 7L)), root)    // v2: upd 1, del 2, ins 4
    Txn.commit(snap((1L, "a", 11L), (4L, "c", 9L)), root)                   // v3: del 3 (b empties), upd 4
    def agg(df: DataFrame) = df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    def toMap(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var mat = agg(Txn.readVersion(spark, root, 1L))
    (2L to 3L).foreach { ver =>
      val delta = Txn.changes(spark, root, ver - 1, ver)
        .withColumn("sgn",
          when(col("change_op") === "insert", lit(1L)).otherwise(lit(-1L)))
        .groupBy("grp")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("v")).as("ds"))
      mat = mat.join(delta, Seq("grp"), "full_outer")
        .select(col("grp"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
        .where(col("n") > 0)
      assert(toMap(mat) == toMap(agg(Txn.readVersion(spark, root, ver))),
        s"incremental refresh diverged from recompute at version $ver")
    }
    // group b was born, emptied, and dropped through the cycles
    assert(!toMap(mat).contains("b"))
  }

  test("commit history records writer metadata per version; old manifests parse") {
    import spark.implicits._
    val root = freshRoot("hist")
    Txn.commit((1L to 3L).toDF("id"), root,
      meta = Map("op" -> "bootstrap", "job" -> "ingest-42"))
    Txn.commit((4L to 6L).toDF("id"), root) // metadata-free (the v1 format)
    Txn.commit((7L to 9L).toDF("id"), root, expectedBase = Some(2L),
      meta = Map("op" -> "compact"))
    val h = Txn.history(spark, root)
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    assert(h(0)._3 == Map("op" -> "bootstrap", "job" -> "ingest-42"))
    assert(h(1)._3 == Map.empty)
    assert(h(2)._3 == Map("op" -> "compact"))
    // the data pointer is still the line-1 contract: reads unaffected
    assert(ids(Txn.read(spark, root)) == (7L to 9L).toSet)
    assert(ids(Txn.readVersion(spark, root, 1L)) == (1L to 3L).toSet)
    intercept[IllegalArgumentException] {
      Txn.commit((1L to 2L).toDF("id"), root, meta = Map("bad\tkey" -> "x"))
    }
  }

  test("CDC replay from genesis through a streaming aggregation == snapshot agg") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def snap(rows: (Long, String, Long)*) = rows.toDF("id", "grp", "v")
    val root = freshRoot("replay")
    Txn.commit(snap((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)), root)  // v1
    Txn.commit(snap((1L, "a", 11L), (3L, "b", 5L), (4L, "c", 7L)), root)   // v2
    Txn.commit(snap((1L, "a", 11L), (4L, "c", 9L)), root)                  // v3
    // the genesis feed: version 1 IS its own change set (all inserts),
    // then the committed per-version diffs — one micro-batch per version
    def step(ver: Long): Seq[CdcRow] =
      (if (ver == 1L)
        Txn.readVersion(spark, root, 1L)
          .select(lit("insert").as("change_op"), col("grp"), col("v"))
      else
        Txn.changes(spark, root, ver - 1, ver).select("change_op", "grp", "v"))
        .as[CdcRow].collect().toSeq
    val source = MemoryStream[CdcRow]
    val agg = source.toDF()
      .withColumn("sgn",
        when(col("change_op") === "insert", lit(1L)).otherwise(lit(-1L)))
      .groupBy("grp")
      .agg(sum(col("sgn")).as("n"), sum(col("sgn") * col("v")).as("s"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("cdc_replay").start()
    try {
      (1L to 3L).foreach { ver =>
        source.addData(step(ver): _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("cdc_replay")
        .where(col("n") > 0).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = Txn.readVersion(spark, root, 3L)
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed == batch,
        s"CDC replay state $streamed != snapshot aggregate $batch")
      assert(!streamed.contains("b")) // group b emptied mid-replay
    } finally q.stop()
  }

  test("append commits: O(shard) manifests, union reads, time travel per append") {
    import spark.implicits._
    val root = freshRoot("app")
    Txn.commit((1L to 3L).toDF("id"), root)
    val v2 = Txn.commitAppend((4L to 6L).toDF("id"), root)
    val v3 = Txn.commitAppend((7L to 9L).toDF("id"), root)
    assert(v2 == 2L && v3 == 3L)
    assert(ids(Txn.read(spark, root)) == (1L to 9L).toSet)
    assert(ids(Txn.readVersion(spark, root, 2L)) == (1L to 6L).toSet)
    assert(ids(Txn.readVersion(spark, root, 1L)) == (1L to 3L).toSet)
    // appending to an uninitialized table is a caller bug
    intercept[IllegalArgumentException] {
      Txn.commitAppend((1L to 2L).toDF("id"), freshRoot("app2"))
    }
  }

  test("append rebase: a racer's version is absorbed, no rows lost") {
    import spark.implicits._
    val root = freshRoot("appr")
    Txn.commit((1L to 3L).toDF("id"), root)
    // racer publishes version 2 (a valid manifest reusing v1's dirs —
    // i.e. a no-op rewrite) before our append's rename
    val v1dirs = {
      val in = fs(root).open(new Path(s"$root/_commits/1"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.split('\n').head
      finally in.close()
    }
    val out = fs(root).create(new Path(s"$root/_commits/2"), false)
    try out.write(v1dirs.getBytes("UTF-8")) finally out.close()
    val v = Txn.commitAppend((10L to 12L).toDF("id"), root)
    assert(v == 3L, s"append should rebase onto the racer's tip, landed at $v")
    assert(ids(Txn.read(spark, root)) == ((1L to 3L) ++ (10L to 12L)).toSet)
  }

  test("append schema evolution: added nullable column null-fills older rows") {
    import spark.implicits._
    val root = freshRoot("appse")
    Txn.commit(Seq((1L, "x")).toDF("id", "a"), root)
    Txn.commitAppend(Seq((2L, "y", 99L)).toDF("id", "a", "extra"), root)
    val cur = Txn.read(spark, root)
    assert(cur.columns.toSet == Set("id", "a", "extra"))
    val rows = cur.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("extra")))
    assert(rows(1).getLong(rows(1).fieldIndex("extra")) == 99L)
    // version 1 read alone keeps its original 2-column schema
    assert(Txn.readVersion(spark, root, 1L).columns.toSet == Set("id", "a"))
    // schema ENFORCEMENT: a shard changing a shared column's TYPE is
    // rejected at WRITE time (it would poison every later read)
    val err = intercept[IllegalArgumentException] {
      Txn.commitAppend(Seq(("3", "z")).toDF("id", "a"), root) // id now string
    }
    assert(err.getMessage.contains("changes column id"))
    assert(Txn.currentVersion(spark, root).contains(2L)) // nothing landed
  }

  test("CDC fast path: append steps serve inserts at file level, rewrites diff") {
    import spark.implicits._
    val root = freshRoot("appcdc")
    Txn.commit((1L to 3L).toDF("id"), root)            // v1
    Txn.commitAppend((4L to 5L).toDF("id"), root)      // v2 (append)
    Txn.commit((2L to 5L).toDF("id"), root)            // v3 (rewrite: drops 1)
    val ch = Txn.changes(spark, root, 1L, 3L)
      .select("change_op", "id", "change_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ch == Set(("insert", 4L, 2L), ("insert", 5L, 2L), ("delete", 1L, 3L)))
    // the append step's plan reads ONLY the appended dir — no Except
    val appendStep = Txn.changes(spark, root, 1L, 2L)
    val plan = appendStep.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Except"), s"append CDC step must not diff:\n$plan")
  }

  test("stats pruning spans appended dirs; vacuum keeps every referenced dir") {
    import spark.implicits._
    val root = freshRoot("appst")
    Txn.commit(spark.range(0, 1000).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, statsCols = Seq("id"))
    Txn.commitAppend(spark.range(1000, 2000).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      root, statsCols = Seq("id"))
    val (kept, Txn.SkipReport(_, total, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.RangeProbe("id", 1200L, 1400L)))
    assert(total >= 8, s"expected >= 8 files across both dirs, got $total")
    assert(kept.size <= 2, s"range in the appended dir should prune base files, got ${kept.size}")
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 1200L, 1400L)))) ==
      (1200L to 1400L).toSet)
    Txn.vacuum(spark, root, keepLast = 1)
    // the kept version references BOTH dirs — vacuum must retain both
    assert(Txn.read(spark, root).count() == 2000L)
  }

  test("exactly-once streaming sink: foreachBatch + appendIdempotent dedups replays") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("eo")
    Txn.commit(Seq.empty[Long].toDF("id"), root) // bootstrap the table
    val source = MemoryStream[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val q = source.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // replay every batch once — the at-least-once delivery the
        // sink contract must absorb
        val batch = df.toDF("id")
        seen += ((id, Txn.appendIdempotent(batch, root, "eo-query", id)))
        seen += ((id, Txn.appendIdempotent(batch, root, "eo-query", id)))
        ()
      }.start()
    try {
      source.addData(1L, 2L, 3L); q.processAllAvailable()
      source.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    // each batch landed exactly once; the replay was recognized
    assert(seen.count(_._2.isDefined) == 2, s"appends: $seen")
    assert(seen.count(_._2.isEmpty) == 2, s"replays: $seen")
    assert(ids(Txn.read(spark, root)) == Set(1L, 2L, 3L, 4L, 5L))
    // the CDC feed sees each batch as one file-level insert step
    val ch = Txn.changes(spark, root, 1L, Txn.currentVersion(spark, root).get)
      .groupBy("change_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ch == Map(2L -> 3L, 3L -> 2L))
  }

  test("manifest reads drain fully: an append-chain manifest past 8KB parses whole") {
    import spark.implicits._
    val root = freshRoot("bigman")
    Txn.commit((1L to 3L).toDF("id"), root)
    // plant a v2 manifest listing the v1 dir 400 times (~15KB line) +
    // a metadata line — the short-read/truncation regression (r9
    // review): a single bounded read() dropped committed dirs silently
    val v1dir = {
      val in = fs(root).open(new Path(s"$root/_commits/1"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.split('\n').head
      finally in.close()
    }
    val body = Seq.fill(400)(v1dir).mkString(",") + "\nop\tplanted"
    val out = fs(root).create(new Path(s"$root/_commits/2"), false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    assert(Txn.readVersion(spark, root, 2L).count() == 400L * 3,
      "every one of the 400 manifest dirs must be read")
    assert(Txn.history(spark, root).last._3 == Map("op" -> "planted"),
      "the metadata line after a >8KB dir list must parse")
  }

  test("CDC over a no-op rewrite step (identical dir list) is empty, not a crash") {
    import spark.implicits._
    val root = freshRoot("noop")
    Txn.commit((1L to 3L).toDF("id"), root)
    val v1dir = {
      val in = fs(root).open(new Path(s"$root/_commits/1"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val out = fs(root).create(new Path(s"$root/_commits/2"), false)
    try out.write(v1dir.getBytes("UTF-8")) finally out.close()
    Txn.commitAppend((4L to 5L).toDF("id"), root) // v3
    val ch = Txn.changes(spark, root, 1L, 3L)
      .select("change_op", "id", "change_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ch == Set(("insert", 4L, 3L), ("insert", 5L, 3L)))
  }

  test("CDC and pruned reads respect schema evolution across append steps") {
    import spark.implicits._
    val root = freshRoot("evcdc")
    Txn.commit(Seq((1L, "x")).toDF("id", "a"), root)
    Txn.commitAppend(Seq((2L, "y", 99L)).toDF("id", "a", "extra"), root)
    Txn.commitAppend(Seq((3L, "z")).toDF("id", "a"), root)
    // the union across steps null-fills the evolved column (r9 review:
    // strict unionByName died on it)
    val ch = Txn.changes(spark, root, 1L, 3L)
    assert(ch.columns.contains("extra"))
    val rows = ch.orderBy("id").collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("id"))).toSeq == Seq(2L, 3L))
    assert(rows(0).getLong(rows(0).fieldIndex("extra")) == 99L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("extra")))
    // pruned read over the evolved multi-dir version keeps the merged
    // schema regardless of which files survive pruning
    val root2 = freshRoot("evprune")
    Txn.commit(spark.range(0, 100).toDF("id"), root2, statsCols = Seq("id"))
    Txn.commitAppend(spark.range(100, 200).toDF("id")
      .withColumn("extra", col("id") * 2), root2, statsCols = Seq("id"))
    val prunedOld = Txn.readSkipping(spark, root2, Seq(Txn.RangeProbe("id", 10L, 20L)))
    assert(prunedOld.columns.contains("extra"),
      "a pruned read that keeps only pre-evolution files must still surface the evolved column")
    assert(prunedOld.where(col("extra").isNull).count() == 11L)
  }

  test("tombstone deletes: O(keys) commit, log-order replay, compaction clears") {
    import spark.implicits._
    val root = freshRoot("del")
    Txn.commit((1L to 10L).toDF("id"), root)                      // v1
    Txn.commitDelete(spark, root, Seq("id"), Seq(3L, 7L, 99L).toDF("id"), // v2
      meta = Map("op" -> "gdpr-erasure"))
    assert(ids(Txn.read(spark, root)) == ((1L to 10L).toSet -- Set(3L, 7L)))
    // v1 time travel unaffected by the tombstone
    assert(ids(Txn.readVersion(spark, root, 1L)) == (1L to 10L).toSet)
    // re-insert AFTER the tombstone survives (log-order replay)
    Txn.commitAppend(Seq(3L).toDF("id"), root)                    // v3
    assert(ids(Txn.read(spark, root)) == ((1L to 10L).toSet - 7L))
    // CDC across the tombstone step: generic diff emits the deletes
    val ch = Txn.changes(spark, root, 1L, 2L)
      .select("change_op", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch == Set(("delete", 3L), ("delete", 7L)))
    // data-skipping reads WORK on the tombstoned version (r10): files
    // prune by stats first, then the tombstone anti-join folds over the
    // pruned scan — prunedRead ≡ read().where(...) with fewer files
    Txn.commit(spark.range(0, 8000).toDF("id")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      root, statsCols = Seq("id"))
    Txn.commitDelete(spark, root, Seq("id"), Seq(5L, 4000L).toDF("id"))
    val (keptT, Txn.SkipReport(_, totalT, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.RangeProbe("id", 0L, 10L)))
    assert(keptT.size < totalT,
      s"tombstoned version must still prune: kept ${keptT.size} of $totalT")
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 0L, 10L)))) ==
      ((0L to 10L).toSet - 5L))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 3995L, 4005L)))) ==
      ((3995L to 4005L).toSet - 4000L))
    // ...and compaction (a full commit of the folded read) restores the
    // join-free path
    Txn.commit(Txn.read(spark, root).repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"), root, statsCols = Seq("id"))
    val (kept, Txn.SkipReport(_, total, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.RangeProbe("id", 0L, 10L)))
    assert(kept.size < total)
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 0L, 10L)))) ==
      ((0L to 10L).toSet - 5L))
    // vacuum keeps tombstone dirs the retained version references
    val root2 = freshRoot("delvac")
    Txn.commit((1L to 5L).toDF("id"), root2)
    Txn.commitDelete(spark, root2, Seq("id"), Seq(2L).toDF("id"))
    Txn.vacuum(spark, root2, keepLast = 1, retentionMs = 0L)
    assert(ids(Txn.read(spark, root2)) == Set(1L, 3L, 4L, 5L))
  }

  test("vacuum drops unreferenced snapshots and keeps the current one readable") {
    import spark.implicits._
    val root = freshRoot("vac")
    Txn.commit((1L to 4L).toDF("id"), root)
    Txn.commit((5L to 9L).toDF("id"), root)
    // orphan from a crashed writer — vacuum's other target (retention 0
    // = the drained single-writer maintenance window)
    (0L to 2L).toDF("id").write.parquet(s"$root/data/orphan")
    Txn.vacuum(spark, root, keepLast = 1, retentionMs = 0L)
    assert(ids(Txn.read(spark, root)) == (5L to 9L).toSet)
    assert(Txn.currentVersion(spark, root).contains(2L))
    intercept[IllegalArgumentException] { Txn.readVersion(spark, root, 1) }
    val dataDirs = fs(root).listStatus(new Path(s"$root/data")).length
    assert(dataDirs == 1, s"vacuum left $dataDirs snapshots, expected 1")
    assert(!fs(root).exists(new Path(s"$root/_tmp")))
  }

  test("vacuum retention protects an in-flight writer's staged artifacts") {
    import spark.implicits._
    val root = freshRoot("vret")
    Txn.commit((1L to 4L).toDF("id"), root)
    Txn.commit((5L to 9L).toDF("id"), root)
    // a concurrent writer mid-commit: snapshot written, manifest staged,
    // publish rename not yet run — both are FRESH (mtime = now)
    (100L to 110L).toDF("id").write.parquet(s"$root/data/inflight")
    val out = fs(root).create(new Path(s"$root/_tmp/staged-inflight"), false)
    try out.write("data/inflight".getBytes("UTF-8")) finally out.close()
    // default retention: neither fresh artifact may be deleted, while
    // the old version's manifest still drops (manifests are the log,
    // not writer state)
    Txn.vacuum(spark, root, keepLast = 1)
    assert(fs(root).exists(new Path(s"$root/data/inflight")),
      "vacuum deleted a fresh unpublished snapshot — the torn-table hole")
    assert(fs(root).exists(new Path(s"$root/_tmp/staged-inflight")),
      "vacuum deleted a fresh staged manifest out from under its writer")
    // the writer's publish still succeeds and its data is intact
    assert(fs(root).rename(new Path(s"$root/_tmp/staged-inflight"),
      new Path(s"$root/_commits/3")))
    assert(ids(Txn.read(spark, root)) == (100L to 110L).toSet)
  }

  test("commitDelete rejects manifest-metacharacter key columns") {
    import spark.implicits._
    val root = freshRoot("badkey")
    Txn.commit((1L to 3L).toDF("a,b"), root)
    intercept[IllegalArgumentException] {
      Txn.commitDelete(spark, root, Seq("a,b"), Seq(1L).toDF("a,b"))
    }
  }

  test("CDC across a schema-evolving rewrite: null-filled diffs") {
    import spark.implicits._
    val root = freshRoot("cdcev")
    Txn.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"), root) // v1
    // rewrite v2 ADDS a nullable column: row 1 carried over (extra
    // null), row 2 backfilled, row 3 inserted
    Txn.commit(Seq((1L, "a", null.asInstanceOf[java.lang.Long]),
      (2L, "b", java.lang.Long.valueOf(20L)),
      (3L, "c", java.lang.Long.valueOf(30L))).toDF("id", "grp", "extra"),
      root) // v2
    val ch = Txn.changes(spark, root, 1L, 2L)
      .select("change_op", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // row 1's null-filled prior self compares equal → no change event
    assert(ch == Set(("insert", 2L), ("insert", 3L), ("delete", 2L)))
    // rewrite v3 DROPS the column again — diff still serves, null-filled
    Txn.commit(Seq((2L, "b"), (3L, "c")).toDF("id", "grp"), root) // v3
    val ch2 = Txn.changes(spark, root, 2L, 3L)
      .select("change_op", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch2 == Set(("delete", 1L), ("delete", 2L), ("delete", 3L),
      ("insert", 2L), ("insert", 3L)))
    // a TYPE change stays fail-loud
    Txn.commit(Seq(("2", "b")).toDF("id", "grp"), root) // v4: id now string
    val err = intercept[IllegalArgumentException] {
      Txn.changes(spark, root, 3L, 4L).collect()
    }
    assert(err.getMessage.contains("changed type"))
  }

  test("upsert: one atomic tombstone+insert extension, last writer wins per key") {
    import spark.implicits._
    val root = freshRoot("ups")
    def kv(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Txn.commit((1L to 10L).map(i => (i, s"old$i")).toDF("id", "v"), root) // v1
    // matched keys 5..10 replaced, unmatched 11..12 inserted — ONE commit
    val v2 = Txn.commitUpsert(
      (5L to 12L).map(i => (i, s"new$i")).toDF("id", "v"), root, "id")
    assert(v2 == 2L)
    val expect = ((1L to 4L).map(i => i -> s"old$i") ++
      (5L to 12L).map(i => i -> s"new$i")).toMap
    assert(kv(Txn.read(spark, root)) == expect)
    // no intermediate keys-deleted version exists: v1 intact, v2 whole
    assert(kv(Txn.readVersion(spark, root, 1)) ==
      (1L to 10L).map(i => i -> s"old$i").toMap)
    // a second upsert of an already-upserted key: newest value wins
    Txn.commitUpsert(Seq((5L, "newer5")).toDF("id", "v"), root, "id")
    assert(kv(Txn.read(spark, root)) == (expect + (5L -> "newer5")))
    // CDC across the upsert step is truthful: replaced rows emit
    // delete+insert pairs, inserts bare inserts, untouched rows nothing
    val ch = Txn.changes(spark, root, 1L, 2L)
      .select("change_op", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch == ((5L to 10L).map(i => ("delete", i)) ++
      (5L to 12L).map(i => ("insert", i))).toSet)
  }

  test("mergeIdempotent: live CDC stream upserts exactly once across replays") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("eomerge")
    Txn.commit(Seq((1L, "base1"), (2L, "base2")).toDF("id", "v"), root)
    val source = MemoryStream[(Long, String)]
    val landed = scala.collection.mutable.ArrayBuffer.empty[Option[Long]]
    val q = source.toDF().toDF("id", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // replay every batch — at-least-once delivery absorbed to
        // exactly-once MERGE
        landed += Txn.mergeIdempotent(df, root, "id", "merge-query", id)
        landed += Txn.mergeIdempotent(df, root, "id", "merge-query", id)
        ()
      }.start()
    try {
      source.addData((2L, "upd2"), (3L, "ins3")); q.processAllAvailable()
      source.addData((3L, "upd3")); q.processAllAvailable()
    } finally q.stop()
    assert(landed.count(_.isDefined) == 2 && landed.count(_.isEmpty) == 2,
      s"landed: $landed")
    val got = Txn.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "base1", 2L -> "upd2", 3L -> "upd3"))
    // history is truthful: exactly one version per batch, no replay stack
    assert(Txn.currentVersion(spark, root).contains(3L))
  }

  test("concurrent upserts: both rebase and land, no batch lost") {
    import spark.implicits._
    val root = freshRoot("upsrace")
    def kv(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Txn.commit((1L to 10L).map(i => (i, s"old$i")).toDF("id", "v"), root)
    // two live writers upsert different key ranges at once — the rebase
    // loop must absorb whichever wins version 2 and land the other at 3
    val a = new Thread(() => Txn.commitUpsert(
      (1L to 3L).map(i => (i, s"a$i")).toDF("id", "v"), root, "id"))
    val b = new Thread(() => Txn.commitUpsert(
      (8L to 12L).map(i => (i, s"b$i")).toDF("id", "v"), root, "id"))
    a.start(); b.start(); a.join(); b.join()
    assert(Txn.currentVersion(spark, root).contains(3L))
    val expect = (1L to 3L).map(i => i -> s"a$i").toMap ++
      (4L to 7L).map(i => i -> s"old$i") ++
      (8L to 12L).map(i => i -> s"b$i")
    assert(kv(Txn.read(spark, root)) == expect)
  }

  test("mixed writer race: append + upsert + delete all land, none lost") {
    import spark.implicits._
    val root = freshRoot("mixrace")
    def kv(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Txn.commit((1L to 10L).map(i => (i, s"old$i")).toDF("id", "v"), root)
    // three different commit flavors race the same version numbers —
    // every rebase loop must absorb the others' wins
    val a = new Thread(() => Txn.commitAppend(
      Seq((20L, "app20")).toDF("id", "v"), root))
    val b = new Thread(() => Txn.commitUpsert(
      Seq((5L, "ups5")).toDF("id", "v"), root, "id"))
    val c = new Thread(() => Txn.commitDelete(spark, root, Seq("id"),
      Seq(9L).toDF("id")))
    a.start(); b.start(); c.start(); a.join(); b.join(); c.join()
    assert(Txn.currentVersion(spark, root).contains(4L))
    val got = kv(Txn.read(spark, root))
    // the delete and the upsert raced: if the tombstone landed AFTER
    // the upsert of a DIFFERENT key it still only erases key 9; all
    // three effects must be present regardless of commit order
    val base = (1L to 10L).map(i => i -> s"old$i").toMap
    assert(got == (base - 9L) + (5L -> "ups5") + (20L -> "app20"),
      s"lost an effect: $got")
  }

  test("restore: O(manifest) rollback, restored dirs survive vacuum") {
    import spark.implicits._
    val root = freshRoot("restore")
    Txn.commit((1L to 10L).toDF("id"), root)   // v1
    Txn.commit((100L to 105L).toDF("id"), root) // v2: the bad deploy
    val v3 = Txn.restore(spark, root, 1L)
    assert(v3 == 3L)
    assert(ids(Txn.read(spark, root)) == (1L to 10L).toSet)
    // zero data moved: still exactly the two committed snapshot dirs
    assert(fs(root).listStatus(new Path(s"$root/data")).length == 2)
    // audit trail: the restore records its source version
    val (_, _, meta) = Txn.history(spark, root).last
    assert(meta.get("restoredFrom").contains("1"))
    // vacuum keeps the restored version's dirs alive (they are
    // referenced by the retained tip) and drops the bad deploy's
    Txn.vacuum(spark, root, keepLast = 1, retentionMs = 0L)
    assert(ids(Txn.read(spark, root)) == (1L to 10L).toSet)
    assert(intercept[IllegalArgumentException] {
      Txn.readVersion(spark, root, 2L)
    }.getMessage.contains("never committed"))
    // restoring a vacuumed version fails loud — nothing left to restore
    assert(intercept[IllegalArgumentException] {
      Txn.restore(spark, root, 2L)
    }.getMessage.contains("vacuumed"))
  }

  test("clone: zero-copy init, copy-on-write divergence, source-vacuum caveat") {
    import spark.implicits._
    val src = freshRoot("clsrc")
    val dst = freshRoot("cldst")
    Txn.commit((1L to 10L).toDF("id"), src)
    Txn.cloneTable(spark, src, dst)
    assert(ids(Txn.read(spark, dst)) == (1L to 10L).toSet)
    // zero-copy: the clone holds NO data of its own yet
    assert(!fs(dst).exists(new Path(s"$dst/data")))
    // copy-on-write: appends to the clone land in the CLONE's data/
    Txn.commitAppend((11L to 12L).toDF("id"), dst)
    assert(ids(Txn.read(spark, dst)) == (1L to 12L).toSet)
    assert(ids(Txn.read(spark, src)) == (1L to 10L).toSet)
    assert(fs(dst).listStatus(new Path(s"$dst/data")).length == 1)
    // source rewrites never leak into the clone (snapshots immutable)
    Txn.commit((50L to 60L).toDF("id"), src)
    assert(ids(Txn.read(spark, dst)) == (1L to 12L).toSet)
    // refuse to overlay an initialized table
    assert(intercept[IllegalArgumentException] {
      Txn.cloneTable(spark, src, dst)
    }.getMessage.contains("refusing"))
    // the documented caveat is REAL: aggressive source vacuum deletes
    // dirs the clone still references — reads break until a deep copy
    Txn.vacuum(spark, src, keepLast = 1, retentionMs = 0L)
    intercept[Exception] { Txn.read(spark, dst).collect() }
  }

  test("bloom point skipping: prunes where min/max cannot, one-sided") {
    import spark.implicits._
    val root = freshRoot("bloom")
    // clustered by grp; key is a permutation spread over the whole
    // domain, so every file's key min/max spans ~everything
    val n = 8000L
    val df = (1L to n).map { i =>
      (i / 1000L, (i * 2654435761L) % 1000003L)
    }.toDF("grp", "key")
    Txn.commit(
      df.repartitionByRange(8, col("grp")).sortWithinPartitions("grp"),
      root, statsCols = Seq("key"), bloomCols = Seq("key"),
      bloomBits = 1 << 17)
    val probe = (4321L * 2654435761L) % 1000003L // an existing key
    // min/max on the unclustered key keeps ~EVERY file for the point
    // (a permuted key's per-file range spans nearly the whole domain;
    // allow one lucky miss at the domain edges)…
    val (mmKept, Txn.SkipReport(_, total, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.RangeProbe("key", probe, probe)))
    assert(total >= 8 && mmKept.size >= total - 1,
      s"range stats should keep ~all $total files, kept ${mmKept.size}")
    // …the bloom keeps a small fraction
    val (_, Txn.SkipReport(bKept, bTotal, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.PointProbe("key", Seq(probe))))
    assert(bTotal == total && bKept <= math.max(2, total / 4),
      s"bloom kept $bKept of $bTotal")
    // content ≡ the plain filter (one-sidedness means no lost match)
    val got = Txn.readSkipping(spark, root, Seq(Txn.PointProbe("key", Seq(probe))))
      .select("grp").collect().map(_.getLong(0)).sorted.toSeq
    val want = df.where(col("key") === probe)
      .select("grp").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // an absent key returns nothing (and prunes to ~nothing)
    assert(Txn.readSkipping(spark, root, Seq(Txn.PointProbe("key", Seq(999999937L)))).count() == 0L)
    // compaction RE-DERIVES the sidecars on the compacted layout — the
    // point-query path survives the chain-collapsing rewrite
    val flat = freshRoot("bloomflat")
    df.write.parquet(s"$flat/in")
    Txn.compactCommit(spark, s"$flat/in", root, targetBytes = 16L * 1024,
      bloomCols = Seq("key"), bloomBits = 1 << 17)
    val (_, Txn.SkipReport(k3, t3, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.PointProbe("key", Seq(probe))))
    assert(t3 >= 3 && k3 < t3, s"compacted bloom kept $k3 of $t3")
    assert(Txn.readSkipping(spark, root, Seq(Txn.PointProbe("key", Seq(probe))))
      .select("grp").collect().map(_.getLong(0)).sorted.toSeq == want)
  }

  test("partitioned layout: dir-level pruning, O(shard) appends, deletes compose") {
    import spark.implicits._
    val root = freshRoot("part")
    val df = (1L to 4000L).map(i => (i, i % 8L)).toDF("id", "day")
    Txn.commit(df, root, partitionBy = Some("day"))
    // the directory listing IS the index: 1 of 8 partitions opened
    assert(Txn.partitionCensus(spark, root, Seq(Txn.PartProbe("day", Seq(3L)))) == ((1, 8)))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("day", Seq(3L))))) ==
      (1L to 4000L).filter(_ % 8 == 3).toSet)
    // partition column materializes from dir names on a full read
    assert(Txn.read(spark, root).count() == 4000L)
    // O(shard) partitioned append: a new day lands as one more dir
    Txn.commitAppend(
      (5001L to 5100L).map(i => (i, 9L)).toDF("id", "day"), root, partitionBy = Some("day"))
    assert(Txn.partitionCensus(spark, root, Seq(Txn.PartProbe("day", Seq(9L)))) == ((1, 9)))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("day", Seq(9L))))) ==
      (5001L to 5100L).toSet)
    // the CDC fast path serves a partitioned append at file level WITH
    // the partition column materialized from the dir names
    val ch = Txn.changes(spark, root, 1L, 2L)
      .select("change_op", "id", "day").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Number](2).longValue())) // partition col type is inferred
    assert(ch.length == 100 && ch.forall(c => c._1 == "insert" && c._3 == 9L))
    // tombstone deletes fold over the pruned partition scan
    Txn.commitDelete(spark, root, Seq("id"), Seq(3L, 11L, 5001L).toDF("id"))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("day", Seq(3L, 9L))))) ==
      ((1L to 4000L).filter(_ % 8 == 3).toSet -- Set(3L, 11L)) ++
        (5002L to 5100L).toSet)
    // r11: file-level reads COMPOSE with partitioned dirs — the
    // partition column reconstructs from the directory values (no
    // sidecars here, so nothing prunes, but semantics hold incl. the
    // tombstone fold and the materialized partition column)
    val pruned = Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 1L, 10L)))
    assert(ids(pruned) == ((1L to 10L).toSet - 3L))
    assert(pruned.select("day").collect().map(_.getAs[Number](1 - 1).longValue())
      .toSet == ((1L to 10L).toSet - 3L).map(_ % 8L))
    // STRING partition values (tenant/source-keyed layout) prune too
    val root2 = freshRoot("partstr")
    Txn.commit(
      Seq((1L, "web"), (2L, "books"), (3L, "web")).toDF("id", "src"),
      root2, partitionBy = Some("src"))
    assert(Txn.partitionCensus(spark, root2, Seq(Txn.PartProbe("src", Seq("web")))) == ((1, 2)))
    assert(ids(Txn.readSkipping(spark, root2, Seq(Txn.PartProbe("src", Seq("web"))))) ==
      Set(1L, 3L))
  }

  test("publishDirFullIf: a replace computed from a stale base fails " +
      "loud and publishes nothing (r11 advice)") {
    import spark.implicits._
    val root = freshRoot("casfull")
    Txn.commit((1L to 5L).toDF("id"), root)
    // stage a replacement snapshot the way the native V2 writer does
    val rel = s"data/${java.util.UUID.randomUUID()}"
    (6L to 9L).toDF("id").write.parquet(s"$root/$rel")
    // a concurrent append moves the table past the pinned base...
    Txn.commitAppend(Seq(100L).toDF("id"), root)
    // ...so the pinned publish must fail loud, not clobber the append
    intercept[java.util.ConcurrentModificationException] {
      Txn.publishDirFull(spark, root, rel, expectedBase = Some(1L))
    }
    assert(ids(Txn.read(spark, root)) == (1L to 5L).toSet + 100L)
    // re-pinned at the NEW tip, the replace lands
    val v = Txn.publishDirFull(spark, root, rel, expectedBase = Some(2L))
    assert(v == 3L && ids(Txn.read(spark, root)) == (6L to 9L).toSet)
  }

  test("table properties: create, merge-update, remove; survive commits") {
    import spark.implicits._
    val root = freshRoot("props")
    Txn.commit((1L to 3L).toDF("id"), root)
    assert(Txn.tableProps(spark, root).isEmpty)
    Txn.setTableProps(spark, root, Map("key" -> "id"))
    Txn.setTableProps(spark, root, Map("partition" -> "day"))
    assert(Txn.tableProps(spark, root) ==
      Map("key" -> "id", "partition" -> "day"))
    // properties live OUTSIDE the version chain: commits don't touch them
    Txn.commitAppend(Seq(4L).toDF("id"), root)
    assert(Txn.tableProps(spark, root) ==
      Map("key" -> "id", "partition" -> "day"))
    // null removes
    Txn.setTableProps(spark, root, Map("partition" -> null))
    assert(Txn.tableProps(spark, root) == Map("key" -> "id"))
  }

  test("hive-escaped partition values round-trip through probes, " +
      "sidecars, and file-pruned reads (r11 advice)") {
    import spark.implicits._
    val root = freshRoot("escpart")
    // 'a:b' is stored hive-ESCAPED as 'a%3Ab'; 'a b' is stored RAW
    // (space is not in Hive's escape set) but input_file_name() reports
    // it URI-encoded as 'a%20b'; null stores as the default-partition
    // sentinel. All three must (a) match an unescaped probe value,
    // (b) reconstruct as the ORIGINAL literal (resp. a real null)
    // through the file-pruned scan, and (c) get their stats sidecar
    // INSIDE the real subdir, not a bogus sibling.
    val df = Seq((1L, "a:b"), (2L, "a:b"), (3L, "plain"),
      (4L, null.asInstanceOf[String]), (5L, "a b")).toDF("id", "src")
    Txn.commit(df, root, partitionBy = Some("src"), statsCols = Seq("id"))
    // exactly the four real partition dirs exist — no sidecar debris
    val dataDirs = new java.io.File(root, "data").listFiles()
    val subdirs = dataDirs.head.listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(subdirs ==
      Seq("src=__HIVE_DEFAULT_PARTITION__", "src=a b", "src=a%3Ab", "src=plain"),
      s"unexpected partition layout: $subdirs")
    // every real subdir carries its own stats sidecar
    assert(subdirs.forall(d =>
      new java.io.File(dataDirs.head, s"$d/_stats.tsv").exists()))
    // probe matching escapes: the 'a:b' dir is FOUND, not dropped
    assert(Txn.partitionCensus(spark, root, Seq(Txn.PartProbe("src", Seq("a:b")))) == ((1, 4)))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("src", Seq("a:b"))))) ==
      Set(1L, 2L))
    // two-rung read reconstructs the UNESCAPED literal (the residual
    // `src = 'a:b'` filter would otherwise kill every row)
    val pruned = Txn.readSkipping(spark, root, Seq(Txn.PartProbe("src", Seq("a:b")),
      Txn.RangeProbe("id", 1L, 10L)))
    assert(ids(pruned) == Set(1L, 2L))
    assert(pruned.select("src").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("a:b"))
    // space-valued partition: raw on disk, URI-encoded in
    // input_file_name — probe + reconstruction still exact
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("src", Seq("a b")),
      Txn.RangeProbe("id", 1L, 10L)))) == Set(5L))
    // the null sentinel reconstructs as an actual null through the
    // file-level scan (a range probe keeps all partitions — no dir probe)
    val all = Txn.readSkipping(spark, root, Seq(Txn.RangeProbe("id", 1L, 10L)))
    assert(all.where(col("src").isNull).collect().map(_.getLong(0)).toSeq ==
      Seq(4L))
  }

  test("two-rung skipping: partition dirs, then file stats, then rows") {
    import spark.implicits._
    val root = freshRoot("tworung")
    // year = id % 4 interleaves ids across partitions; range-partition
    // by id first so each year dir holds ~4 files with DISTINCT id
    // ranges — the shape where the file rung has something to prune
    val df = (1L to 8000L).map(i => (i, i % 4L)).toDF("id", "year")
      .repartitionByRange(4, col("id"))
    Txn.commit(df, root, partitionBy = Some("year"), statsCols = Seq("id"))
    val twoRung = Seq(Txn.PartProbe("year", Seq(1L)), Txn.RangeProbe("id", 100L, 300L))
    val (dk, dt) = Txn.partitionCensus(spark, root, twoRung)
    val (_, Txn.SkipReport(fk, fit, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, twoRung)
    assert(dk == 1 && dt == 4, s"directory rung: kept $dk of $dt")
    assert(fk < fit && fk >= 1, s"file rung: kept $fk of $fit in kept dirs")
    def want(rows: Seq[(Long, Long)]): Set[Long] =
      rows.filter { case (i, y) => y == 1L && i >= 100L && i <= 300L }
        .map(_._1).toSet
    val base = (1L to 8000L).map(i => (i, i % 4L))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("year", Seq(1L)),
      Txn.RangeProbe("id", 100L, 300L)))) == want(base))
    // tombstones fold over the two-rung pruned scan
    Txn.commitDelete(spark, root, Seq("id"), Seq(101L, 205L).toDF("id"))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("year", Seq(1L)),
      Txn.RangeProbe("id", 100L, 300L)))) == want(base) -- Set(101L, 205L))
    // a FLAT appended shard in the chain skips the directory rung
    // (one-sided) but still stats-prunes; content stays ≡ plain filter
    Txn.commitAppend((8101L to 8200L).map(i => (i, 1L)).toDF("id", "year"),
      root, statsCols = Seq("id"))
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("year", Seq(1L)),
      Txn.RangeProbe("id", 100L, 8150L)))) ==
      ((100L to 8000L).filter(_ % 4 == 1).toSet -- Set(101L, 205L)) ++
        (8101L to 8150L))
    // bloom sidecars compose with partition subdirs: point reads prune
    // files inside partitions on an unclustered key
    val root2 = freshRoot("partbloom")
    val keyed = (1L to 6000L).map(i => (i, (i * 2654435761L) % 100003L, i % 3L))
      .toDF("id", "key", "tenant").repartition(4)
    Txn.commit(keyed, root2, partitionBy = Some("tenant"),
      bloomCols = Seq("key"), bloomBits = 1 << 17)
    val probe = ((42L * 2654435761L) % 100003L)
    val (_, Txn.SkipReport(bk, bt, _, _)) = Txn.skipDecision(spark, root2,
      Txn.currentVersion(spark, root2).get, Seq(Txn.PointProbe("key", Seq(probe))))
    assert(bk < bt, s"partitioned bloom kept $bk of $bt")
    assert(ids(Txn.readSkipping(spark, root2, Seq(Txn.PointProbe("key", Seq(probe))))) == Set(42L))
  }

  test("maintain: the gauge trips, compaction collapses the chain, reads hold") {
    import spark.implicits._
    val root = freshRoot("maintain")
    spark.conf.set("spark.graft.txn.maintain.maxFiles", "20")
    spark.conf.set("spark.graft.txn.maintain.maxTombstones", "2")
    spark.conf.set("spark.graft.txn.maintain.targetBytes", (1L << 20).toString)
    try {
      Txn.commit((1L to 100L).toDF("id"), root)
      // below both thresholds: maintain is a no-op
      assert(Txn.maintain(spark, root).isEmpty)
      // the production day: small-shard appends + key deletes until the
      // gauge trips (each append lands multi-file via repartition)
      var expected = (1L to 100L).toSet
      (1 to 6).foreach { k =>
        val lo = 100L * k + 1L
        Txn.commitAppend((lo to lo + 99L).toDF("id").repartition(4), root)
        expected ++= (lo to lo + 99L)
        Txn.commitDelete(spark, root, Seq("id"), Seq(lo + 1L).toDF("id"))
        expected -= (lo + 1L)
      }
      val (_, filesBefore, _, tombsBefore) = Txn.tableDetail(spark, root)
      assert(filesBefore > 20 && tombsBefore > 2,
        s"fixture must trip both gauges, got ($filesBefore, $tombsBefore)")
      val before = ids(Txn.read(spark, root))
      assert(before == expected)
      // maintain compacts: one new version, chain collapsed, content =
      val v = Txn.maintain(spark, root, statsCols = Seq("id"))
      assert(v.nonEmpty)
      val (_, filesAfter, _, tombsAfter) = Txn.tableDetail(spark, root)
      assert(filesAfter <= 20 && tombsAfter == 0,
        s"compaction left ($filesAfter files, $tombsAfter tombstones)")
      assert(ids(Txn.read(spark, root)) == expected)
      // the re-derived stats sidecar keeps the point-query path fast
      val (kept, Txn.SkipReport(_, total, _, _)) = Txn.skipDecision(spark, root,
        Txn.currentVersion(spark, root).get, Seq(Txn.RangeProbe("id", 1L, 5L)))
      assert(kept.size < total || total == 1,
        s"stats kept ${kept.size} of $total")
      // gauge now below thresholds: the next tick is a no-op
      assert(Txn.maintain(spark, root).isEmpty)
      // PARTITIONED tables keep their layout through maintenance: the
      // compacted snapshot is still col=value dirs (directory pruning
      // survives), the chain is collapsed, content holds
      val proot = freshRoot("maintain_part")
      Txn.commit(
        (1L to 400L).map(i => (i, i % 4L)).toDF("id", "day")
          .repartition(8), proot, partitionBy = Some("day"))
      Txn.commitDelete(spark, proot, Seq("id"), Seq(7L).toDF("id"))
      val pv = Txn.maintain(spark, proot)
      assert(pv.nonEmpty)
      val (_, _, _, ptombs) = Txn.tableDetail(spark, proot)
      assert(ptombs == 0)
      assert(Txn.partitionCensus(spark, proot, Seq(Txn.PartProbe("day", Seq(2L)))) == ((1, 4)))
      assert(ids(Txn.readSkipping(spark, proot, Seq(Txn.PartProbe("day", Seq(2L))))) ==
        (1L to 400L).filter(_ % 4 == 2).toSet)
      assert(ids(Txn.read(spark, proot)) == (1L to 400L).toSet - 7L)
    } finally {
      spark.conf.unset("spark.graft.txn.maintain.maxFiles")
      spark.conf.unset("spark.graft.txn.maintain.maxTombstones")
      spark.conf.unset("spark.graft.txn.maintain.targetBytes")
    }
  }

  test("timestamp time travel and DESCRIBE DETAIL are metadata-only") {
    import spark.implicits._
    val root = freshRoot("asof")
    Txn.commit((1L to 5L).toDF("id"), root) // v1
    val betweenTs = {
      Thread.sleep(1100) // FS mtime granularity can be a full second
      val t = System.currentTimeMillis(); Thread.sleep(1100); t
    }
    Txn.commit((10L to 12L).toDF("id"), root) // v2
    assert(Txn.versionAsOf(spark, root, betweenTs).contains(1L))
    assert(Txn.versionAsOf(spark, root, System.currentTimeMillis() + 1000)
      .contains(2L))
    assert(Txn.versionAsOf(spark, root, 1000L).isEmpty) // before any commit
    assert(ids(Txn.readVersion(spark, root,
      Txn.versionAsOf(spark, root, betweenTs).get)) == (1L to 5L).toSet)
    // detail reflects the tombstone chain a compaction scheduler watches
    Txn.commitDelete(spark, root, Seq("id"), Seq(10L).toDF("id"))
    val (nVer, nFiles, bytes, nTombs) = Txn.tableDetail(spark, root)
    assert(nVer == 3L && nTombs == 1L && nFiles > 0L && bytes > 0L)
  }

  test("bloom sidecars on appended shards: point skipping spans the chain") {
    import spark.implicits._
    val root = freshRoot("bloomapp")
    def shard(lo: Long, hi: Long) = (lo to hi).map { i =>
      (i / 500L, (i * 2654435761L) % 1000003L)
    }.toDF("grp", "key").repartitionByRange(4, col("grp"))
      .sortWithinPartitions("grp")
    Txn.commit(shard(1L, 2000L), root,
      bloomCols = Seq("key"), bloomBits = 1 << 16)
    // the ingest loop: appended shards carry their own bloom sidecars
    Txn.commitAppend(shard(2001L, 4000L), root,
      bloomCols = Seq("key"), bloomBits = 1 << 16)
    val probe = (3456L * 2654435761L) % 1000003L // lives in the APPENDED shard
    val (_, Txn.SkipReport(kept, total, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.PointProbe("key", Seq(probe))))
    assert(total >= 8 && kept <= total / 2,
      s"bloom should prune across the chain: kept $kept of $total")
    val got = Txn.readSkipping(spark, root, Seq(Txn.PointProbe("key", Seq(probe))))
      .select("grp").collect().map(_.getLong(0)).toSeq.sorted
    assert(got.nonEmpty && got == Txn.read(spark, root)
      .where(col("key") === probe)
      .select("grp").collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("string bloom sidecars skip NULLs: lines match the non-null values " +
      "alone, an all-null file writes no line") {
    import spark.implicits._
    val root = freshRoot("bloomnull")
    val mBits = 1 << 12
    // three files by grp: values with nulls, values only, nulls only
    val df = Seq[(Long, String)]((0L, "a"), (0L, null), (0L, "b"),
      (1L, "c"), (1L, "d"), (2L, null), (2L, null)).toDF("grp", "s")
      .repartitionByRange(3, col("grp"))
    Txn.commit(df, root, bloomCols = Seq("s"), bloomBits = mBits)
    val dataDir = new java.io.File(root, "data").listFiles().head
    val lines = scala.io.Source.fromFile(new java.io.File(dataDir, "_bloom.tsv"))
      .getLines().toSet
    val byFile = spark.read.parquet(dataDir.getPath)
      .select(regexp_extract(input_file_name(), "[^/]+$", 0), col("s"))
      .collect().groupBy(_.getString(0))
      .map { case (file, rows) => file -> rows.map(_.getString(1)).toSeq }
    val allNull = byFile.collect { case (file, vs) if vs.forall(_ == null) => file }
    assert(byFile.size == 3 && allNull.size == 1, s"fixture layout: $byFile")
    val agg = new graft.functions.BloomGramAgg(mBits)
    val want = byFile.collect { case (file, vs) if vs.exists(_ != null) =>
      val bits = vs.filter(_ != null)
        .foldLeft(agg.zero)((b, v) => agg.reduce(b, Txn.bloomStringHash(v)))
      val bytes = java.nio.ByteBuffer.allocate(bits.length * 8)
      bits.foreach(bytes.putLong)
      s"$file\ts\t${java.util.Base64.getEncoder.encodeToString(bytes.array())}"
    }.toSet
    assert(lines == want, s"bloom lines differ from the non-null build: $lines")
    assert(!lines.exists(_.startsWith(s"${allNull.head}\t")),
      "an all-null file must write no bloom line")
  }

  test("widening appends: a same-chain wider shard is accepted, mixed " +
      "chains read union-coerced, CDC diffs across the boundary (r13)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshRoot("widen")
    Txn.commit(Seq((1, 1.5f), (2, 2.5f)).toDF("k", "bal"), root)
    // a WIDER shard appends (int->long, float->double): lossless, so
    // the guard admits it where a cross-family change stays refused
    Txn.commitAppend(Seq((3000000000L, 3.5d)).toDF("k", "bal"), root)
    val df = Txn.read(spark, root)
    assert(df.schema("k").dataType == LongType &&
      df.schema("bal").dataType == DoubleType,
      s"mixed chain must union-coerce to the wider member: ${df.schema}")
    val got = df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.5d), (2L, 2.5d), (3000000000L, 3.5d)))
    // a NARROWER same-chain shard also reads safely (coerces up)
    Txn.commitAppend(Seq((4, 4.5f)).toDF("k", "bal"), root)
    assert(Txn.read(spark, root).count() == 4)
    // cross-family stays poison-guarded
    intercept[IllegalArgumentException] {
      Txn.commitAppend(Seq(("x", 9.9d)).toDF("k", "bal"), root)
    }
    // CDC across the widen boundary: the diff runs in the wider domain
    // and reports exactly the appended rows as inserts
    val cdc = Txn.changes(spark, root, 1L, 2L)
      .select("change_op", "k", "bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cdc == Seq(("insert", 3000000000L, 3.5d)), s"got $cdc")
  }

  test("commitChecked: violation publishes nothing, SQL NULL-check semantics") {
    import spark.implicits._
    val root = freshRoot("check")
    val bad = Seq((1L, -5L), (2L, 3L)).toDF("id", "v")
    val err = intercept[IllegalStateException] {
      Txn.commitChecked(bad, root, Seq("v >= 0"))
    }
    assert(err.getMessage.contains("CHECK (v >= 0)"))
    assert(Txn.currentVersion(spark, root).isEmpty) // nothing published
    // SQL CHECK semantics: a NULL comparison is not a violation
    val withNull = Seq((1L, java.lang.Long.valueOf(5L)),
      (2L, null.asInstanceOf[java.lang.Long])).toDF("id", "v")
    Txn.commitChecked(withNull, root, Seq("v >= 0"))
    assert(Txn.currentVersion(spark, root).contains(1L))
    // NOT NULL is an explicit check when wanted
    intercept[IllegalStateException] {
      Txn.commitChecked(withNull, root, Seq("v IS NOT NULL"))
    }
    assert(Txn.currentVersion(spark, root).contains(1L))
  }

  /** The properties of every Spark job started while `body` runs, with
    * the listener bus drained on both sides so no event of earlier work
    * leaks in and none of `body`'s is lost. */
  private def jobsDuring[T](body: => T): (T, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBusAccess.drain(sc)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).getOrElse(new java.util.Properties))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListenerBusAccess.drain(sc)
      (out, seen.toArray.toSeq.map(_.asInstanceOf[java.util.Properties]))
    } finally sc.removeSparkListener(listener)
  }

  /** A V2 SQL catalog over a fresh root: (catalog name, catalog root). */
  private def sqlCatalog(tag: String): (String, String) = {
    val root = freshRoot(s"cat_$tag")
    val name = s"gtxn_$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.catalog.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  /** The manifest entries of version `v`, absolute. */
  private def entriesOf(root: String, v: Long): Seq[String] = {
    val in = fs(root).open(new Path(s"$root/_commits/$v"))
    val line = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
      finally in.close()
    line.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      val (tomb, d) = if (e.startsWith("~")) ("~", e.drop(1)) else ("", e)
      if (d.startsWith("/") || d.contains("://")) e else s"$tomb$root/$d"
    }
  }

  test("readVersion schema is job-free and equals the inferring reads") {
    import spark.implicits._
    // reference reads: Spark infers each schema from the same dirs
    def partitioned(d: String): Boolean = fs(d).listStatus(new Path(d))
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    def inferDir(d: String) =
      if (partitioned(d)) spark.read.option("basePath", d).parquet(d)
      else spark.read.parquet(d)
    def merged(dirs: Seq[String]) =
      spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    def unionOf(dirs: Seq[String]) =
      dirs.map(inferDir).reduce(_.unionByName(_, allowMissingColumns = true))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    // flat single dir
    val flat = freshRoot("eq_flat")
    Txn.commit(Seq((1L, "a", 1.5), (2L, null, 2.5)).toDF("id", "tag", "x"), flat)
    // the empty CREATE TABLE v1
    val (cat, catRoot) = sqlCatalog("eq")
    spark.sql(s"CREATE TABLE $cat.ev (id BIGINT, tag STRING, ts TIMESTAMP)")
    val created = s"$catRoot/_managed/ev"
    // an append chain adding a nullable column, then one declaring its
    // columns in another order (field order follows inference's visit)
    val chain = freshRoot("eq_chain")
    Txn.commit(Seq((1L, "a")).toDF("id", "a"), chain)
    Txn.commitAppend(Seq((2L, "b", 0.5)).toDF("id", "a", "b"), chain)
    Txn.commitAppend(Seq((7, 3L, "c")).toDF("c", "id", "a"), chain)
    // an int -> long widened chain: footer merging refuses it
    val widened = freshRoot("eq_widen")
    Txn.commit(Seq((1L, 10)).toDF("id", "x"), widened)
    Txn.commitAppend(Seq((2L, 3000000000L)).toDF("id", "x"), widened)
    // one- and two-level partitioned chains: an escaped value and NULL
    val part1 = freshRoot("eq_part1")
    val p1 = Seq[(Long, String)]((1L, "x/y"), (2L, null), (3L, "p%q")).toDF("id", "src")
    Txn.commit(p1, part1, partitionBy = Some("src"))
    Txn.commitAppend(Seq((4L, "a b")).toDF("id", "src"), part1, partitionBy = Some("src"))
    val part2 = freshRoot("eq_part2")
    val p2 = Seq[(Long, java.lang.Integer, String)]((1L, 2024, "x/y"),
      (2L, null, "w"), (3L, 2025, null)).toDF("id", "yr", "src")
    Txn.commit(p2, part2, partitionBy = Some("yr,src"))
    Txn.commitAppend(
      Seq[(Long, java.lang.Integer, String)]((4L, 2024, "p%q")).toDF("id", "yr", "src"),
      part2, partitionBy = Some("yr,src"))
    // a tombstoned version (rows appended after the tombstone survive)
    val tomb = freshRoot("eq_tomb")
    Txn.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), tomb)
    Txn.commitDelete(spark, tomb, Seq("id"), Seq(2L, 3L).toDF("id"))
    Txn.commitAppend(Seq((3L, "c2")).toDF("id", "v"), tomb)
    // a zero-copy clone: its manifest names the chain's dirs absolutely
    val clone = freshRoot("eq_clone")
    Txn.cloneTable(spark, chain, clone)

    val widenedDirs = entriesOf(widened, 2)
    val widenErr = intercept[Exception](merged(widenedDirs).schema)
    assert(widenErr.getMessage.contains("CANNOT_MERGE"))
    val tombExpected = {
      val Seq(d1, k, d2) = entriesOf(tomb, 3)
      val base = spark.read.parquet(d1)
      val keys = spark.read.parquet(k.drop(1).takeWhile(_ != '@'))
        .select("id").distinct()
      base.join(keys, Seq("id"), "left_anti")
        .select(base.columns.map(col).toSeq: _*)
        .unionByName(spark.read.parquet(d2), allowMissingColumns = true)
    }
    assert(entriesOf(clone, 1).forall(_.startsWith(chain)))
    val shapes = Seq(
      ("flat", flat, 1L, inferDir(entriesOf(flat, 1).head)),
      ("create", created, 1L, inferDir(entriesOf(created, 1).head)),
      ("chain", chain, 3L, merged(entriesOf(chain, 3))),
      ("widened", widened, 2L, unionOf(widenedDirs)),
      ("part1", part1, 2L, unionOf(entriesOf(part1, 2))),
      ("part2", part2, 2L, unionOf(entriesOf(part2, 2))),
      ("tomb", tomb, 3L, tombExpected),
      ("clone", clone, 1L, merged(entriesOf(clone, 1))))
    shapes.foreach { case (name, root, v, expected) =>
      val (schema, jobs) = jobsDuring(Txn.readVersion(spark, root, v).schema)
      assert(jobs.size == 0, s"$name: schema resolution ran jobs")
      assert(schema == expected.schema,
        s"$name: ${schema.treeString} vs ${expected.schema.treeString}")
      assert(rows(Txn.readVersion(spark, root, v)) == rows(expected), name)
    }
  }

  test("job-count pin: INSERT, readVersion schema and stream batches") {
    import spark.implicits._
    // INSERT INTO a catalog table with 10+ versions: the write job only
    val (cat, catRoot) = sqlCatalog("jobs")
    spark.sql(s"CREATE TABLE $cat.ev (id BIGINT, tag STRING)")
    (1 to 10).foreach(i => spark.sql(s"INSERT INTO $cat.ev VALUES ($i, 't$i')"))
    val evRoot = s"$catRoot/_managed/ev"
    assert(Txn.currentVersion(spark, evRoot).exists(_ >= 10L))
    val (_, insertJobs) = jobsDuring(
      spark.sql(s"INSERT INTO $cat.ev VALUES (11, 't11')"))
    assert(insertJobs.size == 1, "INSERT jobs")
    // readVersion(...).schema over a 10-dir table: no job at all
    val ten = freshRoot("jobs_ten")
    Txn.commit(Seq((0L, "v0")).toDF("id", "v"), ten)
    (1 to 9).foreach(i => Txn.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), ten))
    assert(entriesOf(ten, 10).size == 10)
    val (_, schemaJobs) = jobsDuring(Txn.readVersion(spark, ten, 10).schema)
    assert(schemaJobs.size == 0, "schema resolution ran jobs")
    // graft -> graft stream over that table: one job per data batch
    val sink = freshRoot("jobs_sink")
    val ckpt = freshRoot("jobs_ckpt")
    val batchKey = "streaming.sql.batchId"
    val (queryId, streamJobs) = jobsDuring {
      val q = spark.readStream.format("graft").load(ten)
        .writeStream.format("graft").option("checkpointLocation", ckpt)
        .start(sink)
      try {
        q.processAllAvailable()
        (10 until 14).foreach { i =>
          Txn.commitAppend(Seq((i.toLong, s"v$i")).toDF("id", "v"), ten)
          q.processAllAvailable()
        }
      } finally q.stop()
      q.id.toString
    }
    val perBatch = streamJobs
      .filter(_.getProperty("sql.streaming.queryId") == queryId)
      .groupBy(_.getProperty(batchKey).toLong).map { case (b, js) => b -> js.size }
    // batch 0 also bootstraps the sink table; every later batch is one
    // appended version, landed by the sink's write job alone
    assert((1L to 4L).forall(perBatch.contains), s"batches: $perBatch")
    assert(perBatch.filter(_._1 >= 1L).values.forall(_ == 1), s"jobs per batch: $perBatch")
    assert(Txn.read(spark, sink).count() == 14L)
  }

  /** `body` on another thread, failing the test if it has not returned
    * within `seconds` (a publish that spins forever never returns). */
  private def within[A](seconds: Int)(body: => A): scala.util.Try[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val f = Future(body)(scala.concurrent.ExecutionContext.global)
    Await.ready(f, seconds.seconds).value.get
  }

  test("every rebase publish is bounded: a rename that keeps failing fails loud") {
    import spark.implicits._
    PublishFaultFs.register(spark.sparkContext.hadoopConfiguration)
    val root = freshRoot("bounded")
    Txn.commit((1L to 5L).toDF("id"), root)
    val faulty = s"${PublishFaultFs.NoPublish}://$root"
    val calls = Seq[(String, () => Long)](
      "commitAppend" -> (() => Txn.commitAppend((6L to 9L).toDF("id"), faulty)),
      "commitMetaOnly" -> (() => Txn.commitMetaOnly(spark, faulty, Map("op" -> "m"))))
    calls.foreach { case (name, call) =>
      val t0 = System.nanoTime()
      val err = within(600)(call()).failed.get
      assert(err.isInstanceOf[IllegalArgumentException], s"$name: $err")
      assert(err.getMessage.contains("failed to publish after") &&
        err.getMessage.contains("attempts"), s"$name: ${err.getMessage}")
      info(f"$name gave up after ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // nothing was published and every lost round removed its staged
    // manifest; the plain local scheme still commits
    assert(ids(Txn.read(spark, root)) == (1L to 5L).toSet)
    assert(fs(root).listStatus(new Path(s"$root/_tmp")).isEmpty)
    assert(Txn.commitAppend((6L to 9L).toDF("id"), root) == 2L)
    assert(ids(Txn.read(spark, root)) == (1L to 9L).toSet)
  }

  test("every publishing path stamps its publish instant, not its staging instant") {
    import spark.implicits._
    PublishFaultFs.register(spark.sparkContext.hadoopConfiguration)
    val local = freshRoot("stamp")
    val cloneLocal = freshRoot("stamp_clone")
    val root = s"${PublishFaultFs.SlowPublish}://$local"
    val clone = s"${PublishFaultFs.SlowPublish}://$cloneLocal"
    // (what, table dir on the local FS, the publishing call)
    val published = Seq[(String, String, () => Long)](
      ("commit", local, () => Txn.commit((1L to 5L).toDF("id"), root)),
      ("commit(expectedBase)", local,
        () => Txn.commit((1L to 6L).toDF("id"), root, expectedBase = Some(1L))),
      ("commitAppend", local, () => Txn.commitAppend((7L to 9L).toDF("id"), root)),
      ("commitDelete", local,
        () => Txn.commitDelete(spark, root, Seq("id"), Seq(2L).toDF("id"))),
      ("restore", local, () => Txn.restore(spark, root, 3L)),
      ("commitMetaOnly", local, () => Txn.commitMetaOnly(spark, root, Map("op" -> "m"))),
      ("cloneTable", cloneLocal, () => Txn.cloneTable(spark, root, clone)))
    published.foreach { case (name, dir, call) =>
      val manifest = s"$dir/_commits/${call()}"
      val staged = PublishFaultFs.stagedAt(manifest).getOrElse(
        fail(s"$name: no staging instant recorded for $manifest"))
      val mtime = fs(dir).getFileStatus(new Path(manifest)).getModificationTime
      assert(mtime - staged >= 1000L,
        s"$name: manifest mtime $mtime is its staging instant $staged, not its publish")
    }
    assert(ids(Txn.read(spark, local)) == (1L to 9L).toSet)
  }

  test("an empty partitioned commit publishes a version readers can open") {
    import spark.implicits._
    val root = freshRoot("empty_part")
    Txn.commit(Seq.empty[(Long, Long)].toDF("id", "day"), root,
      partitionBy = Some("day"))
    val back = Txn.read(spark, root)
    assert(back.count() == 0L)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq("id" -> org.apache.spark.sql.types.LongType,
        "day" -> org.apache.spark.sql.types.LongType))
    Txn.commit(Seq((1L, 3L)).toDF("id", "day"), root, partitionBy = Some("day"))
    assert(Txn.read(spark, root).as[(Long, Long)].collect().toSeq == Seq((1L, 3L)))
  }

  test("maintain: a malformed threshold conf names its key") {
    import spark.implicits._
    val root = freshRoot("maintain_conf")
    Txn.commit((1L to 5L).toDF("id"), root)
    Seq("spark.graft.txn.maintain.maxFiles",
      "spark.graft.txn.maintain.maxTombstones",
      "spark.graft.txn.maintain.targetBytes").foreach { k =>
      spark.conf.set(k, "abc")
      try {
        val err = intercept[IllegalArgumentException](Txn.maintain(spark, root))
        assert(err.getMessage == s"$k must be a whole number, got 'abc'")
      } finally spark.conf.unset(k)
    }
  }

  test("txn_maintain restores the caller's maintain thresholds") {
    // the row trips the gauge with its own thresholds; a value the
    // caller had set must read back unchanged after the build, and an
    // unset key must stay unset
    val maxFiles = "spark.graft.txn.maintain.maxFiles"
    val maxTombstones = "spark.graft.txn.maintain.maxTombstones"
    spark.conf.set(maxFiles, "20")
    try {
      SparkEntry.queries("txn_maintain")(spark, sf("sf0.001"))
      assert(spark.conf.getOption(maxFiles).contains("20"))
      assert(spark.conf.getOption(maxTombstones).isEmpty)
    } finally spark.conf.unset(maxFiles)
  }

  test("partitionBy commits record partitionCol exactly once, as the spec") {
    import spark.implicits._
    val spec = "yr,src"
    def rows(lo: Long) = (lo until lo + 4).map(i => (i, i % 2, s"s${i % 3}"))
      .toDF("id", "yr", "src")
    def assertPinned(root: String, how: String): Unit = {
      val (v, _, meta) = Txn.history(spark, root).last
      assert(meta.get("partitionCol").contains(spec), s"$how: $meta")
      val lines = scala.io.Source.fromFile(s"$root/_commits/$v")
      try assert(lines.getLines().count(_.startsWith("partitionCol\t")) == 1, how)
      finally lines.close()
    }
    val root = freshRoot("partcol")
    Txn.commit(rows(0L), root, partitionBy = Some(spec))
    assertPinned(root, "commit")
    Txn.commit(rows(10L), root, partitionBy = Some(spec), expectedBase = Some(1L))
    assertPinned(root, "commit(expectedBase)")
    Txn.commitAppend(rows(20L), root, partitionBy = Some(spec))
    assertPinned(root, "commitAppend")
    Txn.appendIdempotent(rows(30L), root, appId = "a", batchId = 0L,
      partitionBy = Some(spec))
    assertPinned(root, "appendIdempotent")
    assert(ids(Txn.read(spark, root)) == (10L until 14L).toSet ++
      (20L until 24L) ++ (30L until 34L))
  }

  test("an append's schema guard reads footers, not a listing of the " +
      "chain: the 40th idempotent append runs one job, like the 5th") {
    import spark.implicits._
    val root = freshRoot("guard_jobs")
    Txn.commit(Seq(0L).toDF("id"), root)
    // append i lands on a base of i data dirs; past 32 dirs
    // (parallelPartitionDiscovery.threshold) a listing of the chain
    // runs a job of its own
    val jobs = (1L to 40L).map { i =>
      jobsDuring(Txn.appendIdempotent(Seq(i).toDF("id"), root, "guard", i))._2.size
    }
    assert(jobs(4) == 1 && jobs(39) == 1, s"jobs per append: $jobs")
    assert(ids(Txn.read(spark, root)) == (0L to 40L).toSet)
    // the guard still rejects a type change against any dir of the chain
    val err = intercept[IllegalArgumentException] {
      Txn.appendIdempotent(Seq("x").toDF("id"), root, "guard", 41L)
    }
    assert(err.getMessage.contains("appended shard changes column id"))
  }

  test("the skipping planner lists only the dirs the directory rung keeps") {
    import spark.implicits._
    val root = freshRoot("listing")
    Txn.commit((1L to 800L).map(i => (i, i % 8L)).toDF("id", "day"), root,
      partitionBy = Some("day"), statsCols = Seq("id"))
    Txn.read(spark, root).schema // warms the footer memo
    val v = Txn.currentVersion(spark, root).get
    val ((kept, report), listed) =
      ListingCountFs.counting(spark.sparkContext.hadoopConfiguration) {
        Txn.skipDecision(spark, root, v,
          Seq(Txn.PartProbe("day", Seq(3L)), Txn.RangeProbe("id", 1L, 100L)))
      }
    val underRoot = listed.filter(_.startsWith(root))
    val dayDirs = underRoot.map(new Path(_).getName).filter(_.startsWith("day="))
    assert(dayDirs == Seq("day=3"), s"listed under the root: $underRoot")
    // the data dir and day=3, each once
    assert(underRoot.size == 2, s"listed under the root: $underRoot")
    assert(report.dirsKept == 1 && report.dirsTotal == 8, s"$report")
    assert(kept.nonEmpty && kept.forall(_.contains("/day=3/")), s"$kept")
    assert(ids(Txn.readSkipping(spark, root, Seq(Txn.PartProbe("day", Seq(3L)),
      Txn.RangeProbe("id", 1L, 100L)))) == (1L to 100L).filter(_ % 8 == 3).toSet)
  }

  test("every view of a mixed flat/partitioned/tombstoned chain agrees " +
      "on its files") {
    import spark.implicits._
    val root = freshRoot("mixedviews")
    Txn.commit((1L to 20L).map(i => (i, "0", "z")).toDF("id", "year", "src")
      .repartition(2), root)
    // "1-b" sorts before "1/" as a chain string but after "1" as a name
    val rows = (21L to 60L).map(i =>
      (i, if (i % 3 == 0) "1-b" else "1", if (i % 2 == 0) "a" else "b"))
    Txn.commitAppend(rows.toDF("id", "year", "src").repartition(2), root,
      partitionBy = Some("year,src"))
    Txn.commitDelete(spark, root, Seq("id"), Seq(2L, 30L).toDF("id"))
    val v = Txn.currentVersion(spark, root).get
    val sizes = Txn.snapshotFileSizes(spark, root, v)
    val (_, files, bytes, tombs) = Txn.tableDetail(spark, root)
    assert((files, bytes, tombs) == ((sizes.size.toLong, sizes.map(_._2).sum, 1L)))
    // manifest order, then leaves by chain string, then file names
    val (flat, nested) = sizes.map(_._1).span(!_.contains('/'))
    assert(flat.nonEmpty && flat == flat.sorted, s"$sizes")
    val chains = nested.map(k => k.substring(0, k.lastIndexOf('/')))
    assert(chains.distinct == Seq("year=1-b/src=a", "year=1-b/src=b",
      "year=1/src=a", "year=1/src=b"), s"$sizes")
    assert(nested.groupBy(k => k.substring(0, k.lastIndexOf('/')))
      .values.forall(ks => ks == ks.sorted), s"$sizes")
    // a probe that keeps everything plans exactly those files
    val (kept, report) = Txn.skipDecision(spark, root, v,
      Seq(Txn.PartProbe("year", Seq("1", "1-b")), Txn.RangeProbe("id", 0L, 100L)))
    assert(kept.map(_.replaceFirst(".*/data/[^/]+/", "")).sorted ==
      sizes.map(_._1).sorted, s"$kept")
    assert(report.filesKept == sizes.size && report.filesTotal == sizes.size)
    assert(Txn.partitionCensus(spark, root,
      Seq(Txn.PartProbe("year", Seq("1-b")))) == ((2, 4)))
  }

  test("string stats of a file holding only empty strings read back") {
    import spark.implicits._
    val root = freshRoot("emptystr")
    // both bounds encode as empty fields: `file TAB s TAB TAB`
    Txn.commit(Seq((1L, ""), (2L, "")).toDF("id", "s").coalesce(1), root,
      statsCols = Seq("s"))
    assert(ids(Txn.readSkipping(spark, root,
      Seq(Txn.StrPointProbe("s", Seq(""))))) == Set(1L, 2L))
  }
}
