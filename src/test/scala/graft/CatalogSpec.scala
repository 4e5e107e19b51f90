package graft

import org.apache.spark.sql.functions._
import graft.ops.{GraftCatalog, Txn}

/** The named-table layer (ops/Catalog.scala): exclusive atomic CREATE,
  * resolve/read/read-by-version through names, SHOW TABLES, external
  * DROP, DESCRIBE HISTORY, and the spark.sql bridge. */
class CatalogSpec extends SparkSpec {

  private def fresh(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"cat_${tag}_").toString
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    p
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("create/resolve/read/drop lifecycle; data outlives the name") {
    import spark.implicits._
    val cat = fresh("life")
    val root = fresh("life_t")
    Txn.commit((1L to 5L).toDF("id"), root)
    GraftCatalog.create(spark, cat, "t1", root)
    assert(GraftCatalog.resolve(spark, cat, "t1") == root)
    assert(ids(GraftCatalog.read(spark, cat, "t1")) == (1L to 5L).toSet)
    assert(GraftCatalog.listTables(spark, cat) == Seq("t1"))
    GraftCatalog.drop(spark, cat, "t1")
    assert(!GraftCatalog.tableExists(spark, cat, "t1"))
    // external-table semantics: the data is untouched by DROP
    assert(ids(Txn.read(spark, root)) == (1L to 5L).toSet)
  }

  test("CREATE is exclusive (no silent remap) and validates inputs") {
    import spark.implicits._
    val cat = fresh("excl")
    val rootA = fresh("excl_a")
    val rootB = fresh("excl_b")
    Txn.commit((1L to 3L).toDF("id"), rootA)
    Txn.commit((4L to 6L).toDF("id"), rootB)
    GraftCatalog.create(spark, cat, "t", rootA)
    // a second CREATE of the same name loses — the first mapping holds
    intercept[Exception] { GraftCatalog.create(spark, cat, "t", rootB) }
    assert(GraftCatalog.resolve(spark, cat, "t") == rootA)
    // a name may not traverse paths, an empty root may not register
    intercept[IllegalArgumentException] {
      GraftCatalog.create(spark, cat, "../evil", rootB)
    }
    intercept[Exception] {
      GraftCatalog.create(spark, cat, "empty", fresh("excl_nothing"))
    }
    // unknown-name resolution is loud
    intercept[IllegalArgumentException] {
      GraftCatalog.resolve(spark, cat, "nope")
    }
  }

  test("versions, history, and the spark.sql bridge work through names") {
    import spark.implicits._
    val cat = fresh("ver")
    val root = fresh("ver_t")
    Txn.commit((1L to 3L).toDF("id"), root, meta = Map("op" -> "bootstrap"))
    Txn.commitAppend((4L to 6L).toDF("id"), root, meta = Map("op" -> "ingest"))
    GraftCatalog.create(spark, cat, "tv", root)
    assert(ids(GraftCatalog.read(spark, cat, "tv")) == (1L to 6L).toSet)
    assert(ids(GraftCatalog.readVersion(spark, cat, "tv", 1L)) == (1L to 3L).toSet)
    val hist = GraftCatalog.describeHistory(spark, cat, "tv")
      .orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(hist.last.getMap[String, String](2).get("op").contains("ingest"))
    GraftCatalog.registerView(spark, cat, "tv", "cat_spec_tv")
    assert(spark.sql("SELECT count(*) AS n FROM cat_spec_tv").head().getLong(0) == 6L)
    // the view pinned its snapshot: a commit AFTER registration does
    // not shift it (the Txn reader contract through the name layer)
    Txn.commitAppend(Seq(7L).toDF("id"), root)
    assert(spark.sql("SELECT count(*) AS n FROM cat_spec_tv").head().getLong(0) == 6L)
    assert(ids(GraftCatalog.read(spark, cat, "tv")) == (1L to 7L).toSet)
  }

  /** Wire a fresh V2 catalog under a per-test name (the conf root is
    * read once per catalog name per session, so tests never share
    * state with each other or the registered row's `graft` catalog). */
  private def sqlCat(tag: String): String = {
    val cat = fresh(s"sqlcat_$tag")
    val name = s"gsql_$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.catalog.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", cat)
    name
  }

  test("V2 SQL catalog: CREATE/SHOW/INSERT/OVERWRITE/RENAME/DROP round-trip") {
    val c = sqlCat("ddl")
    spark.sql(s"CREATE TABLE $c.ev (id BIGINT, tag STRING)")
    assert(spark.sql(s"SHOW TABLES IN $c").collect().map(_.getString(1)).toSeq == Seq("ev"))
    spark.sql(s"INSERT INTO $c.ev VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $c.ev VALUES (3, 'c')")
    assert(spark.sql(s"SELECT id FROM $c.ev ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // INSERT INTO is an O(batch) manifest extension, not a rewrite:
    // create=1, two inserts => version 3 of the SAME Txn table
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "ev")
    assert(Txn.currentVersion(spark, tRoot).contains(3L))
    spark.sql(s"INSERT OVERWRITE $c.ev VALUES (9, 'z')")
    assert(spark.sql(s"SELECT id, tag FROM $c.ev").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
    // the TO identifier resolves inside the table's own catalog
    spark.sql(s"ALTER TABLE $c.ev RENAME TO ev2")
    assert(spark.sql(s"SHOW TABLES IN $c").collect().map(_.getString(1)).toSeq == Seq("ev2"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ev2").head().getLong(0) == 1L)
    spark.sql(s"DROP TABLE $c.ev2")
    assert(spark.sql(s"SHOW TABLES IN $c").collect().isEmpty)
    // external-table DROP: the Txn root and its history survive
    assert(Txn.currentVersion(spark, tRoot).contains(4L))
  }

  test("V2 SQL catalog: CTAS, VERSION AS OF and TIMESTAMP AS OF time travel") {
    import spark.implicits._
    val c = sqlCat("tt")
    val src = fresh("tt_src")
    (1L to 4L).toDF("id").write.parquet(src)
    spark.sql(s"CREATE TABLE $c.t AS SELECT id FROM parquet.`$src` WHERE id <= 2")
    Thread.sleep(15) // separate publish mtimes across the travel point
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(15)
    spark.sql(s"INSERT INTO $c.t SELECT id FROM parquet.`$src` WHERE id > 2")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.t").head().getLong(0) == 4L)
    // CTAS = create(v1 empty) + append(v2); the insert is v3. VERSION
    // AS OF 2 sees only the CTAS rows.
    assert(spark.sql(s"SELECT id FROM $c.t VERSION AS OF 2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(betweenMs))
    assert(spark.sql(s"SELECT id FROM $c.t TIMESTAMP AS OF '$lit' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("V2 SQL catalog: snapshot pinned per statement; pruning and filters reach the inner scan") {
    import spark.implicits._
    val c = sqlCat("pin")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.p (id BIGINT, v BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $c.p SELECT id, id * 10 AS v, CAST(id AS STRING) AS s " +
      "FROM range(100)")
    val q = spark.sql(s"SELECT v FROM $c.p WHERE id >= 90")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (90L to 99L).map(_ * 10))
    // the V1 bridge reports its pushdown on the scan node, and the
    // pruned inner frame carries only the required columns
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(id,90)"),
      s"filter not pushed through the V2->V1 bridge:\n$plan")
    // a write AFTER a statement resolved its pin does not shift it:
    // resolve the frame first, then append, then execute
    val pinned = spark.sql(s"SELECT count(*) AS n FROM $c.p")
    spark.sql(s"INSERT INTO $c.p VALUES (1000, 1, 'x')")
    assert(pinned.head().getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.p").head().getLong(0) == 101L)
  }

  test("V2 SQL catalog: DELETE FROM takes the tombstone or rewrite path; TRUNCATE") {
    val c = sqlCat("del")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.d (id BIGINT, grp BIGINT)")
    spark.sql(s"INSERT INTO $c.d SELECT id, id % 10 AS grp FROM range(100)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "d")
    // point delete => O(keys) tombstone, never a rewrite: the manifest
    // gains a tombstone entry (tableDetail counts it), no new snapshot
    spark.sql(s"DELETE FROM $c.d WHERE id = 7")
    spark.sql(s"DELETE FROM $c.d WHERE id IN (8, 9)")
    assert(Txn.tableDetail(spark, tRoot)._4 == 2L) // two tombstone entries
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.d").head().getLong(0) == 97L)
    // predicate delete => OCC-pinned rewrite, content exact
    spark.sql(s"DELETE FROM $c.d WHERE grp >= 5 AND id < 50")
    assert(spark.sql(s"SELECT id FROM $c.d ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      (0L until 100L).filterNot(Set(7L, 8L, 9L))
        .filterNot(i => i % 10 >= 5 && i < 50).toSeq)
    assert(Txn.tableDetail(spark, tRoot)._4 == 0L) // rewrite collapsed the chain
    // TRUNCATE empties but keeps schema + history (time travel intact)
    spark.sql(s"TRUNCATE TABLE $c.d")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.d").head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT id FROM $c.d VERSION AS OF 2 ORDER BY id LIMIT 3")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // DELETE with no WHERE behaves as truncate
    spark.sql(s"INSERT INTO $c.d VALUES (1, 1)")
    spark.sql(s"DELETE FROM $c.d")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.d").head().getLong(0) == 0L)
  }

  test("V2 SQL catalog: conjunctive-equality DELETE lands as ONE " +
      "composite-key tombstone, never a rewrite (r12)") {
    val c = sqlCat("compdel")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.cd (a BIGINT, b BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $c.cd SELECT id % 10 AS a, id % 7 AS b, " +
      "CAST(id AS STRING) AS v FROM range(700)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "cd")
    val filesBefore = Txn.tableDetail(spark, tRoot)._2
    spark.sql(s"DELETE FROM $c.cd WHERE a = 3 AND b = 5")
    val d = Txn.tableDetail(spark, tRoot)
    assert(d._4 == 1L, s"composite DELETE must be a tombstone entry: $d")
    assert(d._2 >= filesBefore, "composite DELETE must not rewrite data files")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.cd").head().getLong(0) ==
      (0L until 700L).count(i => !(i % 10 == 3 && i % 7 == 5)))
    // only the exact (a,b) tuple died — same-a/different-b rows survive
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.cd WHERE a = 3")
      .head().getLong(0) == (0L until 700L).count(i => i % 10 == 3 && i % 7 != 5))
    // a key re-inserted AFTER its composite tombstone survives
    // (log-order replay)
    spark.sql(s"INSERT INTO $c.cd VALUES (3, 5, 'reborn')")
    assert(spark.sql(s"SELECT v FROM $c.cd WHERE a = 3 AND b = 5")
      .collect().map(_.getString(0)).toSeq == Seq("reborn"))
  }

  test("V2 SQL catalog: DELETE keeps rows where the predicate is NULL") {
    val c = sqlCat("delnull")
    spark.sql(s"CREATE TABLE $c.dn (id BIGINT, x BIGINT)")
    spark.sql(s"INSERT INTO $c.dn VALUES (1, 10), (2, NULL), (3, 3)")
    // rewrite-path DELETE: `x > 5` is NULL for row 2 — SQL semantics
    // delete only where the condition is TRUE, so the NULL row SURVIVES
    // (r11 advice, high: `!pred` alone dropped it)
    spark.sql(s"DELETE FROM $c.dn WHERE x > 5")
    assert(spark.sql(s"SELECT id FROM $c.dn ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("V2 SQL catalog: empty INSERT is a no-op; empty partitions leave no files") {
    val c = sqlCat("empt")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.e (id BIGINT, v DOUBLE)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "e")
    // an INSERT whose source produces zero rows (across many empty
    // partitions) must not publish a version at all (r11 advice)
    spark.sql(s"INSERT INTO $c.e SELECT id, CAST(id AS DOUBLE) FROM range(10) WHERE id < 0")
    assert(Txn.currentVersion(spark, tRoot).contains(1L))
    // a 3-row insert parallelized over many partitions: only the tasks
    // that saw rows write files — no zero-row parquet debris (the
    // CREATE's own empty snapshot file is excluded by measuring the
    // DELTA)
    val filesBefore = Txn.tableDetail(spark, tRoot)._2
    spark.sql(s"INSERT INTO $c.e SELECT id, CAST(id AS DOUBLE) FROM range(3)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.e").head().getLong(0) == 3L)
    assert(Txn.tableDetail(spark, tRoot)._2 - filesBefore <= 3L,
      "zero-row tasks must not emit parquet files")
  }

  test("V2 SQL catalog: UPDATE and MERGE INTO through row-level operations") {
    import spark.implicits._
    val c = sqlCat("rlo")
    spark.sql(s"CREATE TABLE $c.m (id BIGINT, v BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $c.m SELECT id, id * 2 AS v, 'base' AS tag FROM range(10)")
    // UPDATE: group-based copy-on-write — full post-update contents land
    spark.sql(s"UPDATE $c.m SET v = v + 100, tag = 'bumped' WHERE id < 3")
    val afterUpdate = spark.sql(s"SELECT id, v, tag FROM $c.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(afterUpdate.toSeq == (0L until 10L).map(i =>
      if (i < 3) (i, i * 2 + 100, "bumped") else (i, i * 2, "base")))
    // MERGE INTO: update + delete + insert in one statement
    Seq((1L, 1000L), (5L, 5000L), (42L, 4200L))
      .toDF("id", "nv").createOrReplaceTempView("merge_src_rlo")
    spark.sql(
      s"""MERGE INTO $c.m t USING merge_src_rlo s ON t.id = s.id
         |WHEN MATCHED AND t.id = 5 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'merged'
         |WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.nv, 'inserted')
         |""".stripMargin)
    val afterMerge = spark.sql(s"SELECT id, v, tag FROM $c.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val expected = ((0L until 10L).filterNot(_ == 5L).map {
      case 1L => (1L, 1000L, "merged")
      case i if i < 3 => (i, i * 2 + 100, "bumped")
      case i => (i, i * 2, "base")
    } :+ (42L, 4200L, "inserted")).sortBy(_._1)
    assert(afterMerge == expected)
    // history records the row-level ops; old versions stay readable
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "m")
    val ops = Txn.history(spark, tRoot).map(_._3.getOrElse("op", ""))
    assert(ops.contains("sql-update") && ops.contains("sql-merge"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.m VERSION AS OF 2")
      .head().getLong(0) == 10L)
    // row-level op on a TOMBSTONED chain: the scan cannot serve the
    // version from flat dirs (the fold is a join), so it materializes
    // the folded snapshot first — semantics must be identical
    spark.sql(s"DELETE FROM $c.m WHERE id = 0") // tombstone entry
    assert(Txn.tableDetail(spark, tRoot)._4 == 1L)
    spark.sql(s"UPDATE $c.m SET tag = 'post-delete' WHERE id = 42")
    val afterTomb = spark.sql(s"SELECT id, tag FROM $c.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(!afterTomb.exists(_._1 == 0L))
    assert(afterTomb.find(_._1 == 42L).map(_._2).contains("post-delete"))
    assert(afterTomb.size == expected.size - 1)
    // the rewrite collapsed the tombstone chain
    assert(Txn.tableDetail(spark, tRoot)._4 == 0L)
  }

  test("V2 SQL catalog: sidecar file-skipping serves SQL point and range queries") {
    import spark.implicits._
    val c = sqlCat("skip")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    // a key-clustered indexed table: 16 files, each covering a disjoint
    // id range, with stats + bloom sidecars — the BLOOM_r11/PARTSKIP_r11
    // shape, now reached through pasted SQL
    val root = fresh("skip_t")
    val df = (1L to 16000L).map(i => (i, i % 97L)).toDF("id", "v")
      .repartitionByRange(16, col("id"))
    Txn.commit(df, root, statsCols = Seq("id"), bloomCols = Seq("id"))
    GraftCatalog.create(spark, catRoot, "sk", root)
    // point query: opens only the files whose stats+bloom admit the keys
    graft.catalog.GraftScanStats.reset()
    val point = spark.sql(s"SELECT id, v FROM $c.sk WHERE id IN (5, 9001)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(point == Set((5L, 5L), (9001L, 9001L % 97L)))
    val d1 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d1.filesTotal == 16 && d1.filesKept < d1.filesTotal / 4,
      s"SQL point query must open < total/4 files: $d1")
    // range query: only the overlapping files
    graft.catalog.GraftScanStats.reset()
    val rng = spark.sql(
      s"SELECT count(*) AS n FROM $c.sk WHERE id BETWEEN 2000 AND 2999")
      .head().getLong(0)
    assert(rng == 1000L)
    val d2 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d2.filesKept < d2.filesTotal / 4,
      s"SQL range query must open < total/4 files: $d2")
    // content ≡ unpruned: same predicate through a plain snapshot read
    val unpruned = Txn.read(spark, root).where(col("id").isin(5L, 9001L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(point == unpruned)
    // a non-selective query keeps everything (decision recorded, no prune)
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sk").head().getLong(0) == 16000L)
    assert(graft.catalog.GraftScanStats.lastDecision.isEmpty,
      "no pushed filters => no skipping decision")
    // skipping composes with TOMBSTONES through the V1 bridge: delete a
    // key, then point-query — the fold applies over the pruned scan
    spark.sql(s"DELETE FROM $c.sk WHERE id = 5")
    graft.catalog.GraftScanStats.reset()
    val afterDel = spark.sql(s"SELECT id FROM $c.sk WHERE id IN (5, 9001)")
      .collect().map(_.getLong(0)).toSet
    assert(afterDel == Set(9001L))
    val d3 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d3.filesKept < d3.filesTotal,
      s"tombstoned chain must still prune files: $d3")
  }

  test("V2 SQL catalog: declared index columns keep sidecars current " +
      "across SQL INSERTs — pure-SQL skipping end-to-end (r12)") {
    val c = sqlCat("declidx")
    spark.sql(s"CREATE TABLE $c.ix (id BIGINT, lang STRING) " +
      s"TBLPROPERTIES ('graft.stats' = 'id,lang', 'graft.bloom' = 'id')")
    // four INSERT shards over disjoint id ranges: every shard's files
    // carry their own stats+bloom sidecars, written by the INSERT itself
    (0 until 4).foreach { k =>
      spark.sql(s"INSERT INTO $c.ix SELECT id, " +
        s"CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang " +
        s"FROM range(${k * 1000}, ${k * 1000 + 1000})")
    }
    // a point query opens only the admitting files — across ALL shards
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ix WHERE id = 1500")
      .head().getLong(0) == 1L)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.filesTotal > 8 && d.filesKept <= 2,
      s"declared-index point query must open O(matching) files: $d")
    // a range query prunes to the overlapping shard's files
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $c.ix WHERE id BETWEEN 2100 AND 2199")
      .head().getLong(0) == 100L)
    val d2 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d2.filesKept < d2.filesTotal / 4,
      s"range query must prune by the INSERT-maintained stats: $d2")
    // declaring the index AFTER create works too (SET TBLPROPERTIES)
    val c2 = sqlCat("declidx2")
    spark.sql(s"CREATE TABLE $c2.lx (id BIGINT)")
    spark.sql(s"INSERT INTO $c2.lx SELECT id FROM range(0, 1000)") // unindexed
    spark.sql(s"ALTER TABLE $c2.lx SET TBLPROPERTIES ('graft.stats' = 'id')")
    spark.sql(s"INSERT INTO $c2.lx SELECT id FROM range(1000, 2000)") // indexed
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c2.lx WHERE id < 10")
      .head().getLong(0) == 10L)
    val d3 = graft.catalog.GraftScanStats.lastDecision.get
    // one-sided: the unindexed first shard is always read, the indexed
    // second shard prunes entirely
    assert(d3.filesKept < d3.filesTotal, s"post-ALTER shards must prune: $d3")
    // declared indexes survive DELTA merges: a keyed+indexed table's
    // MERGE writes sidecars onto its replacement-rows dir, so point
    // queries keep pruning after row-level churn
    val c3 = sqlCat("declidx3")
    spark.sql(s"CREATE TABLE $c3.kx (id BIGINT, v BIGINT) TBLPROPERTIES " +
      s"('graft.key' = 'id', 'graft.stats' = 'id', 'graft.bloom' = 'id')")
    spark.sql(s"INSERT INTO $c3.kx SELECT id, id FROM range(0, 4000)")
    spark.sql(s"""MERGE INTO $c3.kx t USING (SELECT 17L AS k, 999L AS nv) s
      |ON t.id = s.k WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT v FROM $c3.kx WHERE id = 17")
      .head().getLong(0) == 999L)
    val d4 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d4.filesKept < d4.filesTotal,
      s"skipping must survive a delta MERGE: $d4")
  }

  test("V2 SQL catalog: STRING-column stats prune files through SQL (r12)") {
    import spark.implicits._
    val c = sqlCat("strskip")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val root = fresh("strskip_t")
    val langs = Seq("ar", "de", "en", "es", "fr", "hi", "ja", "-")
    val df = (1L to 8000L).map(i => (i, langs((i % 8).toInt)))
      .toDF("id", "lang").repartitionByRange(8, col("lang"))
    // statsCols mixes types: id gets the long sidecar, lang the STRING
    // sidecar — one commit writes both
    Txn.commit(df, root, statsCols = Seq("id", "lang"))
    GraftCatalog.create(spark, catRoot, "sl", root)
    graft.catalog.GraftScanStats.reset()
    val es = spark.sql(s"SELECT count(*) AS n FROM $c.sl WHERE lang = 'es'")
      .head().getLong(0)
    assert(es == 1000L)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.filesKept < d.filesTotal / 2,
      s"string equality must prune lang-clustered files: $d")
    // the '-' literal round-trips despite being the null sentinel's
    // spelling in the sidecar (it encodes as %2D)
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sl WHERE lang = '-'")
      .head().getLong(0) == 1000L)
    val d2 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d2.filesKept < d2.filesTotal,
      s"sentinel-spelled value must still prune: $d2")
    // IN lists prune too, and results match the unpruned read
    val got = spark.sql(
      s"SELECT id FROM $c.sl WHERE lang IN ('ar', 'ja') ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    val want = Txn.read(spark, root)
      .where(col("lang").isin("ar", "ja")).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("V2 SQL catalog: partition-directory pruning through SQL on a " +
      "partitioned chain") {
    import spark.implicits._
    val c = sqlCat("partskip")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val root = fresh("partskip_t")
    val df = (1L to 8000L).map(i => (i, 2017L + i % 8L)).toDF("id", "year")
    Txn.commit(df, root, partitionBy = Some("year"), statsCols = Seq("id"))
    GraftCatalog.create(spark, catRoot, "py", root)
    graft.catalog.GraftScanStats.reset()
    val got = spark.sql(
      s"SELECT count(*) AS n FROM $c.py WHERE year = 2020 AND id <= 4000")
      .head().getLong(0)
    assert(got == (1L to 4000L).count(i => 2017L + i % 8L == 2020L))
    val d = graft.catalog.GraftScanStats.lastDecision.get
    // directory rung: 1 of 8 partition dirs survives (dropped dirs are
    // never listed — filesTotal counts only the kept dir's files); file
    // rung: the id-stats sidecar prunes inside the survivor
    assert(d.dirsKept == 1 && d.dirsTotal == 8,
      s"directory rung must keep 1 of 8 dirs: $d")
    assert(d.filesKept < d.filesTotal,
      s"file rung must prune inside the kept dir: $d")
  }

  test("partitioned INSERT requires clustered distribution: one file per " +
      "leaf even from a many-partition source (r14)") {
    import spark.implicits._
    val c = sqlCat("clustw")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.pw (id BIGINT, yr BIGINT) PARTITIONED BY (yr)")
    // 6 input partitions × 5 partition values: the unclustered native
    // write would land up to 6 files per leaf (and 6·P at scale); the
    // clustered requirement routes each yr to one task → exactly one
    // file per leaf per statement
    (1L to 5000L).map(i => (i, 2020L + i % 5L)).toDF("id", "yr")
      .repartition(6)
      .createOrReplaceTempView("clustw_src")
    spark.sql(s"INSERT INTO $c.pw SELECT id, yr FROM clustw_src")
    val root = GraftCatalog.resolve(spark, catRoot, "pw")
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CREATE itself lands an (empty) snapshot dir — fold the leaf file
    // counts over EVERY data dir, so the assert sees the insert's one
    // regardless of listing order
    val perLeaf = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.isDirectory).map(_.getPath)
      .flatMap(d => fsys.listStatus(d)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("yr=")))
      .map(st => st.getPath.getName ->
        fsys.listStatus(st.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(perLeaf.keySet == (2020L to 2024L).map(y => s"yr=$y").toSet, perLeaf)
    assert(perLeaf.values.forall(_ == 1),
      s"clustered write must land exactly one file per leaf: $perLeaf")
    // rows intact through the clustered exchange
    val got = spark.sql(s"SELECT count(*) FROM $c.pw").head().getLong(0)
    assert(got == 5000L)
  }

  test("V2 SQL catalog: declared-key tables run UPDATE/MERGE/DELETE " +
      "through the O(batch) delta path — manifest extension, no rewrite") {
    import spark.implicits._
    val c = sqlCat("delta")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.k (id BIGINT, v BIGINT, tag STRING) " +
      s"TBLPROPERTIES ('graft.key' = 'id')")
    spark.sql(s"INSERT INTO $c.k SELECT id, id * 2 AS v, 'base' AS tag " +
      "FROM range(1000)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "k")
    val filesBase = Txn.tableDetail(spark, tRoot)._2
    // UPDATE lands as ONE tombstone+rows extension: the base files stay
    // referenced (no rewrite), one tombstone entry appears
    spark.sql(s"UPDATE $c.k SET v = v + 10000, tag = 'up' WHERE id < 5")
    val d1 = Txn.tableDetail(spark, tRoot)
    assert(d1._4 == 1L, s"UPDATE must land as a tombstone extension: $d1")
    assert(d1._2 >= filesBase,
      "delta UPDATE must keep the base files referenced (no rewrite)")
    assert(Txn.history(spark, tRoot).last._3("op") == "sql-update-delta")
    val afterUpdate = spark.sql(s"SELECT id, v, tag FROM $c.k ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(afterUpdate.toSeq == (0L until 1000L).map(i =>
      if (i < 5) (i, i * 2 + 10000, "up") else (i, i * 2, "base")))
    // three-branch MERGE: delete + update + insert, one extension
    Seq((1L, 111L), (7L, 777L), (5000L, 5L))
      .toDF("id", "nv").createOrReplaceTempView("delta_merge_src")
    spark.sql(
      s"""MERGE INTO $c.k t USING delta_merge_src s ON t.id = s.id
         |WHEN MATCHED AND t.id = 7 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'merged'
         |WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.nv, 'new')
         |""".stripMargin)
    assert(Txn.history(spark, tRoot).last._3("op") == "sql-merge-delta")
    assert(Txn.tableDetail(spark, tRoot)._4 == 2L)
    val afterMerge = spark.sql(
      s"SELECT id, v, tag FROM $c.k WHERE id IN (1, 7, 5000) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(afterMerge.toSeq == Seq((1L, 111L, "merged"), (5000L, 5L, "new")))
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.k").head().getLong(0) == 1000L)
    // predicate DELETE (not tombstone-able by shape) STILL lands
    // O(matched-keys) through the delta path on a keyed table
    spark.sql(s"DELETE FROM $c.k WHERE v >= 1990 AND tag = 'base'")
    assert(Txn.history(spark, tRoot).last._3("op") == "sql-delete-delta")
    assert(Txn.tableDetail(spark, tRoot)._4 == 3L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.k").head().getLong(0) ==
      1000L - (0L until 1000L).count(i => i >= 5 && i * 2 >= 1990))
    // a MERGE that matches nothing and inserts nothing publishes NOTHING
    val vBefore = Txn.currentVersion(spark, tRoot).get
    Seq((999999L, 0L)).toDF("id", "nv").createOrReplaceTempView("delta_noop_src")
    spark.sql(s"""MERGE INTO $c.k t USING delta_noop_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(Txn.currentVersion(spark, tRoot).contains(vBefore),
      "an empty delta must not publish a version")
    // NULL predicate semantics hold on the delta path too
    spark.sql(s"INSERT INTO $c.k VALUES (8888, NULL, 'nullv')")
    spark.sql(s"DELETE FROM $c.k WHERE v > 100 AND tag = 'nullv'")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.k WHERE id = 8888")
      .head().getLong(0) == 1L, "NULL-condition rows must survive DELETE")
  }

  test("V2 SQL catalog: CREATE TABLE PARTITIONED BY — INSERTs land " +
      "partitioned, SELECTs prune directories, OVERWRITE keeps layout") {
    val c = sqlCat("ddlpart")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.p (id BIGINT, day BIGINT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $c.p SELECT id, id % 4 AS day FROM range(400)")
    spark.sql(s"INSERT INTO $c.p SELECT id, 9 AS day FROM range(1000, 1050)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "p")
    // the shards landed hive-partitioned: 4 day dirs + 1 day dir
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("day", Seq(9L)))) == ((1, 5)))
    // SELECT with a partition filter prunes directories through SQL
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.p WHERE day = 9")
      .head().getLong(0) == 50L)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.dirsKept == 1 && d.dirsTotal == 5,
      s"partition filter must prune dirs through SQL: $d")
    // full scan reconstructs the partition column
    assert(spark.sql(s"SELECT sum(day) AS s FROM $c.p").head().getLong(0) ==
      (0L until 400L).map(_ % 4).sum + 50L * 9L)
    // INSERT OVERWRITE keeps the partitioned layout (CAS-pinned commit)
    spark.sql(s"INSERT OVERWRITE $c.p SELECT id, id % 2 AS day FROM range(10)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.p").head().getLong(0) == 10L)
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("day", Seq(0L)))) == ((1, 2)))
    // r12: partitioned INSERTs take the NATIVE executor-parallel writer
    // (graft task-file names, no Spark .c000 suffix) with the partition
    // column carried by the directory, not the files
    val partFiles = new java.io.File(tRoot, "data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(d => d.isDirectory && d.getName.startsWith("day="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
    assert(partFiles.nonEmpty && partFiles.forall(n => !n.contains("c000")),
      s"partitioned INSERT must take the native writer: ${partFiles.toSeq}")
  }

  test("V2 SQL catalog: native partitioned writes handle string, " +
      "hive-escaped, and NULL partition values (r12)") {
    val c = sqlCat("natpart")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.np (id BIGINT, src STRING) PARTITIONED BY (src)")
    spark.sql(s"INSERT INTO $c.np VALUES (1, 'web'), (2, 'a:b'), " +
      "(3, NULL), (4, 'a:b'), (5, 'a b')")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "np")
    // escaped / sentinel layout on disk, exactly like Spark's writer
    val dirs = new java.io.File(tRoot, "data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("src=__HIVE_DEFAULT_PARTITION__", "src=a b",
      "src=a%3Ab", "src=plain").filterNot(_ == "src=plain") :+ "src=web",
      s"unexpected native partition layout: $dirs")
    // values round-trip through reads: reconstruction unescapes, the
    // sentinel surfaces as a real null
    val got = spark.sql(s"SELECT id, src FROM $c.np ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq == Seq((1L, Some("web")), (2L, Some("a:b")),
      (3L, None), (4L, Some("a:b")), (5L, Some("a b"))))
    // partition filters prune on the escaped names
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.np WHERE src = 'a:b'")
      .head().getLong(0) == 2L)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.dirsKept == 1 && d.dirsTotal == 4, s"escaped dir must prune: $d")
  }

  test("V2 SQL catalog: ALTER TABLE ADD COLUMN evolves the schema; old " +
      "rows null-fill; old versions keep the old schema") {
    val c = sqlCat("evolve")
    spark.sql(s"CREATE TABLE $c.ev (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ev VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $c.ev ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO $c.ev VALUES (3, 30, 'new')")
    val rows = spark.sql(
      s"SELECT id, v, tag FROM $c.ev ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, Some("new"))))
    // time travel to the pre-evolution version surfaces the OLD schema
    assert(spark.sql(s"SELECT * FROM $c.ev VERSION AS OF 2")
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // unsupported ALTERs stay loud (RENAME COLUMN is supported since
    // r13 — type changes are the remaining wall)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ev ALTER COLUMN v TYPE STRING")
    }
  }

  test("V2 SQL catalog: decimal columns take the native write path and " +
      "round-trip exactly") {
    val c = sqlCat("dec")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.dc " +
      "(id BIGINT, amt DECIMAL(12,2), sm DECIMAL(7,3), big DECIMAL(24,6))")
    spark.sql(s"INSERT INTO $c.dc VALUES " +
      "(1, 12345.67, 1.5, 123456789012345.678901), " +
      "(2, -0.01, -999.999, -123456789012345.678901), " +
      "(3, NULL, 0.001, NULL)")
    val got = spark.sql(
      s"SELECT id, CAST(amt AS STRING) AS a, CAST(sm AS STRING) AS s, " +
        s"CAST(big AS STRING) AS b FROM $c.dc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, "12345.67", "1.500", "123456789012345.678901"),
      (2L, "-0.01", "-999.999", "-123456789012345.678901"),
      (3L, null, "0.001", null)))
    // the INSERT took the NATIVE executor-parallel path: graft's task
    // writer names files part-<pid>-<tid>-<uuid>.parquet (no Spark
    // .c000.snappy.parquet suffix), so a c000-free data dir proves it
    val tRoot = GraftCatalog.resolve(spark, catRoot, "dc")
    val dataDirs = new java.io.File(tRoot, "data").listFiles()
      .filter(_.isDirectory)
    val insertFiles = dataDirs.flatMap(_.listFiles())
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(insertFiles.exists(n => !n.contains("c000")),
      s"decimal INSERT must take the native writer: $insertFiles")
  }

  test("V2 SQL catalog: nested schemas write through the native writer") {
    val c = sqlCat("nested")
    spark.sql(s"CREATE TABLE $c.n AS SELECT id, array(id, id * 2) AS arr, " +
      "named_struct('a', id) AS st FROM range(5)")
    spark.sql(s"INSERT INTO $c.n SELECT id, array(id), named_struct('a', id) " +
      "FROM range(100, 102)")
    val rows = spark.sql(
      s"SELECT id, arr[0] AS a0, st.a AS sa FROM $c.n ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 100L, 101L))
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) && r.getLong(2) == r.getLong(0)))
  }

  /** The parquet file names under the data dirs a statement added. */
  private def addedFiles(tRoot: String)(statement: => Unit): Seq[String] = {
    def dirs() = new java.io.File(tRoot, "data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    def files(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else Seq(f.getName).filter(_.endsWith(".parquet"))
    val before = dirs()
    statement
    (dirs() -- before).toSeq.flatMap(d => files(new java.io.File(tRoot, s"data/$d")))
  }

  test("one SQL write path: every column type and DATE partitions round-trip") {
    val c = sqlCat("onepath")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    // maps do not take part in set operations: compare their entries
    def same(table: String, view: String, cols: String): Unit = {
      val t = spark.sql(s"SELECT $cols FROM $c.$table")
      val v = spark.sql(s"SELECT $cols FROM $view")
      assert(t.exceptAll(v).isEmpty && v.exceptAll(t).isEmpty,
        s"$table differs from $view")
    }
    def taskFiles(names: Seq[String]): Unit =
      assert(names.nonEmpty && names.forall(n =>
        n.startsWith("part-") && n.endsWith(".parquet") && !n.contains("c000")),
        s"INSERT must write graft task files: $names")
    spark.sql(s"CREATE TABLE $c.w (id BIGINT, arr ARRAY<BIGINT>, " +
      "st STRUCT<a: BIGINT, b: STRING>, m MAP<STRING, BIGINT>, sm SMALLINT, " +
      "ti TINYINT, bin BINARY, ntz TIMESTAMP_NTZ, dec DECIMAL(38,10))")
    def typed(lo: Int, hi: Int): String =
      s"""SELECT id, IF(id % 5 = 0, NULL, array(id, id * 2)) AS arr,
         |named_struct('a', id, 'b', CAST(id AS STRING)) AS st,
         |IF(id % 4 = 0, NULL, map('k', id, 'j', -id)) AS m,
         |CAST(id - 9 AS SMALLINT) AS sm, CAST(id % 7 - 3 AS TINYINT) AS ti,
         |IF(id % 3 = 0, NULL, CAST(CAST(id AS STRING) AS BINARY)) AS bin,
         |make_timestamp_ntz(2024, 1, 1 + CAST(id % 28 AS INT), 12, 34, 56.5) AS ntz,
         |IF(id % 6 = 0, NULL, CAST(concat(IF(id % 2 = 0, '-', ''),
         |  CAST(id % 10 AS STRING), '234567890123456789012345678.0123456789')
         |  AS DECIMAL(38,10))) AS dec
         |FROM range($lo, $hi)""".stripMargin
    spark.sql(typed(0, 20)).createOrReplaceTempView("onepath_a")
    spark.sql(typed(100, 113)).createOrReplaceTempView("onepath_b")
    val cols = "id, arr, st, map_entries(m) AS m, sm, ti, bin, ntz, dec"
    val wRoot = GraftCatalog.resolve(spark, catRoot, "w")
    taskFiles(addedFiles(wRoot)(
      spark.sql(s"INSERT INTO $c.w SELECT * FROM onepath_a")))
    same("w", "onepath_a", cols)
    spark.sql(s"INSERT OVERWRITE $c.w SELECT * FROM onepath_b")
    same("w", "onepath_b", cols)
    // DATE partitions: INSERT, dynamic overwrite, static overwrite
    spark.sql(s"CREATE TABLE $c.dp (id BIGINT, v STRING, d DATE) PARTITIONED BY (d)")
    spark.sql("SELECT id, CAST(id AS STRING) AS v, " +
      "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS d FROM range(12)")
      .createOrReplaceTempView("onepath_d")
    val dRoot = GraftCatalog.resolve(spark, catRoot, "dp")
    taskFiles(addedFiles(dRoot)(
      spark.sql(s"INSERT INTO $c.dp SELECT * FROM onepath_d")))
    same("dp", "onepath_d", "id, v, d")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(s"INSERT OVERWRITE $c.dp " +
      "SELECT id + 100, 'dyn', DATE'2024-01-02' FROM range(3)")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    spark.sql("SELECT * FROM onepath_d WHERE d <> DATE'2024-01-02' UNION ALL " +
      "SELECT id + 100, 'dyn', DATE'2024-01-02' FROM range(3)")
      .createOrReplaceTempView("onepath_dyn")
    same("dp", "onepath_dyn", "id, v, d")
    spark.sql(s"INSERT OVERWRITE $c.dp PARTITION (d = DATE'2024-01-01') " +
      "SELECT id + 200, 'static' FROM range(2)")
    spark.sql("SELECT * FROM onepath_dyn WHERE d <> DATE'2024-01-01' UNION ALL " +
      "SELECT id + 200, 'static', DATE'2024-01-01' FROM range(2)")
      .createOrReplaceTempView("onepath_static")
    same("dp", "onepath_static", "id, v, d")
  }

  test("an empty-string partition value lands in the default partition") {
    val c = sqlCat("emptypart")
    spark.sql(s"CREATE TABLE $c.p (id BIGINT, s STRING) PARTITIONED BY (s)")
    spark.sql(s"INSERT INTO $c.p VALUES (1, ''), (2, 'a'), (3, NULL)")
    assert(spark.sql(s"SELECT id, s FROM $c.p ORDER BY id").collect()
      .mkString(";") == "[1,null];[2,a];[3,null]")
  }

  test("MERGE and UPDATE on tables with ARRAY columns: keyed is a delta") {
    val c = sqlCat("keyarr")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.ka (k BIGINT, xs ARRAY<BIGINT>) " +
      "TBLPROPERTIES ('graft.key' = 'k')")
    spark.sql(s"INSERT INTO $c.ka SELECT id, array(id) FROM range(10)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "ka")
    val before = Txn.history(spark, tRoot).last._2.split(',').map(_.trim).toSeq
    spark.sql(s"""MERGE INTO $c.ka t USING (SELECT 3L AS k, array(30L, 31L) AS xs
      |UNION ALL SELECT 42L, array(42L)) s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET xs = s.xs
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val (_, line, meta) = Txn.history(spark, tRoot).last
    val entries = line.split(',').map(_.trim).toSeq
    assert(meta.get("op").contains("sql-merge-delta"), s"$meta")
    assert(entries.take(before.size) == before && entries.size == before.size + 2 &&
      entries(before.size).matches("~.*@k") && !entries.last.startsWith("~"),
      s"MERGE must extend the manifest with a tombstone and a rows dir: $entries")
    assert(spark.sql(s"SELECT k, xs FROM $c.ka WHERE k IN (3, 4, 42) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq ==
      Seq((3L, Seq(30L, 31L)), (4L, Seq(4L)), (42L, Seq(42L))))
    // keyless: the group copy-on-write rewrite writes the nested column
    spark.sql(s"CREATE TABLE $c.kl (k BIGINT, xs ARRAY<BIGINT>)")
    spark.sql(s"INSERT INTO $c.kl SELECT id, array(id) FROM range(3)")
    spark.sql(s"UPDATE $c.kl SET xs = array(k, -k) WHERE k = 1")
    assert(spark.sql(s"SELECT k, xs FROM $c.kl ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq ==
      Seq((0L, Seq(0L)), (1L, Seq(1L, -1L)), (2L, Seq(2L))))
  }

  test("spark.graft.write.distribution accepts only clustered or none") {
    val c = sqlCat("wdistbad")
    spark.sql(s"CREATE TABLE $c.wb (id BIGINT, day BIGINT) PARTITIONED BY (day)")
    spark.conf.set("spark.graft.write.distribution", "Clustered")
    val e = try intercept[Exception] {
      spark.sql(s"INSERT INTO $c.wb VALUES (1, 1)")
    } finally spark.conf.unset("spark.graft.write.distribution")
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("spark.graft.write.distribution") &&
      m.contains("'Clustered'")), msgs.mkString(" | "))
  }

  test("V2 SQL catalog: metadata tables graft.t.history/detail/props " +
      "and CALL procedures vacuum/maintain/restore (r12)") {
    val c = sqlCat("meta")
    spark.sql(s"CREATE TABLE $c.mt (id BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.key' = 'id')")
    spark.sql(s"INSERT INTO $c.mt SELECT id, id * 2 FROM range(100)")
    spark.sql(s"INSERT INTO $c.mt VALUES (1000, 1)")
    // history: every version with its writer op, through pasted SQL
    val hist = spark.sql(
      s"SELECT version, op FROM $c.mt.history ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(hist.toSeq == Seq((1L, "sql-create-table"), (2L, "sql-insert"),
      (3L, "sql-insert")), s"history drifted: ${hist.toSeq}")
    // detail: the DESCRIBE DETAIL gauge + declared properties
    val det = spark.sql(s"SELECT num_versions, key_col FROM $c.mt.detail").head()
    assert(det.getLong(0) == 3L && det.getString(1) == "id")
    // props: the raw table contract
    assert(spark.sql(s"SELECT value FROM $c.mt.props WHERE key = 'key'")
      .head().getString(0) == "id")
    // CALL restore: O(manifest) rollback through SQL
    val res = spark.sql(s"CALL $c.restore(table => 'mt', version => 2)").head()
    assert(res.getLong(0) == 2L && res.getLong(1) == 4L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mt").head().getLong(0) == 100L)
    // CALL maintain: the gauge should NOT trip on a tiny clean table
    val m = spark.sql(s"CALL $c.maintain(table => 'mt')").head()
    assert(!m.getBoolean(0) && m.getLong(1) == 4L)
    // CALL vacuum with keep_last=1 retains only recent manifests
    val vac = spark.sql(s"CALL $c.vacuum(`table` => 'mt', keep_last => 1)").head()
    assert(vac.getString(0) == "mt" && vac.getLong(1) >= 1L)
    // the table stays readable after vacuum
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mt").head().getLong(0) == 100L)
    // .files (r13): the current version's data-file inventory — counts
    // and bytes agree with the DESCRIBE DETAIL gauge
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "mt")
    val (_, nFiles, nBytes, _) = Txn.tableDetail(spark, tRoot)
    val fl = spark.sql(s"SELECT count(*) AS n, sum(size_bytes) AS b " +
      s"FROM $c.mt.files").head()
    assert(fl.getLong(0) == nFiles && fl.getLong(1) == nBytes,
      s".files drifted from tableDetail: $fl vs ($nFiles, $nBytes)")
    // CALL clone (r13): zero-copy shallow clone into a NEW name —
    // content identical, then the clone diverges copy-on-write
    val cl = spark.sql(s"CALL $c.clone(`table` => 'mt', target => 'mt2')").head()
    assert(cl.getString(0) == "mt2" && cl.getLong(2) >= 1L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mt2").head().getLong(0) == 100L)
    spark.sql(s"INSERT INTO $c.mt2 VALUES (5000, 1)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mt2").head().getLong(0) == 101L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mt").head().getLong(0) == 100L,
      "a write to the clone must not touch the source")
    // cloning onto an existing name refuses loud
    intercept[Exception] {
      spark.sql(s"CALL $c.clone(`table` => 'mt', target => 'mt2')")
    }
  }

  test("V2 SQL catalog: CALL compact bin-packs, z-orders, re-derives " +
      "declared sidecars, and collapses tombstone chains (r12)") {
    val c = sqlCat("compact")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.cz (x BIGINT, y BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.stats' = 'x,y')")
    // many small shards + a tombstone: the fragmented-table shape
    (0 until 6).foreach { k =>
      spark.sql(s"INSERT INTO $c.cz SELECT id % 64 AS x, " +
        s"CAST(id / 64 AS BIGINT) % 64 AS y, id AS v " +
        s"FROM range(${k * 500}, ${k * 500 + 500})")
    }
    spark.sql(s"DELETE FROM $c.cz WHERE v = 7")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "cz")
    assert(Txn.tableDetail(spark, tRoot)._4 == 1L)
    val res = spark.sql(
      s"CALL $c.compact(`table` => 'cz', zorder => 'x,y', target_files => 4)")
      .head()
    assert(res.getLong(1) <= 4L, s"compaction must bin-pack: $res")
    // content survives exactly; the tombstone chain collapsed
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.cz").head().getLong(0) == 2999L)
    assert(Txn.tableDetail(spark, tRoot)._4 == 0L)
    assert(Txn.history(spark, tRoot).last._3("op") == "sql-compact-zorder")
    // the z-ordered layout + re-derived sidecars make a 2-D point query
    // prune: both x and y ranges are tight per file
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $c.cz WHERE x = 3 AND y = 1")
      .head().getLong(0) ==
      (0 until 3000).count(i => i % 64 == 3 && (i / 64) % 64 == 1))
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.filesKept < d.filesTotal,
      s"z-ordered compaction must enable 2-D pruning: $d")
  }

  test("TIMESTAMP skipping probes: floor-to-second conversion prunes " +
      "time ranges correctly — the r12-advice gate's successor (r13)") {
    val c = sqlCat("tsskip")
    // stats+bloom DECLARED on a timestamp column: sidecars are written
    // via cast('long') (epoch SECONDS), Catalyst literals are internal
    // MICROSECONDS — r13 FLOOR-converts the literal to the seconds
    // domain (one-sided: an equality keeps the whole second, a range
    // bound floors conservatively), so THE time-series filter shape
    // prunes files instead of being type-gated off
    spark.sql(s"CREATE TABLE $c.ts (id BIGINT, ts TIMESTAMP) " +
      s"TBLPROPERTIES ('graft.stats' = 'ts', 'graft.bloom' = 'ts')")
    // 8 ts-clustered files over seconds 0..7999
    spark.range(0, 8000).selectExpr("id",
      "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts")
      .repartitionByRange(8, col("ts"))
      .createOrReplaceTempView("ts_src")
    spark.sql(s"INSERT INTO $c.ts SELECT * FROM ts_src")
    // range query spanning ~1/8 of the time domain prunes to ~2 files
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ts " +
      s"WHERE ts >= timestamp'2024-01-01 00:16:40' " +
      s"AND ts < timestamp'2024-01-01 00:33:20'").head().getLong(0) == 1000L)
    val d1 = graft.catalog.GraftScanStats.lastDecision.get
    // repartitionByRange bounds are sampled, not exact — the span can
    // straddle an extra file; half the table pruned is the claim
    assert(d1.filesKept <= d1.filesTotal / 2,
      s"a 1/8-span time range must prune: $d1")
    // equality: exactly one row back, pruned to the files of its second
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT id FROM $c.ts " +
      s"WHERE ts = timestamp'2024-01-01 00:00:30'").head().getLong(0) == 30L)
    val d2 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d2.filesKept < d2.filesTotal / 2, s"equality must prune: $d2")
    // SUB-SECOND one-sidedness: two rows in ONE second, different
    // micros — a mid-second equality keeps the second's file (floor)
    // and Spark's residual filter returns exactly the matching row
    spark.sql(s"CREATE TABLE $c.tsx (id BIGINT, ts TIMESTAMP) " +
      s"TBLPROPERTIES ('graft.stats' = 'ts')")
    spark.sql(s"INSERT INTO $c.tsx VALUES " +
      s"(1, timestamp'2024-06-01 12:00:00.25'), " +
      s"(2, timestamp'2024-06-01 12:00:00.75')")
    val sub = spark.sql(s"SELECT id FROM $c.tsx " +
      s"WHERE ts = timestamp'2024-06-01 12:00:00.75'")
      .collect().map(_.getLong(0)).toSeq
    assert(sub == Seq(2L), s"sub-second equality drifted: $sub")
    // and the IN shape (InSet after optimization for long lists)
    val inVals = (0 until 60).map(i =>
      f"timestamp'2024-01-01 00:00:$i%02d'").mkString(", ")
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ts WHERE ts IN ($inVals)")
      .head().getLong(0) == 60L)
    val d3 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d3.filesKept < d3.filesTotal / 2, s"IN must prune: $d3")
  }

  test("DATE skipping probes: epoch-days sidecars prune date filters " +
      "exactly (r13)") {
    val c = sqlCat("dtskip")
    // stats+bloom on a DATE column: the writers record datediff-from-
    // epoch DAYS (ANSI forbids a date->long cast) and the Catalyst DATE
    // literal IS epoch days, so probes are exact — the daily-partition-
    // free date-filter shape
    spark.sql(s"CREATE TABLE $c.dt (id BIGINT, d DATE) " +
      s"TBLPROPERTIES ('graft.stats' = 'd', 'graft.bloom' = 'd')")
    spark.range(0, 800).selectExpr("id",
      "date_add(DATE'2023-01-01', CAST(id AS INT)) AS d")
      .repartitionByRange(8, col("d"))
      .createOrReplaceTempView("dt_src")
    spark.sql(s"INSERT INTO $c.dt SELECT * FROM dt_src")
    // a ~1/8 date range prunes to the overlapping files
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.dt " +
      s"WHERE d >= DATE'2023-04-11' AND d < DATE'2023-07-20'")
      .head().getLong(0) == 100L)
    val d1 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d1.filesKept <= d1.filesTotal / 2,
      s"a 100-day range must prune: $d1")
    // equality: exact row, pruned
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT id FROM $c.dt WHERE d = DATE'2023-01-31'")
      .head().getLong(0) == 30L)
    val d2 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d2.filesKept <= d2.filesTotal / 2, s"date equality must prune: $d2")
    // the IN shape (InSet after optimization for long lists)
    val inVals = (0 until 60).map(i =>
      s"DATE'${java.time.LocalDate.of(2023, 1, 1).plusDays(i)}'").mkString(", ")
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.dt WHERE d IN ($inVals)")
      .head().getLong(0) == 60L)
    val d3 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d3.filesKept <= d3.filesTotal / 2, s"date IN must prune: $d3")
  }

  test("STRING stats compare in the writer's UTF8 binary order — " +
      "supplementary-plane values must not be dropped (r13)") {
    import spark.implicits._
    val c = sqlCat("utf8ord")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val root = fresh("utf8ord_t")
    // U+FFFD sorts ABOVE U+1F600 in Java's UTF-16 code-unit order but
    // BELOW it in UTF-8 byte order (the order min()/max() used to write
    // the sidecar) — a Java-order probe concluded repl > max and
    // dropped the file containing the probed value
    val repl = "�"
    val emoji = new String(Character.toChars(0x1F600))
    Txn.commit(Seq((1L, repl), (2L, emoji)).toDF("id", "s").coalesce(1),
      root, statsCols = Seq("s"))
    GraftCatalog.create(spark, catRoot, "u8", root)
    assert(spark.sql(s"SELECT id FROM $c.u8 WHERE s = '$repl'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql(s"SELECT id FROM $c.u8 WHERE s = '$emoji'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("ALTER TABLE applies atomically: a failing change leaves earlier " +
      "property updates unapplied (r13)") {
    val c = sqlCat("atomalter")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.aa (id BIGINT, v BIGINT)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.aa SET TBLPROPERTIES " +
        s"('graft.stats' = 'id', 'graft.unsupported' = 'x')")
    }
    val tRoot = GraftCatalog.resolve(spark, catRoot, "aa")
    assert(!Txn.tableProps(spark, tRoot).contains("stats"),
      "a failed multi-change ALTER must not half-apply")
    // a valid multi-property ALTER still lands both
    spark.sql(s"ALTER TABLE $c.aa SET TBLPROPERTIES " +
      s"('graft.stats' = 'id', 'graft.bloom' = 'id')")
    val props = Txn.tableProps(spark, tRoot)
    assert(props.get("stats").contains("id") && props.get("bloom").contains("id"))
  }

  test("CALL compact keeps a declared-partition table's hive layout and " +
      "dir-pruning rung (r13)") {
    val c = sqlCat("compactpart")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.cp (id BIGINT, day BIGINT) " +
      s"PARTITIONED BY (day) TBLPROPERTIES ('graft.stats' = 'id')")
    (0 until 3).foreach { k =>
      spark.sql(s"INSERT INTO $c.cp SELECT id, id % 4 AS day " +
        s"FROM range(${k * 400}, ${k * 400 + 400})")
    }
    val tRoot = GraftCatalog.resolve(spark, catRoot, "cp")
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("day", Seq(1L)))) == ((3, 12)))
    spark.sql(s"CALL $c.compact(`table` => 'cp', zorder => '', " +
      s"target_files => 4)")
    // the compacted snapshot is STILL hive-partitioned: one dir chain,
    // 4 day dirs, and the directory rung fires through SQL
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("day", Seq(1L)))) == ((1, 4)),
      "compaction must preserve the partitioned layout")
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.cp WHERE day = 1")
      .head().getLong(0) == 300L)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.dirsKept == 1 && d.dirsTotal == 4,
      s"dir pruning must survive compaction: $d")
    // zorder composes: clusters WITHIN partitions, layout intact
    spark.sql(s"CALL $c.compact(`table` => 'cp', zorder => 'id', " +
      s"target_files => 4)")
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("day", Seq(1L)))) == ((1, 4)))
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.cp").head().getLong(0) == 1200L)
  }

  test("a keyless predicate DELETE keeps the table's partition layout " +
      "and sidecars") {
    val c = sqlCat("delpart")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.dp (id BIGINT, v BIGINT, day BIGINT) " +
      s"PARTITIONED BY (day) " +
      s"TBLPROPERTIES ('graft.stats' = 'id', 'graft.bloom' = 'id')")
    spark.sql(s"INSERT INTO $c.dp SELECT id, id AS v, id % 8 AS day FROM range(800)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "dp")
    val day3 = Seq(Txn.PartProbe("day", Seq(3L)))
    assert(Txn.partitionCensus(spark, tRoot, day3) == ((1, 8)))
    // not a key shape: the rewrite path
    spark.sql(s"DELETE FROM $c.dp WHERE v > 700")
    assert(spark.sql(s"SELECT count(*) FROM $c.dp").head().getLong(0) == 701L)
    assert(Txn.partitionCensus(spark, tRoot, day3) == ((1, 8)),
      "the DELETE rewrite must keep the partitioned layout")
    def kept(probes: Seq[Txn.SkipProbe]): Txn.SkipReport = {
      val v = Txn.currentVersion(spark, tRoot).get
      Txn.skipDecision(spark, tRoot, v, probes)._2
    }
    val all = kept(day3)
    assert(all.dirsKept == 1 && all.dirsTotal == 8 && all.filesKept > 0, all)
    // the stats sidecar prunes past the surviving max id (700) …
    assert(kept(day3 :+ Txn.RangeProbe("id", 701L, 10000L)).filesKept == 0)
    // … and the bloom sidecar an id inside day 3's range but not in it
    assert(kept(day3 :+ Txn.PointProbe("id", Seq(21L))).filesKept == 0)
    // deleting every row writes an empty partitioned snapshot: readable,
    // and the next INSERT lands partitioned again
    spark.sql(s"DELETE FROM $c.dp WHERE v >= 0")
    assert(spark.sql(s"SELECT count(*) FROM $c.dp").head().getLong(0) == 0L)
    spark.sql(s"INSERT INTO $c.dp VALUES (3, 3, 3)")
    assert(spark.sql(s"SELECT id FROM $c.dp WHERE day = 3").head().getLong(0) == 3L)
  }

  test("multi-column PARTITIONED BY: nested a=v/b=w layout, per-level " +
      "directory pruning, native writes, OVERWRITE keeps layout (r13)") {
    import graft.ops.Txn
    val c = sqlCat("multipart")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.mp (id BIGINT, year BIGINT, src STRING) " +
      s"PARTITIONED BY (year, src)")
    spark.sql(s"INSERT INTO $c.mp SELECT id, 2020 + id % 3, " +
      s"CASE WHEN id % 2 = 0 THEN 'web' ELSE 'book' END FROM range(600)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "mp")
    // on-disk: nested year=…/src=… dirs, written by the NATIVE writer
    val leafFiles = new java.io.File(tRoot, "data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(d => d.isDirectory && d.getName.startsWith("year="))
      .flatMap(_.listFiles()).filter(d => d.isDirectory &&
        d.getName.startsWith("src="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".parquet"))
    assert(leafFiles.nonEmpty && leafFiles.forall(n => !n.contains("c000")),
      s"expected native nested partition files: ${leafFiles.take(3).toSeq}")
    // the partition columns reconstruct from BOTH levels
    assert(spark.sql(s"SELECT sum(year) AS s FROM $c.mp").head().getLong(0) ==
      (0L until 600L).map(i => 2020L + i % 3).sum)
    // doubly-pruned SELECT: the year rung drops 2 of 3 year subtrees
    // (their src children are never listed), the src rung drops 1 of
    // the kept year's 2 children → 2 kept of 5 listed
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mp " +
      s"WHERE year = 2021 AND src = 'web'").head().getLong(0) == 100L)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.dirsKept == 2 && d.dirsTotal == 5,
      s"both directory rungs must fire: $d")
    // pruning on the SECOND-level column alone composes too
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mp WHERE src = 'book'")
      .head().getLong(0) == 300L)
    val d2 = graft.catalog.GraftScanStats.lastDecision.get
    assert(d2.dirsKept == 6 && d2.dirsTotal == 9,
      s"second-level rung must drop 3 of 6 leaf dirs: $d2")
    // programmatic probes see LEAF granularity
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("year", Seq(2021L)))) == ((2, 6)))
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("src", Seq("web")))) == ((3, 6)))
    // NULL partition values land in the sentinel dir and round-trip
    spark.sql(s"INSERT INTO $c.mp VALUES (9999, 2020, NULL)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mp WHERE src IS NULL")
      .head().getLong(0) == 1L)
    // INSERT OVERWRITE keeps the two-level layout (CAS-pinned commit)
    spark.sql(s"INSERT OVERWRITE $c.mp SELECT id, 2030 + id % 2, 'x' " +
      s"FROM range(10)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.mp").head().getLong(0) == 10L)
    assert(Txn.partitionCensus(spark, tRoot, Seq(Txn.PartProbe("year", Seq(2030L)))) == ((1, 2)))
  }

  test("STRING bloom sidecars: point lookups on an UNCLUSTERED string " +
      "key open O(matching) files where min/max stats keep everything (r13)") {
    import graft.ops.Txn
    val c = sqlCat("strbloom")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val root = fresh("strbloom_t")
    // files clustered by id; the STRING key suid is uniform across
    // files — lexicographic min/max spans ~everything per file, so only
    // the bloom can prune (the exact story long blooms tell, r10)
    import org.apache.spark.sql.functions.{col => fcol, concat, lit, lpad}
    val docs = spark.range(1, 16001).select(
      fcol("id"),
      concat(lit("doc-"), lpad(((fcol("id") * 2654435761L) % 100000L)
        .cast("string"), 6, "0")).as("suid"))
      .repartitionByRange(16, fcol("id"))
    Txn.commit(docs, root, bloomCols = Seq("suid"))
    GraftCatalog.create(spark, catRoot, "sb", root)
    // programmatic claim: the bloom keeps O(matching) of 16 files
    val probe = docs.where(fcol("id") === 7777L)
      .select("suid").head().getString(0)
    val (_, Txn.SkipReport(kept, total, _, _)) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, Seq(Txn.StrPointProbe("suid", Seq(probe))))
    assert(total == 16 && kept <= 3,
      s"string bloom must prune an unclustered key: $kept/$total")
    // ≡ the unpruned read
    val got = Txn.readSkipping(spark, root, Seq(Txn.StrPointProbe("suid", Seq(probe))))
      .select("id").collect().map(_.getLong(0)).toSet
    val want = Txn.read(spark, root).where(fcol("suid") === probe)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.contains(7777L))
    // and through pasted SQL: the V1/native skipping path consults the
    // string bloom for equality probes
    graft.catalog.GraftScanStats.reset()
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sb WHERE suid = '$probe'")
      .head().getLong(0) == want.size.toLong)
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.filesKept <= 3 && d.filesTotal == 16,
      s"SQL string point query must open O(matching) files: $d")
  }

  test("probe conjunctions: readSkipping ≡ the filtered read, and its " +
      "SkipReport is the decision pasted SQL records") {
    import spark.implicits._
    val c = sqlCat("conj")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val root = fresh("conj_t")
    // two-level (year, src) layout; inside each leaf the files hold
    // distinct id ranges, and key/skey are spread over every file
    def keyOf(i: Long): Long = (i * 2654435761L) % 100003L
    def skeyOf(i: Long): String = s"doc-${(i * 40503L) % 100003L}"
    val df = spark.range(0, 6000).select(col("id"),
      (lit(2020L) + col("id") % 3).as("year"),
      when(col("id") % 2 === 0, "web").otherwise("book").as("src"),
      ((col("id") * 2654435761L) % 100003L).as("key"),
      concat(lit("doc-"), ((col("id") * 40503L) % 100003L).cast("string"))
        .as("skey"))
      .repartitionByRange(4, col("id"))
    Txn.commit(df, root, partitionBy = Some("year,src"), statsCols = Seq("id"),
      bloomCols = Seq("key", "skey"), bloomBits = 1 << 14)
    Txn.commitDelete(spark, root, Seq("id"), Seq(1234L).toDF("id"))
    GraftCatalog.create(spark, catRoot, "cj", root)
    // ids ≡ 4 (mod 6) live under year=2021/src=web; 1234 is tombstoned
    val hits = Seq(1234L, 1240L, 2230L)
    val probes = Seq(Txn.RangeProbe("id", 1000L, 2999L),
      Txn.PointProbe("key", hits.map(keyOf)),
      Txn.StrPointProbe("skey", hits.map(skeyOf)),
      Txn.PartProbe("year", Seq(2021L)), Txn.PartProbe("src", Seq("web")))
    val got = Txn.readSkipping(spark, root, probes).collect().toSet
    val want = Txn.read(spark, root).where(col("id").between(1000L, 2999L) &&
      col("key").isin(hits.map(keyOf): _*) &&
      col("skey").isin(hits.map(skeyOf): _*) &&
      col("year") === 2021L && col("src") === "web").collect().toSet
    assert(got == want)
    assert(got.map(_.getAs[Long]("id")) == Set(1240L, 2230L))
    graft.catalog.GraftScanStats.reset()
    val sqlIds = spark.sql(s"SELECT id FROM $c.cj " +
      s"WHERE id BETWEEN 1000 AND 2999 " +
      s"AND key IN (${hits.map(keyOf).mkString(", ")}) " +
      s"AND skey IN (${hits.map(h => s"'${skeyOf(h)}'").mkString(", ")}) " +
      s"AND year = 2021 AND src = 'web'").collect().map(_.getLong(0)).toSet
    assert(sqlIds == Set(1240L, 2230L))
    val d = graft.catalog.GraftScanStats.lastDecision.get
    val (_, report) = Txn.skipDecision(spark, root,
      Txn.currentVersion(spark, root).get, probes)
    assert(report ==
      Txn.SkipReport(d.filesKept, d.filesTotal, d.dirsKept, d.dirsTotal),
      s"programmatic $report vs SQL $d")
    assert(report.dirsKept < report.dirsTotal &&
      report.filesKept < report.filesTotal, s"both rungs must fire: $report")
  }

  test("partitioned write distribution is read from the session that " +
      "built the write, not the active one") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsWrite}
    import org.apache.spark.sql.connector.distributions.UnspecifiedDistribution
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RequiresDistributionAndOrdering}
    import org.apache.spark.sql.types.{LongType, StructType}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val c = sqlCat("wdist")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.wd (id BIGINT, day BIGINT) PARTITIONED BY (day)")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.write.distribution", "none")
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def queryId(): String = "wdist"
      override def schema(): StructType =
        new StructType().add("id", LongType).add("day", LongType)
    }
    // the write is built while s2 is active …
    SparkSession.setActiveSession(s2)
    val write = try {
      val cat = new graft.catalog.GraftSqlCatalog
      cat.initialize(c, new CaseInsensitiveStringMap(
        java.util.Map.of("root", catRoot)))
      cat.loadTable(Identifier.of(Array.empty[String], "wd"))
        .asInstanceOf[SupportsWrite].newWriteBuilder(info).build()
    } finally SparkSession.setActiveSession(spark)
    // … and planned while the default-conf session is active
    assert(spark.conf.getOption("spark.graft.write.distribution").isEmpty)
    assert(write.asInstanceOf[RequiresDistributionAndOrdering]
      .requiredDistribution().isInstanceOf[UnspecifiedDistribution])
  }

  test("ALTER TABLE RENAME/DROP COLUMN via column mapping: metadata-only, " +
      "old versions time-travel with old names, writes land physically (r13)") {
    import graft.ops.Txn
    val c = sqlCat("colmap")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.cm (id BIGINT, v BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $c.cm VALUES (1, 10, 'a'), (2, 20, 'b')")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "cm")
    val dataVersion = Txn.currentVersion(spark, tRoot).get
    // RENAME is metadata-only: one commit, no data moved
    val filesBefore = Txn.tableDetail(spark, tRoot)._2
    spark.sql(s"ALTER TABLE $c.cm RENAME COLUMN v TO score")
    assert(Txn.currentVersion(spark, tRoot).get == dataVersion + 1)
    assert(Txn.tableDetail(spark, tRoot)._2 == filesBefore,
      "rename must not rewrite data")
    assert(spark.table(s"$c.cm").schema.fieldNames.toSeq ==
      Seq("id", "score", "tag"))
    assert(spark.sql(s"SELECT score FROM $c.cm WHERE id = 1")
      .head().getLong(0) == 10L)
    // time travel BEFORE the rename reads the OLD name
    assert(spark.sql(s"SELECT * FROM $c.cm VERSION AS OF $dataVersion")
      .schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    // INSERTs after the rename land under the PHYSICAL name: old and
    // new rows serve through one mapped read
    spark.sql(s"INSERT INTO $c.cm VALUES (3, 30, 'c')")
    assert(spark.sql(s"SELECT id, score FROM $c.cm ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // filters on the renamed column push correctly
    assert(spark.sql(s"SELECT id FROM $c.cm WHERE score >= 20 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // DROP hides the column without rewriting data
    spark.sql(s"ALTER TABLE $c.cm DROP COLUMN tag")
    assert(Txn.tableDetail(spark, tRoot)._2 == Txn.tableDetail(spark, tRoot)._2)
    assert(spark.table(s"$c.cm").schema.fieldNames.toSeq == Seq("id", "score"))
    assert(spark.sql(s"SELECT * FROM $c.cm WHERE id = 2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 20L)))
    // reusing the dropped column's PHYSICAL name refuses loud; a fresh
    // name works and null-fills
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.cm ADD COLUMN tag STRING")
    }
    spark.sql(s"ALTER TABLE $c.cm ADD COLUMN label STRING")
    spark.sql(s"INSERT INTO $c.cm VALUES (4, 40, 'lab')")
    val got = spark.sql(s"SELECT id, score, label FROM $c.cm ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(got.toSeq == Seq((1L, 10L, None), (2L, 20L, None),
      (3L, 30L, None), (4L, 40L, Some("lab"))))
    // UPDATE/DELETE work through the mapping (keyless COW + tombstone)
    spark.sql(s"DELETE FROM $c.cm WHERE id = 1")
    spark.sql(s"UPDATE $c.cm SET score = 99 WHERE id = 2")
    assert(spark.sql(s"SELECT id, score FROM $c.cm ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 99L), (3L, 30L), (4L, 40L)))
    // contract columns refuse rename (declared index)
    spark.sql(s"ALTER TABLE $c.cm SET TBLPROPERTIES ('graft.stats' = 'id')")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.cm RENAME COLUMN id TO key_id")
    }
  }

  test("dynamic partition overwrite: refreshing one partition writes one " +
      "partition and leaves every other partition's files untouched (r13)") {
    import graft.ops.Txn
    val c = sqlCat("dynover")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.dp (id BIGINT, day BIGINT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $c.dp SELECT id, id % 4 AS day FROM range(400)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "dp")
    val before = Txn.currentVersion(spark, tRoot).get
    val beforeEntries = Txn.history(spark, tRoot)
      .find(_._1 == before).get._2.split(',').map(_.trim).toSeq
    def filesOnDisk(): Set[String] = {
      val it = new org.apache.hadoop.fs.Path(s"$tRoot/data")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(new org.apache.hadoop.fs.Path(s"$tRoot/data"), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.toString
      }
      b.result()
    }
    val beforeFiles = filesOnDisk()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE $c.dp SELECT id + 10000, 2 AS day " +
        s"FROM range(50)")
      // ONE manifest extension: prior entries + ~tuples@day + new dir
      val after = Txn.currentVersion(spark, tRoot).get
      assert(after == before + 1)
      val (_, line, meta) = Txn.history(spark, tRoot).find(_._1 == after).get
      assert(meta.get("op").contains("sql-overwrite-dynamic"), s"$meta")
      val entries = line.split(',').map(_.trim).toSeq
      assert(entries.take(beforeEntries.size) == beforeEntries,
        "prior manifest entries must carry over unchanged")
      assert(entries.size == beforeEntries.size + 2 &&
        entries.exists(_.matches("~.*@day")), s"unexpected manifest: $entries")
      // the untouched partitions' FILES are bit-identical on disk
      assert(beforeFiles.subsetOf(filesOnDisk()),
        "dynamic overwrite must not rewrite existing files")
      // semantics: day=2 fully replaced, other days intact
      assert(spark.sql(s"SELECT count(*) AS n FROM $c.dp WHERE day = 2")
        .head().getLong(0) == 50L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $c.dp").head().getLong(0)
        == 300L + 50L)
      assert(spark.sql(s"SELECT min(id) AS m FROM $c.dp WHERE day = 2")
        .head().getLong(0) == 10000L)
      // NULL partitions refuse loud under dynamic (an anti-join on a
      // null key deletes nothing — silent non-replacement otherwise)
      val err = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE $c.dp VALUES (1, NULL)")
      }
      assert(err.getMessage.contains("NULL partition") ||
        Option(err.getCause).exists(_.getMessage.contains("NULL partition")),
        s"expected the null-partition refusal: ${err.getMessage}")
      // dynamic on an UNPARTITIONED table degenerates to full replace
      spark.sql(s"CREATE TABLE $c.flat (id BIGINT)")
      spark.sql(s"INSERT INTO $c.flat SELECT id FROM range(10)")
      spark.sql(s"INSERT OVERWRITE $c.flat SELECT id FROM range(3)")
      assert(spark.sql(s"SELECT count(*) AS n FROM $c.flat")
        .head().getLong(0) == 3L)
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // STATIC mode still replaces the whole table
    spark.sql(s"INSERT OVERWRITE $c.dp SELECT id, id % 2 AS day FROM range(10)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.dp").head().getLong(0) == 10L)
  }

  test("static INSERT OVERWRITE PARTITION (col=v): replaces exactly the " +
      "named subtree, empty batch clears it, bad shapes refuse (r13)") {
    import graft.ops.Txn
    val c = sqlCat("statover")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.sp (id BIGINT, day BIGINT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $c.sp SELECT id, id % 4 AS day FROM range(400)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "sp")
    val before = Txn.currentVersion(spark, tRoot).get
    // named-partition overwrite: one manifest extension, O(batch)
    spark.sql(s"INSERT OVERWRITE $c.sp PARTITION (day = 1) " +
      s"SELECT id + 7000 FROM range(30)")
    val after = Txn.currentVersion(spark, tRoot).get
    assert(after == before + 1)
    val (_, line, meta) = Txn.history(spark, tRoot).find(_._1 == after).get
    assert(meta.get("op").contains("sql-overwrite-partition"), s"$meta")
    assert(line.split(',').exists(_.matches("~.*@day")), s"$line")
    assert(spark.sql(s"SELECT count(*) AS n, min(id) AS m FROM $c.sp " +
      s"WHERE day = 1").head().toSeq == Seq(30L, 7000L))
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sp").head().getLong(0)
      == 330L)
    // an EMPTY batch still clears the named partition (SQL semantics)
    spark.sql(s"INSERT OVERWRITE $c.sp PARTITION (day = 3) " +
      s"SELECT id FROM range(0) WHERE id > 0")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sp WHERE day = 3")
      .head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sp").head().getLong(0)
      == 230L)
    // two-level: naming only the FIRST level replaces the whole subtree
    spark.sql(s"CREATE TABLE $c.sp2 (id BIGINT, year BIGINT, src STRING) " +
      s"PARTITIONED BY (year, src)")
    spark.sql(s"INSERT INTO $c.sp2 SELECT id, 2020 + id % 2, " +
      s"CASE WHEN id % 2 = 0 THEN 'web' ELSE 'book' END FROM range(100)")
    spark.sql(s"INSERT OVERWRITE $c.sp2 PARTITION (year = 2020) " +
      s"SELECT id + 900, 'web' FROM range(5)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sp2 WHERE year = 2020")
      .head().getLong(0) == 5L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.sp2").head().getLong(0)
      == 55L)
    // a non-partition-column filter shape refuses at plan time
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $c.sp PARTITION (day = null) VALUES (1)")
    }
  }

  test("dynamic partition overwrite composes with multi-level layouts: " +
      "one (year,src) leaf refresh (r13)") {
    import graft.ops.Txn
    val c = sqlCat("dynover2")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.dp2 (id BIGINT, year BIGINT, src STRING) " +
      s"PARTITIONED BY (year, src)")
    spark.sql(s"INSERT INTO $c.dp2 SELECT id, 2020 + id % 2, " +
      s"CASE WHEN id % 2 = 0 THEN 'web' ELSE 'book' END FROM range(200)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "dp2")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE $c.dp2 SELECT id + 5000, 2020, 'web' " +
        s"FROM range(7)")
      assert(spark.sql(s"SELECT count(*) AS n FROM $c.dp2 " +
        s"WHERE year = 2020 AND src = 'web'").head().getLong(0) == 7L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $c.dp2")
        .head().getLong(0) == 100L + 7L)
      val (_, line, _) = Txn.history(spark, tRoot).last
      assert(line.split(',').exists(_.matches("~.*@year\\+src")),
        s"expected a composite year+src tombstone: $line")
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("composite graft.key: a three-branch MERGE on a (k1,k2)-keyed " +
      "table lands as ONE delta manifest extension (r13)") {
    import graft.ops.Txn
    val c = sqlCat("compkey")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.ck (k1 BIGINT, k2 BIGINT, v BIGINT, " +
      s"tag STRING) TBLPROPERTIES ('graft.key' = 'k1,k2')")
    spark.sql(s"INSERT INTO $c.ck SELECT id % 10, id DIV 10, id, " +
      s"CASE WHEN id % 3 = 0 THEN 'del' ELSE 'keep' END FROM range(0, 1000)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "ck")
    val before = Txn.currentVersion(spark, tRoot).get
    val beforeDirs = Txn.history(spark, tRoot)
      .find(_._1 == before).get._2.split(',').length
    spark.sql(s"""MERGE INTO $c.ck t USING (
      |  SELECT id % 10 AS k1, id DIV 10 AS k2, id * 100 AS nv
      |  FROM range(0, 2000) WHERE id % 7 = 0) s
      |ON t.k1 = s.k1 AND t.k2 = s.k2
      |WHEN MATCHED AND t.tag = 'del' THEN DELETE
      |WHEN MATCHED THEN UPDATE SET v = s.nv
      |WHEN NOT MATCHED THEN INSERT (k1, k2, v, tag)
      |  VALUES (s.k1, s.k2, s.nv, 'new')""".stripMargin)
    // ONE version, op sql-merge-delta, manifest extended by exactly a
    // composite tombstone + a rows dir — O(batch), not a rewrite
    val after = Txn.currentVersion(spark, tRoot).get
    assert(after == before + 1)
    val (_, dirsLine, meta) = Txn.history(spark, tRoot).find(_._1 == after).get
    assert(meta.get("op").contains("sql-merge-delta"),
      s"composite key must take the delta path: $meta")
    val entries = dirsLine.split(',').map(_.trim)
    assert(entries.length == beforeDirs + 2,
      s"expected prior dirs + tombstone + rows: ${entries.toSeq}")
    assert(entries.exists(_.matches("~.*@k1\\+k2")),
      s"expected a composite ~dir@k1+k2 tombstone: ${entries.toSeq}")
    // semantics ≡ the relational recompute
    val got = spark.sql(s"SELECT k1, k2, v, tag FROM $c.ck " +
      s"ORDER BY k1, k2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val src = (0L until 2000L).filter(_ % 7 == 0).map(i => (i % 10, i / 10) -> (i * 100))
    val srcMap = src.toMap
    val tgt = (0L until 1000L).map(i => ((i % 10, i / 10), i,
      if (i % 3 == 0) "del" else "keep"))
    val want = (tgt.flatMap { case (k, v, tag) =>
      srcMap.get(k) match {
        case Some(_) if tag == "del" => None
        case Some(nv)                => Some((k._1, k._2, nv, tag))
        case None                    => Some((k._1, k._2, v, tag))
      }
    } ++ src.collect {
      case (k, nv) if !tgt.exists(_._1 == k) => (k._1, k._2, nv, "new")
    }).sortBy(t => (t._1, t._2))
    assert(got.toSeq == want, s"composite MERGE drifted (n=${got.length})")
    // composite-key UPDATE and DELETE ride the same delta path
    spark.sql(s"UPDATE $c.ck SET v = -1 WHERE tag = 'new'")
    assert(Txn.history(spark, tRoot).last._3.get("op")
      .contains("sql-update-delta"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ck WHERE v = -1")
      .head().getLong(0) == src.count { case (k, _) => !tgt.exists(_._1 == k) })
  }

  test("V1-bridge scans report real statistics: a small tombstoned dim " +
      "joined through SQL plans as a broadcast hash join (r13)") {
    val c = sqlCat("v1stats")
    spark.sql(s"CREATE TABLE $c.dim (k BIGINT, name STRING)")
    spark.sql(s"INSERT INTO $c.dim SELECT id, concat('n', id) FROM range(0, 25)")
    // the tombstone routes reads through the V1 bridge — the exact
    // chain shape a delta MERGE leaves behind, which r12 costed at
    // defaultSizeInBytes (≈ ∞) and therefore never broadcast
    spark.sql(s"DELETE FROM $c.dim WHERE k = 3")
    spark.sql(s"CREATE TABLE $c.fact (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.fact SELECT id % 25, id FROM range(0, 20000)")
    val q = spark.sql(
      s"SELECT f.k, d.name, f.v FROM $c.fact f JOIN $c.dim d ON f.k = d.k")
    // the discriminating claim: the STATIC plan (pre-execution, not an
    // AQE runtime rescue) picks the broadcast join — r12 planned SMJ
    // here because V1ScanWrapper costs at defaultSizeInBytes
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"expected a statically-planned BroadcastHashJoin:\n" +
        q.queryExecution.executedPlan)
    assert(q.count() == 20000L - 800L) // k=3 rows lost their dim match
    // the un-wrapped scan reports its real bytes (the substrate the
    // broadcast decision reads; V1ScanWrapper hides the interface from
    // computeStats, which is why the hint rule exists)
    val hints = q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
    }
    assert(hints.exists(h => h.leftHint.nonEmpty || h.rightHint.nonEmpty),
      s"stats rule must hint the small graft side: $hints")
    // a LARGE tombstoned table must NOT be hinted: same chain shape,
    // bytes above the threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
    try {
      val q2 = spark.sql(
        s"SELECT f.k, d.name FROM $c.fact f JOIN $c.dim d ON f.k = d.k")
      val hints2 = q2.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
      }
      assert(hints2.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty),
        s"an over-threshold side must stay unhinted: $hints2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (10L << 20).toString)
  }

  test("atomic rename: one mapping at every instant, no silent remap") {
    import spark.implicits._
    val cat = fresh("ren")
    val rootA = fresh("ren_a")
    val rootB = fresh("ren_b")
    Txn.commit((1L to 3L).toDF("id"), rootA)
    Txn.commit((10L to 12L).toDF("id"), rootB)
    GraftCatalog.create(spark, cat, "olda", rootA)
    GraftCatalog.renameTable(spark, cat, "olda", "newa")
    assert(!GraftCatalog.tableExists(spark, cat, "olda"))
    assert(ids(GraftCatalog.read(spark, cat, "newa")) == (1L to 3L).toSet)
    // the root never moved — only the name did
    assert(GraftCatalog.resolve(spark, cat, "newa") == rootA)
    // renaming onto an existing name fails loud (no silent remap)
    GraftCatalog.create(spark, cat, "other", rootB)
    assert(intercept[IllegalArgumentException] {
      GraftCatalog.renameTable(spark, cat, "newa", "other")
    }.getMessage.contains("already exists"))
    // renaming a missing name fails loud
    assert(intercept[IllegalArgumentException] {
      GraftCatalog.renameTable(spark, cat, "ghost", "x1")
    }.getMessage.contains("no table"))
  }

  test("V2 SQL catalog: ALTER COLUMN TYPE widens losslessly as a " +
      "metadata-only commit (r13)") {
    import org.apache.spark.sql.types._
    val c = sqlCat("widen")
    spark.sql(s"CREATE TABLE $c.w (k INT, bal FLOAT, tag STRING)")
    spark.sql(s"INSERT INTO $c.w VALUES (1, CAST(1.5 AS FLOAT), 'a'), " +
      s"(2, CAST(2.5 AS FLOAT), 'b')")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    val root = GraftCatalog.resolve(spark, catRoot, "w")
    val preWiden = Txn.currentVersion(spark, root).get
    // widen both columns — two metadata-only commits, no data moves
    val filesBefore = Txn.tableDetail(spark, root)._2
    spark.sql(s"ALTER TABLE $c.w ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $c.w ALTER COLUMN bal TYPE DOUBLE")
    assert(Txn.tableDetail(spark, root)._2 == filesBefore,
      "widening must not rewrite any data file")
    val sch = spark.table(s"$c.w").schema
    assert(sch("k").dataType == LongType && sch("bal").dataType == DoubleType)
    // old rows surface widened, values preserved
    val rows = spark.sql(s"SELECT k, bal, tag FROM $c.w ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 1.5d, "a"), (2L, 2.5d, "b")))
    // post-widen INSERT carries values only the WIDE type can hold —
    // the chain now mixes int32 and int64 files and still reads
    spark.sql(s"INSERT INTO $c.w VALUES (3000000000, 3.5, 'c')")
    val sum = spark.sql(s"SELECT CAST(SUM(k) AS BIGINT) AS s, " +
      s"CAST(SUM(bal) AS DOUBLE) AS b FROM $c.w").head()
    assert(sum.getLong(0) == 3000000003L && math.abs(sum.getDouble(1) - 7.5) < 1e-9)
    // time travel: the pre-widen version reads with the old types
    val old = spark.sql(s"SELECT * FROM $c.w VERSION AS OF $preWiden").schema
    assert(old("k").dataType == IntegerType && old("bal").dataType == FloatType)
    // widened type FOLLOWS a rename (the override re-keys in the same
    // commit)
    spark.sql(s"ALTER TABLE $c.w RENAME COLUMN k TO k2")
    val ren = spark.table(s"$c.w").schema
    assert(ren("k2").dataType == LongType)
    assert(spark.sql(s"SELECT CAST(SUM(k2) AS BIGINT) AS s FROM $c.w")
      .head().getLong(0) == 3000000003L)
    // refusals: narrowing, cross-family, contract columns
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.w ALTER COLUMN k2 TYPE INT") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.w ALTER COLUMN tag TYPE BIGINT") }
    spark.sql(s"CREATE TABLE $c.wc (id INT, v INT) " +
      s"TBLPROPERTIES ('graft.stats' = 'id')")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.wc ALTER COLUMN id TYPE BIGINT") }
    // DECIMAL precision widening (same scale): int32-backed files read
    // under the int64-backed declared type
    spark.sql(s"CREATE TABLE $c.wd (id BIGINT, amt DECIMAL(9,2))")
    spark.sql(s"INSERT INTO $c.wd VALUES (1, 12.34), (2, 56.78)")
    spark.sql(s"ALTER TABLE $c.wd ALTER COLUMN amt TYPE DECIMAL(18,2)")
    assert(spark.table(s"$c.wd").schema("amt").dataType ==
      DecimalType(18, 2))
    spark.sql(s"INSERT INTO $c.wd VALUES (3, 123456789012345.67)")
    val amts = spark.sql(s"SELECT amt FROM $c.wd ORDER BY id")
      .collect().map(_.getDecimal(0).toPlainString).toSeq
    assert(amts == Seq("12.34", "56.78", "123456789012345.67"))
    // a SCALE change is not lossless — refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.wd ALTER COLUMN amt TYPE DECIMAL(18,4)") }
  }

  test("V2 SQL catalog: declared CHECK constraints enforce on every " +
      "SQL write path (r13)") {
    val c = sqlCat("check")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    // native flat path: per-row task-writer enforcement
    spark.sql(s"CREATE TABLE $c.ck (id BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.check' = 'v >= 0')")
    spark.sql(s"INSERT INTO $c.ck VALUES (1, 5), (2, 0)")
    val root = GraftCatalog.resolve(spark, catRoot, "ck")
    val vBefore = Txn.currentVersion(spark, root).get
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $c.ck VALUES (3, 7), (4, -1)")
    }
    assert(e1.getMessage != null) // statement failed
    // NOTHING published: same version, same rows
    assert(Txn.currentVersion(spark, root).get == vBefore)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ck").head().getLong(0) == 2L)
    // SQL NULL semantics: a NULL comparison is not a violation
    spark.sql(s"INSERT INTO $c.ck VALUES (5, NULL)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ck").head().getLong(0) == 3L)
    // native PARTITIONED path (check sees the partition column too)
    spark.sql(s"CREATE TABLE $c.ckp (id BIGINT, yr BIGINT) " +
      s"PARTITIONED BY (yr) " +
      s"TBLPROPERTIES ('graft.check' = 'yr BETWEEN 1990 AND 2100')")
    spark.sql(s"INSERT INTO $c.ckp VALUES (1, 1995)")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $c.ckp VALUES (2, 1889)")
    }
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ckp").head().getLong(0) == 1L)
    // nested columns take the same native path: per-row task-writer
    // enforcement of an ARRAY predicate
    spark.sql(s"CREATE TABLE $c.ckv (id BIGINT, xs ARRAY<BIGINT>) " +
      s"TBLPROPERTIES ('graft.check' = 'size(xs) <= 2')")
    spark.sql(s"INSERT INTO $c.ckv VALUES (1, array(1, 2))")
    val e2 = intercept[Exception] {
      spark.sql(s"INSERT INTO $c.ckv VALUES (2, array(1, 2, 3))")
    }
    assert(e2.getMessage.contains("CHECK"), e2.getMessage)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ckv").head().getLong(0) == 1L)
    // DELTA row-level path: a MERGE writing a violating replacement row
    // fails, the valid MERGE lands O(batch)
    spark.sql(s"CREATE TABLE $c.ckd (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.key' = 'k', 'graft.check' = 'v >= 0')")
    spark.sql(s"INSERT INTO $c.ckd VALUES (1, 10), (2, 20)")
    intercept[Exception] {
      spark.sql(s"MERGE INTO $c.ckd t USING (SELECT 1 AS k) s ON t.k = s.k " +
        s"WHEN MATCHED THEN UPDATE SET v = -5")
    }
    assert(spark.sql(s"SELECT v FROM $c.ckd WHERE k = 1").head().getLong(0) == 10L)
    spark.sql(s"MERGE INTO $c.ckd t USING (SELECT 1 AS k) s ON t.k = s.k " +
      s"WHEN MATCHED THEN UPDATE SET v = 99")
    assert(spark.sql(s"SELECT v FROM $c.ckd WHERE k = 1").head().getLong(0) == 99L)
    // KEYLESS group-COW path: the rewrite's op-prefixed rows are
    // checked once the prefix is projected off — UPDATE on an unkeyed
    // table is guarded too
    spark.sql(s"CREATE TABLE $c.ckc (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.check' = 'v >= 0')")
    spark.sql(s"INSERT INTO $c.ckc VALUES (1, 10), (2, 20)")
    intercept[Exception] {
      spark.sql(s"UPDATE $c.ckc SET v = -1 WHERE k = 1")
    }
    assert(spark.sql(s"SELECT v FROM $c.ckc WHERE k = 1").head().getLong(0) == 10L,
      "a violating keyless UPDATE must leave the table unchanged")
    spark.sql(s"UPDATE $c.ckc SET v = 11 WHERE k = 1")
    assert(spark.sql(s"SELECT v FROM $c.ckc WHERE k = 1").head().getLong(0) == 11L)
    // DDL-time validation: bad column / subquery refuse at declaration
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ckbad (id BIGINT) " +
        s"TBLPROPERTIES ('graft.check' = 'nope > 0')")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ck SET TBLPROPERTIES " +
        s"('graft.check' = 'ghost_col >= 0')")
    }
    // a RENAME that would orphan the declared check refuses loud
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ck RENAME COLUMN v TO w")
    }
    assert(e3.getMessage.contains("CHECK"), e3.getMessage)
    // updating the check re-arms enforcement
    spark.sql(s"ALTER TABLE $c.ck SET TBLPROPERTIES ('graft.check' = 'v >= 1')")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $c.ck VALUES (6, 0)")
    }
    spark.sql(s"INSERT INTO $c.ck VALUES (6, 1)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.ck").head().getLong(0) == 4L)
  }

  test("V2 SQL catalog: runtime join filters prune fact files through " +
      "sidecars (DPP, r13)") {
    import spark.implicits._
    val c = sqlCat("dpp")
    // fact: 16 key-clustered files with stats+bloom on the join key —
    // NO literal predicate on the fact anywhere in the query
    spark.sql(s"CREATE TABLE $c.f_dpp (id BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.stats' = 'id', 'graft.bloom' = 'id')")
    (1L to 16000L).map(i => (i, i % 97L)).toDF("id", "v")
      .repartitionByRange(16, col("id"))
      .createOrReplaceTempView("dpp_fact_src")
    spark.sql(s"INSERT INTO $c.f_dpp SELECT * FROM dpp_fact_src")
    // dim: tiny, with a selective predicate — its surviving keys land
    // in two distinct fact files
    spark.sql(s"CREATE TABLE $c.d_dpp (id BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $c.d_dpp VALUES " +
      s"(5, 'x'), (9001, 'x'), (12345, 'y')")
    graft.catalog.GraftScanStats.reset()
    val out = spark.sql(
      s"""SELECT f.id, f.v FROM $c.f_dpp f
         |JOIN $c.d_dpp d ON f.id = d.id
         |WHERE d.tag = 'x'""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((5L, 5L), (9001L, 9001L % 97L)))
    val d = graft.catalog.GraftScanStats.lastDecision.get
    assert(d.label.endsWith("(runtime)"),
      s"the decision must come from the RUNTIME filter path: $d")
    // 17 = 16 clustered INSERT files + the empty CREATE shard (no
    // sidecars -> kept one-sidedly); two surviving dim keys admit 2
    assert(d.filesTotal == 17 && d.filesKept <= 3,
      s"two surviving dim keys must open <= 3 of 17 fact files: $d")
    // one-sided contract: pruned result ≡ the same join unpruned
    // (through a plain filter-less read of both snapshots)
    val fact = spark.sql(s"SELECT id, v FROM $c.f_dpp")
    val dim = spark.sql(s"SELECT id FROM $c.d_dpp WHERE tag = 'x'")
    val ref = fact.join(dim, "id").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == ref)
  }

  test("keyless UPDATE on a PARTITIONED table keeps its layout and " +
      "sidecars: a partition filter still prunes after the rewrite") {
    val c = sqlCat("cowpart")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.p (id BIGINT, v BIGINT, day BIGINT) " +
      s"PARTITIONED BY (day) TBLPROPERTIES ('graft.stats' = 'v')")
    spark.sql(s"INSERT INTO $c.p SELECT id, id AS v, id % 4 AS day FROM range(400)")
    def dayOne(): (Long, graft.catalog.GraftScanStats.ScanDecision) = {
      graft.catalog.GraftScanStats.reset()
      val n = spark.sql(s"SELECT count(*) FROM $c.p WHERE day = 1").head().getLong(0)
      (n, graft.catalog.GraftScanStats.lastDecision.get)
    }
    val (before, d0) = dayOne()
    assert(before == 100L && d0.dirsKept == 1 && d0.dirsTotal == 4, s"$d0")
    spark.sql(s"UPDATE $c.p SET v = v + 1000 WHERE day = 1")
    val (after, d1) = dayOne()
    assert(after == 100L && d1.dirsKept == 1 && d1.dirsTotal == 4,
      s"the rewrite must stay partitioned: $d1")
    assert(spark.sql(s"SELECT sum(v) FROM $c.p").head().getLong(0) ==
      (0L until 400L).sum + 100L * 1000L)
    val tRoot = GraftCatalog.resolve(spark, catRoot, "p")
    val v = Txn.currentVersion(spark, tRoot).get
    assert(Txn.history(spark, tRoot).last._3.get("partitionCol").contains("day"))
    assert(Txn.fileStats(spark, tRoot, v).keys.exists(_._2 == "v"),
      "the rewrite must rebuild the declared stats sidecars")
  }

  test("only committed task files publish: a fresh dir's part file that " +
      "no commit message names is deleted before the publish") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val c = sqlCat("orphan")
    val catRoot = spark.conf.get(s"spark.sql.catalog.$c.root")
    spark.sql(s"CREATE TABLE $c.o (id BIGINT)")
    val tRoot = GraftCatalog.resolve(spark, catRoot, "o")
    val write = new graft.catalog.GraftBatchWrite(spark, tRoot,
      StructType(Seq(StructField("id", LongType))),
      graft.catalog.GraftBatchWrite.Append, "sql-insert")
    val factory = write.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    def attempt(taskId: Long, rows: Seq[Long]) = {
      val w = factory.createWriter(0, taskId)
      rows.foreach(i => w.write(InternalRow(i)))
      w.commit()
    }
    // two attempts of one partition: the driver keeps the first's
    // message, as it keeps one result per partition
    val won = attempt(1L, Seq(1L, 2L))
    attempt(2L, Seq(1L, 2L, 99L))
    val wonFile = new java.io.File(
      won.asInstanceOf[graft.ops.GraftCommitMessage].files.head)
    def partFiles = wonFile.getParentFile.listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    assert(partFiles.size == 2)
    write.commit(Array(won))
    assert(partFiles == Set(wonFile.getName))
    assert(ids(spark.table(s"$c.o")) == Set(1L, 2L))
  }
}
