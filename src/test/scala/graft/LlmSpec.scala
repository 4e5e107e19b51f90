package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, VectorCentroid}
import graft.multimodal.{Media, StubDecoder, StubResizer}

/** Properties of the non-oracle LLM ops (engine-specific hashing or
  * approximation) against their exact oracle-checked twins, plus the
  * custom Expression/Aggregator/multimodal equivalences. */
class LlmSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("dot_long == interpreted HOF dot product (eval + codegen paths)") {
    GraftFunctions.register(spark)
    val df = spark.range(100).select(
      expr("transform(sequence(0, 63), d -> id * 64 + d)").as("a"),
      expr("transform(sequence(0, 63), d -> (id + 3) * (d + 1))").as("b"))
    val got = df.select(
      expr("dot_long(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("hof"))
    assert(got.where(col("native") =!= col("hof")).count() == 0)
  }

  test("D3 approx_count_distinct within 5% of exact") {
    val r = SparkEntry.queries("agg_distinct_approx")(spark, dir).collect()
    r.foreach { row =>
      val approx = row.getAs[Long]("approx_parts").toDouble
      val exact = row.getAs[Long]("exact_parts").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx $approx vs exact $exact")
    }
  }

  test("D10b approx quantiles within 2 units of exact percentiles") {
    val approx = SparkEntry.queries("agg_quantiles_approx")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exact = graft.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, array(0.25d, 0.5d, 0.75d))").as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("i", "v")))
      .collect()
      .map(r => (r.getString(0), Seq(0.25, 0.5, 0.75)(r.getInt(1))) -> r.getDouble(2))
      .toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= 2.0, s"$k: approx ${approx(k)} vs exact $v")
    }
  }

  test("exact dedup is idempotent (dedup of survivors changes nothing)") {
    val survivors = SparkEntry.queries("llm_exact_dedup")(spark, dir)
      .select(col("doc_id"), col("digest"))
    val again = survivors.groupBy("digest").agg(min("doc_id").as("doc_id"))
    assert(again.count() == survivors.count())
  }

  test("minhash LSH: precision 1 vs exact Jaccard pairs, recall reported") {
    // FULL-corpus exact pairs via the unsampled engine — the registered
    // llm_jaccard_near_dup is scoped to the doc_id < SampleBound prefix since r8
    val exact = graft.ops.Llm.jaccardPairs(Tables.documents(spark, dir))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("llm_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified LSH pairs must all be true near-dups")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      info(s"minhash LSH recall = $recall (${lsh.size}/${exact.size})")
      assert(recall >= 0.95, s"recall $recall unexpectedly low")
    }
  }

  test("dedup clusters: pairs co-clustered, cluster_id is component min, sizes add up") {
    val pairs = graft.ops.Llm.jaccardPairs(Tables.documents(spark, dir))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = SparkEntry.queries("llm_dedup_clusters")(spark, dir).collect()
    val cluster = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // every near-dup pair lands in one cluster
    pairs.foreach { case (a, b) => assert(cluster(a) == cluster(b), s"pair ($a,$b) split") }
    // the representative is the minimum member, and is its own representative
    val members = cluster.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    members.foreach { case (cid, ms) => assert(ms.min == cid && cluster(cid) == cid) }
    // n_members matches the actual component sizes; total covers all docs
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") == members(r.getAs[Long]("cluster_id")).size.toLong)
    }
    assert(rows.length == cluster.size)
  }

  test("cluster_best: one survivor per cluster, argmax quality, min-id tie-break") {
    // the r6 keep policy: same components as llm_dedup_clusters, but the
    // survivor is the highest-quality member (doc_id breaks ties) — and
    // the fixture must actually EXERCISE the divergence from min-id
    val clusters = SparkEntry.queries("llm_dedup_clusters")(spark, dir)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = SparkEntry.queries("llm_quality_score")(spark, dir)
      .select("doc_id", "quality_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("llm_cluster_best")(spark, dir).collect()
    val members = clusters.groupBy(_._2).view.mapValues(_.keys.toVector).toMap
    assert(rows.map(_.getAs[Long]("cluster_id")).toSet == members.keySet)
    assert(rows.length == members.size)
    rows.foreach { r =>
      val (d, c) = (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))
      assert(clusters(d) == c, s"survivor $d is not a member of its cluster $c")
      val best = members(c).minBy(m => (-quality(m), m))
      assert(d == best, s"cluster $c kept $d, expected argmax-quality $best")
      assert(r.getAs[Long]("n_members") == members(c).size.toLong)
      assert(r.getAs[Long]("quality_micro") == quality(d))
    }
    val divergent = rows.count(r =>
      r.getAs[Long]("doc_id") != r.getAs[Long]("cluster_id"))
    assert(divergent > 0, "fixture never separates best-quality from min-id")
    info(s"survivor != min-id in $divergent of ${rows.length} clusters")
  }

  test("incremental dedup: kept = shard minus docs with an exact corpus near-dup") {
    // reference computed from the EXACT all-pairs Jaccard query, keeping
    // only shard<->corpus pairs in either id direction (the op must not
    // inherit nearDupAgainst's ref < probe session ordering)
    val docs = Tables.documents(spark, dir)
    val shardIds = docs.where(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dup = graft.ops.Llm.jaccardPairs(docs)
      .select("doc_a", "doc_b").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .collect { case (s2, c) if shardIds(s2) && !shardIds(c) => s2 }.toSet
    val kept = SparkEntry.queries("llm_dedup_incremental")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (shardIds -- dup))
    assert(dup.nonEmpty, "fixture must exercise the drop path")
    info(s"shard ${shardIds.size}: kept ${kept.size}, dropped ${dup.size}")
  }

  test("ingest index: boundary shard semantics and index reuse") {
    // buildNearDupIndex/novelAgainst off-fixture, with the cases the
    // oracle can't isolate: an exact dup, a pair just ABOVE tau
    // (J = 39/41) where the SHARD id is smaller than its corpus match
    // (the direction nearDupAgainst's ref < probe ordering would
    // miss), a pair just BELOW tau (J = 38/42), a fresh doc, and two
    // shard docs near-dup of EACH OTHER but of nothing in the corpus
    // (intra-shard dups must NOT count). Then a SECOND shard probes
    // the SAME index — the reuse shape the API exists for.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 300).map(i => s"v$i")
    def draw(n: Int): Vector[String] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      while (s.size < n) s += vocab(rnd.nextInt(vocab.size))
      s.toVector
    }
    def swap(toks: Vector[String], k: Int): Vector[String] = {
      var out = toks
      (0 until k).foreach { i =>
        var t = vocab(rnd.nextInt(vocab.size))
        while (out.contains(t)) t = vocab(rnd.nextInt(vocab.size))
        out = out.updated(i, t)
      }
      out
    }
    val c1 = draw(40); val c2 = draw(40); val c3 = draw(40)
    val corpus = Seq(1001L -> c1, 1002L -> c2, 1003L -> c3)
    val sPair = draw(40)
    val shard = Seq(
      1L -> c1,          // exact dup of corpus 1001 -> dropped
      2L -> swap(c2, 1), // J = 39/41 > tau, shard id < corpus id -> dropped
      3L -> swap(c3, 2), // J = 38/42 < tau -> kept
      4L -> draw(40),    // fresh -> kept
      5L -> sPair,       // near-dup of shard doc 6 only -> kept
      6L -> swap(sPair, 1))
    def df(rows: Seq[(Long, Vector[String])]) =
      rows.map { case (id, ts) => (id, rnd.shuffle(ts).mkString(" ")) }
        .toDF("doc_id", "text")
    val idx = graft.ops.DedupOps.buildNearDupIndex(df(corpus))
    val kept = graft.ops.DedupOps.novelAgainst(df(shard), idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L, 6L))
    val matched = graft.ops.DedupOps.matchedAgainstIndex(df(shard), idx)
      .collect().map(_.getLong(0)).toSet
    assert(matched == Set(1L, 2L))
    // second shard against the SAME index frames
    val shard2 = Seq(11L -> swap(c1, 1), 12L -> draw(40))
    val kept2 = graft.ops.DedupOps.novelAgainst(df(shard2), idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(12L))
    idx.unpersist()
  }

  test("ingest index: probe-after-reload == probe-in-session (r7 persistence)") {
    // NearDupIndex.write/load — a real ingest pipeline builds the index
    // once per corpus version and reloads it per shard job; the reloaded
    // index must be semantically IDENTICAL to the in-session one.
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val shard = docs.where(col("doc_id") % 10 === 0)
    val built = graft.ops.DedupOps.buildNearDupIndex(corpus)
    val inSession = graft.ops.DedupOps.novelAgainst(shard, built)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tmp = java.nio.file.Files.createTempDirectory("neardup_idx_").toString
    try {
      built.write(tmp)
      val loaded = graft.ops.DedupOps.NearDupIndex.load(spark, tmp)
      // the reloaded frames must carry the full index content, not a
      // lineage back to the corpus: same rows in both physical frames
      assert(loaded.refSets.count() == built.refSets.count())
      assert(loaded.bands.count() == built.bands.count())
      val reloaded = graft.ops.DedupOps.novelAgainst(shard, loaded)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(reloaded == inSession)
      val matchedReloaded = graft.ops.DedupOps.matchedAgainstIndex(shard, loaded)
        .collect().map(_.getLong(0)).toSet
      val matchedBuilt = graft.ops.DedupOps.matchedAgainstIndex(shard, built)
        .collect().map(_.getLong(0)).toSet
      assert(matchedReloaded == matchedBuilt && matchedBuilt.nonEmpty,
        "fixture must exercise the matched path")
      loaded.unpersist()
    } finally {
      built.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("ingest index deletion: probe-after-delete == probe-of-rebuilt-on-remaining (r8)") {
    // r7 verdict item 7: a real curation loop RETRACTS docs (takedowns,
    // license changes) — deleteFromNearDupIndex must behave exactly as
    // if the index had been built without them. The group subtlety is
    // the point: a rep row must survive while any equal-ts member
    // survives, and vanish when the group empties; the fixture's
    // contraction groups make both cases occur (asserted, not assumed).
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val shard = docs.where(col("doc_id") % 10 === 0)
    val removedPred = col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0
    val removed = docs.where(removedPred).select("doc_id")
    val idx = graft.ops.DedupOps.buildNearDupIndex(corpus)
    // the deletion set must hit BOTH subtle cases on this fixture:
    // (a) a removed rep whose group keeps a live member, (b) a group
    // emptied entirely — otherwise the test is vacuous on the hard paths
    val memberRows = idx.members.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val removedIds = removed.collect().map(_.getLong(0)).toSet
    val byRef = memberRows.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    val repRemovedMemberLives = byRef.exists { case (ref, ms) =>
      removedIds(ref) && (ms -- removedIds).nonEmpty }
    val groupEmptied = byRef.exists { case (_, ms) => ms.subsetOf(removedIds) }
    assert(repRemovedMemberLives, "fixture never removes a rep with a surviving member")
    assert(groupEmptied, "fixture never empties a whole equal-ts group")
    val deleted = graft.ops.DedupOps.deleteFromNearDupIndex(idx, removed)
    val rebuilt = graft.ops.DedupOps.buildNearDupIndex(
      corpus.where(!removedPred))
    def matched(ix: graft.ops.DedupOps.NearDupIndex) =
      graft.ops.DedupOps.matchedAgainstIndex(shard, ix)
        .collect().map(_.getLong(0)).toSet
    val afterDelete = matched(deleted)
    assert(afterDelete == matched(rebuilt))
    // rewrite semantics: the frames physically exclude the dead groups
    assert(deleted.members.count() == rebuilt.members.count())
    assert(deleted.refSets.count() == rebuilt.refSets.count())
    // and the compacted artifact round-trips
    val tmp = java.nio.file.Files.createTempDirectory("neardup_del_").toString
    try {
      deleted.write(tmp)
      val reloaded = graft.ops.DedupOps.NearDupIndex.load(spark, tmp)
      assert(matched(reloaded) == afterDelete)
      reloaded.unpersist()
    } finally {
      idx.unpersist(); deleted.unpersist(); rebuilt.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("token-set contraction preserves connected components exactly") {
    // the r4 contraction (equal-ts groups -> rep + star edges) must yield
    // the SAME (doc_id, label) map as components over the direct pair
    // graph — this is the property the scaladoc proof at
    // DedupOps.contractedNearDupEdges claims
    val docs = graft.Tables.documents(spark, dir)
    val nodes = docs.select(col("doc_id"))
    def labelsOf(pairs: org.apache.spark.sql.DataFrame) =
      graft.ops.DedupOps.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = labelsOf(
      graft.ops.Llm.jaccardPairs(docs).select(col("doc_a"), col("doc_b")))
    val contracted = labelsOf(graft.ops.DedupOps.contractedNearDupEdges(
      docs, graft.ops.Llm.jaccardPairs(_).select(col("doc_a"), col("doc_b"))))
    assert(contracted == direct)
    // and the LSH pair builder (corpus-clean stage 3) agrees too
    val lsh = labelsOf(graft.ops.DedupOps.contractedNearDupEdges(
      docs, graft.ops.DedupOps.lshVerifiedPairs))
    assert(lsh == direct)
    // componentLabels (r5: the CC loop confined to PAIRED REPS, members
    // and singleton reps derived post-hoc) must reproduce the exact
    // same (doc_id, label) map as the full-graph loop
    val (tagged, repDocs) = graft.ops.DedupOps.tsContraction(docs)
    val confined = graft.ops.DedupOps.componentLabels(
      tagged, graft.ops.DedupOps.lshVerifiedPairs(repDocs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(confined == direct)
  }

  test("componentLabels == full-graph loop on a seeded 5k-doc corpus " +
      "with skewed groups and tau-boundary pairs") {
    // r5 verdict item 6: the contraction-preservation property above
    // runs on the sf0.001 fixture (500 docs); this one generates a
    // 5000-doc corpus at realistic group-size skew with the edge cases
    // that could break a future componentLabels change:
    //  - a 300-member equal-token-set group (one rep + 299 stars),
    //  - long near-dup CHAINS (A0~A1~...~A9, each one token apart at
    //    J = 39/41 ≈ 0.951, just ABOVE τ = 0.95),
    //  - boundary NON-pairs (two tokens apart, J = 38/42 ≈ 0.905,
    //    BELOW τ) leaving singleton reps whose candidate pair is
    //    dropped by the verify — the exact case the post-convergence
    //    label join must coalesce to self-labels.
    // The property is confinement-equivalence GIVEN one pair builder
    // (exact jaccardPairs, deterministic — LSH recall is property-
    // tested separately), so the assertion is exact, not probabilistic.
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 400).map(i => s"w$i")
    def draw(n: Int): Vector[String] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      while (s.size < n) s += vocab(rnd.nextInt(vocab.size))
      s.toVector
    }
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    def add(toks: Seq[String]): Long = {
      val d = id; id += 1
      docs += d -> rnd.shuffle(toks.toVector).mkString(" "); d
    }
    // one giant equal-ts group (the fixture's 248-doc group, scaled)
    locally { val g = draw(45); (0 until 300).foreach(_ => add(g)) }
    // 60 chains of 10: consecutive docs one token apart (J just above τ)
    (0 until 60).foreach { _ =>
      var toks = draw(40)
      add(toks)
      (0 until 9).foreach { _ =>
        val out = rnd.nextInt(toks.size)
        var t = vocab(rnd.nextInt(vocab.size))
        while (toks.contains(t)) t = vocab(rnd.nextInt(vocab.size))
        toks = toks.updated(out, t)
        add(toks)
      }
    }
    // 200 boundary non-pairs: two tokens apart (J below τ) — candidates
    // that the exact verify drops, leaving both reps singleton
    (0 until 200).foreach { _ =>
      var toks = draw(40)
      add(toks)
      (0 until 2).foreach { _ =>
        val out = rnd.nextInt(toks.size)
        var t = vocab(rnd.nextInt(vocab.size))
        while (toks.contains(t)) t = vocab(rnd.nextInt(vocab.size))
        toks = toks.updated(out, t)
      }
      add(toks)
    }
    // skewed dup groups + singletons up to 5000 docs
    while (id < 5000L) {
      val g = draw(20 + rnd.nextInt(40))
      val size = math.min(5000L - id, 1L + (if (rnd.nextInt(10) == 0) rnd.nextInt(20) else rnd.nextInt(2))).toInt
      (0 until size).foreach(_ => add(g))
    }
    import spark.implicits._
    // round-trip through parquet: the component machinery references
    // the corpus several times (stars ∪ pairs, tagged ⋈ labels), and a
    // LocalRelation/LogicalRDD-backed frame shared across union
    // branches trips Catalyst's union constraint rewrite on the reused
    // expr-ids (key not found: src#N). A file scan — how this library
    // is fed in production and by every fixture — gets fresh
    // attributes per reference and is immune.
    val tmp = java.nio.file.Files.createTempDirectory("graft_seed5k").toString
    docs.toSeq.toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$tmp/docs.parquet")
    val corpus = spark.read.parquet(s"$tmp/docs.parquet")
    assert(corpus.count() == 5000)
    val pairB = (d: org.apache.spark.sql.DataFrame) =>
      graft.ops.Llm.jaccardPairs(d).select(col("doc_a"), col("doc_b"))
    val truth = graft.ops.DedupOps.connectedComponents(
      corpus.select(col("doc_id")),
      graft.ops.DedupOps.contractedNearDupEdges(corpus, pairB))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (tagged, repDocs) = graft.ops.DedupOps.tsContraction(corpus)
    val confined = graft.ops.DedupOps.componentLabels(tagged, pairB(repDocs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(confined.size == 5000)
    assert(confined == truth)
    // the generator really produced the skew it claims: a 300-member
    // group and singleton components both exist
    val sizes = truth.groupBy(_._2).map(_._2.size)
    assert(sizes.max >= 300 && sizes.min == 1)
  }

  test("componentLabels: empty pair set -> reps label themselves, members their rep") {
    // the loop-free derivation path: with no verified pairs the CC loop
    // runs on zero vertices and every label comes from the coalesce —
    // equal-ts members must still collapse onto their group rep
    import spark.implicits._
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val (tagged, _) = graft.ops.DedupOps.tsContraction(docs)
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val labels = graft.ops.DedupOps.componentLabels(tagged, noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("component loop on the fixture: entry points agree, singletons label self") {
    // the explicit-nodes and the edges-only entry points give the same
    // label to every paired vertex, and the explicit-nodes one labels
    // docs with no near-dup pair as themselves
    val docs = Tables.documents(spark, dir)
    val nodes = docs.select(col("doc_id"))
    val pairs = graft.ops.Llm.jaccardPairs(docs).select(col("doc_a"), col("doc_b"))
    val withNodes = graft.ops.DedupOps.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ofEdges = graft.ops.DedupOps.connectedComponentsOfEdges(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ofEdges.nonEmpty && withNodes.filter(e => ofEdges.contains(e._1)) == ofEdges)
    // singletons really exercised: docs with no near-dup pair label self
    assert(withNodes.exists { case (d, l) => d == l && !ofEdges.contains(d) })
  }

  test("partition-local contraction stitches components that span every " +
      "edge partition") {
    // r6: ccImpl absorbs intra-partition connectivity with a per-partition
    // union-find and iterates only on the stitch quotient. The adversarial
    // input for THAT design is a graph where no partition sees a whole
    // component: long chains whose consecutive edges land in different
    // partitions (the round-robin repartition(4) scatters them), so the
    // answer is only right if roots stitch across partitions AND the
    // quotient loop converges across multiple hops. Ids are drawn from a
    // shuffled permutation so the component min sits at a random chain
    // position (not the first edge some partition happens to hold).
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 1200L).toVector)
    // 3 chains of 400 vertices each: component = the chain's min id
    val chains = ids.grouped(400).toVector
    val edges = chains.flatMap(c => c.sliding(2).map(p => (p(0), p(1))))
    val labels = graft.ops.DedupOps.connectedComponentsOfEdges(
      rnd.shuffle(edges).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = chains.flatMap(c => c.map(_ -> c.min)).toMap
    assert(labels == expected)
    // the explicit-nodes entry point agrees and still coalesces
    // out-of-graph singletons to themselves
    val nodes = spark.range(1300).select(col("id").as("doc_id"))
    val withNodes = graft.ops.DedupOps.connectedComponents(
      nodes, edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withNodes == expected ++ (1200L until 1300L).map(i => i -> i))
  }

  test("component loop: empty pair set -> every doc is its own singleton") {
    // a clean corpus (no near-dups) must not break the checkpointed loop
    // (empty edge materialization, first-round convergence)
    import spark.implicits._
    val nodes = spark.range(10).select(col("id").as("doc_id"))
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val labels = graft.ops.DedupOps.connectedComponents(nodes, noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (0L until 10L).map(i => i -> i).toMap)
  }

  test("spark.graft.cc.edgeParts must be a whole number") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    spark.conf.set("spark.graft.cc.edgeParts", "four")
    val e = try intercept[IllegalArgumentException] {
      graft.ops.DedupOps.connectedComponentsOfEdges(pairs)
    } finally spark.conf.unset("spark.graft.cc.edgeParts")
    assert(e.getMessage.contains("spark.graft.cc.edgeParts") &&
      e.getMessage.contains("'four'"), e.getMessage)
  }

  test("component loop uses RELIABLE checkpoints when a dir is configured") {
    // the cluster path: with a checkpoint dir set, the loop's lineage
    // cuts go to the (cluster) FS so executor loss mid-loop is
    // recoverable — same labels, and checkpoint data actually written
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    sc.setCheckpointDir(ckDir)
    try {
      val docs = Tables.documents(spark, dir)
      val labels = graft.ops.DedupOps.connectedComponents(
        docs.select(col("doc_id")),
        graft.ops.Llm.jaccardPairs(docs).select(col("doc_a"), col("doc_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = SparkEntry.queries("llm_dedup_clusters")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(labels == expected)
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(written > 0, "no reliable checkpoint data was written")
    } finally {
      // SparkContext has no unset API; the shared session keeps the dir,
      // so later suites would silently switch to reliable checkpoints —
      // reset via the internal conf entry to keep tests independent
      sc.setLocalProperty("spark.checkpoint.dir", null)
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("corpus-clean near-dup stage plans WITHOUT a nested-loop join") {
    // executable golden for the r3->r4 fix: the composed pipeline's pair
    // stage must be the LSH candidate path (bucket equi-joins), never
    // the all-pairs BroadcastNestedLoopJoin — the one shape that cannot
    // run at 100 TB
    val stage = graft.ops.DedupOps.contractedNearDupEdges(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      graft.ops.DedupOps.lshVerifiedPairs)
    val plan = stage.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked back into the corpus-clean pair stage:\n$plan")
  }

  test("verify-join build side follows autoBroadcastJoinThreshold, same rows") {
    // r5 verdict item 1: the broadcast hints on the LSH verify joins
    // were an unconditional bench-scale choice with the 100 TB shape
    // living only in scaladoc. verifySide now broadcasts only under
    // spark.sql.autoBroadcastJoinThreshold — this test is the executable
    // half of the contract: the threshold changes ONLY the exchange
    // strategy (broadcast vs co-partitioned shuffle hash), never rows.
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def key(r: Row) = (r.getLong(0), r.getLong(1))
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    def withThreshold[A](thr: Option[String])(f: => A): A = {
      val prior = spark.conf.get(thrKey)
      thr.foreach(spark.conf.set(thrKey, _))
      try f finally spark.conf.set(thrKey, prior)
    }
    // plan and rows both taken under the threshold the frame was built with
    def pairs(thr: Option[String]) = withThreshold(thr) {
      val df = graft.ops.DedupOps.lshVerifiedPairs(docs)
      (df.queryExecution.executedPlan.toString, df.collect().map(key).toSet)
    }
    val (benchPlan, benchRows) = pairs(None)
    assert(benchPlan.contains("BroadcastHashJoin"),
      s"the default threshold must broadcast the verify joins:\n$benchPlan")
    val (scalePlan, scaleRows) = pairs(Some("-1"))
    assert(scalePlan.contains("ShuffledHashJoin"),
      s"a disabled threshold must plan the verify joins as shuffle hash:\n$scalePlan")
    assert(benchRows.nonEmpty && scaleRows == benchRows)
    // the r6 ingest path routes its ref-set lookup through the same
    // verifySide gate — identical novel set in the forced-scale shape
    val inc = SparkEntry.queries("llm_dedup_incremental")
    def novel(thr: Option[String]) = withThreshold(thr)(
      inc(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet)
    val (incBench, incScale) = (novel(None), novel(Some("-1")))
    assert(incScale == incBench && incBench.nonEmpty)
  }

  test("ts-group expansion == direct pair set on a doc_id-remapped corpus") {
    // re-key the fixture corpus (doc_id * 7 + 3) so group minima, pair
    // ordering, and rep selection all shift — the expansion must still
    // reproduce the direct all-pairs output exactly, including counts
    val docs = Tables.documents(spark, dir)
      .select((col("doc_id") * 7 + 3).as("doc_id"), col("text"))
    def key(r: Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val direct = graft.ops.Llm.jaccardPairs(docs).collect().map(key).toSet
    val (tagged, repDocs) = graft.ops.DedupOps.tsContraction(docs)
    val expanded = graft.ops.DedupOps.expandTsGroups(
      tagged, graft.ops.Llm.jaccardPairs(repDocs),
      Seq(col("tsz").as("n_inter"), col("tsz").as("n_union")))
      .collect().map(key).toSet
    assert(expanded == direct)
  }

  test("cosine sign-LSH == exact all-pairs on synthetic near-dup vectors") {
    // the FIXTURE corpus has zero cosine >= 0.95 pairs at every SF (both
    // cosine queries are output-empty there), so recall is asserted on a
    // constructed set: 40 deterministic base vectors, each with a
    // slightly perturbed twin (guaranteed cosine ~0.9995 > tau) plus the
    // base set's own cross pairs as hard negatives/positives
    GraftFunctions.register(spark)
    import spark.implicits._
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 64).map(d => ((i * 64 + d) * 2654435761L % 2001 - 1000)).toArray)
    }
    val twins = base.map { case (id, v) =>
      (id + 1000, v.zipWithIndex.map { case (x, d) => if (d == (id % 64)) x + 40 else x })
    }
    val emb = (base ++ twins).toDF("vec_id", "e0")
      .select(col("vec_id"), expr("transform(e0, x -> cast(x as bigint))").as("e"))
      .withColumn("n2", expr("dot_long(e, e)"))
    val exact = graft.ops.DedupOps.cosineAllPairs(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.ops.DedupOps.cosineLshPairs(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "synthetic corpus produced no near-dup pairs")
    assert(exact.size >= 40, s"expected at least the 40 twin pairs, got ${exact.size}")
    assert(lsh == exact, s"missed=${(exact -- lsh).size} extra=${(lsh -- exact).size}")
  }

  test("registered cosine queries detect the synthetic twin pairs (non-vacuous rows)") {
    // r6 verdict item 1: the raw fixture has zero cosine >= 0.95 pairs,
    // so the driver rows were green on empty output. The r7 twin slice
    // must make BOTH registered queries emit exactly the twin pairs —
    // full corpus for the LSH path, the fixed-count vec_id < SampleBound
    // prefix for the baseline (r8; every twin base id is < 50 < bound,
    // so both forms must emit all 50 twin pairs).
    val lsh = SparkEntry.queries("llm_cosine_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedFull = (0L until 50L).map(v => (v, v + 1000000L)).toSet
    assert(lsh == expectedFull, s"missed=${(expectedFull -- lsh).size} extra=${(lsh -- expectedFull).size}")
    val base = SparkEntry.queries("llm_cosine_near_dup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == expectedFull)
  }

  test("registered semantic dedup drops exactly the synthetic twins (non-vacuous rows)") {
    val rows = SparkEntry.queries("llm_semantic_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    val dropped = rows.filter(!_._2).keySet
    assert(dropped == (0L until 50L).map(_ + 1000000L).toSet,
      s"expected the 50 twins dropped, got ${dropped.size} drops")
    assert(rows.count(_._2) == rows.size - 50)
  }

  test("semantic dedup: precision 1 vs exact drops, recall on synthetic twins") {
    // same constructed corpus as the sign-LSH test (fixture has zero
    // cosine >= 0.95 pairs): 40 base vectors + 40 perturbed twins.
    // Exact drop set = vectors with ANY lower-id pair at tau; semantic
    // dedup must never drop outside it (every drop is exact-verified)
    // and should recover it through cluster confinement (twins are
    // near-identical, so they co-cluster under 2-nearest assignment).
    GraftFunctions.register(spark)
    import spark.implicits._
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 64).map(d => ((i * 64 + d) * 2654435761L % 2001 - 1000)).toArray)
    }
    val twins = base.map { case (id, v) =>
      (id + 1000, v.zipWithIndex.map { case (x, d) => if (d == (id % 64)) x + 40 else x })
    }
    val emb = (base ++ twins).toDF("vec_id", "e0")
      .select(col("vec_id"), expr("transform(e0, x -> cast(x as bigint))").as("e"))
      .withColumn("n2", expr("dot_long(e, e)"))
    val exactDrops = graft.ops.DedupOps.cosineAllPairs(emb)
      .select(col("vec_b").as("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val flags = graft.ops.DedupOps.semanticDedupFlags(emb)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags.size == 80 && exactDrops.nonEmpty)
    val semDrops = flags.filter(!_._2).keySet
    assert((semDrops -- exactDrops).isEmpty,
      s"dropped outside the exact pair set: ${semDrops -- exactDrops}")
    val recall = (semDrops intersect exactDrops).size.toDouble / exactDrops.size
    info(s"semantic dedup drop recall = $recall (${exactDrops.size} exact drops)")
    assert(recall >= 0.9, s"recall $recall below floor")
  }

  test("banded simhash == all-pairs simhash (pigeonhole recall is exact)") {
    // FULL-corpus all-pairs via the unsampled engine — the registered
    // llm_simhash_dedup is scoped to the doc_id < SampleBound prefix since r8, while the
    // banded scale path stays full-corpus
    val allPairs = graft.ops.DedupOps.simhashAllPairs(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = SparkEntry.queries("llm_simhash_banded")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == allPairs)
  }

  test("ann LSH: top-5 within candidates; recall vs brute force reported") {
    // UNSAMPLED brute-force ground truth — the registered
    // llm_similarity_topk scans the %2 candidate pool since r7
    val exact = graft.ops.Llm.bruteForceTopk(
        graft.ops.Llm.scaledEmb(spark, dir), lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("llm_ann_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann intersect exact).size.toDouble / exact.size
    info(s"ann LSH recall@5 = $recall")
    assert(recall >= 0.9, s"recall $recall unexpectedly low")
  }

  test("ann IVF: recall vs brute force reported") {
    val exact = graft.ops.Llm.bruteForceTopk(
        graft.ops.Llm.scaledEmb(spark, dir), lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("llm_ann_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect exact).size.toDouble / exact.size
    info(s"ann IVF recall@5 = $recall")
    assert(recall >= 0.85, s"recall $recall unexpectedly low")
  }

  test("nearestLists: collected-codebook path == window fallback above the " +
      "size bound, k=1 and k>1 (r15)") {
    // the r15 width ceiling (spark.graft.ann.maxCollectedCodebookBytes)
    // swaps the one-row collected codebook for the pre-r14 broadcast-join
    // + window form; the two paths must assign identical labels
    val emb = graft.ops.Llm.scaledEmb(spark, dir)
    val cents = graft.ops.Llm.trainIvfCentroids(
      emb.select("vec_id", "e"), nlist = 5, iters = 1)
    def labels(k: Int) = graft.ops.Llm.nearestLists(emb, cents, k)
      .select("vec_id", "c_label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Seq(1, 3).foreach { k =>
      val arrayPath = labels(k)
      spark.conf.set("spark.graft.ann.maxCollectedCodebookBytes", "1")
      val windowPath = try labels(k)
      finally spark.conf.unset("spark.graft.ann.maxCollectedCodebookBytes")
      assert(arrayPath == windowPath, s"paths diverge at k=$k")
      assert(arrayPath.nonEmpty)
    }
  }

  test("ann IVF index API: reload == in-session, append extends without retrain (r7)") {
    // the index-as-artifact contract: train on 90% of the corpus,
    // persist, reload (identical answers), then APPEND the remaining
    // 10% — assignment-only, centroids untouched — and the appended
    // index must still clear the recall floor against unsampled brute
    // force over the FULL corpus.
    val emb = graft.ops.Llm.scaledEmb(spark, dir)
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val incoming = emb.where(col("vec_id") % 10 === 0)
    val queries = emb.where(col("vec_id") < 10)
    def res(ix: graft.ops.Llm.AnnIvfIndex) =
      graft.ops.Llm.annQueryTopk(ix, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val idx = graft.ops.Llm.buildAnnIvfIndex(base)
    val inSession = res(idx)
    val tmp = java.nio.file.Files.createTempDirectory("ann_idx_").toString
    try {
      idx.write(tmp)
      val loaded = graft.ops.Llm.AnnIvfIndex.load(spark, tmp)
      assert(res(loaded) == inSession)
      val appended = graft.ops.Llm.appendToAnnIndex(loaded, incoming)
      assert(appended.assigned.count() == emb.count())
      // quantizer untouched by append
      val centsOf = (ix: graft.ops.Llm.AnnIvfIndex) => ix.centroids.collect()
        .map(r => r.getAs[Long]("c_label") -> r.getSeq[Long](1)).toMap
      assert(centsOf(appended) == centsOf(idx))
      // appended vectors are genuinely searchable: recall vs unsampled
      // brute force over the FULL corpus (which includes them)
      val exact = graft.ops.Llm.bruteForceTopk(emb, lit(true))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ann = graft.ops.Llm.annQueryTopk(appended, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (ann intersect exact).size.toDouble / exact.size
      info(s"appended-index recall@5 = $recall")
      assert(recall >= 0.85, s"recall $recall below floor after append")
      loaded.centroids.unpersist(); loaded.assigned.unpersist()
    } finally {
      idx.centroids.unpersist(); idx.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("ann LSH index API: reload == in-session, trainless append (r7)") {
    // the sign-LSH sibling of the IVF artifact test: hyperplanes are a
    // pure function of (table, dim), so an appended shard's buckets are
    // consistent with the persisted ones by construction — no retrain
    // concept at all. Build on 90%, persist, reload (identical
    // answers), append the rest, recall floor vs unsampled brute force
    // over the full corpus.
    val emb = graft.ops.Llm.scaledEmb(spark, dir)
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val incoming = emb.where(col("vec_id") % 10 === 0)
    val queries = emb.where(col("vec_id") < 10)
    def res(ix: graft.ops.Llm.AnnLshIndex) =
      graft.ops.Llm.lshQueryTopk(ix, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val idx = graft.ops.Llm.buildAnnLshIndex(base)
    val inSession = res(idx)
    val tmp = java.nio.file.Files.createTempDirectory("lsh_idx_").toString
    try {
      idx.write(tmp)
      val loaded = graft.ops.Llm.AnnLshIndex.load(spark, tmp)
      assert(res(loaded) == inSession)
      val appended = graft.ops.Llm.appendToLshIndex(loaded, incoming)
      assert(appended.vecs.count() == emb.count())
      assert(appended.buckets.count() == emb.count() * 8) // 8 tables per vector
      val exact = graft.ops.Llm.bruteForceTopk(emb, lit(true))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ann = graft.ops.Llm.lshQueryTopk(appended, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (ann intersect exact).size.toDouble / exact.size
      info(s"appended-LSH-index recall@5 = $recall")
      assert(recall >= 0.9, s"recall $recall below floor after append")
      loaded.buckets.unpersist(); loaded.vecs.unpersist()
    } finally {
      idx.buckets.unpersist(); idx.vecs.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("ann index deletion: deleted ids absent, IVF recall floor, LSH == rebuilt (r8)") {
    // r7 verdict item 7, ANN side. IVF: rewrite-delete physically empties
    // the inverted lists of the removed ids (they can never be returned),
    // and the survivors stay searchable at the recall floor. LSH:
    // hyperplanes are a pure function, so delete must equal a full
    // rebuild on the remaining vectors EXACTLY.
    val emb = graft.ops.Llm.scaledEmb(spark, dir)
    val removedPred = col("vec_id") % 7 === 0
    val removed = emb.where(removedPred).select("vec_id")
    val remaining = emb.where(!removedPred)
    val queries = emb.where(col("vec_id") < 10 && !removedPred)
    val idx = graft.ops.Llm.buildAnnIvfIndex(emb)
    val del = graft.ops.Llm.deleteFromAnnIndex(idx, removed)
    val res = graft.ops.Llm.annQueryTopk(del, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res.forall(_._2 % 7 != 0), "a deleted vector came back as a neighbor")
    val exact = graft.ops.Llm.bruteForceTopk(remaining, lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (res intersect exact).size.toDouble / exact.size
    info(s"post-delete IVF recall@5 = $recall")
    assert(recall >= 0.85, s"recall $recall below floor after delete")
    // bookkeeping: every remaining vector was trained on, so the
    // conservative trainedRows clamp leaves appendedFraction at 0
    assert(del.assigned.count() == remaining.count())
    assert(del.appendedFraction == 0.0)
    val lidx = graft.ops.Llm.buildAnnLshIndex(emb)
    val ldel = graft.ops.Llm.deleteFromLshIndex(lidx, removed)
    val rebuilt = graft.ops.Llm.buildAnnLshIndex(remaining)
    def lres(ix: graft.ops.Llm.AnnLshIndex) =
      graft.ops.Llm.lshQueryTopk(ix, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lres(ldel) == lres(rebuilt))
    idx.unpersist(); del.unpersist(); lidx.unpersist(); ldel.unpersist()
    rebuilt.unpersist()
  }

  test("ann IVF maintenance: decay under drift appends, maybeRetrain restores (r8)") {
    // r7 verdict item 4: appendToAnnIndex is assignment-only forever —
    // measure what that actually costs under DISTRIBUTION DRIFT and pin
    // the retrain policy. Synthetic drift corpus: 10 tight base clusters
    // near the origin region train the quantizer; three appended shards
    // bring 5 NEW wide clusters each from a shifted region the quantizer
    // never saw. Stale centroids don't partition the new mass (it piles
    // into the few lists nearest the shifted region), so with
    // nprobe=2 the probed-candidate fraction and/or recall degrade as
    // the appended fraction grows — and a retrain (fresh k-means over
    // the union) restores both. maybeRetrain's 0.5 default threshold is
    // calibrated from this curve (scaladoc).
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def h(x: Long): Long = { // splitmix-ish deterministic mixer
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def vec(seed: Long, scale: Long, offset: Long): Array[Long] =
      (0 until 64).map(d => math.floorMod(h(seed * 64 + d), 2 * scale + 1) - scale + offset).toArray
    def cluster(k: Int, offset: Long, jitter: Long): Seq[(Long, Array[Long])] = {
      val c = vec(1000 + k, 1000, offset)
      (0 until 20).map { j =>
        val m = vec(k * 100 + j, jitter, 0).zip(c).map { case (a, b) => a + b }
        (10000L + k * 100 + j, m)
      }
    }
    def frame(rows: Seq[(Long, Array[Long])]) =
      rows.toDF("vec_id", "e")
        .withColumn("n2", expr("dot_long(e, e)"))
        .select(col("vec_id"), col("e"), col("n2"))
    val baseRows = (0 until 10).flatMap(cluster(_, 0, 200))
    val shardRows = (0 until 3).map { s =>
      (10 + s * 5 until 15 + s * 5).flatMap(cluster(_, 2500, 700))
    }
    // driver-side exact cosine top-10 (corpus is ~500 rows here)
    def exactTop(corpus: Seq[(Long, Array[Long])], qs: Seq[(Long, Array[Long])]): Set[(Long, Long)] = {
      def dot(a: Array[Long], b: Array[Long]): Double =
        a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      qs.flatMap { case (qid, qv) =>
        corpus.filter(_._1 != qid)
          .map { case (cid, cv) => (cid, dot(qv, cv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv)))) }
          .sortBy { case (cid, sc) => (-sc, cid) }.take(10).map(c => (qid, c._1))
      }.toSet
    }
    def queriesOf(shardIdx: Int): Seq[(Long, Array[Long])] =
      (0 until 3).take(shardIdx + 1).flatMap(s => shardRows(s).grouped(20).map(_.head))
    // probed-candidate fraction at nprobe=2: how much of the corpus a
    // query actually scans — the IVF selectivity the stale quantizer loses
    def candFrac(ix: graft.ops.Llm.AnnIvfIndex, qs: org.apache.spark.sql.DataFrame,
        corpusSize: Long): Double = {
      val sizes = ix.assigned.groupBy("list_id").count()
      val probed = graft.ops.Llm.nearestLists(qs, ix.centroids, 2)
        .select(col("vec_id").as("qid"), col("c_label").as("list_id"))
        .join(sizes, "list_id")
        .groupBy("qid").agg(sum("count").as("cand"))
        .agg(avg("cand")).head().getDouble(0)
      probed / corpusSize
    }
    var idx = graft.ops.Llm.buildAnnIvfIndex(frame(baseRows))
    var corpus = baseRows
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Double)]
    (0 until 3).foreach { s =>
      idx = graft.ops.Llm.appendToAnnIndex(idx, frame(shardRows(s)))
      corpus = corpus ++ shardRows(s)
      val qs = queriesOf(s)
      val got = graft.ops.Llm.annQueryTopk(idx, frame(qs), k = 10, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = exactTop(corpus, qs)
      val recall = (got intersect exact).size.toDouble / exact.size
      val cf = candFrac(idx, frame(qs), corpus.size)
      val af = idx.appendedFraction
      curve += ((s + 1, af, recall, cf))
      info(f"after shard ${s + 1}: appendedFraction $af%.2f recall@10 $recall%.3f candidateFraction $cf%.2f")
    }
    // below the threshold maybeRetrain is a no-op (same index object)
    assert(curve.head._2 <= 0.5)
    // (rebuild a 1-shard index to check the no-op branch without
    // disturbing the 3-shard one)
    val small = graft.ops.Llm.appendToAnnIndex(
      graft.ops.Llm.buildAnnIvfIndex(frame(baseRows)), frame(shardRows(0)))
    assert(graft.ops.Llm.maybeRetrain(small) eq small)
    // past the threshold it retrains, and the retrained quantizer must
    // restore what the stale one lost
    val (_, afFinal, recallStale, cfStale) = curve.last
    assert(afFinal > 0.5, s"final appended fraction $afFinal should exceed the 0.5 trigger")
    val retrained = graft.ops.Llm.maybeRetrain(idx)
    assert(!(retrained eq idx), "maybeRetrain must fire past the threshold")
    assert(retrained.appendedFraction == 0.0)
    val qs = queriesOf(2)
    val exactFinal = exactTop(corpus, qs)
    val gotR = graft.ops.Llm.annQueryTopk(retrained, frame(qs), k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallR = (gotR intersect exactFinal).size.toDouble / exactFinal.size
    val cfR = candFrac(retrained, frame(qs), corpus.size)
    info(f"retrained: recall@10 $recallR%.3f (stale $recallStale%.3f), " +
      f"candidateFraction $cfR%.2f (stale $cfStale%.2f)")
    assert(recallR >= recallStale - 1e-9, "retrain must not lose recall")
    assert(recallR >= 0.9, s"retrained recall $recallR below floor")
    assert(cfR < cfStale, "retrain must restore list selectivity (smaller probed fraction)")
    idx.unpersist(); retrained.unpersist(); small.unpersist()
  }

  test("VectorCentroid Aggregator == oracle-checked posexplode centroid") {
    val typed = {
      import spark.implicits._
      val cent = udaf(VectorCentroid)
      graft.ops.Llm.scaledEmb(spark, dir)
        .groupBy("label").agg(cent(col("e")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "v")))
        .select(col("label"), col("pos").cast("long"), col("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val oracle = SparkEntry.queries("llm_embedding_centroid")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(typed == oracle)
  }

  test("media pipeline: typed mapPartitions features == SQL feature query") {
    val typed = Media.extractFeatures(Media.fromDocuments(spark, dir), StubDecoder)
      .collect().map(f => f.id -> ((f.nBytes, f.headerHex, f.width, f.height))).toMap
    val sql = SparkEntry.queries("llm_media_features")(spark, dir)
      .collect().map { r: Row =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_bytes"), r.getAs[String]("header_hex"),
          r.getAs[Int]("width").toLong, r.getAs[Int]("height").toLong))
      }.toMap
    assert(typed == sql)
  }

  test("media pipeline: typed resize stage == SQL resize query") {
    val typed = Media.resize(Media.fromDocuments(spark, dir), StubResizer, maxDim = 16)
      .collect().map(r => r.id -> r.payload.length.toLong).toMap
    val sql = SparkEntry.queries("llm_media_resize")(spark, dir)
      .collect().map { r: Row =>
        r.getAs[Long]("doc_id") -> r.getAs[Long]("resized_bytes")
      }.toMap
    assert(typed == sql)
  }

  test("media pipeline: typed frame sampling == SQL frames query") {
    val typed = Media.frameSample(Media.fromDocuments(spark, dir),
        frameChars = 16, stride = 4)
      .collect()
      .map(f => (f.id, f.frameNo) -> new String(f.payload, "UTF-8")).toMap
    val sql = SparkEntry.queries("llm_media_frames")(spark, dir)
      .collect().map { r: Row =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_no")) -> r.getAs[String]("frame")
      }.toMap
    assert(typed == sql)
    // stride really drops frames: no kept frame_no is non-multiple of 4,
    // and some doc is long enough to have a dropped frame between keeps
    assert(typed.keySet.forall(_._2 % 4 == 0))
    assert(typed.keySet.exists(_._2 >= 4), "no doc long enough to prove the stride")
  }

  test("session windows: no intra-session gap >= 30min, inter-session gap >= 30min") {
    val sessions = SparkEntry.queries("stream_session_windows")(spark, dir).collect()
    val byUser = sessions.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("start_us"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session must start at/after previous end (= last + gap)
          assert(b.getAs[Long]("start_us") >= a.getAs[Long]("end_us"))
        case _ =>
      }
    }
  }

  test("top-k is a prefix of the full sort (F1)") {
    val top = SparkEntry.queries("sort_multikey_limit")(spark, dir).collect().toSeq
    val full = graft.Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc, col("o_orderkey"))
      .limit(100).collect().toSeq
    assert(top == full)
  }

  test("int8 quantization: codes bounded, scale saturated, reconstruction within 1 step") {
    val dir = sf("sf0.001")
    val q = graft.ops.Llm.llmEmbeddingQuantize.build(spark, dir)
      .withColumn("code_s", explode(split(col("codes"), ",")))
      .withColumn("code", col("code_s").cast("int"))
    // every code in the int8 range; floor(x*127/maxabs) ∈ [-127, 127]
    assert(q.where(col("code") < -127 || col("code") > 127).count() == 0)
    // the max-|x| element must hit ±127 (scale saturation) per vector
    val sat = q.groupBy("vec_id").agg(max(abs(col("code"))).as("m"))
      .where(col("m") =!= 127).count()
    assert(sat == 0, "a nonzero vector did not saturate its scale")
    // reconstruction: |x - code*maxabs/127| <= maxabs/127 (floor step)
    val rec = graft.Tables.embeddings(spark, dir)
      .join(graft.ops.Llm.llmEmbeddingQuantize.build(spark, dir), "vec_id")
      .select(col("vec_id"), col("maxabs"),
        posexplode(col("embedding")).as(Seq("pos", "x")),
        split(col("codes"), ",").as("cs"))
      .withColumn("code", expr("cast(cs[pos] as int)"))
      .where(abs(col("x") - col("code") * col("maxabs") / 127.0) > col("maxabs") / 127.0 + 1e-9)
      .count()
    assert(rec == 0, "quantization reconstruction error exceeded one step")
  }

  test("tfidf vectors: per-doc mass and idf bounds are consistent") {
    val dir = sf("sf0.001")
    val v = graft.ops.TextOps.llmTfidfVectors.build(spark, dir)
    val docs = graft.Tables.documents(spark, dir).count()
    // sum(tf) per doc == token count of the doc
    val bad = v.groupBy("doc_id").agg(sum("tf").as("mass"))
      .join(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n")), "doc_id")
      .where(col("mass") =!= col("n")).count()
    assert(bad == 0, "tf mass does not reassemble doc token counts")
    // 1 <= df <= N so idf_micro ∈ [1e6, N*1e6]; weight ≤ idf (tf_micro ≤ 1e6)
    val oob = v.where(col("idf_micro") < 1000000 || col("idf_micro") > docs * 1000000L
      || col("weight_micro") > col("idf_micro")).count()
    assert(oob == 0, "idf/weight out of bounds")
  }
}
