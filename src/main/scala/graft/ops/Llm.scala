package graft.ops

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.Tables._

/** §2.I — LLM-data-pipeline operators (the north-star additions).
  *
  * Numeric policy for embeddings: float32 elements are scaled to exact
  * BIGINTs (round(x·1e7)) once at the edge; every dot product / norm /
  * centroid below is exact integer arithmetic — order-independent,
  * overflow-checked (|x|≤~1 → elem ≤ 1e7, dot ≤ 64·1e14 ≪ 2^63), and
  * bit-identical across engines. Cosine scores are formed from those
  * exact integers with IEEE-deterministic ops (int→double cast, sqrt,
  * division) so even the float outputs are engine-identical.
  *
  * Scale paths (100 TB), each noted per query: exact dedup is a plain
  * hash aggregate; near-dup's bitmask trick works because the fixture
  * vocabulary ≤ 64 — the general path is MinHash+LSH (llm_minhash_lsh,
  * property-tested against the exact form); similarity's brute force is
  * the correctness baseline — the scale path is LSH bucketing
  * (llm_ann_lsh) which probes a candidate subset instead of all vectors.
  */
object Llm {

  /** τ = TauNumer/TauDenom = 19/20 = 0.95, exact rational: the single
    * authority for the near-dup threshold — jaccardPairs, the LSH
    * verify (DedupOps.lshVerifiedPairs), and the streaming probe all
    * call verifyJaccardPairs, and the DuckDB oracle strings interpolate
    * the same constants, so the threshold and the verification algebra
    * cannot drift between the exact baseline, the scale paths, and the
    * oracles (r4 review findings: the 20/19 test existed in three
    * copies, then in the oracle strings besides). final vals of
    * literals are compile-time constants, so the EAGER oracle-string
    * interpolation at object init cannot see an uninitialized 0. */
  private[graft] final val TauNumer = 19
  private[graft] final val TauDenom = 20

  /** Fixed-count prefix bound for the registered quadratic BASELINES
    * (llm_jaccard_near_dup, llm_simhash_dedup, llm_cosine_near_dup —
    * r7 verdict item 1): each runs its all-pairs form over doc_id/vec_id
    * < SampleBound, so the registered cost is O(SampleBound²) at ANY
    * corpus size — a % sample only divides the quadratic constant. One
    * shared constant so the three bounds (and their oracle strings,
    * interpolated at object init like Tau) cannot drift. 100 at the
    * fixture keeps every row non-vacuous: 33 Jaccard pairs / 304
    * SimHash pairs at sf0.01, and the cosine slice's 50 synthetic twins
    * all fall under the bound (twin base ids are < 50). */
  private[graft] final val SampleBound = 100


  /** I1 — exact dedup on sha256(text): keep min doc_id per digest. At
    * 100 TB this is one shuffle of (digest, doc_id) pairs — no text
    * movement. */
  val llmExactDedup: Q = Q(
    "llm_exact_dedup",
    """SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id,
      |  COUNT(*) AS n_dups
      |FROM documents GROUP BY sha256(text) ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    documents(s, dir)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .orderBy("doc_id")
  }

  /** I2 — exact token-set Jaccard near-dup pairs (τ = 0.95, integer
    * cross-multiplied: 20·|A∩B| ≥ 19·|A∪B|). Pair test = array_intersect
    * on each doc's distinct-token array: no vocabulary structure at all —
    * no global window, no vocab-size bound (round 1's 64-bit bitmask
    * silently aliased past 64 tokens). The general scale path is
    * llm_minhash_lsh, which verifies its candidate pairs with this very
    * same array_intersect test. The DuckDB oracle spells the same set
    * algebra via an unnest/intersect CTE.
    *
    * REGISTRY SCOPE (r6 verdict item 2; r7 verdict item 1): the
    * registered query runs the all-pairs baseline over the FIXED-COUNT
    * doc_id < SampleBound prefix (identically bounded in the oracle;
    * 33 true pairs at sf0.01 so the row is non-vacuous). A fixed count
    * — not a % sample — because a %-sample of a 100× corpus is still a
    * 20× input to an all-pairs join: percent sampling divides the
    * quadratic CONSTANT but keeps the asymptote, while doc_id < K makes
    * the registered baseline O(K²) at ANY corpus size (the bound is a
    * pushed-down scan predicate, so even the read is flat). An
    * unbounded all-pairs plan must not ride the bench registry, where
    * it is the one shape that cannot run at 100 TB. Full-corpus exact ≡
    * LSH equality stays pinned in LlmSpec via [[jaccardPairs]], which
    * is deliberately unsampled, and ScaleBench measures the registered
    * form flat at 10× corpus. */
  val llmJaccardNearDup: Q = Q(
    "llm_jaccard_near_dup",
    s"""WITH m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents WHERE doc_id < ${SampleBound})
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_inter,
      |  CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_union
      |FROM m a JOIN m b ON a.doc_id < b.doc_id
      |WHERE ${TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |   >= ${TauNumer} * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |ORDER BY doc_a, doc_b""".stripMargin
  ) { (s, dir) =>
    // direct all-pairs on the sampled doc set: contraction + re-expansion
    // (the llm_minhash_lsh r4 path) was measured HERE at 3.7 s vs 2.5 s
    // direct — the size-ratio prefilter already makes the NLJ cheap, so
    // the extra contraction/expansion joins don't pay for themselves on
    // this query's shape
    jaccardPairs(documents(s, dir).where(col("doc_id") < SampleBound))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact τ=0.95 token-set Jaccard pairs (doc_a, doc_b, n_inter,
    * n_union), unordered — the shared engine behind I2,
    * llm_dedup_clusters' edge stage, and the LSH verify.
    *
    * Sorted distinct-token arrays; the pair test is the native codegen
    * merge loop inter_count_sorted (size(array_intersect(..)) built a
    * hash set per pair — the 25M-pair all-pairs at sf0.1 ran minutes on
    * ONE task). The join condition carries a SIZE-RATIO PREFILTER:
    * Jaccard ≥ 19/20 needs |A∩B| ≤ min and |A∪B| ≥ max, so
    * 20·min(|A|,|B|) ≥ 19·max(|A|,|B|) is a necessary condition — one
    * long compare that short-circuits the merge loop (at sf0.1 it kills
    * 82% of the 12.5M candidate pairs before inter_count_sorted runs;
    * the conjunct order in `&&` is preserved by codegen). repartition BY
    * NUM spreads the streamed side of the broadcast NLJ across cores:
    * the tiny documents file otherwise arrives as a single partition and
    * serializes the whole cross product — and AQE would coalesce a
    * by-column repartition of a few-MB input right back to one partition
    * (the NLJ's row expansion is invisible to its size estimate), so the
    * count must be pinned. */
  private[graft] def jaccardPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sets = Q.cached(docs
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("ts")))
    val a = sets.repartition(nPart, col("doc_id"))
      .select(col("doc_id").as("doc_a"), col("ts").as("ts_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"))
    // the size-ratio prefilter ALSO sits in this join condition on
    // purpose (verifyJaccardPairs re-checks it, one redundant long
    // compare): here it short-circuits the NLJ before rows materialize
    verifyJaccardPairs(a.join(broadcast(b), col("doc_a") < col("doc_b")
      && lit(TauDenom) * least(size(col("ts_a")), size(col("ts_b"))).cast("bigint")
         >= lit(TauNumer) * greatest(size(col("ts_a")), size(col("ts_b"))).cast("bigint")))
      .select("doc_a", "doc_b", "n_inter", "n_union")
  }

  /** Exact τ-Jaccard verification of candidate rows carrying sorted
    * distinct-token arrays ts_a/ts_b: size-ratio prefilter (necessary
    * condition, short-circuits the merge loop), native codegen
    * inter_count_sorted, integer cross-multiplied threshold. Keeps all
    * input columns and adds n_inter/n_union. */
  private[graft] def verifyJaccardPairs(
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    cand
      .where(lit(TauDenom) * least(size(col("ts_a")), size(col("ts_b"))).cast("bigint")
        >= lit(TauNumer) * greatest(size(col("ts_a")), size(col("ts_b"))).cast("bigint"))
      .withColumn("n_inter", GraftFunctions.expr("inter_count_sorted(ts_a, ts_b)"))
      .withColumn("n_union",
        (size(col("ts_a")) + size(col("ts_b"))).cast("bigint") - col("n_inter"))
      .where(lit(TauDenom) * col("n_inter") >= lit(TauNumer) * col("n_union"))
  }

  /** Shared sign-LSH signature build over a (vec_id, e) scaled-integer
    * embedding frame: 32 hyperplanes with symmetric pmod-derived
    * weights (the r4 bias fix), grouped 4 bits per table into 8
    * (t, bucket) keys per vector, persisted. ONE implementation for
    * both llm_ann_lsh (top-k probing) and llm_cosine_lsh (pair
    * candidates) — the bias fix had to be applied twice because this
    * block existed in two copies (r4 review). */
  private[graft] def signBuckets(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Q.cached(signBucketsPlan(emb)) // the sign-bucket index, probed by both join sides

  /** The uncached signature plan behind [[signBuckets]] — for one-shot
    * consumers (query-side signatures in [[lshQueryTopk]], the append
    * slice in [[appendToLshIndex]]) that read the frame exactly once:
    * Q.cached there leaked an unreleasable persist per call outside a
    * withCached scope, the advertised cross-job load-then-query pattern
    * (r7 advice). */
  private[graft] def signBucketsPlan(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    val hp = s.range(32).select(col("id").cast("int").as("h"))
      .withColumn("w", expr(
        "transform(sequence(0, 63), d -> cast(pmod(xxhash64(h * 64 + d), 1001) - 500 as bigint))"))
    emb.crossJoin(broadcast(hp))
      .withColumn("bit", (GraftFunctions.expr("dot_long(w, e)") > 0).cast("bigint"))
      .withColumn("t", expr("h div 4"))
      .groupBy("vec_id", "t")
      .agg(sum(expr("shiftleft(bit, h % 4)")).as("bucket"))
  }

  /** Scaled-integer embedding table shared by I3/I4: e = round(x·1e7) as
    * BIGINT per element, n2 = exact self-dot. */
  def scaledEmb(s: org.apache.spark.sql.SparkSession, dir: String) = {
    embeddings(s, dir)
      .withColumn("e", expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 10000000.0d) as bigint))"))
      .withColumn("n2", GraftFunctions.expr("dot_long(e, e)"))
  }

  /** Brute-force cosine top-5 neighbors for vec_id < 10 over an
    * arbitrary candidate pool — the shared engine behind the registered
    * I3 row (sampled pool) and LlmSpec's unsampled ground truth for the
    * ANN recall floors. Exact integer dots; the cosine double is formed
    * by IEEE-deterministic ops so ranking ties are impossible to get
    * wrong across engines; output is ids+ranks only. */
  private[graft] def bruteForceTopk(
      emb: org.apache.spark.sql.DataFrame,
      candPred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("n2").as("qn2"))
    val c = emb.where(candPred)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("n2").as("cn2"))
    // bounded-heap top-k (r9): the full-corpus candidate scan folds
    // map-side into O(k) state per query — no per-query sort, where the
    // r8 row_number window sorted every candidate in one task per query
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", GraftFunctions.expr("dot_long(qe, ce)"))
      .withColumn("score",
        col("dot").cast("double") / (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
      .transform(graft.functions.TopKScored.rankedTopk(
        _, "query_id", col("score"), col("neighbor_id"), 5))
      .orderBy("query_id", "rank")
  }

  /** I3 — brute-force cosine top-5 neighbors for vec_id < 10. Scale
    * path: llm_ann_lsh / llm_ann_ivf (bucketed candidates).
    *
    * REGISTRY SCOPE (r6 verdict item 2): the registered baseline scans
    * the deterministic vec_id % 2 = 0 candidate pool (identically
    * sampled in the oracle) — the brute-force scan is linear per query,
    * but it is still a full-corpus probe per query and must not be the
    * registry's unbounded shape. LlmSpec measures the ANN paths' recall
    * against the UNSAMPLED [[bruteForceTopk]] ground truth. */
  val llmSimilarityTopk: Q = Q(
    "llm_similarity_topk",
    """WITH s AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS e
      |  FROM embeddings),
      |n AS (SELECT vec_id, e,
      |    CAST(list_sum(list_transform(list_zip(e, e), p -> p[1] * p[2])) AS BIGINT) AS n2
      |  FROM s),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(list_zip(q.e, c.e), p2 -> p2[1] * p2[2])) AS BIGINT) AS dot,
      |    q.n2 AS qn2, c.n2 AS cn2
      |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.vec_id % 2 = 0),
      |r AS (SELECT query_id, neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) DESC,
      |               neighbor_id) AS BIGINT) AS rank
      |  FROM p)
      |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  ) { (s, dir) =>
    bruteForceTopk(scaledEmb(s, dir), col("vec_id") % 2 === 0)
  }

  /** I4 — per-label element-wise centroid in scaled units (exact integer
    * sums; half-up division identical in both engines). At 100 TB this
    * is a single (label, pos) hash aggregate after an explode — or the
    * custom array Aggregator (graft.functions.VectorCentroid) that
    * avoids the explode shuffle width. */
  val llmEmbeddingCentroid: Q = Q(
    "llm_embedding_centroid",
    """WITH s AS (SELECT label,
      |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS e
      |  FROM embeddings),
      |x AS (SELECT label, unnest(e) AS v,
      |    CAST(generate_subscripts(e, 1) - 1 AS BIGINT) AS pos FROM s)
      |SELECT label, pos,
      |  CAST((2 * SUM(v) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS centroid_scaled,
      |  COUNT(*) AS n_vecs
      |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin
  ) { (s, dir) =>
    scaledEmb(s, dir)
      .select(col("label"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("bigint").as("pos"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n_vecs"))
      .withColumn("centroid_scaled", expr("(2*sv + n_vecs) div (2*n_vecs)"))
      .select("label", "pos", "centroid_scaled", "n_vecs")
      .orderBy("label", "pos")
  }

  /** I5 — per-language text stats (micro-unit averages, exact). */
  val llmTextStats: Q = Q(
    "llm_text_stats",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST((2*SUM(n_chars)*1000000 + COUNT(*)) // (2*COUNT(*)) AS BIGINT) AS avg_chars_micro,
      |  CAST((2*SUM(CAST(len(string_split(text, ' ')) AS BIGINT))*1000000 + COUNT(*))
      |    // (2*COUNT(*)) AS BIGINT) AS avg_tokens_micro
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    documents(s, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("avg_chars_micro", expr("(2*sum_chars*1000000 + n_docs) div (2*n_docs)"))
      .withColumn("avg_tokens_micro", expr("(2*sum_tokens*1000000 + n_docs) div (2*n_docs)"))
      .select("lang", "n_docs", "sum_chars", "avg_chars_micro", "avg_tokens_micro")
      .orderBy("lang")
  }

  /** ANN via sign-LSH — the scale path behind I3's semantics: 8 tables
    * of 4 deterministic pseudo-random hyperplanes (weights derived from
    * xxhash64, so engine-specific → no oracle; LlmSpec measures recall
    * vs the brute-force I3). Candidates = vectors sharing any of the
    * query's probed sign buckets; only candidates get exact-scored.
    * Recall lever: MULTIPROBE — each query probes its own bucket plus
    * the 4 single-bit-flip neighbors, recovering vectors that fall just
    * across one hyperplane without growing the index. The signature
    * table is the index: built once and persisted (round 1 recomputed
    * the whole lineage 4×, which dominated its 52 s bench time).
    * At 100 TB: buckets are the shuffle key, each query probes a few
    * buckets instead of the full corpus, and the per-bucket brute force
    * is the same dot_long codegen loop. */
  /** A persisted sign-LSH ANN index — the bucketed-candidates sibling
    * of [[AnnIvfIndex]] (r7): `buckets` = (vec_id, t, bucket), 8 rows
    * per vector; `vecs` = (vec_id, e, n2) for exact scoring. The
    * hyperplanes are a PURE FUNCTION of (table, dim) via xxhash64 —
    * there is no trained state at all, so an APPEND is exactly "sign
    * the new vectors and union": append-time signatures are consistent
    * with build-time ones by construction, the LSH family's ingest
    * advantage over IVF (whose quantizer drifts and needs periodic
    * retrain). Same Q.cached lifecycle contract as the other indexes. */
  final case class AnnLshIndex private[graft] (
      buckets: org.apache.spark.sql.DataFrame,
      vecs: org.apache.spark.sql.DataFrame) {
    def write(path: String): Unit = {
      buckets.write.mode("overwrite").parquet(s"$path/buckets.parquet")
      vecs.write.mode("overwrite").parquet(s"$path/vecs.parquet")
    }

    /** Release both cached frames (long-lived-session lifecycle). */
    def unpersist(): Unit = { buckets.unpersist(); vecs.unpersist() }
  }

  object AnnLshIndex {
    def load(spark: org.apache.spark.sql.SparkSession, path: String): AnnLshIndex = {
      AnnLshIndex(
        Q.cached(spark.read.parquet(s"$path/buckets.parquet")),
        Q.cached(spark.read.parquet(s"$path/vecs.parquet")))
    }
  }

  def buildAnnLshIndex(emb: org.apache.spark.sql.DataFrame): AnnLshIndex = {
    val vecs = Q.cached(emb.select(col("vec_id"), col("e"), col("n2")))
    AnnLshIndex(signBuckets(vecs), vecs)
  }

  def appendToLshIndex(index: AnnLshIndex,
      newVecs: org.apache.spark.sql.DataFrame): AnnLshIndex = {
    val nv = newVecs.select(col("vec_id"), col("e"), col("n2"))
    // uncached signature plan: the slice is consumed once by the union
    // (caching it here leaked a persist per append — r7 advice)
    AnnLshIndex(index.buckets.unionByName(signBucketsPlan(nv)),
      index.vecs.unionByName(nv))
  }

  /** Remove vectors from a sign-LSH index — REWRITE semantics (two
    * id-keyed anti-joins). Because the hyperplanes are a pure function
    * of (table, dim), the deleted index is EXACTLY the index built on
    * the remaining vectors (same buckets, same scores) — no drift, no
    * retrain concept; LlmSpec pins the query-result equality. */
  def deleteFromLshIndex(index: AnnLshIndex,
      removed: org.apache.spark.sql.DataFrame): AnnLshIndex = {
    val rm = removed.select(col(removed.columns.head).as("vec_id"))
    AnnLshIndex(
      Q.cached(index.buckets.join(rm, Seq("vec_id"), "left_anti")),
      Q.cached(index.vecs.join(rm, Seq("vec_id"), "left_anti")))
  }

  /** Top-k cosine search against a sign-LSH index with MULTIPROBE:
    * each query probes its own bucket plus the 4 single-bit-flip
    * neighbors per table, candidates are exact-scored with the codegen
    * dot product, self-matches excluded by vec_id. */
  def lshQueryTopk(index: AnnLshIndex,
      queries: org.apache.spark.sql.DataFrame,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    // query signatures recomputed from the same deterministic
    // hyperplanes — bit-identical to the index's build-time buckets;
    // UNCACHED: they are consumed once by the bucket probe, and a
    // Q.cached here leaked a persist per query call in a long-lived
    // session outside any withCached scope (r7 advice)
    val qs = signBucketsPlan(queries.select(col("vec_id"), col("e")))
      .select(col("vec_id").as("query_id"), col("t"),
        explode(expr("array(bucket, bucket ^ 1L, bucket ^ 2L, bucket ^ 4L, bucket ^ 8L)"))
          .as("bucket"))
    val cand = qs
      .join(index.buckets.select(col("vec_id").as("neighbor_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val qe = queries.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("n2").as("qn2"))
    val ce = index.vecs.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
      col("n2").as("cn2"))
    // bounded-heap top-k (r9) — same swap as bruteForceTopk
    cand.join(broadcast(qe), "query_id").join(ce, "neighbor_id")
      .withColumn("score", GraftFunctions.expr("cast(dot_long(qe, ce) as double)")
        / (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
      .transform(graft.functions.TopKScored.rankedTopk(
        _, "query_id", col("score"), col("neighbor_id"), k))
  }

  val llmAnnLsh: Q = Q.noOracle("llm_ann_lsh") { (s, dir) =>
    // the registered query IS the index API end-to-end (r7), exactly
    // like llm_ann_ivf: build the sign-bucket index over the corpus,
    // probe with the vec_id < 10 queries. Candidates and output are
    // identical to the pre-API inline form — the query signatures are
    // the same deterministic hyperplane function.
    // r15 NOT spread: the PQ-family builds keep a Q.spreadScan here
    // (heavy repeated map passes over the cached frame), but the LSH
    // build's first consumer is a partial-aggregated sign-bucket
    // shuffle — the interleaved A/B (plans/r15/ab_ann_spread_32c.txt)
    // put the spread at +8% on this key, so it stays unspread.
    val emb = Q.cached(scaledEmb(s, dir))
    val index = buildAnnLshIndex(emb)
    lshQueryTopk(index, emb.where(col("vec_id") < 10))
      .orderBy("query_id", "rank")
  }

  /** ANN via IVF (inverted-file) — the other classic scale path: coarse
    * quantize every vector to its nearest centroid (lists), probe the
    * `nprobe` nearest lists per query, exact-score only those lists'
    * members. Centroids are seeded from the label partition and refined
    * with one k-means iteration (reassign → recompute — each iteration
    * is exactly I4's centroid aggregate). At 100 TB the lists are the
    * partitioning key: a query touches nprobe partitions instead of the
    * corpus, nlist grows ~√N so the probed fraction shrinks with scale.
    * Index pieces (centroids, assignment) are persisted — they are THE
    * index; round 1 recomputed the emb lineage ~4× per run. On this
    * fixture the embedding geometry is only weakly label-clustered, so
    * recall needs probes, not sharper centroids: recall@5 = 0.6 at
    * nprobe=4, 0.92 at nprobe=6 (of 10 lists; LlmSpec asserts the
    * floor). No oracle (the nested argmin is engine-awkward); the recall
    * check lives in LlmSpec. */
  /** Nearest-centroid assignment (L2 via exact integer dots): each
    * vector of `vecs` joined to its k nearest of the broadcast centroid
    * frame `cs` (`(c_label, ce)`), deterministic c_label tie-break.
    * Shared by llm_ann_ivf (k-means step, final assignment, query
    * probes) and llm_semantic_dedup (cluster confinement). The centroid
    * set is nlist rows — broadcast by construction at any corpus size
    * (nlist grows ~√N, the vectors stay partitioned). */
  private[graft] def nearestLists(vecs: org.apache.spark.sql.DataFrame,
      cs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    // r14: per-ROW argmin/top-k over the collected centroid array
    // instead of the r2 crossJoin(centroids) + row_number window — the
    // window shuffled AND sorted nvec×nlist rows per call (×3 calls in
    // a 2-iteration k-means train), where the assignment is a per-row
    // loop over nlist entries by construction (guide §2.4: remove
    // shuffles outright). Ordering identity with the window form:
    // ranking key was (d2, c_label) with d2 = |e|² − 2·e·c + |c|²; |e|²
    // is constant within a row, so struct(|c|² − 2·e·c, c_label) sorts
    // candidates identically (exact integer arithmetic, same
    // tie-break) and array_min/array_sort are the argmin/top-k of that
    // order. |c|² is precomputed once per centroid in the collected
    // array. Consumers read (vecs.*, c_label) only — d2/rn were always
    // dropped — so results are bit-identical (INVARIANCE + LlmSpec
    // recall floors re-run green).
    // r15 width ceiling (r14 verdict item 3): the collected codebook is
    // ONE row — a single UnsafeRow holding nlist × (d×8 + tag) bytes. At
    // 100 TB nlist grows ~√N (10⁵-10⁶ centroids × 64 dims ≈ 50-500 MB),
    // approaching single-row/broadcast limits. Above the documented
    // bound (`spark.graft.ann.maxCollectedCodebookBytes`, default
    // 128 MB — comfortably under the 8 GB broadcast cap and the 2 GB
    // array ceiling) fall back to the pre-r14 broadcast-join + window
    // form, which never materializes the codebook into one row. The
    // bound reads the optimizer's size ESTIMATE (no extra action on the
    // hot path); an overestimate just picks the always-correct fallback.
    // LlmSpec pins output equality of the two paths.
    val bound = graft.GraftConf.maxCollectedCodebookBytes.get(vecs.sparkSession)
    if (cs.queryExecution.optimizedPlan.stats.sizeInBytes > bound) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("c_label"))
      return vecs.crossJoin(broadcast(cs))
        .withColumn("d2",
          GraftFunctions.expr("dot_long(e, e) - 2 * dot_long(e, ce) + dot_long(ce, ce)"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .select(vecs.columns.map(col) :+ col("c_label"): _*)
    }
    val cbs = broadcast(cs.groupBy().agg(
      GraftFunctions.expr("collect_list(struct(c_label, ce, dot_long(ce, ce) as cn2))").as("cbs")))
    val ranked = "transform(cbs, c -> struct(c.cn2 - 2 * dot_long(e, c.ce) as d2, c.c_label as c_label))"
    if (k == 1)
      vecs.crossJoin(cbs)
        .withColumn("c_label", GraftFunctions.expr(s"array_min($ranked).c_label"))
        .drop("cbs")
    else
      vecs.crossJoin(cbs)
        .withColumn("c_label", explode(
          GraftFunctions.expr(s"transform(slice(array_sort($ranked), 1, $k), x -> x.c_label)")))
        .drop("cbs")
  }

  /** The element-wise integer-mean ARRAY aggregate shared by every
    * k-means refinement (IVF lists here, PQ codebooks in AnnPq): the
    * VectorCentroid Aggregator's buffer is one (sums[d], count) pair
    * per group, so the exchange carries O(groups × dims) partial
    * buffers instead of O(rows × dims) exploded rows (guide §2.3 —
    * aggregate before you shuffle). Division is the same half-up
    * integer mean as the posexplode form; LlmSpec pins the equality
    * against the oracle-checked llm_embedding_centroid row.
    *
    * Null contract (r14 advice): a group whose vectors are ALL NULL
    * yields an EMPTY-ARRAY centroid (VectorCentroid.finish on zero
    * count), where the posexplode form dropped the group entirely.
    * Identical on the repo's non-null embeddings tables; callers
    * aggregating nullable vector columns should filter
    * `col("e").isNotNull` first if they need the vanishing behavior. */
  private[graft] val vecCentroid: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(graft.functions.VectorCentroid,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())

  /** Element-wise integer-mean centroid per assigned list. r14: one
    * [[vecCentroid]] hash aggregate (map-side partials over ≤ nlist
    * groups) replaces the posexplode → (list, pos) agg → re-assemble
    * chain, which shuffled nvec×d exploded rows twice per k-means
    * refinement (×3 calls per 2-iteration train). Same exact integer
    * math, bit-identical centroids. */
  private[graft] def listCentroids(
      assign: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = assign
    .groupBy(col("list_id"))
    .agg(vecCentroid(col("e")).as("ce"))
    .select(col("list_id").as("c_label"), col("ce"))

  /** A persisted IVF (inverted-file) ANN index — the library surface
    * behind llm_ann_ivf, factored out (r7) because a real embedding
    * pipeline treats the index as an ARTIFACT: trained once per corpus
    * version, persisted, reloaded by query jobs, and APPENDED to as new
    * vectors arrive (coarse quantization is assignment-only — no
    * retrain per shard; periodic retrain as drift accumulates is a new
    * buildAnnIvfIndex call). `centroids` = (c_label, ce), nlist rows,
    * broadcast at any corpus size; `assigned` = (vec_id, list_id, e,
    * n2), partitioned by list at scale — the lists are the shuffle key
    * and each query touches nprobe of them. Both frames are `Q.cached`
    * with the NearDupIndex lifecycle contract. */
  final case class AnnIvfIndex private[graft] (
      centroids: org.apache.spark.sql.DataFrame,
      assigned: org.apache.spark.sql.DataFrame,
      trainedRows: Long) {
    def write(path: String): Unit = {
      centroids.write.mode("overwrite").parquet(s"$path/centroids.parquet")
      assigned.write.mode("overwrite").parquet(s"$path/assigned.parquet")
      // one-row meta: how many vectors the quantizer was TRAINED on —
      // the denominator of the retrain-trigger policy survives the
      // artifact round-trip (r7 verdict item 4)
      val s = centroids.sparkSession
      import s.implicits._
      Seq(trainedRows).toDF("trained_rows")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta.parquet")
    }

    /** Fraction of the index's vectors the quantizer was NOT trained on
      * (appends since the last build/retrain). One count() on the
      * cached `assigned` frame. */
    def appendedFraction: Double = {
      val total = assigned.count()
      if (total == 0) 0.0 else (total - trainedRows).toDouble / total
    }

    /** Release both cached frames (long-lived-session lifecycle). */
    def unpersist(): Unit = { centroids.unpersist(); assigned.unpersist() }
  }

  object AnnIvfIndex {
    def load(spark: org.apache.spark.sql.SparkSession, path: String): AnnIvfIndex = {
      val assigned = Q.cached(spark.read.parquet(s"$path/assigned.parquet"))
      val trained =
        try spark.read.parquet(s"$path/meta.parquet")
          .select("trained_rows").head().getLong(0)
        catch { case scala.util.control.NonFatal(_) => assigned.count() }
      AnnIvfIndex(
        Q.cached(spark.read.parquet(s"$path/centroids.parquet")),
        assigned, trained)
    }
  }

  /** Train the IVF coarse quantizer over an ALREADY-CACHED (vec_id, e)
    * frame: deterministic vec_id-mod seed + `iters` k-means
    * refinements. Shared by buildAnnIvfIndex and semanticDedupFlags so
    * the quantizer exists once and neither caller double-caches its
    * embedding frame (r7 review). */
  private[graft] def trainIvfCentroids(embC: org.apache.spark.sql.DataFrame,
      nlist: Int, iters: Int): org.apache.spark.sql.DataFrame = {
    var cents = listCentroids(
      embC.select((col("vec_id") % nlist).as("list_id"), col("e")))
    (1 to iters).foreach { _ =>
      cents = listCentroids(nearestLists(embC, cents, 1)
        .select(col("vec_id"), col("c_label").as("list_id"), col("e")))
    }
    cents
  }

  /** Train an IVF index over a (vec_id, e, n2) scaled-embedding frame:
    * deterministic vec_id-mod seed, `iters` k-means refinements (each
    * is one broadcast-assign + one (list, pos) aggregate — I4's
    * centroid shape, no new shuffles), final 1-nearest assignment. At
    * 100 TB the refinements train on a sample; assignment is the only
    * full pass. */
  def buildAnnIvfIndex(emb: org.apache.spark.sql.DataFrame,
      nlist: Int = 10, iters: Int = 2): AnnIvfIndex = {
    val embC = Q.cached(emb.select(col("vec_id"), col("e"), col("n2")))
    val centsC = Q.cached(trainIvfCentroids(embC, nlist, iters))
    val assigned = Q.cached(nearestLists(embC, centsC, 1)
      .select(col("vec_id"), col("c_label").as("list_id"), col("e"), col("n2")))
    AnnIvfIndex(centsC, assigned, assigned.count())
  }

  /** Incremental index update: assign NEW vectors to the EXISTING
    * centroids and extend the inverted lists — the per-shard ingest
    * step. Cost scales with the shard (one broadcast-assign over the
    * new vectors); the trained quantizer is untouched, so existing
    * assignments and any persisted copy of `centroids` stay valid. */
  def appendToAnnIndex(index: AnnIvfIndex,
      newVecs: org.apache.spark.sql.DataFrame): AnnIvfIndex = {
    AnnIvfIndex(index.centroids,
      index.assigned.unionByName(
        nearestLists(newVecs.select(col("vec_id"), col("e"), col("n2")),
          index.centroids, 1)
          .select(col("vec_id"), col("c_label").as("list_id"), col("e"), col("n2"))),
      index.trainedRows)
  }

  /** Remove vectors from an IVF index — REWRITE semantics (one id-keyed
    * anti-join on the inverted lists; deleted vectors can never be
    * returned because they are physically absent from every probed
    * list). The quantizer is untouched: deletion, like append, only
    * moves list membership — centroid drift from heavy deletion is the
    * same maintenance debt as drift from appends, and the same
    * [[maybeRetrain]] policy covers it (deletes reduce `trainedRows`
    * too, conservatively treating a deleted trained vector as if it
    * were never trained on). `removed`'s FIRST column is the vec id. */
  def deleteFromAnnIndex(index: AnnIvfIndex,
      removed: org.apache.spark.sql.DataFrame): AnnIvfIndex = {
    val rm = removed.select(col(removed.columns.head).as("vec_id"))
    val before = index.assigned.count()
    val kept = Q.cached(index.assigned.join(rm, Seq("vec_id"), "left_anti"))
    // charge every removed row against trainedRows (we don't track
    // which rows trained): appendedFraction can only OVERestimate, so
    // delete-heavy curation reaches the retrain trigger early, never late
    AnnIvfIndex(index.centroids, kept,
      math.max(0L, index.trainedRows - (before - kept.count())))
  }

  /** The measured IVF maintenance policy (r7 verdict item 4): retrain
    * the coarse quantizer — a fresh [[buildAnnIvfIndex]] over the
    * index's current vectors — once `appendedFraction` exceeds
    * `maxAppendedFraction`, else return the index unchanged.
    *
    * Threshold: DEFAULT 0.5, from LlmSpec's measured decay curve on a
    * drift corpus (new wide clusters appearing in a region the trained
    * quantizer never saw, probed at nprobe=2). What decays under
    * assignment-only appends is primarily SELECTIVITY, secondarily
    * recall: the appended mass piles into the few stale lists nearest
    * the drifted region, so the probed-candidate fraction climbed
    * 0.46 → 0.51 → 0.53 of the whole corpus across three shards
    * (appended fraction 0.33/0.50/0.60) while recall@10 sagged
    * 0.980 → 0.970 → 0.953; a retrain at 0.6 appended restored
    * candidates to 0.21 of the corpus — 2.5× fewer exact scores per
    * query — and recall to 0.973. Retraining at 0.5 therefore bounds
    * both decays while keeping retrains rare: one full k-means per
    * DOUBLING of the corpus, amortized O(1) per ingested vector.
    * (Deletions also count against `trainedRows`, so delete-heavy
    * curation reaches the trigger the same way.) */
  def maybeRetrain(index: AnnIvfIndex, nlist: Int = 10, iters: Int = 2,
      maxAppendedFraction: Double = 0.5): AnnIvfIndex =
    if (index.appendedFraction > maxAppendedFraction)
      buildAnnIvfIndex(index.assigned.select(col("vec_id"), col("e"), col("n2")),
        nlist, iters)
    else index

  /** Top-k cosine search against an IVF index: each query probes its
    * `nprobe` nearest lists and exact-scores only those lists' members
    * (dot_long codegen loop, IEEE-deterministic ranking, neighbor_id
    * tie-break). Self-matches are excluded by vec_id. */
  def annQueryTopk(index: AnnIvfIndex,
      queries: org.apache.spark.sql.DataFrame,
      k: Int = 5, nprobe: Int = 6): org.apache.spark.sql.DataFrame = {
    val probes = nearestLists(queries.select(col("vec_id"), col("e"), col("n2")),
        index.centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("c_label").as("list_id"),
        col("e").as("qe"), col("n2").as("qn2"))
    // bounded-heap top-k (r9) — same swap as bruteForceTopk
    probes.join(index.assigned.select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("e").as("ce2"), col("n2").as("cn2")), "list_id")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", GraftFunctions.expr("cast(dot_long(qe, ce2) as double)")
        / (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
      .transform(graft.functions.TopKScored.rankedTopk(
        _, "query_id", col("score"), col("neighbor_id"), k))
  }

  val llmAnnIvf: Q = Q.noOracle("llm_ann_ivf") { (s, dir) =>
    // the registered query IS the index API end-to-end: train (vec_id
    // mod seed + 2 refinements — r7; the r2 label-seed + 1 refinement
    // measured the same 0.92 recall@5 floor, and the API must not
    // depend on a label column existing), then probe. LlmSpec asserts
    // the recall floor vs unsampled brute force, plus
    // reload/append-probe equivalences.
    // r15 NOT spread (A/B flat on this key — the IVF build's per-row
    // work is one nlist=10 argmin, too light to pay the exchange; the
    // PQ-family builds DO spread, see AnnPq.scala)
    val index = buildAnnIvfIndex(Q.cached(scaledEmb(s, dir)))
    annQueryTopk(index, scaledEmb(s, dir).where(col("vec_id") < 10))
      .orderBy("query_id", "rank")
  }

  /** I6 — int8 embedding quantization (the storage/bandwidth step of a
    * vector pipeline: 4 bytes/dim → 1): per-vector max-abs scale,
    * codes = floor(x·127/maxabs). Determinism: both engines widen the
    * parquet float32 to double (exact), multiply and divide in IEEE
    * double in the same order, and floor exactly — no rounding-mode
    * drift, pinned by explicit CASTs on both surfaces. The final
    * greatest(-127, ·) clamp (same on both surfaces) makes the int8
    * bound UNCONDITIONAL: at x = -maxabs the rounded product x·127
    * divided by maxabs can land one ulp below -127 and floor to -128
    * (r4 advice). Codes serialize to a comma string (the driver checker
    * cannot sort array cells); zero vectors quantize to all-zero codes.
    * Narrow per-row scan. */
  val llmEmbeddingQuantize: Q = Q(
    "llm_embedding_quantize",
    """WITH m AS (SELECT vec_id, label, embedding,
      |    list_max(list_transform(embedding, x -> abs(x))) AS maxabs
      |  FROM embeddings)
      |SELECT vec_id, label, CAST(maxabs AS DOUBLE) AS maxabs,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(CASE WHEN maxabs = 0 THEN 0
      |              ELSE greatest(-127.0, floor(CAST(x AS DOUBLE) * 127.0 / CAST(maxabs AS DOUBLE))) END AS INT)),
      |    ',') AS codes
      |FROM m ORDER BY vec_id""".stripMargin
  ) { (s, dir) =>
    embeddings(s, dir)
      .withColumn("maxabs", expr("array_max(transform(embedding, x -> abs(x)))"))
      .select(col("vec_id"), col("label"), col("maxabs").cast("double").as("maxabs"),
        expr("""concat_ws(',', transform(embedding,
                 x -> cast(case when maxabs = 0 then 0
                           else greatest(-127.0d, floor(cast(x as double) * 127.0 / cast(maxabs as double))) end as int)))""")
          .as("codes"))
      .orderBy("vec_id")
  }

  /** Per-dimension embedding profile (r8) — the vector-data sibling of
    * profile_table: for every dimension, count / min / max / sum in the
    * repo's exact ×1e7 scaled-integer domain (the same mapping every
    * embedding op shares, so a dead dimension, a scale-drifted batch,
    * or a saturated axis shows up as integers the driver hash pins).
    * A real pipeline runs this as the pre-ingest sanity gate on each
    * embedding drop. Shape: posexplode → (pos) aggregate — dimensions
    * partition the shuffle, D rows out. */
  val llmEmbeddingProfile: Q = Q(
    "llm_embedding_profile",
    """WITH s AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS e
      |  FROM embeddings),
      |x AS (SELECT vec_id, unnest(e) AS v,
      |    CAST(generate_subscripts(e, 1) - 1 AS BIGINT) AS pos FROM s)
      |SELECT pos, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(v) AS BIGINT) AS min_scaled, CAST(max(v) AS BIGINT) AS max_scaled,
      |  CAST(sum(v) AS BIGINT) AS sum_scaled
      |FROM x GROUP BY pos ORDER BY pos""".stripMargin
  ) { (s, dir) =>
    scaledEmb(s, dir)
      .select(posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy(col("pos").cast("bigint").as("pos"))
      .agg(count(lit(1)).as("n"), min("v").as("min_scaled"),
        max("v").as("max_scaled"), sum("v").as("sum_scaled"))
      .orderBy("pos")
  }

  def all: Seq[Q] = Seq(llmExactDedup, llmJaccardNearDup, llmSimilarityTopk,
    llmEmbeddingCentroid, llmTextStats, llmAnnLsh, llmAnnIvf,
    llmEmbeddingQuantize, llmEmbeddingProfile)
}
