package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Product-quantization ANN — the memory-bounded third member of the
  * index family (sign-LSH = trainless buckets, IVF = inverted lists,
  * PQ = compressed codes + asymmetric-distance pre-rank).
  *
  * Why it exists at 100 TB: the other two families bound WHICH vectors
  * a query exact-scores, but every candidate still costs a full d-dim
  * vector fetch (d×8 bytes here, d×4 in float form). PQ bounds the
  * BYTES: each vector is encoded as `m` one-byte codes (one per
  * subspace, codebooks of ksub ≤ 256 centroids each), so the sweep
  * phase reads m+8 bytes per vector instead of 512 — a ~20×
  * compression that turns the candidate scan into a cache-resident
  * table-lookup loop (ADC: per query, dot(q_sub, centroid) is
  * precomputed for all m×ksub codebook entries, then each candidate
  * scores as m lookups + adds). Full vectors are touched only by the
  * final exact rerank of the top `rerankDepth` pre-ranked candidates
  * per query — the standard two-phase PQ search. Composition with the
  * coarse quantizer (true IVFADC: probe nprobe lists, ADC within them)
  * is a WHERE on `list_id` before the sweep; the standalone form here
  * is the "flat PQ" layout that already removes the memory wall.
  *
  * Determinism: codebooks train like the IVF quantizer (vec_id-mod
  * seed, half-up integer-mean refinements, code-id tie-breaks on
  * assignment), ADC dots are exact integer `dot_long` sums, and every
  * window carries a total order — the partition-invariance sweep
  * covers the registered row like any other. All arithmetic stays in
  * the ×1e7 scaled-bigint domain: a subspace dot is ≤ dsub·(1e7)² ≈
  * 1e15·dsub, and the ADC total is the same magnitude as the full
  * dot_long — no overflow beyond what I3 already bounds. */
object AnnPq {

  /** (vec_id, sub_id, sv) sub-vector view: `m` slices per vector.
    * Fails LOUD on a non-divisible dim (r8 review: the old truncating
    * `size(e) div m` silently dropped the trailing dims — m=7 on a
    * 64-dim corpus encoded only dims 1..63 and ADC quietly ignored
    * the tail). */
  private def subVectors(vecs: DataFrame, m: Int): DataFrame =
    vecs.select(col("vec_id"), col("e"),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"))
      .withColumn("dsub",
        when(expr(s"size(e) % $m = 0"), expr(s"size(e) div $m"))
          .otherwise(raise_error(concat(lit("subVectors: dim "),
            size(col("e")).cast("string"),
            lit(s" is not divisible by m=$m — the tail would be silently dropped")))))
      .withColumn("sv", expr(s"slice(e, sub_id * dsub + 1, dsub)"))
      .select("vec_id", "sub_id", "sv")

  /** Nearest-code assignment within each subspace: every (vec, sub)
    * row joined to its subspace's broadcast codebook, L2 via exact
    * integer dots, code tie-break. The codebook is m×ksub rows —
    * broadcast at any corpus size, exactly like the IVF centroids. */
  private def assignCodes(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    // r14: per-ROW argmin over the per-subspace codebook array instead
    // of the join-explode (×ksub rows) + row_number window (which
    // shuffled AND sorted nvec×m×ksub rows per call — ×3 calls per
    // build: two train refinements plus the encode pass). Same
    // ordering-identity argument as Llm.nearestLists: |sv|² is
    // constant per row, so struct(|c|² − 2·sv·c, code) ranks exactly
    // like (d2, code); |c|² precomputed per codebook entry. The join
    // key stays sub_id (m rows broadcast), so no row explosion either.
    // Same r15 width ceiling as Llm.nearestLists: each collected row
    // holds ONE subspace's ksub × (dsub×8) bytes; above the shared bound
    // (conf `spark.graft.ann.maxCollectedCodebookBytes` — the estimate
    // here covers all m subspaces, so it overestimates the per-row size
    // m-fold, conservatively) fall back to the pre-r14 join + window
    // form. AnnPqSpec pins output equality of the two paths.
    val bound = graft.GraftConf.maxCollectedCodebookBytes.get(subs.sparkSession)
    if (codebooks.queryExecution.optimizedPlan.stats.sizeInBytes > bound) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("vec_id", "sub_id")
        .orderBy(col("d2").asc, col("code"))
      return subs.join(broadcast(codebooks), "sub_id")
        .withColumn("d2",
          GraftFunctions.expr("dot_long(sv, sv) - 2 * dot_long(sv, ce) + dot_long(ce, ce)"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("vec_id", "sub_id", "sv", "code")
    }
    val cbs = codebooks.groupBy("sub_id").agg(
      GraftFunctions.expr("collect_list(struct(code, ce, dot_long(ce, ce) as cn2))").as("cbs"))
    subs.join(broadcast(cbs), "sub_id")
      .withColumn("code", GraftFunctions.expr(
        "array_min(transform(cbs, c -> struct(c.cn2 - 2 * dot_long(sv, c.ce) as d2, c.code as code))).code"))
      .select("vec_id", "sub_id", "sv", "code")
  }

  /** Element-wise half-up integer mean per (subspace, code) — the
    * codebook refinement step, same aggregate shape as the IVF
    * listCentroids. r14: one Llm.vecCentroid hash aggregate (partial
    * buffers of m×ksub groups × dsub sums) instead of the posexplode →
    * (sub, code, pos) agg → re-assemble chain that shuffled nvec×d
    * exploded rows twice per refinement; exact same integer mean. */
  private def codeCentroids(assigned: DataFrame): DataFrame = assigned
    .groupBy("sub_id", "code")
    .agg(Llm.vecCentroid(col("sv")).as("ce"))

  /** A persisted PQ index. `codebooks` = (sub_id, code, ce), m×ksub
    * rows, broadcast everywhere; `codes` = (vec_id, codes, n2) — the
    * compact sweep table (m small ints + one norm per vector);
    * `vecs` = (vec_id, e, n2) — the rerank source, which at scale is
    * the base embedding table itself, range-fetched by candidate id.
    * Same Q.cached lifecycle and artifact contract as AnnIvfIndex /
    * AnnLshIndex; `trainedRows` feeds the same drift policy as IVF
    * (appends encode against frozen codebooks; [[maybeRetrainPq]]
    * re-trains past the measured 0.5 appended-fraction threshold). */
  final case class AnnPqIndex private[graft] (
      codebooks: DataFrame,
      codes: DataFrame,
      vecs: DataFrame,
      trainedRows: Long) {
    def write(path: String): Unit = {
      codebooks.write.mode("overwrite").parquet(s"$path/codebooks.parquet")
      codes.write.mode("overwrite").parquet(s"$path/codes.parquet")
      vecs.write.mode("overwrite").parquet(s"$path/vecs.parquet")
      val s = codebooks.sparkSession
      import s.implicits._
      Seq(trainedRows).toDF("trained_rows")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta.parquet")
    }
    def appendedFraction: Double = {
      val total = codes.count()
      if (total == 0) 0.0 else (total - trainedRows).toDouble / total
    }
    def unpersist(): Unit = {
      codebooks.unpersist(); codes.unpersist(); vecs.unpersist()
    }
  }

  object AnnPqIndex {
    def load(spark: SparkSession, path: String): AnnPqIndex = {
      val codes = Q.cached(spark.read.parquet(s"$path/codes.parquet"))
      val trained =
        try spark.read.parquet(s"$path/meta.parquet")
          .select("trained_rows").head().getLong(0)
        catch { case scala.util.control.NonFatal(_) => codes.count() }
      AnnPqIndex(
        Q.cached(spark.read.parquet(s"$path/codebooks.parquet")),
        codes,
        Q.cached(spark.read.parquet(s"$path/vecs.parquet")),
        trained)
    }
  }

  /** Deterministic training slice: ~`trainSample` vectors picked by
    * vec_id hash (partition-layout independent, stable across runs).
    * 0 (the default) = train on everything — the registered rows'
    * behavior, which the recall floors and drift ladders calibrate.
    * At 100 TB training on the corpus is neither feasible nor useful
    * (k-means quality saturates at ~10²-10³ points per centroid — the
    * FAISS guidance), so production builds pass a bound and only the
    * ENCODE pass touches every vector; AnnPqSpec pins the recall
    * floors under a 4× subsample (measured: flat PQ 0.98, IVFADC 0.76
    * at trainSample=128 of 500 — the coarse quantizer thins first, at
    * ~13 points per centroid) so the claim is measured, not asserted. */
  private def trainSlice(embC: DataFrame, trainSample: Int): DataFrame = {
    if (trainSample <= 0) embC
    else {
      val total = embC.count()
      if (total <= trainSample) embC
      else {
        val den = math.max(2L, total / trainSample)
        embC.where(pmod(xxhash64(col("vec_id")), lit(den)) === 0)
      }
    }
  }

  /** Train codebooks and encode a (vec_id, e, n2) scaled-embedding
    * frame. Seed = (vec_id+sub_id) mod ksub so sibling subspaces start
    * from different partitions of the same ids; `iters` assign+mean
    * refinements per subspace (all m subspaces train in the SAME two
    * shuffles per iteration — sub_id is just another group key). At
    * 100 TB the refinements run on a [[trainSlice]] sample; encoding
    * is the only full pass, and it is one broadcast join + one window
    * per vector. */
  def buildAnnPqIndex(emb: DataFrame, m: Int = 8, ksub: Int = 32,
      iters: Int = 2, trainSample: Int = 0): AnnPqIndex = {
    val embC = Q.cached(emb.select(col("vec_id"), col("e"), col("n2")))
    val subs = Q.cached(subVectors(embC, m))
    val subsTrain =
      if (trainSample <= 0) subs
      else Q.cached(subVectors(trainSlice(embC, trainSample), m))
    var cb = codeCentroids(subsTrain
      .withColumn("code", ((col("vec_id") + col("sub_id")) % ksub).cast("int"))
      .select("sub_id", "code", "sv"))
    (1 to iters).foreach { _ => cb = codeCentroids(assignCodes(subsTrain, cb)) }
    val cbC = Q.cached(cb)
    val codes = Q.cached(encode(subs, cbC)
      .join(embC.select("vec_id", "n2"), "vec_id"))
    val n = codes.count()
    // subs is a build-time-only intermediate: once `codes` has
    // materialized it is dead weight the returned index could never
    // release (r8 review — the long-lived-session leak the LSH family
    // was already fixed for). Under withCached the scope's own release
    // makes this a harmless no-op.
    subs.unpersist()
    AnnPqIndex(cbC, codes, embC, n)
  }

  /** (vec_id, codes) — final per-vector code arrays, sub_id-ordered. */
  private def encode(subs: DataFrame, codebooks: DataFrame): DataFrame =
    assignCodes(subs, codebooks)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub_id, code))), x -> x.code)")
        .as("codes"))

  /** Encode-only ingest against the frozen codebooks — the per-shard
    * append, one broadcast join over the new vectors. Drift policy:
    * identical to IVF (frozen codebooks mis-encode a drifted region the
    * way frozen centroids mis-assign one), so appends don't bump
    * `trainedRows` and [[maybeRetrainPq]] picks up the debt. */
  def appendToPqIndex(index: AnnPqIndex, newVecs: DataFrame): AnnPqIndex = {
    val nv = newVecs.select(col("vec_id"), col("e"), col("n2"))
    val m = index.codebooks.select(max(col("sub_id"))).head().getInt(0) + 1
    AnnPqIndex(
      index.codebooks,
      index.codes.unionByName(encode(subVectors(nv, m), index.codebooks)
        .join(nv.select("vec_id", "n2"), "vec_id")),
      index.vecs.unionByName(nv),
      index.trainedRows)
  }

  /** Rewrite-semantics deletion (same contract as the other two
    * families): one id-keyed anti-join on the compact codes AND the
    * rerank source, so a deleted vector can neither pre-rank nor
    * rerank. Removed rows charge against `trainedRows` conservatively,
    * exactly like deleteFromAnnIndex. */
  def deleteFromPqIndex(index: AnnPqIndex, removed: DataFrame): AnnPqIndex = {
    val rm = removed.select(col(removed.columns.head).as("vec_id"))
    val before = index.codes.count()
    val codes = Q.cached(index.codes.join(rm, Seq("vec_id"), "left_anti"))
    AnnPqIndex(index.codebooks, codes,
      Q.cached(index.vecs.join(rm, Seq("vec_id"), "left_anti")),
      math.max(0L, index.trainedRows - (before - codes.count())))
  }

  /** Retrain-on-drift policy, shared rationale with [[Llm.maybeRetrain]]:
    * past `maxAppendedFraction` the frozen codebooks have mis-encoded
    * enough of the index that a fresh build is the amortized-O(1) fix.
    * Calibrated by AnnPqSpec's measured drift ladder (r9, deterministic
    * fixture, recall@10 at rerankDepth 20): frozen codebooks hold
    * 0.120 / 0.130 / 0.093 at appended fractions 0.33 / 0.50 / 0.60,
    * while a retrain at 0.60 restores 0.313 — a 3.4x recovery just past
    * the 0.5 threshold, which is where the recurring mis-encode cost
    * starts to dominate the one-off rebuild. */
  def maybeRetrainPq(index: AnnPqIndex, m: Int = 8, ksub: Int = 32,
      iters: Int = 2, maxAppendedFraction: Double = 0.5): AnnPqIndex =
    if (index.appendedFraction > maxAppendedFraction)
      buildAnnPqIndex(index.vecs.select(col("vec_id"), col("e"), col("n2")),
        m, ksub, iters)
    else index

  /** Two-phase PQ search: ADC pre-rank over the compact codes, exact
    * rerank of the survivors.
    *
    * Phase 1 (sweep): the per-query lookup table — dot(q_sub, ce) for
    * every (sub, code) — is nq×m×ksub rows, built by one broadcast
    * join and itself broadcast to the candidate scan; each candidate's
    * approximate dot is the sum of its m LUT hits (posexplode + joined
    * lookup + partial-aggregated sum — the distributed spelling of the
    * ADC loop). Approximate cosine divides by the EXACT stored norm, so
    * only the numerator is approximated. Top `rerankDepth` per query
    * survive.
    *
    * Phase 2 (rerank): survivors join the full vectors by id (the only
    * full-width fetch — rerankDepth×nq rows) and re-score with the
    * exact dot_long cosine, neighbor_id tie-break, top k. */
  def pqQueryTopk(index: AnnPqIndex, queries: DataFrame, k: Int = 5,
      rerankDepth: Int = 100): DataFrame = {
    val m = index.codebooks.select(max(col("sub_id"))).head().getInt(0) + 1
    val q = queries.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("n2").as("qn2"))
    val cands = index.codes
      .select(col("vec_id").as("neighbor_id"), col("n2").as("cn2"),
        posexplode(col("codes")).as(Seq("sub_id", "code")))
      .join(broadcast(adcLut(q, index.codebooks, m)), Seq("sub_id", "code"))
    exactRerank(adcPreRank(cands, rerankDepth), index.vecs, q, k)
  }

  /** Per-query ADC lookup table — dot(q_sub, ce) for every (sub, code):
    * nq×m×ksub rows, one broadcast join, itself broadcast downstream. */
  private def adcLut(q: DataFrame, codebooks: DataFrame, m: Int): DataFrame =
    subVectors(q.select(col("query_id").as("vec_id"), col("qe").as("e")), m)
      .join(broadcast(codebooks), "sub_id")
      .select(col("vec_id").as("query_id"), col("sub_id"), col("code"),
        GraftFunctions.expr("dot_long(sv, ce)").as("pdot"))

  /** ADC pre-rank: sum each candidate's m LUT hits (partial-aggregated),
    * approximate-cosine by the EXACT stored norm (only the numerator is
    * approximated), keep the top `rerankDepth` per query via the
    * bounded-heap [[graft.functions.TopKScored]] aggregate (r9): the r8
    * `row_number` window sorted each query's WHOLE candidate set in one
    * task — the entire corpus per query in the flat form — where the
    * aggregate folds map-side into O(rerankDepth) state and never
    * materializes a per-query sort. Input rows: (query_id, neighbor_id,
    * cn2, pdot) — one per LUT hit. */
  private def adcPreRank(cands: DataFrame, rerankDepth: Int): DataFrame =
    cands
      .where(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id", "cn2")
      .agg(sum(col("pdot")).as("adc_dot"))
      .withColumn("adc", col("adc_dot").cast("double")
        / sqrt(col("cn2").cast("double")))
      .transform(graft.functions.TopKScored.rankedTopk(
        _, "query_id", col("adc"), col("neighbor_id"), rerankDepth))
      .select("query_id", "neighbor_id")

  /** Exact rerank: survivors join the full vectors by id (the only
    * full-width fetch — rerankDepth×nq rows) and re-score with the
    * exact dot_long cosine, neighbor_id tie-break, top k via the same
    * bounded-heap aggregate as the pre-rank. */
  private def exactRerank(pre: DataFrame, vecs: DataFrame, q: DataFrame,
      k: Int): DataFrame =
    pre
      .join(vecs.select(col("vec_id").as("neighbor_id"),
        col("e").as("ce2"), col("n2").as("cn2")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("score", GraftFunctions.expr("cast(dot_long(qe, ce2) as double)")
        / (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
      .transform(graft.functions.TopKScored.rankedTopk(
        _, "query_id", col("score"), col("neighbor_id"), k))

  /** The full IVFADC composition — coarse quantizer + PQ codes in ONE
    * index, the production 100 TB ANN shape: a query (1) probes its
    * `nprobe` nearest coarse lists (broadcast centroid assign, same as
    * IVF), (2) ADC-sweeps ONLY those lists' compact codes — so the
    * sweep is bounded in CANDIDATES by the coarse quantizer and in
    * BYTES by PQ simultaneously — and (3) exact-reranks the top
    * survivors from the full vectors. `codes` carries `list_id`, making
    * the lists the shuffle/storage key exactly like AnnIvfIndex; the
    * LUT join adds query_id to its keys because candidates arrive
    * already per-query from the probe join. Codebooks quantize RAW
    * vectors (not per-list residuals): the rerank phase re-scores
    * exactly, so the residual refinement buys little here while
    * keeping one LUT per query instead of nprobe. */
  final case class AnnIvfPqIndex private[graft] (
      centroids: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      vecs: DataFrame,
      trainedRows: Long) {
    def write(path: String): Unit = {
      centroids.write.mode("overwrite").parquet(s"$path/centroids.parquet")
      codebooks.write.mode("overwrite").parquet(s"$path/codebooks.parquet")
      codes.write.mode("overwrite").parquet(s"$path/codes.parquet")
      vecs.write.mode("overwrite").parquet(s"$path/vecs.parquet")
      val s = centroids.sparkSession
      import s.implicits._
      Seq(trainedRows).toDF("trained_rows")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta.parquet")
    }
    def appendedFraction: Double = {
      val total = codes.count()
      if (total == 0) 0.0 else (total - trainedRows).toDouble / total
    }
    def unpersist(): Unit = {
      centroids.unpersist(); codebooks.unpersist()
      codes.unpersist(); vecs.unpersist()
    }
  }

  object AnnIvfPqIndex {
    def load(spark: SparkSession, path: String): AnnIvfPqIndex = {
      val codes = Q.cached(spark.read.parquet(s"$path/codes.parquet"))
      val trained =
        try spark.read.parquet(s"$path/meta.parquet")
          .select("trained_rows").head().getLong(0)
        catch { case scala.util.control.NonFatal(_) => codes.count() }
      AnnIvfPqIndex(
        Q.cached(spark.read.parquet(s"$path/centroids.parquet")),
        Q.cached(spark.read.parquet(s"$path/codebooks.parquet")),
        codes,
        Q.cached(spark.read.parquet(s"$path/vecs.parquet")),
        trained)
    }
  }

  /** Train both quantizers over one cached embedding frame: the coarse
    * k-means (shared trainer with AnnIvfIndex) and the PQ codebooks,
    * then one assignment pass each — codes carry (list_id, codes, n2).
    * `trainSample` bounds BOTH trainers' input ([[trainSlice]]); the
    * assignment/encode passes always cover every vector. */
  def buildAnnIvfPqIndex(emb: DataFrame, nlist: Int = 10, m: Int = 8,
      ksub: Int = 32, iters: Int = 2, trainSample: Int = 0): AnnIvfPqIndex = {
    val embC = Q.cached(emb.select(col("vec_id"), col("e"), col("n2")))
    val trainC =
      if (trainSample <= 0) embC else Q.cached(trainSlice(embC, trainSample))
    val centsC = Q.cached(Llm.trainIvfCentroids(trainC, nlist, iters))
    val subs = Q.cached(subVectors(embC, m))
    val subsTrain = if (trainSample <= 0) subs else Q.cached(subVectors(trainC, m))
    var cb = codeCentroids(subsTrain
      .withColumn("code", ((col("vec_id") + col("sub_id")) % ksub).cast("int"))
      .select("sub_id", "code", "sv"))
    (1 to iters).foreach { _ => cb = codeCentroids(assignCodes(subsTrain, cb)) }
    val cbC = Q.cached(cb)
    val assigned = Llm.nearestLists(embC, centsC, 1)
      .select(col("vec_id"), col("c_label").as("list_id"))
    val codes = Q.cached(encode(subs, cbC)
      .join(assigned, "vec_id")
      .join(embC.select("vec_id", "n2"), "vec_id"))
    val n = codes.count()
    subs.unpersist() // build-time-only (see buildAnnPqIndex)
    AnnIvfPqIndex(centsC, cbC, codes, embC, n)
  }

  /** Encode-only ingest: assign new vectors to the frozen coarse lists
    * AND encode them against the frozen codebooks — both quantizers
    * untouched, both drift debts covered by [[maybeRetrainIvfPq]]. */
  def appendToIvfPqIndex(index: AnnIvfPqIndex,
      newVecs: DataFrame): AnnIvfPqIndex = {
    val nv = newVecs.select(col("vec_id"), col("e"), col("n2"))
    val m = index.codebooks.select(max(col("sub_id"))).head().getInt(0) + 1
    val assigned = Llm.nearestLists(nv, index.centroids, 1)
      .select(col("vec_id"), col("c_label").as("list_id"))
    AnnIvfPqIndex(
      index.centroids, index.codebooks,
      index.codes.unionByName(encode(subVectors(nv, m), index.codebooks)
        .join(assigned, "vec_id")
        .join(nv.select("vec_id", "n2"), "vec_id")),
      index.vecs.unionByName(nv),
      index.trainedRows)
  }

  /** Rewrite-semantics deletion, same contract as the other families. */
  def deleteFromIvfPqIndex(index: AnnIvfPqIndex,
      removed: DataFrame): AnnIvfPqIndex = {
    val rm = removed.select(col(removed.columns.head).as("vec_id"))
    val before = index.codes.count()
    val codes = Q.cached(index.codes.join(rm, Seq("vec_id"), "left_anti"))
    AnnIvfPqIndex(index.centroids, index.codebooks, codes,
      Q.cached(index.vecs.join(rm, Seq("vec_id"), "left_anti")),
      math.max(0L, index.trainedRows - (before - codes.count())))
  }

  /** Shared drift policy; both quantizers freeze on append, so decay
    * compounds (stale lists AND stale codebooks). AnnPqSpec's measured
    * ladder (r9, recall@10, nprobe 2, depth 20): 0.120 / 0.150 / 0.127
    * frozen at appended fractions 0.33 / 0.50 / 0.60; retrain at 0.60
    * restores 0.400 — the same 0.5-threshold calibration as the other
    * families. */
  def maybeRetrainIvfPq(index: AnnIvfPqIndex, nlist: Int = 10, m: Int = 8,
      ksub: Int = 32, iters: Int = 2,
      maxAppendedFraction: Double = 0.5): AnnIvfPqIndex =
    if (index.appendedFraction > maxAppendedFraction)
      buildAnnIvfPqIndex(index.vecs.select(col("vec_id"), col("e"), col("n2")),
        nlist, m, ksub, iters)
    else index

  /** Three-phase IVFADC search: coarse probe → ADC within the probed
    * lists → exact rerank. The probe frame is nq×nprobe rows (broadcast);
    * the candidate scan touches only the probed lists' code rows. */
  def ivfPqQueryTopk(index: AnnIvfPqIndex, queries: DataFrame, k: Int = 5,
      nprobe: Int = 6, rerankDepth: Int = 100): DataFrame = {
    val m = index.codebooks.select(max(col("sub_id"))).head().getInt(0) + 1
    val q = queries.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("n2").as("qn2"))
    val probes = Llm.nearestLists(
        queries.select(col("vec_id"), col("e"), col("n2")), index.centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("c_label").as("list_id"))
    val cands = index.codes
      .select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("n2").as("cn2"), posexplode(col("codes")).as(Seq("sub_id", "code")))
      .join(broadcast(probes), "list_id")
      .join(broadcast(adcLut(q, index.codebooks, m)),
        Seq("query_id", "sub_id", "code"))
    exactRerank(adcPreRank(cands, rerankDepth), index.vecs, q, k)
  }

  /** Registered row: the artifact API end-to-end (train, encode, ADC
    * sweep, exact rerank) for the standard vec_id < 10 query set. No
    * oracle (nested argmins over trained state are engine-awkward, same
    * as the other ANN rows); LlmSpec pins the recall floor vs unsampled
    * brute force plus the reload/append/delete equivalences. */
  val llmAnnPq: Q = Q.noOracle("llm_ann_pq") { (s, dir) =>
    // r15: the embeddings fixture is one row group → every cached fill's
    // 64-long decode + n2 dot ran single-task; spread the scan a few
    // ways before caching (192 KB/task ≈ 7 tasks here; identity at
    // scale — guide §2.5). The PQ builds re-map the cached frame
    // repeatedly (subVectors ×m explode, train refinements, encode), so
    // the parallelism pays: interleaved A/B −21% on this key, −10% on
    // ivfpq (plans/r15/ab_ann_spread_32c.txt). Downstream aggregations /
    // argmins are partition-count-invariant (array_sort/array_min over
    // collected codebooks, exact integer centroid sums).
    val index = buildAnnPqIndex(Q.cached(Q.spreadScan(
      Llm.scaledEmb(s, dir), col("vec_id"), 192 << 10)))
    pqQueryTopk(index, Llm.scaledEmb(s, dir).where(col("vec_id") < 10))
      .orderBy("query_id", "rank")
  }

  /** Registered row for the composed index: both quantizers trained,
    * coarse probe + list-restricted ADC + exact rerank end-to-end. */
  val llmAnnIvfPq: Q = Q.noOracle("llm_ann_ivfpq") { (s, dir) =>
    val index = buildAnnIvfPqIndex(Q.cached(Q.spreadScan(
      Llm.scaledEmb(s, dir), col("vec_id"), 192 << 10))) // see llmAnnPq above
    ivfPqQueryTopk(index, Llm.scaledEmb(s, dir).where(col("vec_id") < 10))
      .orderBy("query_id", "rank")
  }

  def all: Seq[Q] = Seq(llmAnnPq, llmAnnIvfPq)
}
