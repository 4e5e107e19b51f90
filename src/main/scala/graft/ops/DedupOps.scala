package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions

/** §2.I extension — the near-duplicate detection family beyond I1/I2:
  * SimHash, word-n-gram Jaccard, embedding-cosine near-dup, and
  * MinHash+LSH (the general-vocabulary scale path, engine-hash-based so
  * property-tested rather than oracle-checked — LlmSpec asserts a
  * recall floor >= 0.95 on the fixtures, where measured recall is 1.0,
  * and the oracle row is green because verified output matches the
  * exact I2 pairs there).
  */
object DedupOps {

  /** The ONE DuckDB oracle template both simhash forms verify against
    * and the ONE signature expression both build with — the all-pairs
    * baseline and the banded scale path claim identical semantics, and
    * sharing the strings makes that claim structural instead of
    * copy-paste (r4 review). `where` scopes the input (r6 verdict item
    * 2 / r7 item 1: the registered all-pairs baseline runs on the
    * fixed-count doc_id < Llm.SampleBound prefix — O(bound²) at any
    * corpus size; the banded scale path stays full-corpus). */
  private def simhashOracle(where: String): String =
    s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents$where),
      |h AS (SELECT doc_id, ('0x' || substr(sha256(tok), 1, 15))::BIGINT AS th FROM toks),
      |contrib AS (SELECT doc_id, b,
      |    SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN (SELECT CAST(t AS INTEGER) AS b FROM range(60) r(t)) bits
      |  GROUP BY doc_id, b),
      |sig AS (SELECT doc_id,
      |    SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
      |  FROM contrib GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  private val simhashSigExpr: String =
    "array_distinct(transform(split(text, ' '), " +
      "t -> cast(conv(substring(sha2(t, 256), 1, 15), 16, 10) as bigint)))"

  /** Shared oracle template for llm_cosine_near_dup (all-pairs
    * baseline, sampled input) and llm_cosine_lsh (bucketed scale path,
    * full input) — one string, so the pair semantics cannot drift.
    *
    * SYNTHETIC TWIN SLICE (r6 verdict item 1): the fixture corpus has
    * ZERO cosine ≥ 0.95 pairs at every SF, so without augmentation both
    * driver rows are green on an empty output — the gate proved only
    * the trivial path. Each in-scope vec_id < 50 therefore contributes
    * a deterministic near-twin (id + 1000000, first scaled element + 1
    * — relative perturbation ~1e-7, cosine ≈ 1 − 1e-14 ≥ τ), built with
    * identical integer arithmetic on both surfaces, so the oracle hash
    * now covers real detected pairs (50 full / 10 sampled at any SF).
    * The twins also exercise the LSH recall path on the driver fixture:
    * a missed twin pair fails the row. */
  private def cosineOracle(where: String): String =
    s"""WITH s0 AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS e
      |  FROM embeddings$where),
      |s AS (SELECT vec_id, e FROM s0
      |      UNION ALL
      |      SELECT vec_id + 1000000, list_concat([e[1] + 1], e[2:len(e)])
      |      FROM s0 WHERE vec_id < 50),
      |n AS (SELECT vec_id, e,
      |    CAST(list_sum(list_transform(list_zip(e, e), p -> p[1] * p[2])) AS BIGINT) AS n2
      |  FROM s)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE CAST(CAST(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
      |   >= 0.95 * sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))
      |ORDER BY vec_a, vec_b""".stripMargin

  /** The Spark twin of cosineOracle's augmented input: scaled fixture
    * embeddings (optionally pre-filtered) ∪ deterministic near-twins of
    * the in-scope vec_id < 50 rows, with exact n2 recomputed after the
    * perturbation. Twin ids are +1000000; the bounded baseline's twins
    * are exactly the twins of its bounded base (the vec_id <
    * Llm.SampleBound pre-filter runs BEFORE twin construction, and
    * every twin base id is < 50 ≤ the bound).
    * Carries `label` so llm_semantic_dedup's output can cover the twin
    * rows too. */
  /** Runtime guard for the +1000000 synthetic-id offset (r7 advice):
    * the twin/PII slices assume fixture ids stay below 1,000,000 — on a
    * larger corpus the generated ids would collide with real rows
    * IDENTICALLY on both surfaces, so the oracle compare would stay
    * green while outputs silently carried duplicate ids. The guard is a
    * per-row codegen branch on the id expression itself (no extra
    * driver action, survives column pruning because the id column is
    * always consumed): any id at or above the offset fails the Spark
    * side loud, which the driver surfaces as a row error. */
  private[ops] def idBelowOffset(id: org.apache.spark.sql.Column,
      what: String): org.apache.spark.sql.Column =
    when(id < lit(1000000L), id).otherwise(raise_error(concat(
      lit(s"$what: fixture id "), id.cast("string"),
      lit(" >= 1000000 collides with the synthetic +1000000 id slice"))))

  private[graft] def embWithTwins(
      s: org.apache.spark.sql.SparkSession, dir: String,
      where: Option[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    val base0 = Llm.scaledEmb(s, dir)
      .select(idBelowOffset(col("vec_id"), "embWithTwins").as("vec_id"),
        col("label"), col("e"))
    val base = where.map(base0.where).getOrElse(base0)
    val twins = base.where(col("vec_id") < 50)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("label"),
        concat(array(element_at(col("e"), 1) + lit(1L)),
          expr("slice(e, 2, size(e) - 1)")).as("e"))
    base.unionByName(twins).withColumn("n2", GraftFunctions.expr("dot_long(e, e)"))
  }

  /** All-pairs SimHash pair engine over any documents frame — shared by
    * the registered (sampled) baseline and LlmSpec's full-corpus
    * banded ≡ all-pairs equality proof. One narrow pass builds
    * signatures (distinct token hashes per doc → native simhash60
    * codegen loop, no 60×-bit-row explosion); the 8-byte signatures
    * then do an all-pairs bitwise compare. */
  private[graft] def simhashAllPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    val sig = docs
      .select(col("doc_id"),
        expr(simhashSigExpr).as("ths"))
      .withColumn("simhash", GraftFunctions.expr("simhash60(ths)"))
    // repartition (pinned count — AQE would coalesce a by-column
    // repartition of this tiny input back to one partition): the small
    // documents file otherwise serializes the pair compare on one task
    val a = sig.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = sig.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .where(col("hamming") <= 6)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SimHash near-dup (oracle-exact): 60-bit sha256-derived token
    * hashes; bit b of a doc's signature is the sign of Σ_tokens (±1 on
    * bit b); pairs with Hamming distance ≤ 6 are near-dups.
    *
    * REGISTRY SCOPE (r6 verdict item 2; r7 item 1): the registered
    * all-pairs baseline runs over the FIXED-COUNT doc_id <
    * Llm.SampleBound prefix (identically bounded oracle; 304 true pairs
    * at sf0.01) — a fixed count, not a % sample, so the registered cost
    * is O(bound²) at any corpus size (Llm.SampleBound scaladoc).
    * llm_simhash_banded is the full-corpus scale path, and banded ≡
    * all-pairs over the FULL corpus stays pinned in LlmSpec via
    * [[simhashAllPairs]]. */
  val llmSimhashDedup: Q = Q(
    "llm_simhash_dedup",
    simhashOracle(s" WHERE doc_id < ${Llm.SampleBound}")
  ) { (s, dir) =>
    simhashAllPairs(documents(s, dir).where(col("doc_id") < Llm.SampleBound))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup via BANDING — the 100 TB path for llm_simhash_dedup's
    * exact semantics, with GUARANTEED (not probabilistic) recall: split
    * the 60-bit signature into 7 bands (6×9 bits + 1×6); a pair at
    * Hamming distance ≤ 6 differs in at most 6 bands, so by pigeonhole
    * at least one band is bit-identical — candidates = pairs sharing any
    * (band, value) bucket, then the exact bit_count(xor) ≤ 6 check keeps
    * precision 1. Identical output to the all-pairs form (same DuckDB
    * oracle), but the only wide op is the (band, value) bucket join:
    * random pairs collide per 9-bit band with p = 1/512, so candidates
    * are ~N²/512·7 instead of N²/2 — and at 100 TB the bucket key is the
    * shuffle key, no all-pairs anywhere. */
  val llmSimhashBanded: Q = Q(
    "llm_simhash_banded",
    simhashOracle("")
  ) { (s, dir) =>
    // token-set contraction (r4): the simhash signature is a pure
    // function of the distinct-token set, so equal-ts docs share every
    // band bucket — banding runs on representatives only and the full
    // pair list is reconstructed after (within-group hamming is exactly
    // 0; cross pairs inherit the rep pair's hamming). The 248-doc
    // equal-ts group at sf0.1 alone removes ~430k bucket-collision rows
    // from the self-join.
    val (tagged, repDocs) = tsContraction(documents(s, dir))
    val sig = Q.cached(repDocs
      .select(col("doc_id"),
        expr(simhashSigExpr).as("ths"))
      .withColumn("simhash", GraftFunctions.expr("simhash60(ths)"))
    ) // the signature index, probed by both sides of the bucket join
    // bands 0-5: 9 bits each; band 6: the top 6 bits (mask is harmless)
    val bands = sig.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 6), b -> shiftright(simhash, b * 9) & 511L)"))
        .as(Seq("band", "bv")))
    // exact Hamming check INSIDE the bucket join, before the global pair
    // dedup: the signatures ride along anyway, bit_count(xor) is one
    // codegen instruction pair, and filtering first shrinks the
    // full-shuffle distinct from every bucket collision (~N²/512·7 rows)
    // to just the true near-dup pairs (r3 VERDICT item 7)
    val repPairs = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("bigint")
          .as("hamming"))
      .where(col("hamming") <= 6)
      .distinct()
    expandTsGroups(tagged, repPairs, Seq(lit(0L).as("hamming")))
      .orderBy("doc_a", "doc_b")
  }

  /** Document-frequency ceiling for llm_ngram_jaccard's inverted-index
    * join (r7 verdict item 2): a gram appearing in f docs produces f²
    * candidate pairs ON ONE JOIN KEY — a stop-bigram ("of the") at
    * corpus scale is a single-key shuffle bomb no partitioning can
    * spread. Grams with df > cap are dropped from the gram sets on BOTH
    * surfaces (so sizes, intersections, and the τ test all see the
    * capped sets — semantics shift identically and the oracle still
    * hashes), which bounds the join at cap · Σf = cap · total-gram-
    * occurrences: LINEAR in the corpus, with no per-key term above
    * cap². The information argument is the classic prefix-filter one:
    * a gram half the corpus shares carries ~no signal about any
    * specific pair. 20 is ACTIVE on the fixture (max df 22 at sf0.01,
    * 129 at sf0.1) and keeps the 3 true sf0.01 pairs; STOPGRAM_r13.json
    * records the bound on a corpus with a planted every-doc gram (the
    * gram is dropped instead of exploding). */
  private[graft] final val NgramDfCap = 20

  /** Word-bigram Jaccard (τ = 0.5) over the doc_id%3==0 sample — the
    * n-gram flavor of I2. Bigram vocabulary is quadratic so no bitmask;
    * this is the classic inverted-index (token → doc) join with the
    * pair-count aggregation; the sample bound keeps all-SF bench cost
    * flat. The sample was %10 through r6, which left ZERO qualifying
    * pairs at sf0.01 — a vacuous oracle row of exactly the kind the r6
    * verdict flagged; %3 keeps 3 true pairs at sf0.01 so the τ-accept
    * branch is hash-gated. Since r8 the gram sets carry the
    * [[NgramDfCap]] df ceiling on both surfaces — the inverted-index
    * join is thereby LINEAR-bounded (cap · occurrences) instead of
    * Σf² with an unbounded hottest key. Scale path for full recall on
    * rare grams: prefix filtering or MinHash over the n-gram sets —
    * same llm_minhash_lsh machinery. */
  val llmNgramJaccard: Q = Q(
    "llm_ngram_jaccard",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE doc_id % 3 = 0),
      |bg0 AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
      |      p -> p[1] || ' ' || p[2])) AS gram
      |  FROM d WHERE len(toks) >= 2),
      |bg AS (SELECT doc_id, gram FROM bg0
      |       QUALIFY COUNT(*) OVER (PARTITION BY gram) <= ${NgramDfCap}),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM bg a JOIN bg b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, n_inter, sa.n AS n_a, sb.n AS n_b
      |FROM inter
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE 3 * n_inter >= sa.n + sb.n
      |ORDER BY doc_a, doc_b""".stripMargin
  ) { (s, dir) =>
    val d = documents(s, dir)
      .where(col("doc_id") % 3 === 0)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
    import org.apache.spark.sql.expressions.Window
    // cached: the bigram explode+distinct feeds THREE consumers (sz and
    // both sides of the inverted-index join) — uncached, the widened r7
    // sample re-ran that scan stage 3x and the query cost 4.1 s at
    // sf0.1; cached it runs the stage once (measured 2.25 s).
    // The df ceiling (NgramDfCap scaladoc) is a count window over the
    // gram partition: one gram-keyed exchange with f rows per gram (not
    // f²), and the distinct just before it already shuffles on
    // (doc_id, gram) — the hottest gram's partition is f rows, bounded
    // work even for a planted every-doc stop-gram.
    val bg = Q.cached(d.select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
          "(x, y) -> concat(x, ' ', y))")).as("gram"))
      .distinct()
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("gram")))
      .where(col("__df") <= NgramDfCap)
      .drop("__df"))
    val sz = bg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = bg.as("a")
      .join(bg.as("b"), col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .where(lit(3) * col("n_inter") >= col("n_a") + col("n_b"))
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup (τ = 0.95): all vector pairs whose
    * cosine similarity (exact scaled-integer dots via the native
    * dot_long expression → IEEE-deterministic score) exceeds the
    * threshold. All-pairs is the correctness baseline; llm_cosine_lsh
    * is the bucketed scale path.
    *
    * REGISTRY SCOPE (r6 verdict item 2; r7 item 1): the registered
    * baseline runs over the FIXED-COUNT vec_id < Llm.SampleBound prefix
    * + its synthetic twins (50 true pairs at any SF — every twin base
    * id is < 50 < bound; see cosineOracle; the oracle bounds
    * identically). A fixed count, not a % sample, so the registered
    * cost is O(bound²) at any corpus size (Llm.SampleBound scaladoc).
    * Full-corpus all-pairs ≡ LSH equality stays pinned in LlmSpec via
    * [[cosineAllPairs]]. */
  val llmCosineNearDup: Q = Q(
    "llm_cosine_near_dup",
    cosineOracle(s" WHERE vec_id < ${Llm.SampleBound}")
  ) { (s, dir) =>
    // persist: both sides of the all-pairs join reference this frame —
    // without it the scan+scale lineage runs twice (r4 review; the LSH
    // sibling already persists for the same reason)
    cosineAllPairs(Q.cached(embWithTwins(s, dir, Some(col("vec_id") < Llm.SampleBound))))
      .orderBy("vec_a", "vec_b")
  }

  /** Core of llm_cosine_near_dup over any (vec_id, e, n2) frame (see
    * cosineLshPairs for why the spec needs the frame parameterized). */
  private[graft] def cosineAllPairs(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    val a = emb.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("vec_id"))
      .select(col("vec_id").as("vec_a"), col("e").as("ea"), col("n2").as("na"))
    val b = emb.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("n2").as("nb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .where(GraftFunctions.expr("cast(dot_long(ea, eb) as double)")
        >= lit(0.95) * sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
      .select("vec_a", "vec_b")
  }

  /** Embedding-cosine near-dup via sign-LSH — the 100 TB path for
    * llm_cosine_near_dup's semantics (the all-pairs baseline): 8 tables
    * of 4 deterministic pseudo-random hyperplanes (the same xxhash64
    * weight scheme as llm_ann_lsh) give each vector a 4-bit sign bucket
    * per table; candidates are pairs sharing any (table, bucket) — the
    * only shuffle key — and every candidate is exact-verified with the
    * integer dot_long cosine test, so precision is 1 and only recall is
    * probabilistic. For pairs at cosine ≥ 0.95 (≤ 18.2°), a random
    * hyperplane splits them with p ≤ 0.101, so P[same 4-bit bucket] ≥
    * 0.9^4 ≈ 0.656 per table and a pair misses all 8 tables with
    * probability ≤ (1-0.656)^8 ≈ 2e-4 — on the fixtures the verified
    * output EQUALS the exact pair set (checked at sf0.001/0.01 by
    * LlmSpec with an asserted floor), so it carries the same DuckDB
    * oracle as the all-pairs form. Since r7 the input carries the
    * synthetic twin slice (cosineOracle scaladoc): the driver row now
    * hash-covers 50 real detected pairs — including the LSH recall
    * path — instead of an empty output. */
  val llmCosineLsh: Q = Q(
    "llm_cosine_lsh",
    cosineOracle("")
  ) { (s, dir) =>
    cosineLshPairs(Q.cached(embWithTwins(s, dir, None))).orderBy("vec_a", "vec_b")
  }

  /** Core of llm_cosine_lsh over any (vec_id, e, n2) scaled-embedding
    * frame — separated so the spec can drive it with SYNTHETIC near-dup
    * vectors: the fixture corpus has zero cosine ≥ 0.95 pairs at every
    * SF, so both cosine queries are output-empty there and a fixture
    * recall assertion would be vacuous. */
  private[graft] def cosineLshPairs(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    val sigs = Llm.signBuckets(emb)
    // no pre-verify distinct (the lshVerifiedPairs r5 change, same r3
    // item 7): a pair sharing k ≤ 8 table-buckets is exact-scored k
    // times through the verifySide-hinted joins — one codegen dot each
    // — instead of exchanging the whole ~N·bucket² candidate set; the
    // dedup shuffle runs after the τ filter, over true pairs only
    val cand = sigs.as("x")
      .join(sigs.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    cand
      .join(verifySide(emb.select(col("vec_id").as("vec_a"), col("e").as("ea"),
        col("n2").as("na"))), "vec_a")
      .join(verifySide(emb.select(col("vec_id").as("vec_b"), col("e").as("eb"),
        col("n2").as("nb"))), "vec_b")
      .where(GraftFunctions.expr("cast(dot_long(ea, eb) as double)")
        >= lit(0.95) * sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
      .select("vec_a", "vec_b")
      .distinct()
  }

  /** MinHash+LSH near-dup — the 100 TB path for I2's semantics on an
    * unbounded vocabulary: 32 XXH64 permutations (native minhash32
    * expression) → 4 bands × 8 rows (r=8 keeps the candidate set sparse
    * even on this highly self-similar corpus: P[band collision] at
    * Jaccard 0.6 is 0.6^8 ≈ 2%, while τ=0.95 pairs still collide with
    * probability ≈ 1-(1-0.95^8)^4 ≈ 0.99);
    * docs sharing any band bucket become candidates (the only shuffle
    * moves (band, bucket-hash) keys); candidates are then exact-verified
    * with I2's array_intersect Jaccard (τ = 0.95) so precision is 1 and
    * only recall is probabilistic. On this corpus the verified output
    * EQUALS the exact pair set on the fixtures (LlmSpec asserts the
    * recall floor >= 0.95; measured 1.0 at sf0.001;
    * re-checked at sf0.01 by the driver), so it carries the same DuckDB
    * oracle as I2 — pairs only, recall stays property-tested. */
  val llmMinhashLsh: Q = Q(
    "llm_minhash_lsh",
    s"""WITH m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM m a JOIN m b ON a.doc_id < b.doc_id
      |WHERE ${Llm.TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |   >= ${Llm.TauNumer} * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |ORDER BY doc_a, doc_b""".stripMargin
  ) { (s, dir) =>
    // contraction + exact re-expansion (r4): signatures, banding, and
    // verification all run on equal-token-set representatives (equal-ts
    // docs share every minhash band by construction, so nothing is lost
    // by deduplicating them first); the full pair list is reconstructed
    // from the group structure (expandTsGroups scaladoc)
    val (tagged, repDocs) = tsContraction(documents(s, dir))
    expandTsGroups(tagged, lshVerifiedPairs(repDocs), Seq.empty)
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash-LSH candidate generation + exact verification, unordered —
    * the shared scale-path engine behind llm_minhash_lsh AND
    * llm_corpus_clean's near-dup stage (r3 VERDICT item 2: the composed
    * pipeline must not fall back to the all-pairs NLJ).
    *
    * Per-doc signature build is narrow (32 minhashes → 4 band hashes);
    * the only wide ops are the tiny (band, bucket) joins. Exact
    * verification on the candidate set: token-set Jaccard via the native
    * inter_count_sorted merge loop on the per-doc sorted distinct-token
    * arrays — no vocab rebuild, no global window, no whole-corpus driver
    * broadcast (the round-1 bitmask version cost 3 extra shuffles,
    * sorted the vocab on one task, and silently aliased past 64 tokens;
    * see VERDICT r1 §5). The verify join carries the same size-ratio
    * prefilter as Llm.jaccardPairs so the merge loop only runs on pairs
    * that could plausibly pass τ. */
  /** The 4×8 MinHash banding expression over a 32-long `mhs` column —
    * shared by the batch LSH path and the streaming near-dup probe so
    * both sides of a stream-static join bucket identically. */
  private[graft] val minhashBandExpr: String =
    "transform(sequence(0, 3), b -> xxhash64(" +
      "element_at(mhs, b*8+1), element_at(mhs, b*8+2), " +
      "element_at(mhs, b*8+3), element_at(mhs, b*8+4), " +
      "element_at(mhs, b*8+5), element_at(mhs, b*8+6), " +
      "element_at(mhs, b*8+7), element_at(mhs, b*8+8)))"

  /** Build-side hint for the LSH verify joins and expandTsGroups'
    * member joins — the scale switch the r5 verdict asked to be CODE,
    * not a scaladoc contract. The hinted side is corpus-derived: an
    * easy broadcast at bench SFs (MBs), a driver/executor OOM at
    * 100 TB. It is broadcast iff Catalyst's size estimate for the
    * frame fits the session's `spark.sql.autoBroadcastJoinThreshold`;
    * otherwise it is hinted SHUFFLE_HASH — the documented scale shape:
    * a key-partitioned shuffle hash join (build side = this frame, no
    * sort) co-partitioned with the candidate exchange. A disabled
    * threshold (<= 0) means never broadcast. The estimate is derived
    * from the COMPRESSED parquet footprint (measured ~2.6 MB for a
    * 50k-doc corpus whose in-memory token arrays are ~10× that), so at
    * cluster scale lower the threshold accordingly or set it to -1 —
    * the same conservatism Spark's own auto-broadcast carries.
    * The CANDIDATE side is never the build side — it is the unbounded
    * one. Both shapes are plan-goldened in PLANS.md and
    * result-equivalence is asserted in LlmSpec (the hint changes only
    * the exchange strategy, never the rows). */
  private[graft] def verifySide(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    if (thr > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= thr)
      broadcast(df)
    else df.hint("shuffle_hash")
  }
  private[graft] def lshVerifiedPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    // ONE tokenization serves both stages (r4 review): minhash32 is
    // order-independent, so the sorted distinct-token array used by the
    // exact verify is also the signature input — one persisted frame,
    // half the split/distinct work of the former dtoks+ts pair.
    // r14: spreadScan so a single-split caller (streaming static index,
    // spec corpora) tokenizes — and fills the cache — on every core;
    // identity for the usual contracted/shuffled inputs.
    val sets = Q.cached(Q.spreadScan(docs.select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"), expr("array_sort(array_distinct(split(text, ' ')))").as("ts")))
    val bands = Q.cached(sets
      .withColumn("mhs", GraftFunctions.expr("minhash32(ts)"))
      .select(col("doc_id"), posexplode(expr(minhashBandExpr))
        .as(Seq("band", "bh")))) // the LSH index: built once, probed by both join sides
    // NO pre-verify distinct on the candidate pairs (r3 verdict item 7,
    // closed in r5): the (band, bucket) self-join emits a pair once per
    // shared band (≤ 4), and deduping those globally was a full shuffle
    // of the ENTIRE candidate set. The verify joins build on the sets
    // side (broadcast at bench scale, shuffle-hash at scale — see
    // verifySide) and the merge-loop Jaccard test is a few ns per pair,
    // so re-verifying a pair up to 3 extra times is far cheaper than
    // exchanging every candidate; the distinct now runs AFTER the τ
    // filter, over just the true near-dup pairs.
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    Llm.verifyJaccardPairs(cand
      .join(verifySide(sets.select(col("doc_id").as("doc_a"), col("ts").as("ts_a"))), "doc_a")
      .join(verifySide(sets.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"))), "doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Fuzzy-dedup survivor selection — the step a training-data pipeline
    * actually runs on near-dup PAIRS: group them into connected
    * components and keep one representative per component. Pairs alone
    * under-delete (A~B, B~C ⇒ drop two of {A,B,C} even when A!~C).
    *
    * Spark side: RECURSIVE PARTITION CONTRACTION over ONLY the reps
    * that appear in a verified pair (r5; singleton reps and equal-ts
    * members never enter the recursion — componentLabels derives their
    * labels in one join afterwards). Each level union-finds every edge
    * partition in memory (mapPartitions), then emits only the stitch
    * quotient — each multi-partition vertex's roots linked to its min
    * root — as the next level's edge list at a quarter the partitions.
    * At one partition the quotient is empty by construction, so the
    * level count is ceil(log4 edgeParts)+1 for ANY graph shape. This
    * replaced the r5 min-label/pointer-jump loop, whose convergence
    * was O(diameter) in the worst case: a 400-vertex near-dup chain
    * (templated docs drifting one token per doc) blew its 50-round cap
    * — pinned by the chain spec in LlmSpec — while contraction closes
    * it in 2 levels. Every level's frames are re-materialized with a
    * localCheckpoint (lineage cut; the descent references each level
    * twice). At 100 TB: reliable checkpoint() to the cluster FS kicks
    * in automatically when a checkpoint dir is set, and
    * spark.graft.cc.edgeParts scales the per-task union-find memory
    * bound (levels grow only as log4 of it).
    *
    * Oracle: DuckDB recursive CTE computes each doc's reachable set;
    * MIN(reachable) is the same component representative and COUNT is
    * the component size. cluster_id = min doc_id of the component, so
    * survivors are exactly the rows with doc_id = cluster_id.
    *
    * Recall caveat (deliberate, shared with llm_corpus_clean since the
    * r3 verdict endorsed the same swap there): edges come from MinHash
    * LSH candidates + exact verify, so precision is 1 but a true pair
    * at exactly J = τ = 0.95 evades all 4 bands with p ≈ 1.3% (→ 0 as
    * J → 1), and a missed edge can split a component. On the
    * deterministic fixtures recall is 1.0 (LlmSpec floor ≥ 0.95
    * asserted) and the oracle row is green; at 100 TB the banding is
    * the only shape that runs, and the knob is more bands, not
    * all-pairs. */
  val llmDedupClusters: Q = Q(
    "llm_dedup_clusters",
    s"""WITH RECURSIVE
      |m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM m a JOIN m b ON a.doc_id < b.doc_id
      |  WHERE ${Llm.TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |     >= ${Llm.TauNumer} * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT)),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
      |SELECT a AS doc_id, MIN(b) AS cluster_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // token-set contraction, then the CC loop runs ONLY on reps that
    // appear in a verified pair — members and singleton reps get their
    // labels from one join after convergence (componentLabels scaladoc;
    // r4 verdict item 1). The oracle-facing I2 query pays an orderBy and
    // the full per-doc pair expansion this consumer doesn't need.
    val (tagged, repDocs) = tsContraction(documents(s, dir))
    val labels = componentLabels(tagged, lshVerifiedPairs(repDocs))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    labels
      .join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("n_members"))
      .orderBy("doc_id")
  }

  /** Token-set contraction for near-dup component edges: docs with
    * IDENTICAL distinct-token sets have Jaccard exactly 1 ≥ τ, so each
    * equal-ts group collapses to its min-doc_id representative linked to
    * its members by star edges, and the expensive pair stage (all-pairs
    * NLJ or LSH, supplied as `pairBuilder`) runs on representatives
    * only. Component-identity proof: every emitted edge is a true
    * near-dup pair (star = Jaccard 1; rep-rep = verified exactly), and
    * every true pair (a,b) is connected through it — equal ts ⇒ both
    * star-linked to the same rep; different ts ⇒ J(a,b) = J(rep_a,
    * rep_b) passes τ ⇒ rep edge exists, plus the two star links. At
    * sf0.1 this collapses 5000 docs → 3935 reps (one 248-doc group
    * alone turns 30,628 clique pairs into 247 star edges), shrinking
    * both the quadratic stage and the edge list the CC loop re-scans
    * every round. The same trick is the 100 TB story for corpora with
    * heavy exact-or-trivial duplication — contraction is one hash
    * aggregate on ts before anything quadratic runs. */
  /** The shared contraction step: one row per doc tagged with its
    * equal-ts group representative (`rep` = min doc_id of the group) and
    * distinct-token count, plus the one-doc-per-group projection the
    * quadratic stages run on. `tagged` is cached — every consumer reads
    * it 2-3×. 100 TB note: tagged carries `text` because the rep
    * projection needs it; at cluster scale you would cache only
    * (doc_id, rep, tsz) — the columns every consumer reads — and
    * re-derive rep text with a doc_id semi-join against the source scan
    * (columnar parquet makes the re-read cheap; caching the corpus text
    * twice is not). At bench SFs the single cache is the faster shape. */
  private[graft] def tsContraction(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // r14: Q.spreadScan before the tokenize — a raw-documents caller
    // hands this a single parquet split, so the split/distinct/sort
    // token work (the map side of the reps aggregate AND the join
    // probe) ran on one task; spreading puts it on every core, and the
    // guard is the identity for wide or already-shuffled inputs
    // (llm_corpus_clean passes its 32-partition cached s2 here)
    val withTs = Q.spreadScan(docs.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), col("text"),
        array_sort(array_distinct(split(col("text"), " "))).as("ts"))
    val reps = withTs.groupBy(col("ts")).agg(min(col("doc_id")).as("rep"))
    val tagged = Q.cached(withTs.join(reps, "ts")
      .select(col("doc_id"), col("text"), col("rep"),
        size(col("ts")).cast("bigint").as("tsz")))
    val repDocs = tagged.where(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("text"))
    (tagged, repDocs)
  }

  /** The FULL contracted edge list (rep pairs ∪ star edges) — since r5
    * this is the property-proof surface (LlmSpec asserts components
    * over it equal components over the direct pair graph, and the
    * Plans golden shows it NLJ-free); the production component queries
    * skip materializing the stars and go through componentLabels, which
    * derives member/singleton labels from `tagged` after the loop. */
  private[graft] def contractedNearDupEdges(
      docs: org.apache.spark.sql.DataFrame,
      pairBuilder: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (tagged, repDocs) = tsContraction(docs)
    val stars = tagged.where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    pairBuilder(repDocs).select(col("doc_a"), col("doc_b")).union(stars)
  }

  /** Exact re-expansion of rep-level near-dup pairs back to the full
    * per-doc pair set — the other direction of the contraction, for the
    * queries whose ORACLE is the complete pair list. Within an equal-ts
    * group every ordered pair is a Jaccard-1 near-dup with n_inter =
    * n_union = |ts|; across two groups every member pair has EXACTLY the
    * rep pair's n_inter/n_union (intersections depend only on the token
    * sets). Groups are disjoint, so within ∪ cross is duplicate-free and
    * equals the all-pairs output. Any extra columns of `repPairs`
    * (n_inter/n_union, hamming, ...) are carried through for the cross
    * pairs; `withinExtra` supplies the same columns — in the same order
    * — for the within-group (identical-ts) pairs, where their values
    * are known in closed form (`tsz` is in scope for them). */
  private[graft] def expandTsGroups(
      tagged: org.apache.spark.sql.DataFrame,
      repPairs: org.apache.spark.sql.DataFrame,
      withinExtra: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    val m = tagged.select(col("doc_id"), col("rep"), col("tsz"))
    val x = m.select(col("rep").as("r"), col("doc_id").as("ida"), col("tsz"))
    val y = m.select(col("rep").as("r"), col("doc_id").as("idb"))
    val within = x.join(y, Seq("r")).where(col("ida") < col("idb"))
      .select(col("ida").as("doc_a") +: col("idb").as("doc_b") +: withinExtra: _*)
    val extra = repPairs.columns.filterNot(Set("doc_a", "doc_b")).map(col).toSeq
    val cross = repPairs
      .join(verifySide(m.select(col("rep").as("doc_a"), col("doc_id").as("da"))), "doc_a")
      .join(verifySide(m.select(col("rep").as("doc_b"), col("doc_id").as("db"))), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a")
        +: greatest(col("da"), col("db")).as("doc_b") +: extra: _*)
    // unionByName (r4 review): a positional union would silently swap
    // same-typed extra columns if a caller ordered withinExtra
    // differently from repPairs; by-name resolution turns that
    // mistake into an analysis error instead of transposed values
    within.unionByName(cross)
  }

  /** Connected components by recursive partition contraction (see
    * llmDedupClusters scaladoc for the algorithm and lineage notes).
    * `nodes` = one doc_id per vertex; `pairs` = undirected edges
    * (doc_a, doc_b). Returns (doc_id, label) with label = min doc_id
    * of the component. */
  private[graft] def connectedComponents(
      nodes: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ccImpl(Some(nodes), pairs)

  /** CC over exactly the vertices that appear in an edge. The node set
    * is derived from the CHECKPOINTED edge list, so the (often
    * expensive) pair plan is evaluated ONCE — passing
    * `pairs.select(a).union(pairs.select(b)).distinct()` as explicit
    * nodes would run the whole LSH candidate+verify plan a second time
    * for the label init (measured: it cost llm_dedup_clusters ~2 s at
    * sf0.1 before this entry point existed). */
  private[graft] def connectedComponentsOfEdges(
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ccImpl(None, pairs)

  private def ccImpl(
      nodesOpt: Option[org.apache.spark.sql.DataFrame],
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // No session-conf tuning in the loop: round 3 flipped codegen/AQE off
    // and quartered shuffle partitions here, and the driver measured the
    // query 58% SLOWER (7.26 s → 11.47 s). With default confs (codegen
    // on, AQE on) the loop keeps whole-stage codegen, lets AQE coalesce
    // the tiny per-round shuffles, and leaves join-strategy choice to
    // runtime stats — nothing global is mutated, so there is nothing to
    // scope (r3 VERDICT item 6).
    val Seq(ca, cb) = pairs.columns.toSeq.map(col)
    val s = pairs.sparkSession
    // Lineage cut per materialization: on a real cluster (checkpoint dir
    // configured) use RELIABLE checkpoints — executor loss mid-loop can
    // then recover from the cluster FS, where a local checkpoint would
    // kill the job (its truncated lineage cannot recompute lost
    // partitions). local[*] runs have no checkpoint dir and keep the
    // cheap local form. Both cut the logical plan to a LogicalRDD.
    val reliable = s.sparkContext.getCheckpointDir.isDefined
    def cut(df: org.apache.spark.sql.DataFrame, eager: Boolean) =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    // materialize the (usually expensive) pair plan ONCE, then derive the
    // symmetric edge list from the checkpointed rows — the union's two
    // branches would otherwise BOTH evaluate the pair plan (no exchange
    // boundary to reuse under a broadcast NLJ: measured 2× the all-pairs
    // verify cost at sf0.1 in round 3)
    // repartition (not coalesce — coalesce would throttle the upstream
    // pair computation itself) the checkpointed edge list down to
    // `spark.graft.cc.edgeParts` partitions (default 4). This count is
    // the contraction's parallelism AND its per-task memory bound: each
    // level-1 task union-finds one partition's edges (~16 bytes per
    // resident vertex). Locally 4 keeps scheduler overhead nil; on a
    // cluster set it near total cores — the level count only grows as
    // log4(parts), so 4096 parts is still just 6 levels.
    val edgeParts = math.max(1, graft.GraftConf.ccEdgeParts.get(s))
    val p0 = cut(
      pairs.select(ca.as("src"), cb.as("dst")).repartition(edgeParts),
      eager = true)
    // Recursive partition contraction (r6). Each LEVEL runs an
    // in-memory union-find inside every partition of its edge list
    // (mapPartitions — fully distributed, no driver involvement; memory
    // per task is ~16 bytes per vertex resident in that partition),
    // emitting a (vertex -> local set root) map whose roots are each
    // local set's MIN id (union attaches the larger root under the
    // smaller). The level's residual connectivity is the STITCH
    // QUOTIENT: for every vertex seen by several partitions, link each
    // of its roots to its min root. That quotient — repartitioned to a
    // QUARTER of the level's partitions — is the next level's edge
    // list. Termination is structural, not convergence-tested: once
    // the quotient reaches one partition, every vertex there has
    // exactly one root, so the next quotient is EMPTY — the level
    // count is ceil(log4 edgeParts)+1 REGARDLESS of graph shape. The
    // r5 min-label/pointer-jump loop this replaces was O(diameter) in
    // the worst case (a 400-vertex near-dup CHAIN — templated docs
    // drifting one token at a time — blew its 50-round cap; pinned by
    // the chain spec in LlmSpec); contraction levels don't see
    // diameter at all.
    // Correctness: an original edge's endpoints share a level-1 root,
    // and any two roots of one component are linked through the stitch
    // chain of their shared vertices, so each level's quotient
    // components are the original components restricted to that
    // level's roots. The global component min m is its own root at
    // every level (roots are set minima, and m is the min of any set
    // containing it), so the final level labels m's component with m,
    // and the descent below hands every vertex that label through its
    // root chain.
    import s.implicits._
    def localRoots(edges: org.apache.spark.sql.DataFrame) =
      edges.as[(Long, Long)].mapPartitions { it =>
        // LongLongMap, not java.util.HashMap: the partition's resident
        // vertex set IS this task's memory bound, and flat long arrays
        // hold it at ~16 bytes/slot with no boxing or GC churn (a
        // boxed HashMap is ~5x that and allocates per insert)
        val parent = new LongLongMap()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.put(a, a)
          if (!parent.contains(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        parent.keysIterator.map(v => (v, find(v)))
      }.toDF("doc_id", "root")
    val rootMaps = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    var cur = p0
    var parts = edgeParts
    var ccDone = false
    while (!ccDone) {
      // defensive only: parts strictly quarters to 1, where the next
      // quotient is empty by construction — 40 levels can't be reached
      if (rootMaps.size >= 40) throw new IllegalStateException(
        s"cc contraction did not close in ${rootMaps.size} levels")
      val rm = cut(localRoots(cur), eager = true)
      rootMaps += rm
      parts = math.max(1, parts / 4)
      val q = cut(rm
        .groupBy(col("doc_id"))
        .agg(min(col("root")).as("mr"), collect_set(col("root")).as("rs"))
        .select(explode(col("rs")).as("src"), col("mr").as("dst"))
        .where(col("src") =!= col("dst"))
        .repartition(parts), eager = true)
      // isEmpty on the just-materialized checkpoint is a limit-1 scan
      if (q.isEmpty) ccDone = true else cur = q
    }
    // Descend the root chains back to the original vertices. At the
    // final level the quotient was empty, so every vertex there has one
    // root (its component's min over that level — and, by the argument
    // above, the ORIGINAL component's min): label = root. Each step
    // down maps a level's vertices through (root -> label); a root
    // absent from the upper labels never appeared in that level's
    // stitch quotient, which means its local set was a whole component
    // and it is that component's min — coalesce to itself. A vertex
    // seen by several partitions carries one row per root; all resolve
    // to the same component label, and the groupBy-min collapses them.
    // The descent is LAZY plan composition over the per-level
    // checkpoints — levels are few (log4), so the plan stays shallow.
    val pairedLabels = rootMaps.init.foldRight(
      rootMaps.last.groupBy(col("doc_id")).agg(min(col("root")).as("label"))
    ) { (rm, upper) =>
      rm.join(upper.select(col("doc_id").as("root"), col("label")),
          Seq("root"), "left_outer")
        .select(col("doc_id"), coalesce(col("label"), col("root")).as("label"))
        .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
    }
    nodesOpt match {
      case None => pairedLabels
      case Some(n) =>
        // explicit nodes no longer ride through the loop as self-labeled
        // singletons (they used to widen every round): one
        // post-convergence coalesce join, same as componentLabels
        n.select(col(n.columns.head).as("doc_id"))
          .join(pairedLabels.select(col("doc_id"), col("label").as("__cl")),
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), coalesce(col("__cl"), col("doc_id")).as("label"))
    }
  }

  /** Component labels for EVERY doc of a contracted corpus, with the
    * iterative CC loop confined to the representatives that actually
    * appear in a verified pair (r4 verdict item 1 — the loop previously
    * took all docs as nodes, ~21% larger at sf0.1 and arbitrarily worse
    * on duplicate-heavy corpora, and the loop dominates
    * llm_corpus_clean). Everything outside the loop is derivable in one
    * join after convergence:
    *   - a rep in no pair is its own singleton component → label = rep;
    *   - a member doc's component is its rep's component, and the
    *     component's min doc_id is the min over its REPS (each rep is
    *     the min of its equal-ts group, so rep < every member) →
    *     label(doc) = label(rep(doc)).
    * `tagged` is tsContraction's (doc_id, text, rep, tsz) frame;
    * `repPairs` are verified near-dup pairs over reps only. Returns
    * (doc_id, label) for all docs — identical to running
    * connectedComponents over all docs with star edges (pinned by the
    * contraction-preservation property in LlmSpec). */
  private[graft] def componentLabels(
      tagged: org.apache.spark.sql.DataFrame,
      repPairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cc = connectedComponentsOfEdges(repPairs)
    tagged.select(col("doc_id"), col("rep"))
      .join(cc.select(col("doc_id").as("rep"), col("label")), Seq("rep"), "left_outer")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("label"))
  }

  /** The end-to-end curation pipeline a training corpus actually goes
    * through, as ONE composable query: quality gate (llm_quality_score's
    * exact integer formula, threshold 0.5) → exact dedup (min doc_id per
    * sha256) → near-dup components over the REMAINING docs (exact
    * Jaccard τ=0.95 pairs → connectedComponents) → keep each component's
    * min doc_id. Output = surviving (doc_id, lang, n_chars,
    * quality_micro).
    *
    * Every stage is a previously oracle-verified operator; the value
    * here is the composition: filters run before the expensive pair
    * stage (the all-pairs input shrinks quadratically with the quality
    * cut), dedup keys — digest, token sets, labels — are all computed
    * once and flow through narrow plans, and the one iterative stage
    * reuses the checkpointed component loop. The DuckDB oracle is the
    * same four stages as CTEs over a recursive reach. */
  val llmCorpusClean: Q = Q(
    "llm_corpus_clean",
    s"""WITH RECURSIVE
      |q AS (
      |  SELECT doc_id, lang, n_chars, text,
      |    ((2*n_stop*1000000 + n_tokens) // (2*n_tokens)
      |      + 1000000 - (2*n_short*1000000 + n_tokens) // (2*n_tokens)
      |      + least(n_chars, 500) * 2000) // 3 AS quality_micro
      |  FROM (SELECT doc_id, lang, n_chars, text,
      |      CAST(len(toks) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(toks, x -> x IN ('the','a','of','to','and'))) AS BIGINT) AS n_stop,
      |      CAST(len(list_filter(toks, x -> length(x) <= 2)) AS BIGINT) AS n_short
      |    FROM (SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS toks FROM documents))),
      |qf AS (SELECT * FROM q WHERE quality_micro >= 500000),
      |s2 AS (SELECT qf.* FROM qf
      |       JOIN (SELECT MIN(doc_id) AS doc_id FROM qf GROUP BY sha256(text)) k USING (doc_id)),
      |m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM s2),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM m a JOIN m b ON a.doc_id < b.doc_id
      |  WHERE ${Llm.TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |     >= ${Llm.TauNumer} * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT)),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (SELECT doc_id, doc_id FROM s2
      |  UNION SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |comp AS (SELECT a AS cdoc, MIN(b) AS cluster_id FROM reach GROUP BY a)
      |SELECT s2.doc_id, s2.lang, s2.n_chars, s2.quality_micro
      |FROM s2 JOIN comp ON s2.doc_id = comp.cdoc AND s2.doc_id = comp.cluster_id
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // stage 1: quality gate (exact integer score, same as llm_quality_score)
    // (r14 note: Q.spreadScan was tried before this gate and REVERTED —
    // interleaved A/B measured the spread form ~0.35 s slower: the gate
    // feeds a partial-aggregated digest shuffle, so the extra exchange
    // moved full text rows that the map-side aggregate never needed to
    // move. The contraction downstream still spreads via tsContraction.)
    val scored = withQualityMicro(documents(s, dir))
      .where(col("quality_micro") >= 500000)
      .select("doc_id", "lang", "n_chars", "quality_micro", "text")
    // stage 2: exact dedup among quality survivors — ONE digest-keyed
    // shuffle, r10: the PARTIAL-AGGREGATABLE min(struct(doc_id, ...))
    // election (Rewrite.scala lineDedup's form, closing the r9
    // verdict's hash-frequency gap): doc_id leads the struct and is
    // unique, so the min IS the min-doc_id survivor and CARRIES its
    // row — join-free, and a template page exact-duplicated in f docs
    // reduces map-side to one candidate per task where the old
    // row_number window sorted all f rows in one task. s2 is cached:
    // the contraction, the survivor semi-join, and the output
    // projection all read it.
    val s2 = Q.cached(scored
      .groupBy(sha2(col("text"), 256).as("__digest"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_chars"),
        col("quality_micro"), col("text"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("w.n_chars").as("n_chars"),
        col("w.quality_micro").as("quality_micro"), col("w.text").as("text")))
    // stage 3: near-dup pairs among the remaining docs via token-set
    // contraction + the MinHash LSH candidate path (llm_minhash_lsh's
    // machinery, exact-verified so the pair set — and hence the oracle —
    // is unchanged). Until round 3 this stage was the all-pairs
    // broadcast NLJ: correct, but the one stage of the composed pipeline
    // that cannot run at 100 TB.
    // stage 4: component survivors (min doc_id per near-dup cluster);
    // the CC loop runs on PAIRED REPS only — members and singleton reps
    // never enter the iteration (componentLabels scaladoc; r4 verdict
    // item 1: the loop input was ~21% larger with all docs as nodes).
    val (tagged, repDocs) = tsContraction(s2.select(col("doc_id"), col("text")))
    val labels = componentLabels(tagged, lshVerifiedPairs(repDocs))
    s2.join(labels.where(col("doc_id") === col("label")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars", "quality_micro")
      .orderBy("doc_id")
  }

  /** llm_quality_score's exact integer formula as ONE reusable
    * projection: adds `quality_micro` to `docs` (which must carry
    * `text` and `n_chars`) and drops the intermediates. Shared by
    * llm_corpus_clean's gate and llm_cluster_best's survivor policy,
    * so "same formula as llm_quality_score" is structural rather than
    * copy-paste (the r4 review's signBuckets lesson). */
  private[graft] def withQualityMicro(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn("n_stop",
        expr("size(filter(toks, x -> x in ('the','a','of','to','and')))").cast("bigint"))
      .withColumn("n_short", expr("size(filter(toks, x -> length(x) <= 2))").cast("bigint"))
      .withColumn("quality_micro", expr(
        "((2*n_stop*1000000 + n_tokens) div (2*n_tokens)" +
          " + 1000000 - (2*n_short*1000000 + n_tokens) div (2*n_tokens)" +
          " + least(n_chars, 500) * 2000) div 3"))
      .drop("toks", "n_tokens", "n_stop", "n_short")

  /** Quality-aware survivor selection — the keep policy a production
    * curation pipeline actually ships: within each near-dup cluster
    * keep the HIGHEST-quality member (doc_id only as the tie-break),
    * not the smallest id. min-id survivors (llm_dedup_clusters,
    * llm_corpus_clean) are the right oracle anchor but throw away the
    * best copy whenever a cleaner rewrite of a page arrives later with
    * a larger id. Component machinery is identical to
    * llm_dedup_clusters (contraction → LSH-verified rep pairs →
    * CC confined to paired reps → componentLabels); the policy itself
    * (r11) is ONE partial-aggregatable groupBy(label): the winner is
    * `min(struct(-quality_micro, doc_id))` — argmax-by-quality with
    * doc_id tie-break encoded as lexicographic struct MIN, so the
    * combiner runs map-side — and n_members is a count in the SAME
    * aggregate, so the whole policy is one exchange of 24-byte rows
    * with no window and no join-back. 100 TB note: near-dup labels are
    * exactly where crawl mega-clusters live (template/boilerplate
    * families with millions of members); the r10 form's
    * row_number-over-label window put the hottest label in ONE
    * unsplittable task, while this aggregate form combines it
    * map-side (CLUSTERBEST_r11/r13.json measured both forms on a
    * planted every-doc cluster). */
  val llmClusterBest: Q = Q(
    "llm_cluster_best",
    s"""WITH RECURSIVE
      |m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM m a JOIN m b ON a.doc_id < b.doc_id
      |  WHERE ${Llm.TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |     >= ${Llm.TauNumer} * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT)),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_members FROM reach GROUP BY a),
      |q AS (SELECT doc_id,
      |  ((2*n_stop*1000000 + n_tokens) // (2*n_tokens)
      |    + 1000000 - (2*n_short*1000000 + n_tokens) // (2*n_tokens)
      |    + least(n_chars, 500) * 2000) // 3 AS quality_micro
      |  FROM (SELECT doc_id, n_chars,
      |      CAST(len(toks) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(toks, x -> x IN ('the','a','of','to','and'))) AS BIGINT) AS n_stop,
      |      CAST(len(list_filter(toks, x -> length(x) <= 2)) AS BIGINT) AS n_short
      |    FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents))),
      |ranked AS (SELECT comp.doc_id, comp.cluster_id, comp.n_members, q.quality_micro,
      |    ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
      |      ORDER BY q.quality_micro DESC, comp.doc_id) AS rn
      |  FROM comp JOIN q USING (doc_id))
      |SELECT doc_id, cluster_id, n_members, quality_micro
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    // r14: spread once, both consumers (the contraction's tokenize and
    // the quality formula) inherit the parallel scan
    val docs = Q.spreadScan(
      documents(s, dir).select("doc_id", "n_chars", "text"), col("doc_id"))
    val (tagged, repDocs) = tsContraction(docs)
    val labels = componentLabels(tagged, lshVerifiedPairs(repDocs))
    val scored = withQualityMicro(docs).select(col("doc_id"), col("quality_micro"))
    // the r11 survivor election: per label, winner =
    // min(struct(-quality_micro, doc_id)) (argmax quality, min-doc_id
    // tie-break) and n_members = count(*), both in ONE groupBy
    labels.join(scored, "doc_id")
      .groupBy(col("label"))
      .agg(
        min(struct((-col("quality_micro")).as("nq"), col("doc_id").as("doc_id"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("w.doc_id").as("doc_id"), col("label").as("cluster_id"),
        col("n_members"), (-col("w.nq")).as("quality_micro"))
      .orderBy("doc_id")
  }

  /** Incremental shard-vs-corpus dedup — the batch form of the ingest
    * question "which of these NEW documents are genuinely new?". The
    * shard (doc_id % 10 = 0, a deterministic 10% "new batch" on the
    * fixture) probes the LSH band index built over the EXISTING corpus
    * (the other 90%); candidates are exact-verified at τ and matched
    * shard ids anti-joined away. Unlike stream_near_dup/nearDupAgainst
    * there is deliberately NO ref < probe ordering: a shard doc is a
    * duplicate if ANY corpus doc passes τ, in either id direction.
    *
    * Shapes: the corpus contracts to equal-ts reps first —
    * J(probe, member) = J(probe, rep), so match-EXISTENCE against reps
    * is exactly match-existence against the corpus — and the probe
    * side carries its sorted token set through the band explode, so
    * the plan's only joins are the (band, bh) equi-probe (Catalyst
    * broadcasts the index at bench scale by stats; at 100 TB it is a
    * key-partitioned shuffle, which is the right shape) and the
    * verifySide-gated ref-set lookup. 100 TB: the index build is one
    * linear pass over the corpus amortized across every shard ingested
    * against it, and per-shard cost scales with the SHARD — the
    * whole point of incremental dedup. Recall caveat shared with every
    * LSH-path oracle row (llm_minhash_lsh scaladoc): banding misses a
    * true pair at exactly τ with p ≈ 1.3%; on the deterministic
    * fixtures recall is 1.0 and the row is green. */
  val llmDedupIncremental: Q = Q(
    "llm_dedup_incremental",
    s"""WITH m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents),
      |shard AS (SELECT * FROM m WHERE doc_id % 10 = 0),
      |corpus AS (SELECT * FROM m WHERE doc_id % 10 <> 0),
      |matched AS (SELECT DISTINCT s.doc_id FROM shard s JOIN corpus c
      |  ON ${Llm.TauDenom} * CAST(len(list_intersect(s.ts, c.ts)) AS BIGINT)
      |   >= ${Llm.TauNumer} * CAST(len(s.ts) + len(c.ts) - len(list_intersect(s.ts, c.ts)) AS BIGINT))
      |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
      |JOIN shard s ON d.doc_id = s.doc_id
      |WHERE NOT EXISTS (SELECT 1 FROM matched x WHERE x.doc_id = d.doc_id)
      |ORDER BY d.doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = documents(s, dir)
    val shard = docs.where(col("doc_id") % 10 === 0)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    novelAgainst(shard, buildNearDupIndex(corpus))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** A persisted near-dup ingest index over a corpus — the library
    * surface behind llm_dedup_incremental, factored out because a REAL
    * ingest pipeline builds this ONCE and probes it with every arriving
    * shard; an API that rebuilt the index per shard would throw the
    * amortization away. `refSets` is the contracted corpus's sorted
    * token sets (one row per equal-ts rep — J(probe, member) =
    * J(probe, rep), so match-existence against reps ⟺ against the
    * corpus); `bands` is its MinHash (band, bh) index, ~4 longs per
    * rep. Both frames are `Q.cached`: inside a withCached scope (the
    * registered query) they release with the query; in a long-lived
    * session they are plain persist()s the caller owns — exactly the
    * StreamOps static-index contract, and this index IS valid as the
    * static side of stream ingest too. */
  final case class NearDupIndex private[graft] (
      refSets: org.apache.spark.sql.DataFrame,
      bands: org.apache.spark.sql.DataFrame,
      members: org.apache.spark.sql.DataFrame) {

    /** Persist the index to `path` (refsets + bands + members parquet) —
      * the missing piece of a REAL ingest pipeline (r6 verdict item 4):
      * the index is built once per corpus version, persisted, and every
      * shard job RELOADS it instead of re-scanning the corpus. Plain
      * parquet by choice: the probe's (band, bh) join keys re-shuffle
      * per verifySide mode anyway, and bucketBy would force the
      * saveAsTable/metastore dependency on what is otherwise a pure
      * path-based artifact. At 100 TB the write is one linear pass of
      * ~4 longs + one token array per contracted rep (plus one id pair
      * per corpus doc for `members`) — a small fraction of the corpus
      * it summarizes. */
    def write(path: String): Unit = {
      refSets.write.mode("overwrite").parquet(s"$path/refsets.parquet")
      bands.write.mode("overwrite").parquet(s"$path/bands.parquet")
      members.write.mode("overwrite").parquet(s"$path/members.parquet")
    }

    /** Release all three cached frames — the long-lived-session
      * counterpart of the withCached scope (caller-owned persists). */
    def unpersist(): Unit = {
      refSets.unpersist(); bands.unpersist(); members.unpersist()
    }
  }

  object NearDupIndex {
    /** Reload a persisted index. The frames are `Q.cached` with the
      * same lifecycle contract as buildNearDupIndex: scoped inside a
      * withCached query, caller-owned persists in a long-lived session.
      * Probe-after-reload ≡ probe-in-session is pinned in LlmSpec. */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): NearDupIndex =
      NearDupIndex(
        Q.cached(spark.read.parquet(s"$path/refsets.parquet")),
        Q.cached(spark.read.parquet(s"$path/bands.parquet")),
        Q.cached(spark.read.parquet(s"$path/members.parquet")))
  }

  def buildNearDupIndex(
      corpus: org.apache.spark.sql.DataFrame): NearDupIndex = {
    val (tagged, corpusReps) = tsContraction(corpus)
    // same one-tokenization shape as nearDupAgainst: the sorted verify
    // array feeds the signature, one persisted frame derives both the
    // band index and the ref sets
    val refSets = Q.cached(corpusReps
      .select(col("doc_id").as("ref_id"),
        expr("array_sort(array_distinct(split(text, ' ')))").as("ts_b")))
    val bands = Q.cached(refSets
      .withColumn("mhs", GraftFunctions.expr("minhash32(ts_b)"))
      .select(col("ref_id"), posexplode(expr(minhashBandExpr)).as(Seq("band", "bh"))))
    // (doc_id -> rep) for every corpus doc: probing never reads this —
    // it exists so DELETION can tell when a rep's equal-ts group is
    // empty (r7 verdict item 7). Ids only, ~16 bytes per corpus doc.
    val members = Q.cached(tagged.select(col("doc_id"), col("rep").as("ref_id")))
    NearDupIndex(refSets, bands, members)
  }

  /** Remove `removed` docs (any frame whose FIRST column is the doc id)
    * from a near-dup ingest index — the curation-loop operation a real
    * pipeline runs when docs are retracted (takedowns, license changes,
    * quality re-audits). REWRITE semantics, not tombstones: the
    * returned index's frames physically exclude the removed docs'
    * contribution, so probe cost never carries dead weight and a
    * subsequent `write` persists the compacted artifact. The group
    * subtlety this exists for: a rep row must survive as long as ANY
    * member of its equal-ts group survives (J(probe, member) =
    * J(probe, rep) — match-existence is against the group, not the rep
    * id), and must disappear exactly when the group empties. Hence:
    * members anti-join removed → groups with live members → semi-join
    * both probe frames. Probe-after-delete ≡ probe-of-rebuilt-on-
    * remaining is pinned in LlmSpec (the rebuilt index may pick
    * different rep IDS for the same token sets — ids never leave
    * matchedAgainstIndex, so the probe surfaces are identical). Cost:
    * one anti-join on doc_id + two semi-joins on ref_id — all id-keyed,
    * no text or token arrays move. */
  def deleteFromNearDupIndex(index: NearDupIndex,
      removed: org.apache.spark.sql.DataFrame): NearDupIndex = {
    val rm = removed.select(col(removed.columns.head).as("doc_id"))
    val members = Q.cached(index.members.join(rm, Seq("doc_id"), "left_anti"))
    val live = members.select(col("ref_id")).distinct()
    NearDupIndex(
      Q.cached(index.refSets.join(live, Seq("ref_id"), "left_semi")),
      Q.cached(index.bands.join(live, Seq("ref_id"), "left_semi")),
      members)
  }

  /** Distinct ids of `shard` docs (a frame with doc_id + text) that
    * have at least one verified τ near-dup in the indexed corpus —
    * in EITHER id direction (no ref < probe session ordering). */
  def matchedAgainstIndex(shard: org.apache.spark.sql.DataFrame,
      index: NearDupIndex): org.apache.spark.sql.DataFrame = {
    val probes = shard
      .select(col("doc_id"), expr("array_sort(array_distinct(split(text, ' ')))").as("ts_a"))
      .withColumn("mhs", GraftFunctions.expr("minhash32(ts_a)"))
      .select(col("doc_id"), col("ts_a"),
        posexplode(expr(minhashBandExpr)).as(Seq("band", "bh")))
    // no pre-verify distinct (r3 item 7 shape): a probe pair colliding
    // in k ≤ 4 bands is re-verified k times for a few ns each; the
    // distinct runs over matched SHARD IDS only — bounded by the shard
    Llm.verifyJaccardPairs(probes
        .join(index.bands, Seq("band", "bh"))
        .join(verifySide(index.refSets), "ref_id"))
      .select(col("doc_id")).distinct()
  }

  /** `shard` rows (all columns) with NO verified τ near-dup in the
    * indexed corpus — the novelty filter of an ingest pipeline. */
  def novelAgainst(shard: org.apache.spark.sql.DataFrame,
      index: NearDupIndex): org.apache.spark.sql.DataFrame =
    shard.join(matchedAgainstIndex(shard, index), Seq("doc_id"), "left_anti")

  /** SemDeDup-style semantic dedup core over a (vec_id, e, n2)
    * scaled-embedding frame: cluster-confine the candidate pairs to
    * k-means lists, exact-verify cosine ≥ τ inside each list, drop the
    * higher id of every verified pair. Clustering = deterministic seed
    * (vec_id mod nlist) + ONE k-means refinement (one broadcast-assign
    * + one (list, pos) aggregate — llm_ann_ivf's machinery, shared via
    * Llm.trainIvfCentroids/nearestLists); every
    * vector is assigned to its TWO nearest lists, the multiprobe
    * analog that recovers pairs straddling a list boundary. Candidate
    * cost is Σ c_i² over list sizes instead of N² — the lists are the
    * shuffle key at 100 TB, exactly like the IVF index. A pair
    * co-resident in both shared lists is exact-scored ≤ 4× map-side;
    * the dedup exchange (distinct) runs over true pairs only — the
    * same no-pre-verify-distinct contract as every LSH path here.
    * Returns (vec_id, kept). Precision is 1 by construction (every
    * drop is exact-verified); recall vs the all-pairs exact drop set
    * is the property LlmSpec asserts on a synthetic clustered corpus,
    * and — since r7 — the property the driver row itself exercises
    * through the synthetic twin slice (llmSemanticDedup scaladoc). */
  private[graft] def semanticDedupFlags(
      emb: org.apache.spark.sql.DataFrame,
      nlist: Int = 10): org.apache.spark.sql.DataFrame = {
    val s = emb.sparkSession
    val embC = Q.cached(emb.select(col("vec_id"), col("e"), col("n2")))
    // the quantizer is the ANN index's (r7: the shared trainer
    // Llm.trainIvfCentroids over the already-cached frame — not
    // buildAnnIvfIndex, which would re-cache the embeddings and
    // register a discarded 1-nearest assignment; r7 review); only the
    // ASSIGNMENT differs: 2-nearest multi-assign, the multiprobe
    // analog that recovers pairs straddling a list boundary
    val cents = Llm.trainIvfCentroids(embC, nlist, iters = 1)
    val assigned = Q.cached(Llm.nearestLists(embC, cents, 2)
      .select(col("vec_id"), col("c_label").as("list_id"), col("e"), col("n2")))
    val dropped = assigned.as("x")
      .join(assigned.as("y"),
        col("x.list_id") === col("y.list_id") && col("x.vec_id") < col("y.vec_id"))
      .where(GraftFunctions.expr("cast(dot_long(x.e, y.e) as double)")
        >= lit(0.95) * sqrt(col("x.n2").cast("double")) * sqrt(col("y.n2").cast("double")))
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    embC.select("vec_id")
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), (!coalesce(col("hit"), lit(false))).as("kept"))
  }

  /** Semantic dedup over the fixture embeddings — the third rung of the
    * curation ladder (exact → fuzzy → semantic): keep each vector with
    * no cluster-confined cosine-0.95 duplicate of lower id. Oracle is
    * the exact all-pairs NOT-EXISTS spelling — on data where cluster
    * confinement loses a pair the two would diverge, so confinement
    * recall is genuinely gated, not assumed.
    *
    * Since r7 the input carries the synthetic twin slice (cosineOracle
    * scaladoc; twins inherit their base's label): the driver row now
    * hash-covers 50 real drops — each twin must be found through
    * k-means confinement (twin ≈ base ⇒ identical 2-nearest lists;
    * twin seed list (v+1000000) % nlist = v % nlist, so they even seed
    * together), exact-verified, and flagged kept=false — where the raw
    * fixture exercised only the all-kept path (r6 verdict item 1).
    * Deeper recall/precision properties stay in LlmSpec synthetics. */
  val llmSemanticDedup: Q = Q(
    "llm_semantic_dedup",
    """WITH s0 AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS e
      |  FROM embeddings),
      |s AS (SELECT vec_id, label, e FROM s0
      |      UNION ALL
      |      SELECT vec_id + 1000000, label, list_concat([e[1] + 1], e[2:len(e)])
      |      FROM s0 WHERE vec_id < 50),
      |n AS (SELECT vec_id, label, e,
      |    CAST(list_sum(list_transform(list_zip(e, e), p -> p[1] * p[2])) AS BIGINT) AS n2
      |  FROM s),
      |d AS (SELECT DISTINCT b.vec_id
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE CAST(CAST(list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
      |     >= 0.95 * sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
      |SELECT n.vec_id, n.label, (d.vec_id IS NULL) AS kept
      |FROM n LEFT JOIN d ON n.vec_id = d.vec_id
      |ORDER BY n.vec_id""".stripMargin
  ) { (s, dir) =>
    val emb = Q.cached(embWithTwins(s, dir, None))
    semanticDedupFlags(emb)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select("vec_id", "label", "kept")
      .orderBy("vec_id")
  }

  /** LSH-vs-exact evaluation as a REGISTERED row (r8): run BOTH pair
    * engines over the bounded doc prefix and confusion-count them —
    * tp (both agree), fp (LSH-only), fn (exact-only). On these banding
    * parameters precision is 1 by construction (every candidate is
    * exact-verified) and recall is 1 by the pigeonhole bound, so the
    * oracle states the STRONG claim — fp = fn = 0, tp = the exact pair
    * count — and the driver hash now fails loudly if either engine
    * ever drifts from the other (the equality previously lived only in
    * LlmSpec, invisible to the correctness gate). This is also the
    * evaluation-harness shape a production pipeline runs on a GOLD
    * slice after every parameter change. */
  val llmLshEval: Q = Q(
    "llm_lsh_eval",
    s"""WITH m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents WHERE doc_id < ${Llm.SampleBound}),
      |e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM m a JOIN m b ON a.doc_id < b.doc_id
      |  WHERE ${Llm.TauDenom} * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |     >= ${Llm.TauNumer} * CAST(len(a.ts) + len(b.ts)
      |        - len(list_intersect(a.ts, b.ts)) AS BIGINT))
      |SELECT CAST(count(*) AS BIGINT) AS tp, CAST(0 AS BIGINT) AS fp,
      |  CAST(0 AS BIGINT) AS fn
      |FROM e""".stripMargin
  ) { (s, dir) =>
    val docs = Q.cached(documents(s, dir)
      .where(col("doc_id") < Llm.SampleBound).select("doc_id", "text"))
    val exact = Llm.jaccardPairs(docs).select("doc_a", "doc_b")
      .withColumn("in_exact", lit(1))
    val lsh = lshVerifiedPairs(docs).withColumn("in_lsh", lit(1))
    // coalesce: a global sum over ZERO joined rows is NULL, while the
    // oracle's count(*)/literal row is (0,0,0) — a pairless prefix
    // must agree (r8 review)
    exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("in_exact").isNotNull && col("in_lsh").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(col("in_exact").isNull, 1L).otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(col("in_lsh").isNull, 1L).otherwise(0L)), lit(0L)).as("fn"))
  }

  def all: Seq[Q] = Seq(llmSimhashDedup, llmSimhashBanded, llmNgramJaccard,
    llmCosineNearDup, llmCosineLsh, llmMinhashLsh, llmDedupClusters, llmCorpusClean,
    llmClusterBest, llmDedupIncremental, llmSemanticDedup, llmLshEval)
}
