package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** §2 extension (r8) — iterative GRAPH analytics over the similarity
  * graph. `llm_dedup_clusters` (connected components) answers "which
  * docs are the same"; PageRank answers "which doc is the most central
  * exemplar of its neighborhood" — the standard centrality signal a
  * curation pipeline uses to pick canonical documents and to weight
  * crawl frontiers. All-integer damping arithmetic (micro-units,
  * engine-identical floor division), fixed iteration count, so the
  * driver hash pins every rank exactly.
  *
  * Scale shape: each iteration is ONE join of the rank frame to the
  * edge list (partitioned by src) + ONE aggregate by dst — the classic
  * distributed PageRank step; nothing driver-side, no per-iteration
  * growth (the plan is re-derived from cached inputs each round). The
  * registered row runs on the fixed-count doc_id < SampleBound prefix
  * with an all-pairs edge build (O(K²) at any corpus size, the r7
  * sampling rule); the 100 TB edge build is the LSH pair machinery
  * (llm_minhash_lsh), which this op consumes unchanged via
  * [[pageRank]]. */
object Graph {

  /** Damping in micro-units: pr' = 0.15 + 0.85 * Σ pr(u)/deg(u). */
  private val BaseMicro = 150000L

  /** PageRank over a directed edge list (`src`, `dst`), ranks in
    * micro-units, isolated vertices held at the dangling base rank.
    * `edges` must already contain both directions for an undirected
    * graph. Cache lifecycle: the vertex/edge/degree frames are
    * `Q.cached` (each of the `iters` rounds re-reads all three) under
    * the standard caller-owned contract — run inside `Q.withCached`
    * for one-shot use (every registered query does), or manage the
    * persists yourself in a long-lived session (the NearDupIndex
    * rule; see Q.scala). */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val v = Q.cached(vertices.select(col("id")))
    val deg = Q.cached(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val e = Q.cached(edges.join(deg, "src"))
    var pr = v.select(col("id"), lit(1000000L).as("pr"))
    (1 to iters).foreach { _ =>
      val contribs = e.join(pr, e("src") === pr("id"))
        .select(col("dst").as("id"), expr("pr div deg").as("c"))
        .groupBy("id").agg(sum("c").as("csum"))
      pr = v.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(BaseMicro) + expr("850 * coalesce(csum, 0) div 1000")).as("pr"))
    }
    pr
  }

  /** The τ=0.7 token-set-Jaccard similarity graph on the bounded doc
    * prefix, shared by [[graphPagerank]] and [[graphTriangles]] (one
    * definition on each surface — r9 review: a τ or tokenizer change
    * must move both consumers together). SQL side: the `m` (tokenized
    * prefix) and `e0` (src < dst half-edges) CTEs. */
  private val SimGraphSql: String =
    s"""m AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      |           FROM documents WHERE doc_id < ${Llm.SampleBound}),
      |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM m a JOIN m b ON a.doc_id < b.doc_id
      |  WHERE 10 * CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT)
      |     >= 7 * CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT))""".stripMargin

  /** Spark side of [[SimGraphSql]]: (bounded vertex frame with token
    * sets, src < dst half-edge frame). The vertex frame is Q.cached —
    * both consumers iterate or join it repeatedly. */
  private def simGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val m = Q.cached(documents(s, dir)
      .where(col("doc_id") < Llm.SampleBound)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts")))
    val a = m.select(col("doc_id").as("src"), col("ts").as("ats"))
    val b = m.select(col("doc_id").as("dst"), col("ts").as("bts"))
    val half = a.join(b, col("src") < col("dst"))
      .withColumn("ni", size(array_intersect(col("ats"), col("bts"))).cast("bigint"))
      .withColumn("nu", (size(col("ats")) + size(col("bts"))).cast("bigint") - col("ni"))
      .where(col("ni") * 10 >= col("nu") * 7)
      .select("src", "dst")
    (m, half)
  }

  /** PageRank over the τ=0.7 token-set-Jaccard similarity graph on the
    * bounded doc prefix. Lower τ than the near-dup rows (0.95) on
    * purpose: centrality is about the SIMILARITY NEIGHBORHOOD, not
    * about exact duplicates — at 0.95 the fixture graph is 33 isolated
    * edges, at 0.7 it is a real 1692-edge web. */
  val graphPagerank: Q = Q(
    "graph_pagerank",
    s"""WITH $SimGraphSql,
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |p0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS pr FROM m),
      |p1 AS (SELECT p.id, CAST(150000 + 850 * coalesce(sum(q.pr // d.deg), 0) // 1000 AS BIGINT) AS pr
      |  FROM p0 p
      |  LEFT JOIN e ON e.dst = p.id
      |  LEFT JOIN p0 q ON q.id = e.src
      |  LEFT JOIN deg d ON d.src = e.src
      |  GROUP BY p.id),
      |p2 AS (SELECT p.id, CAST(150000 + 850 * coalesce(sum(q.pr // d.deg), 0) // 1000 AS BIGINT) AS pr
      |  FROM p1 p
      |  LEFT JOIN e ON e.dst = p.id
      |  LEFT JOIN p1 q ON q.id = e.src
      |  LEFT JOIN deg d ON d.src = e.src
      |  GROUP BY p.id),
      |p3 AS (SELECT p.id, CAST(150000 + 850 * coalesce(sum(q.pr // d.deg), 0) // 1000 AS BIGINT) AS pr
      |  FROM p2 p
      |  LEFT JOIN e ON e.dst = p.id
      |  LEFT JOIN p2 q ON q.id = e.src
      |  LEFT JOIN deg d ON d.src = e.src
      |  GROUP BY p.id)
      |SELECT id AS doc_id, pr AS pr_micro FROM p3 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val (m, half) = simGraph(s, dir)
    val edges = half.unionByName(half.select(col("dst").as("src"), col("src").as("dst")))
    pageRank(m.select(col("doc_id").as("id")), edges, iters = 3)
      .select(col("id").as("doc_id"), col("pr").as("pr_micro"))
      .orderBy("doc_id")
  }

  /** TRIANGLE COUNTING (r9) over the same τ=0.7 similarity graph —
    * the local-clustering signal (how interconnected is a doc's
    * neighborhood) that complements PageRank's centrality: a doc whose
    * neighbors all know each other sits inside a coherent near-dup
    * cluster; a high-degree doc with NO triangles is a hub stitching
    * unrelated regions (boilerplate contamination, template pages).
    *
    * The Spark build uses DEGREE-ORDERED ORIENTATION — each undirected
    * edge points from its (degree, id)-smaller endpoint to the larger,
    * every triangle is found exactly once from its lowest-ranked
    * vertex, and the wedge join's fan-out per vertex is bounded by its
    * ORIENTED out-degree, which is O(√m) on any graph — the standard
    * defense that makes distributed triangle counting survive skew: a
    * celebrity vertex of degree millions contributes almost no wedges
    * because nearly all its edges point INTO it. The oracle enumerates
    * a<b<c directly (id order) — a different orientation, the same
    * triangle set, so the per-vertex counts must agree exactly. */
  val graphTriangles: Q = Q(
    "graph_triangles",
    s"""WITH $SimGraphSql,
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e0 e1
      |  JOIN e0 e2 ON e2.src = e1.dst
      |  JOIN e0 e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |pv AS (SELECT a AS id FROM tri UNION ALL
      |       SELECT b FROM tri UNION ALL
      |       SELECT c FROM tri),
      |cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM pv GROUP BY id)
      |SELECT doc_id, coalesce(n_tri, 0) AS n_tri
      |FROM m LEFT JOIN cnt ON cnt.id = m.doc_id
      |ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val (m, half0) = simGraph(s, dir)
    val half = Q.cached(half0)
    m.select(col("doc_id"))
      .join(triangleCounts(half), col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** Per-vertex triangle counts (`id`, `n_tri`; vertices in no triangle
    * absent) over an undirected edge set given as `(src, dst)` with
    * src < dst, via degree-ordered orientation — see [[graphTriangles]].
    * Cache lifecycle: `Q.cached` intermediates under the standard
    * caller-owned contract (run inside Q.withCached for one-shot use). */
  def triangleCounts(half: DataFrame): DataFrame = {
    // undirected degree, then the (deg, id) total order that orients edges
    val deg = half.select(col("src").as("id"))
      .unionByName(half.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withRanks = half
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
    val oriented = Q.cached(withRanks.select(
      when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")),
        struct(col("src").as("u"), col("dst").as("v"),
          col("ddeg").as("vdeg")))
        .otherwise(struct(col("dst").as("u"), col("src").as("v"),
          col("sdeg").as("vdeg"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.vdeg").as("vdeg")))
    // wedges from each lowest-ranked vertex; close them against the
    // oriented edge set (v -> w in rank order by construction)
    val e1 = oriented.select(col("u"), col("v"), col("vdeg"))
    val e2 = oriented.select(col("u"), col("v").as("w"), col("vdeg").as("wdeg"))
    val wedges = e1.join(e2, Seq("u"))
      .where(struct(col("vdeg"), col("v")) < struct(col("wdeg"), col("w")))
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
  }

  /** The UNORIENTED wedge enumeration — GraphSpec's reference for
    * [[triangleCounts]], never a shipped path: wedges are enumerated from
    * EVERY vertex (each triangle found once per corner, which is
    * exactly its per-vertex incidence count), so a vertex of degree d
    * contributes d(d-1)/2 join rows — the celebrity vertex's d² blowup
    * the orientation exists to avoid. Output ≡ [[triangleCounts]]. */
  private[graft] def triangleCountsNaive(half: DataFrame): DataFrame = {
    val und = Q.cached(half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"))))
    val n1 = und.select(col("src").as("u"), col("dst").as("v"))
    val n2 = und.select(col("src").as("u"), col("dst").as("w"))
    n1.join(n2, Seq("u")).where(col("v") < col("w"))
      .join(half.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .groupBy(col("u").as("id")).agg(count(lit(1)).as("n_tri"))
  }

  def all: Seq[Q] = Seq(graphPagerank, graphTriangles)
}
