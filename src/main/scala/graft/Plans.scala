package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump formatted physical plans for the scale-claim evidence
  * in PLANS.md (`runMain graft.Plans <sfDir> <outFile>`). */
object Plans {

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private val idPatterns: Seq[(Regex, Int => String)] = Seq(
    ("""#(\d+)""".r, n => s"#$n"),
    ("""RDD\[(\d+)\]""".r, n => s"RDD[$n]"),
    ("""plan_id=(\d+)""".r, n => s"plan_id=$n"),
    ("""(?<=[A-Za-z$])@([0-9a-f]{1,8})\b""".r, n => s"@$n"),
    // a uuid, or the prefix of one that a truncated location keeps
    ("""data/([0-9a-f]{8}-[0-9a-f-]*)""".r, n => s"data/dir$n"),
    (s"(part-\\d+-\\d+-$uuid\\.parquet)".r, n => s"part$n.parquet"),
    ("""(plans_[a-z]+\d+)""".r, n => s"plans_tmp$n"))

  /** Expression ids, RDD ids and exchange plan ids are JVM-global
    * counters, so a section's raw dump moves whenever an earlier section
    * creates more or fewer of them; the `Class@hash` identity of an
    * aggregator object in a plan moves with every run; a table's
    * `data/<uuid>` snapshot dirs and its `part-<pid>-<taskAttempt>-<uuid>`
    * file names are fresh on every commit (the task attempt id is a
    * JVM-global counter too), and so are the `plans_*` temp catalog
    * roots the last sections create. Renumber each kind in order of first
    * appearance within the section, as Spark's `PlanStabilitySuite`
    * does: distinct ids stay distinct, and a section changes only when
    * its plan does. */
  private[graft] def normalizeIds(plan: String): String =
    idPatterns.foldLeft(plan) { case (text, (re, render)) =>
      val ids = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(text,
        m => render(ids.getOrElseUpdate(m.group(1), ids.size + 1)))
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val keys = Seq("scan_filter_pushdown", "join_broadcast_dims",
      "sort_multikey_limit", "agg_pricing_summary", "llm_similarity_topk",
      "llm_jaccard_near_dup", "llm_minhash_lsh", "llm_simhash_banded",
      "llm_ann_lsh", "llm_ann_ivf", "llm_decontaminate", "llm_pack_sequences",
      "join_star_schema", "join_salted_skew", "agg_heavy_hitters",
      "llm_bloom_decontaminate", "llm_chunk_dedup", "llm_pii_redact",
      "join_priority_topk", "generate_resample", "llm_tfidf_vectors",
      "agg_histogram", "llm_embedding_quantize", "llm_dedup_incremental",
      "agg_median", "llm_corpus_shuffle", "llm_source_mix", "llm_split_assign",
      "join_bucketed_colocated", "layout_zorder", "llm_line_dedup",
      "graph_pagerank", "merge_upsert", "ts_interpolate",
      "llm_ann_pq", "sql_surface_window", "sql_surface_join",
      "merge_upsert_txn", "compact_zorder", "llm_pipeline_end2end",
      "txn_skipping", "txn_changes", "txn_incremental_agg", "txn_delete",
      "txn_catalog", "llm_dedup_windowed", "txn_skipping_tombstone",
      "txn_changes_evolve", "txn_upsert_incremental", "txn_restore",
      "txn_clone", "txn_bloom_point", "txn_constraints", "txn_partitioned",
      "txn_lifecycle", "sql_surface_pivot", "sql_surface_exists",
      "sql_surface_scalar_subq", "llm_lm_score",
      "txn_sql_catalog", "llm_bpe_train", "llm_bpe_apply",
      "txn_partition_skipping", "txn_maintain", "llm_cluster_best",
      "txn_sql_merge", "txn_sql_skipping", "txn_sql_partitioned",
      "txn_sql_evolve", "txn_sql_upsert",
      "txn_sql_partitioned2", "txn_sql_upsert_composite",
      "txn_sql_join_prune", "txn_sql_widen")
    val sb = new StringBuilder
    def section(title: String, df: DataFrame): Unit = {
      sb.append(s"==== $title ====\n")
      sb.append(normalizeIds(df.queryExecution.explainString(FormattedMode)))
      sb.append("\n")
    }
    keys.foreach(k => section(k, SparkEntry.queries(k)(spark, sfDir)))
    // llm_corpus_clean's final plan hides its stages behind checkpointed
    // RDDs (the component loop is iterative), so dump the near-dup pair
    // stage directly — the r3 VERDICT golden is that it contains NO
    // BroadcastNestedLoopJoin (LSH candidates + exact verify instead).
    locally {
      import org.apache.spark.sql.functions.col
      val stage3 = graft.ops.DedupOps.contractedNearDupEdges(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
        graft.ops.DedupOps.lshVerifiedPairs)
      section("corpus_clean_near_dup_stage (contraction + LSH)", stage3)
    }
    // Both shapes of the verify-join scale switch (r6): the SAME
    // lshVerifiedPairs plan under the session's broadcast threshold
    // (bench scale: the build side broadcasts) and with
    // spark.sql.autoBroadcastJoinThreshold=-1 (the 100 TB shape:
    // co-partitioned shuffle hash join, no corpus-derived broadcast).
    locally {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prior = spark.conf.getAll.get(key) // explicitly set value only
      try Seq(None, Some("-1")).foreach { thr =>
        thr.foreach(spark.conf.set(key, _))
        section(s"lsh_verified_pairs (autoBroadcastJoinThreshold=${spark.conf.get(key)})",
          graft.ops.DedupOps.lshVerifiedPairs(docs))
      } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    // r13 golden (r12 verdict item 2): a SQL join against a TOMBSTONED
    // graft table must plan a BroadcastHashJoin STATICALLY — the V1
    // bridge reports manifest bytes and GraftV1StatsBroadcast turns
    // them into the hint V1ScanWrapper otherwise swallows; r12 planned
    // a full shuffle SMJ here.
    locally {
      val cat = java.nio.file.Files.createTempDirectory("plans_cat").toString
      spark.conf.set("spark.sql.catalog.plans_g",
        classOf[graft.catalog.GraftSqlCatalog].getName)
      spark.conf.set("spark.sql.catalog.plans_g.root", cat)
      spark.sql("CREATE TABLE plans_g.dim (k BIGINT, name STRING)")
      spark.sql(
        "INSERT INTO plans_g.dim SELECT id, concat('n', id) FROM range(0, 25)")
      spark.sql("DELETE FROM plans_g.dim WHERE k = 3") // tombstones the chain
      spark.sql("CREATE TABLE plans_g.fact (k BIGINT, v BIGINT)")
      spark.sql(
        "INSERT INTO plans_g.fact SELECT id % 25, id FROM range(0, 20000)")
      val j = spark.sql("SELECT f.k, d.name, f.v FROM plans_g.fact f " +
        "JOIN plans_g.dim d ON f.k = d.k")
      section("v1_stats_broadcast (tombstoned dim x fact, r13)", j)
      spark.conf.unset("spark.sql.catalog.plans_g")
      spark.conf.unset("spark.sql.catalog.plans_g.root")
    }
    // r13 golden: a join keyed on a declared-index fact column plans
    // DYNAMIC PRUNING into the native scan — the BatchScan carries a
    // RuntimeFilters entry (dynamicpruning subquery over the dim's
    // surviving keys), which GraftRuntimeFilterableScan turns into a
    // sidecar file-skipping decision at execution.
    locally {
      val cat = java.nio.file.Files.createTempDirectory("plans_dpp").toString
      spark.conf.set("spark.sql.catalog.plans_d",
        classOf[graft.catalog.GraftSqlCatalog].getName)
      spark.conf.set("spark.sql.catalog.plans_d.root", cat)
      spark.sql("CREATE TABLE plans_d.fact (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('graft.stats' = 'k', 'graft.bloom' = 'k')")
      spark.sql(
        "INSERT INTO plans_d.fact SELECT id % 1000, id FROM range(0, 20000)")
      spark.sql("CREATE TABLE plans_d.dim (k BIGINT, tag STRING)")
      spark.sql("INSERT INTO plans_d.dim SELECT id, " +
        "CASE WHEN id % 7 = 0 THEN 'x' ELSE 'y' END FROM range(0, 1000)")
      val j = spark.sql("SELECT f.k, f.v FROM plans_d.fact f " +
        "JOIN plans_d.dim d ON f.k = d.k WHERE d.tag = 'x'")
      section("runtime_filter_scan (indexed fact x selective dim, r13)", j)
      spark.conf.unset("spark.sql.catalog.plans_d")
      spark.conf.unset("spark.sql.catalog.plans_d.root")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
