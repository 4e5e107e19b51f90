package graft

import org.apache.spark.sql.SparkSession

/** The one local session the dev mains and the test suites run on, and
  * the one place graft installs anything into a session. */
object GraftSession {

  /** A `local[cores]` session (or the already-active one) with graft
    * installed ([[ensure]]) and:
    *  - `cores` shuffle partitions;
    *  - session time zone UTC: `Tables.events` fails loud in any other
    *    zone, because its TIMESTAMP_NTZ normalization is zone-sensitive;
    *  - a 4096-entry whole-stage-codegen class cache. A session cycling
    *    through many DISTINCT plans (the 186-key registry, any
    *    long-lived analytics driver) thrashes the 100-entry default:
    *    every pass re-runs Janino on every codegen unit, ~0.1-0.2 s of
    *    driver compile per query. 4096 holds the registry's ~10 units
    *    per query with headroom; measured −30% on the 142 sub-second
    *    keys in an interleaved A/B (plans/r15/ab_codegen_cache_32c.txt).
    *    It is a static conf, so it only takes effect on the first
    *    session of the JVM;
    *  - the UI off and log level WARN. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure(spark)
    spark
  }

  /** Install graft into `spark`, idempotently: validate every
    * [[GraftConf]] key first, then register the native functions for SQL
    * text and add the as-of join strategy and the catalog's V1-bridge
    * broadcast rule, each only if absent. Operators need none of it. */
  def ensure(spark: SparkSession): Unit = {
    GraftConf.all.foreach(_.get(spark))
    graft.functions.GraftFunctions.register(spark)
    val em = spark.experimental
    if (!em.extraStrategies.contains(plans.AsOfJoinStrategy))
      em.extraStrategies = em.extraStrategies :+ plans.AsOfJoinStrategy
    if (!em.extraOptimizations.contains(catalog.GraftV1StatsBroadcast))
      em.extraOptimizations = em.extraOptimizations :+ catalog.GraftV1StatsBroadcast
  }
}
