package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.ops.Q

/** graft installs itself into a session in one place,
  * `GraftSession.ensure`, and its operators need no install at all. */
class SessionInstallSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val nativeNames = graft.functions.GraftFunctions.all.map(_._1)

  /** The native function names `s`'s registry holds. */
  private def registered(s: SparkSession): Seq[String] =
    nativeNames.filter(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  test("operators bind graft's native functions without the session registry") {
    val registry = SparkEntry.registry.map(q => q.key -> q).toMap
    // every registry key whose operator names a native function: dot_long
    // (similarity top-k), simhash60, interleave16, minhash32 with
    // inter_count_sorted (the LSH verify), cm_estimate, bloom_contains
    val keys = Seq("llm_similarity_topk", "llm_simhash_dedup", "layout_zorder",
      "llm_minhash_lsh", "agg_count_min", "llm_bloom_decontaminate")
    val fresh = spark.newSession()
    assert(registered(fresh).isEmpty)
    def rows(s: SparkSession, key: String): Seq[String] =
      try Q.withCached(registry(key).build(s, dir))(
        _.collect().map(_.toString).toSeq.sorted)
      finally s.catalog.clearCache()
    keys.foreach { k =>
      val got = rows(fresh, k)
      assert(got.nonEmpty, k)
      assert(got == rows(spark, k), k)
    }
    assert(registered(fresh).isEmpty,
      "an operator wrote graft's functions into the caller's session")
  }

  test("ensure rejects a malformed value of every spark.graft key, naming " +
      "the key and the value, before it installs anything") {
    assert(GraftConf.all.map(_.name).distinct.size == 8)
    def rejected(key: String, value: String): Unit = {
      val s = spark.newSession()
      s.conf.set(key, value)
      val e = intercept[IllegalArgumentException](GraftSession.ensure(s))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"),
        e.getMessage)
      assert(registered(s).isEmpty, key)
      assert(s.experimental.extraStrategies.isEmpty, key)
    }
    GraftConf.all.foreach(k => rejected(k.name, "abc"))
    // the state partition count becomes the stream's shuffle width
    rejected(GraftConf.streamStatePartitions.name, "0")
  }

  test("ensure installs the functions, the as-of strategy and the " +
      "broadcast rule once") {
    val s = spark.newSession()
    GraftSession.ensure(s)
    GraftSession.ensure(s)
    assert(registered(s) == nativeNames)
    assert(s.experimental.extraStrategies == Seq(graft.plans.AsOfJoinStrategy))
    assert(s.experimental.extraOptimizations ==
      Seq(graft.catalog.GraftV1StatsBroadcast))
    assert(s.sql("SELECT dot_long(array(1L, 2L), array(3L, 4L))")
      .head().getLong(0) == 11L)
  }
}
