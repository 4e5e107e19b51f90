package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition-count invariance sweep (r7 verdict item 6): run every
  * registered query at the standard shuffle partitioning (32) and at a
  * prime count that divides nothing (7), and assert identical result
  * multisets. A cluster never reproduces local[32]'s partitioning, so
  * any query whose OUTPUT depends on partition layout — a window order
  * missing a tie-break, a shuffle-order-sensitive aggregate, a
  * contraction level that assumed a partition count — is a latent
  * wrong-results bug the driver's single-setting gate cannot see. This
  * sweep fails it before a cluster would.
  *
  * Fingerprint = (sum of per-row xxhash64 over the row's JSON, count):
  * order-INdependent (queries sort for the driver, but partition count
  * can legally reorder equal keys — content equality is the contract),
  * computed distributed (no driver collect). Both runs share one JVM
  * and session, so float→JSON formatting is identical; `conf.set` works
  * because shuffle.partitions is a runtime SQLConf read at plan time.
  *
  * Usage: `runMain graft.Invariance <sfDir> [keys...]`; writes
  * INVARIANCE_r13.json ({"key": true/false} per query + a summary).
  */
object Invariance {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only: Set[String] = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)

    def fingerprint(df: DataFrame): (String, Long) = {
      // decimal(38,0) sum: a plain long sum of 64-bit hashes overflows
      // under ANSI mode on any non-tiny result
      val r = df.toJSON
        .selectExpr("cast(xxhash64(value) as decimal(38,0)) AS h")
        .selectExpr("sum(h) AS s", "count(*) AS n").head()
      (if (r.isNullAt(0)) "0" else r.getDecimal(0).toPlainString, r.getLong(1))
    }

    def runAt(parts: String, fn: (SparkSession, String) => DataFrame): (String, Long) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try graft.ops.Q.withCached(fn(spark, sfDir))(fingerprint)
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", cpus)
        spark.catalog.clearCache()
      }
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        val outcome =
          try {
            val a = runAt(cpus, fn)
            val b = runAt("7", fn)
            if (a == b) "true"
            else { System.err.println(s"MISMATCH $name: x$cpus=$a x7=$b"); "false" }
          } catch { case e: Throwable =>
            System.err.println(s"ERROR $name: ${e.getMessage}"); "\"error\""
          }
        System.err.println(s"$name -> $outcome")
        name -> outcome
      }
    val nPass = results.count(_._2 == "true")
    val json = results.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val out = s"""{"partitions":["$cpus","7"],"sf":"$sfDir","pass":$nPass,""" +
      s""""total":${results.size},"queries":{$json}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("INVARIANCE_r13.json"), out.getBytes)
    println(out)
    spark.stop()
  }
}
