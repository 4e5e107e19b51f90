package graft

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` session key graft reads, each with its default
  * and its parser (README "Tuning confs" documents them). A malformed
  * value fails at [[GraftSession.ensure]], and again where an operator
  * reads the key, so a value set after setup never passes silently. */
object GraftConf {

  /** One key; a value `parse` rejects fails as `<name> <expects>, got '<raw>'`. */
  final class Key[T] private[GraftConf] (val name: String, default: String,
      expects: String, parse: String => Option[T]) {
    def get(spark: SparkSession): T = {
      val raw = spark.conf.get(name, default)
      parse(raw).getOrElse(throw new IllegalArgumentException(s"$name $expects, got '$raw'"))
    }
  }

  private val whole = "must be a whole number"

  val ccEdgeParts = new Key("spark.graft.cc.edgeParts", "4",
    s"$whole of partitions", _.toIntOption)
  val maxCollectedCodebookBytes = new Key("spark.graft.ann.maxCollectedCodebookBytes",
    "134217728", s"$whole of bytes", _.toLongOption)
  val spreadTargetBytesPerTask = new Key("spark.graft.spread.targetBytesPerTask",
    "49152", s"$whole of bytes", _.toLongOption)
  val streamStatePartitions = new Key("spark.graft.stream.statePartitions", "8",
    "must be a positive whole number of partitions", _.toIntOption.filter(_ > 0))
  val maintainMaxFiles = new Key("spark.graft.txn.maintain.maxFiles", "64", whole, _.toLongOption)
  val maintainMaxTombstones = new Key("spark.graft.txn.maintain.maxTombstones", "8",
    whole, _.toLongOption)
  val maintainTargetBytes = new Key("spark.graft.txn.maintain.targetBytes",
    "134217728", whole, _.toLongOption)
  /** True for `clustered`, false for `none`. */
  val writeDistributionClustered = new Key("spark.graft.write.distribution",
    "clustered", "must be 'clustered' or 'none'",
    Map("clustered" -> true, "none" -> false).get)

  val all: Seq[Key[_]] = Seq(ccEdgeParts, maxCollectedCodebookBytes,
    spreadTargetBytesPerTask, streamStatePartitions, maintainMaxFiles,
    maintainMaxTombstones, maintainTargetBytes, writeDistributionClustered)
}
