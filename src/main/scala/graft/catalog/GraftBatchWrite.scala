package graft.catalog

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.ops.{GraftCommitMessage, GraftParquetEncoder, GraftParquetWrite, GraftWriterFactory, Txn}

/** A SQL statement's distributed V2 write into a Txn table: every
  * executor task streams its partition STRAIGHT into parquet files
  * under a fresh `data/<uuid>` snapshot dir — which the Txn design
  * keeps INVISIBLE to every reader until the driver-side [[commit]]
  * publishes a manifest referencing it. That single rename is the
  * whole commit protocol, so the write is atomic and exactly-once
  * without any output-committer machinery — the same trick Delta and
  * Iceberg use (data files are inert until the log points at them).
  *
  * The tasks encode through the commit layers' one parquet write path
  * ([[graft.ops.GraftParquetWrite]]): rows flow as InternalRow from
  * whole-stage codegen into Spark's own parquet encoder
  * ([[graft.ops.GraftParquetEncoder]], its job configuration shipped as
  * one broadcast that [[commit]] and [[abort]] destroy), and the write
  * parallelism is the query's own partitioning. Programmatic
  * [[Txn]] commits encode through the same writers. Before sidecars and
  * publish, [[commit]] deletes every `part-*` file of the fresh dir
  * that no commit message names, so a failed or speculative attempt's
  * file never becomes visible.
  *
  * `mode` picks the manifest semantics at commit:
  *   - Append    — manifest-extension append ([[Txn.publishDirAppend]])
  *   - Replace   — full-snapshot publish ([[Txn.publishDirFull]]):
  *     INSERT OVERWRITE / TRUNCATE-backed writes AND the group-based
  *     row-level operations (UPDATE / MERGE INTO), whose incoming rows
  *     are the complete post-operation table contents. */
private[graft] object GraftBatchWrite {
  sealed trait Mode
  case object Append extends Mode
  case object Replace extends Mode
  /** Replace ONLY the partitions present in the written batch (r13,
    * `partitionOverwriteMode=dynamic`): one
    * `~touchedTuples@cols, newDir` manifest extension via
    * [[Txn.publishDynamicOverwrite]]. */
  case object DynamicOverwrite extends Mode
  /** Replace the partition subtree the STATEMENT names (r13,
    * `INSERT OVERWRITE t PARTITION (col=v, …)`): one
    * `~(v,…)@cols, newDir` extension via
    * [[Txn.publishPartitionReplace]]; an empty batch still clears the
    * named partition. */
  final case class ReplaceWhere(colVals: Seq[(String, Any)]) extends Mode
}

private[graft] class GraftBatchWrite(spark: SparkSession, root: String,
    schema: StructType, mode: GraftBatchWrite.Mode, opName: String,
    rowLevel: Boolean = false,
    pinnedBase: Option[Long] = None,
    partCol: Option[String] = None,
    statsCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    check: Option[(String, Expression)] = None)
  extends BatchWrite {

  private val dataRel = s"data/${UUID.randomUUID().toString}"
  // the partition spec is one column or a comma list (r13 multi-level)
  private val partCols: Seq[String] = partCol.toSeq.flatMap(Txn.partitionCols)

  /** The statement's encoder, made by [[createBatchWriterFactory]];
    * its broadcast job configuration lives until commit or abort. */
  private var encoder: Option[GraftParquetEncoder] = None
  private def releaseEncoder(): Unit = { encoder.foreach(_.destroy()); encoder = None }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try publish(messages) finally releaseEncoder()

  private def publish(messages: Array[WriterCommitMessage]): Unit = {
    // zero-row tasks report GraftNoRowsMessage and leave no file behind
    // (r11 advice): an INSERT INTO from an empty multi-partition source
    // must not publish a spurious version over a directory of empty
    // files — only tasks that actually wrote rows count
    val wroteFiles = messages.exists(_.isInstanceOf[GraftCommitMessage])
    GraftParquetWrite.keepCommitted(spark.sparkContext.hadoopConfiguration,
      s"$root/$dataRel", GraftParquetWrite.committedFiles(messages.toSeq))
    val meta = Txn.withPartitionCol(Map("op" -> opName), partCol)
    // declared-index tables (graft.stats / graft.bloom): sidecars land
    // on the fresh dir BEFORE the publish, so they are atomic with the
    // data — every SQL INSERT keeps the skipping index current (r12)
    if (wroteFiles && (statsCols.nonEmpty || bloomCols.nonEmpty))
      Txn.writeSidecars(spark, root, dataRel,
        statsCols.filterNot(partCols.contains), bloomCols.filterNot(partCols.contains))
    mode match {
      case GraftBatchWrite.ReplaceWhere(colVals) =>
        Txn.publishPartitionReplace(spark, root,
          if (wroteFiles) Some(dataRel) else None, colVals,
          pinnedBase.getOrElse(sys.error(
            "partition replace requires a pinned base version")), meta)
      case GraftBatchWrite.DynamicOverwrite =>
        // an empty batch replaces no partitions — a valid no-op, the
        // table stays at its pinned version (Spark's own dynamic-
        // overwrite semantics: nothing touched, nothing dropped)
        if (wroteFiles)
          Txn.publishDynamicOverwrite(spark, root, dataRel, partCols,
            pinnedBase.getOrElse(sys.error(
              "dynamic overwrite requires a pinned base version")), meta)
      case GraftBatchWrite.Append =>
        // an INSERT of an empty source: nothing to add, the table is
        // unchanged — a valid (non-)commit
        if (wroteFiles)
          Txn.publishDirAppend(spark, root, dataRel, meta)
      case GraftBatchWrite.Replace if wroteFiles =>
        // Replace commits are computed from a PINNED scan, so they
        // publish CAS-pinned at that version (r11 advice medium): a
        // concurrent append/delete landing between the pin and this
        // publish fails the Replace loud instead of being silently
        // clobbered — the pinned `Txn.commit` contract, natively
        Txn.publishDirFull(spark, root, dataRel, meta, pinnedBase)
        ()
      case GraftBatchWrite.Replace =>
        // a replace that produced zero rows (e.g. UPDATE/MERGE emptying
        // the table, OVERWRITE from an empty source) must still land:
        // commit an empty snapshot with the declared schema
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        Txn.commit(empty, root, meta = meta, expectedBase = pinnedBase)
        ()
    }
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    // the FILE schema: partition columns live in directory names
    val enc = GraftParquetEncoder(spark,
      StructType(schema.fields.filterNot(f => partCols.contains(f.name))))
    encoder = Some(enc)
    new GraftWriterFactory(s"$root/$dataRel", schema, enc,
      rowLevel, partCols, spark.sessionState.conf.sessionLocalTimeZone, check)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    try {
      // no manifest references the dir — deleting it is cleanup, not
      // correctness (readers never saw it)
      val p = new Path(s"$root/$dataRel")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } finally releaseEncoder()
}
