package graft.catalog

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetShim, ParquetFileFormat}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.ops.Txn

/** Native distributed V2 write into a Txn table (r11): every executor
  * task streams its partition STRAIGHT into parquet files under a
  * fresh `data/<uuid>` snapshot dir — which the Txn design keeps
  * INVISIBLE to every reader until the driver-side [[commit]] publishes
  * a manifest referencing it. That single rename is the whole commit
  * protocol: a failed/speculated/aborted task leaves orphan files in a
  * dir no manifest will ever reference (vacuum fodder), so the write
  * is atomic and exactly-once without any output-committer machinery —
  * the same trick Delta/Iceberg use (data files are inert until the
  * log points at them).
  *
  * This is the one SQL write path: rows flow as InternalRow from
  * whole-stage codegen into Spark's own parquet encoder
  * ([[GraftParquetEncoder]]) with no Row conversion, and the write
  * parallelism is the query's own partitioning. Every column type
  * `df.write.parquet` writes is supported, encoded the same way.
  *
  * `mode` picks the manifest semantics at commit:
  *   - Append    — manifest-extension append ([[Txn.publishDirAppend]])
  *   - Replace   — full-snapshot publish ([[Txn.publishDirFull]]):
  *     INSERT OVERWRITE / TRUNCATE-backed writes AND the group-based
  *     row-level operations (UPDATE / MERGE INTO), whose incoming rows
  *     are the complete post-operation table contents. */
private[catalog] object GraftBatchWrite {
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

  /** Evaluate a bound CHECK predicate against one row (r13): SQL CHECK
    * semantics — only an explicit FALSE violates (NULL passes). The
    * throw fails the task, which fails the statement; the half-written
    * files sit in a dir no manifest will ever reference, so nothing
    * was committed (the same atomicity every abort path rides). */
  def assertCheck(check: Option[(String, Expression)],
      row: InternalRow, schema: StructType): Unit =
    check.foreach { case (sql, e) =>
      val r = e.eval(row)
      if (r != null && !r.asInstanceOf[Boolean])
        throw new IllegalStateException(
          s"CHECK ($sql) violated by row " +
            s"${row.toSeq(schema).mkString("[", ", ", "]")} — statement " +
            "aborted, nothing was committed")
    }
}

private[catalog] class GraftBatchWrite(spark: SparkSession, root: String,
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

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // zero-row tasks report GraftNoRowsMessage and leave no file behind
    // (r11 advice): an INSERT INTO from an empty multi-partition source
    // must not publish a spurious version over a directory of empty
    // files — only tasks that actually wrote rows count
    val wroteFiles = messages.exists(_.isInstanceOf[GraftCommitMessage])
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
      info: PhysicalWriteInfo): DataWriterFactory =
    // the FILE schema: partition columns live in directory names
    new GraftWriterFactory(s"$root/$dataRel", schema,
      GraftParquetEncoder(spark,
        StructType(schema.fields.filterNot(f => partCols.contains(f.name)))),
      rowLevel, partCols, spark.sessionState.conf.sessionLocalTimeZone, check)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // no manifest references the dir — deleting it is cleanup, not
    // correctness (readers never saw it)
    val p = new Path(s"$root/$dataRel")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Spark's own parquet encoder for one file schema: the
  * `OutputWriterFactory` that `ParquetFileFormat.prepareWrite` returns,
  * prepared once on the driver, plus the job configuration it was
  * prepared into — that configuration carries the schema and the
  * session's parquet settings (codec, timestamp type, rebase modes), so
  * tasks encode exactly as `df.write.parquet` would. Every field is
  * declared optional, as Spark's file writers declare them (the
  * analyzer enforces nullability upstream); a type parquet cannot hold
  * fails at plan time, before any task runs. */
private[catalog] final class GraftParquetEncoder private (
    val schema: StructType, factory: OutputWriterFactory,
    conf: SerializableConfiguration) extends Serializable {
  def hadoopConf: Configuration = conf.value
  /** A writer of the one file `path`, for task `partitionId`. */
  def open(path: String, partitionId: Int): OutputWriter =
    factory.newInstance(path, schema, new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
        partitionId), 0)))
}

private[catalog] object GraftParquetEncoder {
  def apply(spark: SparkSession, schema: StructType): GraftParquetEncoder = {
    val fileSchema = GraftParquetShim.writeSchema(schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    new GraftParquetEncoder(fileSchema, factory,
      new SerializableConfiguration(job.getConfiguration))
  }
}

private[catalog] class GraftWriterFactory(dataDir: String,
    schema: StructType, encoder: GraftParquetEncoder, rowLevel: Boolean,
    partCols: Seq[String], timeZone: String,
    check: Option[(String, Expression)])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    if (partCols.nonEmpty)
      new GraftPartitionedParquetWriter(dataDir, schema, encoder, partCols,
        timeZone, partitionId, taskId, check)
    else
      new GraftParquetWriter(dataDir, encoder, partitionId, taskId, rowLevel,
        check)
}

/** Native HIVE-PARTITIONED task writer (r12): each row routes to a
  * lazily-opened per-partition-value writer under
  * `dataDir/<col>=<value>/`, written straight from codegen'd InternalRow
  * with no Spark row-conversion bridge. Directory names follow Spark's
  * own `partitionBy` rule, so they match what `df.write.partitionBy`
  * writes for the same rows: the value cast to string in the session
  * time zone, then `ExternalCatalogUtils.getPartitionPathString` — hive
  * escaping, and NULL or '' to the default-partition sentinel. The
  * partition columns are NOT stored in the files (the read side
  * reconstructs them like every other partitioned snapshot). A task
  * writes one file per distinct partition value it SEES, so
  * clustering the insert by the partition columns keeps the file count
  * at one-per-partition — the same knob Spark's own partitioned writer
  * exposes. */
private[catalog] class GraftPartitionedParquetWriter(dataDir: String,
    schema: StructType, encoder: GraftParquetEncoder, partCols: Seq[String],
    timeZone: String, partitionId: Int, taskId: Long,
    check: Option[(String, Expression)])
  extends DataWriter[InternalRow] {

  private val partStrings = UnsafeProjection.create(partCols.map { c =>
    Cast(BoundReference(schema.fieldIndex(c), schema(c).dataType, true),
      StringType, Some(timeZone)): Expression
  })
  // bound projection dropping the partition columns; the inner writer
  // consumes each projected row before the next call, so the reused
  // UnsafeRow buffer is safe
  private val drop = UnsafeProjection.create(
    encoder.schema.fields.map(f =>
      BoundReference(schema.fieldIndex(f.name), f.dataType, true)).toSeq)
  private val writers =
    scala.collection.mutable.Map.empty[String, GraftParquetWriter]

  /** Nested `a=v/b=w` chain in declaration order (r13 multi-level). */
  private def dirOf(row: InternalRow): String = {
    val vals = partStrings(row)
    val sb = new StringBuilder(dataDir)
    var i = 0
    while (i < partCols.length) {
      sb.append('/').append(ExternalCatalogUtils.getPartitionPathString(
        partCols(i), if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString))
      i += 1
    }
    sb.toString
  }

  override def write(row: InternalRow): Unit = {
    // CHECK evaluates on the FULL row (partition columns included),
    // BEFORE the projection drops them; inner writers get no check
    GraftBatchWrite.assertCheck(check, row, schema)
    val dir = dirOf(row)
    val w = writers.getOrElseUpdate(dir,
      new GraftParquetWriter(dir, encoder, partitionId, taskId,
        rowLevel = false, check = None))
    w.write(drop(row))
  }

  override def commit(): WriterCommitMessage = {
    val files = writers.values.map(_.commit()).collect {
      case GraftCommitMessage(f) => f
    }
    if (files.isEmpty) GraftNoRowsMessage
    else GraftCommitMessage(files.head)
  }

  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

private[catalog] case class GraftCommitMessage(file: String)
  extends WriterCommitMessage

/** A task that saw no rows: nothing written, nothing to publish. */
private[catalog] case object GraftNoRowsMessage extends WriterCommitMessage

/** One task's parquet file. Task/attempt distinct file names mean a
  * speculated or retried attempt writes a DIFFERENT orphan file — only
  * files under the dir the manifest publishes become visible, and the
  * manifest is written once by the driver.
  *
  * Row-level writes (`rowLevel`): ReplaceData hands the writer rows
  * PREFIXED with Spark's `__row_operation` int column (observed:
  * un-projected rows reach DataWriter.write whenever the operation
  * declares no metadata attributes, with op = WRITE_WITH_METADATA).
  * The writer detects the prefix by arity (numFields == schema+1),
  * skips rows an op ever marks DELETE, and projects the prefix off
  * before the CHECK and the encoder; the projected two-arg write path
  * delegates to the one-arg form. */
private[catalog] class GraftParquetWriter(dataDir: String,
    encoder: GraftParquetEncoder, partitionId: Int, taskId: Long,
    rowLevel: Boolean, check: Option[(String, Expression)])
  extends DataWriter[InternalRow] {

  private val schema = encoder.schema
  private val file =
    s"$dataDir/part-$partitionId-$taskId-${UUID.randomUUID().toString}.parquet"
  private lazy val dropOp = UnsafeProjection.create(
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i + 1, f.dataType, true)
    })
  // opened LAZILY on the first row (r11 advice): an eager constructor
  // open made every empty partition emit a zero-row parquet file and a
  // commit message, so the driver's "no rows => no publish" guard could
  // never fire on a multi-partition empty source
  private var writer: OutputWriter = _

  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    // row-level op rows arrive [__row_operation, ...cols]; detect by
    // arity, drop DELETE-marked rows, project the prefix off
    val prefixed = rowLevel && row.numFields == schema.fields.length + 1
    if (prefixed && row.getInt(0) == RowDeltaUtils.DELETE_OPERATION) return
    val data = if (prefixed) dropOp(row) else row
    // declared CHECK per surviving row, so keyless row-level ops
    // (group-COW UPDATE/MERGE) are guarded too (r13)
    GraftBatchWrite.assertCheck(check, data, schema)
    if (writer == null) writer = encoder.open(file, partitionId)
    writer.write(data)
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) GraftNoRowsMessage
    else { writer.close(); GraftCommitMessage(file) }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val p = new Path(file)
      p.getFileSystem(encoder.hadoopConf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
