package graft.ops

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.RowDeltaUtils
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetShim, ParquetFileFormat}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The one parquet write path of the commit layers: every [[Txn]]
  * commit and every SQL statement of the catalog encodes its rows
  * through [[GraftParquetEncoder]] in the task writers below, into a
  * fresh `data/<uuid>` dir that no manifest names yet.
  *
  * Files are named `part-<partitionId>-<taskAttemptId>-<uuid>.parquet`,
  * written in place (no task-attempt staging dirs, no `_SUCCESS`
  * marker). Visibility is the manifest publish, and before it the
  * driver keeps only the files the tasks' commit messages name
  * ([[keepCommitted]]): a failed, killed or speculative attempt's file
  * is deleted, the guarantee an output committer gave. */
private[graft] object GraftParquetWrite {

  /** Write every row of `df` into the fresh dir `dir`, hive-partitioned
    * by `partCols` (which then live only in the directory names). The
    * write is one Spark job run as a tracked SQL execution of `df`'s
    * plan, so listeners, the SQL UI and AQE see it as they see any
    * action. An empty write still leaves one flat schema-bearing file
    * with every column: every reader resolves a dir's schema from a footer. */
  def apply(df: DataFrame, dir: String, partCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not a column of the written frame"))
    require(schema.fields.exists(f => !partCols.contains(f.name)),
      "cannot use all columns as partition columns")
    val encoder = GraftParquetEncoder(spark,
      StructType(schema.fields.filterNot(f => partCols.contains(f.name))))
    try {
      val factory = new GraftWriterFactory(dir, schema, encoder,
        rowLevel = false, partCols,
        spark.sessionState.conf.sessionLocalTimeZone, check = None)
      val qe = df.queryExecution
      val messages = SQLExecution.withNewExecutionId(qe, Some("graft-write")) {
        spark.sparkContext.runJob(qe.toRdd,
          (ctx: TaskContext, rows: Iterator[InternalRow]) =>
            runTask(factory, ctx, rows))
      }
      val files = committedFiles(messages.toSeq)
      keepCommitted(encoder.hadoopConf, dir, files)
      if (files.isEmpty) {
        val p = new Path(dir)
        p.getFileSystem(encoder.hadoopConf).mkdirs(p)
        // every column, partition columns too: an empty partitioned
        // write lands as the flat dir CREATE TABLE starts a table with
        val full = if (partCols.isEmpty) encoder else GraftParquetEncoder(spark, schema)
        try full.open(s"$dir/part-0-0-${UUID.randomUUID()}.parquet", 0).close()
        finally if (full ne encoder) full.destroy()
      }
    } finally encoder.destroy()
  }

  /** One task of [[apply]]: the DataWriter protocol Spark's own V2
    * write tasks follow (write all, commit; abort on failure). */
  private def runTask(factory: DataWriterFactory, ctx: TaskContext,
      rows: Iterator[InternalRow]): WriterCommitMessage = {
    val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      while (rows.hasNext) w.write(rows.next())
      w.commit()
    } catch {
      case t: Throwable => w.abort(); throw t
    } finally w.close()
  }

  /** The files the commit messages of one write name. */
  def committedFiles(messages: Seq[WriterCommitMessage]): Seq[String] =
    messages.flatMap {
      case GraftCommitMessage(files) => files
      case _                         => Nil
    }

  /** Delete every `part-*` file under `dir` that `files` does not name,
    * before sidecars and publish: only committed task files become
    * visible. */
  def keepCommitted(conf: Configuration, dir: String,
      files: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val named = files.map(f => fs.makeQualified(new Path(f)).toUri.getPath).toSet
    def sweep(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val p = st.getPath
      if (st.isDirectory) sweep(p)
      else if (p.getName.startsWith("part-") && !named(p.toUri.getPath))
        fs.delete(p, false)
    }
    if (fs.exists(root)) sweep(root)
  }

  /** Evaluate a bound CHECK predicate against one row: SQL CHECK
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

/** Spark's own parquet encoder for one file schema: the
  * `OutputWriterFactory` that `ParquetFileFormat.prepareWrite` returns,
  * prepared once on the driver, plus the job configuration it was
  * prepared into — that configuration carries the schema and the
  * session's parquet settings (codec, timestamp type, rebase modes), so
  * tasks encode exactly as `df.write.parquet` would. The configuration
  * ships to tasks as one broadcast, not inside every task; [[destroy]]
  * releases it once the write committed or aborted. Every field is
  * declared optional, as Spark's file writers declare them (the
  * analyzer enforces nullability upstream); a type parquet cannot hold
  * fails on the driver, before any task runs. */
private[graft] final class GraftParquetEncoder private (
    val schema: StructType, factory: OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration]) extends Serializable {
  def hadoopConf: Configuration = conf.value.value
  /** A writer of the one file `path`, for task `partitionId`. */
  def open(path: String, partitionId: Int): OutputWriter =
    factory.newInstance(path, schema, new TaskAttemptContextImpl(hadoopConf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
        partitionId), 0)))
  def destroy(): Unit = conf.destroy()
}

private[graft] object GraftParquetEncoder {
  def apply(spark: SparkSession, schema: StructType): GraftParquetEncoder = {
    val fileSchema = GraftParquetShim.writeSchema(schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    new GraftParquetEncoder(fileSchema, factory, spark.sparkContext.broadcast(
      new SerializableConfiguration(job.getConfiguration)))
  }
}

private[graft] class GraftWriterFactory(dataDir: String,
    schema: StructType, encoder: GraftParquetEncoder, rowLevel: Boolean,
    partCols: Seq[String], timeZone: String,
    check: Option[(String, Expression)])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    if (partCols.nonEmpty)
      new GraftPartitionedParquetWriter(dataDir, schema, encoder, partCols,
        timeZone, partitionId, taskId, rowLevel, check)
    else
      new GraftParquetWriter(dataDir, encoder, partitionId, taskId, rowLevel,
        check)
}

/** Row-level writes: ReplaceData hands the writer rows PREFIXED with
  * Spark's `__row_operation` int column (observed: un-projected rows
  * reach DataWriter.write whenever the operation declares no metadata
  * attributes, with op = WRITE_WITH_METADATA). The prefix is detected
  * by arity (numFields == schema+1); [[strip]] drops rows an op ever
  * marks DELETE (null) and projects the prefix off the rest. */
private[graft] final class RowOpPrefix(schema: StructType) {
  private lazy val dropOp = UnsafeProjection.create(
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i + 1, f.dataType, true)
    })
  def strip(row: InternalRow): InternalRow =
    if (row.numFields != schema.fields.length + 1) row
    else if (row.getInt(0) == RowDeltaUtils.DELETE_OPERATION) null
    else dropOp(row)
}

/** HIVE-PARTITIONED task writer: each row routes to a lazily-opened
  * per-partition-value writer under `dataDir/<col>=<value>/`, written
  * straight from codegen'd InternalRow with no row conversion.
  * Directory names follow Spark's own `partitionBy` rule: the value
  * cast to string in the session time zone, then
  * `ExternalCatalogUtils.getPartitionPathString` — hive escaping, and
  * NULL or '' to the default-partition sentinel. The partition columns
  * are NOT stored in the files (the read side reconstructs them like
  * every other partitioned snapshot). A task writes one file per
  * distinct partition value it SEES, so clustering the write by the
  * partition columns keeps the file count at one-per-partition — the
  * same knob Spark's own partitioned writer exposes. */
private[graft] class GraftPartitionedParquetWriter(dataDir: String,
    schema: StructType, encoder: GraftParquetEncoder, partCols: Seq[String],
    timeZone: String, partitionId: Int, taskId: Long, rowLevel: Boolean,
    check: Option[(String, Expression)])
  extends DataWriter[InternalRow] {

  private val ops = if (rowLevel) Some(new RowOpPrefix(schema)) else None
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

  /** Nested `a=v/b=w` chain in declaration order. */
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

  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val data = ops.fold(row)(_.strip(row))
    if (data == null) return
    // CHECK evaluates on the FULL row (partition columns included),
    // BEFORE the projection drops them; inner writers get no check
    GraftParquetWrite.assertCheck(check, data, schema)
    val dir = dirOf(data)
    val w = writers.getOrElseUpdate(dir,
      new GraftParquetWriter(dir, encoder, partitionId, taskId,
        rowLevel = false, check = None))
    w.write(drop(data))
  }

  override def commit(): WriterCommitMessage = {
    val files = GraftParquetWrite.committedFiles(
      writers.values.map(_.commit()).toSeq)
    if (files.isEmpty) GraftNoRowsMessage else GraftCommitMessage(files)
  }

  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

/** The files one task wrote and committed. */
private[graft] case class GraftCommitMessage(files: Seq[String])
  extends WriterCommitMessage

/** A task that saw no rows: nothing written, nothing to publish. */
private[graft] case object GraftNoRowsMessage extends WriterCommitMessage

/** One task's parquet file. Task/attempt distinct file names mean a
  * speculated or retried attempt writes a DIFFERENT file, which the
  * driver's [[GraftParquetWrite.keepCommitted]] deletes unless its
  * commit message won. `rowLevel` rows lose their `__row_operation`
  * prefix ([[RowOpPrefix]]) before the CHECK and the encoder; the
  * two-arg write path delegates to the one-arg form. */
private[graft] class GraftParquetWriter(dataDir: String,
    encoder: GraftParquetEncoder, partitionId: Int, taskId: Long,
    rowLevel: Boolean, check: Option[(String, Expression)])
  extends DataWriter[InternalRow] {

  private val schema = encoder.schema
  private val file =
    s"$dataDir/part-$partitionId-$taskId-${UUID.randomUUID().toString}.parquet"
  private val ops = if (rowLevel) Some(new RowOpPrefix(schema)) else None
  // opened LAZILY on the first row: an eager open made every empty
  // partition emit a zero-row parquet file and a commit message, so the
  // driver's "no rows => no publish" guard could never fire on a
  // multi-partition empty source
  private var writer: OutputWriter = _

  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    val data = ops.fold(row)(_.strip(row))
    if (data == null) return
    // declared CHECK per surviving row, so keyless row-level ops
    // (group-COW UPDATE/MERGE) are guarded too
    GraftParquetWrite.assertCheck(check, data, schema)
    if (writer == null) writer = encoder.open(file, partitionId)
    writer.write(data)
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) GraftNoRowsMessage
    else { writer.close(); GraftCommitMessage(Seq(file)) }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val p = new Path(file)
      p.getFileSystem(encoder.hadoopConf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
