package graft.catalog

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

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
  * Replaces the r11-initial V1Write bridge for the write side: rows
  * flow as InternalRow from whole-stage codegen into the parquet
  * writer with no Row conversion, and the write parallelism is the
  * query's own partitioning. Supported column types: the flat
  * primitive set (long/int/double/float/boolean/string/date/
  * timestamp) — a nested/array/decimal schema fails loud at PLAN time
  * (schemaToParquet), never mid-write.
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
  def assertCheck(check: Option[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
      row: InternalRow, schema: StructType): Unit =
    check.foreach { case (sql, e) =>
      val r = e.eval(row)
      if (r != null && !r.asInstanceOf[Boolean]) {
        // rendering is best-effort: an op-prefixed rewrite row has one
        // extra leading field the schema cannot describe
        val rendered =
          try row.toSeq(schema).mkString("[", ", ", "]")
          catch { case _: Throwable => row.toString }
        throw new IllegalStateException(
          s"CHECK ($sql) violated by row $rendered — statement aborted, " +
            "nothing was committed")
      }
    }

  /** StructType → parquet MessageType for the supported flat set; all
    * fields optional (Spark's reader null-fills; nullability is
    * enforced upstream by the analyzer). */
  def schemaToParquet(schema: StructType, name: String): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(f.name)
        case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case TimestampType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        // DECIMAL (r12, r11 verdict item 5 — the most common warehouse
        // column type no longer falls to the V1 row bridge): parquet's
        // standard physical encodings by precision — INT32 to 9 digits,
        // INT64 to 18, FIXED_LEN_BYTE_ARRAY (two's-complement unscaled)
        // above — exactly what Spark's vectorized reader expects
        case d: DecimalType =>
          val ann = LogicalTypeAnnotation.decimalType(d.scale, d.precision)
          if (d.precision <= 9)
            Types.optional(PrimitiveTypeName.INT32).as(ann).named(f.name)
          else if (d.precision <= 18)
            Types.optional(PrimitiveTypeName.INT64).as(ann).named(f.name)
          else
            Types.optional(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
              .length(minBytesForPrecision(d.precision)).as(ann).named(f.name)
        case other => throw new UnsupportedOperationException(
          s"graft native writer supports flat primitive columns; " +
            s"column ${f.name} is $other — write via the programmatic " +
            "Txn API for nested schemas")
      }
      b.addField(t)
    }
    b.named(name)
  }

  /** Partition values must render to directory names unambiguously:
    * integral/string/boolean types round-trip exactly (the same set the
    * skipping probes trust — dates/floats/decimals render differently
    * between internal and directory forms). */
  def supportedPartitionType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
         BooleanType => true
    case _ => false
  }

  /** Smallest byte width whose two's-complement range covers `p`
    * decimal digits (the parquet FIXED_LEN_BYTE_ARRAY sizing rule). */
  def minBytesForPrecision(p: Int): Int = {
    var n = 1
    while (!BigInt(10).pow(p).-(1).abs
        .<(BigInt(2).pow(8 * n - 1))) n += 1
    n
  }

  /** Two's-complement `width`-byte encoding of an unscaled decimal —
    * sign-extended left-pad, the FIXED_LEN_BYTE_ARRAY contract. */
  def toFixedBytes(unscaled: java.math.BigInteger, width: Int): Array[Byte] = {
    val raw = unscaled.toByteArray
    require(raw.length <= width,
      s"unscaled value $unscaled overflows $width bytes")
    val out = new Array[Byte](width)
    val pad: Byte = if (unscaled.signum() < 0) -1 else 0
    java.util.Arrays.fill(out, 0, width - raw.length, pad)
    System.arraycopy(raw, 0, out, width - raw.length, raw.length)
    out
  }
}

private[catalog] class GraftBatchWrite(root: String, schema: StructType,
    mode: GraftBatchWrite.Mode, opName: String,
    rowLevel: Boolean = false,
    pinnedBase: Option[Long] = None,
    partCol: Option[String] = None,
    statsCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    check: Option[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = None)
  extends BatchWrite {

  private val dataRel = s"data/${UUID.randomUUID().toString}"
  // the partition spec is one column or a comma list (r13 multi-level)
  private val partCols: Seq[String] = partCol.toSeq.flatMap(Txn.partitionCols)
  // fail loud on unsupported schemas at PLAN time, before any task runs
  // (partitioned writes validate the FILE schema — the partition columns
  // live in directory names, not in the files)
  GraftBatchWrite.schemaToParquet(
    StructType(schema.fields.filterNot(f => partCols.contains(f.name))),
    "graft")
  partCols.foreach { c =>
    require(GraftBatchWrite.supportedPartitionType(schema(c).dataType),
      s"graft native partitioned writer supports integral/string/boolean " +
        s"partition columns; $c is ${schema(c).dataType}")
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
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
    new GraftWriterFactory(s"$root/$dataRel", schema, rowLevel, partCols,
      check)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // no manifest references the dir — deleting it is cleanup, not
    // correctness (readers never saw it)
    val spark = SparkSession.active
    val p = new Path(s"$root/$dataRel")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

private[catalog] class GraftWriterFactory(dataDir: String,
    schema: StructType, rowLevel: Boolean,
    partCols: Seq[String] = Nil,
    check: Option[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = None)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    if (partCols.nonEmpty)
      new GraftPartitionedParquetWriter(dataDir, schema, partCols,
        partitionId, taskId, check = check)
    else
      new GraftParquetWriter(dataDir, schema, partitionId, taskId, rowLevel,
        check = check)
}

/** Native HIVE-PARTITIONED task writer (r12): each row routes to a
  * lazily-opened per-partition-value writer under
  * `dataDir/<col>=<escaped value>/` — the standard warehouse layout,
  * written straight from codegen'd InternalRow with no Spark
  * row-conversion bridge. The partition column is NOT stored in the
  * files (the directory name carries it — one column of storage saved
  * per row, and the read side reconstructs it like every other
  * partitioned snapshot); values hive-escape and nulls land in the
  * default-partition sentinel dir. A task writes one file per distinct
  * partition value it SEES, so pre-sorting/repartitioning the insert by
  * the partition column keeps the file count at one-per-partition — the
  * same knob Spark's own partitioned writer exposes. */
private[catalog] class GraftPartitionedParquetWriter(dataDir: String,
    schema: StructType, partCols: Seq[String], partitionId: Int,
    taskId: Long,
    check: Option[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = None)
  extends DataWriter[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  private val partIdxs = partCols.map(schema.fieldIndex).toArray
  private val partTypes = partIdxs.map(schema.fields(_).dataType)
  private val fileSchema =
    StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
  // bound projection dropping the partition columns; the inner writer
  // consumes each projected row before the next call, so the reused
  // UnsafeRow buffer is safe
  private val drop = UnsafeProjection.create(
    fileSchema.fields.map(f =>
      BoundReference(schema.fieldIndex(f.name), f.dataType, true)).toSeq)
  private val writers =
    scala.collection.mutable.Map.empty[String, GraftParquetWriter]

  /** Nested `a=v/b=w` chain in declaration order (r13 multi-level). */
  private def dirOf(row: InternalRow): String = {
    val sb = new StringBuilder(dataDir)
    var i = 0
    while (i < partIdxs.length) {
      val partIdx = partIdxs(i)
      val raw =
        if (row.isNullAt(partIdx)) "__HIVE_DEFAULT_PARTITION__"
        else {
          val v = partTypes(i) match {
            case LongType    => row.getLong(partIdx).toString
            case IntegerType => row.getInt(partIdx).toString
            case ShortType   => row.getShort(partIdx).toString
            case ByteType    => row.getByte(partIdx).toString
            case StringType  => row.getUTF8String(partIdx).toString
            case BooleanType => row.getBoolean(partIdx).toString
            case other => throw new IllegalStateException(
              s"unreachable: partition type $other passed the plan-time check")
          }
          Txn.escapePathName(v)
        }
      sb.append('/').append(partCols(i)).append('=').append(raw)
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
      new GraftParquetWriter(dir, fileSchema, partitionId, taskId,
        rowLevel = false))
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
  * skips rows an op ever marks DELETE, and shifts field reads by one;
  * the projected two-arg write path delegates to the one-arg form. */
private[catalog] class GraftParquetWriter(dataDir: String,
    schema: StructType, partitionId: Int, taskId: Long,
    rowLevel: Boolean,
    check: Option[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = None)
  extends DataWriter[InternalRow] {

  private val file =
    s"$dataDir/part-$partitionId-$taskId-${UUID.randomUUID().toString}.parquet"
  /** The CHECK rebound for the op-prefixed rewrite row shape: every
    * BoundReference shifts one slot right past `__row_operation`. */
  private lazy val shiftedCheck = check.map { case (sql, e) =>
    (sql, e.transform {
      case b: org.apache.spark.sql.catalyst.expressions.BoundReference =>
        b.copy(ordinal = b.ordinal + 1)
    })
  }
  private val messageType =
    GraftBatchWrite.schemaToParquet(schema, "graft")
  private val conf = new Configuration()
  GroupWriteSupport.setSchema(messageType, conf)
  // opened LAZILY on the first row (r11 advice): an eager constructor
  // open made every empty partition emit a zero-row parquet file and a
  // commit message, so the driver's "no rows => no publish" guard could
  // never fire on a multi-partition empty source
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private def openedWriter() = {
    if (writer == null)
      writer = ExampleParquetWriter.builder(new Path(file))
        .withConf(conf)
        .withType(messageType)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    writer
  }
  private val factory = new SimpleGroupFactory(messageType)

  override def write(meta: InternalRow, row: InternalRow): Unit = write(row)

  override def write(row: InternalRow): Unit = {
    // row-level op rows arrive [__row_operation, ...cols]; detect by
    // arity, drop DELETE-marked rows, shift reads
    val off =
      if (rowLevel && row.numFields == schema.fields.length + 1) 1 else 0
    if (off == 1 && row.getInt(0) ==
        org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION) {
      return
    }
    // declared CHECK per surviving row; op-prefixed rewrite rows
    // (group-COW UPDATE/MERGE) evaluate through the SHIFTED binding so
    // keyless row-level ops are guarded too (r13)
    if (off == 0) GraftBatchWrite.assertCheck(check, row, schema)
    else GraftBatchWrite.assertCheck(shiftedCheck, row, schema)
    val g = factory.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      if (!row.isNullAt(i + off)) {
        val name = schema.fields(i).name
        schema.fields(i).dataType match {
          case LongType      => g.add(name, row.getLong(i + off))
          case IntegerType   => g.add(name, row.getInt(i + off))
          case DoubleType    => g.add(name, row.getDouble(i + off))
          case FloatType     => g.add(name, row.getFloat(i + off))
          case BooleanType   => g.add(name, row.getBoolean(i + off))
          case StringType    =>
            g.add(name, Binary.fromString(row.getUTF8String(i + off).toString))
          case DateType      => g.add(name, row.getInt(i + off))
          case TimestampType => g.add(name, row.getLong(i + off))
          case d: DecimalType =>
            val dec = row.getDecimal(i + off, d.precision, d.scale)
            if (d.precision <= 9) g.add(name, dec.toUnscaledLong.toInt)
            else if (d.precision <= 18) g.add(name, dec.toUnscaledLong)
            else g.add(name, Binary.fromConstantByteArray(
              GraftBatchWrite.toFixedBytes(
                dec.toJavaBigDecimal.unscaledValue(),
                GraftBatchWrite.minBytesForPrecision(d.precision))))
          case other => throw new IllegalStateException(
            s"unreachable: $other passed schemaToParquet")
        }
      }
      i += 1
    }
    openedWriter().write(g)
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) GraftNoRowsMessage
    else { writer.close(); GraftCommitMessage(file) }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val p = new Path(file)
      p.getFileSystem(conf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
