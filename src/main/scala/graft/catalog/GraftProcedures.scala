package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftFunctions
import graft.ops.{GraftCatalog, Txn}

/** SQL-callable MAINTENANCE procedures (r12): the operational verbs a
  * migrating warehouse user runs as `CALL` statements — Delta's
  * VACUUM/RESTORE/OPTIMIZE and Iceberg's stored procedures, on the Txn
  * layer:
  *
  * {{{
  *   CALL graft.vacuum(table => 't', keep_last => 2)
  *   CALL graft.maintain(table => 't')   -- gauge-driven compaction
  *   CALL graft.restore(table => 't', version => 3)
  * }}}
  *
  * Each returns a one-row summary scan (LocalScan — the result is a
  * handful of driver-side numbers; the WORK inside runs distributed
  * through the same Txn entry points the programmatic API uses, so SQL
  * gains the identical semantics and cost model). Registered on the
  * catalog via [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]]. */
private[catalog] object GraftProcedures {

  val names: Seq[String] =
    Seq("vacuum", "maintain", "restore", "compact", "clone")

  def load(spark: => SparkSession, catalogRoot: String,
      ident: Identifier): Option[UnboundProcedure] =
    if (!(ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("default")))) None
    else ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "vacuum"   => Some(vacuumProc(spark, catalogRoot))
      case "maintain" => Some(maintainProc(spark, catalogRoot))
      case "restore"  => Some(restoreProc(spark, catalogRoot))
      case "compact"  => Some(compactProc(spark, catalogRoot))
      case "clone"    => Some(cloneProc(spark, catalogRoot))
      case _          => None
    }

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def resultScan(schema: StructType,
      values: Seq[Any]): java.util.Iterator[Scan] = {
    val row = InternalRow.fromSeq(values.map {
      case s: String => UTF8String.fromString(s)
      case other     => other
    })
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }
    java.util.List.of(scan).iterator()
  }

  private def resolve(spark: SparkSession, catalogRoot: String,
      ident: InternalRow, at: Int): String =
    GraftCatalog.resolve(spark, catalogRoot, ident.getUTF8String(at).toString)

  private abstract class GraftProc(name0: String,
      desc: String) extends UnboundProcedure with BoundProcedure {
    override def name(): String = name0
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // side-effecting
  }

  /** CALL graft.vacuum(table, keep_last [, retention_ms]) — drop
    * unreferenced snapshot dirs + aged-out manifests; returns the
    * retained version count after. */
  private def vacuumProc(spark: => SparkSession,
      catalogRoot: String): UnboundProcedure =
    new GraftProc("vacuum",
      "drop snapshots unreferenced by the keep_last retained versions") {
      override def parameters(): Array[ProcedureParameter] = Array(
        param("table", StringType), param("keep_last", IntegerType))
      private val out = StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("retained_versions", LongType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val s = spark
        val root = resolve(s, catalogRoot, input, 0)
        Txn.vacuum(s, root, keepLast = input.getInt(1))
        val retained = Txn.history(s, root).size.toLong
        resultScan(out, Seq(input.getUTF8String(0).toString, retained))
      }
    }

  /** CALL graft.maintain(table) — the gauge-driven auto-compaction
    * actuator; returns whether it compacted and the current version. */
  private def maintainProc(spark: => SparkSession,
      catalogRoot: String): UnboundProcedure =
    new GraftProc("maintain",
      "compact the table if the small-file/tombstone gauge trips") {
      override def parameters(): Array[ProcedureParameter] =
        Array(param("table", StringType))
      private val out = StructType(Seq(
        StructField("compacted", BooleanType, nullable = false),
        StructField("current_version", LongType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val s = spark
        val root = resolve(s, catalogRoot, input, 0)
        val compacted = Txn.maintain(s, root)
        resultScan(out, Seq(compacted.isDefined,
          Txn.currentVersion(s, root).getOrElse(-1L)))
      }
    }

  /** CALL graft.compact(table, zorder, target_files) — Delta's
    * OPTIMIZE [ZORDER BY] verb: rewrite the current snapshot into
    * `target_files` files, optionally bit-interleave-clustered on one
    * or two columns (`zorder` = '' for plain bin-packing compaction,
    * 'x' for a single-column sort cluster, 'x,y' for the two-
    * dimensional z-curve via the native `interleave16` expression).
    * Declared index columns (`graft.stats`/`graft.bloom` props) are
    * RE-DERIVED on the compacted snapshot — compaction is exactly when
    * clustering makes the sidecars sharp. OCC-pinned at the version it
    * read (a concurrent writer fails the compaction loud, never loses
    * its commit); tombstone chains collapse as a side effect. */
  private def compactProc(spark: => SparkSession,
      catalogRoot: String): UnboundProcedure =
    new GraftProc("compact",
      "rewrite the snapshot into target_files files, optionally z-ordered") {
      override def parameters(): Array[ProcedureParameter] = Array(
        param("table", StringType), param("zorder", StringType),
        param("target_files", IntegerType))
      private val out = StructType(Seq(
        StructField("new_version", LongType, nullable = false),
        StructField("files", LongType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val s = spark
        val root = resolve(s, catalogRoot, input, 0)
        val zCols = input.getUTF8String(1).toString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val n = input.getInt(2)
        require(n >= 1, s"target_files must be >= 1, got $n")
        val base = Txn.currentVersion(s, root).getOrElse(
          sys.error(s"no committed version at $root"))
        val df = Txn.read(s, root)
        zCols.foreach { c =>
          require(df.schema.fieldNames.contains(c),
            s"zorder column $c absent from the schema")
        }
        import org.apache.spark.sql.functions.col
        val props = Txn.tableProps(s, root)
        // a declared-partition table KEEPS its hive layout through
        // compaction (r12 advice, low): the rewrite re-partitions by
        // the partition column — zorder then clusters WITHIN each
        // partition (Delta's OPTIMIZE ZORDER scope) — instead of
        // silently flattening the table and losing the dir-pruning rung
        val partCol = props.get("partition")
        def zkeyed(d: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Option[String]) =
          zCols match {
            case Seq()  => (d, None)
            case Seq(c) => (d, Some(c))
            case Seq(a, b) =>
              (d.withColumn("__zkey", GraftFunctions.expr(s"interleave16(`$a`, `$b`)")),
                Some("__zkey"))
            case many => sys.error(
              s"zorder takes at most two columns (interleave16 is a " +
                s"two-dimensional curve), got $many")
          }
        val clustered = partCol match {
          case Some(pc) =>
            val pcols = Txn.partitionCols(pc).map(col)
            val (d, zk) = zkeyed(df)
            val laid = zk match {
              case None    => d.repartition(pcols: _*)
              case Some(k) => d.repartition(pcols: _*)
                .sortWithinPartitions(pcols :+ col(k): _*)
            }
            if (laid.columns.contains("__zkey")) laid.drop("__zkey") else laid
          case None =>
            val (d, zk) = zkeyed(df)
            val laid = zk match {
              case None    => d.repartition(n)
              case Some(k) => d.repartitionByRange(n, col(k))
                .sortWithinPartitions(k)
            }
            if (laid.columns.contains("__zkey")) laid.drop("__zkey") else laid
        }
        def cols(k: String) = props.get(k).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        val v = Txn.commit(clustered, root, cols("stats"),
          meta = Map("op" ->
            (if (zCols.isEmpty) "sql-compact" else "sql-compact-zorder")),
          partitionBy = partCol, bloomCols = cols("bloom"),
          expectedBase = Some(base))
        val files = Txn.tableDetail(s, root)._2
        resultScan(out, Seq(v, files))
      }
    }

  /** CALL graft.restore(table, version) — O(manifest) rollback. */
  /** CALL graft.clone(table, target) — zero-copy SHALLOW CLONE into a
    * NEW catalog name (Delta's CLONE verb): the target's manifest
    * points at the source's current data dirs, no data moves; writes
    * to either side diverge copy-on-write (Txn commits never mutate
    * files). The source-vacuum caveat applies exactly as in the
    * programmatic [[Txn.cloneTable]]. */
  private def cloneProc(spark: => SparkSession,
      catalogRoot: String): UnboundProcedure =
    new GraftProc("clone",
      "zero-copy shallow clone of the table's current version into a new name") {
      override def parameters(): Array[ProcedureParameter] = Array(
        param("table", StringType), param("target", StringType))
      private val out = StructType(Seq(
        StructField("target", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("cloned_version", LongType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val s = spark
        val srcRoot = resolve(s, catalogRoot, input, 0)
        val target = input.getUTF8String(1).toString
        require(!GraftCatalog.tableExists(s, catalogRoot, target),
          s"table $target already exists")
        val dstRoot = s"$catalogRoot/_managed/$target"
        val v = Txn.cloneTable(s, srcRoot, dstRoot,
          meta = Map("op" -> "sql-clone"))
        GraftCatalog.create(s, catalogRoot, target, dstRoot)
        resultScan(out, Seq(target, dstRoot, v))
      }
    }

  private def restoreProc(spark: => SparkSession,
      catalogRoot: String): UnboundProcedure =
    new GraftProc("restore",
      "roll the table back to a retained version (O(manifest), no data moves)") {
      override def parameters(): Array[ProcedureParameter] = Array(
        param("table", StringType), param("version", LongType))
      private val out = StructType(Seq(
        StructField("restored_to", LongType, nullable = false),
        StructField("new_version", LongType, nullable = false)))
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val s = spark
        val root = resolve(s, catalogRoot, input, 0)
        val to = input.getLong(1)
        val v = Txn.restore(s, root, to, meta = Map("op" -> "sql-restore"))
        resultScan(out, Seq(to, v))
      }
    }
}
