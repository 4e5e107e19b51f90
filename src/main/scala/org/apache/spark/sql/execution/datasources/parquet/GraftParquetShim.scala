package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Bridge into Spark's `private[parquet]` footer reader and footer →
  * schema conversion, so a caller can resolve a parquet schema on the
  * driver with Spark's own code instead of the Spark job its schema
  * inference launches; and into the schema check and `asNullable`
  * that Spark's own file writers apply. Nothing else is exposed. */
object GraftParquetShim {

  /** The file schema Spark's parquet writer declares for `schema`:
    * every field, nested ones included, nullable. A type parquet cannot
    * hold, or a duplicate column name, throws the error
    * `df.write.parquet` throws. */
  def writeSchema(schema: StructType): StructType = {
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      SQLConf.get.caseSensitiveAnalysis)
    DataSourceUtils.verifySchema(new ParquetFileFormat, schema)
    schema.asNullable
  }

  /** What schema resolution needs from one footer: the parquet schema
    * and Spark's row-metadata string, without row-group metadata. */
  final case class FooterSchema(parquet: MessageType, sparkRow: Option[String])

  /** The footers of `files` (row groups skipped), keyed by file path;
    * a corrupt file is absent only when the session ignores corrupt
    * files, exactly as in Spark's inference. */
  def readFooters(spark: SparkSession,
      files: Seq[FileStatus]): Map[String, FooterSchema] = {
    ParquetFileFormat.readParquetFootersInParallel(spark.sessionState.newHadoopConf(),
      files, spark.sessionState.conf.ignoreCorruptFiles)
      .map { footer =>
        val meta = footer.getParquetMetadata.getFileMetaData
        footer.getFile.toString -> FooterSchema(meta.getSchema,
          Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)))
      }.toMap
  }

  /** The Spark schema of each footer under `spark`'s settings, merged
    * in order with the session's case sensitivity — what Spark's
    * mergeSchema inference computes over the same files. Throws
    * `CANNOT_MERGE_*` on incompatible members. */
  def mergedSchema(spark: SparkSession, footers: Seq[FooterSchema]): StructType = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    footers.map { fs =>
      val kv = fs.sparkRow.map(ParquetReadSupport.SPARK_METADATA_KEY -> _).toMap
      val footer = new Footer(new Path("/"),
        new ParquetMetadata(new FileMetaData(fs.parquet, kv.asJava, null),
          java.util.Collections.emptyList()))
      ParquetFileFormat.readSchema(Seq(footer), spark).get
    }.reduce(_.merge(_, caseSensitive))
  }
}
