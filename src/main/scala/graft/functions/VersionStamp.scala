package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** A commit version carried as data: evaluates to `version` exactly
  * as `lit(version)` does, but its generated code reads the value
  * through a reference object instead of inlining it. Spark inlines a
  * primitive literal into generated code, so a version stamped with
  * `lit` made every version a new class to compile; with the value
  * referenced, all versions of one feed shape share one compiled
  * class. Deterministic and never null; not foldable, so the optimizer
  * keeps it as it is. */
case class VersionStamp(version: Long) extends LeafExpression {
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "commit_version"

  override def eval(input: InternalRow): Any = version

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("commitVersion", java.lang.Long.valueOf(version))
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }
}
