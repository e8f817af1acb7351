package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-request constant bound into generated code by reference. A
  * `long` [[org.apache.spark.sql.catalyst.expressions.Literal]] is
  * inlined into the generated source, so every new window compiles new
  * classes; this expression reads its value from the class's references
  * array, so plans that differ only in the value share one compiled
  * class. Non-foldable, so it is never folded back into a literal — and
  * for the same reason never translated into a pushed source filter: use
  * it only above a scan, keep pruning filters as literals.
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
        isNull = FalseLiteral)
    }
  override def prettyName: String = "param"
  override def toString: String = s"param($value)"
}

object BoundParam {
  /** A `bigint` bound parameter: `col("bucket_ts") >= param(lo)`. */
  def param(v: Long): Column = graftbridge.toColumn(BoundParam(v, LongType))
}
