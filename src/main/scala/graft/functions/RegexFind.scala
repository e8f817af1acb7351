package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `rlike` with the pattern held by reference: `find(0)` of a
  * [[java.util.regex.Pattern]] compiled once on the driver. Spark's
  * `RLike` inlines a foldable pattern into the generated source (a new
  * glob compiles new classes) and recompiles a non-foldable one on every
  * row; this predicate's generated code reads the compiled pattern from
  * the class's references array. Equal by pattern text and flags, so
  * equal selections canonicalize equal and exchange reuse still applies.
  */
case class RegexFind(child: Expression, pattern: Pattern) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"regex_find expects a string, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(s: Any): Any =
    pattern.matcher(s.asInstanceOf[UTF8String].toString).find(0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("pattern", pattern, classOf[Pattern].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $p.matcher($c.toString()).find(0);")
  }

  override def equals(other: Any): Boolean = other match {
    case RegexFind(c, p) =>
      c == child && p.pattern == pattern.pattern && p.flags == pattern.flags
    case _ => false
  }
  override def hashCode: Int = (child, pattern.pattern, pattern.flags).hashCode

  override protected def withNewChildInternal(newChild: Expression): RegexFind =
    copy(child = newChild)

  override def prettyName: String = "regex_find"
  override def toString: String = s"regex_find($child, ${pattern.pattern})"
}

object RegexFind {
  /** `c rlike regex`, with the pattern compiled here, once. */
  def find(c: Column, regex: String): Column =
    graftbridge.toColumn(RegexFind(graftbridge.toExpression(c), Pattern.compile(regex)))
}
