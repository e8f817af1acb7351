package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Multiply, Sqrt}

/** Session extension registering graft's custom Catalyst functions for
  * SQL use (the standard deployment hook — SURVEY.md build-plan note on
  * `SparkSessionExtensions`):
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * // then: spark.sql("SELECT cosine_f(a.embedding, b.embedding) ...")
  * }}}
  *
  * Functions: `dot_f(a, b)` (double dot product of two `array<float>`),
  * `norm_f(a)` (L2 norm), `cosine_f(a, b)` (cosine similarity — composed
  * from the same codegen'd [[DotProductF]] nodes the DataFrame path
  * uses, so SQL and Column queries plan identically), and
  * `parse_retention(str)` (whisper's retention DSL → archive structs).
  *
  * Optimizer rule: [[graft.plans.RollupRewrite]], which serves a
  * re-aggregation of a materialized rollup level from the coarser level
  * whose facts that level's `value` column carries. A session that
  * exists before the query (built without these extensions) gets the
  * rule from `RollupRewrite.setup`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, arity: Int, cls: Class[_] = classOf[DotProductF])(
      build: Seq[Expression] => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (exprs: Seq[Expression]) => {
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      build(exprs)
    })

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(fn("dot_f", 2)(x => DotProductF(x.head, x(1))))
    e.injectFunction(fn("norm_f", 1, classOf[Sqrt])(
      x => Sqrt(DotProductF(x.head, x.head))))
    e.injectFunction(fn("cosine_f", 2, classOf[Divide]) { x =>
      Divide(DotProductF(x.head, x(1)),
        Multiply(Sqrt(DotProductF(x.head, x.head)),
          Sqrt(DotProductF(x(1), x(1)))))
    })
    e.injectFunction(fn("parse_retention", 1, classOf[ParseRetentions])(
      x => ParseRetentions(x.head)))
    // materialized-rollup rewrite (aggregate navigator)
    e.injectOptimizerRule(_ => graft.plans.RollupRewrite)
  }
}
