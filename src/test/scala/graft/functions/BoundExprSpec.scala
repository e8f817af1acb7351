package graft.functions

import java.util.regex.Pattern

import graft.ops.Fetch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the two by-reference expressions of the serve
  * path: [[BoundParam]] and [[RegexFind]].
  */
class BoundExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `e` over `row`, interpreted and through a generated projection. */
  private def both(e: Expression, row: InternalRow): (Any, Any) = {
    val out = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    (e.eval(row), if (out.isNullAt(0)) null else out.get(0, e.dataType))
  }

  private def name(s: String): InternalRow =
    InternalRow(if (s == null) null else UTF8String.fromString(s))
  private val metric = BoundReference(0, StringType, nullable = true)

  test("bound parameter: codegen equals eval; NULL stays NULL; never folds") {
    for (v <- Seq(0L, -7L, Long.MaxValue, 1706659200L)) {
      val (interp, gen) = both(BoundParam(v, LongType), InternalRow.empty)
      assert(interp == v && gen == v)
    }
    assert(both(BoundParam(null, LongType), InternalRow.empty) == ((null, null)))
    assert(!BoundParam(1L, LongType).foldable)
    // the optimizer keeps the parameter: no literal bound reaches the plan
    val q = spark.range(10).filter(col("id") >= BoundParam.param(4L))
    assert(q.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[BoundParam])))
    assert(q.collect().toSeq == (4L until 10L))
  }

  test("bound parameter: equal values canonicalize equal, different values do not") {
    val a = BoundParam(5L, LongType)
    assert(a.semanticEquals(BoundParam(5L, LongType)) &&
      a.canonicalized.hashCode == BoundParam(5L, LongType).canonicalized.hashCode)
    assert(!a.semanticEquals(BoundParam(6L, LongType)))
  }

  test("regex predicate: codegen equals eval with rlike's find(0); NULL in, NULL out") {
    val e = RegexFind(metric, Pattern.compile("b\\.c"))
    for (s <- Seq("a.b.c", "b.c", "bxc", "", "ab.cd")) {
      val (interp, gen) = both(e, name(s))
      assert(interp == gen && interp == s.contains("b.c"), s)
    }
    assert(both(e, name(null)) == ((null, null)))
  }

  test("regex predicate: equal pattern text canonicalizes equal, compiled apart") {
    val a = RegexFind(metric, Pattern.compile("^(a\\.[^.]*)$"))
    val b = RegexFind(metric, Pattern.compile("^(a\\.[^.]*)$"))
    assert(a.semanticEquals(b) && a.canonicalized.hashCode == b.canonicalized.hashCode)
    assert(!a.semanticEquals(RegexFind(metric, Pattern.compile("^(b\\.[^.]*)$"))))
  }

  test("regex predicate agrees with rlike on every glob form") {
    import spark.implicits._
    val names = Seq("a.b.c", "a.bc.c", "a.x.c", "a.b", "ab.c", "a.b.c.d", "b.b.c",
      "a.[.c", "a.!.c", "a..c", "c", "a.b.cd", "a.d.c").toDF("metric")
    val globs = Seq("*", "*.*.*", "a.*.c", "a.?.c", "a.{b,x}.c", "{a.b,c}.*", "{a.b,c}",
      "a.[bx].c", "a.[!bx].c", "a.[a-c]*", "a.[!]].c", "*.b.*", "a?b.c")
    for (g <- globs) {
      val rx = Fetch.globToRegex(g)
      val viaRlike = names.filter(col("metric").rlike(rx)).as[String].collect().toSet
      val viaFind = names.filter(RegexFind.find(col("metric"), rx)).as[String].collect().toSet
      assert(viaFind == viaRlike, s"glob $g")
    }
  }
}
