package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The `DevRun --explain` normalizer: two runs with no plan change must
  * print byte-identical plans even though Catalyst expression ids /
  * plan_ids are JVM-global counters and the shared tmp index roots carry
  * a content digest + pid.
  */
class ExplainNormalizeSpec extends AnyFunSuite {

  test("expression ids renumber by first appearance, consistently") {
    val a = "Output [2]: [bucket_ts#910L, value#911]\n" +
      "Input [1]: [bucket_ts#910L]\nplan_id=4711"
    val b = "Output [2]: [bucket_ts#13L, value#27]\n" +
      "Input [1]: [bucket_ts#13L]\nplan_id=35"
    assert(DevRun.normalizePlan(a) == DevRun.normalizePlan(b))
    // same id → same number everywhere; distinct ids stay distinct
    val n = DevRun.normalizePlan(a)
    assert(n.contains("bucket_ts#1L") && n.contains("value#2") &&
      n.contains("Input [1]: [bucket_ts#1L]") && n.contains("plan_id=1"))
  }

  test("normalization is idempotent") {
    val p = "x#42L y#7 plan_id=99 plan_id=99 x#42L"
    val once = DevRun.normalizePlan(p)
    assert(DevRun.normalizePlan(once) == once)
  }

  test("identity hashes mask only in JVM-toString contexts (r17)") {
    // qualified names (FQCN / inner-class / lambda suffix) mask at any
    // hex length; bare words mask only on 6+ hex digits — so a literal
    // like 'a@cafe' in a pushed filter survives untouched (r16 ADVICE:
    // the old bare \w@hex mask silently corrupted such plans)
    val p = "agg=graft.functions.TopKAgg@cafe, " +
      "obj=SomeClass$$anon$1@3f, buf=[J@1a2b3c4d, lit=a@cafe, m=x@beef"
    val n = DevRun.normalizePlan(p)
    assert(n.contains("graft.functions.TopKAgg@HASH"), n)
    assert(n.contains("SomeClass$$anon$1@HASH"), n)
    assert(n.contains("[J@HASH"), n) // bare array type, but 8 hex digits
    assert(n.contains("lit=a@cafe"), "short bare-word hex must survive: " + n)
    assert(n.contains("m=x@beef"), "4-hex bare word must survive: " + n)
    // array-type toStrings mask at ANY hex length — ~0.05% of
    // identities hash under 6 digits and would otherwise produce a
    // spurious diff on a zero-change regeneration (r17 review)
    val arr = DevRun.normalizePlan("buf=[B@4a2f, mat=[[J@ff")
    assert(arr == "buf=[B@HASH, mat=[[J@HASH", arr)
  }

  test("run-local tmp root components mask; stable parts survive") {
    val p = "Location: InMemoryFileIndex [file:/tmp/" +
      "graft_carbon_0123456789abcdef0123456789abcdef_p4242/lines]"
    val n = DevRun.normalizePlan(p)
    assert(n.contains("graft_carbon_DIGEST_pPID/lines"), n)
    // a real testdata path is NOT masked
    val q = "file:/root/testdata/sf0.001/events.parquet"
    assert(DevRun.normalizePlan(q) == q)
  }

  test("RDD creation-site line numbers mask; the file name survives") {
    // a scaladoc-only edit above a localCheckpoint call site shifts the
    // line number baked into the RDD's toString and produced a 6-hunk
    // spurious diff at the r17 close — the line masks, the FILE stays
    // so a subtree switching sources still shows in the diff
    val p = "Arguments: [q#1L], MapPartitionsRDD[534] at " +
      "localCheckpoint at Similarity.scala:539, ExistingRDD"
    val n = DevRun.normalizePlan(p)
    assert(n.contains("at Similarity.scala:LINE,"), n)
    assert(!n.contains(":539"), n)
    // parquet paths and plain text with colons are untouched
    val q = "file:/root/testdata/sf0.001/events.parquet"
    assert(DevRun.normalizePlan(q) == q)
  }

  test("RDD ids renumber by first appearance, distinct ids stay distinct") {
    // MapPartitionsRDD[N] counts every RDD the JVM created before, so a
    // revision that runs one more job earlier shifts it
    val a = "MapPartitionsRDD[3581] at x, MapPartitionsRDD[3590], " +
      "MapPartitionsRDD[3581], rdd_3581"
    val b = "MapPartitionsRDD[12] at x, MapPartitionsRDD[40], " +
      "MapPartitionsRDD[12], rdd_7"
    assert(DevRun.normalizePlan(a) == DevRun.normalizePlan(b))
    assert(DevRun.normalizePlan(a) ==
      "MapPartitionsRDD[1] at x, MapPartitionsRDD[2], MapPartitionsRDD[1], rdd_1")
  }
}
