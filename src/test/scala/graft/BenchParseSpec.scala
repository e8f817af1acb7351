package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression tripwire's previous-round parser must survive
  * the DRIVER's artifact shape: our stdout JSON-escaped inside a wrapper
  * object's `tail` field, head-truncated mid-map (r9's real file lost
  * the `"queries":{` marker entirely — the first parser version required
  * it verbatim and was silently vacuous).
  */
class BenchParseSpec extends AnyFunSuite {

  test("parses escaped, head-truncated driver wrappers") {
    // shaped like BENCH_r09.json: wrapper fields + escaped tail whose
    // median map lost its head (no "queries":{ marker survives)
    val wrapper =
      """{"n": 9, "rc": 0, "cpus": 32, "sf": 0.1, "tail": """ +
        """"target_tags\":0.217200571,\"wsp_fetch\":0.148363454,""" +
        """\"wsp_fill\":0.103000404},\"queries_cold\":{\"wsp_fetch\":""" +
        """0.216504634,\"wsp_fill\":1.187278183},\"sf\":\"/root/x\"}\n""" +
        """{\"metric\":\"total\",\"value\":45.02,\"total_cold\":103.65,""" +
        """\"unit\":\"sec\",\"runs\":3,\"keys\":148}", "parsed": null}"""
    val m = Bench.parsePrevBench(wrapper)
    assert(m("wsp_fetch") == 0.148363454) // median, not the cold 0.216
    assert(m("wsp_fill") == 0.103000404)
    // the truncation artifact "target_tags" parses too — harmless, it is
    // never a current query key
    assert(!m.contains("value") && !m.contains("sf") && !m.contains("rc"),
      "summary/wrapper fields must not masquerade as query keys")
  }

  test("parses a plain un-wrapped bench line and keeps first occurrence") {
    val plain =
      """{"metric":"total","value":1.0,"unit":"sec","runs":3,""" +
        """"queries":{"q_a":0.5,"q_b":1.5e-1},"queries_cold":{"q_a":2.0,""" +
        """"q_b":3.0},"sf":"/d"}"""
    val m = Bench.parsePrevBench(plain)
    assert(m("q_a") == 0.5 && m("q_b") == 0.15)
  }

  test("r12+ layout: cold map first, medians last — marker section wins") {
    // since r12 the median map prints LAST so tail-truncation keeps it;
    // a truncated artifact then holds a cold-map SUFFIX plus the full
    // median map. The parser must take medians, not the cold survivors.
    val truncated =
      """{"n": 9, "rc": 0, "tail": """ +
        """"q_b\":3.0},\"queries\":{\"q_a\":0.5,\"q_b\":0.15},""" +
        """\"sf\":\"/d\"}\n{\"metric\":\"total\",\"value\":1.0}", "x": 0}"""
    val m = Bench.parsePrevBench(truncated)
    assert(m("q_a") == 0.5 && m("q_b") == 0.15,
      "cold survivors must not shadow the median map")
  }

  test("r15+ canary line cannot shadow medians or inject fake keys") {
    // since r15 a canary line (`{"metric":"canary","ratio":…,"norm":…,
    // "keys":{"canary_<key>":ratio,…}}`) prints AFTER the median map and
    // is persisted in BENCH_FULL.json. The parser must (a) not let a
    // canary RATIO masquerade as a key's previous MEDIAN — guaranteed by
    // the canary_ name prefix — and (b) drop the ratio/norm meta fields.
    val withCanary =
      """{"metric":"total","queries":{"scan_points":0.11,"q_b":0.5},""" +
        """"sf":"/d"}""" + "\n" +
        """{"metric":"canary","ratio":1.4,"norm":1.4,""" +
        """"keys":{"canary_scan_points":1.4,"canary_q_b":1.3}}"""
    val m = Bench.parsePrevBench(withCanary)
    assert(m("scan_points") == 0.11, "canary ratio must not shadow a median")
    assert(!m.contains("ratio") && !m.contains("norm"),
      "canary meta fields must not masquerade as query keys")
  }

  test("r17 rolling-best baseline: per-key MIN across artifacts") {
    // the r16 tripwire compared against "newest artifact wins, committed
    // map fills gaps" — a key that regressed in the builder's close-out
    // run entered the committed baseline pre-elevated and a 2.8x driver
    // regression read as 1.19x (r16 verdict #1: multimodal_decode_real).
    // The rolling-best form must keep the FASTEST median seen per key.
    val older = """{"metric":"total","queries":{"decode":0.49,"only_old":0.2},"sf":"/d"}"""
    val newer = """{"metric":"total","queries":{"decode":1.16,"only_new":0.3},"sf":"/d"}"""
    val m = Bench.bestBaseline(Seq(older, newer))
    assert(m("decode") == 0.49, "elevated newer median must not mask the best")
    assert(m("only_old") == 0.2 && m("only_new") == 0.3,
      "keys present in only one artifact must survive")
  }

  test("rolling-best baseline drops zero entries and tolerates garbage") {
    // a key that errored one round (timed ~0) must not become an
    // unbeatable baseline; a garbage artifact must not poison the fold
    val errored = """{"metric":"total","queries":{"q":0.0},"sf":"/d"}"""
    val good = """{"metric":"total","queries":{"q":0.4},"sf":"/d"}"""
    val m = Bench.bestBaseline(Seq(errored, "not json at all", good))
    assert(m("q") == 0.4, "a zero median must not win the min")
  }

  test("r18 final compact contract line: parses whole or truncated, no poison") {
    // since r18 the LAST stdout line repeats the medians compactly
    // (ascending, 3-decimal) with the summary fields closing the line so
    // a ~2 KB tail keeps total+canary plus the most expensive keys. The
    // parser must read its pairs as medians and keep every summary and
    // canary field out of the baseline map.
    val lastLine =
      """{"metric":"total","queries":{"agg_sum":0.061,"scan_points":0.085,""" +
        """"dedup_ngram_jaccard":1.44},"canary":{"ratio":0.94,"norm":1.0,""" +
        """"keys":{"canary_scan_points":0.85,"canary_agg_sum":0.79}},""" +
        """"value":67.94,"total_cold":132.4,"unit":"sec","runs":3,""" +
        """"stream_runs":4,"keys":216,"sf":"/d"}"""
    val m = Bench.parsePrevBench(lastLine)
    assert(m("agg_sum") == 0.061 && m("dedup_ngram_jaccard") == 1.44)
    assert(!m.contains("value") && !m.contains("ratio") && !m.contains("norm")
      && !m.contains("keys"), "summary/canary meta must not become keys")
    // head-truncated mid-map (the driver tail's usual cut): the marker is
    // gone, the surviving suffix pairs must still parse as medians
    val cut = lastLine.substring(lastLine.indexOf("\"scan_points\""))
    val m2 = Bench.parsePrevBench(cut)
    assert(m2("scan_points") == 0.085 && m2("dedup_ngram_jaccard") == 1.44)
    assert(!m2.contains("value") && !m2.contains("total_cold"))
  }

  test("garbage input yields an empty map, never a throw") {
    assert(Bench.parsePrevBench("").isEmpty)
    // wrapper fields with string values must not produce entries at all
    assert(Bench.parsePrevBench("{\"tail\": \"no pairs here\"}").isEmpty)
  }

  test("r17 probe gate: value semantics, not presence") {
    // SPARK_GRAFT_PROBE=0 / empty / 'false' must mean OFF — a var
    // exported-but-disabled in a prior shell silently enabling ~216
    // extra output lines is the r17 review finding this pins
    assert(!Bench.probeEnabled(None))
    assert(!Bench.probeEnabled(Some("")))
    assert(!Bench.probeEnabled(Some("0")))
    assert(!Bench.probeEnabled(Some("false")) && !Bench.probeEnabled(Some("FALSE")))
    assert(Bench.probeEnabled(Some("1")) && Bench.probeEnabled(Some("true")))
  }

  test("r17 probe ladder: exhaustive last rung at any centroid count") {
    import graft.ops.Similarity.probeLadder
    // the historical default must be byte-identical
    assert(probeLadder(16) == Seq(1, 2, 4, 8, 16))
    // non-power k appends itself once; power-of-two k must NOT duplicate
    assert(probeLadder(160) == Seq(1, 2, 4, 8, 16, 32, 64, 128, 160))
    assert(probeLadder(4) == Seq(1, 2, 4))
    assert(probeLadder(5) == Seq(1, 2, 4, 5))
    // the invariants AnnRecallSpec's recall-1.0 pin rides on
    for (k <- Seq(4, 5, 16, 31, 160, 1 << 20)) {
      val l = probeLadder(k)
      assert(l.last == k, s"last rung must scan every cluster (k=$k)")
      assert(l == l.distinct && l == l.sorted, s"strictly increasing (k=$k)")
    }
  }

  test("a failing rep yields its error record, never a time") {
    val boom = new IllegalStateException("bad \"plan\"\n\tat C:\\x")
    assert(Bench.timed(throw boom) == Left(boom))
    assert(Bench.timed(42L).exists(_ >= 0.0))
    // one JSON line naming the key, the rep and the exception
    val rec = Bench.errorRecord("q_a", 2, boom)
    assert(!rec.contains("\n"))
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(rec)
    assert((j \ "metric").extract[String] == "error")
    assert((j \ "key").extract[String] == "q_a")
    assert((j \ "rep").extract[Int] == 2)
    assert((j \ "error").extract[String] == boom.toString)
    // and it never enters a baseline as a key's timing
    assert(Bench.parsePrevBench(rec).isEmpty)
  }
}
