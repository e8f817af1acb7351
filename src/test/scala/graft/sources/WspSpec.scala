package graft.sources

import graft.model.{AggregationMethod, Retentions, WhisperSchema}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Codec goldens (hand-computed big-endian bytes), ring-lap overwrite,
  * Spark write→read round trips, and the DSv2 pushdown surface (file
  * pruning by metric, slot filtering by ts, column pruning).
  */
class WspSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("wsp_spec").toString

  // 10s:6pts, 60s:5pts — tiny two-level ring
  private val schema = WhisperSchema(
    Seq(graft.model.Retention(10, 6), graft.model.Retention(60, 5)),
    AggregationMethod.Sum, 0.0)

  test("codec golden: header bytes and archive offsets are the whisper layout") {
    val file = WspCodec.emptyFile(schema)
    // size: 16 + 2*12 + (6+5)*12 = 172
    assert(file.length == 172)
    val buf = java.nio.ByteBuffer.wrap(file).order(java.nio.ByteOrder.BIG_ENDIAN)
    assert(buf.getInt() == 2)            // aggregationType = Sum
    assert(buf.getInt() == 300)          // maxRetention = 60*5
    assert(buf.getFloat() == 0.0f)       // xFilesFactor
    assert(buf.getInt() == 2)            // archiveCount
    assert((buf.getInt(), buf.getInt(), buf.getInt()) == ((40, 10, 6)))
    assert((buf.getInt(), buf.getInt(), buf.getInt()) == ((112, 60, 5)))
    assert(WspCodec.decodePoints(file).isEmpty) // all slots zero
    val h = WspCodec.readHeader(file)
    assert(h == WspHeader(2, 300L, 0.0f, Seq(
      WspArchiveInfo(40, 10, 6), WspArchiveInfo(112, 60, 5))))
  }

  test("codec: write/decode round trip, first write pins slot 0") {
    val file = WspCodec.emptyFile(schema)
    val info = WspCodec.archiveInfos(schema).head
    WspCodec.writeArchive(file, info, Seq((1000L, 1.5), (1020L, 2.5), (1050L, -3.0)))
    // base=1000 at slot 0; 1020 → slot 2; 1050 → slot 5
    val buf = java.nio.ByteBuffer.wrap(file).order(java.nio.ByteOrder.BIG_ENDIAN)
    assert(buf.getInt(info.offset) == 1000 && buf.getDouble(info.offset + 4) == 1.5)
    assert(buf.getInt(info.offset + 2 * 12) == 1020)
    assert(buf.getInt(info.offset + 5 * 12) == 1050)
    assert(WspCodec.decodePoints(file).toSeq ==
      Seq(WspPoint(0, 10, 6, 1000L, 1.5), WspPoint(0, 10, 6, 1020L, 2.5),
        WspPoint(0, 10, 6, 1050L, -3.0)))
  }

  test("codec: ring lap — a point one retention later overwrites its slot") {
    val file = WspCodec.emptyFile(schema)
    val info = WspCodec.archiveInfos(schema).head // 6 slots of 10s
    WspCodec.writeArchive(file, info,
      Seq((1000L, 1.0), (1010L, 2.0), (1060L, 9.0))) // 1060 laps onto slot 0
    val pts = WspCodec.decodePoints(file).toSeq
    assert(pts == Seq(WspPoint(0, 10, 6, 1060L, 9.0), WspPoint(0, 10, 6, 1010L, 2.0)))
  }

  test("spark round trip: export per-metric files, scan them back") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      ("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0),
      ("mem", 0, 1000L, 7.5), ("mem", 1, 960L, 5.0))
      .toDF("metric", "archive", "bucket_ts", "value")
    val manifest = WspWrite.export(df, dir, schema)
    assert(manifest.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("cpu", 2L), ("mem", 2L)))
    val back = spark.read.format("wsp").load(dir)
      .select("metric", "archive", "spp", "ts_s", "value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(back == Set(
      ("cpu", 0, 10, 1000L, 1.0), ("cpu", 0, 10, 1010L, 2.0),
      ("mem", 0, 10, 1000L, 7.5), ("mem", 1, 60, 960L, 5.0)))
  }

  test("metric equality prunes to one FILE at planning; ts range filters slots") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("a", 0, 100L, 1.0), ("b", 0, 100L, 2.0), ("c", 0, 110L, 3.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)

    // file pruning observed through the ScanBuilder directly
    val sb = new WspScanBuilder(Seq(dir))
    sb.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("metric", "b")))
    val planned = sb.build().asInstanceOf[WspScan].listFiles()
    assert(planned.map(_._3) == Seq("b"))

    // end-to-end through the DataFrame API
    val one = spark.read.format("wsp").load(dir).filter($"metric" === "b")
    assert(one.select("ts_s", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((100L, 2.0)))
    val ranged = spark.read.format("wsp").load(dir).filter($"ts_s" > 100L)
    assert(ranged.select("metric").as[String].collect().toSeq == Seq("c"))
    // column pruning: a metric-only projection decodes fine
    assert(spark.read.format("wsp").load(dir).select("metric")
      .as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("metricGlob read option prunes FILES by graphite glob at listing time") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("servers.a.cpu", 0, 100L, 1.0), ("servers.b.cpu", 0, 100L, 2.0),
        ("servers.a.mem", 0, 100L, 3.0), ("hosts.a.cpu", 0, 110L, 4.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    // a corrupt NON-matching file proves the prune is real: a glob scan
    // must never open it, an unglobbed scan must fail on it
    val bad = new java.io.File(s"$dir/hosts.bad.wsp")
    java.nio.file.Files.write(bad.toPath, Array.fill[Byte](10)(0x7f))
    val sb = new WspScanBuilder(Seq(dir), metricGlob = Some("servers.*.cpu"))
    assert(sb.build().asInstanceOf[WspScan].listFiles().map(_._3).sorted ==
      Seq("servers.a.cpu", "servers.b.cpu"))
    val got = spark.read.format("wsp").option("metricGlob", "servers.*.cpu")
      .load(dir).select("metric", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("servers.a.cpu", 1.0), ("servers.b.cpu", 2.0)))
    assertThrows[Exception] {
      spark.read.format("wsp").load(dir).collect()
    }
    assert(bad.delete())
  }

  /** One-point `.wsp` files at the given dotted names, as a tree. */
  private def nameTree(names: String*): String = {
    val dir = tmp()
    val bytes = WspCodec.emptyFile(schema)
    WspCodec.writeArchive(bytes, WspCodec.archiveInfos(schema).head, Seq((1000L, 1.0)))
    for (n <- names) {
      val f = Paths.get(dir, n.split('.').toSeq: _*)
      Files.createDirectories(f.getParent)
      Files.write(f.resolveSibling(f.getFileName.toString + ".wsp"), bytes)
    }
    dir
  }

  private def listing(scan: WspScan): Map[String, Long] =
    scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap

  test("the pruned walk selects exactly the full walk's files that the filter keeps") {
    val names = Seq("a.b.c", "a.bc.c", "a.x.c", "a.b", "ab.c", "a.b.c.d", "b.b.c",
      "c.q", "c.r.s", "a.d.c", "a.[.c", "a.!.c", "x.y.z.w", "c")
    val dir = nameTree(names: _*)
    val full = new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan]
    val all = full.listFiles().map(_._3)
    assert(all.sorted == names.sorted)
    val fullDirs = listing(full)("dirsListed")
    for (g <- Seq("*", "*.*.*", "a.*.c", "a.?.c", "a.{b,x}.c", "{a.b,c}.*", "{a.b,c}",
        "a.[bx].c", "a.[!bx].c", "a.[a-c]*", "a.[!]].c", "*.b.*", "a?b.c", "x.y.z.*", "nope.*")) {
      val rx = java.util.regex.Pattern.compile(graft.ops.Fetch.globToRegex(g))
      val scan = new WspScanBuilder(Seq(dir), metricGlob = Some(g)).build().asInstanceOf[WspScan]
      val got = scan.listFiles().map(_._3)
      assert(got.sorted == all.filter(rx.matcher(_).matches).sorted, s"glob $g")
      val m = listing(scan)
      assert(m("filesSelected") == got.size && m("dirsListed") <= fullDirs, s"glob $g: $m")
    }
    val sb = new WspScanBuilder(Seq(dir))
    sb.pushFilters(Array(org.apache.spark.sql.sources.In("metric",
      Array("a.b.c", "c.r.s", "c", "zz.top"))))
    val pushed = sb.build().asInstanceOf[WspScan]
    assert(pushed.listFiles().map(_._3).sorted == Seq("a.b.c", "c", "c.r.s"))
    // root, a, a/b, c, c/r — never b, x, ab or a/{bc,x,d,[,!}
    assert(listing(pushed)("dirsListed") == 5)
  }

  test("a one-host glob lists only the directories on its path (scan node metrics)") {
    val hosts = for (d <- 0 until 2; h <- 0 until 5; m <- Seq("cpu", "mem"))
      yield s"servers.dc$d.host00$h.$m"
    val dir = nameTree(hosts: _*)
    val q = spark.read.format("wsp").option("metricGlob", "servers.dc1.host003.*").load(dir)
      .select("metric")
    assert(q.collect().map(_.getString(0)).toSet ==
      Set("servers.dc1.host003.cpu", "servers.dc1.host003.mem"))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    // root, servers, dc1, host003 — not the other 2 + 10 directories
    assert(scan.metrics("dirsListed").value == 4)
    assert(scan.metrics("filesSeen").value == 2 && scan.metrics("filesSelected").value == 2)
  }

  test("a directory link back to an ancestor fails the scan, naming the link; other links alias") {
    val dir = nameTree("a.b.cpu")
    Files.createSymbolicLink(Paths.get(dir, "alias"), Paths.get(dir, "a", "b"))
    assert(new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan].listFiles().map(_._3)
      .sorted == Seq("a.b.cpu", "alias.cpu"))
    Files.createSymbolicLink(Paths.get(dir, "a", "loop"), Paths.get(dir, "a"))
    val e = intercept[IllegalStateException] {
      new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan].listFiles()
    }
    assert(e.getMessage.contains("a/loop") &&
      e.getMessage.contains(Paths.get(dir, "a").toRealPath().toString), e.getMessage)
    // a glob that never reaches the link still reads
    assert(new WspScanBuilder(Seq(dir), metricGlob = Some("a.b.*")).build()
      .asInstanceOf[WspScan].listFiles().map(_._3) == Seq("a.b.cpu"))
  }

  test("pushed metric/ts filters are absorbed — no residual Filter node") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("a", 0, 100L, 1.0), ("b", 0, 100L, 2.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    val q = spark.read.format("wsp").load(dir)
      .filter($"metric" === "b" && $"ts_s" >= 50L && $"ts_s" <= 150L)
    val plan = q.queryExecution.executedPlan.toString
    // the scan description carries the pushed state…
    assert(plan.contains("metric=b") && plan.contains("ts_s=[50,150]"))
    // …and no Filter node re-evaluates what the source absorbed
    assert(q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty)
    assert(q.collect().map(_.getDouble(5)).toSeq == Seq(2.0))
  }

  test("ts bounds at the Long extremes yield empty results, not full scans") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("a", 0, 100L, 1.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    // strict bounds at the extremes are provably empty; a naive v±1
    // conversion would wrap and return every row (filters are absorbed)
    assert(spark.read.format("wsp").load(dir)
      .filter($"ts_s" > Long.MaxValue).count() == 0)
    assert(spark.read.format("wsp").load(dir)
      .filter($"ts_s" < Long.MinValue).count() == 0)
  }

  test("SQL surface: CREATE TEMPORARY VIEW USING wsp") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("a", 0, 100L, 1.0), ("b", 0, 100L, 2.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW wsp_sql_view USING wsp OPTIONS (path '$dir')")
    assert(spark.sql("SELECT count(*) FROM wsp_sql_view").head().getLong(0) == 2)
    assert(spark.sql("SELECT value FROM wsp_sql_view WHERE metric = 'b'")
      .head().getDouble(0) == 2.0)
  }

  test("nested directories become dotted metric names") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("x", 0, 100L, 1.0)).toDF("metric", "archive", "bucket_ts", "value"),
      s"$dir/servers/web1", schema)
    val names = spark.read.format("wsp").load(dir)
      .select("metric").as[String].collect().toSeq
    assert(names == Seq("servers.web1.x"))
  }

  test("WhisperTable.exportWsp round-trips levels and propagated values") {
    import spark.implicits._
    import graft.{TimeSeriesPoint, WhisperTable}
    val now = 1706659200L
    val t = WhisperTable.create(spark,
      Files.createTempDirectory("wsp_export").resolve("t").toString,
      Retentions.tight) // 1s:120, 10s:1h — Sum, xff 0
    val base = now - 40 // 10s-aligned
    t.updateMany(Seq(
      TimeSeriesPoint("cpu", base, 1.0), TimeSeriesPoint("cpu", base + 3, 2.0),
      TimeSeriesPoint("cpu", base + 12, 5.0), TimeSeriesPoint("mem", base + 1, 7.0))
      .toDS(), now)
    val out = tmp()
    t.exportWsp(out)
    val back = spark.read.format("wsp").load(out)
      .select("metric", "archive", "ts_s", "value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(back == Set(
      // level 0: raw 1s slots
      ("cpu", 0, base, 1.0), ("cpu", 0, base + 3, 2.0), ("cpu", 0, base + 12, 5.0),
      ("mem", 0, base + 1, 7.0),
      // level 1: 10s Sum propagation
      ("cpu", 1, base, 3.0), ("cpu", 1, base + 10, 5.0), ("mem", 1, base, 7.0)))
  }

  test("importWsp: a tree exported from one table rebuilds an equal table") {
    import spark.implicits._
    import graft.{TimeSeriesPoint, WhisperTable}
    val now = 1706659200L
    val t1 = WhisperTable.create(spark,
      Files.createTempDirectory("wsp_import").resolve("src").toString,
      Retentions.tight) // 1s:120, 10s:1h, Sum
    val base = now - 40
    t1.updateMany(Seq(
      TimeSeriesPoint("cpu", base, 1.0), TimeSeriesPoint("cpu", base + 3, 2.0),
      TimeSeriesPoint("mem", base + 12, 5.0)).toDS(), now)
    val tree = tmp()
    t1.exportWsp(tree)
    // one call: schema read from the binary header, levels bulk-loaded
    val t2 = WhisperTable.importWsp(spark, tree,
      Files.createTempDirectory("wsp_import").resolve("dst").toString)
    assert(t2.retentions == Retentions.tight.retentions)
    assert(t2.aggregationMethod == graft.model.AggregationMethod.Sum)
    def dense(t: WhisperTable, m: String) =
      t.fetch(m, now - 60, now, now).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    assert(dense(t2, "cpu") == dense(t1, "cpu"))
    assert(dense(t2, "mem") == dense(t1, "mem"))
  }

  test("importWspGrouped splits a heterogeneous tree by header schema") {
    import spark.implicits._
    import graft.WhisperTable
    val tree = tmp()
    // two subtrees with DIFFERENT retention configs in one tree — the
    // storage-schemas.conf shape importWsp refuses
    WspWrite.export(Seq(("servers/cpu", 0, 1000L, 1.0))
      .toDF("metric", "archive", "bucket_ts", "value"), tree, schema) // 10s:6, 60s:5
    val other = WhisperSchema(
      Seq(graft.model.Retention(30, 4)), AggregationMethod.Last, 0.5)
    WspWrite.export(Seq(("apps/gpu", 0, 990L, 7.0))
      .toDF("metric", "archive", "bucket_ts", "value"), tree, other)

    val tables = WhisperTable.importWspGrouped(spark, tree,
      Files.createTempDirectory("wsp_grouped").toString)
    assert(tables.size == 2)
    val bySpp = tables.values.map(t => t.retentions.head.secondsPerPoint ->
      t).toMap
    assert(bySpp.keySet == Set(10, 30))
    assert(bySpp(30).aggregationMethod == AggregationMethod.Last)
    // metric names stay tree-relative and dotted despite per-file loads
    // (fetch windows sized inside each FINEST archive's retention so
    // whisper's archive routing serves the level we loaded)
    def values(t: graft.WhisperTable, m: String, fromS: Long) =
      t.fetch(m, fromS, 1020, 1020).collect()
        .collect { case r if !r.isNullAt(1) => (r.getLong(0), r.getDouble(1)) }
        .toSet
    assert(values(bySpp(10), "servers.cpu", 970) == Set((1000L, 1.0)))
    assert(values(bySpp(10), "cpu", 970).isEmpty) // NOT flattened to base name
    assert(values(bySpp(30), "apps.gpu", 905) == Set((990L, 7.0)))
  }

  test("merge updates a live tree: old slots survive, same slots overwrite") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    // batch 2: overwrite slot 1010, add 1020, and a brand-new metric
    WspWrite.merge(
      Seq(("cpu", 0, 1010L, 9.0), ("cpu", 0, 1020L, 3.0), ("gpu", 0, 500L, 7.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    val back = spark.read.format("wsp").load(dir)
      .select("metric", "ts_s", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == Set(
      ("cpu", 1000L, 1.0),  // untouched prior slot survives
      ("cpu", 1010L, 9.0),  // overwritten in place
      ("cpu", 1020L, 3.0),  // new slot against the ESTABLISHED base (1000)
      ("gpu", 500L, 7.0)))  // fresh file created by merge
    // base stayed pinned at the first write: slot 0 still holds 1000
    val p = new org.apache.hadoop.fs.Path(s"$dir/cpu.wsp")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = new Array[Byte](WspCodec.fileSize(schema))
    val in = fs.open(p); try in.readFully(0, bytes) finally in.close()
    assert(WspCodec.archiveBase(bytes, WspCodec.archiveInfos(schema).head) == 1000L)
  }

  test("DSv2 write: overwrite creates files, append merges into them") {
    import spark.implicits._
    val dir = tmp()
    def save(mode: String, rows: (String, Int, Long, Double)*): Unit =
      rows.toDF("metric", "archive", "ts_s", "value")
        .write.format("wsp")
        .option("retentions", "10s:6,60s:5")
        .option("aggregationMethod", "sum")
        .option("xFilesFactor", "0")
        .mode(mode).save(dir)
    save("overwrite", ("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0),
      ("mem", 1, 960L, 5.0))
    // append merges: old slots survive, same slots overwrite, new
    // metrics appear — the carbon-daemon batch shape through
    // df.write.format("wsp")
    save("append", ("cpu", 0, 1010L, 9.0), ("cpu", 0, 1020L, 3.0),
      ("gpu", 0, 500L, 7.0))
    val back = spark.read.format("wsp").load(dir)
      .select("metric", "archive", "ts_s", "value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(back == Set(
      ("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 9.0), ("cpu", 0, 1020L, 3.0),
      ("mem", 1, 960L, 5.0), ("gpu", 0, 500L, 7.0)))
  }

  test("DSv2 write: null fields fail loudly; many-metric write stays flush-streamed") {
    import spark.implicits._
    val dir = tmp()
    // a null ts_s would write interval 0 — whisper's UNWRITTEN marker —
    // silently erasing a live slot in merge mode; the writer must
    // reject it, as the V1 encoder path did
    val bad = Seq(("cpu", 0, Some(1000L), 1.0), ("cpu", 0, None, 2.0))
      .toDF("metric", "archive", "ts_s", "value")
    val e = intercept[Exception] {
      bad.write.format("wsp").option("retentions", "10s:6")
        .mode("overwrite").save(dir)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => Option(c.getMessage)
        .exists(_.contains("whisper points cannot be null"))),
      s"no null-point error in the cause chain: $e")
    // overwrite with MANY metrics through the sorted flush-on-key-change
    // path: every file lands complete (one ring live at a time)
    val many = (0 until 40).map(i => (s"m$i", 0, 1000L + (i % 6) * 10, i.toDouble))
    many.toDF("metric", "archive", "ts_s", "value")
      .write.format("wsp").option("retentions", "10s:6")
      .mode("overwrite").save(dir)
    val back = spark.read.format("wsp").load(dir)
      .select("metric").distinct().count()
    assert(back == 40)
  }

  test("DSv2 writeStream rejects complete output mode (no tree-wide truncate)") {
    import spark.implicits._
    val src = tmp(); val dst = tmp()
    Seq(("cpu", 0, 1000L, 1.0)).toDF("metric", "archive", "ts_s", "value")
      .write.parquet(s"$src/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$src/in").schema)
      .parquet(s"$src/in")
      .groupBy($"metric", $"archive", $"ts_s").agg(org.apache.spark.sql.functions.max($"value").as("value"))
    val e = intercept[Exception] {
      stream.writeStream.format("wsp").outputMode("complete")
        .option("retentions", "10s:6")
        .option("checkpointLocation", s"$dst/ck")
        .start(s"$dst/tree")
        .processAllAvailable()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("no tree-wide truncate"),
      s"expected the sink's complete-mode rejection, got: $chain")
  }

  test("DSv2 write: the full read schema round-trips through save") {
    import spark.implicits._
    val src = tmp(); val dst = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 1.5), ("mem", 1, 960L, 5.0))
        .toDF("metric", "archive", "bucket_ts", "value"),
      src, schema)
    // scan → write: the DSv2 contract is symmetric, spp/points included
    // (and validated against the retentions option)
    spark.read.format("wsp").load(src)
      .write.format("wsp")
      .option("retentions", "10s:6,60s:5")
      .option("aggregationMethod", "sum").option("xFilesFactor", "0")
      .mode("overwrite").save(dst)
    val back = spark.read.format("wsp").load(dst)
      .select("metric", "archive", "spp", "points", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(back == Set(
      ("cpu", 0, 10, 6, 1000L, 1.5), ("mem", 1, 60, 5, 960L, 5.0)))
  }

  test("DSv2 write: missing retentions, bad columns, wrong geometry fail loudly") {
    import spark.implicits._
    val dir = tmp()
    val ok = Seq(("cpu", 0, 1000L, 1.0)).toDF("metric", "archive", "ts_s", "value")
    val e1 = intercept[Exception] {
      ok.write.format("wsp").mode("append").save(dir)
    }
    assert(e1.getMessage.contains("retentions"))
    val e2 = intercept[Exception] {
      ok.drop("ts_s").write.format("wsp")
        .option("retentions", "10s:6").mode("append").save(dir)
    }
    assert(e2.getMessage.contains("ts_s or bucket_ts"))
    // spp from a DIFFERENT retention config: per-row cross-check trips
    val e3 = intercept[Exception] {
      ok.withColumn("spp", org.apache.spark.sql.functions.lit(30))
        .write.format("wsp")
        .option("retentions", "10s:6").mode("append").save(dir)
    }
    assert(e3.getMessage.contains("does not match the retentions") ||
      Option(e3.getCause).exists(_.getMessage.contains("does not match the retentions")))
  }

  test("DSv2 streaming write: each epoch merges, bucket_ts alias accepted") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Int, Long, Double)]
    val q = ms.toDF().toDF("metric", "archive", "bucket_ts", "value")
      .writeStream.format("wsp")
      .option("retentions", "10s:6,60s:5")
      .option("aggregationMethod", "sum").option("xFilesFactor", "0")
      .option("checkpointLocation", tmp())
      .start(dir)
    try {
      ms.addData(("cpu", 0, 1000L, 1.0)); q.processAllAvailable()
      // epoch 2 must MERGE into the live file, not recreate it
      ms.addData(("cpu", 0, 1010L, 2.0), ("gpu", 0, 500L, 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("wsp").load(dir)
      .select("metric", "ts_s", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(back == Set(
      ("cpu", 1000L, 1.0), ("cpu", 1010L, 2.0), ("gpu", 500L, 7.0)))
  }

  test("merge is idempotent: replaying a batch leaves identical bytes") {
    import spark.implicits._
    val dir = tmp()
    val b1 = Seq(("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0))
      .toDF("metric", "archive", "bucket_ts", "value")
    val b2 = Seq(("cpu", 0, 1010L, 9.0), ("cpu", 0, 1020L, 3.0))
      .toDF("metric", "archive", "bucket_ts", "value")
    WspWrite.export(b1, dir, schema)
    WspWrite.merge(b2, dir, schema)
    def bytesOf: Seq[Byte] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/cpu.wsp")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val b = new Array[Byte](WspCodec.fileSize(schema))
      val in = fs.open(p); try in.readFully(0, b) finally in.close()
      b.toSeq
    }
    val once = bytesOf
    // at-least-once delivery: the same micro-batch merged again must be
    // a byte-level no-op (slot overwrite with the same winners)
    WspWrite.merge(b2, dir, schema)
    assert(bytesOf == once)
  }

  test("merge refuses a file whose retention config does not match") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 1.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    val other = WhisperSchema(
      Seq(graft.model.Retention(10, 12)), AggregationMethod.Sum, 0.0)
    val err = intercept[org.apache.spark.SparkException] {
      WspWrite.merge(
        Seq(("cpu", 0, 1000L, 2.0)).toDF("metric", "archive", "bucket_ts", "value"),
        dir, other)
    }
    assert(causes(err).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("refusing to merge")), causes(err).map(_.getMessage).mkString(" | "))
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** Files of `metrics` under `dir` are whole before the manifest is
    * touched; the manifest holds one row per metric whose points sum to
    * `nRows`, and collecting it twice runs no job and rewrites no file. */
  private def checkWritten(manifest: org.apache.spark.sql.DataFrame, dir: String,
      metrics: Seq[String], nRows: Long): Unit = {
    val files = metrics.map(m => new java.io.File(dir, s"$m.wsp"))
    assert(files.forall(f => f.isFile && f.length == WspCodec.fileSize(schema)))
    val mtimes = files.map(_.lastModified)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = org.apache.spark.graftprobe.Jobs.counted(spark.sparkContext) {
      rows = manifest.collect()
      manifest.collect()
    }
    assert(jobs == 0)
    assert(files.map(_.lastModified) == mtimes)
    assert(rows.map(_.getString(0)).sorted.toSeq == metrics)
    assert(rows.map(_.getLong(1)).sum == nRows)
    assert(rows.forall(_.getLong(2) == WspCodec.fileSize(schema)))
  }

  test("export and merge write every file once before returning; the manifest needs no job") {
    import spark.implicits._
    val metrics = (0 until 20).map(i => f"m$i%02d")
    // slots k..k+2 of each archive from 1200
    def batch(k: Int) = for (m <- metrics; a <- 0 to 1; j <- k until k + 3)
      yield (m, a, 1200L + j * schema.retentions(a).secondsPerPoint, j + 0.5)
    val dir = tmp()
    val b1 = batch(0)
    checkWritten(WspWrite.export(b1.toDF("metric", "archive", "bucket_ts", "value")
      .repartition(7), dir, schema), dir, metrics, b1.size)
    val b2 = batch(3)
    checkWritten(WspWrite.merge(b2.toDF("metric", "archive", "bucket_ts", "value")
      .repartition(7), dir, schema), dir, metrics, b2.size)
    // the merge kept batch 1's slots its own did not overwrite
    assert(spark.read.format("wsp").load(dir).filter($"metric" === "m00" && $"archive" === 0)
      .select("ts_s").as[Long].collect().sorted.toSeq == (1200L to 1250L by 10L))
  }

  test("export into a directory that does not exist yet creates it") {
    import spark.implicits._
    val dir = s"${tmp()}/not/yet"
    val rows = Seq(("cpu", 0, 1000L, 1.0), ("mem", 1, 960L, 2.0), ("mem", 0, 1000L, 3.0))
    checkWritten(WspWrite.export(rows.toDF("metric", "archive", "bucket_ts", "value"), dir, schema),
      dir, Seq("cpu", "mem"), rows.size)
  }

  test("export refuses a null value or bucket_ts with the writer's named message") {
    import spark.implicits._
    val nullValue = Seq(("cpu", 0, 1000L, Some(1.0)), ("cpu", 0, 1010L, None))
      .toDF("metric", "archive", "bucket_ts", "value")
    val nullTs = Seq(("cpu", 0, Some(1000L), 1.0), ("cpu", 0, None, 2.0))
      .toDF("metric", "archive", "bucket_ts", "value")
    for (df <- Seq(nullValue, nullTs)) {
      val chain = causes(intercept[org.apache.spark.SparkException] {
        WspWrite.export(df, tmp(), schema)
      }).map(t => String.valueOf(t.getMessage))
      assert(chain.exists(_.contains("whisper points cannot be null")), chain.mkString(" | "))
    }
  }

  test("schemaOptions round-trips every method, xFilesFactor and retention list") {
    import scala.jdk.CollectionConverters._
    for (method <- AggregationMethod.all; xff <- Seq(0.0, 0.1, 0.5, 1.0);
         rets <- Seq(Retentions.std.retentions, schema.retentions)) {
      val s = WhisperSchema(rets, method, xff)
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        WspWrite.schemaOptions(s).asJava)
      assert(WspWriteBuilder.schemaOf(opts) == s, WspWrite.schemaOptions(s))
    }
  }

  test("streaming read tails a live tree across merge writes") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 1.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    // end-to-end plumbing: readStream through the registered source
    spark.readStream.format("wsp").load(dir)
      .select("metric", "ts_s", "value")
      .writeStream.outputMode("append")
      .format("memory").queryName("wsp_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(spark.table("wsp_tail").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set(("cpu", 1000L, 1.0)))

    // incremental contract, driven through the MicroBatchStream API:
    // a batch plans the files whose mtime reached the prior offset or
    // moved past it (INCLUSIVE start — boundary files re-emit once per
    // advance; see WspOffset's scaladoc)
    val scan = new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan]
    val stream = scan.toMicroBatchStream("unused")
    val o1 = stream.latestOffset()
    assert(stream.planInputPartitions(stream.initialOffset(), o1)
      .flatMap(_.asInstanceOf[WspInputPartition].files).map(_._3).toSet == Set("cpu"))
    Thread.sleep(1100) // mtime granularity can be one second
    WspWrite.merge(
      Seq(("gpu", 0, 500L, 7.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    val o2 = stream.latestOffset()
    // the delta is the new file PLUS the o1-boundary file: cpu.wsp sits
    // exactly at the prior offset, so it re-emits once (a same-quantum
    // rewrite of it would be metadata-invisible; the boundary re-read is
    // what catches it — LWW sinks absorb the duplicate)
    assert(stream.planInputPartitions(o1, o2)
      .flatMap(_.asInstanceOf[WspInputPartition].files).map(_._3).toSet ==
      Set("cpu", "gpu"))
    // offset survives a checkpoint round trip
    assert(stream.deserializeOffset(o2.json()) == o2)
  }

  test("same-mtime-quantum rewrite is re-planned, not skipped") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 1.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    val scan = new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan]
    val stream = scan.toMicroBatchStream("unused")
    val o1 = stream.latestOffset()
    assert(stream.planInputPartitions(stream.initialOffset(), o1)
      .flatMap(_.asInstanceOf[WspInputPartition].files).map(_._3).toSet == Set("cpu"))

    // rewrite cpu.wsp with a new value, then PIN its mtime back to the
    // already-planned offset — the coarse-filesystem case where a second
    // merge lands in the same mtime quantum as a batch that already
    // covered the file (the file is fixed-size, so length can't move
    // either: the rewrite is metadata-invisible)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cpuPath = new org.apache.hadoop.fs.Path(dir, "cpu.wsp")
    val t1 = fs.getFileStatus(cpuPath).getModificationTime
    WspWrite.merge(
      Seq(("cpu", 0, 1000L, 2.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    fs.setTimes(cpuPath, t1, -1)

    // a later change elsewhere advances the offset and fires the batch
    WspWrite.merge(
      Seq(("gpu", 0, 500L, 7.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    fs.setTimes(new org.apache.hadoop.fs.Path(dir, "gpu.wsp"), t1 + 5000, -1)
    val o2 = stream.latestOffset()
    assert(o2.asInstanceOf[WspOffset].maxMtime == t1 + 5000)

    // the rewritten boundary file IS in the next batch...
    val planned = stream.planInputPartitions(o1, o2)
      .flatMap(_.asInstanceOf[WspInputPartition].files)
    assert(planned.map(_._3).toSet == Set("cpu", "gpu"))
    // ...and reading those partitions emits the NEW value
    val factory = stream.createReaderFactory()
    val got = stream.planInputPartitions(o1, o2).flatMap { p =>
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      while (r.next()) {
        val row = r.get()
        out += ((row.getUTF8String(0).toString, row.getLong(4), row.getDouble(5)))
      }
      r.close()
      out
    }.toSet
    assert(got == Set(("cpu", 1000L, 2.0), ("gpu", 500L, 7.0)))
  }

  test("publish is atomic on file:: concurrent reads during merges never " +
      "see a missing or partial file") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 0.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    val f = new java.io.File(dir, "cpu.wsp")
    val expectLen = f.length()
    assert(expectLen == WspCodec.fileSize(schema))

    // a tight filesystem-level reader races the replace window directly
    // (a missing file or a short read here is exactly the no-file window
    // the delete+rename publish used to leave)
    val failures = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        if (!f.exists()) failures.compareAndSet(null, "file missing")
        else if (f.length() != expectLen)
          failures.compareAndSet(null, s"partial file: ${f.length()}")
      }
    })
    reader.start()
    try {
      for (i <- 1 to 10)
        WspWrite.merge(
          Seq(("cpu", 0, 1000L, i.toDouble))
            .toDF("metric", "archive", "bucket_ts", "value"),
          dir, schema)
    } finally { stop.set(true); reader.join() }
    assert(failures.get() == null, String.valueOf(failures.get()))
    // the last merge won
    val got = spark.read.format("wsp").load(dir)
      .where("value != 0 or ts_s = 1000").collect()
      .map(r => (r.getAs[String]("metric"), r.getAs[Long]("ts_s"),
        r.getAs[Double]("value"))).toSet
    assert(got.contains(("cpu", 1000L, 10.0)))
  }

  test("publish drops a stale checksum sidecar and reads stay green") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(
      Seq(("cpu", 0, 1000L, 1.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    // fabricate the legacy layout: a checksumming writer's sidecar over
    // the CURRENT bytes, which a raw replace would otherwise leave stale
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir, "cpu.wsp")
    val lfs = path.getFileSystem(conf)
      .asInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem]
    val raw = lfs.getRawFileSystem
    val bytes = {
      val st = raw.getFileStatus(path)
      val b = new Array[Byte](st.getLen.toInt)
      val in = raw.open(path); try in.readFully(0, b) finally in.close()
      b
    }
    val out = lfs.create(path, true) // checksummed create writes the .crc
    try out.write(bytes) finally out.close()
    assert(raw.exists(lfs.getChecksumFile(path)))

    // a merge replaces the data; the stale sidecar must go with it
    WspWrite.merge(
      Seq(("cpu", 0, 1010L, 2.0)).toDF("metric", "archive", "bucket_ts", "value"),
      dir, schema)
    assert(!raw.exists(lfs.getChecksumFile(path)))
    // and a checksummed read of the replaced file succeeds
    val in2 = lfs.open(path)
    try in2.readFully(0, new Array[Byte](bytes.length)) finally in2.close()
    // no orphaned tmp images remain after successful publishes
    assert(WspWrite.vacuumTmp(spark, dir, olderThanMs = -1000) == 0L)
  }

  test("schemaFromWspFile parses a >64-archive header (two-read sizing)") {
    // format-valid 65-archive file: the old fixed headerSize(64) read
    // truncated the archive table and misreported it as corrupt; now the
    // metadata read sizes the second read exactly, the full table parses,
    // and the failure (if any) is the REAL one — these retentions violate
    // the divisibility rule, which no >64-archive list can satisfy in
    // 32-bit spp anyway
    val n = 65
    val headerLen = WspCodec.headerSize(n)
    val fileLen = headerLen + n * 12
    val buf = java.nio.ByteBuffer.allocate(fileLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.putInt(1).putInt(n * 10).putFloat(0.5f).putInt(n)
    for (i <- 0 until n)
      buf.putInt(headerLen + i * 12).putInt(i + 1).putInt(1)
    val dir = tmp()
    val f = java.nio.file.Paths.get(dir, "many.wsp")
    java.nio.file.Files.write(f, buf.array())

    // the count is now read from the metadata, not guessed
    assert(WspCodec.archiveCount(
      java.util.Arrays.copyOf(buf.array(), 16)) == n)
    val err = intercept[IllegalArgumentException] {
      graft.WhisperTable.schemaFromWspFile(spark, f.toString)
    }
    assert(!err.getMessage.contains("corrupt archive table"), err.getMessage)
  }

  test("WspTools.fill: dst slots win, gaps take src, missing metrics appear") {
    import spark.implicits._
    val (src, dst) = (tmp(), tmp())
    // src: an archive copy taken one full ring lap (10s × 6 slots = 60s)
    // EARLIER — its 940 point occupies the same slot class as dst's
    // newer 1000 point but has a different timestamp, so a ts-keyed gap
    // test would call it a gap and let the merge destroy dst's newer
    // data (the round-6 review finding); 1010 is a genuine gap and mem
    // exists only in src
    WspWrite.export(Seq(
      ("cpu", 0, 940L, 8.0), ("cpu", 0, 1010L, 2.0), ("mem", 0, 1000L, 9.0))
      .toDF("metric", "archive", "bucket_ts", "value"), src, schema)
    // dst: cpu already has slot 1000 with a DIFFERENT value
    WspWrite.export(Seq(("cpu", 0, 1000L, 5.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dst, schema)
    WspTools.fill(spark, src, dst, schema)
    val got = spark.read.format("wsp").load(dst)
      .filter(org.apache.spark.sql.functions.col("archive") === 0)
      .select("metric", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("cpu", 1000L, 5.0),  // existing dst point survived (whisper-fill rule)
      ("cpu", 1010L, 2.0),  // gap filled from src
      ("mem", 1000L, 9.0))) // whole missing file created
    // the older-lap src point (940 → same slot as 1000) did NOT appear

    // the MIRROR direction: a dst occupant one lap STALE must not block
    // a fresh src point (the reference tool reads that slot as a gap in
    // the current window and copies)
    val (src2, dst2) = (tmp(), tmp())
    WspWrite.export(Seq(("cpu", 0, 1000L, 2.0))
      .toDF("metric", "archive", "bucket_ts", "value"), src2, schema)
    WspWrite.export(Seq(("cpu", 0, 940L, 5.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dst2, schema)
    WspTools.fill(spark, src2, dst2, schema)
    val got2 = spark.read.format("wsp").load(dst2)
      .filter(org.apache.spark.sql.functions.col("archive") === 0)
      .select("metric", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got2 == Set(("cpu", 1000L, 2.0)))

    // geometry mismatch fails loudly, like merge's dst-side check
    // (raise_error surfaces as SparkRuntimeException or task-wrapped
    // SparkException depending on where evaluation lands)
    val err = intercept[Exception] {
      WspTools.fill(spark, src, dst, WhisperSchema(
        Seq(graft.model.Retention(5, 12), graft.model.Retention(60, 5)),
        AggregationMethod.Sum, 0.0))
    }
    assert(err.getMessage.contains("geometry mismatch"), err.getMessage)
  }

  test("WspTools.resize routes each target bucket to the best-available source archive") {
    import spark.implicits._
    val (src, out) = (tmp(), tmp())
    // src geometry = `schema` (10s:6 → 60s window, 60s:5 → 300s window)
    // at now=1030. Recent history (ages < 60) lives in archive 0; the 840
    // point (age 190) exists ONLY in the coarser archive 1 — the r6
    // derivation dropped exactly this tier.
    val nowS = 1030L
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0), ("cpu", 0, 1020L, 4.0),
      ("cpu", 1, 840L, 7.0))
      .toDF("metric", "archive", "bucket_ts", "value"), src, schema)
    val newSchema = WhisperSchema(
      Seq(graft.model.Retention(20, 10), graft.model.Retention(60, 5)),
      AggregationMethod.Average, 0.0)
    WspTools.resize(spark, src, out, newSchema, nowS)
    val got = spark.read.format("wsp").load(out)
      .select("archive", "ts_s", "value").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      // 20s level: last-60s buckets consolidate from archive 0 (avg per
      // 20s bucket); the deep 60s point passes through at its own ts
      // (coarse→fine = the tool's no-interpolation write)
      (0, 1000L, 1.5), (0, 1020L, 4.0), (0, 840L, 7.0),
      // 60s level: bucket 960 straddles archive 0's window start (970)
      // and still consolidates from it — finest-overlapping-archive wins,
      // like whisper's update-propagation; 840 copies from archive 1
      (1, 960L, 1.5), (1, 1020L, 4.0), (1, 840L, 7.0)))

    // a target level FINER than every source archive is served by
    // pass-through (fetch returns the coarse points; nothing is invented)
    val fine = tmp()
    WspTools.resize(spark, src, fine,
      WhisperSchema(Seq(graft.model.Retention(5, 100)),
        AggregationMethod.Average, 0.0), nowS)
    val gotFine = spark.read.format("wsp").load(fine)
      .select("ts_s", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(gotFine == Set(
      (1000L, 1.0), (1010L, 2.0), (1020L, 4.0), (840L, 7.0)))

    // a non-integer-aligned target is refused loudly
    val err = intercept[IllegalArgumentException] {
      WspTools.resize(spark, src, tmp(),
        WhisperSchema(Seq(graft.model.Retention(15, 40)),
          AggregationMethod.Average, 0.0), nowS)
    }
    assert(err.getMessage.contains("not integer-aligned"))
  }

  test("WspTools.merge: src wins on collision, dst-only slots survive") {
    import spark.implicits._
    val (src, dst) = (tmp(), tmp())
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 8.0), ("mem", 0, 1000L, 9.0))
      .toDF("metric", "archive", "bucket_ts", "value"), src, schema)
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 5.0), ("cpu", 0, 1010L, 6.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dst, schema)
    WspTools.merge(spark, src, dst, schema)
    val got = spark.read.format("wsp").load(dst)
      .filter(org.apache.spark.sql.functions.col("archive") === 0)
      .select("metric", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("cpu", 1000L, 8.0),  // src overwrote the colliding slot
      ("cpu", 1010L, 6.0),  // dst-only slot survived
      ("mem", 1000L, 9.0))) // whole missing file created
  }

  test("WspTools.fillResample fills a coarser dst from a finer src") {
    import spark.implicits._
    val (src, dst) = (tmp(), tmp())
    val nowS = 1030L
    // fine 10s source data (schema geometry)...
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0), ("cpu", 0, 1020L, 4.0))
      .toDF("metric", "archive", "bucket_ts", "value"), src, schema)
    // ...into a 20s/Average dst that already owns bucket 1000
    val dstSchema = WhisperSchema(
      Seq(graft.model.Retention(20, 10)), AggregationMethod.Average, 0.0)
    WspWrite.export(Seq(("cpu", 0, 1000L, 9.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dst, dstSchema)
    WspTools.fillResample(spark, src, dst, dstSchema, nowS)
    val got = spark.read.format("wsp").load(dst)
      .select("ts_s", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set(
      (1000L, 9.0),   // existing dst slot won (whisper-fill rule)
      (1020L, 4.0)))  // gap consolidated from the finer source
  }

  test("WspTools.rewriteHeaders patches method/xff, rings untouched") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 1.5), ("mem", 1, 960L, 2.5))
      .toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    val rewritten = WspTools.rewriteHeaders(spark, dir,
      Some(AggregationMethod.Max), Some(0.25))
    // the patch ran inside the call: the manifest is driver-local rows,
    // so collecting it runs no job, and no file changes again
    def mtimes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".wsp")).map(f => f.getName -> f.lastModified).toMap
    def manifest() = rewritten.collect().toSeq
      .map(r => (r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    val stamped = mtimes
    val jobs = org.apache.spark.graftprobe.Jobs.counted(spark.sparkContext)(
      assert(manifest() == manifest()))
    assert(jobs == 0, s"collecting the manifest twice ran $jobs jobs")
    assert(stamped.size == 2 && mtimes == stamped, "a file changed after the call")
    assert(manifest().toSet == Set((2, 0.0, true))) // both files were Sum/0.0
    // idempotent: a second run (the task-retry shape) finds both headers
    // already patched, touches nothing, and reports the CURRENT values
    // with patched=false — not the pre-rewrite ones
    val again = WspTools.rewriteHeaders(spark, dir,
      Some(AggregationMethod.Max), Some(0.25))
      .collect().map(r => (r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(again == Set((AggregationMethod.Max.id, 0.25, false)))
    // headers changed...
    val p = new org.apache.hadoop.fs.Path(s"$dir/cpu.wsp")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = new Array[Byte](WspCodec.fileSize(schema))
    val in = fs.open(p); try in.readFully(0, bytes) finally in.close()
    val h = WspCodec.readHeader(bytes)
    assert(h.aggregationType == AggregationMethod.Max.id &&
      h.xFilesFactor == 0.25f &&
      h.archives == WspCodec.archiveInfos(schema))
    // ...and every stored point survived byte-identically
    val got = spark.read.format("wsp").load(dir)
      .select("metric", "archive", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(("cpu", 0, 1000L, 1.5), ("mem", 1, 960L, 2.5)))
  }

  test("graphite-only method ids (avg_zero/absmax/absmin) survive the codec") {
    import spark.implicits._
    // a tree graphite wrote with aggregationType=7 (absmax) must read
    // back with the same header and consolidate under absmax semantics
    val dir = tmp()
    val absSchema = WhisperSchema(schema.retentions,
      AggregationMethod.AbsMax, 0.0)
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 3.0), ("cpu", 0, 1010L, -9.0), ("cpu", 0, 1020L, 4.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dir, absSchema)
    val back = graft.WhisperTable.schemaFromWspFile(spark, s"$dir/cpu.wsp")
    assert(back.method == AggregationMethod.AbsMax &&
      back.retentions == schema.retentions)
    // consolidate 10s->60s under absmax: bucket 960 holds ts 1000/1010,
    // |-9| > |3| and the sign survives; bucket 1020 holds only 4.0
    val out = WspTools.rederive(spark, dir,
        WhisperSchema(Seq(graft.model.Retention(60, 5)),
          AggregationMethod.AbsMax, 0.0), 1030L)
      .select("bucket_ts", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((960L, -9.0), (1020L, 4.0)))
  }

  test("columnar reader emits exactly the row reader's points") {
    import spark.implicits._
    val dir = tmp()
    // two multi-archive files + enough points to cross one 4096 batch?
    // no — batch-boundary behavior is covered by spanning FILES; ring
    // capacity bounds points. Both archives populated, plus a second
    // metric so batches span files.
    WspWrite.export(Seq(
      ("cpu", 0, 1000L, 1.0), ("cpu", 0, 1010L, 2.0), ("cpu", 1, 960L, 3.0),
      ("mem", 0, 1020L, 4.0), ("mem", 1, 1020L, 5.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    val scan = new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan]
    val parts = scan.toBatch.planInputPartitions()
    val factory = scan.createReaderFactory()
    assert(parts.forall(factory.supportColumnarReads))

    // MULTISET comparison (sorted seqs): a batching reader's signature
    // failure mode is duplicate emission at batch/file boundaries,
    // which a Set compare would mask
    def rowSeq = parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[(String, Int, Int, Int, Long, Double)]
      while (r.next()) {
        val row = r.get()
        out += ((row.getUTF8String(0).toString, row.getInt(1), row.getInt(2),
          row.getInt(3), row.getLong(4), row.getDouble(5)))
      }
      r.close(); out.result()
    }.sorted
    def colSeq = parts.toSeq.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val out = Seq.newBuilder[(String, Int, Int, Int, Long, Double)]
      while (r.next()) {
        val b = r.get()
        val it = b.rowIterator()
        while (it.hasNext) {
          val row = it.next()
          out += ((row.getUTF8String(0).toString, row.getInt(1), row.getInt(2),
            row.getInt(3), row.getLong(4), row.getDouble(5)))
        }
      }
      r.close(); out.result()
    }.sorted
    val (rows, cols) = (rowSeq, colSeq)
    assert(rows.nonEmpty && rows == cols)
  }

  test("batch reads fail fast on a missing file; streaming factory retries") {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val ghost = new org.apache.hadoop.fs.Path(tmp(), "gone.wsp")
    val fs = ghost.getFileSystem(conf.value)
    // retries=0 (the batch default): the real error surfaces immediately
    // — no ~1 s stall per task on a genuinely deleted file
    val t0 = System.nanoTime()
    intercept[java.io.FileNotFoundException] {
      WspRead.readWithRetry(fs, ghost, 16, ghost.toString, retries = 0)
    }
    assert((System.nanoTime() - t0) / 1e9 < 0.5)
    // the streaming factory carries the bounded retry for the publish
    // fallback's no-file window
    val dir = tmp()
    val scan = new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan]
    assert(scan.createReaderFactory()
      .asInstanceOf[WspReaderFactory].retries == 0)
    assert(scan.streamingReaderFactory()
      .asInstanceOf[WspReaderFactory].retries == WspRead.StreamRetries)
  }

  test("removed read options fail loudly by name") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(Seq(("cpu", 0, 1000L, 1.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    Seq("manifest", "listingCache", "metricRoot", "readRetries").foreach { o =>
      val err = intercept[IllegalArgumentException] {
        spark.read.format("wsp").option(o, "true").load(dir).collect()
      }
      assert(err.getMessage.contains(s"'$o'"), err.getMessage)
    }
  }

  test("a corrupt file fails the scan and names itself; a glob around it reads the rest") {
    import spark.implicits._
    val dir = tmp()
    val good = Seq(("ok.a", 0, 1000L, 1.0), ("ok.a", 0, 1010L, 2.0), ("ok.b", 1, 960L, 3.0))
    WspWrite.export(good.toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    // cut inside the 16-byte metadata block
    val bad = Paths.get(dir, "bad.wsp")
    Files.write(bad, java.util.Arrays.copyOf(WspCodec.emptyFile(schema), 10))
    val err = intercept[Exception] { spark.read.format("wsp").load(dir).collect() }
    assert(err.getMessage.contains(bad.toString), err.getMessage)

    val rest = spark.read.format("wsp").option("metricGlob", "ok.*").load(dir)
      .select("metric", "archive", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rest.sorted.toSeq == good.sorted)
  }

  test("a file deleted between planning and read fails the batch scan fast, by name") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(Seq(("cpu", 0, 1000L, 1.0), ("mem", 0, 1000L, 2.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    // a warm read first, so the timed job pays no first-job set-up
    assert(spark.read.format("wsp").load(dir).count() == 2)

    val df = spark.read.format("wsp").load(dir)
    val planned = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.get.flatMap(_.asInstanceOf[WspInputPartition].files.map(_._1))
    assert(planned.size == 2)
    val gone = new org.apache.hadoop.fs.Path(planned.find(_.endsWith("/cpu.wsp")).get)
      .toUri.getPath
    Files.delete(Paths.get(gone))

    val t0 = System.nanoTime()
    val err = intercept[Exception] { df.collect() }
    val secs = (System.nanoTime() - t0) / 1e9
    val missing = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: java.io.FileNotFoundException => e }
    assert(missing.exists(_.getMessage.contains(gone)), err)
    assert(secs < 0.5, s"a missing file took $secs s to fail the scan")
  }

  test("an orphaned temp image from a crashed publish is invisible to scans and vacuumed by age") {
    import spark.implicits._
    val dir = tmp()
    WspWrite.export(Seq(("cpu", 0, 1000L, 1.0))
      .toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    // the complete image a task killed between temp write and rename
    // leaves beside the published file, with a different value
    val image = WspCodec.emptyFile(schema)
    WspCodec.writeArchive(image, WspCodec.archiveInfos(schema).head, Seq((1000L, 99.0)))
    val orphan = Paths.get(dir, ".cpu.wsp.tmp.deadbeef")
    val young = Paths.get(dir, ".cpu.wsp.tmp.cafef00d")
    Files.write(orphan, image)
    Files.write(young, image)
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600L * 1000))

    def points() = spark.read.format("wsp").load(dir)
      .select("metric", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(points() == Seq(("cpu", 1000L, 1.0)))

    assert(WspWrite.vacuumTmp(spark, dir, olderThanMs = 3600L * 1000) == 1L)
    assert(!Files.exists(orphan))
    assert(Files.exists(young), "a tmp younger than the cutoff must survive")
    assert(points() == Seq(("cpu", 1000L, 1.0)))
  }

  test("bin-packing groups many small files into few partitions") {
    import spark.implicits._
    val dir = tmp()
    val many = (0 until 20).map(i => (s"m$i", 0, 100L, i.toDouble))
    WspWrite.export(many.toDF("metric", "archive", "bucket_ts", "value"), dir, schema)
    val sb = new WspScanBuilder(Seq(dir))
    val parts = sb.build().asInstanceOf[WspScan].toBatch.planInputPartitions()
    // 20 files × 172 B ≪ maxPartitionBytes → exactly one packed partition
    assert(parts.length == 1)
    assert(parts.head.asInstanceOf[WspInputPartition].files.size == 20)
    // and the packed partition still reads everything
    assert(spark.read.format("wsp").load(dir).count() == 20)
  }

  // 60s:2h, 5m:4h, 1h:1d — a three-archive tree as a render serves it
  private val schema3 = WhisperSchema(
    Seq(graft.model.Retention(60, 120), graft.model.Retention(300, 48),
      graft.model.Retention(3600, 24)),
    AggregationMethod.Average, 0.0)
  private val T0 = 1699999200L // hour-aligned

  /** host.a holds 1m data for minutes 0..39, host.b for 25..69, host.c
    * only coarse data; every host has 5m and 1h points. Returns the tree
    * and its 1m points. */
  private def renderTree(): (String, Map[(String, Long), Double]) = {
    import spark.implicits._
    val dir = tmp()
    val fine = (0 until 40).map(i => ("host.a", T0 + 60L * i, i * 1.5)) ++
      (25 until 70).map(i => ("host.b", T0 + 60L * i, 100 - i * 0.25))
    val coarse = Seq("host.a", "host.b", "host.c").flatMap { m =>
      (0 until 14).map(k => (m, 1, T0 + 300L * k, k.toDouble)) ++
        Seq((m, 2, T0, 7.0), (m, 2, T0 + 3600, 8.0))
    }
    WspWrite.export((fine.map { case (m, t, v) => (m, 0, t, v) } ++ coarse)
      .toDF("metric", "archive", "bucket_ts", "value"), dir, schema3)
    (dir, fine.map { case (m, t, v) => (m, t) -> v }.toMap)
  }

  private def renderPoints(dir: String) =
    spark.read.format("wsp").option("metricGlob", "host.*").load(dir)
      .filter(org.apache.spark.sql.functions.col("spp") === 60)
      .select("metric", "ts_s", "value")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Number].doubleValue)))

  test("a render over a wsp glob runs one scan in at most five jobs") {
    import graft.ops.RenderTarget
    val (dir, _) = renderTree()
    val q = RenderTarget.evaluate(spark, renderPoints(dir), "sumSeries(host.*)",
      T0 + 600, T0 + 3600, 60)
    // warm: the timed count must not include first-use set-up jobs
    RenderTarget.evaluate(spark, renderPoints(dir), "sumSeries(host.*)",
      T0 + 600, T0 + 3600, 60).collect()
    val jobs = org.apache.spark.graftprobe.Jobs.counted(spark.sparkContext)(q.collect())
    assert(jobs <= 5, s"render ran $jobs jobs")
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => 1
      case o => (o.children ++ o.subqueries).map(scans).sum
    }
    val n = scans(q.queryExecution.executedPlan)
    assert(n == 1, s"$n wsp scans in the final plan:\n${q.queryExecution.executedPlan}")
  }

  test("a sumSeries render over a wsp glob runs one scan in at most two jobs") {
    import graft.ops.RenderTarget
    val (dir, _) = renderTree()
    def q = RenderTarget.evaluate(spark, renderPoints(dir), "sumSeries(host.*)",
      T0 + 600, T0 + 3600, 60)
    q.collect() // warm: first-use set-up jobs are not the render's
    val df = q
    // the scan's shuffle-map job and one result job: the final
    // aggregate gathers into one partition, so nothing above it shuffles
    val jobs = org.apache.spark.graftprobe.Jobs.counted(spark.sparkContext)(df.collect())
    assert(jobs <= 2, s"render ran $jobs jobs:\n${df.queryExecution.executedPlan}")
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => 1
      case o => (o.children ++ o.subqueries).map(scans).sum
    }
    assert(scans(df.queryExecution.executedPlan) == 1)
  }

  test("a scan estimates its rows as selected files × slots of the pushed range") {
    import org.apache.spark.sql.functions.col
    val (dir, _) = renderTree()
    val df = renderPoints(dir).filter(col("ts_s") >= T0 && col("ts_s") < T0 + 3600)
    val est = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    // host.a, host.b, host.c × 60 one-minute slots: a bound on the rows read
    assert(est.numRows().getAsLong == 3 * 60)
    assert(df.count() == 75)
  }

  test("the scan's reader factory ships without the Hadoop configuration") {
    val (dir, fine) = renderTree()
    val scan = new WspScanBuilder(Seq(dir)).build().asInstanceOf[WspScan]
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(scan.createReaderFactory())
    out.close()
    // every task above the scan deserializes it: an embedded conf is ~100 KiB
    assert(bytes.size < 16 * 1024, s"reader factory serializes to ${bytes.size} bytes")
    // and the shipped copy still reads, through the broadcast conf
    val shipped = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[org.apache.spark.sql.connector.read.PartitionReaderFactory]
    val got = scan.toBatch.planInputPartitions().toSeq.flatMap { p =>
      val r = shipped.createReader(p)
      val rows = Iterator.continually(r).takeWhile(_.next()).map(_.get())
        .filter(_.getInt(1) == 0).map(row => (row.getUTF8String(0).toString, row.getLong(4)))
        .toVector
      r.close(); rows
    }
    assert(got.toSet == fine.keySet)
  }

  test("render densify: partial members, history window, empty windows") {
    import graft.ops.{Buckets, RenderTarget}
    val (dir, fine) = renderTree()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (fromS, untilS) = (T0 + 630, T0 + 3600)
    val fromI = Buckets.fetchInterval(fromS, 60)
    val untilI = Buckets.fetchInterval(untilS, 60)
    // movingAverage(_, 3) extends the leaf three buckets back; each
    // bucket averages the known sums of the three buckets before it
    val grid = (fromI - 180 until untilI by 60).toVector
    val sums = grid.map { b =>
      val vs = Seq("host.a", "host.b").flatMap(m => fine.get((m, b)))
      if (vs.isEmpty) None else Some(vs.sum)
    }
    val expect = grid.indices.filter(grid(_) >= fromI).map { i =>
      val known = sums.slice(i - 3, i).flatten
      ("sumSeries", grid(i), if (known.isEmpty) None else Some(r6(known.sum / known.size)))
    }
    assert(rows(RenderTarget.evaluate(spark, renderPoints(dir),
      "movingAverage(sumSeries(host.*), 3)", fromS, untilS, 60)) == expect)
    // a glob leaf: host.c holds no 1m point in range and is absent;
    // the others are dense with NULL gaps
    val dense = rows(RenderTarget.evaluate(spark, renderPoints(dir), "host.*", fromS, untilS, 60))
    assert(dense == Seq("host.a", "host.b").flatMap(m =>
      (fromI until untilI by 60).map(b => (m, b, fine.get((m, b))))))
    // a window inside one step renders that step's bucket (whisper's
    // equal-interval bump), and an inverted window fails loudly
    val b = T0 + 1260
    assert(rows(RenderTarget.evaluate(spark, renderPoints(dir), "host.*", T0 + 1200, T0 + 1200, 60)) ==
      Seq(("host.a", b, fine.get(("host.a", b)))))
    for (t <- Seq("sumSeries(host.*)", "movingAverage(host.*, 3)"))
      assert(rows(RenderTarget.evaluate(spark, renderPoints(dir), t, T0 + 1200, T0 + 1200, 60))
        .map(_._2).distinct == Seq(b), t)
    for (t <- Seq("host.*", "sumSeries(host.*)", "movingAverage(host.*, 3)")) {
      val e = intercept[IllegalArgumentException](
        RenderTarget.evaluate(spark, renderPoints(dir), t, T0 + 1800, T0 + 1200, 60))
      assert(e.getMessage.contains("invalid time interval"), t)
    }
  }

  test("pushed spp/archive filters choose the decoded archives, exactly") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (dir, _) = renderTree()
    val all = spark.read.format("wsp").load(dir)
      .select("metric", "archive", "spp", "ts_s", "value").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSeq
    def read(f: org.apache.spark.sql.Column) = {
      val q = spark.read.format("wsp").load(dir).filter(f)
      // absorbed by the source: no Filter node re-checks it
      assert(q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }.isEmpty, q.queryExecution.executedPlan)
      (q.queryExecution.executedPlan.toString,
        q.select("metric", "archive", "spp", "ts_s", "value").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
          .toSeq.sorted)
    }
    val (p300, got300) = read(col("spp") === 300)
    assert(p300.contains("spp=300"), p300)
    assert(got300.nonEmpty && got300 == all.filter(_._3 == 300).sorted)
    val (pArch, gotArch) = read(col("archive").isin(0, 2))
    assert(pArch.contains("archive=0,2"), pArch)
    assert(gotArch == all.filter(r => Set(0, 2)(r._2)).sorted)
    assert(read(col("spp") === 300 && col("archive") === 0)._2.isEmpty)

    val sb = new WspScanBuilder(Seq(dir))
    val pushed = Array[org.apache.spark.sql.sources.Filter](
      EqualTo("spp", 300), In("archive", Array(0, 1)))
    assert(sb.pushFilters(pushed).isEmpty)
    assert(sb.pushedFilters().toSeq == pushed.toSeq)
  }
}
