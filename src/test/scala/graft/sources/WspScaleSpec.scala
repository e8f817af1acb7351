package graft.sources

import graft.model.{AggregationMethod, Retention, WhisperSchema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Many-file scale model for the DSv2 source (SURVEY S5): a whisper
  * deployment is millions of SMALL files, so the planner must bin-pack
  * tasks by BYTES (`spark.sql.files.maxPartitionBytes`), never
  * one-task-per-file, and `metricGlob` pruning must shrink the plan to
  * the matching subtree. A real ~5,000-file tree keeps the claim
  * evidence-backed, not asserted.
  */
class WspScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // single 10s:6pts archive → 16 + 12 + 6·12 = 100 bytes per file
  private val schema = WhisperSchema(
    Seq(Retention(10, 6)), AggregationMethod.Sum, 0.0)
  private val FileBytes = 100L
  private val NFiles = 5000

  test("5,000-file tree: tasks track maxPartitionBytes (bytes, not file count); glob pruning holds the plan flat") {
    val dir = Files.createTempDirectory("wsp_scale").toString
    val info = WspCodec.archiveInfos(schema).head
    for (s <- 0 until 50; h <- 0 until 100) {
      val d = Paths.get(dir, s"shard$s", s"host$h")
      Files.createDirectories(d)
      val bytes = WspCodec.emptyFile(schema)
      assert(bytes.length == FileBytes)
      WspCodec.writeArchive(bytes, info, Seq((1000L, 1.0)))
      Files.write(d.resolve("cpu.wsp"), bytes)
    }
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // 8 KiB cap → 81 files/bin → ⌈5000/81⌉ = 62 planned tasks. Exact
      // next-fit arithmetic on purpose: a regression to per-file tasks
      // (5000) or per-directory tasks would be orders off, and a
      // packing change that drifts the count materially should be a
      // conscious decision.
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val df = spark.read.format("wsp").load(dir)
      val parts = df.rdd.getNumPartitions
      val expect = math.ceil(NFiles.toDouble * FileBytes / 8192).toInt
      assert(parts >= expect && parts <= expect + 2,
        s"task count $parts does not track bytes (expected ~$expect)")
      assert(df.count() == NFiles) // one live point per file

      // doubling the byte cap halves the plan — bytes drive it
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val halved = spark.read.format("wsp").load(dir).rdd.getNumPartitions
      assert(halved >= expect / 2 - 1 && halved <= expect / 2 + 2,
        s"doubling maxPartitionBytes gave $halved tasks (had $parts)")

      // a cap above the whole tree's bytes plans ONE task for 5,000
      // files — the definitive not-per-file proof
      spark.conf.set("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      assert(spark.read.format("wsp").load(dir).rdd.getNumPartitions == 1)

      // metricGlob pruning: only shard7's 100 files are planned — the
      // task count stays flat no matter how wide the rest of the tree
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val globbed = spark.read.format("wsp")
        .option("metricGlob", "shard7.*.cpu").load(dir)
      assert(globbed.rdd.getNumPartitions <= 2,
        "glob-pruned plan should cover ~10 KB, not the whole tree")
      assert(globbed.select("metric").distinct().count() == 100)

      // pushed metric equality prunes to exactly one file → one task
      val one = spark.read.format("wsp").load(dir)
        .filter(col("metric") === "shard3.host42.cpu")
      assert(one.rdd.getNumPartitions == 1)
      assert(one.count() == 1)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("100,000-file tree: planning stays seconds-scale and memory-bounded") {
    // The r11 open question on the source: WspScaleSpec proved 5k files,
    // a real deployment is millions. This pins the next decade: 100k
    // files (100 shards x 100 hosts x 10 metrics — 10k directories) must
    // PLAN driver-side in seconds and carry only (path, len, metric,
    // mtime) per file (~100 MB/M files — driver-memory-bounded at 1M).
    val dir = Files.createTempDirectory("wsp_scale100k").toString
    val info = WspCodec.archiveInfos(schema).head
    val bytes = WspCodec.emptyFile(schema)
    WspCodec.writeArchive(bytes, info, Seq((1000L, 1.0)))
    val nFiles = 100000
    for (s <- 0 until 100; h <- 0 until 100) {
      val d = Paths.get(dir, s"shard$s", s"host$h")
      Files.createDirectories(d)
      for (m <- 0 until 10) Files.write(d.resolve(s"m$m.wsp"), bytes)
    }
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (1 << 20).toString)

      // cold plan: the full driver-side walk of 10k dirs / 100k files.
      // Generous wall bound — shared CI boxes jitter — but an O(files)
      // pathology (per-file stat storms, quadratic listing) lands far
      // beyond it, and the 5k test already pins the packing arithmetic.
      val t0 = System.nanoTime()
      val parts1 = spark.read.format("wsp").load(dir).rdd.getNumPartitions
      val coldMs = (System.nanoTime() - t0) / 1000000L
      val expect = math.ceil(nFiles.toDouble * FileBytes / (1 << 20)).toInt
      assert(parts1 >= expect && parts1 <= expect + 2,
        s"task count $parts1 does not track bytes at 100k files (~$expect)")
      assert(coldMs < 60000L,
        s"cold planning took ${coldMs} ms for 100k files — listing regressed")

      // the plan itself must stay file-count-free: a glob over one shard
      // prunes 99% of the tree at listing time, before any task exists
      val pruned = spark.read.format("wsp")
        .option("metricGlob", "shard42.*.*").load(dir)
      assert(pruned.select("metric").distinct().count() == 1000)
      // the walk descends only where a match can lie: the root, shard42
      // and its 100 hosts — not all 10,101 directories
      val walk = new WspScanBuilder(Seq(dir), metricGlob = Some("shard42.*.*"))
        .build().asInstanceOf[WspScan]
      assert(walk.listFiles().size == 1000)
      assert(walk.reportDriverMetrics().find(_.name == "dirsListed").map(_.value) == Some(102L))
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      // 100k files: sweep eagerly, not at JVM exit
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }
}
