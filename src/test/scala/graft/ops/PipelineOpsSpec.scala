package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant tests for the round-2 pipeline operators (sf0.001 — fast). */
class PipelineOpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("sessionize partitions every event into gap-consistent sessions") {
    val total = Buckets.points(spark, dir).count()
    val sess = PipelineOps.sessionize(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sess.map(_._3).sum == total) // every event in exactly one session
    assert(sess.forall(_._4 >= 0))
    // consecutive sessions of a metric are separated by more than the gap
    for ((_, rs) <- sess.groupBy(_._1)) {
      val ordered = rs.sortBy(_._2)
      for (Array(a, b) <- ordered.sliding(2).map(_.toArray)) {
        val prevEnd = a._2 + a._4
        assert(b._2 - prevEnd > PipelineOps.SessionGapS,
          s"sessions not separated: $a then $b")
      }
    }
  }

  test("sessionize_scalable equals plain sessionize exactly") {
    val plain = PipelineOps.sessionize(spark, dir).collect().map(_.toString)
    val scal = PipelineOps.sessionizeScalable(spark, dir).collect().map(_.toString)
    assert(plain.sameElements(scal))
  }

  test("shard_pack is a first-fit packing: budgets respected, order kept") {
    val rows = PipelineOps.shardPack(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // shards are contiguous and non-decreasing in doc order
    assert(rows.sliding(2).forall { case Array(a, b) => b._3 >= a._3; case _ => true })
    // a shard's token total stays within budget + one document overhang
    // (the sequential packer's invariant: only the shard-opening doc may
    // cross the boundary)
    rows.groupBy(_._3).foreach { case (_, ds) =>
      val tot = ds.map(_._2).sum
      assert(tot < PipelineOps.ShardTokens + ds.map(_._2).max)
    }
    // global token conservation: shard boundaries drop nothing
    assert(rows.map(_._2).sum ==
      PipelineOps.shardPackScalable(spark, dir).collect().map(_.getLong(1)).sum)
  }

  test("shard_pack_scalable equals the direct global-window form exactly") {
    val plain = PipelineOps.shardPack(spark, dir).collect().map(_.toString)
    val scal = PipelineOps.shardPackScalable(spark, dir).collect().map(_.toString)
    assert(plain.sameElements(scal))
  }

  test("sample_stratified is deterministic and near the target rate") {
    val a = PipelineOps.sampleStratified(spark, dir).collect().map(_.getLong(0))
    val b = PipelineOps.sampleStratified(spark, dir).collect().map(_.getLong(0))
    assert(a.sameElements(b))
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    // 26/256 ≈ 10.2% expected; wide bounds for the 50-doc sample
    assert(a.length > 0 && a.length < total / 2)
  }

  test("source_mix token shares sum to ~1 within each source") {
    val rows = PipelineOps.sourceMix(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(4)))
    for ((src, shares) <- rows.groupBy(_._1)) {
      val sum = shares.map(_._2).sum
      assert(math.abs(sum - 1.0) < 1e-4, s"$src shares sum to $sum")
    }
  }

  test("PII pattern redacts emails and long digit runs") {
    import spark.implicits._
    // Column API, as the operator uses it (the SQL-literal path would
    // corrupt the \. escape — the bug this test originally caught)
    def scrub(text: String): String =
      Seq(text).toDF("t")
        .select(regexp_replace(col("t"), PipelineOps.PiiPattern, "<PII>"))
        .head().getString(0)
    assert(scrub("contact a.b@mail.co or 12345678 now") ==
      "contact <PII> or <PII> now")
    assert(scrub("room 42") == "room 42") // short digit runs kept
    assert(scrub("mail.co alone") == "mail.co alone") // needs an @
  }

  test("dedup_cluster adds no Spark job to the pair-index read at construction") {
    import org.apache.spark.graftprobe.Jobs
    Dedup.minhashPairsShared(spark, dir).collect() // warm the shared index
    val read = Jobs.counted(spark.sparkContext)(Dedup.minhashPairsShared(spark, dir))
    val cluster = Jobs.counted(spark.sparkContext)(Dedup.dedupCluster(spark, dir))
    assert(read == 1) // the parquet schema-inference job
    assert(cluster == read)
  }

  test("components matches a reference union-find on adversarial graphs") {
    import spark.implicits._
    // reference labels by plain union-find over the edge list
    def expected(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
    }
    val chains = (1L to 40L).sliding(2).map(s => (s(1), s.head)).toSeq // descending-order long chain
    val star = (2L to 30L).map(i => (100L + i, 100L)) // big star, hub = min
    // hub 300 is the component MAXIMUM — the whole star must re-root onto
    // leaf 280 (the min)
    val revStar = (1L to 20L).map(i => (300L, 300L - i))
    // merge chains+star+revStar into one component, plus an isolated pair
    val bridged = Seq((40L, 100L + 2), (39L, 285L), (200L, 1000L))
    def labels(g: Seq[(Long, Long)]): Map[Long, Long] =
      Dedup.components(g.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (g <- Seq(Seq.empty, chains, star, revStar,
        chains ++ star ++ revStar ++ bridged)) {
      assert(labels(g) == expected(g), s"graph $g")
    }
    // a 200k-node chain fed from the top: every union lands on a fresh
    // root, so find must neither recurse nor walk the chain per node
    val n = 200000L
    val chain = labels((n to 2L by -1L).map(i => (i, i - 1)))
    assert(chain.size == n && chain.values.forall(_ == 1L))
  }

  test("dedup_cluster is a consistent clustering of the near-dup graph") {
    val pairs = Dedup.dedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.dedupCluster(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both endpoints of every verified pair share a cluster
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
    // each cluster's id is the minimum member (canonical representative)
    for ((cid, members) <- labels.groupBy(_._2).view.mapValues(_.keys.toSeq)) {
      assert(members.min == cid)
    }
    // idempotent labeling: a cluster id labels itself
    assert(labels.values.forall(c => labels(c) == c))
  }

  test("source_cap keeps exactly min(cap, |source|) docs per source, deterministically") {
    val a = PipelineOps.sourceCap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val b = PipelineOps.sourceCap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(a.sameElements(b)) // reproducible kept set
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(a.length == total) // every doc labeled, none dropped from the frame
    for ((src, rows) <- a.groupBy(_._2)) {
      val kept = rows.count(_._4 == 1)
      assert(kept == math.min(PipelineOps.SourceCapN, rows.length),
        s"source $src kept $kept")
      // ranks are a permutation of 1..|source| and kept = the cap prefix
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      assert(rows.filter(_._4 == 1).map(_._3).forall(_ <= PipelineOps.SourceCapN))
    }
    // the fixture exercises both sides of the cap
    assert(a.exists(_._4 == 0) && a.exists(_._4 == 1))
  }
}
