package graft.ops

import java.util.Arrays

import scala.collection.mutable.ArrayBuilder

import graft.functions.BloomMightContain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents(doc_id, text, lang, source,
  * n_chars)` — the LLM-pipeline extension surface (SURVEY.md §2.9 X1/X2,
  * BASELINE.json north star). No reference counterpart: whisper has no
  * string data plane.
  *
  * Cross-engine determinism: every hash here is MD5 (present and
  * bit-identical in both Spark and DuckDB), so even the MinHash/LSH
  * pipeline is oracle-checkable — the oracle runs the same signatures.
  *
  * Scale design (100 TB):
  *  - exact dedup groups on `md5(text)` (16 B key) instead of shuffling
  *    full document bodies;
  *  - MinHash-LSH is the scale path for near-dup: one explode to
  *    (doc, band) — b·n rows — then an equi-join on band key; candidate
  *    verification touches only colliding pairs. The exact n-gram
  *    Jaccard self-join is kept as the small-scale correctness oracle
  *    (its shingle join explodes on frequent shingles at scale);
  *  - SimHash emits one 64-bit fingerprint per doc; the scale lookup is
  *    materialized as [[dedupSimhashPairs]]: 4×16-bit band buckets →
  *    candidates → exact Hamming verification, COMPLETE for radius ≤ 3
  *    by pigeonhole (pinned equal to brute force by test).
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** `tokens` / 3-gram shingle expressions shared by the dedup family.
    * min tokens in testdata = 10, so `size(toks) - 2 >= 1` always.
    */
  private val toksExpr = Tokens.toksExpr
  private val toksSql = Tokens.toksSql

  /** The shingle set as a materialized shared index: computed once per
    * (JVM, sfDir) and written to tmp parquet, then every dedup-family
    * consumer scans the written file (a parquet scan of the 16-byte-key
    * rows is sub-second; plain files survive cache purges between bench
    * queries, unlike RDD checkpoints). The 100 TB deployment shape is
    * the same: a shingle index materialized once next to the corpus,
    * shared by every near-dup job.
    */
  /** Hex digest of a data-dir path — collision-free per-dir tmp roots
    * (a signed `hashCode` collides across dirs and `math.abs` is still
    * negative at `Int.MinValue`).
    */
  private[graft] def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
  /** Identity digest of the data dir PLUS a freshness digest of the
    * driving input file's (mtime, length), statted through the Hadoop
    * FileSystem API (so `file:`, `hdfs:` and `s3:` paths all work):
    * per-dir memo keys and tmp roots invalidate when the data is
    * re-generated under the same path within one JVM — the r2
    * stale-data footgun. Two halves, 16 hex each, so the sibling prune
    * in [[registerTmpRoot]] can tell "same input, superseded state"
    * (safe to delete) from "a DIFFERENT dataset this JVM is also
    * serving" (never touched).
    */
  private[graft] def freshDigest(s: SparkSession, dir: String, file: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, file)
    // freshness = (mtime ms, length). Caveat: a regeneration landing in
    // the same mtime granule with an identical byte length is invisible
    // — acceptable for the ms-granularity filesystems this runs on;
    // do not point it at a store with coarser stat granularity.
    // NonFatal only: an OOM/interrupt during the stat must propagate,
    // not mis-key the cache as "absent" (r16 review).
    val st = try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val x = fs.getFileStatus(fs.makeQualified(p))
      s"${x.getModificationTime}|${x.getLen}"
    } catch { case scala.util.control.NonFatal(_) => "absent" }
    dirDigest(s"$dir|$file").take(16) + dirDigest(st).take(16)
  }
  /** Per-process suffix for shared tmp roots: [[freshDigest]] is
    * deterministic ACROSS processes, so two concurrent JVMs on the same
    * data dir would otherwise resolve one tmp path and race
    * overwrite-vs-read on it (the in-JVM TrieMap only serializes within
    * one process). Cross-run reuse was never relied on — a fresh JVM
    * recomputes its index anyway.
    */
  private[graft] val jvmTag: String = ProcessHandle.current().pid().toString

  /** The one materialize-once-per-(JVM, data) pattern behind every shared
    * index (shingles, minhash pairs, simhash fingerprints, wsp export):
    * a tmp root keyed by input freshness ([[freshDigest]]) and process id
    * (cross-JVM race safety), built exactly once per key per JVM. Factored
    * so the staleness-key and race-handling logic exists in ONE place.
    *
    * Lifecycle (the r3→r5 "orphaned parquet trees accumulate forever"
    * finding): every created root is registered for deletion by a JVM
    * shutdown hook, and creating a new root prunes stale siblings of the
    * same index name — this JVM's roots under superseded freshness keys
    * (the input was regenerated; any still-lazy plan over the old root
    * would already be reading stale data), and roots left by DEAD
    * processes (crashed JVMs never ran their hook). Roots owned by other
    * LIVE pids are never touched.
    */
  private val indexCache =
    new scala.collection.concurrent.TrieMap[String, String]
  // per-key build monitors: TrieMap.getOrElseUpdate evaluates its
  // by-name op OUTSIDE any lock, so two concurrent first-touch callers
  // would BOTH run build(p) against the same tmp path (overwrite-delete
  // racing commit — r16 review). One monitor per key serializes the
  // build; nested builds (minhash → shingles) take DIFFERENT keys and
  // the build graph is acyclic, so no deadlock; same-thread re-entry is
  // safe because monitors are re-entrant.
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private[graft] def sharedIndexPath(
      s: SparkSession, dir: String, file: String, name: String)(
      build: String => Unit): String = {
    val key = freshDigest(s, dir, file)
    val cacheKey = s"$name|$key"
    val lock = buildLocks.computeIfAbsent(cacheKey, _ => new Object)
    lock.synchronized {
      indexCache.getOrElseUpdate(cacheKey, {
        val p = s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${key}_p$jvmTag"
        // prune stale siblings ONLY while this registration still
        // reflects the CURRENT input state: a registrant whose stat
        // raced a regeneration must not delete the fresh root another
        // thread just built and cached (the prune is directionless by
        // key alone — r16 review); its own stale root stays for the
        // exit hook / the next fresh registrant instead
        registerTmpRoot(p,
          pruneSuperseded = freshDigest(s, dir, file) == key)
        build(p)
        p
      })
    }
  }

  /** Tmp roots this JVM created, swept on exit. */
  private val createdRoots =
    new scala.collection.concurrent.TrieMap[String, Unit]
  private lazy val cleanupHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => createdRoots.keysIterator.foreach(p => deleteTree(new java.io.File(p))),
      "graft-tmp-index-cleanup"))
    true
  }

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
    ()
  }

  private val RootName = "graft_(.+)_([0-9a-f]{32})_p([0-9]+)".r

  /** Record `path` for exit-time deletion and prune its stale siblings:
    * same index name, and either this pid with the same input identity
    * under a superseded freshness half (the input was regenerated —
    * NEVER a different dataset this JVM may still be serving), or any
    * root whose owning pid is no longer alive (a crashed JVM never ran
    * its shutdown hook). Visible for tests.
    *
    * Two deliberate tradeoffs: (1) the superseded prune is IMMEDIATE —
    * a still-running query over the old root fails loudly with a
    * missing file rather than completing against data the caller just
    * regenerated away (stale-but-quiet was the r2 footgun this digest
    * exists to kill); (2) pid liveness is evaluated in THIS process's
    * PID namespace, which is correct exactly because the roots live
    * under the machine-local `java.io.tmpdir` — do not point the tmp
    * dir at storage shared across containers/hosts, where a foreign
    * owner's pid is not visible and its live root would read as dead.
    */
  private[graft] def registerTmpRoot(path: String,
      pruneSuperseded: Boolean = true): Unit = {
    require(cleanupHookInstalled)
    createdRoots.put(path, ())
    val f = new java.io.File(path)
    f.getName match {
      case RootName(name, myKey, _) =>
        val sibs = Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
        sibs.foreach { s =>
          s.getName match {
            case RootName(`name`, key, pid) if s.getPath != path =>
              val mine = pid == jvmTag
              val superseded = pruneSuperseded &&
                key.take(16) == myKey.take(16) && key != myKey
              lazy val owner = ProcessHandle.of(pid.toLong)
              lazy val ownerDead = !(owner.isPresent && owner.get.isAlive)
              if ((mine && superseded) || (!mine && ownerDead)) deleteTree(s)
            case _ => ()
          }
        }
      case _ => ()
    }
  }

  private[graft] def shingleSetShared(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedIndexPath(s, dir, "documents.parquet", "shingles") {
      p => shingleSet(docs(s, dir)).write.mode("overwrite").parquet(p)
    })

  /** Distinct (doc_id, shingle) pairs; SQL CTE `shingle_u` mirrors it.
    * Zero-shuffle shingling: three staggered `slice`s of the token array
    * zipped positionally — `slice`/`arrays_zip`/`concat_ws` are all
    * codegen'd collection expressions (NOT per-element lambda HOFs, which
    * evaluate interpreted), so shingles materialize in the scan's own
    * stage and the only exchange is the final `distinct`. Replaces the
    * round-2 posexplode + per-doc window(`lead`) form, whose
    * partitionBy(doc_id) sort was a second full shuffle of every token
    * row (measured 5.7 s → 5.3 s cold for index build + first consumer
    * at sf0.1 — the distinct dominates; the win is the removed shuffle,
    * which at 100 TB is the difference between one and two full passes
    * of the token stream over the network).
    */
  private[graft] def shingleSet(d: DataFrame): DataFrame = {
    val n = greatest(size(col("t")) - 2, lit(0))
    d.select(col("doc_id"), expr(toksExpr).as("t"))
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("t"), lit(1), n).as("a"),
          slice(col("t"), lit(2), n).as("b"),
          slice(col("t"), lit(3), n).as("c"))).as("z"))
      .select(col("doc_id"),
        concat_ws(" ", col("z.a"), col("z.b"), col("z.c")).as("g"))
      .distinct()
  }

  /** [[shingleSet]]'s 3-gram rule as a per-row DISTINCT shingle ARRAY —
    * no explode, no shuffle: the stateless form a streaming probe needs
    * (one row in, one row out, so a stream-static join can flag a
    * document without any streaming aggregation state). The `size >= 3`
    * guard matters: Spark's `sequence(1, 0)` DESCENDS, so short docs
    * must take the empty-array branch (`slice(t, 1, 0)` keeps the
    * element type) rather than produce phantom shingles.
    */
  private[graft] def shingleArray(d: DataFrame): DataFrame =
    d.withColumn("t", expr(toksExpr))
      .withColumn("shingles", expr(
        "CASE WHEN size(t) >= 3 THEN array_distinct(transform(" +
          "sequence(1, size(t) - 2), i -> concat_ws(' ', element_at(t, i), " +
          "element_at(t, i + 1), element_at(t, i + 2)))) " +
          "ELSE slice(t, 1, 0) END"))
      .drop("t")

  private[graft] val shingleUSql: String =
    s"""shingle_u AS (
       |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents),
       |       unnest(generate_series(1, len(toks) - 2)) AS t(i))""".stripMargin

  // ------------------------------------------------------------- X1 exact

  /** `dedup_exact`: one survivor per identical text. Groups on md5(text)
    * so the shuffle key is 16 bytes, not the document body; keeps the
    * smallest doc_id (deterministic winner) and the group size.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"))
      .orderBy("doc_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ X30 incremental dedup

  /** `dedup_incremental`: dedup a NEW batch against an existing reference
    * corpus — the daily-crawl-vs-historical-archive shape, where
    * re-deduplicating the whole corpus per delivery is a non-starter.
    * Fixture roles are carved deterministically from `documents`:
    * reference = `doc_id % 3 != 0`; batch = the genuinely-new docs
    * (`doc_id % 3 = 0`) plus a re-crawl slice (`doc_id % 15 = 1`, always
    * reference members, re-keyed `+ 10_000_000`) whose text the
    * reference already holds. Output = batch survivors.
    *
    * Scale shape (the reason this is not just [[dedupExact]] over the
    * union): the reference text is read ONCE — into a materialized
    * (md5, xxhash64) hash index via [[sharedIndexPath]], the same
    * once-per-corpus-epoch amortization as the shingle index. The Bloom
    * filter (bits ≪ corpus, built distributed by
    * `DataFrameStatFunctions.bloomFilter`'s treeAggregate over the
    * index's 8 B column) is probed map-side via
    * [[graft.functions.BloomMightContain]] (native codegen expression,
    * stays in the scan's WholeStageCodegen). Bloom-NEGATIVE batch rows
    * are definitely novel: they bypass the join and its shuffle
    * entirely. Only bloom-positive rows (true dupes + the filter's fp
    * rate) reach the exact-confirm anti-join against the index's 16 B
    * `text_hash` column, so the per-delivery cost is: one batch pass
    * (twice map-side for the sure/confirm split — trivial next to
    * caching a delivery), a hit-bounded shuffle, and an index-column
    * scan — never a reference-text re-read. Results are exactly the
    * anti-join's (false positives are filtered by the join; false
    * negatives don't exist). The capacity bound below comes from the
    * index row count (a parquet-footer count — no data scan).
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"), col("source"))
      .unionByName(d.filter(col("doc_id") % 15 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          col("source")))
    // the reference HASH INDEX, materialized once per corpus epoch (the
    // shingle-index pattern): one text pass emits (md5, xxhash64) per
    // reference doc, and every later delivery's bloom build + confirm
    // join read these 16 B/8 B columns — never the reference text again
    val refIdx = s.read.parquet(sharedIndexPath(
      s, dir, "documents.parquet", "refhash") { p =>
      docs(s, dir).filter(col("doc_id") % 3 =!= 0)
        .select(md5(col("text")).as("text_hash"),
          xxhash64(col("text")).as("h"))
        .write.mode("overwrite").parquet(p)
    })
    // capacity from the footer-only index row count; over-sizing a Bloom
    // filter only lowers its fp rate
    val bloom = refIdx.stat.bloomFilter("h", math.max(refIdx.count(), 1L), 0.03)
    val probed = batch
      .withColumn("mc", BloomMightContain.probe(xxhash64(col("text")), bloom))
    val sure = probed.filter(!col("mc"))
    val confirmed = probed.filter(col("mc"))
      .withColumn("text_hash", md5(col("text")))
      .join(refIdx.select("text_hash"), Seq("text_hash"), "left_anti")
    sure.select(col("doc_id"), col("source"))
      .unionByName(confirmed.select(col("doc_id"), col("source")))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String =
    """WITH ref AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
      |batch AS (
      |  SELECT doc_id, text, source FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, text, source FROM documents
      |  WHERE doc_id % 15 = 1)
      |SELECT b.doc_id, b.source FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.text = b.text)
      |ORDER BY b.doc_id""".stripMargin

  // ----------------------------------------------------- X2 fuzzy (prefix)

  /** `dedup_fuzzy`: deterministic near-dup simplification — collapse on
    * the lowercased first-5-token prefix (SURVEY.md §2.9 X2's
    * oracle-checkable form; the full MinHash path is [[dedupMinhash]]).
    */
  def dedupFuzzy(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(expr(s"array_join(slice($toksExpr, 1, 5), ' ')").as("pfx"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"))
      .orderBy("doc_id")

  val dedupFuzzySql: String =
    s"""SELECT min(doc_id) AS doc_id, count(*) AS n
       |FROM documents
       |GROUP BY array_to_string(list_slice($toksSql, 1, 5), ' ')
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- X2 exact n-gram Jaccard

  /** `dedup_ngram_jaccard`: exact pairwise Jaccard over distinct 3-gram
    * token shingles, threshold 0.5. The correctness oracle for the LSH
    * path — O(pairs-sharing-a-shingle), small-scale only (scaladoc above).
    */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    exactJaccardPairs(s, dir).orderBy("doc_a", "doc_b")

  /** The full exact-Jaccard pair frame `(doc_a, doc_b, jaccard ≥ 0.5)`,
    * unordered — single-sourced between [[dedupNgramJaccard]] (which
    * just orders it) and [[minhashBandSweep]] (which uses it as the
    * ground truth its recall is measured against), so the sweep can
    * never audit different pair semantics than the exact key serves.
    */
  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // all consumers scan the materialized shared shingle index
    val u = shingleSetShared(s, dir)
    val sizes = u.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // pair generation as grouped-collect + double explode rather than
    // the oracle's self-join: ONE exchange of the index (by g) instead
    // of two join inputs plus the join itself; df = 1 shingles — the
    // vast majority of a natural corpus — drop before any pair row
    // exists. Output rows are the identical Σ df·(df−1)/2 ordered pairs
    // the self-join emits (r14: sf0.1 median 1.16 → ~1.0 s over three
    // restricted runs; r15 removed the two shuffled size joins — see the
    // broadcast note below). MEMORY CEILING, deliberate:
    // collect_list holds one O(df) array per shingle in a single
    // aggregation buffer and double-explodes df² pairs from one row —
    // fine here because this key IS the small-scale exact-oracle arm
    // (scaladoc above); the production paths (minhash/simhash/substring
    // keys) band or cap the Zipf head instead and never build a
    // per-shingle doc list.
    // Two explicit-count repartitions around the pair explosion (guide
    // §2.2/§2.5; r18, measured via the --metrics operator dump): AQE
    // sizes post-shuffle stages by the EXCHANGE's bytes, so it coalesced
    // the ~4 MB grouped-list stage to 3 tasks and the ~13 MB pair-agg
    // stage to 10 — but the df² explode below runs ~100× bigger than
    // the exchange AQE measured (2.79 M generated rows on THREE tasks of
    // a 32-core host), and the pair aggregate then built ~113 k keys
    // per task against the 65 k-slot codegen fast hash map
    // (avgHashProbe=310 — every miss walks a full probe chain).
    // Explicit-count repartitions are exempt from AQE coalescing;
    // defaultParallelism keeps them scale-adaptive (r17 §9 rule). The
    // second one pre-clusters by the aggregation key, so the pair agg
    // reuses it instead of adding its own exchange (partial+final run
    // back-to-back on the pinned 32-way partitioning). Measured
    // back-to-back warm minima at sf0.1: 1.12 → 0.85 s. Two rejected
    // variants, for the record: dense-int ids + packed single-long pair
    // key (a dict broadcast probe on every index row cost more than the
    // narrower types saved — 1.29 s), and an xxhash64 salt column in the
    // grouping key to fix the fast-map probe clustering (0.96 s).
    // round-robin, NOT repartition(par, g): hash-repartitioning on g
    // re-creates the child aggregate's own partitioning, so the
    // optimizer elides it as redundant and AQE coalesces the collect
    // exchange again (observed in the plan dump). Round-robin survives
    // (different partitioning), its explicit count is AQE-exempt, and
    // Spark's sort-before-repartition keeps it retry-deterministic over
    // the 27 k grouped rows.
    val par = s.sparkContext.defaultParallelism
    val inter = u.groupBy("g")
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .repartition(par)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .repartition(par, col("doc_a"), col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("x"))
    // sizes is ONE row per document — broadcast both lookups (r14
    // verdict #4) so the pair frame is never re-shuffled by doc_a/doc_b:
    // the plan is now one exchange of the shingle index (the grouped
    // collect), one pair-agg exchange, and two broadcast hash joins.
    // NOTE the hint is MANDATORY, not advisory: past Spark's broadcast
    // limits a corpus-scale per-doc table would fail the job rather
    // than fall back to shuffled joins — fine here because this key IS
    // the deliberately small-scale exact-oracle arm (scaladoc above);
    // a scale-sensitive path must size the table first and DROP the
    // hint (restoring the shuffled joins) rather than copy this.
    inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "na")), "doc_a")
      .join(broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "nb")), "doc_b")
      .withColumn("jaccard", col("x").cast("double") / (col("na") + col("nb") - col("x")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        Buckets.round6(col("jaccard")).as("jaccard"))
  }

  /** Shared exact-pair CTE chain (`shingle_u`, `sizes`, `inter`) —
    * single-sourced between [[dedupNgramJaccardSql]] and
    * [[minhashBandSweepSql]] like the engine-side [[exactJaccardPairs]].
    */
  private val exactPairCtes: String =
    s"""$shingleUSql,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shingle_u GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS x
       |  FROM shingle_u a JOIN shingle_u b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  val dedupNgramJaccardSql: String =
    s"""WITH $exactPairCtes
       |SELECT doc_a, doc_b,
       |       ${Buckets.round6Sql("CAST(x AS DOUBLE) / (na.sz + nb.sz - x)")}
       |         AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = doc_a
       |JOIN sizes nb ON nb.doc_id = doc_b
       |WHERE CAST(x AS DOUBLE) / (na.sz + nb.sz - x) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ X2 MinHash + LSH

  /** LSH geometry: 16 MD5 MinHashes, 8 bands × 2 rows. Candidate
    * probability at Jaccard j is 1-(1-j²)⁸ (≈1.0 for j ≥ 0.8, 0.90 at
    * j = 0.5) — recall < 1 near the threshold is the documented LSH
    * trade-off; both engines compute the identical candidate set, so the
    * oracle still hash-matches.
    */
  val MinhashSeeds = 16
  val BandRows = 2

  /** `dedup_minhash`: MinHash signatures → banded LSH buckets →
    * candidate pairs → exact Jaccard verification (≥ 0.5) on candidates
    * only.
    *
    * Signatures are computed RELATIONALLY — explode to (doc, shingle) ×
    * seed rows, one codegen'd `md5` projection, `min` hash-aggregate per
    * (doc, seed) — rather than with `transform`/`array_min` lambdas:
    * higher-order function expressions are interpreted per element, and
    * the lambda form measured 200s vs ~10s for the identical result at
    * sf0.1. This is also byte-for-byte the oracle SQL's shape.
    */
  /** The LSH-verified pair set as a materialized shared index, like
    * [[shingleSetShared]]: the signature → banding → verification
    * pipeline runs once per (JVM, dir) and lands in tmp parquet; every
    * downstream consumer ([[dedupMinhash]]'s own query key and
    * [[dedupCluster]]'s contraction input) scans the written file. The
    * 100 TB shape is identical — a near-dup pair index materialized once
    * next to the corpus, feeding both reporting and cluster collapse.
    */
  private[graft] def minhashPairsShared(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedIndexPath(s, dir, "documents.parquet", "minhash_pairs") {
      p => minhashPairsImpl(s, dir).write.mode("overwrite").parquet(p)
    })

  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairsShared(s, dir).orderBy("doc_a", "doc_b")

  /** Single-pass MinHash signatures `(doc_id, h0..h15)` over the distinct
    * shingle index. The 16 seed-hashes are projected as COLUMNS in one
    * codegen'd pass, then one groupBy(doc_id) with 16 plain min buffers.
    * Two properties matter: (1) no 16× row blowup and one shuffle of one
    * row per doc, vs two shuffles of 16·|docs| rows in the exploded
    * form; (2) the md5s live in a whole-stage-codegen Project, NOT
    * inside the aggregate — string min buffers force a sort-based
    * aggregate whose update expressions evaluate interpreted, and
    * re-evaluating md5 there measured 57 s vs 6 s for the identical
    * result at sf0.1.
    */
  private def minhashSignatures(u: DataFrame): DataFrame = {
    val hashed = u.select(col("doc_id") +:
      (0 until MinhashSeeds).map(i =>
        md5(concat(lit(s"$i|"), col("g"))).as(s"x$i")): _*)
    val minCols = (0 until MinhashSeeds).map(i => min(col(s"x$i")).as(s"h$i"))
    hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** LSH candidate pairs from the signature table: 8 bands of 2 rows,
    * band key = md5(h_{2b} || h_{2b+1}) in seed order, then bucket-local
    * pair generation — aggregate each LSH bucket's doc list and emit
    * ordered pairs from it, one pass over `bands`, replacing the round-1
    * self-join that needed a second materialization barrier (two
    * evaluations of the signature pipeline). Bucket size = docs agreeing
    * on a full band ≈ near-dup cluster size, so the per-bucket pair
    * blowup is bounded by actual duplicate groups, not data volume.
    */
  /** Ordered pairs from each bucket's collected doc list — the tail
    * every bucket-local pair generator shares (LSH bands, rare-shingle
    * containment blocks): keep buckets with ≥ 2 docs, double-explode,
    * `doc_a < doc_b`, distinct. Single-sourced (r16 review) so the
    * pair semantics cannot drift between the generators.
    */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()

  /** Exact-verification inputs for a pinned candidate pair set: the
    * shingle index restricted to candidate docs (broadcast semi-join,
    * eagerly pinned — sizes and both pair sides consume it), per-doc
    * shingle sizes, and per-pair intersection counts. Single-sourced
    * (r16 review): the minhash pair, minhash audit and containment
    * paths carried three hand-maintained copies of this chain, so an
    * optimization landed on one could silently leave the audit
    * verifying different pair semantics than production serves.
    */
  private def pairVerification(u: DataFrame,
      cand: DataFrame): (DataFrame, DataFrame) = {
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val uc = u.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint(true) // 3 consumers: sizes + both pair sides
    val sizes = uc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(uc.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(uc.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("x"))
    (sizes, inter)
  }

  private def lshCandidates(mh: DataFrame,
      rows: Int = BandRows): DataFrame = {
    // generalized over rows-per-band (r16 review): the band sweep's
    // arms now CALL this instead of re-spelling the banding inline, so
    // its r = [[BandRows]] arm is the production path by construction,
    // not by a comment that could drift
    val bandCols = (0 until MinhashSeeds / rows).map(b =>
      md5(concat((0 until rows).map(j => col(s"h${rows * b + j}")): _*)))
    val bands = mh.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "band_key")))
    bucketPairs(bands.groupBy("band_id", "band_key")
      .agg(collect_list(col("doc_id")).as("ids")))
  }

  private[graft] def minhashPairsImpl(s: SparkSession, dir: String): DataFrame = {
    // the shingle set is the materialized shared index — every consumer
    // (signatures, sizes, exact verification) scans the written parquet
    // instead of racing to recompute one lazy-cached pipeline (measured
    // 254s vs 30s for identical results before the barrier existed)
    val u = shingleSetShared(s, dir)
    val mh = minhashSignatures(u)
    val cand = lshCandidates(mh)
    // exact Jaccard, but only on LSH candidates — and only over the
    // shingles of docs that actually appear in a candidate pair (a tiny
    // broadcast semi-join): verification cost tracks the duplicate set,
    // not the corpus. cand is eagerly pinned — it has two consumers
    // (candidate docs + the intersection join) that would otherwise each
    // recompute the signature pipeline.
    val candCk = cand.localCheckpoint(true)
    val (sizes, inter) = pairVerification(u, candCk)
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "nb"), "doc_b")
      .withColumn("jaccard", col("x").cast("double") / (col("na") + col("nb") - col("x")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        Buckets.round6(col("jaccard")).as("jaccard"))
  }

  /** The LSH candidate + verification CTEs (shared by the minhash and
    * cluster oracles — the cluster oracle closes over the IDENTICAL
    * verified LSH pair set the Spark side feeds the contraction).
    */
  private val minhashPairCtes: String =
    s"""mh AS (
       |  SELECT doc_id, t.s AS s, min(md5(t.s::VARCHAR || '|' || g)) AS h
       |  FROM shingle_u, range($MinhashSeeds) AS t(s)
       |  GROUP BY doc_id, t.s),
       |bands AS (
       |  SELECT doc_id, s // $BandRows AS band_id,
       |         md5(string_agg(h, '' ORDER BY s)) AS band_key
       |  FROM mh GROUP BY doc_id, s // $BandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shingle_u GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS x
       |  FROM cand
       |  JOIN shingle_u ua ON ua.doc_id = doc_a
       |  JOIN shingle_u ub ON ub.doc_id = doc_b AND ub.g = ua.g
       |  GROUP BY 1, 2)""".stripMargin

  val dedupMinhashSql: String =
    s"""WITH $shingleUSql,
       |$minhashPairCtes
       |SELECT doc_a, doc_b,
       |       ${Buckets.round6Sql("CAST(x AS DOUBLE) / (na.sz + nb.sz - x)")}
       |         AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = doc_a
       |JOIN sizes nb ON nb.doc_id = doc_b
       |WHERE CAST(x AS DOUBLE) / (na.sz + nb.sz - x) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------ X54 minhash estimator audit

  /** `minhash_audit`: estimator-quality report for the MinHash path —
    * for every LSH candidate pair, the SIGNATURE estimate of Jaccard
    * (matching components / [[MinhashSeeds]] — the unbiased MinHash
    * estimator, Broder 1997), the exact shingle Jaccard, and their
    * error. This is the audit that justifies the banding operating
    * point: it shows directly how tight 16 components bound the
    * estimate around the true overlap on this corpus, the same way
    * AnnRecallSpec gates IVF recall and [[graft.ops.Similarity
    * .embedQuantize]] bounds int8 error.
    *
    * Same scale shape as [[dedupMinhash]] itself: signatures one pass,
    * candidates bucket-local, exact verification only over candidate
    * docs (broadcast semi-join) — the audit adds one 16-column signature
    * join on the candidate pairs, bounded by the duplicate set.
    */
  def minhashAudit(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedIndexPath(s, dir, "documents.parquet", "minhash_audit") {
      p => minhashAuditImpl(s, dir).write.mode("overwrite").parquet(p)
    }).orderBy("doc_a", "doc_b")

  private def minhashAuditImpl(s: SparkSession, dir: String): DataFrame = {
    val u = shingleSetShared(s, dir)
    // one signature pass feeds candidates AND both pair sides
    val mh = minhashSignatures(u).localCheckpoint(true)
    val cand = lshCandidates(mh).localCheckpoint(true)
    val (sizes, inter) = pairVerification(u, cand)
    val mha = mh.select(col("doc_id").as("doc_a") +:
      (0 until MinhashSeeds).map(i => col(s"h$i").as(s"ha$i")): _*)
    val mhb = mh.select(col("doc_id").as("doc_b") +:
      (0 until MinhashSeeds).map(i => col(s"h$i").as(s"hb$i")): _*)
    val nMatch = (0 until MinhashSeeds).map(i =>
      when(col(s"ha$i") === col(s"hb$i"), 1).otherwise(0)).reduce(_ + _)
    cand.join(mha, "doc_a").join(mhb, "doc_b")
      .withColumn("n_match", nMatch)
      // LEFT join: an LSH candidate whose true shingle intersection is
      // zero (possible only via an md5 minhash/band collision) must
      // still appear in the estimator-quality report, with
      // true_jaccard = 0 — the audit covers ALL candidates
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        // est = n/16 has an exact 4-digit decimal expansion (native
        // round is identity there); true is a COUNT-RATIO division —
        // the midpoint class Buckets.round6 exists to pin (r16 review)
        round(col("n_match").cast("double") / MinhashSeeds, 6).as("est_jaccard"),
        Buckets.round6(
          col("x").cast("double") / (col("na") + col("nb") - col("x")))
          .as("true_jaccard"))
      .withColumn("err", round(col("est_jaccard") - col("true_jaccard"), 6))
      // no inner orderBy: the ordering would be discarded by the
      // parquet write/read round-trip and re-imposed by the reader's
      // orderBy — a wasted global sort per cold build (r16 review)
  }

  /** Oracle: [[minhashPairCtes]]' per-(doc, seed) `mh` rows re-aggregate
    * into the component-match count; est/true/err mirror the engine's
    * round-then-subtract order exactly.
    */
  val minhashAuditSql: String =
    s"""WITH $shingleUSql,
       |$minhashPairCtes,
       |mm AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS INT)
       |           AS n_match
       |  FROM cand c
       |  JOIN mh a ON a.doc_id = c.doc_a
       |  JOIN mh b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY 1, 2)
       |SELECT m.doc_a, m.doc_b, m.n_match,
       |       round(CAST(m.n_match AS DOUBLE) / $MinhashSeeds, 6) AS est_jaccard,
       |       ${Buckets.round6Sql(
                 "CAST(coalesce(i.x, 0) AS DOUBLE) / " +
                 "(na.sz + nb.sz - coalesce(i.x, 0))")} AS true_jaccard,
       |       round(round(CAST(m.n_match AS DOUBLE) / $MinhashSeeds, 6) -
       |             ${Buckets.round6Sql(
                 "CAST(coalesce(i.x, 0) AS DOUBLE) / " +
                 "(na.sz + nb.sz - coalesce(i.x, 0))")}, 6) AS err
       |FROM mm m
       |LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
       |JOIN sizes na ON na.doc_id = m.doc_a
       |JOIN sizes nb ON nb.doc_id = m.doc_b
       |ORDER BY m.doc_a, m.doc_b""".stripMargin

  // --------------------------------------------- X69 LSH banding sweep

  /** Rows-per-band values swept by [[minhashBandSweep]] — every divisor
    * banding of the [[MinhashSeeds]] = 16 signature with r ≥ 2. r = 1
    * is EXCLUDED deliberately: a one-row band buckets on a single
    * minhash component, and any corpus-common shingle that wins the min
    * for some seed puts a large fraction of the corpus into ONE bucket
    * — the degenerate quadratic case LSH banding exists to avoid (the
    * production floor is r = 2 for the same reason).
    */
  val SweepBandRows: Seq[Int] = Seq(2, 4, 8, 16)

  /** `minhash_band_sweep`: the LSH operating-point evidence for the
    * DEDUP retrieval knob — the X67/X68 tuning-curve pattern applied to
    * banding. For every (bands × rows) split of the 16-component
    * signature with r ≥ 2, the candidate-pair count (the cost: every
    * candidate pays an exact verification) and recall against the TRUE
    * duplicate set (every exact-Jaccard ≥ 0.5 pair, single-sourced from
    * [[exactJaccardPairs]] so the truth is literally the pair set
    * `dedup_ngram_jaccard` serves). The r = 2 arm's candidate set is by
    * construction the [[lshCandidates]] set the production
    * `dedup_minhash` key deploys — the committed operating point sits
    * ON the measured curve, exactly like NProbe/PqShortlist in the ANN
    * sweeps. Theory check the fixture reproduces: candidate probability
    * at Jaccard j is 1−(1−j^r)^(16/r), monotone DECREASING in r at
    * fixed j — so recall falls and cost falls as r grows, and the spec
    * gates both monotonicities.
    *
    * Counts are integers; the only division is one `hits / |truth|`
    * recall per arm on the pinned round6. At 100 TB the exact-pair
    * ground truth is the sampled audit (the brute arm here, same as the
    * ANN sweeps' lattice); production serving never materializes it.
    */
  def minhashBandSweep(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedIndexPath(s, dir, "documents.parquet",
      "minhash_band_sweep") { p =>
      minhashBandSweepImpl(s, dir).write.mode("overwrite").parquet(p)
    }).orderBy("rows_per_band")

  /** The sweep computation — persisted under the shared tmp-index
    * lifecycle like [[minhashAudit]]: a banding audit runs ONCE per
    * corpus (signature pass + exact ground truth dominate; measured
    * 5.3 s live vs 0.05 s served at sf0.1), and every re-read scans the
    * 4-row result. Exactly how a deployment treats calibration output.
    */
  private def minhashBandSweepImpl(s: SparkSession, dir: String): DataFrame = {
    val u = shingleSetShared(s, dir)
    // one signature pass feeds every arm; eager pin (4 consumers)
    val mh = minhashSignatures(u).localCheckpoint(true)
    val truth = exactJaccardPairs(s, dir)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val tc = truth.agg(count(lit(1)).as("t"))
    val arms = SweepBandRows.map { r =>
      val b = MinhashSeeds / r
      // each arm IS production lshCandidates at that rows-per-band —
      // the r = 2 arm is the deployed banding by construction
      val cand = lshCandidates(mh, r)
        .localCheckpoint(true) // two consumers: cost count + hit count
      cand.agg(count(lit(1)).as("candidates"))
        .crossJoin(cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("hits")))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("candidates"), col("hits"))
    }.reduce(_ unionByName _)
    arms.crossJoin(broadcast(tc))
      .select(col("bands"), col("rows_per_band"), col("candidates"),
        col("hits"),
        // duplicate-free corpus ⇒ t = 0: pin recall to NULL explicitly
        // on BOTH sides — Spark's non-ANSI 0-division is NULL but the
        // oracle's float division is IEEE, so an unguarded hash would
        // desync exactly when the fixture degenerates (r15 advice)
        when(col("t") =!= 0,
          Buckets.round6(col("hits").cast("double") / col("t")))
          .as("recall"))
      .orderBy("rows_per_band")
  }

  /** Oracle: the exact-pair chain as `truth`, one `mh` per-(doc, seed)
    * table, and per-arm band/candidate CTEs whose band-key text matches
    * the engine's seed-ordered concat; arms union, one recall division
    * per row on the pinned round6.
    */
  val minhashBandSweepSql: String = {
    val bandCtes = SweepBandRows.map { r =>
      s"""bands_$r AS (
         |  SELECT doc_id, s // $r AS band_id,
         |         md5(string_agg(h, '' ORDER BY s)) AS band_key
         |  FROM mh GROUP BY doc_id, s // $r),
         |cand_$r AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_$r a JOIN bands_$r b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val arms = SweepBandRows.map { r =>
      s"""  SELECT CAST(${MinhashSeeds / r} AS BIGINT) AS bands,
         |         CAST($r AS BIGINT) AS rows_per_band,
         |         (SELECT count(*) FROM cand_$r) AS candidates,
         |         (SELECT count(*) FROM cand_$r c JOIN truth t
         |            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS hits""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $exactPairCtes,
       |truth AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes na ON na.doc_id = doc_a
       |  JOIN sizes nb ON nb.doc_id = doc_b
       |  WHERE CAST(x AS DOUBLE) / (na.sz + nb.sz - x) >= 0.5),
       |tc AS (SELECT count(*) AS t FROM truth),
       |mh AS (
       |  SELECT doc_id, t.s AS s, min(md5(t.s::VARCHAR || '|' || g)) AS h
       |  FROM shingle_u, range($MinhashSeeds) AS t(s)
       |  GROUP BY doc_id, t.s),
       |$bandCtes,
       |arms AS (
       |$arms)
       |SELECT bands, rows_per_band, candidates, hits,
       |       CASE WHEN t = 0 THEN NULL
       |            ELSE ${Buckets.round6Sql("CAST(hits AS DOUBLE) / t")}
       |       END AS recall
       |FROM arms CROSS JOIN tc
       |ORDER BY rows_per_band""".stripMargin
  }

  // ------------------------------------------------ X55 HLL cardinality sketch

  /** HLL register-index bits; m = 2^bits registers, and the rank window
    * is the remaining 32 − bits of the hash value. Every constant in the
    * sketch (m, m², the window width, the rank ceiling, α's `/m` term)
    * derives from this ONE value, so re-tuning the sketch is a
    * single-line change that cannot half-apply.
    */
  val HllIndexBits = 8
  val HllBuckets: Int = 1 << HllIndexBits
  private val HllWindowBits = 32 - HllIndexBits
  private val HllWindow = 1L << HllWindowBits
  /** α_m · m² and the bias constant, from Flajolet et al. 2007 (the
    * m ≥ 128 approximation of α_m), spelled identically in both engines.
    */
  private val HllAlpha =
    s"CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / $HllBuckets)"

  /** `sketch_hll`: a fully deterministic HyperLogLog (Flajolet et al.
    * 2007) over the shingle multiset — estimated distinct-shingle count
    * next to the exact count and the relative error. This is THE
    * cardinality primitive a 100 TB corpus runs instead of exact
    * distinct (`approx_count_distinct` is Spark's own HLL, but its
    * binary sketch is not oracle-comparable — this one is pure
    * relational arithmetic, so DuckDB reproduces it bit-for-bit):
    * per row, a 32-bit value from the md5 prefix splits into an 8-bit
    * register index and a 24-bit rank window whose leading-zero rank
    * comes from a 24-term integer comparison ladder (no log, no float);
    * registers are `max(rho)` — duplicates cannot move a max, which is
    * the whole trick: NO distinct, NO wide shuffle, just a 256-row
    * aggregate.
    *
    * Determinism notes: every `2^-M` term is an exact power of two, so
    * the register sum is EXACT in double regardless of order; the
    * small-range (linear-counting) branch fires via the standard
    * `E ≤ 5m/2 ∧ V > 0` rule with CASE laziness guarding the ln. At
    * 100 TB the plan is one linear pass + a 256-row shuffle — compare
    * the exact arm's count-distinct expansion, which is why sketches
    * exist.
    */
  def sketchHll(s: SparkSession, dir: String): DataFrame = {
    val u = shingleSetShared(s, dir)
    // 32-bit value from the first 8 md5 hex chars — the byteBucket
    // nibble arithmetic (Tokens) widened to 8 digits
    val regs = hllRho(u).groupBy("bucket").agg(max(col("rho")).as("m"))
    val exact = u.agg(countDistinct(col("g")).as("n_exact"))
    exact.crossJoin(hllEstimate(regs))
      .select(col("n_exact"), col("n_est"),
        // empty-corpus guard (the dedupThresholdSweep rule): x/0 is
        // NULL in Spark but ±Inf/NaN in DuckDB — pin both to NULL
        round(when(col("n_exact") > 0,
          (col("n_est") - col("n_exact")) / col("n_exact")), 6)
          .as("rel_err"))
  }

  /** Per-row `(bucket, rho)` from a frame with shingle column `g` — the
    * hash/split/rank stage of the sketch, shared with the STREAMING
    * register fold (registers are max-mergeable, so the same rho stream
    * feeds both the batch aggregate and the per-micro-batch merge).
    */
  private[graft] def hllRho(g: DataFrame): DataFrame =
    g.select(md5(col("g")).as("h"))
      .withColumn("v", expr(Tokens.hexPrefixExpr("h", 8)))
      .withColumn("bucket", expr(s"v div $HllWindow"))
      .withColumn("w", expr(s"v % $HllWindow"))
      .select(col("bucket"),
        expr(s"${HllWindowBits + 1} - (${hllBitsLadder})").as("rho"))

  /** The estimate `(n_est)` from a register frame `(bucket, m)` —
    * Flajolet's raw harmonic estimate with the linear-counting
    * small-range correction, rounded at the output edge.
    */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame =
    // psum coalesces to 0 so an EMPTY register frame stays defined:
    // raw = α·m²/m, v0 = m > 0 → linear counting m·ln(m/m) = 0, the
    // right answer for zero observed values (sum() alone returns NULL
    // and the CASE would fall through to a NULL estimate)
    regs.agg(count(lit(1)).as("present"),
        coalesce(sum(expr("power(CAST(2 AS DOUBLE), -m)")), lit(0d))
          .as("psum"))
      .withColumn("raw", expr(
        s"$HllAlpha * ${HllBuckets.toLong * HllBuckets} / " +
          s"(psum + ($HllBuckets - present))"))
      .withColumn("v0", expr(s"$HllBuckets - present"))
      .withColumn("n_est", round(expr(
        s"CASE WHEN raw <= CAST(2.5 AS DOUBLE) * $HllBuckets AND v0 > 0 " +
          s"THEN $HllBuckets * ln(CAST($HllBuckets AS DOUBLE) / v0) " +
          "ELSE raw END"), 6))
      .select("n_est")

  /** Oracle: identical integer/IEEE arithmetic; only substring-search
    * spelling differs (strpos vs position — the [[Tokens]] note).
    */
  val sketchHllSql: String =
    s"""WITH $shingleUSql,
       |hv AS (
       |  SELECT (v // $HllWindow) AS bucket, (v % $HllWindow) AS w FROM (
       |    SELECT ${Tokens.hexPrefixSql("h", 8)} AS v
       |    FROM (SELECT md5(g) AS h FROM shingle_u))),
       |regs AS (
       |  SELECT bucket, max(${HllWindowBits + 1} - (${hllBitsLadder})) AS m
       |  FROM hv GROUP BY 1),
       |agg AS (
       |  SELECT count(*) AS present,
       |         coalesce(sum(power(CAST(2 AS DOUBLE), -m)),
       |                  CAST(0 AS DOUBLE)) AS psum
       |  FROM regs),
       |e AS (
       |  SELECT round(CASE WHEN raw <= CAST(2.5 AS DOUBLE) * $HllBuckets AND v0 > 0
       |                    THEN $HllBuckets * ln(CAST($HllBuckets AS DOUBLE) / v0)
       |                    ELSE raw END, 6) AS n_est
       |  FROM (SELECT $HllAlpha * ${HllBuckets.toLong * HllBuckets} /
       |               (psum + ($HllBuckets - present)) AS raw,
       |               ($HllBuckets - present) AS v0
       |        FROM agg)),
       |x AS (SELECT count(DISTINCT g) AS n_exact FROM shingle_u)
       |SELECT n_exact, n_est,
       |       round(CASE WHEN n_exact > 0
       |             THEN (n_est - n_exact) / n_exact END, 6) AS rel_err
       |FROM x, e""".stripMargin

  /** `bits_needed(w)` as a [[HllWindowBits]]-term integer comparison
    * ladder — pure arithmetic with identical text in both dialects, so
    * engine and oracle share the one string. `rho = window+1 − bits`.
    */
  private def hllBitsLadder: String =
    (0 until HllWindowBits).map(k =>
      s"CASE WHEN w >= ${1L << k} THEN 1 ELSE 0 END").mkString(" + ")

  // ---------------------------------------------- X57 count-min sketch

  /** CMS geometry: depth (independent hash rows) × width (counters per
    * row). 4×256 gives ε = e/256 ≈ 1% of stream volume at δ = e⁻⁴ —
    * the textbook small operating point, and 1 KB of state.
    */
  val CmsDepth = 4
  val CmsWidth = 256
  // each hash row consumes one DISJOINT byte pair of the 32-hex-char
  // md5 — past 16 rows the substring would silently read '' and
  // degenerate every extra row to a single shared counter
  require(CmsDepth * 2 <= 32, "CmsDepth rows exceed the md5 byte pairs")

  /** Tokens reported by [[sketchCms]]: the top-k by exact count. */
  val CmsTopK = 20

  /** `sketch_cms`: a fully deterministic Count-Min sketch (Cormode &
    * Muthukrishnan 2005) over the token stream — the heavy-hitter /
    * frequency-estimate primitive next to [[sketchHll]]'s distinct
    * count. Build: every token occurrence increments one counter per
    * hash row; the [[CmsDepth]] row hashes are DISJOINT BYTE PAIRS of
    * ONE md5(token) (bytes of a cryptographic digest are independent —
    * one hash evaluation instead of depth, measured 4× less hash work
    * per occurrence at sf0.1; the nibble arithmetic is
    * [[Tokens.byteBucketExpr]], so DuckDB reproduces every counter
    * exactly). The counter table is depth×width rows TOTAL, independent
    * of stream volume. Serve: for the [[CmsTopK]] most frequent tokens,
    * the estimate is the MIN over its [[CmsDepth]] counters — never
    * below the true count (CMS's one-sided guarantee, asserted in spec
    * and visible in the `overestimate` column).
    *
    * At 100 TB: the build is one linear pass whose shuffle carries ≤
    * depth×width partial counts per partition (map-side combined — the
    * counter table IS the aggregation state); serving joins only the
    * queried tokens against a 1 KB broadcast table. The exact arm
    * (token counts) exists here as the audit comparison; production
    * keeps only the sketch.
    */
  def sketchCms(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass (guide §2.4 "share one exchange"; r17 verdict #4):
    // the counter build and the exact audit arm both hang off the SAME
    // (token → count) aggregate, so ReuseExchange computes the
    // scan+tokenize once (was: two independent corpus passes, one per
    // arm). Counters derive by SUMMING token counts into their (row,
    // col) buckets — identical integers to counting occurrences
    // directly, and one md5 per DISTINCT token instead of per
    // occurrence. The exact arm stays the declared audit comparison;
    // only its plumbing is shared.
    val tokCounts = cmsToks(docs(s, dir))
      .groupBy("t").agg(count(lit(1)).as("tn"))
    val exact = tokCounts.select(col("t"), col("tn").as("n_exact"))
      .orderBy(col("n_exact").desc, col("t")).limit(CmsTopK)
    cmsProbe(exact, cmsCountersFromCounts(tokCounts))
  }

  private def cmsToks(d: DataFrame): DataFrame =
    d.select(explode(expr(Tokens.toksExpr)).as("t"))
      .filter(length(col("t")) > 0)

  /** Row r's counter column for a token whose md5 is in column `h`. */
  private def cmsRowCol(r: Int): String =
    Tokens.byteBucketExpr(s"substring(h, ${2 * r + 1}, 2)")

  /** The counter build from a `documents(text)` frame: one pass, ONE
    * md5, d counters touched per occurrence — explode the d (row, col)
    * pairs per token and count; the groupBy state is the counter table
    * itself (≤ d·w groups). Split out so the STREAMING sum-merge fold
    * shares it verbatim (CMS counters merge by addition — the other
    * mergeable-sketch algebra next to HLL's max).
    */
  private[graft] def cmsCounters(d: DataFrame): DataFrame =
    cmsCountersFromCounts(
      cmsToks(d).groupBy("t").agg(count(lit(1)).as("tn")))

  /** Counter build from a pre-aggregated `(t, tn)` token-count table:
    * summing counts into the (row, col) buckets yields the identical
    * counter integers as counting raw occurrences, with one md5 per
    * DISTINCT token. Shared by [[sketchCms]] (which reuses the count
    * table for its exact arm) and [[cmsCounters]] (the raw-frame form
    * the streaming sum-merge fold consumes per batch).
    */
  private[graft] def cmsCountersFromCounts(tc: DataFrame): DataFrame = {
    val rowCols = (0 until CmsDepth).map { r =>
      struct(lit(r).as("r"), expr(cmsRowCol(r)).as("c"))
    }
    tc.withColumn("h", md5(col("t")))
      .select(explode(array(rowCols: _*)).as("rc"), col("tn"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(sum(col("tn")).as("n"))
  }

  /** The serving/audit side over a counter table: the top-k exact
    * tokens (the audit arm), each probing its d counters against the
    * broadcast counters with a min-of-rows fold.
    */
  private[graft] def cmsServe(s: SparkSession, dir: String,
      counters: DataFrame): DataFrame = {
    val exact = cmsToks(docs(s, dir))
      .groupBy("t").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("t")).limit(CmsTopK)
    cmsProbe(exact, counters)
  }

  /** The probe tail shared by [[cmsServe]] and [[sketchCms]]: each
    * top-k exact token probes its d counters against the broadcast
    * counter table with a min-of-rows fold.
    */
  private def cmsProbe(exact: DataFrame, counters: DataFrame): DataFrame = {
    val probes = exact.withColumn("h", md5(col("t")))
      .select(col("t"), col("n_exact"),
        posexplode(array((0 until CmsDepth).map(r =>
          expr(cmsRowCol(r))): _*))
          .as(Seq("r", "c")))
    probes.join(broadcast(counters), Seq("r", "c"))
      .groupBy("t", "n_exact").agg(min(col("n")).as("n_est"))
      .select(col("t"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overestimate"))
      .orderBy(col("n_exact").desc, col("t"))
  }

  val sketchCmsSql: String = {
    def colFor(r: Int): String =
      Tokens.byteBucketSql(s"substr(h, ${2 * r + 1}, 2)")
    val buildArms = (0 until CmsDepth).map { r =>
      s"SELECT $r AS r, ${colFor(r)} AS c FROM toks"
    }.mkString("\nUNION ALL\n")
    val probeArms = (0 until CmsDepth).map { r =>
      s"SELECT t, n_exact, $r AS r, ${colFor(r)} AS c FROM topk"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT t, md5(t) AS h
       |  FROM (SELECT unnest($toksSql) AS t FROM documents)
       |  WHERE length(t) > 0),
       |counters AS (
       |  SELECT r, c, count(*) AS n FROM ($buildArms) GROUP BY 1, 2),
       |topk AS (
       |  SELECT t, md5(t) AS h, count(*) AS n_exact FROM toks GROUP BY 1, 2
       |  ORDER BY n_exact DESC, t LIMIT $CmsTopK),
       |probes AS ($probeArms)
       |SELECT p.t, p.n_exact, min(ct.n) AS n_est,
       |       min(ct.n) - p.n_exact AS overestimate
       |FROM probes p JOIN counters ct ON ct.r = p.r AND ct.c = p.c
       |GROUP BY p.t, p.n_exact
       |ORDER BY p.n_exact DESC, p.t""".stripMargin
  }

  // --------------------------------------------- near-dup cluster collapse

  /** `dedup_cluster`: connected components over [[dedupMinhash]]'s
    * LSH-verified pair graph, each document labelled with its
    * component's minimum doc_id (the canonical member a collapse keeps).
    * The oracle rebuilds the same pair set before its recursive closure.
    */
  def dedupCluster(s: SparkSession, dir: String): DataFrame =
    components(minhashPairsShared(s, dir))

  /** `(doc_id, cluster_id)` for every endpoint of the `(doc_a, doc_b)`
    * edges, cluster_id = component minimum. One task runs union-find in
    * memory O(edges + distinct endpoints); its single partition needs no
    * exchange, so the final sort runs no sampling job either.
    */
  private[graft] def components(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { edges =>
        val (as, bs) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
        edges.foreach { case (a, b) => as += a; bs += b }
        val (ea, eb) = (as.result(), bs.result())
        // dense ids: the sorted distinct endpoints, so id order is doc order
        val ids = ea ++ eb
        Arrays.sort(ids)
        var n = 0
        for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
        def id(x: Long): Int = Arrays.binarySearch(ids, 0, n, x)
        val parent = Array.range(0, n)
        // iterative (a long chain must not overflow the stack), with path
        // compression
        def find(x0: Int): Int = {
          var r = x0
          while (parent(r) != r) r = parent(r)
          var x = x0
          while (parent(x) != r) { val up = parent(x); parent(x) = r; x = up }
          r
        }
        // larger root under smaller, never by rank: the root stays the
        // component minimum
        for (i <- ea.indices) {
          val (ra, rb) = (find(id(ea(i))), find(id(eb(i))))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
      }
      .toDF("doc_id", "cluster_id")
      .orderBy("doc_id")
  }

  /** Oracle: the SAME LSH-verified pair set ([[minhashPairCtes]]), then
    * transitive closure by recursive CTE, min reachable id. The CTE chain
    * through `comp` (per-doc component assignment) is shared with the
    * downstream curation oracles ([[Curation.dedupCollapseSql]]).
    */
  private[graft] val clusterCtes: String =
    s"""$shingleUSql,
       |$minhashPairCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes na ON na.doc_id = doc_a
       |  JOIN sizes nb ON nb.doc_id = doc_b
       |  WHERE CAST(x AS DOUBLE) / (na.sz + nb.sz - x) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS doc_id, min(v) AS cluster_id
       |  FROM reach GROUP BY u)""".stripMargin

  val dedupClusterSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ X2 SimHash

  /** Fingerprint width. 64 bits — the published SimHash operating point
    * (Charikar fingerprints as deployed for web near-dup detection use
    * 64-bit fingerprints with a small Hamming radius); md5's 32 hex
    * chars give 128 bits, the first 16 nibbles feed the 64 sums.
    */
  val SimhashBits = 64
  /** Banding for candidate generation: 4 bands × 16 bits. Two docs within
    * Hamming distance 3 of each other agree on ≥ 1 full band by
    * pigeonhole, so band-bucket collision is a COMPLETE candidate filter
    * for radius ≤ 3 (unlike MinHash banding, which is probabilistic).
    */
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands
  /** Near-dup radius: pairs at Hamming distance ≤ 3 (the classic web
    * near-dup threshold for 64-bit fingerprints).
    */
  val SimhashHammingMax = 3

  /** `dedup_simhash`: 64-bit SimHash per document from MD5 token hashes —
    * bit k of the fingerprint is the sign of Σ_tokens (±1 by bit k of
    * md5(token)). Token multiplicity counts (classic SimHash weighting).
    * Bit 63's term is the two's-complement sign term (added LAST in both
    * engines, keeping every partial sum in BIGINT range).
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashFpShared(s, dir).orderBy("doc_id")

  /** The fingerprint frame as a materialized shared index (same pattern
    * as [[shingleSetShared]]): computed once per (JVM, dir), scanned by
    * both the fingerprint key and the banded pair lookup.
    */
  private def simhashFpShared(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedIndexPath(s, dir, "documents.parquet", "simhash") {
      p => simhashFp(s, dir).write.mode("overwrite").parquet(p)
    })

  private def simhashFp(s: SparkSession, dir: String): DataFrame = {
    // the 64 vote bits = the first 16 hex chars of md5(token), parsed
    // big-endian as two u32 halves (each fits a Long through `conv`) and
    // packed with shift/or — which, unlike `*`/`+`, never overflow-check
    // under ANSI. The fold itself is ONE typed aggregate over h64
    // (graft.functions.SimhashAgg) instead of 64 interpreted bit-sum
    // expressions per token row — the r5 bench regression.
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(expr(toksExpr)).as("t"))
      .withColumn("h", md5(col("t")))
      .select(col("doc_id"),
        shiftleft(expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)"), 32)
          .bitwiseOR(expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)"))
          .as("h64"))
    tok.groupBy("doc_id")
      .agg(graft.functions.SimhashAgg(col("h64")).as("simhash"))
  }

  private def simhashCtes: String = {
    val bitSums = (0 until SimhashBits).map { k =>
      val nibble = s"strpos('0123456789abcdef', substr(h, ${k / 4 + 1}, 1)) - 1"
      val bit = s"(($nibble) // ${1 << (3 - k % 4)}) % 2"
      s"sum(2 * ($bit) - 1) AS s_$k"
    }.mkString(", ")
    val fp = (0 until SimhashBits)
      .map(k => s"CASE WHEN s_$k > 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, md5(t) AS h
       |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)),
       |sums AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  val dedupSimhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  /** `dedup_simhash_pairs`: the SimHash near-dup lookup AT SCALE —
    * band-bucketed candidate generation (4 × 16-bit bands; collision on
    * any band is COMPLETE for radius ≤ 3 by pigeonhole, see
    * [[SimhashBands]]) followed by exact Hamming verification
    * `bit_count(a XOR b) <= 3`. The same bucket-local pair-generation
    * shape as the MinHash path: one explode to (doc, band) rows, group
    * by bucket, pairs emitted per bucket — candidate cost tracks bucket
    * occupancy, never corpus². Masked band extraction
    * `(simhash >> 16·b) & 0xFFFF` reads identical bits whether the
    * engine's shift sign-extends or not.
    */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val mask = (1L << SimhashBandBits) - 1
    val bandCols = (0 until SimhashBands).map(b =>
      shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(mask))
    val bands = simhashFpShared(s, dir).select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "band_key")))
    bands.groupBy("band_id", "band_key")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a.doc_id").as("doc_a"), col("a.simhash").as("ha"),
        explode(col("xs")).as("b"))
      .filter(col("doc_a") < col("b.doc_id"))
      .select(col("doc_a"), col("b.doc_id").as("doc_b"),
        col("ha"), col("b.simhash").as("hb"))
      .distinct() // a pair may collide on several bands — count it once
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= SimhashHammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupSimhashPairsSql: String = {
    val mask = (1L << SimhashBandBits) - 1
    s"""WITH $simhashCtes,
       |bands AS (
       |  SELECT doc_id, simhash, b.b AS band_id,
       |         (simhash >> (b.b * $SimhashBandBits)) & $mask AS band_key
       |  FROM fp, range($SimhashBands) AS b(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS ha, b.simhash AS hb
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ha, hb)) <= $SimhashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- X2 embedding-cosine near-dup

  /** Block count for the exact pair scan's tiling. Each join task works
    * one (block_a, block_b) tile of ≈(n/B)² pairs, so per-task memory and
    * runtime are bounded by B, independently of total corpus size.
    */
  val EmbeddingBlocks = 8

  /** `dedup_embedding`: near-duplicate pairs by embedding cosine ≥ 0.45.
    * Exact O(n²/2) comparisons — at threshold 0.45 on isotropic vectors
    * no sub-quadratic exact blocking exists (measured here: IVF-cell
    * blocking 7/14 recall, hyperplane LSH ≈1% — both lose qualifying
    * pairs), so exactness costs the quadratic work. What CAN scale is the
    * shape: instead of one unbounded nested-loop (`crossJoin`), vectors
    * are assigned a deterministic block id and pairs are enumerated per
    * (block_a ≤ block_b) TILE via an equi-join on the block key — the
    * quadratic work becomes B(B+1)/2 independent bounded tasks, the
    * per-shard layout a 100 TB run distributes (with a real blocking key
    * — shard/date/tenant — in place of the hash block, and
    * [[Similarity.similarityAnnIvf]] as the sub-linear ANN path).
    * Norms are projected once per side; the inner loop is one codegen'd
    * dot product per pair ([[graft.functions.DotProductF]]).
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        Similarity.normExpr("embedding").as("nn"),
        pmod(col("vec_id"), lit(EmbeddingBlocks)).as("blk"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("nn").as("na"), col("blk").as("ba"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("nn").as("nb"), col("blk").as("bb"))
    // tile index: every unordered block pair exactly once (ba ≤ bb);
    // tiny and broadcast, so the only real shuffle is the equi-join on bb
    val tiles = (for {
      i <- 0 until EmbeddingBlocks; j <- i until EmbeddingBlocks
    } yield (i.toLong, j.toLong)).toDF("ba", "bb")
    a.join(broadcast(tiles), "ba")
      .join(b, "bb")
      // within a diagonal tile keep each unordered pair once; across
      // tiles the block inequality already de-duplicates
      .filter(col("ba") < col("bb") || col("id_a") < col("id_b"))
      // zero-norm guard on BOTH sides (the embedIsotropy rule, r16
      // review): Spark's NULL cosine silently drops the pair while
      // DuckDB's 0/0 is NaN, which its comparison orders ABOVE the
      // threshold — an all-zero vector would desync the row sets
      .filter(col("na") =!= 0 && col("nb") =!= 0)
      .withColumn("cosine",
        graft.functions.VectorOps.dot_f(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.45)
      .select(least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  val dedupEmbeddingSql: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 6) AS cosine
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) <> 0
       |  AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) <> 0
       |  AND ${Similarity.cosineSql("a.embedding", "b.embedding")} >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin

  // ------------------------------------------ duplicated-substring spans

  /** Span width (tokens) for substring-level dedup. 8 is wide enough
    * that the synthetic word salad only repeats spans where docs really
    * share a copied run (the planted fuzzy dups), narrow enough that a
    * partial copy still overlaps a whole span.
    */
  val SubstringW = 8

  /** A doc whose duplicated-span fraction reaches this is flagged. */
  val SubstringDupFrac = 0.2

  /** `dedup_substring`: substring-level duplication à la Lee et al.
    * (arXiv:2107.06499, "Deduplicating Training Data Makes Language
    * Models Better") — their suffix-array exact-substring pass
    * re-expressed as the Spark-idiomatic rolling-span equivalent: every
    * [[SubstringW]]-token span is keyed by md5, spans occurring ≥2
    * times ANYWHERE in the corpus are "duplicated" (matching the
    * suffix-array rule: a doc that repeats its own paragraph counts,
    * same as a copy across docs), and each doc reports its duplicated
    * span fraction plus a flag at [[SubstringDupFrac]]. Catches the
    * partial-copy case document-level dedup misses (a doc that embeds a
    * copied paragraph inside fresh text — or repeats one internally).
    *
    * At 100 TB: the explode is linear (one row per token position), the
    * only shuffles are keyed on the 16-byte span hash (groupBy docfreq +
    * the join back) and on doc_id (the per-doc fold) — never on span
    * text, never all-pairs. The natural-language Zipf head (stop-word
    * spans shared by everything) is exactly the AQE-skew-split case; a
    * production run would also drop spans above a docfreq cap the same
    * way [[dedupMinhash]] bounds band buckets.
    */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    dedupSubstringImpl(s, dir, cap = None)

  /** Zipf-head docfreq cap for [[dedupSubstringCapped]]: a span shared
    * by more than this many positions corpus-wide is boilerplate
    * (stop-word runs, templated headers), not copying evidence.
    */
  val SubstringDfCap = 64

  /** `dedup_substring_capped`: [[dedupSubstring]] with the documented
    * Zipf-head escape hatch IMPLEMENTED — spans with corpus docfreq
    * > [[SubstringDfCap]] are excluded from BOTH the span count and the
    * duplicated count (the [[graft.ops.TextAnalysis]] boilerplate rule
    * applied to spans: an ultra-common span is uninformative about
    * copying, the way a stopword is uninformative about topic).
    *
    * This is the 100 TB production form: the natural-language Zipf head
    * concentrates a huge share of span INSTANCES on a tiny set of keys,
    * and the cap drops those instances right after the docfreq join —
    * before the per-doc shuffle — so no downstream stage sees the skew
    * (a deployment would additionally broadcast the tiny >cap key list
    * and pre-filter map-side, sparing even the sk-join those rows; the
    * sk aggregate itself is safe either way: map-side combine bounds
    * any one key's reducer input by the task count).
    */
  def dedupSubstringCapped(s: SparkSession, dir: String): DataFrame =
    dedupSubstringImpl(s, dir, cap = Some(SubstringDfCap))

  /** Salt fan-out for [[dedupSubstringSalted]]'s skew-spread join. */
  val SaltBuckets = 16

  /** `dedup_substring_salted`: the EXPLICIT salted-join form of
    * [[dedupSubstringCapped]] — the driver brief's "salting for skew"
    * bullet made concrete on the repo's most Zipf-skewed join (span
    * docfreq back onto span instances: one stopword-run key can carry
    * a huge share of all instances). The big side salts each row by
    * `xxhash64(doc_id) mod 16`; the small (per-key) side explodes ×16;
    * the join key becomes (sk, salt), so a pathological span key
    * spreads over 16 reducers instead of one. Row-pinned identical to
    * the capped key (same oracle, and PlanSpec asserts the salted join
    * keys). AQE's runtime skew split is the usual first answer — this
    * is the deterministic fallback for when a single KEY (not a
    * partition) is hot, which AQE cannot subdivide in a hash join.
    */
  def dedupSubstringSalted(s: SparkSession, dir: String): DataFrame =
    dedupSubstringImpl(s, dir, cap = Some(SubstringDfCap), salted = true)

  private def dedupSubstringImpl(
      s: SparkSession, dir: String, cap: Option[Int],
      salted: Boolean = false): DataFrame = {
    val spans = docs(s, dir)
      .select(col("doc_id"), expr(toksExpr).as("t"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(t) >= $SubstringW
           |  THEN transform(sequence(1, size(t) - ${SubstringW - 1}),
           |                 i -> array_join(slice(t, i, $SubstringW), ' '))
           |  ELSE CAST(array() AS array<string>) END""".stripMargin))
        .as("span"))
      .select(col("doc_id"), md5(col("span")).as("sk"))
    val dupKeys = spans.groupBy("sk")
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= 2)
    val joined =
      if (!salted) spans.join(dupKeys, Seq("sk"), "left")
      else spans
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(SaltBuckets)))
        .join(dupKeys.withColumn("salt",
            explode(array((0 until SaltBuckets).map(i => lit(i.toLong)): _*))),
          Seq("sk", "salt"), "left")
        .drop("salt")
    val kept = cap.fold(joined)(c =>
      joined.filter(col("dfreq").isNull || col("dfreq") <= c))
    val per = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("dfreq").isNotNull, 1L).otherwise(0L)).as("n_dup"))
    docs(s, dir).select("doc_id").join(per, Seq("doc_id"), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      // count-ratio division through the pinned round6 on BOTH sides
      // (native round's midpoint behavior differs between the engines
      // — the Buckets.scala r10 class; r16 review)
      .withColumn("dup_frac", Buckets.round6(
        when(col("n_spans") > 0,
          col("n_dup").cast("double") / col("n_spans")).otherwise(0.0)))
      .withColumn("flagged",
        (col("dup_frac") >= SubstringDupFrac).cast("int"))
      .orderBy("doc_id")
  }

  val dedupSubstringSql: String = dedupSubstringSqlImpl(cap = None)

  val dedupSubstringCappedSql: String =
    dedupSubstringSqlImpl(cap = Some(SubstringDfCap))

  private def dedupSubstringSqlImpl(cap: Option[Int]): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS t FROM documents),
       |sp AS (
       |  SELECT doc_id,
       |         md5(array_to_string(list_slice(t, i, i + ${SubstringW - 1}), ' ')) AS sk
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - ${SubstringW - 1})) AS i) g
       |  WHERE len(t) >= $SubstringW),
       |df AS (
       |  SELECT sk, count(*) AS dfreq FROM sp GROUP BY sk
       |  HAVING count(*) >= 2),
       |per AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |         CAST(sum(CASE WHEN d.sk IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
       |  FROM sp s LEFT JOIN df d USING (sk)
       |  ${cap.fold("")(c => s"WHERE d.sk IS NULL OR d.dfreq <= $c")}
       |  GROUP BY s.doc_id)
       |SELECT doc.doc_id,
       |       coalesce(n_spans, 0) AS n_spans,
       |       coalesce(n_dup, 0) AS n_dup,
       |       ${Buckets.round6Sql(
                 "CASE WHEN coalesce(n_spans, 0) > 0 " +
                 "THEN CAST(coalesce(n_dup, 0) AS DOUBLE) / n_spans " +
                 "ELSE 0.0 END")} AS dup_frac,
       |       CASE WHEN ${Buckets.round6Sql(
                 "CASE WHEN coalesce(n_spans, 0) > 0 " +
                 "THEN CAST(coalesce(n_dup, 0) AS DOUBLE) / n_spans " +
                 "ELSE 0.0 END")} >= $SubstringDupFrac
       |            THEN 1 ELSE 0 END AS flagged
       |FROM documents doc LEFT JOIN per USING (doc_id)
       |ORDER BY doc.doc_id""".stripMargin

  // ------------------------------------------------ X63 containment dedup

  /** Rare-shingle blocking cap for [[dedupContainment]]: candidate
    * pairs come only from shingles shared by 2..cap documents, so the
    * per-shingle pair blowup is ≤ C(cap, 2) and never data-volume
    * proportional.
    */
  val ContainDfCap = 10

  /** Containment threshold (on the smaller document's shingle set). */
  val ContainTau = 0.8

  /** `dedup_containment`: ASYMMETRIC partial-duplicate detection —
    * containment C = |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|) (Broder 1997's
    * second resemblance measure). This is the case the Jaccard family
    * structurally misses: a short document quoted whole inside a long
    * one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so neither
    * MinHash-LSH (which estimates Jaccard) nor the symmetric verified
    * pairs surface it. Both scores are reported per pair so the audit
    * shows exactly that asymmetry.
    *
    * Scale shape: candidates come from a RARE-SHINGLE inverted index —
    * pairs sharing at least one shingle with corpus docfreq in
    * [2, [[ContainDfCap]]] — the standard blocking move: bucket-local
    * pair generation bounded by C(cap, 2) per shingle, never all-pairs.
    * Exact verification then runs only over candidate docs (broadcast
    * semi-join), the [[minhashPairsImpl]] pattern. Recall bound
    * (documented): a document whose every shingle is ultra-common
    * (docfreq > cap everywhere) is invisible to the probe — the same
    * Zipf-head tradeoff as [[dedupSubstringCapped]], acceptable because
    * an all-stopword document carries no copyable content. Output
    * ratios route through the pinned [[Buckets.round6]] (division-
    * derived 6-decimal edges are the exact class the avg family pins).
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(sharedIndexPath(s, dir, "documents.parquet",
        "contain_pairs") { p =>
      dedupContainmentImpl(s, dir).write.mode("overwrite").parquet(p)
    }).orderBy("doc_a", "doc_b")

  /** The build behind [[dedupContainment]]'s shared index — same
    * once-per-(JVM, corpus-epoch) amortization as [[minhashPairsShared]]:
    * a 100 TB deployment materializes the containment pair report next
    * to the corpus and every consumer scans it.
    */
  private def dedupContainmentImpl(s: SparkSession, dir: String): DataFrame = {
    val u = shingleSetShared(s, dir)
    val rareKeys = u.groupBy("g").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= 2 && col("dfreq") <= ContainDfCap)
      .select("g")
    val rare = u.join(rareKeys, Seq("g"), "left_semi")
    // bucket-local pair generation (the lshCandidates shape): one pass,
    // pairs bounded by actual rare-key co-occurrence, not corpus size
    val cand = bucketPairs(
        rare.groupBy("g").agg(collect_list(col("doc_id")).as("ids")))
      .localCheckpoint(true) // 2 consumers: candidate docs + pair join
    val (sizes, inter) = pairVerification(u, cand)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("nb")), "doc_b")
      .withColumn("c", col("x").cast("double") / least(col("na"), col("nb")))
      .filter(col("c") >= ContainTau)
      .select(col("doc_a"), col("doc_b"),
        Buckets.round6(col("c")).as("containment"),
        Buckets.round6(col("x").cast("double") /
          (col("na") + col("nb") - col("x"))).as("jaccard"))
  }

  /** Oracle: the identical rare-key blocking, exact intersection, and
    * pinned-round ratio arithmetic over [[shingleUSql]].
    */
  val dedupContainmentSql: String =
    s"""WITH $shingleUSql,
       |rk AS (
       |  SELECT g FROM shingle_u GROUP BY g
       |  HAVING count(*) BETWEEN 2 AND $ContainDfCap),
       |rare AS (SELECT u.doc_id, u.g FROM shingle_u u JOIN rk USING (g)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shingle_u GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS x
       |  FROM cand
       |  JOIN shingle_u ua ON ua.doc_id = doc_a
       |  JOIN shingle_u ub ON ub.doc_id = doc_b AND ub.g = ua.g
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       ${Buckets.round6Sql("CAST(x AS DOUBLE) / least(na.sz, nb.sz)")}
       |         AS containment,
       |       ${Buckets.round6Sql("CAST(x AS DOUBLE) / (na.sz + nb.sz - x)")}
       |         AS jaccard
       |FROM inter
       |JOIN sizes na ON na.doc_id = doc_a
       |JOIN sizes nb ON nb.doc_id = doc_b
       |WHERE CAST(x AS DOUBLE) / least(na.sz, nb.sz) >= $ContainTau
       |ORDER BY doc_a, doc_b""".stripMargin
}
