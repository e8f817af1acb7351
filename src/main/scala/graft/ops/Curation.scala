package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the decisions a training-data pipeline
  * makes AFTER the analysis passes: which duplicate survives, which
  * documents leak benchmark content, which are degenerate repetition,
  * and which split each document lands in. No reference counterpart
  * (whisper has no document plane); every op is oracle-checked against
  * DuckDB on the same parquet.
  *
  * Scale design (100 TB):
  *  - [[dedupCollapse]] joins the (small) near-dup cluster assignment
  *    back to the corpus manifest — the cluster frame is bounded by
  *    docs-that-have-a-near-dup, a small fraction of the corpus, so the
  *    join broadcasts; the corpus side is one scan.
  *  - [[decontaminate]] broadcasts the BENCHMARK shingle set (benchmarks
  *    are tiny — thousands of docs — next to a 100 TB corpus) and
  *    semi-joins the corpus shingle index against it map-side: no
  *    corpus-sized shuffle at all.
  *  - [[textRepetition]] is one explode + two partial-aggregated
  *    shuffles keyed by doc_id; [[splitAssign]] is pure map-side.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val toksExpr = Tokens.toksExpr
  private val toksSql = Tokens.toksSql

  // --------------------------------------------------- dedup collapse

  /** `dedup_collapse`: the corpus manifest after near-dup clustering —
    * for EVERY document: its cluster id (itself when it has no near-dup),
    * the cluster size, and whether it is the canonical survivor (the
    * cluster-minimum doc_id, the deterministic representative
    * [[Dedup.dedupCluster]] already labels clusters with). This is the
    * frame a curation pipeline writes as "the deduplicated corpus":
    * `filter(keep = 1)` is the training set.
    */
  def dedupCollapse(s: SparkSession, dir: String): DataFrame = {
    // the cluster assignment covers only docs that appear in a verified
    // near-dup pair — far smaller than the corpus; Spark broadcasts it.
    // n_members comes from THAT small frame, not a corpus-wide groupBy:
    // every doc absent from it is provably a singleton (component
    // minima are always pair members), so the count re-joined to the
    // manifest with coalesce(_, 1) is identical while the corpus side
    // stays ONE scan — the r16 review found the old corpus-keyed
    // aggregate + join added two full manifest shuffles the header's
    // own scale note said this operator must not have
    val cl = Dedup.dedupCluster(s, dir)
    val mem = cl.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    docs(s, dir).select(col("doc_id"))
      .join(broadcast(cl.join(mem, "cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_members"), lit(1L)).as("n_members"),
        (col("doc_id") === coalesce(col("cluster_id"), col("doc_id")))
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val dedupCollapseSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |full_assign AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |mem AS (
       |  SELECT cluster_id, count(*) AS n_members
       |  FROM full_assign GROUP BY 1)
       |SELECT f.doc_id, f.cluster_id, m.n_members,
       |       CAST(f.doc_id = f.cluster_id AS INT) AS keep
       |FROM full_assign f JOIN mem m USING (cluster_id)
       |ORDER BY f.doc_id""".stripMargin

  // --------------------------------------------------- decontamination

  /** Documents below this id play the held-out benchmark set; the rest
    * are the training corpus being screened.
    */
  val BenchmarkDocs = 50

  /** `decontaminate`: benchmark-overlap screening — flag every corpus
    * document sharing at least one 3-token shingle with any benchmark
    * document (the n-gram-overlap decontamination rule used for
    * benchmark leakage, applied at shingle granularity). Emits the
    * shared-shingle count so thresholds other than ≥1 are a filter away.
    *
    * The benchmark shingle set is broadcast (benchmarks are tiny next to
    * the corpus); the corpus side is its shingle index semi-joined
    * map-side — no corpus-sized shuffle.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val u = Dedup.shingleSetShared(s, dir)
    val bench = u.filter(col("doc_id") < BenchmarkDocs).select("g").distinct()
    // shingle_u is distinct per (doc_id, g), so count(*) = distinct shared
    val hits = u.filter(col("doc_id") >= BenchmarkDocs)
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs(s, dir).filter(col("doc_id") >= BenchmarkDocs).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    s"""WITH ${Dedup.shingleUSql},
       |bench AS (
       |  SELECT DISTINCT g FROM shingle_u WHERE doc_id < $BenchmarkDocs),
       |hits AS (
       |  SELECT u.doc_id, count(*) AS n_shared
       |  FROM shingle_u u JOIN bench b ON u.g = b.g
       |  WHERE u.doc_id >= $BenchmarkDocs GROUP BY 1)
       |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
       |       CAST(coalesce(h.n_shared, 0) > 0 AS INT) AS contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id >= $BenchmarkDocs
       |ORDER BY d.doc_id""".stripMargin

  /** `decontaminate_frac`: the benchmark-centric leakage report — for
    * every benchmark document, its worst corpus contaminator by COVERAGE
    * FRACTION (shared shingles / benchmark shingles, the
    * fraction-overlap rule contamination audits report, vs
    * [[decontaminate]]'s corpus-centric ≥1-shingle flag). Ties on the
    * fraction resolve to the smaller corpus doc_id; benchmark docs with
    * no overlap (or fewer than 3 tokens — no shingles) report NULLs.
    *
    * Scale shape: the benchmark shingle set is broadcast; the corpus
    * side is one map-side semi-join pass over its shingle index, and the
    * only shuffles are keyed by (bench_id, doc_id) hit pairs — bounded
    * by actual overlap, not corpus size.
    */
  def decontaminateFrac(s: SparkSession, dir: String): DataFrame = {
    val u = Dedup.shingleSetShared(s, dir)
    val bench = u.filter(col("doc_id") < BenchmarkDocs)
      .select(col("doc_id").as("bench_id"), col("g"))
    val bsize = bench.groupBy("bench_id").agg(count(lit(1)).as("n_shingles"))
    val pairs = u.filter(col("doc_id") >= BenchmarkDocs)
      .join(broadcast(bench), Seq("g"))
      .groupBy("bench_id", "doc_id").agg(count(lit(1)).as("n_shared"))
    val worst = pairs.groupBy("bench_id")
      .agg(max_by(struct(col("doc_id"), col("n_shared")),
        struct(col("n_shared"), -col("doc_id"))).as("w"))
      .select(col("bench_id"), col("w.doc_id").as("top_doc"),
        col("w.n_shared").as("n_shared"))
    docs(s, dir).filter(col("doc_id") < BenchmarkDocs)
      .select(col("doc_id").as("bench_id"))
      .join(bsize, Seq("bench_id"), "left")
      .join(worst, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_shingles"), col("top_doc"), col("n_shared"),
        // count-ratio divisions route through the PINNED round6 in both
        // engines (native round's midpoint behavior differs between
        // them — the documented Buckets.scala r10 class; r16 review);
        // same pin applied to every division-derived output in the file
        Buckets.round6(col("n_shared").cast("double") / col("n_shingles"))
          .as("frac"))
      .orderBy("bench_id")
  }

  val decontaminateFracSql: String =
    s"""WITH ${Dedup.shingleUSql},
       |bench AS (
       |  SELECT doc_id AS bench_id, g FROM shingle_u WHERE doc_id < $BenchmarkDocs),
       |bsize AS (
       |  SELECT bench_id, count(*) AS n_shingles FROM bench GROUP BY 1),
       |pairs AS (
       |  SELECT b.bench_id, u.doc_id, count(*) AS n_shared
       |  FROM shingle_u u JOIN bench b ON u.g = b.g
       |  WHERE u.doc_id >= $BenchmarkDocs GROUP BY 1, 2),
       |worst AS (
       |  SELECT bench_id, doc_id AS top_doc, n_shared FROM (
       |    SELECT bench_id, doc_id, n_shared,
       |           row_number() OVER (PARTITION BY bench_id
       |             ORDER BY n_shared DESC, doc_id) AS rn
       |    FROM pairs)
       |  WHERE rn = 1)
       |SELECT d.doc_id AS bench_id, s.n_shingles, w.top_doc, w.n_shared,
       |       ${Buckets.round6Sql(
                 "CAST(w.n_shared AS DOUBLE) / s.n_shingles")} AS frac
       |FROM documents d
       |LEFT JOIN bsize s ON s.bench_id = d.doc_id
       |LEFT JOIN worst w ON w.bench_id = d.doc_id
       |WHERE d.doc_id < $BenchmarkDocs
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ repetition scoring

  /** `text_repetition`: per-document degenerate-repetition features (the
    * Gopher-style repetition rules): the most frequent token's share of
    * all tokens, and the fraction of 3-gram shingle slots occupied by a
    * repeated shingle. High values on either ⇒ boilerplate/spam.
    *
    * Relational shape — explode + two partial-aggregated shuffles keyed
    * by doc_id — instead of per-row array lambdas: higher-order-function
    * expressions evaluate interpreted per element (O(distinct·n) per
    * doc), while the explode path stays in whole-stage codegen with
    * map-side combine. The distinct-shingle counts reuse the shared
    * shingle index.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(expr(toksExpr)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val agg = tf.groupBy("doc_id").agg(
      sum(col("c")).as("n_tokens"),
      max(col("c")).as("top_cnt"))
    val g3 = Dedup.shingleSetShared(s, dir)
      .groupBy("doc_id").agg(count(lit(1)).as("n3d"))
    // LEFT join: a doc under 3 tokens has no shingles and would vanish
    // from the manifest on an inner join; its dup_3gram_frac is NULL
    // (zero 3-gram slots), mirrored in the oracle SQL
    agg.join(g3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        Buckets.round6(col("top_cnt").cast("double") / col("n_tokens"))
          .as("top_token_share"),
        when(col("n_tokens") >= 3,
          Buckets.round6(
            lit(1.0) - coalesce(col("n3d"), lit(0L)).cast("double") /
              (col("n_tokens") - 2))).as("dup_3gram_frac"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    s"""WITH ${Dedup.shingleUSql},
       |tf AS (
       |  SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents)
       |  GROUP BY doc_id, t),
       |agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |         max(c) AS top_cnt
       |  FROM tf GROUP BY doc_id),
       |g3 AS (SELECT doc_id, count(*) AS n3d FROM shingle_u GROUP BY 1)
       |SELECT a.doc_id, a.n_tokens,
       |       ${Buckets.round6Sql(
                 "CAST(top_cnt AS DOUBLE) / n_tokens")} AS top_token_share,
       |       CASE WHEN n_tokens >= 3
       |            THEN ${Buckets.round6Sql(
                 "1 - CAST(coalesce(n3d, 0) AS DOUBLE) / (n_tokens - 2)")}
       |       END AS dup_3gram_frac
       |FROM agg a LEFT JOIN g3 USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin

  // ------------------------------------------------- train/val/test split

  /** Split thresholds over the first md5 byte (0..255): < 204 ⇒ train
    * (~79.7%), < 230 ⇒ val (~10.2%), else test (~10.2%).
    */
  val TrainCut = 204
  val ValCut = 230

  /** `split_assign`: deterministic train/val/test assignment — the first
    * byte of md5('split|' || doc_id) thresholded into three buckets.
    * Pure map-side, no RNG state: any engine anywhere reproduces the
    * identical split, and membership is decidable per-document without a
    * global pass — the property held-out evaluation needs. The hash is
    * salted with a purpose tag so this split is independent of
    * [[PipelineOps.sampleStratified]]'s sampling hash.
    */
  /** The ONE split arithmetic (salt, md5, nibble bucket, cut thresholds)
    * shared by [[splitAssign]], [[splitAssignSafe]] and [[splitBalance]]
    * in BOTH dialects — the audit must never report a different
    * partition than the assignment it audits (review finding: three
    * Spark copies and four SQL copies had to stay in sync by hand).
    */
  private def splitHashCol(key: Column): Column =
    md5(concat(lit("split|"), key.cast("string")))
  private def splitHashSql(keyExpr: String): String =
    s"md5('split|' || CAST($keyExpr AS VARCHAR))"
  private def splitCase(bucket: Column): Column =
    when(bucket < TrainCut, lit("train"))
      .when(bucket < ValCut, lit("val"))
      .otherwise(lit("test"))
  private def splitCaseSql(b: String): String =
    s"CASE WHEN $b < $TrainCut THEN 'train' " +
      s"WHEN $b < $ValCut THEN 'val' ELSE 'test' END"

  def splitAssign(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("h", splitHashCol(col("doc_id")))
      .withColumn("bucket",
        expr(Tokens.byteBucketExpr("h")))
      .select(col("doc_id"), col("bucket"),
        splitCase(col("bucket")).as("split"))
      .orderBy("doc_id")

  /** `split_assign_safe`: LEAKAGE-SAFE train/val/test assignment — the
    * split hash keys on the near-dup CLUSTER id (the component minimum
    * over [[Dedup.dedupCluster]]'s verified LSH pair graph; docs with no
    * near-dups key on themselves), so every member of a near-duplicate
    * cluster lands in the SAME split. This is the control a training
    * pipeline runs between dedup and sharding: split first and a
    * near-identical train/test pair leaks evaluation signal. Salt and
    * bucket arithmetic are [[splitAssign]]'s, so an uncluttered document
    * gets the IDENTICAL assignment — the two ops differ exactly on
    * clustered docs (pinned in CurationSpec). At scale the cluster map
    * is bounded by docs-in-pairs (its lineage is the production LSH
    * path) and the join is doc_id-keyed; the hash itself is map-side.
    */
  def splitAssignSafe(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .join(Dedup.dedupCluster(s, dir), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("h", splitHashCol(col("group_id")))
      .withColumn("bucket",
        expr(Tokens.byteBucketExpr("h")))
      .select(col("doc_id"), col("group_id"), col("bucket"),
        splitCase(col("bucket")).as("split"))
      .orderBy("doc_id")

  // --------------------------------------------------- end-to-end curate

  /** Quality gates for [[curate]] — chosen off the corpus quantiles so
    * each gate keeps most-but-not-all documents (quality p25 ≈ 0.34,
    * top-token-share p75 ≈ 0.11 on the synthetic corpus).
    */
  val CurateMinQuality = 0.35
  val CurateMaxTopShare = 0.12

  /** `curate`: the end-to-end curation decision — every corpus document
    * with its independent gate flags (canonical near-dup survivor, no
    * benchmark contamination, quality/repetition thresholds) and the
    * final `keep` conjunction, plus its train/val/test split. This is
    * the query a training-data build materializes as its manifest:
    * `filter(keep = 1)` grouped by `split` IS the dataset.
    *
    * Composition of [[dedupCollapse]], [[decontaminate]], the
    * repetition/quality features and [[splitAssign]] — a star join on
    * doc_id. Every input is doc_id-keyed and partial-aggregated, so at
    * scale the star co-partitions on doc_id (one shuffle each side) and
    * the gates compare values both engines computed and rounded
    * identically upstream. The repetition AND quality features both
    * derive from ONE exploded token-frequency pass (distinct count,
    * stopword occurrences and top multiplicity are all aggregates of
    * (doc, token) counts) — one text scan where the standalone ops
    * would take two. The dedup/contamination gates read text through
    * the separately-materialized shared shingle and pair indexes, so
    * end-to-end the corpus text is read once for features plus once
    * for the (amortized, reusable) indexes.
    * [[textRepetition]]/[[TextAnalysis.textQuality]] stay the
    * standalone per-feature ops and their oracles pin the identical
    * values via the hash compare.
    */
  def curate(s: SparkSession, dir: String): DataFrame =
    curateGates(s, dir)
      .join(splitAssign(s, dir).select(col("doc_id"), col("split")), "doc_id")
      .select("doc_id", "n_tokens", "split",
        "keep_dedup", "keep_clean", "keep_quality", "keep")
      .orderBy("doc_id")

  /** The gate-flag frame behind [[curate]] — everything except the
    * split-assignment join, so [[curateFunnel]] can aggregate the flags
    * without paying splitAssign's per-doc md5 + join for a column it
    * never reads (review finding: an inner join is not prunable).
    */
  private def curateGates(s: SparkSession, dir: String): DataFrame = {
    // keep_dedup straight from the SMALL cluster frame (a doc is kept
    // iff it is absent — a singleton — or its own cluster minimum);
    // going through dedupCollapse paid its n_members aggregate + join
    // for a column this frame never reads, and the inner join is not
    // prunable by the optimizer (the same rationale as the splitAssign
    // split below; r16 review)
    val cl = Dedup.dedupCluster(s, dir)
    val keepd = docs(s, dir).select(col("doc_id"))
      .join(broadcast(cl), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .cast("int").as("keep_dedup"))
    val clean = decontaminate(s, dir)
      .select(col("doc_id"),
        (col("contaminated") === 0).cast("int").as("keep_clean"))
    // one text scan: (doc, token) counts feed repetition AND quality.
    // Expression shapes mirror textQuality/textRepetition exactly (same
    // integer inputs, same single IEEE division and multiply order), so
    // the rounded features are bit-identical to the standalone ops'.
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(expr(toksExpr)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val feats = tf.groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        max(col("c")).as("top_cnt"),
        count(lit(1)).as("n_distinct"),
        sum(when(Tokens.stopTokens.map(col("t") === _).reduce(_ || _), col("c"))
          .otherwise(0L)).as("stop_cnt"))
      .select(col("doc_id"), col("n_tokens"),
        Buckets.round6(col("top_cnt").cast("double") / col("n_tokens"))
          .as("top_token_share"),
        Buckets.round6((col("n_distinct").cast("double") / col("n_tokens")) *
          (lit(1.0) - col("stop_cnt").cast("double") / col("n_tokens")))
          .as("quality"))
    clean // decontaminate already restricts to corpus docs (>= cut)
      .join(keepd, "doc_id").join(feats, "doc_id")
      .withColumn("keep_quality",
        (col("quality") >= CurateMinQuality &&
          col("top_token_share") <= CurateMaxTopShare).cast("int"))
      .withColumn("keep",
        (col("keep_dedup") === 1 && col("keep_clean") === 1 &&
          col("keep_quality") === 1).cast("int"))
  }

  /** Oracle: one WITH RECURSIVE chain reusing the cluster CTEs, plus the
    * decontamination, repetition, quality and split CTEs, joined on
    * doc_id — the same star the Spark side builds.
    */
  val curateSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |full_assign AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |bench AS (
       |  SELECT DISTINCT g FROM shingle_u WHERE doc_id < $BenchmarkDocs),
       |hits AS (
       |  SELECT u.doc_id, count(*) AS n_shared
       |  FROM shingle_u u JOIN bench b ON u.g = b.g
       |  WHERE u.doc_id >= $BenchmarkDocs GROUP BY 1),
       |d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
       |  GROUP BY doc_id, t),
       |rep AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |         ${Buckets.round6Sql(
                 "CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT)")}
       |           AS top_token_share
       |  FROM tf GROUP BY doc_id),
       |qual AS (
       |  SELECT doc_id,
       |         ${Buckets.round6Sql(
                 s"(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * " +
                 s"(1 - len(list_filter(toks, t -> ${Tokens.stopPred("t")})) / " +
                 "CAST(len(toks) AS DOUBLE))")} AS quality
       |  FROM d),
       |sb AS (
       |  SELECT doc_id,
       |         ${Tokens.byteBucketSql("h")} AS bucket
       |  FROM (SELECT doc_id, ${splitHashSql("doc_id")} AS h
       |        FROM documents))
       |SELECT m.doc_id, rep.n_tokens,
       |       ${splitCaseSql("sb.bucket")} AS split,
       |       CAST(m.doc_id = m.cluster_id AS INT) AS keep_dedup,
       |       CAST(coalesce(h.n_shared, 0) = 0 AS INT) AS keep_clean,
       |       CAST(qual.quality >= $CurateMinQuality AND
       |            rep.top_token_share <= $CurateMaxTopShare AS INT)
       |         AS keep_quality,
       |       CAST(m.doc_id = m.cluster_id AND coalesce(h.n_shared, 0) = 0
       |            AND qual.quality >= $CurateMinQuality
       |            AND rep.top_token_share <= $CurateMaxTopShare AS INT) AS keep
       |FROM full_assign m
       |JOIN rep ON rep.doc_id = m.doc_id
       |JOIN qual ON qual.doc_id = m.doc_id
       |JOIN sb ON sb.doc_id = m.doc_id
       |LEFT JOIN hits h ON h.doc_id = m.doc_id
       |WHERE m.doc_id >= $BenchmarkDocs
       |ORDER BY m.doc_id""".stripMargin

  /** Oracle for [[splitAssignSafe]]: the shared recursive-closure
    * cluster CTEs ([[Dedup.clusterCtes]]) left-joined under the same
    * hash/bucket arithmetic as [[splitAssignSql]].
    */
  val splitAssignSafeSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |base AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |hh AS (
       |  SELECT doc_id, group_id,
       |         ${splitHashSql("group_id")} AS h
       |  FROM base),
       |bb AS (
       |  SELECT doc_id, group_id,
       |         ${Tokens.byteBucketSql("h")} AS bucket
       |  FROM hh)
       |SELECT doc_id, group_id, bucket,
       |       ${splitCaseSql("bucket")} AS split
       |FROM bb ORDER BY doc_id""".stripMargin

  val splitAssignSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, ${splitHashSql("doc_id")} AS h
       |  FROM documents),
       |b AS (
       |  SELECT doc_id,
       |         ${Tokens.byteBucketSql("h")} AS bucket
       |  FROM h)
       |SELECT doc_id, bucket,
       |       ${splitCaseSql("bucket")} AS split
       |FROM b ORDER BY doc_id""".stripMargin

  // ------------------------------------------- X32 DSIR importance weight

  /** Hashed-feature bucket count for [[dsirWeight]] — 256 buckets from
    * the first two md5 nibbles, the same portable hex-nibble arithmetic
    * as [[splitAssign]] (`position` in Spark, `strpos` in DuckDB).
    */
  val DsirBuckets = 256

  /** Sources standing in for the high-quality TARGET distribution
    * (DSIR's p_target sample — a curated domain like wikipedia in a real
    * pipeline; two synthetic sources here so the target is a strict,
    * non-trivial subset of the corpus).
    */
  val DsirTargetSources: Seq[String] = Seq("src1", "src2")

  /** `dsir_weight`: Data Selection via Importance Resampling (Xie et
    * al., NeurIPS 2023) — per-document importance weight
    * `mean over token instances of ln p_target(bucket) − ln p_raw(bucket)`
    * under hashed-unigram bag-of-words models with add-one smoothing
    * over [[DsirBuckets]] buckets. Documents scoring high look like the
    * target distribution and get up-sampled by the selection step; this
    * op emits the weight (the resample itself is a keep-filter away, as
    * with [[PipelineOps.sampleStratified]]).
    *
    * Scale shape — TRAIN once, FREEZE, SCORE in one pass (the persisted-
    * index pattern of the ANN codebooks, X17/X27): the bucket models are
    * a ≤256-row weight table materialized via [[Dedup.sharedIndexPath]]
    * (one amortized token pass: explode → bucket hash → two tiny
    * aggregates); the SERVING query is a single corpus explode reduced
    * on the spot to the compact per-`(doc, bucket)` count frame, joined
    * to the broadcast weight table, reduced per doc — PlanSpec pins the
    * serving plan to exactly one Generate and no training artifacts.
    * (The first form derived the model inline and leaned on exchange
    * reuse that column pruning defeats: the corpus explode ran three
    * times.) The per-doc score is the count-weighted mean `Σ n·w / Σ n`,
    * algebraically the per-instance mean the definition states. At
    * 100 TB: train the buckets on a sample, score the full corpus — the
    * identical serving plan, cheaper train input.
    *
    * Float determinism (the r10-r13 driver hash-miss, closed here
    * structurally rather than dialectally):
    *  - the 256 bucket weights are computed with [[PortableMath]]'s
    *    fixed-op-sequence ln — bit-identical in Spark and DuckDB, no
    *    libm in the path (`Math.log` vs libm `log` may differ by 1 ulp
    *    on the SAME input; three rounds of CAST hardening could not
    *    close that); `dsir_model` went GREEN at the r13 driver, pinning
    *    the table bit-identical;
    *  - each weight is quantized to the 1e-6 grid AT EMISSION and
    *    stored as integer micro-units `wq = floor(w·1e6 + 0.5)`;
    *  - the serving fold is EXACT integer arithmetic `Σ wq·n` (BIGINT —
    *    order-independent, no collect_list order pin needed,
    *    map-side-combinable HashAggregate);
    *  - (r14) the per-doc mean itself is now computed in pure BIGINT:
    *    `micro = ⌊S/n + 1/2⌋ = ⌊(2S+n)/(2n)⌋` via
    *    [[PortableMath.halfUpDivSql]] — the identical half-toward-+∞
    *    midpoint spec [[Buckets.round6]] states, with ZERO
    *    engine-evaluated double ops; the emitted weight is ONE
    *    correctly-rounded `CAST(micro AS DOUBLE)/1e6`. The r13 form
    *    still ran `CAST(S)/1e6/CAST(n)` then round6 in doubles and
    *    stayed red at the driver even though `dsir_model` was green.
    * The `dsir_model` diagnostic pins training; the r14
    * `dsir_serve_parts` diagnostic ([[dsirServeParts]]) emits the pure-
    * integer serve fold `(doc_id, n_tokens, sum_wqn)` — no doubles, no
    * divisions — so a future red localizes to: parts red → per-doc
    * counts differ; parts green + weight red → the driver diverges on
    * formatting/hashing ONE exactly-derived double.
    */
  def dsirWeight(s: SparkSession, dir: String): DataFrame =
    dsirServe(s, dir)
      .select(col("doc_id"), col("n_tokens"),
        expr("CAST(" + PortableMath.halfUpDivSql("sum_wqn", "n_tokens") +
          " AS DOUBLE) / 1e6").as("dsir_weight"))
      .orderBy("doc_id")

  /** The shared exact serve fold: per-document token total and the
    * BIGINT weighted sum `Σ wq·n` against the frozen bucket model.
    */
  private def dsirServe(s: SparkSession, dir: String): DataFrame = {
    val docb = docs(s, dir)
      .select(col("doc_id"), explode(expr(toksExpr)).as("t"))
      .withColumn("h", md5(col("t")))
      .withColumn("b", expr(Tokens.byteBucketExpr("h")))
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).as("n"))
    docb.join(broadcast(dsirModel(s, dir).select(col("b"), col("wq"))), "b")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("wq") * col("n")).as("sum_wqn"))
  }

  /** `dsir_serve_parts`: the serve fold as pure integers — the r14
    * triangulation rung prescribed by the r13 verdict. Output schema is
    * `(doc_id, n_tokens BIGINT, sum_wqn BIGINT)`: zero doubles, zero
    * divisions anywhere on the output edge.
    */
  def dsirServeParts(s: SparkSession, dir: String): DataFrame =
    dsirServe(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("sum_wqn"))
      .orderBy("doc_id")

  /** The frozen DSIR bucket model (see [[dsirWeight]]): 256 rows of
    * `(b, wq, w)` where `wq` is the weight in integer micro-units and
    * `w = wq/1e6` its double form. Materialized once per input via
    * [[Dedup.sharedIndexPath]]; every double op in the weight formula
    * is portable (correctly-rounded IEEE arithmetic or [[PortableMath]]
    * CASE selection), so the table is bit-identical across engines.
    */
  def dsirModel(s: SparkSession, dir: String): DataFrame = {
    val wPath = Dedup.sharedIndexPath(
      s, dir, "documents.parquet", "dsirwq") { p =>
      val isTgt = col("source").isin(DsirTargetSources: _*)
      val counts = docs(s, dir)
        .select(col("source"), explode(expr(toksExpr)).as("t"))
        .withColumn("h", md5(col("t")))
        .withColumn("b", expr(Tokens.byteBucketExpr("h")))
        .groupBy("b")
        .agg(count(lit(1)).as("cr"), count(when(isTgt, 1)).as("ct"))
      // ln(p_t/p_r) as ONE portable ln of the probability ratio —
      // three correctly-rounded divisions then the shared fixed op
      // sequence (PortableMath.lnColumn — the ONE place the chain
      // lives; lm_score/entropy ride the same helper); mathematically
      // ln(a)−ln(b) to ~1e-13, bit-identical per engine
      PortableMath.lnColumn(
          counts.crossJoin(broadcast(
            counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt")))),
          dsirQSql, "lnq")
        .select(col("b"),
          expr(PortableMath.microUnitsSql("lnq")).as("wq"),
          expr(s"${PortableMath.microUnitsSql("lnq")}" +
            " / CAST(1000000 AS DOUBLE)").as("w"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(wPath)
  }

  /** The `dsir_model` registered form — the table ordered by bucket. */
  def dsirModelQuery(s: SparkSession, dir: String): DataFrame =
    dsirModel(s, dir).orderBy("b")

  /** Smoothed probability ratio `p_target(b) / p_raw(b)` — the shared
    * text of three correctly-rounded divisions over exact integers.
    */
  private val dsirQSql: String =
    s"(CAST(ct + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE)) / " +
      s"(CAST(cr + 1 AS DOUBLE) / CAST(nr + $DsirBuckets AS DOUBLE))"

  /** The weight-model CTE chain shared by [[dsirWeightSql]] and
    * [[dsirModelSql]] — every step text is the IDENTICAL string the
    * Spark side evaluates (the ln chain through the one shared
    * [[PortableMath.lnCtesSql]] generator).
    */
  private def dsirModelCtes: String = {
    val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, source, md5(t) AS h
       |  FROM (SELECT doc_id, source, unnest($toksSql) AS t FROM documents)),
       |docb AS (
       |  SELECT doc_id, source, ${Tokens.byteBucketSql("h")} AS b,
       |         count(*) AS n
       |  FROM tok GROUP BY 1, 2, 3),
       |counts AS (
       |  SELECT b, sum(n) AS cr,
       |         sum(CASE WHEN source IN ($tgt) THEN n ELSE 0 END) AS ct
       |  FROM docb GROUP BY 1),
       |totals AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts),
       |cm AS (SELECT b, ct, cr, nt, nr FROM counts CROSS JOIN totals),
       |${PortableMath.lnCtesSql("cm", Seq("b"), dsirQSql, "lnq", "dw")},
       |wt AS (
       |  SELECT b, ${PortableMath.microUnitsSql("lnq")} AS wq,
       |         ${PortableMath.microUnitsSql("lnq")}
       |           / CAST(1000000 AS DOUBLE) AS w
       |  FROM dwln)""".stripMargin
  }

  /** The serve-fold CTE shared by [[dsirWeightSql]] and
    * [[dsirServePartsSql]] — explicit BIGINT casts because DuckDB types
    * `sum(BIGINT)` as HUGEINT (the r13 verdict's surviving suspect (a):
    * a driver DuckDB may promote the fold differently; pinning the CTE
    * output type removes the variable in every downstream op).
    */
  private val dsirServeCte: String =
    """serve AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      |         CAST(sum(wq * n) AS BIGINT) AS sum_wqn
      |  FROM docb JOIN wt USING (b)
      |  GROUP BY doc_id)""".stripMargin

  val dsirWeightSql: String =
    s"""WITH ${dsirModelCtes},
       |${dsirServeCte}
       |SELECT doc_id, n_tokens,
       |       CAST(${PortableMath.halfUpDivSql("sum_wqn", "n_tokens")}
       |         AS DOUBLE) / 1e6 AS dsir_weight
       |FROM serve ORDER BY doc_id""".stripMargin

  /** `dsir_serve_parts` oracle — the identical pure-integer fold. */
  val dsirServePartsSql: String =
    s"""WITH ${dsirModelCtes},
       |${dsirServeCte}
       |SELECT doc_id, n_tokens, sum_wqn FROM serve ORDER BY doc_id""".stripMargin

  /** `dsir_model` diagnostic oracle: the weight table itself, ordered by
    * bucket — if this key and `dsir_weight` ever disagree with the
    * oracle TOGETHER the divergence is in training; `dsir_model` green
    * with `dsir_weight` red localizes it to serving.
    */
  val dsirModelSql: String =
    s"""WITH ${dsirModelCtes}
       |SELECT b, wq, w FROM wt ORDER BY b""".stripMargin

  // ---------------------------------------------- X32b DSIR resampling

  /** Documents kept by [[dsirSelect]] — the DSIR paper's selection
    * budget (k of N proportional-to-weight, without replacement).
    */
  val DsirSelectK = 100

  /** `dsir_select`: the RESAMPLING step DSIR's weights exist for (Xie
    * et al. §2: sample k documents without replacement with probability
    * ∝ exp(weight)) — implemented as deterministic Gumbel-top-k
    * (Vieira 2014, "Gumbel-max trick"): per document draw
    * `g = −ln(−ln(u))` from a doc-keyed hash uniform and keep the k
    * largest `weight + g`. Every float op is portable: `u` comes from
    * 48 md5 bits as `(h + 1/2) / 2^48` (exact scaling), both `ln`s run
    * the [[PortableMath]] fixed-op chain, and the Gumbel noise is
    * quantized to micro-units and ADDED to the integer micro-unit
    * weight — the ranking key `score_q` is a BIGINT, so rank and the
    * keep flag are exact in both engines.
    *
    * Scale shape: everything to `score_q` is map-side over the serve
    * fold. The global rank is a window here (exact, and the corpus is
    * small); at 100 TB the keep flag comes from the k-th score
    * threshold — `TakeOrdered(k)` (orderBy+limit, per-partition top-k
    * then a k-row merge, no global sort) broadcast back as one scalar —
    * with only the ties AT the threshold needing the rank tie-break.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame =
    dsirScored(s, dir)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_q").desc, col("doc_id"))))
      .select(col("doc_id"), col("score_q"),
        (col("rk") <= DsirSelectK).cast("int").as("keep"))
      .orderBy("doc_id")

  /** `dsir_select_scalable`: the X32b 100-TB shape made real — the keep
    * flag from the k-th score THRESHOLD instead of a global rank
    * window. `orderBy(…).limit(k)` plans `TakeOrderedAndProject`
    * (per-partition top-k, one k-row merge on the driver side of the
    * exchange — no global sort of the corpus); the boundary row under
    * the (score DESC, doc_id ASC) order is the k-th selectee, broadcast
    * back as one row, and the keep predicate reproduces the window's
    * tie-break exactly: strictly-better score, or equal score with
    * doc_id at-or-before the boundary's. Pinned row-identical to
    * [[dsirSelect]] (they share one oracle). A corpus with ≤ k docs
    * keeps everything because the boundary is then the GLOBAL worst row
    * and every row passes the at-or-better predicate (an empty corpus
    * emits zero rows from the cross join — there is no null-boundary
    * path to handle).
    */
  def dsirSelectScalable(s: SparkSession, dir: String): DataFrame = {
    // the scored frame feeds BOTH the boundary TakeOrdered and the keep
    // projection; it is a materialized shared index (dsirScored), so
    // both passes are scans of one small parquet — the 100 TB shape of
    // materializing scores once and running both passes over the
    // stored table, with no per-invocation checkpoint to leak.
    val scored = dsirScored(s, dir)
    val kth = scored
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(DsirSelectK)
      .agg(min_by(struct(col("score_q"), col("doc_id")),
        struct(col("score_q"), expr("-doc_id"))).as("b"))
      .select(col("b.score_q").as("kth_score"), col("b.doc_id").as("kth_doc"))
    scored.crossJoin(broadcast(kth))
      .select(col("doc_id"), col("score_q"),
        ((col("score_q") > col("kth_score")) ||
          (col("score_q") === col("kth_score") &&
            col("doc_id") <= col("kth_doc"))).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** The shared Gumbel-scored frame `(doc_id, score_q BIGINT)` both
    * selection forms rank (see [[dsirSelect]] for the determinism
    * argument).
    */
  private def dsirScored(s: SparkSession, dir: String): DataFrame =
    // materialized like every other shared index (tmp parquet via
    // sharedIndexPath, built once per (JVM, data), exit-swept) instead
    // of a per-invocation localCheckpoint: the checkpoint pinned its
    // blocks in executor storage with NO release path, so repeated
    // invocations in a long-lived session accumulated a generation per
    // call; both selection forms now scan one small parquet, and the
    // build lands in the bench's staging phase like the other indexes
    s.read.parquet(Dedup.sharedIndexPath(
        s, dir, "documents.parquet", "dsir_scored") { p =>
      dsirScoredImpl(s, dir).write.mode("overwrite").parquet(p)
    })

  private def dsirScoredImpl(s: SparkSession, dir: String): DataFrame = {
    val parts = dsirServe(s, dir)
      .select(col("doc_id"),
        expr(PortableMath.halfUpDivSql("sum_wqn", "n_tokens")).as("wq_doc"))
      .withColumn("gh", md5(concat(lit("gumbel|"), col("doc_id").cast("string"))))
      .withColumn("u48", expr(Tokens.hexPrefixExpr("gh", 12)))
      .withColumn("u", expr(dsirUSql("u48")))
    val lnu = PortableMath.lnColumn(parts, "u", "lnu")
      .withColumn("nlu", expr("0e0 - lnu"))
    PortableMath.lnColumn(lnu, "nlu", "lnv")
      .withColumn("score_q",
        col("wq_doc") + expr(PortableMath.microUnitsSql("(0e0 - lnv)")))
      .select(col("doc_id"), col("score_q"))
  }

  /** The hash uniform `u ∈ (0, 1)`: 48 md5 bits offset to the bucket
    * midpoint then scaled by the exact power-of-two 2^48 — both ops
    * exact in IEEE doubles, so `u` is bit-identical across engines and
    * never 0 or 1 (min ≈ 1.8e-15, inside [[PortableMath.MaxExp]]'s
    * clamp).
    */
  private def dsirUSql(u48: String): String =
    s"(CAST($u48 AS DOUBLE) + 5e-1) / 281474976710656e0"

  val dsirSelectSql: String =
    s"""WITH ${dsirModelCtes},
       |${dsirServeCte},
       |pw AS (
       |  SELECT doc_id, ${PortableMath.halfUpDivSql("sum_wqn", "n_tokens")}
       |           AS wq_doc,
       |         md5('gumbel|' || CAST(doc_id AS VARCHAR)) AS gh
       |  FROM serve),
       |gu AS (
       |  SELECT doc_id, wq_doc,
       |         ${dsirUSql(Tokens.hexPrefixSql("gh", 12))} AS u
       |  FROM pw),
       |${PortableMath.lnCtesSql("gu", Seq("doc_id", "wq_doc"), "u", "lnu", "g1")},
       |gv AS (SELECT doc_id, wq_doc, 0e0 - lnu AS nlu FROM g1ln),
       |${PortableMath.lnCtesSql("gv", Seq("doc_id", "wq_doc"), "nlu", "lnv", "g2")},
       |sc AS (
       |  SELECT doc_id,
       |         wq_doc + ${PortableMath.microUnitsSql("(0e0 - lnv)")} AS score_q
       |  FROM g2ln),
       |rk AS (
       |  SELECT doc_id, score_q,
       |         row_number() OVER (ORDER BY score_q DESC, doc_id) AS rk
       |  FROM sc)
       |SELECT doc_id, score_q, CAST(rk <= $DsirSelectK AS INT) AS keep
       |FROM rk ORDER BY doc_id""".stripMargin

  // --------------------------------------- X47 cross-source overlap matrix

  /** `source_overlap`: the source-pair duplication matrix — for every
    * pair of sources, how many distinct 3-gram shingles they share and
    * the Jaccard similarity of their shingle sets. The
    * which-feeds-duplicate-which diagnostic a corpus curator reads
    * before deciding dedup ORDER and source priorities (e.g. a crawl
    * snapshot that 0.9-overlaps last month's adds almost nothing;
    * [[graft.ops.PipelineOps.sourceCap]] then caps the loser).
    *
    * Scale shape: reads the amortized shared shingle index, reduces it
    * to DISTINCT (source, shingle) — a shuffle on 16 B-ish keys bounded
    * by Σ per-source vocabulary, not corpus volume — then self-joins by
    * shingle: a shingle present in k sources yields ≤ k(k−1)/2 pair
    * rows, so the join output is bounded by #shingles·k², never
    * corpus². The size table (k rows) broadcasts back onto the k²/2
    * pair frame. Zero-overlap pairs are reported too (LEFT join from
    * the full pair lattice) — absence of overlap is the interesting
    * answer for provenance-disjoint sources.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val srcs = docs(s, dir).select(col("doc_id"), col("source"))
    val sg = Dedup.shingleSetShared(s, dir)
      .join(srcs, "doc_id")
      .select(col("source"), col("g")).distinct()
    // the pair lattice enumerates EVERY source from the manifest, not
    // just sources that produced shingles — a source whose documents
    // are all under 3 tokens must still appear in every pair row with
    // shared = 0 (absence of overlap IS the answer the report
    // promises; r16 review), with n = 0 via the left join below
    val allSrcs = srcs.select("source").distinct()
    val sz = allSrcs
      .join(sg.groupBy("source").agg(count(lit(1)).as("n")),
        Seq("source"), "left")
      .select(col("source"), coalesce(col("n"), lit(0L)).as("n"))
    val ov = sg.as("a").join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    val pairs = sz.as("x").join(sz.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
    pairs.join(ov, Seq("source_a", "source_b"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("shared"),
        // two shingle-free sources make the denominator 0: pin NULL in
        // both engines (Spark's 0/0 is NULL, DuckDB's is NaN)
        when(col("n_a") + col("n_b") - col("shared") =!= 0,
          Buckets.round6(
            expr("CAST(shared AS DOUBLE) / (n_a + n_b - shared)")))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    s"""WITH ${Dedup.shingleUSql},
       |sg AS (
       |  SELECT DISTINCT d.source, u.g
       |  FROM shingle_u u JOIN documents d USING (doc_id)),
       |all_srcs AS (SELECT DISTINCT source FROM documents),
       |sz AS (
       |  SELECT a.source, coalesce(c.n, 0) AS n
       |  FROM all_srcs a LEFT JOIN
       |    (SELECT source, count(*) AS n FROM sg GROUP BY 1) c
       |    USING (source)),
       |ov AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         count(*) AS shared
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |         x.n AS n_a, y.n AS n_b
       |  FROM sz x JOIN sz y ON x.source < y.source)
       |SELECT p.source_a, p.source_b, p.n_a, p.n_b,
       |       coalesce(o.shared, 0) AS shared,
       |       CASE WHEN p.n_a + p.n_b - coalesce(o.shared, 0) <> 0
       |            THEN ${Buckets.round6Sql(
                 "CAST(coalesce(o.shared, 0) AS DOUBLE) / " +
                 "(p.n_a + p.n_b - coalesce(o.shared, 0))")}
       |       END AS jaccard
       |FROM pairs p LEFT JOIN ov o USING (source_a, source_b)
       |ORDER BY p.source_a, p.source_b""".stripMargin

  // --------------------------------------------- X62 split balance audit

  /** `split_balance`: the check a pipeline runs AFTER [[splitAssign]] —
    * per (split, lang): document and token volume plus each cell's
    * within-split document fraction. A deterministic hash split is
    * uniform in expectation, not by construction; this is the audit
    * that catches a language (or any stratum) under-represented in
    * val/test before anyone trusts an eval number from it.
    *
    * One pass: assignment is [[splitAssign]]'s map-side hash (no join —
    * the split derives from doc_id alone), features ride the same row,
    * and the only shuffle is the (split, lang) aggregate — tens of
    * groups at any corpus size; the per-split totals return as a
    * broadcast join onto the cell table.
    */
  def splitBalance(s: SparkSession, dir: String): DataFrame = {
    val assigned = docs(s, dir)
      .withColumn("h", splitHashCol(col("doc_id")))
      .withColumn("bucket", expr(Tokens.byteBucketExpr("h")))
      .withColumn("split", splitCase(col("bucket")))
      .withColumn("n_toks", size(expr(toksExpr)).cast("long"))
    val cells = assigned.groupBy("split", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"))
    val totals = cells.groupBy("split").agg(sum(col("n_docs")).as("split_docs"))
    cells.join(broadcast(totals), "split")
      .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
        Buckets.round6(col("n_docs").cast("double") / col("split_docs"))
          .as("frac_docs"))
      .orderBy("split", "lang")
  }

  val splitBalanceSql: String =
    s"""WITH sa AS (
       |  SELECT lang,
       |         CAST(len($toksSql) AS BIGINT) AS n_toks,
       |         ${splitCaseSql("b")} AS split
       |  FROM (SELECT lang, text,
       |               ${Tokens.byteBucketSql(splitHashSql("doc_id"))} AS b
       |        FROM documents)),
       |cells AS (
       |  SELECT split, lang, count(*) AS n_docs,
       |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |  FROM sa GROUP BY 1, 2),
       |tot AS (SELECT split, CAST(sum(n_docs) AS BIGINT) AS split_docs
       |        FROM cells GROUP BY 1)
       |SELECT c.split, c.lang, c.n_docs, c.n_tokens,
       |       ${Buckets.round6Sql(
                 "CAST(c.n_docs AS DOUBLE) / t.split_docs")} AS frac_docs
       |FROM cells c JOIN tot t USING (split)
       |ORDER BY c.split, c.lang NULLS FIRST""".stripMargin
  // NULLS FIRST: lang is the one NULLABLE presentation sort key in the
  // file (dataValidate deliberately only REPORTS null langs), and the
  // engines' defaults differ — Spark ascending sorts NULLs first,
  // DuckDB last — so a null-lang corpus would emit the cell at a
  // different row position per engine (r16 review)

  // ------------------------------------------------- X60 curation funnel

  /** `curate_funnel`: the drop-accounting report over [[curate]]'s
    * per-document gate flags — doc and token volumes surviving each
    * SEQUENTIAL stage (dedup → decontamination → quality) plus the final
    * token-retention fraction. This is the one-row summary a curation
    * run publishes ("we kept 61% of documents, 63% of tokens, and
    * decontamination was the biggest cut") and the first thing an
    * operator checks when a corpus shrinks unexpectedly.
    *
    * Pure composition: one aggregation over the curate manifest —
    * k-gates of conditional sums, map-side combined; all the heavy
    * lifting (cluster contraction, broadcast decontamination, the
    * single-pass features) is [[curate]]'s and amortized with it.
    */
  def curateFunnel(s: SparkSession, dir: String): DataFrame =
    curateGates(s, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(col("keep_dedup")).cast("long").as("n_after_dedup"),
      sum(col("keep_dedup") * col("keep_clean")).cast("long")
        .as("n_after_decon"),
      sum(col("keep")).cast("long").as("n_final"),
      sum(col("n_tokens")).cast("long").as("tok_docs"),
      sum(col("n_tokens") * col("keep")).cast("long").as("tok_final"))
    .withColumn("token_retention",
      Buckets.round6(col("tok_final").cast("double") / col("tok_docs")))

  /** Oracle: [[curateSql]] as a derived table (nested WITH RECURSIVE),
    * re-aggregated with the identical conditional sums.
    */
  val curateFunnelSql: String =
    s"""SELECT count(*) AS n_docs,
       |       CAST(sum(keep_dedup) AS BIGINT) AS n_after_dedup,
       |       CAST(sum(keep_dedup * keep_clean) AS BIGINT) AS n_after_decon,
       |       CAST(sum(keep) AS BIGINT) AS n_final,
       |       CAST(sum(n_tokens) AS BIGINT) AS tok_docs,
       |       CAST(sum(n_tokens * keep) AS BIGINT) AS tok_final,
       |       ${Buckets.round6Sql(
                 "CAST(sum(n_tokens * keep) AS DOUBLE) / sum(n_tokens)")}
       |         AS token_retention
       |FROM ($curateSql)""".stripMargin

  // ----------------------------------------- X59 constraint validation

  /** Language codes the corpus contract allows ([[dataValidate]]'s
    * domain constraint — a real deployment loads this from the dataset
    * card).
    */
  val AllowedLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** `data_validate`: declarative constraint validation over the corpus
    * — the Deequ/Great-Expectations stage a pipeline runs BEFORE any
    * curation math trusts the columns. One row per constraint with its
    * violation count and pass flag: the corpus is non-empty, key
    * uniqueness and non-null, text present and non-empty, the `n_chars`
    * metadata consistent with the payload, `lang` inside the allowed
    * domain, `source` non-empty. NULLs COUNT AS VIOLATIONS everywhere a
    * check inspects a value (three-valued logic would otherwise let a
    * NULL lang or NULL n_chars sail through the very gate meant to
    * catch it — review finding), and every sum is coalesced so an
    * EMPTY corpus yields a definite verdict: `corpus_non_empty` fails,
    * the rest pass vacuously with 0 violations.
    *
    * All seven checks ride ONE aggregation pass (conditional sums +
    * the `count − count(DISTINCT)` uniqueness form — map-side combined,
    * the distinct expansion shuffles only doc_id); the report is
    * k-rows-out at any corpus size, and a failed `passed` flag is the
    * signal to halt the pipeline, not a crash — validation REPORTS,
    * gates decide.
    */
  def dataValidate(s: SparkSession, dir: String): DataFrame =
    dataValidateFrom(docs(s, dir))

  /** [[dataValidate]] over an explicit frame — split out so specs can
    * exercise the VIOLATION branches on a deliberately dirty corpus
    * (the clean fixture passes every constraint).
    */
  private[ops] def dataValidateFrom(d: DataFrame): DataFrame = {
    val langList = AllowedLangs.map(l => s"'$l'").mkString(", ")
    def cnt(c: Column): Column = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val agg = d.agg(
      count(lit(1)).as("n_rows"),
      cnt(col("doc_id").isNull).as("v_id_null"),
      (count(col("doc_id")) - countDistinct(col("doc_id"))).as("v_id_dup"),
      cnt(col("text").isNull || length(col("text")) === 0).as("v_text_empty"),
      cnt(col("n_chars").isNull || col("text").isNull ||
        col("n_chars") =!= length(col("text"))).as("v_chars"),
      cnt(col("lang").isNull || !expr(s"lang IN ($langList)")).as("v_lang"),
      cnt(col("source").isNull || length(col("source")) === 0).as("v_source"))
    // unpivot the ONE summary row with stack — a per-constraint union
    // would re-run the corpus aggregation once per branch
    agg.select(col("n_rows"), expr(
        "stack(7, " +
          "'corpus_non_empty', CASE WHEN n_rows = 0 THEN 1L ELSE 0L END, " +
          "'doc_id_not_null', v_id_null, " +
          "'doc_id_unique', v_id_dup, " +
          "'text_not_empty', v_text_empty, " +
          "'n_chars_consistent', v_chars, " +
          "'lang_in_domain', v_lang, " +
          "'source_not_empty', v_source) AS (check_name, n_violations)"))
      .select(col("check_name"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0).cast("int").as("passed"))
      .orderBy("check_name")
  }

  val dataValidateSql: String = {
    val langList = AllowedLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH a AS (
       |  SELECT count(*) AS n_rows,
       |         CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END),
       |                       0) AS BIGINT) AS v_id_null,
       |         count(doc_id) - count(DISTINCT doc_id) AS v_id_dup,
       |         CAST(coalesce(sum(CASE WHEN text IS NULL OR length(text) = 0
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS v_text_empty,
       |         CAST(coalesce(sum(CASE WHEN n_chars IS NULL OR text IS NULL
       |                                  OR n_chars <> length(text)
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS v_chars,
       |         CAST(coalesce(sum(CASE WHEN lang IS NULL
       |                                  OR NOT (lang IN ($langList))
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS v_lang,
       |         CAST(coalesce(sum(CASE WHEN source IS NULL OR length(source) = 0
       |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
       |           AS v_source
       |  FROM documents)
       |SELECT check_name, n_rows, n_violations,
       |       CAST(n_violations = 0 AS INT) AS passed FROM (
       |  SELECT 'corpus_non_empty' AS check_name, n_rows,
       |         CAST(CASE WHEN n_rows = 0 THEN 1 ELSE 0 END AS BIGINT)
       |           AS n_violations FROM a
       |  UNION ALL SELECT 'doc_id_not_null', n_rows, v_id_null FROM a
       |  UNION ALL SELECT 'doc_id_unique', n_rows, v_id_dup FROM a
       |  UNION ALL SELECT 'text_not_empty', n_rows, v_text_empty FROM a
       |  UNION ALL SELECT 'n_chars_consistent', n_rows, v_chars FROM a
       |  UNION ALL SELECT 'lang_in_domain', n_rows, v_lang FROM a
       |  UNION ALL SELECT 'source_not_empty', n_rows, v_source FROM a)
       |ORDER BY check_name""".stripMargin
  }

  // ------------------------------------------- X52 per-source corpus report

  /** `corpus_report`: the per-source curation dashboard — doc/token
    * volume, mean length, blocklist-flagged count and exact-duplicate
    * count per source, in ONE corpus pass. This is the summary a
    * curation run publishes after every delivery (which source is
    * bloated, which is dirty, which is self-duplicating) and the input
    * to the mixing decisions ([[PipelineOps.mixTemperature]],
    * [[PipelineOps.sourceCap]]) downstream.
    *
    * All five aggregates ride one `groupBy(source)`: counts and sums
    * partial-aggregate map-side; the duplicate count is
    * `count − count(DISTINCT md5(text))`, whose distinct expansion
    * shuffles 16-byte hashes keyed by (source, hash) — never text. At
    * 100 TB this is a single pass emitting k rows; the per-doc
    * blocklist/token work is the same codegen'd lambda the dedicated
    * keys use.
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val hitPred = TextAnalysis.blockPred("t")
    docs(s, dir).withColumn("toks", expr(toksExpr))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).cast("long").as("n_tokens"),
        Buckets.round6(sum(col("n_chars")).cast("double") / count(lit(1)))
          .as("avg_chars"),
        sum(when(expr(s"size(filter(toks, t -> $hitPred))") > 0, 1L)
          .otherwise(0L)).as("n_blocked"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_texts"))
      .orderBy("source")
  }

  val corpusReportSql: String = {
    val hitPred = TextAnalysis.blockPred("t")
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |       ${Buckets.round6Sql(
                 "CAST(sum(n_chars) AS DOUBLE) / count(*)")} AS avg_chars,
       |       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_blocked,
       |       count(*) - count(DISTINCT h) AS n_dup_texts
       |FROM (SELECT source, n_chars, len($toksSql) AS n_toks,
       |             len(list_filter($toksSql, t -> $hitPred)) AS n_hits,
       |             md5(text) AS h
       |      FROM documents)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
