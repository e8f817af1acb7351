package graft.sources

import graft.model.WhisperSchema
import graft.ops.Rollup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tree-level maintenance operations mirroring the PUBLIC whisper
  * toolchain that every graphite operator runs alongside the reference
  * library (`whisper-fill.py`, `whisper-resize.py` in
  * graphite-project/whisper — companion tools of the format, documented
  * semantics, no reference code involved) — re-expressed as distributed
  * Spark jobs over the [[WspDataSource]] / [[WspWrite]] pair. These are
  * the "day 2" operations a migrating go-whisper user needs: backfill a
  * gappy tree from an archive copy, and re-derive a tree under a new
  * retention config.
  *
  * Scale shape: both are relational plans over the wsp source (file
  * pruning + bin-packed scans), one shuffle keyed by (metric, bucket) or
  * metric, and an executor-parallel per-metric write — no driver-side
  * file loop, unlike the single-threaded python tools.
  */
object WspTools {

  /** The source tree's parsed binary header, taken from its first `.wsp`
    * file — ONE bounded driver-side read (a planning decision, like the
    * scan's listing), with the rest of the tree validated per row against
    * it inside the distributed plan ([[withGeometry]]'s `raise_error`).
    * Archives must be finest→coarsest with strictly growing retention,
    * whisper's own create-time invariant.
    */
  def treeHeader(spark: SparkSession, dir: String): WspHeader = {
    // the shared .wsp walk (graft.WhisperTable.wspWalk) — one statement
    // of the skip rules for every tree consumer (r15 review: this had
    // its own copy)
    val (_, files) = graft.WhisperTable.wspWalk(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!files.hasNext)
      throw new IllegalArgumentException(s"$dir: no .wsp files found")
    val st = files.next()
    val h = graft.WhisperTable.headerOf(
      fs, st.getPath, st.getLen, st.getPath.toString)
    val rets = h.archives.map(a =>
      a.secondsPerPoint.toLong * a.numberOfPoints)
    require(rets.zip(rets.tail).forall { case (a, b) => a < b } &&
        h.archives.map(_.secondsPerPoint).sliding(2).forall(
          s => s.size < 2 || s(0) < s(1)),
      s"${st.getPath}: archives $h not finest-to-coarsest with growing retention")
    h
  }

  /** Validate a scanned tree row-by-row against an expected per-archive
    * geometry `(archive, cfg_spp, cfg_points)` — BOTH resolution and ring
    * size (same spp with a different ring is a different retention
    * config). A LEFT join so an archive index outside the expectation
    * fails the check loudly (an inner join would silently drop the
    * level). Returns the tree with `cfg_spp`/`cfg_points` attached.
    */
  private def withGeometry(
      tree: DataFrame, cfg: DataFrame, tool: String): DataFrame =
    tree.join(broadcast(cfg), Seq("archive"), "left")
      .filter(when(col("cfg_spp").isNotNull &&
          col("spp") === col("cfg_spp") &&
          col("points") === col("cfg_points"), lit(true)).otherwise(
        raise_error(concat(lit(s"$tool: archive geometry mismatch — file has "),
          lit("archive="), col("archive"), lit(" spp="), col("spp"),
          lit(" points="), col("points"), lit(", expected spp="),
          coalesce(col("cfg_spp").cast("string"), lit("<no such archive>")),
          lit(" points="),
          coalesce(col("cfg_points").cast("string"), lit("<no such archive>"))))
          .cast("boolean")))

  /** `whisper-fill` semantics: copy into `dstDir` every point of
    * `srcDir` whose ring slot in dst is EMPTY or holds a STALER (older
    * interval) point — current dst data always wins, src fills gaps.
    * Level-aligned by archive index. Returns the per-metric merge
    * manifest (the write has run on return).
    *
    * The gap test is keyed by RING SLOT CLASS (`(ts div spp) mod
    * points`) with an interval comparison, not raw timestamp equality:
    *  - a src point from an older ring lap lands in the SAME slot as a
    *    newer occupied dst point — a ts-keyed check would call it a gap
    *    and let the merge destroy dst's newer data;
    *  - conversely a dst occupant one lap STALE must not block a fresh
    *    src point — the reference tool fetches dst over the current
    *    window, where a stale-interval slot reads as a gap, and copies.
    * Slot-keyed last-interval-wins captures both directions. Rows are
    * validated against the expected geometry — resolution AND ring size —
    * on the way through (`raise_error` on a missing archive or any
    * mismatch — the src-side analog of the header check
    * [[WspWrite.merge]] runs on dst files; a DIFFERENT-geometry source
    * is [[fillResample]]'s job, not a silent mis-slot here). Shuffles
    * are bounded by stored points, never corpus².
    */
  def fill(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      schema: WhisperSchema): DataFrame = {
    val cfg = {
      import spark.implicits._
      schema.retentions.zipWithIndex
        .map { case (r, i) => (i, r.secondsPerPoint, r.numberOfPoints) }
        .toDF("archive", "cfg_spp", "cfg_points")
    }
    def withSlot(tree: DataFrame): DataFrame =
      withGeometry(tree, cfg, "fill")
        .withColumn("slot", expr("pmod(ts_s div cfg_spp, cfg_points)"))
    val src = withSlot(spark.read.format("wsp").load(srcDir))
    val dst = withSlot(spark.read.format("wsp").load(dstDir))
      .select(col("metric"), col("archive"), col("slot"),
        col("ts_s").as("dst_ts"))
    val gaps = src.join(dst, Seq("metric", "archive", "slot"), "left")
      .filter(col("dst_ts").isNull || col("ts_s") > col("dst_ts"))
      .select(col("metric"), col("archive"),
        col("ts_s").as("bucket_ts"), col("value"))
    WspWrite.merge(gaps, dstDir, schema)
  }

  /** `whisper-diff` semantics: every (metric, archive, ts) slot where
    * the two trees DISAGREE — present on one side only, or present on
    * both with different values. Pure relational full-outer join keyed
    * by slot, so the comparison distributes and prunes like any other
    * wsp scan (a one-metric diff opens two files). Output:
    * `(metric, archive, ts_s, value_a, value_b)` with NULL marking the
    * absent side.
    */
  def diff(
      spark: SparkSession,
      aDir: String,
      bDir: String): DataFrame = {
    val a = spark.read.format("wsp").load(aDir)
      .select(col("metric"), col("archive"), col("ts_s"),
        col("value").as("value_a"))
    val b = spark.read.format("wsp").load(bDir)
      .select(col("metric"), col("archive"), col("ts_s"),
        col("value").as("value_b"))
    a.join(b, Seq("metric", "archive", "ts_s"), "full_outer")
      .filter(col("value_a").isNull || col("value_b").isNull ||
        col("value_a") =!= col("value_b"))
  }

  /** `whisper-resize --aggregate` semantics: build a NEW tree under
    * `outDir` with `newSchema`'s retention config, each new level
    * consolidated from the BEST-AVAILABLE source archive per time range —
    * whisper's fetch rule (the finest archive whose live window covers
    * the range), which is exactly the U3 routing the ingest path applies
    * per point ([[graft.ops.Ingest.archiveColumn]]), here applied per
    * TARGET BUCKET:
    *
    *  - each target bucket of a new level is served by the finest source
    *    archive whose live window `[now − retention, now)` overlaps it;
    *    bands are disjoint by construction, so no cross-archive dedup
    *    shuffle is needed;
    *  - source points are read only from their archive's live window
    *    (exactly what the tool's per-archive fetch returns — a stale
    *    ring-lap slot reads as a gap and is not copied);
    *  - a band coarser than the target level is consolidated with the
    *    target schema's aggregation method and xFilesFactor (one
    *    propagate hop — the tool's re-aggregation, free of avg-of-avg
    *    drift); an equal-resolution band copies; a band FINER than...
    *    — i.e. the target level finer than the band's source archive —
    *    passes points through at their own (already target-aligned)
    *    timestamps, the tool's no-interpolation rule; any non-integer
    *    alignment is refused loudly;
    *  - each new level is clamped to its retention horizon at `nowS`.
    *
    * History older than the finest source archive's span — present only
    * in the source's coarser archives — is therefore carried over, not
    * dropped (the r6 data-loss finding). The source geometry is read
    * from the tree's own binary header ([[treeHeader]]), never trusted
    * from the caller, and every scanned row is validated against it.
    * Returns the export manifest (the write has run on return).
    */
  def resize(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      newSchema: WhisperSchema,
      nowS: Long): DataFrame =
    WspWrite.export(rederive(spark, srcDir, newSchema, nowS), outDir, newSchema)

  /** The relational heart of [[resize]] (shared with [[fillResample]]):
    * the source tree's points re-derived under `newSchema`'s geometry as
    * a `(metric, archive, bucket_ts, value)` frame — at most one row per
    * ring slot per metric (each level's horizon is exactly its ring
    * capacity, and bands are disjoint).
    *
    * Plan shape — ONE tree scan, one shuffle: an earlier formulation
    * planned a separate wsp scan per (target level × source band), and
    * since metric-only file pruning means every scan reads every file's
    * bytes, an L-level target over a K-archive source read the tree up
    * to L·K times. Instead, the single scan (with the one globally-valid
    * ts window pushed into the slot decoder) cross-joins the tiny
    * broadcast level table, each (point, level) row computes its target
    * bucket and band admission inline (live window, level clamp,
    * finest-overlapping-archive-wins — mutually exclusive across source
    * archives by construction, so every (level, metric, bucket) group
    * draws from exactly one archive), and one hash aggregation applies
    * the schema's method with whisper's float32 xff gate. Pass-through
    * bands (target finer than or equal to the source band) fall out of
    * the same aggregate: their buckets hold at most one point, every
    * method is the identity on it, and `total` clamps to 1 so the gate
    * always passes — identical semantics, no union, no per-band plan.
    */
  private[graft] def rederive(
      spark: SparkSession,
      srcDir: String,
      newSchema: WhisperSchema,
      nowS: Long): DataFrame = {
    import spark.implicits._
    val hdr = treeHeader(spark, srcDir)
    val rets = hdr.archives.map(a => a.secondsPerPoint.toLong * a.numberOfPoints)
    // alignment is a schema-level property — checked up front, per
    // (level, band actually inside the level's horizon)
    newSchema.retentions.foreach { r =>
      hdr.archives.zipWithIndex.foreach { case (sa, j) =>
        val prevRet = if (j == 0) 0L else rets(j - 1)
        if (prevRet < r.maxRetentionSeconds)
          require(r.secondsPerPoint % sa.secondsPerPoint == 0 ||
              sa.secondsPerPoint % r.secondsPerPoint == 0,
            s"resize: target ${r.secondsPerPoint}s level is not integer-aligned " +
              s"with the ${sa.secondsPerPoint}s source archive $j " +
              "(neither divides the other)")
      }
    }
    val cfg = hdr.archives.zipWithIndex
      .map { case (a, j) =>
        (j, a.secondsPerPoint, a.numberOfPoints,
          rets(j), if (j == 0) 0L else rets(j - 1))
      }
      .toDF("archive", "cfg_spp", "cfg_points", "cfg_ret", "cfg_prev")
    val lvls = newSchema.retentions.zipWithIndex
      .map { case (r, i) => (i, r.secondsPerPoint, r.maxRetentionSeconds) }
      .toDF("lvl", "lvl_spp", "lvl_h")
    // globally-valid pushdown: nothing older than the deepest level
    // horizon (or newer than now) can contribute to any band
    val maxH = newSchema.retentions.map(_.maxRetentionSeconds).max
    val scanned = withGeometry(
      spark.read.format("wsp").load(srcDir)
        .filter(col("ts_s") >= nowS - maxH && col("ts_s") < nowS),
      cfg, "resize")
    scanned
      .crossJoin(broadcast(lvls))
      .withColumn("bucket_ts",
        (floor(col("ts_s") / col("lvl_spp")) * col("lvl_spp")).cast("long"))
      // live window of the point's own archive (a stale ring lap reads
      // as a gap, exactly the tool's per-archive fetch)
      .filter(col("ts_s") >= lit(nowS) - col("cfg_ret"))
      // level horizon clamp
      .filter(col("bucket_ts") >= lit(nowS) - col("lvl_h"))
      // finest-overlapping-archive-wins band admission (disjoint: a
      // bucket admitted for archive j is provably not admitted for any
      // other archive's rows)
      .filter(when(col("cfg_prev") === 0L, col("bucket_ts") < nowS)
        .otherwise(col("bucket_ts") + col("lvl_spp") <=
          lit(nowS) - col("cfg_prev")))
      .groupBy(col("lvl"), col("metric"), col("bucket_ts"))
      .agg(
        Rollup.aggColumn(newSchema.method, col("value"), col("ts_s"),
          totalSlots).as("value"),
        count(lit(1)).as("known"),
        // constant within the group (one archive serves the bucket)
        max(totalSlots).as("total"))
      .filter((col("known").cast("double") / col("total")).cast("float")
        >= lit(newSchema.xFilesFactor.toFloat))
      .select(col("metric"), col("bucket_ts"), col("value"),
        col("lvl").as("archive"))
  }

  /** Consolidation-window slot count per (point, level) row: clamps to 1
    * for pass-through bands (target finer than or equal to the source
    * band) so the xff gate is vacuous there and avg_zero divides by 1.
    * ONE definition feeds both the method's divisor and the gate's
    * `total` — they must never diverge.
    */
  private def totalSlots: Column =
    greatest(lit(1L), expr("lvl_spp div cfg_spp"))

  /** `whisper-fill` ACROSS retention configs: back-fill `dstDir` (geometry
    * `dstSchema`) from a tree with ANY geometry, by first re-deriving the
    * source under the destination's schema ([[rederive]] — the resize
    * consolidation, per-range best-archive routing and all) and then
    * applying the same slot-keyed gap rule as [[fill]]: existing dst
    * slots win, gaps and stale laps take the re-derived src point. The
    * real tool's fetch-consolidate-update path for mismatched trees,
    * which same-geometry [[fill]] deliberately refuses.
    */
  def fillResample(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      dstSchema: WhisperSchema,
      nowS: Long): DataFrame = {
    val cfg = {
      import spark.implicits._
      dstSchema.retentions.zipWithIndex
        .map { case (r, i) => (i, r.secondsPerPoint, r.numberOfPoints) }
        .toDF("archive", "cfg_spp", "cfg_points")
    }
    val src = rederive(spark, srcDir, dstSchema, nowS)
      .join(broadcast(cfg), Seq("archive"))
      .withColumn("slot", expr("pmod(bucket_ts div cfg_spp, cfg_points)"))
    val dst = withGeometry(
        spark.read.format("wsp").load(dstDir), cfg, "fill")
      .withColumn("slot", expr("pmod(ts_s div cfg_spp, cfg_points)"))
      .select(col("metric"), col("archive"), col("slot"),
        col("ts_s").as("dst_ts"))
    val gaps = src.join(dst, Seq("metric", "archive", "slot"), "left")
      .filter(col("dst_ts").isNull || col("bucket_ts") > col("dst_ts"))
      .select(col("metric"), col("archive"), col("bucket_ts"), col("value"))
    WspWrite.merge(gaps, dstDir, dstSchema)
  }

  /** `whisper-merge` semantics: copy EVERY stored point of `srcDir` into
    * the same slot of `dstDir` — src wins on collision (update_many
    * overwrite), dst-only slots survive. Same-geometry by contract, both
    * trees validated row-by-row; use [[fillResample]] (gap-filling) or
    * [[resize]]+merge for mismatched configs. One shuffle keyed by
    * metric into the executor-parallel merge write.
    */
  def merge(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      schema: WhisperSchema): DataFrame = {
    val cfg = {
      import spark.implicits._
      schema.retentions.zipWithIndex
        .map { case (r, i) => (i, r.secondsPerPoint, r.numberOfPoints) }
        .toDF("archive", "cfg_spp", "cfg_points")
    }
    val src = withGeometry(
        spark.read.format("wsp").load(srcDir), cfg, "merge")
      .select(col("metric"), col("archive"),
        col("ts_s").as("bucket_ts"), col("value"))
    WspWrite.merge(src, dstDir, schema)
  }

  /** `whisper-set-aggregation-method` / `whisper-set-xfilesfactor`: patch
    * the metadata block of every file in a tree — a distributed
    * executor-side rewrite (read image, patch 4 bytes, atomic publish —
    * the same tmp+rename discipline as every other write), never a
    * driver file loop. `method`/`xff` are each optional; ring data is
    * untouched. Returns the per-file manifest
    * (path, old_method, old_xff, patched) — the write has run on
    * return. `patched` records whether THIS run rewrote the file; the
    * rewrite is at-least-once (task retry, speculation), so a file
    * already carrying the target header is skipped with
    * `patched = false`, in which case old_method/old_xff report the
    * CURRENT (post-patch) header values, not the pre-patch ones.
    */
  def rewriteHeaders(
      spark: SparkSession,
      treeDir: String,
      method: Option[graft.model.AggregationMethod] = None,
      xff: Option[Double] = None): DataFrame = {
    require(method.isDefined || xff.isDefined,
      "rewriteHeaders: nothing to rewrite — pass method and/or xff")
    xff.foreach(x => require(x >= 0.0 && x <= 1.0,
      s"rewriteHeaders: xFilesFactor $x outside [0, 1]"))
    // the shared .wsp walk, not a private copy (r15 review): a skip
    // rule added there must also govern which files get patched
    val all = graft.WhisperTable.wspWalk(spark, treeDir)._2
      .map(st => (st.getPath.toString, st.getLen)).toSeq
    val conf = WspTable.taskConf(spark)
    val methodId = method.map(_.id)
    import spark.implicits._
    // the patch runs here, once; the manifest is its collected rows
    spark.sparkContext
      .parallelize(all, math.min(256, math.max(1, all.size / 64)))
      .mapPartitions { paths =>
        paths.map { case (p, len) =>
          val path = new org.apache.hadoop.fs.Path(p)
          val pfs = path.getFileSystem(conf.value.value)
          require(len <= Int.MaxValue,
            s"$p: $len bytes exceeds the 2 GB single-file limit")
          val image = new Array[Byte](len.toInt)
          val in = pfs.open(path)
          try in.readFully(0, image) finally in.close()
          val h = WspCodec.readHeader(image, p) // validates before patching
          // skip files whose header already matches: the map runs
          // at-least-once (task retry, speculative execution), and
          // without the guard a re-run would report the NEW values as
          // old_method/old_xff — the no-op skip makes the rewrite
          // idempotent and the manifest's `patched` column records
          // which files this run actually touched
          val already = methodId.forall(_ == h.aggregationType) &&
            xff.forall(x => x.toFloat == h.xFilesFactor)
          if (!already) {
            val buf = java.nio.ByteBuffer.wrap(image)
              .order(java.nio.ByteOrder.BIG_ENDIAN)
            methodId.foreach(id => buf.putInt(0, id))
            xff.foreach(x => buf.putFloat(8, x.toFloat))
            val tmp = new org.apache.hadoop.fs.Path(path.getParent,
              s".${path.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
            WspWrite.publish(pfs, conf.value.value, tmp, path, image)
          }
          (p, h.aggregationType, h.xFilesFactor.toDouble, !already)
        }
      }
      .collect().toSeq
      .toDF("path", "old_method", "old_xff", "patched")
  }
}
