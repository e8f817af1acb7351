package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor multiplier for the SCALING.md experiment
  * (r16 verdict "missing" #4: coverage is saturated; the next marginal
  * token converts 100-TB design CLAIMS into measured sf0.1→sf1 curves).
  *
  * Copy 0 is the driver's own sf0.1 data byte-for-byte; copies 1..N-1
  * perturb deterministically so the UNION preserves the per-copy
  * distribution while scaling the corpus N×:
  *
  *  - `documents.text` is caesar-rotated per copy (letters only, length
  *    and token structure preserved): cross-copy shingles are DISTINCT,
  *    so near-dup pair counts grow linearly with N instead of N² — a
  *    corpus of 10 mutual near-dup copies would measure output blowup,
  *    not the operator's scaling.
  *  - `events.event_type` gets a per-copy suffix: series cardinality
  *    scales with the data (new metrics, same time range), matching how
  *    a real carbon tree grows — more series, not denser ones.
  *  - ids offset by copy so uniqueness invariants hold.
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir] [outDir] [copies]
  * Output goes OUTSIDE the repo (default /tmp/graft_sf1) — generated
  * inputs are an experiment artifact, not source.
  */
object ScaleGen {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Per-copy letter rotation: copy 0 is identity. */
  private def rot(s: String, c: Int): String =
    s.drop(c % 26) + s.take(c % 26)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // the caesar rotation wraps at 26: copy 26 would be byte-identical
    // to copy 0, giving every document an exact cross-copy duplicate —
    // the output-blowup artifact the rotation exists to prevent (r17
    // review). Scaling past 26x needs a second perturbation dimension.
    require(copies >= 1 && copies <= 26,
      s"copies must be in 1..26 (got $copies): the per-copy letter " +
        "rotation wraps at 26 and copies would collide byte-identically")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def multiplied(table: String)(perturb: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val all = (0 until copies).map {
        case 0 => base
        case c => perturb(base, c)
      }.reduce(_ unionByName _)
      // spread write files so downstream scans parallelize at any SF
      all.repartition(cpus.toInt)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      val n = spark.read.parquet(s"$out/$table.parquet").count()
      // scalastyle:off println
      println(s"[scalegen] $table: $n rows ($copies copies) -> $out")
      // scalastyle:on println
    }

    val docIdSpan = 1L << 32 // far above any real doc_id; keeps ids unique
    multiplied("documents") { (df, c) =>
      df.select(
        (col("doc_id") + lit(c * docIdSpan)).as("doc_id"),
        translate(col("text"),
          Lower + Upper, rot(Lower, c) + rot(Upper, c)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    multiplied("events") { (df, c) =>
      df.select(
        (col("event_id") + lit(c * docIdSpan)).as("event_id"),
        col("ts"), col("user_id"),
        concat(col("event_type"), lit(s"_c$c")).as("event_type"),
        col("value"), col("props"))
    }
    multiplied("embeddings") { (df, c) =>
      // cyclic shift of the vector per copy: norms (and the label mix)
      // are preserved, cross-copy cosine neighborhoods are not — copies
      // add genuinely new points instead of exact duplicates that a
      // top-k would tie-break on
      df.select(
        (col("vec_id") + lit(c * docIdSpan)).as("vec_id"),
        expr(s"""transform(embedding,
          (x, i) -> element_at(embedding,
            CAST((i + $c) % size(embedding) AS INT) + 1))""").as("embedding"),
        col("label"))
    }
    spark.stop()
  }
}
