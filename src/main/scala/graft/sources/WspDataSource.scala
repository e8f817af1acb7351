package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("wsp")` — a DataSource V2 batch reader for trees of
  * whisper `.wsp` files, the reference's on-disk format (SURVEY.md §2.1
  * S1: `Open`/`readHeader`). A go-whisper/graphite user points this at
  * their existing storage directory and gets the engine's relational
  * view with NO conversion step:
  *
  * {{{
  * spark.read.format("wsp").load("/var/lib/carbon/whisper/servers")
  *   // => metric | archive | spp | points | ts_s | value
  * }}}
  *
  * `metric` is the file's base name (whisper is file-per-series; the
  * directory tree IS the metric namespace — `a/b/c.wsp` → `a.b.c`),
  * `archive` the 0-based level index, `spp`/`points` that level's
  * resolution and ring size (the file's own geometry, so tree-level
  * consumers can validate it per row), `ts_s`/`value` the stored point.
  *
  * Scale design — a production whisper tree is millions of SMALL files
  * (file size is fixed by each series' retention config), the classic
  * many-small-files source:
  *  - the planner is a driver-side walk of the tree, paid per batch plan
  *    and per streaming micro-batch (whisper's tree IS the index:
  *    graphite's finder walks it the same way). On the local filesystem
  *    it descends only into directories whose dotted prefix can still
  *    extend to a selected metric, so its stat traffic is O(directories
  *    on the selected paths + their entries); a remote store is listed
  *    flat, O(files). The driver holds ~100 bytes per selected file, and
  *    the scan node reports directories listed, files seen and files
  *    selected;
  *  - files are bin-packed into input partitions up to
  *    `spark.sql.files.maxPartitionBytes`, so task count tracks data
  *    volume, not file count;
  *  - `metric` predicates (`EqualTo`/`In`) push down to FILE PRUNING at
  *    planning time — a one-series query opens one file, whisper-`Open`
  *    style, regardless of tree size; the `metricGlob` read option
  *    prunes the same way by graphite glob (`servers.*.cpu` opens only
  *    the matching files — the finder's filesystem walk, distributed);
  *  - `ts_s` range predicates push into the slot decoder (rows outside
  *    the range are never materialized — and the range filter is exactly
  *    the reference's F2 staleness semantics, which is only defined
  *    relative to a requested range);
  *  - `spp`/`archive` predicates (`EqualTo`/`In`) push into the decoder
  *    as an archive choice: the other archives' rings are skipped, never
  *    decoded (a render at one resolution reads one ring per file);
  *  - column pruning is honored (a `count(*)` decodes no strings);
  *  - the Hadoop configuration reaches tasks as one broadcast per scan
  *    ([[WspTable.taskConf]]), never inside the reader factory: the
  *    factory rides in the scan node, which every task of every stage
  *    above the scan deserializes, so a ~100 KB conf there is paid per
  *    task, not per query;
  *  - the scan reports a row bound from its listing (selected files ×
  *    slots of the pushed range): Spark's size estimate, which a render
  *    reads to decide whether its aggregate fits one partition. A batch
  *    scan lists once for the estimate and its partitions.
  *
  * Pushed `metric`/`ts_s`/`spp`/`archive` filters are absorbed exactly
  * (not re-evaluated above the scan); everything else stays in Catalyst.
  */
final class WspDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wsp"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WspTable.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new WspTable(WspTable.rootPaths(properties))
}

object WspTable {
  /** Relational view of a `.wsp` tree. `ts_s` keeps SURVEY §1.3's
    * epoch-seconds BIGINT convention — whisper's native representation. */
  val Schema: StructType = StructType(Seq(
    StructField("metric", StringType, nullable = false),
    StructField("archive", IntegerType, nullable = false),
    StructField("spp", IntegerType, nullable = false),
    StructField("points", IntegerType, nullable = false),
    StructField("ts_s", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** `load(p1, p2, …)` arrives as a JSON array under "paths", a single
    * `load(p)` as "path" — accept both. */
  def rootPaths(properties: JMap[String, String]): Seq[String] = {
    val multi = Option(properties.get("paths")).map { json =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val formats: Formats = DefaultFormats
      JsonMethods.parse(json).extract[Seq[String]]
    }.getOrElse(Nil)
    val single = Option(properties.get("path")).toSeq
    val roots = (multi ++ single).distinct
    require(roots.nonEmpty, "wsp source requires a path: spark.read.format(\"wsp\").load(dir)")
    roots
  }

  /** The session's Hadoop configuration as tasks read it: one broadcast
    * per query, so no task closure or factory carries a `Configuration`.
    * The wsp scan, writers and import all ship it this way.
    */
  private[graft] def taskConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Metric name for a file inside a root: the relative path with
    * separators → dots and `.wsp` stripped (graphite's tree↔name rule);
    * files passed directly (root IS the file) use their base name.
    */
  def metricFor(root: org.apache.hadoop.fs.Path, file: org.apache.hadoop.fs.Path): String = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val fileUri = file.toUri.getPath
    val rel =
      if (fileUri != rootUri && fileUri.startsWith(rootUri + "/"))
        fileUri.drop(rootUri.length + 1)
      else file.getName
    rel.stripSuffix(".wsp").replace('/', '.')
  }
}

final class WspTable(roots: Seq[String]) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"wsp:${roots.mkString(",")}"
  override def schema(): StructType = WspTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: write frames resolve by NAME in the builder —
    // the full read schema round-trips, but the lean 4-column contract
    // (metric, archive, ts_s|bucket_ts, value) writes too, and writers
    // aren't forced through the read schema's non-null flags
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WspWriteBuilder(roots, info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Spark ignores unknown options: a removed option must fail by name,
    // not be read silently with a different meaning
    Seq("manifest", "listingCache", "metricRoot", "readRetries")
      .find(options.containsKey).foreach { o =>
        throw new IllegalArgumentException(
          s"wsp: read option '$o' is no longer supported; the only read option is metricGlob")
      }
    new WspScanBuilder(roots, Option(options.get("metricGlob")))
  }
}

final class WspScanBuilder(
    roots: Seq[String],
    // `metricGlob` read option: a graphite glob ([[graft.ops.Fetch
    // .globToRegex]] semantics — `*`/`?` dot-bounded, braces alternate)
    // applied as FILE pruning during the tree walk, exactly where the
    // reference's finder globs the filesystem: `servers.*.cpu` over a
    // million-file tree opens only the matching files. A read OPTION
    // (not a pushed filter) because DSv2's Filter vocabulary has no
    // regex/LIKE member to push an `rlike` through.
    metricGlob: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = WspTable.Schema

  // metric ∈ metrics (None = unconstrained) — applied as FILE pruning
  private var metrics: Option[Set[String]] = None
  // ts_s ∈ [lo, hi] and the archive choice — applied inside the decoder
  private var slots = WspSlots()

  private def intersect(vs: Set[String]): Unit =
    metrics = Some(metrics.fold(vs)(_ intersect vs))
  // a NULL list element matches no row
  private def ints(vs: Array[Any]): Set[Int] = vs.collect { case i: Int => i }.toSet

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition {
      case EqualTo("metric", _: String) | In("metric", _) => true
      case EqualTo("ts_s", _: Long) => true
      case GreaterThan("ts_s", _: Long) | GreaterThanOrEqual("ts_s", _: Long) => true
      case LessThan("ts_s", _: Long) | LessThanOrEqual("ts_s", _: Long) => true
      case EqualTo("spp" | "archive", _: Int) => true
      case In("spp" | "archive", vs) => vs.forall(v => v == null || v.isInstanceOf[Int])
      case _ => false
    }
    supported.foreach {
      case EqualTo("metric", v: String) => intersect(Set(v))
      case In("metric", vs) => intersect(vs.collect { case s: String => s }.toSet)
      case EqualTo("ts_s", v: Long) => slots = slots.atLeast(v).atMost(v)
      // strict bounds at the Long extremes: v±1 would wrap and silently
      // turn a provably-empty predicate into an unbounded scan (these
      // filters are absorbed, nothing above re-checks them)
      case GreaterThan("ts_s", v: Long) =>
        slots = if (v == Long.MaxValue) slots.copy(tsLo = 1, tsHi = 0) // empty range
          else slots.atLeast(v + 1)
      case GreaterThanOrEqual("ts_s", v: Long) => slots = slots.atLeast(v)
      case LessThan("ts_s", v: Long) =>
        slots = if (v == Long.MinValue) slots.copy(tsLo = 1, tsHi = 0) // empty range
          else slots.atMost(v - 1)
      case LessThanOrEqual("ts_s", v: Long) => slots = slots.atMost(v)
      case EqualTo("spp", v: Int) => slots = slots.sppIn(Set(v))
      case In("spp", vs) => slots = slots.sppIn(ints(vs))
      case EqualTo("archive", v: Int) => slots = slots.archiveIn(Set(v))
      case In("archive", vs) => slots = slots.archiveIn(ints(vs))
      case _ => ()
    }
    pushed = supported
    residual // absorbed exactly: supported filters are not re-evaluated
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val spark = SparkSession.active
    new WspScan(roots, metrics, slots, required, WspTable.taskConf(spark),
      spark.sessionState.conf.filesMaxPartitionBytes, metricGlob)
  }
}

/** Driver-side listing figures of a wsp scan, shown on its scan node:
  * listing calls (one per directory walked, one per remote root), files
  * the listings returned, and files the scan selected.
  */
final class WspDirsListed extends CustomSumMetric {
  override def name(): String = "dirsListed"
  override def description(): String = "directories listed"
}
final class WspFilesSeen extends CustomSumMetric {
  override def name(): String = "filesSeen"
  override def description(): String = "files seen"
}
final class WspFilesSelected extends CustomSumMetric {
  override def name(): String = "filesSelected"
  override def description(): String = "files selected"
}

/** One planned slice of files (path, length, metric). */
final case class WspInputPartition(files: Seq[(String, Long, String)]) extends InputPartition

/** The pushed slot predicates the decoder applies to every file: the
  * `ts_s` range `[tsLo, tsHi]` and, when pushed, the archive indexes and
  * resolutions to decode (None = every archive).
  */
final case class WspSlots(
    tsLo: Long = Long.MinValue,
    tsHi: Long = Long.MaxValue,
    archives: Option[Set[Int]] = None,
    spps: Option[Set[Int]] = None) {
  def atLeast(v: Long): WspSlots = copy(tsLo = math.max(tsLo, v))
  def atMost(v: Long): WspSlots = copy(tsHi = math.min(tsHi, v))
  def archiveIn(vs: Set[Int]): WspSlots = copy(archives = Some(archives.fold(vs)(_ intersect vs)))
  def sppIn(vs: Set[Int]): WspSlots = copy(spps = Some(spps.fold(vs)(_ intersect vs)))
  def decodes(archive: Int, spp: Int): Boolean =
    archives.forall(_(archive)) && spps.forall(_(spp))
  def describe: String =
    s"ts_s=[$tsLo,$tsHi]" + archives.fold("")(a => s" archive=${a.toSeq.sorted.mkString(",")}") +
      spps.fold("")(p => s" spp=${p.toSeq.sorted.mkString(",")}")
}

final class WspScan(
    roots: Seq[String],
    metrics: Option[Set[String]],
    slots: WspSlots,
    required: StructType,
    // one per scan: the driver-side listing reads it, the batch and
    // streaming reader factories ship it
    conf: Broadcast[SerializableConfiguration],
    maxPartitionBytes: Long,
    metricGlob: Option[String] = None) extends Scan with Batch with SupportsReportStatistics {

  // compiled once, applied driver-side during the listing walk
  private lazy val globRx: Option[java.util.regex.Pattern] =
    metricGlob.map(g => java.util.regex.Pattern.compile(graft.ops.Fetch.globToRegex(g)))

  // every proper dotted prefix of a pushed metric name: the directories
  // that can hold a selected file
  private lazy val metricDirs: Option[Set[String]] =
    metrics.map(_.flatMap(m => m.indices.filter(m(_) == '.').map(m.take)))

  // the last listing's figures, by custom metric name
  @volatile private var listed = Map.empty[String, Long]

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val m = metrics.fold("*")(_.mkString(","))
    val g = metricGlob.fold("")(g => s" glob=$g")
    s"wsp ${roots.mkString(",")} metric=$m$g ${slots.describe}"
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new WspDirsListed, new WspFilesSeen, new WspFilesSelected)

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    listed.map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: CustomTaskMetric
    }.toArray

  /** Can a directory whose files are named `prefix.<name>` hold a
    * selected file? `hitEnd` after a failed match means more input could
    * still match: the prefix extends to a selected metric.
    */
  private def descends(prefix: String): Boolean =
    metricDirs.forall(_(prefix)) && globRx.forall { rx =>
      val m = rx.matcher(prefix + ".")
      m.matches() || m.hitEnd()
    }

  /** Every selected `.wsp` file with its size, derived metric name, and
    * modification time — metric pruning happens HERE, before any byte is
    * read (shared by the batch and streaming planners).
    */
  private[sources] def listFilesWithMtime(): Seq[((String, Long, String), Long)] = {
    var dirs, seen = 0L
    val files = roots.flatMap { r =>
      val root = new org.apache.hadoop.fs.Path(r)
      val fs = root.getFileSystem(conf.value.value)
      val qualified = fs.makeQualified(root)
      val out = Seq.newBuilder[((String, Long, String), Long)]
      def emit(path: org.apache.hadoop.fs.Path, len: Long, mtime: Long): Unit = {
        seen += 1
        if (path.getName.endsWith(".wsp")) {
          val metric = WspTable.metricFor(qualified, path)
          if (metrics.forall(_.contains(metric)) &&
              globRx.forall(_.matcher(metric).matches))
            out += (((path.toString, len, metric), mtime))
        }
      }
      if (Option(qualified.toUri.getScheme).forall(_ == "file")) {
        // a listStatus walk: `listFiles(recursive)` on the local
        // filesystem forks `ls -ld` per file for its permission field.
        // It follows directory links (aliasing a subtree is legitimate)
        // and fails on a link back to a directory on its own path.
        def walk(dir: org.apache.hadoop.fs.Path, prefix: String,
            above: Set[java.nio.file.Path]): Unit = {
          val real = new java.io.File(dir.toUri.getPath).toPath.toRealPath()
          if (above(real))
            throw new IllegalStateException(
              s"wsp tree $qualified has a directory cycle: $dir links to $real, above it")
          dirs += 1
          fs.listStatus(dir).foreach { st =>
            if (st.isDirectory) {
              val p = if (prefix.isEmpty) st.getPath.getName else s"$prefix.${st.getPath.getName}"
              if (descends(p)) walk(st.getPath, p, above + real)
            } else emit(st.getPath, st.getLen, st.getModificationTime)
          }
        }
        val rootSt = fs.getFileStatus(qualified)
        if (rootSt.isFile)
          emit(rootSt.getPath, rootSt.getLen, rootSt.getModificationTime)
        else walk(qualified, "", Set.empty)
      } else {
        // remote stores: ONE flat recursive listing — on object stores
        // a paged prefix LIST and on HDFS a streamed recursive
        // getListing, both far cheaper than a per-directory RPC walk
        dirs += 1
        val it = fs.listFiles(qualified, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile)
            emit(st.getPath, st.getLen, st.getModificationTime)
        }
      }
      out.result()
    }
    listed = Map("dirsListed" -> dirs, "filesSeen" -> seen, "filesSelected" -> files.size.toLong)
    files
  }

  /** Max file mtime over the selected tree — the streaming offset. */
  private[sources] def maxMtime(): Long = {
    val ms = listFilesWithMtime().map(_._2)
    if (ms.isEmpty) Long.MinValue else ms.max
  }

  private[sources] def listFiles(): Seq[(String, Long, String)] =
    listFilesWithMtime().map(_._1)

  /** Next-fit-decreasing bin-pack into ≤ maxPartitionBytes bins — O(n)
    * after the sort, so planning stays linear at the millions-of-files
    * scale this source targets (first-fit's per-file scan over all open
    * bins is O(files × bins) of single-threaded driver time). With the
    * near-uniform file sizes a whisper tree has (size is a function of
    * the retention config), next-fit packs essentially as tightly;
    * task count tracks bytes, not file count, and one giant file still
    * gets its own task.
    */
  override def planInputPartitions(): Array[InputPartition] =
    packFiles(batchFiles)

  // the batch listing, once per scan: statistics and partition planning
  // share it (a streaming read lists per micro-batch instead)
  private lazy val batchFiles = listFiles()

  /** A bound on the rows the scan returns, from the listing: no file
    * yields more points than it holds (12 bytes each), nor more than the
    * pushed `ts_s` range has slots at each decoded resolution.
    */
  override def estimateStatistics(): Statistics = {
    val inRange = slots.spps.filter(_ => slots.tsLo > Long.MinValue && slots.tsHi < Long.MaxValue)
      .fold(Long.MaxValue)(_.toSeq.map(spp => (slots.tsHi - slots.tsLo) / spp + 1).sum)
    val rows = batchFiles.map(f => math.min(f._2 / 12, inRange)).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * (8 + required.defaultSize))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  private[sources] def packFiles(selected: Seq[(String, Long, String)]): Array[InputPartition] = {
    val files = selected.sortBy(-_._2)
    val bins = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ArrayBuffer[(String, Long, String)]]
    var openSize = 0L
    files.foreach { f =>
      if (bins.nonEmpty && openSize + f._2 <= maxPartitionBytes) {
        bins.last += f; openSize += f._2
      } else {
        bins += scala.collection.mutable.ArrayBuffer(f); openSize = f._2
      }
    }
    bins.map(b => WspInputPartition(b.toSeq): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WspReaderFactory(required, slots, conf)

  /** Reader factory for the STREAMING path: a live tree's publish
    * fallback (delete+rename schemes) can leave a planned file briefly
    * absent, so streaming reads retry transient absence
    * [[WspRead.StreamRetries]] times before surfacing the error.
    */
  private[sources] def streamingReaderFactory(): PartitionReaderFactory =
    new WspReaderFactory(required, slots, conf, WspRead.StreamRetries)

  /** Streaming read: tail a LIVE whisper tree — the reverse direction of
    * [[graft.streaming.StreamIngest.wspWriter]] (a carbon daemon keeps
    * writing; Spark keeps reading). Change capture is FILE-granular:
    * the offset is the tree's max modification time, and each
    * micro-batch re-emits every point of the files whose mtime reached
    * the previous offset or moved past it (`mtime >= start` — see
    * [[WspOffset]] for why the boundary is INCLUSIVE). Whisper has no
    * per-slot changelog — the file IS the state — so re-emission is the
    * honest contract; compose with an LWW/idempotent sink
    * ([[graft.streaming.StreamIngest]] paths) exactly as whisper replays
    * are absorbed anywhere else. Metric/ts pushdown and column pruning
    * apply per micro-batch unchanged.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WspMicroBatchStream(this)
}

/** Offset = the max of every visible file's (modification time in ms)
  * at planning. Monotone under the append-only/merge-write discipline
  * of a live tree; a batch covers files with `start <= mtime <= end`.
  *
  * The start boundary is INCLUSIVE by design: filesystems report mtime
  * at coarse quanta (often whole seconds), and a `.wsp` file is
  * fixed-size (the ring is pre-allocated), so a file rewritten within
  * the same quantum as an already-planned batch is METADATA-IDENTICAL
  * to its planned state — no (mtime, length) fingerprint can tell them
  * apart. Re-planning the boundary files in the next batch closes that
  * window: under sustained write load every same-quantum rewrite is
  * re-read as soon as any later change fires a batch. The cost is one
  * duplicate emission of the boundary files per offset advance,
  * absorbed by the LWW/idempotent sinks this source documents as its
  * composition contract. Detection limit, stated honestly: a rewrite in
  * the final quantum of a tree that then goes permanently quiet leaves
  * no metadata signal at all and is not re-read (no batch fires —
  * Spark only plans when the offset advances).
  */
final case class WspOffset(maxMtime: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"maxMtime":$maxMtime}"""
}

final class WspMicroBatchStream(scan: WspScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  override def initialOffset(): Offset = WspOffset(Long.MinValue)

  override def latestOffset(): Offset = WspOffset(scan.maxMtime())

  // Trigger.AvailableNow: pin the end offset ONCE at query start, then
  // serve it until the runner catches up — without this Spark falls back
  // to single-batch execution and warns it may miss data behind an
  // uncommitted batch after a restart
  private var availableNowEnd: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(latestOffset())
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    availableNowEnd.getOrElse(latestOffset())
  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    WspOffset((JsonMethods.parse(json) \ "maxMtime").extract[Long])
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[WspOffset].maxMtime
    val hi = end.asInstanceOf[WspOffset].maxMtime
    val changed = scan.listFilesWithMtime()
      .collect { case (f, m) if m >= lo && m <= hi => f }
    scan.packFiles(changed)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.streamingReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class WspReaderFactory(
    required: StructType,
    slots: WspSlots,
    conf: Broadcast[SerializableConfiguration],
    private[sources] val retries: Int = 0) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WspPartitionReader(
      partition.asInstanceOf[WspInputPartition], required, slots, conf.value.value, retries)

  // the scan is COLUMNAR: ring slots decode straight into column
  // vectors, so downstream whole-stage codegen consumes vectorized
  // batches instead of a row iterator — at a 100 TB scan this removes
  // the per-point virtual-call row path entirely. The row reader above
  // remains the contract fallback.
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new WspColumnarReader(
      partition.asInstanceOf[WspInputPartition], required, slots, conf.value.value, retries)
}

private[sources] object WspRead {
  /** Streaming-path default for transient-absence retries (~1 s of
    * 100 ms sleeps). */
  val StreamRetries = 10

  /** Read the full file image. With `retries > 0`, absorb the transient
    * windows a LIVE tree can expose between planning and read: on
    * schemes without an atomic replace ([[WspWrite]]'s delete+rename
    * fallback) a planned file can be momentarily absent, and a
    * checksummed read can race a sidecar swap — bounded retries, then
    * the real error (a file still missing after a second is genuinely
    * gone, and silently skipping it would be data loss). With
    * `retries == 0` — the batch-scan default — a missing file surfaces
    * immediately: a static tree has no transient window to absorb, and
    * a stall-then-fail would just tax every task of a failing scan.
    */
  def readWithRetry(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      len: Int,
      path: String,
      retries: Int): Array[Byte] = {
    var attempt = 0
    while (true) {
      try {
        val bytes = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        return bytes
      } catch {
        case e @ (_: java.io.FileNotFoundException |
                  _: org.apache.hadoop.fs.ChecksumException) =>
          attempt += 1
          if (attempt > retries) throw e
          Thread.sleep(100)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Per-file image read + decode of the chosen archives + pushed ts
    * filter — the shared front half of both the row and columnar
    * readers. Returns the file's metric name and its filtered point
    * iterator.
    */
  def openFile(
      file: (String, Long, String),
      slots: WspSlots,
      conf: org.apache.hadoop.conf.Configuration,
      retries: Int): (String, Iterator[WspPoint]) = {
    val (path, len, metric) = file
    // the format's u32 offsets bound a .wsp at 4 GB; a JVM byte array at
    // 2 GB — fail with the real reason rather than a negative-size error
    // (a >2 GB whisper file implies a >50-year 1s retention; unseen in
    // practice, but the failure mode should name itself)
    require(len <= Int.MaxValue, s"$path: $len bytes exceeds the 2 GB single-file limit")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val bytes = readWithRetry(fs, p, len.toInt, path, retries)
    (metric, WspCodec.decodePoints(bytes, path, slots.decodes)
      .filter(pt => pt.tsS >= slots.tsLo && pt.tsS <= slots.tsHi))
  }
}

/** Columnar twin of [[WspPartitionReader]]: fills `OnHeapColumnVector`
  * batches of up to [[WspColumnarReader.BatchRows]] rows. Batches may
  * span files (the metric bytes are cached per file and written per
  * row); every column is non-null by the format's construction.
  */
final class WspColumnarReader(
    partition: WspInputPartition,
    required: StructType,
    slots: WspSlots,
    conf: org.apache.hadoop.conf.Configuration,
    retries: Int = 0)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val files = partition.files.iterator
  private var points: Iterator[WspPoint] = Iterator.empty
  private var metricBytes: Array[Byte] = _

  private val vectors =
    OnHeapColumnVector.allocateColumns(WspColumnarReader.BatchRows, required)
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  private val fillers: Array[(Int, WspPoint) => Unit] =
    required.fields.zipWithIndex.map { case (f, i) =>
      f.name match {
        case "metric" => (row: Int, _: WspPoint) =>
          { vectors(i).putByteArray(row, metricBytes, 0, metricBytes.length); () }
        case "archive" => (row: Int, pt: WspPoint) => vectors(i).putInt(row, pt.archive)
        case "spp" => (row: Int, pt: WspPoint) => vectors(i).putInt(row, pt.spp)
        case "points" => (row: Int, pt: WspPoint) => vectors(i).putInt(row, pt.points)
        case "ts_s" => (row: Int, pt: WspPoint) => vectors(i).putLong(row, pt.tsS)
        case "value" => (row: Int, pt: WspPoint) => vectors(i).putDouble(row, pt.value)
        case other => throw new IllegalArgumentException(s"unknown wsp column $other")
      }
    }

  private def nextFile(): Boolean = {
    if (!files.hasNext) return false
    val (metric, pts) = WspRead.openFile(files.next(), slots, conf, retries)
    metricBytes = metric.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    points = pts
    true
  }

  override def next(): Boolean = {
    while (!points.hasNext) if (!nextFile()) return false
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    // drain across file boundaries until the batch is full
    while (n < WspColumnarReader.BatchRows &&
        (points.hasNext || nextFile())) {
      if (points.hasNext) {
        val pt = points.next()
        var c = 0
        while (c < fillers.length) { fillers(c)(n, pt); c += 1 }
        n += 1
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def close(): Unit = batch.close()
}

object WspColumnarReader {
  /** Rows per ColumnarBatch — the standard vectorized-reader batch size
    * (matches the parquet reader default). */
  val BatchRows = 4096
}

/** Decodes each file of the partition in turn. One file image is held at
  * a time — bounded by the file's retention config (whisper pre-allocates
  * the full ring; the format has no streaming-unfriendly surprises, the
  * image IS the ring).
  */
final class WspPartitionReader(
    partition: WspInputPartition,
    required: StructType,
    slots: WspSlots,
    conf: org.apache.hadoop.conf.Configuration,
    retries: Int = 0) extends PartitionReader[InternalRow] {

  private val files = partition.files.iterator
  private var points: Iterator[WspPoint] = Iterator.empty
  private var metricU8: UTF8String = _
  private var current: WspPoint = _

  // column extractors resolved once against the pruned schema; the hot
  // loop fills one reusable row (the DSv2 contract allows reuse — the
  // consumer copies when it retains), no per-row boxing of the getters
  private val getters: Array[WspPoint => Any] = required.fields.map { f =>
    f.name match {
      case "metric" => (_: WspPoint) => metricU8
      case "archive" => (p: WspPoint) => p.archive
      case "spp" => (p: WspPoint) => p.spp
      case "points" => (p: WspPoint) => p.points
      case "ts_s" => (p: WspPoint) => p.tsS
      case "value" => (p: WspPoint) => p.value
      case other => throw new IllegalArgumentException(s"unknown wsp column $other")
    }
  }
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(getters.length)

  private def nextFile(): Boolean = {
    if (!files.hasNext) return false
    val (metric, pts) = WspRead.openFile(files.next(), slots, conf, retries)
    metricU8 = UTF8String.fromString(metric)
    points = pts
    true
  }

  override def next(): Boolean = {
    while (!points.hasNext) if (!nextFile()) return false
    current = points.next()
    true
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < getters.length) { row.update(i, getters(i)(current)); i += 1 }
    row
  }

  override def close(): Unit = ()
}
