package graft.sources

import graft.model.{Retention, WhisperSchema}

/** One decoded on-disk point: which archive it came from, that archive's
  * geometry (resolution + ring size), the stored interval (epoch
  * seconds) and value. Carrying `points` per row lets tree-level
  * consumers ([[WspTools.fill]]/[[WspTools.resize]]) validate the FULL
  * ring geometry of every file they touch, not just its resolution — a
  * same-spp different-ring-size file is a different retention config.
  */
final case class WspPoint(archive: Int, spp: Int, points: Int, tsS: Long, value: Double)

/** Parsed `.wsp` header: the 16-byte metadata block plus one 12-byte
  * info record per archive.
  */
final case class WspArchiveInfo(offset: Int, secondsPerPoint: Int, numberOfPoints: Int) {
  def sizeBytes: Int = numberOfPoints * WspCodec.PointSize
  def retention: Retention = Retention(secondsPerPoint, numberOfPoints)
}
final case class WspHeader(
    aggregationType: Int,
    maxRetention: Long,
    xFilesFactor: Float,
    archives: Seq[WspArchiveInfo])

/** Byte-level codec for the whisper `.wsp` file format — the reference's
  * ONLY storage format (reference: whisper.go → `readHeader`,
  * `packInt`/`packFloat64`/`unpackArchiveInfo`/`unpackDataPoint`;
  * SURVEY.md §2.1 — format documented publicly by graphite-project
  * whisper and go-whisper's big-endian pack/unpack):
  *
  * {{{
  * metadata   : aggregationType u32 | maxRetention u32 | xFilesFactor f32 | archiveCount u32
  * per archive: offset u32 | secondsPerPoint u32 | numberOfPoints u32
  * data       : numberOfPoints × (interval u32 | value f64) per archive, at its offset
  * }}}
  *
  * All integers big-endian; an interval of 0 marks a never-written ring
  * slot. Ring placement (reference: whisper.go → `Update`'s
  * `myInterval`/`pointDistance` arithmetic): the first write to an
  * archive lands at slot 0 and defines `baseInterval`; a point with
  * aligned interval I lands at slot `floorMod((I − base) / spp, N)`.
  *
  * SURVEY.md §2.1 deliberately does NOT use this format for the engine's
  * own tables (Parquet replaces it wholesale); this codec exists so a
  * reference user's EXISTING `.wsp` trees are directly readable
  * ([[WspDataSource]]) and exportable ([[WspWrite]]) — the migration
  * path in both directions.
  */
object WspCodec {

  val MetadataSize = 16
  val ArchiveInfoSize = 12
  val PointSize = 12

  def headerSize(nArchives: Int): Int = MetadataSize + nArchives * ArchiveInfoSize

  /** Total file size for a schema — whisper pre-allocates the whole ring
    * region on create, so file size is a pure function of the retention
    * config, never of how many points were written. Computed in Long and
    * bounded: the format's u32 offsets allow 4 GB, a JVM byte array 2 GB
    * — name the limit instead of overflowing Int to a negative size.
    */
  def fileSize(schema: WhisperSchema): Int = {
    val total = headerSize(schema.retentions.size).toLong +
      schema.retentions.map(_.numberOfPoints.toLong * PointSize).sum
    require(total <= Int.MaxValue,
      s"schema ${schema.retentions} needs $total bytes, over the 2 GB single-file limit")
    total.toInt
  }

  /** Archive info records (with their absolute offsets) for a schema, in
    * the same finest→coarsest order whisper writes them.
    */
  def archiveInfos(schema: WhisperSchema): Seq[WspArchiveInfo] = {
    var off = headerSize(schema.retentions.size)
    schema.retentions.map { r =>
      val info = WspArchiveInfo(off, r.secondsPerPoint, r.numberOfPoints)
      off += info.sizeBytes
      info
    }
  }

  /** An empty (all slots unwritten) file for a schema — whisper `Create`'s
    * zero pre-allocation with the header packed at offset 0.
    */
  def emptyFile(schema: WhisperSchema): Array[Byte] = {
    // the header packs maxRetention as u32 — whisper's own format limit
    // (a ~136-year span); refuse schemas the format cannot represent
    require(schema.maxRetentionSeconds <= 0xFFFFFFFFL,
      s"maxRetention ${schema.maxRetentionSeconds}s overflows the .wsp u32 header field")
    val buf = java.nio.ByteBuffer.allocate(fileSize(schema))
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.putInt(schema.method.id)
    buf.putInt(schema.maxRetentionSeconds.toInt)
    buf.putFloat(schema.xFilesFactor.toFloat)
    buf.putInt(schema.retentions.size)
    archiveInfos(schema).foreach { a =>
      buf.putInt(a.offset); buf.putInt(a.secondsPerPoint); buf.putInt(a.numberOfPoints)
    }
    buf.array() // remainder stays zeroed = every slot unwritten
  }

  /** Write one aligned point into an archive's ring inside `file`.
    * `baseInterval` is the interval at slot 0 (the archive's first-ever
    * write); pass the point's own interval when the archive is empty.
    */
  def writeSlot(file: Array[Byte], info: WspArchiveInfo, baseInterval: Long,
      intervalS: Long, value: Double): Unit = {
    val slot = java.lang.Math.floorMod(
      (intervalS - baseInterval) / info.secondsPerPoint, info.numberOfPoints.toLong).toInt
    val buf = java.nio.ByteBuffer.wrap(file).order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.position(info.offset + slot * PointSize)
    buf.putInt(intervalS.toInt)
    buf.putDouble(value)
    ()
  }

  /** The archive's established base interval: slot 0's stored interval,
    * or 0 when the archive has never been written. Whisper pins the base
    * at the archive's FIRST write and never moves it.
    */
  def archiveBase(file: Array[Byte], info: WspArchiveInfo): Long =
    java.nio.ByteBuffer.wrap(file).order(java.nio.ByteOrder.BIG_ENDIAN)
      .getInt(info.offset).toLong & 0xFFFFFFFFL

  /** Fill an archive's ring from an aligned, LWW-deduped point batch.
    * Points are applied in time order, so on a slot collision (ring lap)
    * the latest interval wins — whisper's overwrite semantics. Base
    * interval = the archive's established base when it already holds
    * data (merge into an existing file), else the earliest interval in
    * the batch (the "first write" pins slot 0).
    */
  def writeArchive(file: Array[Byte], info: WspArchiveInfo,
      points: Seq[(Long, Double)]): Unit =
    if (points.nonEmpty) {
      val sorted = points.sortBy(_._1)
      val existing = archiveBase(file, info)
      val base = if (existing != 0L) existing else sorted.head._1
      sorted.foreach { case (i, v) => writeSlot(file, info, base, i, v) }
    }

  /** The archive count field alone, from (at least) the 16-byte metadata
    * block — callers that stream the header in two reads use it to size
    * the second read to exactly `headerSize(count)` instead of guessing
    * a maximum archive count.
    */
  def archiveCount(meta: Array[Byte], name: String = "<wsp>"): Int = {
    require(meta.length >= MetadataSize, s"$name: truncated header, ${meta.length} bytes")
    val n = java.nio.ByteBuffer.wrap(meta).order(java.nio.ByteOrder.BIG_ENDIAN)
      .getInt(MetadataSize - 4)
    // Long math mirrors readHeader: a corrupt count near 2^28 would
    // overflow headerSize(n) in Int
    require(n >= 0 && MetadataSize.toLong + n.toLong * ArchiveInfoSize <= Int.MaxValue,
      s"$name: corrupt archive count $n")
    n
  }

  /** `totalLen` (when ≥ 0) is the on-disk file length, for callers that
    * read only the header region — the ring-fit validation must check
    * rings against the FILE, not the header buffer. */
  def readHeader(file: Array[Byte], name: String = "<wsp>",
      totalLen: Long = -1L): WspHeader = {
    val fileLen = if (totalLen >= 0) totalLen else file.length.toLong
    require(file.length >= MetadataSize, s"$name: truncated header, ${file.length} bytes")
    val buf = java.nio.ByteBuffer.wrap(file).order(java.nio.ByteOrder.BIG_ENDIAN)
    val aggType = buf.getInt()
    val maxRet = buf.getInt().toLong & 0xFFFFFFFFL
    val xff = buf.getFloat()
    val n = buf.getInt()
    // Long math: a corrupt archiveCount near 2^28 would overflow
    // headerSize(n) in Int and slip past a naive check
    require(n >= 0 &&
        MetadataSize.toLong + n.toLong * ArchiveInfoSize <= file.length,
      s"$name: corrupt archive table, $n archives in ${file.length} bytes")
    val archives = (0 until n).map { _ =>
      WspArchiveInfo(buf.getInt(), buf.getInt(), buf.getInt())
    }
    // every ring must lie inside the file — a truncated or corrupt file
    // fails HERE with its name, not mid-decode with a raw buffer error
    archives.foreach { a =>
      require(a.offset >= headerSize(n) && a.numberOfPoints > 0 &&
          a.offset.toLong + a.numberOfPoints.toLong * PointSize <= fileLen,
        s"$name: archive $a does not fit in $fileLen bytes")
    }
    WspHeader(aggType, maxRet, xff, archives)
  }

  /** Every stored point in the file: non-zero-interval ring slots across
    * all archives (interval 0 = never written — whisper cannot store a
    * real point at epoch 0 by construction). Raw dump semantics: emits
    * what the ring holds; query-time range filters play the role of the
    * reference's expected-interval staleness check (F2), which is only
    * defined relative to a requested range. `decodes(archive, spp)`
    * chooses the archives to decode; the other rings are skipped.
    */
  def decodePoints(file: Array[Byte], name: String = "<wsp>",
      decodes: (Int, Int) => Boolean = (_, _) => true): Iterator[WspPoint] = {
    val header = readHeader(file, name)
    header.archives.iterator.zipWithIndex.filter { case (a, idx) =>
      decodes(idx, a.secondsPerPoint)
    }.flatMap { case (a, idx) =>
      val buf = java.nio.ByteBuffer.wrap(file).order(java.nio.ByteOrder.BIG_ENDIAN)
      buf.position(a.offset)
      (0 until a.numberOfPoints).iterator.flatMap { _ =>
        val interval = buf.getInt().toLong & 0xFFFFFFFFL
        val value = buf.getDouble()
        if (interval != 0L)
          Some(WspPoint(idx, a.secondsPerPoint, a.numberOfPoints, interval, value))
        else None
      }
    }
  }
}
