package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal column handling (SURVEY.md §2 m-rows): media payloads are
  * opaque `binary` columns with typed metadata travelling alongside.
  *
  * The decode boundary carries REAL parsers — PNG/JPEG/GIF raster
  * dimensions via `javax.imageio`, WAV channel/duration via a RIFF
  * chunk walk, and MP4/ISO-BMFF video dimensions+duration via a box
  * walk (`mvhd`/`tkhd`, see [[mp4Info]]) — all JDK-builtin, proving
  * the mapPartitions plumbing takes actual format libraries. GIF
  * animation frames (ImageIO) and WAV PCM sample windows
  * (`javax.sound.sampled`) decode for REAL in m03; only MP4 FRAME
  * decode stays STUBBED (its codecs aren't in this container) behind
  * the same boundary with a deterministic fake, so pipelines
  * downstream of decode are testable. At scale the binary column stays columnar in
  * parquet and the decode is a mapPartitions over arrow-sized batches;
  * nothing here ever collects to the driver.
  */
object Multimodal {
  /** Typed result of the (stubbed) decoder. */
  final case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Long,
      width: Int, height: Int, channels: Int, duration_ms: Long)

  /** Documents with a synthesized binary payload column (the test corpus
    * has no real media; UTF-8 bytes stand in as the opaque payload). */
  def withPayload(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("payload", encode($"text", "UTF-8"))
      .withColumn("media_type",
        when($"doc_id" % 3 === 0, "image")
          .when($"doc_id" % 3 === 1, "audio")
          .otherwise("video"))
  }

  /** PNG magic: 0x89 'P' 'N' 'G'. */
  private[graft] def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'

  /** JPEG magic: FF D8 FF. */
  private[graft] def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff

  /** GIF magic: "GIF8" (87a/89a). */
  private[graft] def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  /** Any magic ImageIO's JDK-builtin readers decode (PNG/JPEG/GIF). */
  private[graft] def isImage(b: Array[Byte]): Boolean =
    isPng(b) || isJpeg(b) || isGif(b)

  /** RIFF/WAVE magic (offsets 0 and 8). */
  private[graft] def isWav(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** ISO-BMFF magic: 'ftyp' at offset 4. */
  private[graft] def isMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  /** The shared polynomial byte fold — ONE definition for the stub, the
    * encoded-sample and the PCM fingerprints (the DuckDB oracle's parity
    * depends on this exact fold order and modulus). */
  private def foldBytes(b: Array[Byte], off: Int, len: Int): Long = {
    val P = graft.functions.TextFunctions.HashP
    var acc = 0L
    var j = 0
    while (j < len) { acc = (acc * 31 + (b(off + j) & 0xff)) % P; j += 1 }
    acc
  }

  /** The shared RGB raster fold (GIF frames + MJPEG-in-MP4 samples):
    * R,G,B bytes in raster order through the same polynomial. */
  private def foldRgb(img: java.awt.image.BufferedImage): Long = {
    val P = graft.functions.TextFunctions.HashP
    var acc = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        acc = (acc * 31 + ((rgb >> 16) & 0xff)) % P
        acc = (acc * 31 + ((rgb >> 8) & 0xff)) % P
        acc = (acc * 31 + (rgb & 0xff)) % P
        x += 1
      }
      y += 1
    }
    acc
  }

  /** Pixel-count ceiling for any raster decode: a crafted header
    * declaring a huge canvas would otherwise make ImageIO allocate a
    * multi-GB raster — an OutOfMemoryError, which is an Error, not an
    * Exception, so the Try-based totality contract cannot absorb it. */
  private[graft] val MaxDecodePixels: Long = 16L * 1024 * 1024 // 4096 × 4096

  /** Decode an in-memory image with (a) a MEMORY-backed input — ImageIO's
    * default path wraps even a ByteArrayInputStream in a disk temp-file
    * cache per record — and (b) the [[MaxDecodePixels]] bound checked from
    * the HEADER before any raster allocation. None for unreadable or
    * oversized payloads (they fall to the caller's stub branch). */
  private[graft] def boundedImageRead(b: Array[Byte], off: Int, len: Int)
      : Option[java.awt.image.BufferedImage] = scala.util.Try {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b, off, len))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val px = r.getWidth(0).toLong * r.getHeight(0).toLong
          if (px <= 0 || px > MaxDecodePixels) None else Option(r.read(0))
        } finally r.dispose()
      }
    } finally iis.close()
  }.toOption.flatten

  /** Minimal REAL WAV header parse — RIFF/WAVE magic, then the chunk walk
    * ([id:4][size:4 LE][data]) for `fmt ` (channels, byte rate) and `data`
    * (payload length). Returns (channels, duration_ms); None for anything
    * that is not a well-formed PCM WAV, so corrupt/truncated payloads fall
    * to the stub instead of failing the task. Walking chunks (not assuming
    * the canonical 44-byte layout) handles real-world files with LIST/fact
    * chunks between fmt and data. */
  private[graft] def wavInfo(b: Array[Byte]): Option[(Int, Long)] = {
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    // off is Long: a lying 32-bit chunk size near Int.MaxValue must push
    // the cursor past b.length and END the walk, not overflow an Int back
    // into range (which would read garbage or throw out of the loop).
    var off = 12L
    var channels = -1
    var byteRate = -1L
    var dataLen = -1L
    while (off + 8 <= b.length && (channels < 0 || dataLen < 0)) {
      val o = off.toInt
      val id = tag(o)
      val size = u32(o + 4) // unsigned, 0..2^32-1 — validate BEFORE advancing
      if (size < 0 || size > Int.MaxValue - 8) return None
      // fmt must DECLARE >=16 bytes (PCM minimum); an undersized fmt chunk
      // would otherwise read channels/byteRate from the next chunk's bytes.
      if (id == "fmt " && size >= 16 && off + 16 + 8 <= b.length) {
        channels = u16(o + 8 + 2)
        byteRate = u32(o + 8 + 8)
      } else if (id == "data") {
        // size may exceed what's actually present in a truncated payload
        dataLen = math.min(size, b.length - off - 8)
      }
      off += 8L + size + (size & 1L) // chunks are word-aligned
    }
    if (channels > 0 && byteRate > 0 && dataLen >= 0)
      Some((channels, dataLen * 1000L / byteRate))
    else None
  }

  /** Minimal REAL MP4 (ISO base media file format) metadata parse — a
    * recursive box walk (`[size:4 BE][type:4][payload]`; size 1 → 64-bit
    * largesize, size 0 → to-end-of-enclosing) through `moov` for:
    *
    *  - `mvhd` — movie timescale + duration → duration_ms (v0 and v1
    *    layouts both handled; v1 widens the three time fields to 64 bits);
    *  - `trak`/`tkhd` — presentation width/height as 16.16 fixed-point
    *    (the video track carries non-zero dims, audio tracks zero; the
    *    max across tracks is the raster).
    *
    * Returns (width, height, duration_ms); None for anything that is not
    * a well-formed BMFF file (bad magic, lying box sizes, missing mvhd),
    * so corrupt/truncated payloads fall to the stub instead of failing
    * the task — the same totality contract as [[wavInfo]]. This is a
    * CONTAINER parse, not a codec: sample data in `mdat` is never touched
    * (decoding it is m03's declared stub — it needs real codec libs). */
  private[graft] def mp4Info(b: Array[Byte]): Option[(Int, Int, Long)] = {
    def u32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
    if (b.length < 12 || tag(4) != "ftyp") return None
    var durationMs = -1L
    var w = 0
    var h = 0
    // Walk the sibling boxes in [start, end); recurse into moov/trak only
    // (depth guards against crafted self-nesting). False = malformed.
    def walk(start: Long, end: Long, depth: Int): Boolean = {
      var off = start
      while (off + 8 <= end) {
        val o = off.toInt
        val size0 = u32(o)
        var hdr = 8L
        val size =
          if (size0 == 1L && off + 16 <= end) { hdr = 16L; u64(o + 8) }
          else if (size0 == 0L) end - off
          else size0
        if (size < hdr || off + size > end) return false
        val id = tag(o + 4)
        val body = (off + hdr).toInt
        val boxEnd = off + size
        id match {
          case "moov" if depth == 0 =>
            if (!walk(body, boxEnd, 1)) return false
          case "trak" if depth == 1 =>
            if (!walk(body, boxEnd, 2)) return false
          case "mvhd" if depth == 1 && body + 1 <= boxEnd =>
            val v = b(body) & 0xff
            if (v == 1 && body + 32 <= boxEnd) {
              // v1: vflags 4 + creation 8 + modification 8 -> ts@+20, dur 8
              val ts = u32(body + 20)
              if (ts > 0) durationMs = u64(body + 24) * 1000L / ts
            } else if (v == 0 && body + 20 <= boxEnd) {
              // v0: vflags 4 + creation 4 + modification 4 -> ts@+12, dur 4
              val ts = u32(body + 12)
              if (ts > 0) durationMs = u32(body + 16) * 1000L / ts
            }
          case "tkhd" if depth == 2 && body + 1 <= boxEnd =>
            val v = b(body) & 0xff
            // after vflags: times/track_ID/reserved/duration = 32 (v1) or
            // 20 (v0) bytes, then reserved 8 + layer block 8 + matrix 36,
            // then width/height as 16.16 fixed-point
            val whOff = body + 4 + (if (v == 1) 32 else 20) + 52
            if (whOff + 8 <= boxEnd) {
              w = math.max(w, (u32(whOff) >> 16).toInt)
              h = math.max(h, (u32(whOff + 4) >> 16).toInt)
            }
          case _ => () // ftyp/mdat/free/udta/...: skip without reading
        }
        off = boxEnd
      }
      true
    }
    if (walk(0, b.length.toLong, 0) && durationMs >= 0) Some((w, h, durationMs))
    else None
  }

  /** Decoder at the mapPartitions boundary. The image branch is REAL —
    * it decodes PNG/JPEG/GIF width/height/channels with `javax.imageio`
    * (ships with the JDK, so this container can prove the boundary
    * carries an actual codec library); WAV and MP4 payloads parse real
    * header metadata ([[wavInfo]], [[mp4Info]]); everything else keeps
    * the deterministic stub (`???` in a real deployment: those codecs
    * are not installed here). Either way the per-record work is bounded
    * and nothing collects to the driver — swapping a stub branch for a
    * codec call changes no plumbing. */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] =
    decodeFeaturesFrom(withPayload(spark, dir))

  /** [[decodeFeatures]] over any (doc_id, media_type, payload) frame
    * (real-PNG fixtures in tests). */
  def decodeFeaturesFrom(df: DataFrame): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select($"doc_id", $"media_type", $"payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, mt, payload) =>
          val len = payload.length.toLong
          // Exception-guarded, not just null-guarded: a truncated/corrupt
          // payload that passes the magic check makes ImageIO THROW
          // (IIOException), and one bad record must not fail the job —
          // the decode boundary stays total, falling back to the stub.
          val img =
            if (isImage(payload)) boundedImageRead(payload, 0, payload.length)
            else None
          img match {
            case Some(i) =>
              MediaFeatures(id, mt, len, i.getWidth, i.getHeight,
                i.getColorModel.getNumComponents, duration_ms = 0L)
            // Same Try guard as the ImageIO branch: the parsers are
            // defensive, but the totality contract ("one corrupt record
            // never fails the job") must hold even against a byte layout
            // the bounds checks missed — belt and braces at the boundary.
            case None => scala.util.Try(wavInfo(payload)).toOption.flatten match {
              case Some((channels, durMs)) =>
                // real audio: no raster, duration from the RIFF header
                MediaFeatures(id, mt, len, width = 0, height = 0,
                  channels = channels, duration_ms = durMs)
              case None => scala.util.Try(mp4Info(payload)).toOption.flatten match {
                case Some((w, h, durMs)) =>
                  // real video CONTAINER metadata (tkhd dims, mvhd
                  // duration); channels=0: sample decode is m03's stub
                  MediaFeatures(id, mt, len, width = w, height = h,
                    channels = 0, duration_ms = durMs)
                case None =>
                  // ??? <- real FRAME decode goes here (needs codec libs
                  // not in this container); deterministic fake instead:
                  MediaFeatures(id, mt, len,
                    width = (len % 640).toInt + 1,
                    height = ((len * 7) % 480).toInt + 1,
                    channels = 3,
                    duration_ms = len * 40)
              }
            }
          }
        }
      }
  }

  /** m01: relational metadata extraction over the binary column — length,
    * leading magic bytes (hex), media type and the stubbed decode's
    * deterministic dimensions. SQL-expressible end to end, so oracle-checked. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPayload(spark, dir)
      .select($"doc_id", $"media_type",
        octet_length($"payload").cast("long").as("byte_len"),
        upper(substring(hex($"payload"), 1, 8)).as("magic_hex"),
        ((octet_length($"payload") % 640) + 1).as("width"),
        (((octet_length($"payload").cast("long") * 7) % 480) + 1).cast("int").as("height"),
        lit(3).as("channels"),
        (octet_length($"payload").cast("long") * 40).as("duration_ms"))
      .orderBy($"doc_id")
  }

  /** Typed result of the codec-free payload analyzer. */
  final case class PayloadStats(doc_id: Long, media_type: String, n_bytes: Long,
      n_distinct_bytes: Int, collision_mass: Long, n_printable: Long,
      min_byte: Int, max_byte: Int)

  // ---------------------------------------------------------------- m02
  /** m02: REAL (not stubbed) feature extraction over the opaque payload —
    * the byte-level statistics every media-ingest pipeline computes before
    * any codec runs: size, byte-alphabet size, collision mass (Σ count²,
    * the integer-exact analogue of entropy — high for repetitive/padded
    * payloads, low for compressed/encrypted ones), printable-byte count
    * and byte range. Runs at the same mapPartitions decode boundary the
    * codec would, over the raw bytes, with a fixed 256-slot histogram per
    * record — bounded memory, no driver collection, codec-free.
    *
    * The oracle reproduces the identical integers from the text column
    * (the corpus is ASCII, so UTF-8 bytes == char codes); integer-only
    * features keep the comparison exact on both engines. */
  def payloadFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPayload(spark, dir)
      .filter(octet_length($"payload") > 0)
      .select($"doc_id", $"media_type", $"payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        val hist = new Array[Long](256) // reused per record, zeroed below
        batch.map { case (id, mt, payload) =>
          java.util.Arrays.fill(hist, 0L)
          var i = 0
          while (i < payload.length) {
            hist(payload(i) & 0xff) += 1
            i += 1
          }
          var distinct = 0
          var mass = 0L
          var printable = 0L
          var mn = 256
          var mx = -1
          var b = 0
          while (b < 256) {
            val c = hist(b)
            if (c > 0) {
              distinct += 1
              mass += c * c
              if (b >= 32 && b <= 126) printable += c
              if (b < mn) mn = b
              if (b > mx) mx = b
            }
            b += 1
          }
          PayloadStats(id, mt, payload.length.toLong, distinct, mass, printable, mn, mx)
        }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  val payloadFeaturesSql: String =
    """WITH ch AS (
      |  SELECT doc_id,
      |    unnest(list_transform(regexp_extract_all(text, '[\s\S]'), c -> ascii(c))) AS b
      |  FROM documents WHERE length(text) > 0),
      |cnt AS (SELECT doc_id, b, count(*) AS c FROM ch GROUP BY 1, 2)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS media_type,
      |  CAST(sum(c) AS BIGINT) AS n_bytes,
      |  CAST(count(*) AS INTEGER) AS n_distinct_bytes,
      |  CAST(sum(c * c) AS BIGINT) AS collision_mass,
      |  CAST(sum(CASE WHEN b BETWEEN 32 AND 126 THEN c ELSE 0 END) AS BIGINT) AS n_printable,
      |  CAST(min(b) AS INTEGER) AS min_byte,
      |  CAST(max(b) AS INTEGER) AS max_byte
      |FROM cnt GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m03
  /** Bytes per sampled "frame" and the per-document frame cap. */
  val FrameBytes = 64
  val MaxFrames = 8

  /** One sampled frame: the decode boundary's one-to-many output row. */
  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_ts_ms: Long,
      frame_len: Int, frame_fp: Long)

  /** m03: frame sampling at the decode boundary — the one-to-many shape
    * (media in, bounded frame batch out) a real media pipeline needs.
    *
    * THREE branches are REAL: ImageIO's JDK-builtin GIF reader decodes
    * animation frames ([[gifFrameSamples]]), `javax.sound.sampled`
    * decodes WAV PCM sample windows ([[wavFrameSamples]]), and the MP4
    * sample-table walk extracts the container's actual encoded frame
    * bytes ([[mp4FrameSamples]]) — [[MaxFrames]] evenly spaced frames
    * each, every fingerprint folding the frame's ACTUAL bytes (decoded
    * pixels for GIF rasters and MJPEG-in-MP4 samples, decoded PCM for
    * WAV, encoded sample bytes for JDK-less video codecs) — proving the
    * one-to-many decode boundary carries real format machinery with zero
    * new dependencies. Only NON-JPEG MP4 sample decode (H.264-class)
    * remains the declared stub (its codecs are not in this container);
    * payloads none of the three branches accept take evenly spaced
    * [[FrameBytes]]-wide payload slices folded with the same polynomial
    * hash, deterministic and oracle-checkable. Memory per task stays
    * bounded by frames-per-record × frame size, never the whole partition;
    * the payload column itself is never shuffled — only the small frame
    * rows are. */
  def frameSamples(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPayload(spark, dir)
      .filter($"media_type".isin("audio", "video") && octet_length($"payload") > 0)
      .select($"doc_id", $"payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, payload) =>
          // magic-gated dispatch: probing every payload through
          // AudioSystem/the box walk would throw-and-catch two filled-in
          // exceptions PER RECORD on the (overwhelmingly non-media) hot
          // path — the cheap byte checks make the miss case free
          val real =
            if (isGif(payload)) gifFrameSamples(id, payload)
            else if (isWav(payload)) wavFrameSamples(id, payload)
            else if (isMp4(payload)) mp4FrameSamples(id, payload)
            else None
          real.getOrElse {
            // ??? <- non-JPEG sample DECODE goes here (H.264-class codec
            // libs are not in this container; MJPEG samples already
            // decode to real pixels in mp4FrameSamples); anything that is
            // not a GIF / PCM WAV / table-complete MP4 takes the
            // deterministic fake:
            val len = payload.length.toLong
            val nf = math.min(MaxFrames.toLong, math.max(1L, len / FrameBytes)).toInt
            (0 until nf).map { i =>
              val off = i.toLong * len / nf // floor division (positive)
              val flen = math.min(FrameBytes.toLong, len - off).toInt
              FrameSample(id, i, off * 40, flen,
                foldBytes(payload, off.toInt, flen))
            }
          }.iterator
        }
      }
      .toDF()
      .orderBy($"doc_id", $"frame_idx")
  }

  /** REAL multi-frame GIF decode (JDK ImageIO): read the animation's frame
    * count, keep [[MaxFrames]] evenly spaced frames, and fingerprint each
    * decoded raster by folding its R,G,B bytes in raster order with the
    * shared polynomial hash. frame_ts_ms uses the sampled frame's ordinal
    * at the GIF-default 40 ms cadence (per-frame delays live in metadata
    * the fingerprint contract doesn't need); frame_len is the decoded
    * raster's RGB byte count. None on anything the reader rejects —
    * corrupt payloads (or text that happens to start with "GIF8") fall to
    * the stub, the boundary's totality contract. */
  private[graft] def gifFrameSamples(id: Long,
      payload: Array[Byte]): Option[Seq[FrameSample]] = scala.util.Try {
    // memory-backed input stream, explicitly CLOSED: the default
    // createImageInputStream(ByteArrayInputStream) returns a disk
    // temp-file-backed stream that reader.dispose() does NOT close — a
    // leaked fd + temp file per GIF record on a long-lived executor
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        require(n > 0)
        val nf = math.min(MaxFrames, n)
        (0 until nf).map { i =>
          val srcFrame = i * n / nf // evenly spaced over the animation
          // header-level pixel bound BEFORE the raster allocation (the
          // decompression-bomb guard — see boundedImageRead)
          require(reader.getWidth(srcFrame).toLong *
            reader.getHeight(srcFrame).toLong <= MaxDecodePixels)
          val img = reader.read(srcFrame)
          FrameSample(id, i, srcFrame.toLong * 40,
            img.getWidth * img.getHeight * 3, foldRgb(img))
        }
      } finally reader.dispose()
    } finally iis.close()
  }.toOption

  /** REAL MP4 sample extraction at the CONTAINER level: walk the sample
    * tables (`stbl`: stts durations, stsz sizes, stsc sample→chunk runs,
    * stco/co64 chunk offsets, mdhd timescale) of the first track carrying
    * a complete table set, and reconstruct every sample's (file offset,
    * size, decode timestamp). This is exactly what a real media pipeline
    * extracts before handing encoded frames to a codec — the bytes ARE the
    * frames, still compressed. Returns None unless every table is present,
    * consistent, and every sample lies inside the payload (truncated or
    * lying containers fall to the stub — the boundary's totality
    * contract). */
  private[graft] def mp4SampleTable(b: Array[Byte]): Option[(Long, Vector[(Long, Int, Long)])] = scala.util.Try {
    def u32(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
    require(b.length >= 12 && tag(4) == "ftyp")
    /** Children of [start, end) as (type, bodyStart, bodyEnd). */
    def children(start: Long, end: Long): Vector[(String, Long, Long)] = {
      val out = Vector.newBuilder[(String, Long, Long)]
      var off = start
      while (off + 8 <= end) {
        val o = off.toInt
        val size0 = u32(o)
        var hdr = 8L
        val size =
          if (size0 == 1L && off + 16 <= end) { hdr = 16L; u64(o + 8) }
          else if (size0 == 0L) end - off
          else size0
        require(size >= hdr && off + size <= end)
        out += ((tag(o + 4), off + hdr, off + size))
        off += size
      }
      out.result()
    }
    def child(cs: Vector[(String, Long, Long)], t: String): Option[(Long, Long)] =
      cs.collectFirst { case (`t`, s, e) => (s, e) }
    val top = children(0L, b.length.toLong)
    val (moovS, moovE) = child(top, "moov").get
    // first trak whose mdia/minf/stbl carries the full table set
    val tracks = children(moovS, moovE).collect { case ("trak", s, e) => (s, e) }
    tracks.iterator.flatMap { case (ts, te) =>
      scala.util.Try {
        val mdia = child(children(ts, te), "mdia").get
        val mdiaCs = children(mdia._1, mdia._2)
        val (mdhdS, mdhdE) = child(mdiaCs, "mdhd").get
        val mo = mdhdS.toInt
        val v = b(mo) & 0xff
        require((if (v == 1) mdhdS + 24 else mdhdS + 16) <= mdhdE)
        val timescale = if (v == 1) u32(mo + 20) else u32(mo + 12)
        require(timescale > 0)
        val minf = child(mdiaCs, "minf").get
        val stbl = child(children(minf._1, minf._2), "stbl").get
        val cs = children(stbl._1, stbl._2)
        def full(t: String): (Int, Long) = { // (bodyStart AFTER vflags, bodyEnd)
          val (s, e) = child(cs, t).get
          (s.toInt + 4, e)
        }
        // stsz: uniform size or per-sample table
        val (szO, szE) = full("stsz")
        val uniform = u32(szO)
        val nSamples = u32(szO + 4).toInt
        require(nSamples > 0 && nSamples <= 1000000)
        val sizes: Int => Long =
          if (uniform != 0) _ => uniform
          else { require(szO + 8 + 4L * nSamples <= szE); i => u32(szO + 8 + 4 * i) }
        // stts: cumulative decode timestamps
        val (stO, stE) = full("stts")
        val nStts = u32(stO).toInt
        require(stO + 4 + 8L * nStts <= stE)
        val dts = new Array[Long](nSamples)
        var si = 0; var t0 = 0L
        (0 until nStts).foreach { e =>
          // clamp to the samples actually remaining: a lying sample_count
          // (~2^31) must not spin billions of guard-only iterations before
          // the totality contract hands the record to the stub
          val cnt = math.min(u32(stO + 4 + 8 * e), (nSamples - si).toLong).toInt
          val delta = u32(stO + 8 + 8 * e)
          (0 until cnt).foreach { _ => dts(si) = t0; t0 += delta; si += 1 }
        }
        require(si == nSamples)
        // stco/co64: chunk offsets
        val (useCo64, (coO, coE)) = child(cs, "stco") match {
          case Some((s, e)) => (false, (s.toInt + 4, e))
          case None => val (s, e) = full("co64"); (true, (s, e))
        }
        val nChunks = u32(coO).toInt
        require(nChunks > 0 &&
          coO + 4 + (if (useCo64) 8L else 4L) * nChunks <= coE)
        def chunkOff(i: Int): Long =
          if (useCo64) u64(coO + 4 + 8 * i) else u32(coO + 4 + 4 * i)
        // stsc: samples-per-chunk runs (first_chunk is 1-based)
        val (scO, scE) = full("stsc")
        val nStsc = u32(scO).toInt
        require(nStsc > 0 && scO + 4 + 12L * nStsc <= scE)
        def stscRun(e: Int): (Long, Long) = (u32(scO + 4 + 12 * e), u32(scO + 8 + 12 * e))
        // run-structure validation (ISO 14496-12 §8.7.4): the first run
        // covers chunk 1 and first_chunk is strictly increasing — a
        // malformed table must fall to the stub, not be silently walked
        // with run 0's samples_per_chunk into plausible-but-wrong offsets
        require(stscRun(0)._1 == 1L)
        (1 until nStsc).foreach { e =>
          require(stscRun(e)._1 > stscRun(e - 1)._1)
        }
        val out = Vector.newBuilder[(Long, Int, Long)]
        var s = 0; var run = 0
        (0 until nChunks).foreach { c =>
          while (run + 1 < nStsc && stscRun(run + 1)._1 <= c + 1) run += 1
          var off = chunkOff(c)
          // same clamp as stts: a lying samples_per_chunk must not spin
          val spc = math.min(stscRun(run)._2, (nSamples - s).toLong).toInt
          (0 until spc).foreach { _ =>
            val sz = sizes(s)
            // overflow-safe bound: a co64 offset with the high bit set
            // (negative Long) or a huge positive one would make the naive
            // `off + sz <= length` wrap and PASS, emitting a table whose
            // samples lie outside the payload
            require(off >= 0 && sz > 0 && sz <= Int.MaxValue &&
              off <= b.length - sz)
            out += ((off, sz.toInt, dts(s)))
            off += sz; s += 1
          }
        }
        require(s == nSamples)
        (timescale, out.result())
      }.toOption
    }.nextOption().get
  }.toOption

  /** m03's MP4 branch: REAL encoded-frame extraction via [[mp4SampleTable]]
    * — [[MaxFrames]] evenly spaced samples pulled out of `mdat`,
    * timestamps from the media timescale — then REAL pixel decode where
    * the codec ships with the JDK: a sample that is itself a JPEG
    * (MJPEG-in-MP4, the classic capture-pipeline codec) decodes through
    * `javax.imageio` and the fingerprint folds the DECODED raster in RGB
    * order, exactly like the GIF branch. Samples in codecs the JDK lacks
    * (H.264/H.265/AV1 — the narrowed remaining stub) keep the encoded
    * sample bytes as the fingerprint input; either way the bytes handed
    * on are exactly what a production pipeline feeds its codec. */
  private[graft] def mp4FrameSamples(id: Long,
      payload: Array[Byte]): Option[Seq[FrameSample]] = scala.util.Try {
    val (timescale, samples) = mp4SampleTable(payload).get
    val n = samples.length
    val nf = math.min(MaxFrames, n)
    (0 until nf).map { i =>
      val (off, sz, dts) = samples(i * n / nf)
      val tsMs = dts * 1000L / timescale
      val jpeg =
        if (sz >= 2 && (payload(off.toInt) & 0xff) == 0xff &&
            (payload(off.toInt + 1) & 0xff) == 0xd8)
          boundedImageRead(payload, off.toInt, sz)
        else None
      jpeg match {
        case Some(img) =>
          FrameSample(id, i, tsMs, img.getWidth * img.getHeight * 3, foldRgb(img))
        case None =>
          FrameSample(id, i, tsMs, sz, foldBytes(payload, off.toInt, sz))
      }
    }
  }.toOption

  /** REAL WAV PCM frame decode (`javax.sound.sampled`, JDK-builtin — no
    * external codec): parse the stream through AudioSystem, read the
    * decoded PCM, and emit [[MaxFrames]] evenly spaced [[FrameBytes]]-wide
    * sample windows, each ALIGNED DOWN to the format's frame size so a
    * window never starts mid-sample (the audio-correct cut the raw-byte
    * stub can't make). frame_ts_ms derives from the window's position in
    * sample frames at the stream's frame rate; frame_fp folds the decoded
    * PCM bytes with the shared polynomial hash. None for anything
    * AudioSystem rejects or non-PCM encodings — corrupt payloads (or text
    * bytes) fall to the stub, the boundary's totality contract. */
  private[graft] def wavFrameSamples(id: Long,
      payload: Array[Byte]): Option[Seq[FrameSample]] = scala.util.Try {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED ||
        fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED)
      require(fmt.getFrameSize > 0 && fmt.getFrameRate > 0)
      val frameSize = fmt.getFrameSize
      // the skip-forward reader below needs non-decreasing window starts;
      // alignment jitter is < frameSize, so this holds whenever a sample
      // frame fits in a window (any format beyond 16 channels × 32 bit
      // falls to the stub — a non-loss at the fingerprint boundary)
      require(frameSize <= FrameBytes)
      // Stream the 8 windows via skip()/readNBytes instead of
      // readAllBytes: materializing a multi-GB decoded PCM array to
      // fingerprint ≤ MaxFrames × FrameBytes bytes would double
      // per-record memory and break the "bounded by frames × frame size"
      // promise. Length comes from the header's frame count; a lying
      // header (declared > actual bytes) fails the short-read check and
      // falls to the stub.
      val frames = in.getFrameLength
      require(frames > 0 && frames <= Long.MaxValue / frameSize)
      val len = frames * frameSize
      val nf = math.min(MaxFrames.toLong, math.max(1L, len / FrameBytes)).toInt
      var pos = 0L
      (0 until nf).map { i =>
        val raw = i.toLong * len / nf
        val off = raw - raw % frameSize // align to a sample-frame boundary
        val flen = math.min(FrameBytes.toLong, len - off).toInt
        var toSkip = off - pos
        while (toSkip > 0) {
          val sk = in.skip(toSkip)
          require(sk > 0)
          toSkip -= sk
        }
        val buf = in.readNBytes(flen)
        require(buf.length == flen)
        pos = off + flen
        FrameSample(id, i, ((off / frameSize) * 1000.0 / fmt.getFrameRate).toLong,
          flen, foldBytes(buf, 0, flen))
      }
    } finally in.close()
  }.toOption

  /** The corpus is ASCII, so text chars == payload bytes: the oracle
    * samples the same slices with substr and folds the same hash. (Corpus
    * payloads are synthesized text — never real GIF/WAV — so every row
    * takes the stub branch; the real decode branches are spec-exercised
    * with fixture payloads.) */
  val frameSamplesSql: String = {
    import graft.functions.{TextSql => S}
    s"""WITH vids AS (
       |  SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len
       |  FROM documents
       |  WHERE doc_id % 3 IN (1, 2) AND octet_length(encode(text)) > 0),
       |nfr AS (
       |  SELECT doc_id, text, len,
       |    least($MaxFrames, greatest(1, len // $FrameBytes)) AS n
       |  FROM vids),
       |fr AS (
       |  SELECT doc_id, text, len, n, unnest(range(n)) AS i FROM nfr),
       |sl AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |    (i * len) // n AS off,
       |    CAST(least($FrameBytes, len - (i * len) // n) AS INTEGER) AS frame_len,
       |    substr(text, CAST((i * len) // n + 1 AS INTEGER),
       |           CAST(least($FrameBytes, len - (i * len) // n) AS INTEGER)) AS slice
       |  FROM fr)
       |SELECT doc_id, frame_idx, off * 40 AS frame_ts_ms, frame_len,
       |  ${S.polyHash("slice")} AS frame_fp
       |FROM sl
       |ORDER BY doc_id, frame_idx""".stripMargin
  }

  val mediaMetaSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  upper(substr(hex(encode(text)), 1, 8)) AS magic_hex,
      |  (octet_length(encode(text)) % 640) + 1 AS width,
      |  CAST((CAST(octet_length(encode(text)) AS BIGINT) * 7) % 480 + 1 AS INTEGER) AS height,
      |  3 AS channels,
      |  CAST(octet_length(encode(text)) AS BIGINT) * 40 AS duration_ms
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m04
  /** m04: media-mix report — the per-modality accounting (docs, bytes,
    * duration) a multimodal ingest run publishes next to the corpus card
    * (p07). All features are exact integers off the m01 metadata, so the
    * per-type rollup is a single partial-aggregable groupBy with no
    * float-parity hazard; the mean derives from the integer sums. */
  def mediaReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{TextFunctions => F}
    mediaMeta(spark, dir)
      .groupBy($"media_type")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"byte_len").as("total_bytes"),
        max($"byte_len").as("max_bytes"),
        sum($"duration_ms").as("total_duration_ms"))
      .select($"media_type", $"n_docs", $"total_bytes", $"max_bytes",
        F.fr($"total_bytes".cast("double") / $"n_docs", 2).as("avg_bytes"),
        $"total_duration_ms")
      .orderBy($"media_type")
  }

  val mediaReportSql: String = {
    import graft.functions.{TextSql => S}
    s"""WITH meta AS (
       |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
       |              WHEN doc_id % 3 = 1 THEN 'audio'
       |              ELSE 'video' END AS media_type,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       |    CAST(octet_length(encode(text)) AS BIGINT) * 40 AS duration_ms
       |  FROM documents)
       |SELECT media_type, count(*) AS n_docs,
       |  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       |  max(byte_len) AS max_bytes,
       |  ${S.fr("CAST(sum(byte_len) AS DOUBLE) / count(*)", 2)} AS avg_bytes,
       |  CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
       |FROM meta GROUP BY media_type
       |ORDER BY media_type""".stripMargin
  }

  // ---------------------------------------------------------------- m05
  /** Every LakeStride-th document lands in the mini-lake fixture. */
  val LakeStride = 8

  /** m05: media-lake ingestion edge — Spark's built-in `binaryFile` source
    * reads a DIRECTORY OF OPAQUE FILES (the form image/audio/video actually
    * arrives in, one file per asset) as (path, modificationTime, length,
    * content) with glob pruning and the same partitioned, lazy scan parquet
    * gets; no codec, no driver I/O. The operator materializes a
    * deterministic mini-lake (executors write one .bin per sampled doc —
    * exactly how a distributed fetch job lands assets; local-mode test
    * fixture writes via java.nio, a cluster fetch job would open the same
    * paths through the Hadoop FileSystem API), ingests it back
    * through binaryFile, parses the asset id from the file path, and
    * fingerprints content with md5 — so the oracle can reproduce the full
    * round-trip from the text column (ASCII corpus: UTF-8 bytes == chars).
    * At 100 TB this op is the entry point of the multimodal pipeline:
    * binaryFile splits the listing across executors and never materializes
    * a file's bytes more than one task-batch at a time. */
  def binaryIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // FRESH lake dir per invocation (shutdown-hook cleaned): the returned
    // DataFrame reads the files LAZILY, so a shared fixed path meant a
    // second call's purge-and-rewrite could invalidate the first call's
    // still-unconsumed result mid-scan (and two dirs sharing a 32-bit
    // hashCode would silently ingest each other's corpus). A fresh dir
    // also can't see stale doc_*.bin files from an earlier corpus.
    val lake = graft.operators.Extras.tempDir("graft_media_lake")
    Tables.documents(spark, dir)
      .filter($"doc_id" % LakeStride === 0)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(lake, f"doc_${r.getLong(0)}%06d.bin"),
            r.getAs[Array[Byte]](1))
        }
      }
    spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(lake)
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        $"length".as("byte_len"),
        md5($"content").as("content_md5"))
      .orderBy($"doc_id")
  }

  val binaryIngestSql: String =
    s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       |  md5(text) AS content_md5
       |FROM documents WHERE doc_id % $LakeStride = 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m06
  /** dHash grid: 9 columns × 8 rows of area-averaged grays; each of the
    * 8×8 horizontal-gradient comparisons is one fingerprint bit. Only 63
    * of the 64 bits are used (the last comparison is dropped) so the
    * fingerprint stays NON-NEGATIVE in a signed 64-bit BIGINT — band
    * extraction and the banding arithmetic are then shift/mask-safe in
    * both engines with no unsigned games. */
  private[graft] val PHashGridW = 9
  private[graft] val PHashGridH = 8
  private[graft] val PHashBits = 63
  /** 4 bands × 16 bits: any pair within Hamming distance [[PHashHammingMax]]
    * = 3 differs in at most 3 bands, so it collides exactly on at least
    * one — the banding is EXACT for this radius (same pigeonhole as d04's
    * 8-bit SimHash blocks). A production deployment wanting radius r
    * raises the band count to r+1. */
  private[graft] val PHashBands = 4
  private[graft] val PHashHammingMax = 3

  /** The 63-bit dHash from a row-major 9×8 gray grid: bit p (0-based,
    * p = y·8+x) is set iff gray(y, x+1) > gray(y, x). */
  private[graft] def dhashBits(g: Array[Int]): Long = {
    var h = 0L
    var p = 0
    while (p < PHashBits) {
      val y = p / 8
      val x = p % 8
      if (g(y * PHashGridW + x + 1) > g(y * PHashGridW + x)) h |= 1L << p
      p += 1
    }
    h
  }

  /** Area-average a decoded raster down to the 9×8 gray grid. Cell (cx,cy)
    * averages the pixel block [cx·W/9, (cx+1)·W/9) × [cy·H/8, (cy+1)·H/8)
    * (integer luma 299R+587G+114B / 1000); rasters narrower than the grid
    * clamp each cell to at least one pixel so the map is total for any
    * W,H ≥ 1. Downsampling BEFORE comparing is what makes the hash
    * perceptual: re-encodes, small crops and single-pixel edits move a
    * cell average a little, flipping at most a couple of gradient bits. */
  private[graft] def grayGrid(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val g = new Array[Int](PHashGridW * PHashGridH)
    var cy = 0
    while (cy < PHashGridH) {
      val y0 = cy * h / PHashGridH
      val y1 = math.min(h, math.max(y0 + 1, (cy + 1) * h / PHashGridH))
      var cx = 0
      while (cx < PHashGridW) {
        val x0 = cx * w / PHashGridW
        val x1 = math.min(w, math.max(x0 + 1, (cx + 1) * w / PHashGridW))
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)) / 1000L
            x += 1
          }
          y += 1
        }
        g(cy * PHashGridW + cx) = (sum / ((x1 - x0).toLong * (y1 - y0))).toInt
        cx = cx + 1
      }
      cy += 1
    }
    g
  }

  /** The decode-less fallback grid: 72 evenly spaced payload bytes stand
    * in for the grays (position k·len/72, unsigned byte value) — the same
    * deterministic-fake discipline as m01/m03, so the driver-gated run
    * (text payloads) is SQL-replayable byte for byte. Requires len ≥ 1. */
  private[graft] def pseudoGrayGrid(payload: Array[Byte]): Array[Int] =
    Array.tabulate(PHashGridW * PHashGridH) { k =>
      payload(((k.toLong * payload.length) / (PHashGridW * PHashGridH)).toInt) & 0xff
    }

  /** Perceptual hash at the decode boundary: REAL for anything ImageIO
    * decodes (PNG/JPEG/GIF — the m01 machinery, same pixel bound), the
    * byte-sampling fake for everything else. Total for len ≥ 1. */
  private[graft] def pHash64(payload: Array[Byte]): Long = {
    val img =
      if (isImage(payload)) boundedImageRead(payload, 0, payload.length) else None
    dhashBits(img.map(grayGrid).getOrElse(pseudoGrayGrid(payload)))
  }

  /** m06: perceptual-hash near-dup detection over the image corpus — the
    * image-side analogue of d04's SimHash text dedup, and the standard
    * first pass of a multimodal training-data pipeline (re-encoded /
    * lightly edited image copies survive exact-hash dedup; a dHash within
    * a small Hamming radius catches them).
    *
    * Shape at 100 TB: one mapPartitions pass decodes + hashes each image
    * (the payload column never shuffles — only the 8-byte fingerprint
    * does), candidates block on [[PHashBands]] 16-bit bands (exact for
    * the radius, never an all-pairs join), and each image reports its
    * earliest near-dup like d08. Output: (doc_id, phash, is_dup, dup_of,
    * hamming). */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imagePhashFrom(withPayload(spark, dir)
      .filter($"media_type" === "image" && octet_length($"payload") > 0))
  }

  /** [[imagePhash]] over any (doc_id, payload) frame (real-raster
    * fixtures in tests enter here). `bucketCap` is the MEGA-BUCKET guard
    * (d03's discipline on the image side): a band bucket of B members is
    * only ever mega-sized when the images are (near-)identical en masse —
    * a dup SET whose pairwise enumeration is quadratic in the OUTPUT. A
    * 100 TB deployment routes buckets over the cap to the linear-per-doc
    * exact-hash group form instead of emitting their pairs; the
    * driver-gated row keeps the cap OFF (full pair contract,
    * oracle-exact). LlmOpsSpec "m06: the mega-bucket cap bounds dup-set
    * pair enumeration" gates the capped shape. */
  private[graft] def imagePhashFrom(df: DataFrame,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = graft.GraftSession.maybeCache(
      df.select($"doc_id", $"payload").as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, p) => (id, pHash64(p)) })
        .toDF("doc_id", "phash"))
    val ks = (0 until PHashBands).toDF("k")
    val allBands = hashed.crossJoin(broadcast(ks))
      .withColumn("blk", expr("shiftright(phash, k * 16) & 65535"))
    val bands =
      if (bucketCap == Int.MaxValue) allBands
      else {
        val sizes = allBands.groupBy($"k", $"blk").agg(count(lit(1)).as("bn"))
        allBands.join(sizes.filter($"bn" <= bucketCap), Seq("k", "blk"))
          .select($"doc_id", $"phash", $"k", $"blk")
      }
    val a = bands.select($"doc_id".as("doc_a"), $"phash".as("ph_a"), $"k", $"blk")
    val b = bands.select($"doc_id".as("doc_b"), $"phash".as("ph_b"), $"k", $"blk")
    val dups = a.join(b, Seq("k", "blk"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"ph_a", $"ph_b").distinct()
      .withColumn("hamming", expr("bit_count(ph_a ^ ph_b)"))
      .filter($"hamming" <= PHashHammingMax)
      .groupBy($"doc_b")
      .agg(min($"doc_a").as("dup_of"), min_by($"hamming", $"doc_a").as("hamming"))
    hashed
      .join(dups.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", $"phash", $"dup_of".isNotNull.as("is_dup"),
        $"dup_of", $"hamming")
      .orderBy($"doc_id")
  }

  /** Oracle CTE chain shared by m06 and the v13b streaming twin: the
    * fallback pseudo-gray dHash per image doc (`ph`) and its 4×16-bit
    * band explode (`bands`), over any (doc_id, text) source CTE/table
    * (no leading WITH — callers compose). */
  private[graft] def phashCteChain(src: String): String = {
    val gw = PHashGridW
    val cells = gw * PHashGridH
    s"""img AS (
       |  SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len
       |  FROM $src
       |  WHERE doc_id % 3 = 0 AND octet_length(encode(text)) > 0),
       |g AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $cells), k ->
       |      ascii(substr(text, CAST((k * len) // $cells AS INTEGER) + 1, 1))) AS gs
       |  FROM img),
       |ph AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(${PHashBits - 1}, -1, -1), p ->
       |        CASE WHEN gs[CAST((p // 8) * $gw + (p % 8) + 2 AS INTEGER)]
       |                  > gs[CAST((p // 8) * $gw + (p % 8) + 1 AS INTEGER)]
       |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a * 2 + b) AS phash
       |  FROM g),
       |bands AS (
       |  SELECT doc_id, phash, k, (phash >> CAST(k * 16 AS INTEGER)) & 65535 AS blk
       |  FROM ph CROSS JOIN (SELECT unnest(range(0, $PHashBands)) AS k) kk)""".stripMargin
  }

  val imagePhashSql: String =
    "WITH " + phashCteChain("documents") + ",\n" +
      s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.phash AS ph_a, b.phash AS ph_b
       |  FROM bands a JOIN bands b
       |    ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id),
       |dup AS (
       |  SELECT doc_b AS doc_id, min(doc_a) AS dup_of,
       |    arg_min(bit_count(xor(ph_a, ph_b)), doc_a) AS hamming
       |  FROM cand
       |  WHERE bit_count(xor(ph_a, ph_b)) <= $PHashHammingMax
       |  GROUP BY doc_b)
       |SELECT p.doc_id, p.phash, d.doc_id IS NOT NULL AS is_dup,
       |  d.dup_of, d.hamming
       |FROM ph p LEFT JOIN dup d ON d.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- m07
  /** Energy-envelope geometry for the audio fingerprint: [[AfpWindows]]
    * window byte-means → [[AfpBits]] gradient bits (bit p = window p+1
    * louder than window p), non-negative in a signed BIGINT. 4 bands × 8
    * bits cover bits 0..31 (bit 31 is constant zero — a bit that never
    * differs leaves the pigeonhole intact): any pair within Hamming
    * [[AfpHammingMax]] = 3 collides on at least one band, m06/d04's
    * exact-banding argument on the audio side. */
  private[graft] val AfpWindows = 32
  private[graft] val AfpBits = AfpWindows - 1
  private[graft] val AfpBands = 4
  private[graft] val AfpHammingMax = 3

  /** Gradient bits over the window means. */
  private[graft] def envelopeBits(means: Array[Long]): Long = {
    var h = 0L
    var p = 0
    while (p < AfpBits) {
      if (means(p + 1) > means(p)) h |= 1L << p
      p += 1
    }
    h
  }

  /** Decode-less fallback envelope: window i is the byte range
    * [i·len/W, (i+1)·len/W), mean = sum of unsigned bytes div width —
    * SQL-replayable with substr/ascii (the m01/m03/m06 discipline; corpus
    * payloads are ASCII text bytes). None below [[AfpWindows]] bytes
    * (some window would be empty) — the oracle applies the same length
    * filter. */
  private[graft] def byteEnvelope(b: Array[Byte]): Option[Array[Long]] =
    if (b.length < AfpWindows) None
    else Some(Array.tabulate(AfpWindows) { i =>
      val s = (i.toLong * b.length / AfpWindows).toInt
      val e = ((i + 1).toLong * b.length / AfpWindows).toInt
      var sum = 0L
      var j = s
      while (j < e) { sum += (b(j) & 0xff); j += 1 }
      sum / (e - s)
    })

  /** REAL branch: the envelope over the DECODED PCM byte stream
    * (`javax.sound.sampled`, the m03 machinery) in one sequential pass —
    * container layout (chunk order, LIST metadata, padding) cannot touch
    * the fingerprint, only the audio content can: two WAVs with identical
    * PCM but different chunk layout hash EQUAL, which the raw-byte
    * fallback structurally cannot do (LlmOpsSpec pins exactly that).
    * None for anything AudioSystem rejects, non-PCM encodings, or a
    * header whose declared length the stream cannot deliver — the decode
    * boundary's totality contract. */
  private[graft] def wavEnvelope(payload: Array[Byte]): Option[Array[Long]] =
    scala.util.Try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        require(fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED)
        require(fmt.getFrameSize > 0)
        val frames = in.getFrameLength
        require(frames > 0 && frames <= Long.MaxValue / fmt.getFrameSize)
        val len = frames * fmt.getFrameSize
        require(len >= AfpWindows)
        val sums = new Array[Long](AfpWindows)
        val cnts = new Array[Long](AfpWindows)
        val buf = new Array[Byte](8192)
        var pos = 0L
        var n = in.read(buf)
        while (n > 0) {
          var j = 0
          while (j < n) {
            val w = ((pos + j) * AfpWindows / len).toInt
            require(w < AfpWindows) // more PCM than the header declared
            sums(w) += (buf(j) & 0xff)
            cnts(w) += 1
            j += 1
          }
          pos += n
          n = in.read(buf)
        }
        require(pos == len) // short stream: the header lied
        Array.tabulate(AfpWindows)(i => sums(i) / cnts(i))
      } finally in.close()
    }.toOption

  /** The audio fingerprint at the decode boundary: real PCM envelope for
    * anything AudioSystem decodes, the byte fallback otherwise. */
  private[graft] def audioFp64(payload: Array[Byte]): Option[Long] =
    (if (isWav(payload)) wavEnvelope(payload) else None)
      .orElse(byteEnvelope(payload))
      .map(envelopeBits)

  /** m07: audio near-dup detection over the audio corpus — m06's
    * perceptual dedup on the sound side (re-encoded / re-containered /
    * lightly edited audio copies survive exact-hash dedup; an envelope
    * hash within a small Hamming radius catches them). Same 100 TB shape
    * as m06: the payload never shuffles (one mapPartitions decode+hash
    * pass, only the 8-byte fingerprint moves), candidates block on
    * [[AfpBands]] 8-bit bands (exact for the radius), earliest-near-dup
    * verdict per doc. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioFingerprintFrom(withPayload(spark, dir)
      .filter($"media_type" === "audio" && octet_length($"payload") >= AfpWindows))
  }

  /** [[audioFingerprint]] over any (doc_id, payload) frame (real-PCM
    * fixtures in tests enter here). */
  private[graft] def audioFingerprintFrom(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df.select($"doc_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => audioFp64(p).map((id, _)) })
      .toDF("doc_id", "afp")
    val ks = (0 until AfpBands).toDF("k")
    val bands = hashed.crossJoin(broadcast(ks))
      .withColumn("blk", expr("shiftright(afp, k * 8) & 255"))
    val a = bands.select($"doc_id".as("doc_a"), $"afp".as("fp_a"), $"k", $"blk")
    val b = bands.select($"doc_id".as("doc_b"), $"afp".as("fp_b"), $"k", $"blk")
    val dups = a.join(b, Seq("k", "blk"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"fp_a", $"fp_b").distinct()
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .filter($"hamming" <= AfpHammingMax)
      .groupBy($"doc_b")
      .agg(min($"doc_a").as("dup_of"), min_by($"hamming", $"doc_a").as("hamming"))
    hashed
      .join(dups.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", $"afp", $"dup_of".isNotNull.as("is_dup"),
        $"dup_of", $"hamming")
      .orderBy($"doc_id")
  }

  val audioFingerprintSql: String = {
    val W = AfpWindows
    s"""WITH aud AS (
       |  SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS len
       |  FROM documents
       |  WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= $W),
       |env AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $W), i ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range((i * len) // $W, ((i + 1) * len) // $W),
       |          j -> CAST(ascii(substr(text, CAST(j AS INTEGER) + 1, 1)) AS BIGINT))),
       |        (a, b) -> a + b)
       |      // (((i + 1) * len) // $W - (i * len) // $W)) AS ms
       |  FROM aud),
       |fp AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(${AfpBits - 1}, -1, -1), p ->
       |        CASE WHEN ms[CAST(p AS INTEGER) + 2] > ms[CAST(p AS INTEGER) + 1]
       |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a * 2 + b) AS afp
       |  FROM env),
       |bands AS (
       |  SELECT doc_id, afp, k, (afp >> CAST(k * 8 AS INTEGER)) & 255 AS blk
       |  FROM fp CROSS JOIN (SELECT unnest(range(0, $AfpBands)) AS k) kk),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.afp AS fp_a, b.afp AS fp_b
       |  FROM bands a JOIN bands b
       |    ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id),
       |dup AS (
       |  SELECT doc_b AS doc_id, min(doc_a) AS dup_of,
       |    arg_min(bit_count(xor(fp_a, fp_b)), doc_a) AS hamming
       |  FROM cand
       |  WHERE bit_count(xor(fp_a, fp_b)) <= $AfpHammingMax
       |  GROUP BY doc_b)
       |SELECT f.doc_id, f.afp, d.doc_id IS NOT NULL AS is_dup,
       |  d.dup_of, d.hamming
       |FROM fp f LEFT JOIN dup d ON d.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }
}
