package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * pipeline as opaque `binary` columns with typed metadata, and
  * decode/feature-extraction runs as a partition-wise batch operator.
  *
  * IMAGE DECODE IS REAL: payloads whose format starts with `image/` go
  * through the JDK's built-in
  * `javax.imageio` codecs (PNG, JPEG, BMP, GIF, TIFF — zero external
  * dependencies), yielding true pixel dimensions; undecodable image bytes
  * surface as an explicit `decoded = false` marker row, never a silent
  * fake.
  * AUDIO DECODE IS REAL TOO: `audio/`-prefixed payloads go through the JDK's
  * `javax.sound.sampled.AudioSystem` (WAV/AIFF/AU headers, zero external
  * dependencies), yielding true sample rate / channel count / frame count;
  * undecodable audio gets the same explicit marker. VIDEO decodes container
  * headers (MP4/AVI) AND first-frame PIXELS for MJPEG-in-AVI — the movi
  * chunks of an MJPEG AVI are plain JPEGs, fed through the same imageio
  * path as images. Only INTER-FRAME codecs (H.264 etc.) remain
  * undecodable — the one decode this container genuinely cannot run
  * without ffmpeg — and those rows surface as NULL features with
  * `decodable = false` ([[featuresOf]]), never as synthetic values.
  * The surrounding plumbing — the binary schema, the typed
  * `Dataset` row shape, partition-wise batching via `mapPartitions`, and
  * the metadata projections — is shared by all paths: dropping in a video
  * codec is one more case in [[decodeOne]].
  *
  * Scale notes: payload bytes never pass through a shuffle here — decode is
  * a narrow map over the scan, and the metadata-only projections prune the
  * binary column out entirely (check `ReadSchema` in explain). That
  * column-pruning behavior is exactly why multimodal payloads belong in a
  * parquet binary column rather than side files.
  */
object Multimodal {

  /** A multimodal row: opaque payload + minimal typed metadata. */
  case class MediaFile(doc_id: Long, content: Array[Byte], format: String)

  /** Extracted features. Modality-dependent fields are zero where they do
    * not apply: images fill (width, height, n_frames=1) with zero
    * sample_rate/channels; audio fills (sample_rate, channels, n_frames,
    * duration_ms) with zero width/height; video container headers fill
    * (width, height, n_frames, duration_ms). `decoded` is the EXPLICIT
    * success flag carried out of the decoder itself — not inferred from
    * the feature values, because a real container parse can legitimately
    * yield all-zero fields (an AVI whose avih header is zeroed but whose
    * first frame still decodes, an MP4 with a moov but no mvhd/tkhd).
    * `luma_mean` is the mean BT.601 luminance of the decoded PIXELS —
    * real for images and for MJPEG-in-AVI first frames, 0 where no pixel
    * decode exists (audio, header-only video codecs).
    */
  case class MediaFeatures(
      doc_id: Long, n_bytes: Int, format: String,
      width: Int, height: Int, n_frames: Int,
      sample_rate: Int, channels: Int, duration_ms: Long = 0L,
      luma_mean: Double = 0.0, decoded: Boolean = false)

  /** Stand-in payload builder: encodes the documents' text as UTF-8 bytes
    * in a `binary` column (in production this column arrives already binary
    * from the ingest layer — e.g. image bytes).
    */
  def attachPayload(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      concat(lit("fake/"), col("source")).as("format"))

  /** THE image-format dispatch + decode, shared by [[decode]] and
    * [[resizeImages]] so both paths always agree on which rows are images:
    * None for non-image formats AND for undecodable image bytes.
    */
  private def readImage(m: MediaFile): Option[java.awt.image.BufferedImage] =
    if (m.format != null && m.format.startsWith("image/"))
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content)))
    else None

  /** Mean BT.601 luminance of a decoded image, in integer milliluma units
    * summed as a Long before ONE double division — deterministic given the
    * decoded pixels (and JDK JPEG/PNG decoding is deterministic for given
    * bytes, so the spec asserts exact equality against an independent
    * decode of the same payload).
    */
  private def lumaMeanOf(img: java.awt.image.BufferedImage): Double = {
    val (w, h) = (img.getWidth, img.getHeight)
    if (w <= 0 || h <= 0) return 0.0
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val (r, g, b) = ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
        sum += 299L * r + 587L * g + 114L * b
        x += 1
      }
      y += 1
    }
    sum.toDouble / (w.toLong * h) / 1000.0
  }

  /** REAL image decode via the JDK's `javax.imageio` (headless-safe, no
    * external dependencies): true pixel width/height, n_frames = 1, mean
    * pixel luminance. None when the bytes are not a decodable image.
    */
  private def decodeImage(m: MediaFile): Option[MediaFeatures] =
    readImage(m).map { img =>
      MediaFeatures(m.doc_id, m.content.length, m.format,
        img.getWidth, img.getHeight, 1, sample_rate = 0, channels = 0,
        luma_mean = lumaMeanOf(img), decoded = true)
    }

  /** REAL audio decode via the JDK's `javax.sound.sampled.AudioSystem`
    * (WAV/AIFF/AU containers ship with the JDK, zero external
    * dependencies): true sample rate, channel count and frame count. None
    * when the bytes are not a decodable audio stream. Frame counts beyond
    * Int.MaxValue (≈13h of 44.1 kHz audio) clamp — documented, and far past
    * any training-corpus clip length.
    */
  private def decodeAudio(m: MediaFile): Option[MediaFeatures] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.content))
      try {
        val fmt = ais.getFormat
        val frames = math.min(math.max(ais.getFrameLength, 0L), Int.MaxValue.toLong).toInt
        val rate = fmt.getSampleRate.toInt
        Some(MediaFeatures(m.doc_id, m.content.length, m.format,
          width = 0, height = 0, n_frames = frames,
          sample_rate = rate, channels = fmt.getChannels,
          duration_ms = if (rate > 0) frames.toLong * 1000L / rate else 0L,
          decoded = true))
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  // --- video container-header parsing (pure-JDK byte walks; no codec) ---

  /** Big-endian unsigned 32-bit read (as Long, so 2^31..2^32-1 survive). */
  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
      ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)
  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)
  /** Little-endian unsigned 32-bit read (RIFF/AVI byte order). */
  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
      ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "ISO-8859-1")

  /** ISO-BMFF (MP4/MOV) box walk over `[start, end)`: yields
    * (type, payloadStart, payloadEnd) per well-formed box, stopping at the
    * first corrupt size field (so truncated/garbage bytes parse to nothing
    * instead of throwing).
    */
  private def mp4Boxes(b: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var off = start
      private var nextBox: (String, Int, Int) = advance()
      private def advance(): (String, Int, Int) = {
        if (off + 8 > end) return null
        val size32 = be32(b, off)
        val typ = fourcc(b, off + 4)
        val (hdr, size) =
          if (size32 == 1L && off + 16 <= end) (16L, be64(b, off + 8))
          else if (size32 == 0L) (8L, (end - off).toLong) // box runs to end
          else (8L, size32)
        if (size < hdr || off + size > end) return null // corrupt size
        val res = (typ, off + hdr.toInt, off + size.toInt)
        off += size.toInt
        res
      }
      def hasNext: Boolean = nextBox != null
      def next(): (String, Int, Int) = {
        val r = nextBox; nextBox = advance(); r
      }
    }

  /** MP4/MOV container-header parse — `moov/mvhd` (timescale + duration →
    * duration_ms) and the first video `moov/trak/tkhd` (16.16 fixed-point
    * presentation width/height). Pure byte walking, handles version-0 and
    * version-1 boxes and 64-bit box sizes. None when the bytes are not a
    * plausible ISO-BMFF stream (no `ftyp`/`moov` top level).
    */
  private[operators] def parseMp4(b: Array[Byte]): Option[(Int, Int, Long)] = {
    val top = mp4Boxes(b, 0, b.length).toSeq
    if (!top.exists(_._1 == "ftyp") && !top.exists(_._1 == "moov")) return None
    top.find(_._1 == "moov").map { case (_, ms, me) =>
      val kids = mp4Boxes(b, ms, me).toSeq
      val durMs = kids.find(_._1 == "mvhd").map { case (_, p, pe) =>
        if (pe - p < 20) 0L
        else {
          val v = b(p) & 0xFF
          val (ts, dur) =
            if (v == 1 && pe - p >= 32) (be32(b, p + 20), be64(b, p + 24))
            else (be32(b, p + 12), be32(b, p + 16))
          if (ts > 0) dur * 1000L / ts else 0L
        }
      }.getOrElse(0L)
      val dims = kids.iterator.filter(_._1 == "trak").flatMap { case (_, ts, te) =>
        mp4Boxes(b, ts, te).find(_._1 == "tkhd").flatMap { case (_, p, pe) =>
          if (pe - p < 4) None
          else {
            val v = b(p) & 0xFF
            val wOff = if (v == 1) p + 88 else p + 76 // 16.16 fixed point
            if (pe - wOff < 8) None
            else {
              val (w, h) = ((be32(b, wOff) >> 16).toInt, (be32(b, wOff + 4) >> 16).toInt)
              if (w > 0 && h > 0) Some((w, h)) else None // audio traks are 0×0
            }
          }
        }
      }.nextOption().getOrElse((0, 0))
      (dims._1, dims._2, durMs)
    }
  }

  /** RIFF/AVI chunk walk: yields (fourcc, listType-or-"", payloadStart,
    * payloadEnd); chunks are word-aligned (odd sizes pad one byte).
    */
  private def riffChunks(b: Array[Byte], start: Int, end: Int): Iterator[(String, String, Int, Int)] =
    new Iterator[(String, String, Int, Int)] {
      private var off = start
      private var nextChunk: (String, String, Int, Int) = advance()
      private def advance(): (String, String, Int, Int) = {
        if (off + 8 > end) return null
        val cc = fourcc(b, off)
        val size = le32(b, off + 4)
        if (off + 8 + size > end) return null
        val isList = cc == "LIST" || cc == "RIFF"
        val listType = if (isList && size >= 4) fourcc(b, off + 8) else ""
        val ps = if (isList) off + 12 else off + 8
        val res = (cc, listType, ps, off + 8 + size.toInt)
        off += 8 + size.toInt + (size.toInt & 1) // pad to even
        res
      }
      def hasNext: Boolean = nextChunk != null
      def next(): (String, String, Int, Int) = {
        val r = nextChunk; nextChunk = advance(); r
      }
    }

  /** AVI container-header parse — the `hdrl` list's `avih` main header:
    * dwMicroSecPerFrame, dwTotalFrames, dwWidth, dwHeight. None when the
    * bytes are not `RIFF....AVI `.
    */
  private[operators] def parseAvi(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
    val inRiff = riffChunks(b, 12, math.min(b.length, 8 + le32(b, 4).toInt))
    inRiff.collectFirst { case ("LIST", "hdrl", ps, pe) =>
      riffChunks(b, ps, pe).collectFirst { case ("avih", _, ap, ae) if ae - ap >= 40 =>
        val usPerFrame = le32(b, ap)
        val frames = le32(b, ap + 16)
        val (w, h) = (le32(b, ap + 32), le32(b, ap + 36))
        // don't trust hostile avih fields: a frame count or frame period
        // ≥ 2³¹ (or a duration product past Long) would surface as
        // NEGATIVE n_frames/duration_ms instead of the documented
        // `decoded = false` marker every other decoder path guarantees.
        // le32 returns the unsigned value in a Long, so the checks are
        // exact.
        val insane = frames > Int.MaxValue || w > Int.MaxValue || h > Int.MaxValue ||
          usPerFrame > Long.MaxValue / math.max(frames, 1L)
        if (insane) None
        else Some((w.toInt, h.toInt, frames.toInt, usPerFrame * frames / 1000L))
      }.flatten
    }.flatten
  }

  /** First video frame of an MJPEG AVI, decoded to PIXELS for real: the
    * `movi` list's `##dc`/`##db` chunks of an MJPEG AVI are complete
    * JPEGs, so the first one decodes with the SAME `javax.imageio` path
    * the image modality uses — no external codec. None when there is no
    * movi list, no video chunk, or the chunk bytes are not a decodable
    * JPEG (i.e. an inter-frame codec — the one seam that genuinely needs
    * ffmpeg; those rows decode to the container-header features only).
    */
  private[operators] def mjpegFirstFrame(b: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return None
    val end = math.min(b.length, 8 + le32(b, 4).toInt)
    riffChunks(b, 12, end).collectFirst { case ("LIST", "movi", ps, pe) =>
      riffChunks(b, ps, pe).collectFirst {
        case (cc, _, fs, fe) if cc.endsWith("dc") || cc.endsWith("db") =>
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(java.util.Arrays.copyOfRange(b, fs, fe))))
          catch { case _: java.io.IOException => None }
      }.flatten
    }.flatten
  }

  /** REAL video container-header decode (MP4/MOV `moov` boxes, AVI `avih`)
    * — width/height/frame-count/duration from pure-JDK byte parsing of the
    * container — plus REAL first-frame pixel decode for MJPEG-in-AVI
    * ([[mjpegFirstFrame]]; `luma_mean` stays 0 for inter-frame codecs).
    * None when the bytes match neither container.
    */
  private def decodeVideo(m: MediaFile): Option[MediaFeatures] =
    try {
      parseMp4(m.content).map { case (w, h, durMs) =>
        MediaFeatures(m.doc_id, m.content.length, m.format,
          width = w, height = h, n_frames = 0,
          sample_rate = 0, channels = 0, duration_ms = durMs, decoded = true)
      }.orElse(parseAvi(m.content).map { case (w, h, frames, durMs) =>
        MediaFeatures(m.doc_id, m.content.length, m.format,
          width = w, height = h, n_frames = frames,
          sample_rate = 0, channels = 0, duration_ms = durMs,
          luma_mean = mjpegFirstFrame(m.content).map(lumaMeanOf).getOrElse(0.0),
          decoded = true)
      })
    } catch { case _: IndexOutOfBoundsException => None }

  /** Per-row dispatch: `image/` formats → real [[decodeImage]], `audio/`
    * formats → real [[decodeAudio]], `video/` formats → real container-
    * header [[decodeVideo]] (MP4/AVI). Undecodable bytes AND formats no
    * shipped codec handles — the testdata's `fake/` stand-ins, inter-frame
    * video codecs, unknown formats — all get `decoded = false`, the
    * explicit flag the decoder itself sets (never inferred from feature
    * values, which a real parse can legitimately leave all-zero). No
    * synthetic feature values anywhere: a row either decoded for real or
    * is marked undecodable ([[featuresOf]] surfaces the flag as NULL
    * features + `decodable = false`).
    */
  private def decodeOne(m: MediaFile): MediaFeatures = {
    def marker = MediaFeatures(m.doc_id, m.content.length, m.format, 0, 0, 0, 0, 0)
    if (m.format == null) marker
    else if (m.format.startsWith("image/")) decodeImage(m).getOrElse(marker)
    else if (m.format.startsWith("audio/")) decodeAudio(m).getOrElse(marker)
    else if (m.format.startsWith("video/")) decodeVideo(m).getOrElse(marker)
    else marker
  }

  /** Disable ImageIO's disk-backed stream cache for this JVM: with the
    * default (useCache=true) EVERY decode/encode round-trips a temp file on
    * executor-local disk, turning a pure-CPU narrow map into disk-bound
    * work. Called once per partition from the mapPartitions seams (static
    * JVM flag, idempotent — executors each set it on first use).
    */
  private def ensureInMemoryImageIO(): Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Partition-wise decode/feature-extract over the binary column. */
  def decode(media: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it => ensureInMemoryImageIO(); it.map(decodeOne) }
  }

  /** REAL image resize (JDK AWT + imageio, headless-safe): decode, bilinear
    * scale to (width, height), re-encode as PNG. Non-image and undecodable
    * payloads pass through unchanged, so the operator composes anywhere in
    * a mixed-modality pipeline. Partition-wise narrow map — payload bytes
    * never shuffle.
    */
  def resizeImages(media: Dataset[MediaFile], width: Int, height: Int): Dataset[MediaFile] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it => ensureInMemoryImageIO(); it.map { m =>
      readImage(m) match {
        case None => m
        case Some(img) =>
        val dst = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, width, height, null)
        } finally g.dispose()
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", out)
        MediaFile(m.doc_id, out.toByteArray, "image/png")
      }
    }}
  }

  /** "Frame sampling": deterministic byte-chunk slices standing in for
    * video frame extraction — demonstrates the explode-to-frames shape
    * (one output row per sampled frame, payload stays binary).
    */
  def sampleFrames(media: DataFrame, nFrames: Int = 3, frameBytes: Int = 16): DataFrame =
    media.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(nFrames - 1)),
        i => substring(col("content"), lit(1) + i * frameBytes, lit(frameBytes)))))
      .select(col("doc_id"), col("pos").as("frame_no"), col("col").as("frame_bytes"))
      .where(length(col("frame_bytes")) > 0)

  /** Metadata-only projection — oracle-checkable (byte length and md5 of
    * the payload are engine-portable), and the binary column is pruned at
    * the scan when only these are selected.
    */
  def payloadMeta(documents: DataFrame): DataFrame =
    attachPayload(documents).select(
      col("doc_id"),
      octet_length(col("content")).as("n_bytes"),
      md5(col("content")).as("content_md5"),
      col("format"))

  /** End-to-end typed pipeline: attach → decode → features DF, with the
    * undecodable marker surfaced HONESTLY: a `decodable` boolean plus NULL
    * feature columns for rows no shipped codec can decode (the container
    * metadata — doc_id, byte length, declared format — stays real). NULLs
    * instead of deterministic fakes keep every column oracle-checkable:
    * the testdata's `fake/`-prefixed payloads are all undecodable here,
    * so the oracle predicts `decodable = false` + NULLs in closed form,
    * and no synthetic number ever masquerades as a decoded pixel.
    */
  def featuresOf(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    featuresOfMedia(decode(attachPayload(documents).as[MediaFile]))
  }

  /** The decode→honest-features projection over an already-attached media
    * dataset — the half of [[featuresOf]] that is payload-source-agnostic.
    */
  def featuresOfMedia(decoded: Dataset[MediaFeatures]): DataFrame = {
    val raw = decoded.toDF()
    // the decoder's own success flag — NOT inferred from feature values,
    // which a real container parse can legitimately leave all-zero
    val dec = col("decoded")
    raw.select(
      col("doc_id"), col("n_bytes"), col("format"), dec.as("decodable"),
      when(dec, col("width")).as("width"),
      when(dec, col("height")).as("height"),
      when(dec, col("n_frames")).as("n_frames"),
      when(dec, col("sample_rate")).as("sample_rate"),
      when(dec, col("channels")).as("channels"),
      when(dec, col("duration_ms")).as("duration_ms"),
      when(dec, col("luma_mean")).as("luma_mean"))
  }

  // ---- deterministic real-container round-trip (oracle-checkable) -----

  private def be32a(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def le32a(v: Long): Array[Byte] = be32a(v).reverse
  private def le16a(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def cca(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
  private def mp4Box(typ: String, payload: Array[Byte]): Array[Byte] =
    be32a(payload.length + 8L) ++ cca(typ) ++ payload
  private def aviChunk(id: String, payload: Array[Byte]): Array[Byte] =
    cca(id) ++ le32a(payload.length.toLong) ++ payload ++
      (if (payload.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)

  /** Uncompressed 24-bit BI_RGB BMP of one solid color — byte-exact by
    * construction (no codec on the write side), losslessly decoded by the
    * JDK's built-in BMP reader on the read side. Solid color makes the
    * luminance mean a CLOSED FORM of (r, g, b): every pixel contributes
    * the same integer milliluma 299r+587g+114b, so
    * `luma_mean = (299r+587g+114b)/1000.0` exactly (the per-pixel sum and
    * its division by the pixel count are exact in double at these sizes).
    */
  private[operators] def solidBmp(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val pixelBytes = rowSize * h
    val header = cca("BM") ++ le32a(54L + pixelBytes) ++ le16a(0) ++ le16a(0) ++ le32a(54L)
    val info = le32a(40L) ++ le32a(w.toLong) ++ le32a(h.toLong) ++ le16a(1) ++ le16a(24) ++
      le32a(0L) ++ le32a(pixelBytes.toLong) ++ le32a(2835L) ++ le32a(2835L) ++
      le32a(0L) ++ le32a(0L)
    val row = new Array[Byte](rowSize)
    var x = 0
    while (x < w) { // BGR pixel order, zero pad to the word boundary
      row(3 * x) = b.toByte; row(3 * x + 1) = g.toByte; row(3 * x + 2) = r.toByte
      x += 1
    }
    header ++ info ++ Array.fill(h)(row).flatten
  }

  /** Deterministic REAL container payload for a doc id — the engine-side
    * half of the [[decodedFeatures]] round-trip. Cycles the three decodable
    * modalities; every header field is a fixed arithmetic function of
    * `doc_id`, so the oracle predicts the decode output in closed form:
    *
    *  - doc_id % 3 == 0: MP4 — `ftyp` + `moov(mvhd(ts=1000, dur), trak
    *    (tkhd(w,h)))`, exercising the ISO-BMFF box walk ([[parseMp4]]).
    *  - doc_id % 3 == 1: AVI — `hdrl(avih)` + `movi` holding ONE solid-BMP
    *    frame, exercising the RIFF walk ([[parseAvi]]) AND the first-frame
    *    pixel path ([[mjpegFirstFrame]] reads any ImageIO-decodable frame;
    *    BMP instead of JPEG keeps the pixels lossless, so the luma is
    *    oracle-checkable where a JPEG round-trip would only be
    *    spec-checkable).
    *  - doc_id % 3 == 2: BMP image — the `image/` ImageIO path with exact
    *    pixel dims and closed-form luma.
    */
  private[operators] def syntheticMedia(docId: Long): MediaFile = {
    val w = (docId % 31 + 2).toInt
    val h = (docId % 17 + 2).toInt
    val r = ((docId * 37) % 256).toInt
    val g = ((docId * 59) % 256).toInt
    val b = ((docId * 83) % 256).toInt
    (docId % 3).toInt match {
      case 0 =>
        val mvhd = mp4Box("mvhd", Array.fill[Byte](12)(0) ++ be32a(1000L) ++
          be32a(docId % 9000 + 500) ++ Array.fill[Byte](80)(0))
        val tkhd = mp4Box("tkhd",
          Array.fill[Byte](76)(0) ++ be32a(w.toLong << 16) ++ be32a(h.toLong << 16))
        val bytes = mp4Box("ftyp", cca("isom") ++ be32a(0L)) ++
          mp4Box("moov", mvhd ++ mp4Box("trak", tkhd))
        MediaFile(docId, bytes, "video/mp4")
      case 1 =>
        val usPerFrame = 20000L + (docId % 100) * 100L
        val frames = (docId % 50 + 1).toInt
        val avih = cca("avih") ++ le32a(40L) ++
          le32a(usPerFrame) ++ le32a(0L) ++ le32a(0L) ++ le32a(0L) ++
          le32a(frames.toLong) ++ le32a(0L) ++ le32a(1L) ++ le32a(0L) ++
          le32a(w.toLong) ++ le32a(h.toLong)
        val hdrl = cca("LIST") ++ le32a(4L + avih.length) ++ cca("hdrl") ++ avih
        val frame = aviChunk("00db", solidBmp(w, h, r, g, b))
        val movi = cca("LIST") ++ le32a(4L + frame.length) ++ cca("movi") ++ frame
        val body = hdrl ++ movi
        val bytes = cca("RIFF") ++ le32a(4L + body.length) ++ cca("AVI ") ++ body
        MediaFile(docId, bytes, "video/x-msvideo")
      case _ =>
        MediaFile(docId, solidBmp(w, h, r, g, b), "image/bmp")
    }
  }

  /** The DETERMINISTICALLY-DECODABLE half of the multimodal surface as a
    * full-oracle query: build real MP4/AVI/BMP containers from each doc id
    * ([[syntheticMedia]]), push them through the SAME production decode
    * path ([[decode]] → moov/RIFF walkers, ImageIO pixel decode), and emit
    * the extracted features. Every output value is a closed-form function
    * of doc_id that the DuckDB oracle replays exactly — so the container
    * parsers and the pixel-stats rail are hash-checked end to end. (The
    * `mm_features` query over the testdata's undecodable `fake`-format payloads
    * is ALSO fully oracle-checked since its features became honest NULLs
    * with `decodable = false` — between the two, nothing multimodal is
    * rows-only.)
    *
    * Scale shape: identical to [[featuresOf]] — a narrow map over the
    * scan (payload build + decode per row, no shuffle at all).
    */
  def decodedFeatures(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    val media = documents.select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(syntheticMedia))
    decode(media).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("duration_ms"), col("luma_mean"))
  }
}
