package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps

/** Typed media operations over opaque binary payloads: decode, resize,
  * frame-sample — the operator surface an image/audio/video training
  * pipeline needs.
  *
  * REAL paths (in-JDK, no external library): `imageMeta`/`resizeImage`
  * decode and re-encode PNG/JPEG/GIF/BMP pixels through javax.imageio;
  * `audioMeta` parses WAV/AIFF/AU containers and PCM frames through
  * javax.sound.sampled; `videoMeta` walks actual ISO-BMFF (MP4) box
  * structure for container metadata; `videoFrames` walks real RIFF/AVI
  * chunk structure and decodes Motion-JPEG / Motion-PNG frames through
  * javax.imageio — so the video path is real end to end for the AVI
  * codecs whose frames are plain JPEG/PNG (exactly what ffmpeg is NOT
  * needed for). `decodeMetaStub`/`frameSample` remain as generic
  * byte-statistics fallbacks for codecs with no in-JDK decoder.
  */
object MediaOps {
  case class MediaMeta(media_id: Long, kind: String, width: Int, height: Int,
                       channels: Int, duration_ms: Long)
  case class Frame(media_id: Long, frame_idx: Int, payload: Array[Byte])
  case class ImageMeta(media_id: Long, kind: String, width: Int, height: Int,
                       channels: Int, mean_luma_bp: Long)

  /** ImageIO's stream factories default to a DISK-backed cache
    * (`useCache=true`): every `read(InputStream)`/`write(...,
    * OutputStream)` call wraps the in-memory bytes in a
    * FileCache[Input|Output]Stream — one temp-file create/write/delete
    * per image, pure I/O overhead for payloads that are already byte
    * arrays, and the reason decode timings swung 3-5x with tmpdir/page
    * -cache state between otherwise-quiet runs. Memory-cached streams
    * are bit-identical for these bounded blobs; the process-wide flip
    * lives in [[MediaInit]] so the synthetic ENCODE paths
    * ([[Multimodal]]) get it too on executors that never decode. */
  private val _memCachedImageStreams: Unit = MediaInit.touch()

  /** Real image decode (javax.imageio, in-JDK). None for payloads no
    * registered reader understands — callers decide drop vs fallback. */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** Mean luma of an image in basis points of 255: bulk getRGB (one
    * array fetch instead of w*h ColorModel dispatches per pixel),
    * integer Rec.601-ish luma in /256 fixed point. Integer-exact, so
    * specs and the DuckDB oracle re-derive it arithmetically. */
  private def meanLumaBp(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val pixels = img.getRGB(0, 0, w, h, null, 0, w)
    var lumaSum = 0L
    var i = 0
    while (i < pixels.length) {
      val rgb = pixels(i)
      lumaSum += (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8
      i += 1
    }
    if (w * h == 0) 0L else math.floor(10000.0 * lumaSum / (w.toLong * h * 255)).toLong
  }

  /** Real per-image metadata + pixel statistic: dimensions, channel
    * count, and mean luma in basis points of 255 (integer-exact, so
    * specs can assert against a generated image bit-for-bit). Payloads
    * that aren't decodable images are dropped — pair with
    * `decodeMeta` when a stub fallback is wanted. */
  def imageMeta(media: Dataset[Multimodal.MediaRow], batchSize: Int = 64): Dataset[ImageMeta] = {
    implicit val enc = Encoders.product[ImageMeta]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { m =>
      decodeImage(m.payload).map { img =>
        ImageMeta(m.media_id, m.kind, img.getWidth, img.getHeight,
          img.getColorModel.getNumComponents, meanLumaBp(img))
      }
    }))
  }

  case class ImageHash(media_id: Long, phash: Long)

  /** 64-bit difference hash (dHash) over REAL decoded pixels: integer
    * luma per pixel (the meanLumaBp formula), area-averaged down to a
    * 9x8 grid with pure integer block sums (no AWT smooth-scaling, so
    * the hash is bit-deterministic), then bit(y*8+x) = grid is
    * brighter than its left neighbor. Invariant to uniform brightness
    * shifts (adjacent differences are preserved) and tolerant of small
    * local damage — the standard cheap perceptual fingerprint for
    * image-level dedup. Non-decodable payloads are dropped. */
  def imageDHash(media: Dataset[Multimodal.MediaRow],
                 batchSize: Int = 64): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { m =>
      decodeImage(m.payload).map(img => ImageHash(m.media_id, dHash64(img)))
    }))
  }

  private def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val pixels = img.getRGB(0, 0, w, h, null, 0, w)
    val (gw, gh) = (9, 8)
    val grid = Array.ofDim[Long](gh, gw)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh; val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw; val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = pixels(y * w + x)
            sum += (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8
            x += 1
          }
          y += 1
        }
        grid(gy)(gx) = sum / ((y1 - y0).toLong * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var bit = 0
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < gw - 1) {
        if (grid(y)(x + 1) > grid(y)(x)) hash |= (1L << bit)
        bit += 1
        x += 1
      }
      y += 1
    }
    hash
  }

  /** 63-bit audio energy-contour fingerprint over REAL decoded PCM:
    * the audio twin of `imageDHash`. The decoded byte stream is split
    * into 64 equal windows, mean |amplitude| per window in integers,
    * bit w = window w+1 is louder than window w. Invariant to uniform
    * gain (relative energies preserved) and tolerant of one damaged
    * window — the cheap fingerprint an audio dedup pass runs before
    * anything spectral. Non-decodable payloads are dropped. */
  def audioFingerprint(media: Dataset[Multimodal.MediaRow],
                       batchSize: Int = 64): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { m =>
      try {
        readAudio(m.payload).flatMap { in =>
          try {
            val bytes = in.readAllBytes()
            if (bytes.length < 64) None
            else {
              val nWin = 64
              val e = new Array[Long](nWin)
              var w = 0
              while (w < nWin) {
                val x0 = w * bytes.length / nWin
                val x1 = math.max(x0 + 1, (w + 1) * bytes.length / nWin)
                var sum = 0L
                var i = x0
                while (i < x1) { sum += math.abs((bytes(i) & 0xff) - 128); i += 1 }
                e(w) = sum / (x1 - x0)
                w += 1
              }
              var hash = 0L
              var b = 0
              while (b < nWin - 1) {
                if (e(b + 1) > e(b)) hash |= (1L << b)
                b += 1
              }
              Some(ImageHash(m.media_id, hash))
            }
          } finally in.close()
        }
      } catch { case _: Exception => None }
    }))
  }

  /** Perceptual-hash near-dup pairs at Hamming distance <= maxDist:
    * the image twin of the SimHash text path. 8-segment pigeonhole
    * blocking (8 bits each) is lossless for maxDist <= 7 — candidates
    * shuffle only (id, 8-bit segment), signatures join back by id,
    * and the verify is codegen'd `bit_count(a ^ b)`. */
  def phashPairs(hashes: DataFrame, maxDist: Int = 6): DataFrame = {
    require(maxDist <= 7, "8-segment blocking covers Hamming distance <= 7")
    // Pin the (id, sig) table before fanning out: it feeds the
    // self-joined segment explode AND both signature join-backs, and
    // upstream of it sits the real decode + fingerprint pipeline —
    // without the checkpoint every consumer would re-decode the whole
    // media corpus. The pinned table is 16 bytes/doc.
    val sigs = hashes.select(col("media_id").as("id"), col("phash").as("sig"))
      .pin(false)
    val seg = sigs.select(col("id"), posexplode(array((0 until 8).map { s =>
      shiftrightunsigned(col("sig"), s * 8).bitwiseAND(lit(0xffL))
    }: _*)).as(Seq("seg_idx", "seg")))
    val cand = seg.toDF("a_id", "seg_idx", "seg")
      .join(seg.toDF("b_id", "seg_idx2", "seg2"),
        col("seg_idx") === col("seg_idx2") && col("seg") === col("seg2") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("hamming",
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("a_id").as("id1"), col("b_id").as("id2"), col("hamming"))
  }

  /** Real image resize: longest side scaled down to `maxSide` (never
    * upscaled), smooth-scaled via AWT and re-encoded as PNG. Payloads
    * that aren't decodable images pass through unchanged. */
  def resizeImage(media: Dataset[Multimodal.MediaRow], maxSide: Int,
                  batchSize: Int = 64): Dataset[Multimodal.MediaRow] = {
    implicit val enc = Encoders.product[Multimodal.MediaRow]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map { m =>
      decodeImage(m.payload) match {
        case Some(img) if math.max(img.getWidth, img.getHeight) > maxSide =>
          val scale = maxSide.toDouble / math.max(img.getWidth, img.getHeight)
          val (nw, nh) = (math.max(1, (img.getWidth * scale).round.toInt),
            math.max(1, (img.getHeight * scale).round.toInt))
          val out = new java.awt.image.BufferedImage(nw, nh,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, nw, nh, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          m.copy(payload = bos.toByteArray)
        case _ => m
      }
    }))
  }

  case class AudioMeta(media_id: Long, kind: String, sample_rate: Int,
                       channels: Int, n_frames: Long, mean_abs: Long)

  /** javax.sound's AudioSystem facade re-runs SPI provider discovery on
    * EVERY getAudioInputStream/write call (the JDK keeps no provider
    * cache), which serializes a 32-thread decode stage on classloader
    * lookups. Load the providers ONCE per executor JVM through the same
    * public SPI and dispatch directly — identical codecs, no per-row
    * discovery. */
  private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toList
  }
  private lazy val audioWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.toList
  }

  /** Real audio container parse through the cached SPI readers (the
    * same WAV/AIFF/AU parsers AudioSystem would pick). None when no
    * reader understands the payload. */
  def readAudio(payload: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] =
    // fresh in-memory stream per attempt: no reliance on each reader's
    // mark/reset discipline, and the bytes are already on-heap.
    audioReaders.iterator.flatMap { r =>
      try Some(r.getAudioInputStream(new java.io.BufferedInputStream(
        new java.io.ByteArrayInputStream(payload))))
      catch { case _: Exception => None }
    }.nextOption()

  /** Real audio container write through the cached SPI writers. */
  def writeAudio(ais: javax.sound.sampled.AudioInputStream,
                 tpe: javax.sound.sampled.AudioFileFormat.Type,
                 out: java.io.OutputStream): Unit =
    audioWriters.find(_.isFileTypeSupported(tpe, ais)) match {
      case Some(w) => w.write(ais, tpe, out)
      case None => throw new javax.sound.sampled.UnsupportedAudioFileException(
        s"no writer for $tpe")
    }

  /** Real audio decode via in-JDK javax.sound.sampled: WAV/AIFF/AU
    * container parse + PCM frame read. Emits format metadata and the
    * mean absolute deviation from the 8-bit midpoint (integer-exact, so
    * a generated waveform's amplitude is recoverable bit-for-bit).
    * Non-audio payloads are dropped. Currently 8-bit mono PCM for the
    * amplitude statistic; format metadata is codec-reported for any
    * supported container. */
  def audioMeta(media: Dataset[Multimodal.MediaRow], batchSize: Int = 64): Dataset[AudioMeta] = {
    implicit val enc = Encoders.product[AudioMeta]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { m =>
      try {
        val in = readAudio(m.payload).getOrElse(
          throw new javax.sound.sampled.UnsupportedAudioFileException())
        try {
          val fmt = in.getFormat
          val frames = in.getFrameLength
          val bytes = in.readAllBytes()
          var absSum = 0L
          var i = 0
          while (i < bytes.length) { absSum += math.abs((bytes(i) & 0xff) - 128); i += 1 }
          val meanAbs = if (bytes.length == 0) 0L else absSum / bytes.length
          Some(AudioMeta(m.media_id, m.kind, fmt.getSampleRate.toInt,
            fmt.getChannels, frames, meanAbs))
        } finally in.close()
      } catch { case _: Exception => None }
    }))
  }

  case class VideoMeta(media_id: Long, kind: String, timescale: Long,
                       duration_units: Long, duration_ms: Long, n_boxes: Int)

  /** Real MP4/ISO-BMFF container metadata: walks the box structure
    * (size + fourcc headers) to moov/mvhd and reads timescale +
    * duration — pure byte arithmetic on the public ISO base-media
    * layout, no codec required. FRAME DECODE remains the documented
    * stub (`frameSample`); this covers the metadata half of the video
    * path for real. Returns None for payloads that are not ISO-BMFF. */
  def parseMp4Meta(payload: Array[Byte]): Option[(Long, Long, Int)] = {
    def be32(o: Int): Long =
      ((payload(o) & 0xffL) << 24) | ((payload(o + 1) & 0xffL) << 16) |
        ((payload(o + 2) & 0xffL) << 8) | (payload(o + 3) & 0xffL)
    def fourcc(o: Int): String = new String(payload, o + 4, 4, "ISO-8859-1")
    var boxes = 0
    var mvhd: Option[(Long, Long)] = None
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val size = be32(off)
        if (size < 8 || off + size > end) return
        boxes += 1
        val name = fourcc(off)
        if ((name == "moov" || name == "trak" || name == "mdia") && depth < 4)
          walk(off + 8, off + size.toInt, depth + 1)
        else if (name == "mvhd" && size >= 8 + 4 + 16) {
          // version(1)+flags(3), then v0: ctime(4) mtime(4) timescale(4) duration(4)
          val body = off + 8
          if (payload(body) == 0)
            mvhd = Some((be32(body + 12), be32(body + 16)))
        }
        off += size.toInt
      }
    }
    if (payload.length >= 12 && fourcc(0) == "ftyp") {
      walk(0, payload.length, 0)
      mvhd.map { case (ts, dur) => (ts, dur, boxes) }
    } else None
  }

  def videoMeta(media: Dataset[Multimodal.MediaRow], batchSize: Int = 64): Dataset[VideoMeta] = {
    implicit val enc = Encoders.product[VideoMeta]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { m =>
      parseMp4Meta(m.payload).map { case (ts, dur, boxes) =>
        VideoMeta(m.media_id, m.kind, ts, dur,
          if (ts == 0) 0L else dur * 1000L / ts, boxes)
      }
    }))
  }

  case class VideoFrameMeta(media_id: Long, frame_idx: Int, width: Int, height: Int,
                            declared_frames: Int, mean_luma_bp: Long)

  /** Real AVI (RIFF) container walk: verifies the RIFF/'AVI ' magic,
    * recurses LIST chunks (hdrl/strl/movi), reads dwTotalFrames from
    * the avih main header and collects the '00dc' compressed-frame
    * chunks (even-offset padding respected). Pure byte arithmetic on
    * the public RIFF/AVI layout. None for non-AVI payloads. */
  def parseAviFrames(payload: Array[Byte]): Option[(Int, IndexedSeq[Array[Byte]])] = {
    def le32(o: Int): Long =
      (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
        ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
    def fcc(o: Int): String = new String(payload, o, 4, "ISO-8859-1")
    if (payload.length < 12 || fcc(0) != "RIFF" || fcc(8) != "AVI ") return None
    var declared = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = fcc(off)
        val size = le32(off + 4).toInt
        val body = off + 8
        if (size < 0 || body + size > end) return
        if (id == "LIST" && size >= 4 && depth < 4) walk(body + 4, body + size, depth + 1)
        else if (id == "avih" && size >= 20) declared = le32(body + 16).toInt
        else if (id == "00dc") frames += java.util.Arrays.copyOfRange(payload, body, body + size)
        off = body + size + (size & 1)
      }
    }
    walk(12, payload.length, 0)
    if (declared >= 0) Some((declared, frames.toIndexedSeq)) else None
  }

  /** REAL video frame decode, no ffmpeg required: Motion-JPEG ('MJPG')
    * and Motion-PNG ('MPNG') AVI streams store every frame as a plain
    * JPEG/PNG, which javax.imageio decodes in-JDK. One output row per
    * frame carrying the container's declared frame count and the same
    * integer-exact luma statistic as `imageMeta`, so generated videos
    * are oracle-checkable end to end (container walk AND pixel decode).
    * Non-AVI payloads and undecodable frames are dropped. */
  def videoFrames(media: Dataset[Multimodal.MediaRow], batchSize: Int = 64): Dataset[VideoFrameMeta] = {
    implicit val enc = Encoders.product[VideoFrameMeta]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { m =>
      parseAviFrames(m.payload).iterator.flatMap { case (declared, frames) =>
        frames.iterator.zipWithIndex.flatMap { case (fb, idx) =>
          decodeImage(fb).map { img =>
            VideoFrameMeta(m.media_id, idx, img.getWidth, img.getHeight,
              declared, meanLumaBp(img))
          }
        }
      }
    }))
  }

  /** STUB decode: deterministic metadata from byte statistics (a real
    * impl reads the container header). */
  def decodeMetaStub(m: Multimodal.MediaRow): MediaMeta = {
    val n = m.payload.length
    val w = 16 + (if (n == 0) 0 else (m.payload(0) & 0x3f))
    val h = 16 + (if (n < 2) 0 else (m.payload(n / 2) & 0x3f))
    MediaMeta(m.media_id, m.kind, w, h, channels = 3, duration_ms = n.toLong * 10)
  }

  def decodeMeta(media: Dataset[Multimodal.MediaRow], batchSize: Int = 64): Dataset[MediaMeta] = {
    implicit val enc = Encoders.product[MediaMeta]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map(decodeMetaStub)))
  }

  /** STUB resize: scales stub metadata, keeps a deterministic byte
    * subsample standing in for re-encoded pixels. */
  def resize(media: Dataset[Multimodal.MediaRow], maxSide: Int,
             batchSize: Int = 64): Dataset[Multimodal.MediaRow] = {
    implicit val enc = Encoders.product[Multimodal.MediaRow]
    media.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map { m =>
      val keep = math.max(1, math.min(m.payload.length, maxSide * maxSide / 16))
      m.copy(payload = m.payload.take(keep))
    }))
  }

  /** STUB frame sampling: every `stride`-th byte window becomes a
    * "frame" (a real impl seeks keyframes). Emits (media, frame_idx,
    * bytes) — the explode shape video pipelines shuffle on. */
  def frameSample(media: Dataset[Multimodal.MediaRow], stride: Int,
                  frameBytes: Int = 32): Dataset[Frame] = {
    implicit val enc = Encoders.product[Frame]
    media.flatMap { m =>
      m.payload.grouped(stride).zipWithIndex.collect {
        case (chunk, idx) if idx % 2 == 0 =>
          Frame(m.media_id, idx, chunk.take(frameBytes))
      }
    }
  }
}
