package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns with typed metadata, processed per-partition in
  * batches — the Spark-side shape a 100 TB media pipeline needs
  * (schema, partitioning, batch iteration) with the codec boundary
  * isolated behind [[Codec]].
  *
  * Image decode/resize are REAL (`javax.imageio`, JRE-native PNG /
  * BMP / GIF / JPEG readers — raster dimensions, channel statistics,
  * bilinear rescale). Audio decode is REAL (`javax.sound.sampled`,
  * JRE-native WAV / AIFF / AU header parsers — sample rate, channels,
  * frame count → exact duration_ms). Video METADATA decode is REAL
  * (zero-dependency MP4 `mvhd`/`tkhd` and AVI `avih` container-header
  * parsing — exact duration_ms, width, height; only frame-content
  * decode still needs an external codec). Undecodable payloads fall
  * back to a clearly-marked deterministic stub: pseudo
  * dimensions/duration from the byte length, so the pipeline stays
  * total and the gate corpus — text bytes standing in for media —
  * stays SQL-reproducible. The surrounding plumbing — schema
  * contract, mapPartitions batch shape, feature row — is identical on
  * all paths; swapping the frame-decode stubs for a javacv/ffmpeg
  * codec changes only [[Codec]].
  */
object MediaFeatures {

  /** Input contract: one row per media object (`media_type` is
    * image | audio | video).
    */
  case class MediaRow(
      media_id: Long,
      media_type: String,
      uri: String,
      content: Array[Byte],
      meta_width: Option[Int],
      meta_height: Option[Int],
      meta_sample_rate: Option[Int])

  case class MediaFeature(
      media_id: Long,
      media_type: String,
      byte_len: Long,
      sha256: String,
      width: Int,
      height: Int,
      duration_ms: Long,
      histogram: Array[Long],   // 16-bucket byte histogram
      mean_byte: Double)

  /** The codec boundary. Image decode is REAL for the formats whose
    * readers ship in the JRE (`javax.imageio`: PNG, BMP, GIF, JPEG,
    * WBMP) — width/height/channel statistics come from the actual
    * decoded raster. Payloads no registered reader accepts (and the
    * audio/video types, for which the JRE has no codec) fall back to
    * the deterministic stub so the pipeline stays total and testable
    * offline; a production deployment swaps the stub branch for a
    * javacv/ffmpeg codec without touching the mapPartitions plumbing.
    */
  object Codec {
    // Executor-side one-time init: ImageIO's default useCache=true
    // writes a disk-cache temp file per decoded payload — per-record
    // /tmp I/O inside the mapPartitions hot path. Decode sources are
    // in-memory byte arrays here, so the cache buys nothing.
    javax.imageio.ImageIO.setUseCache(false)

    final case class Decoded(
        width: Int,
        height: Int,
        durationMs: Long,
        channels: Int = 0,
        channelMean: Array[Double] = Array.empty,
        sampleRate: Int = 0)

    /** Real image decode via the JRE's registered ImageIO readers.
      * Magic-byte pre-check keeps the common non-image payload on a
      * zero-allocation path; a payload that matches a magic but fails
      * to parse (text starting with "BM", truncated PNG) falls back —
      * ImageIO is deterministic for fixed bytes, so so is this.
      */
    private def readImage(
        bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      def magic(sig: Int*): Boolean =
        bytes.length >= sig.length &&
          sig.indices.forall(i => (bytes(i) & 0xff) == sig(i))
      val looksDecodable =
        magic(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a) || // PNG
        magic(0x42, 0x4d) ||                                     // BMP
        magic(0xff, 0xd8, 0xff) ||                               // JPEG
        magic(0x47, 0x49, 0x46, 0x38)                            // GIF8
      if (!looksDecodable) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    }

    private def decodeImage(bytes: Array[Byte]): Option[Decoded] =
      readImage(bytes).map { im =>
        val raster = im.getRaster
        val ch = raster.getNumBands
        val sums = new Array[Double](ch)
        var y = 0
        while (y < im.getHeight) {
          var x = 0
          while (x < im.getWidth) {
            var c = 0
            while (c < ch) { sums(c) += raster.getSample(x, y, c); c += 1 }
            x += 1
          }
          y += 1
        }
        val n = im.getWidth.toDouble * im.getHeight
        Decoded(im.getWidth, im.getHeight, 0L, ch, sums.map(_ / n))
      }

    /** Real audio header decode via the JRE's `javax.sound.sampled`
      * (WAV/AIFF/AIFC/AU/SND parsers ship in the JRE): sample rate,
      * channels, and frame count → exact duration_ms. Magic-byte
      * gated like images — `RIFF`/`FORM`/`.snd` — so the common
      * non-audio payload (the gate corpus's text bytes) never touches
      * the parser; a payload that matches a magic but fails to parse
      * (or has unknown frame length) falls back to the stub.
      */
    private def decodeAudio(bytes: Array[Byte]): Option[Decoded] = {
      def magic(sig: Int*): Boolean =
        bytes.length >= sig.length &&
          sig.indices.forall(i => (bytes(i) & 0xff) == sig(i))
      val looksDecodable =
        magic('R', 'I', 'F', 'F') ||  // WAV
        magic('F', 'O', 'R', 'M') ||  // AIFF / AIFC
        magic('.', 's', 'n', 'd')     // AU / SND
      if (!looksDecodable) None
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val frames = in.getFrameLength
          if (frames < 0 || fmt.getSampleRate <= 0) None
          else Some(Decoded(0, 0,
            durationMs = (frames * 1000.0 / fmt.getSampleRate).toLong,
            channels = fmt.getChannels,
            sampleRate = math.round(fmt.getSampleRate)))
        } finally in.close()
      } catch { case _: Exception => None }
    }

    /** Real video CONTAINER-HEADER decode — duration and dimensions
      * without a codec, because both live in fixed-offset integer
      * fields of the container header: MP4's `mvhd` box carries
      * (timescale, duration) and each track's `tkhd` carries 16.16
      * fixed-point width/height; AVI's `avih` chunk carries
      * µs-per-frame, total frames, width, height. The same
      * zero-dependency, magic-byte-gated byte parsing as the audio
      * path (frame DECODING would still need ffmpeg/javacv — that is
      * what [[resize]]/[[sampleFrames]] stub, not this metadata).
      * Any structural violation (truncated box, corrupt size) returns
      * None → deterministic stub.
      */
    private def decodeVideo(bytes: Array[Byte]): Option[Decoded] = {
      def fourcc(off: Long): String =
        if (off >= 0 && off + 4 <= bytes.length)
          new String(bytes, off.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
        else ""
      def u8(off: Long): Int = bytes(off.toInt) & 0xff
      def ok(off: Long, n: Int): Boolean = off >= 0 && off + n <= bytes.length
      def be32(off: Long): Long =
        (u8(off).toLong << 24) | (u8(off + 1).toLong << 16) |
          (u8(off + 2).toLong << 8) | u8(off + 3).toLong
      def be64(off: Long): Long = (be32(off) << 32) | be32(off + 4)
      def le32(off: Long): Long =
        (u8(off + 3).toLong << 24) | (u8(off + 2).toLong << 16) |
          (u8(off + 1).toLong << 8) | u8(off).toLong

      // ---- MP4 / ISO-BMFF: [size:be32][type:4cc][payload], size==1 →
      // 64-bit largesize follows, size==0 → box runs to container end.
      def mp4Boxes(from: Long, to: Long)(f: (String, Long, Long) => Unit): Unit = {
        var off = from
        while (off + 8 <= to) {
          val sz0 = be32(off)
          val typ = fourcc(off + 4)
          val (hdr, sz) =
            if (sz0 == 1L && off + 16 <= to) (16L, be64(off + 8))
            else if (sz0 == 0L) (8L, to - off)
            else (8L, sz0)
          if (sz < hdr || off + sz > to) return // corrupt — stop walking
          f(typ, off + hdr, off + sz)
          off += sz
        }
      }
      def parseMp4(): Option[Decoded] = {
        var timescale = 0L; var duration = 0L; var w = 0L; var h = 0L
        mp4Boxes(0, bytes.length) {
          case ("moov", ms, me) =>
            mp4Boxes(ms, me) {
              case ("mvhd", s, e) =>
                // v0: ver/flags(4) c(4) m(4) timescale(4) duration(4)
                // v1: ver/flags(4) c(8) m(8) timescale(4) duration(8)
                if (ok(s, 1) && u8(s) == 1 && e - s >= 32) {
                  timescale = be32(s + 20); duration = be64(s + 24)
                } else if (ok(s, 1) && e - s >= 20) {
                  timescale = be32(s + 12); duration = be32(s + 16)
                }
              case ("trak", ts, te) =>
                mp4Boxes(ts, te) {
                  case ("tkhd", s, e) =>
                    // width/height: 16.16 fixed at payload end (after
                    // ids, duration, layer/volume, 36-byte matrix)
                    val wOff = if (ok(s, 1) && u8(s) == 1) s + 88 else s + 76
                    if (wOff + 8 <= e && ok(wOff, 8) && w == 0 && h == 0) {
                      val cw = be32(wOff) >> 16; val ch = be32(wOff + 4) >> 16
                      if (cw > 0 && ch > 0) { w = cw; h = ch }
                    }
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
        if (timescale <= 0) None
        else Some(Decoded(w.toInt, h.toInt, duration * 1000L / timescale))
      }

      // ---- AVI / RIFF: [4cc][size:le32][payload, even-padded]; the
      // `avih` main header lives in LIST/hdrl near the file start.
      def riffChunks(from: Long, to: Long)(f: (String, Long, Long) => Unit): Unit = {
        var off = from
        while (off + 8 <= to) {
          val typ = fourcc(off)
          val sz = le32(off + 4)
          if (off + 8 + sz > to) return // corrupt — stop walking
          f(typ, off + 8, off + 8 + sz)
          off += 8 + sz + (sz & 1) // chunks are even-padded
        }
      }
      def parseAvi(): Option[Decoded] = {
        var out: Option[Decoded] = None
        def scan(from: Long, to: Long): Unit = riffChunks(from, to) {
          case ("LIST", s, e) if fourcc(s) == "hdrl" => scan(s + 4, e)
          case ("avih", s, e) if out.isEmpty && e - s >= 40 =>
            val usPerFrame = le32(s)
            val totalFrames = le32(s + 16)
            out = Some(Decoded(le32(s + 32).toInt, le32(s + 36).toInt,
              usPerFrame * totalFrames / 1000L))
          case _ => ()
        }
        scan(12, bytes.length)
        out
      }

      if (fourcc(4) == "ftyp") parseMp4()
      else if (fourcc(0) == "RIFF" && fourcc(8) == "AVI ") parseAvi()
      else None
    }

    /** Deterministic fallback for payloads no parser accepts — pseudo
      * dimensions/duration from the byte length. Since the video
      * container-header parse landed, NO media type always stubs:
      * images/audio/video fall back only when undecodable (video frame
      * CONTENT — decode/resize — still needs an external codec; its
      * metadata does not).
      */
    private def stubDecode(mediaType: String, bytes: Array[Byte]): Decoded = {
      val n = bytes.length
      mediaType match {
        case "image" => Decoded(width = 1 + (n % 1024), height = 1 + (n / 1024 % 1024), 0L)
        case "audio" => Decoded(0, 0, durationMs = n.toLong / 16)
        case "video" => Decoded(width = 640, height = 360, durationMs = n.toLong / 128)
        case _ => Decoded(0, 0, 0L)
      }
    }

    def decode(mediaType: String, bytes: Array[Byte]): Decoded =
      mediaType match {
        case "image" =>
          decodeImage(bytes).getOrElse(stubDecode(mediaType, bytes))
        case "audio" =>
          decodeAudio(bytes).getOrElse(stubDecode(mediaType, bytes))
        case "video" =>
          decodeVideo(bytes).getOrElse(stubDecode(mediaType, bytes))
        case _ => stubDecode(mediaType, bytes)
      }

    /** Resize: REAL for decodable images — bilinear rescale of the
      * decoded raster, re-encoded as PNG (lossless, JRE-native).
      * Undecodable payloads keep the deterministic stub truncation so
      * the gate corpus (text bytes standing in for media) is
      * SQL-reproducible.
      */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      readImage(bytes) match {
        case Some(im) =>
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(im, 0, 0, w, h, null)
          } finally g.dispose()
          val buf = new java.io.ByteArrayOutputStream()
          val wrote = javax.imageio.ImageIO.write(out, "png", buf)
          require(wrote, "no ImageIO PNG writer registered")
          buf.toByteArray
        case None =>
          bytes.take(math.max(16, math.min(bytes.length, w * h / 64)))
      }

    /** STUB — frame sampling: every `stride`-th 1KiB block stands in
      * for a decoded frame.
      */
    def sampleFrames(bytes: Array[Byte], stride: Int): Seq[Array[Byte]] =
      bytes.grouped(1024).zipWithIndex.collect {
        case (b, i) if i % stride == 0 => b
      }.toSeq
  }

  /** One sampled frame: `frame_idx` counts kept frames (0,1,2… —
    * original block index is `frame_idx * stride`).
    */
  case class FrameFeature(
      media_id: Long,
      frame_idx: Int,
      frame_len: Int,
      frame_sha256: String)

  /** Frame sampling as a distributed flatMap: every media row fans out
    * into its strided frames (the codec stub treats each 1 KiB block
    * as a frame), with one digest instance per partition. The
    * per-frame row is where a real pipeline would attach a vision
    * model's embedding — the fan-out shape, batching and schema are
    * the load-bearing parts at scale.
    */
  def sampleFrameFeatures(media: DataFrame, stride: Int): Dataset[FrameFeature] = {
    implicit val enc = Encoders.product[FrameFeature]
    implicit val rowEnc = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions { rows =>
      val digest = MessageDigest.getInstance("SHA-256")
      rows.flatMap { r =>
        val bytes = if (r.content == null) Array.emptyByteArray else r.content
        Codec.sampleFrames(bytes, stride).zipWithIndex.map { case (f, i) =>
          digest.reset()
          val sha = digest.digest(f).map("%02x".format(_)).mkString
          FrameFeature(r.media_id, i, f.length, sha)
        }
      }
    }
  }

  /** One resized media row: original + post-resize byte lengths, the
    * metadata re-derived by decoding the resized payload, and its
    * digest (the write-side identity of the resized object).
    */
  case class ResizedMedia(
      media_id: Long,
      media_type: String,
      orig_len: Long,
      new_len: Long,
      new_width: Int,
      new_height: Int,
      resized_sha256: String)

  /** Distributed resize: every payload through the codec stub at a
    * target (w, h), metadata refreshed from the resized bytes — the
    * thumbnail/downsample pass of an image pipeline. Per-partition
    * codec/digest instances, rows stream through; at scale the output
    * column replaces `content` in a new table generation rather than
    * mutating in place.
    */
  def resizeAll(media: DataFrame, w: Int, h: Int): Dataset[ResizedMedia] = {
    implicit val enc = Encoders.product[ResizedMedia]
    implicit val rowEnc = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions { rows =>
      val digest = MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        val bytes = if (r.content == null) Array.emptyByteArray else r.content
        val resized = Codec.resize(bytes, w, h)
        val dec = Codec.decode(r.media_type, resized)
        digest.reset()
        val sha = digest.digest(resized).map("%02x".format(_)).mkString
        ResizedMedia(r.media_id, r.media_type, bytes.length.toLong,
          resized.length.toLong, dec.width, dec.height, sha)
      }
    }
  }

  /** Per-partition batch feature extraction. One codec/digest instance
    * per partition (not per row) — the batch shape that amortizes
    * model/codec init at scale; rows stream through without
    * materializing the partition.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeature] = {
    implicit val enc = Encoders.product[MediaFeature]
    implicit val rowEnc = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions { rows =>
      val digest = MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        val bytes = if (r.content == null) Array.emptyByteArray else r.content
        digest.reset()
        val sha = digest.digest(bytes).map("%02x".format(_)).mkString
        val hist = new Array[Long](16)
        var sum = 0L
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          hist(b >> 4) += 1
          sum += b
          i += 1
        }
        val dec = Codec.decode(r.media_type, bytes)
        MediaFeature(
          r.media_id, r.media_type, bytes.length.toLong, sha,
          if (r.meta_width.exists(_ > 0)) r.meta_width.get else dec.width,
          if (r.meta_height.exists(_ > 0)) r.meta_height.get else dec.height,
          dec.durationMs, hist,
          if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length)
      }
    }
  }
}
