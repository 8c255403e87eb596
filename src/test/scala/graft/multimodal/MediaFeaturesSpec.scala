package graft.multimodal

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.multimodal.MediaFeatures._

class MediaFeaturesSpec extends SparkSpec {

  /** One row per media object, the shape [[MediaFeatures.MediaRow]]
    * decodes.
    */
  private val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),   // image | audio | video
    StructField("uri", StringType),
    StructField("content", BinaryType),
    StructField("meta_width", IntegerType),
    StructField("meta_height", IntegerType),
    StructField("meta_sample_rate", IntegerType)))

  private def mediaDf = {
    val bytes = (0 until 4096).map(i => ((i * 31 + 7) % 256).toByte).toArray
    val rows = Seq(
      Row(1L, "image", "mem://a.png", bytes, 640, 480, null),
      Row(2L, "audio", "mem://b.wav", bytes.take(1600), null, null, 16000),
      Row(3L, "video", "mem://c.mp4", bytes ++ bytes, null, null, null),
      Row(4L, "image", "mem://d.png", Array.emptyByteArray, null, null, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), mediaSchema)
  }

  test("feature extraction: histogram partitions the bytes, sha is stable") {
    val feats = extractFeatures(mediaDf).collect().sortBy(_.media_id)
    assert(feats.length == 4)
    feats.foreach(f => assert(f.histogram.sum == f.byte_len))
    assert(feats(0).width == 640 && feats(0).height == 480) // metadata wins
    assert(feats(1).duration_ms == 100)                     // 1600/16 stub
    assert(feats(3).byte_len == 0 && feats(3).mean_byte == 0.0)
    // Deterministic: same input → same sha
    val again = extractFeatures(mediaDf).collect().sortBy(_.media_id)
    assert(feats.map(_.sha256).toSeq == again.map(_.sha256).toSeq)
  }

  test("codec stubs: frame sampling strides blocks, resize bounds output") {
    val bytes = Array.fill[Byte](10240)(1)
    assert(Codec.sampleFrames(bytes, 3).length == 4) // blocks 0,3,6,9
    assert(Codec.resize(bytes, 64, 64).length <= bytes.length)
  }

  /** A real w×h image: red ramps left→right (x·255/(w-1)), green 80,
    * blue 200 — encoded losslessly so decoded channel means are exact.
    */
  private def encodedImage(fmt: String, w: Int, h: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y,
        new java.awt.Color(x * 255 / math.max(w - 1, 1), 80, 200).getRGB)
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(im, fmt, buf), s"no $fmt writer")
    buf.toByteArray
  }

  test("real decode: PNG and BMP fixtures yield exact dimensions and channel means") {
    // red samples 0,63,127,191,255 → mean 127.2; green/blue constant
    for (fmt <- Seq("png", "bmp")) {
      val d = Codec.decode("image", encodedImage(fmt, 5, 4))
      assert(d.width == 5 && d.height == 4, s"$fmt dims")
      assert(d.channels == 3, s"$fmt channels")
      assert(math.abs(d.channelMean(0) - 127.2) < 1e-9, s"$fmt red mean ${d.channelMean(0)}")
      assert(math.abs(d.channelMean(1) - 80.0) < 1e-9, s"$fmt green mean")
      assert(math.abs(d.channelMean(2) - 200.0) < 1e-9, s"$fmt blue mean")
    }
  }

  test("undecodable payloads keep the deterministic stub, even with a magic prefix") {
    // starts with the BMP magic "BM" but is not a BMP — the reader
    // must reject it and the stub values (pseudo dims from length)
    // must come back, byte-stable (the gate corpus is text)
    val fake = "BM hello world, this is just text".getBytes("UTF-8")
    val d = Codec.decode("image", fake)
    assert(d.width == 1 + (fake.length % 1024))
    assert(d.height == 1 + (fake.length / 1024 % 1024))
    assert(d.channels == 0 && d.channelMean.isEmpty)
    // plain text with no magic: same stub, no reader attempted
    val txt = "no magic here".getBytes("UTF-8")
    assert(Codec.decode("image", txt).width == 1 + (txt.length % 1024))
  }

  test("real resize: decodable image re-encoded at target dimensions") {
    val resized = Codec.resize(encodedImage("png", 16, 12), 8, 6)
    // output is a real PNG ...
    assert((resized(0) & 0xff) == 0x89 && resized(1) == 'P'.toByte)
    // ... whose decoded raster is exactly the target size
    val d = Codec.decode("image", resized)
    assert(d.width == 8 && d.height == 6 && d.channels == 3)
    // constant channels survive bilinear resampling exactly
    assert(math.abs(d.channelMean(1) - 80.0) < 1.0)
    assert(math.abs(d.channelMean(2) - 200.0) < 1.0)
  }

  /** A real encoded audio fixture: `frames` frames of 16-bit mono PCM
    * at `rate` Hz (a deterministic sawtooth), written through the
    * JRE's own encoder for the given container type.
    */
  private def encodedAudio(
      tpe: javax.sound.sampled.AudioFileFormat.Type,
      rate: Float,
      frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](frames * 2)
    for (i <- 0 until frames) {
      val v = ((i % 256) - 128).toShort
      pcm(i * 2) = (v & 0xff).toByte
      pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.sound.sampled.AudioSystem.write(ais, tpe, buf) > 0,
      s"no $tpe writer")
    buf.toByteArray
  }

  test("real audio decode: WAV/AIFF/AU fixtures yield exact rate, channels, duration") {
    import javax.sound.sampled.AudioFileFormat.Type
    // 4000 frames at 8000 Hz = exactly 500 ms
    for (tpe <- Seq(Type.WAVE, Type.AIFF, Type.AU)) {
      val d = Codec.decode("audio", encodedAudio(tpe, 8000f, 4000))
      assert(d.sampleRate == 8000, s"$tpe rate ${d.sampleRate}")
      assert(d.channels == 1, s"$tpe channels")
      assert(d.durationMs == 500, s"$tpe duration ${d.durationMs}")
    }
    // a different rate/length pins the arithmetic, not a constant:
    // 22050 frames at 44100 Hz = exactly 500 ms; 11025 → 250 ms
    val d2 = Codec.decode("audio", encodedAudio(Type.WAVE, 44100f, 11025))
    assert(d2.sampleRate == 44100 && d2.durationMs == 250)
  }

  test("undecodable audio keeps the deterministic stub, even with a RIFF prefix") {
    val fake = "RIFF but not really a wav file at all".getBytes("UTF-8")
    val d = Codec.decode("audio", fake)
    assert(d.durationMs == fake.length / 16 && d.sampleRate == 0)
    val txt = "plain text audio payload".getBytes("UTF-8")
    assert(Codec.decode("audio", txt).durationMs == txt.length / 16)
  }

  test("extractFeatures uses the real decode for audio payloads") {
    val wav = encodedAudio(
      javax.sound.sampled.AudioFileFormat.Type.WAVE, 16000f, 8000)
    val rows = Seq(Row(10L, "audio", "mem://real.wav", wav, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), mediaSchema)
    val f = extractFeatures(df).collect().head
    assert(f.duration_ms == 500) // 8000 frames / 16 kHz, not byte-length stub
    assert(f.byte_len == wav.length)
  }

  // ---- video container-header fixtures: hand-assembled MP4 / AVI
  // headers with known integer fields, so expected duration/dims are
  // exact arithmetic, not constants read back from a library.
  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
  private def le32(v: Long): Array[Byte] = be32(v).reverse
  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ typ.getBytes("US-ASCII") ++ payload

  /** Minimal valid MP4: ftyp + moov(mvhd, trak(tkhd)). */
  private def mp4Fixture(version: Int): Array[Byte] = {
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0) ++ "isom".getBytes)
    val mvhd =
      if (version == 1) {
        // v1: ver/flags, c(8), m(8), timescale 90000, duration 450000
        val p = Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
          be32(90000) ++ be64(450000)
        box("mvhd", p)
      } else {
        // v0: ver/flags, c(4), m(4), timescale 600, duration 3000,
        // zero-padded to the standard 100-byte payload
        val p = new Array[Byte](100)
        be32(600).copyToArray(p, 12)
        be32(3000).copyToArray(p, 16)
        box("mvhd", p)
      }
    val tkhd =
      if (version == 1) { // width at 88, height at 92, 16.16 fixed
        val p = new Array[Byte](96)
        p(0) = 1
        be32(1920L << 16).copyToArray(p, 88)
        be32(1080L << 16).copyToArray(p, 92)
        box("tkhd", p)
      } else {            // width at 76, height at 80
        val p = new Array[Byte](84)
        be32(640L << 16).copyToArray(p, 76)
        be32(360L << 16).copyToArray(p, 80)
        box("tkhd", p)
      }
    ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
  }

  /** Minimal valid AVI: RIFF(AVI ) with LIST(hdrl(avih)). */
  private def aviFixture: Array[Byte] = {
    val avih = new Array[Byte](56)
    le32(33333).copyToArray(avih, 0)  // µs per frame
    le32(300).copyToArray(avih, 16)   // total frames
    le32(320).copyToArray(avih, 32)   // width
    le32(240).copyToArray(avih, 36)   // height
    val hdrl = "hdrl".getBytes("US-ASCII") ++
      "avih".getBytes("US-ASCII") ++ le32(56) ++ avih
    val list = "LIST".getBytes("US-ASCII") ++ le32(hdrl.length.toLong) ++ hdrl
    "RIFF".getBytes("US-ASCII") ++ le32(4L + list.length) ++
      "AVI ".getBytes("US-ASCII") ++ list
  }

  test("real video metadata: MP4 mvhd/tkhd v0 and v1 yield exact duration and dims") {
    val d0 = Codec.decode("video", mp4Fixture(0))
    assert(d0.durationMs == 5000, s"v0 duration ${d0.durationMs}") // 3000/600 s
    assert(d0.width == 640 && d0.height == 360, s"v0 dims ${d0.width}x${d0.height}")
    val d1 = Codec.decode("video", mp4Fixture(1))
    assert(d1.durationMs == 5000, s"v1 duration ${d1.durationMs}") // 450000/90000 s
    assert(d1.width == 1920 && d1.height == 1080, s"v1 dims ${d1.width}x${d1.height}")
  }

  test("real video metadata: AVI avih yields exact duration and dims") {
    val d = Codec.decode("video", aviFixture)
    assert(d.durationMs == 9999, s"avi duration ${d.durationMs}") // 33333·300/1000 µs→ms
    assert(d.width == 320 && d.height == 240, s"avi dims ${d.width}x${d.height}")
  }

  test("undecodable video keeps the deterministic stub, even with a magic prefix") {
    // claims ftyp but the box size field overruns the payload
    val fake = be32(99) ++ "ftyp".getBytes("US-ASCII") ++ "xx".getBytes
    val d = Codec.decode("video", fake)
    assert(d.durationMs == fake.length / 128 && d.width == 640 && d.height == 360)
    // plain text: no parser attempted, same stub (the gate corpus path)
    val txt = "just text standing in for a video".getBytes("UTF-8")
    val dt = Codec.decode("video", txt)
    assert(dt.durationMs == txt.length / 128 && dt.width == 640 && dt.height == 360)
  }

  test("extractFeatures uses the real decode for video payloads") {
    val mp4 = mp4Fixture(0)
    val rows = Seq(Row(11L, "video", "mem://real.mp4", mp4, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), mediaSchema)
    val f = extractFeatures(df).collect().head
    assert(f.duration_ms == 5000 && f.width == 640 && f.height == 360)
    assert(f.byte_len == mp4.length)
  }

  test("extractFeatures uses the real decode for image payloads") {
    val png = encodedImage("png", 7, 3)
    val rows = Seq(Row(9L, "image", "mem://real.png", png, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), mediaSchema)
    val f = extractFeatures(df).collect().head
    assert(f.width == 7 && f.height == 3) // raster, not byte-length stub
    assert(f.byte_len == png.length)
  }
}
