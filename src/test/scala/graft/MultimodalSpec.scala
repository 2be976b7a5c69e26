package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** The gated media codecs: real PNG/GIF/WAV/MP3 encode→decode cycles over
  * binary columns, checked against hand-computed pixels, samples and
  * frame layouts (JDK codecs only, no media libraries). */
class MultimodalSpec extends SparkSpec {

  test("PNG codec: known image round-trips pixels exactly through the JDK") {
    import Multimodal.PngCodec
    // 5 rows of 3 pixels with every interesting value class.
    val bytes = Array[Byte](0, 1, 127, -128, -1, 64, 65, 66, 67, 7, 8, 9, 10, 11, 12)
    val png = PngCodec.encodeGray(bytes, width = 3)
    // Full decode returns the exact unsigned byte values (gray8 lossless).
    val img = PngCodec.decode(png).get
    assert(img.getWidth == 3 && img.getHeight == 5)
    assert(PngCodec.grayPixels(img).toSeq == bytes.map(_ & 0xff).toSeq)
  }

  test("imageResizeProbe: nearest-neighbor index map, hand-checked on a known raster") {
    import spark.implicits._
    // 128 'A's: source raster 64×2, every in-payload pixel = 65. 16×16 dst:
    // srcY = y*2/16 ∈ {0,1} (rows 0-7 → 0, 8-15 → 1), srcX = x*4 — all
    // sampled indices < 128, so every dst pixel is 65.
    val docs = Seq((1L, "A" * 128), (2L, "B" * 10)).toDF("doc_id", "text")
    val got = rows(Multimodal.imageResizeProbe(docs).orderBy("doc_id"))
    assert(got(0) == Seq(1L, 16L, 16L, 256L * 65L, 256L))
    // 10 'B's: srcH = 1, srcX = x*4 → indices 0,4,8 < 10 hit 'B' (66) in
    // each of the 16 identical rows; the rest are zero padding
    assert(got(1) == Seq(2L, 16L, 16L, 16L * 3L * 66L, 16L * 3L))
  }

  test("pngRoundTrip: decoded dims and nonzero pixels match the byte math") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").limit(20)
    val got = Multimodal.pngRoundTrip(docs)
      .join(docs.select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n")), Seq("doc_id"))
    assert(got.filter(col("png_w") =!= 64L).count() == 0)
    assert(got.filter(col("png_h") =!=
      greatest(lit(1L), ((col("n") + 63L) / 64L).cast("long"))).count() == 0)
    assert(got.filter(col("n_payload_bytes") =!= col("n")).count() == 0)
  }

  test("GIF: real multi-frame decode — frame pixels exact, garbage degrades") {
    import Multimodal.GifCodec
    def gray(v: Int) = {
      val img = new java.awt.image.BufferedImage(
        4, 2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (x <- 0 until 4; y <- 0 until 2) img.getRaster.setSample(x, y, 0, v)
      img
    }
    val reader = GifCodec.newReader()
    val gif = GifCodec.encodeFramesWith(GifCodec.newWriter(),
      Seq(gray(10), gray(80), gray(160), gray(240)))
    assert(GifCodec.isGif(gif))
    // every animated frame decodes with its own pixel values
    val frames = GifCodec.decodeFramesWith(reader, gif)
    assert(frames.size == 4)
    assert(frames.map(_.getRGB(0, 0) & 0xff) == Seq(10, 80, 160, 240))
    // garbage behind a GIF signature must degrade to no frames, never
    // throw, and leave the reader usable
    assert(GifCodec.decodeFramesWith(reader, "GIF89a".getBytes ++ new Array[Byte](20)).isEmpty)
    assert(GifCodec.decodeFramesWith(reader, gif).size == 4)
  }

  test("WAV codec: PCM16 round-trips samples exactly; chunk walk survives LIST chunks") {
    import Multimodal.WavCodec
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 0, -1, 1)
    val wav = WavCodec.encodePcm16(samples, 8000)
    assert(WavCodec.isWav(wav))
    val (rate, ch, got) = WavCodec.decodePcm16(wav).get
    assert(rate == 8000 && ch == 1 && got.toSeq == samples.toSeq)
    // an extra LIST chunk between fmt and data must not break the walk
    val fmtAndHeader = wav.slice(0, 36)           // RIFF..fmt chunk
    val dataChunk = wav.slice(36, wav.length)
    val listChunk = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
    val withList = fmtAndHeader ++ listChunk ++ dataChunk
    val (r2, _, got2) = WavCodec.decodePcm16(withList).get
    assert(r2 == 8000 && got2.toSeq == samples.toSeq)
    // torn payload → None, not garbage
    assert(WavCodec.decodePcm16(wav.dropRight(3)).isEmpty)
  }

  test("audioFeatures: exact integer features from a real decode; non-WAV rows go NULL") {
    import spark.implicits._
    import Multimodal.WavCodec
    // alternating ±1000: 7 sign changes, sum_sq = 8e6, peak = 1000
    val s = Array.tabulate[Short](8)(i => (if (i % 2 == 0) 1000 else -1000).toShort)
    val wav = WavCodec.encodePcm16(s, 4000)
    // a STEREO file with the same interleaved stream: half the frames, so
    // half the duration — energy stats unchanged (channel-agnostic)
    val stereo = WavCodec.encodePcm16(s, 4000, channels = 2)
    val media = Seq((1L, "audio", wav), (2L, "audio", Array[Byte](1, 2, 3)),
      (3L, "audio", stereo)).toDF("media_id", "kind", "payload")
    val got = rows(Multimodal.audioFeatures(media).orderBy("media_id"))
    assert(got(0) == Seq(1L, 4000, 1, 8L, 2L, 1000L, 8000000L, 1000.0, 7L))
    assert(got(1) == Seq(2L, null, null, null, null, null, null, null, null))
    assert(got(2) == Seq(3L, 4000, 2, 8L, 1L, 1000L, 8000000L, 1000.0, 7L))
  }

  test("audioDecimate: every k-th sample, recode proof, stereo/indivisible go NULL") {
    import spark.implicits._
    import Multimodal.WavCodec
    // 0, 100, -200, 300, -400, 500, -600, 700; factor 2 keeps indices 0,2,4,6
    val s = Array.tabulate[Short](8)(i =>
      (if (i == 0) 0 else (if (i % 2 == 0) -1 else 1) * i * 100).toShort)
    val wav = WavCodec.encodePcm16(s, 8000)
    val stereo = WavCodec.encodePcm16(s, 8000, channels = 2)
    val odd = WavCodec.encodePcm16(s, 9001) // 9001 % 2 != 0
    val media = Seq((1L, "audio", wav), (2L, "audio", stereo),
      (3L, "audio", odd)).toDF("media_id", "kind", "payload")
    val got = rows(Multimodal.audioDecimate(media, 2).orderBy("media_id"))
    // kept: 0, -200, -400, -600 → peak 600, sum_sq 560000; zc 1: the
    // 0→-200 step flips the (v < 0) predicate (0 counts as non-negative)
    assert(got(0) == Seq(1L, 2, 4000, 8L, 4L, 600L, 560000L, 1L, true))
    assert(got(1) == Seq(2L, 2, null, null, null, null, null, null, null))
    assert(got(2) == Seq(3L, 2, null, null, null, null, null, null, null))
  }

  test("MP3 frame layer: synth stream walks back frame-exact; VBR lengths differ") {
    import graft.multimodal.Multimodal.Mp3Codec
    // 3 frames → bitrates 128/160/192, frame lengths 417/522/626
    val payload = Array.tabulate(150)(_.toByte)
    val b = Mp3Codec.encode(payload)
    assert(b.length == 417 + 522 + 626, "VBR frame lengths must differ per frame")
    val s = Mp3Codec.frameWalk(b).get
    assert(s.nFrames == 3 && s.sampleRate == 44100 && s.vbr)
    assert(s.minKbps == 128 && s.maxKbps == 192)
    assert(s.durationMs == 3L * 1152 * 1000 / 44100) // 78 ms, frame-exact
    // single-frame stream: CBR, no VBR flag
    val one = Mp3Codec.frameWalk(Mp3Codec.encode(Array[Byte](1, 2, 3))).get
    assert(one.nFrames == 1 && !one.vbr && one.minKbps == 128)
    // junk is rejected
    assert(Mp3Codec.frameWalk("not an mp3 stream at all".getBytes).isEmpty)
  }

  test("imageDHash: 32-bit words, equal images hash equal, gradient flip flips bits") {
    import spark.implicits._
    // doc 0 and 1 identical; doc 2 is doc 0 character-reversed (gradients
    // flip); doc 3 is flat (all-equal pixels → no strict > → hash 0)
    val base = "abcdefghij" * 20
    // doc 3 is exactly 4 full 64-byte rows — a 200-byte payload would leave
    // a padded last row whose m→0 edge sets gradient bits
    val docs = Seq((0L, base), (1L, base), (2L, base.reverse), (3L, "m" * 256))
      .toDF("doc_id", "text")
    val h = Multimodal.imageDHash(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    h.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
    assert(h(0L) == h(1L), "identical payloads must hash identically")
    assert(h(0L) != h(2L), "reversed gradients must change the hash")
    assert(h(3L) == ((0L, 0L)), "flat image has no rising gradients")
    assert(h(0L) != ((0L, 0L)), "a gradient image must set bits")
  }
}
