package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio payloads as opaque `binary`
  * columns, processed batch-wise with `mapPartitions` (the Scala equivalent
  * of a pandas `mapInPandas` UDF: one JVM-side batch iterator per
  * partition, no per-row launch overhead).
  *
  * Every codec here is REAL and gated: [[PngCodec]]/[[GifCodec]] encode and
  * decode actual PNG/GIF pixels via `javax.imageio`/byte arithmetic,
  * [[WavCodec]] parses and writes real RIFF/WAVE sample frames, and
  * [[Mp3Codec]] synthesizes and walks real MPEG frame headers. Each gate
  * packs a document's text bytes into a payload, runs a genuine codec
  * cycle, and reports facts a SQL oracle re-derives from the text alone.
  *
  * Scale notes: decoding is embarrassingly parallel — a pure map over the
  * media scan. [[spread]] widens a narrow input to every core, because one
  * small parquet file scans as one partition and would serialize the whole
  * per-row codec loop.
  */
object Multimodal {

  /** REAL pixel codec for PNG — the JDK decodes it without external
    * libraries (javax.imageio ships a PNG plugin), so payloads get a true
    * decode (dimensions AND pixels). 8-bit grayscale PNG is lossless, so
    * encode→decode round-trips byte values exactly — the property the
    * q_x_png_roundtrip gate checks. */
  object PngCodec {
    // ImageIO's default stream cache is DISK-backed: every encode/decode of
    // an in-memory byte array would create+delete a temp file — per row,
    // inside mapPartitions, under parallel tasks. Keep it on the heap.
    javax.imageio.ImageIO.setUseCache(false)

    /** Direct spec-valid gray-8 PNG writer (PNG spec §11: IHDR color type
      * 0, filter 0 scanlines, one zlib IDAT, IEND): the JDK's
      * `ImageIO.write(_, "png")` spends most of its time in high-level
      * deflate + writer plumbing PER ROW of a mapPartitions loop, which at
      * sf1 made the encode half of every image gate the constant DuckDB's
      * arithmetic-only oracles never pay. Encoding here is plain byte
      * assembly + one BEST_SPEED deflate; the payload is bit-losslessly
      * the same raster, and the DECODE side (the half that proves codec
      * reality) remains the genuine `ImageIO.read`. */
    private def writeGrayPng(pix: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(64 + pix.length / 2)
      bos.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      val crc = new java.util.zip.CRC32
      def be32(v: Int): Array[Byte] =
        Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
          ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
      def chunk(tag: String, data: Array[Byte]): Unit = {
        bos.write(be32(data.length))
        val t = tag.getBytes("US-ASCII")
        bos.write(t); bos.write(data)
        crc.reset(); crc.update(t); crc.update(data)
        bos.write(be32(crc.getValue.toInt))
      }
      chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 0))
      // filter-0-prefixed scanlines → one zlib stream
      val raw = new Array[Byte](h * (w + 1))
      var y = 0
      while (y < h) {
        System.arraycopy(pix, y * w, raw, y * (w + 1) + 1, w)
        y += 1
      }
      val defl = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      try {
        defl.setInput(raw); defl.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
        val buf = new Array[Byte](8192)
        while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
        chunk("IDAT", out.toByteArray)
      } finally defl.end()
      chunk("IEND", Array.emptyByteArray)
      bos.toByteArray
    }

    /** Deterministic "image of this payload" used by the image gates
      * (PNG: lossless): bytes pack as rows of an 8-bit grayscale image,
      * zero-padded to the last row. */
    def encodeGray(bytes: Array[Byte], width: Int = 64): Array[Byte] = {
      val h = math.max(1, (bytes.length + width - 1) / width)
      val pix = java.util.Arrays.copyOf(bytes, width * h) // zero-padded rows
      writeGrayPng(pix, width, h)
    }

    /** Full decode (not a header sniff). None when the payload is not a
      * decodable image. */
    def decode(png: Array[Byte]): Option[java.awt.image.BufferedImage] =
      scala.util.Try(Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png)))).toOption.flatten

    /** Fresh per-partition PNG reader for [[decodeWith]] — the per-row
      * `ImageIO.read` re-runs the format-sniffing registry scan and
      * allocates a new reader every call; a mapPartitions loop makes one
      * per task instead (plain Java object, GC owns cleanup). */
    def newPngReader(): javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next()

    /** [[decode]] against a caller-owned (per-partition) PNG reader. */
    def decodeWith(reader: javax.imageio.ImageReader,
        png: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(png))
      try {
        reader.setInput(iis, true)
        scala.util.Try(Option(reader.read(0))).toOption.flatten
      } finally { reader.reset(); iis.close() }
    }

    /** PNG-encode an already-decoded image (lossless) — how sampled GIF
      * frames ship as standalone payloads. Grayscale rasters take the
      * direct [[writeGrayPng]] path; anything else falls back to the JDK
      * writer (same bits either way — PNG is lossless). */
    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
        val (w, h) = (img.getWidth, img.getHeight)
        val samples = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
        val pix = new Array[Byte](w * h)
        var i = 0
        while (i < pix.length) { pix(i) = samples(i).toByte; i += 1 }
        writeGrayPng(pix, w, h)
      } else {
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
    }

    /** Luminance samples row-major (first band — exact for grayscale). */
    def grayPixels(img: java.awt.image.BufferedImage): Array[Int] = {
      val (w, h) = (img.getWidth, img.getHeight)
      img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
    }
  }

  /** Little-endian byte readers of the RIFF chunk walk. */
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** REAL multi-frame GIF encode and decode via the JDK writer and reader —
    * animated GIF is the one video-like format the JDK decodes frame by
    * frame (gate q_x_gif_frames). */
  object GifCodec {
    def isGif(b: Array[Byte]): Boolean =
      b != null && b.length >= 13 &&
        b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

    /** Fresh per-partition reader — the per-ROW registry lookup +
      * dispose cycle was a measurable constant of the sf1 gif gate; a
      * mapPartitions loop creates one of these per task and reuses it
      * ([[decodeFramesWith]]). Plain Java object; GC owns cleanup. */
    def newReader(): javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()

    /** Fresh per-partition writer, for [[encodeFramesWith]]. */
    def newWriter(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()

    /** Every frame of a (possibly animated) GIF, read with a caller-owned
      * (per-partition) reader; empty for non-GIF or undecodable payloads —
      * never a partial garbage decode. */
    def decodeFramesWith(reader: javax.imageio.ImageReader,
        b: Array[Byte]): Seq[java.awt.image.BufferedImage] = {
      if (!isGif(b)) return Seq.empty
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        (0 until n).flatMap(i => scala.util.Try(reader.read(i)).toOption)
      } catch { case _: Throwable => Seq.empty }
      finally { reader.reset(); iis.close() }
    }

    /** Deterministic animated-GIF encode (frame sequence writer) with a
      * caller-owned (per-partition) writer. */
    def encodeFramesWith(writer: javax.imageio.ImageWriter,
        frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        // progressive OFF = non-interlaced frames: the JDK writer defaults
        // to interlaced, and its row reordering does not round-trip through
        // every reader path (observed: de-interlacing scrambled row order)
        val param = writer.getDefaultWriteParam
        if (param.canWriteProgressive)
          param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        frames.foreach(img =>
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param))
        writer.endWriteSequence()
      } finally { writer.reset(); ios.close() }
      bos.toByteArray
    }
  }

  /** REAL WAV codec: canonical-header PCM16 encode plus a chunk-WALKING
    * decode — WAV is uncompressed, so both directions are plain byte
    * arithmetic with no codec library, and audio gets a true sample-domain
    * decode. */
  object WavCodec {
    def isWav(b: Array[Byte]): Boolean =
      b != null && b.length >= 44 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

    /** Canonical 44-byte-header PCM16 WAV; `samples` are interleaved when
      * `channels` > 1. */
    def encodePcm16(samples: Array[Short], sampleRate: Int,
        channels: Int = 1): Array[Byte] = {
      require(channels >= 1, "wav: channels must be >= 1")
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
        .putInt(16).putShort(1).putShort(channels.toShort) // PCM
        .putInt(sampleRate).putInt(sampleRate * 2 * channels) // byte rate
        .putShort((2 * channels).toShort).putShort(16) // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    /** (sampleRate, nChannels, interleaved samples) from a PCM16 WAV. Walks
      * the CHUNK LIST rather than assuming fmt-then-data at fixed offsets,
      * so files carrying LIST/fact/cue chunks (common in the wild) parse
      * too; chunks are word-aligned per the RIFF spec. None for non-WAV,
      * non-PCM16, or torn payloads — never a garbage decode. */
    def decodePcm16(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      if (!isWav(b)) return None
      var fmt = -1; var channels = -1; var rate = -1; var bits = -1
      var data: Array[Short] = null
      var i = 12
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val len = le32(b, i + 4)
        if (len < 0 || i + 8 + len > b.length) return None // torn chunk
        if (id == "fmt " && len >= 16) {
          fmt = le16(b, i + 8); channels = le16(b, i + 10)
          rate = le32(b, i + 12); bits = le16(b, i + 22)
        } else if (id == "data") {
          val n = len / 2
          val out = new Array[Short](n)
          var j = 0
          while (j < n) {
            out(j) = ((b(i + 8 + 2 * j) & 0xff) | (b(i + 9 + 2 * j) << 8)).toShort
            j += 1
          }
          data = out
        }
        i += 8 + len + (len & 1)
      }
      if (fmt == 1 && bits == 16 && rate > 0 && channels > 0 && data != null)
        Some((rate, channels, data))
      else None
    }
  }

  /** MPEG-1 Layer III FRAME layer (headers + frame boundaries): a real
    * synthesizer/walker pair over the documented 32-bit frame headers.
    * `encode` emits a VALID VBR stream (legal sync/bitrate/sample-rate
    * fields, exact frame lengths) carrying an arbitrary payload in the
    * frame bodies; `frameWalk` re-derives frame count, per-frame bitrates
    * and the frame-exact duration by walking every header. This is the
    * whole metadata layer of the format; the entropy-coded SAMPLE decode
    * (Huffman + IMDCT + synthesis filterbank) is not implemented. */
  object Mp3Codec {
    val SampleRate = 44100
    val SamplesPerFrame = 1152
    /** VBR bitrate cycle by frame index; MPEG-1 L3 table indices 9/10/11. */
    private val KbpsCycle = Array(128, 160, 192)
    private val BrIndexOf = Map(128 -> 9, 160 -> 10, 192 -> 11)
    private val PayloadPerFrame = 64

    private def frameLen(kbps: Int): Int = 144 * kbps * 1000 / SampleRate

    /** MPEG-1 Layer III header tables (bitrate kbps by index; sample rate
      * by index) — the constants every MP3 tool ships. */
    private val Mp3Bitrates =
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    private val Mp3Rates = Array(44100, 48000, 32000)
    private def Mp3BitrateAt(idx: Int): Int = Mp3Bitrates(idx)
    private def Mp3RateAt(idx: Int): Int = Mp3Rates(idx)

    /** MPEG-1 Layer III header test at offset `i` (sync bits + legal
      * bitrate/sample-rate indices). Returns the frame byte length, or -1. */
    private def mp3FrameLenAt(b: Array[Byte], i: Int): Int = {
      if (i + 4 > b.length ||
          (b(i) & 0xff) != 0xff || (b(i + 1) & 0xe0) != 0xe0) return -1
      val version = (b(i + 1) >> 3) & 3 // 3 = MPEG-1
      val layer = (b(i + 1) >> 1) & 3 // 1 = Layer III
      val brIdx = (b(i + 2) >> 4) & 0xf
      val srIdx = (b(i + 2) >> 2) & 3
      val padding = (b(i + 2) >> 1) & 1
      if (version != 3 || layer != 1 || brIdx < 1 || brIdx > 14 || srIdx >= 3) -1
      else 144 * Mp3Bitrates(brIdx) * 1000 / Mp3Rates(srIdx) + padding
    }

    /** ceil(len/64) frames, at least one; frame j carries payload slice j
      * zero-padded into a body sized by its cycling bitrate. */
    def encode(payload: Array[Byte]): Array[Byte] = {
      val nFrames = math.max(1, (payload.length + PayloadPerFrame - 1) / PayloadPerFrame)
      val out = new java.io.ByteArrayOutputStream()
      var off = 0
      var j = 0
      while (j < nFrames) {
        val kbps = KbpsCycle(j % KbpsCycle.length)
        // sync(11) version=MPEG1 layer=III protection=1 → FF FB; then
        // bitrateIdx<<4 | srIdx(00=44.1k)<<2 | padding 0
        out.write(Array[Byte](0xff.toByte, 0xfb.toByte,
          (BrIndexOf(kbps) << 4).toByte, 0.toByte))
        val body = new Array[Byte](frameLen(kbps) - 4)
        val n = math.max(0, math.min(PayloadPerFrame, payload.length - off))
        if (n > 0) System.arraycopy(payload, off, body, 0, n)
        off += PayloadPerFrame
        out.write(body)
        j += 1
      }
      out.toByteArray
    }

    final case class Mp3Stats(nFrames: Long, sampleRate: Int, durationMs: Long,
        minKbps: Int, maxKbps: Int, vbr: Boolean)

    /** Walk every frame header from the stream start (after an ID3v2 tag if
      * present). Exact duration = nFrames·1152/rate — the real number, not
      * a first-frame CBR estimate. Returns None when no valid frame starts
      * the stream. */
    def frameWalk(b: Array[Byte]): Option[Mp3Stats] = {
      var i = 0
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
        i = 10 + (((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
          ((b(8) & 0x7f) << 7) | (b(9) & 0x7f))
      var n = 0L
      var minK = Int.MaxValue
      var maxK = 0
      var rate = -1
      while (i + 4 <= b.length && mp3FrameLenAt(b, i) > 0) {
        val kbps = Mp3BitrateAt((b(i + 2) >> 4) & 0xf)
        if (rate < 0) rate = Mp3RateAt((b(i + 2) >> 2) & 3)
        n += 1
        if (kbps < minK) minK = kbps
        if (kbps > maxK) maxK = kbps
        i += mp3FrameLenAt(b, i)
      }
      if (n == 0) None
      else Some(Mp3Stats(n, rate,
        n * SamplesPerFrame * 1000L / rate, minK, maxK, minK != maxK))
    }
  }

  /** CPU-bound codec passes need every core: a small corpus (one parquet
    * file under maxPartitionBytes) scans as ONE partition, which serializes
    * the whole per-row codec loop on a single thread — measured as the
    * dominant cost of every image gate at sf1. Repartition UP to the
    * session's default parallelism when the input is narrower; an input
    * already wider (the 100 TB case: thousands of scan splits) passes
    * through untouched, so no data-sized shuffle is ever added at scale. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** PNG round-trip probe over a text corpus: each document's UTF-8 bytes
    * are packed into a grayscale PNG ([[PngCodec.encodeGray]]), pushed
    * through a REAL encode→decode cycle, and reported as decoded facts —
    * (doc_id, png_w, png_h, n_payload_bytes), where n_payload_bytes counts
    * nonzero decoded pixels (UTF-8 text contains no NUL bytes; padding is
    * the only zero). All three outputs are pure arithmetic over the byte
    * length, so a SQL oracle can check that a genuine codec pass — not a
    * stub — preserved the payload exactly. */
  def pngRoundTrip(docs: DataFrame, width: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("png_w", LongType, nullable = false),
      StructField("png_h", LongType, nullable = false),
      StructField("n_payload_bytes", LongType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .mapPartitions { it =>
        val reader = PngCodec.newPngReader() // one per task, not per row
        it.map { r =>
          val png = PngCodec.encodeGray(r.getAs[Array[Byte]]("payload"), width)
          val img = PngCodec.decodeWith(reader, png).getOrElse(
            throw new IllegalStateException("undecodable PNG emitted by encodeGray"))
          val nonzero = PngCodec.grayPixels(img).count(_ != 0).toLong
          Row(r.getLong(0), img.getWidth.toLong, img.getHeight.toLong, nonzero)
        }
      }(enc)
  }

  /** Perceptual difference-hash (dHash) of each document's image through a
    * REAL codec cycle: bytes pack into a grayscale PNG, a genuine decode
    * yields the raster, a 9×8 nearest-neighbor thumbnail (the standard
    * dHash grid — 9 columns so each of the 8 rows yields 8 horizontal
    * gradient comparisons) reduces it, and bit k = y·8+x is set iff
    * thumb(x,y) > thumb(x+1,y). The 64 bits ship as TWO non-negative
    * BIGINT words (`phash_lo` = bits 0–31, `phash_hi` = bits 32–63) — one
    * int64 would put bit 63 in the sign position, where Spark wraps and
    * DuckDB widens to HUGEINT, breaking cross-engine equality (the same
    * word-split device as Pca.int128Words).
    *
    * Near-duplicate IMAGES then dedup exactly like near-duplicate text:
    * equal words = visually-identical-up-to-thumbnail (group or join on
    * (hi, lo)); Hamming-near variants band the words like SimHash. All
    * integer arithmetic — an oracle re-derives every bit from the payload
    * (ASCII corpus: byte ≡ char code, enforced by the caller's filter).
    * mapPartitions batch shape, pure map at 100 TB. */
  def imageDHash(docs: DataFrame, width: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("phash_hi", LongType, nullable = false),
      StructField("phash_lo", LongType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val (dstW, dstH) = (9, 8)
    spread(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .mapPartitions { it =>
        val reader = PngCodec.newPngReader() // one per task, not per row
        it.map { r =>
          val png = PngCodec.encodeGray(r.getAs[Array[Byte]]("payload"), width)
          val img = PngCodec.decodeWith(reader, png).getOrElse(
            throw new IllegalStateException("undecodable PNG emitted by encodeGray"))
          val src = PngCodec.grayPixels(img)
          val (srcW, srcH) = (img.getWidth, img.getHeight)
          val thumb = Array.tabulate(dstH, dstW)((y, x) =>
            src((y * srcH / dstH) * srcW + (x * srcW / dstW)))
          var hi = 0L; var lo = 0L
          var y = 0
          while (y < dstH) {
            var x = 0
            while (x < dstW - 1) {
              if (thumb(y)(x) > thumb(y)(x + 1)) {
                val k = y * 8 + x
                if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
              }
              x += 1
            }
            y += 1
          }
          Row(r.getLong(0), hi, lo)
        }
      }(enc)
  }

  /** Nearest-neighbor image resize through REAL codec cycles: each
    * document's bytes pack into a grayscale PNG, a GENUINE decode yields
    * the source raster, the nearest-neighbor map (srcY = ⌊y·srcH/dstH⌋,
    * srcX = ⌊x·srcW/dstW⌋ — pure integer arithmetic, the thumbnailing
    * transform of a multimodal ingest) produces the dst raster, and the
    * RESIZED image is re-encoded and decoded AGAIN before any number is
    * reported — both the input and the output ride real codec passes, so
    * neither half can be stubbed. Reported pixel sums are exact integers
    * an oracle re-derives from the text alone (ASCII corpus: byte ≡ char
    * code, enforced by the caller's filter). mapPartitions batch shape,
    * pure map at 100 TB. */
  def imageResizeProbe(docs: DataFrame, width: Int = 64,
      dstW: Int = 16, dstH: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("dst_w", LongType, nullable = false),
      StructField("dst_h", LongType, nullable = false),
      StructField("pixel_sum", LongType, nullable = false),
      StructField("n_nonzero", LongType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .mapPartitions { it =>
        val reader = PngCodec.newPngReader() // one per task, not per row
        it.map { r =>
          val png = PngCodec.encodeGray(r.getAs[Array[Byte]]("payload"), width)
          val img = PngCodec.decodeWith(reader, png).getOrElse(
            throw new IllegalStateException("undecodable PNG emitted by encodeGray"))
          val src = PngCodec.grayPixels(img)
          val (srcW, srcH) = (img.getWidth, img.getHeight)
          val out = new java.awt.image.BufferedImage(
            dstW, dstH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = out.getRaster
          var y = 0
          while (y < dstH) {
            var x = 0
            while (x < dstW) {
              raster.setSample(x, y, 0, src((y * srcH / dstH) * srcW + (x * srcW / dstW)))
              x += 1
            }
            y += 1
          }
          val decoded = PngCodec.decodeWith(reader, PngCodec.encodePng(out)).getOrElse(
            throw new IllegalStateException("undecodable PNG emitted by resize"))
          val px = PngCodec.grayPixels(decoded)
          Row(r.getLong(0), decoded.getWidth.toLong, decoded.getHeight.toLong,
            px.map(_.toLong).sum, px.count(_ != 0).toLong)
        }
      }(enc)
  }

  /** Sample-domain audio features over a media frame: WAV payloads get a
    * REAL decode
    * ([[WavCodec.decodePcm16]]) and per-payload statistics; non-WAV rows
    * keep their id with NULL features (the honest "needs a codec we don't
    * have" marker, not a fake number). All features are deterministic
    * integer arithmetic except `rms`, one correctly-rounded IEEE
    * sqrt-of-exact-ratio — so results are bit-identical across engines.
    * Zero-crossing rule: sign change between consecutive interleaved
    * samples, negative vs non-negative. mapPartitions batch shape, same as
    * every decode here — at 100 TB this is a pure map over the media scan. */
  def audioFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType),
      StructField("n_channels", IntegerType),
      StructField("n_samples", LongType),
      StructField("duration_ms", LongType),
      StructField("peak", LongType),
      StructField("sum_sq", LongType),
      StructField("rms", DoubleType),
      StructField("n_zero_crossings", LongType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(media.select("media_id", "payload")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        WavCodec.decodePcm16(r.getAs[Array[Byte]]("payload")) match {
          case Some((rate, channels, s)) =>
            var sumSq = 0L; var peak = 0L; var zc = 0L
            var i = 0
            while (i < s.length) {
              val v = s(i).toLong
              sumSq += v * v
              val a = math.abs(v); if (a > peak) peak = a
              if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
              i += 1
            }
            val n = s.length.toLong
            val rms = if (n > 0) math.sqrt(sumSq.toDouble / n) else 0.0
            // duration counts FRAMES (interleaved samples / channels) —
            // a stereo second is one second, not two; energy/peak/zc stay
            // over the interleaved stream (documented channel-agnostic)
            Row(id, rate, channels, n, n * 1000L / (rate.toLong * channels),
              peak, sumSq, rms, zc)
          case None => Row(id, null, null, null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Integer sample-rate reduction (decimation without an anti-alias
    * filter — the exact-arithmetic downsample): keep every `factor`-th
    * PCM16 sample, re-encode as a REAL WAV at rate/factor, and emit the
    * decimated stream's statistics plus a `recoded_ok` proof that the
    * re-encoded payload decodes back to the identical sample vector (the
    * codec cycle is in the hot path, not just the synth fixture). The
    * 16 kHz→8 kHz-style normalization every audio-corpus pipeline runs
    * before feature extraction, kept filter-free so a SQL oracle can
    * replay every output from the source samples. mapPartitions because
    * nothing short of a codec decodes RIFF chunks; one pass per payload,
    * no shuffles. Requires rate divisible by `factor`; non-WAV rows
    * surface as null-stat rows (same contract as [[audioFeatures]]). */
  def audioDecimate(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("factor", IntegerType, nullable = false),
      StructField("sample_rate_out", IntegerType),
      StructField("n_samples_in", LongType),
      StructField("n_samples_out", LongType),
      StructField("peak", LongType),
      StructField("sum_sq", LongType),
      StructField("n_zero_crossings", LongType),
      StructField("recoded_ok", BooleanType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(media.select("media_id", "payload")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        WavCodec.decodePcm16(r.getAs[Array[Byte]]("payload")) match {
          case Some((rate, channels, s)) if channels == 1 && rate % factor == 0 =>
            val dec = Array.tabulate((s.length + factor - 1) / factor)(i =>
              s(i * factor))
            var sumSq = 0L; var peak = 0L; var zc = 0L
            var i = 0
            while (i < dec.length) {
              val v = dec(i).toLong
              sumSq += v * v
              val a = math.abs(v); if (a > peak) peak = a
              if (i > 0 && ((dec(i - 1) < 0) != (v < 0))) zc += 1
              i += 1
            }
            val recoded = WavCodec.decodePcm16(
              WavCodec.encodePcm16(dec, rate / factor))
            val ok = recoded.exists { case (r2, c2, s2) =>
              r2 == rate / factor && c2 == 1 && java.util.Arrays.equals(s2, dec)
            }
            Row(id, factor, rate / factor, s.length.toLong, dec.length.toLong,
              peak, sumSq, zc, ok)
          case _ =>
            Row(id, factor, null, null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Deterministic synthetic WAV media from a text corpus: each document's
    * UTF-8 bytes become PCM16 samples ((byte − 128) · 256 — the standard
    * u8→s16 PCM widening) wrapped in a REAL canonical WAV. The gate pairs
    * this with [[audioFeatures]]: a genuine encode→chunk-walk→decode cycle
    * whose outputs a SQL oracle reproduces from the text alone. */
  def wavSynth(docs: DataFrame, sampleRate: Int = 8000): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .mapPartitions { it =>
        it.map { r =>
          val bytes = r.getAs[Array[Byte]]("payload")
          val samples = Array.tabulate(bytes.length)(i =>
            (((bytes(i) & 0xff) - 128) * 256).toShort)
          Row(r.getLong(0), "audio", WavCodec.encodePcm16(samples, sampleRate))
        }
      }(enc)
  }

  /** Deterministic synthetic MP3 media from a text corpus: each document's
    * UTF-8 bytes ride the frame bodies of a REAL VBR MPEG-1 Layer III
    * stream ([[Mp3Codec.encode]] — legal headers, exact frame lengths).
    * Pairs with [[mp3FrameStats]] for an encode→frame-walk cycle whose
    * outputs a SQL oracle reproduces from the byte length alone. */
  def mp3Synth(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .mapPartitions { it =>
        it.map(r => Row(r.getLong(0), "audio",
          Mp3Codec.encode(r.getAs[Array[Byte]]("payload"))))
      }(enc)
  }

  /** Frame-walk every MP3 payload ([[Mp3Codec.frameWalk]]): frame count,
    * sample rate, frame-exact duration, bitrate band, VBR flag. Unparseable
    * payloads yield NULL stats (one row per input either way). */
  def mp3FrameStats(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_frames", LongType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType),
      StructField("min_kbps", IntegerType),
      StructField("max_kbps", IntegerType),
      StructField("vbr", BooleanType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(media.select("media_id", "payload")).mapPartitions { it =>
      it.map { r =>
        Mp3Codec.frameWalk(r.getAs[Array[Byte]]("payload")) match {
          case Some(s) => Row(r.getLong(0), s.nFrames, s.sampleRate,
            s.durationMs, s.minKbps, s.maxKbps, s.vbr)
          case None => Row(r.getLong(0), null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Animated-GIF round-trip probe over a text corpus — the multi-frame
    * sibling of [[pngRoundTrip]]: each document's UTF-8 bytes split into
    * two halves, each packed as a grayscale frame, assembled into a REAL
    * animated GIF ([[GifCodec.encodeFrames]]), decoded back frame-by-frame,
    * and reported as decoded facts (n_frames, per-frame nonzero pixels).
    * All outputs are pure arithmetic over the byte length, so a SQL oracle
    * verifies that a genuine multi-frame codec cycle — not a stub —
    * preserved both frames exactly. */
  def gifRoundTrip(docs: DataFrame, width: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("f0_nonzero", LongType, nullable = false),
      StructField("f1_nonzero", LongType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    spread(docs.select(col("doc_id"), col("text").cast("binary").as("payload")))
      .mapPartitions { it =>
        // one writer/reader per TASK, not per row (registry lookup +
        // dispose per row was a measured constant at sf1); plain Java
        // objects, GC owns end-of-task cleanup
        val writer = GifCodec.newWriter()
        val reader = GifCodec.newReader()
        it.map { r =>
          val bytes = r.getAs[Array[Byte]]("payload")
          val h = (bytes.length + 1) / 2
          def grayFrame(slice: Array[Byte]): java.awt.image.BufferedImage = {
            val rows0 = math.max(1, (slice.length + width - 1) / width)
            val img = new java.awt.image.BufferedImage(
              width, rows0, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            var i = 0
            while (i < slice.length) {
              img.getRaster.setSample(i % width, i / width, 0, slice(i) & 0xff)
              i += 1
            }
            img
          }
          val gif = GifCodec.encodeFramesWith(writer,
            Seq(grayFrame(bytes.take(h)), grayFrame(bytes.drop(h))))
          val frames = GifCodec.decodeFramesWith(reader, gif)
          // count by COLOR, not raster sample: GIF frames decode as
          // indexed images whose samples are palette indices — a nonzero
          // gray can sit at palette index 0 and vice versa. Bulk getRGB:
          // the per-pixel call re-enters the color model per sample.
          def nonzero(img: java.awt.image.BufferedImage): Long = {
            val (w, ht) = (img.getWidth, img.getHeight)
            val rgb = img.getRGB(0, 0, w, ht, null, 0, w)
            var c = 0L; var i = 0
            while (i < rgb.length) {
              if ((rgb(i) & 0xffffff) != 0) c += 1
              i += 1
            }
            c
          }
          Row(r.getLong(0), frames.size.toLong,
            if (frames.nonEmpty) nonzero(frames(0)) else -1L,
            if (frames.size > 1) nonzero(frames(1)) else -1L)
        }
      }(enc)
  }
}
