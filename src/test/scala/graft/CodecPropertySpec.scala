package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal.{GifCodec, WavCodec}

/** Property round-trips for the pure-JVM media codecs (no Spark session):
  * arbitrary payloads must survive a full encode→decode cycle exactly —
  * the evidence that the "real codec" claims hold beyond the fixtures. */
class CodecPropertySpec extends AnyFunSuite {

  private val sampleGen: Gen[Short] = Gen.choose(-32768, 32767).map(_.toShort)

  test("WAV PCM16 round-trips arbitrary sample arrays and rates exactly") {
    val prop = Prop.forAll(
      Gen.listOf(sampleGen), Gen.oneOf(8000, 16000, 22050, 44100)) { (s, rate) =>
      val wav = WavCodec.encodePcm16(s.toArray, rate)
      WavCodec.decodePcm16(wav) match {
        case Some((r, ch, got)) =>
          r == rate && ch == 1 && got.toSeq == s
        case None => false
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("truncating a WAV anywhere inside the data chunk yields None, never garbage") {
    val prop = Prop.forAll(Gen.nonEmptyListOf(sampleGen), Gen.choose(1, 3)) { (s, cut) =>
      val wav = WavCodec.encodePcm16(s.toArray, 8000)
      WavCodec.decodePcm16(wav.dropRight(cut)).isEmpty
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  private val frameGen: Gen[Array[Int]] =
    Gen.listOfN(32, Gen.choose(0, 255)).map(_.toArray) // 8x4 gray pixels

  private def gray8x4(px: Array[Int]): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      8, 4, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    while (i < 32) { img.getRaster.setSample(i % 8, i / 8, 0, px(i)); i += 1 }
    img
  }

  test("animated GIF round-trips arbitrary gray frame stacks pixel-exactly") {
    // one writer and one reader reused across cases, as the gate's
    // per-partition loop reuses them across rows
    val (writer, reader) = (GifCodec.newWriter(), GifCodec.newReader())
    val prop = Prop.forAll(Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, frameGen))) {
      frames =>
        val gif = GifCodec.encodeFramesWith(writer, frames.map(gray8x4))
        val got = GifCodec.decodeFramesWith(reader, gif)
        got.size == frames.size && got.zip(frames).forall { case (img, px) =>
          (0 until 32).forall(i => (img.getRGB(i % 8, i / 8) & 0xff) == px(i))
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
