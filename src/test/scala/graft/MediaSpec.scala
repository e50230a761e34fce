package graft

import graft.functions.{Bmp, Wav}
import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** Bmp and Wav: both byte layouts round-trip, and the structural rule that
  * no other main-source file decodes a header, a row or a sample inline.
  */
class MediaSpec extends AnyFunSuite {

  test("a BMP whose rows need padding round-trips every pixel") {
    def v(x: Int, y: Int): Int = x * 40 + y * 7 + 200
    val bytes = Bmp.gray(5, 3)(v)
    // 5 pixels are 15 bytes, padded to 16 per row
    assert(bytes.length === Bmp.HeaderSize + 16 * 3)
    val img = Bmp.read(bytes)
    assert((img.width, img.height, img.rowLength) === ((5, 3, 15)))
    for (y <- 0 until 3) {
      assert(img.rowOffset(y) === Bmp.HeaderSize + 16 * y)
      for (x <- 0 until 5) {
        assert(img.blue(x, y) === (v(x, y) & 0xFF), s"pixel ($x, $y)")
        val off = img.rowOffset(y) + x * 3
        assert(bytes(off + 1) === bytes(off) && bytes(off + 2) === bytes(off))
      }
      assert(bytes(img.rowOffset(y) + 15) === 0.toByte, s"padding of row $y")
    }
    assert(Multimodal.parseBmpHeader(1L, bytes).map(m => (m.width, m.height)) === Some((5L, 3L)))
  }

  test("the BMP probe keeps its magic and length checks") {
    val bytes = Bmp.make(4, 4)
    assert(Bmp.probe(bytes).isDefined)
    assert(Bmp.probe(bytes.take(25)).isEmpty)
    assert(Bmp.probe("XM".getBytes ++ bytes.drop(2)).isEmpty)
  }

  test("a mono WAV round-trips negative and full-scale samples") {
    val samples = Array(0, 1, -1, 1000, -1000, 32767, -32768, -12345, 255, 256, -256)
    val bytes = Wav.mono16(8000, samples.length)(samples(_))
    assert(bytes.length === Wav.HeaderSize + samples.length * 2)
    val pcm = Wav.pcm(bytes)
    assert(pcm.n === samples.length)
    assert((0 until pcm.n).map(pcm(_)) === samples.toSeq)
    // a sample keeps the low 16 bits of its value
    assert(Wav.pcm(Wav.mono16(8000, 2)(i => 32768 + i))(0) === -32768)
    val meta = Multimodal.parseWavHeader(2L, bytes).get
    assert((meta.sample_rate, meta.channels, meta.n_samples) === ((8000L, 1L, samples.length.toLong)))
  }

  test("the WAV probe keeps its RIFF, WAVE and data checks") {
    val bytes = Wav.make(16000, 2, 10)
    assert(Wav.probe(bytes).map(p => (p.channels, p.sampleRate, p.bitsPerSample, p.dataSize)) ===
      Some((2L, 16000L, 16L, 40L)))
    assert(Wav.probe(bytes.take(43)).isEmpty)
    for (off <- Seq(0, 8, 36)) {
      val broken = bytes.clone()
      broken(off) = 'X'.toByte
      assert(Wav.probe(broken).isEmpty, s"tag at $off")
    }
  }

  test("a WAV whose frame is under one byte probes to None, not a division by zero") {
    def withBits(channels: Int, bits: Int): Array[Byte] = {
      val bytes = Wav.make(8000, channels, 10)
      bytes(34) = bits.toByte
      bytes(35) = 0
      bytes
    }
    // mono 4-bit: a frame of half a byte
    assert(Multimodal.parseWavHeader(1L, withBits(1, 4)).isEmpty)
    assert(Multimodal.parseWavHeader(1L, withBits(0, 16)).isEmpty)
    // stereo 4-bit frames are one byte: the 40 data bytes hold 40 frames
    assert(Multimodal.parseWavHeader(1L, withBits(2, 4)).map(_.n_samples) === Some(40L))
  }

  test("media byte layouts are decoded only in Media.scala") {
    val forbidden = Seq("def le32(", "ByteOrder.LITTLE_ENDIAN", "getInt(40)", "getShort(44")
    val root = java.nio.file.Paths.get("src/main/scala")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala") && p.getFileName.toString != "Media.scala") {
        val lines = java.nio.file.Files.readAllLines(p)
        var i = 0
        while (i < lines.size()) {
          forbidden.filter(lines.get(i).contains)
            .foreach(f => offenders += s"$p:${i + 1}: $f")
          i += 1
        }
      }
    }
    assert(offenders.isEmpty,
      s"inline media decoding outside Media.scala:\n${offenders.mkString("\n")}")
  }
}
