package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

/** 24-bit BMP: a 54-byte header (width and height as little-endian int32
  * at offsets 18 and 22), then bottom-up rows of B, G, R bytes, each row
  * padded to a multiple of 4 bytes. The multimodal queries build and read
  * images only through this object; [[Image]] decodes the header once and
  * its accessors are plain array reads, so a pixel loop allocates nothing.
  */
object Bmp {
  final val HeaderSize = 54

  private def rowStride(width: Int): Int = (width * 3 + 3) / 4 * 4

  /** Minimal valid BMP of the given size with every pixel zero. */
  def make(width: Int, height: Int): Array[Byte] = {
    val pixelBytes = rowStride(width) * height
    val fileSize = HeaderSize + pixelBytes
    val b = ByteBuffer.allocate(fileSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(HeaderSize)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
    b.putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    b.array()
  }

  /** A gray BMP: the low 8 bits of `v(x, y)` go into all three channels of
    * pixel (x, y); row padding stays zero.
    */
  def gray(width: Int, height: Int)(v: (Int, Int) => Int): Array[Byte] = {
    val bytes = make(width, height)
    val stride = rowStride(width)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val c = v(x, y).toByte
        val off = HeaderSize + y * stride + x * 3
        bytes(off) = c; bytes(off + 1) = c; bytes(off + 2) = c
        x += 1
      }
      y += 1
    }
    bytes
  }

  /** The image, when `bytes` start with the 'BM' magic and are long enough
    * to hold the width and height fields; None otherwise.
    */
  def probe(bytes: Array[Byte]): Option[Image] =
    if (bytes.length < 26 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) None
    else Some(read(bytes))

  def read(bytes: Array[Byte]): Image = {
    val header = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    new Image(bytes, header.getInt(18), header.getInt(22))
  }

  /** A decoded view over the file's bytes (no copy). Row y holds
    * `rowLength` channel bytes from `rowOffset(y)` in those bytes, three
    * per pixel.
    */
  final class Image private[Bmp] (bytes: Array[Byte], val width: Int, val height: Int) {
    private[this] val stride = rowStride(width)
    val rowLength: Int = width * 3
    def rowOffset(y: Int): Int = HeaderSize + y * stride
    def blue(x: Int, y: Int): Int = bytes(rowOffset(y) + x * 3) & 0xFF
  }
}

/** Canonical 16-bit PCM WAV: a 44-byte RIFF header (fmt chunk at fixed
  * offsets, the data size as little-endian int32 at 40), then the samples
  * as little-endian int16. The multimodal queries build and read audio only
  * through this object; [[Pcm]] reads samples straight from the bytes.
  */
object Wav {
  final val HeaderSize = 44

  private def littleEndian(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  /** Minimal canonical WAV with every sample zero. */
  def make(sampleRate: Int, channels: Int, nSamples: Int): Array[Byte] = {
    val dataSize = nSamples * channels * 2
    val b = ByteBuffer.allocate(HeaderSize + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    b.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
    b.putInt(sampleRate).putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
    b.put("data".getBytes).putInt(dataSize)
    b.array()
  }

  /** A mono WAV of `n` samples; sample i is the low 16 bits of `s(i)`. */
  def mono16(sampleRate: Int, n: Int)(s: Int => Int): Array[Byte] = {
    val bytes = make(sampleRate, 1, n)
    val b = littleEndian(bytes)
    var i = 0
    while (i < n) {
      b.putShort(HeaderSize + i * 2, s(i).toShort)
      i += 1
    }
    bytes
  }

  /** The samples, when `bytes` hold a 44-byte header with the RIFF, WAVE
    * and data tags in place; None otherwise.
    */
  def probe(bytes: Array[Byte]): Option[Pcm] = {
    def tag(off: Int, s: String) =
      bytes.length >= off + s.length && s.indices.forall(i => bytes(off + i) == s(i).toByte)
    if (bytes.length < HeaderSize || !tag(0, "RIFF") || !tag(8, "WAVE") || !tag(36, "data")) None
    else Some(pcm(bytes))
  }

  def pcm(bytes: Array[Byte]): Pcm = new Pcm(littleEndian(bytes))

  /** A view over a WAV's bytes (no copy). `n` is the data size / 2, the
    * sample count of a mono file; `apply(i)` is sample i, sign-extended.
    * The fmt fields read as unsigned.
    */
  final class Pcm private[Wav] (b: ByteBuffer) {
    val n: Int = b.getInt(40) / 2
    def apply(i: Int): Int = b.getShort(HeaderSize + i * 2)
    def channels: Long = b.getShort(22) & 0xFFFFL
    def sampleRate: Long = b.getInt(24) & 0xFFFFFFFFL
    def bitsPerSample: Long = b.getShort(34) & 0xFFFFL
    def dataSize: Long = b.getInt(40) & 0xFFFFFFFFL

    /** Samples per channel (data size / frame size); None when a frame,
      * channels × bits per sample, is under one byte.
      */
    def frames: Option[Long] = {
      val frameBytes = channels * bitsPerSample / 8
      if (frameBytes == 0) None else Some(dataSize / frameBytes)
    }
  }
}
