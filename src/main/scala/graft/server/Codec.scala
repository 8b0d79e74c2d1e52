package graft.server

import java.io.ByteArrayInputStream
import java.util.zip.{CRC32, Deflater, GZIPInputStream}
import net.jpountz.lz4.LZ4Factory

/** LZ4 + GZIP request/response body codec
  * (reference: qcache/compression.py). The LZ4 format matches python
  * lz4.block's default framing: a 4-byte little-endian uncompressed-size
  * prefix followed by a raw LZ4 block — so python qcache clients
  * interoperate unchanged. lz4-java ships in the Spark jars.
  */
object Codec {
  private val lz4 = LZ4Factory.fastestInstance()

  /** Thrown when a DECODED body would exceed the caller's cap — raised
    * BEFORE the oversized buffer is allocated (the lz4 size prefix is
    * attacker-controlled, and gzip expands ~1000:1, so a post-decode
    * length check would defeat the cap's anti-OOM purpose). The server
    * maps this to 413, distinct from IllegalArgumentException's 400. */
  final class DecodedBodyTooLarge(msg: String) extends RuntimeException(msg)

  def lz4Compress(data: Array[Byte]): Array[Byte] = {
    val compressor = lz4.fastCompressor()
    val max = compressor.maxCompressedLength(data.length)
    val out = new Array[Byte](4 + max)
    out(0) = (data.length & 0xFF).toByte
    out(1) = ((data.length >> 8) & 0xFF).toByte
    out(2) = ((data.length >> 16) & 0xFF).toByte
    out(3) = ((data.length >> 24) & 0xFF).toByte
    val written = compressor.compress(data, 0, data.length, out, 4, max)
    java.util.Arrays.copyOf(out, 4 + written)
  }

  def lz4Decompress(data: Array[Byte], maxBytes: Long = 0L): Array[Byte] = {
    require(data.length >= 4, "lz4 body too short")
    val size = (data(0) & 0xFF) | ((data(1) & 0xFF) << 8) |
      ((data(2) & 0xFF) << 16) | ((data(3) & 0xFF) << 24)
    // the prefix is client-supplied: a negative value must be a clean
    // client error (not a NegativeArraySizeException 500), and with a
    // cap configured the allocation itself is the thing to guard
    if (size < 0)
      throw new IllegalArgumentException("lz4 size prefix is negative")
    if (maxBytes > 0 && size > maxBytes)
      throw new DecodedBodyTooLarge(
        s"lz4 body declares $size decoded bytes, cap is $maxBytes")
    val out = new Array[Byte](size)
    lz4.fastDecompressor().decompress(data, 4, out, 0, size)
    out
  }

  /** GZIP at `Deflater.BEST_SPEED`, nginx's default `gzip_comp_level`:
    * on JSON pages it deflated 3.5-4× faster than the JDK's default
    * level 6 for a body ~1.5× larger, and a qcache page is compressed
    * once per request, on the request's critical path. The deflater
    * writes into one buffer sized from the input. */
  def gzipCompress(data: Array[Byte]): Array[Byte] = {
    val deflater = new Deflater(Deflater.BEST_SPEED, true)
    try {
      deflater.setInput(data)
      deflater.finish()
      // header (10 bytes), deflate's worst case (stored blocks: 5 bytes
      // per 16 KB block), trailer (8 bytes)
      var out = new Array[Byte](10 + data.length + 5 * (data.length / 16383 + 1) + 8 + 64)
      System.arraycopy(GzipHeader, 0, out, 0, GzipHeader.length)
      var n = GzipHeader.length
      while (!deflater.finished()) {
        if (n == out.length - 8) out = java.util.Arrays.copyOf(out, out.length * 2)
        n += deflater.deflate(out, n, out.length - 8 - n)
      }
      val crc = new CRC32
      crc.update(data, 0, data.length)
      writeIntLE(out, n, crc.getValue.toInt)
      writeIntLE(out, n + 4, data.length)
      java.util.Arrays.copyOf(out, n + 8)
    } finally deflater.end()
  }

  /** Magic, deflate method, no flags, no mtime, no extra flags, unknown
    * OS (RFC 1952). */
  private val GzipHeader = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte)

  private def writeIntLE(out: Array[Byte], at: Int, v: Int): Unit = {
    out(at) = v.toByte
    out(at + 1) = (v >> 8).toByte
    out(at + 2) = (v >> 16).toByte
    out(at + 3) = (v >> 24).toByte
  }

  def gzipDecompress(data: Array[Byte], maxBytes: Long = 0L): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(data))
    if (maxBytes <= 0) in.readAllBytes()
    else {
      // size-limited streaming read: stop at cap+1 instead of letting a
      // small wire body inflate unboundedly on the heap. When the cap
      // meets the max array size the +1 sentinel is lost to the clamp —
      // a decode filling the clamped buffer exactly is then rejected,
      // never silently truncated.
      val capped = maxBytes >= Int.MaxValue.toLong - 8
      val capPlusOne = if (capped) Int.MaxValue - 8 else (maxBytes + 1).toInt
      val buf = in.readNBytes(capPlusOne)
      if (buf.length > maxBytes || (capped && buf.length == capPlusOne))
        throw new DecodedBodyTooLarge(
          s"gzip body exceeds $maxBytes decoded bytes")
      buf
    }
  }

  /** Decode a request body by Content-Encoding; None = identity. Unknown
    * encodings are a client error (reference: compression.py:31-37).
    * `maxDecodedBytes` > 0 bounds the DECODED size up front —
    * [[DecodedBodyTooLarge]] fires before the oversized buffer exists. */
  def decodeBody(body: Array[Byte], encoding: Option[String],
                 maxDecodedBytes: Long = 0L): Array[Byte] =
    encoding match {
      case None => body
      case Some("lz4") => lz4Decompress(body, maxDecodedBytes)
      case Some("gzip") => gzipDecompress(body, maxDecodedBytes)
      case Some(other) =>
        throw new IllegalArgumentException(s"""Unrecognized encoding "$other"""")
    }

  /** Response encoding choice: lz4 preferred over gzip
    * (reference: compression.py:44-52). */
  def chooseResponseEncoding(acceptEncoding: String): Option[String] =
    if (acceptEncoding.contains("lz4")) Some("lz4")
    else if (acceptEncoding.contains("gzip")) Some("gzip")
    else None

  def encodeBody(body: Array[Byte], encoding: Option[String]): Array[Byte] =
    encoding match {
      case Some("lz4") => lz4Compress(body)
      case Some("gzip") => gzipCompress(body)
      case _ => body
    }
}
