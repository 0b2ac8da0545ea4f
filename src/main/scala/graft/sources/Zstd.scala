package graft.sources

import java.io.{ByteArrayInputStream, IOException}

import com.github.luben.zstd.ZstdInputStreamNoFinalizer

/** Zstandard decompression for zstd-compressed Forward chunks
  * (plugins/in_forward/fw_prot.c), OTLP bodies
  * (plugins/in_opentelemetry/opentelemetry_prot.c:89-103
  * `uncompress_zstd`) and Kafka record batches. Like the reference it
  * decodes with libzstd, here through the zstd-jni binding Spark ships:
  * concatenated and skippable frames and XXH64 content checksums are
  * libzstd's. Every failure is an `IllegalArgumentException("zstd: …")`,
  * and `limit` caps the regenerated size, the same contract as
  * [[Msgpack.gunzip]].
  */
object Zstd {

  /** zstd frame magic: 28 B5 2F FD little-endian. */
  def sniff(d: Array[Byte]): Boolean =
    d.length >= 4 && d(0) == 0x28.toByte && d(1) == 0xB5.toByte &&
      d(2) == 0x2F.toByte && d(3) == 0xFD.toByte

  def decompress(src: Array[Byte], limit: Int): Array[Byte] =
    try {
      val in = new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(src))
      try Msgpack.readBounded(in, limit, "zstd") finally in.close()
    } catch {
      case e: IOException => throw new IllegalArgumentException(s"zstd: ${e.getMessage}", e)
    }
}
