package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.{ArrayType, DataType, BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** WARC (ISO 28500 / WARC-1.1) record scanner over a raw byte blob.
  *
  * Common Crawl — the de-facto source corpus of every large-scale LLM
  * training pipeline — ships as concatenated WARC records (and the
  * text-extracted WET variant, which is the same container with
  * `WARC-Type: conversion` records). This expression walks one blob:
  *
  * {{{
  * WARC/1.0\r\n
  * WARC-Type: conversion\r\n
  * WARC-Target-URI: https://…\r\n
  * Content-Length: N\r\n
  * \r\n
  * <N payload bytes>\r\n\r\n
  * }}}
  *
  * and returns `array<struct<warc_type, target_uri, warc_date,
  * content_length, payload>>`. Payload slicing is Content-Length-driven
  * (a payload may legally contain the record separator), all reads are
  * bounds-checked, and a malformed header block (no terminating blank
  * line, unparsable/oversized Content-Length) resynchronizes by
  * scanning for the next `WARC/` magic instead of aborting the blob —
  * one corrupt record in a 1 GB crawl segment must not drop the
  * remaining records.
  *
  * Runs inside whole-stage codegen; the per-blob work is a single
  * forward walk with no allocation beyond the emitted rows.
  */
case class WarcScan(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"warc_scan needs a binary blob, got ${child.dataType.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    WarcScan.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WarcScan.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "warc_scan"
}

object WarcScan {
  private val Magic = "WARC/".getBytes("US-ASCII")

  /** Index of the next `WARC/` magic at or after `from`, or -1. */
  private def findMagic(b: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val last = b.length - Magic.length
    while (i <= last) {
      var j = 0
      while (j < Magic.length && b(i + j) == Magic(j)) j += 1
      if (j == Magic.length) return i
      i += 1
    }
    -1
  }

  /** End (exclusive) of the line starting at `i`: index of '\n', or n. */
  private def lineEnd(b: Array[Byte], i: Int): Int = {
    var j = i
    while (j < b.length && b(j) != '\n') j += 1
    j
  }

  /** ASCII decimal parse of [lo, hi); -1 on any non-digit, empty range,
    * or a value past 2^40 (no real segment is a terabyte — and the
    * bound keeps the accumulator far from overflow).
    */
  private def parseAsciiLong(b: Array[Byte], lo: Int, hi: Int): Long = {
    if (lo >= hi) return -1L
    var v = 0L
    var i = lo
    while (i < hi) {
      val c = b(i)
      if (c < '0' || c > '9') return -1L
      v = v * 10 + (c - '0')
      if (v > (1L << 40)) return -1L
      i += 1
    }
    v
  }

  /** Static entry shared by eval and generated code. Real WET segments
    * ship as `.warc.wet.gz` — a gzip-magic blob inflates first (size
    * cap via the shared bounded reader), exactly like a real ingester.
    */
  def compute(raw: Array[Byte]): ArrayData = {
    // cap = max JVM array size, not the HTTP-body default: real WET
    // segments inflate to ~400 MB and WARC segments to ~1 GB — a cap
    // sized for request bodies would silently drop whole segments.
    // (>2 GB inflated cannot fit a JVM byte array at all; such segments
    // must be split upstream.)
    val blob =
      if (!graft.sources.Msgpack.sniffGzip(raw)) raw
      else scala.util.Try(graft.sources.Msgpack.gunzip(raw, Int.MaxValue - 64))
        .getOrElse(Array.emptyByteArray) // corrupt gzip: no records
    val n = blob.length
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = findMagic(blob, 0)
    while (i >= 0 && i < n) {
      // version line ("WARC/1.0"); content ignored beyond the magic
      var p = lineEnd(blob, i) + 1
      var warcType: UTF8String = null
      var targetUri: UTF8String = null
      var warcDate: UTF8String = null
      var contentLength = -1L
      var ok = false // saw the blank line that closes the header block
      var done = false
      while (!done && p < n) {
        val e = lineEnd(blob, p)
        var he = e // line end with trailing '\r' stripped
        if (he > p && blob(he - 1) == '\r') he -= 1
        if (he == p) { ok = true; done = true }
        else {
          var c = p
          while (c < he && blob(c) != ':') c += 1
          if (c > p && c < he) {
            // header NAMES are ASCII per spec; VALUES (the target URI
            // in particular) may be UTF-8 — slice them as raw bytes so
            // multibyte content survives undamaged
            val name = new String(blob, p, c - p,
              java.nio.charset.StandardCharsets.US_ASCII).trim
            var vlo = c + 1
            var vhi = he
            while (vlo < vhi && (blob(vlo) == ' ' || blob(vlo) == '\t')) vlo += 1
            while (vhi > vlo && (blob(vhi - 1) == ' ' || blob(vhi - 1) == '\t')) vhi -= 1
            if (name.equalsIgnoreCase("WARC-Type"))
              warcType = UTF8String.fromBytes(blob, vlo, vhi - vlo)
            else if (name.equalsIgnoreCase("WARC-Target-URI"))
              targetUri = UTF8String.fromBytes(blob, vlo, vhi - vlo)
            else if (name.equalsIgnoreCase("WARC-Date"))
              warcDate = UTF8String.fromBytes(blob, vlo, vhi - vlo)
            else if (name.equalsIgnoreCase("Content-Length"))
              contentLength = parseAsciiLong(blob, vlo, vhi)
          }
          // headerless junk lines are skipped; resync happens below if
          // the block never terminates
        }
        p = e + 1
      }
      if (ok && contentLength >= 0 && p + contentLength <= n) {
        val payload = UTF8String.fromBytes(blob, p, contentLength.toInt)
        out += new GenericInternalRow(Array[Any](
          warcType, targetUri, warcDate, contentLength, payload))
        // skip the record separator (CRLF CRLF); tolerate bare LFs
        var q = p + contentLength.toInt
        var seps = 0
        while (q < n && seps < 2 && (blob(q) == '\r' || blob(q) == '\n')) {
          if (blob(q) == '\n') seps += 1
          q += 1
        }
        i = if (q >= n) -1 else findMagic(blob, q)
      } else {
        // malformed record: resync at the next magic after this one
        i = findMagic(blob, i + Magic.length)
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** gzip-compress a binary column (RFC 1952). Java's GZIPOutputStream
  * writes a fixed zero MTIME, so output is deterministic. Used to build
  * `.warc.wet.gz`-shaped test segments and by delivery paths that gzip
  * request bodies.
  */
case class GzipCompress(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gzip_compress needs binary input, got ${child.dataType.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    GzipCompress.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GzipCompress.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gzip_compress"
}

object GzipCompress {
  def compute(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 max 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }
}

object WarcFunctions {
  /** WARC/WET blob → array of parsed records (ISO 28500). */
  def warcScan(blob: Column): Column = shim.column(WarcScan(shim.expression(blob)))

  /** RFC 1952 gzip compression of a binary column. */
  def gzipCompress(blob: Column): Column =
    shim.column(GzipCompress(shim.expression(blob)))
}
