package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, Literal, RuntimeReplaceable, StructsToJson}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `to_json(named_struct(names(0), children(0), …))`, the one JSON
  * object of a record's fields. When every field is a string and
  * `spark.sql.jsonGenerator.ignoreNullFields` is true it is written
  * straight into bytes by [[JsonLineBytes]]; otherwise it is
  * `to_json` itself.
  */
case class JsonLine(names: Seq[String], children: Seq[Expression])
    extends Expression with RuntimeReplaceable {
  require(names.size == children.size, "one name per field")

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override lazy val replacement: Expression =
    if (children.forall(_.dataType.isInstanceOf[StringType]) &&
        SQLConf.get.jsonGeneratorIgnoreNullFields) JsonLineBytes(names, children)
    else StructsToJson(Map.empty,
      CreateNamedStruct(names.zip(children).flatMap { case (n, c) => Seq(Literal(n), c) }),
      Some(SQLConf.get.sessionLocalTimeZone))

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)

  override def prettyName: String = "json_line"
}

/** The JSON object of string fields, byte for byte what Spark's
  * `to_json` writes through Jackson with NULL fields ignored: a NULL
  * field is left out; `"` and `\` are escaped; `\b \t \n \f \r` take
  * their short escapes and the other control characters `\u00XX` with
  * uppercase hex; `/`, DEL and every other character are written as
  * they are. A value that is not valid UTF-8 is written as its
  * `UTF8String.toString` decoding, one U+FFFD per malformed sequence.
  */
case class JsonLineBytes(names: Seq[String], children: Seq[Expression]) extends Expression {
  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  /** Each field's `"name":` prefix, escaped as a value is. */
  @transient private lazy val keys: Array[Array[Byte]] = names.map(JsonLineWriter.key).toArray

  override def eval(input: InternalRow): Any = {
    val w = new JsonLineWriter
    w.begin()
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v != null) w.field(keys(i), v.asInstanceOf[UTF8String])
      i += 1
    }
    w.end()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[JsonLineWriter].getName
    val w = ctx.addMutableState(cls, "jsonLine", v => s"$v = new $cls();")
    val k = ctx.addReferenceObj("jsonKeys", keys, "byte[][]")
    val fields = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |if (!${e.isNull}) $w.field($k[$i], ${e.value});""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(fields, funcName = "jsonLineFields")
    ev.copy(code =
      code"""$w.begin();
            |$body
            |UTF8String ${ev.value} = $w.end();""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)

  override def prettyName: String = "json_line_bytes"
}

/** The byte buffer one task reuses for [[JsonLineBytes]]' lines. */
final class JsonLineWriter {
  private var buf = new Array[Byte](256)
  private var n = 0

  def begin(): Unit = { n = 0; put('{') }

  def field(key: Array[Byte], v: UTF8String): Unit = {
    if (n > 1) put(',')
    room(key.length)
    System.arraycopy(key, 0, buf, n, key.length)
    n += key.length
    put('"')
    JsonLineWriter.escape(this, v)
    put('"')
  }

  def end(): UTF8String = {
    put('}')
    UTF8String.fromBytes(java.util.Arrays.copyOf(buf, n))
  }

  private def room(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + k))

  private def put(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }

  private def putRange(base: AnyRef, off: Long, from: Int, until: Int): Unit = {
    val k = until - from
    room(k)
    Platform.copyMemory(base, off + from, buf, Platform.BYTE_ARRAY_OFFSET + n, k)
    n += k
  }
}

object JsonLineWriter {
  private val Hex = "0123456789ABCDEF"
  private val Escaped = "\"\\\b\t\n\f\r"
  private val ShortForm = "\"\\btnfr"
  /** The ASCII bytes written escaped: control characters, `"` and `\`. */
  private val Escape: Array[Boolean] = Array.tabulate(128)(c => c < 0x20 || c == '"' || c == '\\')

  /** `"name":` with `name` escaped as a value. */
  def key(name: String): Array[Byte] = {
    val w = new JsonLineWriter
    w.put('"')
    escape(w, UTF8String.fromString(name))
    w.put('"')
    w.put(':')
    java.util.Arrays.copyOf(w.buf, w.n)
  }

  private final val Spaces = 0x2020202020202020L
  private final val Quotes = 0x2222222222222222L
  private final val Backslashes = 0x5C5C5C5C5C5C5C5CL

  /** Whether none of the eight bytes in `x` is a control character, `"`,
    * `\` or >= 0x80 (a false answer may be wrong, a true one never is).
    */
  private def plain(x: Long): Boolean =
    (((x - Spaces) | x | Utf8Bytes.zeroByte(x ^ Quotes) | Utf8Bytes.zeroByte(x ^ Backslashes)) &
      Utf8Bytes.Highs) == 0

  /** `v`'s bytes into `w`, escaped; runs that need no escape are copied whole. */
  private def escape(w: JsonLineWriter, v: UTF8String): Unit = {
    val base = v.getBaseObject
    val off = v.getBaseOffset
    val len = v.numBytes
    val mark = w.n
    var run = 0
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (i + 8 <= len && plain(Platform.getLong(base, off + i))) i += 8
      else if (b < 0) {
        val k = Utf8Bytes.charLength(base, off, i, len)
        if (k < 0) {
          // malformed: write what to_json reads, the decoded String
          w.n = mark
          escape(w, UTF8String.fromString(v.toString))
          return
        }
        i += k
      } else if (!Escape(b)) i += 1
      else {
        w.putRange(base, off, run, i)
        w.put('\\')
        val e = Escaped.indexOf(b.toInt)
        if (e >= 0) w.put(ShortForm.charAt(e))
        else {
          w.put('u'); w.put('0'); w.put('0')
          w.put(Hex.charAt(b >> 4)); w.put(Hex.charAt(b & 0xF))
        }
        i += 1
        run = i
      }
    }
    w.putRange(base, off, run, len)
  }
}
