package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Strict UTF-8 over a `UTF8String`'s bytes, read in place. "Valid" is
  * what `UTF8String.toString` decodes without a U+FFFD: no overlong
  * form, no surrogate, nothing past U+10FFFF.
  */
object Utf8Bytes {
  final val Ones = 0x0101010101010101L
  final val Highs = 0x8080808080808080L

  /** The high bit of each zero byte of `v`; the lowest one is exact,
    * higher ones may be false (a borrow), and none is missed.
    */
  @inline def zeroByte(v: Long): Long = (v - Ones) & ~v & Highs

  /** Index of the first byte >= 0x80 in `s`, or `s.numBytes` if none. */
  def firstNonAscii(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i + 8 <= n && (Platform.getLong(base, off + i) & Highs) == 0) i += 8
    while (i < n && Platform.getByte(base, off + i) >= 0) i += 1
    i
  }

  /** Length of the well-formed character at byte `i` (lead byte >= 0x80)
    * of the `n` bytes at `base`/`off`, or -1 when it is malformed.
    */
  def charLength(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    def cont(j: Int, lo: Int, hi: Int): Boolean =
      j < n && { val b = Platform.getByte(base, off + j) & 0xFF; b >= lo && b <= hi }
    val b0 = Platform.getByte(base, off + i) & 0xFF
    if (b0 < 0xC2) -1
    else if (b0 < 0xE0) { if (cont(i + 1, 0x80, 0xBF)) 2 else -1 }
    else if (b0 < 0xF0) {
      val lo = if (b0 == 0xE0) 0xA0 else 0x80
      val hi = if (b0 == 0xED) 0x9F else 0xBF
      if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xBF)) 3 else -1
    } else if (b0 < 0xF5) {
      val lo = if (b0 == 0xF0) 0x90 else 0x80
      val hi = if (b0 == 0xF4) 0x8F else 0xBF
      if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xBF) && cont(i + 3, 0x80, 0xBF)) 4 else -1
    } else -1
  }

  /** Whether bytes `from` until the end of `s` are well-formed UTF-8. */
  def validFrom(s: UTF8String, from: Int): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = from
    while (i < n) {
      if (Platform.getByte(base, off + i) >= 0) i += 1
      else {
        val k = charLength(base, off, i, n)
        if (k < 0) return false
        i += k
      }
    }
    true
  }
}

/** A `^`-anchored regex from a deterministic subset, matched over a
  * `UTF8String`'s bytes in place: the parse of a regex parser with no
  * `String` decode and no `java.util.regex` backtracking. Built by
  * [[RegexScanner.compile]], which returns None for any pattern outside
  * the subset:
  *
  *  - ASCII literals and escaped literals (`\[`, `\"`, `\t`, ...);
  *  - named `(?<name>…)` or bare `(…)` groups, unquantified;
  *  - classes: `[…]` and `[^…]` over ASCII characters and ranges, `\d`,
  *    `\w`, `\s`, `\D`, `\W`, `\S` and `.`, each alone or with a greedy
  *    `*` or `+`;
  *  - a quantified class is followed by a literal it cannot match, by
  *    the final `$`, or by nothing; so its greedy run is the only one
  *    that can match, and no backtracking is needed;
  *  - a final `$`, with `java.util.regex`'s meaning: the end of the
  *    input, or before one final line terminator (`\n`, `\r\n`, `\r`,
  *    U+0085, U+2028, U+2029), never between `\r` and `\n`.
  *
  * A line with a byte >= 0x80 is matched here only when it is valid
  * UTF-8 and the pattern has no `.` (which excludes U+0085, U+2028 and
  * U+2029); [[groups]] answers [[RegexScanner.Fallback]] for any other
  * such line, and the caller matches it with `java.util.regex`.
  */
final class RegexScanner private (
    kinds: Array[Int], args: Array[Int], lo: Array[Long], hi: Array[Long],
    nonAscii: Array[Boolean], stops: Array[Array[Long]], groupCount: Int, hasDot: Boolean)
    extends Serializable {
  import RegexScanner._

  /** The groups `want` of the match, copies of their bytes; null
    * when the pattern does not match; [[RegexScanner.Fallback]] when
    * the line needs `java.util.regex`.
    */
  def groups(s: UTF8String, want: Array[Int]): ArrayData = {
    val n = s.numBytes
    val ascii = Utf8Bytes.firstNonAscii(s)
    if (ascii < n && (hasDot || !Utf8Bytes.validFrom(s, ascii))) return Fallback
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val bounds = new Array[Int](2 * groupCount + 2)
    var p = 0
    var k = 0
    while (k < kinds.length) {
      val a = args(k)
      kinds(k) match {
        case Lit =>
          if (p >= n || Platform.getByte(base, off + p) != a) return null
          p += 1
        case One =>
          if (p >= n) return null
          val b = Platform.getByte(base, off + p)
          if (!member(lo(a), hi(a), nonAscii(a), b)) return null
          p += (if (b >= 0) 1 else UTF8String.numBytesForFirstByte(b))
        case Star | Plus =>
          val start = p
          val l = lo(a)
          val h = hi(a)
          val rest = nonAscii(a)
          val stop = stops(a)
          if (stop != null) {
            // eight bytes a step, up to the first that equals a stop byte
            var word = true
            while (word && p + 8 <= n) {
              val x = Platform.getLong(base, off + p)
              var hit = 0L
              var j = 0
              while (j < stop.length) { hit |= Utf8Bytes.zeroByte(x ^ stop(j)); j += 1 }
              if (hit == 0) p += 8
              else { p += java.lang.Long.numberOfTrailingZeros(hit) >>> 3; word = false }
            }
            if (word) while (p < n && member(l, h, rest, Platform.getByte(base, off + p))) p += 1
          } else while (p < n && member(l, h, rest, Platform.getByte(base, off + p))) p += 1
          val least = if (kinds(k) == Plus) start + 1 else start
          if (p < least) return null
          if (toEnd(k)) {
            // the only places `$` can hold are the end and the last 1-3
            // bytes; Java's greedy run backs off to the longest of them
            val floor = math.max(least, n - 3)
            var q = p
            // a byte >= -64 (signed) is not a continuation byte
            while (q >= floor &&
                !((q == n || Platform.getByte(base, off + q) >= -64) && dollar(base, off, q, n))) q -= 1
            if (q < floor) return null
            p = q
          }
        case Open => bounds(2 * a) = p
        case Close => bounds(2 * a + 1) = p
        case End => if (p != n && !dollar(base, off, p, n)) return null
      }
      k += 1
    }
    // the groups' bytes copied into one UnsafeArrayData: the header, one
    // (offset << 32 | size) slot per group, then each group's bytes,
    // padded to a word, as UnsafeArrayWriter lays them out
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(want.length) + 8 * want.length
    var size = header
    var i = 0
    while (i < want.length) {
      size += pad(bounds(2 * want(i) + 1) - bounds(2 * want(i)))
      i += 1
    }
    val buf = new Array[Byte](size)
    Platform.putLong(buf, Platform.BYTE_ARRAY_OFFSET, want.length)
    var at = header
    i = 0
    while (i < want.length) {
      val from = bounds(2 * want(i))
      val len = bounds(2 * want(i) + 1) - from
      Platform.copyMemory(base, off + from, buf, Platform.BYTE_ARRAY_OFFSET + at, len)
      Platform.putLong(buf, Platform.BYTE_ARRAY_OFFSET + header - 8 * (want.length - i),
        at.toLong << 32 | len)
      at += pad(len)
      i += 1
    }
    val out = new UnsafeArrayData
    out.pointTo(buf, Platform.BYTE_ARRAY_OFFSET, size)
    out
  }

  /** Whether the run at op `k` is followed by `$`, past group closes. */
  private val toEnd: Array[Boolean] = kinds.indices.map { k =>
    kinds.indices.drop(k + 1).map(kinds).find(x => x != Open && x != Close).contains(End)
  }.toArray
}

object RegexScanner {
  private final val Lit = 0
  private final val One = 1
  private final val Star = 2
  private final val Plus = 3
  private final val Open = 4
  private final val Close = 5
  private final val End = 6

  /** The answer of [[RegexScanner.groups]] for a line it cannot match exactly. */
  val Fallback: ArrayData = new GenericArrayData(new Array[Any](0))

  private def pad(len: Int): Int = (len + 7) & ~7


  /** Whether byte `b` is in the class of `lo`/`hi` (bits of the ASCII
    * characters 0-63 and 64-127) and `rest` (every byte >= 0x80).
    */
  @inline private def member(lo: Long, hi: Long, rest: Boolean, b: Byte): Boolean =
    if (b < 0) rest else ((if (b < 64) lo else hi) >>> b & 1L) != 0

  /** Whether Java's non-multiline `$` holds at byte `p` of `n`. */
  private def dollar(base: AnyRef, off: Long, p: Int, n: Int): Boolean = {
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xFF
    val rest = n - p
    if (rest == 0) true
    else if (rest == 1) at(p) == '\r' || at(p) == '\n' && (p == 0 || at(p - 1) != '\r')
    else if (rest == 2) at(p) == '\r' && at(p + 1) == '\n' || at(p) == 0xC2 && at(p + 1) == 0x85
    else rest == 3 && at(p) == 0xE2 && at(p + 1) == 0x80 && (at(p + 2) == 0xA8 || at(p + 2) == 0xA9)
  }

  /** An ASCII character set; `rest` says whether it holds every
    * character >= 0x80.
    */
  private final class CharSet(val bits: java.util.BitSet, val rest: Boolean) {
    def has(c: Int): Boolean = if (c < 128) bits.get(c) else rest
    def negate: CharSet = {
      val b = new java.util.BitSet(128)
      b.set(0, 128)
      b.andNot(bits)
      new CharSet(b, !rest)
    }
  }

  private def set(chars: Iterable[Int]): CharSet = {
    val b = new java.util.BitSet(128)
    chars.foreach(b.set)
    new CharSet(b, rest = false)
  }

  private val Digit = set('0'.toInt to '9')
  private val Word = set(('a'.toInt to 'z') ++ ('A'.toInt to 'Z') ++ ('0'.toInt to '9') :+ '_'.toInt)
  private val Space = set(Seq(' ', '\t', '\n', 0x0B, '\f', '\r').map(_.toInt))
  private val Dot = set(Seq('\n', '\r').map(_.toInt)).negate

  private def shorthand(c: Char): Option[CharSet] = c match {
    case 'd' => Some(Digit)
    case 'w' => Some(Word)
    case 's' => Some(Space)
    case 'D' => Some(Digit.negate)
    case 'W' => Some(Word.negate)
    case 'S' => Some(Space.negate)
    case _ => None
  }

  private def controlEscape(c: Char): Option[Int] = c match {
    case 't' => Some('\t')
    case 'n' => Some('\n')
    case 'r' => Some('\r')
    case 'f' => Some('\f')
    case _ => None
  }

  private def punct(c: Char): Boolean = c < 128 && !Character.isLetterOrDigit(c) && c >= ' '

  private final class Reject extends RuntimeException(null, null, false, false)

  /** The scanner for `pattern`, or None when it is outside the subset. */
  def compile(pattern: String): Option[RegexScanner] =
    try Some(parse(pattern)) catch { case _: Reject => None }

  private def parse(pattern: String): RegexScanner = {
    def reject() = throw new Reject
    val kinds = scala.collection.mutable.ArrayBuffer[Int]()
    val args = scala.collection.mutable.ArrayBuffer[Int]()
    val sets = scala.collection.mutable.ArrayBuffer[CharSet]()
    var open = List.empty[Int]
    var groups = 0
    var hasDot = false
    val n = pattern.length
    if (n == 0 || pattern(0) != '^') reject()
    var i = 1
    def peek: Char = if (i < n) pattern(i) else '\u0000'
    def emit(kind: Int, arg: Int): Unit = { kinds += kind; args += arg }
    def literal(c: Int): Unit = {
      if (c >= 128 || "*+?{".contains(peek)) reject()
      emit(Lit, c)
    }
    def charClass(cs: CharSet): Unit = {
      sets += cs
      val kind = peek match {
        case '*' => i += 1; Star
        case '+' => i += 1; Plus
        case '?' | '{' => reject()
        case _ => One
      }
      if (kind != One && "?+".contains(peek)) reject() // lazy or possessive
      emit(kind, sets.size - 1)
    }
    // `[…]` body after the `[`: ASCII characters, escapes and ranges
    def bracket(): CharSet = {
      val negated = peek == '^'
      if (negated) i += 1
      val chars = scala.collection.mutable.ArrayBuffer[Int]()
      var classes = List.empty[CharSet]
      if (peek == ']') reject()
      while (peek != ']') {
        if (i >= n) reject()
        val c = pattern(i)
        i += 1
        val single: Int = c match {
          case '\\' =>
            if (i >= n) reject()
            val e = pattern(i)
            i += 1
            shorthand(e) match {
              case Some(cs) if !cs.rest => classes ::= cs; -1
              case Some(_) => reject()
              case None => controlEscape(e).getOrElse(if (punct(e)) e.toInt else reject())
            }
          case '[' | '&' | '^' | '-' => reject()
          case _ if c >= 128 => reject()
          case _ => c.toInt
        }
        if (single >= 0) {
          if (peek == '-' && i + 1 < n && pattern(i + 1) != ']') {
            val to = pattern(i + 1)
            if (c == '\\' || "\\[]&-^".contains(to) || to >= 128 || to < c) reject()
            chars ++= (single to to.toInt)
            i += 2
          } else chars += single
        }
      }
      i += 1
      val cs = classes.foldLeft(set(chars)) { (a, b) => a.bits.or(b.bits); a }
      if (negated) cs.negate else cs
    }
    while (i < n) {
      val c = pattern(i)
      i += 1
      c match {
        case '(' =>
          if (peek == '?') {
            if (i + 1 >= n || pattern(i + 1) != '<' || i + 2 >= n || !pattern(i + 2).isLetter) reject()
            val close = pattern.indexOf('>', i + 2)
            if (close < 0 || !pattern.substring(i + 2, close).forall(ch => ch < 128 && ch.isLetterOrDigit)) reject()
            i = close + 1
          }
          groups += 1
          open ::= groups
          emit(Open, groups)
        case ')' =>
          if (open.isEmpty || "*+?{".contains(peek)) reject()
          emit(Close, open.head)
          open = open.tail
        case '[' => charClass(bracket())
        case '.' => hasDot = true; charClass(Dot)
        case '\\' =>
          if (i >= n) reject()
          val e = pattern(i)
          i += 1
          shorthand(e) match {
            case Some(cs) => charClass(cs)
            case None => literal(controlEscape(e).getOrElse(if (punct(e)) e.toInt else reject()))
          }
        case '$' =>
          if (i != n || open.nonEmpty) reject()
          emit(End, 0)
        case '^' | '|' | '?' | '*' | '+' | '{' | '}' | ']' => reject()
        case _ => literal(c.toInt)
      }
    }
    if (open.nonEmpty) reject()
    // a greedy run must end where the next literal starts: that literal
    // is outside its class, or nothing but `$` follows it
    kinds.indices.foreach { k =>
      if (kinds(k) == Star || kinds(k) == Plus) {
        kinds.indices.drop(k + 1).find(j => kinds(j) != Open && kinds(j) != Close) match {
          case None => ()
          case Some(j) if kinds(j) == End => ()
          case Some(j) if kinds(j) == Lit && !sets(args(k)).has(args(j)) => ()
          case _ => reject()
        }
      }
    }
    def word(cs: CharSet, from: Int): Long = {
      var w = 0L
      var b = 0
      while (b < 64) { if (cs.bits.get(from + b)) w |= 1L << b; b += 1 }
      w
    }
    // a class that holds every byte but one to three ASCII ones is
    // scanned a word at a time (the first byte on a little-endian host
    // is the low byte of the word)
    val little = java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN
    def stops(cs: CharSet): Array[Long] = {
      val out = (0 until 128).filterNot(cs.has)
      if (cs.rest && little && out.size <= 3) out.map(_ * Utf8Bytes.Ones).toArray else null
    }
    new RegexScanner(kinds.toArray, args.toArray, sets.map(word(_, 0)).toArray,
      sets.map(word(_, 64)).toArray, sets.map(_.rest).toArray, sets.map(stops).toArray, groups, hasDot)
  }
}
