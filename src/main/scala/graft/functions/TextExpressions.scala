package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingling as a native expression.
  *
  * The composable form — `transform(sequence(0, size-n), i ->
  * concat_ws(' ', slice(toks, i+1, n)))` — runs the lambda interpreted
  * per position and allocates a slice array per shingle, which dominates
  * MinHash pipelines (≈5µs per shingle). This expression builds all
  * shingles of a document in one loop and stays inside whole-stage
  * codegen. Semantics match `split(text, ' ')` + n-gram join with single
  * spaces: empty tokens from consecutive separators are kept, documents
  * with fewer than n tokens yield an empty array.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Distinct character q-grams in one codegen pass — the candidate-gram
  * derivation of the edit-distance fuzzy join. The composable form —
  * `array_distinct(transform(sequence(1, length(s)-q+1), i ->
  * substring(s, i, q)))` — runs the lambda interpreted per position and
  * allocates a boxed position array, a full pre-distinct gram array and
  * a second distinct pass per row; at millions of rows that allocation
  * churn (29% GC in the gram stage at sf0.1, and the stage most
  * GC-storm-sensitive in a shared JVM) dominated the hashing. One loop,
  * one first-occurrence hash set, grams sliced by CHARACTER (SQL
  * substring semantics on non-ASCII text) — value-identical output,
  * whole-stage-codegen resident. Strings shorter than q yield an empty
  * array (the caller filters those rows anyway).
  */
case class CharGrams(child: Expression, q: Int) extends UnaryExpression {
  require(q >= 1, s"gram size must be >= 1, got $q")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CharGrams.compute(input.asInstanceOf[UTF8String], q)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharGrams.compute($c, $q);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_grams"
}

object CharGrams {
  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String, q: Int): ArrayData = {
    val m = s.numChars() - q + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 1 // SQL substring is 1-indexed
    while (i <= m) {
      seen.add(s.substringSQL(i, q))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Stride-sampled window hashes for exact-substring dedup: one pass
  * emits the 64-bit md5 identity of every `win`-char window at `stride`
  * — no per-window hex string, no substring Column round trips (the
  * md5→hex→substr→conv chain allocated three strings per window: at
  * 95M windows that allocation, not the hashing, dominated). The value
  * matches DuckDB's `md5_number_lower` (little-endian uint64 of md5
  * bytes 8..15) so the oracle replays identities with its own
  * string-free kernel. Windows slice by CHARACTER (UTF8String
  * substring), matching SQL substring semantics on non-ASCII text.
  */
case class WindowMd5(child: Expression, win: Int, stride: Int)
    extends UnaryExpression {
  require(win >= 1 && stride >= 1)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WindowMd5.compute(input.asInstanceOf[UTF8String], win, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WindowMd5.compute($c, $win, $stride);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "window_md5"
}

object WindowMd5 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String, win: Int, stride: Int): ArrayData = {
    val n = s.numChars()
    val nw = if (n <= win) 1 else (n - win) / stride + 1
    val out = new Array[Long](nw)
    val md = digest.get()
    // ASCII fast path (byte count == char count): hash byte slices of
    // ONE materialized array — zero per-window allocations. Multi-byte
    // text falls back to char-correct substringSQL.
    val ascii = s.numBytes() == n
    val bytes = if (ascii) s.getBytes else null
    var w = 0
    while (w < nw) {
      md.reset()
      if (ascii) {
        val from = w * stride
        md.update(bytes, from, math.min(win, n - from))
      } else {
        md.update(s.substringSQL(w * stride + 1, win).getBytes)
      }
      val d = md.digest()
      // little-endian uint64 of md5 bytes 8..15 == DuckDB md5_number_lower
      var h = 0L
      var i = 15
      while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
      out(w) = h
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** HyperLogLog (bucket, rank) of a key in one digest pass, packed as
  * `bucket*64 + rho` in a single int. The composable form
  * (`conv(substring(md5(k),1,8),16,10)` + a base-2 string for the bit
  * length) allocates a hex string, a decimal string and a binary string
  * per row; this kernel reads the first four digest bytes directly —
  * value-identical to the oracle's `('0x'||substr(md5(k),1,8))::BIGINT`
  * split, byte for byte. Stays inside whole-stage codegen.
  */
/** One-pass shingle hashing: the `hexDigits`-hex-char md5 prefix of
  * every `n`-token window, emitted directly as longs — value-identical
  * to `('0x'||substr(md5(shingle),1,h))::BIGINT` over
  * [[WordShingles]]' output, without materializing a shingle string
  * Column, a hex string, or a decimal string per window (that chain
  * cost 8× DuckDB on a 5M-shingle corpus scan).
  */
case class ShingleHash(child: Expression, n: Int, hexDigits: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  require(hexDigits >= 1 && hexDigits <= 15,
    s"hexDigits must be in [1,15], got $hexDigits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleHash.compute(input.asInstanceOf[UTF8String], n, hexDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHash.compute($c, $n, $hexDigits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingle_hash"
}

object ShingleHash {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry shared by eval and generated code. Tokenization
    * mirrors [[WordShingles.compute]] (split on single space, empties
    * kept) so hash(shingle_hash(t,n,h)) ≡ md5-prefix(word_shingles(t,n)).
    */
  def compute(s: UTF8String, n: Int, hexDigits: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val md = digest.get()
    val out = new Array[Any](m)
    val shift = 64 - 4 * hexDigits
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(toks(i + j).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        j += 1
      }
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(i) = h >>> shift
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Deterministic sampling hash: first 4 md5 digest bytes (big-endian,
  * unsigned) mod `m` — value-identical to the oracle's
  * `('0x'||substr(md5(CAST(k AS VARCHAR)),1,8))::BIGINT % m`, sharing
  * [[HllBucketRank]]'s zero-allocation long fast path. The Column-level
  * md5(concat(...)) chain it replaces allocated a concat string, a hex
  * string and a decimal string per row — at 60M rows that allocation,
  * not the hashing, dominated the sample pass.
  */
case class Md5Mod(child: Expression, m: Int) extends UnaryExpression {
  require(m > 0, s"modulus must be positive, got $m")
  private def isLong =
    child.dataType == org.apache.spark.sql.types.LongType

  // only the two compute paths exist (long / UTF8String); anything else
  // (e.g. an INT child via the registered SQL function) must fail at
  // analysis, not as a codegen compile error or eval ClassCastException
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_mod requires a BIGINT or STRING input, got ${other.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    if (isLong) Md5Mod.computeLong(input.asInstanceOf[Long], m)
    else Md5Mod.compute(input.asInstanceOf[UTF8String], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (isLong)
        s"${ev.value} = graft.functions.Md5Mod.computeLong($c, $m);"
      else
        s"${ev.value} = graft.functions.Md5Mod.compute($c, $m);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_mod"
}

object Md5Mod {
  def computeLong(k: Long, m: Int): Long =
    Integer.toUnsignedLong(HllBucketRank.first32Long(k)) % m

  def compute(s: UTF8String, m: Int): Long =
    Integer.toUnsignedLong(HllBucketRank.first32(s)) % m

  def computeLongSalted(k: Long, salt: Array[Byte], m: Int): Long =
    Integer.toUnsignedLong(HllBucketRank.first32LongSalted(k, salt)) % m

  def computeSalted(s: UTF8String, salt: Array[Byte], m: Int): Long =
    Integer.toUnsignedLong(HllBucketRank.first32Salted(s, salt)) % m
}

/** Salted [[Md5Mod]] for k-hash sketches (bloom filters need k
  * independent bit positions per key): first 4 md5 digest bytes of
  * (key-rendered-as-decimal ++ salt) mod `m` — value-identical to
  * `md5(concat(CAST(k AS VARCHAR), salt))` hex-prefix math, with zero
  * per-row allocation on the BIGINT path. The Column-level
  * md5(concat(key, '#j')) chain it replaces allocated a concat string,
  * a 32-char hex string and a conv() decimal string per row per hash —
  * 3k allocations per probe row on the 100 TB side of a bloom-pruned
  * join (the same allocation class the heavy-hitters and HLL builds
  * already killed).
  */
case class Md5SaltMod(child: Expression, salt: String, m: Int)
    extends UnaryExpression {
  require(m > 0, s"modulus must be positive, got $m")
  private def isLong =
    child.dataType == org.apache.spark.sql.types.LongType

  @transient private lazy val saltBytes =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_salt_mod requires a BIGINT or STRING input, got ${other.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    if (isLong) Md5Mod.computeLongSalted(input.asInstanceOf[Long], saltBytes, m)
    else Md5Mod.computeSalted(input.asInstanceOf[UTF8String], saltBytes, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("md5salt", saltBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      if (isLong)
        s"${ev.value} = graft.functions.Md5Mod.computeLongSalted($c, $saltRef, $m);"
      else
        s"${ev.value} = graft.functions.Md5Mod.computeSalted($c, $saltRef, $m);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_salt_mod"
}

/** First 8 md5 digest bytes of the key's decimal rendering, packed
  * big-endian into one BIGINT — the seed for Kirsch-Mitzenmacher double
  * hashing (bit_j = (h1 + j·h2) mod m with h1 = top 32 bits, h2 = low
  * 32): ONE digest yields all k bloom positions, replayable by any
  * engine as `('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 16))`.
  * Same zero-alloc digit-buffer fast path as [[Md5Mod]].
  */
case class Md5First64(child: Expression) extends UnaryExpression {
  private def isLong =
    child.dataType == org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_first64 requires a BIGINT or STRING input, got ${other.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    if (isLong) HllBucketRank.first64Long(input.asInstanceOf[Long])
    else HllBucketRank.first64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (isLong)
        s"${ev.value} = graft.functions.HllBucketRank.first64Long($c);"
      else
        s"${ev.value} = graft.functions.HllBucketRank.first64($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_first64"
}

/** Map-side bloom membership test: ONE md5 per row ([[Md5First64]]'s
  * h1/h2 split), k double-hashed bit probes against a driver-built
  * bitset carried as a plan reference (serialized once per stage, not
  * per row). Returns false on the first clear bit. The bitset size is
  * a power of two so the modulus is a mask.
  */
case class BloomProbe(child: Expression, words: Array[Long], k: Int)
    extends UnaryExpression {
  require(words.nonEmpty && (words.length & (words.length - 1)) == 0,
    "bloom word count must be a power of two")
  require(k >= 1 && k <= 16, s"k=$k out of range")
  private def isLong =
    child.dataType == org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_probe requires a BIGINT or STRING input, got ${other.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullSafeEval(input: Any): Any =
    if (isLong) BloomProbe.hitLong(input.asInstanceOf[Long], words, k)
    else BloomProbe.hitString(input.asInstanceOf[UTF8String], words, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("bloomWords", words, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      if (isLong)
        s"${ev.value} = graft.functions.BloomProbe.hitLong($c, $w, $k);"
      else
        s"${ev.value} = graft.functions.BloomProbe.hitString($c, $w, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bloom_probe"
}

object BloomProbe {
  def hitLong(key: Long, words: Array[Long], k: Int): Boolean =
    hit(HllBucketRank.first64Long(key), words, k)

  def hitString(s: UTF8String, words: Array[Long], k: Int): Boolean =
    hit(HllBucketRank.first64(s), words, k)

  private def hit(h64: Long, words: Array[Long], k: Int): Boolean = {
    val h1 = h64 >>> 32
    val h2 = h64 & 0xFFFFFFFFL
    val mask = words.length.toLong * 64 - 1
    var j = 0
    while (j < k) {
      val bit = (h1 + j * h2) & mask
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      j += 1
    }
    true
  }
}

case class HllBucketRank(child: Expression, p: Int) extends UnaryExpression {
  require(p >= 4 && p <= 16, s"precision must be in [4,16], got $p")
  // def, not val: dataType is unavailable until the child resolves
  private def isLong =
    child.dataType == org.apache.spark.sql.types.LongType

  // same two-path contract as Md5Mod: reject other input types at analysis
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hll_bucket_rank requires a BIGINT or STRING input, got ${other.sql}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(input: Any): Any =
    if (isLong) HllBucketRank.computeLong(input.asInstanceOf[Long], p)
    else HllBucketRank.compute(input.asInstanceOf[UTF8String], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (isLong)
        s"${ev.value} = graft.functions.HllBucketRank.computeLong($c, $p);"
      else
        s"${ev.value} = graft.functions.HllBucketRank.compute($c, $p);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hll_bucket_rank"
}

object HllBucketRank {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val longBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](20)
  }

  /** LongType fast path: decimal digits rendered into a reusable
    * buffer — value-identical to md5(CAST(k AS VARCHAR)) with zero
    * per-row allocation (the string cast allocated a UTF8String per
    * row and dominated the 60M-row scan).
    */
  def computeLong(k: Long, p: Int): Int =
    finish(first32Long(k), p)

  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String, p: Int): Int =
    finish(first32(s), p)

  /** First 4 md5 digest bytes of the decimal rendering of `k`, packed
    * big-endian — the repo's replayable 32-bit seed hash, zero-alloc.
    */
  def first32Long(k: Long): Int = {
    if (k < 0) return first32(UTF8String.fromString(k.toString))
    val buf = longBuf.get()
    var i = 20
    var v = k
    do { i -= 1; buf(i) = ('0' + (v % 10)).toByte; v /= 10 } while (v != 0)
    val md = digest.get()
    md.reset()
    md.update(buf, i, 20 - i)
    pack(md.digest())
  }

  def first32(s: UTF8String): Int = {
    val md = digest.get()
    md.reset()
    pack(md.digest(s.getBytes))
  }

  /** Salted twin of [[first32Long]]: digest over (decimal digits ++
    * salt) — the bytes of `CAST(k AS VARCHAR) || salt` — zero-alloc.
    */
  def first32LongSalted(k: Long, salt: Array[Byte]): Int = {
    if (k < 0)
      return first32Salted(UTF8String.fromString(k.toString), salt)
    val buf = longBuf.get()
    var i = 20
    var v = k
    do { i -= 1; buf(i) = ('0' + (v % 10)).toByte; v /= 10 } while (v != 0)
    val md = digest.get()
    md.reset()
    md.update(buf, i, 20 - i)
    md.update(salt)
    pack(md.digest())
  }

  def first32Salted(s: UTF8String, salt: Array[Byte]): Int = {
    val md = digest.get()
    md.reset()
    md.update(s.getBytes)
    md.update(salt)
    pack(md.digest())
  }

  /** First 8 md5 digest bytes big-endian — the double-hash seed for
    * [[graft.functions.BloomProbe]]; decimal-digit fast path for longs.
    */
  def first64Long(kk: Long): Long = {
    if (kk < 0) return first64(UTF8String.fromString(kk.toString))
    val buf = longBuf.get()
    var i = 20
    var v = kk
    do { i -= 1; buf(i) = ('0' + (v % 10)).toByte; v /= 10 } while (v != 0)
    val md = digest.get()
    md.reset()
    md.update(buf, i, 20 - i)
    pack8(md.digest())
  }

  def first64(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    pack8(md.digest(s.getBytes))
  }

  private def pack8(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  private def pack(d: Array[Byte]): Int =
    ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
      ((d(2) & 0xff) << 8) | (d(3) & 0xff)

  /** first 8 md5 hex chars as an unsigned 32-bit value = first 4 bytes
    * big-endian (the repo's replayable-seed hash), split into bucket
    * (low p bits) and rank over the remaining 32-p bits.
    */
  private def finish(h32: Int, p: Int): Int = {
    val h = Integer.toUnsignedLong(h32)
    val bucket = (h & ((1L << p) - 1)).toInt // h % 2^p
    val v = h >>> p                          // remaining 32-p bits
    val w = 32 - p
    val rho =
      if (v == 0L) w + 1
      else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(v))
    bucket * 64 + rho
  }
}

/** `escaped_utf8` parser decoder as a native expression — single-pass
  * scanner faithful to `src/flb_unescape.c:186` flb_unescape_string_utf8:
  * simple escapes (\" \' \\ \/ \n \b \t \f \r, plus v/a via the escape
  * reader), octal (≤3 digits), \xHH (≤2), \uXXXX with surrogate pairing
  * (lone surrogates ⇒ U+FFFD), \UXXXXXXXX. A chain of regexp_replace
  * calls cannot express this (replacement order corrupts `\\n`, and
  * \uXXXX needs codepoint math).
  */
case class UnescapeUtf8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UnescapeUtf8.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnescapeUtf8.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unescape_utf8"
}

object UnescapeUtf8 {
  private def hex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def octal(c: Char): Boolean = c >= '0' && c <= '7'

  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val in = s.toString
    val sb = new java.lang.StringBuilder(in.length)
    var i = 0
    while (i < in.length) {
      val c = in.charAt(i)
      if (c == '\\' && i + 1 < in.length) {
        val n = in.charAt(i + 1)
        n match {
          case '"' | '\'' | '\\' | '/' => sb.append(n); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'v' => sb.append(0x0B.toChar); i += 2
          case 'a' => sb.append(0x07.toChar); i += 2
          case 'x' =>
            var j = i + 2; var v = 0; var d = 0
            while (j < in.length && hex(in.charAt(j)) && d < 2) {
              v = v * 16 + Character.digit(in.charAt(j), 16); j += 1; d += 1
            }
            if (d > 0) sb.appendCodePoint(v) else sb.append('x')
            i = if (d > 0) j else i + 2
          case 'u' =>
            var j = i + 2; var v = 0; var d = 0
            while (j < in.length && hex(in.charAt(j)) && d < 4) {
              v = v * 16 + Character.digit(in.charAt(j), 16); j += 1; d += 1
            }
            if (d != 4) { sb.appendCodePoint(if (d > 0) 0xFFFD else 'u'); i = j }
            else if (Character.isLowSurrogate(v.toChar)) { sb.appendCodePoint(0xFFFD); i = j }
            else if (Character.isHighSurrogate(v.toChar)) {
              // surrogate pair: expect \uXXXX low half next
              if (j + 1 < in.length && in.charAt(j) == '\\' && in.charAt(j + 1) == 'u') {
                var k = j + 2; var lo = 0; var dl = 0
                while (k < in.length && hex(in.charAt(k)) && dl < 4) {
                  lo = lo * 16 + Character.digit(in.charAt(k), 16); k += 1; dl += 1
                }
                if (dl == 4 && Character.isLowSurrogate(lo.toChar)) {
                  sb.appendCodePoint(Character.toCodePoint(v.toChar, lo.toChar)); i = k
                } else { sb.appendCodePoint(0xFFFD); i = k }
              } else { sb.appendCodePoint(0xFFFD); i = j }
            }
            else { sb.appendCodePoint(v); i = j }
          case 'U' =>
            var j = i + 2; var v = 0; var d = 0
            while (j < in.length && hex(in.charAt(j)) && d < 8) {
              v = v * 16 + Character.digit(in.charAt(j), 16); j += 1; d += 1
            }
            if (d > 0 && v <= 0x10FFFF) sb.appendCodePoint(v)
            else if (d > 0) sb.appendCodePoint(0xFFFD)
            else sb.append('U')
            i = if (d > 0) j else i + 2
          case o if octal(o) =>
            var j = i + 1; var v = 0; var d = 0
            while (j < in.length && octal(in.charAt(j)) && d < 3) {
              v = v * 8 + Character.digit(in.charAt(j), 8); j += 1; d += 1
            }
            sb.appendCodePoint(v); i = j
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** `mysql_quoted` parser decoder as a native expression — faithful to
  * `src/flb_parser_decoder.c:114` decode_mysql_quoted +
  * `src/flb_unescape.c` flb_mysql_unquote_string: strip a matching pair
  * of surrounding single or double quotes, then unescape MySQL
  * sequences (\n \r \t \\ \' \" \0 \Z); unknown escapes keep the
  * backslash verbatim (which is why a regexp_replace chain can't model
  * it — '\\n' must stay backslash-n, not newline).
  */
case class MysqlUnquote(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    MysqlUnquote.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MysqlUnquote.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "mysql_unquote"
}

object MysqlUnquote {
  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val raw = s.toString
    if (raw.length < 2) return s
    val quoted = (raw.charAt(0) == '\'' && raw.charAt(raw.length - 1) == '\'') ||
      (raw.charAt(0) == '"' && raw.charAt(raw.length - 1) == '"')
    if (!quoted) return s
    val in = raw.substring(1, raw.length - 1)
    val sb = new java.lang.StringBuilder(in.length)
    var i = 0
    while (i < in.length) {
      val c = in.charAt(i)
      if (c != '\\' || i + 1 >= in.length) { sb.append(c); i += 1 }
      else {
        in.charAt(i + 1) match {
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case '\\' => sb.append('\\')
          case '\'' => sb.append('\'')
          case '"' => sb.append('"')
          case '0' => sb.append(0x00.toChar)
          case 'Z' => sb.append(0x1A.toChar)
          case other => sb.append('\\').append(other)
        }
        i += 2
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Split a buffer of concatenated top-level JSON values into the
  * individual value strings — the shape Splunk HEC senders emit
  * (`{..}{..}` with no delimiter between events) and the reference
  * handles by converting the whole payload and iterating
  * msgpack_unpack_next over it (`plugins/in_splunk/splunk_prot.c:
  * 368-430`). A top-level JSON *array* contributes its elements, one
  * record each (the MSGPACK_OBJECT_ARRAY branch at splunk_prot.c:388).
  * The scanner is string-aware: braces/brackets/commas inside quoted
  * strings (including escaped quotes) don't count. `split()`/regexp
  * cannot express this — brace depth is not a regular language.
  */
case class SplitJsonValues(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SplitJsonValues.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SplitJsonValues.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "split_json_values"
}

object SplitJsonValues {
  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String): ArrayData = {
    val in = s.toString
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < in.length) {
      // skip inter-value whitespace (HEC also tolerates newlines)
      while (i < in.length && Character.isWhitespace(in.charAt(i))) i += 1
      if (i < in.length && in.charAt(i) != '{' && in.charAt(i) != '[') {
        // top-level scalar (bare string/number/true): the reference
        // rejects non-map/array top-level values (splunk_prot.c:420-427).
        // Skip — string-aware, so a quoted scalar containing '{' doesn't
        // derail — to the next '{'/'[' (or end) and emit the skipped text
        // as its own fragment; downstream from_json surfaces it as a NULL
        // record while the following valid maps survive.
        val start = i
        var inStr = false
        var stop = false
        while (i < in.length && !stop) {
          val c = in.charAt(i)
          if (inStr) {
            if (c == '\\') i += 1
            else if (c == '"') inStr = false
            i += 1
          } else if (c == '"') { inStr = true; i += 1 }
          else if (c == '{' || c == '[') stop = true
          else i += 1
        }
        val frag = in.substring(start, i).trim
        if (frag.nonEmpty) out += UTF8String.fromString(frag)
      } else if (i < in.length) {
        val start = i
        val isArray = in.charAt(i) == '['
        var depth = 0
        var inStr = false
        var done = false
        var elemStart = if (isArray) i + 1 else start
        while (i < in.length && !done) {
          val c = in.charAt(i)
          if (inStr) {
            if (c == '\\') i += 1
            else if (c == '"') inStr = false
          } else c match {
            case '"' => inStr = true
            case '{' | '[' => depth += 1
            case '}' | ']' =>
              depth -= 1
              if (depth == 0) {
                if (isArray) {
                  val e = in.substring(elemStart, i).trim
                  if (e.nonEmpty) out += UTF8String.fromString(e)
                } else out += UTF8String.fromString(in.substring(start, i + 1))
                done = true
              }
            case ',' if isArray && depth == 1 =>
              val e = in.substring(elemStart, i).trim
              if (e.nonEmpty) out += UTF8String.fromString(e)
              elemStart = i + 1
            case _ =>
          }
          i += 1
        }
        if (!done) {
          // unterminated trailing value: keep the fragment verbatim so the
          // downstream from_json surfaces it as a NULL record, like the
          // reference's FLB_ERR_JSON_PART skip (splunk_prot.c:458-461)
          val frag = in.substring(start).trim
          if (frag.nonEmpty) out += UTF8String.fromString(frag)
        }
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Elasticsearch `_bulk` body → `(write_op, meta, doc)` records in one
  * pass — the scanner form of the reference's per-request decode loop
  * (`plugins/in_elasticsearch/in_elasticsearch_bulk_prot.c:137-246`:
  * action line, then document line, `delete` standalone, `update`
  * acknowledged but not ingested, unknown actions skipped).
  *
  * The composable form (an `aggregate` HOF folding the body's lines)
  * rebuilds its accumulator array per line — O(lines²) element copies
  * per body — and runs interpreted with four `get_json_object` probes
  * per action line. This expression walks the body once, reads the
  * action's single top-level key directly, and stays inside whole-stage
  * codegen. Divergence from the HOF form: the action key is taken from
  * the object's first member (bulk action lines have exactly one), so a
  * malformed tail after a valid first key no longer disqualifies the
  * line.
  */
case class EsBulkScan(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("write_op", StringType, nullable = false),
    StructField("meta", StringType, nullable = false),
    StructField("doc", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    EsBulkScan.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.EsBulkScan.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "es_bulk_scan"
}

object EsBulkScan {
  /** First top-level key of a one-key JSON object, or null when the line
    * doesn't start like an object (`{ "key" ...`).
    */
  private def firstKey(line: String): String = {
    var i = 0
    val n = line.length
    while (i < n && Character.isWhitespace(line.charAt(i))) i += 1
    if (i >= n || line.charAt(i) != '{') return null
    i += 1
    while (i < n && Character.isWhitespace(line.charAt(i))) i += 1
    if (i >= n || line.charAt(i) != '"') return null
    i += 1
    val sb = new java.lang.StringBuilder(8)
    while (i < n) {
      val c = line.charAt(i)
      if (c == '\\' && i + 1 < n) { sb.append(line.charAt(i + 1)); i += 2 }
      else if (c == '"') return sb.toString
      else { sb.append(c); i += 1 }
    }
    null
  }

  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String): ArrayData = {
    val body = s.toString
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var pendingOp: UTF8String = null
    var pendingMeta: String = null
    var start = 0
    val n = body.length
    while (start <= n) {
      var stop = body.indexOf('\n', start)
      if (stop < 0) stop = n
      if (stop > start) { // empty lines are skipped, as in the HOF form
        val line = body.substring(start, stop)
        if (pendingOp != null) {
          // document line for the pending index/create action
          out += new GenericInternalRow(Array[Any](pendingOp,
            UTF8String.fromString(pendingMeta), UTF8String.fromString(line)))
          pendingOp = null; pendingMeta = null
        } else {
          firstKey(line) match {
            case "index"  => pendingOp = OpIndex; pendingMeta = line
            case "create" => pendingOp = OpCreate; pendingMeta = line
            case "update" => pendingOp = OpUpdate; pendingMeta = line
            case _        => () // delete stands alone; unknown lines skip
          }
          // update consumes its doc line but is not ingested
          // (error-op gating, in_elasticsearch_bulk_prot.c:233-246)
          if (pendingOp eq OpUpdate) {
            var ds = stop + 1
            var de = body.indexOf('\n', ds)
            if (de < 0) de = n
            // skip blank lines between action and doc, like the fold
            while (ds < n && de == ds) { ds = de + 1; de = body.indexOf('\n', ds); if (de < 0) de = n }
            stop = de
            pendingOp = null; pendingMeta = null
          }
        }
      }
      start = stop + 1
    }
    new GenericArrayData(out.toArray)
  }

  private val OpIndex = UTF8String.fromString("index")
  private val OpCreate = UTF8String.fromString("create")
  private val OpUpdate = UTF8String.fromString("update")
}

/** Unicode NFC normalization (UAX #15) as a native expression — Spark
  * has no built-in normalizer, and web-crawled corpora mix precomposed
  * and combining-mark encodings of the same grapheme ("café" two ways),
  * which silently defeats exact dedup and token counting downstream.
  *
  * Scale shape: the hot path is a byte scan — a fully-ASCII string (the
  * overwhelming majority of a web corpus) returns the input UTF8String
  * unchanged with zero allocation, and an already-normalized non-ASCII
  * string pays only `Normalizer.isNormalized`. Only the denormalized
  * minority allocates. Runs inside whole-stage codegen.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    val nb = s.numBytes
    var i = 0
    while (i < nb && (s.getByte(i) & 0x80) == 0) i += 1
    if (i == nb) return s // pure ASCII: NFC is the identity
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** HTML entity decoding (`&amp;` `&#65;` `&#x41;` …) as a native
  * expression — the last step of HTML→text extraction, which Spark has
  * no built-in for. Named entities cover the HTML4 core set a crawled
  * page actually uses; numeric (decimal and hex) references decode any
  * code point. Malformed references (`&foo;`, `&#;`, unterminated
  * `&amp`) pass through verbatim — extraction must never lose user
  * text. Strings without `&` return the input UTF8String unchanged
  * (zero allocation); runs inside whole-stage codegen.
  */
case class HtmlUnescape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    HtmlUnescape.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HtmlUnescape.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "html_unescape"
}

object HtmlUnescape {
  private val Named: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("amp", "&"); m.put("lt", "<"); m.put("gt", ">")
    m.put("quot", "\""); m.put("apos", "'"); m.put("nbsp", " ")
    m.put("mdash", "—"); m.put("ndash", "–")
    m.put("hellip", "…"); m.put("rsquo", "’")
    m.put("lsquo", "‘"); m.put("rdquo", "”")
    m.put("ldquo", "“"); m.put("copy", "©")
    m.put("reg", "®"); m.put("trade", "™")
    m.put("deg", "°"); m.put("middot", "·")
    m.put("laquo", "«"); m.put("raquo", "»")
    m
  }

  /** Static entry shared by eval and generated code. */
  def compute(s: UTF8String): UTF8String = {
    // '&' is ASCII: scan the UTF-8 bytes before materializing a String,
    // so the no-entity majority of a corpus really is zero-alloc
    val nb = s.numBytes
    var bi = 0
    while (bi < nb && s.getByte(bi) != '&') bi += 1
    if (bi == nb) return s
    val str = s.toString
    var i = str.indexOf('&')
    if (i < 0) return s // unreachable; defensive
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    sb.append(str, 0, i)
    while (i < n) {
      val c = str.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        val semi = str.indexOf(';', i + 1)
        // references are short; a far-away ';' means bare '&' text
        if (semi < 0 || semi - i > 10) { sb.append('&'); i += 1 }
        else {
          val body = str.substring(i + 1, semi)
          val decoded: String =
            if (body.startsWith("#x") || body.startsWith("#X")) {
              try {
                val cp = Integer.parseInt(body.substring(2), 16)
                if (Character.isValidCodePoint(cp) &&
                    !(cp >= 0xD800 && cp <= 0xDFFF)) // lone surrogates
                  new String(Character.toChars(cp)) else null
              } catch { case _: Exception => null }
            } else if (body.startsWith("#")) {
              try {
                val cp = Integer.parseInt(body.substring(1))
                if (Character.isValidCodePoint(cp) &&
                    !(cp >= 0xD800 && cp <= 0xDFFF)) // lone surrogates
                  new String(Character.toChars(cp)) else null
              } catch { case _: Exception => null }
            } else Named.get(body)
          if (decoded == null) { sb.append('&'); i += 1 } // verbatim
          else { sb.append(decoded); i = semi + 1 }
        }
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Every listed capture group of ONE regex match, in list order — the
  * parse of a named-group parser in a single pass over the text, where
  * one `regexp_extract` per group runs the whole match once per group.
  * Semantics per group match `regexp_extract(s, pattern, g)` after a
  * successful `rlike(s, pattern)` (first `find()`; a group that did not
  * take part reads ""); NULL when the pattern does not match.
  */
case class RegexGroups(child: Expression, pattern: String, groups: Seq[Int])
    extends UnaryExpression {
  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    RegexGroups.compute(compiled, input.asInstanceOf[UTF8String], groups.toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("pattern", java.util.regex.Pattern.compile(pattern),
      "java.util.regex.Pattern")
    val g = ctx.addReferenceObj("groups", groups.toArray, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.RegexGroups.compute($p, $c, $g);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "regex_groups"
}

object RegexGroups {
  /** Static entry shared by eval and generated code. */
  def compute(p: java.util.regex.Pattern, s: UTF8String, groups: Array[Int]): ArrayData = {
    val m = p.matcher(s.toString)
    if (!m.find()) return null
    val out = new Array[Any](groups.length)
    var i = 0
    while (i < groups.length) {
      val v = m.group(groups(i))
      out(i) = UTF8String.fromString(if (v == null) "" else v)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object TextFunctions {
  /** Groups `groups` of one match of `pattern` in `s`; NULL on no match. */
  def regexGroups(s: Column, pattern: String, groups: Seq[Int]): Column =
    shim.column(RegexGroups(shim.expression(s), pattern, groups))

  /** All word n-grams of `text` (split on single spaces). */
  def wordShingles(text: Column, n: Int): Column =
    shim.column(WordShingles(shim.expression(text), n))

  /** Distinct character q-grams of `s`, one codegen pass. */
  def charGrams(s: Column, q: Int): Column =
    shim.column(CharGrams(shim.expression(s), q))

  /** Unicode NFC normalization (UAX #15), ASCII fast-pathed. */
  def nfcNormalize(s: Column): Column =
    shim.column(NfcNormalize(shim.expression(s)))

  /** 64-bit md5 identities of stride-sampled char windows (one pass). */
  def windowMd5(text: Column, win: Int, stride: Int): Column =
    shim.column(WindowMd5(shim.expression(text), win, stride))

  /** HTML entity decoding (named + numeric refs), malformed-verbatim. */
  def htmlUnescape(s: Column): Column =
    shim.column(HtmlUnescape(shim.expression(s)))

  /** escaped_utf8 decoder (flb_parser_decoder.c:392-468). */
  def unescapeUtf8(s: Column): Column =
    shim.column(UnescapeUtf8(shim.expression(s)))

  /** mysql_quoted decoder (flb_parser_decoder.c:114). */
  def mysqlUnquote(s: Column): Column =
    shim.column(MysqlUnquote(shim.expression(s)))

  /** Concatenated/array JSON payload → individual value strings
    * (splunk_prot.c:368-430 ingest shape).
    */
  def splitJsonValues(s: Column): Column =
    shim.column(SplitJsonValues(shim.expression(s)))

  /** ES `_bulk` body → array of (write_op, meta, doc) records
    * (in_elasticsearch_bulk_prot.c:137-246 decode loop).
    */
  def esBulkScan(body: Column): Column =
    shim.column(EsBulkScan(shim.expression(body)))
}
