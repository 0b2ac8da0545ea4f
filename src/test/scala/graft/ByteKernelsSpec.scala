package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{JsonLineBytes, RegexGroups, RegexScanner}

/** The byte-level record kernels against the code they stand in for:
  * [[RegexScanner]] against `java.util.regex` (`find()` plus group
  * extraction, as `RegexGroups` ran it), and `Formats.jsonLine`'s byte
  * writer against `to_json(named_struct(...))`. Fixed seeds.
  */
class ByteKernelsSpec extends AnyFunSuite {
  import TestSpark._

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  // Every named-group regex in the engine and its tests, with one line
  // it matches; `true` marks the patterns in the scanner's subset.
  private val patterns: Seq[(String, String, Boolean)] = Seq(
    ("""^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+) (?<path>[^ ]*) [^"]*" (?<code>[^ ]*) (?<size>[^ ]*) "(?<referer>[^"]*)" "(?<agent>[^"]*)"$""",
      """10.0.0.1 - alice [10/Oct/2024:13:55:36 +0000] "GET /a?id=1 HTTP/1.1" 200 12 "-" "curl/8.5"""", true),
    ("""^(?<method>[A-Z]+) (?<uri>\S+) (?<status>\d+) (?<bytes>\d+)$""", "GET /index.html 200 512", true),
    ("""^(?<method>[A-Z]+) (?<path>\S+) (?<code>\d+)$""", "POST /api 201", true),
    ("""^(?<method>[A-Z]+) (?<path>\S+)""", "GET /x trailing words", true),
    ("""^(?<verb>\S+) (?<path>\S+)$""", "GET /v1/items", true),
    ("""^lvl=(?<lvl>\w+) id=(?<pid>\d+)$""", "lvl=warn id=42", true),
    ("""^(?<etype>\w+) id=(?<id>\d+) val=(?<val>[0-9.]+)$""", "click id=7 val=3.25", true),
    ("""^(?<method>[A-Z]+) (?<path>\S+)(?: (?<note>.+))?$""", "GET /x a note", false),
    ("""(?<a>\w+) (x|y) (?:zz) (?<b>\d+)""", "abc x zz 12", false),
    ("^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \\[(?<time>[^\\]]*)\\] " +
      "\"(?<method>\\S+)(?: +(?<path>[^\"]*?))?(?: +\\S*)?\" " +
      "(?<code>[^ ]*) (?<size>[^ ]*)$",
      """1.2.3.4 - - [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" 200 12""", false),
    (graft.sources.Sources.Rfc5424Pattern,
      "<34>1 2024-10-11T22:14:15.003Z host app 811 ID47 [a b=\"c\"] a message", false),
    (graft.sources.Sources.Rfc3164Pattern, "<34>Oct 11 22:14:15 host su[811]: a message", false),
    ("""^(?<time>[^ ]+) (?<stream>stdout|stderr) (?<logtag>[^ ]*) (?<message>.*)$""",
      "2024-10-11T22:14:15Z stdout F hello", false),
    // subset shapes no config uses yet: `.` runs, a bare group, `\s`
    // and `\D`, a class run closing a nested group at `$`
    ("""^(?<k>\w+)=(?<v>.*)$""", "key=some value", true),
    ("""^(\d+) \s(?<rest>(?<word>\D+))$""", "12 \tabc", true))

  private val terminators = Seq("\n", "\r\n", "\r", "\n\n", "\r\r\n", "\n\r", "\u0085", "\u2028", "\u2029")

  /** `line` with up to three edits: characters from `alphabet` put in or
    * over it, spans cut out (emptying groups), terminators appended.
    */
  private def mutate(line: String, alphabet: Seq[String]): Gen[String] = {
    val edit: Gen[String => String] = Gen.frequency(
      3 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(alphabet)).map { case (f, c) =>
        (s: String) => { val i = (f * s.length).toInt; s.substring(0, i) + c + s.substring(i) } },
      2 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(alphabet)).map { case (f, c) =>
        (s: String) => if (s.isEmpty) c else {
          val i = math.min((f * s.length).toInt, s.length - 1)
          s.substring(0, i) + c + s.substring(i + 1)
        } },
      2 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1, 6)).map { case (f, k) =>
        (s: String) => { val i = (f * s.length).toInt; s.substring(0, i) + s.substring(math.min(s.length, i + k)) } },
      2 -> Gen.oneOf(terminators).map(t => (s: String) => s + t))
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, edit)).map(_.foldLeft(line)((s, f) => f(s)))
  }

  private val invalid: Seq[Array[Byte]] = Seq(Array(0x80), Array(0xC3), Array(0xFF), Array(0xED, 0xA0, 0x80),
    Array(0xC0, 0xAF), Array(0xF4, 0x90, 0x80, 0x80), Array(0xE2, 0x80), Array(0xF0, 0x9F, 0x98))
    .map(_.map(_.toByte))

  /** A line's bytes, now and then with a malformed sequence put in. */
  private def bytesOf(line: Gen[String]): Gen[Array[Byte]] = for {
    s <- line
    bad <- Gen.frequency(4 -> Gen.const(None), 1 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(invalid)).map(Some(_)))
  } yield {
    val b = s.getBytes(UTF_8)
    bad.fold(b) { case (f, ins) => val i = (f * b.length).toInt; b.take(i) ++ ins ++ b.drop(i) }
  }

  /** What `RegexGroups` computed with `java.util.regex` alone. */
  private def javaGroups(p: java.util.regex.Pattern, s: UTF8String, groups: Seq[Int]): Option[Seq[Seq[Byte]]] = {
    val m = p.matcher(s.toString)
    if (!m.find()) None
    else Some(groups.map(g => Option(m.group(g)).getOrElse("").getBytes(UTF_8).toSeq))
  }

  test("regex scanner == java.util.regex find() and groups, for every named-group regex") {
    var scanned = 0
    var matchedOnScanner = 0
    patterns.zipWithIndex.foreach { case ((pattern, line, inSubset), pi) =>
      val scanner = RegexScanner.compile(pattern)
      assert(scanner.isDefined == inSubset, s"subset membership of $pattern")
      val compiled = java.util.regex.Pattern.compile(pattern)
      val names = graft.parse.Parsers.groupNames(pattern)
      val groups = names.map(graft.parse.Parsers.groupIndexes(pattern)).toArray
      assert(javaGroups(compiled, UTF8String.fromString(line), groups.toSeq).isDefined, s"sample of $pattern")
      val delimiters = pattern.filter(c => c < 128 && !c.isLetterOrDigit && c != '\\').distinct.map(_.toString)
      val alphabet = delimiters ++ Seq("a", "Z", "0", "9", "_", "-", " ", "\t", "\n", "\r", "\r\n",
        "\u0085", "\u2028", "\u2029", "é", "日", "😀", "\u0000", "\u007f")
      val inputs = sample(bytesOf(Gen.frequency(1 -> Gen.const(line), 6 -> mutate(line, alphabet))), 1500, 100L + pi)
      inputs.foreach { bytes =>
        val s = UTF8String.fromBytes(bytes)
        val want = javaGroups(compiled, s, groups.toSeq)
        val got = Option(RegexGroups.compute(scanner.orNull, compiled, s, groups))
          .map(a => (0 until a.numElements).map(a.getUTF8String(_).getBytes.toSeq))
        assert(got == want, s"pattern $pattern input ${bytes.map(_ & 0xFF).mkString(" ")}")
        scanner.foreach { sc =>
          if (sc.groups(s, groups) ne RegexScanner.Fallback) {
            scanned += 1
            if (want.isDefined) matchedOnScanner += 1
          }
        }
      }
    }
    // the generator reaches the scanner's matches and its rejections
    assert(scanned > 5000 && matchedOnScanner > 1000 && scanned - matchedOnScanner > 1000,
      s"scanned $scanned, matched $matchedOnScanner")
  }

  test("regex scanner: `$` before one final terminator, never inside \\r\\n; `.` and bad UTF-8 fall back") {
    val sc = RegexScanner.compile("""^(?<a>\S+) (?<n>\d+)$""").get
    def run(s: String) = Option(sc.groups(UTF8String.fromString(s), Array(1, 2)))
      .map(a => (0 until a.numElements).map(a.getUTF8String(_).toString))
    assert(run("x 12") == Some(Seq("x", "12")))
    assert(run("x 12\n") == Some(Seq("x", "12")))
    assert(run("x 12\r\n") == Some(Seq("x", "12")))
    assert(run("é 12\u2028") == Some(Seq("é", "12")))
    assert(run("x 12\n\n").isEmpty)
    assert(run("x 12\n3").isEmpty)
    val dot = RegexScanner.compile("""^(?<a>.*)$""").get
    assert(dot.groups(UTF8String.fromString("ab\r\n"), Array(1)).getUTF8String(0).toString == "ab")
    assert(dot.groups(UTF8String.fromString("é"), Array(1)) eq RegexScanner.Fallback)
    assert(sc.groups(UTF8String.fromBytes(Array[Byte]('x', ' ', '1', 0x80.toByte)), Array(1, 2)) eq RegexScanner.Fallback)
  }

  // Field values: every control character, the escaped and the raw
  // punctuation, multi-byte characters, and now and then a NULL or a
  // malformed byte sequence.
  private val piece: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.oneOf((0 until 32).map(c => c.toChar.toString) ++
      Seq("\"", "\\", "/", "\u007f", "a", "Zz9", " ", "é", "日本", "😀", "\u0085", "\u2028", "\uFFFD")).map(_.getBytes(UTF_8)),
    1 -> Gen.oneOf(invalid))
  private val value: Gen[Option[Array[Byte]]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> Gen.choose(0, 8).flatMap(Gen.listOfN(_, piece)).map(ps => Some(ps.flatten.toArray)))

  private val fieldNames = Seq("plain", "quo\"te", "back\\slash", "tab\tnl\n", "ctl\u0001\u001f", "sl/ash", "é日",
    "", "del\u007f")

  /** Random string structs, as a local relation (the optimizer folds
    * the projection, so the expression is evaluated) or as an RDD
    * (generated code).
    */
  private def jsonFrames(s: org.apache.spark.sql.SparkSession, local: Boolean) = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val rows = sample(Gen.listOfN(fieldNames.size, value), 600, 21L) :+ Seq.fill(fieldNames.size)(None)
    val df = if (local) rows.map(_.toArray).toDF("v") else s.sparkContext.parallelize(rows.map(_.toArray), 3).toDF("v")
    val cols = fieldNames.indices.map(i => col("v").getItem(i).cast("string"))
    val fields = fieldNames.zip(cols)
    (df, fields)
  }

  private def compareJson(s: org.apache.spark.sql.SparkSession,
                          local: Boolean): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.functions._
    val (df, fields) = jsonFrames(s, local)
    val out = df.select(graft.sinks.Formats.jsonLine(fields).cast("binary").as("got"),
      to_json(struct(fields.map { case (n, c) => c.as(n) }: _*)).cast("binary").as("want"),
      col("v"))
    out.collect().foreach { r =>
      assert(r.getAs[Array[Byte]]("got").toSeq == r.getAs[Array[Byte]]("want").toSeq,
        s"values ${r.getSeq[Array[Byte]](2).map(v => Option(v).map(_.map(_ & 0xFF).mkString(" ")))}: " +
          s"${new String(r.getAs[Array[Byte]]("got"), UTF_8)} vs ${new String(r.getAs[Array[Byte]]("want"), UTF_8)}")
    }
    out.queryExecution.optimizedPlan
  }

  private def bytesWriter(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonLineBytes])))

  test("json byte writer == to_json(named_struct) byte for byte over string structs") {
    compareJson(spark, local = true)
    val plan = compareJson(spark, local = false)
    assert(bytesWriter(plan), plan.toString)
  }

  test("json line: a session writing NULL fields, and a non-string field, take to_json") {
    val nulls = spark.newSession()
    nulls.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    val plan = compareJson(nulls, local = false)
    assert(!bytesWriter(plan), plan.toString)
    import org.apache.spark.sql.functions._
    val mixed = spark.range(3).select(graft.sinks.Formats.jsonLine(Seq(
      "id" -> col("id"), "s" -> col("id").cast("string"))).as("j"))
    assert(!bytesWriter(mixed.queryExecution.optimizedPlan))
    assert(mixed.collect().map(_.getString(0)).toSeq == Seq(0, 1, 2).map(i => s"""{"id":$i,"s":"$i"}"""))
  }
}
