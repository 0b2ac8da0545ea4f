package perfbench

import java.util.SplittableRandom

/** Seeded input generator and its oracle. Everything here is computed
  * without the engine: the generator writes the inputs the pipeline
  * receives and, from the same draws, the records each output must hold.
  *
  * A record is compared as a flat string map. Its fingerprint is a 64-bit
  * hash of the sorted `key=value` pairs plus the tag, so key order in the
  * emitted JSON does not matter but every key, value and tag does.
  */
object Gen {

  // ------------------------------------------------------------ hashing

  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def hashStr(s: String, seed: Long): Long = {
    var h = seed ^ 0x9e3779b97f4a7c15L
    var i = 0
    while (i < s.length) { h = mix(h ^ s.charAt(i)) + 0x632be59bd9b4e019L; i += 1 }
    mix(h ^ s.length)
  }

  /** Fingerprint of one output record under `tag`. */
  def fingerprint(tag: String, fields: Iterable[(String, String)]): Long = {
    var h = hashStr(tag, 17L)
    fields.toSeq.sortBy(_._1).foreach { case (k, v) =>
      h = mix(h * 31 + hashStr(k, 1L)) ^ hashStr(v, 2L)
    }
    h
  }

  // --------------------------------------------------------- access log

  /** The `[PARSER]` regex the access workloads declare (Apache combined
    * log, with every group present).
    */
  val AccessRegex: String =
    """^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+) (?<path>[^ ]*) [^"]*" (?<code>[^ ]*) (?<size>[^ ]*) "(?<referer>[^"]*)" "(?<agent>[^"]*)"$"""

  private val Methods = Array("GET", "GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Paths = Array("/api/v1/items", "/api/v1/users", "/api/v1/orders",
    "/static/app.js", "/static/site.css", "/login", "/search")
  private val Agents = Array("curl/8.5.0", "Mozilla/5.0 (X11; Linux x86_64)",
    "Go-http-client/1.1", "python-requests/2.31", "fluent-bit-probe/3.0")
  private val Users = Array("-", "-", "-", "alice", "bob", "carol")
  private val Levels = Array("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** 2026-10-17T00:00:00Z: fixed so the inputs depend on the seed only. */
  val BaseEpoch: Long = 1792195200L

  private def pad2(i: Int): String = if (i < 10) "0" + i else i.toString

  private def clfTime(epoch: Long): String = {
    val d = java.time.LocalDateTime.ofEpochSecond(epoch, 0, java.time.ZoneOffset.UTC)
    s"${pad2(d.getDayOfMonth)}/${Months(d.getMonthValue - 1)}/${d.getYear}:" +
      s"${pad2(d.getHour)}:${pad2(d.getMinute)}:${pad2(d.getSecond)} +0000"
  }

  /** Shares of the generated access traffic, in percent. No measured
    * traffic or published study backs them: they are design choices that
    * give every path of the filter chain some work. Health checks feed
    * grep's drop path, 5xx lines rewrite_tag's re-injection and the loki
    * sink, and malformed lines the parser's unmatched path.
    */
  val MalformedPct = 1
  val HealthPct = 4
  val ServerErrorPct = 3

  private val OkCodes = Array("200", "201", "301", "304", "404")
  private val ErrorCodes = Array("500", "502", "503")

  private def status(r: SplittableRandom): String =
    if (r.nextInt(100) < ServerErrorPct) ErrorCodes(r.nextInt(ErrorCodes.length))
    else OkCodes(r.nextInt(OkCodes.length))

  /** One generated input line, with the records it must produce at the
    * `*` output (tag + fields) — None when the pipeline drops it.
    */
  final case class Line(text: String, tag: String, out: Option[(String, Map[String, String])])

  /** An access-log line for record number `id`: a health check (dropped
    * by grep), a 5xx (re-tagged `err.<code>`), a line the parser does not
    * match (passed through unparsed) or a plain request, in the shares
    * above.
    */
  def accessLine(r: SplittableRandom, id: Long): Line = {
    val t = clfTime(BaseEpoch + id / 50)
    if (r.nextInt(100) < MalformedPct) {
      val text = s"malformed request $id from probe"
      return Line(text, "web.access",
        Some("web.access" -> Map("value" -> text, "env" -> "prod")))
    }
    val host = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
    val user = Users(r.nextInt(Users.length))
    val method = Methods(r.nextInt(Methods.length))
    val health = r.nextInt(100) < HealthPct
    val path =
      if (health) (if (r.nextBoolean()) "/healthz" else "/healthz/ready") + s"?id=$id"
      else s"${Paths(r.nextInt(Paths.length))}/${r.nextInt(5000)}?id=$id"
    val code = if (health) "200" else status(r)
    val size = r.nextInt(200000).toString
    val agent = Agents(r.nextInt(Agents.length))
    val text = s"""$host - $user [$t] "$method $path HTTP/1.1" $code $size "-" "$agent""""
    val fields = Map("remote_addr" -> host, "user" -> user, "time" -> t,
      "method" -> method, "path" -> path, "code" -> code, "size" -> size,
      "referer" -> "-", "agent" -> agent, "env" -> "prod")
    val out =
      if (health) None
      else if (code.startsWith("5")) Some(s"err.$code" -> fields)
      else Some("web.access" -> fields)
    Line(text, "web.access", out)
  }

  /** A plain application log line; it takes the unmatched path. */
  def appLine(r: SplittableRandom, id: Long): Line = {
    val ts = BaseEpoch + id / 50
    val text = s"${java.time.Instant.ofEpochSecond(ts)} ${Levels(r.nextInt(Levels.length))} " +
      s"worker-${r.nextInt(16)} job ${r.nextInt(100000)} done in ${r.nextInt(2000)} ms id=$id"
    Line(text, "app.log", Some("app.log" -> Map("value" -> text)))
  }

  /** Mixed access/app traffic: `appEvery`-th line is an app line. */
  def accessMix(seed: Long, n: Int, appEvery: Int): Array[Line] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      if (i % appEvery == appEvery - 1) appLine(r, i) else accessLine(r, i)
    }
  }

  // ----------------------------------------------------------- windows

  /** One service metric event of the window workload. */
  final case class Metric(sec: Long, nsec: Long, service: String, latencyMs: Int)

  val WindowSeconds: Long = 10L
  val FlushService: String = "__flush"

  /** `n` events spaced `stepMs` apart from `base`, keyed over `services`
    * names, so most (window, service) groups hold one or two events.
    */
  def metrics(seed: Long, n: Int, base: Long, stepMs: Int, services: Int): Array[Metric] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val ms = i.toLong * stepMs
      Metric(base + ms / 1000, (ms % 1000) * 1000000L,
        f"svc-${r.nextInt(services)}%05d", 1 + r.nextInt(5000))
    }
  }

  /** Expected window rows: (window start, service) -> (count, latency sum). */
  def windowOracle(events: Iterable[Metric]): Map[(Long, String), (Long, Long)] = {
    val acc = scala.collection.mutable.HashMap[(Long, String), (Long, Long)]()
    events.foreach { e =>
      val k = (e.sec - Math.floorMod(e.sec, WindowSeconds), e.service)
      val (c, s) = acc.getOrElse(k, (0L, 0L))
      acc(k) = (c + 1, s + e.latencyMs)
    }
    acc.toMap
  }

  // ------------------------------------------------------------ msgpack

  /** Forward-mode frame `[tag, [[EventTime, {k: v}]...]]`, with the
    * option map `{"chunk": id}` when the sender wants an ack. Encoded here
    * rather than by the engine so the wire input is independent of the
    * decoder under test.
    */
  def forwardFrame(tag: String, events: Seq[(Long, Long, Seq[(String, String)])],
                   chunk: Option[String] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64 + events.size * 96)
    def u16(v: Int): Unit = { out.write(v >>> 8); out.write(v) }
    def u32(v: Long): Unit = { u16((v >>> 16).toInt & 0xFFFF); u16(v.toInt & 0xFFFF) }
    def arr(n: Int): Unit =
      if (n < 16) out.write(0x90 | n) else if (n < 65536) { out.write(0xdc); u16(n) }
      else { out.write(0xdd); u32(n) }
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      if (b.length < 32) out.write(0xa0 | b.length)
      else if (b.length < 256) { out.write(0xd9); out.write(b.length) }
      else if (b.length < 65536) { out.write(0xda); u16(b.length) }
      else { out.write(0xdb); u32(b.length) }
      out.write(b)
    }
    arr(if (chunk.isDefined) 3 else 2); str(tag); arr(events.size)
    events.foreach { case (sec, nsec, rec) =>
      arr(2)
      out.write(0xd7); out.write(0); u32(sec); u32(nsec)
      out.write(0x80 | rec.size)
      rec.foreach { case (k, v) => str(k); str(v) }
    }
    chunk.foreach { id => out.write(0x81); str("chunk"); str(id) }
    out.toByteArray
  }
}
