package perfbench

/** Self-tests of the benchmark's generator, oracle, percentile rule and
  * error count. No Spark session; run with
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Brute-force reading of the access workload: parse each line with the
    * config's regex and apply grep / modify / rewrite_tag by hand.
    */
  private def bruteForceTags(lines: Seq[Gen.Line]): Map[String, Int] = {
    val re = java.util.regex.Pattern.compile(Gen.AccessRegex)
    lines.flatMap { l =>
      if (l.tag == "app.log") Some("app.log")
      else {
        val m = re.matcher(l.text)
        if (!m.matches()) Some("web.access")
        else if (m.group("path").startsWith("/healthz")) None
        else if (m.group("code").matches("5..")) Some("err." + m.group("code"))
        else Some("web.access")
      }
    }.groupBy(identity).map { case (t, xs) => t -> xs.size }
  }

  def main(args: Array[String]): Unit = {
    check("generator: the same seed gives the same access lines") {
      Gen.accessMix(7, 5000, 5).toSeq == Gen.accessMix(7, 5000, 5).toSeq
    }
    check("generator: another seed gives other lines") {
      Gen.accessMix(7, 500, 5).map(_.text).toSeq != Gen.accessMix(8, 500, 5).map(_.text).toSeq
    }
    check("generator: the same seed gives the same Forward frames") {
      val a = ForwardStream.plan(3, 5).frames.map(_.bytes.toSeq).toSeq
      val b = ForwardStream.plan(3, 5).frames.map(_.bytes.toSeq).toSeq
      a == b && a != ForwardStream.plan(4, 5).frames.map(_.bytes.toSeq).toSeq
    }
    check("generator: the same seed gives the same window bursts") {
      ForwardWindow.burst(5, 1).expected == ForwardWindow.burst(5, 1).expected &&
        ForwardWindow.burst(5, 1).expected != ForwardWindow.burst(6, 1).expected
    }
    check("generator: each workload's mix has every path") {
      val tags = bruteForceTags(Gen.accessMix(1, 20000, 5).toSeq)
      Seq("app.log", "web.access", "err.500", "err.502", "err.503").forall(tags.contains)
    }
    check("generator: the access shares are the declared ones") {
      val lines = Gen.accessMix(5, 50000, 5).toSeq.filter(_.tag == "web.access")
      def pct(p: Gen.Line => Boolean) = 100.0 * lines.count(p) / lines.size
      val tags = bruteForceTags(lines)
      math.abs(pct(_.text.startsWith("malformed")) - Gen.MalformedPct) < 0.3 &&
        math.abs(pct(_.out.isEmpty) - Gen.HealthPct) < 0.5 &&
        math.abs(100.0 * tags.filter(_._1.startsWith("err.")).values.sum / lines.size -
          Gen.ServerErrorPct) < 0.5
    }

    check("oracle: per-tag counts match a brute-force parse of the lines") {
      val lines = Gen.accessMix(11, 20000, 5).toSeq
      val exp = AccessBatch.expected(lines)
      exp.file.map { case (t, a) => t -> a.length } == bruteForceTags(lines) &&
        exp.loki.keySet == exp.file.keySet.filter(_.startsWith("err."))
    }
    check("oracle: window counts and sums match a brute-force scan") {
      val events = Gen.metrics(3, 5000, Gen.BaseEpoch, 7, 300)
      val oracle = Gen.windowOracle(events.toSeq)
      val keys = events.map(e => (e.sec / 10 * 10, e.service)).distinct
      keys.length == oracle.size && keys.forall { k =>
        val in = events.filter(e => e.sec / 10 * 10 == k._1 && e.service == k._2)
        oracle(k) == ((in.length.toLong, in.map(_.latencyMs.toLong).sum))
      }
    }
    check("oracle: the window workload has many more keys than events per window") {
      val b = ForwardWindow.burst(1, 1)
      b.expected.values.map(_._1).sum.toDouble / b.expected.size < 1.2
    }
    check("oracle: fingerprints ignore key order but not values or tags") {
      val f = Seq("a" -> "1", "b" -> "2")
      Gen.fingerprint("t", f) == Gen.fingerprint("t", f.reverse) &&
        Gen.fingerprint("t", f) != Gen.fingerprint("u", f) &&
        Gen.fingerprint("t", f) != Gen.fingerprint("t", Seq("a" -> "1", "b" -> "3"))
    }
    check("oracle: loki bodies are read back per label") {
      val rec = """{\"code\":\"503\",\"path\":\"/x\"}"""
      val body = s"""{"streams":[{"stream":{"job":"fluentbit","code":"503"},"values":[["0","$rec"]]}]}"""
      Pipeline.lokiRecords(body) ==
        Seq("err.503" -> Gen.fingerprint("err.503", Seq("code" -> "503", "path" -> "/x")))
    }

    check("percentile: p99 of 2000 samples is the 1980th") {
      Stats.tail(Array.tabulate(2000)(i => (i + 1).toDouble), 0.99) == ((1980.0, 0.99))
    }
    check("percentile: capped at the highest percentile with ten samples beyond") {
      Stats.tail(Array.tabulate(100)(i => (i + 1).toDouble), 0.99) == ((90.0, 0.90))
    }
    check("percentile: ten samples or fewer report the maximum") {
      Stats.tail(Array(3.0, 1.0, 2.0), 0.99) == ((3.0, 1.0))
    }
    check("percentile: p50 of 1..101 is 51") {
      Stats.tail(Array.tabulate(101)(i => (i + 1).toDouble), 0.5)._1 == 51.0
    }

    val exp = AccessBatch.expected(Gen.accessMix(2, 3000, 5).toSeq).file
    check("error count: identical outputs have no errors") { Harness.errors(exp, exp) == 0 }
    check("error count: one dropped record is one error") {
      val t = exp.keys.head
      Harness.errors(exp, exp.updated(t, exp(t).drop(1))) == 1
    }
    check("error count: one changed record is one error") {
      val t = exp.keys.head
      val a = exp(t).clone(); a(0) = a(0) + 1; java.util.Arrays.sort(a)
      Harness.errors(exp, exp.updated(t, a)) == 1
    }
    check("error count: a record under the wrong tag is two errors") {
      val Seq(t, u) = exp.keys.toSeq.sorted.take(2)
      Harness.errors(exp, exp.updated(t, exp(t).drop(1))
        .updated(u, (exp(u) :+ exp(t).head).sorted)) == 2
    }

    check("error count: a dropped or wrong window counts its records") {
      val b = ForwardWindow.burst(4, 1)
      val rows = b.expected.toSeq.map { case ((w, svc), (c, s)) => (w, svc, c, s.toDouble / c) }
      val (k, (c, _)) = b.expected.head
      val flush = (b.base + ForwardWindow.BurstSpan / 2, Gen.FlushService, 1L, 0.0)
      ForwardWindow.errors(b, rows :+ flush) == 0 &&
        ForwardWindow.errors(b, rows.filterNot(r => (r._1, r._2) == k)) == c &&
        ForwardWindow.errors(b, rows.map(r => if ((r._1, r._2) == k) r.copy(_4 = r._4 + 1) else r)) == c
    }

    check("result line: key order kept, sequences as arrays, plain numbers") {
      Harness.json(Harness.obj("correct" -> true, "attempted" -> 3L,
        "metrics" -> Harness.obj("x_ms" -> Harness.obj("value" -> 1.25, "unit" -> "ms")),
        "samples" -> Seq(1.5, 2.0))) ==
        """{"correct":true,"attempted":3,"metrics":{"x_ms":{"value":1.25,"unit":"ms"}},"samples":[1.5,2.0]}"""
    }

    check("frames: the generator's Forward frames decode to the records sent") {
      val p = ForwardStream.plan(9, 2)
      val events = p.frames.toSeq.flatMap { f =>
        graft.sources.Msgpack.forwardEvents(graft.sources.Msgpack.decode(f.bytes, 0)._1)
      }
      events.map(_.record("log")) == p.lines.map(_.text).toSeq
    }
    check("frames: a chunk option asks for an ack") {
      val f = Gen.forwardFrame("t", Seq((1L, 0L, Seq("k" -> "v"))), chunk = Some("b0001f0001"))
      graft.sources.Msgpack.forwardChunkId(graft.sources.Msgpack.decode(f, 0)._1).contains("b0001f0001")
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
