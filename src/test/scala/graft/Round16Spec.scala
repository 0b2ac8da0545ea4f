package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamQueries

/** Round-16: (1) repartitioned-restart resume evidence (VERDICT r15 #2)
  * — state-store files written under one shuffle layout, recovered by a
  * session configured with ANOTHER, must stay hash-exact because the
  * checkpoint pins the state partitioning (the offset log's conf wins
  * over the session conf; a re-shard would scatter keys across stores
  * and corrupt dedup state). The reference analog: chunkio files
  * surviving an agent restart with an edited config
  * (`/root/reference/src/flb_storage.c`). (2) Lifetime-exact
  * self-telemetry counters via the listener (ADVICE r15). (3) The
  * closed monitoring loop: engine progress → cmetrics rows → the gated
  * prometheus-text formatter, the analog of the reference's
  * `/api/v1/metrics` endpoint
  * (`/root/reference/src/http_server/api/v1/metrics.c`).
  * (4) Upstream-node config strictness + env interpolation (ADVICE r15).
  * (5) The round's unbounded-runtime evidence: the bounded-state soak
  * (`x_soak_window_stream`) asserted here beyond the gate's own checks
  * (plateau ≪ stream length, eviction keeps pace), re-run under the
  * RocksDB provider, plus the dedup-HORIZON soak
  * (`dropDuplicatesWithinWatermark`: state plateaus, expired keys
  * re-admit beyond the horizon, same-key emissions ≥ horizon apart).
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  private def batchExpect: Map[String, Long] =
    spark.read.parquet(sf + "/documents.parquet")
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def runRepartitionedResume(tag: String): Unit = {
    StreamQueries.lastResumeStats = null
    // harness pins the first run to 4 shuffle partitions; the restart
    // asks for 7 — a layout no 4-partition state dir could satisfy by
    // accident
    val got = StreamQueries.resumeDedup(spark, sf, Some(tag),
        restartParts = Some("7"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batchExpect,
      s"$tag repartitioned restart != batch dedup relation")
    val st = StreamQueries.lastResumeStats
    assert(st != null && st.resumedFromBatch > 0 && st.rowsBeforeKill > 0,
      s"restart did not resume: $st")
    // THE assertion: Spark pins state partitioning at first start — the
    // restarted engine ran its state operator on the ORIGINAL 4
    // partitions despite the session asking for 7. If this ever reads
    // 7, recovery re-sharded live state and the hash match above was
    // luck; if it reads -1 the progress signal is gone — both are loud.
    assert(st.restartStateParts == 4L,
      s"restarted state partitioning ${st.restartStateParts} != the " +
        "checkpoint-pinned 4 (session asked for 7)")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "harness leaked its shuffle-partition override into the session")
  }

  test("repartitioned restart: checkpoint pins state layout, recovery " +
       "hash-exact under a changed shuffle-partition conf (default " +
       "provider)") {
    runRepartitionedResume("reparts")
  }

  test("repartitioned restart: RocksDB provider recovers the pinned " +
       "layout under a changed shuffle-partition conf") {
    val PROV = "spark.sql.streaming.stateStore.providerClass"
    val savedProv = spark.conf.getOption(PROV)
    spark.conf.set(PROV, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try runRepartitionedResume("reparts_rocks")
    finally savedProv match {
      case Some(v) => spark.conf.set(PROV, v)
      case None    => spark.conf.unset(PROV)
    }
  }

  // --------------------------- upstream node strictness + interpolation

  test("upstream [NODE] missing name/host/port fails loudly in BOTH " +
       "frontends (create_node contract, ADVICE r15)") {
    val classicNoPort =
      """[UPSTREAM]
        |    name g
        |[NODE]
        |    name n1
        |    host 127.0.0.1
        |""".stripMargin
    val e1 = intercept[IllegalArgumentException] {
      graft.config.ClassicConfig.upstreamFile(classicNoPort)
    }
    assert(e1.getMessage.contains("port"))
    val e2 = intercept[IllegalArgumentException] {
      graft.config.YamlConfig.upstreams(graft.config.YamlConfig.load(
        """upstream_servers:
          |  - name: g
          |    nodes:
          |      - name: n1
          |        port: 24224
          |""".stripMargin))
    }
    assert(e2.getMessage.contains("host"))
  }

  test("classic upstream-file node properties env-interpolate like the " +
       "YAML frontend (${SHARED_KEY} must not ship as a literal)") {
    val (_, nodes) = graft.config.ClassicConfig.upstreamFile(
      """[UPSTREAM]
        |    name g
        |[NODE]
        |    name n1
        |    host ${FWD_HOST}
        |    port ${FWD_PORT:-24224}
        |    shared_key ${SHARED_KEY}
        |""".stripMargin,
      env = Map("FWD_HOST" -> "10.0.0.9", "SHARED_KEY" -> "s3cret"))
    assert(nodes.head.host == "10.0.0.9")
    assert(nodes.head.port == 24224) // bash-style default applied
    assert(nodes.head.props.get("shared_key").contains("s3cret"))
  }

  // ------------------------------------------------ customs section wired

  test("YAML customs: declared instances activate against the registry " +
       "(flb_custom_init loop); the built-in 'monitoring' custom serves " +
       "the engine's health endpoint from config alone") {
    val doc = graft.config.YamlConfig.load(
      """env:
        |  observability: monitoring
        |customs:
        |  - name: ${observability}
        |    port: "0"
        |""".stripMargin)
    // typed view: name itself env-interpolates (the reference fixture
    // fluent-bit.yaml declares `name: ${observability}`)
    assert(graft.config.Customs.declared(doc) ==
      Seq("monitoring" -> Map("port" -> "0")))
    val instances = graft.config.Customs.activate(spark, doc)
    try {
      assert(instances.map(_.kind) == Seq("monitoring"))
      val port = instances.head.handle
        .asInstanceOf[graft.config.Customs.MonitoringHandle].port
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.getOutputStream.write(
          "GET /api/v1/health HTTP/1.1\r\n\r\n".getBytes("UTF-8"))
        sock.getOutputStream.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(resp.startsWith("HTTP/1.1 200"))
      } finally sock.close()
    } finally instances.foreach(_.close())
    // unknown custom name fails loudly, like the reference's registry miss
    val e = intercept[IllegalArgumentException] {
      graft.config.Customs.activate(spark, graft.config.YamlConfig.load(
        "customs:\n  - name: no_such_plugin\n"))
    }
    assert(e.getMessage.contains("no_such_plugin"))
    // caller-registered factory — the linked-plugin path
    @volatile var opened = 0
    graft.config.Customs.register("spec_probe", (_, props) => {
      assert(props.get("mode").contains("x"))
      opened += 1
      () => opened -= 1
    })
    val inst2 = graft.config.Customs.activate(spark,
      graft.config.YamlConfig.load(
        "customs:\n  - name: spec_probe\n    mode: x\n"))
    assert(opened == 1)
    inst2.foreach(_.close())
    assert(opened == 0)
  }

  // ------------------------------------- lifetime-exact telemetry counters

  test("self-telemetry listener survives progress-ring eviction: " +
       "lifetime counters stay exact and monotone where recentProgress " +
       "undercounts (ADVICE r15)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.Stateful
    implicit val sqlCtx = spark.sqlContext
    val RING = "spark.sql.streaming.numRecentProgressUpdates"
    val savedRing = spark.conf.getOption(RING)
    spark.conf.set(RING, "3") // evict aggressively: 6 batches, ring of 3
    val listener = new graft.obs.SelfTelemetry.Listener
    spark.streams.addListener(listener)
    val in = MemoryStream[Stateful.HashedDoc]
    val q = Stateful.dedupStream(spark, in.toDS())
      .writeStream.format("memory").queryName("ring_probe")
      .outputMode("append").start()
    val batchSizes = Seq(10, 20, 30, 40, 50, 60)
    try {
      var id = 0L
      batchSizes.foreach { n =>
        in.addData((0 until n).map { _ =>
          id += 1; Stateful.HashedDoc(s"rp$id", id)
        })
        q.processAllAvailable()
      }
      // listener bus is async — await the final total
      def total: Double = listener.currentRows
        .filter(r => r.name == "graft_input_records_total" &&
          r.labels.get("query").contains("ring_probe")).map(_.value).sum
      val deadline = System.currentTimeMillis + 30000
      while (total < batchSizes.sum && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      // 1) the listener's counter is the true lifetime total
      assert(total == batchSizes.sum.toDouble,
        s"listener lifetime counter $total != ${batchSizes.sum}")
      // 2) the ring-buffer path UNDERCOUNTS after eviction — the defect
      // the listener exists for: recentProgress holds only the last 3
      // of 6 batches, so a sum over it cannot reach the true total
      val ringTotal = q.recentProgress.toSeq
        .flatMap(_.sources.toSeq.map(_.numInputRows)).sum
      assert(q.recentProgress.length <= 3, "ring did not evict")
      assert(ringTotal < batchSizes.sum,
        s"ring-window sum $ringTotal unexpectedly saw all batches")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      spark.catalog.dropTempView("ring_probe")
      savedRing.fold(spark.conf.unset(RING))(spark.conf.set(RING, _))
    }
  }

  test("self-telemetry: progressRows and the listener flatten one history " +
       "alike — each series' last row is the listener's register") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.obs.SelfTelemetry
    import graft.streaming.Stateful
    implicit val sqlCtx = spark.sqlContext
    val listener = new SelfTelemetry.Listener
    spark.streams.addListener(listener)
    val in = MemoryStream[Stateful.HashedDoc]
    val q = Stateful.dedupStream(spark, in.toDS())
      .writeStream.format("memory").queryName("flatten_probe")
      .outputMode("append").start()
    try {
      var id = 0L
      Seq(7, 0, 12, 5).foreach { n =>
        in.addData((0 until n).map { _ =>
          id += 1; Stateful.HashedDoc(s"fp${id % 15}", id)
        })
        q.processAllAvailable()
      }
      q.stop()
      val history = q.recentProgress.toSeq
      assert(history.nonEmpty)
      val lastTs = java.time.Instant.parse(history.last.timestamp).toEpochMilli
      def registers = listener.currentRows
        .filter(_.labels.get("query").contains("flatten_probe"))
      // the listener bus is async: await the history's last event
      val deadline = System.currentTimeMillis + 30000
      while (!registers.exists(_.ts_ms == lastTs) &&
             System.currentTimeMillis < deadline) Thread.sleep(50)
      val rows = SelfTelemetry.progressRows(spark, history)
        .as[SelfTelemetry.MetricRow].collect().toSeq
      val lastPerSeries = rows.groupBy(r => (r.name, r.labels))
        .map(_._2.last).toSeq
        .sortBy(r => (r.name, r.labels.toSeq.sorted.mkString(",")))
      assert(lastPerSeries.exists(_.mtype == "counter") &&
        lastPerSeries.exists(_.name == "graft_state_rows"), lastPerSeries)
      assert(lastPerSeries == registers)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      spark.catalog.dropTempView("flatten_probe")
    }
  }

  // --------------------------------------------- the monitoring endpoint

  test("monitoring endpoint serves the listener registers as prometheus " +
       "text (/api/v1/metrics/prometheus, the reference's http_server " +
       "loop) plus uptime and health") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.Stateful
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.obs.SelfTelemetry.Listener
    spark.streams.addListener(listener)
    val server = new graft.obs.MonitoringServer(spark, listener)
    val in = MemoryStream[Stateful.HashedDoc]
    val q = Stateful.dedupStream(spark, in.toDS())
      .writeStream.format("memory").queryName("http_probe")
      .outputMode("append").start()
    def get(path: String): (Int, String) = {
      val sock = new java.net.Socket("127.0.0.1", server.port)
      try {
        sock.getOutputStream.write(
          s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("UTF-8"))
        sock.getOutputStream.flush()
        val all = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        val status = all.split(" ")(1).toInt
        (status, all.substring(all.indexOf("\r\n\r\n") + 4))
      } finally sock.close()
    }
    try {
      in.addData((1L to 25L).map(i => Stateful.HashedDoc(s"hp$i", i)))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis + 30000
      def seen: Boolean = listener.currentRows.exists(r =>
        r.name == "graft_input_records_total" &&
          r.labels.get("query").contains("http_probe"))
      while (!seen && System.currentTimeMillis < deadline) Thread.sleep(50)

      val (code, body) = get("/api/v1/metrics/prometheus")
      assert(code == 200)
      assert(body.contains("# TYPE graft_input_records_total counter"),
        s"missing TYPE header in:\n$body")
      assert(body.contains(
        "graft_input_records_total{query=\"http_probe\",source=\"0\"} 25.0"),
        s"missing exact counter line in:\n$body")
      assert(body.contains("# TYPE graft_state_rows gauge"))

      val (hc, hb) = get("/api/v1/health")
      assert(hc == 200 && hb.startsWith("ok"))
      val (uc, ub) = get("/api/v1/uptime")
      assert(uc == 200 && ub.contains("\"uptime_sec\":"))
      val (nc, _) = get("/api/v1/nope")
      assert(nc == 404)
    } finally {
      q.stop()
      server.close()
      spark.streams.removeListener(listener)
      spark.catalog.dropTempView("http_probe")
    }
  }

  test("self-scrape loop: the engine scrapes its OWN monitoring " +
       "endpoint with its own scrape-text parser and recovers the " +
       "register set exactly (the reference's in_prometheus_scrape of " +
       "its own http_server)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.Stateful
    implicit val sqlCtx = spark.sqlContext
    val listener = new graft.obs.SelfTelemetry.Listener
    spark.streams.addListener(listener)
    val server = new graft.obs.MonitoringServer(spark, listener)
    val in = MemoryStream[Stateful.HashedDoc]
    val q = Stateful.dedupStream(spark, in.toDS())
      .writeStream.format("memory").queryName("scrape_probe")
      .outputMode("append").start()
    try {
      in.addData((1L to 30L).map(i => Stateful.HashedDoc(s"sp$i", i)))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis + 30000
      def ready: Boolean = listener.currentRows.exists(r =>
        r.name == "graft_input_records_total" &&
          r.labels.get("query").contains("scrape_probe"))
      while (!ready && System.currentTimeMillis < deadline) Thread.sleep(50)

      // scrape over a REAL socket — the loop's wire hop
      val sock = new java.net.Socket("127.0.0.1", server.port)
      val body = try {
        sock.getOutputStream.write(
          "GET /api/v1/metrics/prometheus HTTP/1.1\r\n\r\n".getBytes("UTF-8"))
        sock.getOutputStream.flush()
        val all = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        all.substring(all.indexOf("\r\n\r\n") + 4)
      } finally sock.close()

      // re-ingest through the GATED scrape-text parser (the
      // parse_prom_scrape machinery, in_prometheus_scrape analog)
      val lines = body.split("\n").toSeq.toDF("line")
      val parsed = graft.parse.Parsers.promText(lines, col("line"))
        .filter(col("name").isNotNull)
        .select(col("name"), col("labels"), col("value"))
        .collect()
        .map(r => (r.getString(0),
          r.getMap[String, String](1).toSeq.sorted.mkString(","),
          r.getDouble(2)))

      // the scraped frame equals the live register set — the loop is
      // lossless for every series (counters, gauges, state rows)
      val registers = listener.currentRows
        .map(r => (r.name, r.labels.toSeq.sorted.mkString(","), r.value))
      assert(parsed.toSet == registers.toSet,
        s"scrape round-trip diverged:\n got ${parsed.toSet}\n" +
          s" want ${registers.toSet}")
      assert(registers.exists(_._1 == "graft_state_rows"),
        "register set missing state telemetry")
    } finally {
      q.stop()
      server.close()
      spark.streams.removeListener(listener)
      spark.catalog.dropTempView("scrape_probe")
    }
  }

  test("bounded-state soak: watermark eviction plateaus the window " +
       "store across a month-long replay (state ≪ stream length)") {
    StreamQueries.lastSoakStats = null
    val out = SparkEntry.queries("x_soak_window_stream")(spark, sf)
    val batchTwin = spark.read.parquet(sf + "/events.parquet")
      // raw parquet reads ts as TIMESTAMP_NTZ; session TZ is UTC so the
      // cast is identity
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("win_us"), col("event_type"),
        col("n_events"))
    val got = out.select("win_us", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = batchTwin.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want, "soak sink != batch tumbling-window relation " +
      s"(${got.size} vs ${want.size} windows)")
    val st = StreamQueries.lastSoakStats
    assert(st != null, "soak gate recorded no stats")
    // the soak claims: the replay really spanned many stateful batches,
    // eviction really ran, and peak state stayed under the computed
    // plateau — AND well under the total windows pushed through the
    // store (the "state does not grow with stream length" statement)
    assert(st.statefulBatches >= 20,
      s"soak replay too short to prove anything: $st")
    assert(st.removedRows > 0 && st.removedRows >= st.emittedRows,
      s"eviction did not keep pace with emission: $st")
    assert(st.maxStateRows <= st.plateauBound,
      s"state exceeded the watermark plateau: $st")
    assert(st.maxStateRows < st.emittedRows / 2,
      s"peak state not ≪ total windows — eviction suspect: $st")
  }

  test("bounded-state soak under the RocksDB provider: same plateau " +
       "contract, same closed-window relation") {
    val PROV = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(PROV)
    spark.conf.set(PROV, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      StreamQueries.lastSoakStats = null
      val got = StreamQueries.soakWindowReplay(spark, sf)
        .select("win_us", "event_type", "n_events").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val st = StreamQueries.lastSoakStats
      assert(st != null && st.statefulBatches >= 20, s"short soak: $st")
      // eviction must hold in the OFF-HEAP provider too — RocksDB's
      // numRowsRemoved path is a different store implementation, the
      // one a 100 TB deployment would actually run
      assert(st.removedRows > 0 && st.removedRows >= st.emittedRows,
        s"RocksDB eviction did not keep pace: $st")
      assert(st.maxStateRows <= st.plateauBound,
        s"RocksDB state exceeded the watermark plateau: $st")
      val want = spark.read.parquet(sf + "/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("w.start")), col("event_type"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want,
        s"RocksDB soak sink != batch relation (${got.size} vs " +
          s"${want.size})")
    } finally saved match {
      case Some(v) => spark.conf.set(PROV, v)
      case None    => spark.conf.unset(PROV)
    }
  }

  test("window-state resume: the restart really resumed, windows were " +
       "emitted on BOTH sides of the kill, and the relation is exact") {
    StreamQueries.lastResumeStats = null
    val got = SparkEntry.queries("x_window_resume_stream")(spark, sf)
    val n = got.count()
    val st = StreamQueries.lastResumeStats
    assert(st != null && st.resumedFromBatch > 0,
      s"window restart did not resume from the checkpoint: $st")
    // windows emitted BEFORE the kill (watermark advanced far enough
    // to close some), and the relation was NOT complete at the kill —
    // the straddling window's partial state had to be recovered
    assert(st.rowsBeforeKill > 0 && st.rowsBeforeKill < n,
      s"kill point did not split the window relation: " +
        s"${st.rowsBeforeKill} of $n at kill")
    val want = spark.read.parquet(sf + "/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count().count()
    assert(n == want, s"window-resume relation: $n vs batch $want")
  }

  test("file-tail soak: the eviction soak holds on the PRODUCTION " +
       "source path — files arriving like rotated logs, not " +
       "MemoryStream") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Paths.get(
      graft.queries.StreamQueries.scratchRoot)
    val watched = java.nio.file.Files
      .createTempDirectory(root, "graft_tail_soak")
    val stage = java.nio.file.Files
      .createTempDirectory(root, "graft_tail_soak_stage")
    val ckpt = java.nio.file.Files
      .createTempDirectory(root, "graft_tail_soak_ckpt")
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    try {
      val ev = spark.read.parquet(sf + "/events.parquet")
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("value"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._2).toSeq
      val slices = 12
      val chunk = math.max(1, (ev.size + slices - 1) / slices)
      val winUs = 3600L * 1000000L
      val series = ev.map(_._1).distinct.size
      val maxSliceWins = ev.grouped(chunk)
        .map(c => c.last._2 / winUs - c.head._2 / winUs + 1).max
      val bound = series * (maxSliceWins + 8) + 1
      import spark.implicits._
      // one parquet file per slice, landed ATOMICALLY into the watched
      // dir (write to a staging dir, move the part file in) — the
      // rotated-log arrival pattern FileStreamSource is built for
      def land(rows: Seq[(String, Long, Double)], name: String): Unit = {
        val tmp = stage.resolve(name)
        rows.toDF("event_type", "us", "value")
          .coalesce(1).write.parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          watched.resolve(name + ".parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      }
      val sch = StructType(Seq(
        StructField("event_type", StringType),
        StructField("us", LongType),
        StructField("value", DoubleType)))
      val agg = spark.readStream.schema(sch).parquet(watched.toString)
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("win_us"),
          col("event_type"), col("n_events"))
      val tbl = "tail_soak_sink"
      val q = agg.writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try {
        ev.grouped(chunk).zipWithIndex.foreach { case (c, i) =>
          land(c, f"slice_$i%03d"); q.processAllAvailable()
        }
        land(Seq(("zz_soak_flush",
          ev.last._2 + 86400L * 30 * 1000000L, 0.0)), "slice_flush")
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(tbl)
        .filter(col("event_type") =!= "zz_soak_flush")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      spark.catalog.dropTempView(tbl)
      val prog = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      val maxState = prog.map(_.stateOperators.head.numRowsTotal).max
      val removed = prog.map(_.stateOperators.head.numRowsRemoved).sum
      assert(prog.size >= 12, s"too few stateful batches: ${prog.size}")
      assert(maxState <= bound && maxState < got.size.max(1),
        s"file-source state not bounded: max $maxState, bound $bound, " +
          s"windows ${got.size}")
      assert(removed > 0 && removed >= got.size,
        s"file-source eviction lagged emission: removed $removed of " +
          s"${got.size}")
      val want = ev.groupBy(e => (e._2 / winUs * winUs, e._1))
        .map { case ((w, s2), v) => (w, s2, v.size.toLong) }.toSet
      assert(got == want,
        s"file-tail soak relation mismatch: ${got.size} vs ${want.size}")
    } finally {
      rm(watched.toFile); rm(stage.toFile); rm(ckpt.toFile)
    }
  }

  test("dedup-horizon soak: dropDuplicatesWithinWatermark evicts " +
       "expired keys, suppresses within the horizon, re-admits beyond") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 3000 events, one per minute, over 50 recycling keys: each key
    // recurs every 50 min against a 60-min dedup horizon — recurrences
    // are suppressed while the key's state epoch lives, re-admitted
    // after watermark eviction. 12 drains ≈ 250-min watermark steps.
    val horizonSec = 3600L
    val rows = (0 until 3000).map(i =>
      (s"k${i % 50}", 1700000000L + i * 60L))
    val in = MemoryStream[(String, Long)]
    val dd = in.toDS().toDF("hash", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", s"$horizonSec seconds")
      .dropDuplicatesWithinWatermark("hash")
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.queries.StreamQueries.scratchRoot),
      "graft_horizon_soak").toString
    val tbl = "horizon_soak_sink"
    val q = dd.writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      rows.grouped(250).foreach { c =>
        in.addData(c); q.processAllAvailable()
      }
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(ckpt))
    }
    val got = spark.table(tbl).select("hash", "sec").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    spark.catalog.dropTempView(tbl)
    val prog = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
    val maxState = prog.map(_.stateOperators.head.numRowsTotal).max
    val removed = prog.map(_.stateOperators.head.numRowsRemoved).sum
    // (a) bounded state: live epochs ≤ ~keys × overlapping horizons —
    // never the 3000-event stream length
    assert(maxState <= 200 && maxState < rows.size / 4,
      s"horizon state not bounded: max $maxState of ${rows.size} events")
    assert(removed > 0, "no horizon evictions ever happened")
    // (b) re-admission beyond the horizon: eviction is visible in the
    // OUTPUT, not just the store metrics
    val byKey = got.groupBy(_._1).map { case (_, v) =>
      v.map(_._2).sorted }
    assert(byKey.exists(_.size >= 2),
      s"no key was ever re-admitted (${got.length} emissions)")
    // (c) the dedup contract: consecutive emissions of the SAME key are
    // ≥ horizon apart in event time (state expires at firstSeen +
    // horizon, never earlier)
    for (times <- byKey; w <- times.sliding(2) if w.size == 2)
      assert(w(1) - w(0) >= horizonSec,
        s"duplicate admitted inside the horizon: ${w(0)} -> ${w(1)}")
  }
}
