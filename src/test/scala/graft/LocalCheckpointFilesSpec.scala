package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ClassicConfig
import graft.streaming.{LocalCheckpointFiles, Streams}

/** A local file system under another scheme, counting renames: a
  * non-`file:` store whose calls can be seen.
  */
class NonLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nonlocal:///")
  override def getScheme: String = "nonlocal"
  override def rename(src: Path, dst: Path): Boolean = {
    NonLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object NonLocalFs {
  val renames = new AtomicInteger()
}

class LocalCheckpointFilesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def conf(): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.unset(LocalCheckpointFiles.Key)
    c
  }

  private val root = Files.createTempDirectory("graft_ckpt_spec")
  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)

  private def tempDir(prefix: String): java.nio.file.Path = Files.createTempDirectory(root, prefix)

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** `p` read back through Hadoop's checksummed local file system, which
    * verifies it against its `.crc` sidecar: a missing sidecar fails the
    * first assertion, a stale one the read.
    */
  private def readChecked(p: Path): String = {
    val local = FileSystem.getLocal(conf())
    assert(local.exists(local.getChecksumFile(p)), s"no .crc sidecar for $p")
    val in = local.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic + close publishes the file; the temp file never shows under the final name or in list") {
    val dir = tempDir("ckpt_atomic")
    val m = new LocalCheckpointFiles(new Path(dir.toUri), conf())
    assert(m.files.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val f = new Path(dir.resolve("0").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\n{\"batchWatermarkMs\":0}".getBytes(UTF_8))
    assert(!m.exists(f), "the final name exists before close")
    assert(!Files.exists(dir.resolve("0")))
    out.close()
    assert(read(m, f) == "v1\n{\"batchWatermarkMs\":0}")
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("0"))
    // no temp file left on disk, and the published bytes match their sidecar
    assert(names(dir) == Set("0", ".0.crc"))
    assert(readChecked(f) == "v1\n{\"batchWatermarkMs\":0}")
  }

  test("cancel leaves no file") {
    val dir = tempDir("ckpt_cancel")
    val m = new LocalCheckpointFiles(new Path(dir.toUri), conf())
    val out = m.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write(Array.fill[Byte](100000)(7))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("overwriteIfPossible=false on an existing file throws FileAlreadyExistsException") {
    val dir = tempDir("ckpt_exists")
    val m = new LocalCheckpointFiles(new Path(dir.toUri), conf())
    val f = new Path(dir.resolve("2").toUri)
    write(m, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, f, "second", overwrite = false))
    assert(read(m, f) == "first")
    assert(readChecked(f) == "first")
  }

  test("overwriteIfPossible=true replaces a file Spark's default manager wrote, .crc sidecar and all") {
    val dir = tempDir("ckpt_overwrite")
    val c = conf()
    val f = new Path(dir.resolve("3.delta").toUri)
    val default = CheckpointFileManager.create(new Path(dir.toUri), c)
    assert(default.getClass.getName == SparkDefault)
    write(default, f, "old", overwrite = true)
    assert(names(dir) == Set("3.delta", ".3.delta.crc"), "the default manager wrote no .crc sidecar")
    write(new LocalCheckpointFiles(new Path(dir.toUri), c), f, "the new, longer bytes", overwrite = true)
    assert(read(default, f) == "the new, longer bytes")
    assert(readChecked(f) == "the new, longer bytes")
    // and the reverse: the default manager overwrites this store's file
    write(default, f, "default again", overwrite = true)
    assert(read(new LocalCheckpointFiles(new Path(dir.toUri), c), f) == "default again")
    // a sidecar Hadoop's checksummed file system wrote, read back through
    // that file system: a stale one would fail the read with a
    // ChecksumException
    val local = org.apache.hadoop.fs.FileSystem.getLocal(c)
    val g = new Path(dir.resolve("4.delta").toUri)
    val out = local.create(g)
    out.write("checksummed".getBytes(UTF_8))
    out.close()
    assert(names(dir).contains(".4.delta.crc"))
    write(new LocalCheckpointFiles(new Path(dir.toUri), c), g, "rewritten", overwrite = true)
    val in = local.open(g)
    try assert(new String(in.readAllBytes(), UTF_8) == "rewritten") finally in.close()
  }

  test("a non-file: path keeps Spark's default manager") {
    val c = conf()
    c.set("fs.nonlocal.impl", classOf[NonLocalFs].getName)
    c.setBoolean("fs.nonlocal.impl.disable.cache", true)
    val dir = new Path("nonlocal://" + tempDir("ckpt_nonlocal").toUri.getPath)
    val m = new LocalCheckpointFiles(dir, c)
    assert(m.files.getClass == CheckpointFileManager.create(dir, c).getClass)
    val before = NonLocalFs.renames.get
    write(m, new Path(dir, "4"), "remote", overwrite = false)
    assert(NonLocalFs.renames.get == before + 1, "the write did not go through the Hadoop file system")
    assert(read(m, new Path(dir, "4")) == "remote")
  }

  test("install sets the store only when the key is unset") {
    val saved = spark.conf.getOption(LocalCheckpointFiles.Key)
    try {
      spark.conf.unset(LocalCheckpointFiles.Key)
      LocalCheckpointFiles.install(spark)
      assert(spark.conf.get(LocalCheckpointFiles.Key) == classOf[LocalCheckpointFiles].getName)
      spark.conf.set(LocalCheckpointFiles.Key, SparkDefault)
      LocalCheckpointFiles.install(spark)
      assert(spark.conf.get(LocalCheckpointFiles.Key) == SparkDefault)
    } finally saved.fold(spark.conf.unset(LocalCheckpointFiles.Key))(spark.conf.set(LocalCheckpointFiles.Key, _))
  }

  // ------------------------------------------------ the config path, restarted

  private val Task = "SELECT service, COUNT(*) AS n, AVG(latency_ms) AS avg_ms FROM TAG:'svc.*' " +
    "WINDOW TUMBLING (10 SECOND) GROUP BY service;"

  private val Config =
    s"""[INPUT]
       |    Name lib
       |    Tag  svc.metrics
       |[STREAM_TASK]
       |    Name svc_window
       |    Exec $Task
       |""".stripMargin

  /** (epoch second, service, latency) events over `secs`, three services. */
  private def events(secs: Range): Seq[(Long, String, Double)] =
    secs.map(s => (s.toLong, s"s${s % 3}", (s % 7).toDouble))

  private def windowed(in: MemoryStream[(Long, String, Double)]): DataFrame =
    ClassicConfig.assemble(spark, Config, Map("svc.metrics" -> in.toDF().toDF("sec", "service", "latency_ms")
      .select(timestamp_seconds(col("sec")).as("ts"), col("service"), col("latency_ms"))))("stream_task:svc_window")

  /** Runs `body` with the session's store key set to `store`. */
  private def withStore[T](store: String)(body: => T): T = {
    val saved = spark.conf.getOption(LocalCheckpointFiles.Key)
    spark.conf.set(LocalCheckpointFiles.Key, store)
    try body finally saved.fold(spark.conf.unset(LocalCheckpointFiles.Key))(spark.conf.set(LocalCheckpointFiles.Key, _))
  }

  /** The first run under `first`, stopped, then a restart from the same
    * checkpoint under `second`; checks the resume and the windows.
    */
  private def restart(first: String, second: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val run = tempDir("ckpt_restart")
    val (out, ckpt) = (run.resolve("out").toString, run.resolve("ckpt").toString)
    val in = MemoryStream[(Long, String, Double)]
    def start(): StreamingQuery = Streams.DataFrameWriterConfig(
      format = "json", path = Some(out), checkpoint = Some(ckpt)).start(windowed(in))
    // event time: 1000-1059 and 1200-1229 before the stop, 1400-1429
    // after it, then a far flush; the watermark is one minute
    val (a, b, c) = (events(1000 until 1060), events(1200 until 1230), events(1400 until 1430))
    val flush = Seq((5000L, "flush", 0.0))
    // the store is read at start and again by every batch's state tasks
    def runOn(store: String, feed: Seq[(Long, String, Double)]*): Long = withStore(store) {
      val q = start()
      try {
        feed.foreach { e => in.addData(e); q.processAllAvailable() }
        q.recentProgress.head.batchId
      } finally q.stop()
    }
    runOn(first, a, b)
    val beforeStop = spark.read.json(out).count()
    val resumedFrom = runOn(second, c, flush)
    assert(resumedFrom > 0, s"the restart re-ran batch $resumedFrom: it did not resume")
    assert(beforeStop > 0, "no window closed before the stop")
    val got = spark.read.json(out).select("wstart", "service", "n", "avg_ms").as[(Long, String, Long, Double)]
      .collect().toSeq
    val want = (a ++ b ++ c).groupBy { case (s, svc, _) => (s / 10 * 10, svc) }.map { case ((w, svc), es) =>
      (w, svc, es.size.toLong, es.map(_._3).sum / es.size) }.toSeq
    assert(got.size == got.map(r => (r._1, r._2)).distinct.size, "a window was delivered twice")
    assert(got.map(r => (r._1, r._2, r._3)).sorted == want.map(r => (r._1, r._2, r._3)).sorted)
    val avg = want.map(r => (r._1, r._2) -> r._4).toMap
    got.foreach(r => assert(math.abs(r._4 - avg((r._1, r._2))) <= 1e-9, s"window $r"))
    // each run wrote its offset files through its own store, both with
    // Hadoop's .crc sidecars: every one reads back with its checksum verified
    val offsets = names(Paths.get(ckpt, "offsets")).filter(_.forall(_.isDigit))
    assert(offsets.contains("0") && offsets.size > 1, offsets)
    offsets.foreach(n => readChecked(new Path(Paths.get(ckpt, "offsets", n).toUri)))
  }

  test("a config's window query resumes exactly from a checkpoint Spark's default manager wrote") {
    restart(SparkDefault, classOf[LocalCheckpointFiles].getName)
  }

  test("Spark's default manager resumes exactly from a checkpoint this store wrote") {
    restart(classOf[LocalCheckpointFiles].getName, SparkDefault)
  }

  // ------------------------------------------------------------- fork guard

  /** Forks while the config's window query, started under `store`,
    * runs five micro-batches.
    */
  private def queryForks(store: String): Seq[ProcessStart] = withStore(store) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.DataFrameWriterConfig(format = "memory", queryName = Some("ckpt_forks"),
      checkpoint = Some(tempDir("ckpt_forks").toString)).start(windowed(in))
    try ProcessStarts.during {
      (0 until 5).foreach { i => in.addData(events(1000 + 100 * i until 1030 + 100 * i)); q.processAllAvailable() }
    } finally {
      q.stop()
      spark.catalog.dropTempView("ckpt_forks")
    }
  }

  test("no child process starts while a checkpointed query runs") {
    val forks = queryForks(classOf[LocalCheckpointFiles].getName).filterNot(_.fromCleaner)
    assert(forks.isEmpty, ProcessStarts.report(forks))
    // the guard sees forks: without libhadoop Spark's default manager
    // shells out for chmod and readlink
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val default = queryForks(SparkDefault).filterNot(_.fromCleaner)
      assert(default.nonEmpty, "the recording saw none of the default manager's forks")
    }
  }
}
