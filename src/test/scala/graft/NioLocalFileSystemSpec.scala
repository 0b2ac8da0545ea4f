package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ClassicConfig
import graft.streaming.{LocalCheckpointFiles, NioLocalFileSystem}
import graft.streaming.LocalCheckpointFiles.{FileImplKey, FileNoCacheKey}

/** The session's `file:` binding: batch writes through
  * [[NioLocalFileSystem]] start no process and leave the tree Hadoop's
  * stock local file system leaves.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val root = Files.createTempDirectory("graft_nio_fs_spec")
  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** The full `st_mode` permission bits, setuid, setgid and sticky included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Runs `body` with each session key set (`Some`) or unset (`None`),
    * then restores the keys as they were.
    */
  private def withConf[T](kvs: (String, Option[String])*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def put(k: String, v: Option[String]): Unit = v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    kvs.foreach { case (k, v) => put(k, v) }
    try body finally saved.foreach { case (k, v) => put(k, v) }
  }

  /** The binding unset: Hadoop's stock `file:` file system, as cached. */
  private val Stock = Seq(FileImplKey -> None, FileNoCacheKey -> None)

  /** The JVM's first Spark write runs one-time set-up that forks
    * (`setsid` in Hadoop `Shell`'s class init, reached through
    * `getCurrentUserName`); the guard starts after it.
    */
  private lazy val warmedUp: Unit = deliver(root.resolve("warm_up"))

  private def forksOf(body: => Unit): Seq[ProcessStart] = {
    warmedUp
    ProcessStarts.during(body).filterNot(_.fromCleaner)
  }

  // ------------------------------------------- the access chain's outputs

  private val AccessRegex =
    """^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+) (?<path>[^ ]*) [^"]*" (?<code>[^ ]*) (?<size>[^ ]*) "(?<referer>[^"]*)" "(?<agent>[^"]*)"$"""

  /** Two tail inputs through parser, grep, modify and rewrite_tag to a
    * file json and a loki output, assembled from the config frontend.
    */
  private lazy val outputs: Map[String, DataFrame] = {
    val in = Files.createDirectory(root.resolve("in"))
    val access = (0 until 400).map { i =>
      s"""10.0.${i % 7}.${i % 251} - u$i [10/Oct/2024:13:55:${"%02d".format(i % 60)} +0000] """ +
        s""""GET /${if (i % 9 == 0) "healthz" else s"p$i"} HTTP/1.1" ${if (i % 5 == 0) 502 else 200} $i "-" "curl""""
    }
    Files.write(in.resolve("access.log"), access.asJava)
    Files.write(in.resolve("app.log"), (0 until 100).map(i => s"app line $i").asJava)
    ClassicConfig.assemble(spark,
      s"""[INPUT]
         |    name tail
         |    path ${in.resolve("access.log")}
         |    tag  web.access
         |[INPUT]
         |    name tail
         |    path ${in.resolve("app.log")}
         |    tag  app.log
         |[PARSER]
         |    name   apache
         |    format regex
         |    regex  $AccessRegex
         |[FILTER]
         |    name     parser
         |    match    web.*
         |    key_name value
         |    parser   apache
         |[FILTER]
         |    name    grep
         |    match   web.*
         |    exclude path ^/healthz
         |[FILTER]
         |    name   modify
         |    match  web.*
         |    rename host remote_addr
         |    add    env prod
         |[FILTER]
         |    name  rewrite_tag
         |    match web.*
         |    rule  $$code ^(5..)$$ err.$$1 false
         |[OUTPUT]
         |    name   file
         |    match  *
         |    format json
         |[OUTPUT]
         |    name   loki
         |    match  err.*
         |    labels job=fluentbit,code=$$code
         |""".stripMargin)
  }

  /** Writes the outputs under `dir`: the file output with `write.text`,
    * the loki bodies with `write.json`.
    */
  private def deliver(dir: JPath): Unit = {
    outputs("file:*").select(concat(col("tag"), lit("\t"), col("line"))).write.text(dir.resolve("file").toString)
    outputs("loki:err.*").write.json(dir.resolve("loki").toString)
  }

  /** Every file and directory under `dir` by relative name, the write
    * job's id masked: its mode, and a file's bytes.
    */
  private def tree(dir: JPath): Map[String, (Int, Seq[Byte])] = {
    val job = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    Files.walk(dir).iterator().asScala.map { p =>
      job.replaceAllIn(dir.relativize(p).toString, "<job>") ->
        (mode(p), if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil)
    }.toMap
  }

  test("an access config's write.text and write.json outputs start no process; the stock file system forks chmod") {
    val forks = forksOf(deliver(root.resolve("bound")))
    assert(forks.isEmpty, ProcessStarts.report(forks))
    // the guard sees forks: without libhadoop the stock file system
    // shells out for every file and directory it creates
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val stock = withConf(Stock: _*)(forksOf(deliver(root.resolve("stock_forks"))))
      assert(stock.exists(_.program == "chmod"), ProcessStarts.report(stock))
    }
  }

  test("the written tree equals the stock file system's: names, .crc and _SUCCESS, bytes, modes") {
    val (nio, stock) = (root.resolve("tree_nio"), root.resolve("tree_stock"))
    deliver(nio)
    withConf(Stock: _*)(deliver(stock))
    val (a, b) = (tree(nio), tree(stock))
    assert(a.keySet == b.keySet)
    for (out <- Seq("file", "loki"))
      assert(Seq("_SUCCESS", "._SUCCESS.crc").forall(n => a.contains(s"$out/$n")), a.keySet)
    val parts = a.keySet.filter(_.contains("/part-"))
    assert(parts.nonEmpty && parts.forall(p => a.contains(p.replace("/part-", "/.part-") + ".crc")), a.keySet)
    a.foreach { case (name, (m, bytes)) =>
      assert(m == b(name)._1, f"$name: mode ${m}%o, stock ${b(name)._1}%o")
      assert(bytes == b(name)._2, s"$name: bytes differ")
    }
  }

  test("create and mkdirs set the stock file system's modes under every umask") {
    def fs(cls: Class[_ <: FileSystem], umask: String): FileSystem = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", umask)
      val f = cls.getDeclaredConstructor().newInstance()
      f.initialize(URI.create("file:///"), c)
      f
    }
    for (umask <- Seq("022", "077", "002", "000"); perm <- Seq("644", "600", "755", "700", "777", "640")) {
      val modes = Seq(classOf[NioLocalFileSystem], classOf[LocalFileSystem]).map { cls =>
        val dir = Files.createTempDirectory(root, "modes")
        val f = fs(cls, umask)
        val p = new FsPermission(octal(perm).toShort)
        f.create(new Path(dir.resolve("d/file").toUri), p, true, 4096, 1.toShort, 1L << 20, null).close()
        f.mkdirs(new Path(dir.resolve("sub/a/b").toUri), p)
        Seq("d", "d/file", "d/.file.crc", "sub", "sub/a", "sub/a/b").map(n => n -> mode(dir.resolve(n)))
      }
      assert(modes(0) == modes(1), s"umask $umask, mode $perm")
    }
  }

  test("the binding holds when a stock file system is cached first") {
    val stock = FileSystem.getLocal(new Configuration())
    assert(!stock.isInstanceOf[NioLocalFileSystem])
    new Path(root.toUri).getFileSystem(spark.sessionState.newHadoopConf()) match {
      case fs: NioLocalFileSystem => assert(fs.getRawFileSystem.isInstanceOf[NioLocalFileSystem.Raw])
      case other => fail(s"the session's file: file system is ${other.getClass}")
    }
    val forks = forksOf(deliver(root.resolve("after_stock")))
    assert(forks.isEmpty, ProcessStarts.report(forks))
    // the JVM's other file: users keep the cached stock instance
    assert(FileSystem.getLocal(new Configuration()) eq stock)
  }

  test("install binds file: only when unset: an explicit fs.file.impl wins") {
    withConf(Stock: _*) {
      LocalCheckpointFiles.install(spark)
      assert(spark.conf.get(FileImplKey) == classOf[NioLocalFileSystem].getName)
      assert(spark.conf.get(FileNoCacheKey) == "true")
    }
    withConf(FileImplKey -> Some(classOf[LocalFileSystem].getName), FileNoCacheKey -> None) {
      LocalCheckpointFiles.install(spark)
      assert(spark.conf.get(FileImplKey) == classOf[LocalFileSystem].getName)
      assert(spark.conf.getOption(FileNoCacheKey).isEmpty)
    }
    // an explicit class, uncached, is the one the session's writers get
    withConf(FileImplKey -> Some(classOf[LocalFileSystem].getName), FileNoCacheKey -> Some("true")) {
      LocalCheckpointFiles.install(spark)
      assert(new Path(root.toUri).getFileSystem(spark.sessionState.newHadoopConf()).getClass ==
        classOf[LocalFileSystem])
    }
  }

  test("a sticky or setgid mode takes Hadoop's chmod; a plain mode starts no process") {
    val raw = new NioLocalFileSystem.Raw
    raw.initialize(URI.create("file:///"), new Configuration())
    def dir(name: String): JPath = Files.createDirectory(root.resolve(name))
    def set(p: JPath, m: String): Seq[ProcessStart] =
      forksOf(raw.setPermission(new Path(p.toUri), new FsPermission(octal(m).toShort)))

    val plain = dir("plain")
    val none = set(plain, "700")
    assert(mode(plain) == octal("700"))
    assert(none.isEmpty, ProcessStarts.report(none))

    val sticky = dir("sticky")
    val chmod = set(sticky, "1755")
    assert(mode(sticky) == octal("1755"))
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(chmod.map(_.program) == Seq("chmod"), ProcessStarts.report(chmod))

    // a directory that carries setgid (as one made under a setgid parent
    // does) keeps it through chmod, as the stock file system leaves it
    val (setgid, twin) = (dir("setgid"), dir("setgid_stock"))
    Seq(setgid, twin).foreach(d => assert(new ProcessBuilder("chmod", "2775", d.toString).start().waitFor() == 0))
    set(setgid, "750")
    val stock = new org.apache.hadoop.fs.RawLocalFileSystem
    stock.initialize(URI.create("file:///"), new Configuration())
    stock.setPermission(new Path(twin.toUri), new FsPermission(octal("750").toShort))
    assert(mode(setgid) == mode(twin), f"${mode(setgid)}%o, stock ${mode(twin)}%o")
  }
}
