package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional comma-separated name-prefix filter (dev loop only; the
    // driver always runs unfiltered).
    val prefixes = args.lift(2).map(_.split(",").toSeq)
    def keep(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[4,2,4096] runs the whole dump
    // multi-JVM: real task/broadcast serialization, remote shuffle
    // fetch, executor-side state stores — the cluster-shape axis
    // local[N] can't exercise (VERDICT r15 #1). Executors are separate
    // JVMs that see Spark from SPARK_HOME/jars; the application classes
    // must ride along explicitly via executor extraClassPath.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      // wide MinHash aggregates (k=128 min-columns) must stay inside
      // whole-stage codegen; the default maxFields=100 silently drops them
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      builder.config("spark.executor.extraClassPath",
        sys.props("java.class.path"))
      // the in-process Worker's launcher probes a dev-build layout
      // unless the scala version is pinned (AbstractCommandBuilder
      // .getScalaVersion: "Cannot find any build directories")
      builder.config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      // local-cluster's third argument sizes the WORKER; the executor
      // JVM still defaults to 1g — size it explicitly or state-heavy
      // streaming stages OOM off-JVM while local[N] (one big heap)
      // sails through
      builder.config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "3g"))
      // executors are plain JVMs, not spark-submit children: JDK 17
      // module opens must ride along like the driver's (build.sbt)
      builder.config("spark.executor.extraJavaOptions",
        Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
          "java.io", "java.net", "java.nio", "java.util",
          "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action",
          "sun.util.calendar")
          .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
          .mkString(" "))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // streaming twins checkpoint through the fork-free store whatever the
    // query order, not only after a config gate has installed it
    graft.streaming.LocalCheckpointFiles.install(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
