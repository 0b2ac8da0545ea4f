package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Bench, Verify, StreamBench,
  * Profile, Explain) and the test suite plan under the same settings, so
  * the DuckDB oracle checks the plans the bench times.
  *
  * Environment, read here and nowhere else:
  *   - `SPARK_GRAFT_CPUS`: local parallelism and shuffle partitions
  *     (default: the host's core count);
  *   - `SPARK_GRAFT_MASTER`: the master URL (default `local[cpus]`);
  *     `local-cluster[n,c,mem_mb]` runs multi-JVM — real task
  *     serialization, remote shuffle fetch, executor-side state stores;
  *   - `SPARK_GRAFT_EXEC_MEM`: executor heap under `local-cluster`
  *     (default 3g).
  */
object GraftSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  val master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
  private val execMem = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "3g")

  /** The session for this process's environment. */
  def apply(): SparkSession = build(master, cpus, Map.empty)

  /** A `local[n]` session whatever the environment says, plus
    * deployment-only settings (the test suite's fixed parallelism and
    * temp warehouse); planner settings stay the shared ones.
    */
  def local(n: Int, deployment: Map[String, String]): SparkSession =
    build(s"local[$n]", n, deployment)

  private def build(master: String, cpus: Int,
                    deployment: Map[String, String]): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      // stateful shuffles hold one state store per partition: cpus-many
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // wide MinHash aggregates (k=128 min-columns) must stay inside
      // whole-stage codegen; the default maxFields=100 silently drops them
      .config("spark.sql.codegen.maxFields", "256")
      // bound the per-task sorter footprint: with a large heap the sort
      // under user-keyed windows otherwise hoards the whole pool before
      // spilling (sf10 events-window gates: 2.4 s at 8g vs 5.2 s at 24g)
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "4000000")
      // co-partitioning on a subset of the join keys is sufficient when
      // both sides explicitly cluster by it (serviceGraph joins spans
      // by trace; one exchange instead of two composite reshuffles)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    if (master.startsWith("local-cluster")) {
      // executors are separate JVMs that see Spark from SPARK_HOME/jars:
      // the application classes ride along on their class path
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // the in-process Worker's launcher probes a dev-build layout
      // unless the scala version is pinned
      builder.config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      // local-cluster's third argument sizes the WORKER; the executor
      // JVM still defaults to 1g, and state-heavy stages OOM there
      builder.config("spark.executor.memory", execMem)
      // executors are plain JVMs, not spark-submit children: the JDK 17
      // module opens ride along like the driver's (build.sbt)
      builder.config("spark.executor.extraJavaOptions",
        Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
          "java.io", "java.net", "java.nio", "java.util",
          "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action",
          "sun.util.calendar")
          .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
          .mkString(" "))
    }
    deployment.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // streaming checkpoints and batch file writes go fork-free whatever
    // the query order, not only after a config gate has installed it
    graft.streaming.LocalCheckpointFiles.install(spark)
    spark
  }
}
