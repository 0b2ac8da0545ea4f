package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
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
    // SPARK_GRAFT_MASTER=local-cluster[4,2,4096] runs the whole dump
    // multi-JVM (see GraftSession); the session is the one Bench times.
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes every control character, so oracle SQL with a tab
    // or CR still parses as JSON.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(
        SparkEntry.oracleSql.filter(kv => keep(kv._1)).asJava))
    spark.stop()
  }
}
