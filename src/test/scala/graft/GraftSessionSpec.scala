package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: every main and the test suite plan under
  * [[GraftSession]]'s settings, so no other file may build a session.
  */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("GraftSession.scala is the only session builder in main and test sources") {
    val needle = "SparkSession" + ".builder"
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    val builders = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"), builders)
  }

  test("the test session carries the shared planner settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
    assert(conf.get("spark.shuffle.spill.numElementsForceSpillThreshold") == "4000000")
    assert(conf.get("spark.sql.codegen.maxFields") == "256")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sql("SELECT nfc_normalize('x')").head().getString(0) == "x")
  }
}
