package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites must not
  * stop it): the shipped [[GraftSession.builder]] config on 4 cores.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  def writeFile(dir: java.nio.file.Path, name: String, content: String): Unit = {
    val p = dir.resolve(name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, content)
  }
}
