package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = SparkEntry.localSession(4,
    Some(java.nio.file.Files.createTempDirectory("graft-wh").toString))
}

trait SparkFixture {
  def spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
