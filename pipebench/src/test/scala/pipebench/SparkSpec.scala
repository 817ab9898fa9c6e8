package pipebench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SharedSpark {
  lazy val spark: SparkSession = {
    val s = graft.runtime.GraftSession.builder("2").appName("pipebench-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def tmpDir(prefix: String): java.nio.file.Path = java.nio.file.Files.createTempDirectory(prefix)
}
