package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM), built like every main's:
  * through [[GraftSession.builder]], so the suites test the configuration
  * and extensions users get. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs that start while `body` runs ([[graft.obs.Census]]). */
  def jobsDuring(body: => Unit): Int = graft.obs.Census.during(spark)(body)._2.jobs.size

  /** Classes that `body` compiles: the misses of Spark's codegen cache
    * ([[graft.obs.Census]]). */
  def compilesDuring(body: => Unit): Long = graft.obs.Census.during(spark)(body)._2.compiles
}
