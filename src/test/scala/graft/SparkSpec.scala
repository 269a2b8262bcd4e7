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

  /** Spark jobs that start while `body` runs. A marker job run after it
    * closes the count: listener events arrive in order, so every job of
    * `body` is seen before the marker, with no fixed drain window. */
  def jobsDuring(body: => Unit): Int = {
    val marker = "jobsDuring-marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      Iterator.continually(Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("the marker job never reached the listener")))
        .takeWhile(_ != marker).size
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Classes that `body` compiles: the misses of Spark's codegen cache,
    * which its compilation-time histogram counts one by one. */
  def compilesDuring(body: => Unit): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }
}
