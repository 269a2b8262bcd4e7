package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session factory, and query builders that leave the session alone:
  * every session is configured by [[GraftSession.builder]], which installs
  * the planner pieces once, so no query adds rules or strategies at call
  * time, and its scoped conf writes put back what the caller had. No
  * session adds jars, files or classes: every session shares one executor
  * classloader. */
class SessionFactorySpec extends SparkSpec {

  test("query builders leave the shared session's conf and planner as they found it") {
    val conf = spark.conf.getAll.toSet
    val strategies = spark.experimental.extraStrategies
    val rules = spark.experimental.extraOptimizations
    Seq("q78_range_join_rule", "q117_topk_exec", "q144_stream_scd2",
        "q149_time_travel", "q69_stream_stream_join").foreach { name =>
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()
      val now = spark.conf.getAll.toSet
      assert((now diff conf) ++ (conf diff now) == Set.empty, s"$name changed the session conf")
      assert(spark.experimental.extraStrategies == strategies, s"$name added a strategy")
      assert(spark.experimental.extraOptimizations == rules, s"$name added an optimizer rule")
    }
  }

  test("src/main builds sessions only in GraftSession and never edits experimental.*") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "run from the repository root")
    def hits(pattern: String, skip: Path => Boolean): Seq[String] =
      sources.filterNot(skip).flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) => s"$p:${i + 1}: ${line.trim}"
        }
      }
    val builders = hits("SparkSession.builder()",
      _.getFileName.toString == "GraftSession.scala")
    assert(builders.isEmpty,
      s"build sessions through GraftSession.builder():\n${builders.mkString("\n")}")
    val experimental = hits(".experimental.", _ => false)
    assert(experimental.isEmpty,
      s"install planner pieces in GraftExtensions:\n${experimental.mkString("\n")}")
    // Artifact isolation is off (GraftSession), so an artifact added to one
    // session would be visible to every session in the JVM.
    val artifacts = Seq("addArtifact", "addJar", "addFile", "addArchive")
      .flatMap(verb => hits(verb + "(", _ => false))
    assert(artifacts.isEmpty,
      s"session artifacts are shared by every session:\n${artifacts.mkString("\n")}")
    val isolation = hits("artifact.isolation", _.getFileName.toString == "GraftSession.scala")
    assert(isolation.isEmpty,
      s"artifact isolation is set in GraftSession.builder() only:\n${isolation.mkString("\n")}")
  }
}
