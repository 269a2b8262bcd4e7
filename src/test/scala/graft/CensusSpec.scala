package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.obs.Census

/** The one job census: it counts exactly the jobs a body starts, files
  * them by job tag, reads shuffle bytes from the tasks, and keeps the
  * plan of the body's hot intermediate rather than the plan of the frame
  * the body returns. It is also the only Spark listener the code base
  * builds. */
class CensusSpec extends SparkSpec {
  import spark.implicits._

  test("a body of k jobs reports k, each filed under its job tags") {
    val sc = spark.sparkContext
    val (_, c) = Census.during(spark) {
      sc.parallelize(1 to 10, 2).count()
      sc.addJobTag("x")
      try sc.parallelize(1 to 10, 3).count() finally sc.removeJobTag("x")
      sc.parallelize(1 to 10, 2).count()
    }
    assert(c.jobs.size == 3, c.toJson)
    assert(c.jobs.map(_.tags) == Seq(Nil, Seq("x"), Nil), c.toJson)
    assert(c.tasks == 7 && c.jobs.map(_.tasks) == Seq(2, 3, 2), c.toJson)
    assert(c.byTag.map(t => (t._1, t._2)) == Seq("other" -> 2, "x" -> 1))
    assert(c.jobs.forall(j => j.endMs >= j.startMs) && c.driverSeconds <= c.wallSeconds)
    assert(c.jobs.forall(_.callSite.startsWith("count at CensusSpec.scala")), c.toJson)
  }

  test("a repartition writes and reads shuffle bytes; a narrow map moves none") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Census.during(spark)(df.write.mode("overwrite").format("noop").save())._2
    val wide = run(spark.range(5000).repartition(4).toDF())
    val narrow = run(spark.range(5000).map(_ + 1).toDF())
    assert(wide.shuffleWriteBytes > 0 && wide.shuffleReadBytes > 0, wide.toJson)
    assert(wide.shuffleWriteRecords == 5000, wide.toJson)
    assert(narrow.shuffleWriteBytes == 0 && narrow.shuffleReadBytes == 0, narrow.toJson)
  }

  test("the hot plan is the checkpointed join, not the scan the body returns") {
    val left = spark.range(20000).select($"id", ($"id" % 7).as("a"))
    val right = spark.range(20000).select($"id", ($"id" % 5).as("b"))
    val (returned, c) = Census.during(spark)(left.join(right, "id").localCheckpoint())
    val returnedPlan = returned.queryExecution.executedPlan.toString
    assert(!returnedPlan.contains("Join"), returnedPlan)
    val hot = c.hotPlan.getOrElse(fail("no SQL execution was seen"))
    assert(hot.contains("Join"), hot)
  }

  test("src/main builds Spark listeners only in graft.obs, and src/test builds none") {
    val listener = "(new|extends)\\s+(org\\.apache\\.spark\\.scheduler\\.)?SparkListener\\b".r
    def hits(root: String): Seq[String] =
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if listener.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
          }
        }
    val main = hits("src/main/scala")
    assert(main.nonEmpty && main.forall(_.startsWith("src/main/scala/graft/obs/")),
      s"count Spark work through graft.obs.Census:\n${main.mkString("\n")}")
    val test = hits("src/test/scala")
    assert(test.isEmpty, s"tests count Spark work through graft.obs.Census:\n${test.mkString("\n")}")
  }
}
