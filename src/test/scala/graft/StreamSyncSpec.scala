package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.gen.CdcGen
import graft.ingest.Extraction
import graft.model.CdcSchemas
import graft.pipeline.Pipeline
import graft.streaming.CdcStream

/** What a sync costs beyond its own jobs: the merges' jobs carry the
  * caller's job properties, and a stream-driven sync reuses the code the
  * previous sync generated instead of compiling its plans again. */
class StreamSyncSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1660000000000L // base epoch ms

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  /** Initial load of `ticks` member/quest/member_quest triples. */
  private def loaded(gen: CdcGen.Gen, tag: String, ticks: Int,
      clock: () => Timestamp, nBuckets: Option[Int] = None,
      deltaMerges: Boolean = false): Pipeline = {
    val exportDir = tmpDir(s"$tag-export")
    writeLines(exportDir, "data.json", (1 to ticks).flatMap { _ =>
      val (m, q, mq) = gen.tick(); Seq(m, q, mq)
    }.map(gen.exportLine))
    val pipeline = new Pipeline(spark, tmpDir(s"$tag-store"), clock,
      nBuckets = nBuckets, deltaMerges = deltaMerges)
    pipeline.initialLoad(exportDir)
    pipeline
  }

  test("syncAll's merges carry the caller's job group, not a pool thread's stale one") {
    val gen = new CdcGen.Gen(47)
    var now = t0
    val clock = () => new Timestamp(now)
    val pipeline = loaded(gen, "jobgroup", ticks = 2, clock)
    now = t0 + 60000
    val sc = spark.sparkContext
    def syncUnder(group: String, i: Int): Seq[String] = {
      val (m, q, mq) = gen.tick()
      val extracted = Extraction.extract(spark.read.schema(CdcSchemas.envelope)
        .json(Seq(m, q, mq).map(gen.envelope("INSERT", _, t0 + i * 10000)).toDS))
      val groups = new ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(
            Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, s"sync $i")
      try assert(new CdcStream(spark, pipeline.store, clock).syncAll(extracted) == 3)
      finally {
        sc.clearJobGroup()
        ListenerDrain(sc)
        sc.removeSparkListener(listener)
      }
      groups.asScala.toSeq
    }
    syncUnder("a", 1) // a shared pool's threads would keep "a" from here on
    val jobs = syncUnder("g", 2)
    assert(jobs.nonEmpty)
    assert(jobs.forall(_ == "g"), s"every merge job must carry group g: $jobs")
    assert(pipeline.member.count() == 4)
  }

  test("stream-driven syncs reuse generated code: a steady sync compiles at most 16 classes") {
    val gen = new CdcGen.Gen(43)
    var clock = t0
    val pipeline = loaded(gen, "codegen", ticks = 5, () => new Timestamp(clock),
      nBuckets = Some(4), deltaMerges = true) // 8 syncs per compaction: none here
    val cdcDir = tmpDir("codegen-cdc")
    val ckptDir = tmpDir("codegen-ckpt")
    // same-shaped batches; each sync runs in a new StreamingQuery
    val compiles = (1 to 3).map { i =>
      val (m, q, mq) = gen.tick()
      writeLines(cdcDir, s"batch$i.json",
        Seq(m, q, mq).map(gen.envelope("INSERT", _, t0 + i * 10000)))
      clock = t0 + i * 60000
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      pipeline.syncAvailable(cdcDir, ckptDir)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    info(s"codegen compiles per sync: ${compiles.mkString(", ")}")
    assert(pipeline.member.count() == 8)
    assert(compiles(2) <= 16,
      s"the third sync recompiled its plans (${compiles(2)} compiles; per sync: $compiles)")
  }
}
