package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.gen.CdcGen
import graft.ingest.Extraction
import graft.model.CdcSchemas
import graft.pipeline.Pipeline
import graft.streaming.CdcStream
import graft.sync.BucketedTableStore

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

  test("a steady stream-driven sync reuses generated code: at most 2 compiles") {
    val gen = new CdcGen.Gen(43)
    var clock = t0
    val pipeline = loaded(gen, "codegen", ticks = 5, () => new Timestamp(clock),
      nBuckets = Some(4), deltaMerges = true) // 8 syncs per compaction: none here
    val cdcDir = tmpDir("codegen-cdc")
    val ckptDir = tmpDir("codegen-ckpt")
    // same-shaped batches; each sync runs in a new StreamingQuery with a
    // new watermark, sync timestamp and delta sequence
    val compiles = (1 to 3).map { i =>
      val (m, q, mq) = gen.tick()
      writeLines(cdcDir, s"batch$i.json",
        Seq(m, q, mq).map(gen.envelope("INSERT", _, t0 + i * 10000)))
      clock = t0 + i * 60000
      compilesDuring(pipeline.syncAvailable(cdcDir, ckptDir))
    }
    info(s"codegen compiles per sync: ${compiles.mkString(", ")}")
    assert(pipeline.member.count() == 8)
    assert(compiles(2) <= 2,
      s"the third sync recompiled its plans (${compiles(2)} compiles; per sync: $compiles)")
  }

  test("a plain stream sync runs 1 + 3 jobs: the quarantine probe and one write per entity") {
    val gen = new CdcGen.Gen(61)
    var clock = t0
    val pipeline = loaded(gen, "jobs", ticks = 20, () => new Timestamp(clock),
      nBuckets = Some(16), deltaMerges = true) // 8 syncs per compaction: none here
    val cdcDir = tmpDir("jobs-cdc")
    val ckptDir = tmpDir("jobs-ckpt")
    val jobs = (1 to 2).map { i =>
      writeLines(cdcDir, s"batch$i.json", (1 to 30).flatMap { j =>
        val (m, q, mq) = gen.tick()
        Seq(m, q, mq).map(gen.envelope("INSERT", _, t0 + i * 100000 + j * 1000))
      })
      clock = t0 + i * 600000
      jobsDuring(pipeline.syncAvailable(cdcDir, ckptDir))
    }
    assert(pipeline.member.count() == 80)
    assert(jobs == Seq(4, 4), s"jobs per sync: $jobs")
  }

  test("a delta commit on a 16-bucket table writes at most 2 parquet files") {
    val gen = new CdcGen.Gen(53)
    var clock = t0
    val pipeline = loaded(gen, "onefile", ticks = 4, () => new Timestamp(clock),
      nBuckets = Some(16), deltaMerges = true)
    val store = pipeline.store.asInstanceOf[BucketedTableStore]
    val cdcDir = tmpDir("onefile-cdc")
    writeLines(cdcDir, "batch.json", (1 to 64).flatMap { i =>
      val (m, q, mq) = gen.tick()
      Seq(m, q, mq).map(gen.envelope("INSERT", _, t0 + i * 1000))
    })
    clock = t0 + 3600000
    pipeline.syncAvailable(cdcDir, tmpDir("onefile-ckpt"))
    Seq("member", "quest", "member_quest").foreach { name =>
      val states = store.bucketStates(name).get
      val n = states.values.flatMap(_.deltas).max
      assert(states.count(_._2.deltas.contains(n)) > 2, s"$name: the batch must span buckets")
      val files = pipeline.table(name).inputFiles.filter(_.contains(s"/d$n/"))
      assert(files.nonEmpty && files.length <= 2, s"$name: delta $n wrote ${files.toSeq}")
    }
    assert(pipeline.member.count() == 68)
  }

  test("an entity with no changes in a stream batch publishes nothing") {
    val gen = new CdcGen.Gen(59)
    var clock = t0
    val pipeline = loaded(gen, "quiet", ticks = 4, () => new Timestamp(clock),
      nBuckets = Some(4), deltaMerges = true)
    val store = pipeline.store.asInstanceOf[BucketedTableStore]
    val before = store.bucketStates("quest")
    val cdcDir = tmpDir("quiet-cdc")
    val (m, _, _) = gen.tick()
    writeLines(cdcDir, "batch.json", Seq(gen.envelope("INSERT", m, t0 + 1000)))
    clock = t0 + 60000
    pipeline.syncAvailable(cdcDir, tmpDir("quiet-ckpt"))
    assert(store.bucketStates("quest") == before, "quest had no change to commit")
    assert(store.bucketStates("member").get.values.exists(_.deltas.nonEmpty))
    assert(pipeline.member.count() == 5)
  }
}
