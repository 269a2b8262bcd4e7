package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.gen.CdcGen
import graft.ingest.Extraction
import graft.model.CdcSchemas
import graft.pipeline.Pipeline
import graft.streaming.CdcStream
import graft.sync.{BucketedTableStore, Merge}

/** The CDC target watermark: the value a bucketed store commits with each
  * version must equal the reference's scan, a sync over recorded values
  * must not read the targets, and a scanned target that cannot yield a
  * watermark must fail alone. */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1660000000000L // base epoch ms
  private def ts(sec: Int) = new Timestamp(t0 + sec * 1000L)

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  private def members(rows: (String, String, Int)*) =
    rows.map { case (id, n, s) => (id, n, ts(s)) }
      .toDF("memberId", "memberName", "approximateUpdateTimestamp")
      .withColumn("syncTimestamp", lit(ts(0)))

  private def stage(rows: (String, String, Int, String)*) =
    rows.map { case (id, n, s, e) => (id, n, ts(s), e) }
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")

  test("recorded watermark equals the scan after every verb") {
    val store = new BucketedTableStore(spark, tmpDir("wm-verbs"), nBuckets = 4,
      deltaMerges = true, autoCompactAfter = 8)
    def rows() = store.read("member").get.drop("_bucket").collect().toSet
    def check(step: String, recorded: Boolean): Unit = {
      val rec = store.recordedWatermark("member")
      assert(rec.isDefined == recorded, s"$step: recorded = $rec")
      rec.foreach(r => assert(Merge.watermark(store.read("member").get).contains(r), step))
    }
    val seed = members(("m1", "a", 1), ("m2", "b", 2), ("m3", "c", 3), ("m4", "d", 6))
    store.init("member", seed, "memberId")
    check("init", recorded = true)
    assert(store.recordedWatermark("member").contains(ts(6)))
    val v0 = rows()

    store.applyMerge("member",
      stage(("m2", "b2", 7, "MODIFY"), ("m5", "e", 8, "INSERT")), "memberId", ts(60))
    check("upsert batch", recorded = true)
    assert(store.recordedWatermark("member").contains(ts(8)))
    val v1 = rows()

    store.applyMerge("member", stage(), "memberId", ts(61))
    check("empty batch", recorded = true)
    // manifests carrying the line time-travel to the same rows as before
    assert(store.readAtManifest("member", 0).get.drop("_bucket").collect().toSet == v0)
    assert(store.readAtManifest("member", 1).get.drop("_bucket").collect().toSet == v1)

    assert(store.compact("member") > 0)
    check("compact", recorded = true)
    store.vacuum("member", keepManifests = 1)
    check("vacuum(keep = 1)", recorded = true)
    assert(rows() == v1)

    // deletes the newest row: the max falls, and only a scan can say to what
    store.applyMerge("member", stage(("m5", "e", 9, "REMOVE")), "memberId", ts(62))
    check("REMOVE-only batch", recorded = false)
    assert(Merge.watermark(store.read("member").get).contains(ts(7)))

    store.init("member", seed, "memberId")
    check("re-init", recorded = true)
    store.merge("member", stage(("m6", "f", 10, "INSERT")), "memberId", ts(63))
    check("copy-on-write merge", recorded = false)

    store.init("member", seed, "memberId")
    store.mergeDelta("member", stage(("m6", "f", 10, "INSERT")), "memberId", ts(64))
    check("direct mergeDelta", recorded = false)

    store.init("nobody", members(), "memberId")
    assert(store.recordedWatermark("nobody").isEmpty, "an empty load records nothing")
  }

  test("a steady-state sync reads no target file") {
    val gen = new CdcGen.Gen(21)
    val exportDir = tmpDir("wm-guard-export")
    val root = tmpDir("wm-guard-store")
    val m0 = gen.member(); val q0 = gen.quest()
    writeLines(exportDir, "data.json", Seq(m0, q0,
      gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))).map(gen.exportLine))
    var clock = t0
    val pipeline = new Pipeline(spark, root, () => new Timestamp(clock),
      nBuckets = Some(4), deltaMerges = true, autoCompactAfter = 100)
    pipeline.initialLoad(exportDir)
    val sync = new CdcStream(spark, pipeline.store, () => new Timestamp(clock))
    val scans = new ScanRoots
    spark.listenerManager.register(scans)
    try {
      (1 to 3).foreach { i =>
        val m = gen.member(); val q = gen.quest()
        val lines = Seq(
          gen.envelope("INSERT", m, t0 + i * 10000L),
          gen.envelope("INSERT", q, t0 + i * 10000L + 1000),
          gen.envelope("INSERT",
            gen.memberQuest(m.pk.stripPrefix("M_"), q.pk.stripPrefix("Q_")),
            t0 + i * 10000L + 2000))
        clock = t0 + i * 60000L
        val extracted = Extraction.extract(
          spark.read.schema(CdcSchemas.envelope).json(lines.toDS))
        assert(sync.syncAll(extracted) == 3)
      }
      val during = scans.drain()
      assert(!during.exists(_.contains(root)),
        s"a sync scanned the targets: ${during.filter(_.contains(root))}")
      // the listener does see a target read when one happens
      assert(pipeline.member.count() == 4)
      assert(pipeline.memberQuest.count() == 4)
      assert(scans.drain().exists(_.contains(root)))
    } finally spark.listenerManager.unregister(scans)
  }

  /** Reference semantics after a REMOVE deletes the newest row: the
    * watermark falls, so a later change stamped between the lowered
    * watermark and the old one is admitted — on every store alike. */
  test("a REMOVE of the newest row lowers the watermark end to end") {
    def run(nBuckets: Option[Int], tag: String): Map[String, Seq[String]] = {
      val gen = new CdcGen.Gen(22)
      val exportDir = tmpDir(s"wm-low-export-$tag")
      val cdcDir = tmpDir(s"wm-low-cdc-$tag")
      val ckptDir = tmpDir(s"wm-low-ckpt-$tag")
      val m0 = gen.member()
      writeLines(exportDir, "data.json", Seq(gen.exportLine(m0)))
      var clock = t0
      val pipeline = new Pipeline(spark, tmpDir(s"wm-low-store-$tag"),
        () => new Timestamp(clock), nBuckets, deltaMerges = nBuckets.nonEmpty,
        autoCompactAfter = 2)
      pipeline.initialLoad(exportDir)
      val (m1, m2, m3) = (gen.member(), gen.member(), gen.member())
      def batch(i: Int, lines: String*): Unit = {
        writeLines(cdcDir, s"batch$i.json", lines)
        clock = t0 + i * 60000L
        pipeline.syncAvailable(cdcDir, ckptDir)
      }
      batch(1, gen.envelope("INSERT", m1, t0 + 10000), gen.envelope("INSERT", m2, t0 + 20000))
      batch(2, gen.envelope("REMOVE", m2, t0 + 30000))
      batch(3, gen.envelope("INSERT", m3, t0 + 15000))
      assert(pipeline.member.filter($"memberId" === m3.pk.stripPrefix("M_")).count() == 1,
        s"$tag: the change between the lowered and the old watermark was dropped")
      Seq("member", "quest", "member_quest").map { t =>
        val df = pipeline.table(t)
        t -> df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
          .collect().map(_.mkString("|")).toSeq.sorted
      }.toMap
    }
    val plain = run(None, "plain")
    assert(plain("member").size == 3)
    assert(run(Some(4), "mor") == plain)
  }

  test("a target without approximateUpdateTimestamp skips alone; the others merge") {
    val gen = new CdcGen.Gen(23)
    val exportDir = tmpDir("wm-iso-export")
    val cdcDir = tmpDir("wm-iso-cdc")
    val m0 = gen.member(); val q0 = gen.quest()
    writeLines(exportDir, "data.json", Seq(m0, q0,
      gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))).map(gen.exportLine))
    var clock = t0
    val pipeline = new Pipeline(spark, tmpDir("wm-iso-store"), () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)
    pipeline.store.init("quest", pipeline.quest.drop("approximateUpdateTimestamp"), "questId")
    val m1 = gen.member(); val q1 = gen.quest()
    writeLines(cdcDir, "batch1.json", Seq(
      gen.envelope("INSERT", m1, t0 + 10000),
      gen.envelope("INSERT", q1, t0 + 11000),
      gen.envelope("INSERT",
        gen.memberQuest(m1.pk.stripPrefix("M_"), q1.pk.stripPrefix("Q_")), t0 + 12000)))
    clock = t0 + 60000
    pipeline.syncAvailable(cdcDir, tmpDir("wm-iso-ckpt"))
    assert(pipeline.member.count() == 2)
    assert(pipeline.memberQuest.count() == 2)
    assert(pipeline.quest.count() == 1, "the unusable target is left as it was")
  }
}

/** Root paths of every file scan the session runs, cached inputs and
  * adaptive stages included. [[drain]] first waits for the listener to
  * catch up with the queries already run. */
final class ScanRoots extends QueryExecutionListener {
  private val roots = new ConcurrentLinkedQueue[String]()
  @volatile private var marker: Option[(String, CountDownLatch)] = None

  private def scanRoots(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => scanRoots(a.executedPlan)
    case s: QueryStageExec => scanRoots(s.plan)
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case m: InMemoryTableScanExec => scanRoots(m.relation.cachedPlan)
    case other =>
      (other.children ++ other.innerChildren.collect { case c: SparkPlan => c } ++
        other.subqueries).flatMap(scanRoots)
  }

  private def seen(qe: QueryExecution): Unit =
    marker.filter(m => qe.analyzed.output.exists(_.name == m._1)) match {
      case Some((_, latch)) => latch.countDown()
      case None => scanRoots(qe.executedPlan).foreach(roots.add)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen(qe)

  def drain(): Seq[String] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val name = s"_scan_roots_marker_${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    marker = Some(name -> latch)
    spark.range(1).select(lit(1).as(name)).collect()
    assert(latch.await(30, TimeUnit.SECONDS), "query listener never caught up")
    val out = roots.asScala.toSeq
    roots.clear()
    out
  }
}
