package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.storage.StorageLevel

import graft.analytics.Analytics
import graft.ingest.Extraction
import graft.pipeline.Pipeline
import graft.streaming.{CdcSource, PayloadCdcSource}
import graft.sync.{BucketedTableStore, Merge}

/** The `cdc_trickle` workload: small CDC files synced one at a time into
  * bucketed merge-on-read, each read back, and the Q1–Q4 report. A closed
  * loop with one client that waits for every step, like the reference's
  * sync-time test loop.
  *
  * Untraced steps go through `Pipeline.syncAvailable`. In the traced run
  * every other step instead calls the public functions `CdcStream.syncAll`
  * is built from, one at a time and in its order, so ingest, stage and
  * commit get spans of their own.
  */
final class CdcTrickle(ctx: Ctx) {
  import CdcTrickle._
  import ctx._

  private val checks = new Checks
  private val tracer = if (trace) Some(new Tracer(spark).register()) else None
  private val layer = new LayerStats
  /** Set while warming up: warm-up steps record no spans or layer values. */
  private var warming = false
  private def tracing = tracer.filter(_ => !warming)
  private def span[T](name: String)(body: => T): T = tracing.fold(body)(_.span(name)(body))

  /** One copy of the workload's state: generator and model, pipeline, dirs.
    * The store is the one the `Pipeline` scaladoc recommends for
    * high-frequency CDC. */
  final class State(val dir: Path) {
    val changes = new Changes(seed)
    val clock = new Clock(changes.loadMs)
    val storeDir: Path = dir.resolve("store")
    val pipeline = new Pipeline(spark, storeDir.toString, now = () => clock(),
      nBuckets = Some(Buckets), retainStates = Some(RetainStates),
      deltaMerges = true, autoCompactAfter = AutoCompactAfter)
    val store: BucketedTableStore = pipeline.store match {
      case b: BucketedTableStore => b
      case s => throw new IllegalStateException(s"expected a bucketed store, got $s")
    }
    val cdcDir: Path = dir.resolve("cdc")
    val directDir: Path = dir.resolve("direct")
    val staging: Path = dir.resolve("staging")
    val ckpt: Path = dir.resolve("ckpt")
    var files = 0
    var streamPoison = 0L
    var items = 0L

    /** Generate the export and run the initial load; returns seconds. */
    def load(): Double = {
      val t0 = System.nanoTime()
      items = changes.writeExport(dir.resolve("export"), Ticks)
      span("load.initial") { pipeline.initialLoad(dir.resolve("export").toString) }
      layer.add("load.initial.rows", items.toDouble)
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Build the state from scratch; returns it with the set-up seconds. */
  private def setUp(): (State, Double) = {
    val st = new State(root.resolve("state"))
    (st, st.load())
  }

  // ---------------------------------------------------------------- steps

  /** Publish one batch as a file, sync, and wait until the readback shows
    * the sync's stamp. Returns seconds from the rename until the batch is
    * visible. `decomposed` selects the traced one-call-at-a-time path. */
  private def syncStep(st: State, lines: Seq[String], sec: Long, decomposed: Boolean): Double = {
    val stampSec = Changes.stampOf(sec)
    st.files += 1
    val staged = st.changes.stage(lines, sec, st.staging, f"cdc-${st.files}%06d.json")
    val poison = lines.count(!_.startsWith("{\"approximate"))
    st.clock.ms = stampSec * 1000
    checks.op()
    val target = if (decomposed) st.directDir else st.cdcDir
    Files.createDirectories(target)
    val t0 = System.nanoTime()
    val moved = Files.move(staged, target.resolve(staged.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    if (decomposed) span("sync") { syncDirect(st, moved) }
    else {
      st.streamPoison += poison
      val before = tracing.map { t => t.drain(); t.progress.size }.getOrElse(0)
      val s0 = System.nanoTime()
      span("streaming.sync") {
        st.pipeline.syncAvailable(st.cdcDir.toString, st.ckpt.toString)
      }
      tracing.foreach { t =>
        t.drain()
        val p = t.synchronized(t.progress.drop(before).toSeq)
        def sum(k: String) = p.map(_.getOrElse(k, 0L)).sum / 1e3
        layer.add("streaming.batches", p.size.toDouble)
        layer.add("streaming.trigger.s", sum("triggerExecution"))
        layer.add("streaming.add_batch.s", sum("addBatch"))
        layer.add("streaming.latest_offset.s", sum("latestOffset"))
        layer.add("streaming.wal_commit.s", sum("walCommit"))
        layer.add("streaming.overhead.s",
          (System.nanoTime() - s0) / 1e9 - sum("triggerExecution"))
      }
    }
    val rows = readback(st, stampSec)
    val lat = (System.nanoTime() - t0) / 1e9
    checkRecent(st, rows)
    if (tracing.nonEmpty) layer.add(if (decomposed) "trace.decomposed_step_s" else "trace.stream_step_s", lat)
    lat
  }

  /** Poll Q1 until its newest row carries `stampSec`. */
  private def readback(st: State, stampSec: Long): Array[Row] = {
    var rows = Array.empty[Row]
    var polls = 0
    def fresh = rows.nonEmpty && rows.head.getTimestamp(4).getTime == stampSec * 1000
    while (!fresh && polls < 200) {
      if (polls > 0) Thread.sleep(10)
      rows = span("analytics.q1") { Analytics.recentSyncLags(st.pipeline.memberQuest).collect() }
      polls += 1
    }
    checks.expect(fresh, s"readback never showed sync stamp $stampSec")
    rows
  }

  /** Q1 rows against the model: key, columns, stamps and lag. */
  private def checkRecent(st: State, rows: Array[Row]): Unit = {
    val m = st.changes.memberQuests
    val ok = rows.length == math.min(5, m.size) && rows.forall { r =>
      m.get(r.getString(0)).exists { e =>
        e.memberId == r.getString(1) && e.questId == r.getString(2) &&
          e.ts * 1000 == r.getTimestamp(3).getTime &&
          e.stamp * 1000 == r.getTimestamp(4).getTime &&
          e.stamp - e.ts == r.getLong(5)
      }
    }
    checks.expect(ok, s"Q1 readback disagrees with the model: ${rows.take(2).mkString(",")}")
  }

  /** The traced path for one file: parse + extract, watermark, stage
    * (materialized), commit, retain. */
  private def syncDirect(st: State, file: Path): Unit = {
    val corrupt = CdcSource.CorruptCol
    val (parsed, extracted) = span("ingest.parse") {
      val parsed = PayloadCdcSource.parse(spark.read.text(file.toString), "value")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val rows = parsed.count()
      val bad = parsed.filter(col(corrupt).isNotNull).count()
      layer.add("ingest.parse.rows", rows.toDouble)
      layer.add("ingest.parse.corrupt_rows", bad.toDouble)
      val extracted = Extraction.extract(parsed.filter(col(corrupt).isNull).drop(corrupt))
        .persist(StorageLevel.MEMORY_AND_DISK)
      extracted.count()
      (parsed, extracted)
    }
    try {
      val syncTime = st.clock()
      val wms = Merge.entities.map { e =>
        e -> span("sync.watermark") { Merge.watermark(st.store.read(e.name).get) }.get
      }
      wms.foreach { case (e, wm) =>
        val routed = extracted.filter(col("eventName").isin("INSERT", "MODIFY", "REMOVE"))
          .filter(expr(s"pk LIKE '${e.pkPattern}' ESCAPE '^'"))
          .filter(Extraction.eventTime > lit(wm)).count()
        val stage = span("sync.stage") {
          val s = Merge.stageChanges(extracted, e, wm).persist(StorageLevel.MEMORY_AND_DISK)
          layer.add("sync.stage.rows_staged", s.count().toDouble)
          s
        }
        layer.add("sync.stage.rows_routed", routed.toDouble)
        try commit(st, e, stage, syncTime) finally stage.unpersist()
      }
      Merge.entities.foreach { e =>
        val dir = st.storeDir.resolve(e.name)
        val before = Dirs.bytes(dir)
        span("sync.retain") { st.store.retain(e.name, RetainStates) }
        layer.add("sync.retain.mb_freed", (before - Dirs.bytes(dir)) / 1e6)
      }
    } finally { extracted.unpersist(); parsed.unpersist() }
  }

  private def states(st: State, name: String) = st.store.bucketStates(name).getOrElse(Map.empty)

  /** `SyncStore.applyMerge` under a span, with the files it wrote and the
    * buckets it touched. A compaction shows as a delta chain reset between
    * the bucket states before and after the call. */
  private def commit(st: State, e: Merge.EntityConf, stage: DataFrame, syncTime: Timestamp): Unit = {
    val dir = st.storeDir.resolve(e.name)
    val before = states(st, e.name)
    val filesBefore = Dirs.dataFiles(dir)
    val staged = stage.count().toDouble
    span("sync.commit") {
      st.store.applyMerge(e.name, stage, e.keyCol, syncTime,
        sortBy = Some("approximateUpdateTimestamp"))
    }
    val after = states(st, e.name)
    val fresh = Dirs.dataFiles(dir) -- filesBefore.keys
    val compacted = after.exists { case (b, s) =>
      s.deltas.isEmpty && before.get(b).exists(_.deltas.nonEmpty) }
    tracer.foreach { t =>
      val sp = t.spans.last
      if (compacted) t.spans(t.spans.size - 1) = sp.copy(name = "sync.commit_compacting")
      layer.add("sync.commit.tasks", sp.census.tasks.toDouble)
      layer.add("sync.commit.driver_s", sp.driverSeconds)
      layer.add("sync.commit.write_amp",
        if (staged > 0) sp.census.recordsWritten / staged else 0.0)
    }
    if (compacted) layer.add("sync.compactions", 1.0, perCall = false)
    layer.add("sync.commit.files_written", fresh.size.toDouble)
    layer.add("sync.commit.mb_written", fresh.values.sum / 1e6)
    layer.add("sync.commit.buckets_touched",
      after.count { case (b, s) => !before.get(b).contains(s) }.toDouble)
  }

  /** Live snapshot size: bytes and data files the current bucket states
    * reference (`b<bucket>/v<base>` plus `d<delta>` per bucket). */
  private def live(st: State, name: String): (Long, Int) = {
    val dir = st.storeDir.resolve(name)
    val dirs = states(st, name).toSeq.flatMap { case (bk, s) =>
      ((if (s.base >= 0) Seq(s"v${s.base}") else Nil) ++ s.deltas.map(d => s"d$d"))
        .map(n => dir.resolve(s"b$bk").resolve(n))
    }
    val files = dirs.map(Dirs.dataFiles)
    (files.map(_.values.sum).sum, files.map(_.size).sum)
  }

  private def spaceAmp(st: State): Double = {
    val liveBytes = Merge.entities.map(e => live(st, e.name)._1).sum
    Dirs.bytes(st.storeDir).toDouble / liveBytes
  }

  /** Traced snapshot read of member_quest: resolve and scan every column. */
  private def tracedRead(st: State): Unit = if (trace) {
    span("sync.read") {
      st.pipeline.memberQuest.write.format("noop").mode("overwrite").save()
    }
    layer.add("sync.read.files", live(st, "member_quest")._2.toDouble)
    val s = states(st, "member_quest")
    layer.add("sync.read.delta_chain_mean",
      if (s.isEmpty) 0.0 else s.values.map(_.deltas.size).sum.toDouble / s.size)
  }

  /** Final check: each target table against the model. */
  private def checkTables(st: State): Unit = {
    val cols = Map(
      "member" -> Seq("memberId", "memberName", "approximateUpdateTimestamp"),
      "quest" -> Seq("questId", "questName", "approximateUpdateTimestamp"),
      "member_quest" -> Seq("memberQuestId", "memberId", "questId", "dollarsEarned",
        "approximateUpdateTimestamp"))
    cols.foreach { case (name, cs) =>
      checks.op()
      val got = Changes.fingerprint(st.pipeline.table(name), cs)
      val want = Changes.fingerprint(st.changes.modelFrame(spark, name), cs)
      checks.expect(got == want, s"$name table $got != model $want")
    }
    checks.op()
    val q = st.pipeline.quarantine
    val quarantined = if (q.columns.isEmpty) 0L else q.count()
    checks.expect(quarantined == st.streamPoison,
      s"quarantine holds $quarantined lines, expected ${st.streamPoison}")
  }

  /** The reference's four reports, Q1–Q4, collected in turn and checked
    * against the model. Returns the seconds the four queries took. */
  private def report(st: State, day: java.sql.Date): Double = {
    val mq = st.pipeline.memberQuest
    checks.op()
    val t0 = System.nanoTime()
    val q1 = span("analytics.q1") { Analytics.recentSyncLags(mq).collect() }
    val q2 = span("analytics.q2") { Analytics.worstLagsOn(mq, day).collect() }
    val q3 = span("analytics.q3") { Analytics.rewardsByMember(mq, st.pipeline.member).collect() }
    val q4 = span("analytics.q4") { Analytics.rewardsByQuest(mq, st.pipeline.quest).collect() }
    val s = (System.nanoTime() - t0) / 1e9
    val want = Expected(st.changes, day)
    checkRecent(st, q1)
    checks.expect(want.q2 == q2.map(r => (r.getString(0), r.getLong(2))).toSeq,
      s"Q2 ${q2.take(2).mkString(",")} != model ${want.q2.take(2)}")
    checks.expect(want.sameTotals(want.q3, q3), "Q3 disagrees with the model")
    checks.expect(want.sameTotals(want.q4, q4), "Q4 disagrees with the model")
    s
  }

  /** Set up, warm up for one compaction cycle, then run whole compaction
    * cycles until the run's seconds are spent (two in the traced run), so
    * every run measures the same part of the cycle: the delta chain
    * growing from empty and the compacting sync that ends it.
    * The traced run follows every other measured step (the stream ones)
    * with the Q1–Q4 report and a snapshot read; the untraced run reports
    * once, after its last step, so its steps are the reference's
    * sync-then-check loop alone. */
  def run(): Result = {
    val (st, setupS) = setUp()
    val reports = mutable.ArrayBuffer.empty[Double]
    var day = new java.sql.Date(st.changes.loadMs)
    val warmSteps = mutable.ArrayBuffer.empty[Double]
    def step(i: Int, decomposed: Boolean): Double = {
      val (lines, sec) = st.changes.batch(Batch, poison = if (i % 4 == 3) 1 else 0)
      val lat = syncStep(st, lines, sec, decomposed)
      day = new java.sql.Date(sec * 1000)
      if (tracing.nonEmpty && !decomposed) { reports += report(st, day); tracedRead(st) }
      lat
    }
    val w0 = System.nanoTime()
    warming = true
    (0 until Warmup).foreach(i => warmSteps += step(i, decomposed = false))
    warming = false
    val warmS = (System.nanoTime() - w0) / 1e9
    val lats = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    def more =
      if (trace) i < 2 * AutoCompactAfter
      else i == 0 || i % AutoCompactAfter != 0 || (System.nanoTime() - t0) / 1e9 < seconds
    while (more) {
      // traced steps alternate paths and swap sides in the second cycle, so
      // each path syncs at every position of the cycle once, compacting too
      lats += step(Warmup + i, decomposed = trace && (i + i / AutoCompactAfter) % 2 == 1)
      i += 1
    }
    if (!trace) reports += report(st, day)
    checkTables(st)
    val amp = spaceAmp(st)
    val metrics =
      if (trace) layer.metrics(tracer.get)
      else EndToEnd(ctx.sessionS + setupS + warmS, lats.toSeq)
    tracer.foreach(_.unregister())
    val spans = tracer.map(t => Map("spans" -> t.dump)).getOrElse(Map.empty)
    Dirs.delete(st.dir)
    Result(metrics, checks.attempted, checks.failed, checks.errors.toSeq, spans ++ Map(
      "workload" -> "cdc_trickle", "steps" -> lats.size, "step_s" -> lats.toSeq,
      "setup_build_s" -> setupS, "warmup_s" -> warmS, "warmup_step_s" -> warmSteps.toSeq,
      "session_s" -> ctx.sessionS,
      "sync_latency_p50_s" -> Stats.median(lats.toSeq),
      "sync_latency_max_s" -> lats.max,
      "report_latency_p50_s" -> Stats.median(reports.toSeq),
      "changes_per_s" -> Batch / Stats.median(lats.toSeq),
      "initial_load_items_per_s" -> st.items / setupS,
      "store_space_amp" -> amp,
      "target_items" -> Ticks * 3, "batch_envelopes" -> Batch,
      "fail_ratio" -> checks.failed.toDouble / math.max(1L, checks.attempted)))
  }
}

object CdcTrickle {
  val Buckets = 16
  val RetainStates = 2
  /** Half the `Pipeline` default of 8: a run syncs two whole cycles (warm-up
    * and measured), and at 8 a run of 16 syncs outlasts the time the
    * benchmark's repeated runs are allowed. */
  val AutoCompactAfter = 4

  val Ticks = 5000
  val Batch = 1000
  /** Warm-up syncs: one whole compaction cycle, ending on the sync that
    * compacts, so measuring starts with every delta chain empty. */
  val Warmup = AutoCompactAfter
}

/** Q2–Q4 as the model computes them for one state of the tables. */
final case class Expected(q2: Seq[(String, Long)], q3: Map[String, (String, Double)],
    q4: Map[String, (String, Double)]) {
  /** Same keys, names and totals (to 1e-9 relative: sums of doubles depend
    * on their order). */
  def sameTotals(want: Map[String, (String, Double)], rows: Array[Row]): Boolean =
    rows.length == want.size && rows.forall { r =>
      want.get(r.getString(0)).exists { case (n, t) =>
        n == r.getString(1) && math.abs(t - r.getDouble(2)) <= 1e-9 * math.max(1.0, math.abs(t))
      }
    }
}

object Expected {
  def apply(c: Changes, day: java.sql.Date): Expected = {
    val daySec = day.getTime / 1000 / 86400
    val q2 = c.memberQuests.toSeq
      .filter(_._2.ts / 86400 == daySec)
      .map { case (k, r) => (k, r.stamp - r.ts) }
      .sortBy { case (k, lag) => (-lag, k) }.take(5)
    def totals(key: Changes.Mq => String, names: String => String) =
      c.memberQuests.values.groupBy(key).map { case (k, rs) =>
        k -> (names(k), rs.toSeq.map(_.dollars).sum) }
    Expected(q2, totals(_.memberId, c.members(_)._1), totals(_.questId, c.quests(_)._1))
  }
}
