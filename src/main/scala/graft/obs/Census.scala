package graft.obs

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftshim.BusBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job: its `spark.job.tags` (without the tags Spark sets
  * itself, on sessions and broadcasts), job group, call site (the name of
  * its result stage), stages, the tasks that ran for it, and its start
  * and end in epoch ms. */
final case class Job(id: Int, tags: Seq[String], group: Option[String],
    callSite: String, stages: Int, tasks: Int, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** The Spark work of one body: every job the context started while it
  * ran, task totals, codegen compiles, the body's wall time and the part
  * of it in which no job ran, and the formatted executed plan of the
  * longest SQL execution (the hot intermediate, such as a checkpoint or
  * a write, rather than the plan of the frame the body returns). */
final case class Census(jobs: Seq[Job], tasks: Long, taskFailures: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    recordsRead: Long, spillBytes: Long, compiles: Long,
    wallSeconds: Double, driverSeconds: Double, hotPlan: Option[String]) {

  /** (tag, jobs, summed job seconds) per tag, in first-seen order; an
    * untagged job files under `other`. */
  def byTag: Seq[(String, Int, Double)] =
    jobs.flatMap(j => (if (j.tags.isEmpty) Seq("other") else j.tags).map(_ -> j))
      .groupBy(_._1).toSeq.sortBy(_._2.head._2.id)
      .map { case (t, js) => (t, js.size, js.map(_._2.seconds).sum) }

  def toJson: String = {
    def s(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val js = jobs.map(j => s"""{"id":${j.id},"tags":${j.tags.map(s).mkString("[", ",", "]")},""" +
      s""""group":${j.group.map(s).getOrElse("null")},"call_site":${s(j.callSite)},""" +
      s""""stages":${j.stages},"tasks":${j.tasks},"start_ms":${j.startMs},"end_ms":${j.endMs}}""")
    f"""{"wall_s":$wallSeconds%.3f,"driver_s":$driverSeconds%.3f,"compiles":$compiles,""" +
      s""""tasks":$tasks,"task_failures":$taskFailures,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_write_records":$shuffleWriteRecords,""" +
      s""""records_read":$recordsRead,"spill_bytes":$spillBytes,"jobs":${js.mkString("[", ",", "]")}}"""
  }
}

object Census {

  /** Runs `body` and returns its result with the census of the Spark work
    * it caused. The listener bus is drained before the listeners register
    * and after `body` returns, so the record holds exactly the jobs the
    * context started meanwhile, from any thread: a closed-loop rule, so
    * nothing else may run jobs on the context at the same time. */
  def during[T](spark: SparkSession)(body: => T): (T, Census) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    BusBridge.drain(sc)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec.sql)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      BusBridge.drain(sc)
      (result, rec.census(compiles, wall, startMs, startMs + (wall * 1e3).toLong))
    } finally {
      sc.removeSparkListener(rec)
      spark.listenerManager.unregister(rec.sql)
    }
  }

  private val SparkTags = Seq("spark-", "broadcast exchange")

  private final class Recorder extends SparkListener {
    private val starts = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    private val ends = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val jobTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private var tasks, failures, shRead, shWrite, shRecords, read, spill = 0L
    private var hot: Option[(Long, QueryExecution)] = None

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts += e
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ends(e.jobId) = e.time }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        jobTasks(j) += 1
        tasks += 1
        if (e.reason != Success) failures += 1
        Option(e.taskMetrics).foreach { m =>
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          shRecords += m.shuffleWriteMetrics.recordsWritten
          read += m.inputMetrics.recordsRead
          spill += m.diskBytesSpilled
        }
      }
    }

    val sql: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Recorder.this.synchronized { if (hot.forall(_._1 < ns)) hot = Some(ns -> qe) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    def census(compiles: Long, wall: Double, startMs: Long, endMs: Long): Census =
      synchronized {
        val jobs = starts.toSeq.map { e =>
          val p = Option(e.properties)
          def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
          Job(e.jobId,
            prop("spark.job.tags").toSeq.flatMap(_.split(","))
              .filter(t => t.nonEmpty && !SparkTags.exists(t.startsWith)),
            prop("spark.jobGroup.id"), e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name),
            e.stageIds.size, jobTasks(e.jobId), e.time, ends.getOrElse(e.jobId, endMs))
        }
        // busy time: the union of the job intervals inside the body's window
        val (busyMs, _) = jobs.map(j => (j.startMs max startMs, j.endMs min endMs))
          .sortBy(_._1).foldLeft((0L, startMs)) { case ((busy, reach), (s, e)) =>
            (busy + ((e - (s max reach)) max 0L), reach max e)
          }
        Census(jobs, tasks, failures, shRead, shWrite, shRecords, read, spill, compiles,
          wall, (wall - busyMs / 1e3) max 0.0, hot.map(_._2.explainString(FormattedMode)))
      }
  }
}
