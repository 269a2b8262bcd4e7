package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Spark work attributed to one span: filled from listener events. */
final class Census {
  var jobs, stages, tasks, taskFailures = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var recordsWritten, bytesWritten = 0L
  /** (start, end) epoch-ms of each job, to split span time into job and
    * driver-only time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One recorded span. `group` is the id shared by every span of one sync,
  * report or query. */
final case class Span(id: Long, name: String, parent: Long, group: Long,
    startNs: Long, endNs: Long, census: Census, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Span time during which no job of this span ran. */
  def driverSeconds: Double = {
    val iv = census.jobIntervals.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    math.max(0.0, seconds - busy / 1e3)
  }
}

/** Span recorder for the traced run. Spans live in memory until the run
  * ends. Spark jobs are keyed to the innermost open span through the
  * `perfbench.span` local property, set on the calling thread around each
  * call; jobs submitted from threads that do not carry it (stream
  * execution, parallel entity merges) fall to the innermost open span,
  * which is unambiguous because the workloads are closed loops. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val Prop = "perfbench.span"
  private var nextId = 0L
  private val open = mutable.Stack.empty[(Long, String, Long, Long, Long)]
  private val censuses = mutable.Map.empty[Long, Census]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Per-trigger durations from the stream's progress reports. */
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Tracer.this.synchronized {
        progress += (d + ("numInputRows" -> e.progress.numInputRows))
      }
    }
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
    this
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Run `body` inside a span named `name`; nested calls become children
    * and share the outermost span's group id. */
  def span[T](name: String)(body: => T): T = {
    val (id, parent, group) = synchronized {
      nextId += 1
      val p = open.headOption
      val g = p.map(_._3).getOrElse(nextId)
      open.push((nextId, name, g, System.nanoTime(), System.currentTimeMillis()))
      censuses(nextId) = new Census
      (nextId, p.map(_._1).getOrElse(0L), g)
    }
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    try body
    finally {
      sc.setLocalProperty(Prop, saved)
      drain()
      synchronized {
        val (_, n, g, s, sMs) = open.pop()
        spans += Span(id, n, parent, g, s, System.nanoTime(), censuses(id),
          sMs, System.currentTimeMillis())
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs(e.jobId) = e.time
    val fromProp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)
    fromProp.orElse(open.headOption.map(_._1)).foreach { id =>
      jobSpan(e.jobId) = id
      e.stageIds.foreach(stageSpan(_) = id)
      censuses.get(id).foreach { c => c.jobs += 1; c.stages += e.stageIds.size }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).flatMap(censuses.get).foreach { c =>
      c.jobIntervals += ((jobStartMs.getOrElse(e.jobId, e.time), e.time))
    }
    jobStartMs.remove(e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).flatMap(censuses.get).foreach { c =>
      c.tasks += 1
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) c.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var cs = -1L; var ce = -1L
    kids.foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
    }
    covered += ce - cs
    s.seconds - covered / 1e9
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Every span as [id, name, parent, group, start s, end s, jobs], times
    * relative to the first span. */
  def dump: Seq[Seq[Any]] = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.sortBy(_.startNs).map(s => Seq(s.id, s.name, s.parent, s.group,
      (s.startNs - t0) / 1e9, (s.endNs - t0) / 1e9, s.census.jobs)).toSeq
  }
}
