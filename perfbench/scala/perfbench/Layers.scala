package perfbench

import scala.collection.mutable

/** The benchmark's metric names, shared with BENCHMARK.json. */
object Layers {
  /** The query objects of `SparkEntry.queries` the query surface runs, in
    * its order, with the query each one contributes: one query per object
    * for ten of the 21, as many as one run's time allows. */
  val Panel: Seq[(String, String)] = Seq(
    "AnalyticQueries" -> "q68_cube",
    "BehaviorQueries" -> "q98_gaps_islands",
    "CoreQueries" -> "q03_revenue_by_customer",
    "CurationQueries" -> "q123_keep_best_dedup",
    "ExtendedQueries" -> "q50_outer_join",
    "FunctionQueries" -> "q121_map_kit",
    "SqlDepthQueries" -> "q112_recursive_cte",
    "TemporalQueries" -> "q64_range_join",
    "TextQueries" -> "q153_decontaminate",
    "VectorQueries" -> "q152_knn_graph")

  val names: Seq[String] = Seq(
    "streaming.sync.s", "streaming.jobs", "streaming.batches", "streaming.trigger.s",
    "streaming.add_batch.s", "streaming.latest_offset.s", "streaming.wal_commit.s",
    "streaming.overhead.s",
    "ingest.parse.s", "ingest.parse.jobs", "ingest.parse.rows", "ingest.parse.corrupt_rows",
    "sync.watermark.s", "sync.watermark.jobs",
    "sync.stage.s", "sync.stage.jobs", "sync.stage.shuffle_mb", "sync.stage.rows_routed",
    "sync.stage.rows_staged", "sync.stage.keep_ratio",
    "sync.commit.s", "sync.commit.jobs", "sync.commit.tasks", "sync.commit.driver_s",
    "sync.commit.files_written", "sync.commit.mb_written", "sync.commit.write_amp",
    "sync.commit.buckets_touched", "sync.compactions", "sync.commit_compacting.s",
    "sync.retain.s", "sync.retain.mb_freed",
    "sync.read.s", "sync.read.files", "sync.read.delta_chain_mean",
    "load.initial.s", "load.initial.jobs", "load.initial.rows",
    "analytics.q1.s", "analytics.q1.jobs", "analytics.q2.s", "analytics.q2.jobs",
    "analytics.q3.s", "analytics.q3.jobs", "analytics.q3.shuffle_mb",
    "analytics.q4.s", "analytics.q4.jobs", "analytics.q4.shuffle_mb") ++
    Panel.flatMap { case (f, _) => Seq(s"queries.$f.s", s"queries.$f.jobs") } ++ Seq(
    "queries.jobs_total", "queries.driver_s",
    "spark.task_failures", "spark.spill_mb",
    "trace.stream_step_s", "trace.decomposed_step_s", "trace.decomposition_delta_s",
    "trace.sync_self_s")
}

/** Per-layer values recorded by the traced run. Most are one value per
  * call and report their mean; `perCall = false` values report their sum. */
final class LayerStats {
  private val perCall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val totals = mutable.Map.empty[String, Double]

  def add(name: String, v: Double, perCall: Boolean = true): Unit =
    if (perCall) this.perCall.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    else totals(name) = totals.getOrElse(name, 0.0) + v

  private def mean(name: String) = perCall.get(name).map(b => Stats.mean(b.toSeq)).getOrElse(0.0)
  private def sum(name: String) = perCall.get(name).map(_.sum).getOrElse(0.0)

  /** Every name in [[Layers.names]]: 0 where the workload does not run
    * the layer. Span figures are means per call. */
  def metrics(t: Tracer): Map[String, Double] = {
    t.drain()
    val out = mutable.LinkedHashMap(Layers.names.map(_ -> 0.0): _*)
    def spanMean(n: String)(f: Span => Double) = {
      val s = t.named(n); if (s.isEmpty) 0.0 else s.map(f).sum / s.size
    }
    def mb(c: Census) = (c.shuffleReadBytes + c.shuffleWriteBytes) / 1e6
    (Layers.Panel.map(p => s"queries.${p._1}") ++ Seq("streaming.sync", "sync.commit_compacting") ++
      Seq("ingest.parse", "sync.watermark", "sync.stage", "sync.commit", "sync.retain",
        "sync.read", "load.initial", "analytics.q1", "analytics.q2", "analytics.q3",
        "analytics.q4")).foreach { n =>
      out(s"$n.s") = spanMean(n)(_.seconds)
      if (out.contains(s"$n.jobs")) out(s"$n.jobs") = spanMean(n)(_.census.jobs.toDouble)
    }
    out("streaming.jobs") = spanMean("streaming.sync")(_.census.jobs.toDouble)
    out("sync.stage.shuffle_mb") = spanMean("sync.stage")(s => mb(s.census))
    out("analytics.q3.shuffle_mb") = spanMean("analytics.q3")(s => mb(s.census))
    out("analytics.q4.shuffle_mb") = spanMean("analytics.q4")(s => mb(s.census))
    val commits = t.named("sync.commit") ++ t.named("sync.commit_compacting")
    out("sync.commit.jobs") =
      if (commits.isEmpty) 0.0 else commits.map(_.census.jobs).sum.toDouble / commits.size
    val queries = Layers.Panel.flatMap(p => t.named(s"queries.${p._1}"))
    out("queries.driver_s") =
      if (queries.isEmpty) 0.0 else queries.map(_.driverSeconds).sum / queries.size
    out("spark.task_failures") = t.spans.map(_.census.taskFailures).sum.toDouble
    out("spark.spill_mb") = t.spans.map(_.census.spillBytes).sum / 1e6
    perCall.keys.filter(out.contains).foreach(k => out(k) = mean(k))
    totals.foreach { case (k, v) => if (out.contains(k)) out(k) = v }
    val routed = sum("sync.stage.rows_routed")
    out("sync.stage.keep_ratio") = if (routed > 0) sum("sync.stage.rows_staged") / routed else 0.0
    val (st, de) = (perCall.get("trace.stream_step_s"), perCall.get("trace.decomposed_step_s"))
    out("trace.stream_step_s") = st.map(b => Stats.median(b.toSeq)).getOrElse(0.0)
    out("trace.decomposed_step_s") = de.map(b => Stats.median(b.toSeq)).getOrElse(0.0)
    if (st.nonEmpty && de.nonEmpty)
      out("trace.decomposition_delta_s") = out("trace.decomposed_step_s") - out("trace.stream_step_s")
    out("trace.sync_self_s") = spanMean("sync")(t.selfSeconds)
    out.toMap
  }
}

/** The end-to-end metrics every workload reports with tracing off. */
object EndToEnd {
  def apply(setupS: Double, steps: Seq[Double]): Map[String, Double] =
    Map("setup_s" -> setupS, "step_p50_s" -> Stats.median(steps))
}
