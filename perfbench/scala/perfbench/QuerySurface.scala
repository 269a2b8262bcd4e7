package perfbench

import scala.collection.mutable

/** One query from each query object of `SparkEntry.queries`, run in turn
  * over generated tables. The first passes are warm-up: they load and
  * compile the code paths and build the per-dataset indexes the ANN
  * queries memoize, as a long-lived session would have. Timed passes
  * follow until the run's seconds are spent; a step is one whole pass, so
  * every query of the panel moves it. Each result is written as parquet,
  * and the last pass is checked against its DuckDB oracle by the caller. */
final class QuerySurface(ctx: Ctx) {
  import ctx._

  def run(): Result = {
    val checks = new Checks
    val layer = new LayerStats
    val tracer = if (trace) Some(new Tracer(spark).register()) else None
    val data = opt("query-data")
    val out = root.resolve("query-out")
    val queries = graft.SparkEntry.queries

    def runPass(pass: String, spanned: Boolean): Seq[Double] =
      Layers.Panel.map { case (family, name) =>
        checks.op()
        val t0 = System.nanoTime()
        def body(): Unit = queries(name)(spark, data).write.mode("overwrite")
          .parquet(out.resolve(pass).resolve(name).toString)
        try {
          if (spanned) tracer.fold(body())(_.span(s"queries.$family")(body()))
          else body()
        } catch {
          case e: Exception => checks.expect(false, s"$name failed: ${e.toString.take(300)}")
        }
        (System.nanoTime() - t0) / 1e9
      }

    val w0 = System.nanoTime()
    (1 to QuerySurface.WarmPasses).foreach(w => runPass(s"warm$w", spanned = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    val lats = mutable.ArrayBuffer.empty[Double]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (pass > 0) Dirs.delete(out.resolve(s"pass${pass - 1}"))
      val jobs0 = tracer.map { t => t.drain(); t.spans.map(_.census.jobs).sum }.getOrElse(0L)
      val ls = runPass(s"pass$pass", spanned = true)
      tracer.foreach { t =>
        t.drain()
        layer.add("queries.jobs_total", (t.spans.map(_.census.jobs).sum - jobs0).toDouble)
      }
      lats ++= ls
      passTotals += ls.sum
      pass += 1
    }
    val oracle = graft.SparkEntry.oracleSql
    val panelOracle = Layers.Panel.map(_._2).filter(oracle.contains).map(n => n -> oracle(n)).toMap
    java.nio.file.Files.write(out.resolve(s"pass${pass - 1}").resolve("oracle_sql.json"),
      Json.render(panelOracle).getBytes("UTF-8"))
    val genS = opt("gen-s").toDouble
    val metrics =
      if (trace) layer.metrics(tracer.get)
      else EndToEnd(ctx.sessionS + genS + warmS, passTotals.toSeq)
    tracer.foreach(_.unregister())
    val spans = tracer.map(t => Map("spans" -> t.dump)).getOrElse(Map.empty)
    Result(metrics, checks.attempted, checks.failed, checks.errors.toSeq, spans ++ Map(
      "workload" -> "query_surface", "steps" -> lats.size, "passes" -> pass,
      "session_s" -> ctx.sessionS, "gen_s" -> genS, "warmup_s" -> warmS,
      "query_total_s" -> Stats.median(passTotals.toSeq), "pass_s" -> passTotals.toSeq,
      "query_geomean_s" -> Stats.geomean(lats.toSeq),
      "query_s" -> Layers.Panel.map(_._2).zip(lats.takeRight(Layers.Panel.size)).toMap,
      "check_dir" -> out.resolve(s"pass${pass - 1}").toString,
      "fail_ratio" -> checks.failed.toDouble / math.max(1L, checks.attempted)))
  }
}

object QuerySurface {
  /** Pass time halves from the first pass to the second, and the third
    * and fourth are still 7–10% apart. */
  val WarmPasses = 3
}
