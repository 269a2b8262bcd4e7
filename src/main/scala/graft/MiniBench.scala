package graft

/** Ad-hoc subset benchmark: times the named queries (args) best-of-N at
  * SPARK_GRAFT_SF_DIR — the local iteration loop behind Bench. Set
  * SPARK_GRAFT_MB_RUNS (default 2) for re-pinning sessions: 5 runs with
  * the median reported is the ledger's re-pin protocol (BENCHMARKS.md). */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_MB_RUNS", "2").toInt
    // like Bench, the cross-JVM index store stays OFF unless
    // SPARK_GRAFT_ANN_DIR opts in — pins must compute from parquet
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup sweep of the requested queries at sf0.001 so JIT/codegen
    // isn't billed to run 1 (same rationale as Bench's warmup pass)
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      args.foreach { name =>
        try SparkEntry.queries(name)(spark, warmupDir).count()
        catch { case _: Throwable => () }
      }
    spark.sharedState.cacheManager.clearCache()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        t
      }
      val sorted = times.sorted
      // true median: average of the middle pair when the run count is
      // even — the lower-middle element would just repeat the min at the
      // default 2 runs and mislabel a best-of-2 as the re-pin protocol
      val median =
        if (nRuns % 2 == 1) sorted(nRuns / 2)
        else (sorted(nRuns / 2 - 1) + sorted(nRuns / 2)) / 2.0
      println(f"[minibench] $name%-30s min ${sorted.head}%.2f s  median $median%.2f s" +
        f" (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
