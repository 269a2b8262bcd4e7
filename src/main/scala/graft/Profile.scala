package graft

import java.nio.file.{Files, Paths}

import graft.obs.Census

/** Profiling main: times the named queries and prints where the last
  * run's time went.
  *
  *   SPARK_GRAFT_MB_RUNS=5 sbt "runMain graft.Profile q23_cdc_pipeline_e2e q160_semantic_dedup_ingest"
  *
  * A warm-up sweep of the named queries at sf0.001 keeps JIT and codegen
  * out of run 1. Then each query runs `SPARK_GRAFT_MB_RUNS` times
  * (default 2) at `SPARK_GRAFT_SF_DIR`, with the cache cleared between
  * runs, and prints its min and median; 5 runs with the median read is
  * the ledger's re-pin protocol (BENCHMARKS.md). For the last run it
  * prints the [[Census]]: totals, then jobs and job seconds per job tag
  * (the ingest doors' legs are the tags `door.derive`, `door.decide` and
  * `door.apply`), then one JSON line with the per-job list. With
  * `SPARK_GRAFT_PLAN_DIR` set it writes the census's hot plan to
  * `<dir>/<query>.txt`. `SPARK_GRAFT_CPUS` (default 32) sizes the local
  * master.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_MB_RUNS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    // like Bench, the cross-JVM index store stays OFF unless
    // SPARK_GRAFT_ANN_DIR opts in — pins must compute from parquet
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
      args.foreach { name =>
        try SparkEntry.queries(name)(spark, warmupDir).count()
        catch { case _: Throwable => () }
      }
    spark.sharedState.cacheManager.clearCache()
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to nRuns).map { _ =>
        val (_, c) = Census.during(spark)(fn(spark, sfDir).count())
        spark.sharedState.cacheManager.clearCache()
        c
      }
      val times = runs.map(_.wallSeconds)
      val sorted = times.sorted
      // true median: the mean of the middle pair at an even run count
      val median =
        if (nRuns % 2 == 1) sorted(nRuns / 2)
        else (sorted(nRuns / 2 - 1) + sorted(nRuns / 2)) / 2.0
      println(f"[profile] $name%-30s min ${sorted.head}%.2f s  median $median%.2f s" +
        f" (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
      val c = runs.last
      println(f"[profile]   jobs=${c.jobs.size} tasks=${c.tasks} driver ${c.driverSeconds}%.2f s" +
        f"  compiles=${c.compiles}  shuffle r/w ${c.shuffleReadBytes}/${c.shuffleWriteBytes} B" +
        f"  spill ${c.spillBytes} B")
      c.byTag.foreach { case (tag, n, s) =>
        println(f"[profile]   $tag%-12s jobs=$n%3d  job time $s%6.2f s")
      }
      println(s"""{"query":"$name","census":${c.toJson}}""")
      for (d <- planDir; plan <- c.hotPlan) {
        Files.writeString(Paths.get(d, s"$name.txt"), plan)
        println(s"[profile] wrote $d/$name.txt")
      }
    }
    spark.stop()
  }
}
