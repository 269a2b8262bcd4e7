package graft

import java.nio.file.{Files, Paths}

/** Diagnostic main: writes `.explain("formatted")` for the named queries
  * to `plans/<tag>/<query>_<suffix>.txt` — the plan-evidence artifacts the
  * optimization rounds commit (before/after shape diffs: Exchange count,
  * join strategy, PushedFilters/ReadSchema).
  *
  *   SPARK_GRAFT_PLAN_SUFFIX=before sbt "runMain graft.PlanDump q183_label_propagation ..."
  *
  * Queries that materialize their result internally (protocol queries
  * returning a collected/localCheckpointed frame) dump the trivial
  * post-materialization plan; their evidence is job counts
  * ([[DoorProfile]] generic mode) instead — noted per query in
  * OPTIMIZATION_r*.md.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r18")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(tag))
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(tag, s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $tag/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
