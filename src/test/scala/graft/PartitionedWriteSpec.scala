package graft

import org.apache.spark.sql.functions._

/** Partitioned-write + partition-pruning evidence: the at-rest layout a
  * 100 TB events table needs. Writing partitioned by day means a day
  * filter prunes directories before any IO (PartitionFilters in the scan),
  * the complement of the SORTKEY row-group story in the store's sorted writes.
  */
class PartitionedWriteSpec extends SparkSpec {
  import spark.implicits._

  test("day-partitioned write prunes partitions on read") {
    val out = tmpDir("events-partitioned")
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date($"ts").cast("string"))
      .drop("ts_ns") // long nanos column is an implementation detail
      .write.mode("overwrite").partitionBy("day").parquet(out)

    val days = spark.read.parquet(out).select($"day").distinct().count()
    assert(days > 5, s"expected multiple day partitions, got $days")

    val filtered = spark.read.parquet(out).filter($"day" === "2024-01-03")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"day filter must prune partitions, plan was:\n${plan.take(500)}")
    // and the filter doesn't appear as a data filter on row contents
    assert(filtered.count() > 0)
    assert(filtered.select($"day").distinct().count() == 1)
  }
}
