package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sync.Merge

/** Pipeline-level benchmark (BASELINE.md substitute metrics): rows/sec
  * through the watermark-dedup-merge at batch sizes 10², 10⁴, 10⁶, plus
  * end-to-end syncLag through the streaming path.
  *
  * Change batches are generated distributed (spark.range → envelope
  * columns), not via driver-side JSON, so the measurement is the merge
  * itself: route → watermark filter → dedup window → anti-join → union →
  * parquet snapshot write.
  */
object PipeBench {

  private def syntheticExtract(spark: SparkSession, n: Long, startMs: Long): DataFrame =
    spark.range(n).select(
      lit(null).cast("timestamp").as("approximatearrivaltimestamp"),
      concat(lit("M_id"), col("id")).as("partitionkey"),
      lit("shard-0").as("shardid"),
      format_string("%020d", col("id")).as("sequencenumber"),
      concat(lit("ev"), col("id")).as("eventID"),
      lit("us-east-1").as("awsRegion"),
      lit("INSERT").as("eventName"),
      lit(null).cast("string").as("userIdentity"),
      lit("bench").as("tableName"),
      lit("aws:dynamodb").as("eventSource"),
      concat(lit("M_id"), col("id")).as("pk"),
      concat(lit("name"), pmod(col("id"), lit(1000))).as("sk"),
      struct(
        (lit(startMs) + col("id")).as("ApproximateCreationDateTime"),
        struct(struct(concat(lit("M_id"), col("id")).as("S"), lit(null).cast("string").as("N")).as("pk"),
               struct(concat(lit("name"), col("id")).as("S"), lit(null).cast("string").as("N")).as("sk")).as("Keys"),
        map(lit("memberId"), struct(concat(lit("id"), col("id")).as("S"), lit(null).cast("string").as("N"))).as("NewImage"),
        map(lit("x"), struct(lit(null).cast("string").as("S"), lit(null).cast("string").as("N"))).as("OldImage")
      ).as("eventData"))

  private def syntheticTarget(spark: SparkSession, n: Long, tsMs: Long): DataFrame =
    spark.range(n).select(
      concat(lit("old"), col("id")).as("memberId"),
      concat(lit("name"), col("id")).as("memberName"),
      lit(new Timestamp(tsMs)).as("approximateUpdateTimestamp"),
      lit(new Timestamp(tsMs)).as("syncTimestamp"))

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = 1660000000000L
    val outRoot = java.nio.file.Files.createTempDirectory("pipebench").toString
    val targetN = 100000L
    val target = syntheticTarget(spark, targetN, t0 - 1000)
    target.write.mode("overwrite").parquet(s"$outRoot/target")
    val targetDf = spark.read.parquet(s"$outRoot/target")

    // warmup
    Merge.syncEntity(targetDf, syntheticExtract(spark, 100, t0), Merge.members,
      new Timestamp(t0 + 60000)).get.write.mode("overwrite").parquet(s"$outRoot/warm")

    val results = Seq(100L, 10000L, 1000000L).map { batch =>
      val extract = syntheticExtract(spark, batch, t0)
      val start = System.nanoTime()
      Merge.syncEntity(targetDf, extract, Merge.members, new Timestamp(t0 + 60000))
        .get.write.mode("overwrite").parquet(s"$outRoot/out$batch")
      val sec = (System.nanoTime() - start) / 1e9
      (batch, sec, batch / sec)
    }
    val json = results.map { case (b, s, rps) =>
      f"""{"batch":$b,"sec":$s%.3f,"rows_per_sec":$rps%.0f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"merge_throughput","target_rows":$targetN,"batches":$json}""")

    // Partition-level merge: 10M-row target, CDC-sized batches — the
    // bucketed store only reads/rewrites the key-buckets a batch touches,
    // so its cost tracks touched-fraction × table, not the table. A batch
    // touching most buckets degenerates to a (small-file-penalized) full
    // rewrite — locally visible at batch=1000; at production bucket sizes
    // (~row groups) the bucketed path is strictly less IO.
    val bigN = 10000000L
    val bstoreRoot = java.nio.file.Files.createTempDirectory("pipebench-b").toString
    val bstore = new graft.sync.BucketedTableStore(spark, bstoreRoot, nBuckets = 256)
    bstore.writeAll("member", syntheticTarget(spark, bigN, t0 - 1000), "memberId")
    // warmup
    bstore.merge("member", syntheticStage(spark, 100, t0), "memberId",
      new Timestamp(t0 + 60000))
    val bres = Seq(16L, 1000L).map { batch =>
      val stage = syntheticStage(spark, batch, t0)
      val start = System.nanoTime()
      bstore.merge("member", stage, "memberId", new Timestamp(t0 + 60000))
      val sec = (System.nanoTime() - start) / 1e9
      f"""{"batch":$batch,"sec":$sec%.3f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"bucketed_merge","target_rows":$bigN,"n_buckets":256,"batches":$bres}""")

    // Merge-on-read on the same 10M-row bucketed target: a delta commit
    // appends one small table-level delta dir and never reads the
    // target, so its cost is O(batch) — flat in table size where the
    // copy-on-write merge above pays touched-bucket bytes. compact()
    // afterwards pays the rewrite ONCE for the accumulated chains (the
    // amortization knob autoCompactAfter turns).
    val dres = Seq(16L, 1000L).map { batch =>
      val stage = syntheticStage(spark, batch, t0)
      val start = System.nanoTime()
      bstore.mergeDelta("member", stage, "memberId", new Timestamp(t0 + 60000))
      val sec = (System.nanoTime() - start) / 1e9
      f"""{"batch":$batch,"sec":$sec%.3f}"""
    }.mkString("[", ",", "]")
    val cstart = System.nanoTime()
    val compacted = bstore.compact("member", minDeltas = 1)
    val csec = (System.nanoTime() - cstart) / 1e9
    println(s"""{"metric":"delta_merge","target_rows":$bigN,"n_buckets":256,"batches":$dres,"compact_buckets":$compacted,"compact_sec":${f"$csec%.3f"}}""")

    // Same 10M-row target, whole-table rewrite (one bucket's protocol): the
    // baseline the bucketed store's touched-fraction cost compares against.
    syntheticTarget(spark, bigN, t0 - 1000)
      .write.mode("overwrite").parquet(s"$outRoot/target1m")
    val target1m = spark.read.parquet(s"$outRoot/target1m")
    val fres = Seq(16L, 1000L).map { batch =>
      val stage = syntheticStage(spark, batch, t0)
      val start = System.nanoTime()
      val kept = target1m.join(stage.select(col("memberId")), Seq("memberId"), "left_anti")
      val inserts = stage.filter(col("eventName") =!= "REMOVE").drop("eventName")
        .withColumn("syncTimestamp", lit(new Timestamp(t0 + 60000)))
        .select(target1m.columns.map(col).toIndexedSeq: _*)
      kept.unionByName(inserts)
        .write.mode("overwrite").parquet(s"$outRoot/full$batch")
      val sec = (System.nanoTime() - start) / 1e9
      f"""{"batch":$batch,"sec":$sec%.3f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"full_rewrite_merge","target_rows":$bigN,"batches":$fres}""")
    spark.stop()
  }

  /** Stage frame in target shape (what Merge.stageChanges would emit). */
  private def syntheticStage(spark: SparkSession, n: Long, startMs: Long) =
    spark.range(n).select(
      concat(lit("old"), col("id")).as("memberId"), // hit existing keys
      concat(lit("newname"), col("id")).as("memberName"),
      lit(new Timestamp(startMs + 1000)).as("approximateUpdateTimestamp"),
      lit("MODIFY").as("eventName"))
}
