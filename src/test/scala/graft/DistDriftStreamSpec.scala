package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.DistDriftStream

/** Continuous KS distribution-drift monitor: exact-integer verdict rows
  * per batch against a frozen reference histogram, with the same
  * batchId-guarded sink, rotate-together refusal and count-every-row
  * contracts as the sibling stateless monitors. */
class DistDriftStreamSpec extends SparkSpec {

  private def docsDf(lens: Seq[Long]) = {
    import spark.implicits._
    lens.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("doc_id", "n_chars")
  }

  /** Write one batch as a single parquet FILE at a fixed path (the
    * checkpoint's file log records paths, so replay-with-poisoned-input
    * needs the overwrite to land at the SAME name). */
  private def writeBatchFile(df: org.apache.spark.sql.DataFrame,
      target: String): Unit = {
    val tmp = tmpDir("dd-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    Files.move(part, Paths.get(target),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.sync.LocalFs.deleteRecursively(Paths.get(tmp))
  }

  test("hand-traced verdicts; empty-marker batches; replay inert") {
    val inDir = tmpDir("dd-in")
    val sink = tmpDir("dd-sink")
    val ref = DistDriftStream.freezeReference(
      docsDf(Seq(100L, 100L, 100L, 100L, 100L)))
    // b0: identical shape — ECDFs coincide, ks_num = 0, no drift
    writeBatchFile(docsDf(Seq(100L, 100L, 100L, 100L, 100L)),
      s"$inDir/b0.parquet")
    // b1: fully separated (every doc longer than every reference doc,
    // one length-null row that must be COUNTED, not dropped) —
    // at len=100 cum_b=0, cum_r=5 → ks_num = |0·5 − 5·5| = 25 = n_b·n_r
    writeBatchFile(docsDf(Seq(200L, 200L, 200L, 200L, 200L))
      .unionByName(spark.sql(
        "SELECT CAST(99 AS LONG) doc_id, CAST(NULL AS LONG) n_chars")),
      s"$inDir/b1.parquet")
    // b2: nothing fillable — publishes the n_batch=0 sentinel row (NULL
    // KS fields) so n_unfillable=1 still lands; no bogus KS statistic
    writeBatchFile(docsDf(Seq.empty)
      .unionByName(spark.sql(
        "SELECT CAST(98 AS LONG) doc_id, CAST(NULL AS LONG) n_chars")),
      s"$inDir/b2.parquet")

    def start(): Unit = DistDriftStream.run(spark,
      spark.readStream.schema("doc_id LONG, n_chars LONG")
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      ref, sink).awaitTermination()
    start()

    def rows(): Set[(Long, Option[Long], Option[Long], Option[Int], Long)] =
      spark.read.parquet(s"$sink/batch=*").collect().map { r =>
        def opt[T](n: String): Option[T] =
          if (r.isNullAt(r.fieldIndex(n))) None else Some(r.getAs[T](n))
        (r.getAs[Long]("n_batch"), opt[Long]("n_ref"),
          opt[Long]("ks_num"), opt[Int]("drifted"),
          r.getAs[Long]("n_unfillable"))
      }.toSet
    val v = rows()
    assert(v == Set(
      (5L, Some(5L), Some(0L), Some(0), 0L),
      (5L, Some(5L), Some(25L), Some(1), 1L),
      (0L, None, None, None, 1L)), s"verdict rows: $v")
    val batchDirs = new java.io.File(sink).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batchDirs == Set("batch=0", "batch=1", "batch=2"),
      s"dirs: $batchDirs")

    // replay: drop the last commit mark and poison the input — the
    // batchId guard must leave the committed verdict rows untouched
    Files.delete(Paths.get(s"$sink/_checkpoint/commits/2"))
    Files.deleteIfExists(Paths.get(s"$sink/_checkpoint/commits/.2.crc"))
    writeBatchFile(docsDf(Seq(999L)), s"$inDir/b2.parquet")
    start()
    assert(rows() == v, "re-delivered batch must not change verdict rows")
  }

  test("rotate-together: fresh checkpoint next to a used sink is refused") {
    val sink = tmpDir("dd-rot-sink")
    Files.createDirectories(Paths.get(s"$sink/batch=0"))
    val ex = intercept[IllegalArgumentException] {
      DistDriftStream.run(spark,
        spark.readStream.schema("doc_id LONG, n_chars LONG")
          .parquet(tmpDir("dd-rot-in")),
        DistDriftStream.freezeReference(docsDf(Seq(1L))), sink)
    }
    assert(ex.getMessage.contains("rotate"), ex.getMessage)
  }

  test("q239 parity: the stream's verdict equals the batch monitor's row") {
    // same reference slice (doc_id % 10 == 0), same arriving slice
    // (batch 1 — below q239's injection threshold, so both sides see
    // the raw lengths): the integer rational must agree exactly
    val dir = "/root/testdata/sf0.001"
    val docs = graft.tables.Tables.documents(spark, dir)
    val ref = DistDriftStream.freezeReference(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0))
    val got = DistDriftStream.ksFrame(spark,
      docs.filter(pmod(col("doc_id"), lit(10)) === 1), ref, 1L, 0L)
      .select("n_batch", "n_ref", "ks_num", "drifted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    val want = graft.queries.StatsQueries.q239DistDrift(spark, dir)
      .filter(col("batch_id") === 1L)
      .select("n_batch", "n_ref", "ks_num", "drifted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    assert(got == want && got.nonEmpty, s"stream: $got batch: $want")
  }
}
