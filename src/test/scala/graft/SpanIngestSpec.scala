package graft

import org.apache.spark.sql.functions._

import graft.operators.SpanIngest

/** Sequential semantics of ExactSubstr-on-ingest: the persisted gram
  * index must make batch k's spans see (only) the corpus plus batches
  * 1..k-1's ADMITTED docs — rejected content leaves no trace.
  */
class SpanIngestSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, k: Int): Seq[String] =
    (1 to k).map(i => s"$prefix$i")

  test("admitted grams guard the next batch; rejected grams do not") {
    val boiler = toks("corp", 10)  // in the seeded corpus
    val newRunA = toks("admit", 9) // arrives in batch 1 inside an ADMITTED doc
    val newRunB = toks("rejct", 9) // arrives in batch 1 inside a REJECTED doc
    val corpus = Seq((1L, (toks("c", 30) ++ boiler).mkString(" ")))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      // 10 of 50 tokens duplicated (corpus boiler) = exactly 20% → NOT
      // admitted (verdict is strict <20%): its newRunB must NOT guard b2
      (10L, (newRunB ++ boiler ++ toks("x", 31)).mkString(" ")),
      // clean doc carrying newRunA → admitted, guards b2
      (11L, (newRunA ++ toks("y", 41)).mkString(" ")))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, (newRunA ++ toks("p", 41)).mkString(" ")), // flagged via admission
      (21L, (newRunB ++ toks("q", 41)).mkString(" ")), // clean: 10's doc was rejected
      (22L, (boiler ++ toks("r", 40)).mkString(" ")),  // flagged via corpus seed
      (23L, toks("s", 5).mkString(" ")))               // shorter than n: zeros, admitted
      .toDF("doc_id", "text")

    val root = java.nio.file.Files.createTempDirectory("graft-spanspec").toString
    val out =
      try SpanIngest.door(8).ingestAll(spark, root, corpus,
          Seq(batch1, batch2), nBuckets = 16)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))
        .toMap
      finally graft.sync.TableStore.deleteRecursively(
        java.nio.file.Paths.get(root))

    assert(out(10L) == ((1, 1L, 10L, 50L, 0)), s"boundary doc: ${out(10L)}")
    assert(out(11L) == ((1, 0L, 0L, 50L, 1)))
    assert(out(20L) == ((2, 1L, 9L, 50L, 1)), s"admitted-run dup: ${out(20L)}")
    assert(out(21L) == ((2, 0L, 0L, 50L, 1)),
      s"rejected batch-1 content must leave no trace in the index: ${out(21L)}")
    assert(out(22L) == ((2, 1L, 10L, 50L, 0)), s"corpus-seed dup: ${out(22L)}")
    assert(out(23L) == ((2, 0L, 0L, 5L, 1)), "short doc: no grams, admitted")
  }
}
