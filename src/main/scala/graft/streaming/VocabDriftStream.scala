package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Streaming vocabulary-drift monitor — the ingest-side twin of q210 and
  * the fourth terminal shape next to IngestDoorStream's text and span
  * doors (stateful fingerprint and gram indexes + WAL) and
  * QualityGateStream (frozen driver-side artifact, stateless): here the
  * frozen artifact is a persisted TABLE (the vocabulary parquet), not a
  * collected map — the right shape when the artifact itself is
  * vocabulary-sized and must never ride the driver. Each micro-batch
  * left-joins its exploded tokens against the frozen table and emits ONE
  * drift row (token volume, OOV count, permille rate, unfillable-row
  * count) — the standing signal that decides when the tokenizer/LM
  * freeze is stale and the pipeline must re-freeze (q210's batch read,
  * computed continuously).
  *
  * STATELESS like QualityGateStream: the gate never mutates the vocab,
  * so identical input yields identical drift rows and the batchId-guarded
  * sink (staging dir + atomic rename = the commit mark) alone makes
  * re-delivered batches inert. Mirrored contracts:
  *   - ROTATE-TOGETHER: a fresh checkpoint next to a sink that already
  *     holds batch=* rows is refused up front (batchIds restart at 0 and
  *     would silently skip new data);
  *   - EVERY ROW COUNTS: rows the reader could not fill (null doc_id or
  *     text) are counted as n_unfillable in the drift row instead of
  *     silently vanishing from the token statistics.
  *
  * Scale shape: per batch one explode + one token⇄vocab join (the vocab
  * side is a parquet scan, broadcast by AQE while it fits; the shuffle
  * fallback is the correct shape when it doesn't) + a 1-row aggregate.
  * Nothing is proportional to the standing corpus except the frozen
  * table itself, which prices one distinct at freeze time.
  */
object VocabDriftStream {

  /** One corpus pass → the frozen vocabulary table at `vocabDir`.
    * Returns the type count (driver sees ONE long, never the vocab). */
  def freeze(spark: SparkSession, corpus: DataFrame, vocabDir: String): Long = {
    corpus.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .distinct()
      .write.mode("overwrite").parquet(vocabDir)
    spark.read.parquet(vocabDir).count()
  }

  /** Drive a document stream against the frozen vocabulary. Drift rows
    * land under `sinkDir/batch=<id>/` via the staging-dir + atomic-rename
    * commit protocol (see QualityGateStream.run — same crash story). */
  def run(spark: SparkSession, vocabDir: String, stream: DataFrame,
      sinkDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    MonitorSink.start(stream, sinkDir, "drift rows", trigger) {
      (batch, batchId) =>
        val vocab = spark.read.parquet(vocabDir)
          .withColumn("seen", lit(1))
        val unfillable = col("doc_id").isNull || col("text").isNull
        val nBad = batch.filter(unfillable).count()
        batch.filter(!unfillable)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
          .join(vocab, Seq("tok"), "left")
          .agg(count_distinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_tokens"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(lit(batchId).as("batch_id"), col("n_docs"),
            col("n_tokens"), col("n_oov"),
            when(col("n_tokens") > 0,
              expr("(n_oov * 1000) DIV n_tokens")).otherwise(lit(0L))
              .as("oov_permille"),
            lit(nBad).as("n_unfillable"))
          .coalesce(1)
    }
  }
}
