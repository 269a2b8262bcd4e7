package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sync.BucketedTableStore

/** ExactSubstr-on-ingest: the sequential, persisted-index form of
  * [[TextOps.incrementalDuplicatedSpanStats]] — the gram-fingerprint
  * index that operator's scaladoc promises is here an actual
  * [[BucketedTableStore]] table that grows with admissions, following
  * [[DedupIngest]]'s protocol exactly: the corpus is never rescanned,
  * batch k's spans see every admission from batches 1..k-1, and the
  * index update is a merge-on-read delta commit (O(batch grams), not
  * O(corpus)).
  *
  * Per batch:
  *   - PROBE: the batch's distinct gram fps touch at most `nBuckets`
  *     store buckets (ids collected — a bounded int set, never rows);
  *     the semi-join reads only those buckets' files.
  *   - DECIDE: a batch gram is duplicated when its fp is indexed OR
  *     occurs in ≥2 distinct docs of THIS batch; flagged occurrences
  *     merge into maximal spans ([[TextOps.mergeSpans]]) and roll up to
  *     per-doc stats with the integer-exact `admitted` verdict
  *     (dup_tokens·5 < total_tokens, i.e. <20% duplicated). Decisions
  *     are frozen at decide time (bounded: one row per batch doc), so a
  *     later merge/compaction/vacuum cannot perturb them — same
  *     vacuum-race contract DedupIngest pins.
  *   - UPDATE: admitted docs' gram fps delta-merge into the index;
  *     rejected docs leave no trace.
  *
  * The fp is [[TextOps.gramOccurrences]]' xxhash64 — it never leaves the
  * engine, so the oracle replays the same run with md5 fps (only fp
  * EQUALITY matters; the q161 collision argument applies).
  */
object SpanIngest {

  /** Positioned gram occurrences of a batch — the frame [[decide]] and
    * [[applyAdmissions]] consume; exposed so the streaming wrapper can
    * persist it across both calls. */
  def occurrences(docs: DataFrame, n: Int): DataFrame =
    TextOps.gramOccurrences(docs, n)

  /** Distinct gram fingerprints of a frame (no positions — the index
    * answers membership only). */
  private def gramFps(docs: DataFrame, n: Int): DataFrame =
    TextOps.gramOccurrences(docs, n, spread = false)
      .select(col("fp")).distinct()

  /** Seed the index table from the initial corpus (may be empty — the
    * keyed table must exist before the first probe). */
  def seedIndex(store: BucketedTableStore, corpus: DataFrame, n: Int,
      ts: Timestamp): Unit =
    store.writeAll("gfp", gramFps(corpus, n)
      .withColumn("syncTimestamp", lit(ts)), "fp")

  /** Span stats + admission for ONE batch against the index AS OF now —
    * pure read, no index mutation. `occ` must be the batch's positioned
    * gram occurrences (passed in so the caller persists it across this
    * and the index update). Returns one MATERIALIZED row per batch doc:
    * (doc_id, batch_id, n_spans, dup_tokens, total_tokens, admitted).
    *
    * The duplicate-fp set is ONE aggregation plus a membership flag
    * (r18, the q165 constant diet): `nd` — the within-batch distinct-doc
    * fan-out — and the standing-index hit are decided on the same
    * fp-partitioned frame, with the index joined LEFT (readBuckets
    * resolves newest-per-key, so the join cannot fan out). The r17 shape
    * scanned and shuffled the occurrence frame separately for the
    * distinct probe fps, the nd aggregate, and the dup join, then
    * union-distinct'd two fp sets on top — at toy SFs the door is
    * job-floor-bound and those were its two most expendable shuffles; at
    * 100 TB they are two full passes over the batch's gram occurrences
    * that the fused plan never takes. No touched-bucket pre-collect
    * ([[DedupIngest]]'s round-15 rationale): gram fps hash into all
    * store buckets, so bucket pruning buys nothing here. */
  def decide(store: BucketedTableStore, batch: DataFrame, occ: DataFrame,
      n: Int, batchId: Long): DataFrame = {
    val fpStats = occ.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    // NOTE (r19, measured and kept as-is): a broadcast-probe variant —
    // index left_semi broadcast(batch fps), hits broadcast back for the
    // flag — removes the index exchange this left join pays per batch
    // (the guide-§3.2 shape a 100 TB index wants), but measured 4.04 →
    // 4.76 s (and 6.28 s with fpStats persisted) on 5-run medians at
    // sf0.1: two driver-blocking broadcast builds per batch cost more
    // than shuffling the toy-sized index. OPTIMIZATION_r19.md carries
    // the full A/B; the deployment-scale flip stays documented here
    // rather than shipped against the measurement.
    val dupFps = (store.readBuckets("gfp", None) match {
      case Some(idx) if idx.columns.contains("fp") =>
        fpStats.join(idx.select(col("fp"), lit(1).as("idx_hit")),
            Seq("fp"), "left")
          .filter(col("nd") >= 2 || col("idx_hit").isNotNull)
      case _ => fpStats.filter(col("nd") >= 2)
    }).select(col("fp"))
    val perDoc = TextOps.spanRollup(
      TextOps.mergeSpans(TextOps.toHits(occ.join(dupFps, Seq("fp")), n)))
    Materialize.thenRelease(
      batch.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("total_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), lit(batchId).cast("int").as("batch_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          col("total_tokens"))
        .withColumn("admitted",
          (col("dup_tokens") * 5 < col("total_tokens")).cast("int")))
  }

  /** Merge the admitted docs' gram fps into the index (delta commit +
    * bounded auto-compaction; idempotent under re-application — same
    * upsert resolution argument as [[DedupIngest.applyAdmissions]]). */
  def applyAdmissions(store: BucketedTableStore, occ: DataFrame,
      decisions: DataFrame, ts: Timestamp): Unit =
    store.applyMerge("gfp",
      occ.join(decisions.filter(col("admitted") === 1).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("fp")).distinct()
        .withColumn("eventName", lit("INSERT")),
      "fp", ts)

  /** This door under the shared [[IngestDoor]] contract — the probe
    * frame is the positioned gram [[occurrences]], decisions are
    * (doc_id, batch_id, n_spans, dup_tokens, total_tokens, admitted). */
  def door(n: Int): IngestDoor = new IngestDoor {
    import org.apache.spark.sql.types._
    val idCol = "doc_id"
    val indexTable = "gfp"
    val indexKey = "fp"
    val decisionSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("batch_id", IntegerType),
      StructField("n_spans", LongType), StructField("dup_tokens", LongType),
      StructField("total_tokens", LongType),
      StructField("admitted", IntegerType)))
    val arrivalSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    val arrivalFormat = "json"
    val requiredCols = Seq("doc_id", "text")
    val queryName = "span-ingest"
    def probeFrame(spark: SparkSession, batch: DataFrame) =
      occurrences(batch, n)
    def seedIndex(spark: SparkSession, store: BucketedTableStore,
        corpus: DataFrame, ts: Timestamp) =
      SpanIngest.seedIndex(store, corpus, n, ts)
    def decide(spark: SparkSession, store: BucketedTableStore,
        batch: DataFrame, probe: DataFrame, batchId: Long) =
      SpanIngest.decide(store, batch, probe, n, batchId)
    def applyAdmissions(store: BucketedTableStore, probe: DataFrame,
        decisions: DataFrame, ts: Timestamp) =
      SpanIngest.applyAdmissions(store, probe, decisions, ts)
  }
}
