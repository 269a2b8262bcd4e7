package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sync.BucketedTableStore

/** Dedup-on-ingest: admit/reject each arriving batch against a PERSISTED
  * fingerprint index that grows with the admissions — the sequential form
  * of q92's one-shot batch-vs-corpus screen (TextQueries.scala), and the
  * shape a 100 TB training-corpus ingest actually runs: the corpus is
  * never rescanned, batch k sees every admission from batches 1..k-1, and
  * the index update is a merge-on-read delta commit (O(batch), not
  * O(corpus)).
  *
  * ONE keyed [[BucketedTableStore]] table (`fp`) holds both fingerprint
  * kinds, disambiguated by prefix — `"e:" + md5(text)` for exact content,
  * `"b:" + band + ":" + bucket` for MinHash LSH band buckets
  * ([[TextOps.lshBands]] machinery). A single table means one probe, one
  * delta commit, and one manifest CAS per batch instead of two of each;
  * the kind survives in the key so one semi-join answers both questions.
  *
  * Scale shape, per batch:
  *   - PROBE: the batch's fingerprints touch at most `nBuckets` store
  *     buckets; their ids (a bounded set of ints — collected, but never
  *     rows) prune the index read to the touched buckets' files. The
  *     semi-join shuffles batch fingerprints and the pruned slice only —
  *     index size never enters the probe cost.
  *   - DECIDE: a doc is an exact dup if its `e:` fingerprint is indexed,
  *     a near dup if ANY of its `b:` fingerprints is (same banding
  *     threshold as q34). Decisions within one batch are taken against
  *     the index AS OF the batch start (snapshot semantics): two
  *     identical new docs in the same batch are both admitted —
  *     intra-batch dedup is a separate concern
  *     ([[TextOps.exactDupGroups]]) with its own keep-first rule.
  *   - UPDATE: admitted docs' fingerprints delta-merge into the table
  *     ([[BucketedTableStore.mergeDelta]]) — one small delta dir per
  *     batch, its rows tagged and sorted by bucket, no index bytes read
  *     or rewritten; `autoCompactAfter`
  *     bounds the read-side chain length. Rejected docs leave NO trace:
  *     only admitted content guards future batches.
  *
  * Determinism: md5-based hashing end to end, so an oracle replays the
  * whole sequential run (index growth included) in SQL.
  */
object DedupIngest {

  /** Exact-content fingerprints: (doc_id, h) with h = md5 of the text. */
  def exactFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))

  /** LSH band fingerprints: (doc_id, bb) with bb = "band:bucket". Docs
    * shorter than `shingleN` tokens have no shingles and thus no rows —
    * they can never be near-dups (matches the minhash oracle's
    * `len(t) >= n` guard). */
  def bandFingerprints(docs: DataFrame, shingleN: Int, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    TextOps.lshBands(
        TextOps.minhashSignatures(docs, shingleN, numHashes),
        numHashes, rowsPerBand)
      .select(col("doc_id"),
        concat(col("band").cast("string"), lit(":"), col("bucket")).as("bb"))

  /** Both kinds as one keyed frame: (doc_id, fp), fp prefixed `e:`/`b:`. */
  def fingerprints(docs: DataFrame, shingleN: Int, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    exactFingerprints(docs)
      .select(col("doc_id"), concat(lit("e:"), col("h")).as("fp"))
      .unionByName(
        bandFingerprints(docs, shingleN, numHashes, rowsPerBand)
          .select(col("doc_id"), concat(lit("b:"), col("bb")).as("fp")))

  /** Admit/reject decisions for ONE batch against the index AS OF now —
    * pure read, no index mutation. `fps` must be [[fingerprints]] of
    * `batch` (passed in so the caller can persist it across this and
    * [[applyAdmissions]]). Returns
    * (doc_id, batch_id, exact_dup, near_dup, admitted).
    *
    * The result is MATERIALIZED at call time (bounded: one row per batch
    * doc) and lineage-free: the probe plan reads the current manifest's
    * file paths, and a merge + compaction + [[BucketedTableStore.vacuum]]
    * racing a still-lazy plan would delete those files out from under it —
    * at best a FileNotFound task failure, at worst (with
    * `spark.sql.files.ignoreMissingFiles=true`) silently missing index
    * hits, i.e. ADMITTING duplicates. Freezing here makes the decision
    * frame valid no matter what happens to the store afterwards
    * (DedupIngestSpec pins the vacuum race). */
  def decide(store: BucketedTableStore, batch: DataFrame, fps: DataFrame,
      batchId: Long): DataFrame =
    // no touched-bucket pre-collect (round 15): any batch beyond a few
    // dozen fingerprints hashes into every one of the 16 store buckets,
    // so the former distinct-collect was one Spark action per batch
    // that pruned nothing — decideAgainst's left_semi IS the filter;
    // point probes keep [[BucketedTableStore.lookup]]'s routing
    decideAgainst(
      store.readBuckets("fp", None).filter(_.columns.contains("fp")),
      fps, batchId)

  /** [[decide]] against an EXPLICIT index frame — the verdict logic
    * shared by the single-table store path and the generational layout
    * ([[graft.sync.GenerationalStore]], q244), so the two retention
    * strategies can never drift on what a duplicate IS. */
  def decideAgainst(idx: Option[DataFrame], fps: DataFrame,
      batchId: Long): DataFrame = {
    // ONE fp-keyed left join marks each batch fingerprint as indexed or
    // not, then ONE doc_id aggregation folds the marks into the verdict
    // flags — every doc carries at least its exact-hash fp, so the
    // aggregation's key set IS the batch's id set (the former shape paid
    // two more shuffles here: a left_semi for the hits plus a
    // distinct + re-join to recover the no-hit docs). A duplicated index
    // key (the generational layout's multi-generation admissions) only
    // duplicates a mark; max() is multiplicity-blind.
    val marked = idx match {
      case Some(i) =>
        fps.join(i.select(col("fp"), lit(1).as("_hit")), Seq("fp"), "left")
      case None => fps.withColumn("_hit", lit(null).cast("int"))
    }
    Materialize.thenRelease(
      marked.groupBy(col("doc_id")).agg(
          max(when(col("_hit").isNotNull &&
            substring(col("fp"), 1, 2) === "e:", 1).otherwise(0)).as("e"),
          max(when(col("_hit").isNotNull &&
            substring(col("fp"), 1, 2) === "b:", 1).otherwise(0)).as("nd"))
        .select(col("doc_id"), lit(batchId).cast("int").as("batch_id"),
          col("e").as("exact_dup"), col("nd").as("near_dup"))
        .withColumn("admitted",
          (col("exact_dup") === 0 && col("near_dup") === 0).cast("int")))
  }

  /** Seed the index table from an initial corpus (may be empty — the
    * keyed table must exist before the first probe). Shared by the batch
    * and streaming drivers so the fingerprint layout cannot drift. */
  def seedIndex(store: BucketedTableStore, corpus: DataFrame, ts: Timestamp,
      shingleN: Int, numHashes: Int, rowsPerBand: Int): Unit =
    store.writeAll("fp",
      fingerprints(corpus, shingleN, numHashes, rowsPerBand)
        .select(col("fp")).distinct()
        .withColumn("syncTimestamp", lit(ts)), "fp")

  /** Merge the admitted docs' fingerprints into the index via the store's
    * [[BucketedTableStore.applyMerge]] verb — with `deltaMerges = true`
    * that is a merge-on-read delta commit PLUS auto-compaction once a
    * chain reaches `autoCompactAfter`, so probe-side read amplification
    * stays bounded over an unbounded ingest run. IDEMPOTENT under
    * re-application: upserting the same keys again adds a layer whose
    * resolution is unchanged (newest-wins over equal rows) — the property
    * the streaming wrapper's crash-replay relies on. */
  def applyAdmissions(store: BucketedTableStore, fps: DataFrame,
      decisions: DataFrame, ts: Timestamp): Unit =
    store.applyMerge("fp",
      fps.join(decisions.filter(col("admitted") === 1).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("fp")).distinct()
        .withColumn("eventName", lit("INSERT")),
      "fp", ts)

  /** This door under the shared [[IngestDoor]] contract — the probe
    * frame is [[fingerprints]], decisions are
    * (doc_id, batch_id, exact_dup, near_dup, admitted). */
  def door(shingleN: Int = 3, numHashes: Int = 8,
      rowsPerBand: Int = 2): IngestDoor = new IngestDoor {
    import org.apache.spark.sql.types._
    val idCol = "doc_id"
    val indexTable = "fp"
    val indexKey = "fp"
    val decisionSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("batch_id", IntegerType),
      StructField("exact_dup", IntegerType),
      StructField("near_dup", IntegerType),
      StructField("admitted", IntegerType)))
    val arrivalSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    val arrivalFormat = "json"
    val requiredCols = Seq("doc_id", "text")
    val queryName = "dedup-ingest"
    def probeFrame(spark: SparkSession, batch: DataFrame) =
      fingerprints(batch, shingleN, numHashes, rowsPerBand)
    def seedIndex(spark: SparkSession, store: BucketedTableStore,
        corpus: DataFrame, ts: Timestamp) =
      DedupIngest.seedIndex(store, corpus, ts, shingleN, numHashes, rowsPerBand)
    def decide(spark: SparkSession, store: BucketedTableStore,
        batch: DataFrame, probe: DataFrame, batchId: Long) =
      DedupIngest.decide(store, batch, probe, batchId)
    def applyAdmissions(store: BucketedTableStore, probe: DataFrame,
        decisions: DataFrame, ts: Timestamp) =
      DedupIngest.applyAdmissions(store, probe, decisions, ts)
  }
}
