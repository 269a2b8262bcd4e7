package graft.streaming

import java.sql.Timestamp

import scala.util.{Failure, Success, Try}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.ingest.Extraction
import graft.sync.{Concurrently, Merge, SyncStore}

/** Structured-Streaming wrapper around the incremental merge — the
  * continuous form of the reference's REFRESH-then-CALL loop
  * (ref scripts/test_sync_time.sh:69-106; SURVEY.md §2.6 ST7).
  *
  * The transport is a pluggable [[CdcSource]]: [[FileCdcSource]] (envelope
  * JSON files) stands in for Kinesis in the sandbox, [[PayloadCdcSource]]
  * carries the payload-string shape a real Kinesis/Kafka connector has —
  * either way the merge below the seam is untouched.
  * Each micro-batch runs the extraction projection (≈ one MV refresh) and
  * the three entity merges (≈ the three CALLs) inside `foreachBatch`.
  *
  * The staged batch is persisted before the merges: it is reused by the
  * dedup window, the anti-join delete, and the insert, and a streaming
  * source batch cannot be recomputed arbitrarily (SURVEY.md §4, mandatory).
  *
  * Watermark semantics: each batch merges against the target's
  * `MAX(approximateUpdateTimestamp)`, exactly like the reference — so
  * replayed or late change records older than the target watermark are
  * silently dropped (§2.8c), which makes reprocessing a batch idempotent
  * even though file-stream offsets already prevent re-reads in normal
  * runs. A store that commits that value with each version
  * ([[SyncStore.recordedWatermark]]) hands it over without a Spark job;
  * targets without a record are scanned, as the reference does per CALL.
  */
final class CdcStream(spark: SparkSession, store: SyncStore,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
    extends Logging {

  /** Runs every entity merge against one extracted (batch) DataFrame and
    * returns how many ran (0 = no initialized non-empty target yet, and
    * nothing ran an action over `extracted`).
    *
    * The merges touch disjoint targets, so [[Concurrently]] submits them
    * from one new thread each and Spark's scheduler interleaves their job
    * DAGs; in the reference the three CALLs are sequential
    * (test_sync_time.sh:97-106), an ordering nothing depends on. Threads
    * made per call inherit the caller's job group, tags and pool, so a
    * stream's merges carry the stream's job group.
    */
  def syncAll(extracted: DataFrame): Int = {
    val cached = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val syncTime = now()
      val wms = watermarks()
      val merged = Merge.entities.filter(c => wms.contains(c.name))
      Concurrently.foreach(merged) { conf =>
        val stage = Merge.stageChanges(cached, conf, wms(conf.name))
        // SORTKEY mapping: snapshots are written time-sorted within
        // files so lag/time-range queries prune parquet row groups
        store.applyMerge(conf.name, stage, conf.keyCol, syncTime,
          sortBy = Some("approximateUpdateTimestamp"))
      }
      merged.size
    } finally cached.unpersist()
  }

  /** Each entity's target watermark; an entity missing here does not
    * merge. A recorded value costs no job. The others share ONE scan job:
    * a tagged union of their targets, projection-pruned to the timestamp
    * column and aggregated per entity (one pass, not one sequential
    * max() action per entity). A null max (empty target, no
    * initial load) aborts that entity's merge (ref :13-16). Each entity
    * enters the union alone: a snapshot lacking the column, or holding a
    * type that does not cast to timestamp, is logged and skipped, and the
    * other entities still merge — like the reference's three independent
    * CALLs. */
  private def watermarks(): Map[String, Timestamp] = {
    val recorded = Merge.entities
      .flatMap(c => store.recordedWatermark(c.name).map(c.name -> _)).toMap
    val scans = Merge.entities.filterNot(c => recorded.contains(c.name))
      .flatMap(c => store.read(c.name).map(c.name -> _))
      .flatMap { case (name, df) =>
        Try(df.select(lit(name).as("_entity"),
            col("approximateUpdateTimestamp").try_cast("timestamp").as("_ts"))) match {
          case Success(p) => Some(p)
          case Failure(e) =>
            logWarning(s"target $name has no usable approximateUpdateTimestamp " +
              s"column, skipping its merge: ${e.getMessage.linesIterator.next()}")
            None
        }
      }
    if (scans.isEmpty) recorded
    else {
      logInfo(s"scanning ${scans.size} target(s) for the watermark")
      recorded ++ scans.reduce(_ unionByName _)
        .groupBy(col("_entity"))
        .agg(max(col("_ts")).as("_wm"))
        .collect()
        .flatMap(r => Option(r.getTimestamp(1)).map(r.getString(0) -> _))
    }
  }

  /** Start the stream over a directory of envelope JSON files.
    * `Trigger.AvailableNow` ≈ drain-everything-then-stop (one refresh+call
    * sweep); pass `ProcessingTime` for a scheduled loop.
    *
    * `quarantineDir` enables dead-letter capture: a line the JSON reader
    * cannot parse surfaces in the PERMISSIVE corrupt-record column and is
    * appended (raw text + batch id + capture time) to the quarantine
    * table instead of silently becoming an all-null envelope that the
    * merge would drop on the floor. The sync itself only ever sees clean
    * records, and one poison line never stalls the stream — the triage
    * story a production CDC pipeline needs.
    *
    * `maxFilesPerTrigger` rate-limits backfill: after an outage the
    * reference's scenario replays the whole Kinesis backlog (ref
    * stack.ts:44-49 sizes the stream for it), and an unbounded file
    * source would deliver that entire backlog as ONE micro-batch — a
    * merge sized by the outage length, not by the trigger cadence, which
    * is how replays OOM or blow past executor-memory sizing at 100 TB.
    * Bounding files-per-trigger drains the backlog as a sequence of
    * normal-sized batches (PipelineSpec proves the bounded drain reaches
    * the unbounded end state on an in-order backlog).
    *
    * ORDERING CAVEAT: the file source admits files oldest-mtime-first,
    * and the merge drops rows older than the target's GLOBAL watermark
    * (§2.8c reference semantics). A capped drain therefore requires the
    * backlog's mtime order to respect event-time order — true for
    * continuously produced CDC drops, NOT true after e.g. a `cp` restore
    * that rewrites mtimes arbitrarily. On such a backlog an early batch
    * can advance the watermark past rows a later batch carries for
    * different keys, and those rows are dropped as late — where the
    * unbounded single batch would have applied them. Re-stamp mtimes in
    * event order (what PipelineSpec's fixture does) or drain uncapped
    * when file order is untrusted.
    *
    * None preserves drain-in-one-sweep for small directories. */
  def start(inputDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      quarantineDir: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    // Trigger.AvailableNow respects the cap and still terminates after
    // the backlog drains — it just takes multiple bounded batches
    start(FileCdcSource(inputDir, maxFilesPerTrigger), checkpointDir,
      trigger, quarantineDir)

  /** Start the stream over any [[CdcSource]] transport — the seam a
    * production Kinesis connector drops into (see the trait's contract;
    * everything below the source is transport-agnostic). */
  def start(source: CdcSource, checkpointDir: String,
      trigger: Trigger,
      quarantineDir: Option[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    val corrupt = CdcSource.CorruptCol
    val envelopes = source.load(spark)
    envelopes.writeStream
      .queryName("cdc-sync")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one materialization feeds both the quarantine split and the
        // merges (a corrupt-column-only projection against the raw file
        // scan is also disallowed — the persisted frame sidesteps that).
        // NOTE (r19): riding the corrupt-row count on the merges' first
        // action via Dataset.observe was tried and reverted — the batch
        // AND the extracted projection are both persisted, so the
        // CollectMetrics node lands inside a cached child plan, which no
        // top-level executed plan carries: the metric is never surfaced
        // and Observation.get blocks forever. The explicit isEmpty probe
        // doubles as the cache materializer, so it is not a wasted pass.
        val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          quarantineDir.foreach { dir =>
            val bad = cached.filter(col(corrupt).isNotNull)
              .select(col(corrupt).as("raw_line"),
                lit(batchId).as("batch_id"),
                lit(now()).as("quarantined_at"))
            if (!bad.isEmpty) bad.write.mode("append").parquet(dir)
          }
          syncAll(Extraction.extract(
            cached.filter(col(corrupt).isNull).drop(corrupt)))
          ()
        } finally { cached.unpersist(); () }
      }
      .start()
  }
}
