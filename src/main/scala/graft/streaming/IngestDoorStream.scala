package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{CorpusSink, IngestDoor}

/** Any [[IngestDoor]] under Structured Streaming: each micro-batch runs
  * the door's [[IngestDoor.step]] inside `foreachBatch` against the
  * door's persisted index, so the admissions delta-merge forward before
  * the next batch. One implementation of the replay-safety machinery for
  * ALL doors (text, spans, embeddings, media); the door itself supplies
  * its arrival schema, reader format, required columns and query name.
  * The stream's part is the step's `log` hook, a write-ahead decision
  * log:
  *
  *   - decisions land durably under `decisionsDir/batch_id=<k>` BEFORE
  *     the index mutates; a re-delivered batch whose decisions exist
  *     SKIPS the decide leg — recomputing against the already-mutated
  *     index would flip its own admissions into rejections;
  *   - the index merge re-applies FROM the logged decisions, and every
  *     door's `applyAdmissions` is idempotent, so once or twice is
  *     indistinguishable;
  *   - a torn decision write (crash mid-parquet-job, no `_SUCCESS`) is
  *     overwritten cleanly on replay — the index is untouched at that
  *     point, so the recompute still sees the pre-batch snapshot;
  *   - the WAL and the checkpoint must rotate together — both mismatch
  *     directions are refused up front ([[WalGuards]]).
  *
  * With `corpusDir` set, each batch's ADMITTED rows additionally land in
  * a [[CorpusSink]] corpus (batchId-guarded appends — a re-delivered
  * epoch is inert there too). Rows missing any of the door's
  * `requiredCols` are dropped up front (a malformed JSON line reads as
  * all nulls). CONTRACT CAVEAT: a well-formed row whose id or payload is
  * explicitly null is dropped the same way — no decision row, no index
  * entry; an upstream that needs dead-letter visibility pre-splits such
  * rows into a quarantine table the way [[CdcStream.start]] does.
  */
final class IngestDoorStream(spark: SparkSession, door: IngestDoor,
    root: String, decisionsDir: String, nBuckets: Int,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    corpusDir: Option[String] = None, corpusShards: Int = 8) {

  private val store = IngestDoor.store(spark, root, nBuckets)

  /** Seed the door's index from an initial corpus (may be empty — the
    * keyed table must exist before the first probe); with `corpusDir`
    * set the seed rows also become the corpus terminal's initial shards
    * (the manifest must exist before the first append). */
  def seed(corpus: DataFrame): Unit = {
    door.seedIndex(spark, store, corpus, now())
    corpusDir.foreach(d =>
      CorpusSink.writeShards(corpus, d, nShards = corpusShards))
  }

  private def batchDir(batchId: Long) =
    Paths.get(decisionsDir, s"batch_id=$batchId")

  /** Whether batch `batchId`'s decisions are durably logged. */
  def decided(batchId: Long): Boolean =
    Files.exists(batchDir(batchId).resolve("_SUCCESS"))

  /** The write-ahead decision log, as [[IngestDoor.step]]'s `log` hook:
    * decide runs only for a batch not yet logged, and apply always reads
    * the logged decisions. Overwrite mode clears a torn dir from a
    * previous crash. */
  private def logged(batchId: Long)(decide: => DataFrame): DataFrame = {
    if (!decided(batchId))
      decide.drop("batch_id") // encoded by the directory, like a partition
        .write.mode("overwrite").parquet(batchDir(batchId).toString)
    spark.read.parquet(batchDir(batchId).toString)
  }

  /** Dedup-horizon maintenance between micro-batches
    * ([[IngestDoor.retireBefore]] on this stream's store): run it while
    * the query is idle (between triggers, or from a scheduled
    * maintenance pass) — it only tombstones entries stamped before
    * `cutoff`, so it composes with the WAL exactly like a compaction
    * does: replayed batches re-apply their logged decisions regardless
    * of what has since retired. Returns the retired-entry count. */
  def retireBefore(cutoff: Timestamp): Long =
    door.retireBefore(store, cutoff, now())

  /** One micro-batch, replay-safe; exposed for direct spec drive. */
  def ingest(batch: DataFrame, batchId: Long): Unit = {
    // persisted for the batch's scope: the cleaned frame feeds the probe
    // derivation, decide's projection, AND the admitted-rows corpus
    // append — without the persist each consumer re-reads the source
    val clean = batch
      .filter(door.requiredCols.map(col(_).isNotNull).reduce(_ && _))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dec = door.step(spark, store, clean, batchId, now(), logged(batchId))
      // corpus terminal last: if we crash before this, the replay skips
      // decide (WAL), re-applies the idempotent index merge, and lands
      // the append then — the batchId guard makes a DOUBLE append
      // (crash after append, before checkpoint commit) equally inert
      corpusDir.foreach { d =>
        val admitted = clean.join(
          dec.filter(col("admitted") === 1).select(col(door.idCol)),
          Seq(door.idCol), "left_semi")
        CorpusSink.appendShards(admitted, d, batchId = Some(batchId))
      }
    } finally clean.unpersist()
  }

  /** Stream a directory of the door's arrival files through the screen.
    * `maxFilesPerTrigger` bounds backfill batches exactly like
    * [[CdcStream.start]] — a replayed backlog must not arrive as one
    * giant micro-batch. */
  def start(inputDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // the WAL is keyed by the checkpoint's batchIds — both mismatch
    // directions (fresh checkpoint + used WAL, used checkpoint + WAL
    // missing committed batches' decisions) corrupt decisions
    WalGuards.requireRotatedTogether(checkpointDir, decisionsDir, decided)
    // same batchId-reuse hazard one layer down: a fresh checkpoint's
    // batch 0 would hit the CORPUS manifest's replay guard and silently
    // skip appending the new admissions — refuse the pairing up front
    val fresh = !Files.exists(Paths.get(checkpointDir, "offsets"))
    corpusDir.foreach { d =>
      require(!(fresh && CorpusSink.committedBatches(d).nonEmpty),
        s"corpusDir $d has batchId-guarded appends from a previous run " +
          s"but checkpointDir $checkpointDir is fresh (batchIds restart " +
          "at 0) — rotate corpusDir together with the checkpoint")
    }
    val reader = spark.readStream.schema(door.arrivalSchema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .format(door.arrivalFormat).load(inputDir)
      .writeStream
      .queryName(door.queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => ingest(batch, batchId))
      .start()
  }
}
