package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.load.InitialLoad
import graft.streaming.CdcStream
import graft.sync.{BucketedTableStore, Concurrently, LocalFs, Merge, SyncStore}

/** End-to-end orchestration — the Spark equivalent of the reference's
  * script sequence setup → export → initial load → incremental sync → query
  * (ref scripts/setup_redshift.sh, initial_load_from_export.sh,
  * test_sync_time.sh; SURVEY.md §2.7 C5).
  *
  * @param nBuckets the [[BucketedTableStore]]'s hash buckets per table.
  *                 None → one bucket: a whole-table snapshot per merge,
  *                 simple and right for small targets. Some(n) → merges
  *                 rewrite only touched buckets, the configuration a 100 TB
  *                 deployment runs (BENCHMARKS.md has the measured
  *                 crossover). Same merge semantics either way, enforced by
  *                 PipelineSpec running the full scenario on both. The count
  *                 is recorded with each table: a restart with another
  *                 count is refused at its first merge.
  * @param retainStates Some(k) → after each sync drain, sweep every
  *                 target's snapshot history down to the k most recent
  *                 states (store `vacuum`); None → keep all history.
  *                 A continuous deployment sets this, or the superseded
  *                 snapshots leak without bound.
  * @param deltaMerges true → merge-on-read commits
  *                 ([[BucketedTableStore.mergeDelta]], O(batch) per sync,
  *                 auto-compacted once a bucket's chain reaches
  *                 `autoCompactAfter`) instead of copy-on-write bucket
  *                 rewrites. The high-frequency-CDC configuration: commit
  *                 cost stops scaling with bucket size entirely.
  * @param maxFilesPerSync Some(n) → cap each CDC micro-batch at n input
  *                 files so an outage backfill drains as bounded batches
  *                 instead of one outage-sized merge
  *                 ([[CdcStream.start]] has the full rationale).
  */
final class Pipeline(spark: SparkSession, storeRoot: String,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    nBuckets: Option[Int] = None,
    retainStates: Option[Int] = None,
    deltaMerges: Boolean = false,
    autoCompactAfter: Int = 8,
    maxFilesPerSync: Option[Int] = None,
    // explicit sink override — the seam a warehouse deployment plugs
    // [[graft.sync.JdbcTableStore]] into (the reference's Redshift
    // target); when set, nBuckets/deltaMerges are ignored
    storeImpl: Option[SyncStore] = None) {

  val store: SyncStore = storeImpl.getOrElse(new BucketedTableStore(spark, storeRoot,
    nBuckets.getOrElse(1), deltaMerges, autoCompactAfter))

  private val entityKeys: Map[String, String] =
    Merge.entities.map(e => e.name -> e.keyCol).toMap

  /** Stage 1 — batch initial load from a DynamoDB export directory
    * (creates the three target tables; must run before incremental sync,
    * whose guard aborts on an empty target). */
  def initialLoad(exportPath: String): Unit = {
    val loadTime = now()
    // Disjoint targets → write the three entity loads from parallel
    // threads (same rationale as CdcStream.syncAll).
    Concurrently.foreach(InitialLoad.loadAll(spark, exportPath, loadTime)) {
      case (name, df) => store.init(name, df, entityKeys(name))
    }
  }

  /** Stage 2 — drain all pending CDC files and apply the merges, then
    * run the configured retention sweep. */
  def syncAvailable(cdcDir: String, checkpointDir: String): Unit = {
    val q = new CdcStream(spark, store, now).start(cdcDir, checkpointDir,
      quarantineDir = Some(quarantinePath),
      maxFilesPerTrigger = maxFilesPerSync)
    q.awaitTermination()
    retainStates.foreach { k =>
      Merge.entities.foreach(e => store.retain(e.name, k))
    }
  }

  private val quarantinePath = s"$storeRoot/_quarantine"

  /** Dead-letter table: raw CDC lines the JSON reader could not parse,
    * with batch id and capture time. Empty until a poison line arrives. */
  def quarantine: DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(quarantinePath)))
      spark.read.parquet(quarantinePath)
    else spark.emptyDataFrame

  /** Fix-and-replay — the missing half of the dead-letter loop (inspect
    * alone is not an operational story): applies `fix` to every
    * quarantined raw line (identity = retry as-is, e.g. after an
    * upstream producer hotfix), parses the corrected lines through the
    * SAME envelope parse the live transports use
    * ([[graft.streaming.PayloadCdcSource.parse]] — all three malformed-
    * JSON shapes normalized identically), merges the clean results
    * through the same extraction + merge path as a live micro-batch,
    * and rewrites the quarantine to hold only the lines that STILL fail
    * to parse — keeping their ORIGINAL raw text and capture metadata,
    * so a wrong fix never corrupts the evidence.
    *
    * Watermark interaction (§2.8c, deliberate): replayed changes pass
    * the same target-watermark gate as live batches, so a fixed line
    * whose key has already received a NEWER change merges as a no-op —
    * latest change still wins, and a replay can never resurrect stale
    * state. Scale shape: the quarantine is poison lines only (bounded by
    * upstream defect count, not data volume) and the replay is one
    * parse projection + the standard O(batch) merge; nothing collects.
    *
    * @param fix column transform over the raw line, e.g.
    *            `regexp_replace(_, ",}", "}")`; runs distributed.
    * @return (replayed clean lines, lines still quarantined) */
  def replayQuarantine(
      fix: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): (Long, Long) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    import graft.streaming.{CdcSource, CdcStream, PayloadCdcSource}
    // Crash-window recovery: the retire step below deletes the
    // quarantine and THEN promotes the still-bad set from `.replay` —
    // a crash between the two leaves the only copy of the evidence in
    // `.replay`. Promote it here instead of (as earlier revisions did)
    // unconditionally deleting it as stale scratch, which would
    // permanently destroy unreplayed poison lines. A `.replay` orphan
    // NEXT TO a live quarantine really is stale scratch (the crash
    // happened before the delete, so the quarantine is still the
    // authoritative superset) and is cleared in the retire step.
    val replayTmp = Paths.get(s"$quarantinePath.replay")
    if (!Files.exists(Paths.get(quarantinePath)) && Files.exists(replayTmp))
      Files.move(replayTmp, Paths.get(quarantinePath),
        StandardCopyOption.ATOMIC_MOVE)
    if (!Files.exists(Paths.get(quarantinePath))) return (0L, 0L)
    val corrupt = CdcSource.CorruptCol
    val meta = Seq("raw_line", "batch_id", "quarantined_at")
    val parsed = PayloadCdcSource.parseKeeping(
      quarantine.withColumn("payload", fix(col("raw_line"))),
      "payload", meta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val clean = parsed.filter(col(corrupt).isNull)
        .drop(corrupt).drop(meta: _*)
      val replayed = clean.count()
      if (replayed > 0)
        new CdcStream(spark, store, now)
          .syncAll(graft.ingest.Extraction.extract(clean))
      val stillBad = parsed.filter(col(corrupt).isNotNull)
        .select(meta.map(col): _*)
      val remaining = stillBad.count()
      // retire replayed rows: materialize the still-bad set BESIDE the
      // quarantine first, then swap. A crash before the delete leaves
      // the quarantine authoritative (the .replay orphan is cleared
      // here on the next run); a crash between the delete and the move
      // is recovered at entry by promoting .replay (see above) — so
      // every crash point leaves either the old table, the new one, or
      // a recoverable .replay, never a silent loss.
      val tmp = replayTmp
      LocalFs.deleteRecursively(tmp)
      if (remaining > 0) stillBad.write.mode("overwrite").parquet(tmp.toString)
      LocalFs.deleteRecursively(Paths.get(quarantinePath))
      if (remaining > 0)
        Files.move(tmp, Paths.get(quarantinePath), StandardCopyOption.ATOMIC_MOVE)
      (replayed, remaining)
    } finally parsed.unpersist()
  }

  def table(name: String): DataFrame =
    store.read(name).getOrElse(
      throw new IllegalStateException(s"table $name not initialized — run initialLoad first"))
      .drop("_bucket") // the store's internal routing column

  def member: DataFrame = table("member")
  def quest: DataFrame = table("quest")
  def memberQuest: DataFrame = table("member_quest")
}
