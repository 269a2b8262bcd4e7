package graft.sync

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** Storage contract the CDC sync drives (SURVEY.md §2.1 S5-S7): the merge
  * logic ([[Merge]]) is pure DataFrame algebra; how the result becomes the
  * new live table is the store's choice. Two implementations:
  *
  *   - [[TableStore]]        — whole-table snapshot + pointer swap. O(table)
  *                             per batch; right when batches touch most rows
  *                             or tables are small.
  *   - [[BucketedTableStore]] — hash-bucketed partition-level snapshots.
  *                             O(touched buckets) per batch; the 100 TB form
  *                             (BENCHMARKS.md measures the crossover).
  *
  * Both expose the same verbs so [[graft.pipeline.Pipeline]] and
  * [[graft.streaming.CdcStream]] are storage-agnostic.
  *
  * Watermark: the sync needs MAX(approximateUpdateTimestamp) of each
  * target before every batch (ref incremental_sync_members.sql:11-12). A
  * store that commits that value with each version answers
  * [[recordedWatermark]] and the sync skips its scan; every other store
  * (and any version without a record) keeps the default None, and the
  * sync scans [[read]] exactly as the reference does.
  */
trait SyncStore {

  /** Live snapshot of `name`, or None before the initial load. May carry
    * store-internal columns (e.g. `_bucket`); callers that surface tables
    * to users drop them. */
  def read(name: String): Option[DataFrame]

  /** MAX(approximateUpdateTimestamp) over the live version of `name`, when
    * the store recorded it with that version's commit; None means "not
    * recorded" (scan [[read]]), never "empty table". */
  def recordedWatermark(name: String): Option[Timestamp] = None

  /** Initial full materialization. `key` is the entity key the store may
    * bucket by; `sortBy` orders rows within files for zone-map pruning. */
  def init(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None): Unit

  /** Apply one staged CDC batch (target schema minus syncTimestamp, plus
    * `eventName`; already deduped latest-per-key by [[Merge.stageChanges]])
    * as a delete-then-insert upsert, REMOVEs as deletes, and publish the
    * result atomically. */
  def applyMerge(name: String, stage: DataFrame, key: String,
      syncTime: Timestamp, sortBy: Option[String] = None): Unit

  /** Retention sweep: drop snapshot history beyond the `keep` most recent
    * states (the live state always survives; time travel shrinks to the
    * retained window). Continuous pipelines call this after merges so the
    * version/manifest leak stays bounded — see each store's `vacuum`. */
  def retain(name: String, keep: Int): Unit
}
