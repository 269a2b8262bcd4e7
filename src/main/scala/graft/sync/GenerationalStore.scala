package graft.sync

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** GENERATIONAL index layout — the O(1)-retirement alternative the
  * [[graft.operators.IngestDoor.retireBefore]] scaladoc prices but the
  * library never shipped until round 15. One [[BucketedTableStore]] per
  * coarse commit window ("generation", `floor(commitMs / windowMs)`,
  * directory `g<id>` under the root); every append lands in its commit
  * timestamp's generation, probes read the UNION of live generations,
  * and retirement DROPS WHOLE GENERATIONS AS METADATA — directory
  * deletes, zero row scans, zero rewrites.
  *
  * The trade against the single-table layout (tombstone deltas +
  * compaction, [[graft.operators.IngestDoor.retireBefore]]):
  *   - retirement: O(index-scan) + O(expired) tombstones there; O(1)
  *     directory drops here — at 100 TB the scan term is the whole
  *     index (timestamps spread uniformly over hash buckets, no zone
  *     map prunes them), so a deployment that retires often lives here;
  *   - probes: single lookup there; a fan-out over live generations
  *     here (horizon/window generations — a months-long horizon at a
  *     daily window is ~30-way, each bucket-pruned the same way);
  *   - horizon PRECISION: row-exact there; WINDOW-COARSE here — a
  *     generation is dropped only when it lies ENTIRELY before the
  *     cutoff (`(gen+1)·window ≤ cutoff`), so entries committed up to
  *     one window before the cutoff may survive it. That coarseness is
  *     the contract, not a bug: a dedup horizon is "months", windows
  *     are "days", and over-RETAINING is the conservative direction
  *     for a dedup guard (a survivor can only cause an extra
  *     rejection, never a wrongly-admitted duplicate of live content).
  *     GenerationalStoreSpec pins the coarseness against the
  *     row-precise verb at the same cutoff.
  *
  * Re-admission after retirement works like the single-table layout:
  * the key lands in the CURRENT generation with a fresh commit stamp,
  * so the horizon is measured from the last admission.
  */
final class GenerationalStore(spark: SparkSession, root: String,
    windowMs: Long, nBuckets: Int = 16) {
  require(windowMs > 0, "a generation window must have positive length")

  /** Generation id of a commit timestamp (epoch-floor division; this
    * library's clocks are post-1970 — see the q243/door t0 discipline). */
  def genOf(ts: Timestamp): Long = ts.getTime / windowMs

  private def genDir(gen: Long) = Paths.get(root, s"g$gen")

  private def storeOf(gen: Long): BucketedTableStore =
    new BucketedTableStore(spark, genDir(gen).toString, nBuckets,
      deltaMerges = true, autoCompactAfter = 4)

  /** Live generation ids, ascending — a driver-side directory listing
    * (one metadata op per generation, never a data read). */
  def liveGenerations: Seq[Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Seq.empty
    else scala.util.Using.resource(Files.list(r)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("g"))
        .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
        .toSeq.sorted
    }
  }

  /** Append `df` into `ts`'s generation: the generation's first commit
    * creates its table ([[BucketedTableStore.writeAll]]); later commits
    * in the same window delta-merge (INSERT upserts, idempotent under
    * re-application — the same replay posture as the single-table
    * doors).
    *
    * Writer contract: SINGLE WRITER per store, like every other store
    * verb here (the doors' sequential protocol enforces it by
    * construction). The one seam that differs from [[BucketedTableStore
    * .mergeDelta]] is a brand-new generation's FIRST commit: two racing
    * writers would both see the generation empty and both take the
    * writeAll path. The store's manifest CAS still refuses the loser
    * (writeAll commits conditionally on the manifest it read), and this
    * verb then RETRIES the loser's rows through applyMerge against the
    * winner's table — so even under a protocol violation the append is
    * upserted, never silently lost. */
  def append(table: String, df: DataFrame, key: String, ts: Timestamp): Unit = {
    val st = storeOf(genOf(ts))
    if (st.read(table).isEmpty)
      try st.writeAll(table, df.withColumn("syncTimestamp", lit(ts)), key)
      catch {
        case _: java.util.ConcurrentModificationException =>
          st.applyMerge(table,
            df.withColumn("eventName", lit("INSERT")), key, ts)
      }
    else
      st.applyMerge(table,
        df.withColumn("eventName", lit("INSERT")), key, ts)
  }

  /** Union of the live generations' rows — the probe's read surface.
    * None when no generation exists yet. A key admitted in several live
    * generations appears once per admission; index probes are
    * membership tests (left_semi), so multiplicity is harmless. */
  def readAll(table: String): Option[DataFrame] =
    liveGenerations.flatMap(g => storeOf(g).read(table))
      .reduceOption(_.unionByName(_))

  /** Drop every generation lying ENTIRELY before `cutoff` — directory
    * deletes only (the O(1) retirement this layout exists for).
    * Returns the dropped generation ids. */
  def retireBefore(cutoff: Timestamp): Seq[Long] = {
    val dropped = liveGenerations
      .filter(g => (g + 1) * windowMs <= cutoff.getTime)
    dropped.foreach(g => LocalFs.deleteRecursively(genDir(g)))
    dropped
  }
}
