package graft.sync

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.bound
import graft.ingest.Extraction

/** Watermarked incremental merge — the Spark re-expression of the
  * reference's three stored procedures (ref sql/incremental_sync_members.sql,
  * _quests.sql, _member_quests.sql), generalized over an [[EntityConf]].
  *
  * Steps (ref incremental_sync_members.sql line numbers):
  *   1. read watermark `MAX(approximateUpdateTimestamp)` from target (:11-12),
  *      abort when target is empty — no initial load yet (:13-16);
  *   2. stage = extract WHERE pk LIKE prefix AND eventTime > watermark,
  *      projected to target columns (:25-31);
  *   3. dedup latest-change-per-key (:40) — expressed as a single
  *      `row_number` window instead of the reference's GROUP BY MAX +
  *      tuple NOT IN (SURVEY.md §2.3 J4: one pass, no NOT-IN-NULL trap,
  *      and a deterministic tiebreaker where the reference would keep
  *      duplicate max-ts rows);
  *   4. delete target rows matched by stage keys (:44) — `left_anti`;
  *   5. drop staged REMOVEs (:48);
  *   6. insert remainder stamped with `syncTimestamp` (:52).
  *
  * All steps are declarative DataFrame ops. The dedup window
  * ([[latestPerKey]]) runs a small batch in one partition with no
  * exchange and shuffles a large one by the entity key; Catalyst/AQE plan
  * the anti-join, broadcasting the stage's keys when the batch is small.
  * Per-sync values (the watermark, the sync timestamp) enter the plan
  * bound ([[graft.functions.BoundValue]]), not as literals, so a steady
  * sync reuses the code the previous one compiled.
  */
object Merge {

  /** Per-entity sync configuration.
    *
    * @param pkPattern  SQL LIKE pattern routing change records to this
    *                   entity, `^`-escaped like the reference
    *                   (ref sql/incremental_sync_members.sql:31 `M^_%`)
    * @param keyCol     logical entity key. NOTE: member_quest is keyed on
    *                   `memberQuestId`, fixing the reference's
    *                   delete-by-questId bug (SURVEY.md §2.8d,
    *                   ref sql/incremental_sync_member_quests.sql:47)
    * @param projectCols extraction-view rows → stage columns (target schema
    *                    minus syncTimestamp; eventName/sequencenumber are
    *                    appended by [[stageChanges]])
    */
  final case class EntityConf(
      name: String,
      keyCol: String,
      pkPattern: String,
      projectCols: Seq[Column])

  /** Strict prefix strip — the documented fix for the reference's charset
    * LTRIM (SURVEY.md §2.8a): `LTRIM(pk,'MQ#M_')` eats any leading run of
    * {M,Q,#,_} and corrupts uppercase-uuid ids; this removes exactly one
    * literal prefix. */
  def stripPrefix(c: Column, prefix: String): Column =
    regexp_replace(c, "^" + java.util.regex.Pattern.quote(prefix), "")

  /** Reference-parity variant (charset trim) kept behind this helper so
    * tests can exercise both modes. */
  def ltrimParity(c: Column, chars: String): Column = ltrim(c, chars)

  val members: EntityConf = EntityConf(
    name = "member",
    keyCol = "memberId",
    pkPattern = "M^_%",
    projectCols = Seq(
      stripPrefix(col("pk"), "M_").as("memberId"),
      // memberName comes from the *key* sk, not NewImage — sk IS the name
      // (SURVEY.md §2.8h; ref sql/incremental_sync_members.sql:27).
      col("sk").as("memberName"),
      Extraction.eventTime.as("approximateUpdateTimestamp")))

  val quests: EntityConf = EntityConf(
    name = "quest",
    keyCol = "questId",
    pkPattern = "Q^_%",
    projectCols = Seq(
      stripPrefix(col("pk"), "Q_").as("questId"),
      col("sk").as("questName"),
      Extraction.eventTime.as("approximateUpdateTimestamp")))

  val memberQuests: EntityConf = EntityConf(
    name = "member_quest",
    keyCol = "memberQuestId",
    pkPattern = "MQ#%",
    projectCols = Seq(
      stripPrefix(col("sk"), "MQ_").as("memberQuestId"),
      stripPrefix(col("pk"), "MQ#M_").as("memberId"),
      Extraction.imgS("questId").as("questId"),
      Extraction.imgN("dollarsEarned").as("dollarsEarned"),
      Extraction.eventTime.as("approximateUpdateTimestamp")))

  val entities: Seq[EntityConf] = Seq(members, quests, memberQuests)

  /** Step 1: driver-side watermark read (ref :11-12). None = empty target. */
  def watermark(target: DataFrame): Option[Timestamp] =
    target.agg(max(col("approximateUpdateTimestamp"))).first().get(0) match {
      case null => None
      case t: Timestamp => Some(t)
    }

  /** Steps 2-3: route, watermark-filter, project, dedup latest-per-key.
    * `tiebreak` orders concurrent same-timestamp changes (the extraction
    * view's sequencenumber); the reference would keep both (SURVEY §2.5 W2). */
  def stageChanges(
      extracted: DataFrame,
      conf: EntityConf,
      wm: Timestamp): DataFrame = {
    val routed = extracted
      .filter(col("eventName").isin("INSERT", "MODIFY", "REMOVE"))
      // LIKE with '^' escape, verbatim from the reference
      // (ref sql/incremental_sync_members.sql:31 `pk LIKE 'M^_%' escape '^'`).
      .filter(expr(s"pk LIKE '${conf.pkPattern}' ESCAPE '^'"))
      .filter(Extraction.eventTime > bound(wm))
    val projected = routed.select(
      conf.projectCols ++ Seq(col("eventName"), col("sequencenumber").as("_seq")): _*)
    // Sequence numbers are decimal strings of VARIABLE length (Kinesis
    // emits up to ~56 digits; only test fixtures zero-pad), so ordering by
    // (length, value) gives numeric order without overflowing any numeric
    // type — plain string order would rank "99" above "100" and keep a
    // stale change as latest.
    latestPerKey(projected, conf.keyCol, col("approximateUpdateTimestamp").desc,
      length(col("_seq")).desc, col("_seq").desc).drop("_seq")
  }

  /** `df` gathered into one partition when its estimated size fits
    * `spark.sql.files.openCostInBytes`: Spark's file scan gives no task
    * less input than that, so the frame is one task's worth of work, and
    * `SinglePartition` satisfies any clustered distribution, so a window
    * or aggregation over it plans no exchange and no shuffle-map job. A
    * larger frame, or one with no size estimate, is returned as is. */
  private[sync] def gatherSmall(df: DataFrame): DataFrame = {
    val gate = df.sparkSession.sessionState.conf.filesOpenCostInBytes
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= gate) df.coalesce(1) else df
  }

  /** The newest row of each `key` under `newestFirst`, by a `row_number`
    * window: the stage's dedup and the bucketed store's merge-on-read
    * resolution. A small frame is gathered first ([[gatherSmall]]); a
    * larger one is shuffled by key. */
  private[sync] def latestPerKey(df: DataFrame, key: String,
      newestFirst: Column*): DataFrame =
    gatherSmall(df)
      .withColumn("_rn", row_number().over(Window.partitionBy(col(key)).orderBy(newestFirst: _*)))
      .filter(col("_rn") === 1)
      .drop("_rn")

  /** Steps 4-6: delete-then-insert upsert with REMOVE application
    * (ref :44-52). Pure function: returns the new target content. */
  def applyStage(target: DataFrame, stage: DataFrame, conf: EntityConf,
      syncTime: Timestamp): DataFrame =
    applyStage(target, stage, conf.keyCol, syncTime)

  def applyStage(target: DataFrame, stage: DataFrame, keyCol: String,
      syncTime: Timestamp): DataFrame = {
    val stageKeys = stage.select(col(keyCol))
    val kept = target.join(stageKeys, Seq(keyCol), "left_anti")
    val inserts = stage
      .filter(col("eventName") =!= "REMOVE")
      .drop("eventName")
      .withColumn("syncTimestamp", bound(syncTime))
      .select(target.columns.map(col).toIndexedSeq: _*)
    kept.unionByName(inserts)
  }

  /** [[applyStage]] with ADDITIVE SCHEMA EVOLUTION — the upstream-added-an-
    * attribute shape a long-lived CDC sync eventually meets (the reference
    * is fixed-DDL and would need a manual ALTER + backfill; ref
    * sql/create_target_tables.sql:3-37 pins every column).
    *
    * Columns only in the stage are added to the result with NULL for all
    * surviving target rows; columns only in the target stay NULL on the
    * staged inserts. Nothing is dropped — evolution is append-only, so a
    * reader of the old schema keeps working (it just ignores new columns).
    * At scale this is a metadata change: the union adds null literals, no
    * existing bytes are rewritten until snapshots naturally turn over. */
  def applyStageEvolving(target: DataFrame, stage: DataFrame, keyCol: String,
      syncTime: Timestamp): DataFrame = {
    val stageKeys = stage.select(col(keyCol))
    val kept = target.join(stageKeys, Seq(keyCol), "left_anti")
    val inserts = stage
      .filter(col("eventName") =!= "REMOVE")
      .drop("eventName")
      .withColumn("syncTimestamp", bound(syncTime))
    kept.unionByName(inserts, allowMissingColumns = true)
  }

  /** Full per-entity sync. Returns None when the guard aborts (no initial
    * load, ref :13-16) or nothing is staged. The staged frame must be
    * reused by delete/filter/insert, so callers materialize via the
    * returned plan exactly once (a store's write). */
  def syncEntity(target: DataFrame, extracted: DataFrame, conf: EntityConf,
      syncTime: Timestamp): Option[DataFrame] =
    watermark(target).map { wm =>
      val stage = stageChanges(extracted, conf, wm)
      applyStage(target, stage, conf, syncTime)
    }
}
