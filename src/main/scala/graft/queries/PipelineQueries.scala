package graft.queries

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.Analytics
import graft.gen.CdcGen
import graft.pipeline.Pipeline

/** The reference's pipeline surface as a driver-runnable query: generator →
  * export → initial load → two streaming CDC merge batches → rewards report
  * (the whole of SURVEY.md §3 E1-E3 in miniature, deterministic seed/clock).
  *
  * Oracle-checked: the generator is seeded, so the run deposits its exact
  * export + CDC envelope lines at a fixed path and the DuckDB oracle
  * replays the merge over them — initial load by pk-prefix routing, then
  * latest-change-per-key window (ts desc, sequence-number desc) +
  * anti-join delete-then-insert with REMOVE application, then the rewards
  * aggregation — the same window+anti-join shape as q22's oracle, but over
  * the real envelope files end-to-end.
  */
object PipelineQueries {

  private val t0 = 1660000000000L

  /** Fixed drop point for the oracle's replay inputs (content is
    * byte-deterministic: seeded generator, fixed clock). */
  private val replayDir = "/tmp/graft_q23_replay"

  def q23CdcPipelineE2E(spark: SparkSession, dir: String): DataFrame = {
    val gen = new CdcGen.Gen(42)
    val exportDir = Files.createTempDirectory("graft-export").toString
    val cdcDir = Files.createTempDirectory("graft-cdc").toString
    val ckptDir = Files.createTempDirectory("graft-ckpt").toString
    val storeRoot = Files.createTempDirectory("graft-store").toString

    // initial population: 20 ticks of member+quest+memberQuest
    val ticks = (1 to 20).map(_ => gen.tick())
    val exportLines = ticks.flatMap { case (m, q, mq) => Seq(m, q, mq) }
      .map(gen.exportLine)
    Files.write(Paths.get(exportDir, "data.json"),
      exportLines.mkString("\n").getBytes)

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    // CDC batch 1: 10 new ticks (INSERTs)
    val newTicks = (1 to 10).map(_ => gen.tick())
    val batch1 = newTicks.zipWithIndex.flatMap { case ((m, q, mq), i) =>
      val ts = t0 + 10000 + i * 1000
      Seq(gen.envelope("INSERT", m, ts), gen.envelope("INSERT", q, ts + 100),
          gen.envelope("INSERT", mq, ts + 200))
    }
    Files.write(Paths.get(cdcDir, "batch1.json"), batch1.mkString("\n").getBytes)
    clock = t0 + 60000
    pipeline.syncAvailable(cdcDir, ckptDir)

    // CDC batch 2: modify half the new memberQuests, remove two members
    val batch2 =
      newTicks.take(5).zipWithIndex.map { case ((_, _, mq), i) =>
        gen.envelope("MODIFY",
          mq.copy(attrs = mq.attrs + ("dollarsEarned" -> Right(100.0 + i))),
          t0 + 70000 + i * 1000)
      } ++ newTicks.take(2).map { case (m, _, _) =>
        gen.envelope("REMOVE", m, t0 + 80000)
      }
    Files.write(Paths.get(cdcDir, "batch2.json"), batch2.mkString("\n").getBytes)
    clock = t0 + 120000
    pipeline.syncAvailable(cdcDir, ckptDir)

    // deposit the exact inputs for the DuckDB replay oracle
    Files.createDirectories(Paths.get(replayDir))
    Files.write(Paths.get(replayDir, "export.json"),
      exportLines.mkString("\n").getBytes)
    Files.write(Paths.get(replayDir, "cdc.json"),
      (batch1 ++ batch2).mkString("\n").getBytes)

    // Materialize the (small) report eagerly so the four temp stores can
    // be deleted before returning — bench runs this query ~5× per sweep
    // set, and the leaked parquet stores used to accrete in /tmp.
    val report = Analytics.rewardsByMember(pipeline.memberQuest, pipeline.member)
    val rows = report.collect()
    Seq(exportDir, cdcDir, ckptDir, storeRoot)
      .foreach(d => graft.sync.LocalFs.deleteRecursively(Paths.get(d)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
  }

  /** DuckDB replay of the full pipeline over the deposited envelope files.
    *
    * Mirrors the engine exactly: initial-load rows get the load clock (t0)
    * as watermark, so only changes with event-second > t0 apply
    * (Extraction.eventTime's DIV-1000 truncation spelled `ms // 1000`);
    * latest-change-per-key via row_number ordered (event ts desc, seq
    * length desc, seq desc) like Merge.stageChanges; delete-then-insert
    * with REMOVE application like Merge.applyStage; member_quest keyed on
    * memberQuestId (the §2.8d fix). Both CDC batches replay in one pass —
    * equivalent to the two sequential merges because every batch-2 change
    * is strictly newer than batch-1's watermark.
    */
  val q23Oracle: String = {
    val t0s = t0 / 1000
    s"""
    WITH exp AS (
      SELECT Item FROM read_json_auto('$replayDir/export.json',
                                      format='newline_delimited')),
    cdc AS (
      SELECT * FROM read_json_auto('$replayDir/cdc.json',
                                   format='newline_delimited')),
    chg AS (
      SELECT eventName,
             dynamodb."Keys".pk."S" AS pk,
             dynamodb."Keys".sk."S" AS sk,
             dynamodb.ApproximateCreationDateTime AS ms,
             sequence_number AS seq,
             dynamodb.NewImage AS img
      FROM cdc WHERE eventName IN ('INSERT', 'MODIFY', 'REMOVE')),
    m_init AS (
      SELECT regexp_replace(Item.pk."S", '^M_', '') AS memberId,
             Item.sk."S" AS memberName
      FROM exp WHERE Item.pk."S" LIKE 'M^_%' ESCAPE '^'),
    m_latest AS (
      SELECT regexp_replace(pk, '^M_', '') AS memberId,
             sk AS memberName, eventName
      FROM (SELECT *, row_number() OVER (PARTITION BY pk
              ORDER BY ms // 1000 DESC, length(seq) DESC, seq DESC) AS rn
            FROM chg
            WHERE pk LIKE 'M^_%' ESCAPE '^' AND ms // 1000 > $t0s)
      WHERE rn = 1),
    member AS (
      SELECT memberId, memberName FROM m_init
      WHERE memberId NOT IN (SELECT memberId FROM m_latest)
      UNION ALL
      SELECT memberId, memberName FROM m_latest WHERE eventName <> 'REMOVE'),
    mq_init AS (
      SELECT regexp_replace(Item.sk."S", '^MQ_', '') AS memberQuestId,
             regexp_replace(Item.pk."S", '^MQ#M_', '') AS memberId,
             CAST(Item.dollarsEarned."N" AS DOUBLE) AS dollarsEarned
      FROM exp WHERE Item.pk."S" LIKE 'MQ#%'),
    mq_latest AS (
      SELECT regexp_replace(sk, '^MQ_', '') AS memberQuestId,
             regexp_replace(pk, '^MQ#M_', '') AS memberId,
             CAST(img.dollarsEarned."N" AS DOUBLE) AS dollarsEarned,
             eventName
      FROM (SELECT *, row_number() OVER (PARTITION BY sk
              ORDER BY ms // 1000 DESC, length(seq) DESC, seq DESC) AS rn
            FROM chg
            WHERE pk LIKE 'MQ#%' AND ms // 1000 > $t0s)
      WHERE rn = 1),
    member_quest AS (
      SELECT memberQuestId, memberId, dollarsEarned FROM mq_init
      WHERE memberQuestId NOT IN (SELECT memberQuestId FROM mq_latest)
      UNION ALL
      SELECT memberQuestId, memberId, dollarsEarned FROM mq_latest
      WHERE eventName <> 'REMOVE')
    SELECT mq.memberId, m.memberName,
           SUM(mq.dollarsEarned) AS totalDollarsEarned
    FROM member_quest mq JOIN member m USING (memberId)
    GROUP BY 1, 2
    ORDER BY totalDollarsEarned DESC, memberId ASC"""
  }

  /** Fixed drop point for q228's oracle replay input. */
  private val variantReplayDir = "/tmp/graft_q228_replay"

  // q228 — VariantType round-trip through the CDC envelope: the
  // Spark-4-native DYNAMIC path for the reference's SUPER column (SURVEY
  // §1.2's stated alternative to the typed-struct envelope the pipeline
  // runs on — ref scripts/setup_redshift.sh:103 `json_parse(...)` and
  // sql/incremental_sync_member_quests.sql:29 `eventData."NewImage".
  // "dollarsEarned"."N"::float`). Each seeded envelope LINE is parsed
  // with parse_json into one Variant value and navigated back out with
  // variant_get per-access casts — late-bound schema, no StructType
  // anywhere — including the reference's string→float AttributeValue
  // cast and the DIV-1000 event-second truncation. The oracle reads the
  // deposited lines with DuckDB's JSON path navigation; PipelineSpec
  // separately pins that this dynamic path extracts EXACTLY what the
  // typed-struct extraction does on the same envelopes.
  def q228VariantCdcExtract(spark: SparkSession, dir: String): DataFrame = {
    val gen = new CdcGen.Gen(77)
    val ticks = (1 to 15).map(_ => gen.tick())
    val lines = ticks.zipWithIndex.flatMap { case ((m, q, mq), i) =>
      val ts = t0 + 1000L * i
      Seq(gen.envelope("INSERT", m, ts),
        gen.envelope("INSERT", q, ts + 100),
        gen.envelope("INSERT", mq, ts + 200),
        gen.envelope("MODIFY",
          mq.copy(attrs = mq.attrs + ("dollarsEarned" -> Right(10.5 + i))),
          ts + 300))
    }
    Files.createDirectories(Paths.get(variantReplayDir))
    Files.write(Paths.get(variantReplayDir, "cdc.json"),
      lines.mkString("\n").getBytes)
    import org.apache.spark.sql.functions._
    // the engine reads back the SAME artifact the oracle replays
    spark.read.text(s"$variantReplayDir/cdc.json")
      .select(parse_json(col("value")).as("v"))
      .select(
        expr("variant_get(v, '$.eventName', 'string')").as("eventName"),
        expr("variant_get(v, '$.dynamodb.Keys.pk.S', 'string')").as("pk"),
        expr("variant_get(v, '$.dynamodb.Keys.sk.S', 'string')").as("sk"),
        expr("variant_get(v, '$.dynamodb.ApproximateCreationDateTime', 'long')")
          .as("ms"),
        expr("CAST(variant_get(v, '$.dynamodb.NewImage.dollarsEarned.N'," +
          " 'string') AS DOUBLE)").as("dollarsEarned"))
      .withColumn("event_sec", expr("ms DIV 1000"))
      .orderBy(col("ms").asc)
  }
  val q228Oracle: String = s"""
    SELECT eventName,
           dynamodb."Keys".pk."S" AS pk,
           dynamodb."Keys".sk."S" AS sk,
           dynamodb.ApproximateCreationDateTime AS ms,
           CAST(dynamodb.NewImage.dollarsEarned."N" AS DOUBLE)
             AS dollarsEarned,
           dynamodb.ApproximateCreationDateTime // 1000 AS event_sec
    FROM read_json_auto('$variantReplayDir/cdc.json',
                        format='newline_delimited')
    ORDER BY ms ASC"""

  /** Fixed drop point for q234's oracle replay input. */
  private val driftReplayDir = "/tmp/graft_q234_replay"

  // q234 — CDC schema-drift detection: the producer starts shipping
  // attributes the typed extraction doesn't project (quest items gain
  // `category`, memberQuests gain `bonusPoints`) — the silent-loss mode
  // of every fixed-schema CDC pipeline (the reference's MV,
  // ref scripts/setup_redshift.sh:91-104, would drop them forever). The
  // envelope's NewImage is deliberately a MAP (model.CdcSchemas.image),
  // so unknown attributes SURVIVE parsing; the detector explodes the
  // map keys, anti-joins the per-entity projection lists the pipeline
  // actually extracts (a broadcast-sized frame), and reports each
  // drifted field with its entity, event count, first-seen event time,
  // and — the "evolved extraction" proof — the numeric payload already
  // aggregated through the standard AttributeValue `."N"` cast. At
  // 100 TB this is one pass over the stream batch: map explode +
  // broadcast anti-join + per-field agg; nothing rescans.
  def q234SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val gen = new CdcGen.Gen(91)
    val lines =
      (1 to 10).flatMap { i =>
        val (m, q, mq) = gen.tick()
        val ts = t0 + 1000L * i
        Seq(gen.envelope("INSERT", m, ts),
          gen.envelope("INSERT", q, ts + 100),
          gen.envelope("INSERT", mq, ts + 200))
      } ++
        (1 to 10).flatMap { i =>
          val (m, q, mq) = gen.tick()
          val ts = t0 + 100000L + 1000L * i
          // the producer's NEW schema: drifted attributes appear
          val q2 = q.copy(attrs = q.attrs +
            ("category" -> Left(if (i % 2 == 0) "daily" else "weekly")))
          val mq2 = mq.copy(attrs = mq.attrs +
            ("bonusPoints" -> Right(10.25 * i)))
          Seq(gen.envelope("INSERT", m, ts),
            gen.envelope("INSERT", q2, ts + 100),
            gen.envelope("INSERT", mq2, ts + 200))
        }
    Files.createDirectories(Paths.get(driftReplayDir))
    Files.write(Paths.get(driftReplayDir, "cdc.json"),
      lines.mkString("\n").getBytes)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val env = spark.read.schema(graft.model.CdcSchemas.envelope)
      .json(s"$driftReplayDir/cdc.json")
    val known = knownAttrs.toDF("entity", "field")
    env
      .select(col("dynamodb.Keys.pk.S").as("pk"),
        col("dynamodb.ApproximateCreationDateTime").as("ms"),
        explode(col("dynamodb.NewImage")).as(Seq("field", "v")))
      .withColumn("entity",
        when(col("pk").startsWith("MQ#"), lit("member_quest"))
          .when(col("pk").startsWith("M_"), lit("member"))
          .otherwise(lit("quest")))
      .join(broadcast(known), Seq("entity", "field"), "left_anti")
      .groupBy(col("entity"), col("field"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("first_seen_ms"),
        count(col("v.N")).as("n_numeric"),
        sum(col("v.N").cast("decimal(18,6)")).cast("double")
          .as("numeric_sum"))
      .orderBy(col("entity").asc, col("field").asc)
  }
  /** The attributes each entity's typed extraction projects — canonical
    * list lives in [[graft.model.CdcSchemas.extractedAttrs]] (shared with
    * the continuous monitor, SchemaDriftStream). */
  private def knownAttrs: Seq[(String, String)] =
    graft.model.CdcSchemas.extractedAttrs
  val q234Oracle: String = {
    val knownSql = knownAttrs
      .map { case (e, f) => s"('$e', '$f')" }.mkString(", ")
    s"""
    WITH known(entity, field) AS (VALUES $knownSql),
    cdc AS (
      SELECT dynamodb FROM read_json('$driftReplayDir/cdc.json',
        format='newline_delimited', columns={dynamodb: 'JSON'})),
    ev AS (
      SELECT dynamodb,
        CASE WHEN starts_with(dynamodb->>'$$.Keys.pk.S', 'MQ#')
               THEN 'member_quest'
             WHEN starts_with(dynamodb->>'$$.Keys.pk.S', 'M_')
               THEN 'member'
             ELSE 'quest' END AS entity,
        CAST(dynamodb->'$$.ApproximateCreationDateTime' AS BIGINT) AS ms
      FROM cdc),
    keyed AS (
      SELECT entity, ms, dynamodb,
             unnest(json_keys(dynamodb, '$$.NewImage')) AS field
      FROM ev),
    fields AS (
      SELECT entity, ms, field,
        json_extract_string(dynamodb,
          '$$.NewImage.' || field || '.N') AS nval
      FROM keyed)
    SELECT entity, field, COUNT(*) AS n_events,
           MIN(ms) AS first_seen_ms,
           COUNT(nval) AS n_numeric,
           CAST(SUM(CAST(nval AS DECIMAL(18,6))) AS DOUBLE) AS numeric_sum
    FROM fields f
    WHERE NOT EXISTS (SELECT 1 FROM known k
                      WHERE k.entity = f.entity AND k.field = f.field)
    GROUP BY entity, field
    ORDER BY entity ASC, field ASC"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_cdc_pipeline_e2e" -> (q23CdcPipelineE2E _),
    "q228_variant_cdc_extract" -> (q228VariantCdcExtract _),
    "q234_schema_drift" -> (q234SchemaDrift _))

  val oracles: Map[String, String] = Map(
    "q23_cdc_pipeline_e2e" -> q23Oracle,
    "q228_variant_cdc_extract" -> q228Oracle,
    "q234_schema_drift" -> q234Oracle)
}
