package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.gen.CdcGen
import graft.ingest.Extraction
import graft.load.InitialLoad
import graft.model.CdcSchemas
import graft.pipeline.Pipeline
import graft.sync.Merge

/** End-to-end pipeline tests mirroring the reference's manual E2E script
  * (ref scripts/test_sync_time.sh): initial load → CDC batches with
  * INSERT/MODIFY/REMOVE → target-state and syncLag assertions.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes)
  }

  private val t0 = 1660000000000L // base epoch ms

  test("extraction view projects the envelope like the reference MV") {
    val gen = new CdcGen.Gen(1)
    val m = gen.member()
    val line = gen.envelope("INSERT", m, t0)
    val raw = spark.read.schema(CdcSchemas.envelope)
      .json(Seq(line).toDS)
    val out = Extraction.extract(raw)
    assert(out.columns.toSeq == CdcSchemas.extractColumns)
    val row = out.first()
    assert(row.getAs[String]("pk") == m.pk)
    assert(row.getAs[String]("sk") == m.sk)
    assert(row.getAs[String]("eventName") == "INSERT")
    assert(row.getAs[String]("eventSource") == "aws:dynamodb")
    // epoch-ms truncation to whole seconds (ref incremental_sync_members.sql:28)
    val evTime = Extraction.extract(raw).select(Extraction.eventTime.as("t"))
      .first().getTimestamp(0)
    assert(evTime.getTime == (t0 / 1000) * 1000)
  }

  test("variant envelope path extracts exactly what the typed struct does") {
    // SURVEY §1.2's two stated SUPER mappings — typed StructType envelope
    // (the pipeline's path) and Spark 4 VariantType (q228's path) — must
    // agree field-for-field on the same envelope lines, including the
    // AttributeValue string→double cast and the DIV-1000 event second
    val gen = new CdcGen.Gen(7)
    val (m, _, mq) = gen.tick()
    val lines = Seq(
      gen.envelope("INSERT", m, t0 + 1234),
      gen.envelope("MODIFY",
        mq.copy(attrs = mq.attrs + ("dollarsEarned" -> Right(42.25))),
        t0 + 2345))
    val raw = spark.read.schema(CdcSchemas.envelope).json(lines.toDS)
    val typed = Extraction.extract(raw).select(
      col("eventName"), col("pk"), col("sk"),
      Extraction.imgN("dollarsEarned").as("dollarsEarned"),
      Extraction.eventTime.as("et"))
    val variant = lines.toDF("value")
      .select(parse_json(col("value")).as("v"))
      .select(
        expr("variant_get(v, '$.eventName', 'string')").as("eventName"),
        expr("variant_get(v, '$.dynamodb.Keys.pk.S', 'string')").as("pk"),
        expr("variant_get(v, '$.dynamodb.Keys.sk.S', 'string')").as("sk"),
        expr("CAST(variant_get(v, '$.dynamodb.NewImage.dollarsEarned.N'," +
          " 'string') AS DOUBLE)").as("dollarsEarned"),
        timestamp_seconds(
          expr("variant_get(v, '$.dynamodb.ApproximateCreationDateTime'," +
            " 'long') DIV 1000")).as("et"))
    assert(typed.collect().toSet == variant.collect().toSet,
      "the dynamic Variant path and the typed-struct path diverged")
  }

  test("initial load routes by pk prefix and strips prefixes strictly") {
    val gen = new CdcGen.Gen(2)
    val m = gen.member(); val mUp = gen.member(upper = true)
    val q = gen.quest()
    val mq = gen.memberQuest("some-member-id", "some-quest-id")
    val export = Seq(m, mUp, q, mq).map(gen.exportLine)
    val dir = tmpDir("export")
    writeLines(dir, "data.json", export)
    val loadTime = new Timestamp(t0)
    val dump = InitialLoad.readExport(spark, dir)
    val members = InitialLoad.members(dump, loadTime)
    val quests = InitialLoad.quests(dump, loadTime)
    val mqs = InitialLoad.memberQuests(dump, loadTime)
    assert(members.count() == 2 && quests.count() == 1 && mqs.count() == 1)
    val ids = members.select("memberId").as[String].collect().toSet
    assert(ids == Set(m.pk.stripPrefix("M_"), mUp.pk.stripPrefix("M_")),
      "uppercase-uuid ids must survive the strict prefix strip (SURVEY §2.8a)")
    val mqRow = mqs.first()
    assert(mqRow.getAs[String]("memberId") == "some-member-id")
    assert(mqRow.getAs[String]("questId") == "some-quest-id")
    assert(mqRow.getAs[Double]("dollarsEarned") > 0)
    // every row stamped with load time (§2.8g)
    assert(members.select("approximateUpdateTimestamp").distinct().first()
      .getTimestamp(0) == loadTime)
  }

  test("COPY micro-option parity: ACCEPTINVCHARS/TRIMBLANKS/TRUNCATECOLUMNS " +
    "(initial_load_from_export.sh:168)") {
    // a member whose name carries (a) an invalid-UTF-8 decode artifact
    // (U+FFFD — what Spark's reader leaves where Redshift's
    // ACCEPTINVCHARS ' ' would put a space) and (b) trailing blanks
    // (what TRIMBLANKS strips at load)
    val dir = tmpDir("export-copyopts")
    // explicit UTF-8: the shared writeLines uses the platform charset,
    // which mangles U+FFFD to '?' under a POSIX-locale JVM
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "data.json"),
      """{"Item":{"pk":{"S":"M_ABC123"},"sk":{"S":"bad�name   "}}}"""
        .getBytes("UTF-8"))
    val loadTime = new Timestamp(t0)
    val dump = InitialLoad.readExport(spark, dir)
    // default path: data arrives verbatim — no silent rewriting
    val raw = InitialLoad.members(dump, loadTime)
      .select("memberName").as[String].first()
    assert(raw == "bad�name   ", s"default path rewrote: '$raw'")
    // reference parity path: U+FFFD → ' ' and trailing blanks stripped
    val fixed = InitialLoad.members(dump, loadTime,
      graft.load.CopyOptions.reference)
      .select("memberName").as[String].first()
    assert(fixed == "bad name", s"parity path: '$fixed'")
    // TRUNCATECOLUMNS knob (no-op in the reference config — the COPY
    // target is the width-less SUPER dump column; see CopyOptions doc):
    // with an explicit VARCHAR(6) width the value caps at 6 chars
    val capped = InitialLoad.members(dump, loadTime,
      graft.load.CopyOptions(acceptInvChars = Some(" "), trimBlanks = true,
        truncateColumns = Some(6)))
      .select("memberName").as[String].first()
    assert(capped == "bad na", s"truncate path: '$capped'")
    // routing happens on the REWRITTEN pk (COPY options apply at load,
    // before any SQL sees the rows), and ids survive unchanged here
    assert(InitialLoad.members(dump, loadTime,
      graft.load.CopyOptions.reference)
      .select("memberId").as[String].first() == "ABC123")
  }

  test("initial load reads gzipped export files transparently (S2 COPY gzip)") {
    val gen = new CdcGen.Gen(8)
    val items = Seq(gen.member(), gen.quest())
    val dir = tmpDir("export-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/data.json.gz"))
    gz.write(items.map(gen.exportLine).mkString("\n").getBytes)
    gz.close()
    val dump = InitialLoad.readExport(spark, dir)
    val loadTime = new Timestamp(t0)
    assert(InitialLoad.members(dump, loadTime).count() == 1)
    assert(InitialLoad.quests(dump, loadTime).count() == 1)
  }

  test("charset ltrim parity mode reproduces the reference bug") {
    // An uppercase-uuid member id starting with 'A' is safe, but one
    // starting with 'M' loses characters under charset LTRIM.
    val df = Seq("M_MDEADBEEF", "M_abc").toDF("pk")
    val strict = df.select(Merge.stripPrefix($"pk", "M_").as("id"))
      .as[String].collect().toSet
    val parity = df.select(Merge.ltrimParity($"pk", "M_").as("id"))
      .as[String].collect().toSet
    assert(strict == Set("MDEADBEEF", "abc"))
    assert(parity == Set("DEADBEEF", "abc"), "LTRIM eats the leading M of the id")
  }

  test("full pipeline: initial load, insert, modify, remove, analytics") {
    val gen = new CdcGen.Gen(3)
    val exportDir = tmpDir("export")
    val cdcDir = tmpDir("cdc")
    val ckptDir = tmpDir("ckpt")
    val storeRoot = tmpDir("store")

    // -- initial state: one member/quest/member_quest in the export
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)
    assert(pipeline.member.count() == 1)
    assert(pipeline.quest.count() == 1)
    assert(pipeline.memberQuest.count() == 1)

    // -- batch 1: new member + quest + memberQuest, all INSERTs after t0
    val m1 = gen.member(); val q1 = gen.quest()
    val m1id = m1.pk.stripPrefix("M_"); val q1id = q1.pk.stripPrefix("Q_")
    val mq1 = gen.memberQuest(m1id, q1id)
    writeLines(cdcDir, "batch1.json", Seq(
      gen.envelope("INSERT", m1, t0 + 10000),
      gen.envelope("INSERT", q1, t0 + 11000),
      gen.envelope("INSERT", mq1, t0 + 12000)))
    clock = t0 + 60000 // sync happens one minute later
    pipeline.syncAvailable(cdcDir, ckptDir)
    assert(pipeline.member.count() == 2)
    assert(pipeline.quest.count() == 2)
    assert(pipeline.memberQuest.count() == 2)

    // syncLag = syncTimestamp − approximateUpdateTimestamp (ref queries.sql:2-4)
    val lags = Analytics.recentSyncLags(pipeline.memberQuest)
      .select("syncLagSeconds").as[Long].collect()
    assert(lags.head == 48, s"lag of mq1 should be 60-12 s, got ${lags.toSeq}")

    // -- batch 2: MODIFY mq1's dollars (same key, newer ts), REMOVE m1,
    //    and a stale change older than the watermark (must be dropped §2.8c)
    val mq1Mod = mq1.copy(attrs = mq1.attrs + ("dollarsEarned" -> Right(77.77)))
    val staleM = gen.member()
    writeLines(cdcDir, "batch2.json", Seq(
      gen.envelope("MODIFY", mq1Mod, t0 + 70000),
      gen.envelope("REMOVE", m1, t0 + 71000),
      gen.envelope("INSERT", staleM, t0 - 5000)))
    clock = t0 + 120000
    pipeline.syncAvailable(cdcDir, ckptDir)

    assert(pipeline.member.count() == 1, "REMOVE deletes m1; stale insert dropped")
    val mq1Row = pipeline.memberQuest
      .filter($"memberQuestId" === mq1.sk.stripPrefix("MQ_")).first()
    assert(mq1Row.getAs[Double]("dollarsEarned") == 77.77, "latest change wins")

    // -- analytics over final state
    val byMember = Analytics.rewardsByMember(pipeline.memberQuest, pipeline.member)
    // m1 was removed, so only the initial-load member remains joined
    assert(byMember.count() == 1)
    val byQuest = Analytics.rewardsByQuest(pipeline.memberQuest, pipeline.quest)
    assert(byQuest.count() <= 2)

    // -- statement-runner facade (ref test_sync_time.sh submit/poll/result)
    val runner = new graft.analytics.StatementRunner
    val id = runner.executeStatement(byMember)
    assert(runner.awaitResult(id).nonEmpty)

    // maxRows guard: a statement whose result outgrows the bound reports
    // Failed instead of collect()ing it onto the facade thread — the plan
    // is CollectLimit, so the driver materializes bound + 1 rows, never
    // the full frame
    val bounded = new graft.analytics.StatementRunner(maxRows = 10)
    val hugeId = bounded.executeStatement(
      spark.range(1000000).toDF("n"))
    val ex = intercept[IllegalStateException](bounded.awaitResult(hugeId))
    assert(ex.getMessage.contains("maxRows"), ex.getMessage)
    val okId = bounded.executeStatement(spark.range(10).toDF("n"))
    assert(bounded.awaitResult(okId).size == 10,
      "results AT the bound still return")
    bounded.shutdown()
    runner.shutdown()
  }

  test("statement runner async shape: submit returns immediately, poll observes the transition") {
    // the reference protocol (test_sync_time.sh:9-34) is submit → poll
    // describe-statement until FINISHED → get-statement-result; this
    // case drives exactly that shape, including the illegal early fetch
    val runner = new graft.analytics.StatementRunner
    try {
      StatementGate.open = false
      // the gate lives on a static holder: executors reach it via the
      // module field (same JVM in local mode), so the UDF closure stays
      // serializable
      val slow = org.apache.spark.sql.functions.udf { (n: Long) =>
        val deadline = System.currentTimeMillis() + 30000
        while (!StatementGate.open && System.currentTimeMillis() < deadline)
          Thread.sleep(10)
        n
      }
      val id = runner.executeStatement(
        spark.range(4).toDF("n").select(slow($"n").as("n")))
      // submit is non-blocking: the statement is observable as Submitted
      // while its plan is still held at the gate
      assert(runner.describeStatement(id) == runner.Submitted)
      val early = intercept[IllegalStateException](runner.getStatementResult(id))
      assert(early.getMessage.contains("not finished"))
      StatementGate.open = true
      // poll loop, the client's shape: describe until the status flips
      val deadline = System.currentTimeMillis() + 30000
      while (runner.describeStatement(id) == runner.Submitted &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(runner.describeStatement(id) == runner.Finished)
      assert(runner.getStatementResult(id).map(_.getLong(0)).sorted ==
        Seq(0L, 1L, 2L, 3L))
      // unknown ids fail loudly on both verbs
      assert(runner.describeStatement("stmt-nope")
        .isInstanceOf[runner.Failed])
      intercept[IllegalStateException](runner.getStatementResult("stmt-nope"))
    } finally runner.shutdown()
  }

  test("checkpoint recovery: a restarted stream never reprocesses drained files") {
    val gen = new CdcGen.Gen(11)
    val exportDir = tmpDir("ckpt-export")
    val cdcDir = tmpDir("ckpt-cdc")
    val ckptDir = tmpDir("ckpt-ckpt")
    val storeRoot = tmpDir("ckpt-store")

    val m0 = gen.member()
    writeLines(exportDir, "data.json", Seq(m0).map(gen.exportLine))
    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    val m1 = gen.member()
    writeLines(cdcDir, "batch1.json", Seq(gen.envelope("INSERT", m1, t0 + 10000)))
    clock = t0 + 60000
    pipeline.syncAvailable(cdcDir, ckptDir)
    assert(pipeline.member.count() == 2)
    val store = new graft.sync.BucketedTableStore(spark, storeRoot, nBuckets = 1)
    val versionAfterBatch1 = store.currentVersion("member")

    // restart 1: same checkpoint, NO new files — the recovered offsets say
    // everything is drained, so no micro-batch fires and no version is
    // published (not even an idempotent rewrite)
    clock = t0 + 120000
    pipeline.syncAvailable(cdcDir, ckptDir)
    assert(store.currentVersion("member") == versionAfterBatch1,
      "restart with no new data must not publish a new version")

    // restart 2: a FRESH pipeline object (new stream, same checkpoint) +
    // one new file — only the new file is processed; batch1's insert is
    // not re-applied (its syncTimestamp is preserved)
    val m2 = gen.member()
    writeLines(cdcDir, "batch2.json", Seq(gen.envelope("INSERT", m2, t0 + 70000)))
    clock = t0 + 180000
    val restarted = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    restarted.syncAvailable(cdcDir, ckptDir)
    assert(restarted.member.count() == 3)
    val syncTs = restarted.member
      .select($"memberId", $"syncTimestamp").as[(String, Timestamp)]
      .collect().toMap
    assert(syncTs(m1.pk.stripPrefix("M_")) == new Timestamp(t0 + 60000),
      "already-drained batch must keep its original syncTimestamp after restart")
    assert(syncTs(m2.pk.stripPrefix("M_")) == new Timestamp(t0 + 180000))
  }

  test("bucketed store pipeline matches snapshot store pipeline exactly") {
    // Same scenario (insert/modify/remove/stale-drop), run once per store
    // config; the final member/quest/member_quest contents must be
    // identical — SyncStore only changes the physical layout. The third
    // run drives the merge-on-read path: delta commits with auto-compaction
    // at chain length 2, so the twice-touched member_quest bucket compacts
    // mid-pipeline while the once-touched member buckets stay dirty — the
    // final table reads resolve live delta chains.
    def run(nBuckets: Option[Int], tag: String,
        deltaMerges: Boolean = false): Map[String, Seq[String]] = {
      val gen = new CdcGen.Gen(11) // same seed both runs → same fixture data
      val exportDir = tmpDir(s"bexport-$tag")
      val cdcDir = tmpDir(s"bcdc-$tag")
      val ckptDir = tmpDir(s"bckpt-$tag")
      val storeRoot = tmpDir(s"bstore-$tag")
      val m0 = gen.member(); val q0 = gen.quest()
      val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
      writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))
      var clock = t0
      val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock),
        nBuckets, deltaMerges = deltaMerges, autoCompactAfter = 2)
      pipeline.initialLoad(exportDir)
      val m1 = gen.member()
      val mq1 = gen.memberQuest(m1.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
      writeLines(cdcDir, "batch1.json", Seq(
        gen.envelope("INSERT", m1, t0 + 10000),
        gen.envelope("INSERT", mq1, t0 + 12000)))
      clock = t0 + 60000
      pipeline.syncAvailable(cdcDir, ckptDir)
      val mq1Mod = mq1.copy(attrs = mq1.attrs + ("dollarsEarned" -> Right(55.55)))
      writeLines(cdcDir, "batch2.json", Seq(
        gen.envelope("MODIFY", mq1Mod, t0 + 70000),
        gen.envelope("REMOVE", m0, t0 + 71000),
        gen.envelope("INSERT", gen.member(), t0 - 5000))) // stale → dropped
      clock = t0 + 120000
      pipeline.syncAvailable(cdcDir, ckptDir)
      Seq("member", "quest", "member_quest").map { t =>
        val df = pipeline.table(t)
        t -> df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
          .collect().map(_.mkString("|")).toSeq.sorted
      }.toMap
    }
    val plain = run(None, "plain")
    val bucketed = run(Some(8), "bucketed")
    val mor = run(Some(8), "mor", deltaMerges = true)
    assert(plain("member").nonEmpty && plain("member_quest").nonEmpty)
    assert(bucketed == plain, "bucketed store must produce identical tables")
    assert(mor == plain, "merge-on-read store must produce identical tables")
  }

  test("JDBC sink pipeline matches the snapshot store pipeline exactly") {
    // The reference's actual deployment target is a warehouse reached over
    // JDBC (Redshift; ref sql/create_target_tables.sql:1-37) — run the
    // same insert/modify/remove/stale-drop scenario as the parity test
    // above through graft.sync.JdbcTableStore against an in-JVM Derby and
    // require identical final tables: the store's DELETE-using + INSERT
    // transaction must reproduce Merge.applyStage to the row.
    def run(storeImpl: Option[graft.sync.SyncStore], tag: String)
        : Map[String, Seq[String]] = {
      val gen = new CdcGen.Gen(11)
      val exportDir = tmpDir(s"jexport-$tag")
      val cdcDir = tmpDir(s"jcdc-$tag")
      val ckptDir = tmpDir(s"jckpt-$tag")
      val storeRoot = tmpDir(s"jstore-$tag")
      val m0 = gen.member(); val q0 = gen.quest()
      val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
      writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))
      var clock = t0
      val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock),
        storeImpl = storeImpl)
      pipeline.initialLoad(exportDir)
      val m1 = gen.member()
      val mq1 = gen.memberQuest(m1.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
      writeLines(cdcDir, "batch1.json", Seq(
        gen.envelope("INSERT", m1, t0 + 10000),
        gen.envelope("INSERT", mq1, t0 + 12000)))
      clock = t0 + 60000
      pipeline.syncAvailable(cdcDir, ckptDir)
      val mq1Mod = mq1.copy(attrs = mq1.attrs + ("dollarsEarned" -> Right(55.55)))
      writeLines(cdcDir, "batch2.json", Seq(
        gen.envelope("MODIFY", mq1Mod, t0 + 70000),
        gen.envelope("REMOVE", m0, t0 + 71000),
        gen.envelope("INSERT", gen.member(), t0 - 5000))) // stale → dropped
      clock = t0 + 120000
      pipeline.syncAvailable(cdcDir, ckptDir)
      Seq("member", "quest", "member_quest").map { t =>
        val df = pipeline.table(t)
        t -> df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
          .collect().map(_.mkString("|")).toSeq.sorted
      }.toMap
    }
    val parquet = run(None, "parquet")
    val jdbc = run(Some(new graft.sync.JdbcTableStore(spark,
      s"jdbc:derby:memory:graftjdbc${System.nanoTime()};create=true",
      "org.apache.derby.jdbc.EmbeddedDriver")), "jdbc")
    assert(parquet("member").nonEmpty && parquet("member_quest").nonEmpty)
    assert(jdbc == parquet, "JDBC sink must produce identical tables")
  }

  test("rate-limited backfill drains a backlog in bounded micro-batches") {
    // Outage-replay scenario: a 12-file CDC backlog is waiting when the
    // sync starts. Uncapped, the file source delivers it as ONE
    // outage-sized micro-batch; with maxFilesPerSync it must drain as a
    // sequence of bounded batches and still reach the identical end state
    // (the target watermark keeps per-batch application idempotent).
    def run(cap: Option[Int], tag: String): (Seq[String], Int) = {
      val gen = new CdcGen.Gen(17)
      val exportDir = tmpDir(s"bf-export-$tag")
      val cdcDir = tmpDir(s"bf-cdc-$tag")
      val ckptDir = tmpDir(s"bf-ckpt-$tag")
      val storeRoot = tmpDir(s"bf-store-$tag")
      writeLines(exportDir, "data.json", Seq(gen.exportLine(gen.member())))
      var clock = t0
      val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock),
        maxFilesPerSync = cap)
      pipeline.initialLoad(exportDir)
      (0 until 12).foreach { i =>
        val name = f"backlog$i%02d.json"
        writeLines(cdcDir, name,
          Seq(gen.envelope("INSERT", gen.member(), t0 + 1000L * (i + 1))))
        // the file source batches in modification-time order; pin it so the
        // capped run applies batches in event-time order (the strict
        // watermark would drop an out-of-order file's rows as stale —
        // correct late-data semantics, but not what a replay produces)
        Paths.get(cdcDir, name).toFile.setLastModified(t0 + 1000L * (i + 1))
      }
      clock = t0 + 60000
      pipeline.syncAvailable(cdcDir, ckptDir)
      val rows = pipeline.member.select($"memberId").as[String]
        .collect().toSeq.sorted
      val batches = Paths.get(ckptDir, "commits").toFile
        .list().count(_.forall(_.isDigit))
      (rows, batches)
    }
    val (unbounded, uncappedBatches) = run(None, "nolimit")
    val (bounded, cappedBatches) = run(Some(3), "cap3")
    assert(unbounded.size == 13, "initial member + 12 backfilled inserts")
    assert(bounded == unbounded,
      "rate-limited drain must reach the identical end state")
    assert(uncappedBatches == 1, "uncapped: the whole backlog is one batch")
    assert(cappedBatches >= 4, s"12 files at 3 per trigger need >=4 batches, " +
      s"got $cappedBatches")
  }

  test("pipeline retention sweeps snapshot history after each sync") {
    val gen = new CdcGen.Gen(17)
    val exportDir = tmpDir("rexport")
    val cdcDir = tmpDir("rcdc")
    val ckptDir = tmpDir("rckpt")
    val storeRoot = tmpDir("rstore")
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock),
      nBuckets = None, retainStates = Some(1))
    pipeline.initialLoad(exportDir)
    (1 to 2).foreach { i =>
      writeLines(cdcDir, s"batch$i.json",
        Seq(gen.envelope("INSERT", gen.member(), t0 + i * 10000)))
      clock = t0 + i * 60000
      pipeline.syncAvailable(cdcDir, ckptDir)
    }
    // three states existed per table (load + two merges); only the live
    // version may remain on disk after the per-sync sweep: its manifest
    // and its one bucket's snapshot
    def names(dir: java.nio.file.Path) = scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq.sorted)
    val member = Paths.get(storeRoot, "member")
    val kept = names(member).filter(_.startsWith("_MANIFEST.")) ++ names(member.resolve("b0"))
    assert(kept == Seq("_MANIFEST.2", "v2"),
      s"retention must keep only the live snapshot, found $kept")
    assert(pipeline.member.count() == 3, "live table intact after sweeps")
  }

  test("poison CDC line is quarantined, clean records still merge") {
    val gen = new CdcGen.Gen(19)
    val exportDir = tmpDir("qexport")
    val cdcDir = tmpDir("qcdc")
    val ckptDir = tmpDir("qckpt")
    val storeRoot = tmpDir("qstore")
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    val poison = "this is {{{ not json"
    writeLines(cdcDir, "batch1.json", Seq(
      gen.envelope("INSERT", gen.member(), t0 + 10000),
      poison,
      gen.envelope("INSERT", gen.member(), t0 + 11000)))
    clock = t0 + 60000
    pipeline.syncAvailable(cdcDir, ckptDir)

    assert(pipeline.member.count() == 3,
      "both clean inserts must merge despite the poison line")
    val q = pipeline.quarantine
    assert(q.count() == 1, "exactly the poison line is quarantined")
    assert(q.select($"raw_line").as[String].head() == poison,
      "quarantine must keep the raw text for triage")
  }

  test("CdcSource seam: a payload-string (Kinesis-shaped) source drives the same merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{CdcStream, PayloadCdcSource}

    val gen = new CdcGen.Gen(23)
    val exportDir = tmpDir("msexport")
    val ckptDir = tmpDir("msckpt")
    val storeRoot = tmpDir("msstore")
    val quarantineDir = tmpDir("msquarantine") + "/q"
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    // records arrive as opaque payload STRINGS (the Kinesis `data` shape),
    // not as files — same envelopes, same poison-line triage
    val poison = "this is {{{ not json"
    val ms = MemoryStream[String](spark)
    ms.addData(
      gen.envelope("INSERT", gen.member(), t0 + 10000),
      poison,
      gen.envelope("INSERT", gen.member(), t0 + 11000))
    clock = t0 + 60000
    val stream = new CdcStream(spark, pipeline.store, () => new Timestamp(clock))
    val q = stream.start(PayloadCdcSource(ms.toDS()), ckptDir,
      Trigger.AvailableNow(), Some(quarantineDir))
    q.awaitTermination()

    assert(pipeline.member.count() == 3,
      "both clean payload inserts must merge through the trait")
    val quarantined = spark.read.parquet(quarantineDir)
    assert(quarantined.count() == 1, "exactly the poison payload is quarantined")
    assert(quarantined.select($"raw_line").as[String].head() == poison)
  }

  test("CdcSource seam: binary payloads (the from_varbyte wire shape) decode and merge") {
    // the TRUE Kinesis wire format: records arrive as `data: binary` and
    // the UTF-8 decode is a cast in the plan (ref scripts/setup_redshift
    // .sh:95 `from_varbyte(kinesis_data,'utf-8')`) — P3's streaming leg
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{BinaryPayloadCdcSource, CdcStream}

    val gen = new CdcGen.Gen(31)
    val exportDir = tmpDir("binexport")
    val ckptDir = tmpDir("binckpt")
    val storeRoot = tmpDir("binstore")
    val quarantineDir = tmpDir("binquarantine") + "/q"
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    val poison = "this is {{{ not json"
    val ms = MemoryStream[Array[Byte]](spark)
    ms.addData(
      gen.envelope("INSERT", gen.member(), t0 + 10000)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      poison.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      gen.envelope("INSERT", gen.member(), t0 + 11000)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    clock = t0 + 60000
    val stream = new CdcStream(spark, pipeline.store, () => new Timestamp(clock))
    val q = stream.start(BinaryPayloadCdcSource(ms.toDS()), ckptDir,
      Trigger.AvailableNow(), Some(quarantineDir))
    q.awaitTermination()

    assert(pipeline.member.count() == 3,
      "both clean binary payloads must decode and merge through the trait")
    val quarantined = spark.read.parquet(quarantineDir)
    assert(quarantined.count() == 1, "the poison bytes are quarantined")
    assert(quarantined.select($"raw_line").as[String].head() == poison,
      "quarantine keeps the DECODED raw text for triage")
  }

  test("CdcSource seam: the full Kinesis connector record (metadata columns " +
    "+ opaque blob) drives the merge; envelope parity vs Extraction.extract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{CdcStream, KinesisRecordCdcSource}

    val gen = new CdcGen.Gen(41)
    val exportDir = tmpDir("krexport")
    val ckptDir = tmpDir("krckpt")
    val storeRoot = tmpDir("krstore")
    val quarantineDir = tmpDir("krquarantine") + "/q"
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    // records carry the connector's metadata AS COLUMNS and ONLY the
    // DynamoDB stream fields inside the blob (setup_redshift.sh:91-104)
    val m1 = gen.member()
    val r1 = gen.kinesisRecord("INSERT", m1, t0 + 10000, t0 + 10120)
    val poison = CdcGen.KinesisRecord(
      "this is {{{ not json".getBytes("UTF-8"),
      new Timestamp(t0 + 10500), "M_poisonpk", "shardId-000000000007", "99")
    val r2 = gen.kinesisRecord("INSERT", gen.member(), t0 + 11000)
    val ms = MemoryStream[CdcGen.KinesisRecord](spark)
    ms.addData(r1, poison, r2)
    clock = t0 + 60000
    val stream = new CdcStream(spark, pipeline.store, () => new Timestamp(clock))
    val src = KinesisRecordCdcSource(ms.toDF())
    val q = stream.start(src, ckptDir, Trigger.AvailableNow(),
      Some(quarantineDir))
    q.awaitTermination()

    assert(pipeline.member.count() == 3,
      "both clean connector records must merge through the seam")
    val quarantined = spark.read.parquet(quarantineDir)
    assert(quarantined.count() == 1, "exactly the poison blob is quarantined")
    assert(quarantined.select($"raw_line").as[String].head() ==
      "this is {{{ not json")

    // envelope parity: Extraction.extract over this source's envelopes
    // must reproduce the reference MV's columns — the metadata straight
    // from the RECORD (not the payload), the typed fields from the blob
    val batch = Seq(r1).toDF()
    val mv = graft.ingest.Extraction.extract(
      KinesisRecordCdcSource(batch).load(spark)
        .filter(col(graft.streaming.CdcSource.CorruptCol).isNull)
        .drop(graft.streaming.CdcSource.CorruptCol))
    val row = mv.first()
    assert(row.getAs[Timestamp]("approximatearrivaltimestamp") ==
      new Timestamp(t0 + 10120))
    assert(row.getAs[String]("partitionkey") == m1.pk)
    assert(row.getAs[String]("shardid") == "shardId-000000000000")
    assert(row.getAs[String]("eventName") == "INSERT")
    assert(row.getAs[String]("pk") == m1.pk && row.getAs[String]("sk") == m1.sk)
    assert(row.getAs[String]("tableName") == "activity-tracking")
    assert(mv.columns.toSeq == graft.model.CdcSchemas.extractColumns,
      "MV column list must match setup_redshift.sh:89-104 order")
  }

  test("quarantine replay: a corrected poison line merges; unfixable lines stay") {
    val gen = new CdcGen.Gen(37)
    val exportDir = tmpDir("rqexport")
    val cdcDir = tmpDir("rqcdc")
    val ckptDir = tmpDir("rqckpt")
    val storeRoot = tmpDir("rqstore")
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    // one clean insert, one fixable poison (garbage prefixed to a valid
    // envelope — the classic log-framing/concat producer defect; trailing
    // garbage won't do, Jackson tolerates it), one hopeless poison
    val fixable = "<<<garbage " + gen.envelope("INSERT", gen.member(), t0 + 20000)
    val hopeless = "this is {{{ not json"
    writeLines(cdcDir, "batch1.json", Seq(
      gen.envelope("INSERT", gen.member(), t0 + 10000), fixable, hopeless))
    clock = t0 + 60000
    pipeline.syncAvailable(cdcDir, ckptDir)
    assert(pipeline.member.count() == 2, "clean insert merged, poison held back")
    assert(pipeline.quarantine.count() == 2)

    // fix-and-replay: strip the trailing garbage; the corrected line goes
    // through the same parse + extraction + watermark-gated merge
    clock = t0 + 120000
    val (replayed, remaining) = pipeline.replayQuarantine(
      regexp_replace(_, "^<<<garbage ", ""))
    assert(replayed == 1 && remaining == 1, s"($replayed, $remaining)")
    assert(pipeline.member.count() == 3, "the corrected line merged on replay")
    val left = pipeline.quarantine
    assert(left.count() == 1)
    assert(left.select($"raw_line").as[String].head() == hopeless,
      "the unfixable line keeps its ORIGINAL raw text, not the failed fix")

    // replay with no fix is a no-op: the hopeless line stays put
    val (r2, n2) = pipeline.replayQuarantine()
    assert(r2 == 0 && n2 == 1)
    assert(pipeline.member.count() == 3)

    // crash-window recovery: the retire step deletes the quarantine and
    // THEN promotes `.replay` — simulate dying between the two (the only
    // copy of the evidence sits in `.replay`) and check the next call
    // promotes it back instead of destroying it as stale scratch
    val qp = java.nio.file.Paths.get(s"$storeRoot/_quarantine")
    java.nio.file.Files.move(qp,
      java.nio.file.Paths.get(s"$storeRoot/_quarantine.replay"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val (r3, n3) = pipeline.replayQuarantine()
    assert(r3 == 0 && n3 == 1,
      s"recovered .replay must hold the still-bad line: ($r3, $n3)")
    assert(pipeline.quarantine.select($"raw_line").as[String].head() == hopeless,
      "the recovered quarantine keeps the original poison evidence")
  }

  test("payload seam replay: re-delivering the same payload is a no-op") {
    // The at-least-once contract in CdcSource.scala: a Kinesis-shaped
    // connector may re-deliver records after a failover; the merge's
    // `>`-watermark (ref incremental_sync_members.sql:31) must make the
    // duplicate delivery a no-op THROUGH the payload seam, not just on the
    // batch merge (which "merge is idempotent" below already pins).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{CdcStream, PayloadCdcSource}

    val gen = new CdcGen.Gen(29)
    val exportDir = tmpDir("rpexport")
    val ckptDir = tmpDir("rpckpt")
    val storeRoot = tmpDir("rpstore")
    val m0 = gen.member(); val q0 = gen.quest()
    val mq0 = gen.memberQuest(m0.pk.stripPrefix("M_"), q0.pk.stripPrefix("Q_"))
    writeLines(exportDir, "data.json", Seq(m0, q0, mq0).map(gen.exportLine))

    var clock = t0
    val pipeline = new Pipeline(spark, storeRoot, () => new Timestamp(clock))
    pipeline.initialLoad(exportDir)

    val envelope = gen.envelope("INSERT", gen.member(), t0 + 10000)
    val ms = MemoryStream[String](spark)
    val stream = new CdcStream(spark, pipeline.store, () => new Timestamp(clock))

    ms.addData(envelope)
    clock = t0 + 60000
    stream.start(PayloadCdcSource(ms.toDS()), ckptDir, Trigger.AvailableNow(),
      None).awaitTermination()
    val afterFirst = pipeline.member.collect().map(_.toSeq).sortBy(_.toString)
    assert(afterFirst.length == 2, "initial member + the new insert")

    // the SAME payload string arrives again in a later trigger (replay)
    ms.addData(envelope)
    clock = t0 + 120000
    stream.start(PayloadCdcSource(ms.toDS()), ckptDir, Trigger.AvailableNow(),
      None).awaitTermination()
    val afterReplay = pipeline.member.collect().map(_.toSeq).sortBy(_.toString)
    assert(afterReplay.toSeq == afterFirst.toSeq,
      "replayed payload is at-or-below the watermark: every column of the " +
        "target, syncTimestamp included, must be byte-identical")
  }

  test("payload parse quarantines an all-null envelope, not just null structs") {
    // PERMISSIVE from_json signals malformed input in version-dependent
    // shapes (SPARK-25243 lineage); on some versions a poison payload
    // parses to a NON-null struct whose fields are all null with the
    // corrupt column unset. Such a record carries zero envelope data and
    // must land in quarantine with its raw payload, never pass as "clean".
    import graft.streaming.PayloadCdcSource
    import graft.streaming.CdcSource.CorruptCol

    val emptyObj = "{}" // valid JSON, zero envelope fields, no corrupt field
    val unrelated = """{"somethingElse":42}"""
    val clean = new CdcGen.Gen(31).envelope("INSERT", new CdcGen.Gen(31).member(), t0)
    val out = PayloadCdcSource.parse(
      Seq(emptyObj, unrelated, clean).toDF("payload"), "payload")
    val corrupt = out.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol)).as[String].collect().sorted
    assert(corrupt.toSeq == Seq(emptyObj, unrelated).sorted,
      "payloads yielding no envelope data are quarantined with their raw text")
    assert(out.filter(col(CorruptCol).isNull).count() == 1,
      "the clean envelope still parses as clean")
  }

  test("merge is idempotent: re-applying a batch is a no-op") {
    val gen = new CdcGen.Gen(4)
    val m = gen.member()
    val envLines = Seq(gen.envelope("INSERT", m, t0 + 1000))
    val raw = spark.read.schema(CdcSchemas.envelope).json(envLines.toDS)
    val extracted = Extraction.extract(raw)

    val loadTime = new Timestamp(t0)
    val target0 = Seq(
      ("seed-member", "Seed", loadTime, loadTime)
    ).toDF("memberId", "memberName", "approximateUpdateTimestamp", "syncTimestamp")

    val syncTime = new Timestamp(t0 + 60000)
    val once = Merge.syncEntity(target0, extracted, Merge.members, syncTime).get
    val onceRows = once.collect().sortBy(_.getString(0))
    assert(onceRows.length == 2)
    // replay the same batch against the merged target: event ts is now ≤
    // watermark, so nothing stages and the target is unchanged
    val twice = Merge.syncEntity(
      spark.createDataFrame(spark.sparkContext.parallelize(onceRows.toIndexedSeq), once.schema),
      extracted, Merge.members, new Timestamp(t0 + 120000)).get
    assert(twice.collect().sortBy(_.getString(0)).toSeq == onceRows.toSeq)
  }

  test("merge guard: empty target aborts (no initial load)") {
    val empty = Seq.empty[(String, String, Timestamp, Timestamp)]
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "syncTimestamp")
    val gen = new CdcGen.Gen(5)
    val raw = spark.read.schema(CdcSchemas.envelope)
      .json(Seq(gen.envelope("INSERT", gen.member(), t0)).toDS)
    assert(Merge.syncEntity(empty, Extraction.extract(raw), Merge.members,
      new Timestamp(t0)).isEmpty)
  }

  test("member_quest merge deletes by memberQuestId, not questId (§2.8d fix)") {
    val loadTime = new Timestamp(t0)
    val target = Seq(
      ("mq-1", "m-1", "q-shared", 10.0, loadTime, loadTime),
      ("mq-2", "m-2", "q-shared", 20.0, loadTime, loadTime)
    ).toDF("memberQuestId", "memberId", "questId", "dollarsEarned",
           "approximateUpdateTimestamp", "syncTimestamp")
    val gen = new CdcGen.Gen(6)
    val item = CdcGen.Item("MQ#M_m-1", "MQ_mq-1",
      Map("questId" -> Left("q-shared"), "dollarsEarned" -> Right(55.0)))
    val raw = spark.read.schema(CdcSchemas.envelope)
      .json(Seq(gen.envelope("MODIFY", item, t0 + 5000)).toDS)
    val merged = Merge.syncEntity(target, Extraction.extract(raw),
      Merge.memberQuests, new Timestamp(t0 + 60000)).get
    val rows = merged.orderBy($"memberQuestId").collect()
    assert(rows.length == 2, "reference bug would wipe both rows sharing q-shared")
    assert(rows(0).getAs[Double]("dollarsEarned") == 55.0)
    assert(rows(1).getAs[Double]("dollarsEarned") == 20.0)
  }
}

/** Static gate for the statement-runner async-shape case: executors
  * reach it through the module field (local mode, one JVM), keeping the
  * slow-UDF closure serializable. */
object StatementGate {
  @volatile var open: Boolean = false
}
