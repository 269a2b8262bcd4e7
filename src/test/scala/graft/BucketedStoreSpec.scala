package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sync.{BucketState, BucketedTableStore}
import graft.sync.BucketedTableStore.Manifest

/** Partition-level snapshot store: merge touches only the buckets holding
  * staged keys, untouched buckets keep their bytes and version, and the
  * merged table state equals the whole-table delete-then-insert semantics.
  */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = new Timestamp(1660000000000L)
  private val t1 = new Timestamp(1660000060000L)

  private def target() = Seq(
    ("m1", "alice", t0), ("m2", "bob", t0), ("m3", "carol", t0),
    ("m4", "dave", t0), ("m5", "eve", t0), ("m6", "frank", t0))
    .toDF("memberId", "memberName", "approximateUpdateTimestamp")
    .withColumn("syncTimestamp", lit(t0))

  test("bucketed merge equals whole-table upsert semantics") {
    val root = tmpDir("bstore")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId",
      sortBy = Some("approximateUpdateTimestamp"))

    val stage = Seq(
      ("m2", "bob2", t1, "MODIFY"),   // update
      ("m7", "grace", t1, "INSERT"),  // new key
      ("m3", "carol", t1, "REMOVE"))  // delete
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)

    val got = store.read("member").get
      .select($"memberId", $"memberName", $"syncTimestamp")
      .as[(String, String, Timestamp)].collect().toSet
    assert(got == Set(
      ("m1", "alice", t0), ("m4", "dave", t0), ("m5", "eve", t0),
      ("m6", "frank", t0),                       // untouched survive
      ("m2", "bob2", t1), ("m7", "grace", t1))) // upserted stamped t1
  }

  test("a small copy-on-write merge takes its bucket census in one job, with unchanged contents") {
    val store = new BucketedTableStore(spark, tmpDir("bstore-census"), nBuckets = 4)
    val before = (1 to 200).map(i => (s"m$i", s"name$i", t0)).toDF(
      "memberId", "memberName", "approximateUpdateTimestamp").withColumn("syncTimestamp", lit(t0))
    store.writeAll("member", before, "memberId")
    // 100 changes: 60 updates, 20 deletes, 20 new keys
    val stage = (141 to 240).map { i =>
      (s"m$i", s"new$i", t1, if (i > 200) "INSERT" else if (i <= 160) "REMOVE" else "MODIFY")
    }.toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    val jobs = jobsDuring(store.merge("member", stage, "memberId", t1))
    info(s"4-bucket copy-on-write merge of 100 changes: $jobs jobs")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"memberId", $"memberName", $"approximateUpdateTimestamp", $"syncTimestamp")
        .as[(String, String, Timestamp, Timestamp)].collect().toSet
    assert(rows(store.read("member").get) ==
      rows(graft.sync.Merge.applyStage(before, stage, "memberId", t1)))
    assert(jobs <= 5, s"the bucket census of a small stage must not shuffle ($jobs jobs)")
  }

  // the schema "sidecars" are the manifest's schema lines now
  test("schema sidecars: reads serve the persisted schema, and a missing " +
    "or corrupt one degrades to inference, never to an error") {
    val root = tmpDir("bstore-schema")
    val store = new BucketedTableStore(spark, root, nBuckets = 4,
      deltaMerges = true, autoCompactAfter = 8)
    store.writeAll("member", target(), "memberId")
    val stage = Seq(("m2", "bob2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.applyMerge("member", stage, "memberId", t1)
    def state() = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)]
      .collect().toSet
    val expected = state()
    assert(expected.contains(("m2", "bob2")))
    // both schema lines are recorded after a writeAll + delta commit, and
    // a read planned over them runs no inference job
    val mf = java.nio.file.Paths.get(root, "member", "_MANIFEST.1")
    val lines = java.nio.file.Files.readAllLines(mf).asScala.toSeq
    assert(lines.exists(_.startsWith("schema ")) && lines.exists(_.startsWith("dschema ")))
    assert(jobsDuring(store.read("member")) == 0, "the recorded schemas serve the read")
    // corrupt one, delete the other: reads must still produce the same
    // table (inference fallback), not fail on the manifest
    java.nio.file.Files.write(mf, lines.flatMap {
      case l if l.startsWith("schema ") => Some("schema {not json")
      case l if l.startsWith("dschema ") => None
      case l => Some(l)
    }.mkString("\n").getBytes)
    assert(jobsDuring(store.read("member")) > 0, "the read infers the lost schemas")
    assert(state() == expected,
      "reads must degrade to schema inference when schema lines are lost")
  }

  test("time travel reads its own version's recorded schema, with no inference job") {
    val store = new BucketedTableStore(spark, tmpDir("bstore-schema-hist"), nBuckets = 4)
    store.writeAll("member", target(), "memberId")                            // manifest 0
    store.writeAll("member", target().withColumnRenamed("memberName", "displayName"),
      "memberId")                                                             // manifest 1
    var historical: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { historical = store.readAtManifest("member", 0).get } == 0,
      "manifest 0 records its own schema: planning its read infers nothing")
    assert(historical.columns.contains("memberName") &&
      !historical.columns.contains("displayName"))
    assert(historical.select($"memberName").as[String].collect().toSet ==
      Set("alice", "bob", "carol", "dave", "eve", "frank"))
  }

  test("merge under a column that is not the table's key raises and changes nothing") {
    val root = tmpDir("bstore-key")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")
    def rows() = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    val (rowsBefore, statesBefore) = (rows(), store.bucketStates("member"))
    val stage = Seq(("m2", "bob2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    val e = intercept[IllegalArgumentException](
      store.merge("member", stage, "memberName", t1))
    assert(e.getMessage.contains("keyed by 'memberId'"))
    assert(rows() == rowsBefore && store.bucketStates("member") == statesBefore)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "member", "_MANIFEST.1")),
      "no version is published")
    intercept[IllegalArgumentException](store.lookup("member", "memberName", Seq("bob")))
  }

  test("merge leaves untouched buckets at their old version") {
    val root = tmpDir("bstore2")
    val store = new BucketedTableStore(spark, root, nBuckets = 8)
    store.writeAll("member", target(), "memberId")
    val before = store.manifest("member").get

    val stage = Seq(("m1", "alice2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)
    val after = store.manifest("member").get

    val touchedBucket = Seq("m1").toDF("memberId")
      .select(store.bucketCol("memberId")).head().getLong(0).toInt
    assert(after(touchedBucket) == before(touchedBucket) + 1,
      "touched bucket must advance")
    val untouched = before.keySet - touchedBucket
    untouched.foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b must keep its version")
    }
    assert(untouched.nonEmpty, "fixture should spread keys over >1 bucket")
  }

  test("REMOVE draining a whole bucket leaves a valid empty snapshot") {
    val root = tmpDir("bstore3")
    val store = new BucketedTableStore(spark, root, nBuckets = 2)
    val one = Seq(("solo", "s", t0))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp")
      .withColumn("syncTimestamp", lit(t0))
    store.writeAll("member", one, "memberId")
    val stage = Seq(("solo", "s", t1, "REMOVE"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)
    assert(store.read("member").get.count() == 0)
  }

  test("time travel: a prior manifest reconstructs the pre-merge state") {
    val root = tmpDir("bstore5")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")
    val stage = Seq(("m2", "bob2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)

    val before = store.readAtManifest("member", 0).get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    assert(before("m2" -> "bob") && !before("m2" -> "bob2"),
      "manifest 0 must still show the pre-merge row")
    val now = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    assert(now("m2" -> "bob2") && !now("m2" -> "bob"))
  }

  test("time travel after a schema-changing writeAll returns the files' true schema") {
    // Each manifest records its own version's schema; binding old files
    // to the live schema would bring renamed/dropped columns back as
    // silent nulls. Scenario: v0 has memberName; a later writeAll renames
    // it to displayName; readAtManifest(0) must still surface memberName
    // with its real values.
    val root = tmpDir("bstore-schemav")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")
    val v0 = store.manifest("member"); assert(v0.nonEmpty)
    val renamed = target().withColumnRenamed("memberName", "displayName")
    store.writeAll("member", renamed, "memberId")

    val live = store.read("member").get
    assert(live.columns.contains("displayName") &&
      !live.columns.contains("memberName"))
    val historical = store.readAtManifest("member", 0).get
    assert(historical.columns.contains("memberName"),
      "historical read must carry the old schema, not the live sidecar's")
    val names = historical.select($"memberName").as[String].collect().toSet
    assert(names.contains("alice") && !names.contains(null),
      "old column values must survive, not degrade to nulls")
  }

  test("merge inserts into a bucket that never had a manifest entry") {
    val root = tmpDir("bstore6")
    val store = new BucketedTableStore(spark, root, nBuckets = 2)
    val one = Seq(("solo", "s", t0))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp")
      .withColumn("syncTimestamp", lit(t0))
    store.writeAll("member", one, "memberId") // one bucket stays empty
    assert(store.manifest("member").get.size == 1)

    // find a key hashing to the OTHER (manifest-less) bucket
    val soloBucket = Seq("solo").toDF("memberId")
      .select(store.bucketCol("memberId")).head().getLong(0)
    val newKey = (1 to 100).map(i => s"new$i").find { k =>
      Seq(k).toDF("memberId").select(store.bucketCol("memberId"))
        .head().getLong(0) != soloBucket
    }.get

    val stage = Seq((newKey, "n", t1, "INSERT"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)
    val got = store.read("member").get
      .select($"memberId").as[String].collect().toSet
    assert(got == Set("solo", newKey))
  }

  test("vacuum: old manifests and unreferenced bucket versions deleted, live read intact") {
    val root = tmpDir("bstore7")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")
    // two merges on the same key → that bucket gets three versions
    Seq(t1, new Timestamp(t1.getTime + 60000)).zipWithIndex.foreach { case (t, i) =>
      val stage = Seq(("m2", s"bob$i", t, "MODIFY"))
        .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
      store.merge("member", stage, "memberId", t)
    }
    val liveBefore = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet

    val (manifestsDropped, dirsDropped) = store.vacuum("member", keepManifests = 1)
    assert(manifestsDropped == 2, "manifests 0 and 1 must be swept")
    assert(dirsDropped >= 2, "the two superseded versions of m2's bucket must be swept")

    assert(store.readAtManifest("member", 0).isEmpty,
      "time travel below the retention floor must be gone")
    val liveAfter = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    assert(liveAfter == liveBefore, "the live snapshot must be untouched")
    // sweep is idempotent
    assert(store.vacuum("member", keepManifests = 1) == ((0, 0)))
  }

  test("vacuum racing a lazy historical read fails loudly, never partially") {
    // Same freeze-or-fail contract DedupIngest gives in-flight decisions:
    // a time-travel frame planned BEFORE a retention sweep must either
    // error at execution or have been refused up front — silently
    // returning whichever buckets survived the sweep would be a wrong
    // answer wearing a green checkmark.
    val root = tmpDir("bstore-vrace")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")
    val stage = Seq(("m2", "bob2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)

    // plan (lazily, no action yet) two historical reads of manifest 0
    val held = store.readAtManifest("member", 0).get
    val heldProbe = store.readWhereInAt("member", 0, "memberId", Seq("m2")).get

    // force staleness detection even if the session flips the global
    // ignore-missing switch — the store pins it off per-read
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      store.vacuum("member", keepManifests = 1)

      // refused by retention: the dropped manifest is no longer addressable
      assert(store.readAtManifest("member", 0).isEmpty)
      assert(store.readWhereInAt("member", 0, "memberId", Seq("m2")).isEmpty)

      def causes(t: Throwable, seen: Int = 0): Seq[Throwable] =
        if (t == null || seen > 10) Nil else t +: causes(t.getCause, seen + 1)
      def failsLoudly(df: org.apache.spark.sql.DataFrame): Unit = {
        val e = intercept[Exception](df.count())
        assert(causes(e).exists(c => c.isInstanceOf[java.io.FileNotFoundException]
            || String.valueOf(c.getMessage).toLowerCase.contains("does not exist")
            || String.valueOf(c.getMessage).toLowerCase.contains("file not found")),
          s"expected a missing-file failure, got: $e")
      }
      failsLoudly(held)
      failsLoudly(heldProbe)
    } finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
  }

  test("a handle with another bucket count reads the table but every write verb refuses it") {
    val root = tmpDir("bstore-count")
    val wide = new BucketedTableStore(spark, root, nBuckets = 16)
    wide.writeAll("member", target(), "memberId")
    val narrow = new BucketedTableStore(spark, root, nBuckets = 8, deltaMerges = true)
    def rows(st: BucketedTableStore) = st.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    val (before, states) = (rows(wide), wide.bucketStates("member"))
    assert(rows(narrow) == before, "reads take the bucket count from the manifest")
    val stage = Seq(("m2", "bob2", t1, "MODIFY"), ("m9", "ivan", t1, "INSERT"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    Seq[(String, BucketedTableStore => Any)](
      "merge" -> (_.merge("member", stage, "memberId", t1)),
      "applyMerge" -> (_.applyMerge("member", stage, "memberId", t1)),
      "mergeDelta" -> (_.mergeDelta("member", stage, "memberId", t1)),
      "compact" -> (_.compact("member")),
      "lookup" -> (_.lookup("member", "memberId", Seq("m2"))),
      "rebucket" -> (_.rebucket("member", "memberId", 4, tmpDir("bstore-count-re")))
    ).foreach { case (verb, call) =>
      val e = intercept[IllegalArgumentException](call(narrow))
      assert(e.getMessage.contains("16 buckets, not 8"), s"$verb: ${e.getMessage}")
    }
    assert(wide.bucketStates("member") == states && rows(wide) == before,
      "a refused verb publishes nothing")
    wide.merge("member", stage, "memberId", t1)
    assert(rows(narrow) == before - ("m2" -> "bob") + ("m2" -> "bob2") + ("m9" -> "ivan"))
  }

  test("lookup reads only the probed keys' bucket files") {
    val root = tmpDir("bstore8")
    val store = new BucketedTableStore(spark, root, nBuckets = 8)
    store.writeAll("member", target(), "memberId")

    val df = store.lookup("member", "memberId", Seq("m2", "m5")).get
    val got = df.select($"memberId", $"memberName").as[(String, String)]
      .collect().toSet
    assert(got == Set("m2" -> "bob", "m5" -> "eve"))

    val wantedBuckets = Seq("m2", "m5").map { k =>
      Seq(k).toDF("memberId").select(store.bucketCol("memberId"))
        .head().getLong(0).toInt
    }.toSet
    val touchedDirs = df.inputFiles.map { f =>
      f.split('/').find(_.matches("b\\d+")).get
    }.toSet
    assert(touchedDirs == wantedBuckets.map(b => s"b$b"),
      s"probe must open only the keys' buckets, opened $touchedDirs")
  }

  test("rebucket rewrites the live snapshot under a new bucket count") {
    val root = tmpDir("bstore9")
    val store = new BucketedTableStore(spark, root, nBuckets = 2)
    store.writeAll("member", target(), "memberId")
    val before = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet

    val wide = store.rebucket("member", "memberId", newN = 8,
      newRoot = tmpDir("bstore9-wide"))
    val after = wide.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    assert(after == before, "rebucket must preserve contents exactly")
    assert(wide.manifest("member").get.keySet.max < 8)
    assert(wide.lookup("member", "memberId", Seq("m4")).get.count() == 1)
  }

  test("stale manifest commit is rejected (lost-update protection)") {
    val root = tmpDir("bstore10")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId") // manifest 0
    // writer A captures base 0; writer B lands a real merge first
    val stage = Seq(("m2", "bob2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1) // manifest 1
    val liveBefore = store.bucketStates("member").get

    // A's publish against its stale base must refuse, not clobber B
    intercept[java.util.ConcurrentModificationException] {
      store.commitManifest("member", Manifest(Map(0 -> new BucketState(99, Nil)), "memberId"),
        Some(0))
    }
    assert(store.bucketStates("member").get == liveBefore,
      "refused commit must leave the live manifest untouched")

    // the retry path — re-read the base, commit against it — succeeds
    store.commitManifest("member", Manifest(liveBefore, "memberId"), Some(1))
    assert(store.readAtManifest("member", 2).isDefined)
  }

  test("stale bucketed merge leaves the winner's bucket data intact") {
    val root = tmpDir("bstore-occ2")
    val store = new BucketedTableStore(spark, root, nBuckets = 2)
    store.writeAll("member", target(), "memberId")   // manifest 0
    // winner lands a merge first → manifest 1
    val winner = Seq(("m2", "winner-bob", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", winner, "memberId", t1)
    val winnerRows = store.read("member").get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet
    // stale writer: same base-0 manifest, overlapping bucket versions —
    // applyMergeAt-style race simulated by committing through merge with a
    // rolled-back pointer capture is not reachable from the public API, so
    // drive writeIfBase's bucketed analogue directly: a merge whose base
    // was read before the winner committed
    val stale = Seq(("m2", "stale-bob", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    intercept[java.util.ConcurrentModificationException] {
      store.mergeAtBase("member", stale, "memberId", t1, Some(0))
    }
    assert(store.read("member").get
        .select($"memberId", $"memberName").as[(String, String)].collect().toSet
      == winnerRows,
      "stale merge must not clobber the winner's published bucket versions")
  }

  test("stale writeAll refuses before it touches the winner's files") {
    val root = tmpDir("bstore-occ3")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    def rows(n: Int, prefix: String) = (1L to n).map(i => (i, s"$prefix$i", t0))
      .toDF("id", "memberName", "approximateUpdateTimestamp")
      .withColumn("syncTimestamp", lit(t0))
    def write(df: org.apache.spark.sql.DataFrame, base: Option[Int],
        rangeBucket: Boolean = true): Unit =
      store.writeAllAtBase("member", df, "id", base, statsCols = Seq("id"),
        rangeBucket = rangeBucket, blooms = Seq(("memberName", 1024, 3)))
    write(rows(40, "a"), None)                                  // manifest 0
    write(rows(30, "w"), Some(0))                               // the winner: manifest 1
    val dir = java.nio.file.Paths.get(root, "member")
    def entries() = scala.util.Using.resource(java.nio.file.Files.list(dir))(
      _.iterator().asScala.toSeq)
    def files() = entries().filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toMap
    def rowSet() = store.read("member").get
      .select($"id", $"memberName").as[(Long, String)].collect().toSet
    val (winnerRows, winnerZones, winnerFiles) = (rowSet(), store.zoneMaps("member"), files())
    assert(winnerFiles("_MANIFEST.1").linesIterator.exists(_.startsWith("route range ")) &&
      winnerFiles.contains("_BLOOM.1"))
    // a writer that read base 0 before the winner committed, routing by
    // hash: it must refuse before it moves a dir or rewrites a sidecar
    intercept[java.util.ConcurrentModificationException] {
      write(rows(20, "s"), Some(0), rangeBucket = false)
    }
    assert(rowSet() == winnerRows, "stale writeAll must not clobber the winner's rows")
    assert(store.zoneMaps("member") == winnerZones, "nor its zone maps")
    assert(files() == winnerFiles, "nor its sidecars, routing or manifest")
    assert(!entries().exists(_.getFileName.toString.startsWith("_staging")),
      "the refused stage is removed")
  }

  // --- merge-on-read (mergeDelta / compact) ---------------------------

  private def stageBatch1 = Seq(
    ("m2", "bob2", t1, "MODIFY"),   // update
    ("m7", "grace", t1, "INSERT"),  // new key
    ("m3", "carol", t1, "REMOVE"))  // delete → tombstone on the MOR path
    .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")

  private def stageBatch2(t: Timestamp) = Seq(
    ("m2", "bob3", t, "MODIFY"),    // second update of the same key
    ("m7", "grace", t, "REMOVE"))   // delete a key that only exists in a delta
    .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")

  private def snapshot(store: BucketedTableStore): Set[(String, String, Timestamp)] =
    store.read("member").get
      .select($"memberId", $"memberName", $"syncTimestamp")
      .as[(String, String, Timestamp)].collect().toSet

  test("mergeDelta matches copy-on-write merge on the same stage sequence") {
    val t2 = new Timestamp(t1.getTime + 60000)
    val cow = new BucketedTableStore(spark, tmpDir("mor-cow"), nBuckets = 4)
    val mor = new BucketedTableStore(spark, tmpDir("mor-mor"), nBuckets = 4)
    Seq(cow, mor).foreach(_.writeAll("member", target(), "memberId"))

    cow.merge("member", stageBatch1, "memberId", t1)
    cow.merge("member", stageBatch2(t2), "memberId", t2)
    mor.mergeDelta("member", stageBatch1, "memberId", t1)
    mor.mergeDelta("member", stageBatch2(t2), "memberId", t2)

    assert(snapshot(mor) == snapshot(cow),
      "delta chains must resolve to the copy-on-write result (incl. REMOVEs)")
    // the MOR commits never rewrote a base: every touched bucket still
    // points at its v0 base with a non-empty delta chain
    val states = mor.bucketStates("member").get
    assert(states.values.forall(_.base == 0), "mergeDelta must not rewrite bases")
    assert(states.values.exists(_.deltas.nonEmpty), "touched buckets carry chains")
    // point lookups resolve through dirty buckets too
    val probe = mor.lookup("member", "memberId", Seq("m2")).get
      .select($"memberName").as[String].collect().toSeq
    assert(probe == Seq("bob3"))
  }

  test("a crashed predecessor's orphan dirs do not wedge the retry") {
    val t2 = new Timestamp(t1.getTime + 60000)
    val rootStr = tmpDir("mor-crash")
    val store = new BucketedTableStore(spark, rootStr, nBuckets = 4)
    store.writeAll("member", target(), "memberId") // manifest 0
    // simulate a writer that died between its dir moves and its commit:
    // moved-but-uncommitted v1 debris in every bucket dir, and the
    // table-level d1 a delta commit moves its staging dir to
    val root = java.nio.file.Paths.get(rootStr)
    (0 until 4).foreach { b =>
      val junkV = root.resolve("member").resolve(s"b$b").resolve("v1")
      java.nio.file.Files.createDirectories(junkV)
      java.nio.file.Files.write(junkV.resolve("part-junk"), "junk".getBytes)
    }
    val junkD = root.resolve("member").resolve("d1")
    java.nio.file.Files.createDirectories(junkD)
    java.nio.file.Files.write(junkD.resolve("part-junk"), "junk".getBytes)
    // the retry of the same logical merge must sweep the debris and land,
    // not throw ConcurrentModificationException forever
    store.mergeDelta("member", stageBatch1, "memberId", t1)   // manifest 1
    store.merge("member", stageBatch2(t2), "memberId", t2)    // manifest 2
    val expect = new BucketedTableStore(spark, tmpDir("mor-crash-ref"), nBuckets = 4)
    expect.writeAll("member", target(), "memberId")
    expect.merge("member", stageBatch1, "memberId", t1)
    expect.merge("member", stageBatch2(t2), "memberId", t2)
    assert(snapshot(store) == snapshot(expect),
      "post-crash retry must produce the clean-path result")
    // a committed WINNER's dirs are never treated as debris: a stale
    // writer still refuses (its dest-version dirs are <= live manifest)
    intercept[java.util.ConcurrentModificationException] {
      store.mergeAtBase("member", stageBatch1, "memberId", t1, Some(0))
    }
  }

  test("compact discharges delta chains without changing the read") {
    val t2 = new Timestamp(t1.getTime + 60000)
    val store = new BucketedTableStore(spark, tmpDir("mor-compact"), nBuckets = 4)
    store.writeAll("member", target(), "memberId")        // manifest 0
    store.mergeDelta("member", stageBatch1, "memberId", t1) // manifest 1
    store.mergeDelta("member", stageBatch2(t2), "memberId", t2) // manifest 2
    val liveBefore = snapshot(store)
    val deltaDirsBefore = store.bucketStates("member").get.values.map(_.deltas.size).sum
    assert(deltaDirsBefore >= 2, "fixture must build real chains")

    assert(store.compact("member", minDeltas = 1) > 0)    // manifest 3
    val states = store.bucketStates("member").get
    assert(states.values.forall(_.isClean), "compaction must clear every chain")
    assert(snapshot(store) == liveBefore, "compaction must not change the read")
    // compacted read touches no d-dirs: the resolve is pure base files now
    assert(!store.read("member").get.inputFiles.exists(_.contains("/d")),
      "post-compaction read must not open delta files")

    // time travel ACROSS the compaction still resolves the old chains…
    val atManifest2 = store.readAtManifest("member", 2).get
      .select($"memberId", $"memberName", $"syncTimestamp")
      .as[(String, String, Timestamp)].collect().toSet
    assert(atManifest2 == liveBefore, "pre-compaction manifest must replay its chains")
    // …and vacuum keeps the d-dirs that retained manifest still references
    store.vacuum("member", keepManifests = 2)             // keeps manifests 2,3
    assert(store.readAtManifest("member", 2).get.count() == liveBefore.size,
      "retained delta manifest must stay readable after vacuum")
    // dropping it sweeps the now-unreferenced delta dirs
    val (_, dirs) = store.vacuum("member", keepManifests = 1)
    assert(dirs >= deltaDirsBefore, "unreferenced d-dirs must be swept")
    assert(snapshot(store) == liveBefore, "live read intact after full sweep")
  }

  test("applyMerge with deltaMerges auto-compacts at the chain threshold") {
    val store = new BucketedTableStore(spark, tmpDir("mor-auto"), nBuckets = 2,
      deltaMerges = true, autoCompactAfter = 2)
    store.writeAll("member", target(), "memberId")
    def modify(i: Int): Unit = {
      val t = new Timestamp(t1.getTime + i * 60000L)
      store.applyMerge("member",
        Seq(("m2", s"bob$i", t, "MODIFY"))
          .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName"),
        "memberId", t)
    }
    modify(1)
    val b2 = Seq("m2").toDF("memberId").select(store.bucketCol("memberId"))
      .head().getLong(0).toInt
    assert(store.bucketStates("member").get(b2).deltas.size == 1,
      "below the threshold the chain must be left in place")
    modify(2) // chain reaches 2 → auto-compaction discharges it
    val st = store.bucketStates("member").get(b2)
    assert(st.isClean, s"auto-compaction must clear the chain, got $st")
    assert(st.base > 0, "compaction publishes a fresh base for the bucket")
    val row = store.lookup("member", "memberId", Seq("m2")).get
      .select($"memberName").as[String].collect().toSeq
    assert(row == Seq("bob2"), "latest delta wins through the compacted base")
  }

  test("mergeDelta and compact sweep uncommitted dest debris and land") {
    // An above-live v/d-dir with the manifest unchanged can only be a
    // crashed (or protocol-violating) writer's moved-but-uncommitted
    // leftovers: a real winner would have advanced the manifest, which
    // the pre-move base re-check catches separately. Pre-sweep, this
    // debris tripped the existing-dest check on EVERY retry of the same
    // logical commit — a permanent wedge after one mid-merge crash.
    val root = tmpDir("mor-occ")
    val store = new BucketedTableStore(spark, root, nBuckets = 2)
    store.writeAll("member", target(), "memberId")        // manifest 0
    val b2 = Seq("m2").toDF("memberId").select(store.bucketCol("memberId"))
      .head().getLong(0).toInt

    val d1 = java.nio.file.Paths.get(root, "member", "d1")
    java.nio.file.Files.createDirectories(d1)
    java.nio.file.Files.write(d1.resolve("part-junk"), "junk".getBytes)
    store.mergeDelta("member",
      Seq(("m2", "bob2", t1, "MODIFY"))
        .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName"),
      "memberId", t1)                                      // manifest 1
    assert(store.lookup("member", "memberId", Seq("m2")).get
        .select($"memberName").as[String].collect().toSeq == Seq("bob2"),
      "the retried delta commit must land over swept debris")

    // same on the compaction rewrite: junk at its dest v-dir is swept
    val afterDelta = snapshot(store)
    val v2 = java.nio.file.Paths.get(root, "member", s"b$b2", "v2")
    java.nio.file.Files.createDirectories(v2)
    java.nio.file.Files.write(v2.resolve("part-junk"), "junk".getBytes)
    assert(store.compact("member", minDeltas = 1) > 0)     // manifest 2
    assert(store.bucketStates("member").get.values.forall(_.isClean) &&
      snapshot(store) == afterDelta,
      "compaction over swept debris must publish the clean result")
  }

  private def bucketOf(store: BucketedTableStore, key: String): Int =
    Seq(key).toDF("memberId").select(store.bucketCol("memberId")).head().getLong(0).toInt

  private def changes(t: Timestamp, rows: (String, String, String)*) =
    rows.map { case (k, n, e) => (k, n, t, e) }
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")

  test("a delta row is read only where its bucket's chain lists that delta") {
    val t2 = new Timestamp(t1.getTime + 60000)
    val t3 = new Timestamp(t2.getTime + 60000)
    val store = new BucketedTableStore(spark, tmpDir("mor-admit"), nBuckets = 4)
    val ref = new BucketedTableStore(spark, tmpDir("mor-admit-ref"), nBuckets = 4)
    Seq(store, ref).foreach(_.writeAll("member", target(), "memberId")) // manifest 0
    // two fresh keys in each of two buckets A and B
    val fresh = (1 to 64).map(i => s"n$i")
    val a = bucketOf(store, fresh.head)
    val Seq(kA, kA2) = fresh.filter(bucketOf(store, _) == a).take(2)
    val b = bucketOf(store, fresh.find(bucketOf(store, _) != a).get)
    val Seq(kB, kB2) = fresh.filter(bucketOf(store, _) == b).take(2)
    val batches = Seq(
      changes(t1, (kA, "x", "INSERT"), (kB, "y", "INSERT")),   // manifest 1: A and B
      changes(t2, (kA, "x", "REMOVE")),                         // manifest 2: rewrites A
      changes(t3, (kA2, "z", "INSERT"), (kB2, "w", "INSERT")))  // manifest 3: A and B
    store.mergeDelta("member", batches(0), "memberId", t1)
    store.merge("member", batches(1), "memberId", t2)
    store.mergeDelta("member", batches(2), "memberId", t3)
    ref.merge("member", batches(0), "memberId", t1)
    ref.merge("member", batches(1), "memberId", t2)
    ref.merge("member", batches(2), "memberId", t3)
    val st = store.bucketStates("member").get
    assert(st(a) == new BucketState(2, List(3)) && st(b) == new BucketState(0, List(1, 3)),
      s"fixture chains: $st")
    // delta 1 still holds kA's row, but A's chain no longer lists it
    assert(!snapshot(store).exists(_._1 == kA), "the rewrite of A removed kA for good")
    assert(snapshot(store) == snapshot(ref), "chains must resolve to the copy-on-write result")
    val onlyA = store.readBuckets("member", Some(Set(a))).get
      .select($"memberId").as[String].collect().toSet
    assert(onlyA == snapshot(ref).map(_._1).filter(bucketOf(store, _) == a),
      "a read of A alone admits no row of another bucket from a shared delta")
  }

  test("a read after a delta that touches every bucket plans no exchange below the gate") {
    val store = new BucketedTableStore(spark, tmpDir("mor-gate"), nBuckets = 4)
    store.writeAll("member", target(), "memberId")          // manifest 0
    val perBucket = (1 to 64).map(i => s"n$i").groupBy(bucketOf(store, _)).map(_._2.head)
    store.mergeDelta("member", changes(t1, perBucket.map(k => (k, k, "INSERT")).toSeq: _*),
      "memberId", t1)                                       // manifest 1
    assert(store.bucketStates("member").get.values.forall(_.deltas == List(1)),
      "the delta must reach every bucket")
    def planOfRead() = {
      val df = store.read("member").get
      (df.queryExecution.executedPlan.toString, df.select($"memberId").as[String].collect().toSet)
    }
    val exchange = "Exchange hashpartitioning(memberId"
    val (gathered, rows) = planOfRead()
    assert(rows == (1 to 6).map(i => s"m$i").toSet ++ perBucket)
    assert(!gathered.contains(exchange), s"a small resolution plans no exchange:\n$gathered")
    GraftSession.withConf(spark, "spark.sql.files.openCostInBytes" -> "1") {
      val (shuffled, sameRows) = planOfRead()
      assert(shuffled.contains(exchange), s"above the gate the window shuffles:\n$shuffled")
      assert(sameRows == rows)
    }
  }

  test("a table-level delta dir lives while a retained manifest lists it") {
    val root = tmpDir("mor-vacuum")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")          // manifest 0
    store.mergeDelta("member", stageBatch1, "memberId", t1) // manifest 1
    val afterDelta = snapshot(store)
    val d1 = java.nio.file.Paths.get(root, "member", "d1")
    assert(java.nio.file.Files.isDirectory(d1), "a delta commit lands as one table-level dir")
    assert(store.compact("member") > 0)                     // manifest 2: no chain lists d1
    store.vacuum("member", keepManifests = 2)               // keeps manifests 1, 2
    assert(java.nio.file.Files.isDirectory(d1), "retained manifest 1 still lists d1")
    val at1 = store.readAtManifest("member", 1).get
    assert(at1.inputFiles.exists(_.contains("/d1/")), "manifest 1 reads its delta")
    assert(at1.select($"memberId", $"memberName", $"syncTimestamp")
      .as[(String, String, Timestamp)].collect().toSet == afterDelta)
    store.vacuum("member", keepManifests = 1)
    assert(!java.nio.file.Files.exists(d1), "no retained manifest lists d1")
    assert(snapshot(store) == afterDelta, "live read intact after the sweep")
  }

  test("a delta listed under every bucket reads the same rows") {
    val n = 8
    val store = new BucketedTableStore(spark, tmpDir("mor-every"), nBuckets = n)
    store.writeAll("member", target(), "memberId")          // manifest 0
    val m0 = store.bucketStates("member").get
    store.mergeDelta("member", stageBatch1, "memberId", t1) // manifest 1
    val observed = snapshot(store)
    val listed = store.bucketStates("member").get.count(_._2.deltas == List(1))
    assert(listed < n, "the fixture's delta must miss some bucket")
    // what a delta commit publishes when its bucket observation is missing:
    // delta 1 under every bucket, including buckets with no base
    store.commitManifest("member", Manifest((0 until n).map(b =>
      b -> m0.getOrElse(b, new BucketState(-1, Nil)).copy(deltas = List(1))).toMap,
      "memberId"), Some(1))
    assert(store.bucketStates("member").get.values.forall(_.deltas == List(1)))
    assert(snapshot(store) == observed)
    assert(store.lookup("member", "memberId", Seq("m2", "m3", "m7")).get
      .select($"memberId", $"memberName").as[(String, String)].collect().toSet ==
      Set(("m2", "bob2"), ("m7", "grace")))
  }

  test("an empty delta commit publishes nothing") {
    val root = tmpDir("mor-empty")
    val store = new BucketedTableStore(spark, root, nBuckets = 4, deltaMerges = true)
    store.init("member", target(), "memberId")              // manifest 0, with a wm line
    store.applyMerge("member", stageBatch1.filter($"memberId" === "none"), "memberId", t1)
    assert(store.bucketStates("member").get.values.forall(_.isClean),
      "no bucket lists a delta of no rows")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "member", "d1")))
    assert(store.recordedWatermark("member").contains(t0))
  }

  test("merge is idempotent: reapplying the same stage is a no-op") {
    val root = tmpDir("bstore4")
    val store = new BucketedTableStore(spark, root, nBuckets = 4)
    store.writeAll("member", target(), "memberId")
    val stage = Seq(("m2", "bob2", t1, "MODIFY"))
      .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")
    store.merge("member", stage, "memberId", t1)
    val once = store.read("member").get.orderBy($"memberId")
      .as[(String, String, Timestamp, Timestamp, Long)].collect().toSeq
    store.merge("member", stage, "memberId", t1)
    val twice = store.read("member").get.orderBy($"memberId")
      .as[(String, String, Timestamp, Timestamp, Long)].collect().toSeq
    assert(once == twice)
  }
}
