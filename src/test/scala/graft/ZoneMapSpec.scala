package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.sync.BucketedTableStore

/** Zone-map stats + range clustering on the bucketed store: pruned reads
  * must NEVER change a result (every test pairs a pruned read with the
  * full-scan filter), and the maps must follow the table through every
  * write discipline — exact on writeAll/copy-on-write/compact, widened on
  * delta commits. Range clustering is asserted to actually skip buckets;
  * the hash layout keeps the same answers without the skipping.
  */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = new Timestamp(1660000000000L)
  private val t1 = new Timestamp(1660000060000L)

  /** id 1..n with `day` = id (the auto-increment-id vs creation-time
    * correlation that makes zone maps pay off) and a derived date. */
  private def rows(n: Int) = (1 to n).map(i => (i.toLong, i.toLong, s"n$i"))
    .toDF("id", "day", "name")
    .withColumn("d", date_add(to_date(lit("2020-01-01")), col("day").cast("int")))
    .withColumn("syncTimestamp", lit(t0))

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select($"id", $"day", $"name").as[(Long, Long, String)]
      .collect().toSet

  test("range clustering + zone maps: pruned range read skips buckets, same answer") {
    val store = new BucketedTableStore(spark, tmpDir("zm-range"), nBuckets = 8)
    store.writeAll("t", rows(200), "id",
      statsCols = Seq("day", "d", "name"), rangeBucket = true)

    val pruned = store.prunedBuckets("t", "day", 10L, 20L).get
    val all = store.bucketStates("t").get.keySet
    assert(pruned.size < all.size,
      s"range layout must skip buckets (kept ${pruned.size} of ${all.size})")

    val got = sortedRows(store.readRange("t", "day", 10L, 20L).get)
    val want = sortedRows(store.read("t").get
      .filter($"day" >= 10L && $"day" <= 20L))
    assert(got == want && got.size == 11)

    // date-typed bounds prune through the same epoch-day domain
    val d1 = java.sql.Date.valueOf("2020-01-11")
    val d2 = java.sql.Date.valueOf("2020-01-21")
    val gotD = sortedRows(store.readRange("t", "d", d1, d2).get)
    val wantD = sortedRows(store.read("t").get.filter($"d".between(d1, d2)))
    assert(gotD == wantD && gotD.nonEmpty)
    assert(store.prunedBuckets("t", "d", d1, d2).get.size < all.size)
  }

  test("hash layout: zone maps stay correct but cannot be expected to skip") {
    val store = new BucketedTableStore(spark, tmpDir("zm-hash"), nBuckets = 8)
    store.writeAll("t", rows(200), "id", statsCols = Seq("day"))
    val got = sortedRows(store.readRange("t", "day", 10L, 20L).get)
    val want = sortedRows(store.read("t").get
      .filter($"day" >= 10L && $"day" <= 20L))
    assert(got == want && got.size == 11)
    assert(store.zoneMaps("t").nonEmpty)
  }

  test("copy-on-write merge keeps zone maps exact") {
    val store = new BucketedTableStore(spark, tmpDir("zm-cow"), nBuckets = 4)
    store.writeAll("t", rows(100), "id",
      statsCols = Seq("day"), rangeBucket = true)
    assert(store.prunedBuckets("t", "day", 900L, 1100L).get.isEmpty)

    val stage = Seq((10L, 1000L, "moved", "MODIFY"))
      .toDF("id", "day", "name", "eventName")
      .withColumn("d", date_add(to_date(lit("2020-01-01")), lit(10)))
    store.merge("t", stage, "id", t1)

    val hot = store.prunedBuckets("t", "day", 900L, 1100L).get
    assert(hot.size == 1, s"exactly id=10's bucket should match, got $hot")
    val got = sortedRows(store.readRange("t", "day", 900L, 1100L).get)
    assert(got == Set((10L, 1000L, "moved")))
  }

  test("delta commits widen zone maps; compaction retightens them") {
    val store = new BucketedTableStore(spark, tmpDir("zm-mor"), nBuckets = 4)
    store.writeAll("t", rows(100), "id",
      statsCols = Seq("day"), rangeBucket = true)

    val up = Seq((10L, 1000L, "moved", "MODIFY"))
      .toDF("id", "day", "name", "eventName")
      .withColumn("d", date_add(to_date(lit("2020-01-01")), lit(10)))
    store.mergeDelta("t", up, "id", t1)
    val hot = store.prunedBuckets("t", "day", 900L, 1100L).get
    assert(hot.size == 1)
    // the widened map is a real bound, not a missing-entry fallback
    assert(store.zoneMaps("t")(hot.head)("day") == ("1", "1000"))
    assert(sortedRows(store.readRange("t", "day", 900L, 1100L).get) ==
      Set((10L, 1000L, "moved")))

    // delete the outlier: a tombstone may not shrink the map (the delta
    // path only widens) but the READ must already be empty...
    val rm = Seq((10L, 1000L, "moved", "REMOVE"))
      .toDF("id", "day", "name", "eventName")
      .withColumn("d", date_add(to_date(lit("2020-01-01")), lit(10)))
    store.mergeDelta("t", rm, "id", t1)
    assert(store.readRange("t", "day", 900L, 1100L).get.count() == 0)
    assert(store.prunedBuckets("t", "day", 900L, 1100L).get.size == 1,
      "tombstones must not shrink bounds before compaction")

    // ...and compaction recomputes the exact bounds: the bucket drops out
    assert(store.compact("t") >= 1)
    assert(store.prunedBuckets("t", "day", 900L, 1100L).get.isEmpty)
    val want = sortedRows(store.read("t").get
      .filter($"day" >= 5L && $"day" <= 15L))
    assert(sortedRows(store.readRange("t", "day", 5L, 15L).get) == want &&
      !want.exists(_._1 == 10L))
  }

  test("time-travel range reads prune with the stats AS OF that manifest") {
    val store = new BucketedTableStore(spark, tmpDir("zm-tt"), nBuckets = 4)
    store.writeAll("t", rows(100), "id",
      statsCols = Seq("day"), rangeBucket = true)               // manifest 0
    val up = Seq((10L, 1000L, "moved", "MODIFY"))
      .toDF("id", "day", "name", "eventName")
      .withColumn("d", date_add(to_date(lit("2020-01-01")), lit(10)))
    store.mergeDelta("t", up, "id", t1)                        // manifest 1
    assert(store.compact("t") >= 1)                            // manifest 2
    val rm = Seq((10L, 1000L, "moved", "REMOVE"))
      .toDF("id", "day", "name", "eventName")
      .withColumn("d", date_add(to_date(lit("2020-01-01")), lit(10)))
    store.mergeDelta("t", rm, "id", t1)                        // manifest 3
    assert(store.compact("t") >= 1)                            // manifest 4

    // live: the outlier is gone and its bucket pruned out
    assert(store.readRange("t", "day", 900L, 1100L).get.count() == 0)
    // manifest 2 (outlier compacted in): the historical pruned read
    // finds it, and matches the full historical scan
    val at2 = sortedRows(store.readRangeAt("t", 2, "day", 900L, 1100L).get)
    assert(at2 == Set((10L, 1000L, "moved")))
    val full2 = sortedRows(store.readAtManifest("t", 2).get
      .filter($"day" >= 900L && $"day" <= 1100L))
    assert(at2 == full2)
    // manifest 0 (before the move): day=10 still in its original window
    assert(sortedRows(store.readRangeAt("t", 0, "day", 9L, 11L).get)
      .map(_._1) == Set(9L, 10L, 11L))
  }

  test("lookup routes probes through persisted range boundaries") {
    val store = new BucketedTableStore(spark, tmpDir("zm-lookup"), nBuckets = 8)
    store.writeAll("t", rows(200), "id",
      statsCols = Seq("day"), rangeBucket = true)
    val got = store.lookup("t", "id", Seq("5", "150")).get
      .select($"id").as[Long].collect().toSet
    assert(got == Set(5L, 150L))
  }

  test("lookup on a table range-routed by a date key returns the probed rows") {
    val store = new BucketedTableStore(spark, tmpDir("zm-lookup-date"), nBuckets = 8)
    store.writeAll("t", rows(200), "d", rangeBucket = true)
    // day 5 and day 180 are present; 2021-01-01 (day 366) is not
    val df = store.lookup("t", "d", Seq("2020-01-06", "2020-06-29", "2021-01-01")).get
    assert(df.select($"id").as[Long].collect().toSet == Set(5L, 180L))
    val opened = df.inputFiles.flatMap(_.split('/').find(_.matches("b\\d+"))).toSet
    assert(opened.size <= 3, s"a probe opens only its keys' buckets, opened $opened")
  }

  test("rebucket keeps the table's zone maps, blooms and range routing") {
    val store = new BucketedTableStore(spark, tmpDir("zm-rebucket"), nBuckets = 4)
    store.writeAll("t", rows(200), "id", statsCols = Seq("day"), rangeBucket = true,
      bloomCols = Seq("name"), bloomBits = 4096, bloomHashes = 3)
    val wide = store.rebucket("t", "id", newN = 8, newRoot = tmpDir("zm-rebucket-wide"))
    val all = wide.bucketStates("t").get.keySet
    assert(all == (0 until 8).toSet, "boundaries are recomputed for the new count")
    val pruned = wide.prunedBuckets("t", "day", 10L, 20L).get
    assert(pruned.size == 1, s"range clustering survives the rebucket: admitted $pruned")
    val admitted = wide.bloomAdmittedBuckets("t", "name", Seq("n150")).get
    assert(admitted.size < all.size, s"the blooms survive the rebucket: admitted $admitted")
    assert(sortedRows(wide.readRange("t", "day", 10L, 20L).get) ==
      sortedRows(store.read("t").get.filter($"day" >= 10L && $"day" <= 20L)))
    assert(sortedRows(wide.readWhereIn("t", "name", Seq("n150")).get).map(_._1) == Set(150L))
  }

  test("a plain store writes no sidecars; vacuum ages stats out with manifests") {
    val root = tmpDir("zm-plain")
    val plain = new BucketedTableStore(spark, root, nBuckets = 4)
    plain.writeAll("t", rows(20), "id")
    assert(StoreKillSpec.unversionedFiles(Paths.get(root, "t")).isEmpty)
    Seq("_STATS.0", "_BLOOM.0").foreach { f =>
      assert(!Files.exists(Paths.get(root, "t", f)), s"$f must not exist")
    }

    val sroot = tmpDir("zm-vacuum")
    val store = new BucketedTableStore(spark, sroot, nBuckets = 4)
    store.writeAll("t", rows(50), "id",
      statsCols = Seq("day"), rangeBucket = true)
    val stage = Seq((5L, 500L, "x", "MODIFY"))
      .toDF("id", "day", "name", "eventName")
      .withColumn("d", date_add(to_date(lit("2020-01-01")), lit(5)))
    store.merge("t", stage, "id", t1)
    assert(Files.exists(Paths.get(sroot, "t", "_STATS.0")))
    assert(Files.exists(Paths.get(sroot, "t", "_STATS.1")))
    store.vacuum("t", keepManifests = 1)
    assert(!Files.exists(Paths.get(sroot, "t", "_STATS.0")))
    assert(Files.exists(Paths.get(sroot, "t", "_STATS.1")))
  }
}
