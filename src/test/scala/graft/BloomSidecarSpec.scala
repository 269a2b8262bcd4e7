package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.sync.BucketedTableStore

/** Per-bucket bloom sidecars on the bucketed store: point-membership
  * pruning on columns the bucketing does NOT key on. A pruned read must
  * never change a result (every test pairs it with the full-scan IN
  * filter); the sidecars follow the table through every write discipline
  * — exact on writeAll/copy-on-write/compact, OR-widened on delta
  * commits — and a missing sidecar degrades to a full read, never a
  * wrong skip.
  */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = new Timestamp(1660000000000L)
  private val t1 = new Timestamp(1660000060000L)

  /** id 1..n hash-bucketed; `fp` is a content fingerprint the layout
    * scatters across buckets — exactly the column bloom sidecars exist
    * for. */
  private def rows(n: Int) = (1 to n).map(i => (i.toLong, s"fp-${i * 37}", s"n$i"))
    .toDF("id", "fp", "name")
    .withColumn("syncTimestamp", lit(t0))

  private def got(df: org.apache.spark.sql.DataFrame) =
    df.select($"id", $"fp", $"name").as[(Long, String, String)].collect().toSet

  test("value-level packing is bit-identical to explode + position packing") {
    // The fused sidecar pass packs string values directly
    // (BloomPackValueAgg computes the k positions inside the aggregator);
    // the public bloom_bits + BloomPackAgg pair packs pre-exploded
    // positions. Both must produce the SAME bitset for the same values —
    // a drift here would mean probes test bits the build never set.
    import graft.functions.{BloomPackAgg, BloomPackValueAgg, GraftFunctions}
    val m = 1 << 10; val k = 5
    val vals = (1 to 500).map(i => (i % 7).toLong -> s"v-${i * 13}")
      .toDF("g", "v")
    val byValue = udaf(new BloomPackValueAgg(m, k))
    val byPos = udaf(new BloomPackAgg(m))
    val a = vals.groupBy($"g").agg(byValue($"v").as("bits"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val b = vals.select($"g",
        explode(GraftFunctions.bloom_bits($"v", m, k)).as("p"))
      .groupBy($"g").agg(byPos($"p").as("bits"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(a.keySet == b.keySet)
    a.keySet.foreach(g => assert(a(g) == b(g), s"bitsets differ for group $g"))
    // null values contribute no bits: all-zero, same byte length
    val nulls = Seq((0L, null: String), (0L, null: String)).toDF("g", "v")
      .groupBy($"g").agg(byValue($"v").as("bits"))
      .head().getAs[Array[Byte]](1)
    assert(nulls.length == (m + 7) / 8 && nulls.forall(_ == 0))
  }

  test("bloom probe skips buckets and matches the full-scan IN filter") {
    val store = new BucketedTableStore(spark, tmpDir("bloom1"), nBuckets = 16)
    store.writeAll("t", rows(400), "id", bloomCols = Seq("fp"))

    val probes = Seq("fp-37", "fp-3700", "fp-7400") // ids 1, 100, 200
    val pruned = store.readWhereIn("t", "fp", probes).get
    val full = store.read("t").get.filter($"fp".isin(probes: _*))
    assert(got(pruned) == got(full) && got(pruned).size == 3)

    val admitted = store.bloomAdmittedBuckets("t", "fp", probes).get
    val all = store.bucketStates("t").get.keySet
    assert(admitted.size < all.size,
      s"probe must skip buckets (kept ${admitted.size} of ${all.size})")
    // the scan itself must only open the admitted buckets' files
    val touched = pruned.inputFiles.map(_.split('/').find(_.matches("b\\d+")).get).toSet
    assert(touched.subsetOf(admitted.map(b => s"b$b")),
      s"scan opened $touched beyond admitted $admitted")
  }

  test("absent values admit (almost) no buckets; result is empty either way") {
    val store = new BucketedTableStore(spark, tmpDir("bloom2"), nBuckets = 16)
    store.writeAll("t", rows(400), "id", bloomCols = Seq("fp"))
    val absent = Seq("nope-1", "nope-2")
    assert(got(store.readWhereIn("t", "fp", absent).get).isEmpty)
    // with 128Ki bits over ≤25 values/bucket the false-positive rate is
    // ~0: the admitted set must be empty on this fixed data
    assert(store.bloomAdmittedBuckets("t", "fp", absent).get.isEmpty)
  }

  test("delta commits widen membership; REMOVEs stay admitted until compact") {
    val store = new BucketedTableStore(spark, tmpDir("bloom3"), nBuckets = 8)
    store.writeAll("t", rows(100), "id", bloomCols = Seq("fp"))

    // upsert a NEW fingerprint and REMOVE id=50 in one delta batch
    val stage = Seq(
      (101L, "fp-fresh", "new", "INSERT"),
      (50L, "fp-1850", "bob", "REMOVE"))
      .toDF("id", "fp", "name", "eventName")
    store.mergeDelta("t", stage, "id", t1)

    // new value admitted and found through the pruned read
    val fresh = store.readWhereIn("t", "fp", Seq("fp-fresh")).get
    assert(got(fresh).map(r => (r._1, r._2)) == Set(101L -> "fp-fresh"))
    // removed value still admits its bucket (stale bit - false positive
    // only), but the resolved read returns nothing
    assert(store.bloomAdmittedBuckets("t", "fp", Seq("fp-1850")).get.nonEmpty)
    assert(got(store.readWhereIn("t", "fp", Seq("fp-1850")).get).isEmpty)

    // compaction rebuilds exactly: the tombstoned bits disappear
    assert(store.compact("t") > 0)
    assert(store.bloomAdmittedBuckets("t", "fp", Seq("fp-1850")).get.isEmpty)
    assert(got(store.readWhereIn("t", "fp", Seq("fp-fresh")).get).nonEmpty)
  }

  test("copy-on-write merge keeps blooms exact") {
    val store = new BucketedTableStore(spark, tmpDir("bloom4"), nBuckets = 8)
    store.writeAll("t", rows(100), "id", bloomCols = Seq("fp"))
    val stage = Seq((10L, "fp-rewritten", "moved", "MODIFY"))
      .toDF("id", "fp", "name", "eventName")
    store.merge("t", stage, "id", t1)
    // the rewritten bucket's bloom is rebuilt from its new bytes: the old
    // fingerprint of id=10 no longer admits anywhere
    assert(store.bloomAdmittedBuckets("t", "fp", Seq("fp-370")).get.isEmpty)
    val hit = store.readWhereIn("t", "fp", Seq("fp-rewritten")).get
    assert(got(hit).map(_._1) == Set(10L))
  }

  test("a lost sidecar degrades to a full read, never a wrong skip") {
    val root = tmpDir("bloom5")
    val store = new BucketedTableStore(spark, root, nBuckets = 8)
    store.writeAll("t", rows(100), "id", bloomCols = Seq("fp"))
    // simulate a crash that lost the sidecar but kept the manifest
    Files.delete(java.nio.file.Paths.get(root, "t", "_BLOOM.0"))
    val admitted = store.bloomAdmittedBuckets("t", "fp", Seq("fp-37")).get
    assert(admitted == store.bucketStates("t").get.keySet,
      "missing sidecar must admit every bucket")
    assert(got(store.readWhereIn("t", "fp", Seq("fp-37")).get).map(_._1) == Set(1L))
    // ... and the absence PROPAGATES through the next delta commit: the
    // new sidecar (if any) must not claim exclusion it cannot prove
    val stage = Seq((102L, "fp-later", "x", "INSERT"))
      .toDF("id", "fp", "name", "eventName")
    store.mergeDelta("t", stage, "id", t1)
    assert(store.bloomAdmittedBuckets("t", "fp", Seq("fp-37")).get ==
      store.bucketStates("t").get.keySet)
  }

  test("time-travel probes use the sidecar AS OF that manifest") {
    val store = new BucketedTableStore(spark, tmpDir("bloom7"), nBuckets = 8)
    store.writeAll("t", rows(100), "id", bloomCols = Seq("fp")) // manifest 0
    val stage = Seq((50L, "fp-1850", "bob", "REMOVE"))
      .toDF("id", "fp", "name", "eventName")
    store.mergeDelta("t", stage, "id", t1)                      // manifest 1
    assert(store.compact("t") > 0)                              // manifest 2

    // live: compaction rebuilt exactly, the removed fp admits nothing
    assert(store.bloomAdmittedBuckets("t", "fp", Seq("fp-1850")).get.isEmpty)
    // manifest 1 (tombstone in the chain): widened bloom admits, the
    // resolved read drops the row — stale bits, correct answer
    assert(got(store.readWhereInAt("t", 1, "fp", Seq("fp-1850")).get).isEmpty)
    // manifest 0 (pre-removal): the since-removed fingerprint is FOUND —
    // a time-traveled probe reads the corpus as it was
    assert(got(store.readWhereInAt("t", 0, "fp", Seq("fp-1850")).get)
      .map(_._1) == Set(50L))
    // a pruned historical probe returns the same rows as the full
    // historical scan
    val full = store.readAtManifest("t", 0).get
      .filter($"fp" === "fp-1850")
    assert(got(store.readWhereInAt("t", 0, "fp", Seq("fp-1850")).get) == got(full))
  }

  test("geometry-changing rewrite: historical probes keep their own (m,k)") {
    val store = new BucketedTableStore(spark, tmpDir("bloom8"), nBuckets = 8)
    // manifest 0 under the default 128Ki-bit / 7-hash geometry
    store.writeAll("t", rows(100), "id", bloomCols = Seq("fp"))
    // manifest 1: same table re-written under a much smaller geometry —
    // its manifest records (2^12, 3), but the _BLOOM.0 sidecar was built
    // at (2^17, 7). Probing manifest 0 with the live geometry would
    // compute positions mod the new m against the old bits: a wrong
    // skip, or an index overflow when the new m exceeded the old.
    store.writeAll("t", rows(100).filter($"id" <= 50), "id",
      bloomCols = Seq("fp"), bloomBits = 1 << 12, bloomHashes = 3)

    // historical probe: fp of id=80 exists ONLY in manifest 0 and must be
    // found there (the sidecar's own geometry decides the positions)
    assert(got(store.readWhereInAt("t", 0, "fp", Seq("fp-2960")).get)
      .map(_._1) == Set(80L))
    val full0 = store.readAtManifest("t", 0).get.filter($"fp" === "fp-2960")
    assert(got(store.readWhereInAt("t", 0, "fp", Seq("fp-2960")).get) == got(full0))
    // ... and still prunes: an absent value admits no buckets at manifest 0
    assert(got(store.readWhereInAt("t", 0, "fp", Seq("nope")).get).isEmpty)

    // live probe under the new geometry stays exact too
    assert(got(store.readWhereIn("t", "fp", Seq("fp-370")).get).map(_._1) == Set(10L))
    assert(got(store.readWhereIn("t", "fp", Seq("fp-2960")).get).isEmpty)
  }

  test("untracked columns and bloom-less tables admit everything") {
    val store = new BucketedTableStore(spark, tmpDir("bloom6"), nBuckets = 4)
    store.writeAll("t", rows(50), "id") // no bloomCols
    assert(store.bloomAdmittedBuckets("t", "fp", Seq("fp-37")).get ==
      store.bucketStates("t").get.keySet)
    assert(got(store.readWhereIn("t", "fp", Seq("fp-37")).get).map(_._1) == Set(1L))
  }
}
