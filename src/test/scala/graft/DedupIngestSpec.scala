package graft

import graft.operators.DedupIngest
import graft.sync.BucketedTableStore

/** Sequential dedup-on-ingest: batch k's admit decisions must see every
  * admission from batches 1..k-1 via the persisted fingerprint index,
  * within-batch decisions are snapshot-scoped, and rejected docs must
  * leave no trace in the index.
  */
class DedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // corpus texts the batches collide with
  private val corpusA = "alpha beta gamma delta epsilon"
  private val corpusB = "zeta eta theta iota kappa"
  // "a b c" repeated: k and k+1 repetitions share the exact shingle SET
  // ({a b c, b c a, c a b}) but not the text — identical minhash
  // signature, different md5: a guaranteed near-but-not-exact dup.
  private val loop2 = "a b c a b c"
  private val loop3 = "a b c a b c a b c"

  private def run(root: String) = DedupIngest.door().ingestAll(
    spark, root,
    corpus = docs(0L -> corpusA, 1L -> corpusB),
    batches = Seq(
      docs(10L -> corpusA,                  // exact dup of corpus
           11L -> "lambda mu nu xi omicron", // unique -> admitted
           13L -> "tau upsilon phi chi",     // same-batch twins: both
           14L -> "tau upsilon phi chi",     //   admitted (snapshot scope)
           15L -> loop2,                     // unique -> admitted
           17L -> "hi"),                     // <3 tokens: no bands
      docs(20L -> "lambda mu nu xi omicron", // dup of ADMITTED batch-1 doc
           21L -> loop3,                     // near dup of admitted 15
           22L -> "omega aleph bet gimel",   // unique -> admitted
           24L -> "hi")),                    // dup of admitted short doc
    nBuckets = 8)

  private def decisions(root: String): Map[Long, (Int, Int, Int)] =
    run(root).collect().map { r =>
      r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4))
    }.toMap

  test("batch decisions see prior admissions and snapshot their own batch") {
    val root = tmpDir("ingest")
    val d = decisions(root)
    // batch 1 vs corpus: exact copy rejected (it also band-matches), the
    // rest admitted
    assert(d(10L)._1 == 1 && d(10L)._3 == 0)
    assert(d(11L) == ((0, 0, 1)))
    // same-batch twins: both admitted — the batch decides against the
    // index AS OF its start, not against itself
    assert(d(13L) == ((0, 0, 1)))
    assert(d(14L) == ((0, 0, 1)))
    assert(d(15L) == ((0, 0, 1)))
    // <3 tokens: no shingles, so no bands — admitted on uniqueness alone
    assert(d(17L) == ((0, 0, 1)))
    // batch 2 vs corpus ∪ batch-1 admissions: the index GREW
    assert(d(20L)._1 == 1 && d(20L)._3 == 0, "dup of an admitted batch-1 doc")
    assert(d(21L) == ((0, 1, 0)), "near-dup (same shingle set) of admitted 15")
    assert(d(22L) == ((0, 0, 1)))
    assert(d(24L)._1 == 1 && d(24L)._3 == 0, "short docs still exact-indexed")
  }

  test("index updates are delta commits and the operator leaves no cache") {
    val root = tmpDir("ingest-mor")
    val d = decisions(root)
    // two batches with admissions -> the index carries delta chains
    // (merge-on-read), bases untouched since the corpus writeAll
    val store = new BucketedTableStore(spark, root, nBuckets = 8)
    val states = store.bucketStates("fp").get
    assert(states.values.exists(_.deltas.nonEmpty),
      "admissions must land as mergeDelta chains, not base rewrites")
    assert(states.values.forall(s => s.isClean || s.base <= 0),
      "bases must be the corpus seed (or delta-only for new buckets)")
    // rejected docs leave no trace: the indexed fingerprints are exactly
    // those of corpus ∪ admitted docs (recomputed via the same pure fns)
    val admittedIds = d.collect { case (id, (_, _, 1)) => id }.toSeq
    val all = docs(0L -> corpusA, 1L -> corpusB,
      11L -> "lambda mu nu xi omicron", 13L -> "tau upsilon phi chi",
      14L -> "tau upsilon phi chi", 15L -> loop2, 17L -> "hi",
      22L -> "omega aleph bet gimel")
    assert(admittedIds.toSet == Set(11L, 13L, 14L, 15L, 17L, 22L))
    val expected = DedupIngest.fingerprints(all, 3, 8, 2)
      .select("fp").distinct().count()
    assert(store.read("fp").get.count() == expected)
    assert(spark.sharedState.cacheManager.isEmpty,
      "fingerprint persists must be released before returning")
  }

  test("vacuum racing an in-flight probe: decisions are frozen at decide() time") {
    val root = tmpDir("ingest-vacuum")
    val store = new BucketedTableStore(spark, root, nBuckets = 8,
      deltaMerges = true, autoCompactAfter = 1)
    val ts = new java.sql.Timestamp(1660000000000L)
    DedupIngest.seedIndex(store, docs(0L -> corpusA, 1L -> corpusB), ts, 3, 8, 2)
    val preRaceFiles = store.read("fp").get.inputFiles.toSeq
    assert(preRaceFiles.nonEmpty)

    val batch = docs(10L -> corpusA, 11L -> "lambda mu nu xi omicron")
    val fps = DedupIngest.fingerprints(batch, 3, 8, 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dec = DedupIngest.decide(store, batch, fps, 1L)

    // the race: the index moves on (merge + compaction) and a retention
    // sweep deletes the superseded files the probe's plan referenced
    DedupIngest.applyAdmissions(store, fps, dec, ts)
    store.compact("fp", minDeltas = 1)
    store.vacuum("fp", keepManifests = 1)
    fps.unpersist()
    val gone = preRaceFiles.filterNot(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(
        f.stripPrefix("file:"))))
    assert(gone.nonEmpty,
      s"race not exercised: vacuum retired none of the probed files")

    // a lazy probe plan would now hit FileNotFound (or, with
    // ignoreMissingFiles, silently admit duplicates); the frozen decisions
    // still read correctly
    val d = dec.collect().map { r =>
      r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4))
    }.toMap
    assert(d(10L)._1 == 1 && d(10L)._3 == 0, "corpus dup stays rejected")
    assert(d(11L) == ((0, 0, 1)), "unique doc stays admitted")
  }
}
