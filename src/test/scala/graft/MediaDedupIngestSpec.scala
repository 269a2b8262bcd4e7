package graft

import org.apache.spark.sql.functions._

import graft.operators.MediaDedupIngest

/** Media dedup-on-ingest semantics over hand-built payloads whose aHash
  * bands are exactly predictable:
  *   - increasing bytes → bands (0, 0, 0xffff, 0xffff) (top half above
  *     the mean);
  *   - decreasing bytes → bands (0xffff, 0xffff, 0, 0) — no (band, value)
  *     collision with increasing;
  *   - alternating low/high bytes → every band 0xAAAA — disjoint from
  *     both;
  *   - 16 low bytes then alternating-from-even → bands
  *     (0, 0x5555, 0x5555, 0x5555): SHARES cell (0, 0) with increasing
  *     but sits at Hamming 24 — the case that separates the
  *     candidate-then-verify door from a naive membership door. */
class MediaDedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val inc = Array.tabulate(80)(i => (33 + i).toByte)
  private val dec = inc.reverse
  private val alt = Array.tabulate(80)(i => (if (i % 2 == 0) 40 else 90).toByte)
  // i<16 → 40; i≥16 → 90 at even i, 40 at odd: mean 58.75, bits only at
  // the even i ≥ 16 → (0x0000, 0x5555, 0x5555, 0x5555)
  private val nearMiss = Array.tabulate(80)(i =>
    (if (i >= 16 && i % 2 == 0) 90 else 40).toByte)

  private def media(rows: (Long, Array[Byte])*) =
    rows.toSeq.toDF("doc_id", "media").withColumn("kind", lit("image"))

  test("verify-at-the-door: exact dups rejected, band-collision-only admitted") {
    val root = tmpDir("mdi")
    val corpus = media(0L -> inc)
    val batches = Seq(
      media(100L -> inc,            // Hamming 0 vs corpus → rejected
        101L -> dec,                // band-disjoint → no candidates → admitted
        102L -> "tiny".getBytes,    // < 64 bytes: no hash → admitted
        103L -> nearMiss),          // shares cell (0,0) with corpus but
                                    // Hamming 24 > 10 → VERIFY admits it
      media(200L -> dec,            // identical to ADMITTED 101 → rejected
        201L -> alt, 202L -> alt))  // identical pair, NEW: snapshot
                                    // semantics admit BOTH
    val out = try MediaDedupIngest.door().ingestAll(spark, root, corpus, batches, 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("batch_id"), r.getAs[Int]("near_dup"),
          r.getAs[Int]("admitted")))).toMap
    finally graft.sync.TableStore.deleteRecursively(
      java.nio.file.Paths.get(root))
    assert(out == Map(
      100L -> ((1, 1, 0)), 101L -> ((1, 0, 1)), 102L -> ((1, 0, 1)),
      103L -> ((1, 0, 1)),
      200L -> ((2, 1, 0)), 201L -> ((2, 0, 1)), 202L -> ((2, 0, 1))),
      s"decisions: $out")
  }

  test("streaming twin: parquet micro-batches screen sequentially via start()") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("mdistream")
    val decDir = tmpDir("mdistream-dec")
    val inDir = tmpDir("mdistream-in")
    val ckpt = tmpDir("mdistream-ckpt")
    val stream = new graft.streaming.IngestDoorStream(
      spark, MediaDedupIngest.door(), root, decDir, nBuckets = 4,
      now = () => new java.sql.Timestamp(1660000000000L))
    stream.seed(media(0L -> inc))

    def parquetFile(name: String, mtime: Long,
        rows: (Long, Array[Byte])*): Unit = {
      val tmp = tmpDir(s"mdistream-stage-$name")
      media(rows: _*).select("doc_id", "kind", "media").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = scala.util.Using.resource(Files.list(Paths.get(tmp))) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val dest = Paths.get(inDir, name)
      Files.move(part, dest)
      dest.toFile.setLastModified(mtime)
    }
    val t = System.currentTimeMillis()
    parquetFile("f1.parquet", t - 60000,
      10L -> inc,   // Hamming 0 vs corpus → reject
      11L -> dec)   // band-disjoint → admit
    parquetFile("f2.parquet", t,
      20L -> dec,   // dup of batch-0 ADMISSION → reject
      21L -> alt)   // new → admit
    stream.start(inDir, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination()

    val d = spark.read.parquet(decDir).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("near_dup"), r.getAs[Int]("admitted")))).toMap
    assert(d == Map(10L -> ((1, 0)), 11L -> ((0, 1)),
      20L -> ((1, 0)), 21L -> ((0, 1))), s"decisions: $d")
  }

  test("empty-corpus seed: the door opens cold and grows from admissions") {
    // the scaladoc's "may be empty" claim, exercised: writeAll stages an
    // empty-but-schemaed bucket so the seeded table reads back with its
    // schema, probes return no candidates, and the index grows from the
    // first batch's admissions alone
    val root = tmpDir("mdi-empty")
    val corpus = media()
    val batches = Seq(
      media(100L -> inc),             // cold index → no candidates → admit
      media(200L -> inc,              // dup of batch-1 ADMISSION → reject
        201L -> dec))                 // new → admit
    val out = try MediaDedupIngest.door().ingestAll(spark, root, corpus, batches, 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("batch_id"), r.getAs[Int]("near_dup"),
          r.getAs[Int]("admitted")))).toMap
    finally graft.sync.TableStore.deleteRecursively(
      java.nio.file.Paths.get(root))
    assert(out == Map(
      100L -> ((1, 0, 1)), 200L -> ((2, 1, 0)), 201L -> ((2, 0, 1))),
      s"decisions: $out")
  }

  test("rejected payloads leave no trace in the index") {
    val root = tmpDir("mdi-trace")
    val corpus = media(0L -> inc)
    val batches = Seq(media(100L -> inc), media(200L -> alt))
    try {
      val store = new graft.sync.BucketedTableStore(spark, root, 8,
        deltaMerges = true, autoCompactAfter = 4)
      MediaDedupIngest.seedIndex(store, corpus, spark,
        new java.sql.Timestamp(1660000000000L))
      val bb1 = MediaDedupIngest.bandRows(spark, batches(0))
      val d1 = MediaDedupIngest.decide(store, batches(0), bb1, 1L)
      MediaDedupIngest.applyAdmissions(store, bb1, d1,
        new java.sql.Timestamp(1660000060000L))
      assert(d1.collect().head.getAs[Int]("admitted") == 0)
      // the corpus doc contributed one row per band (4); the rejected
      // batch added nothing
      val n1 = store.readBuckets("pfp", None).get.count()
      assert(n1 == 4L, s"rejected doc must add no band rows (index $n1)")
      val bb2 = MediaDedupIngest.bandRows(spark, batches(1))
      val d2 = MediaDedupIngest.decide(store, batches(1), bb2, 2L)
      MediaDedupIngest.applyAdmissions(store, bb2, d2,
        new java.sql.Timestamp(1660000120000L))
      assert(d2.collect().head.getAs[Int]("admitted") == 1)
      val n2 = store.readBuckets("pfp", None).get.count()
      assert(n2 == 8L, s"admitted doc must add its 4 band rows (index $n2)")
      // replay safety the scaladoc claims: re-applying the same
      // admissions is a no-op for the resolved index (idempotent upsert)
      MediaDedupIngest.applyAdmissions(store, bb2, d2,
        new java.sql.Timestamp(1660000180000L))
      val n3 = store.readBuckets("pfp", None).get.count()
      assert(n3 == 8L, s"re-applied admissions must resolve unchanged ($n3)")
    } finally graft.sync.TableStore.deleteRecursively(
      java.nio.file.Paths.get(root))
  }
}
