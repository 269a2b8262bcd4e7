package graft

import java.nio.file.{Files, Paths}

import graft.operators.DedupIngest
import graft.streaming.IngestDoorStream
import graft.sync.BucketedTableStore

/** Streaming dedup-on-ingest: micro-batches screen sequentially against
  * the persisted index, and a re-delivered batch (crash replay) neither
  * recomputes its decisions nor perturbs the index.
  */
class DedupIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val corpusA = "alpha beta gamma delta epsilon"
  private val uniqueB = "lambda mu nu xi omicron"

  private def jsonFile(dir: String, name: String, mtime: Long,
      rows: (Long, String)*): Unit = {
    val lines = rows.map { case (id, text) =>
      s"""{"doc_id":$id,"text":"$text"}"""
    } :+ "not json at all" // malformed line -> all-null row, must be dropped
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes)
    p.toFile.setLastModified(mtime)
  }

  test("micro-batches screen sequentially and replays are inert") {
    val root = tmpDir("ingest-stream")
    val decDir = tmpDir("ingest-dec")
    val inDir = tmpDir("ingest-in")
    val ckpt = tmpDir("ingest-ckpt")

    val stream = new IngestDoorStream(spark, DedupIngest.door(), root, decDir,
      nBuckets = 8)
    stream.seed(Seq(0L -> corpusA).toDF("doc_id", "text"))

    // two files, one per trigger (mtime orders them)
    val t = System.currentTimeMillis()
    jsonFile(inDir, "in1.json", t - 60000,
      10L -> corpusA, 11L -> uniqueB)
    jsonFile(inDir, "in2.json", t,
      20L -> uniqueB, 21L -> "omega aleph bet gimel")
    stream.start(inDir, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination()

    // partition-dir naming gives batch_id back on read
    def decisions(): Map[Long, (Int, Int)] =
      spark.read.parquet(decDir).collect().map { r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("exact_dup"), r.getAs[Int]("admitted")))
      }.toMap
    val d = decisions()
    assert(d.size == 4, "malformed lines must not produce decision rows")
    assert(d(10L) == ((1, 0)), "batch 0: dup of corpus rejected")
    assert(d(11L) == ((0, 1)), "batch 0: unique admitted")
    assert(d(20L) == ((1, 0)), "batch 1: dup of batch-0 ADMISSION rejected")
    assert(d(21L) == ((0, 1)), "batch 1: unique admitted")

    // crash replay: re-deliver batch 0. Decisions must come from the WAL
    // (a recompute against the mutated index would reject 11 as a dup of
    // itself), and the index merge must be idempotent.
    val store = new BucketedTableStore(spark, root, nBuckets = 8)
    val before = store.read("fp").get.count()
    stream.ingest(Seq(10L -> corpusA, 11L -> uniqueB).toDF("doc_id", "text"), 0L)
    assert(decisions()(11L) == ((0, 1)), "replay must not flip the WAL decision")
    assert(store.read("fp").get.count() == before,
      "re-applying the same admissions must not change the index")
    assert(spark.sharedState.cacheManager.isEmpty)

    // a fresh checkpoint restarts batchIds at 0 — pairing it with this
    // run's populated WAL would replay the OLD batch-0 decisions onto new
    // data, so the mismatch is refused at start
    intercept[IllegalArgumentException] {
      stream.start(inDir, tmpDir("ingest-ckpt-fresh"))
    }

    // the OTHER rotation direction (WalGuards): a used checkpoint whose
    // committed batches lost their WAL decisions — replaying would
    // recompute against the mutated index and flip admissions
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(decDir)).iterator().asScala.toSeq.foreach { p =>
      graft.sync.LocalFs.deleteRecursively(p)
    }
    val e = intercept[IllegalArgumentException] { stream.start(inDir, ckpt) }
    assert(e.getMessage.contains("write-ahead decisions are missing"))
  }

  test("corpus terminal: admitted docs land in verified shards, replays inert") {
    import graft.operators.CorpusSink
    val root = tmpDir("ingest2-store")
    val decDir = tmpDir("ingest2-dec")
    val inDir = tmpDir("ingest2-in")
    val ckpt = tmpDir("ingest2-ckpt")
    val corpus = tmpDir("ingest2-corpus")

    val stream = new IngestDoorStream(spark, DedupIngest.door(), root, decDir,
      nBuckets = 8, corpusDir = Some(corpus), corpusShards = 4)
    stream.seed(Seq(0L -> corpusA).toDF("doc_id", "text"))

    val t = System.currentTimeMillis()
    jsonFile(inDir, "in1.json", t - 60000,
      10L -> corpusA, 11L -> uniqueB)                    // 10 rejected, 11 admitted
    jsonFile(inDir, "in2.json", t,
      20L -> uniqueB, 21L -> "omega aleph bet gimel")    // 20 rejected, 21 admitted
    stream.start(inDir, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination()

    // corpus = seed + admissions, never the rejected dups
    val ids = spark.read.parquet(s"$corpus/data")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 11L, 21L),
      s"corpus must hold seed + admitted docs only, got $ids")
    assert(CorpusSink.verifyShards(spark, corpus).isEmpty,
      "the streamed corpus must verify against its manifest")

    // crash replay of batch 0: WAL decision + idempotent merge + batchId-
    // guarded append — rows and manifest unchanged
    stream.ingest(Seq(10L -> corpusA, 11L -> uniqueB).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$corpus/data").count() == 3,
      "replayed epoch must not double corpus rows")
    assert(CorpusSink.verifyShards(spark, corpus).isEmpty)

    // a FRESH checkpoint restarts batchIds at 0; even with a fresh WAL,
    // pairing it with this corpus would hit the manifest's replay guard
    // and silently skip appending every new batch — refused up front
    val stream2 = new IngestDoorStream(spark, DedupIngest.door(), root,
      tmpDir("ingest2-dec-fresh"), nBuckets = 8, corpusDir = Some(corpus))
    intercept[IllegalArgumentException] {
      stream2.start(inDir, tmpDir("ingest2-ckpt-fresh"))
    }
  }
}
