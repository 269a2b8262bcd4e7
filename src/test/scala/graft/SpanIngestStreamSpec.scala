package graft

import java.nio.file.{Files, Paths}

import graft.operators.SpanIngest
import graft.streaming.IngestDoorStream
import graft.sync.BucketedTableStore

/** Streaming ExactSubstr-on-ingest: micro-batches span-screen
  * sequentially against the persisted gram index, and a re-delivered
  * batch (crash replay) neither recomputes its decisions nor perturbs
  * the index.
  */
class SpanIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, k: Int): String =
    (1 to k).map(i => s"$prefix$i").mkString(" ")

  private val boiler = toks("corp", 10)
  private val newRun = toks("admit", 9)
  private val rejRun = toks("rejct", 9)

  private def jsonFile(dir: String, name: String, mtime: Long,
      rows: (Long, String)*): Unit = {
    val lines = rows.map { case (id, text) =>
      s"""{"doc_id":$id,"text":"$text"}"""
    } :+ "not json at all" // malformed line -> all-null row, must be dropped
    val p = Paths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes)
    p.toFile.setLastModified(mtime)
  }

  test("micro-batches span-screen sequentially and replays are inert") {
    val root = tmpDir("span-stream")
    val decDir = tmpDir("span-dec")
    val inDir = tmpDir("span-in")
    val ckpt = tmpDir("span-ckpt")

    val stream = new IngestDoorStream(spark, SpanIngest.door(8), root, decDir,
      nBuckets = 8)
    stream.seed(Seq(0L -> s"${toks("c", 30)} $boiler").toDF("doc_id", "text"))

    val b0d10 = s"$rejRun $boiler ${toks("x", 31)}" // 10/50 dup = 20% → rejected
    val b0d11 = s"$newRun ${toks("y", 41)}"         // clean → admitted
    val t = System.currentTimeMillis()
    jsonFile(inDir, "in1.json", t - 60000, 10L -> b0d10, 11L -> b0d11)
    jsonFile(inDir, "in2.json", t,
      20L -> s"$newRun ${toks("p", 41)}",  // 9/50 dup via 11's ADMISSION → admitted
      21L -> s"$rejRun ${toks("q", 41)}",  // clean: rejected 10 left no trace
      22L -> s"$boiler ${toks("r", 40)}")  // 10/50 dup via corpus seed → rejected
    stream.start(inDir, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination()

    def decisions(): Map[Long, (Long, Long, Int)] =
      spark.read.parquet(decDir).collect().map { r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Int]("admitted")))
      }.toMap
    val d = decisions()
    assert(d.size == 5, "malformed lines must not produce decision rows")
    assert(d(10L) == ((1L, 10L, 0)), s"batch 0 boundary doc: ${d(10L)}")
    assert(d(11L) == ((0L, 0L, 1)))
    assert(d(20L) == ((1L, 9L, 1)), s"dup of batch-0 ADMISSION flagged: ${d(20L)}")
    assert(d(21L) == ((0L, 0L, 1)), "rejected batch-0 content must leave no trace")
    assert(d(22L) == ((1L, 10L, 0)), s"corpus-seed dup rejected: ${d(22L)}")

    // crash replay: re-deliver batch 0. Decisions must come from the WAL
    // (a recompute against the mutated index would flag 11's own grams),
    // and the idempotent index merge must not grow the table.
    val store = new BucketedTableStore(spark, root, nBuckets = 8)
    val before = store.read("gfp").get.count()
    stream.ingest(Seq(10L -> b0d10, 11L -> b0d11).toDF("doc_id", "text"), 0L)
    assert(decisions()(11L) == ((0L, 0L, 1)), "replay must not flip the WAL decision")
    assert(store.read("gfp").get.count() == before,
      "re-applying the same admissions must not change the index")
    assert(spark.sharedState.cacheManager.isEmpty)

    // fresh checkpoint + used WAL = batchId collision; refused at start
    intercept[IllegalArgumentException] {
      stream.start(inDir, tmpDir("span-ckpt-fresh"))
    }

    // the OTHER rotation direction: a used checkpoint whose committed
    // batches lost their WAL decisions — replaying would recompute
    // against the mutated index and flip admissions; refused at start
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(decDir)).iterator().asScala.toSeq.foreach { p =>
      graft.sync.TableStore.deleteRecursively(p)
    }
    val e = intercept[IllegalArgumentException] { stream.start(inDir, ckpt) }
    assert(e.getMessage.contains("write-ahead decisions are missing"))
  }

  test("corpus terminal: admitted docs land in verified shards, replays inert") {
    import graft.operators.CorpusSink
    val root = tmpDir("span2-store")
    val decDir = tmpDir("span2-dec")
    val inDir = tmpDir("span2-in")
    val ckpt = tmpDir("span2-ckpt")
    val corpus = tmpDir("span2-corpus")

    val stream = new IngestDoorStream(spark, SpanIngest.door(8), root, decDir,
      nBuckets = 8, corpusDir = Some(corpus), corpusShards = 4)
    stream.seed(Seq(0L -> s"${toks("c", 30)} $boiler").toDF("doc_id", "text"))

    val rejected = s"$boiler ${toks("x", 30)}"  // 10/40 = 25% dup → dropped
    val admitted = s"$newRun ${toks("y", 41)}"  // clean → appended
    val t = System.currentTimeMillis()
    jsonFile(inDir, "in1.json", t, 10L -> rejected, 11L -> admitted)
    stream.start(inDir, ckpt).awaitTermination()

    val ids = spark.read.parquet(s"$corpus/data")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 11L),
      s"corpus must hold seed + admitted docs only, got $ids")
    assert(CorpusSink.verifyShards(spark, corpus).isEmpty,
      "the streamed corpus must verify against its manifest")

    // crash replay of batch 0: rows and manifest unchanged
    stream.ingest(Seq(10L -> rejected, 11L -> admitted).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$corpus/data").count() == 2,
      "replayed epoch must not double corpus rows")
    assert(CorpusSink.verifyShards(spark, corpus).isEmpty)

    // fresh checkpoint + batchId-guarded corpus = silent append skips;
    // refused up front
    val stream2 = new IngestDoorStream(spark, SpanIngest.door(8), root,
      tmpDir("span2-dec-fresh"), nBuckets = 8, corpusDir = Some(corpus))
    intercept[IllegalArgumentException] {
      stream2.start(inDir, tmpDir("span2-ckpt-fresh"))
    }
  }
}
