package graft

import org.apache.spark.sql.functions._

import graft.operators.SemanticDedupIngest

/** Sequential semantics of the embedding ingest screen: batch k's
  * decisions must see batch k-1's ADMISSIONS (the property the one-shot
  * screens q41/q156 cannot express), near-dups reject on exact cosine,
  * and band collisions alone — orthogonal vectors sharing a zero-sign
  * bucket — must never reject.
  */
class SemanticDedupIngestSpec extends SparkSpec {
  import spark.implicits._

  /** 64-dim (the banding default covers 16×4 dims) one-hot + epsilon:
    * `axis` picks the direction, `eps` perturbs it (cosine stays ≈1). */
  private def vec(id: Long, axis: Int, eps: Float): (Long, Array[Float]) =
    id -> Array.tabulate(64)(i =>
      (if (i == axis) 1f else 0f) + (if (i == axis) eps else 0f))

  test("admissions guard later batches; collisions without similarity admit") {
    val corpus = Seq(vec(0L, axis = 0, eps = 0f)).toDF("vec_id", "embedding")
    val batch1 = Seq(
      vec(10L, axis = 0, eps = 0.01f), // near-dup of the CORPUS → reject
      vec(11L, axis = 1, eps = 0f)     // new direction → admit
    ).toDF("vec_id", "embedding")
    val batch2 = Seq(
      vec(20L, axis = 1, eps = 0.01f), // near-dup of batch-1's ADMISSION → reject
      vec(21L, axis = 2, eps = 0f)     // new direction → admit
    ).toDF("vec_id", "embedding")

    val root = tmpDir("semingest")
    val d = SemanticDedupIngest.door().ingestAll(spark, root, corpus,
      Seq(batch1, batch2), nBuckets = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("batch_id"), r.getAs[Int]("near_dup"),
          r.getAs[Int]("admitted")))).toMap

    assert(d(10L) == ((1, 1, 0)), "dup of corpus must reject in batch 1")
    assert(d(11L) == ((1, 0, 1)), "new direction must admit in batch 1")
    // one-hot vectors all share the all-zero sign bucket in their cold
    // bands, so 20/21 DO collide with admitted vectors — only the exact
    // cosine may reject, and only 20 (≈ axis-1) crosses the threshold
    assert(d(20L) == ((2, 1, 0)),
      "dup of a batch-1 ADMISSION must reject in batch 2 (sequential growth)")
    assert(d(21L) == ((2, 0, 1)),
      "band collision with cosine ≈ 0 must admit")
    assert(d.size == 4)
    assert(spark.sharedState.cacheManager.isEmpty,
      "ingest must release every persisted intermediate")
  }

  test("streaming twin: parquet micro-batches screen sequentially via start()") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("semstream")
    val decDir = tmpDir("semstream-dec")
    val inDir = tmpDir("semstream-in")
    val ckpt = tmpDir("semstream-ckpt")
    val stream = new graft.streaming.IngestDoorStream(
      spark, SemanticDedupIngest.door(), root, decDir, nBuckets = 4,
      now = () => new java.sql.Timestamp(1660000000000L))
    stream.seed(Seq(vec(0L, axis = 0, eps = 0f)).toDF("vec_id", "embedding"))

    // one parquet file per micro-batch, ordered by mtime (the same
    // maxFilesPerTrigger discipline the JSON doors' stream specs use)
    def parquetFile(name: String, mtime: Long,
        rows: (Long, Array[Float])*): Unit = {
      val tmp = tmpDir(s"semstream-stage-$name")
      rows.toDF("vec_id", "embedding").coalesce(1).write
        .mode("overwrite").parquet(tmp)
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
      10L -> vec(10L, axis = 0, eps = 0.01f)._2, // dup of corpus → reject
      11L -> vec(11L, axis = 1, eps = 0f)._2)    // new direction → admit
    parquetFile("f2.parquet", t,
      20L -> vec(20L, axis = 1, eps = 0.01f)._2, // dup of batch-0 ADMISSION
      21L -> vec(21L, axis = 2, eps = 0f)._2)    // new → admit
    stream.start(inDir, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination()

    val d = spark.read.parquet(decDir).collect().map(r =>
      r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("near_dup"), r.getAs[Int]("admitted")))).toMap
    assert(d == Map(10L -> ((1, 0)), 11L -> ((0, 1)),
      20L -> ((1, 0)), 21L -> ((0, 1))), s"decisions: $d")
  }

  test("empty-corpus seed: the door opens cold and grows from admissions") {
    val corpus = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val batch1 = Seq(vec(10L, axis = 0, eps = 0f)).toDF("vec_id", "embedding")
    val batch2 = Seq(
      vec(20L, axis = 0, eps = 0.01f), // near-dup of batch-1's ADMISSION
      vec(21L, axis = 1, eps = 0f)     // new direction
    ).toDF("vec_id", "embedding")
    val root = tmpDir("semingest-empty")
    val d = SemanticDedupIngest.door().ingestAll(spark, root, corpus,
      Seq(batch1, batch2), nBuckets = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("batch_id"), r.getAs[Int]("near_dup"),
          r.getAs[Int]("admitted")))).toMap
    assert(d == Map(
      10L -> ((1, 0, 1)), 20L -> ((2, 1, 0)), 21L -> ((2, 0, 1))),
      s"decisions: $d")
  }

  test("hot band cell nominates at most MaxCell admitted neighbors") {
    // 65 all-positive corpus vectors: every dim > 0, so ALL of them share
    // the single "1111" sign bucket in every one of the 16 bands — the
    // hot-cell regime (identical-sign near-zero embeddings) the MaxCell
    // cap exists for. Cell occupancy 65 > MaxCell=64, so the HIGHEST
    // vec_id (164, the only spread-direction vector) is capped out of
    // every cell's nomination list.
    assert(SemanticDedupIngest.MaxCell == 64)
    val base = Array.fill(64)(0.01f)
    // ids 100..163: dominant single axis id-100 (mutual cosines ≈ 0)
    val axisVecs = (0 until 64).map { i =>
      (100L + i) -> base.clone().updated(i, 1.01f)
    }
    // id 164: direction spread over axes 0..15 — cosine vs any single
    // axis vector ≈ 1/4 < 0.45, so nothing else is near it
    val spread = base.clone()
    (0 until 16).foreach(i => spread(i) = 1.0f)
    val corpus = (axisVecs :+ (164L -> spread)).toDF("vec_id", "embedding")
    val batch = Seq(
      // true near-dup of id 140 (cell rank 41 ≤ 64 → nominated) → reject
      400L -> base.clone().updated(40, 1.02f),
      // true near-dup ONLY of id 164 — capped out of every cell, so the
      // door never scores the pair and must ADMIT: the bounded-fan-out
      // trade, deterministic and oracle-replayed
      500L -> spread.clone().updated(20, 0.02f)
    ).toDF("vec_id", "embedding")

    val root = tmpDir("semingest-hot")
    val d = SemanticDedupIngest.door().ingestAll(spark, root, corpus,
      Seq(batch), nBuckets = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("near_dup"), r.getAs[Int]("admitted")))).toMap

    assert(d(400L) == ((1, 0)),
      "near-dup of a nominated (rank <= MaxCell) vector must reject")
    assert(d(500L) == ((0, 1)),
      "a neighbor capped out of every cell must never be scored — " +
        "the cap bounds candidate fan-out at MaxCell per cell")
    assert(d.size == 2)
  }
}
