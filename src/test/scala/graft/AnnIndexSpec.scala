package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, VectorOps}

/** The unified ANN serving interface: the selection policy's decade
  * table, the tier↔VectorOps wiring, and the routed query's exactness
  * at sub-bound corpus sizes. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  test("tierFor: the FAISS-guideline decade table") {
    // policy is a pure function of n — pin it across the decades the
    // selector will ever see
    assert(AnnIndex.tierFor(0L) == "brute")
    assert(AnnIndex.tierFor(500L) == "brute")
    assert(AnnIndex.tierFor((1L << 14) - 1) == "brute")
    assert(AnnIndex.tierFor(1L << 14) == "ivf")
    assert(AnnIndex.tierFor(100000L) == "ivf")
    assert(AnnIndex.tierFor(1L << 20) == "ivf")
    assert(AnnIndex.tierFor((1L << 20) + 1) == "ivfpq")
    assert(AnnIndex.tierFor(1L << 30) == "ivfpq")
  }

  private def corpus(n: Int) = {
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1), i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  test("every tier answers the same logical query with the same shape") {
    val c = corpus(200)
    val q = c.filter(col("vec_id") < 3)
    val tiers: Seq[AnnIndex] = Seq(
      AnnIndex.Brute(spark, c),
      AnnIndex.SrpLsh(spark, c),
      AnnIndex.Ivf(spark, c, nlist = 4, nprobe = 4, indexKey = None),
      AnnIndex.Pq(spark, c, m = 4, kCodes = 8, rerank = 50),
      AnnIndex.IvfPq(spark, c, nlist = 4, nprobe = 4, m = 4, kCodes = 8,
        rerank = 50))
    val exact = AnnIndex.Brute(spark, c).topK(q, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    tiers.foreach { idx =>
      val out = idx.topK(q, 5)
      assert(out.columns.toSeq ==
        Seq("query_id", "neighbor_id", "cosine", "rank"),
        s"${idx.tier}: column contract")
      val rows = out.select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect()
      assert(rows.groupBy(_._1).forall(_._2.length <= 5),
        s"${idx.tier}: at most k rows per query")
      // nprobe == nlist and full-rank PQ re-rank make the small-corpus
      // answers exact for the cell/code tiers too; SRP is the one
      // genuinely lossy tier at this size, so it gets a recall floor
      val got = rows.map(r => (r._1, r._2)).toSet
      if (idx.tier == "srp")
        assert(got.intersect(exact).size * 10 >= exact.size * 5,
          s"srp recall floor: ${got.intersect(exact).size}/${exact.size}")
      else
        assert(got == exact, s"${idx.tier}: exact at sub-bound size")
    }
  }

  test("select routes the test corpus to brute and answers exactly") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val idx = AnnIndex.select(spark, dir)
    assert(idx.tier == "brute",
      "500-vector corpus sits under BruteMax — policy must pick brute")
    val routed = idx.topK(emb.filter(col("vec_id") < 3), 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val direct = VectorOps.bruteForceTopK(
        emb.filter(col("vec_id") < 3), emb, 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(routed == direct)
  }

  test("select is registry-aware: persisted version-matched IVF routes; stale falls back") {
    import graft.operators.{AnnIndexStore, IndexMemo, VectorOps}
    val dataDir = tmpDir("annregdata")
    def writeCorpus(n: Int): Unit = {
      val rnd = new scala.util.Random(11)
      (0 until n).map { i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1), i % 3)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(dataDir + "/embeddings.parquet")
    }
    writeCorpus(64)
    def emb = graft.tables.Tables.embeddings(spark, dataDir)
    val storeRoot = tmpDir("annregroot")
    val prev = AnnIndexStore.rootOverride
    def dropMemos(): Unit = IndexMemo.invalidate(k =>
      k.dir == dataDir && Set("annstats", "ivf", "ivfpost")(k.family))
    AnnIndexStore.rootOverride = Some(storeRoot)
    try {
      dropMemos()
      // registry MISS: empty store → pure stats policy
      assert(AnnIndex.select(spark, dataDir).tier == "brute")
      // the nightly build persists a standing nlist-4 index
      VectorOps.ivfTopK(spark, emb.filter(col("vec_id") < 2), emb, k = 3,
        nlist = 4, nprobe = 4, indexKey = Some(dataDir)).count()
      // registry HIT: same version → route to the registered quantizer,
      // served exact (nprobe = nlist under the brute-size upgrade rule)
      val hit = AnnIndex.select(spark, dataDir)
      hit match {
        case ivf: AnnIndex.Ivf =>
          assert(ivf.nlist == 4 && ivf.nprobe == 4,
            s"registered nlist must route with nprobe = nlist, got ${ivf.nlist}/${ivf.nprobe}")
        case other => fail(s"registry hit must route to ivf, got ${other.tier}")
      }
      val routed = hit.topK(emb.filter(col("vec_id") < 2), 3)
        .select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
      val exact = VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 2), emb, 3)
        .select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
      assert(routed == exact, "all-cells probe + exact re-rank must stay exact")
      // VERSION MISMATCH: rewrite the dataset → the registered entry is
      // stale and must NOT be served; stats policy resumes
      writeCorpus(65)
      assert(AnnIndex.select(spark, dataDir).tier == "brute",
        "a stale registry entry (old dataset version) must fall back to stats")
    } finally {
      AnnIndexStore.rootOverride = prev
      dropMemos()
    }
  }

  test("selector sizing hands IVF tiers the √n policy constants") {
    // wiring check without a million-row corpus: the selector's nlist
    // must be sizedNlist(n) — pin the arithmetic the tiers receive
    assert(VectorOps.sizedNlist(1L << 14) == 128)
    assert(VectorOps.sizedNlist(1L << 20) == 1024)
    assert(VectorOps.sizedNprobe(128) >= 8)
  }
}
