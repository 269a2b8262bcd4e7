package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{MultimodalOps, TextOps, VectorOps}

/** Semantics tests for the training-data operators whose kernels the
  * DuckDB oracle can't replicate (simhash, winnowing, SRP-LSH) plus the
  * multimodal plumbing.
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("withGlobalOffset matches a single-partition running sum") {
    // Sparse, shuffled ids across several buckets; values incl. zeros.
    val rows = scala.util.Random.shuffle(
      (Seq(3L, 7L, 100L, 101L, 5000L, 123456L, 123457L, 999999L)
        .zip(Seq(5L, 0L, 17L, 3L, 1L, 250L, 8L, 42L))))
    val df = rows.toDF("id", "v").repartition(5)
    val out = graft.operators.TextOps
      .withGlobalOffset(df, "id", "v", "off", numBuckets = 4)
      .select($"id", $"off").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = rows.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
      .init.map(_._2) // exclusive prefix in id order
      .zip(rows.sortBy(_._1).map(_._1)).map(_.swap).toMap
    assert(out == expected, s"$out vs $expected")
  }

  test("simhash: identical docs collide, near-dups are close, unrelated far") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok30", "changed")
    val far = (1 to 60).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("id", "text")
      .select($"id", GraftFunctions.simhash(split($"text", " ")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L), "identical token arrays must hash identically")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(3L)) <= 12,
      s"near-dup hamming was ${hamming(m(1L), m(3L))}")
    assert(hamming(m(1L), m(4L)) > 12,
      s"unrelated hamming was ${hamming(m(1L), m(4L))}")
  }

  test("simhash survives whole-stage codegen and the SQL registry") {
    GraftFunctions.register(spark)
    val out = Seq("a b c d e").toDF("text")
      .createOrReplaceTempView("simhash_in")
    val viaSql = spark.sql("SELECT simhash(split(text, ' ')) AS h FROM simhash_in")
      .first().getLong(0)
    val viaCol = Seq("a b c d e").toDF("text")
      .select(GraftFunctions.simhash(split($"text", " "))).first().getLong(0)
    assert(viaSql == viaCol)
  }

  test("a bound value evaluates like its literal, interpreted and under codegen, " +
      "and a new value compiles no new class") {
    val t0 = 1660000000L
    val events = spark.range(0, 40).select($"id", timestamp_seconds($"id" * 60 + t0).as("t"))
    def stamp(i: Long) = new java.sql.Timestamp((t0 + 7200 + i) * 1000)
    // rows after minute i, stamped and offset by values of sync i
    def q(v: Any => org.apache.spark.sql.Column, i: Long) =
      events.filter($"t" > v(new java.sql.Timestamp((t0 + i * 60) * 1000)))
        .select($"id", v(stamp(i)).as("stamp"), (v(i) + $"id").as("seq"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val want = (10L to 39L).map(id => (id, stamp(9), 9 + id)).toSet
    assert(rows(q(lit, 9)) == want)
    assert(rows(q(GraftFunctions.bound, 9)) == want)
    GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false") {
      GraftSession.withConf(spark, "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        assert(rows(q(GraftFunctions.bound, 9)) == want, "interpreted")
      }
    }
    assert(compilesDuring(rows(q(GraftFunctions.bound, 11))) == 0,
      "a second value reuses the compiled class")
    assert(compilesDuring(rows(q(lit, 11))) > 0, "a new literal is new code")
  }

  test("minhash LSH surfaces a planted near-duplicate pair") {
    val rnd = new scala.util.Random(7)
    def randDoc() = (1 to 50).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")
    val original = randDoc()
    val nearDup = original.split(" ").updated(10, "EDITED").mkString(" ")
    val docs = (Seq((0L, original), (1L, nearDup)) ++
      (2L to 30L).map(i => (i, randDoc()))).toDF("doc_id", "text")
    val sig = TextOps.minhashSignatures(docs, n = 3, numHashes = 8)
    val pairs = TextOps.lshCandidatePairs(
        TextOps.lshBands(sig, numHashes = 8, rowsPerBand = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"planted pair missing from $pairs")
    assert(pairs.size < 30, "LSH should not pair everything")
  }

  test("ngram jaccard matches hand computation") {
    // doc0: shingles {a b c, b c d}; doc1: {a b c, b c x} → inter=1, 2∪2-1=3
    val docs = Seq((0L, "a b c d"), (1L, "a b c x")).toDF("doc_id", "text")
    val row = TextOps.ngramJaccardPairs(docs, n = 3, minIntersect = 1).first()
    assert(row.getAs[Long]("inter") == 1)
    assert(row.getAs[Long]("n_a") == 2 && row.getAs[Long]("n_b") == 2)
    assert(math.abs(row.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  test("pair operators leave no cached blocks behind") {
    // Each of these persists an expensive interior frame (shingles, band
    // buckets) during its build; the contract is that the result comes
    // back materialized and the intermediates are already released — a
    // library caller never has to clearCache() after them.
    spark.sharedState.cacheManager.clearCache()
    val docs = Seq((0L, "a b c d e f"), (1L, "a b c d e g"), (2L, "x y z w v u"))
      .toDF("doc_id", "text")
    TextOps.ngramJaccardPairs(docs, n = 3, minIntersect = 1).count()
    TextOps.cappedLshCandidates(docs, n = 3, numHashes = 8,
      rowsPerBand = 2, maxBucket = 4).count()
    TextOps.lshCandidatePairs(TextOps.lshBands(
      TextOps.minhashSignatures(docs, n = 3, numHashes = 8),
      numHashes = 8, rowsPerBand = 2)).count()
    graft.operators.JoinOps.setSimilarityJoin(
      docs.toDF("id", "text"), docs.toDF("id", "text"),
      idCol = "id", textCol = "text", threshold = 0.5).count()
    // the ANN index builders persist their assigned/encoded corpus frames
    // under the same contract
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble().toFloat))).toDF("vec_id", "embedding")
    graft.operators.VectorOps.ivfTopK(spark, vecs, vecs, k = 3,
      nlist = 4, nprobe = 2).count()
    graft.operators.VectorOps.pqTopK(spark, vecs, vecs, k = 3,
      m = 2, kCodes = 4, rerank = 8).count()
    graft.operators.VectorOps.ivfPqTopK(spark, vecs, vecs, k = 3,
      nlist = 4, nprobe = 2, m = 2, kCodes = 4, rerank = 8).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pair operators must release their persisted intermediates")
  }

  test("winnowing fingerprint is stable under edits far from the minimum") {
    val core = "x" * 5 + "aaaaaaaaaaaaaaaaqqqq" + "z" * 40
    val df = Seq((0L, core), (1L, "PREFIX-" + core)).toDF("id", "text")
      .select($"id", GraftFunctions.min_rolling_hash($"text", 16).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both contain every 16-gram of `core`; the min can only move lower
    // via windows spanning the prefix — usually it doesn't
    assert(fps(0L) == fps(1L) || fps(1L) < fps(0L))
  }

  test("brute-force top-k ranks by exact cosine") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = VectorOps.bruteForceTopK(e.filter($"vec_id" === 0), e, k = 3)
      .orderBy($"rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(top.head.getAs[Double]("cosine") > 0.99)
  }

  test("knn graph: symmetric edges, bounded ranks, agrees with brute force") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val g = VectorOps.knnGraph(emb, k = 3).persist()
    try {
      // every node covered, exactly contiguous ranks 1..3
      val perNode = g.groupBy($"query_id")
        .agg(count(lit(1)).as("n"), max($"rank").as("mr"), min($"rank").as("lo"))
      assert(perNode.filter($"n" =!= 3 || $"mr" =!= 3 || $"lo" =!= 1).count() == 0)
      assert(perNode.count() == emb.count())
      // the banded graph recovers most of the exact top-3 edges (the
      // clustered synthetic embeddings collide within their label's cone)
      val exact = VectorOps.bruteForceTopK(emb, emb, k = 3)
        .select($"query_id", $"neighbor_id")
      val hit = g.select($"query_id", $"neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count()
      val recall = hit.toDouble / exact.count()
      info(s"knn-graph recall@3 = $recall")
      assert(recall >= 0.8, s"knn-graph recall@3 $recall below 0.8")
    } finally g.unpersist()
  }

  test("connected components: hand graph converges, empty graph is empty") {
    import graft.operators.GraphOps
    // two components {1,2,3,7} (chain via transitivity) and {5,6}
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 1L), (5L, 6L)).toDF("src", "dst")
    val labels = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L))
    // empty edge set: no NPE from the NULL label sum, empty result
    val none = GraphOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(none.count() == 0)
  }

  test("connected components: pointer doubling converges in O(log diameter)") {
    import graft.operators.GraphOps
    // a 17-node chain — the worst case for plain min-label propagation
    val chain = (0L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
    val (plainDf, plainIters) =
      GraphOps.connectedComponentsWithStats(chain, shortcut = false)
    val (fastDf, fastIters) =
      GraphOps.connectedComponentsWithStats(chain, shortcut = true)
    val plain = plainDf.as[(Long, Long)].collect().toMap
    val fast = fastDf.as[(Long, Long)].collect().toMap
    info(s"chain-17 iterations: plain $plainIters, pointer-doubled $fastIters")
    assert(fast == plain, "shortcut must not change the fixpoint")
    assert(fast.values.toSet == Set(0L), "one component labeled by its min id")
    assert(plainIters >= 16, "plain propagation walks the chain")
    assert(fastIters <= 7, s"doubling must converge logarithmically ($fastIters)")
    assert(fastIters < plainIters)
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorOps.lshTopK(queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH recall@10 = $recall (candidates ${approx.size})")
    // 12 bands × 4-bit SRP buckets: 0.74 measured at sf0.001 (was 0.44
    // at 4 bands — more independent collision chances for near vectors)
    assert(recall >= 0.5, s"recall collapsed: $recall")
  }

  test("IVF ANN recall vs brute force on real embeddings") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.ivfTopK(spark, queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall@10 = $recall (nlist=16, nprobe=6)")
    // 0.88 measured at sf0.001 (was 0.64 at nprobe=4 — probing 6/16
    // cells covers the boundary-straddling neighbors)
    assert(recall >= 0.6, s"IVF recall collapsed: $recall")
  }

  test("PQ ANN recall vs brute force on real embeddings") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.pqTopK(spark, queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(s"PQ recall@10 = $recall (m=8, k=32, rerank=100)")
    // the exact re-rank over 100 ADC candidates should clear the probe-
    // bounded tiers comfortably (measured 1.0 at sf0.001)
    assert(recall >= 0.7, s"PQ recall collapsed: $recall")
  }

  test("LM perplexity: empty reference slice falls back to the Laplace floor") {
    // no 'en' docs → N = 0, every token OOV: first terms are ln(1/V),
    // bigram terms the backoff ln(0.4/V) — finite everywhere, all docs
    // still bucketed (the screen degrades to a uniform prior, it does
    // not NaN or divide by zero)
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    Seq((0L, "foo bar foo", "de", "s0", 11L), (1L, "bar baz qux", "fr", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextQueries.q171LmPerplexity(spark, dir).collect()
    assert(out.length == 2)
    assert(out.forall(r => !r.getDouble(r.fieldIndex("avg_logprob")).isNaN
      && !r.getDouble(r.fieldIndex("avg_logprob")).isInfinite))
    assert(out.forall(r => Set("head", "middle", "tail")(
      r.getString(r.fieldIndex("bucket")))))
  }

  test("semantic decontamination: empty eval set flags nothing") {
    import graft.operators.VectorOps
    val corpus = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val evalSet = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = VectorOps.semanticDecontaminate(corpus, evalSet,
        threshold = 0.45, bands = 1, dimsPerBand = 4).collect()
    assert(out.length == 1 && out.head.getLong(1) == 0L && out.head.getInt(2) == 0)
  }

  test("semantic decontamination: flags cosine-matches to the eval set only") {
    import graft.operators.VectorOps
    // eval vector e0; corpus: near-copy of e0 (flagged), orthogonal (not)
    val evalSet = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(0.99f, -0.05f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = VectorOps.semanticDecontaminate(corpus, evalSet,
        threshold = 0.45, bands = 1, dimsPerBand = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out == Map(0L -> 1, 1L -> 0), out.toString)
  }

  test("perceptual-hash near-dup: flags byte-similar image payloads only") {
    import graft.operators.MultimodalOps
    val varied = (0 until 128).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val tweaked = varied.updated(5, 'z').updated(90, 'q')
    val other = (0 until 128).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val media = Seq((0L, "image", varied.getBytes), (3L, "image", tweaked.getBytes),
        (6L, "image", other.getBytes), (1L, "audio", varied.getBytes))
      .toDF("doc_id", "kind", "media")
    val pairs = MultimodalOps.phashNearDups(spark, media, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "near-identical payloads must pair")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L),
      "an unrelated payload must not pass the Hamming verify")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      "non-image payloads are outside the screen")
    assert(spark.sharedState.cacheManager.isEmpty,
      "phashNearDups must release its persisted hash table")
  }

  test("GramAgg: exact gram/sums/count, invariant under repartitioning") {
    import org.apache.spark.sql.functions.udaf
    val vecs = Seq(
      (0L, Seq(1L, 2L, 3L)), (1L, Seq(-1L, 0L, 5L)), (2L, Seq(2L, 2L, 2L)))
    // hand-computed: upper triangle row-major, then per-dim sums, then n
    val expected = Seq(6L, 6L, 2L, 8L, 10L, 38L, 2L, 4L, 10L, 3L)
    val gram = udaf(new graft.functions.GramAgg(3))
    for (parts <- Seq(1, 3)) {
      val got = vecs.toDF("id", "qe").repartition(parts)
        .agg(gram($"qe")).first().getSeq[Long](0)
      assert(got == expected, s"parts=$parts: $got")
    }
    // seeded random differential vs the naive O(n·d²) model
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 104729L)
      val d = 3 + rnd.nextInt(5)
      val rows = Seq.fill(8 + rnd.nextInt(20))(
        Seq.fill(d)(rnd.nextInt(2001).toLong - 1000L))
      val tri = d * (d + 1) / 2
      val want = new Array[Long](tri + d + 1)
      rows.foreach { v =>
        var k = 0
        for (i <- 0 until d) {
          for (j <- i until d) { want(k) += v(i) * v(j); k += 1 }
          want(tri + i) += v(i)
        }
        want(tri + d) += 1L
      }
      val agg = udaf(new graft.functions.GramAgg(d))
      val got = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "qe").repartition(1 + seed % 4)
        .agg(agg($"qe")).first().getSeq[Long](0)
      assert(got == want.toSeq, s"seed $seed d=$d")
    }
  }

  test("PQ/IVF-PQ ADC survives codebooks shorter than kCodes") {
    // 6 vectors with the default-shaped kCodes=32: Lloyd's returns ≤6
    // codewords per block, so the flat LUT is SHORTER than m·kCodes —
    // the ADC index must go through the per-block prefix offsets, not a
    // fixed kCodes stride (which read a neighboring block's distances
    // or off the end). With rerank ≥ corpus and all cells probed, the
    // exact re-rank makes both operators equal brute force exactly.
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 6L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val exact = VectorOps.bruteForceTopK(vecs, vecs, k = 3)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.pqTopK(spark, vecs, vecs, k = 3,
        m = 2, kCodes = 32, rerank = 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = VectorOps.ivfPqTopK(spark, vecs, vecs, k = 3,
        nlist = 2, nprobe = 2, m = 2, kCodes = 32, rerank = 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == exact, s"short-codebook PQ diverged: $pq vs $exact")
    assert(ivfpq == exact, s"short-codebook IVF-PQ diverged: $ivfpq vs $exact")
  }

  test("IVF-PQ ANN recall vs brute force on real embeddings") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 5)
    val exact = VectorOps.bruteForceTopK(queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = VectorOps.ivfPqTopK(spark, queries, emb, 10)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    info(s"IVF-PQ recall@10 = $recall (nlist=16, nprobe=8, m=8, k=32)")
    // residual quantization recovers the recall global PQ loses at scale
    // (AnnRecallProbe after the layout-independence fix: min
    // 0.70/0.70/0.50 across sf0.001/0.01/0.1 vs plain PQ's 0.30 at
    // sf0.1); pooled recall at sf0.001 measured 0.90
    assert(recall >= 0.7, s"IVF-PQ recall collapsed: $recall")
  }

  test("ANN index cache retrains after an in-place dataset rewrite") {
    // The memo stamps each entry with the dataset's version — mtime/count/
    // bytes — so a long session that rewrites a corpus dir in place gets a
    // fresh index without anyone calling invalidate(): staleness must
    // fail closed, not depend on caller discipline.
    import graft.operators.IndexMemo
    val dir = tmpDir("annstale")
    def writeCorpus(shift: Float): Unit =
      (0L until 40L).map(i =>
          (i, Array.tabulate(8)(j => ((i % 4) * 3 + j).toFloat + shift)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    def corpus = spark.read.parquet(dir + "/embeddings.parquet")
    def builds = IndexMemo.builds.count(_.key.dir == dir)

    writeCorpus(0f)
    def probe(): Unit = VectorOps.ivfTopK(spark, corpus.filter($"vec_id" < 2),
      corpus, k = 3, nlist = 4, nprobe = 4, indexKey = Some(dir)).count()
    def keysFor = IndexMemo.builds.filter(_.key.dir == dir)
      .map(_.ledgerKey).toSet
    probe()
    val k1 = keysFor
    // round 15: a probe records TWO index builds — the coarse-quantizer
    // model ("ivf:") and the memoized postings ("ivfpost:"), each its
    // own entry
    assert(builds == 2, s"first probe trains model + postings: $k1")
    probe()
    assert(keysFor == k1, "unchanged dataset: memo hit, no retrain")

    Thread.sleep(10) // mtime has millisecond resolution
    writeCorpus(100f)
    probe()
    val k2 = keysFor
    assert(k2 != k1, "in-place rewrite changes the dataset version → retrain")
    assert(builds == 2,
      "the superseded entries are EVICTED, not leaked: one live build " +
        "key per dataset per family (no duplicate ann_build ledger rows)")
  }

  test("AnnIndexStore disk tier: indexes persist across JVM-memo clears, results identical") {
    // the cross-JVM half of the train-once story: build with the disk
    // tier on, wipe the in-memory memo (≈ a new session), probe again —
    // both the coarse quantizer (ML writer) and the residual codebooks
    // (java-ser) must load from disk and give identical results
    import graft.operators.{AnnIndexStore, IndexMemo}
    val dataDir = tmpDir("annstoredata")
    (0L until 40L).map(i =>
        (i, Array.tabulate(8)(j => ((i % 4) * 3 + j).toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dataDir + "/embeddings.parquet")
    def corpus = spark.read.parquet(dataDir + "/embeddings.parquet")
    def probe() = VectorOps.ivfPqTopK(spark, corpus.filter($"vec_id" < 2),
      corpus, k = 3, nlist = 4, nprobe = 4, m = 4, kCodes = 8,
      indexKey = Some(dataDir))
      .collect().map(_.toString).sorted.toSeq
    val storeRoot = tmpDir("annstoreroot")
    def dropMemos(): Unit = IndexMemo.invalidate(k =>
      k.dir == dataDir && Set("ivf", "ivfpq")(k.family))
    AnnIndexStore.rootOverride = Some(storeRoot)
    try {
      dropMemos()
      val r1 = probe()
      val loads0 = AnnIndexStore.diskLoads
      assert(new java.io.File(storeRoot).listFiles().nonEmpty,
        "build must persist index entries")
      // "new JVM": drop the in-memory memo; disk must serve both legs
      dropMemos()
      val r2 = probe()
      assert(AnnIndexStore.diskLoads >= loads0 + 2,
        "both the kmeans and codebook legs must load from disk")
      assert(r1 == r2, "disk-loaded index must reproduce results exactly")
      // wrong-key paranoia: a corrupted KEY marker degrades to rebuild
      val entries = new java.io.File(storeRoot).listFiles()
      entries.foreach(e => java.nio.file.Files.write(
        java.nio.file.Paths.get(e.getPath, "KEY"), "garbage".getBytes))
      dropMemos()
      val r3 = probe()
      assert(r1 == r3, "mismatched KEY marker must rebuild, not serve")
    } finally {
      AnnIndexStore.rootOverride = None
      dropMemos()
    }
  }

  test("AnnIndexStore parquet/long/tree legs: postings persist, scalars and trees roundtrip") {
    import graft.operators.{AnnIndexStore, IndexMemo}
    val dataDir = tmpDir("annpostdata")
    (0L until 40L).map(i =>
        (i, Array.tabulate(8)(j => ((i % 4) * 3 + j).toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dataDir + "/embeddings.parquet")
    def corpus = spark.read.parquet(dataDir + "/embeddings.parquet")
    def probe() = VectorOps.ivfTopK(spark, corpus.filter($"vec_id" < 2),
      corpus, k = 3, nlist = 4, nprobe = 4, indexKey = Some(dataDir))
      .collect().map(_.toString).sorted.toSeq
    val storeRoot = tmpDir("annpostroot")
    val prev = AnnIndexStore.rootOverride
    AnnIndexStore.rootOverride = Some(storeRoot)
    def dropMemos(): Unit = IndexMemo.invalidate(k =>
      k.dir == dataDir && Set("ivf", "ivfpost")(k.family))
    try {
      dropMemos()
      val r1 = probe()
      // "new JVM": the postings parquet leg must serve alongside kmeans
      dropMemos()
      val loads0 = AnnIndexStore.diskLoads
      val r2 = probe()
      assert(AnnIndexStore.diskLoads >= loads0 + 2,
        "kmeans AND postings legs must both load from disk")
      assert(r1 == r2, "disk-loaded postings must reproduce results exactly")
      // scalar leg
      var builds = 0
      def count() = AnnIndexStore.orBuildLong(
        IndexMemo.Key("stats", "test", Nil, session = false))({ builds += 1; 42L })
      assert(count() == 42L && count() == 42L)
      assert(builds == 1, "second orBuildLong call must load, not rebuild")
      // tree leg: build writes a file tree; a second call reuses it
      var treeBuilds = 0
      def tree() = AnnIndexStore.orBuildTree(
          IndexMemo.Key("tree", "test", Nil, session = false)) { path =>
        treeBuilds += 1
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, "part-0"), "payload".getBytes)
      }
      val t1 = tree(); val t2 = tree()
      assert(t1.isDefined && t1 == t2 && treeBuilds == 1,
        "tree leg must build once and serve the same path after")
      assert(new java.io.File(t1.get, "part-0").isFile)
    } finally {
      AnnIndexStore.rootOverride = prev
      dropMemos()
    }
  }

  test("multimodal decode stub is deterministic and kind-aware") {
    val docs = Seq((0L, "hello world"), (2L, "a video payload " * 20))
      .toDF("doc_id", "text").withColumn("n_chars", length($"text"))
    val media = MultimodalOps.asMediaTable(docs)
    val feats = MultimodalOps.decodeFeatures(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(0L).kind == "image" && feats(0L).n_frames == 1)
    assert(feats(2L).kind == "video" && feats(2L).n_frames > 1)
    assert(feats(0L).byte_len == "hello world".getBytes.length)
    val again = MultimodalOps.decodeFeatures(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(0L) == again(0L) && feats(2L) == again(2L))
  }

  test("frame sampling yields ceil(len/stride) rows per video") {
    val docs = Seq((2L, "x" * 250)).toDF("doc_id", "text")
    val frames = MultimodalOps.frameSample(MultimodalOps.asMediaTable(docs), 100)
    assert(frames.count() == 3) // offsets 0, 100, 200
    assert(frames.agg(max($"offset")).first().getLong(0) == 200L)
  }

  // --- ExactSubstr duplicated-span dedup (duplicatedSpans / scrub) ---

  private def docTokens(prefix: String, k: Int): Seq[String] =
    (1 to k).map(i => s"$prefix$i")

  test("duplicatedSpans merges overlapping cross-doc grams into one maximal span") {
    // Docs 1 and 2 share a 10-token run → 3 overlapping 8-grams each,
    // which must merge into a SINGLE [start, start+9] span per doc.
    val shared = docTokens("dup", 10)
    val d1 = (docTokens("a", 5) ++ shared ++ docTokens("b", 5)).mkString(" ")
    val d2 = (docTokens("c", 3) ++ shared ++ docTokens("d", 7)).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val spans = TextOps.duplicatedSpans(docs, n = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(spans.toSeq == Seq((1L, 5, 14), (2L, 3, 12)), spans.toSeq.toString)
  }

  test("duplicatedSpans ignores in-document-only repetition (minDocs=2)") {
    // One doc repeats its own 8-gram twice; no other doc shares it →
    // nothing is flagged (that's q126's repetition signal, not dedup).
    val run = docTokens("r", 8)
    val d1 = (run ++ docTokens("x", 4) ++ run).mkString(" ")
    val docs = Seq((1L, d1), (2L, docTokens("z", 30).mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextOps.duplicatedSpans(docs, n = 8).isEmpty)
  }

  test("incremental span screen: corpus grams flag, corpus-internal dups don't") {
    val boiler = docTokens("dup", 10)
    val corpus = Seq(
      (1L, (docTokens("a", 5) ++ boiler).mkString(" ")),
      // corpus-internal duplication (docs 1+2 share boiler): must NOT
      // leak flags onto clean batch docs
      (2L, (boiler ++ docTokens("b", 5)).mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, (docTokens("c", 5) ++ boiler ++ docTokens("d", 15)).mkString(" ")), // vs corpus
      (11L, (docTokens("e", 4) ++ docTokens("s", 8) ++ docTokens("f", 30)).mkString(" ")), // vs 12
      (12L, (docTokens("s", 8) ++ docTokens("g", 34)).mkString(" ")),
      (13L, docTokens("h", 25).mkString(" "))) // clean
      .toDF("doc_id", "text")
    val out = TextOps.incrementalDuplicatedSpanStats(corpus, batch, n = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(5)))
      .toMap
    assert(out(10L) == ((1L, 10L, 30L, 0)), s"corpus-dup doc: ${out(10L)}") // 10/30 ≥ 20%
    assert(out(11L) == ((1L, 8L, 42L, 1)), s"batch-dup doc: ${out(11L)}") // 8/42 < 20%
    assert(out(12L)._2 == 8L && out(12L)._4 == 1)
    assert(out(13L) == ((0L, 0L, 25L, 1)), "clean batch doc must carry zeros, admitted")
  }

  test("scrubKeepOne keeps the canonical occurrence, removes the rest") {
    val shared = docTokens("dup", 10)
    val d1 = (docTokens("a", 5) ++ shared).mkString(" ")         // canonical (min doc_id)
    val d2 = (docTokens("c", 3) ++ shared ++ docTokens("d", 7)).mkString(" ")
    val d3 = shared.mkString(" ")                                // fully shared, non-canonical
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = TextOps.scrubKeepOne(docs, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == ((15L, d1)), "canonical doc must survive verbatim")
    assert(out(2L) == ((10L, (docTokens("c", 3) ++ docTokens("d", 7)).mkString(" "))))
    assert(!out.contains(3L), "non-canonical fully-shared doc must vanish")
  }

  test("scrubDuplicatedSpans removes exactly the span tokens, order kept") {
    val shared = docTokens("dup", 10)
    val head = docTokens("a", 5)
    val tail = docTokens("b", 5)
    val d1 = (head ++ shared ++ tail).mkString(" ")
    val d2 = (docTokens("c", 3) ++ shared ++ docTokens("d", 7)).mkString(" ")
    val d3 = shared.mkString(" ") // fully duplicated → vanishes
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = TextOps.scrubDuplicatedSpans(docs, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == (10L, (head ++ tail).mkString(" ")))
    assert(out(2L)._1 == 10L)
    assert(!out.contains(3L), "a fully-duplicated doc must vanish from the scrub")
  }

  test("Misra-Gries guarantee: no above-threshold item lost, under any partitioning") {
    // known ground truth: a few genuinely heavy items over a long light
    // tail; the candidate SET may vary with merge order, the guarantee
    // (every item with freq > N/(k+1) survives) may not — checked under
    // three hostile partitionings
    val rnd = new scala.util.Random(11)
    val heavy = (0 until 5).map(i => s"H$i" -> (400 + rnd.nextInt(400)))
    val light = (0 until 1500).map(i => s"l$i" -> (1 + rnd.nextInt(3)))
    val stream = rnd.shuffle(
      (heavy ++ light).flatMap { case (t, c) => Seq.fill(c)(t) })
    val n = stream.size.toLong
    val k = 16
    val mustSurvive = (heavy ++ light)
      .filter { case (_, c) => c.toLong * (k + 1) > n }.map(_._1).toSet
    assert(mustSurvive.nonEmpty, "fixture must contain true heavy hitters")
    val hh = udaf(new graft.functions.HeavyHittersAgg(k))
    Seq(1, 3, 13).foreach { p =>
      val cands = stream.toDF("tok").repartition(p)
        .agg(hh($"tok")).first().getSeq[String](0).toSet
      assert(cands.size <= k, s"p=$p: summary exceeded $k counters")
      assert(mustSurvive.subsetOf(cands),
        s"p=$p: lost heavy hitters ${mustSurvive -- cands}")
    }
  }

  test("winnowing guarantee: a shared run of w+n-1 tokens always yields a shared selection") {
    // Schleimer et al.'s theorem, checked over 30 seeded random doc pairs:
    // with n=3, w=4 any shared 6-token run must put at least one SELECTED
    // fingerprint in both sketches — whatever surrounds it. Also pins the
    // density expectation (~2/(w+1)) loosely on random text.
    val n = 3; val w = 4
    val rnd = new scala.util.Random(7)
    def words(k: Int) = (1 to k).map(_ => f"w${rnd.nextInt(100000)}%05d")
    val pairs = (0 until 30).map { i =>
      val shared = words(n + w - 1) // exactly the guaranteed-minimum run
      val a = (words(rnd.nextInt(40)) ++ shared ++ words(rnd.nextInt(40))).mkString(" ")
      val b = (words(rnd.nextInt(40)) ++ shared ++ words(rnd.nextInt(40))).mkString(" ")
      (2L * i, a, 2L * i + 1, b)
    }
    val docs = pairs.flatMap { case (ia, a, ib, b) => Seq((ia, a), (ib, b)) }
      .toDF("doc_id", "text")
    val sel = TextOps.winnowingSelect(docs, n, w)
      .select($"doc_id", $"fp").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
    pairs.foreach { case (ia, _, ib, _) =>
      assert(sel(ia).intersect(sel(ib)).nonEmpty,
        s"docs $ia/$ib share a ${n + w - 1}-token run but no selected fp")
    }
    // density: selected/grams should sit near 2/(w+1)=0.4 on random text
    val stats = TextOps.winnowingSelect(docs, n, w)
      .groupBy($"doc_id", $"n_grams").count().collect()
    val density = stats.map(r => r.getLong(2).toDouble / r.getLong(1)).sum / stats.length
    assert(density > 0.25 && density < 0.6, f"mean density $density%.2f off 2/(w+1)")
  }
}
