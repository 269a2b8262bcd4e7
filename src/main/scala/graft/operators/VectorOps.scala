package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-similarity operators: brute-force cosine top-k (correctness
  * baseline) and sign-random-projection LSH (the scale path).
  *
  * Determinism contract: float embeddings are quantized to integers
  * (`round(x * 10000)`) before any arithmetic. Integer dot products and
  * norms are exact and order-independent; the final cosine is derived from
  * those integers with IEEE double ops (division, sqrt are correctly
  * rounded) — bit-identical across Spark, DuckDB, or any engine. Ranking
  * ties break on vec_id.
  */
object VectorOps {

  val Scale = 10000

  /** Float array → exact integer array. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — a native
    * codegen'd expression; the `aggregate`/`zip_with` HOF equivalent is
    * CodegenFallback and ~100× slower per row. */
  def qdot(a: Column, b: Column): Column = graft.functions.GraftFunctions.long_dot(a, b)

  /** Exact integer squared norm. */
  def qnorm2(a: Column): Column = qdot(a, a)

  /** Cosine from exact integer parts (deterministic double). */
  def cosineFromParts(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / sqrt(n2a.cast("double") * n2b.cast("double"))

  /** Brute-force top-k cosine neighbors for a (small) query set against the
    * corpus. The query side is broadcast — one corpus scan, no corpus
    * shuffle; the per-query top-k runs as a window over (query, candidate)
    * pairs partitioned by query. At 1000 executors this is
    * scan + broadcast-nested-loop + partial top-k: the right baseline. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      quantize(col("embedding")).as("q_emb"))
      .withColumn("q_n2", qnorm2(col("q_emb")))
    // spread the corpus by row: scoring is compute-bound and the corpus may
    // arrive as one undersized parquet split
    val c = corpus.repartition(
      corpus.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"),
        quantize(col("embedding")).as("c_emb"))
      .withColumn("c_n2", qnorm2(col("c_emb")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosineFromParts(qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    topKByQuery(scored, k)
  }

  /** Per-query top-k via the bounded-heap aggregator: map-side partials
    * ship ≤ k candidates per query per task into the shuffle — a window
    * row_number formulation would shuffle and sort EVERY scored pair,
    * which is the difference between O(k·tasks) and O(corpus) shuffle
    * bytes per query at 100 TB. Output matches the window formulation
    * exactly (score desc, id asc, ranks from 1). */
  def topKByQuery(scored: DataFrame, k: Int): DataFrame = {
    val top = udaf(new graft.functions.TopKAgg(k))
    scored.groupBy(col("query_id"))
      .agg(top(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Per-query recall of an ANN result against an exact baseline: the
    * fraction of the baseline's (query_id, neighbor_id) rows the ANN
    * result recovered. Queries the ANN missed entirely still get a row
    * (recall 0). The evaluation harness for the ANN tiers — it turns an
    * engine-specific approximate result into a deterministic, oracle-
    * checkable bound (emit `recall >= bound` and have the oracle expect
    * true). */
  def recallAgainst(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("k").cast("double")).as("recall"))
  }

  /** Sign-random-projection signature: bit p = sign(Σ_d w(p,d) · x_d) with
    * deterministic pseudo-random weights w(p,d) = ±1 derived from a mixed
    * hash of (p,d). No stored model, reproducible on any cluster; native
    * codegen'd kernel (see HashKernels.srpBits). */
  def srpBits(emb: Column, planes: Int): Column =
    graft.functions.GraftFunctions.srp_bits(emb, planes)

  /** LSH ANN: bucket by SRP signature prefix bands; candidates = same
    * bucket in any band; exact re-rank inside candidates. Trades recall
    * for never materializing the cross product — the 100 TB path. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 48, bands: Int = 12): DataFrame = {
    val rowsPerBand = planes / bands
    // one projection + explode per side: the SRP signature, the quantized
    // vector, AND its norm are evaluated once per vector — not per band,
    // and not per candidate pair after the join
    def withBuckets(df: DataFrame, idCol: String, pfx: String): DataFrame = {
      val sig = df
        .withColumn(s"${pfx}q", quantize(col("embedding")))
        .withColumn(s"${pfx}n2", qnorm2(col(s"${pfx}q")))
        .withColumn("sig", srpBits(col("embedding"), planes))
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          substring(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("bucket"))
      }
      sig.select(col(idCol), col(s"${pfx}q"), col(s"${pfx}n2"),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col(idCol), col(s"${pfx}q"), col(s"${pfx}n2"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    val qb = withBuckets(queries.select(col("vec_id").as("query_id"), col("embedding")),
      "query_id", "q_")
    val cb = withBuckets(corpus.repartition(
      corpus.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id", "c_")
    val scored = qb.join(cb, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_q"), col("q_n2"),
        col("c_q"), col("c_n2"))
      .distinct() // a pair sharing several bands scores once
      .withColumn("cosine", cosineFromParts(
        qdot(col("q_q"), col("c_q")), col("q_n2"), col("c_n2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    topKByQuery(scored, k)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * cells and exact-re-ranks only those members. The index is the
    * standard ANN scale path when SRP buckets are too coarse: one
    * training pass (sampled at 100 TB), then lookups touch
    * ~nprobe/nlist of the corpus. Seeded k-means keeps it deterministic.
    */
  /** Index BUILD for the IVF family (train the coarse quantizer) —
    * memoized per dataset when indexKey is given: a deployment trains
    * once and amortizes, so the steady-state cost of the IVF operators
    * is the probe, not the fit. Training samples a bounded set:
    * centroid quality saturates long before the full corpus is seen, and
    * at 100 TB a full pass per k-means iteration is the difference
    * between index-build minutes and days. ~64k vectors ≫ nlist
    * centroids is plenty. SHARED by [[ivfTopK]] and [[ivfPqTopK]] under
    * one memo key — one coarse index serves both, as in a deployment.
    *
    * `corpusVec` must carry a `features` (ml Vector) column. */
  private def coarseQuantizer(corpusVec: DataFrame, nlist: Int, seed: Long,
      indexKey: Option[String], keyTag: String = "full")
      : org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    def train(): org.apache.spark.ml.clustering.KMeansModel = {
      val trainTarget = 65536L
      val corpusN = corpusVec.count()
      // Deterministic downsample + FIXED layout: `.sample`'s membership
      // AND k-means||'s seeded init are both functions of the physical
      // partitioning, so a config change (shuffle.partitions, input
      // splits) would silently train a DIFFERENT quantizer — caught by
      // the local[7] invariance sweep as a q170 recall-gate flip. The
      // hash-filter picks the same training rows in any environment, the
      // fixed 32-way hash repartition pins the row→partition mapping to
      // the KEY, and the within-partition sort pins the ORDER — shuffle
      // block-fetch order is not deterministic, and k-means||'s seeded
      // sampling consumes randomness in row order, so without the sort
      // the fit would still be layout-dependent. Together they make the
      // seeded fit a pure function of (data, seed); the sort is cheap on
      // a ≤65k-row training frame.
      val trainRows =
        if (corpusN <= trainTarget) corpusVec
        else corpusVec.filter(
          pmod(xxhash64(col("neighbor_id"), lit(seed)), lit(1000000L))
            // clamp ≥ 1: past ~6.5e10 rows the raw threshold truncates
            // to 0 and would silently empty the training set
            < lit(math.max(1L, (trainTarget.toDouble / corpusN * 1e6).toLong)))
      val trainDf = trainRows.repartition(32, col("neighbor_id"))
        .sortWithinPartitions(col("neighbor_id"))
        .select(col("features"))
      // k-means|| init kept deliberately: random init was measured ~0.3 s
      // faster at sf0.1 but drops recall@10 from 0.64 to 0.48 — centroid
      // quality is worth more than index-build seconds here.
      new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(trainDf)
    }
    indexKey match {
      case Some(key) =>
        // one standing quantizer per (dataset, tag, nlist, seed): the
        // full-corpus and base-trained models and every nlist coexist
        val ik = IndexMemo.Key("ivf", key,
          Seq(keyTag, s"nlist=$nlist", s"seed=$seed"), session = false)
        IndexMemo(ik)(AnnIndexStore.orBuildKMeans(corpusVec.sparkSession, ik)(
          train()))
      case None => train()
    }
  }

  /** corpus frame → (neighbor_id, embedding, features) with the ml Vector
    * column the quantizer consumes. */
  private def toCorpusVec(corpus: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    corpus.repartition(
      corpus.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding").cast("array<double>")))
  }

  /** Frozen-model cell assignment: nearest trained centroid per vector —
    * the operation an APPEND pays (no retrain, no touch of the model). */
  private def assignCells(model: org.apache.spark.ml.clustering.KMeansModel,
      corpusVec: DataFrame): DataFrame =
    model.transform(corpusVec)
      .select(col("neighbor_id"),
        quantize(col("embedding")).as("c_emb"),
        col("prediction").as("cell"))
      .withColumn("c_n2", qnorm2(col("c_emb")))

  /** √N-sized cell count for the IVF family, rounded to a power of two
    * and clamped to [floor, cap] — the FAISS sizing rule (nlist ≈ √N
    * balances the two probe terms: ranking nlist centroids vs scanning
    * nprobe·N/nlist postings; arXiv:2401.08281 §4 discusses the trade).
    *
    * WHY THIS MUST SCALE (the 100 TB note): `nlist` is also the postings
    * join's KEY CARDINALITY. At the toy default (16) the probe join has
    * 16 distinct keys — a parallelism ceiling of 16 tasks and a skew
    * magnet at any real scale. Sizing: 1e9 vectors → 32768 cells
    * (~30k rows/cell); 1e11 (the 100 TB regime at ~1 KB/vector) → the
    * 262144 cap (~380k rows/cell — past this, centroid ranking on the
    * query side and k-means training dominate; shard the index instead).
    * The recall trade is measured, not guessed (`AnnRecallProbe <dir>
    * nlist` sweeps nlist × nprobe on the wide query panel): at a CONSTANT
    * scanned fraction nprobe/nlist = 0.5, growing nlist only IMPROVES
    * recall@10 — mean 0.82→0.92→0.96→0.99 across nlist 16/64/128/256 at
    * sf0.1 (2k vectors), 0.82→0.91→0.93→0.96 on the derived sf1 (20k) —
    * finer cells discard less of the true neighborhood per unprobed
    * cell. So √N sizing costs nothing at matched cost, and any
    * nprobe < nlist/2 is a pure cost/recall dial: the [[sizedNprobe]]
    * line (2√nlist, scanned fraction ∝ 1/√nlist) measured mean 0.72/0.74/
    * 0.73 (sf0.1) and 0.71/0.63/0.63 (sf1) across nlist 64/128/256.
    *
    * The q44/q237 defaults stay at the toy 16 — their recall gates and
    * bench pins are measurements of THAT configuration — but a deployment
    * (and [[graft.ScaleProbe]]'s sized cells, which gate mean recall at
    * nprobe = nlist/2) passes `nlist = sizedNlist(corpusRows)`. */
  def sizedNlist(corpusRows: Long, floor: Int = 16, cap: Int = 1 << 18): Int = {
    val target = math.sqrt(math.max(1L, corpusRows).toDouble)
    val pow2 = math.pow(2.0, math.round(math.log(target) / math.log(2.0)).toDouble)
    math.max(floor, math.min(cap, pow2.toInt))
  }

  /** nprobe companion to [[sizedNlist]]: the measured cost knee, NOT a
    * recall guarantee — at nprobe ≈ 2√nlist the scanned fraction falls
    * as 1/√nlist while mean recall@10 degrades slowly (0.72→0.73 across
    * the sf0.1 grid, 0.71→0.63 at sf1; see [[sizedNlist]] for the full
    * sweep). A deployment with a recall target raises nprobe toward
    * nlist/2, where the sweep measured ≥ 0.91 mean everywhere. */
  def sizedNprobe(nlist: Int, floor: Int = 8): Int =
    math.max(floor, math.min(nlist,
      2 * math.round(math.sqrt(nlist.toDouble)).toInt))

  def ivfTopK(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 8, seed: Long = 42L,
      indexKey: Option[String] = None): DataFrame = {
    val corpusVec = toCorpusVec(corpus)
    val model = coarseQuantizer(corpusVec, nlist, seed, indexKey)
    // postings memoized as index state when a dataset key exists — the
    // same amortization as ivfTopKAppend's (an IVF's postings are built
    // once with its centroids; re-assigning the corpus per query call
    // mis-prices the probe). Session-scoped; build cost → ann_build.
    val assigned = indexKey match {
      case Some(key) =>
        // session-bound in JVM (a localCheckpoint); the persisted parquet
        // is context-free and serves every JVM
        val ik = IndexMemo.Key("ivfpost", key,
          Seq("full", s"nlist=$nlist", s"seed=$seed"), session = true)
        IndexMemo(ik)(
          AnnIndexStore.orBuildParquet(spark, ik)(
            assignCells(model, corpusVec).localCheckpoint(true)))
      case None =>
        assignCells(model, corpusVec)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    ivfProbe(spark, queries, model, assigned, k, nprobe)
  }

  /** Incremental-index variant: the coarse quantizer trains on `base`
    * ONLY and is then FROZEN; `append` rides in through [[assignCells]]
    * alone — the exact maintenance path a nightly-trained deployment
    * runs when new embeddings arrive between retrains (FAISS's add-
    * after-train): assignment cost is O(append × nlist), the trained
    * artifact is untouched, and the postings union serves queries
    * immediately. Recall degrades only as far as the base centroids
    * misrepresent the appended distribution — q237 gates that number.
    * `keyTag` keeps the base-trained model's memo entry distinct from
    * the full-corpus model at the same (key, nlist, seed). */
  def ivfTopKAppend(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, base: DataFrame, append: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 8, seed: Long = 42L,
      indexKey: Option[String] = None, spillAppend: Int = 1): DataFrame = {
    val baseVec = toCorpusVec(base)
    val model = coarseQuantizer(baseVec, nlist, seed, indexKey,
      keyTag = "train=base")
    // Drift-bounded re-assignment (spillAppend > 1): each APPENDED
    // vector is posted under its `spillAppend` nearest cells instead of
    // one — FAISS's guidance is retrain-nightly/append-intraday, and
    // the spill is the intra-day half of that bargain: the frozen
    // quantizer describes the appended tail worst near cell boundaries
    // (exactly where add-after-train recall dies), so boundary appends
    // go into BOTH candidate cells. Base postings stay single-cell (the
    // trained centroids describe the base by construction), the trained
    // artifact is untouched, and the postings grow by |append| rows —
    // the bounded price of serving appends from yesterday's centroids.
    // Recall is monotone in the candidate set (any candidate scoring
    // above the k-th exact neighbor IS an exact top-k member), so spill
    // can only raise it — measured at sf0.1: 0.6 → ≥ 0.8 min.
    def buildPostings(): DataFrame =
      assignCells(model, baseVec)
        .unionByName(
          if (spillAppend <= 1) assignCells(model, toCorpusVec(append))
          else assignCellsSpill(model, toCorpusVec(append), spillAppend))
    val assigned = indexKey match {
      case Some(key) =>
        // The postings ARE the index state a deployment persists (the
        // model memo alone re-pays two corpus assignment passes per
        // query). localCheckpoint, not persist: blocks survive callers'
        // clearCache sweeps, carry no lineage, and are freed by the
        // context cleaner on eviction. Session-bound: a checkpoint RDD
        // must not leak across SparkContexts.
        val ik = IndexMemo.Key("ivfpost", key, Seq("train=base",
          s"nlist=$nlist", s"seed=$seed", s"spill=$spillAppend"), session = true)
        IndexMemo(ik)(
          AnnIndexStore.orBuildParquet(spark, ik)(
            buildPostings().localCheckpoint(true)))
      case None =>
        buildPostings()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    ivfProbe(spark, queries, model, assigned, k, nprobe)
  }

  /** [[assignCells]] with write-side multi-probe: each vector lands in
    * its `spill` nearest cells (distance asc, cell asc — deterministic).
    * Scoring runs against the broadcast centroid table exactly like the
    * read-side probe, so cost is O(rows × nlist) with no shuffle before
    * the per-vector top-`spill` window. */
  private def assignCellsSpill(model: org.apache.spark.ml.clustering.KMeansModel,
      corpusVec: DataFrame, spill: Int): DataFrame = {
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val centroidDf = corpusVec.sparkSession.createDataFrame(centroids)
      .toDF("cell", "centroid")
    corpusVec.crossJoin(broadcast(centroidDf))
      .withColumn("dist2", aggregate(
        zip_with(col("embedding").cast("array<double>"), col("centroid"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("neighbor_id"))
          .orderBy(col("dist2").asc, col("cell").asc)))
      .filter(col("rn") <= spill)
      .select(col("neighbor_id"), quantize(col("embedding")).as("c_emb"),
        col("cell"))
      .withColumn("c_n2", qnorm2(col("c_emb")))
  }

  /** Shared IVF probe: each query scores all nlist centroids (tiny,
    * broadcast), keeps nprobe cells, exact-re-ranks their postings. */
  private def ivfProbe(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, model: org.apache.spark.ml.clustering.KMeansModel,
      assigned: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val centroidDf = spark.createDataFrame(centroids).toDF("cell", "centroid")
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_embf"))
    val probed = q.crossJoin(broadcast(centroidDf))
      .withColumn("dist2", aggregate(
        zip_with(col("q_embf").cast("array<double>"), col("centroid"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist2").asc, col("cell").asc)))
      .filter(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("q_embf"), col("cell"))

    val scored = probed
      .withColumn("q_emb", quantize(col("q_embf")))
      .withColumn("q_n2", qnorm2(col("q_emb")))
      .join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFromParts(
        qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .distinct()
    // bounded result (queries × k): materialize it, then drop the cached
    // cell assignments so the operator leaves no cache-manager entries
    Materialize.thenRelease(topKByQuery(scored, k), assigned)
  }

  /** Seeded driver-local Lloyd's k-means over a bounded sample: distinct
    * random points as init, argmin assignment (ties → lowest code), empty
    * clusters keep their previous centroid. Deterministic for a fixed
    * (sample, k, iters, seed). */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
      iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty sample")
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(points.indices.toVector).distinct.take(k)
    val centroids = Array.tabulate(math.min(k, points.length))(i => points(init(i)).clone())
    val assign = new Array[Int](points.length)
    for (_ <- 0 until iters) {
      var p = 0
      while (p < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val x = points(p)(i) - centroids(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      p = 0
      while (p < points.length) {
        val a = assign(p); counts(a) += 1
        var i = 0
        while (i < dim) { sums(a)(i) += points(p)(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < centroids.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centroids(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } // empty cluster: keep previous centroid
        c += 1
      }
    }
    centroids
  }

  /** Shared PQ codebook training — used by [[pqTopK]] (absolute vectors)
    * and [[ivfPqTopK]] (cell residuals): a bounded, LAYOUT-INDEPENDENT
    * sample (hash-filtered membership, threshold clamped ≥ 1 so huge
    * corpora can't truncate it to an empty train set; driver-sorted by
    * id) feeds per-block driver-local Lloyd's. `rows` must carry
    * (neighbor_id, `vecCol`: array<double>). */
  private def trainPqCodebooks(rows: DataFrame, vecCol: String, dim: Int,
      m: Int, kCodes: Int, seed: Long): Array[Array[Array[Double]]] = {
    val sub = dim / m
    val trainTarget = 65536L
    val n = rows.count()
    val sample =
      (if (n <= trainTarget) rows
       else rows.filter(
         pmod(xxhash64(col("neighbor_id"), lit(seed)), lit(1000000L))
           < lit(math.max(1L, (trainTarget.toDouble / n * 1e6).toLong))))
        .select(col("neighbor_id"), col(vecCol))
        .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    Array.tabulate(m) { b =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, b * sub, (b + 1) * sub))
      localKMeans(pts, kCodes, iters = 10, seed = seed + b)
    }
  }

  /** Shared PQ encode kernel: nearest codeword per block in a tight JVM
    * loop (the same predict work an ML-model UDF would do). Handles
    * codebooks SHORTER than the requested kCodes (tiny corpora: Lloyd's
    * returns min(kCodes, sample) centroids). */
  private def pqEncodeUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
      m: Int, sub: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Double]) =>
      val cbs = bc.value
      Array.tabulate(m) { b =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cbs(b).length) {
          val cent = cbs(b)(c)
          var d = 0.0; var i = 0
          while (i < cent.length) {
            val diff = v(b * sub + i) - cent(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }

  /** Shared ADC column: sum the per-block LUT entries for a row's codes.
    * The flat LUT is ordered by (block, code) with each block
    * contributing codebooks(b).length entries, so indexing goes through
    * the PREFIX-OFFSET table, not a fixed kCodes stride — a short or
    * uneven codebook (tiny corpus) must not read a neighboring block's
    * distances. */
  private def adcColumn(codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val offs = codebooks.scanLeft(0)(_ + _.length).init
      .mkString("array(", ",", ")")
    expr(s"aggregate(sequence(0, ${m - 1}), 0D, (acc, b) -> " +
      s"acc + element_at(lut, element_at($offs, b + 1)" +
      s" + element_at(codes, b + 1) + 1))")
  }

  /** Product-quantization ANN: split each D-dim embedding into `m`
    * sub-blocks, k-means each sub-space into `kCodes` codewords, store the
    * corpus as m small codes (D floats → m bytes: 32× compression at
    * D=64/m=8), then answer queries by Asymmetric Distance Computation —
    * a per-query lookup table of (block, code) → squared L2, summed over
    * the corpus codes in one broadcast scan — and exact-re-rank the best
    * `rerank` candidates.
    *
    * This is the memory-bound ANN scale path (IVF bounds COMPUTE by
    * probing cells; PQ bounds MEMORY so a 100 TB corpus's index fits a
    * cluster's RAM): the corpus is scanned but never shuffled — LUTs are
    * O(queries · m · kCodes) and broadcast; only (query × rerank)
    * candidate rows reach the exact re-rank join. Seeded sampled k-means
    * per block keeps the codebooks deterministic. */
  def pqTopK(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 16, kCodes: Int = 32, rerank: Int = 200,
      seed: Long = 42L, indexKey: Option[String] = None): DataFrame = {

    val corpusVec = corpus.repartition(
      corpus.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
    // Index BUILD (train the sub-quantizers) — memoized per dataset when
    // indexKey is given, same amortize-once rationale as [[ivfTopK]].
    // Training runs ON THE DRIVER over a bounded sample
    // (≤ trainTarget rows × dim doubles ≈ 32 MB): codebook quality
    // saturates on a sample long before the corpus is seen, and driver-
    // local Lloyd's costs zero Spark jobs per iteration — distributed
    // k-means here spends more on job scheduling than on arithmetic
    // (measured 7.3 s → sub-second at sf0.1). This is also how the
    // production PQ implementations train. Only encode and the ADC scan
    // stay distributed.
    // The sample inside trainPqCodebooks is hash-filtered and sorted by
    // id on the driver before training: collect() order is partition
    // order, which shifts with file splits and parallelism, and
    // localKMeans's seeded init indexes into the array — the shared
    // helper makes the codebooks (hence recall) a pure function of the
    // data, invariant to the execution environment.
    def train(): (Int, Array[Array[Array[Double]]]) = {
      val dim = corpus.select(size(col("embedding"))).first().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      (dim, trainPqCodebooks(
        corpusVec.withColumn("vd", col("embedding").cast("array<double>")),
        "vd", dim, m, kCodes, seed))
    }
    val (dim, codebooks) = indexKey match {
      case Some(key) =>
        // same staleness guard + eviction as ivfTopK; disk tier optional
        val ik = IndexMemo.Key("pq", key,
          Seq(s"m=$m", s"kCodes=$kCodes", s"seed=$seed"), session = false)
        IndexMemo(ik)(AnnIndexStore.orBuildCodebooks(ik)(train()))
      case None => train()
    }
    val sub = dim / m
    val bcCodebooks = spark.sparkContext.broadcast(codebooks)

    // encode: one corpus scan through the shared nearest-codeword kernel
    val encodeUdf = pqEncodeUdf(bcCodebooks, m, sub)
    val encoded = corpusVec
      .select(col("neighbor_id"),
        quantize(col("embedding")).as("c_emb"),
        encodeUdf(col("embedding").cast("array<double>")).as("codes"))
      .withColumn("c_n2", qnorm2(col("c_emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // per-query LUT: flat array indexed lut[b*kCodes + code] = ‖q_b − c‖²
    val codebook = spark.createDataFrame(
      for { b <- (0 until m).toSeq
            (c, code) <- codebooks(b).zipWithIndex.toSeq }
        yield (b, code, c)).toDF("block", "code", "centroid")
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_embf"))
    val luts = q.crossJoin(broadcast(codebook))
      .select(col("query_id"), col("q_embf"), col("block"), col("code"),
        aggregate(
          zip_with(
            slice(col("q_embf").cast("array<double>"), col("block") * sub + 1, lit(sub)),
            col("centroid"), (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, x) => acc + x).as("d2"))
      .groupBy(col("query_id"), col("q_embf"))
      .agg(sort_array(collect_list(struct(col("block"), col("code"), col("d2"))))
        .as("entries"))
      .select(col("query_id"), col("q_embf"),
        transform(col("entries"), e => e.getField("d2")).as("lut"))

    // ADC scan: corpus codes × broadcast LUTs, no shuffle of the corpus
    val adc = encoded.crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcColumn(codebooks))
    // bounded-heap top-`rerank` smallest ADC per query (negate: heap keeps max)
    val topCand = udaf(new graft.functions.TopKAgg(rerank))
    val candidates = adc
      .groupBy(col("query_id"), col("q_embf"))
      .agg(topCand(-col("adc"), col("neighbor_id")).as("cand"))
      .select(col("query_id"), col("q_embf"), explode(col("cand")).as("c"))
      .select(col("query_id"), col("q_embf"), col("c._2").as("neighbor_id"))

    // exact re-rank of the candidate set only
    val scored = candidates
      .withColumn("q_emb", quantize(col("q_embf")))
      .withColumn("q_n2", qnorm2(col("q_emb")))
      .join(encoded.select(col("neighbor_id"), col("c_emb"), col("c_n2")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosineFromParts(
        qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    // bounded result (queries × k): materialize, then release the cached
    // PQ-encoded corpus — same no-leftover-cache contract as ivfTopK
    Materialize.thenRelease(topKByQuery(scored, k), encoded)
  }

  /** IVF-PQ ANN — the production composition of [[ivfTopK]] and
    * [[pqTopK]] (the FAISS `IVFx,PQy` index shape): the coarse quantizer
    * routes every corpus vector to a cell, PQ codebooks quantize the
    * RESIDUAL (vector − its cell centroid — residuals are near-zero-
    * centered, so the same kCodes buys finer resolution than global PQ),
    * the ADC scan touches only the nprobe probed cells' codes, and the
    * survivors re-rank exactly. The coarse quantizer is the SAME memoized
    * artifact ivfTopK trains (shared IndexMemo key) — one coarse
    * index serves both operators; only the residual codebooks are this
    * operator's own build. Scale shape: cells are hash-partitioned and
    * the per-query work is nprobe cells × (m·kCodes LUT + |cell| ADC
    * lookups) — corpus size enters only through |cell| ≈ N/nlist, and
    * the corpus itself never shuffles (the LUTs broadcast). */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 8, m: Int = 16, kCodes: Int = 32,
      rerank: Int = 200, seed: Long = 42L,
      indexKey: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector

    val corpusVec = corpus.repartition(
      corpus.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding").cast("array<double>")))
    val model = coarseQuantizer(corpusVec, nlist, seed, indexKey)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val centroidDf = spark.createDataFrame(centroids).toDF("cell", "centroid")

    // residuals: emb − centroid[cell], one narrow projection per row
    val assigned = model.transform(corpusVec)
      .select(col("neighbor_id"), col("embedding"),
        col("prediction").as("cell"))
      .join(broadcast(centroidDf), Seq("cell"))
      .withColumn("resid", zip_with(
        col("embedding").cast("array<double>"), col("centroid"),
        (x, y) => x - y))

    // residual PQ codebooks through the shared trainer — same bounded,
    // layout-independent sample and determinism contract as pqTopK
    def train(): (Int, Array[Array[Array[Double]]]) = {
      val dim = corpus.select(size(col("embedding"))).first().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      (dim, trainPqCodebooks(assigned, "resid", dim, m, kCodes, seed))
    }
    val (dim, codebooks) = indexKey match {
      case Some(key) =>
        val ik = IndexMemo.Key("ivfpq", key, Seq(s"nlist=$nlist", s"m=$m",
          s"kCodes=$kCodes", s"seed=$seed"), session = false)
        IndexMemo(ik)(AnnIndexStore.orBuildCodebooks(ik)(train()))
      case None => train()
    }
    val sub = dim / m
    val bcCodebooks = spark.sparkContext.broadcast(codebooks)
    val encodeUdf = pqEncodeUdf(bcCodebooks, m, sub)
    val encoded = assigned
      .select(col("neighbor_id"), col("cell"),
        quantize(col("embedding")).as("c_emb"),
        encodeUdf(col("resid")).as("codes"))
      .withColumn("c_n2", qnorm2(col("c_emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // probe: each query ranks all nlist centroids, keeps nprobe cells
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_embf"))
    val probed = q.crossJoin(broadcast(centroidDf))
      .withColumn("dist2", aggregate(
        zip_with(col("q_embf").cast("array<double>"), col("centroid"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0d), (acc, x) => acc + x))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist2").asc, col("cell").asc)))
      .filter(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("q_embf"), col("cell"), col("centroid"))

    // per-(query, cell) LUT over the RESIDUAL query: lut[b*kCodes+code]
    // = ‖(q − centroid[cell])_b − codebook[b][code]‖²
    val codebookDf = spark.createDataFrame(
      for { b <- (0 until m).toSeq
            (c, code) <- codebooks(b).zipWithIndex.toSeq }
        yield (b, code, c)).toDF("block", "code", "cb")
    val luts = probed
      .withColumn("rq", zip_with(
        col("q_embf").cast("array<double>"), col("centroid"), (x, y) => x - y))
      .crossJoin(broadcast(codebookDf))
      .select(col("query_id"), col("q_embf"), col("cell"), col("block"), col("code"),
        aggregate(
          zip_with(
            slice(col("rq"), col("block") * sub + 1, lit(sub)),
            col("cb"), (x, y) => (x - y) * (x - y)),
          lit(0.0d), (acc, x) => acc + x).as("d2"))
      .groupBy(col("query_id"), col("q_embf"), col("cell"))
      .agg(sort_array(collect_list(struct(col("block"), col("code"), col("d2"))))
        .as("entries"))
      .select(col("query_id"), col("q_embf"), col("cell"),
        transform(col("entries"), e => e.getField("d2")).as("lut"))

    // ADC over the probed cells only: encoded is joined BY CELL, so a
    // query never touches the (nlist − nprobe)/nlist rest of the corpus
    val adc = encoded.join(broadcast(luts), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcColumn(codebooks))
    val topCand = udaf(new graft.functions.TopKAgg(rerank))
    val candidates = adc
      .groupBy(col("query_id"), col("q_embf"))
      .agg(topCand(-col("adc"), col("neighbor_id")).as("cand"))
      .select(col("query_id"), col("q_embf"), explode(col("cand")).as("c"))
      .select(col("query_id"), col("q_embf"), col("c._2").as("neighbor_id"))
    val scored = candidates
      .withColumn("q_emb", quantize(col("q_embf")))
      .withColumn("q_n2", qnorm2(col("q_emb")))
      .join(encoded.select(col("neighbor_id"), col("c_emb"), col("c_n2")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosineFromParts(
        qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    Materialize.thenRelease(topKByQuery(scored, k), encoded)
  }

  /** Near-dup pairs by embedding cosine above a threshold, blocked by
    * (label, sign-LSH band bucket) with a bucket-membership cap.
    *
    * Band b's bucket is the sign pattern of quantized dims
    * [b·dimsPerBand+1 .. (b+1)·dimsPerBand] — axis-aligned hyperplane LSH,
    * deterministic and integer-exact, so a SQL oracle replays the
    * bucketing verbatim (the xxhash-based SRP signature of [[lshTopK]]
    * cannot be). Candidates = same label sharing ≥1 band bucket, each
    * bucket capped at `maxBucket` members (first by vec_id, mirrored by a
    * QUALIFY window in the oracle). Default 16 bands × 4 dims uses all 64
    * embedding dims and recovers 105 of the 111 label-blocked pairs at
    * sf0.01 (95% recall) — 8×8 bands drop to 14.
    *
    * An earlier version blocked on label ALONE: block population grows
    * linearly with the corpus and the pair join quadratically within each
    * label — the capped buckets bound pairs at maxBucket²/2 per
    * (label, band, bucket) regardless of corpus size. No persist: each of
    * the three consumers of the quantized frame is a cheap pruned parquet
    * re-scan, and the quadratic term — the thing worth engineering away —
    * is gone. */
  def cosineDedupPairs(emb: DataFrame, threshold: Double,
      bands: Int = 16, dimsPerBand: Int = 4, maxBucket: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.repartition(
      emb.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val bandStructs = (0 until bands).map { b =>
      val bits = concat((1 to dimsPerBand).map(i =>
        when(element_at(col("q"), b * dimsPerBand + i) > 0, lit("1"))
          .otherwise(lit("0"))): _*)
      struct(lit(b).as("band"), bits.as("bucket"))
    }
    val banded = e
      .select(col("vec_id"), col("label"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("label"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val capW = Window.partitionBy(col("label"), col("band"), col("bucket"))
      .orderBy(col("vec_id").asc)
    val capped = banded.withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= maxBucket).drop("rn")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"))
      .distinct() // a pair sharing several bands scores once
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("na")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("nb")),
        Seq("vec_b"))
      .withColumn("cosine", cosineFromParts(
        qdot(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cosine") > threshold)
      .select(col("vec_a"), col("vec_b"), col("label"), col("cosine"))
  }

  /** Semantic decontamination: flag corpus vectors whose embedding
    * cosine-matches ANY benchmark/eval vector at ≥ `threshold` — the
    * embedding-space counterpart of the n-gram contamination screen (the
    * curation matrix spans both, the way the dedup matrix spans
    * content-hash and cosine). Same axis-aligned sign-band blocking as
    * [[cosineDedupPairs]] (integer-exact, no trained state, oracle
    * replays it verbatim) minus the label restriction — contamination
    * crosses labels — and BIPARTITE: only eval×corpus bucket collisions
    * ever join, never a corpus self-join, and the eval side (a benchmark,
    * small by nature) broadcasts onto the corpus bands. Per-bucket caps
    * bound skew exactly as in the dedup screens, mirrored in the oracle.
    * Output: every corpus vector with its verified eval-match count. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      threshold: Double, bands: Int = 16, dimsPerBand: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def prep(df: DataFrame) = df
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val bandStructs = (0 until bands).map { b =>
      val bits = concat((1 to dimsPerBand).map(i =>
        when(element_at(col("q"), b * dimsPerBand + i) > 0, lit("1"))
          .otherwise(lit("0"))): _*)
      struct(lit(b).as("band"), bits.as("bucket"))
    }
    def banded(df: DataFrame) = {
      val capW = Window.partitionBy(col("band"), col("bucket"))
        .orderBy(col("vec_id").asc)
      df.select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
        .withColumn("rn", row_number().over(capW))
        .filter(col("rn") <= maxBucket).drop("rn")
    }
    val c = prep(corpus)
    val e = prep(evalSet)
    val cand = banded(c).join(broadcast(banded(e).toDF("eval_id", "band", "bucket")),
        Seq("band", "bucket"))
      .select(col("vec_id"), col("eval_id")).distinct()
    val hits = cand
      .join(c.select(col("vec_id"), col("q").as("qc"), col("n2").as("nc")), Seq("vec_id"))
      .join(broadcast(e.select(col("vec_id").as("eval_id"),
        col("q").as("qe"), col("n2").as("ne"))), Seq("eval_id"))
      .filter(cosineFromParts(qdot(col("qc"), col("qe")), col("nc"), col("ne"))
        >= threshold)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_matches"))
    c.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("contaminated", (col("n_matches") > 0).cast("int"))
  }

  /** Approximate kNN GRAPH over the whole corpus — every vector gets its
    * top-k neighbors in one self-join, the batch shape semantic-dedup and
    * diversity-sampling pipelines run over a full training corpus (the
    * per-query scans of [[bruteForceTopK]] don't batch; this does).
    *
    * Same axis-aligned sign-band blocking as [[cosineDedupPairs]] (so a
    * SQL oracle replays it verbatim — integer-exact, no trained state,
    * no xxhash), minus the label restriction, plus symmetric candidate
    * expansion: a banded pair (a<b) is a candidate edge in BOTH
    * directions before the per-node top-k. The 16×4-dim bands keep each
    * band's collision test loose enough for true neighbors (recall@3
    * 0.91 at sf0.001 vs brute force; 8×8 bands drop it to 0.16) while
    * the cap bounds any hot cell at maxBucket²/2 pairs — at corpus
    * scale, widen dimsPerBand so the 2^dims bucket space keeps cells
    * under the cap. Re-rank is exact quantized cosine;
    * per-node top-k through the bounded-heap aggregator, so the shuffle
    * carries ≤ k·tasks rows per node, never the full candidate set. */
  def knnGraph(emb: DataFrame, k: Int, bands: Int = 16, dimsPerBand: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    val e = emb.repartition(
      emb.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("n2", qnorm2(col("q")))
    val bandStructs = (0 until bands).map { b =>
      val bits = concat((1 to dimsPerBand).map(i =>
        when(element_at(col("q"), b * dimsPerBand + i) > 0, lit("1"))
          .otherwise(lit("0"))): _*)
      struct(lit(b).as("band"), bits.as("bucket"))
    }
    val banded = e
      .select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val capW = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("vec_id").asc)
    val capped = banded.withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= maxBucket).drop("rn")
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct() // a pair sharing several bands scores once
    val sym = cand.select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
      .unionAll(cand.select(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id")))
    val scored = sym
      .join(e.select(col("vec_id").as("query_id"), col("q").as("qa"), col("n2").as("na")),
        Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("n2").as("nb")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosineFromParts(
        qdot(col("qa"), col("qb")), col("na"), col("nb")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    topKByQuery(scored, k)
  }
}
