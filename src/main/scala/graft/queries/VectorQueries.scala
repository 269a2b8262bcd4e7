package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.VectorOps
import graft.tables.Tables

/** Embedding-similarity queries over the `embeddings` table. Cosines are
  * computed from integer-quantized vectors (round(x·10⁴)), making every
  * score bit-identical between Spark and the DuckDB oracle — integer dot
  * products and norms are exact, and the final double division/sqrt are
  * IEEE-determined.
  */
object VectorQueries {

  /** DuckDB spelling of quantize/dot/norm over a list column. */
  private def oQuant(c: String) =
    s"list_transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
  private val oDot =
    "list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i] * qb[i]))"

  // q40 — brute-force cosine top-k for query vectors vec_id < 5 against
  // the whole corpus: the exactness baseline for any ANN variant.
  def q40AnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
      .orderBy(col("query_id").asc, col("rank").asc)
  }
  val q40Oracle: String = s"""
    WITH q AS (SELECT vec_id AS query_id, ${oQuant("embedding")} AS qa
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, ${oQuant("embedding")} AS qb
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST($oDot AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*qa[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, len(qb)), i -> qb[i]*qb[i])) AS DOUBLE))
          AS cosine
      FROM q, c WHERE query_id <> neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked
    WHERE rank <= 10 ORDER BY query_id ASC, rank ASC"""

  // q246 — auto-routed ANN serving: the unified AnnIndex selector
  // (operators/AnnIndex.scala) picks the tier from the corpus row count
  // (FAISS-guideline policy: <2^14 exact scan, ≤2^20 IVF-Flat at √n
  // cells, above that IVF-PQ) and the query runs through whatever it
  // picked — the "one interface over seven tiers" the r16 verdict asked
  // for. At every driver-gate scale the corpus is under the brute bound,
  // so the routed answer is EXACT and the oracle replays both the
  // neighbor lists and the policy's tier decision (the CASE mirrors
  // tierFor verbatim; larger corpora would swap to the recall-bound
  // protocol the other ANN gates use). AnnIndexSpec pins the policy's
  // decade table and the tier↔VectorOps wiring.
  def q246AnnAuto(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // registryAware = false: this query gates the PURE stats policy —
    // its oracle replays tierFor in SQL, which no SQL replay of disk
    // registry state could. q247 gates the registry-aware layer.
    val idx = graft.operators.AnnIndex.select(spark, dir,
      registryAware = false)
    idx.topK(emb.filter(col("vec_id") < 5), k = 10)
      .withColumn("tier", lit(idx.tier))
      .orderBy(col("query_id").asc, col("rank").asc)
  }
  val q246Oracle: String = s"""
    WITH q AS (SELECT vec_id AS query_id, ${oQuant("embedding")} AS qa
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, ${oQuant("embedding")} AS qb
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST($oDot AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*qa[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, len(qb)), i -> qb[i]*qb[i])) AS DOUBLE))
          AS cosine
      FROM q, c WHERE query_id <> neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rank,
      CASE WHEN (SELECT COUNT(*) FROM embeddings) < 16384 THEN 'brute'
           WHEN (SELECT COUNT(*) FROM embeddings) <= 1048576 THEN 'ivf'
           ELSE 'ivfpq' END AS tier
    FROM ranked WHERE rank <= 10 ORDER BY query_id ASC, rank ASC"""

  // q247 — REGISTRY-AWARE ANN routing (r17 verdict ask #5): the
  // selector consults the PERSISTED index registry (AnnIndexStore)
  // before the stats policy. The query drives the full lifecycle
  // against an isolated, initially-empty store root:
  //   miss — empty registry → stats policy (brute at every gate scale);
  //   build — a standing IVF index (its own nlist-8 family, so the
  //   shared nlist-16 gate artifacts are never evicted mid-bench) is
  //   trained and PERSISTED — the "nightly index build";
  //   hit — the same select() now routes to the registered quantizer,
  //   which serves with nprobe = nlist (every cell probed + exact
  //   re-rank), so the routed answer stays EXACT and both phases
  //   hash-check against one brute-force oracle; only the phase/tier
  //   columns differ. A version-mismatched registry entry would fall
  //   back to the stats policy (AnnIndexSpec pins that case).
  def q247AnnRegistry(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AnnIndex, AnnIndexStore, IndexMemo}
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 3)
    val prevRoot = AnnIndexStore.rootOverride
    val tmp = java.nio.file.Files.createTempDirectory("graft-annreg")
    def dropNlist8(): Unit = IndexMemo.invalidate(k =>
      k.dir == dir && Set("ivf", "ivfpost")(k.family) &&
        k.params.take(2) == Seq("full", "nlist=8"))
    try {
      AnnIndexStore.rootOverride = Some(tmp.toString)
      val missIdx = AnnIndex.select(spark, dir)
      val miss = missIdx.topK(qs, k = 5)
        .withColumn("phase", lit("miss"))
        .withColumn("tier", lit(missIdx.tier))
      // the nightly build: train + persist the standing index into the
      // registry root (fresh per call, like the root itself)
      dropNlist8()
      VectorOps.ivfTopK(spark, qs, emb, k = 5, nlist = 8, nprobe = 8,
        indexKey = Some(dir)).count()
      val hitIdx = AnnIndex.select(spark, dir)
      val hit = hitIdx.topK(qs, k = 5)
        .withColumn("phase", lit("hit"))
        .withColumn("tier", lit(hitIdx.tier))
      // eager materialization INSIDE the try: the finally below restores
      // the global store root and deletes the temp registry, and no lazy
      // plan may outlive either
      graft.operators.Materialize.thenRelease(
        miss.unionByName(hit)
          .select(col("phase"), col("tier"), col("query_id"),
            col("neighbor_id"), col("cosine"), col("rank"))
          .orderBy(col("phase").asc, col("query_id").asc, col("rank").asc))
    } finally {
      AnnIndexStore.rootOverride = prevRoot
      dropNlist8()
      try graft.sync.TableStore.deleteRecursively(tmp)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
  val q247Oracle: String = s"""
    WITH q AS (SELECT vec_id AS query_id, ${oQuant("embedding")} AS qa
               FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id AS neighbor_id, ${oQuant("embedding")} AS qb
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST($oDot AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*qa[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, len(qb)), i -> qb[i]*qb[i])) AS DOUBLE))
          AS cosine
      FROM q, c WHERE query_id <> neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored),
    top5 AS (SELECT query_id, neighbor_id, cosine, rank
             FROM ranked WHERE rank <= 5),
    phases AS (SELECT 'miss' AS phase, 'brute' AS tier
               UNION ALL SELECT 'hit', 'ivf')
    SELECT phase, tier, query_id, neighbor_id, cosine, rank
    FROM phases CROSS JOIN top5
    ORDER BY phase ASC, query_id ASC, rank ASC"""

  // q41 — embedding near-dup pairs above cosine 0.3, blocked by
  // (label, sign-LSH band bucket) with a 64-member bucket cap (threshold
  // tuned to yield rows on the synthetic clustered embeddings). The sign
  // buckets are exact integer predicates on the quantized vector, so the
  // oracle replays the bucketing (and the cap, via QUALIFY) verbatim; an
  // earlier label-only block grew quadratically within hot labels.
  def q41CosineDedup(spark: SparkSession, dir: String): DataFrame =
    VectorOps.cosineDedupPairs(Tables.embeddings(spark, dir), threshold = 0.3)
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  val q41Oracle: String = s"""
    WITH e AS (SELECT vec_id, label, ${oQuant("embedding")} AS q FROM embeddings),
    n AS (SELECT vec_id, label, q,
          list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
          FROM e),
    bands AS (
      SELECT vec_id, label, band,
        array_to_string(list_transform(generate_series(1, 4),
          i -> CASE WHEN q[band*4 + i] > 0 THEN '1' ELSE '0' END), '') AS bucket
      FROM n CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) b),
    capped AS (
      SELECT vec_id, label, band, bucket FROM bands
      QUALIFY row_number() OVER (PARTITION BY label, band, bucket ORDER BY vec_id) <= 64),
    cand AS (
      SELECT DISTINCT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b ON a.label = b.label AND a.band = b.band
        AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cand.label AS label,
      CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i]*b.q[i])) AS DOUBLE) /
      sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
    FROM cand JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b
    WHERE CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i]*b.q[i])) AS DOUBLE) /
          sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) > 0.3
    ORDER BY vec_a ASC, vec_b ASC"""

  // q42 — LSH ANN (sign-random-projection buckets + exact re-rank): the
  // scale path. Bucketing depends on xxhash64, so the neighbor list is
  // engine-specific — the query instead emits a deterministic per-query
  // recall bound vs the exact baseline computed in the same job, which
  // the oracle predicts exactly (expected-true rows). Bound 0.5 clears
  // the measured per-query minima (0.7 at sf0.01, 0.5 at sf0.001).
  def q42AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteForceTopK(q, emb, k = 10)
    VectorOps.recallAgainst(VectorOps.lshTopK(q, emb, k = 10), exact)
      .select(col("query_id"), (col("recall") >= recallBound(dir, 0.65, 0.5))
        .cast("int").as("recall_ok"))
      .orderBy(col("query_id").asc)
  }
  val q42Oracle: String = annRecallOracle
  /** Shared oracle for the ANN recall-bound queries: the query-id set is
    * exact; every recall check is expected to hold. (A def so declaration
    * order can't null a forward val reference.) */
  private def annRecallOracle: String = """
    SELECT vec_id AS query_id, 1 AS recall_ok FROM embeddings
    WHERE vec_id < 5 ORDER BY query_id ASC"""

  /** Scale-factor-aware recall bound for the ANN gate queries. The
    * correctness gate runs at sf0.01, where each index's per-query
    * minimum recall is measured and stable (SRP and PQ are fully
    * data-deterministic — hashed hyperplanes resp. driver-sorted
    * training sample; IVF's k-means|| is seeded with 0.10 headroom) —
    * so the gate asserts the TIGHT bound and a real recall regression
    * trips the oracle. Other scale factors (bench at sf0.1, smoke at
    * sf0.001) keep the loose floor: corpus size changes the geometry,
    * and those runs check throughput, not recall quality.
    *
    * Measured minima (graft.AnnRecallProbe, re-run whenever an index or
    * its training inputs change; re-measured after the round-10
    * determinism completion — the coarse-quantizer training frame is
    * hash-filtered, fixed-32-way-repartitioned AND sorted within
    * partitions, so these minima are a pure function of (data, seed),
    * identical under ANY shuffle.partitions / input-split / block-fetch-
    * order configuration):
    *   sf0.001 / sf0.01 / sf0.1 → SRP 0.50 0.70 0.70; IVF 0.90 0.70
    *   0.70; PQ 1.00 0.90 0.90; IVF-PQ 0.90 0.70 0.70 (round-10 re-tune
    *   of BOTH PQ tiers: m 8→16, rerank 100→200 — the `AnnRecallProbe
    *   sweep`/`sweep-pq` grids showed the sf0.1 loss was ADC ranking
    *   error, fully recovered by finer codes + a deeper exact re-rank;
    *   global PQ's old sf0.1 min was 0.30, IVF-PQ's 0.50; IVF-PQ now
    *   matches plain IVF at every scale, so its floor is the
    *   coarse-probe bound). Gate bounds: SRP 0.65, IVF 0.7, PQ 0.8,
    *   IVF-PQ 0.7 at EVERY scale — q44/q170 sit exactly AT 0.7 at two
    *   scales, which is safe only because the trained index is
    *   layout-deterministic. RE-MEASURE REQUIREMENT: that determinism
    *   is bit-level (k-means|| consumes the seed through JVM libm and
    *   Spark-internal sampling), so any Spark/JVM/toolchain upgrade
    *   must re-run `AnnRecallProbe sweep`/`sweep-pq` at all three
    *   scales and re-derive these minima BEFORE trusting the gates —
    *   a perturbed fit can flip a zero-headroom bound with no code
    *   change. */
  private def recallBound(dir: String, atGate: Double, floor: Double): Double =
    if (dir.stripSuffix("/").endsWith("sf0.01")) atGate else floor

  // q43 — k-NN label vote: classify each query vector by majority label of
  // its 10 exact neighbors (integer counts → exact oracle).
  def q43KnnLabelVote(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val topk = VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, k = 10)
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    topk.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("predicted_label"), col("votes"))
      .orderBy(col("query_id").asc)
  }
  val q43Oracle: String = s"""
    WITH q AS (SELECT vec_id AS query_id, ${oQuant("embedding")} AS qa
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, label, ${oQuant("embedding")} AS qb
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, label,
        CAST($oDot AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*qa[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, len(qb)), i -> qb[i]*qb[i])) AS DOUBLE))
          AS cosine
      FROM q, c WHERE query_id <> neighbor_id),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored) WHERE rank <= 10),
    votes AS (
      SELECT query_id, label, COUNT(*) AS votes FROM topk GROUP BY 1, 2)
    SELECT query_id, label AS predicted_label, votes FROM (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
      FROM votes) WHERE rn = 1 ORDER BY query_id ASC"""

  // q193 — hard-negative mining: for each query vector, the top-5
  // most-similar vectors carrying a DIFFERENT label — the negatives a
  // contrastive/triplet embedding-training pipeline pairs with each
  // anchor (easy negatives teach nothing; the hardest ones define the
  // margin). Same exact-integer cosine protocol as q40/q43; the label
  // inequality filters BEFORE ranking so every returned rank is a true
  // cross-label rank. Scale shape: the query side broadcasts onto one
  // corpus scan (broadcast join with the ≠ predicate — never a corpus
  // self-shuffle) and the per-query top-5 is a bounded window over the
  // (query × candidate) pairs, q40's envelope; at corpus scale the
  // candidate generation swaps to the banded kNN graph (q152) with a
  // label-inequality filter, same downstream columns.
  def q193HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        VectorOps.quantize(col("embedding")).as("q_emb"))
      .withColumn("q_n2", VectorOps.qnorm2(col("q_emb")))
    val c = emb
      .select(col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
        VectorOps.quantize(col("embedding")).as("c_emb"))
      .withColumn("c_n2", VectorOps.qnorm2(col("c_emb")))
    c.join(broadcast(q), col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine", VectorOps.cosineFromParts(
        VectorOps.qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("neighbor_label"), col("cosine"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }
  val q193Oracle: String = s"""
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      ${oQuant("embedding")} AS qa
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label,
                 ${oQuant("embedding")} AS qb
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, neighbor_label,
        CAST($oDot AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*qa[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, len(qb)), i -> qb[i]*qb[i])) AS DOUBLE))
          AS cosine
      FROM q, c WHERE query_label <> neighbor_label)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           neighbor_label, cosine
    FROM (SELECT *, row_number() OVER
            (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
            AS rank
          FROM scored)
    WHERE rank <= 5 ORDER BY query_id ASC, rank ASC"""

  // q197 — deterministic JL sign projection + distortion audit: project
  // 64-d quantized embeddings to 16-d with a ±1 matrix whose signs are a
  // pure function of (dim, j) via md5 parity — no rand(), so any worker,
  // rerun, or engine derives the IDENTICAL matrix (the
  // Achlioptas/Johnson-Lindenstrauss database-friendly variant), and the
  // reduced components are exact integer sums. The audit emits, for
  // every pair in a fixed sample, the exact cosine in original vs
  // reduced space and the absolute distortion — the measurement a
  // cheap-prefilter deployment (project → coarse filter → exact re-rank
  // on survivors) reads before trusting the reduced space. Scale shape:
  // the projection is ONE narrow codegen'd projection per row (the 16
  // sums inline into the expression tree — no explode, no sign-matrix
  // join, no shuffle); the pair audit is over the fixed sample only.
  /** Deterministic ±1 JL sign for matrix cell (d, j): md5 parity of
    * "d:j" — first hex digit < 8 → +1 (top bit of the first byte clear).
    * Shared by q197 (distortion audit) and q202 (prefilter → re-rank). */
  private def jlSign(d: Int, j: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:$j".getBytes("UTF-8"))
    if ((h(0) & 0x80) == 0) 1L else -1L
  }

  /** 64→r JL projection as one narrow codegen'd loop kernel over a
    * quantized vector column `q` — the driver precomputes the r×64 ±1
    * matrix once and ships it as a plan reference object; no explode,
    * no sign-matrix join, no shuffle. (An earlier inline-sum variant
    * expanded to r×64 expression terms, which at r=32 overflowed the
    * 64 KB generated-method limit and dropped q202's prefilter stage
    * out of whole-stage codegen.) */
  private def jlProject(q: org.apache.spark.sql.Column, r: Int = 16)
      : org.apache.spark.sql.Column = {
    val signs = Array.tabulate(r * 64)(i => jlSign(i % 64, i / 64))
    graft.functions.GraftFunctions.sign_project(q, signs, r)
  }

  def q197JlProjection(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .withColumn("p", jlProject(col("q")))
    val a = e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("p").as("pa"))
    val b = e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("p").as("pb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos_orig", VectorOps.cosineFromParts(
        VectorOps.qdot(col("qa"), col("qb")),
        VectorOps.qnorm2(col("qa")), VectorOps.qnorm2(col("qb"))))
      .withColumn("cos_reduced", VectorOps.cosineFromParts(
        VectorOps.qdot(col("pa"), col("pb")),
        VectorOps.qnorm2(col("pa")), VectorOps.qnorm2(col("pb"))))
      .withColumn("abs_err", abs(col("cos_orig") - col("cos_reduced")))
      .select(col("vec_a"), col("vec_b"), col("cos_orig"),
        col("cos_reduced"), col("abs_err"))
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  }
  val q197Oracle: String = s"""
    WITH e AS (
      SELECT vec_id, ${oQuant("embedding")} AS q
      FROM embeddings WHERE vec_id < 20),
    sgn AS (
      SELECT d, j,
        CASE WHEN substring(md5(CAST(d AS VARCHAR) || ':' ||
            CAST(j AS VARCHAR)), 1, 1)
          IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(generate_series(0, 63)) AS d)
        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)),
    red AS (
      SELECT vec_id, j, CAST(SUM(q[d + 1] * s) AS BIGINT) AS p
      FROM e CROSS JOIN sgn GROUP BY vec_id, j),
    rl AS (SELECT vec_id, list(p ORDER BY j ASC) AS p FROM red GROUP BY vec_id),
    fv AS (SELECT e.vec_id, q, p FROM e JOIN rl ON rl.vec_id = e.vec_id)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      CAST(list_sum(list_transform(generate_series(1, 64),
        i -> a.q[i] * b.q[i])) AS DOUBLE) /
      sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
        i -> a.q[i] * a.q[i])) AS DOUBLE) *
           CAST(list_sum(list_transform(generate_series(1, 64),
        i -> b.q[i] * b.q[i])) AS DOUBLE)) AS cos_orig,
      CAST(list_sum(list_transform(generate_series(1, 16),
        i -> a.p[i] * b.p[i])) AS DOUBLE) /
      sqrt(CAST(list_sum(list_transform(generate_series(1, 16),
        i -> a.p[i] * a.p[i])) AS DOUBLE) *
           CAST(list_sum(list_transform(generate_series(1, 16),
        i -> b.p[i] * b.p[i])) AS DOUBLE)) AS cos_reduced,
      abs(
        CAST(list_sum(list_transform(generate_series(1, 64),
          i -> a.q[i] * b.q[i])) AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
          i -> a.q[i] * a.q[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, 64),
          i -> b.q[i] * b.q[i])) AS DOUBLE)) -
        CAST(list_sum(list_transform(generate_series(1, 16),
          i -> a.p[i] * b.p[i])) AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, 16),
          i -> a.p[i] * a.p[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, 16),
          i -> b.p[i] * b.p[i])) AS DOUBLE))) AS abs_err
    FROM fv a JOIN fv b ON a.vec_id < b.vec_id
    ORDER BY vec_a ASC, vec_b ASC"""

  // q202 — JL prefilter → exact re-rank retrieval (the deployment path
  // q197's distortion audit gates): every corpus vector carries its 32-d
  // deterministic sign projection next to the 64-d exact vector; a
  // query's top-C=200 candidates come from REDUCED-space cosine (half
  // the multiplies per pair, and at 100 TB the reduced vectors are the
  // only thing the prefilter pass reads — a 2× narrower column), then
  // only those C survivors pay the exact 64-d re-rank. The audit column
  // is per-query recall@10 of the two-stage result against the exact
  // brute-force top-10 — integers, so the verdict hash-matches. On THIS
  // corpus the audit reads ~0.65 mean recall at C=10% of the corpus:
  // the synthetic embeddings are near-isotropic (exact top-10 cosines
  // barely separated from the bulk), which is precisely the geometry a
  // lossy prefilter cannot rank — the measurement, not an assumed
  // speedup, is the deliverable, and a deployment reading it here would
  // keep the exact path (or q44's IVF, which exploits the label-cluster
  // structure instead of a random projection).
  // Scale shape: ONE corpus-wide pass. Both cosines (reduced + exact)
  // are scored in the same projection below a single
  // hashpartitioning(query_id) exchange; the prefilter rank, the exact
  // brute-force rank, and the within-survivors re-rank are three
  // stacked row_number windows over that one exchange (the re-rank
  // window orders survivors-first so it needs no intermediate filter);
  // the recall@10 audit is then a per-query aggregate over the same
  // partitioning — no join anywhere, so the corpus never meets itself.
  // The exact column must be scored for every pair anyway (the audit's
  // ground truth is the brute-force top-10), so scoring it alongside
  // cos_red costs no extra scan. Swap the brute-force prefilter for
  // q44/q170's IVF routing when the corpus outgrows one scan — the
  // re-rank stage is unchanged.
  def q202JlPrefilterRerank(spark: SparkSession, dir: String): DataFrame = {
    val cBudget = 200
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .withColumn("p", jlProject(col("q"), r = 32))
    val probes = all.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("p").as("qp"))
    val pairs = all.join(broadcast(probes), col("vec_id") =!= col("query_id"))
    val redCos = VectorOps.cosineFromParts(
      VectorOps.qdot(col("qp"), col("p")),
      VectorOps.qnorm2(col("qp")), VectorOps.qnorm2(col("p")))
    val exCos = VectorOps.cosineFromParts(
      VectorOps.qdot(col("qq"), col("q")),
      VectorOps.qnorm2(col("qq")), VectorOps.qnorm2(col("q")))
    val wRed = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_red").desc, col("vec_id").asc)
    val wEx = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_ex").desc, col("vec_id").asc)
    // Re-rank rank within the C survivors, without filtering first:
    // survivors sort ahead of eliminated rows, so row_number 1..C over
    // this ordering IS the exact-cosine rank among survivors.
    val wRerank = Window.partitionBy(col("query_id"))
      .orderBy((col("r_red") <= cBudget).desc, col("cos_ex").desc,
        col("vec_id").asc)
    val scored = pairs
      .withColumn("cos_red", redCos)
      .withColumn("cos_ex", exCos)
      .withColumn("r_red", row_number().over(wRed))
      .withColumn("r_ex", row_number().over(wEx))
      .withColumn("r_rr", row_number().over(wRerank))
    scored.groupBy(col("query_id")).agg(
      max(when(col("r_rr") === 1, col("vec_id"))).as("top1_id"),
      sum(when(col("r_red") <= cBudget && col("r_rr") <= 10 &&
        col("r_ex") <= 10, 1L).otherwise(0L)).as("recall10"))
      .orderBy(col("query_id").asc)
  }
  val q202Oracle: String = s"""
    WITH e AS (SELECT vec_id, ${oQuant("embedding")} AS q FROM embeddings),
    sgn AS (
      SELECT d, j,
        CASE WHEN substring(md5(CAST(d AS VARCHAR) || ':' ||
            CAST(j AS VARCHAR)), 1, 1)
          IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(generate_series(0, 63)) AS d)
        CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)),
    red AS (
      SELECT vec_id, j, CAST(SUM(q[d + 1] * s) AS BIGINT) AS p
      FROM e CROSS JOIN sgn GROUP BY vec_id, j),
    rl AS (SELECT vec_id, list(p ORDER BY j ASC) AS p FROM red GROUP BY vec_id),
    fv AS (SELECT e.vec_id, q, p FROM e JOIN rl ON rl.vec_id = e.vec_id),
    qs AS (SELECT vec_id AS query_id, q AS qq, p AS qp
           FROM fv WHERE vec_id < 20),
    pairs AS (
      SELECT query_id, f.vec_id AS neighbor_id, qq, f.q AS cq, qp, f.p AS cp
      FROM qs CROSS JOIN fv f WHERE f.vec_id <> query_id),
    excos AS (
      SELECT query_id, neighbor_id, qp, cp,
        CAST(list_sum(list_transform(generate_series(1, 64),
          i -> qq[i] * cq[i])) AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
          i -> qq[i] * qq[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, 64),
          i -> cq[i] * cq[i])) AS DOUBLE)) AS cos_ex
      FROM pairs),
    redranked AS (
      SELECT query_id, neighbor_id, cos_ex, row_number() OVER
          (PARTITION BY query_id ORDER BY
            CAST(list_sum(list_transform(generate_series(1, 32),
              i -> qp[i] * cp[i])) AS DOUBLE) /
            sqrt(CAST(list_sum(list_transform(generate_series(1, 32),
              i -> qp[i] * qp[i])) AS DOUBLE) *
                 CAST(list_sum(list_transform(generate_series(1, 32),
              i -> cp[i] * cp[i])) AS DOUBLE)) DESC, neighbor_id ASC)
          AS r_red
      FROM excos),
    rer AS (
      SELECT query_id, neighbor_id, row_number() OVER
          (PARTITION BY query_id ORDER BY cos_ex DESC, neighbor_id ASC)
          AS rank
      FROM redranked WHERE r_red <= 200),
    rtop AS (SELECT query_id, neighbor_id, rank FROM rer WHERE rank <= 10),
    etop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER
            (PARTITION BY query_id ORDER BY cos_ex DESC, neighbor_id ASC)
            AS rank
        FROM excos) WHERE rank <= 10),
    hits AS (
      SELECT query_id, COUNT(*) AS recall10
      FROM rtop JOIN etop USING (query_id, neighbor_id) GROUP BY query_id)
    SELECT r.query_id, r.neighbor_id AS top1_id,
           CAST(COALESCE(h.recall10, 0) AS BIGINT) AS recall10
    FROM rtop r LEFT JOIN hits h ON h.query_id = r.query_id
    WHERE r.rank = 1 ORDER BY r.query_id ASC"""

  // q195 — cluster cohesion card: per label, the EXACT mean pairwise dot
  // product of quantized embeddings, from two aggregates and the algebraic
  // identity Σ_{i≠j} vi·vj = ‖Σv‖² − Σ‖v‖² — O(1) arithmetic per label
  // after one corpus scan, never a pairwise join (the naive formulation is
  // n² per label; this is the embedding-space health read — one tight
  // cluster or a smear? — next to q173's per-vector outlier screen, and
  // the diagnostic a semantic-dedup threshold or a label-quality audit
  // starts from). ‖Σv‖² squares centroid-scale sums, so it is computed in
  // decimal (q173's overflow discipline); Σ‖v‖² stays Int64 (≤ d·Scale²·N,
  // GramAgg's regime). The mean is one fixed-order double expression over
  // exact-valued inputs — decimal→double and int→double both round
  // nearest, so the oracle hash-matches.
  def q195ClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dimSums = emb
      .select(col("label"),
        posexplode(VectorOps.quantize(col("embedding"))).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim")).agg(sum(col("q")).as("s"))
      .groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(19,0)") * col("s").cast("decimal(19,0)"))
        .as("s_norm2"))
    val vecNorms = emb
      .select(col("label"),
        VectorOps.qnorm2(VectorOps.quantize(col("embedding"))).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("n2")).as("sum_norm2"))
    vecNorms.join(dimSums, Seq("label"))
      .filter(col("n") >= 2)
      .withColumn("mean_pair_dot",
        (col("s_norm2").cast("double") - col("sum_norm2").cast("double"))
          / (col("n") * (col("n") - lit(1L))).cast("double"))
      .select(col("label"), col("n"), col("sum_norm2"), col("mean_pair_dot"))
      .orderBy(col("label").asc)
  }
  val q195Oracle: String = """
    WITH d AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)
               AS q
      FROM embeddings),
    s AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s
          FROM d GROUP BY 1, 2),
    sn AS (SELECT label, SUM(CAST(s AS HUGEINT) * s) AS s_norm2
           FROM s GROUP BY 1),
    vn AS (
      SELECT label, COUNT(*) AS n,
        CAST(SUM(list_sum(list_transform(generate_series(1, len(q)),
          i -> q[i] * q[i]))) AS BIGINT) AS sum_norm2
      FROM (SELECT label,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
            FROM embeddings)
      GROUP BY 1)
    SELECT vn.label, n, sum_norm2,
           (CAST(s_norm2 AS DOUBLE) - CAST(sum_norm2 AS DOUBLE))
             / CAST(n * (n - 1) AS DOUBLE) AS mean_pair_dot
    FROM vn JOIN sn ON sn.label = vn.label
    WHERE n >= 2 ORDER BY vn.label ASC"""

  // q44 — IVF ANN: k-means cells + nprobe probing + exact re-rank. The
  // coarse quantizer is engine-trained so the neighbor list is engine-
  // specific — emitted as a per-query recall bound like q42 (minima in
  // the recallBound scaladoc).
  def q44AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteForceTopK(q, emb, k = 10)
    VectorOps.recallAgainst(
      VectorOps.ivfTopK(spark, q, emb, k = 10, indexKey = Some(dir)), exact)
      .select(col("query_id"), (col("recall") >= recallBound(dir, 0.7, 0.7))
        .cast("int").as("recall_ok"))
      .orderBy(col("query_id").asc)
  }
  val q44Oracle: String = annRecallOracle

  // q129 — product-quantization ANN: codebooks are engine-trained so the
  // neighbor list is engine-specific — emitted as a per-query recall
  // bound like q42. Round-10 re-tune (m 16, rerank 200) lifted the
  // measured minima to 1.00/0.90/0.90, so the 0.8 bound asserts at
  // EVERY scale with 0.10 headroom (the old 0.3 floor covered an
  // sf0.1 dip the 8-byte codes caused).
  def q129AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteForceTopK(q, emb, k = 10)
    VectorOps.recallAgainst(
      VectorOps.pqTopK(spark, q, emb, k = 10, indexKey = Some(dir)), exact)
      .select(col("query_id"), (col("recall") >= recallBound(dir, 0.8, 0.8))
        .cast("int").as("recall_ok"))
      .orderBy(col("query_id").asc)
  }
  val q129Oracle: String = annRecallOracle

  // q170 — IVF-PQ ANN (the FAISS IVFx,PQy composition): coarse cells +
  // residual product quantization + per-cell ADC + exact re-rank. Same
  // engine-trained-index recall protocol as q44/q129; the coarse
  // quantizer is q44's own memoized artifact (shared index key).
  def q170AnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteForceTopK(q, emb, k = 10)
    VectorOps.recallAgainst(
      VectorOps.ivfPqTopK(spark, q, emb, k = 10, indexKey = Some(dir)), exact)
      .select(col("query_id"), (col("recall") >= recallBound(dir, 0.7, 0.7))
        .cast("int").as("recall_ok"))
      .orderBy(col("query_id").asc)
  }
  val q170Oracle: String = annRecallOracle

  // q90 — mean-pooled label centroids: the embedding-pooling primitive
  // (cluster centers, class prototypes, chunk→doc pooling). posexplode →
  // (label, dim) partial sums: the shuffle carries labels × dims partial
  // rows, never vectors × dims input rows. Quantized longs keep the sums
  // exact; the centroid divides two exact ints once → hash-matches.
  def q90LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(VectorOps.quantize(col("embedding"))).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        (col("s").cast("double") / (lit(10000.0) * col("n"))).as("centroid"))
      .orderBy(col("label").asc, col("dim").asc)
  val q90Oracle: String = """
    SELECT label, CAST(pos - 1 AS BIGINT) AS dim,
           CAST(SUM(q) AS DOUBLE) / (10000.0 * COUNT(*)) AS centroid
    FROM (SELECT label,
                 generate_subscripts(embedding, 1) AS pos,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
          FROM embeddings)
    GROUP BY label, pos ORDER BY label ASC, dim ASC"""

  // q91 — nearest-centroid assignment + confusion matrix: every vector
  // scored against each label centroid (centroids stay integer SUM
  // vectors — cosine is scale-invariant, so dividing by n is skipped and
  // everything stays exact longs until one cosine division). The 10-row
  // centroid table broadcasts; the argmax is a tiny window per vector.
  def q91NearestCentroid(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        VectorOps.quantize(col("embedding")).as("q_emb"))
      .withColumn("q_n2", VectorOps.qnorm2(col("q_emb")))
    val cent = Tables.embeddings(spark, dir)
      .select(col("label").as("clabel"),
        posexplode(VectorOps.quantize(col("embedding"))).as(Seq("dim", "q")))
      .groupBy(col("clabel"), col("dim")).agg(sum(col("q")).as("s"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
        x => x.getField("s")).as("c_emb"))
      .withColumn("c_n2", VectorOps.qnorm2(col("c_emb")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("clabel").asc)
    e.crossJoin(broadcast(cent))
      .withColumn("cos", VectorOps.cosineFromParts(
        VectorOps.qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("clabel").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label").asc, col("pred_label").asc)
  }
  val q91Oracle: String = s"""
    WITH e AS (
      SELECT vec_id, label, ${oQuant("embedding")} AS q FROM embeddings),
    en AS (
      SELECT vec_id, label, q,
        list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
      FROM e),
    cd0 AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
      FROM embeddings),
    cd AS (
      SELECT label AS clabel, pos, SUM(q) AS s FROM cd0 GROUP BY label, pos),
    c AS (
      SELECT clabel, list(s ORDER BY pos) AS cq FROM cd GROUP BY clabel),
    cn AS (
      SELECT clabel, cq,
        list_sum(list_transform(generate_series(1, len(cq)), i -> cq[i]*cq[i])) AS cn2
      FROM c),
    scored AS (
      SELECT en.vec_id, en.label, cn.clabel,
        CAST(list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*cq[i])) AS DOUBLE)
          / sqrt(CAST(n2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos
      FROM en CROSS JOIN cn),
    pred AS (
      SELECT vec_id, label, clabel,
        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
      FROM scored)
    SELECT label, clabel AS pred_label, COUNT(*) AS n
    FROM pred WHERE rn = 1
    GROUP BY label, clabel ORDER BY label ASC, pred_label ASC"""

  // q152 — approximate kNN graph over the WHOLE corpus: every vector gets
  // its top-3 neighbors from symmetric sign-band candidates + exact
  // quantized re-rank (VectorOps.knnGraph). Unlike the per-query ANN
  // tiers (q42/q44/q129), the blocking here is integer-deterministic, so
  // the oracle replays bands, cap, symmetric expansion, and ranking
  // verbatim — the full graph hash-checks, not just a recall bound.
  // Nodes whose bands collide with nothing drop out on both engines.
  // Derives the graph IN PLACE, deliberately not through the
  // knnGraphIndexed memo (r18 verdict ask #1: q152's declared result IS
  // the graph, so a memo hit left its timed path measuring nothing —
  // the 0.06 s pin). q156 still composes on the memoized index (its
  // declared result is the cluster assignment; the graph is its input
  // state). Values are identical either way: the graph is
  // integer-deterministic by construction.
  def q152KnnGraph(spark: SparkSession, dir: String): DataFrame =
    VectorOps.knnGraph(Tables.embeddings(spark, dir), k = 3, bands = 16,
        dimsPerBand = 4)
      .orderBy(col("query_id").asc, col("rank").asc)

  /** Memoized corpus kNN graph per (dataset version, params, session) —
    * the standing graph index q156's dedup composes on (the same
    * amortized-index convention as the gann cells/edges; build cost
    * lands in ann_build). Values identical to deriving in place:
    * the graph is integer-deterministic by construction. */
  private def knnGraphIndexed(spark: SparkSession, dir: String, k: Int,
      bands: Int, dimsPerBand: Int): DataFrame = {
    graft.operators.IndexMemo(graft.operators.IndexMemo.Key("knng", dir,
        Seq(s"k=$k", s"b=$bands", s"d=$dimsPerBand"), session = true)) {
      VectorOps.knnGraph(Tables.embeddings(spark, dir), k, bands,
        dimsPerBand).localCheckpoint(true)
    }
  }
  /** The kNN-graph CTE chain (bands → cap → candidates → symmetric
    * expansion → exact cosine → per-node rank), shared by the q152 and
    * q156 oracles so both replay the identical graph. */
  private val knnGraphCtes: String = s"""e AS (SELECT vec_id, ${oQuant("embedding")} AS q FROM embeddings),
    n AS (SELECT vec_id, q,
          list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
          FROM e),
    bands AS (
      SELECT vec_id, band,
        array_to_string(list_transform(generate_series(1, 4),
          i -> CASE WHEN q[band*4 + i] > 0 THEN '1' ELSE '0' END), '') AS bucket
      FROM n CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) b),
    capped AS (
      SELECT vec_id, band, bucket FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) <= 64),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    sym AS (
      SELECT vec_a AS query_id, vec_b AS neighbor_id FROM cand
      UNION ALL
      SELECT vec_b AS query_id, vec_a AS neighbor_id FROM cand),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i]*b.q[i])) AS DOUBLE) /
        sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
      FROM sym JOIN n a ON a.vec_id = query_id JOIN n b ON b.vec_id = neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)"""
  val q152Oracle: String = s"""
    WITH $knnGraphCtes
    SELECT query_id, neighbor_id, cosine, rank FROM ranked
    WHERE rank <= 3 ORDER BY query_id ASC, rank ASC"""

  // q156 — semantic dedup end-to-end: the composition a production corpus
  // actually runs — kNN graph (q152's machinery) → near-dup edges above a
  // cosine threshold → connected components (q93's machinery) → one
  // representative elected per cluster (min id = the component label, so
  // election is free). Everything upstream is integer-deterministic
  // blocking + exact quantized cosines, so the FULL cluster assignment
  // hash-checks against the oracle's recursive-CTE closure — the scale
  // path (banded candidates, capped cells, O(log d) pointer doubling) is
  // exactly what the oracle's O(nodes·edges) formulation cannot do.
  def q156SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(spark, dir, bands = 16, dimsPerBand = 4)

  /** q156's body with the banding exposed: ScaleProbe measures the
    * corpus-growth configuration (wider buckets per the knnGraph
    * scaladoc) through the SAME composition the oracle-checked query
    * runs, so the decade table can never silently measure a divergent
    * pipeline. */
  def semanticDedup(spark: SparkSession, dir: String, bands: Int,
      dimsPerBand: Int): DataFrame = {
    val graph = knnGraphIndexed(spark, dir, k = 3, bands = bands,
      dimsPerBand = dimsPerBand)
    val edges = graph.filter(col("cosine") >= 0.45)
      .select(least(col("query_id"), col("neighbor_id")).as("src"),
        greatest(col("query_id"), col("neighbor_id")).as("dst"))
      .distinct()
    val comp = graft.operators.GraphOps.connectedComponents(edges)
    val w = Window.partitionBy(col("cluster"))
    comp.select(col("node").as("vec_id"), col("label").as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .withColumn("keep", (col("vec_id") === col("cluster")).cast("int"))
      .orderBy(col("vec_id").asc)
  }
  val q156Oracle: String = s"""
    WITH RECURSIVE $knnGraphCtes,
    knn AS (SELECT query_id, neighbor_id, cosine FROM ranked WHERE rank <= 3),
    edges AS (
      SELECT DISTINCT LEAST(query_id, neighbor_id) AS src,
             GREATEST(query_id, neighbor_id) AS dst
      FROM knn WHERE cosine >= 0.45),
    usym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM usym),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT usym.src AS node, reach.r
      FROM usym JOIN reach ON usym.dst = reach.node),
    comp AS (SELECT node AS vec_id, MIN(r) AS cluster FROM reach GROUP BY node)
    SELECT vec_id, cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size,
           CASE WHEN vec_id = cluster THEN 1 ELSE 0 END AS keep
    FROM comp ORDER BY vec_id ASC"""

  // q160 — SEMANTIC dedup-on-ingest: q150's sequential persisted-index
  // protocol (batch k's decisions see batches 1..k-1's admissions, the
  // corpus is never rescanned) over EMBEDDINGS instead of fingerprints —
  // SRP band buckets block (each cell nominating at most MaxCell=64
  // lowest-vec_id admitted neighbors, q227's hot-cell cap: a saturated
  // sign-pattern bucket must bound the candidate join, not square it),
  // exact quantized cosines ≥ 0.45 against the nominated rows reject,
  // and the admitted vectors' band rows delta-merge into a
  // bloom-sidecar'd BucketedTableStore so each probe reads only the
  // store buckets the batch's (≤ bands × 2^dims) band buckets hash
  // into. The oracle replays the full sequential run — band collisions,
  // per-cell cap (QUALIFY), cosines, and index growth — so every
  // admit/reject decision hash-checks.
  def q160SemanticDedupIngest(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(4)) <= 1)
    val batches = Seq(2, 3).map(r =>
      emb.filter(pmod(col("vec_id"), lit(4)) === r))
    // seed leg amortized as standing index state (r17 verdict ask #6;
    // IngestDoor.seededWorkingCopy)
    graft.operators.SemanticDedupIngest.door()
      .ingestAllAmortized(spark, dir, corpus, batches, nBuckets = 16)
      .orderBy(col("vec_id").asc)
  }
  val q160Oracle: String = s"""
    WITH e AS (SELECT vec_id, ${oQuant("embedding")} AS q FROM embeddings),
    n AS (SELECT vec_id, q,
          list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
          FROM e),
    bands AS (
      SELECT vec_id, CAST(band AS VARCHAR) || ':' ||
        array_to_string(list_transform(generate_series(1, 4),
          i -> CASE WHEN q[band*4 + i] > 0 THEN '1' ELSE '0' END), '') AS bb
      FROM n CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) b),
    idx0 AS (SELECT bb, vec_id FROM bands WHERE vec_id % 4 <= 1),
    cap1 AS (
      SELECT bb, vec_id AS av FROM idx0
      QUALIFY row_number() OVER (PARTITION BY bb ORDER BY vec_id ASC) <= 64),
    cand1 AS (
      SELECT DISTINCT d.vec_id AS dv, c.av
      FROM bands d JOIN cap1 c ON c.bb = d.bb WHERE d.vec_id % 4 = 2),
    hit1 AS (
      SELECT DISTINCT p.dv
      FROM cand1 p JOIN n x ON x.vec_id = p.dv JOIN n y ON y.vec_id = p.av
      WHERE CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i]*y.q[i])) AS DOUBLE)
          / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) >= 0.45),
    b1 AS (
      SELECT d.vec_id, 1 AS batch_id,
        CAST(hit1.dv IS NOT NULL AS INT) AS near_dup
      FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 2) d
      LEFT JOIN hit1 ON hit1.dv = d.vec_id),
    idx1 AS (SELECT bb, vec_id FROM idx0
             UNION ALL
             SELECT b.bb, b.vec_id FROM bands b
               JOIN b1 ON b1.vec_id = b.vec_id WHERE b1.near_dup = 0),
    cap2 AS (
      SELECT bb, vec_id AS av FROM idx1
      QUALIFY row_number() OVER (PARTITION BY bb ORDER BY vec_id ASC) <= 64),
    cand2 AS (
      SELECT DISTINCT d.vec_id AS dv, c.av
      FROM bands d JOIN cap2 c ON c.bb = d.bb WHERE d.vec_id % 4 = 3),
    hit2 AS (
      SELECT DISTINCT p.dv
      FROM cand2 p JOIN n x ON x.vec_id = p.dv JOIN n y ON y.vec_id = p.av
      WHERE CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i]*y.q[i])) AS DOUBLE)
          / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) >= 0.45),
    b2 AS (
      SELECT d.vec_id, 2 AS batch_id,
        CAST(hit2.dv IS NOT NULL AS INT) AS near_dup
      FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 3) d
      LEFT JOIN hit2 ON hit2.dv = d.vec_id),
    allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT vec_id, batch_id, near_dup,
           CASE WHEN near_dup = 0 THEN 1 ELSE 0 END AS admitted
    FROM allb ORDER BY vec_id ASC"""

  // q172 — exact Gram/covariance matrix over the embedding corpus: the
  // PCA/whitening-prep primitive (one pass → Σ qᵀq upper triangle +
  // per-dim sums + n; covariance follows in closed form). The corpus is
  // scanned ONCE and never shuffled — GramAgg ships one ~17 KB buffer
  // per map task through the partial/merge tree (a posexplode² plan
  // would push N·d² product rows into the shuffle). The d(d+3)/2+1-long
  // result is BOUNDED (2 145 longs at d=64) — the collect is the matrix
  // itself, never rows. All integer arithmetic is exact; the covariance
  // doubles are fixed-order correctly-rounded ops over exact ints, so
  // both engines produce identical bits.
  def q172GramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(VectorOps.quantize(col("embedding")).as("qe"))
    val d = e.select(size(col("qe"))).first().getInt(0)
    val tri = d * (d + 1) / 2
    val gram = udaf(new graft.functions.GramAgg(d))
    val packed = e.agg(gram(col("qe")).as("g")).first().getSeq[Long](0)
    val n = packed(tri + d)
    val rows = for { i <- 0 until d; j <- i until d } yield {
      val k = i * d - i * (i - 1) / 2 + (j - i)
      (i.toLong, j.toLong, packed(k), packed(tri + i), packed(tri + j))
    }
    spark.createDataFrame(rows).toDF("i", "j", "gram", "s_i", "s_j")
      .withColumn("cov",
        (col("gram").cast("double")
          - col("s_i").cast("double") * col("s_j").cast("double") / lit(n))
          / lit(n) / lit(100000000.0))
      .orderBy(col("i").asc, col("j").asc)
  }
  val q172Oracle: String = s"""
    WITH q AS (SELECT vec_id, ${oQuant("embedding")} AS qe FROM embeddings),
    ex AS (SELECT vec_id, generate_subscripts(qe, 1) - 1 AS i, unnest(qe) AS v
           FROM q),
    nn AS (SELECT COUNT(*) AS n FROM q),
    g AS (SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS gram
          FROM ex a JOIN ex b ON b.vec_id = a.vec_id AND b.i >= a.i
          GROUP BY a.i, b.i),
    s AS (SELECT i, SUM(v) AS s FROM ex GROUP BY i)
    SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
           CAST(gram AS BIGINT) AS gram,
           CAST(sa.s AS BIGINT) AS s_i, CAST(sb.s AS BIGINT) AS s_j,
           (CAST(gram AS DOUBLE)
             - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE) / nn.n)
             / nn.n / 100000000.0 AS cov
    FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j CROSS JOIN nn
    ORDER BY i ASC, j ASC"""

  // q173 — embedding outlier screen (SemDeDup-adjacent prototypicality,
  // Abbas et al. 2023): each vector's exact cosine to its OWN label
  // centroid, per-label deciles, bottom decile flagged as outliers —
  // the curation pass that drops least-prototypical examples per
  // cluster. Centroids stay integer SUM vectors (cosine is scale-
  // invariant, q91's trick); the 10-row centroid table broadcasts, so
  // the corpus maps once with a codegen'd long_dot — no explode, no
  // corpus shuffle. The per-label ntile is the oracle-exact decile; at
  // 100 TB cutoffs would come from a per-label score histogram.
  //
  // Overflow bounds (GramAgg's discipline): centroid components scale
  // as Scale·max|x|·N_label, so their SQUARES are the first thing to
  // outgrow Int64 — the centroid norm is therefore computed in
  // decimal(38,0) on the 10-row centroid table (value-identical after
  // the per-part double cast in cosineFromParts while a long would
  // hold, still exact far beyond: d·(Scale·max|x|·N)² fits 38 digits to
  // N≈10¹⁵). The per-row qdot(q, c) stays Int64 — each term is bounded
  // by Scale²·max|x|²·N, so the d-term sum holds to N_label≈10⁹ rows
  // (Scale=10⁴, max|x|≈1, d=64), the same regime GramAgg documents;
  // past that, cast the centroid to decimal in the dot as well.
  def q173OutlierScreen(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        VectorOps.quantize(col("embedding")).as("q_emb"))
      .withColumn("q_n2", VectorOps.qnorm2(col("q_emb")))
    val cent = Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(VectorOps.quantize(col("embedding"))).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim")).agg(sum(col("q")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
        x => x.getField("s")).as("c_emb"))
      .withColumn("c_n2", aggregate(col("c_emb"),
        lit(0).cast("decimal(38,0)"),
        (acc, x) => acc + x.cast("decimal(19,0)") * x.cast("decimal(19,0)")))
    val dec = ntile(10).over(Window.partitionBy(col("label"))
      .orderBy(col("cos_centroid").asc, col("vec_id").asc))
    e.join(broadcast(cent), Seq("label"))
      .withColumn("cos_centroid", VectorOps.cosineFromParts(
        VectorOps.qdot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2")))
      .withColumn("decile", dec.cast("long"))
      .withColumn("is_outlier", (col("decile") === 1).cast("int"))
      .select(col("vec_id"), col("label"), col("cos_centroid"),
        col("decile"), col("is_outlier"))
      .orderBy(col("vec_id").asc)
  }
  val q173Oracle: String = s"""
    WITH e AS (
      SELECT vec_id, label, ${oQuant("embedding")} AS q FROM embeddings),
    en AS (
      SELECT vec_id, label, q,
        list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
      FROM e),
    cd0 AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
      FROM embeddings),
    cd AS (SELECT label, pos, SUM(q) AS s FROM cd0 GROUP BY label, pos),
    c AS (SELECT label, list(s ORDER BY pos) AS cq FROM cd GROUP BY label),
    cn AS (
      SELECT label, cq,
        list_sum(list_transform(generate_series(1, len(cq)), i -> cq[i]*cq[i])) AS cn2
      FROM c),
    scored AS (
      SELECT en.vec_id, en.label,
        CAST(list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*cq[i])) AS DOUBLE)
          / sqrt(CAST(n2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos_centroid
      FROM en JOIN cn ON cn.label = en.label),
    ranked AS (
      SELECT vec_id, label, cos_centroid,
        CAST(NTILE(10) OVER (PARTITION BY label
          ORDER BY cos_centroid ASC, vec_id ASC) AS BIGINT) AS decile
      FROM scored)
    SELECT vec_id, label, cos_centroid, decile,
           CASE WHEN decile = 1 THEN 1 ELSE 0 END AS is_outlier
    FROM ranked ORDER BY vec_id ASC"""

  // q175 — semantic decontamination: the embedding-space counterpart of
  // q153's n-gram contamination screen (the curation matrix spans both,
  // as the dedup matrix does). Eval set = vec_id % 17 == 0 (the held-out
  // benchmark); every remaining corpus vector reports its count of eval
  // vectors with exact quantized cosine ≥ 0.45 among sign-band bucket
  // collisions (16 bands × 4 sign bits, per-bucket cap 64 — mirrored in
  // the oracle like q41's). Bipartite blocking: eval bands broadcast,
  // only bucket collisions join — the corpus never self-joins and never
  // shuffles whole vectors for the screen.
  def q175SemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    VectorOps.semanticDecontaminate(
        emb.filter(col("vec_id") % 17 =!= 0),
        emb.filter(col("vec_id") % 17 === 0), threshold = 0.45)
      .orderBy(col("vec_id").asc)
  }
  val q175Oracle: String = s"""
    WITH e AS (SELECT vec_id, ${oQuant("embedding")} AS q FROM embeddings),
    n AS (SELECT vec_id, q,
          list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
          FROM e),
    bands0 AS (
      SELECT vec_id, band,
        array_to_string(list_transform(generate_series(1, 4),
          i -> CASE WHEN q[band*4 + i] > 0 THEN '1' ELSE '0' END), '') AS bucket
      FROM n CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) b),
    cb AS (
      SELECT vec_id, band, bucket FROM bands0 WHERE vec_id % 17 <> 0
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) <= 64),
    eb AS (
      SELECT vec_id AS eval_id, band, bucket FROM bands0 WHERE vec_id % 17 = 0
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY eval_id) <= 64),
    cand AS (
      SELECT DISTINCT cb.vec_id, eb.eval_id
      FROM cb JOIN eb ON cb.band = eb.band AND cb.bucket = eb.bucket),
    hits AS (
      SELECT cand.vec_id, COUNT(*) AS n_matches
      FROM cand JOIN n c ON c.vec_id = cand.vec_id
                JOIN n ev ON ev.vec_id = cand.eval_id
      WHERE CAST(list_sum(list_transform(generate_series(1, len(c.q)),
              i -> c.q[i]*ev.q[i])) AS DOUBLE)
            / sqrt(CAST(c.n2 AS DOUBLE) * CAST(ev.n2 AS DOUBLE)) >= 0.45
      GROUP BY cand.vec_id)
    SELECT n.vec_id, CAST(COALESCE(h.n_matches, 0) AS BIGINT) AS n_matches,
           CASE WHEN COALESCE(h.n_matches, 0) > 0 THEN 1 ELSE 0 END
             AS contaminated
    FROM n LEFT JOIN hits h ON h.vec_id = n.vec_id
    WHERE n.vec_id % 17 <> 0
    ORDER BY n.vec_id ASC"""

  // q209 — MMR diverse retrieval (maximal marginal relevance, Carbonell
  // & Goldstein 1998): per query, greedily select k=5 results from the
  // exact top-20 candidate pool maximizing λ·rel(q,d) −
  // (1−λ)·max_{s∈S} sim(d,s) — the selection a retrieval-augmented
  // data pipeline runs when the top-k of a near-dup-heavy corpus would
  // otherwise return five copies of one document. Determinism: rel and
  // sim are the repo's exact-integer-part cosines (bit-identical in
  // both engines); the greedy argmax compares fixed-shape doubles with
  // cand_id tiebreaks, so all five steps replay identically anywhere.
  // Scale shape: ONE corpus-wide pass (broadcast 10-probe set, per-query
  // top-20 window) builds the pool; everything after — the 20×20
  // pairwise sims and four greedy rounds — runs on the bounded
  // (queries × 20)-row frame, so MMR costs the same corpus work as
  // plain top-k retrieval. The rounds are driver-sequenced DataFrame
  // ops (q183's pattern), never a collect of vectors.
  def q209MmrDiverse(spark: SparkSession, dir: String): DataFrame = {
    val kPool = 20; val kOut = 5
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id").asc)
    val pool = emb.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn("rel", VectorOps.cosineFromParts(
        VectorOps.qdot(col("qq"), col("q")),
        VectorOps.qnorm2(col("qq")), VectorOps.qnorm2(col("q"))))
      .withColumn("rnk", row_number().over(wRel))
      .filter(col("rnk") <= kPool)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("q"),
        col("rel"), col("rnk"))
      // the pool is ≤ queries·kPool rows from here on — one partition
      // keeps the four greedy rounds from paying 32-way exchanges each
      .coalesce(1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pa = pool.select(col("query_id"), col("cand_id").as("a"), col("q").as("qa2"))
    val pb = pool.select(col("query_id"), col("cand_id").as("b"), col("q").as("qb2"))
    val pairs = pa.join(pb, Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim", VectorOps.cosineFromParts(
        VectorOps.qdot(col("qa2"), col("qb2")),
        VectorOps.qnorm2(col("qa2")), VectorOps.qnorm2(col("qb2"))))
      .select(col("query_id"), col("a"), col("b"), col("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each round materializes (localCheckpoint) so round k's plan reads
    // round k−1's RESULT instead of replaying the whole greedy lineage —
    // without this the final action re-derives every prior round's
    // windows and joins inside one deep tree (measured 10.8 s vs ~1 s).
    // The selected set is ≤ queries·k rows, so the checkpoint is free
    // and the per-round joins broadcast it.
    var selected = pool.filter(col("rnk") === 1)
      .select(col("query_id"), col("cand_id").as("sel_id"), lit(1).as("step"))
      .localCheckpoint(true)
    for (step <- 2 to kOut) {
      val msim = pairs
        .join(broadcast(selected.select(col("query_id"), col("sel_id").as("b"))),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("cand_id"))
        .agg(max(col("sim")).as("msim"))
      val pick = pool
        .join(broadcast(selected.select(col("query_id"),
          col("sel_id").as("cand_id"))), Seq("query_id", "cand_id"), "left_anti")
        .join(msim, Seq("query_id", "cand_id"))
        .withColumn("score", lit(0.7) * col("rel") - lit(0.3) * col("msim"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("cand_id").asc)))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id").as("sel_id"),
          lit(step).as("step"))
      selected = selected.unionByName(pick).localCheckpoint(true)
    }
    val out = selected
      .select(col("query_id"), col("step").cast("int").as("step"),
        col("sel_id"))
      .orderBy(col("query_id").asc, col("step").asc)
    graft.operators.Materialize.thenRelease(out, pool, pairs)
  }
  val q209Oracle: String = {
    def pick(k: Int, prev: String) = s"""
    pick$k AS (
      SELECT query_id, cand_id, $k AS step FROM (
        SELECT p.query_id, p.cand_id,
          row_number() OVER (PARTITION BY p.query_id ORDER BY
            0.7 * p.rel - 0.3 * m.msim DESC, p.cand_id ASC) AS rn
        FROM pool p
        JOIN (SELECT pr.query_id, pr.a AS cand_id, MAX(pr.sim) AS msim
              FROM pairs pr JOIN $prev s
                ON s.query_id = pr.query_id AND s.cand_id = pr.b
              GROUP BY 1, 2) m
          ON m.query_id = p.query_id AND m.cand_id = p.cand_id
        WHERE NOT EXISTS (SELECT 1 FROM $prev s2
          WHERE s2.query_id = p.query_id AND s2.cand_id = p.cand_id))
      WHERE rn = 1),
    sel$k AS (SELECT * FROM $prev UNION ALL SELECT * FROM pick$k)"""
    s"""
    WITH e AS (SELECT vec_id, ${oQuant("embedding")} AS q FROM embeddings),
    probes AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 10),
    scored AS (
      SELECT query_id, e.vec_id AS cand_id, e.q,
        CAST(list_sum(list_transform(generate_series(1, len(qq)),
          i -> qq[i] * q[i])) AS DOUBLE)
        / sqrt(CAST(list_sum(list_transform(generate_series(1, len(qq)),
            i -> qq[i]*qq[i])) AS DOUBLE) *
          CAST(list_sum(list_transform(generate_series(1, len(q)),
            i -> q[i]*q[i])) AS DOUBLE)) AS rel
      FROM probes, e WHERE e.vec_id <> query_id),
    pool AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rel DESC, cand_id ASC) AS rnk
        FROM scored)
      WHERE rnk <= 20),
    pairs AS (
      SELECT a.query_id, a.cand_id AS a, b.cand_id AS b,
        CAST(list_sum(list_transform(generate_series(1, len(a.q)),
          i -> a.q[i] * b.q[i])) AS DOUBLE)
        / sqrt(CAST(list_sum(list_transform(generate_series(1, len(a.q)),
            i -> a.q[i]*a.q[i])) AS DOUBLE) *
          CAST(list_sum(list_transform(generate_series(1, len(b.q)),
            i -> b.q[i]*b.q[i])) AS DOUBLE)) AS sim
      FROM pool a JOIN pool b
        ON b.query_id = a.query_id AND b.cand_id <> a.cand_id),
    sel1 AS (SELECT query_id, cand_id, 1 AS step FROM pool WHERE rnk = 1),
    ${pick(2, "sel1")},
    ${pick(3, "sel2")},
    ${pick(4, "sel3")},
    ${pick(5, "sel4")}
    SELECT query_id, CAST(step AS INT) AS step, cand_id AS sel_id
    FROM sel5 ORDER BY query_id ASC, step ASC"""
  }

  // q232 — bitext mining by margin-based mutual nearest neighbors
  // (the CCMatrix/LASER alignment criterion, re-expressed relationally):
  // the corpus splits into two "languages" (even/odd vec_id — the
  // deterministic stand-in for an embedding space shared by two actual
  // languages), candidate cross-side pairs come from the SAME
  // integer-exact sign-band blocking as q152's kNN graph (capped per
  // (band, bucket, side), so a hot cell bounds at cap² cross pairs and
  // the corpus never goes quadratic), and each pair is scored by the
  // RATIO margin: cos(x,y) normalized by the mean of each endpoint's
  // top-k candidate cosines. A pair is mined when each side is the
  // other's best-margin candidate (mutual argmax) and the margin
  // clears 1 — "these two are each other's match, and more similar than
  // either is to its neighborhood". Exactness protocol: cosines floor
  // to micro-ints shifted to [0, 2e6], the k-sums are exact BIGINTs,
  // and the margin is ONE IEEE division of exact integers — so the
  // full mined-pair set hash-checks against the oracle's replay.
  def q232BitextMargin(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val maxBucket = 64
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))
      .withColumn("side", pmod(col("vec_id"), lit(2)))
    val bandStructs = (0 until 16).map { b =>
      val bits = concat((1 to 4).map(i =>
        when(element_at(col("q"), b * 4 + i) > 0, lit("1"))
          .otherwise(lit("0"))): _*)
      struct(lit(b).as("band"), bits.as("bucket"))
    }
    val banded = e
      .select(col("vec_id"), col("side"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("side"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // per-side cap: a cell saturated by ONE side must not starve the
    // other side's membership (q227's MaxCell discipline, keyed by side)
    val capW = Window.partitionBy(col("band"), col("bucket"), col("side"))
      .orderBy(col("vec_id").asc)
    val capped = banded.withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= maxBucket).drop("rn")
    val cand = capped.filter(col("side") === 0).as("a")
      .join(capped.filter(col("side") === 1).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"),
        col("n2").as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"),
        col("n2").as("nb")), Seq("vec_b"))
      .withColumn("cosine", VectorOps.cosineFromParts(
        VectorOps.qdot(col("qa"), col("qb")), col("na"), col("nb")))
      // shift to non-negative so neighborhood sums can't cancel to zero
      .withColumn("s",
        (floor(col("cosine") * lit(1000000.0)).cast("long") + lit(1000000L)))
      .select(col("vec_a"), col("vec_b"), col("cosine"), col("s"))
      // reused by both k-sum passes AND the margin join — candidate-pair
      // sized (≤ cells × cap², never corpus²); Verify/Bench clear caches
      // between queries
      .persist()
    val wa = Window.partitionBy(col("vec_a"))
      .orderBy(col("s").desc, col("vec_b").asc)
    val wb = Window.partitionBy(col("vec_b"))
      .orderBy(col("s").desc, col("vec_a").asc)
    val sumsA = scored.withColumn("r", row_number().over(wa))
      .filter(col("r") <= k).groupBy(col("vec_a"))
      .agg(sum(col("s")).as("ssum_a"), count(lit(1)).as("cnt_a"))
    val sumsB = scored.withColumn("r", row_number().over(wb))
      .filter(col("r") <= k).groupBy(col("vec_b"))
      .agg(sum(col("s")).as("ssum_b"), count(lit(1)).as("cnt_b"))
    val margined = scored
      .join(sumsA, Seq("vec_a")).join(sumsB, Seq("vec_b"))
      .withColumn("margin",
        (lit(2.0) * col("s") * col("cnt_a") * col("cnt_b")).cast("double")
          / (col("ssum_a") * col("cnt_b") + col("ssum_b") * col("cnt_a"))
            .cast("double"))
    val ra = Window.partitionBy(col("vec_a"))
      .orderBy(col("margin").desc, col("vec_b").asc)
    val rb = Window.partitionBy(col("vec_b"))
      .orderBy(col("margin").desc, col("vec_a").asc)
    // rank_b FIRST (r19, guide §2.4): margined's last join keys on
    // vec_b, so the vec_b-partitioned window rides that exchange and
    // only rank_a pays a new one — the former order re-exchanged the
    // full candidate frame by vec_a and then AGAIN by vec_b. The two
    // ranks are independent per-row marks; computing them in either
    // order is value-identical.
    margined
      .withColumn("rank_b", row_number().over(rb))
      .withColumn("rank_a", row_number().over(ra))
      .filter(col("rank_a") === 1 && col("rank_b") === 1 &&
        col("margin") > 1.0)
      .select(col("vec_a"), col("vec_b"), col("cosine"), col("margin"))
      .orderBy(col("vec_a").asc)
  }
  val q232Oracle: String = s"""
    WITH e AS (SELECT vec_id, vec_id % 2 AS side,
                      ${oQuant("embedding")} AS q FROM embeddings),
    n AS (SELECT vec_id, side, q,
          list_sum(list_transform(generate_series(1, len(q)), i -> q[i]*q[i])) AS n2
          FROM e),
    bands AS (
      SELECT vec_id, side, band,
        array_to_string(list_transform(generate_series(1, 4),
          i -> CASE WHEN q[band*4 + i] > 0 THEN '1' ELSE '0' END), '') AS bucket
      FROM n CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) b),
    capped AS (
      SELECT vec_id, side, band, bucket FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, bucket, side
                                 ORDER BY vec_id) <= 64),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.side = 0 AND b.side = 1),
    scored AS (
      SELECT vec_a, vec_b,
        CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i]*b.q[i])) AS DOUBLE) /
        sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
      FROM cand JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b),
    shifted AS (
      SELECT vec_a, vec_b, cosine,
             CAST(floor(cosine * 1000000.0) AS BIGINT) + 1000000 AS s
      FROM scored),
    sums_a AS (
      SELECT vec_a, SUM(s) AS ssum_a, COUNT(*) AS cnt_a FROM (
        SELECT * FROM shifted
        QUALIFY row_number() OVER (PARTITION BY vec_a
                                   ORDER BY s DESC, vec_b ASC) <= 4)
      GROUP BY vec_a),
    sums_b AS (
      SELECT vec_b, SUM(s) AS ssum_b, COUNT(*) AS cnt_b FROM (
        SELECT * FROM shifted
        QUALIFY row_number() OVER (PARTITION BY vec_b
                                   ORDER BY s DESC, vec_a ASC) <= 4)
      GROUP BY vec_b),
    margined AS (
      SELECT sh.vec_a, sh.vec_b, sh.cosine,
        CAST(2.0 * sh.s * cnt_a * cnt_b AS DOUBLE)
          / CAST(ssum_a * cnt_b + ssum_b * cnt_a AS DOUBLE) AS margin
      FROM shifted sh JOIN sums_a USING (vec_a) JOIN sums_b USING (vec_b)),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY vec_a
                           ORDER BY margin DESC, vec_b ASC) AS rank_a,
        row_number() OVER (PARTITION BY vec_b
                           ORDER BY margin DESC, vec_a ASC) AS rank_b
      FROM margined)
    SELECT vec_a, vec_b, cosine, margin FROM ranked
    WHERE rank_a = 1 AND rank_b = 1 AND margin > 1.0
    ORDER BY vec_a ASC"""

  // q237 — incremental ANN index maintenance (add-after-train): the
  // coarse quantizer trains on the BASE 75% of the corpus and is then
  // FROZEN; the remaining 25% appends through nearest-centroid
  // assignment alone — no retrain, no touch of the trained artifact,
  // postings union serves queries immediately (the FAISS add() path; at
  // 100 TB the nightly job retrains, every intra-day batch appends).
  // Gated like q44: recall@10 of the appended index against the exact
  // brute-force truth over the FULL corpus must clear the bound — the
  // measured price of serving appends from yesterday's centroids.
  // DRIFT-BOUNDED RE-ASSIGNMENT (round 15): appended vectors spill into
  // their 2 nearest cells (write-side multi-probe — FAISS's
  // retrain-nightly guidance says the frozen quantizer's miss
  // concentrates at cell boundaries, which is where the intra-day
  // append distribution drifts first; spilling boundary appends into
  // both candidate cells bounds that miss without touching the trained
  // artifact). This query's 25% appended fraction is past the
  // re-assignment threshold, so the pass is on (spillAppend = 2).
  // Measured minima (AnnRecallProbe, identical at cpus {4,7,32} — the
  // same hash-filter/fixed-repartition/sort layout determinism as
  // q44's): plain append sf0.001/0.01/0.1 = 0.8/0.8/0.6; WITH spill
  // 0.9/0.8/0.7 — the sf0.1 drift price fully recovered to full-corpus
  // IVF's floor, at |append| extra posting rows. Gate: tight 0.75 at
  // the sf0.01 correctness gate, 0.65 floor elsewhere — a 0.05 margin
  // under the measured sf0.1 minimum (0.7 with spillAppend = 2), so a
  // layout/partitioning drift (Spark/JVM upgrade, cpu-count-sensitive
  // plan change) degrades the gate gracefully instead of flaking at
  // exactly the threshold; re-measure on any upgrade per the
  // recallBound scaladoc.
  def q237AnnIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(pmod(col("vec_id"), lit(4)) =!= 3)
    val appendBatch = emb.filter(pmod(col("vec_id"), lit(4)) === 3)
    val q = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteForceTopK(q, emb, k = 10)
    VectorOps.recallAgainst(
      VectorOps.ivfTopKAppend(spark, q, base, appendBatch, k = 10,
        indexKey = Some(dir), spillAppend = 2), exact)
      .select(col("query_id"),
        (col("recall") >= recallBound(dir, 0.75, 0.65)).cast("int")
          .as("recall_ok"))
      .orderBy(col("query_id").asc)
  }
  val q237Oracle: String = annRecallOracle

  // -------------------------------------------------------------------
  // q242 — graph-search ANN: beam search over the q152 kNN graph — the
  // GRAPH-based retrieval family (HNSW/NSG's serving path) next to the
  // partition- (IVF q44), code- (PQ q129/q170) and hash- (LSH q42)
  // based ones. The corpus-resident structure is the degree-4 kNN graph
  // (built once, q152's integer-deterministic machinery); a query is
  // ROUTED IN through its own SRP band buckets PLUS, per band, the 4
  // buckets at Hamming distance 1 AND the 6 at distance 2 (two rounds of
  // LSH multi-probe at the door — query-side only, the corpus cells are
  // untouched) and then
  // runs HOPS = 3 rounds of {expand frontier along graph edges} →
  // {score candidates by exact quantized cosine} → {keep BEAM = 32 best
  // per query} — the LSH-entry + graph-refine walk (a flat NSW search;
  // fixed global entries strand queries in a band-clustered graph's
  // islands, measured recall 0.05 — routing by the query's cells is
  // what makes the walk navigable). The graph itself is built
  // door-shaped (uncapped probe side ⋈ capped nominee cells, so a hot
  // cell costs H·cap, never H²) and SYMMETRIZED (every node's top-4
  // edges run both ways, NSW practice) — capping both sides orphaned
  // every vector outside its cells' lowest-64 into unreachable islands,
  // which was the r14 recall ceiling. Every step is an equi-join on vec_id plus a
  // per-query window over ≤ BEAM·(degree+1) candidate rows, so a 100 TB
  // corpus costs each query hops × beam × degree edge lookups (bucket-
  // pruned point reads on the stored graph), never a scan; the final
  // top-3 carries a per-edge `hit` flag against the brute-force oracle
  // (the q40 baseline, broadcast queries × one corpus pass) — the
  // recall evidence rides the result itself.
  // Fully deterministic: exact integer dots/norms, one fixed-shape IEEE
  // cosine per (query, candidate), ties broken by candidate id — the
  // whole walk (and therefore the full result) hash-checks cross-engine
  // against DuckDB replaying the identical unrolled hops. No other ANN
  // family here can say that (IVF/PQ train kmeans, so q44/q170/q237
  // gate recall flags instead of replaying results).
  // Measured quality at sf0.1 (125 queries × 2000 vectors, a smooth
  // cosine continuum with p99 ≈ 0.29 vs top-3 ≈ 0.37 — near-tie-dense):
  // set-recall@3 mean 0.86 / min 0.33, cosine-MASS ratio vs exact top-3
  // 0.99 mean / 0.95 p10; sf0.001/sf0.01 both 1.00/1.00 (AnnRecallProbe
  // `graph` mode; GraphAnnSpec gates it). Round-16 decomposition of the
  // climb from 0.73: +0.02 beam 12→16, +0.02 Hamming-2 entry probes
  // (the second nomination round), +0.05 beam 24→32 cumulative with the
  // probes, +0.05 degree 4→6 — the degree lever REOPENS at wide beams
  // (r15 measured degree ±0.03 at beam 12: a narrow beam couldn't
  // absorb the wider frontier). Round-15 levers still hold underneath:
  // +0.07 Hamming-1 probes, +0.08 coverage+symmetry build, +0.04 beam
  // 8→12; hops 3→4 measured +0.00 then and stays a non-lever. Hop gains
  // are PROVABLY monotone (each frontier contains the previous beam).
  def q242GraphAnnSearch(spark: SparkSession, dir: String): DataFrame =
    q242GraphAnnSearch(spark, dir, hops = 3)

  /** The walk with the hop count and query rate exposed — GraphAnnSpec
    * proves the per-query beam mass is monotone in `hops` (each frontier
    * contains the previous beam, so the k-th best can only improve);
    * ScaleProbe widens `queryMod` with the corpus so the brute-force
    * EVAL leg (the hit flags' ground truth — a sampled-eval artifact,
    * not the serving path) stays a fixed-size query panel instead of
    * growing quadratically with the corpus. */
  private[graft] def q242GraphAnnSearch(spark: SparkSession, dir: String,
      hops: Int, queryMod: Int = 16): DataFrame = {
    val Beam = 32; val Hops = hops; val Degree = 6
    val emb = Tables.embeddings(spark, dir)
    val e = emb.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val qset = e.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("n2").as("qn"))
      // entry routing: the query's own SRP band buckets nominate up to
      // 8 lowest-id corpus members (q42's LSH cells as the door into the
      // graph — works for OUT-of-corpus queries too, nothing assumes the
      // query has a node); the graph walk then refines
      def bandsOf(df: DataFrame, idc: String): DataFrame = {
        val bandStructs = (0 until 16).map { b =>
          val bits = concat((1 to 4).map(i =>
            when(element_at(col("q"), b * 4 + i) > 0, lit("1"))
              .otherwise(lit("0"))): _*)
          struct(lit(b).as("band"), bits.as("bucket"))
        }
        df.select(col(idc), explode(array(bandStructs: _*)).as("bb"))
          .select(col(idc), col("bb.band").as("band"),
            col("bb.bucket").as("bucket"))
      }
      // corpus cells capped at 64 lowest ids — the graph build's
      // nominee cap, so a hot bucket bounds entry fan-out the same way
      // it bounds edges; ALL nominated members are scored and the beam
      // keeps the best BEAM (capping nominations by id INSTEAD of
      // scoring them strands the walk just like fixed entries do —
      // measured recall 0.08)
      // Capped cells and the graph (below) are CORPUS-RESIDENT INDEX
      // STATE — built once, amortized over every query (the q237
      // postings-memo argument; a deployment persists both). Memoized
      // localCheckpoints keyed by dataset version + session: repeat
      // calls pay the walk and the eval leg, never the index build;
      // build cost lands in ann_build via IndexMemo.builds.
      // Cross-JVM parquet tier: the cells/edges are the persisted half of
      // a graph index — a fresh JVM with the store configured loads them
      // instead of re-banding and re-scoring the corpus.
      val cellsKey = graft.operators.IndexMemo.Key("gann", dir, Seq("cells"),
        session = true)
      val corpusBands = graft.operators.IndexMemo(cellsKey)(
        graft.operators.AnnIndexStore.orBuildParquet(spark, cellsKey)(
          bandsOf(e, "vec_id")
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("band"), col("bucket"))
                .orderBy(col("vec_id").asc)))
            .filter(col("rn") <= 64).drop("rn")
            .localCheckpoint(true)))
      // MULTI-PROBE entry routing (round 15): each query probes its own
      // SRP cell AND the 4 cells at Hamming distance 1 per band — the
      // classic LSH multi-probe read trick, applied only at the DOOR
      // (the graph walk refines from wherever it enters, so the lever
      // that matters is entry diversity; fixed entries measured 0.05,
      // own-cell entries 0.53, own+adjacent cells raise set-recall@3 to
      // the gated floor below). QUERY side only: corpus cells stay
      // single-bucket (shared with the graph build), so the index is
      // untouched and the cost is the extra nominations' scoring,
      // bounded by 5 × bands × MaxCell per query before dedup.
      val qe = e.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
        .select(col("vec_id").as("qid"), col("q"))
      val qBands = bandsOf(qe, "qid")
      // flip the bit set J ⊆ positions: Hamming-1 probes are the four
      // singletons, Hamming-2 the six pairs (round 16 — the second
      // entry-nomination round; gains measured in GraphAnnSpec/probe)
      val flipSet = (js: Set[Int]) => concat((1 to 4).map { j =>
        if (js(j))
          when(substring(col("bucket"), j, 1) === "1", lit("0"))
            .otherwise(lit("1"))
        else substring(col("bucket"), j, 1)
      }: _*)
      val h1 = (1 to 4).map(j => flipSet(Set(j)))
      val h2 = (for { a <- 1 to 4; b <- (a + 1) to 4 } yield flipSet(Set(a, b)))
      val qProbes = qBands.select(col("qid"), col("band"),
        explode(array((col("bucket") +: h1) ++ h2: _*)).as("bucket"))
      val entries = qProbes
        .join(corpusBands, Seq("band", "bucket"))
        .select(col("qid"), col("vec_id").as("cand"))
        .filter(col("cand") =!= col("qid")).distinct()
      val cvec = e.select(col("vec_id").as("cand"), col("q").as("cv"),
        col("n2").as("cn"))
      // the graph shares the banded/capped frames with entry routing —
      // one banding pass builds BOTH (a second banding call would
      // re-quantize and re-band the whole corpus); localCheckpoint'd so
      // the per-hop expansions re-read a materialized edge list.
      // COVERAGE + SYMMETRY (round 15): the edge build probes with the
      // UNCAPPED band rows and nominates from the CAPPED cells — the
      // q160-door join shape. Capping BOTH sides (the old build) leaves
      // every vector outside its cells' lowest-64 with NO edges at all:
      // at sf0.1's ~125-member cells that orphaned nearly half the
      // corpus into unreachable islands, which — not entry routing — was
      // the set-recall ceiling (measured 0.53; entry levers alone moved
      // it only to 0.61). One capped side still bounds a hot cell
      // LINEARLY (H × 64, never H²), and now every node owns its top-4
      // outgoing edges by construction — no islands, standard kNN
      // digraph.
      // SYMMETRIZE (NSW practice): every node's top-4 edges run both
      // ways, so owning outgoing edges ⇒ being REACHABLE through them —
      // without the reverse leg a node outside its cells' capped
      // nominee set is never a dst and the walk can't find it (the
      // actual island mechanism; a popular node's reverse fan-out is
      // bounded by its nominations, never quadratic). Memoized like the
      // cells above: the uncapped probe side (rawBands) exists only
      // inside the build, so memo hits never re-band the corpus.
      val edgesKey = graft.operators.IndexMemo.Key("gann", dir,
        Seq("edges", s"deg=$Degree"), session = true)
      val edges = graft.operators.IndexMemo(edgesKey)(
        graft.operators.AnnIndexStore.orBuildParquet(spark, edgesKey) {
        val rawBands = bandsOf(e, "vec_id")
        val candPairs = rawBands.as("a")
          .join(corpusBands.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
          .distinct()
        val knn = VectorOps.topKByQuery(
          candPairs
            .join(e.select(col("vec_id").as("query_id"), col("q").as("qa"),
              col("n2").as("na")), Seq("query_id"))
            .join(e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
              col("n2").as("nb")), Seq("neighbor_id"))
            .withColumn("cosine", VectorOps.cosineFromParts(
              VectorOps.qdot(col("qa"), col("qb")), col("na"), col("nb")))
            .select(col("query_id"), col("neighbor_id"), col("cosine")), Degree)
        knn
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
          .unionByName(knn
            .select(col("neighbor_id").as("src"), col("query_id").as("dst")))
          .distinct()
          .localCheckpoint()
      })
      // qset is the FIXED query panel (bounded by queryMod's design —
      // the eval-panel contract), so it broadcasts: one exchange per hop
      // removed from the walk (guide §3.1); the corpus-sized cvec side
      // keeps its shuffle join.
      def scoreTopBeam(frontier: DataFrame): DataFrame = frontier
        .join(broadcast(qset), Seq("qid"))
        .join(cvec, Seq("cand"))
        .withColumn("cosine", VectorOps.cosineFromParts(
          VectorOps.qdot(col("qv"), col("cv")), col("qn"), col("cn")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cand").asc)))
        .filter(col("rn") <= Beam)
        .select(col("qid"), col("cand"), col("cosine"))
      // localCheckpoint per hop: the loop builds on the previous beam in
      // TWO places (expansion + union), so an unpersisted lineage would
      // re-execute hop h's scoring 2^(Hops−h) times; the beam is
      // queries × Beam rows — checkpointing it is free (measured: the
      // lazy-persist alternative re-plans the growing lineage per hop
      // and runs ~1.2 s SLOWER end to end)
      var beam = scoreTopBeam(entries).localCheckpoint()
      for (_ <- 1 to Hops) {
        val expanded = beam.select(col("qid"), col("cand"))
          .join(edges, col("cand") === col("src"))
          .select(col("qid"), col("dst").as("cand"))
          .unionByName(beam.select(col("qid"), col("cand")))
          .distinct()
          .filter(col("cand") =!= col("qid"))
        beam = scoreTopBeam(expanded).localCheckpoint()
      }
      // brute-force exact top-3 per query — the hit flag's ground truth
      val exact = qset.join(cvec.filter(lit(true)), col("cand") =!= col("qid"))
        .withColumn("cosine", VectorOps.cosineFromParts(
          VectorOps.qdot(col("qv"), col("cv")), col("qn"), col("cn")))
        .withColumn("xr", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cand").asc)))
        .filter(col("xr") <= 3)
        .select(col("qid"), col("cand"), lit(1).as("hit"))
      // localCheckpoint the RESULT too: the walk already executed
      // eagerly (per-hop checkpoints), so the eval leg and final joins
      // are the only lineage left — materializing them HERE, while `e`
      // is still cached, means the finally-unpersist below can never
      // force an uncached recompute of the quantize/norm pass (the
      // returned frame is a materialized RDD, not a plan over `e`)
      beam
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cand").asc)))
        .filter(col("rank") <= 3)
        .join(exact, Seq("qid", "cand"), "left_outer")
        .select(col("qid").as("query_id"), col("rank"),
          col("cand").as("neighbor_id"), col("cosine"),
          coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id").asc, col("rank").asc)
        .localCheckpoint()
    } finally { e.unpersist(blocking = false); () }
  }

  // -------------------------------------------------------------------
  // q245 — INCREMENTAL graph-ANN maintenance: q242's kNN graph rebuilt
  // NOTHING when a batch arrives. The corpus splits base (vec_id%4≠3) /
  // append (%4=3, q237's add-after-train split); the base graph — its
  // capped cells and its symmetrized top-Degree edges — is built once
  // and FROZEN (generation 0 of the index state), and the append batch
  // rides in exactly the way a vertex joins an NSW graph:
  //   1. LSH-ROUTED NOMINATION: each appended vector probes the frozen
  //      base cells AND the append batch's own capped cells through its
  //      UNCAPPED band rows (the q160-door join shape — hot cells cost
  //      |append|·cap, never |append|²), so candidates come from both
  //      the standing corpus and the batch itself;
  //   2. exact quantized re-rank → the appended node's top-Degree OUT
  //      edges;
  //   3. LOCAL SYMMETRIZATION: those edges run both ways (the reverse
  //      legs are what make the new node REACHABLE from the old graph —
  //      the q242 island lesson applied incrementally). Base nodes'
  //      own edge lists are never recomputed, re-scored, or rewritten.
  // The edge state is GENERATIONAL: base edges and the append delta are
  // separate memoized artifacts (separate memo families, the in-memory
  // image of one GenerationalStore table per batch window — retiring a
  // batch would drop its delta as metadata); the serving walk reads
  // their union. Walk, entries (H1+H2 multi-probe), beam, and eval are
  // q242's verbatim, over the union graph and the union cell map.
  // Fully deterministic like q242 (integer dots, id tiebreaks), so the
  // ENTIRE append protocol — frozen build, nominations, re-rank,
  // symmetrization, walk — hash-checks against the DuckDB oracle.
  // Measured (AnnRecallProbe-equivalent eval rides the result): the
  // GraphAnnSpec gate requires the append-maintained graph's recall to
  // hold the full-rebuild floor.
  def q245GraphAnnAppend(spark: SparkSession, dir: String): DataFrame = {
    val Beam = 32; val Hops = 3; val Degree = 6
    val emb = Tables.embeddings(spark, dir)
    val e = emb.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def bandsOf(df: DataFrame): DataFrame = {
        val bandStructs = (0 until 16).map { b =>
          val bits = concat((1 to 4).map(i =>
            when(element_at(col("q"), b * 4 + i) > 0, lit("1"))
              .otherwise(lit("0"))): _*)
          struct(lit(b).as("band"), bits.as("bucket"))
        }
        df.select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("vec_id"), col("bb.band").as("band"),
            col("bb.bucket").as("bucket"))
      }
      def capCells(bandRows: DataFrame): DataFrame = bandRows
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("band"), col("bucket"))
            .orderBy(col("vec_id").asc)))
        .filter(col("rn") <= 64).drop("rn")
      def topEdges(cand: DataFrame): DataFrame = {
        val knn = VectorOps.topKByQuery(
          cand
            .join(e.select(col("vec_id").as("query_id"), col("q").as("qa"),
              col("n2").as("na")), Seq("query_id"))
            .join(e.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
              col("n2").as("nb")), Seq("neighbor_id"))
            .withColumn("cosine", VectorOps.cosineFromParts(
              VectorOps.qdot(col("qa"), col("qb")), col("na"), col("nb")))
            .select(col("query_id"), col("neighbor_id"), col("cosine")), Degree)
        knn.select(col("query_id").as("src"), col("neighbor_id").as("dst"))
          .unionByName(knn
            .select(col("neighbor_id").as("src"), col("query_id").as("dst")))
          .distinct()
      }
      val isApp = pmod(col("vec_id"), lit(4)) === 3
      // memoized with the cross-JVM parquet tier, as in q242
      def memo(family: String, params: String*)(build: => DataFrame) = {
        val key = graft.operators.IndexMemo.Key(family, dir, params,
          session = true)
        graft.operators.IndexMemo(key)(
          graft.operators.AnnIndexStore.orBuildParquet(spark, key)(build))
      }
      // generation 0: the frozen base graph (cells + edges)
      val baseCells = memo("gannb", "cells")(
        capCells(bandsOf(e.filter(!isApp))).localCheckpoint(true))
      val baseEdges = memo("gannb", "edges", s"deg=$Degree")(
        topEdges(bandsOf(e.filter(!isApp)).as("a")
          .join(baseCells.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("query_id"),
            col("b.vec_id").as("neighbor_id"))
          .distinct()).localCheckpoint(true))
      // generation 1: the append batch's cells + edge delta — built
      // against the FROZEN generation 0, never mutating it
      val appCells = memo("ganna", "cells")(
        capCells(bandsOf(e.filter(isApp))).localCheckpoint(true))
      val appEdges = memo("ganna", "edges", s"deg=$Degree")(
        topEdges(bandsOf(e.filter(isApp)).as("a")
          .join(baseCells.unionByName(appCells).as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("query_id"),
            col("b.vec_id").as("neighbor_id"))
          .distinct()).localCheckpoint(true))
      val edges = baseEdges.unionByName(appEdges).distinct()
      val cellsAll = baseCells.unionByName(appCells)
      // ---- the q242 walk, verbatim, over the union graph ----
      val qset = e.filter(pmod(col("vec_id"), lit(16)) === 0)
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("n2").as("qn"))
      val qe = e.filter(pmod(col("vec_id"), lit(16)) === 0)
        .select(col("vec_id").as("qid"), col("q"))
      val qBands = bandsOf(qe.withColumnRenamed("qid", "vec_id"))
        .withColumnRenamed("vec_id", "qid")
      val flipSet = (js: Set[Int]) => concat((1 to 4).map { j =>
        if (js(j))
          when(substring(col("bucket"), j, 1) === "1", lit("0"))
            .otherwise(lit("1"))
        else substring(col("bucket"), j, 1)
      }: _*)
      val h1 = (1 to 4).map(j => flipSet(Set(j)))
      val h2 = (for { a <- 1 to 4; b <- (a + 1) to 4 } yield flipSet(Set(a, b)))
      val qProbes = qBands.select(col("qid"), col("band"),
        explode(array((col("bucket") +: h1) ++ h2: _*)).as("bucket"))
      val entries = qProbes
        .join(cellsAll, Seq("band", "bucket"))
        .select(col("qid"), col("vec_id").as("cand"))
        .filter(col("cand") =!= col("qid")).distinct()
      val cvec = e.select(col("vec_id").as("cand"), col("q").as("cv"),
        col("n2").as("cn"))
      // qset is the FIXED query panel (bounded by queryMod's design —
      // the eval-panel contract), so it broadcasts: one exchange per hop
      // removed from the walk (guide §3.1); the corpus-sized cvec side
      // keeps its shuffle join.
      def scoreTopBeam(frontier: DataFrame): DataFrame = frontier
        .join(broadcast(qset), Seq("qid"))
        .join(cvec, Seq("cand"))
        .withColumn("cosine", VectorOps.cosineFromParts(
          VectorOps.qdot(col("qv"), col("cv")), col("qn"), col("cn")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cand").asc)))
        .filter(col("rn") <= Beam)
        .select(col("qid"), col("cand"), col("cosine"))
      var beam = scoreTopBeam(entries).localCheckpoint()
      for (_ <- 1 to Hops) {
        val expanded = beam.select(col("qid"), col("cand"))
          .join(edges, col("cand") === col("src"))
          .select(col("qid"), col("dst").as("cand"))
          .unionByName(beam.select(col("qid"), col("cand")))
          .distinct()
          .filter(col("cand") =!= col("qid"))
        beam = scoreTopBeam(expanded).localCheckpoint()
      }
      val exact = qset.join(cvec.filter(lit(true)), col("cand") =!= col("qid"))
        .withColumn("cosine", VectorOps.cosineFromParts(
          VectorOps.qdot(col("qv"), col("cv")), col("qn"), col("cn")))
        .withColumn("xr", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cand").asc)))
        .filter(col("xr") <= 3)
        .select(col("qid"), col("cand"), lit(1).as("hit"))
      beam
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("cand").asc)))
        .filter(col("rank") <= 3)
        .join(exact, Seq("qid", "cand"), "left_outer")
        .select(col("qid").as("query_id"), col("rank"),
          col("cand").as("neighbor_id"), col("cosine"),
          coalesce(col("hit"), lit(0)).as("hit"))
        .orderBy(col("query_id").asc, col("rank").asc)
        .localCheckpoint()
    } finally { e.unpersist(blocking = false); () }
  }

  private def hopCtes(hops: Int, beam: Int): String =
    (1 to hops).map { h =>
      val prev = if (h == 1) "beam0" else s"beam${h - 1}"
      s"""exp$h AS (
      SELECT DISTINCT qid, cand FROM (
        SELECT b.qid, g.dst AS cand FROM $prev b JOIN edges g ON g.src = b.cand
        UNION ALL
        SELECT qid, cand FROM $prev) u
      WHERE cand <> qid),
    beam$h AS (
      SELECT qid, cand, cosine FROM (
        SELECT x.qid, x.cand,
          CAST(list_sum(list_transform(generate_series(1, len(qs.qv)),
            j -> qs.qv[j] * c.q[j])) AS DOUBLE)
            / sqrt(CAST(qs.qn AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
        FROM exp$h x JOIN qset qs ON qs.qid = x.qid
          JOIN n c ON c.vec_id = x.cand) s
      QUALIFY row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) <= $beam)"""
    }.mkString(",\n    ")
  val q242Oracle: String = s"""
    WITH $knnGraphCtes,
    gcand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bands a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.vec_id <> b.vec_id),
    gscored AS (
      SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i]*y.q[i])) AS DOUBLE) /
        sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cosine
      FROM gcand JOIN n x ON x.vec_id = query_id
                 JOIN n y ON y.vec_id = neighbor_id),
    gknn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
          AS rank
        FROM gscored) r WHERE rank <= 6),
    edges AS (
      SELECT query_id AS src, neighbor_id AS dst FROM gknn
      UNION
      SELECT neighbor_id AS src, query_id AS dst FROM gknn),
    qset AS (SELECT vec_id AS qid, q AS qv, n2 AS qn
             FROM n WHERE vec_id % 16 = 0),
    qprobes AS (
      SELECT vec_id, band, bucket FROM bands WHERE vec_id % 16 = 0
      UNION
      SELECT b.vec_id, b.band,
             substr(b.bucket, 1, j.j - 1) ||
             (CASE WHEN substr(b.bucket, j.j, 1) = '1'
                   THEN '0' ELSE '1' END) ||
             substr(b.bucket, j.j + 1, 4 - j.j) AS bucket
      FROM bands b CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j) j
      WHERE b.vec_id % 16 = 0
      UNION
      SELECT b.vec_id, b.band,
             array_to_string(list_transform(generate_series(1, 4),
               i -> CASE WHEN i = p.j1 OR i = p.j2
                    THEN (CASE WHEN substr(b.bucket, i, 1) = '1'
                          THEN '0' ELSE '1' END)
                    ELSE substr(b.bucket, i, 1) END), '') AS bucket
      FROM bands b CROSS JOIN (
        SELECT a.j AS j1, c.j AS j2
        FROM (SELECT unnest(generate_series(1, 4)) AS j) a,
             (SELECT unnest(generate_series(1, 4)) AS j) c
        WHERE a.j < c.j) p
      WHERE b.vec_id % 16 = 0),
    entries AS (
      SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS cand
      FROM qprobes qb JOIN capped cb
        ON cb.band = qb.band AND cb.bucket = qb.bucket
      WHERE cb.vec_id <> qb.vec_id),
    beam0 AS (
      SELECT qid, cand, cosine FROM (
        SELECT en.qid, en.cand,
          CAST(list_sum(list_transform(generate_series(1, len(qs.qv)),
            j -> qs.qv[j] * c.q[j])) AS DOUBLE)
            / sqrt(CAST(qs.qn AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
        FROM entries en JOIN qset qs ON qs.qid = en.qid
          JOIN n c ON c.vec_id = en.cand) s
      QUALIFY row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) <= 32),
    ${hopCtes(3, 32)},
    exact AS (
      SELECT qid, cand FROM (
        SELECT qs.qid, c.vec_id AS cand,
          CAST(list_sum(list_transform(generate_series(1, len(qs.qv)),
            j -> qs.qv[j] * c.q[j])) AS DOUBLE)
            / sqrt(CAST(qs.qn AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
        FROM qset qs CROSS JOIN n c WHERE c.vec_id <> qs.qid) s
      QUALIFY row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) <= 3),
    fin AS (
      SELECT qid, cand, cosine, row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) AS rank
      FROM beam3)
    SELECT f.qid AS query_id, f.rank, f.cand AS neighbor_id, f.cosine,
           CAST(x.cand IS NOT NULL AS INT) AS hit
    FROM fin f LEFT JOIN exact x ON x.qid = f.qid AND x.cand = f.cand
    WHERE f.rank <= 3
    ORDER BY query_id ASC, rank ASC"""

  /** q245's oracle: the full incremental protocol replayed — frozen base
    * graph (base bands ⋈ base capped cells, top-6, symmetrized), the
    * append batch's LSH-routed nominations against base ∪ append cells,
    * its top-6 delta symmetrized in, then q242's walk over the union. */
  val q245Oracle: String = s"""
    WITH $knnGraphCtes,
    bcapped AS (
      SELECT vec_id, band, bucket FROM bands WHERE vec_id % 4 <> 3
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) <= 64),
    acapped AS (
      SELECT vec_id, band, bucket FROM bands WHERE vec_id % 4 = 3
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) <= 64),
    cappedall AS (
      SELECT * FROM bcapped UNION ALL SELECT * FROM acapped),
    bcand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bands a JOIN bcapped b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.vec_id <> b.vec_id
      WHERE a.vec_id % 4 <> 3),
    acand AS (
      SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bands a JOIN cappedall c
        ON a.band = c.band AND a.bucket = c.bucket
       AND a.vec_id <> c.vec_id
      WHERE a.vec_id % 4 = 3),
    gscored2 AS (
      SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(x.q)),
          i -> x.q[i]*y.q[i])) AS DOUBLE) /
        sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cosine
      FROM (SELECT * FROM bcand UNION ALL SELECT * FROM acand) u
        JOIN n x ON x.vec_id = query_id
        JOIN n y ON y.vec_id = neighbor_id),
    gknn2 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER
          (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
          AS rank
        FROM gscored2) r WHERE rank <= 6),
    edges AS (
      SELECT query_id AS src, neighbor_id AS dst FROM gknn2
      UNION
      SELECT neighbor_id AS src, query_id AS dst FROM gknn2),
    qset AS (SELECT vec_id AS qid, q AS qv, n2 AS qn
             FROM n WHERE vec_id % 16 = 0),
    qprobes AS (
      SELECT vec_id, band, bucket FROM bands WHERE vec_id % 16 = 0
      UNION
      SELECT b.vec_id, b.band,
             substr(b.bucket, 1, j.j - 1) ||
             (CASE WHEN substr(b.bucket, j.j, 1) = '1'
                   THEN '0' ELSE '1' END) ||
             substr(b.bucket, j.j + 1, 4 - j.j) AS bucket
      FROM bands b CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j) j
      WHERE b.vec_id % 16 = 0
      UNION
      SELECT b.vec_id, b.band,
             array_to_string(list_transform(generate_series(1, 4),
               i -> CASE WHEN i = p.j1 OR i = p.j2
                    THEN (CASE WHEN substr(b.bucket, i, 1) = '1'
                          THEN '0' ELSE '1' END)
                    ELSE substr(b.bucket, i, 1) END), '') AS bucket
      FROM bands b CROSS JOIN (
        SELECT a.j AS j1, c.j AS j2
        FROM (SELECT unnest(generate_series(1, 4)) AS j) a,
             (SELECT unnest(generate_series(1, 4)) AS j) c
        WHERE a.j < c.j) p
      WHERE b.vec_id % 16 = 0),
    entries AS (
      SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS cand
      FROM qprobes qb JOIN cappedall cb
        ON cb.band = qb.band AND cb.bucket = qb.bucket
      WHERE cb.vec_id <> qb.vec_id),
    beam0 AS (
      SELECT qid, cand, cosine FROM (
        SELECT en.qid, en.cand,
          CAST(list_sum(list_transform(generate_series(1, len(qs.qv)),
            j -> qs.qv[j] * c.q[j])) AS DOUBLE)
            / sqrt(CAST(qs.qn AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
        FROM entries en JOIN qset qs ON qs.qid = en.qid
          JOIN n c ON c.vec_id = en.cand) s
      QUALIFY row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) <= 32),
    ${hopCtes(3, 32)},
    exact AS (
      SELECT qid, cand FROM (
        SELECT qs.qid, c.vec_id AS cand,
          CAST(list_sum(list_transform(generate_series(1, len(qs.qv)),
            j -> qs.qv[j] * c.q[j])) AS DOUBLE)
            / sqrt(CAST(qs.qn AS DOUBLE) * CAST(c.n2 AS DOUBLE)) AS cosine
        FROM qset qs CROSS JOIN n c WHERE c.vec_id <> qs.qid) s
      QUALIFY row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) <= 3),
    fin AS (
      SELECT qid, cand, cosine, row_number() OVER (PARTITION BY qid
        ORDER BY cosine DESC, cand ASC) AS rank
      FROM beam3)
    SELECT f.qid AS query_id, f.rank, f.cand AS neighbor_id, f.cosine,
           CAST(x.cand IS NOT NULL AS INT) AS hit
    FROM fin f LEFT JOIN exact x ON x.qid = f.qid AND x.cand = f.cand
    WHERE f.rank <= 3
    ORDER BY query_id ASC, rank ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_graph_ann_append" -> (q245GraphAnnAppend _),
    "q242_graph_ann_search" -> (q242GraphAnnSearch _),
    "q237_ann_index_append" -> (q237AnnIndexAppend _),
    "q232_bitext_margin" -> (q232BitextMargin _),
    "q209_mmr_diverse" -> (q209MmrDiverse _),
    "q175_semantic_decontaminate" -> (q175SemanticDecontaminate _),
    "q172_gram_matrix" -> (q172GramMatrix _),
    "q173_outlier_screen" -> (q173OutlierScreen _),
    "q160_semantic_dedup_ingest" -> (q160SemanticDedupIngest _),
    "q156_semantic_dedup" -> (q156SemanticDedup _),
    "q152_knn_graph" -> (q152KnnGraph _),
    "q90_label_centroids" -> (q90LabelCentroids _),
    "q91_nearest_centroid" -> (q91NearestCentroid _),
    "q44_ann_ivf" -> (q44AnnIvf _),
    "q129_ann_pq" -> (q129AnnPq _),
    "q170_ann_ivfpq" -> (q170AnnIvfPq _),
    "q40_ann_bruteforce" -> (q40AnnBruteforce _),
    "q246_ann_auto" -> (q246AnnAuto _),
    "q247_ann_registry" -> (q247AnnRegistry _),
    "q41_cosine_dedup" -> (q41CosineDedup _),
    "q42_ann_lsh" -> (q42AnnLsh _),
    "q43_knn_label_vote" -> (q43KnnLabelVote _),
    "q193_hard_negatives" -> (q193HardNegatives _),
    "q195_cluster_cohesion" -> (q195ClusterCohesion _),
    "q197_jl_projection" -> (q197JlProjection _),
    "q202_jl_prefilter_rerank" -> (q202JlPrefilterRerank _))

  val oracles: Map[String, String] = Map(
    "q245_graph_ann_append" -> q245Oracle,
    "q242_graph_ann_search" -> q242Oracle,
    "q237_ann_index_append" -> q237Oracle,
    "q232_bitext_margin" -> q232Oracle,
    "q209_mmr_diverse" -> q209Oracle,
    "q175_semantic_decontaminate" -> q175Oracle,
    "q172_gram_matrix" -> q172Oracle,
    "q173_outlier_screen" -> q173Oracle,
    "q160_semantic_dedup_ingest" -> q160Oracle,
    "q156_semantic_dedup" -> q156Oracle,
    "q152_knn_graph" -> q152Oracle,
    "q90_label_centroids" -> q90Oracle,
    "q91_nearest_centroid" -> q91Oracle,
    "q40_ann_bruteforce" -> q40Oracle,
    "q246_ann_auto" -> q246Oracle,
    "q247_ann_registry" -> q247Oracle,
    "q41_cosine_dedup" -> q41Oracle,
    "q42_ann_lsh" -> q42Oracle,
    "q44_ann_ivf" -> q44Oracle,
    "q170_ann_ivfpq" -> q170Oracle,
    "q129_ann_pq" -> q129Oracle,
    "q43_knn_label_vote" -> q43Oracle,
    "q193_hard_negatives" -> q193Oracle,
    "q195_cluster_cohesion" -> q195Oracle,
    "q197_jl_projection" -> q197Oracle,
    "q202_jl_prefilter_rerank" -> q202Oracle)
}
