package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sync.BucketedTableStore

/** Semantic dedup-on-ingest: admit/reject arriving EMBEDDING batches
  * against a persisted vector index that grows with the admissions —
  * [[DedupIngest]]'s sequential protocol (batch k sees every admission
  * from batches 1..k-1, the corpus is never rescanned) crossed with
  * q152/q156's integer-deterministic SRP-band + exact-quantized-cosine
  * machinery. The production shape: a crawler streams embedded documents
  * in, and each batch is screened against everything ALREADY ACCEPTED —
  * near-duplicates (cosine ≥ τ with any admitted vector) are rejected
  * before they ever reach the corpus.
  *
  * Index layout: one [[BucketedTableStore]] table (`sv`) of the admitted
  * vectors' BAND ROWS — key `band:bucket:vec_id` (unique per row), with
  * the `bb = band:bucket` column carrying a bloom sidecar. A probe
  * collects the batch's DISTINCT band buckets (bounded driver set:
  * ≤ bands × 2^dimsPerBand strings, 256 at the 16×4 default — never
  * rows) and [[BucketedTableStore.readWhereIn]] reads only the store
  * buckets whose sidecars admit one of them: index size never enters the
  * probe cost, exactly like the fingerprint index's pruning.
  *
  * Scale shape per batch: candidates = batch bands ⋈ retrieved admitted
  * bands on `bb` (collision-bounded, never all-pairs) with the admitted
  * side capped at [[MaxCell]] lowest vec_ids per band bucket BEFORE the
  * join — a hot SRP cell (e.g. the all-zeros sign pattern over
  * near-zero embeddings) is the same skew bomb q152/q227 cap, and
  * without the cap the door join goes quadratic in the cell. Then one
  * exact LongDot cosine per distinct nominated pair, one per-vector
  * flag aggregation, one O(batch) delta commit of the admissions' band
  * rows. The oracle replays the cap (QUALIFY over the same
  * lowest-vec_id order), so every decision hash-checks at every scale.
  *
  * Determinism: quantized integer vectors end to end — banding compares
  * exact ints, cosines are one IEEE divide of exact ints — so a SQL
  * oracle replays the whole sequential run, index growth included.
  */
object SemanticDedupIngest {

  /** Per-(band, bucket) candidate fan-out cap at probe time (lowest
    * vec_ids win — deterministic, replayed by the oracle's QUALIFY).
    * [[MediaDedupIngest.MaxCell]]'s value, for the same reason: a cell
    * nominates at most this many admitted neighbors per probe, so a hot
    * bucket bounds the candidate join instead of squaring it. */
  val MaxCell = 64

  /** Band rows of an embedding frame: (vec_id, bb, q, n2) — one row per
    * (vector, band), q152's axis-aligned sign banding on the QUANTIZED
    * vector (bucket = the sign pattern of the band's dims). */
  def bandRows(emb: DataFrame, bands: Int, dimsPerBand: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
        VectorOps.quantize(col("embedding")).as("q"))
      .withColumn("n2", VectorOps.qnorm2(col("q")))
    val bandStructs = (0 until bands).map { b =>
      val bits = concat((1 to dimsPerBand).map(i =>
        when(element_at(col("q"), b * dimsPerBand + i) > 0, lit("1"))
          .otherwise(lit("0"))): _*)
      struct(lit(b).as("band"), bits.as("bucket"))
    }
    e.select(col("vec_id"), col("q"), col("n2"),
        explode(array(bandStructs: _*)).as("s"))
      .select(col("vec_id"), col("q"), col("n2"),
        concat(col("s.band").cast("string"), lit(":"), col("s.bucket")).as("bb"))
  }

  private def keyed(rows: DataFrame): DataFrame =
    rows.withColumn("k",
      concat(col("bb"), lit(":"), col("vec_id").cast("string")))

  /** Seed the index from the initially-accepted corpus (may be empty).
    *
    * The `bb` bloom sidecar is GATED on the cell-domain size, with the
    * same 4096 threshold as [[decide]]'s probe enumeration: at the
    * default 16×4 banding the 256 sign-pattern cells are dense (every
    * batch observes every cell, decide probes the enumerated domain), so
    * the sidecar admitted every bucket anyway while each seed and each
    * delta commit paid a summary aggregation action to maintain it —
    * pure per-batch constant, zero pruning. Wide bandings (sparse cells)
    * keep the sidecar: there the bloom pruning is real, exactly as in
    * the media door's sparse 64-bit hash cells. Absent sidecar, the
    * probe's readWhereIn degrades to reading all buckets — the same
    * buckets the dense-domain bloom admitted. */
  def seedIndex(store: BucketedTableStore, corpus: DataFrame, ts: Timestamp,
      bands: Int, dimsPerBand: Int): Unit =
    store.writeAll("sv", keyed(bandRows(corpus, bands, dimsPerBand))
        .withColumn("syncTimestamp", lit(ts)),
      "k", bloomCols =
        if (bands.toLong * (1L << dimsPerBand) <= 4096) Nil else Seq("bb"))

  /** Admit/reject decisions for ONE batch against the index AS OF now —
    * pure read. `bb` must be [[bandRows]] of the batch. Decisions are
    * snapshot-semantic (two mutual near-dups arriving in one batch are
    * both admitted — intra-batch dedup is q41/q156's job) and
    * MATERIALIZED at call time, same freeze-or-fail rationale as
    * [[DedupIngest.decide]]. Returns (vec_id, batch_id, near_dup,
    * admitted). */
  def decide(store: BucketedTableStore, batch: DataFrame, bb: DataFrame,
      batchId: Long, tau: Double): DataFrame =
    decide(store, batch, bb, batchId, tau, bands = 16, dimsPerBand = 4)

  def decide(store: BucketedTableStore, batch: DataFrame, bb: DataFrame,
      batchId: Long, tau: Double, bands: Int, dimsPerBand: Int,
      // injectable so the spec can force the wide-banding (ids-only)
      // branch on the SAME data the broadcast branch sees and pin their
      // decisions equal — the else-branch must never be dead code
      maxBroadcastNominees: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The probe set is the ENUMERATED cell domain (bands × 2^dims
    // strings, 256 at the default) — a driver-side constant, NO Spark
    // action. The former collect of the batch's observed cells was an
    // extra job per batch that bought nothing: any SRP batch beyond a
    // few hundred rows observes every cell (sign-pattern cells are
    // dense by construction), so the bloom probe admitted every store
    // bucket anyway. Correctness is unchanged either way — rows of
    // cells the batch never touches simply never join, and the per-cell
    // cap stays exact because readWhereIn returns every index row of
    // each probed bb. The SPARSE-key doors (content fingerprints,
    // minhash bands, span hashes — huge domains, batch-sized probe
    // sets) keep their collect: there the bloom pruning is real.
    //
    // Enumeration is GATED on the domain size: past ~4096 cells (wide
    // banding, dimsPerBand ≳ 8) the constant stops being one — at
    // dimsPerBand = 16 it is ~1M driver strings rendered into isin
    // literals (driver memory + plan-size blowup), precisely the configs
    // the ids-only branch below exists for. There the batch's OBSERVED
    // distinct cells are collected instead (one bounded job: ≤ batch ×
    // bands rows pre-distinct, ≤ min(domain, batch × bands) out) — at
    // those widths cells are sparse in the domain, so the collect is
    // both small and the bloom pruning it feeds is real again.
    val domain = bands.toLong * (1L << dimsPerBand)
    val probeBuckets: Seq[String] =
      if (domain <= 4096)
        for {
          b <- 0 until bands
          p <- 0 until (1 << dimsPerBand)
        } yield s"$b:" + (dimsPerBand - 1 to 0 by -1)
          .map(i => if (((p >> i) & 1) == 1) '1' else '0').mkString
      else bb.select(col("bb")).distinct().collect()
        .map(_.getString(0)).toIndexedSeq
    // the retrieved admitted slice feeds the pair join AND the vector
    // join-back — persisted for the scope of the materialization below
    val admPersisted = store.readWhereIn("sv", "bb", probeBuckets)
      .filter(_.columns.contains("vec_id"))
      .map(_.persist(StorageLevel.MEMORY_AND_DISK))
    val hits = admPersisted match {
      case Some(adm) =>
        // per-cell cap BEFORE the candidate join (hot sign-pattern
        // cells), lowest vec_ids deterministic; exact per cell because
        // readWhereIn returns every index row of each probed bb (bloom
        // pruning is bucket-conservative), and rows of unprobed cells
        // that ride along never join
        val capped = adm
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("bb")).orderBy(col("vec_id").asc)))
          .filter(col("rn") <= MaxCell)
        if (bands.toLong * (1L << dimsPerBand) * MaxCell
            <= maxBroadcastNominees) {
          // The capped nominee side is ≤ cells × MaxCell rows BY
          // CONSTRUCTION (16 384 at the 16×4 default, ~8 MB with the
          // quantized vectors aboard) — broadcast it, vectors and all.
          // The pair join, both vector join-backs, and the ids-only
          // pair dedup then disappear from the plan (5 exchanges → 1):
          // duplicate (vec, neighbor) pairs from shared bands score
          // more than once, but max() is dup-blind, the recompute is
          // bounded by bands per pair, and decisions are bit-identical.
          // LEFT join: a vector whose cells nominate nothing keeps its
          // rows (null neighbor → cosine null → flag 0), so the no-hit
          // ids ride THIS aggregation and the former distinct +
          // join-back pair below is skipped entirely.
          val cappedVecs = capped.select(col("bb"),
            col("vec_id").as("a_id"), col("q").as("a_q"),
            col("n2").as("a_n2"))
          bb.join(broadcast(cappedVecs), Seq("bb"), "left_outer")
            .withColumn("cosine", VectorOps.cosineFromParts(
              VectorOps.qdot(col("q"), col("a_q")), col("n2"), col("a_n2")))
            .groupBy(col("vec_id"))
            .agg(max(coalesce((col("cosine") >= tau).cast("int"), lit(0)))
              .as("nd"))
        } else {
          // wide-banding scale path (cells × MaxCell past the broadcast
          // bound): candidate-pair dedupe carries ONLY ids through its
          // shuffle — a vector sharing several band buckets with the
          // same admitted neighbor must score once, and deduping rows
          // that carry the 64-long quantized vectors would shuffle the
          // payloads (~0.5 KiB/side) per collision — ids first, vectors
          // joined back once per side after the distinct
          val pairIds = bb.select(col("vec_id"), col("bb"))
            .join(capped.select(col("bb"), col("vec_id").as("a_id")),
              Seq("bb"))
            .select(col("vec_id"), col("a_id")).distinct()
          val batchVecs = bb.select(col("vec_id"), col("q"), col("n2"))
            .dropDuplicates("vec_id")
          val admVecs = adm.select(col("vec_id").as("a_id"),
            col("q").as("a_q"), col("n2").as("a_n2")).dropDuplicates("a_id")
          // pair-bearing vecs only — join the full id set back in (ids
          // from the CACHED probe frame, not the batch source: the
          // source is not persisted at this layer and would re-scan)
          val scored = pairIds.join(batchVecs, Seq("vec_id"))
            .join(admVecs, Seq("a_id"))
            .withColumn("cosine", VectorOps.cosineFromParts(
              VectorOps.qdot(col("q"), col("a_q")), col("n2"), col("a_n2")))
            .groupBy(col("vec_id"))
            .agg(max((col("cosine") >= tau).cast("int")).as("nd"))
          bb.select(col("vec_id")).distinct()
            .join(scored, Seq("vec_id"), "left")
            .select(col("vec_id"), coalesce(col("nd"), lit(0)).as("nd"))
        }
      case None => bb.select(col("vec_id")).distinct().withColumn("nd", lit(0))
    }
    // every branch above yields ONE row per batch vec (no-hit ids
    // included), so the verdict projection needs no further join
    try Materialize.thenRelease(
      hits.select(col("vec_id"), lit(batchId).cast("int").as("batch_id"),
          col("nd").as("near_dup"))
        .withColumn("admitted", (col("near_dup") === 0).cast("int")))
    finally admPersisted.foreach(_.unpersist(blocking = false))
  }

  /** Delta-merge the admitted vectors' band rows into the index. */
  def applyAdmissions(store: BucketedTableStore, bb: DataFrame,
      decisions: DataFrame, ts: Timestamp): Unit =
    store.applyMerge("sv",
      keyed(bb.join(decisions.filter(col("admitted") === 1)
          .select(col("vec_id")), Seq("vec_id"), "left_semi"))
        .withColumn("eventName", lit("INSERT")),
      "k", ts)

  /** This door under the shared [[IngestDoor]] contract — the probe
    * frame is [[bandRows]], decisions are
    * (vec_id, batch_id, near_dup, admitted). */
  def door(bands: Int = 16, dimsPerBand: Int = 4,
      tau: Double = 0.45): IngestDoor = new IngestDoor {
    import org.apache.spark.sql.types._
    val idCol = "vec_id"
    val indexTable = "sv"
    val indexKey = "k"
    val decisionSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("batch_id", IntegerType),
      StructField("near_dup", IntegerType),
      StructField("admitted", IntegerType)))
    // parquet: embedding arrays round-trip natively
    val arrivalSchema = new StructType()
      .add("vec_id", LongType).add("embedding", ArrayType(FloatType))
    val arrivalFormat = "parquet"
    val requiredCols = Seq("vec_id", "embedding")
    val queryName = "semantic-dedup-ingest"
    def probeFrame(spark: SparkSession, batch: DataFrame) =
      bandRows(batch, bands, dimsPerBand)
    def seedIndex(spark: SparkSession, store: BucketedTableStore,
        corpus: DataFrame, ts: Timestamp) =
      SemanticDedupIngest.seedIndex(store, corpus, ts, bands, dimsPerBand)
    def decide(spark: SparkSession, store: BucketedTableStore,
        batch: DataFrame, probe: DataFrame, batchId: Long) =
      SemanticDedupIngest.decide(store, batch, probe, batchId, tau,
        bands, dimsPerBand)
    def applyAdmissions(store: BucketedTableStore, probe: DataFrame,
        decisions: DataFrame, ts: Timestamp) =
      SemanticDedupIngest.applyAdmissions(store, probe, decisions, ts)
  }
}
