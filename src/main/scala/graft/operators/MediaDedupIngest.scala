package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sync.BucketedTableStore

/** Media dedup-on-ingest: the multimodal leg of the at-the-door family —
  * [[DedupIngest]] (text exact+MinHash), [[SpanIngest]] (text spans),
  * [[SemanticDedupIngest]] (embeddings) — completed for payload bytes:
  * each arriving media batch is screened against a PERSISTED perceptual-
  * hash index that grows with the admissions. Batch k sees every
  * admission from batches 1..k-1; the index update is a merge-on-read
  * delta commit (O(batch), not O(corpus)); the corpus is never rescanned.
  *
  * Candidates-then-VERIFY, not membership: a 16-bit aHash band value is
  * a CANDIDATE signal only — at 100 TB image corpora (10⁹⁺ payloads)
  * every one of the 4×65536 band cells is occupied, so a pure
  * band-membership door (the `b:` signal [[DedupIngest]] can afford in
  * its 256-bit MinHash bucket space) would saturate and reject
  * everything. Here a band collision only nominates admitted neighbors
  * (per-cell candidate fan-out capped at [[MaxCell]] lowest-doc_id index
  * rows — q174's hot-cell cap, identical-logo clusters must not go
  * quadratic), and the door verdict is the exact 64-bit Hamming distance
  * ≤ maxHamming against the nominated rows' full hashes, exactly q174's
  * verify. The q227 oracle replays the whole sequential run — band
  * chain, per-cell cap, Hamming verify, snapshot semantics, index
  * growth — in SQL.
  *
  * Index layout ([[SemanticDedupIngest]]'s shape): one
  * [[BucketedTableStore]] table (`pfp`) of the admitted payloads' BAND
  * ROWS — key `band:v:doc_id` (unique per row, so delta-merge
  * resolution never collapses a cell), with the `bb = band:v` column
  * carrying a bloom sidecar: a probe collects the batch's DISTINCT band
  * cells (bounded driver set — ≤ 4·|batch| strings, ≤ 4·65536 ever) and
  * [[BucketedTableStore.readWhereIn]] reads only the store buckets whose
  * sidecars admit one of them; index size never enters the probe cost.
  *
  * Decisions within one batch are taken against the index AS OF the
  * batch start (snapshot semantics — two identical new payloads in one
  * batch are both admitted), mirroring [[DedupIngest.decide]]. Payloads
  * under 64 bytes have no hash (the q174 floor): never near-dups,
  * always admitted, contribute nothing to the index.
  */
object MediaDedupIngest {

  /** Per-(band, value) candidate fan-out cap at probe time (lowest
    * doc_ids win — deterministic, replayed by the oracle's QUALIFY). */
  val MaxCell = 64

  /** Band rows of a media frame: (doc_id, bb, b0..b3) — one row per
    * (payload, band) with the full 64-bit hash alongside for the
    * verify; none under 64 bytes. */
  def bandRows(spark: SparkSession, media: DataFrame): DataFrame =
    MultimodalOps.perceptualHashBands(spark, media).toDF()
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("band", "v")))
      .select(col("doc_id"),
        concat(col("band").cast("string"), lit(":"),
          col("v").cast("string")).as("bb"),
        col("b0"), col("b1"), col("b2"), col("b3"))

  private def keyed(rows: DataFrame): DataFrame =
    rows.withColumn("k",
      concat(col("bb"), lit(":"), col("doc_id").cast("string")))

  /** Seed the index from an initial corpus (may be empty). */
  def seedIndex(store: BucketedTableStore, corpus: DataFrame,
      spark: SparkSession, ts: Timestamp): Unit =
    store.writeAll("pfp", keyed(bandRows(spark, corpus))
        .withColumn("syncTimestamp", lit(ts)),
      "k", bloomCols = Seq("bb"))

  /** Admit/reject ONE batch against the index as of now — pure read,
    * decisions materialized at call time (bounded: one row per doc;
    * same vacuum-race rationale as [[DedupIngest.decide]]). `bb` must
    * be [[bandRows]] of `batch` (passed in so the caller can persist it
    * across this and [[applyAdmissions]]). */
  def decide(store: BucketedTableStore, batch: DataFrame, bb: DataFrame,
      batchId: Long, maxHamming: Int = 10,
      // injectable for the same reason as SemanticDedupIngest.decide's:
      // the spec forces the ids-only branch and pins decision equality
      maxBroadcastNominees: Long = 1L << 18): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded driver set: distinct band-cell STRINGS of the batch
    // (≤ 4·|batch|, ≤ 4·65536 ever) — never index rows
    val probeCells = bb.select(col("bb")).distinct()
      .collect().map(_.getString(0)).toSeq
    val admPersisted = store.readWhereIn("pfp", "bb", probeCells)
      .filter(_.columns.contains("doc_id"))
      .map(_.persist(StorageLevel.MEMORY_AND_DISK))
    val hits = admPersisted match {
      case Some(adm) =>
        // per-cell cap BEFORE the candidate join (hot logo cells),
        // lowest doc_ids deterministic
        val capped = adm
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("bb")).orderBy(col("doc_id").asc)))
          .filter(col("rn") <= MaxCell)
        val hammingOf = (a: String, b: String, ax: String, bx: String,
            ay: String, by: String, az: String, bz: String) =>
          (bit_count(col(a).bitwiseXOR(col(b)))
            + bit_count(col(ax).bitwiseXOR(col(bx)))
            + bit_count(col(ay).bitwiseXOR(col(by)))
            + bit_count(col(az).bitwiseXOR(col(bz)))).cast("int")
        if (probeCells.size.toLong * MaxCell <= maxBroadcastNominees) {
          // the capped nominee side is ≤ |probeCells| × MaxCell rows —
          // a bound the DRIVER already knows (probeCells is collected)
          // — so broadcast it hashes-and-all and the pair join, both
          // hash join-backs, and the ids-only dedup drop out of the
          // plan (q160's round-15 shape; duplicate pairs from shared
          // bands re-verify, max() is dup-blind, decisions identical)
          val cappedH = capped.select(col("bb"), col("doc_id").as("a_id"),
            col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"),
            col("b3").as("a3"))
          bb.join(broadcast(cappedH), Seq("bb"))
            .withColumn("hamming", hammingOf("b0", "a0", "b1", "a1",
              "b2", "a2", "b3", "a3"))
            .groupBy(col("doc_id"))
            .agg(max((col("hamming") <= maxHamming).cast("int")).as("nd"))
        } else {
          // past the broadcast bound: ids-only dedupe through the
          // shuffle, hashes joined back once per side
          val pairIds = bb.select(col("doc_id"), col("bb"))
            .join(capped.select(col("bb"), col("doc_id").as("a_id")),
              Seq("bb"))
            .select(col("doc_id"), col("a_id")).distinct()
          val batchH = bb.select(col("doc_id"), col("b0"), col("b1"),
            col("b2"), col("b3")).dropDuplicates("doc_id")
          val admH = adm.select(col("doc_id").as("a_id"), col("b0").as("a0"),
            col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
            .dropDuplicates("a_id")
          pairIds.join(batchH, Seq("doc_id")).join(admH, Seq("a_id"))
            .withColumn("hamming", hammingOf("b0", "a0", "b1", "a1",
              "b2", "a2", "b3", "a3"))
            .groupBy(col("doc_id"))
            .agg(max((col("hamming") <= maxHamming).cast("int")).as("nd"))
        }
      case None => bb.select(col("doc_id")).limit(0).withColumn("nd", lit(0))
    }
    // ids from the BATCH source, deliberately NOT from the band rows:
    // an unhashable payload (< 64 bytes — no pHash, no band rows) still
    // gets its decision row (admitted; nothing proves it a dup), the
    // EVERY ROW COUNTS contract MediaDedupIngestSpec pins with doc 102
    try Materialize.thenRelease(
      batch.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), lit(batchId).cast("int").as("batch_id"),
          coalesce(col("nd"), lit(0)).as("near_dup"))
        .withColumn("admitted", (col("near_dup") === 0).cast("int")))
    finally admPersisted.foreach(_.unpersist(blocking = false))
  }

  /** Merge the admitted docs' band rows into the index (delta commit +
    * bounded auto-compaction; idempotent under re-application). */
  def applyAdmissions(store: BucketedTableStore, bb: DataFrame,
      decisions: DataFrame, ts: Timestamp): Unit =
    store.applyMerge("pfp",
      keyed(bb.join(decisions.filter(col("admitted") === 1)
          .select(col("doc_id")), Seq("doc_id"), "left_semi"))
        .withColumn("eventName", lit("INSERT")),
      "k", ts)

  /** This door under the shared [[IngestDoor]] contract — the probe
    * frame is [[bandRows]], decisions are
    * (doc_id, batch_id, near_dup, admitted). */
  def door(maxHamming: Int = 10): IngestDoor = new IngestDoor {
    import org.apache.spark.sql.types._
    val idCol = "doc_id"
    val indexTable = "pfp"
    val indexKey = "k"
    val decisionSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("batch_id", IntegerType),
      StructField("near_dup", IntegerType),
      StructField("admitted", IntegerType)))
    // parquet carries binary payloads natively, where newline-JSON would
    // need a base64 detour; sub-64-byte payloads flow through and are
    // always admitted (the q174 floor — no hash, no candidates)
    val arrivalSchema = new StructType().add("doc_id", LongType)
      .add("kind", StringType).add("media", BinaryType)
    val arrivalFormat = "parquet"
    val requiredCols = Seq("doc_id", "media")
    val queryName = "media-dedup-ingest"
    def probeFrame(spark: SparkSession, batch: DataFrame) =
      bandRows(spark, batch)
    def seedIndex(spark: SparkSession, store: BucketedTableStore,
        corpus: DataFrame, ts: Timestamp) =
      MediaDedupIngest.seedIndex(store, corpus, spark, ts)
    def decide(spark: SparkSession, store: BucketedTableStore,
        batch: DataFrame, probe: DataFrame, batchId: Long) =
      MediaDedupIngest.decide(store, batch, probe, batchId, maxHamming)
    def applyAdmissions(store: BucketedTableStore, probe: DataFrame,
        decisions: DataFrame, ts: Timestamp) =
      MediaDedupIngest.applyAdmissions(store, probe, decisions, ts)
  }
}
