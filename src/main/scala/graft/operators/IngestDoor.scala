package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.sync.BucketedTableStore

/** The at-the-door ingest protocol the four dedup doors share —
  * [[DedupIngest]] (text exact+MinHash), [[SpanIngest]] (token spans),
  * [[SemanticDedupIngest]] (embeddings), [[MediaDedupIngest]] (payload
  * bytes). Until round 13 the four implemented the sequential contract
  * by CONVENTION only, which is exactly how one of them (q160) shipped
  * without the hot-cell cap the newest one (q227) had: drift. This trait
  * makes the contract code:
  *
  *   - SEED: the persisted index table exists before the first probe
  *     (possibly from an EMPTY corpus — the store stages an
  *     empty-but-schemaed bucket so cold starts read back fine);
  *   - per batch, in order, ONE [[step]]: derive the probe frame ONCE
  *     (persisted — it feeds both the decision and the index update),
  *     DECIDE against the index as of the batch start (pure read,
  *     decisions materialized and lineage-free, snapshot semantics
  *     within the batch), APPLY the admissions as an O(batch) delta
  *     commit; rejected rows leave no trace;
  *   - batch k's decisions therefore see every admission from batches
  *     1..k-1, and the standing corpus is never rescanned.
  *
  * Every caller of a door runs [[step]]: [[ingestAll]], the amortized
  * [[ingestAllAmortized]], q229's retention run, and
  * [[graft.streaming.IngestDoorStream]], which passes the step its
  * write-ahead decision log as the `log` hook. A door also describes
  * its own arrivals (schema, reader format, required columns, query
  * name), so the stream needs nothing else to read them. The
  * IngestDoorProtocolSpec suite runs every door through the shared
  * contract cases (sequential growth, rejected-no-trace, snapshot
  * semantics, empty seed, batch ≡ stream).
  */
trait IngestDoor {

  /** Id column of arriving rows ("doc_id" / "vec_id"). */
  def idCol: String

  /** The door's index table name in its [[BucketedTableStore]]. */
  def indexTable: String

  /** The index table's key column. */
  def indexKey: String

  /** Full decision schema: (idCol, batch_id, …flags…, admitted). */
  def decisionSchema: StructType

  /** Schema of an arriving row, as the door's stream reads it. */
  def arrivalSchema: StructType

  /** Reader format of the door's stream source: "json" or "parquet". */
  def arrivalFormat: String

  /** Columns an arriving row must carry to be screened: its id and its
    * payload. The stream drops a row missing one before the step — a
    * null id would emit a meaningless decision row and a null payload
    * an unprobeable index entry. */
  def requiredCols: Seq[String]

  /** Query name of the door's stream. */
  def queryName: String

  /** The derived frame a batch probes with AND (filtered to admissions)
    * merges into the index — computed once per batch and persisted
    * across both uses by [[step]]. */
  def probeFrame(spark: SparkSession, batch: DataFrame): DataFrame

  /** Create the index table from the initial corpus (may be empty). */
  def seedIndex(spark: SparkSession, store: BucketedTableStore,
      corpus: DataFrame, ts: Timestamp): Unit

  /** Admit/reject ONE batch against the index as of now — pure read,
    * decisions MATERIALIZED (lineage-free) per [[Materialize]]'s
    * vacuum-race contract, one row per batch id, `admitted` ∈ {0,1}. */
  def decide(spark: SparkSession, store: BucketedTableStore,
      batch: DataFrame, probe: DataFrame, batchId: Long): DataFrame

  /** Delta-merge the ADMITTED rows' probe entries into the index —
    * O(batch), idempotent under re-application (the stream wrapper's
    * crash-replay leans on this). */
  def applyAdmissions(store: BucketedTableStore, probe: DataFrame,
      decisions: DataFrame, ts: Timestamp): Unit

  /** Dedup-horizon maintenance: drop every index entry committed before
    * `cutoff`, so content older than the retention window stops guarding
    * the door (re-crawled pages re-admit after the horizon — the bounded
    * dedup window production pipelines run, and the lever that keeps an
    * unbounded ingest's index from growing forever). An EXPLICIT
    * maintenance pass, priced like compaction: one O(index) scan, then
    * bucket-local tombstone deltas for the expired keys only (O(expired)
    * commit — untouched buckets never rewrite). A key re-admitted after
    * its retirement gets a fresh commit stamp (newest-wins), so the
    * horizon is measured from the LAST admission, not the first.
    *
    * The scan term is inherent to the hash-by-key layout (timestamps
    * spread uniformly over buckets, so no zone map prunes them). If a
    * 100 TB deployment retires often enough for that scan to dominate,
    * the layout lever is GENERATIONAL index tables — one store table
    * per coarse commit window, retire = drop whole generations as
    * metadata, probes fan over the live generations — trading probe
    * fan-out for O(1) retirement; this verb keeps the single-table
    * layout because probing stays single-lookup and retirement is
    * occasional by construction (a horizon is months, not batches).
    * Returns the number of retired entries; `ts` stamps the tombstones. */
  final def retireBefore(store: BucketedTableStore, cutoff: Timestamp,
      ts: Timestamp): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    store.readBuckets(indexTable, None) match {
      case Some(idx) if idx.columns.contains("syncTimestamp") =>
        val old = idx.filter(col("syncTimestamp") < lit(cutoff))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = old.count()
          if (n > 0) store.applyMerge(indexTable,
            old.withColumn("eventName", lit("REMOVE")), indexKey, ts)
          n
        } finally old.unpersist(blocking = false)
      case _ => 0L
    }
  }

  /** Schema-correct empty decisions frame (seed-only runs, empty unions). */
  final def emptyDecisions(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], decisionSchema)

  /** The one per-batch step every door loop runs: derive the probe
    * once (persisted for the batch's scope), decide, apply, and return
    * the decisions. `log` receives the decide leg NOT YET EVALUATED and
    * returns the decisions apply uses — the identity by default; the
    * stream passes its write-ahead decision log, which skips decide for
    * a batch it already logged. Each leg's jobs carry the job tag
    * `door.derive`, `door.decide` or `door.apply`, which is how
    * [[graft.Profile]] prices the legs. */
  final def step(spark: SparkSession, store: BucketedTableStore,
      batch: DataFrame, batchId: Long, ts: Timestamp,
      log: (=> DataFrame) => DataFrame = d => d): DataFrame = {
    def leg[T](tag: String)(body: => T): T = {
      spark.sparkContext.addJobTag(tag)
      try body finally spark.sparkContext.removeJobTag(tag)
    }
    // the cache is hash-partitioned on idCol, the key apply's admissions
    // semi-join uses. Measured (per-leg job counts, sf0.1,
    // BENCHMARKS.md "One door step"): without it the embedding and media
    // doors run one job more per apply (q160 3 → 4, q227 6 → 7) and q227
    // one more per decide; the text doors' job counts do not change
    val probe = leg("door.derive")(probeFrame(spark, batch)
      .repartition(org.apache.spark.sql.functions.col(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK))
    try {
      // decide() freezes its decisions at call time, so the index merge
      // below (and any compaction/vacuum it triggers) cannot perturb or
      // invalidate them
      val dec = leg("door.decide")(log(decide(spark, store, batch, probe, batchId)))
      leg("door.apply")(applyAdmissions(store, probe, dec, ts))
      dec
    } finally probe.unpersist()
  }

  /** The shared sequential loop: seed the index from `corpus`, then
    * ingest `batches` in order; one decision row per batch id,
    * unordered. `t0` stamps the index commits (deterministic clock — a
    * replayable run must not read the wall clock); it never influences
    * decisions. */
  final def ingestAll(spark: SparkSession, root: String, corpus: DataFrame,
      batches: Seq[DataFrame], nBuckets: Int,
      t0: Long = 1660000000000L): DataFrame = {
    val store = IngestDoor.store(spark, root, nBuckets)
    seedIndex(spark, store, corpus, new Timestamp(t0))
    runBatches(spark, store, batches, t0)
  }

  /** The per-batch half of [[ingestAll]]: batch i (from 1) is [[step]]
    * `i`, stamped `t0 + i`·60 s. Seeding with no batches yet is legal
    * and returns an empty (schema-correct) decisions frame. */
  private def runBatches(spark: SparkSession, store: BucketedTableStore,
      batches: Seq[DataFrame], t0: Long): DataFrame =
    batches.zipWithIndex.map { case (batch, i) =>
      step(spark, store, batch, i + 1L, new Timestamp(t0 + (i + 1) * 60000L))
    }.reduceOption(_.unionByName(_)).getOrElse(emptyDecisions(spark))

  /** A fresh, private working store whose state IS the seeded index —
    * the seed leg amortized as standing index state (r17 verdict ask #6;
    * the same convention every other index build here follows: a
    * deployment builds its standing dedup index from the corpus ONCE and
    * amortizes it over every screening run, so re-seeding per run prices
    * the door as perpetual cold start). The seeded MASTER store is an
    * [[IndexMemo.tree]] built once per (door table, dataset version) —
    * into the [[AnnIndexStore]] disk tier when configured (cross-JVM),
    * else a temp dir the memo deletes once a dataset rewrite evicts it —
    * and NEVER mutated; each call gets a fresh driver-side FILE COPY, so
    * runs stay bit-identical to a cold [[ingestAll]] (the protocol spec
    * pins that) and mutations (admissions, retirement) stay private to
    * the run. Copy cost is O(index bytes) of local IO — at deployment
    * scale the working copy is a cheap store-layer snapshot/clone; here
    * it prices far below the seed jobs it replaces. Seed wall-time is
    * recorded by the memo and lands in the bench's ann_build section.
    * Callers seeding DIFFERENT corpora from one dataset dir into the
    * same door table must pass distinct `seedTag`s. */
  final def seededWorkingCopy(spark: SparkSession, dirKey: String,
      corpus: DataFrame, nBuckets: Int, t0: Long = 1660000000000L,
      seedTag: String = ""): String = {
    import java.nio.file.{Files, Paths}
    val params = s"n=$nBuckets" +: (if (seedTag.isEmpty) Nil else Seq(s"tag=$seedTag"))
    val master = IndexMemo.tree(
        IndexMemo.Key(s"doorseed-$indexTable", dirKey, params, session = false)) {
      path => seedIndex(spark, IngestDoor.store(spark, path, nBuckets), corpus,
        new Timestamp(t0))
    }
    val work = Files.createTempDirectory("graft-door")
    graft.sync.LocalFs.copyRecursively(Paths.get(master), work)
    work.toString
  }

  /** [[ingestAll]] with the seed leg amortized through
    * [[seededWorkingCopy]]: identical decisions, steady-state cost. */
  final def ingestAllAmortized(spark: SparkSession, dirKey: String,
      corpus: DataFrame, batches: Seq[DataFrame], nBuckets: Int,
      t0: Long = 1660000000000L, seedTag: String = ""): DataFrame = {
    val work = seededWorkingCopy(spark, dirKey, corpus, nBuckets, t0, seedTag)
    try runBatches(spark, IngestDoor.store(spark, work, nBuckets), batches, t0)
    finally graft.sync.LocalFs.deleteRecursively(
      java.nio.file.Paths.get(work))
  }
}

object IngestDoor {

  /** A door's index store: merge-on-read deltas, compacted after 4 —
    * the one cadence every door caller (batch, amortized, stream,
    * profile) runs. */
  private[graft] def store(spark: SparkSession, root: String,
      nBuckets: Int): BucketedTableStore =
    new BucketedTableStore(spark, root, nBuckets, deltaMerges = true,
      autoCompactAfter = 4)
}
