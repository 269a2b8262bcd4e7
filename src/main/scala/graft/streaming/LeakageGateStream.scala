package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sync.BucketedTableStore

/** Streaming cross-split leakage gate — q207's audit turned into an
  * ingest terminal (the round-11 verdict's "streaming twin" ask), and a
  * fifth terminal shape next to DedupIngestStream / SpanIngestStream
  * (stateful index + WAL), QualityGateStream (frozen driver-side maps)
  * and VocabDriftStream (frozen plain table): here the frozen artifact is
  * a PERSISTED, BUCKETED shingle index of the holdout split (val∪test
  * under the engine's deterministic md5 split, StatsQueries.splitOf) —
  * too big to collect (≈25% of the corpus's shingles), never mutated by
  * batches (holdout membership is frozen by design — the q219 invariant),
  * and probed bucket-pruned like the stateful ingest indexes. Every
  * arriving TRAIN-destined batch is screened: a batch doc whose df-capped
  * 3-gram shingle set has Jaccard ≥ 1/2 against ANY holdout doc is
  * quarantined before it can leak an eval set into the training mix —
  * q219's split repair applied at the door instead of after the fact.
  *
  * Protocol (integer-exact end to end, replayed by the q225 oracle):
  *   - freeze: holdout docs → distinct 3-gram shingles (xxhash64 rides
  *     the engine; the oracle compares shingle STRINGS — only equality
  *     matters, the q33 collision argument); shingles with holdout-df
  *     > 64 leave permanently (the boilerplate cap); each surviving row
  *     carries its doc's surviving count n_h.
  *   - gate: batch docs → distinct shingles; shingles with WITHIN-BATCH
  *     df > 64 leave (the batch-side cap — both join fan-outs bounded);
  *     probe the index (the equi-join on sh is the filter — see
  *     [[indexed]] for why bucket pre-pruning paid an action for
  *     nothing); per (batch doc, holdout doc) intersection i; leak ⟺ 3·i ≥ n_h + n_t — exactly
  *     Jaccard ≥ 1/2 over the capped sets, no doubles anywhere.
  *   The caps deliberately differ from q207's POOLED df-64: a stream
  *   cannot know future batches' dfs, so each side caps against what it
  *   can see — the frozen index resp. the batch at hand.
  *
  * STATELESS like QualityGateStream: the index never changes, so replay
  * safety needs only the batchId-guarded sink (staging dir + atomic
  * rename = the commit mark; a re-delivered batch id is a no-op).
  * Mirrored contracts: ROTATE-TOGETHER (a fresh checkpoint next to a
  * sink that already holds batch=* verdicts is refused up front) and
  * EVERY ROW GETS A VERDICT (rows the reader could not fill are
  * quarantined with n_sh = 0, never silently dropped — a null-text doc
  * cannot be PROVEN non-leaking, so the gate stays conservative).
  *
  * Scale shape: freeze is one holdout pass (shingle agg + broadcast hot
  * anti + count join) into the bucketed store; per batch one shingle
  * explode, one batch-bounded hot-set broadcast anti, one equi-join of
  * the index scan against the batch shingles — broadcast
  * ONLY while the measured probe row count stays under
  * [[MaxBroadcastShingleRows]] (a micro-batch always does; a
  * corpus-proportional replay batch like q225's half-train split takes
  * a shuffle join instead of an unbounded driver broadcast) — and a
  * per-doc rollup. Only intersection rows, df-capped on both sides,
  * enter the per-pair agg; nothing is proportional to the standing
  * corpus except the freeze itself.
  *
  * Verdict policy, identical on BOTH entry paths (stream terminal and
  * batch [[gate]]): a row the gate cannot even shingle (null doc_id or
  * text) cannot be PROVEN non-leaking → quarantined with n_sh = 0; a
  * well-formed doc whose shingle set is EMPTY (< 3 tokens) is admitted
  * by design — two tokens cannot carry an eval document, and the q225
  * oracle replays exactly that.
  */
object LeakageGateStream {

  /** Per-side hot-shingle document-frequency cap (see protocol note). */
  val MaxDf = 64

  /** Probe-side broadcast bound: the batch shingle frame broadcasts
    * only when its measured row count is at or under this (~16 MB of
    * (sh, doc_id) longs) — the enforcement behind the scale claim, not
    * a comment. Larger batches shuffle-join against the pruned index. */
  val MaxBroadcastShingleRows = 1L << 20
  private val IndexTable = "hsh"

  /** Returns (capped, raw): `capped` is the distinct df-capped shingle
    * rows of `docs` — (doc_id, sh) with the hot set (df > MaxDf over
    * THESE docs) removed via broadcast anti, the hot set being ≤
    * distinct-shingles/MaxDf rows by construction; `raw` is the
    * PERSISTED exploded shingle frame both consumers read (the hot-df
    * aggregation and the anti-join's probe side), persisted so the
    * tokenize+shingle explode runs once per gate call, not twice. The
    * caller materializes and releases `raw` alongside the capped result
    * (both frames are O(batch shingles)). */
  private def cappedShingles(docs: DataFrame): (DataFrame, DataFrame) = {
    val raw = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = raw.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxDf).select(col("sh"))
    (raw.join(broadcast(hot), Seq("sh"), "left_anti"), raw)
  }

  /** One corpus pass → the frozen index table (sh, holdout_id, n_h),
    * bucketed on the shingle hash (write-once via writeAll and never
    * merged, so the store's latest-per-key delta resolution — which
    * would collapse the ≤64 rows sharing a shingle — never runs; `sh`
    * is purely the ROUTING key). The holdout split is derived inside so
    * the stream and the q225 batch replay share one split definition.
    * Returns the index row count — the driver sees ONE long, never a
    * shingle. */
  def freeze(spark: SparkSession, corpus: DataFrame,
      store: BucketedTableStore, ts: Timestamp): Long = {
    val holdout = corpus.filter(
      graft.queries.StatsQueries.splitOf(col("doc_id")) =!= "train")
    val (sh0, raw) = cappedShingles(holdout)
    // the capped frame ALSO has two consumers here (per-doc counts +
    // the index rows) — persist it, then release both explode caches
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_h"))
      store.writeAll(IndexTable,
        sh.join(counts, Seq("doc_id"))
          .select(col("sh"), col("doc_id").as("holdout_id"), col("n_h"))
          .withColumn("syncTimestamp", lit(ts)),
        "sh")
      store.readBuckets(IndexTable, None).map(_.count()).getOrElse(0L)
    } finally {
      sh.unpersist(blocking = false)
      raw.unpersist(blocking = false)
      ()
    }
  }

  /** Memoized frozen index for a DATASET directory: frozen once per
    * dataset version and reused across calls — the deployment shape (the
    * holdout is frozen by design; rebuilding it per query call mispriced
    * q225 as freeze+gate when a live pipeline pays gate only). Build
    * wall-time is recorded by the memo and surfaces in the bench's
    * ann_build section, the same amortized-index accounting as the ANN
    * tiers. The store is an [[graft.operators.IndexMemo.tree]]: it lives
    * under its versioned [[graft.operators.AnnIndexStore]] entry when the
    * disk tier is configured (a fresh JVM reuses it instead of
    * re-freezing), else in a fresh private temp directory that the memo
    * deletes once a dataset rewrite evicts it. */
  def frozenStore(spark: SparkSession, dir: String, corpus: DataFrame)
      : BucketedTableStore = {
    val root = graft.operators.IndexMemo.tree(
        graft.operators.IndexMemo.Key("leakfreeze", dir, Nil, session = false)) {
      path => freeze(spark, corpus, new BucketedTableStore(spark, path, 16),
        new Timestamp(1660000000000L)); ()
    }
    new BucketedTableStore(spark, root, 16)
  }

  /** Index rows for the probe join. No touched-bucket pre-collect
    * (round 15, the ingest doors' rationale): a batch's shingle hashes
    * land in all 16 store buckets long before the batch is big enough
    * to matter, so the former distinct-collect was one Spark action per
    * batch that pruned nothing — the equi-join against the probe
    * shingles is the real filter either way. */
  private def indexed(spark: SparkSession, store: BucketedTableStore)
      : DataFrame = {
    store.readBuckets(IndexTable, None) match {
      case Some(idx) if idx.columns.contains("sh") =>
        idx.select(col("sh"), col("holdout_id"), col("n_h"))
      case _ =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("sh", LongType),
            StructField("holdout_id", LongType),
            StructField("n_h", LongType))))
    }
  }

  /** Gate one batch against the frozen index: one verdict row per batch
    * doc — (doc_id, n_sh, n_leaks, admit). Unfillable rows (null
    * doc_id/text) are quarantined here, so the batch path and the
    * stream terminal hand out identical verdicts for the same row (the
    * conservative-quarantine policy in the object scaladoc). */
  def gate(spark: SparkSession, store: BucketedTableStore,
      batch: DataFrame): DataFrame = {
    val unfillable = col("doc_id").isNull || col("text").isNull
    val quarantined = batch.filter(unfillable)
      .select(col("doc_id"), lit(0L).as("n_sh"),
        lit(0L).as("n_leaks"), lit(0).as("admit"))
    val (out, sh, raw) = gateFrames(spark, store, batch.filter(!unfillable))
    graft.operators.Materialize.thenRelease(
      out.unionByName(quarantined), sh, raw)
  }

  /** Pre-materialize verdict frame + its persisted shingle intermediate —
    * split out so PlanSpec can pin the probe-join plan (the public gate
    * returns a localCheckpoint scan, which hides it). */
  private[graft] def gateFrames(spark: SparkSession, store: BucketedTableStore,
      batch: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // three consumers (per-doc counts, probe set, intersection join)
    val (sh0, raw) = cappedShingles(batch)
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val idx = indexed(spark, store)
    // size-gated hint: count the PERSISTED probe frame (materialized
    // here anyway) and broadcast only under the documented bound — a
    // corpus-proportional batch must never become a driver broadcast
    val probe = if (sh.count() <= MaxBroadcastShingleRows) broadcast(sh) else sh
    val inter = idx.join(probe, Seq("sh"))
      .groupBy(col("doc_id"), col("holdout_id"), col("n_h"))
      .agg(count(lit(1)).as("i"))
    val leaks = inter.join(nt, Seq("doc_id"))
      .filter(col("i") * lit(3L) >= col("n_h") + col("n_sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaks"))
    val out = batch.select(col("doc_id"))
      .join(nt, Seq("doc_id"), "left")
      .join(leaks, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_leaks"), lit(0L)).as("n_leaks"))
      .withColumn("admit", (col("n_leaks") === 0).cast("int"))
    (out, sh, raw)
  }

  /** Drive a train-destined document stream through the frozen gate.
    * Verdicts land under `sinkDir/batch=<id>/` via the staging-dir +
    * atomic-rename commit protocol (see QualityGateStream.run — same
    * crash story). Returns the started query; callers await. */
  def run(spark: SparkSession, store: BucketedTableStore, stream: DataFrame,
      sinkDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    MonitorSink.start(stream, sinkDir, "verdicts", trigger) {
      (batch, batchId) =>
        // gate() itself quarantines unfillable rows — one policy,
        // both entry paths
        gate(spark, store, batch)
          .withColumn("batch_id", lit(batchId))
    }
  }
}
