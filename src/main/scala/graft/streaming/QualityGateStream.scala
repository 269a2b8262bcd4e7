package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Train-once / gate-forever streaming quality screen — the third ingest
  * terminal shape next to the text and span doors under IngestDoorStream
  * (stateful index, WAL): a batch pass FREEZES a
  * bounded model from the standing corpus (bigram-LM counts ≤ vocab²,
  * per-language perplexity cutoffs, Laplace constants), and every
  * arriving batch is gated against that frozen artifact with Gopher
  * rules plus the frozen LM score.
  *
  * STATELESS by design, and that is the point of the contrast: the gate
  * never mutates state, so — unlike the dedup/span terminals — replay
  * safety needs no write-ahead decision log. Identical input produces
  * identical verdicts by construction (the micro-nat integer protocol of
  * the LM screen), and the batchId-guarded sink alone makes re-delivered
  * batches inert.
  *
  * Scale shape: the frozen artifact is BOUNDED (vocab² pair counts +
  * one cutoff per language), collected once and rebuilt as broadcast
  * tables per batch — each micro-batch is one explode + broadcast join +
  * per-doc partial agg, no shuffle wider than the batch, no standing
  * state to compact or vacuum. At 100 TB the freeze pass is one corpus
  * scan; the gate then prices per-batch, never per-corpus.
  */
object QualityGateStream {

  /** The frozen artifact: everything the gate needs, as plain bounded
    * data (safe to serialize, broadcast, or persist next to a model).
    * `n`/`v` are the Laplace constants (train token count, frozen vocab);
    * `cutoffs` maps each language seen in the corpus to the minimum mean
    * log-probability of its head∪middle tertiles — the q171 tail
    * boundary. Languages absent from the corpus have no cutoff and pass
    * the LM screen unjudged. */
  final case class FrozenGate(
      uni: Map[String, Long],
      big: Map[(String, String), Long],
      n: Long, v: Long,
      cutoffs: Map[String, Double])

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("t"))

  private def pairsOf(df: DataFrame): DataFrame = df
    .withColumn("a", slice(col("t"), lit(1), size(col("t")) - 1))
    .withColumn("b", slice(col("t"), lit(2), size(col("t")) - 1))
    .select(col("doc_id"), explode(arrays_zip(col("a"), col("b"))).as("p"))
    .select(col("doc_id"), col("p.a").as("w1"), col("p.b").as("w2"))

  /** Score `docs` with the frozen LM — the same micro-nat integer
    * protocol as the corpus-wide q171 pass (each distinct pair's
    * log-prob quantized once to floor(ln·1e6), per-doc sums exact
    * BIGINTs, the mean two fixed-order divides), with the counts coming
    * from the FROZEN maps instead of the scored corpus. Returns
    * (doc_id, lang, n_tokens, avg_logprob). */
  def score(spark: SparkSession, gate: FrozenGate, docs: DataFrame): DataFrame = {
    val t = toks(docs)
    val uniDf = spark.createDataFrame(
      if (gate.uni.isEmpty) Seq(("", -1L)) else gate.uni.toSeq)
      .toDF("tok", "c").filter(col("c") >= 0)
    val bigDf = spark.createDataFrame(
      if (gate.big.isEmpty) Seq(("", "", -1L))
      else gate.big.toSeq.map { case ((a, b), c) => (a, b, c) })
      .toDF("w1", "w2", "c12").filter(col("c12") >= 0)
    val docPairs = pairsOf(t)
    val pairTerms = docPairs.select(col("w1"), col("w2")).distinct()
      .join(bigDf, Seq("w1", "w2"), "left")
      .join(uniDf.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"), "left")
      .join(uniDf.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"), "left")
      .withColumn("lp_micro", floor(
        when(col("c12").isNotNull,
          log(col("c12").cast("double") / col("c1").cast("double")))
          .otherwise(log(lit(0.4) *
            ((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")
              / lit((gate.n + gate.v).toDouble))))
          * lit(1000000.0)).cast("long"))
      .select(col("w1"), col("w2"), col("lp_micro"))
    val firstTerms = t.select(col("t").getItem(0).as("w")).distinct()
      .join(uniDf.select(col("tok").as("w"), col("c")), Seq("w"), "left")
      .withColumn("lp_first", floor(
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")
          / lit((gate.n + gate.v).toDouble)) * lit(1000000.0)).cast("long"))
      .select(col("w"), col("lp_first"))
    val pairScore = docPairs.join(broadcast(pairTerms), Seq("w1", "w2"))
      .groupBy(col("doc_id")).agg(sum(col("lp_micro")).as("s_pairs"))
    t.select(col("doc_id"), col("lang"),
        size(col("t")).cast("long").as("n_tokens"), col("t").getItem(0).as("w"))
      .join(broadcast(firstTerms), Seq("w"))
      .join(pairScore, Seq("doc_id"), "left")
      .withColumn("score_micro",
        col("lp_first") + coalesce(col("s_pairs"), lit(0L)))
      .withColumn("avg_logprob",
        col("score_micro").cast("double") / col("n_tokens") / lit(1000000.0))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_logprob"))
  }

  /** One corpus scan → the frozen artifact. Collections are BOUNDED:
    * unigram rows by the vocabulary, bigram rows by vocab² (guarded —
    * a natural-language vocabulary would move the model to a frequency-
    * pruned count table, same shape), cutoffs by the language set. */
  /** `withCutoffs = false` skips the per-language tail-boundary pass (a
    * full corpus re-score) for callers that only need the frozen COUNTS
    * — e.g. q224's calibration, which builds its own deciles. */
  def freeze(spark: SparkSession, corpus: DataFrame,
      maxModelRows: Int = 1 << 20, withCutoffs: Boolean = true): FrozenGate = {
    import org.apache.spark.sql.expressions.Window
    val t = toks(corpus)
    val train = t.filter(col("lang") === "en")
    val trainTok = train.select(explode(col("t")).as("tok"))
    val uniDf = trainTok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val bigDf = pairsOf(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    // bound the collect STRUCTURALLY: limit(max+1) caps what can ever
    // reach the driver (the blow-up guard), and the length check after
    // it enforces the budget — one job per table instead of the earlier
    // count()-then-collect() double computation of both aggregations.
    // NOTE: limit() on an un-ordered aggregate collects an ARBITRARY
    // subset when the table exceeds the cap, so the rows are meaningful
    // only when the require passes — which is why each table fails fast
    // BEFORE the next one is computed (and the driver never holds more
    // than one over-budget subset at a time)
    val uniRows = uniDf.limit(maxModelRows + 1).collect()
    require(uniRows.length <= maxModelRows,
      s"frozen LM unigram table alone would hold > $maxModelRows rows — " +
        "prune counts first")
    val bigRows = bigDf.limit(maxModelRows + 1).collect()
    require(uniRows.length + bigRows.length <= maxModelRows,
      s"frozen LM would hold > $maxModelRows rows — prune counts first")
    val uni = uniRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val big = bigRows
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = uni.values.sum
    val v = t.select(explode(col("t")).as("tok")).agg(countDistinct(col("tok")))
      .first().getLong(0)
    val gate0 = FrozenGate(uni, big, n, v, Map.empty)
    if (!withCutoffs) return gate0
    // tail boundary per language: min mean log-prob of the head∪middle
    // tertiles over the corpus's own scores (exactly q171's bucketing)
    val cutoffs = score(spark, gate0, corpus)
      .withColumn("tert", ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("avg_logprob").desc, col("doc_id").asc)))
      .filter(col("tert") <= 2)
      .groupBy(col("lang")).agg(min(col("avg_logprob")).as("theta"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    gate0.copy(cutoffs = cutoffs)
  }

  /** Gate one batch: Gopher rules ∧ frozen-LM cutoff. Languages without
    * a frozen cutoff pass the LM screen (`lm_ok` = 1) — the gate judges
    * only what it was trained to judge. */
  def gate(spark: SparkSession, g: FrozenGate, batch: DataFrame): DataFrame = {
    val cutoffDf = spark.createDataFrame(
      if (g.cutoffs.isEmpty) Seq(("", 0.0)) else g.cutoffs.toSeq)
      .toDF("lang", "theta")
      .filter(if (g.cutoffs.isEmpty) col("lang") =!= "" else lit(true))
    val gopher = TextOps.gopherRules(batch)
      .select(col("doc_id"), col("keep").as("gopher_ok"))
    score(spark, g, batch)
      .join(broadcast(cutoffDf), Seq("lang"), "left")
      .withColumn("lm_ok",
        (col("theta").isNull || col("avg_logprob") >= col("theta")).cast("int"))
      .join(gopher, Seq("doc_id"))
      .withColumn("keep",
        (col("gopher_ok") === 1 && col("lm_ok") === 1).cast("int"))
      .select(col("doc_id"), col("lang"), col("gopher_ok"), col("lm_ok"),
        col("keep"))
  }

  /** Drive a document stream through the frozen gate. Verdicts land
    * under `sinkDir/batch=<id>/`, written to a dot-prefixed staging dir
    * (invisible to `batch=*` readers) and ATOMICALLY renamed into place
    * — the rename IS the commit mark, so a crash mid-write leaves no
    * half batch behind the guard and the re-delivered batch id rewrites
    * it cleanly; a rename that landed makes the re-delivery a no-op.
    * That is the ENTIRE replay contract a stateless gate needs
    * (contrast the WAL machinery the stateful ingest terminals carry).
    *
    * Two contracts mirrored from the stateful terminals:
    *   - ROTATE-TOGETHER: the batchId-guarded sink is keyed by the
    *     checkpoint's batchIds, so a fresh checkpoint next to a stale
    *     sink (batchIds restart at 0, `batch=0` already exists) would
    *     silently skip writing verdicts for NEW data — refused up front,
    *     same direction WalGuards.requireRotatedTogether refuses for the
    *     WAL streams.
    *   - EVERY ROW GETS A VERDICT: rows the schema'd reader could not
    *     fill (null doc_id/text/lang) would be dropped by score()'s
    *     inner joins and vanish without a verdict; they are split out
    *     up front and emitted with keep=0 instead, matching the
    *     explicit null contract of IngestDoorStream.
    *
    * Returns the started query; callers await termination. */
  def run(spark: SparkSession, g: FrozenGate, stream: DataFrame,
      sinkDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    MonitorSink.start(stream, sinkDir, "verdicts", trigger) {
      (batch, batchId) =>
        val unfillable = col("doc_id").isNull || col("text").isNull ||
          col("lang").isNull
        val rejectedUnfillable = batch.filter(unfillable)
          .select(col("doc_id"), col("lang"), lit(0).as("gopher_ok"),
            lit(0).as("lm_ok"), lit(0).as("keep"))
        gate(spark, g, batch.filter(!unfillable))
          .unionByName(rejectedUnfillable)
          .withColumn("batch_id", lit(batchId))
    }
  }
}
