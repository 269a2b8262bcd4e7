package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{TextOps, VectorOps}
import graft.tables.Tables

/** Corpus-curation operators: TF-IDF term scoring, text normalization,
  * and deterministic stratified sampling — the selection/cleaning passes a
  * training-data pipeline runs between dedup and tokenization. All three
  * stay integer-exact (or single-IEEE-op-from-exact-ints) so the DuckDB
  * oracle hash-matches.
  */
object CurationQueries {

  // q75 — TF-IDF top terms per document. idf is kept as the exact rational
  // N/df (score = tf·N/df as one multiply + one divide of exact integers —
  // both correctly-rounded IEEE ops, so identical on both engines; no log()
  // whose libm could differ). Top-3 terms per doc, ties broken by term.
  def q75TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // tf rows are distinct (doc, term) pairs
    val n = docs.count()
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df_, "term")
      .withColumn("score", (col("tf") * lit(n)).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id").asc, col("rank").asc)
  }
  val q75Oracle: String = """
    WITH d AS (SELECT * FROM documents WHERE doc_id < 200),
    terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM d),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      FROM scored)
    SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= 3
    ORDER BY doc_id ASC, rank ASC"""

  // q76 — normalization pipeline: lowercase → strip non-alphanumerics →
  // collapse runs of spaces → trim. The normalized-form hash is what a
  // normalize-then-exact-dedup pass groups on (a cheap near-dup catcher
  // before the MinHash tier).
  def q76Normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("norm", trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")))
      .select(col("doc_id"), length(col("norm")).as("norm_len"),
        md5(col("norm").cast("binary")).as("norm_hash"))
      .orderBy(col("doc_id").asc)
  val q76Oracle: String = """
    SELECT doc_id, length(norm) AS norm_len, md5(norm) AS norm_hash
    FROM (SELECT doc_id, trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
            ' +', ' ', 'g')) AS norm
          FROM documents)
    ORDER BY doc_id ASC"""

  // q77 — deterministic stratified sampling: per-language keep rates
  // applied via a multiplicative integer hash of doc_id (not rand() — the
  // sample is replayable, shardable, and oracle-checkable). The curation
  // move: downsample the dominant stratum, keep the tails.
  def q77StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(20)).otherwise(lit(80))
    Tables.documents(spark, dir)
      .withColumn("bucket", pmod(col("doc_id") * lit(2654435761L), lit(100L)))
      .withColumn("kept", (col("bucket") < rate).cast("int"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 1, col("n_chars")).otherwise(lit(0L))).as("kept_chars"))
      .orderBy(col("lang").asc)
  }
  val q77Oracle: String = """
    SELECT lang, COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM (SELECT lang, n_chars,
            CASE WHEN (doc_id * 2654435761) % 100 <
                      (CASE WHEN lang = 'en' THEN 20 ELSE 80 END)
                 THEN 1 ELSE 0 END AS kept
          FROM documents)
    GROUP BY lang ORDER BY lang ASC"""

  // q89 — the composed curation pipeline, end-to-end in one plan:
  // quality-filter (token count + type/token ratio) → prefix-hash dedup
  // (boilerplate/URL-style: md5 of the first 40 chars, keep min doc_id)
  // → deterministic stratified downsample (en at 50%) → per-source corpus
  // stats. Each stage is one narrow projection or one hash shuffle; the
  // whole pipeline is 3 shuffles (dedup agg, semi join, final agg) —
  // Catalyst fuses the filters into the scan. corpus_ttr divides two
  // exact integer sums once, so the oracle hash-matches.
  def q89CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps
    val toks = TextOps.tokens(col("text"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
    val quality = base.filter(col("n_tokens") >= 20 &&
      col("n_distinct").cast("double") / col("n_tokens").cast("double") >= 0.35)
    val keep = quality
      .groupBy(md5(substring(col("text"), 1, 40).cast("binary")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
    val deduped = quality.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val sampled = deduped.filter(
      pmod(col("doc_id") * lit(2654435761L), lit(100L)) <
        when(col("lang") === "en", lit(50)).otherwise(lit(100)))
    sampled.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_distinct")).cast("double") /
          sum(col("n_tokens")).cast("double")).as("corpus_ttr"))
      .orderBy(col("source").asc)
  }
  val q89Oracle: String = """
    WITH base AS (
      SELECT doc_id, lang, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      FROM documents),
    quality AS (
      SELECT * FROM base
      WHERE n_tokens >= 20
        AND CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.35),
    keep AS (
      SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(substr(text, 1, 40))),
    deduped AS (
      SELECT * FROM quality WHERE doc_id IN (SELECT doc_id FROM keep)),
    sampled AS (
      SELECT * FROM deduped
      WHERE (doc_id * 2654435761) % 100 <
            (CASE WHEN lang = 'en' THEN 50 ELSE 100 END))
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_distinct) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
             AS corpus_ttr
    FROM sampled GROUP BY source ORDER BY source ASC"""

  // q123 — keep-BEST dedup (canonical selection): q89's dedup keeps
  // min-doc_id arbitrarily; real curation keeps the best duplicate.
  // Groups share an md5 prefix key; the survivor is the longest document
  // (n_chars desc), tiebreak doc_id asc. One window over one hash
  // shuffle on the dup key — same physical shape as latest-per-key (q07),
  // different ranking. Survivor count == distinct dup keys by construction.
  def q123KeepBestDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("k"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(substring(col("text"), 1, 40).cast("binary")).as("k"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("doc_id").asc)
  }
  val q123Oracle: String = """
    SELECT doc_id, lang, source, n_chars, k FROM (
      SELECT doc_id, lang, source, n_chars,
             md5(substr(text, 1, 40)) AS k,
             row_number() OVER (PARTITION BY md5(substr(text, 1, 40))
               ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents)
    WHERE rn = 1 ORDER BY doc_id ASC"""

  // q124 — per-source caps: bound any one source's share of the corpus
  // (the anti-domination rule every pretraining mix applies). Keep the
  // top 40 docs per source by length (doc_id tiebreak); output the
  // capped corpus profile. The grouped top-k shape — at 100 TB the
  // TopKAgg aggregator or TopKPerKeyExec replace the window when k is
  // small relative to group size (both are in the library); the window
  // form is kept here because the oracle must rank identically.
  def q124SourceCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 40)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"),
        max(col("n_chars")).as("longest"))
      .orderBy(col("source").asc)
  }
  val q124Oracle: String = """
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           MAX(n_chars) AS longest
    FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents)
    WHERE rk <= 40
    GROUP BY source ORDER BY source ASC"""

  // q126 — repetition metrics (the Gopher/MassiveText quality rules):
  // fraction of duplicate word 2-grams and 3-grams per document, in exact
  // parts-per-thousand. High duplicate-n-gram mass marks boilerplate /
  // looping generations that length or stopword filters miss. One narrow
  // projection per doc (no shuffle until the final sort): total n-grams is
  // size(toks)-n+1; distinct count reuses the shingle kit. The repetitive
  // flag is the Gopher-style cutoff (>200‰ duplicate 2-grams).
  def q126RepetitionMetrics(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        greatest(size(toks).cast("long") - 1, lit(0L)).as("n_2grams"),
        greatest(size(toks).cast("long") - 2, lit(0L)).as("n_3grams"),
        size(TextOps.shingles(toks, 2)).cast("long").as("d2"),
        size(TextOps.shingles(toks, 3)).cast("long").as("d3"))
      .select(col("doc_id"), col("n_2grams"), col("n_3grams"),
        expr("CASE WHEN n_2grams > 0 THEN (n_2grams - d2) * 1000 DIV n_2grams ELSE 0L END")
          .as("dup2_ppt"),
        expr("CASE WHEN n_3grams > 0 THEN (n_3grams - d3) * 1000 DIV n_3grams ELSE 0L END")
          .as("dup3_ppt"))
      .withColumn("repetitive", (col("dup2_ppt") > 200).cast("int"))
      .orderBy(col("doc_id").asc)
  }
  val q126Oracle: String = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
        GREATEST(CAST(len(toks) AS BIGINT) - 1, 0) AS n_2grams,
        GREATEST(CAST(len(toks) AS BIGINT) - 2, 0) AS n_3grams,
        CAST(len(list_distinct([toks[i] || ' ' || toks[i+1]
          FOR i IN range(1, GREATEST(len(toks), 1))])) AS BIGINT) AS d2,
        CAST(len(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
          FOR i IN range(1, GREATEST(len(toks) - 1, 1))])) AS BIGINT) AS d3
      FROM t)
    SELECT doc_id, n_2grams, n_3grams,
      CASE WHEN n_2grams > 0 THEN (n_2grams - d2) * 1000 // n_2grams ELSE 0 END AS dup2_ppt,
      CASE WHEN n_3grams > 0 THEN (n_3grams - d3) * 1000 // n_3grams ELSE 0 END AS dup3_ppt,
      CAST(CASE WHEN n_2grams > 0 THEN (n_2grams - d2) * 1000 // n_2grams ELSE 0 END > 200 AS INT) AS repetitive
    FROM g ORDER BY doc_id ASC"""

  // q127 — benchmark-contamination screen: flag corpus documents sharing
  // any 4-token shingle with a probe set (here: docs 0-2 standing in for
  // an eval benchmark). The probe side is tiny by construction, so the
  // plan is explode-corpus-shingles → BROADCAST semi-join on the shingle
  // → per-doc hit count: the corpus is never shuffled, which is the
  // whole point at 100 TB (a benchmark is KBs; a shuffle would move TBs).
  def q127ContaminationScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    // explode(sequence)+element_at keeps shingling inside whole-stage
    // codegen (the array-HOF spelling is CodegenFallback in Spark 4 and
    // an order of magnitude slower). The corpus side is NOT pre-
    // deduplicated: the broadcast join filters first (≈everything drops),
    // and countDistinct shuffles only the surviving hits — at scale the
    // corpus never shuffles, only matches do.
    def sh(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 4)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 3)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until 4).map(o => element_at(col("t"), col("i") + o)): _*)
          .as("shingle"))
    val probe = sh(docs.filter(col("doc_id") < 3))
      .select(col("shingle")).distinct()
    sh(docs.filter(col("doc_id") >= 3))
      .join(broadcast(probe), Seq("shingle"), "inner")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_hits"))
      .orderBy(col("doc_id").asc)
  }
  val q127Oracle: String = """
    WITH sh AS (
      SELECT doc_id, list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
             FOR i IN range(1, GREATEST(len(toks) - 2, 1))]) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
    e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    probe AS (SELECT DISTINCT shingle FROM e WHERE doc_id < 3)
    SELECT e.doc_id, COUNT(*) AS n_hits
    FROM e JOIN probe USING (shingle)
    WHERE e.doc_id >= 3
    GROUP BY e.doc_id ORDER BY e.doc_id ASC"""

  // q128 — quantile-threshold curation: per-language interquartile length
  // bounds (exact interpolated quartiles over integer char counts), then
  // keep only documents inside [p25, p75] — the distribution-aware trim
  // pass that replaces hand-tuned global length cutoffs. The bounds table
  // is O(langs) and broadcast back; the corpus is scanned twice but never
  // shuffled (quartiles partial-aggregate per group; the filter is a
  // broadcast-join projection). Quartiles at binary-exact fractions make
  // the interpolation bit-identical on both engines.
  def q128QuantileTrim(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    docs.createOrReplaceTempView("q128_docs")
    val bounds = spark.sql("""
      SELECT lang,
        percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
        percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75,
        COUNT(*) AS n_docs
      FROM q128_docs GROUP BY lang""")
    docs.join(broadcast(bounds), "lang")
      .filter(col("n_chars").cast("double") >= col("p25") &&
        col("n_chars").cast("double") <= col("p75"))
      .groupBy(col("lang"), col("p25"), col("p75"), col("n_docs"))
      .agg(count(lit(1)).as("n_kept"))
      .select(col("lang"), col("p25"), col("p75"), col("n_docs"), col("n_kept"))
      .orderBy(col("lang").asc)
  }
  val q128Oracle: String = """
    WITH d AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
    b AS (SELECT lang,
            quantile_cont(n_chars, 0.25) AS p25,
            quantile_cont(n_chars, 0.75) AS p75,
            COUNT(*) AS n_docs
          FROM d GROUP BY lang)
    SELECT d.lang, b.p25, b.p75, b.n_docs, COUNT(*) AS n_kept
    FROM d JOIN b ON d.lang = b.lang
    WHERE CAST(d.n_chars AS DOUBLE) >= b.p25 AND CAST(d.n_chars AS DOUBLE) <= b.p75
    GROUP BY d.lang, b.p25, b.p75, b.n_docs
    ORDER BY d.lang ASC"""

  // q158 — DSIR-shaped data selection (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): score every pool
  // document by how much its hashed-bigram profile resembles a TARGET
  // distribution (here: the corpus's English slice), then keep the top
  // 100 by mean per-feature importance. The plan is exactly the 100 TB
  // shape DSIR exists for: bigrams hash into B=512 feature buckets, the
  // per-feature importance table is O(B) and BROADCAST, scoring is one
  // hash aggregation per doc, and selection is TakeOrderedAndProject —
  // the corpus is scanned, never shuffled (only agg partials move).
  // Deviation from the paper, deliberate and repo-convention-bound: the
  // per-feature weight is an integer MILLI-RATIO of add-one-smoothed
  // probabilities, (tcnt+1)(Np+B)·1000 div (pcnt+1)(Nt+B), not a
  // log-ratio — q75's rule ("no log() whose libm could differ") keeps
  // every weight integer-exact cross-engine; the per-doc mean is then a
  // single correctly-rounded IEEE divide of exact ints, so even the
  // DESC-sort on it is deterministic. Swap log-ratio weights in at
  // production scale — the plan is unchanged (the weight table stays B
  // rows, broadcast).
  def q158DsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelect(spark, dir, hintBroadcast = true)

  /** q158 body; `hintBroadcast = false` exists ONLY for ShuffleAuditSpec,
    * which measures what the plan would shuffle if the weight table were
    * not broadcast (the explicit hint survives autoBroadcastJoinThreshold
    * = -1, so the audit needs a hint-free twin). */
  private[graft] def dsirSelect(spark: SparkSession, dir: String,
      hintBroadcast: Boolean): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    val B = 512L
    val docs = Tables.documents(spark, dir)
    val feats = docs
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat_ws(" ",
          element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1))), 1, 12), 16, 10)
          .cast("long") % B).as("f"))
    // one aggregation yields pool AND target counts per feature; totals
    // re-aggregate the ≤B-row counts frame (NOT the corpus — the corpus
    // is scanned exactly twice: once for counts, once for scoring)
    val counts = feats.groupBy(col("f")).agg(
      count(lit(1)).as("pcnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
    val totals = counts.agg(
      sum(col("pcnt")).as("np"), sum(col("tcnt")).as("nt"))
    val weights = counts.crossJoin(bc(totals))
      .select(col("f"),
        expr(s"((tcnt + 1) * (np + $B) * 1000) div ((pcnt + 1) * (nt + $B))")
          .as("iw"))
    feats.join(bc(weights), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"), sum(col("iw")).as("iw_sum"))
      .withColumn("avg_iw",
        col("iw_sum").cast("double") / col("n_feat").cast("double"))
      .select(col("doc_id"), col("n_feat"), col("iw_sum"), col("avg_iw"))
      .orderBy(col("avg_iw").desc, col("doc_id").asc)
      .limit(100)
  }
  val q158Oracle: String = """
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    bg AS (SELECT doc_id, lang,
             unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS pair
           FROM t WHERE len(toks) >= 2),
    f AS (SELECT doc_id, lang,
            ('0x' || substr(md5(pair), 1, 12))::BIGINT % 512 AS f FROM bg),
    counts AS (SELECT f, COUNT(*) AS pcnt,
                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tcnt
               FROM f GROUP BY f),
    tot AS (SELECT COUNT(*) AS np,
              SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt FROM f),
    w AS (SELECT f, ((tcnt + 1) * (np + 512) * 1000) // ((pcnt + 1) * (nt + 512)) AS iw
          FROM counts CROSS JOIN tot),
    scored AS (SELECT doc_id, COUNT(*) AS n_feat, SUM(iw) AS iw_sum
               FROM f JOIN w USING (f) GROUP BY doc_id)
    SELECT doc_id, n_feat, CAST(iw_sum AS BIGINT) AS iw_sum,
           CAST(iw_sum AS DOUBLE) / CAST(n_feat AS DOUBLE) AS avg_iw
    FROM scored
    ORDER BY avg_iw DESC, doc_id ASC LIMIT 100"""

  // q176 — curated corpus build v2: the round-9 screens composed into one
  // per-document verdict — Gopher quality rules (q166) AND LM-perplexity
  // head/middle (q171, tail dropped) AND semantic decontamination (q175 —
  // eval-holdout docs excluded too: they ARE the benchmark) AND exact
  // dedup keep-first (q30). Each screen is the published operator reused
  // verbatim, so the composition's oracle is the screens' oracles joined —
  // and the plan is the union of their plans: broadcast term/centroid
  // tables, partial-agg shuffles, no new shuffle beyond the final joins
  // (all on doc_id, co-partitioned). Documents without an embedding pass
  // the semantic screen unscreened (mirrored in the oracle), exactly how
  // a production corpus treats rows the embedding run hasn't covered.
  def q176CuratedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gopher = TextOps.gopherRules(docs)
      .select(col("doc_id"), col("keep").as("gopher_ok"))
    val ppl = TextQueries.q171LmPerplexity(spark, dir)
      .select(col("doc_id"), (col("bucket") =!= "tail").cast("int").as("ppl_ok"))
    val emb = Tables.embeddings(spark, dir)
    val decon = VectorOps.semanticDecontaminate(
        emb.filter(col("vec_id") % 17 =!= 0),
        emb.filter(col("vec_id") % 17 === 0), threshold = 0.45)
      .select(col("vec_id").as("doc_id"), col("contaminated"))
    val holdout = emb.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("doc_id"), lit(1).as("holdout"))
    val dh = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val dd = dh.join(dh.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id")),
        Seq("h"))
      .select(col("doc_id"), (col("doc_id") === col("keep_id")).cast("int")
        .as("dedup_ok"))
    docs.select(col("doc_id"), col("source"))
      .join(gopher, Seq("doc_id"))
      .join(ppl, Seq("doc_id"))
      .join(decon, Seq("doc_id"), "left")
      .join(holdout, Seq("doc_id"), "left")
      .join(dd, Seq("doc_id"))
      .withColumn("decon_ok",
        (coalesce(col("contaminated"), lit(0)) === 0
          && coalesce(col("holdout"), lit(0)) === 0).cast("int"))
      .withColumn("keep",
        (col("gopher_ok") === 1 && col("ppl_ok") === 1
          && col("decon_ok") === 1 && col("dedup_ok") === 1).cast("int"))
      .select(col("doc_id"), col("source"), col("gopher_ok"), col("ppl_ok"),
        col("decon_ok"), col("dedup_ok"), col("keep"))
      .orderBy(col("doc_id").asc)
  }
  val q176Oracle: String = """
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t, length(text) AS len
      FROM documents),
    gb AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len - (len(t) - 1) AS BIGINT) AS sum_len,
             CAST(len(list_filter(t, x -> x IN
               ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT)
               AS stop_hits
      FROM toks),
    gtf AS (
      SELECT doc_id, MAX(c) AS top_freq FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok)
      GROUP BY doc_id),
    gopher AS (
      SELECT gb.doc_id,
        CAST(n_tokens >= 40 AND n_tokens <= 100000
          AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
          AND stop_hits >= 2 AND top_freq * 5 <= n_tokens AS INT) AS gopher_ok
      FROM gb JOIN gtf USING (doc_id)),
    train_tok AS (
      SELECT unnest(t) AS tok FROM toks WHERE lang = 'en'),
    nv AS (
      SELECT (SELECT COUNT(*) FROM train_tok) AS n,
             (SELECT COUNT(DISTINCT tok)
              FROM (SELECT unnest(t) AS tok FROM toks)) AS v),
    uni AS (SELECT tok, COUNT(*) AS c FROM train_tok GROUP BY tok),
    train_pairs AS (
      SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE lang = 'en' AND len(t) >= 2),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM train_pairs GROUP BY w1, w2),
    doc_pairs AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2),
    pair_terms AS (
      SELECT p.w1, p.w2,
        CAST(FLOOR(CASE WHEN b.c12 IS NOT NULL
          THEN LN(CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE))
          ELSE LN(0.4 * (CAST(COALESCE(u2.c, 0) + 1 AS DOUBLE)
                          / CAST(nv.n + nv.v AS DOUBLE)))
          END * 1000000.0) AS BIGINT) AS lp_micro
      FROM (SELECT DISTINCT w1, w2 FROM doc_pairs) p
      LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
      LEFT JOIN uni u1 ON u1.tok = p.w1
      LEFT JOIN uni u2 ON u2.tok = p.w2
      CROSS JOIN nv),
    first_terms AS (
      SELECT fk.w,
        CAST(FLOOR(LN(CAST(COALESCE(u.c, 0) + 1 AS DOUBLE)
                       / CAST(nv.n + nv.v AS DOUBLE))
          * 1000000.0) AS BIGINT) AS lp_first
      FROM (SELECT DISTINCT t[1] AS w FROM toks) fk
      LEFT JOIN uni u ON u.tok = fk.w
      CROSS JOIN nv),
    pair_score AS (
      SELECT doc_id, SUM(lp_micro) AS s_pairs
      FROM doc_pairs JOIN pair_terms USING (w1, w2) GROUP BY doc_id),
    lm_scored AS (
      SELECT fi.doc_id, fi.lang, CAST(len(fi.t) AS BIGINT) AS n_tokens,
             CAST(ft.lp_first + COALESCE(ps.s_pairs, 0) AS BIGINT)
               AS score_micro
      FROM toks fi
      JOIN first_terms ft ON ft.w = fi.t[1]
      LEFT JOIN pair_score ps ON ps.doc_id = fi.doc_id),
    ppl AS (
      SELECT doc_id,
        CASE NTILE(3) OVER (PARTITION BY lang
          ORDER BY CAST(score_micro AS DOUBLE) / n_tokens / 1000000.0 DESC,
                   doc_id ASC)
          WHEN 3 THEN 0 ELSE 1 END AS ppl_ok
      FROM lm_scored),
    e AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      FROM embeddings),
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
      GROUP BY cand.vec_id),
    decon AS (
      SELECT n.vec_id AS doc_id,
        CASE WHEN COALESCE(h.n_matches, 0) > 0 THEN 1 ELSE 0 END AS contaminated
      FROM n LEFT JOIN hits h ON h.vec_id = n.vec_id
      WHERE n.vec_id % 17 <> 0),
    holdout AS (
      SELECT vec_id AS doc_id, 1 AS ho FROM embeddings WHERE vec_id % 17 = 0),
    dh AS (SELECT doc_id, md5(text) AS h FROM documents),
    dk AS (SELECT h, MIN(doc_id) AS keep_id FROM dh GROUP BY h),
    dd AS (
      SELECT dh.doc_id, CAST(dh.doc_id = dk.keep_id AS INT) AS dedup_ok
      FROM dh JOIN dk USING (h))
    SELECT d.doc_id, d.source, g.gopher_ok, p.ppl_ok,
      CAST(COALESCE(dc.contaminated, 0) = 0 AND COALESCE(ho.ho, 0) = 0 AS INT)
        AS decon_ok,
      dd.dedup_ok,
      CAST(g.gopher_ok = 1 AND p.ppl_ok = 1
        AND COALESCE(dc.contaminated, 0) = 0 AND COALESCE(ho.ho, 0) = 0
        AND dd.dedup_ok = 1 AS INT) AS keep
    FROM documents d
    JOIN gopher g ON g.doc_id = d.doc_id
    JOIN ppl p ON p.doc_id = d.doc_id
    LEFT JOIN decon dc ON dc.doc_id = d.doc_id
    LEFT JOIN holdout ho ON ho.doc_id = d.doc_id
    JOIN dd ON dd.doc_id = d.doc_id
    ORDER BY d.doc_id ASC"""

  // q177 — frozen-gate quality ingest (train-once / gate-forever): the
  // corpus slice doc_id % 4 ≤ 1 FREEZES the quality gate — bigram-LM
  // counts, Laplace constants, per-language perplexity cutoffs (q171's
  // tail boundary) — and batches 2, 3 are gated against that frozen
  // artifact: Gopher rules ∧ frozen-LM score ≥ the language's cutoff
  // (languages the corpus never judged pass unjudged). This is the
  // STATELESS ingest-terminal shape next to q150/q165's stateful ones:
  // the gate never mutates state, so its streaming form
  // (QualityGateStream.run, spec-proven replay-inert) needs only a
  // batchId-guarded sink, no WAL. The same freeze()/gate() pair runs
  // here in batch, so the oracle checks the exact code the stream runs.
  def q177QualityGateIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.QualityGateStream
    val docs = Tables.documents(spark, dir)
    // frozen-gate artifact memoized per dataset version (train-once /
    // gate-forever — see q224's note)
    val g = graft.operators.IndexMemo(graft.operators.IndexMemo.Key(
        "qualgate", dir, Seq("corpus=mod4le1", "cut=1"), session = false)) {
      QualityGateStream.freeze(spark,
        docs.filter(pmod(col("doc_id"), lit(4)) <= 1))
    }
    Seq(2, 3).map { r =>
      QualityGateStream.gate(spark, g,
          docs.filter(pmod(col("doc_id"), lit(4)) === r))
        .withColumn("batch_id", lit(r - 1))
    }.reduce(_ unionByName _)
      .select(col("doc_id"), col("lang"), col("batch_id"),
        col("gopher_ok"), col("lm_ok"), col("keep"))
      .orderBy(col("doc_id").asc)
  }
  val q177Oracle: String = """
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t, length(text) AS len
      FROM documents),
    corp AS (SELECT * FROM toks WHERE doc_id % 4 <= 1),
    train_tok AS (SELECT unnest(t) AS tok FROM corp WHERE lang = 'en'),
    nv AS (
      SELECT (SELECT COUNT(*) FROM train_tok) AS n,
             (SELECT COUNT(DISTINCT tok)
              FROM (SELECT unnest(t) AS tok FROM corp)) AS v),
    uni AS (SELECT tok, COUNT(*) AS c FROM train_tok GROUP BY tok),
    big AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM (
        SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM corp WHERE lang = 'en' AND len(t) >= 2)
      GROUP BY w1, w2),
    doc_pairs AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2),
    pair_terms AS (
      SELECT p.w1, p.w2,
        CAST(FLOOR(CASE WHEN b.c12 IS NOT NULL
          THEN LN(CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE))
          ELSE LN(0.4 * (CAST(COALESCE(u2.c, 0) + 1 AS DOUBLE)
                          / CAST(nv.n + nv.v AS DOUBLE)))
          END * 1000000.0) AS BIGINT) AS lp_micro
      FROM (SELECT DISTINCT w1, w2 FROM doc_pairs) p
      LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
      LEFT JOIN uni u1 ON u1.tok = p.w1
      LEFT JOIN uni u2 ON u2.tok = p.w2
      CROSS JOIN nv),
    first_terms AS (
      SELECT fk.w,
        CAST(FLOOR(LN(CAST(COALESCE(u.c, 0) + 1 AS DOUBLE)
                       / CAST(nv.n + nv.v AS DOUBLE))
          * 1000000.0) AS BIGINT) AS lp_first
      FROM (SELECT DISTINCT t[1] AS w FROM toks) fk
      LEFT JOIN uni u ON u.tok = fk.w
      CROSS JOIN nv),
    pair_score AS (
      SELECT doc_id, SUM(lp_micro) AS s_pairs
      FROM doc_pairs JOIN pair_terms USING (w1, w2) GROUP BY doc_id),
    scored AS (
      SELECT fi.doc_id, fi.lang, CAST(len(fi.t) AS BIGINT) AS n_tokens,
             CAST(CAST(ft.lp_first + COALESCE(ps.s_pairs, 0) AS BIGINT)
               AS DOUBLE) / CAST(len(fi.t) AS BIGINT) / 1000000.0
               AS avg_logprob
      FROM toks fi
      JOIN first_terms ft ON ft.w = fi.t[1]
      LEFT JOIN pair_score ps ON ps.doc_id = fi.doc_id),
    cut AS (
      SELECT lang, MIN(avg_logprob) AS theta FROM (
        SELECT doc_id, lang, avg_logprob,
          NTILE(3) OVER (PARTITION BY lang
            ORDER BY avg_logprob DESC, doc_id ASC) AS tert
        FROM scored WHERE doc_id % 4 <= 1)
      WHERE tert <= 2 GROUP BY lang),
    gb AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len - (len(t) - 1) AS BIGINT) AS sum_len,
             CAST(len(list_filter(t, x -> x IN
               ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT)
               AS stop_hits
      FROM toks),
    gtf AS (
      SELECT doc_id, MAX(c) AS top_freq FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok)
      GROUP BY doc_id),
    gopher AS (
      SELECT gb.doc_id,
        CAST(n_tokens >= 40 AND n_tokens <= 100000
          AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
          AND stop_hits >= 2 AND top_freq * 5 <= n_tokens AS INT) AS gopher_ok
      FROM gb JOIN gtf USING (doc_id))
    SELECT s.doc_id, s.lang, CAST(s.doc_id % 4 - 1 AS INT) AS batch_id,
      g.gopher_ok,
      CASE WHEN c.theta IS NULL OR s.avg_logprob >= c.theta
        THEN 1 ELSE 0 END AS lm_ok,
      CAST(g.gopher_ok = 1
        AND (c.theta IS NULL OR s.avg_logprob >= c.theta) AS INT) AS keep
    FROM scored s
    JOIN gopher g ON g.doc_id = s.doc_id
    LEFT JOIN cut c ON c.lang = s.lang
    WHERE s.doc_id % 4 >= 2
    ORDER BY s.doc_id ASC"""

  // q178 — deterministic epoch reshuffle: training-order randomization
  // as a PURE FUNCTION of (epoch, doc_id) — shard_e = md5(e:doc) % S,
  // within-shard order = the md5 value itself — so at 100 TB no
  // permutation is ever materialized or shipped: any worker recomputes
  // its epoch-e membership from the key alone (one hash sort per epoch,
  // no central shuffle service, reproducible across reruns/engines).
  // The query emits the epoch-0 × epoch-1 assignment matrix: S×S cells
  // whose near-uniform counts ARE the decorrelation evidence (a doc's
  // epoch-1 shard is independent of its epoch-0 shard), checked exactly
  // by the oracle. One groupBy of S² partials — the corpus never sorts
  // here; the per-epoch sort is the dataloader's scan order.
  def q178EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    def shard(epoch: Int) =
      (conv(substring(md5(concat(lit(s"$epoch:"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long") % 8L).as(s"shard_e$epoch")
    Tables.documents(spark, dir)
      .select(col("doc_id"), shard(0), shard(1))
      .groupBy(col("shard_e0"), col("shard_e1"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("shard_e0").asc, col("shard_e1").asc)
  }
  val q178Oracle: String = """
    SELECT shard_e0, shard_e1, COUNT(*) AS n_docs FROM (
      SELECT doc_id,
        ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
          AS shard_e0,
        ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
          AS shard_e1
      FROM documents)
    GROUP BY shard_e0, shard_e1 ORDER BY shard_e0 ASC, shard_e1 ASC"""

  // q188 — mixture entropy / diversity card: per-source token share and
  // each source's Shannon-entropy contribution — the scalar behind "is
  // this corpus one crawl wearing four hats?" that q181's per-source
  // volumes don't summarize, and the quantity domain-mixture tuning
  // (DoReMi-style reweighting) optimizes against. Exactness follows
  // q171's micro-nat protocol: the share is an integer permille of exact
  // token counts, and the entropy term p·ln(1/p) quantizes ONCE to
  // floor(·1e6) over bit-identical count-derived doubles (the ln is the
  // only libm call) — so per-source rows hash-match and the corpus
  // entropy is the exact integer sum of the column. Scale shape: one
  // token-count scan, a |sources|-row agg, and a window over those
  // |sources| rows — nothing else.
  def q188MixtureEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.documents(spark, dir)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("total_tokens", sum(col("n_tokens")).over(w))
      .withColumn("share_permille",
        expr("(n_tokens * 1000) DIV total_tokens"))
      .withColumn("h_micronats", floor(
        (col("n_tokens").cast("double") / col("total_tokens").cast("double"))
          * log(col("total_tokens").cast("double") / col("n_tokens").cast("double"))
          * lit(1000000.0)).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("total_tokens"), col("share_permille"), col("h_micronats"))
      .orderBy(col("source").asc)
  }
  val q188Oracle: String = """
    WITH t AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    s AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM t GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM s)
    SELECT source, n_docs, n_tokens, total_tokens,
           (n_tokens * 1000) // total_tokens AS share_permille,
           CAST(floor((CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
             * ln(CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * 1000000.0) AS BIGINT) AS h_micronats
    FROM s CROSS JOIN tot ORDER BY source ASC"""

  // q190 — tokenizer fertility per language: tokens, characters, and
  // UTF-8 bytes per language with integer chars/bytes-per-100-tokens
  // ratios — the read a multilingual tokenizer budget is set against
  // (a language whose bytes-per-token is 2× pays 2× the context window
  // for the same text; fertility skews mixture decisions q77/q133 make
  // on doc counts alone). All-integer (ratios via ×100 DIV), one narrow
  // projection + per-language agg — no shuffle wider than |languages|.
  def q190TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"), sum(col("n_bytes")).as("n_bytes"))
      .withColumn("chars_per_100_tokens",
        expr("(n_chars * 100) DIV n_tokens"))
      .withColumn("bytes_per_100_tokens",
        expr("(n_bytes * 100) DIV n_tokens"))
      .orderBy(col("lang").asc)
  val q190Oracle: String = """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
           (CAST(SUM(n_chars) AS BIGINT) * 100)
             // CAST(SUM(n_tok) AS BIGINT) AS chars_per_100_tokens,
           (CAST(SUM(n_bytes) AS BIGINT) * 100)
             // CAST(SUM(n_tok) AS BIGINT) AS bytes_per_100_tokens
    FROM (SELECT lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
            CAST(length(text) AS BIGINT) AS n_chars,
            CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
          FROM documents)
    GROUP BY lang ORDER BY lang ASC"""

  // q194 — character-entropy junk screen: per-doc Shannon entropy over
  // the character distribution, in exact micro-nats — the curation
  // screen that catches what length/stopword/LM screens miss: base64
  // blobs and binary-in-text read HIGH (≈ ln 64 ≈ 4.16e6 µnats/char),
  // single-char/repetition spam reads LOW (→ 0), natural English sits
  // ≈ 2.8–3.2e6. Exactness is q171's protocol: each distinct (doc, char)
  // term (c/n)·ln(n/c) quantizes ONCE to floor(·1e6) over bit-identical
  // count-derived doubles, so the per-doc sum is an exact BIGINT in any
  // order. Scale shape: the char explode is scan-proportional and
  // narrow; both aggs partial-aggregate and co-partition on doc_id
  // (per-doc alphabet ≤ charset, so the (doc, char) shuffle is bounded
  // by docs × charset, not corpus bytes).
  def q194EntropyScreen(spark: SparkSession, dir: String): DataFrame = {
    val chars = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 1)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")))).as("i"))
      .select(col("doc_id"), expr("substring(text, i, 1)").as("ch"))
    val counts = chars.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    counts.join(totals, Seq("doc_id"))
      .withColumn("term", floor(
        (col("c").cast("double") / col("n").cast("double"))
          * log(col("n").cast("double") / col("c").cast("double"))
          * lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_chars"), max(col("k")).as("n_distinct_chars"),
        sum(col("term")).as("entropy_micronats"))
      .withColumn("is_low_entropy",
        (col("entropy_micronats") < 1500000L).cast("int"))
      .withColumn("is_high_entropy",
        (col("entropy_micronats") > 4000000L).cast("int"))
      .orderBy(col("doc_id").asc)
  }
  val q194Oracle: String = """
    WITH ch AS (
      SELECT doc_id, substring(text, i, 1) AS ch
      FROM (SELECT doc_id, text,
              unnest(generate_series(1, length(text))) AS i
            FROM documents WHERE length(text) >= 1)),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                   COUNT(*) AS k
            FROM cnt GROUP BY 1),
    e AS (
      SELECT cnt.doc_id, MAX(n) AS n_chars, MAX(k) AS n_distinct_chars,
        CAST(SUM(CAST(floor(
          (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
            * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
            * 1000000.0) AS BIGINT)) AS BIGINT) AS entropy_micronats
      FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id GROUP BY 1)
    SELECT doc_id, n_chars, CAST(n_distinct_chars AS BIGINT)
             AS n_distinct_chars, entropy_micronats,
           CASE WHEN entropy_micronats < 1500000 THEN 1 ELSE 0 END
             AS is_low_entropy,
           CASE WHEN entropy_micronats > 4000000 THEN 1 ELSE 0 END
             AS is_high_entropy
    FROM e ORDER BY doc_id ASC"""

  // q181 — corpus data card (datasheets-for-datasets): the per-source
  // governance report a training-data release ships — doc/token volumes,
  // language mix, Gopher-quality keep counts, and exact-dup membership
  // (docs whose content hash repeats ANYWHERE in the corpus, attributed
  // to their source). Everything integer-exact except avg_tokens, one
  // correctly-rounded divide of exact ints. Shape: one token-count map
  // over the scan, the md5 dup-membership join co-partitioned on the
  // hash, one per-source aggregation — three narrow shuffles total,
  // nothing corpus-squared, nothing driver-side.
  def q181DataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), col("source"), col("lang"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
      md5(col("text")).as("h"))
    val dupH = toks.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"), lit(1).as("is_dup"))
    val gopher = TextOps.gopherRules(docs).select(col("doc_id"), col("keep"))
    toks.join(dupH, Seq("h"), "left")
      .join(gopher, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum((col("lang") === "en").cast("long")).as("en_docs"),
        sum(col("keep").cast("long")).as("gopher_keep"),
        sum(coalesce(col("is_dup"), lit(0)).cast("long")).as("dup_docs"))
      .withColumn("avg_tokens", col("n_tokens").cast("double") / col("n_docs"))
      .orderBy(col("source").asc)
  }
  val q181Oracle: String = """
    WITH toks AS (
      SELECT doc_id, source, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             md5(text) AS h,
             string_split(text, ' ') AS t, length(text) AS len
      FROM documents),
    duph AS (
      SELECT h, 1 AS is_dup FROM toks GROUP BY h HAVING COUNT(*) > 1),
    gb AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len - (len(t) - 1) AS BIGINT) AS sum_len,
             CAST(len(list_filter(t, x -> x IN
               ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT)
               AS stop_hits
      FROM toks),
    gtf AS (
      SELECT doc_id, MAX(c) AS top_freq FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok)
      GROUP BY doc_id),
    gopher AS (
      SELECT gb.doc_id,
        CAST(n_tokens >= 40 AND n_tokens <= 100000
          AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
          AND stop_hits >= 2 AND top_freq * 5 <= n_tokens AS INT) AS keep
      FROM gb JOIN gtf USING (doc_id))
    SELECT t.source,
           COUNT(*) AS n_docs,
           CAST(SUM(t.n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT t.lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN t.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS en_docs,
           CAST(SUM(g.keep) AS BIGINT) AS gopher_keep,
           CAST(SUM(COALESCE(d.is_dup, 0)) AS BIGINT) AS dup_docs,
           CAST(SUM(t.n_toks) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM toks t
    JOIN gopher g ON g.doc_id = t.doc_id
    LEFT JOIN duph d ON d.h = t.h
    GROUP BY t.source ORDER BY t.source ASC"""

  // q231 — taxonomy keyword tagging: label every document with the topics
  // whose dictionary terms (uni- AND bigram phrases) it contains, in ONE
  // corpus pass. The scale discipline: per-doc candidate terms are
  // derived with per-row ARRAY ops (tokens + adjacent-bigram transform —
  // no shuffle, no window), then a single broadcast join against the
  // topic dictionary tags them; K regex/LIKE passes over 100 TB (the
  // naive spelling, and the oracle's — fine at oracle scale) would scan
  // the corpus K times and never fold into one codegen stage. Output is
  // the per-topic reach card: documents reached, total term hits, and
  // distinct terms that fired.
  def q231KeywordTag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dict = taxonomy.toDF("topic", "term")
    val docs = Tables.documents(spark, dir)
    // candidate grams via sequence+element_at (codegen'd — the array-HOF
    // spelling is CodegenFallback, q135's note): position i yields the
    // unigram t[i] and, below the last position, the bigram "t[i] t[i+1]"
    val cand = docs
      .withColumn("t", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")))).as("i"))
      .select(col("doc_id"),
        explode(when(col("i") < size(col("t")),
          array(element_at(col("t"), col("i")),
            concat_ws(" ", element_at(col("t"), col("i")),
              element_at(col("t"), col("i") + 1))))
          .otherwise(array(element_at(col("t"), col("i"))))).as("term"))
    // two-stage: collapse to (topic, term, doc) BEFORE the distinct
    // aggregates so the Expand runs over the tagged frame (≤ docs×dict
    // rows), not the raw gram stream
    cand.join(broadcast(dict), Seq("term"))
      .groupBy(col("topic"), col("term"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("topic"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("c")).as("n_hits"),
        countDistinct(col("term")).as("n_terms_fired"))
      .orderBy(col("topic").asc)
  }
  /** Topic → dictionary terms (unigrams and bigram phrases over the
    * synthetic corpus vocabulary). Broadcast-sized by construction — a
    * production taxonomy is 10³–10⁵ terms, still driver-trivial. */
  private val taxonomy: Seq[(String, String)] = Seq(
    "execution" -> "scan", "execution" -> "filter", "execution" -> "sort",
    "execution" -> "merge", "execution" -> "hash join",
    "execution" -> "table scan",
    "storage" -> "table", "storage" -> "row", "storage" -> "column",
    "storage" -> "part",
    "streaming" -> "stream", "streaming" -> "batch", "streaming" -> "window",
    "perf" -> "fast", "perf" -> "slow", "perf" -> "big table")
  val q231Oracle: String = {
    val dictSql = taxonomy
      .map { case (t, k) => s"('$t', '$k')" }.mkString(", ")
    s"""
    WITH dict(topic, term) AS (VALUES $dictSql),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_concat(t,
        CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1),
          i -> t[i] || ' ' || t[i + 1]) ELSE [] END)) AS term
      FROM toks)
    SELECT topic,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_hits,
           COUNT(DISTINCT term) AS n_terms_fired
    FROM grams JOIN dict USING (term)
    GROUP BY topic ORDER BY topic ASC"""
  }

  // q243 — deterministic augmentation with provenance: token-dropout
  // copies (the cheap text-augmentation a contrastive/denoising trainer
  // consumes — each source doc yields aug_id ∈ {1, 2} variants, every
  // token kept iff the 60-bit md5(doc|aug|pos) integer clears the
  // keep threshold 7/8·2^60, i.e. a deterministic 12.5% dropout) plus
  // the accounting a pipeline must ship with synthetic data: tokens
  // in/out per copy and the md5 content hash of the augmented text (the
  // provenance row linking derived data back to its source — q157's
  // manifest discipline applied to generated content).
  //
  // Fully deterministic cross-engine: the dropout decision is an integer
  // compare per (doc, aug, position) — Spark's 0-based filter() lambda
  // index is shifted to DuckDB's 1-based list_filter convention — and
  // the content hash is md5 of the space-rejoined survivors.
  //
  // Scale shape: a PURE MAP — order-preserving array HOFs on the token
  // array, no explode, no shuffle before the gate's final ordering; the
  // corpus streams through once and each row's cost is its own token
  // count. The per-token md5 inside the HOF is CodegenFallback — at
  // 100 TB the lever is the same one the minhash kernels took (a native
  // codegen Expression in functions/HashExpressions); the plan shape
  // (map-only) is already the scale shape.
  def q243Augmentation(spark: SparkSession, dir: String): DataFrame = {
    val KeepThr = 1008806316530991104L // 7/8 · 2^60 exactly
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .withColumn("aug_id", explode(array(lit(1), lit(2))))
      .withColumn("kept", filter(col("t"), (_, i) =>
        conv(substring(md5(concat(
          col("doc_id").cast("string"), lit("|"),
          col("aug_id").cast("string"), lit("|"),
          (i + 1).cast("string"))), 1, 15), 16, 10).cast("long") < KeepThr))
      .select(col("doc_id"), col("aug_id"),
        size(col("t")).cast("long").as("n_in"),
        size(col("kept")).cast("long").as("n_out"),
        md5(array_join(col("kept"), " ")).as("aug_hash"))
      .orderBy(col("doc_id").asc, col("aug_id").asc)
  }
  val q243Oracle: String = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    a AS (SELECT doc_id, t, unnest([1, 2]) AS aug_id FROM d),
    k AS (
      SELECT doc_id, aug_id, t,
        list_filter(t, (x, i) ->
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
                              CAST(aug_id AS VARCHAR) || '|' ||
                              CAST(i AS VARCHAR)), 1, 15))::BIGINT
            < 1008806316530991104) AS kept
      FROM a)
    SELECT doc_id, aug_id,
           CAST(len(t) AS BIGINT) AS n_in,
           CAST(len(kept) AS BIGINT) AS n_out,
           md5(array_to_string(kept, ' ')) AS aug_hash
    FROM k
    ORDER BY doc_id ASC, aug_id ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q243_augmentation" -> (q243Augmentation _),
    "q231_keyword_tag" -> (q231KeywordTag _),
    "q181_data_card" -> (q181DataCard _),
    "q178_epoch_shuffle" -> (q178EpochShuffle _),
    "q177_quality_gate_ingest" -> (q177QualityGateIngest _),
    "q176_curated_corpus" -> (q176CuratedCorpus _),
    "q158_dsir_select" -> (q158DsirSelect _),
    "q128_quantile_trim" -> (q128QuantileTrim _),
    "q126_repetition_metrics" -> (q126RepetitionMetrics _),
    "q127_contamination_screen" -> (q127ContaminationScreen _),
    "q123_keep_best_dedup" -> (q123KeepBestDedup _),
    "q124_source_cap" -> (q124SourceCap _),
    "q75_tfidf" -> (q75TfIdf _),
    "q76_normalize" -> (q76Normalize _),
    "q77_stratified_sample" -> (q77StratifiedSample _),
    "q188_mixture_entropy" -> (q188MixtureEntropy _),
    "q190_tokenizer_fertility" -> (q190TokenizerFertility _),
    "q194_entropy_screen" -> (q194EntropyScreen _),
    "q89_curation_pipeline" -> (q89CurationPipeline _))

  val oracles: Map[String, String] = Map(
    "q243_augmentation" -> q243Oracle,
    "q231_keyword_tag" -> q231Oracle,
    "q181_data_card" -> q181Oracle,
    "q178_epoch_shuffle" -> q178Oracle,
    "q177_quality_gate_ingest" -> q177Oracle,
    "q176_curated_corpus" -> q176Oracle,
    "q158_dsir_select" -> q158Oracle,
    "q128_quantile_trim" -> q128Oracle,
    "q126_repetition_metrics" -> q126Oracle,
    "q127_contamination_screen" -> q127Oracle,
    "q123_keep_best_dedup" -> q123Oracle,
    "q124_source_cap" -> q124Oracle,
    "q75_tfidf" -> q75Oracle,
    "q76_normalize" -> q76Oracle,
    "q77_stratified_sample" -> q77Oracle,
    "q188_mixture_entropy" -> q188Oracle,
    "q190_tokenizer_fertility" -> q190Oracle,
    "q194_entropy_screen" -> q194Oracle,
    "q89_curation_pipeline" -> q89Oracle)
}
