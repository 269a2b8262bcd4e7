package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.{DedupIngest, TextOps}
import graft.tables.Tables

/** Training-data text operators as driver-checkable queries over the
  * `documents` table: exact/near dedup, token stats, quality scoring,
  * fingerprinting. Oracle-expressible ones ship DuckDB SQL; hash-kernel
  * ones (simhash, winnowing) are rows-only with ScalaTest coverage.
  */
object TextQueries {

  // q30 — exact dedup by content hash (md5 exists on both engines).
  def q30DedupExact(spark: SparkSession, dir: String): DataFrame =
    TextOps.exactDupGroups(Tables.documents(spark, dir))
      .orderBy(col("content_hash").asc)
  val q30Oracle: String = """
    SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1 ORDER BY content_hash ASC"""

  // q31 — per-document quality metrics (token counts, ratios).
  def q31TextQuality(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityMetrics(Tables.documents(spark, dir))
      .orderBy(col("doc_id").asc)
  val q31Oracle: String =
    TextOps.qualityMetricsOracle + "\n    ORDER BY doc_id ASC"

  // q32 — corpus profile by language label: the group-by a curation
  // pipeline runs before sampling decisions.
  def q32LangProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang").asc)
  val q32Oracle: String = """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT source) AS n_sources,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang ORDER BY lang ASC"""

  // q33 — exact word-3-gram Jaccard pairs (integer-exact: inter, |A|, |B|),
  // over the df-capped shingle set (df ≤ 64): hot boilerplate shingles are
  // dropped BEFORE the self-join so per-shingle fan-out is bounded at any
  // corpus size. The oracle applies the identical cap via QUALIFY.
  def q33NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextOps.ngramJaccardPairs(Tables.documents(spark, dir), n = 3,
        minIntersect = 2, maxDf = 64)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  val q33Oracle: String = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    sh AS (
      SELECT doc_id, shingle FROM sh0
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 64),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT doc_a, doc_b, inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
           CAST(inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE) AS jaccard
    FROM inter
      JOIN counts ca ON ca.doc_id = doc_a
      JOIN counts cb ON cb.doc_id = doc_b
    ORDER BY doc_a ASC, doc_b ASC"""

  // q196 — heavy-hitter tokens via mergeable Misra-Gries + exact verify:
  // the 100 TB answer to "most frequent tokens/grams" — a full
  // groupBy(token) shuffles the ENTIRE vocabulary (trillions of distinct
  // grams in a web corpus); the MG summary (HeavyHittersAgg) ships ≤ k
  // counters per map task up the partial/merge tree, and the ≤ k
  // candidates are then verified with EXACT counts in one
  // broadcast-semi-join scan. The candidate SET can vary with merge
  // order, but the MG guarantee (no item with freq > N/(k+1) is ever
  // lost) cannot — so the verified output, candidates with exact
  // count·(k+1) > N, is DETERMINISTIC and hash-checks against the exact
  // oracle. At most k items can clear the threshold by counting, so the
  // driver collect and the verify join are both ≤ k rows.
  def q196HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val toks = Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hh = udaf(new graft.functions.HeavyHittersAgg(k))
    // one aggregation pass yields BOTH the MG candidates and the exact
    // token total (was two actions over the cached frame)
    val hr = toks.agg(hh(col("tok")).as("c"), count(lit(1)).as("n")).first()
    val cands = hr.getSeq[String](0) // bounded: ≤ k strings
    val total = hr.getLong(1)
    val candDf = spark.createDataFrame(cands.map(Tuple1(_))).toDF("tok")
    val out = toks.join(broadcast(candDf), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit((k + 1).toLong) > lit(total))
      .withColumn("share_permille",
        expr(s"(cnt * 1000) DIV CAST($total AS BIGINT)"))
      .orderBy(col("cnt").desc, col("tok").asc)
    graft.operators.Materialize.thenRelease(out, toks)
  }
  val q196Oracle: String = """
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    n AS (SELECT COUNT(*) AS total FROM t),
    c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok)
    SELECT tok, cnt, (cnt * 1000) // total AS share_permille
    FROM c CROSS JOIN n
    WHERE cnt * 65 > total
    ORDER BY cnt DESC, tok ASC"""

  // q191 — winnowing fingerprint sketch (Schleimer et al. 2003, the MOSS
  // algorithm — see TextOps.winnowingSelect for the guarantee): per-doc
  // selected-fingerprint counts and density. Density should sit near the
  // paper's 2/(w+1) expectation (w=4 → ~400‰) on random text and FALL on
  // self-repetitive text (repeated grams collapse to repeated keys whose
  // min the window keeps re-selecting) — so the density column itself is
  // a cheap repetition signal. Integer-exact: counts and a permille DIV.
  def q191WinnowingSketch(spark: SparkSession, dir: String): DataFrame =
    TextOps.winnowingSelect(Tables.documents(spark, dir), n = 3, w = 4)
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_selected"))
      .withColumn("density_permille",
        expr("(n_selected * 1000) DIV n_grams"))
      .orderBy(col("doc_id").asc)
  private def winnowingSelOracle: String = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             md5(array_to_string(t[i:i+2], ' ')) AS fp,
             CAST(len(t) - 2 AS BIGINT) AS n_grams
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3)),
    k AS (
      SELECT doc_id, n_grams, pos,
             fp || ':' || lpad(CAST(pos AS VARCHAR), 10, '0') AS key
      FROM occ),
    selw AS (
      SELECT doc_id, n_grams, pos,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos ASC
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel_key
      FROM k),
    sel AS (
      SELECT DISTINCT doc_id, n_grams, sel_key FROM selw
      WHERE pos <= greatest(n_grams - 4, 0))"""
  val q191Oracle: String = s"""
    WITH $winnowingSelOracle
    SELECT doc_id, n_grams, COUNT(*) AS n_selected,
           (COUNT(*) * 1000) // n_grams AS density_permille
    FROM sel GROUP BY doc_id, n_grams ORDER BY doc_id ASC"""

  // q192 — winnowing match pairs: documents ranked by how many SELECTED
  // fingerprints they share — the MOSS similarity report, and the
  // winnowing column of the dedup matrix (content-hash q30 / minhash q34
  // / simhash q37 / exact-substr q161 / perceptual q174): unlike q34's
  // probabilistic bands, a reported pair's evidence is a concrete set of
  // shared grams with the ≥ w+n−1 run guarantee behind it. Only selected
  // fps shuffle (≈ 2/(w+1) of grams); fps selected in > 64 docs are
  // boilerplate and leave via the broadcast anti-join before the
  // self-join, exactly q33's cap discipline.
  def q192WinnowingPairs(spark: SparkSession, dir: String): DataFrame = {
    val sel = TextOps.winnowingSelect(Tables.documents(spark, dir), n = 3, w = 4)
      .select(col("doc_id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 64).select(col("fp"))
    val cool = sel.join(broadcast(hot), Seq("fp"), "left_anti")
    val pairs = cool.as("a").join(cool.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
    graft.operators.Materialize.thenRelease(pairs, sel)
  }
  val q192Oracle: String = s"""
    WITH $winnowingSelOracle,
    sf AS (
      SELECT DISTINCT doc_id, substring(sel_key, 1, 32) AS fp FROM sel),
    cool AS (
      SELECT doc_id, fp FROM sf
      QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 64)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY doc_a ASC, doc_b ASC"""

  // q189 — dedup saturation curve: exact-duplicate yield over ingestion
  // order — documents in doc_id order are grouped into buckets of 100
  // and each bucket reports how many of its content hashes are NEW
  // (first seen in this bucket) versus already in the corpus, with the
  // cumulative distinct count and a per-bucket dup permille. This is the
  // "is more crawl still buying new content?" read — the marginal-yield
  // curve data collection is budgeted against; a flattening cum_distinct
  // means the source is exhausted. Exactness: a hash is NEW exactly when
  // its MIN doc_id lands in the bucket — a partial-aggregable min, no
  // ordered scan; the cumulative count runs through CumsumOps (per-group
  // partial sums → broadcast prefix offsets → group-partitioned window),
  // so no window task ever sees the whole n/100-row bucket frame even
  // when the bucket width lags the corpus. One scan, one hash agg, one
  // bucket agg.
  def q189DedupSaturation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val firstSeen = docs.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    val buckets = docs.join(firstSeen, Seq("h"))
      .withColumn("bucket", expr("doc_id DIV 100"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum((expr("first_id DIV 100") === col("bucket") &&
          col("doc_id") === col("first_id")).cast("long")).as("n_new_hashes"))
    graft.operators.CumsumOps.runningSums(buckets, "bucket",
      Seq("n_new_hashes" -> "cum_distinct_hashes"))
      .withColumn("dup_permille",
        expr("((n_docs - n_new_hashes) * 1000) DIV n_docs"))
      .select(col("bucket"), col("n_docs"), col("n_new_hashes"),
        col("cum_distinct_hashes"), col("dup_permille"))
      .orderBy(col("bucket").asc)
  }
  val q189Oracle: String = """
    WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
    f AS (SELECT h, MIN(doc_id) AS first_id FROM d GROUP BY h),
    b AS (
      SELECT d.doc_id // 100 AS bucket, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN f.first_id // 100 = d.doc_id // 100
                            AND d.doc_id = f.first_id
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_new_hashes
      FROM d JOIN f ON f.h = d.h GROUP BY 1)
    SELECT bucket, n_docs, n_new_hashes,
           CAST(SUM(n_new_hashes) OVER (ORDER BY bucket ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_hashes,
           ((n_docs - n_new_hashes) * 1000) // n_docs AS dup_permille
    FROM b ORDER BY bucket ASC"""

  // q187 — dedup threshold curve: the tuning read behind q34/q41/q132's
  // τ — exact n-gram Jaccard over the df-capped candidate pairs,
  // histogrammed by integer decile floor(10·|∩|/|∪|), with the
  // cumulative pairs-at-or-above count per decile. An operator picks the
  // near-dup threshold by reading where this curve's knee sits instead
  // of guessing, and re-reads it per corpus release — which is only
  // affordable because the curve prices ONE q33 pass (hashed-fingerprint
  // self-join with the broadcast hot-shingle anti-join, never doc×doc)
  // plus a ≤11-row aggregation. Integer-exact end to end: the decile is
  // (10·inter) DIV union over exact counts, and the cumulative window
  // runs on the ≤11-row histogram (single-partition by construction,
  // not by accident).
  def q187DedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.ngramJaccardPairs(Tables.documents(spark, dir), n = 3,
      minIntersect = 2, maxDf = 64)
    pairs
      .withColumn("decile", expr("(10 * inter) DIV (n_a + n_b - inter)"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("pairs_at_or_above",
        sum(col("n_pairs")).over(Window.orderBy(col("decile").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_pairs"), col("pairs_at_or_above"))
      .orderBy(col("decile").asc)
  }
  val q187Oracle: String = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    sh AS (
      SELECT doc_id, shingle FROM sh0
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 64),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    j AS (
      SELECT (10 * inter) // (ca.n_sh + cb.n_sh - inter) AS decile
      FROM inter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b),
    h AS (SELECT decile, COUNT(*) AS n_pairs FROM j GROUP BY decile)
    SELECT CAST(decile AS BIGINT) AS decile, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY decile DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS pairs_at_or_above
    FROM h ORDER BY decile ASC"""

  // q34 — MinHash+LSH near-dup candidates: 8 string-min signatures over
  // md5-salted shingles, 4 bands of 2 rows; pairs sharing ≥1 band.
  // Fully oracle-expressible because the hash is md5 on both engines.
  def q34MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    // bands from the memoized standing LSH index (TextOps.lshBandIndex)
    TextOps.lshCandidatePairs(
      TextOps.lshBandIndex(spark, dir, n = 3, numHashes = 8, rowsPerBand = 2))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  val q34Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    GROUP BY 1, 2 ORDER BY doc_a ASC, doc_b ASC"""
  }

  // q35 — vocabulary top-k: token frequencies (BPE-corpus prep shape).
  def q35TokenTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(20)
  val q35Oracle: String = """
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20"""

  // q36 — language-ID heuristic: per-language stopword-profile scores,
  // argmax as the guess, compared against the label. Profiles are
  // deliberately simple (function words per language) so the operator is
  // SQL-expressible and the oracle exact; accuracy on this synthetic
  // corpus is not the point — the operator shape is.
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "la", "les"),
    "es" -> Seq("el", "los", "una"),
    "zh" -> Seq("de", "shi", "le"))
  def q36LangIdHeuristic(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val scored = Tables.documents(spark, dir).select(
      Seq(col("doc_id"), col("lang")) ++ langProfiles.map { case (l, words) =>
        size(filter(toks, t => t.isin(words: _*))).as(s"score_$l")
      }: _*)
    // argmax with deterministic first-wins tie-break in profile order
    val guess = langProfiles.map(_._1).foldRight(lit("und")) { (l, acc) =>
      val isMax = langProfiles.map(_._1).filter(_ != l)
        .map(o => col(s"score_$l") >= col(s"score_$o")).reduce(_ && _)
      when(col(s"score_$l") > 0 && isMax, lit(l)).otherwise(acc)
    }
    scored.withColumn("guess", guess)
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang").asc, col("guess").asc)
  }
  val q36Oracle: String = {
    val scores = langProfiles.map { case (l, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS score_$l"
    }.mkString(",\n        ")
    // same fold: guess = first profile (in seq order) that is positive and >= all others
    val guessExpr = langProfiles.map(_._1).foldRight("'und'") { (l, acc) =>
      val others = langProfiles.map(_._1).filter(_ != l)
        .map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"CASE WHEN score_$l > 0 AND $others THEN '$l' ELSE $acc END"
    }
    s"""
    SELECT lang, guess, COUNT(*) AS n FROM (
      SELECT lang, $guessExpr AS guess FROM (
        SELECT doc_id, lang,
        $scores
        FROM documents))
    GROUP BY lang, guess ORDER BY lang ASC, guess ASC"""
  }

  // q37 — SimHash near-dup candidates via the native codegen'd expression:
  // 4×15-bit band blocking over the 60-bit signature, then hamming
  // distance ≤ 8. The kernel hashes tokens with md5-top-60, so the ENTIRE
  // pipeline — per-token hash, bit votes, banding, pair join, hamming —
  // is recomputed by the DuckDB oracle and value-checked cross-engine.
  def q37SimhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        GraftFunctions.simhash(TextOps.tokens(col("text"))).as("sh"))
    // one projection + explode: simhash evaluated once per doc, not per band;
    // persisted because both self-join sides consume it
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), b * 15).bitwiseAND(lit(0x7fffL)).as("bucket"))
    }
    val bands = docs
      .select(col("doc_id"), col("sh"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sh ^ b.sh)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }


  val q37Oracle: String = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit)
      GROUP BY doc_id, bit),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sh
      FROM votes GROUP BY doc_id),
    bands AS (
      SELECT doc_id, sh, band, (sh >> (band * 15)) & 32767 AS bucket
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.sh, b.sh)) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM pairs
    WHERE hamming <= 8 ORDER BY doc_a ASC, doc_b ASC"""

  // q38 — winnowing-style document fingerprint: the minimum hash over all
  // 16-char windows (Schleimer et al.'s min-of-windows idea), spelled with
  // md5-top-60 window hashes so the full computation is recomputed by the
  // DuckDB oracle. Explode + substring + md5 are all codegen'd — same
  // shape as the minhash shingle pass; one aggregation, no shuffle of
  // text. (The O(n) Karp-Rabin rolling kernel `min_rolling_hash` remains
  // the native-expression form for latency-critical paths — OperatorSpec
  // pins its semantics; this query pins the min-of-windows semantics
  // cross-engine.) Docs shorter than the window hash as one whole-text
  // window on both engines (substring past the end truncates identically).
  def q38Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        GraftFunctions.min_window_md5(col("text"), 16).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("fingerprint").asc)

  val q38Oracle: String = """
    WITH fp AS (
      SELECT doc_id,
             MIN(('0x' || substr(md5(substr(text, i, 16)), 1, 15))::BIGINT) AS fingerprint
      FROM (SELECT doc_id, text,
              unnest(generate_series(1, greatest(length(text) - 15, 1))) AS i
            FROM documents)
      GROUP BY doc_id)
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM fp GROUP BY fingerprint ORDER BY fingerprint ASC"""

  // q88 — sequence packing (concat-then-chunk, the LLM pretraining shape):
  // documents in doc_id order are laid into one virtual token stream and
  // cut into fixed 512-token sequences; each doc reports its global token
  // offset and the chunk range it spans. The global offset is
  // TextOps.withGlobalOffset — a distributed prefix-scan (one data
  // shuffle + O(buckets) driver metadata), NOT a single-partition window,
  // which is the difference between packing 100 TB and packing one task.
  def q88SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    TextOps.withGlobalOffset(docs, "doc_id", "n_tok", "off")
      .select(col("doc_id"), col("n_tok"), col("off"),
        expr("off DIV 512").as("first_chunk"),
        expr("(off + n_tok - 1) DIV 512").as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
      .orderBy(col("doc_id").asc)
  }
  val q88Oracle: String = """
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    o AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      FROM t)
    SELECT doc_id, n_tok, off,
           off // 512 AS first_chunk,
           (off + n_tok - 1) // 512 AS last_chunk,
           (off + n_tok - 1) // 512 - off // 512 + 1 AS n_chunks
    FROM o ORDER BY doc_id ASC"""

  // q92 — incremental dedup: a new batch (doc_id ≥ 400) admitted against
  // the existing corpus (doc_id < 400) — the daily-ingest shape, where
  // dedup must NOT rescan corpus×corpus. Exact duplicates via semi-join on
  // content hash; near-duplicates via semi-join of the batch's minhash
  // band buckets against the corpus's distinct buckets (at 100 TB the
  // corpus side of both joins is a precomputed, bucketed fingerprint
  // store — here derived inline from the same table). Anti/semi joins
  // shuffle fingerprints, never documents.
  def q92IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val corpusHash = corpus.select(md5(col("text").cast("binary")).as("h")).distinct()
    val exactDup = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(corpusHash, Seq("h"), "left_semi").select(col("doc_id"))
    val corpusBuckets = TextOps.lshBands(
      TextOps.minhashSignatures(corpus, n = 3, numHashes = 8), 8, 2)
      .select(col("band"), col("bucket")).distinct()
    val nearDup = TextOps.lshBands(
      TextOps.minhashSignatures(batch, n = 3, numHashes = 8), 8, 2)
      .join(corpusBuckets, Seq("band", "bucket"), "left_semi")
      .select(col("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(exactDup.withColumn("e", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("nd", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(0)).as("exact_dup"),
        coalesce(col("nd"), lit(0)).as("near_dup"))
      .withColumn("admitted",
        (col("exact_dup") === 0 && col("near_dup") === 0).cast("int"))
      .orderBy(col("doc_id").asc)
  }
  val q92Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    cb AS (SELECT DISTINCT band, bucket FROM bands WHERE doc_id < 400),
    nd AS (SELECT DISTINCT b.doc_id FROM bands b
           JOIN cb ON b.band = cb.band AND b.bucket = cb.bucket
           WHERE b.doc_id >= 400),
    ed AS (SELECT doc_id FROM (
             SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400)
           WHERE h IN (SELECT md5(text) FROM documents WHERE doc_id < 400))
    SELECT d.doc_id,
      CASE WHEN d.doc_id IN (SELECT doc_id FROM ed) THEN 1 ELSE 0 END AS exact_dup,
      CASE WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 1 ELSE 0 END AS near_dup,
      CASE WHEN d.doc_id IN (SELECT doc_id FROM ed)
             OR d.doc_id IN (SELECT doc_id FROM nd) THEN 0 ELSE 1 END AS admitted
    FROM documents d WHERE doc_id >= 400 ORDER BY doc_id ASC"""
  }

  // q153 — benchmark decontamination: the train/eval n-gram overlap check
  // every pretraining corpus runs (flag training docs sharing any 4-gram
  // with the held-out benchmark set, with the count of benchmark-shingle
  // OCCURRENCES as the contamination score). Benchmark = doc_id ≡ 0
  // (mod 50). The benchmark side reduces to DISTINCT md5 fingerprints
  // (the join ships 32-char hashes, never text) and is tiny relative to
  // the corpus at any scale (eval suites are MBs against TBs), so it is
  // broadcast and the corpus is never shuffled at all: one scan, one
  // broadcast-hash join, one per-doc count. The corpus side deliberately
  // keeps duplicate shingles — deduping (doc, h) would cost the very
  // corpus shuffle this plan avoids — and the oracle replays the same
  // occurrence semantics relationally on the raw strings.
  def q153Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // xxhash64 fingerprints, not md5 (r11): same join semantics with
    // collision odds ~#shingles²/2⁶⁴ (q33's argument), an 8-byte
    // broadcast key instead of a 32-char hex string, and roughly a
    // third of the per-shingle hash CPU — the only real cost in an
    // otherwise scan+broadcast-join-only plan.
    def sh(d: DataFrame) = d
      .select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 4)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val bench = sh(docs.filter(pmod(col("doc_id"), lit(50)) === 0))
      .select(col("h")).distinct()
    sh(docs.filter(pmod(col("doc_id"), lit(50)) =!= 0))
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .orderBy(col("doc_id").asc)
  }
  // Corpus-side shingles are NOT deduped per doc on either engine: the
  // score counts OCCURRENCES of benchmark shingles (a doc repeating a
  // contaminated 4-gram scores higher), and skipping the per-doc
  // distinct keeps the Spark side broadcast-join-only — a distinct on
  // (doc_id, h) would cost the very corpus shuffle this plan avoids.
  // Only the benchmark side (tiny) dedupes.
  val q153Oracle: String = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-3),
          i -> array_to_string(t[i:i+3], ' '))) AS shingle
        FROM toks WHERE len(t) >= 4),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
    SELECT s.doc_id, COUNT(*) AS n_hit
    FROM sh s JOIN bench USING (shingle)
    WHERE s.doc_id % 50 <> 0
    GROUP BY s.doc_id ORDER BY s.doc_id ASC"""

  // q93 — dedup clusters: connected components over the minhash LSH
  // candidate-pair graph (q34's pairs), giving the transitive dedup GROUPS
  // pairwise matches alone miss (A~B, B~C ⇒ {A,B,C} even if A,C never
  // collide). Spark side is GraphOps.connectedComponents — iterative
  // min-label propagation, one shuffle per iteration, O(diameter)
  // iterations. The oracle computes the same closure with a recursive CTE
  // (exact min reachable id), which is the O(nodes·edges) formulation
  // that works for an oracle and dies at scale — the iterative join IS
  // the 100 TB form.
  def q93DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // bands from the memoized standing LSH index (TextOps.lshBandIndex) —
    // same values, the signature scan amortized as index state
    val pairs = TextOps.lshCandidatePairs(
      TextOps.lshBandIndex(spark, dir, n = 3, numHashes = 8, rowsPerBand = 2))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.operators.GraphOps.connectedComponents(pairs)
    val w = Window.partitionBy(col("component"))
    comp.select(col("node").as("doc_id"), col("label").as("component"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy(col("doc_id").asc)
  }
  val q93Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT sym.src AS node, reach.r
      FROM sym JOIN reach ON sym.dst = reach.node),
    comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
    FROM comp ORDER BY doc_id ASC"""
  }

  // q125 — BPE-style pre-tokenization: the GPT-2-family regex shape
  // (contraction suffixes | letter runs | digit runs | single punctuation)
  // applied as one codegen'd regexp_extract_all projection — no UDF, no
  // shuffle until the final corpus rollup. Per doc: regex-token count vs
  // whitespace count and exact chars-per-token in integer space. The
  // pattern subset is chosen to mean the same thing in Java regex (Spark)
  // and RE2 (DuckDB): alternation, non-capturing groups, char classes.
  private val bpeIshPattern = "'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def q125RegexTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0)))
          .cast("long").as("n_regex_tok"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tok"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("chars_per_tok_x100",
        expr("n_chars * 100 DIV n_regex_tok"))
      .orderBy(col("doc_id").asc)
  val q125Oracle: String = """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_regex_tok,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tok,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) AS BIGINT) * 100 // CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS chars_per_tok_x100
    FROM documents ORDER BY doc_id ASC"""

  // q148 — set-similarity JOIN between two tables (even-id docs vs odd-id
  // docs) at Jaccard ≥ 0.3: the q33/q34 dedup pipeline as a reusable
  // two-table operator (JoinOps.setSimilarityJoin) — signature → band →
  // candidate equi-join → exact integer verify. The oracle replays the
  // identical md5 minhash banding and the exact verify in SQL, so every
  // emitted pair hash-matches (recall is the LSH bound on BOTH sides by
  // construction).
  def q148SetsimJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.operators.JoinOps.setSimilarityJoin(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      idCol = "doc_id", textCol = "text", threshold = 0.3)
      .orderBy(col("left_id").asc, col("right_id").asc)
  }
  val q148Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    cand AS (
      SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.left_id, c.right_id, COUNT(*) AS inter
      FROM cand c
        JOIN sh a ON a.doc_id = c.left_id
        JOIN sh b ON b.doc_id = c.right_id AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT i.left_id, i.right_id, i.inter,
      ca.n_sh AS n_left, cb.n_sh AS n_right,
      CAST(i.inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - i.inter AS DOUBLE) AS jaccard
    FROM inter i
      JOIN counts ca ON ca.doc_id = i.left_id
      JOIN counts cb ON cb.doc_id = i.right_id
    WHERE CAST(i.inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - i.inter AS DOUBLE) >= 0.3
    ORDER BY left_id ASC, right_id ASC"""
  }

  // q150 — dedup-on-ingest: sequential admit/reject of two batches against
  // a PERSISTED fingerprint index (exact md5 + minhash band buckets in a
  // BucketedTableStore) that grows with the admissions — batch 2's
  // decisions see batch 1's admitted docs, the property q92's one-shot
  // screen cannot express. Index updates are merge-on-read delta commits;
  // probes read only the store buckets the batch's fingerprints hash
  // into. The oracle replays the whole sequential run — index growth
  // included — because every fingerprint is md5-derived on both engines.
  def q150DedupOnIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) <= 1)
    val batches = Seq(2, 3).map(r =>
      docs.filter(pmod(col("doc_id"), lit(4)) === r))
    // seed leg amortized as standing index state (r17 verdict ask #6;
    // IngestDoor.seededWorkingCopy) — the bench prices the steady-state
    // screening run, seed cost lands in ann_build
    DedupIngest.door().ingestAllAmortized(spark, dir, corpus, batches, nBuckets = 16)
      .orderBy(col("doc_id").asc)
  }
  val q150Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    bb AS (SELECT doc_id, CAST(band AS VARCHAR) || ':' || bucket AS bb FROM bands),
    hs AS (SELECT doc_id, md5(text) AS h FROM documents),
    ceh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 4 <= 1),
    cbb AS (SELECT DISTINCT bb FROM bb WHERE doc_id % 4 <= 1),
    b1 AS (
      SELECT d.doc_id, 1 AS batch_id,
        CASE WHEN d.h IN (SELECT h FROM ceh) THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN EXISTS (SELECT 1 FROM bb x WHERE x.doc_id = d.doc_id
                          AND x.bb IN (SELECT bb FROM cbb))
             THEN 1 ELSE 0 END AS near_dup
      FROM hs d WHERE d.doc_id % 4 = 2),
    b1adm AS (SELECT doc_id FROM b1 WHERE exact_dup = 0 AND near_dup = 0),
    eh1 AS (SELECT h FROM ceh UNION
            SELECT h FROM hs WHERE doc_id IN (SELECT doc_id FROM b1adm)),
    bb1 AS (SELECT bb FROM cbb UNION
            SELECT bb FROM bb WHERE doc_id IN (SELECT doc_id FROM b1adm)),
    b2 AS (
      SELECT d.doc_id, 2 AS batch_id,
        CASE WHEN d.h IN (SELECT h FROM eh1) THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN EXISTS (SELECT 1 FROM bb x WHERE x.doc_id = d.doc_id
                          AND x.bb IN (SELECT bb FROM bb1))
             THEN 1 ELSE 0 END AS near_dup
      FROM hs d WHERE d.doc_id % 4 = 3),
    allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT doc_id, batch_id, exact_dup, near_dup,
      CASE WHEN exact_dup = 0 AND near_dup = 0 THEN 1 ELSE 0 END AS admitted
    FROM allb ORDER BY doc_id ASC"""
  }

  // q229 — dedup horizon (bounded retention window on the ingest door):
  // q150's sequential protocol with a RETIRE pass between the batches —
  // the maintenance lever that keeps an unbounded ingest's fingerprint
  // index from growing forever, and the bounded dedup window production
  // pipelines actually run (a page re-crawled after the horizon is new
  // content again). Seed at t0, batch 1 admits at t0+60s, then
  // IngestDoor.retireBefore(t0+30s) tombstones every seed fingerprint
  // (O(expired) bucket-local deltas — untouched buckets never rewrite),
  // and batch 2 is screened against the batch-1 admissions ONLY: dups of
  // the retired corpus re-admit, dups of live admissions still reject.
  // The retired-entry count rides every row as n_retired, so the oracle
  // hash-checks the horizon bookkeeping too (= the corpus's distinct
  // exact + band fingerprints; batch-1 admissions are stamped past the
  // cutoff and survive — an admitted doc's fingerprints are new by
  // definition, so seed and admission stamps never mix).
  // q244 — GENERATIONAL dedup retention: the q229 protocol re-run on
  // the O(1)-retirement layout ([[graft.sync.GenerationalStore]] — one
  // bucketed table per commit window, retire = drop whole generations
  // as metadata; the layout the IngestDoor scaladoc prices against the
  // single-table tombstone sweep). The window/cutoff here are chosen so
  // the generational horizon and q229's row-precise horizon retire the
  // SAME content (seed gone, batch-1 admissions kept): the query is the
  // hash-checked EQUIVALENCE gate between the two retention layouts —
  // identical admit/reject decisions from a structurally different
  // store. The layouts' real divergence (window-coarse vs row-exact
  // cutoffs: a mid-generation cutoff retires NOTHING here where the
  // row-precise verb sweeps) is pinned by GenerationalStoreSpec, where
  // it belongs — it is a precision contract, not a decision change.
  // n_gens_retired rides the result; the oracle replays the
  // floor(ts/window) generation arithmetic as literal SQL.
  // Scale shape: decisions are the same capped probe joins as
  // q150/q229 (decideAgainst is SHARED code); the probe read surface is
  // a union over live generations (horizon/window of them, each
  // bucket-pruned); retirement is directory metadata — the index scan
  // and tombstone rewrite of IngestDoor.retireBefore never happen.
  def q244GenerationalRetention(spark: SparkSession, dir: String): DataFrame = {
    import java.sql.Timestamp
    import org.apache.spark.storage.StorageLevel
    import graft.operators.DedupIngest
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) <= 1)
    val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
    val b2 = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
    val t0 = 1660000000000L
    def fps(d: org.apache.spark.sql.DataFrame) =
      DedupIngest.fingerprints(d, shingleN = 3, numHashes = 8,
        rowsPerBand = 2)
    // The seeded generation-0 store is standing index state (the same
    // amortization as IngestDoor.seededWorkingCopy): a memoized tree
    // built once per dataset version from parquet, file-copied per run
    // so the appends/retirement below stay private — decisions identical
    // to seeding in place (the copy is bit-identical).
    val master = graft.operators.IndexMemo.tree(graft.operators.IndexMemo.Key(
        "genseed", dir, Seq("w=60000"), session = false)) { m =>
      new graft.sync.GenerationalStore(spark, m, windowMs = 60000L)
        .append("fp", fps(corpus).select(col("fp")).distinct(), "fp",
          new Timestamp(t0))
    }
    val root = Files.createTempDirectory("graft-genret").toString
    graft.sync.TableStore.copyRecursively(Paths.get(master), Paths.get(root))
    try {
      // window 60 s: seed (t0) and b1 (t0+60 s) land in DIFFERENT
      // generations; cutoff t0+70 s lies past the seed generation's end
      // ((t0 div 60000 + 1)·60000 = t0+20 s) but inside b1's — so
      // exactly the seed generation drops, matching q229's horizon
      val gens = new graft.sync.GenerationalStore(spark, root,
        windowMs = 60000L)
      val p1 = fps(b1).persist(StorageLevel.MEMORY_AND_DISK)
      val d1 = DedupIngest.decideAgainst(gens.readAll("fp"), p1, 1L)
      gens.append("fp",
        p1.join(d1.filter(col("admitted") === 1).select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("fp")).distinct(),
        "fp", new Timestamp(t0 + 60000))
      p1.unpersist()
      val retired = gens.retireBefore(new Timestamp(t0 + 70000))
      val p2 = fps(b2).persist(StorageLevel.MEMORY_AND_DISK)
      val d2 = DedupIngest.decideAgainst(gens.readAll("fp"), p2, 2L)
      // complete the protocol: b2's admissions land in their generation
      // (consumed by nothing here, but the door contract is seed →
      // decide → apply per batch, and the append must not perturb d2)
      gens.append("fp",
        p2.join(d2.filter(col("admitted") === 1).select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("fp")).distinct(),
        "fp", new Timestamp(t0 + 120000))
      p2.unpersist()
      d1.unionByName(d2)
        .withColumn("n_gens_retired", lit(retired.size.toLong))
        .orderBy(col("doc_id").asc)
    } finally graft.sync.TableStore.deleteRecursively(Paths.get(root))
  }
  val q244Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    bb AS (SELECT doc_id, CAST(band AS VARCHAR) || ':' || bucket AS bb FROM bands),
    hs AS (SELECT doc_id, md5(text) AS h FROM documents),
    ceh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 4 <= 1),
    cbb AS (SELECT DISTINCT bb FROM bb WHERE doc_id % 4 <= 1),
    b1 AS (
      SELECT d.doc_id, 1 AS batch_id,
        CASE WHEN d.h IN (SELECT h FROM ceh) THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN EXISTS (SELECT 1 FROM bb x WHERE x.doc_id = d.doc_id
                          AND x.bb IN (SELECT bb FROM cbb))
             THEN 1 ELSE 0 END AS near_dup
      FROM hs d WHERE d.doc_id % 4 = 2),
    b1adm AS (SELECT doc_id FROM b1 WHERE exact_dup = 0 AND near_dup = 0),
    eh1 AS (SELECT h FROM hs WHERE doc_id IN (SELECT doc_id FROM b1adm)),
    bb1 AS (SELECT bb FROM bb WHERE doc_id IN (SELECT doc_id FROM b1adm)),
    b2 AS (
      SELECT d.doc_id, 2 AS batch_id,
        CASE WHEN d.h IN (SELECT h FROM eh1) THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN EXISTS (SELECT 1 FROM bb x WHERE x.doc_id = d.doc_id
                          AND x.bb IN (SELECT bb FROM bb1))
             THEN 1 ELSE 0 END AS near_dup
      FROM hs d WHERE d.doc_id % 4 = 3),
    -- the generational arithmetic replayed literally: a generation
    -- drops iff (floor(commit/window)+1)*window <= cutoff; commits at
    -- t0 and t0+60000, window 60000, cutoff t0+70000
    nret AS (SELECT
      (CASE WHEN (1660000000000 // 60000 + 1) * 60000
                 <= 1660000070000 THEN 1 ELSE 0 END)
      + (CASE WHEN (1660000060000 // 60000 + 1) * 60000
                 <= 1660000070000 THEN 1 ELSE 0 END) AS n_gens_retired),
    allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT doc_id, batch_id, exact_dup, near_dup,
      CASE WHEN exact_dup = 0 AND near_dup = 0 THEN 1 ELSE 0 END AS admitted,
      CAST(n_gens_retired AS BIGINT) AS n_gens_retired
    FROM allb CROSS JOIN nret ORDER BY doc_id ASC"""
  }

  def q229DedupRetention(spark: SparkSession, dir: String): DataFrame = {
    import java.sql.Timestamp
    val docs = Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) <= 1)
    val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
    val b2 = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
    val t0 = 1660000000000L
    val door = DedupIngest.door()
    // seed leg amortized as standing index state (r17 verdict ask #6) —
    // the working copy is private, so the retirement below mutates this
    // run's store only; the q150-shared seed master stays frozen
    val root = door.seededWorkingCopy(spark, dir, corpus, nBuckets = 16, t0)
    try {
      val store = graft.operators.IngestDoor.store(spark, root, 16)
      val d1 = door.step(spark, store, b1, 1L, new Timestamp(t0 + 60000))
      val retired = door.retireBefore(store, new Timestamp(t0 + 30000),
        new Timestamp(t0 + 90000))
      val d2 = door.step(spark, store, b2, 2L, new Timestamp(t0 + 120000))
      d1.unionByName(d2)
        .withColumn("n_retired", lit(retired))
        .orderBy(col("doc_id").asc)
    } finally graft.sync.TableStore.deleteRecursively(Paths.get(root))
  }
  val q229Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    bb AS (SELECT doc_id, CAST(band AS VARCHAR) || ':' || bucket AS bb FROM bands),
    hs AS (SELECT doc_id, md5(text) AS h FROM documents),
    ceh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 4 <= 1),
    cbb AS (SELECT DISTINCT bb FROM bb WHERE doc_id % 4 <= 1),
    b1 AS (
      SELECT d.doc_id, 1 AS batch_id,
        CASE WHEN d.h IN (SELECT h FROM ceh) THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN EXISTS (SELECT 1 FROM bb x WHERE x.doc_id = d.doc_id
                          AND x.bb IN (SELECT bb FROM cbb))
             THEN 1 ELSE 0 END AS near_dup
      FROM hs d WHERE d.doc_id % 4 = 2),
    b1adm AS (SELECT doc_id FROM b1 WHERE exact_dup = 0 AND near_dup = 0),
    eh1 AS (SELECT h FROM hs WHERE doc_id IN (SELECT doc_id FROM b1adm)),
    bb1 AS (SELECT bb FROM bb WHERE doc_id IN (SELECT doc_id FROM b1adm)),
    b2 AS (
      SELECT d.doc_id, 2 AS batch_id,
        CASE WHEN d.h IN (SELECT h FROM eh1) THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN EXISTS (SELECT 1 FROM bb x WHERE x.doc_id = d.doc_id
                          AND x.bb IN (SELECT bb FROM bb1))
             THEN 1 ELSE 0 END AS near_dup
      FROM hs d WHERE d.doc_id % 4 = 3),
    nret AS (SELECT (SELECT COUNT(*) FROM ceh) + (SELECT COUNT(*) FROM cbb)
               AS n_retired),
    allb AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT doc_id, batch_id, exact_dup, near_dup,
      CASE WHEN exact_dup = 0 AND near_dup = 0 THEN 1 ELSE 0 END AS admitted,
      CAST(n_retired AS BIGINT) AS n_retired
    FROM allb CROSS JOIN nret ORDER BY doc_id ASC"""
  }

  // q155 — model-based quality scoring (the fastText-shaped step every
  // production corpus runs after the heuristic filters of q31): a linear
  // model over hashed bag-of-words features, applied as the operator
  // shape a trained model needs at 100 TB — a broadcast-joined weight
  // table against streamed token rows (the corpus = TBs), one per-doc
  // aggregation. The feature space is HASH-BOUNDED (fastText's bucket
  // trick, q158's DSIR shape): each token maps to one of B=512 buckets
  // via md5, and the model is B weight rows — so the broadcast is a
  // fixed few KB at ANY corpus size, where a per-type table would grow
  // with the vocabulary (1e9+ types at 100 TB) and kill the driver.
  // The "trained" weights are seeded deterministically from each
  // bucket's md5 so both engines derive the identical model without
  // shipping one: w(bucket) ∈ [-1000, 1000]. Integer weight sums keep
  // the hash exact; the logistic probability is one per-row double op
  // (IEEE-identical cross-engine). At scale the weight table swaps for
  // real learned weights over the same hashed space — the plan is
  // identical.
  private[graft] val QualityBuckets = 512
  /** md5-hash a token into the bounded feature space [0, B). */
  private def qualityBucket(tok: org.apache.spark.sql.Column) =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % QualityBuckets
  /** The B-row "model": bucket → deterministic weight. Built from a
    * range, NOT from the corpus — the plan must not scan documents. */
  private def qualityWeights(spark: SparkSession): DataFrame =
    spark.range(QualityBuckets).select(col("id").as("bkt"),
      (conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 2001L - 1000L).as("w"))
  private val qualityOracleCtes = s"""
    qtoks AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT % $QualityBuckets AS bkt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)),
    qw AS (
      SELECT b AS bkt,
             ('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 15))::BIGINT
               % 2001 - 1000 AS w
      FROM (SELECT unnest(generate_series(0, ${QualityBuckets - 1})) AS b))"""
  def q155QualityModel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
    toks.withColumn("bkt", qualityBucket(col("tok")))
      .join(broadcast(qualityWeights(spark)), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("score_sum"))
      .withColumn("quality",
        lit(1.0) / (lit(1.0) +
          exp(-col("score_sum").cast("double") / (col("n_tok") * 1000.0))))
      .withColumn("verdict",
        when(col("score_sum") > 0, lit("keep")).otherwise(lit("drop")))
      .select(col("doc_id"), col("n_tok"), col("score_sum"),
        col("quality"), col("verdict"))
      .orderBy(col("doc_id").asc)
  }
  val q155Oracle: String = s"""
    WITH $qualityOracleCtes,
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tok, SUM(qw.w) AS score_sum
      FROM qtoks JOIN qw USING (bkt) GROUP BY doc_id)
    SELECT doc_id, n_tok, CAST(score_sum AS BIGINT) AS score_sum,
           1.0 / (1.0 + exp(-CAST(score_sum AS DOUBLE) / (n_tok * 1000.0)))
             AS quality,
           CASE WHEN score_sum > 0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM scored ORDER BY doc_id ASC"""

  // q161/q162 — ExactSubstr duplicated-span dedup (Lee et al. 2021 shape):
  // token 8-grams occurring in ≥2 DISTINCT docs mark spans; overlapping
  // grams merge per doc (gaps-and-islands). q161 reports per-doc span
  // stats; q162 emits the scrubbed corpus (spans removed, order kept).
  // The oracle replays the identical semantics with md5 fingerprints —
  // the fp never leaves the plan, so the engines' hash functions are
  // free to differ (Spark rides xxhash64 for a half-width shuffle).
  private val dupSpanN = 8
  private def dupSpanCtes(n: Int): String = s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${n - 1})) AS i, t
      FROM toks WHERE len(t) >= $n),
    g2 AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM g),
    dup AS (SELECT fp FROM g2 GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (
      SELECT g2.doc_id, g2.start, g2.start + ${n - 1} AS gram_end
      FROM g2 JOIN dup USING (fp)),
    isl AS (
      SELECT doc_id, start, gram_end,
        CASE WHEN start > COALESCE(MAX(gram_end) OVER (
            PARTITION BY doc_id ORDER BY start
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM hits),
    isl2 AS (
      SELECT doc_id, start, gram_end,
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl),
    spans AS (
      SELECT doc_id, MIN(start) AS span_start, MAX(gram_end) AS span_end
      FROM isl2 GROUP BY doc_id, span_id)"""

  def q161DupSpanStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.duplicatedSpanStats(Tables.documents(spark, dir), n = dupSpanN)
      .orderBy(col("doc_id").asc)
  val q161Oracle: String = dupSpanCtes(dupSpanN) + """,
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(span_end - span_start + 1) AS dup_tokens
      FROM spans GROUP BY doc_id),
    tot AS (SELECT doc_id, len(t) AS total_tokens FROM toks)
    SELECT p.doc_id, n_spans, CAST(dup_tokens AS BIGINT) AS dup_tokens,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(dup_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS dup_frac
    FROM per_doc p JOIN tot USING (doc_id)
    ORDER BY doc_id ASC"""

  // shared oracle tail: expand spans to covered positions, anti-join the
  // positioned tokens, reassemble per doc in order
  private val scrubTail: String = """,
    cov AS (
      SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
      FROM spans),
    tp AS (
      SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t FROM toks),
    tp2 AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok FROM tp),
    kept AS (
      SELECT tp2.doc_id, tp2.pos, tp2.tok FROM tp2
      LEFT JOIN cov ON cov.doc_id = tp2.doc_id AND cov.pos = tp2.pos
      WHERE cov.doc_id IS NULL)
    SELECT doc_id, COUNT(*) AS kept_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id ORDER BY doc_id ASC"""

  def q162DupSpanScrub(spark: SparkSession, dir: String): DataFrame =
    TextOps.scrubDuplicatedSpans(Tables.documents(spark, dir), n = dupSpanN)
      .orderBy(col("doc_id").asc)
  val q162Oracle: String = dupSpanCtes(dupSpanN) + scrubTail

  // q164 — keep-one scrub (the paper's dedup semantics): each duplicated
  // 8-gram's canonical occurrence — lexicographic (min doc_id, min start)
  // — survives; only non-canonical occurrences seed removal spans, so
  // deduplicated content keeps exactly one corpus copy.
  def q164ScrubKeepOne(spark: SparkSession, dir: String): DataFrame =
    TextOps.scrubKeepOne(Tables.documents(spark, dir), n = dupSpanN)
      .orderBy(col("doc_id").asc)
  val q164Oracle: String = {
    val n = dupSpanN
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${n - 1})) AS i, t
      FROM toks WHERE len(t) >= $n),
    g2 AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM g),
    dup AS (SELECT fp FROM g2 GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
    canon AS (
      SELECT fp, doc_id AS c_doc, start AS c_start FROM (
        SELECT fp, doc_id, start,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rn
        FROM g2) WHERE rn = 1),
    hits AS (
      SELECT g2.doc_id, g2.start, g2.start + ${n - 1} AS gram_end
      FROM g2 JOIN dup USING (fp) JOIN canon USING (fp)
      WHERE g2.doc_id <> canon.c_doc OR g2.start <> canon.c_start),
    isl AS (
      SELECT doc_id, start, gram_end,
        CASE WHEN start > COALESCE(MAX(gram_end) OVER (
            PARTITION BY doc_id ORDER BY start
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM hits),
    isl2 AS (
      SELECT doc_id, start, gram_end,
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl),
    spans AS (
      SELECT doc_id, MIN(start) AS span_start, MAX(gram_end) AS span_end
      FROM isl2 GROUP BY doc_id, span_id)""" + scrubTail
  }

  // q163 — incremental ExactSubstr screen: the q92 corpus/batch split
  // (doc_id < 400 existing corpus, ≥ 400 new batch), batch grams flagged
  // when present in the corpus OR in ≥2 distinct batch docs; one row per
  // batch doc with span stats and an integer-exact <20%-duplicated
  // admission verdict.
  def q163IncrementalSpanScreen(spark: SparkSession, dir: String): DataFrame = {
    // no query-level repartition: the operator spreads the batch side
    // itself and deliberately leaves the corpus side on scan splits
    val docs = Tables.documents(spark, dir)
    TextOps.incrementalDuplicatedSpanStats(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400), n = dupSpanN)
      .orderBy(col("doc_id").asc)
  }
  val q163Oracle: String = {
    val n = dupSpanN
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${n - 1})) AS i, t
      FROM toks WHERE len(t) >= $n),
    g2 AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM g),
    cfp AS (SELECT DISTINCT fp FROM g2 WHERE doc_id < 400),
    bocc AS (SELECT * FROM g2 WHERE doc_id >= 400),
    bdup AS (SELECT fp FROM bocc GROUP BY fp
             HAVING COUNT(DISTINCT doc_id) >= 2),
    dup AS (SELECT fp FROM cfp UNION SELECT fp FROM bdup),
    hits AS (
      SELECT bocc.doc_id, bocc.start, bocc.start + ${n - 1} AS gram_end
      FROM bocc JOIN dup USING (fp)),
    isl AS (
      SELECT doc_id, start, gram_end,
        CASE WHEN start > COALESCE(MAX(gram_end) OVER (
            PARTITION BY doc_id ORDER BY start
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM hits),
    isl2 AS (
      SELECT doc_id, start, gram_end,
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl),
    spans AS (
      SELECT doc_id, MIN(start) AS span_start, MAX(gram_end) AS span_end
      FROM isl2 GROUP BY doc_id, span_id),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(span_end - span_start + 1) AS dup_tokens
      FROM spans GROUP BY doc_id),
    tot AS (
      SELECT doc_id, len(t) AS total_tokens FROM toks WHERE doc_id >= 400)
    SELECT t.doc_id,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(COALESCE(dup_tokens, 0) AS DOUBLE)
             / CAST(total_tokens AS DOUBLE) AS dup_frac,
           CAST(COALESCE(dup_tokens, 0) * 5 < total_tokens AS INT) AS admitted
    FROM tot t LEFT JOIN per_doc USING (doc_id)
    ORDER BY doc_id ASC"""
  }

  // q165 — ExactSubstr-on-ingest: q150's sequential persisted-index
  // protocol over GRAM fingerprints (SpanIngest): corpus (doc_id%4<=1)
  // seeds the index, batches %4==2 then %4==3 are span-screened against
  // it, and each batch's ADMITTED docs' grams guard the next. The oracle
  // replays the whole sequential run, index growth included.
  def q165SpanIngest(spark: SparkSession, dir: String): DataFrame = {
    // no wrapper repartition: the operator spreads each batch itself and
    // deliberately leaves the corpus-fp seed on scan splits (the q163
    // no-spread rationale, pinned by ShuffleAuditSpec)
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) <= 1)
    val batches = Seq(2, 3).map(r =>
      docs.filter(pmod(col("doc_id"), lit(4)) === r))
    // seed leg amortized as standing index state (r17 verdict ask #6;
    // IngestDoor.seededWorkingCopy)
    graft.operators.SpanIngest.door(dupSpanN)
      .ingestAllAmortized(spark, dir, corpus, batches, nBuckets = 16)
      .orderBy(col("doc_id").asc)
  }
  private def q165Chain(sfx: String, rem: Int, dupSrc: String): String = {
    val n = dupSpanN
    s"""
    b${sfx}occ AS (SELECT * FROM g2 WHERE doc_id % 4 = $rem),
    b${sfx}dup AS (SELECT fp FROM b${sfx}occ GROUP BY fp
                   HAVING COUNT(DISTINCT doc_id) >= 2),
    dup$sfx AS (SELECT fp FROM $dupSrc UNION SELECT fp FROM b${sfx}dup),
    hits$sfx AS (
      SELECT o.doc_id, o.start, o.start + ${n - 1} AS gram_end
      FROM b${sfx}occ o JOIN dup$sfx USING (fp)),
    isl$sfx AS (
      SELECT doc_id, start, gram_end,
        CASE WHEN start > COALESCE(MAX(gram_end) OVER (
            PARTITION BY doc_id ORDER BY start
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM hits$sfx),
    isl2$sfx AS (
      SELECT doc_id, start, gram_end,
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl$sfx),
    spans$sfx AS (
      SELECT doc_id, MIN(start) AS span_start, MAX(gram_end) AS span_end
      FROM isl2$sfx GROUP BY doc_id, span_id),
    per$sfx AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             SUM(span_end - span_start + 1) AS dup_tokens
      FROM spans$sfx GROUP BY doc_id),
    tot$sfx AS (
      SELECT doc_id, len(t) AS total_tokens FROM toks WHERE doc_id % 4 = $rem),
    stats$sfx AS (
      SELECT t.doc_id,
             CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
             CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
             CAST(total_tokens AS BIGINT) AS total_tokens,
             CAST(COALESCE(dup_tokens, 0) * 5 < total_tokens AS INT) AS admitted
      FROM tot$sfx t LEFT JOIN per$sfx USING (doc_id))"""
  }
  val q165Oracle: String = {
    val n = dupSpanN
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${n - 1})) AS i, t
      FROM toks WHERE len(t) >= $n),
    g2 AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM g),
    cfp AS (SELECT DISTINCT fp FROM g2 WHERE doc_id % 4 <= 1),
    ${q165Chain("1", 2, "cfp")},
    adm1fp AS (
      SELECT DISTINCT o.fp FROM b1occ o
      JOIN stats1 s ON s.doc_id = o.doc_id AND s.admitted = 1),
    idx2 AS (SELECT fp FROM cfp UNION SELECT fp FROM adm1fp),
    ${q165Chain("2", 3, "idx2")}
    SELECT doc_id, CAST(1 AS INT) AS batch_id, n_spans, dup_tokens,
           total_tokens, admitted FROM stats1
    UNION ALL
    SELECT doc_id, CAST(2 AS INT) AS batch_id, n_spans, dup_tokens,
           total_tokens, admitted FROM stats2
    ORDER BY doc_id ASC"""
  }

  // q166 — Gopher quality rules (Rae et al. 2021 shape): word-count,
  // mean-word-length, stopword-presence, and top-token-repetition gates,
  // every threshold integer-exact, one keep verdict.
  def q166GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(Tables.documents(spark, dir))
      .orderBy(col("doc_id").asc)
  val q166Oracle: String = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, length(text) AS len
      FROM documents),
    base AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len - (len(t) - 1) AS BIGINT) AS sum_len,
             CAST(len(list_filter(t, x -> x IN
               ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT)
               AS stop_hits
      FROM toks),
    tf AS (
      SELECT doc_id, MAX(c) AS top_freq FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok)
      GROUP BY doc_id)
    SELECT b.doc_id, n_tokens, sum_len, stop_hits,
           CAST(top_freq AS BIGINT) AS top_freq,
           CAST(n_tokens >= 40 AND n_tokens <= 100000 AS INT) AS wc_ok,
           CAST(sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10 AS INT)
             AS len_ok,
           CAST(stop_hits >= 2 AS INT) AS stop_ok,
           CAST(top_freq * 5 <= n_tokens AS INT) AS rep_ok,
           CAST(n_tokens >= 40 AND n_tokens <= 100000
             AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
             AND stop_hits >= 2 AND top_freq * 5 <= n_tokens AS INT) AS keep
    FROM base b JOIN tf USING (doc_id)
    ORDER BY doc_id ASC"""

  // q167 — fixed-window token chunking with overlap (size 32, stride 16):
  // the embedding/RAG counterpart of q146's content-defined chunking.
  // Pure map over the scan — zero shuffles.
  def q167WindowChunks(spark: SparkSession, dir: String): DataFrame =
    TextOps.windowChunks(Tables.documents(spark, dir), chunkSize = 32, stride = 16)
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
  val q167Oracle: String = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    c AS (
      SELECT doc_id, t, unnest(generate_series(0,
        (GREATEST(0, len(t) - 32) + 15) // 16)) AS chunk_id
      FROM toks)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(t[chunk_id*16+1 : chunk_id*16+32]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(t[chunk_id*16+1 : chunk_id*16+32], ' ')
             AS chunk_text
    FROM c ORDER BY doc_id ASC, chunk_id ASC"""

  // q168 — BM25 top-k lexical retrieval (k1=1.2, b=0.75) for a fixed
  // 3-term query: tf and df are exact ints, avgdl is exact (integer sums
  // in double), and the per-term weights combine in a FIXED expression
  // order (one conditional-sum column per term, added left to right) so
  // no float accumulation order is engine- or partitioning-dependent;
  // the oracle replays the identical expression tree. The corpus scans
  // once; df and the corpus stats broadcast; top-20 is
  // TakeOrderedAndProject, never a global sort.
  private val bm25Terms = Seq("join", "window", "hash")
  /** BM25 scores (doc_id, n_terms, score) for [[bm25Terms]] — shared by
    * the top-k query (q168) and the RRF fusion (q169).
    *
    * MEMOIZED like the ANN postings (r16 verdict ask #2): the per-term
    * tf/df/length statistics are a lexical INDEX — a deployment
    * maintains posting lists once and amortizes them over every query;
    * re-deriving them per call both mis-prices the operator and made
    * q168's 0.52 s pin flip the outlier gate on host-load noise alone.
    * Keyed by dataset version + session (localCheckpoint RDDs are
    * context-bound); build cost lands in ann_build via the memo, and
    * the posting stats persist through the cross-JVM parquet tier like
    * any index artifact. */
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val key = graft.operators.IndexMemo.Key("bm25", dir, Nil, session = true)
    graft.operators.IndexMemo(key)(
      graft.operators.AnnIndexStore.orBuildParquet(spark, key)(
        bm25ScoresBuild(spark, dir).localCheckpoint(true)))
  }
  private[graft] def bm25ScoresBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val dl = toks.select(col("doc_id"), size(col("t")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("tok"))
      .filter(col("tok").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val w = tf.join(broadcast(dfs), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
          * col("tf") * 2.2
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val perTerm = bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("w"))).as(s"w$i")
    }
    w.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail :+ count(lit(1)).as("n_terms"): _*)
      .withColumn("score", bm25Terms.indices
        .map(i => coalesce(col(s"w$i"), lit(0.0))).reduce(_ + _))
      .select(col("doc_id"), col("n_terms"), col("score"))
  }
  /** Oracle CTE block ending in `bm25 AS (doc_id, n_terms, score)` —
    * shared by the q168 and q169 oracles. */
  private val bm25Ctes: String = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    val sums = bm25Terms.map(t =>
      s"COALESCE(SUM(CASE WHEN tok = '$t' THEN w END), 0.0)").mkString(" + ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      WHERE tok IN ($terms) GROUP BY doc_id, tok),
    dfs AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    w AS (
      SELECT doc_id, tok,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
      FROM tf JOIN dfs USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats),
    bm25 AS (
      SELECT doc_id, COUNT(*) AS n_terms, $sums AS score
      FROM w GROUP BY doc_id)"""
  }
  def q168Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  val q168Oracle: String = bm25Ctes + """
    SELECT doc_id, n_terms, score FROM bm25
    ORDER BY score DESC, doc_id ASC LIMIT 20"""

  // q169 — hybrid retrieval by reciprocal-rank fusion (k=60): the BM25
  // ranking fuses with the q155-style quality-model ranking, each
  // ranker contributing 1/(60+rank) over its top-100. The fusion is
  // FLOAT-EXACT cross-engine — ranks are ints, so every rrf term is one
  // correctly-rounded divide and the two-term sum has a fixed order (no
  // libm in the fused score; BM25's ln only orders the lexical list).
  // Scale shape: each ranker's top-100 comes from TakeOrderedAndProject;
  // the single-partition rank windows run on ≤100 rows by construction.
  def q169HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val toksQ = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
    // q155's hash-bounded model: B weight rows broadcast, never a
    // vocabulary-sized table (see q155's scaladoc)
    val qual = toksQ.withColumn("bkt", qualityBucket(col("tok")))
      .join(broadcast(qualityWeights(spark)), Seq("bkt"))
      .groupBy(col("doc_id")).agg(sum(col("w")).as("score_sum"))
    val lex100 = bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id").asc).limit(100)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("r_lex"))
    val qual100 = qual
      .orderBy(col("score_sum").desc, col("doc_id").asc).limit(100)
      .withColumn("r_quality", row_number().over(
        Window.orderBy(col("score_sum").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("r_quality"))
    lex100.join(qual100, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r_quality")), lit(0.0)))
      .select(col("doc_id"), col("r_lex"), col("r_quality"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(20)
  }
  val q169Oracle: String = bm25Ctes + s""",
    $qualityOracleCtes,
    qual AS (
      SELECT doc_id, SUM(w) AS score_sum
      FROM qtoks JOIN qw USING (bkt) GROUP BY doc_id),
    lex100 AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (
        ORDER BY score DESC, doc_id ASC) AS INT) AS r_lex
      FROM bm25 QUALIFY r_lex <= 100),
    qual100 AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (
        ORDER BY score_sum DESC, doc_id ASC) AS INT) AS r_quality
      FROM qual QUALIFY r_quality <= 100),
    fused AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.r_lex, b.r_quality,
             COALESCE(1.0 / (60 + a.r_lex), 0.0)
               + COALESCE(1.0 / (60 + b.r_quality), 0.0) AS rrf
      FROM lex100 a FULL OUTER JOIN qual100 b ON a.doc_id = b.doc_id)
    SELECT doc_id, r_lex, r_quality, rrf FROM fused
    ORDER BY rrf DESC, doc_id ASC LIMIT 20"""

  // q171 — CCNet-style LM-perplexity bucketing (Wenzek et al. 2020): a
  // stupid-backoff bigram LM (Brants et al. 2007; alpha=0.4, Laplace
  // unigram fallback) trains on the `en` slice — CCNet's clean reference
  // corpus — every document scores by mean token log-probability, and
  // each language's docs bucket into head/middle/tail perplexity
  // tertiles. INTEGER-exact cross-engine: each distinct (w1,w2) pair's
  // log-prob quantizes ONCE to micro-nats (floor(ln·1e6) — the only libm
  // call, over count-derived doubles that are bit-identical in both
  // engines), so the per-doc sum is an exact BIGINT in any order; the
  // mean is two correctly-rounded divides in fixed order, and the
  // tertile ordering is exact (equal means are equal rationals → equal
  // doubles; doc_id breaks real ties).
  // Scale shape: LM counts are two partial-agg shuffles over the train
  // slice only; the pair-term table is ≤ vocab² rows → broadcast; doc
  // scoring is explode + broadcast join + one per-doc partial agg (the
  // corpus never shuffles whole rows). The per-lang ntile window is the
  // oracle-exact tertile; at 100 TB the cutoffs would come from a score
  // histogram computed once and broadcast (CCNet itself fits cutoffs on
  // a sample), turning the sort into a map-side bucket lookup.
  def q171LmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("t"))
    val train = toks.filter(col("lang") === "en")
    val trainTok = train.select(explode(col("t")).as("tok"))
    val uni = trainTok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // N = train token count; V = full-corpus vocab (so OOV scoring is
    // defined); a single-row frame cross-joined everywhere it's needed
    val nv = trainTok.agg(count(lit(1)).as("n")).crossJoin(
      toks.select(explode(col("t")).as("tok"))
        .agg(countDistinct(col("tok")).as("v")))
    def pairsOf(df: DataFrame): DataFrame = df
      .withColumn("a", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("b", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(col("doc_id"), explode(arrays_zip(col("a"), col("b"))).as("p"))
      .select(col("doc_id"), col("p.a").as("w1"), col("p.b").as("w2"))
    val big = pairsOf(train).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val docPairs = pairsOf(toks)
    // one quantized log-prob per DISTINCT observed pair (≤ vocab²):
    // p = c12/c1 when the bigram was seen, else alpha · laplace(w2)
    val pairTerms = docPairs.select(col("w1"), col("w2")).distinct()
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"), "left")
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"), "left")
      .crossJoin(nv)
      .withColumn("lp_micro", floor(
        when(col("c12").isNotNull,
          log(col("c12").cast("double") / col("c1").cast("double")))
          .otherwise(log(lit(0.4) *
            ((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")
              / (col("n") + col("v")).cast("double"))))
          * lit(1000000.0)).cast("long"))
      .select(col("w1"), col("w2"), col("lp_micro"))
    // the first token of each doc scores by the Laplace unigram alone
    val firstTerms = toks.select(col("t").getItem(0).as("w")).distinct()
      .join(uni.select(col("tok").as("w"), col("c")), Seq("w"), "left")
      .crossJoin(nv)
      .withColumn("lp_first", floor(
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")
          / (col("n") + col("v")).cast("double")) * lit(1000000.0)).cast("long"))
      .select(col("w"), col("lp_first"))
    val pairScore = docPairs
      .join(broadcast(pairTerms), Seq("w1", "w2"))
      .groupBy(col("doc_id")).agg(sum(col("lp_micro")).as("s_pairs"))
    toks.select(col("doc_id"), col("lang"),
        size(col("t")).cast("long").as("n_tokens"), col("t").getItem(0).as("w"))
      .join(broadcast(firstTerms), Seq("w"))
      .join(pairScore, Seq("doc_id"), "left")
      .withColumn("score_micro",
        col("lp_first") + coalesce(col("s_pairs"), lit(0L)))
      .withColumn("avg_logprob",
        col("score_micro").cast("double") / col("n_tokens") / lit(1000000.0))
      .withColumn("tert", ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("avg_logprob").desc, col("doc_id").asc)))
      .withColumn("bucket",
        when(col("tert") === 1, "head")
          .when(col("tert") === 2, "middle").otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("score_micro"), col("avg_logprob"), col("bucket"))
      .orderBy(col("doc_id").asc)
  }
  val q171Oracle: String = """
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
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
    scored AS (
      SELECT fi.doc_id, fi.lang, CAST(len(fi.t) AS BIGINT) AS n_tokens,
             CAST(ft.lp_first + COALESCE(ps.s_pairs, 0) AS BIGINT)
               AS score_micro
      FROM toks fi
      JOIN first_terms ft ON ft.w = fi.t[1]
      LEFT JOIN pair_score ps ON ps.doc_id = fi.doc_id),
    final AS (
      SELECT doc_id, lang, n_tokens, score_micro,
             CAST(score_micro AS DOUBLE) / n_tokens / 1000000.0 AS avg_logprob
      FROM scored)
    SELECT doc_id, lang, n_tokens, score_micro, avg_logprob,
      CASE NTILE(3) OVER (PARTITION BY lang
                          ORDER BY avg_logprob DESC, doc_id ASC)
        WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM final ORDER BY doc_id ASC"""

  // q182 — RAG passage retrieval: q168's BM25 at CHUNK granularity over
  // q167's fixed-window chunks — a RAG pipeline indexes and retrieves
  // passages, not documents, and this is that index's scoring pass.
  // Same exactness protocol as q168 (per-(chunk,term) weights combined
  // in a FIXED expression order; ln the only libm call) with df/avgdl
  // computed over the CHUNK collection; top-20 passages via
  // TakeOrderedAndProject with (doc_id, chunk_id) tie-breaks. Scale
  // shape: chunking is a pure map (q167), the term filter prunes before
  // any shuffle, df + stats broadcast back — the chunk corpus is
  // scanned once and never shuffled whole.
  def q182ChunkBm25(spark: SparkSession, dir: String): DataFrame = {
    val chunks = TextOps.windowChunks(Tables.documents(spark, dir),
      chunkSize = 32, stride = 16)
    val dl = chunks.select(col("doc_id"), col("chunk_id"),
      col("n_chunk_tokens").cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = chunks.select(col("doc_id"), col("chunk_id"),
        explode(TextOps.tokens(col("chunk_text"))).as("tok"))
      .filter(col("tok").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("chunk_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val w = tf.join(broadcast(dfs), Seq("tok"))
      .join(dl, Seq("doc_id", "chunk_id"))
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
          * col("tf") * 2.2
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val perTerm = bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("w"))).as(s"w$i")
    }
    w.groupBy(col("doc_id"), col("chunk_id"))
      .agg(perTerm.head, perTerm.tail :+ count(lit(1)).as("n_terms"): _*)
      .withColumn("score", bm25Terms.indices
        .map(i => coalesce(col(s"w$i"), lit(0.0))).reduce(_ + _))
      .select(col("doc_id"), col("chunk_id"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc, col("chunk_id").asc)
      .limit(20)
  }
  val q182Oracle: String = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    val sums = bm25Terms.map(t =>
      s"COALESCE(SUM(CASE WHEN tok = '$t' THEN w END), 0.0)").mkString(" + ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    cgen AS (
      SELECT doc_id, t, unnest(generate_series(0,
        (GREATEST(0, len(t) - 32) + 15) // 16)) AS chunk_id
      FROM toks),
    ch AS (
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
             t[chunk_id*16+1 : chunk_id*16+32] AS ct
      FROM cgen),
    dl AS (SELECT doc_id, chunk_id, CAST(len(ct) AS DOUBLE) AS dl FROM ch),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, chunk_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, chunk_id, unnest(ct) AS tok FROM ch)
      WHERE tok IN ($terms) GROUP BY doc_id, chunk_id, tok),
    dfs AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    w AS (
      SELECT doc_id, chunk_id, tok,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
      FROM tf JOIN dfs USING (tok) JOIN dl USING (doc_id, chunk_id)
      CROSS JOIN stats),
    bm AS (
      SELECT doc_id, chunk_id, COUNT(*) AS n_terms, $sums AS score
      FROM w GROUP BY doc_id, chunk_id)
    SELECT doc_id, chunk_id, n_terms, score FROM bm
    ORDER BY score DESC, doc_id ASC, chunk_id ASC LIMIT 20"""
  }

  // q184 — SURGICAL decontamination: scrub only the eval-overlapping
  // spans from corpus docs and keep the rest of the document — the
  // scalpel to q153/q175/q176's drop-the-doc hammer (a long doc with
  // one leaked benchmark question loses 8 tokens, not its other ten
  // thousand). Eval set = doc_id % 17 == 0 (q175's holdout convention);
  // its DISTINCT 8-gram fps broadcast onto the corpus's positioned
  // grams, flagged occurrences merge to maximal spans, docs rebuild
  // without the covered positions (the shared ExactSubstr tail — fully
  // contaminated docs vanish). Oracle replays with md5 fps; the engine
  // fp never leaves the plan.
  def q184ScrubEvalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps.scrubEvalOverlap(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0), n = dupSpanN)
      .orderBy(col("doc_id").asc)
  }
  val q184Oracle: String = {
    val n = dupSpanN
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % 17 <> 0),
    ev AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE doc_id % 17 = 0),
    eg AS (
      SELECT DISTINCT md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM (SELECT t, unnest(generate_series(1, len(t) - ${n - 1})) AS i
            FROM ev WHERE len(t) >= $n)),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(t) - ${n - 1})) AS i, t
      FROM toks WHERE len(t) >= $n),
    g2 AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM g),
    hits AS (
      SELECT g2.doc_id, g2.start, g2.start + ${n - 1} AS gram_end
      FROM g2 JOIN eg USING (fp)),
    isl AS (
      SELECT doc_id, start, gram_end,
        CASE WHEN start > COALESCE(MAX(gram_end) OVER (
            PARTITION BY doc_id ORDER BY start
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          THEN 1 ELSE 0 END AS new_span
      FROM hits),
    isl2 AS (
      SELECT doc_id, start, gram_end,
        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY start
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl),
    spans AS (
      SELECT doc_id, MIN(start) AS span_start, MAX(gram_end) AS span_end
      FROM isl2 GROUP BY doc_id, span_id)""" + scrubTail
  }

  // q185 — cross-source overlap matrix: for every 8-gram fingerprint
  // that appears in ≥2 sources, count it toward each (source_a ≤
  // source_b) pair that shares it — the dedup PROVENANCE view a corpus
  // release ships next to the q181 data card ("which sources duplicate
  // which", the basis for choosing what to drop and whom to attribute).
  // Distinct (fp, source) pairs first — a fingerprint repeated within a
  // source counts once — then the per-fp source-set self-joins; the
  // self-join is bounded by sources-per-fp (≤ |sources| = 20), never by
  // occurrences, so hot boilerplate cannot go quadratic in documents.
  def q185SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val n = dupSpanN
    val fps = Tables.documents(spark, dir)
      .select(col("source"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("source"),
        explode(expr(s"transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> array_join(slice(t, i, $n), ' '))")).as("gram"))
      .select(col("source"), xxhash64(col("gram")).as("fp"))
      .distinct()
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .orderBy(col("source_a").asc, col("source_b").asc)
  }
  val q185Oracle: String = {
    val n = dupSpanN
    s"""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents),
    fps AS (
      SELECT DISTINCT source,
             md5(array_to_string(t[i:i+${n - 1}], ' ')) AS fp
      FROM (SELECT source, t,
              unnest(generate_series(1, len(t) - ${n - 1})) AS i
            FROM toks WHERE len(t) >= $n))
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2 ORDER BY source_a ASC, source_b ASC"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_source_overlap" -> (q185SourceOverlap _),
    "q184_scrub_eval_overlap" -> (q184ScrubEvalOverlap _),
    "q182_chunk_bm25" -> (q182ChunkBm25 _),
    "q171_lm_perplexity" -> (q171LmPerplexity _),
    "q168_bm25_topk" -> (q168Bm25TopK _),
    "q169_hybrid_rrf" -> (q169HybridRrf _),
    "q167_window_chunks" -> (q167WindowChunks _),
    "q166_gopher_rules" -> (q166GopherRules _),
    "q165_span_ingest" -> (q165SpanIngest _),
    "q163_incremental_span_screen" -> (q163IncrementalSpanScreen _),
    "q164_scrub_keep_one" -> (q164ScrubKeepOne _),
    "q161_dup_span_stats" -> (q161DupSpanStats _),
    "q162_dup_span_scrub" -> (q162DupSpanScrub _),
    "q155_quality_model" -> (q155QualityModel _),
    "q150_dedup_on_ingest" -> (q150DedupOnIngest _),
    "q229_dedup_retention" -> (q229DedupRetention _),
    "q244_generational_retention" -> (q244GenerationalRetention _),
    "q148_setsim_join" -> (q148SetsimJoin _),
    "q125_regex_tokens" -> (q125RegexTokens _),
    "q93_dedup_clusters" -> (q93DedupClusters _),
    "q92_incremental_dedup" -> (q92IncrementalDedup _),
    "q153_decontaminate" -> (q153Decontaminate _),
    "q88_sequence_packing" -> (q88SequencePacking _),
    "q187_dedup_threshold_curve" -> (q187DedupThresholdCurve _),
    "q189_dedup_saturation" -> (q189DedupSaturation _),
    "q191_winnowing_sketch" -> (q191WinnowingSketch _),
    "q192_winnowing_pairs" -> (q192WinnowingPairs _),
    "q196_heavy_hitters" -> (q196HeavyHitters _),
    "q30_dedup_exact" -> (q30DedupExact _),
    "q31_text_quality" -> (q31TextQuality _),
    "q32_lang_profile" -> (q32LangProfile _),
    "q33_ngram_jaccard" -> (q33NgramJaccard _),
    "q34_minhash_lsh" -> (q34MinhashLsh _),
    "q35_token_topk" -> (q35TokenTopk _),
    "q36_langid_heuristic" -> (q36LangIdHeuristic _),
    "q37_simhash_dedup" -> (q37SimhashDedup _),
    "q38_fingerprint" -> (q38Fingerprint _))

  val oracles: Map[String, String] = Map(
    "q185_source_overlap" -> q185Oracle,
    "q184_scrub_eval_overlap" -> q184Oracle,
    "q182_chunk_bm25" -> q182Oracle,
    "q171_lm_perplexity" -> q171Oracle,
    "q168_bm25_topk" -> q168Oracle,
    "q169_hybrid_rrf" -> q169Oracle,
    "q167_window_chunks" -> q167Oracle,
    "q166_gopher_rules" -> q166Oracle,
    "q165_span_ingest" -> q165Oracle,
    "q163_incremental_span_screen" -> q163Oracle,
    "q164_scrub_keep_one" -> q164Oracle,
    "q161_dup_span_stats" -> q161Oracle,
    "q162_dup_span_scrub" -> q162Oracle,
    "q155_quality_model" -> q155Oracle,
    "q150_dedup_on_ingest" -> q150Oracle,
    "q229_dedup_retention" -> q229Oracle,
    "q244_generational_retention" -> q244Oracle,
    "q148_setsim_join" -> q148Oracle,
    "q125_regex_tokens" -> q125Oracle,
    "q93_dedup_clusters" -> q93Oracle,
    "q92_incremental_dedup" -> q92Oracle,
    "q153_decontaminate" -> q153Oracle,
    "q88_sequence_packing" -> q88Oracle,
    "q187_dedup_threshold_curve" -> q187Oracle,
    "q189_dedup_saturation" -> q189Oracle,
    "q191_winnowing_sketch" -> q191Oracle,
    "q192_winnowing_pairs" -> q192Oracle,
    "q196_heavy_hitters" -> q196Oracle,
    "q30_dedup_exact" -> q30Oracle,
    "q31_text_quality" -> q31Oracle,
    "q32_lang_profile" -> q32Oracle,
    "q33_ngram_jaccard" -> q33Oracle,
    "q34_minhash_lsh" -> q34Oracle,
    "q35_token_topk" -> q35Oracle,
    "q36_langid_heuristic" -> q36Oracle,
    "q37_simhash_dedup" -> q37Oracle,
    "q38_fingerprint" -> q38Oracle)
}
