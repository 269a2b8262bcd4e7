package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sync.{BucketedTableStore, LocalFs}
import graft.tables.Tables

/** Dataset-governance operators: the auditability layer a production
  * corpus needs once it is a versioned, regulated artifact rather than a
  * one-shot dump —
  *
  *   - q233: corpus version DIFF (what changed between release v0 and v1:
  *     adds, takedowns, re-crawls — the churn report a data card cites),
  *     read through the store's retained snapshots (q149's time travel,
  *     here as the input to an audit instead of a point read);
  *   - q235: deletion PROPAGATION (right-to-be-forgotten): a forget-set
  *     of documents is removed from the corpus AND every derived
  *     artifact — chunks, dedup index (with owner re-election), shard
  *     manifest — with a per-artifact audit proving zero residuals;
  *   - q238: differentially-private count RELEASE (the geometric
  *     mechanism at ε = ln 2, sampled purely in integers from md5 bits
  *     so the release is deterministic and hash-checks cross-engine) —
  *     the publish-outside-the-boundary protocol next to q220's
  *     k-anonymity.
  *
  * Both run their mutation through [[BucketedTableStore]] versions (one
  * bucket, each table keyed by its natural key), so
  * the BEFORE state stays readable for the audit (and for regulators) —
  * the same reason transactional table formats retain snapshots. All
  * checksums/hashes are md5-derived (exact hex/int on both engines), so
  * the full audit frames hash-check against the DuckDB oracle.
  *
  * Scale shape: every diff/propagation step is an equi-join or
  * anti-join on doc_id / content-hash — bucket-colocatable at 100 TB
  * (q230's layout; BucketedTableStore prunes the probe side) — and the
  * audit outputs are per-source / per-artifact aggregates, never
  * row-level dumps. The only collect is the ≤(sources×4 | 4)-row audit
  * frame itself, materialized so the temp stores can be deleted before
  * returning (q23's discipline).
  */
object GovernanceQueries {

  /** Full md5 hex of the document text — the content identity used by
    * both governance queries (DuckDB: `md5(text)`). */
  private def chash(c: Column): Column = md5(c.cast("binary"))

  /** 60-bit integer view of the content hash for XOR checksums
    * (q157's manifest spelling). */
  private def chashInt(c: Column): Column =
    conv(substring(chash(c), 1, 15), 16, 10).cast("long")

  // -----------------------------------------------------------------
  // q233 — corpus version diff: release v0 (chars ≥ 300) vs release v1
  // (floor loosened to ≥ 250 = ADDS; every 11th doc taken down =
  // REMOVES; every 7th re-crawled with new content = CHANGES). Both
  // releases are written as store versions and read BACK via the
  // version pointers (v0 through time travel), then full-outer-joined
  // on doc_id into the churn report a release audit publishes.
  def q233CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-q233-store").toString
    try {
      val store = new BucketedTableStore(spark, root, nBuckets = 1)
      store.writeAll("corpus", corpusV0(spark, dir), "doc_id")
      store.writeAll("corpus", corpusV1(spark, dir), "doc_id")
      val v0 = store.readAtManifest("corpus", 0).get
      val v1 = store.read("corpus").get
      val joined = v0.select(col("doc_id"), col("source").as("src0"),
          col("chash").as("h0"))
        .join(v1.select(col("doc_id"), col("source").as("src1"),
          col("chash").as("h1")), Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h0").isNull, lit("added"))
            .when(col("h1").isNull, lit("removed"))
            .when(col("h0") =!= col("h1"), lit("changed"))
            .otherwise(lit("unchanged")))
        .withColumn("source", coalesce(col("src1"), col("src0")))
      val report = joined.groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source").asc, col("status").asc)
      val rows = report.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
    } finally LocalFs.deleteRecursively(Paths.get(root))
  }

  private def corpusV0(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("n_chars") >= 300)
      .select(col("doc_id"), col("source"), chash(col("text")).as("chash"))

  private def corpusV1(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("n_chars") >= 250)
      .filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id"), col("source"),
        chash(when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
          .as("chash"))

  val q233Oracle: String = """
    WITH v0 AS (
      SELECT doc_id, source, md5(text) AS chash
      FROM documents WHERE n_chars >= 300),
    v1 AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                      ELSE text END) AS chash
      FROM documents WHERE n_chars >= 250 AND doc_id % 11 <> 0),
    j AS (
      SELECT COALESCE(v1.source, v0.source) AS source,
        CASE WHEN v0.doc_id IS NULL THEN 'added'
             WHEN v1.doc_id IS NULL THEN 'removed'
             WHEN v0.chash <> v1.chash THEN 'changed'
             ELSE 'unchanged' END AS status
      FROM v0 FULL OUTER JOIN v1 USING (doc_id))
    SELECT source, status, COUNT(*) AS n_docs
    FROM j GROUP BY source, status
    ORDER BY source ASC, status ASC"""

  // -----------------------------------------------------------------
  // q235 — deletion propagation: every 13th doc_id is a forget request.
  // v0 of four artifacts (corpus, 32-token chunks, dedup index keyed on
  // content hash with min-doc_id owner, 8-shard XOR manifest) is
  // written to the store; the forget-set then propagates — corpus and
  // chunks by anti-join, index and manifest by recompute-over-survivors
  // (the index re-ELECTS an owner when the old one is forgotten; the
  // manifest's checksums shift wherever a shard lost docs). The audit
  // frame proves it: rows before/after, rows touched, and a residual
  // count (v1 rows still referencing a forgotten doc) that must be 0.
  def q235ForgetPropagation(spark: SparkSession, dir: String): DataFrame = {
    val root = Files.createTempDirectory("graft-q235-store").toString
    try {
      val store = new BucketedTableStore(spark, root, nBuckets = 1)
      // chunks are keyed by their document: a document's chunks share a bucket
      val keys = Map("corpus" -> "doc_id", "chunks" -> "doc_id",
        "dedup_index" -> "chash", "manifest" -> "shard")
      def write(t: String, df: DataFrame): Unit = store.writeAll(t, df, keys(t))
      def live(t: String): DataFrame = store.read(t).get.drop("_bucket")
      def before(t: String): DataFrame = store.readAtManifest(t, 0).get.drop("_bucket")
      val base = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("chash", chash(col("text")))
        .withColumn("hnum", chashInt(col("text")))
      val corpus0 = base.select("doc_id", "source", "chash")
      val chunks0 = base
        .withColumn("t", graft.operators.TextOps.tokens(col("text")))
        .withColumn("n_chunks",
          ceil(size(col("t")).cast("double") / 32.0).cast("long"))
        .select(col("doc_id"),
          explode(sequence(lit(1L), col("n_chunks"))).as("chunk_id"),
          col("t"))
        .withColumn("n_toks",
          least(lit(32L), size(col("t")) - (col("chunk_id") - 1) * 32))
        .drop("t")
      def index(c: DataFrame): DataFrame = c.groupBy(col("chash"))
        .agg(min(col("doc_id")).as("owner"), count(lit(1)).as("n_dups"))
      def manifest(c: DataFrame): DataFrame = c
        .withColumn("shard", pmod(col("doc_id"), lit(8L)).cast("int"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(doc_id)").as("id_checksum"),
          expr("bit_xor(hnum)").as("content_checksum"))
      val withH = (c: DataFrame) => c.join(
        base.select(col("doc_id"), col("hnum")), Seq("doc_id"))
      write("corpus", corpus0)
      write("chunks", chunks0)
      write("dedup_index", index(corpus0))
      write("manifest", manifest(withH(corpus0)))

      val forget = base.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(col("doc_id"))
      val corpus1 = live("corpus").join(forget, Seq("doc_id"), "left_anti")
      val chunks1 = live("chunks").join(forget, Seq("doc_id"), "left_anti")
      write("corpus", corpus1)
      write("chunks", chunks1)
      write("dedup_index", index(live("corpus")))
      write("manifest", manifest(withH(live("corpus"))))

      val corpusTouched = before("corpus")
        .join(forget, Seq("doc_id"), "left_semi")
      val chunksTouched = before("chunks")
        .join(forget, Seq("doc_id"), "left_semi")
      val idx0 = before("dedup_index")
        .select(col("chash"), col("owner").as("owner0"))
      val idx1 = live("dedup_index")
        .select(col("chash"), col("owner").as("owner1"))
      val idxTouched = idx0.join(idx1, Seq("chash"), "left_outer")
        .filter(col("owner1").isNull || col("owner0") =!= col("owner1"))
      val man0 = before("manifest")
      val man1 = live("manifest")
      val manTouched = man0.select(col("shard"), col("n_docs").as("n0"),
          col("id_checksum").as("i0"), col("content_checksum").as("c0"))
        .join(man1, Seq("shard"), "left_outer")
        .filter(col("n_docs").isNull || col("n0") =!= col("n_docs") ||
          col("i0") =!= col("id_checksum") ||
          col("c0") =!= col("content_checksum"))
      val forgetIds = forget
      // All fifteen audit counts in ONE action: each audited frame is
      // tagged (artifact, metric) and union-aggregated, so the scans and
      // joins behind all of them share a single Spark job instead of one
      // count() action apiece — the former 15-action tail was pure
      // scheduler floor at bench scale and 15 sequential passes at any
      // scale. The values (and the literal-report construction below)
      // are byte-identical to the per-count original.
      def tagged(artifact: String, metric: String, df: DataFrame) =
        df.select(lit(artifact).as("artifact"), lit(metric).as("metric"))
      val counted = Seq(
          tagged("corpus", "rows_before", before("corpus")),
          tagged("corpus", "rows_after", live("corpus")),
          tagged("corpus", "n_touched", corpusTouched),
          tagged("corpus", "residual",
            live("corpus").join(forgetIds, Seq("doc_id"), "left_semi")),
          tagged("chunks", "rows_before", before("chunks")),
          tagged("chunks", "rows_after", live("chunks")),
          tagged("chunks", "n_touched", chunksTouched),
          tagged("chunks", "residual",
            live("chunks").join(forgetIds, Seq("doc_id"), "left_semi")),
          tagged("dedup_index", "rows_before", before("dedup_index")),
          tagged("dedup_index", "rows_after", live("dedup_index")),
          tagged("dedup_index", "n_touched", idxTouched),
          tagged("dedup_index", "residual",
            live("dedup_index")
              .join(forgetIds, col("owner") === col("doc_id"), "left_semi")),
          tagged("manifest", "rows_before", before("manifest")),
          tagged("manifest", "rows_after", live("manifest")),
          tagged("manifest", "n_touched", manTouched))
        .reduce(_.unionByName(_))
        .groupBy(col("artifact"), col("metric")).agg(count(lit(1)).as("v"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        .withDefaultValue(0L) // an empty audited frame yields no group
      def audit(name: String): DataFrame =
        spark.range(1).select(
          lit(name).as("artifact"),
          lit(counted((name, "rows_before"))).as("rows_before"),
          lit(counted((name, "rows_after"))).as("rows_after"),
          lit(counted((name, "n_touched"))).as("n_touched"),
          // shard rows carry no doc ids — manifest residual is structural 0
          lit(if (name == "manifest") 0L else counted((name, "residual")))
            .as("residual"))
      val report = audit("corpus")
        .unionByName(audit("chunks"))
        .unionByName(audit("dedup_index"))
        .unionByName(audit("manifest"))
        .orderBy(col("artifact").asc)
      val rows = report.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
    } finally LocalFs.deleteRecursively(Paths.get(root))
  }

  val q235Oracle: String = """
    WITH base AS (
      SELECT doc_id, source, text, md5(text) AS chash,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS hnum,
             len(string_split(text, ' ')) AS n_toks_doc
      FROM documents),
    forget AS (SELECT doc_id FROM base WHERE doc_id % 13 = 0),
    corpus0 AS (SELECT doc_id, chash FROM base),
    corpus1 AS (SELECT doc_id, chash FROM base
                WHERE doc_id NOT IN (SELECT doc_id FROM forget)),
    chunks0 AS (
      SELECT doc_id, unnest(generate_series(1,
        CAST(ceil(n_toks_doc / 32.0) AS BIGINT))) AS chunk_id
      FROM base),
    chunks1 AS (SELECT * FROM chunks0
                WHERE doc_id NOT IN (SELECT doc_id FROM forget)),
    idx0 AS (SELECT chash, MIN(doc_id) AS owner FROM corpus0 GROUP BY chash),
    idx1 AS (SELECT chash, MIN(doc_id) AS owner FROM corpus1 GROUP BY chash),
    man0 AS (
      SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
             bit_xor(b.doc_id) AS i_ck, bit_xor(hnum) AS c_ck
      FROM corpus0 JOIN base b USING (doc_id) GROUP BY 1),
    man1 AS (
      SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
             bit_xor(b.doc_id) AS i_ck, bit_xor(hnum) AS c_ck
      FROM corpus1 JOIN base b USING (doc_id) GROUP BY 1)
    SELECT 'corpus' AS artifact,
      (SELECT COUNT(*) FROM corpus0) AS rows_before,
      (SELECT COUNT(*) FROM corpus1) AS rows_after,
      (SELECT COUNT(*) FROM corpus0 WHERE doc_id IN (SELECT doc_id FROM forget)) AS n_touched,
      (SELECT COUNT(*) FROM corpus1 WHERE doc_id IN (SELECT doc_id FROM forget)) AS residual
    UNION ALL
    SELECT 'chunks',
      (SELECT COUNT(*) FROM chunks0),
      (SELECT COUNT(*) FROM chunks1),
      (SELECT COUNT(*) FROM chunks0 WHERE doc_id IN (SELECT doc_id FROM forget)),
      (SELECT COUNT(*) FROM chunks1 WHERE doc_id IN (SELECT doc_id FROM forget))
    UNION ALL
    SELECT 'dedup_index',
      (SELECT COUNT(*) FROM idx0),
      (SELECT COUNT(*) FROM idx1),
      (SELECT COUNT(*) FROM idx0 o LEFT JOIN idx1 n USING (chash)
       WHERE n.chash IS NULL OR o.owner <> n.owner),
      (SELECT COUNT(*) FROM idx1 WHERE owner IN (SELECT doc_id FROM forget))
    UNION ALL
    SELECT 'manifest',
      (SELECT COUNT(*) FROM man0),
      (SELECT COUNT(*) FROM man1),
      (SELECT COUNT(*) FROM man0 o LEFT JOIN man1 n USING (shard)
       WHERE n.shard IS NULL OR o.n_docs <> n.n_docs
          OR o.i_ck <> n.i_ck OR o.c_ck <> n.c_ck),
      0
    ORDER BY artifact ASC"""

  // -----------------------------------------------------------------
  // q238 — differentially-private count release: per-(source, lang) doc
  // counts published under the GEOMETRIC MECHANISM (Ghosh, Roughgarden
  // & Sundararajan 2009 — the discrete analogue of Laplace, and the
  // optimal mechanism for sensitivity-1 counting queries). Next to
  // q220's k-anonymity (suppress + floor) this is the other standard
  // release protocol: publish EVERY cell, but perturbed with two-sided
  // geometric noise calibrated to the query's sensitivity.
  //
  // The whole release is DETERMINISTIC and pure-integer, so it
  // hash-checks cross-engine with zero libm calls:
  //   - each cell's randomness is the 60-bit integer of
  //     md5('q238|' || salt || '|' || source || '|' || lang). THE SALT
  //     IS THE GUARANTEE: with the benchmark's salt = "" the seed is
  //     derivable from the published cell labels, so anyone can
  //     reconstruct the noise and recover n_true exactly — the ε = ln 2
  //     bound below is VOID for that configuration (it exists only so
  //     the release hash-checks against the DuckDB oracle). A real
  //     release MUST pass a salt kept secret from every reader (or use
  //     true randomness); secrecy of the per-cell noise bits is what
  //     the DP accounting assumes. GovernanceSpec's refNoise
  //     demonstrates the attack on the public-seed configuration.
  //   - noise = G1 − G2 with Gi ~ Geometric(1/2) (failures before first
  //     success): the difference of two iid geometrics is EXACTLY the
  //     two-sided geometric with decay α = 1/2, i.e. ε = ln(1/α) = ln 2;
  //   - each Gi is the count of trailing zeros of a 30-bit hash half —
  //     bit i is an independent fair coin, so P(ctz = t) = 2^-(t+1):
  //     Geometric(1/2) exactly. ctz(x) = length(bin(x & −x)) − 1, and
  //     OR-ing bit 30 in first caps the tail at 30 (mass 2^-30) AND
  //     guards x = 0 — one expression, both engines.
  //   - released = max(count + noise, 0): clamping is post-processing,
  //     which never degrades the DP guarantee.
  // Every document lands in exactly one (source, lang) cell, so the
  // per-cell sensitivity is 1 and PARALLEL composition makes the whole
  // table ε = ln 2.
  //
  // Scale shape: ONE corpus scan partial-aggregated to the bounded
  // (source × lang) grid; the noise is a per-row projection over that
  // tiny frame — no join, no second shuffle, nothing driver-side. At
  // 100 TB this is exactly the histogram-release pass a privacy team
  // runs over the crawl ledger.
  def q238DpRelease(spark: SparkSession, dir: String): DataFrame =
    q238DpRelease(spark, dir, salt = "")

  /** The release with the noise salt exposed. `salt = ""` is the
    * benchmark's replayable (and therefore NOT private) configuration;
    * production passes a secret salt — same plan, same cost, and the
    * ε = ln 2 guarantee actually holds because readers cannot
    * reconstruct the per-cell noise. */
  def q238DpRelease(spark: SparkSession, dir: String, salt: String)
      : DataFrame = {
    def ctz(x: Column): Column = length(bin(x.bitwiseAND(lit(0L) - x))) - 1
    val bit30 = lit(1L << 30)
    val h = conv(substring(md5(concat(lit(s"q238|$salt|"), col("source"),
      lit("|"), col("lang"))), 1, 15), 16, 10).cast("long")
    Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("h", h)
      .withColumn("noise",
        (ctz(col("h").bitwiseAND(bit30 - 1).bitwiseOR(bit30)) -
          ctz(shiftright(col("h"), 30).bitwiseOR(bit30))).cast("long"))
      .select(col("source"), col("lang"),
        greatest(col("n_true") + col("noise"), lit(0L)).as("n_released"))
      .orderBy(col("source").asc, col("lang").asc)
  }
  val q238Oracle: String = """
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS n_true,
             ('0x' || substr(md5('q238||' || source || '|' || lang), 1, 15))::BIGINT AS h
      FROM documents GROUP BY source, lang),
    noised AS (
      SELECT source, lang, n_true,
        (length(bin(((h & 1073741823) | 1073741824) &
                    -((h & 1073741823) | 1073741824))) - 1)
        - (length(bin(((h >> 30) | 1073741824) &
                      -((h >> 30) | 1073741824))) - 1) AS noise
      FROM counts)
    SELECT source, lang,
           CAST(greatest(n_true + noise, 0) AS BIGINT) AS n_released
    FROM noised
    ORDER BY source ASC, lang ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q233_corpus_diff" -> (q233CorpusDiff _),
    "q235_forget_propagation" -> (q235ForgetPropagation _),
    "q238_dp_release" -> ((s: SparkSession, d: String) => q238DpRelease(s, d)))

  val oracles: Map[String, String] = Map(
    "q233_corpus_diff" -> q233Oracle,
    "q235_forget_propagation" -> q235Oracle,
    "q238_dp_release" -> q238Oracle)
}
