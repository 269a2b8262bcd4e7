package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join utilities for the shapes that break at 100 TB: skewed keys and
  * repeated co-located joins.
  */
object JoinOps {

  /** Salted inner equi-join for skewed keys: the large (skewed) side gets
    * a random-ish salt in [0, saltFactor); the small side is exploded
    * `saltFactor`× so every (key, salt) pair matches. One hot key spreads
    * over `saltFactor` reducers instead of melting one.
    *
    * The salt is derived deterministically (hash of the whole large-side
    * row) so results are reproducible; semantically the join output is
    * identical to the unsalted join — JoinOpsSpec proves it. AQE's skew
    * handling covers sort-merge joins automatically; explicit salting
    * remains necessary for skewed aggregations and for deterministic
    * partition sizing.
    */
  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val saltedLarge = large.withColumn("_salt",
      pmod(xxhash64(struct(large.columns.map(col).toIndexedSeq: _*)), lit(saltFactor)))
    val saltedSmall = small
      .withColumn("_salt", explode(sequence(lit(0L), lit(saltFactor - 1L))))
    saltedLarge.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Register two frames as bucketed+sorted tables on the join key and
    * return them re-read: subsequent equi-joins on `key` are co-located —
    * no shuffle on either side (the plan shows no Exchange above the
    * scans). This is the DISTKEY story for repeatedly-joined big tables:
    * pay the partitioning once at write time.
    */
  def bucketize(spark: SparkSession, dfs: Map[String, DataFrame], key: String,
      buckets: Int): Map[String, DataFrame] = {
    dfs.map { case (name, df) =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // DROP clears the catalog entry but a previous session may have left
      // the managed location behind, which saveAsTable refuses to reuse
      val warehouse = java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      val loc = java.nio.file.Paths.get(warehouse, name)
      graft.sync.LocalFs.deleteRecursively(loc)
      df.write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet")
        .saveAsTable(name)
      name -> spark.table(name)
    }
  }

  /** Backward as-of join: for every left row, attach the latest right row
    * with the same key and `right.ts <= left.ts` (NULLs when none), the
    * trades↔quotes temporal-join shape.
    *
    * NOT a join under the hood: both sides are tagged and unioned, then a
    * single `last(_, ignoreNulls)` running window per key carries the most
    * recent right payload forward onto each left row. One shuffle on the
    * key, O(1) window state, and no per-key row blowup — a join-based
    * formulation (range join + max) re-pairs every left row with every
    * earlier right row first, which is quadratic in events-per-key and is
    * exactly what dies at 100 TB. Right rows order before left rows at
    * equal ts (a right row AT the left timestamp matches), and
    * `tiebreak` resolves multiple right rows on one (key, ts): the
    * highest tiebreak value wins, matching the oracle's
    * `arg_max(payload, tiebreak)` spelling.
    *
    * @param rightPayload right columns carried onto left rows (they keep
    *        their names — must not collide with left's)
    * @param tolerance max staleness in the ts column's native units (the
    *        feature-store point-in-time bound): a match older than
    *        `left.ts - tolerance` is treated as no match (payload NULLs).
    *        The carried match keeps its timestamp inside the window
    *        payload, so the bound is a post-window projection — same one
    *        shuffle, same O(1) state.
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame, key: Seq[String],
      ts: String, rightPayload: Seq[String], tiebreak: String,
      tolerance: Option[Long] = None): DataFrame = {
    require(!rightPayload.contains("_rts"), "_rts is reserved")
    val keyCols = key.map(col)
    // the match timestamp rides in the payload ONLY when a staleness
    // bound needs it — tolerance-less callers don't pay the extra field
    // through the union/shuffle/window pipeline
    val payloadCols =
      if (tolerance.isDefined) rightPayload.map(col) :+ col(ts).as("_rts")
      else rightPayload.map(col)
    val payload = struct(payloadCols: _*)
    val rightTagged = right.select(
      keyCols :+ col(ts) :+ lit(0).as("_side") :+ col(tiebreak).as("_tb") :+
        payload.as("_r"): _*)
    val leftStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val leftTagged = left.select(
      keyCols :+ col(ts) :+ lit(1).as("_side") :+
        lit(null).cast(rightTagged.schema("_tb").dataType).as("_tb") :+
        lit(null).cast(rightTagged.schema("_r").dataType).as("_r") :+
        leftStruct.as("_l"): _*)
    val unioned = rightTagged
      .withColumn("_l", lit(null).cast(leftTagged.schema("_l").dataType))
      .unionByName(leftTagged)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(ts).asc, col("_side").asc, col("_tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outPayload = tolerance match {
      case Some(t) => rightPayload.map(c =>
        when(col("_m._rts") >= col(ts) - t, col(s"_m.$c")).as(c))
      case None => rightPayload.map(c => col(s"_m.$c").as(c))
    }
    unioned
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(col("_l.*") +: outPayload: _*)
  }

  /** Set-similarity join: (left row, right row) pairs whose word n-gram
    * shingle sets reach `threshold` Jaccard — the q33/q34 dedup pipeline
    * (signature → band → candidate → exact verify) lifted into a reusable
    * two-table operator, e.g. new-batch-vs-corpus screening or cross-source
    * contamination checks.
    *
    * Stages, each scale-bounded:
    *  1. MinHash signatures per side (one corpus pass each, map-side
    *     partial agg — the shuffle carries one signature row per doc).
    *  2. LSH band buckets; candidates = pairs sharing ≥1 (band, bucket) —
    *     an equi-join, so only bucket collisions shuffle, never the
    *     left × right product.
    *  3. Exact verify: candidates join back to the hashed shingle sets,
    *     intersection counts are exact integers, and `jaccard =
    *     inter / (n_left + n_right - inter)` filters at `threshold`.
    * Verified output is exact for every emitted pair; recall is the LSH
    * bound (pairs colliding in no band are never considered — the knob is
    * numHashes/rowsPerBand, same trade q34 documents).
    *
    * Caching contract: the hashed shingle frames (one per side) are
    * persisted for the build only — the thresholded pair result is
    * materialized eagerly and both frames released before returning
    * ([[graft.operators.Materialize.thenRelease]]), so the operator
    * leaves no cached blocks behind.
    *
    * Output: (left_id, right_id, inter, n_left, n_right, jaccard). */
  def setSimilarityJoin(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3,
      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // shingling/signatures are compute-bound: spread by row, not by the
    // scan's byte splits
    def prep(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
    val l = prep(left)
    val r = prep(right)
    def hashedShingles(df: DataFrame, outId: String) = df
      .select(col("doc_id").as(outId),
        explode(TextOps.shingles(TextOps.tokens(col("text")), n)).as("s"))
      .select(col(outId), xxhash64(col("s")).as("shingle"))
      .persist(StorageLevel.MEMORY_AND_DISK) // 2 consumers: counts + verify
    val shL = hashedShingles(l, "left_id")
    val shR = hashedShingles(r, "right_id")
    def bands(df: DataFrame, outId: String) =
      TextOps.lshBands(TextOps.minhashSignatures(df, n, numHashes),
        numHashes, rowsPerBand)
        .select(col("doc_id").as(outId), col("band"), col("bucket"))
    val cand = bands(l, "left_id")
      .join(bands(r, "right_id"), Seq("band", "bucket"))
      .select(col("left_id"), col("right_id")).distinct()
    val inter = cand
      .join(shL, Seq("left_id"))
      .join(shR, Seq("right_id", "shingle"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("inter"))
    val nL = shL.groupBy(col("left_id")).agg(count(lit(1)).as("n_left"))
    val nR = shR.groupBy(col("right_id")).agg(count(lit(1)).as("n_right"))
    val verified = inter.join(nL, Seq("left_id")).join(nR, Seq("right_id"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_left") + col("n_right") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("inter"),
        col("n_left"), col("n_right"), col("jaccard"))
    Materialize.thenRelease(verified, shL, shR)
  }

  /** Band/interval join: pair each point row with every range row whose
    * `[start, end)` contains `point` (all three are longs, e.g. epoch ms).
    *
    * A naive inequality join has no equi-key, so Spark plans a broadcast
    * nested loop — O(points × ranges). This instead quantizes time into
    * `bucketWidth` buckets: each range explodes to the buckets it covers,
    * each point hashes to one bucket, and the pairing becomes an
    * *equi-join* on bucket plus a residual containment filter. Shuffle
    * volume is points + Σ range-spans/bucketWidth, not the cross product;
    * pick `bucketWidth` near the typical range length so ranges explode
    * to O(1) buckets each.
    */
  def rangeJoin(points: DataFrame, ranges: DataFrame, pointCol: String,
      startCol: String, endCol: String, bucketWidth: Long): DataFrame = {
    // end > start guard: Spark's sequence(a, b) with b < a generates a
    // DESCENDING sequence, so one malformed range row would explode to
    // ~(start-end)/width spurious buckets (or blow the array limit)
    // instead of zero. Empty array -> explode drops the row.
    val buckets = when(col(endCol) > col(startCol),
      sequence(col(startCol).divide(bucketWidth).cast("long"),
        (col(endCol) - 1).divide(bucketWidth).cast("long")))
      .otherwise(array().cast("array<bigint>"))
    val expanded = ranges.withColumn("_bucket", explode(buckets))
    val bucketed = points.withColumn("_bucket",
      col(pointCol).divide(bucketWidth).cast("long"))
    bucketed.join(expanded, Seq("_bucket"))
      .filter(col(startCol) <= col(pointCol) && col(pointCol) < col(endCol))
      .drop("_bucket")
  }
}
