package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorOps
import graft.tables.Tables

/** Diagnostic main: per-query recall@10 of each ANN index (SRP-LSH, IVF,
  * PQ) against the exact brute-force baseline, at a given SF dir. This is
  * the measurement behind the recall bounds q42/q44/q129 assert
  * (VectorQueries.recallBound): whenever an index implementation or its
  * training inputs change, run this at sf0.01 (the correctness gate's SF)
  * and at the bench SF, and keep the asserted bound below the printed
  * minimum with explicit headroom.
  *
  *   sbt "runMain graft.AnnRecallProbe /root/testdata/sf0.01"
  *
  * A second arg `sweep` switches to the IVF-PQ tuning sweep used to pick
  * the q170 production params: it grids (nprobe, m, kCodes, rerank) and
  * prints min/mean recall per combination, so a gate raise is backed by a
  * measurement instead of a guess.
  */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val mode = args.drop(1).headOption.getOrElse("probe")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val exact = VectorOps.bruteForceTopK(q, emb, k = 10)
    if (mode == "graph") {
      // q242's quality read: set-recall@3 + cosine-mass ratio vs exact,
      // over the full query panel (vec_id % 16 == 0) — the measurement
      // behind the GraphAnnSpec gate and the scaladoc's quoted numbers
      val t0 = System.nanoTime()
      val walk = graft.queries.VectorQueries.q242GraphAnnSearch(spark, dir)
        .collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val qs = emb.filter(pmod(col("vec_id"), lit(16)) === 0)
      val ex = VectorOps.bruteForceTopK(qs, emb, k = 4)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id").asc)))
        .filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .collect()
      val exSet = ex.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      val exMass = ex.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getDouble(2)).sum).toMap
      val gotSet = walk.groupBy(_.getAs[Long]("query_id")).view
        .mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
      val gotMass = walk.groupBy(_.getAs[Long]("query_id")).view
        .mapValues(_.map(_.getAs[Double]("cosine")).sum).toMap
      val recalls = exSet.map { case (q, s) =>
        (gotSet.getOrElse(q, Set.empty) & s).size.toDouble / s.size }
      val ratios = exMass.map { case (q, m) => gotMass.getOrElse(q, 0.0) / m }
      println(f"[graph-ann] dir=$dir queries=${exSet.size} " +
        f"set-recall@3 mean=${recalls.sum / recalls.size}%.3f " +
        f"min=${recalls.min}%.2f  mass mean=${ratios.sum / ratios.size}%.3f " +
        f"p10=${ratios.toSeq.sorted.apply(ratios.size / 10)}%.3f  " +
        f"walk=${secs}%.1f s")
      spark.stop(); return
    }
    if (mode == "nlist") {
      // nlist sizing sweep behind VectorOps.sizedNlist: recall and probe
      // wall across the cell-count grid, with nprobe at the toy default,
      // at the √nlist companion rule, and at a constant scanned fraction.
      // A wider query panel than the 5-query gate (every 16th vector) so
      // min/mean are meaningful; the quantizer memoizes per (nlist,seed)
      // so each row pays one train + one probe.
      val qs = emb.filter(pmod(col("vec_id"), lit(16)) === 0)
      val exactW = VectorOps.bruteForceTopK(qs, emb, k = 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exactW.count()
      val n = emb.count()
      println(s"[nlist-sweep] dir=$dir corpus=$n sizedNlist=" +
        s"${VectorOps.sizedNlist(n)} sizedNprobe=" +
        s"${VectorOps.sizedNprobe(VectorOps.sizedNlist(n))}")
      for {
        nlist <- Seq(16, 64, 128, 256)
        nprobe <- Seq(8, VectorOps.sizedNprobe(nlist), nlist / 2).distinct
          .filter(p => p >= 1 && p <= nlist)
      } {
        val t0 = System.nanoTime()
        val approx = VectorOps.ivfTopK(spark, qs, emb, k = 10,
          nlist = nlist, nprobe = nprobe, indexKey = Some(dir))
        val rec = VectorOps.recallAgainst(approx, exactW)
          .orderBy(col("query_id")).collect().map(_.getDouble(1))
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[nlist-sweep] nlist=$nlist%4d nprobe=$nprobe%3d " +
          f"frac=${nprobe.toDouble / nlist}%.3f min=${rec.min}%.2f " +
          f"mean=${rec.sum / rec.length}%.3f  ${secs}%5.1f s")
      }
      exactW.unpersist()
      spark.stop(); return
    }
    if (mode == "sweep-pq") {
      for {
        m <- Seq(8, 16)
        kCodes <- Seq(32, 64)
        rerank <- Seq(100, 200, 400)
      } {
        val approx = VectorOps.pqTopK(spark, q, emb, k = 10,
          m = m, kCodes = kCodes, rerank = rerank)
        val rec = VectorOps.recallAgainst(approx, exact)
          .orderBy(col("query_id")).collect().map(_.getDouble(1))
        println(f"[pq-sweep] m=$m kCodes=$kCodes rerank=$rerank " +
          f"min=${rec.min}%.2f mean=${rec.sum / rec.length}%.2f")
      }
      spark.stop(); return
    }
    if (mode == "sweep") {
      for {
        nprobe <- Seq(8, 10, 12)
        m <- Seq(8, 16)
        kCodes <- Seq(32, 64)
        rerank <- Seq(100, 200, 400)
      } {
        val approx = VectorOps.ivfPqTopK(spark, q, emb, k = 10,
          nprobe = nprobe, m = m, kCodes = kCodes, rerank = rerank)
        val rec = VectorOps.recallAgainst(approx, exact)
          .orderBy(col("query_id")).collect().map(_.getDouble(1))
        println(f"[ivfpq-sweep] nprobe=$nprobe m=$m kCodes=$kCodes " +
          f"rerank=$rerank min=${rec.min}%.2f mean=${rec.sum / rec.length}%.2f")
      }
      spark.stop(); return
    }
    Seq(
      "srp-lsh" -> VectorOps.lshTopK(q, emb, k = 10),
      "ivf" -> VectorOps.ivfTopK(spark, q, emb, k = 10),
      "pq" -> VectorOps.pqTopK(spark, q, emb, k = 10),
      "ivfpq" -> VectorOps.ivfPqTopK(spark, q, emb, k = 10),
      // q237's add-after-train tier: base-trained frozen quantizer,
      // appends assigned without retrain — re-measure when the split or
      // quantizer discipline changes. Both the plain and the
      // spill-re-assigned (q237's production config) variants print, so
      // the drift price AND the spill recovery are both on record.
      "ivf-app" -> VectorOps.ivfTopKAppend(spark, q,
        emb.filter(pmod(col("vec_id"), lit(4)) =!= 3),
        emb.filter(pmod(col("vec_id"), lit(4)) === 3), k = 10),
      "ivf-app-spill2" -> VectorOps.ivfTopKAppend(spark, q,
        emb.filter(pmod(col("vec_id"), lit(4)) =!= 3),
        emb.filter(pmod(col("vec_id"), lit(4)) === 3), k = 10,
        spillAppend = 2)
    ).foreach { case (name, approx) =>
      val rec = VectorOps.recallAgainst(approx, exact)
        .orderBy(col("query_id")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val detail = rec.map { case (id, r) => f"q$id=$r%.2f" }.mkString(" ")
      println(f"[ann-recall] $name%-8s dir=$dir min=${rec.map(_._2).min}%.3f  $detail")
    }
    spark.stop()
  }
}
