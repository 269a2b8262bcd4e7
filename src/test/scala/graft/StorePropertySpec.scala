package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.sync.BucketedTableStore

/** Randomized differential test of the bucketed store's newest machinery:
  * seeded-random CDC sequences are replayed three ways — an in-memory
  * latest-wins model, the merge-on-read discipline (delta chains +
  * auto-compaction + bloom and zone-map sidecars riding every commit),
  * and the copy-on-write discipline — and all three must agree after
  * EVERY commit, not just at the end, so chains of every length and the
  * auto-compact boundary itself are exercised. The sidecar-pruned reads
  * (readWhereIn / readRange) are then checked against the model's own
  * filters: pruning must never change an answer under any random
  * history, including fingerprints that changed away (stale bloom bits)
  * and values that left a bucket's range (un-retightened zone maps).
  *
  * A deterministic generator loop stands in for ScalaCheck, as in
  * [[MergePropertySpec]] — same coverage, reproducible seeds.
  */
class StorePropertySpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1660000000000L
  private val keys = 12

  /** One batch: at most one change per key (the stage contract). */
  private def randomBatch(rnd: scala.util.Random): Map[Int, (String, Long)] =
    (0 until keys).flatMap { k =>
      rnd.nextInt(3) match {
        case 0 => None // key untouched this batch
        case 1 => Some(k -> ("REMOVE", 0L))
        case 2 => Some(k -> ("MODIFY", rnd.nextInt(1000).toLong))
      }
    }.toMap

  private def fp(id: Int, v: Long) = s"fp-$id-$v"

  private def stageDf(batch: Map[Int, (String, Long)]) =
    batch.toSeq.map { case (k, (ev, v)) => (k.toLong, fp(k, v), v, ev) }
      .toDF("id", "fp", "v", "eventName")

  private def storeRows(df: org.apache.spark.sql.DataFrame) =
    df.select($"id", $"fp", $"v").as[(Long, String, Long)].collect().toSet

  test("property: MOR+sidecars == CoW == model after every commit (6 seeds)") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      var model: Map[Int, Long] = (0 until keys).map(k => k -> 0L).toMap
      val init = model.toSeq.map { case (k, v) => (k.toLong, fp(k, v), v) }
        .toDF("id", "fp", "v")
        .withColumn("syncTimestamp", lit(new Timestamp(t0)))

      val (morRoot, cowRoot) = (tmpDir(s"sp-mor$seed"), tmpDir(s"sp-cow$seed"))
      val mor = new BucketedTableStore(spark, morRoot,
        nBuckets = 4, deltaMerges = true, autoCompactAfter = 2)
      val cow = new BucketedTableStore(spark, cowRoot, nBuckets = 4)
      mor.writeAll("t", init, "id", bloomCols = Seq("fp"), statsCols = Seq("v"))
      cow.writeAll("t", init, "id")

      for (step <- 1 to 4) {
        val batch = randomBatch(rnd)
        if (batch.nonEmpty) {
          val ts = new Timestamp(t0 + step * 60000L)
          mor.applyMerge("t", stageDf(batch), "id", ts)
          cow.applyMerge("t", stageDf(batch), "id", ts)
          model = batch.foldLeft(model) {
            case (m, (k, ("REMOVE", _))) => m - k
            case (m, (k, (_, v))) => m.updated(k, v)
          }
        }
        val want = model.map { case (k, v) => (k.toLong, fp(k, v), v) }.toSet
        assert(storeRows(mor.read("t").get) == want,
          s"seed=$seed step=$step MOR diverged from model")
        assert(storeRows(cow.read("t").get) == want,
          s"seed=$seed step=$step CoW diverged from model")
      }

      // sidecar-pruned reads vs the model's filters: live fingerprints,
      // a dead one (initial fp of a since-modified-or-removed key), and
      // an absent one
      val live = model.toSeq.sortBy(_._1).take(3).map { case (k, v) => fp(k, v) }
      val dead = (0 until keys).find(k => !model.get(k).contains(0L))
        .map(k => fp(k, 0L)).toSeq
      val probes = live ++ dead :+ "fp-absent"
      val gotIn = storeRows(mor.readWhereIn("t", "fp", probes).get)
      val wantIn = model.collect {
        case (k, v) if probes.contains(fp(k, v)) => (k.toLong, fp(k, v), v)
      }.toSet
      assert(gotIn == wantIn, s"seed=$seed bloom-pruned IN diverged")

      val (lo, hi) = (200L, 700L)
      val gotR = storeRows(mor.readRange("t", "v", lo, hi).get)
      val wantR = model.collect {
        case (k, v) if v >= lo && v <= hi => (k.toLong, fp(k, v), v)
      }.toSet
      assert(gotR == wantR, s"seed=$seed zone-map-pruned range diverged")
      Seq(morRoot, cowRoot).foreach { r =>
        val files = StoreKillSpec.unversionedFiles(java.nio.file.Paths.get(r, "t"))
        assert(files.isEmpty, s"seed=$seed unversioned table files: $files")
      }
    }
  }
}
