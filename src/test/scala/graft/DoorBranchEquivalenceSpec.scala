package graft

import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{MediaDedupIngest, SemanticDedupIngest}
import graft.sync.{BucketedTableStore, LocalFs}

/** The cell-blocked doors' decide() has TWO physical plans behind one
  * semantics: the broadcast-nominee path (capped side ≤ cells × MaxCell
  * rows — the default) and the ids-only shuffle path (the wide-banding
  * guard for configs past the broadcast bound). The default config
  * always broadcasts, so without this spec the shuffle branch would be
  * DEAD CODE shipped untested; here both branches run on the same data
  * (the bound injected as 0 forces ids-only) and the decisions must be
  * identical — the guarantee the `maxBroadcastNominees` guard claims. */
class DoorBranchEquivalenceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("semantic door: broadcast and ids-only decide branches agree") {
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(4)) <= 1)
    val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 2)
    val root = java.nio.file.Files.createTempDirectory("door-eq-sem").toString
    try {
      val store = new BucketedTableStore(spark, root, 16,
        deltaMerges = true, autoCompactAfter = 4)
      SemanticDedupIngest.seedIndex(store, corpus,
        new Timestamp(1660000000000L), bands = 16, dimsPerBand = 4)
      val probe = SemanticDedupIngest.bandRows(batch, 16, 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def decisions(bound: Long): Map[Long, (Int, Int)] =
        SemanticDedupIngest.decide(store, batch, probe, 1L, tau = 0.45,
          bands = 16, dimsPerBand = 4, maxBroadcastNominees = bound)
          .collect().map(r => r.getAs[Long]("vec_id") ->
            ((r.getAs[Int]("near_dup"), r.getAs[Int]("admitted")))).toMap
      val bcast = decisions(Long.MaxValue)
      val idsOnly = decisions(0L)
      probe.unpersist()
      assert(bcast.nonEmpty && bcast.values.exists(_._1 == 1),
        "fixture must exercise at least one rejection to mean anything")
      assert(bcast == idsOnly,
        "the two physical decide plans must hand out identical verdicts")
    } finally LocalFs.deleteRecursively(Paths.get(root))
  }

  test("media door: broadcast and ids-only decide branches agree") {
    import graft.operators.MultimodalOps
    val media = MultimodalOps.asMediaTable(
      graft.tables.Tables.documents(spark, dir))
      .filter(col("kind") === "image")
    val corpus = media.filter(pmod(col("doc_id"), lit(4)) <= 1)
    val batch = media.filter(pmod(col("doc_id"), lit(4)) === 2)
    val root = java.nio.file.Files.createTempDirectory("door-eq-med").toString
    try {
      val store = new BucketedTableStore(spark, root, 16,
        deltaMerges = true, autoCompactAfter = 4)
      MediaDedupIngest.seedIndex(store, corpus, spark,
        new Timestamp(1660000000000L))
      val probe = MediaDedupIngest.bandRows(spark, batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def decisions(bound: Long): Map[Long, (Int, Int)] =
        MediaDedupIngest.decide(store, batch, probe, 1L,
          maxBroadcastNominees = bound)
          .collect().map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Int]("near_dup"), r.getAs[Int]("admitted")))).toMap
      val bcast = decisions(Long.MaxValue)
      val idsOnly = decisions(0L)
      probe.unpersist()
      assert(bcast.nonEmpty)
      assert(bcast == idsOnly,
        "the two physical decide plans must hand out identical verdicts")
    } finally LocalFs.deleteRecursively(Paths.get(root))
  }
}
