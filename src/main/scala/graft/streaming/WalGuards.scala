package graft.streaming

import java.nio.file.{Files, Paths}

/** Shared checkpoint/WAL pairing guards for the write-ahead-decision
  * ingest stream ([[IngestDoorStream]], over any door). The WAL
  * is keyed by the checkpoint's batchIds, so the two directories must
  * rotate TOGETHER; both mismatch directions corrupt decisions:
  *
  *   - fresh checkpoint + used WAL: batchIds restart at 0 and the old
  *     run's batch-0 decisions are served for NEW data (decide skipped
  *     entirely);
  *   - used checkpoint + missing WAL entries for COMMITTED batches: a
  *     re-delivered batch recomputes against the already-mutated index,
  *     so its own admitted grams/fingerprints probe as duplicates and
  *     its admissions silently flip to rejections. (A missing entry for
  *     an UNCOMMITTED batch is fine — the WAL write precedes the index
  *     mutation, so no-WAL means the index never saw that batch.)
  */
private[streaming] object WalGuards {

  private def committedBatches(checkpointDir: String): Seq[Long] = {
    val commits = Paths.get(checkpointDir, "commits")
    if (!Files.exists(commits)) Nil
    else scala.util.Using.resource(Files.list(commits)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).map(_.toLong).toSeq
    }
  }

  /** Refuse a checkpoint/WAL pairing that would corrupt decisions (see
    * class doc). `decided(k)` must answer whether batch k's decisions
    * are durably in the WAL (the stream's `_SUCCESS`-gated check). */
  def requireRotatedTogether(checkpointDir: String, decisionsDir: String,
      decided: Long => Boolean): Unit = {
    val fresh = !Files.exists(Paths.get(checkpointDir, "offsets"))
    val walUsed = Files.exists(Paths.get(decisionsDir)) &&
      scala.util.Using.resource(Files.list(Paths.get(decisionsDir)))(
        _.iterator().hasNext)
    require(!(fresh && walUsed),
      s"decisionsDir $decisionsDir holds a previous run's write-ahead " +
        s"decisions but checkpointDir $checkpointDir is fresh (batchIds " +
        "restart at 0) — rotate decisionsDir together with the checkpoint")
    val missing = committedBatches(checkpointDir).filterNot(decided)
    require(missing.isEmpty,
      s"checkpointDir $checkpointDir has committed batches " +
        s"${missing.sorted.mkString(",")} whose write-ahead decisions are " +
        s"missing from $decisionsDir — replaying them would recompute " +
        "against the already-mutated index and flip their own admissions; " +
        "restore the WAL or rotate both directories together")
  }
}
