package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ONE staged-rename sink protocol every stateless monitor/gate
  * stream shares ([[QualityGateStream]], [[VocabDriftStream]],
  * [[LeakageGateStream]], [[SchemaDriftStream]], [[DistDriftStream]]).
  * Until round 14 the five implemented it by CONVENTION (five verbatim
  * copies of the rotate check + batchId guard + staging + atomic
  * rename) — the same drift mode that let one ingest door ship without
  * the hot-cell cap its siblings had, so the protocol is now code, the
  * IngestDoor lesson applied to the monitor family:
  *
  *   - verdict rows for batch k land under `sinkDir/batch=k/`, written
  *     to a dot-prefixed staging dir (invisible to `batch=*` readers)
  *     and ATOMICALLY renamed into place — the rename IS the commit
  *     mark, so a crash mid-write leaves no half batch behind the guard
  *     and a re-delivered batch id rewrites it cleanly; a rename that
  *     landed makes the re-delivery a no-op. That is the ENTIRE replay
  *     contract a stateless monitor needs (contrast the WAL machinery
  *     the stateful ingest terminals carry — [[WalGuards]]);
  *   - ROTATE-TOGETHER: the batchId-guarded sink is keyed by the
  *     checkpoint's batchIds, so a fresh checkpoint next to a sink
  *     already holding batch=* rows (batchIds restart at 0, `batch=0`
  *     already committed) would silently skip writing verdicts for NEW
  *     data — refused up front.
  *
  * Count-every-row and empty-marker policies stay with each monitor's
  * frame function — they are per-monitor semantics, not sink protocol.
  */
private[streaming] object MonitorSink {

  /** Refuse the fresh-checkpoint/used-sink pairing (see object doc).
    * `what` names the sink's rows in the error ("verdicts", "drift
    * rows") so the message reads in the caller's vocabulary. */
  def requireRotatedTogether(sinkDir: String, what: String): Unit = {
    val fresh = !Files.exists(Paths.get(s"$sinkDir/_checkpoint/offsets"))
    val sinkUsed = Files.exists(Paths.get(sinkDir)) &&
      scala.util.Using.resource(Files.list(Paths.get(sinkDir))) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.exists(_.getFileName.toString.startsWith("batch="))
      }
    require(!(fresh && sinkUsed),
      s"sinkDir $sinkDir holds a previous run's batch=* $what but its " +
        "checkpoint is fresh (batchIds restart at 0, so the batchId guard " +
        "would silently skip NEW data) — rotate sinkDir together with the " +
        "checkpoint")
  }

  /** Wire `stream` to the batchId-guarded staged-rename sink: per
    * micro-batch, `frame(batch, batchId)` is computed ONLY when
    * `sinkDir/batch=<id>` is uncommitted, then staged and renamed in.
    * The checkpoint lives under the sink so the pair rotates as one. */
  def start(stream: DataFrame, sinkDir: String, what: String,
      trigger: Trigger)(frame: (DataFrame, Long) => DataFrame)
      : StreamingQuery = {
    requireRotatedTogether(sinkDir, what)
    stream.writeStream
      .option("checkpointLocation", s"$sinkDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = Paths.get(s"$sinkDir/batch=$batchId")
        if (!Files.exists(out)) {
          val staging = Paths.get(s"$sinkDir/.inprogress-$batchId")
          graft.sync.LocalFs.deleteRecursively(staging) // stale crash
          frame(batch, batchId)
            .write.mode("overwrite").parquet(staging.toString)
          Files.move(staging, out, StandardCopyOption.ATOMIC_MOVE)
        }
        ()
      }
      .start()
  }
}
