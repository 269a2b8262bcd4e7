package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "corpus out" terminal of the training-data pipeline: write a
  * document frame as deterministically-routed, size-bounded parquet
  * shards plus the integrity manifest downstream training jobs validate
  * before reading (q157's artifact, shipped WITH the data it describes).
  *
  * Layout and protocol:
  *   - `outDir/data/shard=N/part-*.parquet` — routed by the same salted
  *     md5 the q134 dispatcher and q157 manifest use, so the written
  *     layout, the manifest, and the declarative queries all agree on
  *     which shard a document belongs to;
  *   - `maxRecordsPerFile` bounds every file: a 100 TB corpus lands as
  *     uniformly-sized objects a dataloader can stripe over, instead of
  *     one multi-GB file per shard task;
  *   - `outDir/_MANIFEST.json` is written LAST, after every data file is
  *     on disk — its presence is the commit mark. A crashed write leaves
  *     data files but no manifest, and readers that require the manifest
  *     (as [[verifyShards]] does) treat the directory as absent. Per
  *     shard it records doc count, char count, an XOR of content hashes
  *     and an XOR of ids — order- and partition-invariant, so the values
  *     are identical however Spark scheduled or retried the write.
  *
  * [[verifyShards]] recomputes the same statistics FROM THE WRITTEN
  * FILES and diffs them against the manifest — the transfer-integrity
  * check a training job runs before trusting a copied corpus; one
  * flipped, missing, or duplicated document in any shard reports that
  * shard. Cost: one scan of the shard data, O(shards) driver state.
  */
object CorpusSink {

  final case class ShardStat(shard: Int, nDocs: Long, sumChars: Long,
      contentChecksum: Long, idChecksum: Long)

  private val ManifestName = "_MANIFEST.json"

  /** Salted-hash shard routing — identical to q134/q157 (md5 of
    * "id|shuf"), so the physical layout matches the declarative
    * dispatcher's and manifest's assignment. */
  private def shardCol(idCol: String, nShards: Int) =
    pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit("|shuf"))
      .cast("binary")), 1, 12), 16, 10).cast("long"), lit(nShards.toLong))
      .cast("int")

  /** Per-shard stats of an already-routed frame (`shard` column present
    * or recovered as the partition column on read-back). `idCol` must be
    * non-null for every row — the routing and checksums are undefined on
    * null ids, and the ingest paths filter them upstream. */
  private def statsOf(df: DataFrame, idCol: String, textCol: String):
      Seq[ShardStat] = {
    df
      .select(col("shard"), col(idCol).as("_id"),
        length(col(textCol)).cast("long").as("_chars"),
        conv(substring(md5(col(textCol).cast("binary")), 1, 15), 16, 10)
          .cast("long").as("_chash"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("_chars")).as("c"),
        expr("bit_xor(_chash)").as("cc"), expr("bit_xor(_id)").as("ic"))
      .collect()
      .map(r => ShardStat(r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_.shard).toSeq
  }

  /** Write `df` as sized parquet shards under `outDir/data` and commit
    * the integrity manifest. Returns the per-shard stats written. */
  def writeShards(df: DataFrame, outDir: String, idCol: String = "doc_id",
      textCol: String = "text", nShards: Int = 8,
      maxRecordsPerFile: Int = 1 << 20): Seq[ShardStat] = {
    require(nShards >= 1 && maxRecordsPerFile >= 1)
    val routed = df.withColumn("shard", shardCol(idCol, nShards))
    // repartition on the shard: each shard written by one task as a run
    // of maxRecordsPerFile-bounded files (without it, tasks × shards
    // small files — the writeAll lesson)
    routed.repartition(col("shard"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("shard")
      .parquet(s"$outDir/data")
    // stats from the WRITTEN files, not a re-evaluation of the source
    // plan: a non-deterministic input (sample, a directory receiving
    // files) would otherwise yield a manifest describing different rows
    // than the ones on disk — fresh-but-unverifiable corpora. Reading
    // back just-written bytes is page-cache-warm, the same price the
    // bucketed store pays for its sidecars.
    val stats =
      if ((0 until nShards).forall(shardFiles(outDir, _).isEmpty))
        Seq.empty[ShardStat] // empty corpus: no parquet to read a schema from
      else statsOf(df.sparkSession.read.parquet(s"$outDir/data"),
        idCol, textCol)
    writeManifest(Paths.get(outDir, ManifestName), idCol, textCol,
      nShards, stats)
    stats
  }

  private def writeManifest(path: Path, idCol: String, textCol: String,
      nShards: Int, stats: Seq[ShardStat],
      committedBatches: Seq[Long] = Nil): Unit = {
    val rows = stats.map(s =>
      s"""{"shard":${s.shard},"n_docs":${s.nDocs},"sum_chars":${s.sumChars},""" +
        s""""content_checksum":${s.contentChecksum},"id_checksum":${s.idChecksum}}""")
      .mkString("[", ",", "]")
    // only a bounded recent window of batch ids is retained: batchIds
    // from a Structured Streaming checkpoint are monotonic and commit in
    // order, so the replay guard needs contains-or-below-max, never the
    // full history — an unbounded list would grow the manifest (and every
    // parse of it) forever on a continuous stream
    val batches = committedBatches.sorted.takeRight(16)
      .mkString("[", ",", "]")
    // atomic commit: a crash mid-write must never leave a torn manifest
    // that the lenient parser would accept as a PARTIAL corpus (the XOR
    // merge would then permanently lose the truncated shards)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp,
      s"""{"id_col":"$idCol","text_col":"$textCol","n_shards":$nShards,""" +
        s""""committed_batches":$batches,"shards":$rows}""" + "\n")
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def readManifest(path: Path):
      (String, String, Int, Seq[ShardStat], Seq[Long]) = {
    val txt = Files.readString(path)
    def str(k: String) = s""""$k":"([^"]*)"""".r.findFirstMatchIn(txt)
      .getOrElse(throw new IllegalStateException(s"manifest missing $k"))
      .group(1)
    val nShards = """"n_shards":(\d+)""".r.findFirstMatchIn(txt).get.group(1).toInt
    val shard = ("""\{"shard":(-?\d+),"n_docs":(-?\d+),"sum_chars":(-?\d+),""" +
      """"content_checksum":(-?\d+),"id_checksum":(-?\d+)\}""").r
    val stats = shard.findAllMatchIn(txt).map(m => ShardStat(m.group(1).toInt,
      m.group(2).toLong, m.group(3).toLong, m.group(4).toLong,
      m.group(5).toLong)).toSeq
    val batches = """"committed_batches":\[([^\]]*)\]""".r
      .findFirstMatchIn(txt)
      .map(_.group(1).split(',').filter(_.nonEmpty).map(_.trim.toLong).toSeq)
      .getOrElse(Nil)
    (str("id_col"), str("text_col"), nShards, stats, batches)
  }

  /** Incremental append: land a new batch's files into the existing
    * shard dirs and commit an UPDATED manifest — the continuous form of
    * [[writeShards]], pairing with dedup-on-ingest upstream. The XOR
    * checksums make the manifest update O(batch): new = old XOR
    * batch-XOR per shard, no re-read of the standing corpus, which is
    * the only viable update at 100 TB.
    *
    * Crash contract (fail closed): batch files are staged then moved
    * into the shard dirs BEFORE the manifest rewrite, so a crash in the
    * window leaves data the manifest doesn't describe — and
    * [[verifyShards]] then reports those shards. An append is only
    * trusted once the new manifest landed, same commit-mark rule as the
    * initial write.
    *
    * Replay contract (exactly-once-equivalent): pass the micro-batch's
    * id as `batchId` when driving this from `foreachBatch` — committed
    * ids are recorded in the manifest, and a re-delivered batch (a
    * Structured Streaming restart replaying its last epoch) is a no-op
    * instead of doubled rows whose XOR checksums silently cancel. */
  def appendShards(df: DataFrame, outDir: String,
      maxRecordsPerFile: Int = 1 << 20,
      batchId: Option[Long] = None): Seq[ShardStat] = {
    val mPath = Paths.get(outDir, ManifestName)
    if (!Files.exists(mPath)) throw new IllegalStateException(
      s"$outDir has no $ManifestName — writeShards must create the corpus")
    val (idCol, textCol, nShards, prev, committed) = readManifest(mPath)
    batchId.foreach { id =>
      // checkpoint batchIds are monotonic and commit in order, so any id
      // at-or-below the committed high-water mark has already landed —
      // the window in the manifest stays bounded (writeManifest keeps a
      // recent tail, not the whole history) without weakening the guard
      if (committed.contains(id) ||
        committed.lastOption.exists(id <= _)) return prev
    }
    val routed = df.withColumn("shard", shardCol(idCol, nShards))
    val staging = Paths.get(outDir, "_append_staging")
    routed.repartition(col("shard"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("shard")
      .parquet(staging.toString)
    // batch stats from the STAGED files (see writeShards: the manifest
    // must describe the bytes that land, not a re-run of the source plan)
    val stagedShards = scala.util.Using.resource(Files.list(staging))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("shard=")).toSeq)
    val batch =
      if (stagedShards.isEmpty) Seq.empty[ShardStat]
      else statsOf(df.sparkSession.read.parquet(staging.toString),
        idCol, textCol) // partition discovery restores the shard column
    // stats are collected (driver-side) before the move; then the staged
    // files land in the live shard dirs — names carry the write job's
    // UUID, so they cannot collide with standing files
    batch.foreach { s =>
      val src = staging.resolve(s"shard=${s.shard}")
      val dst = Paths.get(outDir, "data", s"shard=${s.shard}")
      Files.createDirectories(dst)
      scala.util.Using.resource(Files.list(src))(
        _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => Files.move(f, dst.resolve(f.getFileName))))
    }
    graft.sync.LocalFs.deleteRecursively(staging)
    val prevMap = prev.map(s => s.shard -> s).toMap
    val merged = (prevMap.keySet ++ batch.map(_.shard)).toSeq.sorted.map { sh =>
      (prevMap.get(sh), batch.find(_.shard == sh)) match {
        case (Some(p), Some(b)) => ShardStat(sh, p.nDocs + b.nDocs,
          p.sumChars + b.sumChars, p.contentChecksum ^ b.contentChecksum,
          p.idChecksum ^ b.idChecksum)
        case (Some(p), None) => p
        case (None, Some(b)) => b
        case (None, None) => throw new IllegalStateException("unreachable")
      }
    }
    writeManifest(mPath, idCol, textCol, nShards, merged,
      committed ++ batchId.toSeq)
    merged
  }

  /** Recompute every shard's statistics from the files on disk and diff
    * against the committed manifest. Returns the shards whose recomputed
    * stats disagree (empty = corpus verified). A missing manifest is a
    * loud failure — an unmanifested directory is an uncommitted write,
    * never a verified corpus. */
  def verifyShards(spark: SparkSession, outDir: String): Seq[Int] = {
    val mPath = Paths.get(outDir, ManifestName)
    if (!Files.exists(mPath)) throw new IllegalStateException(
      s"$outDir has no $ManifestName — uncommitted or not a corpus dir")
    val (idCol, textCol, nShards, expected, _) = readManifest(mPath)
    // an empty corpus (seeded with zero documents) has a manifest but no
    // readable parquet under data/ — verified iff the manifest agrees
    val anyFiles = (0 until nShards).exists(shardFiles(outDir, _).nonEmpty)
    if (!anyFiles) return expected.map(_.shard)
    val onDisk = spark.read.parquet(s"$outDir/data")
    val actual = statsOf(onDisk, idCol, textCol)
    val act = actual.map(s => s.shard -> s).toMap
    val exp = expected.map(s => s.shard -> s).toMap
    (act.keySet ++ exp.keySet).toSeq.sorted
      .filter(sh => act.get(sh) != exp.get(sh))
  }

  /** Batch ids recorded in the corpus's manifest (the retained recent
    * window — empty for a corpus that never saw a batchId-tagged append,
    * or no corpus at all). Stream drivers use this to refuse pairing a
    * FRESH checkpoint, whose batchIds restart at 0, with a corpus whose
    * replay guard would then silently skip the new batches. */
  def committedBatches(outDir: String): Seq[Long] = {
    val mPath = Paths.get(outDir, ManifestName)
    if (!Files.exists(mPath)) Nil else readManifest(mPath)._5
  }

  /** Data files of one shard, for file-level assertions/striping. */
  def shardFiles(outDir: String, shard: Int): Seq[Path] = {
    val dir = Paths.get(outDir, "data", s"shard=$shard")
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq)
  }
}
