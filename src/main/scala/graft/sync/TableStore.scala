package graft.sync

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** Mutable-table semantics on immutable storage (SURVEY.md §7.4 risk 1).
  *
  * Spark tables are immutable and no transactional table format ships in
  * this environment, so the merge's delete-then-insert becomes
  * write-new-version-then-swap-pointer:
  *
  *   root/<table>/v<N>/   — complete parquet snapshots
  *   root/<table>/_CURRENT — tiny file holding the live version number,
  *                           rewritten via atomic move
  *
  * Readers resolve `_CURRENT` at read time; a crash mid-write leaves the
  * pointer on the old version (the half-written v<N+1> dir is garbage,
  * never referenced, and the next write sweeps it). This is the same
  * pointer-swap idea transactional formats use, minus concurrent writers —
  * the reference's sync is single-writer too (stored procedures called
  * sequentially).
  *
  * Scale note: a version is written with the caller-chosen partitioning; a
  * 100 TB target table would write `partitionBy(bucket-ish key)` snapshots
  * and only rewrite partitions touched by the merge (the anti-join keys
  * identify them). Snapshot-level swap is kept here for simplicity;
  * partition-level swap is the same protocol one directory deeper.
  */
final class TableStore(spark: SparkSession, root: String) extends SyncStore {

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def currentFile(name: String): Path = tableDir(name).resolve("_CURRENT")
  // Per-VERSION schema sidecar: a snapshot's parquet schema is fixed when
  // it is written, yet every schema-less spark.read.parquet pays a
  // footer-inference job first, and the CDC pipeline reads each target at
  // least twice per micro-batch. Snapshots may change schema across
  // versions (evolving merges), so each version records its own. A
  // missing or unparsable sidecar degrades to inference, never an error.
  private def schemaFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_SCHEMA.$v")
  private def readSchemaFile(name: String, v: Int): Option[StructType] = {
    val f = schemaFile(name, v)
    if (!Files.exists(f)) None
    else TableStore.parseSchema(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
  }
  private def readVersion(name: String, v: Int): DataFrame = {
    val r = spark.read
    readSchemaFile(name, v).fold(r)(r.schema)
      .parquet(tableDir(name).resolve(s"v$v").toString)
  }

  def currentVersion(name: String): Option[Int] = {
    val f = currentFile(name)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f)).trim.toInt) else None
  }

  def read(name: String): Option[DataFrame] =
    currentVersion(name).map(readVersion(name, _))

  /** Time travel: read a retained historical snapshot. Versions survive
    * until a retention sweep (none runs here), so "what did the table
    * look like before batch N" is a constant-time pointer lookup — the
    * debugging/audit story a mutable-table sink loses. */
  def readAt(name: String, version: Int): Option[DataFrame] = {
    val dir = tableDir(name).resolve(s"v$version")
    if (Files.exists(dir)) Some(readVersion(name, version)) else None
  }

  /** Materialize `df` as the next version, then atomically flip _CURRENT.
    * The write fully materializes the plan before the old version is
    * unreferenced, so a merge reading v<N> can safely produce v<N+1>.
    *
    * `sortBy` orders rows within each output file — the reference's
    * SORTKEY mapping (ref scripts/setup_redshift.sh:90): parquet row-group
    * min/max stats on the sort column let later time-range scans skip
    * row groups (zone-map pruning). */
  def write(name: String, df: DataFrame, sortBy: Option[String] = None): Unit =
    writeIfBase(name, df, currentVersion(name), sortBy)

  /** [[write]] conditional on the live version still being `expectedBase`
    * — the merge's lost-update protection ([[BucketedTableStore
    * .commitManifest]] has the full rationale): a merge derived from a
    * superseded snapshot must refuse-and-retry, not clobber the writer
    * that landed in between. */
  private[graft] def writeIfBase(name: String, df: DataFrame,
      expectedBase: Option[Int], sortBy: Option[String] = None): Unit = {
    sweepOrphans(name)
    val next = expectedBase.getOrElse(-1) + 1
    val dest = tableDir(name).resolve(s"v$next")
    // Materialize into a writer-private staging dir FIRST: v<next> may
    // already be live (published by a concurrent winner), and overwriting
    // it before the staleness check would corrupt the winner's snapshot —
    // the exact lost update this method exists to prevent.
    val staging = tableDir(name).resolve(
      s"_v.tmp${java.util.UUID.randomUUID().toString.take(8)}")
    val toWrite = sortBy.fold(df)(c => df.sortWithinPartitions(c))
    toWrite.write.mode("overwrite").parquet(staging.toString)
    def stale(live: Option[Int]): Nothing = {
      deleteRecursively(staging)
      throw new java.util.ConcurrentModificationException(
        s"$name: version moved $expectedBase -> $live since this writer " +
          "read its base; re-read and re-merge (lost-update protection)")
    }
    val live = currentVersion(name)
    if (live != expectedBase) stale(live)
    // An existing dest with an unmoved pointer is a racing writer that
    // staged the same version first — same staleness signal.
    try Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      stale(currentVersion(name)) }
    // sidecar BEFORE the pointer move: a crash in between leaves an
    // unreferenced v-dir plus its sidecar (never read; the retry sweeps
    // them); the reverse order could publish a version whose reads pay
    // inference until the next write
    TableStore.replaceFile(schemaFile(name, next),
      TableStore.renderSchema(toWrite.schema).getBytes(StandardCharsets.UTF_8))
    TableStore.replaceFile(currentFile(name), next.toString.getBytes, s".tmp$next")
    // Old versions are kept for time-travel/debug until retain/vacuum.
  }

  /** Crash-debris sweep before each write stages: delete the `v<N>` dirs
    * and `_SCHEMA.<N>` sidecars above the live version. No pointer names
    * them, so they are the leftovers of a writer that died between its
    * move and its `_CURRENT` flip, which would otherwise fail every retry
    * on the existing `v<next>`. Same single-writer contract as the
    * bucketed store's sweep: a committed winner's version is ≤ live, and
    * the pre-move check still refuses a stale writer. */
  private def sweepOrphans(name: String): Unit = {
    val live = currentVersion(name).getOrElse(-1)
    val dir = tableDir(name)
    if (Files.isDirectory(dir))
      scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq).foreach { p =>
        p.getFileName.toString match {
          case TableStore.Versioned(v) if v.toInt > live => deleteRecursively(p)
          case _ =>
        }
      }
  }

  /** Retention sweep: delete snapshot versions older than the
    * `keepVersions` most recent (the live version always survives).
    * Time travel to a vacuumed version returns None afterwards; the live
    * read is untouched. Returns the deleted version numbers. Safe order:
    * only ever removes dirs strictly below the retention floor, so a
    * crash mid-sweep leaves extra garbage, never a dangling pointer. */
  def vacuum(name: String, keepVersions: Int): Seq[Int] = {
    require(keepVersions >= 1, "must keep at least the live version")
    currentVersion(name).toSeq.flatMap { cur =>
      val floor = cur - keepVersions + 1
      (0 until floor).filter { v =>
        val dir = tableDir(name).resolve(s"v$v")
        if (Files.exists(dir)) {
          deleteRecursively(dir)
          Files.deleteIfExists(schemaFile(name, v)) // ages out with its version
          true
        } else false
      }
    }
  }

  private def deleteRecursively(dir: Path): Unit =
    TableStore.deleteRecursively(dir)

  /** [[SyncStore]] retention verb → [[vacuum]]. */
  def retain(name: String, keep: Int): Unit = vacuum(name, keep)

  /** [[SyncStore]]: full write; `key` is unused (no bucketing here). */
  def init(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None): Unit = write(name, df, sortBy)

  /** [[SyncStore]]: whole-table delete-then-insert — the staged batch is
    * merged against the live snapshot and the result written as the next
    * version. O(table) per batch by construction. */
  def applyMerge(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit = {
    // capture the base ONCE: the merged result derives from this
    // snapshot, so the publish must be conditional on it still being live
    val base = currentVersion(name)
    val target = base.map(readVersion(name, _))
      .getOrElse(
        throw new IllegalStateException(s"$name not initialized — init first"))
    writeIfBase(name, Merge.applyStage(target, stage, key, syncTime),
      base, sortBy)
  }
}

object TableStore {
  /** A version's snapshot dir or schema sidecar, capturing its number. */
  private val Versioned = """(?:v|_SCHEMA\.)(\d+)""".r

  /** Recursive delete (children before parents); shared by the store's
    * own vacuum/staging cleanup and by queries that materialize into a
    * temp store and must remove it afterwards. */
  private[graft] def deleteRecursively(dir: Path): Unit = {
    if (Files.exists(dir)) {
      scala.util.Using.resource(Files.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    }
  }

  /** The one schema codec both stores persist with: rendered asNullable
    * (parquet readers bind by name, and a lit()-derived non-null field
    * must not make a read stricter than the files), parsed tolerantly (an
    * unparsable text reads as None, so the read infers). */
  private[sync] def renderSchema(s: StructType): String =
    StructType(s.fields.map(_.copy(nullable = true))).json

  private[sync] def parseSchema(json: String): Option[StructType] =
    scala.util.Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s }

  /** Replace file `f` with `bytes` through a temp sibling (`f` +
    * `tmpSuffix`) and an atomic move: a reader sees the old content or
    * the new, whole. */
  private[graft] def replaceFile(f: Path, bytes: Array[Byte],
      tmpSuffix: String = ".tmp"): Unit = {
    val tmp = f.resolveSibling(f.getFileName.toString + tmpSuffix)
    Files.write(tmp, bytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Recursive file-tree copy (driver-side) — the working-copy leg of
    * the amortized-seed protocol (a frozen MASTER store is built once,
    * each run mutates a private copy; see IngestDoor.seededWorkingCopy). */
  private[graft] def copyRecursively(src: Path, dst: Path): Unit = {
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      scala.util.Using.resource(Files.list(src))(s =>
        s.iterator().asScala.foreach(p =>
          copyRecursively(p, dst.resolve(p.getFileName))))
    } else {
      Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }
}
