package graft.sync

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Per-bucket live state: the base snapshot version plus the ordered chain
  * of delta commits layered on top (empty chain = clean bucket). `base`
  * is -1 for a bucket that has only ever received delta commits. */
/** One bucket/column bloom sidecar: the bitset and the (m, k) geometry it
  * was built with — see the versioning note at the sidecar build site. */
private[sync] final case class BloomSide(m: Int, k: Int, bits: Array[Long])

final case class BucketState(base: Int, deltas: List[Int]) {
  def isClean: Boolean = deltas.isEmpty
  private[sync] def render: String = (base :: deltas).mkString("+")
}

private[sync] object BucketState {
  def parse(s: String): BucketState = {
    val parts = s.split('+')
    BucketState(parts.head.toInt, parts.tail.map(_.toInt).toList)
  }
}

/** Zone-map value domain: every stats column is normalized to one of three
  * totally-ordered kinds so min/max survive a text manifest round-trip and
  * the driver can compare query bounds against them without Spark types.
  *   long   — integral, date (epoch day), timestamp (epoch micros)
  *   double — float/double/decimal (outward-nudged at compare time so
  *            binary64 rounding can only WIDEN a bucket's range, never
  *            narrow it into a wrong skip)
  *   string — lexicographic (matches Spark's UTF8String min/max ordering)
  */
private[sync] object StatKind {
  import org.apache.spark.sql.types._

  def of(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => "long"
    case FloatType | DoubleType | _: DecimalType => "double"
    case StringType => "string"
    case other => throw new IllegalArgumentException(
      s"zone-map stats unsupported for ${other.catalogString}")
  }

  /** Normalized comparable expression for a column of kind `of(dt)`. */
  def expr(c: String, dt: DataType): Column = dt match {
    case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast("long")
    case TimestampType => unix_micros(col(c))
    // NTZ: session-zone epoch micros — the same interpretation `bound`
    // gives a wall-clock java.sql.Timestamp, so pruning stays consistent
    case TimestampNTZType => unix_micros(col(c).cast("timestamp"))
    case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
    case FloatType | DoubleType | _: DecimalType => col(c).cast("double")
    case StringType => col(c)
    case other => throw new IllegalArgumentException(
      s"zone-map stats unsupported for ${other.catalogString}")
  }

  /** A caller-supplied pruning bound, normalized to its kind's domain. */
  def bound(kind: String, v: Any): Any = (kind, v) match {
    case ("long", d: java.sql.Date) => d.toLocalDate.toEpochDay
    case ("long", d: java.time.LocalDate) => d.toEpochDay
    case ("long", t: java.sql.Timestamp) =>
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    case ("long", n: Number) => n.longValue()
    case ("double", n: Number) => n.doubleValue()
    case ("string", s) => s.toString
    case (k, other) => throw new IllegalArgumentException(
      s"cannot use ${other.getClass.getSimpleName} as a $kind bound")
  }

  /** stat-value <= bound, with stored doubles nudged outward (down for a
    * min, up for a max — pass the direction) so rounding stays safe. */
  def leq(kind: String, stat: String, b: Any, nudgeUp: Boolean): Boolean =
    kind match {
      case "long" => stat.toLong <= b.asInstanceOf[Long]
      case "double" =>
        val d = stat.toDouble
        (if (nudgeUp) Math.nextUp(d) else Math.nextDown(d)) <=
          b.asInstanceOf[Double]
      case _ => stat <= b.asInstanceOf[String]
    }

  def geq(kind: String, stat: String, b: Any, nudgeUp: Boolean): Boolean =
    kind match {
      case "long" => stat.toLong >= b.asInstanceOf[Long]
      case "double" =>
        val d = stat.toDouble
        (if (nudgeUp) Math.nextUp(d) else Math.nextDown(d)) >=
          b.asInstanceOf[Double]
      case _ => stat >= b.asInstanceOf[String]
    }

  def min(kind: String, a: String, b: String): String = kind match {
    case "long" => if (a.toLong <= b.toLong) a else b
    case "double" => if (a.toDouble <= b.toDouble) a else b
    case _ => if (a <= b) a else b
  }

  def max(kind: String, a: String, b: String): String = kind match {
    case "long" => if (a.toLong >= b.toLong) a else b
    case "double" => if (a.toDouble >= b.toDouble) a else b
    case _ => if (a >= b) a else b
  }

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
}

/** Partition-level snapshot store — the 100 TB form of [[TableStore]].
  *
  * [[TableStore]] rewrites the whole table per merge, which is correct and
  * simple but O(table) per batch: a 100 TB target with a 10 MB CDC batch
  * would rewrite 100 TB. This store hash-buckets rows by entity key:
  *
  *   root/<table>/b<bucket>/v<N>/   — per-bucket parquet BASE snapshots
  *   root/<table>/b<bucket>/d<N>/   — per-bucket DELTA commits (see below)
  *   root/<table>/_MANIFEST.<N>     — "bucket base[+delta...]" lines, plus
  *                                    an optional "wm <epoch micros>" line
  *   root/<table>/_CURRENT          — live manifest number (atomic move)
  *   root/<table>/_KEY              — the entity key column (read-side
  *                                    delta resolution needs it)
  *
  * The `wm` line is the CDC target watermark, MAX(approximateUpdateTimestamp)
  * over the live rows of the version that manifest publishes, committed
  * with that version so [[recordedWatermark]] answers without a scan. Only
  * the [[SyncStore]] verbs write it: [[init]] records the max over the
  * loaded rows, [[applyMerge]]'s delta commit records the max of its
  * upserts when that provably stays the table max (the rule is
  * at `mergeDeltaImpl`), and [[compact]] carries its base's line
  * unchanged (same live rows). Every other commit — copy-on-write
  * [[merge]], direct [[writeAll]]/[[mergeDelta]] calls, [[rebucket]] —
  * drops it, so the next sync scans. Bucket-state readers skip the line.
  *
  * Two merge disciplines, selectable per store:
  *
  *   - '''copy-on-write''' ([[merge]]): delete-then-insert rewrite of ONLY
  *     the buckets containing staged keys — cost O(touched bucket bytes).
  *   - '''merge-on-read''' ([[mergeDelta]]): append ONE small delta file
  *     per touched bucket (upsert rows + REMOVE tombstones, stamped with
  *     the commit sequence) — cost O(batch), the shape a high-frequency
  *     CDC stream needs at 100 TB. Reads resolve a dirty bucket by
  *     latest-per-key over base ∪ deltas; clean buckets are returned
  *     as-is with zero resolution cost, so read amplification is bounded
  *     by the un-compacted fraction of the table.
  *
  * [[compact]] is the counterweight to [[mergeDelta]]: it rewrites every
  * bucket whose delta chain reached a threshold back to a single-file base
  * snapshot (small-file consolidation, manifest-committed). With
  * `deltaMerges = true` the [[SyncStore]] verb [[applyMerge]] routes to
  * [[mergeDelta]] and auto-compacts chains at `autoCompactAfter` — the
  * write-fast/read-amortized loop Hudi-style MOR tables run in production.
  *
  * Readers resolve `_CURRENT` → manifest → per-bucket dirs, so an
  * in-flight merge/compaction is invisible until its single pointer move,
  * exactly the [[TableStore]] protocol one directory deeper. Crash
  * mid-merge leaves orphan v/d-dirs, never a torn snapshot; every write
  * path sweeps such orphans (dirs versioned ABOVE the live manifest —
  * unreachable by any reader, and under the single-writer protocol
  * nobody else's in-flight work) before staging, so a crashed merge's
  * debris never wedges its own retry on the existing-dest check.
  *
  * Bucket count is fixed at table creation (like any hash-bucketed
  * layout); pick it so bucket size ≈ a few parquet row groups at target
  * scale. The bucket id is a data column (`_bucket`) so reads recover it
  * without path parsing and the merge's bucket routing is one codegen'd
  * `pmod(xxhash64(key))`.
  */
final class BucketedTableStore(spark: SparkSession, root: String, nBuckets: Int,
    deltaMerges: Boolean = false, autoCompactAfter: Int = 8)
    extends SyncStore with org.apache.spark.internal.Logging {
  import BucketedTableStore.{WmCol, WmPrefix, WmWait}

  require(nBuckets > 0)
  require(autoCompactAfter >= 1)

  def bucketCol(key: String): Column = pmod(xxhash64(col(key)), lit(nBuckets))

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def currentFile(name: String): Path = tableDir(name).resolve("_CURRENT")
  private def keyFile(name: String): Path = tableDir(name).resolve("_KEY")
  private def bucketerFile(name: String): Path = tableDir(name).resolve("_BUCKETER")
  private def statsColsFile(name: String): Path = tableDir(name).resolve("_STATSCOLS")
  private def statsFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_STATS.$v")
  private def bloomColsFile(name: String): Path = tableDir(name).resolve("_BLOOMCOLS")
  private def bloomFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_BLOOM.$v")
  private def manifestFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_MANIFEST.$v")
  private def schemaFile(name: String): Path = tableDir(name).resolve("_SCHEMA")
  private def deltaSchemaFile(name: String): Path =
    tableDir(name).resolve("_DSCHEMA")
  // manifest version each schema sidecar was written AT — a time-travel
  // read older than the stamp must not trust the sidecar (a later
  // writeAll may have changed the table schema; binding old files to the
  // new schema silently nulls renamed/missing columns)
  private def schemaVersionFile(name: String): Path =
    tableDir(name).resolve("_SCHEMA_V")
  private def deltaSchemaVersionFile(name: String): Path =
    tableDir(name).resolve("_DSCHEMA_V")

  // ---- persisted file schemas -----------------------------------------
  //
  // A table's parquet schema is FIXED at writeAll (merges stage the same
  // target schema; deltas add only the bookkeeping columns), yet every
  // spark.read.parquet without an explicit schema pays a footer-sampling
  // inference JOB first. At door scale (the q150/q160/q229 ingest family:
  // tiny batches, many commits) those inference jobs are a real fraction
  // of the per-batch fixed cost — each decide re-reads the index, so each
  // batch pays up to three of them (clean base + dirty base + deltas).
  // Persisting the schema once per layout (base at writeAll, delta at the
  // first mergeDelta) and handing it to the reader removes them all.
  // Stored asNullable: parquet readers bind by name, and a lit()-derived
  // non-null field must not make the read schema stricter than the files.
  // A missing file (pre-upgrade table, crash before write) degrades to
  // inference, never to an error.

  private def schemaJson(s: org.apache.spark.sql.types.StructType): String =
    org.apache.spark.sql.types.StructType(
      s.fields.map(_.copy(nullable = true))).json

  // temp-file + atomic move: a torn sidecar write must never be read as
  // a (wrong) schema — readers see the old content or the new, whole
  private def writeSchemaFile(f: Path, s: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
    Files.write(tmp, schemaJson(s).getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def readSchemaFile(f: Path): Option[org.apache.spark.sql.types.StructType] =
    if (!Files.exists(f)) None
    else scala.util.Try(
      org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption

  private def writeVersionStamp(f: Path, v: Int): Unit =
    Files.write(f, v.toString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  /** The schema sidecar at `f`, but only when valid for a read AS OF
    * manifest `asOf` (None = live read, always valid). Historical reads
    * trust the sidecar only when the stamp proves it was written at or
    * before that manifest — older manifests fall back to footer
    * inference, which returns the historical files' TRUE schema. A
    * missing stamp (pre-upgrade table) keeps the sidecar for live reads
    * and degrades historical ones to inference — conservative, never
    * wrong. */
  private def schemaAsOf(f: Path, vf: Path, asOf: Option[Int])
      : Option[org.apache.spark.sql.types.StructType] =
    asOf match {
      case None => readSchemaFile(f)
      case Some(v) =>
        val stamp =
          if (Files.exists(vf))
            scala.util.Try(new String(Files.readAllBytes(vf)).trim.toInt).toOption
          else None
        if (stamp.exists(_ <= v)) readSchemaFile(f) else None
    }

  // ---- bucket routing ------------------------------------------------
  //
  // Hash routing (the default) gives uniform buckets and O(1) key→bucket
  // for merges, but scatters every non-key attribute across all buckets —
  // a zone map over a hash layout never prunes. A RANGE-clustered table
  // instead routes by the key's position among persisted quantile
  // boundaries: merge routing stays a pure function of the key (REMOVE
  // events route correctly), and any column correlated with the key
  // (auto-increment ids vs creation time is the canonical 100 TB case)
  // gets genuinely disjoint per-bucket min/max — the layout Redshift sort
  // keys / Delta OPTIMIZE buy. Boundaries are fixed at writeAll (like the
  // bucket count); rebucket is the escape hatch when the key distribution
  // drifts.

  private def loadBoundaries(name: String): Option[(String, Array[String])] = {
    val f = bucketerFile(name)
    if (!Files.exists(f)) None
    else {
      val lines = Files.readAllLines(f).asScala.filter(_.nonEmpty).toSeq
      if (lines.head == "hash") None
      else Some((lines.head.stripPrefix("range "),
        lines.tail.map(StatKind.dec).toArray))
    }
  }

  /** bucket = |{boundaries < key}| — a chain of codegen'd `when`s (the
    * bucket count is small by construction), no shuffle, no lookup table.
    * `norm` is the key already normalized to the boundary kind's domain
    * ([[StatKind.expr]]), so routing and pruning agree on the ordering. */
  private def rangeRouting(kind: String, bs: Array[String], norm: Column): Column =
    bs.foldLeft(lit(0L)) { (acc, b) =>
      val lim = kind match {
        case "long" => lit(b.toLong)
        case "double" => lit(b.toDouble)
        case _ => lit(b)
      }
      acc + when(norm > lim, 1L).otherwise(0L)
    }

  /** The routing expression live tables were written with: hash unless a
    * `_BUCKETER` sidecar records range boundaries. LongType either way.
    * `frame` supplies the key's type (a date key normalizes to epoch day
    * on writes and merges alike). */
  private def routingCol(name: String, key: String, frame: DataFrame): Column =
    loadBoundaries(name) match {
      case None => bucketCol(key)
      case Some((kind, bs)) =>
        rangeRouting(kind, bs, StatKind.expr(key, frame.schema(key).dataType))
    }

  // ---- zone-map stats ------------------------------------------------

  /** stats columns → kind, as fixed at writeAll ([[StatKind]]). */
  private def statsSpecs(name: String): Seq[(String, String)] = {
    val f = statsColsFile(name)
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.filter(_.nonEmpty).map { line =>
      val Array(c, k) = line.split('\t')
      (StatKind.dec(c), k)
    }.toSeq
  }

  /** ONE columnar read-back of the staged parquet computes EVERY sidecar:
    * zone-map min/max for the stats columns and packed bloom bitsets for
    * the bloom columns, in a single groupBy over only the touched
    * buckets' new bytes (projection pruned to the sidecar columns).
    * Through round 8 these were separate jobs — stats, then one job PER
    * bloom column (the explode-based packer could not share a pass) —
    * so a commit on a stats+bloom table paid 2+ staging scans; q150's
    * 8-commit protocol and q151/q154's lifecycles paid it per commit.
    * [[graft.functions.BloomPackValueAgg]] computes the k probe positions
    * inside the aggregator (same [[graft.functions.HashKernels]] kernel
    * the read-side probes use), so the bloom aggregation adds no row
    * multiplication and coexists with min/max in one agg.
    *
    * A bucket whose bloom column is entirely NULL now gets an all-zero
    * bitset instead of no entry — a strictly tighter, still-correct
    * sidecar ("no non-null values here"), vs the old absent entry's
    * "no proof of exclusion".
    *
    * `preStaged`: when the caller still holds the PERSISTED frame whose
    * write produced `staging` (mergeDelta does — its staged frame is
    * cached for the commit's scope), the sidecars aggregate that frame
    * directly and skip the disk read-back entirely: same rows, one
    * fewer scan per commit — the door protocols pay this per batch.
    * Callers whose staged frame is NOT persisted (writeAll, the
    * copy-on-write merge) keep the read-back: re-deriving an unpersisted
    * lineage would rescan the whole input instead of the small staging. */
  private def sidecarsFromStaging(staging: Path,
      statSpecs: Seq[(String, String)], bloomSpecs: Seq[(String, Int, Int)],
      excludeDel: Boolean, preStaged: Option[DataFrame] = None):
      (Map[Int, Map[String, (String, String)]], Map[Int, Map[String, BloomSide]]) = {
    if (statSpecs.isEmpty && bloomSpecs.isEmpty) return (Map.empty, Map.empty)
    val raw = preStaged.getOrElse(spark.read.parquet(staging.toString))
    val (stats, blooms, _) = stagedSummary(raw, statSpecs, bloomSpecs, excludeDel)
    (stats, blooms)
  }

  /** ONE aggregation pass over a staged frame: per-bucket live row
    * counts PLUS the sidecar contributions (zone-map min/max, packed
    * blooms). `excludeDel` applies per-expression (`when(!_del, …)` —
    * min/max and [[graft.functions.BloomPackValueAgg]] all skip nulls,
    * so the guarded aggregates equal the old filtered ones exactly),
    * while the counts stay UNFILTERED so an all-tombstone bucket still
    * registers as touched. [[mergeDelta]] fuses its former
    * touched-distinct and sidecar passes through this — the ingest
    * doors pay that per batch, so one saved action per commit is the
    * door-overhead lever, not a micro-optimization. */
  private def stagedSummary(raw: DataFrame,
      statSpecs: Seq[(String, String)], bloomSpecs: Seq[(String, Int, Int)],
      excludeDel: Boolean):
      (Map[Int, Map[String, (String, String)]],
        Map[Int, Map[String, BloomSide]], Map[Int, Long]) = {
    val schema = raw.schema
    def guard(e: org.apache.spark.sql.Column) =
      if (excludeDel) when(!col("_del"), e) else e
    val statAggs = statSpecs.flatMap { case (c, _) =>
      val e = guard(StatKind.expr(c, schema(c).dataType))
      Seq(min(e).cast("string").as(s"mn_$c"), max(e).cast("string").as(s"mx_$c"))
    }
    val bloomAggs = bloomSpecs.map { case (c, m, k) =>
      val pack = udaf(new graft.functions.BloomPackValueAgg(m, k))
      pack(guard(col(c).cast("string"))).as(s"bl_$c")
    }
    val aggs = statAggs ++ bloomAggs :+ count(lit(1)).as("_n")
    val collected = raw.groupBy(col("_bucket"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val stats =
      if (statSpecs.isEmpty) Map.empty[Int, Map[String, (String, String)]]
      else collected.map { r =>
        val b = r.getLong(0).toInt
        b -> statSpecs.zipWithIndex.flatMap { case ((c, _), i) =>
          val mn = r.getString(1 + 2 * i); val mx = r.getString(2 + 2 * i)
          if (mn == null || mx == null) None else Some(c -> (mn, mx))
        }.toMap
      }.toMap
    val bOff = 1 + 2 * statSpecs.size
    val blooms =
      if (bloomSpecs.isEmpty) Map.empty[Int, Map[String, BloomSide]]
      else collected.map { r =>
        val b = r.getLong(0).toInt
        b -> bloomSpecs.zipWithIndex.map { case ((c, m, k), i) =>
          c -> BloomSide(m, k, graft.functions.HashKernels.packedBytesToLongs(
            r.getAs[Array[Byte]](bOff + i)))
        }.toMap
      }.toMap
    val counts = collected.map { r =>
      r.getLong(0).toInt -> r.getLong(r.length - 1)
    }.toMap
    (stats, blooms, counts)
  }

  private def readStats(name: String, v: Int):
      Map[Int, Map[String, (String, String)]] = {
    val f = statsFile(name, v)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(_.nonEmpty)
      .map { line =>
        val Array(b, c, mn, mx) = line.split('\t')
        (b.toInt, StatKind.dec(c), StatKind.dec(mn), StatKind.dec(mx))
      }.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> (t._3, t._4)).toMap).toMap
  }

  /** The base manifest's stats, or None when its sidecar is missing (a
    * crash between a stats write and its manifest commit). Absence must
    * PROPAGATE: deriving new stats from nothing would claim bounds that
    * cover only this batch's rows and wrongly prune the base's. A
    * stats-less table degrades to unpruned reads, never wrong ones. */
  private def carriedStats(name: String, base: Int):
      Option[Map[Int, Map[String, (String, String)]]] =
    if (Files.exists(statsFile(name, base))) Some(readStats(name, base)) else None

  /** Union of two zone maps: min of mins, max of maxes, per bucket/col —
    * the delta-commit path's conservative widening (REMOVEs never shrink
    * bounds until a compaction recomputes them exactly). */
  private def widenStats(specs: Seq[(String, String)],
      prev: Map[Int, Map[String, (String, String)]],
      add: Map[Int, Map[String, (String, String)]]):
      Map[Int, Map[String, (String, String)]] = {
    val kinds = specs.toMap
    (prev.keySet ++ add.keySet).map { b =>
      val p = prev.getOrElse(b, Map.empty[String, (String, String)])
      val a = add.getOrElse(b, Map.empty[String, (String, String)])
      b -> (p.keySet ++ a.keySet).map { c =>
        val merged = (p.get(c), a.get(c)) match {
          case (Some((mn1, mx1)), Some((mn2, mx2))) =>
            (StatKind.min(kinds(c), mn1, mn2), StatKind.max(kinds(c), mx1, mx2))
          case (Some(x), None) => x
          case (None, Some(x)) => x
          case (None, None) => throw new IllegalStateException("unreachable")
        }
        c -> merged
      }.toMap
    }.toMap
  }

  private def writeStats(name: String, v: Int,
      m: Map[Int, Map[String, (String, String)]]): Unit = {
    val body = m.toSeq.sortBy(_._1).flatMap { case (b, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"$b\t${StatKind.enc(c)}\t${StatKind.enc(mn)}\t${StatKind.enc(mx)}"
      }
    }.mkString("\n")
    Files.write(statsFile(name, v), body.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Live zone maps: bucket → stats column → (min, max), rendered in the
    * column's [[StatKind]] domain. Empty when the table keeps no stats. */
  def zoneMaps(name: String): Map[Int, Map[String, (String, String)]] =
    currentManifestVersion(name).map(readStats(name, _)).getOrElse(Map.empty)

  /** The buckets that MAY hold rows with `colName` in [lo, hi] — a bucket
    * survives unless its zone map PROVES exclusion, so missing stats (no
    * sidecar, all-null bucket, never-configured column) degrade to a full
    * read, never a wrong skip. Chains prune as a unit: if no file of a
    * bucket's base∪deltas holds an in-range row, the resolved bucket
    * cannot either (resolution only drops rows), so skipping a whole
    * bucket can never resurrect or lose a version. */
  private def zoneAdmitted(name: String, v: Int, buckets: Set[Int],
      colName: String, lo: Any, hi: Any): Set[Int] =
    statsSpecs(name).find(_._1 == colName) match {
      case None => buckets
      case Some((_, kind)) =>
        val stats = readStats(name, v)
        val loB = StatKind.bound(kind, lo); val hiB = StatKind.bound(kind, hi)
        buckets.filter { b =>
          stats.get(b).flatMap(_.get(colName)) match {
            case None => true // no proof of exclusion
            case Some((mn, mx)) =>
              StatKind.geq(kind, mx, loB, nudgeUp = true) &&
                StatKind.leq(kind, mn, hiB, nudgeUp = false)
          }
        }
    }

  def prunedBuckets(name: String, colName: String, lo: Any, hi: Any):
      Option[Set[Int]] =
    for {
      m <- bucketStates(name)
      v <- currentManifestVersion(name)
    } yield zoneAdmitted(name, v, m.keySet, colName, lo, hi)

  /** Zone-map-pruned range scan: read only the buckets whose stats admit
    * `colName` ∈ [lo, hi], then apply the residual filter (stats are
    * bucket-granular; the filter also reaches the parquet row groups via
    * normal pushdown). At 100 TB with range clustering this turns a
    * time-window query over a CDC target into IO proportional to the
    * window, not the table. */
  def readRange(name: String, colName: String, lo: Any, hi: Any):
      Option[DataFrame] =
    prunedBuckets(name, colName, lo, hi).flatMap { bs =>
      if (bs.isEmpty)
        read(name).map(_.limit(0))
      else readBuckets(name, Some(bs))
    }.map(_.filter(col(colName) >= lit(lo) && col(colName) <= lit(hi)))

  /** [[readRange]] against a historical manifest: sidecars are versioned
    * with their manifest, so a time-travel read prunes with the stats AS
    * OF that commit — a widened map stays conservative for the chains it
    * described, and a missing historical sidecar (vacuumed, crashed)
    * degrades to a full read of that snapshot, never a wrong skip. */
  def readRangeAt(name: String, manifestVersion: Int, colName: String,
      lo: Any, hi: Any): Option[DataFrame] = {
    if (!Files.exists(manifestFile(name, manifestVersion))) None
    else {
      val states = parseStates(name, manifestVersion)
      val admitted = zoneAdmitted(name, manifestVersion, states.keySet,
        colName, lo, hi)
      val base =
        if (admitted.isEmpty) resolve(name, states, Some(manifestVersion)).limit(0)
        else resolve(name, states.view.filterKeys(admitted).toMap,
          Some(manifestVersion))
      Some(base.filter(col(colName) >= lit(lo) && col(colName) <= lit(hi)))
    }
  }

  // ---- bloom sidecars ------------------------------------------------
  //
  // Zone maps answer RANGE questions; these answer POINT-MEMBERSHIP ones
  // — "which buckets may hold this content fingerprint?" — on columns
  // the layout does not cluster by. Per bucket and column, an m-bit
  // bloom over the column's canonical string rendering (k positions
  // from the shared HashKernels.bloomPositions kernel; the codegen'd
  // BloomBits expression builds distributedly, the driver probes with
  // the same kernel). Lifecycle mirrors the zone maps exactly: exact at
  // writeAll, exact-per-touched-bucket at copy-on-write merge, OR-widen
  // at delta commits (tombstoned values keep their bits — false
  // positives only, never false negatives), retightened by compact,
  // absence propagates so a lost sidecar degrades to full reads, and
  // vacuum ages sidecars out with their manifests. Sidecar size is
  // nBuckets × m bits per column — 1024 buckets × 128 Ki bits = 16 MiB,
  // the price of skipping whole buckets on point probes over 100 TB.

  /** bloom columns → (m bits, k hashes), fixed at writeAll. */
  private def bloomSpecs(name: String): Seq[(String, Int, Int)] = {
    val f = bloomColsFile(name)
    if (!Files.exists(f)) Nil
    else Files.readAllLines(f).asScala.filter(_.nonEmpty).map { line =>
      val Array(c, m, k) = line.split('\t')
      (StatKind.dec(c), m.toInt, k.toInt)
    }.toSeq
  }

  /** One bucket/column bloom sidecar: the bitset AND the (m, k) geometry
    * it was built with. Geometry is versioned WITH the bitset — probing a
    * historical sidecar with the live `_BLOOMCOLS` geometry after a
    * re-`writeAll` changed m or k would compute positions mod the new m
    * against old bits: a wrong skip (false negative) or an index
    * overflow. Carrying (m, k) per entry makes every probe self-
    * describing regardless of what the live config says. */
  private type BloomSide = graft.sync.BloomSide
  private def BloomSide(m: Int, k: Int, bits: Array[Long]) =
    graft.sync.BloomSide(m, k, bits)

  private def renderBits(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array)
  }
  private def parseBitsB64(s: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  private def readBloom(name: String, v: Int): Map[Int, Map[String, BloomSide]] = {
    val f = bloomFile(name, v)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(_.nonEmpty)
      .flatMap { line =>
        line.split('\t') match {
          case Array(b, c, m, k, bits) => // current format: geometry per line
            Some((b.toInt, StatKind.dec(c), BloomSide(m.toInt, k.toInt,
              parseBitsB64(bits))))
          case Array(b, c, bits) =>
            // legacy geometry-less line: only trustworthy while the live
            // _BLOOMCOLS still describes the geometry it was built with;
            // a column no longer listed there has no recoverable geometry
            // and the entry must DROP (absence admits the bucket — a full
            // read, never a wrong skip)
            val col = StatKind.dec(c)
            bloomSpecs(name).find(_._1 == col).map { case (_, m, k) =>
              (b.toInt, col, BloomSide(m, k, parseBitsB64(bits)))
            }
          case _ => None
        }
      }.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
  }

  /** Like [[carriedStats]]: a missing base sidecar PROPAGATES (claiming
    * membership knowledge we don't have would wrongly skip buckets). */
  private def carriedBloom(name: String, base: Int):
      Option[Map[Int, Map[String, BloomSide]]] =
    if (Files.exists(bloomFile(name, base))) Some(readBloom(name, base)) else None

  /** OR-union of two bloom maps — the delta-commit widening (a superset
    * of base ∪ delta membership: no false negatives by construction).
    * Bitsets built under DIFFERENT geometries cannot be unioned
    * meaningfully — position p means different values under different m —
    * so a geometry mismatch drops the entry: absence admits the bucket
    * (full read), never a wrong skip. */
  private def orBloom(prev: Map[Int, Map[String, BloomSide]],
      add: Map[Int, Map[String, BloomSide]]):
      Map[Int, Map[String, BloomSide]] =
    (prev.keySet ++ add.keySet).map { b =>
      val p = prev.getOrElse(b, Map.empty[String, BloomSide])
      val a = add.getOrElse(b, Map.empty[String, BloomSide])
      b -> (p.keySet ++ a.keySet).flatMap { c =>
        ((p.get(c), a.get(c)) match {
          case (Some(x), Some(y)) if x.m == y.m && x.k == y.k =>
            val out = new Array[Long](math.max(x.bits.length, y.bits.length))
            var i = 0
            while (i < out.length) {
              out(i) = (if (i < x.bits.length) x.bits(i) else 0L) |
                (if (i < y.bits.length) y.bits(i) else 0L)
              i += 1
            }
            Some(BloomSide(x.m, x.k, out))
          case (Some(_), Some(_)) => None // geometry changed mid-chain
          case (Some(x), None) => Some(x)
          case (None, Some(y)) => Some(y)
          case (None, None) => throw new IllegalStateException("unreachable")
        }).map(c -> _)
      }.toMap
    }.toMap

  private def writeBloom(name: String, v: Int,
      m: Map[Int, Map[String, BloomSide]]): Unit = {
    val body = m.toSeq.sortBy(_._1).flatMap { case (b, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, side) =>
        s"$b\t${StatKind.enc(c)}\t${side.m}\t${side.k}\t${renderBits(side.bits)}"
      }
    }.mkString("\n")
    Files.write(bloomFile(name, v), body.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** The buckets that MAY hold rows whose `colName` (string-rendered)
    * equals any of `values` — a bucket survives unless its bloom PROVES
    * exclusion of every probe value, so a missing sidecar, untracked
    * column, or bloom-less bucket degrades to a full read, never a wrong
    * skip. REMOVEd values may keep admitting their bucket until a
    * compaction rebuilds it exactly — false positives cost IO, not
    * correctness. */
  private def bloomAdmitted(name: String, v: Int, buckets: Set[Int],
      colName: String, values: Seq[String]): Set[Int] =
    if (!Files.exists(bloomFile(name, v))) buckets
    else {
      val blooms = readBloom(name, v)
      // probe positions depend on the sidecar's OWN (m, k) — computed per
      // geometry actually present (one per column in the steady state;
      // more only across a geometry-changing rewrite's history), so a
      // historical manifest probes with the bits it was built with, not
      // whatever the live _BLOOMCOLS says today
      val hashes = values.map(s => graft.functions.HashKernels.fnv1a64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
      val probeCache = collection.mutable.Map.empty[(Int, Int), Seq[Array[Int]]]
      def probes(m: Int, k: Int): Seq[Array[Int]] =
        probeCache.getOrElseUpdate((m, k),
          hashes.map(graft.functions.HashKernels.bloomPositions(_, m, k)))
      buckets.filter { b =>
        blooms.get(b).flatMap(_.get(colName)) match {
          case None => true // no proof of exclusion
          case Some(side) => probes(side.m, side.k).exists(_.forall(p =>
            (side.bits(p >>> 6) & (1L << (p & 63))) != 0L))
        }
      }
    }

  def bloomAdmittedBuckets(name: String, colName: String,
      values: Seq[String]): Option[Set[Int]] =
    for {
      m <- bucketStates(name)
      v <- currentManifestVersion(name)
    } yield bloomAdmitted(name, v, m.keySet, colName, values)

  /** Bloom-pruned point-membership scan: read only the buckets whose
    * blooms admit at least one probe value, then apply the exact residual
    * `IN` filter. The point-lookup complement of [[readRange]] for
    * columns the bucketing does NOT key on — content fingerprints, join
    * keys of a secondary entity — where [[lookup]]'s key routing cannot
    * help. At 100 TB a fingerprint probe reads the few buckets whose
    * 16 KiB sidecar admits it instead of the table. */
  def readWhereIn(name: String, colName: String, values: Seq[String]):
      Option[DataFrame] =
    bloomAdmittedBuckets(name, colName, values).flatMap { bs =>
      if (bs.isEmpty) read(name).map(_.limit(0))
      else readBuckets(name, Some(bs))
    }.map(_.filter(col(colName).cast("string").isin(values: _*)))

  /** [[readWhereIn]] against a historical manifest — see [[readRangeAt]]
    * for the sidecar-versioning contract. */
  def readWhereInAt(name: String, manifestVersion: Int, colName: String,
      values: Seq[String]): Option[DataFrame] = {
    if (!Files.exists(manifestFile(name, manifestVersion))) None
    else {
      val states = parseStates(name, manifestVersion)
      val admitted = bloomAdmitted(name, manifestVersion, states.keySet,
        colName, values)
      val base =
        if (admitted.isEmpty) resolve(name, states, Some(manifestVersion)).limit(0)
        else resolve(name, states.view.filterKeys(admitted).toMap,
          Some(manifestVersion))
      Some(base.filter(col(colName).cast("string").isin(values: _*)))
    }
  }

  private def currentManifestVersion(name: String): Option[Int] = {
    val f = currentFile(name)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f)).trim.toInt) else None
  }

  private def manifestLines(name: String, v: Int): Seq[String] =
    Files.readAllLines(manifestFile(name, v)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  private def parseStates(name: String, v: Int): Map[Int, BucketState] =
    manifestLines(name, v).filterNot(_.startsWith(WmPrefix)).map { line =>
      val Array(b, st) = line.split(' ')
      b.toInt -> BucketState.parse(st)
    }.toMap

  /** Manifest `v`'s `wm` line in epoch micros (see the layout doc). */
  private def manifestWatermark(name: String, v: Int): Option[Long] =
    manifestLines(name, v).collectFirst {
      case l if l.startsWith(WmPrefix) => l.stripPrefix(WmPrefix).toLong
    }

  override def recordedWatermark(name: String): Option[java.sql.Timestamp] =
    currentManifestVersion(name).flatMap(manifestWatermark(name, _))
      .map(org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp)

  /** bucket → live state (base version + delta chain). */
  def bucketStates(name: String): Option[Map[Int, BucketState]] =
    currentManifestVersion(name).map(parseStates(name, _))

  /** bucket → live BASE version (delta chains not shown — the clean-bucket
    * view older callers and the version-advance specs use). */
  def manifest(name: String): Option[Map[Int, Int]] =
    bucketStates(name).map(_.view.mapValues(_.base).toMap)

  private def storedKey(name: String): String = {
    val f = keyFile(name)
    if (!Files.exists(f)) throw new IllegalStateException(
      s"$name has no _KEY file — writeAll must initialize the table")
    new String(Files.readAllBytes(f)).trim
  }

  private def bucketPath(name: String, bucket: Int, v: Int): Path =
    tableDir(name).resolve(s"b$bucket").resolve(s"v$v")
  private def deltaPath(name: String, bucket: Int, v: Int): Path =
    tableDir(name).resolve(s"b$bucket").resolve(s"d$v")

  def read(name: String): Option[DataFrame] = readBuckets(name, None)

  /** Time travel: read the snapshot a historical manifest described.
    * Manifests are immutable once written, so any retained manifest
    * number reconstructs that exact table state — including the delta
    * chains as of that commit.
    *
    * Vacuum-race contract: requesting a version already dropped by
    * [[vacuum]] is refused up front (None — retention is the authority on
    * what is addressable); a frame obtained BEFORE a racing sweep fails
    * loudly at execution (`ignoreMissingFiles` pinned off in resolve) and
    * can never silently return a partial snapshot. Callers that must hold
    * a historical view across retention sweeps should materialize it
    * (collect/persist/write) while the manifest is retained. */
  def readAtManifest(name: String, manifestVersion: Int): Option[DataFrame] = {
    val f = manifestFile(name, manifestVersion)
    if (!Files.exists(f)) None
    else Some(resolve(name, parseStates(name, manifestVersion),
      asOf = Some(manifestVersion)))
  }

  /** Read the live snapshot, optionally restricted to a bucket subset —
    * the merge's way of scanning only what it will rewrite. Live reads
    * carry the live manifest version into the schema check too: a crash
    * between a writeAll's sidecar write and its manifest commit leaves a
    * NEWER-stamped sidecar next to the still-live OLD table, which must
    * read via inference, not the not-yet-published schema. */
  def readBuckets(name: String, buckets: Option[Set[Int]]): Option[DataFrame] =
    currentManifestVersion(name).map { v =>
      val m = parseStates(name, v)
      resolve(name, buckets.fold(m)(bs => m.view.filterKeys(bs).toMap),
        asOf = Some(v))
    }

  /** Materialize the table state a bucket-state map describes. Clean
    * buckets stream straight off their base files (no shuffle, no window);
    * dirty buckets pay one bounded latest-per-key resolution: base rows at
    * sequence -1 ∪ delta rows at their commit sequence, newest row per key
    * wins, tombstones drop. The shuffle is sized by the DIRTY buckets
    * only — with compaction keeping chains short, resolution cost stays a
    * small fraction of the table no matter how large the table is. */
  private def resolve(name: String, wanted: Map[Int, BucketState],
      asOf: Option[Int] = None): DataFrame = {
    val cleanPaths = wanted.collect {
      case (b, s) if s.isClean && s.base >= 0 => bucketPath(name, b, s.base).toString
    }.toSeq
    val dirty = wanted.filter(!_._2.isClean)
    // ignoreMissingFiles pinned OFF per-read: a vacuum racing a LAZY
    // historical read (readAtManifest/readRangeAt/readWhereInAt frames
    // held across a retention sweep) must fail loudly at execution, never
    // silently return the subset of buckets that survived — even if the
    // session globally enables spark.sql.files.ignoreMissingFiles. Live
    // reads can't race (vacuum always retains the live manifest and the
    // single-writer protocol serializes merges), so pinning it here too
    // costs nothing. Same freeze-or-fail contract DedupIngest gives its
    // in-flight probe decisions.
    def pread(paths: Seq[String],
        schema: Option[org.apache.spark.sql.types.StructType]) = {
      val r = spark.read.option("ignoreMissingFiles", "false")
      schema.fold(r)(r.schema).parquet(paths: _*)
    }
    val baseSchema = schemaAsOf(schemaFile(name), schemaVersionFile(name), asOf)
    val clean =
      if (cleanPaths.nonEmpty) Some(pread(cleanPaths, baseSchema)) else None
    val resolved = if (dirty.nonEmpty) {
      val key = storedKey(name)
      val basePaths = dirty.collect {
        case (b, s) if s.base >= 0 => bucketPath(name, b, s.base).toString
      }.toSeq
      val deltaPaths = dirty.flatMap { case (b, s) =>
        s.deltas.map(d => deltaPath(name, b, d).toString)
      }.toSeq
      val deltas = pread(deltaPaths,
        schemaAsOf(deltaSchemaFile(name), deltaSchemaVersionFile(name), asOf))
      val layered =
        if (basePaths.isEmpty) deltas
        else deltas.unionByName(pread(basePaths, baseSchema)
          .withColumn("_seq", lit(-1L)).withColumn("_del", lit(false)))
      // key → bucket is functional, so partitioning by key never mixes
      // buckets; ties are impossible (one row per key per commit)
      val w = Window.partitionBy(col(key)).orderBy(col("_seq").desc)
      Some(layered.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && !col("_del"))
        .drop("_rn", "_seq", "_del"))
    } else None
    (clean, resolved) match {
      case (Some(c), Some(d)) => c.unionByName(d)
      case (Some(c), None) => c
      case (None, Some(d)) => d
      case (None, None) => spark.emptyDataFrame
    }
  }

  /** Crash-debris sweep, run at the start of every write path: delete
    * per-bucket v/d-dirs versioned ABOVE the live manifest. No manifest
    * references them (manifests only cite versions ≤ their own number),
    * so they are exactly the moved-but-never-committed leftovers of a
    * predecessor that died between its dir moves and its CAS — which
    * would otherwise trip the existing-dest staleness check on every
    * retry of the same logical merge, forever (the manifest, unchanged,
    * re-derives the same next version). The threshold is the LIVE
    * version, never a caller's possibly-stale base: a committed winner's
    * dirs are ≤ live and untouchable. Under a single-writer-protocol
    * violation a second in-flight writer's moved dirs are
    * indistinguishable from debris — the post-stage dest check and the
    * commit CAS still refuse the lost update in that window, as before. */
  private def sweepOrphans(name: String): Unit = {
    val live = currentManifestVersion(name).getOrElse(-1)
    (0 until nBuckets).foreach { b =>
      val bDir = tableDir(name).resolve(s"b$b")
      if (Files.exists(bDir)) {
        scala.util.Using.resource(Files.list(bDir))(_.iterator().asScala.toSeq)
          .foreach { p =>
            val n = p.getFileName.toString
            if ((n.startsWith("v") || n.startsWith("d")) &&
                n.drop(1).forall(_.isDigit) && n.drop(1).toInt > live) {
              cleanupDir(p)
            }
          }
      }
    }
  }

  /** Publish manifest `m` as the next state, REQUIRING that the live
    * manifest is still `expectedBase` — optimistic concurrency for the
    * single-writer protocol. A merge builds its manifest as
    * base-snapshot ++ its-buckets; if another writer committed after
    * this writer read its base, blindly publishing would silently drop
    * the other writer's bucket updates (a lost update, not a crash).
    * The stale commit throws instead; the caller re-reads and re-merges.
    * The check-then-move window is epsilon vs the merge runtime — the
    * same compare-and-swap discipline transactional table formats use,
    * minus a distributed lock this environment doesn't need. `wm` is the
    * watermark line the published version carries, if any. */
  private[graft] def commitManifest(name: String, m: Map[Int, BucketState],
      expectedBase: Option[Int], wm: Option[Long] = None): Unit = {
    val live = currentManifestVersion(name)
    if (live != expectedBase)
      throw new java.util.ConcurrentModificationException(
        s"$name: manifest moved $expectedBase -> $live since this writer " +
          "read its base; re-read and re-merge (lost-update protection)")
    val next = live.getOrElse(-1) + 1
    val body = (m.toSeq.sortBy(_._1).map { case (b, st) => s"$b ${st.render}" } ++
      wm.map(w => s"$WmPrefix$w")).mkString("\n")
    Files.createDirectories(tableDir(name))
    Files.write(manifestFile(name, next), body.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val tmp = tableDir(name).resolve(s"_CURRENT.tmp$next")
    Files.write(tmp, next.toString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, currentFile(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Initial full write: every row routed to its bucket, one snapshot dir
    * per bucket, manifest v0. One distributed write job — the bucket
    * routing is a partitionBy on the derived `_bucket` column.
    *
    * `statsCols` turns on zone maps: per-bucket min/max for each listed
    * column, versioned with every manifest from here on ([[readRange]]
    * prunes with them). `rangeBucket` replaces hash routing with key-range
    * clustering (quantile boundaries persisted to `_BUCKETER`; numeric,
    * date, or timestamp keys) — the layout under which those zone maps
    * are disjoint instead of all-overlapping. Both are fixed at table
    * creation, like the bucket count. */
  def writeAll(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None, statsCols: Seq[String] = Nil,
      rangeBucket: Boolean = false, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 1 << 17, bloomHashes: Int = 7): Unit =
    // bloom geometry is fixed at table creation like the bucket count:
    // size m for the expected distinct values per bucket per column
    // (~m/10 at 1% false-positive with k=7; the 128 Ki-bit default covers
    // ~13k distinct values per bucket)
    writeAllImpl(name, df, key, sortBy, statsCols, rangeBucket,
      bloomCols.map(c => (c, bloomBits, bloomHashes)), recordWm = false)

  /** [[writeAll]]; `recordWm` (the [[init]] path) commits the max
    * `approximateUpdateTimestamp` of the loaded rows as the `wm` line. */
  private def writeAllImpl(name: String, df: DataFrame, key: String,
      sortBy: Option[String], statsCols: Seq[String], rangeBucket: Boolean,
      bSpecs: Seq[(String, Int, Int)], recordWm: Boolean): Unit = {
    sweepOrphans(name)
    val base = currentManifestVersion(name)
    val next = base.getOrElse(-1) + 1
    val staging = tableDir(name).resolve(s"_staging$next")
    val boundaries: Option[(String, Array[String])] =
      if (!rangeBucket) None
      else {
        val kind = StatKind.of(df.schema(key).dataType)
        require(kind != "string",
          "range bucketing needs a numeric/date/timestamp key")
        // approximate quantiles are fine for LAYOUT: boundary error only
        // skews bucket sizes a little, never correctness (routing is the
        // same pure function on both the write and every later merge)
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        val q = df.select(StatKind.expr(key, df.schema(key).dataType).as("_k"))
          .stat.approxQuantile("_k", probs, 0.001)
        val rendered =
          if (kind == "long") q.map(d => math.floor(d).toLong.toString)
          else q.map(_.toString)
        Some((kind, rendered.distinct))
      }
    val route = boundaries.fold(bucketCol(key)) { case (kind, bs) =>
      rangeRouting(kind, bs, StatKind.expr(key, df.schema(key).dataType))
    }
    // `_bucket` stays a DATA column (reads must recover it without path
    // parsing); `_bp` is its copy used only for the write-time routing —
    // partitionBy consumes the routing column, the data column survives.
    // repartition on the bucket: without it every write task emits a file
    // into every bucket dir (tasks × buckets tiny files); with it each
    // bucket is written by exactly one task as one file
    val withBucket = df.withColumn("_bucket", route)
      .repartition(col("_bucket"))
    // persisted for this call's scope: the write below materializes it,
    // then the sidecar pass aggregates the CACHED rows instead of
    // re-reading the staging dir it just wrote (one scan per table
    // creation saved — the ingest doors pay this at every seed)
    val sorted = sortBy.fold(withBucket)(c =>
        withBucket.sortWithinPartitions(col("_bucket"), col(c)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (written, wm) = observeWatermark(sorted, recordWm, tombstones = false)
    written.withColumn("_bp", col("_bucket"))
      .write.mode("overwrite").partitionBy("_bp").parquet(staging.toString)
    // An EMPTY frame stages no _bp dirs at all (dynamic-partition writes
    // emit nothing for zero rows), which would commit a table with no
    // schema on disk — the staging read-back below and every later read
    // or merge would then fail schema inference. Seed bucket 0 with an
    // empty-but-schemaed parquet dir instead (the merge path's trick for
    // all-removed buckets): empty-seeded tables — the ingest doors'
    // documented empty-corpus start — read back with their full schema.
    if (!(0 until nBuckets).exists(b => Files.exists(staging.resolve(s"_bp=$b"))))
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sorted.schema)
        .write.mode("overwrite").parquet(staging.resolve("_bp=0").toString)
    Files.createDirectories(tableDir(name))
    val specs = statsCols.map(c => (c, StatKind.of(df.schema(c).dataType)))
    val (newStats, newBloom) =
      try sidecarsFromStaging(staging, specs, bSpecs, excludeDel = false,
        preStaged = Some(sorted))
      finally sorted.unpersist(blocking = false)
    if (specs.nonEmpty) {
      Files.write(statsColsFile(name),
        specs.map { case (c, k) => s"${StatKind.enc(c)}\t$k" }
          .mkString("\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      writeStats(name, next, newStats)
    }
    if (bSpecs.nonEmpty) {
      Files.write(bloomColsFile(name),
        bSpecs.map { case (c, m2, k2) => s"${StatKind.enc(c)}\t$m2\t$k2" }
          .mkString("\n").getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      writeBloom(name, next, newBloom)
    }
    boundaries match {
      case Some((kind, bs)) =>
        Files.write(bucketerFile(name),
          (s"range $kind" +: bs.map(StatKind.enc)).mkString("\n").getBytes,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      case None => Files.deleteIfExists(bucketerFile(name))
    }
    val entries = (0 until nBuckets).flatMap { b =>
      val src = staging.resolve(s"_bp=$b")
      if (Files.exists(src)) {
        val dest = bucketPath(name, b, next)
        Files.createDirectories(dest.getParent)
        Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
        Some(b -> BucketState(next, Nil))
      } else None
    }
    cleanupDir(staging)
    Files.write(keyFile(name), key.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    // base-file schema = df + _bucket (what partitionBy left in the files);
    // readers hand it to spark.read and skip footer inference. Stamped
    // with the manifest this write publishes so reads OLDER than this
    // write fall back to inference (schemaAsOf contract). STAMP FIRST:
    // a crash between the two writes then leaves a too-NEW stamp over
    // the old sidecar — every read at a live/historical version below
    // it degrades to inference (safe) instead of binding old files to a
    // new schema (the silent-null bug this versioning exists to close).
    writeVersionStamp(schemaVersionFile(name), base.getOrElse(-1) + 1)
    writeSchemaFile(schemaFile(name), sorted.schema)
    commitManifest(name, entries.toMap, base, wm())
  }

  /** `df` with the max `approximateUpdateTimestamp` (epoch micros) of its
    * rows — live rows only when `tombstones` — observed on the job that
    * writes it, plus the read of that value. No extra action: the value
    * rides the write. The observe node sits ABOVE the persisted frame it
    * wraps: beneath a cached child it never fires. The read waits at most
    * [[BucketedTableStore.WmWait]] for the listener that delivers it;
    * without `record`, without the column, or on a timeout it is None —
    * no `wm` line, so the next sync scans. */
  private def observeWatermark(df: DataFrame, record: Boolean,
      tombstones: Boolean): (DataFrame, () => Option[Long]) = {
    val hasCol = df.schema.exists(f =>
      f.name == WmCol && f.dataType == org.apache.spark.sql.types.TimestampType)
    if (!record || !hasCol) (df, () => None)
    else {
      val obs = org.apache.spark.sql.Observation()
      val ts = unix_micros(col(WmCol))
      val observed = df.observe(obs,
        max(if (tombstones) when(!col("_del"), ts) else ts).as("wm"))
      (observed, () =>
        scala.util.Try(scala.concurrent.Await.result(obs.future, WmWait)) match {
          case scala.util.Success(r) =>
            if (r.isNullAt(0)) None else Some(r.getLong(0))
          case scala.util.Failure(e) =>
            logWarning(s"watermark observation unavailable ($e); " +
              "committing without a wm line, the next sync scans")
            None
        })
    }
  }

  /** Partition-level merge: delete-then-insert upsert against ONLY the
    * buckets containing staged keys. `stage` must carry the target schema
    * plus `eventName` (REMOVEs are applied as deletes, like
    * [[Merge.applyStage]]) and at most one row per key (the
    * [[Merge.stageChanges]] contract). Untouched buckets keep their live
    * version — their bytes are never read, shuffled, or rewritten. A
    * touched bucket with a delta chain is resolved on read and rewritten
    * clean: copy-on-write merge doubles as targeted compaction. */
  def merge(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit =
    // base is captured once: the commit at the end is conditional on the
    // live manifest still being this one (lost-update protection)
    mergeAtBase(name, stage, key, syncTime, currentManifestVersion(name), sortBy)

  /** [[merge]] with the base manifest made explicit — the seam the
    * stale-writer tests drive: a base captured before a concurrent winner
    * committed must refuse and leave the winner's buckets untouched. */
  private[graft] def mergeAtBase(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, base: Option[Int],
      sortBy: Option[String] = None): Unit = {
    sweepOrphans(name)
    val m = base.map(parseStates(name, _)).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))
    val staged = stage.withColumn("_bucket", routingCol(name, key, stage))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = staged.select(col("_bucket")).distinct()
        .collect().map(_.getLong(0).toInt).toSet
      if (touched.nonEmpty) {
        // a touched bucket may have NO manifest entry yet (writeAll only
        // records buckets that received rows): read the existing subset,
        // or an empty-but-schemaed frame when every touched bucket is new
        val existing = touched.intersect(m.keySet)
        val target =
          if (existing.nonEmpty) readBuckets(name, Some(existing)).get
          else if (m.nonEmpty) readBuckets(name, Some(Set(m.keys.head))).get.limit(0)
          else throw new IllegalStateException(
            s"$name has an empty manifest — writeAll must seed at least one bucket")
        val stageKeys = staged.select(col(key))
        val kept = target.join(stageKeys, Seq(key), "left_anti")
        val inserts = staged.filter(col("eventName") =!= "REMOVE")
          .drop("eventName")
          .withColumn("syncTimestamp", lit(syncTime))
          .select(target.columns.map(col).toIndexedSeq: _*)
        val next = base.get + 1
        val staging = tableDir(name).resolve(s"_staging$next")
        val merged = kept.unionByName(inserts)
          .repartition(col("_bucket")) // one file per bucket, see writeAll
        sortBy.fold(merged)(c =>
            merged.sortWithinPartitions(col("_bucket"), col(c)))
          .withColumn("_bp", col("_bucket"))
          .write.mode("overwrite").partitionBy("_bp").parquet(staging.toString)
        // a touched bucket may end up empty (all rows removed) — it still
        // advances, pointing at an empty-but-valid parquet dir. Materialize
        // the empties INTO STAGING too: nothing below may write directly to
        // a v-dir, which could be a concurrent winner's published data.
        touched.foreach { b =>
          val src = staging.resolve(s"_bp=$b")
          if (!Files.exists(src))
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              target.schema).write.mode("overwrite").parquet(src.toString)
        }
        // rewritten buckets get EXACT zone maps and blooms from the staged
        // bytes — one fused read-back for both sidecar kinds (touched-and-
        // now-empty buckets simply lose their stats entry). Sidecar
        // absence still propagates per kind: a missing carried sidecar
        // drops that kind from the fused computation entirely.
        val specs = statsSpecs(name)
        val bSpecs = bloomSpecs(name)
        val prevStats =
          if (specs.isEmpty) None else carriedStats(name, base.get)
        val prevBloom =
          if (bSpecs.isEmpty) None else carriedBloom(name, base.get)
        val (addStats, addBloom) = sidecarsFromStaging(staging,
          if (prevStats.isDefined) specs else Nil,
          if (prevBloom.isDefined) bSpecs else Nil, excludeDel = false)
        val newStats = prevStats.map(prev => (prev -- touched) ++ addStats)
        val newBloom = prevBloom.map(prev => (prev -- touched) ++ addBloom)
        // Re-check the base before any move: a stale writer must abandon
        // its staging dir, not clobber the winner's bucket versions. An
        // already-existing dest is the same staleness signal (a racing
        // writer published v<next> between the check and this move).
        def stale(): Nothing = {
          cleanupDir(staging)
          throw new java.util.ConcurrentModificationException(
            s"$name: manifest moved past $base while merging; " +
              "re-read and re-merge (lost-update protection)")
        }
        if (currentManifestVersion(name) != base) stale()
        val updated = touched.map { b =>
          val dest = bucketPath(name, b, next)
          Files.createDirectories(dest.getParent)
          // an existing dest means a racing writer published v<next> in the
          // check-then-move window — detect it explicitly: Linux rename()
          // would silently REPLACE an empty dest dir rather than throw
          if (Files.exists(dest)) stale()
          try Files.move(staging.resolve(s"_bp=$b"), dest,
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException => stale() }
          b -> BucketState(next, Nil) // rewritten clean: chain discharged
        }.toMap
        cleanupDir(staging)
        newStats.foreach(writeStats(name, next, _))
        newBloom.foreach(writeBloom(name, next, _))
        commitManifest(name, m ++ updated, base)
      }
    } finally staged.unpersist()
  }

  /** Merge-on-read commit: append ONE delta file per touched bucket and
    * move the manifest pointer — the target's existing bytes are never
    * read, shuffled, or rewritten, so a commit costs O(batch) regardless
    * of table size. The delta rows are the staged upserts (REMOVEs kept
    * as `_del` tombstones) stamped with the commit sequence `_seq`;
    * [[resolve]] replays chains newest-wins at read time. Same `stage`
    * contract as [[merge]]: target schema + `eventName`, at most one row
    * per key per batch. The flip side is read amplification on dirty
    * buckets — [[compact]] (or `deltaMerges = true` auto-compaction)
    * bounds the chain length. */
  def mergeDelta(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit =
    mergeDeltaImpl(name, stage, key, syncTime, sortBy, recordWm = false)

  /** [[mergeDelta]]; `recordWm` (the [[applyMerge]] path) commits a `wm`
    * line when the new table max is known without a scan. Let `u` be the
    * max `approximateUpdateTimestamp` of the staged upserts (tombstones
    * excluded) and `p` the base manifest's line. Every surviving base row
    * is ≤ p and every upsert is live after the commit, so u ≥ p makes u
    * the exact new max. Otherwise no line: with no upserts, or u < p, a
    * REMOVE may have deleted the row holding p and the max may have
    * fallen, which only a scan can tell. */
  private def mergeDeltaImpl(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String],
      recordWm: Boolean): Unit = {
    sweepOrphans(name)
    val base = currentManifestVersion(name)
    val m = base.map(parseStates(name, _)).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))
    val sk = storedKey(name)
    require(sk == key, s"$name is keyed by '$sk', not '$key'")
    val next = base.get + 1
    // sidecar work only when the table HAS sidecars: a sidecar-less table
    // (the ingest doors' fingerprint indexes) pays exactly ONE action per
    // delta commit — the staged write — and recovers the touched-bucket
    // set from the staged _bp= directories (a driver-side listing, zero
    // jobs); the former always-on summary pass was a second shuffle-agg
    // action per commit that such tables paid for nothing
    val specs = statsSpecs(name)
    val bSpecs = bloomSpecs(name)
    val prevStats =
      if (specs.isEmpty) None else carriedStats(name, base.get)
    val prevBloom =
      if (bSpecs.isEmpty) None else carriedBloom(name, base.get)
    val needSummary = prevStats.isDefined || prevBloom.isDefined
    val prevWm = if (recordWm) manifestWatermark(name, base.get) else None
    val staged0 = stage
      .withColumn("_bucket", routingCol(name, key, stage))
      .withColumn("_del", col("eventName") === "REMOVE")
      .drop("eventName")
      .withColumn("syncTimestamp", lit(syncTime))
      .withColumn("_seq", lit(next.toLong))
      // routed BEFORE the persist. On the persisted branch below (a
      // table with sidecars) the summary's groupBy(_bucket) and the
      // staged write both need _bucket clustering, and a cached frame
      // keeps its partitioning — one shared exchange instead of a shuffle
      // per consumer (every door's delta commit pays this per batch). On
      // the unpersisted branch the write is the only consumer, and this
      // is its one exchange. Unpinned width: a session that lets AQE
      // re-size cached plan output may size it to the batch's bytes, and
      // the dynamic-partition write still emits one file per bucket dir
      // regardless of task count.
      .repartition(col("_bucket"))
    // persisted only when two actions will consume it (summary + write)
    val staged = if (needSummary)
      staged0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else staged0
    try {
      // ONE pass over the cached staged frame yields the touched-bucket
      // set (unfiltered counts) AND the sidecar widenings (del-guarded)
      // — the former touched-distinct and sidecar actions fused; a
      // delta commit can only WIDEN a bucket's zone map (tombstoned
      // values stay inside the bounds until compaction retightens them)
      // and OR-widen its blooms (base ∪ delta membership, tombstones
      // keep their bits — false positives only — until compaction
      // rebuilds exactly)
      val (addStats, addBloom, counts) =
        if (needSummary) stagedSummary(staged,
          if (prevStats.isDefined) specs else Nil,
          if (prevBloom.isDefined) bSpecs else Nil, excludeDel = true)
        else (Map.empty[Int, Map[String, (String, String)]],
          Map.empty[Int, Map[String, BloomSide]], Map.empty[Int, Long])
      if (!needSummary || counts.nonEmpty) {
        val staging = tableDir(name).resolve(s"_dstaging$next")
        // staged is already routed by _bucket (shared with the summary's
        // grouping — see the repartition at staging time above)
        val (written, upsertMax) = observeWatermark(
          sortBy.fold(staged)(c => staged.sortWithinPartitions(col("_bucket"), col(c))),
          record = prevWm.isDefined, tombstones = true)
        written.withColumn("_bp", col("_bucket"))
          .write.mode("overwrite").partitionBy("_bp").parquet(staging.toString)
        // no-summary path: the write above just materialized the routing,
        // so the staged directories ARE the touched set
        val touched =
          if (needSummary) counts.keySet
          else (0 until nBuckets).filter(b =>
            Files.exists(staging.resolve(s"_bp=$b"))).toSet
        if (touched.isEmpty) { cleanupDir(staging); return }
        // stamp + rewrite only when the sidecar content actually changes
        // (first write, or a schema change after a writeAll) — an
        // unchanged schema stays valid for every older manifest it
        // already covered. STAMP FIRST (same crash-ordering argument as
        // writeAll): a too-new stamp degrades reads to inference; the
        // reverse order could validate a NEW sidecar with an OLD stamp.
        val dsf = deltaSchemaFile(name)
        val newDs = schemaJson(staged.schema)
        val prevDs = if (Files.exists(dsf))
          Some(new String(Files.readAllBytes(dsf),
            java.nio.charset.StandardCharsets.UTF_8)) else None
        if (!prevDs.contains(newDs) ||
            !Files.exists(deltaSchemaVersionFile(name))) {
          writeVersionStamp(deltaSchemaVersionFile(name), base.getOrElse(-1) + 1)
          writeSchemaFile(dsf, staged.schema)
        }
        val newStats = prevStats.map(prev => widenStats(specs, prev, addStats))
        val newBloom = prevBloom.map(prev => orBloom(prev, addBloom))
        def stale(): Nothing = {
          cleanupDir(staging)
          throw new java.util.ConcurrentModificationException(
            s"$name: manifest moved past $base while delta-merging; " +
              "re-read and re-merge (lost-update protection)")
        }
        if (currentManifestVersion(name) != base) stale()
        val updated = touched.map { b =>
          val dest = deltaPath(name, b, next)
          Files.createDirectories(dest.getParent)
          // see mergeAtBase: an existing dest is a racing writer's publish
          if (Files.exists(dest)) stale()
          try Files.move(staging.resolve(s"_bp=$b"), dest,
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException => stale() }
          val prev = m.getOrElse(b, BucketState(-1, Nil))
          b -> prev.copy(deltas = prev.deltas :+ next)
        }.toMap
        cleanupDir(staging)
        newStats.foreach(writeStats(name, next, _))
        newBloom.foreach(writeBloom(name, next, _))
        val wm = for (p <- prevWm; u <- upsertMax() if u >= p) yield u
        commitManifest(name, m ++ updated, base, wm)
      }
    } finally staged.unpersist()
  }

  /** Small-file consolidation: rewrite every bucket whose delta chain
    * reached `minDeltas` back to a single-file base snapshot at the next
    * version, and clear its chain in the manifest — one CAS commit, same
    * crash/stale-writer safety as the merges. Only the dirty buckets'
    * bytes are read (chains resolved once, newest-wins) and rewritten;
    * clean buckets are untouched, so a steady-state table pays
    * O(dirty fraction), not O(table), per compaction sweep. History
    * stays time-travelable: old manifests keep referencing the
    * pre-compaction chains until [[vacuum]] retires them. Returns the
    * number of buckets compacted. */
  def compact(name: String, minDeltas: Int = 1,
      sortBy: Option[String] = None): Int = {
    require(minDeltas >= 1, "compacting clean buckets is a no-op")
    sweepOrphans(name)
    val base = currentManifestVersion(name)
    val m = base.map(parseStates(name, _)).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))
    val targets = m.filter(_._2.deltas.size >= minDeltas)
    if (targets.isEmpty) 0
    else {
      val next = base.get + 1
      val staging = tableDir(name).resolve(s"_cstaging$next")
      // persisted for this call's scope (writeAll's pattern, r19): the
      // staging write materializes it, then the sidecar pass aggregates
      // the CACHED rows instead of re-reading (and re-inferring the
      // schema of) the staging dir it just wrote — one fewer
      // resolve+scan per compaction, which q151/q154 and every
      // auto-compacting door commit pay per sweep
      val resolved0 = resolve(name, targets).repartition(col("_bucket"))
      val resolved = sortBy.fold(resolved0)(c =>
          resolved0.sortWithinPartitions(col("_bucket"), col(c)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (addStats, addBloom, specs, bSpecs, prevStats, prevBloom) =
        try {
          resolved.withColumn("_bp", col("_bucket"))
            .write.mode("overwrite").partitionBy("_bp").parquet(staging.toString)
          // a chain may resolve to nothing (every row deleted) — the bucket
          // still compacts to an empty-but-valid base snapshot. The schema
          // comes off the already-built plan, not a fresh resolve.
          targets.keys.foreach { b =>
            val src = staging.resolve(s"_bp=$b")
            if (!Files.exists(src))
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                resolved.schema).write.mode("overwrite").parquet(src.toString)
          }
          // compaction is where widened zone maps retighten and
          // delta-widened blooms shed their tombstoned bits: the staged
          // rows are the exact resolved state of every compacted bucket —
          // one fused pass over the persisted frame for both sidecar kinds
          val specs0 = statsSpecs(name)
          val bSpecs0 = bloomSpecs(name)
          val prevStats0 =
            if (specs0.isEmpty) None else carriedStats(name, base.get)
          val prevBloom0 =
            if (bSpecs0.isEmpty) None else carriedBloom(name, base.get)
          val (s, b) = sidecarsFromStaging(staging,
            if (prevStats0.isDefined) specs0 else Nil,
            if (prevBloom0.isDefined) bSpecs0 else Nil, excludeDel = false,
            preStaged = Some(resolved))
          (s, b, specs0, bSpecs0, prevStats0, prevBloom0)
        } finally resolved.unpersist(blocking = false)
      val newStats = prevStats.map(prev => (prev -- targets.keys) ++ addStats)
      val newBloom = prevBloom.map(prev => (prev -- targets.keys) ++ addBloom)
      def stale(): Nothing = {
        cleanupDir(staging)
        throw new java.util.ConcurrentModificationException(
          s"$name: manifest moved past $base while compacting; re-run")
      }
      if (currentManifestVersion(name) != base) stale()
      val updated = targets.keys.map { b =>
        val dest = bucketPath(name, b, next)
        Files.createDirectories(dest.getParent)
        // see mergeAtBase: an existing dest is a racing writer's publish
        if (Files.exists(dest)) stale()
        try Files.move(staging.resolve(s"_bp=$b"), dest,
          StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException => stale() }
        b -> BucketState(next, Nil)
      }.toMap
      cleanupDir(staging)
      newStats.foreach(writeStats(name, next, _))
      newBloom.foreach(writeBloom(name, next, _))
      // same live rows, so the base's watermark line still holds
      commitManifest(name, m ++ updated, base, manifestWatermark(name, base.get))
      updated.size
    }
  }

  /** Point lookup: read only the buckets that can contain `values` of the
    * entity key — the hash-bucketed layout's payoff for selective reads.
    * A k-key probe against an N-bucket table opens ≤ k bucket dirs, not
    * the table; at 100 TB with 128 MB buckets that is MBs of IO per probe.
    * The residual filter keeps correctness for hash collisions. */
  def lookup(name: String, key: String, values: Seq[String]): Option[DataFrame] = {
    import spark.implicits._
    val vdf = values.toDF(key)
    // probe with the same routing the table was written under; on a
    // range-clustered table the probe strings are cast into the boundary
    // domain (numeric keys — the only kind range bucketing accepts)
    val probe = loadBoundaries(name) match {
      case None => vdf.select(bucketCol(key))
      case Some((kind, bs)) =>
        val norm =
          if (kind == "double") col(key).cast("double") else col(key).cast("long")
        vdf.select(rangeRouting(kind, bs, norm))
    }
    val buckets = probe.collect().map(_.getLong(0).toInt).toSet
    readBuckets(name, Some(buckets)).map(_.filter(col(key).isin(values: _*)))
  }

  /** Bucket-count evolution: rewrite the live snapshot into `newN` buckets
    * (the fixed-at-creation count's escape hatch once buckets outgrow a
    * few row groups). One distributed read+route+write of the LIVE data
    * only — history stays under the old bucket count and remains
    * time-travelable until vacuumed. Returns the new store handle. */
  def rebucket(name: String, key: String, newN: Int,
      newRoot: String, sortBy: Option[String] = None): BucketedTableStore = {
    val live = read(name).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))
    val next = new BucketedTableStore(spark, newRoot, newN)
    next.writeAll(name, live.drop("_bucket"), key, sortBy)
    next
  }

  /** Retention sweep: keep the `keepManifests` most recent manifests
    * (always including the live one) and every bucket version — base OR
    * delta — any of them references; delete older manifests, unreferenced
    * v/d-dirs, and orphaned staging dirs from crashed merges. Without
    * this, every merge leaks its superseded bucket versions forever — at
    * 100 TB the leak, not the live data, dominates storage. Deletion
    * order is crash-safe: manifests below the retention floor go first,
    * so an interrupted sweep leaves unreferenced dirs (re-collectable)
    * but never a manifest pointing at deleted data. Historical readers
    * race under the [[readAtManifest]] contract: refused up front once
    * their manifest is dropped, loud execution failure (never a silent
    * partial result) if the sweep lands under an already-planned frame.
    * Returns (manifests deleted, dirs deleted). */
  def vacuum(name: String, keepManifests: Int): (Int, Int) = {
    require(keepManifests >= 1, "must keep at least the live manifest")
    currentManifestVersion(name) match {
      case None => (0, 0)
      case Some(cur) =>
        val floor = cur - keepManifests + 1
        val dropped = (0 until floor).filter(v => Files.exists(manifestFile(name, v)))
        dropped.foreach { v =>
          Files.delete(manifestFile(name, v))
          Files.deleteIfExists(statsFile(name, v)) // zone maps age out with their manifest
          Files.deleteIfExists(bloomFile(name, v)) // bloom sidecars likewise
        }
        // union of still-referenced per-bucket dirs ("v3" / "d5" names)
        // across the retained manifests
        val live: Set[(Int, String)] = (math.max(0, floor) to cur).flatMap { v =>
          if (!Files.exists(manifestFile(name, v))) Nil
          else parseStates(name, v).toSeq.flatMap { case (b, st) =>
            (if (st.base >= 0) Seq(b -> s"v${st.base}") else Nil) ++
              st.deltas.map(d => b -> s"d$d")
          }
        }.toSet
        var dirs = 0
        (0 until nBuckets).foreach { b =>
          val bDir = tableDir(name).resolve(s"b$b")
          if (Files.exists(bDir)) {
            scala.util.Using.resource(Files.list(bDir))(_.iterator().asScala.toSeq)
              .filter { p =>
                val n = p.getFileName.toString
                n.startsWith("v") || n.startsWith("d")
              }
              .foreach { p =>
                if (!live.contains((b, p.getFileName.toString))) {
                  cleanupDir(p); dirs += 1
                }
              }
          }
        }
        scala.util.Using.resource(Files.list(tableDir(name)))(_.iterator().asScala.toSeq)
          .filter(_.getFileName.toString.matches("_[dc]?staging.*"))
          // the live manifest's staging dir may still be mid-move only if a
          // merge is running; single-writer protocol says none is
          .foreach { p => cleanupDir(p); dirs += 1 }
        (dropped.size, dirs)
    }
  }

  /** [[SyncStore]] verbs — [[writeAll]] / [[merge]] (or [[mergeDelta]] +
    * auto-[[compact]] when `deltaMerges` is on) under the shared names, so
    * [[graft.pipeline.Pipeline]] swaps this store in via config. */
  def init(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None): Unit =
    writeAllImpl(name, df, key, sortBy, Nil, rangeBucket = false, Nil,
      recordWm = true)

  def applyMerge(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit =
    if (deltaMerges) {
      mergeDeltaImpl(name, stage, key, syncTime, sortBy, recordWm = true)
      compact(name, minDeltas = autoCompactAfter, sortBy = sortBy)
    } else merge(name, stage, key, syncTime, sortBy)

  /** [[SyncStore]] retention verb → [[vacuum]]. */
  def retain(name: String, keep: Int): Unit = vacuum(name, keep)

  private def cleanupDir(dir: Path): Unit =
    if (Files.exists(dir))
      scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists(_))
}

object BucketedTableStore {
  private val WmPrefix = "wm "
  private val WmCol = "approximateUpdateTimestamp"
  /** Bound on the wait for an observed watermark: the write has finished
    * by then, only the listener delivering its metric can lag. */
  private val WmWait = scala.concurrent.duration.Duration(10, "seconds")
}
