package graft.sync

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

import graft.functions.GraftFunctions.bound

/** Per-bucket live state: the base snapshot version plus the ordered chain
  * of delta commits layered on top (empty chain = clean bucket). `base`
  * is -1 for a bucket that has only ever received delta commits. */
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

/** The versioned table store: mutable-table semantics on immutable
  * storage (SURVEY.md §7.4 risk 1). No transactional table format ships
  * in this environment, so a merge's delete-then-insert becomes
  * write-new-version-then-swap-pointer, and every version stays readable
  * until [[vacuum]] retires it (time travel). Rows are hash-bucketed by
  * entity key, so a merge rewrites only the buckets it touches: O(touched
  * buckets) per batch, where a whole-table snapshot is O(table), and a
  * 100 TB target with a 10 MB CDC batch would rewrite 100 TB. One bucket
  * is the whole-table snapshot store, the default `Pipeline`'s store:
  *
  *   root/<table>/b<bucket>/v<N>/   — per-bucket parquet BASE snapshots
  *   root/<table>/d<N>/             — one DELTA commit for the whole table,
  *                                    rows of many buckets (see below)
  *   root/<table>/_MANIFEST.<N>     — the one description of version N
  *   root/<table>/_STATS.<N>        — version N's zone maps, if any
  *   root/<table>/_BLOOM.<N>        — version N's bloom sidecars, if any
  *   root/<table>/_CURRENT          — live manifest number (atomic move)
  *
  * '''Manifest grammar.''' One line per fact, a tag and its fields;
  * column names and range boundaries are URL-encoded, so no field holds a
  * space:
  *
  *   key <column>                     — the entity key
  *   buckets <n>                      — the bucket count
  *   route hash                       — or: route range <kind> <boundary>...
  *   stat <column> <kind>             — a zone-map column, its [[StatKind]]
  *   bloom <column> <m> <k>           — a bloom column, its bits and hashes
  *   schema <json>                    — the base files' schema, asNullable
  *   dschema <json>                   — the delta files' schema, asNullable
  *   wm <epoch micros>                — the CDC watermark (below)
  *   <bucket> <base>[+<delta>...]     — one line per bucket
  *
  * A [[writeAll]] sets the description: key, bucket count, routing,
  * sidecar columns and base schema. Every other commit carries its base
  * manifest's, and a delta commit sets `dschema` too. Each verb and each
  * read reads `_CURRENT` once and parses that one manifest, so the
  * routing, the bucket count, the sidecar geometry and the schemas it
  * uses are those of the version it reads or extends, time-travel reads
  * included. Reads take the bucket count from the manifest, so any handle
  * reads any table, and a [[writeAll]] records its handle's count anew;
  * every verb that extends a version refuses a handle whose count differs
  * from the manifest's, as it refuses a key that is not the table's, since
  * it would route rows to the wrong buckets. A manifest without a
  * `buckets` line (written before the count was recorded) is trusted to
  * match the handle, and its reads filter each delta by its buckets. A
  * recorded schema spares each `spark.read.parquet` its footer-inference
  * job (at door scale, up to three per batch); a missing or unparsable
  * schema line degrades to inference, never to an error. A manifest with
  * bucket lines and no `key` line is refused: nothing reads the older
  * layout that kept the description in unversioned files.
  *
  * The `wm` line is the CDC target watermark, MAX(approximateUpdateTimestamp)
  * over the live rows of the version that manifest publishes, committed
  * with that version so [[recordedWatermark]] answers without a scan. Only
  * the [[SyncStore]] verbs write it: [[init]] records the max over the
  * loaded rows, [[applyMerge]] records the max of the rows it writes when
  * that provably is the table max (the rules are at `mergeDeltaImpl` and
  * `mergeAtBase`), and [[compact]] carries its base's line unchanged
  * (same live rows). Every other commit — direct [[merge]],
  * [[writeAll]] and [[mergeDelta]] calls, [[rebucket]] — drops it, so the
  * next sync scans.
  *
  * Two merge disciplines, selectable per store:
  *
  *   - '''copy-on-write''' ([[merge]]): delete-then-insert rewrite of ONLY
  *     the buckets containing staged keys — cost O(touched bucket bytes).
  *   - '''merge-on-read''' ([[mergeDelta]]): append ONE small delta dir
  *     `d<N>` per commit, for the whole table (upsert rows + REMOVE
  *     tombstones, stamped with the commit sequence and carrying their
  *     `_bucket`, sorted by it) — cost O(batch), and files per commit
  *     bounded by the batch's partitions, not by the bucket count: the
  *     shape a high-frequency CDC stream needs at 100 TB. The manifest
  *     lists `N` in the chain of each bucket that received rows. Reads
  *     resolve a dirty bucket by latest-per-key over base ∪ the rows of
  *     its chain's deltas that carry its `_bucket`; clean buckets are
  *     returned as-is with zero resolution cost, so read amplification is
  *     bounded by the un-compacted fraction of the table.
  *
  * [[compact]] is the counterweight to [[mergeDelta]]: it rewrites every
  * bucket whose delta chain reached a threshold back to a single-file base
  * snapshot (small-file consolidation, manifest-committed). With
  * `deltaMerges = true` the [[SyncStore]] verb [[applyMerge]] routes to
  * [[mergeDelta]] and auto-compacts chains at `autoCompactAfter` — the
  * write-fast/read-amortized loop Hudi-style MOR tables run in production.
  *
  * '''Publish protocol.''' Readers resolve `_CURRENT` → manifest →
  * per-bucket dirs, so a write is invisible until its one pointer move.
  * All four write verbs ([[writeAll]], [[merge]], [[mergeDelta]],
  * [[compact]]) end in the same step, `publish`; each supplies only its
  * frame, its manifest, the buckets that must advance, and its `wm` rule.
  * Each step, and what a crash during it leaves behind:
  *
  *   1. sweep: delete v/d-dirs versioned above the live manifest (a
  *      crashed predecessor's moved-but-uncommitted dirs).
  *   1. stage: write the rows under `_staging<next>`: a rewrite
  *      partitioned by `_bucket` (one bucket: written as it arrives, as
  *      bucket 0's dir), plus an empty-but-schemaed dir for each bucket
  *      that must advance with no rows; a delta as one flat dir. A
  *      crash leaves the staging dir; the retry overwrites it and
  *      [[vacuum]] removes it.
  *   1. check: the live manifest must still be the writer's base, and no
  *      destination dir may exist yet; otherwise the writer deletes its
  *      staging dir and throws `ConcurrentModificationException` before
  *      anything of the table has changed.
  *   1. move: each staged bucket dir becomes `b<b>/v<next>` (a rewrite),
  *      or the staging dir becomes `d<next>` in one move (a delta). A
  *      crash leaves dirs above the live manifest: no reader sees them,
  *      and the next publish sweeps them.
  *   1. sidecars: `_STATS.<next>` and `_BLOOM.<next>`. A crash leaves
  *      sidecars of a version no manifest names; the retry overwrites
  *      them.
  *   1. commit ([[commitManifest]]): write `_MANIFEST.<next>`, then flip
  *      `_CURRENT` through a temp file and an atomic move — the commit
  *      point. A crash before the flip leaves a manifest no pointer names;
  *      the retry overwrites it.
  *
  * A reader sees the old version or the new one, never a mix, and
  * retrying the interrupted call lands what an uninterrupted one would.
  *
  * Bucket count is fixed at table creation (like any hash-bucketed
  * layout) and recorded in the manifest; pick it so bucket size ≈ a few
  * parquet row groups at target scale. The bucket id is a data column
  * (`_bucket`) so reads recover it without path parsing and the merge's
  * bucket routing is one codegen'd `pmod(xxhash64(key))`.
  */
final class BucketedTableStore(spark: SparkSession, root: String, nBuckets: Int,
    deltaMerges: Boolean = false, autoCompactAfter: Int = 8)
    extends SyncStore with org.apache.spark.internal.Logging {
  import BucketedTableStore.{Manifest, StagingPrefix, WmCol, WmWait}

  require(nBuckets > 0)
  require(autoCompactAfter >= 1)

  def bucketCol(key: String): Column = pmod(xxhash64(col(key)), lit(nBuckets))

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def currentFile(name: String): Path = tableDir(name).resolve("_CURRENT")
  private def statsFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_STATS.$v")
  private def bloomFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_BLOOM.$v")
  private def manifestFile(name: String, v: Int): Path =
    tableDir(name).resolve(s"_MANIFEST.$v")

  // ---- bucket routing ------------------------------------------------
  //
  // Hash routing (the default) gives uniform buckets and O(1) key→bucket
  // for merges, but scatters every non-key attribute across all buckets —
  // a zone map over a hash layout never prunes. A RANGE-clustered table
  // instead routes by the key's position among quantile boundaries that
  // its manifest records: merge routing stays a pure function of the key
  // (REMOVE events route correctly), and any column correlated with the
  // key (auto-increment ids vs creation time is the canonical 100 TB
  // case) gets genuinely disjoint per-bucket min/max — the layout
  // Redshift sort keys / Delta OPTIMIZE buy. Boundaries are fixed at
  // writeAll (like the bucket count); rebucket is the escape hatch when
  // the key distribution drifts.

  /** bucket = |{boundaries < key}| — a chain of codegen'd `when`s (the
    * bucket count is small by construction), no shuffle, no lookup table.
    * `norm` is the key already normalized to the boundary kind's domain
    * ([[StatKind.expr]]), so routing and pruning agree on the ordering. */
  private def rangeRouting(kind: String, bs: Seq[String], norm: Column): Column =
    bs.foldLeft(lit(0L)) { (acc, b) =>
      val lim = kind match {
        case "long" => lit(b.toLong)
        case "double" => lit(b.toDouble)
        case _ => lit(b)
      }
      acc + when(norm > lim, 1L).otherwise(0L)
    }

  /** The routing expression of manifest `m`, LongType either way. `frame`
    * supplies the key's type (a date key normalizes to epoch day on
    * writes and merges alike). */
  private def routing(m: Manifest, frame: DataFrame): Column = m.route match {
    case None => bucketCol(m.key)
    case Some((kind, bs)) =>
      rangeRouting(kind, bs, StatKind.expr(m.key, frame.schema(m.key).dataType))
  }

  // ---- zone-map stats ------------------------------------------------

  /** ONE aggregation pass over a publish's staged frame computes EVERY
    * sidecar contribution — zone-map min/max for the stats columns and
    * packed bloom bitsets for the bloom columns — plus per-bucket row
    * counts, in a single groupBy. Through round 8 these were separate
    * jobs (stats, then one per bloom column); q150's 8-commit protocol
    * and q151/q154's lifecycles paid them per commit.
    * [[graft.functions.BloomPackValueAgg]] computes the k probe positions
    * inside the aggregator (the same [[graft.functions.HashKernels]]
    * kernel the read-side probes use), so the bloom aggregation adds no
    * row multiplication and coexists with min/max in one agg. The frame
    * is the PERSISTED one the staged write then reads, so the summary
    * never re-reads the staging dir from disk.
    *
    * `excludeDel` applies per-expression (`when(!_del, …)` — min/max and
    * the bloom packer skip nulls, so the guarded aggregates equal
    * filtered ones), while the counts stay UNFILTERED so an all-tombstone
    * bucket still registers as touched. A bucket whose bloom column is
    * entirely NULL gets an all-zero bitset — a tighter, still-correct
    * sidecar ("no non-null values here") than no entry. */
  private def stagedSummary(raw: DataFrame,
      statSpecs: Seq[(String, String)], bloomSpecs: Seq[(String, Int, Int)],
      excludeDel: Boolean):
      (Map[Int, Map[String, (String, String)]],
        Map[Int, Map[String, Array[Long]]], Map[Int, Long]) = {
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
      if (bloomSpecs.isEmpty) Map.empty[Int, Map[String, Array[Long]]]
      else collected.map { r =>
        val b = r.getLong(0).toInt
        b -> bloomSpecs.zipWithIndex.map { case ((c, _, _), i) =>
          c -> graft.functions.HashKernels.packedBytesToLongs(
            r.getAs[Array[Byte]](bOff + i))
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
    currentVersion(name).map(readStats(name, _)).getOrElse(Map.empty)

  /** The buckets of version (`v`, `m`) that MAY hold rows with `colName`
    * in [lo, hi] — a bucket survives unless its zone map PROVES
    * exclusion, so missing stats (no sidecar, all-null bucket,
    * never-configured column) degrade to a full read, never a wrong
    * skip. Chains prune as a unit: if no file of a bucket's base∪deltas
    * holds an in-range row, the resolved bucket cannot either (resolution
    * only drops rows), so skipping a whole bucket can never resurrect or
    * lose a version. */
  private def zoneAdmitted(name: String, colName: String, lo: Any, hi: Any)(
      v: Int, m: Manifest): Set[Int] =
    m.stats.find(_._1 == colName) match {
      case None => m.states.keySet
      case Some((_, kind)) =>
        val stats = readStats(name, v)
        val loB = StatKind.bound(kind, lo); val hiB = StatKind.bound(kind, hi)
        m.states.keySet.filter { b =>
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
    live(name).map { case (v, m) => zoneAdmitted(name, colName, lo, hi)(v, m) }

  private def inRange(colName: String, lo: Any, hi: Any): Column =
    col(colName) >= lit(lo) && col(colName) <= lit(hi)

  /** Zone-map-pruned range scan: read only the buckets whose stats admit
    * `colName` ∈ [lo, hi], then apply the residual filter (stats are
    * bucket-granular; the filter also reaches the parquet row groups via
    * normal pushdown). At 100 TB with range clustering this turns a
    * time-window query over a CDC target into IO proportional to the
    * window, not the table. */
  def readRange(name: String, colName: String, lo: Any, hi: Any):
      Option[DataFrame] =
    prunedRead(name, live(name), zoneAdmitted(name, colName, lo, hi),
      inRange(colName, lo, hi))

  /** [[readRange]] against a historical manifest: sidecars are versioned
    * with their manifest, so a time-travel read prunes with the stats AS
    * OF that commit — a widened map stays conservative for the chains it
    * described, and a missing historical sidecar (vacuumed, crashed)
    * degrades to a full read of that snapshot, never a wrong skip. */
  def readRangeAt(name: String, manifestVersion: Int, colName: String,
      lo: Any, hi: Any): Option[DataFrame] =
    prunedRead(name, versionAt(name, manifestVersion),
      zoneAdmitted(name, colName, lo, hi), inRange(colName, lo, hi))

  /** Version (`v`, `m`) read through its sidecars: only the buckets
    * `admit` keeps, then the exact `residual` filter — the one body of
    * the live and time-travel pruned reads. */
  private def prunedRead(name: String, version: Option[(Int, Manifest)],
      admit: (Int, Manifest) => Set[Int], residual: Column): Option[DataFrame] =
    version.map { case (v, m) =>
      val admitted = admit(v, m)
      val rows =
        if (admitted.isEmpty) resolve(name, m, m.states).limit(0)
        else resolve(name, m, m.states.view.filterKeys(admitted).toMap)
      rows.filter(residual)
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
  // vacuum ages sidecars out with their manifests. The (m, k) geometry
  // is the manifest's: every commit but a writeAll carries its base's,
  // so a sidecar and the geometry that probes it are always of one
  // version, and a historical probe uses the bits it was built with.
  // Sidecar size is nBuckets × m bits per column — 1024 buckets × 128 Ki
  // bits = 16 MiB, the price of skipping whole buckets on point probes
  // over 100 TB.

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

  private def readBloom(name: String, v: Int): Map[Int, Map[String, Array[Long]]] = {
    val f = bloomFile(name, v)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(_.nonEmpty)
      .map { line =>
        val Array(b, c, bits) = line.split('\t')
        (b.toInt, StatKind.dec(c), parseBitsB64(bits))
      }.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
  }

  /** Like [[carriedStats]]: a missing base sidecar PROPAGATES (claiming
    * membership knowledge we don't have would wrongly skip buckets). */
  private def carriedBloom(name: String, base: Int):
      Option[Map[Int, Map[String, Array[Long]]]] =
    if (Files.exists(bloomFile(name, base))) Some(readBloom(name, base)) else None

  /** OR-union of two bloom maps of one geometry — the delta-commit
    * widening (a superset of base ∪ delta membership: no false negatives
    * by construction). */
  private def orBloom(prev: Map[Int, Map[String, Array[Long]]],
      add: Map[Int, Map[String, Array[Long]]]): Map[Int, Map[String, Array[Long]]] =
    (prev.keySet ++ add.keySet).map { b =>
      val p = prev.getOrElse(b, Map.empty[String, Array[Long]])
      val a = add.getOrElse(b, Map.empty[String, Array[Long]])
      b -> (p.keySet ++ a.keySet).map { c =>
        c -> ((p.get(c), a.get(c)) match {
          case (Some(x), Some(y)) => Array.tabulate(x.length)(i => x(i) | y(i))
          case (x, y) => x.orElse(y).get
        })
      }.toMap
    }.toMap

  private def writeBloom(name: String, v: Int,
      m: Map[Int, Map[String, Array[Long]]]): Unit = {
    val body = m.toSeq.sortBy(_._1).flatMap { case (b, cols) =>
      cols.toSeq.sortBy(_._1).map { case (c, bits) =>
        s"$b\t${StatKind.enc(c)}\t${renderBits(bits)}"
      }
    }.mkString("\n")
    Files.write(bloomFile(name, v), body.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** The buckets of version (`v`, `m`) that MAY hold rows whose `colName`
    * (string-rendered) equals any of `values` — a bucket survives unless
    * its bloom PROVES exclusion of every probe value, so a missing
    * sidecar, untracked column, or bloom-less bucket degrades to a full
    * read, never a wrong skip. REMOVEd values may keep admitting their
    * bucket until a compaction rebuilds it exactly — false positives cost
    * IO, not correctness. */
  private def bloomAdmitted(name: String, colName: String, values: Seq[String])(
      v: Int, m: Manifest): Set[Int] =
    m.blooms.find(_._1 == colName) match {
      case None => m.states.keySet
      case Some((_, bits, k)) =>
        val blooms = readBloom(name, v)
        val probes = values.map(s => graft.functions.HashKernels.bloomPositions(
          graft.functions.HashKernels.fnv1a64(
            org.apache.spark.unsafe.types.UTF8String.fromString(s)), bits, k))
        m.states.keySet.filter { b =>
          blooms.get(b).flatMap(_.get(colName)) match {
            case None => true // no proof of exclusion
            case Some(side) => probes.exists(_.forall(p =>
              (side(p >>> 6) & (1L << (p & 63))) != 0L))
          }
        }
    }

  def bloomAdmittedBuckets(name: String, colName: String,
      values: Seq[String]): Option[Set[Int]] =
    live(name).map { case (v, m) => bloomAdmitted(name, colName, values)(v, m) }

  /** Bloom-pruned point-membership scan: read only the buckets whose
    * blooms admit at least one probe value, then apply the exact residual
    * `IN` filter. The point-lookup complement of [[readRange]] for
    * columns the bucketing does NOT key on — content fingerprints, join
    * keys of a secondary entity — where [[lookup]]'s key routing cannot
    * help. At 100 TB a fingerprint probe reads the few buckets whose
    * 16 KiB sidecar admits it instead of the table. */
  def readWhereIn(name: String, colName: String, values: Seq[String]):
      Option[DataFrame] =
    prunedRead(name, live(name), bloomAdmitted(name, colName, values),
      col(colName).cast("string").isin(values: _*))

  /** [[readWhereIn]] against a historical manifest — see [[readRangeAt]]
    * for the sidecar-versioning contract. */
  def readWhereInAt(name: String, manifestVersion: Int, colName: String,
      values: Seq[String]): Option[DataFrame] =
    prunedRead(name, versionAt(name, manifestVersion),
      bloomAdmitted(name, colName, values), col(colName).cast("string").isin(values: _*))

  // ---- manifests -----------------------------------------------------

  /** The live manifest number, or None before the first write. */
  private[graft] def currentVersion(name: String): Option[Int] = {
    val f = currentFile(name)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f)).trim.toInt) else None
  }

  private def parseManifest(name: String, v: Int): Manifest =
    Manifest.parse(name, Files.readAllLines(manifestFile(name, v)).asScala.toSeq)

  /** Version `v` and its manifest, if that manifest is retained. */
  private def versionAt(name: String, v: Int): Option[(Int, Manifest)] =
    if (Files.exists(manifestFile(name, v))) Some(v -> parseManifest(name, v)) else None

  /** The live version and its manifest: `_CURRENT` read once, that one
    * manifest parsed once. */
  private def live(name: String): Option[(Int, Manifest)] =
    currentVersion(name).map(v => v -> parseManifest(name, v))

  /** Manifest `base` of an initialized table: the one parse a verb takes
    * its description from, refused when this handle's bucket count is not
    * the table's. */
  private def baseManifest(name: String, base: Option[Int]): Manifest =
    base.map(parseManifest(name, _)).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))
      .bucketed(name, nBuckets)

  /** The live version and its manifest, for a verb: as [[baseManifest]]. */
  private def liveBase(name: String): Option[(Int, Manifest)] =
    live(name).map { case (v, m) => v -> m.bucketed(name, nBuckets) }

  override def recordedWatermark(name: String): Option[java.sql.Timestamp] =
    live(name).flatMap(_._2.wm)
      .map(org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp)

  /** bucket → live state (base version + delta chain). */
  def bucketStates(name: String): Option[Map[Int, BucketState]] =
    live(name).map(_._2.states)

  /** bucket → live BASE version (delta chains not shown — the clean-bucket
    * view older callers and the version-advance specs use). */
  def manifest(name: String): Option[Map[Int, Int]] =
    bucketStates(name).map(_.view.mapValues(_.base).toMap)

  private def bucketPath(name: String, bucket: Int, v: Int): Path =
    tableDir(name).resolve(s"b$bucket").resolve(s"v$v")
  private def deltaPath(name: String, v: Int): Path = tableDir(name).resolve(s"d$v")

  def read(name: String): Option[DataFrame] = readBuckets(name, None)

  /** Time travel: read the snapshot a historical manifest described.
    * Manifests are immutable once written, so any retained manifest
    * number reconstructs that exact table state — including the delta
    * chains and the file schemas as of that commit.
    *
    * Vacuum-race contract: requesting a version already dropped by
    * [[vacuum]] is refused up front (None — retention is the authority on
    * what is addressable); a frame obtained BEFORE a racing sweep fails
    * loudly at execution (`ignoreMissingFiles` pinned off in resolve) and
    * can never silently return a partial snapshot. Callers that must hold
    * a historical view across retention sweeps should materialize it
    * (collect/persist/write) while the manifest is retained. */
  def readAtManifest(name: String, manifestVersion: Int): Option[DataFrame] =
    versionAt(name, manifestVersion).map { case (_, m) => resolve(name, m, m.states) }

  /** Read the live snapshot, optionally restricted to a bucket subset —
    * the merge's way of scanning only what it will rewrite. */
  def readBuckets(name: String, buckets: Option[Set[Int]]): Option[DataFrame] =
    live(name).map { case (_, m) =>
      resolve(name, m, buckets.fold(m.states)(bs => m.states.view.filterKeys(bs).toMap))
    }

  /** Materialize the `wanted` bucket states of manifest `m`. Clean
    * buckets stream straight off their base files (no shuffle, no window);
    * dirty buckets pay one latest-per-key resolution
    * ([[Merge.latestPerKey]]): base rows at sequence -1 ∪ delta rows at
    * their commit sequence, newest row per key wins, tombstones drop. The
    * resolution reads every dirty bucket's base, and a trickle commit
    * touches every bucket, so between compactions a read resolves the
    * whole table: in one partition with no exchange while it fits the
    * gate, shuffled by key above it. */
  private def resolve(name: String, m: Manifest,
      wanted: Map[Int, BucketState]): DataFrame = {
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
    def pread(paths: Seq[String], schema: Option[StructType]) = {
      val r = spark.read.option("ignoreMissingFiles", "false")
      schema.fold(r)(r.schema).parquet(paths: _*)
    }
    val clean =
      if (cleanPaths.nonEmpty) Some(pread(cleanPaths, m.schema)) else None
    val resolved = if (dirty.nonEmpty) {
      val basePaths = dirty.collect {
        case (b, s) if s.base >= 0 => bucketPath(name, b, s.base).toString
      }.toSeq
      // delta n → the wanted buckets whose chain lists n. Each delta dir is
      // read once, and a row is admitted only where its bucket's chain
      // lists its delta: a rewrite of a bucket (merge, compact) folds n
      // into that bucket's base and drops n from its chain, and n's rows
      // there must not come back. When every delta is admitted in every
      // bucket no filter is needed, and a full read plans no literal sets
      // (which would be new generated code on each read).
      val admits = dirty.toSeq.flatMap { case (b, s) => s.deltas.map(_ -> b.toLong) }
        .groupMap(_._1)(_._2)
      val stored = pread(admits.keys.toSeq.sorted.map(deltaPath(name, _).toString),
        m.deltaSchema)
      val deltas =
        if (m.buckets.exists(n => admits.values.forall(_.size == n))) stored
        else stored.filter(admits.groupMap(_._2.toSet)(_._1).map { case (bs, ds) =>
          val inSeq = col("_seq").isin(ds.toSeq.map(_.toLong): _*)
          if (m.buckets.contains(bs.size)) inSeq else inSeq && col("_bucket").isin(bs.toSeq: _*)
        }.reduce(_ || _))
      val layered =
        if (basePaths.isEmpty) deltas
        else deltas.unionByName(pread(basePaths, m.schema)
          .withColumn("_seq", lit(-1L)).withColumn("_del", lit(false)))
      // key → bucket is functional, so partitioning by key never mixes
      // buckets; ties are impossible (one row per key per commit)
      Some(Merge.latestPerKey(layered, m.key, col("_seq").desc)
        .filter(!col("_del"))
        .drop("_seq", "_del"))
    } else None
    (clean, resolved) match {
      case (Some(c), Some(d)) => c.unionByName(d)
      case (Some(c), None) => c
      case (None, Some(d)) => d
      case (None, None) => spark.emptyDataFrame
    }
  }

  /** Every versioned dir of the table, the table-level deltas `d<N>` and
    * each bucket's bases `b<bucket>/v<N>`, as (dir, N): the one listing
    * the orphan sweep and [[vacuum]] share. It lists every bucket dir on
    * disk, whatever the handle's count; a bucket path that is not a
    * directory lists nothing. */
  private def versionDirs(name: String): Seq[(Path, Int)] = {
    def numbered(dir: Path, prefix: Char): Seq[(Path, Int)] =
      if (!Files.isDirectory(dir)) Nil
      else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
        .flatMap { p =>
          val n = p.getFileName.toString
          if (n.length > 1 && n.head == prefix && n.tail.forall(_.isDigit))
            Some((p, n.tail.toInt))
          else None
        }
    numbered(tableDir(name), 'd') ++
      numbered(tableDir(name), 'b').flatMap { case (b, _) => numbered(b, 'v') }
  }

  /** Crash-debris sweep, the first step of every publish: delete
    * bucket v-dirs and table-level d-dirs versioned ABOVE the live
    * manifest. No manifest
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
    val live = currentVersion(name).getOrElse(-1)
    versionDirs(name).foreach { case (p, v) =>
      if (v > live) LocalFs.deleteRecursively(p)
    }
  }

  /** Publish manifest `m` as the next version, REQUIRING that the live
    * manifest is still `expectedBase` — optimistic concurrency for the
    * single-writer protocol. A merge builds its manifest as
    * base-snapshot ++ its-buckets; if another writer committed after
    * this writer read its base, blindly publishing would silently drop
    * the other writer's bucket updates (a lost update, not a crash).
    * The stale commit throws instead; the caller re-reads and re-merges.
    * The check-then-move window is epsilon vs the merge runtime — the
    * same compare-and-swap discipline transactional table formats use,
    * minus a distributed lock this environment doesn't need. */
  private[graft] def commitManifest(name: String, m: Manifest,
      expectedBase: Option[Int]): Unit = {
    val live = currentVersion(name)
    if (live != expectedBase)
      throw new java.util.ConcurrentModificationException(
        s"$name: manifest moved $expectedBase -> $live since this writer " +
          "read its base; re-read and re-merge (lost-update protection)")
    val next = live.getOrElse(-1) + 1
    Files.createDirectories(tableDir(name))
    Files.write(manifestFile(name, next), m.render.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    LocalFs.replaceFile(currentFile(name), next.toString.getBytes, s".tmp$next")
  }

  /** The one publish step every write verb ends in; the class doc gives
    * the protocol and what a crash at each step leaves behind. `frame`
    * carries `_bucket`. A rewrite clusters it by bucket (sorted within by
    * `sortBy`), and its buckets become `v<next>` dirs. A `delta` commit
    * stages it, sorted by (`_bucket`, `sortBy`), as the one table-level
    * dir `d<next>`, which the chain of each bucket that received rows
    * lists on top of `m`'s states, and records the staged schema as the
    * delta schema. `m` is the base manifest: the new version carries its
    * description and starts from its states. `seed` buckets are published
    * even when they stage no row. A `fresh` publish (a [[writeAll]]) is
    * handed the new description with no states: it starts each sidecar
    * empty, records the staged schema as the base schema, and publishes
    * an empty bucket 0 when nothing staged, so the table keeps its schema
    * on disk. `observeWm` observes the staged rows' max
    * `approximateUpdateTimestamp` on the write; `wmLine` turns that value
    * (None when not observed) into the version's `wm` line. Returns the
    * number of buckets published. */
  private def publish(name: String, base: Option[Int], m: Manifest,
      frame: DataFrame, sortBy: Option[String], delta: Boolean,
      seed: Set[Int] = Set.empty, fresh: Boolean = false, observeWm: Boolean = false,
      wmLine: Option[Long] => Option[Long] = _ => None): Int = {
    sweepOrphans(name)
    val next = base.getOrElse(-1) + 1
    val staging = tableDir(name).resolve(s"$StagingPrefix$next")
    def stagedDir(b: Int): Path = staging.resolve(s"_bp=$b")
    // A new table starts each configured sidecar kind empty. A commit over
    // a base carries the base's sidecars, and a missing one PROPAGATES
    // (see carriedStats): that kind is then neither computed nor written.
    // A table without sidecars runs no summary: its one action per commit
    // is the staged write.
    val prevStats =
      if (m.stats.isEmpty) None
      else if (fresh) Some(Map.empty[Int, Map[String, (String, String)]])
      else carriedStats(name, base.get)
    val prevBloom =
      if (m.blooms.isEmpty) None
      else if (fresh) Some(Map.empty[Int, Map[String, Array[Long]]])
      else carriedBloom(name, base.get)
    val summarize = prevStats.isDefined || prevBloom.isDefined
    // repartition on the bucket: without it every write task emits a file
    // into every bucket dir (tasks × buckets tiny files); with it each
    // bucket is written by exactly one task as one file. When the summary
    // reads the frame too, it is persisted AFTER this exchange: a cached
    // frame keeps its partitioning, so the summary's groupBy(_bucket) and
    // the write share one exchange. Unpinned width: the dynamic-partition
    // write emits one file per bucket dir regardless of task count.
    // A delta is one dir and needs no exchange: it is written as it
    // arrives, one file per input partition, its rows sorted by bucket so
    // row-group stats can prune by bucket. So is a one-bucket rewrite:
    // there is nothing to cluster, and the exchange would funnel the whole
    // table through one write task.
    val oneBucket = !delta && nBuckets == 1
    val sorted =
      if (delta) frame.sortWithinPartitions((col("_bucket") +: sortBy.map(col).toSeq): _*)
      else if (oneBucket) sortBy.fold(frame)(c => frame.sortWithinPartitions(col(c)))
      else {
        val clustered = frame.repartition(col("_bucket"))
        sortBy.fold(clustered)(c => clustered.sortWithinPartitions(col("_bucket"), col(c)))
      }
    val staged =
      if (summarize) sorted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sorted
    try {
      val (addStats, addBloom, counts) =
        if (summarize) stagedSummary(staged,
          if (prevStats.isDefined) m.stats else Nil,
          if (prevBloom.isDefined) m.blooms else Nil, excludeDel = delta)
        else (Map.empty[Int, Map[String, (String, String)]],
          Map.empty[Int, Map[String, Array[Long]]], Map.empty[Int, Long])
      if (summarize && counts.isEmpty && seed.isEmpty && !fresh) return 0
      // without a summary, a delta learns its buckets from its own write
      val (written, observed) = observeWrite(staged, wm = observeWm,
        buckets = delta && !summarize, tombstones = delta)
      lazy val (observedWm, observedBuckets) = observed()
      val touched =
        if (delta) {
          written.write.mode("overwrite").parquet(staging.toString)
          if (summarize) counts.keys.toSeq.sorted
          else observedBuckets.fold(0 until nBuckets: Seq[Int])(_.toSeq.sorted)
        } else {
          // `_bucket` stays a DATA column (reads recover it without path
          // parsing); `_bp` is its copy that partitionBy consumes
          if (oneBucket) written.write.mode("overwrite").parquet(stagedDir(0).toString)
          else written.withColumn("_bp", col("_bucket"))
            .write.mode("overwrite").partitionBy("_bp").parquet(staging.toString)
          // the write emits a dir per bucket that received rows (a
          // driver-side listing, zero jobs). A seeded bucket with none —
          // every row removed, a chain that resolved to nothing — gets an
          // empty-but-schemaed dir IN STAGING: nothing may write directly
          // to a v-dir, which could be a concurrent winner's published data
          val rowBuckets = (0 until nBuckets).filter(b => Files.exists(stagedDir(b)))
          val empties =
            if (fresh && rowBuckets.isEmpty) Seq(0)
            else (seed -- rowBuckets).toSeq
          empties.foreach { b =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              staged.schema).write.mode("overwrite").parquet(stagedDir(b).toString)
          }
          (rowBuckets ++ empties).sorted
        }
      if (touched.isEmpty) { LocalFs.deleteRecursively(staging); return 0 }
      // a rewritten bucket gets EXACT sidecars from its staged rows; a
      // delta commit can only WIDEN zone maps and OR its blooms (tombstoned
      // values stay admitted until a compaction rebuilds them exactly)
      val newStats = prevStats.map(p =>
        if (delta) widenStats(m.stats, p, addStats) else (p -- touched) ++ addStats)
      val newBloom = prevBloom.map(p =>
        if (delta) orBloom(p, addBloom) else (p -- touched) ++ addBloom)
      // Re-check the base before anything of the table changes: a stale
      // writer abandons its staging dir, never clobbers the winner's
      // bucket versions or sidecars. An already-existing dest is the same
      // staleness signal (a racing writer published in the check-then-move
      // window) — checked explicitly: Linux rename() would silently
      // REPLACE an empty dest dir rather than throw.
      def stale(): Nothing = {
        LocalFs.deleteRecursively(staging)
        throw new java.util.ConcurrentModificationException(
          s"$name: manifest moved past $base while this writer staged; " +
            "re-read and retry (lost-update protection)")
      }
      if (currentVersion(name) != base) stale()
      def move(from: Path, dest: Path): Unit = {
        Files.createDirectories(dest.getParent)
        if (Files.exists(dest)) stale()
        try Files.move(from, dest, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException => stale() }
      }
      if (delta) move(staging, deltaPath(name, next))
      else {
        touched.foreach(b => move(stagedDir(b), bucketPath(name, b, next)))
        LocalFs.deleteRecursively(staging)
      }
      val moved = touched.map { b =>
        val prev = m.states.getOrElse(b, BucketState(-1, Nil))
        b -> (if (delta) prev.copy(deltas = prev.deltas :+ next) else BucketState(next, Nil))
      }
      newStats.foreach(writeStats(name, next, _))
      newBloom.foreach(writeBloom(name, next, _))
      // base-file schema = the frame + _bucket (what partitionBy left in
      // the files); readers hand it to spark.read and skip inference
      commitManifest(name, m.copy(states = m.states ++ moved, wm = wmLine(observedWm),
        schema = if (fresh) Some(staged.schema) else m.schema,
        deltaSchema = if (delta) Some(staged.schema) else m.deltaSchema), base)
      touched.size
    } finally if (summarize) staged.unpersist(blocking = false)
  }

  /** Initial full write: every row routed to its bucket, one snapshot dir
    * per bucket, the next manifest. One distributed write job — the bucket
    * routing is a partitionBy on the derived `_bucket` column.
    *
    * `statsCols` turns on zone maps: per-bucket min/max for each listed
    * column, versioned with every manifest from here on ([[readRange]]
    * prunes with them). `rangeBucket` replaces hash routing with key-range
    * clustering (quantile boundaries recorded in the manifest; numeric,
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
    writeAllAtBase(name, df, key, currentVersion(name), sortBy, statsCols,
      rangeBucket, bloomCols.map(c => (c, bloomBits, bloomHashes)))

  /** [[writeAll]] with the base manifest made explicit — the seam the
    * stale-writer tests drive, like [[mergeAtBase]]. `recordWm` (the
    * [[init]] path) commits the max `approximateUpdateTimestamp` of the
    * loaded rows as the `wm` line. */
  private[graft] def writeAllAtBase(name: String, df: DataFrame, key: String,
      base: Option[Int], sortBy: Option[String] = None, statsCols: Seq[String] = Nil,
      rangeBucket: Boolean = false, blooms: Seq[(String, Int, Int)] = Nil,
      recordWm: Boolean = false): Unit = {
    val keyType = df.schema(key).dataType
    val boundaries: Option[(String, Seq[String])] =
      if (!rangeBucket) None
      else {
        val kind = StatKind.of(keyType)
        require(kind != "string",
          "range bucketing needs a numeric/date/timestamp key")
        // approximate quantiles are fine for LAYOUT: boundary error only
        // skews bucket sizes a little, never correctness (routing is the
        // same pure function on both the write and every later merge)
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        val q = df.select(StatKind.expr(key, keyType).as("_k"))
          .stat.approxQuantile("_k", probs, 0.001)
        val rendered =
          if (kind == "long") q.map(d => math.floor(d).toLong.toString)
          else q.map(_.toString)
        Some((kind, rendered.distinct.toSeq))
      }
    val m = Manifest(Map.empty, key, boundaries,
      statsCols.map(c => (c, StatKind.of(df.schema(c).dataType))), blooms,
      buckets = Some(nBuckets))
    publish(name, base, m, df.withColumn("_bucket", routing(m, df)), sortBy,
      delta = false, fresh = true, observeWm = recordWm, wmLine = identity)
  }

  /** `df` observed on the job that writes it, plus the read of what was
    * observed: with `wm`, the max `approximateUpdateTimestamp` (epoch
    * micros) of its rows, live rows only when `tombstones`; with
    * `buckets`, the set of its `_bucket`s. No extra action: the values
    * ride the write. The observe node sits ABOVE the persisted frame it
    * wraps: beneath a cached child it never fires. The read waits at most
    * [[BucketedTableStore.WmWait]] for the listener that delivers it. A
    * value not asked for, a `wm` without its column, or a timeout reads
    * None: no `wm` line, so the next sync scans, and a delta listed under
    * every bucket, which is correct and only slower to read. */
  private def observeWrite(df: DataFrame, wm: Boolean, buckets: Boolean,
      tombstones: Boolean): (DataFrame, () => (Option[Long], Option[Set[Int]])) = {
    val wmAgg =
      if (!wm || !df.schema.exists(f => f.name == WmCol &&
          f.dataType == org.apache.spark.sql.types.TimestampType)) None
      else {
        val ts = unix_micros(col(WmCol))
        Some(max(if (tombstones) when(!col("_del"), ts) else ts).as("wm"))
      }
    val aggs = wmAgg.toSeq ++
      (if (buckets) Seq(collect_set(col("_bucket")).as("buckets")) else Nil)
    if (aggs.isEmpty) (df, () => (None, None))
    else {
      val obs = org.apache.spark.sql.Observation()
      (df.observe(obs, aggs.head, aggs.tail: _*), () =>
        scala.util.Try(scala.concurrent.Await.result(obs.future, WmWait)) match {
          case scala.util.Success(r) =>
            (wmAgg.flatMap(_ => Option(r.getAs[java.lang.Long]("wm")).map(_.longValue)),
              if (buckets) Some(r.getAs[Seq[Long]]("buckets").map(_.toInt).toSet) else None)
          case scala.util.Failure(e) =>
            logWarning(s"write observation unavailable ($e); committing without a " +
              "wm line (the next sync scans)" +
              (if (buckets) " and listing the delta under every bucket" else ""))
            (None, None)
        })
    }
  }

  /** Partition-level merge: delete-then-insert upsert against ONLY the
    * buckets containing staged keys. `stage` must carry the target schema
    * plus `eventName` (REMOVEs are applied as deletes, like
    * [[Merge.applyStage]]) and at most one row per key (the
    * [[Merge.stageChanges]] contract); `key` must be the table's key.
    * Untouched buckets keep their live version — their bytes are never
    * read, shuffled, or rewritten. A touched bucket with a delta chain is
    * resolved on read and rewritten clean: copy-on-write merge doubles as
    * targeted compaction. */
  def merge(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit =
    // base is captured once: the commit at the end is conditional on the
    // live manifest still being this one (lost-update protection)
    mergeAtBase(name, stage, key, syncTime, currentVersion(name), sortBy)

  /** [[merge]] with the base manifest made explicit — the seam the
    * stale-writer tests drive: a base captured before a concurrent winner
    * committed must refuse and leave the winner's buckets untouched.
    *
    * `recordWm` (the [[applyMerge]] path) commits a `wm` line by the rule
    * of `mergeDeltaImpl`: let `u` be the max `approximateUpdateTimestamp`
    * of the rewritten rows and `p` the base manifest's line. Every row of
    * an untouched bucket is ≤ p, so u ≥ p makes u the new max; and when
    * every bucket is rewritten (always, at one bucket), the rewritten rows
    * are the table and u is its max whatever p is. */
  private[graft] def mergeAtBase(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, base: Option[Int],
      sortBy: Option[String] = None, recordWm: Boolean = false): Unit = {
    val m = baseManifest(name, base).keyed(name, key)
    // At one bucket any staged row touches bucket 0, so a one-row probe
    // replaces the bucket census (a cache, a shuffle and a collect: two
    // more jobs per merge); the uncached stage is read for its keys and
    // for its upserts. A small stage is cached in one partition, so the
    // census plans no shuffle and runs one job.
    val oneBucket = nBuckets == 1
    val routed = stage.withColumn("_bucket", routing(m, stage))
    val staged =
      if (oneBucket) routed
      else Merge.gatherSmall(routed).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched =
        if (oneBucket) { if (staged.isEmpty) Set.empty[Int] else Set(0) }
        else staged.select(col("_bucket")).distinct()
          .collect().map(_.getLong(0).toInt).toSet
      if (touched.nonEmpty) {
        // a touched bucket may have NO manifest entry yet (writeAll only
        // records buckets that received rows): read the existing subset,
        // or an empty-but-schemaed frame when every touched bucket is new
        val existing = m.states.view.filterKeys(touched).toMap
        val target =
          if (existing.nonEmpty) resolve(name, m, existing)
          else if (m.states.nonEmpty) resolve(name, m, Map(m.states.head)).limit(0)
          else throw new IllegalStateException(
            s"$name has an empty manifest — writeAll must seed at least one bucket")
        val kept = target.join(staged.select(col(key)), Seq(key), "left_anti")
        val inserts = staged.filter(col("eventName") =!= "REMOVE")
          .drop("eventName")
          .withColumn("syncTimestamp", bound(syncTime))
          .select(target.columns.map(col).toIndexedSeq: _*)
        val whole = m.states.keySet.subsetOf(touched)
        val prevWm = if (recordWm) m.wm else None
        // every touched bucket advances, an all-removed one to an empty dir
        publish(name, base, m, kept.unionByName(inserts), sortBy,
          delta = false, seed = touched, observeWm = recordWm && (whole || prevWm.isDefined),
          wmLine = _.filter(u => whole || prevWm.exists(u >= _)))
      }
    } finally if (!oneBucket) staged.unpersist()
  }

  /** Merge-on-read commit: append ONE delta dir for the whole table and
    * move the manifest pointer — the target's existing bytes are never
    * read, shuffled, or rewritten, so a commit costs O(batch) regardless
    * of table size, and the batch is written without an exchange, one
    * file per input partition. The delta rows are the staged upserts
    * (REMOVEs kept as `_del` tombstones) stamped with the commit sequence
    * `_seq` and their `_bucket`; the manifest lists the delta under each
    * bucket that received rows, and [[resolve]] replays each bucket's
    * chain newest-wins at read time. Same `stage`
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
    val base = currentVersion(name)
    val m = baseManifest(name, base).keyed(name, key)
    val prevWm = if (recordWm) m.wm else None
    val rows = stage
      .withColumn("_bucket", routing(m, stage))
      .withColumn("_del", col("eventName") === "REMOVE")
      .drop("eventName")
      .withColumn("syncTimestamp", bound(syncTime))
      .withColumn("_seq", bound(base.get + 1L))
    publish(name, base, m, rows, sortBy, delta = true,
      observeWm = prevWm.isDefined,
      wmLine = u => for (p <- prevWm; x <- u if x >= p) yield x)
  }

  /** Small-file consolidation: rewrite every bucket whose delta chain
    * reached `minDeltas` back to a single-file base snapshot at the next
    * version, and clear its chain in the manifest — one CAS commit, same
    * crash/stale-writer safety as the merges. Only the dirty buckets'
    * bytes are read (chains resolved once, newest-wins) and rewritten;
    * clean buckets are untouched, so a steady-state table pays
    * O(dirty fraction), not O(table), per compaction sweep. The staged
    * rows are the exact resolved state of every compacted bucket, so this
    * is where widened zone maps retighten and blooms shed tombstoned bits.
    * History stays time-travelable: old manifests keep referencing the
    * pre-compaction chains until [[vacuum]] retires them. Returns the
    * number of buckets compacted. */
  def compact(name: String, minDeltas: Int = 1,
      sortBy: Option[String] = None): Int = {
    require(minDeltas >= 1, "compacting clean buckets is a no-op")
    val base = currentVersion(name)
    val m = baseManifest(name, base)
    val targets = m.states.filter(_._2.deltas.size >= minDeltas)
    if (targets.isEmpty) 0
    // a chain that resolves to nothing still compacts, to an empty base;
    // the live rows are the same, so the base's watermark line still holds
    else publish(name, base, m, resolve(name, m, targets), sortBy, delta = false,
      seed = targets.keySet, wmLine = _ => m.wm)
  }

  /** Point lookup: read only the buckets that can contain `values` of the
    * entity key — the hash-bucketed layout's payoff for selective reads.
    * A k-key probe against an N-bucket table opens ≤ k bucket dirs, not
    * the table; at 100 TB with 128 MB buckets that is MBs of IO per probe.
    * The residual filter keeps correctness for hash collisions. */
  def lookup(name: String, key: String, values: Seq[String]): Option[DataFrame] =
    liveBase(name).map { case (_, table) =>
      import spark.implicits._
      val m = table.keyed(name, key)
      // the probes take the key's type and route as the table's rows did:
      // hashed, or normalized into the range boundaries' domain (a date
      // key as its epoch day)
      val keyType = m.schema.getOrElse(resolve(name, m, m.states).schema)(key).dataType
      val vdf = values.toDF(key).select(col(key).cast(keyType).as(key))
      val probes = vdf.select(col(key), routing(m, vdf)).collect()
      resolve(name, m, m.states.view.filterKeys(probes.map(_.getLong(1).toInt).toSet).toMap)
        .filter(col(key).isin(probes.map(_.get(0)).toIndexedSeq: _*))
    }

  /** Bucket-count evolution: rewrite the live snapshot into `newN` buckets
    * (the fixed-at-creation count's escape hatch once buckets outgrow a
    * few row groups). One distributed read+route+write of the LIVE data
    * only, under the live manifest's layout: its zone-map and bloom
    * columns, and range routing with boundaries recomputed for `newN`.
    * History stays under the old bucket count and remains
    * time-travelable until vacuumed. Returns the new store handle. */
  def rebucket(name: String, key: String, newN: Int,
      newRoot: String, sortBy: Option[String] = None): BucketedTableStore = {
    val m = liveBase(name).map(_._2.keyed(name, key)).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))
    val next = new BucketedTableStore(spark, newRoot, newN)
    next.writeAllAtBase(name, resolve(name, m, m.states).drop("_bucket"),
      key, next.currentVersion(name), sortBy, statsCols = m.stats.map(_._1),
      rangeBucket = m.route.isDefined, blooms = m.blooms)
    next
  }

  /** Retention sweep: keep the `keepManifests` most recent manifests
    * (always including the live one) and every bucket base and
    * table-level delta any of them references (a delta lives while any
    * retained chain lists it); delete older manifests, unreferenced
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
    currentVersion(name) match {
      case None => (0, 0)
      case Some(cur) =>
        val floor = cur - keepManifests + 1
        val dropped = (0 until floor).filter(v => Files.exists(manifestFile(name, v)))
        dropped.foreach { v =>
          Files.delete(manifestFile(name, v))
          Files.deleteIfExists(statsFile(name, v)) // zone maps age out with their manifest
          Files.deleteIfExists(bloomFile(name, v)) // bloom sidecars likewise
        }
        // union of the dirs the retained manifests still reference: bucket
        // bases and table-level deltas a chain lists
        val live: Set[Path] = (math.max(0, floor) to cur).flatMap { v =>
          versionAt(name, v).toSeq.flatMap(_._2.states).flatMap { case (b, st) =>
            (if (st.base >= 0) Seq(bucketPath(name, b, st.base)) else Nil) ++
              st.deltas.map(deltaPath(name, _))
          }
        }.toSet
        val orphans = versionDirs(name).map(_._1).filterNot(live.contains)
        orphans.foreach(LocalFs.deleteRecursively)
        // the live manifest's staging dir may still be mid-move only if a
        // merge is running; single-writer protocol says none is
        val staging = scala.util.Using.resource(Files.list(tableDir(name)))(
          _.iterator().asScala.filter(_.getFileName.toString.startsWith(StagingPrefix)).toSeq)
        staging.foreach(LocalFs.deleteRecursively)
        (dropped.size, orphans.size + staging.size)
    }
  }

  /** [[SyncStore]] verbs — [[writeAll]] / [[merge]] (or [[mergeDelta]] +
    * auto-[[compact]] when `deltaMerges` is on) under the shared names, the
    * ones [[graft.pipeline.Pipeline]] and [[graft.streaming.CdcStream]]
    * drive. */
  def init(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None): Unit =
    writeAllAtBase(name, df, key, currentVersion(name), sortBy,
      recordWm = true)

  def applyMerge(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit =
    if (deltaMerges) {
      mergeDeltaImpl(name, stage, key, syncTime, sortBy, recordWm = true)
      compact(name, minDeltas = autoCompactAfter, sortBy = sortBy)
    } else mergeAtBase(name, stage, key, syncTime, currentVersion(name), sortBy,
      recordWm = true)

  /** [[SyncStore]] retention verb → [[vacuum]]. */
  def retain(name: String, keep: Int): Unit = vacuum(name, keep)
}

object BucketedTableStore {
  /** Every publish stages under `<table>/_staging<next>`. */
  private val StagingPrefix = "_staging"
  private val WmCol = "approximateUpdateTimestamp"
  /** Bound on the wait for an observed watermark: the write has finished
    * by then, only the listener delivering its metric can lag. */
  private val WmWait = scala.concurrent.duration.Duration(10, "seconds")

  /** The one schema codec the manifests persist with: rendered asNullable
    * (parquet readers bind by name, and a lit()-derived non-null field
    * must not make a read stricter than the files), parsed tolerantly (an
    * unparsable text reads as None, so the read infers). */
  private def renderSchema(s: StructType): String =
    StructType(s.fields.map(_.copy(nullable = true))).json

  private def parseSchema(json: String): Option[StructType] =
    scala.util.Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s }

  /** One parsed `_MANIFEST.<n>` (the class doc gives its grammar): the
    * bucket states, the entity key, the routing (None = hash, else the
    * boundary kind and boundaries), the zone-map columns with their
    * [[StatKind]], the bloom columns with their (m bits, k hashes), the
    * base- and delta-file schemas, the `wm` line and the bucket count
    * (None when the manifest has no `buckets` line). */
  private[graft] final case class Manifest(states: Map[Int, BucketState], key: String,
      route: Option[(String, Seq[String])] = None, stats: Seq[(String, String)] = Nil,
      blooms: Seq[(String, Int, Int)] = Nil, schema: Option[StructType] = None,
      deltaSchema: Option[StructType] = None, wm: Option[Long] = None,
      buckets: Option[Int] = None) {

    /** This manifest, once `key` is checked to be its entity key: a verb
      * that routed or matched by another column would misroute rows. */
    def keyed(table: String, key: String): Manifest = {
      require(key == this.key, s"$table is keyed by '${this.key}', not '$key'")
      this
    }

    /** This manifest, once a handle's bucket count `n` is checked to be
      * the table's: a verb that routed by another count would send keys to
      * the wrong buckets. */
    def bucketed(table: String, n: Int): Manifest = {
      require(buckets.forall(_ == n), s"$table has ${buckets.get} buckets, not $n")
      this
    }

    def render: String = {
      import StatKind.enc
      (Seq(s"key ${enc(key)}") ++ buckets.map(n => s"buckets $n") ++
        Seq(route.fold("route hash") { case (kind, bs) =>
          (Seq("route", "range", kind) ++ bs.map(enc)).mkString(" ")
        }) ++
        stats.map { case (c, kind) => s"stat ${enc(c)} $kind" } ++
        blooms.map { case (c, m, k) => s"bloom ${enc(c)} $m $k" } ++
        schema.map(s => s"schema ${renderSchema(s)}") ++
        deltaSchema.map(s => s"dschema ${renderSchema(s)}") ++
        wm.map(w => s"wm $w") ++
        states.toSeq.sortBy(_._1).map { case (b, st) => s"$b ${st.render}" })
        .mkString("\n")
    }
  }

  private[graft] object Manifest {
    def parse(table: String, lines: Seq[String]): Manifest = {
      val (buckets, tagged) = lines.map(_.trim).filter(_.nonEmpty)
        .map { l => val (tag, rest) = l.span(_ != ' '); (tag, rest.drop(1)) }
        .partition(_._1.forall(_.isDigit))
      val tags = tagged.groupMap(_._1)(_._2)
      def fields(tag: String) = tags.getOrElse(tag, Nil).map(_.split(' ').toSeq)
      val states = buckets.map { case (b, st) => b.toInt -> BucketState.parse(st) }.toMap
      val key = tags.get("key").map(ks => StatKind.dec(ks.head)).getOrElse {
        if (states.isEmpty) ""
        else throw new IllegalStateException(s"$table: its manifest lists buckets " +
          "but no key line; a table written before manifests described their " +
          "version must be rewritten")
      }
      Manifest(states, key,
        fields("route").headOption.collect {
          case "range" +: kind +: bs => (kind, bs.map(StatKind.dec))
        },
        fields("stat").map { case Seq(c, kind) => (StatKind.dec(c), kind) },
        fields("bloom").map { case Seq(c, m, k) => (StatKind.dec(c), m.toInt, k.toInt) },
        tags.get("schema").flatMap(s => parseSchema(s.head)),
        tags.get("dschema").flatMap(s => parseSchema(s.head)),
        tags.get("wm").map(_.head.toLong),
        tags.get("buckets").map(_.head.toInt))
    }
  }
}
