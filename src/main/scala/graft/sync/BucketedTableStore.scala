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
  *   root/<table>/d<N>/             — one DELTA commit for the whole table,
  *                                    rows of many buckets (see below)
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
  *     bounded by the un-compacted fraction of the table. Earlier versions
  *     wrote a delta per bucket, `b<bucket>/d<N>`; nothing reads that
  *     layout, because the only trees that outlive a run (the memoized
  *     seed masters) are written by [[writeAll]] alone and hold no chain.
  *
  * [[compact]] is the counterweight to [[mergeDelta]]: it rewrites every
  * bucket whose delta chain reached a threshold back to a single-file base
  * snapshot (small-file consolidation, manifest-committed). With
  * `deltaMerges = true` the [[SyncStore]] verb [[applyMerge]] routes to
  * [[mergeDelta]] and auto-compacts chains at `autoCompactAfter` — the
  * write-fast/read-amortized loop Hudi-style MOR tables run in production.
  *
  * '''Publish protocol.''' Readers resolve `_CURRENT` → manifest →
  * per-bucket dirs, so a write is invisible until its one pointer move,
  * exactly the [[TableStore]] protocol one directory deeper. All four
  * write verbs ([[writeAll]], [[merge]], [[mergeDelta]], [[compact]]) end
  * in the same step, `publish`; each supplies only its frame, the
  * buckets that must advance, and its `wm` rule. Each step, and what a
  * crash during it leaves behind:
  *
  *   1. sweep: delete v/d-dirs versioned above the live manifest (a
  *      crashed predecessor's moved-but-uncommitted dirs).
  *   1. stage: write the rows under `_staging<next>`: a rewrite
  *      partitioned by `_bucket`, plus an empty-but-schemaed dir for each
  *      bucket that must advance with no rows; a delta as one flat dir. A
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
  *   1. sidecars and table files: `_STATS.<next>` and `_BLOOM.<next>`,
  *      then a [[writeAll]]'s `_STATSCOLS`, `_BLOOMCOLS`, `_BUCKETER` and
  *      `_KEY`, then the schema sidecar, stamp first. A crash leaves
  *      sidecars of a version no manifest names (the retry overwrites
  *      them) and at worst a schema stamp newer than the live manifest,
  *      which degrades reads to inference. The table files are not
  *      versioned: a crashed [[writeAll]] that changed the key, the
  *      routing or the sidecar columns leaves the old version described
  *      by the new files until the writeAll is retried.
  *   1. commit ([[commitManifest]]): write `_MANIFEST.<next>`, then flip
  *      `_CURRENT` through a temp file and an atomic move — the commit
  *      point. A crash before the flip leaves a manifest no pointer names;
  *      the retry overwrites it.
  *
  * Apart from that table-file caveat, a reader sees the old version or
  * the new one, never a mix, and retrying the interrupted call lands what
  * an uninterrupted one would.
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
  import BucketedTableStore.{StagingPrefix, WmCol, WmPrefix, WmWait}

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

  private def readSchemaFile(f: Path): Option[org.apache.spark.sql.types.StructType] =
    if (!Files.exists(f)) None
    else scala.util.Try(
      org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption

  /** Write schema sidecar `f` with its stamp `vf` = manifest `v`, only
    * when the content changes (or the stamp is missing): an unchanged
    * schema stays valid for every older manifest it already covered. The
    * sidecar is replaced atomically, so a torn write is never read as a
    * (wrong) schema. STAMP FIRST: a crash between the two writes leaves a
    * too-new stamp over the old sidecar, and every read below it degrades
    * to inference (safe) instead of binding old files to a new schema
    * (the silent-null bug this versioning exists to close). */
  private def publishSchema(f: Path, vf: Path,
      s: org.apache.spark.sql.types.StructType, v: Int): Unit =
    if (!readSchemaFile(f).map(schemaJson).contains(schemaJson(s)) || !Files.exists(vf)) {
      Files.write(vf, v.toString.getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      TableStore.replaceFile(f, schemaJson(s).getBytes)
    }

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
  private def deltaPath(name: String, v: Int): Path = tableDir(name).resolve(s"d$v")

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
        schemaAsOf(deltaSchemaFile(name), deltaSchemaVersionFile(name), asOf))
      val deltas =
        if (admits.values.forall(_.size == nBuckets)) stored
        else stored.filter(admits.groupMap(_._2.toSet)(_._1).map { case (bs, ds) =>
          val inSeq = col("_seq").isin(ds.toSeq.map(_.toLong): _*)
          if (bs.size == nBuckets) inSeq else inSeq && col("_bucket").isin(bs.toSeq: _*)
        }.reduce(_ || _))
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

  /** Every versioned dir of the table, the table-level deltas `d<N>` and
    * each bucket's bases `b<bucket>/v<N>`, as (dir, N): the one listing
    * the orphan sweep and [[vacuum]] share. A bucket path that is not a
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
      (0 until nBuckets).flatMap(b => numbered(tableDir(name).resolve(s"b$b"), 'v'))
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
    val live = currentManifestVersion(name).getOrElse(-1)
    versionDirs(name).foreach { case (p, v) =>
      if (v > live) TableStore.deleteRecursively(p)
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
    TableStore.replaceFile(currentFile(name), next.toString.getBytes, s".tmp$next")
  }

  /** What a [[writeAll]] fixes for the table's life: the entity key, the
    * zone-map columns with their [[StatKind]], the bloom columns with their
    * (m bits, k hashes), and the range-routing boundaries (None = hash). */
  private case class Layout(key: String, stats: Seq[(String, String)],
      blooms: Seq[(String, Int, Int)], boundaries: Option[(String, Array[String])])

  /** The one publish step every write verb ends in; the class doc gives
    * the protocol and what a crash at each step leaves behind. `frame`
    * carries `_bucket`. A rewrite clusters it by bucket (sorted within by
    * `sortBy`), and its buckets become `v<next>` dirs. A `delta` commit
    * stages it, sorted by (`_bucket`, `sortBy`), as the one table-level
    * dir `d<next>`, which the chain of each bucket that received rows
    * lists on top of `states`. `seed` buckets are published even when
    * they stage no row. A `layout` (a
    * [[writeAll]]) replaces `states`, writes the table files, and
    * publishes an empty bucket 0 when nothing staged, so the table keeps
    * its schema on disk. `observeWm` observes the staged rows' max
    * `approximateUpdateTimestamp` on the write; `wmLine` turns that value
    * (None when not observed) into the version's `wm` line. Returns the
    * number of buckets published. */
  private def publish(name: String, base: Option[Int],
      states: Map[Int, BucketState], frame: DataFrame, sortBy: Option[String],
      delta: Boolean, seed: Set[Int] = Set.empty, layout: Option[Layout] = None,
      observeWm: Boolean = false,
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
    val specs = layout.fold(statsSpecs(name))(_.stats)
    val bSpecs = layout.fold(bloomSpecs(name))(_.blooms)
    val prevStats =
      if (specs.isEmpty) None
      else if (layout.isDefined) Some(Map.empty[Int, Map[String, (String, String)]])
      else carriedStats(name, base.get)
    val prevBloom =
      if (bSpecs.isEmpty) None
      else if (layout.isDefined) Some(Map.empty[Int, Map[String, BloomSide]])
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
    // row-group stats can prune by bucket.
    val sorted =
      if (delta) frame.sortWithinPartitions((col("_bucket") +: sortBy.map(col).toSeq): _*)
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
          if (prevStats.isDefined) specs else Nil,
          if (prevBloom.isDefined) bSpecs else Nil, excludeDel = delta)
        else (Map.empty[Int, Map[String, (String, String)]],
          Map.empty[Int, Map[String, BloomSide]], Map.empty[Int, Long])
      if (summarize && counts.isEmpty && seed.isEmpty && layout.isEmpty) return 0
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
          written.withColumn("_bp", col("_bucket"))
            .write.mode("overwrite").partitionBy("_bp").parquet(staging.toString)
          // the write emits a dir per bucket that received rows (a
          // driver-side listing, zero jobs). A seeded bucket with none —
          // every row removed, a chain that resolved to nothing — gets an
          // empty-but-schemaed dir IN STAGING: nothing may write directly
          // to a v-dir, which could be a concurrent winner's published data
          val rowBuckets = (0 until nBuckets).filter(b => Files.exists(stagedDir(b)))
          val empties =
            if (layout.isDefined && rowBuckets.isEmpty) Seq(0)
            else (seed -- rowBuckets).toSeq
          empties.foreach { b =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              staged.schema).write.mode("overwrite").parquet(stagedDir(b).toString)
          }
          (rowBuckets ++ empties).sorted
        }
      if (touched.isEmpty) { TableStore.deleteRecursively(staging); return 0 }
      // a rewritten bucket gets EXACT sidecars from its staged rows; a
      // delta commit can only WIDEN zone maps and OR its blooms (tombstoned
      // values stay admitted until a compaction rebuilds them exactly)
      val newStats = prevStats.map(p =>
        if (delta) widenStats(specs, p, addStats) else (p -- touched) ++ addStats)
      val newBloom = prevBloom.map(p =>
        if (delta) orBloom(p, addBloom) else (p -- touched) ++ addBloom)
      // Re-check the base before anything of the table changes: a stale
      // writer abandons its staging dir, never clobbers the winner's
      // bucket versions or sidecars. An already-existing dest is the same
      // staleness signal (a racing writer published in the check-then-move
      // window) — checked explicitly: Linux rename() would silently
      // REPLACE an empty dest dir rather than throw.
      def stale(): Nothing = {
        TableStore.deleteRecursively(staging)
        throw new java.util.ConcurrentModificationException(
          s"$name: manifest moved past $base while this writer staged; " +
            "re-read and retry (lost-update protection)")
      }
      if (currentManifestVersion(name) != base) stale()
      def move(from: Path, dest: Path): Unit = {
        Files.createDirectories(dest.getParent)
        if (Files.exists(dest)) stale()
        try Files.move(from, dest, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException => stale() }
      }
      if (delta) move(staging, deltaPath(name, next))
      else {
        touched.foreach(b => move(stagedDir(b), bucketPath(name, b, next)))
        TableStore.deleteRecursively(staging)
      }
      val moved = touched.map { b =>
        val prev = states.getOrElse(b, BucketState(-1, Nil))
        b -> (if (delta) prev.copy(deltas = prev.deltas :+ next) else BucketState(next, Nil))
      }
      newStats.foreach(writeStats(name, next, _))
      newBloom.foreach(writeBloom(name, next, _))
      layout.foreach { l =>
        def lines(f: Path, ls: Seq[String]): Unit = Files.write(f, ls.mkString("\n").getBytes,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        if (l.stats.nonEmpty)
          lines(statsColsFile(name), l.stats.map { case (c, k) => s"${StatKind.enc(c)}\t$k" })
        if (l.blooms.nonEmpty)
          lines(bloomColsFile(name), l.blooms.map { case (c, m, k) => s"${StatKind.enc(c)}\t$m\t$k" })
        l.boundaries match {
          case Some((kind, bs)) => lines(bucketerFile(name), s"range $kind" +: bs.toSeq.map(StatKind.enc))
          case None => Files.deleteIfExists(bucketerFile(name))
        }
        lines(keyFile(name), Seq(l.key))
        // base-file schema = the frame + _bucket (what partitionBy left in
        // the files); readers hand it to spark.read and skip inference
        publishSchema(schemaFile(name), schemaVersionFile(name), staged.schema, next)
      }
      if (delta)
        publishSchema(deltaSchemaFile(name), deltaSchemaVersionFile(name), staged.schema, next)
      commitManifest(name, states ++ moved, base, wmLine(observedWm))
      touched.size
    } finally if (summarize) staged.unpersist(blocking = false)
  }

  private def liveStates(name: String, base: Option[Int]): Map[Int, BucketState] =
    base.map(parseStates(name, _)).getOrElse(
      throw new IllegalStateException(s"$name not initialized — writeAll first"))

  /** Initial full write: every row routed to its bucket, one snapshot dir
    * per bucket, the next manifest. One distributed write job — the bucket
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
    writeAllAtBase(name, df, key, currentManifestVersion(name), sortBy, statsCols,
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
    val boundaries: Option[(String, Array[String])] =
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
        Some((kind, rendered.distinct))
      }
    val route = boundaries.fold(bucketCol(key)) { case (kind, bs) =>
      rangeRouting(kind, bs, StatKind.expr(key, keyType))
    }
    publish(name, base, Map.empty, df.withColumn("_bucket", route), sortBy,
      delta = false, layout = Some(Layout(key,
        statsCols.map(c => (c, StatKind.of(df.schema(c).dataType))), blooms, boundaries)),
      observeWm = recordWm, wmLine = identity)
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
    val m = liveStates(name, base)
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
        val kept = target.join(staged.select(col(key)), Seq(key), "left_anti")
        val inserts = staged.filter(col("eventName") =!= "REMOVE")
          .drop("eventName")
          .withColumn("syncTimestamp", lit(syncTime))
          .select(target.columns.map(col).toIndexedSeq: _*)
        // every touched bucket advances, an all-removed one to an empty dir
        publish(name, base, m, kept.unionByName(inserts), sortBy,
          delta = false, seed = touched)
      }
    } finally staged.unpersist()
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
    val base = currentManifestVersion(name)
    val m = liveStates(name, base)
    val sk = storedKey(name)
    require(sk == key, s"$name is keyed by '$sk', not '$key'")
    val prevWm = if (recordWm) manifestWatermark(name, base.get) else None
    val rows = stage
      .withColumn("_bucket", routingCol(name, key, stage))
      .withColumn("_del", col("eventName") === "REMOVE")
      .drop("eventName")
      .withColumn("syncTimestamp", lit(syncTime))
      .withColumn("_seq", lit(base.get + 1L))
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
    val base = currentManifestVersion(name)
    val m = liveStates(name, base)
    val targets = m.filter(_._2.deltas.size >= minDeltas)
    if (targets.isEmpty) 0
    // a chain that resolves to nothing still compacts, to an empty base;
    // the live rows are the same, so the base's watermark line still holds
    else publish(name, base, m, resolve(name, targets), sortBy, delta = false,
      seed = targets.keySet, wmLine = _ => manifestWatermark(name, base.get))
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
        // union of the dirs the retained manifests still reference: bucket
        // bases and table-level deltas a chain lists
        val live: Set[Path] = (math.max(0, floor) to cur).flatMap { v =>
          if (!Files.exists(manifestFile(name, v))) Nil
          else parseStates(name, v).toSeq.flatMap { case (b, st) =>
            (if (st.base >= 0) Seq(bucketPath(name, b, st.base)) else Nil) ++
              st.deltas.map(deltaPath(name, _))
          }
        }.toSet
        val orphans = versionDirs(name).map(_._1).filterNot(live.contains)
        orphans.foreach(TableStore.deleteRecursively)
        // the live manifest's staging dir may still be mid-move only if a
        // merge is running; single-writer protocol says none is
        val staging = scala.util.Using.resource(Files.list(tableDir(name)))(
          _.iterator().asScala.filter(_.getFileName.toString.startsWith(StagingPrefix)).toSeq)
        staging.foreach(TableStore.deleteRecursively)
        (dropped.size, orphans.size + staging.size)
    }
  }

  /** [[SyncStore]] verbs — [[writeAll]] / [[merge]] (or [[mergeDelta]] +
    * auto-[[compact]] when `deltaMerges` is on) under the shared names, so
    * [[graft.pipeline.Pipeline]] swaps this store in via config. */
  def init(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None): Unit =
    writeAllAtBase(name, df, key, currentManifestVersion(name), sortBy,
      recordWm = true)

  def applyMerge(name: String, stage: DataFrame, key: String,
      syncTime: java.sql.Timestamp, sortBy: Option[String] = None): Unit =
    if (deltaMerges) {
      mergeDeltaImpl(name, stage, key, syncTime, sortBy, recordWm = true)
      compact(name, minDeltas = autoCompactAfter, sortBy = sortBy)
    } else merge(name, stage, key, syncTime, sortBy)

  /** [[SyncStore]] retention verb → [[vacuum]]. */
  def retain(name: String, keep: Int): Unit = vacuum(name, keep)
}

object BucketedTableStore {
  /** Every publish stages under `<table>/_staging<next>`. */
  private val StagingPrefix = "_staging"
  private val WmPrefix = "wm "
  private val WmCol = "approximateUpdateTimestamp"
  /** Bound on the wait for an observed watermark: the write has finished
    * by then, only the listener delivering its metric can lag. */
  private val WmWait = scala.concurrent.duration.Duration(10, "seconds")
}
