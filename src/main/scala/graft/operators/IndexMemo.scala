package graft.operators

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The one driver-side memo for standing index state: ANN quantizers and
  * codebooks, IVF postings, graph cells and edges, BM25 stats, LSH bands,
  * door seeds, frozen gates, bucketed layouts. A deployment builds such
  * state once and amortizes it over every query; timing the build per
  * query call mis-prices the operators. Build wall-time is recorded per
  * entry on a miss ([[builds]]), and the bench reports it apart from the
  * probe timings as "ann_build".
  *
  * A [[Key]] names an entry. This module alone turns a key into strings:
  * the dataset version it is valid for, the session-free disk key of the
  * [[AnnIndexStore]] tier, and the ledger key of [[Build.ledgerKey]].
  *
  * Eviction has one rule: an entry lives while its dataset's version is
  * unchanged. The version is a cheap metadata marker (max mtime, file
  * count and total bytes of the dataset dir), so an in-place rewrite of a
  * corpus evicts every entry over it, whatever its family or params, and
  * never serves stale state. Entries that differ only in params coexist.
  * An entry bound to the session is also rebuilt in a new SparkContext.
  *
  * Directory values ([[tree]]) built in a temp dir are owned by the memo:
  * the dir is deleted when its entry is evicted, replaced, invalidated or
  * loses a racing double build, and any left at JVM exit are deleted by
  * one shutdown hook. Trees in the configured [[AnnIndexStore]] are never
  * deleted here.
  */
object IndexMemo {

  /** An index `family` built over the dataset at `dir`, with `params` in
    * caller order (each a bare tag or `name=value`, no ':'). `session`
    * marks a value bound to the SparkContext that built it (a
    * localCheckpoint, a catalog table). */
  final case class Key(family: String, dir: String, params: Seq[String],
      session: Boolean) {
    require(params.forall(!_.contains(':')), s"a param holds ':': $params")
  }

  /** One memo miss: what was built, at which dataset version, in how many
    * seconds. */
  final case class Build(key: Key, version: String, seconds: Double) {
    /** `family:dir:v=version:params`, the raw key of the full ledger. */
    def ledgerKey: String = diskKey(key, version)
  }

  private final class Slot(val version: String, val context: String,
      val value: Any, val build: Build, val owned: Option[Path])

  private val slots = TrieMap.empty[Key, Slot]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    slots.values.foreach(_.owned.foreach(release))))

  /** The memoized value of `key`, built on a miss. */
  def apply[T](key: Key)(build: => T): T = fetch(key)((build, None))

  /** A memoized directory tree for `key`. `populate` writes the tree at
    * the path it is handed. The tree lives in the [[AnnIndexStore]] when
    * one is configured, else in a temp dir the memo owns. */
  def tree(key: Key)(populate: String => Unit): String = fetch(key) {
    AnnIndexStore.orBuildTree(key)(populate) match {
      case Some(path) => (path, None)
      case None =>
        val dir = Files.createTempDirectory(s"graft-${key.family}")
        try populate(dir.toString)
        catch { case e: Throwable => release(dir); throw e }
        (dir.toString, Some(dir))
    }
  }

  /** Build records of the live entries. */
  def builds: Seq[Build] = slots.values.map(_.build).toSeq

  /** Drop every entry whose key matches `p`. */
  def invalidate(p: Key => Boolean): Unit =
    slots.foreach { case (k, s) => if (p(k)) drop(k, s) }

  private def fetch[T](key: Key)(build: => (T, Option[Path])): T = {
    val version = datasetVersion(key.dir)
    val context = if (key.session) contextMarker else ""
    slots.foreach { case (k, s) =>
      if (k.dir == key.dir && s.version != version) drop(k, s)
    }
    slots.get(key) match {
      case Some(s) if s.version == version && s.context == context =>
        s.value.asInstanceOf[T]
      case _ =>
        val t0 = System.nanoTime()
        val (value, owned) = build
        val seconds = (System.nanoTime() - t0) / 1e9
        install(key, new Slot(version, context, value,
          Build(key, version, seconds), owned)).value.asInstanceOf[T]
    }
  }

  /** Put `slot` in place of an older one; a racing build that installed
    * the same version first wins, and this slot is released. */
  @annotation.tailrec
  private def install(key: Key, slot: Slot): Slot = slots.get(key) match {
    case Some(s) if s.version == slot.version && s.context == slot.context =>
      slot.owned.foreach(release)
      s
    case Some(s) =>
      if (slots.replace(key, s, slot)) { s.owned.foreach(release); slot }
      else install(key, slot)
    case None =>
      if (slots.putIfAbsent(key, slot).isEmpty) slot else install(key, slot)
  }

  private def drop(k: Key, s: Slot): Unit =
    if (slots.remove(k, s)) s.owned.foreach(release)

  private def release(dir: Path): Unit =
    try graft.sync.LocalFs.deleteRecursively(dir)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Cheap version marker for a dataset dir: hex(max lastModified), file
    * count and total bytes from a metadata-only walk. A rewrite in place
    * yields a new marker; a missing path yields "na", so keys that name
    * no filesystem path degrade to plain memoization. */
  private def datasetVersion(path: String): String = {
    val root = new java.io.File(path)
    if (!root.exists) "na"
    else {
      var maxM = 0L; var n = 0L; var bytes = 0L
      def walk(f: java.io.File): Unit = {
        val m = f.lastModified(); if (m > maxM) maxM = m
        n += 1
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else bytes += f.length()
      }
      walk(root)
      s"${maxM.toHexString}-$n-${bytes.toHexString}"
    }
  }

  /** The SparkContext a session-bound value lives in: applicationId plus
    * start time. There is one active context per JVM; a value checkpointed
    * in one must never be served into another. */
  private def contextMarker: String = {
    val sc = SparkSession.active.sparkContext
    s"${sc.applicationId}@${sc.startTime.toHexString}"
  }

  private def diskKey(key: Key, version: String): String =
    (Seq(key.family, key.dir, s"v=$version") ++ key.params).mkString(":")

  /** The session-free disk key of `key` at its dataset's current version:
    * a rewritten dataset or changed params address a different entry. */
  private[operators] def diskKey(key: Key): String =
    diskKey(key, datasetVersion(key.dir))

  /** Keys among the stored disk keys `stored` that name `family` over
    * `dir` at the dataset's current version. */
  private[operators] def current(family: String, dir: String,
      stored: Seq[String]): Seq[Key] = {
    val base = diskKey(Key(family, dir, Nil, session = false))
    stored.collect {
      case k if k == base => Key(family, dir, Nil, session = false)
      case k if k.startsWith(base + ":") =>
        Key(family, dir, k.stripPrefix(base + ":").split(':').toSeq,
          session = false)
    }
  }
}
