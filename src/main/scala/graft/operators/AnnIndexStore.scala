package graft.operators

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.SparkSession

/** Optional DISK tier under [[IndexMemo]]'s in-JVM memo — the "train
  * once, ship the index" half of the amortization story: the memo
  * amortizes within one session, this store amortizes across JVMs (a
  * nightly index-build job trains, every downstream query session
  * loads). Off by default; enabled by `SPARK_GRAFT_ANN_DIR` (or
  * [[rootOverride]] in tests).
  *
  * Every leg takes the entry's [[IndexMemo.Key]]; the memo derives its
  * session-free disk key, which embeds the dataset VERSION marker and
  * every index parameter. Layout: `<root>/<md5(disk key)>/` holding a
  * `KEY` marker (the disk key, compared verbatim on load — an md5 path
  * collision degrades to a rebuild, never a wrong index) plus `kmeans/`
  * (Spark ML's own writer), `codebooks.bin` (Java serialization of the
  * `(dim, books)` pair — bit-exact double round-trip by construction),
  * `data.parquet`, `value.txt` or `tree/`. Staleness is structural: a
  * rewritten corpus or changed config is a different disk key, hence a
  * different directory — no invalidation protocol, stale entries are
  * simply never addressed again (prune the directory by age externally,
  * like any cache dir).
  *
  * Failure posture: loads and saves are best-effort — a torn write, a
  * version-incompatible model dir, or a full disk degrade to an in-JVM
  * rebuild, never an error on the query path. One exception: a `tree/`
  * is a [[graft.sync.BucketedTableStore]] table, served as it is, and
  * the store refuses a table whose manifests name no key (the layout
  * before manifests described their version). Clear a disk tier written
  * before that change.
  */
object AnnIndexStore {
  /** Test seam; production reads SPARK_GRAFT_ANN_DIR. */
  @volatile var rootOverride: Option[String] = None
  private def root: Option[String] =
    rootOverride.orElse(sys.env.get("SPARK_GRAFT_ANN_DIR"))

  /** Disk loads served this JVM (observability + test assertion). */
  @volatile private var loads = 0L
  def diskLoads: Long = loads

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def entry(r: String, key: String): File =
    new File(r, md5hex(key))

  /** True iff the entry exists AND its KEY marker matches verbatim.
    * A torn or unreadable marker (IO/permission failure racing the
    * isFile check) counts as a mismatch → rebuild: loads are
    * best-effort and must never throw on the query path. */
  private def keyed(dir: File, key: String): Boolean = {
    val marker = new File(dir, "KEY")
    marker.isFile && (try {
      new String(Files.readAllBytes(marker.toPath), StandardCharsets.UTF_8) == key
    } catch { case _: java.io.IOException => false })
  }

  private def writeKey(dir: File, key: String): Unit = {
    dir.mkdirs()
    Files.write(Paths.get(dir.getPath, "KEY"),
      key.getBytes(StandardCharsets.UTF_8))
  }

  /** KMeans leg: load the persisted model for `key`, else build and
    * best-effort persist. The KEY marker is written LAST — a crash
    * mid-save leaves an unmarked dir that never loads. */
  def orBuildKMeans(spark: SparkSession, k: IndexMemo.Key)(
      build: => KMeansModel): KMeansModel = root match {
    case None => build
    case Some(r) =>
      val key = IndexMemo.diskKey(k)
      val dir = entry(r, key)
      val modelDir = new File(dir, "kmeans")
      if (keyed(dir, key) && modelDir.isDirectory)
        try { val m = KMeansModel.load(modelDir.getPath); loads += 1; m }
        catch { case _: Throwable => build }
      else {
        val m = build
        try { m.write.overwrite().save(modelDir.getPath); writeKey(dir, key) }
        catch { case _: Throwable => () }
        m
      }
  }

  /** DataFrame leg (IVF postings, graph cells/edges, BM25 posting
    * stats): persisted as parquet under the entry dir. The disk key is
    * session-free even when the in-JVM entry is bound to its session
    * (a localCheckpoint) — a parquet-backed frame is context-free by
    * nature, which is the whole point of the
    * cross-JVM tier. On a hit the returned frame is a lazy scan of the
    * store's parquet — small index state, re-read per use, no pinned
    * blocks; on a miss the caller's (typically localCheckpointed) build
    * result is written out and returned as-is. */
  def orBuildParquet(spark: SparkSession, k: IndexMemo.Key)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    root match {
      case None => build
      case Some(r) =>
        val key = IndexMemo.diskKey(k)
        val dir = entry(r, key)
        val data = new File(dir, "data.parquet")
        if (keyed(dir, key) && data.exists)
          try { val df = spark.read.parquet(data.getPath); loads += 1; df }
          catch { case _: Throwable => build }
        else {
          val df = build
          try {
            dir.mkdirs()
            df.write.mode("overwrite").parquet(data.getPath)
            writeKey(dir, key)
          } catch { case _: Throwable => () }
          df
        }
    }

  /** Scalar leg (corpus row counts and other O(1) index stats — at
    * 100 TB the count behind a selector decision is a full scan worth
    * amortizing across JVMs like any other index artifact). */
  def orBuildLong(k: IndexMemo.Key)(build: => Long): Long = root match {
    case None => build
    case Some(r) =>
      val key = IndexMemo.diskKey(k)
      val dir = entry(r, key)
      val f = new File(dir, "value.txt")
      if (keyed(dir, key) && f.isFile)
        try {
          val v = new String(Files.readAllBytes(f.toPath),
            StandardCharsets.UTF_8).trim.toLong
          loads += 1
          v
        } catch { case _: Throwable => build }
      else {
        val v = build
        try {
          dir.mkdirs()
          Files.write(f.toPath, v.toString.getBytes(StandardCharsets.UTF_8))
          writeKey(dir, key)
        } catch { case _: Throwable => () }
        v
      }
  }

  /** Directory-tree leg (the leakage gate's frozen BucketedTableStore —
    * index state that is a whole file tree, not one frame). `build` is
    * handed the persistent tree path to populate; on a hit the existing
    * tree is returned untouched. Returns None when the store is off —
    * the caller falls back to its private temp-dir build. The KEY marker
    * is written LAST, so a crash mid-build leaves an unmarked tree that
    * the next JVM clears and rebuilds rather than serves torn. */
  def orBuildTree(k: IndexMemo.Key)(build: String => Unit): Option[String] =
    root match {
      case None => None
      case Some(r) =>
        val key = IndexMemo.diskKey(k)
        val dir = entry(r, key)
        val tree = new File(dir, "tree")
        if (keyed(dir, key) && tree.isDirectory) { loads += 1; Some(tree.getPath) }
        else
          try {
            graft.sync.LocalFs.deleteRecursively(tree.toPath)
            dir.mkdirs()
            build(tree.getPath)
            writeKey(dir, key)
            Some(tree.getPath)
          } catch { case _: Throwable => None }
    }

  /** Persisted entries of `family` over `dir` at the dataset's current
    * version — the registry view the index-aware selector scans
    * ([[graft.operators.AnnIndex.select]]). Empty when the store is off.
    * Cost is one directory listing plus one tiny file read per entry — a
    * store holds index ARTIFACTS (one per dataset × index family), never
    * per-row state, so the scan stays O(indexes) at any corpus size. */
  def registered(family: String, dir: String): Seq[IndexMemo.Key] =
    IndexMemo.current(family, dir, listKeys())

  private def listKeys(): Seq[String] = root match {
    case None => Seq.empty
    case Some(r) =>
      Option(new File(r).listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.isDirectory).flatMap { d =>
          val m = new File(d, "KEY")
          if (!m.isFile) None
          else try Some(new String(Files.readAllBytes(m.toPath),
            StandardCharsets.UTF_8))
          catch { case _: java.io.IOException => None }
        }
  }

  /** Codebook leg (PQ / IVF-PQ residual books): Java serialization of
    * the (dim, books) pair — doubles round-trip bit-exactly. */
  def orBuildCodebooks(k: IndexMemo.Key)(
      build: => (Int, Array[Array[Array[Double]]]))
      : (Int, Array[Array[Array[Double]]]) = root match {
    case None => build
    case Some(r) =>
      val key = IndexMemo.diskKey(k)
      val dir = entry(r, key)
      val bin = new File(dir, "codebooks.bin")
      if (keyed(dir, key) && bin.isFile)
        try {
          val in = new ObjectInputStream(new FileInputStream(bin))
          try {
            val v = in.readObject().asInstanceOf[(Int, Array[Array[Array[Double]]])]
            loads += 1
            v
          } finally in.close()
        } catch { case _: Throwable => build }
      else {
        val v = build
        try {
          dir.mkdirs()
          val out = new ObjectOutputStream(new FileOutputStream(bin))
          try out.writeObject(v) finally out.close()
          writeKey(dir, key)
        } catch { case _: Throwable => () }
        v
      }
  }
}
