package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sync.{BucketedTableStore, LocalFs}

/** The bucketed store's write verbs are crash-safe: each one publishes
  * through the same step, and a verb stopped at any point of it leaves
  * readers on the old version, while retrying the same call lands what an
  * unobstructed call would. A point is stopped by obstructing the path it
  * writes: a directory where its file goes, or a file where its bucket
  * directory goes. The one-bucket store, which writes its one bucket
  * without the bucket exchange, is held to the same rule. */
class StoreKillSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1660000000000L
  private def ts(sec: Int) = new Timestamp(t0 + sec * 1000L)

  private def members(rows: (String, String, Int)*) =
    rows.map { case (id, n, s) => (id, n, ts(s)) }
      .toDF("memberId", "memberName", "approximateUpdateTimestamp")
      .withColumn("syncTimestamp", lit(ts(0)))

  private def batch = Seq(
    ("m2", "b2", 10, "MODIFY"), ("m7", "g", 11, "INSERT"), ("m3", "c", 12, "REMOVE"))
    .map { case (id, n, s, e) => (id, n, ts(s), e) }
    .toDF("memberId", "memberName", "approximateUpdateTimestamp", "eventName")

  private def seedRows = members(
    ("m1", "a", 1), ("m2", "b", 2), ("m3", "c", 3), ("m4", "d", 4), ("m5", "e", 5), ("m6", "f", 6))

  private def store(root: String, nBuckets: Int = 4) = new BucketedTableStore(spark, root,
    nBuckets, deltaMerges = true, autoCompactAfter = 100)

  // zone maps, blooms and a recorded `wm` line: every publish writes each kind
  private def seed(st: BucketedTableStore): Unit =
    st.writeAllAtBase("member", seedRows, "memberId", base = None,
      statsCols = Seq("approximateUpdateTimestamp"), blooms = Seq(("memberName", 1024, 3)),
      recordWm = true)

  private def seeded(root: String): BucketedTableStore = { val st = store(root); seed(st); st }
  private def seededOne(root: String): BucketedTableStore = {
    val st = store(root, nBuckets = 1); seed(st); st
  }

  private def table(root: String): Path = Paths.get(root, "member")

  private def live(root: String): Int =
    new String(Files.readAllBytes(table(root).resolve("_CURRENT"))).trim.toInt

  /** What a reader sees: rows, recorded watermark, bucket states and the
    * live version's sidecars. */
  private def state(st: BucketedTableStore, root: String) = {
    val bloom = st.bucketStates("member").map(_ => table(root).resolve(s"_BLOOM.${live(root)}"))
      .filter(Files.exists(_)).map(Files.readString)
    (st.read("member").map(_.drop("_bucket").collect().toSet), st.recordedWatermark("member"),
      st.bucketStates("member"), st.zoneMaps("member"), bloom)
  }

  private def obstruct(p: Path): Unit = {
    Files.createDirectories(p)
    Files.write(p.resolve("obstruction"), Array[Byte](1))
  }

  /** verb → (its starting state, the call). */
  private val verbs: Seq[(String, String => BucketedTableStore, BucketedTableStore => Unit)] = {
    def rewrite(st: BucketedTableStore): Unit =
      st.writeAll("member", members(("m1", "a2", 20), ("m8", "h", 21)),
        "memberId", statsCols = Seq("approximateUpdateTimestamp"), bloomCols = Seq("memberName"),
        bloomBits = 1024, bloomHashes = 3)
    Seq(
      ("writeAll", seeded, rewrite),
      ("writeAll at one bucket", seededOne, rewrite),
      ("merge", seeded, _.merge("member", batch, "memberId", ts(60))),
      // through applyMerge, so the delta commit records its `wm` line
      ("mergeDelta", seeded, _.applyMerge("member", batch, "memberId", ts(60))),
      ("compact", root => {
        val st = seeded(root)
        st.applyMerge("member", batch, "memberId", ts(60))
        st
      }, st => assert(st.compact("member") > 0)))
  }

  /** publish step → the file it writes for manifest `n`. */
  private val points: Seq[(String, Int => String)] = Seq(
    ("sidecar", n => s"_STATS.$n"),
    ("manifest", n => s"_MANIFEST.$n"),
    ("pointer flip", n => s"_CURRENT.tmp$n"))

  verbs.foreach { case (verb, start, call) =>
    test(s"$verb stopped at each publish step leaves the old state; its retry lands the clean one") {
      val tag = verb.replace(' ', '-')
      val cleanRoot = tmpDir(s"kill-$tag-clean")
      val clean = start(cleanRoot)
      call(clean)
      val expected = state(clean, cleanRoot)
      points.foreach { case (point, file) =>
        val root = tmpDir(s"kill-$tag")
        val st = start(root)
        val before = state(st, root)
        val at = table(root).resolve(file(live(root) + 1))
        obstruct(at)
        intercept[IOException](call(st))
        assert(state(st, root) == before, s"$verb stopped at the $point must leave the old state")
        LocalFs.deleteRecursively(at)
        call(st)
        assert(state(st, root) == expected,
          s"$verb retried after the $point must equal an unobstructed run")
        assert(StoreKillSpec.unversionedFiles(table(root)).isEmpty)
      }
    }
  }

  test("a fresh-table writeAll stopped mid-move leaves no table; its retry lands the clean one") {
    val cleanRoot = tmpDir("kill-fresh-clean")
    val expected = state(seeded(cleanRoot), cleanRoot)
    val root = tmpDir("kill-fresh")
    val st = store(root)
    val buckets = seedRows.select(st.bucketCol("memberId")).distinct()
      .as[Long].collect().map(_.toInt).sorted
    assert(buckets.length >= 2, "the rows must span buckets for a move to stop midway")
    // buckets move in ascending order: a file where the last one's dir goes
    val at = table(root).resolve(s"b${buckets.last}")
    Files.createDirectories(at.getParent)
    Files.write(at, Array[Byte](1))
    intercept[IOException](seed(st))
    assert(Files.exists(table(root).resolve(s"b${buckets.head}").resolve("v0")),
      "the first buckets moved before the stop")
    assert(state(st, root) == (None, None, None, Map.empty, None),
      "a table stopped before its first commit must not be readable")
    Files.delete(at)
    seed(st)
    assert(state(st, root) == expected)
    assert(StoreKillSpec.unversionedFiles(table(root)).isEmpty)
  }

  test("a re-writeAll that changes the routing and bloom geometry, stopped before " +
    "its flip, leaves the old version answering; its retry lands the clean one") {
    def rows(n: Int, prefix: String) = (1 to n).map(i => (i.toLong, s"$prefix$i", ts(i)))
      .toDF("id", "name", "approximateUpdateTimestamp").withColumn("syncTimestamp", lit(ts(0)))
    // range-routed with blooms and a `wm` line, re-written hash-routed
    // under another bloom geometry
    def start(root: String) = {
      val st = new BucketedTableStore(spark, root, nBuckets = 4)
      st.writeAllAtBase("t", rows(40, "a"), "id", base = None, rangeBucket = true,
        blooms = Seq(("name", 1024, 3)), recordWm = true)
      st
    }
    def call(st: BucketedTableStore): Unit = st.writeAll("t", rows(30, "w"), "id",
      bloomCols = Seq("name"), bloomBits = 2048, bloomHashes = 2)
    def answers(st: BucketedTableStore) = {
      def rowSet(df: Option[org.apache.spark.sql.DataFrame]) =
        df.map(_.select($"id", $"name").as[(Long, String)].collect().toSet)
      (rowSet(st.read("t")), rowSet(st.lookup("t", "id", Seq("3", "17", "29", "39"))),
        rowSet(st.readWhereIn("t", "name", Seq("a5", "a33", "w5"))), st.recordedWatermark("t"))
    }
    val clean = start(tmpDir("kill-rewrite-clean"))
    call(clean)
    val expected = answers(clean)
    points.filter(_._1 != "sidecar").foreach { case (point, file) =>
      val root = tmpDir("kill-rewrite")
      val st = start(root)
      val before = answers(st)
      assert(before._2.exists(_.size == 4), "the old version holds every probed key")
      val at = Paths.get(root, "t").resolve(file(1))
      obstruct(at)
      intercept[IOException](call(st))
      assert(answers(st) == before, s"a re-writeAll stopped at the $point must leave the old answers")
      LocalFs.deleteRecursively(at)
      call(st)
      assert(answers(st) == expected, s"the retry after the $point must equal an unobstructed run")
      assert(StoreKillSpec.unversionedFiles(Paths.get(root, "t")).isEmpty)
    }
  }

  test("src/main commits and moves bucket dirs only in BucketedTableStore's publish step") {
    val file = Paths.get("src/main/scala/graft/sync/BucketedTableStore.scala")
    assert(Files.exists(file), "run from the repository root")
    val lines = Files.readAllLines(file).asScala.toIndexedSeq
    val start = lines.indexWhere(_.contains("private def publish("))
    assert(start >= 0, s"no publish step in $file")
    val publish = start to lines.indexWhere(_.startsWith("  }"), start)
    def outside(token: String): Seq[String] = lines.zipWithIndex.collect {
      case (l, i) if l.contains(token) && !publish.contains(i) => s"$file:${i + 1}: ${l.trim}"
    }
    val commits = outside("commitManifest(").filterNot(_.contains("def commitManifest("))
    assert(commits.isEmpty, s"commit through publish:\n${commits.mkString("\n")}")
    // the `_CURRENT` flip goes through LocalFs.replaceFile
    val moves = outside("ATOMIC_MOVE")
    assert(moves.isEmpty, s"move bucket dirs through publish:\n${moves.mkString("\n")}")
    val elsewhere = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(file.getFileName))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("commitManifest(") => s"$p:${i + 1}: ${l.trim}"
      }).toSeq
    assert(elsewhere.isEmpty, s"only BucketedTableStore commits:\n${elsewhere.mkString("\n")}")
  }
}

object StoreKillSpec {
  /** The files a bucketed table may keep at its top level: the pointer and
    * what is versioned with a manifest. */
  private val TableFile = """_CURRENT|_MANIFEST\.\d+|_STATS\.\d+|_BLOOM\.\d+""".r

  /** The regular files at `table`'s top level outside that set: a file
    * there that no version names would describe every version at once. */
  def unversionedFiles(table: Path): Seq[String] =
    scala.util.Using.resource(Files.list(table))(_.iterator().asScala.toSeq)
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString)
      .filterNot(TableFile.matches).sorted
}
