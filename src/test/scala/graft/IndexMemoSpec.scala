package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{DedupIngest, IndexMemo}
import graft.operators.IndexMemo.Key

/** The one index memo: its eviction rule (a dataset's entries live while
  * its version is unchanged; params coexist), the directories it owns
  * (deleted when evicted or when they lose a racing build), and the rule
  * that the memo-key format lives in [[IndexMemo]] alone. */
class IndexMemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpEntries(prefix: String): Set[Path] =
    scala.util.Using.resource(Files.list(Paths.get(System.getProperty("java.io.tmpdir"))))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet)

  // Counts the seed masters that appear in the JVM's temp dir, so no other
  // process may seed doors there while it runs.
  test("a door's seed master stays one directory across in-place dataset rewrites") {
    val dir = tmpDir("memoseed")
    val door = DedupIngest.door()
    val before = tmpEntries("graft-doorseed")
    (1 to 3).foreach { i =>
      (0L until 8L + i).map(d => (d, s"document $d says words $i times"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir + "/documents.parquet")
      val corpus = spark.read.parquet(dir + "/documents.parquet")
      val work = door.seededWorkingCopy(spark, dir, corpus, nBuckets = 4)
      graft.sync.LocalFs.deleteRecursively(Paths.get(work))
    }
    val left = tmpEntries("graft-doorseed") -- before
    assert(left.size == 1, s"superseded masters must be deleted on eviction: $left")
  }

  test("params coexist; a rewrite evicts every family over the dataset and deletes its trees") {
    val dir = tmpDir("memorule")
    def write(n: Int): Unit = Files.write(Paths.get(dir, "part"), Array.fill(n)(1.toByte))
    write(1)
    var built = 0
    def get(family: String, param: String): String =
      IndexMemo(Key(family, dir, Seq(param), session = false)) {
        built += 1; s"$family/$param"
      }
    Seq("a" -> "x=1", "a" -> "x=2", "b" -> "x=1", "a" -> "x=1", "a" -> "x=2")
      .foreach { case (f, p) => get(f, p) }
    assert(built == 3, "entries differing in params or family coexist")
    val tree = IndexMemo.tree(Key("t", dir, Nil, session = false)) { p =>
      Files.write(Paths.get(p, "f"), Array[Byte](1)); ()
    }
    assert(Files.isRegularFile(Paths.get(tree, "f")))
    assert(IndexMemo.builds.count(_.key.dir == dir) == 4)

    write(2) // a new size: a new dataset version
    assert(get("a", "x=1") == "a/x=1" && built == 4, "a rewrite rebuilds")
    assert(!Files.exists(Paths.get(tree)), "an evicted temp tree is deleted")
    assert(IndexMemo.builds.filter(_.key.dir == dir).map(_.key) ==
      Seq(Key("a", dir, Seq("x=1"), session = false)),
      "every entry of the old version is evicted, whatever its family")
    IndexMemo.invalidate(_.dir == dir)
    assert(!IndexMemo.builds.exists(_.key.dir == dir))
  }

  test("the losing copy of a racing double build is deleted") {
    val dir = tmpDir("memorace")
    val key = Key("race", dir, Nil, session = false)
    val handed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    def build(): String = IndexMemo.tree(key) { p =>
      handed.add(p)
      bothIn.countDown()
      bothIn.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val got = Await.result(Future.sequence(Seq(Future(build()), Future(build()))), 60.seconds)
    assert(handed.size == 2, "both calls built")
    assert(got.distinct.size == 1, "both callers get the winner")
    assert(handed.asScala.count(p => Files.exists(Paths.get(p))) == 1,
      s"only the winner's tree is left: ${handed.asScala}")
    IndexMemo.invalidate(_ == key)
    assert(!Files.exists(Paths.get(got.head)), "invalidation deletes the owned tree")
  }

  test("src/main spells no memo-key segment and parses no key outside IndexMemo") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "IndexMemo.scala").toSeq
    assert(sources.nonEmpty, "run from the repository root")
    def hits(bad: String => Boolean): Seq[String] = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if bad(line) => s"$p:${i + 1}: ${line.trim}"
      }
    }
    val segment = """\b(v|sess)=|:s=""".r
    val literals = hits(segment.findFirstIn(_).nonEmpty)
    assert(literals.isEmpty,
      s"memo-key segments belong to IndexMemo:\n${literals.mkString("\n")}")
    val parsers = hits(l => l.contains("split(':')") || l.contains("split(\":\")"))
    assert(parsers.isEmpty,
      s"read IndexMemo.Key fields, not key strings:\n${parsers.mkString("\n")}")
  }
}
