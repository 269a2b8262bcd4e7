package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.obs.Census
import graft.sync.GenerationalStore

/** Generational index layout (q244's store): appends land in their
  * commit window's own bucketed table, probes union the live
  * generations, retirement drops whole generations as DIRECTORY
  * metadata. The spec pins the three contracts the scaladoc sells:
  * O(1)-shaped retirement (dirs gone, survivors untouched), the
  * WINDOW-COARSE horizon (a mid-generation cutoff retires nothing —
  * the precision trade against IngestDoor.retireBefore's row-exact
  * sweep), and re-admission-after-retirement stamping the horizon from
  * the LAST admission. */
class GenerationalStoreSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1660000000000L
  private def ts(offMs: Long) = new Timestamp(t0 + offMs)
  private def fps(vals: String*) = vals.toDF("fp")

  test("appends route to their window's generation; probes union live gens") {
    val root = tmpDir("genstore")
    val g = new GenerationalStore(spark, root, windowMs = 60000L)
    g.append("fp", fps("a", "b"), "fp", ts(0))        // gen of t0
    g.append("fp", fps("c"), "fp", ts(10000))         // SAME generation
    g.append("fp", fps("d"), "fp", ts(60000))         // next generation
    assert(g.liveGenerations.size == 2, s"gens: ${g.liveGenerations}")
    val all = g.readAll("fp").get.select("fp").as[String].collect().toSet
    assert(all == Set("a", "b", "c", "d"))
    // a key admitted in two generations appears per admission —
    // membership probes (left_semi) are multiplicity-blind
    g.append("fp", fps("a"), "fp", ts(61000))
    val rows = g.readAll("fp").get.filter(col("fp") === "a").count()
    assert(rows == 2L, s"one row per admission, got $rows")
  }

  test("retirement drops WHOLE generations as directory metadata") {
    val root = tmpDir("genstore-ret")
    val g = new GenerationalStore(spark, root, windowMs = 60000L)
    g.append("fp", fps("old"), "fp", ts(0))
    g.append("fp", fps("new"), "fp", ts(60000))
    val gOld = g.genOf(ts(0)); val gNew = g.genOf(ts(60000))
    assert(gOld != gNew)
    // cutoff past the old generation's END, inside the new one
    val dropped = g.retireBefore(ts(70000))
    assert(dropped == Seq(gOld), s"dropped: $dropped")
    assert(!Files.exists(Paths.get(root, s"g$gOld")), "old gen dir must go")
    assert(Files.exists(Paths.get(root, s"g$gNew")), "live gen untouched")
    assert(g.readAll("fp").get.select("fp").as[String].collect().toSeq
      == Seq("new"))
  }

  test("retirement runs ZERO Spark jobs — the O(1) claim as a listener pin") {
    val root = tmpDir("genstore-zerojob")
    val g = new GenerationalStore(spark, root, windowMs = 60000L)
    g.append("fp", fps("a"), "fp", ts(0))
    g.append("fp", fps("b"), "fp", ts(60000))
    val (dropped, census) = Census.during(spark)(g.retireBefore(ts(70000)))
    val jobs = census.jobs.size
    assert(dropped.nonEmpty, "the case must actually retire something")
    assert(jobs == 0,
      s"retirement must be directory metadata, never a Spark job ($jobs ran)")
    // contrast is the point: the single-table verb's sweep would scan
    // the index and commit tombstone deltas — several jobs — for the
    // same horizon move (IngestDoor.retireBefore, q229's path)
  }

  test("window-coarse horizon: a mid-generation cutoff retires NOTHING " +
    "where the row-precise verb would sweep") {
    val root = tmpDir("genstore-coarse")
    val g = new GenerationalStore(spark, root, windowMs = 60000L)
    g.append("fp", fps("x"), "fp", ts(0))
    // row-precise semantics at cutoff t0+10s would retire x (committed
    // at t0 < cutoff); the generational layout keeps it — x's
    // generation ends AFTER the cutoff, and over-retaining is the
    // conservative direction for a dedup guard
    val genEnd = (g.genOf(ts(0)) + 1) * 60000L
    val cutoff = new Timestamp(t0 + 10000)
    assert(cutoff.getTime > t0 && cutoff.getTime < genEnd,
      "cutoff must fall mid-generation for this case to mean anything")
    assert(g.retireBefore(cutoff).isEmpty)
    assert(g.readAll("fp").get.count() == 1L)
  }

  test("re-admission after retirement lands in the CURRENT generation — " +
    "the horizon runs from the last admission") {
    val root = tmpDir("genstore-readmit")
    val g = new GenerationalStore(spark, root, windowMs = 60000L)
    g.append("fp", fps("k"), "fp", ts(0))
    assert(g.retireBefore(ts(70000)).nonEmpty)
    assert(g.readAll("fp").isEmpty, "index empty after full retirement")
    g.append("fp", fps("k"), "fp", ts(120000)) // re-admitted
    assert(g.readAll("fp").get.count() == 1L)
    // a cutoff past the ORIGINAL admission but before the re-admission's
    // generation end must keep the key
    assert(g.retireBefore(ts(130000)).isEmpty)
    assert(g.readAll("fp").get.count() == 1L)
  }

  test("q244's amortized seed: repeat calls are identical — the private " +
    "working copy's retirement never mutates the memoized master") {
    // two invocations in one session: the second hits the genseed memo,
    // so any leak of run 1's retirement/appends into the master would
    // change run 2's decisions
    val dir = "/root/testdata/sf0.001"
    val fn = graft.SparkEntry.queries("q244_generational_retention")
    val r1 = fn(spark, dir).collect().map(_.toString).sorted.toSeq
    val r2 = fn(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(r1.nonEmpty && r1 == r2,
      "memo-hit run must reproduce the cold run bit-for-bit")
  }
}
