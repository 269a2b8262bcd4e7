package graft

import org.scalatest.funsuite.AnyFunSuite

/** The quiet-host ledger (bench_reference.json) keys queries by the SAME
  * long names `SparkEntry.queries` uses — Bench's outlier gate matches
  * pins to measurements BY KEY, so a pin under a stale or shortened name
  * (the round-14 drift: q230..q237 pinned short while bench_full.json
  * emitted long names) silently exempts that query from the >2× gate.
  * This spec pins the invariant: every ledger key must name a live
  * query. (The reverse — every query pinned — is deliberately NOT
  * asserted: a query added mid-round has no pin until its 5-run floor
  * is measured.) */
class BenchLedgerSpec extends AnyFunSuite {

  test("every bench_reference.json pin names a live SparkEntry query") {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench_reference.json"))
    // same minimal parse Bench uses (stop before any attempts section)
    val qsec = """"(q[0-9]+[A-Za-z0-9_]*)"\s*:\s*(-?[0-9.Ee+-]+)""".r
    val start = txt.indexOf("\"queries\"")
    assert(start >= 0, "ledger has no queries section")
    val stop = txt.indexOf("\"attempts\"") match {
      case i if i > start => i
      case _ => txt.length
    }
    val pinned = qsec.findAllMatchIn(txt.substring(start, stop))
      .map(_.group(1)).toSet
    val live = SparkEntry.queries.keySet
    val orphans = pinned -- live
    assert(orphans.isEmpty,
      s"ledger pins with no matching query (rename drift): $orphans")
    assert(pinned.nonEmpty)
  }

  test("bench chunk lines: no entries, no lines; every line carries queries") {
    assert(Bench.chunkLines(Seq.empty, "killed").isEmpty)
    val timings = (1 to 238).map(i => f"q$i%03d_query_$i" -> (if (i % 50 == 0) -1.0 else i / 7.0))
    val lines = Bench.chunkLines(timings, "final")
    val entry = """"q[0-9]+":""".r
    assert(lines.size > 1)
    assert(lines.forall(l => l.length < 900 && entry.findFirstIn(l).nonEmpty), lines)
    assert(lines.map(entry.findAllIn(_).size).sum == timings.size)
    assert(lines.last.contains("\"q238\":34.00"), "the last chunk holds the most expensive query")
  }

  test("ann_build compact keys: family alone or family:params, exact dataset, no version or session") {
    import graft.operators.IndexMemo.{Build, Key}
    val sf = "/data/sf0.1"
    val builds = Seq(
      Build(Key("bm25", sf, Nil, session = true), "1a-11-70", 1.0),
      Build(Key("ivf", sf, Seq("full", "nlist=16", "seed=42"), session = false), "1a-11-70", 2.0),
      Build(Key("ivf", sf, Seq("train=base", "nlist=16", "seed=42"), session = false), "1a-11-70", 3.0),
      Build(Key("knng", sf, Seq("k=3", "b=16"), session = true), "1a-11-70", 4.0),
      Build(Key("ivf", sf + "x", Seq("full", "nlist=16", "seed=42"), session = false), "2b-11-70", 5.0),
      Build(Key("pq", sf + "x", Seq("m=16"), session = false), "2b-11-70", 6.0))
    assert(Bench.annBuild(builds, sf) == Seq(
      "bm25" -> 1.0,
      "ivf:full:nlist=16:seed=42" -> 2.0,
      "ivf:train=base:nlist=16:seed=42" -> 3.0,
      "knng" -> 4.0))
    assert(Bench.annBuild(builds, sf + "x") == Seq("ivf" -> 5.0, "pq" -> 6.0))
    assert(Bench.annBuild(builds, "/data/sf0") == Seq.empty)
  }
}
