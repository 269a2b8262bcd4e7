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
}
