package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). A warmup pass at sf0.001 runs
  * first so JIT/codegen/parquet-reader warmup isn't billed to whichever
  * query happens to run first; the timed pass then measures steady-state
  * per-query wall time.
  *
  * Timeout-proofing (the driver kills the process after a fixed wall clock
  * and keeps only the LAST ~2000 chars of output):
  *   - the compact JSON line is printed after EVERY phase (pass 1, pass 2,
  *     re-time), not just at the end — the driver parses the last line in
  *     the tail, so a mid-phase kill still leaves a parseable result;
  *   - a JVM shutdown hook re-prints the latest line on SIGTERM so even a
  *     kill landing mid-query emits the timings measured so far;
  *   - pass 2 and the outlier re-time pass stop starting new work once
  *     elapsed wall clock exceeds SPARK_GRAFT_BENCH_BUDGET_SEC (default
  *     1100 s — the driver demonstrably tolerates ≥1526 s; round 6 lost
  *     its best-of passes to the old 420 s default when a noisy host
  *     stretched pass 1 alone past it) — pass-1 timings are complete by
  *     themselves. Both passes walk queries in WORST-RATIO-FIRST order
  *     vs the quiet-host ledger, so whatever budget remains buys the
  *     largest noise corrections first, and queries already >2× their
  *     reference pin may overrun the soft budget by up to 35% — losing
  *     their re-time is exactly the round-6 failure mode;
  *   - Spark logging is forced to FATAL and per-query failures report as a
  *     single truncated stderr line: a killed task's stack trace would
  *     otherwise flood the driver's tail and scroll the JSON line out.
  */
object Bench {
  @volatile private var finishedNormally: Boolean = false
  /** Set by the shutdown hook; silences main-thread output so the hook's
    * final JSON line is the last thing in the driver's tail. */
  @volatile private var shuttingDown: Boolean = false

  private def oneLine(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    m.replace('\n', ' ').take(120)
  }

  /** 1-minute load average from /proc/loadavg (-1 when unreadable).
    * Recorded at run start and at every emit: the round ledger's recurring
    * question — "is this 1.4× band a regression or a warm host?" — is
    * answerable from the artifact itself when the artifact carries the
    * host's concurrent load, instead of burning a round re-measuring. */
  private def loadAvg: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def fmt(v: Double): String = if (v < 0) "-1"
    else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Per-query timings in tail-survivable form (r18 verdict ask #2: the
    * compact line outgrew the driver's ~2000-char tail window at 238
    * queries and arrived decapitated — PERF_r18 had no per-query data).
    * The same dict is re-emitted as ≤~850-char JSON lines, sorted
    * CHEAPEST-FIRST so the LAST chunk (the one a tail capture keeps, just
    * above the short line) holds the most expensive queries. Each line is
    * self-describing and parses alone; a 2000-char tail always yields the
    * short line plus ≥ the top-~60 queries' timings. No entries, no lines:
    * a chunk is opened only for an entry it will hold. */
  def chunkLines(timings: Seq[(String, Double)], phase: String): Seq[String] = {
    val entries = timings.sortBy(_._2)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
    val chunks = entries.foldLeft(Vector.empty[Vector[String]]) { (acc, e) =>
      acc.lastOption match {
        case Some(c) if c.map(_.length + 1).sum + e.length <= 820 => acc.init :+ (c :+ e)
        case _ => acc :+ Vector(e)
      }
    }
    chunks.zipWithIndex.map { case (c, i) =>
      s"""{"metric":"bench_chunk","part":${i + 1},"of":${chunks.size},"protocol":"$phase","queries":${c.mkString("{", ",", "}")}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val loadAtStart = loadAvg
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1100").toDouble
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Cross-JVM index store (AnnIndexStore) stays OFF unless the operator
    // opts in via SPARK_GRAFT_ANN_DIR: a bench invocation must compute
    // every index from the parquet inputs. The amortization the store
    // provides for deployments is still exercised (AnnIndexStoreSpec);
    // within THIS process the untimed prebuild below plays that role and
    // its cost is reported separately as "ann_build".
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // FATAL, not WARN: when the driver's timeout kills us mid-query, Spark
    // logs every failed task with a full stack trace, and those frames are
    // exactly what flooded the 2000-char tail in round 5 (BENCH_r05 rc=124,
    // parsed:null despite a completed sweep).
    spark.sparkContext.setLogLevel("FATAL")

    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    // TrieMap: the shutdown hook reads these while the main thread writes.
    val timings = collection.concurrent.TrieMap.empty[String, Double]
    val attempts = collection.concurrent.TrieMap.empty[String, Int].withDefaultValue(0)
    // when (elapsedSec) each query was last measured — pass 2 uses it to
    // keep temporal separation between a query's two attempts
    val measuredAt = collection.concurrent.TrieMap.empty[String, Double]

    // The driver keeps only the tail of this process's output, so the one
    // JSON line must stay short even with 100+ queries: keys are the qNN
    // prefix (unique across the inventory) and values are centisecond
    // precision. Full names + nanosecond precision go to bench_full.json.
    // ANN index-build seconds for THIS dataset (AnnIndexCache memo misses),
    // reported apart from the per-query probe timings: a deployment trains
    // an index once and amortizes it, so build must not ride the pins.
    // Keys are `type:dataset[:v=..]:param=..`: the dataset is matched as an
    // exact ':'-segment (a substring match would let sf0.1 claim an
    // sf0.1x dir's builds), and when one dataset has several builds of the
    // same index type the emitted key keeps the distinguishing params so
    // the compact JSON object never carries duplicate keys.
    def annBuild: Seq[(String, Double)] = {
      val mine = graft.operators.AnnIndexCache.buildSeconds.toSeq.flatMap {
        case (k, v) =>
          val segs = k.split(':').toSeq
          if (segs.drop(1).headOption.contains(sfDir)) {
            // v= (dataset version) and s=/sess= (session markers — both
            // spellings exist among callers) are run-local identity, not
            // index parameters — keep them out of the key
            val params = segs.drop(2)
              .filterNot(s => s.startsWith("v=") || s.startsWith("s=") ||
                s.startsWith("sess="))
              .mkString(":")
            Some((segs.head, params, v))
          } else None
      }
      val perType = mine.groupBy(_._1).view.mapValues(_.size).toMap
      mine.map { case (tpe, params, v) =>
        (if (perType(tpe) > 1 && params.nonEmpty) s"$tpe:$params" else tpe) -> v
      }.sortBy(_._1)
    }
    // timed total + the untimed prebuild's ann_build seconds — the
    // headline COMPARISON metric since round 19 (BENCHMARKS.md "The
    // headline metric"): the memoized-index convention moves build work
    // off the per-query clock, so the only number that cannot be improved
    // by shifting work between the two buckets is their sum.
    def withBuild(total: Double): Double = total + annBuild.map(_._2).sum
    def compactLine(phase: String): String = {
      val results = named.map { case (n, _) => n -> timings.getOrElse(n, -1.0) }
      val qs = results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val builds = annBuild.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","with_build":${fmt(withBuild(total))},"queries":$qs,"ann_build":$builds,"sf":"$sfDir","protocol":"$phase","load":[${fmt(loadAtStart)},${fmt(loadAvg)}]}"""
    }
    def chunkEntries: Seq[(String, Double)] =
      named.map { case (n, _) => n -> timings.getOrElse(n, -1.0) }
    // The compact line outgrew the driver's ~2000-char tail window at 176
    // queries (2,176 chars in round 9 → arrived decapitated, parsed:null).
    // This ≤200-char line is printed AFTER the compact line in every emit
    // path, so the LAST complete line in any ≥200-char tail always parses;
    // the per-query detail lives in the compact line above it and in
    // bench_full.json / bench_compact.json on disk.
    def shortLine(phase: String): String = {
      val measured = named.count { case (n, _) => timings.getOrElse(n, -1.0) >= 0 }
      val total = named.map { case (n, _) => timings.getOrElse(n, -1.0) }
        .filter(_ >= 0).sum
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","with_build":${fmt(withBuild(total))},"queries_n":$measured,"sf":"$sfDir","protocol":"$phase","detail":"bench_full.json"}"""
    }
    def writeFull(phase: String): Unit = {
      val results = named.map { case (n, _) => n -> timings.getOrElse(n, -1.0) }
      val full = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val att = named.map { case (n, _) => "\"" + n + "\":" + attempts(n) }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
      val builds = graft.operators.AnnIndexCache.buildSeconds.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"attempts":$att,"ann_build":$builds,"sf":"$sfDir","protocol":"$phase","elapsed_sec":${fmt(elapsedSec)},"load":[${fmt(loadAtStart)},${fmt(loadAvg)}]}""")
      catch { case e: Throwable =>
        System.err.println(s"[bench] failed to write $outPath: ${oneLine(e)}")
      }
    }
    // The compact line ALSO goes to a file artifact after every phase: the
    // driver can read bench_compact.json instead of scraping the process
    // tail, so a parseable result no longer depends on what sbt's logger
    // does to stdout (see build.sbt's outputStrategy note).
    def writeCompact(phase: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_COMPACT", "bench_compact.json")),
        compactLine(phase) + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] failed to write bench_compact.json: ${oneLine(e)}")
      }
    def emit(phase: String): Unit = if (!shuttingDown) {
      println(compactLine(phase))
      chunkLines(chunkEntries, phase).foreach(println)
      println(shortLine(phase))
      System.out.flush()
      writeFull(phase)
      writeCompact(phase)
    }
    // Abnormal-exit safety net: the driver's timeout sends SIGTERM; print
    // whatever has been measured so far — even mid-pass-1 a partial line
    // (unmeasured queries at -1) beats no line. The brief sleep lets the
    // main thread notice shuttingDown and finish any in-flight stderr
    // write, so this JSON line lands LAST in the driver's tail.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finishedNormally) {
        shuttingDown = true
        try Thread.sleep(300) catch { case _: InterruptedException => () }
        println(compactLine("killed"))
        chunkLines(chunkEntries, "killed").foreach(println)
        println(shortLine("killed"))
        System.out.flush()
        try writeFull("killed") catch { case _: Throwable => () }
        try writeCompact("killed") catch { case _: Throwable => () }
      }
    }))

    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmupDir).count() catch { case _: Throwable => () }
      }
      spark.sharedState.cacheManager.clearCache()
    }
    // TARGET-SF warmup: touch every table's parquet footers and page-cache
    // its bytes with one full scan, plus one trivial end-to-end query —
    // first-touch file listing + cold-cache IO otherwise lands on whatever
    // query pass 1 happens to start with and reads as a phantom regression
    // (the r15 242 s-vs-199 s split was exactly this class of noise).
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        try spark.read.parquet(f.toString).count()
        catch { case _: Throwable => () }
      }
    SparkEntry.queries.get("q01_pricing_summary").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    spark.sharedState.cacheManager.clearCache()
    // ANN index prebuild at the TARGET sf: run the index-backed queries
    // once untimed so AnnIndexCache is warm before pass 1 — every timed
    // attempt then measures probe-only, which is the 100 TB-relevant
    // number (an index is trained once and amortized). Build wall-time is
    // not lost: the memo records it and it's reported as "ann_build".
    // The graph walks (q242/q245) and the append/PQ tiers carry memoized
    // index state of their own (cells, edges, postings, codebooks) — all
    // of it belongs in this untimed prebuild for the same reason. So do
    // the round-17 memoized index families: the BM25 posting stats
    // (q168/q169 share them) and the leakage gate's frozen holdout
    // shingle store (q225).
    // ... and since round 18 the ingest doors' seeded master stores
    // (IngestDoor.seededWorkingCopy) — the seed leg is index build,
    // amortized exactly like the ANN artifacts above.
    //
    // FROZEN as of round 19 (r18 verdict ask #1, option b): this list and
    // the memo-family set it reflects are the timing convention's fixed
    // contents — no further queries may be added and no further query
    // work may move into ann_build. The un-gameable comparison metric is
    // timed_total + ann_build ("with_build" in every emitted line and
    // artifact; BENCHMARKS.md "The headline metric" defines it): work
    // shifted between the two buckets no longer changes the headline.
    Seq("q44_ann_ivf", "q129_ann_pq", "q170_ann_ivfpq",
        "q237_ann_index_append", "q242_graph_ann_search",
        "q245_graph_ann_append", "q168_bm25_topk",
        "q225_leakage_gate_ingest", "q150_dedup_on_ingest",
        "q160_semantic_dedup_ingest", "q165_span_ingest",
        "q227_media_dedup_ingest",
        // q230's bucketed-table layout (write-once, join-forever) and the
        // frozen quality-gate LMs (q177/q224) are standing state under
        // the same convention
        "q230_colocated_join", "q177_quality_gate_ingest",
        "q224_screen_calibration").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    spark.sharedState.cacheManager.clearCache()

    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      attempts(name) = attempts(name) + 1
      measuredAt(name) = elapsedSec
      val t0 = System.nanoTime()
      val t =
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          if (!shuttingDown) System.err.println(s"[bench] $name failed: ${oneLine(e)}")
          -1.0 // sentinel: a thrown query must not masquerade as a timing
        }
      // drop per-query cached frames so one query's persist() doesn't
      // shrink storage memory for the rest of the run
      spark.sharedState.cacheManager.clearCache()
      t
    }

    // Quiet-host ledger (bench_reference.json): used to rank re-times
    // worst-ratio-first and to decide which queries are outliers worth
    // overrunning the soft budget for.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_reference.json")
    val reference: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(refPath))
        // minimal parse of {"queries":{"name":sec,...}} — values are plain
        // doubles. Stop at "attempts": a bench_full.json handed in as the
        // ledger carries an attempts section with the SAME q-keys, and
        // toMap keeps last occurrence — attempt COUNTS would silently
        // replace every pin.
        val qsec = """"(q[0-9]+[A-Za-z0-9_]*)"\s*:\s*(-?[0-9.Ee+-]+)""".r
        val start = txt.indexOf("\"queries\"")
        val stop = txt.indexOf("\"attempts\"") match {
          case i if i > start => i
          case _ => txt.length
        }
        if (start < 0) Map.empty
        else qsec.findAllMatchIn(txt.substring(start, stop))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap.filter(_._2 >= 0)
      } catch { case _: Throwable => Map.empty }
    // measured-vs-ledger inflation; no pin or no measurement → 0 (sorts
    // last, never counts as an outlier)
    def ratio(name: String): Double = (reference.get(name), timings.get(name)) match {
      case (Some(ref), Some(t)) if ref > 0 && t > 0 => t / ref
      case _ => 0.0
    }
    // >2× its quiet pin with a 0.3 s floor, so sub-100ms queries don't
    // churn on scheduler jitter
    def isOutlier(name: String): Boolean = reference.get(name).exists { ref =>
      timings.getOrElse(name, -1.0) > math.max(2.0 * ref, ref + 0.3)
    }
    // outliers may overrun the soft budget: skipping their re-time is the
    // exact round-6 failure (one noisy pass 1 ate the budget and the
    // ledger recorded raw noise); the driver tolerates well past this cap
    val hardBudgetSec = budgetSec * 1.35

    // Best-of-2 with INTERLEAVED passes: pass 1 runs every query, then
    // pass 2 repeats the sweep, and each query reports its faster pass.
    // Interleaving is deliberate: host-level interference (noisy
    // neighbors, page-cache flushes) arrives in multi-minute windows that
    // would cover both back-to-back runs of one query but not the same
    // query minutes apart in two sweeps — measured 10-60× inflation on
    // whichever alphabetical stretch a window overlapped, gone under
    // best-of-interleaved. Per-query one-off hiccups (first-touch file
    // listing, GC pause) wash out the same way.
    named.foreach { case (name, fn) =>
      if (!shuttingDown) timings(name) = timeOnce(name, fn)
    }
    emit("pass1")
    // Worst-ratio-first: if the budget dies mid-pass, it died correcting
    // the biggest suspected noise first, not the alphabet's front half.
    // EXCEPT queries measured in the last 90 s of pass 1: re-timing those
    // first would place their second attempt seconds after the first,
    // likely inside the same interference window that inflated it — the
    // adjacency the interleaved protocol exists to avoid. They keep their
    // worst-first rank among themselves, after the rest of the sweep has
    // put wall-clock between the attempts.
    val pass1End = elapsedSec
    val pass2Order = named.sortBy { case (name, _) =>
      (if (pass1End - measuredAt.getOrElse(name, 0.0) < 90.0) 1 else 0,
        -ratio(name))
    }
    pass2Order.foreach { case (name, fn) =>
      // soft budget for everyone; outliers get the hard budget
      if (!shuttingDown &&
          (elapsedSec < budgetSec || (isOutlier(name) && elapsedSec < hardBudgetSec))) {
        val t = timeOnce(name, fn)
        // a kill mid-query (or a one-off pass-2 failure) must not clobber
        // the completed pass-1 measurement with the -1 sentinel
        if (!shuttingDown && t >= 0)
          timings(name) = if (timings(name) < 0) t else math.min(timings(name), t)
      }
    }
    emit("pass2")

    // Targeted third pass: best-of-2 interleaved passes still lose when one
    // interference window spans BOTH sweeps (observed: a contiguous
    // alphabetical stretch inflated 8-18x across both passes, tripling the
    // reported total). Re-time the remaining outliers, worst first, up to
    // two more attempts each, keeping the minimum. Queries without a
    // reference entry (newly added this round) are left as measured.
    named.sortBy { case (name, _) => -ratio(name) }.foreach { case (name, fn) =>
      if (reference.contains(name)) {
        var tries = 0
        while (tries < 2 && !shuttingDown && elapsedSec < hardBudgetSec &&
               isOutlier(name)) {
          tries += 1
          val t = timeOnce(name, fn)
          if (t < 0) tries = 2
          else if (!shuttingDown && timings(name) >= 0 && t < timings(name))
            timings(name) = t
        }
      }
    }
    emit("final")
    finishedNormally = true
    spark.stop()
    // The driver parses the LAST stdout line as JSON. Two historical
    // breakages, both fixed in build.sbt: the "[success]" banner printing
    // after this line (BENCH_r07, showSuccess := false) and sbt's
    // LoggedOutput "[info] " prefix on forked stdout (BENCH_r08,
    // outputStrategy := StdoutOutput). bench_compact.json (writeCompact)
    // is the belt-and-braces file artifact either way. Stderr copy first
    // (streams interleave; it must not land after the stdout line in the
    // captured tail), then the stdout JSON line as the very last output.
    if (!shuttingDown) {
      System.err.println(compactLine("final"))
      chunkLines(chunkEntries, "final").foreach(System.err.println)
      System.err.println(shortLine("final"))
      System.err.flush()
      println(compactLine("final"))
      chunkLines(chunkEntries, "final").foreach(println)
      println(shortLine("final"))
      System.out.flush()
    }
  }
}
