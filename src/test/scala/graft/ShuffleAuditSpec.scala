package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.obs.Census
import graft.operators.JoinOps
import graft.tables.Tables

/** Measured shuffle traffic: every "this operator shuffles less" claim in
  * SCALE.md §4-5 asserted against per-task shuffle-write metrics, optimized
  * operator vs naive formulation on the same inputs. Numbers at sf0.1 are
  * recorded in SCALE.md §7.
  */
class ShuffleAuditSpec extends SparkSpec {
  import ShuffleAuditSpec.Shuffle

  private val dir = sys.env.getOrElse("GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.01")

  /** Force real exchanges on both variants: with dims auto-broadcast the
    * naive side would show no shuffle to beat. */
  private def withoutAutoBroadcast[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Shuffle bytes and rows written while `df` is built and run end to end
    * through the `noop` sink: the full plan with production-shaped output
    * and no rows collected to the driver. */
  private def shuffleOf(df: => DataFrame): Shuffle = {
    val (_, c) = Census.during(spark)(df.write.mode("overwrite").format("noop").save())
    Shuffle(c.shuffleWriteBytes, c.shuffleWriteRecords)
  }

  private def audit(label: String, optimized: DataFrame, naive: DataFrame)
      : (Shuffle, Shuffle) = {
    val opt = shuffleOf(optimized)
    val base = shuffleOf(naive)
    info(f"$label%-22s optimized ${opt.pretty}%-28s naive ${base.pretty}")
    (opt, base)
  }

  test("as-of join avoids materializing the pair set the join formulation pays for") {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        unix_millis(col("ts")).as("click_ms"), col("value").as("click_value"),
        col("event_id"))
    val optimized = JoinOps.asofJoinBackward(purchases, clicks,
      key = Seq("user_id"), ts = "ms", rightPayload = Seq("click_ms", "click_value"),
      tiebreak = "event_id")
    // Naive: materialize every (purchase, earlier-click) pair, then argmax.
    // Same output, but the pair set — quadratic in events-per-key — crosses
    // the wire into the groupBy.
    val c = clicks.select(col("user_id").as("c_user"), col("click_ms"),
      col("click_value"), col("event_id").as("c_tb"))
    val naive = purchases
      .join(c, col("user_id") === col("c_user") && col("click_ms") <= col("ms"), "left")
      .groupBy(col("user_id"), col("event_id"), col("ms"), col("value"))
      .agg(max(struct(col("click_ms"), col("c_tb"), col("click_value"))).as("m"))
      .select(col("user_id"), col("event_id"), col("ms"), col("value"),
        col("m.click_ms").as("click_ms"), col("m.click_value").as("click_value"))
    withoutAutoBroadcast {
      // semantics first: both formulations must agree row-for-row
      val l = optimized.collect().map(_.mkString("|")).sorted
      val r = naive.collect().map(_.mkString("|")).sorted
      assert(l.sameElements(r), "naive formulation must match the operator")
      val (opt, base) = audit("as-of join", optimized, naive)
      // Measured honesty (SCALE.md §7): the shuffle is the SAME — Catalyst
      // reuses the join's user_id partitioning for the groupBy, so both
      // move purchases+clicks once. The join formulation loses by
      // materializing the (purchase × earlier-click) pair set through the
      // aggregate — quadratic in events-per-key, in-stage CPU/memory/spill,
      // not wire bytes.
      assert(opt.records <= base.records,
        s"as-of must never shuffle more (${opt.records} vs ${base.records})")
      val unionRows = purchases.count() + clicks.count()
      val pairRows = purchases
        .join(c, col("user_id") === col("c_user") && col("click_ms") <= col("ms"), "left")
        .count()
      info(f"as-of rows materialized: union+window $unionRows%d, join pair set $pairRows%d")
      assert(pairRows > unionRows,
        s"pair set must exceed union size for the claim to bite ($pairRows vs $unionRows)")
    }
  }

  test("bloom prefilter cuts probe-side shuffle of the big-big join") {
    def orders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    def aggOf(lineitem: DataFrame) = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(18, 6))).cast("double").as("rev"))
    val bloom = orders.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bloomBc.value.mightContainLong(k))
    val pruned = aggOf(Tables.lineitem(spark, dir).filter(mightContain(col("l_orderkey"))))
    val plain = aggOf(Tables.lineitem(spark, dir))
    withoutAutoBroadcast {
      val (opt, base) = audit("bloom prefilter", pruned, plain)
      assert(opt.bytes < base.bytes,
        s"bloom-pruned probe side must shuffle fewer bytes (${opt.bytes} vs ${base.bytes})")
    }
  }

  test("bounded-heap top-k shuffles less than the window formulation") {
    val top3 = udaf(new graft.functions.TopKAgg(3))
    val optimized = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val naive = Tables.orders(spark, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
    val (opt, base) = audit("grouped top-k", optimized, naive)
    assert(opt.records < base.records,
      s"TopKAgg partials must shuffle fewer rows (${opt.records} vs ${base.records})")
  }

  test("ngram-Jaccard df-cap bounds the hot-shingle pair explosion") {
    import spark.implicits._
    // Skewed corpus: one boilerplate phrase shared by ALL docs plus unique
    // content per doc. Uncapped, the two boilerplate shingles alone produce
    // the full C(d,2) pair set through the self-join; the df-cap drops them
    // before the join so no pair survives.
    val d = 100
    val docs = (0 until d)
      .map(i => (i.toLong, s"common boiler plate tail unique$i token$i filler$i"))
      .toDF("doc_id", "text")
    val uncapped = graft.operators.TextOps.ngramJaccardPairs(docs, n = 3, minIntersect = 2)
    val capped = graft.operators.TextOps.ngramJaccardPairs(docs, n = 3,
      minIntersect = 2, maxDf = 50)
    // Measured honesty (same finding as the as-of case): the pair set is
    // materialized IN-STAGE, not across the wire — hash(doc_a) partitioning
    // already satisfies the groupBy(doc_a, doc_b), so shuffle-record counts
    // barely move. The quadratic cost is the join's output row count, which
    // is exactly what the output pair count witnesses (every boilerplate
    // pair has inter = 2 ≥ minIntersect, so none is filtered post-join).
    val unPairs = uncapped.count()
    val cpPairs = capped.count()
    info(s"pairs: uncapped $unPairs, df-capped $cpPairs")
    assert(unPairs == d.toLong * (d - 1) / 2,
      "boilerplate must produce the full quadratic pair set when uncapped")
    assert(cpPairs == 0, "df-cap must remove boilerplate-only pairs entirely")
  }

  test("LSH bucket cap bounds the identical-doc pair explosion") {
    import spark.implicits._
    // d identical docs share every band bucket; uncapped that is the full
    // directed d·(d-1) candidate set, the fuzzy-dedup analogue of the
    // hot-shingle skew bomb. The cap keeps the first m per bucket, so the
    // candidate set is exactly m·(m-1) no matter how large d grows.
    val d = 100
    val docs = (0 until d)
      .map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val uncapped = graft.operators.TextOps.cappedLshCandidates(docs,
      n = 3, numHashes = 8, rowsPerBand = 2, maxBucket = Int.MaxValue)
    val capped = graft.operators.TextOps.cappedLshCandidates(docs,
      n = 3, numHashes = 8, rowsPerBand = 2, maxBucket = 8)
    val (un, cp) = (uncapped.count(), capped.count())
    info(s"directed candidates: uncapped $un, capped $cp")
    assert(un == d.toLong * (d - 1),
      "identical docs must produce the full directed pair set when uncapped")
    assert(cp == 8L * 7, "bucket cap must bound candidates at m·(m-1)")
    spark.sharedState.cacheManager.clearCache()
  }

  test("sign-LSH bucket cap bounds the cosine-dedup pair explosion") {
    import spark.implicits._
    // d identical vectors under one label share every sign bucket — the
    // embedding analogue of the boilerplate document cluster. Uncapped
    // that is C(d,2) scored pairs (cosine 1.0, all above threshold);
    // capped at m it is exactly C(m,2) regardless of d.
    val d = 100
    val emb = (0 until d)
      .map(i => (i.toLong, Array.fill(64)(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val uncapped = graft.operators.VectorOps.cosineDedupPairs(emb,
      threshold = 0.3, maxBucket = Int.MaxValue)
    val capped = graft.operators.VectorOps.cosineDedupPairs(emb,
      threshold = 0.3, maxBucket = 8)
    val (un, cp) = (uncapped.count(), capped.count())
    info(s"scored pairs: uncapped $un, capped $cp")
    assert(un == d.toLong * (d - 1) / 2,
      "identical vectors must produce the full pair set when uncapped")
    assert(cp == 8L * 7 / 2, "bucket cap must bound scored pairs at C(m,2)")
  }

  test("phash bucket cap bounds the identical-image pair explosion") {
    import spark.implicits._
    // d byte-identical image payloads share every hash band — the logo /
    // boilerplate-thumbnail cluster. Uncapped that is C(d,2) verified
    // pairs; capped at m per (band, value) it is exactly C(m,2).
    val varied = (0 until 128).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val media = (0 until 60)
      .map(i => (i.toLong * 3, "image", varied.getBytes))
      .toDF("doc_id", "kind", "media")
    val uncapped = graft.operators.MultimodalOps
      .phashNearDups(spark, media, maxHamming = 10, maxBucket = Int.MaxValue)
      .count()
    val capped = graft.operators.MultimodalOps
      .phashNearDups(spark, media, maxHamming = 10, maxBucket = 8)
      .count()
    info(s"pairs: uncapped $uncapped, capped $capped")
    assert(uncapped == 60L * 59 / 2,
      "identical payloads must produce the full pair set when uncapped")
    assert(capped == 8L * 7 / 2, "bucket cap must bound pairs at C(m,2)")
  }

  test("bipartite decon caps bound eval×corpus scored pairs") {
    import spark.implicits._
    // all-identical vectors on both sides share every sign bucket — the
    // worst case. Uncapped that is |corpus|×|eval| scored pairs; capped
    // at m per (band, bucket) per side it is exactly m×m, regardless of
    // either side's size — the same capped-LSH trade as q41/q104,
    // mirrored in the q175 oracle.
    val corpus = (0 until 100)
      .map(i => (i.toLong, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val evalSet = (100 until 120)
      .map(i => (i.toLong, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    val out = graft.operators.VectorOps
      .semanticDecontaminate(corpus, evalSet, threshold = 0.3, maxBucket = 8)
      .collect()
    val flagged = out.filter(_.getInt(2) == 1)
    info(s"flagged ${flagged.length}/100, scored pairs ${out.map(_.getLong(1)).sum}")
    assert(out.length == 100, "every corpus vector reports a verdict")
    assert(flagged.length == 8, "corpus-side cap bounds flagged docs per bucket")
    assert(out.map(_.getLong(1)).sum == 8L * 8,
      "scored pairs must be bounded at m×m, not |corpus|×|eval|")
  }

  test("DSIR scoring broadcasts the weight table, never the corpus features") {
    // q158's scale claim: the per-feature importance table is O(B) rows
    // and broadcasts; only agg partials cross the wire. The naive
    // formulation shuffle-joins the corpus-sized feature frame against
    // the weights — at 100 TB that moves the corpus for a 512-row lookup.
    import graft.queries.CurationQueries
    val optimized = CurationQueries.q158DsirSelect(spark, dir)
    val naive = withoutAutoBroadcast {
      // hint-free twin with auto-broadcast off → Catalyst must hash-
      // exchange the feature frame for the weight join
      shuffleOf(CurationQueries.dsirSelect(spark, dir, hintBroadcast = false))
    }
    val opt = shuffleOf(optimized)
    info(f"dsir select            optimized ${opt.pretty}%-28s naive ${naive.pretty}")
    assert(opt.records < naive.records,
      s"broadcast weights must keep corpus features out of the shuffle " +
        s"(${opt.records} vs ${naive.records})")
  }

  test("incremental span screen never shuffles the corpus text (spread=false)") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    // The operator derives corpus fps WITHOUT the row-spreading
    // repartition (the fps go straight into a distinct-by-fp exchange);
    // the naive formulation pre-spreads the corpus by doc_id — exactly
    // the shuffle the operator's scaladoc promises to skip. Both plans
    // build eagerly inside the measured block (the span set localCheckpoints
    // at construction), which is why the frames are constructed here and
    // not passed through audit().
    val opt = shuffleOf(
      TextOps.incrementalDuplicatedSpanStats(corpus, batch, n = 8))
    val naive = shuffleOf(
      TextOps.incrementalDuplicatedSpanStats(
        corpus.repartition(col("doc_id")), batch, n = 8))
    info(f"span screen            optimized ${opt.pretty}%-28s naive ${naive.pretty}")
    assert(opt.bytes < naive.bytes,
      s"corpus text must not ride a spreading shuffle (${opt.bytes} vs ${naive.bytes})")
    // results must be identical either way (partitioning never changes them)
    val l = TextOps.incrementalDuplicatedSpanStats(corpus, batch, n = 8)
      .collect().map(_.mkString("|")).sorted
    val r = TextOps.incrementalDuplicatedSpanStats(
        corpus.repartition(col("doc_id")), batch, n = 8)
      .collect().map(_.mkString("|")).sorted
    assert(l.sameElements(r))
  }

  test("Misra-Gries summary shuffles O(partitions x k), never the vocabulary") {
    // the q196 scale claim, measured on a stream with a REAL vocabulary
    // (the testdata documents hold only ~31 distinct tokens — degenerate
    // for this claim): the MG pass ships one <= k-counter summary per
    // partition, while the naive groupBy(token) ships one record per
    // distinct (partition, token) — the vocabulary itself. The
    // exact-verify stage is excluded: its candidate shuffle is <= k rows
    // by the counting bound.
    import org.apache.spark.sql.functions.udaf
    import spark.implicits._
    val nPart = 8
    // 20k-token vocabulary tail + a few heavies, pre-partitioned so the
    // only measured exchange is each formulation's own aggregation
    val toks = spark.range(0, 200000, 1, nPart)
      .select(when(pmod(col("id"), lit(10)) < 3, lit("HEAVY"))
        .otherwise(concat(lit("t"), pmod(col("id") * 2654435761L, lit(20000L))))
        .as("tok"))
    val k = 64
    val hh = udaf(new graft.functions.HeavyHittersAgg(k))
    val mg = toks.agg(hh(col("tok")))
    val naive = toks.groupBy(col("tok")).agg(count(lit(1)))
    val (opt, base) = audit("MG heavy hitters", mg, naive)
    assert(opt.records <= nPart,
      s"MG must ship one summary per partition (${opt.records} > $nPart)")
    assert(base.records > 1000,
      s"the naive side must pay the vocabulary (${base.records})")
    assert(opt.records * 100 < base.records,
      s"MG shuffle (${opt.records}) must be orders under the groupBy (${base.records})")
  }

  test("ES weighted sampling shuffles O(partitions x sources x k), never the corpus") {
    // q216's scale claim (StatsQueries.scala q216 scaladoc): the
    // rank <= k filter over the per-source ES-key window lets Spark's
    // WindowGroupLimit rewrite run a PARTIAL top-k pass before the
    // exchange, so each map partition ships at most k rows per source —
    // O(partitions x sources x k) — while the same window without the
    // rewrite ships every corpus row into the sort. Measured on a frame
    // with a real per-source row count (the sf testdata is too small for
    // the bound to bite), A/B'd by disabling the optimizer rule.
    val nPart = 8
    val k = 10
    val nSources = 4
    val corpusRows = 200000L
    val keyed = spark.range(0, corpusRows, 1, nPart)
      .select(concat(lit("s"), pmod(col("id"), lit(nSources))).as("source"),
        col("id").as("doc_id"),
        (pmod(col("id") * 2654435761L, lit(997L)) + 1L).as("w"))
      .withColumn("u_micro",
        conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("long") % 1000000L + 1L)
      .withColumn("key",
        log(col("u_micro").cast("double") / lit(1000001.0))
          / col("w").cast("double"))
    def sample = keyed
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("key").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("doc_id"), col("w"))
    val confKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    val saved = spark.conf.get(confKey)
    val opt = shuffleOf(sample)
    val optRows = sample.collect().map(_.mkString("|")).sorted
    val (naive, naiveRows) =
      try {
        spark.conf.set(confKey, "-1")
        (shuffleOf(sample),
          sample.collect().map(_.mkString("|")).sorted)
      } finally spark.conf.set(confKey, saved)
    info(f"ES weighted sample     optimized ${opt.pretty}%-28s naive ${naive.pretty}")
    assert(optRows.sameElements(naiveRows),
      "the rewrite must not change the sample")
    assert(opt.records <= nPart.toLong * nSources * k,
      s"WindowGroupLimit must bound the shuffle at partitions x sources x " +
        s"k = ${nPart * nSources * k} rows, measured ${opt.records}")
    assert(naive.records >= corpusRows,
      s"the unbounded window must pay the corpus (${naive.records})")
  }

  test("decontamination broadcasts the benchmark side, never the corpus shingles") {
    // q153's claim: the corpus shingle stream meets the (tiny, distinct)
    // benchmark fingerprint set via broadcast — a shuffle join would put
    // EVERY corpus shingle occurrence on the wire
    import graft.operators.TextOps
    val docs = Tables.documents(spark, dir)
    def sh(d: DataFrame) = d
      .select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 4)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val bench = sh(docs.filter(pmod(col("doc_id"), lit(50)) === 0))
      .select(col("h")).distinct()
    val corpus = sh(docs.filter(pmod(col("doc_id"), lit(50)) =!= 0))
    def scored(bcast: Boolean) = corpus
      .join(if (bcast) broadcast(bench) else bench, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    withoutAutoBroadcast {
      val (opt, base) = audit("decontaminate", scored(bcast = true),
        scored(bcast = false))
      assert(opt.records < base.records,
        s"broadcast decon must keep corpus shingles off the wire " +
          s"(${opt.records} vs ${base.records})")
    }
  }

  test("broadcast star join keeps the fact table out of the shuffle") {
    def join(bcast: Boolean) = {
      val o = Tables.orders(spark, dir)
      val c0 = Tables.customer(spark, dir)
      val c = if (bcast) broadcast(c0) else c0
      o.join(c, o("o_custkey") === c0("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("total"))
    }
    withoutAutoBroadcast {
      val (opt, base) = audit("broadcast star join", join(bcast = true), join(bcast = false))
      assert(opt.records < base.records,
        s"broadcast join must not shuffle the fact table (${opt.records} vs ${base.records})")
    }
  }
}

object ShuffleAuditSpec {
  final case class Shuffle(bytes: Long, records: Long) {
    def pretty: String = f"${bytes / 1024.0 / 1024.0}%.2f MiB / $records%d rows"
  }
}
