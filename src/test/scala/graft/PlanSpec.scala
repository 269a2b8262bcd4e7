package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Physical-plan regression guards: the scale properties claimed in
  * COVERAGE.md must stay visible in the plans, not just have been true
  * once. Each assertion names the property a 100 TB run depends on.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan
  }
  private def planString(name: String): String = plan(name).toString

  test("q158: DSIR weight table broadcasts; selection is top-k, not full sort") {
    val s = planString("q158_dsir_select")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "the O(B)-row importance-weight table must broadcast onto the corpus")
    assert(!s.contains("SortMergeJoin"),
      "the corpus-sized feature frame must never shuffle for the weight join")
    assert(s.contains("TakeOrderedAndProject"),
      "top-100 selection must be TakeOrderedAndProject, not a global sort")
  }

  test("q159: both mask windows and the per-doc agg share one doc_id shuffle") {
    val s = planString("q159_span_corruption")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashExchanges == 1,
      s"window passes + aggregation must reuse the doc_id partitioning " +
        s"(found $hashExchanges hash exchanges)")
  }

  test("q161-q163: ExactSubstr plans prune the documents scan and stay hash-joined") {
    for (name <- Seq("q161_dup_span_stats", "q162_dup_span_scrub",
        "q163_incremental_span_screen", "q164_scrub_keep_one")) {
      val s = planString(name)
      assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string"),
        s"$name must prune the documents scan to (doc_id, text)")
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"$name position joins must stay equi-joins — a nested-loop range probe " +
          "is quadratic per doc at corpus scale")
    }
  }

  test("ExactSubstr fp join-back is an equi-join in the PRE-materialization plan") {
    // The q161-q163 frames localCheckpoint their span set during
    // construction, so the final plans above only show a LogicalRDD where
    // the heavy occ-join-dupFps ran — pin that join's physical shape on
    // the lazy builders instead.
    import org.apache.spark.sql.functions.col
    val docs = graft.tables.Tables.documents(spark, dir)
    val lazyPlans = Seq(
      graft.operators.TextOps.duplicatedSpansBuild(docs, 8, 2),
      graft.operators.TextOps.incrementalSpanBuild(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400), 8))
    for ((spans, occ) <- lazyPlans) {
      val s = spans.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        "the occurrence-to-dup-set join must stay a hash/sort equi-join on fp")
      assert(s.contains("Join") || s.contains("BroadcastHashJoin") ||
        s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
        "expected the fp join-back to be present in the lazy plan")
      occ.unpersist()
    }
  }

  test("q168: BM25 stats broadcast and top-k plans as TakeOrderedAndProject") {
    // the SERVED plan reads the memoized posting-stats checkpoint (r17:
    // the stats are index state, amortized like the ANN postings), so
    // the broadcast pin moves to the BUILD plan — the one that runs on
    // a memo miss — while the served plan keeps the top-k shape pin
    val s = planString("q168_bm25_topk")
    assert(s.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrderedAndProject, not a global sort")
    val build = graft.queries.TextQueries
      .bm25ScoresBuild(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastExchange") || build.contains("BroadcastHashJoin"),
      "the df table and corpus stats must broadcast onto the tf rows")
  }

  test("q171: LM term tables broadcast onto the exploded token pairs") {
    val s = planString("q171_lm_perplexity")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin"),
      "the ≤vocab² pair-term and first-term tables must broadcast — the " +
        "exploded corpus pairs must never shuffle for the lookup")
  }

  test("q173: label-centroid table broadcasts; corpus maps without explode") {
    val s = planString("q173_outlier_screen")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin"),
      "the 10-row centroid table must broadcast onto the corpus scan — " +
        "the scored side must never shuffle for the join")
  }

  test("q175: eval-set bands broadcast; the corpus never self-joins") {
    val s = planString("q175_semantic_decontaminate")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin"),
      "the benchmark side must broadcast onto the corpus bands")
  }

  test("q06: selective filters reach the parquet scan (pushdown)") {
    val s = planString("q06_forecast_revenue")
    // the rendered plan truncates long filter lists, so match the prefix
    assert(s.contains("PushedFilters:") && s.contains("GreaterThanOrEqual(l_shipda"),
      "shipdate range must be pushed to the scan")
    assert(s.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount"),
      "scan must be pruned to the referenced columns")
  }

  test("q02: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(planString("q02_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("q03: dimension side broadcasts (fact table never pre-shuffled)") {
    val p = plan("q03_revenue_by_customer")
    val hasBroadcast = p.exists {
      case _: BroadcastExchangeExec => true
      case a: AdaptiveSparkPlanExec => a.executedPlan.exists(_.isInstanceOf[BroadcastExchangeExec])
      case _ => false
    } || planString("q03_revenue_by_customer").contains("BroadcastExchange")
    assert(hasBroadcast, "customer dim must broadcast")
  }

  test("q05: all four dims broadcast in the 5-way star join") {
    val s = planString("q05_revenue_by_region_nation")
    assert("BroadcastExchange".r.findAllIn(s).size >= 4,
      "orders/customer/nation/region must all broadcast")
  }

  /** Post-execution plan, final section only — the adaptive plan's
    * toString repeats the tree under "== Initial Plan ==", which would
    * double-count any occurrence assertions. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q63: as-of join is ONE hash shuffle (union+window, no join blowup)") {
    val s = finalPlan("q63_asof_join")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 1,
      s"as-of join must shuffle once on the key, found $hashShuffles:\n${s.take(800)}")
    assert(!s.contains("Join"), "as-of must not plan a physical join")
  }

  test("q79: grouped top-k aggregates map-side (partial before the exchange)") {
    val s = finalPlan("q79_grouped_topk")
    assert(s.contains("partial_topkagg"),
      "TopKAgg must run a partial pass before the shuffle")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 1, s"expected one hash shuffle, got $hashShuffles")
  }

  test("q83: grouping sets plan one Expand + one shuffle, not three scans") {
    val s = finalPlan("q83_grouping_sets")
    assert("Expand".r.findAllIn(s).size == 1,
      "GROUPING SETS must expand once")
    assert("Scan parquet".r.findAllIn(s).size == 1,
      "one pass over orders, not one per grouping set")
  }

  test("q87: salted agg keeps map-side partials on the salted key") {
    val s = finalPlan("q87_salted_agg")
    // stage 1 partial on (flag, salt), final, then stage 2 partial+final on
    // flag — the hot-key rows never converge on one reducer un-partialed
    assert(s.contains("partial_sum") || s.contains("partial"),
      "salted agg must partial-aggregate map-side")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 2,
      s"two-stage salted agg = exactly two shuffles, got $hashShuffles")
  }

  test("q89: curation pipeline fuses filters into the scan, 3 shuffles") {
    val s = finalPlan("q89_curation_pipeline")
    assert("Scan parquet".r.findAllIn(s).size <= 2,
      "quality+sample filters must not multiply scans (semi-join reuses)")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles <= 4,
      s"dedup agg + semi join + final agg bound the shuffles, got $hashShuffles")
  }

  test("q127: contamination probe broadcasts; corpus shingles never pre-shuffle") {
    val s = finalPlan("q127_contamination_screen")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "probe set must broadcast — a shuffled join would move the corpus to find KBs")
    // everything ABOVE the join (the per-doc countDistinct) must reuse the
    // corpus's doc_id partitioning: no exchange may sit between the join
    // and the result except the presentation sort
    val beforeJoin = s.split("BroadcastHashJoin")(0)
    assert(!beforeJoin.contains("Exchange hashpartitioning"),
      "post-join countDistinct must reuse the doc_id partitioning, not re-shuffle")
  }

  test("q153: benchmark shingles broadcast; the training corpus never pre-shuffles") {
    val s = finalPlan("q153_decontaminate")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "the held-out benchmark side (MBs at scale) must broadcast — a " +
        "shuffled join would move the TB-scale corpus to find KBs")
    // the STREAMED child (printed between the join marker and the
    // broadcast subtree) is the corpus side: scan→shingle→project with
    // NO exchange. The bench side's distinct and the per-doc count above
    // the join may shuffle — they move MBs; the corpus moves nothing.
    val corpusSide = s.split("BroadcastHashJoin")(1)
      .split("Broadcast(QueryStage|Exchange)")(0)
    assert(!corpusSide.contains("Exchange hashpartitioning"),
      "corpus shingles must stream into the broadcast join unshuffled")
  }

  test("q95: day filter prunes partition directories at the source") {
    val s = finalPlan("q95_partition_pruning")
    assert(s.contains("PartitionFilters:"),
      "scan must carry partition filters")
    val pf = s.split("PartitionFilters:")(1).takeWhile(_ != ']')
    assert(pf.contains("day"), s"day must be a partition filter, got $pf")
  }

  test("q98: gaps-islands reuses the user partitioning (2 shuffles, not 3)") {
    val s = finalPlan("q98_gaps_islands")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    // distinct on (user, day) + window on user; the (user, anchor) agg must
    // ride the window's user partitioning rather than shuffle again
    assert(hashShuffles <= 2,
      s"island agg must reuse the window's partitioning, got $hashShuffles")
  }

  test("q103: histogram partial-aggregates map-side before its one shuffle") {
    val s = finalPlan("q103_histogram")
    assert(s.contains("partial_count") || s.contains("partial"),
      "bin counts must combine map-side")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 1, s"one shuffle on bin id, got $hashShuffles")
  }

  test("q113: LATERAL top-k de-correlates (no nested-loop, no cartesian)") {
    val s = finalPlan("q113_lateral_topk")
    assert(!s.contains("CartesianProduct"),
      "correlated lateral must not plan a cartesian product")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "correlated lateral must not plan a nested loop join")
  }

  test("q110: snapshot diff is one join, no re-shuffle after it") {
    val s = finalPlan("q110_change_feed")
    val joins = "MergeJoin|HashJoin".r.findAllIn(s).size
    assert(joins == 1, s"change feed must diff with exactly one join, got $joins")
  }

  test("q117: custom TopKPerKeyExec plans, one shuffle, no window rank") {
    val s = finalPlan("q117_topk_exec")
    assert(s.contains("TopKPerKey"),
      "the custom physical operator must appear in the executed plan")
    assert(!s.contains("Window"),
      "top-k must not fall back to a window rank+filter")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 1,
      s"ClusteredDistribution(keys) = one hash exchange, got $hashShuffles")
  }

  test("TopKPerKeyExec rides existing partitioning/order (no second exchange/sort)") {
    // the operator's scale claim: a child already clustered and sorted on
    // (keys ++ order) — a bucketed or z-ordered table — goes straight to
    // the streaming pass; the planner must not insert another exchange or
    // sort beyond the ones that produced the layout
    import org.apache.spark.sql.functions._
    val orders = graft.tables.Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      .repartition(col("o_custkey"))
      .sortWithinPartitions(col("o_custkey").asc, col("price_cents").desc,
        col("o_orderkey").asc)
    val topk = graft.plans.TopKPerKey.topK(spark, orders,
      keyCols = Seq(col("o_custkey")),
      orderCols = Seq(col("price_cents").desc, col("o_orderkey").asc), k = 2)
    topk.collect()
    val s = topk.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(s.contains("TopKPerKey"), "custom node must plan")
    val exchanges = "Exchange".r.findAllIn(s).size
    assert(exchanges == 1,
      s"only the caller's repartition may exchange, found $exchanges:\n${s.take(900)}")
    val sorts = "\\bSort\\b".r.findAllIn(s).size
    assert(sorts == 1,
      s"only the caller's sortWithinPartitions may sort, found $sorts:\n${s.take(900)}")
  }

  test("q40: ANN corpus scan keeps codegen'd kernels (no HOF fallback)") {
    val s = planString("q40_ann_bruteforce").toLowerCase
    assert(s.contains("longdot"),
      "quantized dot product must run as the native LongDot expression")
    assert(!s.contains("aggregate(zip_with"),
      "no interpreted HOF dot product may appear in the ANN plan")
  }

  test("q130/q131: split + redaction are pure projections (zero exchanges)") {
    Seq("q130_split_assign", "q131_pii_redact").foreach { q =>
      val s = planString(q)
      // the output orderBy is allowed its range exchange; nothing else may
      // shuffle — fate/redaction are per-row functions of the row
      val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
      assert(shuffles == 0, s"$q must not hash-shuffle, plan:\n$s")
    }
  }

  test("q134: shard dispatch shuffles once (the final O(shards) agg)") {
    val s = planString("q134_shard_dispatch")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1,
      s"hash-mod routing needs no coordination before the tiny agg:\n$s")
    assert("partial_count|partial".r.findAllIn(s.toLowerCase).nonEmpty,
      "per-shard profile must partial-aggregate map-side")
  }

  test("q135: pair counting partial-aggregates and plans top-k, not sort") {
    val s = planString("q135_pair_counts")
    assert(s.contains("TakeOrderedAndProject"),
      "global top-20 must be TakeOrderedAndProject, not a full sort")
  }

  test("q137: both SCD2 windows share one shuffle on the entity key") {
    val s = planString("q137_scd2_build")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles == 1,
      s"change-detect and interval-close windows must reuse one exchange:\n$s")
  }

  test("q141: tolerance costs no extra plan nodes over plain as-of (q63)") {
    def windows(q: String) = "Window".r.findAllIn(planString(q)).size
    def shuffles(q: String) =
      "Exchange hashpartitioning".r.findAllIn(planString(q)).size
    assert(shuffles("q141_point_in_time_join") == shuffles("q63_asof_join"),
      "staleness bound must stay a post-window projection")
    assert(windows("q141_point_in_time_join") == windows("q63_asof_join"))
  }

  test("q186: packing planner is one scan — the candidate-L multiply never shuffles") {
    val s = planString("q186_packing_planner")
    // the 5-row seq_len frame must broadcast (nested-loop against a
    // broadcast side), and the only hash exchange is the 5-group final agg
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"candidate lengths must broadcast, not shuffle the corpus:\n$s")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles <= 1, s"one token-count pass + one tiny agg, found $shuffles:\n$s")
  }

  test("q188/q190: mixture/fertility cards agg partial-side, no corpus-wide window") {
    Seq("q188_mixture_entropy", "q190_tokenizer_fertility").foreach { q =>
      val s = planString(q)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
      // one source/lang agg exchange; q188's total-tokens window runs on
      // the |sources|-row aggregate, never on corpus rows
      assert(shuffles <= 1, s"$q must shuffle only the tiny agg, found $shuffles:\n$s")
      assert("partial".r.findAllIn(s.toLowerCase).nonEmpty,
        s"$q must partial-aggregate map-side:\n$s")
    }
  }

  test("q189: saturation curve windows over buckets, not documents") {
    val s = planString("q189_dedup_saturation")
    // hash agg on h + bucket agg; the CumsumOps pair (group-partitioned
    // running sum + prefix-offset window over the group frame) sits
    // ABOVE the bucket aggregation, so no window input exceeds the
    // n/100-row bucket frame — and the per-row one is group-partitioned
    val windows = "Window".r.findAllIn(s).size
    assert(windows == 2, s"the CumsumOps window pair, nothing more:\n$s")
    assert(s.indexOf("Window") < s.indexOf("HashAggregate"),
      s"the windows must consume the bucket AGGREGATE (plans print top-down):\n$s")
  }

  test("q193: query side broadcasts; the corpus never self-joins") {
    val s = planString("q193_hard_negatives")
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"the label-inequality join must broadcast the 20-row query side:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"),
      s"the corpus must not shuffle or cartesian against itself:\n$s")
  }

  test("q191: winnowing shares ONE doc_id shuffle between count and min windows") {
    val s = planString("q191_winnowing_sketch")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    // doc_id window shuffle + the per-doc stats agg reusing it + distinct:
    // nothing may shuffle on the fingerprint
    assert(shuffles <= 2, s"winnowing must not shuffle per-fp, found $shuffles:\n$s")
  }

  test("q74: bloom probe stays in codegen (no ScalaUDF in the plan)") {
    val s = planString("q74_bloom_prefilter_join")
    assert(!s.contains("ScalaUDF") && !s.contains("BatchEvalPython"),
      s"probe must be the codegen'd BloomMightContain kernel, not a UDF:\n$s")
    assert(s.contains("bloommightcontain") || s.contains("BloomMightContain"),
      s"expected the native bloom probe expression in the plan:\n$s")
  }

  test("q198: entity resolution blocks with an equi-join, never all-pairs") {
    val s = finalPlan("q198_entity_resolution")
    assert(!s.contains("CartesianProduct"),
      "mention-entity candidates must come from the block equi-join")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "the levenshtein verify must ride the block join, not a theta join")
  }

  test("q199: sorted-neighborhood generates candidates with NO join at all") {
    val s = finalPlan("q199_sorted_neighborhood")
    assert(!s.contains("Join"),
      "SNM candidates are window neighbors — any join means the sort-window" +
        " rewrite regressed to a self-join")
    assert(s.contains("Window"), "the sliding comparison must be a window")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles <= 2,
      s"repartition + one block-sort shuffle at most, got $hashShuffles")
  }

  test("q200: budget allocations broadcast back onto the corpus") {
    val s = finalPlan("q200_budget_fill")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin"),
      "the 5-row per-language allocation table must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "the corpus must never shuffle to meet the allocation table")
  }

  test("q201: KN term tables broadcast onto the exploded token pairs") {
    val s = planString("q201_kneser_ney")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin"),
      "the ≤vocab² KN pair-term and first-term tables must broadcast — " +
        "the exploded corpus pairs must never shuffle for the lookup")
  }

  test("q202: prefilter probes broadcast; no corpus self-shuffle") {
    val s = finalPlan("q202_jl_prefilter_rerank")
    assert(s.contains("BroadcastExchange"),
      "the 20-query probe set must broadcast onto the single corpus scan")
    assert(!s.contains("SortMergeJoin"),
      "the corpus must never shuffle to meet the probes or the recall join")
    assert(!s.contains("CartesianProduct"),
      "the probe join must be broadcast-nested-loop, not a cartesian")
  }

  test("q207: hot-shingle anti-join broadcasts; leakage join is equi, not cartesian") {
    // pin the PRE-materialize frame: the public query localCheckpoints,
    // so its executed plan is just the checkpoint scan
    val (pairs, raw, sh) =
      graft.queries.StatsQueries.q207Pairs(spark, dir)
    pairs.collect()
    val s = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    raw.unpersist(); sh.unpersist()
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin")
        || s.contains("BroadcastQueryStage"),
      "the tiny hot-shingle set must broadcast for the map-side anti-join " +
        "(AQE prints the stage, not the exchange, when the build side is reused)")
    assert(!s.contains("CartesianProduct"),
      "train x holdout must join on the shingle hash, never all-pairs")
  }

  test("q208: zipf head is TakeOrdered; the fit window sees 200 rows, not the vocab") {
    val s = finalPlan("q208_zipf_fit")
    assert(s.contains("TakeOrderedAndProject"),
      "the top-200 head must be per-partition heaps, not a global vocab sort")
  }

  test("q205: source totals broadcast; the KL term join is equi, never cartesian") {
    val s = finalPlan("q205_source_kl")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastQueryStage"),
      "the |sources|-row totals and 1-row grand total must broadcast")
    assert(!s.contains("CartesianProduct"),
      "the only unconditioned joins are broadcast-of-scalar frames")
  }

  test("q211: k-center rounds never plan a cartesian (centers broadcast onto the scan)") {
    // pin one ROUND's plan directly — the public query localCheckpoints
    // per round, which hides the round plan behind a checkpoint scan
    import org.apache.spark.sql.functions.{col, lit}
    val emb = graft.tables.Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.operators.VectorOps.quantize(col("embedding")).as("q"))
    val centers = emb.orderBy(col("vec_id").asc).limit(1)
      .select(col("vec_id").as("center_id"), lit(1).as("step"),
        lit(0.0).as("radius")).localCheckpoint(true)
    val round = graft.queries.StatsQueries.kcenterRound(emb, centers, 2)
    round.collect()
    val s = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!s.contains("CartesianProduct"),
      "the corpus meets the <=k center rows via broadcast-nested-loop only")
    assert(s.contains("TakeOrderedAndProject"),
      "the per-round argmax must be TakeOrdered-1, not a global sort")
  }

  test("q216: weighted sampling is scan + window — no join, no corpus sort") {
    val s = finalPlan("q216_weighted_sample")
    assert(!s.contains("Join"), "ES keys are per-row; nothing to join")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 1,
      s"one source-partitioned window shuffle expected, got $hashShuffles")
  }

  test("q218: effective tokens is one hash-agg pass + join-back, no corpus re-scan") {
    val s = finalPlan("q218_effective_tokens")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "the cluster-size join must be a hash equi-join on the content hash")
  }

  test("q222: activity segmentation shuffles only for the final ordering") {
    val s = finalPlan("q222_audio_activity")
    assert(!s.contains("Join"), "per-payload segmentation needs no join")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashShuffles == 0,
      s"the only exchange is the output range sort, got $hashShuffles hash shuffles")
  }

  test("q217: the cut join broadcasts; the corpus never meets the rank window") {
    val s = finalPlan("q217_vocab_coverage")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin"),
      "the 5-row cut table must broadcast onto the ranked vocab frame")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"))
    // the r11-verdict scale swap: the rank/cumsum window must consume a
    // TakeOrderedAndProject head (≤ max cut = 65536 rows, per-partition
    // heaps), never the full vocabulary in one task
    assert(s.contains("TakeOrderedAndProject"),
      "the top-65536 vocab head must be TakeOrdered, not a global sort " +
        "feeding the single-partition window")
    assert(s.indexOf("Window") < s.indexOf("TakeOrderedAndProject"),
      "the window must sit ABOVE the TakeOrdered head (plans print " +
        "top-down) — the unbounded vocabulary must never reach it")
  }

  test("q224: deciles come from the bucket histogram — no window over corpus rows") {
    // pin the PRE-materialize frame: the public query localCheckpoints,
    // so its executed plan is just the checkpoint scan. The scored base
    // is cached, so its plan prints NESTED adaptive sections — assert
    // over the whole string rather than the finalPlan split (which would
    // truncate at the nested plan's own "== Initial Plan ==").
    val (out, base) = graft.queries.StatsQueries.q224Frames(spark, dir)
    out.collect()
    val s = out.queryExecution.executedPlan.toString
    base.unpersist()
    assert(!s.contains("ntile"),
      "the global ntile over every scored document is the r11-verdict " +
        "scale-killer — deciles must come from the broadcast histogram map")
    // EVERY physical Window node may only consume the grid-bounded
    // bucket HISTOGRAM: top-down, a HashAggregate keyed on bucket must
    // print between the window and the first row source under it
    val winIdxs = "Window \\[".r.findAllMatchIn(s).map(_.start).toSeq
    assert(winIdxs.nonEmpty, "expected the histogram cumsum window")
    winIdxs.foreach { i =>
      val rest = s.substring(i)
      val scanIdx = Seq(rest.indexOf("InMemoryTableScan"),
        rest.indexOf("FileScan"), rest.indexOf("Scan parquet"))
        .filter(_ >= 0).min
      val aggIdx = rest.indexOf("HashAggregate(keys=[bucket")
      assert(aggIdx >= 0 && aggIdx < scanIdx,
        "the decile window must consume the bucket histogram aggregate, " +
          "never a corpus-row frame")
    }
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastQueryStage")
        || s.contains("BroadcastHashJoin"),
      "the bucket→decile map must broadcast back onto the scored rows")
  }

  test("q155/q169: quality-model weights come from a Range, never the vocabulary") {
    // r12-verdict scale-killer: the old plan DISTINCTed the corpus
    // vocabulary and broadcast it (1e9+ types at 100 TB kills the
    // driver). The model is now B=512 hashed-bucket rows built from
    // spark.range — pin that the broadcast side is a Range and that no
    // vocabulary-sized aggregate feeds it.
    val s155 = planString("q155_quality_model")
    assert(s155.contains("Range (0, 512"),
      "the weight table must be built from a 512-row Range, not the corpus")
    val docScans = "Scan parquet|FileScan parquet".r.findAllIn(s155).size
    assert(docScans == 1,
      s"q155 must scan documents exactly once (found $docScans scans — " +
        "a second scan means the model is being derived from the corpus)")
    assert(!s155.contains("HashAggregate(keys=[tok"),
      "no token-keyed aggregate may exist — the vocabulary must never " +
        "be materialized")
    val s169 = planString("q169_hybrid_rrf")
    assert(s169.contains("Range (0, 512"),
      "q169's quality ranker must reuse the Range-built bounded model")
  }

  test("q189/q204: running sums never window the full bucket frame") {
    // r12-verdict finding #3: Window.orderBy(bucket) with no partitioning
    // is linear-in-corpus at true scale. CumsumOps splits it into a
    // group-partitioned window plus a prefix-offset window over the
    // groupWidth-times-smaller group frame — pin that every window
    // ordering by bucket is partitioned by the __g group column.
    for (name <- Seq("q189_dedup_saturation", "q204_vocab_growth")) {
      val s = planString(name)
      val winLines = s.linesIterator.filter(_.contains("Window [")).toSeq
      assert(winLines.nonEmpty, s"$name: expected CumsumOps windows")
      winLines.filter(l => l.contains("bucket#")).foreach { l =>
        assert(l.contains("__g#"),
          s"$name: a window over bucket order must be partitioned by the " +
            s"CumsumOps group column, got: $l")
      }
      assert(s.contains("BroadcastExchange") || s.contains("BroadcastQueryStage")
          || s.contains("BroadcastHashJoin"),
        s"$name: the prefix offsets must broadcast back onto the bucket frame")
    }
  }

  test("q225: batch shingles broadcast onto the pruned index; never all-pairs") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-q225pin").toString
    try {
      val docs = graft.tables.Tables.documents(spark, dir)
      val store = new graft.sync.BucketedTableStore(spark, root, 16)
      graft.streaming.LeakageGateStream.freeze(spark, docs, store,
        new java.sql.Timestamp(1660000000000L))
      val batch = docs.filter(
        graft.queries.StatsQueries.splitOf(col("doc_id")) === "train")
      val (out, sh, raw) =
        graft.streaming.LeakageGateStream.gateFrames(spark, store, batch)
      out.collect()
      val s = out.queryExecution.executedPlan.toString
      sh.unpersist()
      raw.unpersist()
      assert(!s.contains("CartesianProduct"),
        "batch x holdout must meet on the shingle hash, never all-pairs")
      assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange")
          || s.contains("BroadcastQueryStage"),
        "the batch shingles must broadcast onto the bucket-pruned index " +
          "scan — the index side never re-shuffles")
    } finally graft.sync.LocalFs.deleteRecursively(
      java.nio.file.Paths.get(root))
  }

  test("q226: the agreement join and both channels stay equi — no nested loop") {
    val s = finalPlan("q226_crossmodal_agreement")
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "flagged-pair sets join on (doc_a, doc_b) equality only")
  }

  test("q203: waterfill windows run on the 5-row frame, not the corpus") {
    val s = finalPlan("q203_unimax_alloc")
    // the only corpus-wide exchange is the per-language partial agg; the
    // unpartitioned waterfill windows must sit above 5-row aggregates
    assert(s.contains("BroadcastExchange"),
      "the 1-row budget frame and the capped-set totals must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "nothing in the waterfill may sort-merge — every join side is tiny")
  }

  test("q231: dictionary broadcasts onto ONE corpus pass — no per-keyword rescans") {
    val s = finalPlan("q231_keyword_tag")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "the taxonomy dictionary must broadcast onto the gram stream")
    assert(!s.contains("SortMergeJoin"),
      "the corpus-sized gram stream must never shuffle for the dict join")
    val docScans = "Location: InMemoryFileIndex".r.findAllIn(s).size
    assert(docScans <= 2, // initial+final under AQE print at most twice
      s"one corpus pass expected — found $docScans scan sites")
  }

  test("q233/q236: governance joins stay equi — no cross product anywhere") {
    for (name <- Seq("q233_corpus_diff", "q236_ks_drift")) {
      val s = finalPlan(name)
      assert(!s.contains("CartesianProduct"), s"$name must not cross-join")
    }
  }

  test("q232: bitext candidates stay banded equi-joins — no cross product") {
    val s = finalPlan("q232_bitext_margin")
    assert(!s.contains("CartesianProduct"),
      "cross-side candidate generation must go through (band, bucket) " +
        "equality, never all-pairs")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "every join in the mining pipeline is an equi-join")
  }

  test("q230: bucketed join + bucket-keyed agg plan with ZERO shuffle") {
    val s = finalPlan("q230_colocated_join")
    // both scans are bucketed on orderkey, so the join AND the
    // orderkey-grouped aggregate satisfy their distributions from the
    // layout — any Exchange hashpartitioning here means the co-located
    // write was wasted and a 100 TB fact⋈fact join re-shuffles both sides
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles == 0,
      s"bucketed join must not shuffle either side (found $shuffles)")
    assert(s.contains("SortMergeJoin"),
      "the co-located join is a sort-merge over aligned buckets")
    assert(s.contains("TakeOrderedAndProject"),
      "the top-20 must stay a TakeOrdered head, not a global sort")
  }

  test("q238: the DP release is one scan + one agg exchange — no join at all") {
    val s = finalPlan("q238_dp_release")
    assert(!s.contains("Join"),
      "the geometric-mechanism noise is a per-row projection over the " +
        "aggregated grid — any join means a noise table crept in")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(shuffles == 1,
      s"one partial→final agg exchange expected, found $shuffles")
    val scans = "Location: InMemoryFileIndex".r.findAllIn(s).size
    assert(scans <= 2, // initial+final under AQE print at most twice
      s"one corpus scan expected — found $scans scan sites")
  }

  test("q239: KS windows partition by batch_id; the reference broadcasts") {
    val s = finalPlan("q239_dist_drift")
    assert(!s.contains("CartesianProduct"),
      "the batch×reference grid rides a broadcast, never a cartesian shuffle")
    val winLines = s.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty, "expected the cum-count windows")
    winLines.foreach { l =>
      assert(l.contains("batch_id#"),
        s"every ECDF window must partition by batch_id, got: $l")
    }
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastQueryStage"),
      "the frozen reference histogram must ride a broadcast")
  }

  test("q240: the ×32 replicate blowup is an explode aggregated before its exchange") {
    val s = finalPlan("q240_bootstrap_ci")
    assert(s.contains("Generate explode"),
      "replicate weights must ride an explode, never a join against a rep table")
    assert(!s.contains("CartesianProduct"), "no cartesian anywhere")
    // map-side combine: a partial aggregate must sit between the explode
    // and the shuffle, so the exchange carries sources×32 rows, not
    // corpus×32 rows
    assert("Exchange hashpartitioning[\\s\\S]*partial_sum[\\s\\S]*Generate explode".r
        .findFirstIn(s).isDefined,
      s"expected partial agg between the explode and its exchange:\n${s.take(1200)}")
  }

  test("q241: skew statistics window the count-of-counts histogram per column") {
    val s = finalPlan("q241_skew_profile")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"), "no join belongs in a profile")
    val winLines = s.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty, "expected the histogram-walk windows")
    winLines.foreach { l =>
      assert(l.contains("tbl#"),
        s"every histogram window must partition by the profiled column, got: $l")
    }
    // per profiled key: key-count agg then histogram agg — both partial'd
    assert(s.contains("partial_count"),
      "the per-key count must partial-aggregate map-side")
  }
}
