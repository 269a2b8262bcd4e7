package graft

import org.apache.spark.sql.functions._

/** The optimizer rule turns plain-SQL interval joins into bucketed
  * equi-joins: same rows, no nested-loop physical join.
  */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private val widthKey = "spark.graft.rangeJoin.bucketWidth"

  /** The session carries the rule (GraftSession); setting the bucket
    * width is what arms it. */
  private def withRule[A](width: Long = 64L)(f: => A): A =
    GraftSession.withConf(spark, widthKey -> width.toString)(f)

  private def fixtures(): Unit = {
    Seq((0L, "a"), (95L, "b"), (100L, "c"), (150L, "d"), (250L, "e"))
      .toDF("p", "pname").createOrReplaceTempView("pts")
    Seq((0L, 100L, "r1"), (90L, 200L, "r2"), (100L, 101L, "r3"),
        (500L, 400L, "broken")) // e < s: must match nothing, cost nothing
      .toDF("s", "e", "rname").createOrReplaceTempView("rngs")
  }

  private val sql =
    "SELECT pname, rname FROM pts JOIN rngs ON s <= p AND p < e"

  /** Final physical plan, post-AQE: execute first, then stringify (an
    * un-executed AdaptiveSparkPlanExec hides its plan from collect()). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("interval-join SQL rewrites to an equi-join with identical rows") {
    fixtures()
    val naive = spark.sql(sql)
    assert(finalPlan(naive).contains("BroadcastNestedLoopJoin"),
      "fixture join should be a nested loop without the rule")
    val expected = naive.as[(String, String)].collect().toSet

    withRule() {
      val rewritten = spark.sql(sql)
      val plan = finalPlan(rewritten)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"rule did not fire:\n$plan")
      assert(rewritten.as[(String, String)].collect().toSet == expected)
    }
  }

  test("rule leaves equi-joins and non-range conditions alone") {
    fixtures()
    withRule() {
      // equi conjunct present -> untouched (still no BNLJ, but via hash join)
      val equi = spark.sql(
        "SELECT pname, rname FROM pts JOIN rngs ON p = s AND p < e")
      assert(equi.count() == 2) // p=0 on r1 (0<100), p=100 on r3 (100<101)
      // single inequality (no containment pair) -> rule must not fire,
      // result must still be correct via the nested loop
      val half = spark.sql("SELECT COUNT(*) AS n FROM pts JOIN rngs ON p < s")
      assert(half.head().getLong(0) ==
        spark.sql("SELECT COUNT(*) AS n FROM pts, rngs WHERE p < s").head().getLong(0))
    }
  }

  test("rule output matches the composed JoinOps.rangeJoin on real data") {
    val dir = "/root/testdata/sf0.001"
    val orders = graft.tables.Tables.orders(spark, dir)
    val windows = orders
      .select(unix_millis(date_trunc("month", $"o_orderdate".cast("timestamp"))).as("m"))
      .distinct()
      .select(($"m" - 432000000L).as("s"), ($"m" + 3024000000L).as("e"))
    val points = orders.select(
      unix_millis($"o_orderdate".cast("timestamp")).as("p"), $"o_orderkey")
    val composed = graft.operators.JoinOps
      .rangeJoin(points, windows, "p", "s", "e", bucketWidth = 2592000000L)
      .select($"o_orderkey", $"s").as[(Long, Long)].collect().toSet

    windows.createOrReplaceTempView("w_rule")
    points.createOrReplaceTempView("p_rule")
    withRule(width = 2592000000L) {
      val viaRule = spark.sql(
        "SELECT o_orderkey, s FROM p_rule JOIN w_rule ON s <= p AND p < e")
      assert(!finalPlan(viaRule).contains("BroadcastNestedLoopJoin"))
      assert(viaRule.as[(Long, Long)].collect().toSet == composed)
    }
  }

  test("q78 keeps the caller's bucket width") {
    withRule() {
      graft.queries.TemporalQueries.q78RangeJoinRule(spark, "/root/testdata/sf0.001")
        .collect()
      assert(spark.conf.getOption(widthKey).contains("64"),
        s"q78 lost the caller's width: ${spark.conf.getOption(widthKey)}")
    }
  }
}
