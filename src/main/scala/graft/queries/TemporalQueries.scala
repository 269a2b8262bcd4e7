package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession
import graft.operators.JoinOps
import graft.tables.Tables

/** Temporal join queries — the two join shapes Spark has no built-in
  * operator for and a CDC/analytics engine needs: as-of (latest-state
  * lookup, the reference's "current value at sync time" question
  * generalized to event time) and interval containment. Both are
  * implemented as composed relational ops ([[JoinOps.asofJoinBackward]],
  * [[JoinOps.rangeJoin]]) and both are oracle-checked: DuckDB has native
  * ASOF JOIN / inequality joins, giving a genuinely independent
  * cross-engine check of the semantics.
  *
  * All comparisons run on epoch-ms longs: the events loader normalizes
  * Spark to micros regardless of the file's physical precision (nanos or
  * micros across testdata drops), so ms is the shared precision both
  * engines floor to identically.
  */
object TemporalQueries {

  // q63 — backward as-of join: each purchase event picks up the latest
  // click at-or-before it by the same user (NULLs when none). Right-side
  // ties on one (user, ms) resolve to the max event_id on both engines.
  def q63AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        unix_millis(col("ts")).as("click_ms"), col("value").as("click_value"),
        col("event_id"))
    JoinOps.asofJoinBackward(purchases, clicks, key = Seq("user_id"),
        ts = "ms", rightPayload = Seq("click_ms", "click_value"),
        tiebreak = "event_id")
      .orderBy(col("user_id").asc, col("event_id").asc)
  }
  val q63Oracle: String = """
    WITH p AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms, value
      FROM events WHERE event_type = 'purchase'),
    c0 AS (
      SELECT user_id, epoch_ms(ts) AS click_ms, value, event_id
      FROM events WHERE event_type = 'click'),
    c AS (
      SELECT user_id, click_ms, arg_max(value, event_id) AS click_value
      FROM c0 GROUP BY user_id, click_ms)
    SELECT p.user_id, p.event_id, p.ms, p.value, c.click_ms, c.click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ms >= c.click_ms
    ORDER BY p.user_id ASC, p.event_id ASC"""

  // q64 — interval-containment join: overlapping 40-day windows (every
  // month start, padded -5/+35 days) aggregate the orders whose date
  // falls inside. Spark side goes through the bucket-expansion equi-join
  // (a plain inequality join would plan a nested loop); the oracle is the
  // direct BETWEEN join.
  private val dayMs = 86400000L

  def q64RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val windows = orders
      .select(unix_millis(date_trunc("month", col("o_orderdate").cast("timestamp")))
        .as("month_ms"))
      .distinct()
      .select((col("month_ms") - 5 * dayMs).as("start_ms"),
        (col("month_ms") + 35 * dayMs).as("end_ms"))
    val points = orders.select(
      unix_millis(col("o_orderdate").cast("timestamp")).as("p_ms"),
      col("o_totalprice"))
    JoinOps.rangeJoin(points, windows, "p_ms", "start_ms", "end_ms",
        bucketWidth = 30 * dayMs)
      .groupBy(col("start_ms"), col("end_ms"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).cast("double")
          .as("total_price"))
      .select(col("start_ms").as("window_start_ms"),
        col("end_ms").as("window_end_ms"), col("n_orders"), col("total_price"))
      .orderBy(col("window_start_ms").asc)
  }
  val q64Oracle: String = s"""
    WITH w AS (
      SELECT DISTINCT
        epoch_ms(date_trunc('month', o_orderdate)) - ${5 * dayMs} AS start_ms,
        epoch_ms(date_trunc('month', o_orderdate)) + ${35 * dayMs} AS end_ms
      FROM orders),
    p AS (SELECT epoch_ms(o_orderdate) AS p_ms, o_totalprice FROM orders)
    SELECT w.start_ms AS window_start_ms, w.end_ms AS window_end_ms,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM w JOIN p ON w.start_ms <= p.p_ms AND p.p_ms < w.end_ms
    GROUP BY 1, 2 ORDER BY window_start_ms ASC"""

  // q78 — the same interval aggregation as q64, but written as PLAIN SQL
  // with a naive inequality join and rewritten by the RangeJoinRewrite
  // optimizer rule (graft.plans) into the bucketed equi-join — the
  // SparkSessionExtensions deployment path where users only touch SQL.
  // The session carries the rule (GraftSession); it fires only while the
  // bucket width is set, and the width is scoped to this evaluation (the
  // result is materialized before the caller's setting comes back), so no
  // other query's plan is affected.
  def q78RangeJoinRule(spark: SparkSession, dir: String): DataFrame =
    GraftSession.withConf(spark,
        "spark.graft.rangeJoin.bucketWidth" -> (30 * dayMs).toString) {
      val orders = Tables.orders(spark, dir)
      orders
        .select(unix_millis(date_trunc("month", col("o_orderdate").cast("timestamp")))
          .as("month_ms"))
        .distinct()
        .select((col("month_ms") - 5 * dayMs).as("start_ms"),
          (col("month_ms") + 35 * dayMs).as("end_ms"))
        .createOrReplaceTempView("graft_q78_windows")
      orders.select(
        unix_millis(col("o_orderdate").cast("timestamp")).as("p_ms"),
        col("o_totalprice")).createOrReplaceTempView("graft_q78_points")
      val result = spark.sql("""
        SELECT start_ms AS window_start_ms, end_ms AS window_end_ms,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        FROM graft_q78_points JOIN graft_q78_windows
          ON start_ms <= p_ms AND p_ms < end_ms
        GROUP BY start_ms, end_ms
        ORDER BY window_start_ms ASC""")
      val rows = result.collect().toIndexedSeq
      val schema = result.schema
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .orderBy(col("window_start_ms").asc)
    }

  // q141 — point-in-time (feature-store) join: q63's backward as-of with
  // a 2-hour max-staleness bound. A feature older than the bound must NOT
  // leak into the training row — the lookback-window correctness rule
  // every feature store enforces. Same union+window machinery and single
  // shuffle as q63; the bound is a post-window projection (the carried
  // match keeps its timestamp), so tolerance costs zero extra plan
  // nodes. The oracle is DuckDB's native ASOF LEFT JOIN with the same
  // staleness CASE applied on top.
  def q141PointInTimeJoin(spark: SparkSession, dir: String): DataFrame = {
    val tolMs = 2L * 3600 * 1000
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        unix_millis(col("ts")).as("click_ms"), col("value").as("click_value"),
        col("event_id"))
    JoinOps.asofJoinBackward(purchases, clicks, key = Seq("user_id"),
        ts = "ms", rightPayload = Seq("click_ms", "click_value"),
        tiebreak = "event_id", tolerance = Some(tolMs))
      .withColumn("is_fresh", col("click_ms").isNotNull.cast("int"))
      .orderBy(col("user_id").asc, col("event_id").asc)
  }
  val q141Oracle: String = """
    WITH p AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms, value
      FROM events WHERE event_type = 'purchase'),
    c0 AS (
      SELECT user_id, epoch_ms(ts) AS click_ms, value, event_id
      FROM events WHERE event_type = 'click'),
    c AS (
      SELECT user_id, click_ms, arg_max(value, event_id) AS click_value
      FROM c0 GROUP BY user_id, click_ms)
    SELECT p.user_id, p.event_id, p.ms, p.value,
           CASE WHEN c.click_ms >= p.ms - 7200000 THEN c.click_ms END AS click_ms,
           CASE WHEN c.click_ms >= p.ms - 7200000 THEN c.click_value END AS click_value,
           CAST(c.click_ms IS NOT NULL AND c.click_ms >= p.ms - 7200000 AS INT)
             AS is_fresh
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ms >= c.click_ms
    ORDER BY p.user_id ASC, p.event_id ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_point_in_time_join" -> (q141PointInTimeJoin _),
    "q63_asof_join" -> (q63AsofJoin _),
    "q64_range_join" -> (q64RangeJoin _),
    "q78_range_join_rule" -> (q78RangeJoinRule _))

  val oracles: Map[String, String] = Map(
    "q141_point_in_time_join" -> q141Oracle,
    "q63_asof_join" -> q63Oracle,
    "q64_range_join" -> q64Oracle,
    "q78_range_join_rule" -> q64Oracle)
}
