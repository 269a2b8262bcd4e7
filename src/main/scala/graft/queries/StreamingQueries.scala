package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.tables.Tables

/** Structured-Streaming breadth beyond the CDC pipeline and the windowed
  * aggregations: stream-stream interval joins and stateful streaming
  * deduplication. Both drain the events table replayed as a file stream
  * with `Trigger.AvailableNow` into a memory sink, and both are
  * oracle-checked against the equivalent batch SQL — stream-equals-batch
  * is the guarantee being exercised.
  *
  * Time comparisons run at microsecond precision: Spark timestamps ARE
  * micros (the loader normalizes whatever precision the file ships), and
  * DuckDB's `epoch_us` floors to the same longs, so interval boundaries
  * land identically on both engines.
  */
object StreamingQueries {

  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsStream(spark, dir)

  /** Drain a streaming frame into a memory sink and return the collected
    * result re-materialized as a local batch frame (the sink view is
    * dropped so repeated runs don't accumulate driver copies).
    *
    * A stateful query pins its state-partition count from
    * `spark.sql.shuffle.partitions` at first start; 32 is right for batch
    * shuffles here but each streaming state partition carries store
    * open/snapshot/commit overhead per micro-batch (a stream-stream join
    * runs FOUR stores per partition), which dominates at micro-batch row
    * counts. Scope the streaming query to fewer, fatter state partitions
    * and restore the batch setting after the drain. */
  private[queries] def drain(spark: SparkSession, stream: DataFrame,
      outputMode: String = "append"): DataFrame =
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      val name = s"stream_q_${System.nanoTime()}"
      val q = stream.writeStream.outputMode(outputMode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sink = spark.table(name)
      val rows = sink.collect().toIndexedSeq
      val schema = sink.schema
      spark.catalog.dropTempView(name)
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    }

  // q69 — stream-stream interval join: each purchase pairs with the same
  // user's clicks in the preceding hour. Watermarks on both sides bound
  // the join state (1h of events per side at steady state — the property
  // that keeps this runnable forever at 100 TB/day); the time-range
  // predicate on the event-time columns is what lets Spark evict it.
  def q69StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    drain(spark, joined)
      .select(col("p_id"), col("c_id"), col("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
      .orderBy(col("p_id").asc, col("c_id").asc)
  }
  val q69Oracle: String = """
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
           epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <= epoch_us(p.ts)
    ORDER BY p_id ASC, c_id ASC"""

  // q70 — stateful streaming dedup: first occurrence of each
  // (user_id, event_type) passes, later ones drop against keyed state.
  // Only the keys are emitted (which physical event arrives "first" in a
  // replay is scheduling-dependent; the surviving key set is not), so the
  // batch oracle is exactly DISTINCT.
  def q70StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    drain(spark, deduped)
      .orderBy(col("user_id").asc, col("event_type").asc)
  }
  val q70Oracle: String = """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id ASC, event_type ASC"""

  // q81 — stream-static enrichment: the event stream joins a static
  // dimension read from parquet (broadcast per micro-batch — no stream
  // state at all, the cheapest streaming join there is), then aggregates
  // per segment. The pattern every CDC/metrics pipeline uses to attach
  // dimensions to a stream.
  def q81StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val customers = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventsStream(spark, dir)
      .join(broadcast(customers), col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment"), col("value"))
    // per-batch aggregation would need output-mode complete; aggregate the
    // drained rows instead — stream does the join, batch does the rollup
    drain(spark, enriched)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .orderBy(col("c_mktsegment").asc)
  }
  val q81Oracle: String = """
    SELECT c_mktsegment, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"""

  // q122 — stream-stream LEFT OUTER interval join: q69 plus the
  // null-extension rows for purchases with no click in the hour. Outer
  // rows only materialize when the watermark proves no matching click can
  // still arrive, so the tail of the stream (p_ts ≥ final watermark =
  // min(max p_ts, max c_ts) − 1h) is legitimately unfinalized at drain
  // end — the result is restricted to the finalized region on BOTH
  // engines, which is exactly the semantics a forever-running stream
  // exposes. State stays watermark-bounded like q69's inner form.
  def q122StreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
    // finalization cutoff, computed batch-side exactly as the stream's
    // final global watermark: min over sides of max event time, minus 1h
    // one events pass for both side maxima (was two .head() actions)
    val mr = Tables.events(spark, dir).agg(
      max(when(col("event_type") === "purchase", unix_micros(col("ts")))),
      max(when(col("event_type") === "click", unix_micros(col("ts"))))).head()
    val cutoffUs = math.min(mr.getLong(0), mr.getLong(1)) - 3600000000L
    drain(spark, joined)
      .select(col("p_id"), col("c_id"), col("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
      .filter(col("p_us") < cutoffUs)
      .orderBy(col("p_id").asc, col("c_id").asc_nulls_first)
  }
  val q122Oracle: String = """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         wm AS (SELECT LEAST((SELECT max(epoch_us(ts)) FROM p),
                             (SELECT max(epoch_us(ts)) FROM c))
                       - 3600000000 AS cut)
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
           epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <= epoch_us(p.ts)
    WHERE epoch_us(p.ts) < (SELECT cut FROM wm)
    ORDER BY p_id ASC, c_id ASC NULLS FIRST"""

  // q144 — streaming SCD Type-2 maintenance (Scd2Processor over
  // transformWithState/RocksDB): q137's dimension history kept
  // incrementally — each change that differs from the key's open
  // interval EMITS the closed row and re-opens, O(1) state per key,
  // history appends monotonically. The oracle is q137's batch window
  // formulation restricted to closed intervals (the open ones are state,
  // not output — they're q07's latest-per-key surface). Stream equals
  // batch, hash-checked.
  def q144StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val changes = eventsStream(spark, dir)
        .filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("event_type"))
        .as[graft.streaming.Scd2Processor.Change]
      val closed = graft.streaming.Scd2Processor.build(changes).toDF()
      drain(spark, closed)
        .orderBy(col("user_id").asc, col("valid_from_ms").asc,
          col("event_type").asc)
    }
  }
  val q144Oracle: String = """
    WITH ordered AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts) ASC, event_id ASC) AS prev
      FROM events WHERE user_id < 30),
    changes AS (
      SELECT user_id, event_id, ms, event_type FROM ordered
      WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type, ms AS valid_from_ms,
           lead(ms) OVER (PARTITION BY user_id
             ORDER BY ms ASC, event_id ASC) AS valid_to_ms
    FROM changes
    QUALIFY valid_to_ms IS NOT NULL
    ORDER BY user_id ASC, valid_from_ms ASC, event_type ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q144_stream_scd2" -> (q144StreamScd2 _),
    "q69_stream_stream_join" -> (q69StreamStreamJoin _),
    "q70_stream_dedup" -> (q70StreamDedup _),
    "q81_stream_enrich" -> (q81StreamEnrich _),
    "q122_stream_outer_join" -> (q122StreamOuterJoin _))

  val oracles: Map[String, String] = Map(
    "q144_stream_scd2" -> q144Oracle,
    "q69_stream_stream_join" -> q69Oracle,
    "q70_stream_dedup" -> q70Oracle,
    "q81_stream_enrich" -> q81Oracle,
    "q122_stream_outer_join" -> q122Oracle)
}
