package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession
import graft.operators.TextOps
import graft.sync.{BucketedTableStore, LocalFs}
import graft.tables.Tables

/** Data-quality, sequence-statistics, and storage-diff operators: fuzzy
  * edit-distance dedup, Markov transition matrices, a constraint-violation
  * report, per-group OLS regression, EWMA smoothing, a percentile kit, and
  * a snapshot change feed off [[BucketedTableStore]] time travel.
  *
  * Determinism notes: all float paths go through exact integer/decimal
  * arithmetic or sequentially-identical IEEE folds (EWMA's fold order is
  * pinned by (µs, event_id) sort on both engines); levenshtein distances
  * are exact ints on both engines.
  */
object InsightQueries {

  // ---------------------------------------------------------------------
  // q104 — fuzzy nearest-duplicate per document: MinHash-band prescreen
  // (q34's md5 signatures: 8 hashes, 4 bands of 2) proposes candidate
  // pairs, then exact Levenshtein over a 40-char prefix scores them and
  // each doc keeps its best match. Band buckets are CAPPED at 32 members
  // (first by doc_id, mirrored in the oracle via QUALIFY) so a bucket of
  // identical boilerplate docs yields ≤ 32² pairs instead of C(d,2) — the
  // same skew bound as q33's shingle df-cap. An earlier version blocked on
  // (lang, source, n_chars DIV 50) with NO candidate bound: one hot block
  // grows quadratically with the corpus, and the length bucket splits true
  // near-dups whose edits change n_chars — LSH prescreening is both the
  // scale fix and the better recall.
  def q104EditDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bands from the memoized standing LSH index (see q93's note)
    val cand = TextOps.cappedPairsFromBands(
      TextOps.lshBandIndex(spark, dir, n = 3, numHashes = 8, rowsPerBand = 2),
      maxBucket = 32)
    val d = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, 40).as("prefix"))
    val pairs = cand
      .join(d.as("ma"), $"doc_a" === $"ma.doc_id")
      .join(d.as("mb"), $"doc_b" === $"mb.doc_id")
      .select($"doc_a", $"doc_b",
        levenshtein($"ma.prefix", $"mb.prefix").cast("long").as("dist"))
    val w = Window.partitionBy($"doc_a").orderBy($"dist".asc, $"doc_b".asc)
    pairs.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_a", $"doc_b", $"dist")
      .orderBy($"doc_a".asc)
  }
  val q104Oracle: String = {
    val mins = (0 until 8).map(s => s"MIN(md5(shingle || '|$s')) AS mh$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS bucket FROM mh")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
          i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3)),
    mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
    bands AS ($bandRows),
    capped AS (
      SELECT doc_id, band, bucket FROM bands
      QUALIFY row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) <= 32),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id),
    d AS (SELECT doc_id, substr(text, 1, 40) AS prefix FROM documents),
    p AS (SELECT doc_a, doc_b,
                 CAST(levenshtein(ma.prefix, mb.prefix) AS BIGINT) AS dist
          FROM cand JOIN d ma ON ma.doc_id = doc_a
                    JOIN d mb ON mb.doc_id = doc_b)
    SELECT doc_a, doc_b, dist FROM (
      SELECT *, row_number() OVER
        (PARTITION BY doc_a ORDER BY dist ASC, doc_b ASC) AS rn FROM p)
    WHERE rn = 1 ORDER BY doc_a ASC"""
  }

  // ---------------------------------------------------------------------
  // q105 — event-type transition matrix (Markov bigrams): per user, order
  // events by (µs, event_id), pair each with its successor, count
  // transitions and normalize per from-state. One exchange on user_id for
  // the lead window; the (5×5)-cell aggregate is a second tiny exchange.
  def q105EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts").asc, $"event_id".asc)
    val grid = Tables.events(spark, dir)
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy($"from_type")
    grid.withColumn("p",
        $"n".cast("double") / sum($"n").over(wFrom).cast("double"))
      .orderBy($"from_type".asc, $"to_type".asc)
  }
  val q105Oracle: String = """
    WITH s AS (SELECT user_id, event_type,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
               FROM events),
    g AS (SELECT event_type AS from_type, to_type, COUNT(*) AS n
          FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
    FROM g ORDER BY from_type ASC, to_type ASC"""

  // ---------------------------------------------------------------------
  // q106 — data-quality validation report: null / duplicate-key /
  // foreign-key / range constraints over orders, lineitem, customer, and
  // events, one row per check. Each check is an independent aggregate —
  // Spark runs them as parallel jobs of one scan each; FK checks are
  // anti-joins (broadcast when the parent's key set is small).
  def q106ValidationSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val customer = Tables.customer(spark, dir)
    val events = Tables.events(spark, dir)
    def chk(name: String, bad: DataFrame): DataFrame =
      bad.agg(count(lit(1)).as("violations")).select(lit(name).as("check"), $"violations")
    chk("lineitem_discount_range",
        lineitem.filter($"l_discount" < 0.0 || $"l_discount" > 1.0))
      .unionByName(chk("lineitem_fk_orders",
        lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"),
          "left_anti")))
      .unionByName(chk("lineitem_qty_range",
        lineitem.filter($"l_quantity" < 1.0 || $"l_quantity" > 50.0)))
      .unionByName(chk("orders_dup_pk",
        orders.groupBy($"o_orderkey").agg(count(lit(1)).as("c")).filter($"c" > 1)))
      .unionByName(chk("orders_fk_customer",
        orders.join(customer, orders("o_custkey") === customer("c_custkey"),
          "left_anti")))
      .unionByName(chk("orders_null_custkey", orders.filter($"o_custkey".isNull)))
      .unionByName(chk("events_ts_range",
        events.filter(to_date($"ts") < lit("2024-01-01").cast("date") ||
          to_date($"ts") > lit("2024-01-31").cast("date"))))
      .orderBy($"check".asc)
  }
  val q106Oracle: String = """
    SELECT * FROM (
      SELECT 'lineitem_discount_range' AS "check", COUNT(*) AS violations
        FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0
      UNION ALL
      SELECT 'lineitem_fk_orders', COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      UNION ALL
      SELECT 'lineitem_qty_range', COUNT(*)
        FROM lineitem WHERE l_quantity < 1.0 OR l_quantity > 50.0
      UNION ALL
      SELECT 'orders_dup_pk', COUNT(*) FROM
        (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
      UNION ALL
      SELECT 'orders_fk_customer', COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      UNION ALL
      SELECT 'orders_null_custkey', COUNT(*) FROM orders WHERE o_custkey IS NULL
      UNION ALL
      SELECT 'events_ts_range', COUNT(*) FROM events
        WHERE CAST(ts AS DATE) < DATE '2024-01-01'
           OR CAST(ts AS DATE) > DATE '2024-01-31')
    ORDER BY "check" ASC"""

  // ---------------------------------------------------------------------
  // q107 — per-group OLS regression (price ~ quantity) from exact
  // DECIMAL(38,0) power sums, q80's pattern extended to slope / intercept
  // / r: one map-side-combined exchange carries six exact partials per
  // group; the closed-form solution is identical double arithmetic on
  // identical exact integers on both engines.
  def q107Regression(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val x = round(col("l_quantity")).cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast(d38)).as("sx"), sum((x * x).cast(d38)).as("sxx"),
        sum(y.cast(d38)).as("sy"), sum((y * y).cast(d38)).as("syy"),
        sum((x * y).cast(d38)).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        ((col("sy").cast("double") -
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            col("sx").cast("double")) / col("n").cast("double"))
          .as("intercept"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("r"))
      .orderBy(col("l_returnflag").asc)
  }
  val q107Oracle: String = """
    SELECT l_returnflag, n,
      CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        AS slope,
      (CAST(sy AS DOUBLE) -
        (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
      CAST(n * sxy - sx * sy AS DOUBLE) /
        sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
             CAST(n * syy - sy * sy AS DOUBLE)) AS r
    FROM (
      SELECT l_returnflag, COUNT(*) AS n,
        SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
        SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM (SELECT l_returnflag,
              CAST(round(l_quantity) AS BIGINT) AS x,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem)
      GROUP BY l_returnflag)
    ORDER BY l_returnflag ASC"""

  // ---------------------------------------------------------------------
  // q108 — EWMA smoothing (α = 0.5) of each user's event values: values
  // are folded in (µs, event_id) order, seeded with the first value —
  // both engines execute the identical IEEE multiply-add sequence, so the
  // result is bit-exact with no quantization. Spark side sorts the
  // collected (µs, id, value) structs then folds with `aggregate`; the
  // collect is per-user (bounded by a user's event count), not global.
  def q108Ewma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id",
        struct(unix_micros($"ts").as("us"), $"event_id", $"value").as("obs"))
      .groupBy($"user_id")
      .agg(transform(array_sort(collect_list($"obs")), o => o.getField("value"))
        .as("vals"))
      .select($"user_id", size($"vals").cast("long").as("n_events"),
        aggregate(slice($"vals", lit(2), size($"vals") - 1),
          element_at($"vals", 1),
          (acc, v) => acc * lit(0.5d) + v * lit(0.5d)).as("ewma"))
      .orderBy($"user_id".asc)
  }
  val q108Oracle: String = """
    WITH l AS (SELECT user_id,
                 list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS vals
               FROM events GROUP BY 1)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(vals, (acc, v) -> acc * 0.5 + v * 0.5) AS ewma
    FROM l ORDER BY user_id ASC"""

  // ---------------------------------------------------------------------
  // q109 — percentile kit per event type over exact value-cents:
  // interpolated quartiles (percentile_cont), the discrete median
  // (percentile_disc), and a deterministically tie-broken modal weekday.
  // Quantiles interpolate exact ints at binary-exact fractions, so both
  // engines' formulas produce identical doubles.
  def q109PercentileKit(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr("CAST(weekday(to_date(ts)) AS BIGINT)").as("wd"))
      .createOrReplaceTempView("q109_events")
    val wd = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("wd").asc)
    val modal = Tables.events(spark, dir)
      .select(col("event_type"), expr("CAST(weekday(to_date(ts)) AS BIGINT)").as("wd"))
      .groupBy(col("event_type"), col("wd")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wd)).filter(col("rn") === 1)
      .select(col("event_type"), col("wd").as("modal_weekday"))
    val pct = Tables.events(spark, dir).sparkSession.sql("""
      SELECT event_type,
        percentile_cont(0.25) WITHIN GROUP (ORDER BY cents) AS p25,
        percentile_cont(0.5)  WITHIN GROUP (ORDER BY cents) AS p50,
        percentile_cont(0.75) WITHIN GROUP (ORDER BY cents) AS p75,
        percentile_disc(0.5)  WITHIN GROUP (ORDER BY cents) AS p50_disc
      FROM q109_events GROUP BY event_type""")
    pct.join(modal, "event_type")
      .select(col("event_type"), col("p25"), col("p50"), col("p75"),
        col("p50_disc").cast("long").as("p50_disc"), col("modal_weekday"))
      .orderBy(col("event_type").asc)
  }
  val q109Oracle: String = """
    WITH e AS (SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS cents,
                 CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS wd
               FROM events),
    pct AS (SELECT event_type,
              quantile_cont(cents, 0.25) AS p25,
              quantile_cont(cents, 0.5) AS p50,
              quantile_cont(cents, 0.75) AS p75,
              CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50_disc
            FROM e GROUP BY 1),
    modal AS (SELECT event_type, wd AS modal_weekday FROM (
        SELECT event_type, wd, COUNT(*) AS n,
          row_number() OVER (PARTITION BY event_type
                             ORDER BY COUNT(*) DESC, wd ASC) AS rn
        FROM e GROUP BY event_type, wd) WHERE rn = 1)
    SELECT event_type, p25, p50, p75, p50_disc, modal_weekday
    FROM pct JOIN modal USING (event_type) ORDER BY event_type ASC"""

  // ---------------------------------------------------------------------
  // q110 — snapshot change feed: two deterministic versions of an orders
  // table are written through a one-bucket [[BucketedTableStore]] keyed by
  // o_orderkey (v0, v1), read back via time
  // travel, and diffed into an insert/update/delete feed — the CDC-out
  // story (what a downstream consumer would ingest). The diff is one full
  // outer join on the key; at scale both snapshots hash-partition once on
  // o_orderkey and AQE handles any version-skew.
  def q110ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cf").toString
    val store = new BucketedTableStore(spark, root, nBuckets = 1)
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    store.writeAll("orders_cf", orders.filter($"o_orderkey" % 3 =!= 0), "o_orderkey")
    store.writeAll("orders_cf", orders.filter($"o_orderkey" % 5 =!= 0)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 7 === 0, $"o_totalprice" * 2.0d)
          .otherwise($"o_totalprice")), "o_orderkey")
    val a = store.readAtManifest("orders_cf", 0).get
      .select($"o_orderkey".as("key_a"), $"o_totalprice".as("price_old"))
    val b = store.readAtManifest("orders_cf", 1).get
      .select($"o_orderkey".as("key_b"), $"o_totalprice".as("price_new"))
    a.join(b, $"key_a" === $"key_b", "full_outer")
      .withColumn("op",
        when($"key_a".isNull, lit("insert"))
          .when($"key_b".isNull, lit("delete"))
          .when($"price_old" =!= $"price_new", lit("update")))
      .filter($"op".isNotNull)
      .select(coalesce($"key_a", $"key_b").as("o_orderkey"), $"op",
        $"price_old", $"price_new")
      .orderBy($"o_orderkey".asc)
  }
  val q110Oracle: String = """
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    a AS (SELECT o_orderkey AS key_a, o_totalprice AS price_old
          FROM base WHERE o_orderkey % 3 <> 0),
    b AS (SELECT o_orderkey AS key_b,
                 CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2.0
                      ELSE o_totalprice END AS price_new
          FROM base WHERE o_orderkey % 5 <> 0),
    j AS (SELECT key_a, key_b, price_old, price_new,
            CASE WHEN key_a IS NULL THEN 'insert'
                 WHEN key_b IS NULL THEN 'delete'
                 WHEN price_old <> price_new THEN 'update' END AS op
          FROM a FULL OUTER JOIN b ON key_a = key_b)
    SELECT COALESCE(key_a, key_b) AS o_orderkey, op, price_old, price_new
    FROM j WHERE op IS NOT NULL ORDER BY o_orderkey ASC"""

  // ---------------------------------------------------------------------
  // q111 — Morton z-value computation (the clustering key behind
  // ZOrderOps.writeZOrdered): pure bit-interleaving arithmetic, generated
  // from the same definition as the oracle SQL so the two spellings cannot
  // drift. ZOrderSpec measures the row-group pruning the layout buys.
  def q111Zorder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id", $"user_id",
        dayofmonth(to_date($"ts")).cast("long").as("day"))
      .withColumn("z", graft.operators.ZOrderOps.zvalue($"user_id", $"day"))
      .orderBy($"event_id".asc)
  }
  val q111Oracle: String = s"""
    SELECT event_id, user_id, day,
           ${graft.operators.ZOrderOps.zvalueSql("user_id", "day")} AS z
    FROM (SELECT event_id, user_id,
            CAST(day(CAST(ts AS DATE)) AS BIGINT) AS day FROM events)
    ORDER BY event_id ASC"""

  // ---------------------------------------------------------------------
  // q115 — exact bitmap distinct rollup: per-day user bitsets OR-merged
  // into weekly bitmaps — q82's HLL rollup made exact. Bitmap size tracks
  // the id universe (not rows); the weekly distinct never re-reads raw
  // events. Oracle = plain COUNT(DISTINCT), which must agree exactly.
  def q115BitmapRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val maxId = ev.agg(max($"user_id")).head().getLong(0)
    val build = udaf(new graft.functions.BitmapBuild((maxId >> 6).toInt + 1),
      org.apache.spark.sql.Encoders.scalaLong)
    val or = udaf(new graft.functions.BitmapOr(),
      graft.functions.BitmapAgg.wordsEncoder)
    ev.groupBy(to_date($"ts").as("day"))
      .agg(build($"user_id").as("bm"))
      .groupBy(date_trunc("week", $"day").cast("date").as("week"))
      .agg(or($"bm").as("bm"), count(lit(1)).as("n_days"))
      .select(unix_millis($"week".cast("timestamp")).as("week_start_ms"),
        expr("CAST(aggregate(transform(bm, w -> bit_count(w)), 0, (a, x) -> a + x) AS BIGINT)")
          .as("n_users"),
        $"n_days")
      .orderBy($"week_start_ms".asc)
  }
  val q115Oracle: String = """
    SELECT epoch_ms(CAST(date_trunc('week', CAST(ts AS DATE)) AS TIMESTAMP))
             AS week_start_ms,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events GROUP BY 1 ORDER BY week_start_ms ASC"""

  // q116 — exact bitmap set intersection: weekly view∩purchase audiences
  // via word-wise AND of the two bitmaps + popcount — distinct-overlap
  // without a distinct-join. The same algebra answers any boolean
  // audience combination from the one bitmap build.
  def q116BitmapIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val maxId = ev.agg(max($"user_id")).head().getLong(0)
    val build = udaf(new graft.functions.BitmapBuild((maxId >> 6).toInt + 1),
      org.apache.spark.sql.Encoders.scalaLong)
    val weekly = ev.filter($"event_type".isin("view", "purchase"))
      .groupBy(date_trunc("week", to_date($"ts")).cast("date").as("week"),
        $"event_type")
      .agg(build($"user_id").as("bm"))
    val v = weekly.filter($"event_type" === "view").select($"week", $"bm".as("bv"))
    val p = weekly.filter($"event_type" === "purchase").select($"week", $"bm".as("bp"))
    v.join(p, "week")
      .select(unix_millis($"week".cast("timestamp")).as("week_start_ms"),
        expr("CAST(aggregate(transform(zip_with(bv, bp, (a, b) -> a & b), w -> bit_count(w)), 0, (a, x) -> a + x) AS BIGINT)")
          .as("n_both"))
      .orderBy($"week_start_ms".asc)
  }
  val q116Oracle: String = """
    WITH v AS (SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
                 AS week, user_id FROM events WHERE event_type = 'view'),
    p AS (SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE)
            AS week, user_id FROM events WHERE event_type = 'purchase')
    SELECT epoch_ms(CAST(week AS TIMESTAMP)) AS week_start_ms,
           COUNT(*) AS n_both
    FROM v JOIN p USING (week, user_id)
    GROUP BY week ORDER BY week_start_ms ASC"""

  // ---------------------------------------------------------------------
  // q149 — SQL time travel: two snapshot versions of a customer projection
  // go through a one-bucket [[BucketedTableStore]] keyed by c_custkey (v0
  // pristine, v1 with doubled balances = live), then `SELECT … FROM
  // customer_tt VERSION AS OF 0` goes through spark.sql, where the
  // session's [[graft.plans.TimeTravelParser]] (installed by GraftSession)
  // reads it as manifest 0, and must return exactly the
  // pristine data — so the oracle is simply the customer table.
  def q149TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_tt").toString
    val store = new BucketedTableStore(spark, root, nBuckets = 1)
    val cust = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    store.writeAll("customer_tt", cust, "c_custkey") // v0
    store.writeAll("customer_tt",
      cust.withColumn("c_acctbal", $"c_acctbal" * 2.0d), "c_custkey") // v1 = live
    // Arm VERSION AS OF over this store only for this parse: the caller's
    // store root comes back afterwards, so later SQL on a shared session
    // never sees this temporary one.
    val df = GraftSession.withConf(spark, "spark.graft.store.root" -> root) {
      spark.sql(
        "SELECT c_custkey, c_name, c_acctbal FROM customer_tt VERSION AS OF 0 " +
          "ORDER BY c_custkey ASC")
    }
    // Materialize eagerly so the temp store can be deleted before return
    // (each invocation used to leak a two-version parquet store to /tmp).
    // BOUNDED collect: ≤ the sf-dir's customer rows (1.5k at sf0.1) —
    // the freeze-via-driver idiom is safe only because the result is
    // small; do NOT copy it onto an unbounded frame.
    val rows = df.collect()
    LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }
  val q149Oracle: String = """
    SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey ASC"""

  // ---------------------------------------------------------------------
  // q151 — zone-map-pruned scan of a range-clustered CDC target: orders is
  // written into a [[graft.sync.BucketedTableStore]] range-bucketed by
  // o_orderkey with per-bucket min/max stats, a CDC batch is applied as a
  // merge-on-read delta commit (keys ≡3 mod 10 re-prioritized, ≡7
  // removed) and compacted, then a key-window scan goes through
  // readRange — which reads ONLY the buckets whose zone maps admit the
  // window (ZoneMapSpec proves the skipping; at 100 TB this is IO
  // proportional to the window, not the table). The oracle replays the
  // upsert/delete relationally and filters the same window — the pruned
  // read must be indistinguishable from the full scan.
  def q151StorePrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // three consumers scan orders (the range-layout quantiles, the
    // writeAll staging, the CDC stage derivation) — persist it for the
    // query's scope so the table is read once, not three times (guide
    // §5; at 100 TB these are full-table passes)
    val orders = Tables.orders(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = Files.createTempDirectory("graft_zm").toString
    val store = new graft.sync.BucketedTableStore(spark, root, nBuckets = 16)
    try {
      store.writeAll("orders",
        orders.withColumn("syncTimestamp",
          lit(new java.sql.Timestamp(1659999000000L))),
        "o_orderkey",
        statsCols = Seq("o_orderkey", "o_orderdate"), rangeBucket = true)
      val stage = orders
        .filter(pmod($"o_orderkey", lit(10)).isin(3L, 7L))
        .withColumn("eventName",
          when(pmod($"o_orderkey", lit(10)) === 3L, "MODIFY").otherwise("REMOVE"))
        .withColumn("o_orderpriority",
          when(pmod($"o_orderkey", lit(10)) === 3L, lit("X-BUMPED"))
            .otherwise($"o_orderpriority"))
      store.mergeDelta("orders", stage, "o_orderkey",
        new java.sql.Timestamp(1660000000000L))
      store.compact("orders")
      val out = store.readRange("orders", "o_orderkey", 2000L, 12000L).get
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"o_orderkey").as("key_sum"),
          min(unix_millis($"o_orderdate".cast("timestamp"))).as("min_ms"),
          max(unix_millis($"o_orderdate".cast("timestamp"))).as("max_ms"))
        .orderBy($"o_orderpriority".asc)
      // lineage-free so the temp store can be deleted before the caller
      // consumes the result. BOUNDED collect: one row per order priority
      // (5) — safe only because the group-by output is O(priorities).
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      orders.unpersist(blocking = false)
      LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }
  val q151Oracle: String = """
    WITH merged AS (
      SELECT o_orderkey, o_orderdate,
             CASE WHEN o_orderkey % 10 = 3 THEN 'X-BUMPED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 7)
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           MIN(epoch_ms(o_orderdate)) AS min_ms,
           MAX(epoch_ms(o_orderdate)) AS max_ms
    FROM merged
    WHERE o_orderkey BETWEEN 2000 AND 12000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC"""

  // ---------------------------------------------------------------------
  // q154 — bloom-pruned fingerprint lookup on the bucketed store: the
  // documents corpus is written into a [[graft.sync.BucketedTableStore]]
  // hash-bucketed by doc_id with a per-bucket bloom sidecar over the
  // content fingerprint md5(text) — a column the layout scatters, so
  // neither key routing (lookup) nor zone maps (readRange) can prune it.
  // A CDC delta batch REMOVEs doc_id ≡ 3 (mod 100), then a probe asks for
  // the fingerprints of three known docs (one of them removed — its stale
  // bloom bits still admit the bucket, the resolved read drops the rows)
  // plus two absent fingerprints (bloom-rejected before any IO).
  // BloomSidecarSpec proves the bucket skipping; at 100 TB this is the
  // "is this content already in the corpus?" probe reading a few buckets
  // instead of the table. The oracle replays the removal and the IN
  // filter relationally — the pruned read must be indistinguishable from
  // the full scan.
  def q154BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // three consumers scan the fingerprinted corpus (the writeAll
    // staging, the REMOVE stage, the driver-side probe resolution) —
    // persist it so the corpus is read (and md5-fingerprinted) once,
    // not three times (guide §5)
    val docs = Tables.documents(spark, dir)
      .withColumn("fp", md5($"text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val root = Files.createTempDirectory("graft_bloom").toString
    val store = new graft.sync.BucketedTableStore(spark, root, nBuckets = 16)
    try {
      store.writeAll("docs",
        docs.withColumn("syncTimestamp",
          lit(new java.sql.Timestamp(1659999000000L))),
        "doc_id", bloomCols = Seq("fp"))
      val removals = docs.filter(pmod($"doc_id", lit(100)) === 3L)
        .withColumn("eventName", lit("REMOVE"))
      store.mergeDelta("docs", removals, "doc_id",
        new java.sql.Timestamp(1660000000000L))
      // fingerprints resolved driver-side from the PRE-removal corpus
      // (doc 3's fp probes the stale-bit path), plus two absent values
      val present = docs.filter($"doc_id".isin(3L, 7L, 23L))
        .select($"fp").as[String].collect().toSeq.distinct.sorted
      val probes = present ++ Seq(
        "00000000000000000000000000000000", "ffffffffffffffffffffffffffffffff")
      val out = store.readWhereIn("docs", "fp", probes).get
        .select($"doc_id", $"lang", $"source", $"n_chars", $"fp")
        .orderBy($"doc_id".asc)
      // BOUNDED collect: ≤ probes.size fingerprint hits (≤5 here) —
      // freezing via the driver is safe only at this row bound; an
      // unbounded result must keep its lineage instead.
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      docs.unpersist(blocking = false)
      LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }
  val q154Oracle: String = """
    SELECT doc_id, lang, source, n_chars, md5(text) AS fp
    FROM documents
    WHERE doc_id % 100 <> 3
      AND md5(text) IN (SELECT md5(text) FROM documents
                        WHERE doc_id IN (3, 7, 23))
    ORDER BY doc_id ASC"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q154_bloom_lookup" -> (q154BloomLookup _),
    "q151_store_prune" -> (q151StorePrune _),
    "q149_time_travel" -> (q149TimeTravel _),
    "q104_edit_distance" -> (q104EditDistance _),
    "q105_event_transitions" -> (q105EventTransitions _),
    "q106_validation_suite" -> (q106ValidationSuite _),
    "q107_regression" -> (q107Regression _),
    "q108_ewma" -> (q108Ewma _),
    "q109_percentile_kit" -> (q109PercentileKit _),
    "q110_change_feed" -> (q110ChangeFeed _),
    "q111_zorder" -> (q111Zorder _),
    "q115_bitmap_rollup" -> (q115BitmapRollup _),
    "q116_bitmap_intersect" -> (q116BitmapIntersect _))

  val oracles: Map[String, String] = Map(
    "q154_bloom_lookup" -> q154Oracle,
    "q151_store_prune" -> q151Oracle,
    "q149_time_travel" -> q149Oracle,
    "q104_edit_distance" -> q104Oracle,
    "q105_event_transitions" -> q105Oracle,
    "q106_validation_suite" -> q106Oracle,
    "q107_regression" -> q107Oracle,
    "q108_ewma" -> q108Oracle,
    "q109_percentile_kit" -> q109Oracle,
    "q110_change_feed" -> q110Oracle,
    "q111_zorder" -> q111Oracle,
    "q115_bitmap_rollup" -> q115Oracle,
    "q116_bitmap_intersect" -> q116Oracle)
}
