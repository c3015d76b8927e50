package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Int128Sum
import graft.sources.Corpus

/** Supplementary engine queries (SURVEY.md §2 #27-31): classic OLAP shapes +
  * event-time analytics, written so Catalyst gets full pushdown/broadcast
  * opportunities. Float policy: money/measure aggregates run on exact
  * DECIMAL and only the final value is cast to DOUBLE, so Spark and the
  * DuckDB oracle produce bit-identical doubles (SURVEY.md §6).
  */
object Relational {

  /** Epoch-seconds view of `events.ts`, robust to both schemas the driver
    * has shipped: TIMESTAMP/TIMESTAMP_NTZ(µs) (NTZ→LTZ under the session
    * zone — pinned UTC in every entry point — then cast to BIGINT, which
    * floors to whole seconds: same value as DuckDB's
    * `epoch(date_trunc('second', ts))` on a naive timestamp) and legacy
    * epoch-nano BIGINT (read under `nanosAsLong`). Integer math throughout:
    * a double round-trip would lose sub-second bits near 2^63. */
  private def evSec(df: DataFrame) =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000000")
      case _ => col("ts").cast("timestamp").cast("long")
    }

  /** `events.ts` as a session-zone TIMESTAMP under either schema (see
    * [[evSec]]); second precision suffices for every consumer. */
  private def evTs(df: DataFrame) =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("CAST(ts DIV 1000000000 AS TIMESTAMP)")
      case _ => col("ts").cast("timestamp")
    }

  // ---- #27 TPC-H Q1-style aggregate ------------------------------------
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), revPartE8,
        e4(col("l_quantity")).as("qty4"),
        e4(col("l_extendedprice")).as("price4"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // exact fixed-point sums (Int128Sum — same values as the decimal
        // spelling, long speed; probe A/B 1.05 s → 0.24 s at sf0.1)
        Int128Sum.sumLongs(col("qty4"), 4)
          .cast("decimal(18,4)").cast("double").as("sum_qty"),
        Int128Sum.sumLongs(col("price4"), 4)
          .cast("decimal(18,4)").cast("double").as("sum_base_price"),
        // the scale-8 product sum narrows to DECIMAL(18,4) BEFORE the
        // double cast: DuckDB 1.0's wide-decimal→double conversion goes
        // through the raw hugeint (5e17 here, above 2^53) and drifts ~5e-7,
        // while Spark's BigDecimal cast is correctly rounded — seen as a
        // q1_agg hash mismatch at sf0.1 only. At scale 4 the raw value
        // fits in 2^53 and both conversions are exact.
        // BOUND (ADVICE r4): DECIMAL(18,4) caps the sum at 10^14; in
        // non-ANSI Spark an overflowing cast returns NULL silently. sum_qty
        // grows ~6e8 per SF unit here, so the cap holds to SF ~10^5 (far
        // past 100 TB ≈ SF 10^2-10^3); past it, widen to DECIMAL(24,4) and
        // accept the documented ~1-ulp double drift instead.
        sumRevPart
          .cast("decimal(18,4)").cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  // ---- #28 dimension-broadcast join chain ------------------------------
  def joinEnrich(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "orders")
      .where(col("o_totalprice") > 1000.0)
      .join(broadcast(Corpus.table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Corpus.table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Corpus.table(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"),
        col("n_name"), col("r_name"))
  val joinEnrichSql: String =
    """SELECT o_orderkey, o_totalprice, c_name, n_name, r_name
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_totalprice > 1000.0""".stripMargin

  // ---- #29 windowed top-N per group ------------------------------------
  def topCustomersWindow(spark: SparkSession, dir: String): DataFrame = {
    val rev = Corpus.table(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(sumE4(col("o_totalprice")).as("rev"))
    val w = Window.partitionBy("n_name").orderBy(col("rev").desc, col("c_custkey"))
    rev
      .join(broadcast(Corpus.table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Corpus.table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rk", rank().over(w))
      .where(col("rk") <= 5)
      .select(col("n_name"), col("c_custkey"), col("c_name"),
        col("rev").cast("double").as("revenue"), col("rk").cast("long").as("rk"))
  }
  val topCustomersWindowSql: String =
    """WITH rev AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY 1
      |), ranked AS (
      |  SELECT n_name, c_custkey, c_name, rev,
      |    rank() OVER (PARTITION BY n_name ORDER BY rev DESC, c_custkey) AS rk
      |  FROM rev
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |)
      |SELECT n_name, c_custkey, c_name, CAST(rev AS DOUBLE) AS revenue,
      |  CAST(rk AS BIGINT) AS rk
      |FROM ranked WHERE rk <= 5""".stripMargin

  // ---- #30 tumbling event-time window (batch twin of the stream) -------
  def eventsWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.table(spark, dir, "events")
    ev.select(evSec(ev).as("sec"), col("event_type"), col("value"))
      .groupBy(
        expr("sec DIV 3600 * 3600").as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
  }
  val eventsWindowAggSql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- #30b sliding (hopping) windows: 1-hour width, 15-minute slide ----
  // Each event belongs to exactly width/slide = 4 overlapping windows;
  // the explode-to-window-starts formulation is the batch equivalent of
  // `window(ts, '1 hour', '15 minutes')`, expressed in epoch math shared
  // with the oracle. Scale: 4× row amplification into a map-side-partial
  // aggregation on a time-bounded key space — no extra shuffle vs tumbling.
  val SlideSec = 900
  val SlideWidthSec = 3600
  private val SlideN = SlideWidthSec / SlideSec // windows per event
  def eventsSlidingAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.table(spark, dir, "events")
    ev.select(evSec(ev).as("sec"), col("event_type"), col("value"))
      .select(col("event_type"), col("value"),
        explode(expr(
          s"transform(sequence(0, ${SlideN - 1}), j -> (sec DIV $SlideSec - j) * $SlideSec)"))
          .as("win_start"))
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
  }
  val eventsSlidingAggSql: String =
    s"""SELECT (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // $SlideSec - g.j)
       |    * $SlideSec AS win_start,
       |  event_type, count(*) AS n,
       |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |FROM events, unnest(range(0, $SlideN)) AS g(j)
       |GROUP BY 1, 2""".stripMargin

  // ---- #34f ROLLUP grouping sets over the corpus composition ------------
  // (lang, source) → (lang) → () subtotals in one pass — Spark's rollup
  // and DuckDB's GROUP BY ROLLUP produce identical NULL-marked subtotal
  // rows. One aggregation, map-side partial per grouping set.
  def mixRollup(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "documents")
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  val mixRollupSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin

  // ---- as-of join: each purchase matched to the user's latest prior view
  // Spark lacks a native as-of join; the union+window pattern composes
  // existing operators (preference (a) of the custom-operator ladder): tag
  // both sides, sort by time within user, carry the last view forward with
  // last_value(ignoreNulls). One shuffle on user_id. The oracle uses
  // DuckDB's native ASOF JOIN — two independent implementations agreeing.
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val raw = Corpus.table(spark, dir, "events")
    val ev = raw
      .select(col("user_id"), col("event_id"), col("event_type"),
        evSec(raw).as("sec"))
    // one view per (user, sec): ASOF tie-behavior on duplicate keys is
    // engine-unspecified, so both sides agree on max(event_id)
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("sec"))
      .agg(max(col("event_id")).as("view_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("sec"), col("event_id"))
    val tagged = purchases
      .withColumn("view_id", lit(null).cast("long")).withColumn("side", lit(1))
      .unionByName(views
        .withColumn("event_id", lit(null).cast("long")).withColumn("side", lit(0)))
    val w = Window.partitionBy("user_id").orderBy(col("sec"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view", last(col("view_id"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("sec").as("purchase_sec"), col("last_view").as("matched_view_id"))
  }
  /** The same as-of semantics through the NATIVE operator
    * (`org.apache.spark.sql.graft.AsOfJoinNative` — logical node + strategy
    * + physical plan, ladder tier (c)): one clustering shuffle per side,
    * per-partition binary search, no union/window/row replication. Three
    * independent implementations of one semantic now agree: this plan, the
    * union+window composition above, and DuckDB's ASOF JOIN oracle. */
  def asofJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val raw = Corpus.table(spark, dir, "events")
    val ev = raw
      .select(col("user_id"), col("event_id"), col("event_type"),
        evSec(raw).as("sec"))
    // right side renamed: both sides scan the same table, and the native
    // operator rejects duplicate attribute ids across sides
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("sec"))
      .agg(max(col("event_id")).as("view_id"))
      .select(col("user_id").as("v_user"), col("sec").as("v_sec"),
        col("view_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("sec"), col("event_id"))
    org.apache.spark.sql.graft.AsOfJoinNative.join(
        purchases, views,
        Seq(purchases("user_id")), Seq(views("v_user")),
        purchases("sec"), views("v_sec"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("sec").as("purchase_sec"), col("view_id").as("matched_view_id"))
  }

  val asofJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      |  FROM events
      |), v AS (
      |  SELECT user_id, sec, max(event_id) AS view_id FROM ev
      |  WHERE event_type = 'view' GROUP BY 1, 2
      |), p AS (
      |  SELECT user_id, sec, event_id FROM ev WHERE event_type = 'purchase'
      |)
      |SELECT p.user_id, p.event_id AS purchase_id, p.sec AS purchase_sec,
      |  v.view_id AS matched_view_id
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.sec >= v.sec""".stripMargin

  // ---- range join via time-bin bucketing --------------------------------
  // "How many views (platform-wide) in the 60 s before each purchase" has
  // no equi-key, so a naive join is a cartesian — the plan Spark would pick
  // for a bare inequality condition. The scalable shape: bucket both sides
  // by the window width (views probe buckets b and b+1, purchases keep
  // their home bucket), equi-join on bucket, filter the exact range. Pair
  // volume is bounded by per-bucket density, never |purchases|×|views|.
  // The oracle runs DuckDB's native inequality join (IEJoin) — two
  // independent implementations agreeing, as with asof_join.
  val RangeWindowSec = 60L
  def rangeJoinCounts(spark: SparkSession, dir: String): DataFrame = {
    val raw = Corpus.table(spark, dir, "events")
    val ev = raw
      .select(col("event_id"), col("event_type"),
        evSec(raw).as("sec"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("sec").as("psec"),
        expr(s"sec DIV $RangeWindowSec").as("bucket"))
    val views = ev.where(col("event_type") === "view")
      .select(col("sec").as("vsec"),
        explode(array(expr(s"sec DIV $RangeWindowSec"),
          expr(s"sec DIV $RangeWindowSec + 1"))).as("bucket"))
    purchases.join(views, Seq("bucket"), "left")
      .withColumn("hit",
        when(col("vsec").isNotNull
          && col("vsec") <= col("psec")
          && col("vsec") > col("psec") - RangeWindowSec, 1L).otherwise(0L))
      .groupBy("purchase_id", "psec")
      .agg(sum(col("hit")).as("n_recent_views"))
  }
  val rangeJoinCountsSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, event_type,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
       |  FROM events
       |), p AS (
       |  SELECT event_id AS purchase_id, sec AS psec FROM ev
       |  WHERE event_type = 'purchase'
       |), v AS (
       |  SELECT sec AS vsec FROM ev WHERE event_type = 'view'
       |)
       |SELECT p.purchase_id, p.psec, CAST(count(v.vsec) AS BIGINT) AS n_recent_views
       |FROM p LEFT JOIN v
       |  ON v.vsec <= p.psec AND v.vsec > p.psec - $RangeWindowSec
       |GROUP BY 1, 2""".stripMargin

  // ---- sketch-based stats (rows-only: sketches are engine-specific) -----
  // The 100 TB answer to COUNT(DISTINCT) and exact percentiles: HLL++ and
  // a bounded-error quantile sketch, both single-pass, map-side partial,
  // constant memory per group — next to their exact twins (join on
  // event_type with value_quantiles to see the error). No DuckDB oracle:
  // sketch estimates are engine-specific by construction, so the driver
  // records the weaker rows-only check (like partition_stats).
  def approxStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        round(expr("approx_percentile(value, 0.5, 1000)"), 4)
          .cast("decimal(14,4)").cast("double").as("approx_p50"),
        round(expr("approx_percentile(value, 0.95, 1000)"), 4)
          .cast("decimal(14,4)").cast("double").as("approx_p95"))

  // ---- salted aggregation (skew path) -----------------------------------
  // event_type has 5 values over ~100k rows — the pathological-skew shape
  // where one reducer would take a whole hot key. Scale.saltedAgg spreads
  // each key over 16 reducers (phase 1 on (key, salt), phase 2 merges
  // partials). The oracle is the PLAIN group-by: the salt must be
  // observationally invisible, which the hash comparison proves. Decimal
  // sums make the two-phase merge order-insensitive.
  def saltedEventCounts(spark: SparkSession, dir: String): DataFrame =
    Scale.saltedAgg(
      Corpus.table(spark, dir, "events")
        .select(col("event_type"), col("value").cast("decimal(18,6)").as("v")),
      "event_type", "v", 16)
      .select(col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
  val saltedEventCountsSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  // ---- salted fact-fact join (join-skew path) ---------------------------
  // Each event is enriched with its user's corpus-wide activity totals —
  // a fact-to-derived-fact join on user_id, the shape where one hot user
  // would pin a reducer. Scale.saltedJoin replicates the build side 8× and
  // scatters probe rows by a deterministic salt, so hot keys spread over 8
  // tasks. The oracle is the PLAIN join: the salt must be observationally
  // invisible. Decimal sums keep the merge order-insensitive.
  val JoinSaltBuckets = 8
  def saltedJoinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.table(spark, dir, "events")
    val userTotals = ev.groupBy("user_id")
      .agg(count(lit(1)).as("user_events"),
        sum(col("value").cast("decimal(18,6)")).as("user_value"))
    Scale.saltedJoin(
        ev.select(col("event_type"), col("user_id"), col("event_id")),
        userTotals, "user_id",
        pmod(col("event_id"), lit(JoinSaltBuckets)), JoinSaltBuckets)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("user_events")).as("sum_user_events"),
        sum(col("user_value")).cast("double").as("sum_user_value"))
  }
  val saltedJoinEnrichSql: String =
    """WITH ut AS (
      |  SELECT user_id, count(*) AS user_events,
      |    sum(CAST(value AS DECIMAL(18,6))) AS user_value
      |  FROM events GROUP BY 1
      |)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(user_events) AS BIGINT) AS sum_user_events,
      |  CAST(sum(user_value) AS DOUBLE) AS sum_user_value
      |FROM events JOIN ut USING (user_id) GROUP BY 1""".stripMargin

  // ---- TPC-H Q9-style multi-dim profit rollup ---------------------------
  // lineitem ⋈ part ⋈ supplier ⋈ nation, revenue per (nation, brand).
  // part/supplier/nation are dimension-sized at TPC-H ratios → broadcast
  // onto the fact scan (no fact shuffle before the final rollup agg; at
  // extreme part-table scale this becomes a shuffle join AQE handles).
  def brandRevenue(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "lineitem")
      .join(broadcast(Corpus.table(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Corpus.table(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Corpus.table(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .withColumn("rev_part", revPartE8)
      .groupBy(col("n_name").as("nation"), col("p_brand").as("brand"))
      .agg(
        // same DECIMAL(18,4) narrowing as q1_agg before the double cast
        // (DuckDB wide-decimal→double hugeint drift at raw > 2^53)
        sumRevPart
          .cast("decimal(18,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  val brandRevenueSql: String =
    """SELECT n_name AS nation, p_brand AS brand,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  // ---- TPC-H Q14-style promotion-effect rollup ---------------------------
  /** Monthly promotion share of revenue (the Q14 statistic, kept per
    * ship-month instead of Q14's single-month filter so one pass yields
    * the whole trend): revenue = extendedprice·(1−discount) under the
    * same DECIMAL(18,4) narrowing as q1_agg/brand_revenue; the share is
    * ONE IEEE division of the two exact decimal sums, rounded and pinned
    * to DECIMAL(14,4) (the §6 policy for ratios whose integer scaling
    * would overflow: promo×10⁸ passes 2⁶³ around TPC-H SF100, and DuckDB
    * defines no exact integral division on decimals — its `//` degrades
    * to double — so the scorer_agreement/kappa treatment applies, not
    * the bp one).
    *
    * Scale: part is dimension-sized → broadcast onto the fact scan (only
    * p_type is read — column pruning matters at 10⁹ parts); ONE uniform
    * ~10²-key month agg with map-side partials. No fact shuffle at all. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = e4(col("l_extendedprice")) * (lit(10000L) - e4(col("l_discount")))
    Corpus.table(spark, dir, "lineitem")
      .join(broadcast(Corpus.table(spark, dir, "part").select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        Int128Sum.sumLongs(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0L)), 8)
          .cast("decimal(18,4)").as("promo_dec"),
        Int128Sum.sumLongs(rev, 8).cast("decimal(18,4)").as("total_dec"),
        count(lit(1)).as("n_items"))
      .select(col("ship_month"),
        col("promo_dec").cast("double").as("promo_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        when(col("total_dec") === lit(BigDecimal(0)).cast("decimal(18,4)"),
          lit(0.0))
          .otherwise(round(col("promo_dec").cast("double") * lit(10000.0)
            / col("total_dec").cast("double"), 4))
          .cast("decimal(14,4)").cast("double").as("promo_share"),
        col("n_items"))
  }
  val promoRevenueSql: String =
    """WITH m AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,4))
      |        * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS promo_dec,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
      |      AS DECIMAL(18,4)) AS total_dec,
      |    count(*) AS n_items
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1
      |)
      |SELECT ship_month, CAST(promo_dec AS DOUBLE) AS promo_revenue,
      |  CAST(total_dec AS DOUBLE) AS total_revenue,
      |  CAST(CAST(CASE WHEN total_dec = 0 THEN 0.0
      |    ELSE round(CAST(promo_dec AS DOUBLE) * 10000.0
      |      / CAST(total_dec AS DOUBLE), 4) END
      |    AS DECIMAL(14,4)) AS DOUBLE) AS promo_share,
      |  n_items
      |FROM m""".stripMargin

  // ---- #34g funnel conversion (event-path analytics) ---------------------
  /** View→purchase funnel over the events stream: per user, the first view
    * and first purchase timestamps; converted = first purchase strictly
    * after first view. One (user-keyed, map-side-partial) aggregation plus
    * a one-row rollup — no self-join of events against events, which is
    * the naive funnel formulation and corpus² at scale. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("first_view").isNotNull, 1L).otherwise(0L)).as("n_viewers"),
        sum(when(col("first_purchase").isNotNull, 1L).otherwise(0L)).as("n_purchasers"),
        sum(when(col("first_view").isNotNull
          && col("first_purchase") > col("first_view"), 1L).otherwise(0L))
          .as("n_converted"))
      .select(col("n_users"), col("n_viewers"), col("n_purchasers"),
        col("n_converted"),
        // §6: exact basis points, not round(DOUBLE) — r4 driver hash-FAIL.
        // greatest(…,1): zero viewers must yield 0 bp, not an ANSI
        // DIVIDE_BY_ZERO (n_converted is 0 whenever n_viewers is)
        graft.functions.TextFns.bp(col("n_converted"),
          greatest(col("n_viewers"), lit(1L))).as("view_to_purchase_bp"))
  val funnelConversionSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      |  FROM events GROUP BY 1
      |)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_viewers,
      |  CAST(sum(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchasers,
      |  CAST(sum(CASE WHEN first_view IS NOT NULL AND first_purchase > first_view
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      |  (CAST(sum(CASE WHEN first_view IS NOT NULL AND first_purchase > first_view
      |    THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // greatest(
      |      CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT), 1)
      |    AS view_to_purchase_bp
      |FROM per_user""".stripMargin

  // ---- #34h retention cohorts --------------------------------------------
  /** Weekly retention: cohort = the user's first-activity week; one row per
    * (cohort_week, week_offset) counting users active that many weeks
    * later. Two aggregations — per-user first ts (map-side partial), then
    * distinct users per (cohort, offset) over a user-week-deduped frame —
    * all keyed on bounded (user, week) combinations; no events×events
    * self-join. Weeks are integer epoch-week indices from the nano
    * timestamps, identical arithmetic both engines. */
  val WeekSec = 7L * 24 * 3600

  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val raw = Corpus.table(spark, dir, "events")
    val ev = raw
      .select(col("user_id"), evSec(raw).as("sec"))
      .select(col("user_id"), expr(s"sec DIV $WeekSec").as("week"))
    val firsts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(firsts, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }
  val retentionCohortsSql: String =
    s"""WITH ev AS (
       |  SELECT user_id,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // $WeekSec AS week
       |  FROM events
       |), firsts AS (
       |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1
       |), uw AS (
       |  SELECT DISTINCT ev.user_id, cohort_week, week - cohort_week AS week_offset
       |  FROM ev JOIN firsts USING (user_id)
       |)
       |SELECT cohort_week, week_offset, count(*) AS n_users
       |FROM uw GROUP BY 1, 2""".stripMargin

  // ---- exact per-group quantiles ---------------------------------------
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        // §6: pinned decimals — never emit engine-formatted doubles
        round(expr("percentile(value, 0.5)"), 4).cast("decimal(14,4)")
          .cast("double").as("p50"),
        round(expr("percentile(value, 0.95)"), 4).cast("decimal(14,4)")
          .cast("double").as("p95"))
  val valueQuantilesSql: String =
    """SELECT event_type,
      |  CAST(CAST(round(quantile_cont(value, 0.5), 4) AS DECIMAL(14,4))
      |    AS DOUBLE) AS p50,
      |  CAST(CAST(round(quantile_cont(value, 0.95), 4) AS DECIMAL(14,4))
      |    AS DOUBLE) AS p95
      |FROM events GROUP BY 1""".stripMargin

  // ---- pivot: event counts per user across types -----------------------
  val PivotTypes = Seq("click", "view", "purchase", "signup", "error")
  def eventPivot(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
  val eventPivotSql: String = {
    val cols = PivotTypes
      .map(p => s"count(*) FILTER (WHERE event_type = '$p') AS \"$p\"")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  // ---- #31 gap-based sessionization (30-min inactivity) ----------------
  // Second-floored timestamps on both engines so ns-vs-µs precision can't
  // skew the gap comparison.
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = Corpus.table(spark, dir, "events")
    raw
      .select(col("user_id"), col("event_id"), col("ts"),
        evSec(raw).as("sec"))
      .withColumn("prev_sec", lag(col("sec"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(wRun))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_epoch"), max(col("sec")).as("end_epoch"))
  }
  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      |  FROM events
      |), flagged AS (
      |  SELECT *,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sessions AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events, min(sec) AS start_epoch, max(sec) AS end_epoch
      |FROM sessions GROUP BY 1, 2""".stripMargin

  // ---- #34i daily active-user rollup (exact distinct aggregation) --------
  /** Per-(day, event_type) event counts, EXACT distinct users, and value
    * sums — the daily-series rollup behind every activity dashboard, and
    * the engine's exact COUNT(DISTINCT) path (`approx_stats` is its sketch
    * twin; join on event_type to see the HLL error). Spark plans the
    * distinct as a two-phase partial aggregation: per-partition dedup of
    * (day, type, user) then the final count — one shuffle keyed on the
    * bounded day×type space plus the user expansion, never a global
    * distinct over raw events. DECIMAL value sums keep the merge
    * order-insensitive (§6). */
  def eventDailyActive(spark: SparkSession, dir: String): DataFrame = {
    val raw = Corpus.table(spark, dir, "events")
    raw.select(to_date(evTs(raw)).as("day"), col("event_type"),
        col("user_id"), col("value"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
  }
  val eventDailyActiveSql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- #34k existence-filtered rollup (TPC-H Q4 shape: semi-join agg) ----
  /** Orders per priority class having at least one deep-discount line —
    * the EXISTS/IN-subquery shape (TPC-H Q4). Spark plans the left SEMI
    * join: the probe (orders) streams, the build side short-circuits on
    * first match and ships only `l_orderkey` (the discount filter and the
    * one-column projection are pushed to the lineitem scan — at 100 TB the
    * build side is one pruned column of the filtered fact, never whole
    * rows), and no row is ever duplicated by multi-match, so there is no
    * DISTINCT anywhere. One shuffle per side on orderkey; AQE picks
    * shuffled-hash vs sort-merge. Oracle = DuckDB's independent EXISTS
    * decorrelation — two planners agreeing on the semi-join semantics. */
  def orderPrioritySemi(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "orders")
      .join(
        Corpus.table(spark, dir, "lineitem")
          .where(col("l_discount") > 0.05).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  val orderPrioritySemiSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      |GROUP BY 1""".stripMargin

  // ---- #34l per-customer order-count distribution (TPC-H Q13 shape) ------
  /** How many customers placed 0, 1, 2, … orders — the outer-join
    * aggregation distribution (TPC-H Q13), the one classic shape where the
    * unmatched side carries the answer (the 0-order customers exist only as
    * LEFT JOIN nulls). Scale shape: orders pre-aggregate to one count per
    * customer BEFORE the join (the fact table never rides the outer join —
    * the join input is bounded by |customers|, not |orders|), then customer
    * LEFT JOINs the count table and null→0. Two bounded-key shuffles plus
    * the ≤|distinct counts| final rollup. */
  def customerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Corpus.table(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    Corpus.table(spark, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_custs"))
  }
  val customerDistributionSql: String =
    """WITH oc AS (
      |  SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY 1
      |)
      |SELECT CAST(coalesce(c_count, 0) AS BIGINT) AS c_count,
      |  count(*) AS n_custs
      |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
      |GROUP BY 1""".stripMargin

  // ---- #34j semi-structured props extraction (JSON columns) --------------
  /** Typed extraction from the `events.props` JSON string + rollup on the
    * extracted key — the semi-structured path every event pipeline needs
    * (client payloads arrive as JSON long before they earn real columns).
    * `from_json` with an explicit schema is Spark's native typed parse:
    * codegen'd, map-side, malformed rows → NULL (PERMISSIVE), so the parse
    * adds zero exchanges — the only shuffle is the ≤100-key rollup with
    * map-side partials. At 100 TB the same projection feeds schema
    * inference audits; the DuckDB oracle extracts via its JSON extension —
    * two independent JSON parsers agreeing. */
  def eventPropsAgg(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "events")
      .select(
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"),
        col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
  // json_valid + TRY_CAST mirror from_json's PERMISSIVE malformed→NULL:
  // a bare json_extract would ERROR the whole oracle query on one
  // malformed props row that the engine (by documented design) tolerates
  val eventPropsAggSql: String =
    """SELECT CASE WHEN json_valid(props)
      |    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  // ---- #34m multi-level rollup via CUBE ----------------------------------
  /** Order counts + revenue at every (status × priority) granularity in one
    * pass — the GROUPING SETS surface (`mix_rollup` covers ROLLUP's
    * hierarchy; CUBE is the full lattice). Spark plans one Expand over the
    * scan (each input row fans to its 4 grouping sets map-side) feeding a
    * single hash aggregate — one shuffle for all four granularities,
    * versus four scans if each level ran alone. Subtotal rows surface as
    * NULL keys → coalesced to a sentinel so the output is plain VARCHAR
    * (the driver-safe type set) and needs no grouping_id column. Revenue
    * follows the §6 decimal policy: exact DECIMAL sum, narrowed, then one
    * double cast on both engines. */
  def revenueCube(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sumE4(col("o_totalprice"))
          .cast("decimal(18,4)").cast("double").as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))
  val revenueCubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
      |    AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ---- #34n per-column data profile --------------------------------------
  /** The data-quality profile every ingestion run needs: per column, row
    * count, null count, exact distinct count, and min/max (numeric columns
    * as DOUBLE, string columns as VARCHAR — each in its native type, no
    * cross-type stringification). Built as one small aggregate per column
    * unioned together: each leg's parquet scan reads ONLY its column
    * (column pruning — `ReadSchema` shows a single field per leg), its
    * distinct-count shuffles only that column's values, and the legs are
    * independent jobs a scheduler can overlap. The one-pass
    * `agg(countDistinct(a), countDistinct(b), …)` alternative plans a
    * single Expand that multiplies the scan by the column count and
    * shuffles the cross product — strictly worse at 100 TB than N pruned
    * single-column scans. */
  val ProfileNumCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount")
  val ProfileStrCols: Seq[String] = Seq("l_returnflag", "l_linestatus")
  def dataProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Corpus.table(spark, dir, "lineitem")
    val numLegs = ProfileNumCols.map { c =>
      li.select(col(c)).agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        count(lit(1)).minus(count(col(c))).as("n_null"),
        count_distinct(col(c)).as("n_distinct"),
        min(col(c)).cast("double").as("min_num"),
        max(col(c)).cast("double").as("max_num"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))
    }
    val strLegs = ProfileStrCols.map { c =>
      li.select(col(c)).agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        count(lit(1)).minus(count(col(c))).as("n_null"),
        count_distinct(col(c)).as("n_distinct"),
        lit(null).cast("double").as("min_num"),
        lit(null).cast("double").as("max_num"),
        min(col(c)).as("min_str"),
        max(col(c)).as("max_str"))
    }
    (numLegs ++ strLegs).reduce(_.unionAll(_))
  }
  // ---- #34o 7-day moving average (event-time rolling aggregate) ----------
  /** Daily order revenue with a trailing-7-day moving average — the rolling
    * series every ops dashboard draws. Formulated WITHOUT a window: each
    * day's revenue is EXPLODED to the ≤7 future days it contributes to
    * (map-only, bounded ×7 amplification) and re-aggregated by target day —
    * zero unpartitioned windows (the naive `RANGE 6 PRECEDING` global
    * window single-partitions the series; the lint bans it), and the same
    * shape runs incrementally under streaming (a day's arrival only
    * touches its 7 targets). The daily frame is calendar-bounded (~2.5k
    * rows per decade) regardless of corpus size, so every stage past the
    * first rollup is tiny. Revenue in exact integer cents; the mean is
    * exact integral division over contributing days. The DuckDB oracle IS
    * the window formulation — two formulations, one answer. */
  def revenueMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Corpus.table(spark, dir, "orders")
      .select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"),
        round(col("o_totalprice") * 100.0).cast("long").as("cents"))
      .groupBy(col("day_num"))
      .agg(sum(col("cents")).as("day_cents"), count(lit(1)).as("n_orders"))
    val contrib = daily
      .select(explode(sequence(col("day_num"), col("day_num") + 6)).as("t_day"),
        col("day_cents"))
      .groupBy(col("t_day"))
      .agg(sum(col("day_cents")).as("ma_cents"), count(lit(1)).as("ma_days"))
    daily.join(contrib, col("day_num") === col("t_day"))
      .select(col("day_num"), col("n_orders"), col("day_cents"),
        org.apache.spark.sql.graft.ExactMath.intDiv(
          col("ma_cents"), col("ma_days")).as("ma_cents_per_day"))
  }
  val revenueMovingAvgSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
      |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
      |      AS day_cents,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1
      |)
      |SELECT day_num, n_orders, day_cents,
      |  CAST(sum(day_cents) OVER w AS BIGINT)
      |    // CAST(count(*) OVER w AS BIGINT) AS ma_cents_per_day
      |FROM daily
      |WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |""".stripMargin

  // ---- #34r daily-count anomaly detection (z-score outliers) -------------
  /** Ops-analytics staple: flag (event_type, day) cells whose daily count
    * sits more than 2σ from that type's own mean — the volume-anomaly
    * alarm over an event feed. Moments (N, Σn, Σn²) are exact BIGINTs per
    * type, so mean/σ come from exact integer→double conversions through
    * ÷, ×, − and one IEEE-correctly-rounded sqrt — deterministic in both
    * engines, no libm. Plan: one day-grain rollup (map-side partials),
    * one ≤|types|-row stats agg BROADCAST back onto the daily frame,
    * row-local flagging. σ=0 series flag nothing. */
  def eventAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.table(spark, dir, "events")
    val daily = ev
      .select(col("event_type"),
        org.apache.spark.sql.graft.ExactMath.intDiv(evSec(ev), lit(86400L))
          .as("day_num"))
      .groupBy(col("event_type"), col("day_num"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val mean = col("s1").cast("double") / col("nd").cast("double")
    val sigma = sqrt((col("nd") * col("s2") - col("s1") * col("s1")).cast("double")
      / (col("nd") * col("nd")).cast("double"))
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("z_raw", (col("n").cast("double") - mean) / sigma)
      .where(sigma > 0.0 && abs(col("n").cast("double") - mean) > lit(2.0) * sigma)
      .select(col("event_type"), col("day_num"), col("n"),
        round(col("z_raw"), 4).cast("decimal(14,4)").cast("double").as("z"))
  }
  val eventAnomaliesSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day_num,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), stats AS (
      |  SELECT event_type, count(*) AS nd,
      |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
      |  FROM daily GROUP BY 1
      |), scored AS (
      |  SELECT d.event_type, d.day_num, d.n,
      |    CAST(s.s1 AS DOUBLE) / CAST(s.nd AS DOUBLE) AS mean,
      |    sqrt(CAST(s.nd * s.s2 - s.s1 * s.s1 AS DOUBLE)
      |      / CAST(s.nd * s.nd AS DOUBLE)) AS sigma
      |  FROM daily d JOIN stats s ON d.event_type = s.event_type
      |)
      |SELECT event_type, day_num, n,
      |  CAST(CAST(round((CAST(n AS DOUBLE) - mean) / sigma, 4)
      |    AS DECIMAL(14,4)) AS DOUBLE) AS z
      |FROM scored
      |WHERE sigma > 0.0 AND abs(CAST(n AS DOUBLE) - mean) > 2.0 * sigma""".stripMargin

  // ---- #34s per-customer lifetime rollup ---------------------------------
  /** The customer-lifetime-value rollup: first/last order day, order count,
    * exact decimal revenue per customer — the profile table a CRM/feature
    * store refreshes nightly. One customer-keyed aggregation with map-side
    * partials; day numbers in exact integers; revenue via the §6 decimal
    * narrow-then-double policy. */
  def customerLifetime(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "orders")
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"),
        e4(col("o_totalprice")).as("price4"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("day_num")).as("first_day"),
        max(col("day_num")).as("last_day"),
        Int128Sum.sumLongs(col("price4"), 4)
          .cast("decimal(18,4)").cast("double").as("revenue"))
  val customerLifetimeSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(min(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |    AS BIGINT) AS first_day,
      |  CAST(max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |    AS BIGINT) AS last_day,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
      |    AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1""".stripMargin

  // ---- #34x RFM customer segmentation ------------------------------------
  /** The classic marketing-analytics rollup: per customer, Recency (days
    * since last order, relative to the corpus's latest order), Frequency
    * (order count) and Monetary (exact revenue in e4 fixed point), each
    * scored 1–3 against corpus-wide tertiles, composed into the familiar
    * three-digit RFM segment. Plan: one orders scan rolls up per customer
    * (map-side partials on the custkey agg); the corpus max-day and the
    * six tertile thresholds are 1-row aggregates that crossJoin back as
    * UNCONDITIONED broadcasts (projection-only CASE scoring — nothing for
    * Catalyst to pull into a join condition); thresholds are exact
    * percentiles over integers pinned to DECIMAL(18,4)→DOUBLE on both
    * engines (the perplexity_buckets discipline; a 100 TB run swaps in
    * approx_percentile, same shape). */
  val RfmLoPct = 0.33
  val RfmHiPct = 0.67
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val base = Corpus.table(spark, dir, "orders")
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"),
        e4(col("o_totalprice")).as("price4"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("frequency"),
        max(col("day_num")).as("last_day"),
        (Int128Sum.sumLongs(col("price4"), 4).cast("decimal(18,4)")
          * lit(10000)).cast("long").as("monetary_e4"))
    val scored = base
      .crossJoin(broadcast(base.agg(max(col("last_day")).as("maxd"))))
      .select(col("o_custkey"), (col("maxd") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_e4"))
    def pct(c: String, p: Double, as: String) =
      expr(s"percentile($c, $p)").cast("decimal(18,4)").cast("double").as(as)
    val thr = scored.agg(
      pct("recency_days", RfmLoPct, "r1"), pct("recency_days", RfmHiPct, "r2"),
      pct("frequency", RfmLoPct, "f1"), pct("frequency", RfmHiPct, "f2"),
      pct("monetary_e4", RfmLoPct, "m1"), pct("monetary_e4", RfmHiPct, "m2"))
    // recency: LOW is good (3); frequency/monetary: HIGH is good (3)
    def asc3(c: org.apache.spark.sql.Column, t1: org.apache.spark.sql.Column, t2: org.apache.spark.sql.Column) =
      when(c <= t1, 3L).when(c <= t2, 2L).otherwise(1L)
    def desc3(c: org.apache.spark.sql.Column, t1: org.apache.spark.sql.Column, t2: org.apache.spark.sql.Column) =
      when(c <= t1, 1L).when(c <= t2, 2L).otherwise(3L)
    scored.crossJoin(broadcast(thr))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_e4"),
        asc3(col("recency_days"), col("r1"), col("r2")).as("r_score"),
        desc3(col("frequency"), col("f1"), col("f2")).as("f_score"),
        desc3(col("monetary_e4"), col("m1"), col("m2")).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
  }
  val rfmSegmentsSql: String =
    s"""WITH base AS (
       |  SELECT o_custkey, count(*) AS frequency,
       |    max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
       |      AS last_day,
       |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4))
       |      * 10000 AS BIGINT) AS monetary_e4
       |  FROM orders GROUP BY 1
       |), scored AS MATERIALIZED (
       |  SELECT o_custkey,
       |    CAST((SELECT max(last_day) FROM base) - last_day AS BIGINT)
       |      AS recency_days,
       |    frequency, monetary_e4
       |  FROM base
       |), thr AS (
       |  SELECT
       |    CAST(CAST(quantile_cont(recency_days, $RfmLoPct) AS DECIMAL(18,4)) AS DOUBLE) AS r1,
       |    CAST(CAST(quantile_cont(recency_days, $RfmHiPct) AS DECIMAL(18,4)) AS DOUBLE) AS r2,
       |    CAST(CAST(quantile_cont(frequency, $RfmLoPct) AS DECIMAL(18,4)) AS DOUBLE) AS f1,
       |    CAST(CAST(quantile_cont(frequency, $RfmHiPct) AS DECIMAL(18,4)) AS DOUBLE) AS f2,
       |    CAST(CAST(quantile_cont(monetary_e4, $RfmLoPct) AS DECIMAL(18,4)) AS DOUBLE) AS m1,
       |    CAST(CAST(quantile_cont(monetary_e4, $RfmHiPct) AS DECIMAL(18,4)) AS DOUBLE) AS m2
       |  FROM scored
       |)
       |SELECT o_custkey, recency_days, frequency, monetary_e4,
       |  r_score, f_score, m_score,
       |  r_score * 100 + f_score * 10 + m_score AS rfm
       |FROM (
       |  SELECT s.*,
       |    CAST(CASE WHEN recency_days <= r1 THEN 3
       |              WHEN recency_days <= r2 THEN 2 ELSE 1 END AS BIGINT) AS r_score,
       |    CAST(CASE WHEN frequency <= f1 THEN 1
       |              WHEN frequency <= f2 THEN 2 ELSE 3 END AS BIGINT) AS f_score,
       |    CAST(CASE WHEN monetary_e4 <= m1 THEN 1
       |              WHEN monetary_e4 <= m2 THEN 2 ELSE 3 END AS BIGINT) AS m_score
       |  FROM scored s, thr)""".stripMargin

  // ---- #34q shipping priority (TPC-H Q3 shape) ---------------------------
  /** The classic segment-filtered two-fact top-N: revenue of not-yet-shipped
    * lineitems for BUILDING-segment customers' pre-cutoff orders, top 10
    * orders by revenue. Scale shape: both date filters push to the fact
    * scans (PushedFilters), the segment-filtered customer key list
    * broadcasts, the only real shuffle is lineitem⇄orders on orderkey, and
    * the top-10 is TakeOrderedAndProject on the EXACT decimal revenue
    * (rank before the double cast, so ordering never depends on float
    * rounding) with rank recovery inside one array. */
  val ShipCutoff = "1996-01-01"
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit(ShipCutoff).cast("date")
    val c = Corpus.table(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Corpus.table(spark, dir, "orders")
      .where(to_date(col("o_orderdate")) < cut)
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Corpus.table(spark, dir, "lineitem")
      .where(to_date(col("l_shipdate")) > cut)
      .select(col("l_orderkey"), revPartE8)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sumRevPart.cast("decimal(18,4)").as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("l_orderkey")).limit(10)
      .select(struct(negate(col("rev_dec")).as("nr"),
        col("l_orderkey").as("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority").as("o_orderpriority"),
        col("rev_dec").cast("double").as("revenue")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.l_orderkey").as("l_orderkey"), col("s.revenue").as("revenue"),
        col("s.o_date").as("o_date"),
        col("s.o_orderpriority").as("o_orderpriority"),
        (col("pos") + 1).cast("long").as("rk"))
  }
  val shippingPrioritySql: String =
    s"""WITH agg AS (
       |  SELECT l_orderkey,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
       |      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
       |      AS DECIMAL(18,4)) AS rev_dec,
       |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
       |    o_orderpriority
       |  FROM customer, orders, lineitem
       |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
       |    AND l_orderkey = o_orderkey
       |    AND CAST(o_orderdate AS DATE) < DATE '$ShipCutoff'
       |    AND CAST(l_shipdate AS DATE) > DATE '$ShipCutoff'
       |  GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |), ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rev_dec DESC, l_orderkey)
       |    AS BIGINT) AS rk
       |  FROM agg
       |)
       |SELECT l_orderkey, CAST(rev_dec AS DOUBLE) AS revenue, o_date,
       |  o_orderpriority, rk
       |FROM ranked WHERE rk <= 10""".stripMargin

  // ---- #34w market-basket co-purchase pairs ------------------------------
  /** Which parts ship together — the classic market-basket pair census:
    * distinct parts per order self-joined WITHIN the order key, top
    * [[CopurchaseTopN]] pairs by support. The pair explosion is bounded by
    * (lines per order)² — a per-group quadratic on a SMALL group (≈4
    * lines/order at every scale), which is the one place quadratic is
    * fine; the join keys on orderkey, so it's ONE co-partitioned shuffle,
    * and an adversarial mega-order is capped by the same discipline as
    * LSH buckets (orders with > [[CopurchaseMaxLines]] distinct parts are
    * dropped — a retail order with hundreds of lines is a data bug, and
    * the cap is the audit hook). Top-N via TakeOrderedAndProject + rank
    * recovery. */
  val CopurchaseTopN = 20
  val CopurchaseMaxLines = 64
  def partsCopurchase(spark: SparkSession, dir: String): DataFrame =
    // ONE lineitem scan and ONE order-keyed exchange on first touch (r8;
    // the previous self-join formulation re-derived the distinct frame in
    // four branches → four scans, four exchanges, 3.2 s steady at sf0.1);
    // the pair-instance frame itself is session-cached and shared with the
    // triangle-census family ([[copurchasePairs]] — the cap/explode
    // disciplines are documented there), so steady-state invocations read
    // the materialized pairs and pay only the ≤|parts|²-key rollup.
    copurchasePairs(spark, dir)
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(CopurchaseTopN)
      .select(struct(negate(col("n_orders")).as("nn"),
        col("part_a").as("part_a"), col("part_b").as("part_b"),
        col("n_orders").as("n_orders")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.part_a").as("part_a"), col("s.part_b").as("part_b"),
        col("s.n_orders").as("n_orders"),
        (col("pos") + 1).cast("long").as("rk"))
  val partsCopurchaseSql: String =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), keep AS (
       |  SELECT l_orderkey FROM op GROUP BY 1
       |  HAVING count(*) BETWEEN 2 AND $CopurchaseMaxLines
       |), b AS (
       |  SELECT op.l_orderkey, op.l_partkey
       |  FROM op JOIN keep ON op.l_orderkey = keep.l_orderkey
       |), pairs AS (
       |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
       |    count(*) AS n_orders
       |  FROM b x JOIN b y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY n_orders DESC, part_a,
       |    part_b) AS BIGINT) AS rk
       |  FROM pairs
       |)
       |SELECT part_a, part_b, n_orders, rk
       |FROM ranked WHERE rk <= $CopurchaseTopN""".stripMargin

  // ---- #34v event-type transition matrix (first-order Markov) ------------
  /** What do users do NEXT — per-user consecutive event-type pairs rolled
    * into the first-order transition matrix with exact-bp row shares (the
    * empirical Markov kernel behind path analysis and next-action
    * models). One user-partitioned lead() window (the sessionize
    * partitioning — shuffle on user_id only), then a ≤|types|²-key rollup
    * plus a broadcast per-from-type total. Deterministic ordering ties on
    * (ts, event_id), the sessionize convention. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Corpus.table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).cast("long").as("total"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        graft.functions.TextFns.bp(col("n"), col("total")).as("share_bp"))
  }
  val eventTransitionsSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS to_type
       |  FROM events
       |), trans AS (
       |  SELECT event_type AS from_type, to_type, count(*) AS n
       |  FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), totals AS (
       |  SELECT from_type, CAST(sum(n) AS BIGINT) AS total
       |  FROM trans GROUP BY 1
       |)
       |SELECT tr.from_type, tr.to_type, tr.n,
       |  ${graft.functions.TextFns.sqlBp("tr.n", "t.total")} AS share_bp
       |FROM trans tr JOIN totals t ON tr.from_type = t.from_type""".stripMargin

  // ---- #34u hour-of-day seasonality profile ------------------------------
  /** The diurnal profile per event type: counts and exact-bp share by hour
    * of day — the seasonality baseline anomaly models normalize against
    * (and the input to load forecasting). One ≤24·|types|-key rollup with
    * map-side partials plus a broadcast per-type total; integer epoch
    * math (positive seconds, so % is engine-neutral). */
  def hourlySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Corpus.table(spark, dir, "events")
    val hourly = ev
      .select(col("event_type"),
        (org.apache.spark.sql.graft.ExactMath.intDiv(evSec(ev), lit(3600L)) % 24L)
          .as("hour_of_day"))
      .groupBy(col("event_type"), col("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val totals = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).cast("long").as("total"))
    hourly.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("hour_of_day"), col("n"),
        graft.functions.TextFns.bp(col("n"), col("total")).as("share_bp"))
  }
  val hourlySeasonalitySql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 24
       |      AS hour_of_day,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), totals AS (
       |  SELECT event_type, CAST(sum(n) AS BIGINT) AS total
       |  FROM hourly GROUP BY 1
       |)
       |SELECT h.event_type, h.hour_of_day, h.n,
       |  ${graft.functions.TextFns.sqlBp("h.n", "t.total")} AS share_bp
       |FROM hourly h JOIN totals t ON h.event_type = t.event_type""".stripMargin

  // ---- #31b session-distribution report ----------------------------------
  /** The rollup every sessionization feeds: how long are sessions, how many
    * events do they carry — histogrammed by integer log2 duration bucket
    * (the length_histogram convention: `length(bin(n))` is exact integer
    * math, no float near a bucket boundary). Composes the #31 sessionize
    * frame, then ONE ≤64-key aggregation; single-event sessions land in
    * bucket 0 (duration 0). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .select((col("end_epoch") - col("start_epoch")).as("dur_sec"),
        col("n_events"))
      .withColumn("dur_bucket",
        when(col("dur_sec") <= 0L, 0L)
          .otherwise(length(bin(col("dur_sec"))).cast("long")))
      .groupBy(col("dur_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"),
        max(col("dur_sec")).cast("long").as("max_dur_sec"))
  val sessionStatsSql: String =
    s"""WITH sess AS (
       |  ${sessionizeSql.linesIterator.mkString("\n  ")}
       |), d AS (
       |  SELECT end_epoch - start_epoch AS dur_sec, n_events FROM sess
       |)
       |SELECT CAST(CASE WHEN dur_sec <= 0 THEN 0
       |    ELSE length(bin(CAST(dur_sec AS BIGINT))) END AS BIGINT)
       |    AS dur_bucket,
       |  count(*) AS n_sessions,
       |  CAST(sum(n_events) AS BIGINT) AS n_events,
       |  CAST(max(dur_sec) AS BIGINT) AS max_dur_sec
       |FROM d GROUP BY 1""".stripMargin

  // ---- #34t calendar gap-filling (time-series densification) -------------
  /** The densified daily revenue series: every calendar day between the
    * first and last order, zero-filled where no orders landed — the
    * join-ready form every time-series consumer (forecaster, charting,
    * window ops) expects, and the shape that makes "days with no sales"
    * visible at all. The day spine generates from ONE 1-row min/max
    * aggregate (`sequence` + explode — calendar-bounded, never data-sized),
    * then LEFT joins the daily rollup; at 100 TB the spine is still just
    * the calendar. Exact integer day numbers and cents. */
  def dailyRevenueFilled(spark: SparkSession, dir: String): DataFrame = {
    val daily = Corpus.table(spark, dir, "orders")
      .select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"),
        round(col("o_totalprice") * 100.0).cast("long").as("cents"))
      .groupBy(col("day_num"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("day_cents"))
    val spine = daily
      .agg(min(col("day_num")).as("d0"), max(col("day_num")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day_num"))
    spine.join(daily, Seq("day_num"), "left")
      .select(col("day_num"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"))
  }
  val dailyRevenueFilledSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
      |    count(*) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
      |      AS day_cents
      |  FROM orders GROUP BY 1
      |), spine AS (
      |  SELECT CAST(g.d AS BIGINT) AS day_num
      |  FROM (SELECT min(day_num) AS d0, max(day_num) AS d1 FROM daily),
      |    unnest(range(d0, d1 + 1)) AS g(d)
      |)
      |SELECT s.day_num,
      |  CAST(coalesce(d.n_orders, 0) AS BIGINT) AS n_orders,
      |  CAST(coalesce(d.day_cents, 0) AS BIGINT) AS day_cents
      |FROM spine s LEFT JOIN daily d ON s.day_num = d.day_num""".stripMargin

  // ---- #34p fact reconciliation (full outer join audit) ------------------
  /** The ingestion-audit shape: do the order header and line-item feeds
    * agree? lineitem pre-aggregates to one row per orderkey BEFORE the
    * full outer join (the join input is bounded by |distinct orders|, not
    * |lines| — same discipline as customer_distribution), and the outer
    * join's null sides classify each key as matched / header-only /
    * lines-only, collapsed to a one-row census. Two key-bounded shuffles,
    * then a 3-value rollup. */
  def orderReconcile(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Corpus.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
    Corpus.table(spark, dir, "orders").select(col("o_orderkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .agg(
        sum(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull,
          1L).otherwise(0L)).as("n_matched"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
          .as("n_header_only"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
          .as("n_lines_only"))
  }
  val orderReconcileSql: String =
    """SELECT
      |  CAST(sum(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_header_only,
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_lines_only
      |FROM (SELECT o_orderkey FROM orders) o
      |FULL JOIN (SELECT l_orderkey, count(*) AS n_lines
      |  FROM lineitem GROUP BY 1) l
      |ON o.o_orderkey = l.l_orderkey""".stripMargin

  val dataProfileSql: String = {
    def numLeg(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM lineitem""".stripMargin
    def strLeg(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  min($c) AS min_str, max($c) AS max_str
         |FROM lineitem""".stripMargin
    (ProfileNumCols.map(numLeg) ++ ProfileStrCols.map(strLeg))
      .mkString("\nUNION ALL\n")
  }

  // ======================================================================
  // TPC-H classic shapes the engine had not yet exercised (§2 #34z family).
  // The reference engine has no relational surface at all (its only query
  // is the anagram pipeline, mapphase/map.go:60-151); these rows extend
  // the engine the way §2 #27-34 did, each picked for a DISTINCT plan
  // shape: a cyclic join constraint (Q5), a dual-role dimension (Q7), a
  // returned-flag top-N (Q10), a scalar-max subquery (Q15), a correlated
  // per-group average (Q17), a HAVING-semi into the detail (Q18), and an
  // anti-join under a global scalar (Q22). Decimal discipline per §6:
  // money math on DECIMAL(18,4), final column the lone double cast.
  // ======================================================================

  /** The decimal revenue term every TPC-H money rollup shares. */
  private def revPart =
    (col("l_extendedprice").cast("decimal(18,4)") *
      (lit(BigDecimal(1)).cast("decimal(18,4)") -
        col("l_discount").cast("decimal(18,4)"))).as("rev_part")
  private val RevPartSql =
    """CAST(l_extendedprice AS DECIMAL(18,4))
      |    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))""".stripMargin

  // r14 exact-money fast path (Int128Sum.scala; guide §1.2 step 2, §4):
  // the decimal spellings above pay a BigDecimal(Double.toString) per row
  // plus a wide-decimal sum buffer. These helpers compute the SAME exact
  // values — scale-4 unscaled longs per row, 128-bit-accumulator sum,
  // DECIMAL(38,s) out — so every trailing .cast("decimal(18,4)")
  // .cast("double") chain emits bit-identical doubles (gate-verified per
  // SF; see the equivalence argument in Int128Sum.scala). The oracle SQL
  // keeps the decimal formulation, so the hash compare is the proof.
  /** Scale-4 unscaled long of a 2-decimal money DOUBLE. */
  private def e4(c: org.apache.spark.sql.Column) = Int128Sum.unscaled(c, 4)
  /** Σ money as DECIMAL(38,4) — replaces sum(c.cast("decimal(18,4)")). */
  private def sumE4(c: org.apache.spark.sql.Column) = Int128Sum.fixedPoint(c, 4)
  /** [[revPart]] as a scale-8 unscaled long (identical product values). */
  private def revPartE8 =
    (e4(col("l_extendedprice")) * (lit(10000L) - e4(col("l_discount"))))
      .as("rev_part")
  /** Σ rev_part longs as DECIMAL(38,8) — replaces sum(col("rev_part")). */
  private def sumRevPart = Int128Sum.sumLongs(col("rev_part"), 8)

  // ---- #34z-a TPC-H Q5: local-supplier volume ----------------------------
  /** Revenue per nation where the ordering customer and the line's supplier
    * share that nation (the Q5 cycle), region- and order-year-filtered.
    * Scale shape: the date filter pushes to the orders scan; orders⋈customer
    * shuffles on custkey (customer is NOT force-broadcast — at warehouse
    * scale it is a fact in its own right, and AQE may still pick a
    * broadcast at toy SFs); lineitem⋈orders shuffles on orderkey; supplier,
    * nation and region are true dimension broadcasts; the cycle closes as a
    * post-join filter (c_nationkey = s_nationkey) that Catalyst evaluates
    * before the dimension join. */
  val Q5Region = "ASIA"
  val Q5YearStart = "1996-01-01"
  val Q5YearEnd = "1997-01-01"
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val nations = broadcast(
      Corpus.table(spark, dir, "nation")
        .join(broadcast(Corpus.table(spark, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === Q5Region)
        .select(col("n_nationkey"), col("n_name")))
    val supp = broadcast(Corpus.table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey")))
    val ordCust = Corpus.table(spark, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit(Q5YearStart).cast("date") &&
        to_date(col("o_orderdate")) < lit(Q5YearEnd).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Corpus.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    Corpus.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), revPartE8)
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ordCust, col("l_orderkey") === col("o_orderkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .join(nations, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sumRevPart.cast("decimal(18,4)").cast("double")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  val localSupplierVolumeSql: String =
    s"""SELECT n_name,
       |  CAST(CAST(sum($RevPartSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       |  count(*) AS n_lines
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = '$Q5Region'
       |  AND CAST(o_orderdate AS DATE) >= DATE '$Q5YearStart'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q5YearEnd'
       |GROUP BY 1""".stripMargin

  // ---- #34z-b TPC-H Q7 generalized: nation trade flows -------------------
  /** The bilateral trade matrix: revenue by (supplier nation, customer
    * nation, ship year) for every cross-nation pair — Q7's dual-role
    * dimension (nation joined once through supplier, once through
    * customer) without Q7's two-nation pin, so the row is non-vacuous at
    * every SF. Output is bounded by |nations|² × years. Scale shape: the
    * only fact⇄fact exchanges are lineitem⋈orders (orderkey) and
    * orders⋈customer (custkey); both nation maps ride broadcasts. */
  def nationTradeFlows(spark: SparkSession, dir: String): DataFrame = {
    val supN = broadcast(Corpus.table(spark, dir, "supplier")
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val custN = Corpus.table(spark, dir, "customer")
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Corpus.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Corpus.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(to_date(col("l_shipdate"))).cast("long").as("ship_year"),
        revPartE8)
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(
        sumRevPart.cast("decimal(18,4)").cast("double")
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  val nationTradeFlowsSql: String =
    s"""SELECT supp.n_name AS supp_nation, cust.n_name AS cust_nation,
       |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
       |  CAST(CAST(sum($RevPartSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       |  count(*) AS n_lines
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation supp ON s_nationkey = supp.n_nationkey
       |JOIN nation cust ON c_nationkey = cust.n_nationkey
       |WHERE supp.n_name <> cust.n_name
       |GROUP BY 1, 2, 3""".stripMargin

  // ---- #34z-c TPC-H Q10: returned-item customer ranking ------------------
  /** Top [[ReturnedTopN]] customers by revenue lost to returns
    * (l_returnflag = 'R') among one order-quarter — the classic churn
    * report. Scale shape: both filters push to their scans, the quarter's
    * order keys shuffle against the returned lines on orderkey, the top-N
    * runs on the EXACT decimal revenue via TakeOrderedAndProject with
    * rank recovery inside one array (the shipping_priority pattern), and
    * the customer/nation names join onto the 20 surviving rows only. */
  val ReturnedTopN = 20
  val Q10QuarterStart = "1996-01-01"
  val Q10QuarterEnd = "1996-04-01"
  def returnedItemRanking(spark: SparkSession, dir: String): DataFrame = {
    val o = Corpus.table(spark, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit(Q10QuarterStart).cast("date") &&
        to_date(col("o_orderdate")) < lit(Q10QuarterEnd).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    val top = Corpus.table(spark, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revPartE8)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sumRevPart.cast("decimal(18,4)").as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("o_custkey")).limit(ReturnedTopN)
      .select(struct(negate(col("rev_dec")).as("nr"),
        col("o_custkey").as("o_custkey"),
        col("rev_dec").cast("double").as("revenue")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select(col("s.o_custkey").as("o_custkey"),
        col("s.revenue").as("revenue"),
        (col("pos") + 1).cast("long").as("rk"))
    top
      .join(broadcast(Corpus.table(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue"), col("rk"))
  }
  val returnedItemRankingSql: String =
    s"""WITH agg AS (
       |  SELECT o_custkey,
       |    CAST(sum($RevPartSql) AS DECIMAL(18,4)) AS rev_dec
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |    AND CAST(o_orderdate AS DATE) >= DATE '$Q10QuarterStart'
       |    AND CAST(o_orderdate AS DATE) < DATE '$Q10QuarterEnd'
       |  GROUP BY 1
       |), ranked AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY rev_dec DESC, o_custkey)
       |    AS BIGINT) AS rk
       |  FROM agg
       |)
       |SELECT c_custkey, c_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue, rk
       |FROM ranked
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE rk <= $ReturnedTopN""".stripMargin

  // ---- #34z-d TPC-H Q15: top supplier via scalar-max subquery ------------
  /** The supplier(s) whose quarter revenue equals the global maximum — the
    * scalar-subquery shape. Scale shape: ONE lineitem scan (date filter
    * pushed) → suppkey-keyed partial+final agg; the global max is a 1-row
    * aggregate broadcast back over the per-supplier frame (the
    * domain_reweight totals pattern — a conditioned BNLJ against a 1-row
    * build is the audited-tiny exception PlanLintSpec allowlists); the
    * supplier name joins onto the surviving row(s) only. Ties all
    * surface — same semantics as Q15's revenue-view equality. */
  val Q15QuarterStart = "1996-01-01"
  val Q15QuarterEnd = "1996-04-01"
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Corpus.table(spark, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit(Q15QuarterStart).cast("date") &&
        to_date(col("l_shipdate")) < lit(Q15QuarterEnd).cast("date"))
      .select(col("l_suppkey"), revPartE8)
      .groupBy(col("l_suppkey"))
      .agg(sumRevPart.cast("decimal(18,4)").as("rev_dec"))
    val mx = rev.agg(max(col("rev_dec")).as("max_rev"))
    rev.join(broadcast(mx), col("rev_dec") === col("max_rev"))
      .join(broadcast(Corpus.table(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("revenue"))
  }
  val topSupplierSql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    CAST(sum($RevPartSql) AS DECIMAL(18,4)) AS rev_dec
       |  FROM lineitem
       |  WHERE CAST(l_shipdate AS DATE) >= DATE '$Q15QuarterStart'
       |    AND CAST(l_shipdate AS DATE) < DATE '$Q15QuarterEnd'
       |  GROUP BY 1
       |)
       |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)""".stripMargin

  // ---- #34z-e TPC-H Q17: small-quantity-order revenue by brand -----------
  /** Revenue sitting in lines whose quantity is below 20% of their part's
    * average order quantity, rolled up per brand — Q17's correlated
    * per-group average, generalized from Q17's single-brand pin so the row
    * is non-vacuous at every SF. Exactness: the 20%-of-average test runs as
    * an EXACT cross-multiplication (qty × 5 × n < Σqty on DECIMAL), so no
    * engine ever divides. Scale shape: part (brand map) broadcasts; the
    * per-part average and the probe re-join co-partition on l_partkey
    * (one exchange, reused); no window, no sort. */
  def smallQtyParts(spark: SparkSession, dir: String): DataFrame = {
    // fixed-point twin of the decimal spelling: the 20%-of-average test
    // compares same-scale unscaled values, so the integer comparison is
    // the decimal comparison. qty4·5·n_part_lines stays in Long to ~1.8e13
    // lines per part — a single part cannot reach that below 2^63 total
    // rows (and sum_qty's per-part Long bound is the same argument).
    val pl = Corpus.table(spark, dir, "lineitem")
      .join(broadcast(Corpus.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_brand"),
        e4(col("l_quantity")).as("qty4"),
        e4(col("l_extendedprice")).as("price4"))
    val perPart = pl.groupBy(col("l_partkey").as("pp_partkey"))
      .agg(sum(col("qty4")).as("sum_qty4"),
        count(lit(1)).as("n_part_lines"))
    pl.join(perPart, col("l_partkey") === col("pp_partkey"))
      .where(col("qty4") * lit(5L) * col("n_part_lines") < col("sum_qty4"))
      .groupBy(col("p_brand"))
      .agg(
        Int128Sum.sumLongs(col("price4"), 4)
          .cast("decimal(18,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  val smallQtyPartsSql: String =
    """WITH pl AS (
      |  SELECT l_partkey, p_brand,
      |    CAST(l_quantity AS DECIMAL(18,4)) AS qty_dec,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) AS price_dec
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), per_part AS (
      |  SELECT l_partkey AS pp_partkey,
      |    CAST(sum(qty_dec) AS DECIMAL(28,4)) AS sum_qty,
      |    count(*) AS n_part_lines
      |  FROM pl GROUP BY 1
      |)
      |SELECT p_brand,
      |  CAST(CAST(sum(price_dec) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM pl JOIN per_part ON l_partkey = pp_partkey
      |WHERE qty_dec * 5 * n_part_lines < sum_qty
      |GROUP BY 1""".stripMargin

  // ---- #34z-f TPC-H Q18: large-volume customers --------------------------
  /** Orders whose total line quantity exceeds [[LargeOrderMinQty]], with
    * their customer — Q18's HAVING-semi into the detail. No top-N pin:
    * the qualifying set IS the report (it stays rare by construction —
    * the threshold sits in the far tail of the per-order quantity
    * distribution at every SF), so there is no global sort at all. Scale
    * shape: ONE lineitem agg on orderkey, the surviving keys semi-join
    * orders on the same key, customer names ride a broadcast. */
  val LargeOrderMinQty = 300
  def largeVolumeCustomers(spark: SparkSession, dir: String): DataFrame = {
    val big = Corpus.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sumE4(col("l_quantity"))
        .cast("decimal(18,4)").as("qty_dec"))
      .where(col("qty_dec") > lit(LargeOrderMinQty))
    big
      .join(Corpus.table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Corpus.table(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"),
        col("qty_dec").cast("double").as("total_qty"))
  }
  val largeVolumeCustomersSql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4))
       |      AS qty_dec
       |  FROM lineitem GROUP BY 1
       |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4))
       |    > $LargeOrderMinQty
       |)
       |SELECT c_custkey, c_name, o_orderkey,
       |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
       |  o_totalprice, CAST(qty_dec AS DOUBLE) AS total_qty
       |FROM big
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ---- #34y-a key-skew diagnostics ---------------------------------------
  /** The shuffle-planning report behind `Scale.saltedJoin`/`saltedAgg`:
    * for each candidate shuffle key of the events stream (user_id,
    * event_type), the per-key count distribution — total rows, distinct
    * keys, hottest-key count, mean occupancy and max/mean skew in exact
    * bp, how many keys run >2× mean, and the salt factor that would level
    * the hottest key back to mean occupancy (pinned: 1 when skew ≤
    * [[SkewAlertBp]], else ceil(skew_bp/10⁴) capped at [[SkewSaltCap]] —
    * derived from skew_bp so both engines compute the identical integer).
    *
    * Scale shape: ONE groupBy per key leg (the only fact-sized exchange),
    * localCheckpointed so the totals pass and the hot-key census re-read
    * the counts frame instead of re-scanning the fact; the 1-row totals
    * attach as an UNCONDITIONED broadcast with every comparison in the
    * projection (the rfm_segments discipline — nothing for Catalyst to
    * pull into a join condition). Cross-multiplications ride DECIMAL(38,0)
    * ([[org.apache.spark.sql.graft.ExactMath.intDivWide]]) so cnt×n_keys
    * can't overflow Long at 100 TB. */
  val SkewAlertBp = 30000L
  val SkewSaltCap = 256L
  private val SkewKeys = Seq("user_id", "event_type")

  /** Per-key count frame for one leg, materialized once. */
  private def skewCounts(spark: SparkSession, dir: String, key: String) =
    Corpus.table(spark, dir, "events")
      .groupBy(col(key).cast("string").as("key_value"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()

  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.{intDiv, intDivWide}
    SkewKeys.map { key =>
      val counts = skewCounts(spark, dir, key)
      val totals = counts.agg(
        sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_count"))
      val hot = counts.crossJoin(broadcast(totals))
        .select(when(
          col("cnt").cast("decimal(38,0)") * col("n_keys")
            > lit(2) * col("n_rows").cast("decimal(38,0)"), 1L)
          .otherwise(0L).as("is_hot"),
          col("n_rows"), col("n_keys"), col("max_count"))
        .groupBy()
        .agg(max(col("n_rows")).as("n_rows"), max(col("n_keys")).as("n_keys"),
          max(col("max_count")).as("max_count"),
          sum(col("is_hot")).as("n_hot_keys"))
      // n_keys×10⁴ forms in Long before the wide cast: fine to ~9·10¹⁴
      // distinct keys — beyond any event stream this engine will shuffle
      val skewBp = intDivWide(col("max_count"),
        col("n_keys") * lit(10000L), col("n_rows"), lit(1L)).cast("long")
      hot.select(
        lit(key).as("key_col"), col("n_rows"), col("n_keys"),
        col("max_count"),
        intDivWide(col("n_rows"), lit(10000L), col("n_keys"), lit(1L))
          .cast("long").as("mean_x_bp"),
        skewBp.as("skew_bp"), col("n_hot_keys"))
        .withColumn("recommended_salt",
          when(col("skew_bp") <= SkewAlertBp, 1L)
            .otherwise(least(lit(SkewSaltCap),
              intDiv(col("skew_bp") + lit(9999L), lit(10000L)))))
    }.reduce(_.unionAll(_))
  }
  val skewReportSql: String = {
    // plain-BIGINT `//` here (floors, matching Spark's truncation on
    // these non-negative values): oracle-SF values fit Long; DuckDB's
    // `//` on DECIMAL would ROUND, so the wide casts stay Spark-side only
    def leg(key: String) =
      s"""SELECT '$key' AS key_col, n_rows, n_keys, max_count,
         |  (n_rows * 10000) // n_keys AS mean_x_bp,
         |  (max_count * n_keys * 10000) // n_rows AS skew_bp,
         |  n_hot_keys
         |FROM (
         |  SELECT CAST(max(n_rows) AS BIGINT) AS n_rows,
         |    max(n_keys) AS n_keys, max(max_count) AS max_count,
         |    CAST(sum(CASE WHEN cnt * n_keys > 2 * n_rows
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
         |  FROM (SELECT CAST($key AS VARCHAR) AS key_value, count(*) AS cnt
         |        FROM events GROUP BY 1) c,
         |    (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         |       count(*) AS n_keys, max(cnt) AS max_count
         |     FROM (SELECT count(*) AS cnt FROM events GROUP BY $key)) t
         |)""".stripMargin
    s"""SELECT key_col, n_rows, n_keys, max_count, mean_x_bp, skew_bp,
       |  n_hot_keys,
       |  CASE WHEN skew_bp <= $SkewAlertBp THEN CAST(1 AS BIGINT)
       |    ELSE least($SkewSaltCap, (skew_bp + 9999) // 10000) END
       |    AS recommended_salt
       |FROM (${SkewKeys.map(leg).mkString("\nUNION ALL\n")})""".stripMargin
  }

  // ---- #34y-b hottest shuffle keys ----------------------------------------
  /** Top [[HotKeysTopN]] keys per leg by occupancy with exact-bp share —
    * the companion drill-down naming WHICH keys need the salt. Per-leg
    * top-N is TakeOrderedAndProject on the materialized counts frame
    * (never a window over all keys) with in-array rank recovery; the
    * 1-row total attaches unconditioned for the share. */
  val HotKeysTopN = 5
  def hotKeys(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.bp
    SkewKeys.map { key =>
      val counts = skewCounts(spark, dir, key)
      val total = counts.agg(sum(col("cnt")).cast("long").as("n_rows"))
      counts
        .orderBy(col("cnt").desc, col("key_value")).limit(HotKeysTopN)
        .select(struct(negate(col("cnt")).as("nc"),
          col("key_value").as("key_value"), col("cnt").as("cnt")).as("s"))
        .agg(array_sort(collect_list(col("s"))).as("arr"))
        .select(posexplode(col("arr")).as(Seq("pos", "s")))
        .crossJoin(broadcast(total))
        .select(lit(key).as("key_col"), col("s.key_value").as("key_value"),
          col("s.cnt").as("cnt"), bp(col("s.cnt"), col("n_rows")).as("share_bp"),
          (col("pos") + 1).cast("long").as("rk"))
    }.reduce(_.unionAll(_))
  }
  val hotKeysSql: String = {
    def leg(key: String) =
      s"""SELECT '$key' AS key_col, key_value, cnt,
         |  ${graft.functions.TextFns.sqlBp("cnt",
               "(SELECT count(*) FROM events)")} AS share_bp,
         |  rk
         |FROM (
         |  SELECT key_value, cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, key_value)
         |      AS BIGINT) AS rk
         |  FROM (SELECT CAST($key AS VARCHAR) AS key_value, count(*) AS cnt
         |        FROM events GROUP BY 1)
         |) WHERE rk <= $HotKeysTopN""".stripMargin
    SkewKeys.map(leg).mkString("\nUNION ALL\n")
  }

  // ---- #34z-h TPC-H Q19 shape: disjunctive-predicate revenue -------------
  /** Revenue under a DISJUNCTION of (brand, quantity-band) conditions —
    * Q19's plan lesson: the OR spans join-side columns, so it can only
    * evaluate post-join (no single-side pushdown exists for the
    * disjunction itself); what DOES push is the brand IN-list to the part
    * scan. One broadcast join, one brand rollup; per-band counts surface
    * so a consumer can see which arm fired. */
  val Q19Bands: Seq[(String, Int, Int)] =
    Seq(("Brand#1", 1, 11), ("Brand#2", 10, 20), ("Brand#3", 20, 30))
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val arm = Q19Bands.map { case (b, lo, hi) =>
      col("p_brand") === b &&
        col("l_quantity") >= lo.toDouble && col("l_quantity") <= hi.toDouble
    }.reduce(_ || _)
    Corpus.table(spark, dir, "lineitem")
      .join(broadcast(Corpus.table(spark, dir, "part")
        .where(col("p_brand").isin(Q19Bands.map(_._1): _*))
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .where(arm)
      .withColumn("rev_part", revPartE8)
      .groupBy(col("p_brand"))
      .agg(
        sumRevPart
          .cast("decimal(18,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  val disjunctiveRevenueSql: String = {
    val arms = Q19Bands.map { case (b, lo, hi) =>
      s"(p_brand = '$b' AND l_quantity >= $lo AND l_quantity <= $hi)"
    }.mkString("(", " OR ", ")")
    val inList = Q19Bands.map(b => s"'${b._1}'").mkString(", ")
    s"""SELECT p_brand,
       |  CAST(CAST(sum($RevPartSql) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       |  count(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand IN ($inList) AND $arms
       |GROUP BY 1""".stripMargin
  }

  // ---- #34z-i TPC-H Q16 shape: supplier diversity with exclusion ---------
  /** Distinct suppliers actually shipping each part type, EXCLUDING a
    * supplier denylist (Q16's NOT-IN) — the anti-join + distinct-count
    * shape. The denylist (name-pattern audit) is dimension-sized and
    * anti-joins as a broadcast; the distinct runs on (p_type, suppkey)
    * with map-side partials. */
  val Q16ExcludeNameLike = "%7%"
  def partSupplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val excluded = Corpus.table(spark, dir, "supplier")
      .where(col("s_name").like(Q16ExcludeNameLike))
      .select(col("s_suppkey"))
    Corpus.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(Corpus.table(spark, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lines"))
  }
  val partSupplierDiversitySql: String =
    s"""SELECT p_type,
       |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
       |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       |  count(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_suppkey NOT IN (
       |  SELECT s_suppkey FROM supplier WHERE s_name LIKE '$Q16ExcludeNameLike')
       |GROUP BY 1""".stripMargin

  // ---- #34y-c state intervals (gaps-and-islands / SCD2 builder) ----------
  /** Collapse each user's event stream into VALIDITY INTERVALS of the
    * consecutive-equal event_type runs — the gaps-and-islands collapse
    * that builds a type-2 slowly-changing dimension from a change log
    * (effective-from/to per state, run ordinal for the "current row"
    * lookup). Scale shape: identical to [[sessionize]] — ONE user_id
    * exchange, lag + running-sum windows partitioned per user (never
    * corpus-wide), then a (user, run) agg on the SAME partitioning.
    * Deterministic (ts, event_id) ordering; second-precision epochs. */
  def stateIntervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val raw = Corpus.table(spark, dir, "events")
    raw
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), evSec(raw).as("sec"))
      .withColumn("is_new",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_ix", sum(col("is_new")).over(wRun))
      .groupBy(col("user_id"), col("run_ix"))
      .agg(min(col("event_type")).as("event_type"), // constant in the run
        min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("run_ix"), col("event_type"),
        col("start_sec"), col("end_sec"), col("n_events"))
  }
  val stateIntervalsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      |  FROM events
      |), flagged AS (
      |  SELECT *,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), runs AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_ix
      |  FROM flagged
      |)
      |SELECT user_id, CAST(run_ix AS BIGINT) AS run_ix,
      |  min(event_type) AS event_type,
      |  min(sec) AS start_sec, max(sec) AS end_sec,
      |  count(*) AS n_events
      |FROM runs GROUP BY user_id, run_ix""".stripMargin

  // ---- #34z-g TPC-H Q22 shape: dormant high-balance customers ------------
  /** Per-nation census of customers whose account balance beats the global
    * average yet who placed NO order since [[DormantCutoff]] — Q22's
    * anti-join under a global scalar (its phone-prefix grouping swapped
    * for nation, which this schema has). Exactness: the above-average test
    * cross-multiplies (bal × n > Σbal on DECIMAL) so no engine divides.
    * Scale shape: the cutoff filter pushes to the orders scan and the
    * distinct active-customer keys anti-join on custkey; the global
    * (Σbal, n) is a 1-row broadcast (the PlanLintSpec-allowlisted tiny
    * BNLJ); nation names ride a broadcast. */
  val DormantCutoff = "2000-01-01"
  def dormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Corpus.table(spark, dir, "customer")
    val totals = cust.agg(
      sum(col("c_acctbal").cast("decimal(18,4)")).cast("decimal(28,4)")
        .as("sum_bal"),
      count(lit(1)).as("n_cust"))
    val active = Corpus.table(spark, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit(DormantCutoff).cast("date"))
      .select(col("o_custkey")).distinct()
    cust
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(totals))
      .where(col("c_acctbal").cast("decimal(18,4)") * col("n_cust")
        > col("sum_bal"))
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_dormant"),
        sum(col("c_acctbal").cast("decimal(18,4)"))
          .cast("decimal(18,4)").cast("double").as("total_bal"))
  }
  val dormantCustomersSql: String =
    s"""WITH tot AS (
       |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(28,4))
       |      AS sum_bal,
       |    count(*) AS n_cust
       |  FROM customer
       |), active AS (
       |  SELECT DISTINCT o_custkey FROM orders
       |  WHERE CAST(o_orderdate AS DATE) >= DATE '$DormantCutoff'
       |)
       |SELECT n_name, count(*) AS n_dormant,
       |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4))
       |    AS DOUBLE) AS total_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey, tot
       |WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n_cust > sum_bal
       |  AND c_custkey NOT IN (SELECT o_custkey FROM active)
       |GROUP BY 1""".stripMargin

  // ---- #34z-j TPC-H Q6: forecast revenue change --------------------------
  /** Revenue that would vanish if one year's mid-band discounts had not
    * been given — Q6 verbatim (the schema carries every column it needs):
    * one filtered scan, one global sum, NO join and NO shuffle beyond the
    * final 1-row agg merge. The plan lesson Q6 exists to teach: all four
    * predicates push to the parquet scan (date + both discount bounds +
    * quantity), so at 100 TB the stage reads only row groups whose min/max
    * straddle the window. Money on exact decimals: price(2dp)×disc(2dp)
    * has exactly 4 decimals, so the (18,4) casts lose nothing. */
  val Q6YearStart = "1996-01-01"
  val Q6YearEnd = "1997-01-01"
  val Q6DiscLo = 0.05
  val Q6DiscHi = 0.07
  val Q6MaxQty = 24
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Corpus.table(spark, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit(Q6YearStart).cast("date") &&
        to_date(col("l_shipdate")) < lit(Q6YearEnd).cast("date") &&
        col("l_discount") >= Q6DiscLo && col("l_discount") <= Q6DiscHi &&
        col("l_quantity") < Q6MaxQty)
      .agg(
        // price(2dp)·disc(2dp) has exactly 4 decimals, so the scale-8 long
        // product's one-shot rescale to (18,4) is lossless — identical to
        // the decimal spelling's per-row (18,4) narrow (comment above)
        Int128Sum.sumLongs(e4(col("l_extendedprice")) * e4(col("l_discount")), 8)
          .cast("decimal(18,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  val forecastRevenueSql: String =
    s"""SELECT
       |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
       |      * CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(18,4)))
       |    AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       |  count(*) AS n_lines
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) >= DATE '$Q6YearStart'
       |  AND CAST(l_shipdate AS DATE) < DATE '$Q6YearEnd'
       |  AND l_discount >= $Q6DiscLo AND l_discount <= $Q6DiscHi
       |  AND l_quantity < $Q6MaxQty""".stripMargin

  // ---- #34z-k TPC-H Q2 shape: minimum-cost supplier ----------------------
  /** For each part in a size/type slice, the in-region supplier(s) whose
    * best observed unit price hits the per-part minimum — Q2's correlated
    * scalar-min re-expressed over the schema at hand: with no partsupp
    * table the OFFER BOOK is lineitem itself, unit price = extendedprice /
    * quantity in exact 1e-4 dollars (cents×100 integer-divided by the
    * whole-number quantity — bit-identical in both engines, no double
    * division anywhere). Scale shape: the part slice and the in-region
    * supplier roster are dimension broadcasts that turn the fact scan into
    * its own filter (runtime row-group skipping via DPP/runtime filters);
    * ONE composite-key agg builds the per-(part,supplier) best offer; the
    * per-part minimum is a ≤|slice| frame that re-attaches as a broadcast,
    * so the correlated subquery costs one small hash join — never a
    * re-scan. */
  val Q2MaxSize = 10
  val Q2Type = "STANDARD"
  val Q2Region = "EUROPE"
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDiv
    val parts = broadcast(Corpus.table(spark, dir, "part")
      .where(col("p_size") <= Q2MaxSize && col("p_type") === Q2Type)
      .select(col("p_partkey"), col("p_name")))
    val supp = broadcast(Corpus.table(spark, dir, "supplier")
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Corpus.table(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === Q2Region)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name")))
    val perPS = Corpus.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        intDiv(round(col("l_extendedprice") * 100.0).cast("long") * 100L,
          col("l_quantity").cast("long")).as("unit_e4"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(col("unit_e4")).as("unit_e4"))
      // referenced twice (probe side + per-part minima): checkpoint the
      // ≤|slice|×|roster| offer frame so the fact is scanned ONCE
      .localCheckpoint()
    val minPer = perPS.groupBy(col("p_partkey").as("mp_partkey"))
      .agg(min(col("unit_e4")).as("min_e4"))
    perPS.join(broadcast(minPer),
      col("p_partkey") === col("mp_partkey") &&
        col("unit_e4") === col("min_e4"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"), col("unit_e4"))
  }
  val minCostSupplierSql: String =
    s"""WITH parts AS (
       |  SELECT p_partkey, p_name FROM part
       |  WHERE p_size <= $Q2MaxSize AND p_type = '$Q2Type'
       |), supp AS (
       |  SELECT s_suppkey, s_name, s_acctbal, n_name
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = '$Q2Region'
       |), per_ps AS (
       |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
       |    min(CAST(round(l_extendedprice * 100) AS BIGINT) * 100
       |      // CAST(l_quantity AS BIGINT)) AS unit_e4
       |  FROM lineitem
       |  JOIN parts ON l_partkey = p_partkey
       |  JOIN supp ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2, 3, 4, 5, 6
       |), min_per AS (
       |  SELECT p_partkey AS mp_partkey, min(unit_e4) AS min_e4
       |  FROM per_ps GROUP BY 1
       |)
       |SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
       |  unit_e4
       |FROM per_ps JOIN min_per
       |  ON p_partkey = mp_partkey AND unit_e4 = min_e4""".stripMargin

  // ---- #34z-l TPC-H Q8: national market share ----------------------------
  /** Per order-year: the share (exact bp) of one nation's suppliers in the
    * revenue of one part type delivered to one region's customers — Q8's
    * conditional-sum-over-sum. Scale shape: part slice and supplier→nation
    * map are broadcasts; customer region membership joins orders on
    * custkey, lineitem joins orders on orderkey (the only fact⇄fact
    * exchanges); the share forms from ONE agg's two conditional sums —
    * never two scans. The bp ratio runs through DECIMAL(38,0) integral
    * division Spark-side ([[org.apache.spark.sql.graft.ExactMath
    * .intDivWide]]: year-level e4 revenue × 10⁴ overflows Long at 100 TB)
    * while the oracle stays plain-BIGINT `//` (oracle-SF values fit). */
  val Q8Type = "PROMO"
  val Q8Region = "ASIA"
  val Q8Nation = "NATION_7"
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDivWide
    val parts = broadcast(Corpus.table(spark, dir, "part")
      .where(col("p_type") === Q8Type).select(col("p_partkey")))
    val suppN = broadcast(Corpus.table(spark, dir, "supplier")
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val custRegion = Corpus.table(spark, dir, "customer")
      .join(broadcast(Corpus.table(spark, dir, "nation")
        .join(broadcast(Corpus.table(spark, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === Q8Region)
        .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Corpus.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_year"))
    val agg = Corpus.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revPartE8)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(
        Int128Sum.sumLongs(when(col("supp_nation") === Q8Nation,
          col("rev_part")).otherwise(lit(0L)), 8)
          .cast("decimal(28,4)").as("nat_dec"),
        sumRevPart.cast("decimal(28,4)").as("all_dec"),
        count(lit(1)).as("n_lines"))
    agg.select(col("o_year"),
      intDivWide(
        (col("nat_dec") * lit(10000L)).cast("decimal(38,0)"), lit(10000L),
        (col("all_dec") * lit(10000L)).cast("decimal(38,0)"), lit(1L))
        .cast("long").as("share_bp"),
      col("nat_dec").cast("decimal(18,4)").cast("double")
        .as("nation_revenue"),
      col("all_dec").cast("decimal(18,4)").cast("double")
        .as("total_revenue"),
      col("n_lines"))
  }
  val marketShareSql: String =
    s"""WITH agg AS (
       |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       |    CAST(CAST(sum(CASE WHEN n.n_name = '$Q8Nation'
       |        THEN $RevPartSql
       |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(28,4)) * 10000
       |      AS BIGINT) AS nat_e4,
       |    CAST(CAST(sum($RevPartSql) AS DECIMAL(28,4)) * 10000 AS BIGINT)
       |      AS all_e4,
       |    count(*) AS n_lines
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n ON s_nationkey = n.n_nationkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey
       |  WHERE p_type = '$Q8Type' AND r_name = '$Q8Region'
       |  GROUP BY 1
       |)
       |SELECT o_year,
       |  (nat_e4 * 10000) // all_e4 AS share_bp,
       |  CAST(CAST(nat_e4 AS DECIMAL(28,4)) / 10000 AS DOUBLE)
       |    AS nation_revenue,
       |  CAST(CAST(all_e4 AS DECIMAL(28,4)) / 10000 AS DOUBLE)
       |    AS total_revenue,
       |  n_lines
       |FROM agg""".stripMargin

  // ---- #34z-m TPC-H Q9 shape: product-line profit ------------------------
  /** Profit by (supplier nation, order year) for one part-name family —
    * Q9 with the schema's cost model: no partsupp ⇒ unit cost is pinned at
    * half the part's retail price ([[Q9CostBp]] bp), so profit = discounted
    * revenue − quantity × retail/2, all on exact decimals (revenue has 4
    * decimals, the cost leg 3 — nothing rounds before the final DOUBLE
    * cast). Scale shape: the name-sliced part map and supplier→nation map
    * broadcast; lineitem⋈orders (for the order year) is the one fact⇄fact
    * exchange; one (nation, year) rollup ends it. */
  val Q9NamePattern = "%bolt%"
  val Q9CostBp = 5000
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(Corpus.table(spark, dir, "part")
      .where(col("p_name").like(Q9NamePattern))
      .select(col("p_partkey"), col("p_retailprice")))
    val suppN = broadcast(Corpus.table(spark, dir, "supplier")
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name")))
    val ordYear = Corpus.table(spark, dir, "orders")
      .select(col("o_orderkey"),
        year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
    // scale-8 long twin of the decimal spelling: revenue has exactly 4
    // decimals and the cost leg 3 (qty·retail(2dp)·0.5), so the scale-8
    // difference has ≤4 decimals and its one-shot rescale to (18,4) is
    // lossless — same value as the per-row (27,4) narrow. Magnitudes:
    // qty≤50 · retail2≤10⁶ · 5 · 10⁵ ≈ 2.5e13 per row — Long-safe.
    val amount =
      (e4(col("l_extendedprice")) * (lit(10000L) - e4(col("l_discount"))) -
        Int128Sum.unscaled(col("l_quantity"), 0) *
          (Int128Sum.unscaled(col("p_retailprice"), 2) * lit(5L)) *
          lit(100000L))
        .as("amount")
    Corpus.table(spark, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .join(ordYear, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name"), col("o_year"), amount)
      .groupBy(col("n_name"), col("o_year"))
      .agg(
        Int128Sum.sumLongs(col("amount"), 8)
          .cast("decimal(18,4)").cast("double").as("profit"),
        count(lit(1)).as("n_lines"))
  }
  val productProfitSql: String =
    s"""SELECT n_name,
       |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       |  CAST(CAST(sum(CAST(
       |    ($RevPartSql)
       |    - CAST(l_quantity AS DECIMAL(4,0))
       |      * (CAST(p_retailprice AS DECIMAL(12,2))
       |         * CAST(0.5 AS DECIMAL(2,1)))
       |    AS DECIMAL(27,4))) AS DECIMAL(18,4)) AS DOUBLE) AS profit,
       |  count(*) AS n_lines
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '$Q9NamePattern'
       |GROUP BY 1, 2""".stripMargin

  // ---- #34z-n TPC-H Q11 shape: important stock ---------------------------
  /** (nation, part) positions whose supplied value exceeds [[Q11MeanMult]]×
    * the MEAN position — Q11's GROUP-BY-under-a-global-scalar-HAVING with
    * lineitem's extended price as the supplied-value ledger (no partsupp)
    * and the threshold pinned to the mean rather than Q11's fixed corpus
    * fraction: a fixed fraction of the total is vacuous under uniform data
    * the moment |positions| outgrows the denominator, while ">K× mean"
    * names the same heavy tail at every SF. Scale shape: ONE (nation,
    * part)-keyed agg over the fact (nation rides a supplier broadcast so
    * the key exists pre-shuffle), localCheckpointed; the global (total,
    * count) re-aggregates THAT frame — never the fact; the 1-row total
    * attaches as an unconditioned broadcast; the val×count vs K×total
    * compare runs on e4 integers in DECIMAL(38,0) Spark-side (the
    * skew_report cross-multiplication discipline — no Long overflow at
    * 100 TB) and plain BIGINT in the oracle (oracle-SF values fit). */
  val Q11MeanMult = 3L
  def importantStock(spark: SparkSession, dir: String): DataFrame = {
    val suppN = broadcast(Corpus.table(spark, dir, "supplier")
      .join(broadcast(Corpus.table(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name")))
    val positions = Corpus.table(spark, dir, "lineitem")
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("l_partkey"))
      .agg(sumE4(col("l_extendedprice"))
        .cast("decimal(28,4)").as("val_dec"),
        count(lit(1)).as("n_lines"))
      .localCheckpoint()
    val total = positions.agg(
      (sum(col("val_dec")).cast("decimal(34,4)") * lit(10000L))
        .cast("decimal(38,0)").as("total_e4"),
      count(lit(1)).as("n_positions"))
    positions.crossJoin(broadcast(total))
      .where(
        (col("val_dec") * lit(10000L)).cast("decimal(38,0)")
          * col("n_positions")
          > lit(Q11MeanMult) * col("total_e4"))
      .select(col("n_name"), col("l_partkey"),
        col("val_dec").cast("decimal(18,4)").cast("double")
          .as("supplied_value"),
        col("n_lines"))
  }
  val importantStockSql: String =
    s"""WITH positions AS (
       |  SELECT n_name, l_partkey,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
       |      AS DECIMAL(28,4)) AS val_dec,
       |    count(*) AS n_lines
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY 1, 2
       |), tot AS (
       |  SELECT CAST(CAST(sum(val_dec) AS DECIMAL(34,4)) * 10000 AS BIGINT)
       |      AS total_e4,
       |    count(*) AS n_positions
       |  FROM positions
       |)
       |SELECT n_name, l_partkey,
       |  CAST(CAST(val_dec AS DECIMAL(18,4)) AS DOUBLE) AS supplied_value,
       |  n_lines
       |FROM positions, tot
       |WHERE CAST(val_dec * 10000 AS BIGINT) * n_positions
       |  > $Q11MeanMult * total_e4""".stripMargin

  // ---- #34z-o TPC-H Q20 shape: promotion-candidate suppliers -------------
  /** Suppliers who DOMINATE the flow of a part-name family: shipped more
    * than [[Q20MeanMult]]× the average supplier's share of a part's total
    * quantity — Q20's nested semi-join-with-correlated-threshold, the
    * availqty/2 test re-read against shipped volume and pinned to the
    * per-part mean (a fixed >half share is vacuous once a part's flow
    * splits across tens of suppliers, at every SF; ">K× the mean
    * supplier" names the same dominators scale-independently). Scale
    * shape: the name slice broadcasts into the fact scan; ONE (part,
    * supplier) agg then a per-part rollup OF THAT FRAME (both on the same
    * partkey-first key, so AQE coalesces); the per-part (total, supplier
    * count) re-attaches as a broadcast; supplier and nation names join
    * onto the few surviving rows. Quantities are whole numbers ⇒ exact
    * integer math throughout — the cross-multiplied compare rides
    * DECIMAL(38,0) Spark-side, plain BIGINT in the oracle. */
  val Q20NamePrefix = "red%"
  val Q20MeanMult = 3L
  def promotionSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(Corpus.table(spark, dir, "part")
      .where(col("p_name").like(Q20NamePrefix))
      .select(col("p_partkey")))
    val perPS = Corpus.table(spark, dir, "lineitem")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty_s"))
      .localCheckpoint()
    val perPart = perPS.groupBy(col("l_partkey").as("pp_partkey"))
      .agg(sum(col("qty_s")).as("qty_total"),
        count(lit(1)).as("n_supp"))
    perPS.join(broadcast(perPart),
      col("l_partkey") === col("pp_partkey"))
      .where(col("qty_s").cast("decimal(38,0)") * col("n_supp")
        > lit(Q20MeanMult) * col("qty_total").cast("decimal(38,0)"))
      .join(broadcast(Corpus.table(spark, dir, "supplier")
        .join(broadcast(Corpus.table(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("n_parts_dominated"),
        sum(col("qty_s")).as("dominated_qty"))
  }
  val promotionSuppliersSql: String =
    s"""WITH per_ps AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_s
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE '$Q20NamePrefix'
       |  GROUP BY 1, 2
       |), per_part AS (
       |  SELECT l_partkey AS pp_partkey,
       |    CAST(sum(qty_s) AS BIGINT) AS qty_total,
       |    count(*) AS n_supp
       |  FROM per_ps GROUP BY 1
       |)
       |SELECT s_suppkey, s_name, n_name,
       |  count(*) AS n_parts_dominated,
       |  CAST(sum(qty_s) AS BIGINT) AS dominated_qty
       |FROM per_ps
       |JOIN per_part ON l_partkey = pp_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE qty_s * n_supp > $Q20MeanMult * qty_total
       |GROUP BY 1, 2, 3""".stripMargin

  // ---- #34z-p TPC-H Q21 shape: sole-blame suppliers ----------------------
  /** Suppliers who were the ONLY one with returned lines inside completed
    * multi-supplier orders — Q21's EXISTS(other supplier) ∧ NOT
    * EXISTS(other supplier also failing) dual-correlation, with the
    * return flag standing in for the missing receipt/commit dates. Both
    * correlated subqueries AND the blamed supplier's identity collapse
    * into ONE per-order agg (distinct suppliers, distinct RETURNING
    * suppliers, and — sound exactly because the census demands n_ret = 1 —
    * max(returning suppkey) IS that sole supplier), so the whole query is
    * ONE lineitem scan with one orderkey exchange, a completed-orders
    * semi-join on the same key, and a supplier-name broadcast. The
    * distinct counts run as a TWO-LEVEL agg — (order, supplier) rollup,
    * then the per-order census of THAT frame — instead of two
    * countDistincts, whose Expand would triple the scan's rows before the
    * exchange; the explicit orderkey repartition clusters both levels on
    * the one exchange. Order status 'F' filters push to the orders
    * scan. */
  def soleBlameSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Corpus.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("has_r"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("has_r")).as("n_ret_supp"),
        max(when(col("has_r") === 1L, col("l_suppkey"))).as("ret_supp"))
      .where(col("n_supp") > 1L && col("n_ret_supp") === 1L)
    val finished = Corpus.table(spark, dir, "orders")
      .where(col("o_orderstatus") === "F").select(col("o_orderkey"))
    perOrder
      .join(finished, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Corpus.table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("ret_supp") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }
  val soleBlameSuppliersSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS n_supp,
      |    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
      |      AS n_ret_supp,
      |    max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS ret_supp
      |  FROM lineitem GROUP BY 1
      |  HAVING count(DISTINCT l_suppkey) > 1
      |    AND count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
      |      = 1
      |)
      |SELECT s_suppkey, s_name, count(*) AS numwait
      |FROM per_order
      |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON ret_supp = s_suppkey
      |GROUP BY 1, 2""".stripMargin

  // ---- #34x-a co-purchase graph triangle census --------------------------
  /** Triangle count over the UNDIRECTED co-purchase graph (parts that ever
    * shipped in the same order, the [[partsCopurchase]] edge base): edges,
    * open wedges (a<b<c paths), and closed triangles — the global
    * clustering signal behind basket-affinity models, and the classic
    * distributed-graph benchmark shape. The a<b<c orientation (edges only
    * store part_a < part_b, wedges join low→mid→high) counts every
    * triangle exactly once and caps the wedge explosion at the LOW-degree
    * endpoint — the standard node-ordering trick that tames hub vertices.
    * Scale shape: the edge frame derives from ONE orderkey-partitioned
    * scan (mega-orders capped at [[CopurchaseMaxLines]] BEFORE any pair
    * materializes) and is session-cached for every graph consumer; the
    * wedge COUNT is the closed form Σ_b in(b)·out(b) over two degree aggs
    * (the wedge set is never materialized for counting); only the
    * triangle CLOSURE runs the wedge⋈edge join — once per (session,
    * corpus), cached — with AQE's skew split handling residual hot
    * vertices. Output is a single exact-count row. */
  // the edge and triangle frames are per-corpus artifacts exactly like
  // the dedup pair graph: the census and the per-vertex clustering both
  // consume them, so each is materialized once per (session, corpus) —
  // without the caches both queries re-run the pair explode AND the
  // wedge-closure join (the two dominant costs; 13.6 s combined at sf0.1
  // steady before the share, ~0.4 s after)
  /** Per-order co-purchase pair INSTANCES (part_a < part_b, one row per
    * (order, pair)) — the shared base of the whole basket family
    * ([[partsCopurchase]] rolls up multiplicity, [[copurchaseEdges]]
    * dedups), materialized once per (session, corpus). ONE lineitem scan,
    * ONE order-keyed exchange: the explicit repartition on l_orderkey
    * satisfies the clustering requirement of the (orderkey, partkey)
    * distinct, the per-order line-count window and the pair expansion, so
    * none re-exchanges. The [[CopurchaseMaxLines]] cap filters on the
    * WINDOW count BEFORE any per-order array materializes (collected
    * state ≤ cap elements per order even against an adversarial
    * mega-order — the LSH bucket-cap discipline); pairs expand from the
    * sorted per-order array (i < j ⇒ part_a < part_b) through the
    * codegen'd [[org.apache.spark.sql.graft.SortedLongPairs]] — the
    * interpreted transform(slice(...)) spelling it replaces paid an
    * O(size) subarray copy per element and was the family's measured
    * hot spot (~4 s of the 4.6 s build at sf0.1). */
  private def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "copurchasePairs") {
      val w = Window.partitionBy("l_orderkey")
      Corpus.table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .repartition(col("l_orderkey"))
        .dropDuplicates("l_orderkey", "l_partkey")
        .withColumn("m", count(lit(1)).over(w))
        .where(col("m").between(2L, CopurchaseMaxLines))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_partkey"))).as("ps"))
        .select(explode(org.apache.spark.sql.graft.SortedLongPairs(col("ps")))
          .as("p"))
        .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
    }

  /** Capped, distinct co-purchase edges (part_a < part_b), materialized
    * once per (session, corpus) — [[copurchasePairs]] minus multiplicity. */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    Materialized.frame(spark, dir, "copurchaseEdges")(
      copurchasePairs(spark, dir).distinct())

  /** Closed-triangle list (ta<tb<tc) — adjacency-list intersection, once
    * per (session, corpus). The naive wedge-closure join materializes and
    * shuffles the full open-wedge set (49.3M rows for sf0.1's 1.2M-edge
    * graph — measured 180 task-seconds); instead, each vertex's ascending
    * out-neighbor list (adj[x] = {y : edge (x,y), x<y}, ≤ degree ≤ a few
    * hundred entries, vertex-bounded total size) joins onto the edge
    * frame twice, and `array_intersect(adj[a], adj[b])` enumerates
    * exactly the closing vertices c (c ∈ both ⇒ c>a ∧ c>b, so the a<b<c
    * orientation is preserved and each triangle appears once). The wedge
    * EXPLORATION happens inside the per-row intersection — never as
    * shuffled rows; shuffle volume is |edges| + 2·|adjacency| instead of
    * |wedges|. Identical output triples to the wedge-closure form. */
  /** Adjacency-list entries per chunk in [[copurchaseTriClosure]]. */
  val CopurchaseAdjChunkEntries = 4000000L

  /** Closed-triangle enumeration over an (part_a < part_b) edge frame via
    * sorted greater-neighbor adjacency lists (r13). Degree guard (r14;
    * VERDICT r13 #4): a hub vertex's full list is an O(degree) array built
    * in ONE task — above [[CopurchaseAdjChunkEntries]] (4M entries ≈
    * 32 MB of longs) the lists split into `nChunks` pieces keyed
    * by a deterministic hash of the NEIGHBOR id, and the closure
    * intersects per MATCHING chunk: any common closing vertex hashes to
    * the same chunk on both sides, so the (ta, tb, tc) multiset is
    * identical (spec-asserted with a forced-low bound). nChunks = 1 keeps
    * the r13 plan byte-for-byte. */
  private[graft] def copurchaseTriClosure(e: DataFrame,
      nChunks: Long): DataFrame =
    if (nChunks <= 1L) {
      val adj = e.groupBy(col("part_a").as("p"))
        .agg(sort_array(collect_list(col("part_b"))).as("nbrs"))
      e.join(adj.select(col("p").as("pa_"), col("nbrs").as("nbrs_a")),
          col("part_a") === col("pa_"))
        .join(adj.select(col("p").as("pb_"), col("nbrs").as("nbrs_b")),
          col("part_b") === col("pb_"))
        .select(col("part_a").as("ta"), col("part_b").as("tb"),
          explode(org.apache.spark.sql.graft.SortedLongIntersect(
            col("nbrs_a"), col("nbrs_b"))).as("tc"))
    } else {
      val adj = e.groupBy(col("part_a").as("p"),
          pmod(xxhash64(col("part_b")), lit(nChunks)).as("ck"))
        .agg(sort_array(collect_list(col("part_b"))).as("nbrs"))
      e.join(adj.select(col("p").as("pa_"), col("ck").as("ck_a"),
            col("nbrs").as("nbrs_a")),
          col("part_a") === col("pa_"))
        .join(adj.select(col("p").as("pb_"), col("ck").as("ck_b"),
            col("nbrs").as("nbrs_b")),
          col("part_b") === col("pb_") && col("ck_a") === col("ck_b"))
        .select(col("part_a").as("ta"), col("part_b").as("tb"),
          explode(org.apache.spark.sql.graft.SortedLongIntersect(
            col("nbrs_a"), col("nbrs_b"))).as("tc"))
    }

  private def copurchaseTriFrame(spark: SparkSession, dir: String)
      : DataFrame =
    Materialized.frame(spark, dir, "copurchaseTriFrame") {
      val e = copurchaseEdges(spark, dir)
      // one cheap agg over the cached edge frame decides the guard; the
      // max out-degree also bounds every adjacency list's array size
      val maxDeg = e.groupBy(col("part_a")).agg(count(lit(1)).as("d"))
        .agg(coalesce(max(col("d")), lit(0L)).as("m"))
        .collect()(0).getLong(0)
      val nChunks = math.max(1L,
        (maxDeg + CopurchaseAdjChunkEntries - 1) / CopurchaseAdjChunkEntries)
      copurchaseTriClosure(e, nChunks)
    }

  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    // the wedge COUNT has a closed form needing no join at all: a<b<c
    // wedges through mid-vertex b are (edges into b) × (edges out of b)
    val nWedges = edges.groupBy(col("part_b")).agg(count(lit(1)).as("din"))
      .join(edges.groupBy(col("part_a")).agg(count(lit(1)).as("dout")),
        col("part_b") === col("part_a"))
      .agg(coalesce(sum((col("din") * col("dout")).cast("decimal(38,0)"))
        .cast("long"), lit(0L)).as("n_wedges"))
    val nTri = copurchaseTriFrame(spark, dir)
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
  }
  val copurchaseTrianglesSql: String =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), keep AS (
       |  SELECT l_orderkey FROM op GROUP BY 1
       |  HAVING count(*) BETWEEN 2 AND $CopurchaseMaxLines
       |), b AS (
       |  SELECT op.l_orderkey, op.l_partkey
       |  FROM op JOIN keep ON op.l_orderkey = keep.l_orderkey
       |), e AS (
       |  SELECT DISTINCT x.l_partkey AS part_a, y.l_partkey AS part_b
       |  FROM b x JOIN b y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |), wedges AS (
       |  SELECT e1.part_a AS ta, e1.part_b AS tb, e2.part_b AS tc
       |  FROM e e1 JOIN e e2 ON e1.part_b = e2.part_a
       |)
       |SELECT
       |  (SELECT count(*) FROM e) AS n_edges,
       |  (SELECT count(*) FROM wedges) AS n_wedges,
       |  (SELECT count(*) FROM wedges w JOIN e e3
       |     ON w.ta = e3.part_a AND w.tc = e3.part_b) AS n_triangles""".stripMargin

  // ---- #34x-b per-vertex local clustering coefficient --------------------
  /** Local clustering per part over the same co-purchase graph: for each
    * vertex with degree ≥ 2, its degree, the exact count of triangles it
    * sits in, and the closed-wedge ratio 2·tri/(deg·(deg−1)) in exact bp —
    * the per-node "how clique-like is my neighborhood" signal that
    * separates hub parts (low coefficient, bridge many baskets) from
    * bundle parts (high coefficient, always bought as a set). Scale shape:
    * the SAME session-cached edge and triangle frames as
    * [[copurchaseTriangles]] (the expensive wedge-closure join runs ONCE
    * per corpus across both consumers); degrees come from one explode+agg
    * of the edge endpoints; per-vertex triangle counts explode each closed
    * triangle's 3 vertices (a triangle found once under the a<b<c
    * orientation credits all three corners) — the bp ratio rides
    * DECIMAL(38,0) integral division Spark-side, plain BIGINT in the
    * oracle. */
  def copurchaseClustering(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ExactMath.intDivWide
    val edges = copurchaseEdges(spark, dir)
    val degrees = edges
      .select(explode(array(col("part_a"), col("part_b"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("degree"))
    val triPerVertex = copurchaseTriFrame(spark, dir)
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
    degrees
      .join(triPerVertex, Seq("part"), "left")
      .where(col("degree") >= 2L)
      .select(col("part"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coeff_bp",
        intDivWide(col("n_triangles") * lit(20000L), lit(1L),
          col("degree"), col("degree") - lit(1L)).cast("long"))
  }
  val copurchaseClusteringSql: String =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), keep AS (
       |  SELECT l_orderkey FROM op GROUP BY 1
       |  HAVING count(*) BETWEEN 2 AND $CopurchaseMaxLines
       |), b AS (
       |  SELECT op.l_orderkey, op.l_partkey
       |  FROM op JOIN keep ON op.l_orderkey = keep.l_orderkey
       |), e AS (
       |  SELECT DISTINCT x.l_partkey AS part_a, y.l_partkey AS part_b
       |  FROM b x JOIN b y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |), deg AS (
       |  SELECT part, count(*) AS degree FROM (
       |    SELECT part_a AS part FROM e
       |    UNION ALL SELECT part_b AS part FROM e
       |  ) GROUP BY 1
       |), tri AS (
       |  SELECT e1.part_a AS ta, e1.part_b AS tb, e2.part_b AS tc
       |  FROM e e1
       |  JOIN e e2 ON e1.part_b = e2.part_a
       |  JOIN e e3 ON e1.part_a = e3.part_a AND e2.part_b = e3.part_b
       |), tpv AS (
       |  SELECT part, count(*) AS n_triangles FROM (
       |    SELECT ta AS part FROM tri
       |    UNION ALL SELECT tb AS part FROM tri
       |    UNION ALL SELECT tc AS part FROM tri
       |  ) GROUP BY 1
       |)
       |SELECT deg.part, degree,
       |  COALESCE(n_triangles, 0) AS n_triangles,
       |  (COALESCE(n_triangles, 0) * 20000) // (degree * (degree - 1))
       |    AS coeff_bp
       |FROM deg LEFT JOIN tpv ON deg.part = tpv.part
       |WHERE degree >= 2""".stripMargin

  // ---- #34y-d Benford first-digit audit ----------------------------------
  /** First-significant-digit census of the two money columns vs Benford's
    * law — the classic synthetic-data / fraud / unit-mix-up detector a
    * corpus profiler runs before trusting a numeric feed. Per (measure,
    * digit): count, exact-bp observed share, the PINNED Benford expectation
    * ([[BenfordBp]] — ⌊log₁₀(1+1/d)·10⁴⌉ as integer literals, so no engine
    * ever evaluates a log), and the signed deviation. The first digit is
    * extracted from the INTEGER cents string (leading zeros impossible,
    * value exactness inherited from the cents round) — no float anywhere.
    * Scale shape: two map-only scans, ≤9 keys each; the per-measure total
    * attaches as a 1-row broadcast. */
  val BenfordBp: Seq[(Int, Long)] = Seq(1 -> 3010L, 2 -> 1761L, 3 -> 1249L,
    4 -> 969L, 5 -> 792L, 6 -> 669L, 7 -> 580L, 8 -> 512L, 9 -> 458L)
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE scan job for BOTH money legs (r14; VERDICT r13 #2): the two
    // projected digit censuses union into a single ≤18-row collect — the
    // scheduler overlaps the orders and lineitem scans inside one action —
    // and the share/deviation arithmetic runs on the driver (the bounded
    // driver-side-collect pattern). The digit extraction rides the
    // codegen'd fixed_point_long (same value as round(x·100) for 2-decimal
    // money — Int128Sum.scala) instead of the per-row BigDecimal Round.
    def legDf(table: String, column: String) =
      Corpus.table(spark, dir, table)
        .where(col(column) > 0)
        .select(lit(column).as("measure"),
          substring(Int128Sum.unscaled(col(column), 2).cast("string"), 1, 1)
            .as("digit"))
    val census = legDf("orders", "o_totalprice")
      .unionAll(legDf("lineitem", "l_extendedprice"))
      .groupBy(col("measure"), col("digit")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    def leg(column: String): Seq[(String, String, Long, Long, Long)] = {
      val digits = census.getOrElse(column, Array.empty).map(r => r._2 -> r._3)
      val total = digits.map(_._2).sum
      digits.toSeq.map { case (d, n) =>
        val shareBp = if (total > 0) n * 10000L / total else 0L
        val benford = BenfordBp.toMap.apply(d.head - '0')
        (column, d, n, shareBp, benford)
      }
    }
    (leg("o_totalprice") ++ leg("l_extendedprice"))
      .toDF("measure", "digit", "n", "share_bp", "benford_bp")
      .withColumn("dev_bp", col("share_bp") - col("benford_bp"))
  }
  val benfordAuditSql: String = {
    val expected = BenfordBp
      .map { case (d, bp) => s"('$d', CAST($bp AS BIGINT))" }
      .mkString(", ")
    def leg(table: String, column: String) =
      s"""SELECT '$column' AS measure, digit, n,
         |  (n * 10000) // n_total AS share_bp, benford_bp,
         |  (n * 10000) // n_total - benford_bp AS dev_bp
         |FROM (
         |  SELECT digit, count(*) AS n FROM (
         |    SELECT substr(CAST(CAST(round($column * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS digit
         |    FROM $table WHERE $column > 0
         |  ) GROUP BY 1
         |) d
         |JOIN (VALUES $expected) AS exp(digit, benford_bp) USING (digit),
         |  (SELECT CAST(count(*) AS BIGINT) AS n_total
         |   FROM $table WHERE $column > 0) t""".stripMargin
    leg("orders", "o_totalprice") + "\nUNION ALL\n" +
      leg("lineitem", "l_extendedprice")
  }
}
