package graft.operators

import graft.Tables
import graft.functions.Hashing.{dec, money2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytics core: the query capabilities the engine offers at scale.
  * Declarative DataFrame plans — Catalyst handles pushdown, join
  * strategy (dims are broadcast), and AQE re-planning.
  *
  * Money aggregates go through DECIMAL(18,4) so sums are exact and
  * order-independent (bit-identical to the DuckDB oracle), then are
  * rounded to cents and surfaced as doubles.
  */
object Analytics {

  private val one = lit(1.0).cast(DecimalType(18, 4))

  /** #20: TPC-H-Q1-style pricing summary on lineitem. */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val discPrice = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
    val charge = round(discPrice, 4).cast(DecimalType(18, 4)) * (one + dec(col("l_tax")))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        money2(sum(dec(col("l_quantity")))).as("sum_qty"),
        money2(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        money2(sum(discPrice)).as("sum_disc_price"),
        money2(sum(charge)).as("sum_charge"),
        round(sum(dec(col("l_quantity"))).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1)), 4).as("avg_price"),
        round(sum(dec(col("l_discount"))).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** #21: shipping-priority style: unshipped high-value orders for one
    * market segment. Join strategy is left to stats + AQE: the filtered
    * customer side broadcasts while it fits, shuffles when it doesn't —
    * a forced hint would pin a SF-growing table to the driver. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        // o_orderdate is TIMESTAMP_NTZ; session tz is UTC so the cast is exact
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_odate_ms"))
      .agg(money2(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** #22: local-supplier revenue per nation in one region and year —
    * 6-way join; nation/region (bounded forever) are hint-broadcast,
    * customer/supplier (SF-growing) are left to stats + AQE. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(money2(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H-Q4-style order-priority check: EXISTS semi-join shape —
    * orders in one quarter having at least one returned line item. */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H-Q12-style priority classification: conditional aggregation
    * over a join (CASE inside SUM — map-side combinable). */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linestatus")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(urgent, 1).otherwise(0)).cast("long").as("high_line_count"),
           sum(when(!urgent, 1).otherwise(0)).cast("long").as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H-Q14-style promo revenue ratio: conditional decimal sums and
    * a double ratio; the part join strategy is left to stats + AQE. */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val part = Tables.part(spark, dir).select("p_partkey", "p_type")
    val discPrice = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
    val zero = lit(0.0).cast(DecimalType(18, 4))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        money2(sum(when(col("p_type") === "PROMO", discPrice).otherwise(zero))).as("promo_revenue"),
        money2(sum(discPrice)).as("total_revenue"),
        round(sum(when(col("p_type") === "PROMO", discPrice).otherwise(zero)).cast("double") * 100.0
          / sum(discPrice).cast("double"), 4).as("promo_ratio"))
  }

  /** TPC-H-Q6-style revenue forecast: pure filter + scalar aggregate —
    * the pushdown stress test (every predicate reaches the scan). */
  def q6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
              col("l_quantity") < 24)
      .agg(money2(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
        .as("revenue"))

  /** TPC-H-Q10-style returned-item ranking: customers by revenue lost
    * to returns in one quarter. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_nationkey")
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(money2(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** #23: tumbling 1-hour windowed aggregation over the event stream. */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr("ts_us div 3600000000L"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy("hour_bucket", "event_type")

  /** ROLLUP over (event_type, hour): per-cell, per-type, and grand
    * totals in one aggregation pass (grouping-sets coverage). */
  def eventsRollup(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr("ts_us div 3600000000L"))
      .rollup("event_type", "hour_bucket")
      .agg(count(lit(1)).as("n"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("hour_bucket").asc_nulls_first)

  /** CUBE grouping sets: all four (event_type × hour) marginal
    * combinations in one pass — completes the grouping-sets surface
    * next to ROLLUP. */
  def eventsCube(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr("ts_us div 3600000000L"))
      .cube("event_type", "hour_bucket")
      .agg(count(lit(1)).as("n"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("hour_bucket").asc_nulls_first)

  /** Distinct users per hour — the shuffle-heavy distinct-agg shape
    * (expands to a two-level aggregation; AQE coalesces the tail). */
  def distinctUsersHour(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr("ts_us div 3600000000L"))
      .groupBy("hour_bucket")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("hour_bucket")

  /** Events with their gap-session index — the shared prefix of
    * sessionize and the co-occurrence query (one window pipeline, one
    * user_id shuffle). */
  def sessionIndexed(spark: SparkSession, dir: String,
                     gapUs: Long = 1800L * 1000000L): DataFrame =
    sessionIndexedOf(Dedup.eventsUs(spark, dir), gapUs)

  /** [[sessionIndexed]] over any canonical events frame (user_id,
    * ts_us, event_id, …): a new session starts at a user's first event
    * and after every gap > `gapUs`; session_idx is the running count of
    * starts in (ts_us, event_id) order. */
  def sessionIndexedOf(ev: DataFrame, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val newSess = when(
      lag("ts_us", 1).over(byUser).isNull ||
      col("ts_us") - lag("ts_us", 1).over(byUser) > gapUs, 1).otherwise(0)
    ev.withColumn("new_sess", newSess)
      .withColumn("session_idx",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** #24: gap-based sessionization (30 min) per user, pure window
    * functions — one shuffle on user_id. */
  def sessionize(spark: SparkSession, dir: String,
                 gapUs: Long = 1800L * 1000000L): DataFrame =
    sessionizeOf(Dedup.eventsUs(spark, dir), gapUs)

  /** [[sessionize]] over any canonical events frame — the one-window
    * plan the skew split ([[Skew.splitSessionizeOf]]) must equal. */
  def sessionizeOf(ev: DataFrame, gapUs: Long = 1800L * 1000000L): DataFrame =
    sessionIndexedOf(ev, gapUs)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
           min("ts_us").as("start_us"),
           max("ts_us").as("end_us"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy("user_id", "session_idx")

  /** Running totals + moving window per user — everything is exact
    * integer cents: the moving average is exported as its (sum, count)
    * pair so no engine ever materializes a repeating-decimal double
    * (the one cross-engine hash hazard this suite has hit). */
  def runningUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wAll = w.rowsBetween(Window.unboundedPreceding, 0)
    val w5 = w.rowsBetween(-4, 0)
    Dedup.eventsUs(spark, dir)
      .withColumn("cents", graft.functions.Hashing.valueCents(col("value")))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        sum("cents").over(wAll).as("running_cents"),
        sum("cents").over(w5).as("mov5_sum_cents"),
        count(lit(1)).over(w5).as("mov5_n"))
      .orderBy("event_id")
  }

  /** #25: top-3 events by value per event_type (window rank). */
  def topkPerGroup(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    Dedup.eventsUs(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("event_type", "rnk", "event_id", "value")
      .orderBy("event_type", "rnk")
  }
}
