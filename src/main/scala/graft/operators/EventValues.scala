package graft.operators

import graft.Partitioning._
import graft.functions.Hashing.{halfUpDiv, intDiv, ratio4, valueCents}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Value distributions of the event stream: histogram, spend deciles
  * and concentration, trimmed mean, Benford first digits, anomaly
  * fences, the column profile and the per-type top-k. All value math
  * stays in exact integer cents.
  */
object EventValues {

  /** Histogram bucket width: $20 in cents. */
  val HistBucketCents = 2000L

  /** Fixed-width value histogram per event type — the distribution
    * panel next to the quantile/anomaly reports. Bucketing is exact
    * integer division on cents; both engines truncate toward zero
    * (Spark IntegralDivide and DuckDB `//` — verified on negative
    * fixtures in Analytics4Spec), so even a negative cent value (the
    * value ≥ 0 contract is monitored, not enforced, by dq_report)
    * buckets identically across engines. One partial-aggregable
    * shuffle on (type, bucket), output is O(types × occupied
    * buckets). */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .select(col("event_type"), valueCents(col("value")).as("cents"))
      .groupBy(col("event_type"), intDiv(col("cents"), lit(HistBucketCents)).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .orderBy("event_type", "bucket")

  /** Benford first-digit expectation, round(log10(1 + 1/d)·10⁶) ppm
    * for d = 1…9 — the standard published table; the nine entries sum
    * to exactly 1,000,000, so the engine carries them as fixed int64
    * literals (no libm at query time). */
  val BenfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L,
      51153L, 45757L)

  /** `events_benford`: the first-digit audit — per (event_type, digit
    * 1–9), how many positive cent values lead with that digit, the
    * exact ppm share within the type, the Benford expectation, and the
    * absolute deviation. Organic transaction amounts spanning several
    * orders of magnitude track Benford closely; a synthetic or
    * manipulated feed (fixed price points, fabricated rows) shows up
    * as large dev_ppm concentrated on a few digits — the classic
    * forensic-accounting screen, applied as a data-quality gate.
    *
    * Shape: leading digit via one string head over the cents int (no
    * log10 — engines' libm may differ in the last ulp near decade
    * boundaries); ONE partial-aggregable (type, digit) count shuffle;
    * the dense 9-digit grid and Benford constants join at O(types·9)
    * rows. Missing digits emit n = 0 rows so the panel's shape is
    * fixed. */
  /** The count stage of [[benford]] over any events frame with
    * (event_type, value) — per (type, leading digit of the positive
    * cents), the row count. Works unchanged as a streaming grouped
    * aggregation (counts are pure functions of the input set), which
    * is how [[graft.streaming.StreamQuality.benfordCounts]] runs it. */
  def firstDigitCounts(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), valueCents(col("value")).as("cents"))
      .filter(col("cents") > 0)
      .select(col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("event_type", "digit").agg(count(lit(1)).as("n"))

  def benford(spark: SparkSession, dir: String): DataFrame = {
    val counts = firstDigitCounts(Dedup.eventsUs(spark, dir))
    val totals = counts.groupBy("event_type").agg(sum("n").as("total"))
    val digitBen = spark.range(1, 10).select(
      col("id").as("digit"),
      element_at(array(BenfordPpm.map(lit): _*), col("id").cast("int"))
        .as("benford_ppm"))
    totals.crossJoin(broadcast(digitBen))
      .join(counts, Seq("event_type", "digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("share_ppm", halfUpDiv(col("n") * 1000000L, col("total")))
      .select(col("event_type"), col("digit"), col("n"), col("share_ppm"),
        col("benford_ppm"),
        abs(col("share_ppm") - col("benford_ppm")).as("dev_ppm"))
      .orderBy("event_type", "digit")
  }

  /** Per-user lifetime spend with exact global rank and decile.
    * Ranking uses [[Ranking.globalRowNumber]] (range-partitioned sort +
    * partition-offset indices) — never a single-partition window, so
    * the report holds at any user cardinality. decile = (rn−1)·10 div
    * N + 1 in pure int64 (NOT SQL ntile — this floor form is one
    * integer expression both engines compute identically). */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    // report-grain aggregate, materialized once: count(), zipWithIndex's
    // internal count job, and the final pass would otherwise each
    // re-aggregate the raw events (3 scans)
    val spend = Dedup.eventsUs(spark, dir)
      .groupBy("user_id").agg(sum(valueCents(col("value"))).as("spend_cents"))
      .checkpointSer
    val n = spend.count() // one scalar job; the denominator of the decile formula
    Ranking.globalRowNumber(spend, Seq(col("spend_cents").desc, col("user_id")))
      .select(col("user_id"), col("spend_cents"), col("rn"),
        (intDiv((col("rn") - 1L) * 10L, lit(n)) + 1L).as("decile"))
      .orderBy("user_id")
  }

  /** #173 `events_value_concentration`: the Lorenz/Pareto revenue-
    * concentration panel over [[spendDeciles]] — per spend decile
    * (1 = highest spenders): users, exact decile cents, and the
    * cumulative user/spend shares, answering "what share of revenue do
    * the top 10/20/…% of users hold" (the whale-risk number every
    * usage dashboard leads with). Rides the decile frame (same rank,
    * same materialized aggregate), collapses it to O(10) rows with one
    * partial-aggregable shuffle; the cumulative window and 1-row total
    * broadcast run on the 10-row aggregate, never the user table —
    * the sparse-window-over-aggregate discipline. Shares are ratio4
    * (exact half-up 1e-4), cents exact int64. */
  def valueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val d = spendDeciles(spark, dir)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("spend_cents").as("decile_cents"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = d.agg(sum("n_users").as("tu"), sum("decile_cents").as("tc"))
    d.withColumn("cum_users", sum("n_users").over(w))
      .withColumn("cum_cents", sum("decile_cents").over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("decile_cents"),
        col("cum_cents"),
        ratio4(col("cum_users"), col("tu")).as("user_share"),
        ratio4(col("cum_cents"), col("tc")).as("spend_share"))
      .orderBy("decile")
  }

  /** Rank-based trim: drop this percent of rows from EACH end. */
  val TrimPct = 5L

  /** Robust per-type mean: the mean of values after dropping the
    * lowest and highest `TrimPct`% of ROWS (k = n·pct div 100 — pure
    * integer trim counts, unlike percentile-threshold trimming whose
    * 0.05 interpolation position is not a binary-exact fraction).
    * Row-rank trimming over (cents, event_id) is a total order, the
    * kept-range boundaries are exact ints, and the mean rides ratio4 —
    * bit-reproducible end to end. Both windows share the event_type
    * exchange. */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("cents", "event_id")
    val wAll = Window.partitionBy("event_type")
    Dedup.eventsUs(spark, dir)
      .select(col("event_type"), valueCents(col("value")).as("cents"), col("event_id"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("k", intDiv(col("n") * TrimPct, lit(100L)))
      .filter(col("rn") > col("k") && col("rn") <= col("n") - col("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), min("cents").as("lo_cents"),
        max("cents").as("hi_cents"), sum("cents").as("sum_cents"))
      .select(col("event_type"), col("n_kept"), col("lo_cents"), col("hi_cents"),
        ratio4(col("sum_cents"), col("n_kept")).as("mean_cents"))
      .orderBy("event_type")
  }

  /** Column-profiling report over the events stream (the ANALYZE TABLE
    * shape): per column, null count and exact distinct count, long
    * format. One aggregation pass — Spark plans the multi-distinct as
    * a single expand-based aggregate, so the table is scanned once. */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
      countDistinct(col(c)).as(s"dist_$c")))
    val one = Dedup.eventsUs(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stack = cols.map(c => s"'$c', null_$c, dist_$c").mkString(", ")
    one.selectExpr("n_rows",
      s"stack(${cols.size}, $stack) AS (column_name, n_null, n_distinct)")
      .select("column_name", "n_rows", "n_null", "n_distinct")
      .orderBy("column_name")
  }

  /** Tukey-fence value anomalies per event type: rows above
    * p75 + 3·(p75 − p25) of their type's value (in exact integer
    * cents). The fences ride [[Ranking.groupedQuantiles]] — binary-exact
    * positions make the boundary bit-identical across engines (no
    * mean/stddev floating-point edge) and the native GlobalRank path
    * never buffers a type's values on one reducer (tiny type
    * cardinality × huge population is exactly the shape the grouped
    * `percentile` aggregate OOMs on at 100×). Two passes over events
    * (fence quantiles ⋈ rows), fence table broadcast. */
  def valueAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val ev = Dedup.eventsUs(spark, dir)
      .select(col("event_id"), col("event_type"),
        valueCents(col("value")).as("cents"))
    val fences = Ranking.groupedQuantiles(ev, Seq("event_type"), "cents",
        Seq("event_id"), Seq(0.25, 0.75))
      .groupBy("event_type")
      .agg(max(when(col("p") === 0.25, col("q"))).as("p25"),
        max(when(col("p") === 0.75, col("q"))).as("p75"))
      .select(col("event_type"),
        (col("p75") + lit(3.0) * (col("p75") - col("p25"))).as("fence"))
    ev.join(broadcast(fences), "event_type")
      .filter(col("cents") > col("fence"))
      .select("event_id", "event_type", "cents", "fence")
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
