package graft.operators

import graft.functions.Hashing.{dec, halfUpDiv, intDiv, money2, ratio4, valueCents}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-type time series over the event stream: windowed and
  * grouping-set rollups, hourly/daily/weekly count and spend series,
  * and the forecast, drift, dispersion, trend and rhythm panels read
  * off them. Every grain is pure epoch integer arithmetic (calendar-
  * and timezone-free) and every value is an exact integer count, cent
  * sum or rational.
  *
  * The four series grains ([[hourlyCounts]], [[dailyCounts]],
  * [[dailyCents]], [[weeklyCounts]]) are written once here: the batch
  * panels aggregate raw events through them, and the streaming monitors
  * (StreamDrift, StreamTrend, StreamChangepoint) aggregate each
  * micro-batch through them and fold the committed deltas with
  * [[Grain.fold]] — counts and cent sums are ℤ-groups, so folding
  * deltas equals re-aggregating.
  */
object EventSeries {

  /** One hour in µs. */
  val HourUs = 3600000000L

  /** One day in µs. */
  val DayUs = 86400000000L

  /** One calendar-free week in µs. */
  val WeekUs = 7L * DayUs

  /** One event-series grain: events per (event_type, `bucket`) — or per
    * (`bucket`, event_type) when `typeFirst` is false — where the bucket
    * is `ts_us div unitUs`, measured as a row count or, with `cents`,
    * as the exact cent sum of `value`. */
  final class Grain private[EventSeries] (bucket: String, unitUs: Long, measure: String,
                                          typeFirst: Boolean, cents: Boolean)
      extends (DataFrame => DataFrame) {
    private def keys = if (typeFirst) Seq("event_type", bucket) else Seq(bucket, "event_type")

    /** The grain over raw (event_type, ts_us[, value]) events. */
    def apply(ev: DataFrame): DataFrame = {
      val key = Map("event_type" -> col("event_type"),
        bucket -> intDiv(col("ts_us"), lit(unitUs)).as(bucket))
      val value = if (cents) Seq(valueCents(col("value")).as("cents")) else Nil
      ev.select(keys.map(key) ++ value: _*)
        .groupBy(keys.map(col): _*)
        .agg((if (cents) sum("cents") else count(lit(1))).as(measure))
    }

    /** Delta rows of this grain (a monitor's committed micro-batches)
      * folded to one row per key, the measure summed. */
    def fold(deltas: DataFrame): DataFrame =
      deltas.groupBy(keys.map(col): _*).agg(sum(measure).as(measure))
  }

  /** (event_type, hour, n): events per type and hour. */
  val hourlyCounts = new Grain("hour", HourUs, "n", typeFirst = true, cents = false)

  /** (event_type, day, c): events per type and day. */
  val dailyCounts = new Grain("day", DayUs, "c", typeFirst = true, cents = false)

  /** (event_type, day, y): exact cents of `value` per type and day. */
  val dailyCents = new Grain("day", DayUs, "y", typeFirst = true, cents = true)

  /** (week, event_type, c): events per week and type. */
  val weeklyCounts = new Grain("week", WeekUs, "c", typeFirst = false, cents = false)

  /** #23: tumbling 1-hour windowed aggregation over the event stream. */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr(s"ts_us div ${HourUs}L"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy("hour_bucket", "event_type")

  /** ROLLUP over (event_type, hour): per-cell, per-type, and grand
    * totals in one aggregation pass (grouping-sets coverage). */
  def eventsRollup(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr(s"ts_us div ${HourUs}L"))
      .rollup("event_type", "hour_bucket")
      .agg(count(lit(1)).as("n"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("hour_bucket").asc_nulls_first)

  /** CUBE grouping sets: all four (event_type × hour) marginal
    * combinations in one pass — completes the grouping-sets surface
    * next to ROLLUP. */
  def eventsCube(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr(s"ts_us div ${HourUs}L"))
      .cube("event_type", "hour_bucket")
      .agg(count(lit(1)).as("n"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("hour_bucket").asc_nulls_first)

  /** Distinct users per hour — the shuffle-heavy distinct-agg shape
    * (expands to a two-level aggregation; AQE coalesces the tail). */
  def distinctUsersHour(spark: SparkSession, dir: String): DataFrame =
    Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr(s"ts_us div ${HourUs}L"))
      .groupBy("hour_bucket")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("hour_bucket")

  /** Hour-over-hour movement per event type: hourly count + exact cents
    * sum, with the previous OBSERVED hour's count and the delta (the
    * lag skips empty hours — sparse grain, no zero-fill scan). The lag
    * window runs over the hourly AGGREGATE (O(types × hours) rows), so
    * its per-type partitions are trivially small at any input scale. */
  def hourlyChange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hour")
    Dedup.eventsUs(spark, dir)
      .select(col("event_type"), expr(s"ts_us div ${HourUs}L").as("hour"),
        valueCents(col("value")).as("cents"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .withColumn("prev_n", coalesce(lag("n", 1).over(w), lit(0L)))
      .withColumn("delta_n", col("n") - col("prev_n"))
      .orderBy("event_type", "hour")
  }

  /** Trailing-7-day revenue per event type on the daily aggregate via
    * a RANGE frame over the integer day (gaps in sparse days are
    * handled by the frame bound itself — no zero-fill, no explode).
    * The window runs over O(types × days) aggregate rows, so per-type
    * partitions stay trivial at any input scale. Exact integer cents. */
  def rollingWeek(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    Dedup.eventsUs(spark, dir)
      .select(col("event_type"), expr(s"ts_us div ${DayUs}L").as("day"),
        valueCents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum("cents").as("day_cents"))
      .withColumn("w7_n", sum("n").over(w))
      .withColumn("w7_cents", sum("day_cents").over(w))
      .orderBy("event_type", "day")
  }

  /** Activity seasonality matrix: event count per (hour-of-day ×
    * day-of-week) cell plus each cell's ratio4 share of its day's
    * total. Grains are pure epoch integer arithmetic (hod = hour mod
    * 24, dow = day mod 7 — epoch-relative, deliberately calendar-free
    * so the bucketing is engine- and timezone-independent). One
    * partial-aggregable shuffle on 168 keys; the day-total is a window
    * over the aggregate. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val wD = Window.partitionBy("dow")
    Dedup.eventsUs(spark, dir)
      .select(expr(s"(ts_us div ${HourUs}L) % 24").as("hod"),
        expr(s"(ts_us div ${DayUs}L) % 7").as("dow"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n"))
      .withColumn("day_share", ratio4(col("n"), sum("n").over(wD)))
      .orderBy("dow", "hod")
  }

  /** DENSE per-type hourly count grid (missing hours count 0) over the
    * corpus hour range — the shared substrate of every hourly
    * time-series panel here (lag-k and cumulative-sum windows over a
    * sparse frame would silently compare non-adjacent hours). One
    * (type, hour) groupBy is the only corpus-sized shuffle; the hour
    * range and the type set are re-derived from the O(types × hours)
    * count frame, not extra event scans. */
  def denseHourlyCounts(spark: SparkSession, dir: String): DataFrame =
    densify(sparseHourlyCounts(spark, dir))

  /** The raw (event_type, hour, n) count frame — the state a streaming
    * monitor maintains incrementally (counts are a ℤ-group: folding
    * micro-batch deltas equals recounting; StreamDrift). */
  def sparseHourlyCounts(spark: SparkSession, dir: String): DataFrame =
    hourlyCounts(Dedup.eventsUs(spark, dir))

  /** Sparse (event_type, hour, n) → the dense grid. */
  def densify(counts0: DataFrame): DataFrame = {
    val counts = counts0.localCheckpoint()
    val rng = counts.agg(min("hour").as("h0"), max("hour").as("h1"))
    val types = counts.select("event_type").distinct()
    types.crossJoin(broadcast(rng))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hour"))
      .join(counts, Seq("event_type", "hour"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }

  /** #200 `events_forecast_error`: seasonal-naive backtest of the
    * hourly event-count series, per event type. Forecast for hour h is
    * the count at h−24 (period-24 seasonal naive — the standard
    * no-model baseline any real forecaster must beat); the panel
    * reports, over every hour with a defined forecast, the absolute
    * error total, exact-ratio4 MAE, and MASE (seasonal error scaled by
    * the lag-1 persistence error over the same hours — the
    * scale-free "is seasonality real here" score; MASE < 1 means the
    * daily cycle explains more than plain persistence).
    *
    * The hour grid is DENSE (missing hours count 0, via an exploded
    * `sequence` over the corpus hour range) — lag-k over a sparse
    * frame would silently compare non-adjacent hours. All errors are
    * integer counts; MAE/MASE are exact int64 rationals. Shape: one
    * (type,hour) groupBy is the only corpus-sized shuffle; the grid,
    * lag windows and rollup are O(types × hours). The lag-1 error sum
    * is floor-guarded at 1 (a constant series has zero persistence
    * error; the guard only fires when MASE is meaningless anyway). */
  def forecastError(spark: SparkSession, dir: String): DataFrame = {
    val grid = denseHourlyCounts(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("hour")
    grid
      .withColumn("l24", lag("n", 24).over(w))
      .withColumn("l1", lag("n", 1).over(w))
      .filter(col("l24").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("n").as("total_events"),
        sum(abs(col("n") - col("l24"))).as("sae_seasonal"),
        sum(abs(col("n") - col("l1"))).as("sae_naive"))
      .select(col("event_type"), col("n_hours"), col("total_events"),
        col("sae_seasonal"), col("sae_naive"),
        ratio4(col("sae_seasonal"), col("n_hours")).as("mae4"),
        ratio4(col("sae_seasonal"), greatest(col("sae_naive"), lit(1L))).as("mase4"))
      .orderBy("event_type")
  }

  /** CUSUM drift threshold, in mean-hours of cumulative excess: a
    * drift fires once a type's event rate has run a cumulative
    * [[CusumLambdaMeanHours]]·mean events above its corpus-lifetime
    * mean since the last reset. */
  val CusumLambdaMeanHours = 3L

  /** #214 `events_cusum_drift`: exact one-sided CUSUM change-point
    * panel over the dense per-type hourly count series.
    *
    * Let H = #hours, T = total events of the type, and the scaled
    * residual r_h = n_h·H − T (integer, mean exactly 0 over the
    * range — no rational target, no rounding anywhere). The classic
    * recursive CUSUM S_h = max(0, S_{h−1} + r_h) is not a window
    * aggregate, but its closed form is: S_h = C_h − min(0, min_{j≤h}
    * C_j) with C the running sum of r (the 0 is the empty prefix —
    * dropping it understates every excursion that starts at hour
    * one) — one cumulative sum plus one running min (and the
    * mirrored running max for the downward side), all ordinary
    * per-type windows. A drift flags when
    * S_h > λ·T·… — in these units λ mean-hours of excess is exactly
    * λ·T·1 (one hour at 2×mean contributes T) — so the whole panel is
    * int64 arithmetic, bit-identical on any engine and cluster layout.
    *
    * Shape: the grid's (type, hour) groupBy is the only corpus-sized
    * shuffle; every window partitions by event_type over O(types ×
    * hours) rows. Overflow: |C| ≤ T·H — safe to T·H < 9e18 (at 10¹²
    * events over 10⁵ hours: 10¹⁷, still inside int64).
    *
    * Output per type: peak upward excursion and its earliest peak
    * hour, flagged-hour count, earliest flagged hour (NULL when the
    * type never drifts), and the peak downward excursion. */
  def cusumDrift(spark: SparkSession, dir: String,
                 lambdaMeanHours: Long = CusumLambdaMeanHours): DataFrame =
    cusumOfCounts(sparseHourlyCounts(spark, dir), lambdaMeanHours)

  /** [[cusumDrift]] core over ANY sparse (event_type, hour, n) counts
    * frame — the folded state of a streaming monitor (StreamDrift)
    * evaluates on the same path as the batch panel. */
  def cusumOfCounts(counts: DataFrame,
                    lambdaMeanHours: Long = CusumLambdaMeanHours): DataFrame = {
    val grid = densify(counts)
    val tot = grid.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("n").as("total_events"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = grid.join(broadcast(tot), "event_type")
      .withColumn("r", col("n") * col("n_hours") - col("total_events"))
      .withColumn("c", sum("r").over(w))
      .withColumn("s_pos", col("c") - least(lit(0L), min("c").over(w)))
      .withColumn("s_neg", greatest(lit(0L), max("c").over(w)) - col("c"))
      .withColumn("flagged",
        col("s_pos") > col("total_events") * lambdaMeanHours)
    s.groupBy("event_type")
      .agg(
        first("n_hours").as("n_hours"),
        first("total_events").as("total_events"),
        max("s_pos").as("s_pos_max"),
        // earliest hour attaining the peak — deterministic argmax as a
        // partial-aggregable min-struct, no extra window pass
        min(struct((-col("s_pos")).as("neg_s"), col("hour"))).as("pk"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        min(when(col("flagged"), col("hour"))).as("first_flag_hour"),
        max("s_neg").as("s_neg_max"))
      .select(col("event_type"), col("n_hours"), col("total_events"),
        col("s_pos_max"), col("pk.hour").as("peak_hour"), col("n_flagged"),
        col("first_flag_hour"), col("s_neg_max"))
      .orderBy("event_type")
  }

  /** ACF horizon: hourly lags 1..36 cover the daily cycle (24) with
    * margin on both sides. */
  val MaxAcfLag = 36

  /** #221 `events_autocorrelation`: exact integer autocorrelation of
    * the dense per-type hourly count series at lags 1..[[MaxAcfLag]] —
    * the panel that JUSTIFIES (or refutes) the period-24 choice baked
    * into the seasonal-naive backtest (#200) and the seasonality
    * profile: a real daily cycle shows as the ACF peaking at lag 24.
    *
    * Exactness: residuals r_h = n_h − m with m the HALF_UP integer
    * mean (the ≤½-per-hour centering bias is bounded and identical on
    * every engine — the alternative exact centering n·H−T squares to
    * overflow at large scale); numerator Σ r_h·r_{h+L} and denominator
    * Σ r² are exact int64 sums, and the exported ACF is ONE IEEE
    * long→double division (bit-identical cross-engine, like the
    * dim-stats means). Overflow bound: Σr² ≤ H·max(n)² — inside int64
    * through 10⁹ events/hour over 10⁵ hours.
    *
    * Shape: the lag pairing is an equi-join of the O(types × hours ×
    * lags) exploded frame against the O(types × hours) residual frame
    * on (type, hour) — hash-partitioned, never a window per lag (36
    * window passes) and never a cross join; the residual frame is
    * checkpointed once and feeds both join sides and the denominator. */
  def autocorrelation(spark: SparkSession, dir: String,
                      maxLag: Int = MaxAcfLag): DataFrame = {
    val grid = denseHourlyCounts(spark, dir)
    val tot = grid.groupBy("event_type")
      .agg(count(lit(1)).as("h"), sum("n").as("t"))
    val r = grid.join(broadcast(tot), "event_type")
      .withColumn("m", halfUpDiv(col("t"), col("h")))
      .select(col("event_type"), col("hour"), (col("n") - col("m")).as("r"))
      .localCheckpoint()
    val den = r.groupBy("event_type")
      .agg(sum(col("r") * col("r")).as("den"))
    val shifted = r
      .withColumn("lag_h", explode(sequence(lit(1L), lit(maxLag.toLong))))
      .select(col("event_type"), (col("hour") + col("lag_h")).as("hour"),
        col("lag_h"), col("r").as("r0"))
    shifted.join(r, Seq("event_type", "hour"))
      .groupBy("event_type", "lag_h")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("r0") * col("r")).as("num"))
      .join(broadcast(den), "event_type")
      .select(col("event_type"), col("lag_h"), col("n_pairs"), col("num"),
        col("den"),
        (col("num").cast("double") /
          greatest(col("den"), lit(1L)).cast("double")).as("acf"))
      .orderBy("event_type", "lag_h")
  }

  /** `events_peak_concurrency`: max simultaneous open sessions per day
    * — the interval-sweep (plus-minus counting) operator capacity
    * planning reads: every session contributes a +1 point at its start
    * and a −1 at its end, the running sum over the GLOBAL time order
    * is the live-session count, and the per-day max of that count is
    * the peak. Ties order starts BEFORE ends (delta descending), so a
    * single-event session (start == end) still registers and two
    * sessions touching at an instant count as overlapping — the
    * conservative capacity answer.
    *
    * Shape: points are 2× the session list (session-sized, never
    * corpus-sized); the running sum is ONE native range-partitioned
    * [[Ranking.globalPrefixSum]] pass — never a single-partition
    * window over the timeline; the day rollup is partial-aggregable.
    * This is the 100 TB form of the classic sweep line: sorting IS the
    * shuffle, and everything after it is O(points). */
  def peakConcurrency(spark: SparkSession, dir: String,
                      gapUs: Long = 1800L * 1000000L): DataFrame = {
    val sess = EventUsers.sessionize(spark, dir, gapUs)
      .select("user_id", "session_idx", "start_us", "end_us")
    val pts = sess.select(col("start_us").as("t"), lit(1L).as("delta"),
        col("user_id"), col("session_idx"))
      .unionByName(sess.select(col("end_us").as("t"), lit(-1L).as("delta"),
        col("user_id"), col("session_idx")))
    val run = Ranking.globalPrefixSum(pts,
        Seq(col("t"), col("delta").desc, col("user_id"), col("session_idx")),
        "delta", "prefix")
      .withColumn("conc", col("prefix") + col("delta"))
    run.groupBy(intDiv(col("t"), lit(DayUs))
        .as("day_bucket"))
      .agg(max("conc").as("peak_concurrency"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions_started"))
      .orderBy("day_bucket")
  }

  /** `events_symbolic_motifs`: SAX-style motif mining over the dense
    * hourly grid, with RANK-based symbolization instead of the
    * published gaussian breakpoints — each hour's count maps to a
    * quartile symbol by its exact rank within the type
    * (sym = (rank−1)·4 div n_hours), so the alphabet is
    * distribution-free and engine-exact where z-scored breakpoints
    * are a float lottery (documented variant, same discretize-then-
    * count-motifs shape as SAX). Motifs are 3-hour symbol trigrams on
    * the DENSE grid (missing hours count 0 — a sparse frame would
    * concatenate non-adjacent hours); the panel reports each type's
    * top-3 recurring shapes, the "what does a normal day look like"
    * summary next to the seasonality/anomaly panels.
    *
    * Shape: one corpus-sized (type, hour) shuffle (the shared dense
    * substrate); ranking, motif windows and top-K all run partitioned
    * per type over the O(types × hours) grid. */
  def symbolicMotifs(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val wT = Window.partitionBy("event_type").orderBy("n", "hour")
    val wN = Window.partitionBy("event_type")
    val wH = Window.partitionBy("event_type").orderBy("hour")
    val sym = denseHourlyCounts(spark, dir)
      .withColumn("rnk", row_number().over(wT).cast("long"))
      .withColumn("nh", count(lit(1)).over(wN))
      .withColumn("sym", intDiv((col("rnk") - 1L) * 4L, col("nh")))
    val motifs = sym
      .withColumn("s1", lead("sym", 1).over(wH))
      .withColumn("s2", lead("sym", 2).over(wH))
      .filter(col("s2").isNotNull)
      .withColumn("motif", concat_ws("", col("sym"), col("s1"), col("s2")))
      .groupBy("event_type", "motif").agg(count(lit(1)).as("n_occ"))
    val wTop = Window.partitionBy("event_type")
      .orderBy(col("n_occ").desc, col("motif"))
    motifs
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= topK)
      .select("event_type", "rank", "motif", "n_occ")
      .orderBy("event_type", "rank")
  }

  /** `events_dow_hour_heatmap`: the weekly activity grid — events,
    * distinct users and spend per (day-of-week, hour-of-day) cell.
    * Both coordinates are pure integer arithmetic on epoch µs
    * (dow = (day_index + 3) mod 7 with 0 = Monday, because
    * 1970-01-01 was a Thursday; hour = (ts div 3.6e9) mod 24) — no
    * calendar/timezone functions, so bucket edges are identical in
    * any engine and any session timezone.
    *
    * Shape: ONE partial-aggregable (dow, hour) shuffle (distinct-user
    * is per-cell partial-aggregable too); output is the fixed 168-cell
    * grid regardless of corpus size. */
  def dowHourHeatmap(spark: SparkSession, dir: String): DataFrame = {
    Dedup.eventsUs(spark, dir)
      .select(
        expr(s"((ts_us div ${DayUs}L) + 3) % 7").as("dow"),
        expr(s"(ts_us div ${HourUs}L) % 24").as("hour"),
        col("user_id"), valueCents(col("value")).as("cents"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("spend_cents"))
      .orderBy("dow", "hour")
  }

  /** Bucket widths (hours) for [[fanoSpectrum]] — a dyadic ladder plus
    * the daily scale. */
  val FanoWidthsH: Seq[Long] = Seq(1L, 2L, 4L, 8L, 24L)

  /** `events_fano_spectrum`: multi-scale dispersion — the Fano factor
    * (variance-to-mean of bucket counts over the DENSE bucket grid) of
    * each event type at widths 1/2/4/8/24 h. `events_burstiness`
    * (#296) grades each USER at the single hourly scale; this is the
    * per-TYPE scale SPECTRUM: a Poisson-like feed holds Fano ≈ 1 at
    * every width, while session-clumped or daily-cyclic traffic shows
    * Fano GROWING with width (clumps aggregate into heavier buckets) —
    * which width it departs at tells an anomaly detector the
    * correlation horizon to model. Exact algebra: F = (S·Σc² − (Σc)²)
    * / (S·Σc) over int64 moments with S = dense slot count from the
    * global span (empty slots carry zero mass but enter S), released
    * via one halfUp ratio4 — Cauchy–Schwarz keeps the numerator ≥ 0.
    *
    * Shape: ONE (type, hour) base aggregate (map-side combinable)
    * feeds every width — coarser cells re-aggregate from the hourly
    * frame, never from raw events; the span is a broadcast 1-row
    * frame; output O(types × widths). */
  def fanoSpectrum(spark: SparkSession, dir: String,
                   widths: Seq[Long] = FanoWidthsH): DataFrame = {
    val cells1 = hourlyCounts(Dedup.eventsUs(spark, dir))
      .withColumnRenamed("n", "c")
      .localCheckpoint(true)
    val span = cells1.agg(min("hour").as("h0"), max("hour").as("h1"))
    widths.map { w =>
        cells1.crossJoin(broadcast(span))
          .select(col("event_type"),
            intDiv(col("hour") - col("h0"), lit(w)).as("slot"), col("c"),
            (intDiv(col("h1") - col("h0"), lit(w)) + 1L).as("nslots"))
          .groupBy("event_type", "slot")
          .agg(sum("c").as("c"), max("nslots").as("nslots"))
          .groupBy("event_type")
          .agg(max("nslots").as("n_slots"), sum("c").as("n_events"),
            count(lit(1)).as("n_active_slots"),
            sum(col("c") * col("c")).as("s2"))
          .select(col("event_type"), lit(w).as("width_h"), col("n_slots"),
            col("n_events"), col("n_active_slots"),
            ratio4(col("n_slots") * col("s2") - col("n_events") * col("n_events"),
              col("n_slots") * col("n_events")).as("fano4"))
      }
      .reduce(_ unionAll _)
      .orderBy("event_type", "width_h")
  }

  /** `events_trend_ols`: grouped ordinary-least-squares trend — per
    * event type, the exact-rational OLS slope/intercept of daily spend
    * (cents) over the day index, plus the fit's r² in ppm. The missing
    * member of the trend family: forecastError grades a SEASONAL-NAIVE
    * model, cusumDrift detects level SHIFTS — this fits the level's
    * LINE, the primitive a mix planner reads to see which sources are
    * growing vs decaying.
    *
    * Numeric discipline: all sums are exact int64 over (x = day index
    * from the corpus' first day, y = daily cents); slope = (nΣxy −
    * ΣxΣy)/(nΣx² − (Σx)²) and intercept are released through the
    * signed ratio4 form (sign × halfUp(|num|·10⁴, den), one IEEE
    * divide by 10⁴ — both engines truncate identically because the
    * division is always on the non-negative numerator). r² squares the
    * slope numerator, which overflows int64 at large SFs, so that one
    * ratio is computed in DECIMAL(38,0) (DuckDB: HUGEINT) — exact
    * integer arithmetic in both engines, then one halfUp to ppm.
    *
    * Shape at scale: one map-side-combinable (type, day) aggregate
    * over the scan, then an O(types × days) second aggregate carrying
    * five running sums — the classic two-level distributive-moment
    * plan; the 1-row day-origin frame broadcasts. */
  def trendOls(spark: SparkSession, dir: String): DataFrame =
    trendOlsOfDaily(dailyCents(Dedup.eventsUs(spark, dir)))

  /** [[trendOls]]'s algebra over an already-aggregated
    * (event_type, day, y) frame — ONE definition, two runtimes: the
    * batch query aggregates raw events; the streaming monitor
    * ([[graft.streaming.StreamTrend]]) maintains the daily sums as
    * ℤ-group deltas and evaluates THIS on the folded state (daily
    * cents sums are distributive, so stream ≡ batch exactly). */
  def trendOlsOfDaily(daily: DataFrame): DataFrame = {
    val day0 = daily.agg(min("day").as("day0"))
    daily.crossJoin(broadcast(day0))
      .withColumn("x", col("day") - col("day0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .withColumn("sn", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("sd", col("n_days") * col("sxx") - col("sx") * col("sx"))
      // the intercept numerator Σy·Σx² − Σx·Σxy outgrows int64 at
      // commerce magnitudes — decimal from the start
      .withColumn("iin", expr(
        "CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy"))
      .withColumn("syy_n", expr(
        "CAST(n_days AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))"))
      // halfUp as (2·num + den) DIV (2·den): DIV on decimals returns
      // BIGINT, so only the ≤10⁶ RESULT may be a long — a den DIV 2
      // intermediate would itself overflow int64 at large SFs
      .withColumn("r2_ppm", expr(
        """CASE WHEN sd = 0 OR syy_n = 0 THEN NULL
          |ELSE CAST((2 * CAST(sn AS DECIMAL(38,0)) * CAST(sn AS DECIMAL(38,0)) * 1000000
          |  + CAST(sd AS DECIMAL(38,0)) * syy_n)
          |  DIV (2 * CAST(sd AS DECIMAL(38,0)) * syy_n) AS BIGINT) END""".stripMargin))
      .select(col("event_type"), col("n_days"), col("sy").as("total_cents"),
        signed4("sn", "sd").as("slope_cents"),
        signed4("iin", "sd").as("icept_cents"),
        col("r2_ppm"))
      .orderBy("event_type")
  }

  /** `events_burstiness`: per-user Fano factor of hourly event counts
    * over the corpus observation window — the DISPERSION companion to
    * `events_bot_regularity` (#177 reads gap variance; THIS reads
    * count dispersion): Fano = var/mean of the user's per-hour counts
    * across ALL H observed hours (zero hours included — they are what
    * distinguishes bursty from steady). Fano ≈ 1 is Poisson-like
    * human arrival; ≪ 1 is metronome-regular (bots); ≫ 1 is bursty
    * (sessions, scripted batches). Exact int64 end to end:
    * var/mean = (H·Σc² − n²)/(H·n), exported as ratio4 — the
    * numerator is ≥ 0 by Cauchy–Schwarz, so halfUp stays in the
    * floor==trunc regime on both engines.
    *
    * Shape: one (user, hour) keyed count, one user rollup (both
    * partial-aggregable), the 1-row hour span broadcast. O(users)
    * output. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val hours = Dedup.eventsUs(spark, dir)
      .select(col("user_id"), intDiv(col("ts_us"), lit(HourUs)).as("hour"))
    val cells = hours.groupBy("user_id", "hour").agg(count(lit(1)).as("c"))
    val span = hours.agg((max("hour") - min("hour") + 1L).as("h"))
    cells.groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_active_hours"),
        sum(col("c") * col("c")).as("s2"))
      .crossJoin(broadcast(span))
      .select(col("user_id"), col("n_events"), col("n_active_hours"),
        ratio4(col("h") * col("s2") - col("n_events") * col("n_events"),
          col("h") * col("n_events")).as("fano4"))
      .orderBy("user_id")
  }

  /** `events_type_drift`: week-over-week event-type mix shift — per
    * week (except the first), the L1 distance between this week's and
    * the previous week's type distribution in exact ppm, plus the
    * single type that moved most (the headline a drift alert prints).
    * The behavioral-mix twin of `events_cusum_drift` (#214 watches a
    * LEVEL; this watches the COMPOSITION): a product launch, a bot
    * campaign or an instrumentation change all show as an L1 spike
    * with the culprit type named.
    *
    * Shape: one (week, type) keyed count, ppm against the week total,
    * zero-filled over the dense O(weeks·types) grid built FROM THE
    * AGGREGATE (absent cells must contribute their full ppm to the
    * L1, not vanish), one lag window per type over aggregate rows.
    * Nothing touches raw events twice. */
  def typeDrift(spark: SparkSession, dir: String): DataFrame =
    typeDriftOfCounts(weeklyCounts(Dedup.eventsUs(spark, dir)).localCheckpoint())

  /** [[typeDrift]]'s algebra over an already-aggregated
    * (week, event_type, c) frame — ONE definition, two runtimes: the
    * batch query aggregates raw events; the streaming monitor
    * ([[graft.streaming.StreamDrift.compositionPanel]]) maintains the
    * same counts incrementally and a reviewer derives the identical
    * drift table from the sink. */
  def typeDriftOfCounts(wk: DataFrame): DataFrame = {
    val tot = wk.groupBy("week").agg(sum("c").as("t"))
    val ppm = wk.join(tot, "week")
      .select(col("week"), col("event_type"),
        halfUpDiv(col("c") * 1000000L, col("t")).as("ppm"))
    val grid = wk.select("week").distinct()
      .crossJoin(broadcast(wk.select("event_type").distinct()))
    val w = Window.partitionBy("event_type").orderBy("week")
    val diffs = grid.join(ppm, Seq("week", "event_type"), "left")
      .withColumn("ppm", coalesce(col("ppm"), lit(0L)))
      .withColumn("prev", lag("ppm", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("d", abs(col("ppm") - col("prev")))
    diffs.groupBy("week")
      .agg(sum("d").as("l1_ppm"),
        max(struct(col("d"), col("event_type"))).as("m"))
      .select(col("week"), col("l1_ppm"),
        col("m.event_type").as("top_mover"), col("m.d").as("top_delta_ppm"))
      .orderBy("week")
  }

  /** Fixed-point scale for the Theil–Sen slope ORDER key:
    * floor(|Δy|·10⁷ / Δx), sign re-applied. Distinct slope rationals
    * with day-denominators ≤ D differ by ≥ 1/D², so the scaled gap is
    * ≥ 10⁷/D² — strictly > 1 (no false key tie) for any corpus span up
    * to D ≈ 3100 days (~8.5 years); equal rationals reduce to equal
    * keys by the reduced-form argument (floor(m·p·K/(m·q)) =
    * floor(p·K/q)). The key is therefore an EXACT total order on the
    * slope values at any realistic span, in pure int64. */
  val SlopeKeyScale: Long = 10000000L

  /** Signed ratio4 release with the numerator promoted to DECIMAL(38,0);
    * `numName`/`denName` are COLUMN NAMES resolved in the frame. The
    * int64 halfUpDiv form caps |num| at ~9.2e14 (num·10⁴ must fit a
    * long), which commerce-scale cents sums exceed (#346 reuses the
    * OLS algebra on orders revenue). The decimal (2n+d) DIV 2d form is
    * the SAME exact rational with the SAME rounding — for d=2m both
    * reduce to floor((n+m)/d); for d=2m+1 the extra +1 in
    * (2n+2m+1)/(2d) can never reach the next multiple — and only the
    * small RESULT returns to int64 (DIV on decimals yields BIGINT). */
  private def signed4(numName: String, denName: String): Column = {
    val q = expr(s"""CAST((2 * CAST(abs($numName) AS DECIMAL(38,0)) * 10000
      |  + CAST($denName AS DECIMAL(38,0)))
      |  DIV (2 * CAST($denName AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
    when(col(denName) === 0L, lit(null).cast("double"))
      .otherwise(when(col(numName) < 0L, lit(-1.0)).otherwise(lit(1.0)) *
        (q / lit(10000.0)))
  }

  /** `events_changepoint`: per event type, the Taylor-style offline
    * CUSUM changepoint of DAILY VOLUME — the split k of the dense
    * daily-count series maximizing |n·S₁(k) − k·S| (the cumulative
    * sum's peak deviation from its expected line; ties → earliest
    * day). The family's missing locator: cusumDrift (#214) monitors
    * "something moved" online, this answers WHERE it moved and by how
    * much, with both segment means and the split's explained share of
    * total variance. The dense grid (empty days count 0, same
    * discipline as fanoSpectrum) is what makes a traffic outage a
    * level shift instead of a missing row.
    *
    * Exact algebra: the argmax key g = |n·S₁ − k·S| is pure int64
    * (n·S ≤ span-days × corpus-events ≈ 2e13 even at sf1000); g is
    * ALSO the between-segment sum-of-squares numerator (n₂S₁ − n₁S₂ =
    * n·S₁ − n₁·S), so the released gain_ppm = g²·10⁶ / (n₁·n₂·T) with
    * T = n·Σc² − S² is the split's explained variance share — g² and
    * n₁n₂T outgrow int64, so that one ratio runs in DECIMAL(38,0)
    * (DuckDB HUGEINT), halfUp to ppm, NULL on a constant series.
    *
    * Shape at scale: ONE map-side-combinable (type, day) count
    * aggregate over the scan; everything after lives on the
    * O(types × span-days) dense grid — the 1-row span broadcasts, the
    * cumulative window partitions by type, output O(types). */
  def changepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOfDaily(dailyCounts(Dedup.eventsUs(spark, dir)))

  /** [[changepoint]]'s algebra over an already-aggregated
    * (event_type, day, c) counts frame — ONE definition, two runtimes:
    * the batch query aggregates raw events; the streaming monitor
    * ([[graft.streaming.StreamChangepoint]]) maintains the daily
    * counts as ℤ-group deltas and evaluates THIS on the folded state
    * (counts are distributive, so stream ≡ batch exactly — the
    * [[trendOlsOfDaily]] discipline). */
  def changepointOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = dailyIn.localCheckpoint(true)
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val dense = daily.select("event_type").distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("c"), lit(0L)).as("c"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val st = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
    dense
      .withColumn("rn", row_number().over(byDay).cast("long"))
      .withColumn("s1", sum("c").over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(st, Seq("event_type"))
      .filter(col("rn") < col("n"))
      // signed between-SS numerator; |dnum| is the CUSUM peak key
      .withColumn("dnum", col("n") * col("s1") - col("rn") * col("s"))
      .withColumn("g", abs(col("dnum")))
      .withColumn("pick",
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("g").desc, col("day"))))
      .filter(col("pick") === 1)
      .withColumn("n1", col("rn"))
      .withColumn("n2", col("n") - col("rn"))
      // explained-variance share, DECIMAL(38,0) end to end: g² ≤ 4e26
      // and n₁n₂T ≤ 1e24 at sf100 both clear int64 but sit inside 38
      // digits with the ×10⁶ ppm scale
      .withColumn("bt", expr("""CAST(n1 AS DECIMAL(38,0)) * n2 *
        |(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s)"""
        .stripMargin))
      .withColumn("gain_ppm", expr(
        """CASE WHEN bt = 0 THEN NULL
          |ELSE CAST((2 * CAST(g AS DECIMAL(38,0)) * g * 1000000 + bt)
          |  DIV (2 * bt) AS BIGINT) END""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        col("s").as("n_events"), (col("day") + 1L).as("split_day"),
        col("n1").as("n_left"), col("n2").as("n_right"),
        ratio4(col("s1"), col("n1")).as("mean_left4"),
        ratio4(col("s") - col("s1"), col("n2")).as("mean_right4"),
        col("g").as("cusum_peak"), col("gain_ppm"))
      .orderBy("event_type")
  }

  /** `events_friedman_dow`: nonparametric day-of-week effect strength
    * — per event type, the Friedman rank statistic over complete
    * Monday-aligned weeks: within each week the 7 daily counts are
    * ranked (ties → average rank), and Q = 12/(nk(k+1))·ΣR_j² −
    * 3n(k+1) measures how consistently the dows order across weeks
    * (Q ≈ 0 = no weekly rhythm; large Q = a stable rhythm — the
    * rank-based, outlier-proof companion to the mean-based
    * seasonality panel #137: one viral day can fake a mean dow
    * effect, it cannot fake a rank that repeats every week). Also
    * released: the busiest dow by total rank and its mean rank.
    *
    * Exactness: average ranks are half-integers, so everything runs
    * on DOUBLED ranks (rank2 = 2·rank(min) + ties − 1, pure int64 —
    * rank()/count() windows, no floats); Q rewrites to the exact
    * rational (3·ΣR2² − 3n²k(k+1)²)/(n·k·(k+1)), non-negative by
    * Cauchy–Schwarz (total rank mass per week is invariant), one
    * halfUp ratio4. Weeks use the heatmap's (day+3) convention
    * (dow 0 = Monday); partial boundary weeks are excluded — a
    * 5-day week would rank against missing days.
    *
    * Shape: ONE map-side-combinable (type, day) count aggregate;
    * the dense week grid, ranking windows and rollups all live on
    * O(types × weeks × 7) rows. */
  def friedmanDow(spark: SparkSession, dir: String): DataFrame =
    friedmanDowOfDaily(dailyCounts(Dedup.eventsUs(spark, dir)))

  /** [[friedmanDow]]'s algebra over an already-aggregated
    * (event_type, day, c) counts frame — the SAME daily-count
    * substrate [[changepointOfDaily]] reads, so the streaming monitor
    * ([[graft.streaming.StreamChangepoint]]) evaluates BOTH panels
    * from one TxnParquet delta log (one state, two rhythm readings:
    * where the level moved, and whether the weekly rhythm holds). */
  def friedmanDowOfDaily(dailyIn: DataFrame): DataFrame = {
    val daily = dailyIn.localCheckpoint(true)
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val dense = daily.select("event_type").distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"),
        col("d0"), col("d1"))
      .withColumn("wk", intDiv(col("day") + 3L, lit(7L)))
      // complete Monday-aligned weeks only: all 7 days inside the span
      .filter(col("wk") * 7L - 3L >= col("d0") &&
        col("wk") * 7L + 3L <= col("d1"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("wk"),
        ((col("day") + 3L) % 7L).as("dow"),
        coalesce(col("c"), lit(0L)).as("c"))
    val wRank = Window.partitionBy("event_type", "wk").orderBy("c")
    val wTies = Window.partitionBy("event_type", "wk", "c")
    val ranked = dense
      .withColumn("rank2",
        rank().over(wRank).cast("long") * 2L +
          count(lit(1)).over(wTies) - 1L)
    val perDow = ranked.groupBy("event_type", "dow")
      .agg(sum("rank2").as("r2"), countDistinct("wk").as("n_weeks"))
    perDow.groupBy("event_type")
      .agg(max("n_weeks").as("n_weeks"),
        sum(col("r2") * col("r2")).as("sr2sq"),
        min(struct((-col("r2")).as("nr2"), col("dow"))).as("m"))
      .filter(col("n_weeks") > 0L)
      .select(col("event_type"), col("n_weeks"),
        ratio4(lit(3L) * col("sr2sq") -
            lit(1344L) * col("n_weeks") * col("n_weeks"),
          lit(56L) * col("n_weeks")).as("friedman_q4"),
        col("m.dow").as("top_dow"),
        ratio4(-col("m.nr2"), lit(2L) * col("n_weeks")).as("top_mean_rank4"))
      .orderBy("event_type")
  }

  /** `events_theil_sen`: per event type, the Theil–Sen ROBUST trend of
    * daily spend — median of all pairwise slopes (y_j−y_i)/(x_j−x_i)
    * over the observed (day, cents) points, plus the matching median
    * residual intercept. The robust member of the trend family: OLS
    * (#338/#346) is leverage-sensitive — one promo day drags the line;
    * the median slope has a 29.3% breakdown point and is what a mix
    * planner should read when spend has heavy days.
    *
    * Exactness: pairwise slopes are rationals (Δcents, Δdays); the
    * median is selected by ordering on the [[SlopeKeyScale]] int64 key
    * (exact total order, proof at the constant), taking the LOWER
    * median (rank (m+1) div 2 — deterministic, documented). The
    * intercept re-uses the chosen slope p/q: residuals y_i − (p/q)x_i
    * order exactly by their integer numerators q·y_i − p·x_i (q
    * constant per type), lower median again, released as the signed
    * decimal ratio4 of (numerator, q). Every released value is a
    * function of the underlying RATIONAL only, so representation
    * ties ((p,q) vs (2p,2q)) cannot flip a bit.
    *
    * Shape at scale: the (type, day) cents aggregate is one map-side
    * combinable pass over the scan; pairs are a self-join of the
    * O(types × days) daily frame — O(types × days²) ≈ 10⁵ rows at any
    * SF (days grow with the calendar, not the corpus), so the
    * quadratic lives on the aggregate grain where it is free. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCents(Dedup.eventsUs(spark, dir)).localCheckpoint(true)
    val day0 = daily.agg(min("day").as("day0"))
    val pts = daily.crossJoin(broadcast(day0))
      .select(col("event_type"), (col("day") - col("day0")).as("x"), col("y"))
    val pairs = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") && col("b.x") > col("a.x"))
      .select(col("a.event_type").as("event_type"),
        (col("b.y") - col("a.y")).as("num"), (col("b.x") - col("a.x")).as("den"))
      .withColumn("key",
        when(col("num") < 0L, lit(-1L)).otherwise(lit(1L)) *
          intDiv(
            abs(col("num")) * lit(SlopeKeyScale), col("den")))
    val m = pairs.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
    val slope = pairs
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("key"), col("num"), col("den"))).cast("long"))
      .join(m, Seq("event_type"))
      .filter(col("rk") === intDiv(
        col("n_pairs") + 1L, lit(2L)))
      .select(col("event_type"), col("n_pairs"),
        col("num").as("p"), col("den").as("q"))
      .localCheckpoint(true)
    val resid = pts.join(slope, Seq("event_type"))
      // integer residual numerator over the constant denominator q:
      // q·y − p·x stays < 9.2e14 up to ~sf100 daily-cents magnitudes,
      // and the ratio releases through the DECIMAL signed4 regardless
      .withColumn("rnum", col("q") * col("y") - col("p") * col("x"))
    val nd = pts.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    resid
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("rnum"), col("x"))).cast("long"))
      .join(nd, Seq("event_type"))
      .filter(col("rk") === intDiv(
        col("n_days") + 1L, lit(2L)))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        signed4("p", "q").as("slope_cents"),
        signed4("rnum", "q").as("icept_cents"))
      .orderBy("event_type")
  }
}
