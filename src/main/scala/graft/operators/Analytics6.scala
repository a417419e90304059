package graft.operators

import graft.Substrate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forecast-quality analytics over the event stream. */
object Analytics6 {

  val UsPerHour = 3600000000L

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
  def sparseHourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.intDiv
    Dedup.eventsUs(spark, dir)
      .select(col("event_type"), intDiv(col("ts_us"), lit(UsPerHour)).as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
  }

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
    import graft.functions.Hashing.ratio4
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
    import graft.functions.Hashing.halfUpDiv
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

  /** Minimum pair support for [[basketPairs]] — singleton pairs carry
    * no co-occurrence signal and dominate the output volume. */
  val BasketMinSupport = 2L

  /** #223 `orders_basket_pairs`: market-basket part co-occurrence —
    * every pair of parts bought together in ≥ [[BasketMinSupport]]
    * orders, with per-part supports and the exact-rational LIFT
    * (N·supp(a,b) / (supp(a)·supp(b)), HALF_UP 1e-4 — lift > 1 ⇔ the
    * parts co-occur more than independence predicts; the association
    * signal behind "frequently bought together").
    *
    * Shape: pairs come from the lineitem SELF-join on l_orderkey —
    * co-partitioned on the order key and bounded per order by the
    * order's own line count (≤7 in TPC-H-shaped data; order size is a
    * data-model invariant, not a corpus-scale variable, so the pair
    * blow-up is a constant factor, never quadratic in the corpus).
    * Per-part supports are one partial-aggregable groupBy; they attach
    * to the surviving (support-filtered) pair frame by two joins of an
    * O(parts) frame. Lift overflow bound: supp(a,b)·N·10⁴ must fit
    * int64 — past ~10⁹ orders the ratio needs the ppm formulation. */
  def basketPairs(spark: SparkSession, dir: String,
                  minSupport: Long = BasketMinSupport): DataFrame =
    // session-memoized: the support-filtered pair frame is both a
    // registered query and `orders_assoc_rules`' whole input — the
    // lineitem self-join pipeline runs once per session for the two
    Substrate.basket(spark, dir, minSupport)

  /** `orders_assoc_rules`: directional association rules over the
    * basket pair frame — every surviving pair in BOTH directions
    * antecedent→consequent with exact-rational CONFIDENCE
    * (supp(a,b)/supp(a) = P(consequent | antecedent), HALF_UP 1e-4)
    * next to the shared symmetric lift. Confidence is the deployable
    * half of the association signal (a recommender reads "bought a →
    * also bought b" off exactly this table, thresholded on conf);
    * lift says whether the rule beats independence at all. The two
    * direction rows differ ONLY in confidence — that asymmetry (a
    * niche part implying a staple, never the reverse) is the point.
    *
    * Shape: [[basketPairs]]' own output (support-filtered, edge-sized,
    * checkpointed so the self-join pipeline runs once), symmetrized by
    * a union — no new corpus pass, output ≤ 2× the pair frame. */
  def assocRules(spark: SparkSession, dir: String,
                 minSupport: Long = BasketMinSupport): DataFrame = {
    import graft.functions.Hashing.ratio4
    // the memoized pair frame is already a checkpoint — both union
    // legs read it directly
    val pairs = basketPairs(spark, dir, minSupport)
    val sym = pairs.select(col("p1").as("ante"), col("p2").as("cons"),
        col("supp"), col("s1").as("s_ante"), col("lift4"))
      .unionByName(pairs.select(col("p2").as("ante"), col("p1").as("cons"),
        col("supp"), col("s2").as("s_ante"), col("lift4")))
    sym.select(col("ante"), col("cons"), col("supp"), col("s_ante"),
        ratio4(col("supp"), greatest(col("s_ante"), lit(1L))).as("conf4"),
        col("lift4"))
      .orderBy("ante", "cons")
  }

  /** `events_user_predictability`: the per-user behavioral
    * concentration histogram — per user, the Simpson concentration of
    * their event-type distribution (Σ c_t·(c_t−1) / n·(n−1), the
    * unbiased repeat-probability: "draw two of this user's events —
    * how likely the same type?"), banded into exact 0.05 steps
    * (band = simpson4 div 500) and rolled up to users/events per
    * band. The panel separates single-behavior accounts (band 20 —
    * scripted pollers, one event type forever) from diverse organic
    * users (low bands); the bot-regularity panel (#177) reads TIMING,
    * this reads the type MIX — log-free (the [[CorpusStats
    * .sourceSimpson]] discipline: entropy needs libm logs two engines
    * won't agree on; Simpson is exact integer algebra).
    *
    * Shape: one (user, type) count groupBy (partial-aggregable), one
    * O(users) rollup, one ≤21-row band rollup. Users with one event
    * land in band 0 by the n·(n−1)=0 → 0/1 guard — documented, not
    * special-cased. */
  def userPredictability(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, intDiv}
    val tf = Dedup.eventsUs(spark, dir)
      .select("user_id", "event_type")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val per = tf.groupBy("user_id")
      .agg(sum("c").as("n"), count(lit(1)).as("k"),
        sum(col("c") * (col("c") - 1L)).as("s2"))
      .select(col("user_id"), col("n"), col("k"),
        // the exact 1e-4 fixed-point numerator (banding must floor the
        // INTEGER, never a double quotient — the ratio4 discipline)
        halfUpDiv(col("s2") * 10000L,
          greatest(col("n") * (col("n") - 1L), lit(1L))).as("r4"))
    per.groupBy(intDiv(col("r4"), lit(500L)).as("band"))
      .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"),
        sum("k").as("sum_types"))
      .orderBy("band")
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
    val sess = Analytics.sessionize(spark, dir, gapUs)
      .select("user_id", "session_idx", "start_us", "end_us")
    val pts = sess.select(col("start_us").as("t"), lit(1L).as("delta"),
        col("user_id"), col("session_idx"))
      .unionByName(sess.select(col("end_us").as("t"), lit(-1L).as("delta"),
        col("user_id"), col("session_idx")))
    val run = graft.operators.Ranking.globalPrefixSum(pts,
        Seq(col("t"), col("delta").desc, col("user_id"), col("session_idx")),
        "delta", "prefix")
      .withColumn("conc", col("prefix") + col("delta"))
    run.groupBy(graft.functions.Hashing.intDiv(col("t"), lit(86400000000L))
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
    import graft.functions.Hashing.intDiv
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
    import graft.functions.Hashing.valueCents
    Dedup.eventsUs(spark, dir)
      .select(
        expr("((ts_us div 86400000000L) + 3) % 7").as("dow"),
        expr("(ts_us div 3600000000L) % 24").as("hour"),
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
    import graft.functions.Hashing.{intDiv, ratio4}
    val cells1 = Dedup.eventsUs(spark, dir)
      .select(col("event_type"),
        intDiv(col("ts_us"), lit(3600000000L)).as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("c"))
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
  def trendOls(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.{intDiv, valueCents}
    trendOlsOfDaily(Dedup.eventsUs(spark, dir)
      .select(col("event_type"),
        intDiv(col("ts_us"), lit(86400000000L)).as("day"),
        valueCents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("y")))
  }

  /** [[trendOls]]'s algebra over an already-aggregated
    * (event_type, day, y) frame — ONE definition, two runtimes: the
    * batch query aggregates raw events; the streaming monitor
    * ([[graft.streaming.StreamTrend]]) maintains the daily sums as
    * ℤ-group deltas and evaluates THIS on the folded state (daily
    * cents sums are distributive, so stream ≡ batch exactly). */
  def trendOlsOfDaily(daily: DataFrame): DataFrame = {
    val day0 = daily.agg(min("day").as("day0"))
    // Signed ratio4 with the numerator promoted to DECIMAL(38,0): the
    // int64 halfUpDiv form caps |num| at ~9.2e14 (num·10⁴ must fit a
    // long), which commerce-scale cents sums exceed (#346 reuses this
    // algebra on orders revenue). The decimal (2n+d) DIV 2d form is
    // the SAME exact rational with the SAME rounding — for d=2m both
    // reduce to floor((n+m)/d); for d=2m+1 the extra +1 in
    // (2n+2m+1)/(2d) can never reach the next multiple — and only the
    // small RESULT returns to int64 (DIV on decimals yields BIGINT).
    def signed4(numName: String, denName: String): Column = {
      val q = expr(s"""CAST((2 * CAST(abs($numName) AS DECIMAL(38,0)) * 10000
        |  + CAST($denName AS DECIMAL(38,0)))
        |  DIV (2 * CAST($denName AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
      when(col(denName) === 0L, lit(null).cast("double"))
        .otherwise(when(col(numName) < 0L, lit(-1.0)).otherwise(lit(1.0)) *
          (q / lit(10000.0)))
    }
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
}
