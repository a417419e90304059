package graft.operators

import graft.Partitioning._
import graft.functions.Hashing.{dec, halfUpDiv, intDiv, money2, ratio4, valueCents}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-user sequences of the event stream: gap sessions, running
  * totals, inter-event gaps, funnels and patterns, transitions,
  * cohorts and activity, paths, RFM segmentation and attribution. Each
  * panel rides one user_id shuffle where the shape allows; values stay
  * in exact integer cents and µs.
  */
object EventUsers {

  import EventSeries.{DayUs, HourUs}

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
      .withColumn("cents", valueCents(col("value")))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        sum("cents").over(wAll).as("running_cents"),
        sum("cents").over(w5).as("mov5_sum_cents"),
        count(lit(1)).over(w5).as("mov5_n"))
      .orderBy("event_id")
  }

  /** Gate and threshold for [[botRegularity]]: users with fewer gaps
    * aren't assessable; regularity at or below the threshold flags. */
  val MinGaps = 5L

  val BotRegularityMax = 0.2

  /** #177 `events_bot_regularity`: automated-traffic detection by
    * inter-event-gap REGULARITY — humans arrive bursty (gap dispersion
    * near the mean; an exponential arrival process has MAD/mean ≈
    * 0.74), schedulers and replay bots arrive metronomically
    * (dispersion near 0). Per user with ≥ [[MinGaps]] gaps: exact
    * integer mean gap (halfUp µs), exact mean absolute deviation
    * around that integer mean (MAD — deliberately NOT variance: |dev|
    * sums stay int64 at any event volume where gap² sums would
    * overflow), regularity = ratio4(MAD, mean), and the flag
    * (regularity ≤ [[BotRegularityMax]], or an all-identical-timestamp
    * user — mean 0, the degenerate perfectly-regular case, regularity
    * left NULL).
    *
    * One user_id shuffle end to end: the lag window, both aggregates
    * and the mean-join all ride the same hash partitioning (reused
    * exchange), so the second pass (deviations need the mean first —
    * inherent to any exact MAD) adds no new shuffle of the events. */
  def botRegularity(spark: SparkSession, dir: String): DataFrame =
    botRegularityOf(Dedup.eventsUs(spark, dir))

  /** [[botRegularity]] over any frame with (user_id, ts_us, event_id). */
  def botRegularityOf(ev: DataFrame): DataFrame =
    regularityOfGaps(gapsOf(ev))

  /** The per-user inter-event gap stream (user_id, gap) — the lag-window
    * stage of [[botRegularityOf]], exposed so the streaming twin
    * (streaming.StreamRegularity: one (ts, id) tuple of state per user)
    * can assert its emitted gap multiset equals this exactly. */
  def gapsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev.select("user_id", "ts_us", "event_id")
      .withColumn("prev", lag("ts_us", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("ts_us") - col("prev")).as("gap"))
  }

  /** The regularity panel over ANY (user_id, gap) frame — batch gaps
    * (the lag window) and accumulated streaming gaps produce identical
    * output, which is the parity contract StreamRegularitySpec pins. */
  def regularityOfGaps(gaps: DataFrame): DataFrame = {
    val m = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sum_gap"))
      .filter(col("n_gaps") >= MinGaps)
      .withColumn("mean_us", halfUpDiv(col("sum_gap"), col("n_gaps")))
    val dev = gaps.join(m.select("user_id", "mean_us"), "user_id")
      .groupBy("user_id")
      .agg(sum(abs(col("gap") - col("mean_us"))).as("sum_dev"))
    m.join(dev, "user_id")
      .withColumn("mad_us", halfUpDiv(col("sum_dev"), col("n_gaps")))
      .withColumn("regularity",
        when(col("mean_us") > 0L, ratio4(col("mad_us"), col("mean_us"))))
      .withColumn("is_bot",
        when(col("mean_us") === 0L, lit(true))
          .otherwise(col("regularity") <= lit(BotRegularityMax)))
      .select("user_id", "n_gaps", "mean_us", "mad_us", "regularity", "is_bot")
      .orderBy("user_id")
  }

  /** Human-scale gap buckets for [[gapHistogram]]: (rank, label,
    * exclusive upper bound in µs). The ladder is the SESSIONIZATION
    * evidence — the valley between the within-visit mass and the
    * between-visit mass is where the session gap belongs. */
  val GapBuckets: Seq[(Long, String, Long)] = Seq(
    (1L, "0",     1L),
    (2L, "<=1s",  1000000L),
    (3L, "<=10s", 10000000L),
    (4L, "<=60s", 60000000L),
    (5L, "<=5m",  300000000L),
    (6L, "<=30m", 1800000000L),
    (7L, "<=1h",  HourUs),
    (8L, "<=6h",  21600000000L),
    (9L, "<=24h", DayUs))

  /** #196 `events_gap_histogram`: the inter-event gap distribution over
    * human-scale buckets — per bucket: gaps, exact ratio4 share, and
    * the cumulative share. This is the panel that JUSTIFIES the 30-min
    * sessionization gap (#24) and the 12-h visit gap (#105): real
    * traffic is bimodal (within-visit seconds vs between-visit hours)
    * and the chosen gap must sit in the valley; a corpus whose
    * histogram has no valley has no natural session boundary.
    *
    * Shape: the shared lag-window gap stage ([[gapsOf]] — one user_id
    * shuffle), a CASE-ladder bucket per row (exact integer boundary
    * compares — no float log binning whose edge rounding differs
    * across engines), one O(buckets) partial-aggregable rollup, the
    * cumulative window over the O(10) bucket rows only. */
  def gapHistogram(spark: SparkSession, dir: String): DataFrame =
    gapHistogramOf(gapsOf(Dedup.eventsUs(spark, dir)))

  /** [[gapHistogram]] over ANY (user_id, gap) frame — batch lag-window
    * gaps or the accumulated StreamRegularity gap stream produce the
    * identical panel (the same two-layer parity contract as
    * [[regularityOfGaps]]; StreamRegularitySpec pins it). */
  def gapHistogramOf(gaps: DataFrame): DataFrame = {
    val bucketRank = GapBuckets.reverse.foldLeft(
      lit(GapBuckets.length + 1L)) { case (acc, (r, _, ub)) =>
        when(col("gap") < ub, lit(r)).otherwise(acc)
      }
    val labelOf = GapBuckets.map { case (r, l, _) => (r, l) } :+
      ((GapBuckets.length + 1L, ">24h"))
    val labelCol = labelOf.reverse.foldLeft(lit(">24h"): Column) {
      case (acc, (r, l)) => when(col("bucket_rank") === r, lit(l)).otherwise(acc)
    }
    val cells = gaps
      .withColumn("bucket_rank", bucketRank)
      .groupBy("bucket_rank")
      .agg(count(lit(1)).as("n_gaps"))
      .localCheckpoint()
    val tot = cells.agg(sum("n_gaps").as("t"))
    val w = Window.orderBy("bucket_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.crossJoin(broadcast(tot))
      .withColumn("cum_gaps", sum("n_gaps").over(w))
      .select(col("bucket_rank"), labelCol.as("bucket"), col("n_gaps"),
        ratio4(col("n_gaps"), col("t")).as("share"),
        ratio4(col("cum_gaps"), col("t")).as("cum_share"))
      .orderBy("bucket_rank")
  }

  /** Inter-event gap statistics per user (lag window): gap count, sum
    * and max in exact integer µs, plus the mean as a rounded double.
    * One shuffle on user_id; the window and the aggregation share it. */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Dedup.eventsUs(spark, dir)
      .select("user_id", "ts_us", "event_id")
      .withColumn("prev", lag("ts_us", 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap", col("ts_us") - col("prev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
           sum("gap").as("sum_gap_us"),
           max("gap").as("max_gap_us"),
           // exact-rational rounding (ratio4):
           // round() over the double quotient diverged between engines
           ratio4(sum("gap"), count(lit(1))).as("avg_gap_us"))
      .orderBy("user_id")
  }

  /** First-order transition counts between consecutive event types per
    * user (the Markov-chain statistics a behavioral model trains on),
    * with the per-from total riding a window over the aggregate so the
    * transition probability needs no second pass. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wFrom = Window.partitionBy("type_from")
    Dedup.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type").as("type_from"),
        lead("event_type", 1).over(w).as("type_to"))
      .filter(col("type_to").isNotNull)
      .groupBy("type_from", "type_to")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", ratio4(col("n"), sum("n").over(wFrom)))
      .orderBy("type_from", "type_to")
  }

  /** Within-session event-type co-occurrence — the market-basket
    * shape: for every UNORDERED pair of event types (emitted once,
    * lexicographically ordered), in how many user-sessions both occur. Distinct (session, type) rows self-join
    * on the session key (groups are session-sized, never corpus-sized)
    * and aggregate; the session index rides [[sessionIndexed]]'s
    * single user_id window pipeline. */
  def cooccurrence(spark: SparkSession, dir: String,
                   gapUs: Long = 1800L * 1000000L): DataFrame = {
    val d = sessionIndexed(spark, dir, gapUs)
      .select("user_id", "session_idx", "event_type")
      .distinct()
    d.as("a").join(d.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.session_idx") === col("b.session_idx") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("type_a", "type_b")
  }

  /** Sequential conversion funnel: users who viewed, then clicked
    * strictly after their first view, then purchased strictly after
    * that first qualifying click. Each stage is one type-filtered scan
    * (the filter pushes into parquet) aggregated to a per-user minimum
    * and joined on user_id — per-stage state is one timestamp per user,
    * and each later stage only scans its own event type. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Dedup.eventsUs(spark, dir).select("user_id", "event_type", "ts_us")
    def stage(prev: DataFrame, eType: String, tsCol: String): DataFrame =
      ev.filter(col("event_type") === eType)
        .join(prev, "user_id")
        .filter(col("ts_us") > col(tsCol))
        .groupBy("user_id").agg(min("ts_us").as(s"t_$eType"))
    val viewed = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t_view"))
    val clicked = stage(viewed, "click", "t_view")
    val purchased = stage(clicked, "purchase", "t_click")
    viewed.agg(count(lit(1)).as("n_view"))
      .crossJoin(clicked.agg(count(lit(1)).as("n_click")))
      .crossJoin(purchased.agg(count(lit(1)).as("n_purchase")))
  }

  /** Shared cohort scaffold over any per-(user_id, day) frame: cohort
    * day as a WINDOW over the frame (a cohort-aggregate branch joined
    * back would recompute the frame's whole upstream; the window costs
    * one user_id exchange), plus the bounded day offset. The retention
    * matrix and its monetary twin both ride this, so "cohort" has one
    * definition in the library. */
  def cohortOffsets(perUserDay: DataFrame, maxOffset: Int): DataFrame =
    perUserDay
      .withColumn("cohort_day",
        min("day").over(Window.partitionBy("user_id")))
      .withColumn("offset", col("day") - col("cohort_day"))
      .filter(col("offset") <= maxOffset)

  /** Cohort retention matrix: users grouped by first-active day, and
    * for each day offset 0..`maxOffset`, how many of that cohort were
    * active again. Two aggregations (first day per user, distinct
    * activity days) sharing the user_id shuffle, then one count per
    * (cohort, offset) cell. */
  def retention(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame = {
    val activity = Dedup.eventsUs(spark, dir)
      .select(col("user_id"), expr(s"ts_us div ${DayUs}L").as("day"))
      .distinct()
    cohortOffsets(activity, maxOffset)
      .groupBy("cohort_day", "offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset")
  }

  /** Pattern sessions use a visit-scale 12-hour gap: the CEP question
    * ("did the funnel complete within one visit?") is about multi-event
    * windows, and the 30-min analytics gap yields near-singleton
    * sessions on this event density. */
  val PatternGapUs: Long = 12L * 3600L * 1000000L

  /** Ordered-subsequence pattern match within sessions (the
    * MATCH_RECOGNIZE / CEP shape): sessions containing a view, then a
    * click after some view, then a purchase after such a click. The
    * three-stage state machine runs as two cascaded window passes over
    * the session ordering — "a qualifying earlier row exists" is
    * max(flag) over ROWS UNBOUNDED PRECEDING..1 PRECEDING — so the
    * whole match shares sessionization's single user_id shuffle; no
    * joins, no per-session buffering. */
  def patternSessions(spark: SparkSession, dir: String,
                      gapUs: Long = PatternGapUs): DataFrame = {
    val w = Window.partitionBy("user_id", "session_idx")
      .orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sessionIndexed(spark, dir, gapUs)
      .select("user_id", "session_idx", "event_type", "ts_us", "event_id")
      .withColumn("saw_view",
        coalesce(max(when(col("event_type") === "view", 1).otherwise(0)).over(w), lit(0)))
      .withColumn("qual_click",
        when(col("event_type") === "click" && col("saw_view") === 1, 1).otherwise(0))
      .withColumn("saw_qclick", coalesce(max(col("qual_click")).over(w), lit(0)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase" && col("saw_qclick") === 1, 1)
          .otherwise(0)).as("hit"))
      .filter(col("hit") === 1)
      .select("user_id", "session_idx", "n_events")
      .orderBy("user_id", "session_idx")
  }

  /** Daily / trailing-7-day active users and stickiness (DAU/WAU) per
    * day — the engagement panel. The distinct (user, day) activity
    * frame is computed once; WAU explodes each activity day onto the 7
    * report days it supports (a 7× fan-out of the DISTINCT frame,
    * never of raw events) and distincts again, so the plan is linear
    * and both counts are exact — no sliding distinct-over-window
    * state. Stickiness is the exact-rational ratio4. */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    val act = Dedup.eventsUs(spark, dir)
      .select(col("user_id"), expr(s"ts_us div ${DayUs}L").as("day"))
      .distinct()
    val dau = act.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        ratio4(col("dau"), col("wau")).as("stickiness"))
      .orderBy("day")
  }

  /** #182 `events_user_flux`: the user-lifecycle flux panel next to
    * DAU/WAU and retention — per epoch day: distinct active users,
    * users whose FIRST-ever event lands that day (acquisition), users
    * whose LAST-ever event lands that day (the churn proxy: at the
    * corpus horizon these are the not-yet-returned), and the running
    * cumulative of first-days (= total users ever seen). Acquisition
    * spikes, churn waves and the install-base curve in one table.
    *
    * Shape: the distinct (user, day) activity frame computes once and
    * feeds BOTH the per-day active count and the per-user min/max-day
    * aggregate (user-keyed, partial map-side); first/last counts
    * aggregate to O(days) rows, the join is day-keyed on those tiny
    * frames, and the cumulative window runs over O(days) — the
    * sparse-window discipline. */
  def userFlux(spark: SparkSession, dir: String): DataFrame = {
    val act = Dedup.eventsUs(spark, dir)
      .select(col("user_id"), expr(s"ts_us div ${DayUs}L").as("day"))
      .distinct()
      .checkpointSer // feeds the active count AND the span aggregate
    val active = act.groupBy("day").agg(count(lit(1)).as("n_active"))
    val span = act.groupBy("user_id")
      .agg(min("day").as("fd"), max("day").as("ld"))
    val firsts = span.groupBy(col("fd").as("day")).agg(count(lit(1)).as("n_new"))
    val lasts = span.groupBy(col("ld").as("day")).agg(count(lit(1)).as("n_last"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active
      .join(firsts, Seq("day"), "left")
      .join(lasts, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_last", coalesce(col("n_last"), lit(0L)))
      .withColumn("cum_users", sum("n_new").over(w))
      .select("day", "n_active", "n_new", "n_last", "cum_users")
      .orderBy("day")
  }

  /** `events_transition_quantiles`: the TIMING companion to
    * `events_markov` (#98 says where users go next; THIS says how
    * fast): per (from_type, to_type) consecutive-event transition on
    * a user's timeline, the count and the exact p25/p50/p75 of the
    * gap in µs. A funnel whose click→purchase p75 stretches while p50
    * holds is losing its slow tail — the same tail-degradation read
    * as #277, applied to behavior.
    *
    * Shape: ONE user-keyed lead window builds the transition frame;
    * the quantiles ride [[Ranking.groupedQuantiles]] — the native
    * GlobalRank path, NO per-group percentile buffering — so the
    * panel holds even when one transition pair dominates the stream
    * (the hot (browse, browse) cell is exactly the case the buffering
    * aggregate dies on at scale). */
  def transitionQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = Dedup.eventsUs(spark, dir)
      .select("user_id", "ts_us", "event_id", "event_type")
      .withColumn("next_type", lead("event_type", 1).over(w))
      .withColumn("next_ts", lead("ts_us", 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type"),
        (col("next_ts") - col("ts_us")).as("gap_us"), col("event_id"))
      .checkpointSer
    val counts = trans.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
    Ranking.groupedQuantiles(trans, Seq("from_type", "to_type"), "gap_us",
        Seq("event_id"), Seq(0.25, 0.5, 0.75))
      .groupBy("from_type", "to_type")
      .agg(max(when(col("p") === 0.25, col("q"))).as("p25"),
        max(when(col("p") === 0.5, col("q"))).as("p50"),
        max(when(col("p") === 0.75, col("q"))).as("p75"))
      .join(counts, Seq("from_type", "to_type"))
      .select("from_type", "to_type", "n_transitions", "p25", "p50", "p75")
      .orderBy("from_type", "to_type")
  }

  /** `events_active_days_histogram`: the engagement-DEPTH distribution
    * — users bucketed by how many distinct days they were active, per
    * bucket the user count, total user-days, and exact ratio4 user
    * share. The flux panel (#182) shows per-day arrivals/churn; THIS
    * shows how the user base splits between drive-by (1 day) and
    * habitual (20+) — the retention shape a DAU/WAU ratio (#113)
    * summarizes into one number. One distinct (user, day) frame, a
    * user-keyed count (both partial-aggregable), O(5) rollup. */
  def activeDaysHistogram(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Dedup.eventsUs(spark, dir)
      .select(col("user_id"), expr(s"ts_us div ${DayUs}L").as("day"))
      .distinct()
      .groupBy("user_id").agg(count(lit(1)).as("d"))
    val hist = perUser.select(
        when(col("d") === 1, 1L).when(col("d") <= 4, 2L)
          .when(col("d") <= 9, 3L).when(col("d") <= 19, 4L)
          .otherwise(5L).as("bucket_rank"),
        when(col("d") === 1, "1 day").when(col("d") <= 4, "2-4 days")
          .when(col("d") <= 9, "5-9 days").when(col("d") <= 19, "10-19 days")
          .otherwise("20+ days").as("bucket"),
        col("d"))
      .groupBy("bucket_rank", "bucket")
      .agg(count(lit(1)).as("n_users"), sum("d").as("n_user_days"))
    val tot = hist.agg(sum("n_users").as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("bucket_rank"), col("bucket"), col("n_users"),
        col("n_user_days"), ratio4(col("n_users"), col("t")).as("user_share4"))
      .orderBy("bucket_rank")
  }

  /** Top event-type trigram paths: the `topN` most frequent 3-step
    * event-type sequences across user timelines (the path-mining
    * summary behind funnel design). Two lead windows ride ONE user_id
    * shuffle; the path space is tiny (|types|³), so the count
    * aggregation is map-side-combinable and the head is a TakeOrdered.
    * Ties at the boundary break by path string — total order. */
  def topPaths(spark: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Dedup.eventsUs(spark, dir)
      .select("user_id", "ts_us", "event_id", "event_type")
      .withColumn("t2", lead("event_type", 1).over(w))
      .withColumn("t3", lead("event_type", 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(topN)
  }

  /** Session-size histogram: how many sessions have exactly n events —
    * the engagement-depth panel next to DAU/WAU. Rides sessionIndexed's
    * single user_id window pipeline; both aggregations partial-combine. */
  def sessionHistogram(spark: SparkSession, dir: String,
                       gapUs: Long = 1800L * 1000000L): DataFrame =
    // rides the CANONICAL per-session frame (one "session size"
    // definition in the library); the unused money/bounds aggregates
    // and the inner sort are pruned by Catalyst
    sessionize(spark, dir, gapUs)
      .groupBy("n_events").agg(count(lit(1)).as("n_sessions"))
      .orderBy("n_events")

  /** RFM quintile segmentation: per user, recency (last activity),
    * frequency (event count) and monetary (exact cents spend), each
    * scored 1–5 by EXACT global rank — three [[Ranking.globalRowNumber]]
    * passes over the per-user aggregate, never a single-partition
    * window. Quintile = (N−rn)·5 div N + 1 in pure int64 (the decile
    * discipline); higher score = better (more recent / more frequent /
    * higher spend), ties broken by user_id — total order, so the
    * segmentation reproduces bit-for-bit anywhere. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val base = Dedup.eventsUs(spark, dir)
      .groupBy("user_id")
      .agg(max("ts_us").as("last_us"), count(lit(1)).as("n_events"),
        sum(valueCents(col("value"))).as("spend_cents"))
      .checkpointSer // three rank passes + count read it
    val n = base.count()
    // each dimension ranks the CHECKPOINTED base independently (a chain
    // of rank passes would re-execute the prior pass's sort + row
    // re-encode inside every zipWithIndex count job), then the three
    // score frames join back on user_id
    def score(sortCol: Column, out: String) =
      Ranking.globalRowNumber(base, Seq(sortCol.desc, col("user_id")), "rn")
        .select(col("user_id"),
          (intDiv((lit(n) - col("rn")) * 5L, lit(n)) + 1L).as(out))
    base
      .join(score(col("last_us"), "r_score"), "user_id")
      .join(score(col("n_events"), "f_score"), "user_id")
      .join(score(col("spend_cents"), "m_score"), "user_id")
      .select("user_id", "last_us", "n_events", "spend_cents",
        "r_score", "f_score", "m_score")
      .orderBy("user_id")
  }

  /** `events_rfm_migration`: period-over-period value-segment
    * migration — the longitudinal companion of [[rfm]]. The corpus
    * splits at its temporal midpoint (pure int64: mn + (mx−mn) div 2,
    * an O(1) driver aggregate like the Lloyd/whitening model-state
    * collects); each half M-quintile-scores its users independently
    * (exact global rank on cents spend — the same
    * [[Ranking.globalRowNumber]] discipline as rfm, never a
    * single-partition window), and the output is the 6×6 transition
    * matrix with segment 0 = absent from that half (new users enter
    * via row 0, churned users exit via column 0). The "did our
    * high-value users stay high-value" panel a retention review reads.
    *
    * Shape: two per-user aggregates + two O(users) rank passes; the
    * full-outer join is user-keyed; output ≤ 36 rows. */
  def rfmMigration(spark: SparkSession, dir: String): DataFrame = {
    val ev = Dedup.eventsUs(spark, dir).select("user_id", "ts_us", "value")
    val b = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx")).head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    def seg(period: DataFrame, out: String) = {
      val base = period.groupBy("user_id")
        .agg(sum(valueCents(col("value"))).as("cents"))
        .checkpointSer // the rank pass and the count both read it
      val n = base.count()
      Ranking.globalRowNumber(base, Seq(col("cents").desc, col("user_id")), "rn")
        .select(col("user_id"),
          (intDiv((lit(n) - col("rn")) * 5L, lit(n)) + 1L).as(out))
    }
    val a = seg(ev.filter(col("ts_us") < mid), "seg_a")
    val bb = seg(ev.filter(col("ts_us") >= mid), "seg_b")
    a.join(bb, Seq("user_id"), "full_outer")
      .select(coalesce(col("seg_a"), lit(0L)).as("seg_a"),
        coalesce(col("seg_b"), lit(0L)).as("seg_b"))
      .groupBy("seg_a", "seg_b").agg(count(lit(1)).as("n_users"))
      .orderBy("seg_a", "seg_b")
  }

  /** Attribution lookback: one hour in µs. */
  val AttributionWindowUs = 3600L * 1000000L

  /** Last-touch attribution: each purchase is attributed to the same
    * user's most recent click at or before it, if within the lookback
    * window. One user-partitioned window pass carries the latest click
    * (id, ts) forward — the as-of union-scan shape: no range join, no
    * per-user nested loop, one shuffle on user_id. Ordering is the
    * total (ts_us, event_id) order, so ties are deterministic on any
    * engine. Purchases with no qualifying click are omitted (they'd be
    * the "organic" bucket). */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val click = (c: String) =>
      last(when(col("event_type") === "click", col(c)), ignoreNulls = true).over(w)
    Dedup.eventsUs(spark, dir)
      .select("event_id", "ts_us", "user_id", "event_type")
      .withColumn("click_id", click("event_id"))
      .withColumn("click_ts", click("ts_us"))
      .filter(col("event_type") === "purchase" && col("click_ts").isNotNull &&
        col("ts_us") - col("click_ts") <= AttributionWindowUs)
      .select(col("event_id"), col("user_id"), col("click_id"),
        (col("ts_us") - col("click_ts")).as("gap_us"))
      .orderBy("event_id")
  }

  /** Cohort revenue matrix: users grouped by first-active day; for
    * each day offset, that cohort's exact cents revenue and spender
    * count — the monetary twin of the retention matrix, sharing its
    * shape: the cohort day is a WINDOW over the per-(user, day)
    * aggregate (no joined-back cohort branch re-scanning events), so
    * the pipeline is one events scan + one user_id exchange + the
    * (cohort, offset) rollup. */
  def cohortRevenue(spark: SparkSession, dir: String, maxOffset: Int = 7): DataFrame = {
    val perUserDay = Dedup.eventsUs(spark, dir)
      .select(col("user_id"), expr(s"ts_us div ${DayUs}L").as("day"),
        valueCents(col("value")).as("cents"))
      .groupBy("user_id", "day")
      .agg(sum("cents").as("cents"))
    cohortOffsets(perUserDay, maxOffset)
      .groupBy("cohort_day", "offset")
      // n_active = active (user, day) cells — includes zero-cent days;
      // "spenders" would need a cents > 0 gate
      .agg(count(lit(1)).as("n_active"), sum("cents").as("sum_cents"))
      .orderBy("cohort_day", "offset")
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
}
