package graft.operators

import graft.functions.Hashing.{dec, money2}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-safe aggregation via salting.
  *
  * A groupBy on a low-cardinality hot key (here: 5 event_types over the
  * whole stream) concentrates each key's rows in one reducer. Salting
  * splits every key into `salts` deterministic sub-keys, aggregates
  * partially per (key, salt), then merges the tiny per-salt partials —
  * two shuffles, but the first spreads each hot key over `salts`
  * reducers and the second moves only keys × salts rows. Exact decimal
  * partials make the merge order-independent, so the result is
  * bit-identical to the direct aggregation (which is how the oracle
  * states it).
  */
object Skew {

  val DefaultSalts = 16

  /** Salted count+sum per event_type over the replicated event stream. */
  def saltedEventAgg(spark: SparkSession, dir: String,
                     salts: Int = DefaultSalts): DataFrame =
    saltedAggOf(Dedup.eventsUs(spark, dir), salts)

  /** [[saltedEventAgg]]'s two-stage plan over any frame carrying
    * (event_id, event_type, value) — shared with the skew bench so the
    * measured plan IS the registered operator's plan. */
  def saltedAggOf(ev: DataFrame, salts: Int = DefaultSalts): DataFrame = {
    val partial = ev
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("psum"))
    partial
      .groupBy("event_type")
      .agg(sum(col("pn")).as("n"), money2(sum(col("psum"))).as("sum_value"))
      .orderBy("event_type")
  }

  /** The direct (unsalted) twin of [[saltedAggOf]] — the baseline the
    * skew bench races it against; bit-identical output by the exact
    * decimal-partials argument above. */
  def directAggOf(ev: DataFrame): DataFrame = ev
    .groupBy("event_type")
    .agg(count(lit(1)).as("n"), money2(sum(dec(col("value")))).as("sum_value"))
    .orderBy("event_type")

  /** `events_key_skew`: the DECISION TABLE behind the salting knob —
    * per event_type (the low-cardinality aggregation key of this
    * stream): row count, distinct sub-keys (users), the hottest user's
    * row count, its exact ratio4 share of the type, and the hotness
    * MULTIPLE vs a uniform spread (top·users/rows, ratio4). A type
    * whose skew_x4 is ≈ 1 aggregates safely on the raw key; tens or
    * hundreds means one reducer owns the key's traffic and the
    * operator should go through [[saltedEventAgg]]'s two-stage plan
    * (or rely on AQE skew splitting for joins). Reading this panel IS
    * the capacity-planning step a 100 TB aggregation does before
    * picking a partitioning.
    *
    * Shape: one partial-aggregable (type, user) shuffle, then an
    * O(types) rollup — max/count/sum are all map-side combinable.
    * skew_x4's int64 product top·users·10⁴ bounds the panel at
    * ~9·10¹⁴ per type (top rows × users) — past that, pre-divide the
    * uniform expectation (documented knob). */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    Dedup.eventsUs(spark, dir)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum("n").as("n_rows"), count(lit(1)).as("n_users"),
        max("n").as("top_user_rows"))
      .select(col("event_type"), col("n_rows"), col("n_users"),
        col("top_user_rows"),
        ratio4(col("top_user_rows"), col("n_rows")).as("top_share4"),
        ratio4(col("top_user_rows") * col("n_users"), col("n_rows"))
          .as("skew_x4"))
      .orderBy("event_type")
  }

  // ---- the WINDOW family's skew mitigation (round-15) -----------------

  /** Gap-sessionize with the hot-key partition SPLIT — the mitigation
    * the measured skew race demanded (SkewBench, PLANS round-14): a
    * window `partitionBy(user_id)` puts a 50%-hot user's entire stream
    * in ONE task (its one-window sessionize measured 1.9× its uniform
    * twin at 10M rows on 32 cores, 1.35–1.46× at 3M rows on 4 cores;
    * growing linearly with the hot key), and salting cannot fix it
    * because window semantics need the whole key in one partition.
    *
    * This plan splits by TIME instead: events are segmented at
    * `seg = ts_us div segUs`, the gap rule runs locally per
    * (user, seg) — bounding every window partition at the user's event
    * rate × segUs, regardless of how hot the user is — and local
    * sessions are then merged by the SAME gap rule applied at session
    * grain (a second window over O(active segments) rows per user,
    * never events). Bit-identical to the one-window plan for ANY
    * segUs > 0, by construction: local sessions tile the user's
    * time-ordered event sequence, so consecutive local sessions'
    * boundary gap (p_start − prev p_end) IS the event-grain gap the
    * direct plan tests — within-segment breaks already satisfy
    * gap > gapUs, and equal-ts events can never straddle a segment
    * boundary. Session ordinals, counts, extents and the exact decimal
    * value sums all re-aggregate losslessly (equality spec-pinned, and
    * the registered query shares `events_sessionize`'s oracle SQL
    * verbatim).
    *
    * segUs defaults to 4× the gap (2 h at the default 30-min gap —
    * measured at 10M rows on 32 cores: the gap-sized segment paid +20%
    * window-partition overhead on uniform data, 4× paid +8% while the
    * 50%-hot twin still spread over ~360 segments and ran at 1.0× its
    * uniform twin vs the one-window plan's 1.9×. At 3M rows on 4 cores
    * (skew_bench.json and a second run) 4× pays +30–64% on uniform
    * data, and the hot twin runs at 0.75–0.95× its uniform twin vs the
    * one-window plan's 1.35–1.46×: the split still wins on the hot
    * twin, by 9–16%). Larger
    * segments mean fewer merge rows, smaller segments mean tighter
    * per-partition bounds — at 100 TB, size segUs so rate × segUs
    * rows fit an executor task. */
  def splitSessionizeOf(ev: DataFrame, gapUs: Long = 1800L * 1000000L,
                        segUs: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seg = if (segUs > 0L) segUs else 4L * gapUs
    val wSeg = Window.partitionBy("user_id", "seg").orderBy("ts_us", "event_id")
    val local = ev
      .withColumn("seg", expr(s"ts_us div ${seg}L"))
      .withColumn("new_local",
        when(lag("ts_us", 1).over(wSeg).isNull ||
          col("ts_us") - lag("ts_us", 1).over(wSeg) > gapUs, 1).otherwise(0))
      .withColumn("local_idx",
        sum("new_local").over(wSeg.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "seg", "local_idx")
      .agg(count(lit(1)).as("pn"), min("ts_us").as("p_start"),
        max("ts_us").as("p_end"), sum(dec(col("value"))).as("psum"))
    val wUser = Window.partitionBy("user_id").orderBy("seg", "local_idx")
    local
      .withColumn("new_sess",
        when(lag("p_end", 1).over(wUser).isNull ||
          col("p_start") - lag("p_end", 1).over(wUser) > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum("new_sess").over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(sum("pn").as("n_events"), min("p_start").as("start_us"),
        max("p_end").as("end_us"), money2(sum("psum")).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** `events_sessionize_split`: [[splitSessionizeOf]] over the event
    * stream — same output contract (and oracle SQL) as #24
    * `events_sessionize`, different physical plan. */
  def splitSessionize(spark: SparkSession, dir: String,
                      gapUs: Long = 1800L * 1000000L): DataFrame =
    splitSessionizeOf(Dedup.eventsUs(spark, dir), gapUs)

  // ---- the decision table, wired (round-15) ----------------------------

  /** Hotness multiple (the #280 panel's `skew_x4`) above which a
    * NON-combinable aggregation should take the salted plan. ≈1 means
    * the key's traffic spreads uniformly over its sub-keys; the race's
    * deliberate 50%-hot fixture measures in the thousands. An order of
    * magnitude over uniform is where one reducer's surplus stops
    * hiding inside task-size variance. */
  val SaltSkewX4Threshold = 10.0

  /** The measured salting decision (SkewBench, PLANS rounds 14-15):
    * map-side partial aggregation already collapses each task's rows
    * to ≤ |keys| partials for COMBINABLE aggregates (count/sum/min/
    * max/avg), so the hot key never concentrates raw rows on one
    * reducer and salting buys only 2–15% even at a 50%-hot key (2–3%
    * at 3M rows on 4 cores, skew_bench.json) — not worth the second
    * exchange as a default. Salting pays only when
    * the aggregate is NOT map-side combinable at key grain (exact
    * distinct counts and other set-sized measures): there the hot
    * key's whole value set lands on one reducer, and value-salting
    * splits it into disjoint exact shards. Window-family skew is not
    * a salting question at all — see [[splitSessionizeOf]]. */
  def shouldSalt(mapSideCombinable: Boolean, skewX4: Double): Boolean =
    !mapSideCombinable && skewX4 >= SaltSkewX4Threshold

  /** Exact distinct users per event_type — the direct plan: Spark
    * plans countDistinct as a two-stage expand, but stage 2 still
    * concentrates the hot TYPE's whole distinct-user set on one
    * reducer. The baseline [[distinctUsersAuto]] races. */
  def directDistinctOf(ev: DataFrame): DataFrame = ev
    .groupBy("event_type")
    .agg(countDistinct("user_id").as("n_users"))
    .orderBy("event_type")

  /** Value-salted exact distinct: users are sharded by
    * `pmod(user_id, salts)` — shards are DISJOINT value sets, so
    * per-shard distinct counts sum exactly; the hot type's set work
    * spreads over `salts` reducers. Bit-identical to the direct plan. */
  def saltedDistinctOf(ev: DataFrame, salts: Int = DefaultSalts): DataFrame = ev
    .withColumn("vsalt", pmod(col("user_id"), lit(salts.toLong)))
    .groupBy("event_type", "vsalt")
    .agg(countDistinct("user_id").as("pn"))
    .groupBy("event_type")
    .agg(sum("pn").as("n_users"))
    .orderBy("event_type")

  /** [[shouldSalt]] dispatched for the non-combinable distinct-count
    * shape: callers pass the #280 panel's measured `skew_x4` for the
    * key and get the plan the decision table prescribes. */
  def distinctUsersAuto(ev: DataFrame, skewX4: Double,
                        salts: Int = DefaultSalts): DataFrame =
    if (shouldSalt(mapSideCombinable = false, skewX4)) saltedDistinctOf(ev, salts)
    else directDistinctOf(ev)

  /** `events_users_by_type_auto`: the decision table wired END TO END —
    * reads its own #280 panel (an O(types) frame, collected driver-side
    * like a k-means centroid pull), takes the hottest key's measured
    * skew_x4, and dispatches the non-combinable distinct-count through
    * [[shouldSalt]]. On the natural stream skew_x4 ≈ 1 → direct plan;
    * a deliberately skewed feed trips the threshold and gets the
    * value-salted shards. Output is the same either way (bit-identical
    * plans, spec-pinned), which is what lets the planner switch freely. */
  def usersByTypeAuto(spark: SparkSession, dir: String): DataFrame = {
    // max() over an empty panel is NULL — treat as "no skew" so the
    // query degrades to the direct plan's empty result instead of NPE.
    val row = keySkew(spark, dir).agg(max(col("skew_x4"))).collect().head
    val maxSkew = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    distinctUsersAuto(Dedup.eventsUs(spark, dir), maxSkew)
  }

  // ---- the WINDOW family's decision, wired (round-16) -----------------

  /** Per-user hotness panel at the WINDOW key — the #280 discipline
    * lifted from (event_type, user) to the sessionize partition key:
    * one partial-aggregable (user) shuffle, then a 1-row rollup.
    * skew_x4 = top_user_rows · n_users / n_rows — ≈ 1 on a uniform
    * stream; the measured race's 50%-hot fixture reads ~n_users/2. */
  def userHotness(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.ratio4
    ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum("n").as("n_rows"), count(lit(1)).as("n_users"),
        max("n").as("top_user_rows"))
      .select(col("n_rows"), col("n_users"), col("top_user_rows"),
        ratio4(col("top_user_rows") * col("n_users"),
          greatest(col("n_rows"), lit(1L))).as("skew_x4"))
  }

  /** The measured window-split decision (SkewBench, PLANS round-15):
    * a `partitionBy(user_id)` window puts a hot user's ENTIRE stream
    * in one task — salting can't help (window semantics need the whole
    * key together), but the time-segment split plan is bit-identical
    * and bounds every partition at rate × segUs. The split costs +8%
    * (10M rows, 32 cores) to +30–64% (3M rows, 4 cores) on uniform
    * data (the second merge window), so it dispatches only
    * on MEASURED hotness — same threshold discipline as
    * [[shouldSalt]]: an order of magnitude over uniform is where one
    * task's surplus stops hiding inside task-size variance. */
  def shouldSplitWindow(skewX4: Double): Boolean =
    skewX4 >= SaltSkewX4Threshold

  /** [[shouldSplitWindow]] dispatched for a measured hotness: callers
    * pass the [[userHotness]] panel's skew_x4 and get the plan the
    * decision table prescribes — both plans are bit-identical
    * (spec-pinned), which is what lets the planner switch freely. */
  def sessionizeAutoOf(ev: DataFrame, skewX4: Double,
                       gapUs: Long = 1800L * 1000000L): DataFrame =
    if (shouldSplitWindow(skewX4)) splitSessionizeOf(ev, gapUs)
    else EventUsers.sessionizeOf(ev, gapUs)

  /** `events_sessionize_auto`: the window decision wired END TO END —
    * reads its own per-user hotness panel (a 1-row frame, collected
    * driver-side like the #372 salting pull), and dispatches through
    * [[shouldSplitWindow]]. On the natural stream skew_x4 ≈ low →
    * direct one-window plan; a measured-hot corpus gets the
    * time-segment split. Output (and oracle SQL) shared verbatim with
    * #24 `events_sessionize`. */
  def sessionizeAuto(spark: SparkSession, dir: String,
                     gapUs: Long = 1800L * 1000000L): DataFrame = {
    val ev = Dedup.eventsUs(spark, dir)
    val row = userHotness(ev).select("skew_x4").collect().head
    val skew = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    sessionizeAutoOf(ev, skew, gapUs)
  }
}
