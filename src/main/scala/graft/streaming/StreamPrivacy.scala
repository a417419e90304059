package graft.streaming

import graft.operators.Privacy
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming k-threshold release gate — the online form of the
  * k-anonymity policy the batch panel (`privacy_k_anonymity`) audits:
  * a row is released only once its quasi-identifier class holds at
  * least k rows, so no published row is ever identifiable among fewer
  * than k−1 peers. Until a class reaches k its rows are BUFFERED in
  * state; the k-th arrival flushes the buffer and opens the class
  * (subsequent rows flow straight through with one O(1) state read).
  *
  * State per QI class: the open flag plus at most k−1 buffered rows —
  * bounded by construction, hash-partitioned on the class key exactly
  * like the batch panel's one shuffle, so 1000 executors shard the
  * class space evenly (day+band split hot event types). Release-time
  * semantics over any finite stream: the released set equals the batch
  * filter "rows whose class count ≥ k" — the parity the spec pins.
  */
object StreamPrivacy {

  /** Event with its QI class precomputed (same grain as the panel). */
  case class Ev(event_id: Long, day: Long, band: Long, event_type: String)

  /** open=class reached k; buf=rows awaiting the threshold (≤ k−1). */
  case class GateState(open: Boolean, buf: List[Ev])

  /** Attach the (event_type, day, band) QI columns to a canonical
    * events frame — shared with the batch panel's grain. */
  def withQi(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.intDiv
    ev.select(col("event_id"), col("event_type"),
      intDiv(col("ts_us"), lit(graft.operators.EventSeries.DayUs)).as("day"),
      intDiv(round(col("value") * 100).cast("long"),
        lit(Privacy.SpendBandCents)).as("band"))
  }

  /** The gate: releases each row of a QI class only once the class has
    * seen at least k rows (the k-th arrival flushes the buffer). */
  def thresholdRelease(events: Dataset[Ev], k: Int): Dataset[Ev] = {
    import events.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    events.groupByKey(e => (e.event_type, e.day, e.band))
      .flatMapGroupsWithState[GateState, Ev](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val st = state.getOption.getOrElse(GateState(open = false, Nil))
          if (st.open) rows
          else {
            val buf = st.buf ++ rows // arrival order, ≤ k−1 + batch rows
            if (buf.size >= k) {
              state.update(GateState(open = true, Nil))
              buf.iterator
            } else {
              state.update(GateState(open = false, buf))
              Iterator.empty
            }
          }
      }
  }

  /** Streaming maintenance of the generalization-ladder's fine class
    * frame ([[graft.operators.Privacy.fineClasses]] — the SAME
    * definition, run as a streaming grouped aggregation): state is one
    * count per (type, day, band) QI class (O(classes) longs, bounded
    * by types × days × bands however many rows stream through). A
    * release reviewer derives the 6-rung suppression-cost ladder per
    * trigger from the emitted counts alone
    * (`Privacy.ladderOfFine(spark.table(sink))` on the complete-mode
    * table), so the "can we already release at this grain?" question
    * is answered continuously as an extract accumulates, not at a
    * batch audit afterwards. Counts are pure functions of the input
    * set → streaming-after-any-prefix equals the batch frame. */
  def qiClassCounts(ev: DataFrame): DataFrame =
    graft.operators.Privacy.fineClasses(ev)

  /** Streaming DP daily release — the online form of
    * [[graft.operators.Privacy.dpCounts]]: per (event_type, day) the
    * released count is published ONCE, when the watermark closes the
    * day (append-mode windowed aggregation), with the SAME
    * hash-derived discrete-Laplace noise the batch release applies —
    * so a day's streaming release row EQUALS the batch dpCounts row
    * for that day (the parity the spec pins). Publishing exactly once
    * per closed window is what makes the ε accounting honest: a
    * release re-published per trigger as the count grows would be a
    * fresh query against the same data every few seconds, and the
    * naive per-trigger noise would compose its ε away.
    *
    * State is the in-flight day windows only (O(types × open days)),
    * watermark-bounded; the noise is a stateless expression over the
    * final counts. `lateness` is the allowed event-time disorder. */
  def dpDailyRelease(ev: DataFrame, lateness: String = "1 hour"): DataFrame = {
    import graft.functions.Hashing.h64
    ev.select(col("event_type"), timestamp_micros(col("ts_us")).as("ts"))
      .withWatermark("ts", lateness)
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("win"))
      .agg(count(lit(1)).as("true_n"))
      .select(col("event_type"),
        // session tz is pinned UTC (GraftSession), so 1-day windows are
        // epoch-aligned and win.start div day == the batch day_bucket
        graft.functions.Hashing.intDiv(unix_micros(col("win.start")),
          lit(graft.operators.EventSeries.DayUs)).as("day_bucket"),
        col("true_n"))
      .withColumn("h1", h64(concat_ws("|", lit("dp1"), col("event_type"),
        col("day_bucket"))))
      .withColumn("h2", h64(concat_ws("|", lit("dp2"), col("event_type"),
        col("day_bucket"))))
      .withColumn("noise",
        expr("cast(bit_count(((~h1) & -(~h1)) - 1) as bigint)") -
          expr("cast(bit_count(((~h2) & -(~h2)) - 1) as bigint)"))
      .select(col("event_type"), col("day_bucket"), col("true_n"),
        col("noise"),
        greatest(col("true_n") + col("noise"), lit(0L)).as("released"))
  }
}
