package graft.streaming

import graft.operators.EventSeries
import graft.sinks.TxnParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Online grouped-OLS trend — the streaming twin of `events_trend_ols`
  * (#338), on the [[StreamDrift]] pattern: the OLS moments need the
  * corpus-wide day origin and per-type totals, so the online part is
  * the DAILY-SUM maintenance. Each micro-batch aggregates to
  * (event_type, day, cents) deltas — stateless, because sums are a
  * ℤ-group (folding deltas equals re-summing) — and appends them to a
  * [[TxnParquet]] state directory keyed by batch id (idempotent
  * replays, torn writes invisible). The trend panel then evaluates ON
  * THE SAME CODE PATH as the batch query
  * ([[EventSeries.trendOlsOfDaily]]) over the folded state: slope,
  * intercept and r² are row-identical to the batch answer over the
  * same events, at whatever cadence the operator reads them.
  *
  * State is O(types × days) rows per batch before folding;
  * [[TxnParquet.compact]] bounds the directory count on a
  * long-running monitor without touching the protocol.
  */
object StreamTrend {

  /** Attach the monitor to a streaming (event_type, ts_us, value)
    * frame: idempotent per-batch appends of its
    * [[EventSeries.dailyCents]] deltas under `stateDir`. */
  def monitor(ev: DataFrame, stateDir: String,
              checkpointDir: Option[String] = None): StreamingQuery =
    TxnParquet.appendStream(ev, stateDir, checkpointDir)(EventSeries.dailyCents)

  /** The trend panel over everything ingested so far — row-identical
    * to the batch `events_trend_ols` over the same events. */
  def panel(spark: SparkSession, stateDir: String): DataFrame =
    EventSeries.trendOlsOfDaily(
      EventSeries.dailyCents.fold(TxnParquet.read(spark, stateDir)))
}
