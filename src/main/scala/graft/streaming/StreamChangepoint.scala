package graft.streaming

import graft.operators.EventSeries
import graft.sinks.TxnParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Online changepoint location — the streaming twin of
  * `events_changepoint` on the [[StreamTrend]] pattern: the CUSUM
  * locator needs the corpus-wide dense day span, so the online part is
  * the DAILY-COUNT maintenance. Each micro-batch aggregates to
  * (event_type, day, c) count deltas — stateless, counts are a ℤ-group
  * — and appends them to a [[TxnParquet]] state directory keyed by
  * batch id (idempotent replays). The locator panel then evaluates ON
  * THE SAME CODE PATH as the batch query
  * ([[EventSeries.changepointOfDaily]]) over the folded state: split
  * day, segment means, CUSUM peak and explained-variance share are
  * row-identical to the batch answer over the same events, at whatever
  * cadence the monitor reads them — the apply-side closure of the
  * CUSUM drift ALARM ([[StreamDrift]]): the alarm says the level
  * moved, this locates where.
  *
  * State is O(types × days) rows per batch before folding;
  * [[TxnParquet.compact]] bounds the directory count on a long-running
  * monitor without touching the protocol.
  */
object StreamChangepoint {

  /** Attach the monitor to a streaming (event_type, ts_us, …) frame:
    * idempotent per-batch appends of its [[EventSeries.dailyCounts]]
    * deltas under `stateDir`. */
  def monitor(ev: DataFrame, stateDir: String,
              checkpointDir: Option[String] = None): StreamingQuery =
    TxnParquet.appendStream(ev, stateDir, checkpointDir)(EventSeries.dailyCounts)

  /** The ℤ-group fold of every committed delta batch. */
  private def foldedDaily(spark: SparkSession, stateDir: String): DataFrame =
    EventSeries.dailyCounts.fold(TxnParquet.read(spark, stateDir))

  /** The changepoint panel over everything ingested so far —
    * row-identical to the batch `events_changepoint` over the same
    * events. */
  def panel(spark: SparkSession, stateDir: String): DataFrame =
    EventSeries.changepointOfDaily(foldedDaily(spark, stateDir))

  /** The weekly-rhythm panel over the SAME delta log — one maintained
    * state, two readings (where the level moved / whether the weekly
    * rhythm holds); row-identical to the batch `events_friedman_dow`
    * over the same events. */
  def friedmanPanel(spark: SparkSession, stateDir: String): DataFrame =
    EventSeries.friedmanDowOfDaily(foldedDaily(spark, stateDir))
}
