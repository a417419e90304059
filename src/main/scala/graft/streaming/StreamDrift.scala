package graft.streaming

import graft.operators.EventSeries
import graft.sinks.TxnParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Online CUSUM drift monitoring — the streaming twin of
  * `events_cusum_drift` (#214). The panel itself is inherently
  * two-pass (residuals need the type's lifetime total), so the online
  * part is the COUNT maintenance: each micro-batch aggregates to
  * hourly (event_type, hour, n) deltas — stateless, because counts
  * are a ℤ-group (folding deltas equals recounting; the
  * IncrementalAgg algebra) — and appends them to a [[TxnParquet]]
  * state directory keyed by batch id, so replayed batches are
  * idempotent and a torn write is invisible. The drift panel then
  * evaluates ON THE SAME CODE PATH as the batch query
  * ([[EventSeries.cusumOfCounts]]) over the folded state, at whatever
  * cadence the operator audits.
  *
  * State size is O(types × hours) rows per batch before folding;
  * [[TxnParquet.compact]] keeps the directory count bounded on a
  * long-running monitor without touching the protocol.
  */
object StreamDrift {

  /** Attach the monitor to a streaming (event_type, ts_us) frame:
    * idempotent per-batch appends of its [[EventSeries.hourlyCounts]]
    * deltas under `stateDir`. */
  def monitor(ev: DataFrame, stateDir: String,
              checkpointDir: Option[String] = None): StreamingQuery =
    TxnParquet.appendStream(ev, stateDir, checkpointDir)(EventSeries.hourlyCounts)

  /** The drift panel over everything ingested so far — row-identical
    * to the batch `events_cusum_drift` over the same events. */
  def panel(spark: SparkSession, stateDir: String,
            lambdaMeanHours: Long = EventSeries.CusumLambdaMeanHours): DataFrame =
    EventSeries.cusumOfCounts(
      EventSeries.hourlyCounts.fold(TxnParquet.read(spark, stateDir)), lambdaMeanHours)

  // ---- composition drift (the streaming twin of events_type_drift) ----

  /** Attach the composition monitor: idempotent per-batch appends of
    * its [[EventSeries.weeklyCounts]] deltas under `stateDir` (same
    * TxnParquet idempotence/compaction story as [[monitor]]). */
  def monitorComposition(ev: DataFrame, stateDir: String,
                         checkpointDir: Option[String] = None): StreamingQuery =
    TxnParquet.appendStream(ev, stateDir, checkpointDir)(EventSeries.weeklyCounts)

  /** The week-over-week type-mix L1 panel over everything ingested so
    * far — row-identical to the batch `events_type_drift` over the
    * same events ([[EventSeries.typeDriftOfCounts]]: ONE algebra, two
    * runtimes). */
  def compositionPanel(spark: SparkSession, stateDir: String): DataFrame =
    EventSeries.typeDriftOfCounts(
      EventSeries.weeklyCounts.fold(TxnParquet.read(spark, stateDir)).localCheckpoint())
}
