package graft.streaming

import graft.operators.Analytics6
import graft.sinks.TxnParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * ([[Analytics6.cusumOfCounts]]) over the folded state, at whatever
  * cadence the operator audits.
  *
  * State size is O(types × hours) rows per batch before folding;
  * [[TxnParquet.compact]] keeps the directory count bounded on a
  * long-running monitor without touching the protocol.
  */
object StreamDrift {

  /** Hourly (event_type, hour, n) deltas of one event micro-batch. */
  def hourlyDeltas(batch: DataFrame): DataFrame = {
    import graft.functions.Hashing.intDiv
    batch.select(col("event_type"),
        intDiv(col("ts_us"), lit(Analytics6.UsPerHour)).as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("n"))
  }

  /** Attach the monitor to a streaming (event_type, ts_us) frame:
    * idempotent per-batch delta appends under `stateDir`. */
  def monitor(ev: DataFrame, stateDir: String,
              checkpointDir: Option[String] = None): StreamingQuery =
    TxnParquet.appendStream(ev, stateDir, checkpointDir)(hourlyDeltas)

  /** The ℤ-group fold of every committed delta batch. */
  def foldedCounts(spark: SparkSession, stateDir: String): DataFrame =
    TxnParquet.read(spark, stateDir)
      .groupBy("event_type", "hour").agg(sum("n").as("n"))

  /** The drift panel over everything ingested so far — row-identical
    * to the batch `events_cusum_drift` over the same events. */
  def panel(spark: SparkSession, stateDir: String,
            lambdaMeanHours: Long = Analytics6.CusumLambdaMeanHours): DataFrame =
    Analytics6.cusumOfCounts(foldedCounts(spark, stateDir), lambdaMeanHours)

  // ---- composition drift (the streaming twin of events_type_drift) ----

  /** Weekly (week, event_type, c) deltas of one event micro-batch —
    * the same ℤ-group shape as [[hourlyDeltas]] at the composition
    * panel's grain. */
  def weeklyDeltas(batch: DataFrame): DataFrame = {
    import graft.functions.Hashing.intDiv
    batch.select(intDiv(col("ts_us"), lit(graft.operators.Analytics4.WeekUs))
        .as("week"), col("event_type"))
      .groupBy("week", "event_type").agg(count(lit(1)).as("c"))
  }

  /** Attach the composition monitor: idempotent weekly-delta appends
    * under `stateDir` (same TxnParquet idempotence/compaction story as
    * [[monitor]]). */
  def monitorComposition(ev: DataFrame, stateDir: String,
                         checkpointDir: Option[String] = None): StreamingQuery =
    TxnParquet.appendStream(ev, stateDir, checkpointDir)(weeklyDeltas)

  /** The folded weekly composition counts ingested so far. */
  def weeklyTypeCounts(spark: SparkSession, stateDir: String): DataFrame =
    TxnParquet.read(spark, stateDir)
      .groupBy("week", "event_type").agg(sum("c").as("c"))

  /** The week-over-week type-mix L1 panel over everything ingested so
    * far — row-identical to the batch `events_type_drift` over the
    * same events ([[graft.operators.Analytics4.typeDriftOfCounts]]:
    * ONE algebra, two runtimes). */
  def compositionPanel(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.Analytics4.typeDriftOfCounts(
      weeklyTypeCounts(spark, stateDir).localCheckpoint())
}
