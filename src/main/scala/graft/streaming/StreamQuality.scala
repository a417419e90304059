package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

/** Streaming side of the declarative data-quality gate: the SAME
  * (name, predicate) checks that `operators.Quality.tableChecks` runs
  * over batch tables attach to a streaming frame as an `observe()`
  * metric — per-micro-batch violation counts ride the progress bus
  * (StreamingQueryListener / lastProgress.observedMetrics) with no
  * second aggregation branch in the query, and the check DEFINITIONS
  * cannot drift between the batch gate and the stream monitor.
  */
object StreamQuality {

  /** Default observation name. */
  val MetricName = "graft_dq"

  /** Attach violation counters for `checks` to a (streaming or batch)
    * frame. Read them from each StreamingQueryProgress's
    * `observedMetrics(name)` row, one column per check. */
  def observed(df: DataFrame, checks: Seq[(String, Column)],
               name: String = MetricName): DataFrame = {
    val aggs = graft.operators.Quality.violationAggs(checks)
    df.observe(name, aggs.head, aggs.tail: _*)
  }

  /** Streaming first-digit counts — the Benford audit
    * (`events_benford`) as a stream monitor: the SAME
    * [[graft.operators.EventValues.firstDigitCounts]] kernel running as
    * a streaming grouped aggregation (state is O(types·9) longs no
    * matter the volume; complete/update output). A monitor derives
    * share_ppm / dev_ppm per trigger from the emitted counts against
    * [[graft.operators.EventValues.BenfordPpm]] — O(types·9) driver
    * math — and alarms when a feed's digit profile drifts from
    * organic, catching fabricated or fixed-price-point injection as
    * it streams in rather than at the next batch audit. Counts are
    * pure functions of the input set, so streaming-after-any-prefix
    * equals the batch aggregate (exact parity oracle). */
  def benfordCounts(ev: DataFrame): DataFrame =
    graft.operators.EventValues.firstDigitCounts(ev)
}
