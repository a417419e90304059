package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventSeries}
import graft.sinks.TxnParquet
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Top-level so Spark can instantiate the encoder without an outer
  * scope. */
case class TrendEv(event_type: String, ts_us: Long, value: Double)

/** StreamTrend vs the batch OLS panel: daily cents deltas folded
  * across micro-batches evaluate to the IDENTICAL slope/intercept/r²
  * panel, batching invariant; compaction changes nothing. */
class StreamTrendSpec extends SparkSpec {

  private lazy val events: Seq[TrendEv] =
    Dedup.eventsUs(spark, sf).select("event_type", "ts_us", "value")
      .orderBy("ts_us").collect()
      .map(r => TrendEv(r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("streamed daily deltas fold to the exact batch OLS panel, in any batching") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val want = rows(EventSeries.trendOls(spark, sf))
    assert(want.nonEmpty)
    for (nBatches <- Seq(1, 4)) {
      val stateDir = Files.createTempDirectory("trend").toString
      val mem = MemoryStream[TrendEv]
      val q = StreamTrend.monitor(mem.toDF(), stateDir)
      try {
        val size = math.max(1, events.size / nBatches)
        events.grouped(size).foreach { chunk =>
          mem.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      // one algebra, two runtimes: OLS over the folded stream state
      // equals the batch events_trend_ols — daily cents sums are a
      // ℤ-group, so batching cannot change the moments
      assert(rows(StreamTrend.panel(spark, stateDir)) == want,
        s"trend panel drifted from batch at nBatches=$nBatches")
      // compaction of the delta log changes nothing
      TxnParquet.compact(spark, stateDir)
      TxnParquet.vacuum(spark, stateDir)
      assert(rows(StreamTrend.panel(spark, stateDir)) == want)
    }
  }
}
