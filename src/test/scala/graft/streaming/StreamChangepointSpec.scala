package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventSeries}
import graft.sinks.TxnParquet
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Top-level so Spark can instantiate the encoder without an outer
  * scope. */
case class CpEv(event_type: String, ts_us: Long)

/** StreamChangepoint vs the batch CUSUM locator: daily count deltas
  * folded across micro-batches evaluate to the IDENTICAL split
  * day / segment means / gain panel, batching invariant; compaction
  * changes nothing. */
class StreamChangepointSpec extends SparkSpec {

  private lazy val events: Seq[CpEv] =
    Dedup.eventsUs(spark, sf).select("event_type", "ts_us")
      .orderBy("ts_us").collect()
      .map(r => CpEv(r.getString(0), r.getLong(1))).toSeq

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("streamed daily count deltas fold to the exact batch changepoint panel, in any batching") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val want = rows(EventSeries.changepoint(spark, sf))
    val wantFriedman = rows(EventSeries.friedmanDow(spark, sf))
    assert(want.nonEmpty)
    for (nBatches <- Seq(1, 4)) {
      val stateDir = Files.createTempDirectory("cp").toString
      val mem = MemoryStream[CpEv]
      val q = StreamChangepoint.monitor(mem.toDF(), stateDir)
      try {
        val size = math.max(1, events.size / nBatches)
        events.grouped(size).foreach { chunk =>
          mem.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      // one algebra, two runtimes: the locator over the folded stream
      // state equals the batch events_changepoint — daily counts are a
      // ℤ-group, so batching cannot move the split
      assert(rows(StreamChangepoint.panel(spark, stateDir)) == want,
        s"changepoint panel drifted from batch at nBatches=$nBatches")
      // one maintained state, two readings: the weekly-rhythm panel
      // over the SAME delta log equals the batch events_friedman_dow
      assert(rows(StreamChangepoint.friedmanPanel(spark, stateDir))
        == wantFriedman,
        s"friedman panel drifted from batch at nBatches=$nBatches")
      // compaction of the delta log changes nothing
      TxnParquet.compact(spark, stateDir)
      TxnParquet.vacuum(spark, stateDir)
      assert(rows(StreamChangepoint.panel(spark, stateDir)) == want)
      assert(rows(StreamChangepoint.friedmanPanel(spark, stateDir))
        == wantFriedman)
    }
  }
}
