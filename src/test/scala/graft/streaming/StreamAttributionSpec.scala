package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventUsers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The streaming last-touch attributor emits exactly the batch
  * EventUsers.attribution rows when events arrive in event-time order
  * across micro-batches, with one click tuple of state per user. */
class StreamAttributionSpec extends SparkSpec {

  test("streaming attributions equal the batch window operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id", "event_type")
      .orderBy("ts_us", "event_id").collect()
      .map(r => StreamAttribution.Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val mem = MemoryStream[StreamAttribution.Ev]
    val name = s"attr_${System.nanoTime()}"
    val q = StreamAttribution.attributions(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 5)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = EventUsers.attribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, "streaming attribution set must equal the batch carry-forward window")
    assert(want.nonEmpty)
  }
}
