package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventUsers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The streaming transition extractor emits exactly the batch Markov
  * lead-window's transition multiset when events arrive in event-time
  * order across micro-batches, with O(1) state per user. */
class StreamMarkovSpec extends SparkSpec {

  test("streaming transition counts equal the batch events_markov counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id", "event_type")
      .orderBy("ts_us", "event_id").collect()
      .map(r => StreamMarkov.Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val mem = MemoryStream[StreamMarkov.Ev]
    val name = s"mk_${System.nanoTime()}"
    val q = StreamMarkov.transitions(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 5)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).groupBy("type_from", "type_to").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = EventUsers.markovTransitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want, "streaming transition multiset must equal the batch lead window")
  }
}
