package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventUsers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The streaming funnel state machine reaches the same stage sets as
  * the batch events_funnel query when events arrive in event-time
  * order (the machine's delivery contract), across several
  * micro-batches. */
class StreamFunnelSpec extends SparkSpec {

  test("final stage counts equal the batch funnel") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_type")
      .orderBy("ts_us", "user_id").collect()
      .map(r => StreamFunnel.Ev(r.getLong(0), r.getLong(1), r.getString(2)))
    val mem = MemoryStream[StreamFunnel.Ev]
    val name = s"fn_${System.nanoTime()}"
    val q = StreamFunnel.funnelStages(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try {
      rows.grouped(math.max(1, rows.length / 5)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    // stages are monotone → the max per user is the final state
    val stages = spark.table(name).groupBy("user_id")
      .agg(max("stage").as("stage")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = (1 to 3).map(k => stages.values.count(_ >= k).toLong)
    val want = EventUsers.funnel(spark, sf).collect().head
    assert(got == Seq(want.getLong(0), want.getLong(1), want.getLong(2)),
      s"streaming stage counts $got must equal batch funnel $want")
  }
}
