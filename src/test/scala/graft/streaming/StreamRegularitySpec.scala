package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventUsers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The streaming gap extractor emits exactly the batch lag-window's gap
  * multiset under ordered per-user delivery, and the regularity panel
  * over the accumulated stream equals events_bot_regularity row for row
  * — including the planted metronome / identical-timestamp flags. */
class StreamRegularitySpec extends SparkSpec {

  private def streamedGaps() = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id")
      .orderBy("ts_us", "event_id").collect()
      .map(r => StreamRegularity.Ev(r.getLong(0), r.getLong(1), r.getLong(2)))
    val mem = MemoryStream[StreamRegularity.Ev]
    val name = s"rg_${System.nanoTime()}"
    val q = StreamRegularity.gaps(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(math.max(1, rows.length / 5)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name)
  }

  test("streamed gap multiset equals the batch lag window's") {
    val got = streamedGaps().groupBy("user_id", "gap").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = EventUsers.gapsOf(
        Dedup.eventsUs(spark, sf).select("user_id", "ts_us", "event_id"))
      .groupBy("user_id", "gap").count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    assert(got == want, "streaming gaps must equal the batch lag window")
  }

  test("gap histogram over the accumulated stream equals events_gap_histogram") {
    import spark.implicits._
    val gaps = streamedGaps().select("user_id", "gap")
      .as[(Long, Long)].collect().toIndexedSeq
      .toDF("user_id", "gap")
    val got = EventUsers.gapHistogramOf(gaps).collect().map(_.toSeq).toSeq
    val want = EventUsers.gapHistogram(spark, sf).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("regularity panel over the accumulated stream equals events_bot_regularity") {
    // materialize the sink view first: regularityOfGaps self-joins its
    // input, and two branches over the same MemoryPlan view trip the
    // analyzer's conflicting-reference resolution
    import spark.implicits._
    val gaps = streamedGaps().select("user_id", "gap")
      .as[(Long, Long)].collect().toIndexedSeq
      .toDF("user_id", "gap")
    val got = EventUsers.regularityOfGaps(gaps)
      .collect().map(_.toSeq).toSeq
    val want = EventUsers.botRegularity(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    assert(got == want, "panel over streamed gaps must equal the batch panel")
  }
}
