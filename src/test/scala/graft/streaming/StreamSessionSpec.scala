package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventUsers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** session_window streaming sessionization == the batch window-function
  * sessionize, event-for-event — including multi-batch arrival, which
  * exercises streaming session-state MERGE (a late batch can bridge two
  * previously separate sessions). */
class StreamSessionSpec extends SparkSpec {

  test("streaming session_window equals batch sessionize on the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mem = MemoryStream[(Long, Long, Double)]
    val name = s"ss_${System.nanoTime()}"
    val q = StreamSession.sessionize(
        mem.toDF().toDF("user_id", "ts_us", "value"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      // deliberately UNSORTED multi-batch arrival: session fragments
      // from different batches must merge into the batch answer
      rows.grouped(math.max(1, rows.length / 3)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    val want = EventUsers.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got == want)
  }

  test("boundary fixture: diff == gap stays in-session, diff == gap+1 splits (both engines)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val gapUs = 10000000L // 10 s
    // ts 0 and gap merge (batch splits only on diff > gap); 2*gap+1 splits
    val fixture = Seq((1L, 0L, 1.0), (1L, gapUs, 1.0), (1L, 2 * gapUs + 1, 1.0))
    // batch formulation over the same fixture
    val batch = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us")
      fixture.toDF("user_id", "ts_us", "value")
        .withColumn("new_sess",
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.lag("ts_us", 1).over(w).isNull ||
            org.apache.spark.sql.functions.col("ts_us") -
              org.apache.spark.sql.functions.lag("ts_us", 1).over(w) > gapUs,
            1).otherwise(0))
        .agg(org.apache.spark.sql.functions.sum("new_sess")).collect().head.getLong(0)
    }
    assert(batch == 2L, "fixture must produce exactly 2 batch sessions")
    val mem = MemoryStream[(Long, Long, Double)]
    val name = s"ssb_${System.nanoTime()}"
    val q = StreamSession.sessionize(
        mem.toDF().toDF("user_id", "ts_us", "value"), gapUs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try { mem.addData(fixture); q.processAllAvailable() } finally q.stop()
    val sessions = spark.table(name).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(1))).sortBy(_._1).toSeq
    assert(sessions == Seq((0L, gapUs, 2L), (2 * gapUs + 1, 2 * gapUs + 1, 1L)),
      s"streaming boundary must match batch; got $sessions")
  }
}
