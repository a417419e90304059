package graft.streaming

import graft.SparkSpec
import graft.operators.Quality
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

case class DqEv(id: Long, v: Double, t: String)

/** The streaming dq monitor reports exactly the batch gate's violation
  * counts for the same data — one check definition, two runtimes. */
class StreamQualitySpec extends SparkSpec {

  test("streamed benford counts equal the batch kernel over the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = graft.operators.Dedup.eventsUs(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val mem = MemoryStream[(String, Double)]
    val name = s"ben_${System.nanoTime()}"
    val q = StreamQuality.benfordCounts(mem.toDF().toDF("event_type", "value"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = graft.operators.EventValues
      .firstDigitCounts(rows.toDF("event_type", "value")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("observed per-batch violation counts sum to the batch tableChecks counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Seq(
      DqEv(1, 5.0, "a"), DqEv(2, -1.0, "b"), DqEv(3, 2.0, null),
      DqEv(4, -0.5, "c"), DqEv(5, 0.0, "d"), DqEv(6, -9.0, null))
    val checks = Seq(
      "v_non_negative" -> (col("v") >= 0),
      "t_present" -> col("t").isNotNull)
    val mem = MemoryStream[DqEv]
    val name = s"dq_${System.nanoTime()}"
    val totals = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val q = StreamQuality.observed(mem.toDS().toDF(), checks)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(2).foreach { b => mem.addData(b); q.processAllAvailable() }
      q.recentProgress.foreach { p =>
        Option(p.observedMetrics.get(StreamQuality.MetricName)).foreach { row =>
          checks.zipWithIndex.foreach { case ((n, _), i) =>
            totals(n) += row.getLong(i)
          }
        }
      }
    } finally q.stop()
    val batch = Quality.tableChecks(rows.toDF(), "t", checks).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(batch == Map("v_non_negative" -> 3L, "t_present" -> 2L))
    assert(totals.toMap == batch,
      "per-micro-batch observed counts must sum to the batch gate's counts")
  }
}
