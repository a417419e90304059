package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, EventSeries}
import graft.sinks.TxnParquet
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** Top-level so Spark can instantiate the encoder without an outer
  * scope (the file-source restart test round-trips it through parquet). */
case class DriftEv(event_type: String, ts_us: Long)

/** StreamDrift vs the batch CUSUM panel: hourly deltas folded across
  * micro-batches evaluate to the IDENTICAL drift panel, batching
  * invariant, and compaction of the delta log changes nothing. */
class StreamDriftSpec extends SparkSpec {

  type Ev = DriftEv
  private def Ev(et: String, ts: Long) = DriftEv(et, ts)

  private lazy val events: Seq[Ev] =
    Dedup.eventsUs(spark, sf).select("event_type", "ts_us")
      .orderBy("ts_us").collect()
      .map(r => Ev(r.getString(0), r.getLong(1))).toSeq

  private def panelRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("streamed deltas fold to the exact batch panel, in any batching") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val want = panelRows(EventSeries.cusumDrift(spark, sf))
    for (nBatches <- Seq(1, 3)) {
      val stateDir = Files.createTempDirectory("drift").toString
      val mem = MemoryStream[Ev]
      val q = StreamDrift.monitor(mem.toDF(), stateDir)
      try {
        val size = math.max(1, events.size / nBatches)
        events.grouped(size).foreach { chunk =>
          mem.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      assert(panelRows(StreamDrift.panel(spark, stateDir)) == want,
        s"panel drifted from batch at nBatches=$nBatches")
    }
  }

  test("monitor survives a restart: file-source + checkpoint, no double counts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_drift_ckpt").toString
    val (inDir, stateDir, ckpt) = (s"$base/in", s"$base/state", s"$base/ckpt")
    val (half1, half2) = events.splitAt(events.size / 2)
    def runOnce(chunk: Seq[Ev]): Unit = {
      chunk.toDF().write.mode("append").parquet(inDir)
      val src = spark.readStream.schema(chunk.toDF().schema).parquet(inDir)
      val q = StreamDrift.monitor(src.toDF(), stateDir, Some(ckpt))
      q.processAllAvailable(); q.stop()
    }
    runOnce(half1) // first incarnation
    runOnce(half2) // restarted from the same checkpoint
    // the checkpoint prevents re-ingesting half1's files, and the
    // TxnParquet batch-id idempotence backstops any replayed batch —
    // the folded panel is exactly the batch panel, no double counting
    assert(panelRows(StreamDrift.panel(spark, stateDir)) ==
      panelRows(EventSeries.cusumDrift(spark, sf)))
  }

  test("streamed weekly composition deltas fold to the exact batch type-drift panel") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val want = panelRows(graft.operators.EventSeries.typeDrift(spark, sf))
    for (nBatches <- Seq(1, 4)) {
      val stateDir = Files.createTempDirectory("typedrift").toString
      val mem = MemoryStream[Ev]
      val q = StreamDrift.monitorComposition(mem.toDF(), stateDir)
      try {
        val size = math.max(1, events.size / nBatches)
        events.grouped(size).foreach { chunk =>
          mem.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      // one algebra, two runtimes: the composition panel over the
      // folded stream state equals the batch events_type_drift
      assert(panelRows(StreamDrift.compositionPanel(spark, stateDir)) == want,
        s"composition panel drifted from batch at nBatches=$nBatches")
      // compaction of the delta log changes nothing
      TxnParquet.compact(spark, stateDir)
      TxnParquet.vacuum(spark, stateDir)
      assert(panelRows(StreamDrift.compositionPanel(spark, stateDir)) == want)
    }
  }

  test("compacting the delta log leaves the panel untouched") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stateDir = Files.createTempDirectory("drift").toString
    val mem = MemoryStream[Ev]
    val q = StreamDrift.monitor(mem.toDF(), stateDir)
    try {
      events.grouped(math.max(1, events.size / 4)).foreach { chunk =>
        mem.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val before = panelRows(StreamDrift.panel(spark, stateDir))
    TxnParquet.compact(spark, stateDir)
    TxnParquet.vacuum(spark, stateDir)
    assert(panelRows(StreamDrift.panel(spark, stateDir)) == before)
    assert(before == panelRows(EventSeries.cusumDrift(spark, sf)))
  }
}
