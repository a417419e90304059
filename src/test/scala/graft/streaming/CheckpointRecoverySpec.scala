package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.io.Source

import graft.SparkSpec
import graft.operators.Dedup
import graft.sinks.TxnParquet
import graft.streaming.StreamDedup.Msg
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The reference rebuilds its dedup cache by re-reading its output
  * topic after a restart (cacheBuilding.ts). Structured Streaming's
  * checkpointed state store makes recovery native: stop the query,
  * start a new one on the same checkpoint, and the TTL-chain state is
  * still there — replicas arriving after the restart are still dropped. */
class CheckpointRecoverySpec extends SparkSpec {

  test("chain dedup state survives a query restart via checkpoint") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ckpt_test").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")

    val all = Dedup.hashedStream(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      .as[Msg].collect().sortBy(m => (m.ts_us, m.event_id))
    // batch 1: originals; batch 2 (after restart): +37s and +2h replicas
    val (batch1, batch2) = all.partition(_.event_id < 10000000L)

    def runOnce(msgs: Array[Msg]): Unit = {
      msgs.toSeq.toDF().write.mode("append").parquet(inDir)
      val src = spark.readStream.schema(
        msgs.toSeq.toDF().schema).parquet(inDir)
      val q = StreamDedup.chain(spark, src.toDF(), Dedup.WindowUs)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }

    runOnce(batch1)   // first incarnation of the query
    runOnce(batch2)   // restarted from the same checkpoint

    val got = spark.read.parquet(outDir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val want = Dedup.chainNative(Dedup.hashedStream(spark, sf))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // and specifically: replicas within the TTL window were dropped by
    // state recovered from the checkpoint, not re-forwarded
    assert(got.count(id => id >= 10000000L && id < 20000000L) <
      batch1.length / 100)
  }

  test("a checkpoint written by Spark's flatMapGroupsWithState operator restores") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // micro-batches 0-1 of ChainCheckpointFixture, written before the
    // chain ran as StreamChainDedupExec: HDFS state store, state format
    // version 2, event-time timeouts
    val fixture = new File(getClass.getResource("/chain_checkpoint").toURI)
    val base = Files.createTempDirectory("graft_ckpt_fixture").toFile
    FileUtils.copyDirectory(fixture, base)
    val (out, ckpt) = (s"$base/out", s"$base/checkpoint")
    val bs = ChainCheckpointFixture.batches(spark, sf)
    val mem = MemoryStream[Msg]
    bs.take(2).foreach(mem.addData(_))
    val q = ChainCheckpointFixture.start(mem, out, ckpt)
    try bs.drop(2).foreach { b => mem.addData(b); q.processAllAvailable() } finally q.stop()

    val got = TxnParquet.read(spark, out).select("event_id").as[Long].collect().sorted.toSeq
    val want = Dedup.chainNative(Dedup.hashedStream(spark, sf))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == want)
    // the state the old operator left after the same four micro-batches
    val src = Source.fromFile(new File(fixture, "state.txt"), "UTF-8")
    try assert(ChainCheckpointFixture.stateLines(spark, ckpt) == src.getLines().toSeq)
    finally src.close()
  }
}
