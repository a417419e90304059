package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.GraftSession
import graft.operators.Dedup
import graft.sinks.TxnParquet
import graft.streaming.StreamDedup.Msg
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The committed checkpoint fixture of `CheckpointRecoverySpec`
  * (`src/test/resources/chain_checkpoint`): a bounded-state chain on the
  * HDFS state store provider, stopped after two of four micro-batches.
  *
  * `main` writes it:
  * `sbt "Test/runMain graft.streaming.ChainCheckpointFixture <sf0.001 dir> <dir>"`.
  * It runs the job over micro-batches 0–1 and copies the checkpoint and
  * the output to `<dir>/checkpoint` and `<dir>/out`, then finishes
  * micro-batches 2–3 and writes the state rows the job leaves, read
  * through Spark's `statestore` source, to `<dir>/state.txt`. The files
  * name no absolute path, so the fixture restores from any directory. */
object ChainCheckpointFixture {

  val StateExpiry = "7 days"

  /** The sf0.001 stream with its replicas in event time, in four
    * micro-batches. */
  def batches(spark: SparkSession, sf: String): Seq[Seq[Msg]] = {
    import spark.implicits._
    val msgs = Dedup.hashedStream(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      .as[Msg].collect().sortBy(m => (m.ts_us, m.event_id)).toSeq
    msgs.grouped((msgs.length + 3) / 4).toSeq
  }

  /** Start the chain over `mem` into the TxnParquet table `out`. */
  def start(mem: MemoryStream[Msg], out: String, ckpt: String): StreamingQuery = {
    val in = mem.toDF()
    TxnParquet.appendStream(StreamDedup.chain(in.sparkSession, in, Dedup.WindowUs,
      stateExpiry = Some(StateExpiry)).toDF(), out, Some(ckpt))(identity)
  }

  /** The state rows of `ckpt`'s latest version, one line each,
    * ordered: digest, last kept µs, timeout ms, partition. */
  def stateLines(spark: SparkSession, ckpt: String): Seq[String] = {
    val rows: DataFrame = spark.read.format("statestore").load(ckpt)
      .select(col("key.value"), col("value.groupState.lastKeptUs"),
        col("value.timeoutTimestamp"), col("partition_id"))
    rows.collect().map(r => (0 until 4).map(r.get).mkString(" ")).sorted.toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args(1))
    val spark = GraftSession.local(4)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val work = Files.createTempDirectory("graft_fixture").toString
    val (out, ckpt) = (s"$work/out", s"$work/checkpoint")
    val bs = batches(spark, args(0))
    val mem = MemoryStream[Msg]
    val q = start(mem, out, ckpt)
    bs.take(2).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    FileUtils.copyDirectory(new File(out), new File(dir, "out"))
    FileUtils.copyDirectory(new File(ckpt), new File(dir, "checkpoint"))
    val q2 = start(mem, out, ckpt)
    bs.drop(2).foreach { b => mem.addData(b); q2.processAllAvailable() }
    q2.stop()
    Files.write(new File(dir, "state.txt").toPath,
      stateLines(spark, ckpt).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}
