package graft.streaming

import java.nio.file.Files

import graft.{GraftConfig, SparkSpec}
import graft.operators.Dedup
import graft.sinks.TxnParquet
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

object DedupJobSpec {
  /** One events-shape message, the job's input. */
  case class Ev(event_id: Long, ts_us: Long, user_id: Long,
                event_type: String, value: Double, props: String)
}

/** The dedup job end to end: conf → digest → TTL chain → origin →
  * output, warm-up from that output after a lost checkpoint, the
  * listener's counters and the graceful stop. The batch chain over the
  * same messages is the oracle. */
class DedupJobSpec extends SparkSpec {
  import DedupJobSpec.Ev
  import spark.implicits._

  /** The sf0.001 events with their +37 s and +2 h replicas, in event
    * time; the originals are the ids below 10⁷. */
  private lazy val messages: Array[Ev] =
    Dedup.withReplicas(Dedup.eventsUs(spark, sf)).as[Ev].collect()
      .sortBy(m => (m.ts_us, m.event_id))
  private def isOriginal(m: Ev) = m.event_id < 10000000L

  private def freshDir(): String = Files.createTempDirectory("graft_dedupjob").toString

  /** Start the job, feed `msgs` in three time-ordered batches, run
    * `whileRunning`, then stop it. */
  private def runJob(msgs: Seq[Ev], out: String, ckpt: String)
                    (whileRunning: DedupJob => Unit = _ => ()): DedupJob = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val job = DedupJob.start(mem.toDF(), out, ckpt)
    try {
      msgs.grouped(math.max(1, msgs.length / 3)).foreach { b =>
        mem.addData(b); job.query.processAllAvailable()
      }
      whileRunning(job)
    } finally job.stop()
    job
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("event_id").as[Long].collect().sorted.toSeq

  test("configured dedup applies the ignored-property set and TTL window") {
    val out = freshDir()
    withConf(GraftConfig.IgnoredPropsKey -> """["k"]""",
             GraftConfig.DedupWindowKey -> "7200") {
      runJob(messages.toSeq, out, s"$out/_checkpoint")()
    }
    val got = TxnParquet.read(spark, out)
    val want = Dedup.chainNative(Dedup.hashedStream(spark, sf, Seq("k")), 7200L * 1000000L)
    assert(ids(got) == ids(want))
    val origin = Origin.originDigests(get_json_object(col("props"), "$.origin"))
    assert(got.filter(!(size(origin) === 1 && element_at(origin, 1) === col("digest")))
      .isEmpty)
  }

  test("a lost checkpoint warms from the output's origins; disableRebuild skips it") {
    val (originals, replicas) = messages.toSeq.partition(isOriginal)
    def twoRuns(out: String): Unit = {
      val ckpt = s"$out/_checkpoint"
      runJob(originals, out, ckpt)()
      FileUtils.deleteDirectory(new java.io.File(ckpt))
      runJob(replicas, out, ckpt)()
    }
    val warmed = freshDir()
    // a cache window that reaches back past the test data's event times
    withConf(GraftConfig.CacheWindowKey -> "1e10") { twoRuns(warmed) }
    assert(ids(TxnParquet.read(spark, warmed)) ==
      ids(Dedup.chainNative(Dedup.hashedStream(spark, sf))))

    val cold = freshDir()
    withConf(GraftConfig.CacheWindowKey -> "1e10",
             GraftConfig.DisableRebuildKey -> "true") { twoRuns(cold) }
    val replicaHashed = Dedup.hashedStream(spark, sf).filter(col("event_id") >= 10000000L)
    assert(ids(TxnParquet.read(spark, cold).filter(col("event_id") >= 10000000L)) ==
      ids(Dedup.chainNative(replicaHashed)))
  }

  test("the listener counts the job's forwarded and dropped rows; stop removes the hook") {
    val listener = new Observability.GraftStreamListener
    spark.streams.addListener(listener)
    try {
      val out = freshDir()
      val job = runJob(messages.toSeq, out, s"$out/_checkpoint") { running =>
        // a hook that is still registered cannot be added again
        intercept[IllegalArgumentException](Runtime.getRuntime.addShutdownHook(running.hook))
      }
      val id = job.query.id.toString
      eventually(timeout(30.seconds)) {
        assert(listener.totals(id).exists(s => s.forwarded + s.dropped == messages.length))
      }
      val forwarded = TxnParquet.read(spark, out).count()
      val stats = listener.totals(id).get
      assert(stats.forwarded == forwarded && stats.dropped == messages.length - forwarded)
      assert(!job.query.isActive)
      assert(!Runtime.getRuntime.removeShutdownHook(job.hook))
    } finally spark.streams.removeListener(listener)
  }

  test("blake2b fails at start: the stream's digest is a BIGINT") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = freshDir()
    val e = withConf(GraftConfig.DigestKey -> "blake2b") {
      intercept[IllegalArgumentException](
        DedupJob.start(MemoryStream[Ev].toDF(), out, s"$out/_checkpoint"))
    }
    assert(e.getMessage.contains(GraftConfig.DigestKey))
    assert(spark.streams.active.isEmpty)
  }
}
