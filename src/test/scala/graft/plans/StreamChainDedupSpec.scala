package graft.plans

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.Dedup
import graft.streaming.{DedupJob, DedupJobSpec, StreamDedup}
import graft.streaming.StreamDedup.{DigestState, Msg}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** What the streaming TTL chain plans and what a trigger of it costs the
  * driver: the swapped-in [[StreamChainDedupExec]] instead of Spark's
  * object path, no initial-state input unless a warm state is given,
  * and no broadcast per trigger. The chain's results are pinned by the
  * streaming dedup specs. */
class StreamChainDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val msgs: Array[Msg] = Dedup.hashedStream(spark, sf)
    .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
    .as[Msg].collect().sortBy(m => (m.ts_us, m.event_id))

  /** The executed plan of the query's last micro-batch. */
  private def executedPlan(q: StreamingQuery): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(q.explain())
    buf.toString("UTF-8")
  }

  /** Run the chain over `msgs` in three micro-batches into a memory
    * sink; returns the last micro-batch's executed plan. */
  private def chainPlan(init: Option[org.apache.spark.sql.Dataset[(Long, DigestState)]]): String = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Msg]
    val q = StreamDedup.chain(spark, mem.toDF(), Dedup.WindowUs, init, Some("2 hours")).toDF()
      .writeStream.format("memory").queryName(s"plan_${System.nanoTime()}")
      .outputMode(OutputMode.Append).start()
    try {
      msgs.grouped(msgs.length / 3 + 1).foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      executedPlan(q)
    } finally q.stop()
  }

  private def exchanges(plan: String): Int = "Exchange hashpartitioning".r.findAllIn(plan).size

  test("a running chain plans StreamChainDedupExec and no object operator") {
    val plan = chainPlan(None)
    assert(plan.contains("StreamChainDedup"), plan)
    for (op <- Seq("DeserializeToObject", "AppendColumns", "FlatMapGroupsWithState",
                   "SerializeFromObject"))
      assert(!plan.contains(op), s"$op in\n$plan")
    // no initial-state branch: the data's shuffle is the only one
    assert(exchanges(plan) == 1, plan)
  }

  test("a warm chain reads its initial state in micro-batch 0 only") {
    val warm = msgs.take(50).map(m => (m.digest, DigestState(m.ts_us))).toMap.toSeq.toDS()
    val plan = chainPlan(Some(warm))
    assert(plan.contains("StreamChainDedup") && exchanges(plan) == 1, plan)
  }

  test("no broadcast besides the stages' task binaries over five triggers") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.rddInfos.map(_.name))
    }
    /** Stages submitted so far, counted once a sentinel job's stage is
      * seen: the listener bus delivers events in order. */
    def stagesSoFar(tag: String): Int = {
      sc.parallelize(Seq(1), 1).setName(tag).count()
      eventually(timeout(30.seconds))(assert(stages.asScala.exists(_.contains(tag))))
      stages.size
    }
    def nextBroadcastId(): Long = { val b = sc.broadcast(0); b.destroy(); b.id }
    sc.addSparkListener(listener)
    try {
      val evs = Dedup.withReplicas(Dedup.eventsUs(spark, sf)).as[DedupJobSpec.Ev].collect()
        .sortBy(m => (m.ts_us, m.event_id)).grouped(400).toSeq
      val out = Files.createTempDirectory("graft_chain_bc").toString
      val mem = MemoryStream[DedupJobSpec.Ev]
      val job = DedupJob.start(mem.toDF(), out, s"$out/_checkpoint", Some("2 hours"))
      mem.addData(evs.head); job.query.processAllAvailable()
      val s0 = stagesSoFar("before")
      val b0 = nextBroadcastId()
      try evs.slice(1, 6).foreach { b => mem.addData(b); job.query.processAllAvailable() }
      finally job.stop()
      val b1 = nextBroadcastId()
      val taskBinaries = stagesSoFar("after") - s0 - 1
      assert(taskBinaries >= 5)
      assert(b1 - b0 - 1 == taskBinaries)
    } finally sc.removeSparkListener(listener)
  }
}
