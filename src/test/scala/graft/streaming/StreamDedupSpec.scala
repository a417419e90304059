package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import graft.streaming.StreamDedup.{DigestState, Msg}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

/** Streaming operators must agree with their batch counterparts on the
  * same data — the batch plans are the oracle here. */
class StreamDedupSpec extends SparkSpec {

  private def hashedMsgs: Array[Msg] = {
    import spark.implicits._
    Dedup.hashedStream(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      .as[Msg].collect().sortBy(m => (m.ts_us, m.event_id))
  }

  /** Feed msgs through a streaming transform in n time-ordered batches;
    * returns the append output table and the query's progress reports. */
  private def runStreamQuery(msgs: Array[Msg], nBatches: Int)(f: DataFrame => DataFrame)
      : (DataFrame, Array[StreamingQueryProgress]) = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Msg]
    val out = f(mem.toDF())
    val name = s"stream_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      msgs.grouped(math.max(1, msgs.length / nBatches)).foreach { batch =>
        mem.addData(batch.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    (spark.table(name), q.recentProgress)
  }

  /** [[runStreamQuery]]'s output rows as messages. */
  private def runStream(msgs: Array[Msg], nBatches: Int)(f: DataFrame => DataFrame): Array[Msg] = {
    import spark.implicits._
    runStreamQuery(msgs, nBatches)(f)._1
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      .as[Msg].collect()
  }

  test("stream firstOccurrence equals batch firstOccurrence") {
    val msgs = hashedMsgs
    val got = runStream(msgs, 3)(StreamDedup.firstOccurrence)
      .map(_.event_id).toSet
    val want = Dedup.firstOccurrence(Dedup.hashedStream(spark, sf))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
  }

  test("stream chain equals batch chain exactly") {
    val msgs = hashedMsgs
    val got = runStream(msgs, 4)(df =>
      StreamDedup.chain(spark, df, Dedup.WindowUs).toDF())
      .map(_.event_id).toSet
    val want = Dedup.chainNative(Dedup.hashedStream(spark, sf))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // the tagged form at the same finite TTL: kept = the chain, every
    // other input row tagged dropped, one output row per input row
    val tagged = runStreamQuery(msgs, 4)(df =>
      StreamDedup.chainTagged(spark, df, Dedup.WindowUs).toDF())._1
      .select("event_id", "kept").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(tagged.length === msgs.length)
    assert(tagged.collect { case (id, true) => id }.toSet === want)
    assert(tagged.collect { case (id, false) => id }.toSet === msgs.map(_.event_id).toSet -- want)
  }

  test("stream chain with bounded state (event-time expiry) equals batch chain on an in-order feed") {
    import spark.implicits._
    val msgs = hashedMsgs
    val (out, progress) = runStreamQuery(msgs, 4)(df =>
      StreamDedup.chain(spark, df, Dedup.WindowUs,
        stateExpiry = Some("2 hours")).toDF())
    val got = out.select("event_id").as[Long].collect().toSet
    val want = Dedup.chainNative(Dedup.hashedStream(spark, sf))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // the feed spans weeks, so expired digests must leave the state
    assert(progress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum > 0)
  }

  test("stream chain with bootstrap state drops warmed digests") {
    import spark.implicits._
    val msgs = hashedMsgs
    val warmed = msgs.take(100).map(m => (m.digest, DigestState(m.ts_us))).toSeq
      .groupBy(_._1).map { case (d, xs) => (d, DigestState(xs.map(_._2.lastKeptUs).max)) }
      .toSeq.toDS()
    val got = runStream(msgs, 2)(df =>
      StreamDedup.chain(spark, df, Long.MaxValue / 4, Some(warmed)).toDF())
      .map(_.event_id).toSet
    // digests warmed into state never re-emit (window effectively infinite)
    val warmedDigests = msgs.take(100).map(_.digest).toSet
    assert(got.forall(id => !warmedDigests.contains(msgs.find(_.event_id == id).get.digest)))
  }

  test("origin warm-up rebuilds chain state from prior output") {
    val msgs = hashedMsgs
    val (batch1, batch2) = msgs.partition(_.event_id < 10000000L)
    // prior incarnation: batch chain over batch1, published with its
    // origin property inside `props` (the events shape), as output
    val outDir = java.nio.file.Files.createTempDirectory("graft_warm").toString
    Origin.withOriginProp(Dedup.chainNative(Dedup.hashedStream(spark, sf).filter(
      col("event_id") < 10000000L)))
      .write.mode("overwrite").parquet(outDir)
    // new incarnation: warm state from the digests in that output's
    // origin property (cacheBuilding.ts), stream the replicas. Cache
    // window covering the whole history (the 48h default would
    // legitimately leave digests older than 2 days cold)
    val digests = Origin.warmDigestsFromOutput(spark.read.parquet(outDir),
      Long.MaxValue / 2, nowUs = msgs.map(_.ts_us).max + 1,
      origin = get_json_object(col("props"), "$.origin"))
    val warmed = StreamDedup.warmStateFromTable(spark, digests)
    val got = runStream(batch2, 2)(df =>
      StreamDedup.chain(spark, df, Dedup.WindowUs, Some(warmed)).toDF())
      .map(_.event_id).toSet
    val want = Dedup.chainNative(Dedup.hashedStream(spark, sf))
      .collect().map(_.getAs[Long]("event_id")).toSet
      .filter(_ >= 10000000L)
    assert(got === want)
  }

  test("stream withinWatermark keeps originals and drops the +37s replicas") {
    val msgs = hashedMsgs
    val got = runStream(msgs, 4)(df => StreamDedup.withinWatermark(df))
      .map(_.event_id).toSet
    val originals = msgs.filter(_.event_id < 10000000L).map(_.event_id)
    // every original is first for its digest (modulo natural collisions)
    assert(originals.count(got.contains) >= originals.length - 5)
    val rep2 = msgs.filter(m => m.event_id >= 10000000L && m.event_id < 20000000L)
    assert(rep2.count(m => got.contains(m.event_id)) <= rep2.length / 100)
  }

  test("stream windowCounts totals match the batch windowed aggregation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val msgs = hashedMsgs.filter(_.event_id < 10000000L) // originals only
    val mem = MemoryStream[Msg]
    val name = s"wc_${System.nanoTime()}"
    val q = StreamDedup.windowCounts(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(msgs.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
      .select(unix_micros(col("window.start")).as("win_us"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0) / 3600000000L, r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.operators.EventSeries.eventsWindow(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === want)
  }
}
