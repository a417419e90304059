package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import graft.streaming.StreamDedup.Msg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{MapType, StringType}

/** The reference's ops surface: in-stream counters
  * (deduplication.ts:82-94), the origin-property round trip
  * (deduplication.ts:120-127 / cacheBuilding.ts:6-63), and the health
  * signal (healthCheck.ts). Batch operators are the oracle. */
class ObservabilitySpec extends SparkSpec {

  private def hashedMsgs: Array[Msg] = {
    import spark.implicits._
    Dedup.hashedStream(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      .as[Msg].collect().sortBy(m => (m.ts_us, m.event_id))
  }

  test("streaming minute counters equal batch dedup_counters") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val msgs = hashedMsgs
    val mem = MemoryStream[Msg]
    // infinite window ⇒ kept = global first occurrence = batch #6 semantics
    val tagged = StreamDedup.chainTagged(spark, mem.toDF(), Long.MaxValue / 4)
    val name = s"mc_${System.nanoTime()}"
    val q = StreamDedup.minuteCounters(tagged.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      msgs.grouped(math.max(1, msgs.length / 3)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Dedup.counters(Dedup.hashedStream(spark, sf)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want)
  }

  test("observed metrics reach the listener; health tracks progress") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val msgs = hashedMsgs
    val listener = new Observability.GraftStreamListener
    spark.streams.addListener(listener)
    try {
      val mem = MemoryStream[Msg]
      val tagged = StreamDedup.chainTagged(spark, mem.toDF(), Long.MaxValue / 4)
      val name = s"obs_${System.nanoTime()}"
      val q = StreamDedup.observed(tagged)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      val nBatches = 3
      try {
        msgs.grouped(math.max(1, msgs.length / nBatches)).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      // listener delivery is async — poll until the batches arrive
      val deadline = System.currentTimeMillis() + 30000
      while (listener.totals(name).forall(_.batches < nBatches) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      val stats = listener.totals(name).get
      val total = msgs.length.toLong
      val forwarded = Dedup.firstOccurrence(Dedup.hashedStream(spark, sf)).count()
      assert(stats.forwarded === forwarded)
      assert(stats.dropped === total - forwarded)
      // the query was stopped above: once the (async) termination event
      // lands, health must flip false immediately — the reference goes
      // unhealthy when the consumer closes, not a timeout later.
      val termDeadline = System.currentTimeMillis() + 30000
      while (!listener.totals(name).exists(_.terminated) &&
             System.currentTimeMillis() < termDeadline) Thread.sleep(50)
      assert(listener.totals(name).exists(_.terminated))
      assert(!listener.isHealthy(name, 60000))
      assert(!listener.isHealthy(s"no_such_query_$name", 60000))
    } finally spark.streams.removeListener(listener)
  }

  test("origin round-trips: output warms exactly the forwarded digests") {
    val out = Dedup.firstOccurrence(Dedup.hashedStream(spark, sf))
    val env = Origin.withOrigin(
      out.withColumn("properties",
        coalesce(from_json(col("props"), MapType(StringType, StringType)),
          map().cast("map<string,string>"))))
    val nowUs = out.agg(max("ts_us")).collect().head.getLong(0) + 1
    val warmed = Origin.warmDigestsFromOutput(env, Long.MaxValue / 2, nowUs)
    val got = warmed.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = out.select("digest", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
  }

  test("malformed origin values are skipped, not fatal (getDigests tolerance)") {
    import spark.implicits._
    val rows = Seq(
      (1L, """["123"]"""),      // valid digest string
      (2L, "not json"),         // unparseable → skip
      (3L, """{"a":1}"""),      // not an array → skip
      (4L, """["12","x3"]"""),  // non-digest element → whole row skipped
      (5L, null),               // origin property absent → skip
      (6L, "[456]"),            // JSON number accepted (documented leniency)
      (7L, """["99999999999999999999"]"""), // beyond Long range → skip, not ANSI crash
      (8L, """["-42"]""")       // negative digest (xxhash64) round-trips
    ).toDF("ts_us", "origin")
    val env = rows.select(col("ts_us"),
      when(col("origin").isNotNull, map(lit("origin"), col("origin")))
        .otherwise(map().cast("map<string,string>")).as("properties"))
    val got = Origin.warmDigestsFromOutput(env, Long.MaxValue / 2, nowUs = 100L)
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(123L, 456L, -42L))
  }
}
