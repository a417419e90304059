package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The batch-incremental fold must reproduce the single-pass global
  * chain exactly, for any time-ordered batch split — the property that
  * makes the state-table pattern safe to run as a daily job. */
class IncrementalDedupSpec extends SparkSpec {

  private def emptyState = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("digest", "last_kept_us")
  }

  test("folding 3 time-ordered batches equals one global chain pass") {
    val hashed = Dedup.hashedStream(spark, sf)
    val cut1 = 1704110000000000L
    val cut2 = 1704160000000000L
    val batches = Seq(
      hashed.filter(col("ts_us") < cut1),
      hashed.filter(col("ts_us") >= cut1 && col("ts_us") < cut2),
      hashed.filter(col("ts_us") >= cut2))
    var state = emptyState
    val kept = batches.map { b =>
      val (k, s) = IncrementalDedup.processBatch(state, b)
      state = s.localCheckpoint(true)
      k.select("event_id").collect().map(_.getLong(0)).toSet
    }.reduce(_ ++ _)
    val want = Dedup.chainNative(hashed).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === want)
    // the final state is exactly the last kept timestamp per digest
    val wantState = Dedup.chainNative(hashed).groupBy("digest")
      .agg(max("ts_us").as("last_kept_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gotState = state.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotState === wantState)
  }

  test("state table warms a streaming chain (batch → stream handoff)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hashed = Dedup.hashedStream(spark, sf)
    val cut = 1704153600000000L
    // day 1 runs as a batch job, leaving its state table behind
    val (_, state) = IncrementalDedup.processBatch(emptyState,
      hashed.filter(col("ts_us") < cut))
    val warmed = StreamDedup.warmStateFromTable(spark, state.localCheckpoint(true))
    // day 2 runs as a stream seeded from that table
    val msgs = hashed.filter(col("ts_us") >= cut)
      .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      .as[StreamDedup.Msg].collect().sortBy(m => (m.ts_us, m.event_id))
    val mem = MemoryStream[StreamDedup.Msg]
    val name = s"handoff_${System.nanoTime()}"
    val q = StreamDedup.chain(spark, mem.toDF(), Dedup.WindowUs, Some(warmed))
      .writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      msgs.grouped(math.max(1, msgs.length / 2)).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val want = Dedup.chainNative(hashed).select("event_id")
      .collect().map(_.getLong(0)).toSet
      .filter(id => msgs.exists(_.event_id == id))
    assert(got === want)
  }

  test("pruned state never changes the kept output of a later batch") {
    val hashed = Dedup.hashedStream(spark, sf)
    val cut = 1704153600000000L
    val (k1, s1) = IncrementalDedup.processBatch(emptyState,
      hashed.filter(col("ts_us") < cut))
    k1.count() // materialize
    val pruned = IncrementalDedup.pruneState(s1, nowUs = cut)
    assert(pruned.count() < s1.count()) // retention actually dropped entries
    val late = hashed.filter(col("ts_us") >= cut)
    val full = IncrementalDedup.processBatch(s1, late)._1
      .select("event_id").collect().map(_.getLong(0)).toSet
    val lean = IncrementalDedup.processBatch(pruned, late)._1
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(lean === full)
  }
}
