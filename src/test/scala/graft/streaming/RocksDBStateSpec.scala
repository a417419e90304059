package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import graft.streaming.StreamDedup.Msg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The production state-store recommendation (SURVEY §4: "RocksDB state
  * store in prod conf"), exercised: the chain dedup stream produces the
  * exact batch-chain output when its state lives in RocksDB instead of
  * the default in-memory HDFS-backed store. */
class RocksDBStateSpec extends SparkSpec {

  test("stream chain on the RocksDB state store equals batch chain") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val msgs = Dedup.hashedStream(spark, sf)
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
        .as[Msg].collect().sortBy(m => (m.ts_us, m.event_id))
      val mem = MemoryStream[Msg]
      val name = s"rocks_${System.nanoTime()}"
      val q = StreamDedup.chain(spark, mem.toDF(), Dedup.WindowUs)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        msgs.grouped(math.max(1, msgs.length / 3)).foreach { b =>
          mem.addData(b.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val got = spark.table(name).select("event_id")
        .collect().map(_.getLong(0)).toSet
      val want = Dedup.chainNative(Dedup.hashedStream(spark, sf))
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
