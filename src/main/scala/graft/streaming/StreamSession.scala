package graft.streaming

import graft.functions.Hashing.{dec, money2}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming gap-sessionization on Spark's native session_window —
  * the streaming analog of the batch EventUsers.sessionize window
  * pipeline. State per open session is one (start, end, count, sum)
  * tuple; the engine merges windows as late events arrive.
  *
  * Boundary alignment: session_window merges INCLUSIVELY at the
  * boundary — an event exactly gap after the previous one extends the
  * session (verified empirically; the window's printed range is
  * half-open but the merge test is `start <= prevEnd`). The batch
  * operator likewise keeps diff == gapUs in-session and splits only on
  * diff > gapUs, so passing gapUs UNCHANGED gives event-for-event
  * parity (boundary-fixture spec). */
object StreamSession {

  /** Sessionize a (user_id, ts_us, value) frame — batch or streaming.
    * Streaming: run in complete mode, or add a watermark upstream for
    * append/update with state eviction. */
  def sessionize(ev: DataFrame, gapUs: Long = 1800L * 1000000L): DataFrame =
    ev.withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapUs microseconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
           min("ts_us").as("start_us"),
           max("ts_us").as("end_us"),
           money2(sum(dec(col("value")))).as("sum_value"))
      .select("user_id", "n_events", "start_us", "end_us", "sum_value")
}
