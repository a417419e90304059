package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed point-in-interval (range) join — the second classic operator
  * Spark lacks natively (the first being as-of, see AsOfJoin). Spark
  * plans a non-equi range predicate as a per-key nested loop, which is
  * quadratic on hot keys; this implementation bucketizes time so the
  * join is an EQUI join on (key, bucket):
  *
  *   - each interval explodes into its covered bucket ids
  *     (span/bucketWidth + 1 rows — linear in total covered time);
  *   - each point computes its single bucket id;
  *   - equi-join on (key, bucket), then the exact containment filter.
  *
  * Work is linear in points + interval-bucket fan-out, shuffles once on
  * a composite key whose cardinality grows with the data — the standard
  * scale-out shape for interval joins. Pick `bucketWidth` near the
  * median interval length: too small inflates the interval fan-out, too
  * large inflates candidate pairs per bucket.
  */
object RangeJoin {

  /** Join `points` (…, key, t) to `intervals` (…, key, lo, hi): one
    * output row per (point, containing interval), inclusive bounds.
    * Column names must not collide apart from `key`. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      key: String, t: String, lo: String, hi: String,
                      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0)
    val iv = intervals.withColumn("__bucket",
      explode(sequence(col(lo).divide(bucketWidth).cast("long"),
        col(hi).divide(bucketWidth).cast("long"))))
    val pt = points.withColumn("__bucket",
      col(t).divide(bucketWidth).cast("long"))
    pt.join(iv, Seq(key, "__bucket"))
      .filter(col(t) >= col(lo) && col(t) <= col(hi))
      .drop("__bucket")
  }

  /** events_session_lookup: assign every event to its session interval
    * (from EventUsers.sessionize) via the bucketized range join — the
    * round-trip proves containment semantics against the gap-based
    * construction (each event lands in exactly one session). */
  def eventsSessionLookup(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame = {
    val sess = EventUsers.sessionize(spark, dir)
      .select("user_id", "session_idx", "start_us", "end_us")
    val ev = Dedup.eventsUs(spark, dir).select("event_id", "user_id", "ts_us")
    pointInInterval(ev, sess, key = "user_id", t = "ts_us",
        lo = "start_us", hi = "end_us", bucketWidth = 3600L * 1000000L)
      .select("event_id", "user_id", "ts_us", "session_idx")
      .orderBy("event_id")
  }
}
