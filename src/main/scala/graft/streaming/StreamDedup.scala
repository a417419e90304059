package graft.streaming

import graft.plans.StreamChainFn
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The reference's actual runtime re-expressed as Structured Streaming.
  *
  * The reference consumes a Pulsar topic, forwards first occurrences,
  * and drops duplicates within a TTL window, warming its state from
  * prior output on startup (/root/reference/src/deduplication.ts,
  * cacheBuilding.ts). Here the stream is any Spark streaming DataFrame
  * with the canonical envelope columns (event_id, ts_us, user_id,
  * event_type, value, props, digest — see operators.Dedup for the
  * digest derivation); sources/sinks are whatever `readStream`/
  * `writeStream` supports (Kafka, files, sockets…).
  *
  * State scale: one timestamp per digest, hash-partitioned by Spark's
  * state store — at 1000 executors state is sharded uniformly because
  * digests are uniform hashes. Use the RocksDB state store provider in
  * production for state larger than executor heap.
  */
object StreamDedup {

  /** Canonical message envelope of the deduplicated stream. */
  case class Msg(event_id: Long, ts_us: Long, user_id: Long,
                 event_type: String, value: Double, props: String, digest: Long)

  /** Every input row, tagged forwarded/dropped — the observability form
    * (reference logs forwarded+dropped per minute, deduplication.ts:82-94). */
  case class TaggedMsg(event_id: Long, ts_us: Long, user_id: Long,
                       event_type: String, value: Double, props: String,
                       digest: Long, kept: Boolean)

  /** Per-digest dedup state: event time (µs) of the last forwarded row. */
  case class DigestState(lastKeptUs: Long)

  /** Attach an event-time column for watermarking. */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(col("ts_us")))

  /** #26: first occurrence per digest (TTL = ∞): streaming
    * `dropDuplicates` keyed on the digest. Watermark bounds state only
    * when the key includes event time; with digest-only keys state
    * grows with distinct keys — use #27/#28 for bounded state. */
  def firstOccurrence(df: DataFrame): DataFrame =
    withEventTime(df).withWatermark("ts", "2 hours").dropDuplicates("digest")

  /** #27: TTL-window dedup via `dropDuplicatesWithinWatermark` — the
    * built-in analog of DEDUPLICATION_WINDOW_IN_SECONDS: duplicates
    * within the watermark delay of the kept row are dropped, and state
    * ages out with the watermark (bounded, exactly like the reference's
    * ObliviousSet expiry). */
  def withinWatermark(df: DataFrame, window: String = "1 hour"): DataFrame =
    withEventTime(df).withWatermark("ts", window)
      .dropDuplicatesWithinWatermark("digest")

  /** The one stateful operator behind [[chain]], [[chainTagged]] and
    * [[DedupJob]]: grouped by digest, carrying one timestamp of state
    * per key, emitting every row tagged by the keep rule, which runs as
    * `plans.StreamChainDedupExec` (the function handed to
    * `flatMapGroupsWithState` only marks the operator for that swap).
    * `initialState` is the digest→lastKept map recovered from prior
    * output (the cacheBuilding.ts warm-up); without it the operator has
    * no initial-state input at all.
    *
    * The grouping key is the `digest` column itself, named `value` and
    * never null, so the state's key schema stays the `value: bigint` the
    * typed `groupByKey(_.digest)` wrote before, and checkpoints written
    * with it restore. The input must be a stream: `Dedup.chainNative`
    * is the batch form. */
  private[streaming] def taggedChain(spark: SparkSession, df: DataFrame, windowUs: Long,
                                     initialState: Option[Dataset[(Long, DigestState)]],
                                     stateExpiry: Option[String]): Dataset[TaggedMsg] = {
    import spark.implicits._
    require(df.isStreaming, "the TTL chain is a streaming operator; Dedup.chainNative is its batch form")
    val withTs = withEventTime(
      df.select("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest"))
    // stateExpiry=Some(delay) bounds state with an event-time timeout:
    // a digest's entry is irrelevant once its TTL has elapsed (the
    // ObliviousSet expiry), so it can be dropped when the watermark
    // passes lastKept+window. The tradeoff: a watermark makes the
    // operator drop late input rows, so historical REPLAY (reprocessing
    // data far older than the recovered watermark, e.g. after long
    // downtime) must use stateExpiry=None (unbounded state, any arrival
    // order — see CheckpointRecoverySpec) or re-bootstrap instead
    // (Dedup.bootstrap / the initialState warm-up).
    val ds = stateExpiry.fold(withTs)(withTs.withWatermark("ts", _))
    val grouped = ds.groupBy(Bridge.column(AssertNotNull(Bridge.expression(col("digest"))))
      .as("value")).as[Long, Msg]
    val timeout =
      if (stateExpiry.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val keep = new StreamChainFn[Long, Msg, DigestState, TaggedMsg](
      windowUs, ts = "ts_us", tiebreak = Seq("event_id"))
    initialState match {
      case None => grouped.flatMapGroupsWithState(OutputMode.Append, timeout)(keep)
      case Some(init) =>
        val warm = init.toDF("value", "state")
          .select(col("value"), col("state.lastKeptUs").as("lastKeptUs"))
          .groupBy("value").as[Long, DigestState]
        grouped.flatMapGroupsWithState(OutputMode.Append, timeout, warm)(keep)
    }
  }

  /** #28: exact ObliviousSet chain semantics with warm-up bootstrap —
    * the forwarded rows of [[chainTagged]]. Rows within a trigger are
    * sorted by event time before the greedy scan. */
  def chain(spark: SparkSession, df: DataFrame, windowUs: Long,
            initialState: Option[Dataset[(Long, DigestState)]] = None,
            stateExpiry: Option[String] = None): Dataset[Msg] = {
    import spark.implicits._
    taggedChain(spark, df, windowUs, initialState, stateExpiry)
      .where(col("kept")).drop("kept").as[Msg]
  }

  /** `chain`, but emitting EVERY row tagged kept/dropped instead of
    * filtering — the stream observability form. Downstream splits into
    * the forwarded stream (`filter(kept)`, then Origin.withOriginProp)
    * and the per-minute counters (`minuteCounters`), both fed by one
    * stateful operator. Same O(1)-per-digest state as `chain`. */
  def chainTagged(spark: SparkSession, df: DataFrame, windowUs: Long,
                  initialState: Option[Dataset[(Long, DigestState)]] = None)
      : Dataset[TaggedMsg] =
    taggedChain(spark, df, windowUs, initialState, stateExpiry = None)

  /** The reference's per-minute forwarded/dropped counters IN the
    * stream (deduplication.ts:82-94): a watermarked 1-minute windowed
    * aggregation over the tagged stream. Works identically on a batch
    * frame (the oracle-checked dedup_counters shape). */
  def minuteCounters(tagged: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val withTs = withEventTime(tagged)
    val wm = if (withTs.isStreaming) withTs.withWatermark("ts", watermark) else withTs
    wm.groupBy(window(col("ts"), "1 minute"))
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_forwarded"),
        sum(when(!col("kept"), 1L).otherwise(0L)).cast("long").as("n_dropped"))
      .select(
        (unix_micros(col("window.start")) / 60000000L).cast("long").as("minute_bucket"),
        col("n_forwarded"), col("n_dropped"))
  }

  /** Attach observed per-batch forwarded/dropped metrics to a tagged
    * stream — surfaced through StreamingQueryProgress.observedMetrics
    * and collected by Observability.GraftStreamListener (the metrics/
    * health analog of the reference's counter log + healthCheck.ts). */
  def observed(tagged: Dataset[TaggedMsg]): DataFrame =
    tagged.toDF().observe(Observability.MetricName,
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_forwarded"),
      sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))

  /** Seed streaming chain state from a digest-state TABLE (digest,
    * last_kept_us): an IncrementalDedup state table — a daily batch job
    * and a streaming job can hand the same dedup state back and forth —
    * or the digests read back out of prior output's `origin` property
    * by Origin.warmDigestsFromOutput (the cacheBuilding.ts warm-up, e.g.
    * after losing the checkpoint). */
  def warmStateFromTable(spark: SparkSession, state: org.apache.spark.sql.DataFrame)
      : Dataset[(Long, DigestState)] = {
    import spark.implicits._
    state.select(col("digest").as("_1"), struct(col("last_kept_us").as("lastKeptUs")).as("_2"))
      .as[(Long, DigestState)]
  }

  /** #29: watermarked tumbling-window counters — the streaming form of
    * the reference's per-minute forwarded/dropped log line and of
    * EventSeries.eventsWindow. */
  def windowCounts(df: DataFrame, window: String = "1 hour"): DataFrame =
    withEventTime(df)
      .withWatermark("ts", "30 minutes")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
}
