package graft.operators

import graft.Partitioning._
import graft.Tables
import graft.functions.Hashing._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-deduplication operators — the reference's core capability
  * (ordered first-occurrence dedup within a TTL window, plus warm-up
  * bootstrap), re-expressed as declarative Spark plans over the `events`
  * table treated as the message stream.
  *
  * Reference semantics (cited in SURVEY.md §1):
  *  - keep FIRST occurrence per canonical digest, in event-time order
  *    (/root/reference/src/deduplication.ts:95-160);
  *  - digests expire after DEDUPLICATION_WINDOW seconds and duplicates
  *    do not refresh the TTL (deduplication.ts:77,117-121) → greedy
  *    chain per digest;
  *  - on startup, state is warmed from recent prior output
  *    (the reference's cacheBuilding.ts) → [[bootstrap]], one
  *    aggregate over history and fresh rows (streams warm through
  *    streaming.Origin.warmDigestsFromOutput instead).
  *
  * The batch TTL chain has one implementation, the Catalyst operator
  * behind [[chainNative]]; [[IncrementalDedup]] runs the same operator
  * against a state table.
  *
  * Scale: every operator here shuffles exactly once, on the digest —
  * digests are uniform hashes, so hash partitioning is skew-free by
  * construction. Per-key state is a single timestamp (O(1)).
  */
object Dedup {

  /** TTL window: DEDUPLICATION_WINDOW_IN_SECONDS default (config.ts). */
  val WindowUs: Long = 3600L * 1000000L

  /** CACHE_WINDOW_IN_SECONDS default (config.ts) for warm-up. */
  val CacheWindowUs: Long = 172800L * 1000000L

  /** Replica arrival skews for the deterministic duplicate generator. */
  val Replica2ShiftUs: Long = 37L * 1000000L      // within TTL window
  val Replica3ShiftUs: Long = 7200L * 1000000L    // beyond TTL window

  /** Bootstrap cutoff: 2024-01-02T00:00:00Z in epoch µs. */
  val BootstrapCutoffUs: Long = 1704153600000000L

  private val evCols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")

  /** `events` as a message stream with µs event time. The physical `ts`
    * encoding varies across data generations (int64 nanos vs
    * TIMESTAMP(MICROS)); `Tables.tsUsCol` normalizes adaptively so this
    * operator family never depends on one parquet representation. */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(
      col("event_id"), Tables.tsUsCol(ev).as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** Deterministic replica simulation: each message arrives three times
    * (original, +37 s replica inside the TTL window, +2 h replica beyond
    * it) — models the duplicated upstream replicas the reference exists
    * to reconcile (README: mqtt-pulsar-forwarder replicas). */
  def withReplicas(ev: DataFrame): DataFrame = {
    def shifted(idOff: Long, tsOff: Long): DataFrame = ev.select(
      (col("event_id") + idOff).as("event_id"),
      (col("ts_us") + tsOff).as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    ev.select(evCols.map(col): _*)
      .unionAll(shifted(10000000L, Replica2ShiftUs))
      .unionAll(shifted(20000000L, Replica3ShiftUs))
  }

  /** Replicated stream + canonical digest column. `spread` rebalances
    * digest computation across cores ONLY when the scan under-splits
    * (the local single-row-group test parquet); a multi-split scan at
    * real scale passes through with no extra exchange (Partitioning).
    * `hasher = Hashing.fast64` is the throughput variant: identical
    * canonicalization, xxhash64 digest (stays inside whole-stage
    * codegen; no md5); its kept-row set is identical to the md5 path's
    * absent hash collisions among distinct identities. */
  def hashedStream(spark: SparkSession, dir: String,
                   ignored: Seq[String] = Nil,
                   hasher: Column => Column = h64): DataFrame =
    withReplicas(eventsUs(spark, dir))
      .spread
      .withColumn(
        "digest",
        eventDigest(col("user_id"), col("event_type"), col("value"), col("props"),
          ignored, hasher))

  private def orderedOut(df: DataFrame): DataFrame =
    df.select((evCols :+ "digest").map(col): _*).orderBy("event_id")

  /** #1/#2: global first occurrence per digest (TTL = ∞). One shuffle. */
  def firstOccurrence(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("digest").orderBy("ts_us", "event_id")
    orderedOut(df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1))
  }

  /** #3: first occurrence per (digest, tumbling TTL window) — the
    * scalable approximation: state is bounded per window and windows age
    * out naturally, exactly how a TTL cache behaves under partitioning. */
  def tumbling(df: DataFrame, windowUs: Long = WindowUs): DataFrame = {
    val win = expr(s"ts_us div ${windowUs}L").as("win")
    val w = Window.partitionBy("digest", "win").orderBy("ts_us", "event_id")
    df.withColumn("win", win)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select((evCols ++ Seq("digest", "win")).map(col): _*)
      .orderBy("event_id")
  }

  /** #4: exact ObliviousSet TTL semantics: per digest keep the first
    * row, then greedily the next row ≥ lastKept + window (duplicates do
    * NOT refresh the TTL — deduplication.ts only calls cache.add on the
    * not-seen branch).
    *
    * Plan: the keep rule is a first-class Catalyst operator
    * (plans.ChainDedupPlan/Exec) — one hash shuffle on digest +
    * in-partition sort, inserted by Catalyst from the operator's
    * required distribution/ordering, then a streaming run-scan with
    * O(1) state per key inside whole-stage codegen: no per-group
    * materialization (a degenerate hot digest cannot OOM an executor)
    * and no object ser/de boundary. Needs GraftExtensions registered
    * (GraftSession does this). */
  def chainNative(df: DataFrame, windowUs: Long = WindowUs): DataFrame =
    keptRows(df.select((evCols :+ "digest").map(col): _*), windowUs, floor = None)
      .orderBy("event_id")

  /** The kept rows of `df` under the chain keep rule, unordered, shared
    * by [[chainNative]] and [[IncrementalDedup.processBatch]]. `floor`
    * names an optional column carrying the digest's last kept time from
    * earlier batches: when non-null it seeds the digest's run, otherwise
    * the run's first row is kept. */
  private[operators] def keptRows(df: DataFrame, windowUs: Long,
                                  floor: Option[String]): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val plan = Bridge.logicalPlan(df)
    def attr(n: String) = plan.output.find(_.name == n).get
    Bridge.ofRows(df.sparkSession,
      graft.plans.ChainDedupPlan(attr("digest"), attr("ts_us"),
        Seq(attr("event_id")), windowUs, floor.map(attr), plan))
  }

  /** #5: warm-up bootstrap (cacheBuilding.ts buildUpCache): the dedup
    * state is warmed from the digests of prior OUTPUT — i.e. messages
    * the dedupper forwarded (first occurrences), not every raw input
    * row — read back CACHE_WINDOW seconds. A digest first-forwarded
    * BEFORE the window (whose later duplicates were dropped, hence
    * absent from the output topic) is NOT warmed, so a fresh
    * re-occurrence is forwarded again — exactly the reference's
    * behavior. `cacheWindowUs <= 0` skips warm-up entirely
    * (cacheBuilding.ts:72-79).
    *
    * Plan: ONE aggregation over the digested stream — per digest, the
    * first pre-cutoff timestamp (= when the digest was first forwarded)
    * and the first fresh row (min of a (ts_us, event_id, …) struct, so
    * the whole row rides the aggregate). Both are `min`s, so partial
    * aggregation combines map-side: only per-digest minima cross the
    * exchange, there is no sort and no window buffering, and the
    * scan+digest pipeline executes exactly once. */
  def bootstrap(df: DataFrame, cutoffUs: Long = BootstrapCutoffUs,
                cacheWindowUs: Long = CacheWindowUs): DataFrame = {
    if (cacheWindowUs <= 0)
      return firstOccurrence(df.filter(col("ts_us") >= cutoffUs))
    val isPre = col("ts_us") < lit(cutoffUs)
    // ordering fields first: struct-min = row with min (ts_us, event_id)
    val freshRow = struct(
      (Seq("ts_us", "event_id") ++ evCols.filterNot(Set("ts_us", "event_id"))).map(col): _*)
    df.groupBy("digest")
      .agg(
        min(when(isPre, col("ts_us"))).as("first_pre_ts"),
        min(when(!isPre, freshRow)).as("ff"))
      .filter(col("ff").isNotNull &&
        (col("first_pre_ts").isNull ||
         col("first_pre_ts") < lit(cutoffUs - cacheWindowUs)))
      .select(evCols.map(c => col(s"ff.$c").as(c)) :+ col("digest"): _*)
      .orderBy("event_id")
  }

  /** #6: the reference's per-minute forwarded/dropped counters
    * (deduplication.ts:82-94), as a windowed aggregation. */
  def counters(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("digest").orderBy("ts_us", "event_id")
    df.withColumn("rn", row_number().over(w))
      .withColumn("minute_bucket", expr("ts_us div 60000000L"))
      .groupBy("minute_bucket")
      .agg(
        sum(when(col("rn") === 1, 1).otherwise(0)).cast("long").as("n_forwarded"),
        sum(when(col("rn") =!= 1, 1).otherwise(0)).cast("long").as("n_dropped"))
      .orderBy("minute_bucket")
  }

  /** TTL grid for [[ttlCurve]], seconds. The points bracket the
    * stream's replica structure (a +37 s replica and a +2 h replica —
    * deduplication.ts's DEDUPLICATION_WINDOW exists to absorb exactly
    * such upstream re-deliveries): 30 s keeps both replicas, 600/3600
    * drop only the near replica, 7200 lands ON the far replica's
    * boundary (kept — the chain rule is ≥, an exact-semantics pin),
    * 14400 drops both. */
  val TtlCurveS: Seq[Long] = Seq(30L, 600L, 3600L, 7200L, 14400L)

  /** `dedup_ttl_curve`: sensitivity of the TTL-chain dedup to its ONE
    * tuning parameter — the reference's DEDUPLICATION_WINDOW
    * (deduplication.ts:10-13, the env-tuned window this whole family
    * implements). Per TTL: rows kept, total, and the exact ratio4 keep
    * share — the curve an operator reads to size the window against
    * the observed replica lag spectrum instead of folklore (kept mass
    * steps DOWN precisely where a replica lag crosses the TTL).
    *
    * Shape: the digest pass runs ONCE (local checkpoint) and each TTL
    * adds one ChainDedupExec — a digest exchange + in-partition sort +
    * O(1)-state run scan; counts are map-side-combined. Cost is
    * strictly |grid| × the single chain query, no quadratic term. */
  def ttlCurve(spark: SparkSession, dir: String,
               ttlsS: Seq[Long] = TtlCurveS): DataFrame = {
    import graft.functions.Hashing.ratio4
    val hashed = hashedStream(spark, dir).checkpointSer
    val total = hashed.agg(count(lit(1)).as("n_total"))
    ttlsS.map { t =>
        chainNative(hashed, t * 1000000L)
          .agg(count(lit(1)).as("n_kept"))
          .select(lit(t).as("ttl_s"), col("n_kept"))
      }
      .reduce(_ unionAll _)
      .crossJoin(broadcast(total))
      .select(col("ttl_s"), col("n_kept"), col("n_total"),
        ratio4(col("n_kept"), col("n_total")).as("keep4"))
      .orderBy("ttl_s")
  }
}
