package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-incremental chain dedup with a persistent digest-state table —
  * the production BATCH form of the reference's runtime: instead of a
  * streaming state store, the (digest → last forwarded event time) map
  * lives as a plain table (parquet/Delta-style), each micro/daily batch
  * is deduplicated against it, and the job emits the forwarded rows
  * plus the updated state table. Restart/warm-up is free — the state
  * table IS the cache the reference rebuilds from its output topic.
  *
  * The keep rule is [[Dedup.chainNative]]'s operator, seeded per digest
  * by the state table's last kept time (its `floor`): a digest absent
  * from the state keeps its first row, as in a single pass.
  *
  * Scale: one shuffle on the digest joins batch ⋈ state; state updates
  * are a groupBy-max merge. State size = distinct digests, prunable by
  * retention (drop entries older than the TTL window — they can never
  * suppress anything again).
  */
object IncrementalDedup {

  /** Chain dedup of one batch against prior state.
    * @param state (digest, last_kept_us) from previous batches
    *              (empty frame for the first batch)
    * @param batch rows with the canonical envelope columns + digest
    * @return (kept rows, updated state) — fold batches through this and
    *         the concatenated kept output equals one global chain pass,
    *         PROVIDED batches are time-ordered (every row of batch i
    *         precedes batch i+1 — the natural daily/landing-partition
    *         split; out-of-order arrivals belong in the same batch). */
  def processBatch(state: DataFrame, batch: DataFrame,
                   windowUs: Long = Dedup.WindowUs): (DataFrame, DataFrame) = {
    val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
    val withFloor = batch.select(cols.map(col): _*)
      .join(state.select(col("digest"), col("last_kept_us").as("__floor")),
        Seq("digest"), "left")
    val kept = Dedup.keptRows(withFloor, windowUs, floor = Some("__floor"))
      .drop("__floor")
    val newState = state
      .unionByName(kept.groupBy("digest").agg(max("ts_us").as("last_kept_us")))
      .groupBy("digest").agg(max("last_kept_us").as("last_kept_us"))
    (kept, newState)
  }

  /** Retention pruning: a state entry older than the TTL window can
    * never suppress a future row (any later arrival is ≥ last + W), so
    * it is safe to drop — bounds the state table exactly like the
    * reference's ObliviousSet expiry. */
  def pruneState(state: DataFrame, nowUs: Long,
                 windowUs: Long = Dedup.WindowUs): DataFrame =
    state.filter(col("last_kept_us") >= nowUs - windowUs)
}
