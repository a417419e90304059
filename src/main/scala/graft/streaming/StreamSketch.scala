package graft.streaming

import graft.functions.Hashing.h64
import graft.plans.{ThetaSketch, ThetaSketchFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming sketch tier: the same mergeable theta aggregate the batch
  * queries use, running inside a Structured Streaming aggregation.
  *
  * The state per window is the sketch itself — at most k longs — not
  * the distinct set, so per-window distinct tracking over an unbounded
  * stream holds O(k) state per window regardless of cardinality. And
  * because the KMV sketch is a pure function of the input SET (min-k of
  * the hashes), the streaming result after any prefix equals the batch
  * sketch over the same rows — an exact parity oracle, which HLL++-style
  * sketches (merge-order-sensitive internals) cannot offer. */
object StreamSketch {

  /** KMV estimate from a min-k sketch column: exact size below k,
    * (k-1)·U/h_(k) above (same expression as the batch sketch tier). */
  def thetaEstimate(mk: Column, k: Int): Column =
    when(size(mk) < k, size(mk).cast("double"))
      .otherwise(round(
        lit((k - 1).toDouble) * lit(ThetaSketch.HashSpace)
          / element_at(mk, k).cast("double"), 4))

  /** Per-hour distinct-user theta sketch over a batch OR streaming frame
    * of at least (ts_us, user_id). Streaming: run in complete/update
    * output mode; each hour's row carries the sketch bound (n_sketch),
    * the kth hash (the sketch's own verification handle) and the
    * estimate. */
  def thetaUsersPerHour(ev: DataFrame,
                        k: Int = graft.operators.Sketches.ThetaK): DataFrame =
    ev.select(expr(s"ts_us div ${graft.operators.EventSeries.HourUs}L").as("hour_bucket"),
        h64(concat(lit("u:"), col("user_id").cast("string"))).as("h"))
      .groupBy("hour_bucket")
      .agg(ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
      .select(col("hour_bucket"),
        size(col("mk")).cast("long").as("n_sketch"),
        element_at(col("mk"), size(col("mk"))).as("kth_hash"),
        thetaEstimate(col("mk"), k).as("est_users"))

  /** Streaming frequent-items candidates: the SAME Misra-Gries
    * aggregate the batch heavy-hitters pass 1 uses
    * ([[graft.operators.CorpusStats.heavyHitters]]), running as a
    * Structured Streaming global aggregation — state is ONE ≤capacity-
    * counter map however many distinct terms stream through, updated
    * per micro-batch through the exact update/merge rules the batch
    * side proves (every term with true count > n/(k+1) over the whole
    * stream-so-far survives in the sketch, merge order immaterial to
    * the guarantee). Run in complete/update mode over a frame with a
    * `term` column; each trigger emits the current candidate map plus
    * the EXACT running total (the denominator of the guarantee). The
    * deploy shape mirrors the batch two-pass pattern: the sketch gates
    * which terms a downstream exact recount (batch, or a keyed
    * streaming count restricted to candidate keys) has to track. */
  def mgCandidates(terms: DataFrame,
                   capacity: Int = graft.operators.CorpusStats.HhCapacity): DataFrame =
    terms
      .agg(graft.plans.MisraGries.mgSketch(col("term"), capacity).as("sk"),
        count(lit(1)).as("total"))
      .select(map_keys(col("sk")).as("candidates"), col("sk"), col("total"))
}
