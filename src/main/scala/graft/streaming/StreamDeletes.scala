package graft.streaming

import graft.sinks.TxnParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC apply over the TxnParquet merge-on-read protocol —
  * the online writer for a mutable 100 TB table: each micro-batch of
  * change events (upserts + deletes, ordered by a per-key sequence) is
  * first resolved WITHIN the batch (only a key's last op survives —
  * delete-then-reinsert inside one epoch nets to the reinsert), then
  * lands under DETERMINISTIC ids: the true deletes as one tombstone
  * batch at 2·epoch, the upsert survivors as one MERGE batch at
  * 2·epoch+1 (data AND tombstone in a single commit — an upsert
  * replaces earlier versions of its key). Consequences:
  *  - a restart that replays an epoch is a committed no-op (both ids
  *    idempotent — exactly-once end to end);
  *  - an upserted key is never transiently absent: a reader racing
  *    between the epoch's two commits, or reading after a crash
  *    between them, sees the key's OLD version until the merge
  *    commits, because its tombstone and its replacement row are the
  *    same commit;
  *  - TxnParquet.readWithDeletes resolves cross-epoch order by id:
  *    epoch e's deletes (2e) and merge keys (2e+1) hide every earlier
  *    epoch's versions, its merged rows stand until a LATER epoch
  *    touches the key — batch-grain ordering matches event-grain
  *    ordering because within-batch conflicts were already resolved
  *    by sequence;
  *  - compactWithDeletes periodically folds the tombstones in
  *    physically, and vacuum reclaims them.
  *
  * Input contract: a streaming frame carrying `seq` (monotone per key
  * across the stream — a CDC log offset), `op` ("upsert" | "delete"),
  * the key columns, and payload columns.
  */
object StreamDeletes {

  /** Per-batch resolution: each key's LAST op by `seq` (ties break to
    * the later op arbitrarily-but-deterministically via seq desc,
    * op). Exposed for the spec's fold-equals-one-shot check. */
  private[streaming] def lastOpPerKey(batch: DataFrame,
                                      keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("seq").desc, col("op"))
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Apply one CDC micro-batch at `epochId` — also the restart-replay
    * unit (idempotent per epoch). Public so a non-streaming backfill
    * can drive the same code path batch by batch. */
  def applyBatch(batch: DataFrame, dir: String, keyCols: Seq[String],
                 epochId: Long): Unit = {
    val last = lastOpPerKey(batch, keyCols).localCheckpoint()
    val delKeys = last.filter(col("op") === "delete")
      .select(keyCols.map(col): _*)
    val upserts = last.filter(col("op") === "upsert").drop("op", "seq")
    // ALWAYS write both ids, even empty: the id sequence stays dense
    // and a replay is a no-op regardless of the epoch's op mix
    TxnParquet.appendDeletes(delKeys, dir, 2 * epochId)
    TxnParquet.merge(upserts, dir, 2 * epochId + 1)
  }

  /** Start applying a streaming CDC frame into `dir`. Read the result
    * with `TxnParquet.readWithDeletes(spark, dir, keyCols)`. Micro-batch
    * `b` applies as epoch `base + b`, where `base` (`TxnParquet.idBase`)
    * is the first epoch whose two ids `dir` has not committed when the
    * checkpoint is fresh: a lost checkpoint restarts micro-batch ids at
    * 0, and reusing a committed id would skip that epoch. */
  def applyCdc(ops: DataFrame, dir: String, keyCols: Seq[String],
               checkpointDir: Option[String] = None): StreamingQuery = {
    val spark = ops.sparkSession
    val checkpoint = checkpointDir.getOrElse(s"$dir/_checkpoint")
    val base = TxnParquet.idBase(spark, checkpoint)(
      TxnParquet.committedBatches(spark, dir).lastOption.fold(0L)(_ / 2 + 1))
    ops.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyBatch(batch, dir, keyCols, base + epochId)
      }
      .start()
  }
}
