package graft.streaming

import graft.operators.Similarity
import graft.sinks.TxnParquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN index maintenance — the online form of the
  * build-once/query-many lifecycle: a vector ingest stream appends each
  * micro-batch to a SAVED index under frozen quantizers
  * (Similarity.appendToIndex: assignment to the existing centroids,
  * encoding with the existing codebooks, deterministic-plane buckets).
  *
  * foreachBatch is the right shape here — the append is three parquet
  * writes per batch, each a deterministic pure function of the batch
  * rows, so batch-order and batch-boundary placement cannot change the
  * final index (IndexStoreSpec pins the batch-invariance; the streaming
  * spec pins stream-fed == batch-fed). Delivery is EFFECTIVELY-once,
  * built from three layers: (1) the stream checkpoints its progress
  * (checkpointLocation defaults to `indexDir/_checkpoint`), so a restart
  * resumes rather than replays from scratch; (2) each batch id writes a
  * commit marker under `indexDir/_batches/` AFTER its appends land, and
  * a replayed batch whose marker exists is skipped; (3) if a crash lands
  * between append and marker, the replay duplicates per-vector rows —
  * those rows are bit-identical (pure functions of the vector under
  * frozen quantizers), and every searchSaved* loader deduplicates the
  * per-vector artifacts at read time, so duplicated rows cannot occupy
  * top-k rank slots.
  */
object StreamIndex {

  /** Start appending a streaming (vec_id, e) frame to the saved index.
    *
    * @param checkpointDir streaming checkpoint; defaults to
    *                      `indexDir/_checkpoint` so every stream is
    *                      restart-safe without extra wiring.
    */
  def appendStream(indexDir: String, newVecs: DataFrame,
                   checkpointDir: Option[String] = None): StreamingQuery = {
    val spark = newVecs.sparkSession
    val checkpoint = checkpointDir.getOrElse(s"$indexDir/_checkpoint")
    val markers = new Path(s"$indexDir/_batches")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // past every marker when the checkpoint is fresh: a lost checkpoint
    // restarts micro-batch ids at 0, and a reused marker skips its batch
    val base = TxnParquet.idBase(spark, checkpoint)(
      if (!fs.exists(markers)) 0L
      else fs.listStatus(markers).map(_.getPath.getName.toLong + 1).maxOption.getOrElse(0L))
    newVecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new Path(markers, (base + batchId).toString)
        if (!fs.exists(marker)) {
          if (!batch.isEmpty)
            Similarity.appendToIndex(batch.sparkSession, indexDir, batch)
          fs.create(marker, true).close()
        }
      }
      .start()
  }
}
