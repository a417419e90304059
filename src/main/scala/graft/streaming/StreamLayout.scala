package graft.streaming

import graft.operators.Layout
import graft.sinks.TxnParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming z-order append path — the online form of the layout
  * lifecycle: each micro-batch of new rows is routed to the COMMITTED
  * layout's files (Layout.assignToManifest under the frozen domain —
  * a broadcast range join, no sort, no shuffle of existing data) and
  * appended EXACTLY-ONCE through the TxnParquet marker protocol with
  * the micro-batch id as the transactional batch id: a restart that
  * replays an epoch is a no-op (the id is committed), and a crash that
  * tore an epoch's data before its marker leaves an invisible
  * directory the replay overwrites.
  *
  * Composition of three independently-proven components (frozen-domain
  * routing, idempotent batch sink, checkpointed stream progress) —
  * exactly the shape a 100 TB clustered table's live ingest runs
  * between periodic re-layouts, with drift surfaced by a re-run
  * zorderPlan's span shares.
  */
object StreamLayout {

  /** Start routing a streaming frame of layout-shaped rows
    * ((l_orderkey, l_linenumber, l_partkey, l_suppkey) at minimum)
    * into `outDir` under the frozen `manifest`/`dom`. */
  def routeAndAppend(rows: DataFrame, manifest: DataFrame, dom: DataFrame,
                     outDir: String,
                     checkpointDir: Option[String] = None): StreamingQuery = {
    val m = manifest.localCheckpoint() // O(files): pin once, reuse per epoch
    val d = dom.localCheckpoint()      // 1 row
    TxnParquet.appendStream(rows, outDir, checkpointDir)(
      Layout.assignToManifest(_, m, d))
  }
}
