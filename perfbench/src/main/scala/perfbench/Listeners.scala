package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark-side counters, grouped by the benchmark phase that was active
  * when the work ran. Phase switches drain the listener bus first, so
  * no event is charged to the wrong phase. */
final class PhaseListener(sc: SparkContext) extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var cpuNs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
    var memoBlocks, memoBytes = 0L
  }
  @volatile private var phase: String = null
  private val totals = new ConcurrentHashMap[String, Totals]()

  def setPhase(p: String): Unit = { BusSync.drain(sc); phase = p }
  def apply(p: String): Totals = totals.computeIfAbsent(p, _ => new Totals)

  private def cur(f: Totals => Unit): Unit = {
    val p = phase
    if (p != null) { val t = apply(p); t.synchronized(f(t)) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = cur(_.jobs += 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cur(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur { t =>
    val m = e.taskMetrics
    t.tasks += 1
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
    }
  }
  // the session memos persist DISK_ONLY: count those RDD blocks written
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.useDisk && !i.storageLevel.useMemory && i.diskSize > 0)
      cur { t => t.memoBlocks += 1; t.memoBytes += i.diskSize }
  }
}

/** Collects the `StreamingQueryProgress` of the queries it is told to
  * watch, and how many input rows they have taken so far. */
final class ProgressListener extends StreamingQueryListener {
  private val watched = ConcurrentHashMap.newKeySet[String]()
  private val progress = new ConcurrentHashMap[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  @volatile var rowsTaken = 0L

  def watch(runId: String): Unit = watched.add(runId)
  def of(runId: String): Seq[StreamingQueryProgress] =
    Option(progress.get(runId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Trace.span("listeners", "onQueryProgress", e.progress.batchId) {
      val id = e.progress.runId.toString
      if (watched.contains(id)) {
        val b = progress.computeIfAbsent(id, _ => mutable.ArrayBuffer.empty)
        b.synchronized(b += e.progress)
        rowsTaken += e.progress.numInputRows
      }
    }
}

/** Per-layer figures read from the progress of one streaming query. */
object Progress {
  def layers(ps: Seq[StreamingQueryProgress]): Seq[(String, Double, String)] = {
    val data = ps.filter(_.numInputRows > 0)
    def dur(k: String, xs: Seq[StreamingQueryProgress] = data) =
      xs.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val ops = ps.flatMap(_.stateOperators.headOption)
    def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum.toDouble
    def opMax(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      if (ops.isEmpty) 0.0 else ops.map(f).max.toDouble
    Seq(
      ("sources.latestOffset_ms_p50", Stats.median(dur("latestOffset", ps)), "ms"),
      ("sources.getBatch_ms_p50", Stats.median(dur("getBatch")), "ms"),
      ("streaming.triggers", ps.size.toDouble, "count"),
      ("streaming.rows_per_trigger_p50", Stats.median(data.map(_.numInputRows.toDouble)), "count"),
      ("streaming.trigger_ms_p50", Stats.median(dur("triggerExecution")), "ms"),
      ("streaming.trigger_ms_p90", Stats.pct(dur("triggerExecution"), 90), "ms"),
      ("streaming.queryPlanning_ms_p50", Stats.median(dur("queryPlanning")), "ms"),
      ("streaming.walCommit_ms_p50", Stats.median(dur("walCommit")), "ms"),
      ("streaming.commitOffsets_ms_p50", Stats.median(dur("commitOffsets")), "ms"),
      ("streaming.addBatch_ms_p50", Stats.median(dur("addBatch")), "ms"),
      ("streaming.state_commit_ms_p50",
        Stats.median(data.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
      ("streaming.state_partitions", opMax(_.numShufflePartitions), "count"),
      ("streaming.state_updates_ms_sum", opSum(_.allUpdatesTimeMs), "ms"),
      ("streaming.state_removals_ms_sum", opSum(_.allRemovalsTimeMs), "ms"),
      ("streaming.state_rows_removed_sum", opSum(_.numRowsRemoved), "count"),
      ("streaming.state_rows_total_max", opMax(_.numRowsTotal), "count"),
      ("streaming.state_mem_bytes_max", opMax(_.memoryUsedBytes), "bytes"))
  }
}
