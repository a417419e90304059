package graft.plans

import java.util.concurrent.TimeUnit.NANOSECONDS

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BindReferences, BoundReference, Expression, InterpretedUnsafeProjection, JoinedRow, Predicate, SortOrder, SpecificInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeTimeout, NoTimeout}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ColumnarRule, SerializeFromObjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.streaming.operators.stateful.{StatefulOperatorStateInfo, StateStoreWriter}
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.state.{StateSchemaCompatibilityChecker, StateSchemaValidationResult, StateStore, StateStoreColFamilySchema, StateStoreConf}
import org.apache.spark.sql.graft.{Bridge, StateStoreChainRDD}
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}

/** The state function a streaming TTL chain hands to
  * `flatMapGroupsWithState`, and the marker by which
  * [[StreamChainDedupRule]] finds the planned operator and swaps in
  * [[StreamChainDedupExec]]. It carries the chain's parameters: the
  * window, the event-time column (epoch µs) and the tie-break columns
  * of the keep order. It is never called: the operator it marks runs as
  * [[StreamChainDedupExec]] in every session with [[GraftExtensions]]. */
final class StreamChainFn[K, V, S, U](val windowUs: Long, val ts: String,
                                      val tiebreak: Seq[String])
  extends ((K, Iterator[V], GroupState[S]) => Iterator[U]) with Serializable {
  override def apply(key: K, rows: Iterator[V], state: GroupState[S]): Iterator[U] =
    throw new IllegalStateException("the streaming TTL chain runs as " +
      "StreamChainDedupExec; register graft.plans.GraftExtensions in the session")
}

/** Swaps each `SerializeFromObject ← FlatMapGroupsWithStateExec` pair
  * whose state function is a [[StreamChainFn]] for one
  * [[StreamChainDedupExec]]. It runs in `preColumnarTransitions`, after
  * `IncrementalExecution`'s state rules, so the swapped node inherits
  * the operator's `stateInfo`, both event-time watermarks and its
  * partition count, and after `EnsureRequirements`, whose in-partition
  * sort on the key it extends by the keep order. The state layout must
  * be Spark's format version 2 with a one-`bigint` state struct; any
  * other fails planning. */
object StreamChainDedupRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case s @ SerializeFromObjectExec(_, fm: FlatMapGroupsWithStateExec) =>
        (fm.func: AnyRef) match {
          case fn: StreamChainFn[_, _, _, _] => StreamChainDedupExec(fn, s.output, fm)
          case _ => s
        }
    }
  }
}

/** The streaming TTL chain over `InternalRow`s: the keep rule
  * ([[KeepRun]]) on rows sorted by (digest, ts, tiebreak), each digest's
  * floor read from the state store and its last kept time written back.
  * Every input row is output with the keep flag as `kept`.
  *
  * It replaces `FlatMapGroupsWithStateExec` with [[StreamChainFn]] and
  * keeps that operator's behaviour and state, so a checkpoint moves
  * between the two:
  *  - the state layout is Spark's format version 2 for this key and
  *    value: the key row is the digest, the value row the state struct
  *    (`lastKeptUs`) plus, with an event-time timeout, the timeout;
  *  - with an event-time timeout (`expiring`), rows at or behind the
  *    late-event watermark are dropped and counted, a digest's timeout
  *    is `max(lastKept + window, watermark + 1)` in ms (each term
  *    truncated to ms), and after the new data every entry whose timeout
  *    is behind the eviction watermark is removed;
  *  - the initial state (present in micro-batch 0 only) seeds its keys
  *    before their data; a key with no data gets its timeout all the
  *    same, unless Spark's `skipEmittingInitialStateKeys` is set;
  *  - a duplicate initial-state key fails the task, as in Spark.
  *
  * It is a `StateStoreWriter` with the operator's `shortName`, so
  * progress `stateOperators`, the no-data-batch decision, the state
  * store commit check and the operator metadata see the same operator.
  * It opens its state stores through [[StateStoreChainRDD]] with the
  * session Hadoop configuration the sink's writer keeps broadcast
  * ([[graft.sinks.LeanParquetWriter]]), and generates no code: the late
  * filter is interpreted, the output and state rows are written
  * directly. */
case class StreamChainDedupExec(
    key: Attribute,
    ts: Attribute,
    windowUs: Long,
    output: Seq[Attribute],
    columns: Seq[Option[Attribute]],
    lateEvents: Option[Expression],
    expiring: Boolean,
    valueSchema: StructType,
    stateInfo: Option[StatefulOperatorStateInfo],
    eventTimeWatermarkForEviction: Option[Long],
    initKey: Option[Attribute],
    initLastKept: Option[Attribute],
    skipEmittingInitialStateKeys: Boolean,
    child: SparkPlan,
    initialState: Option[SparkPlan]) extends SparkPlan with StateStoreWriter {

  override def children: Seq[SparkPlan] = child +: initialState.toSeq

  /** Every output column is new: the input columns re-emitted plus `kept`. */
  override def producedAttributes: AttributeSet = outputSet

  override def simpleString(maxFields: Int): String =
    s"$nodeName key=$key, ts=$ts, windowUs=$windowUs, expiring=$expiring, " +
      s"initialState=${initialState.isDefined}, ${stateInfo.getOrElse("")}"

  override protected def withNewChildrenInternal(cs: IndexedSeq[SparkPlan]): StreamChainDedupExec =
    copy(child = cs.head, initialState = initialState.map(_ => cs(1)))

  /** The name of the operator it replaces: the checkpoint's operator
    * metadata and the progress reports name that operator. */
  override def shortName: String = "flatMapGroupsWithState"

  private def keySchema: StructType = DataTypeUtils.fromAttributes(Seq(key))

  override def validateAndMaybeEvolveStateSchema(hadoopConf: Configuration, batchId: Long,
                                                 stateSchemaVersion: Int)
      : List[StateSchemaValidationResult] =
    List(StateSchemaCompatibilityChecker.validateAndMaybeEvolveStateSchema(getStateInfo,
      hadoopConf, List(StateStoreColFamilySchema(StateStore.DEFAULT_COL_FAMILY_NAME, 0,
        keySchema, 0, valueSchema)), session.sessionState, stateSchemaVersion))

  /** As Spark's operator: the chain passes no watermark downstream. */
  override def produceOutputWatermark(inputWatermarkMs: Long): Option[Long] = None

  override def shouldRunAnotherBatch(newInputWatermark: Long): Boolean =
    expiring && eventTimeWatermarkForEviction.exists(newInputWatermark > _)

  override protected def doExecute(): RDD[InternalRow] = {
    metrics // register the accumulators on the driver
    if (expiring) require(lateEvents.isDefined && eventTimeWatermarkForEviction.isDefined,
      "an event-time timeout needs both event-time watermarks")
    new StateStoreChainRDD(child.execute(), initialState.map(_.execute()), getStateInfo,
      keySchema, valueSchema, new StateStoreConf(conf),
      graft.sinks.LeanParquetWriter.ship(session).bc,
      Bridge.stateStoreCoordinator(session), process)
  }

  /** One partition: the keep pass over the sorted data merged with the
    * sorted initial state, then the timeouts, then the commit, all run
    * as the output is consumed. */
  private def process(store: StateStore, data: Iterator[InternalRow],
                      init: Iterator[InternalRow]): Iterator[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numUpdatedStateRows = longMetric("numUpdatedStateRows")
    val numRemovedStateRows = longMetric("numRemovedStateRows")
    val allUpdatesTimeMs = longMetric("allUpdatesTimeMs")
    val allRemovalsTimeMs = longMetric("allRemovalsTimeMs")
    val commitTimeMs = longMetric("commitTimeMs")
    val startNs = System.nanoTime()

    val in = child.output
    val keyIdx = in.indexWhere(_.exprId == key.exprId)
    val tsIdx = in.indexWhere(_.exprId == ts.exprId)
    val rows = lateEvents match {
      case Some(e) if expiring =>
        applyRemovingRowsOlderThanWatermark(data,
          Predicate.createInterpreted(BindReferences.bindReference(e, in)))
      case _ => data
    }
    // init rows: (key, last kept), by the initial state's own attributes
    val initAt = initialState.map { p =>
      (p.output.indexWhere(_.exprId == initKey.get.exprId),
       p.output.indexWhere(_.exprId == initLastKept.get.exprId))
    }
    val wm = eventTimeWatermarkForEviction.getOrElse(-1L)

    // the output row: the projected input columns plus `kept`
    val flag = new SpecificInternalRow(Seq(BooleanType))
    val joined = new JoinedRow()
    val project = InterpretedUnsafeProjection.createProjection(columns.zip(output).map {
      case (Some(a), o) => BoundReference(in.indexWhere(_.exprId == a.exprId), o.dataType, o.nullable)
      case (None, _) => BoundReference(in.length, BooleanType, nullable = false)
    })

    // the state rows, written in place (format version 2)
    val keyRow = new UnsafeRow(1)
    keyRow.pointTo(new Array[Byte](16), 16)
    val valueWriter = new UnsafeRowWriter(valueSchema.length, 16)
    val stateWriter = new UnsafeRowWriter(valueWriter, 1)
    def put(d: Long, lastKept: Long, timeout: Long): Unit = {
      valueWriter.reset()
      valueWriter.zeroOutNullBytes()
      val cursor = valueWriter.cursor()
      stateWriter.resetRowWriter()
      stateWriter.write(0, lastKept)
      valueWriter.setOffsetAndSizeFromPreviousCursor(0, cursor)
      if (expiring) valueWriter.write(1, timeout)
      keyRow.setLong(0, d)
      store.put(keyRow, valueWriter.getRow, StateStore.DEFAULT_COL_FAMILY_NAME)
    }
    def timeoutOf(lastKept: Long): Long = math.max(lastKept / 1000 + windowUs / 1000, wm + 1)
    /** A digest's run ended at `lastKept`: its state and timeout. */
    def finish(d: Long, lastKept: Long): Unit = {
      put(d, lastKept, if (expiring) timeoutOf(lastKept) else -1L)
      numUpdatedStateRows += 1
    }

    val run = new KeepRun(windowUs)
    var started = false
    var cur = 0L
    var pending: InternalRow = if (init.hasNext) init.next() else null
    def pendingKey = pending.getLong(initAt.get._1)
    /** Warm keys before `d` (all of them when `d` is None) have no data. */
    def warmOnly(d: Option[Long]): Unit =
      while (pending != null && d.forall(pendingKey < _)) {
        val (k, last) = (pendingKey, pending.getLong(initAt.get._2))
        pending = nextInit(k)
        if (skipEmittingInitialStateKeys) put(k, last, -1L) else finish(k, last)
      }
    /** The next initial-state row; a second row for `k` fails, as in Spark. */
    def nextInit(k: Long): InternalRow = {
      val next = if (init.hasNext) init.next() else null
      if (next != null && next.getLong(initAt.get._1) == k)
        throw new IllegalArgumentException(
          "The initial state provided contained multiple rows(state) with the same key. " +
            "Make sure to de-duplicate the initial state before passing it.")
      next
    }
    /** The floor of digest `d`: its initial state, else its stored state. */
    def floor(d: Long): Option[Long] =
      if (pending != null && pendingKey == d) {
        val last = pending.getLong(initAt.get._2)
        pending = nextInit(d)
        Some(last)
      } else {
        keyRow.setLong(0, d)
        Option(store.get(keyRow, StateStore.DEFAULT_COL_FAMILY_NAME))
          .filterNot(_.isNullAt(0)).map(_.getStruct(0, 1).getLong(0))
      }

    val kept = rows.map { row =>
      val d = row.getLong(keyIdx)
      val t = row.getLong(tsIdx)
      val keep =
        if (started && d == cur) run.next(t)
        else {
          if (started) finish(cur, run.lastKept)
          warmOnly(Some(d))
          started = true; cur = d
          floor(d).fold(run.start(t))(run.start(t, _))
        }
      numOutputRows += 1
      flag.setBoolean(0, keep)
      project(joined(row, flag))
    }

    def timeouts(): Unit = {
      if (started) finish(cur, run.lastKept)
      warmOnly(None)
      if (expiring) {
        val removalsNs = System.nanoTime()
        store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME).foreach { p =>
          val timeout = p.value.getLong(1)
          if (timeout != -1L && timeout < wm) {
            store.remove(p.key, StateStore.DEFAULT_COL_FAMILY_NAME)
            numRemovedStateRows += 1
          }
        }
        allRemovalsTimeMs += NANOSECONDS.toMillis(System.nanoTime() - removalsNs)
      }
      allUpdatesTimeMs += NANOSECONDS.toMillis(System.nanoTime() - startNs)
      commitTimeMs += timeTakenMs { store.commit() }
      setStoreMetrics(store)
      setOperatorMetrics()
    }
    new Iterator[InternalRow] {
      private var open = true
      override def hasNext: Boolean = kept.hasNext || {
        if (open) { open = false; timeouts() }
        false
      }
      override def next(): InternalRow = kept.next()
    }
  }
}

object StreamChainDedupExec {

  /** The node that replaces `fm`, whose function is `fn`; `output` is the
    * serializer's output: the function's result fields, each an input
    * column by name, plus the boolean `kept`. */
  def apply(fn: StreamChainFn[_, _, _, _], output: Seq[Attribute],
            fm: FlatMapGroupsWithStateExec): StreamChainDedupExec = {
    def data(name: String) = fm.dataAttributes.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"the chain's input has no column $name"))
    val expiring = fm.timeoutConf match {
      case EventTimeTimeout => true
      case NoTimeout => false
      case t => throw new IllegalArgumentException(s"the chain supports no $t")
    }
    val stateFields = fm.stateEncoder.schema.fields
    require(fm.stateFormatVersion == 2 && stateFields.length == 1 &&
      stateFields.head.dataType == LongType && fm.groupingAttributes.length == 1 &&
      fm.groupingAttributes.head.dataType == LongType,
      s"the chain serves state format version 2 with a bigint key and a one-bigint state; " +
        s"this operator has version ${fm.stateFormatVersion}, key " +
        s"${fm.groupingAttributes.map(_.dataType)} and state ${fm.stateEncoder.schema}")
    val key = fm.groupingAttributes.head
    val ts = data(fn.ts)
    val order = (key +: ts +: fn.tiebreak.map(data)).map(SortOrder(_, Ascending))
    val sorted = fm.child match {
      case s: SortExec if !s.global => s.copy(sortOrder = order)
      case c => SortExec(order, global = false, c)
    }
    val columns = output.map(o => if (o.name == "kept" && o.dataType == BooleanType) None
      else Some(data(o.name)))
    require(columns.count(_.isEmpty) == 1, "the chain's result needs one boolean `kept`")
    val init = if (fm.hasInitialState) Some(fm.initialState) else None
    // Spark's version-2 value row (its StateManagerImplV2 schema, built
    // here: that state manager resolves encoders on every planning)
    val value = new StructType().add("groupState", fm.stateEncoder.schema, nullable = true)
    val valueSchema = if (expiring) value.add("timeoutTimestamp", LongType, nullable = false) else value
    new StreamChainDedupExec(key, ts, fn.windowUs, output, columns,
      if (expiring) fm.watermarkExpressionForLateEvents else None, expiring,
      valueSchema, fm.stateInfo, fm.eventTimeWatermarkForEviction,
      init.map(_ => fm.initialStateGroupAttrs.head),
      init.map(_ => fm.initialStateDataAttrs.find(_.name == stateFields.head.name).get),
      fm.skipEmittingInitialStateKeys, sorted, init)
  }
}
