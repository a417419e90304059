package org.apache.spark.sql.graft

import org.apache.spark.{Dependency, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperatorStateInfo
import org.apache.spark.sql.execution.streaming.state.{NoPrefixKeyStateEncoderSpec, StateStore, StateStoreConf, StateStoreCoordinatorRef, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** One partition of [[StateStoreChainRDD]]: the data partition and, in
  * the micro-batch that applies an initial state, the initial state's. */
private final class ChainPartition(val index: Int, val data: Partition,
                                   val init: Option[Partition]) extends Partition

/** Opens partition `i`'s state store of a stateful operator and runs `f`
  * over it, the data rows and the initial-state rows of partition `i`.
  *
  * It does what Spark's `StateStoreRDD` (through
  * `mapPartitionsWithStateStore`) and `stateStoreAwareZipPartitions` do
  * for `FlatMapGroupsWithStateExec`: the same `StateStore.get` with the
  * same store id, version, encoder spec and checkpoint id, the abort of
  * an uncommitted store when the task ends, the unload on commit, and the
  * coordinator's preferred location. What differs is where the Hadoop
  * configuration comes from: Spark's constructor broadcasts the session
  * configuration for every micro-batch, here the caller passes a
  * broadcast it keeps while the configuration is unchanged. `f` is not
  * run through Spark's closure cleaner: it is a method of a serializable
  * plan node.
  *
  * Both parents have the operator's partition count (each is shuffled to
  * the state's partitioning). */
final class StateStoreChainRDD(
    private var data: RDD[InternalRow],
    private var init: Option[RDD[InternalRow]],
    info: StatefulOperatorStateInfo,
    keySchema: StructType,
    valueSchema: StructType,
    storeConf: StateStoreConf,
    hadoopConf: Broadcast[SerializableConfiguration],
    @transient private val coordinator: Option[StateStoreCoordinatorRef],
    f: (StateStore, Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow])
  extends RDD[InternalRow](data.context, Nil) {

  override protected def getDependencies: Seq[Dependency[_]] =
    (data +: init.toSeq).map(new OneToOneDependency(_))

  override protected def getPartitions: Array[Partition] = {
    val ps = data.partitions
    val is = init.map(_.partitions)
    require(is.forall(_.length == ps.length),
      s"initial state has ${is.map(_.length).getOrElse(0)} partitions, data ${ps.length}")
    ps.indices.map(i => new ChainPartition(i, ps(i), is.map(_(i)))).toArray
  }

  private def providerId(i: Int) = StateStoreProviderId(
    StateStoreId(info.checkpointLocation, info.operatorId, i), info.queryRunId)

  override def getPreferredLocations(p: Partition): Seq[String] =
    coordinator.flatMap(_.getLocation(providerId(p.index))).toSeq

  override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val part = p.asInstanceOf[ChainPartition]
    val id = providerId(part.index)
    val store = StateStore.get(id, keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema), info.storeVersion,
      info.getStateStoreCkptId(part.index).map(_.head), info.stateSchemaMetadata,
      useColumnFamilies = false, storeConf, hadoopConf.value.value)
    if (storeConf.unloadOnCommit)
      ctx.addTaskCompletionListener[Unit](_ => StateStore.doMaintenanceAndUnload(id))
    ctx.addTaskCompletionListener[Unit](_ => if (!store.hasCommitted) store.abort())
    val initRows = (init, part.init) match {
      case (Some(rdd), Some(ip)) => rdd.iterator(ip, ctx)
      case _ => Iterator.empty
    }
    f(store, data.iterator(part.data, ctx), initRows)
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    data = null
    init = null
  }
}
