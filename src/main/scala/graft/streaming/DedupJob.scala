package graft.streaming

import graft.GraftConfig
import graft.functions.Hashing
import graft.sinks.TxnParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** A started [[DedupJob]]: the running query and the shutdown hook
  * [[DedupJob.start]] installed for it. */
final class DedupJob private (val query: StreamingQuery,
                              private[streaming] val hook: Thread) {

  /** Remove the shutdown hook, then drain and stop the query
    * (`Lifecycle.stopGracefully`), so a JVM that starts many jobs keeps
    * no hook per finished one. */
  def stop(): Unit = {
    Runtime.getRuntime.removeShutdownHook(hook)
    Lifecycle.stopGracefully(Seq(query))
  }
}

/** The reference's runtime as one streaming job (index.ts):
  *
  *  - `keepDeduplicating` (deduplication.ts): digest each message, then
  *    forward the first occurrence of each digest within the TTL window
  *    and publish it with `origin=[digest]` — `Hashing.eventDigest` →
  *    `StreamDedup.taggedChain` → `observed` → `filter(kept)` →
  *    `Origin.withOriginProp` → `TxnParquet.appendStream`;
  *  - `buildUpCache` (cacheBuilding.ts): on start, warm the digest
  *    state from the job's own output within the cache window, through
  *    the `origin` property;
  *  - `exitGracefully` (index.ts): a JVM shutdown hook drains and stops
  *    the query.
  *
  * Every `spark.graft.*` key acts here: the TTL window, the ignored
  * properties, the cache window and its disable toggle, and the digest
  * algorithm.
  */
object DedupJob {

  /** Start the job over `source`, an events-shape frame (`event_id,
    * ts_us, user_id, event_type, value, props`), appending forwarded
    * rows to the TxnParquet table `outDir` with the checkpoint at
    * `checkpointDir`.
    *
    * The warm state is built only when warm-up is enabled and `outDir`
    * has committed batches. Spark applies an initial state in
    * micro-batch 0 only, so a restart on a kept checkpoint ignores it.
    *
    * @param stateExpiry event-time delay after which a digest's state
    *                    may be dropped once its TTL has elapsed; `None`
    *                    keeps state unbounded and accepts any arrival
    *                    order (see `StreamDedup.taggedChain`)
    */
  def start(source: DataFrame, outDir: String, checkpointDir: String,
            stateExpiry: Option[String] = None): DedupJob = {
    val spark = source.sparkSession
    val dedup = GraftConfig.deduplication(spark)
    val cache = GraftConfig.cacheRebuild(spark)
    // the stream's digest is a BIGINT (StreamDedup.Msg), so only h64 fits
    val algo = GraftConfig.digestAlgorithm(spark)
    if (algo != "h64") throw new IllegalArgumentException(
      s"""the dedup job digests with "h64"; ${GraftConfig.DigestKey} is "$algo".""")
    val digested = source.withColumn("digest", Hashing.eventDigest(
      col("user_id"), col("event_type"), col("value"), col("props"),
      dedup.ignoredProperties))
    val warm =
      if (!cache.warmupEnabled || TxnParquet.committedBatches(spark, outDir).isEmpty) None
      else Some(StreamDedup.warmStateFromTable(spark, Origin.warmDigestsFromOutput(
        TxnParquet.read(spark, outDir), cache.cacheWindowUs,
        nowUs = System.currentTimeMillis() * 1000L,
        origin = get_json_object(col("props"), "$.origin"))))
    val tagged = StreamDedup.taggedChain(spark, digested, dedup.windowUs, warm, stateExpiry)
    val forwarded = Origin.withOriginProp(
      StreamDedup.observed(tagged).filter(col("kept")).drop("kept"))
    val query = TxnParquet.appendStream(forwarded, outDir, Some(checkpointDir))(identity)
    new DedupJob(query, Lifecycle.installShutdownHook(Seq(query)))
  }
}
