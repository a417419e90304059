package graft.plans

import graft.SparkSpec
import graft.operators.{Dedup, IncrementalDedup}

class ChainDedupNativeSpec extends SparkSpec {

  /** The reference's ObliviousSet, one digest's rows in (ts_us,
    * event_id) order: keep the first, then each row at least `windowUs`
    * after the last kept one; duplicates do not refresh the TTL. */
  private def obliviousModel(rows: Seq[(Long, Long)], windowUs: Long): Seq[Long] = {
    var last = Option.empty[Long]
    rows.collect { case (id, ts) if last.forall(ts >= _ + windowUs) => last = Some(ts); id }
  }

  test("native chain operator equals the ObliviousSet model") {
    val hashed = Dedup.hashedStream(spark, sf)
    def native = Dedup.chainNative(hashed).collect().map(_.getAs[Long]("event_id")).toSet
    val want = hashed.collect().groupBy(_.getAs[Long]("digest")).values.flatMap { rs =>
      obliviousModel(rs.map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("ts_us")))
        .sortBy { case (id, ts) => (ts, id) }.toSeq, Dedup.WindowUs)
    }.toSet
    assert(native === want)
    // generated code only: a compile failure of the fused operator
    // cannot hide behind the interpreted fallback
    assert(withConf("spark.sql.codegen.fallback" -> "false")(native) === want)
  }

  test("native chain plan contains ChainDedupExec and no object ser/de") {
    val df = Dedup.chainNative(Dedup.hashedStream(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ChainDedup"))
    assert(!plan.contains("SerializeFromObject"))
    // the incremental fold runs the same operator, seeded by its state
    import spark.implicits._
    val state = Seq.empty[(Long, Long)].toDF("digest", "last_kept_us")
    val kept = IncrementalDedup.processBatch(state, Dedup.hashedStream(spark, sf))._1
    val keptPlan = kept.queryExecution.executedPlan.toString
    assert(keptPlan.contains("ChainDedup"))
    assert(!keptPlan.contains("DeserializeToObject"))
  }
}
