package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dev-only: the salting knob raced under DELIBERATE key skew.
  *
  * The engine ships `events_salted_agg` (#34) and the `events_key_skew`
  * decision table (#280); this bench supplies the missing measured
  * evidence: on a fixture where one hot user/type carries half of all
  * rows (the shape the decision table warns about), how do the
  * skew-safe plans behave vs the direct ones?
  *
  * Fixture: the sf dir's event stream, twinned — `uniform` is the
  * natural distribution; `skewed` deterministically remaps every
  * even event_id to ONE hot user and ONE hot event_type (≈50% of rows
  * on a single key at both grains; pmod keeps it replay-stable).
  *
  * Modes (best-of-two each, the Bench discipline):
  *  - agg_direct_{uniform,skewed}:  one-stage groupBy(event_type)
  *  - agg_salted_{uniform,skewed}:  Skew.saltedAggOf's two-stage plan
  *  - win_sessionize_{uniform,skewed}: the one-window gap sessionize
  *    (EventUsers.sessionizeOf, partitionBy user_id — the family salting
  *    CANNOT fix, because window semantics need the whole key in one
  *    partition; the bench measures the hot-partition price so the
  *    limit is a number, not a claim)
  *
  * Also emitted: the fixture's measured hot-key shares (top type share,
  * top user share) so the JSON is self-describing. One JSON line to
  * stdout and SPARK_GRAFT_SKEW_OUT (default ./skew_bench.json). */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)

    // replicate the stream so skew has volume to bite on (at sf0.1's
    // raw 100k rows every variant fits one core's L2 and the race is
    // noise): event_id stays unique, ts_us gets a per-replica second
    // offset so sessions remain meaningful
    val rep = sys.env.getOrElse("SPARK_GRAFT_SKEW_REP", "30").toInt
    val base = graft.operators.Dedup.eventsUs(spark, sfDir)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .withColumn("r", explode(sequence(lit(0L), lit(rep - 1L))))
      .select(
        (col("event_id") * rep + col("r")).as("event_id"),
        (col("ts_us") + col("r") * 1000000L).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .localCheckpoint()
    val hot = pmod(col("event_id"), lit(2L)) === 0L
    val skewed = base.select(
        col("event_id"), col("ts_us"),
        when(hot, lit(7L)).otherwise(col("user_id")).as("user_id"),
        when(hot, lit("hot")).otherwise(col("event_type")).as("event_type"),
        col("value"))
      .localCheckpoint()
    // third twin for the DISTINCT race: hot TYPE whose rows carry
    // DISTINCT users (one per row) — the shape where the hot key's
    // distinct-value SET (not its row count) lands on one reducer;
    // map-side partial distinct can't collapse it, so this is the
    // non-combinable case the decision table routes to the salted plan
    val skewedType = base.select(
        col("event_id"), col("ts_us"),
        when(hot, col("event_id") + 1000000000L).otherwise(col("user_id"))
          .as("user_id"),
        when(hot, lit("hot")).otherwise(col("event_type")).as("event_type"),
        col("value"))
      .localCheckpoint()
    val nRows = base.count()

    def bestOf2(f: () => Unit): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    def run(name: String, f: () => Unit): Unit = {
      results(name) = bestOf2(f); System.gc()
    }
    for ((tag, ev) <- Seq("uniform" -> base, "skewed" -> skewed)) {
      run(s"agg_direct_$tag",
        () => { graft.operators.Skew.directAggOf(ev).count(); () })
      run(s"agg_salted_$tag",
        () => { graft.operators.Skew.saltedAggOf(ev).count(); () })
      run(s"win_sessionize_$tag",
        () => { graft.operators.EventUsers.sessionizeOf(ev).count(); () })
      // the round-15 mitigation: time-segmented local sessions + a
      // session-grain merge — bit-identical output, hot user spread
      // over its active segments instead of one task
      run(s"win_sessionize_split_$tag",
        () => { graft.operators.Skew.splitSessionizeOf(ev).count(); () })
    }
    // the non-combinable race (decision-table wiring): exact distinct
    // users per type, direct vs value-salted, hot-type twin
    for ((tag, ev) <- Seq("uniform" -> base, "skewedtype" -> skewedType)) {
      run(s"distinct_direct_$tag",
        () => { graft.operators.Skew.directDistinctOf(ev).count(); () })
      run(s"distinct_salted_$tag",
        () => { graft.operators.Skew.saltedDistinctOf(ev).count(); () })
    }

    // fixture self-description: measured hot-key shares per grain
    def topShare(ev: DataFrame, key: String): Double = {
      val top = ev.groupBy(key).count()
        .agg(max("count")).collect().head.getLong(0)
      top.toDouble / nRows
    }
    val shares =
      s""""top_type_share":{"uniform":${"%.4f".format(topShare(base, "event_type"))},"skewed":${"%.4f".format(topShare(skewed, "event_type"))}},""" +
      s""""top_user_share":{"uniform":${"%.4f".format(topShare(base, "user_id"))},"skewed":${"%.4f".format(topShare(skewed, "user_id"))}}"""

    val qs = results.map { case (k, s) =>
      s""""$k":${"%.3f".format(s)}""" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"skew_bench","rows":$nRows,"cpus":$cpus,"sf":"$sfDir","salts":${graft.operators.Skew.DefaultSalts},"sec":$qs,$shares}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_SKEW_OUT", "skew_bench.json")
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[skew] write failed: ${e.getMessage}") }
    spark.stop()
    println(line)
  }
}
