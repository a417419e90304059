package graft

import graft.functions.Hashing
import org.apache.spark.sql.functions._

/** Guards the assumptions the DuckDB oracle SQL bakes in, so a change
  * in test-data shape fails HERE with a message instead of as a silent
  * cross-engine digest divergence. */
class OracleGuardSpec extends SparkSpec {

  test("every registered query has an oracle or a documented rows-only exemption") {
    // empty since round 13: events_approx_users (the last rows-only
    // row) now ships a typed error-bound oracle — the HLL++ estimate
    // is gated engine-side against exact, the oracle asserts the bound
    val exempt = Set.empty[String]
    // the ctx-ful form is what Verify dumps — guard THAT map (the
    // whitened-LSH oracle exists only with a corpus in hand)
    val full = SparkEntry.oracleSqlFor(Some((spark, sf)))
    val oracles = full.keySet
    val missing = SparkEntry.queries.keySet -- oracles
    assert(missing == exempt,
      s"queries without an oracle beyond the documented exemptions: ${missing -- exempt}")
    val orphaned = oracles -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without a registered query: $orphaned")
    // the ctx-less contract form differs ONLY by the data-dependent
    // whitened entries
    assert(oracles -- SparkEntry.oracleSql.keySet == Set("ann_whitened_topk"))
    // and ctx changes the SQL of exactly three declarations: the
    // whitened top-k, and the two recall reports that add its row
    val ctxLess = SparkEntry.oracleSql
    assert(oracles.filter(n => ctxLess.get(n) != full.get(n)) ==
      Set("ann_whitened_topk", "ann_recall_report", "ann_appended_recall"))
  }

  test("events.props matches the {\"k\":N} shape CANON_K assumes") {
    // The oracle canonicalizes props as concat('k=', json k). If a row
    // ever carries extra keys, a missing k, or null props, DuckDB would
    // produce 'k=' while Spark's full sorted-entry canonicalization
    // produces something else — digests would diverge silently.
    val bad = Tables.events(spark, sf)
      .filter(col("props").isNull || !col("props").rlike("""^\{"k":\s*-?\d+\}$"""))
      .count()
    assert(bad === 0L, "events.props no longer matches the {\"k\":N} oracle assumption")
  }

  test("Spark canonicalProps equals the oracle's CANON_K on every events row") {
    val ev = Tables.events(spark, sf)
    val mismatches = ev
      .withColumn("spark_canon", Hashing.canonicalProps(col("props"), Nil))
      .withColumn("oracle_canon",
        concat(lit("k="), get_json_object(col("props"), "$.k")))
      .filter(col("spark_canon") =!= col("oracle_canon"))
      .count()
    assert(mismatches === 0L)
  }
}
