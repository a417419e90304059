package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The scalable global-rank helper: exact, total-order-driven, safe on
  * empty input, independent of partition boundaries. */
class RankingSpec extends SparkSpec {

  test("globalRowNumber ranks in total sort order regardless of partitioning") {
    import spark.implicits._
    val df = Seq((5L, "e"), (1L, "a"), (3L, "c"), (3L, "b"), (2L, "z"))
      .toDF("k", "s").repartition(3)
    val got = Ranking.globalRowNumber(df, Seq(col("k"), col("s")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._3)
    assert(got.toSeq == Seq((1L, "a", 1L), (2L, "z", 2L), (3L, "b", 3L),
      (3L, "c", 4L), (5L, "e", 5L)))
  }

  test("globalRowNumber on an empty frame is empty, schema intact") {
    import spark.implicits._
    val df = Seq.empty[(Long, String)].toDF("k", "s")
    val out = Ranking.globalRowNumber(df, Seq(col("k")))
    assert(out.schema.fieldNames.toSeq == Seq("k", "s", "rn"))
    assert(out.count() == 0)
  }

  test("rank consumers plan no single-partition window") {
    for (q <- Seq("events_spend_deciles", "events_rfm", "pipeline_pack_sequences",
                  "pipeline_training_mix")) {
      val p = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$q must rank via the partition-offset zip, not a window:\n$p")
    }
  }

  test("native rank fuses into whole-stage codegen, no object boundary") {
    val df = Pipeline.packSequences(spark, sf)
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GlobalRank"), p)
    assert(!p.contains("DeserializeToObject") && !p.contains("ExistingRDD"),
      s"rank must stay in Tungsten rows:\n$p")
    assert("""\*\(\d+\) GlobalRank""".r.findFirstIn(p).isDefined,
      s"GlobalRank must carry the whole-stage codegen marker:\n$p")
  }

  test("interpreted fallback (whole-stage codegen off) matches codegen results") {
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val df = Seq((5L, 2L), (1L, 3L), (3L, 7L), (2L, 0L), (4L, 1L))
        .toDF("k", "v").repartition(3)
      val rn = Ranking.globalRowNumber(df, Seq(col("k"))).collect()
        .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(rn.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L)))
      val ps = Ranking.globalPrefixSum(df, Seq(col("k")), "v").collect()
        .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
      assert(ps.toSeq == Seq((1L, 0L), (2L, 3L), (3L, 3L), (4L, 10L), (5L, 11L)))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("globalPrefixSum is the exclusive running total in sort order") {
    import spark.implicits._
    val df = Seq((4L, 10L), (1L, 3L), (3L, 0L), (2L, 7L), (5L, 2L))
      .toDF("k", "v").repartition(3)
    val got = Ranking.globalPrefixSum(df, Seq(col("k")), "v", out = "p")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0L), (2L, 3L), (3L, 10L), (4L, 10L), (5L, 20L)))
  }

  test("globalPrefixSum on an empty frame is empty, schema intact") {
    import spark.implicits._
    val out = Ranking.globalPrefixSum(
      Seq.empty[(Long, Long)].toDF("k", "v"), Seq(col("k")), "v")
    assert(out.schema.fieldNames.toSeq == Seq("k", "v", "prefix"))
    assert(out.count() == 0)
  }

  test("groupedQuantiles bit-equals the grouped percentile aggregate") {
    import org.apache.spark.sql.functions._
    val ps = Seq(0.25, 0.5, 0.75)
    // axis 1: lineitem quantities per return flag (the #80 grain)
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"),
        col("l_linenumber"))
    val got = Ranking.groupedQuantiles(li, Seq("l_returnflag"), "l_quantity",
        Seq("l_orderkey", "l_linenumber"), ps).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val want = Commerce.quantiles(spark, sf).collect()
      .flatMap(r => Seq((r.getString(0), 0.25) -> r.getDouble(1),
        (r.getString(0), 0.5) -> r.getDouble(2),
        (r.getString(0), 0.75) -> r.getDouble(3))).toMap
    assert(got === want)
    // axis 2: event cents per type, vs the percentile aggregate directly
    val ev = Dedup.eventsUs(spark, sf).select(col("event_type"),
      graft.functions.Hashing.valueCents(col("value")).as("cents"),
      col("event_id"))
    val got2 = Ranking.groupedQuantiles(ev, Seq("event_type"), "cents",
        Seq("event_id"), Seq(0.5)).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want2 = ev.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5D)").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got2 === want2)
    // the ranked frame is checkpointed (the global sort pass runs ONCE,
    // not once per consuming subtree), so the outer plan reads the
    // materialized rank output — and still no per-group buffering agg,
    // no single-partition window
    val plan = Ranking.groupedQuantiles(li, Seq("l_returnflag"), "l_quantity",
      Seq("l_orderkey", "l_linenumber"), ps)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("GlobalRank"), "ranked frame not checkpointed: " +
      "the global sort subtree would run once per consumer")
    assert(!plan.contains("percentile"))
  }

  test("groupedPositional returns the exact rank-ceil(p*n) group member") {
    import org.apache.spark.sql.functions._
    val ev = Dedup.eventsUs(spark, sf).select(col("event_type"),
      graft.functions.Hashing.valueCents(col("value")).as("cents"),
      col("event_id"))
    val got = Ranking.groupedPositional(ev, Seq("event_type"), "cents",
        Seq("event_id"), Seq(0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // driver model: sorted group values, element at ceil(p·n) (1-based)
    val byType = ev.collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    byType.foreach { case (t, vs) =>
      Seq(0.5, 0.9).foreach { p =>
        val pos = math.ceil(p * vs.length.toDouble).toLong
        assert(got((t, p)) === vs((pos - 1).toInt), s"$t p=$p")
      }
    }
    // same scale posture as groupedQuantiles: one checkpointed native
    // rank pass feeding both consumers, no buffering
    val plan = Ranking.groupedPositional(ev, Seq("event_type"), "cents",
      Seq("event_id"), Seq(0.5)).queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"))
    assert(!plan.contains("GlobalRank"), "ranked frame not checkpointed: " +
      "the global sort subtree would run once per consumer")
    assert(!plan.contains("percentile"))
  }

  test("kmvAccuracy: exact side matches; sketch error stays inside the k bound") {
    val rows = Sketches.kmvAccuracy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the sample is a uniform bottom-k: positional quantile error is
      // O(1/√k) in RANK terms — on this corpus the value-space error
      // stays well under 50% of the exact value; the panel exists to
      // watch this number, the spec pins it is sane
      assert(r.getLong(5) < 500000L, s"${r.getString(0)} p50 err")
      assert(r.getLong(8) < 500000L, s"${r.getString(0)} p90 err")
      assert(r.getLong(2) <= Sketches.SampleK.toLong)
      assert(r.getLong(1) >= r.getLong(2))
    }
  }

  test("incremental pack continuation equals the full-corpus pack") {
    import spark.implicits._
    val all = Seq((1L, 300L), (2L, 300L), (3L, 10L), (4L, 600L), (5L, 100L))
      .toDF("doc_id", "n_toks")
    val full = Pipeline.packOf(all, seqLen = 512L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // split at doc 3: pack the tail with baseOffset = head's token total
    val (head, tail) = (all.filter(col("doc_id") <= 3), all.filter(col("doc_id") > 3))
    val headPacked = Pipeline.packOf(head, seqLen = 512L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val tailPacked = Pipeline.packOf(tail, seqLen = 512L, baseOffset = 610L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert((headPacked ++ tailPacked).sortBy(_._1).toSeq == full.sortBy(_._1).toSeq)
  }

  test("packSequences matches a sequential concatenate-and-cut model") {
    val L = Pipeline.PackSeqLen
    val docs = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "CAST(size(filter(split(trim(text), '\\\\s+'), t -> t != '')) AS BIGINT) AS n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var off = 0L
    val expected = docs.map { case (id, n) =>
      val start = off; off += n
      (id, n, start, start / L,
        n > 0 && (start + n - 1) / L != start / L)
    }.toSeq
    val got = Pipeline.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSeq
    assert(got == expected)
    // the straddle metric is meaningful on this corpus: some docs cross
    assert(got.exists(_._5) && got.exists(!_._5))
  }
}
