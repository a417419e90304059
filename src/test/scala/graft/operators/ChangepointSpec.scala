package graft.operators

import graft.SparkSpec

/** Wave-18 locators vs independent driver models at sf0.001:
  * events_changepoint (offline CUSUM split) and events_theil_sen
  * (median pairwise slope + median residual intercept). Both models
  * re-derive the full selection from raw collected events with BigInt
  * arithmetic — no shared code with the operators.
  */
class ChangepointSpec extends SparkSpec {

  private def halfUp(num: BigInt, den: BigInt): BigInt =
    (num * 2 + den) / (den * 2)

  private def signed4(num: BigInt, den: BigInt): Double =
    (if (num < 0) -1.0 else 1.0) *
      halfUp(num.abs * 10000, den).toLong / 10000.0

  private def ratio4(num: Long, den: Long): Double =
    ((num * 10000L + den / 2) / den) / 10000.0

  private def eventsRaw(): Seq[(String, Long, Long)] =
    Dedup.eventsUs(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("ts_us"),
        graft.functions.Hashing.valueCents(
          org.apache.spark.sql.functions.col("value")).as("cents"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("changepoint: CUSUM argmax, segment means, and variance share match the model") {
    val ev = eventsRaw()
    val daily = ev.groupBy(e => (e._1, Math.floorDiv(e._2, 86400000000L)))
      .view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.map(_._2).min
    val d1 = daily.keys.map(_._2).max
    val n = d1 - d0 + 1
    val expected = daily.keys.map(_._1).toSeq.distinct.sorted.map { t =>
      val c = (d0 to d1).map(d => daily.getOrElse((t, d), 0L))
      val s = c.sum
      val s2 = c.map(x => BigInt(x) * x).sum
      // argmax of |n·S1 − k·S| over k = 1..n−1, earliest day on ties
      val cum = c.scanLeft(0L)(_ + _).tail
      val (g, k) = (1L until n).map { k =>
        val s1 = cum(k.toInt - 1)
        (Math.abs(n * s1 - k * s), k)
      }.maxBy { case (g, k) => (g, -k) }
      val s1 = cum(k.toInt - 1)
      val bt = BigInt(k) * (n - k) * (BigInt(n) * s2 - BigInt(s) * s)
      val gain =
        if (bt == 0) null
        else java.lang.Long.valueOf(
          halfUp(BigInt(g) * g * 1000000, bt).toLong)
      (t, n, s, d0 + k, k, n - k, ratio4(s1, k), ratio4(s - s1, n - k), g, gain)
    }
    val got = EventSeries.changepoint(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getLong(8), if (r.isNullAt(9)) null
        else java.lang.Long.valueOf(r.getLong(9))))
    assert(got == expected)
    // the explained share is a proper fraction of total variance
    assert(got.forall(r => r._10 == null ||
      (r._10.longValue >= 0L && r._10.longValue <= 1000000L)))
  }

  test("theilSen: lower-median pairwise slope and median residual intercept match the model") {
    val ev = eventsRaw()
    val daily = ev.groupBy(e => (e._1, Math.floorDiv(e._2, 86400000000L)))
      .view.mapValues(_.map(_._3).sum).toMap
    val day0 = daily.keys.map(_._2).min
    val byType = daily.toSeq.map { case ((t, d), y) => (t, d - day0, y) }
      .groupBy(_._1)
    val expected = byType.toSeq.sortBy(_._1).map { case (t, rows) =>
      val pts = rows.map(r => (r._2, r._3)).sortBy(_._1)
      val pairs = for {
        i <- pts.indices; j <- pts.indices if pts(j)._1 > pts(i)._1
      } yield (pts(j)._2 - pts(i)._2, pts(j)._1 - pts(i)._1)
      // exact rational order (BigInt cross-multiply), then (num, den) —
      // the operator's fixed-scale key induces the same total order
      val sorted = pairs.sortWith { case ((n1, d1), (n2, d2)) =>
        val c = BigInt(n1) * d2 - BigInt(n2) * d1
        if (c != 0) c < 0 else if (n1 != n2) n1 < n2 else d1 < d2
      }
      val (p, q) = sorted(((pairs.size + 1) / 2 - 1).toInt)
      val rnums = pts.map { case (x, y) => q * y - p * x }.sorted
      val rnum = rnums(((pts.size + 1) / 2 - 1).toInt)
      (t, pts.size.toLong, pairs.size.toLong,
        signed4(BigInt(p), BigInt(q)), signed4(BigInt(rnum), BigInt(q)))
    }
    val got = EventSeries.theilSen(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got == expected)
    // the median slope is bracketed by the extreme pairwise slopes
    assert(got.forall(r => r._3 >= -1e14 && r._3 <= 1e14))
  }
  test("friedmanDow: doubled-rank Friedman statistic matches the driver model") {
    def halfUp(num: Long, den: Long): Long = (num + den / 2) / den
    val ev = eventsRaw()
    val daily = ev.groupBy(e => (e._1, Math.floorDiv(e._2, 86400000000L)))
      .view.mapValues(_.size.toLong).toMap
    val d0 = daily.keys.map(_._2).min
    val d1 = daily.keys.map(_._2).max
    val expected = daily.keys.map(_._1).toSeq.distinct.sorted.flatMap { t =>
      val cells = (d0 to d1).map { d =>
        (Math.floorDiv(d + 3, 7L), (d + 3) % 7, daily.getOrElse((t, d), 0L))
      }.filter { case (wk, _, _) => wk * 7 - 3 >= d0 && wk * 7 + 3 <= d1 }
      val byWeek = cells.groupBy(_._1)
      if (byWeek.isEmpty) None
      else {
        // doubled average ranks within each complete week
        val r2ByDow = byWeek.values.flatMap { week =>
          week.map { case (_, dow, c) =>
            val lo = week.count(_._3 < c) + 1
            val hi = week.count(_._3 <= c)
            dow -> (lo + hi).toLong
          }
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val n = byWeek.size.toLong
        val sr2sq = r2ByDow.values.map(r => r * r).sum
        val (topDow, topR2) = r2ByDow.toSeq.sortBy { case (d, r) => (-r, d) }.head
        Some((t, n, halfUp((3 * sr2sq - 1344 * n * n) * 10000L, 56 * n) / 1e4,
          topDow, halfUp(topR2 * 10000L, 2 * n) / 1e4))
      }
    }
    val got = EventSeries.friedmanDow(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    assert(got == expected)
    // Q is non-negative and the top mean rank lives on [1, 7]
    assert(got.forall(r => r._3 >= 0.0 && r._5 >= 1.0 && r._5 <= 7.0))
  }

}
