package graft.operators

import graft.SparkSpec

/** EventValues, EventSeries and EventUsers panels vs independent
  * in-memory models at sf0.001. */
class Analytics4Spec extends SparkSpec {

  private lazy val events: Seq[(Long, Long, Long, String, Double)] =
    Dedup.eventsUs(spark, sf)
      .select("event_id", "ts_us", "user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq

  private def cents(v: Double): Long = math.round(v * 100)

  test("intDiv buckets negative cents exactly like DuckDB // (both truncate)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = Seq(-4100L, -2000L, -1L, 0L, 1999L, 2000L).toDF("cents")
      .select(graft.functions.Hashing.intDiv(col("cents"),
        lit(EventValues.HistBucketCents)).as("b"))
      .collect().map(_.getLong(0)).toSeq
    // pinned against DuckDB: SELECT c // 2000 over the same fixtures
    // returns (-2, -1, 0, 0, 0, 1) — truncation toward zero, NOT floor
    // (round-4 advice assumed floor; the engines in fact agree as-is)
    assert(got == Seq(-2L, -1L, 0L, 0L, 0L, 1L))
  }

  test("valueHistogram matches an exact-cents bucketing model") {
    val expected = events
      .map { case (_, _, _, t, v) => (t, cents(v)) }
      .groupBy { case (t, c) => (t, c / EventValues.HistBucketCents) }
      .map { case ((t, b), g) =>
        (t, b, g.size.toLong, g.map(_._2).min, g.map(_._2).max) }
      .toSeq.sortBy(r => (r._1, r._2))
    val got = EventValues.valueHistogram(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got == expected)
  }

  test("hourlyChange matches a sparse lag model over observed hours") {
    val hourly = events
      .map { case (_, ts, _, t, v) => (t, ts / 3600000000L, cents(v)) }
      .groupBy { case (t, h, _) => (t, h) }
      .map { case ((t, h), g) => (t, h, g.size.toLong, g.map(_._3).sum) }
      .toSeq.sortBy(r => (r._1, r._2))
    val expected = hourly.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(_._2)
      sorted.zip(0L +: sorted.map(_._3)).map { case ((t, h, n, s), prev) =>
        (t, h, n, s, prev, n - prev) }
    }.toSeq.sortBy(r => (r._1, r._2))
    val got = EventSeries.hourlyChange(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == expected)
  }

  test("topPaths matches a sliding-trigram model") {
    val expected = events.groupBy(_._3).values.flatMap { rows =>
      rows.toSeq.sortBy(r => (r._2, r._1)).map(_._4).sliding(3).filter(_.size == 3)
        .map(_.mkString(">"))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(10)
    val got = EventUsers.topPaths(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got == expected)
  }

  test("spendDeciles matches a sorted-rank model (exact int64 decile)") {
    val spend = events.groupBy(_._3).view
      .mapValues(_.map(e => cents(e._5)).sum).toSeq
    val n = spend.size.toLong
    val expected = spend.sortBy { case (u, s) => (-s, u) }.zipWithIndex
      .map { case ((u, s), i) =>
        val rn = i + 1L
        (u, s, rn, (rn - 1) * 10 / n + 1)
      }.sortBy(_._1)
    val got = EventValues.spendDeciles(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == expected)
    // every decile is populated on this corpus
    assert(got.map(_._4).distinct.sorted == (1L to 10L))
  }

  test("valueConcentration is the Lorenz rollup of the decile frame") {
    val deciles = EventValues.spendDeciles(spark, sf).collect().toSeq
      .map(r => (r.getLong(1), r.getLong(3))) // (spend_cents, decile)
    val byDec = deciles.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (d, g) => (d, g.size.toLong, g.map(_._1).sum) }
    val (tu, tc) = (byDec.map(_._2).sum, byDec.map(_._3).sum)
    var (cu, cc) = (0L, 0L)
    val model = byDec.map { case (d, nu, sc) =>
      cu += nu; cc += sc
      (d, nu, sc, cc, ratio4Model(cu, tu), ratio4Model(cc, tc))
    }
    val got = EventValues.valueConcentration(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got == model)
    // concentration is real: the top decile outholds its user share
    assert(got.head._6 > got.head._5)
    // the curve closes at exactly 1.0 on both axes
    assert(got.last._5 == 1.0 && got.last._6 == 1.0)
  }

  test("sessionHistogram matches a gap-split model") {
    val gap = 1800L * 1000000L
    val sizes = events.groupBy(_._3).values.flatMap { rows =>
      val ts = rows.toSeq.sortBy(r => (r._2, r._1)).map(_._2)
      val sess = scala.collection.mutable.ArrayBuffer[Long]()
      var prev = Long.MinValue
      ts.foreach { t =>
        if (sess.isEmpty || t - prev > gap) sess += 1
        else sess(sess.size - 1) += 1
        prev = t
      }
      sess
    }
    val expected = sizes.toSeq.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.sorted
    val got = EventUsers.sessionHistogram(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got == expected)
  }

  test("rollingWeek matches a trailing-7-day sum model over sparse days") {
    val daily = events
      .map { case (_, ts, _, t, v) => (t, ts / 86400000000L, cents(v)) }
      .groupBy { case (t, d, _) => (t, d) }
      .map { case ((t, d), g) => (t, d, g.size.toLong, g.map(_._3).sum) }
      .toSeq
    val expected = daily.map { case (t, d, n, s) =>
      val win = daily.filter(x => x._1 == t && x._2 >= d - 6 && x._2 <= d)
      (t, d, n, s, win.map(_._3).sum, win.map(_._4).sum)
    }.sortBy(r => (r._1, r._2))
    val got = EventSeries.rollingWeek(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == expected)
  }

  test("trimmedMean matches a rank-trim model in exact cents") {
    val expected = events.groupBy(_._4).toSeq.map { case (t, rows) =>
      val sorted = rows.map(e => (cents(e._5), e._1)).toSeq.sorted
      val k = (sorted.size * EventValues.TrimPct / 100).toInt
      val kept = sorted.slice(k, sorted.size - k).map(_._1)
      (t, kept.size.toLong, kept.min, kept.max, ratio4Model(kept.sum, kept.size.toLong))
    }.sortBy(_._1)
    val got = EventValues.trimmedMean(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got == expected)
  }

  test("profileEvents reports exact per-column null and distinct counts") {
    val got = EventValues.profileEvents(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = events.size.toLong
    assert(got.keySet == Set("event_id", "ts_us", "user_id", "event_type", "value", "props"))
    assert(got.values.forall(_._1 == n))
    assert(got("event_id") == ((n, 0L, events.map(_._1).distinct.size.toLong)))
    assert(got("event_type")._3 == events.map(_._4).distinct.size.toLong)
    assert(got("user_id")._3 == events.map(_._3).distinct.size.toLong)
  }

  test("rfm matches a triple-rank quintile model (5 = best)") {
    val base = events.groupBy(_._3).map { case (u, rows) =>
      (u, rows.map(_._2).max, rows.size.toLong, rows.map(e => cents(e._5)).sum)
    }.toSeq
    val n = base.size.toLong
    def scores(key: ((Long, Long, Long, Long)) => Long): Map[Long, Long] =
      base.sortBy(r => (-key(r), r._1)).zipWithIndex
        .map { case (r, i) => r._1 -> ((n - (i + 1)) * 5 / n + 1) }.toMap
    val (rs, fs, ms) = (scores(_._2), scores(_._3), scores(_._4))
    val expected = base.map(r => (r._1, r._2, r._3, r._4, rs(r._1), fs(r._1), ms(r._1)))
      .sortBy(_._1)
    val got = EventUsers.rfm(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got == expected)
    assert(got.map(_._5).distinct.sorted == (1L to 5L))
  }

  test("benford: ppm table is exact, panel matches a first-digit model") {
    // the nine published constants partition 1e6 exactly
    assert(EventValues.BenfordPpm.sum === 1000000L)
    assert(EventValues.BenfordPpm.length === 9)
    val pos = events.map(e => (e._4, cents(e._5))).filter(_._2 > 0)
    val byType = pos.groupBy(_._1)
    val want = byType.flatMap { case (t, rows) =>
      val total = rows.length.toLong
      val digitCounts = rows.groupBy(_._2.toString.head.asDigit.toLong)
        .map { case (d, g) => d -> g.length.toLong }
      (1L to 9L).map { d =>
        val n = digitCounts.getOrElse(d, 0L)
        val share = (n * 1000000L + total / 2) / total
        val ben = EventValues.BenfordPpm(d.toInt - 1)
        (t, d) -> (n, share, ben, math.abs(share - ben))
      }
    }
    val got = EventValues.benford(spark, sf).collect()
    assert(got.length === byType.size * 9)
    got.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        === want(key), s"at $key")
    }
    // shares within a type sum to ~1e6 (off only by halfUp rounding)
    got.groupBy(_.getString(0)).foreach { case (t, rows) =>
      val s = rows.map(_.getLong(3)).sum
      assert(math.abs(s - 1000000L) <= 9, s"share sum for $t = $s")
    }
  }

  test("attribution matches a per-user last-click scan model") {
    val expected = events.groupBy(_._3).values.flatMap { rows =>
      var lastClick: Option[(Long, Long)] = None // (click_id, click_ts)
      rows.toSeq.sortBy(r => (r._2, r._1)).flatMap { case (id, ts, uid, t, _) =>
        val out =
          if (t == "purchase")
            lastClick.collect { case (cid, cts) if ts - cts <= EventUsers.AttributionWindowUs =>
              (id, uid, cid, ts - cts) }
          else None
        if (t == "click") lastClick = Some((id, ts))
        out
      }
    }.toSeq.sortBy(_._1)
    val got = EventUsers.attribution(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("burstiness matches the exact Fano model over the global hour span") {
    val hours = events.map { case (_, ts, u, _, _) => (u, ts / EventSeries.HourUs) }
    val h = hours.map(_._2).max - hours.map(_._2).min + 1
    val expected = hours.groupBy(_._1).map { case (u, g) =>
      val cells = g.groupBy(_._2).map(_._2.size.toLong)
      val n = cells.sum
      val s2 = cells.map(c => c * c).sum
      (u, n, cells.size.toLong, ratio4Model(h * s2 - n * n, h * n))
    }.toSeq.sortBy(_._1)
    val got = EventSeries.burstiness(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // the statistic discriminates: not every user at the same value
    assert(got.map(_._4).distinct.size > 1)
  }

  test("typeDrift matches the dense-grid ppm L1 model") {
    def halfUp(n: Long, d: Long) = (n + d / 2) / d
    val wk = events.map { case (_, ts, _, t, _) => (ts / EventSeries.WeekUs, t) }
      .groupBy(identity).map { case ((w, t), g) => ((w, t), g.size.toLong) }
    val weeks = wk.keys.map(_._1).toSeq.distinct.sorted
    val types = wk.keys.map(_._2).toSeq.distinct
    val tot = wk.groupBy(_._1._1).map { case (w, g) => (w, g.values.sum) }
    val ppm = (for (w <- weeks; t <- types)
      yield ((w, t), halfUp(wk.getOrElse((w, t), 0L) * 1000000L, tot(w)))).toMap
    val expected = weeks.sliding(2).collect { case Seq(pw, w) =>
      val ds = types.map(t => (t, math.abs(ppm((w, t)) - ppm((pw, t)))))
      val top = ds.maxBy { case (t, d) => (d, t) }
      (w, ds.map(_._2).sum, top._1, top._2)
    }.toSeq
    val got = EventSeries.typeDrift(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
