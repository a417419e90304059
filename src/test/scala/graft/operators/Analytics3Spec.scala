package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Commerce and EventUsers panels vs independent in-memory models at
  * sf0.001. The DuckDB oracle already proves q21's aggregate rewrite
  * against the textbook EXISTS form cross-engine; these models pin the
  * semantics inside the JVM too (and at a second data scale, via the
  * sf0.01 Verify run). */
class Analytics3Spec extends SparkSpec {

  // the TPC-H tables carry TIMESTAMP_NTZ → collect() yields LocalDateTime
  private def epochMs(r: org.apache.spark.sql.Row, i: Int): Long =
    r.getAs[java.time.LocalDateTime](i).toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  test("q21 matches a brute-force EXISTS/NOT-EXISTS model") {
    val ord = graft.Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> epochMs(r, 1)).toMap
    val lateMs = 365L * 24 * 3600 * 1000
    // (order, supplier) -> any late lineitem
    val os = scala.collection.mutable.Map[(Long, Long), Boolean]().withDefaultValue(false)
    graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .foreach { r =>
        val ok = r.getLong(0)
        ord.get(ok).foreach { odate =>
          val key = (ok, r.getLong(1))
          os(key) = os(key) || epochMs(r, 2) > odate + lateMs
        }
      }
    val byOrder = os.keys.groupBy(_._1)
    val waiting = os.collect { case ((ok, sk), true) => (ok, sk) }.filter { case (ok, sk) =>
      val supps = byOrder(ok).map(_._2).toSet
      val lateSupps = supps.filter(s => os((ok, s)))
      supps.size >= 2 && lateSupps == Set(sk)
    }
    val region = graft.Tables.region(spark, sf).filter(col("r_name") === "ASIA")
      .select("r_regionkey").collect().map(_.getInt(0)).toSet
    val nations = graft.Tables.nation(spark, sf).collect()
      .filter(r => region.contains(r.getInt(2))).map(_.getInt(0)).toSet
    val suppName = graft.Tables.supplier(spark, sf).collect()
      .filter(r => nations.contains(r.getInt(2)))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = waiting.toSeq
      .flatMap { case (_, sk) => suppName.get(sk) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (n, w) => (-w, n) }.take(10)
    val got = Commerce.q21(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got == expected)
  }

  test("gapStats matches a per-user sorted-gaps model") {
    val ev = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).view.mapValues { rows =>
      val ts = rows.sortBy(r => (r._2, r._3)).map(_._2)
      ts.zip(ts.tail).map { case (a, b) => b - a }
    }.toSeq
      .collect { case (u, gaps) if gaps.nonEmpty =>
        // the mean with the operator's exact-rational HALF_UP rounding
        // (ratio4) — r3's hash regression was exactly this column
        val n = gaps.length.toLong
        val avg = ((gaps.sum * 10000L + n / 2) / n) / 10000.0
        (u, (n, gaps.sum, gaps.max, avg)) }
      .sortBy(_._1)
    val got = EventUsers.gapStats(spark, sf).collect().toSeq
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(got == expected)
  }

  test("gapHistogram matches an in-memory bucket model and closes to 1.0") {
    val ev = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = ev.groupBy(_._1).values.flatMap { rows =>
      val ts = rows.sortBy(r => (r._2, r._3)).map(_._2)
      ts.zip(ts.tail).map { case (a, b) => b - a }
    }.toSeq
    def rank(g: Long): Long =
      EventUsers.GapBuckets.find(g < _._3).map(_._1)
        .getOrElse(EventUsers.GapBuckets.length + 1L)
    val byRank = gaps.groupBy(rank).view.mapValues(_.length.toLong).toMap
    val t = gaps.length.toLong
    def r4(n: Long) = ((n * 10000L + t / 2) / t) / 10000.0
    val ranksSorted = byRank.keys.toSeq.sorted
    val cum = ranksSorted.scanLeft(0L)((a, r) => a + byRank(r)).tail
    val expected = ranksSorted.zip(cum).map { case (r, c) =>
      (r, byRank(r), r4(byRank(r)), r4(c))
    }
    val got = EventUsers.gapHistogram(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got == expected)
    assert(got.last._4 == 1.0, "cumulative share must close to 1.0")
  }

  test("botRegularity matches an integer mean+MAD model and flags a planted bot") {
    import spark.implicits._
    def hu(a: Long, b: Long) = (a + b / 2) / b
    // real corpus: model parity
    val ev = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val model = ev.groupBy(_._1).view.mapValues { rows =>
      val ts = rows.sortBy(r => (r._2, r._3)).map(_._2)
      ts.zip(ts.tail).map { case (a, b) => b - a }
    }.toSeq
      .collect { case (u, gaps) if gaps.length >= EventUsers.MinGaps =>
        val n = gaps.length.toLong
        val mean = hu(gaps.sum, n)
        val mad = hu(gaps.map(g => math.abs(g - mean)).sum, n)
        val reg = if (mean > 0) Some(hu(mad * 10000L, mean) / 10000.0) else None
        (u, n, mean, mad, reg,
          if (mean == 0) true else reg.get <= EventUsers.BotRegularityMax)
      }.sortBy(_._1)
    val got = EventUsers.botRegularity(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getBoolean(5)))
    assert(got == model)
    // humans in the synthetic stream are dispersed — none flagged
    assert(got.nonEmpty && !got.exists(_._6))

    // planted metronome (exact 60 s gaps) and zero-gap replayer both flag
    val planted = (1L to 10L).map(i => (901L, i * 60000000L, i)) ++
      (1L to 10L).map(i => (902L, 42L, 100L + i))
    val flags = EventUsers
      .botRegularityOf(planted.toDF("user_id", "ts_us", "event_id"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(flags == Map(901L -> true, 902L -> true))
  }

  test("userFlux matches a first/last-day model and conserves users") {
    val act = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400000000L)).distinct
    val byDay = act.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val span = act.groupBy(_._1).view
      .mapValues(ds => (ds.map(_._2).min, ds.map(_._2).max)).toMap
    val firsts = span.values.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val lasts = span.values.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    var cum = 0L
    val model = byDay.keys.toSeq.sorted.map { d =>
      cum += firsts.getOrElse(d, 0L)
      (d, byDay(d), firsts.getOrElse(d, 0L), lasts.getOrElse(d, 0L), cum)
    }
    val got = EventUsers.userFlux(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == model)
    // conservation: acquisitions and churn both sum to the user base
    assert(got.map(_._3).sum == span.size.toLong)
    assert(got.map(_._4).sum == span.size.toLong)
    assert(got.last._5 == span.size.toLong)
  }

  test("backlogCurve: daily flows match a driver model; backlog closes at zero") {
    import org.apache.spark.sql.functions.col
    def ld(v: Any): java.time.LocalDate = v match {
      case d: java.sql.Date => d.toLocalDate
      case t: java.time.LocalDateTime => t.toLocalDate
    }
    val epoch = java.time.LocalDate.ofEpochDay(0)
    val orders = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) ->
        java.time.temporal.ChronoUnit.DAYS.between(epoch, ld(r.get(1)))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("date")).collect()
      .map(r => (orders(r.getLong(0)),
        java.time.temporal.ChronoUnit.DAYS.between(epoch, ld(r.get(1)))))
    val byOrd = li.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byShip = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = Commerce.backlogCurve(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet === (byOrd.keySet ++ byShip.keySet))
    var run = 0L
    got.sortBy(_.getLong(0)).foreach { r =>
      val d = r.getLong(0)
      assert(r.getLong(1) === byOrd.getOrElse(d, 0L), s"ordered day $d")
      assert(r.getLong(2) === byShip.getOrElse(d, 0L), s"shipped day $d")
      run += r.getLong(1) - r.getLong(2)
      assert(r.getLong(3) === run, s"backlog day $d")
    }
    // every ordered item eventually ships: the curve closes at zero
    assert(run === 0L)
  }

  test("activeDaysHistogram matches a distinct-day driver model") {
    val perUser = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400000000L)).distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def rank(d: Long) =
      if (d == 1) 1L else if (d <= 4) 2L else if (d <= 9) 3L
      else if (d <= 19) 4L else 5L
    val want = perUser.values.groupBy(rank).view.mapValues { ds =>
      (ds.size.toLong, ds.sum)
    }.toMap
    val total = perUser.size.toLong
    val got = EventUsers.activeDaysHistogram(spark, sf).collect()
    assert(got.length === want.size)
    assert(got.map(_.getLong(2)).sum === total)
    got.foreach { r =>
      assert((r.getLong(2), r.getLong(3)) === want(r.getLong(0)),
        s"bucket ${r.getString(1)}")
      assert(r.getDouble(4) === ratio4Model(r.getLong(2), total))
    }
  }

  test("transitionQuantiles matches a per-pair sorted-gap model") {
    val evs = Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = evs.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._2, r._3)).sliding(2).collect {
        case Array(a, b) => ((a._4, b._4), (b._2 - a._2).toDouble)
      }
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def q(v: IndexedSeq[Double], p: Double): Double = {
      val pos = p * (v.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) v(lo) else v(lo) * (hi - pos) + v(hi) * (pos - lo)
    }
    val got = EventUsers.transitionQuantiles(spark, sf).collect()
    assert(got.length === trans.size)
    got.foreach { r =>
      val v = trans((r.getString(0), r.getString(1)))
      assert(r.getLong(2) === v.length.toLong)
      assert(r.getDouble(3) == q(v, 0.25) && r.getDouble(4) == q(v, 0.5)
        && r.getDouble(5) == q(v, 0.75),
        s"${r.getString(0)}->${r.getString(1)}")
    }
  }

  test("quantiles matches the standard linear-interpolation definition") {
    val byFlag = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def q(v: IndexedSeq[Double], p: Double): Double = {
      val pos = p * (v.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < v.length) v(lo) + frac * (v(lo + 1) - v(lo)) else v(lo)
    }
    val got = Commerce.quantiles(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == byFlag.keys.toSeq.sorted)
    got.foreach { r =>
      val v = byFlag(r.getString(0)).toIndexedSeq
      assert(r.getDouble(1) == q(v, 0.25))
      assert(r.getDouble(2) == q(v, 0.5))
      assert(r.getDouble(3) == q(v, 0.75))
    }
  }

  test("fulfillmentLag matches a joined day-lag model per month") {
    import org.apache.spark.sql.functions.col
    def ld(v: Any): java.time.LocalDate = v match {
      case d: java.sql.Date => d.toLocalDate
      case d: java.time.LocalDate => d
      case t: java.time.LocalDateTime => t.toLocalDate
    }
    val orders = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate").cast("date")).collect()
      .map(r => r.getLong(0) -> ld(r.get(1))).toMap
    val lags = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("date")).collect()
      .map { r =>
        val od = orders(r.getLong(0))
        ((od.getYear, od.getMonthValue),
          java.time.temporal.ChronoUnit.DAYS.between(od,
            ld(r.get(1))).toDouble)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def q(v: IndexedSeq[Double], p: Double): Double = {
      val pos = p * (v.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < v.length) v(lo) + frac * (v(lo + 1) - v(lo)) else v(lo)
    }
    val got = Commerce.fulfillmentLag(spark, sf).collect()
    assert(got.length === lags.size)
    got.foreach { r =>
      val v = lags((r.getInt(0), r.getInt(1)))
      assert(r.getLong(2) === v.length.toLong)
      assert(r.getDouble(3) == q(v, 0.25) && r.getDouble(4) == q(v, 0.5)
        && r.getDouble(5) == q(v, 0.75))
      assert(r.getLong(6) === v.last.toLong)
      // NOTE: the synthetic generator draws ship dates independently of
      // order dates, so negative lags occur here (min observed ≈ −37d);
      // on physical data the dq_report contract monitors lag ≥ 0
    }
  }

  test("repeatInterval matches the per-customer lag model") {
    val seg = graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val orders = {
      import org.apache.spark.sql.functions._
      graft.Tables.orders(spark, sf)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
            .cast("long").as("day"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    val gaps = orders.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      os.toSeq.sortBy(o => (o._3, o._2)).sliding(2).collect {
        case Seq(a, b) => (seg(ck), ck, b._3 - a._3)
      }
    }
    def interp(v: IndexedSeq[Long], p: Double): Double = {
      val pos = p * (v.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi) v(lo).toDouble
      else v(lo) * (hi - pos) + v(hi) * (pos - lo)
    }
    val expected = gaps.groupBy(_._1).map { case (s, g) =>
      val v = g.map(_._3).sorted.toIndexedSeq
      (s, g.map(_._2).distinct.size.toLong, g.size.toLong,
        ratio4Model(g.map(_._3).sum, g.size.toLong),
        interp(v, 0.25), interp(v, 0.5), interp(v, 0.75))
    }.toSeq.sortBy(_._1)
    val got = Commerce.repeatInterval(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
