package graft.operators

import graft.SparkSpec

/** Round-13 wave-12 panels vs independent in-memory models at sf0.001:
  * dedup_bloom_accuracy (salted-position Bloom filter replayed in
  * driver Scala over the engine's digest stream) and events_trend_ols
  * (BigInt OLS over the raw collected events).
  */
class BloomTrendSpec extends SparkSpec {

  private def h64Model(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def halfUp(num: Long, den: Long): Long = (num + den / 2) / den

  test("bloomAccuracy: every count matches a driver-Scala Bloom replay; FN provably zero") {
    val cutoff = Dedup.BootstrapCutoffUs
    val dg = Dedup.hashedStream(spark, sf)
      .select("digest", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, rows) =>
        (d, rows.exists(_._2 < cutoff), rows.exists(_._2 >= cutoff))
      }.toSeq
    val build = dg.collect { case (d, true, _) => d }.toSet
    val probes = dg.collect { case (d, pre, true) => (d, pre) }
    def pos(m: Int, i: Int, d: Long): Long =
      h64Model(s"bloom:$m:$i:$d") % m
    val expected = Sketches.BloomConfigs.map { case (m, k) =>
      val set = build.flatMap(d => (0 until k).map(i => pos(m, i, d)))
      val hit = probes.map { case (d, pre) =>
        (pre, (0 until k).forall(i => set.contains(pos(m, i, d))))
      }
      val nFp = hit.count { case (pre, positive) => !pre && positive }.toLong
      val nNon = hit.count(!_._1).toLong
      (m, k, build.size.toLong, halfUp(set.size.toLong * 1000000L, m),
        probes.size.toLong, hit.count(_._1).toLong,
        hit.count { case (pre, positive) => pre && !positive }.toLong,
        nNon, nFp, halfUp(nFp * 1000000L, math.max(nNon, 1L)))
    }.sortBy(_._1)
    val got = Sketches.bloomAccuracy(spark, sf).collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9)))
    assert(got == expected)
    // the structural guarantee the panel releases: a Bloom filter can
    // never false-negative, at ANY config
    assert(got.forall(_._7 == 0L))
    // more slots -> sparser filter (fill ratio strictly decreases)
    assert(got.map(_._4) == got.map(_._4).sortBy(-_))
  }

  test("trendOls: slope/intercept/r2 match a BigInt OLS over the raw events") {
    val ev = Dedup.eventsUs(spark, sf)
      .select("event_type", "ts_us", "value").collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400000000L,
        math.round(r.getDouble(2) * 100)))
    val day0 = ev.map(_._2).min
    val expected = ev.groupBy(_._1).toSeq.map { case (t, rows) =>
      val daily = rows.groupBy(_._2).toSeq
        .map { case (d, rs) => (BigInt(d - day0), BigInt(rs.map(_._3).sum)) }
      val n = BigInt(daily.size)
      val sx = daily.map(_._1).sum
      val sxx = daily.map(p => p._1 * p._1).sum
      val sy = daily.map(_._2).sum
      val sxy = daily.map(p => p._1 * p._2).sum
      val syy = daily.map(p => p._2 * p._2).sum
      val sn = n * sxy - sx * sy
      val sd = n * sxx - sx * sx
      val iin = sy * sxx - sx * sxy
      val syyN = n * syy - sy * sy
      def signed4(num: BigInt): Option[Double] =
        if (sd == 0) None
        else Some(num.signum * (((num.abs * 10000 + sd / 2) / sd).toLong / 10000.0))
      val r2 = if (sd == 0 || syyN == 0) None
        else Some(((2 * sn * sn * 1000000 + sd * syyN) / (2 * sd * syyN)).toLong)
      (t, n.toLong, sy.toLong, signed4(sn), signed4(iin), r2)
    }.sortBy(_._1)
    val got = EventSeries.trendOls(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(got == expected)
    // r² lives on the ppm grid
    assert(got.forall(_._6.forall(v => v >= 0L && v <= 1000000L)))
  }

  private def olsModel(daily: Seq[(String, Long, BigInt)])
      : Seq[(String, Long, Long, Option[Double], Option[Double], Option[Long])] = {
    val day0 = daily.map(_._2).min
    daily.groupBy(_._1).toSeq.map { case (t, rows) =>
      val pts = rows.map(r => (BigInt(r._2 - day0), r._3))
      val n = BigInt(pts.size)
      val sx = pts.map(_._1).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val sn = n * sxy - sx * sy
      val sd = n * sxx - sx * sx
      val iin = sy * sxx - sx * sxy
      val syyN = n * syy - sy * sy
      def signed4(num: BigInt): Option[Double] =
        if (sd == 0) None
        else Some(num.signum *
          (((2 * num.abs * 10000 + sd) / (2 * sd)).toLong / 10000.0))
      val r2 = if (sd == 0 || syyN == 0) None
        else Some(((2 * sn * sn * 1000000 + sd * syyN) / (2 * sd * syyN)).toLong)
      (t, n.toLong, sy.toLong, signed4(sn), signed4(iin), r2)
    }.sortBy(_._1)
  }

  test("segmentTrend: the OLS algebra on commerce revenue matches a BigDecimal model") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0),
        (BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          (BigDecimal(1) -
            BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))))
    val om = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val seg = graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val daily = li.flatMap { case (ok, rev) => om.get(ok).map { case (ck, mo) =>
        ((seg(ck), mo), rev) } }
      .groupBy(_._1).toSeq.map { case ((s, mo), rs) =>
        val cents = (rs.map(_._2).sum * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
        (s, mo, cents)
      }
    val expected = olsModel(daily)
    val got = Commerce.segmentTrend(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(got == expected)
    assert(got.nonEmpty && got.forall(_._6.forall(v => v >= 0L && v <= 1000000L)))
  }

  test("fanoSpectrum: dense-grid Fano matches a driver model at every width") {
    val ev = Dedup.eventsUs(spark, sf).select("event_type", "ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1) / 3600000000L))
    val h0 = ev.map(_._2).min
    val h1 = ev.map(_._2).max
    val expected = (for {
      w <- EventSeries.FanoWidthsH
      (t, rows) <- ev.groupBy(_._1)
    } yield {
      val slots = rows.groupBy(r => (r._2 - h0) / w).values.map(_.size.toLong)
      val nSlots = (h1 - h0) / w + 1L
      val n = slots.sum
      val s2 = slots.map(c => c * c).sum
      (t, w, nSlots, n, slots.size.toLong,
        ratio4Model(nSlots * s2 - n * n, nSlots * n))
    }).toSeq.sortBy(r => (r._1, r._2))
    val got = EventSeries.fanoSpectrum(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got == expected)
    // Cauchy–Schwarz: the dense-grid Fano numerator is never negative
    assert(got.forall(_._6 >= 0.0))
  }

  test("savingsReport: each method's row reconciles with its own pair/digest set") {
    val toks = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          TextAnalysis.tokens(org.apache.spark.sql.functions.col("text")))
          .cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val td = toks.size.toLong
    val tt = toks.values.sum
    def row(name: String, ids: Set[Long]) = {
      val nd = ids.size.toLong
      val tk = ids.toSeq.map(toks).sum
      (name, nd, tk, ratio4Model(nd, td), ratio4Model(tk, tt))
    }
    // exact: independent normalization model over raw text
    val exact = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0),
        r.getString(1).trim.replaceAll("\\s+", " ").toLowerCase))
      .groupBy(_._2).values.flatMap(g => g.map(_._1).sorted.drop(1)).toSet
    val mh = MinHashLSH.nearDupPairs(spark, sf)
      .select("d2").collect().map(_.getLong(0)).toSet
    val sh2 = SimHash.nearDupPairs(spark, sf)
      .select("d2").collect().map(_.getLong(0)).toSet
    val wn = DocDedup.winnowingPairs(spark, sf)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    val expected = Seq(row("exact", exact), row("minhash", mh),
      row("simhash", sh2), row("winnowing", wn)).sortBy(_._1)
    val got = DocDedup.savingsReport(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got == expected)
  }
}
