package graft.operators

import graft.SparkSpec

import java.math.{BigDecimal => JBD, RoundingMode}

/** Round-13 wave-1 panels vs independent in-memory models at sf0.001:
  * orders_assoc_rules, events_user_predictability, q9_product_revenue.
  */
class Round13PanelsSpec extends SparkSpec {

  private def halfUp(num: Long, den: Long): Long = (num + den / 2) / den

  test("assocRules: both directions of every basket pair, exact confidence") {
    val pairs = Commerce.basketPairs(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val expected = pairs.flatMap { case (p1, p2, s12, s1, s2, lift) =>
      Seq((p1, p2, s12, s1, halfUp(s12 * 10000L, math.max(s1, 1L)) / 1e4, lift),
        (p2, p1, s12, s2, halfUp(s12 * 10000L, math.max(s2, 1L)) / 1e4, lift))
    }.sortBy(r => (r._1, r._2))
    val got = Commerce.assocRules(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got == expected)
    // the rule table is exactly the symmetric closure: every pair twice,
    // confidence bounded by 1, and the direction rows share supp + lift
    assert(got.size == 2 * pairs.size)
    assert(got.forall(r => r._5 > 0 && r._5 <= 1.0))
  }

  test("userPredictability: banded Simpson concentration matches the driver model") {
    val ev = Dedup.eventsUs(spark, sf).select("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = ev.groupBy(_._1).toSeq.map { case (_, rows) =>
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).values.toSeq
      val n = counts.sum
      val k = counts.size.toLong
      val s2 = counts.map(c => c * (c - 1L)).sum
      val r4 = halfUp(s2 * 10000L, math.max(n * (n - 1L), 1L))
      (r4 / 500L, n, k)
    }.groupBy(_._1).toSeq.map { case (band, us) =>
      (band, us.size.toLong, us.map(_._2).sum, us.map(_._3).sum)
    }.sortBy(_._1)
    val got = EventUsers.userPredictability(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == expected)
    // bands live on the exact 0..20 grid
    assert(got.forall(b => b._1 >= 0L && b._1 <= 20L))
  }

  test("dpCounts: noise is the exact trailing-ones geometric difference, release clamps") {
    def h64Model(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def trailingOnes(h: Long): Int = java.lang.Long.numberOfTrailingZeros(~h)
    val cells = Dedup.eventsUs(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("ts_us div 86400000000L").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val expected = cells.map { case ((t, d), n) =>
      val noise = trailingOnes(h64Model(s"dp1|$t|$d")).toLong -
        trailingOnes(h64Model(s"dp2|$t|$d")).toLong
      (t, d, n, noise, math.max(n + noise, 0L))
    }.sortBy(r => (r._1, r._2))
    val got = graft.operators.Privacy.dpCounts(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == expected)
    // mechanism shape: released never negative; noise magnitudes stay
    // small (P(|z| > 20) < 2e-6 — a hit here means the bit kernel broke)
    assert(got.forall(r => r._5 >= 0L && math.abs(r._4) <= 20L))
  }

  test("peakConcurrency: matches the driver sweep over the sessionize output") {
    val sess = EventUsers.sessionize(spark, sf)
      .select("user_id", "session_idx", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pts = sess.flatMap { case (u, si, s, e) =>
      Seq((s, 1L, u, si), (e, -1L, u, si)) }
      .sortBy(p => (p._1, -p._2, p._3, p._4))
    var conc = 0L
    val expected = pts.map { p =>
      conc += p._2
      (p._1 / 86400000000L, conc, p._2)
    }.groupBy(_._1).toSeq.map { case (day, rows) =>
      (day, rows.map(_._2).max, rows.count(_._3 == 1L).toLong)
    }.sortBy(_._1)
    val got = EventSeries.peakConcurrency(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
    // the sweep must end balanced: every start has an end
    assert(conc == 0L)
  }

  test("percentileNormalize: exact within-source rank share, top doc at 1") {
    val keys = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        TextAnalysis.qualityKeyFromText(
          org.apache.spark.sql.functions.col("text")).as("qkey"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = keys.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      val sorted = ds.sortBy(d => (d._3, d._1))
      val n = sorted.size.toLong
      sorted.zipWithIndex.map { case ((id, src, q), i) =>
        (id, src, q, halfUp(i.toLong * 10000L, math.max(n - 1L, 1L)) / 1e4)
      }
    }.sortBy(_._1)
    val got = graft.operators.QualitySignals.percentileNormalize(spark, sf)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // every source's best doc normalizes to exactly 1, worst to 0
    got.groupBy(_._2).values.foreach { ds =>
      if (ds.size > 1) {
        assert(ds.map(_._4).max == 1.0)
        assert(ds.map(_._4).min == 0.0)
      }
    }
  }

  test("budgetAllocation: capped proportional split + one redistribution, exact") {
    import org.apache.spark.sql.functions.{col, size, sum, count, lit}
    val per = graft.Tables.documents(spark, sf)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"),
        TextAnalysis.qualityKeyFromText(col("text")).as("qk"))
      .groupBy("source")
      .agg(sum("n").as("a"), count(lit(1)).as("d"), sum("qk").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val budget = Pipeline.TokenBudget
    val w = per.map { case (src, a, d, s) => (src, a, halfUp(s, math.max(d, 1L))) }
    val wTotal = w.map(_._3).sum
    val p1 = w.map { case (src, a, wt) =>
      val target = halfUp(budget * wt, math.max(wTotal, 1L))
      (src, a, wt, target, math.min(a, target))
    }
    val leftover = math.max(budget - p1.map(_._5).sum, 0L)
    val wOpen = p1.filter(p => p._5 < p._2).map(_._3).sum
    val expected = p1.map { case (src, a, wt, target, alloc) =>
      val extra = if (alloc < a)
        math.min(a - alloc, halfUp(leftover * wt, math.max(wOpen, 1L))) else 0L
      val fin = alloc + extra
      (src, a, wt, target, fin,
        halfUp(fin * 10000L, math.max(a, 1L)) / 1e4,
        halfUp(fin * 10000L, budget) / 1e4)
    }.sortBy(_._1).toSeq
    val got = Pipeline.budgetAllocation(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got == expected)
    // allocation never exceeds availability or (within rounding) budget
    assert(got.forall(r => r._5 <= r._2))
    assert(got.map(_._5).sum <= budget + got.size) // per-source halfUp slack
  }

  test("q9: revenue per (nation, o_year) for the 'red' family, decimal-exact") {
    val partRed = graft.Tables.part(spark, sf)
      .collect().filter(_.getAs[String]("p_name").contains("red"))
      .map(_.getAs[Long]("p_partkey")).toSet
    val suppNation = {
      val nat = graft.Tables.nation(spark, sf).collect()
        .map(r => r.getAs[Long]("n_nationkey") -> r.getAs[String]("n_name")).toMap
      graft.Tables.supplier(spark, sf).collect()
        .map(r => r.getAs[Long]("s_suppkey") -> nat(r.getAs[Long]("s_nationkey"))).toMap
    }
    // year extraction normalized through Spark (the physical o_orderdate
    // encoding varies across data generations — date vs timestamp)
    val orderYear = graft.Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.year(
          org.apache.spark.sql.functions.col("o_orderdate")).cast("long").as("y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .collect()
    val acc = scala.collection.mutable.Map[(String, Long), JBD]()
    li.foreach { r =>
      if (partRed(r.getLong(1))) {
        val key = (suppNation(r.getLong(2)), orderYear(r.getLong(0)))
        val dp = new JBD(r.getDouble(3)).setScale(4, RoundingMode.HALF_UP)
          .multiply(JBD.ONE.subtract(
            new JBD(r.getDouble(4)).setScale(4, RoundingMode.HALF_UP)))
        acc(key) = acc.getOrElse(key, JBD.ZERO).add(dp)
      }
    }
    val expected = acc.toSeq.map { case ((nation, y), v) =>
      (nation, y, v.setScale(2, RoundingMode.HALF_UP).doubleValue)
    }.sortBy(r => (r._1, r._2))
    val got = Commerce.q9(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got == expected)
  }

  test("dpSums: clamped-contribution sum + sensitivity-scaled geometric noise") {
    def h64Model(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def trailingOnes(h: Long): Int = java.lang.Long.numberOfTrailingZeros(~h)
    val C = graft.operators.Privacy.ClampCents
    val rows = Dedup.eventsUs(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("ts_us div 86400000000L").as("d"),
        org.apache.spark.sql.functions.col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val expected = rows.groupBy(r => (r._1, r._2)).toSeq.map { case ((t, d), rs) =>
      val sumC = rs.map(r =>
        math.max(math.min(math.round(r._3 * 100), C), 0L)).sum
      val noise = trailingOnes(h64Model(s"dps1|$t|$d")).toLong -
        trailingOnes(h64Model(s"dps2|$t|$d")).toLong
      (t, d, rs.size.toLong, sumC, noise, math.max(sumC + C * noise, 0L))
    }.sortBy(r => (r._1, r._2))
    val got = graft.operators.Privacy.dpSums(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == expected)
    // releases clamp at 0 and the noise kernel stays in its tail bound
    assert(got.forall(r => r._6 >= 0L && math.abs(r._5) <= 20L))
    // dpSums draws DIFFERENT noise than dpCounts for the same cells
    // (distinct hash tags) — a shared stream would correlate releases
    val countNoise = graft.operators.Privacy.dpCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.exists(r => countNoise((r._1, r._2)) != r._5))
  }

  test("dowHourHeatmap: integer µs grid matches the driver model, dow 0=Monday") {
    val ev = Dedup.eventsUs(spark, sf)
      .select("ts_us", "user_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = ev.groupBy(e =>
        ((e._1 / 86400000000L + 3) % 7, (e._1 / 3600000000L) % 24))
      .toSeq.map { case ((dow, hour), rs) =>
        (dow, hour, rs.size.toLong, rs.map(_._2).distinct.size.toLong,
          rs.map(r => math.round(r._3 * 100)).sum)
      }.sortBy(r => (r._1, r._2))
    val got = EventSeries.dowHourHeatmap(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == expected)
    // grid coordinates live on the fixed 7×24 lattice
    assert(got.forall(r => r._1 >= 0 && r._1 < 7 && r._2 >= 0 && r._2 < 24))
  }

  test("rfmMigration: midpoint split + independent per-half quintiles, 0 = absent") {
    val ev = Dedup.eventsUs(spark, sf).select("user_id", "ts_us", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mn = ev.map(_._2).min
    val mid = mn + (ev.map(_._2).max - mn) / 2
    def segs(rows: Seq[(Long, Long, Double)]): Map[Long, Long] = {
      val per = rows.groupBy(_._1).toSeq.map { case (u, rs) =>
        (u, rs.map(r => math.round(r._3 * 100)).sum)
      }
      val n = per.size.toLong
      per.sortBy(p => (-p._2, p._1)).zipWithIndex.map { case ((u, _), i) =>
        u -> ((n - (i + 1L)) * 5L / n + 1L)
      }.toMap
    }
    val a = segs(ev.filter(_._2 < mid).toSeq)
    val b = segs(ev.filter(_._2 >= mid).toSeq)
    val expected = (a.keySet ++ b.keySet).toSeq
      .map(u => (a.getOrElse(u, 0L), b.getOrElse(u, 0L)))
      .groupBy(identity).map { case (k, us) => (k._1, k._2, us.size.toLong) }
      .toSeq.sortBy(r => (r._1, r._2))
    val got = EventUsers.rfmMigration(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
    // both churn and arrival flows exist on this corpus, and the matrix
    // stays on the 0..5 lattice
    assert(got.forall(r => r._1 >= 0 && r._1 <= 5 && r._2 >= 0 && r._2 <= 5))
  }

  test("cmAccuracy: estimate vs exact per probe, CM one-sided error holds") {
    def h64Model(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val W = Sketches.CmW
    val D = Sketches.CmD
    val docs = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("source"),
        TextAnalysis.tokens(org.apache.spark.sql.functions.col("text")).as("t"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val bySource = docs.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    val expected = bySource.keySet.toSeq.sorted.flatMap { src =>
      val terms = bySource(src)
      // independent CM replica: d rows of w counters
      val counters = Array.fill(D, W)(0L)
      terms.foreach { t =>
        (0 until D).foreach { i =>
          counters(i)((h64Model(s"cm$i:$t") % W).toInt) += 1L
        }
      }
      Sketches.CmProbes.sorted.map { p =>
        val est = (0 until D).map(i =>
          counters(i)((h64Model(s"cm$i:$p") % W).toInt)).min
        val exact = terms.count(_ == p).toLong
        (src, p, exact, est, est - exact,
          halfUp((est - exact) * 1000000L, math.max(exact, 1L)), est >= exact)
      }
    }
    val got = Sketches.sourceTermCmAccuracy(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(got == expected)
    // the CM guarantee: estimates never undercount, anywhere
    assert(got.forall(_._7))
  }

  test("rakeKeyphrases: fixed-point RAKE matches the driver model") {
    val stop = TextAnalysis.StopEn.toSet
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // candidate phrases per source: maximal stopword-free runs, len <= cap
    val phrases: Seq[(String, Seq[String])] = docs.toSeq.flatMap { case (src, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val runs = scala.collection.mutable.ListBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ListBuffer[String]()
      toks.foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) { runs += cur.toSeq; cur = scala.collection.mutable.ListBuffer() } }
        else cur += t
      }
      if (cur.nonEmpty) runs += cur.toSeq
      runs.toSeq.filter(_.size <= TextAnalysis.RakeMaxLen).map(src -> _)
    }
    val expected = phrases.groupBy(_._1).toSeq.flatMap { case (src, ps) =>
      val ws = ps.flatMap { case (_, words) => words.map(w => (w, words.size.toLong)) }
        .groupBy(_._1).map { case (w, occ) =>
          w -> halfUp(occ.map(_._2).sum * 10000L, occ.size.toLong)
        }
      val scored = ps.groupBy(_._2).toSeq.map { case (words, occ) =>
        (words.mkString(" "), occ.size.toLong, words.map(ws).sum)
      }
      scored.sortBy(p => (-p._3, p._1)).take(TextAnalysis.RakeTopK)
        .zipWithIndex.map { case ((phrase, n, s), i) =>
          (src, i + 1L, phrase, n, s, s / 1e4)
        }
    }.sortBy(r => (r._1, r._2))
    val got = TextAnalysis.rakeKeyphrases(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got == expected)
    // every source reports a full top-K (the corpus is dense enough)
    assert(got.groupBy(_._1).values.forall(_.size == TextAnalysis.RakeTopK))
  }

  test("sentenceQuantiles: positional interpolation matches the driver model") {
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val lens = docs.toSeq.flatMap { case (src, text) =>
      text.split("[.!?]+").toSeq
        .map(s => s.trim.split("\\s+").count(_.nonEmpty).toLong)
        .filter(_ > 0).map(src -> _)
    }
    def q(vs: Seq[Long], p: Double): Double = {
      val s = vs.sorted
      val pos = p * (s.size - 1)
      val lo = s(math.floor(pos).toInt).toDouble
      val hi = s(math.ceil(pos).toInt).toDouble
      lo + (pos - math.floor(pos)) * (hi - lo)
    }
    val expected = lens.groupBy(_._1).toSeq.map { case (src, rs) =>
      val vs = rs.map(_._2)
      (src, vs.size.toLong, q(vs, 0.25), q(vs, 0.5), q(vs, 0.75), q(vs, 0.9))
    }.sortBy(_._1)
    val got = graft.operators.QualitySignals.sentenceQuantiles(spark, sf)
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got == expected)
    // quantiles are ordered within every source
    assert(got.forall(r => r._3 <= r._4 && r._4 <= r._5 && r._5 <= r._6))
  }

  test("codeDetect: symbol-density bands match the exact ppm driver model") {
    val codeSet = ";{}()[]<>=#&|".toSet
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val perDoc = docs.map { case (src, text) =>
      val n = text.length.toLong
      val nCode = text.count(codeSet.contains).toLong
      (src, halfUp(nCode * 1000000L, math.max(n, 1L)))
    }
    val banded = perDoc.groupBy(d => (d._1, d._2 / 1000L)).toSeq
      .map { case ((src, band), rs) =>
        (src, band, rs.size.toLong, rs.map(_._2).max)
      }
    val totals = banded.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expected = banded.map { case (src, band, n, mx) =>
      (src, band, n, mx, halfUp(n * 10000L, math.max(totals(src), 1L)) / 1e4)
    }.sortBy(r => (r._1, r._2))
    val got = TextAnalysis.codeDetect(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got == expected)
    // per-source shares sum to ~1 (halfUp per-band rounding residue)
    got.groupBy(_._1).values.foreach { bs =>
      assert(math.abs(bs.map(_._5).sum - 1.0) < 0.01)
    }
  }

  test("symbolicMotifs: top-3 trigram shapes match a rank-symbolized driver model") {
    val ev = Dedup.eventsUs(spark, sf).select("event_type", "ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1) / EventSeries.HourUs))
      .toSeq
    val counts = ev.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val h0 = ev.map(_._2).min
    val h1 = ev.map(_._2).max
    val expected = ev.map(_._1).distinct.sorted.flatMap { t =>
      val grid = (h0 to h1).map(h => (h, counts.getOrElse((t, h), 0L)))
      val nh = grid.size.toLong
      val symOf = grid.sortBy { case (h, n) => (n, h) }.zipWithIndex
        .map { case ((h, _), i) => h -> (i.toLong * 4L) / nh }.toMap
      val syms = (h0 to h1).map(symOf)
      syms.sliding(3).filter(_.size == 3).map(_.mkString("")).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (m, n) => (-n, m) }.take(3).zipWithIndex
        .map { case ((m, n), i) => (t, (i + 1).toLong, m, n) }
    }
    val got = EventSeries.symbolicMotifs(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got == expected)
    // the alphabet is the exact rank-quartile set
    assert(got.nonEmpty && got.forall(_._3.forall(c => c >= '0' && c <= '3')))
  }

  test("dpQuantiles: dense-grid noised histogram + CDF inversion match the driver model") {
    val P = graft.operators.Privacy
    def h64Model(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def trailingOnes(h: Long): Int = java.lang.Long.numberOfTrailingZeros(~h)
    val ev = Dedup.eventsUs(spark, sf).select("event_type", "value")
      .collect().map(r => (r.getString(0),
        math.min(math.round(r.getDouble(1) * 100) / P.DpBandCents, P.DpMaxBand)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val byBand = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val released = (0L to P.DpMaxBand).map { b =>
        val noise = trailingOnes(h64Model(s"dpq1|$t|$b")).toLong -
          trailingOnes(h64Model(s"dpq2|$t|$b")).toLong
        b -> math.max(byBand.getOrElse(b, 0L) + noise, 0L)
      }
      val total = released.map(_._2).sum
      val cum = released.scanLeft((-1L, 0L)) { case ((_, c), (b, n)) => (b, c + n) }.tail
      P.DpQuantileTenths.flatMap { p10 =>
        if (total <= 0L) None
        else {
          val qb = cum.find { case (_, c) => c * 10L >= p10 * total }.get._1
          Some((t, p10, qb, qb * P.DpBandCents, total))
        }
      }
    }.sortBy(r => (r._1, r._2))
    val got = P.dpQuantiles(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == expected)
    // post-processing sanity: the released quantile band is monotone in p
    got.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._3) == sorted.map(_._3).sorted)
    }
  }
  test("dpError: family rollups match a driver replay of released-vs-true") {
    def rollup(errs: Seq[Long]): (Long, Double, Long, Double) = {
      val n = errs.size.toLong
      (n, halfUp(errs.map(math.abs).sum * 10000L, n) / 1e4,
        errs.map(math.abs).max, halfUp(errs.count(_ == 0L) * 10000L, n) / 1e4)
    }
    val cErr = Privacy.dpCounts(spark, sf).collect().toSeq
      .map(r => r.getLong(4) - r.getLong(2))
    val sErr = Privacy.dpSums(spark, sf).collect().toSeq
      .map(r => r.getLong(5) - r.getLong(3))
    // true quantiles re-derived from raw events in the driver
    val ev = Dedup.eventsUs(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        graft.functions.Hashing.valueCents(
          org.apache.spark.sql.functions.col("value")).as("cents"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val trueQ = ev.groupBy(_._1).flatMap { case (t, rows) =>
      val bands = rows.map(r => math.min(r._2 / Privacy.DpBandCents,
        Privacy.DpMaxBand)).groupBy(identity).view.mapValues(_.size.toLong)
      val total = rows.size.toLong
      Privacy.DpQuantileTenths.map { p10 =>
        val q = bands.keys.toSeq.sorted.scanLeft((Long.MinValue, 0L)) {
          case ((_, cum), b) => (b, cum + bands(b))
        }.tail.find { case (_, cum) => cum * 10L >= p10 * total }.get._1
        (t, p10) -> q * Privacy.DpBandCents
      }
    }.toMap
    val qErr = Privacy.dpQuantiles(spark, sf).collect().toSeq
      .map(r => r.getLong(3) - trueQ((r.getString(0), r.getLong(1))))
    val expected = Seq(
      ("count", rollup(cErr)), ("quantile_cents", rollup(qErr)),
      ("sum_cents", rollup(sErr))).sortBy(_._1)
      .map { case (f, (n, mae, mx, hit)) => (f, n, mae, mx, hit) }
    val got = Privacy.dpError(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
    assert(got == expected)
    // shares live on [0, 1]; the count release (smallest noise scale
    // relative to cell grain) lands exactly on the truth sometimes
    assert(got.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
    assert(got.find(_._1 == "count").exists(_._5 > 0.0))
  }

  test("revenueGini: sorted-rank Gini and top-decile share match a BigDecimal driver model") {
    import org.apache.spark.sql.functions.col
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(4),
        BigDecimal(r.getDouble(2)).setScale(4)))
    val ord = graft.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seg = graft.Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perCust = li.groupBy(l => ord(l._1)).map { case (cust, ls) =>
      val s = ls.map(l => l._2 * (BigDecimal(1).setScale(4) - l._3)).sum
      (seg(cust), cust) -> (s * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val expected = perCust.groupBy(_._1._1).toSeq.sortBy(_._1).map {
      case (segment, m) =>
        val vs = m.toSeq.map { case ((_, cust), c) => (c, cust) }.sorted
        val n = vs.size.toLong
        val sv = vs.map(_._1).sum
        val siv = vs.zipWithIndex.map { case ((c, _), i) =>
          BigInt(i + 1) * c
        }.sum
        val topv = vs.zipWithIndex.collect {
          case ((c, _), i) if (i + 1).toLong > 9 * n / 10 => c
        }.sum
        def halfUp(num: BigInt, den: BigInt): Long = ((num * 2 + den) / (den * 2)).toLong
        (segment, n, sv,
          halfUp((2 * siv - BigInt(n + 1) * sv) * 10000, BigInt(n) * sv) / 1e4,
          halfUp(BigInt(topv) * 10000, BigInt(sv)) / 1e4)
    }
    val got = Commerce.revenueGini(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got == expected)
    // Gini lives on [0, 1); the top decile holds at least its share
    assert(got.forall(r => r._4 >= 0.0 && r._4 < 1.0 && r._5 >= 0.0))
  }

}
