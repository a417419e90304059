package graft.operators

import graft.SparkSpec

/** Text, quality and event panels (TextAnalysis, QualitySignals,
  * Commerce, EventSeries, EventUsers) vs independent in-memory models
  * at sf0.001. */
class Analytics5Spec extends SparkSpec {

  private lazy val events: Seq[(Long, Long, Double)] =
    Dedup.eventsUs(spark, sf).select("ts_us", "user_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("seasonality matches an epoch hod×dow bucketing model") {
    val cells = events.groupBy { case (ts, _, _) =>
      ((ts / 86400000000L) % 7, (ts / 3600000000L) % 24)
    }.view.mapValues(_.size.toLong).toMap
    val dayTotals = cells.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val expected = cells.toSeq.map { case ((dow, hod), n) =>
      (dow, hod, n, ratio4Model(n, dayTotals(dow)))
    }.sortBy(r => (r._1, r._2))
    val got = EventSeries.seasonality(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // sparse grain: only populated cells appear (the sf0.001 corpus
    // leaves a cell or two empty); nearly the full 7×24 grid shows up
    assert(got.size >= 160 && got.size <= 168)
  }

  test("cohortRevenue matches a first-day cohort model in exact cents") {
    val ud = events.groupBy { case (ts, u, _) => (u, ts / 86400000000L) }
      .view.mapValues(_.map(e => math.round(e._3 * 100)).sum).toMap
    val cohort = ud.keys.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = ud.toSeq
      .map { case ((u, d), c) => (cohort(u), d - cohort(u), c) }
      .filter(_._2 <= 7)
      .groupBy { case (cd, off, _) => (cd, off) }
      .map { case ((cd, off), g) => (cd, off, g.size.toLong, g.map(_._3).sum) }
      .toSeq.sortBy(r => (r._1, r._2))
    val got = EventUsers.cohortRevenue(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == expected)
  }

  test("qualityHistogram buckets the exact quality key (recovered from quality())") {
    val scores = TextAnalysis.quality(spark, sf).collect()
      .map(r => math.round(r.getDouble(5) * 10000.0)) // exact int key back
    val expected = scores.groupBy(_ / 500).view.mapValues(_.length.toLong)
      .toSeq.sorted
    val got = QualitySignals.qualityHistogram(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got == expected)
    assert(got.map(_._2).sum == scores.length)
  }

  test("lengthQualityGrid matches a double-rank model; rows sum to 1") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        TextAnalysis.qualityKeyFromText(col("text")).as("qkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = docs.length.toLong
    val ldec = docs.sortBy(d => (d._2, d._1)).zipWithIndex
      .map { case (d, i) => d._1 -> (i.toLong * 10 / n + 1) }.toMap
    val qdec = docs.sortBy(d => (d._3, d._1)).zipWithIndex
      .map { case (d, i) => d._1 -> (i.toLong * 10 / n + 1) }.toMap
    val cells = docs.groupBy(d => (ldec(d._1), qdec(d._1)))
      .view.mapValues(_.length.toLong).toMap
    val rowTot = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = QualitySignals.lengthQualityGrid(spark, sf).collect()
    assert(got.length === cells.size)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) === cells(key), s"count at $key")
      assert(r.getDouble(3) ===
        ratio4Model(cells(key), rowTot(key._1)), s"share at $key")
    }
    // each length decile's shares sum to 1 (exactly, up to halfUp slack)
    got.groupBy(_.getLong(0)).foreach { case (l, rows) =>
      val s = rows.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) <= 0.001, s"row $l sums to $s")
    }
  }

  test("dedupSurvivorship conserves docs and matches the components drop set") {
    val got = QualitySignals.dedupSurvivorship(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(got.map(_.getLong(1)).sum === total)
    // dropped total equals the non-keeper count of the #42 grain
    // (whose own spec pins it against a driver model)
    val comp = MinHashLSH.nearDupComponents(spark, sf).collect()
    val nDropped = comp.count(r => r.getLong(0) != r.getLong(1)).toLong
    assert(nDropped > 0, "fixture corpus must contain near-dup groups")
    assert(got.map(_.getLong(2)).sum === nDropped)
    got.foreach { r =>
      assert(r.getDouble(3) === ratio4Model(r.getLong(2), r.getLong(1)))
      assert(r.getLong(0) >= 1 && r.getLong(0) <= 10)
    }
  }

  test("monthlyRevenue matches an exact-decimal calendar model") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_shipdate", "l_extendedprice", "l_discount").collect()
      .map { r =>
        val d = r.getAs[java.time.LocalDateTime](0)
        val price = new JBD(r.getDouble(1)).setScale(4, RoundingMode.HALF_UP)
        val disc = new JBD(r.getDouble(2)).setScale(4, RoundingMode.HALF_UP)
        ((d.getYear, d.getMonthValue), price.multiply(JBD.ONE.subtract(disc)))
      }
    val agg = rows.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, g.map(_._2).reduce(_ add _))
    }.toSeq.sortBy(_._1)
    val expected = agg.zip(new JBD(0) +: agg.map(_._2._2)).map {
      case (((y, m), (n, rev)), prev) =>
        (y, m, n,
          rev.setScale(2, RoundingMode.HALF_UP).doubleValue,
          rev.multiply(new JBD(100)).setScale(0, RoundingMode.HALF_UP).longValueExact -
            prev.multiply(new JBD(100)).setScale(0, RoundingMode.HALF_UP).longValueExact)
    }
    val got = Commerce.monthlyRevenue(spark, sf).collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got == expected)
  }

  test("readability counts terminator runs as sentence boundaries") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.map { case (id, t) =>
      val words = t.trim.split("\\s+").count(_.nonEmpty).toLong
      val runs = "[.!?]+".r.findAllIn(t).size.toLong
      val sents = math.max(runs, 1L)
      (id, words, sents, ratio4Model(words, sents))
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.readability(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // the OPERATOR's run-collapse expression on a controlled fixture
    val probe = Seq((1L, "Hi there!! Done. Or not..."), (2L, "no terminator here"))
      .toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        TextAnalysis.sentenceRuns(org.apache.spark.sql.functions.col("text")).as("runs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(probe == Map(1L -> 3L, 2L -> 0L))
  }
}
