package graft.operators

import graft.SparkSpec

/** Round-8 panels vs independent in-memory models at sf0.001:
  * privacy_k_anonymity, events_forecast_error, corpus_snapshot_diff,
  * pipeline_shard_plan, source_divergence.
  */
class Round8PanelsSpec extends SparkSpec {

  private lazy val events: Seq[(Long, String, Double)] =
    Dedup.eventsUs(spark, sf).select("ts_us", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  private lazy val docs: Seq[(Long, String, String)] =
    graft.Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private def toks(text: String): Seq[String] =
    text.trim.split("\\s+").filter(_.nonEmpty).toSeq

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def halfUp(num: Long, den: Long): Long = (num + den / 2) / den

  test("kAnonymity matches the QI class-size model") {
    val classes = events.groupBy { case (ts, et, v) =>
      (et, ts / EventSeries.DayUs, math.round(v * 100) / Privacy.SpendBandCents)
    }.values.map(_.size.toLong).toSeq
    def rank(k: Long): Long =
      Privacy.KBuckets.find(k < _._3).map(_._1).getOrElse(Privacy.KBuckets.length + 1L)
    val cells = classes.groupBy(rank).view
      .mapValues(ks => (ks.size.toLong, ks.sum)).toMap
    val t = classes.sum
    var cum = 0L
    val expected = cells.toSeq.sortBy(_._1).map { case (r, (nc, nr)) =>
      cum += nr
      (r, nc, nr, ratio4Model(nr, t), ratio4Model(cum, t))
    }
    val got = Privacy.kAnonymity(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(got == expected)
    // every event row lands in exactly one class
    assert(cells.values.map(_._2).sum == events.size.toLong)
  }

  test("forecastError matches a dense seasonal-naive backtest model") {
    val byTh = events.groupBy { case (ts, et, _) => (et, ts / EventSeries.HourUs) }
      .view.mapValues(_.size.toLong).toMap
    val h0 = events.map(_._1 / EventSeries.HourUs).min
    val h1 = events.map(_._1 / EventSeries.HourUs).max
    val expected = events.map(_._2).distinct.sorted.map { et =>
      val series = (h0 to h1).map(h => byTh.getOrElse((et, h), 0L))
      val eval = (24 until series.size).map(i =>
        (series(i), (series(i) - series(i - 24)).abs, (series(i) - series(i - 1)).abs))
      val (tot, saeS, saeN) = (eval.map(_._1).sum, eval.map(_._2).sum, eval.map(_._3).sum)
      (et, eval.size.toLong, tot, saeS, saeN,
        ratio4Model(saeS, eval.size.toLong), ratio4Model(saeS, math.max(saeN, 1L)))
    }
    val got = EventSeries.forecastError(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got == expected)
  }

  test("snapshotDiff matches the membership × digest model") {
    val v1 = docs.filter(_._1 % 3 != 0).map(d => d._1 -> (d._2, md5hex(d._3))).toMap
    val v2 = docs.filter(_._1 % 5 != 2)
      .map(d => d._1 -> (d._2, md5hex(if (d._1 % 7 == 0) d._3 + " v2" else d._3))).toMap
    val cls = (v1.keySet ++ v2.keySet).toSeq.map { id =>
      val src = v1.get(id).orElse(v2.get(id)).get._1
      val c =
        if (!v1.contains(id)) "added"
        else if (!v2.contains(id)) "removed"
        else if (v1(id)._2 != v2(id)._2) "changed"
        else "unchanged"
      (src, c)
    }
    val perSource = cls.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = cls.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((s, c), n) => (s, c, n, ratio4Model(n, perSource(s))) }
      .sortBy(r => (r._1, r._2))
    val got = Snapshot.snapshotDiff(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // the mod-7 edit only touches docs present in both snapshots
    assert(got.filter(_._2 == "changed").map(_._3).sum ==
      (v1.keySet & v2.keySet).count(id => id % 7 == 0))
  }

  test("shardPlan matches the serpentine deal model and balances tokens") {
    val s = Pipeline.NumShards
    val perDoc = docs.map(d => (d._1, toks(d._3).size.toLong))
    val ranked = perDoc.sortBy { case (id, n) => (-n, id) }.zipWithIndex
    val dealt = ranked.map { case ((_, n), i) =>
      val (block, pos) = (i / s, i % s)
      (if (block % 2 == 0) pos.toLong else (s - 1 - pos).toLong, n)
    }
    val g = perDoc.map(_._2).sum
    val expected = dealt.groupBy(_._1).toSeq.sortBy(_._1).map { case (sh, rows) =>
      val tok = rows.map(_._2).sum
      (sh, rows.size.toLong, tok, rows.map(_._2).max,
        ratio4Model(tok, g), ratio4Model(tok * s, g))
    }
    val got = Pipeline.shardPlan(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got == expected)
    // serpentine deal keeps every shard within 10% of the even split
    assert(got.forall(r => r._6 > 0.9 && r._6 < 1.1))
  }

  private lazy val vecs: Seq[(Long, Array[Float])] =
    graft.Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  /** Left-fold double cosine — the library's exact accumulation order. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var (ab, aa, bb) = (0.0, 0.0, 0.0)
    for (i <- a.indices) {
      ab += a(i).toDouble * b(i).toDouble
      aa += a(i).toDouble * a(i).toDouble
      bb += b(i).toDouble * b(i).toDouble
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  test("kcenterSample matches the exact greedy farthest-point model") {
    val byId = vecs.toMap
    var chosen = Vector(vecs.map(_._1).min)
    var trace = Vector[(Long, Long, Option[Double])]((1L, chosen.head, None))
    for (r <- 2 to Similarity.KCenterK) {
      val (id, mc) = vecs.filterNot(v => chosen.contains(v._1))
        .map { case (id, e) => (id, chosen.map(c => cos(e, byId(c))).max) }
        .minBy { case (id, mc) => (mc, id) }
      chosen :+= id
      trace :+= ((r.toLong, id, Some(mc)))
    }
    val got = Similarity.kcenterSample(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got == trace)
    // the coverage radius only shrinks: far_cos is non-decreasing
    val fc = got.flatMap(_._3)
    assert(fc == fc.sorted)
  }

  test("rangeSearch returns only true neighbors (no false positives)") {
    val got = Similarity.rangeSearch(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = vecs.toMap
    assert(got.nonEmpty)
    assert(got.forall { case (q, v, c) =>
      q < Similarity.NumQueries && v != q &&
        c >= Similarity.RangeTau && c == cos(byId(q), byId(v))
    })
    // subset of the exhaustive threshold scan (LSH bounds recall, never
    // precision)
    val brute = (for {
      (q, qe) <- vecs if q < Similarity.NumQueries
      (v, ve) <- vecs if v != q && cos(qe, ve) >= Similarity.RangeTau
    } yield (q, v)).toSet
    assert(got.forall(r => brute.contains((r._1, r._2))))
  }

  test("semanticContamination flags only true eval neighbors, never eval rows") {
    val got = Similarity.semanticContamination(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byId = vecs.toMap
    val evalIds = vecs.map(_._1).filter(_ % Similarity.EvalMod == 0)
    assert(got.nonEmpty)
    assert(got.forall(_._1 % Similarity.EvalMod != 0), "eval rows never flag")
    // exhaustive screen: every flagged vector's stats must be consistent
    // with SOME subset of its true eval neighbors (LSH bounds recall,
    // never precision), and the reported nearest must be a true neighbor
    val trueNbrs: Map[Long, Seq[(Long, Double)]] = got.map(_._1).distinct.map { v =>
      v -> evalIds.map(e => (e, cos(byId(v), byId(e))))
        .filter(_._2 >= Similarity.RangeTau)
    }.toMap
    assert(got.forall { case (v, nHits, maxCos, nearest) =>
      val nbrs = trueNbrs(v)
      nHits <= nbrs.size && nbrs.exists { case (e, c) => e == nearest && c == maxCos }
    })
  }

  test("prototypicality bands are exact deviations from cluster means") {
    val got = Similarity.prototypicality(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.size == vecs.size)
    // recompute each cluster's halfUp mean from the export itself
    val means = got.groupBy(_._2).view.mapValues { rows =>
      val n = rows.size.toLong
      (rows.map(_._3).sum + n * 1000000L + n / 2) / n - 1000000L
    }.toMap
    assert(got.forall { case (_, cl, cu, dev, band) =>
      dev == cu - means(cl) && band == (
        if (dev >= 0L) "core"
        else if (dev >= -100000L) "typical"
        else if (dev >= -250000L) "fringe"
        else "outlier")
    })
    // assignment agrees with the oracle-pinned clusterKmeans export
    val km = Similarity.clusterKmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall { case (id, cl, _, _, _) => km(id) == cl })
  }

  test("degenerate inputs: identical snapshots, empty privacy frame, k=1 gate") {
    import org.apache.spark.sql.functions.col
    // identical snapshots → every doc 'unchanged', shares 1.0
    val d = graft.Tables.documents(spark, sf).select("doc_id", "source", "text")
    val same = Snapshot.snapshotDiffOf(d, d).collect()
    assert(same.forall(r => r.getString(1) == "unchanged" && r.getDouble(3) == 1.0))
    assert(same.map(_.getLong(2)).sum == d.count())
    // empty events frame → empty k-anonymity panel, no division errors
    assert(Privacy.kAnonymityOf(
      Dedup.eventsUs(spark, sf).filter(col("event_id") < 0)).count() == 0L)
  }

  test("sourceDivergence matches the per-million TVD model") {
    val tk = docs.flatMap(d => toks(d._3).map((d._2, _)))
    val st = tk.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals = tk.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val vocab = st.toSeq.map { case ((_, t), c) => (t, c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (t, gc) => (-gc, t) }.take(CorpusStats.DivVocab).map(_._1)
    val densePer: Map[String, Seq[Long]] = totals.keys.map { s =>
      val p6 = vocab.map(t => halfUp(st.getOrElse((s, t), 0L) * 1000000L, totals(s)))
      s -> (p6 :+ math.max(1000000L - p6.sum, 0L))
    }.toMap
    val srcs = totals.keys.toSeq.sorted
    val expected = for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val l1 = densePer(a).zip(densePer(b)).map { case (x, y) => (x - y).abs }.sum
      (a, b, l1, halfUp(l1 * 10000L, 2000000L) / 10000.0)
    }
    val got = CorpusStats.sourceDivergence(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    assert(got.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
  }
}
