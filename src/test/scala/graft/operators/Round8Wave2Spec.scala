package graft.operators

import graft.SparkSpec

/** Round-8 wave-2 panels vs independent in-memory models at sf0.001:
  * dedup_sorted_neighborhood, events_cusum_drift,
  * source_simpson_diversity, docs_dup_span_coverage,
  * ann_ivf_replicated.
  */
class Round8Wave2Spec extends SparkSpec {

  private lazy val docs: Seq[(Long, String, String)] =
    graft.Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  private lazy val events: Seq[(Long, String)] =
    Dedup.eventsUs(spark, sf).select("ts_us", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def toks(text: String): Seq[String] =
    text.trim.split("\\s+").filter(_.nonEmpty).toSeq

  private def normalized(text: String): String =
    text.replaceAll("\\s+", " ").trim.toLowerCase

  test("sortedNeighborhood matches the rank-window + exact-Jaccard model") {
    val keyed = docs.map(d => (d._1, normalized(d._3).take(Blocking.SnKeyLen)))
      .sortBy(d => (d._2, d._1))
    val ts = docs.map(d => d._1 -> toks(d._3).distinct.toSet).toMap
    val expected = (for {
      i <- keyed.indices
      k <- 1 until Blocking.SnWindow
      if i + k < keyed.size
    } yield {
      val d1 = keyed(i)._1; val d2 = keyed(i + k)._1
      val inter = (ts(d1) & ts(d2)).size.toLong
      val uni = ts(d1).size.toLong + ts(d2).size.toLong - inter
      (d1, d2, k.toLong, ratio4Model(inter, math.max(uni, 1L)))
    }).filter(_._4 >= Blocking.SnTau).sortBy(p => (p._1, p._2))
    val got = Blocking.sortedNeighborhood(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // candidate volume is linear by construction: accepted pairs can
    // never exceed N·(window−1)
    assert(got.size <= docs.size * (Blocking.SnWindow - 1))
  }

  test("snMultiKey equals the set algebra of the two keyed passes") {
    val ts = docs.map(d => d._1 -> toks(d._3).distinct.toSet).toMap
    def pass(key: String => String): Set[(Long, Long)] = {
      val keyed = docs.map(d => (d._1, key(normalized(d._3)))).sortBy(d => (d._2, d._1))
      (for {
        i <- keyed.indices
        k <- 1 until Blocking.SnWindow
        if i + k < keyed.size
      } yield {
        val d1 = keyed(i)._1; val d2 = keyed(i + k)._1
        val inter = (ts(d1) & ts(d2)).size.toLong
        val uni = ts(d1).size.toLong + ts(d2).size.toLong - inter
        (math.min(d1, d2), math.max(d1, d2),
          ratio4Model(inter, math.max(uni, 1L)))
      }).filter(_._3 >= Blocking.SnTau).map(p => (p._1, p._2)).toSet
    }
    val pre = pass(_.take(Blocking.SnKeyLen))
    val suf = pass(_.reverse.take(Blocking.SnKeyLen))
    val common = (pre & suf).size.toLong
    val r = Blocking.snMultiKey(spark, sf).collect().head
    assert(r.getLong(0) === pre.size.toLong)
    assert(r.getLong(1) === suf.size.toLong)
    assert(r.getLong(2) === common)
    assert(r.getLong(3) === (pre | suf).size.toLong)
    assert(r.getDouble(4) ===
      ratio4Model(suf.size - common, math.max(pre.size.toLong, 1L)))
    // the second pass must actually ADD pairs on this corpus (the
    // panel's reason to exist)
    assert(r.getLong(3) > r.getLong(0))
  }

  test("cusumDrift matches the recursive max(0, S+r) definition") {
    val byTh = events.groupBy { case (ts, et) => (et, ts / EventSeries.HourUs) }
      .view.mapValues(_.size.toLong).toMap
    val h0 = events.map(_._1 / EventSeries.HourUs).min
    val h1 = events.map(_._1 / EventSeries.HourUs).max
    val lam = EventSeries.CusumLambdaMeanHours
    val expected = events.map(_._2).distinct.sorted.map { et =>
      val hours = (h0 to h1).toSeq
      val series = hours.map(h => byTh.getOrElse((et, h), 0L))
      val nH = hours.size.toLong
      val tot = series.sum
      // the panel's closed form must equal the textbook recursion —
      // the model runs the RECURSION, not the closed form
      var sPos = 0L; var sNeg = 0L
      val states = series.map { n =>
        val r = n * nH - tot
        sPos = math.max(0L, sPos + r)
        sNeg = math.max(0L, sNeg - r)
        (sPos, sNeg)
      }
      val sMax = states.map(_._1).max
      val peak = hours(states.indexWhere(_._1 == sMax))
      val flagged = hours.zip(states).filter(_._2._1 > tot * lam)
      (et, nH, tot, sMax, peak, flagged.size.toLong,
        flagged.headOption.map(_._1), states.map(_._2).max)
    }
    val got = EventSeries.cusumDrift(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)), r.getLong(7)))
    assert(got == expected)
  }

  test("sourceSimpson matches the term-count model") {
    val expected = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, ds) =>
      val counts = ds.flatMap(d => toks(d._3)).groupBy(identity)
        .view.mapValues(_.size.toLong).values.toSeq
      val n = counts.sum
      val sumC2 = counts.map(c => c * (c - 1)).sum
      (src, n, counts.size.toLong,
        ratio4Model(sumC2, math.max(n * (n - 1), 1L)),
        ratio4Model(counts.max, math.max(n, 1L)),
        ratio4Model(counts.size.toLong, math.max(n, 1L)))
    }
    val got = CorpusStats.sourceSimpson(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got == expected)
  }

  test("dupSpanCoverage matches the interval-union model") {
    // per-doc covered length via brute-force position marking — the
    // straightforward O(tokens) model the islands merge must equal
    val posIndex = docs.flatMap { case (id, _, text) =>
      val t = toks(text)
      (0 to t.size - Spans.SpanN).map(p => (t.slice(p, p + Spans.SpanN).mkString(" "), id, p))
    }
    val crossDoc = posIndex.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1).keySet
    val coveredByDoc = posIndex.filter(p => crossDoc(p._1))
      .groupBy(_._2).view.mapValues { ps =>
        ps.flatMap(p => p._3 until (p._3 + Spans.SpanN)).distinct.size.toLong
      }.toMap
    val per = docs.map { case (id, src, text) =>
      val n = toks(text).size.toLong
      val cov = coveredByDoc.getOrElse(id, 0L)
      (src, cov * 10L / math.max(n, 1L), n, cov)
    }
    val expected = per.groupBy(p => (p._1, p._2)).toSeq
      .sortBy(_._1).map { case ((src, band), rows) =>
        val tot = rows.map(_._3).sum; val dup = rows.map(_._4).sum
        (src, band, rows.size.toLong, tot, dup, ratio4Model(dup, math.max(tot, 1L)))
      }
    val got = Spans.dupSpanCoverage(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got == expected)
  }

  test("autocorrelation matches the integer-residual ACF model") {
    val byTh = events.groupBy { case (ts, et) => (et, ts / EventSeries.HourUs) }
      .view.mapValues(_.size.toLong).toMap
    val h0 = events.map(_._1 / EventSeries.HourUs).min
    val h1 = events.map(_._1 / EventSeries.HourUs).max
    val expected = events.map(_._2).distinct.sorted.flatMap { et =>
      val series = (h0 to h1).map(h => byTh.getOrElse((et, h), 0L))
      val nH = series.size.toLong
      val m = (series.sum + nH / 2) / nH
      val r = series.map(_ - m)
      val den = r.map(x => x * x).sum
      (1 to EventSeries.MaxAcfLag).map { lag =>
        val pairs = r.dropRight(lag).zip(r.drop(lag))
        val num = pairs.map { case (a, b) => a * b }.sum
        (et, lag.toLong, pairs.size.toLong, num, den,
          num.toDouble / math.max(den, 1L).toDouble)
      }
    }
    val got = EventSeries.autocorrelation(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got == expected)
    // structural invariants, data-independent: |acf| ≤ 1 (Cauchy–Schwarz
    // on the truncated overlap) and each lag pairs exactly H−lag hours
    val nHours = h1 - h0 + 1
    got.foreach { case (et, lag, nPairs, _, _, acf) =>
      assert(math.abs(acf) <= 1.0, s"$et lag $lag acf $acf out of range")
      assert(nPairs == nHours - lag, s"$et lag $lag pairs $nPairs")
    }
  }

  test("dimStats matches the micro-unit moment model") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def u(x: Float, scale: Long): Long =
      new JBD(x.toDouble * scale).setScale(0, RoundingMode.HALF_UP).longValueExact()
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("embedding").collect().map(_.getSeq[Float](0)).toSeq
    val dims = vecs.head.size
    val expected = (0 until dims).map { d =>
      val u6 = vecs.map(v => u(v(d), 1000000L))
      val u3 = vecs.map(v => u(v(d), 1000L))
      (d.toLong, vecs.size.toLong, u6.sum, u6.min, u6.max,
        u6.count(_ == 0L).toLong,
        u6.sum.toDouble / vecs.size, u3.map(x => x * x).sum.toDouble / vecs.size)
    }
    val got = Similarity.dimStats(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    assert(got == expected)
  }

  test("basketPairs matches the exhaustive pair model") {
    val items = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    val nOrders = items.map(_._1).distinct.size.toLong
    val supp = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val byOrder = items.groupBy(_._1).values.map(_.map(_._2).sorted)
    val pairSupp = byOrder.toSeq
      .flatMap(ps => for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = pairSupp.toSeq
      .filter(_._2 >= Commerce.BasketMinSupport)
      .map { case ((p1, p2), s12) =>
        (p1, p2, s12, supp(p1), supp(p2),
          ratio4Model(s12 * nOrders, supp(p1) * supp(p2)))
      }.sortBy(p => (p._1, p._2))
    val got = Commerce.basketPairs(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got == expected)
    // independence sanity: lift is positive and supports bound the pair
    assert(got.forall(p => p._6 > 0 && p._3 <= math.min(p._4, p._5)))
  }

  test("dataset card matches the composed per-doc signal model") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def halfUp(num: Long, den: Long): Long = (num + den / 2) / den
    val stops = Seq(
      "en" -> TextAnalysis.StopEn, "de" -> TextAnalysis.StopDe,
      "es" -> TextAnalysis.StopEs, "fr" -> TextAnalysis.StopFr,
      "zh" -> TextAnalysis.StopZh)
    val wsSet = " \t\n\u000B\f\r".toSet
    val per = docs.map { case (_, src, text) =>
      val t = toks(text)
      val n = t.size.toLong
      val lenNoWs = text.count(!wsSet(_)).toLong
      val nStop = t.count(TextAnalysis.StopEn.contains).toLong
      val votes = stops.map { case (l, ws) => l -> t.count(ws.contains).toLong }
      val lang = if (votes.forall(_._2 == 0L)) "und"
        else votes.maxBy(v => (v._2, -stops.indexWhere(_._1 == v._1)))._1
      val qkey = math.min(n * 40L, 4000L) +
        (4000L - halfUp(nStop * 4000L, n)) +
        math.min(halfUp(lenNoWs * 250L, n), 2000L)
      (src, n, md5hex(text), lang, qkey)
    }
    val nDocs = per.size.toLong
    val nTokens = per.map(_._2).sum
    val nUnique = per.map(_._3).distinct.size.toLong
    val topDocs = per.groupBy(_._1).values.map(_.size.toLong).max
    val expected = Seq[(String, Option[Long], Option[Double])](
      ("dup_share4", None, Some(ratio4Model(nDocs - nUnique, nDocs))),
      ("en_share4", None, Some(ratio4Model(per.count(_._4 == "en"), nDocs))),
      ("mean_quality4", None, Some(halfUp(per.map(_._5).sum, nDocs) / 10000.0)),
      ("mean_tokens4", None, Some(ratio4Model(nTokens, nDocs))),
      ("n_docs", Some(nDocs), None),
      ("n_langs_pred", Some(per.map(_._4).distinct.size.toLong), None),
      ("n_short", None, None), // placeholder replaced below
      ("n_sources", Some(per.map(_._1).distinct.size.toLong), None),
      ("n_tokens", Some(nTokens), None),
      ("n_unique_texts", Some(nUnique), None),
      ("short_share4", None,
        Some(ratio4Model(per.count(_._2 < DatasetCard.ShortDocToks), nDocs))),
      ("top_source_docs", Some(topDocs), None),
      ("top_source_share4", None, Some(ratio4Model(topDocs, nDocs))))
      .filterNot(_._1 == "n_short").sortBy(_._1)
    val got = DatasetCard.card(spark, sf).collect().toSeq
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got == expected)
    // the DocPipeline terminal: a source-less frame reports one
    // pseudo-source and the same metric set
    val viaApi = graft.api.DocPipeline(
      graft.Tables.documents(spark, sf).select("doc_id", "text")).datasetCard
      .collect().map(r => r.getString(0) -> r).toMap
    assert(viaApi.size == 12 && viaApi("n_sources").getLong(1) == 1L)
    assert(viaApi("n_docs").getLong(1) == nDocs)
  }

  test("graphTriangles matches the brute-force triangle census") {
    val edges = MinHashLSH.nearDupPairs(spark, sf).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    def isEdge(a: Long, b: Long) =
      edges((math.min(a, b), math.max(a, b)))
    val nodes = adj.keys.toSeq.sorted
    val expected = nodes.map { n =>
      val nb = adj(n).toSeq.sorted
      val tri = (for (i <- nb.indices; j <- i + 1 until nb.size
                      if isEdge(nb(i), nb(j))) yield 1).size.toLong
      val d = nb.size.toLong
      (n, d, tri, ratio4Model(2L * tri, math.max(d * (d - 1L), 1L)))
    }
    val got = MinHashLSH.graphTriangles(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // handshake invariant: total triangle incidences divide by 3
    assert(got.map(_._3).sum % 3 == 0)
  }

  test("blockingAgreement equals the set algebra of its two pair sets") {
    val mh = MinHashLSH.nearDupPairs(spark, sf).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sn = Blocking.sortedNeighborhood(spark, sf)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val common = (mh & sn).size.toLong
    val got = Blocking.blockingAgreement(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      (mh.size.toLong, sn.size.toLong, common))
    assert(got.getDouble(3) ==
      ratio4Model(common, math.max(mh.size.toLong, 1L)))
    assert(got.getDouble(4) ==
      ratio4Model(common, math.max(sn.size.toLong, 1L)))
  }

  test("degenerate inputs: singleton corpus, dup-free spans, one-hour series") {
    import spark.implicits._
    // a single document has no neighborhood → zero pairs, no errors
    val one = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Blocking.sortedNeighborhoodOf(one).count() == 0L)
    // identical docs sort adjacent → every in-window pair accepted at 1.0
    val same = Seq.tabulate(3)(i => (i.toLong, "same tokens here please"))
      .toDF("doc_id", "text")
    val pairs = Blocking.sortedNeighborhoodOf(same).collect()
    assert(pairs.length == 3 && pairs.forall(_.getDouble(3) == 1.0))
    // no cross-doc trigram → all docs in band 0 with zero covered tokens
    val disjoint = Seq((1L, "s", "a b c d"), (2L, "s", "e f g h"))
      .toDF("doc_id", "source", "text")
    val cov = Spans.dupSpanCoverageOf(disjoint).collect()
    assert(cov.length == 1 && cov.head.getLong(1) == 0L &&
      cov.head.getLong(4) == 0L)
    // two identical docs → fully covered, band 10, share 1.0
    val twin = Seq((1L, "s", "a b c d"), (2L, "s", "a b c d"))
      .toDF("doc_id", "source", "text")
    val cov2 = Spans.dupSpanCoverageOf(twin).collect()
    assert(cov2.length == 1 && cov2.head.getLong(1) == 10L &&
      cov2.head.getDouble(5) == 1.0)
    // a one-hour series: residual exactly 0, no excursion, no flags
    val oneHour = Seq(("t", 5L, 7L)).toDF("event_type", "hour", "n")
    val row = EventSeries.cusumOfCounts(oneHour).collect().head
    assert(row.getLong(3) == 0L && row.getLong(5) == 0L && row.isNullAt(6))
  }

  test("ivfReplicatedTopK never loses recall vs the same-quantizer nprobe-1 IVF") {
    val brute = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val repl = Similarity.ivfReplicatedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val plain1 = Similarity.ivfKmeansTopK(spark, sf, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // the replicated index's candidate set per query is a SUPERSET of
    // the plain nprobe-1 candidate set (same trained centroids), and a
    // true global-top-k candidate can only be displaced by another
    // global-top-k candidate — so per-query hits are monotone
    val hitsRepl = (repl & brute).size
    val hitsPlain = (plain1 & brute).size
    assert(hitsRepl >= hitsPlain,
      s"replication lost recall: $hitsRepl < $hitsPlain")
    assert(repl.size == brute.size) // full top-5 per query emitted
  }
}
