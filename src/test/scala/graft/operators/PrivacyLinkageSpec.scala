package graft.operators

import graft.SparkSpec

/** t-closeness EMD arithmetic on a hand-computed fixture, and the
  * Fellegi–Sunter calibration's structural invariants on the real
  * sf0.001 corpus. */
class PrivacyLinkageSpec extends SparkSpec {

  test("tClosenessOf reproduces the hand-computed EMD fixture") {
    import spark.implicits._
    val day = EventSeries.DayUs
    // bands via value: 5.0 → band 0, 15.0 → band 1, 25.0 → band 2
    def rows(tpe: String, vs: Double*) = vs.map(v => (tpe, day + 1L, v))
    val ev = (rows("a", 5.0, 5.0, 15.0, 15.0) ++
      rows("b", 25.0, 25.0, 25.0, 25.0) ++
      rows("c", 5.0, 15.0, 25.0, 25.0)).toDF("event_type", "ts_us", "value")
    val got = Privacy.tClosenessOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // global: bands (3,3,6)/12 → cum ppm 250000, 500000, 1000000
    // class a (2,2,0)/4 → cum 500000, 1000000, 1000000 → EMD 750000/2
    // class b (0,0,4)/4 → cum 0, 0, 1000000        → EMD 750000/2
    // class c (1,1,2)/4 → matches global exactly    → t = 0
    assert(got.toSeq === Seq(
      ("a", 4L, 3L, 375000L),
      ("b", 4L, 3L, 375000L),
      ("c", 4L, 3L, 0L)))
  }

  test("a class mirroring the global distribution scores t = 0") {
    import spark.implicits._
    val ev = Seq(("x", 10L, 5.0), ("x", 10L, 15.0),
      ("y", 10L, 5.0), ("y", 10L, 15.0)).toDF("event_type", "ts_us", "value")
    val ts = Privacy.tClosenessOf(ev).collect()
    assert(ts.forall(_.getLong(4) === 0L))
  }

  test("generalizationLadder: hand fixture + monotone coarsening invariants") {
    import spark.implicits._
    val day = EventSeries.DayUs
    // type "a", day 0: 6 rows in band 0 (k=6 survives everywhere);
    // type "b": 2 rows band 0 day 0, 2 rows band 4 day 1, 1 row band 10
    // day 8 — at (day, $10) all three b-classes are k<5; at (week, $50)
    // the first two merge to k=4 (still suppressed), the day-8 row
    // stays its own week AND its own $100 cell
    val ev = (Seq.fill(6)(("a", 1L, 5.0)) ++
      Seq(("b", 1L, 5.0), ("b", 2L, 5.0),
        ("b", day + 1L, 45.0), ("b", day + 2L, 45.0),
        ("b", 8 * day + 1L, 105.0)))
      .toDF("event_type", "ts_us", "value")
    val got = Privacy.generalizationLadderOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    assert(got.size === Privacy.GenTimeLadder.size * Privacy.GenBandLadder.size)
    // finest rung: classes a0 (k=6) + b's three (2,2,1) → 3 suppressed
    assert(got(("day", 1000L)) === ((4L, 11L, 3L, 5L, 0.4545)))
    // (week, $50): b's day-0/1 $0-50 cells merge to k=4 — still short
    assert(got(("week", 5000L)) === ((3L, 11L, 2L, 5L, 0.4545)))
    // rows are conserved on every rung; suppression never increases
    // when ONLY one axis coarsens (cells are unions of finer cells)
    got.values.foreach { case (_, rows, _, _, _) => assert(rows === 11L) }
    for (bw <- Privacy.GenBandLadder)
      assert(got(("week", bw))._4 <= got(("day", bw))._4, s"band $bw")
    for ((tg, _) <- Privacy.GenTimeLadder) {
      assert(got((tg, 5000L))._4 <= got((tg, 1000L))._4, tg)
      assert(got((tg, 10000L))._4 <= got((tg, 5000L))._4, tg)
    }
  }

  test("releaseReport composes the triad: verdicts reconcile with the members") {
    val t = Privacy.tCloseness(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(4)))
      .toMap
    val l = Dedup.eventsUs(spark, sf)
      .select("event_type", "ts_us", "user_id").collect()
      .map(r => ((r.getString(0), r.getLong(1) / EventSeries.DayUs), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val got = Privacy.releaseReport(spark, sf).collect()
    assert(got.length === t.size)
    got.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val (k, tppm) = t(key)
      assert(r.getLong(2) === k && r.getLong(4) === tppm, s"$key k/t")
      assert(r.getLong(3) === l(key), s"$key l")
      assert(r.getBoolean(5) === (k >= Privacy.GenKThreshold))
      assert(r.getBoolean(6) === (r.getLong(3) >= Privacy.ReleaseL))
      assert(r.getBoolean(7) === (tppm <= Privacy.ReleaseTppm))
      assert(r.getBoolean(8) ===
        (r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7)))
    }
  }

  test("applyRelease: suppression bites and the released sums are exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val day = EventSeries.DayUs
    // class "big": k=6 distinct users, uniform band mix (t=0) → releasable
    // class "small": k=2 (fails k AND l) → suppressed
    val ev = ((1 to 6).map(u => ("big", day + u, u.toLong, 5.0 + (u % 3) * 10)) ++
      Seq(("small", day + 1L, 100L, 5.0), ("small", day + 2L, 101L, 15.0)))
      .toDF("event_type", "ts_us", "user_id", "value")
    val rep = Privacy.releaseReportOf(ev).collect()
      .map(r => r.getString(0) -> r.getBoolean(8)).toMap
    val got = Privacy.applyReleaseOf(ev).collect()
    // the extract contains exactly the releasable classes
    assert(got.map(_.getString(0)).toSet === rep.filter(_._2).keySet)
    assert(!got.map(_.getString(0)).contains("small"), "suppressed class leaked")
    got.filter(_.getString(0) == "big").foreach { r =>
      assert(r.getLong(2) === 6L) // k
      assert(r.getLong(3) === 6L) // l
      // exact cents: 6 values of 5/15/25 dollars, 2 each
      assert(r.getLong(4) === 2L * (500L + 1500L + 2500L))
    }
    // on the real corpus the extract is the releasable subset of #292
    val repReal = Privacy.releaseReport(spark, sf).collect()
      .count(_.getBoolean(8))
    assert(Privacy.applyRelease(spark, sf).count() === repReal.toLong)
  }

  test("fsWeights: one row per signal, consistent pair algebra") {
    val rows = Linkage.fsWeights(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("same_lang", "same_len_band", "same_prefix", "same_source"))
    val n = graft.Tables.documents(spark, sf).count()
    val allPairs = n * (n - 1) / 2
    val matchPairs = MinHashLSH.nearDupPairs(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) === matchPairs) // every signal scores every match pair
      assert(r.getLong(1) + r.getLong(4) === allPairs)
      assert(r.getLong(2) <= r.getLong(1)) // agreements bounded by pairs
      assert(r.getLong(5) >= 0L) // marginal subtraction never negative
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
      assert(r.getLong(6) >= 0L && r.getLong(6) <= 1000000L)
    }
    // discriminative signals: near-dups agree on prefix/len-band far
    // more often than random pairs do (the whole point of the weights)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("same_prefix").getLong(3) > byName("same_prefix").getLong(6))
    assert(byName("same_len_band").getLong(3) > byName("same_len_band").getLong(6))
    assert(byName("same_prefix").getDouble(7) >= byName("same_lang").getDouble(7))
  }

  test("scorePairs: exact agreement-weight sums and gate consistency") {
    import graft.Partitioning._
    import org.apache.spark.sql.functions._
    // driver model of the calibration: weight = halfUp(m_ppm·1e4 / u_ppm)
    val w = Linkage.fsWeights(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(3) * 10000L + math.max(r.getLong(6), 1L) / 2) /
          math.max(r.getLong(6), 1L))).toMap
    val total = w.values.sum
    // driver model of the signals
    val sig = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "n_chars", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        Math.floorDiv(r.getLong(3), Linkage.LenBandChars),
        r.getString(4).trim.toLowerCase.take(Linkage.PrefixChars)))).toMap
    val got = Linkage.scorePairs(spark, sf).collect()
    assert(got.nonEmpty)
    // candidate universe = canonicalized SN ∪ LSH candidate sets
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").spread
    val snSet = Blocking.snCandidatesOf(docs)
      .select(least(col("d1"), col("d2")), greatest(col("d1"), col("d2")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSet = MinHashLSH.candidateJaccard(docs)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === (snSet ++ lshSet))
    // verified matches (both families' own gates) drive is_match
    val lshOk = MinHashLSH.nearDupPairs(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val snOk = Blocking.sortedNeighborhood(spark, sf)
      .select(least(col("d1"), col("d2")), greatest(col("d1"), col("d2")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { r =>
      val pair = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) === (if (lshSet(pair)) 1L else 0L), s"$pair in_lsh")
      assert(r.getLong(3) === (if (snSet(pair)) 1L else 0L), s"$pair in_sn")
      val (s1, s2) = (sig(pair._1), sig(pair._2))
      val want =
        (if (s1._1 == s2._1) w("same_source") else 0L) +
          (if (s1._2 == s2._2) w("same_lang") else 0L) +
          (if (s1._3 == s2._3) w("same_len_band") else 0L) +
          (if (s1._4 == s2._4) w("same_prefix") else 0L)
      assert(r.getLong(4) === want, s"$pair score")
      assert(r.getBoolean(5) ===
        (r.getLong(4) * Linkage.ScoreAcceptNum >= total), s"$pair accept")
      assert(r.getBoolean(6) === (lshOk(pair) || snOk(pair)), s"$pair is_match")
    }
    // the rule must actually discriminate on this corpus: matches
    // accept at a higher rate than non-matches
    val (m, nm) = got.partition(_.getBoolean(6))
    def rate(rs: Array[org.apache.spark.sql.Row]) =
      rs.count(_.getBoolean(5)).toDouble / math.max(rs.length, 1)
    assert(rate(m) > rate(nm), s"accept rates: match=${rate(m)} non=${rate(nm)}")
  }

  test("star contraction equals label propagation on the near-dup graph") {
    val pairs = MinHashLSH.nearDupPairs(spark, sf).select("d1", "d2")
    val star = MinHashLSH.componentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = MinHashLSH.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star === prop)
  }

  test("star contraction closes a 300-node chain (the label-prop worst case)") {
    import spark.implicits._
    // path graph with ids shuffled so the min is mid-chain: worst case
    // for one-hop propagation, closed by star contraction in O(log²)
    val ids = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle((0L until 300L).toVector)
    val chain = ids.sliding(2).map(w => (w(0), w(1))).toSeq
    val comp = MinHashLSH.componentsStar(chain.toDF("d1", "d2")).collect()
    assert(comp.length === 300)
    assert(comp.map(_.getLong(1)).toSet === Set(0L))
  }

  test("componentsAuto: label-prop answer on cluster graphs, star answer on chains") {
    import spark.implicits._
    // clustered shape (the common case): auto == label-prop == star
    val pairs = MinHashLSH.nearDupPairs(spark, sf).select("d1", "d2")
    val auto = MinHashLSH.componentsAuto(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = MinHashLSH.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === prop)
    // chain shape (the pathological case the budget exists for): the
    // bounded label-prop attempt cannot close a 300-node path in
    // LabelPropMaxRounds, so auto falls back to star — same labels
    val ids = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle((0L until 300L).toVector)
    val chain = ids.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("d1", "d2")
    val autoChain = MinHashLSH.componentsAuto(chain).collect()
    assert(autoChain.length === 300)
    assert(autoChain.map(_.getLong(1)).toSet === Set(0L))
  }

  test("verified pair frames are session-memoized per parameterization") {
    val a = MinHashLSH.nearDupPairs(spark, sf)
    val b = MinHashLSH.nearDupPairs(spark, sf)
    assert(a eq b) // same checkpointed frame, not a rebuilt pipeline
    val c = MinHashLSH.nearDupPairs(spark, sf, tau = 0.7)
    assert(!(a eq c)) // tau participates in the key
    val e1 = Similarity.nearDupPairs(spark, sf)
    val e2 = Similarity.nearDupPairs(spark, sf)
    assert(e1 eq e2)
  }
}
