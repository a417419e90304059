package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized (deterministically seeded) model checks: the operators'
  * semantics hold on adversarial random inputs, not just on the
  * well-behaved test corpus. */
class RandomizedModelSpec extends SparkSpec {

  private def obliviousModel(rows: Seq[(Long, Long)], windowUs: Long): Set[Long] = {
    val kept = Seq.newBuilder[Long]
    var last = Long.MinValue
    var first = true
    rows.foreach { case (id, ts) =>
      if (first || ts >= last + windowUs) { kept += id; last = ts; first = false }
    }
    kept.result().toSet
  }

  test("chain equals the ObliviousSet model on random collision-heavy streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rndLate = new scala.util.Random(43) // leaves rnd's streams as they were
    for (trial <- 1 to 5) {
      val windowUs = 1L + rnd.nextInt(1000)
      // few digests + tight timestamps → dense duplicate chains
      val dense = (0 until 400).map { i =>
        (i.toLong, rnd.nextInt(3000).toLong, 0L, "t", 0.0, "{}",
          rnd.nextInt(8).toLong)
      }
      // two digests first seen in the last third: a null floor there
      val late = (400 until 440).map { i =>
        (i.toLong, 2000L + rndLate.nextInt(1000), 0L, "t", 0.0, "{}", 8L + rndLate.nextInt(2))
      }
      val rows = dense ++ late
      val df = rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
      val gotNative = Dedup.chainNative(df, windowUs).select("event_id")
        .collect().map(_.getLong(0)).toSet
      // the incremental fold over a time-ordered 3-way split
      val cuts = Seq(0L, 1000L, 2000L, Long.MaxValue)
      var state = Seq.empty[(Long, Long)].toDF("digest", "last_kept_us")
      val gotFold = cuts.zip(cuts.tail).map { case (lo, hi) =>
        val (kept, s) = IncrementalDedup.processBatch(state,
          df.filter(col("ts_us") >= lo && col("ts_us") < hi), windowUs)
        state = s.localCheckpoint(true)
        kept.select("event_id").collect().map(_.getLong(0)).toSet
      }.reduce(_ ++ _)
      val want = rows.groupBy(_._7).values.flatMap { rs =>
        obliviousModel(rs.map(r => (r._1, r._2)).sortBy { case (id, ts) => (ts, id) }
          .map { case (id, ts) => (id, ts) }, windowUs)
      }.toSet
      assert(gotNative === want, s"native, trial $trial window $windowUs")
      assert(gotFold === want, s"incremental fold, trial $trial window $windowUs")
    }
  }

  test("canonical digest is invariant under property-bag key order") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val keys = Seq("alpha", "beta", "gamma", "delta", "eps")
    for (_ <- 1 to 10) {
      val bag = keys.filter(_ => rnd.nextBoolean()).map(k => k -> rnd.nextInt(100).toString)
      val orderings = Seq(bag, bag.reverse, rnd.shuffle(bag))
      val jsons = orderings.map(o =>
        o.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"))
      val digests = jsons.toDF("props")
        .select(graft.functions.Hashing.eventDigest(
          lit(1L), lit("t"), lit(0.0), col("props")).as("d"))
        .collect().map(_.getLong(0)).toSet
      assert(digests.size === 1, s"orderings of $bag must hash alike")
    }
  }

  test("generic asOf matches the brute-force model on random keyed series") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val left = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    val right = (0 until 80).map(i =>
      (1000L + i, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val got = AsOfJoin.asOf(
        left.toDF("lid", "k", "t"),
        right.toDF("rid", "k", "t", "rv"),
        key = "k", ts = "t", carried = Seq("rid", "rv"))
      .select("lid", "asof_rid")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val want = left.map { case (lid, k, t) =>
      val matches = right.filter(r => r._2 == k && r._3 <= t)
      // tie rule: greatest first-carried column at the latest timestamp
      lid -> (if (matches.isEmpty) None
              else Some(matches.maxBy(r => (r._3, r._1))._1))
    }.toMap
    assert(got === want)
    assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty))
  }

  test("asOf carries whole right rows — a null carried value is not filled from an older row") {
    import spark.implicits._
    val left = Seq((10L, 1L, 7L)).toDF("lid", "k", "t")
    val right = Seq(
      (1L, 1L, 5L, Some(2.0)),
      (2L, 1L, 6L, None: Option[Double])) // latest row has rv = null
      .toDF("rid", "k", "t", "rv")
    val row = AsOfJoin.asOf(left, right, "k", "t", Seq("rid", "rv"))
      .select("asof_rid", "asof_rv").collect().head
    assert(row.getLong(0) === 2L)
    assert(row.isNullAt(1), "null on the matched row must stay null, not leak from rid=1")
  }

  test("bucketized range join matches the brute-force containment model") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (bucket <- Seq(7L, 100L, 5000L)) {
      val points = (0 until 300).map(i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(2000).toLong))
      val intervals = (0 until 60).map { i =>
        val lo = rnd.nextInt(2000).toLong
        (5000L + i, rnd.nextInt(4).toLong, lo, lo + rnd.nextInt(400).toLong)
      }
      val got = RangeJoin.pointInInterval(
          points.toDF("pid", "k", "t"),
          intervals.toDF("iid", "k", "lo", "hi"),
          key = "k", t = "t", lo = "lo", hi = "hi", bucketWidth = bucket)
        .select("pid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (pid, pk, t) <- points
        (iid, ik, lo, hi) <- intervals
        if pk == ik && t >= lo && t <= hi
      } yield (pid, iid)).toSet
      assert(got === want, s"bucketWidth=$bucket")
      assert(want.nonEmpty)
    }
  }

  test("theta sketch of a union equals the merged per-part sketches on random sets") {
    import spark.implicits._
    import graft.plans.ThetaSketchFunctions.thetaSketch
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val a = (0 until 500).map(_ => rnd.nextInt(300).toLong)
      val b = (0 until 500).map(_ => rnd.nextInt(300).toLong + 150)
      def sketchOf(xs: Seq[Long]) = xs.toDF("h")
        .agg(thetaSketch(col("h"), 32)).collect().head.getSeq[Long](0)
      val whole = sketchOf(a ++ b)
      // merge at query level: explode the part sketches, re-sketch
      val merged = (sketchOf(a) ++ sketchOf(b)).toDF("h")
        .agg(thetaSketch(col("h"), 32)).collect().head.getSeq[Long](0)
      assert(merged === whole, s"trial $trial")
      // and it is the true min-32 of the distinct values
      val truth = (a ++ b).distinct.sorted.take(32)
      assert(whole === truth, s"trial $trial vs ground truth")
    }
  }

  test("IncrementalAgg: random append/retract interleavings equal the surviving-row aggregate") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      // random rows over few keys → dense collisions; value in cents
      val all = (0 until 300).map(i =>
        (i.toLong, s"k${rnd.nextInt(5)}", rnd.nextInt(10000).toLong))
      // append everything in random batch cuts, then retract a random subset
      val cuts = all.grouped(1 + rnd.nextInt(80)).toSeq
      val retracted = all.filter(_ => rnd.nextBoolean())
      val empty = Seq.empty[(String, Long, Long)].toDF("k", "n", "sum_cents")
      def df(rows: Seq[(Long, String, Long)]) = rows.toDF("id", "k", "cents")
      var state = cuts.foldLeft(empty)((st, b) =>
        IncrementalAgg.applyAppend(st, df(b), Seq("k"), col("cents")).localCheckpoint())
      state = IncrementalAgg.applyRetract(state, df(retracted), Seq("k"), col("cents"))
        .localCheckpoint()
      val survivors = all.filterNot(retracted.toSet)
      val want = survivors.groupBy(_._2).view
        .mapValues(g => (g.size.toLong, g.map(_._3).sum)).toMap
      val got = state.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("snapshotDiffOf: random membership/edit patterns equal the set model") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    for (trial <- 1 to 3) {
      val ids = (0L until 200L).filter(_ => rnd.nextBoolean())
      val v1Rows = ids.filter(_ % 4 != 1).map(i => (i, s"s${i % 3}", s"text-$i"))
      val v2Rows = ids.filter(_ % 5 != 2).map(i =>
        (i, s"s${i % 3}", if (rnd.nextInt(3) == 0) s"text-$i!" else s"text-$i"))
      val got = Snapshot.snapshotDiffOf(
          v1Rows.toDF("doc_id", "source", "text"),
          v2Rows.toDF("doc_id", "source", "text"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val m1 = v1Rows.map(r => r._1 -> r).toMap
      val m2 = v2Rows.map(r => r._1 -> r).toMap
      val want = (m1.keySet ++ m2.keySet).toSeq.map { id =>
        val src = m1.get(id).orElse(m2.get(id)).get._2
        val c =
          if (!m1.contains(id)) "added"
          else if (!m2.contains(id)) "removed"
          else if (m1(id)._3 != m2(id)._3) "changed"
          else "unchanged"
        (src, c)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("cusum closed form equals the textbook recursion on random bursty series") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 5) {
      // bursty: long quiet stretches + random spikes — the shape that
      // exposes a missing zero anchor or an off-by-one window frame
      val h = 20 + rnd.nextInt(60)
      val counts = (0 until h).map { i =>
        (s"t$trial", i.toLong + 100L,
          if (rnd.nextInt(4) == 0) rnd.nextInt(50).toLong else rnd.nextInt(3).toLong)
      }
      val got = EventSeries.cusumOfCounts(
        counts.toDF("event_type", "hour", "n")).collect().head
      val series = counts.map(_._3)
      val nH = h.toLong; val tot = series.sum
      var sPos = 0L; var sNeg = 0L
      val states = series.map { n =>
        val r = n * nH - tot
        sPos = math.max(0L, sPos + r); sNeg = math.max(0L, sNeg - r)
        (sPos, sNeg)
      }
      assert(got.getLong(3) == states.map(_._1).max, s"trial $trial s_pos_max")
      assert(got.getLong(4) == 100L + states.indexWhere(_._1 == states.map(_._1).max),
        s"trial $trial peak_hour")
      assert(got.getLong(7) == states.map(_._2).max, s"trial $trial s_neg_max")
    }
  }

  test("islands merge equals brute position-marking on random overlap patterns") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 5) {
      // tiny vocab → dense cross-doc trigram collisions and heavily
      // overlapping duplicated intervals per doc
      val docs = (0 until 30).map { id =>
        (id.toLong, "s",
          Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = Spans.dupSpanCoverageOf(docs.toDF("doc_id", "source", "text"))
        .agg(sum("dup_tokens")).collect().head.getLong(0)
      val pos = docs.flatMap { case (id, _, text) =>
        val t = text.split(" ").toSeq
        (0 to t.size - 3).map(p => (t.slice(p, p + 3).mkString(" "), id, p))
      }
      val crossDoc = pos.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1).keySet
      val want = pos.filter(p => crossDoc(p._1)).groupBy(_._2).values.map { ps =>
        ps.flatMap(p => p._3 until (p._3 + 3)).distinct.size.toLong
      }.sum
      assert(got == want, s"trial $trial")
    }
  }
}
