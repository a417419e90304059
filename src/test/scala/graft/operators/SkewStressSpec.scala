package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The O(1)-state claim under a degenerate hot key: one digest carrying
  * 200k rows must stream through the chain operator without per-group
  * materialization blowing up, and produce the exact greedy chain. */
class SkewStressSpec extends SparkSpec {

  test("chainNative handles a 200k-row hot digest exactly and in one pass") {
    val hot = spark.range(200000).select(
      col("id").as("event_id"),
      (col("id") * 1000000L).as("ts_us"), // 1s apart
      lit(7L).as("user_id"),
      lit("hot").as("event_type"),
      lit(1.0).as("value"),
      lit("{}").as("props"),
      lit(42L).as("digest")) // every row same digest
    val kept = Dedup.chainNative(hot, windowUs = 3600L * 1000000L).count()
    // greedy chain keeps every 3600th second → 200000/3600 rounded up
    assert(kept === (200000 + 3599) / 3600)
  }

  test("firstOccurrence on the hot digest keeps exactly one row") {
    val hot = spark.range(100000).select(
      col("id").as("event_id"), col("id").as("ts_us"),
      lit(7L).as("user_id"), lit("hot").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props"), lit(42L).as("digest"))
    assert(Dedup.firstOccurrence(hot).count() === 1)
  }

  test("boilerplate shingle shared by 150 docs is df-capped out of ngram candidates") {
    import spark.implicits._
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    val docs = (0 until 150).map { i =>
      val tail =
        if (i < 2) "alpha beta gamma delta epsilon zeta"
        else s"unique$i token$i word$i extra$i more$i end$i"
      (i.toLong, s"$boiler $tail")
    }.toDF("doc_id", "text")
    val pairs = DocDedup.ngramJaccardOf(DocDedup.docShinglesOf(docs)).collect()
    // every boilerplate shingle has df=150 > MaxShingleDf → excluded from
    // candidate generation AND the Jaccard definition; only docs 0 and 1
    // share surviving (tail + boundary) shingles.
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((0L, 1L)))
  }

  test("overfull LSH bucket (150 identical docs) degrades to the rank window; small buckets survive") {
    import spark.implicits._
    val boilerDoc = "the same exact document body repeated verbatim across the whole corpus"
    val dupDoc = "completely different content about catalyst optimizer internals and query planning"
    val docs = ((0 until 150).map(i => (i.toLong, boilerDoc)) ++
      Seq((900L, dupDoc), (901L, dupDoc))).toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDupPairsOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The 150 identical docs collapse into one bucket of size 150 >
    // MaxBucketSize. Pre round 17 the whole bucket was DROPPED — at the
    // ×100 stress replica that emptied the entire verified pair set
    // (round-16 verdict item 1). Under the CandWindow rank window the
    // bucket emits each doc paired with its next ≤CandWindow doc_id
    // neighbors: the set is NON-empty, linear in the bucket size, and
    // chain-connects the clique. The 2-doc bucket for 900/901 keeps
    // exact all-pairs candidacy, untouched by the window.
    assert(pairs.contains((900L, 901L)))
    val w = MinHashLSH.CandWindow
    val windowPairs = pairs - ((900L, 901L))
    assert(windowPairs.nonEmpty) // the verdict's non-empty-at-scale gate
    // window shape: every emitted boilerplate pair is within CandWindow
    // ranks (ranks = doc_id order here, ids 0..149 contiguous)
    assert(windowPairs.forall { case (a, b) => b > a && b - a <= w })
    // exactly W·c − W(W+1)/2 pairs for one bucket of c=150 (same pairs
    // in every band → dedup to the single-bucket window set)
    assert(windowPairs.size === w * 150 - w * (w + 1) / 2)
    // chain connectivity: consecutive ids pair, so the clique stays one
    // component under the window
    assert((0 until 149).forall(i => windowPairs.contains((i.toLong, i + 1L))))
    // simhash byte buckets keep the drop-rule (the byte-band tier is
    // unchanged this round)
    val simPairs = SimHash.nearDupPairsOfShingles(
        DocDedup.docShinglesOf(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simPairs === Set((900L, 901L)))
  }

  test("saltedAggOf is bit-identical to the direct aggregation on a degenerate hot key") {
    // one hot type carries ~99% of rows — the shape events_key_skew
    // warns about; the exact decimal partials make the two-stage merge
    // order-independent, so salted == direct to the bit
    val ev = spark.range(100000).select(
      col("id").as("event_id"), col("id").as("ts_us"),
      lit(7L).as("user_id"),
      when(pmod(col("id"), lit(100L)) === 0L, lit("rare"))
        .otherwise(lit("hot")).as("event_type"),
      (col("id") % 997L / lit(10.0)).as("value"),
      lit("{}").as("props"))
    val direct = Skew.directAggOf(ev).collect().toSeq
    val salted = Skew.saltedAggOf(ev).collect().toSeq
    assert(salted == direct)
    assert(direct.map(_.getString(0)) == Seq("hot", "rare"))
  }

  test("splitSessionizeOf == one-window sessionize on the test corpus, any segment size") {
    val direct = EventUsers.sessionize(spark, sf).collect().toSeq
    // default segUs (= gap) and a deliberately tiny segment — the
    // bit-identity argument holds for ANY segUs > 0
    for (segUs <- Seq(0L, 120L * 1000000L)) {
      val split = Skew.splitSessionizeOf(
        Dedup.eventsUs(spark, sf), segUs = segUs).collect().toSeq
      assert(split == direct, s"segUs=$segUs diverged from the direct plan")
    }
  }

  test("splitSessionizeOf boundary cases: multi-segment sessions, exact-gap ties, hot key") {
    val gap = 1800L * 1000000L
    // one hot user: events every 17 minutes for 3 days (ONE session
    // spanning ~145 segments), then a break of exactly gap (continues:
    // the rule is > gap), then a break of gap+1µs (new session);
    // plus a user with equal-ts event pairs straddling nothing
    val hotTs = (0L until 250L).map(_ * 1020L * 1000000L) // 17 min apart
    val afterEnd = hotTs.last
    val rows =
      hotTs.map(t => (7L, t)) ++
      Seq((7L, afterEnd + gap),        // exactly gap → same session
          (7L, afterEnd + gap + gap + 1L)) ++ // gap+1 past previous → new
      Seq((8L, 5L), (8L, 5L), (8L, 5L + gap), (8L, 5L + gap + gap + 1L))
    import spark.implicits._
    val ev = rows.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, t, u, "e", 1.0) }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .repartition(7) // scatter input so window ordering does the work
    val direct = {
      // the one-window reference shape (EventUsers.sessionIndexedOf's chain)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      ev.withColumn("new_sess",
          when(lag("ts_us", 1).over(w).isNull ||
            col("ts_us") - lag("ts_us", 1).over(w) > gap, 1).otherwise(0))
        .withColumn("session_idx", sum("new_sess").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"),
          graft.functions.Hashing.money2(
            sum(graft.functions.Hashing.dec(col("value")))).as("sum_value"))
        .orderBy("user_id", "session_idx")
    }.collect().toSeq
    val split = Skew.splitSessionizeOf(ev, gap).collect().toSeq
    assert(split == direct)
    // shape sanity: user 7 has exactly 2 sessions (the exact-gap event
    // extends session 1), user 8 has 2
    assert(direct.count(_.getLong(0) == 7L) == 2)
    assert(direct.count(_.getLong(0) == 8L) == 2)
  }

  test("value-salted distinct == direct distinct on a hot-type corpus") {
    // hot type with many distinct users — the non-combinable shape the
    // decision table sends to the salted plan
    val ev = spark.range(100000).select(
      col("id").as("event_id"), col("id").as("ts_us"),
      pmod(col("id") * 31L, lit(5000L)).as("user_id"),
      when(pmod(col("id"), lit(100L)) === 0L, lit("rare"))
        .otherwise(lit("hot")).as("event_type"),
      lit(1.0).as("value"))
    val direct = Skew.directDistinctOf(ev).collect().toSeq
    val salted = Skew.saltedDistinctOf(ev).collect().toSeq
    assert(salted == direct)
    assert(Skew.distinctUsersAuto(ev, skewX4 = 50.0).collect().toSeq == direct)
    assert(Skew.distinctUsersAuto(ev, skewX4 = 1.0).collect().toSeq == direct)
  }

  test("salting decision: combinable aggregates never salt; non-combinable salt only when hot") {
    // the measured race (skew_bench.json): map-side combine absorbs
    // algebraic-agg skew, so salting is reserved for set-sized
    // aggregates on measurably hot keys
    assert(!Skew.shouldSalt(mapSideCombinable = true, skewX4 = 1e6))
    assert(!Skew.shouldSalt(mapSideCombinable = false, skewX4 = 1.0))
    assert(Skew.shouldSalt(mapSideCombinable = false,
      skewX4 = Skew.SaltSkewX4Threshold))
  }

  test("window decision: split plan iff measured-hot; both dispatch targets bit-identical") {
    // a 50%-hot user over 5000 users reads skew_x4 ≈ n_users/2 — the
    // shape the race measured at 1.9×; the natural test stream reads
    // low and must stay on the one-window plan
    assert(!Skew.shouldSplitWindow(1.0))
    assert(Skew.shouldSplitWindow(Skew.SaltSkewX4Threshold))
    val ev = spark.range(40000).select(
      col("id").as("event_id"),
      (col("id") * 60L * 1000000L).as("ts_us"),
      when(pmod(col("id"), lit(2L)) === 0L, lit(7L))
        .otherwise(pmod(col("id") * 31L, lit(5000L)) + 100L).as("user_id"),
      lit("e").as("event_type"),
      (col("id") % 97L / lit(10.0)).as("value"))
    val direct = EventUsers.sessionizeOf(ev).collect().toSeq
    assert(Skew.sessionizeAutoOf(ev, skewX4 = 50.0).collect().toSeq == direct)
    assert(Skew.sessionizeAutoOf(ev, skewX4 = 1.0).collect().toSeq == direct)
  }

  test("userHotness panel reads hot on the 50%-hot fixture and low on uniform") {
    val hot = spark.range(10000).select(
      col("id").as("event_id"), col("id").as("ts_us"),
      when(pmod(col("id"), lit(2L)) === 0L, lit(7L))
        .otherwise(pmod(col("id") * 31L, lit(1000L)) + 100L).as("user_id"),
      lit("e").as("event_type"), lit(1.0).as("value"))
    val hx = Skew.userHotness(hot).collect().head.getDouble(3)
    assert(Skew.shouldSplitWindow(hx), s"50%-hot fixture read skew_x4=$hx")
    val uniform = spark.range(10000).select(
      col("id").as("event_id"), col("id").as("ts_us"),
      pmod(col("id"), lit(1000L)).as("user_id"),
      lit("e").as("event_type"), lit(1.0).as("value"))
    val ux = Skew.userHotness(uniform).collect().head.getDouble(3)
    assert(!Skew.shouldSplitWindow(ux), s"uniform fixture read skew_x4=$ux")
  }
}
