package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Core dedup operators vs an independent in-memory model of the
  * reference's ObliviousSet behavior (TTL cache, duplicates don't
  * refresh the TTL — /root/reference/src/deduplication.ts:77,117-121). */
class DedupSpec extends SparkSpec {

  private lazy val hashed = Dedup.hashedStream(spark, sf).cache()

  /** Reference model: sequential scan in arrival order with a TTL map. */
  private def obliviousSetModel(rows: Seq[(Long, Long)], windowUs: Long): Set[Long] = {
    // rows: (event_id, ts_us) pre-sorted by (ts_us, event_id) per digest
    val kept = Seq.newBuilder[Long]
    var last = Long.MinValue
    var first = true
    rows.foreach { case (id, ts) =>
      if (first || ts >= last + windowUs) { kept += id; last = ts; first = false }
    }
    kept.result().toSet
  }

  test("firstOccurrence keeps exactly one row per digest, the earliest") {
    val out = Dedup.firstOccurrence(hashed).collect()
    val in = hashed.collect()
    val byDigest = in.groupBy(_.getAs[Long]("digest"))
    assert(out.length === byDigest.size)
    val expected = byDigest.values.map { rs =>
      rs.map(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"))).min._2
    }.toSet
    assert(out.map(_.getAs[Long]("event_id")).toSet === expected)
  }

  test("chain matches the ObliviousSet model on every digest group") {
    val out = Dedup.chainNative(hashed).collect().map(_.getAs[Long]("event_id")).toSet
    val expected = hashed.collect()
      .groupBy(_.getAs[Long]("digest"))
      .values.flatMap { rs =>
        val sorted = rs.map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("ts_us")))
          .sortBy { case (id, ts) => (ts, id) }
        obliviousSetModel(sorted.toIndexedSeq, Dedup.WindowUs)
      }.toSet
    assert(out === expected)
  }

  test("chain: +37s replica dropped, +2h replica kept") {
    val out = Dedup.chainNative(hashed)
    val ids = out.select("event_id").collect().map(_.getLong(0))
    val orig = ids.count(_ < 10000000L)
    val rep2 = ids.count(id => id >= 10000000L && id < 20000000L)
    val rep3 = ids.count(_ >= 20000000L)
    assert(orig > 0 && rep3 > 0)
    // +37s replicas land inside the TTL window of their original
    assert(rep2 < orig / 100)
    // +2h replicas are beyond the 1h TTL → kept again (minus collisions)
    assert(rep3 > orig * 9 / 10)
  }

  test("bootstrap matches the reference warm-up model (output-derived digests)") {
    // Model of cacheBuilding.ts buildUpCache: the warm set is the digests
    // of messages FORWARDED (first occurrences) within the cache window
    // before the cutoff; keep the first fresh row of every digest not in
    // the warm set.
    val cutoff = Dedup.BootstrapCutoffUs
    val winStart = cutoff - Dedup.CacheWindowUs
    val rows = hashed.select("digest", "ts_us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).flatMap { case (_, rs) =>
      val pre = rs.filter(_._2 < cutoff)
      val warmed = pre.nonEmpty && {
        val firstPre = pre.map(r => (r._2, r._3)).min
        firstPre._1 >= winStart
      }
      val fresh = rs.filter(_._2 >= cutoff)
      if (warmed || fresh.isEmpty) None
      else Some(fresh.map(r => (r._2, r._3)).min._2)
    }.toSet
    val out = Dedup.bootstrap(hashed).select("event_id").collect().map(_.getLong(0)).toSet
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("bootstrap with cacheWindow <= 0 skips warm-up (cacheBuilding.ts:72-79)") {
    val out = Dedup.bootstrap(hashed, cacheWindowUs = 0L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val plain = Dedup.firstOccurrence(
        hashed.filter(col("ts_us") >= Dedup.BootstrapCutoffUs))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(out === plain)
  }

  test("counters: forwarded + dropped equals input size") {
    val sums = Dedup.counters(hashed)
      .agg(org.apache.spark.sql.functions.sum(col("n_forwarded")),
           org.apache.spark.sql.functions.sum(col("n_dropped")))
      .collect().head
    assert(sums.getLong(0) + sums.getLong(1) === hashed.count())
  }

  test("xxhash64 fast path keeps the same row set as the md5 path") {
    val fast = Dedup.firstOccurrence(
      Dedup.hashedStream(spark, sf, hasher = graft.functions.Hashing.fast64))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val slow = Dedup.firstOccurrence(hashed)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(fast === slow)
  }

  test("events_approx_users: HLL++ error bounded vs exact at sf0.01") {
    // The one remaining rows-only query gets a QUANTITATIVE gate: the
    // sketch is a deterministic function of the input set, so measured
    // error vs the exact panel (events_distinct_hour) is a stable repo
    // invariant. Per-hour cardinalities at sf0.01 are tiny (4–28), where
    // relative rsd bounds are vacuous (error quantum 1/n) — so the
    // per-bucket gate is ABSOLUTE (≤ max(3, 3·rsd·n); measured max = 3)
    // and the corpus-level gate is the published rsd = 0.05 on the sum
    // of the independent per-hour estimates (measured 0.0092).
    import org.apache.spark.sql.functions.{abs => fabs, _}
    val rsd = 0.05
    val dir = "/root/testdata/sf0.01"
    val approx = Dedup.eventsUs(spark, dir)
      .withColumn("hour_bucket", expr("ts_us div 3600000000L"))
      .groupBy("hour_bucket")
      .agg(approx_count_distinct("user_id").as("approx_users"))
    val exact = graft.operators.EventSeries.distinctUsersHour(spark, dir)
      .select("hour_bucket", "n_users")
    val j = approx.join(exact, "hour_bucket")
      .select(col("approx_users").cast("double").as("a"),
        col("n_users").cast("double").as("e"))
      .withColumn("bound", greatest(lit(3.0), lit(3 * rsd) * col("e")))
    assert(j.filter(fabs(col("a") - col("e")) > col("bound")).isEmpty,
      "an hour bucket's HLL++ estimate fell outside max(3, 3·rsd·n) of exact")
    val Array(sa, se) = j.agg(sum("a"), sum("e")).collect().head
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(sa - se) / se <= rsd,
      f"corpus-level HLL++ relative error ${math.abs(sa - se) / se}%.4f exceeds rsd $rsd")
  }

  test("ignored properties widen the duplicate groups") {
    val strict = Dedup.firstOccurrence(hashed).count()
    val loose = Dedup.firstOccurrence(
      Dedup.hashedStream(spark, sf, ignored = Seq("k"))).count()
    assert(loose <= strict)
  }

  test("ttlCurve: every point matches the ObliviousSet model; replica steps land") {
    val rows = hashed.collect()
      .map(r => (r.getAs[Long]("digest"), r.getAs[Long]("event_id"),
        r.getAs[Long]("ts_us")))
    val nTotal = rows.length.toLong
    val expected = Dedup.TtlCurveS.map { t =>
      val kept = rows.groupBy(_._1).values.map { rs =>
        obliviousSetModel(
          rs.map(r => (r._2, r._3)).sortBy { case (id, ts) => (ts, id) }
            .toIndexedSeq,
          t * 1000000L).size.toLong
      }.sum
      (t, kept, nTotal, ratio4Model(kept, nTotal))
    }.sortBy(_._1)
    val got = Dedup.ttlCurve(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    val byTtl = got.map(r => r._1 -> r._2).toMap
    // kept mass is monotone non-increasing in the TTL
    assert(got.map(_._2) == got.map(_._2).sortBy(-_))
    // 30s keeps the +37s replica that 600s drops
    assert(byTtl(30L) > byTtl(600L))
    // the +2h replica sits exactly ON the 7200s boundary: >= keeps it,
    // so the step only appears past it
    assert(byTtl(7200L) > byTtl(14400L))
  }
}
