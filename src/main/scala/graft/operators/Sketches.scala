package graft.operators

import graft.Partitioning._
import graft.functions.Hashing.{h64, valueCents}
import graft.plans.{ThetaSketch, ThetaSketchFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-tier queries: deterministic KMV/theta sketches (see
  * plans.ThetaSketch) applied to the events stream. Unlike the HLL++
  * estimate (events_approx_users, rows-only), these sketches are pure
  * functions of the input SET, so the DuckDB oracle replays them
  * hash-exactly — approximate answers with exact verification.
  */
object Sketches {

  val ThetaK = 64
  val SampleK = 256

  /** events_theta_users: distinct users per hour via the KMV estimator.
    * One aggregation; partial sketches combine map-side, so the shuffle
    * carries at most k longs per (hour, partition). */
  def thetaUsersPerHour(spark: SparkSession, dir: String, k: Int = ThetaK): DataFrame =
    // shared with the STREAMING sketch tier — the same plan runs over a
    // MemoryStream in StreamSketch (parity spec-pinned)
    graft.streaming.StreamSketch.thetaUsersPerHour(Dedup.eventsUs(spark, dir), k)
      .orderBy("hour_bucket")

  /** events_theta_daily: daily distinct-user estimates RE-AGGREGATED
    * from the hourly sketches — never revisiting the raw events. The
    * KMV invariant makes this exact: the k smallest hashes of a union
    * of per-hour min-k sets ARE the union's true min-k (any global
    * min-k element is inside its own hour's min-k), so rolling up =
    * explode + re-sketch, and the oracle computed from raw rows
    * hash-matches. This is the sketch-tier contract at query level:
    * petabyte groups compose from partial sketches. */
  def thetaUsersDaily(spark: SparkSession, dir: String, k: Int = ThetaK): DataFrame = {
    val hourly = Dedup.eventsUs(spark, dir)
      .select(expr(s"ts_us div ${EventSeries.HourUs}L").as("hour_bucket"),
        h64(concat(lit("u:"), col("user_id").cast("string"))).as("h"))
      .groupBy("hour_bucket")
      .agg(ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
    hourly
      .select(expr("hour_bucket div 24").as("day_bucket"), explode(col("mk")).as("h"))
      .groupBy("day_bucket")
      .agg(ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
      .select(col("day_bucket"),
        size(col("mk")).cast("long").as("n_sketch"),
        element_at(col("mk"), size(col("mk"))).as("kth_hash"),
        graft.streaming.StreamSketch.thetaEstimate(col("mk"), k).as("est_users"))
      .orderBy("day_bucket")
  }

  /** `events_theta_accuracy`: the sketch-tier audit panel — per day,
    * the EXACT distinct-user count next to the KMV estimate (the same
    * rolled-up sketch thetaUsersDaily exports) with absolute and
    * relative error. The sketch is a pure function of the input set,
    * so BOTH columns replay hash-exactly in the oracle: the panel
    * certifies the estimator's error empirically (expected rsd ≈
    * 1/√(k−2) ≈ 13% at k=64) rather than asking the reader to trust
    * the bound. Exact side is one (day, user) distinct aggregate;
    * errors are IEEE arithmetic over already-deterministic doubles
    * (no re-rounding — the estimate was rounded once at export). */
  def thetaAccuracyDaily(spark: SparkSession, dir: String,
                         k: Int = ThetaK): DataFrame = {
    val est = thetaUsersDaily(spark, dir, k)
      .select("day_bucket", "n_sketch", "est_users")
    val exact = Dedup.eventsUs(spark, dir)
      .select(expr(s"ts_us div ${EventSeries.DayUs}L").as("day_bucket"), col("user_id"))
      .groupBy("day_bucket")
      .agg(countDistinct("user_id").as("exact_users"))
    est.join(exact, "day_bucket")
      .select(col("day_bucket"), col("exact_users"), col("n_sketch"),
        col("est_users"),
        abs(col("est_users") - col("exact_users").cast("double")).as("abs_err"),
        (abs(col("est_users") - col("exact_users").cast("double")) /
          col("exact_users").cast("double")).as("rel_err"))
      .orderBy("day_bucket")
  }

  /** `events_theta_overlap`: day-over-day audience overlap estimated
    * from the SKETCHES ALONE (theta-style set intersection) and graded
    * against the exact overlap in the same row — the sketch-set-algebra
    * member of the sketch tier: union rollup is thetaUsersDaily, THIS
    * is intersection, the operation that answers "how much of
    * yesterday's audience returned?" from k longs per day instead of a
    * self-join of raw events.
    *
    * Estimator (standard theta intersection): θ_C = min(θ_A, θ_B)
    * where θ_X = kth hash (or the full 2^60 space when the sketch is
    * exhaustive); the intersection sample = {h ∈ mkA ∩ mkB : h < θ_C};
    * est = |sample| · 2^60 / θ_C — exactly |sample| when both days'
    * sketches are exhaustive. Deterministic (pure function of the
    * min-k sets), so the DuckDB oracle replays it hash-exactly,
    * INCLUDING the estimate column — approximate answers, exact
    * verification. At 100 TB the per-day shuffle stays ≤ k longs per
    * partition (mergeable ThetaSketchAgg); only the exact-overlap
    * grading column touches the distinct (day, user) set. */
  def thetaOverlapDaily(spark: SparkSession, dir: String,
                        k: Int = ThetaK): DataFrame = {
    val base = Dedup.eventsUs(spark, dir)
      .select(expr(s"ts_us div ${EventSeries.DayUs}L").as("day_bucket"),
        col("user_id"),
        h64(concat(lit("u:"), col("user_id").cast("string"))).as("h"))
    val sk = base.groupBy("day_bucket")
      .agg(ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
    val days = base.select("day_bucket", "user_id").distinct()
    val exact = days.join(
        days.select((col("day_bucket") - 1).as("day_bucket"), col("user_id")),
        Seq("day_bucket", "user_id"), "left_semi")
      .groupBy("day_bucket").agg(count(lit(1)).as("exact_overlap"))
    thetaOverlapOfSketches(sk, k)
      .join(exact, Seq("day_bucket"), "left")
      .select(col("day_bucket"), col("n_a"), col("n_b"),
        col("inter"), col("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
      .orderBy("day_bucket")
  }

  /** `events_uniques_sliding`: trailing-7-day distinct users per day,
    * answered from the DAILY sketch table — the window-query pattern
    * sketches exist for at petabyte scale: precompute one k-long
    * sketch per day, then ANY trailing window is a merge of ≤7
    * sketches (KMV invariant: the union's true min-k lives inside the
    * per-day min-k sets, so merge = explode + re-sketch, exact at the
    * sketch level). Each output row carries the estimate AND the exact
    * trailing-window distinct count as the grading column. Cost: the
    * daily sketch pass (shuffle ≤ k longs/day) + an O(days × 7)
    * merge; only the grading column revisits the (day, user) set. */
  val SlideDays = 7

  def slidingUniques(spark: SparkSession, dir: String,
                     k: Int = ThetaK, win: Int = SlideDays): DataFrame = {
    val base = Dedup.eventsUs(spark, dir)
      .select(expr(s"ts_us div ${EventSeries.DayUs}L").as("day"),
        col("user_id"),
        h64(concat(lit("u:"), col("user_id").cast("string"))).as("h"))
    val daily = base.groupBy("day")
      .agg(ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
    // a day's sketch serves every window ENDING in day .. day+win-1;
    // clamp to observed days so no phantom trailing windows appear
    val maxDay = daily.agg(max("day").as("max_day"))
    val merged = daily.crossJoin(broadcast(maxDay))
      .select(explode(expr(s"sequence(day, least(day + ${win - 1}, max_day))"))
        .as("day_bucket"), col("day"), col("mk"))
      .select(col("day_bucket"), col("day"), explode(col("mk")).as("h"))
      .groupBy("day_bucket")
      .agg(countDistinct(col("day")).as("n_days"),
        ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
    val days = base.select("day", "user_id").distinct()
    val exact = days.crossJoin(broadcast(maxDay))
      .select(explode(expr(s"sequence(day, least(day + ${win - 1}, max_day))"))
        .as("day_bucket"), col("user_id"))
      .groupBy("day_bucket")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "day_bucket")
      .select(col("day_bucket"), col("n_days"),
        size(col("mk")).cast("long").as("n_sketch"),
        graft.streaming.StreamSketch.thetaEstimate(col("mk"), k)
          .as("est_users"),
        col("exact_users"))
      .orderBy("day_bucket")
  }

  /** The sketch-TABLE form of the overlap panel: given only the
    * persisted (day_bucket, mk) sketches — exactly what a streaming
    * per-day aggregation maintains, k longs per day — produce every
    * consecutive-day intersection estimate. No raw events touched;
    * this is the production shape, with [[thetaOverlapDaily]] the
    * exact-graded batch twin (StreamSketchSpec pins stream-maintained
    * sketches feed THIS and match the batch panel's estimate columns). */
  def thetaOverlapOfSketches(sk: DataFrame, k: Int = ThetaK): DataFrame = {
    val space = 1152921504606846976L // 2^60, the h64 hash space
    def theta(mk: Column) =
      when(size(mk) < k, lit(space)).otherwise(element_at(mk, k))
    sk.select(col("day_bucket"), col("mk").as("mka"))
      .join(sk.select((col("day_bucket") - 1).as("day_bucket"),
        col("mk").as("mkb")), "day_bucket")
      .withColumn("theta_c", least(theta(col("mka")), theta(col("mkb"))))
      .withColumn("inter", size(expr(
        "filter(array_intersect(mka, mkb), x -> x < theta_c)")).cast("long"))
      .withColumn("est_overlap", round(
        col("inter").cast("double") * lit(ThetaSketch.HashSpace)
          / col("theta_c").cast("double"), 4))
      .select(col("day_bucket"),
        size(col("mka")).cast("long").as("n_a"),
        size(col("mkb")).cast("long").as("n_b"),
        col("inter"), col("est_overlap"))
      .orderBy("day_bucket")
  }

  /** `events_theta_new_users`: set DIFFERENCE — the third member of
    * the sketch algebra (union = thetaUsersDaily's rollup,
    * intersection = thetaOverlapDaily): per day, the estimated count
    * of users NOT seen the previous day, from the two days' k-long
    * sketches alone. Estimator: sample = {h ∈ mkA \ mkB : h < θ_C}
    * (θ_C = min of the two thresholds), est = |sample| · 2⁶⁰/θ_C —
    * the acquisition twin of the overlap panel's retention, answered
    * without touching raw events twice. Deterministic (pure function
    * of the min-k sets), so the oracle replays the estimate
    * hash-exactly; the exact new-user count rides the same row as
    * grading (one distinct (day,user) anti-join). Identity pinned in
    * spec: inter + diff = |{h ∈ mkA : h < θ_C}| — the two estimators
    * partition the same sample. */
  def thetaNewUsersDaily(spark: SparkSession, dir: String,
                         k: Int = ThetaK): DataFrame = {
    val base = Dedup.eventsUs(spark, dir)
      .select(expr(s"ts_us div ${EventSeries.DayUs}L").as("day_bucket"),
        col("user_id"),
        h64(concat(lit("u:"), col("user_id").cast("string"))).as("h"))
    val sk = base.groupBy("day_bucket")
      .agg(ThetaSketchFunctions.thetaSketch(col("h"), k).as("mk"))
    val days = base.select("day_bucket", "user_id").distinct()
    val exact = days.join(
        days.select((col("day_bucket") + 1).as("day_bucket"), col("user_id")),
        Seq("day_bucket", "user_id"), "left_anti")
      .groupBy("day_bucket").agg(count(lit(1)).as("exact_new"))
    val space = graft.plans.ThetaSketch.HashSpace
    def theta(mk: Column) =
      when(size(mk) < k, lit(space)).otherwise(element_at(mk, k))
    sk.select(col("day_bucket"), col("mk").as("mka"))
      .join(sk.select((col("day_bucket") + 1).as("day_bucket"),
        col("mk").as("mkb")), "day_bucket")
      .withColumn("theta_c", least(theta(col("mka")), theta(col("mkb"))))
      .withColumn("n_new_sample", size(expr(
        "filter(array_except(mka, mkb), x -> x < theta_c)")).cast("long"))
      .withColumn("est_new", round(
        col("n_new_sample").cast("double") * lit(space)
          / col("theta_c").cast("double"), 4))
      .join(exact, Seq("day_bucket"), "left")
      .select(col("day_bucket"), size(col("mka")).cast("long").as("n_a"),
        size(col("mkb")).cast("long").as("n_b"),
        col("n_new_sample"), col("est_new"),
        coalesce(col("exact_new"), lit(0L)).as("exact_new"))
      .orderBy("day_bucket")
  }

  /** source_term_cm: Count-Min term-frequency estimates per source —
    * the frequency member of the sketch trio. The counter matrix is
    * d·w longs per source regardless of vocabulary size; probe-term
    * bucket positions are md5-derived constants folded at plan time,
    * and the oracle recomputes the same counters from raw tokens. */
  val CmW = 64
  val CmD = 4
  val CmProbes = Seq("the", "of", "and", "a", "to")

  def sourceTermCm(spark: SparkSession, dir: String, w: Int = CmW,
                   d: Int = CmD, probes: Seq[String] = CmProbes): DataFrame = {
    import graft.plans.{CountMinFunctions, CountMinUtil}
    val docs = graft.Tables.documents(spark, dir)
    val tk = docs.select(col("source"),
      explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
    val cm = tk.groupBy("source")
      .agg(CountMinFunctions.countMin(col("term"), w, d).as("cm"))
    // every distinct source gets a row — a source whose docs tokenize
    // to nothing has an absent sketch and all-zero estimates, exactly
    // the oracle's COALESCE-0 left probe
    val ests = probes.map { p =>
      least((0 until d).map(i =>
        coalesce(
          element_at(col("cm"), lit(i * w + CountMinUtil.bucket(i, p, w) + 1)),
          lit(0L))): _*)
        .as(s"est_$p")
    }
    docs.select("source").distinct()
      .join(cm, Seq("source"), "left")
      .select(col("source") +: ests: _*)
      .orderBy("source")
  }

  /** `source_term_cm_accuracy`: the error panel for [[sourceTermCm]] —
    * the frequency member joins the accuracy family the theta/KMV
    * sketches already have (events_theta_accuracy,
    * events_kmv_accuracy): per (source, probe term), the CM estimate
    * NEXT TO the exact count, the overcount and its exact ppm, plus
    * the one-sided-error guarantee as a released boolean (CM never
    * underestimates — a false here is a broken kernel, and it flips
    * the oracle hash, not just a spec). Measured-not-asserted grading:
    * a sketch whose collision overcount drifts past the w×d it was
    * sized for gets re-sized on evidence.
    *
    * Shape: the sketch side is [[sourceTermCm]] verbatim (d·w longs
    * per source); the exact side filters the token stream to the
    * probe set BEFORE its (source, term) count — O(sources × probes)
    * rows into the join, output the same. */
  def sourceTermCmAccuracy(spark: SparkSession, dir: String,
                           probes: Seq[String] = CmProbes): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    val stacked = sourceTermCm(spark, dir).selectExpr("source",
      s"stack(${probes.size}, ${probes.map(p => s"'$p', est_$p").mkString(", ")}) " +
        "AS (probe, est_n)")
    val exact = graft.Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("probe"))
      .filter(col("probe").isin(probes: _*))
      .groupBy("source", "probe").agg(count(lit(1)).as("exact_n"))
    stacked.join(exact, Seq("source", "probe"), "left")
      .withColumn("exact_n", coalesce(col("exact_n"), lit(0L)))
      .select(col("source"), col("probe"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"),
        halfUpDiv((col("est_n") - col("exact_n")) * lit(1000000L),
          greatest(col("exact_n"), lit(1L))).as("over_ppm"),
        (col("est_n") >= col("exact_n")).as("never_under"))
      .orderBy("source", "probe")
  }

  /** events_kmv_quantiles: per event type, median and p90 of the value
    * (exact integer cents) over the deterministic KMV sample — a
    * mergeable quantile sketch whose answer is a pure function of the
    * input set (positional quantile of the sorted sample). */
  def kmvQuantiles(spark: SparkSession, dir: String, k: Int = SampleK): DataFrame = {
    def pos(q: Double) = ceil(lit(q) * col("n_sample")).cast("int")
    Dedup.eventsUs(spark, dir)
      .select(col("event_type"),
        h64(concat(lit("e:"), col("event_id").cast("string"))).as("h"),
        valueCents(col("value")).as("cents"))
      .groupBy("event_type")
      .agg(ThetaSketchFunctions.kmvSample(col("h"), col("cents"), k).as("mk"))
      .select(col("event_type"),
        size(col("mk")).cast("long").as("n_sample"),
        array_sort(expr("transform(mk, x -> x.v)")).as("vs"))
      .select(col("event_type"), col("n_sample"),
        element_at(col("vs"), pos(0.5)).as("p50_cents"),
        element_at(col("vs"), pos(0.9)).as("p90_cents"))
      .orderBy("event_type")
  }

  /** `events_kmv_accuracy`: the error panel for [[kmvQuantiles]] — per
    * event type, the KMV-sample p50/p90 NEXT TO the exact positional
    * quantiles over the full population, with the ppm error. The same
    * measured-not-asserted grading the theta family gets
    * (events_theta_accuracy): a sketch whose error band drifts past
    * the k-for-accuracy trade it was sized for is re-sized on
    * evidence, not vibes. Both sides answer the SAME positional
    * question (value at rank ⌈p·n⌉ — the exact side via
    * [[Ranking.groupedPositional]]'s GlobalRank pass, never a
    * buffering aggregate), so the error is pure int64 ppm.
    *
    * Shape: the sketch side is the mergeable KMV aggregate (O(k) per
    * type); the exact side is one range-partitioned rank pass;
    * O(types) output. */
  def kmvAccuracy(spark: SparkSession, dir: String, k: Int = SampleK): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    val ev = Dedup.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"),
        valueCents(col("value")).as("cents"))
    val exact = Ranking.groupedPositional(ev, Seq("event_type"), "cents",
        Seq("event_id"), Seq(0.5, 0.9))
      .groupBy("event_type")
      .agg(max(when(col("p") === 0.5, col("q"))).as("exact_p50"),
        max(when(col("p") === 0.9, col("q"))).as("exact_p90"))
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
    def errPpm(est: String, ex: String) =
      halfUpDiv(abs(col(est) - col(ex)) * 1000000L,
        greatest(abs(col(ex)), lit(1L)))
    kmvQuantiles(spark, dir, k)
      .join(exact, "event_type")
      .join(counts, "event_type")
      .select(col("event_type"), col("n_events"), col("n_sample"),
        col("exact_p50"), col("p50_cents"),
        errPpm("p50_cents", "exact_p50").as("err50_ppm"),
        col("exact_p90"), col("p90_cents"),
        errPpm("p90_cents", "exact_p90").as("err90_ppm"))
      .orderBy("event_type")
  }

  /** Bloom-filter configurations for [[bloomAccuracy]]: (slots m, hash
    * count k). The three points bracket the interesting fill range at
    * the test SFs — the smallest table saturates as history grows (the
    * panel SHOWS a filter aging out), the largest stays sparse. */
  val BloomConfigs: Seq[(Int, Int)] = Seq((32768, 2), (262144, 4), (2097152, 6))

  /** `dedup_bloom_accuracy`: the Bloom-filter member of the
    * sketch-accuracy family (theta #257 / KMV #301 / Count-Min #329 —
    * now a dedup prefilter gets the same measured-not-asserted
    * grading). Build side: the distinct digests of the pre-cutoff
    * history (the history side of [[Dedup.bootstrap]], digest definition
    * shared via [[Dedup.hashedStream]]); probe side: every distinct
    * post-cutoff digest. Per (m, k) the panel releases the observed
    * false-positive rate in ppm, the fill ratio, AND the
    * zero-false-negative guarantee as counted fact (`n_fn` — provably
    * 0: positions are a pure function of the digest, so a member's k
    * positions are all set by its own insertion).
    *
    * Positions are k independent salted [[h64]] draws mod m — the
    * whole filter is a pure function of the input SET, so the DuckDB
    * oracle replays every number hash-exactly (the same property the
    * theta/KMV/CM panels exploit; Spark's own util.sketch.BloomFilter
    * is seed-stable but not replayable outside the JVM).
    *
    * Shape at scale: the build side collapses to ≤ m distinct (m, pos)
    * rows per config — a map-side-combined aggregate whose output is
    * BOUNDED by the filter size regardless of history volume (the
    * whole point of a Bloom prefilter); the probe side is one pass
    * over post-cutoff digests × Σk position rows joined against that
    * bounded set (AQE broadcasts it), then two grouped aggregates.
    * Nothing in the plan grows faster than the probe count. */
  def bloomAccuracy(spark: SparkSession, dir: String,
                    configs: Seq[(Int, Int)] = BloomConfigs,
                    cutoffUs: Long = Dedup.BootstrapCutoffUs): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    import spark.implicits._
    val dg = Dedup.hashedStream(spark, dir)
      .groupBy("digest")
      .agg(max(when(col("ts_us") < cutoffUs, 1L).otherwise(0L)).as("pre"),
        max(when(col("ts_us") >= cutoffUs, 1L).otherwise(0L)).as("post"))
      .checkpointSer // feeds build, probe AND truth — digest once
    val seeds = configs.toDF("m_slots", "k_hashes")
      .withColumn("i", explode(sequence(lit(0), col("k_hashes") - 1)))
    // position = salted oracle hash mod m; h64 ≥ 0 so % == pmod
    def posCol: Column =
      pmod(h64(concat_ws(":", lit("bloom"), col("m_slots").cast("string"),
        col("i").cast("string"), col("digest").cast("string"))),
        col("m_slots").cast("long"))
    val buildPos = dg.filter(col("pre") === 1L)
      .crossJoin(broadcast(seeds))
      .select(col("m_slots"), posCol.as("pos"))
      .distinct()
      .localCheckpoint(true) // ≤ Σm rows — the materialized filter
    val probeHits = dg.filter(col("post") === 1L)
      .crossJoin(broadcast(seeds))
      .withColumn("pos", posCol)
      .join(buildPos.withColumn("hit", lit(1L)), Seq("m_slots", "pos"), "left")
      .groupBy("m_slots", "k_hashes", "digest", "pre")
      .agg(count(lit(1)).as("n_pos"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("positive", col("n_hit") === col("n_pos"))
    val fill = buildPos.groupBy("m_slots").agg(count(lit(1)).as("n_set"))
    val nBuild = dg.filter(col("pre") === 1L)
      .agg(count(lit(1)).as("n_build"))
    probeHits.groupBy("m_slots", "k_hashes")
      .agg(count(lit(1)).as("n_probe"),
        sum(col("pre")).as("n_member"),
        sum(when(col("pre") === 1L && !col("positive"), 1L).otherwise(0L)).as("n_fn"),
        sum(lit(1L) - col("pre")).as("n_nonmember"),
        sum(when(col("pre") === 0L && col("positive"), 1L).otherwise(0L)).as("n_fp"))
      .join(fill, "m_slots")
      .crossJoin(broadcast(nBuild))
      .select(col("m_slots"), col("k_hashes"), col("n_build"),
        halfUpDiv(col("n_set") * 1000000L, col("m_slots")).as("fill_ppm"),
        col("n_probe"), col("n_member"), col("n_fn"),
        col("n_nonmember"), col("n_fp"),
        halfUpDiv(col("n_fp") * 1000000L,
          greatest(col("n_nonmember"), lit(1L))).as("fpr_ppm"))
      .orderBy("m_slots")
  }
}
