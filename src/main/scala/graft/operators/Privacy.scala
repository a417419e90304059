package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy-risk panels over the event stream.
  *
  * The reference's payloads carry rider-level fields the operator must
  * treat as personal data (reference README's GDPR note; the scrubbed
  * `text_scrub` / `docs_pii_prevalence` panels cover free text). This
  * module covers the STRUCTURED side: how re-identifiable are event rows
  * from their quasi-identifiers alone — the k-anonymity lens a release
  * reviewer applies before exporting an events extract.
  */
object Privacy {

  /** Quasi-identifier grain: (event_type, UTC day, $10 spend band).
    * Day and band are exact integer arithmetic on the canonical µs
    * timestamp / cent value, so the class key is engine-independent. */
  val SpendBandCents = 1000L

  /** k-histogram buckets: (rank, label, exclusive upper bound on k). */
  val KBuckets: Seq[(Long, String, Long)] = Seq(
    (1L, "k=1", 2L), (2L, "k=2-4", 5L), (3L, "k=5-9", 10L),
    (4L, "k=10-19", 20L))

  /** #199 `privacy_k_anonymity`: k-anonymity risk histogram for an
    * events extract under the (event_type, day, spend-band)
    * quasi-identifier. Every row lands in an equivalence class of size
    * k (rows sharing its QI triple); the panel buckets classes by k
    * and reports, per bucket, how many classes and rows sit there and
    * the exact ratio4 row share plus cumulative share — the "what
    * fraction of rows are in classes smaller than k" curve a
    * release-gate policy (suppress k<5, say) reads directly.
    *
    * Shape: one narrow scan → one groupBy on the QI triple (the only
    * corpus-sized shuffle, uniform keys) → O(classes) k-bucket rollup
    * (partial-aggregable) → cumulative window over the O(5) bucket
    * rows. Scale: class count ≤ types × days × bands — effectively
    * bounded; no skew (day and band split hot event types). */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityOf(Dedup.eventsUs(spark, dir))

  /** `privacy_dp_counts`: differentially-private release of the
    * per-(event_type, day) count table via the DISCRETE LAPLACE
    * (two-sided geometric) mechanism at α = 1/2 — ε = ln 2 per unit
    * sensitivity. Noise is built from EXACT bit arithmetic, no libm:
    * the trailing-ones count of a uniform hash is Geometric(1/2)
    * exactly (P(g=k) = 2^-(k+1)), and the difference of two
    * independent geometrics IS the discrete Laplace with α = 1/2 —
    * so the mechanism is cross-engine bit-replayable where an inverse-
    * CDF Laplace (logs) never is. Released value clamps at 0 (the
    * standard nonnegative post-processing, which DP composition
    * permits for free).
    *
    * Honesty seam (the decode-stub discipline): noise here is SEEDED
    * from the group key, so the release is deterministic for the
    * oracle replay and the panel demonstrates the mechanism's shape;
    * a production release swaps the seed source for real entropy at
    * this exact seam and drops the true_n/noise audit columns. This
    * is also event-level DP (sensitivity 1 per event row); user-level
    * DP needs a per-user contribution bound upstream (the
    * sample_per_source-style capping already in the library).
    *
    * Shape: one corpus-grain groupBy (uniform keys), then O(cells)
    * hash + bit arithmetic. Nothing downstream exceeds the cell count. */
  def dpCounts(spark: SparkSession, dir: String): DataFrame =
    dpCountsOf(Dedup.eventsUs(spark, dir))

  /** [[dpCounts]] over any µs event frame. */
  def dpCountsOf(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.h64
    val cells = ev
      .select(col("event_type"), expr(s"ts_us div ${EventSeries.DayUs}L").as("day_bucket"))
      .groupBy("event_type", "day_bucket")
      .agg(count(lit(1)).as("true_n"))
      .withColumn("h1", h64(concat_ws("|", lit("dp1"), col("event_type"),
        col("day_bucket"))))
      .withColumn("h2", h64(concat_ws("|", lit("dp2"), col("event_type"),
        col("day_bucket"))))
      .withColumn("noise",
        expr("cast(bit_count(((~h1) & -(~h1)) - 1) as bigint)") -
          expr("cast(bit_count(((~h2) & -(~h2)) - 1) as bigint)"))
    cells
      .select(col("event_type"), col("day_bucket"), col("true_n"),
        col("noise"),
        greatest(col("true_n") + col("noise"), lit(0L)).as("released"))
      .orderBy("event_type", "day_bucket")
  }

  /** Per-record contribution bound for [[dpSums]], in cents: the
    * clamp IS the sensitivity of the released sum, so the noise scale
    * is exactly this constant. */
  val ClampCents = 10000L

  /** `privacy_dp_sums`: the SUM companion of [[dpCounts]] — DP release
    * of per-(event_type, day) spend totals. Two textbook steps the
    * count release doesn't need: (1) contribution bounding — each
    * record's cents value is clamped to [0, [[ClampCents]]] BEFORE
    * aggregation, making the clamped sum's sensitivity exactly
    * ClampCents instead of unbounded; (2) noise scaling — the same
    * hash-derived discrete-Laplace(α=1/2) geometric difference as
    * dpCounts, multiplied by ClampCents (DLap noise scaled by the
    * sensitivity gives the same ε=ln 2 guarantee for sums). Releases
    * clamp at 0. Noise is pure integer bit arithmetic on h64 streams
    * (distinct tags from dpCounts so the two releases draw independent
    * noise) — deterministic, cross-engine exact, no libm.
    *
    * Shape: identical to dpCounts — one partial-aggregable
    * (type, day) shuffle over pre-clamped cents, O(types × days)
    * output. */
  def dpSums(spark: SparkSession, dir: String): DataFrame =
    dpSumsOf(Dedup.eventsUs(spark, dir))

  /** [[dpSums]] over any µs event frame. */
  def dpSumsOf(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.{h64, valueCents}
    val cells = ev
      .select(col("event_type"), expr(s"ts_us div ${EventSeries.DayUs}L").as("day_bucket"),
        greatest(least(valueCents(col("value")), lit(ClampCents)), lit(0L))
          .as("v_clamped"))
      .groupBy("event_type", "day_bucket")
      .agg(sum(col("v_clamped")).as("true_sum_c"), count(lit(1)).as("n_records"))
      .withColumn("h1", h64(concat_ws("|", lit("dps1"), col("event_type"),
        col("day_bucket"))))
      .withColumn("h2", h64(concat_ws("|", lit("dps2"), col("event_type"),
        col("day_bucket"))))
      .withColumn("noise",
        expr("cast(bit_count(((~h1) & -(~h1)) - 1) as bigint)") -
          expr("cast(bit_count(((~h2) & -(~h2)) - 1) as bigint)"))
    cells
      .select(col("event_type"), col("day_bucket"), col("n_records"),
        col("true_sum_c"), col("noise"),
        greatest(col("true_sum_c") + lit(ClampCents) * col("noise"), lit(0L))
          .as("released_c"))
      .orderBy("event_type", "day_bucket")
  }

  /** [[kAnonymity]] over any canonical events frame (ts_us µs). */
  def kAnonymityOf(ev: DataFrame): DataFrame =
    riskHistogram(
      qiClasses(ev).agg(count(lit(1)).as("m"), count(lit(1)).as("k")), "k")

  /** #243 `privacy_l_diversity`: the companion gate k-anonymity alone
    * can't provide — a class can be large (high k) yet carry ONE
    * sensitive value, re-identifying by association. Sensitive
    * attribute here: user_id (how many distinct people hide inside
    * each quasi-identifier class). Same histogram surface as #199 —
    * classes bucketed by l = distinct users, with exact ratio4 row
    * shares and the cumulative curve a release policy (suppress l<5)
    * reads directly. Same shape/scale: the only corpus-sized shuffle
    * is the QI groupBy (distinct-count is partial-aggregable per
    * class). */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversityOf(Dedup.eventsUs(spark, dir))

  /** [[lDiversity]] over any canonical events frame. */
  def lDiversityOf(ev: DataFrame): DataFrame =
    riskHistogram(
      qiClasses(ev).agg(countDistinct(col("user_id")).as("m"),
        count(lit(1)).as("k")), "l")

  /** #261 `privacy_t_closeness`: the third member of the release-gate
    * triad — a class can be large (k) and diverse (l) yet still leak
    * by DISTRIBUTION: if a (event_type, day) class's spend profile
    * sits far from the corpus-wide profile, membership alone reveals
    * spending behavior. Per class, the Earth Mover's Distance between
    * its spend-band distribution and the global one over the ORDERED
    * band scale: EMD = Σ_b |cumP_class(b) − cumP_global(b)| / (B−1),
    * in exact per-million arithmetic (cumulative counts → halfUpDiv
    * ppm → absolute-difference sum → halfUpDiv by B−1) so the gate
    * value is bit-identical cross-engine. Band (the sensitive
    * attribute here) leaves the quasi-identifier — t-closeness is
    * about what the QI class reveals OF the sensitive column.
    *
    * Shape: the (type, day, band) count is the only corpus-sized
    * shuffle (partial-aggregable); the global band marginal and its
    * cumulative are O(B) and broadcast; the dense class×band grid,
    * its per-class cumulative window and the final per-class rollup
    * are all O(classes·B) — bounded by types × days × bands,
    * independent of row count. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame =
    tClosenessOf(Dedup.eventsUs(spark, dir))

  /** [[tCloseness]] over any canonical events frame. */
  def tClosenessOf(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, intDiv}
    val cells = ev.select(col("event_type"),
        intDiv(col("ts_us"), lit(EventSeries.DayUs)).as("day"),
        intDiv(round(col("value") * 100).cast("long"), lit(SpendBandCents))
          .as("band"))
      .groupBy("event_type", "day", "band")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val wg = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = cells.groupBy("band").agg(sum("c").as("g"))
      .withColumn("cum_g", sum("g").over(wg))
      .select("band", "cum_g")
    val totals = cells.agg(sum("c").as("n_total"))
    val classes = cells.groupBy("event_type", "day").agg(sum("c").as("k"))
    val wc = Window.partitionBy("event_type", "day").orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = classes.crossJoin(broadcast(global))
      .join(cells, Seq("event_type", "day", "band"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum_c", sum("c").over(wc))
    val nBands = global.count()
    grid.crossJoin(broadcast(totals))
      .withColumn("diff_ppm",
        abs(halfUpDiv(col("cum_c") * 1000000L, col("k")) -
          halfUpDiv(col("cum_g") * 1000000L, col("n_total"))))
      .groupBy("event_type", "day", "k")
      .agg(sum("diff_ppm").as("emd_sum"))
      .select(col("event_type"), col("day"), col("k"),
        lit(nBands).as("n_bands"),
        halfUpDiv(col("emd_sum"), lit(math.max(nBands - 1L, 1L))).as("t_ppm"))
      .orderBy("event_type", "day")
  }

  /** Release-policy constants for [[releaseReport]]: a (type, day)
    * extract class releases only if it is large enough (k), diverse
    * enough (l distinct users) and distributionally close enough to
    * the corpus (t). The values are the panel's defaults — a deployer
    * reads the columns and applies their own policy. */
  val ReleaseL = 3L
  val ReleaseTppm = 400000L

  /** `privacy_release_report`: the triad composed into the ONE table a
    * release reviewer actually reads — per (event_type, day) extract
    * class: k (rows), l (distinct users), t_ppm (ordered EMD to the
    * corpus spend profile), the three policy verdicts
    * (k ≥ [[GenKThreshold]], l ≥ [[ReleaseL]], t ≤ [[ReleaseTppm]])
    * and the combined releasable flag. #199/#243/#261 each grade ONE
    * axis; a class can pass any two and still leak on the third, so
    * the decision is the conjunction — this panel materializes it.
    *
    * Shape: the t-closeness chain (one corpus-sized (type, day, band)
    * shuffle, O(classes·B) downstream) plus ONE distinct-user
    * aggregate joined on the O(classes) key. */
  def releaseReport(spark: SparkSession, dir: String): DataFrame =
    releaseReportOf(Dedup.eventsUs(spark, dir))

  /** [[releaseReport]] over any canonical events frame. */
  def releaseReportOf(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.intDiv
    val l = ev.select(col("event_type"),
        intDiv(col("ts_us"), lit(EventSeries.DayUs)).as("day"), col("user_id"))
      .groupBy("event_type", "day").agg(countDistinct("user_id").as("l"))
    tClosenessOf(ev)
      .join(l, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("k"), col("l"), col("t_ppm"),
        (col("k") >= GenKThreshold).as("pass_k"),
        (col("l") >= ReleaseL).as("pass_l"),
        (col("t_ppm") <= ReleaseTppm).as("pass_t"))
      .withColumn("releasable",
        col("pass_k") && col("pass_l") && col("pass_t"))
      .orderBy("event_type", "day")
  }

  /** `privacy_apply_release`: the APPLY half of the release report —
    * #292 renders verdicts; THIS is the extract a reviewer actually
    * ships: only the releasable (event_type, day) classes, each with
    * its k/l evidence and the class's exact released aggregate (total
    * spend cents). Suppressed classes are simply ABSENT — the
    * small-cell suppression every statistical-disclosure release
    * applies, materialized instead of described. The report and the
    * apply step share [[releaseReportOf]] verbatim (the linkage tier's
    * train→decide→apply symmetry, completed for privacy).
    *
    * Shape: the O(classes) report semi-gates one per-class cents
    * aggregate (a keyed partial-aggregable shuffle); output ⊆ classes. */
  def applyRelease(spark: SparkSession, dir: String): DataFrame =
    applyReleaseOf(Dedup.eventsUs(spark, dir))

  /** [[applyRelease]] over any canonical events frame — the testable
    * core (the corpus releases every class; the spec's fixture makes
    * suppression actually bite). */
  def applyReleaseOf(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.{intDiv, valueCents}
    val cents = ev.select(col("event_type"),
        intDiv(col("ts_us"), lit(EventSeries.DayUs)).as("day"),
        valueCents(col("value")).as("cents"))
      .groupBy("event_type", "day").agg(sum("cents").as("sum_cents"))
    releaseReportOf(ev)
      .filter(col("releasable"))
      .select("event_type", "day", "k", "l")
      .join(cents, Seq("event_type", "day"))
      .orderBy("event_type", "day")
  }

  /** The shared QI grouping: (event_type, day, band) classes carrying
    * user_id for sensitive-attribute measures. */
  /** Suppression threshold for the generalization ladder: classes with
    * k below this must be suppressed before release. */
  val GenKThreshold = 5L

  /** Band-width rungs (cents) — each a multiple of [[SpendBandCents]]
    * so every coarser cell is an exact union of fine cells. */
  val GenBandLadder: Seq[Long] = Seq(1000L, 5000L, 10000L)

  /** Time-grain rungs: label and days-per-bucket. */
  val GenTimeLadder: Seq[(String, Long)] = Seq(("day", 1L), ("week", 7L))

  /** `privacy_generalization_ladder`: the cost curve behind the triad's
    * verdicts — if k-anonymity fails at the fine grain, HOW MUCH
    * generalization buys an affordable suppression rate? Per ladder
    * rung (time grain × spend-band width): class count, row count,
    * classes/rows below [[GenKThreshold]], and the exact ratio4 share
    * of rows suppression would drop. A release reviewer reads the
    * cheapest rung whose suppressed share clears policy.
    *
    * Shape: ONE corpus-sized shuffle total — the finest-grain QI class
    * frame (k per (type, day, band)) is computed once and
    * localCheckpointed; every coarser rung re-aggregates those
    * O(classes) rows (coarse cells are exact unions of fine cells
    * because the ladders are integer multiples), so adding rungs costs
    * O(classes) each, never another scan. */
  def generalizationLadder(spark: SparkSession, dir: String): DataFrame =
    generalizationLadderOf(Dedup.eventsUs(spark, dir))

  /** The finest-grain QI class frame: k per (event_type, day, band).
    * Works unchanged as a streaming grouped aggregation (counts are
    * pure functions of the input set) — which is how
    * [[graft.streaming.StreamPrivacy]] maintains it; the batch ladder
    * and the streaming monitor share this one definition. */
  def fineClasses(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.intDiv
    ev.select(col("event_type"),
        intDiv(col("ts_us"), lit(EventSeries.DayUs)).as("day"),
        intDiv(round(col("value") * 100).cast("long"), lit(SpendBandCents))
          .as("band"))
      .groupBy("event_type", "day", "band").agg(count(lit(1)).as("k"))
  }

  /** [[generalizationLadder]] over any canonical events frame. */
  def generalizationLadderOf(ev: DataFrame): DataFrame =
    ladderOfFine(fineClasses(ev).localCheckpoint())

  /** The 6-rung ladder derived from a (event_type, day, band, k) fine
    * class frame — batch or one emitted by the streaming maintenance. */
  def ladderOfFine(fine: DataFrame): DataFrame = {
    import graft.functions.Hashing.{intDiv, ratio4}
    val rungs = for {
      (tg, days) <- GenTimeLadder
      bw <- GenBandLadder
    } yield fine
      .groupBy(col("event_type"), intDiv(col("day"), lit(days)).as("t"),
        intDiv(col("band"), lit(bw / SpendBandCents)).as("b"))
      .agg(sum("k").as("k"))
      .agg(count(lit(1)).as("n_classes"), sum("k").as("n_rows"),
        sum(when(col("k") < GenKThreshold, 1L).otherwise(0L))
          .as("suppressed_classes"),
        sum(when(col("k") < GenKThreshold, col("k")).otherwise(0L))
          .as("suppressed_rows"))
      .select(lit(tg).as("time_grain"), lit(bw).as("band_cents"),
        col("n_classes"), col("n_rows"), col("suppressed_classes"),
        col("suppressed_rows"))
    rungs.reduce(_.unionByName(_))
      .withColumn("suppressed_share4",
        ratio4(col("suppressed_rows"), greatest(col("n_rows"), lit(1L))))
      .orderBy("time_grain", "band_cents")
  }

  private def qiClasses(ev: DataFrame) = {
    import graft.functions.Hashing.intDiv
    ev.select(col("event_type"),
        intDiv(col("ts_us"), lit(EventSeries.DayUs)).as("day"),
        intDiv(round(col("value") * 100).cast("long"), lit(SpendBandCents))
          .as("band"),
        col("user_id"))
      .groupBy("event_type", "day", "band")
  }

  /** Bucket classes by measure `m` (class size k, or distinct-user l)
    * into the shared [[KBuckets]] ranges; `prefix` names the measure in
    * the labels (k=1 / l=1). `k` stays the per-class ROW count so
    * row_share always means "share of exported rows". */
  private def riskHistogram(classes: DataFrame, prefix: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val bucketRank = KBuckets.reverse.foldLeft(
      lit(KBuckets.length + 1L)) { case (acc, (r, _, ub)) =>
        when(col("m") < ub, lit(r)).otherwise(acc)
      }
    val top = s"$prefix>=20"
    val labelOf = KBuckets.map { case (r, l, _) =>
      (r, l.replace("k", prefix)) } :+ ((KBuckets.length + 1L, top))
    val labelCol = labelOf.reverse.foldLeft(lit(top): Column) {
      case (acc, (r, l)) => when(col("bucket_rank") === r, lit(l)).otherwise(acc)
    }
    val cells = classes
      .withColumn("bucket_rank", bucketRank)
      .groupBy("bucket_rank")
      .agg(count(lit(1)).as("n_classes"), sum("k").as("n_rows"))
      .localCheckpoint()
    val tot = cells.agg(sum("n_rows").as("t"))
    val w = Window.orderBy("bucket_rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.crossJoin(broadcast(tot))
      .withColumn("cum_rows", sum("n_rows").over(w))
      .select(col("bucket_rank"), labelCol.as("bucket"),
        col("n_classes"), col("n_rows"),
        ratio4(col("n_rows"), col("t")).as("row_share"),
        ratio4(col("cum_rows"), col("t")).as("cum_share"))
      .orderBy("bucket_rank")
  }

  /** Histogram resolution for [[dpQuantiles]], cents per band. */
  val DpBandCents = 500L

  /** Top band index for [[dpQuantiles]] — the public value domain is
    * the FIXED grid [0, 128) × 500 cents; values past it clamp into
    * the last band. A data-dependent domain would itself leak. */
  val DpMaxBand = 127L

  /** Quantile probes for [[dpQuantiles]], in tenths (5 = p50, 9 = p90)
    * — integer-encoded so the CDF inversion is exact int64. */
  val DpQuantileTenths: Seq[Long] = Seq(5L, 9L)

  /** `privacy_dp_quantiles`: DP per-type value quantiles by the
    * textbook histogram route — release a discrete-Laplace-noised
    * count for EVERY band of the fixed public grid (absent bands get
    * noise too; releasing only occupied cells would leak occupancy),
    * then invert the released CDF to p50/p90. The inversion is pure
    * POST-PROCESSING of the DP histogram, so the quantiles inherit
    * its ε with no further budget — the standard answer to "DP
    * median" without the exponential mechanism's float lottery. Noise
    * is the [[dpCounts]] hash-derived geometric difference under
    * fresh `dpq` tags (independent of the count/sum releases).
    * Quantile rule: smallest band with 10·cum ≥ p₁₀·total over
    * released counts — exact int64, no division. A type whose
    * released total is ≤ 0 emits no row (nothing releasable).
    *
    * Shape: one (type, band) count over the scan, densified against
    * the O(types × 128) public grid (a broadcast of distinct types),
    * one cumulative window per type, O(types × probes) output. */
  def dpQuantiles(spark: SparkSession, dir: String): DataFrame =
    dpQuantilesOf(Dedup.eventsUs(spark, dir))

  /** [[dpQuantiles]] over any µs event frame. */
  def dpQuantilesOf(ev: DataFrame): DataFrame = {
    import graft.functions.Hashing.{h64, intDiv, valueCents}
    val counts = ev
      .select(col("event_type"),
        least(intDiv(valueCents(col("value")), lit(DpBandCents)),
          lit(DpMaxBand)).as("band"))
      .groupBy("event_type", "band").agg(count(lit(1)).as("true_n"))
    val grid = ev.select("event_type").distinct()
      .withColumn("band", explode(sequence(lit(0L), lit(DpMaxBand))))
    val released = grid
      .join(counts, Seq("event_type", "band"), "left")
      .withColumn("true_n", coalesce(col("true_n"), lit(0L)))
      .withColumn("h1", h64(concat_ws("|", lit("dpq1"), col("event_type"),
        col("band"))))
      .withColumn("h2", h64(concat_ws("|", lit("dpq2"), col("event_type"),
        col("band"))))
      .withColumn("noise",
        expr("cast(bit_count(((~h1) & -(~h1)) - 1) as bigint)") -
          expr("cast(bit_count(((~h2) & -(~h2)) - 1) as bigint)"))
      .withColumn("released_n", greatest(col("true_n") + col("noise"), lit(0L)))
    val wCum = Window.partitionBy("event_type").orderBy("band")
    val wAll = Window.partitionBy("event_type")
    val cum = released
      .withColumn("cum", sum("released_n").over(wCum))
      .withColumn("total", sum("released_n").over(wAll))
      .localCheckpoint(true) // one densified CDF feeds every probe
    DpQuantileTenths.map { p10 =>
        cum.filter(col("total") > 0L &&
            col("cum") * 10L >= lit(p10) * col("total"))
          .groupBy("event_type")
          .agg(min("band").as("q_band"), max("total").as("released_total"))
          .select(col("event_type"), lit(p10).as("p10"), col("q_band"),
            (col("q_band") * DpBandCents).as("q_lo_cents"),
            col("released_total"))
      }
      .reduce(_ unionAll _)
      .orderBy("event_type", "p10")
  }
  /** `privacy_dp_error`: the UTILITY audit of the DP release family —
    * the sketch-accuracy discipline (theta/kmv/cm/bloom panels)
    * applied to the privacy mechanisms: per release (count / clamped
    * sum / histogram-inverted quantile), how far the released values
    * sit from the truth the honesty-seam audit columns already carry.
    * Released per family: cell count, mean absolute error (ratio4),
    * max absolute error, and the exact-hit share — the number an
    * analyst reads to decide whether the ε = ln 2 release is usable
    * for their question. Post-hoc utility evaluation is standard DP
    * engineering practice; the panel grades the ENGINE, it does not
    * ship beside a real release.
    *
    * Error units are per-family (cells for counts, cents for sums and
    * quantiles — quantile truth is the same sparse CDF inversion over
    * un-noised counts; sparse ≡ dense inversion for true counts since
    * absent bands never cross the threshold first). All errors are
    * exact integers (noise is the deterministic hash-derived
    * geometric difference), so the rollup is order-independent.
    *
    * Shape: three map-side-combinable passes over the scan (one per
    * release family — cheaper than materializing the corpus to share
    * one), each collapsing to O(types × days / bands) cells before
    * the O(1) error rollup; output is 3 rows. */
  def dpError(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.{intDiv, ratio4, valueCents}
    val ev = Dedup.eventsUs(spark, dir)
    def rollup(errs: DataFrame, release: String): DataFrame =
      errs.agg(count(lit(1)).as("n_cells"),
          sum(abs(col("err"))).as("sae"),
          max(abs(col("err"))).as("max_abs_err"),
          sum(when(col("err") === 0L, 1L).otherwise(0L)).as("n_exact"))
        .select(lit(release).as("release"), col("n_cells"),
          ratio4(col("sae"), col("n_cells")).as("mae4"),
          col("max_abs_err"),
          ratio4(col("n_exact"), col("n_cells")).as("exact_share4"))
    val cErr = rollup(dpCountsOf(ev)
      .select((col("released") - col("true_n")).as("err")), "count")
    val sErr = rollup(dpSumsOf(ev)
      .select((col("released_c") - col("true_sum_c")).as("err")), "sum_cents")
    // true quantiles: the dpQuantiles inversion over UN-noised counts
    val trueQ = {
      val counts = ev
        .select(col("event_type"),
          least(intDiv(valueCents(col("value")), lit(DpBandCents)),
            lit(DpMaxBand)).as("band"))
        .groupBy("event_type", "band").agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy("event_type").orderBy("band")
      val wAll = Window.partitionBy("event_type")
      val cum = counts
        .withColumn("cum", sum("n").over(wCum))
        .withColumn("total", sum("n").over(wAll))
        .localCheckpoint(true) // one true CDF feeds every probe
      DpQuantileTenths.map { p10 =>
          cum.filter(col("cum") * 10L >= lit(p10) * col("total"))
            .groupBy("event_type").agg(min("band").as("q_band"))
            .select(col("event_type"), lit(p10).as("p10"),
              (col("q_band") * DpBandCents).as("true_cents"))
        }
        .reduce(_ unionAll _)
    }
    val qErr = rollup(dpQuantilesOf(ev)
      .select(col("event_type"), col("p10"),
        col("q_lo_cents").as("rel_cents"))
      .join(trueQ, Seq("event_type", "p10"))
      .select((col("rel_cents") - col("true_cents")).as("err")),
      "quantile_cents")
    cErr.unionAll(sErr).unionAll(qErr).orderBy("release")
  }
}
