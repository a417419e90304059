package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Partitioning._
import graft.{Substrate, Tables}

/** Fellegi–Sunter record-linkage calibration over the document corpus.
  *
  * Classic probabilistic linkage scores a candidate pair by summing
  * per-signal log-odds weights log(m/u), where m = P(signal agrees |
  * pair is a true match) and u = P(signal agrees | pair is a
  * non-match). This panel ESTIMATES those probabilities from the
  * corpus itself — m over the verified near-dup pair set (the engine's
  * ground-truth-by-construction match class), u over all remaining
  * pairs — giving the calibration table a blocking/scoring pipeline
  * (#226 `dedup_blocking_agreement` is the consumer) reads off.
  *
  * Scale posture: u NEVER enumerates non-match pairs — P(agree) over
  * all C(N,2) pairs is Σ_v C(n_v, 2) from the per-value marginal, an
  * O(distinct values) aggregate; the match side joins signals onto the
  * edge-sized verified pair list only. One corpus-grain stack+groupBy
  * per side; everything downstream is O(signals). Counts stay in
  * exact int64 (bounds: per-signal-value populations ≤ ~4·10⁶ docs
  * keep the ppm numerators under 2⁶³; beyond that the ppm scale drops
  * to per-mille — a documented knob, not a redesign).
  */
object Linkage {

  /** Length-band width (chars) for the `same_len_band` signal. */
  val LenBandChars = 100L

  /** Opening-prefix width for the `same_prefix` signal — the cheap
    * "same template opening" agreement a blocking pass keys on. */
  val PrefixChars = 24

  /** #262 `linkage_fs_weights`: per signal — agreement counts and
    * exact ppm rates over the match class (verified near-dup pairs at
    * the engine's τ) and the non-match class (everything else, by
    * marginal subtraction), plus the m/u odds ratio4 that IS the
    * Fellegi–Sunter weight (log-free: the rational stays
    * cross-engine-exact; consumers take logs at display time). */
  def fsWeights(spark: SparkSession, dir: String): DataFrame =
    fsWeightsOf(
      Tables.documents(spark, dir)
        .select("doc_id", "source", "lang", "n_chars", "text")
        .spread,
      MinHashLSH.nearDupPairs(spark, dir).select("d1", "d2"))

  /** [[fsWeights]] over an explicit (docs, verified-match-pair) input —
    * the shared core that lets [[scorePairs]] derive the match class
    * from its OWN checkpointed candidate frame
    * (candidateJaccard.filter(j ≥ τ) ≡ the verified pair set by
    * construction) instead of re-running the MinHash
    * shingle/candidate/verify chain a second time per invocation. */
  def fsWeightsOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, intDiv, ratio4}
    val sig = docs.select(col("doc_id"), expr(
      s"""stack(4,
         |  'same_source', source,
         |  'same_lang', lang,
         |  'same_len_band', cast(n_chars div $LenBandChars as string),
         |  'same_prefix', lower(substring(trim(text), 1, $PrefixChars))
         |) as (signal, v)""".stripMargin))
      .localCheckpoint()
    // u side: P(agree) over ALL pairs from the per-value marginal —
    // Σ_v C(n_v, 2), no pair enumeration
    val allAgree = sig.groupBy("signal", "v").agg(count(lit(1)).as("c"))
      .groupBy("signal")
      .agg(sum(intDiv(col("c") * (col("c") - 1L), lit(2L))).as("all_agree"))
    val n = docs.count()
    val allPairs = n * (n - 1L) / 2L
    // m side: agreement over the edge-sized verified match list
    val matchAgg = pairs
      .join(sig.as("a"), col("d1") === col("a.doc_id"))
      .join(sig.as("b"),
        col("d2") === col("b.doc_id") && col("a.signal") === col("b.signal"))
      .groupBy(col("a.signal").as("signal"))
      .agg(count(lit(1)).as("match_pairs"),
        sum(when(col("a.v") === col("b.v"), 1L).otherwise(0L)).as("match_agree"))
    matchAgg.join(allAgree, "signal")
      .select(col("signal"), col("match_pairs"), col("match_agree"),
        halfUpDiv(col("match_agree") * 1000000L,
          greatest(col("match_pairs"), lit(1L))).as("m_ppm"),
        lit(allPairs).minus(col("match_pairs")).as("nonmatch_pairs"),
        (col("all_agree") - col("match_agree")).as("nonmatch_agree"),
        halfUpDiv((col("all_agree") - col("match_agree")) * 1000000L,
          greatest(lit(allPairs) - col("match_pairs"), lit(1L))).as("u_ppm"))
      .withColumn("weight4", ratio4(col("m_ppm"),
        greatest(col("u_ppm"), lit(1L))))
      .orderBy("signal")
  }

  /** #264 `linkage_pattern_precision`: the decision-rule table the
    * Fellegi–Sunter weights ([[fsWeights]]) feed — over the LINEAR
    * sorted-neighborhood candidate stream (every window adjacency,
    * rejected candidates included: they are the negative class), group
    * pairs by their 4-bit signal agreement PATTERN (source, lang,
    * len-band, prefix — '1' = both docs agree) and report, per
    * pattern: candidate count, how many pass the exact-Jaccard match
    * gate, and the exact ratio4 precision. A linkage deployment reads
    * accept/review/reject thresholds straight off this table — the
    * empirical version of the FS likelihood-ratio decision rule.
    *
    * Shape: candidates are [[Blocking.snCandidatesOf]]'s output —
    * O(N·window) BY CONSTRUCTION (one native global-rank sort, int-key
    * adjacency joins; no block-size hazard). The per-doc signal tuple
    * joins on twice by doc_id (co-partitioned int keys); the pattern
    * rollup is a ≤16-group partial-aggregable count. Nothing here
    * scales worse than the SN pass itself. */
  def patternPrecision(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "lang", "n_chars", "text")
      .spread
    val sig = docs.select(col("doc_id"), col("source"), col("lang"),
        intDivCol(col("n_chars"), LenBandChars).as("len_band"),
        lower(substring(trim(col("text")), 1, PrefixChars)).as("prefix"))
      .localCheckpoint()
    val cand = Substrate.sncand(spark, dir)
    def a(c: String) = col(s"a.$c")
    def b(c: String) = col(s"b.$c")
    def bit(cond: org.apache.spark.sql.Column) = when(cond, "1").otherwise("0")
    cand
      .join(sig.as("a"), col("d1") === a("doc_id"))
      .join(sig.as("b"), col("d2") === b("doc_id"))
      .withColumn("pattern", concat(
        bit(a("source") === b("source")), bit(a("lang") === b("lang")),
        bit(a("len_band") === b("len_band")), bit(a("prefix") === b("prefix"))))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("jacc4") >= Blocking.SnTau, 1L).otherwise(0L)).as("n_match"))
      .withColumn("prec4", ratio4(col("n_match"), col("n_cand")))
      .orderBy("pattern")
  }

  /** Exact integer division as a Column (the div the band signals
    * share with the oracle side). */
  private def intDivCol(n: org.apache.spark.sql.Column, d: Long) =
    graft.functions.Hashing.intDiv(n, lit(d))

  /** Half-of-total accept rule for [[scorePairs]]: accept iff
    * 2·score4 ≥ Σ weights — data-derived (the threshold moves with the
    * calibration, no magic constant) and exact in int64. */
  val ScoreAcceptNum = 2L

  /** `linkage_score_pairs`: the APPLY half of the Fellegi–Sunter tier —
    * score every SN ∪ LSH candidate pair by the summed calibrated
    * agreement weights from [[fsWeights]] (exact int64 fixed-point
    * 1e-4 units, log-free: sums of the rational weight4 numerators
    * stay cross-engine-exact where log-space sums would not), and emit
    * the threshold decision NEXT TO the true verify outcome — the
    * daily panel a linkage deployment reads: accepted-but-unverified
    * pairs are the review queue, rejected-but-verified pairs are the
    * recall the rule is leaving behind. Train (#262) → decision table
    * (#264) → entities (#267) existed; this is the operator that
    * actually SCORES pairs with the calibrated weights.
    *
    * Per pair: candidate provenance (in_lsh/in_sn), score4 = Σ of the
    * agreeing signals' weights, accept = 2·score4 ≥ Σ all weights (the
    * half-of-total likelihood rule — data-derived, scale-adaptive),
    * is_match = the pair passes its own family's exact verify gate
    * (shingle Jaccard ≥ τ for LSH candidates, distinct-token Jaccard ≥
    * τ for SN candidates — OR when both families proposed it).
    *
    * Shape: both candidate frames are the linear operators' own
    * outputs (edge-sized); the provenance merge is one full-outer join
    * on the canonical pair key; the 4-row weight table pivots to ONE
    * broadcast row; signals join on by doc_id. Nothing exceeds the
    * candidate volume. */
  def scorePairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "lang", "n_chars", "text")
      .spread
    val sig = docs.select(col("doc_id"), col("source"), col("lang"),
        intDivCol(col("n_chars"), LenBandChars).as("len_band"),
        lower(substring(trim(col("text")), 1, PrefixChars)).as("prefix"))
      .localCheckpoint()
    // the unfiltered candidate-Jaccard frame is the SESSION-SHARED memo
    // (one MinHash shingle/candidate/verify pass per session, shared
    // with the τ-verified family); it feeds BOTH the provenance merge
    // (lsh_ok) and the fsWeights match class (its τ-accepted subset ≡
    // nearDupPairs by construction)
    val cj = Substrate.lshcj(spark, dir)
      .select("d1", "d2", "jaccard")
    // the 4-row calibration pivoted to one broadcastable row of exact
    // int64 weights (weight4's pre-divide fixed-point numerator)
    val w = fsWeightsOf(docs, cj.filter(col("jaccard") >= 0.5).select("d1", "d2"))
      .select(col("signal"),
        halfUpDiv(col("m_ppm") * 10000L, greatest(col("u_ppm"), lit(1L)))
          .as("wgt"))
      .groupBy()
      .pivot("signal",
        Seq("same_source", "same_lang", "same_len_band", "same_prefix"))
      .agg(first("wgt"))
      .select(col("same_source").as("w_source"), col("same_lang").as("w_lang"),
        col("same_len_band").as("w_len"), col("same_prefix").as("w_prefix"))
    val lshC = cj
      .select(col("d1"), col("d2"), (col("jaccard") >= 0.5).as("lsh_ok"))
    val snC = Substrate.sncand(spark, dir)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"),
        (col("jacc4") >= Blocking.SnTau).as("sn_ok"))
    val cand = lshC.join(snC, Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"),
        when(col("lsh_ok").isNotNull, 1L).otherwise(0L).as("in_lsh"),
        when(col("sn_ok").isNotNull, 1L).otherwise(0L).as("in_sn"),
        (coalesce(col("lsh_ok"), lit(false)) ||
          coalesce(col("sn_ok"), lit(false))).as("is_match"))
    def a(c: String) = col(s"a.$c")
    def b(c: String) = col(s"b.$c")
    cand
      .join(sig.as("a"), col("d1") === a("doc_id"))
      .join(sig.as("b"), col("d2") === b("doc_id"))
      .crossJoin(broadcast(w))
      .withColumn("score4",
        when(a("source") === b("source"), col("w_source")).otherwise(0L) +
          when(a("lang") === b("lang"), col("w_lang")).otherwise(0L) +
          when(a("len_band") === b("len_band"), col("w_len")).otherwise(0L) +
          when(a("prefix") === b("prefix"), col("w_prefix")).otherwise(0L))
      .withColumn("accept", col("score4") * ScoreAcceptNum >=
        col("w_source") + col("w_lang") + col("w_len") + col("w_prefix"))
      .select("d1", "d2", "in_lsh", "in_sn", "score4", "accept", "is_match")
      .orderBy("d1", "d2")
  }

  /** #267 `linkage_entity_clusters`: entity resolution over the UNION
    * of the two verified candidate families — LSH shingle pairs and
    * sorted-neighborhood pairs — closed transitively into entities,
    * with per-entity edge provenance. The panel answers the multi-pass
    * blocking question directly: how many entities exist only because
    * the families compose (an SN edge bridging two LSH clusters and
    * vice versa), and which entities span sources (the cross-feed
    * merges a single-family pass misses). Per entity (min-doc label):
    * doc count, distinct sources, and edge counts by provenance
    * (LSH-only / SN-only / both).
    *
    * Shape: both pair lists are the memoized/linear operators' own
    * outputs (edge-sized); the full-outer provenance join is
    * edge-on-edge; closure is the shared O(diameter)-round min-label
    * engine; rollups are O(nodes)+O(edges) partial-aggregable
    * groupBys. Output O(entities). */
  def entityClusters(spark: SparkSession, dir: String): DataFrame = {
    val lsh = MinHashLSH.nearDupPairs(spark, dir).select("d1", "d2")
    val sn = graft.operators.Blocking.sortedNeighborhood(spark, dir)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"))
    val edges = lsh.withColumn("in_lsh", lit(1L))
      .join(sn.withColumn("in_sn", lit(1L)), Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"),
        coalesce(col("in_lsh"), lit(0L)).as("in_lsh"),
        coalesce(col("in_sn"), lit(0L)).as("in_sn"))
      .localCheckpoint()
    // star contraction, not one-hop label prop: SN adjacency CHAINS
    // give this union graph a corpus-growing diameter (50+ label-prop
    // rounds measured at sf0.01; star contraction closes it in ~7)
    val comp = MinHashLSH.componentsStar(edges.select("d1", "d2"))
      .localCheckpoint()
    val nodeStats = comp
      .join(Tables.documents(spark, dir).select("doc_id", "source").spread,
        col("node") === col("doc_id"))
      .groupBy(col("label").as("entity_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"))
    val edgeStats = edges
      .join(comp, col("d1") === col("node"))
      .groupBy(col("label").as("entity_id"))
      .agg(
        sum(when(col("in_lsh") === 1L && col("in_sn") === 0L, 1L)
          .otherwise(0L)).as("e_lsh_only"),
        sum(when(col("in_sn") === 1L && col("in_lsh") === 0L, 1L)
          .otherwise(0L)).as("e_sn_only"),
        sum(when(col("in_lsh") === 1L && col("in_sn") === 1L, 1L)
          .otherwise(0L)).as("e_both"))
    nodeStats.join(edgeStats, "entity_id")
      .select("entity_id", "n_docs", "n_sources",
        "e_lsh_only", "e_sn_only", "e_both")
      .orderBy("entity_id")
  }

  /** `linkage_fp_ssjoin`: the EXACT set-similarity self-join at the
    * record-linkage grain — [[DocDedup.prefixJoinOf]] applied to the
    * winnowing FINGERPRINT sets (a LongType element column, not text
    * shingles), proving the prefix-filter join is a generic API over
    * any (id, set-element) frame: every pair with fingerprint-set
    * Jaccard ≥ τ, no window, no df cap, no probabilistic miss — the
    * exact counterpart of the count-thresholded `dedup_winnowing`
    * (#307), and the entity-resolution entry point beside
    * `RangeJoin.pointInInterval`.
    *
    * Why fingerprints and not raw token sets: an exact join's output
    * is Θ(true pairs), a property of the DATA — measured on this
    * corpus the distinct-token grain is 71% dense at τ=0.5 (8.9M of
    * 12.5M possible pairs at sf0.1) because the generator draws all
    * docs from one vocabulary, so ANY exact operator over it is
    * quadratic in output. Winnowing minima subsample the k-gram space
    * per document, so fp-set similarity concentrates on real near-dups
    * and the pair list stays edge-sized at every SF. */
  def fpSetJoin(spark: SparkSession, dir: String): DataFrame =
    Substrate.ssjfp(spark, dir)
      .orderBy("d1", "d2")
}
