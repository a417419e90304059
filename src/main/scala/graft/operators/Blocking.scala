package graft.operators

import graft.Partitioning._
import graft.{Substrate, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge):
  * the third candidate-generation family next to shingle-LSH and
  * embedding-LSH. Sort the corpus ONCE by a cheap normalized blocking
  * key and compare each document only to its `window−1` successors in
  * that order. Candidate volume is exactly `(N−1)+(N−2)+…` capped at
  * `N·(window−1)` — linear in the corpus BY CONSTRUCTION, with no
  * per-key hot-bucket hazard at all (the failure mode the LSH families
  * need df/bucket caps for). The price is recall limited to pairs the
  * sort key co-locates, which is why real pipelines run it as a cheap
  * complementary pass, not a replacement.
  */
object Blocking {

  /** Neighborhood width: each doc is compared to the `Window−1` docs
    * that follow it in blocking-key order. */
  val SnWindow = 4

  /** Exact-Jaccard accept threshold, in the same τ=0.5 the shingle
    * near-dup families use. */
  val SnTau = 0.5

  /** Blocking-key length: the first characters of the normalized text.
    * Near-identical docs normalize to near-identical prefixes, so they
    * sort adjacent; 16 chars keeps the sort key narrow. */
  val SnKeyLen = 16

  /** #213 `dedup_sorted_neighborhood`: candidate pairs from a sorted
    * neighborhood of width [[SnWindow]] over the normalized-prefix
    * blocking key, verified by exact distinct-token Jaccard ≥ [[SnTau]].
    *
    * Shape: ONE global sort (the native range-partitioned
    * [[Ranking.globalRowNumber]] pass — no single-partition window),
    * then a rank-adjacency equi-join: each doc explodes to `window−1`
    * (rn, rn+k) probes and joins the rank frame on the integer rank —
    * hash-partitioned, uniformly distributed keys by construction.
    * Token sets join in by doc_id (co-partitioned both sides). At
    * 100 TB: sort = one range exchange of (key, doc_id) rows only,
    * probes = 3 narrow int-key joins; nothing quadratic anywhere.
    *
    * Output: one row per accepted pair with the rank gap and the exact
    * HALF_UP 1e-4 Jaccard. */
  def sortedNeighborhood(spark: SparkSession, dir: String,
                         window: Int = SnWindow, tau: Double = SnTau): DataFrame =
    if (window == SnWindow)
      // default window: the accepted list is a filter over the
      // session-shared unfiltered candidate frame — the global sort +
      // verify pass runs once per session for this query,
      // `linkage_entity_clusters`, `dedup_blocking_agreement`,
      // `linkage_pattern_precision`, `linkage_score_pairs` and
      // `dedup_sn_funnel` together
      Substrate.sncand(spark, dir)
        .filter(col("jacc4") >= tau)
        .select("d1", "d2", "gap", "jacc4")
        .orderBy("d1", "d2")
    else sortedNeighborhoodOf(
      Tables.documents(spark, dir).select("doc_id", "text").spread,
      window, tau)

  /** [[sortedNeighborhood]] core over any (doc_id, text) frame. */
  def sortedNeighborhoodOf(docs: DataFrame,
                           window: Int = SnWindow,
                           tau: Double = SnTau): DataFrame =
    snCandidatesOf(docs, window)
      .filter(col("jacc4") >= tau)
      .select("d1", "d2", "gap", "jacc4")
      .orderBy("d1", "d2")

  /** The default blocking key: normalized-text PREFIX — near-identical
    * docs normalize to near-identical openings, so they sort adjacent. */
  def snKeyPrefix(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(DocDedup.normalized(text), 1, SnKeyLen)

  /** The complementary blocking key: normalized-text SUFFIX (reversed
    * prefix) — the standard multi-pass SN move: a doc pair whose
    * openings diverge (different title, same body) sorts apart under
    * the prefix key but adjacent under the ending. */
  def snKeySuffix(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(reverse(DocDedup.normalized(text)), 1, SnKeyLen)

  /** The UNFILTERED sorted-neighborhood candidate frame — every window
    * adjacency with its exact Jaccard, before the τ accept gate. The
    * verified pass ([[sortedNeighborhoodOf]]) filters it; the linkage
    * calibration tier ([[Linkage.patternPrecision]]) consumes it whole,
    * because rejected candidates are exactly the negative class a
    * decision rule is calibrated against. */
  def snCandidatesOf(docs: DataFrame, window: Int = SnWindow): DataFrame =
    snCandidatesKeyed(docs, snKeyPrefix(col("text")), window)

  /** [[snCandidatesOf]] under an ARBITRARY blocking key — what a
    * multi-pass SN deployment varies between passes (prefix, suffix,
    * phonetic key, …) while the sort/adjacency/verify machinery stays
    * one implementation. */
  def snCandidatesKeyed(docs: DataFrame,
                        key: org.apache.spark.sql.Column,
                        window: Int = SnWindow): DataFrame =
    snCandidatesKeyedWith(
      docs.select(col("doc_id"), key.as("bkey")),
      docs.select(col("doc_id"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("ts")),
      window)

  /** [[snCandidatesKeyed]] over PRE-DERIVED (doc_id, bkey) and
    * (doc_id, ts) frames — the multi-pass entry point: a caller
    * running several key passes derives keys + verify token sets in
    * ONE text scan and feeds each pass its slice (snMultiKey), instead
    * of re-parsing the corpus text per pass per join side. */
  private def snCandidatesKeyedWith(keyed: DataFrame, ts: DataFrame,
                                    window: Int = SnWindow): DataFrame = {
    import graft.functions.Hashing.ratio4
    // both sides of the adjacency join read the rank frame — checkpoint
    // so the global sort pass runs ONCE (two GlobalRank subtrees don't
    // exchange-reuse); the key itself is dropped first (only the rank
    // survives it)
    val ranked = Ranking.globalRowNumber(keyed, Seq(col("bkey"), col("doc_id")))
      .select("rn", "doc_id").checkpointSer
    val probes = ranked
      .withColumn("k", explode(sequence(lit(1L), lit(window - 1L))))
      .select(col("doc_id").as("d1"), (col("rn") + col("k")).as("rn_b"),
        col("k").as("gap"))
    val pairs = probes.join(
      ranked.select(col("rn").as("rn_b"), col("doc_id").as("d2")), "rn_b")
    pairs
      .join(ts.select(col("doc_id").as("d1"), col("ts").as("ts1")), "d1")
      .join(ts.select(col("doc_id").as("d2"), col("ts").as("ts2")), "d2")
      .withColumn("inter", size(array_intersect(col("ts1"), col("ts2"))).cast("long"))
      .withColumn("uni",
        (size(col("ts1")) + size(col("ts2"))).cast("long") - col("inter"))
      .withColumn("jacc4", ratio4(col("inter"), greatest(col("uni"), lit(1L))))
      .select("d1", "d2", "gap", "jacc4")
  }

  /** #226 `dedup_blocking_agreement`: cross-family agreement between
    * the cheap sorted-neighborhood pass and the MinHash-LSH verified
    * pair set — the panel that answers "what does the cheap pass
    * miss, and is what it adds real": pair counts per family, the
    * overlap, recall of the LSH set by the SN set and the share of SN
    * pairs the LSH set confirms. The two families gate on DIFFERENT
    * exact similarities (distinct-token vs shingle Jaccard), so this
    * is agreement, not ground-truth recall — which is exactly what an
    * operator tuning a multi-pass dedup needs to see.
    *
    * Shape: both pair sets are the operators' own outputs (SN pairs
    * re-canonicalized to id order — its native orientation is sort
    * order); the overlap is one join on the canonical pair key; output
    * is ONE row. */
  /** `dedup_sn_multikey`: the multi-pass SN recall panel — accepted
    * pairs under the prefix key vs the complementary SUFFIX key, their
    * overlap, the union, and the exact ratio4 gain the second pass
    * adds over prefix-only. Sorted neighborhood's known blind spot is
    * pairs the ONE sort key fails to co-locate; the standard fix is
    * several cheap passes under different keys, and this panel is the
    * evidence for (or against) paying for the second pass — the
    * multi-pass twin of #226's SN×LSH agreement.
    *
    * Shape: two [[snCandidatesKeyed]] passes (each linear by
    * construction), canonicalized pair keys, one semi-join for the
    * overlap, ONE output row. */
  def snMultiKey(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
    def canon(c: DataFrame) = c
      .filter(col("jacc4") >= SnTau)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"))
      .distinct()
    // prefix pass: the session-shared candidate frame (identical values
    // — same key, window and verify expressions); only the complementary
    // SUFFIX pass derives its own key + token base here
    val base = docs.select(col("doc_id"),
        snKeySuffix(col("text")).as("ksuf"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("ts"))
      .checkpointSer
    val pre = canon(Substrate.sncand(spark, dir)).checkpointSer
    val suf = canon(snCandidatesKeyedWith(
        base.select(col("doc_id"), col("ksuf").as("bkey")),
        base.select("doc_id", "ts")))
      .checkpointSer
    val a = pre.agg(count(lit(1)).as("n_prefix"))
    val b = suf.agg(count(lit(1)).as("n_suffix"))
    val c = pre.join(suf, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    a.crossJoin(b).crossJoin(c)
      .select(col("n_prefix"), col("n_suffix"), col("n_common"),
        (col("n_prefix") + col("n_suffix") - col("n_common")).as("n_union"),
        ratio4(col("n_suffix") - col("n_common"),
          greatest(col("n_prefix"), lit(1L))).as("gain4"))
  }

  /** `dedup_sn_funnel`: the cost-observability funnel of the sorted-
    * neighborhood pass — the SN member of the per-family funnel suite
    * (#361 grades the exact ssjoin, #281 the LSH buckets). SN's
    * capacity claim is "exactly window−1 comparisons per doc, nothing
    * quadratic anywhere"; this panel RELEASES the measured stages:
    * docs entering the sort, adjacency probes issued
    * (docs × (window−1)), candidate pairs actually compared (probes
    * whose partner rank exists — the tail of the ranking absorbs the
    * difference), accepted pairs at τ, and the accept yield a
    * capacity planner reads before running the pass on a new corpus.
    *
    * Shape: ONE [[snCandidatesOf]] pass (global range sort + int-key
    * adjacency joins), checkpointed, then two counted aggregates;
    * output ONE row. */
  def snFunnel(spark: SparkSession, dir: String,
               window: Int = SnWindow, tau: Double = SnTau): DataFrame = {
    import graft.functions.Hashing.ratio4
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
    // default window reads the session-shared candidate frame (already
    // checkpointed by the memo); non-default falls back to its own pass
    val cand = if (window == SnWindow) Substrate.sncand(spark, dir)
               else snCandidatesOf(docs, window).checkpointSer
    val dc = docs.agg(count(lit(1)).as("n_docs"))
    val cc = cand.agg(count(lit(1)).as("n_candidates"),
      sum(when(col("jacc4") >= tau, 1L).otherwise(0L)).as("n_accepted"))
    dc.crossJoin(cc)
      .select(col("n_docs"),
        (col("n_docs") * (window - 1L)).as("n_probes"),
        col("n_candidates"), col("n_accepted"),
        ratio4(col("n_accepted"), greatest(col("n_candidates"), lit(1L)))
          .as("accept_yield4"))
  }

  def blockingAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val mh = MinHashLSH.nearDupPairs(spark, dir).select("d1", "d2")
    val sn = sortedNeighborhood(spark, dir)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"))
      .distinct()
    val common = mh.join(sn, Seq("d1", "d2"), "left_semi")
    val a = mh.agg(count(lit(1)).as("n_lsh"))
    val b = sn.agg(count(lit(1)).as("n_sn"))
    val c = common.agg(count(lit(1)).as("n_common"))
    a.crossJoin(b).crossJoin(c)
      .select(col("n_lsh"), col("n_sn"), col("n_common"),
        ratio4(col("n_common"), greatest(col("n_lsh"), lit(1L)))
          .as("lsh_recall4"),
        ratio4(col("n_common"), greatest(col("n_sn"), lit(1L)))
          .as("sn_confirmed4"))
  }
}
