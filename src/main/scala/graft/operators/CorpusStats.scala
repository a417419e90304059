package graft.operators

import graft.Partitioning._
import graft.Tables
import graft.functions.Hashing.ratio4
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition reports: the term/shingle/cluster distribution
  * panels a curation dashboard shows next to the per-document signals
  * (QualitySignals) and the near-dup audits (Curation). Everything here
  * aggregates to tiny outputs, so the scale cost is the scan + one or
  * two partial-aggregable shuffles.
  */
object CorpusStats {

  /** Zipf head: the `topN` corpus terms by total term frequency, with
    * document frequency and a dense 1-based rank (tf desc, term asc —
    * total order, so the rank is deterministic). Aggregation is
    * (doc, term) → (term): both layers partial-aggregate map-side, and
    * the per-doc pre-count bounds the second shuffle's key volume by
    * distinct (doc, term), never raw token volume. The rank window runs
    * on the already-LIMITed head, not the corpus. */
  def zipfTerms(spark: SparkSession, dir: String, topN: Int = 50): DataFrame = {
    // fused per-doc term counts in the scan stage: the former
    // explode → groupBy(doc_id, term) spelling shuffled the corpus at
    // TOKEN grain before the term rollup — 112 s at native sf10; this
    // plan's one exchange is at vocabulary grain (tf = Σc, df = one
    // row per (doc, term): identical values, identical hashes)
    val head = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).spread
      .select(explode(graft.plans.TextExpressions.termCounts(col("text"))).as("tc"))
      .select(col("tc.term").as("term"), col("tc.c").as("c"))
      .groupBy("term").agg(sum("c").as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(topN)
    head
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("term")))
          .cast("long"))
      .select("rank", "term", "tf", "df")
      .orderBy("rank")
  }

  /** Shingle document-frequency profile: how many distinct 3-shingles
    * occur in exactly `df` documents. The long tail at df=1 is original
    * content; mass at high df is boilerplate — this is the histogram
    * that justifies the near-dup hot-shingle cap (DocDedup.MaxShingleDf)
    * on a given corpus. Two partial-aggregable shuffles (shingle → df),
    * output is ~tens of rows. */
  def shingleDfProfile(spark: SparkSession, dir: String): DataFrame =
    DocDedup.docShingles(spark, dir)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n_shingles"))
      .orderBy("df")

  /** #165 `corpus_heaps_curve`: vocabulary growth over the corpus in
    * doc_id order (Heaps' law) — per tenth of the id range: token
    * volume, NEW term types first seen there, and the running
    * cumulative of both. The curve's flattening rate is what justifies
    * (or refutes) a vocabulary cap at a given corpus scale. One token
    * scan feeds both aggregates (bucket token counts; term → first
    * doc_id → bucket), each partial map-side; the cumulative window
    * runs over the O(10) bucket rows, never the corpus. Bucket =
    * (doc_id·10) div (max_id+1) — exact integer arithmetic, so the
    * cut points reproduce in any engine. */
  def heapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val mx = Tables.documents(spark, dir).agg(max("doc_id").as("m"))
    def bucketOf(id: org.apache.spark.sql.Column) =
      graft.functions.Hashing.intDiv(id * 10L, col("m") + 1L)
    // ONE token scan, for real: the former spelling derived byBucket
    // and newTypes from the same exploded frame, but their groupings
    // differ, so no exchange was reused and the corpus was tokenized
    // TWICE (measured superlinear at sf10: 13.4× for 10× data). Now
    // the scan aggregates once at (bucket, term) grain — map-side
    // combinable, bounded by 10×|vocabulary| not the token stream —
    // and that small frame is checkpointed and feeds both rollups.
    // min(bucket) per term ≡ bucket(min doc_id): the bucket cut is
    // monotonic in doc_id, so first-occurrence semantics survive the
    // pre-aggregation. `spread`, not `fanOut`: per-task partial-agg
    // key volume is bounded by 10×|vocabulary| — an order under the
    // hash-agg sort-fallback regime the dedup_passages fanOut targets
    // (~1.5M near-unique keys/task) — but the single-file local scan
    // still needs core-count parallelism for the explode (measured:
    // 32.9 s single-split vs ~12 s spread at sf10), while a 100 TB
    // scan is thousands of splits and passes through untouched.
    // NOT the fused TermCountArray spelling either: this plan's
    // exchange is already at (bucket, term) grain — the kernel would
    // shrink no shuffle, and its per-doc hash-map constant measured
    // ~2× SLOWER than streaming explode + hash partial-agg at sf1 AND
    // sf10 (the corpus_zipf win came from collapsing a TOKEN-grain
    // exchange, which heapsCurve never had).
    // spread the RAW text before tokenizing: applied after the tokens()
    // projection, the rebalance exchange reads the projection's OUTPUT,
    // i.e. tokenization still runs inside the few-split scan stage
    // (measured at sf10: 34.8 s with a post-projection spread vs the
    // pre-projection form — the explode/agg side was never the cost)
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).spread
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(col("t")).as("term"))
      .crossJoin(broadcast(mx))
      .groupBy(bucketOf(col("doc_id")).as("bucket"), col("term"))
      .agg(count(lit(1)).as("toks"))
      .checkpointSer
    val byBucket = g.groupBy("bucket").agg(sum("toks").as("toks"))
    val newTypes = g.groupBy("term").agg(min("bucket").as("fb"))
      .groupBy(col("fb").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .select(col("bucket"), col("toks"),
        sum("toks").over(w).as("cum_toks"),
        col("new_types"),
        sum("new_types").over(w).as("cum_types"))
      .orderBy("bucket")
  }

  /** `corpus_ingest_novelty`: the SHINGLE-level diminishing-returns
    * curve — [[heapsCurve]] asks "does more data add vocabulary"; THIS
    * asks "does more data add CONTENT": per ingest-order decile
    * ((doc_id·10) div (max_id+1), the heapsCurve cut discipline), the
    * document count, total per-doc distinct 3-shingle instances, the
    * decile's distinct shingles, how many of those are NEW (first
    * occurrence lands in this decile) and the exact ratio4 new share.
    * A flattening new_share4 is the empirical "we are re-crawling the
    * same content" signal that caps a crawl budget — the marginal
    * value curve an acquisition roadmap reads.
    *
    * Shape: one shingle scan feeds both rollups (decile instances;
    * shingle → min decile → new-per-decile) — the heapsCurve shape
    * lifted from terms to shingles: keyed shuffles on the uniform
    * shingle, O(10) outputs, the 1-row max broadcast. */
  def ingestNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.intDiv
    val mx = Tables.documents(spark, dir).agg(max("doc_id").as("m"))
    def bucketOf(id: org.apache.spark.sql.Column) =
      intDiv(id * 10L, col("m") + 1L)
    val shd = DocDedup.docShingles(spark, dir)
      .crossJoin(broadcast(mx))
      .select(col("doc_id"), col("shingle"), bucketOf(col("doc_id")).as("decile"))
    val docsPer = Tables.documents(spark, dir).select("doc_id").spread
      .crossJoin(broadcast(mx))
      .groupBy(bucketOf(col("doc_id")).as("decile"))
      .agg(count(lit(1)).as("n_docs"))
    val inst = shd.groupBy("decile")
      .agg(count(lit(1)).as("n_instances"),
        countDistinct("shingle").as("n_distinct"))
    val newPer = shd.groupBy("shingle").agg(min("decile").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_new"))
    docsPer.join(inst, Seq("decile"), "left").join(newPer, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"),
        coalesce(col("n_instances"), lit(0L)).as("n_instances"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        ratio4(coalesce(col("n_new"), lit(0L)),
          greatest(coalesce(col("n_distinct"), lit(0L)), lit(1L)))
          .as("new_share4"))
      .orderBy("decile")
  }

  /** `source_originality`: first-occurrence shingle attribution per
    * source — every distinct 3-shingle is OWNED by the source of its
    * min-doc_id occurrence (deterministic ownership, the
    * [[ingestNovelty]] first-occurrence rule projected onto feeds);
    * per source: docs, distinct shingles appearing, shingles it owns,
    * and the exact ratio4 originality share. A feed whose originality
    * collapses is re-shipping content first seen elsewhere (CDN
    * mirror, aggregator, re-crawl) — #94's dup-rate says how much a
    * feed duplicates ITSELF; this says how much it duplicates the
    * REST of the corpus, the cross-feed acquisition signal.
    *
    * Shape: two linear rollups over the shingle frame (distinct per
    * source; min-doc ownership), both uniform keyed shuffles; the
    * ownership join is doc-keyed; O(sources) output. */
  def sourceOriginality(spark: SparkSession, dir: String): DataFrame = {
    val docsrc = Tables.documents(spark, dir).select("doc_id", "source").spread
    val shd = DocDedup.docShingles(spark, dir).join(docsrc, "doc_id")
    val dist = shd.groupBy("source")
      .agg(countDistinct("shingle").as("n_distinct"))
    val own = shd.groupBy("shingle").agg(min("doc_id").as("doc_id"))
      .join(docsrc, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_owned"))
    val nd = docsrc.groupBy("source").agg(count(lit(1)).as("n_docs"))
    nd.join(dist, Seq("source"), "left").join(own, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"),
        ratio4(coalesce(col("n_owned"), lit(0L)),
          greatest(coalesce(col("n_distinct"), lit(0L)), lit(1L)))
          .as("originality4"))
      .orderBy("source")
  }

  val HhThreshold = 32L  // heavy hitter = count·threshold > total

  /** pmiPairs noise gate / head size. */
  val PmiMinPair = 3L
  val PmiHead = 40

  /** boilerplatePrefix: tokens per prefix key / family-size gate. */
  val PrefixLen = 8
  val MinFamily = 3L
  val HhCapacity = 64    // MG counters; guarantee needs capacity+1 > threshold

  /** #168 `corpus_heavy_hitters`: EXACT corpus-wide heavy hitters via
    * the two-pass sketch→verify pattern — the shape that survives a
    * vocabulary too large to aggregate casually:
    *
    *   pass 1: ONE scan aggregating the whole token stream into a
    *     single ≤[[HhCapacity]]-counter [[graft.plans.MisraGries]]
    *     sketch plus the exact token total — no shuffle at all beyond
    *     the one-row final merge (every partial buffer is ≤ k
    *     counters), and since capacity+1 > threshold, every term with
    *     count > total/threshold is GUARANTEED to be a sketch key;
    *   pass 2: exact recount of ONLY the candidate keys (broadcast
    *     IN-filter, ≤ k distinct keys in the shuffle), keeping those
    *     strictly above total/threshold.
    *
    * The output is exact and deterministic — the sketch only ever
    * proposes candidates, so its estimate error never reaches the
    * answer (sketch-assisted, oracle-checked). Driver state between
    * the passes is ≤ k strings (the Lloyd discipline). */
  def heavyHitters(spark: SparkSession, dir: String,
                   threshold: Long = HhThreshold,
                   capacity: Int = HhCapacity): DataFrame = {
    require(capacity + 1 > threshold,
      "MG guarantee needs capacity+1 > threshold")
    def toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")).spread
      .select(explode(col("t")).as("term"))
    val pass1 = toks.agg(
      graft.plans.MisraGries.mgSketch(col("term"), capacity).as("sk"),
      count(lit(1)).as("total")).collect()(0)
    val candidates = pass1.getMap[String, Long](0).keys.toSeq.sorted
    val total = pass1.getLong(1)
    toks.filter(col("term").isin(candidates: _*))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") * threshold > total)
      .withColumn("share", ratio4(col("n"), lit(total)))
      .select("term", "n", "share")
      .orderBy(col("n").desc, col("term"))
  }

  /** #169 `docs_length_survival`: the document-length survival curve at
    * power-of-two token thresholds — docs and token mass surviving a
    * "drop documents shorter than X" gate, the panel read before
    * choosing a min-length filter (how much mass does each candidate
    * cutoff cost?). One scan, 22 conditional sums fused into a single
    * partial-aggregable aggregate (no row multiplication), unpivoted to
    * 11 rows driver-side via stack over the 1-row aggregate. */
  def lengthSurvival(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .spread
    val exprs = (0 to 10).flatMap { i =>
      val x = 1L << i
      Seq(sum(when(col("n_toks") >= x, 1L).otherwise(0L)).as(s"d$i"),
        sum(when(col("n_toks") >= x, col("n_toks")).otherwise(0L)).as(s"t$i"))
    }
    d.agg(exprs.head, exprs.tail: _*)
      .select(expr("stack(11, " +
        (0 to 10).map(i => s"${1L << i}L, d$i, t$i").mkString(", ") +
        ") as (min_toks, n_docs, tok_mass)"))
      .orderBy("min_toks")
  }

  /** #180 `corpus_zipf_coverage`: cumulative head-coverage curve — for
    * vocabulary head sizes K = 1, 2, 4, …, 1024, how many token
    * occurrences the top-K terms (tf desc, term asc) cover, as exact
    * counts and ratio4 share. This is THE vocab-size decision panel
    * (where #115's Zipf head shows the shape, this shows the integral:
    * "1024 types cover 97% of the mass ⇒ a 50k BPE vocab is plenty"),
    * and the curve saturating at the corpus total is its own
    * consistency check. Ranking the vocab uses the native
    * range-partitioned [[Ranking.globalRowNumber]] — vocab tables at
    * web scale are 10⁸ rows, far past the single-partition-window
    * cliff — and the 11 conditional (count, mass) pairs fuse into ONE
    * partial-aggregable aggregate over the ranked frame, unpivoted
    * driver-side via stack (the #169 discipline). */
  def zipfCoverage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val tf = Tables.documents(spark, dir)
      .select(TextAnalysis.tokens(col("text")).as("t")).spread
      .select(explode(col("t")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val ranked = Ranking.globalRowNumber(tf, Seq(col("tf").desc, col("term")))
    val exprs = (0 to 10).flatMap { i =>
      val k = 1L << i
      Seq(sum(when(col("rn") <= k, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(col("rn") <= k, col("tf")).otherwise(0L)).as(s"m$i"))
    } :+ sum("tf").as("tot")
    ranked.agg(exprs.head, exprs.tail: _*)
      .select(expr("stack(11, " +
        (0 to 10).map(i => s"${1L << i}L, n$i, m$i").mkString(", ") +
        ") as (head_k, n_terms, tf_mass)"), col("tot"))
      .select(col("head_k"), col("n_terms"), col("tf_mass"),
        ratio4(col("tf_mass"), col("tot")).as("coverage"))
      .orderBy("head_k")
  }

  val OovVocab = 200

  /** #170 `source_oov_rate`: per-source out-of-vocabulary occurrence
    * share against the corpus's own top-[[OovVocab]] term vocabulary
    * (tf desc, term asc — deterministic head). The cross-domain
    * tokenizer/vocab health panel: a feed whose tokens mostly miss the
    * head vocabulary either speaks another register or is noise. Vocab
    * election is one (term) aggregate + LIMIT (driver-bounded head);
    * scoring BROADCASTs the vocab against the token stream, so the
    * only corpus-sized shuffle is the final O(sources) rollup. */
  def oovRate(spark: SparkSession, dir: String,
              vocabSize: Int = OovVocab): DataFrame = {
    def tk = Tables.documents(spark, dir)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("t")).spread
      .select(col("source"), explode(col("t")).as("term"))
    val vocab = tk.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(true).as("inv"))
    tk.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("source").agg(count(lit(1)).as("n_occ"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", ratio4(col("n_oov"), col("n_occ")))
      .select("source", "n_occ", "n_oov", "oov_rate")
      .orderBy("source")
  }

  /** Per-document coverage by the corpus's `topN` bigrams: the share of
    * a document's bigram occurrences that are corpus-head bigrams.
    * High coverage = the document is assembled from the corpus's most
    * common phrasing (template/boilerplate smell); low = rare phrasing.
    *
    * Two passes over the derived bigram frame — one to elect the head
    * (count + LIMIT, a tiny result), one to score documents against it
    * via a BROADCAST left join (the head is topN rows by construction,
    * so the scoring pass adds no shuffle beyond its own per-doc
    * aggregation). Deliberately NOT materialized in between: at corpus
    * scale the bigram frame is larger than the input, so two scans beat
    * one persist. */
  def bigramCoverage(spark: SparkSession, dir: String, topN: Int = 100): DataFrame = {
    // fused per-doc (pair, c) counts (plans.PairCountArray) in place of
    // the interpreted transform + occurrence-grain explode: the head
    // election shuffles per-doc DISTINCT pairs (map-side combinable)
    // and the scoring join probes each doc's distinct pairs once —
    // n_bigrams = Σc and covered = Σc·hit are the same occurrence sums
    def bigrams: DataFrame = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.plans.TextExpressions.pairCounts(col("text")).as("pcs")).spread
      .select(col("doc_id"), explode(col("pcs")).as("pc"))
      .select(col("doc_id"), col("pc.pair").as("pair"), col("pc.c").as("c"))
    val head = bigrams.groupBy("pair").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(topN)
      .select(col("pair"), lit(1L).as("hit"))
    bigrams.join(broadcast(head), Seq("pair"), "left")
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        coalesce(sum(col("c") * col("hit")), lit(0L)).as("covered"))
      .select(col("doc_id"), col("n_bigrams"), col("covered"),
        ratio4(col("covered"), col("n_bigrams")).as("coverage"))
      .orderBy("doc_id")
  }

  /** #172 `corpus_pmi_pairs`: strongest adjacent-bigram associations by
    * exact-integer lift — the collocation panel (PMI's rank twin) a
    * curation team reads to find multi-word units worth protecting from
    * token-level ops (and template phrases worth flagging). Published
    * PMI is log[p(w1,w2)/(p(w1)p(w2))]; log is monotone, so ranking by
    * the RATIO is rank-equivalent, and the ratio is computed in two
    * exact integer steps that each stay below 2⁶³ at a 10¹⁴-token
    * corpus: p21_4 = halfUp(c12·10⁴ / c1) ≤ 10⁴ (p(w2|w1) in 1e-4
    * units), lift4 = halfUp(p21_4·N / c2) (lift in 1e-4 units; the
    * two-step spelling IS the definition, identically in both engines —
    * no 128-bit c12·N product, no floats). Pairs below [[PmiMinPair]]
    * occurrences are noise-gated (the classic rare-pair PMI bias).
    *
    * Shape: one token scan feeds the unigram and pair aggregates (both
    * partial map-side, keyed by term — vocab-sized by Heaps' law, never
    * corpus-sized); the filtered pair table joins the unigram counts on
    * its own hash keys, the 1-row total broadcasts, and the head
    * election is a TakeOrdered(topN) — no corpus shuffle anywhere. */
  def pmiPairs(spark: SparkSession, dir: String, topN: Int = PmiHead): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    // fused per-doc term/pair counts (scan-stage kernels): both
    // aggregates shuffle per-doc DISTINCT keys instead of token
    // occurrences, with identical Σc sums — tokens never contain
    // whitespace, so splitting the kernel's "w1 w2" pair string on its
    // single space recovers the struct exactly
    def tcs = Tables.documents(spark, dir)
      .select(graft.plans.TextExpressions.termCounts(col("text")).as("tcs")).spread
      .select(explode(col("tcs")).as("tc"))
    val uni = tcs.groupBy(col("tc.term").as("term")).agg(sum("tc.c").as("c"))
    val tot = tcs.agg(sum("tc.c").as("n"))
    val pairs = Tables.documents(spark, dir)
      .select(graft.plans.TextExpressions.pairCounts(col("text")).as("pcs")).spread
      .select(explode(col("pcs")).as("pc"))
      .groupBy(col("pc.pair").as("pair")).agg(sum("pc.c").as("c12"))
      .filter(col("c12") >= PmiMinPair)
      // the split runs at FILTERED pair-vocabulary grain, never corpus
      .select(split(col("pair"), " ").as("sp"), col("c12"))
      .select(col("sp")(0).as("w1"), col("sp")(1).as("w2"), col("c12"))
    pairs
      .join(uni.select(col("term").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("p21_4", halfUpDiv(col("c12") * lit(10000L), col("c1")))
      .withColumn("lift4", halfUpDiv(col("p21_4") * col("n"), col("c2")))
      .select("w1", "w2", "c12", "c1", "c2", "p21_4", "lift4")
      .orderBy(col("lift4").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** #174 `docs_boilerplate_prefix`: template-family detection by
    * shared document OPENINGS — documents that begin with the same
    * first-[[PrefixLen]]-token prefix are one boilerplate family (the
    * "same page header / license banner / scraper artifact" smell that
    * full-document dedup misses because the bodies differ). Family key
    * is the literal prefix string (first min(8, len) tokens), families
    * below [[MinFamily]] docs are noise-gated; per family: docs,
    * distinct sources (a cross-source family is a scraper artifact,
    * not an author habit), the min-doc_id exemplar, and the ratio4
    * share of all docs. Removal would be a join of the family keys
    * back onto the corpus — this panel is the decision input.
    *
    * One narrow scan → one groupBy on the prefix string (bounded by
    * distinct openings, ≪ corpus rows after the gate), 1-row total
    * broadcast; head export by (n_docs desc, prefix) total order. */
  def boilerplatePrefix(spark: SparkSession, dir: String,
                        k: Int = PrefixLen): DataFrame = {
    val fam = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("t"))
      .spread
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", slice(col("t"), 1, k)).as("prefix"))
    val tot = fam.agg(count(lit(1)).as("n"))
    fam.groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("exemplar"))
      .filter(col("n_docs") >= MinFamily)
      .crossJoin(broadcast(tot))
      .select(col("prefix"), col("n_docs"), col("n_sources"), col("exemplar"),
        ratio4(col("n_docs"), col("n")).as("doc_share"))
      .orderBy(col("n_docs").desc, col("prefix"))
  }

  /** `source_template_share`: the PER-SOURCE view of template
    * pollution — for each source feed, its MODAL document opening (the
    * most frequent first-[[PrefixLen]]-token prefix; ties break to the
    * lexicographically smallest) and the exact share of the feed's
    * docs that start with it. #174 finds the global boilerplate
    * families; this panel answers the curation question one level up:
    * WHICH FEED is template-dominated (a share near 1.0 means the
    * scraper grabbed one page shape; near 1/n_docs means organic
    * variety) — the per-feed number that decides whether a feed needs
    * prefix-stripping before dedup.
    *
    * One narrow scan → one (source, prefix) groupBy (bounded by
    * distinct openings), a per-SOURCE top-1 window over those O(feed
    * openings) aggregate rows (never per-doc), and a broadcast-sized
    * per-source total join. */
  def sourceTemplateShare(spark: SparkSession, dir: String,
                          k: Int = PrefixLen): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = Tables.documents(spark, dir)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("t"))
      .spread
      .filter(size(col("t")) >= 1)
      .select(col("source"), concat_ws(" ", slice(col("t"), 1, k)).as("prefix"))
    // ONE corpus tokenize: totals re-aggregate the (source, prefix)
    // rollup (Σ modal_count per source == doc count), so the second
    // corpus scan the old spelling paid disappears; the rollup is
    // O(distinct openings) and checkpointed for its two readers
    val counts = pre.groupBy("source", "prefix")
      .agg(count(lit(1)).as("modal_count"))
      .checkpointSer
    val totals = counts.groupBy("source").agg(sum("modal_count").as("n_docs"))
    val wS = Window.partitionBy("source")
      .orderBy(col("modal_count").desc, col("prefix"))
    counts.withColumn("rn", row_number().over(wS))
      .filter(col("rn") === 1)
      .join(broadcast(totals), "source")
      .select(col("source"), col("n_docs"),
        col("prefix").as("modal_prefix"), col("modal_count"),
        ratio4(col("modal_count"), col("n_docs")).as("template_share4"))
      .orderBy("source")
  }

  /** Near-dup cluster size histogram: for each component size, the
    * number of transitive near-dup clusters of that size and the total
    * documents they hold — the one-page answer to "how duplicated is
    * this corpus, and is it pairs or giant template families?". Rides
    * [[MinHashLSH.nearDupComponents]]; the histogram itself is two
    * aggregations over the (tiny) component labeling. */
  def clusterSizes(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame =
    MinHashLSH.nearDupComponents(spark, dir, tau)
      .groupBy("component_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
      .orderBy("sz")

  /** #184 `source_overlap_matrix`: pairwise source-level text overlap —
    * for every unordered source pair with any overlap, the count of
    * DISTINCT rolling w-token windows present in both feeds, plus each
    * side's containment (shared / own distinct windows) and the pair
    * Jaccard, all ratio4. This is the dataset-paper panel ("how much of
    * CC is already in C4") that decides which feeds are worth ingesting
    * and in which order a cross-source dedup should run — high
    * containment of A in B means A is nearly a subset and adds little.
    * Same window grain as the passage-dedup family, so "overlap" here
    * is the same text the passage spans would flag.
    *
    * Shape: one corpus window derivation ([[DocDedup.rollingWindowsOf]])
    * → distinct (source, win_h) — the ONLY corpus-volume shuffle, hash
    * keys uniform; the pair step self-joins that frame on win_h
    * (co-partitioned, no re-shuffle of either side beyond the key), and
    * a window shared by k sources fans out k·(k−1)/2 pair rows — k is
    * bounded by the source count, not the corpus; the rollup is
    * O(sources²) rows. Per-source distinct totals are an O(sources)
    * aggregate broadcast onto the pair frame twice. */
  def sourceOverlapMatrix(spark: SparkSession, dir: String,
                          w: Int = DocDedup.ChunkTokens): DataFrame =
    sourceOverlapOf(
      Tables.documents(spark, dir).select("doc_id", "source", "text").spread, w)

  /** The overlap core over any (doc_id, source, text) frame. */
  def sourceOverlapOf(docs: DataFrame, w: Int = DocDedup.ChunkTokens): DataFrame = {
    // distinct (source, win_h) feeds the totals AND both self-join
    // sides, but all three consumers sit in ONE plan — Catalyst reuses
    // the distinct's exchange (ReusedExchange), so no checkpoint: a
    // measured attempt to materialize it cost more than it saved
    val sw = DocDedup.rollingWindowsOf(docs.select("doc_id", "source", "text"), w)
      .select("source", "win_h").distinct()
    val totals = sw.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sw.join(
      sw.select(col("source").as("s2"), col("win_h")), "win_h")
      .filter(col("source") < col("s2"))
      .groupBy(col("source").as("s1"), col("s2"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(totals.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(totals.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_shared"),
        ratio4(col("n_shared"), col("n1")).as("contain1"),
        ratio4(col("n_shared"), col("n2")).as("contain2"),
        ratio4(col("n_shared"), col("n1") + col("n2") - col("n_shared"))
          .as("jaccard"))
      .orderBy("s1", "s2")
  }

  /** Vocabulary size for the [[sourceDivergence]] distribution support. */
  val DivVocab = 256

  /** #203 `source_divergence`: pairwise total-variation distance
    * between per-source unigram distributions — the mixture-design
    * panel that says which sources are interchangeable and which add
    * genuinely different text (feeds the `pipeline_training_mix`
    * weights the way DSIR feeds per-document weights). Distributions
    * live on the corpus-level top-[[DivVocab]] vocabulary plus one
    * out-of-vocabulary mass bucket, in exact per-million integer units
    * (halfUp(c·10⁶ / n_source)), so TVD = Σ|p−q| / 2·10⁶ is a pure
    * int64 rational — bit-identical cross-engine, unlike a KL whose
    * logs would not be. TVD is a proper f-divergence; 0 = identical
    * term mix, 1 = disjoint support.
    *
    * Shape: the (source, term) count is the only corpus-sized shuffle
    * (partial-aggregable, the per-doc grain never ships raw tokens);
    * the vocabulary head is a broadcast; the dense source×vocab grid
    * (|S|·(V+1) rows), the pair join on term, and the O(|S|²) rollup
    * are all bounded by constants, independent of corpus size. */
  def sourceDivergence(spark: SparkSession, dir: String,
                       vocabSize: Int = DivVocab): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    val tk = Tables.documents(spark, dir)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("t")).spread
      .select(col("source"), explode(col("t")).as("term"))
    val st = tk.groupBy("source", "term").agg(count(lit(1)).as("c"))
      .checkpointSer
    val totals = st.groupBy("source").agg(sum("c").as("n_s"))
    val vocab = st.groupBy("term").agg(sum("c").as("g"))
      .orderBy(col("g").desc, col("term")).limit(vocabSize)
      .select("term")
    // dense per-million vector over vocab ∪ {<oov>} per source; the
    // corpus-vocab-sized count frame is first narrowed to the vocab by
    // a broadcast join, so the dense grid join touches |S|·V rows only
    val stV = st.join(broadcast(vocab), Seq("term"))
    val inVocab = totals.crossJoin(broadcast(vocab))
      .join(stV, Seq("source", "term"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("p6", halfUpDiv(col("c") * 1000000L, col("n_s")))
    // residual mass; floor-clamped at 0 (half-up per-term rounding can
    // overshoot 10⁶ by ≤ V/2 ppm — both engines clamp identically)
    val oov = inVocab.groupBy("source")
      .agg(greatest(lit(1000000L) - sum("p6"), lit(0L)).as("p6"))
      .select(col("source"), lit("<oov>").as("term"), col("p6"))
    val dense = inVocab.select("source", "term", "p6").unionByName(oov)
      .checkpointSer
    val a = dense.select(col("source").as("source_a"), col("term"),
      col("p6").as("pa"))
    val b = dense.select(col("source").as("source_b"), col("term"),
      col("p6").as("pb"))
    a.join(b, Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(abs(col("pa") - col("pb"))).as("l1_ppm"))
      .select(col("source_a"), col("source_b"), col("l1_ppm"),
        (halfUpDiv(col("l1_ppm") * 10000L, lit(2000000L)) / lit(10000.0))
          .as("tvd4"))
      .orderBy("source_a", "source_b")
  }

  /** #215 `source_simpson_diversity`: per-source lexical concentration
    * panel — Simpson repeat probability (the chance two tokens drawn
    * without replacement are the same type: Σc·(c−1) / (n·(n−1)), the
    * complement of Gini–Simpson diversity), top-term share, and
    * type–token ratio. All three are exact int64 rationals (no
    * entropy-style logarithms, whose float rounding is not
    * cross-engine-stable), HALF_UP at 1e-4.
    *
    * Shape: (source, term) → (source) — two partial-aggregable
    * shuffles, output O(sources). Overflow: Σc·(c−1) and n·(n−1) reach
    * int64 limits near n ≈ 3·10⁹ tokens per source; past that the
    * numerator/denominator pair needs the ppm-scaled formulation (the
    * sourceDivergence p6 path) rather than raw products. */
  def sourceSimpson(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("t")).spread
      .select(col("source"), explode(col("t")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    tf.groupBy("source")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("c") * (col("c") - 1L)).as("sum_c2"),
        max("c").as("top_tf"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        ratio4(col("sum_c2"),
          greatest(col("n_tokens") * (col("n_tokens") - 1L), lit(1L)))
          .as("simpson4"),
        ratio4(col("top_tf"), greatest(col("n_tokens"), lit(1L)))
          .as("top_share4"),
        ratio4(col("vocab"), greatest(col("n_tokens"), lit(1L))).as("ttr4"))
      .orderBy("source")
  }

  /** `corpus_token_gini`: per-source Gini coefficient of the document
    * token-count distribution — the inequality summary of document
    * length. A packing/sharding plan tuned on mean length silently
    * degrades when a source's mass concentrates in a few giant docs
    * (gini → 1) or when a scraper floods it with empty stubs; this is
    * the one-number alarm the length-survival curve (#169) details.
    *
    * Exact integer form of the rank formula over ascending token
    * counts: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx), reported HALF_UP in
    * 1e-4 units (gini4). The rank window partitions by source — never
    * a global sort. int64 bound: per-source n·Σx and 2·Σ i·xᵢ must stay
    * below 2^63, which holds through ~1e8 docs × 500 mean tokens per
    * source; beyond that shard the source before the panel (same
    * documented-ceiling discipline as the corpus-total invariants). */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")).spread
      .select(col("doc_id"), col("source"),
        greatest(size(TextAnalysis.tokens(col("text"))).cast("long"), lit(0L))
          .as("n_toks"))
    val w = Window.partitionBy("source").orderBy("n_toks", "doc_id")
    docs.withColumn("r", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_toks"),
        sum(col("r") * col("n_toks")).as("s1"))
      .select(col("source"), col("n_docs"), col("total_toks"),
        when(col("total_toks") > 0L,
          graft.functions.Hashing.ratio4(
            lit(2L) * col("s1") - (col("n_docs") + 1L) * col("total_toks"),
            col("n_docs") * col("total_toks"))).as("gini4"))
      .orderBy("source")
  }

  /** Corpus composition matrix: documents per source × language as a
    * PIVOT (fixed language universe → one aggregation, columns fan out
    * at plan time; absent cells are exact zeros). The per-source row is
    * what a curation dashboard reads to spot language skew by source. */
  def langPivot(spark: SparkSession, dir: String,
                langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
      .orderBy("source")
}
