package graft.operators

import graft.Partitioning._
import graft.{Substrate, Tables}
import graft.functions.Hashing.{h64, halfUpDiv, ratio4}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based corpus filtering: the trainable counterparts of the
  * heuristic QualitySignals — a curated-vs-crawl lexical classifier
  * (the GPT-3/LLaMA "quality filter" recipe), a reference bigram-LM
  * fluency score (the CCNet/KenLM gating recipe), and DSIR-style
  * hashed n-gram importance weights for target-distribution
  * resampling.
  *
  * All three are trained and applied in ONE framework: token (or
  * hashed-bigram-bucket) class counts with add-one smoothing, turned
  * into a clipped count-ratio "affinity" weight, and documents scored
  * by the exact per-token mean of those weights. This is the
  * exact-integer-arithmetic analog of the usual log-odds / log-ratio
  * scores: log-space sums become rational-arithmetic means, so every
  * exported number is a 1e-4-unit int64 ratio (the ratio4/halfUpDiv
  * discipline) and reproduces bit-for-bit in any engine — no libm
  * transcendentals whose final-ulp rounding differs across platforms.
  * Clipping the per-feature ratio to [[ClipLo4]]..[[ClipHi4]] bounds
  * variance exactly as the published DSIR/NB-filter recipes clip their
  * log-ratios, and also caps every int64 intermediate:
  * with corpus token totals up to ~1e14 and per-document token counts
  * up to ~1e6, every product here stays below 2^63.
  *
  * Scale shape: each operator is one tokenize scan + partial-aggregable
  * count shuffles; scoring joins are keyed on the feature (term /
  * bigram / bucket), never on the document, so they co-partition with
  * the count aggregates. The DSIR bucket table is O(buckets) rows by
  * construction and is broadcast; the lexicon and LM tables are
  * unbounded vocabularies and stay in shuffle joins.
  */
object QualityModels {

  /** Stand-in curated slice (the "wiki+books" side of the GPT-3
    * quality-filter recipe): sources src0..src4. */
  val CuratedSources: Seq[String] = (0 to 4).map(i => s"src$i")

  /** Affinity ratio clip bounds in 1e-4 units: [0.01, 100]. */
  val ClipLo4 = 100L
  val ClipHi4 = 1000000L

  /** Hashed-bigram bucket count for DSIR (fixed ⇒ the weight table is
    * O(DsirBuckets) rows at ANY corpus size — always broadcastable). */
  val DsirBuckets = 1024

  /** Rows exported by the quality_lexicon head query. */
  val LexiconHead = 50

  private[graft] def isCurated(source: Column): Column =
    source.isInCollection(CuratedSources)

  private def clip4(c: Column): Column =
    least(greatest(c, lit(ClipLo4)), lit(ClipHi4))

  /** (doc_id, source, term) one row per token occurrence. */
  private def tokenOccurrences(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("t"))
      .spread
      .select(col("doc_id"), col("source"), explode(col("t")).as("term"))

  /** One row per bigram occurrence of `text`, as (w1, w2); every other
    * column of `docs` is carried through. Narrow (works on streaming
    * frames too — the streaming gates ride this same derivation). */
  def bigramsOf(docs: DataFrame): DataFrame = {
    val carried = docs.columns.filterNot(_ == "text").map(col).toSeq
    docs
      .withColumn("t", TextAnalysis.tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .select(carried :+
        explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("bg"): _*)
      .select(carried :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
  }

  /** (doc_id, source, lang, w1, w2) one row per bigram occurrence. */
  private def bigramOccurrences(spark: SparkSession, dir: String): DataFrame =
    bigramsOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .spread)

  /** Full lexicon: per term, curated/rest token counts and the clipped
    * add-one affinity ratio (c_cur+1)/(c_rest+1) in 1e-4 units. One
    * token shuffle (term → conditional counts, partial map-side). */
  def lexiconTrain(spark: SparkSession, dir: String): DataFrame =
    tokenOccurrences(spark, dir)
      .groupBy("term")
      .agg(
        sum(when(isCurated(col("source")), 1L).otherwise(0L)).as("c_cur"),
        sum(when(isCurated(col("source")), 0L).otherwise(1L)).as("c_rest"))
      .withColumn("aff4",
        clip4(halfUpDiv((col("c_cur") + 1L) * 10000L, col("c_rest") + 1L)))

  /** #155 `quality_lexicon`: the [[LexiconHead]] most curated-leaning
    * terms (affinity desc, term asc — total order). TakeOrdered head,
    * never a global sort of the vocabulary. */
  def lexiconHead(spark: SparkSession, dir: String): DataFrame =
    Substrate.lextrain(spark, dir)
      .select(col("term"), col("c_cur"), col("c_rest"),
        (col("aff4") / lit(10000.0)).as("affinity"))
      .orderBy(col("affinity").desc, col("term"))
      .limit(LexiconHead)

  /** #156 `quality_lexicon_score`: every document scored by the exact
    * per-token mean affinity of its terms under the trained lexicon;
    * `pred` = 1 when the document leans curated, i.e. its mean affinity
    * reaches the corpus-prior neutral ratio (tot_cur+V)/(tot_rest+V) —
    * the affinity an evenly-distributed term would get.
    *
    * Scoring pre-aggregates to distinct (doc, term) BEFORE the join, so
    * the term-keyed shuffle join moves one row per distinct pair (hot
    * stopword keys fan out 1:N against a 1-row build side — no
    * expansion). The 1-row prior frame rides a broadcast. Documents
    * with ≥ 1 token are scored (n_toks is the halfUpDiv denominator).
    * Same-corpus scoring always hits the lexicon; the left join +
    * prior-ratio fallback keeps the operator total when applied to a
    * NEW corpus with out-of-vocabulary terms. */
  /** `quality_calibration_curve`: the reliability diagram for the
    * trained lexicon model — per exact score decile (int64 rank
    * formula over score4, ties by doc_id): docs, curated-source
    * positives, the observed positive ratio4 and the mean score4. A
    * calibrated ranking shows pos_rate4 rising monotonically with the
    * decile; a flat curve means the score carries no signal and the
    * #250 gate is filtering noise. This is the panel that justifies a
    * score THRESHOLD choice the same way #175 justifies a Jaccard τ.
    *
    * Shape: one scoring pass (shared lexiconScored4Of machinery), one
    * native GlobalRank for the deciles (range-partitioned — no
    * single-partition window), a uniform doc-key label join, O(10)
    * rollup. All arithmetic exact int64. */
  def calibrationCurve(spark: SparkSession, dir: String): DataFrame =
    // the per-decile substrate is shared with isotonicFit, so the two
    // panels never disagree about the binning
    Substrate.lexdec(spark, dir)
      .select(col("decile"), col("n_docs"), col("n_pos"),
        ratio4(col("n_pos"), col("n_docs")).as("pos_rate4"),
        halfUpDiv(col("ss4"), col("n_docs")).as("mean_score4"))
      .orderBy("decile")

  /** `quality_isotonic_fit`: PAV isotonic calibration of the
    * reliability diagram — the FIT step on top of the raw curve
    * (#291 shows whether the score is calibrated; this produces the
    * monotone calibration MAP a gate would actually apply, the
    * Zadrozny–Elkan recipe). Computed by the exact minimax
    * characterization: fit(i) = max_{j ≤ i} min_{k ≥ i} avg(pos
    * rate over deciles j..k) — provably equal to pool-adjacent-
    * violators (the spec pins the equivalence against a driver PAV).
    *
    * Exactness: interval averages are rationals (ΣP, ΣN of prefix
    * sums); min/max selection runs on the fixed-scale int64 key
    * floor(P·10¹⁸/N) — an exact total order while N ≤ ~3·10⁹
    * (distinct rationals with denominators ≤ N differ by ≥ 1/N², so
    * the scaled gap stays > 1; equal rationals reduce to equal keys)
    * — and the released ratio4 is recovered from the key ITSELF:
    * halfUp(P·10⁴/N) = (key + 5·10¹³) div 10¹⁴ exactly (proof: with
    * f = frac(P·10¹⁸/N) < 1, adding f to the integer key + 5·10¹³
    * can never cross a multiple of 10¹⁴; exact .5 ties have f = 0).
    *
    * Shape: the corpus work is the shared decile substrate; the
    * minimax triple join lives on O(bins²)·O(bins) = O(10³) rows —
    * free at any corpus size. */
  def isotonicFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.{intDiv, ratio4}
    val g = Substrate.lexdec(spark, dir).localCheckpoint(true)
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prefix sums + the zero origin row: interval [j, k] reads
    // pref(k) − pref(j−1)
    val pref = g
      .select(col("decile").as("d"), sum("n_pos").over(wCum).as("cp"),
        sum("n_docs").over(wCum).as("cn"))
      .unionAll(g.sparkSession.range(1)
        .select(lit(0L).as("d"), lit(0L).as("cp"), lit(0L).as("cn")))
      .localCheckpoint(true)
    // both non-equi joins broadcast the O(bins) prefix frame — without
    // the hint the checkpointed sides plan a CartesianProduct
    val cand = g.select(col("decile"))
      .join(broadcast(pref.select(col("d").as("jd"), col("cp").as("lcp"),
        col("cn").as("lcn"))), col("jd") < col("decile"))
      .join(broadcast(pref.select(col("d").as("kd"), col("cp").as("hcp"),
        col("cn").as("hcn"))), col("kd") >= col("decile"))
      .withColumn("key", expr(
        """CAST((CAST(hcp - lcp AS DECIMAL(38,0)) * 1000000000000000000)
          |  DIV CAST(hcn - lcn AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
    val fit = cand.groupBy("decile", "jd").agg(min("key").as("mn"))
      .groupBy("decile").agg(max("mn").as("key"))
    g.join(fit, "decile")
      .select(col("decile"), col("n_docs"), col("n_pos"),
        ratio4(col("n_pos"), col("n_docs")).as("pos_rate4"),
        (intDiv(col("key") + lit(50000000000000L), lit(100000000000000L)) /
          lit(10000.0)).as("iso_rate4"))
      .orderBy("decile")
  }

  def lexiconScore(spark: SparkSession, dir: String): DataFrame =
    // Session-shared (round-17 verdict item 4): the trained-gate score
    // frame feeds quality_lexicon_score, the training-mix chain and
    // the gate-ablation panel — one train+score pass per session.
    Substrate.lexscore(spark, dir)

  /** Scores any (doc_id, text) frame against a trained lexicon
    * ([[lexiconTrain]] output — train once, gate many corpora). The
    * corpus-prior threshold derives from the lexicon itself; the 1-row
    * prior frame broadcasts, the term join co-partitions with the
    * per-doc term aggregate. */
  def lexiconScoreOf(docs: DataFrame, lex: DataFrame): DataFrame =
    lexiconScored4Of(docs, lex)
      .select(
        col("doc_id"),
        col("n_toks"),
        (col("score4") / lit(10000.0)).as("score"),
        col("pred"))

  /** [[lexiconScoreOf]] keeping the score in EXACT 1e-4 units
    * (score4) — the form the model-eval panel aggregates without ever
    * touching a float. */
  private[graft] def lexiconScored4Of(docs: DataFrame, lex: DataFrame): DataFrame = {
    val prior = lex.agg(
      (sum("c_cur") + count(lit(1))).as("pn"),
      (sum("c_rest") + count(lit(1))).as("pd"))
      .select(halfUpDiv(col("pn") * 10000L, col("pd")).as("thr4"))
    val perDocTerm = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    perDocTerm
      .join(lex.select("term", "aff4"), Seq("term"), "left")
      .crossJoin(broadcast(prior))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_toks"),
        sum(col("c") * coalesce(col("aff4"), col("thr4"))).as("s4"),
        max("thr4").as("thr4"))
      .select(
        col("doc_id"),
        col("n_toks"),
        halfUpDiv(col("s4"), col("n_toks")).as("score4"),
        (halfUpDiv(col("s4"), col("n_toks")) >= col("thr4")).cast("int").as("pred"))
  }

  /** #191 `quality_model_eval`: the confusion/calibration panel for the
    * trained lexicon gate itself, using the curated-source membership as
    * ground truth — the quality-model twin of docs_lang_confusion: a
    * classifier that silently gates the corpus deserves its own error
    * accounting before anything downstream trusts `pred`. Per
    * (label, pred) cell: docs, ratio4 label-row share (the diagonal
    * shares are per-class recall; the pred-column shares derivable from
    * the 4 rows are precision), and the exact mean score in 1e-4 units
    * (cells aggregate score4 — the panel never averages floats).
    *
    * Shape: the one training scan + one scoring pass quality_lexicon_score
    * already pays, then an O(4)-row rollup; label totals broadcast back
    * onto the checkpointed cells. */
  def modelEval(spark: SparkSession, dir: String): DataFrame = {
    // scored4 is the session-shared memo — only the narrow label join
    // is this panel's own
    val cells = Substrate.lexs4(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        isCurated(col("source")).cast("int").as("label")), "doc_id")
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n_docs"), sum("score4").as("s4"))
      .localCheckpoint()
    val tot = cells.groupBy("label").agg(sum("n_docs").as("nl"))
    cells.join(broadcast(tot), "label")
      .select(col("label"), col("pred"), col("n_docs"),
        ratio4(col("n_docs"), col("nl")).as("label_share"),
        halfUpDiv(col("s4"), col("n_docs")).as("mean_score4"),
        (col("label") === col("pred")).as("correct"))
      .orderBy("label", "pred")
  }

  /** Incremental lexicon training: merge a new batch's class counts
    * into an existing trained lexicon (the incremental-dedup
    * fold-equals-full contract — counts are a commutative monoid, so
    * arrival order never changes the model). `prior` is a previous
    * [[lexiconTrain]]/[[lexiconMergeOf]] output; `batch` is any
    * (doc_id, source, text) frame. The affinity is recomputed from the
    * merged counts, never averaged. One term-keyed shuffle over
    * prior ∪ batch-counts. */
  def lexiconMergeOf(prior: DataFrame, batch: DataFrame): DataFrame =
    lexiconFold(prior, lexiconCountsOf(batch))

  /** Per-term class counts of ONE batch — the monoid element both the
    * merge (add) and retire (subtract) legs fold into a prior model. */
  private def lexiconCountsOf(batch: DataFrame): DataFrame =
    batch
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(
        sum(when(isCurated(col("source")), 1L).otherwise(0L)).as("c_cur"),
        sum(when(isCurated(col("source")), 0L).otherwise(1L)).as("c_rest"))

  private def lexiconFold(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.select("term", "c_cur", "c_rest")
      .unionByName(delta)
      .groupBy("term")
      .agg(sum("c_cur").as("c_cur"), sum("c_rest").as("c_rest"))
      // retiring a window can zero a term out entirely — drop it, or a
      // long-lived model's vocabulary grows monotonically forever
      .filter(col("c_cur") + col("c_rest") > 0L)
      .withColumn("aff4",
        clip4(halfUpDiv((col("c_cur") + 1L) * 10000L, col("c_rest") + 1L)))

  /** TTL retirement: subtract an EXPIRED batch's counts from a trained
    * lexicon — the inverse leg the count group supports (counts are a
    * ℤ-monoid: merge adds, retire adds the negation; affinity is always
    * recomputed from the live counts). The windowed curation loop this
    * enables — merge each arriving window, retire each expired one — is
    * the trained-model analog of the reference's ObliviousSet expiry
    * (/root/reference/src/deduplication.ts:77,117-121: state leaves the
    * window, it stops influencing decisions). Retiring data never merged
    * is a contract violation; terms whose counts both reach zero drop
    * from the model. Fold-invariance (retire(merge(M,W), W) == M and
    * train(B∪C) == retire(train(A∪B∪C), A)) is spec-pinned. */
  def lexiconRetireOf(model: DataFrame, expired: DataFrame): DataFrame =
    lexiconFold(model,
      lexiconCountsOf(expired)
        .select(col("term"), (-col("c_cur")).as("c_cur"),
          (-col("c_rest")).as("c_rest")))

  /** Incremental DSIR model update — same count-monoid contract as
    * [[lexiconMergeOf]] over the O([[DsirBuckets]]) bucket table. */
  def dsirMergeOf(prior: DataFrame, batch: DataFrame): DataFrame =
    dsirFold(prior, dsirCountsOf(batch))

  private def dsirCountsOf(batch: DataFrame): DataFrame =
    bigramsOf(batch.select("doc_id", "source", "text"))
      .select(col("source"), dsirBucket(col("w1"), col("w2")).as("bucket"))
      .groupBy("bucket")
      .agg(
        sum(when(isCurated(col("source")), 1L).otherwise(0L)).as("ct"),
        sum(when(isCurated(col("source")), 0L).otherwise(1L)).as("cs"))

  private def dsirFold(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.select("bucket", "ct", "cs")
      .unionByName(delta)
      .groupBy("bucket")
      .agg(sum("ct").as("ct"), sum("cs").as("cs"))
      .filter(col("ct") + col("cs") > 0L)
      .withColumn("w4", clip4(halfUpDiv((col("ct") + 1L) * 10000L, col("cs") + 1L)))

  /** TTL retirement for the DSIR bucket model — same count-group
    * subtract leg as [[lexiconRetireOf]], over the O([[DsirBuckets]])
    * table. */
  def dsirRetireOf(model: DataFrame, expired: DataFrame): DataFrame =
    dsirFold(model,
      dsirCountsOf(expired)
        .select(col("bucket"), (-col("ct")).as("ct"), (-col("cs")).as("cs")))

  /** #157 `text_lm_fluency`: reference bigram LM trained on the
    * `lang = 'en'` slice (add-one smoothing over the reference bigram
    * vocabulary), every ≥2-token document scored by the exact mean
    * conditional probability p(w2|w1) = (c12+1)/(c1+V2) of its bigram
    * occurrences, in 1e-4 units — the arithmetic-mean, exact-rational
    * analog of perplexity's geometric mean (low fluency = unlikely
    * under the reference LM; non-English and boilerplate-free noise
    * both surface at the bottom). `n_oov` counts bigram occurrences
    * unseen in the reference.
    *
    * The context table c1 derives from the pair table (one extra
    * partial aggregate, no second corpus scan). Scoring joins are
    * keyed on (w1,w2) and w1 — uniform-ish keys, co-partitioned with
    * their aggregates; the 1-row V2 frame is broadcast. */
  def lmFluency(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramOccurrences(spark, dir)
    // pair feeds ctx, v2 AND the scoring join — checkpoint the
    // bigram-vocab-sized table so training tokenizes the corpus once.
    val pair = bg.filter(col("lang") === "en")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .checkpointSer
    val ctx = pair.groupBy("w1").agg(sum("c12").as("c1"))
    val v2 = pair.agg(countDistinct("w2").as("v2"))
    val perDocBg = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
    perDocBg
      .join(pair, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(v2))
      .withColumn("p4", halfUpDiv(
        (coalesce(col("c12"), lit(0L)) + 1L) * 10000L,
        coalesce(col("c1"), lit(0L)) + col("v2")))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_bigrams"),
        sum(when(col("c12").isNull, col("c")).otherwise(0L)).as("n_oov"),
        sum(col("c") * col("p4")).as("s4"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("n_oov"),
        (halfUpDiv(col("s4"), col("n_bigrams")) / lit(10000.0)).as("fluency"))
      .orderBy("doc_id")
  }

  /** #158 `dsir_weights`: DSIR-style importance weights over hashed
    * bigram features — every bigram occurrence drops into one of
    * [[DsirBuckets]] md5-hash buckets, the curated-vs-rest affinity
    * ratio is trained per BUCKET (so the model is O(buckets) however
    * large the corpus), and each ≥2-token document gets the exact mean
    * bucket affinity of its bigrams as its importance weight.
    * Rank-equivalent (given the clip) to the published
    * sum-of-log-ratios formulation, in exact int64 arithmetic.
    *
    * The bucket table is explicitly broadcast: scoring is one
    * shuffle-free map-side join over the per-doc bucket counts. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    // session-shared (round-17 verdict item 4): dsir_weights + the
    // training-mix chain read the same importance frame
    Substrate.dsirw(spark, dir)

  /** The hashed-bigram bucket column for a (w1, w2) pair. */
  def dsirBucket(w1: Column, w2: Column): Column =
    pmod(h64(concat_ws(" ", w1, w2)), lit(DsirBuckets.toLong))

  /** The trained DSIR model: per bucket, curated/rest bigram counts and
    * the clipped affinity weight. O([[DsirBuckets]]) rows always. */
  def dsirBucketTable(spark: SparkSession, dir: String): DataFrame =
    bigramOccurrences(spark, dir)
      .select(col("source"), dsirBucket(col("w1"), col("w2")).as("bucket"))
      .groupBy("bucket")
      .agg(
        sum(when(isCurated(col("source")), 1L).otherwise(0L)).as("ct"),
        sum(when(isCurated(col("source")), 0L).otherwise(1L)).as("cs"))
      .withColumn("w4", clip4(halfUpDiv((col("ct") + 1L) * 10000L, col("cs") + 1L)))

  /** Scores any (doc_id, text) frame — batch OR streaming — against a
    * trained bucket table: narrow bigram derivation, broadcast map-side
    * join onto the O(buckets) model, then ONE aggregation (the whole
    * plan has a single shuffle, and a single streaming agg is exactly
    * what update-mode streaming allows — StreamQuality-style gates call
    * this directly on the stream frame). */
  def dsirScoreOf(docs: DataFrame, buckets: DataFrame): DataFrame =
    bigramsOf(docs)
      .select(col("doc_id"), dsirBucket(col("w1"), col("w2")).as("bucket"))
      .join(broadcast(buckets.select("bucket", "w4")), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w4")).as("s4"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        (halfUpDiv(col("s4"), col("n_bigrams")) / lit(10000.0)).as("importance"))
}
