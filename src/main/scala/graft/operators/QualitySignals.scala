package graft.operators

import graft.Partitioning._
import graft.Tables
import graft.functions.Hashing.{intDiv, ratio4}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Intra-document and corpus-relative quality signals of the kind the
  * published web-scale curation recipes gate on (Gopher's repetition
  * rules, C4's boilerplate heuristics): repeated-n-gram fractions
  * within a document, and how much of a document's content is unique
  * to it corpus-wide. All ratios are exported through the
  * exact-rational ratio4 discipline.
  */
object QualitySignals {

  /** Gopher-style repetition signals per document: bigram/trigram
    * occurrence totals, the most frequent bigram's share of all bigram
    * occurrences (top2_frac — boilerplate templating shows up here),
    * and the share of trigram occurrences belonging to trigrams seen
    * more than once in the SAME document (dup3_frac — loops and
    * copy-paste runs).
    *
    * One explode emits bigrams and trigrams together (tagged by n), so
    * the corpus is tokenized once; aggregation is (doc, n, gram) →
    * (doc) — both partial-aggregable, shuffling gram-count rows only.
    * Documents need ≥ 3 tokens (both gram widths defined). */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // fused scan-stage kernel (plans.RepetitionStats): the signal is
    // per-DOC, so the former explode → (doc, n, gram) → (doc) plan
    // shuffled the corpus at ~2× token grain just to collapse back to
    // one row per doc (125 s at native sf10); this plan's only cost is
    // the scan + the O(docs) output sort. Identical values and hashes.
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).spread
      .select(col("doc_id"),
        graft.plans.TextExpressions.repetitionStats(col("text")).as("r"))
      .filter(col("r").isNotNull)
      .select(col("doc_id"), col("r.n2").as("n2"), col("r.top2").as("top2"),
        ratio4(col("r.top2"), col("r.n2")).as("top2_frac"),
        col("r.n3").as("n3"), col("r.dup3").as("dup3"),
        ratio4(col("r.dup3"), col("r.n3")).as("dup3_frac"))
      .orderBy("doc_id")
  }

  /** `quality_percentile_normalize`: per-source PERCENTILE
    * NORMALIZATION of the document quality key — each doc's exact rank
    * share within its own source (pct4 = (rank−1)/(n−1), HALF_UP
    * 1e-4), the score a multi-source training mix compares ACROSS
    * feeds: raw quality keys are not comparable between a clean-prose
    * source and a forum scrape (different score distributions), but
    * "top decile of its own source" is — the standard rank-normalize
    * move before a cross-source quality gate.
    *
    * Shape: ONE native range-partitioned GlobalRank pass over
    * (source, qkey, doc_id) — never a per-source window (a 20-source
    * corpus would funnel 5% of all docs through one reducer) — then
    * each source's start rank and count attach by an O(sources)
    * broadcast join; rank−start is the within-source rank. Output is
    * corpus-grain (one row per doc), like the dedup exports. */
  def percentileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityKeyFromText(col("text")).as("qkey"))
      .spread
    val ranked = Ranking.globalRowNumber(d,
      Seq(col("source"), col("qkey"), col("doc_id")), "rn").checkpointSer
    val stats = ranked.groupBy("source")
      .agg(min("rn").as("gstart"), count(lit(1)).as("gn"))
    ranked.join(broadcast(stats), "source")
      .select(col("doc_id"), col("source"), col("qkey"),
        ratio4(col("rn") - col("gstart"),
          greatest(col("gn") - 1L, lit(1L))).as("pct4"))
      .orderBy("doc_id")
  }

  /** Per-source document-length profile: count plus exact p25/p50/p75
    * of n_chars — the composition panel a curation dashboard shows per
    * ingest feed. [[Ranking.groupedQuantiles]] at binary-exact
    * positions over integer lengths interpolates to bit-reproducible
    * doubles (the lineitem_quantiles discipline) while
    * range-partitioning each source's rows — a 20-source corpus never
    * funnels 5% of its documents through one reducer buffer the way
    * the grouped `percentile` aggregate does. */
  def sourceLengthStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("source", "n_chars", "doc_id")
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    Ranking.groupedQuantiles(d, Seq("source"), "n_chars", Seq("doc_id"),
        Seq(0.25, 0.5, 0.75))
      .groupBy("source")
      .agg(max(when(col("p") === 0.25, col("q"))).as("p25"),
        max(when(col("p") === 0.5, col("q"))).as("p50"),
        max(when(col("p") === 0.75, col("q"))).as("p75"))
      .join(counts, "source")
      .select("source", "n_docs", "p25", "p50", "p75")
      .orderBy("source")
  }

  /** `docs_sentence_quantiles`: per-source sentence-length profile —
    * exact positional quantiles (p25/p50/p75/p90) of sentence token
    * counts on the native [[Ranking.groupedQuantiles]] path (never a
    * reducer-buffering percentile). Sentence grain: [.!?]+ splits,
    * empty fragments dropped. The readability-adjacent signal at the
    * grain #139 summarizes per document: a source whose p90 sentence
    * runs long reads like run-on boilerplate even when doc-level
    * stats look normal.
    *
    * Shape: the sentence explode is the only corpus-sized expansion
    * (~sentences ≈ tokens/15); quantiles ride the one range-partitioned
    * GlobalRank sort; output O(sources). */
  def sentenceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val sents = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "[.!?]+")).as(Seq("sid", "sent")))
      .select(col("doc_id"), col("source"), col("sid"),
        size(TextAnalysis.tokens(col("sent"))).cast("long").as("n_toks"))
      .filter(col("n_toks") > 0)
    val counts = sents.groupBy("source").agg(count(lit(1)).as("n_sentences"))
    Ranking.groupedQuantiles(sents, Seq("source"), "n_toks",
        Seq("doc_id", "sid"), Seq(0.25, 0.5, 0.75, 0.9))
      .groupBy("source")
      .agg(max(when(col("p") === 0.25, col("q"))).as("p25"),
        max(when(col("p") === 0.5, col("q"))).as("p50"),
        max(when(col("p") === 0.75, col("q"))).as("p75"),
        max(when(col("p") === 0.9, col("q"))).as("p90"))
      .join(counts, "source")
      .select("source", "n_sentences", "p25", "p50", "p75", "p90")
      .orderBy("source")
  }

  /** Corpus-relative novelty: the fraction of a document's distinct
    * 3-token shingles that occur in NO other document (document
    * frequency 1). Low novelty = boilerplate assembled from shared
    * fragments; high = original content. The df window hash-partitions
    * on the shingle (one shuffle), the per-doc rollup on doc_id — the
    * same two-exchange shape as the near-dup candidate pass, linear in
    * corpus shingle volume. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    DocDedup.docShingles(spark, dir)
      .withColumn("df", count(lit(1)).over(wSh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        ratio4(col("n_unique"), col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Lexical diversity per document: type-token ratio and the hapax
    * share (types occurring exactly once in the doc) — the
    * vocabulary-richness gates next to Gopher's repetition rules
    * (machine-generated and template text sits low on both). One
    * (doc, term) aggregate then one per-doc rollup, both
    * partial-aggregable; exports ride ratio4. Docs need ≥ 1 token. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t")).spread
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_toks"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_toks"), col("n_types"), col("n_hapax"),
        ratio4(col("n_types"), col("n_toks")).as("ttr"),
        ratio4(col("n_hapax"), col("n_types")).as("hapax_share"))
      .orderBy("doc_id")

  /** Quality-score histogram: documents per exact-integer quality-key
    * bucket (the key is TextAnalysis.qualityKeyCol's 1e-4-unit int64;
    * bucket width 500 = 0.05 score units). THE panel for choosing a
    * gate threshold: integer bucketing over the exact key means the
    * histogram — and any threshold read off it — reproduces anywhere.
    * One narrow scan + one 21-key shuffle. */
  def qualityHistogram(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(intDiv(TextAnalysis.qualityKeyFromText(col("text")), lit(500L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")
  }

  /** `docs_length_quality_grid`: the JOINT (length decile × quality
    * decile) distribution — the bias audit for any length-based gate:
    * #169 (length survival) and #143 (quality histogram) each see one
    * marginal, but whether "drop short docs" ALSO drops the quality
    * tail only shows in the joint grid (mass on the diagonal = the
    * two signals are near-redundant; a flat grid = length carries no
    * quality information and a length gate is quality-neutral). Per
    * occupied (ldec, qdec) cell: doc count and the exact ratio4 share
    * within the length decile (rows of the grid each sum to 1).
    *
    * Deciles are the exact int64 rank formula ((rn−1)·10 div N + 1,
    * ties broken by doc_id) over TWO native GlobalRank passes — each
    * one range exchange, never a single-partition window — joined on
    * the uniform int doc key; the grid rollup is O(100) rows. */
  def lengthQualityGrid(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        TextAnalysis.qualityKeyFromText(col("text")).as("qkey"))
      .checkpointSer
    val n = base.count()
    def decile(rn: org.apache.spark.sql.Column) =
      intDiv((rn - 1L) * 10L, lit(n)) + 1L
    val ld = Ranking.globalRowNumber(base.select("doc_id", "n_chars"),
        Seq(col("n_chars"), col("doc_id")), "lrn")
      .select(col("doc_id"), decile(col("lrn")).as("ldec"))
    val qd = Ranking.globalRowNumber(base.select("doc_id", "qkey"),
        Seq(col("qkey"), col("doc_id")), "qrn")
      .select(col("doc_id"), decile(col("qrn")).as("qdec"))
    val grid = ld.join(qd, "doc_id")
      .groupBy("ldec", "qdec").agg(count(lit(1)).as("n_docs"))
    val rowTot = grid.groupBy("ldec").agg(sum("n_docs").as("row_total"))
    grid.join(rowTot, "ldec")
      .select(col("ldec"), col("qdec"), col("n_docs"),
        ratio4(col("n_docs"), col("row_total")).as("row_share4"))
      .orderBy("ldec", "qdec")
  }

  /** `dedup_survivorship_quality`: does near-dup dedup BIAS the
    * corpus? Per exact quality decile: doc count, docs a
    * min-keeper near-dup dedup would drop (non-keeper members of the
    * LSH components — the #42 grain, dropped = doc_id ≠ component_id
    * since min-label components label by the min doc), and the ratio4
    * drop share. A flat drop_share4 row means dedup is
    * quality-neutral; drops concentrated in the top deciles mean the
    * near-dup gate is silently eating the best documents (templated
    * high-quality families) and the keeper rule should switch to
    * best-quality (#104).
    *
    * Shape: ONE GlobalRank pass for the deciles + the memoized
    * verified-pair components (shared with the ~10 other consumers —
    * no new corpus pass in a warm session); the join is uniform
    * int doc keys, the rollup O(10) rows. */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.qualityKeyFromText(col("text")).as("qkey"))
      .checkpointSer
    val n = base.count()
    val qd = Ranking.globalRowNumber(base, Seq(col("qkey"), col("doc_id")), "qrn")
      .select(col("doc_id"),
        (intDiv((col("qrn") - 1L) * 10L, lit(n)) + 1L).as("qdec"))
    val dropped = MinHashLSH.nearDupComponents(spark, dir)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id"), lit(true).as("is_dropped"))
    qd.join(dropped, Seq("doc_id"), "left")
      .groupBy("qdec")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("qdec"), col("n_docs"), col("n_dropped"),
        ratio4(col("n_dropped"), col("n_docs")).as("drop_share4"))
      .orderBy("qdec")
  }
}
