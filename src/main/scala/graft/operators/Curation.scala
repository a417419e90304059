package graft.operators

import graft.Partitioning._
import graft.{Substrate, Tables}
import graft.functions.Hashing.h64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond dedup: benchmark
  * contamination detection, cross-corpus near-dup audit, rebalancing
  * stratified sampling, BPE-style pair statistics, and an inverted
  * index — the remaining table-stakes passes of an LLM data pipeline.
  *
  * All are single-digit shuffle counts with partial aggregation; none
  * joins anything quadratic. Where a "small" side exists (benchmark
  * shingle set, per-stratum counts) it is bounded by construction, so
  * AQE picks a broadcast join at any corpus scale.
  */
object Curation {

  /** Deterministic eval split: doc_id ≡ 0 (mod EvalMod) plays the
    * "benchmark suite" whose n-grams must not leak into training. */
  val EvalMod = 20

  /** Contamination shingle width. 13-grams are the published norm for
    * benchmark decontamination (GPT-3 appendix C uses 13); the test
    * docs are 10-99 tokens, so 5 keeps per-doc shingle sets non-empty
    * while exercising the identical plan shape. */
  val ContamN = 5

  /** (doc_id, 60-bit shingle hash) pairs, shingles distinct per doc.
    * Hashing shingles BEFORE the join keeps the exchanged key fixed
    * width — at corpus scale the join never moves raw n-gram text.
    * THE shingle definition of the decontamination gate — batch and
    * streaming both call this, so the two sides cannot drift. */
  private[graft] def shingleHashesOf(docs: DataFrame, n: Int = ContamN): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.plans.TextExpressions.shingles(col("text"), n)).as("shingle"))
      .select(col("doc_id"), h64(col("shingle")).as("sh"))

  /** Benchmark-contamination report: for every training document, how
    * many of its distinct n-gram shingles also occur anywhere in the
    * eval split (docs with doc_id % EvalMod == 0), as a count and a
    * ratio. Only contaminated docs (overlap > 0) are reported.
    *
    * Plan: one shingle explode, a semi-join on the shingle hash against
    * the eval split's distinct shingles (benchmark suites are tiny and
    * fixed-size in production, so that side broadcasts), and one
    * per-doc aggregation. Linear in corpus shingle volume. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
    // eval and train are filtered BEFORE shingling, and shingle totals +
    // eval hits come out of ONE aggregation (left join against the
    // distinct eval set with a hit marker) — the train split is
    // shingled exactly once; a separate totals branch would re-run the
    // explode over the whole corpus
    val evalSh = shingleHashesOf(docs.filter(col("doc_id") % EvalMod === 0))
      .select("sh").distinct()
    contaminationOf(docs.filter(col("doc_id") % EvalMod =!= 0), evalSh)
  }

  /** The contamination gate over an arbitrary (doc_id, text) batch
    * against an already-built distinct eval shingle-hash table — the
    * INCREMENTAL form: benchmark suites are fixed, so the eval table
    * is built once and persisted, and each new ingest batch costs one
    * explode + one hash join + one per-doc aggregation, linear in the
    * batch and independent of how much corpus came before. Folding
    * batches equals one full pass (per-doc rows are disjoint across
    * batches; CurationSpec pins it). The streaming twin is
    * StreamContamination. */
  def contaminationOf(newDocs: DataFrame, evalSh: DataFrame): DataFrame =
    contaminationCore(newDocs, evalSh).orderBy("doc_id")

  /** Unordered report core (intermediate consumers skip the sort). */
  private[graft] def contaminationCore(newDocs: DataFrame, evalSh: DataFrame): DataFrame =
    shingleHashesOf(newDocs)
      .join(evalSh.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .withColumn("ratio",
        graft.functions.Hashing.ratio4(col("n_contaminated"), col("n_shingles")))
      .select("doc_id", "n_shingles", "n_contaminated", "ratio")

  /** Contamination ratio above which the apply step drops a document. */
  val MaxContamRatio = 0.2

  /** The decontamination APPLY step — what the training pipeline
    * actually executes once the report exists: the train split minus
    * documents leaking more than `maxRatio` of their shingles into the
    * benchmark set. One anti-join against the (tiny) flagged list on
    * top of the report's linear plan; docs too short to shingle carry
    * no overlap evidence and are kept. */
  def decontaminated(spark: SparkSession, dir: String,
                     maxRatio: Double = MaxContamRatio): DataFrame =
    // session-shared (round-17 verdict item 4): the decontaminated
    // train split feeds pipeline_decontaminated, the training-mix
    // chain AND the gate-ablation panel — one eval-shingle overlap
    // pass per session instead of one per consumer
    Substrate.decon(spark, dir, maxRatio)

  /** Cross-corpus near-dup audit: MinHash/LSH near-dup pairs whose two
    * documents come from DIFFERENT sources — the "did corpus A leak
    * into corpus B" question (train/test splits, licensed vs scraped
    * sets). Same candidate machinery as dedup_minhash_lsh; the source
    * columns ride a join on doc_id (hash join on the pair endpoints —
    * never wider than the pair list itself). */
  def crossSourcePairs(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    MinHashLSH.nearDupPairs(spark, dir, tau)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .filter(col("s1") =!= col("s2"))
      .select("d1", "d2", "s1", "s2", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Sampling-ratio denominator: 2^40 ≈ 1.1e12, so the integer
    * threshold floor(2^40·target/count) stays non-zero for strata up to
    * target×2^40 docs — no stratum silently vanishes at corpus scale
    * (a 1e6 modulus underflowed to zero past 2e7 docs/stratum). */
  val SampleSpace: Long = 1L << 40

  /** Rebalancing stratified sample: ~`target` docs per source, chosen
    * by deterministic hash threshold — over-represented sources are
    * downsampled toward the target, rare sources are kept whole. The
    * threshold is exact INTEGER arithmetic (floor(2^40·target/count)),
    * so membership is reproducible on any engine and cluster layout;
    * the keep test is a per-row hash compare, one narrow pass.
    * Per-stratum counts are a tiny aggregate joined back (broadcast by
    * AQE — #strata ≪ #rows at any scale). */
  /** Default per-source target of [[stratifiedSample]] — named so the
    * oracle derives its threshold from the same constant. */
  val StratTarget = 20

  def stratifiedSample(spark: SparkSession, dir: String, target: Int = StratTarget): DataFrame = {
    val docs = Tables.documents(spark, dir).select("source", "doc_id")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
    docs.join(counts, "source")
      .withColumn("thresh",
        least(lit(SampleSpace), expr(s"${SampleSpace * target} div cnt")))
      .filter(h64(concat(lit("strat:"), col("doc_id").cast("string"))) % SampleSpace
        < col("thresh"))
      .select("source", "doc_id")
      .orderBy("source", "doc_id")
  }

  /** Corpus health report: per source, how many documents participate
    * in ANY near-dup pair, as a count and a rate — the number a
    * curation dashboard tracks per ingest feed. The duplicate-doc set
    * comes from the MinHash/LSH pair list (linear candidate
    * generation); the rate aggregation is one left join + groupBy. */
  def sourceDupRate(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val dupDocs = MinHashLSH.nearDupPairs(spark, dir, tau)
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
      .withColumn("dup", lit(1))
    docs.join(dupDocs, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("dup")).as("n_dup_docs"))
      .withColumn("dup_rate",
        graft.functions.Hashing.ratio4(col("n_dup_docs"), col("n_docs")))
      .orderBy("source")
  }

  /** Data-mixture report — the rebalancing panel a training-data
    * pipeline reads before sampling: per source, document and exact
    * token counts, the source's share of all tokens, and the
    * resampling weight that would move the mix to a UNIFORM per-source
    * token target (weight = (total div nSources) / n_toks, exact
    * rational ratio4 — >1 means upsample, <1 downsample). One
    * narrow-scan groupBy to O(sources) rows; the totals ride back as a
    * broadcast, never a second corpus pass. */
  def sourceMixReport(spark: SparkSession, dir: String): DataFrame =
    sourceMixReportOf(Tables.documents(spark, dir).select("source", "text").spread)

  /** The mix-report core over any (source, text) frame — shared by the
    * oracle-checked query above and DocPipeline.mixReport. */
  def sourceMixReportOf(docs: DataFrame): DataFrame = {
    import graft.functions.Hashing.{intDiv, ratio4}
    // localCheckpoint the O(sources) aggregate: the totals derive from
    // it AND it feeds the final join — without the checkpoint both
    // consumers would re-run the corpus scan + shuffle
    val t = docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"))
      .localCheckpoint()
    val tot = t.agg(sum("n_toks").as("total"), count(lit(1)).as("n_sources"))
    t.crossJoin(broadcast(tot))
      .withColumn("tok_share", ratio4(col("n_toks"), col("total")))
      .withColumn("mix_weight",
        ratio4(intDiv(col("total"), col("n_sources")), col("n_toks")))
      .select("source", "n_docs", "n_toks", "tok_share", "mix_weight")
      .orderBy("source")
  }

  /** Epoch cap for [[epochPlan]] — the data-constrained-scaling
    * finding (Muennighoff et al. 2023): repeating data is nearly as
    * good as fresh data for ~4 epochs, then returns decay rapidly. */
  val MaxEpochs = 4L

  /** #187 `pipeline_epoch_plan`: the FEASIBILITY view of the uniform
    * mix target — [[sourceMixReport]] says what weight each source
    * needs; this panel says whether the repeat-cap allows it and what
    * the realized mix will be. Per source: exact tokens, the uniform
    * per-source token target (total div nSources — the same target the
    * mix weight is computed against), planned tokens =
    * min(target, n_toks · MaxEpochs), realized epochs (ratio4), the
    * DEFICIT the cap leaves unfilled (>0 ⇒ the source is too small to
    * meet the target even repeated MaxEpochs times — the signal to
    * ingest more of that feed or re-weight the others), and the
    * realized post-cap share. All arithmetic is exact int64; shape is
    * the mix report's: one narrow-scan O(sources) aggregate
    * (localCheckpointed — it feeds its own totals), totals broadcast
    * back. */
  def epochPlan(spark: SparkSession, dir: String,
                maxEpochs: Long = MaxEpochs): DataFrame = {
    import graft.functions.Hashing.{intDiv, ratio4}
    val t = Tables.documents(spark, dir).select("source", "text").spread
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_toks"))
      .localCheckpoint()
    val tot = t.agg(sum("n_toks").as("total"), count(lit(1)).as("n_sources"))
    val planned = t.crossJoin(broadcast(tot))
      .withColumn("target_toks", intDiv(col("total"), col("n_sources")))
      .withColumn("planned_toks",
        least(col("target_toks"), col("n_toks") * maxEpochs))
      .localCheckpoint()
    val ptot = planned.agg(sum("planned_toks").as("pt"))
    planned.crossJoin(broadcast(ptot))
      .select(col("source"), col("n_toks"), col("target_toks"),
        col("planned_toks"),
        ratio4(col("planned_toks"), col("n_toks")).as("epochs"),
        (col("target_toks") - col("planned_toks")).as("deficit_toks"),
        ratio4(col("planned_toks"), col("pt")).as("planned_share"))
      .orderBy("source")
  }

  /** The dedup MANIFEST — the artifact a dedup pass actually applies
    * to a corpus: per document, a keep/drop status with its reason and
    * the canonical doc it defers to. Exact duplicates (same normalized
    * text, higher doc_id) take precedence; near-dup component members
    * defer to their component's minimum; component minima are kept as
    * canonicals; everything else is unique. One window over the exact
    * digest + a left join onto the (pair-involved-only) component
    * labels. */
  def dedupManifest(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    val exact = Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("digest", h64(DocDedup.normalized(col("text"))))
      .withColumn("keep_id",
        min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      .select("doc_id", "keep_id")
    val comp = MinHashLSH.nearDupComponents(spark, dir, tau)
    val base = exact.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), lit("drop_exact"))
          .when(col("component_id").isNotNull && col("component_id") =!= col("doc_id"),
            lit("drop_near_dup"))
          .when(col("component_id").isNotNull, lit("keep_canonical"))
          .otherwise(lit("keep_unique")).as("status"),
        when(col("doc_id") =!= col("keep_id"), col("keep_id"))
          .otherwise(coalesce(col("component_id"), col("doc_id"))).as("canonical_id"))
    // Chase canonical references to a FIXPOINT: a near-dup member's
    // component minimum can itself be an exact duplicate (and an exact
    // duplicate's keeper can be a near-dup member), so the immediate
    // representative may be a doc this manifest drops. Every hop
    // strictly decreases the id (both keep_id and component_id are
    // minima), so the chase terminates; in real corpora it is 1-2
    // hops (same shape as the component label loop).
    //
    // The upstream pipeline (exact window + the whole LSH component
    // pass) is materialized ONCE; the loop then touches only the rows
    // that can still move — docs pointing at another doc, a
    // duplicate-sized set, not the corpus. Self-canonical rows
    // (keep_unique/keep_canonical and already-resolved drops) never
    // re-enter a join.
    val base0 = base.checkpointSer // corpus-sized (one row per doc) — serialized posture
    val m = base0.filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("m_id"), col("canonical_id").as("m_next"))
    val stable = base0.filter(col("doc_id") === col("canonical_id"))
    var moving = base0.filter(col("doc_id") =!= col("canonical_id"))
    var converged = false
    while (!converged) {
      val stepped = moving.join(m, col("canonical_id") === col("m_id"), "left")
        .select(col("doc_id"), col("status"),
          coalesce(col("m_next"), col("canonical_id")).as("canonical_id"),
          col("m_next").isNotNull.as("moved"))
        .checkpointSer // duplicate-sized per round — scales with the data
      converged = stepped.filter(col("moved")).isEmpty
      moving = stepped.drop("moved")
    }
    stable.unionByName(moving).orderBy("doc_id")
  }

  /** Canonical selection by QUALITY: each near-dup component keeps its
    * highest-quality member (TextAnalysis.qualityKeyCol — the exact
    * int64 quality key, so the argmax is engine-exact; ties break to
    * the smallest doc_id) instead of the smallest id — the policy a
    * production pipeline actually wants (keep the best copy, not the
    * first-crawled). One window over the component label; components
    * come from the shared MinHash/LSH pipeline. */
  def bestQualityCanonical(spark: SparkSession, dir: String,
                           tau: Double = 0.5): DataFrame = {
    val comp = MinHashLSH.nearDupComponents(spark, dir, tau)
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.qualityKeyFromText(col("text")).as("q_key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component_id").orderBy(col("q_key").desc, col("doc_id"))
    comp.join(q, "doc_id")
      .withColumn("keep_id", first("doc_id").over(w))
      .select("doc_id", "component_id", "q_key", "keep_id")
      .orderBy("doc_id")
  }

  /** Quality-weighted sample: each document is kept with probability
    * proportional to a quality weight (here length-based, capped at 1)
    * — the deterministic importance-sampling pass a data-mixing recipe
    * applies before training. Membership = hash < weight·2^40: a pure
    * per-row predicate, no shuffle at all, reproducible across engines
    * and cluster layouts (the weight product is IEEE double arithmetic
    * on both sides, floored once). */
  def weightedSample(spark: SparkSession, dir: String,
                     fullAt: Int = 500): DataFrame =
    Tables.documents(spark, dir)
      .select("source", "doc_id", "n_chars")
      .withColumn("w", least(lit(1.0), col("n_chars") / fullAt.toDouble))
      .filter(h64(concat(lit("wsamp:"), col("doc_id").cast("string"))) % SampleSpace
        < floor(col("w") * SampleSpace).cast("long"))
      .select("source", "doc_id", "n_chars")
      .orderBy("doc_id")

  /** BPE-style adjacent-pair statistics: occurrence counts of adjacent
    * token pairs across the corpus — the inner loop of byte-pair /
    * wordpiece vocabulary training, whose corpus-wide pair-count step
    * is exactly a distributed explode + count. Top `topN` pairs with
    * a deterministic tie-break. */
  def bpePairCounts(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    // fused per-doc pair counts (plans.PairCountArray): the former
    // explode(transform(...)) spelling evaluated its lambda interpreted
    // per token and shuffled at bigram-OCCURRENCE grain; the kernel
    // counts per doc in the scan, so the exchange moves per-doc
    // DISTINCT pairs and Σc is the same occurrence count (sf10
    // measured: 77.2 → see PLANS round 15; hashes unchanged)
    Tables.documents(spark, dir)
      .select("text").spread
      .select(explode(graft.plans.TextExpressions.pairCounts(col("text"))).as("pc"))
      .groupBy(col("pc.pair").as("pair"))
      .agg(sum("pc.c").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)
  }

  val BpeRounds = 8

  /** BPE merge-loop vocabulary training — the iterative completion of
    * [[bpePairCounts]]: `rounds` greedy merges, each round picking the
    * corpus-wide most frequent adjacent symbol pair and fusing it.
    *
    * Scale shape (the classic Sennrich formulation): training runs over
    * WORD TYPES with frequency weights, not corpus tokens — one
    * corpus-sized aggregation up front, then every round is an
    * aggregation over the vocabulary (≪ corpus). Per round: one
    * distributed pair-count aggregate + TakeOrdered(1) argmax collected
    * as DRIVER state (the k-means Lloyd discipline), then the merge is
    * applied as ONE literal string replace per word — no shuffle.
    *
    * Cross-engine exactness: words are wrapped as "(a)(b)(c)", so the
    * merge pattern "(l)(r)" is boundary-exact (symbols are [a-z0-9]+,
    * never containing parens) and `replace()` IS the greedy
    * left-to-right non-overlapping merge, with identical semantics in
    * Spark and DuckDB; the argmax tie-break (count desc, "l r" pair
    * string asc) is total and binary-collated on both engines. */
  def bpeTrainMerges(spark: SparkSession, dir: String,
                     rounds: Int = BpeRounds): DataFrame =
    Substrate.bpemerges(spark, dir, rounds)

  /** The shared merge table collected to the encoder's driver form —
    * O(rounds) rows. */
  def bpeMergesLocalShared(spark: SparkSession, dir: String,
                           rounds: Int = BpeRounds): Seq[(Long, String, String, String, Long)] =
    Substrate.bpemerges(spark, dir, rounds)
      .orderBy("merge_rank").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  /** The merge loop over any (w, n) word-frequency frame. */
  def bpeTrainMergesOf(spark: SparkSession, words0: DataFrame,
                       rounds: Int): DataFrame = {
    import spark.implicits._
    bpeTrainMergesLocal(words0, rounds)
      .toDF("merge_rank", "lhs", "rhs", "merged", "n")
      .orderBy("merge_rank")
  }

  /** The trained merge table as DRIVER state (rank, lhs, rhs, merged,
    * count) — the form the encoder consumes. */
  def bpeTrainMergesLocal(words0: DataFrame,
                          rounds: Int): Seq[(Long, String, String, String, Long)] = {
    // ONE checkpoint up front; each round then stacks one narrow literal
    // replace on the lineage instead of paying a materialization job —
    // round r recomputes r string replaces over the vocab frame, which
    // is microseconds of work, versus a full Spark job per round (the
    // job count, not the data, dominates BPE training cost)
    var words = words0
      .select(regexp_replace(col("w"), "(.)", "($1)").as("s"), col("n"))
      .checkpointSer
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (r <- 1 to rounds) {
      // fused symbol-pair kernel (plans.SymbolPairCountArray): parses
      // the wrapped form and counts adjacent pairs in one compiled
      // pass per word type — the old replace→split→transform chain
      // ran its lambda interpreted per symbol, per ROUND
      val top = words
        .select(explode(graft.plans.TextExpressions
          .symbolPairCounts(col("s"))).as("pc"), col("n"))
        .groupBy(col("pc.pair").as("pair"))
        .agg(sum(col("pc.c") * col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val Array(l, rr) = pair.split(" ", 2)
        merges += ((r.toLong, l, rr, l + rr, cnt))
        if (r < rounds) // the last merge is recorded, never applied
          words = words.withColumn("s",
            expr(s"replace(s, '($l)($rr)', '($l$rr)')"))
      }
    }
    merges.result()
  }

  /** Word types encoded with an already-trained merge table: the wrap →
    * replace-per-merge chain (rank order, all narrow — no shuffle),
    * reduced to the BPE symbol count per word. */
  def bpeEncodedSymbols(words0: DataFrame,
                        merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    var enc = words0
      .select(col("w"), regexp_replace(col("w"), "(.)", "($1)").as("s"))
    for ((_, l, r, _, _) <- merges)
      enc = enc.withColumn("s", expr(s"replace(s, '($l)($r)', '($l$r)')"))
    enc.select(col("w"),
      size(split(trim(expr("replace(s, ')(', ' ')"), "()"), " "))
        .cast("long").as("n_syms"))
  }

  /** Tokenizer-fertility report — train [[bpeTrainMerges]]' merge table,
    * ENCODE the corpus with it, and report per source: word count, BPE
    * token count, and fertility (BPE tokens per word, the
    * tokenizer-quality metric a data-mixture recipe watches per domain).
    * Encoding touches WORD TYPES once (vocab-sized, merges applied as a
    * narrow replace chain); the per-source roll-up is one hash join of
    * the (source, word, count) frame onto the encoded vocab and one
    * aggregation — corpus text is scanned once. */
  def bpeEncodeFertility(spark: SparkSession, dir: String,
                         rounds: Int = BpeRounds): DataFrame = {
    import graft.functions.Hashing.ratio4
    val docs = Tables.documents(spark, dir)
      .select("source", "text").spread
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
    // one corpus scan: the (source, word, count) frame is checkpointed
    // and both the training vocab and the final roll-up derive from it
    val bySourceWord = docs.groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      .checkpointSer
    // train side reads the SESSION-SHARED vocab + merge table (same
    // (w, n) values as the bySourceWord rollup — one global filter +
    // count either way); only the per-source grain is this query's own
    val nsyms = bpeEncodedSymbols(Substrate.bpevocab(spark, dir),
      bpeMergesLocalShared(spark, dir, rounds))
    bySourceWord.join(nsyms, "w")
      .groupBy("source")
      .agg(sum("cnt").as("n_words"),
        sum(col("cnt") * col("n_syms")).as("n_bpe_tokens"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        ratio4(col("n_bpe_tokens"), col("n_words")).as("fertility"))
      .orderBy("source")
  }

  /** Inverted index head: for the `topN` highest-document-frequency
    * terms, the document frequency and the first `sample` postings
    * (sorted doc ids, comma-joined — a bounded preview, not the full
    * posting list). One distinct + one aggregation, both on the term.
    * The preview is the mergeable min-k aggregate (KmvSampleAgg keyed
    * by the doc id itself) — per-term aggregation state is O(sample)
    * even for stopword-grade terms whose df approaches the corpus
    * size, where a collect_list-then-slice would buffer the full
    * posting list on one reducer. `TakeOrdered` keeps only the head
    * on the driver. */
  def invertedIndex(spark: SparkSession, dir: String,
                    topN: Int = 20, sample: Int = 5): DataFrame = {
    val td = Tables.documents(spark, dir)
      .select("doc_id", "text").spread
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .distinct()
    td.groupBy("term")
      .agg(count(lit(1)).as("df"),
        graft.plans.ThetaSketchFunctions
          .kmvSample(col("doc_id"), col("doc_id"), sample).as("mk"))
      .select(col("term"), col("df"),
        array_join(
          transform(array_sort(expr("transform(mk, x -> x.v)")),
            d => d.cast("string")),
          ",").as("postings"))
      .orderBy(col("df").desc, col("term"))
      .limit(topN)
  }

  /** `pipeline_dedup_cascade`: the staged-funnel summary of a
    * multi-pass dedup — exact (md5 text digest, keep-min) → verified
    * MinHash near-dup (#9's pair set) → shingle containment (#100's
    * pair set), each stage a GREEDY pair pass over the rows still
    * alive: a doc is dropped when it is the larger id of a pair whose
    * smaller id also survived the earlier stages. Greedy-per-pair is
    * the documented semantic (the cascade a curation run actually
    * executes); full transitive closure is #42/#186's job — this
    * panel reports what each marginal stage COSTS, which is the
    * number that decides whether a stage stays in the production
    * cascade. Per stage: rows_in, dropped, rows_out, drop_share4.
    *
    * Scale shape: the pair families are the capped bucket joins they
    * already are; the alive-filters are semi/anti joins on the
    * survivor id set (partitioned on the id); the counts are 1-row
    * aggregates crossJoined into the 3-row output. */
  def dedupCascade(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
      .checkpointSer
    // exact: keep-min per digest; NULL-text docs have no digest and
    // all survive (a null is not a duplicate of another null)
    val w = Window.partitionBy("dg").orderBy("doc_id")
    val s1 = docs.withColumn("dg", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("dg").isNull || col("rn") === 1)
      .select("doc_id").checkpointSer
    def survivors(prev: DataFrame, pairs: DataFrame): DataFrame = {
      val alive = pairs
        .join(prev.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
        .join(prev.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
      prev.join(alive.select(col("d2").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").checkpointSer
    }
    val s2 = survivors(s1, MinHashLSH.nearDupPairs(spark, dir).select("d1", "d2"))
    val s3 = survivors(s2, DocDedup.containmentPairs(spark, dir).select("d1", "d2"))
    // per-stage TOKEN savings alongside doc counts — tokens are the
    // unit training budgets are written in, so "what does each tier
    // buy" must be answerable in both
    val tk = docs.select(col("doc_id"),
      coalesce(size(TextAnalysis.tokens(col("text"))), lit(0))
        .cast("long").as("nt")).checkpointSer
    def agg2(df: DataFrame, pre: String): DataFrame =
      df.select("doc_id").join(tk, "doc_id")
        .agg(count(lit(1)).as(s"${pre}_rows"),
          coalesce(sum("nt"), lit(0L)).as(s"${pre}_toks"))
    def row(stage: Long, name: String, in: DataFrame, out: DataFrame) =
      agg2(in, "in").crossJoin(broadcast(agg2(out, "out")))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("in_rows").as("rows_in"),
          (col("in_rows") - col("out_rows")).as("dropped"),
          col("out_rows").as("rows_out"),
          ratio4(col("in_rows") - col("out_rows"), col("in_rows"))
            .as("drop_share4"),
          col("in_toks").as("toks_in"),
          (col("in_toks") - col("out_toks")).as("toks_dropped"),
          ratio4(col("in_toks") - col("out_toks"), col("in_toks"))
            .as("tok_drop_share4"))
    row(1L, "exact", docs, s1)
      .unionByName(row(2L, "near_dup", s1, s2))
      .unionByName(row(3L, "containment", s2, s3))
      .orderBy("stage")
  }
}
