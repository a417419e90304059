package graft.operators

import graft.Partitioning._
import graft.{Substrate, Tables}
import graft.functions.Hashing.h64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end training-data cleaning pipeline as ONE declarative
  * plan: exact dedup → MinHash near-dup removal → quality gate →
  * language gate → fingerprinted output. Each stage is an existing
  * operator; composing them as DataFrame transforms lets Catalyst share
  * scans, push filters, and broadcast the small side of every gate —
  * nothing materializes between stages.
  *
  * Near-dup removal rule: drop every doc that appears as the larger id
  * of any verified near-dup pair (deterministic, no transitive-closure
  * pass — at 100 TB a connected-components step would be its own job).
  */
object Pipeline {

  val QualityMin = 0.6
  val PackSeqLen = 512L
  val TokenBudget = 25000L

  /** Holdout-split hash buckets; 0–7 train, 8 val, 9 test. */
  val SplitBuckets = 10
  val ValBucket = 8
  val TestBucket = 9

  /** The deterministic split label of a doc_id — the ONE spelling of
    * the holdout rule, shared by the split panel and the leakage
    * audit so they can never disagree on membership. */
  private def splitOf(docId: org.apache.spark.sql.Column) = {
    val b = pmod(h64(concat(lit("split:"), docId.cast("string"))),
      lit(SplitBuckets.toLong))
    when(b === ValBucket, "val")
      .when(b === TestBucket, "test")
      .otherwise("train")
  }

  /** Sequence packing — the training-data step after cleaning: docs are
    * concatenated in doc_id order and the token stream is cut every
    * `seqLen` tokens. Each doc reports its global token offset, the
    * training sequence (pack) its first token lands in, and whether it
    * straddles a cut (the fraction of straddling docs is the metric a
    * pipeline watches when choosing seqLen vs document-boundary
    * packing). The global offset is an exact exclusive prefix sum via
    * [[Ranking.globalPrefixSum]] — range-repartitioned, never a
    * single-partition window, so the plan survives a corpus that is
    * 10⁶× this test table. */
  def packSequences(spark: SparkSession, dir: String,
                    seqLen: Long = PackSeqLen): DataFrame =
    packOf(Tables.documents(spark, dir).select("doc_id", "text").spread
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks")),
      seqLen)

  /** Quality-ranked token-budget selection — "give me the best `budget`
    * tokens" (the data-budget cut every scaled-down training run makes,
    * and the selection step behind quality-pruning recipes): docs are
    * ranked by the exact integer quality key (ties broken by doc_id —
    * a total order), and a doc is selected when its exclusive prefix
    * sum of tokens in that order starts below the budget (the
    * boundary-straddling doc is included — greedy fill).
    *
    * The global prefix sum in quality order is the native
    * range-partitioned [[Ranking.globalPrefixSum]] — a descending sort
    * key exercises the exec's range exchange the other way; never a
    * single-partition window, so "rank the whole corpus by quality"
    * survives a 10⁶× bigger corpus. Output keeps ALL docs with their
    * offset and a selected flag (the audit panel); a pipeline would
    * `.filter($"selected")`. */
  /** `pipeline_budget_allocation`: the per-SOURCE half of the budget
    * cut — allocate a global token budget across feeds proportionally
    * to a quality weight (per-source mean quality key), capped by each
    * source's availability, with ONE deterministic redistribution pass
    * of the capped leftover among the uncapped sources. This is the
    * bounded-waterfilling allocator a training-mix owner actually
    * runs: #167 picks DOCUMENTS under a budget, #187 plans uniform
    * per-source targets — this one answers "who gets how many tokens
    * when quality differs and small feeds cap out". Exact int64
    * throughout (halfUp proportional splits); a residue can survive
    * the single redistribution pass (full waterfilling iterates a
    * data-dependent number of rounds — not oracle-able), and the panel
    * shows it rather than hiding it: Σ share4 < 1 exactly when tokens
    * stayed unallocated.
    *
    * Shape: one corpus-grain tokenize+groupBy to O(sources), then
    * O(sources) arithmetic over two broadcast total rows. int64
    * ceiling: budget × weight4 must stay under 2⁶³ — holds to ~10¹⁴
    * tokens at weight4 ≤ 10⁴; past that drop the weight scale. */
  def budgetAllocation(spark: SparkSession, dir: String,
                       budget: Long = TokenBudget): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, ratio4}
    val per = Tables.documents(spark, dir).select("source", "text").spread
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"),
        TextAnalysis.qualityKeyFromText(col("text")).as("qk"))
      .groupBy("source")
      .agg(sum("n").as("avail_toks"), count(lit(1)).as("n_docs"),
        sum("qk").as("sum_qk"))
      .select(col("source"), col("avail_toks"), col("n_docs"),
        halfUpDiv(col("sum_qk"), greatest(col("n_docs"), lit(1L)))
          .as("weight4"))
      .localCheckpoint()
    val tw = per.agg(sum("weight4").as("w_total"))
    val p1 = per.crossJoin(broadcast(tw))
      .withColumn("target_toks",
        halfUpDiv(lit(budget) * col("weight4"),
          greatest(col("w_total"), lit(1L))))
      .withColumn("alloc_toks", least(col("avail_toks"), col("target_toks")))
      .localCheckpoint()
    val lo = p1.agg(
      greatest(lit(budget) - sum("alloc_toks"), lit(0L)).as("leftover"),
      sum(when(col("alloc_toks") < col("avail_toks"), col("weight4"))
        .otherwise(0L)).as("w_open"))
    p1.crossJoin(broadcast(lo))
      .withColumn("extra_toks",
        least(col("avail_toks") - col("alloc_toks"),
          when(col("alloc_toks") < col("avail_toks"),
            halfUpDiv(col("leftover") * col("weight4"),
              greatest(col("w_open"), lit(1L)))).otherwise(0L)))
      .withColumn("final_toks", col("alloc_toks") + col("extra_toks"))
      .select(col("source"), col("avail_toks"), col("weight4"),
        col("target_toks"), col("final_toks"),
        ratio4(col("final_toks"), greatest(col("avail_toks"), lit(1L)))
          .as("fill4"),
        ratio4(col("final_toks"), lit(budget)).as("share4"))
      .orderBy("source")
  }

  def tokenBudget(spark: SparkSession, dir: String,
                  budget: Long = TokenBudget): DataFrame = {
    val perDoc = Tables.documents(spark, dir).select("doc_id", "text").spread
      .select(col("doc_id"),
        TextAnalysis.qualityKeyFromText(col("text")).as("q_key"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    Ranking.globalPrefixSum(perDoc,
        Seq(col("q_key").desc, col("doc_id")), "n_toks", out = "start_tok")
      .withColumn("selected", col("start_tok") < budget)
      .select("doc_id", "q_key", "n_toks", "start_tok", "selected")
      .orderBy("doc_id")
  }

  /** The packing core over any (doc_id, n_toks) frame — shared by the
    * oracle-checked query above and DocPipeline.packed. `baseOffset`
    * continues an EXISTING packed corpus: pass the prior run's total
    * token count and the new batch's offsets/packs pick up exactly
    * where the old corpus ended (incremental append — the same
    * fold-equals-full-pass contract the incremental dedup keeps). */
  def packOf(perDoc: DataFrame, seqLen: Long = PackSeqLen,
             baseOffset: Long = 0L): DataFrame = {
    import graft.functions.Hashing.intDiv
    Ranking.globalPrefixSum(perDoc.select("doc_id", "n_toks"),
        Seq(col("doc_id")), "n_toks", out = "start_tok")
      .withColumn("start_tok", col("start_tok") + baseOffset)
      .withColumn("pack_id", intDiv(col("start_tok"), lit(seqLen)))
      .withColumn("straddles",
        col("n_toks") > 0 &&
          intDiv(col("start_tok") + col("n_toks") - 1, lit(seqLen)) =!= col("pack_id"))
      .select("doc_id", "n_toks", "start_tok", "pack_id", "straddles")
      .orderBy("doc_id")
  }

  /** Candidate sequence lengths for [[packCurve]]. */
  val PackLens: Seq[Long] = Seq(256L, 512L, 1024L, 2048L)

  /** #193 `pipeline_pack_curve`: the seqLen-tuning curve for sequence
    * packing — per candidate length: pack count, docs straddling a cut,
    * ratio4 straddle share, and the last pack's fill ratio. The
    * straddle share is THE cost of continuous packing (a straddled doc
    * crosses an attention boundary); sweeping it against the pack count
    * is how a pipeline picks seqLen vs document-boundary packing.
    *
    * One corpus pass: the global token offset (the native
    * range-partitioned prefix sum — [[packOf]]'s, seqLen-INDEPENDENT)
    * feeds ONE aggregate with a conditional straddle sum per candidate
    * length, and the O(lens) rows unpivot from that single row (the
    * stack discipline) — the whole sweep costs what one packOf costs. */
  def packCurve(spark: SparkSession, dir: String,
                lens: Seq[Long] = PackLens): DataFrame = {
    import graft.functions.Hashing.{intDiv, ratio4}
    val perDoc = Tables.documents(spark, dir).select("doc_id", "text").spread
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    val p = Ranking.globalPrefixSum(perDoc.select("doc_id", "n_toks"),
      Seq(col("doc_id")), "n_toks", out = "start_tok")
    def straddle(l: Long) =
      sum(when(col("n_toks") > 0L &&
        intDiv(col("start_tok") + col("n_toks") - 1L, lit(l)) =!=
          intDiv(col("start_tok"), lit(l)), 1L).otherwise(0L)).as(s"st_$l")
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum("n_toks").as("total_toks")) ++ lens.map(straddle)
    val one = p.agg(aggs.head, aggs.tail: _*)
    val stacked = lens.map(l =>
      s"${l}L, st_$l").mkString(s"stack(${lens.size}, ", ", ", ")")
    one.select(col("n_docs"), col("total_toks"),
        expr(s"$stacked as (seq_len, n_straddle)"))
      .select(col("seq_len"), col("n_docs"), col("total_toks"),
        intDiv(col("total_toks") + col("seq_len") - 1L, col("seq_len")).as("n_packs"),
        col("n_straddle"),
        ratio4(col("n_straddle"), col("n_docs")).as("straddle_share"),
        ratio4(
          col("total_toks") -
            (intDiv(col("total_toks") + col("seq_len") - 1L, col("seq_len")) - 1L) *
              col("seq_len"),
          col("seq_len")).as("last_pack_fill"))
      .orderBy("seq_len")
  }

  /** #171 `pipeline_holdout_split`: deterministic hash-based
    * train/validation/test split panel — the assignment every training
    * pipeline makes before anything else, done by content-independent
    * hashing so it is (a) reproducible across runs and engines, (b)
    * stable under corpus appends (an old doc never changes split), and
    * (c) free of the ordering bias a modulo-on-ingest-order split has.
    * Bucket = h64("split:" + doc_id) mod [[SplitBuckets]]; buckets
    * 0–7 → train, [[ValBucket]] → val, [[TestBucket]] → test (80/10/10
    * in expectation; the panel shows the realized shares). Per split:
    * docs, exact token mass, and ratio4 shares of both. One narrow
    * token scan to an O(3) aggregate (partial map-side), totals
    * broadcast back — no corpus shuffle, scale-free output. The salt
    * prefix decorrelates the split from every other doc_id-hash use
    * (sampling, sketches). */
  def holdoutSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val bySplit = Tables.documents(spark, dir).select("doc_id", "text").spread
      .select(
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"),
        splitOf(col("doc_id")).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_toks"))
    val tot = bySplit.agg(sum("n_docs").as("td"), sum("n_toks").as("tt"))
    bySplit.crossJoin(broadcast(tot))
      .select(col("split"), col("n_docs"), col("n_toks"),
        ratio4(col("n_docs"), col("td")).as("doc_share"),
        ratio4(col("n_toks"), col("tt")).as("tok_share"))
      .orderBy("split")
  }

  /** #183 `split_leakage`: held-out split leakage audit — for the val
    * and test splits of the [[holdoutSplit]] hash rule, how much of
    * their rolling w-token window mass also occurs anywhere in the
    * train split. A hash split guarantees DOCUMENT disjointness and
    * nothing more: near-dup docs, boilerplate, and copied passages put
    * the same text on both sides, and an eval set measured on leaked
    * text overstates the model. This is the panel read before trusting
    * any loss/eval number from the split — same window grain as the
    * passage-dedup family ([[DocDedup.rollingWindowsOf]]), so "leaked"
    * here means exactly what "duplicated passage" means there.
    *
    * Per eval split: windowed docs (≥w tokens), docs with ≥1 leaked
    * window, window occurrences, leaked occurrences, ratio4 shares of
    * both. Shape: ONE corpus window derivation feeds both sides; the
    * train side collapses to distinct win_h (partial-aggregable); the
    * membership probe is a win_h-keyed hash join (uniform keys — the
    * hashes themselves); rollups are per-doc then O(2). At 100 TB the
    * train window set is corpus-sized, so the join shuffles both sides
    * on win_h — co-partitioned, no broadcast assumption. */
  def splitLeakage(spark: SparkSession, dir: String,
                   w: Int = DocDedup.ChunkTokens): DataFrame =
    splitLeakageOf(
      Tables.documents(spark, dir).select("doc_id", "text").spread
        .withColumn("split", splitOf(col("doc_id"))), w)

  /** The leakage core over pre-labeled (split, doc_id, text) frames —
    * the spec entry point: the hash rule decides membership in
    * production, but the audit itself is split-rule-agnostic. */
  def splitLeakageOf(labeled: DataFrame, w: Int = DocDedup.ChunkTokens): DataFrame = {
    import graft.functions.Hashing.ratio4
    val wins = DocDedup.rollingWindowsOf(
      labeled.select("doc_id", "split", "text"), w)
    val trainW = wins.filter(col("split") === "train")
      .select("win_h").distinct()
      .withColumn("leak", lit(true))
    val perDoc = wins.filter(col("split") =!= "train")
      .join(trainW, Seq("win_h"), "left")
      .groupBy("split", "doc_id")
      .agg(count(lit(1)).as("n_w"),
        sum(when(col("leak"), 1L).otherwise(0L)).as("n_l"))
    perDoc.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_l") > 0, 1L).otherwise(0L)).as("n_leaky_docs"),
        sum("n_w").as("n_windows"),
        sum("n_l").as("n_leaked"))
      .select(col("split"), col("n_docs"), col("n_leaky_docs"),
        col("n_windows"), col("n_leaked"),
        ratio4(col("n_leaked"), col("n_windows")).as("leak_share"),
        ratio4(col("n_leaky_docs"), col("n_docs")).as("doc_leak_share"))
      .orderBy("split")
  }

  /** `split_neardup_leakage`: near-dup DOCUMENT pairs straddling the
    * train/val/test hash split — the pair-grain companion of #183:
    * that panel catches copied PASSAGES on both sides of the split;
    * this one counts whole-document near-dups (the verified MinHash
    * pair set) whose endpoints landed in different splits — exactly
    * the documents an eval-set curator removes, because a val doc
    * whose near-twin is in train is a memorization probe, not an eval
    * point. Released per unordered split pair (the full 6-row spine,
    * zero-filled, so the panel's shape is corpus-independent): split
    * sizes and the straddling pair count.
    *
    * Shape: the pair set is the session-memoized #9 frame (edge-
    * sized); labeling is two broadcast-size joins on the O(docs)
    * (doc_id, split) projection; rollup O(1). */
  def splitNearDupLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sp = Tables.documents(spark, dir).select("doc_id").spread
      .withColumn("split", splitOf(col("doc_id")))
    val lab = MinHashLSH.nearDupPairs(spark, dir).select("d1", "d2")
      .join(sp.select(col("doc_id").as("d1"), col("split").as("sa")), "d1")
      .join(sp.select(col("doc_id").as("d2"), col("split").as("sb")), "d2")
      .select(least(col("sa"), col("sb")).as("split_1"),
        greatest(col("sa"), col("sb")).as("split_2"))
      .groupBy("split_1", "split_2").agg(count(lit(1)).as("np"))
    val sizes = sp.groupBy("split").agg(count(lit(1)).as("n"))
    val splits = Seq("test", "train", "val")
    val spine = splits.flatMap(a => splits.filter(_ >= a).map(b => (a, b)))
      .toDF("split_1", "split_2")
    spine
      .join(sizes.select(col("split").as("split_1"), col("n").as("na")),
        Seq("split_1"), "left")
      .join(sizes.select(col("split").as("split_2"), col("n").as("nb")),
        Seq("split_2"), "left")
      .join(lab, Seq("split_1", "split_2"), "left")
      .select(col("split_1"), col("split_2"),
        coalesce(col("na"), lit(0L)).as("n_docs_1"),
        coalesce(col("nb"), lit(0L)).as("n_docs_2"),
        coalesce(col("np"), lit(0L)).as("n_pairs"))
      .orderBy("split_1", "split_2")
  }

  /** The oracle-checked pipeline_clean_docs: BOTH gates (exact-dedup
    * keepers and near-dup losers) are computed over the FULL corpus —
    * exactly the oracle's one-shot gating, where the fluent
    * DocPipeline's stages see only their predecessor's survivors (the
    * two can diverge when a stage's hot-bucket cap straddles removed
    * rows). Metric columns ride one scan of the gated frame rather
    * than three joined metric frames. */
  def cleanDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
    val keepers = docs
      .withColumn("digest", h64(DocDedup.normalized(col("text"))))
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    // the verified pair list is the session-shared memo (τ = the
    // default 0.5) — round 17's last un-shared full LSH pipeline
    val losers = MinHashLSH.nearDupPairs(spark, dir, tau = 0.5)
      .select(col("d2").as("doc_id")).distinct()
    docs.join(keepers, "doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("quality_score", TextAnalysis.qualityScoreCol(col("toks"),
        length(regexp_replace(col("text"),
          s"[${TextAnalysis.WsClass}]", "")).cast("long")))
      .withColumn("pred_lang", TextAnalysis.predLangCol(col("toks")))
      .withColumn("fingerprint", TextAnalysis.fingerprintCol(col("text")))
      .filter(col("quality_score") >= QualityMin && col("pred_lang") === "en")
      .select("doc_id", "n_toks", "quality_score", "fingerprint")
      .orderBy("doc_id")
  }

  /** #161 `pipeline_training_mix`: the whole training-mix assembly as
    * ONE declarative plan — the composition a pretraining data team
    * actually ships:
    *
    *   1. decontaminated training split (eval-shingle overlap gate,
    *      [[Curation.decontaminated]]);
    *   2. exact-dedup keepers (min doc_id per normalized digest);
    *   3. trained quality gate: keep docs the curated-vs-crawl lexicon
    *      scores curated-like ([[QualityModels.lexiconScore]] pred=1);
    *   4. DSIR importance attached for downstream loss/sampling
    *      weighting ([[QualityModels.dsirWeights]], ≥2-token docs —
    *      shorter docs are not trainable sequences and drop here);
    *   5. survivors packed into fixed-length training sequences via the
    *      native range-partitioned prefix sum (never a single-partition
    *      window).
    *
    * Every stage joins on doc_id, so the gates co-partition after their
    * own aggregates; the model tables inside the stages keep their
    * broadcast/checkpoint shapes. The prefix sum consumes the joined
    * frame once (GlobalRankExec reuses its own shuffle for the seed and
    * main passes — no re-execution of the gate chain). */
  def trainingMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.intDiv
    Ranking.globalPrefixSum(Substrate.mixsurv(spark, dir),
        Seq(col("doc_id")), "n_toks", out = "start_tok")
      .withColumn("pack_id", intDiv(col("start_tok"), lit(PackSeqLen)))
      .select("doc_id", "source", "n_toks", "score", "importance",
        "start_tok", "pack_id")
      .orderBy("doc_id")
  }

  /** #164 `pipeline_pack_bpe`: sequence packing in TOKENIZER units —
    * what a training job actually cuts on. The corpus's own BPE
    * tokenizer (the #150 merge table, trained on the global word-type
    * vocab) encodes every doc's alnum word types to symbol counts, the
    * per-doc BPE token total replaces the whitespace count, and the
    * same native prefix-sum packing cuts every `seqLen` BPE tokens.
    * Encoding touches word TYPES once (vocab-sized narrow replace
    * chain); per-doc totals are one hash join of the checkpointed
    * (doc, word, count) frame onto the encoded vocab. Docs with no
    * alnum words carry zero trainable tokens and drop. */
  def packBpeSequences(spark: SparkSession, dir: String,
                       seqLen: Long = PackSeqLen): DataFrame = {
    val perDocWord = Tables.documents(spark, dir)
      .select("doc_id", "text").spread
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .checkpointSer
    // trainer reads the session-shared vocab + merge table (identical
    // (w, n) values to the former perDocWord rollup); the doc-grain
    // frame stays this query's own
    val nsyms = Curation.bpeEncodedSymbols(
      Substrate.bpevocab(spark, dir),
      Curation.bpeMergesLocalShared(spark, dir))
    packOf(
      perDocWord.join(nsyms, "w")
        .groupBy("doc_id")
        .agg(sum(col("cnt") * col("n_syms")).as("n_toks")),
      seqLen)
  }

  /** #162 `mix_retention_report`: what the gate stack did to the source
    * mix — per source, raw doc/token counts vs surviving counts and the
    * exact retention ratios. The panel a curation team reads FIRST
    * after changing any gate (a filter that silently empties one feed
    * shows up here, not in downstream loss curves). Raw side is one
    * narrow scan aggregate to O(sources) rows; the survivor side reuses
    * the gate chain; the final join is broadcast-sized both sides. */
  def mixRetention(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val raw = Tables.documents(spark, dir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n")).spread
      .groupBy("source")
      .agg(count(lit(1)).as("docs_in"), sum("n").as("toks_in"))
    val kept = Substrate.mixsurv(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("docs_kept"), sum("n_toks").as("toks_kept"))
    raw.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("docs_in"), col("toks_in"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("toks_kept"), lit(0L)).as("toks_kept"),
        ratio4(coalesce(col("docs_kept"), lit(0L)), col("docs_in")).as("doc_retention"),
        ratio4(coalesce(col("toks_kept"), lit(0L)), col("toks_in")).as("tok_retention"))
      .orderBy("source")
  }

  /** `pipeline_gate_ablation`: per-gate attribution of the training-mix
    * stack's losses — for each gate (decontamination, exact dedup,
    * lexicon quality), BOTH the solo view (docs/tokens the gate keeps
    * applied alone) and the MARGINAL view (docs/tokens the full stack
    * loses specifically because of this gate: kept by stack-minus-gate,
    * dropped by the stack) over the training split. Solo says how
    * aggressive a gate is; marginal says what it uniquely costs — the
    * pair that decides whether a gate stays (#162 shows per-source
    * WHAT changed, this shows per-gate WHY). The three `overlap:` rows
    * complete the attribution algebra: the kept/solo columns hold
    * docs/tokens kept by the pair applied JOINTLY, and the lost
    * columns hold docs/tokens DROPPED BY BOTH gates of the pair — the
    * double-counted mass that explains why the marginal losses sum to
    * less than the stack's total loss. Gate membership reuses the
    * operators themselves (no re-derived predicates to drift). All
    * seven rows derive from EIGHT 1-row semi-join aggregates over the
    * checkpointed (doc, tokens) frame — the overlap rows are
    * inclusion-exclusion arithmetic over the pair aggregates, not
    * extra corpus passes. */
  def gateAblation(spark: SparkSession, dir: String): DataFrame = {
    val mod = Curation.EvalMod
    val p = Tables.documents(spark, dir).select("doc_id", "text").spread
      .filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .checkpointSer
    val gDecon = Curation.decontaminated(spark, dir)
      .select("doc_id").checkpointSer
    val gDedup = Tables.documents(spark, dir).select("doc_id", "text").spread
      .withColumn("digest", h64(DocDedup.normalized(col("text"))))
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
      .select("doc_id").checkpointSer
    val gLex = QualityModels.lexiconScore(spark, dir)
      .filter(col("pred") === 1).select("doc_id").checkpointSer
    // membership FLAGS instead of semi-join chains: three
    // co-partitioned left joins tag each doc with its gate bits, and
    // ONE conditional aggregate computes all eight (count, tokens)
    // pairs — base, 3 solos, 3 pairs, stack — in a single corpus
    // pass (the exchange on doc_id is planned once and reused by the
    // join chain). Values identical to the semi-join formulation.
    val flagged = p
      .join(gDecon.withColumn("d0", lit(true)), Seq("doc_id"), "left")
      .join(gDedup.withColumn("k0", lit(true)), Seq("doc_id"), "left")
      .join(gLex.withColumn("l0", lit(true)), Seq("doc_id"), "left")
      .select(col("n_toks"),
        coalesce(col("d0"), lit(false)).as("fd"),
        coalesce(col("k0"), lit(false)).as("fk"),
        coalesce(col("l0"), lit(false)).as("fl"))
    def cnt(cond: Column, pre: String): Seq[Column] = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"${pre}c"),
      sum(when(cond, col("n_toks")).otherwise(0L)).as(s"${pre}t"))
    val aggs = cnt(lit(true), "p") ++
      cnt(col("fd"), "d") ++ cnt(col("fk"), "k") ++ cnt(col("fl"), "l") ++
      cnt(col("fd") && col("fk"), "dk") ++
      cnt(col("fd") && col("fl"), "dl") ++
      cnt(col("fk") && col("fl"), "kl") ++
      cnt(col("fd") && col("fk") && col("fl"), "s")
    // ONE 1-row stats frame: base + 3 solos + 3 pairs + stack
    val stats = flagged.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    def row(gate: String, kc: Column, kt: Column,
            lc: Column, lt: Column): DataFrame =
      stats.select(lit(gate).as("gate"),
        kc.as("docs_kept_solo"), kt.as("toks_kept_solo"),
        lc.as("docs_lost_marginal"), lt.as("toks_lost_marginal"))
    def c(n: String) = col(n + "c")
    def t(n: String) = col(n + "t")
    Seq(
      row("decontam", c("d"), t("d"), c("kl") - c("s"), t("kl") - t("s")),
      row("exact_dedup", c("k"), t("k"), c("dl") - c("s"), t("dl") - t("s")),
      row("lexicon", c("l"), t("l"), c("dk") - c("s"), t("dk") - t("s")),
      // dropped by BOTH gates of the pair = p − a − b + a∩b
      row("overlap:decontam*exact_dedup", c("dk"), t("dk"),
        c("p") - c("d") - c("k") + c("dk"), t("p") - t("d") - t("k") + t("dk")),
      row("overlap:decontam*lexicon", c("dl"), t("dl"),
        c("p") - c("d") - c("l") + c("dl"), t("p") - t("d") - t("l") + t("dl")),
      row("overlap:exact_dedup*lexicon", c("kl"), t("kl"),
        c("p") - c("k") - c("l") + c("kl"), t("p") - t("k") - t("l") + t("kl")),
      row("stack", c("s"), t("s"), c("p") - c("s"), t("p") - t("s")))
      .reduce(_ unionByName _)
      .orderBy("gate")
  }

  /** SPEC-ONLY comparison target: the same pipeline as [[cleanDocs]]
    * built by composing the standalone operators, kept so
    * DocPipelineSpec can assert the fused production path is equivalent.
    * Not registered as a query; do not use in pipelines. */
  def cleanDocsComposed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text")
      .spread

    // stage 1: exact dedup — keeper is min doc_id per normalized digest
    val keepers = docs
      .withColumn("digest", h64(DocDedup.normalized(col("text"))))
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
      .select("doc_id")

    // stage 2: near-dup removal — drop the larger side of each pair
    val nearDupLosers = MinHashLSH.nearDupPairs(spark, dir)
      .select(col("d2").as("doc_id")).distinct()

    // stages 3-5: quality, language, fingerprint (shared scans)
    val quality = TextAnalysis.quality(spark, dir)
      .select("doc_id", "n_toks", "quality_score")
    val lang = TextAnalysis.languageId(spark, dir).select("doc_id", "pred_lang")
    val fp = TextAnalysis.fingerprint(spark, dir)

    docs.join(keepers, "doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .join(quality, "doc_id")
      .join(lang, "doc_id")
      .join(fp, "doc_id")
      .filter(col("quality_score") >= QualityMin && col("pred_lang") === "en")
      .select("doc_id", "n_toks", "quality_score", "fingerprint")
      .orderBy("doc_id")
  }

  /** Output shard count for [[shardPlan]]. */
  val NumShards = 16

  /** #202 `pipeline_shard_plan`: token-balanced output sharding — the
    * write-side twin of sequence packing. Docs are ranked by
    * (n_toks desc, doc_id) and dealt serpentine across [[NumShards]]
    * shards (block b assigns ascending when b is even, descending when
    * odd — the classic balanced-deal that pairs a block's largest doc
    * with the previous block's smallest). The panel reports, per
    * shard, doc/token totals, the largest doc, the exact token share,
    * and `balance4` = shard_tokens · S / total (1.0 = perfectly even)
    * — the number a writer checks before committing a layout where
    * one hot shard would straggle every downstream read.
    *
    * Determinism: the deal is a pure function of the global rank, and
    * the rank comes from the native GlobalRank pass (range-partitioned,
    * no single-partition window). One token-count scan, one rank pass,
    * one O(corpus)→O(S) rollup; nothing here widens at 100 TB. */
  def shardPlan(spark: SparkSession, dir: String,
                nShards: Int = NumShards): DataFrame = {
    import graft.functions.Hashing.ratio4
    // grand total re-derived from the O(S) rollup, not a second
    // corpus tokenize pass (the gapHistogram cells→total pattern)
    val cells = shardAssignments(spark, dir, nShards).groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("shard_tokens"),
        max("n_toks").as("max_doc_tokens"))
      .localCheckpoint()
    val tot = cells.agg(sum("shard_tokens").as("g"))
    cells
      .crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        col("max_doc_tokens"),
        ratio4(col("shard_tokens"), col("g")).as("token_share"),
        ratio4(col("shard_tokens") * nShards, col("g")).as("balance4"))
      .orderBy("shard")
  }

  /** The per-doc shard assignment [[shardPlan]] summarizes — the frame
    * the writer actually consumes (`df.write.partitionBy` on `shard`,
    * or a repartition by it): doc_id, n_toks, global rank, shard. */
  def shardAssignments(spark: SparkSession, dir: String,
                       nShards: Int = NumShards): DataFrame =
    shardAssignmentsOf(
      Tables.documents(spark, dir).select("doc_id", "text").spread, nShards)

  /** [[shardAssignments]] over any (doc_id, text) frame — the
    * DocPipeline hook. */
  def shardAssignmentsOf(docs: DataFrame,
                         nShards: Int = NumShards): DataFrame = {
    import graft.functions.Hashing.intDiv
    val perDoc = docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
    Ranking.globalRowNumber(perDoc,
        Seq(col("n_toks").desc, col("doc_id")), "rn")
      .withColumn("block", intDiv(col("rn") - 1, lit(nShards.toLong)))
      .withColumn("pos", pmod(col("rn") - 1, lit(nShards.toLong)))
      .withColumn("shard",
        when(pmod(col("block"), lit(2L)) === 0L, col("pos"))
          .otherwise(lit(nShards - 1L) - col("pos")))
      .drop("block", "pos")
  }

  /** Fold count for [[groupFolds]]. */
  val NumFolds = 5

  /** `pipeline_group_folds`: leakage-free GroupKFold — the FIX for
    * what `split_leakage` (#183) measures. A per-document hash split
    * guarantees document disjointness and nothing more: near-dup
    * families straddle folds and cross-validation scores leak. Here
    * the assignment unit is the near-dup COMPONENT (singleton docs
    * form their own group), fold = h64 of the group id mod K — so
    * every verified near-dup pair lands in ONE fold by construction.
    * Per fold: doc count, group count, exact ratio4 doc share, and
    * the cross-fold verified-pair count released as a counted fact
    * (provably 0 — the zero-leakage guarantee next to the balance
    * evidence a reviewer needs to trust the folds).
    *
    * Shape: the verified pair list + components are the session-
    * memoized artifacts ~10 other panels share (no new corpus pass in
    * a warm session); the rest is two uniform-int-key joins and an
    * O(K) rollup. */
  def groupFolds(spark: SparkSession, dir: String,
                 k: Int = NumFolds): DataFrame = {
    import graft.functions.Hashing.ratio4
    val comp = MinHashLSH.nearDupComponents(spark, dir)
    val lab = Tables.documents(spark, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("gid"))
      .withColumn("fold",
        pmod(h64(concat(lit("fold:"), col("gid").cast("string"))), lit(k.toLong)))
      .checkpointSer // feeds the rollup AND both pair endpoints
    val cross = MinHashLSH.nearDupPairs(spark, dir)
      .select("d1", "d2")
      .join(lab.select(col("doc_id").as("d1"), col("fold").as("f1")), "d1")
      .join(lab.select(col("doc_id").as("d2"), col("fold").as("f2")), "d2")
      .filter(col("f1") =!= col("f2"))
      .groupBy(col("f1").as("fold"))
      .agg(count(lit(1)).as("n_cross_pairs"))
    val tot = lab.agg(count(lit(1)).as("n_total"))
    lab.groupBy("fold")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("gid")).as("n_groups"))
      .join(cross, Seq("fold"), "left")
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("n_groups"),
        ratio4(col("n_docs"), col("n_total")).as("doc_share4"),
        coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs"))
      .orderBy("fold")
  }
}
