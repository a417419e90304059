package graft.operators

import graft.Partitioning._
import graft.{Substrate, Tables}
import graft.functions.Hashing.h64
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-level deduplication for an LLM-data pipeline: exact
  * (normalize→hash→groupBy) and n-gram-Jaccard near-dup (shingle
  * explode → shuffle on shingle → pair aggregation). No cross joins:
  * candidate generation is linear in (docs × shingles), pairs only
  * materialize for docs that actually share a shingle.
  */
object DocDedup {

  /** Hot-shingle cap: shingles present in more document sets than this
    * are boilerplate (templated headers, empty-doc artifacts). A shingle
    * shared by k docs emits k² candidate pairs in the self-join, so one
    * hot shingle is quadratic at corpus scale; above-cap shingles also
    * carry no discriminative signal, so near-dup Jaccard is DEFINED over
    * the df-capped shingle set (the oracle applies the identical cap). */
  val MaxShingleDf = 64

  /** Canonical text: lowercase, trim, collapse whitespace. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Distinct 3-token shingles of a document. */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(0), size(toks) - 3), i =>
        concat_ws(" ",
          element_at(toks, i + 1),
          element_at(toks, i + 2),
          element_at(toks, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** documents ∪ an upper-cased replica (id+100000) — deterministic
    * casing noise that exact normalization must collapse. */
  def docsWithCaseNoise(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
      .spread
    d.unionAll(d.select((col("doc_id") + 100000L).as("doc_id"),
                        upper(col("text")).as("text")))
  }

  /** #7: exact dedup on normalized text — one shuffle on the digest. */
  def exactDocs(spark: SparkSession, dir: String): DataFrame =
    docsWithCaseNoise(spark, dir)
      .withColumn("digest", h64(normalized(col("text"))))
      .groupBy("digest")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "digest", "n_copies")
      .orderBy("keep_id")

  /** Deterministic k-per-group sample: rank by a seeded hash of the row
    * key — reproducible "random" sampling (same inputs → same sample on
    * any cluster size), the property a curation pipeline needs for
    * auditable training sets. One shuffle on the group key. */
  def samplePerSource(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("rand_key"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rand_key",
        graft.functions.Hashing.h64(concat(lit("sample:"), col("doc_id").cast("string"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("source", "rnk", "doc_id")
      .orderBy("source", "rnk")
  }

  /** (doc_id, shingle) pairs, shingles distinct per doc.
    *
    * The shingle expression is the per-row hot spot, so the narrow
    * (doc_id, text) projection goes through `spread`: rebalanced across
    * cores when the scan under-splits (local single-row-group parquet),
    * untouched — no extra shuffle — when a real multi-split scan
    * already parallelizes (Partitioning). */
  def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesOf(
      Tables.documents(spark, dir)
        .select("doc_id", "text")
        .spread)

  /** Same, over an arbitrary (doc_id, text) frame. */
  def docShinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      // fused native expression — same output as
      // explode(shingles3(tokens(text))), ~5× faster per row
      explode(graft.plans.TextExpressions.shingles(col("text"), 3)).as("shingle"))

  /** `sh` minus hot shingles (document frequency > maxDf). The df window
    * hash-partitions on the shingle — the same partitioning the candidate
    * self-join needs — so the cap adds no extra exchange on the hot path. */
  def cappedShingles(sh: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    sh.withColumn("df", count(lit(1)).over(wSh))
      .filter(col("df") <= maxDf)
      .select("doc_id", "shingle")
  }

  /** Winnowing (Schleimer–Wilkerson–Aiken, the MOSS fingerprinter)
    * parameters: k-gram size, window width, boilerplate fingerprint df
    * cap, minimum shared fingerprints for a reported pair. With k = 3
    * and w = 4 the guarantee is: any shared token run of length
    * ≥ k + w − 1 = 6 produces at least one shared fingerprint. */
  val WinnowK = 3
  val WinnowW = 4
  val MaxFpDf = 16
  val MinSharedFp = 2

  /** `dedup_winnowing`: local-fingerprint dedup — per document, hash
    * every k-gram, slide a w-wide window over the hash sequence and
    * keep each window's MINIMUM; documents sharing ≥ [[MinSharedFp]]
    * selected hashes pair up. The published guarantee (vs plain 0 mod
    * p hash sampling): every match of length ≥ k+w−1 is caught, while
    * only ~2/(w+1) of positions are kept — position-local, unlike
    * MinHash's whole-document signature, so it pairs documents that
    * share PASSAGES, at a fraction of the full-shingle join's volume.
    *
    * The classic rightmost-tie position rule cancels here BY GRAIN:
    * fingerprints are matched as (doc, hash) SETS, and whichever
    * position a tie selects, the selected hash is the same — so the
    * fingerprint set is exactly {per-window min hash}, no positional
    * tie-break needed (documented, not skipped).
    *
    * Shape: k-gram explode is O(tokens); window membership explodes
    * each position into ≤ w window ids (O(tokens·w), constant w); the
    * per-(doc, window) min and the distinct fingerprint set are
    * doc-partitioned; the pair join runs on the df-capped fingerprint
    * hash (same boilerplate-cap discipline as [[cappedShingles]] —
    * candidates linear by construction, never all-pairs). */
  def winnowingPairs(spark: SparkSession, dir: String,
                     k: Int = WinnowK, w: Int = WinnowW,
                     maxDf: Int = MaxFpDf,
                     minShared: Int = MinSharedFp): DataFrame =
    // Session-shared (keyed on corpus version + every operating-point
    // param): THREE declared consumers re-ran the full fingerprint +
    // pair pipeline per query (`dedup_winnowing`,
    // `dedup_winnowing_agreement`, `dedup_savings_report`). Same memo
    // discipline as the lexical pair list — within-session only,
    // DISK_ONLY; every bench/oracle invocation computes from parquet.
    Substrate.winpairs(spark, dir, (k, w, maxDf, minShared))

  /** The selected winnowing fingerprint set — distinct (doc_id, h) of
    * per-window k-gram hash minima. Shared by [[winnowingPairsOf]] and
    * the streaming co-occurrence producer (one definition of the
    * fingerprint, batch and stream can't drift). */
  def winnowFingerprintsOf(docs: DataFrame, k: Int = WinnowK,
                           w: Int = WinnowW): DataFrame = {
    val t = TextAnalysis.tokens(col("text"))
    val grams = (0 until k).map(o => s"element_at(t, i + $o)").mkString(", ")
    val pos = docs
      .withColumn("t", t).filter(size(col("t")) >= k)
      .withColumn("npos", (size(col("t")) - (k - 1)).cast("long"))
      .select(col("doc_id"), col("npos"), explode(expr(
        s"transform(sequence(1, size(t) - ${k - 1}), " +
          s"i -> struct(CAST(i AS BIGINT) AS p, concat_ws(' ', $grams) AS sh))"))
        .as("ps"))
      .select(col("doc_id"), col("npos"), col("ps.p").as("p"),
        h64(col("ps.sh")).as("h"))
    // window j covers positions [j, j+w-1]; a short doc (npos < w) is
    // one window. Position p belongs to windows [max(1, p-w+1), min(p, W)]
    val win = pos
      .withColumn("W", greatest(col("npos") - lit(w - 1L), lit(1L)))
      .select(col("doc_id"), col("h"), explode(
        sequence(greatest(lit(1L), col("p") - lit(w - 1L)),
          least(col("p"), col("W")))).as("j"))
    win.groupBy("doc_id", "j").agg(min(col("h")).as("h"))
      .select("doc_id", "h").distinct()
  }

  /** [[winnowingPairs]] over any (doc_id, text) frame. */
  def winnowingPairsOf(docs: DataFrame, k: Int, w: Int,
                       maxDf: Int, minShared: Int): DataFrame = {
    val fp = winnowFingerprintsOf(docs, k, w)
    val wH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val capped = fp.withColumn("df", count(lit(1)).over(wH))
      .filter(col("df") <= maxDf).select("doc_id", "h")
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** `dedup_winnowing_agreement`: winnowing vs verified MinHash — the
    * method-agreement read (the #226 blocking-agreement pattern):
    * passage-local fingerprints and whole-document signatures catch
    * overlapping but DIFFERENT pair sets, and the two confirmation
    * ratios say which method is the superset on this corpus (the
    * evidence a pipeline needs before dropping one of them). Both
    * inputs arrive canonical (d1 < d2); one semi-join, one row out. */
  def winnowingAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val mh = MinHashLSH.nearDupPairs(spark, dir).select("d1", "d2")
    val wp = winnowingPairs(spark, dir)
      .select(col("doc_a").as("d1"), col("doc_b").as("d2"))
    val common = mh.join(wp, Seq("d1", "d2"), "left_semi")
    val a = mh.agg(count(lit(1)).as("n_lsh"))
    val b = wp.agg(count(lit(1)).as("n_win"))
    val c = common.agg(count(lit(1)).as("n_common"))
    a.crossJoin(b).crossJoin(c)
      .select(col("n_lsh"), col("n_win"), col("n_common"),
        ratio4(col("n_common"), greatest(col("n_lsh"), lit(1L)))
          .as("lsh_confirmed4"),
        ratio4(col("n_common"), greatest(col("n_win"), lit(1L)))
          .as("win_confirmed4"))
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ τ — the
    * ASYMMETRIC overlap that catches sub-document duplication (a doc
    * quoted or embedded inside a larger one), which symmetric Jaccard
    * misses whenever the sizes differ (J = |∩|/|∪| shrinks as the
    * larger doc grows; containment does not). Candidates still come
    * from the shared-shingle equi-join with the same df cap — never
    * all pairs; both directional containments are emitted alongside
    * the deciding max. */
  def containmentPairs(spark: SparkSession, dir: String,
                       tau: Double = 0.8): DataFrame = {
    // same (shared, n1, n2) counts as the exact Jaccard tier — the
    // self-join is the session-shared frame; containment is a
    // different post-filter over it
    Substrate.xovl(spark, dir)
      .withColumn("c1", col("shared") / col("n1"))
      .withColumn("c2", col("shared") / col("n2"))
      .filter(greatest(col("c1"), col("c2")) >= tau)
      .select(col("d1"), col("d2"), col("shared"),
        // τ filter compares the raw IEEE quotients (deterministic);
        // only the EXPORT needs exact-rational rounding (ratio4)
        graft.functions.Hashing.ratio4(col("shared"), col("n1")).as("c1"),
        graft.functions.Hashing.ratio4(col("shared"), col("n2")).as("c2"))
      .orderBy("d1", "d2")
  }

  /** Chunk width (tokens) for sub-document exact dedup. */
  val ChunkTokens = 8

  /** Chunk-grain exact dedup — the C4-style duplicate-passage pass:
    * documents are cut into non-overlapping `w`-token chunks, and every
    * occurrence of an exact chunk beyond its first (ordered by
    * (doc_id, pos)) is reported with the keeper it defers to. This
    * catches copy-paste passages BETWEEN documents that whole-doc and
    * even near-dup passes miss when the surrounding text differs.
    *
    * One shuffle, on the chunk hash (uniform by construction — no hot
    * keys beyond genuine boilerplate, and those spread over rank
    * ties); rank pushdown (WindowGroupLimit) does not apply since all
    * occurrences are emitted, but state per chunk key is one row. */
  def chunkDedup(spark: SparkSession, dir: String,
                 w: Int = ChunkTokens): DataFrame = {
    // Fused stride-w kernel (plans.WindowHashArray): the former
    // transform-lambda spelling evaluated h64's md5 → hex → Conv
    // INTERPRETED per chunk, and the explode inherited the doc scan's
    // coarse partitioning — measured superlinear at sf10 (12.4× for
    // 10× data). fanOut before the explosion bounds per-task key
    // volume (the dedup_passages lesson); pos = chunk ordinal, hashes
    // bit-identical to h64(concat_ws(" ", slice(t, (i-1)·w+1, w))).
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).fanOut
      .select(col("doc_id"), explode(
        graft.plans.TextExpressions.windowHashes(col("text"), w, w)).as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"), col("c.h").as("chunk_h"))
      .checkpointSer
    // Duplicate occurrences = everything but each hash's (doc_id, pos)
    // minimum, and only multi-occurrence hashes can produce one — so
    // aggregate to the bare multi-occurrence hash list first
    // (partial-aggregable, no sort; AQE broadcasts the sliver) and
    // resolve firsts on that subset, instead of row_number-sorting the
    // FULL chunk stream by chunk_h (the passageDedupOf pattern; the
    // window spelling sort-spilled at sf10).
    val multi = chunks.groupBy("chunk_h")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L)
      .select("chunk_h")
    val occ = chunks.join(multi, "chunk_h")
      .checkpointSer
    val firsts = occ.groupBy("chunk_h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    occ.join(firsts, "chunk_h")
      .filter(col("doc_id") =!= col("f.doc_id") || col("pos") =!= col("f.pos"))
      .select(col("doc_id"), col("pos"), col("chunk_h"),
        col("f.doc_id").as("keep_doc"), col("f.pos").as("keep_pos"))
      .orderBy("doc_id", "pos")
  }

  /** Rolling-window passage dedup — the offset-insensitive upgrade of
    * [[chunkDedup]]: non-overlapping chunks only catch a copied passage
    * when the copy lands on the same chunk grid, so a passage shifted
    * by 1..w-1 tokens is invisible to them. Here EVERY w-token window
    * (stride 1) is hashed; a window whose hash occurred earlier (global
    * (doc_id, pos) order) is a duplicated window, and per document the
    * maximal runs of consecutive duplicated positions coalesce into
    * passage spans — so a copied passage of L ≥ w tokens at ANY offset
    * surfaces as one (start_pos, end_pos) span covering it.
    *
    * Scale: stride 1 emits ~n windows per n-token doc (w× the chunk
    * pass) but both shuffles key uniformly — the window hash, then the
    * doc — and per-key window state is O(1). The islands trick
    * (pos − row_number) turns span assembly into one partitioned
    * window + aggregate, never a per-doc loop. */
  def passageDedup(spark: SparkSession, dir: String,
                   w: Int = ChunkTokens): DataFrame =
    passageDedupOf(
      Tables.documents(spark, dir).select("doc_id", "text").spread, w)

  /** One row per rolling w-token window of `text`: (…carried, pos,
    * win_h) — every non-text column of `docs` rides through (the
    * bigramsOf convention). Shared by [[passageDedupOf]] and the
    * per-source duplicated-window share panel. */
  def rollingWindowsOf(docs: DataFrame, w: Int): DataFrame = {
    // fused native kernel (plans.WindowHashArray): the composable
    // transform-lambda spelling evaluated h64 INTERPRETED per window
    // (HOF lambdas sit outside codegen) — the measured hot spot of
    // every rolling-window panel at sf10; bit-identical output
    val carried = docs.columns.filterNot(_ == "text").map(col).toSeq
    // fanOut BEFORE the ~100× window explosion: the stream inherits the
    // doc side's partitioning, and every consumer aggregates it on the
    // near-unique win_h — per-task key volume must stay bounded
    docs.fanOut
      .select(carried :+ explode(
        graft.plans.TextExpressions.windowHashes(col("text"), w)).as("c"): _*)
      .select(carried :+ col("c.pos").as("pos") :+ col("c.h").as("win_h"): _*)
  }

  /** The rolling core over any (doc_id, text) frame.
    *
    * "Duplicated window" = any occurrence that is not its hash's
    * global (doc_id, pos)-minimum. Only hashes occurring MORE THAN
    * ONCE can produce one, and those are a sliver of the stream
    * (measured 0.9% at native sf10), so the plan aggregates to the
    * multi-occurrence hash list first (partial-aggregable, no sort)
    * and joins it back — AQE sees the true size of that side at
    * runtime and broadcasts it when small, so the window stream is
    * exchanged once for the aggregate and never sorted. The former
    * row_number-over-(win_h) spelling sort-spilled the full stream
    * (180 s at sf10 against an input that grew exactly 10×). */
  def passageDedupOf(docs: DataFrame, w: Int): DataFrame = {
    val wins = rollingWindowsOf(docs.select("doc_id", "text"), w)
      .checkpointSer // aggregate + join-back read one derivation
    // the probe side is the BARE multi-occurrence hash list (8 B/row —
    // small enough that AQE broadcasts it at any measured scale; the
    // former spelling carried the min-struct through the join, tipping
    // the build side past the broadcast threshold at sf10 and planning
    // a 46.6M-row shuffle join: 130 s vs 72 s for the slim probe).
    // Firsts are then resolved on the multi-occurrence SUBSET only —
    // a sliver of the stream (measured 0.9% of hashes at sf10).
    val multi = wins.groupBy("win_h")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L)
      .select("win_h")
    val occ = wins.join(multi, "win_h")
      .checkpointSer // firsts + dup filter read one probe pass
    val firsts = occ.groupBy("win_h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val dups = occ.join(firsts, "win_h")
      .filter(col("doc_id") =!= col("f.doc_id") || col("pos") =!= col("f.pos"))
      .select("doc_id", "pos")
    passageSpans(dups, w)
  }

  /** Coalesce duplicated window positions into maximal passage spans
    * (the islands trick) — shared by the one-shot and incremental
    * passes. Input: (doc_id, pos) of duplicated windows. */
  private def passageSpans(dups: DataFrame, w: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dups
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("start_pos"), max("pos").as("end_pos"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + w).as("n_tokens"), col("n_windows"))
      .orderBy("doc_id", "start_pos")
  }

  /** Incremental rolling-window passage dedup — the append-only batch
    * form of [[passageDedupOf]] (the incremental-dedup contract: fold
    * doc_id-ordered batches through this and the concatenated spans
    * equal the one-shot full-corpus pass). The persisted index is the
    * FIRST global occurrence of every window hash, (win_h, doc_id,
    * pos) — strictly per-window state, so a new ingest batch never
    * revisits old documents: its windows mark duplicated when the hash
    * exists in the index (seen in any prior batch) or beyond-first
    * within the batch, and the index grows by exactly the batch's
    * unseen-hash firsts. One win_h-keyed join + one win_h rank window
    * per batch; the index is hash-keyed state a lakehouse table holds.
    * @return (spans of this batch's docs, updated index) */
  def passageBatch(index: DataFrame, newDocs: DataFrame,
                   w: Int = ChunkTokens): (DataFrame, DataFrame) = {
    val wins = rollingWindowsOf(newDocs.select("doc_id", "text"), w)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy("win_h").orderBy("doc_id", "pos")
    val marked = wins
      .join(index.select(col("win_h"), lit(true).as("seen")), Seq("win_h"), "left")
      .withColumn("rn", row_number().over(byHash))
      .withColumn("dup", coalesce(col("seen"), lit(false)) || col("rn") > 1)
    val spans = passageSpans(
      marked.filter(col("dup")).select("doc_id", "pos"), w)
    val newFirsts = marked
      .filter(!coalesce(col("seen"), lit(false)) && col("rn") === 1)
      .select("win_h", "doc_id", "pos")
    (spans, index.select("win_h", "doc_id", "pos").unionByName(newFirsts))
  }

  /** #179 `corpus_dup_ngram_share`: per-source duplicated n-gram MASS —
    * the share of a source's rolling w-token window occurrences that
    * are repeats of a window seen earlier anywhere in the corpus (the
    * C4-observation metric: how much of this feed is copied text,
    * by volume, not by document count — a feed can have zero duplicate
    * DOCS and still be half boilerplate passages). Same window grain
    * and same global-first rule as [[passageDedup]], so the two panels
    * read together: this one says how much, that one says where.
    * Shape: the window derivation shares [[rollingWindowsOf]], the
    * dup rank is one win_h-keyed window (uniform hash keys), and the
    * rollup is one O(sources) partial-aggregable shuffle. */
  def dupNgramShare(spark: SparkSession, dir: String,
                    w: Int = ChunkTokens): DataFrame = {
    import graft.functions.Hashing.ratio4
    val wins = rollingWindowsOf(
        Tables.documents(spark, dir).select("doc_id", "source", "text").spread, w)
      .checkpointSer // totals + firsts read one window derivation
    // "first global occurrence" as a partial-aggregable min instead of
    // a row_number sort window: rn=1 ⇔ min (doc_id, pos) per win_h —
    // identical rows, but the exchange hash-aggregates (no sort, map-
    // side combine) — the sf10 sweep measured the sort window spilling
    // the 46.6M-row stream (156 s) while the dup-window mass itself
    // grew exactly 10× (density-linear input, plan-bound cost)
    val totals = wins.groupBy("source").agg(count(lit(1)).as("n_windows"))
    val firsts = wins
      .groupBy("win_h")
      .agg(min(struct(col("doc_id"), col("pos"), col("source"))).as("f"))
      .groupBy(col("f.source").as("source"))
      .agg(count(lit(1)).as("n_first"))
    totals.join(firsts, Seq("source"), "left")
      .select(col("source"), col("n_windows"),
        (col("n_windows") - coalesce(col("n_first"), lit(0L))).as("n_dup"))
      .withColumn("dup_share", ratio4(col("n_dup"), col("n_windows")))
      .select("source", "n_windows", "n_dup", "dup_share")
      .orderBy("source")
  }

  /** Edit-distance share of the longer document, in integer percent
    * (candidate pairs are bounded, so the O(len²) DP per pair is too). */
  val MaxEditPct = 30

  /** Edit-distance-verified near-dup pairs: banded-LSH candidates
    * (linear volume, hot-bucket capped) whose NORMALIZED texts are
    * within `maxPct`% relative Levenshtein distance — the
    * character-exact verifier for when shingle Jaccard is too coarse
    * (small in-place edits shift every overlapping shingle, but move
    * the edit distance by one). The DP cost is per CANDIDATE, never
    * per pair of documents; texts join onto the candidate list by
    * doc_id (hash join, candidate-bounded). The threshold compare is
    * pure integer arithmetic (lev·100 ≤ maxPct·len), so membership is
    * engine-exact; both engines implement classic Levenshtein. */
  def editDistancePairs(spark: SparkSession, dir: String,
                        maxPct: Int = MaxEditPct): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
    val norm = docs.select(col("doc_id"), normalized(col("text")).as("nt"))
    Substrate.lshcand(spark, dir)
      .join(norm.select(col("doc_id").as("d1"), col("nt").as("t1")), "d1")
      .join(norm.select(col("doc_id").as("d2"), col("nt").as("t2")), "d2")
      .select(col("d1"), col("d2"),
        // byte-equal pair ⇒ distance 0 by definition: the O(len)
        // equality check short-circuits the O(len²) DP. On a
        // duplicate-heavy corpus (the very thing this operator hunts)
        // most candidate pairs ARE exact copies — the 10× replica's
        // K² exact-pair blow-up went 62 s → the cost of the few
        // genuinely-differing pairs. Value-identical to the oracle's
        // unconditional levenshtein (0 for equal strings).
        when(col("t1") === col("t2"), lit(0L))
          .otherwise(levenshtein(col("t1"), col("t2")).cast("long")).as("lev"),
        greatest(length(col("t1")), length(col("t2"))).cast("long").as("max_len"))
      .filter(col("lev") * 100L <= col("max_len") * maxPct.toLong)
      .select(col("d1"), col("d2"), col("lev"), col("max_len"),
        graft.functions.Hashing.ratio4(col("lev"), col("max_len")).as("rel_dist"))
      .orderBy("d1", "d2")
  }

  /** #195 `dedup_normalization_curve`: how many documents collapse into
    * duplicates at each normalization aggressiveness level — raw bytes,
    * whitespace-collapsed, +lowercased (the engine's canonical
    * [[normalized]]), +punctuation-stripped. The ladder is the dedup
    * POLICY decision: each step trades false negatives for false
    * positives, and the marginal dup mass between steps says whether
    * the next level is worth it on THIS corpus ("lowercasing finds 2%
    * more dups; stripping punctuation only 0.1% — stop at lower").
    * Per level: docs, distinct survivors, duplicates, ratio4 dup share;
    * dup counts are non-decreasing down the ladder by construction
    * (each level refines the previous equivalence — spec-pinned).
    *
    * Shape: ONE scan computing the four level digests per row, one
    * multi-countDistinct aggregate (Expand ×4 — partial-aggregable,
    * O(4N) expanded rows, digests not texts shuffle), O(4) rows out. */
  def normalizationCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.{h64, ratio4}
    val ws = trim(regexp_replace(col("text"), "\\s+", " "))
    val lw = lower(ws)
    val al = regexp_replace(lw, "[^a-z0-9 ]", "")
    val one = Tables.documents(spark, dir).select(col("text")).spread
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(h64(col("text"))).as("u_raw"),
        countDistinct(h64(ws)).as("u_ws"),
        countDistinct(h64(lw)).as("u_lower"),
        countDistinct(h64(al)).as("u_alnum"))
    one.select(col("n_docs"),
        expr("""stack(4,
          | 1L, 'raw',   u_raw,
          | 2L, 'ws',    u_ws,
          | 3L, 'lower', u_lower,
          | 4L, 'alnum', u_alnum) as (level_rank, level, n_distinct)""".stripMargin))
      .select(col("level_rank"), col("level"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dup"),
        ratio4(col("n_docs") - col("n_distinct"), col("n_docs")).as("dup_share"))
      .orderBy("level_rank")
  }

  /** `docs_shingle_df_profile`: the capacity panel behind the
    * [[MaxShingleDf]] cap (the shingle-join member of the trio that
    * #280/#281/#282 form for aggregation keys, LSH buckets and IVF
    * cells): shingles bucketed by document frequency, per bucket the
    * shingle count, the posting mass Σdf (rows entering the self-join)
    * and the pair mass Σ C(df,2) (candidate pairs those postings
    * would emit). The top bucket (df > cap) is exactly what
    * [[cappedShingles]] drops — its pair_mass is the quadratic
    * explosion the cap prevents, now a measured number instead of a
    * design assertion. One (shingle) count shuffle (uniform key) +
    * an O(6) rollup. */
  def shingleDfProfile(spark: SparkSession, dir: String): DataFrame = {
    val cap = MaxShingleDf
    docShingles(spark, dir)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .select(
        when(col("df") === 1, 1L).when(col("df") <= 4, 2L)
          .when(col("df") <= 9, 3L).when(col("df") <= 19, 4L)
          .when(col("df") <= cap, 5L).otherwise(6L).as("bucket_rank"),
        when(col("df") === 1, "df=1").when(col("df") <= 4, "df=2-4")
          .when(col("df") <= 9, "df=5-9").when(col("df") <= 19, "df=10-19")
          .when(col("df") <= cap, s"df=20-$cap").otherwise(s"df>$cap")
          .as("bucket"),
        col("df"))
      .groupBy("bucket_rank", "bucket")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("posting_mass"),
        sum(expr("df * (df - 1) div 2")).as("pair_mass"))
      .withColumn("capped_out", col("bucket_rank") === 6L)
      .orderBy("bucket_rank")
  }

  /** #8: near-dup pairs by true n-gram Jaccard ≥ τ. Shuffles: one on
    * shingle (candidate generation), one on the pair key (intersection
    * count). Per-doc shingle counts join back onto the pairs (AQE
    * broadcasts them while they fit — at corpus scale the count table
    * grows with the docs, so no forced hint). Hot boilerplate shingles are df-capped out before the self-join
    * (see MaxShingleDf) so no key can fan out quadratically; the
    * MinHash/LSH operator (MinHashLSH.scala) remains the preferred
    * scale path, this one the exact verifier. */
  def ngramJaccard(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame =
    Substrate.xovl(spark, dir)
      .withColumn("jaccard", col("shared") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "shared", "jaccard")
      .orderBy("d1", "d2")

  /** #8 over an arbitrary (doc_id, shingle) frame. */
  def ngramJaccardOf(shAll: DataFrame, tau: Double = 0.5,
                     maxDf: Int = MaxShingleDf): DataFrame =
    exactOverlapOf(shAll, maxDf)
      .withColumn("jaccard", col("shared") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "shared", "jaccard")
      .orderBy("d1", "d2")

  /** The UNFILTERED exact shingle-overlap frame — every doc pair
    * sharing ≥ 1 df-capped shingle with its (shared, n1, n2) overlap
    * ingredients. The quadratic-guarded self-join runs once here;
    * Jaccard (`dedup_ngram_jaccard`/`_summary`) and containment
    * (`dedup_containment`, and `pipeline_dedup_cascade`'s third tier)
    * are different POST-FILTERS over the same counts, so the
    * session-memoized corpus form ([[Substrate.xovl]]) lets all of
    * them pay the self-join once per session. */
  def exactOverlapOf(shAll: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val sh = cappedShingles(shAll, maxDf)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val pairs = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(counts.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
  }

  /** Jaccard threshold of [[prefixJoin]] in ppm — integer so the ceil
    * arithmetic in the prefix length is exact cross-engine. */
  val PrefixTauPpm = 500000L

  /** `dedup_ssjoin_prefix`: EXACT set-similarity self-join by prefix
    * filtering (Bayardo/Chaudhuri/Xiao AllPairs with the length
    * filter) — the exact counterpart of the probabilistic candidate
    * generators: MinHash can miss a qualifying pair and the
    * ngram-Jaccard panel (#8) drops hot shingles by df cap; this
    * finds EVERY pair with set-Jaccard ≥ τ over the UNCAPPED shingle
    * sets, with no all-pairs blow-up. Principle: order the universe
    * by rarity (df asc, shingle asc); a pair with overlap ≥ α must
    * share a token inside both docs' first (n − α + 1) tokens of that
    * order, and J ≥ τ gives α = ⌈τ·n⌉ per side — so candidates come
    * only from rare-token prefixes, and hot boilerplate shingles
    * (which sort LAST) never generate a candidate from a long doc.
    * The length filter (τ·n₂ ≤ n₁ ≤ n₂/τ, pure int64 at ppm grain)
    * prunes cross-size pairs before the distinct.
    *
    * Shape at scale: ONE shingle-keyed shuffle computes df and feeds
    * the prefix self-join on the same partitioning; the per-doc
    * position window is bounded by document length; verification
    * joins the candidate list (true-pair-sized by the filtering
    * principle) back to the shingle table on (doc, shingle) keys. No
    * df cap, no bucket cap — exactness is the contract, and the spec
    * pins it against a brute-force ground truth. */
  def prefixJoin(spark: SparkSession, dir: String): DataFrame =
    Substrate.ssjpairs(spark, dir).orderBy("d1", "d2")

  /** [[prefixJoin]] over an arbitrary distinct (doc_id, shingle)
    * frame — the generic EXACT set-similarity self-join: any
    * (doc_id, set-element) long table qualifies (shingles here,
    * linkage blocking tokens, tag sets …); the element column just
    * has to be named `shingle`. Uncached; the corpus-table form
    * shares its staged frames via the session memo instead. */
  def prefixJoinOf(sh0: DataFrame, tauPpm: Long = PrefixTauPpm): DataFrame = {
    val sh = sh0.checkpointSer // df + prefix + both verify sides
    val cmap = ssjClassMapOf(sh).checkpointSer
    val candC = ssjCandClassesOf(ssjPrefixOf(sh, tauPpm), cmap, tauPpm)
    ssjExpandPairs(ssjVerifiedClassesOf(candC, sh, cmap, tauPpm), cmap)
      .orderBy("d1", "d2")
  }

  /** Rarity-ordered prefix of each doc's set (AllPairs): keep the
    * first (n − ⌈τ·n⌉ + 1) elements in (df asc, element asc) order —
    * a qualifying pair must collide inside both prefixes. */
  private[graft] def ssjPrefixOf(sh: DataFrame, tauPpm: Long): DataFrame = {
    import graft.functions.Hashing.intDiv
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "shingle")
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    sh.withColumn("df", count(lit(1)).over(wSh))
      .withColumn("pos", row_number().over(wDoc).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .filter(col("pos") <= col("n") -
        intDiv(col("n") * tauPpm + 999999L, lit(1000000L)) + 1L)
      .select("doc_id", "shingle", "n")
  }

  /** IDENTICAL-SET CONTRACTION map: (doc_id, n, cls) where cls = min
    * doc_id over docs with the SAME full shingle set (grouped by the
    * sorted element array — exact identity, no digest collisions).
    * Identical sets ⟹ identical global-df rarity prefixes, identical
    * collision behavior, identical overlaps — so both the candidate
    * self-join AND the verify overlap join are functions of the class,
    * and every quadratic-in-replication stage of the prefix join can
    * run once per class pair. On a corpus where every doc appears ×K
    * (the scale_up stress replica) the collision/overlap streams
    * shrink K²; a corpus with no exact replication contracts to
    * singleton classes and pays one extra aggregation over the shingle
    * table. The doc-grain spelling shuffled ~10⁹ collision rows and
    * ~300 GB of verify intermediates at sf10 — the ENOSPC that failed
    * six registered queries in the full sf10 sweep. */
  private[graft] def ssjClassMapOf(sh: DataFrame): DataFrame = {
    val wSet = org.apache.spark.sql.expressions.Window.partitionBy("sset")
    sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("sset"),
        count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"),
        min("doc_id").over(wSet).as("cls"))
  }

  /** Class-grain prefix-collision candidates after the ppm length
    * filter: (c1, c2, n1, n2) over class REPRESENTATIVES, c1 ≤ c2;
    * the self row (c1 = c2) seeds the within-class all-pairs of a
    * replicated family. Doc-grain candidate rows are never
    * materialized — consumers expand ([[ssjExpandPairs]]) or count
    * algebraically (the funnel). */
  private[graft] def ssjCandClassesOf(pref: DataFrame, cmap: DataFrame,
                                      tauPpm: Long): DataFrame = {
    val reps = cmap.filter(col("doc_id") === col("cls")).select("doc_id")
    val prefS = pref.join(reps, Seq("doc_id"), "left_semi")
    prefS.as("a").join(prefS.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") <= col("b.doc_id") &&
          col("a.n") * tauPpm <= col("b.n") * 1000000L &&
          col("b.n") * tauPpm <= col("a.n") * 1000000L)
      .select(col("a.doc_id").as("c1"), col("b.doc_id").as("c2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
  }

  /** Exact verification at class grain: (c1, c2, n1, n2, shared,
    * n_union, jaccard), τ-filtered. Cross-class overlaps come from one
    * (pair × shingle) join over REPRESENTATIVE sets only; same-class
    * pairs need no join at all (identical sets: shared = n,
    * jaccard = 1 — computed through the same Divide so the double is
    * bit-identical to the doc-grain spelling). */
  private[graft] def ssjVerifiedClassesOf(candC: DataFrame, sh: DataFrame,
                                          cmap: DataFrame, tauPpm: Long): DataFrame = {
    val reps = cmap.filter(col("doc_id") === col("cls")).select("doc_id")
    val shSet = sh.join(reps, Seq("doc_id"), "left_semi")
    val cross = candC.filter(col("c1") =!= col("c2"))
    val ov = cross.select("c1", "c2")
      .join(shSet.select(col("doc_id").as("c1"), col("shingle")), "c1")
      .join(shSet.select(col("doc_id").as("c2"), col("shingle")),
        Seq("c2", "shingle"))
      .groupBy("c1", "c2").agg(count(lit(1)).as("shared"))
    val crossV = cross.join(ov, Seq("c1", "c2")) // inner: disjoint sets drop, as before
      .withColumn("n_union", col("n1") + col("n2") - col("shared"))
      .withColumn("jaccard", col("shared") / col("n_union"))
      .filter(col("jaccard") >= lit(tauPpm / 1000000.0))
    val selfV = candC.filter(col("c1") === col("c2"))
      .withColumn("shared", col("n1"))
      .withColumn("n_union", col("n1"))
      .withColumn("jaccard", col("shared") / col("n_union"))
    crossV.unionByName(selfV)
      .select("c1", "c2", "n1", "n2", "shared", "n_union", "jaccard")
  }

  /** Expand class-grain verified pairs to the declared doc grain:
    * members(c1) × members(c2) (one orientation inside a class), the
    * symmetric stats ride along unchanged. Each doc belongs to exactly
    * one class, so no distinct is needed. */
  private[graft] def ssjExpandPairs(vc: DataFrame, cmap: DataFrame): DataFrame =
    vc.join(cmap.select(col("cls").as("c1"), col("doc_id").as("x1")), "c1")
      .join(cmap.select(col("cls").as("c2"), col("doc_id").as("x2")), "c2")
      .filter(col("c1") =!= col("c2") || col("x1") < col("x2"))
      .select(least(col("x1"), col("x2")).as("d1"),
        greatest(col("x1"), col("x2")).as("d2"),
        col("shared"), col("n_union"), col("jaccard"))

  /** `dedup_ssjoin_funnel`: the cost-observability funnel of the exact
    * prefix join — docs, shingle rows, prefix rows (the share the
    * rarity-order prefix actually indexes), distinct candidates after
    * the length filter, and verified pairs, with the two ratios a
    * capacity planner reads (prefix share of the shingle table;
    * candidates per candidate-eligible doc). #359 claims "exact
    * without an all-pairs blow-up"; this panel RELEASES the funnel
    * that proves it per corpus (sf1: 852 verified from a candidate
    * set ~3 orders below the 2·10¹⁰ all-pairs space). Same shape as
    * the LSH bucket profile (#281) — observability beside the
    * operator, shared plumbing so they can't drift.
    *
    * Shape: every stage count is an aggregate over the session-
    * memoized staged frames ([[Substrate.ssjsh]]…[[Substrate.ssjpairs]]) the pair
    * consumers already materialized — the funnel adds four counted
    * scans of checkpointed frames, never a second join. */
  def prefixJoinFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val counts = Substrate.ssjsh(spark, dir).agg(
      countDistinct("doc_id").as("n_docs"),
      count(lit(1)).as("n_shingle_rows"))
    val pc = Substrate.ssjpref(spark, dir).agg(count(lit(1)).as("n_prefix_rows"))
    // doc-grain candidate count by exact algebra over the class-grain
    // frame: a cross-class pair expands to g1·g2 doc pairs, a class
    // self-pair to C(g, 2) — identical to counting the doc-grain
    // distinct list, which is never materialized (it is quadratic in
    // exact replication: ~10⁹ rows on the sf10 stress replica)
    val g = Substrate.ssjcls(spark, dir).groupBy("cls").agg(count(lit(1)).as("g"))
    val cc = Substrate.ssjcandc(spark, dir)
      .join(g.select(col("cls").as("c1"), col("g").as("g1")), "c1")
      .join(g.select(col("cls").as("c2"), col("g").as("g2")), "c2")
      .agg(coalesce(sum(when(col("c1") === col("c2"),
          expr("g1 * (g1 - 1) div 2")).otherwise(col("g1") * col("g2"))),
        lit(0L)).as("n_candidates"))
    val vc = Substrate.ssjpairs(spark, dir).agg(count(lit(1)).as("n_pairs"))
    counts.crossJoin(pc).crossJoin(cc).crossJoin(vc)
      .select(col("n_docs"), col("n_shingle_rows"), col("n_prefix_rows"),
        col("n_candidates"), col("n_pairs"),
        ratio4(col("n_prefix_rows"), col("n_shingle_rows"))
          .as("prefix_share4"),
        ratio4(col("n_pairs"), greatest(col("n_candidates"), lit(1L)))
          .as("verify_yield4"))
  }

  /** CDC boundary window (tokens) and modulus: a chunk boundary falls
    * AFTER token i iff the h64 of the trailing [[CdcWindow]]-token
    * window at i divides [[CdcMod]] — boundaries depend on local
    * CONTENT, so an insertion resynchronizes within one window and
    * every later chunk is byte-identical again (the property that
    * makes fixed-width chunking (#108) miss shifted duplicates). */
  val CdcWindow = 4
  val CdcMod = 32

  /** `dedup_cdc_chunks`: content-defined-chunk dedup manifest, per doc
    * — the storage-dedup primitive at query level: how much of each
    * document is made of chunks already seen elsewhere (earlier
    * (doc, chunk) in lexicographic order), under boundaries that
    * survive shifts. Output O(docs): n_chunks, duplicated-chunk count
    * and exact dup_share4. The expensive grain (per-chunk rows) stays
    * internal; one groupBy on the uniform chunk hash is the only
    * corpus-sized shuffle, and the per-doc window partitions by
    * doc_id (never global). */
  def cdcChunkDedup(spark: SparkSession, dir: String,
                    w: Int = CdcWindow, m: Int = CdcMod): DataFrame =
    cdcChunkDedupOf(
      graft.Tables.documents(spark, dir).select("doc_id", "text").spread, w, m)

  /** [[cdcChunkDedup]] over any (doc_id, text) frame. The exploded rows
    * carry ONLY (doc_id, pos, tok): the trailing boundary window is a
    * w-row sliding collect over the per-doc sort (O(w) per token), and
    * the chunk hash aggregates the same exploded rows per
    * (doc, chunk_idx) — the full token array is never re-joined, so a
    * length-L doc costs O(L log L) instead of the O(L²/w) array copies
    * the slice-per-chunk formulation paid (each joined chunk row
    * transiently copied the whole doc array). Hashes are identical:
    * both forms hash the chunk's tokens joined by " ". */
  def cdcChunkDedupOf(docs: DataFrame,
                      w: Int = CdcWindow, m: Int = CdcMod): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wdoc = Window.partitionBy("doc_id").orderBy("pos")
    val pos = docs
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
      // trailing w-token window, ordered by pos within the running frame
      .withColumn("win",
        concat_ws(" ", collect_list("tok").over(wdoc.rowsBetween(-(w - 1), 0))))
      .withColumn("flag",
        when(col("pos") >= w && h64(col("win")) % m === 0, 1L).otherwise(0L))
      .withColumn("chunk_idx",
        coalesce(sum("flag").over(
          wdoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = pos.groupBy("doc_id", "chunk_idx")
      .agg(h64(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("chunk_h"))
    val wH = Window.partitionBy("chunk_h")
    val flagged = chunks
      .withColumn("keeper", min(struct(col("doc_id"), col("chunk_idx"))).over(wH))
      .withColumn("is_dup",
        col("keeper.doc_id") =!= col("doc_id") ||
          col("keeper.chunk_idx") =!= col("chunk_idx"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        graft.functions.Hashing.ratio4(col("n_dup_chunks"), col("n_chunks"))
          .as("dup_share4"))
      .orderBy("doc_id")
  }

  /** Aggregated export form of [[ngramJaccard]] — per document instead
    * of per pair (O(docs-with-a-partner) output where the raw pair list
    * is O(pairs)): partner count plus the highest-jaccard partner as an
    * exemplar (ties break to the smallest partner id). Same candidate
    * generation as the pair export, one extra struct-max groupBy. */
  def ngramJaccardSummary(spark: SparkSession, dir: String,
                          tau: Double = 0.5): DataFrame = {
    val pairs = ngramJaccard(spark, dir, tau)
    val sym = pairs
      .select(col("d1").as("doc_id"), col("d2").as("partner"), col("jaccard"))
      .unionByName(pairs
        .select(col("d2").as("doc_id"), col("d1").as("partner"), col("jaccard")))
    sym.groupBy("doc_id")
      .agg(count(lit(1)).as("n_partners"),
        max(struct(col("jaccard"), negate(col("partner")).as("np"),
          col("partner"))).as("m"))
      .select(col("doc_id"), col("n_partners"),
        col("m.partner").as("best_partner"), col("m.jaccard").as("max_jaccard"))
      .orderBy("doc_id")
  }

  /** `dedup_savings_report`: what each dedup method actually SAVES —
    * per method (exact / minhash / simhash / winnowing), the documents
    * and token mass its canonical drop rule removes from the REAL
    * corpus, as counts and exact ratio4 shares. The agreement panels
    * (#226/#332) compare pair SETS; this is the budget view a capacity
    * planner reads: bytes-on-disk and tokens-into-training saved per
    * method, one table. Drop rules are each method's documented
    * keeper convention: exact keeps the min doc_id per normalized
    * digest; the pair families drop every doc appearing as the LARGER
    * id of a verified/accepted pair (the Pipeline near-dup rule — no
    * transitive closure, deterministic at any scale).
    *
    * Shape: the token frame is computed once (checkpoint); each
    * method contributes one distinct-id frame joined on the uniform
    * int doc key; pair lists are the session-memoized artifacts where
    * they exist. Output O(methods). */
  def savingsReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .checkpointSer
    val tot = toks.agg(count(lit(1)).as("td"), sum("n_toks").as("tt"))
    val exactIds = Tables.documents(spark, dir)
      .select(col("doc_id"), h64(normalized(col("text"))).as("digest"))
      .withColumn("keep",
        min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    def larger(pairs: DataFrame, d2: String) =
      pairs.select(col(d2).as("doc_id")).distinct()
    val methods = Seq(
      "exact" -> exactIds,
      "minhash" -> larger(MinHashLSH.nearDupPairs(spark, dir), "d2"),
      "simhash" -> larger(SimHash.nearDupPairs(spark, dir), "d2"),
      "winnowing" -> larger(winnowingPairs(spark, dir), "doc_b"))
    methods.map { case (name, ids) =>
        ids.distinct().join(toks, "doc_id")
          .agg(count(lit(1)).as("n_dropped"),
            coalesce(sum("n_toks"), lit(0L)).as("tok_dropped"))
          .select(lit(name).as("method"), col("n_dropped"), col("tok_dropped"))
      }
      .reduce(_ unionAll _)
      .crossJoin(broadcast(tot))
      .select(col("method"), col("n_dropped"), col("tok_dropped"),
        ratio4(col("n_dropped"), col("td")).as("doc_share4"),
        ratio4(col("tok_dropped"), col("tt")).as("tok_share4"))
      .orderBy("method")
  }
}
