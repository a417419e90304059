package graft.operators

import graft.Partitioning._
import graft.Substrate
import graft.functions.Hashing.h64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — the scale path for
  * document dedup (DocDedup.ngramJaccard is the exact verifier).
  *
  * k=16 permutations approximated by seeded md5-derived hashes, banded
  * 4×4: docs agreeing on any band become candidates, candidates are
  * verified with true shingle Jaccard. Shuffles: shingle → (doc,seed)
  * min-agg → (doc,band) sig-agg → candidate join on (band,sig) → pair
  * verify. Candidate volume is linear in rows×bands; band signatures
  * are uniform hashes so the candidate join is skew-free even when one
  * shingle is boilerplate-hot.
  */
object MinHashLSH {

  /** Shipped operating point: k=24 permutations banded 8×3 — chosen by
    * the measured sweep `dedup_minhash_tuning` against the exact
    * prefix-join ground truth at native sf1 (round 14): vs the
    * original 16×(4×4), near-τ recall (j ∈ [0.5, 0.65)) rose
    * 0.40 → 0.83 and overall recall 0.49 → 0.86 for 1.76× candidate
    * volume (419 → 736 on 50k docs — well under the 2× growth pin;
    * the hot-bucket cap keeps the bucket join linear either way).
    * r=3 moves the S-curve 1−(1−s^r)^b left: at s=τ=0.5 detection is
    * 0.66 vs 0.23 at r=4. */
  val NumSeeds = 24
  val BandRows = 3 // → 8 bands

  /** Hot-bucket cap: an LSH bucket holding k docs emits k²/2 candidate
    * pairs, so one degenerate signature (empty/templated docs all
    * hashing alike) is quadratic at scale. Buckets at or under this
    * size keep EXACT all-pairs candidacy; larger buckets degrade to
    * the [[CandWindow]] rank window (below) instead of vanishing, and
    * the oracle applies the identical rule. */
  val MaxBucketSize = 64

  /** Rank window inside OVERSIZED buckets — the lexical port of the
    * embedding side's [[Similarity.NeighborWindow]] (round-16 verdict
    * item 1: under ×100 replication EVERY bucket exceeds
    * [[MaxBucketSize]], and the old drop-the-bucket cap emptied the
    * whole verified pair set, so `dedup_graph_rank` and every lexical
    * near-dup consumer degraded to vacuous output at the stress
    * scale). Inside a bucket larger than [[MaxBucketSize]], each
    * member pairs only with its next [[CandWindow]] bucket neighbors
    * in doc_id order: candidate volume is ≤ bands·N·max(MaxBucketSize,
    * CandWindow) — still LINEAR in the corpus by construction — and a
    * τ-clique bucket stays CONNECTED under it (consecutive members
    * chain), which is what the component/rank consumers need. Bounded
    * recall inside oversized buckets is pinned by LexicalCappedSpec;
    * the DuckDB oracle applies the identical window rule
    * (SparkEntry.mhCandCte), changed in the same commit. Shares the
    * embedding side's constant so the two caps retune together. */
  val CandWindow: Int = Similarity.NeighborWindow

  /** Per-(doc,band) LSH signature.
    *
    * The full minhash signature is computed in one pass inside the scan
    * stage by the fused MinHashSignature expression (the composable
    * explode×seeds → groupBy-min plan shuffles seeds× the shingle
    * volume); only the final (doc, band, sig) rows reach an exchange.
    * Band sig = h64("band|m₀,m₁,…") — identical bytes to the
    * composable formulation, so the oracle is unchanged. (k, r)
    * default to the shipped operating point; the tuning sweep passes
    * alternates. */
  def bandSignatures(docs: DataFrame, numSeeds: Int = NumSeeds,
                     bandRows: Int = BandRows): DataFrame =
    banded(sigTable(docs, numSeeds), numSeeds, bandRows)

  /** (doc_id, mh) — the per-doc k-seed signature table, fused into the
    * scan stage. */
  def sigTable(docs: DataFrame, numSeeds: Int = NumSeeds): DataFrame = docs
    .withColumn("sh3", graft.plans.TextExpressions.shingles(col("text"), 3))
    .filter(size(col("sh3")) > 0)
    .withColumn("mh", graft.plans.MinHashExpressions.minhashSignature(col("sh3"), numSeeds))
    .select("doc_id", "mh")

  /** Signature table → per-(doc, band) LSH signatures. */
  private def banded(sig: DataFrame, numSeeds: Int = NumSeeds,
                     bandRows: Int = BandRows): DataFrame = sig
    .withColumn("band", explode(sequence(lit(0), lit(numSeeds / bandRows - 1))))
    .select(col("doc_id"), col("band"),
      h64(concat_ws("|",
        col("band").cast("string"),
        array_join(
          transform(slice(col("mh"), col("band") * lit(bandRows) + lit(1), lit(bandRows)),
            m => m.cast("string")),
          ","))).as("sig"))

  /** Corpus-level similarity between sources: each source's corpus gets
    * one MinHash signature (per-seed min over all its docs' shingles —
    * a plain groupBy-min, so signatures of terabyte corpora cost one
    * aggregation), and the estimated Jaccard between two corpora is the
    * fraction of agreeing seeds. The sketch-merge property is what
    * makes this scale: signatures compose without revisiting documents. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select("source", "text")
      .spread
    val sigs = docs
      .withColumn("sh3", graft.plans.TextExpressions.shingles(col("text"), 3))
      .filter(size(col("sh3")) > 0)
      .groupBy("source")
      .agg(graft.plans.MinHashAggFunctions.minhashAgg(col("sh3"), NumSeeds).as("mh"))
    sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"),
        (expr("size(filter(zip_with(a.mh, b.mh, (x, y) -> x = y), m -> m))")
          / lit(NumSeeds.toDouble)).as("est_jaccard"))
      .orderBy("s1", "s2")
  }

  /** Connected components over the near-dup graph: full transitive
    * dedup groups (pairs alone under-merge chains a→b→c). Min-label
    * propagation: every node repeatedly adopts the smallest label among
    * itself and its neighbors until fixpoint — O(diameter) rounds, each
    * one join + aggregation; lineage is truncated per round with a
    * local checkpoint so plans don't grow with iterations. Near-dup
    * graphs are overwhelmingly tiny disjoint clusters, so this
    * converges in 2-3 rounds at any scale. */
  def nearDupComponents(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame =
    componentsAuto(nearDupPairs(spark, dir, tau).select("d1", "d2"))
      .select(col("node").as("doc_id"), col("label").as("component_id"))
      .orderBy("doc_id")

  /** Round budget for [[componentsAuto]]'s label-prop attempt: near-dup
    * graphs (tiny disjoint clusters) close in 2-3 rounds, so a graph
    * still moving after this many has a corpus-growing diameter and
    * belongs on star contraction. The budget is the measured knee, not
    * a correctness bound — both engines produce identical labels. */
  val LabelPropMaxRounds = 8

  /** Min-label propagation over an undirected pair list (d1, d2) →
    * (node, label) — the shared connected-components engine behind the
    * shingle-graph (#42) and embedding-graph components. */
  def components(pairs: DataFrame): DataFrame =
    labelPropBounded(pairs, Int.MaxValue).get

  /** ENGINE AUTO-SELECT (the round-12 verdict's suggestion): try
    * min-label propagation for [[LabelPropMaxRounds]] rounds — optimal
    * on the overwhelmingly common tiny-cluster graphs — and on budget
    * exhaustion fall back to [[componentsStar]] (O(log²) rounds on any
    * shape). The label-prop work is discarded on fallback; that path
    * only fires on pathological (chain-diameter) graphs where finishing
    * label-prop would cost O(diameter) MORE rounds than the restart. */
  def componentsAuto(pairs: DataFrame): DataFrame = {
    val p = pairs.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    labelPropBounded(p, LabelPropMaxRounds).getOrElse(componentsStar(p))
  }

  private def labelPropBounded(pairs: DataFrame,
                               maxRounds: Int): Option[DataFrame] = {
    val edges = pairs
      .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // seed labels with round 1 already applied: min(self, neighbors) is
    // exactly one propagation step from identity labels, as a plain
    // aggregation — saves a full join round (+ checkpoint) per run
    var labels = edges.groupBy(col("d1")).agg(min("d2").as("mn"))
      .select(col("d1").as("node"), least(col("d1"), col("mn")).as("label"))
      .localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var converged = false
    var rounds = 1
    while (!converged && rounds < maxRounds) {
      // The previous label rides along in the propagation result, so the
      // convergence test is a scan of the (eagerly materialized) local
      // checkpoint — one join job per round, not two.
      val updated = labels
        .join(edges.join(labels, col("d2") === col("node"))
                .groupBy(col("d1")).agg(min("label").as("nlabel")),
              col("node") === col("d1"), "left")
        .select(col("node"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      converged = updated.filter(col("label") =!= col("prev_label")).isEmpty
      labels = updated.select("node", "label")
      rounds += 1
    }
    if (converged) Some(labels) else None
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * closure for graphs whose diameter GROWS with the corpus.
    * [[components]]' per-round one-hop min-label propagation is right
    * for near-dup graphs (tiny clusters, 2-3 rounds) but needs
    * O(diameter) rounds on chain-shaped graphs — sorted-neighborhood
    * adjacency chains measured 50+ rounds at sf0.01. Each star round
    * rewrites the O(E) canonical edge list twice (large-star hangs
    * every larger neighbor onto the neighborhood min, small-star
    * re-roots the smaller ones), converging in O(log²) rounds to
    * stars rooted at component minima; the edge list never grows
    * beyond O(E), every step is a groupBy + join on uniform int
    * keys, and per-round lineage is cut with a local checkpoint. */
  def componentsStar(pairs: DataFrame): DataFrame = {
    var e = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var converged = false
    while (!converged) {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val mn = sym.groupBy("u").agg(least(min("v"), col("u")).as("m"))
      val ls = sym.join(mn, "u")
        .filter(col("v") > col("u") && col("m") =!= col("v"))
        .select(least(col("m"), col("v")).as("a"),
          greatest(col("m"), col("v")).as("b"))
        .distinct()
      val sym2 = ls.select(col("a").as("u"), col("b").as("v"))
        .unionAll(ls.select(col("b").as("u"), col("a").as("v")))
      val le = sym2.filter(col("v") < col("u"))
      val mn2 = le.groupBy("u").agg(min("v").as("m"))
      val ss = le.join(mn2, "u").select(col("m"), col("v").as("x"))
        .unionAll(mn2.select(col("m"), col("u").as("x")))
        .filter(col("m") =!= col("x"))
        .select(col("m").as("a"), col("x").as("b")).distinct()
        .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // fixpoint = the canonical edge set is unchanged (stars reached).
      // ONE action per round: both sides are distinct canonical sets, so
      // set equality is "no edge tagged by only one side" — a single
      // keyed aggregate over the two checkpointed frames (the twin
      // exceptAll().isEmpty form cost two full shuffles + two actions)
      converged = e.select(col("a"), col("b"), lit(1L).as("s"))
        .unionAll(ss.select(col("a"), col("b"), lit(2L).as("s")))
        .groupBy("a", "b").agg(sum("s").as("m"))
        .filter(col("m") =!= 3L)
        .isEmpty
      e = ss
    }
    e.select(col("b").as("node"), col("a").as("label"))
      .unionAll(e.select(col("a").as("node"), col("a").as("label")))
      .distinct()
  }

  /** Fixed iteration count for [[graphCentrality]] — unrolled in the
    * oracle, so the two sides always agree on depth. */
  val CentralityIters = 3

  /** PageRank-style centrality over the near-dup graph — a doc
    * connected (directly and transitively) to many near-dups is a
    * template hub, and its rank quantifies that better than a bare
    * degree count. Ranks live in exact 1e-6 integer units and every
    * update is HALF_UP int64 arithmetic (halfUpDiv), so the iteration
    * is bit-identical on any engine and any cluster layout — a
    * floating-point PageRank is order-dependent in its sums and not
    * oracle-able.
    *
    * rank₀ = 10⁶ div N; rankᵢ₊₁(v) = (15·10⁶) div (100·N) +
    * Σ_{u→v} (rank ᵢ(u)·85) div (outdeg(u)·100), `iters` rounds.
    * Each round is one join + one aggregation over the edge list
    * (the component-propagation shape); per-round lineage is
    * truncated with a local checkpoint. */
  def graphCentrality(spark: SparkSession, dir: String, tau: Double = 0.5,
                      iters: Int = CentralityIters): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, intDiv}
    val pairs = nearDupPairs(spark, dir, tau).select("d1", "d2")
    val edges = pairs
      .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .checkpointSer
    val deg = edges.groupBy("d1").agg(count(lit(1)).as("outdeg"))
    val n = deg.count() // node count — one tiny job on the checkpoint
    // Empty graph (a corpus where the capped LSH pass verifies zero
    // pairs — e.g. every bucket over MaxBucketSize on a pathologically
    // replicated corpus): rank₀ = 10⁶ div N is constant-folded at
    // planning, so N = 0 threw DIVIDE_BY_ZERO before any row existed
    // to divide. No nodes → no rows; the oracle's empty-join SQL
    // agrees by construction.
    if (n == 0L)
      return deg.select(col("d1").as("doc_id"), col("outdeg").as("rank_micro"))
        .filter(lit(false)).orderBy("doc_id")
    var rank = deg.select(col("d1").as("node"),
        intDiv(lit(1000000L), lit(n)).as("r"))
      .checkpointSer
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(deg, "d1")
        .join(rank, col("d1") === col("node"))
        .select(col("d2").as("node"),
          halfUpDiv(col("r") * 85L, col("outdeg") * 100L).as("c"))
        .groupBy("node").agg(sum("c").as("in_c"))
      rank = rank.select("node")
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (halfUpDiv(lit(15000000L), lit(100L * n)) +
            coalesce(col("in_c"), lit(0L))).as("r"))
        .checkpointSer
    }
    rank.select(col("node").as("doc_id"), col("r").as("rank_micro"))
      .orderBy("doc_id")
  }

  /** Index-quality self-evaluation for the MinHash sketch (the dedup
    * twin of ann_recall_report): for every banded-LSH candidate pair
    * that shares at least one shingle, the sketch's Jaccard estimate
    * (agreeing seeds / k, ratio4-exact) next to the true shingle
    * Jaccard. Reading this per corpus is how you pick k/bands before
    * trusting the sketch at scale. Same candidate volume as the
    * near-dup pass + one extra broadcast-size join on the (doc,
    * signature) table. */
  def minhashQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").spread
    // the verified pair frame is the SESSION-SHARED candidate-Jaccard
    // memo (same candidate set: candidatesFromBands(banded(sigTable))
    // IS lshCandidates); only the per-pair signature estimate is this
    // query's own — one fused signature pass, checkpointed for the
    // two estimate joins
    val sigs = sigTable(docs).checkpointSer
    Substrate.lshcj(spark, dir)
      .join(sigs.as("sa"), col("sa.doc_id") === col("d1"))
      .join(sigs.as("sb"), col("sb.doc_id") === col("d2"))
      .select(col("d1"), col("d2"),
        expr("size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), m -> m))")
          .cast("long").as("est_agree"),
        col("jaccard"))
      .select(col("d1"), col("d2"), col("est_agree"),
        ratio4(col("est_agree"), lit(NumSeeds.toLong)).as("est_jaccard"),
        col("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Incremental index maintenance: the persisted near-dup index of a
    * corpus is its (doc_id, band, sig) signature table plus its
    * (doc_id, shingle) table — both strictly per-doc, so indexing a
    * new ingest batch NEVER revisits old documents. New near-dup
    * pairs are exactly the band collisions involving at least one new
    * doc (old-old pairs were emitted when their docs arrived); the
    * verification join reads only candidate docs' rows from the
    * persisted shingle table (hash join pruning).
    *
    * The hot-bucket cap is evaluated over the UPDATED index: a bucket
    * that crosses MaxBucketSize as the corpus grows stops emitting
    * pairs from that point on (the already-emitted old pairs are not
    * retracted — caps are monotone suppressions, not invalidations).
    *
    * Returns (newSigs, newShingles, pairs): append the first two to
    * the persisted index tables, emit the third. */
  def incrementalNearDupPairs(oldSigs: DataFrame, oldShingles: DataFrame,
                              newDocs: DataFrame, tau: Double = 0.5)
      : (DataFrame, DataFrame, DataFrame) = {
    val newSigs = bandSignatures(newDocs)
    val newSh = DocDedup.docShinglesOf(newDocs)
    val sigs = oldSigs.select("doc_id", "band", "sig").withColumn("is_new", lit(false))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    val capped = sigs.withColumn("bsz", count(lit(1)).over(wB))
      .filter(col("bsz") <= MaxBucketSize)
      .select("doc_id", "band", "sig", "is_new")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.doc_id") < col("y.doc_id") &&
        (col("x.is_new") || col("y.is_new")))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    (newSigs, newSh, verifyCandidates(cand, oldShingles.unionByName(newSh), tau))
  }

  /** Jaccard-verify candidate pairs over a (doc_id, shingle) table —
    * the shared tail of the batch and incremental paths. The shingle
    * table is semi-joined to the candidate endpoints first, so the
    * pass costs proportional to candidate volume, not the corpus (at
    * incremental scale the persisted shingle table is the whole
    * corpus; only candidate docs' rows may leave the scan). */
  private def verifyCandidates(cand: DataFrame, shAll: DataFrame,
                               tau: Double,
                               cmap: Option[DataFrame] = None): DataFrame =
    jaccardPairs(cand, shAll, cmap)
      .filter(col("jaccard") >= tau)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")

  /** True shingle Jaccard for every candidate pair sharing ≥ 1 shingle
    * (unfiltered) — the shared tail of verify and the quality report.
    * Semi-join-prunes the shingle table to candidate endpoints first. */
  /** #175 `dedup_threshold_curve`: the τ-tuning panel for every
    * Jaccard-gated near-dup pass — candidate pairs bucketed into exact
    * 0.05 similarity bands (band = shared·20 div union, pure int64 —
    * never the double quotient, whose boundary rounding is not
    * cross-engine), with, per band: pairs in the band, pairs surviving
    * τ = band/20 (reverse cumulative), and documents flagged at that τ
    * (a doc survives τ iff its MAX pair band ≥ τ·20, so the doc curve
    * is the reverse cumulative of the per-doc max-band histogram — NOT
    * a sum of per-band distinct counts, which double-counts docs that
    * appear in several bands). Candidate generation is the shared
    * capped-LSH source (linear in rows×bands); both reverse-cumulative
    * windows run over the O(21) band histogram, never the pair table.
    * Reading the panel: pick the band where pairs_at_tau stops falling
    * off a cliff — above it is near-dup mass, below it is noise. */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.intDiv
    val pairs = Substrate.lshcj(spark, dir)
      .select(col("d1"), col("d2"),
        intDiv(col("shared") * 20L, col("n1") + col("n2") - col("shared"))
          .as("band"))
      .checkpointSer // feeds both histograms; the pair scan runs once
    val hist = pairs.groupBy("band").agg(count(lit(1)).as("n_pairs"))
    val docMax = pairs
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"), col("band"))
      .groupBy("doc_id").agg(max("band").as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_docs_max"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hist.join(docMax, Seq("band"), "left")
      .withColumn("pairs_at_tau", sum("n_pairs").over(w))
      .withColumn("docs_at_tau",
        sum(coalesce(col("n_docs_max"), lit(0L))).over(w))
      .select(col("band"), (col("band") * 500L).as("tau4"), col("n_pairs"),
        col("pairs_at_tau"), col("docs_at_tau"))
      .orderBy("band")
  }

  /** Every LSH candidate pair sharing ≥ 1 shingle, with its exact
    * Jaccard ingredients (shared/n1/n2) — the UNFILTERED frame the
    * verified pass gates at τ and the linkage scorer consumes whole
    * (rejected candidates are its negative class, the
    * [[Blocking.snCandidatesOf]] discipline). Cost: the same
    * capped-bucket candidate join + shingle verify as the verified
    * pass — linear in candidate volume. */
  def candidateJaccard(docs: DataFrame,
                       cmap: Option[DataFrame] = None): DataFrame =
    jaccardPairs(lshCandidates(docs), DocDedup.docShinglesOf(docs), cmap)
      .select("d1", "d2", "jaccard")

  private[graft] def jaccardPairs(cand0: DataFrame, shAll: DataFrame,
                                  cmap0: Option[DataFrame] = None): DataFrame = {
    // IDENTICAL-SET CLASS CONTRACTION of the verify join (the round-16
    // ssjoin recipe, ported to the LSH tier for round-17 item 1): the
    // (pair × shared-shingle) overlap join is quadratic in exact
    // replication — under the CandWindow rule the ×100 stress replica
    // emits ~16·N real candidate pairs, and verifying them at doc
    // grain measured 150–300 s per consumer at sf10. Docs with the
    // SAME shingle set overlap identically, so the overlap join runs
    // once per CLASS pair (K× replication ⟹ K²× fewer overlap rows)
    // and each doc pair reads its class pair's shared count back; a
    // corpus with no exact replication contracts to singleton classes
    // and pays one extra aggregation over the candidate endpoints'
    // shingles. Same-class pairs (identical sets) need no join at
    // all: shared = n, and the jaccard rides the SAME Divide
    // expression, so every released double is bit-identical to the
    // doc-grain spelling.
    // A corpus-keyed caller passes the SESSION-MEMOIZED class map (the
    // ssj family's `cls` stage — built once per session over the same
    // uncapped corpus shingle table) via `cmap0`: without it, the
    // tuning sweep's five grid points each paid their own class-map
    // aggregation at sf0.1 (+6 s measured). Arbitrary-frame callers
    // (tests, nearDupPairsOf over ad-hoc docs) pass None and build a
    // local map over the candidate endpoints' shingles. With a full-
    // corpus map, the rep shingle table must semi-join on the REPS
    // (a class rep need not itself be a candidate endpoint).
    val cand = cand0.checkpointSer // endpoints + class keys + back-join
    val (cmap, sh) = cmap0 match {
      case Some(m) => (m, shAll)
      case None =>
        val ids = cand.select(col("d1").as("doc_id"))
          .unionByName(cand.select(col("d2").as("doc_id")))
          .distinct()
        val shE = shAll.join(ids, Seq("doc_id"), "left_semi").checkpointSer
        (DocDedup.ssjClassMapOf(shE).checkpointSer, shE)
    }
    val candK = cand
      .join(cmap.select(col("doc_id").as("d1"), col("cls").as("k1"),
        col("n").as("n1")), "d1")
      .join(cmap.select(col("doc_id").as("d2"), col("cls").as("k2"),
        col("n").as("n2")), "d2")
      .withColumn("c1", least(col("k1"), col("k2")))
      .withColumn("c2", greatest(col("k1"), col("k2")))
    val classPairs = candK.select("c1", "c2").distinct()
    val reps = cmap.filter(col("doc_id") === col("cls")).select("doc_id")
    val shSet = sh.join(reps, Seq("doc_id"), "left_semi")
    val cross = classPairs.filter(col("c1") =!= col("c2"))
      .join(shSet.select(col("doc_id").as("c1"), col("shingle")), "c1")
      .join(shSet.select(col("doc_id").as("c2"), col("shingle")),
        Seq("c2", "shingle"))
      .groupBy("c1", "c2").agg(count(lit(1)).as("shared"))
    val self = classPairs.filter(col("c1") === col("c2"))
      .join(cmap.filter(col("doc_id") === col("cls"))
        .select(col("cls").as("c1"), col("n").as("shared")), "c1")
      .select("c1", "c2", "shared")
    // inner join: pairs whose sets share nothing drop, exactly like
    // the doc-grain overlap join dropped them
    candK.join(cross.unionByName(self), Seq("c1", "c2"))
      .withColumn("jaccard", col("shared") / (col("n1") + col("n2") - col("shared")))
      .select("d1", "d2", "shared", "n1", "n2", "jaccard")
  }

  /** #9: candidate pairs from band collisions, verified with true
    * Jaccard ≥ τ on the shingle sets.
    *
    * Session-memoized ([[Substrate.lshpairs]]): the verified
    * pair list is edge-sized but costs a full shingle+LSH+verify
    * corpus pass, and a Verify/Bench session consumes it from ~10
    * panels (components, rank, triangles, cluster sizes, cross-lang,
    * best-quality, blocking agreement, multi-signal, clean-docs,
    * cascade). It is a τ-filter over the unfiltered candidate-Jaccard
    * frame ([[Substrate.lshcj]]), so the shingle/candidate/verify
    * corpus pass runs once per session for this,
    * `dedup_threshold_curve`, `dedup_minhash_quality` and
    * `linkage_score_pairs` together. The arbitrary-frame form
    * [[nearDupPairsOf]] stays uncached. */
  def nearDupPairs(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame =
    Substrate.lshpairs(spark, dir, tau)

  /** #9 over an arbitrary (doc_id, text) frame. */
  def nearDupPairsOf(docs: DataFrame, tau: Double = 0.5): DataFrame =
    verifyCandidates(lshCandidates(docs), DocDedup.docShinglesOf(docs), tau)

  /** `dedup_minhash_recall`: the banded MinHash config graded against
    * EXACT ground truth — the prefix-filter join (`dedup_ssjoin_prefix`)
    * finds every τ-Jaccard pair, so the panel releases the MEASURED
    * false-negative rate of the shipped (seeds, bands, df-cap,
    * bucket-cap) configuration: exact pairs, LSH pairs, their
    * intersection, the missed count, and recall — the number the
    * threshold/quality panels (#128/#175) estimate from the candidate
    * side, now measured against the full truth. LSH pairs verify
    * their Jaccard on the UNCAPPED sets, so LSH ⊆ exact and the
    * intersection is just the LSH side re-counted (the oracle and the
    * spec both pin n_lsh = n_both).
    *
    * Shape: both inputs are the session-memoized pair lists the rest
    * of the registry already shares (the exact side is
    * [[Substrate.ssjpairs]] — the SAME staged frame #359/#361/#362
    * consume, so a session running any combination pays the prefix
    * join once); one semi-join + three 1-row aggregates. */
  def minhashRecall(spark: SparkSession, dir: String,
                    tau: Double = 0.5): DataFrame = {
    import graft.functions.Hashing.ratio4
    val exact = Substrate.ssjpairs(spark, dir).select("d1", "d2")
    val mh = nearDupPairs(spark, dir, tau).select("d1", "d2")
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val nl = mh.agg(count(lit(1)).as("n_lsh"))
    val nb = mh.join(exact, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    ne.crossJoin(nl).crossJoin(nb)
      .select(col("n_exact"), col("n_lsh"), col("n_both"),
        (col("n_exact") - col("n_both")).as("n_missed"),
        ratio4(col("n_both"), greatest(col("n_exact"), lit(1L)))
          .as("recall4"))
  }

  /** Jaccard band width of [[recallByBand]] in 1e-4 units (0.05). */
  val RecallBand4 = 500L

  /** `dedup_recall_by_band`: the LSH S-curve MEASURED — per exact-
    * Jaccard band (0.05 grain, τ…1.0), how many true pairs exist
    * (prefix-join ground truth) and how many the banded MinHash
    * caught. Banding theory says detection probability is the S-curve
    * 1 − (1 − s^r)^b — near τ it sits well below 1 and climbs to 1 as
    * s → 1; this panel replaces the formula with the measured curve
    * for the shipped config (at native sf1: overall recall 0.49,
    * concentrated exactly in the lowest bands — which is the S-curve
    * doing what it promises, now evidenced). Banding uses the exact
    * integer jaccard4 (halfUp of shared·10⁴/union — no float bands).
    *
    * Shape: both inputs are the memoized pair lists
    * ([[Substrate.ssjpairs]] again — minhashRecall and this panel project d1/d2
    * and j4 from ONE shared frame, so running both costs one exact
    * join); one left-semi flag join + an O(bands) rollup. */
  def recallByBand(spark: SparkSession, dir: String,
                   tau: Double = 0.5): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, intDiv, ratio4}
    val exact = Substrate.ssjpairs(spark, dir)
      .select(col("d1"), col("d2"),
        // exact integer jaccard4 from the released integer counts —
        // banding never touches the double jaccard
        halfUpDiv(col("shared") * 10000L, col("n_union")).as("j4"))
    val mh = nearDupPairs(spark, dir, tau).select("d1", "d2")
      .withColumn("caught", lit(1L))
    exact.join(mh, Seq("d1", "d2"), "left")
      .withColumn("band", intDiv(col("j4"), lit(RecallBand4)))
      .groupBy("band")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .select((col("band") * RecallBand4 / lit(10000.0)).as("band_lo"),
        col("n_exact"), col("n_caught"),
        ratio4(col("n_caught"), col("n_exact")).as("recall4"))
      .orderBy("band_lo")
  }

  /** (k perms, rows/band) grid swept by [[minhashTuning]]: the shipped
    * operating point plus the candidates the measured S-curve (#362)
    * motivates — r=3 variants lift the near-τ detection probability
    * 1−(1−s^r)^b (at s=τ=0.5: r4b4 → 0.23, r3b6 → 0.55, r3b8 → 0.66)
    * while r=4 variants hold candidate volume flat. */
  val TuningGrid: Seq[(Int, Int)] = Seq((16, 4), (18, 3), (24, 3), (24, 4), (32, 4))

  /** Exclusive j4 upper bound of the "near-τ" recall band the sweep
    * grades separately (τ=0.5 … 0.65) — the S-curve's weak region,
    * where every MinHash-fed panel loses its pairs. */
  val TuneLoJ4 = 6500L

  /** `dedup_minhash_tuning`: the (k, bands) OPERATING-POINT SWEEP
    * against exact ground truth — for each grid config, the banded
    * pipeline (same fused signatures, same hot-bucket cap) runs end to
    * end and is graded on the [[Substrate.ssjpairs]] truth: candidate
    * volume (the cost axis), overall recall, and near-τ recall (the
    * quality axis the shipped config is weakest on). This panel is HOW
    * the default (k, r) is chosen: the committed defaults are the grid
    * row with near-τ recall ≥ 0.6 at minimal candidate growth.
    *
    * Shape: |grid| independent LSH passes over the memoized corpus
    * shingle table (each one signature aggregate + one capped bucket
    * join + one verify join — the verified side is ⊆ exact by the
    * prefix-join exactness contract, so recall needs no extra
    * intersection), each ending in a 1-row rollup; output O(|grid|). */
  def minhashTuning(spark: SparkSession, dir: String,
                    tau: Double = 0.5): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, ratio4}
    val sh = Substrate.ssjsh(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text")
      .spread
    val exact = Substrate.ssjpairs(spark, dir)
      .select(col("d1"), col("d2"),
        halfUpDiv(col("shared") * 10000L, col("n_union")).as("j4"))
    val cmap = Substrate.ssjcls(spark, dir)
    // ONE signature pass serves every grid point: seed i's per-shingle
    // hash is md5(i || ':' || shingle) — independent of numSeeds — so
    // the k-seed signature is exactly the first k entries of the
    // kMax-seed one, and banded() reads mh[band·r+1 .. band·r+r] with
    // band < k/r, never past entry k. Five corpus-scale shingle+md5
    // passes (16+18+24+24+32 = 114 seed-hashes per shingle) collapse
    // to one 32-seed pass; values bit-identical (Round14PanelsSpec
    // reconciles every grid row against its own end-to-end pass).
    val kMax = TuningGrid.map(_._1).max
    val sigMax = sigTable(docs, kMax).checkpointSer
    val rows = TuningGrid.map { case (k, r) =>
      val cand = candidatesFromBands(banded(sigMax, k, r))
        .checkpointSer // counted AND verified below
      val mh = verifyCandidates(cand, sh, tau, Some(cmap))
        .select(col("d1"), col("d2"), lit(1L).as("caught"))
      val flags = exact.join(mh, Seq("d1", "d2"), "left")
        .select(col("j4"), coalesce(col("caught"), lit(0L)).as("caught"))
      val cc = cand.agg(count(lit(1)).as("n_candidates"))
      // every sum is zero-filled: on a corpus with zero exact pairs the
      // flags frame is empty and a bare sum() releases NULL — the panel
      // must report 0-recall rows, not null ones (oracle side matches)
      val ag = flags.agg(
        count(lit(1)).as("n_exact"),
        coalesce(sum("caught"), lit(0L)).as("n_pairs"),
        coalesce(sum(when(col("j4") < TuneLoJ4, 1L).otherwise(0L)), lit(0L))
          .as("n_exact_lo"),
        coalesce(sum(when(col("j4") < TuneLoJ4, col("caught")).otherwise(0L)),
          lit(0L)).as("n_caught_lo"))
      cc.crossJoin(ag).select(
        lit(k.toLong).as("n_seeds"), lit(r.toLong).as("band_rows"),
        lit((k / r).toLong).as("n_bands"), col("n_candidates"),
        col("n_pairs"), col("n_exact"),
        ratio4(col("n_pairs"), greatest(col("n_exact"), lit(1L)))
          .as("recall4"),
        col("n_exact_lo"), col("n_caught_lo"),
        ratio4(col("n_caught_lo"), greatest(col("n_exact_lo"), lit(1L)))
          .as("recall_lo4"))
    }
    rows.reduce(_ unionByName _).orderBy("n_seeds", "band_rows")
  }

  /** `dedup_pair_audit_sample`: the human-QA workflow for the near-dup
    * gate — per 0.05 similarity band, a DETERMINISTIC k-pair sample
    * (bottom-k by a seeded pair hash, the [[graft.streaming.StreamSample]]
    * discipline) from the verified pair set. Reviewers grade a fixed,
    * replay-stable sample per band instead of eyeballing a 2.7M-row
    * pair dump; because the sample is a pure function of the pair set,
    * a re-run after a pipeline change re-samples the SAME pairs where
    * they survived — diffs show real gate movement, not sampling
    * noise. Banding floors the (hash-proven deterministic) jaccard
    * double at 0.05 steps; the window partitions by band (O(bands)
    * partitions over the edge-sized pair list — never corpus rows). */
  def pairAuditSample(spark: SparkSession, dir: String,
                      k: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band").orderBy(col("akey"), col("d1"), col("d2"))
    nearDupPairs(spark, dir)
      .withColumn("band", floor(col("jaccard") * 20).cast("long"))
      .withColumn("akey", h64(concat(lit("audit:"), col("d1").cast("string"),
        lit(":"), col("d2").cast("string"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("band", "rank", "d1", "d2", "jaccard")
      .orderBy("band", "rank")
  }

  /** Distinct banded-LSH candidate pairs (d1 < d2) — the shared
    * linear-volume candidate source for every near-dup verifier
    * (Jaccard, containment-on-candidates, edit distance). */
  def lshCandidates(docs: DataFrame): DataFrame =
    candidatesFromBands(bandSignatures(docs))

  /** `dedup_lsh_bucket_profile`: the EMPIRICAL capacity check behind
    * the LSH candidate join — per band: banded docs, distinct buckets,
    * the largest bucket, the raw candidate-pair mass Σ C(c,2), buckets
    * over [[MaxBucketSize]] (the hot set the cap drops) and the pair
    * mass that survives the cap. This panel turns the design claim
    * "the bucket join is capped, never quadratic" into a measured
    * number per band — the dedup twin of `events_key_skew`: read it
    * BEFORE running the pair join on a new corpus, because a template
    * family that collapses a band into one giant bucket shows up here
    * as pairs_raw ≫ pairs_capped (the cap saving the join) rather than
    * as a mysteriously skewed shuffle.
    *
    * Shape: one (band, sig) partial-aggregable count shuffle over the
    * banded signatures (fused signature kernel in the scan stage),
    * then an O(bands) rollup — strictly cheaper than the candidate
    * join it profiles. */
  def lshBucketProfile(spark: SparkSession, dir: String): DataFrame = {
    val bs = bandSignatures(
        graft.Tables.documents(spark, dir).select("doc_id", "text"))
      .groupBy(col("band").cast("long").as("band"), col("sig"))
      .agg(count(lit(1)).as("c"))
    bs.groupBy("band")
      .agg(sum("c").as("n_docs"), count(lit(1)).as("n_buckets"),
        max("c").as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("pairs_raw"),
        sum(when(col("c") > MaxBucketSize, 1L).otherwise(0L))
          .as("hot_buckets"),
        // pair mass surviving the cap: all pairs in normal buckets; in
        // oversized ones the CandWindow rank window emits exactly
        // Σ_{rn} min(W, c−rn) = W·c − W(W+1)/2 pairs (c > cap ≥ W)
        sum(when(col("c") <= MaxBucketSize, expr("c * (c - 1) div 2"))
          .otherwise(lit(CandWindow.toLong) * col("c")
            - lit(CandWindow.toLong * (CandWindow + 1) / 2)))
          .as("pairs_capped"))
      .orderBy("band")
  }

  /** Banded signatures → distinct capped candidate pairs.
    *
    * Buckets at or under [[MaxBucketSize]] keep exact all-pairs
    * candidacy; oversized buckets emit only the [[CandWindow]] rank
    * window (see the constant's doc). The pair generation is an exact
    * equi-join on (band, sig, rn + j) — the nearDupEdgesCapped shape:
    * each member's emit is bounded by construction, never the
    * |bucket|² hash-join blowup a rank-range predicate would plan.
    * d1 < d2 falls out of the rank order (ranks follow doc_id). The
    * CASE guards sequence() against hi < rn+1 (Spark sequence DESCENDS
    * on inverted bounds — it must be empty here). */
  private def candidatesFromBands(allBands: DataFrame): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "sig").orderBy("doc_id")
    val wC = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    val r = allBands
      .withColumn("rn", row_number().over(wB))
      .withColumn("bsz", count(lit(1)).over(wC))
    val hi = when(col("bsz") <= lit(MaxBucketSize), col("bsz").cast("int"))
      .otherwise(least(col("rn") + CandWindow, col("bsz").cast("int")))
    val x = r.select(col("band"), col("sig"),
        explode(when(hi >= col("rn") + 1, sequence(col("rn") + 1, hi))
          .otherwise(array().cast("array<int>"))).as("rn"),
        col("doc_id").as("d1"))
    x.join(
        r.select(col("band"), col("sig"), col("rn"), col("doc_id").as("d2")),
        Seq("band", "sig", "rn"))
      .select("d1", "d2").distinct()
  }

  /** #186 `dedup_multi_signal`: unified duplicate components across ALL
    * three duplicate signals — exact (normalized-digest groups),
    * lexical (verified MinHash/LSH Jaccard ≥ τ pairs), and semantic
    * (embedding cosine ≥ τ pairs; the test corpus keys embeddings by
    * the same id space as documents, the usual lakehouse layout). A
    * production dedup pass removes on the UNION of signals — exact
    * catches byte-copies, lexical catches edited copies, semantic
    * catches paraphrases — and canonical selection must happen per
    * COMBINED family, or the three independent passes each keep a
    * different "canonical" copy of the same content and nothing dies.
    * Per doc in ≥1 duplicate edge: the combined component label plus a
    * flag per contributing signal (which pass found it — the audit
    * column for tuning each signal's τ).
    *
    * Shape: the three pair producers keep their own (already
    * scale-shaped) plans — digest groupBy, capped LSH join, bucketed
    * embedding LSH; the union is edge-count-sized (≪ corpus), and the
    * shared min-label propagation ([[components]]) runs O(diameter)
    * rounds over it. Flags are three edge-node semi-joins, each
    * edge-bounded. */
  def multiSignalComponents(spark: SparkSession, dir: String,
                            tau: Double = 0.5): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").spread
    val eh = docs.select(col("doc_id"),
      h64(DocDedup.normalized(col("text"))).as("dg"))
    // Each pair frame is edge-sized (≪ corpus) but its lineage is a
    // full corpus pass (digest scan / LSH+verify / embedding LSH) —
    // checkpoint each once, because every producer feeds BOTH the
    // component union and its own flag semi-join (without this the
    // lexical LSH pipeline alone re-ran end-to-end for the flags:
    // 13.4 s → 6.5 s at sf0.1).
    val exact = eh.join(eh.groupBy("dg").agg(min("doc_id").as("d1")), "dg")
      .filter(col("doc_id") > col("d1"))
      .select(col("d1"), col("doc_id").as("d2"))
      .checkpointSer
    val lexical = nearDupPairs(spark, dir, tau).select("d1", "d2")
      .checkpointSer
    // DEGREE-BOUNDED semantic edges (Similarity.nearDupEdgesCapped):
    // components need connectivity, not the full pair grain — the raw
    // verified pair list is quadratic in cluster density (138M rows at
    // sf10, ~1.4T extrapolated at 100×; the round-15 verdict's named
    // scale-killer), while the window edge set is ≤ bands·C·N.
    // (no extra checkpoint: the memoized edge frame is already
    // SER-checkpointed, and the rename on top is narrow)
    val semantic = Similarity.nearDupEdgesCapped(spark, dir)
      .select(col("v1").as("d1"), col("v2").as("d2"))
    val all = exact.unionByName(lexical).unionByName(semantic).distinct()
    def nodesOf(p: DataFrame, flag: String): DataFrame =
      p.select(col("d1").as("doc_id"))
        .unionAll(p.select(col("d2").as("doc_id")))
        .distinct()
        .withColumn(flag, lit(true))
    // auto-select: the union includes the EMBEDDING pair graph, which
    // develops chain diameters with scale (the #133 lesson) — the
    // bounded label-prop attempt hands such shapes to star contraction
    componentsAuto(all)
      .select(col("node").as("doc_id"), col("label").as("component_id"))
      .join(nodesOf(exact, "in_exact"), Seq("doc_id"), "left")
      .join(nodesOf(lexical, "in_lexical"), Seq("doc_id"), "left")
      .join(nodesOf(semantic, "in_semantic"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("component_id"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"),
        coalesce(col("in_lexical"), lit(false)).as("in_lexical"),
        coalesce(col("in_semantic"), lit(false)).as("in_semantic"))
      .orderBy("doc_id")
  }

  /** #225 `dedup_graph_triangles`: local clustering structure of the
    * near-dup graph — per node its degree, triangle count, and exact
    * local clustering coefficient 2·tri/(deg·(deg−1)). The panel
    * separates COMMUNITY duplication (dense clusters of mutual
    * near-dups — triangles everywhere, coefficient near 1: one family
    * to collapse) from STAR duplication (a template hub touching many
    * otherwise-unrelated docs — high degree, coefficient near 0: the
    * hub is the artifact, the leaves may be keepers), which degree or
    * PageRank (#114) alone cannot distinguish.
    *
    * Exact triangle counting with DEGREE-ORDERED ORIENTATION: every
    * edge points from its (deg, id)-smaller endpoint to the larger,
    * wedges form only at each edge's LOW endpoint, and a wedge closes
    * iff its two tips are themselves a pair. Work is Σ outdeg(u)² ≤
    * O(m^1.5) for ANY graph (the arboricity bound) — the hub whose
    * naive wedge join would be quadratic has out-degree ≈ 0 under
    * this orientation, so no hub cap is needed and the count stays
    * exact. All joins are hash joins on node ids; the pair list is
    * checkpointed once and feeds orientation, wedge closure and the
    * degree rollup. */
  def graphTriangles(spark: SparkSession, dir: String,
                     tau: Double = 0.5): DataFrame = {
    import graft.functions.Hashing.ratio4
    val pairs = nearDupPairs(spark, dir, tau).select("d1", "d2")
      .checkpointSer
    val deg = pairs.select(col("d1").as("node"))
      .unionAll(pairs.select(col("d2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .checkpointSer
    val low = struct(col("g1"), col("d1")) < struct(col("g2"), col("d2"))
    val e = pairs
      .join(deg.select(col("node").as("d1"), col("degree").as("g1")), "d1")
      .join(deg.select(col("node").as("d2"), col("degree").as("g2")), "d2")
      .select(when(low, col("d1")).otherwise(col("d2")).as("u"),
        when(low, col("d2")).otherwise(col("d1")).as("v"))
      .checkpointSer
    // wedge tips ordered by id so the closing lookup hits the pair
    // list's canonical (d1 < d2) form directly
    val wedges = e.as("a").join(e.as("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.u").as("u"), col("a.v").as("x"), col("b.v").as("y"))
    val tri = wedges.join(pairs,
      col("x") === col("d1") && col("y") === col("d2"), "left_semi")
    val triPerNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .select(col("node"), col("degree"), col("triangles"),
        ratio4(col("triangles") * 2L,
          greatest(col("degree") * (col("degree") - 1L), lit(1L))).as("coeff4"))
      .orderBy("node")
  }

  /** `docs_cross_lang_dup`: the verified near-dup pair set (#9) rolled
    * up by UNORDERED language-label pair — the same-language diagonal
    * vs the cross-language off-diagonal. A training corpus's near-dups
    * are supposed to be same-language (re-posts, templates); an
    * off-diagonal mass means either mislabeled languages (the #188
    * confusion panel's failure mode showing up INSIDE duplicate
    * families, where it silently defeats per-language dedup sharding)
    * or machine-translated boilerplate. One broadcast-sized label join
    * on each side of the pair list, O(langs²) output. */
  def crossLangDup(spark: SparkSession, dir: String,
                   tau: Double = 0.5): DataFrame = {
    import graft.functions.Hashing.ratio4
    val lab = graft.Tables.documents(spark, dir).select("doc_id", "lang").spread
    val lp = nearDupPairs(spark, dir, tau)
      .join(lab.select(col("doc_id").as("d1"), col("lang").as("l1")), "d1")
      .join(lab.select(col("doc_id").as("d2"), col("lang").as("l2")), "d2")
      .select(least(col("l1"), col("l2")).as("lang_a"),
        greatest(col("l1"), col("l2")).as("lang_b"))
      .checkpointSer
    val tot = lp.agg(count(lit(1)).as("t"))
    lp.groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("lang_a"), col("lang_b"), col("n_pairs"),
        ratio4(col("n_pairs"), col("t")).as("share4"))
      .orderBy("lang_a", "lang_b")
  }
}
