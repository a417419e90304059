package graft

import graft.Partitioning._
import graft.operators._
import graft.operators.Similarity.vecs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The session substrate registry: every session-memoized frame the
  * engine shares between registered queries is declared here ONCE —
  * name, source artifact, parameters, un-memoized builder — and only
  * this object builds memo keys (`name|version|dir|p1|…`).
  *
  * Memo state is keyed by the session's UUID (identity — a fresh
  * session can never inherit a dead session's checkpointed frames),
  * with the owning SparkContext held for LIVENESS: every call prunes
  * memos whose context is stopped, dropping the last strong reference
  * so the session object itself can be collected. (A WeakHashMap keyed
  * by session never collects anything: each memoized Dataset strongly
  * references its SparkSession, so the weak key stays reachable through
  * its own value.) Each key carries a version token of its source
  * artifact ([[artifactVersion]]) so data regenerated under the SAME
  * dir within one session recomputes instead of serving stale results.
  *
  * Bounded: past [[MemoCap]] entries the OLDEST entries are dropped
  * from the map — WITHOUT unpersisting. An evicted frame may be in
  * flight in a concurrent consumer (recallReport builds via Futures),
  * and localCheckpoint truncates lineage, so an eager unpersist would
  * fail that consumer instead of recomputing; dropping the reference
  * instead lets the ContextCleaner reclaim the blocks when the last
  * consumer lets go. The cap is generous versus the distinct keys a
  * full Verify/Bench session uses per corpus (≤6 ANN substrates, the
  * lexical/semantic pair frames, and recallReport's ~16 per-corpus
  * index artifacts + per-variant top-ks — all edge-, N-row- or
  * k-sized).
  *
  * Nesting is safe: a key maps to a lazy cell that is forced AFTER
  * insertion, outside `computeIfAbsent`, so a builder may read its
  * upstream substrates inside its own closure. Concurrent readers of
  * one key block on that key's cell only. */
object Substrate {

  private val Documents = "documents.parquet"
  private val Embeddings = "embeddings.parquet"
  private val Lineitem = "lineitem.parquet"

  /** One declared substrate: `apply` is the session-memoized frame,
    * `build` the builder alone at the default parameters (what
    * `Explain sub:<name>` and the plan pins read). Parameters are a
    * value, a tuple, or `()`; their fields become the key's trailing
    * `|p1|p2…` parts. */
  final class Decl[P] private[graft] (val name: String, artifact: String, defaults: P)
                                     (builder: (SparkSession, String, P) => DataFrame) {
    def apply(spark: SparkSession, dir: String, p: P = defaults): DataFrame =
      memo(spark, key(spark, dir, p))(builder(spark, dir, p))
    def build(spark: SparkSession, dir: String): DataFrame =
      builder(spark, dir, defaults)
    private[graft] def key(spark: SparkSession, dir: String, p: P = defaults): String =
      keyOf(spark, dir, name, artifact, p match {
        case () => Nil
        case t: Product => t.productIterator.toSeq
        case x => Seq(x)
      })
  }

  private def decl[P](name: String, artifact: String, defaults: P)
                      (build: (SparkSession, String, P) => DataFrame): Decl[P] =
    new Decl(name, artifact, defaults)(build)

  /** A memo family whose builders live at their call site (recall-report
    * artifacts, per-variant top-ks, per-subset recall rows): the name
    * prefix and source artifact are declared here, the trailing key
    * parts come from the caller. */
  final class Family private[graft] (name: String, artifact: String) {
    def apply(spark: SparkSession, dir: String, parts: Any*)
             (build: => DataFrame): DataFrame =
      memo(spark, keyOf(spark, dir, name, artifact, parts))(build)
  }

  private def keyOf(spark: SparkSession, dir: String, name: String,
                    artifact: String, parts: Seq[Any]): String =
    (Seq(name, artifactVersion(spark, dir, artifact), dir) ++ parts).mkString("|")

  // ---- memo state ----

  private[graft] val MemoCap = 64

  /** Forced once, after insertion — the build runs outside the map's
    * `computeIfAbsent`, so builders may nest. DISK_ONLY storage:
    * memoized frames can be edge-sized (138M-row pair list at native
    * sf10) and they LIVE FOR THE SESSION — a 289-query sweep
    * accumulates dozens of them. Serialized in-memory levels parked
    * those byte arrays in the OLD GEN, and the measured cost was 2–5×
    * inflation of late-alphabet queries in full sf10 sweeps
    * (dedup_ttl_curve 99 s in-sweep vs 17.1 s standalone, same tree —
    * BENCH_sf10.json r16). DISK_ONLY keeps the session heap flat:
    * blocks go to spark.local.dir, the OS page cache serves hot
    * re-reads at memory speed, and readers pay the same decode they
    * paid for the SER level. Per-QUERY checkpoints (checkpointSer) keep
    * the in-memory SER level — their lifetime is one query, not the
    * session. */
  private final class Cell(build: => DataFrame) {
    lazy val frame: DataFrame =
      build.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
  }

  private case class SessionMemo(
      ctx: org.apache.spark.SparkContext,
      entries: java.util.concurrent.ConcurrentHashMap[String, Cell],
      order: java.util.concurrent.ConcurrentLinkedQueue[String])
  private val sessionMemos =
    new java.util.concurrent.ConcurrentHashMap[String, SessionMemo]

  /** Identity key for a session: the classic session's UUID (stable,
    * never reused — via Bridge; identityHashCode only as a fallback for
    * exotic SparkSession implementations). */
  private def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.graft.Bridge.sessionUUID(spark)

  /** Cheap version token for one table artifact under `dir`: names +
    * lengths + mtimes, one driver-side FS listing. */
  private def artifactVersion(spark: SparkSession, dir: String,
                              artifact: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$artifact")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).map(s =>
            s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
          .sorted.mkString(",").hashCode.toString
      else s"${st.getLen}:${st.getModificationTime}"
    } catch { case _: Exception => "na" }

  private def memo(spark: SparkSession, key: String)
                  (build: => DataFrame): DataFrame = {
    // liveness prune: a stopped context's frames are unusable anyway
    sessionMemos.entrySet().removeIf(e => e.getValue.ctx.isStopped)
    val sm = sessionMemos.computeIfAbsent(sessionKey(spark), _ =>
      SessionMemo(spark.sparkContext,
        new java.util.concurrent.ConcurrentHashMap[String, Cell],
        new java.util.concurrent.ConcurrentLinkedQueue[String]))
    val df = sm.entries.computeIfAbsent(key, k => {
      sm.order.add(k)
      new Cell(build)
    }).frame
    // bound: drop oldest-inserted entries only; never the one just
    // returned, never with an unpersist (see the doc above). The
    // iteration bound makes concurrent-evict races terminate.
    var spins = sm.entries.size + 1
    while (sm.entries.size > MemoCap && spins > 0) {
      spins -= 1
      val oldest = sm.order.poll()
      if (oldest == null) spins = 0 // queue drained by a concurrent evict
      else if (oldest == key) sm.order.add(oldest) // keep the live key
      else sm.entries.remove(oldest)
    }
    df
  }

  // ---- documents.parquet ----

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text").spread

  /** Banded-LSH candidate pairs — the ONE capped candidate source every
    * corpus-keyed verifier reads (Jaccard, edit distance). */
  val lshcand = decl("lshcand", Documents, ())((spark, dir, _) =>
    MinHashLSH.lshCandidates(docs(spark, dir)))

  /** UNFILTERED candidate-Jaccard frame — every banded-LSH candidate
    * pair sharing ≥ 1 shingle with its exact (shared, n1, n2, jaccard).
    * The τ-verified lists ([[lshpairs]]) filter it; the threshold
    * curve, the MinHash quality panel and the linkage negative class
    * read it whole. */
  val lshcj = decl("lshcj", Documents, ())((spark, dir, _) => {
    val cmap = ssjcls(spark, dir)
    MinHashLSH.jaccardPairs(lshcand(spark, dir), DocDedup.docShingles(spark, dir),
      Some(cmap))
  })

  /** #9's verified pair list at τ: a filter over [[lshcj]] with its own
    * (small) memo, so consumers read the ordered list as one scan. */
  val lshpairs = decl("lshpairs", Documents, 0.5)((spark, dir, tau) =>
    lshcj(spark, dir).filter(col("jaccard") >= tau)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2"))

  /** UNFILTERED sorted-neighborhood prefix-key adjacency frame at the
    * default window — six registered paths derive from it. */
  val sncand = decl("sncand", Documents, ())((spark, dir, _) =>
    Blocking.snCandidatesOf(docs(spark, dir)))

  /** UNFILTERED exact shingle overlap at the default df cap — the
    * Jaccard and containment tiers are post-filters over it. */
  val xovl = decl("xovl", Documents, ())((spark, dir, _) =>
    DocDedup.exactOverlapOf(DocDedup.docShingles(spark, dir)))

  /** Winnowing pair list at one (k, w, maxDf, minShared) operating
    * point — `dedup_winnowing`, its agreement panel and the savings
    * report share it. */
  val winpairs = decl("winpairs", Documents,
      (DocDedup.WinnowK, DocDedup.WinnowW, DocDedup.MaxFpDf, DocDedup.MinSharedFp)) {
    case (spark, dir, (k, w, maxDf, minShared)) =>
      DocDedup.winnowingPairsOf(docs(spark, dir), k, w, maxDf, minShared)
  }

  // the exact prefix join's stages: ONE computation of each feeds the
  // pair release, recall vs ground truth, the S-curve and the funnel
  // (whose stage counts are aggregates over these checkpoints)
  val ssjsh = decl("ssjsh", Documents, ())((spark, dir, _) =>
    DocDedup.docShingles(spark, dir))
  val ssjpref = decl("ssjpref", Documents, ())((spark, dir, _) =>
    DocDedup.ssjPrefixOf(ssjsh(spark, dir), DocDedup.PrefixTauPpm))
  val ssjcls = decl("ssjcls", Documents, ())((spark, dir, _) =>
    DocDedup.ssjClassMapOf(ssjsh(spark, dir)))
  /** Class-grain candidates — doc-grain candidates are never
    * materialized; the funnel counts them algebraically. */
  val ssjcandc = decl("ssjcandc", Documents, ())((spark, dir, _) =>
    DocDedup.ssjCandClassesOf(ssjpref(spark, dir), ssjcls(spark, dir),
      DocDedup.PrefixTauPpm))
  /** The verified pair list (UNORDERED) with its exact integer counts. */
  val ssjpairs = decl("ssjpairs", Documents, ())((spark, dir, _) => {
    val cmap = ssjcls(spark, dir)
    DocDedup.ssjExpandPairs(
      DocDedup.ssjVerifiedClassesOf(ssjcandc(spark, dir), ssjsh(spark, dir),
        cmap, DocDedup.PrefixTauPpm), cmap)
  })
  /** The prefix join over winnowing FINGERPRINT sets (UNORDERED). */
  val ssjfp = decl("ssjfp", Documents, ())((spark, dir, _) =>
    DocDedup.prefixJoinOf(
      DocDedup.winnowFingerprintsOf(docs(spark, dir))
        .select(col("doc_id"), col("h").as("shingle"))))

  /** The decontaminated train split: train docs minus those leaking
    * more than `maxRatio` of their shingles into the eval split — feeds
    * pipeline_decontaminated, the training mix and the gate ablation. */
  val decon = decl("decon", Documents, Curation.MaxContamRatio)(
    (spark, dir, maxRatio) => {
      val docs = Tables.documents(spark, dir).select("doc_id", "text", "source").spread
      val evalSh = Curation.shingleHashesOf(docs.filter(col("doc_id") % Curation.EvalMod === 0))
        .select("sh").distinct()
      val train = docs.filter(col("doc_id") % Curation.EvalMod =!= 0)
      val bad = Curation.contaminationCore(train.select("doc_id", "text"), evalSh)
        .filter(col("ratio") > maxRatio).select("doc_id")
      train.join(bad, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    })

  /** Corpus word vocabulary (w, n) — the input every BPE trainer reads. */
  val bpevocab = decl("bpevocab", Documents, ())((spark, dir, _) =>
    Tables.documents(spark, dir)
      .select("text").spread
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("n")))

  /** The trained BPE merge table — the greedy-merge driver loop runs
    * once per session. */
  val bpemerges = decl("bpemerges", Documents, Curation.BpeRounds)(
    (spark, dir, rounds) =>
      Curation.bpeTrainMergesOf(spark, bpevocab(spark, dir), rounds))

  /** The vocab-sized trained lexicon behind the head panel and every
    * scoring pass. */
  val lextrain = decl("lextrain", Documents, ())((spark, dir, _) =>
    QualityModels.lexiconTrain(spark, dir))

  /** Per-doc EXACT scored4 frame (doc_id, n_toks, score4, pred) — the
    * one scoring pass the lexicon score, model-eval, calibration and
    * isotonic panels derive from. */
  val lexs4 = decl("lexs4", Documents, ())((spark, dir, _) =>
    QualityModels.lexiconScored4Of(docs(spark, dir), lextrain(spark, dir)))

  /** Per-decile (n_docs, n_pos, ss4) of the scored frame — the
    * calibration curve and the isotonic fit share one binning. */
  val lexdec = decl("lexdec", Documents, ())((spark, dir, _) => {
    import graft.functions.Hashing.intDiv
    val scored = lexs4(spark, dir).select("doc_id", "score4")
    val n = scored.count()
    Ranking.globalRowNumber(scored, Seq(col("score4"), col("doc_id")), "rn")
      .select(col("doc_id"), col("score4"),
        (intDiv((col("rn") - 1L) * 10L, lit(n)) + 1L).as("decile"))
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        QualityModels.isCurated(col("source")).cast("long").as("label")), "doc_id")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("label").as("n_pos"),
        sum("score4").as("ss4"))
  })

  /** The trained-gate score frame: [[lexs4]] projected to the float
    * score (same score4 ints, same /10000.0 expression). */
  val lexscore = decl("lexscore", Documents, ())((spark, dir, _) =>
    lexs4(spark, dir).select(
        col("doc_id"),
        col("n_toks"),
        (col("score4") / lit(10000.0)).as("score"),
        col("pred"))
      .orderBy("doc_id"))

  /** DSIR importance weights — `dsir_weights` and the training mix. */
  val dsirw = decl("dsirw", Documents, ())((spark, dir, _) =>
    QualityModels.dsirScoreOf(docs(spark, dir),
      // O(DsirBuckets) rows — checkpointing pins the trained model so
      // the broadcast (and any retry) never re-runs the training scan
      QualityModels.dsirBucketTable(spark, dir).localCheckpoint())
      .orderBy("doc_id"))

  /** Text-tier SimHash signatures; banding + Hamming stay per query. */
  val shsig = decl("shsig", Documents, ())((spark, dir, _) =>
    SimHash.signatures(DocDedup.docShingles(spark, dir)))

  /** CDC-sampled byte-SimHash signatures — the O(payload bytes) cost of
    * the binary near-dup tier (payload derives from documents). */
  val phashsig = decl("phashsig", Documents, ())((spark, dir, _) => {
    import graft.functions.ByteSimHash
    Multimodal.withPayload(spark, dir).select("doc_id", "payload")
      .select(col("doc_id"),
        ByteSimHash.byteSimHash(col("payload"), Multimodal.ShingleBytes,
          Multimodal.SampleMod).as("simhash"))
      .filter(col("simhash") =!= ByteSimHash.NoSignature)
  })

  /** The gate-stack survivors (doc_id, source, n_toks, score,
    * importance) the training mix and the retention report share. */
  val mixsurv = decl("mixsurv", Documents, ())((spark, dir, _) => {
    val keepers = docs(spark, dir)
      .withColumn("digest", graft.functions.Hashing.h64(DocDedup.normalized(col("text"))))
      .groupBy("digest").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    decon(spark, dir)
      .join(keepers, "doc_id")
      .join(lexscore(spark, dir).filter(col("pred") === 1)
        .select("doc_id", "n_toks", "score"), "doc_id")
      .join(dsirw(spark, dir).select("doc_id", "importance"), "doc_id")
      .select("doc_id", "source", "n_toks", "score", "importance")
  })

  // ---- embeddings.parquet ----

  /** #11's verified embedding pair list per exact parameterization —
    * LSH band-collision candidates, cosine ≥ τ. */
  val embpairs = decl("embpairs", Embeddings, (Similarity.NearDupTau, 0, 0)) {
    case (spark, dir, (tau, numPlanes, planesPerBand)) =>
      import Similarity.{NumBands, buckets, cosine, planesPerBandFor}
      val v = vecs(spark, dir)
      val ppb =
        if (planesPerBand > 0) planesPerBand else planesPerBandFor(v.count())
      val np = if (numPlanes > 0) numPlanes else NumBands * ppb
      val b = buckets(spark, dir, np, ppb)
      val cand = b.as("x").join(b.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
        .distinct()
      cand
        .join(v.select(col("vec_id").as("v1"), col("e").as("e1")), "v1")
        .join(v.select(col("vec_id").as("v2"), col("e").as("e2")), "v2")
        .withColumn("cos", cosine("e1", "e2"))
        .filter(col("cos") >= tau)
        .select("v1", "v2", "cos")
        .orderBy("v1", "v2")
  }

  /** Degree-bounded verified embedding edges: all-pairs inside
    * normal-size buckets, the [[Similarity.NeighborWindow]] rule inside
    * oversized ones, cosine-verified at τ — the edge source for the
    * component consumers. */
  val embcapped = decl("embcapped", Embeddings,
      (Similarity.NearDupTau, Similarity.NeighborWindow)) {
    case (spark, dir, (tau, cWin)) =>
      import Similarity.{NumBands, TargetBucket, buckets, cosine, planesPerBandFor}
      val v = vecs(spark, dir)
      val ppb = planesPerBandFor(v.count())
      val b = buckets(spark, dir, NumBands * ppb, ppb)
      // rank members within (band, bucket) by vec_id — id-grain rows
      // only (24 B), the vectors join in AFTER the candidate set is
      // bounded and deduplicated; bucket size rides the same window
      // shuffle (zero extra exchange)
      val wB = Window.partitionBy("band", "bucket").orderBy("vec_id")
      val wC = Window.partitionBy("band", "bucket")
      val r = b.withColumn("rn", row_number().over(wB))
        .withColumn("bsz", count(lit(1)).over(wC))
      // exact equi-join on (band, bucket, rn + j): each member emits
      // target ranks rn+1..hi, hi = bucket end for normal buckets,
      // rn + C for oversized ones — emit is bounded per member per band
      // by construction (never the |bucket|² hash-join blowup a
      // rank-range predicate would plan); v1 < v2 falls out of the rank
      // order. The CASE guards sequence() against hi < rn+1 (Spark
      // sequence DESCENDS on inverted bounds — it must be empty here).
      val hi = when(col("bsz") <= lit(TargetBucket), col("bsz").cast("int"))
        .otherwise(least(col("rn") + cWin, col("bsz").cast("int")))
      val x = r.select(col("band"), col("bucket"),
          explode(when(hi >= col("rn") + 1, sequence(col("rn") + 1, hi))
            .otherwise(array().cast("array<int>"))).as("rn"),
          col("vec_id").as("v1"))
      val cand = x.join(
          r.select(col("band"), col("bucket"), col("rn"),
            col("vec_id").as("v2")),
          Seq("band", "bucket", "rn"))
        .select("v1", "v2").distinct()
      cand
        .join(v.select(col("vec_id").as("v1"), col("e").as("e1")), "v1")
        .join(v.select(col("vec_id").as("v2"), col("e").as("e2")), "v2")
        .withColumn("cos", cosine("e1", "e2"))
        .filter(col("cos") >= tau)
        .select("v1", "v2", "cos")
  }

  /** THE exact top-k baseline every recall panel grades against. */
  val brute = decl("brute", Embeddings, (Similarity.TopK, Similarity.NumQueries)) {
    case (spark, dir, (k, nQueries)) => Similarity.bruteTopK(spark, dir, k, nQueries)
  }

  // ANN build artifacts: the standalone families, ivfProbeCurve and
  // recallReport share one build per session per key
  /** Lloyd-trained coarse centroids. */
  val cent = decl("cent", Embeddings, (8, 2)) {
    case (spark, dir, (nCentroids, iters)) =>
      Similarity.kmeansCentroids(vecs(spark, dir), nCentroids, iters)
  }
  /** PQ codebooks (with reconstruction norms). */
  val cb = decl("cb", Embeddings, ())((spark, dir, _) =>
    Similarity.pqCodebooksWithNorm(vecs(spark, dir)))
  /** Coarse assignment table (argmaxCellOf). */
  val members = decl("members", Embeddings, (8, 2)) {
    case (spark, dir, p) =>
      Similarity.argmaxCellOf(vecs(spark, dir), cent(spark, dir, p))
  }
  /** PQ code table. */
  val codes = decl("codes", Embeddings, ())((spark, dir, _) =>
    Similarity.pqEncode(vecs(spark, dir), cb(spark, dir)))
  /** SQ8 per-dimension [min, max] stats row. */
  val sqst = decl("sqst", Embeddings, ())((spark, dir, _) =>
    Similarity.sqStats(vecs(spark, dir)))
  /** SQ8 code table. */
  val sqcodes = decl("sqcodes", Embeddings, ())((spark, dir, _) =>
    Similarity.sqEncode(vecs(spark, dir), sqst(spark, dir)))
  /** The small-world graph index edges. */
  val edges = decl("edges", Embeddings, ())((spark, dir, _) =>
    Similarity.graphEdgesOf(vecs(spark, dir)))

  /** `ann_appended_recall`'s 4-row result: the saved index built on the
    * even vec_ids, the odd half appended under the frozen quantizers,
    * graded against the full-corpus brute baseline. */
  val apprecall = decl("apprecall", Embeddings,
      (Similarity.TopK, Similarity.NumQueries)) {
    case (spark, dir, (k, nQueries)) =>
      import Similarity.{appendToIndex, dropScratchDir, recallRow, saveIndexOf,
        scratchIndexDir, searchSavedIvfKmeans, searchSavedLsh, searchSavedSq,
        searchSavedWhitened}
      val v = vecs(spark, dir)
      // scratch index under a hadoop-compatible path (conf-overridable,
      // warehouse-dir default) — NOT a driver-local temp dir, which
      // executors on a real cluster could never read the artifacts from
      val idx = scratchIndexDir(spark, "appended-recall")
      saveIndexOf(v.filter(col("vec_id") % 2 === 0), idx)
      appendToIndex(spark, idx, v.filter(col("vec_id") % 2 =!= 0))
      val base = brute(spark, dir, (k, nQueries)).select("q_id", "vec_id")
      val out = Seq(
          "saved_ivf_kmeans" -> searchSavedIvfKmeans(spark, dir, idx, k, nQueries),
          "saved_lsh" -> searchSavedLsh(spark, dir, idx, k, nQueries),
          "saved_sq" -> searchSavedSq(spark, dir, idx, k, nQueries),
          "saved_whitened" -> searchSavedWhitened(spark, dir, idx, k, nQueries))
        .map { case (name, tk) => recallRow(name, tk, base, k, nQueries) }
        .reduceLeft(_ unionByName _)
        .orderBy("variant")
        .localCheckpoint() // eager 4-row frame — the scratch index is now dead
      dropScratchDir(spark, idx)
      out
  }

  /** `ann_delete_recall`'s 3-row result: the saved index on the FULL
    * corpus, 20% tombstoned and filtered merge-on-read, graded against
    * brute force over the survivors. */
  val delrecall = decl("delrecall", Embeddings,
      (Similarity.TopK, Similarity.NumQueries)) {
    case (spark, dir, (k, nQueries)) =>
      import Similarity.{DeleteMod, bruteTopKOf, dropScratchDir, ivfKmeansSearch,
        loadPerVec, lshSearch, saveIndexOf, scratchIndexDir, sqSearch}
      val v = vecs(spark, dir)
      val idx = scratchIndexDir(spark, "delete-recall")
      saveIndexOf(v, idx)
      def liveOnly(df: DataFrame) =
        df.filter(col("vec_id") % DeleteMod =!= 0L)
      val live = liveOnly(v)
      val base = bruteTopKOf(live, k, nQueries)
        .select("q_id", "vec_id").localCheckpoint()
      val nLiveQ = live.filter(col("vec_id") < nQueries).count()
      val centroids = spark.read.parquet(s"$idx/centroids")
      val assigned = liveOnly(loadPerVec(spark, s"$idx/members"))
      val b0 = liveOnly(loadPerVec(spark, s"$idx/b0"))
      val sqSt = spark.read.parquet(s"$idx/sqstats")
      val sqCodes = liveOnly(loadPerVec(spark, s"$idx/sqcodes"))
      def row(name: String, tk: DataFrame): DataFrame = {
        val t = tk.select("q_id", "vec_id").localCheckpoint()
        val hits = t.join(base, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val del = t.filter(col("vec_id") % DeleteMod === 0L)
          .agg(count(lit(1)).as("n_deleted_hits"))
        hits.crossJoin(del)
          .select(lit(name).as("variant"), col("n_hits"), col("n_deleted_hits"),
            graft.functions.Hashing.ratio4(col("n_hits"),
              lit(k.toLong * nLiveQ)).as("recall"))
      }
      val out =
        row("saved_ivf_kmeans",
            ivfKmeansSearch(live, centroids, assigned, k, nQueries, nprobe = 2))
          .unionByName(row("saved_lsh",
            lshSearch(live, b0, b0.join(live, "vec_id"), k, nQueries)))
          .unionByName(row("saved_sq",
            sqSearch(live, sqSt, sqCodes, k, nQueries)))
          .orderBy("variant")
          .localCheckpoint() // eager 3-row frame — the scratch index is now dead
      dropScratchDir(spark, idx)
      out
  }

  /** recallReport's index artifacts and per-variant top-ks. */
  val rr = new Family("rr", Embeddings)
  /** recallAtK's rank-carrying variant top-ks. */
  val tkr = new Family("tkr", Embeddings)
  /** recallScaling's per-subset 1-row results. */
  val rs = new Family("rs", Embeddings)

  // ---- lineitem.parquet ----

  /** Support-filtered market-basket pairs with lift — a registered
    * query and `orders_assoc_rules`' whole input. */
  val basket = decl("basket", Lineitem, Commerce.BasketMinSupport)(
    (spark, dir, minSupport) => {
      import graft.functions.Hashing.ratio4
      val items = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().checkpointSer
      val nOrders = items.agg(countDistinct("o").as("n_orders"))
      val supp = items.groupBy("p").agg(count(lit(1)).as("s"))
      val a = items.select(col("o"), col("p").as("p1"))
      val b = items.select(col("o"), col("p").as("p2"))
      a.join(b, Seq("o")).filter(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= minSupport)
        .join(supp.select(col("p").as("p1"), col("s").as("s1")), "p1")
        .join(supp.select(col("p").as("p2"), col("s").as("s2")), "p2")
        .crossJoin(broadcast(nOrders))
        .select(col("p1"), col("p2"), col("supp"), col("s1"), col("s2"),
          ratio4(col("supp") * col("n_orders"), col("s1") * col("s2")).as("lift4"))
        .orderBy("p1", "p2")
    })

  /** Every declared substrate — what `Explain sub:<name>` resolves. */
  val all: Seq[Decl[_]] = Seq(
    lshcand, lshcj, lshpairs, sncand, xovl, winpairs,
    ssjsh, ssjpref, ssjcls, ssjcandc, ssjpairs, ssjfp,
    decon, bpevocab, bpemerges, lextrain, lexs4, lexdec, lexscore, dsirw,
    shsig, phashsig, mixsurv,
    embpairs, embcapped, brute, cent, cb, members, codes, sqst, sqcodes,
    edges, apprecall, delrecall,
    basket)
}
