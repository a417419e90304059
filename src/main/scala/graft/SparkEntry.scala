package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Commerce.q1(spark, "/root/testdata/sf0.001")

  /** One registered query: its Spark plan and its DuckDB oracle SQL.
    * The oracle may read the corpus in `ctx` (a session and an sf
    * directory); `None` means the query has no oracle under that ctx. */
  private final class Decl(val name: String,
                           val plan: (SparkSession, String) => DataFrame,
                           val oracle: Option[(SparkSession, String)] => Option[String])

  /** A query whose oracle does not depend on the data. The SQL is built
    * only when an oracle map is asked for, never by [[queries]]. */
  private def decl(name: String, plan: (SparkSession, String) => DataFrame)
                  (sql: => String): Decl =
    new Decl(name, plan, _ => Some(sql))

  /** Every declaration by name, one section per family. */
  private lazy val registry: Map[String, Decl] = {
    val all = coreDedup ++ docDedup ++ ann ++ multimodal ++ text ++ corpus ++
      quality ++ pipeline ++ privacy ++ linkage ++ tpch ++ events
    val twice = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"registered more than once: ${twice.mkString(", ")}")
    all.map(d => d.name -> d).toMap
  }

  /** Every registered query's Spark plan, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) => n -> d.plan }

  /** The oracle map without a corpus: every query but the whitened-LSH
    * top-k, whose SQL needs one. */
  def oracleSql: Map[String, String] = oracleSqlFor(None)

  /** The oracle map for the corpus in `ctx`. graft.Verify passes ctx, so
    * the dumped oracle_sql.json the driver replays is the full map. */
  def oracleSqlFor(ctx: Option[(SparkSession, String)]): Map[String, String] =
    registry.flatMap { case (n, d) => d.oracle(ctx).map(n -> _) }

  /** Registered query `name`'s ctx-less oracle as a derived table of
    * `cols`, for oracles that grade other queries. */
  private def oracleOf(name: String, cols: String): String =
    s"(SELECT $cols FROM (${registry(name).oracle(None).get}))"

  /** Whether Verify and Bench run `name`: a dev-only subset of
    * comma-separated names in `SPARK_GRAFT_ONLY` narrows them; the
    * driver never sets it. */
  def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY").forall(_.split(",").map(_.trim).contains(name))

  // ---- DuckDB oracle SQL ------------------------------------------------
  // Shared fragments so the Spark plans and the oracles stay in lockstep.

  /** events with µs event time (DuckDB reads the ns parquet at µs). */
  private val EV =
    "SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events"

  /** SimHash signatures → capped byte-band candidates with exact
    * Hamming distance — mirrors SimHash.signatures + candidateHamming;
    * shared by the accept-gated query and the tuning profile so the
    * two can never drift. Expects `sh` in scope; exposes
    * `shcand(d1, d2, hd)`. */
  private def SIMHASH_CAND_CTES: String =
    s"""th AS (SELECT doc_id, ${H64("shingle")} AS h FROM sh),
       |shbits AS (
       |  SELECT doc_id, b.b, SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, generate_series(0,63) b(b) GROUP BY doc_id, b.b
       |),
       |shsimh AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM shbits GROUP BY doc_id
       |),
       |shbands AS (
       |  SELECT doc_id, simhash, band, byte FROM (
       |    SELECT doc_id, simhash, g.g AS band, (simhash >> (8*g.g)) & 255 AS byte,
       |      count(*) OVER (PARTITION BY g.g, (simhash >> (8*g.g)) & 255) AS bsz
       |    FROM shsimh, generate_series(0,7) g(g))
       |  WHERE bsz <= ${graft.operators.MinHashLSH.MaxBucketSize}
       |),
       |shcand AS (
       |  SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hd FROM (
       |    SELECT DISTINCT x.doc_id AS d1, x.simhash AS s1, y.doc_id AS d2, y.simhash AS s2
       |    FROM shbands x JOIN shbands y ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id)
       |)""".stripMargin

  /** Deterministic per-type KMV bottom-k value sample (hash → dedup →
    * bottom-k → sorted values) — mirrors Sketches.kmvQuantiles's
    * KmvSampleAgg; shared by the quantile export and the accuracy
    * panel so the two can never drift. Expects `ev` in scope; exposes
    * `kmvs(event_type, n_sample, vs)`. */
  private def KMV_SAMPLE_CTES: String =
    s"""kh AS (
       |  SELECT event_type,
       |    ${H64("concat('e:', CAST(event_id AS VARCHAR))")} AS h,
       |    CAST(ROUND(value*100) AS BIGINT) AS cents
       |  FROM ev
       |),
       |kd AS (SELECT event_type, h, min(cents) AS cents FROM kh GROUP BY 1, 2),
       |kmk AS (
       |  SELECT event_type, h, cents,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM kd
       |),
       |kmvs AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
       |    list(cents ORDER BY cents) AS vs
       |  FROM kmk WHERE rn <= ${graft.operators.Sketches.SampleK} GROUP BY 1
       |)""".stripMargin

  /** Deterministic replica simulation — mirrors Dedup.withReplicas. */
  private val DUP_CTE =
    s"""ev AS ($EV),
       |dup AS (
       |  SELECT * FROM ev
       |  UNION ALL SELECT event_id+10000000, ts_us+37000000, user_id, event_type, value, props FROM ev
       |  UNION ALL SELECT event_id+20000000, ts_us+7200000000, user_id, event_type, value, props FROM ev
       |)""".stripMargin

  /** Canonical props for this data shape ({"k": N}); ignored=["k"] → ''. */
  private val CANON_K = "concat('k=', json_extract_string(props, '$.k'))"

  /** Digest — mirrors Hashing.eventDigest (md5 → first 60 bits). */
  private def hashedCte(canon: String): String =
    s"""hashed AS (
       |  SELECT *, CAST(concat('0x', substr(md5(concat_ws('|',
       |    CAST(user_id AS VARCHAR), event_type,
       |    CAST(CAST(ROUND(value*100) AS BIGINT) AS VARCHAR), $canon)),1,15)) AS BIGINT) AS digest
       |  FROM dup
       |)""".stripMargin

  private val OUT_COLS = "event_id, ts_us, user_id, event_type, value, props, digest"

  /** Whitespace tokens — mirrors TextAnalysis.tokens. */
  private val TOKS =
    """list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"""

  /** md5-derived 60-bit hash of a SQL string expression — mirrors Hashing.h64. */
  private def H64(e: String): String =
    s"CAST(concat('0x', substr(md5($e),1,15)) AS BIGINT)"

  /** Stopword-count columns over a `toks` list — mirrors
    * TextAnalysis.predLangCol's countIn inputs; shared by the lang-ID
    * and lang-confusion oracles so the stop lists cannot drift. */
  private val LANG_CNTS_SQL =
    s"""coalesce(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT), 0) AS n_en,
       |    coalesce(CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS BIGINT), 0) AS n_de,
       |    coalesce(CAST(len(list_filter(toks, t -> t IN ('el','la','de','y','es'))) AS BIGINT), 0) AS n_es,
       |    coalesce(CAST(len(list_filter(toks, t -> t IN ('le','les','de','et','est'))) AS BIGINT), 0) AS n_fr,
       |    coalesce(CAST(len(list_filter(toks, t -> t IN ('的','是','不'))) AS BIGINT), 0) AS n_zh""".stripMargin

  /** Deterministic-argmax language pick — mirrors TextAnalysis.predLangCol. */
  private val LANG_CASE_SQL =
    s"""CASE WHEN greatest(n_en, n_de, n_es, n_fr, n_zh) = 0 THEN 'und'
       |       WHEN n_en = greatest(n_en, n_de, n_es, n_fr, n_zh) THEN 'en'
       |       WHEN n_de = greatest(n_en, n_de, n_es, n_fr, n_zh) THEN 'de'
       |       WHEN n_es = greatest(n_en, n_de, n_es, n_fr, n_zh) THEN 'es'
       |       WHEN n_fr = greatest(n_en, n_de, n_es, n_fr, n_zh) THEN 'fr'
       |       ELSE 'zh' END""".stripMargin

  /** BPE merge training replayed as [[graft.operators.Curation.BpeRounds]]
    * unrolled CTE rounds — each round: pair-count aggregate over the
    * wrapped word-type frame, argmax (count desc, pair asc), one literal
    * replace applying the merge (mirrors Curation.bpeTrainMergesOf: the
    * "(a)(b)(c)" wrapping makes replace() the exact greedy
    * non-overlapping merge in both engines). */
  /** Shared BPE training CTE body (word types wt, wrapped w0, and per
    * round the argmax pair p_r + merged words w_r). */
  private def bpeTrainCtes: String = {
    val rounds = graft.operators.Curation.BpeRounds
    val cte = (1 to rounds).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (
         |  SELECT split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs, cnt
         |  FROM (SELECT pair, sum(n) AS cnt FROM (
         |          SELECT unnest(list_transform(generate_series(1, len(sy)-1),
         |                 i -> sy[i] || ' ' || sy[i+1])) AS pair, n
         |          FROM (SELECT string_split(trim(replace(s, ')(', ' '), '()'), ' ') AS sy, n
         |                FROM $prev) q1
         |          WHERE len(sy) >= 2) q2
         |        GROUP BY pair) q3
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS (SELECT replace(s, '(' || lhs || ')(' || rhs || ')',
         |                       '(' || lhs || rhs || ')') AS s, n
         |        FROM w${r - 1}, p$r)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (SELECT $TOKS AS t FROM documents),
       |wt AS (SELECT w, count(*) AS n
       |       FROM (SELECT unnest(t) AS w FROM toks) q0
       |       WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY w),
       |w0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS s, n FROM wt),
       |$cte""".stripMargin
  }

  private def bpeTrainMergesOracle: String = {
    val rounds = graft.operators.Curation.BpeRounds
    val sel = (1 to rounds).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs,
         |  lhs || rhs AS merged, CAST(cnt AS BIGINT) AS n FROM p$r""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |$sel
       |ORDER BY merge_rank""".stripMargin
  }

  /** Encode the vocabulary with the trained merges (LEFT JOIN per round
    * so a pairless round is a no-op, mirroring the Spark encoder's
    * shorter merge list) → `nsyms(w, n_syms)`. Shared by the fertility
    * and BPE-packing oracles. */
  private def bpeEncodeCtes: String = {
    val rounds = graft.operators.Curation.BpeRounds
    val enc = (1 to rounds).map { r =>
      s"""e$r AS (SELECT w,
         |  CASE WHEN p.lhs IS NULL THEN s
         |       ELSE replace(s, '(' || p.lhs || ')(' || p.rhs || ')',
         |                    '(' || p.lhs || p.rhs || ')') END AS s
         |  FROM e${r - 1} LEFT JOIN p$r p ON true)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS s FROM wt),
       |$enc,
       |nsyms AS (SELECT w,
       |  CAST(len(string_split(trim(replace(s, ')(', ' '), '()'), ' ')) AS BIGINT) AS n_syms
       |  FROM e$rounds)""".stripMargin
  }

  private def bpeEncodeFertilityOracle: String =
    s"""WITH $bpeTrainCtes,
       |$bpeEncodeCtes,
       |stoks AS (SELECT source, $TOKS AS t FROM documents),
       |sw AS (SELECT source, w, count(*) AS cnt
       |       FROM (SELECT source, unnest(t) AS w FROM stoks) q0
       |       WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY source, w)
       |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * n_syms) AS BIGINT) AS n_bpe_tokens,
       |  ${ratio4Sql("sum(cnt * n_syms)", "sum(cnt)")} AS fertility
       |FROM sw JOIN nsyms USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  /** tokens + distinct 3-shingles — mirrors DocDedup.docShingles. */
  private val SH_CTE =
    s"""toks AS (SELECT doc_id, $TOKS AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(t)-2),
       |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
       |  FROM toks WHERE len(t) >= 3
       |)""".stripMargin

  /** MinHash signatures → banded LSH candidate pairs with the hot-bucket
    * cap — mirrors MinHashLSH.nearDupPairsOf at an arbitrary
    * (numSeeds, bandRows) operating point; CTE names carry prefix `p`
    * so the tuning sweep can instantiate several points in one
    * statement. Buckets at or under MaxBucketSize keep exact all-pairs
    * candidacy; oversized buckets emit only the CandWindow rank window
    * in doc_id order (MinHashLSH.CandWindow — the lexical port of the
    * embedding NeighborWindow rule, changed here in lockstep with the
    * Scala side). */
  private def mhCandCte(numSeeds: Int, bandRows: Int, p: String): String = {
    val cap = graft.operators.MinHashLSH.MaxBucketSize
    val cw = graft.operators.MinHashLSH.CandWindow
    s"""${p}mh AS MATERIALIZED (
       |  SELECT doc_id, g.seed, min(${H64("concat_ws(':', CAST(g.seed AS VARCHAR), shingle)")}) AS mh
       |  FROM sh, generate_series(0,${numSeeds - 1}) g(seed) GROUP BY doc_id, g.seed
       |),
       |${p}bands AS (
       |  SELECT doc_id, seed//$bandRows AS band,
       |    ${H64(s"concat_ws('|', CAST(seed//$bandRows AS VARCHAR), string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed))")} AS sig
       |  FROM ${p}mh GROUP BY doc_id, seed//$bandRows
       |),
       |${p}capped AS (
       |  SELECT doc_id, band, sig,
       |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn,
       |    count(*) OVER (PARTITION BY band, sig) AS bsz
       |  FROM ${p}bands
       |),
       |${p}cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM ${p}capped x JOIN ${p}capped y
       |    ON x.band = y.band AND x.sig = y.sig AND y.rn > x.rn
       |   AND y.rn <= CASE WHEN x.bsz <= $cap THEN x.bsz
       |                    ELSE least(x.rn + $cw, x.bsz) END
       |)""".stripMargin
  }

  /** The shipped operating point — every oracle that consumes near-dup
    * candidates shares this instance, so retuning the Scala constants
    * retunes both sides together. */
  private val MH_CAND_CTE = mhCandCte(
    graft.operators.MinHashLSH.NumSeeds, graft.operators.MinHashLSH.BandRows, "")

  /** Winnowing fingerprint CTEs (k-gram window minima at (doc, hash)
    * grain, df cap, shared-count pairs) — mirrors
    * DocDedup.winnowingPairs; `wn`-prefixed names so the chain
    * composes with the shingle/MinHash macros (both claim `toks`).
    * Terminal CTEs: `wfp` (capped fingerprints), `wpairs`. */
  /** Just the fingerprint-selection prefix of [[WINNOW_CTES]]
    * (wtoks → wfp0: distinct per-doc window-min hashes, UNCAPPED) —
    * shared with the exact fp-set join, which needs the raw sets. */
  private val WINNOW_FP_CTES: String = {
    val D = graft.operators.DocDedup
    val wm1 = D.WinnowW - 1
    s"""wtoks AS (SELECT doc_id, $TOKS AS t FROM documents),
       |wpos AS (
       |  SELECT doc_id, CAST(len(t) - ${D.WinnowK - 1} AS BIGINT) AS npos,
       |    CAST(ps.p AS BIGINT) AS p, ${H64("ps.sh")} AS h
       |  FROM (
       |    SELECT doc_id, t, unnest(list_transform(generate_series(1, len(t)-${D.WinnowK - 1}),
       |      i -> {'p': i, 'sh': concat_ws(' ', t[i], t[i+1], t[i+2])})) AS ps
       |    FROM wtoks WHERE len(t) >= ${D.WinnowK}) q),
       |wwin AS (
       |  SELECT doc_id, h,
       |    unnest(generate_series(greatest(1, p - $wm1),
       |      least(p, greatest(npos - $wm1, 1)))) AS j
       |  FROM wpos),
       |wmn AS (SELECT doc_id, j, min(h) AS h FROM wwin GROUP BY 1, 2),
       |wfp0 AS (SELECT DISTINCT doc_id, h FROM wmn)""".stripMargin
  }

  private val WINNOW_CTES: String = {
    val D = graft.operators.DocDedup
    s"""$WINNOW_FP_CTES,
       |wdf AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM wfp0 GROUP BY 1),
       |wfp AS (SELECT wfp0.doc_id, wfp0.h FROM wfp0 JOIN wdf USING (h)
       |        WHERE df <= ${D.MaxFpDf}),
       |wpairs AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM wfp a JOIN wfp b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= ${D.MinSharedFp})""".stripMargin
  }

  /** Gap-session index over `ev` (30-min default) — mirrors
    * EventUsers.sessionIndexed; shared by every session-consuming
    * oracle (sessionize, session_lookup, cooccurrence). */
  private def sessCte(gapUs: Long): String =
    s"""s AS (
       |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |                   OR ts_us - lag(ts_us) OVER w > $gapUs
       |                  THEN 1 ELSE 0 END AS new_sess
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |),
       |s2 AS (
       |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM s
       |)""".stripMargin

  private val SESS_CTE = sessCte(1800L * 1000000L)

  /** Candidate verification: true-Jaccard pairs at τ=0.5 from `cand` +
    * `sh` — mirrors MinHashLSH.verifyCandidates, shared by every
    * oracle that consumes verified near-dup pairs (the SQL twin of the
    * Scala-side shared helper; one definition each side). */
  private def mhPairsCte(p: String): String =
    s"""${p}shared AS (
       |  SELECT c.d1, c.d2, count(*) AS shared
       |  FROM ${p}cand c JOIN sh a ON a.doc_id = c.d1
       |             JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
       |  GROUP BY 1, 2
       |),
       |${p}pairs AS MATERIALIZED (
       |  SELECT d1, d2, shared / (n1.n + n2.n - shared) AS jaccard
       |  FROM ${p}shared JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
       |  WHERE shared / (n1.n + n2.n - shared) >= 0.5
       |)""".stripMargin

  private val MH_PAIRS_CTE =
    s"""n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |${mhPairsCte("")}""".stripMargin

  /** 5-gram contamination CTEs (tokens → hashed shingles → eval/train
    * split → per-doc totals and eval hits) — mirrors
    * Curation.shingleHashesOf + contaminationOf; shared by the report
    * and the apply-step oracle so the two cannot drift. */
  private val CONTAM_CTE =
    s"""toks AS (SELECT doc_id, $TOKS AS t FROM documents),
       |sh5 AS (
       |  SELECT doc_id, ${H64("shingle")} AS sh FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(t)-4),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS shingle
       |    FROM toks WHERE len(t) >= 5)
       |),
       |ev AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % ${graft.operators.Curation.EvalMod} = 0),
       |tr AS (SELECT * FROM sh5 WHERE doc_id % ${graft.operators.Curation.EvalMod} <> 0),
       |n AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
       |h AS (SELECT doc_id, count(*) AS n_contaminated FROM tr
       |      WHERE sh IN (SELECT sh FROM ev) GROUP BY 1)""".stripMargin

  /** Left-fold double dot product — mirrors Similarity.dotSql. */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,64),
       |      k -> CAST($a[k] AS DOUBLE)*CAST($b[k] AS DOUBLE))), (x,y)->x+y)""".stripMargin

  private def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** Signed projection onto deterministic ±1 hyperplane p.p —
    * mirrors Similarity.ProjSql. */
  /** Scale-derived LSH planes-per-band — mirrors
    * Similarity.planesPerBandFor: ppb = max(4, bitLength(⌈N/64⌉ − 1)).
    * floor(log2(m−1))+1 is the bit length; exact cross-engine because
    * C99 log2 is exact on powers of two (the only inputs where a ±1ulp
    * error could flip the floor). */
  private val LSHP_CTE = {
    val t = graft.operators.Similarity.TargetBucket
    s"""lshp AS (
       |  SELECT CASE WHEN m <= 1 THEN ${graft.operators.Similarity.PlanesPerBand}
       |              ELSE greatest(${graft.operators.Similarity.PlanesPerBand},
       |                            CAST(floor(log2(CAST(m - 1 AS DOUBLE))) AS INT) + 1) END AS ppb
       |  FROM (SELECT (count(*) + ${t - 1}) // $t AS m FROM embeddings))""".stripMargin
  }

  /** Plane rows for ALL bands (p ∈ 0..2·ppb−1, band = p // ppb). */
  private val LSH_PL_CTE =
    "pl AS (SELECT ppb, unnest(generate_series(0, 2*ppb - 1)) AS p FROM lshp)"

  /** Plane rows for band 0 only (p ∈ 0..ppb−1). */
  private val LSH_PL0_CTE =
    "pl0 AS (SELECT ppb, unnest(generate_series(0, ppb - 1)) AS p FROM lshp)"

  private val DUCK_PROJ =
    s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,64),
       |      j -> CAST(e[j] AS DOUBLE) *
       |           ((${H64("concat('pl:', CAST(p.p AS VARCHAR), ':', CAST(j AS VARCHAR))")} % 2)*2 - 1))),
       |    (x,y)->x+y)""".stripMargin

  /** Small-world graph edge build — mirrors Similarity.graphEdgesOf;
    * ONE definition shared by the `ann_graph_topk` walk and the
    * `ann_graph_degree_stats` health panel so the two oracles can
    * never drift. Expects a CTE `v(vec_id, e)` in scope; exposes
    * `edges(src, dst)`. */
  private lazy val GRAPH_EDGE_CTES: String = {
    val m = graft.operators.Similarity.GraphM
    s"""$LSHP_CTE,
       |$LSH_PL_CTE,
       |bits AS (
       |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
       |  FROM v, pl p
       |),
       |buckets AS (
       |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM bits GROUP BY vec_id, p//ppb
       |),
       |mates AS (
       |  SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
       |),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
       |ord AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM v),
       |ring AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst FROM ord a, nn, ord b
       |  WHERE b.rn = a.rn % nn.n + 1 AND a.vec_id <> b.vec_id),
       |lng AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst FROM ord a, nn, ord b
       |  WHERE b.rn = (${H64("concat('ge:', CAST(a.vec_id AS VARCHAR))")} % nn.n) + 1
       |    AND a.vec_id <> b.vec_id),
       |cand AS (SELECT DISTINCT src, dst FROM (
       |  SELECT * FROM mates UNION ALL SELECT * FROM ring UNION ALL SELECT * FROM lng)),
       |scored AS (
       |  SELECT c.src, c.dst, ${duckCos("a.e", "b.e")} AS cos
       |  FROM cand c JOIN v a ON a.vec_id = c.src JOIN v b ON b.vec_id = c.dst),
       |sel AS (SELECT src, dst FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM scored) WHERE rnk <= $m),
       |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM sel UNION ALL SELECT dst AS src, src AS dst FROM sel))""".stripMargin
  }

  /** SQ8 codebook + code table + dequantized corpus — mirrors
    * Similarity.sqStats/sqEncode/sqDecode; ONE definition shared by
    * `ann_sq_topk`, `embeddings_sq_error` and the appended-recall
    * saved_sq replay. Expects a CTE `v(vec_id, e)` in scope; exposes
    * `sqst(mn, mx)` (1-based lists), `sqx(vec_id, code)` and
    * `sqh(vec_id, xh)`. `statsSrc` selects which corpus TRAINS the
    * per-dim [mn,mx] (the appended-recall oracle trains on the build
    * half and applies frozen to the full corpus). */
  private def sqCtes(statsSrc: String = "v"): String =
    s"""sqst AS (
       |  SELECT list(mn ORDER BY j) AS mn, list(mx ORDER BY j) AS mx FROM (
       |    SELECT j, min(CAST(e[j] AS DOUBLE)) AS mn, max(CAST(e[j] AS DOUBLE)) AS mx
       |    FROM $statsSrc, (SELECT unnest(generate_series(1, 64)) AS j) s GROUP BY j)),
       |sqx AS (
       |  SELECT vec_id, list_transform(generate_series(1, 64), j ->
       |    CASE WHEN st.mx[j] = st.mn[j] THEN 0
       |         ELSE least(255, greatest(0,
       |           CAST(round((CAST(e[j] AS DOUBLE) - st.mn[j]) * 255.0 /
       |                      (st.mx[j] - st.mn[j])) AS INT))) END) AS code
       |  FROM v, sqst st),
       |sqh AS (
       |  SELECT vec_id, list_transform(generate_series(1, 64), j ->
       |    CASE WHEN st.mx[j] = st.mn[j] THEN st.mn[j]
       |         ELSE st.mn[j] + CAST(code[j] AS DOUBLE) * (st.mx[j] - st.mn[j]) / 255.0
       |         END) AS xh
       |  FROM sqx, sqst st)""".stripMargin

  /** cosine(float vec a, double centroid b) — mirrors Similarity.cosD. */
  private def duckCosD(a: String, b: String): String =
    s"""(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,64), i -> CAST($a[i] AS DOUBLE) * $b[i])), (x,y)->x+y)
       | / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,64), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))), (x,y)->x+y))
       |  * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,64), i -> $b[i] * $b[i])), (x,y)->x+y))))""".stripMargin

  /** One Lloyd assignment pass — mirrors Similarity.ivfKmeansTopK.assign.
    * `src` selects which corpus assigns (training runs on the build
    * half in the appended-recall oracle; the final pass on the full
    * corpus). */
  private def kmAssignCte(cent: String, out: String,
                          src: String = "v"): String =
    s"""$out AS (
       |  SELECT vec_id, c_id AS cell, e, rn FROM (
       |    SELECT x.vec_id, c.c_id, x.e,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${duckCosD("x.e", "c.ce")} DESC, c.c_id) AS rn
       |    FROM $src x, $cent c)
       |)""".stripMargin

  /** One Lloyd update pass: exact DECIMAL component sums → double mean
    * — order-independent, so it replays Spark's distributed aggregation
    * bit-for-bit. */
  // component lift = ROUND(x·10⁶) integer micro-units (the money-suite
  // primitive): a fixed-scale DECIMAL cast ties half-even in DuckDB but
  // HALF_UP in Spark on floats whose expansion ends in 5 past the scale
  private def kmUpdateCte(assign: String, out: String): String =
    s"""$out AS (
       |  SELECT cell AS c_id, list(m ORDER BY pos) AS ce FROM (
       |    SELECT cell, pos,
       |      CAST(SUM(x) AS DOUBLE)/CAST(COUNT(*) * 1000000 AS DOUBLE) AS m FROM (
       |      SELECT a.cell, g.i AS pos,
       |        CAST(ROUND(CAST(a.e[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
       |      FROM $assign a, generate_series(1,64) g(i) WHERE a.rn = 1)
       |    GROUP BY cell, pos)
       |  GROUP BY cell
       |)""".stripMargin

  /** Shared PQ oracle fragments — per-subspace codebook training, the
    * wide code table `x`, the per-query LUT list `lutw`, centroid-norm
    * list `nns`, query norms `qn` — composed by ann_pq_topk (exhaustive
    * ADC) and ann_ivfpq_topk (coarse-cell-pruned ADC). Mirrors
    * Similarity.pqCodebooks/pqEncode/pqLut/adcScore; expects a CTE `v`
    * (vec_id, e) in scope. */
  private object PqOracleCtes {
    import graft.operators.Similarity.{PqCodebook, PqSubDim, PqSubspaces, NumQueries}
    private def dot16(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,$PqSubDim), i -> CAST($a[i] AS DOUBLE) * $b[i])), (x,y)->x+y)"
    private val subCtes = (0 until PqSubspaces).map { s =>
      val o = s * PqSubDim
      def cosd(a: String, b: String): String =
        s"""(${dot16(a, b)} / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,$PqSubDim), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))), (x,y)->x+y))
           |  * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,$PqSubDim), i -> $b[i] * $b[i])), (x,y)->x+y))))""".stripMargin
      s"""sv$s AS (SELECT vec_id, list_slice(e, ${o + 1}, ${o + PqSubDim}) AS e FROM v),
         |c0$s AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |         FROM sv$s WHERE vec_id < $PqCodebook),
         |a1$s AS (
         |  SELECT x.vec_id, c.c_id AS cell, x.e,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${cosd("x.e", "c.ce")} DESC, c.c_id) AS rn
         |  FROM sv$s x, c0$s c),
         |c1$s AS (
         |  SELECT cell AS c_id, list(m ORDER BY pos) AS ce FROM (
         |    SELECT cell, pos,
         |      CAST(SUM(xx) AS DOUBLE)/CAST(COUNT(*) * 1000000 AS DOUBLE) AS m FROM (
         |      SELECT a.cell, g.i AS pos,
         |        CAST(ROUND(CAST(a.e[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xx
         |      FROM a1$s a, generate_series(1,$PqSubDim) g(i) WHERE a.rn = 1)
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |af$s AS (
         |  SELECT x.vec_id, c.c_id AS cell,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${cosd("x.e", "c.ce")} DESC, c.c_id) AS rn
         |  FROM sv$s x, c1$s c),
         |cd$s AS (SELECT vec_id, cell AS code FROM af$s WHERE rn = 1),
         |nn$s AS (SELECT c_id AS code,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(ce, x -> x*x)), (x,y)->x+y) AS nn
         |  FROM c1$s),
         |lut$s AS (
         |  SELECT q.vec_id AS q_id, c.c_id AS code, ${dot16("q.e", "c.ce")} AS d
         |  FROM sv$s q, c1$s c WHERE q.vec_id < $NumQueries)""".stripMargin
    }.mkString(",\n")
    private val cdJoin = (1 until PqSubspaces)
      .map(s => s"JOIN cd$s USING (vec_id)").mkString(" ")
    private val wide = (0 until PqSubspaces).map(s => s"cd$s.code AS code$s").mkString(", ")
    // LUT and centroid norms collapse into ONE ordered list per query
    // (indexed by sub·k + code) — scored by list extraction, so the
    // optimizer never sees an n-way LUT join to reorder (a lut×lut
    // cross product on q_id is 16^8 rows — the join-reorder trap)
    private val lutUnion = (0 until PqSubspaces)
      .map(s => s"SELECT $s AS sub, q_id, code, d FROM lut$s")
      .mkString(" UNION ALL ")
    private val nnUnion = (0 until PqSubspaces)
      .map(s => s"SELECT $s AS sub, code, nn FROM nn$s")
      .mkString(" UNION ALL ")
    private def dsAt(s: Int) = s"w.ds[${s * PqCodebook} + x.code$s + 1]"
    private def nsAt(s: Int) = s"nns.ns[${s * PqCodebook} + x.code$s + 1]"
    val adot: String = (0 until PqSubspaces).map(dsAt).reduceLeft((a, b) => s"($a + $b)")
    val xn: String = (0 until PqSubspaces).map(nsAt).reduceLeft((a, b) => s"($a + $b)")
    /** Per-subspace squared reconstruction error in 1e-6 micro-units —
      * mirrors Similarity.pqErrorStats' fixed left-to-right fold. */
    lazy val errCtes: String = {
      val per = (0 until PqSubspaces).map { s =>
        s"""er$s AS (
           |  SELECT CAST($s AS BIGINT) AS sub, cd$s.code,
           |    CAST(ROUND(list_reduce(list_prepend(0.0::DOUBLE,
           |      list_transform(generate_series(1,$PqSubDim),
           |        i -> (CAST(sv.e[i] AS DOUBLE) - c.ce[i]) * (CAST(sv.e[i] AS DOUBLE) - c.ce[i]))),
           |      (x,y)->x+y) * 1000000.0) AS BIGINT) AS eu
           |  FROM sv$s sv JOIN cd$s ON cd$s.vec_id = sv.vec_id
           |       JOIN c1$s c ON c.c_id = cd$s.code)""".stripMargin
      }.mkString(",\n")
      s"""$per,
         |errs AS (${(0 until PqSubspaces)
             .map(s => s"SELECT sub, code, eu FROM er$s")
             .mkString(" UNION ALL ")})""".stripMargin
    }
    lazy val ctes: String =
      s"""$subCtes,
         |x AS (SELECT cd0.vec_id, $wide FROM cd0 $cdJoin),
         |qn AS (SELECT vec_id AS q_id, sqrt(${duckDot("e", "e")}) AS qn
         |       FROM v WHERE vec_id < $NumQueries),
         |grid AS (
         |  SELECT s.s AS sub, c.c AS code
         |  FROM generate_series(0, ${PqSubspaces - 1}) s(s),
         |       generate_series(0, ${PqCodebook - 1}) c(c)),
         |-- densified over the full (sub, code) grid: a Lloyd update can
         |-- leave a cell empty, and a gap in the list would shift every
         |-- later position's index (the coalesced 0 is never looked up —
         |-- no vector carries an empty cell's code)
         |lutw AS (
         |  SELECT q_id, list(coalesce(d, 0.0) ORDER BY sub * $PqCodebook + code) AS ds
         |  FROM (SELECT qq.q_id, g.sub, g.code, l.d
         |        FROM grid g CROSS JOIN (SELECT DISTINCT q_id FROM ($lutUnion)) qq
         |        LEFT JOIN ($lutUnion) l
         |          ON l.sub = g.sub AND l.code = g.code AND l.q_id = qq.q_id)
         |  GROUP BY q_id),
         |nns AS (
         |  SELECT list(coalesce(nn, 0.0) ORDER BY sub * $PqCodebook + code) AS ns
         |  FROM (SELECT g.sub, g.code, n.nn
         |        FROM grid g LEFT JOIN ($nnUnion) n
         |          ON n.sub = g.sub AND n.code = g.code))""".stripMargin
  }

  /** DuckDB twin of TextAnalysis.WsClass — the explicit whitespace
    * class (Java `\\s` set) shared by every single-class regex oracle;
    * RE2's `\\s` lacks U+000B, so a bare `\\s` is not cross-engine. */
  private val WS = s"[${graft.operators.TextAnalysis.WsClass}]"

  /** Scale-safe transitive-closure oracle: unrolled min-label
    * propagation + pointer jumping over a SYMMETRIC `edges($a, $b)`
    * CTE already in scope; emits chained CTEs ending in
    * `comp($node, $label)` — labels converge to each component's min
    * node id, the same fixpoint the engine's O(diameter) propagation
    * (MinHashLSH.components) computes.
    *
    * WHY not `WITH RECURSIVE reach`: reach materializes every
    * reachable PAIR — Σ size² rows, and each iteration's join is
    * |edges| × avg-component-size. On dense components (embedding
    * clusters: a 14k-doc component at native sf1) that is tens of
    * billions of intermediate rows — the oracle dies while the engine
    * (linear per round) is fine. Label propagation is O(rounds·|edges|).
    *
    * Each round = one propagate (min over neighbors' labels) + one
    * pointer jump (lab ← lab(lab), sound because labels are always
    * node ids of the endpoint set). [[LabelPropRounds]] rounds cover
    * diameter ≥ 2^rounds; an under-converged closure FAILS the compare
    * loudly (labels ≠ engine fixpoint), never passes silently. 12
    * rounds (distance ~2^12) bound the diameter of every graph this
    * suite builds — a near-threshold LSH component at native sf1 spans
    * 14k nodes through chain-like bridges, where 6 rounds measurably
    * under-converged; each extra round costs one O(|edges|) join. */
  private val LabelPropRounds = 12
  private def labelPropCtes(node: String = "doc_id",
                            label: String = "component_id",
                            a: String = "d1", b: String = "d2"): String = {
    val sb = new StringBuilder
    sb.append(s"lp0 AS MATERIALIZED (SELECT DISTINCT $a AS node, $a AS lab FROM edges)")
    var prev = "lp0"
    for (k <- 1 to LabelPropRounds) {
      sb.append(s""",
         |pp$k AS MATERIALIZED (
         |  SELECT n.node, least(n.lab, coalesce(m.ml, n.lab)) AS lab
         |  FROM $prev n LEFT JOIN (
         |    SELECT e.$a AS node, min(l.lab) AS ml
         |    FROM edges e JOIN $prev l ON l.node = e.$b GROUP BY 1) m
         |  ON m.node = n.node),
         |lp$k AS MATERIALIZED (
         |  SELECT x.node, y.lab FROM pp$k x JOIN pp$k y ON y.node = x.lab)""".stripMargin)
      prev = s"lp$k"
    }
    sb.append(s""",
       |comp AS (SELECT node AS $node, lab AS $label FROM $prev)""".stripMargin)
    sb.toString
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") as unrolled
    * materialized CTEs — the closure for graphs whose DIAMETER grows
    * with the corpus (sorted-neighborhood chains), where
    * [[labelPropCtes]]'s per-round one-hop propagation would need
    * O(diameter) rounds (measured: the sf0.01 entity graph still had 5
    * components after 40 label-prop rounds; star contraction closes it
    * in 7). Each round rewrites the O(E) canonical edge list; at
    * fixpoint every component is a star rooted at its min node and
    * further rounds are no-ops, so the fixed unroll is safe margin,
    * not a semantic knob. Consumes a canonical edge CTE `ee (d1, d2)`
    * and emits `comp (doc_id, component_id)` over all edge-touched
    * nodes. */
  private val StarRounds = 12
  private def starContractionCtes(): String = {
    val sb = new StringBuilder
    sb.append(
      "se0 AS MATERIALIZED (SELECT DISTINCT least(d1, d2) AS a, " +
        "greatest(d1, d2) AS b FROM ee WHERE d1 <> d2)")
    var prev = "se0"
    for (k <- 1 to StarRounds) {
      sb.append(s""",
         |ssym$k AS (SELECT a AS u, b AS v FROM $prev
         |           UNION ALL SELECT b, a FROM $prev),
         |smn$k AS (SELECT u, least(min(v), u) AS m FROM ssym$k GROUP BY u),
         |sls$k AS MATERIALIZED (
         |  SELECT DISTINCT least(m, v) AS a, greatest(m, v) AS b
         |  FROM ssym$k JOIN smn$k USING (u)
         |  WHERE v > u AND m <> v),
         |ssym2_$k AS (SELECT a AS u, b AS v FROM sls$k
         |             UNION ALL SELECT b, a FROM sls$k),
         |sle$k AS (SELECT u, v FROM ssym2_$k WHERE v < u),
         |smn2_$k AS (SELECT u, min(v) AS m FROM sle$k GROUP BY u),
         |sss$k AS MATERIALIZED (
         |  SELECT DISTINCT m AS a, x AS b FROM (
         |    SELECT l.m, q.v AS x FROM sle$k q JOIN smn2_$k l USING (u)
         |    UNION ALL
         |    SELECT m, u AS x FROM smn2_$k) WHERE m <> x)""".stripMargin)
      prev = s"sss$k"
    }
    sb.append(s""",
       |comp AS (SELECT b AS doc_id, a AS component_id FROM $prev
       |         UNION SELECT DISTINCT a, a FROM $prev)""".stripMargin)
    sb.toString
  }

  private def moneySum(exprSql: String): String =
    s"CAST(ROUND(SUM($exprSql),2) AS DOUBLE)"

  /** DuckDB twin of graft.functions.Hashing.halfUpDiv: ROUND(num/den)
    * HALF_UP on the exact rational in integer arithmetic. */
  private def halfUpSql(num: String, den: String): String =
    s"((($num) + ($den) // 2) // ($den))"

  /** The t-closeness EMD chain (cells → global cumulative → per-class
    * cumulative → ppm diff → tfin(event_type, day, k, n_bands, t_ppm))
    * — mirrors Privacy.tClosenessOf; shared by the standalone gate and
    * the composed release report so the two can never drift. Expects an
    * `ev` CTE in scope. */
  private def TCLOSE_CTES: String = {
    val P = graft.operators.Privacy
    s"""cells AS (SELECT event_type, ts_us // ${EventSeries.DayUs} AS day,
       |            CAST(ROUND(value*100) AS BIGINT) // ${P.SpendBandCents} AS band,
       |            CAST(count(*) AS BIGINT) AS c
       |          FROM ev GROUP BY 1, 2, 3),
       |g AS (SELECT band, CAST(sum(c) AS BIGINT) AS gb FROM cells GROUP BY 1),
       |gc AS (SELECT band, CAST(sum(gb) OVER (ORDER BY band) AS BIGINT) AS cum_g
       |       FROM g),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cells),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bands FROM g),
       |cls AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS k
       |        FROM cells GROUP BY 1, 2),
       |grid AS (SELECT cls.event_type, cls.day, cls.k, gc.band, gc.cum_g,
       |           coalesce(cells.c, 0) AS c
       |         FROM cls CROSS JOIN gc
       |         LEFT JOIN cells ON cells.event_type = cls.event_type
       |           AND cells.day = cls.day AND cells.band = gc.band),
       |cum AS (SELECT *, CAST(sum(c) OVER (PARTITION BY event_type, day
       |          ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS BIGINT) AS cum_c FROM grid),
       |df AS (SELECT event_type, day, k,
       |         abs(${halfUpSql("cum_c * 1000000", "k")} -
       |             ${halfUpSql("cum_g * 1000000", "n_total")}) AS diff_ppm
       |       FROM cum CROSS JOIN tot),
       |em AS (SELECT event_type, day, k, CAST(sum(diff_ppm) AS BIGINT) AS emd_sum
       |       FROM df GROUP BY 1, 2, 3),
       |tfin AS (SELECT event_type, day, k, n_bands,
       |           CAST(${halfUpSql("emd_sum", "greatest(n_bands - 1, 1)")}
       |             AS BIGINT) AS t_ppm
       |         FROM em CROSS JOIN nb)""".stripMargin
  }

  /** The k/l/t release-report oracle — mirrors Privacy.releaseReport;
    * a standalone def so the report query AND the apply-step extract
    * reuse the identical SQL (verdicts cannot drift between them). */
  private def RELEASE_REPORT_SQL: String = {
    val P = graft.operators.Privacy
    s"""WITH ev AS ($EV),
       |$TCLOSE_CTES,
       |ll AS (SELECT event_type, ts_us // ${EventSeries.DayUs} AS day,
       |         CAST(count(DISTINCT user_id) AS BIGINT) AS l
       |       FROM ev GROUP BY 1, 2)
       |SELECT tfin.event_type AS event_type, tfin.day AS day, k, l, t_ppm,
       |  k >= ${P.GenKThreshold} AS pass_k,
       |  l >= ${P.ReleaseL} AS pass_l,
       |  t_ppm <= ${P.ReleaseTppm} AS pass_t,
       |  (k >= ${P.GenKThreshold} AND l >= ${P.ReleaseL}
       |   AND t_ppm <= ${P.ReleaseTppm}) AS releasable
       |FROM tfin JOIN ll ON ll.event_type = tfin.event_type
       |  AND ll.day = tfin.day
       |ORDER BY event_type, day""".stripMargin
  }

  /** Shared market-basket CTE stack (items → n/supp → capped pairs →
    * the lift-annotated survivor frame `e`) — one definition, two
    * consumers (orders_basket_pairs and orders_assoc_rules), so the
    * pair grain and the rule grain can never drift. */
  private def BASKET_CTES: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM items),
       |supp AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
       |pairs AS MATERIALIZED (
       |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS supp
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
       |f AS (SELECT * FROM pairs
       |      WHERE supp >= ${graft.operators.Commerce.BasketMinSupport}),
       |e AS (
       |  SELECT p1, p2, supp, sa.s AS s1, sb.s AS s2,
       |    ${ratio4Sql("supp * n.n_orders", "sa.s * sb.s")} AS lift4
       |  FROM f JOIN supp sa ON sa.p = f.p1 JOIN supp sb ON sb.p = f.p2
       |  CROSS JOIN n)""".stripMargin

  /** DuckDB twin of graft.functions.Hashing.ratio4: ROUND(num/den, 4)
    * computed HALF_UP on the exact rational in integer arithmetic —
    * never ROUND over a double quotient, whose engine-specific boundary
    * rounding broke events_gap_stats in r3. */
  private def ratio4Sql(num: String, den: String): String =
    s"${halfUpSql(s"($num) * 10000", den)} / 10000.0"

  /** Normalized-prefix / normalized-suffix blocking keys — mirror
    * Blocking.snKeyPrefix / snKeySuffix. */
  private def SN_KEY_PREFIX: String =
    s"substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, ${graft.operators.Blocking.SnKeyLen})"
  private def SN_KEY_SUFFIX: String =
    s"substr(reverse(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, ${graft.operators.Blocking.SnKeyLen})"

  /** Sorted-neighborhood chain under an arbitrary blocking key with a
    * CTE-name prefix — mirrors Blocking.snCandidatesKeyed + the accept
    * gate; shared (via [[SN_CTES]]) by the standalone query, the SN×LSH
    * agreement panel, the linkage tier and the multi-key panel so none
    * can drift. Exposes `<p>j` (unfiltered with inter/uni) and
    * `<p>acc` (accepted pairs). */
  private def snCtesKeyed(p: String, keyExpr: String): String = {
    val w = graft.operators.Blocking.SnWindow
    val tau = graft.operators.Blocking.SnTau
    s"""${p}k AS (
       |  SELECT doc_id, $keyExpr AS bkey
       |  FROM documents),
       |${p}r AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bkey, doc_id) AS BIGINT) AS rn
       |        FROM ${p}k),
       |${p}t AS (SELECT doc_id, list_distinct($TOKS) AS ts FROM documents),
       |${p}pr AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, b.rn - a.rn AS gap
       |  FROM ${p}r a JOIN ${p}r b ON b.rn - a.rn BETWEEN 1 AND ${w - 1}),
       |${p}j AS (
       |  SELECT d1, d2, gap,
       |    CAST(len(list_intersect(t1.ts, t2.ts)) AS BIGINT) AS inter,
       |    CAST(len(t1.ts) + len(t2.ts) - len(list_intersect(t1.ts, t2.ts)) AS BIGINT) AS uni
       |  FROM ${p}pr JOIN ${p}t t1 ON t1.doc_id = ${p}pr.d1 JOIN ${p}t t2 ON t2.doc_id = ${p}pr.d2),
       |${p}acc AS (
       |  SELECT d1, d2, gap, jacc4 FROM (
       |    SELECT d1, d2, gap, ${ratio4Sql("inter", "greatest(uni, 1)")} AS jacc4 FROM ${p}j)
       |  WHERE jacc4 >= $tau)""".stripMargin
  }

  /** The default (prefix-keyed) SN chain: `snj`/`snacc`. */
  private def SN_CTES: String = snCtesKeyed("sn", SN_KEY_PREFIX)

  /** Binary-grain SimHash chain (payload hex → sampled byte shingles →
    * 64-bit simhash → capped byte bands → candidates with both
    * signatures) — mirrors Multimodal.nearDupPairsOf; shared by the
    * phash dedup query and its funnel. Terminal CTEs: `simh`, `bands`
    * (capped), `cand(d1, s1, d2, s2)`. */
  private def PHASH_CTES: String = {
    val w = graft.operators.Multimodal.ShingleBytes
    s"""p AS (SELECT doc_id, hex(encode(text)) AS hx,
       |        octet_length(encode(text)) AS nb FROM documents),
       |sh AS (
       |  SELECT doc_id, u AS shingle FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, nb - ${w - 1}),
       |      i -> substring(hx, 2 * (i - 1) + 1, ${2 * w}))) AS u
       |    FROM p WHERE nb >= $w) q
       |  WHERE ${H64("u")} % ${graft.operators.Multimodal.SampleMod} = 0
       |),
       |th AS (SELECT doc_id, ${H64("shingle")} AS h FROM sh),
       |bits AS (
       |  SELECT doc_id, b.b, SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, generate_series(0,63) b(b) GROUP BY doc_id, b.b
       |),
       |simh AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id
       |),
       |bands AS (
       |  SELECT doc_id, simhash, band, byte FROM (
       |    SELECT doc_id, simhash, g.g AS band, (simhash >> (8*g.g)) & 255 AS byte,
       |      count(*) OVER (PARTITION BY g.g, (simhash >> (8*g.g)) & 255) AS bsz
       |    FROM simh, generate_series(0,7) g(g))
       |  WHERE bsz <= ${graft.operators.MinHashLSH.MaxBucketSize}
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, x.simhash AS s1, y.doc_id AS d2, y.simhash AS s2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id
       |)""".stripMargin
  }

  /** Fellegi–Sunter calibration chain (base/sig/ag/nn/ap/ma/fin) —
    * mirrors Linkage.fsWeights; shared by the weights panel and the
    * pair scorer so the two can never drift. Expects the MH chain
    * (sh/cand/pairs) in scope for the match class. */
  private def FS_CTES: String = {
    val L = graft.operators.Linkage
    s"""base AS (SELECT doc_id, source, lang,
       |    CAST(n_chars // ${L.LenBandChars} AS VARCHAR) AS len_band,
       |    lower(substr(trim(text), 1, ${L.PrefixChars})) AS prefix
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, 'same_source' AS signal, source AS v FROM base
       |  UNION ALL SELECT doc_id, 'same_lang', lang FROM base
       |  UNION ALL SELECT doc_id, 'same_len_band', len_band FROM base
       |  UNION ALL SELECT doc_id, 'same_prefix', prefix FROM base),
       |ag AS (SELECT signal, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS all_agree
       |       FROM (SELECT signal, v, CAST(count(*) AS BIGINT) AS c
       |             FROM sig GROUP BY 1, 2)
       |       GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |ap AS (SELECT CAST(n * (n - 1) // 2 AS BIGINT) AS all_pairs FROM nn),
       |ma AS (SELECT a.signal AS signal, CAST(count(*) AS BIGINT) AS match_pairs,
       |         CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT)
       |           AS match_agree
       |       FROM pairs p JOIN sig a ON a.doc_id = p.d1
       |                    JOIN sig b ON b.doc_id = p.d2 AND b.signal = a.signal
       |       GROUP BY 1),
       |fin AS (
       |  SELECT signal, match_pairs, match_agree,
       |    CAST(${halfUpSql("match_agree * 1000000", "greatest(match_pairs, 1)")}
       |      AS BIGINT) AS m_ppm,
       |    all_pairs - match_pairs AS nonmatch_pairs,
       |    all_agree - match_agree AS nonmatch_agree,
       |    CAST(${halfUpSql("(all_agree - match_agree) * 1000000",
                             "greatest(all_pairs - match_pairs, 1)")}
       |      AS BIGINT) AS u_ppm
       |  FROM ma JOIN ag USING (signal) CROSS JOIN ap)""".stripMargin
  }

  /** DuckDB twin of TextAnalysis.qualityKeyCol (exact int64 quality
    * key, 1e-4 units) — shared by every quality-scoring oracle. */
  private def qKeySql(nToks: String, nStop: String, lenNoWs: String): String =
    s"""(LEAST(($nToks) * 40, 4000)
       |      + (4000 - ${halfUpSql(s"($nStop) * 4000", nToks)})
       |      + LEAST(${halfUpSql(s"($lenNoWs) * 250", nToks)}, 2000))""".stripMargin
  private val DISC_PRICE =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1.0 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"

  /** Whitened-hyperplane LSH top-k oracle — mirrors
    * Similarity.whitenedLshTopK: the engine's OWN driver-computed
    * (μ, W) (Spectral.whitenParams — the identical doubles the plan
    * embeds via typedlit) printed as SQL literals (Double.toString
    * round-trips; DuckDB parses shortest-repr decimals back to the
    * same bits), then the projection replayed with the exact engine
    * fold order: u = round(x·1000), w_r = Σ_c W[r][c]·(u_c − μ_c)
    * left-to-right, plane projection Σ_j ±1(p,j)·w_j left-to-right.
    * Candidates come from the whitened band-0 bucket; RANKING is
    * exact original-space cosine (what makes the recall-report
    * comparison apples-to-apples). */
  private def whitenedTopkSql(spark: org.apache.spark.sql.SparkSession,
                              dir: String): String = {
    val (mu, w) = graft.operators.Spectral.whitenParams(spark, dir)
    s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
       |$LSHP_CTE,
       |$LSH_PL0_CTE,
       |${whitenedBucketCtes(mu, w, "wb0w")},
       |pw AS (
       |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
       |  FROM wb0w q JOIN wb0w b ON q.bucket = b.bucket AND b.vec_id <> q.vec_id
       |  JOIN v qv ON qv.vec_id = q.vec_id JOIN v bv ON bv.vec_id = b.vec_id
       |  WHERE q.vec_id < ${graft.operators.Similarity.NumQueries}
       |)
       |SELECT q_id, rank, vec_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM pw
       |) WHERE rank <= ${graft.operators.Similarity.TopK} ORDER BY q_id, rank"""
      .stripMargin
  }

  /** Whitened band-0 bucket CTE chain (wmu → wv → wbits → `<out>`)
    * from explicit driver-computed (μ, W) literals; expects `v` and
    * `pl0` in scope. Shared by the standalone whitened query and the
    * appended-recall replay so the projection replay can never drift:
    * u = round(x·1000), w_r = Σ_c W[r][c]·(u_c − μ_c) left-to-right,
    * plane projection Σ_j ±1(p,j)·w_j left-to-right — the engine's
    * exact fold order. */
  private def whitenedBucketCtes(mu: Array[Double], w: Array[Array[Double]],
                                 out: String): String = {
    def lit(x: Double): String = {
      require(!x.isNaN && !x.isInfinite, s"non-finite whitening coefficient $x")
      x.toString
    }
    val muL = mu.map(lit).mkString("[", ",", "]")
    val wL = w.map(_.map(lit).mkString("[", ",", "]")).mkString("[", ",", "]")
    val d = graft.operators.Similarity.Dim
    s"""wmu AS (SELECT $muL::DOUBLE[] AS mu, $wL::DOUBLE[][] AS wm),
       |wv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(generate_series(1, $d), r ->
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(generate_series(1, $d), c ->
       |        wm[r][c] * (ROUND(CAST(e[c] AS DOUBLE) * 1000.0) - mu[c]))),
       |      (x, y) -> x + y)) AS wvec
       |  FROM v, wmu),
       |wbits AS (
       |  SELECT vec_id, p.p, p.ppb,
       |    CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(generate_series(1, $d), j -> wvec[j] *
       |        ((${H64("concat('pl:', CAST(p.p AS VARCHAR), ':', CAST(j AS VARCHAR))")} % 2)*2 - 1))),
       |      (x, y) -> x + y) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM wv, pl0 p),
       |$out AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM wbits GROUP BY vec_id)""".stripMargin
  }

  // ---- core dedup -------------------------------------------------------

  /** The reference's first-occurrence dedup over the events stream:
    * keep rule, TTL chain, warm-up and its counters. */
  private def coreDedup: Seq[Decl] = Seq(
    decl("dedup_first", (s, d) => Dedup.firstOccurrence(Dedup.hashedStream(s, d)))(
      s"""WITH $DUP_CTE, ${hashedCte(CANON_K)}
         |SELECT $OUT_COLS FROM hashed
         |QUALIFY row_number() OVER (PARTITION BY digest ORDER BY ts_us, event_id) = 1
         |ORDER BY event_id""".stripMargin),

    decl("dedup_ignore_props",
      (s, d) => Dedup.firstOccurrence(Dedup.hashedStream(s, d, ignored = Seq("k"))))(
      s"""WITH $DUP_CTE, ${hashedCte("''")}
         |SELECT $OUT_COLS FROM hashed
         |QUALIFY row_number() OVER (PARTITION BY digest ORDER BY ts_us, event_id) = 1
         |ORDER BY event_id""".stripMargin),

    decl("dedup_tumbling", (s, d) => Dedup.tumbling(Dedup.hashedStream(s, d)))(
      s"""WITH $DUP_CTE, ${hashedCte(CANON_K)}
         |SELECT $OUT_COLS, ts_us // 3600000000 AS win FROM hashed
         |QUALIFY row_number() OVER (PARTITION BY digest, ts_us // 3600000000 ORDER BY ts_us, event_id) = 1
         |ORDER BY event_id""".stripMargin),

    // xxhash64 fast path. The digest is an implementation detail of the
    // SAME identity equivalence classes, so the exported surface is the
    // keeper rows only — which makes the query fully oracle-checkable:
    // the keeper set must equal dedup_first's (DuckDB replays the md5
    // formulation; hash-equal absent 60/64-bit collisions, which the
    // reference itself deems sufficient, deduplication.ts:66-72).
    decl("dedup_first_fast", (s, d) =>
      Dedup.firstOccurrence(Dedup.hashedStream(s, d, hasher = graft.functions.Hashing.fast64))
        .drop("digest"))(
      s"""WITH $DUP_CTE, ${hashedCte(CANON_K)}
         |SELECT event_id, ts_us, user_id, event_type, value, props FROM hashed
         |QUALIFY row_number() OVER (PARTITION BY digest ORDER BY ts_us, event_id) = 1
         |ORDER BY event_id""".stripMargin),

    // Exact ObliviousSet TTL-chain semantics: per digest, keep the first
    // row then greedily the next row ≥ lastKept + window. The oracle walks
    // the same chain with a recursive CTE (one LATERAL step per kept row).
    decl("dedup_chain", (s, d) => Dedup.chainNative(Dedup.hashedStream(s, d)))(
      s"""WITH RECURSIVE $DUP_CTE, ${hashedCte(CANON_K)},
         |chain(digest, ts_us) AS (
         |  SELECT digest, min(ts_us) FROM hashed GROUP BY digest
         |  UNION ALL
         |  SELECT c.digest, nxt.ts_us FROM chain c
         |  JOIN LATERAL (
         |    SELECT min(h.ts_us) AS ts_us FROM hashed h
         |    WHERE h.digest = c.digest AND h.ts_us >= c.ts_us + 3600000000
         |  ) nxt ON nxt.ts_us IS NOT NULL
         |)
         |SELECT h.event_id, h.ts_us, h.user_id, h.event_type, h.value, h.props, h.digest
         |FROM hashed h JOIN chain c ON h.digest = c.digest AND h.ts_us = c.ts_us
         |QUALIFY row_number() OVER (PARTITION BY h.digest, h.ts_us ORDER BY h.event_id) = 1
         |ORDER BY event_id""".stripMargin),

    // Warm-up from prior OUTPUT (cacheBuilding.ts buildUpCache): a digest
    // is warmed iff its first forwarded occurrence (= first pre-cutoff
    // row) falls inside the cache window; keep the first fresh row of
    // every un-warmed digest.
    decl("dedup_bootstrap", (s, d) => Dedup.bootstrap(Dedup.hashedStream(s, d)))(
      s"""WITH $DUP_CTE, ${hashedCte(CANON_K)},
         |x AS (
         |  SELECT *,
         |    SUM(CASE WHEN ts_us < 1704153600000000 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY digest) AS n_pre,
         |    MIN(CASE WHEN ts_us < 1704153600000000 THEN ts_us END)
         |      OVER (PARTITION BY digest) AS first_pre_ts,
         |    row_number() OVER (PARTITION BY digest ORDER BY ts_us, event_id) AS rn
         |  FROM hashed
         |)
         |SELECT $OUT_COLS FROM x
         |WHERE ts_us >= 1704153600000000 AND rn = n_pre + 1
         |  AND (first_pre_ts IS NULL OR first_pre_ts < 1704153600000000 - 172800000000)
         |ORDER BY event_id""".stripMargin),

    decl("dedup_counters", (s, d) => Dedup.counters(Dedup.hashedStream(s, d)))(
      s"""WITH $DUP_CTE, ${hashedCte(CANON_K)}
         |SELECT ts_us // 60000000 AS minute_bucket,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_forwarded,
         |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM (SELECT *, row_number() OVER (PARTITION BY digest ORDER BY ts_us, event_id) AS rn FROM hashed)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bloom prefilter accuracy: k salted h64 positions mod m, build =
    // pre-cutoff digest set, probes = post-cutoff digests — mirrors
    // Sketches.bloomAccuracy (shared digest substrate with
    // dedup_bootstrap via hashedCte)
    decl("dedup_bloom_accuracy", (s, d) => Sketches.bloomAccuracy(s, d)) {
      val C = graft.operators.Dedup.BootstrapCutoffUs
      def bp(m: String, i: String) = H64(
        s"concat_ws(':', 'bloom', CAST($m AS VARCHAR), CAST($i AS VARCHAR), CAST(digest AS VARCHAR))")
      s"""WITH $DUP_CTE, ${hashedCte(CANON_K)},
         |dg AS (
         |  SELECT digest,
         |    CAST(max(CASE WHEN ts_us < $C THEN 1 ELSE 0 END) AS BIGINT) AS pre,
         |    max(CASE WHEN ts_us >= $C THEN 1 ELSE 0 END) AS post
         |  FROM hashed GROUP BY 1),
         |cfg(m_slots, k_hashes) AS (VALUES ${
            graft.operators.Sketches.BloomConfigs
              .map { case (m, k) => s"($m, $k)" }.mkString(", ")}),
         |seeds AS (
         |  SELECT m_slots, k_hashes, i.i FROM cfg, generate_series(0, 7) i(i)
         |  WHERE i.i < k_hashes),
         |bpos AS (
         |  SELECT DISTINCT m_slots, ${bp("m_slots", "i")} % m_slots AS pos
         |  FROM dg, seeds WHERE pre = 1),
         |ppos AS (
         |  SELECT s.m_slots, s.k_hashes, d.digest, d.pre,
         |    ${bp("s.m_slots", "s.i")} % s.m_slots AS pos
         |  FROM dg d, seeds s WHERE d.post = 1),
         |ph AS (
         |  SELECT p.m_slots, p.k_hashes, p.digest, p.pre,
         |    count(*) AS n_pos,
         |    sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM ppos p LEFT JOIN bpos b ON p.m_slots = b.m_slots AND p.pos = b.pos
         |  GROUP BY 1, 2, 3, 4),
         |agg AS (
         |  SELECT m_slots, k_hashes,
         |    CAST(count(*) AS BIGINT) AS n_probe,
         |    CAST(sum(pre) AS BIGINT) AS n_member,
         |    CAST(sum(CASE WHEN pre = 1 AND n_hit <> n_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
         |    CAST(sum(1 - pre) AS BIGINT) AS n_nonmember,
         |    CAST(sum(CASE WHEN pre = 0 AND n_hit = n_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
         |  FROM ph GROUP BY 1, 2),
         |fill AS (SELECT m_slots, CAST(count(*) AS BIGINT) AS n_set FROM bpos GROUP BY 1),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM dg WHERE pre = 1)
         |SELECT a.m_slots, a.k_hashes, nb.n_build,
         |  ${halfUpSql("f.n_set * 1000000", "a.m_slots")} AS fill_ppm,
         |  a.n_probe, a.n_member, a.n_fn, a.n_nonmember, a.n_fp,
         |  ${halfUpSql("a.n_fp * 1000000", "greatest(a.n_nonmember, 1)")} AS fpr_ppm
         |FROM agg a JOIN fill f ON a.m_slots = f.m_slots CROSS JOIN nb
         |ORDER BY a.m_slots""".stripMargin
    },

    // TTL sensitivity grid: one greedy ObliviousSet chain per TTL
    // (same recursive closure as dedup_chain, parameterized) —
    // mirrors Dedup.ttlCurve
    decl("dedup_ttl_curve", (s, d) => Dedup.ttlCurve(s, d)) {
      def chainCte(t: Long) =
        s"""chain_$t(digest, ts_us) AS (
           |  SELECT digest, min(ts_us) FROM hashed GROUP BY digest
           |  UNION ALL
           |  SELECT c.digest, nxt.ts_us FROM chain_$t c
           |  JOIN LATERAL (
           |    SELECT min(h.ts_us) AS ts_us FROM hashed h
           |    WHERE h.digest = c.digest AND h.ts_us >= c.ts_us + ${t * 1000000L}
           |  ) nxt ON nxt.ts_us IS NOT NULL
           |)""".stripMargin
      val ttls = graft.operators.Dedup.TtlCurveS
      s"""WITH RECURSIVE $DUP_CTE, ${hashedCte(CANON_K)},
         |${ttls.map(chainCte).mkString(",\n")},
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM hashed),
         |k AS (${ttls.map(t =>
              s"SELECT CAST($t AS BIGINT) AS ttl_s, CAST(count(*) AS BIGINT) AS n_kept FROM chain_$t")
              .mkString("\n   UNION ALL ")})
         |SELECT ttl_s, n_kept, n_total, ${ratio4Sql("n_kept", "n_total")} AS keep4
         |FROM k, tot ORDER BY ttl_s""".stripMargin
    }
  )

  // ---- document dedup ---------------------------------------------------

  /** Near-duplicate documents: exact, n-gram, MinHash, SimHash,
    * winnowing, chunk and blocking families, and their recall panels. */
  private def docDedup: Seq[Decl] = Seq(
    decl("dedup_exact_docs", (s, d) => DocDedup.exactDocs(s, d))(
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id+100000, upper(text) FROM documents
         |),
         |h AS (SELECT doc_id,
         |  ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} AS digest FROM d)
         |SELECT min(doc_id) AS keep_id, digest, count(*) AS n_copies
         |FROM h GROUP BY digest ORDER BY keep_id""".stripMargin),

    // Jaccard is defined over the df-capped shingle set (hot boilerplate
    // shingles excluded) — mirrors DocDedup.ngramJaccardOf.
    decl("dedup_ngram_jaccard", (s, d) => DocDedup.ngramJaccard(s, d))(
      s"""WITH $SH_CTE,
         |shd AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
         |  WHERE df <= ${graft.operators.DocDedup.MaxShingleDf}
         |),
         |n AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT d1, d2, shared, shared / (n1.n + n2.n - shared) AS jaccard
         |FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |WHERE shared / (n1.n + n2.n - shared) >= 0.5
         |ORDER BY d1, d2""".stripMargin),

    // aggregated export form of the pair list: per doc, partner count +
    // highest-jaccard exemplar (ties -> smallest partner id) — mirrors
    // DocDedup.ngramJaccardSummary
    decl("dedup_ngram_summary", (s, d) => DocDedup.ngramJaccardSummary(s, d))(
      s"""WITH $SH_CTE,
         |shd AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
         |  WHERE df <= ${graft.operators.DocDedup.MaxShingleDf}
         |),
         |n AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT d1, d2, shared / (n1.n + n2.n - shared) AS jaccard
         |  FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |  WHERE shared / (n1.n + n2.n - shared) >= 0.5
         |),
         |sym AS (
         |  SELECT d1 AS doc_id, d2 AS partner, jaccard FROM pairs
         |  UNION ALL
         |  SELECT d2, d1, jaccard FROM pairs
         |),
         |r AS (
         |  SELECT doc_id, partner, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, partner) AS rn,
         |    count(*) OVER (PARTITION BY doc_id) AS n_partners
         |  FROM sym
         |)
         |SELECT doc_id, n_partners, partner AS best_partner,
         |  jaccard AS max_jaccard
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    decl("dedup_minhash_lsh", (s, d) => MinHashLSH.nearDupPairs(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE
         |SELECT d1, d2, jaccard FROM pairs
         |ORDER BY d1, d2""".stripMargin),

    // transitive dedup groups: same minhash pair CTEs, then the
    // scale-safe label-propagation closure (see labelPropCtes).
    decl("dedup_components", (s, d) => MinHashLSH.nearDupComponents(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
         |${labelPropCtes()}
         |SELECT doc_id, component_id FROM comp ORDER BY doc_id""".stripMargin),

    decl("dedup_simhash", (s, d) => SimHash.nearDupPairs(s, d))(
      s"""WITH $SH_CTE,
         |$SIMHASH_CAND_CTES
         |SELECT d1, d2, hd FROM shcand
         |WHERE hd <= ${graft.operators.SimHash.HammingMax} ORDER BY d1, d2""".stripMargin),

    // HammingMax tuning curve over the unfiltered byte-band candidates
    // — mirrors SimHash.hammingProfile (the simhash twin of the
    // dedup_threshold_curve)
    decl("dedup_simhash_profile", (s, d) => SimHash.hammingProfile(s, d))(
      s"""WITH $SH_CTE,
         |$SIMHASH_CAND_CTES,
         |hist AS (SELECT hd, CAST(count(*) AS BIGINT) AS n_pairs
         |         FROM shcand GROUP BY 1),
         |dmin AS (SELECT hd, CAST(count(*) AS BIGINT) AS n_docs_min FROM (
         |    SELECT doc_id, min(hd) AS hd FROM (
         |      SELECT d1 AS doc_id, hd FROM shcand
         |      UNION ALL SELECT d2, hd FROM shcand)
         |    GROUP BY 1)
         |  GROUP BY 1)
         |SELECT hd, n_pairs,
         |  CAST(sum(n_pairs) OVER w AS BIGINT) AS pairs_at_h,
         |  coalesce(n_docs_min, 0) AS n_docs_min,
         |  CAST(sum(coalesce(n_docs_min, 0)) OVER w AS BIGINT) AS docs_at_h
         |FROM hist LEFT JOIN dmin USING (hd)
         |WINDOW w AS (ORDER BY hd ROWS UNBOUNDED PRECEDING)
         |ORDER BY hd""".stripMargin),

    // near-dup pairs rolled up by unordered lang-label pair — mirrors
    // MinHashLSH.crossLangDup over the SAME shared MinHash pair CTEs
    decl("docs_cross_lang_dup", (s, d) => MinHashLSH.crossLangDup(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |lp AS (
         |  SELECT least(a.lang, b.lang) AS lang_a, greatest(a.lang, b.lang) AS lang_b
         |  FROM pairs p JOIN documents a ON a.doc_id = p.d1
         |               JOIN documents b ON b.doc_id = p.d2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM lp)
         |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  ${ratio4Sql("CAST(count(*) AS BIGINT)", "t")} AS share4
         |FROM lp, tot GROUP BY lang_a, lang_b, t
         |ORDER BY lang_a, lang_b""".stripMargin),

    decl("source_similarity", (s, d) => MinHashLSH.sourceSimilarity(s, d))(
      s"""WITH toks AS (SELECT source, $TOKS AS t FROM documents),
         |shs AS (
         |  SELECT source, unnest(list_distinct(list_transform(
         |    generate_series(1, len(t)-2),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
         |  FROM toks WHERE len(t) >= 3
         |),
         |mh AS (
         |  SELECT source, g.seed, min(${H64("concat_ws(':', CAST(g.seed AS VARCHAR), shingle)")}) AS m
         |  FROM shs, generate_series(0,${graft.operators.MinHashLSH.NumSeeds - 1}) g(seed) GROUP BY source, g.seed
         |)
         |SELECT a.source AS s1, b.source AS s2,
         |  SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) / ${graft.operators.MinHashLSH.NumSeeds}.0 AS est_jaccard
         |FROM mh a JOIN mh b ON a.seed = b.seed AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    decl("dedup_cross_source", (s, d) => Curation.crossSourcePairs(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE
         |SELECT p.d1, p.d2, da.source AS s1, db.source AS s2, p.jaccard
         |FROM pairs p JOIN documents da ON da.doc_id = p.d1
         |             JOIN documents db ON db.doc_id = p.d2
         |WHERE da.source <> db.source
         |ORDER BY p.d1, p.d2""".stripMargin),

    decl("dedup_containment", (s, d) => DocDedup.containmentPairs(s, d))(
      s"""WITH $SH_CTE,
         |shd AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
         |  WHERE df <= ${graft.operators.DocDedup.MaxShingleDf}
         |),
         |n AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT d1, d2, shared,
         |  ${ratio4Sql("shared", "n1.n")} AS c1, ${ratio4Sql("shared", "n2.n")} AS c2
         |FROM p JOIN n n1 ON p.d1 = n1.doc_id JOIN n n2 ON p.d2 = n2.doc_id
         |WHERE greatest(shared / n1.n, shared / n2.n) >= 0.8
         |ORDER BY d1, d2""".stripMargin),

    decl("dedup_edit_distance", (s, d) => DocDedup.editDistancePairs(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |nrm AS (SELECT doc_id,
         |          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
         |        FROM documents),
         |e AS (
         |  SELECT d1, d2, levenshtein(x.nt, y.nt) AS lev,
         |    greatest(len(x.nt), len(y.nt)) AS max_len
         |  FROM cand JOIN nrm x ON x.doc_id = d1 JOIN nrm y ON y.doc_id = d2)
         |SELECT d1, d2, lev, max_len, ${ratio4Sql("lev", "max_len")} AS rel_dist
         |FROM e WHERE lev * 100 <= max_len * ${graft.operators.DocDedup.MaxEditPct}
         |ORDER BY d1, d2""".stripMargin),

    decl("dedup_chunks", (s, d) => DocDedup.chunkDedup(s, d)) {
      val w = graft.operators.DocDedup.ChunkTokens
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |ch AS (
         |  SELECT doc_id, u.pos AS pos, ${H64("u.ch")} AS chunk_h
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, CAST(floor(len(t) / $w.0) AS BIGINT)),
         |      i -> struct_pack(pos := i,
         |        ch := array_to_string(list_slice(t, (i-1)*$w + 1, i*$w), ' ')))) AS u
         |    FROM toks WHERE len(t) >= $w)
         |),
         |r AS (
         |  SELECT *, row_number() OVER wc AS rn,
         |    first_value(doc_id) OVER wc AS keep_doc,
         |    first_value(pos) OVER wc AS keep_pos
         |  FROM ch WINDOW wc AS (PARTITION BY chunk_h ORDER BY doc_id, pos)
         |)
         |SELECT doc_id, pos, chunk_h, keep_doc, keep_pos
         |FROM r WHERE rn > 1 ORDER BY doc_id, pos""".stripMargin
    },

    // content-defined-chunk dedup manifest — mirrors
    // DocDedup.cdcChunkDedup (boundaries from trailing-window hashes,
    // chunks grouped by content hash, earlier-(doc,chunk) keeper rule)
    decl("dedup_cdc_chunks", (s, d) => DocDedup.cdcChunkDedup(s, d)) {
      val w = graft.operators.DocDedup.CdcWindow
      val m = graft.operators.DocDedup.CdcMod
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |pos AS (
         |  SELECT doc_id, t, unnest(generate_series(1, CAST(len(t) AS BIGINT))) AS pos
         |  FROM toks),
         |fl AS (
         |  -- nested CASE: the hash only evaluates for pos >= w (AND has
         |  -- no short-circuit guarantee, and list_slice at pos < w gives
         |  -- an empty list whose array_to_string is NULL -> '0x' cast)
         |  SELECT doc_id, pos,
         |    CASE WHEN pos >= $w THEN
         |      CASE WHEN ${H64(s"array_to_string(list_slice(t, pos - ${w - 1}, pos), ' ')")} % $m = 0
         |           THEN 1 ELSE 0 END
         |    ELSE 0 END AS flag
         |  FROM pos),
         |ci AS (
         |  SELECT doc_id, pos, CAST(coalesce(SUM(flag) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_idx
         |  FROM fl),
         |cb AS (SELECT doc_id, chunk_idx, min(pos) AS p0, max(pos) AS p1
         |       FROM ci GROUP BY 1, 2),
         |ch AS (
         |  SELECT cb.doc_id, cb.chunk_idx,
         |    ${H64("array_to_string(list_slice(t.t, cb.p0, cb.p1), ' ')")} AS chunk_h
         |  FROM cb JOIN toks t ON t.doc_id = cb.doc_id),
         |fd AS (
         |  SELECT doc_id, chunk_idx,
         |    first_value(doc_id) OVER wc AS k_doc,
         |    first_value(chunk_idx) OVER wc AS k_idx
         |  FROM ch
         |  WINDOW wc AS (PARTITION BY chunk_h ORDER BY doc_id, chunk_idx)),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(CASE WHEN k_doc <> doc_id OR k_idx <> chunk_idx
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
         |  FROM fd GROUP BY 1)
         |SELECT doc_id, n_chunks, n_dup_chunks,
         |  ${ratio4Sql("n_dup_chunks", "n_chunks")} AS dup_share4
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    decl("dedup_passages", (s, d) => DocDedup.passageDedup(s, d)) {
      val w = graft.operators.DocDedup.ChunkTokens
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |wn AS (
         |  SELECT doc_id, u.pos AS pos, ${H64("u.ch")} AS win_h
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(t) - ${w - 1}),
         |      i -> struct_pack(pos := i,
         |        ch := array_to_string(list_slice(t, i, i + ${w - 1}), ' ')))) AS u
         |    FROM toks WHERE len(t) >= $w)
         |),
         |d AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      row_number() OVER (PARTITION BY win_h ORDER BY doc_id, pos) AS rn
         |    FROM wn) q WHERE rn > 1
         |),
         |g AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM d
         |)
         |SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos,
         |  max(pos) - min(pos) + $w AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_windows
         |FROM g GROUP BY doc_id, grp
         |ORDER BY doc_id, start_pos""".stripMargin
    },

    // int64-exact PageRank over the near-dup graph, iterations unrolled
    // to the same fixed depth the operator runs. Every chain CTE is
    // MATERIALIZED: each r$i is referenced TWICE (by c$(i+1) and
    // r$(i+1)), so DuckDB's default inlining re-evaluates the whole
    // upstream pair pipeline 2^iters times — at replica (K-fold copy)
    // pair density that exhausted 100 GiB; materialized, the ≈sf1
    // replay completes in ~50 s with full (not sampled) verification.
    decl("dedup_graph_rank", (s, d) => MinHashLSH.graphCentrality(s, d)) {
      val iters = graft.operators.MinHashLSH.CentralityIters
      val iterCtes = (1 to iters).map { i =>
        s"""c$i AS MATERIALIZED (
           |  SELECT e.d2 AS node,
           |    sum(${halfUpSql("r.r * 85", "deg.outdeg * 100")}) AS in_c
           |  FROM edges e JOIN deg ON e.d1 = deg.d1 JOIN r${i - 1} r ON e.d1 = r.node
           |  GROUP BY 1),
           |r$i AS MATERIALIZED (
           |  SELECT p.node, ${halfUpSql("15000000", "100 * nn.n")}
           |    + coalesce(c.in_c, 0) AS r
           |  FROM r${i - 1} p CROSS JOIN nn LEFT JOIN c$i c ON p.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS MATERIALIZED (SELECT d1, d2 FROM pairs UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
         |deg AS MATERIALIZED (SELECT d1, count(*) AS outdeg FROM edges GROUP BY 1),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
         |r0 AS MATERIALIZED (SELECT d1 AS node, 1000000 // nn.n AS r FROM deg CROSS JOIN nn),
         |$iterCtes
         |SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_micro
         |FROM r$iters ORDER BY doc_id""".stripMargin
    },

    decl("dedup_cluster_sizes", (s, d) => CorpusStats.clusterSizes(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
         |${labelPropCtes()},
         |szs AS (SELECT component_id, count(*) AS sz FROM comp GROUP BY component_id)
         |SELECT sz, count(*) AS n_clusters, CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM szs GROUP BY sz ORDER BY sz""".stripMargin),

    // sketch-quality report: estimate (agreeing seeds / k) vs true
    // Jaccard on the SAME capped candidate set the near-dup pass uses
    decl("dedup_minhash_quality", (s, d) => MinHashLSH.minhashQuality(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT c.d1, c.d2, count(*) AS shared
         |  FROM cand c JOIN sh a ON a.doc_id = c.d1
         |             JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT c.d1, c.d2, count(*) FILTER (WHERE x.mh = y.mh) AS est_agree
         |  FROM cand c JOIN mh x ON x.doc_id = c.d1
         |             JOIN mh y ON y.doc_id = c.d2 AND y.seed = x.seed
         |  GROUP BY 1, 2)
         |SELECT s.d1, s.d2, est_agree,
         |  ${ratio4Sql("est_agree", graft.operators.MinHashLSH.NumSeeds.toString)} AS est_jaccard,
         |  shared / (n1.n + n2.n - shared) AS jaccard
         |FROM shared s JOIN est e ON s.d1 = e.d1 AND s.d2 = e.d2
         |  JOIN n n1 ON s.d1 = n1.doc_id JOIN n n2 ON s.d2 = n2.doc_id
         |ORDER BY s.d1, s.d2""".stripMargin),

    // τ-tuning curve over the capped-LSH candidates: exact integer
    // 0.05 bands (shared·20 div union), reverse-cumulative survivors;
    // the doc curve is the reverse cumulative of per-doc MAX band
    decl("dedup_threshold_curve", (s, d) => MinHashLSH.thresholdCurve(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         |sha AS (
         |  SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS shared
         |  FROM cand c JOIN sh a ON a.doc_id = c.d1
         |             JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |pb AS (
         |  SELECT d1, d2, shared * 20 // (n1.n + n2.n - shared) AS band
         |  FROM sha JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id),
         |hist AS (SELECT band, count(*) AS n_pairs FROM pb GROUP BY 1),
         |dm AS (SELECT doc_id, max(band) AS band FROM (
         |    SELECT d1 AS doc_id, band FROM pb
         |    UNION ALL SELECT d2 AS doc_id, band FROM pb)
         |  GROUP BY 1),
         |dh AS (SELECT band, count(*) AS n_docs_max FROM dm GROUP BY 1)
         |SELECT h.band, h.band * 500 AS tau4, h.n_pairs,
         |  CAST(sum(h.n_pairs) OVER (ORDER BY h.band DESC) AS BIGINT) AS pairs_at_tau,
         |  CAST(sum(coalesce(dh.n_docs_max, 0)) OVER (ORDER BY h.band DESC) AS BIGINT) AS docs_at_tau
         |FROM hist h LEFT JOIN dh ON h.band = dh.band
         |ORDER BY h.band""".stripMargin),

    // per-source duplicated rolling-window mass (same grain + global-
    // first rule as dedup_passages)
    decl("corpus_dup_ngram_share", (s, d) => DocDedup.dupNgramShare(s, d)) {
      val w = graft.operators.DocDedup.ChunkTokens
      s"""WITH toks AS (SELECT doc_id, source, $TOKS AS t FROM documents),
         |wn AS (
         |  SELECT doc_id, source, u.pos AS pos, ${H64("u.ch")} AS win_h
         |  FROM (
         |    SELECT doc_id, source, unnest(list_transform(
         |      generate_series(1, len(t) - ${w - 1}),
         |      i -> struct_pack(pos := i,
         |        ch := array_to_string(list_slice(t, i, i + ${w - 1}), ' ')))) AS u
         |    FROM toks WHERE len(t) >= $w)
         |),
         |r AS (SELECT source,
         |        row_number() OVER (PARTITION BY win_h ORDER BY doc_id, pos) AS rn
         |      FROM wn),
         |a AS (SELECT source, count(*) AS n_windows,
         |        CAST(coalesce(sum(CASE WHEN rn > 1 THEN 1 END), 0) AS BIGINT) AS n_dup
         |      FROM r GROUP BY 1)
         |SELECT source, n_windows, n_dup,
         |  ${ratio4Sql("n_dup", "n_windows")} AS dup_share
         |FROM a ORDER BY source""".stripMargin
    },

    // multi-signal components: exact-digest ∪ verified-lexical ∪
    // semantic pairs, one reachability closure, per-signal node flags
    // (semantic CTEs renamed s* to avoid colliding with the lexical set)
    decl("dedup_multi_signal", (s, d) => MinHashLSH.multiSignalComponents(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |eh AS (SELECT doc_id,
         |  ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} AS dg
         |  FROM documents),
         |eg AS (SELECT dg, min(doc_id) AS mn FROM eh GROUP BY dg),
         |epr AS MATERIALIZED (SELECT eg.mn AS d1, eh.doc_id AS d2
         |        FROM eh JOIN eg ON eh.dg = eg.dg AND eh.doc_id > eg.mn),
         |sv AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL_CTE,
         |sbits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM sv, pl p
         |),
         |sbkt AS (
         |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM sbits GROUP BY vec_id, p//ppb
         |),
         |sr AS (
         |  SELECT vec_id, band, bucket,
         |    row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn,
         |    count(*) OVER (PARTITION BY band, bucket) AS bsz
         |  FROM sbkt
         |),
         |scand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM sr x JOIN sr y ON x.band = y.band AND x.bucket = y.bucket
         |    AND y.rn > x.rn
         |    AND (x.bsz <= ${graft.operators.Similarity.TargetBucket}
         |         OR y.rn <= x.rn + ${graft.operators.Similarity.NeighborWindow})
         |),
         |sp AS MATERIALIZED (
         |  SELECT c.v1, c.v2
         |  FROM scand c JOIN sv a ON a.vec_id = c.v1 JOIN sv b ON b.vec_id = c.v2
         |  WHERE ${duckCos("a.e", "b.e")} >= ${graft.operators.Similarity.NearDupTau}
         |),
         |ae AS MATERIALIZED (SELECT d1, d2 FROM pairs
         |       UNION SELECT d1, d2 FROM epr
         |       UNION SELECT v1, v2 FROM sp),
         |edges AS MATERIALIZED (SELECT d1, d2 FROM ae UNION SELECT d2, d1 FROM ae),
         |${labelPropCtes()},
         |exn AS (SELECT DISTINCT doc_id FROM (SELECT d1 AS doc_id FROM epr UNION ALL SELECT d2 FROM epr) q),
         |lxn AS (SELECT DISTINCT doc_id FROM (SELECT d1 AS doc_id FROM pairs UNION ALL SELECT d2 FROM pairs) q),
         |smn AS (SELECT DISTINCT doc_id FROM (SELECT v1 AS doc_id FROM sp UNION ALL SELECT v2 FROM sp) q)
         |SELECT c.doc_id AS doc_id, c.component_id AS component_id,
         |  (exn.doc_id IS NOT NULL) AS in_exact,
         |  (lxn.doc_id IS NOT NULL) AS in_lexical,
         |  (smn.doc_id IS NOT NULL) AS in_semantic
         |FROM comp c LEFT JOIN exn ON c.doc_id = exn.doc_id
         |  LEFT JOIN lxn ON c.doc_id = lxn.doc_id
         |  LEFT JOIN smn ON c.doc_id = smn.doc_id
         |ORDER BY c.doc_id""".stripMargin),

    // normalization aggressiveness ladder — mirrors DocDedup.normalizationCurve
    decl("dedup_normalization_curve", (s, d) => DocDedup.normalizationCurve(s, d))(
      s"""WITH a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT ${H64("text")}) AS BIGINT) AS u_raw,
         |    CAST(count(DISTINCT ${H64("trim(regexp_replace(text, '\\s+', ' ', 'g'))")}) AS BIGINT) AS u_ws,
         |    CAST(count(DISTINCT ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")}) AS BIGINT) AS u_lower,
         |    CAST(count(DISTINCT ${H64("regexp_replace(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '[^a-z0-9 ]', '', 'g')")}) AS BIGINT) AS u_alnum
         |  FROM documents),
         |lv AS (
         |  SELECT CAST(1 AS BIGINT) AS level_rank, 'raw' AS level, u_raw AS n_distinct, n_docs FROM a
         |  UNION ALL SELECT 2, 'ws', u_ws, n_docs FROM a
         |  UNION ALL SELECT 3, 'lower', u_lower, n_docs FROM a
         |  UNION ALL SELECT 4, 'alnum', u_alnum, n_docs FROM a)
         |SELECT level_rank, level, n_docs, n_distinct,
         |  n_docs - n_distinct AS n_dup,
         |  ${ratio4Sql("n_docs - n_distinct", "n_docs")} AS dup_share
         |FROM lv ORDER BY level_rank""".stripMargin),

    // sorted-neighborhood blocking — mirrors Blocking.sortedNeighborhood
    decl("dedup_sorted_neighborhood", (s, d) => Blocking.sortedNeighborhood(s, d))(
      s"""WITH $SN_CTES
         |SELECT d1, d2, gap, jacc4 FROM snacc ORDER BY d1, d2""".stripMargin),

    // duplicated-span coverage — mirrors Spans.dupSpanCoverage
    decl("docs_dup_span_coverage", (s, d) => Spans.dupSpanCoverage(s, d))(
      s"""WITH toks AS (SELECT doc_id, source, $TOKS AS t FROM documents),
         |meta AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_toks FROM toks),
         |pos AS (
         |  SELECT doc_id, CAST(ps.p AS BIGINT) AS p, ${H64("ps.sh")} AS sh FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
         |      i -> {'p': i, 'sh': concat_ws(' ', t[i], t[i+1], t[i+2])})) AS ps
         |    FROM toks WHERE len(t) >= 3)),
         |dup AS (
         |  SELECT doc_id, p, p + 2 AS e FROM (
         |    SELECT doc_id, p,
         |      min(doc_id) OVER (PARTITION BY sh) AS mn,
         |      max(doc_id) OVER (PARTITION BY sh) AS mx
         |    FROM pos)
         |  WHERE mn <> mx),
         |isl0 AS (
         |  SELECT doc_id, p, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM dup),
         |isl AS (
         |  SELECT doc_id, p, e,
         |    CAST(sum(CASE WHEN pme IS NULL OR p > pme THEN 1 ELSE 0 END) OVER
         |      (PARTITION BY doc_id ORDER BY p
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
         |  FROM isl0),
         |cov AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS covered FROM (
         |  SELECT doc_id, island, max(e) - min(p) + 1 AS len FROM isl GROUP BY 1, 2)
         |  GROUP BY 1),
         |per AS (
         |  SELECT m.source, m.n_toks, coalesce(c.covered, 0) AS covered,
         |    (coalesce(c.covered, 0) * 10) // greatest(m.n_toks, 1) AS band
         |  FROM meta m LEFT JOIN cov c USING (doc_id))
         |SELECT source, band, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS tot_tokens,
         |  CAST(sum(covered) AS BIGINT) AS dup_tokens,
         |  ${ratio4Sql("CAST(sum(covered) AS BIGINT)",
                        "greatest(CAST(sum(n_toks) AS BIGINT), 1)")} AS share4
         |FROM per GROUP BY 1, 2 ORDER BY source, band""".stripMargin),

    // exact triangle census over the near-dup graph (degree-ordered
    // orientation) — mirrors MinHashLSH.graphTriangles
    decl("dedup_graph_triangles", (s, d) => MinHashLSH.graphTriangles(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |p2 AS (SELECT d1, d2 FROM pairs),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT d1 AS node FROM p2 UNION ALL SELECT d2 FROM p2) GROUP BY 1),
         |e AS (
         |  SELECT CASE WHEN (ga.degree, d1) < (gb.degree, d2) THEN d1 ELSE d2 END AS u,
         |         CASE WHEN (ga.degree, d1) < (gb.degree, d2) THEN d2 ELSE d1 END AS v
         |  FROM p2 JOIN deg ga ON ga.node = p2.d1 JOIN deg gb ON gb.node = p2.d2),
         |w AS (SELECT a.u AS u, a.v AS x, b.v AS y
         |      FROM e a JOIN e b ON a.u = b.u AND a.v < b.v),
         |tri AS (SELECT u, x, y FROM w
         |        WHERE EXISTS (SELECT 1 FROM p2 WHERE p2.d1 = w.x AND p2.d2 = w.y)),
         |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
         |  SELECT u AS node FROM tri UNION ALL SELECT x FROM tri
         |  UNION ALL SELECT y FROM tri) GROUP BY 1)
         |SELECT deg.node AS node, deg.degree AS degree,
         |  coalesce(tn.triangles, 0) AS triangles,
         |  ${ratio4Sql("coalesce(tn.triangles, 0) * 2",
                        "greatest(deg.degree * (deg.degree - 1), 1)")} AS coeff4
         |FROM deg LEFT JOIN tn USING (node) ORDER BY node""".stripMargin),

    // SN × LSH pair-set agreement — mirrors Blocking.blockingAgreement
    // (composes the SN CTEs with the shared MinHash pair CTEs verbatim)
    decl("dedup_blocking_agreement", (s, d) => Blocking.blockingAgreement(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |$SN_CTES,
         |snp AS (SELECT DISTINCT least(d1, d2) AS d1, greatest(d1, d2) AS d2
         |        FROM snacc),
         |mhp AS (SELECT d1, d2 FROM pairs),
         |cm AS (SELECT CAST(count(*) AS BIGINT) AS n_common
         |       FROM mhp WHERE EXISTS (SELECT 1 FROM snp
         |         WHERE snp.d1 = mhp.d1 AND snp.d2 = mhp.d2)),
         |am AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM mhp),
         |bm AS (SELECT CAST(count(*) AS BIGINT) AS n_sn FROM snp)
         |SELECT n_lsh, n_sn, n_common,
         |  ${ratio4Sql("n_common", "greatest(n_lsh, 1)")} AS lsh_recall4,
         |  ${ratio4Sql("n_common", "greatest(n_sn, 1)")} AS sn_confirmed4
         |FROM am CROSS JOIN bm CROSS JOIN cm""".stripMargin),

    // multi-pass SN gain: prefix key vs suffix key — mirrors
    // Blocking.snMultiKey (the same keyed chain instantiated twice)
    decl("dedup_sn_multikey", (s, d) => Blocking.snMultiKey(s, d))(
      s"""WITH $SN_CTES,
         |${snCtesKeyed("sx", SN_KEY_SUFFIX)},
         |pp AS (SELECT DISTINCT least(d1, d2) AS d1, greatest(d1, d2) AS d2 FROM snacc),
         |ss AS (SELECT DISTINCT least(d1, d2) AS d1, greatest(d1, d2) AS d2 FROM sxacc),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_prefix FROM pp),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n_suffix FROM ss),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_common
         |      FROM pp JOIN ss USING (d1, d2))
         |SELECT n_prefix, n_suffix, n_common,
         |  n_prefix + n_suffix - n_common AS n_union,
         |  ${ratio4Sql("n_suffix - n_common", "greatest(n_prefix, 1)")} AS gain4
         |FROM a CROSS JOIN b CROSS JOIN c""".stripMargin),

    // per-band LSH bucket-size profile — mirrors
    // MinHashLSH.lshBucketProfile (shared banded-signature CTEs)
    decl("dedup_lsh_bucket_profile", (s, d) => MinHashLSH.lshBucketProfile(s, d)) {
      val cap = graft.operators.MinHashLSH.MaxBucketSize
      val cw = graft.operators.MinHashLSH.CandWindow
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |bsz AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS c
         |        FROM bands GROUP BY 1, 2)
         |SELECT band, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(c) AS BIGINT) AS max_bucket,
         |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pairs_raw,
         |  CAST(sum(CASE WHEN c > $cap THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hot_buckets,
         |  CAST(sum(CASE WHEN c <= $cap THEN c * (c - 1) // 2
         |           ELSE $cw * c - ${cw * (cw + 1) / 2} END)
         |    AS BIGINT) AS pairs_capped
         |FROM bsz GROUP BY 1 ORDER BY band""".stripMargin
    },

    // shingle document-frequency capacity profile — mirrors
    // DocDedup.shingleDfProfile (the MaxShingleDf cap's measured form)
    decl("docs_shingle_df_profile", (s, d) => DocDedup.shingleDfProfile(s, d)) {
      val cap = graft.operators.DocDedup.MaxShingleDf
      s"""WITH $SH_CTE,
         |dfs AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         |        FROM sh GROUP BY 1),
         |bk AS (SELECT
         |    CASE WHEN df = 1 THEN 1 WHEN df <= 4 THEN 2 WHEN df <= 9 THEN 3
         |         WHEN df <= 19 THEN 4 WHEN df <= $cap THEN 5 ELSE 6 END
         |      AS bucket_rank,
         |    CASE WHEN df = 1 THEN 'df=1' WHEN df <= 4 THEN 'df=2-4'
         |         WHEN df <= 9 THEN 'df=5-9' WHEN df <= 19 THEN 'df=10-19'
         |         WHEN df <= $cap THEN 'df=20-$cap' ELSE 'df>$cap' END
         |      AS bucket,
         |    df
         |  FROM dfs)
         |SELECT CAST(bucket_rank AS BIGINT) AS bucket_rank, bucket,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(df) AS BIGINT) AS posting_mass,
         |  CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_mass,
         |  bucket_rank = 6 AS capped_out
         |FROM bk GROUP BY bucket_rank, bucket ORDER BY bucket_rank""".stripMargin
    },

    // deterministic per-band pair audit sample — mirrors
    // MinHashLSH.pairAuditSample (shared verified-pair CTEs)
    decl("dedup_pair_audit_sample", (s, d) => MinHashLSH.pairAuditSample(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |smp AS (
         |  SELECT CAST(floor(jaccard * 20) AS BIGINT) AS band, d1, d2, jaccard,
         |    ${H64("concat('audit:', CAST(d1 AS VARCHAR), ':', CAST(d2 AS VARCHAR))")}
         |      AS akey
         |  FROM pairs),
         |rk AS (
         |  SELECT band, d1, d2, jaccard,
         |    CAST(row_number() OVER (PARTITION BY band ORDER BY akey, d1, d2)
         |      AS BIGINT) AS rank
         |  FROM smp)
         |SELECT band, rank, d1, d2, jaccard FROM rk
         |WHERE rank <= 5 ORDER BY band, rank""".stripMargin),

    // winnowing fingerprints (k-gram window minima at (doc, hash)
    // grain — tie policy cancels, see DocDedup.winnowingPairs) with
    // the df cap and the shared-count threshold
    decl("dedup_winnowing", (s, d) => DocDedup.winnowingPairs(s, d))(
      s"""WITH $WINNOW_CTES
         |SELECT doc_a, doc_b, n_shared FROM wpairs
         |ORDER BY doc_a, doc_b""".stripMargin),

    // winnowing vs verified-MinHash agreement — the method-agreement
    // read: passage-local fingerprints vs whole-doc
    // signatures catch overlapping-but-different pair sets
    decl("dedup_winnowing_agreement", (s, d) => DocDedup.winnowingAgreement(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |$WINNOW_CTES,
         |mhp AS (SELECT d1, d2 FROM pairs),
         |wnp AS (SELECT doc_a AS d1, doc_b AS d2 FROM wpairs),
         |cm AS (SELECT CAST(count(*) AS BIGINT) AS n_common
         |       FROM mhp WHERE EXISTS (SELECT 1 FROM wnp
         |         WHERE wnp.d1 = mhp.d1 AND wnp.d2 = mhp.d2)),
         |am AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM mhp),
         |bm AS (SELECT CAST(count(*) AS BIGINT) AS n_win FROM wnp)
         |SELECT n_lsh, n_win, n_common,
         |  ${ratio4Sql("n_common", "greatest(n_lsh, 1)")} AS lsh_confirmed4,
         |  ${ratio4Sql("n_common", "greatest(n_win, 1)")} AS win_confirmed4
         |FROM am CROSS JOIN bm CROSS JOIN cm""".stripMargin),

    // per-method dedup savings on the real corpus: exact keeps min id
    // per normalized digest; pair families drop the larger pair id
    // (the Pipeline rule) — mirrors DocDedup.savingsReport
    decl("dedup_savings_report", (s, d) => DocDedup.savingsReport(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |$SIMHASH_CAND_CTES,
         |$WINNOW_CTES,
         |ntk AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_toks FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS td,
         |               CAST(sum(n_toks) AS BIGINT) AS tt FROM ntk),
         |ex AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY digest) AS keep
         |    FROM (SELECT doc_id,
         |      ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} AS digest
         |      FROM documents))
         |  WHERE doc_id <> keep),
         |u AS (
         |  SELECT 'exact' AS method, doc_id FROM ex
         |  UNION ALL SELECT 'minhash', d2 FROM (SELECT DISTINCT d2 FROM pairs)
         |  UNION ALL SELECT 'simhash', d2 FROM (
         |    SELECT DISTINCT d2 FROM shcand
         |    WHERE hd <= ${graft.operators.SimHash.HammingMax})
         |  UNION ALL SELECT 'winnowing', doc_b FROM (SELECT DISTINCT doc_b FROM wpairs)),
         |m(method) AS (VALUES ('exact'), ('minhash'), ('simhash'), ('winnowing')),
         |agg AS (
         |  SELECT u.method, CAST(count(*) AS BIGINT) AS n_dropped,
         |    CAST(coalesce(sum(n.n_toks), 0) AS BIGINT) AS tok_dropped
         |  FROM u JOIN ntk n USING (doc_id) GROUP BY 1)
         |SELECT m.method,
         |  coalesce(agg.n_dropped, 0) AS n_dropped,
         |  coalesce(agg.tok_dropped, 0) AS tok_dropped,
         |  ${ratio4Sql("coalesce(agg.n_dropped, 0)", "tot.td")} AS doc_share4,
         |  ${ratio4Sql("coalesce(agg.tok_dropped, 0)", "tot.tt")} AS tok_share4
         |FROM m LEFT JOIN agg ON agg.method = m.method CROSS JOIN tot
         |ORDER BY m.method""".stripMargin),

    // exact prefix-filter set-similarity self-join (AllPairs + length
    // filter) over the UNCAPPED shingle sets — mirrors
    // DocDedup.prefixJoin
    decl("dedup_ssjoin_prefix", (s, d) => DocDedup.prefixJoin(s, d))(
      s"""WITH $SH_CTE,
         |${SSJOIN_CTES}
         |SELECT d1, d2, shared, n_union, jaccard
         |FROM sjpairs ORDER BY d1, d2""".stripMargin),

    // banded-MinHash recall vs the exact prefix-join ground truth —
    // mirrors MinHashLSH.minhashRecall (shared SSJOIN + MH macros)
    decl("dedup_minhash_recall", (s, d) => MinHashLSH.minhashRecall(s, d))(
      s"""WITH $SH_CTE,
         |${SSJOIN_CTES},
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM sjpairs),
         |lh AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM pairs
         |       WHERE jaccard >= 0.5),
         |bo AS (SELECT CAST(count(*) AS BIGINT) AS n_both
         |       FROM (SELECT d1, d2 FROM pairs WHERE jaccard >= 0.5) p
         |       JOIN sjpairs s USING (d1, d2))
         |SELECT ex.n_exact, lh.n_lsh, bo.n_both,
         |  ex.n_exact - bo.n_both AS n_missed,
         |  ${ratio4Sql("bo.n_both", "greatest(ex.n_exact, 1)")} AS recall4
         |FROM ex, lh, bo""".stripMargin),

    // the measured S-curve: exact-jaccard bands (integer jaccard4) ×
    // caught-by-LSH flags — mirrors MinHashLSH.recallByBand
    decl("dedup_recall_by_band", (s, d) => MinHashLSH.recallByBand(s, d)) {
      val b4 = graft.operators.MinHashLSH.RecallBand4
      s"""WITH $SH_CTE,
         |${SSJOIN_CTES},
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |ex AS (SELECT d1, d2,
         |         CAST(${halfUpSql("shared * 10000", "n_union")} AS BIGINT) AS j4
         |       FROM sjpairs),
         |mhb AS (SELECT d1, d2, 1 AS caught FROM pairs WHERE jaccard >= 0.5),
         |jj AS (SELECT ex.j4, coalesce(mhb.caught, 0) AS caught
         |       FROM ex LEFT JOIN mhb USING (d1, d2)),
         |g AS (SELECT j4 // $b4 AS band, CAST(count(*) AS BIGINT) AS n_exact,
         |        CAST(sum(caught) AS BIGINT) AS n_caught
         |      FROM jj GROUP BY 1)
         |SELECT band * $b4 / 10000.0 AS band_lo, n_exact, n_caught,
         |  ${ratio4Sql("n_caught", "n_exact")} AS recall4
         |FROM g ORDER BY band_lo""".stripMargin
    },

    // the prefix join's candidate funnel — mirrors
    // DocDedup.prefixJoinFunnel (shared SSJOIN_CTES)
    decl("dedup_ssjoin_funnel", (s, d) => DocDedup.prefixJoinFunnel(s, d))(
      s"""WITH $SH_CTE,
         |${SSJOIN_CTES},
         |dc AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_shingle_rows FROM sh),
         |pc AS (SELECT CAST(count(*) AS BIGINT) AS n_prefix_rows FROM sjpref),
         |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM sjcand),
         |vc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM sjpairs)
         |SELECT n_docs, n_shingle_rows, n_prefix_rows, n_candidates, n_pairs,
         |  ${ratio4Sql("n_prefix_rows", "n_shingle_rows")} AS prefix_share4,
         |  ${ratio4Sql("n_pairs", "greatest(n_candidates, 1)")} AS verify_yield4
         |FROM dc, pc, cc, vc""".stripMargin),

    // the (k, bands) operating-point sweep vs exact ground truth —
    // mirrors MinHashLSH.minhashTuning: one parameterized candidate +
    // verify chain per grid config (prefixed CTEs), shared exact side
    decl("dedup_minhash_tuning", (s, d) => MinHashLSH.minhashTuning(s, d)) {
      val grid = graft.operators.MinHashLSH.TuningGrid
      val lo = graft.operators.MinHashLSH.TuneLoJ4
      val chains = grid.zipWithIndex.map { case ((k, r), i) =>
        s"""${mhCandCte(k, r, s"t$i")},
           |${mhPairsCte(s"t$i")},
           |t${i}j AS (SELECT ex.j4,
           |    CASE WHEN p.d1 IS NULL THEN 0 ELSE 1 END AS caught
           |  FROM ex LEFT JOIN t${i}pairs p USING (d1, d2)),
           |t${i}g AS (SELECT
           |    (SELECT CAST(count(*) AS BIGINT) FROM t${i}cand) AS n_candidates,
           |    CAST(count(*) AS BIGINT) AS n_exact,
           |    CAST(coalesce(sum(caught), 0) AS BIGINT) AS n_pairs,
           |    CAST(count(*) FILTER (WHERE j4 < $lo) AS BIGINT) AS n_exact_lo,
           |    CAST(coalesce(sum(caught) FILTER (WHERE j4 < $lo), 0) AS BIGINT)
           |      AS n_caught_lo
           |  FROM t${i}j)""".stripMargin
      }.mkString(",\n")
      val rows = grid.zipWithIndex.map { case ((k, r), i) =>
        s"""SELECT CAST($k AS BIGINT) AS n_seeds,
           |  CAST($r AS BIGINT) AS band_rows,
           |  CAST(${k / r} AS BIGINT) AS n_bands,
           |  n_candidates, n_pairs, n_exact,
           |  ${ratio4Sql("n_pairs", "greatest(n_exact, 1)")} AS recall4,
           |  n_exact_lo, n_caught_lo,
           |  ${ratio4Sql("n_caught_lo", "greatest(n_exact_lo, 1)")} AS recall_lo4
           |FROM t${i}g""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $SH_CTE,
         |${SSJOIN_CTES},
         |ex AS (SELECT d1, d2,
         |         CAST(${halfUpSql("shared * 10000", "n_union")} AS BIGINT) AS j4
         |       FROM sjpairs),
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |$chains
         |$rows
         |ORDER BY n_seeds, band_rows""".stripMargin
    },

    // the SN funnel: docs -> probes -> compared adjacencies ->
    // accepted pairs — mirrors Blocking.snFunnel (shared SN_CTES)
    decl("dedup_sn_funnel", (s, d) => Blocking.snFunnel(s, d)) {
      val w = graft.operators.Blocking.SnWindow
      s"""WITH $SN_CTES,
         |dc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM snj),
         |aa AS (SELECT CAST(count(*) AS BIGINT) AS n_accepted FROM snacc)
         |SELECT n_docs, n_docs * ${w - 1} AS n_probes,
         |  n_candidates, n_accepted,
         |  ${ratio4Sql("n_accepted", "greatest(n_candidates, 1)")} AS accept_yield4
         |FROM dc CROSS JOIN cc CROSS JOIN aa""".stripMargin
    }
  )

  // ---- ANN and embeddings -----------------------------------------------

  /** Vector search over `embeddings`: brute, LSH, IVF, PQ/SQ and graph
    * top-k, their recall panels, clustering and spectral audits. */
  private def ann: Seq[Decl] = Seq(
    decl("dedup_embedding", (s, d) => Similarity.nearDupPairs(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl p
         |),
         |buckets AS (
         |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, p//ppb
         |),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
         |)
         |SELECT c.v1, c.v2, ${duckCos("a.e", "b.e")} AS cos
         |FROM cand c JOIN v a ON a.vec_id = c.v1 JOIN v b ON b.vec_id = c.v2
         |WHERE ${duckCos("a.e", "b.e")} >= 0.45
         |ORDER BY v1, v2""".stripMargin),

    // aggregated export form of the pair list: per vector, partner
    // count + strongest-cosine exemplar (ties -> smallest partner id)
    // — mirrors Similarity.nearDupSummary
    decl("dedup_embedding_summary", (s, d) => Similarity.nearDupSummary(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl p
         |),
         |buckets AS (
         |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, p//ppb
         |),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
         |),
         |pairs AS (
         |  SELECT c.v1, c.v2, ${duckCos("a.e", "b.e")} AS cos
         |  FROM cand c JOIN v a ON a.vec_id = c.v1 JOIN v b ON b.vec_id = c.v2
         |  WHERE ${duckCos("a.e", "b.e")} >= 0.45
         |),
         |sym AS (
         |  SELECT v1 AS vec_id, v2 AS partner, cos FROM pairs
         |  UNION ALL
         |  SELECT v2, v1, cos FROM pairs
         |),
         |r AS (
         |  SELECT vec_id, partner, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, partner) AS rn,
         |    count(*) OVER (PARTITION BY vec_id) AS n_partners
         |  FROM sym
         |)
         |SELECT vec_id, n_partners, partner AS best_partner, cos AS max_cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    decl("ann_brute_topk", (s, d) => Substrate.brute(s, d).orderBy("q_id", "rank"))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("q.e", "b.e")} AS cos
         |  FROM v q JOIN v b ON b.vec_id <> q.vec_id WHERE q.vec_id < 20
         |)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM p
         |) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    decl("ann_lsh_topk", (s, d) => Similarity.lshTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL0_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl0 p
         |),
         |b0 AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id
         |),
         |p AS (
         |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
         |  FROM b0 q JOIN b0 b ON q.bucket = b.bucket AND b.vec_id <> q.vec_id
         |  JOIN v qv ON qv.vec_id = q.vec_id JOIN v bv ON bv.vec_id = b.vec_id
         |  WHERE q.vec_id < 20
         |)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM p
         |) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // the SQL embeds the engine's own driver-computed (μ, W) doubles as
    // literals, so it exists only with a corpus in hand
    new Decl("ann_whitened_topk", (s, d) => Similarity.whitenedLshTopK(s, d),
      _.map { case (s, d) => whitenedTopkSql(s, d) }),

    // multi-probe: the query's bucket plus its ppb Hamming-1 neighbors
    // (each candidate lives in exactly one bucket, so no pair repeats;
    // the probe fan tracks the scale-derived plane count).
    decl("ann_lsh_multiprobe", (s, d) => Similarity.lshMultiProbeTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL0_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl0 p
         |),
         |b0 AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id
         |),
         |qp AS (
         |  SELECT q.vec_id AS q_id, u.probe
         |  FROM b0 q, lshp, unnest(list_prepend(q.bucket,
         |         list_transform(generate_series(0, lshp.ppb - 1),
         |                        i -> xor(q.bucket, CAST(1::BIGINT << i AS BIGINT))))) u(probe)
         |  WHERE q.vec_id < 20
         |),
         |p AS (
         |  SELECT qp.q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
         |  FROM qp JOIN b0 b ON b.bucket = qp.probe AND b.vec_id <> qp.q_id
         |  JOIN v qv ON qv.vec_id = qp.q_id JOIN v bv ON bv.vec_id = b.vec_id
         |)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM p
         |) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // NSW-style graph search — mirrors Similarity.graphTopK: the same
    // deterministic edge build (all-band bucket mates + ring + hashed
    // shortcut, top-M by cosine, symmetrized) and the beam walk
    // unrolled as one MATERIALIZED CTE per hop (the sample_kcenter
    // round-unrolling pattern).
    decl("ann_graph_topk", (s, d) => Similarity.graphTopK(s, d)) {
      val beam = graft.operators.Similarity.GraphBeam
      val hops = graft.operators.Similarity.GraphHops
      val ents = graft.operators.Similarity.GraphEntries
      val nq = graft.operators.Similarity.NumQueries
      val k = graft.operators.Similarity.TopK
      val hopCtes = (1 to hops).map { r =>
        s"""f$r AS MATERIALIZED (
           |  SELECT q_id, vec_id, cos FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
           |    FROM (SELECT DISTINCT q_id, vec_id, cos FROM (
           |      SELECT q_id, vec_id, cos FROM f${r - 1}
           |      UNION ALL
           |      SELECT f.q_id, ed.dst AS vec_id, ${duckCos("q.qe", "b.e")} AS cos
           |      FROM f${r - 1} f JOIN edges ed ON ed.src = f.vec_id
           |        JOIN v b ON b.vec_id = ed.dst JOIN q ON q.q_id = f.q_id))
           |  ) WHERE rnk <= $beam)""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$GRAPH_EDGE_CTES,
         |q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < $nq),
         |ent AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $ents),
         |f0 AS MATERIALIZED (
         |  SELECT q.q_id, ent.vec_id, ${duckCos("q.qe", "ent.e")} AS cos FROM q, ent),
         |$hopCtes
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM f$hops WHERE vec_id <> q_id
         |) WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
    },

    // graph-index health panel — mirrors Similarity.graphDegreeStats
    // over the SAME shared edge-build CTEs as the walk
    decl("ann_graph_degree_stats", (s, d) => Similarity.graphDegreeStats(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$GRAPH_EDGE_CTES,
         |sc2 AS (
         |  SELECT e.src, CAST(ROUND(${duckCos("a.e", "b.e")} * 1000000) AS BIGINT) AS cu
         |  FROM edges e JOIN v a ON a.vec_id = e.src JOIN v b ON b.vec_id = e.dst),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree,
         |               CAST(sum(cu) AS BIGINT) AS s
         |        FROM sc2 GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
         |  ${halfUpSql("CAST(sum(s) AS BIGINT)", "degree * CAST(count(*) AS BIGINT)")} AS mean_cos_u6
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),

    // per-subspace PQ quantization error — mirrors
    // Similarity.pqErrorStats over the SAME trained-codebook CTEs
    decl("embeddings_pq_error", (s, d) => Similarity.pqErrorStats(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |${PqOracleCtes.ctes},
         |${PqOracleCtes.errCtes},
         |a1 AS (SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
         |         CAST(sum(eu) AS BIGINT) AS s,
         |         CAST(max(eu) AS BIGINT) AS max_err_u6
         |       FROM errs GROUP BY 1),
         |a2 AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS c
         |       FROM errs GROUP BY 1, 2),
         |a3 AS (SELECT sub, CAST(count(*) AS BIGINT) AS cells_used,
         |         CAST(max(c) AS BIGINT) AS top
         |       FROM a2 GROUP BY 1)
         |SELECT a1.sub AS sub, n_vecs, cells_used,
         |  ${ratio4Sql("top", "n_vecs")} AS top_cell_share4,
         |  ${halfUpSql("s", "n_vecs")} AS mean_err_u6, max_err_u6
         |FROM a1 JOIN a3 ON a3.sub = a1.sub ORDER BY sub""".stripMargin),

    // SQ8: per-dim min/max codebook, byte codes, asymmetric search of
    // the exact float query against the dequantized corpus — mirrors
    // Similarity.sqTopK over the shared SQ CTEs
    decl("ann_sq_topk", (s, d) => Similarity.sqTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |${sqCtes()},
         |p AS (
         |  SELECT q.vec_id AS q_id, h.vec_id, ${duckCosD("q.e", "h.xh")} AS approx_cos
         |  FROM v q JOIN sqh h ON h.vec_id <> q.vec_id
         |  WHERE q.vec_id < ${graft.operators.Similarity.NumQueries})
         |SELECT q_id, rank, vec_id, approx_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx_cos DESC, vec_id) AS rank FROM p)
         |WHERE rank <= ${graft.operators.Similarity.TopK} ORDER BY q_id, rank""".stripMargin),

    // two-stage SQ: byte-code scan selects k·RerankFactor candidates,
    // exact float cosine reranks ONLY those — mirrors
    // Similarity.sqRerankTopK over the shared SQ CTEs
    decl("ann_sq_rerank", (s, d) => Similarity.sqRerankTopK(s, d)) {
      val kf = graft.operators.Similarity.TopK *
        graft.operators.Similarity.RerankFactor
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |${sqCtes()},
         |p AS (
         |  SELECT q.vec_id AS q_id, h.vec_id, ${duckCosD("q.e", "h.xh")} AS approx_cos
         |  FROM v q JOIN sqh h ON h.vec_id <> q.vec_id
         |  WHERE q.vec_id < ${graft.operators.Similarity.NumQueries}),
         |cand AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY approx_cos DESC, vec_id) AS arank FROM p)
         |  WHERE arank <= $kf),
         |r AS (
         |  SELECT c.q_id, c.vec_id, ${duckCos("q.e", "x.e")} AS cos
         |  FROM cand c JOIN v q ON q.vec_id = c.q_id
         |              JOIN v x ON x.vec_id = c.vec_id)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id) AS rank FROM r)
         |WHERE rank <= ${graft.operators.Similarity.TopK} ORDER BY q_id, rank""".stripMargin
    },

    // IVF×SQ: the ann_ivf_kmeans coarse quantizer prunes to nprobe
    // cells, scoring reads the dequantized SQ codes — mirrors
    // Similarity.ivfSqTopK
    decl("ann_ivfsq_topk", (s, d) => Similarity.ivfSqTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af")},
         |members AS (SELECT cell, vec_id FROM af WHERE rn = 1),
         |qc AS (SELECT vec_id AS q_id, cell FROM af
         |       WHERE vec_id < ${graft.operators.Similarity.NumQueries} AND rn <= 2),
         |${sqCtes()},
         |p AS (
         |  SELECT qc.q_id, h.vec_id, ${duckCosD("qv.e", "h.xh")} AS approx_cos
         |  FROM qc JOIN members m ON m.cell = qc.cell
         |  JOIN sqh h ON h.vec_id = m.vec_id AND h.vec_id <> qc.q_id
         |  JOIN v qv ON qv.vec_id = qc.q_id)
         |SELECT q_id, rank, vec_id, approx_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx_cos DESC, vec_id) AS rank FROM p)
         |WHERE rank <= ${graft.operators.Similarity.TopK} ORDER BY q_id, rank""".stripMargin),

    // per-dimension SQ8 quantization error — mirrors
    // Similarity.sqErrorStats over the SAME stats CTE
    decl("embeddings_sq_error", (s, d) => Similarity.sqErrorStats(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |${sqCtes()},
         |errs AS (
         |  SELECT j - 1 AS dim, vec_id,
         |    CASE WHEN st.mx[j] = st.mn[j] THEN 0
         |         ELSE least(255, greatest(0,
         |           CAST(round((CAST(e[j] AS DOUBLE) - st.mn[j]) * 255.0 /
         |                      (st.mx[j] - st.mn[j])) AS INT))) END AS c,
         |    CASE WHEN st.mx[j] = st.mn[j] THEN st.mn[j]
         |         ELSE st.mn[j] + CAST(c AS DOUBLE) * (st.mx[j] - st.mn[j]) / 255.0
         |         END AS xh,
         |    CAST(round((CAST(e[j] AS DOUBLE) - xh) * (CAST(e[j] AS DOUBLE) - xh)
         |               * 1000000.0) AS BIGINT) AS eu
         |  FROM v, sqst st, (SELECT unnest(generate_series(1, 64)) AS j) s),
         |a1 AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
         |         CAST(sum(eu) AS BIGINT) AS s, CAST(max(eu) AS BIGINT) AS max_err_u6
         |       FROM errs GROUP BY 1),
         |a2 AS (SELECT dim, CAST(count(DISTINCT c) AS BIGINT) AS codes_used
         |       FROM errs GROUP BY 1)
         |SELECT a1.dim AS dim, n_vecs, codes_used,
         |  ${halfUpSql("s", "n_vecs")} AS mean_err_u6, max_err_u6
         |FROM a1 JOIN a2 ON a2.dim = a1.dim ORDER BY dim""".stripMargin),

    decl("ann_ivf_topk", (s, d) => Similarity.ivfTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, c_id AS cell, e FROM (
         |    SELECT v.vec_id, cent.c_id, v.e, ${duckCos("v.e", "cent.ce")} AS cos_c,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${duckCos("v.e", "cent.ce")} DESC, cent.c_id) AS rn
         |    FROM v, cent
         |  ) WHERE rn = 1
         |),
         |p AS (
         |  SELECT q.vec_id AS q_id, c.vec_id, ${duckCos("q.e", "c.e")} AS cos
         |  FROM assign q JOIN assign c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20
         |)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM p
         |) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // k-means IVF: 2 unrolled Lloyd iterations (assign/update) from the
    // first-8 seed, then nprobe=2 search over the final assignment.
    decl("ann_ivf_kmeans", (s, d) => Similarity.ivfKmeansTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af")},
         |members AS (SELECT cell, vec_id, e FROM af WHERE rn = 1),
         |qc AS (SELECT vec_id AS q_id, cell FROM af WHERE vec_id < 20 AND rn <= 2),
         |p AS (
         |  SELECT qc.q_id, m.vec_id, ${duckCos("qv.e", "m.e")} AS cos
         |  FROM qc JOIN members m ON m.cell = qc.cell AND m.vec_id <> qc.q_id
         |  JOIN v qv ON qv.vec_id = qc.q_id
         |)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM p
         |) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // IVF+PQ: the same trained codebooks and code table as ann_pq_topk,
    // but a query ADC-scores only the members of its nprobe k-means
    // cells (the coarse quantizer is the ann_ivf_kmeans training run,
    // replayed verbatim) — mirrors Similarity.ivfPqTopK.
    decl("ann_ivfpq_topk", (s, d) => Similarity.ivfPqTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af")},
         |members AS (SELECT cell, vec_id FROM af WHERE rn = 1),
         |qc AS (SELECT vec_id AS q_id, cell FROM af
         |       WHERE vec_id < ${graft.operators.Similarity.NumQueries} AND rn <= 2),
         |${PqOracleCtes.ctes},
         |p AS (
         |  SELECT w.q_id, x.vec_id,
         |    ${PqOracleCtes.adot} / (qn.qn * sqrt(${PqOracleCtes.xn})) AS approx_cos
         |  FROM qc JOIN members m ON m.cell = qc.cell
         |  JOIN x ON x.vec_id = m.vec_id
         |  JOIN lutw w ON w.q_id = qc.q_id
         |  CROSS JOIN nns
         |  JOIN qn ON qn.q_id = w.q_id
         |  WHERE x.vec_id <> w.q_id)
         |SELECT q_id, rank, vec_id, approx_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx_cos DESC, vec_id) AS rank FROM p)
         |WHERE rank <= ${graft.operators.Similarity.TopK} ORDER BY q_id, rank""".stripMargin),

    decl("cluster_kmeans", (s, d) => Similarity.clusterKmeans(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |fin AS (
         |  SELECT vec_id, c_id, cos FROM (
         |    SELECT v.vec_id, c.c_id, ${duckCosD("v.e", "c.ce")} AS cos,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${duckCosD("v.e", "c.ce")} DESC, c.c_id) AS rn
         |    FROM v, c2 c) WHERE rn = 1
         |)
         |SELECT vec_id, c_id AS cluster, ROUND(cos, 4) AS c_cos FROM fin
         |ORDER BY vec_id""".stripMargin),

    // Reuses the variant oracles plus the brute baseline as subqueries
    // (DuckDB allows WITH inside a derived table), so the report can
    // never drift from the per-variant oracles it grades. A ctx adds
    // the whitened variant's row.
    new Decl("ann_recall_report", (s, d) => Similarity.recallReport(s, d), ctx => Some {
      val whitenedRow = registry("ann_whitened_topk").oracle(ctx).map { sql =>
        s"""
           |  UNION ALL
           |  SELECT 'ann_lsh_whitened', count(*)
           |    FROM (SELECT q_id, vec_id FROM ($sql)) x JOIN b USING (q_id, vec_id)"""
          .stripMargin
      }.getOrElse("")
      s"""WITH b AS ${oracleOf("ann_brute_topk", "q_id, vec_id")},
         |hits AS (
         |  SELECT 'ann_ivf_kmeans' AS variant, count(*) AS n_hits
         |    FROM ${oracleOf("ann_ivf_kmeans", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_ivf_topk', count(*)
         |    FROM ${oracleOf("ann_ivf_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_ivfpq_topk', count(*)
         |    FROM ${oracleOf("ann_ivfpq_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_lsh_multiprobe', count(*)
         |    FROM ${oracleOf("ann_lsh_multiprobe", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_lsh_topk', count(*)
         |    FROM ${oracleOf("ann_lsh_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_pq_topk', count(*)
         |    FROM ${oracleOf("ann_pq_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_sq_topk', count(*)
         |    FROM ${oracleOf("ann_sq_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_sq_rerank', count(*)
         |    FROM ${oracleOf("ann_sq_rerank", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_ivfsq_topk', count(*)
         |    FROM ${oracleOf("ann_ivfsq_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_graph_topk', count(*)
         |    FROM ${oracleOf("ann_graph_topk", "q_id, vec_id")} x JOIN b USING (q_id, vec_id)$whitenedRow
         |)
         |SELECT variant, n_hits,
         |  ${ratio4Sql("n_hits",
                (graft.operators.Similarity.TopK.toLong *
                 graft.operators.Similarity.NumQueries).toString)} AS recall
         |FROM hits ORDER BY variant""".stripMargin
    }),

    // Replays the grown index: quantizers trained on the BUILD half
    // (even vec_ids — Lloyd seeds/iterations on vh; LSH plane count
    // derived from vh's size), then applied frozen to the FULL corpus
    // — exactly what saveIndexOf(half) + appendToIndex(half) leaves.
    // A ctx adds the whitened row, whose (μ, W) is trained on the build
    // half the same way.
    new Decl("ann_appended_recall", (s, d) => Similarity.appendedRecall(s, d), ctx => Some {
      val whitened = ctx.map { case (s, d) =>
        import org.apache.spark.sql.functions.col
        graft.operators.Spectral.whitenParamsOf(
          graft.Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").as("e"))
            .filter(col("vec_id") % 2 === 0))
      }
      val whitenedCtes = whitened.map { case (mu, w) =>
        s""",
           |${whitenedBucketCtes(mu, w, "wb0a")},
           |pw2 AS (
           |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
           |  FROM wb0a q JOIN wb0a b ON q.bucket = b.bucket AND b.vec_id <> q.vec_id
           |  JOIN v qv ON qv.vec_id = q.vec_id JOIN v bv ON bv.vec_id = b.vec_id
           |  WHERE q.vec_id < ${graft.operators.Similarity.NumQueries}),
           |whtop AS (SELECT q_id, vec_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM pw2) WHERE rank <= ${graft.operators.Similarity.TopK})"""
          .stripMargin
      }.getOrElse("")
      val whitenedRow = if (whitened.isDefined)
        s"""
           |  UNION ALL
           |  SELECT 'saved_whitened', count(*) FROM whtop x JOIN b USING (q_id, vec_id)"""
          .stripMargin
      else ""
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |vh AS (SELECT * FROM v WHERE vec_id % 2 = 0),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM vh WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1", "vh")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2", "vh")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af", "v")},
         |members AS (SELECT cell, vec_id, e FROM af WHERE rn = 1),
         |qc AS (SELECT vec_id AS q_id, cell FROM af WHERE vec_id < 20 AND rn <= 2),
         |pk AS (
         |  SELECT qc.q_id, m.vec_id, ${duckCos("qv.e", "m.e")} AS cos
         |  FROM qc JOIN members m ON m.cell = qc.cell AND m.vec_id <> qc.q_id
         |  JOIN v qv ON qv.vec_id = qc.q_id
         |),
         |kmtop AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM pk) WHERE rank <= 5),
         |lshp AS (
         |  SELECT CASE WHEN m <= 1 THEN ${graft.operators.Similarity.PlanesPerBand}
         |              ELSE greatest(${graft.operators.Similarity.PlanesPerBand},
         |                            CAST(floor(log2(CAST(m - 1 AS DOUBLE))) AS INT) + 1) END AS ppb
         |  FROM (SELECT (count(*) + ${graft.operators.Similarity.TargetBucket - 1})
         |               // ${graft.operators.Similarity.TargetBucket} AS m
         |        FROM embeddings WHERE vec_id % 2 = 0)),
         |$LSH_PL0_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl0 p
         |),
         |b0 AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id
         |),
         |pls AS (
         |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
         |  FROM b0 q JOIN b0 b ON q.bucket = b.bucket AND b.vec_id <> q.vec_id
         |  JOIN v qv ON qv.vec_id = q.vec_id JOIN v bv ON bv.vec_id = b.vec_id
         |  WHERE q.vec_id < 20
         |),
         |lshtop AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM pls) WHERE rank <= 5),
         |${sqCtes(statsSrc = "vh")},
         |psq AS (
         |  SELECT q.vec_id AS q_id, h.vec_id, ${duckCosD("q.e", "h.xh")} AS approx_cos
         |  FROM v q JOIN sqh h ON h.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20),
         |sqtop AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx_cos DESC, vec_id) AS rank FROM psq) WHERE rank <= 5)$whitenedCtes,
         |b AS (SELECT q_id, vec_id FROM ${oracleOf("ann_brute_topk", "q_id, vec_id")}),
         |hits AS (
         |  SELECT 'saved_ivf_kmeans' AS variant, count(*) AS n_hits
         |    FROM kmtop x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'saved_lsh', count(*) FROM lshtop x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'saved_sq', count(*) FROM sqtop x JOIN b USING (q_id, vec_id)$whitenedRow
         |)
         |SELECT variant, n_hits,
         |  ${ratio4Sql("n_hits",
                (graft.operators.Similarity.TopK.toLong *
                 graft.operators.Similarity.NumQueries).toString)} AS recall
         |FROM hits ORDER BY variant""".stripMargin
    }),

    decl("ann_filtered_topk", (s, d) => Similarity.filteredTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e, label FROM embeddings),
         |p AS (
         |  SELECT q.vec_id AS q_id, q.label, c.vec_id, ${duckCos("q.e", "c.e")} AS cos
         |  FROM v q JOIN v c ON q.label = c.label AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20
         |)
         |SELECT q_id, label, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM p
         |) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // PQ: per-subspace Lloyd codebooks + codes-only ADC scoring,
    // subspace CTEs generated from the operator's own constants
    decl("ann_pq_topk", (s, d) => Similarity.pqTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |${PqOracleCtes.ctes},
         |p AS (
         |  SELECT w.q_id, x.vec_id,
         |    ${PqOracleCtes.adot} / (qn.qn * sqrt(${PqOracleCtes.xn})) AS approx_cos
         |  FROM x CROSS JOIN lutw w CROSS JOIN nns
         |  JOIN qn ON qn.q_id = w.q_id
         |  WHERE x.vec_id <> w.q_id)
         |SELECT q_id, rank, vec_id, approx_cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx_cos DESC, vec_id) AS rank FROM p)
         |WHERE rank <= ${graft.operators.Similarity.TopK} ORDER BY q_id, rank""".stripMargin),

    // embedding-graph components: the dedup_embedding pair CTEs + the
    // same reachability closure the shingle-graph components oracle uses
    decl("dedup_semantic_components", (s, d) => Similarity.semanticComponents(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl p
         |),
         |buckets AS (
         |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, p//ppb
         |),
         |r AS (
         |  SELECT vec_id, band, bucket,
         |    row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn,
         |    count(*) OVER (PARTITION BY band, bucket) AS bsz
         |  FROM buckets
         |),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM r x JOIN r y ON x.band = y.band AND x.bucket = y.bucket
         |    AND y.rn > x.rn
         |    AND (x.bsz <= ${graft.operators.Similarity.TargetBucket}
         |         OR y.rn <= x.rn + ${graft.operators.Similarity.NeighborWindow})
         |),
         |p AS (
         |  SELECT c.v1, c.v2
         |  FROM cand c JOIN v a ON a.vec_id = c.v1 JOIN v b ON b.vec_id = c.v2
         |  WHERE ${duckCos("a.e", "b.e")} >= ${graft.operators.Similarity.NearDupTau}
         |),
         |edges AS (SELECT v1, v2 FROM p UNION SELECT v2, v1 FROM p),
         |${labelPropCtes(node = "vec_id", a = "v1", b = "v2")}
         |SELECT vec_id, component_id FROM comp
         |ORDER BY vec_id""".stripMargin),

    // SemDeDup: train (2 Lloyd rounds, the cluster_kmeans CTEs), assign
    // every vector (a3), pairwise cosine only WITHIN a cell, duplicate =
    // any earlier same-cell vector within tau
    decl("dedup_semdedup", (s, d) => Similarity.semDedup(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "a3")},
         |m AS (SELECT vec_id, cell, e FROM a3 WHERE rn = 1),
         |dup AS (SELECT DISTINCT y.vec_id AS vec_id
         |        FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |        WHERE ${duckCos("x.e", "y.e")} >= ${Similarity.NearDupTau})
         |SELECT m.vec_id AS vec_id, m.cell AS cluster,
         |  (dup.vec_id IS NOT NULL) AS is_dup
         |FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
         |ORDER BY m.vec_id""".stripMargin),

    // embedding-table dq: micro-unit lift (the engine-exact ROUND(x·1e6)
    // primitive), per-vector norm² kept in 1e-6 units so label sums
    // stay int64 at any corpus size
    decl("embeddings_norm_audit", (s, d) => Similarity.normAudit(s, d)) {
      val q = "CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
      s"""WITH v AS (
         |  SELECT CAST(label AS BIGINT) AS label, embedding,
         |    CASE WHEN embedding IS NOT NULL THEN CAST(${halfUpSql(
               s"CAST(list_sum(list_transform(embedding, x -> $q * $q)) AS BIGINT)",
               "1000000")} AS BIGINT) END AS nq2_u6
         |  FROM embeddings)
         |SELECT label, count(*) AS n_vecs,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NULL THEN 1 END), 0) AS BIGINT) AS n_null,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL
         |    AND len(embedding) <> ${graft.operators.Similarity.Dim} THEN 1 END), 0) AS BIGINT) AS n_bad_dim,
         |  CAST(coalesce(sum(CASE WHEN nq2_u6 = 0 THEN 1 END), 0) AS BIGINT) AS n_zero,
         |  min(nq2_u6) AS min_norm2_u6,
         |  max(nq2_u6) AS max_norm2_u6,
         |  CASE WHEN count(*) > coalesce(sum(CASE WHEN embedding IS NULL THEN 1 END), 0)
         |       THEN CAST(${halfUpSql(
               "CAST(sum(nq2_u6) AS BIGINT)",
               "(count(*) - coalesce(sum(CASE WHEN embedding IS NULL THEN 1 END), 0))")} AS BIGINT)
         |       END AS mean_norm2_u6
         |FROM v GROUP BY label ORDER BY label""".stripMargin
    },

    // k-means balance panel: the cluster_kmeans train+assign CTEs, then
    // per-cluster rollup of the micro-lifted assignment cosine
    decl("cluster_balance_report", (s, d) => Similarity.clusterBalance(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |fin AS (
         |  SELECT vec_id, c_id, cos FROM (
         |    SELECT v.vec_id, c.c_id, ${duckCosD("v.e", "c.ce")} AS cos,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${duckCosD("v.e", "c.ce")} DESC, c.c_id) AS rn
         |    FROM v, c2 c) WHERE rn = 1
         |),
         |u AS (SELECT c_id, CAST(ROUND(cos * 1000000) AS BIGINT) AS cu FROM fin),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS tv FROM u)
         |SELECT c_id AS cluster, count(*) AS n_vecs,
         |  ${ratio4Sql("count(*)", "tv")} AS share,
         |  min(cu) AS min_cos_u6, max(cu) AS max_cos_u6,
         |  CAST(${halfUpSql("CAST(sum(cu) AS BIGINT) + count(*) * 1000000",
             "count(*)")} - 1000000 AS BIGINT) AS mean_cos_u6
         |FROM u CROSS JOIN tot GROUP BY c_id, tv ORDER BY cluster""".stripMargin),

    // query-anchored LSH radius search — mirrors Similarity.rangeSearch
    decl("ann_range_search", (s, d) => Similarity.rangeSearch(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl p
         |),
         |buckets AS (
         |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, p//ppb
         |),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS vec_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
         |  WHERE x.vec_id < ${graft.operators.Similarity.NumQueries}
         |)
         |SELECT c.q_id AS q_id, c.vec_id AS vec_id, ${duckCos("a.e", "b.e")} AS cos
         |FROM cand c JOIN v a ON a.vec_id = c.q_id JOIN v b ON b.vec_id = c.vec_id
         |WHERE ${duckCos("a.e", "b.e")} >= ${graft.operators.Similarity.RangeTau}
         |ORDER BY c.q_id, c.vec_id""".stripMargin),

    // greedy farthest-point selection trace — mirrors Similarity.kcenterSample
    // (materialized CTEs: each round is referenced twice, and default
    // inlining would re-evaluate the whole chosen-set chain per round —
    // the dedup_graph_rank lesson)
    decl("sample_kcenter", (s, d) => Similarity.kcenterSample(s, d)) {
      val k = graft.operators.Similarity.KCenterK
      val rounds = (2 to k).map { r =>
        s"""c$r AS MATERIALIZED (
           |  SELECT x.vec_id, x.e, max(${duckCos("x.e", "c.e")}) AS mc
           |  FROM v x, ch${r - 1} c
           |  WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
           |  GROUP BY x.vec_id, x.e),
           |s$r AS MATERIALIZED (
           |  SELECT CAST($r AS BIGINT) AS rank, vec_id, e, mc AS far_cos
           |  FROM c$r ORDER BY mc, vec_id LIMIT 1),
           |ch$r AS MATERIALIZED (
           |  SELECT vec_id, e FROM ch${r - 1}
           |  UNION ALL SELECT vec_id, e FROM s$r)""".stripMargin
      }.mkString(",\n")
      val unioned = (1 to k)
        .map(r => s"SELECT rank, vec_id, far_cos FROM s$r")
        .mkString(" UNION ALL ")
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |s1 AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, e, CAST(NULL AS DOUBLE) AS far_cos
         |  FROM v ORDER BY vec_id LIMIT 1),
         |ch1 AS MATERIALIZED (SELECT vec_id, e FROM s1),
         |$rounds
         |SELECT rank, vec_id, far_cos FROM ($unioned) ORDER BY rank""".stripMargin
    },

    // per-vector prototypicality — the cluster_kmeans train+assign CTEs,
    // micro-lifted cosine, exact per-cluster mean, integer band ladder
    decl("cluster_prototypicality", (s, d) => Similarity.prototypicality(s, d)) {
      val ladder = graft.operators.Similarity.ProtoBands
        .map { case (_, l, lb) => s"WHEN dev_u6 >= $lb THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'outlier' END")
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |fin AS (
         |  SELECT vec_id, c_id, cos FROM (
         |    SELECT v.vec_id, c.c_id, ${duckCosD("v.e", "c.ce")} AS cos,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${duckCosD("v.e", "c.ce")} DESC, c.c_id) AS rn
         |    FROM v, c2 c) WHERE rn = 1
         |),
         |u AS (SELECT vec_id, c_id, CAST(ROUND(cos * 1000000) AS BIGINT) AS cu FROM fin),
         |means AS (SELECT c_id,
         |    CAST(${halfUpSql("CAST(sum(cu) AS BIGINT) + count(*) * 1000000",
               "count(*)")} - 1000000 AS BIGINT) AS mean_u6
         |  FROM u GROUP BY c_id),
         |d AS (SELECT vec_id, c_id, cu, cu - mean_u6 AS dev_u6
         |      FROM u JOIN means USING (c_id))
         |SELECT vec_id, c_id AS cluster, cu AS cos_u6, dev_u6,
         |  $ladder AS band
         |FROM d ORDER BY vec_id""".stripMargin
    },

    // embedding-space decontamination — mirrors Similarity.semanticContamination
    decl("contamination_semantic", (s, d) => Similarity.semanticContamination(s, d)) {
      val M = graft.operators.Similarity.EvalMod
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |$LSHP_CTE,
         |$LSH_PL_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl p
         |),
         |buckets AS (
         |  SELECT vec_id, p//ppb AS band, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id, p//ppb
         |),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS eval_id
         |  FROM buckets x JOIN buckets y
         |    ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.vec_id % $M <> 0 AND y.vec_id % $M = 0
         |),
         |sc AS (
         |  SELECT c.vec_id, c.eval_id, ${duckCos("a.e", "b.e")} AS cos
         |  FROM cand c JOIN v a ON a.vec_id = c.vec_id
         |              JOIN v b ON b.vec_id = c.eval_id
         |  WHERE ${duckCos("a.e", "b.e")} >= ${graft.operators.Similarity.RangeTau}
         |),
         |r AS (SELECT vec_id, eval_id, cos,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, eval_id) AS rn,
         |        CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_hits
         |      FROM sc)
         |SELECT vec_id, n_hits, cos AS max_cos, eval_id AS nearest_eval
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },

    // SPANN-style boundary-replicated IVF — mirrors Similarity.ivfReplicatedTopK
    decl("ann_ivf_replicated", (s, d) => Similarity.ivfReplicatedTopK(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |rk AS (
         |  SELECT x.vec_id, c.c_id, x.e, ${duckCosD("x.e", "c.ce")} AS cs,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${duckCosD("x.e", "c.ce")} DESC, c.c_id) AS rn
         |  FROM v x, c2 c),
         |a AS (
         |  SELECT r1.vec_id, r1.e, r1.c_id AS cell1, r1.cs AS cs1,
         |         r2.c_id AS cell2, r2.cs AS cs2
         |  FROM rk r1 JOIN rk r2 ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2),
         |members AS (
         |  SELECT vec_id, cell1 AS cell, e FROM a
         |  UNION ALL
         |  SELECT vec_id, cell2, e FROM a
         |  WHERE cs2 >= cs1 - ${graft.operators.Similarity.ReplicaEps}),
         |p AS (
         |  SELECT qa.vec_id AS q_id, m.vec_id, ${duckCos("qa.e", "m.e")} AS cos
         |  FROM a qa JOIN members m ON m.cell = qa.cell1 AND m.vec_id <> qa.vec_id
         |  WHERE qa.vec_id < 20)
         |SELECT q_id, rank, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM p) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // per-dimension moment audit — mirrors Similarity.dimStats
    decl("embeddings_dim_stats", (s, d) => Similarity.dimStats(s, d))(
      s"""WITH v AS (SELECT embedding AS e FROM embeddings),
         |x AS (
         |  SELECT CAST(g.i - 1 AS BIGINT) AS dim,
         |    CAST(ROUND(CAST(e[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS u6,
         |    CAST(ROUND(CAST(e[g.i] AS DOUBLE) * 1000.0) AS BIGINT) AS u3
         |  FROM v, generate_series(1, 64) g(i)),
         |a AS (
         |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(u6) AS BIGINT) AS sum_u6,
         |    min(u6) AS min_u6, max(u6) AS max_u6,
         |    CAST(sum(CASE WHEN u6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |    CAST(sum(u3 * u3) AS BIGINT) AS sumsq_u3
         |  FROM x GROUP BY 1)
         |SELECT dim, n, sum_u6, min_u6, max_u6, n_zero,
         |  CAST(sum_u6 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_u6,
         |  CAST(sumsq_u3 AS DOUBLE) / CAST(n AS DOUBLE) AS meansq_u6
         |FROM a ORDER BY dim""".stripMargin),

    // Fellegi–Sunter linkage calibration
    // exact upper-triangle second moments over the u3-quantized
    // embeddings — mirrors Spectral.covariance (the oracle pays the
    // unnest² pair form the engine's one-pass GramSumAgg avoids)
    decl("embeddings_covariance", (s, d) => Spectral.covariance(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |x AS (SELECT vec_id, CAST(g.i - 1 AS BIGINT) AS i,
         |        CAST(ROUND(CAST(e[g.i] AS DOUBLE) * 1000.0) AS BIGINT) AS u3
         |      FROM v, generate_series(1, ${graft.operators.Similarity.Dim}) g(i))
         |SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(a.u3) AS BIGINT) AS s_i, CAST(sum(b.u3) AS BIGINT) AS s_j,
         |  CAST(sum(a.u3 * b.u3) AS BIGINT) AS p_ij
         |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // per-dim centroid drift between the even/odd snapshot halves —
    // mirrors Spectral.snapshotDrift (shifted halfUp centroids, shift
    // cancelling exactly in the difference)
    decl("embeddings_snapshot_drift", (s, d) => Spectral.snapshotDrift(s, d)) {
      val K = graft.operators.Spectral.CentShift
      s"""WITH $EMB_U3_CTE,
         |h AS (SELECT (vec_id % 2 = 0) AS is_a, i,
         |        CAST(count(*) AS BIGINT) AS n, CAST(sum(u3) AS BIGINT) AS s
         |      FROM embu3 GROUP BY 1, 2),
         |a AS (SELECT i, n AS n_a, s AS s_a FROM h WHERE is_a),
         |b AS (SELECT i, n AS n_b, s AS s_b FROM h WHERE NOT is_a)
         |SELECT i, n_a, n_b, s_a, s_b,
         |  CAST(((s_a + $K * n_a) * 1000 + n_a // 2) // n_a
         |     - ((s_b + $K * n_b) * 1000 + n_b // 2) // n_b AS BIGINT)
         |    AS delta_micro
         |FROM a JOIN b USING (i) ORDER BY i""".stripMargin
    },

    // per-label cluster geometry off the u3-quantized grouped moments —
    // mirrors Spectral.labelScatter (shifted halfUp centroids so every
    // divide stays positive: Spark div trunc == DuckDB // floor)
    decl("embeddings_label_scatter", (s, d) => Spectral.labelScatter(s, d)) {
      val K = graft.operators.Spectral.CentShift
      s"""WITH $EMB_U3_CTE,
         |bl AS (SELECT label, i, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(u3) AS BIGINT) AS s,
         |         CAST(sum(u3 * u3) AS BIGINT) AS p
         |       FROM embu3 GROUP BY 1, 2),
         |gl AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(u3) AS BIGINT) AS s
         |       FROM embu3 GROUP BY 1),
         |per AS (SELECT bl.label AS label, bl.n AS n,
         |    ${halfUpSql(s"(bl.s + $K * bl.n) * 1000", "bl.n")} AS cl,
         |    ${halfUpSql(s"(gl.s + $K * gl.n) * 1000", "gl.n")} AS cg,
         |    ${halfUpSql("(bl.n * bl.p - bl.s * bl.s) * 100", "bl.n * bl.n")}
         |      * 10000 AS w
         |  FROM bl JOIN gl USING (i)),
         |lab AS (SELECT label, min(n) AS n_vecs,
         |          CAST(sum((cl - cg) * (cl - cg)) AS BIGINT) AS dist2_micro,
         |          CAST(sum(w) AS BIGINT) AS within_trace_micro
         |        FROM per GROUP BY 1)
         |SELECT label, n_vecs, dist2_micro, within_trace_micro,
         |  ${ratio4Sql("dist2_micro", "greatest(within_trace_micro, 1)")} AS sep4
         |FROM lab ORDER BY label""".stripMargin
    },

    // top-k vectors by exact squared distance to the shifted global
    // quantized centroid — mirrors Spectral.outliers
    decl("embeddings_outliers", (s, d) => Spectral.outliers(s, d)) {
      val K = graft.operators.Spectral.CentShift
      s"""WITH $EMB_U3_CTE,
         |gl AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(u3) AS BIGINT) AS s
         |       FROM embu3 GROUP BY 1),
         |cc AS (SELECT i, ${halfUpSql(s"(s + $K * n) * 1000", "n")} AS c FROM gl),
         |d2 AS (SELECT embu3.vec_id AS vec_id,
         |         CAST(sum(((u3 + $K) * 1000 - c) * ((u3 + $K) * 1000 - c))
         |           AS BIGINT) AS d2_micro
         |       FROM embu3 JOIN cc USING (i) GROUP BY 1)
         |SELECT vec_id, d2_micro FROM d2
         |ORDER BY d2_micro DESC, vec_id LIMIT 20""".stripMargin
    },

    // per-cell IVF balance profile — mirrors Similarity.ivfCellProfile
    // (same assignment rule as ann_ivf_topk's shared CTE)
    decl("ann_ivf_cell_profile", (s, d) => Similarity.ivfCellProfile(s, d))(
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |cent AS (SELECT vec_id AS c_id, e AS ce FROM v WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, c_id AS cell FROM (
         |    SELECT v.vec_id, cent.c_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ${duckCos("v.e", "cent.ce")} DESC, cent.c_id) AS rn
         |    FROM v, cent
         |  ) WHERE rn = 1
         |),
         |c AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |      FROM assign GROUP BY 1),
         |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t,
         |        CAST(count(*) AS BIGINT) AS nc FROM c)
         |SELECT cell, n_vecs,
         |  ${ratio4Sql("n_vecs", "t")} AS share4,
         |  ${ratio4Sql("n_vecs * nc", "t")} AS skew_x4
         |FROM c CROSS JOIN t ORDER BY cell""".stripMargin),

    // byte-identical vector manifest — mirrors Spectral.exactDups
    // (md5 over the comma-joined u3 coordinates)
    decl("embeddings_exact_dups", (s, d) => Spectral.exactDups(s, d))(
      s"""WITH c AS (
         |  SELECT vec_id, md5(array_to_string(list_transform(embedding, x ->
         |    CAST(CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS VARCHAR)),
         |    ',')) AS checksum
         |  FROM embeddings)
         |SELECT vec_id, checksum,
         |  min(vec_id) OVER (PARTITION BY checksum) AS keep_vec,
         |  vec_id <> min(vec_id) OVER (PARTITION BY checksum) AS is_copy
         |FROM c ORDER BY vec_id""".stripMargin),

    // merge-on-read index deletion replay: quantizers trained on the
    // FULL corpus (exactly what saveIndexOf leaves), searches over the
    // live (vec_id % DeleteMod != 0) artifact subset, brute baseline
    // over the surviving corpus; n_deleted_hits is structurally zero
    // here and ASSERTS the engine's computed count
    decl("ann_delete_recall", (s, d) => Similarity.deleteRecall(s, d)) {
      val K = graft.operators.Similarity.TopK
      val NQ = graft.operators.Similarity.NumQueries
      val M = graft.operators.Similarity.DeleteMod
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af")},
         |members AS (SELECT cell, vec_id, e FROM af
         |            WHERE rn = 1 AND vec_id % $M <> 0),
         |qc AS (SELECT vec_id AS q_id, cell FROM af
         |       WHERE vec_id < $NQ AND vec_id % $M <> 0 AND rn <= 2),
         |pk AS (
         |  SELECT qc.q_id, m.vec_id, ${duckCos("qv.e", "m.e")} AS cos
         |  FROM qc JOIN members m ON m.cell = qc.cell AND m.vec_id <> qc.q_id
         |  JOIN v qv ON qv.vec_id = qc.q_id),
         |kmtop AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM pk) WHERE rank <= $K),
         |$LSHP_CTE,
         |$LSH_PL0_CTE,
         |bits AS (
         |  SELECT vec_id, p.p, p.ppb, CASE WHEN $DUCK_PROJ > 0 THEN 1 ELSE 0 END AS bit
         |  FROM v, pl0 p),
         |b0 AS (
         |  SELECT vec_id, CAST(SUM(CASE WHEN bit = 1 THEN (1::BIGINT << (p%ppb)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM bits GROUP BY vec_id),
         |b0l AS (SELECT * FROM b0 WHERE vec_id % $M <> 0),
         |pls AS (
         |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
         |  FROM b0l q JOIN b0l b ON q.bucket = b.bucket AND b.vec_id <> q.vec_id
         |  JOIN v qv ON qv.vec_id = q.vec_id JOIN v bv ON bv.vec_id = b.vec_id
         |  WHERE q.vec_id < $NQ),
         |lshtop AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM pls) WHERE rank <= $K),
         |${sqCtes()},
         |psq AS (
         |  SELECT q.vec_id AS q_id, h.vec_id, ${duckCosD("q.e", "h.xh")} AS approx_cos
         |  FROM v q JOIN sqh h ON h.vec_id <> q.vec_id AND h.vec_id % $M <> 0
         |  WHERE q.vec_id < $NQ AND q.vec_id % $M <> 0),
         |sqtop AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx_cos DESC, vec_id) AS rank FROM psq) WHERE rank <= $K),
         |bl AS (
         |  SELECT q.vec_id AS q_id, x.vec_id, ${duckCos("q.e", "x.e")} AS cos
         |  FROM v q JOIN v x ON x.vec_id <> q.vec_id AND x.vec_id % $M <> 0
         |  WHERE q.vec_id < $NQ AND q.vec_id % $M <> 0),
         |b AS (SELECT q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM bl) WHERE rank <= $K),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v
         |       WHERE vec_id < $NQ AND vec_id % $M <> 0),
         |hits AS (
         |  SELECT 'saved_ivf_kmeans' AS variant, count(*) AS n_hits,
         |    CAST(0 AS BIGINT) AS n_deleted_hits
         |    FROM kmtop x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'saved_lsh', count(*), CAST(0 AS BIGINT)
         |    FROM lshtop x JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'saved_sq', count(*), CAST(0 AS BIGINT)
         |    FROM sqtop x JOIN b USING (q_id, vec_id))
         |SELECT variant, n_hits, n_deleted_hits,
         |  ${ratio4Sql("n_hits", s"$K * nq.n")} AS recall
         |FROM hits CROSS JOIN nq ORDER BY variant""".stripMargin
    },

    decl("ann_ivf_probe_curve", (s, d) => Similarity.ivfProbeCurve(s, d)) {
      // recall@k vs nprobe over the shared Lloyd assignment: af's rn IS
      // the probe ranking (cos to centroid desc, c_id) — mirrors
      // Similarity.ivfProbeCurve
      val S = graft.operators.Similarity
      val denom = (S.NumQueries * S.TopK).toString
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af")},
         |members AS (SELECT cell, vec_id, e FROM af WHERE rn = 1),
         |b AS ${oracleOf("ann_brute_topk", "q_id, vec_id")},
         |np(nprobe) AS (SELECT CAST(unnest([${S.ProbeGrid.mkString(", ")}]) AS BIGINT)),
         |qc AS (SELECT vec_id AS q_id, cell, rn FROM af WHERE vec_id < ${S.NumQueries}),
         |p AS (
         |  SELECT np.nprobe, qc.q_id, m.vec_id, ${duckCos("qv.e", "m.e")} AS cos
         |  FROM np JOIN qc ON qc.rn <= np.nprobe
         |  JOIN members m ON m.cell = qc.cell AND m.vec_id <> qc.q_id
         |  JOIN v qv ON qv.vec_id = qc.q_id),
         |tk AS (SELECT nprobe, q_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
         |    ORDER BY cos DESC, vec_id) AS r FROM p) WHERE r <= ${S.TopK}),
         |hits AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM tk JOIN b USING (q_id, vec_id) GROUP BY 1)
         |SELECT np.nprobe, CAST(${S.NumQueries} AS BIGINT) AS n_queries,
         |  CAST(${S.TopK} AS BIGINT) AS topk,
         |  coalesce(hits.n_hits, 0) AS n_hits,
         |  ${ratio4Sql("coalesce(hits.n_hits, 0)", denom)} AS recall4
         |FROM np LEFT JOIN hits ON hits.nprobe = np.nprobe
         |ORDER BY np.nprobe""".stripMargin
    },

    // sampled silhouette over the trained assignment: u6-lifted pair
    // distances, halfUp per-(point,cluster) means BEFORE the a/b
    // comparison, s = (b−a)/max(a,b) in ppm — mirrors
    // Similarity.silhouette
    decl("cluster_silhouette", (s, d) => Similarity.silhouette(s, d)) {
      val nS = graft.operators.Similarity.SilhouetteQueries
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |c0 AS (SELECT vec_id AS c_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS ce
         |       FROM v WHERE vec_id < 8),
         |${kmAssignCte("c0", "a1")},
         |${kmUpdateCte("a1", "c1")},
         |${kmAssignCte("c1", "a2")},
         |${kmUpdateCte("a2", "c2")},
         |${kmAssignCte("c2", "af")},
         |m AS (SELECT vec_id, cell, e FROM af WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, cell AS q_cell, e AS qe
         |      FROM m WHERE vec_id < $nS),
         |p AS (
         |  SELECT q.q_id, q.q_cell, m.cell,
         |    1000000 - CAST(ROUND(${duckCos("q.qe", "m.e")} * 1000000) AS BIGINT) AS du6
         |  FROM q JOIN m ON m.vec_id <> q.q_id),
         |g AS (SELECT q_id, q_cell, cell, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(du6) AS BIGINT) AS sd
         |      FROM p GROUP BY 1, 2, 3),
         |mm AS (SELECT q_id, q_cell, cell,
         |         CAST(${halfUpSql("sd", "n")} AS BIGINT) AS mean_u6 FROM g),
         |ab AS (SELECT q_id, q_cell,
         |         max(CASE WHEN cell = q_cell THEN mean_u6 END) AS a,
         |         min(CASE WHEN cell <> q_cell THEN mean_u6 END) AS b
         |       FROM mm GROUP BY 1, 2),
         |s AS (SELECT q_id, q_cell,
         |        CAST(CASE WHEN a IS NULL OR b IS NULL THEN 0
         |          ELSE (CASE WHEN b < a THEN -1 ELSE 1 END) *
         |            (${halfUpSql("abs(b - a) * 1000000",
                        "greatest(greatest(a, b), 1)")})
         |          END AS BIGINT) AS s_ppm
         |      FROM ab)
         |SELECT q_cell AS cluster, CAST(count(*) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         |  CAST((CASE WHEN sum(s_ppm) < 0 THEN -1 ELSE 1 END) *
         |    (${halfUpSql("abs(CAST(sum(s_ppm) AS BIGINT))",
               "CAST(count(*) AS BIGINT)")}) AS BIGINT) AS mean_s_ppm,
         |  CAST(min(s_ppm) AS BIGINT) AS min_s_ppm,
         |  CAST(max(s_ppm) AS BIGINT) AS max_s_ppm
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },

    decl("ann_recall_at_k", (s, d) => Similarity.recallAtK(s, d)) {
      // recall@k prefixes of the shipped top-ks vs the brute baseline
      // at the same cutoff — mirrors Similarity.recallAtK
      val S = graft.operators.Similarity
      val nQ = S.NumQueries
      s"""WITH b AS ${oracleOf("ann_brute_topk", "q_id, rank, vec_id")},
         |ks(k) AS (SELECT CAST(unnest([${S.RecallKs.mkString(", ")}]) AS BIGINT)),
         |spine AS (
         |  SELECT v.variant, ks.k
         |  FROM (VALUES ('ann_ivf_kmeans'), ('ann_lsh_multiprobe')) v(variant), ks),
         |j AS (
         |  SELECT 'ann_ivf_kmeans' AS variant, a.rank AS rv, b.rank AS rb
         |  FROM ${oracleOf("ann_ivf_kmeans", "q_id, rank, vec_id")} a JOIN b USING (q_id, vec_id)
         |  UNION ALL
         |  SELECT 'ann_lsh_multiprobe', a.rank, b.rank
         |  FROM ${oracleOf("ann_lsh_multiprobe", "q_id, rank, vec_id")} a JOIN b USING (q_id, vec_id)),
         |hits AS (
         |  SELECT j.variant, ks.k, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM j, ks WHERE j.rv <= ks.k AND j.rb <= ks.k
         |  GROUP BY 1, 2)
         |SELECT s.variant, s.k, coalesce(h.n_hits, 0) AS n_hits,
         |  ${ratio4Sql("coalesce(h.n_hits, 0)", s"s.k * $nQ")} AS recall4
         |FROM spine s LEFT JOIN hits h ON h.variant = s.variant AND h.k = s.k
         |ORDER BY s.variant, s.k""".stripMargin
    },

    // JL distortion histogram: u6-lifted projections/components, pure
    // int64 squared distances, one HUGEINT halfUp ppm ratio — mirrors
    // Similarity.rpDistortion
    decl("embeddings_rp_distortion", (s, d) => Similarity.rpDistortion(s, d)) {
      val S = graft.operators.Similarity
      s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings
         |           WHERE vec_id < ${S.RpSample}),
         |pl(p) AS (SELECT CAST(unnest(generate_series(0, ${S.RpPlanes - 1})) AS BIGINT)),
         |pj AS (SELECT vec_id, p.p,
         |         CAST(ROUND(($DUCK_PROJ) * 1000000) AS BIGINT) AS pu6
         |       FROM v, pl p),
         |cu AS (SELECT vec_id, g.k,
         |         CAST(ROUND(CAST(e[g.k] AS DOUBLE) * 1000000) AS BIGINT) AS cu6
         |       FROM v, generate_series(1, 64) g(k)),
         |od AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |         CAST(sum((a.cu6 - b.cu6) * (a.cu6 - b.cu6)) AS BIGINT) AS od2
         |       FROM cu a JOIN cu b ON a.k = b.k AND b.vec_id > a.vec_id
         |       GROUP BY 1, 2),
         |pd AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |         CAST(sum((a.pu6 - b.pu6) * (a.pu6 - b.pu6)) AS BIGINT) AS pd2
         |       FROM pj a JOIN pj b ON a.p = b.p AND b.vec_id > a.vec_id
         |       GROUP BY 1, 2),
         |r AS (SELECT i, j,
         |        CAST((2 * CAST(pd2 AS HUGEINT) * 1000000
         |          + ${S.RpPlanes} * CAST(od2 AS HUGEINT))
         |          // (2 * ${S.RpPlanes} * CAST(od2 AS HUGEINT)) AS BIGINT) AS ratio_ppm
         |      FROM od JOIN pd USING (i, j) WHERE od2 > 0)
         |SELECT ratio_ppm // ${S.RpBandPpm} AS band,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(${halfUpSql("CAST(sum(ratio_ppm) AS BIGINT)", "count(*)")} AS BIGINT) AS mean_ppm,
         |  CAST(min(ratio_ppm) AS BIGINT) AS min_ppm,
         |  CAST(max(ratio_ppm) AS BIGINT) AS max_ppm
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    },

    decl("ann_recall_scaling", (s, d) => Similarity.recallScaling(s, d)) {
      // per prefix subset: adaptive ppb re-derived from the subset
      // count, band-0 bucket search vs brute over the SAME subset —
      // mirrors Similarity.recallScaling
      val S = graft.operators.Similarity
      val t = S.TargetBucket
      val frags = S.ScaleFracs.map { f =>
        val x = s"f$f"
        s"""n_$x AS (SELECT (SELECT count(*) FROM embeddings) // $f AS nf),
           |v_$x AS (SELECT vec_id, embedding AS e FROM embeddings, n_$x
           |         WHERE vec_id < nf),
           |lshp_$x AS (
           |  SELECT CASE WHEN m <= 1 THEN ${S.PlanesPerBand}
           |    ELSE greatest(${S.PlanesPerBand},
           |      CAST(floor(log2(CAST(m - 1 AS DOUBLE))) AS INT) + 1) END AS ppb
           |  FROM (SELECT (count(*) + ${t - 1}) // $t AS m FROM v_$x)),
           |pl_$x AS (SELECT ppb, unnest(generate_series(0, ppb - 1)) AS p
           |          FROM lshp_$x),
           |bits_$x AS (
           |  SELECT vec_id, p.p, p.ppb,
           |    CASE WHEN ${DUCK_PROJ} > 0 THEN 1 ELSE 0 END AS bit
           |  FROM v_$x v, pl_$x p),
           |b0_$x AS (
           |  SELECT vec_id, CAST(SUM(CASE WHEN bit = 1
           |    THEN (1::BIGINT << (p % ppb)) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM bits_$x GROUP BY vec_id),
           |p_$x AS (
           |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("qv.e", "bv.e")} AS cos
           |  FROM b0_$x q JOIN b0_$x b
           |    ON q.bucket = b.bucket AND b.vec_id <> q.vec_id
           |  JOIN v_$x qv ON qv.vec_id = q.vec_id
           |  JOIN v_$x bv ON bv.vec_id = b.vec_id
           |  WHERE q.vec_id < ${S.NumQueries}),
           |tk_$x AS (SELECT q_id, vec_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos DESC, vec_id) AS rank FROM p_$x)
           |  WHERE rank <= ${S.TopK}),
           |bp_$x AS (
           |  SELECT q.vec_id AS q_id, b.vec_id, ${duckCos("q.e", "b.e")} AS cos
           |  FROM v_$x q JOIN v_$x b ON b.vec_id <> q.vec_id
           |  WHERE q.vec_id < ${S.NumQueries}),
           |bt_$x AS (SELECT q_id, vec_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos DESC, vec_id) AS rank FROM bp_$x)
           |  WHERE rank <= ${S.TopK}),
           |row_$x AS (
           |  SELECT (SELECT CAST(nf AS BIGINT) FROM n_$x) AS n_vectors,
           |    (SELECT CAST(ppb AS BIGINT) FROM lshp_$x) AS planes_per_band,
           |    CAST(count(*) AS BIGINT) AS n_hits
           |  FROM tk_$x JOIN bt_$x USING (q_id, vec_id))""".stripMargin
      }
      s"""WITH ${frags.mkString(",\n")},
         |uni AS (${S.ScaleFracs.map(f => s"SELECT * FROM row_f$f")
            .mkString("\n UNION ALL ")})
         |SELECT n_vectors, planes_per_band, n_hits,
         |  ${ratio4Sql("n_hits", (S.TopK.toLong * S.NumQueries).toString)} AS recall4
         |FROM uni ORDER BY n_vectors""".stripMargin
    }
  )

  // ---- multimodal -------------------------------------------------------

  /** Binary-column metadata, exact and perceptual-hash dedup. */
  private def multimodal: Seq[Decl] = Seq(
    // payload = UTF-8 bytes of text; md5(varchar) in DuckDB hashes the
    // same bytes as Spark's md5(binary). Corpus is ASCII so the 4-char
    // magic slice equals the 4-byte slice.
    decl("multimodal_meta", (s, d) => Multimodal.meta(s, d))(
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  ${H64("text")} AS checksum,
         |  lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
         |FROM documents ORDER BY doc_id""".stripMargin),

    // binary-grain exact dedup: payload is the UTF-8 text bytes, so
    // md5(payload) == md5(text) and byte length == strlen(text); the
    // checksum is the FULL md5 hex (collision-safe, unlike h64)
    decl("multimodal_dedup", (s, d) => Multimodal.exactDedup(s, d))(
      s"""WITH c AS (
         |  SELECT doc_id, md5(text) AS checksum,
         |    CAST(strlen(text) AS BIGINT) AS n_bytes
         |  FROM documents)
         |SELECT doc_id, checksum, n_bytes,
         |  min(doc_id) OVER (PARTITION BY checksum) AS keep_doc,
         |  doc_id <> min(doc_id) OVER (PARTITION BY checksum) AS is_copy
         |FROM c ORDER BY doc_id""".stripMargin),

    // binary-grain near-dup: content-defined sampled byte shingles
    // (hex windows) through the SAME simhash/band/hamming chain as
    // dedup_simhash — mirrors Multimodal.nearDupPairsOf
    decl("multimodal_phash_dedup", (s, d) => Multimodal.nearDupPairs(s, d))(
      s"""WITH $PHASH_CTES
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hd FROM cand
         |WHERE bit_count(xor(s1, s2)) <= ${graft.operators.SimHash.HammingMax}
         |ORDER BY d1, d2""".stripMargin),

    // per-source storage savings over the exact binary-dedup grain —
    // mirrors Multimodal.dedupSavings (copy = not the min-doc_id keeper
    // of its checksum group, attributed to the COPY's source)
    decl("multimodal_dedup_savings", (s, d) => Multimodal.dedupSavings(s, d))(
      s"""WITH a AS (
         |  SELECT doc_id, source, md5(text) AS checksum,
         |    CAST(strlen(text) AS BIGINT) AS n_bytes
         |  FROM documents),
         |k AS (SELECT *,
         |        doc_id <> min(doc_id) OVER (PARTITION BY checksum) AS is_copy
         |      FROM a),
         |r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_assets,
         |        CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |        CAST(sum(CASE WHEN is_copy THEN 1 ELSE 0 END) AS BIGINT)
         |          AS dup_assets,
         |        CAST(sum(CASE WHEN is_copy THEN n_bytes ELSE 0 END) AS BIGINT)
         |          AS dup_bytes
         |      FROM k GROUP BY 1)
         |SELECT source, n_assets, total_bytes, dup_assets, dup_bytes,
         |  ${ratio4Sql("dup_bytes", "greatest(total_bytes, 1)")} AS savings4
         |FROM r ORDER BY source""".stripMargin),

    // the byte-band funnel: assets -> capped band rows -> candidates ->
    // Hamming-accepted pairs — mirrors Multimodal.phashFunnel (shared
    // PHASH_CTES so the funnel and the operator cannot drift)
    decl("multimodal_phash_funnel", (s, d) => Multimodal.phashFunnel(s, d))(
      s"""WITH $PHASH_CTES,
         |ac AS (SELECT CAST(count(*) AS BIGINT) AS n_assets FROM simh),
         |bc AS (SELECT CAST(count(*) AS BIGINT) AS n_banded_rows FROM bands),
         |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |         CAST(coalesce(sum(CASE WHEN bit_count(xor(s1, s2)) <=
         |             ${graft.operators.SimHash.HammingMax}
         |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
         |       FROM cand)
         |SELECT n_assets, n_banded_rows, n_candidates, n_pairs,
         |  ${ratio4Sql("n_pairs", "greatest(n_candidates, 1)")} AS verify_yield4
         |FROM ac CROSS JOIN bc CROSS JOIN cc""".stripMargin)
  )

  // ---- text -------------------------------------------------------------

  /** Per-document text analysis over `documents`. */
  private def text: Seq[Decl] = Seq(
    decl("text_token_count", (s, d) => TextAnalysis.tokenCount(s, d))(
      s"""SELECT doc_id,
         |  CAST(len($TOKS) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+', 0)) AS BIGINT) AS n_word_tokens,
         |  CAST(len(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT) AS n_num_tokens,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),

    decl("text_quality", (s, d) => TextAnalysis.quality(s, d))(
      s"""WITH q AS (
         |  SELECT doc_id, $TOKS AS toks,
         |    CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents
         |),
         |q2 AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
         |    len_no_ws
         |  FROM q
         |)
         |SELECT doc_id, n_toks, n_stop,
         |  ${ratio4Sql("len_no_ws", "n_toks")} AS mean_tok_len,
         |  ${ratio4Sql("n_stop", "n_toks")} AS stop_ratio,
         |  ${qKeySql("n_toks", "n_stop", "len_no_ws")} / 10000.0 AS quality_score
         |FROM q2 ORDER BY doc_id""".stripMargin),

    decl("text_language_id", (s, d) => TextAnalysis.languageId(s, d))(
      s"""WITH q AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    $LANG_CNTS_SQL
         |  FROM q
         |)
         |SELECT doc_id, n_en, n_de, n_es, n_fr, n_zh,
         |  $LANG_CASE_SQL AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin),

    decl("text_fingerprint", (s, d) => TextAnalysis.fingerprint(s, d))(
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($TOKS, t -> ${H64("t")} % 1000000007)),
         |    (acc, x) -> (acc*31 + x) % 1000000007) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin),

    // rational idf (N/df, no log): exact integer ratios in double —
    // engine-independent, and ranking is the semantic payload.
    decl("text_tfidf_topterms", (s, d) => TextAnalysis.tfidfTopTerms(s, d))(
      s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM tk)
         |SELECT doc_id, rnk, term, score FROM (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.term) AS rnk
         |  FROM tf JOIN df USING (term), n
         |) WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),

    // scrub parity: Spark's replace-all is DuckDB's 'g' flag; the digest
    // of the scrubbed text proves byte-identical redaction output.
    decl("text_scrub", (s, d) => TextAnalysis.scrub(s, d))(
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.UrlRe}', 0)) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', 0)) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '[0-9]{7,}', 0)) AS BIGINT) AS n_long_nums,
         |  ${H64("regexp_replace(regexp_replace(regexp_replace(text, '${graft.operators.TextAnalysis.UrlRe}', '<URL>', 'g'), '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), '[0-9]{7,}', '<NUM>', 'g')")} AS scrubbed_digest
         |FROM documents ORDER BY doc_id""".stripMargin),

    decl("text_inverted_index", (s, d) => Curation.invertedIndex(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |td AS (SELECT DISTINCT doc_id, term
         |       FROM (SELECT doc_id, unnest(t) AS term FROM toks))
         |SELECT term, count(*) AS df,
         |  array_to_string((list_sort(list(doc_id)))[1:5], ',') AS postings
         |FROM td GROUP BY term
         |ORDER BY df DESC, term LIMIT 20""".stripMargin),

    decl("docs_lang_pivot", (s, d) => CorpusStats.langPivot(s, d))(
      s"""SELECT source,
         |  count(*) FILTER (lang = 'de') AS n_de,
         |  count(*) FILTER (lang = 'en') AS n_en,
         |  count(*) FILTER (lang = 'es') AS n_es,
         |  count(*) FILTER (lang = 'fr') AS n_fr,
         |  count(*) FILTER (lang = 'zh') AS n_zh
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    decl("text_repetition", (s, d) => QualitySignals.repetition(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |g AS (
         |  SELECT doc_id, 2 AS n, unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> concat_ws(' ', t[i], t[i+1]))) AS g
         |  FROM toks WHERE len(t) >= 3
         |  UNION ALL
         |  SELECT doc_id, 3, unnest(list_transform(generate_series(1, len(t)-2),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
         |  FROM toks WHERE len(t) >= 3
         |),
         |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
         |a AS (
         |  SELECT doc_id,
         |    sum(c) FILTER (WHERE n = 2) AS n2,
         |    max(c) FILTER (WHERE n = 2) AS top2,
         |    sum(c) FILTER (WHERE n = 3) AS n3,
         |    coalesce(sum(c) FILTER (WHERE n = 3 AND c >= 2), 0) AS dup3
         |  FROM c GROUP BY 1)
         |SELECT doc_id, CAST(n2 AS BIGINT) AS n2, top2,
         |  ${ratio4Sql("top2", "n2")} AS top2_frac,
         |  CAST(n3 AS BIGINT) AS n3, CAST(dup3 AS BIGINT) AS dup3,
         |  ${ratio4Sql("dup3", "n3")} AS dup3_frac
         |FROM a ORDER BY doc_id""".stripMargin),

    decl("text_novelty", (s, d) => QualitySignals.novelty(s, d))(
      s"""WITH $SH_CTE,
         |d AS (SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  ${ratio4Sql("sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)", "count(*)")} AS novelty
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    decl("docs_source_quantiles", (s, d) => QualitySignals.sourceLengthStats(s, d))(
      s"""SELECT source, count(*) AS n_docs,
         |  quantile_cont(n_chars, 0.25) AS p25,
         |  quantile_cont(n_chars, 0.5) AS p50,
         |  quantile_cont(n_chars, 0.75) AS p75
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    decl("docs_shingle_profile", (s, d) => CorpusStats.shingleDfProfile(s, d))(
      s"""WITH $SH_CTE,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
         |SELECT df, count(*) AS n_shingles FROM dfs GROUP BY df ORDER BY df""".stripMargin),

    decl("text_bigram_coverage", (s, d) => CorpusStats.bigramCoverage(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> concat_ws(' ', t[i], t[i+1]))) AS pair
         |  FROM toks WHERE len(t) >= 2),
         |head AS (SELECT pair, count(*) AS n FROM bg GROUP BY pair
         |         ORDER BY n DESC, pair LIMIT 100),
         |per AS (
         |  SELECT doc_id, count(*) AS n_bigrams, count(head.pair) AS covered
         |  FROM bg LEFT JOIN head USING (pair) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, covered,
         |  ${ratio4Sql("covered", "n_bigrams")} AS coverage
         |FROM per ORDER BY doc_id""".stripMargin),

    decl("text_char_stats", (s, d) => TextAnalysis.charStats(s, d)) {
      def cnt(cls: String) =
        s"length(text) - length(regexp_replace(text, '$cls', '', 'g'))"
      s"""WITH c AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(${cnt("[A-Z]")} AS BIGINT) AS n_upper,
         |    CAST(${cnt("[a-z]")} AS BIGINT) AS n_lower,
         |    CAST(${cnt("[0-9]")} AS BIGINT) AS n_digit,
         |    CAST(${cnt(WS)} AS BIGINT) AS n_space
         |  FROM documents)
         |SELECT doc_id, n_chars, n_upper, n_lower, n_digit, n_space,
         |  ${ratio4Sql("n_upper", "greatest(n_chars, 1)")} AS upper_ratio,
         |  ${ratio4Sql("n_digit", "greatest(n_chars, 1)")} AS digit_ratio,
         |  ${ratio4Sql("n_space", "greatest(n_chars, 1)")} AS space_ratio
         |FROM c ORDER BY doc_id""".stripMargin
    },

    decl("text_readability", (s, d) => TextAnalysis.readability(s, d))(
      s"""WITH c AS (
         |  SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_words,
         |    greatest(CAST(length(regexp_replace(text, '[.!?]+', 'x', 'g')) -
         |      length(regexp_replace(text, '[.!?]+', '', 'g')) AS BIGINT), 1) AS n_sentences
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences,
         |  ${ratio4Sql("n_words", "n_sentences")} AS words_per_sentence
         |FROM c ORDER BY doc_id""".stripMargin),

    decl("docs_quality_histogram", (s, d) => QualitySignals.qualityHistogram(s, d))(
      s"""WITH q AS (SELECT doc_id, $TOKS AS toks,
         |  CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |k AS (SELECT ${qKeySql(
             "CAST(len(toks) AS BIGINT)",
             "CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)",
             "len_no_ws")} // 500 AS bucket FROM q)
         |SELECT bucket, count(*) AS n_docs FROM k GROUP BY bucket ORDER BY bucket""".stripMargin),

    decl("text_lexical_diversity", (s, d) => QualitySignals.lexicalDiversity(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |tk AS (SELECT doc_id, unnest(t) AS term FROM toks WHERE len(t) >= 1),
         |dt AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM dt GROUP BY doc_id)
         |SELECT doc_id, n_toks, n_types, n_hapax,
         |  ${ratio4Sql("n_types", "n_toks")} AS ttr,
         |  ${ratio4Sql("n_hapax", "n_types")} AS hapax_share
         |FROM d ORDER BY doc_id""".stripMargin),

    // survival curve at power-of-two length cutoffs; conditional sums,
    // so thresholds nothing survives still emit a zero row
    decl("docs_length_survival", (s, d) => CorpusStats.lengthSurvival(s, d))(
      s"""WITH d AS (SELECT CAST(len($TOKS) AS BIGINT) AS n_toks FROM documents),
         |th AS (SELECT CAST(unnest([1,2,4,8,16,32,64,128,256,512,1024]) AS BIGINT) AS min_toks)
         |SELECT min_toks,
         |  CAST(coalesce(sum(CASE WHEN n_toks >= min_toks THEN 1 END), 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN n_toks >= min_toks THEN n_toks END), 0) AS BIGINT) AS tok_mass
         |FROM th CROSS JOIN d GROUP BY min_toks ORDER BY min_toks""".stripMargin),

    // boilerplate openings: families sharing the first-8-token prefix
    decl("docs_boilerplate_prefix", (s, d) => CorpusStats.boilerplatePrefix(s, d)) {
      val C = graft.operators.CorpusStats
      s"""WITH tk AS (SELECT doc_id, source, $TOKS AS t FROM documents),
         |p AS (SELECT doc_id, source,
         |        array_to_string(t[1:${C.PrefixLen}], ' ') AS prefix
         |      FROM tk WHERE len(t) >= 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
         |f AS (SELECT prefix, count(*) AS n_docs,
         |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |        min(doc_id) AS exemplar
         |      FROM p GROUP BY 1 HAVING count(*) >= ${C.MinFamily})
         |SELECT prefix, n_docs, n_sources, exemplar,
         |  ${ratio4Sql("n_docs", "n")} AS doc_share
         |FROM f CROSS JOIN tot ORDER BY n_docs DESC, prefix""".stripMargin
    },

    // labeled-vs-predicted lang confusion matrix (shares the lang-ID
    // count/argmax fragments with text_language_id)
    decl("docs_lang_confusion", (s, d) => TextAnalysis.langConfusion(s, d))(
      s"""WITH q AS (SELECT lang, $TOKS AS toks FROM documents),
         |c AS (
         |  SELECT lang,
         |    $LANG_CNTS_SQL
         |  FROM q
         |),
         |p AS (SELECT lang, $LANG_CASE_SQL AS pred_lang FROM c),
         |cells AS (SELECT lang, pred_lang, count(*) AS n_docs
         |          FROM p GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS nl
         |        FROM cells GROUP BY 1)
         |SELECT cells.lang AS lang, pred_lang, n_docs,
         |  ${ratio4Sql("n_docs", "nl")} AS label_share,
         |  (cells.lang = pred_lang) AS correct
         |FROM cells JOIN tot ON cells.lang = tot.lang
         |ORDER BY lang, pred_lang""".stripMargin),

    decl("docs_pii_prevalence", (s, d) => TextAnalysis.piiPrevalence(s, d))(
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.UrlRe}', 0)) AS BIGINT) AS u,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', 0)) AS BIGINT) AS e,
         |    CAST(len(regexp_extract_all(text, '[0-9]{7,}', 0)) AS BIGINT) AS d
         |  FROM documents),
         |agg AS (
         |  SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_url,
         |    CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
         |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_long_num,
         |    CAST(sum(u) AS BIGINT) AS n_urls,
         |    CAST(sum(e) AS BIGINT) AS n_emails,
         |    CAST(sum(d) AS BIGINT) AS n_long_nums
         |  FROM per GROUP BY source)
         |SELECT source, n_docs, docs_url, docs_email, docs_long_num,
         |  n_urls, n_emails, n_long_nums,
         |  ${ratio4Sql("docs_url", "n_docs")} AS url_doc_share,
         |  ${ratio4Sql("docs_email", "n_docs")} AS email_doc_share,
         |  ${ratio4Sql("docs_long_num", "n_docs")} AS num_doc_share
         |FROM agg ORDER BY source""".stripMargin),

    // joint (length decile × quality decile) grid — mirrors
    // QualitySignals.lengthQualityGrid (same exact decile formula as
    // events_spend_deciles; same quality key as docs_quality_histogram)
    decl("docs_length_quality_grid", (s, d) => QualitySignals.lengthQualityGrid(s, d))(
      s"""WITH q AS (SELECT doc_id, n_chars, $TOKS AS toks,
         |  CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |kk AS (SELECT doc_id, n_chars, ${qKeySql(
             "CAST(len(toks) AS BIGINT)",
             "CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)",
             "len_no_ws")} AS qkey FROM q),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kk),
         |lr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS lrn
         |       FROM kk),
         |qr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY qkey, doc_id) AS BIGINT) AS qrn
         |       FROM kk),
         |d AS (SELECT lr.doc_id,
         |        CAST((lrn - 1) * 10 // n + 1 AS BIGINT) AS ldec,
         |        CAST((qrn - 1) * 10 // n + 1 AS BIGINT) AS qdec
         |      FROM lr JOIN qr USING (doc_id) CROSS JOIN nn),
         |g AS (SELECT ldec, qdec, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM d GROUP BY 1, 2),
         |rt AS (SELECT ldec, CAST(sum(n_docs) AS BIGINT) AS row_total
         |       FROM g GROUP BY 1)
         |SELECT g.ldec AS ldec, g.qdec AS qdec, n_docs,
         |  ${ratio4Sql("n_docs", "row_total")} AS row_share4
         |FROM g JOIN rt USING (ldec) ORDER BY ldec, qdec""".stripMargin),

    // code-vs-prose density bands in exact halfUp ppm — mirrors
    // TextAnalysis.codeDetect (shared CodeSymbolClass)
    decl("text_code_detect", (s, d) => TextAnalysis.codeDetect(s, d))(
      s"""WITH d AS (
         |  SELECT source,
         |    ${halfUpSql(
               s"(CAST(length(text) AS BIGINT) - CAST(length(regexp_replace(text, '[${graft.operators.TextAnalysis.CodeSymbolClass}]', '', 'g')) AS BIGINT)) * 1000000",
               "greatest(CAST(length(text) AS BIGINT), 1)")} AS code_ppm
         |  FROM documents),
         |b AS (SELECT source, code_ppm // 1000 AS band,
         |        CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(max(code_ppm) AS BIGINT) AS max_ppm
         |      FROM d GROUP BY 1, 2),
         |t AS (SELECT *, CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS tot
         |      FROM b)
         |SELECT source, band, n_docs, max_ppm,
         |  ${ratio4Sql("n_docs", "greatest(tot, 1)")} AS share4
         |FROM t ORDER BY source, band""".stripMargin),

    // fixed-point RAKE keyphrases — mirrors TextAnalysis.rakeKeyphrases
    // (per-source word deg/freq ×10⁴ halfUp, int64 phrase sums)
    decl("text_keyphrases_rake", (s, d) => TextAnalysis.rakeKeyphrases(s, d)) {
      val stopList = graft.operators.TextAnalysis.StopEn
        .map(s => s"'$s'").mkString(", ")
      val K = graft.operators.TextAnalysis.RakeTopK
      val L = graft.operators.TextAnalysis.RakeMaxLen
      s"""WITH toksr AS (
         |  SELECT doc_id, source,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '') AS t
         |  FROM documents),
         |tk AS (
         |  SELECT doc_id, source,
         |    unnest(list_transform(generate_series(1, len(t)),
         |      i -> {'pos': i, 'tok': t[i]})) AS ps
         |  FROM toksr WHERE len(t) >= 1),
         |fl AS (SELECT doc_id, source, ps.pos AS pos, ps.tok AS tok,
         |         (ps.tok IN ($stopList)) AS is_stop FROM tk),
         |il AS (SELECT *, CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
         |       FROM fl),
         |ph AS (SELECT doc_id, source, island,
         |         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |         CAST(count(*) AS BIGINT) AS len
         |       FROM il WHERE NOT is_stop GROUP BY 1, 2, 3
         |       HAVING count(*) <= $L),
         |wsx AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq,
         |          CAST(sum(len) AS BIGINT) AS deg
         |        FROM (SELECT source, len, unnest(string_split(phrase, ' ')) AS w
         |              FROM ph) q
         |        GROUP BY 1, 2),
         |wsc AS (SELECT source, w, ${halfUpSql("deg * 10000", "freq")} AS wscore
         |        FROM wsx),
         |pa AS (SELECT source, phrase, CAST(count(*) AS BIGINT) AS n_occ
         |       FROM ph GROUP BY 1, 2),
         |psc AS (SELECT pa.source, pa.phrase, pa.n_occ,
         |          CAST(sum(wsc.wscore) AS BIGINT) AS score_u4
         |        FROM pa CROSS JOIN unnest(string_split(pa.phrase, ' ')) AS u(w)
         |        JOIN wsc ON wsc.source = pa.source AND wsc.w = u.w
         |        GROUP BY 1, 2, 3),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |        ORDER BY score_u4 DESC, phrase) AS BIGINT) AS rank FROM psc)
         |SELECT source, rank, phrase, n_occ, score_u4,
         |  score_u4/10000.0 AS score
         |FROM r WHERE rank <= $K ORDER BY source, rank""".stripMargin
    },

    // sentence-grain length quantiles — mirrors
    // QualitySignals.sentenceQuantiles ([.!?]+ splits, empties dropped)
    decl("docs_sentence_quantiles", (s, d) => QualitySignals.sentenceQuantiles(s, d))(
      s"""WITH s0 AS (
         |  SELECT doc_id, source, unnest(string_split_regex(text, '[.!?]+')) AS sent
         |  FROM documents),
         |s1 AS (SELECT source,
         |         CAST(len(list_filter(string_split_regex(trim(sent), '\\s+'),
         |           t -> t <> '')) AS BIGINT) AS n_toks
         |       FROM s0)
         |SELECT source, count(*) AS n_sentences,
         |  quantile_cont(n_toks, 0.25) AS p25,
         |  quantile_cont(n_toks, 0.5) AS p50,
         |  quantile_cont(n_toks, 0.75) AS p75,
         |  quantile_cont(n_toks, 0.9) AS p90
         |FROM s1 WHERE n_toks > 0 GROUP BY source ORDER BY source""".stripMargin)
  )

  // ---- corpus and sources -----------------------------------------------

  /** Corpus-wide composition and per-source panels. */
  private def corpus: Seq[Decl] = Seq(
    // per-source token-count Gini — mirrors CorpusStats.tokenGini
    decl("corpus_token_gini", (s, d) => CorpusStats.tokenGini(s, d))(
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    coalesce(CAST(len($TOKS) AS BIGINT), 0) AS n_toks
         |  FROM documents),
         |r AS (SELECT source, n_toks,
         |        row_number() OVER (PARTITION BY source ORDER BY n_toks, doc_id) AS r
         |      FROM d),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_toks) AS BIGINT) AS total_toks,
         |        CAST(sum(r * n_toks) AS BIGINT) AS s1
         |      FROM r GROUP BY 1)
         |SELECT source, n_docs, total_toks,
         |  CASE WHEN total_toks > 0
         |    THEN ${ratio4Sql("2 * s1 - (n_docs + 1) * total_toks",
                              "n_docs * total_toks")}
         |    ELSE NULL END AS gini4
         |FROM a ORDER BY source""".stripMargin),

    // Count-Min: counters recomputed from raw tokens with the same
    // md5 row hashes; estimates = min over rows at the probe's buckets
    // (COALESCE 0 where no term hashed into a bucket).
    decl("source_term_cm", (s, d) => Sketches.sourceTermCm(s, d)) {
      def cmProbe(p: String): String =
        (0 until graft.operators.Sketches.CmD).map(i =>
          s"COALESCE((SELECT n FROM c WHERE c.source = s.source AND c.i = $i " +
            s"AND c.b = ${H64(s"'cm$i:$p'")} % ${graft.operators.Sketches.CmW}), 0)")
          .mkString("LEAST(", ", ", ")")
      s"""WITH tk AS (SELECT source, unnest($TOKS) AS term FROM documents),
         |c AS (
         |  SELECT source, i.i, ${H64("concat('cm', CAST(i.i AS VARCHAR), ':', term)")} % ${graft.operators.Sketches.CmW} AS b,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tk, generate_series(0,${graft.operators.Sketches.CmD - 1}) i(i)
         |  GROUP BY 1, 2, 3
         |),
         |s AS (SELECT DISTINCT source FROM documents)
         |SELECT s.source,
         |  ${graft.operators.Sketches.CmProbes.map(p => s"${cmProbe(p)} AS est_$p").mkString(",\n         |  ")}
         |FROM s ORDER BY s.source""".stripMargin
    },

    decl("corpus_zipf", (s, d) => CorpusStats.zipfTerms(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |pd AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
         |agg AS (SELECT term, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
         |        FROM pd GROUP BY term),
         |top AS (SELECT term, tf, df FROM agg ORDER BY tf DESC, term LIMIT 50)
         |SELECT row_number() OVER (ORDER BY tf DESC, term) AS rank, term, tf, df
         |FROM top ORDER BY rank""".stripMargin),

    decl("corpus_heaps_curve", (s, d) => CorpusStats.heapsCurve(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |mx AS (SELECT max(doc_id) AS m FROM documents),
         |tk AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |bt AS (SELECT (doc_id * 10) // (m + 1) AS bucket, count(*) AS toks
         |       FROM tk CROSS JOIN mx GROUP BY 1),
         |nb AS (SELECT (fd * 10) // (m + 1) AS bucket,
         |         CAST(count(*) AS BIGINT) AS new_types
         |       FROM (SELECT term, min(doc_id) AS fd FROM tk GROUP BY 1)
         |       CROSS JOIN mx GROUP BY 1)
         |SELECT bucket, toks,
         |  CAST(sum(toks) OVER w AS BIGINT) AS cum_toks,
         |  coalesce(new_types, 0) AS new_types,
         |  CAST(sum(coalesce(new_types, 0)) OVER w AS BIGINT) AS cum_types
         |FROM bt LEFT JOIN nb USING (bucket)
         |WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
         |ORDER BY bucket""".stripMargin),

    // shingle-level diminishing-returns curve — mirrors
    // CorpusStats.ingestNovelty (heapsCurve bucket cuts, shingle grain)
    decl("corpus_ingest_novelty", (s, d) => CorpusStats.ingestNovelty(s, d))(
      s"""WITH $SH_CTE,
         |mx AS (SELECT max(doc_id) AS m FROM documents),
         |shd AS (SELECT doc_id, shingle, (doc_id * 10) // (m + 1) AS decile
         |        FROM sh CROSS JOIN mx),
         |dp AS (SELECT (doc_id * 10) // (m + 1) AS decile,
         |         CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents CROSS JOIN mx GROUP BY 1),
         |inst AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_instances,
         |           CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct
         |         FROM shd GROUP BY 1),
         |np AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_new FROM
         |         (SELECT shingle, min(decile) AS decile FROM shd GROUP BY 1)
         |       GROUP BY 1)
         |SELECT dp.decile, n_docs,
         |  coalesce(n_instances, 0) AS n_instances,
         |  coalesce(n_distinct, 0) AS n_distinct,
         |  coalesce(n_new, 0) AS n_new,
         |  ${ratio4Sql("coalesce(n_new, 0)", "greatest(coalesce(n_distinct, 0), 1)")}
         |    AS new_share4
         |FROM dp LEFT JOIN inst USING (decile) LEFT JOIN np USING (decile)
         |ORDER BY decile""".stripMargin),

    // first-occurrence shingle attribution per feed — mirrors
    // CorpusStats.sourceOriginality (min-doc_id ownership)
    decl("source_originality", (s, d) => CorpusStats.sourceOriginality(s, d))(
      s"""WITH $SH_CTE,
         |ds AS (SELECT doc_id, source FROM documents),
         |shd AS (SELECT s.shingle, s.doc_id, d.source
         |        FROM sh s JOIN ds d USING (doc_id)),
         |dist AS (SELECT source, CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct
         |         FROM shd GROUP BY 1),
         |fir AS (SELECT shingle, min(doc_id) AS doc_id FROM shd GROUP BY 1),
         |own AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_owned
         |        FROM fir JOIN ds d USING (doc_id) GROUP BY 1),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1)
         |SELECT source, n_docs,
         |  coalesce(n_distinct, 0) AS n_distinct,
         |  coalesce(n_owned, 0) AS n_owned,
         |  ${ratio4Sql("coalesce(n_owned, 0)", "greatest(coalesce(n_distinct, 0), 1)")}
         |    AS originality4
         |FROM nd LEFT JOIN dist USING (source) LEFT JOIN own USING (source)
         |ORDER BY source""".stripMargin),

    // exact two-pass heavy hitters: the oracle is the exact definition
    // (count·threshold > total) — the MG sketch only proposes candidates,
    // so it never appears in the semantics
    decl("corpus_heavy_hitters", (s, d) => CorpusStats.heavyHitters(s, d))(
      s"""WITH tk AS (SELECT unnest($TOKS) AS term FROM documents),
         |tot AS (SELECT count(*) AS total FROM tk)
         |SELECT term, count(*) AS n, ${ratio4Sql("count(*)", "total")} AS share
         |FROM tk CROSS JOIN tot
         |GROUP BY term, total
         |HAVING count(*) * ${graft.operators.CorpusStats.HhThreshold} > total
         |ORDER BY n DESC, term""".stripMargin),

    // per-source OOV share vs the corpus's own top-N vocabulary
    decl("source_oov_rate", (s, d) => CorpusStats.oovRate(s, d))(
      s"""WITH tk AS (SELECT source, unnest($TOKS) AS term FROM documents),
         |v AS (SELECT term FROM (
         |        SELECT term, count(*) AS tf FROM tk GROUP BY term)
         |      ORDER BY tf DESC, term LIMIT ${graft.operators.CorpusStats.OovVocab}),
         |a AS (SELECT tk.source AS source, count(*) AS n_occ,
         |        CAST(coalesce(sum(CASE WHEN v.term IS NULL THEN 1 END), 0) AS BIGINT) AS n_oov
         |      FROM tk LEFT JOIN v ON tk.term = v.term GROUP BY tk.source)
         |SELECT source, n_occ, n_oov, ${ratio4Sql("n_oov", "n_occ")} AS oov_rate
         |FROM a ORDER BY source""".stripMargin),

    // exact-integer lift collocations (PMI rank twin): the two-step
    // halfUp spelling IS the definition — it must match the operator's
    // integer steps exactly, not a float PMI
    decl("corpus_pmi_pairs", (s, d) => CorpusStats.pmiPairs(s, d)) {
      val C = graft.operators.CorpusStats
      s"""WITH toks AS (SELECT $TOKS AS t FROM documents),
         |tk AS (SELECT unnest(t) AS term FROM toks),
         |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY term),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> concat_ws(' ', t[i], t[i+1]))) AS pair
         |  FROM toks WHERE len(t) >= 2),
         |pairs AS (SELECT split_part(pair, ' ', 1) AS w1,
         |    split_part(pair, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM bg GROUP BY 1, 2 HAVING count(*) >= ${C.PmiMinPair}),
         |sc AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
         |    CAST(${halfUpSql("c12 * 10000", "u1.c")} AS BIGINT) AS p21_4
         |  FROM pairs JOIN uni u1 ON w1 = u1.term JOIN uni u2 ON w2 = u2.term)
         |SELECT w1, w2, c12, c1, c2, p21_4,
         |  CAST(${halfUpSql("p21_4 * n", "c2")} AS BIGINT) AS lift4
         |FROM sc CROSS JOIN tot
         |ORDER BY lift4 DESC, w1, w2 LIMIT ${C.PmiHead}""".stripMargin
    },

    // per-source modal opening + its exact share — mirrors
    // CorpusStats.sourceTemplateShare (same prefix grain as docs_boilerplate_prefix)
    decl("source_template_share", (s, d) => CorpusStats.sourceTemplateShare(s, d)) {
      val C = graft.operators.CorpusStats
      s"""WITH tk AS (SELECT source, $TOKS AS t FROM documents),
         |p AS (SELECT source,
         |        array_to_string(t[1:${C.PrefixLen}], ' ') AS prefix
         |      FROM tk WHERE len(t) >= 1),
         |c AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS modal_count
         |      FROM p GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM p GROUP BY 1),
         |top AS (SELECT source, prefix, modal_count FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY modal_count DESC, prefix) AS rn FROM c) WHERE rn = 1)
         |SELECT t.source AS source, n_docs, prefix AS modal_prefix,
         |  modal_count, ${ratio4Sql("modal_count", "n_docs")} AS template_share4
         |FROM top t JOIN tot ON tot.source = t.source
         |ORDER BY source""".stripMargin
    },

    // cumulative head-coverage: rank the vocab, conditional sums at
    // power-of-two head sizes (the length-survival discipline)
    decl("corpus_zipf_coverage", (s, d) => CorpusStats.zipfCoverage(s, d))(
      s"""WITH tk AS (SELECT unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY term),
         |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rn FROM tf),
         |th AS (SELECT CAST(unnest([1,2,4,8,16,32,64,128,256,512,1024]) AS BIGINT) AS head_k),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS tot FROM tf)
         |SELECT head_k,
         |  CAST(coalesce(sum(CASE WHEN rn <= head_k THEN 1 END), 0) AS BIGINT) AS n_terms,
         |  CAST(coalesce(sum(CASE WHEN rn <= head_k THEN tf END), 0) AS BIGINT) AS tf_mass,
         |  ${ratio4Sql(
             "CAST(coalesce(sum(CASE WHEN rn <= head_k THEN tf END), 0) AS BIGINT)",
             "tot")} AS coverage
         |FROM th CROSS JOIN r CROSS JOIN tot
         |GROUP BY head_k, tot ORDER BY head_k""".stripMargin),

    // pairwise source window overlap: distinct (source, win_h) self-join
    decl("source_overlap_matrix", (s, d) => CorpusStats.sourceOverlapMatrix(s, d)) {
      val w = graft.operators.DocDedup.ChunkTokens
      s"""WITH toks AS (SELECT source, $TOKS AS t FROM documents),
         |wn AS (SELECT DISTINCT source, ${H64("ws")} AS win_h
         |  FROM (
         |    SELECT source, unnest(list_transform(
         |      generate_series(1, len(t) - ${w - 1}),
         |      i -> array_to_string(list_slice(t, i, i + ${w - 1}), ' '))) AS ws
         |    FROM toks WHERE len(t) >= $w)),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM wn GROUP BY 1),
         |p AS (SELECT a.source AS s1, b.source AS s2,
         |        CAST(count(*) AS BIGINT) AS n_shared
         |      FROM wn a JOIN wn b ON a.win_h = b.win_h AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT s1, s2, t1.n AS n1, t2.n AS n2, n_shared,
         |  ${ratio4Sql("n_shared", "t1.n")} AS contain1,
         |  ${ratio4Sql("n_shared", "t2.n")} AS contain2,
         |  ${ratio4Sql("n_shared", "t1.n + t2.n - n_shared")} AS jaccard
         |FROM p JOIN tot t1 ON s1 = t1.source JOIN tot t2 ON s2 = t2.source
         |ORDER BY s1, s2""".stripMargin
    },

    // snapshot version diff — mirrors Snapshot.snapshotDiff
    decl("corpus_snapshot_diff", (s, d) => Snapshot.snapshotDiff(s, d))(
      s"""WITH v1 AS (SELECT doc_id, source, md5(text) AS dg
         |      FROM documents WHERE doc_id % 3 <> 0),
         |v2 AS (SELECT doc_id, source,
         |        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS dg
         |      FROM documents WHERE doc_id % 5 <> 2),
         |j AS (SELECT coalesce(v1.source, v2.source) AS source,
         |        CASE WHEN v1.dg IS NULL THEN 'added'
         |             WHEN v2.dg IS NULL THEN 'removed'
         |             WHEN v1.dg <> v2.dg THEN 'changed'
         |             ELSE 'unchanged' END AS change_class
         |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id),
         |c AS (SELECT source, change_class, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM j GROUP BY 1, 2),
         |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS t FROM c GROUP BY 1)
         |SELECT c.source AS source, change_class, n_docs,
         |  ${ratio4Sql("n_docs", "t")} AS class_share
         |FROM c JOIN t ON c.source = t.source
         |ORDER BY c.source, change_class""".stripMargin),

    // pairwise per-source unigram TVD — mirrors CorpusStats.sourceDivergence
    decl("source_divergence", (s, d) => CorpusStats.sourceDivergence(s, d)) {
      val V = graft.operators.CorpusStats.DivVocab
      s"""WITH toks AS (SELECT source, $TOKS AS t FROM documents),
         |tk AS (SELECT source, unnest(t) AS term FROM toks),
         |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
         |       FROM tk GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY 1),
         |vocab AS (SELECT term FROM (
         |    SELECT term, CAST(sum(c) AS BIGINT) AS g FROM st GROUP BY 1)
         |  ORDER BY g DESC, term LIMIT $V),
         |iv AS (SELECT t.source, v.term, coalesce(st.c, 0) AS c, t.n_s
         |       FROM tot t CROSS JOIN vocab v
         |       LEFT JOIN st ON st.source = t.source AND st.term = v.term),
         |p AS (SELECT source, term,
         |        CAST(${halfUpSql("c * 1000000", "n_s")} AS BIGINT) AS p6 FROM iv),
         |oov AS (SELECT source, '<oov>' AS term,
         |        CAST(greatest(1000000 - sum(p6), 0) AS BIGINT) AS p6
         |        FROM p GROUP BY 1),
         |dense AS (SELECT * FROM p UNION ALL SELECT * FROM oov),
         |pr AS (SELECT a.source AS source_a, b.source AS source_b,
         |        CAST(sum(abs(a.p6 - b.p6)) AS BIGINT) AS l1_ppm
         |       FROM dense a JOIN dense b
         |         ON a.term = b.term AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT source_a, source_b, l1_ppm,
         |  ${halfUpSql("l1_ppm * 10000", "2000000")} / 10000.0 AS tvd4
         |FROM pr ORDER BY source_a, source_b""".stripMargin
    },

    // per-source Simpson concentration — mirrors CorpusStats.sourceSimpson
    decl("source_simpson_diversity", (s, d) => CorpusStats.sourceSimpson(s, d))(
      s"""WITH toks AS (SELECT source, $TOKS AS t FROM documents),
         |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT source, unnest(t) AS term FROM toks) GROUP BY 1, 2),
         |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS vocab,
         |        CAST(sum(c * (c - 1)) AS BIGINT) AS sum_c2,
         |        CAST(max(c) AS BIGINT) AS top_tf
         |      FROM tf GROUP BY 1)
         |SELECT source, n_tokens, vocab,
         |  ${ratio4Sql("sum_c2", "greatest(n_tokens * (n_tokens - 1), 1)")} AS simpson4,
         |  ${ratio4Sql("top_tf", "greatest(n_tokens, 1)")} AS top_share4,
         |  ${ratio4Sql("vocab", "greatest(n_tokens, 1)")} AS ttr4
         |FROM a ORDER BY source""".stripMargin),

    // the dataset card — mirrors DatasetCard.card (composes the digest,
    // language-vote and quality-key fragments of the panels it summarizes)
    decl("corpus_dataset_card", (s, d) => DatasetCard.card(s, d)) {
      val short = graft.operators.DatasetCard.ShortDocToks
      s"""WITH q AS (
         |  SELECT doc_id, source, md5(text) AS digest, $TOKS AS toks,
         |    CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |q2 AS (
         |  SELECT doc_id, source, digest, len_no_ws,
         |    coalesce(CAST(len(toks) AS BIGINT), 0) AS n_toks,
         |    coalesce(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT), 0) AS n_stop,
         |    $LANG_CNTS_SQL
         |  FROM q),
         |q3 AS (SELECT *, $LANG_CASE_SQL AS lang,
         |         CASE WHEN n_toks > 0
         |           THEN ${qKeySql("n_toks", "n_stop", "len_no_ws")}
         |           ELSE NULL END AS qkey
         |       FROM q2),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(DISTINCT digest) AS BIGINT) AS n_unique,
         |    CAST(sum(CASE WHEN n_toks < $short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_docs,
         |    CAST(sum(qkey) AS BIGINT) AS sum_qkey
         |  FROM q3),
         |ts AS (SELECT CAST(max(c) AS BIGINT) AS top_source_docs FROM (
         |  SELECT count(*) AS c FROM q3 GROUP BY source)),
         |sel AS (SELECT * FROM a CROSS JOIN ts)
         |SELECT metric, n, r4 FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS n, CAST(NULL AS DOUBLE) AS r4 FROM sel
         |  UNION ALL SELECT 'n_tokens', n_tokens, CAST(NULL AS DOUBLE) FROM sel
         |  UNION ALL SELECT 'n_sources', n_sources, CAST(NULL AS DOUBLE) FROM sel
         |  UNION ALL SELECT 'n_langs_pred', n_langs, CAST(NULL AS DOUBLE) FROM sel
         |  UNION ALL SELECT 'n_unique_texts', n_unique, CAST(NULL AS DOUBLE) FROM sel
         |  UNION ALL SELECT 'top_source_docs', top_source_docs, CAST(NULL AS DOUBLE) FROM sel
         |  UNION ALL SELECT 'dup_share4', CAST(NULL AS BIGINT),
         |    ${ratio4Sql("n_docs - n_unique", "n_docs")} FROM sel
         |  UNION ALL SELECT 'mean_tokens4', CAST(NULL AS BIGINT),
         |    ${ratio4Sql("n_tokens", "n_docs")} FROM sel
         |  UNION ALL SELECT 'short_share4', CAST(NULL AS BIGINT),
         |    ${ratio4Sql("n_short", "n_docs")} FROM sel
         |  UNION ALL SELECT 'en_share4', CAST(NULL AS BIGINT),
         |    ${ratio4Sql("n_en_docs", "n_docs")} FROM sel
         |  UNION ALL SELECT 'mean_quality4', CAST(NULL AS BIGINT),
         |    ${halfUpSql("sum_qkey", "n_docs")} / 10000.0 FROM sel
         |  UNION ALL SELECT 'top_source_share4', CAST(NULL AS BIGINT),
         |    ${ratio4Sql("top_source_docs", "n_docs")} FROM sel)
         |ORDER BY metric""".stripMargin
    },

    // CM accuracy panel: estimate vs exact per probe, one-sided error
    // released as a boolean — mirrors Sketches.sourceTermCmAccuracy
    decl("source_term_cm_accuracy", (s, d) => Sketches.sourceTermCmAccuracy(s, d)) {
      def cmProbe(p: String): String =
        (0 until graft.operators.Sketches.CmD).map(i =>
          s"COALESCE((SELECT n FROM c WHERE c.source = s.source AND c.i = $i " +
            s"AND c.b = ${H64(s"'cm$i:$p'")} % ${graft.operators.Sketches.CmW}), 0)")
          .mkString("LEAST(", ", ", ")")
      val probes = graft.operators.Sketches.CmProbes
      val probeList = probes.map(p => s"'$p'").mkString(", ")
      s"""WITH tk AS (SELECT source, unnest($TOKS) AS term FROM documents),
         |c AS (
         |  SELECT source, i.i, ${H64("concat('cm', CAST(i.i AS VARCHAR), ':', term)")} % ${graft.operators.Sketches.CmW} AS b,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tk, generate_series(0,${graft.operators.Sketches.CmD - 1}) i(i)
         |  GROUP BY 1, 2, 3
         |),
         |s AS (SELECT DISTINCT source FROM documents),
         |e AS (
         |${probes.map(p =>
              s"  SELECT s.source, '$p' AS probe, ${cmProbe(p)} AS est_n FROM s")
             .mkString("\n|  UNION ALL\n|")}
         |),
         |x AS (SELECT source, term AS probe, CAST(count(*) AS BIGINT) AS exact_n
         |      FROM tk WHERE term IN ($probeList) GROUP BY 1, 2)
         |SELECT e.source, e.probe, coalesce(x.exact_n, 0) AS exact_n, e.est_n,
         |  e.est_n - coalesce(x.exact_n, 0) AS overcount,
         |  ${halfUpSql("(e.est_n - coalesce(x.exact_n, 0)) * 1000000",
                        "greatest(coalesce(x.exact_n, 0), 1)")} AS over_ppm,
         |  (e.est_n >= coalesce(x.exact_n, 0)) AS never_under
         |FROM e LEFT JOIN x ON e.source = x.source AND e.probe = x.probe
         |ORDER BY e.source, e.probe""".stripMargin
    }
  )

  // ---- quality models ---------------------------------------------------

  /** The trained lexicon/LM quality models, their calibration, and the
    * data-quality report. Clipped add-one count-ratio "affinity" in 1e-4-unit int64 is the
    * exact-arithmetic analog of log-odds scoring (see QualityModels);
    * CUR_IN/clip mirror CuratedSources/clip4 verbatim. */
  private def quality: Seq[Decl] = Seq(
    decl("dq_report", (s, d) => Quality.report(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT * FROM (
         |SELECT 'events' AS table_name, 'event_type_present' AS check_name,
         |  CAST(coalesce(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations FROM ev
         |UNION ALL
         |SELECT 'events', 'props_present',
         |  CAST(coalesce(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ev
         |UNION ALL
         |SELECT 'events', 'ts_in_epoch_range',
         |  CAST(coalesce(sum(CASE WHEN NOT coalesce(ts_us > 0, false) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ev
         |UNION ALL
         |SELECT 'events', 'value_non_negative',
         |  CAST(coalesce(sum(CASE WHEN NOT coalesce(value >= 0, false) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ev
         |UNION ALL
         |SELECT 'events', 'unique_event_id',
         |  CAST(coalesce(sum(c - 1), 0) AS BIGINT)
         |  FROM (SELECT count(*) AS c FROM ev GROUP BY event_id)
         |UNION ALL
         |SELECT 'lineitem', 'ref_l_orderkey', CAST(count(*) AS BIGINT) FROM lineitem l
         |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         |UNION ALL
         |SELECT 'orders', 'ref_o_custkey', CAST(count(*) AS BIGINT) FROM orders o
         |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         |UNION ALL
         |SELECT 'supplier', 'ref_s_nationkey', CAST(count(*) AS BIGINT) FROM supplier s
         |  WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
         |) ORDER BY table_name, check_name""".stripMargin),

    decl("quality_lexicon", (s, d) => QualityModels.lexiconHead(s, d))(
      s"""WITH $LEX_CTES
         |SELECT term, c_cur, c_rest, aff4 / 10000.0 AS affinity
         |FROM w ORDER BY affinity DESC, term
         |LIMIT ${graft.operators.QualityModels.LexiconHead}""".stripMargin),

    decl("quality_lexicon_score", (s, d) => QualityModels.lexiconScore(s, d))(
      s"""WITH $LEX_CTES,
         |prior AS (SELECT ${halfUpSql("(CAST(sum(c_cur) AS BIGINT) + count(*)) * 10000",
                                       "CAST(sum(c_rest) AS BIGINT) + count(*)")} AS thr4
         |          FROM lex),
         |pdt AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
         |sc AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
         |    CAST(sum(c * coalesce(aff4, thr4)) AS BIGINT) AS s4,
         |    max(thr4) AS thr4
         |  FROM pdt LEFT JOIN w USING (term) CROSS JOIN prior GROUP BY doc_id)
         |SELECT doc_id, n_toks, ${halfUpSql("s4", "n_toks")} / 10000.0 AS score,
         |  CAST(${halfUpSql("s4", "n_toks")} >= thr4 AS INTEGER) AS pred
         |FROM sc ORDER BY doc_id""".stripMargin),

    decl("text_lm_fluency", (s, d) => QualityModels.lmFluency(s, d))(
      s"""WITH toks AS (SELECT doc_id, lang, $TOKS AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> concat_ws(' ', t[i], t[i+1]))) AS pair
         |  FROM toks WHERE len(t) >= 2),
         |pairs AS (SELECT pair, CAST(count(*) AS BIGINT) AS c12
         |          FROM bg WHERE lang = 'en' GROUP BY 1),
         |ctx AS (SELECT split_part(pair, ' ', 1) AS w1,
         |          CAST(sum(c12) AS BIGINT) AS c1
         |        FROM pairs GROUP BY 1),
         |v2 AS (SELECT CAST(count(DISTINCT split_part(pair, ' ', 2)) AS BIGINT) AS v2
         |       FROM pairs),
         |pdb AS (SELECT doc_id, pair, count(*) AS c FROM bg GROUP BY 1, 2),
         |j AS (
         |  SELECT doc_id, c, c12,
         |    ${halfUpSql("(coalesce(c12, 0) + 1) * 10000", "coalesce(c1, 0) + v2")} AS p4
         |  FROM pdb
         |  LEFT JOIN pairs USING (pair)
         |  LEFT JOIN ctx ON split_part(pdb.pair, ' ', 1) = ctx.w1
         |  CROSS JOIN v2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN c12 IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov,
         |  ${halfUpSql("CAST(sum(c * p4) AS BIGINT)", "CAST(sum(c) AS BIGINT)")} / 10000.0
         |    AS fluency
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    decl("quality_model_eval", (s, d) => QualityModels.modelEval(s, d))(
      s"""WITH $LEX_CTES,
         |prior AS (SELECT ${halfUpSql("(CAST(sum(c_cur) AS BIGINT) + count(*)) * 10000",
                                       "CAST(sum(c_rest) AS BIGINT) + count(*)")} AS thr4
         |          FROM lex),
         |pdt AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
         |sc AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
         |    CAST(sum(c * coalesce(aff4, thr4)) AS BIGINT) AS s4,
         |    max(thr4) AS thr4
         |  FROM pdt LEFT JOIN w USING (term) CROSS JOIN prior GROUP BY doc_id),
         |scored AS (
         |  SELECT doc_id, ${halfUpSql("s4", "n_toks")} AS score4,
         |    CAST(${halfUpSql("s4", "n_toks")} >= thr4 AS INTEGER) AS pred
         |  FROM sc),
         |lab AS (SELECT doc_id,
         |          CASE WHEN source IN $CUR_IN THEN 1 ELSE 0 END AS label
         |        FROM documents),
         |cells AS (
         |  SELECT label, pred, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(score4) AS BIGINT) AS ss4
         |  FROM scored JOIN lab USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT label, CAST(sum(n_docs) AS BIGINT) AS nl
         |        FROM cells GROUP BY 1)
         |SELECT label, pred, n_docs,
         |  ${ratio4Sql("n_docs", "nl")} AS label_share,
         |  ${halfUpSql("ss4", "n_docs")} AS mean_score4,
         |  (label = pred) AS correct
         |FROM cells JOIN tot USING (label)
         |ORDER BY label, pred""".stripMargin),

    // score-decile reliability diagram — mirrors
    // QualityModels.calibrationCurve (shared scoring CTEs with
    // quality_lexicon_score)
    decl("quality_calibration_curve", (s, d) => QualityModels.calibrationCurve(s, d))(
      s"""WITH $CAL_DECILE_CTES
         |SELECT decile, n_docs, n_pos,
         |  ${ratio4Sql("n_pos", "n_docs")} AS pos_rate4,
         |  CAST(${halfUpSql("ss4", "n_docs")} AS BIGINT) AS mean_score4
         |FROM g ORDER BY decile""".stripMargin),

    // per-source percentile rank of the shared quality key — mirrors
    // QualitySignals.percentileNormalize (same qKeySql fragment as the
    // quality histogram / grid panels, so the score cannot drift)
    decl("quality_percentile_normalize", (s, d) => QualitySignals.percentileNormalize(s, d))(
      s"""WITH q AS (SELECT doc_id, source, $TOKS AS toks,
         |  CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |kk AS (SELECT doc_id, source, ${qKeySql(
             "CAST(len(toks) AS BIGINT)",
             "CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)",
             "len_no_ws")} AS qkey FROM q),
         |r AS (SELECT doc_id, source, qkey,
         |        CAST(row_number() OVER (PARTITION BY source ORDER BY qkey, doc_id) AS BIGINT) AS rnk,
         |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS gn
         |      FROM kk)
         |SELECT doc_id, source, qkey,
         |  ${ratio4Sql("rnk - 1", "greatest(gn - 1, 1)")} AS pct4
         |FROM r ORDER BY doc_id""".stripMargin),

    // PAV isotonic fit via the exact minimax characterization over the
    // shared decile substrate: fixed-scale int64 interval keys, release
    // recovered from the key itself — mirrors QualityModels.isotonicFit
    decl("quality_isotonic_fit", (s, d) => QualityModels.isotonicFit(s, d))(
      s"""WITH $CAL_DECILE_CTES,
         |pref AS (
         |  SELECT decile AS d,
         |    CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cp,
         |    CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cn
         |  FROM g
         |  UNION ALL SELECT 0, 0, 0),
         |cand AS (
         |  SELECT i.decile AS i, lo.d AS jd,
         |    CAST((CAST(hi.cp - lo.cp AS HUGEINT) * 1000000000000000000)
         |      // CAST(hi.cn - lo.cn AS HUGEINT) AS BIGINT) AS skey
         |  FROM (SELECT decile FROM g) i
         |  JOIN pref lo ON lo.d < i.decile
         |  JOIN pref hi ON hi.d >= i.decile),
         |imin AS (SELECT i, jd, min(skey) AS mn FROM cand GROUP BY 1, 2),
         |ofit AS (SELECT i AS decile, max(mn) AS skey FROM imin GROUP BY 1)
         |SELECT g.decile, g.n_docs, g.n_pos,
         |  ${ratio4Sql("n_pos", "n_docs")} AS pos_rate4,
         |  CAST((f.skey + 50000000000000) // 100000000000000 AS BIGINT)
         |    / 10000.0 AS iso_rate4
         |FROM g JOIN ofit f USING (decile) ORDER BY g.decile""".stripMargin)
  )

  // ---- pipeline and curation --------------------------------------------

  /** Training-data curation: decontamination, sampling, packing,
    * tokenizer training, mixtures and splits. */
  private def pipeline: Seq[Decl] = Seq(
    // deterministic sampling: rank on a seeded hash of the key —
    // reproducible on any cluster size.
    decl("sample_per_source", (s, d) => DocDedup.samplePerSource(s, d))(
      s"""SELECT source, rnk, doc_id FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${H64("concat('sample:', CAST(doc_id AS VARCHAR))")}, doc_id) AS rnk
         |  FROM documents
         |) WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin),

    // staged dedup funnel — mirrors Curation.dedupCascade: exact
    // keep-min, then greedy drop-the-larger-id over the shared MinHash
    // pair set, then the same over containment pairs; each stage's
    // pair test applies only between rows still alive
    decl("pipeline_dedup_cascade", (s, d) => Curation.dedupCascade(s, d))(
      s"""WITH docs0 AS (SELECT doc_id, text FROM documents),
         |k1 AS MATERIALIZED (SELECT doc_id FROM (
         |    SELECT doc_id, md5(text) AS dg,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM docs0)
         |  WHERE dg IS NULL OR rn = 1),
         |$SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |k2 AS MATERIALIZED (SELECT doc_id FROM k1 WHERE doc_id NOT IN (
         |  SELECT p.d2 FROM pairs p
         |  WHERE p.d1 IN (SELECT doc_id FROM k1)
         |    AND p.d2 IN (SELECT doc_id FROM k1))),
         |shd AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
         |  WHERE df <= ${graft.operators.DocDedup.MaxShingleDf}),
         |nct AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
         |cp AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |cpf AS (
         |  SELECT d1, d2 FROM cp
         |  JOIN nct n1 ON cp.d1 = n1.doc_id JOIN nct n2 ON cp.d2 = n2.doc_id
         |  WHERE greatest(shared / n1.n, shared / n2.n) >= 0.8),
         |k3 AS MATERIALIZED (SELECT doc_id FROM k2 WHERE doc_id NOT IN (
         |  SELECT p.d2 FROM cpf p
         |  WHERE p.d1 IN (SELECT doc_id FROM k2)
         |    AND p.d2 IN (SELECT doc_id FROM k2))),
         |tkc AS (SELECT doc_id, CAST(coalesce(len($TOKS), 0) AS BIGINT) AS nt
         |        FROM documents),
         |c0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(nt), 0) AS BIGINT) AS t FROM tkc),
         |c1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(nt), 0) AS BIGINT) AS t
         |       FROM k1 JOIN tkc USING (doc_id)),
         |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(nt), 0) AS BIGINT) AS t
         |       FROM k2 JOIN tkc USING (doc_id)),
         |c3 AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(nt), 0) AS BIGINT) AS t
         |       FROM k3 JOIN tkc USING (doc_id))
         |SELECT stage, stage_name, rows_in, rows_in - rows_out AS dropped,
         |  rows_out, ${ratio4Sql("rows_in - rows_out", "rows_in")} AS drop_share4,
         |  toks_in, toks_in - toks_out AS toks_dropped,
         |  ${ratio4Sql("toks_in - toks_out", "toks_in")} AS tok_drop_share4
         |FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage, 'exact' AS stage_name,
         |    c0.n AS rows_in, c1.n AS rows_out,
         |    c0.t AS toks_in, c1.t AS toks_out FROM c0, c1
         |  UNION ALL SELECT 2, 'near_dup', c1.n, c2.n, c1.t, c2.t FROM c1, c2
         |  UNION ALL SELECT 3, 'containment', c2.n, c3.n, c2.t, c3.t FROM c2, c3)
         |ORDER BY stage""".stripMargin),

    // the whole cleaning pipeline restated declaratively: exact-dedup
    // keepers ∖ near-dup losers, gated on quality and language.
    decl("pipeline_clean_docs", (s, d) => Pipeline.cleanDocs(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT c.d1, c.d2, count(*) AS shared
         |  FROM cand c JOIN sh a ON a.doc_id = c.d1
         |             JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2
         |),
         |losers AS (
         |  SELECT DISTINCT d2 AS doc_id
         |  FROM shared JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         |  WHERE shared / (n1.n + n2.n - shared) >= 0.5
         |),
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id, ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} AS digest
         |    FROM documents
         |  ) GROUP BY digest
         |),
         |q AS (
         |  SELECT doc_id, $TOKS AS toks,
         |    CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents
         |),
         |q2 AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
         |    CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS n_de,
         |    CAST(len(list_filter(toks, t -> t IN ('el','la','de','y','es'))) AS BIGINT) AS n_es,
         |    CAST(len(list_filter(toks, t -> t IN ('le','les','de','et','est'))) AS BIGINT) AS n_fr,
         |    CAST(len(list_filter(toks, t -> t IN ('的','是','不'))) AS BIGINT) AS n_zh,
         |    len_no_ws, toks
         |  FROM q
         |),
         |scored AS (
         |  SELECT doc_id, n_toks,
         |    ${qKeySql("n_toks", "n_stop", "len_no_ws")} / 10000.0 AS quality_score,
         |    CASE WHEN greatest(n_stop, n_de, n_es, n_fr, n_zh) = 0 THEN 'und'
         |         WHEN n_stop = greatest(n_stop, n_de, n_es, n_fr, n_zh) THEN 'en'
         |         ELSE 'other' END AS lang_gate,
         |    list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(toks, t -> ${H64("t")} % 1000000007)),
         |      (acc, x) -> (acc*31 + x) % 1000000007) AS fingerprint
         |  FROM q2
         |)
         |SELECT s.doc_id, s.n_toks, s.quality_score, s.fingerprint
         |FROM scored s
         |JOIN keepers k ON s.doc_id = k.doc_id
         |WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND s.quality_score >= 0.6 AND s.lang_gate = 'en'
         |ORDER BY s.doc_id""".stripMargin),

    decl("contamination_ngrams", (s, d) => Curation.contamination(s, d))(
      s"""WITH $CONTAM_CTE
         |SELECT n.doc_id AS doc_id, n_shingles, n_contaminated,
         |  ${ratio4Sql("n_contaminated", "n_shingles")} AS ratio
         |FROM n JOIN h ON n.doc_id = h.doc_id
         |ORDER BY n.doc_id""".stripMargin),

    decl("sample_stratified", (s, d) => Curation.stratifiedSample(s, d))(
      s"""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1)
         |SELECT d.source AS source, d.doc_id AS doc_id
         |FROM documents d JOIN c ON d.source = c.source
         |WHERE ${H64("concat('strat:', CAST(d.doc_id AS VARCHAR))")}
         |        % ${graft.operators.Curation.SampleSpace}
         |      < least(${graft.operators.Curation.SampleSpace},
         |              ${graft.operators.Curation.StratTarget *
                          graft.operators.Curation.SampleSpace} // cnt)
         |ORDER BY d.source, d.doc_id""".stripMargin),

    decl("bpe_pair_counts", (s, d) => Curation.bpePairCounts(s, d))(
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |pr AS (
         |  SELECT unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> concat_ws(' ', t[i], t[i+1]))) AS pair
         |  FROM toks WHERE len(t) >= 2)
         |SELECT pair, count(*) AS n FROM pr GROUP BY 1
         |ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    decl("bpe_train_merges", (s, d) => Curation.bpeTrainMerges(s, d))(
      bpeTrainMergesOracle),

    decl("bpe_encode_fertility", (s, d) => Curation.bpeEncodeFertility(s, d))(
      bpeEncodeFertilityOracle),

    decl("sample_weighted", (s, d) => Curation.weightedSample(s, d))(
      s"""SELECT source, doc_id, n_chars FROM documents
         |WHERE ${H64("concat('wsamp:', CAST(doc_id AS VARCHAR))")}
         |        % ${graft.operators.Curation.SampleSpace}
         |      < CAST(floor(least(1.0, n_chars / 500.0)
         |              * ${graft.operators.Curation.SampleSpace}) AS BIGINT)
         |ORDER BY doc_id""".stripMargin),

    decl("source_dup_rate", (s, d) => Curation.sourceDupRate(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |dd AS (SELECT DISTINCT doc_id FROM (
         |  SELECT d1 AS doc_id FROM pairs UNION ALL SELECT d2 FROM pairs))
         |SELECT d.source AS source, count(*) AS n_docs,
         |  count(dd.doc_id) AS n_dup_docs,
         |  ${ratio4Sql("count(dd.doc_id)", "count(*)")} AS dup_rate
         |FROM documents d LEFT JOIN dd ON d.doc_id = dd.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // RECURSIVE is for the fixpoint `chase`, not the closure
    decl("dedup_manifest", (s, d) => Curation.dedupManifest(s, d))(
      s"""WITH RECURSIVE $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
         |${labelPropCtes()},
         |ex AS (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY
         |      ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")}) AS keep_id
         |  FROM documents),
         |base AS (
         |  SELECT ex.doc_id AS doc_id,
         |    CASE WHEN ex.doc_id <> ex.keep_id THEN 'drop_exact'
         |         WHEN c.component_id IS NOT NULL AND c.component_id <> ex.doc_id
         |           THEN 'drop_near_dup'
         |         WHEN c.component_id IS NOT NULL THEN 'keep_canonical'
         |         ELSE 'keep_unique' END AS status,
         |    CASE WHEN ex.doc_id <> ex.keep_id THEN ex.keep_id
         |         ELSE coalesce(c.component_id, ex.doc_id) END AS canonical_id
         |  FROM ex LEFT JOIN comp c ON ex.doc_id = c.doc_id),
         |mm AS (SELECT doc_id AS m_id, canonical_id AS m_next FROM base
         |       WHERE doc_id <> canonical_id),
         |chase(doc_id, cur) AS (
         |  SELECT doc_id, canonical_id FROM base
         |  UNION
         |  SELECT c.doc_id, m.m_next FROM chase c JOIN mm m ON c.cur = m.m_id
         |)
         |SELECT c.doc_id AS doc_id, b.status, c.cur AS canonical_id
         |FROM chase c JOIN base b ON c.doc_id = b.doc_id
         |WHERE c.cur NOT IN (SELECT m_id FROM mm)
         |ORDER BY c.doc_id""".stripMargin),

    decl("dedup_best_quality", (s, d) => Curation.bestQualityCanonical(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
         |${labelPropCtes()},
         |q AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_toks,
         |        CAST(len(list_filter($TOKS,
         |          t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
         |        CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |      FROM documents),
         |qk AS (SELECT doc_id,
         |        ${qKeySql("n_toks", "n_stop", "len_no_ws")} AS q_key
         |       FROM q)
         |SELECT c.doc_id AS doc_id, component_id, q_key,
         |  first_value(c.doc_id) OVER (
         |    PARTITION BY component_id ORDER BY q_key DESC, c.doc_id) AS keep_id
         |FROM comp c JOIN qk ON qk.doc_id = c.doc_id
         |ORDER BY doc_id""".stripMargin),

    // the decontamination APPLY step: the training split minus docs
    // whose contamination ratio exceeds the threshold
    decl("pipeline_decontaminated", (s, d) => Curation.decontaminated(s, d))(
      s"""WITH $CONTAM_CTE,
         |bad AS (
         |  SELECT n.doc_id FROM n JOIN h ON n.doc_id = h.doc_id
         |  WHERE ${ratio4Sql("n_contaminated", "n_shingles")}
         |        > ${graft.operators.Curation.MaxContamRatio})
         |SELECT doc_id, source FROM documents
         |WHERE doc_id % ${graft.operators.Curation.EvalMod} <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin),

    // sequence packing: concatenate in doc_id order, cut every seqLen
    // tokens — the oracle's single-partition window IS the semantics;
    // the operator computes the same exclusive prefix sum via
    // range-repartitioned Ranking.globalPrefixSum (scalable path)
    decl("pipeline_pack_sequences", (s, d) => Pipeline.packSequences(s, d)) {
      val L = graft.operators.Pipeline.PackSeqLen
      s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_toks
         |           FROM documents),
         |p AS (SELECT doc_id, n_toks,
         |  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT doc_id, n_toks, start_tok,
         |  start_tok // $L AS pack_id,
         |  (n_toks > 0 AND (start_tok + n_toks - 1) // $L <> start_tok // $L) AS straddles
         |FROM p ORDER BY doc_id""".stripMargin
    },

    // uniform-target mix weight = (total div nSources) / n_toks, exact
    // rational on both engines — mirrors Curation.sourceMixReport
    decl("source_mix_report", (s, d) => Curation.sourceMixReport(s, d))(
      s"""WITH t AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(CAST(len($TOKS) AS BIGINT)) AS BIGINT) AS n_toks
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
         |               count(*) AS n_sources FROM t)
         |SELECT source, n_docs, n_toks,
         |  ${ratio4Sql("n_toks", "total")} AS tok_share,
         |  ${ratio4Sql("total // n_sources", "n_toks")} AS mix_weight
         |FROM t CROSS JOIN tot ORDER BY source""".stripMargin),

    // the flagship composition: decontaminated split ∩ exact keepers ∩
    // lexicon pred=1, DSIR importance attached, packed by prefix sum.
    // Self-contained tm-prefixed CTEs (the shared LEX/CONTAM macros
    // both claim the name `toks`); each block mirrors its operator's
    // standalone oracle verbatim.
    decl("pipeline_training_mix", (s, d) => Pipeline.trainingMix(s, d))(
      s"""WITH $TM_CTES,
         |tmp AS (
         |  SELECT doc_id, source, n_toks, score, importance,
         |    CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM tmsurv)
         |SELECT doc_id, source, n_toks, score, importance, start_tok,
         |  start_tok // ${graft.operators.Pipeline.PackSeqLen} AS pack_id
         |FROM tmp ORDER BY doc_id""".stripMargin),

    // per-gate solo/marginal ablation over the same tm CTE chain —
    // mirrors Pipeline.gateAblation (gate sets: NOT-IN-tmbad, tmkeep,
    // tmscore; population = training split)
    decl("pipeline_gate_ablation", (s, d) => Pipeline.gateAblation(s, d)) {
      val mod = graft.operators.Curation.EvalMod
      s"""WITH $TM_CTES,
         |p AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tmt
         |      WHERE doc_id % $mod <> 0),
         |gd AS (SELECT doc_id FROM p WHERE doc_id NOT IN (SELECT doc_id FROM tmbad)),
         |gk AS (SELECT p.doc_id FROM p JOIN tmkeep k ON k.doc_id = p.doc_id),
         |gl AS (SELECT p.doc_id FROM p JOIN tmscore s ON s.doc_id = p.doc_id),
         |stk AS (SELECT doc_id FROM gd INTERSECT SELECT doc_id FROM gk
         |        INTERSECT SELECT doc_id FROM gl),
         |wo_d AS (SELECT doc_id FROM gk INTERSECT SELECT doc_id FROM gl),
         |wo_k AS (SELECT doc_id FROM gd INTERSECT SELECT doc_id FROM gl),
         |wo_l AS (SELECT doc_id FROM gd INTERSECT SELECT doc_id FROM gk),
         |ap AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t FROM p),
         |ast AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |        FROM p JOIN stk USING (doc_id)),
         |ad AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |       FROM p JOIN gd USING (doc_id)),
         |ak AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |       FROM p JOIN gk USING (doc_id)),
         |al AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |       FROM p JOIN gl USING (doc_id)),
         |awd AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |        FROM p JOIN wo_d USING (doc_id)),
         |awk AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |        FROM p JOIN wo_k USING (doc_id)),
         |awl AS (SELECT CAST(count(*) AS BIGINT) AS c, CAST(coalesce(sum(n),0) AS BIGINT) AS t
         |        FROM p JOIN wo_l USING (doc_id))
         |SELECT * FROM (
         |  SELECT 'decontam' AS gate, ad.c AS docs_kept_solo, ad.t AS toks_kept_solo,
         |    awd.c - ast.c AS docs_lost_marginal, awd.t - ast.t AS toks_lost_marginal
         |  FROM ad, awd, ast
         |  UNION ALL
         |  SELECT 'exact_dedup', ak.c, ak.t, awk.c - ast.c, awk.t - ast.t
         |  FROM ak, awk, ast
         |  UNION ALL
         |  SELECT 'lexicon', al.c, al.t, awl.c - ast.c, awl.t - ast.t
         |  FROM al, awl, ast
         |  UNION ALL
         |  -- overlap rows: kept by the pair jointly; dropped by BOTH
         |  -- (inclusion-exclusion: p − a − b + a∩b). wo_l = gd∩gk etc.
         |  SELECT 'overlap:decontam*exact_dedup', awl.c, awl.t,
         |    ap.c - ad.c - ak.c + awl.c, ap.t - ad.t - ak.t + awl.t
         |  FROM ap, ad, ak, awl
         |  UNION ALL
         |  SELECT 'overlap:decontam*lexicon', awk.c, awk.t,
         |    ap.c - ad.c - al.c + awk.c, ap.t - ad.t - al.t + awk.t
         |  FROM ap, ad, al, awk
         |  UNION ALL
         |  SELECT 'overlap:exact_dedup*lexicon', awd.c, awd.t,
         |    ap.c - ak.c - al.c + awd.c, ap.t - ak.t - al.t + awd.t
         |  FROM ap, ak, al, awd
         |  UNION ALL
         |  SELECT 'stack', ast.c, ast.t, ap.c - ast.c, ap.t - ast.t
         |  FROM ast, ap
         |) ORDER BY gate""".stripMargin
    },

    // before/after panel over the same tm CTE chain: what the gate
    // stack did to the source mix — mirrors Curation.mixRetention.
    decl("mix_retention_report", (s, d) => Pipeline.mixRetention(s, d))(
      s"""WITH $TM_CTES,
         |tmin AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS docs_in,
         |    CAST(sum(len(t)) AS BIGINT) AS toks_in
         |  FROM tmt GROUP BY source),
         |tmout AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS docs_kept,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_kept
         |  FROM tmsurv GROUP BY source)
         |SELECT source, docs_in, toks_in,
         |  coalesce(docs_kept, 0) AS docs_kept,
         |  coalesce(toks_kept, 0) AS toks_kept,
         |  ${ratio4Sql("coalesce(docs_kept, 0)", "docs_in")} AS doc_retention,
         |  ${ratio4Sql("coalesce(toks_kept, 0)", "toks_in")} AS tok_retention
         |FROM tmin LEFT JOIN tmout USING (source)
         |ORDER BY source""".stripMargin),

    // packing in BPE-token units: the bpe_train_merges + bpe_encode_fertility chain
    // yields per-doc BPE totals, then the same prefix-sum cut
    decl("pipeline_pack_bpe", (s, d) => Pipeline.packBpeSequences(s, d)) {
      val L = graft.operators.Pipeline.PackSeqLen
      s"""WITH $bpeTrainCtes,
         |$bpeEncodeCtes,
         |dtoks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |dw AS (SELECT doc_id, w, count(*) AS cnt
         |       FROM (SELECT doc_id, unnest(t) AS w FROM dtoks) q0
         |       WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY doc_id, w),
         |pd AS (SELECT doc_id, CAST(sum(cnt * n_syms) AS BIGINT) AS n_toks
         |       FROM dw JOIN nsyms USING (w) GROUP BY doc_id),
         |p AS (SELECT doc_id, n_toks,
         |  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM pd)
         |SELECT doc_id, n_toks, start_tok,
         |  start_tok // $L AS pack_id,
         |  (n_toks > 0 AND (start_tok + n_toks - 1) // $L <> start_tok // $L) AS straddles
         |FROM p ORDER BY doc_id""".stripMargin
    },

    // quality-ranked token-budget selection: exclusive prefix sum of
    // tokens in (q_key DESC, doc_id) order, selected = starts below the
    // budget (the straddler is included — greedy fill)
    decl("pipeline_token_budget", (s, d) => Pipeline.tokenBudget(s, d)) {
      val B = graft.operators.Pipeline.TokenBudget
      s"""WITH q AS (SELECT doc_id, $TOKS AS toks,
         |  CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |k AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         |  CAST(${qKeySql(
             "CAST(len(toks) AS BIGINT)",
             "CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)",
             "len_no_ws")} AS BIGINT) AS q_key FROM q),
         |p AS (SELECT doc_id, q_key, n_toks,
         |  CAST(coalesce(sum(n_toks) OVER (ORDER BY q_key DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM k)
         |SELECT doc_id, q_key, n_toks, start_tok, start_tok < $B AS selected
         |FROM p ORDER BY doc_id""".stripMargin
    },

    decl("dsir_weights", (s, d) => QualityModels.dsirWeights(s, d))(
      s"""WITH toks AS (SELECT doc_id, source, $TOKS AS t FROM documents),
         |bg AS (
         |  SELECT doc_id, source, unnest(list_transform(generate_series(1, len(t)-1),
         |    i -> concat_ws(' ', t[i], t[i+1]))) AS pair
         |  FROM toks WHERE len(t) >= 2),
         |b AS (SELECT doc_id, source,
         |        ${H64("pair")} % ${graft.operators.QualityModels.DsirBuckets} AS bucket
         |      FROM bg),
         |bt AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 0 ELSE 1 END) AS BIGINT) AS cs
         |  FROM b GROUP BY 1),
         |w AS (SELECT bucket, ${clipSql(halfUpSql("(ct + 1) * 10000", "cs + 1"))} AS w4
         |      FROM bt),
         |pdb AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  ${halfUpSql("CAST(sum(c * w4) AS BIGINT)", "CAST(sum(c) AS BIGINT)")} / 10000.0
         |    AS importance
         |FROM pdb JOIN w USING (bucket) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // deterministic hash holdout split; the salt prefix decorrelates the
    // split hash from every other doc_id hash use
    decl("pipeline_holdout_split", (s, d) => Pipeline.holdoutSplit(s, d)) {
      val P = graft.operators.Pipeline
      s"""WITH d AS (SELECT CAST(len($TOKS) AS BIGINT) AS n_toks,
         |  ${H64("concat('split:', CAST(doc_id AS VARCHAR))")} % ${P.SplitBuckets} AS b
         |  FROM documents),
         |s AS (SELECT CASE WHEN b = ${P.ValBucket} THEN 'val'
         |               WHEN b = ${P.TestBucket} THEN 'test'
         |               ELSE 'train' END AS split,
         |    count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks
         |  FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
         |    CAST(sum(n_toks) AS BIGINT) AS tt FROM s)
         |SELECT split, n_docs, n_toks,
         |  ${ratio4Sql("n_docs", "td")} AS doc_share,
         |  ${ratio4Sql("n_toks", "tt")} AS tok_share
         |FROM s CROSS JOIN t ORDER BY split""".stripMargin
    },

    // held-out split leakage: same window grain + hash-split rule as
    // dedup_passages / pipeline_holdout_split, composed
    decl("split_leakage", (s, d) => Pipeline.splitLeakage(s, d)) {
      val P = graft.operators.Pipeline
      val w = graft.operators.DocDedup.ChunkTokens
      s"""WITH d AS (SELECT doc_id,
         |    CASE ${H64("concat('split:', CAST(doc_id AS VARCHAR))")} % ${P.SplitBuckets}
         |      WHEN ${P.ValBucket} THEN 'val' WHEN ${P.TestBucket} THEN 'test'
         |      ELSE 'train' END AS split,
         |    $TOKS AS t
         |  FROM documents),
         |wn AS (
         |  SELECT doc_id, split, ${H64("ws")} AS win_h
         |  FROM (
         |    SELECT doc_id, split, unnest(list_transform(
         |      generate_series(1, len(t) - ${w - 1}),
         |      i -> array_to_string(list_slice(t, i, i + ${w - 1}), ' '))) AS ws
         |    FROM d WHERE len(t) >= $w)
         |),
         |tw AS (SELECT DISTINCT win_h AS t_h FROM wn WHERE split = 'train'),
         |pd AS (SELECT split, doc_id, count(*) AS n_w,
         |    CAST(coalesce(sum(CASE WHEN t_h IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_l
         |  FROM wn LEFT JOIN tw ON win_h = t_h
         |  WHERE split <> 'train' GROUP BY 1, 2)
         |SELECT split, count(*) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN n_l > 0 THEN 1 END), 0) AS BIGINT) AS n_leaky_docs,
         |  CAST(sum(n_w) AS BIGINT) AS n_windows,
         |  CAST(sum(n_l) AS BIGINT) AS n_leaked,
         |  ${ratio4Sql("sum(n_l)", "sum(n_w)")} AS leak_share,
         |  ${ratio4Sql(
             "CAST(coalesce(sum(CASE WHEN n_l > 0 THEN 1 END), 0) AS BIGINT)",
             "count(*)")} AS doc_leak_share
         |FROM pd GROUP BY split ORDER BY split""".stripMargin
    },

    // repeat-cap epoch planning over the uniform mix target — pure
    // int64 rationals, mirrors Curation.epochPlan
    decl("pipeline_epoch_plan", (s, d) => Curation.epochPlan(s, d)) {
      val cap = graft.operators.Curation.MaxEpochs
      s"""WITH t AS (
         |  SELECT source, CAST(sum(CAST(len($TOKS) AS BIGINT)) AS BIGINT) AS n_toks
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
         |               count(*) AS n_sources FROM t),
         |p AS (SELECT source, n_toks, total // n_sources AS target_toks,
         |        least(total // n_sources, n_toks * $cap) AS planned_toks
         |      FROM t CROSS JOIN tot),
         |pt AS (SELECT CAST(sum(planned_toks) AS BIGINT) AS pt FROM p)
         |SELECT source, n_toks, CAST(target_toks AS BIGINT) AS target_toks,
         |  CAST(planned_toks AS BIGINT) AS planned_toks,
         |  ${ratio4Sql("planned_toks", "n_toks")} AS epochs,
         |  CAST(target_toks - planned_toks AS BIGINT) AS deficit_toks,
         |  ${ratio4Sql("planned_toks", "pt")} AS planned_share
         |FROM p CROSS JOIN pt ORDER BY source""".stripMargin
    },

    // seqLen sweep over ONE prefix-sum frame — mirrors Pipeline.packCurve
    decl("pipeline_pack_curve", (s, d) => Pipeline.packCurve(s, d)) {
      val lens = graft.operators.Pipeline.PackLens
      val sts = lens.map(l =>
        s"""CAST(sum(CASE WHEN n_toks > 0
           |  AND (start_tok + n_toks - 1) // $l <> start_tok // $l
           |  THEN 1 ELSE 0 END) AS BIGINT) AS st_$l""".stripMargin).mkString(",\n|    ")
      val rows = lens.map { l =>
        val np = s"(total_toks + ${l - 1}) // $l"
        s"""SELECT CAST($l AS BIGINT) AS seq_len, n_docs, total_toks,
           |  $np AS n_packs, st_$l AS n_straddle,
           |  ${ratio4Sql(s"st_$l", "n_docs")} AS straddle_share,
           |  ${ratio4Sql(s"total_toks - ($np - 1) * $l", l.toString)} AS last_pack_fill
           |FROM a""".stripMargin
      }.mkString("\n|UNION ALL\n|")
      s"""WITH t AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_toks
         |           FROM documents),
         |p AS (SELECT doc_id, n_toks,
         |  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS total_toks,
         |    $sts
         |  FROM p)
         |$rows
         |ORDER BY seq_len""".stripMargin
    },

    // serpentine token-balanced sharding — mirrors Pipeline.shardPlan
    decl("pipeline_shard_plan", (s, d) => Pipeline.shardPlan(s, d)) {
      val S = graft.operators.Pipeline.NumShards
      s"""WITH tk AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_toks FROM documents),
         |r AS (SELECT doc_id, n_toks,
         |        row_number() OVER (ORDER BY n_toks DESC, doc_id) AS rn FROM tk),
         |s AS (SELECT n_toks, (rn-1) // $S AS block, (rn-1) % $S AS pos FROM r),
         |sh AS (SELECT n_toks,
         |        CAST(CASE WHEN block % 2 = 0 THEN pos ELSE ${S - 1} - pos END AS BIGINT) AS shard
         |       FROM s),
         |a AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
         |        CAST(max(n_toks) AS BIGINT) AS max_doc_tokens
         |      FROM sh GROUP BY 1),
         |g AS (SELECT CAST(sum(n_toks) AS BIGINT) AS g FROM tk)
         |SELECT shard, n_docs, shard_tokens, max_doc_tokens,
         |  ${ratio4Sql("shard_tokens", "g")} AS token_share,
         |  ${ratio4Sql(s"shard_tokens * $S", "g")} AS balance4
         |FROM a CROSS JOIN g ORDER BY shard""".stripMargin
    },

    // z-order layout manifest — mirrors Layout.zorderPlan: equi-width
    // buckets, Morton interleave, global rank cut into equal files
    decl("pipeline_zorder_plan", (s, d) => Layout.zorderPlan(s, d)) {
      val F = graft.operators.Layout.NumFiles
      val zi = (0 until graft.operators.Layout.ZBits).map(i =>
        s"(((b1 >> $i) & 1) << ${2 * i + 1}) + (((b2 >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH d AS (SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
         |             min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi,
         |             CAST(count(*) AS BIGINT) AS n FROM lineitem),
         |b AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |        (l_partkey - pk_lo) * 1024 // (pk_hi - pk_lo + 1) AS b1,
         |        (l_suppkey - sk_lo) * 1024 // (sk_hi - sk_lo + 1) AS b2,
         |        pk_lo, pk_hi, sk_lo, sk_hi, n
         |      FROM lineitem, d),
         |z AS (SELECT *, $zi AS z FROM b),
         |r AS (SELECT *, row_number() OVER (ORDER BY z, l_orderkey, l_linenumber) AS rn FROM z),
         |f AS (SELECT *, (rn - 1) * $F // n AS file_id FROM r),
         |a AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |        min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
         |        min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max,
         |        min(pk_lo) AS pk_lo, min(pk_hi) AS pk_hi,
         |        min(sk_lo) AS sk_lo, min(sk_hi) AS sk_hi
         |      FROM f GROUP BY 1)
         |SELECT file_id, n_rows, pk_min, pk_max, sk_min, sk_max,
         |  ${ratio4Sql("pk_max - pk_min + 1", "pk_hi - pk_lo + 1")} AS pk_span_share4,
         |  ${ratio4Sql("sk_max - sk_min + 1", "sk_hi - sk_lo + 1")} AS sk_span_share4
         |FROM a ORDER BY file_id""".stripMargin
    },

    // files a footer-stats reader touches for centered 2-D boxes:
    // z-order manifest vs the same rows cut in arrival order —
    // mirrors Layout.zorderPruningGain over the zorder-plan CTEs
    decl("zorder_pruning_gain", (s, d) => Layout.zorderPruningGain(s, d)) {
      val F = graft.operators.Layout.NumFiles
      val zi = (0 until graft.operators.Layout.ZBits).map(i =>
        s"(((b1 >> $i) & 1) << ${2 * i + 1}) + (((b2 >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      val pcts = graft.operators.Layout.GainPcts.mkString(", ")
      val box =
        """pk_min <= (pk_lo + pk_hi) // 2 + (pk_hi - pk_lo + 1) * pct // 200
          | AND pk_max >= (pk_lo + pk_hi) // 2 - (pk_hi - pk_lo + 1) * pct // 200
          | AND sk_min <= (sk_lo + sk_hi) // 2 + (sk_hi - sk_lo + 1) * pct // 200
          | AND sk_max >= (sk_lo + sk_hi) // 2 - (sk_hi - sk_lo + 1) * pct // 200"""
          .stripMargin.replace("\n", "")
      s"""WITH d AS (SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
         |             min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi,
         |             CAST(count(*) AS BIGINT) AS n FROM lineitem),
         |b AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |        (l_partkey - pk_lo) * 1024 // (pk_hi - pk_lo + 1) AS b1,
         |        (l_suppkey - sk_lo) * 1024 // (sk_hi - sk_lo + 1) AS b2,
         |        pk_lo, pk_hi, sk_lo, sk_hi, n
         |      FROM lineitem, d),
         |z AS (SELECT *, $zi AS z FROM b),
         |zf AS (SELECT *, (row_number() OVER (ORDER BY z, l_orderkey, l_linenumber) - 1)
         |         * $F // n AS file_id FROM z),
         |af AS (SELECT *, (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1)
         |         * $F // n AS file_id FROM b),
         |zm AS (SELECT file_id, min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
         |         min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max,
         |         min(pk_lo) AS pk_lo, min(pk_hi) AS pk_hi,
         |         min(sk_lo) AS sk_lo, min(sk_hi) AS sk_hi
         |       FROM zf GROUP BY 1),
         |am AS (SELECT file_id, min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
         |         min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max,
         |         min(pk_lo) AS pk_lo, min(pk_hi) AS pk_hi,
         |         min(sk_lo) AS sk_lo, min(sk_hi) AS sk_hi
         |       FROM af GROUP BY 1),
         |p AS (SELECT CAST(unnest([$pcts]) AS BIGINT) AS pct),
         |zt AS (SELECT pct, CAST(count(*) AS BIGINT) AS z_files
         |       FROM p, zm WHERE $box GROUP BY 1),
         |at AS (SELECT pct, CAST(count(*) AS BIGINT) AS arrival_files
         |       FROM p, am WHERE $box GROUP BY 1)
         |SELECT p.pct AS pct,
         |  coalesce(z_files, 0) AS z_files,
         |  ${ratio4Sql("coalesce(z_files, 0)", F.toString)} AS z_share4,
         |  coalesce(arrival_files, 0) AS arrival_files,
         |  ${ratio4Sql("coalesce(arrival_files, 0)", F.toString)} AS arrival_share4
         |FROM p LEFT JOIN zt ON zt.pct = p.pct LEFT JOIN at ON at.pct = p.pct
         |ORDER BY pct""".stripMargin
    },

    // quality-decile drop shares under min-keeper near-dup dedup —
    // mirrors QualitySignals.dedupSurvivorship (shared pair + closure CTEs
    // with dedup_components; same quality-key/decile algebra as the
    // joint grid)
    decl("dedup_survivorship_quality", (s, d) => QualitySignals.dedupSurvivorship(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
         |${labelPropCtes()},
         |q AS (SELECT doc_id, $TOKS AS toks,
         |  CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |kk AS (SELECT doc_id, ${qKeySql(
             "CAST(len(toks) AS BIGINT)",
             "CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)",
             "len_no_ws")} AS qkey FROM q),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kk),
         |qr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY qkey, doc_id) AS BIGINT) AS qrn
         |       FROM kk),
         |dd AS (SELECT doc_id, CAST((qrn - 1) * 10 // n + 1 AS BIGINT) AS qdec
         |       FROM qr CROSS JOIN nn),
         |drp AS (SELECT doc_id FROM comp WHERE doc_id <> component_id)
         |SELECT dd.qdec AS qdec, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN drp.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  ${ratio4Sql(
             "sum(CASE WHEN drp.doc_id IS NOT NULL THEN 1 ELSE 0 END)",
             "count(*)")} AS drop_share4
         |FROM dd LEFT JOIN drp ON drp.doc_id = dd.doc_id
         |GROUP BY 1 ORDER BY qdec""".stripMargin),

    // weighted budget allocation with one leftover-redistribution pass
    // — mirrors Pipeline.budgetAllocation (same qKeySql quality weight)
    decl("pipeline_budget_allocation", (s, d) => Pipeline.budgetAllocation(s, d)) {
      val B = graft.operators.Pipeline.TokenBudget
      s"""WITH q AS (SELECT source, $TOKS AS toks,
         |  CAST(length(regexp_replace(text, '$WS', '', 'g')) AS BIGINT) AS len_no_ws
         |  FROM documents),
         |kk AS (SELECT source, CAST(len(toks) AS BIGINT) AS n, ${qKeySql(
             "CAST(len(toks) AS BIGINT)",
             "CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)",
             "len_no_ws")} AS qk FROM q),
         |per AS (SELECT source, CAST(sum(n) AS BIGINT) AS avail_toks,
         |          CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(qk) AS BIGINT) AS sum_qk
         |        FROM kk GROUP BY 1),
         |pw AS (SELECT source, avail_toks,
         |         ${halfUpSql("sum_qk", "greatest(n_docs, 1)")} AS weight4
         |       FROM per),
         |tw AS (SELECT CAST(sum(weight4) AS BIGINT) AS w_total FROM pw),
         |p1 AS (SELECT source, avail_toks, weight4,
         |         ${halfUpSql(s"$B * weight4", "greatest(w_total, 1)")} AS target_toks
         |       FROM pw CROSS JOIN tw),
         |p2 AS (SELECT *, least(avail_toks, target_toks) AS alloc_toks FROM p1),
         |lo AS (SELECT greatest($B - CAST(sum(alloc_toks) AS BIGINT), 0) AS leftover,
         |         CAST(sum(CASE WHEN alloc_toks < avail_toks THEN weight4
         |                       ELSE 0 END) AS BIGINT) AS w_open
         |       FROM p2),
         |p3 AS (SELECT p2.*,
         |         least(avail_toks - alloc_toks,
         |           CASE WHEN alloc_toks < avail_toks
         |                THEN ${halfUpSql("leftover * weight4",
                                           "greatest(w_open, 1)")}
         |                ELSE 0 END) AS extra_toks
         |       FROM p2 CROSS JOIN lo)
         |SELECT source, avail_toks, weight4, target_toks,
         |  alloc_toks + extra_toks AS final_toks,
         |  ${ratio4Sql("alloc_toks + extra_toks", "greatest(avail_toks, 1)")} AS fill4,
         |  ${ratio4Sql("alloc_toks + extra_toks", B.toString)} AS share4
         |FROM p3 ORDER BY source""".stripMargin
    },

    // GroupKFold by near-dup component: fold = h64('fold:'||group) % K,
    // group = component label (singletons = own doc id) — mirrors
    // Pipeline.groupFolds (shared pair/component closure CTEs)
    decl("pipeline_group_folds", (s, d) => Pipeline.groupFolds(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |edges AS (SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs),
         |${labelPropCtes()},
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS gid,
         |    ${H64("concat('fold:', CAST(coalesce(c.component_id, d.doc_id) AS VARCHAR))")}
         |      % ${graft.operators.Pipeline.NumFolds} AS fold
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |cross_p AS (
         |  SELECT a.fold, CAST(count(*) AS BIGINT) AS n_cross_pairs
         |  FROM pairs p JOIN lab a ON a.doc_id = p.d1
         |               JOIN lab b ON b.doc_id = p.d2
         |  WHERE a.fold <> b.fold GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lab)
         |SELECT l.fold, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT l.gid) AS BIGINT) AS n_groups,
         |  ${ratio4Sql("CAST(count(*) AS BIGINT)", "any_value(tot.n_total)")} AS doc_share4,
         |  coalesce(any_value(cp.n_cross_pairs), 0) AS n_cross_pairs
         |FROM lab l LEFT JOIN cross_p cp ON cp.fold = l.fold CROSS JOIN tot
         |GROUP BY l.fold ORDER BY l.fold""".stripMargin),

    // near-dup pairs straddling the holdout split — mirrors
    // Pipeline.splitNearDupLeakage (shared split CASE + MH pair CTEs;
    // fixed 6-row spine, zero-filled)
    decl("split_neardup_leakage", (s, d) => Pipeline.splitNearDupLeakage(s, d)) {
      val P = graft.operators.Pipeline
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |sp AS (SELECT doc_id,
         |    CASE WHEN ${H64("concat('split:', CAST(doc_id AS VARCHAR))")} % ${P.SplitBuckets} = ${P.ValBucket} THEN 'val'
         |         WHEN ${H64("concat('split:', CAST(doc_id AS VARCHAR))")} % ${P.SplitBuckets} = ${P.TestBucket} THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM documents),
         |sz AS (SELECT split, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY 1),
         |pl AS (SELECT least(a.split, b.split) AS split_1,
         |         greatest(a.split, b.split) AS split_2,
         |         CAST(count(*) AS BIGINT) AS np
         |       FROM pairs p JOIN sp a ON a.doc_id = p.d1
         |                    JOIN sp b ON b.doc_id = p.d2
         |       GROUP BY 1, 2),
         |names AS (SELECT unnest(['test', 'train', 'val']) AS s),
         |spine AS (SELECT a.s AS split_1, b.s AS split_2
         |          FROM names a JOIN names b ON a.s <= b.s)
         |SELECT split_1, split_2,
         |  coalesce(z1.n, 0) AS n_docs_1, coalesce(z2.n, 0) AS n_docs_2,
         |  coalesce(np, 0) AS n_pairs
         |FROM spine
         |LEFT JOIN sz z1 ON z1.split = split_1
         |LEFT JOIN sz z2 ON z2.split = split_2
         |LEFT JOIN pl USING (split_1, split_2)
         |ORDER BY split_1, split_2""".stripMargin
    }
  )

  // ---- privacy ----------------------------------------------------------

  /** Release gates: k-anonymity, l-diversity, t-closeness and the DP family. */
  private def privacy: Seq[Decl] = Seq(
    // the APPLY half of the release report — only releasable classes,
    // each with its exact released cents sum; mirrors
    // Privacy.applyRelease (the report oracle reused as a subquery so
    // verdicts cannot drift between the report and the extract)
    decl("privacy_apply_release", (s, d) => Privacy.applyRelease(s, d))(
      s"""WITH rep AS (SELECT event_type, day, k, l
         |  FROM ($RELEASE_REPORT_SQL) WHERE releasable),
         |ev AS ($EV),
         |cents AS (
         |  SELECT event_type, ts_us // ${EventSeries.DayUs} AS day,
         |    CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
         |  FROM ev GROUP BY 1, 2)
         |SELECT event_type, day, k, l, sum_cents
         |FROM rep JOIN cents USING (event_type, day)
         |ORDER BY event_type, day""".stripMargin),

    // k-anonymity class sizes — mirrors Privacy.kAnonymity
    decl("privacy_k_anonymity", (s, d) => Privacy.kAnonymity(s, d)) {
      val P = graft.operators.Privacy
      val rankCase = P.KBuckets.map { case (r, _, ub) => s"WHEN k < $ub THEN $r" }
        .mkString("CASE ", " ", s" ELSE ${P.KBuckets.length + 1} END")
      val labelCase = P.KBuckets.map { case (r, l, _) => s"WHEN $r THEN '$l'" }
        .mkString("CASE bucket_rank ", " ", " ELSE 'k>=20' END")
      s"""WITH ev AS ($EV),
         |q AS (SELECT event_type, ts_us // ${EventSeries.DayUs} AS day,
         |        CAST(ROUND(value*100) AS BIGINT) // ${P.SpendBandCents} AS band
         |      FROM ev),
         |cl AS (SELECT event_type, day, band, CAST(count(*) AS BIGINT) AS k
         |       FROM q GROUP BY 1, 2, 3),
         |b AS (SELECT CAST($rankCase AS BIGINT) AS bucket_rank, k FROM cl),
         |c AS (SELECT bucket_rank, CAST(count(*) AS BIGINT) AS n_classes,
         |        CAST(sum(k) AS BIGINT) AS n_rows FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM c),
         |cum AS (SELECT bucket_rank, n_classes, n_rows,
         |          CAST(sum(n_rows) OVER (ORDER BY bucket_rank) AS BIGINT) AS cum_rows
         |        FROM c)
         |SELECT bucket_rank, $labelCase AS bucket, n_classes, n_rows,
         |  ${ratio4Sql("n_rows", "t")} AS row_share,
         |  ${ratio4Sql("cum_rows", "t")} AS cum_share
         |FROM cum CROSS JOIN t ORDER BY bucket_rank""".stripMargin
    },

    // l-diversity histogram — mirrors Privacy.lDiversity (same QI
    // classes, measure = distinct users per class)
    decl("privacy_l_diversity", (s, d) => Privacy.lDiversity(s, d)) {
      val P = graft.operators.Privacy
      val rankCase = P.KBuckets.map { case (r, _, ub) => s"WHEN m < $ub THEN $r" }
        .mkString("CASE ", " ", s" ELSE ${P.KBuckets.length + 1} END")
      val labelCase = P.KBuckets
        .map { case (r, l, _) => s"WHEN $r THEN '${l.replace("k", "l")}'" }
        .mkString("CASE bucket_rank ", " ", " ELSE 'l>=20' END")
      s"""WITH ev AS ($EV),
         |q AS (SELECT event_type, ts_us // ${EventSeries.DayUs} AS day,
         |        CAST(ROUND(value*100) AS BIGINT) // ${P.SpendBandCents} AS band,
         |        user_id
         |      FROM ev),
         |cl AS (SELECT event_type, day, band,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS m,
         |         CAST(count(*) AS BIGINT) AS k
         |       FROM q GROUP BY 1, 2, 3),
         |b AS (SELECT CAST($rankCase AS BIGINT) AS bucket_rank, k FROM cl),
         |c AS (SELECT bucket_rank, CAST(count(*) AS BIGINT) AS n_classes,
         |        CAST(sum(k) AS BIGINT) AS n_rows FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM c),
         |cum AS (SELECT bucket_rank, n_classes, n_rows,
         |          CAST(sum(n_rows) OVER (ORDER BY bucket_rank) AS BIGINT) AS cum_rows
         |        FROM c)
         |SELECT bucket_rank, $labelCase AS bucket, n_classes, n_rows,
         |  ${ratio4Sql("n_rows", "t")} AS row_share,
         |  ${ratio4Sql("cum_rows", "t")} AS cum_share
         |FROM cum CROSS JOIN t ORDER BY bucket_rank""".stripMargin
    },

    // ordered-EMD t-closeness over spend bands — mirrors
    // Privacy.tCloseness (exact per-million cumulative arithmetic;
    // chain shared with privacy_release_report via TCLOSE_CTES)
    decl("privacy_t_closeness", (s, d) => Privacy.tCloseness(s, d))(
      s"""WITH ev AS ($EV),
         |$TCLOSE_CTES
         |SELECT event_type, day, k, n_bands, t_ppm
         |FROM tfin ORDER BY event_type, day""".stripMargin),

    // suppression-cost ladder over coarsening QI grains — mirrors
    // Privacy.generalizationLadder (every rung re-aggregates the ONE
    // materialized fine-grain class frame)
    decl("privacy_generalization_ladder", (s, d) => Privacy.generalizationLadder(s, d)) {
      val P = graft.operators.Privacy
      val rungs = (for {
        (tg, days) <- P.GenTimeLadder
        bw <- P.GenBandLadder
      } yield {
        val units = bw / P.SpendBandCents
        s"""SELECT '$tg' AS time_grain, CAST($bw AS BIGINT) AS band_cents,
           |  CAST(count(*) AS BIGINT) AS n_classes,
           |  CAST(sum(k) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN k < ${P.GenKThreshold} THEN 1 ELSE 0 END)
           |    AS BIGINT) AS suppressed_classes,
           |  CAST(sum(CASE WHEN k < ${P.GenKThreshold} THEN k ELSE 0 END)
           |    AS BIGINT) AS suppressed_rows
           |FROM (SELECT event_type, day // $days AS t, band // $units AS b,
           |        CAST(sum(k) AS BIGINT) AS k
           |      FROM fine GROUP BY 1, 2, 3)""".stripMargin
      }).mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH ev AS ($EV),
         |fine AS MATERIALIZED (
         |  SELECT event_type, ts_us // ${EventSeries.DayUs} AS day,
         |    CAST(ROUND(value*100) AS BIGINT) // ${P.SpendBandCents} AS band,
         |    CAST(count(*) AS BIGINT) AS k
         |  FROM ev GROUP BY 1, 2, 3),
         |rungs AS (
         |$rungs)
         |SELECT time_grain, band_cents, n_classes, n_rows,
         |  suppressed_classes, suppressed_rows,
         |  ${ratio4Sql("suppressed_rows", "greatest(n_rows, 1)")}
         |    AS suppressed_share4
         |FROM rungs ORDER BY time_grain, band_cents""".stripMargin
    },

    // the composed k/l/t release decision table — mirrors
    // Privacy.releaseReport (same t chain, plus the distinct-user l)
    decl("privacy_release_report", (s, d) => Privacy.releaseReport(s, d))(
      RELEASE_REPORT_SQL),

    // discrete-Laplace DP release — mirrors Privacy.dpCounts (the
    // trailing-ones-of-hash geometric, exact bit arithmetic, no libm)
    decl("privacy_dp_counts", (s, d) => Privacy.dpCounts(s, d))(
      s"""WITH ev AS ($EV),
         |cells AS (
         |  SELECT event_type, ts_us // 86400000000 AS day_bucket,
         |    CAST(count(*) AS BIGINT) AS true_n
         |  FROM ev GROUP BY 1, 2),
         |hz AS (
         |  SELECT *,
         |    ${H64("concat('dp1', '|', event_type, '|', CAST(day_bucket AS VARCHAR))")} AS h1,
         |    ${H64("concat('dp2', '|', event_type, '|', CAST(day_bucket AS VARCHAR))")} AS h2
         |  FROM cells),
         |nz AS (
         |  SELECT event_type, day_bucket, true_n,
         |    CAST(bit_count(((~h1) & -(~h1)) - 1) AS BIGINT)
         |      - CAST(bit_count(((~h2) & -(~h2)) - 1) AS BIGINT) AS noise
         |  FROM hz)
         |SELECT event_type, day_bucket, true_n, noise,
         |  greatest(true_n + noise, 0) AS released
         |FROM nz ORDER BY event_type, day_bucket""".stripMargin),

    // screening
    // DP sum release: contribution bounding (clamp to ClampCents) +
    // the dpCounts geometric noise scaled by the sensitivity —
    // mirrors Privacy.dpSums (distinct dps1/dps2 hash tags)
    decl("privacy_dp_sums", (s, d) => Privacy.dpSums(s, d)) {
      val C = graft.operators.Privacy.ClampCents
      s"""WITH ev AS ($EV),
         |cells AS (
         |  SELECT event_type, ts_us // 86400000000 AS day_bucket,
         |    CAST(count(*) AS BIGINT) AS n_records,
         |    CAST(sum(greatest(least(CAST(ROUND(value*100) AS BIGINT), $C), 0))
         |      AS BIGINT) AS true_sum_c
         |  FROM ev GROUP BY 1, 2),
         |hz AS (
         |  SELECT *,
         |    ${H64("concat('dps1', '|', event_type, '|', CAST(day_bucket AS VARCHAR))")} AS h1,
         |    ${H64("concat('dps2', '|', event_type, '|', CAST(day_bucket AS VARCHAR))")} AS h2
         |  FROM cells),
         |nz AS (
         |  SELECT event_type, day_bucket, n_records, true_sum_c,
         |    CAST(bit_count(((~h1) & -(~h1)) - 1) AS BIGINT)
         |      - CAST(bit_count(((~h2) & -(~h2)) - 1) AS BIGINT) AS noise
         |  FROM hz)
         |SELECT event_type, day_bucket, n_records, true_sum_c, noise,
         |  greatest(true_sum_c + $C * noise, 0) AS released_c
         |FROM nz ORDER BY event_type, day_bucket""".stripMargin
    },

    // DP quantiles: discrete-Laplace-noised counts over the FIXED
    // public band grid (absent bands noised too), then exact int64
    // CDF inversion — mirrors Privacy.dpQuantiles
    decl("privacy_dp_quantiles", (s, d) => Privacy.dpQuantiles(s, d)) {
      val P = graft.operators.Privacy
      s"""WITH ev AS ($EV),
         |tc AS (
         |  SELECT event_type,
         |    least(CAST(ROUND(value*100) AS BIGINT) // ${P.DpBandCents}, ${P.DpMaxBand}) AS band,
         |    CAST(count(*) AS BIGINT) AS true_n
         |  FROM ev GROUP BY 1, 2),
         |grid AS (
         |  SELECT event_type, CAST(b.b AS BIGINT) AS band
         |  FROM (SELECT DISTINCT event_type FROM ev) ty,
         |       generate_series(0, ${P.DpMaxBand}) b(b)),
         |hz AS (
         |  SELECT g.event_type, g.band, coalesce(tc.true_n, 0) AS true_n,
         |    ${H64("concat('dpq1', '|', g.event_type, '|', CAST(g.band AS VARCHAR))")} AS h1,
         |    ${H64("concat('dpq2', '|', g.event_type, '|', CAST(g.band AS VARCHAR))")} AS h2
         |  FROM grid g LEFT JOIN tc ON tc.event_type = g.event_type AND tc.band = g.band),
         |nz AS (
         |  SELECT event_type, band,
         |    greatest(true_n + CAST(bit_count(((~h1) & -(~h1)) - 1) AS BIGINT)
         |      - CAST(bit_count(((~h2) & -(~h2)) - 1) AS BIGINT), 0) AS released_n
         |  FROM hz),
         |cdf AS (
         |  SELECT event_type, band,
         |    CAST(sum(released_n) OVER (PARTITION BY event_type ORDER BY band) AS BIGINT) AS cum,
         |    CAST(sum(released_n) OVER (PARTITION BY event_type) AS BIGINT) AS total
         |  FROM nz),
         |p(p10) AS (SELECT CAST(unnest([${P.DpQuantileTenths.mkString(", ")}]) AS BIGINT))
         |SELECT event_type, p10, CAST(min(band) AS BIGINT) AS q_band,
         |  CAST(min(band) * ${P.DpBandCents} AS BIGINT) AS q_lo_cents,
         |  CAST(max(total) AS BIGINT) AS released_total
         |FROM cdf, p WHERE total > 0 AND cum * 10 >= p10 * total
         |GROUP BY 1, 2 ORDER BY event_type, p10""".stripMargin
    },

    // DP utility audit: replay all three release chains (count / sum /
    // quantile) and roll |released − true| per family; quantile truth
    // is the sparse CDF inversion over un-noised counts — mirrors
    // Privacy.dpError
    decl("privacy_dp_error", (s, d) => Privacy.dpError(s, d)) {
      val P = graft.operators.Privacy
      val C = P.ClampCents
      def noise(tag: String, keyExpr: String) =
        s"""CAST(bit_count(((~${H64(s"concat('${tag}1', '|', $keyExpr)")}) & -(~${H64(s"concat('${tag}1', '|', $keyExpr)")})) - 1) AS BIGINT)
           |      - CAST(bit_count(((~${H64(s"concat('${tag}2', '|', $keyExpr)")}) & -(~${H64(s"concat('${tag}2', '|', $keyExpr)")})) - 1) AS BIGINT)""".stripMargin
      s"""WITH ev AS ($EV),
         |ccells AS (
         |  SELECT event_type, ts_us // 86400000000 AS day_bucket,
         |    CAST(count(*) AS BIGINT) AS true_n
         |  FROM ev GROUP BY 1, 2),
         |cerrs AS (
         |  SELECT greatest(true_n + (${noise("dp",
                "event_type, '|', CAST(day_bucket AS VARCHAR)")}), 0)
         |    - true_n AS err
         |  FROM ccells),
         |scells AS (
         |  SELECT event_type, ts_us // 86400000000 AS day_bucket,
         |    CAST(sum(greatest(least(CAST(ROUND(value*100) AS BIGINT), $C), 0))
         |      AS BIGINT) AS true_sum_c
         |  FROM ev GROUP BY 1, 2),
         |serrs AS (
         |  SELECT greatest(true_sum_c + $C * (${noise("dps",
                "event_type, '|', CAST(day_bucket AS VARCHAR)")}), 0)
         |    - true_sum_c AS err
         |  FROM scells),
         |tc AS (
         |  SELECT event_type,
         |    least(CAST(ROUND(value*100) AS BIGINT) // ${P.DpBandCents}, ${P.DpMaxBand}) AS band,
         |    CAST(count(*) AS BIGINT) AS true_n
         |  FROM ev GROUP BY 1, 2),
         |grid AS (
         |  SELECT event_type, CAST(b.b AS BIGINT) AS band
         |  FROM (SELECT DISTINCT event_type FROM ev) ty,
         |       generate_series(0, ${P.DpMaxBand}) b(b)),
         |nz AS (
         |  SELECT g.event_type, g.band,
         |    greatest(coalesce(tc.true_n, 0) + (${noise("dpq",
                "g.event_type, '|', CAST(g.band AS VARCHAR)")}), 0) AS released_n
         |  FROM grid g LEFT JOIN tc ON tc.event_type = g.event_type AND tc.band = g.band),
         |cdf AS (
         |  SELECT event_type, band,
         |    CAST(sum(released_n) OVER (PARTITION BY event_type ORDER BY band) AS BIGINT) AS cum,
         |    CAST(sum(released_n) OVER (PARTITION BY event_type) AS BIGINT) AS total
         |  FROM nz),
         |p(p10) AS (SELECT CAST(unnest([${P.DpQuantileTenths.mkString(", ")}]) AS BIGINT)),
         |relq AS (
         |  SELECT event_type, p10, CAST(min(band) * ${P.DpBandCents} AS BIGINT) AS rel_cents
         |  FROM cdf, p WHERE total > 0 AND cum * 10 >= p10 * total
         |  GROUP BY 1, 2),
         |tcdf AS (
         |  SELECT event_type, band,
         |    CAST(sum(true_n) OVER (PARTITION BY event_type ORDER BY band) AS BIGINT) AS cum,
         |    CAST(sum(true_n) OVER (PARTITION BY event_type) AS BIGINT) AS total
         |  FROM tc),
         |trueq AS (
         |  SELECT event_type, p10, CAST(min(band) * ${P.DpBandCents} AS BIGINT) AS true_cents
         |  FROM tcdf, p WHERE cum * 10 >= p10 * total
         |  GROUP BY 1, 2),
         |qerrs AS (
         |  SELECT r.rel_cents - t.true_cents AS err
         |  FROM relq r JOIN trueq t USING (event_type, p10)),
         |fam AS (
         |  SELECT 'count' AS release, err FROM cerrs
         |  UNION ALL SELECT 'sum_cents', err FROM serrs
         |  UNION ALL SELECT 'quantile_cents', err FROM qerrs)
         |SELECT release, CAST(count(*) AS BIGINT) AS n_cells,
         |  ${ratio4Sql("CAST(sum(abs(err)) AS BIGINT)", "count(*)")} AS mae4,
         |  CAST(max(abs(err)) AS BIGINT) AS max_abs_err,
         |  ${ratio4Sql("CAST(sum(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS BIGINT)",
              "count(*)")} AS exact_share4
         |FROM fam GROUP BY 1 ORDER BY 1""".stripMargin
    }
  )

  // ---- linkage ----------------------------------------------------------

  /** Fellegi–Sunter record linkage: weights, calibration and scoring. */
  private def linkage: Seq[Decl] = Seq(
    // Fellegi–Sunter m/u calibration — mirrors Linkage.fsWeights
    // (match class = the shared verified near-dup pair CTEs; u side
    // from the per-value marginal, never enumerated)
    decl("linkage_fs_weights", (s, d) => Linkage.fsWeights(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |$FS_CTES
         |SELECT signal, match_pairs, match_agree, m_ppm,
         |  nonmatch_pairs, nonmatch_agree, u_ppm,
         |  ${ratio4Sql("m_ppm", "greatest(u_ppm, 1)")} AS weight4
         |FROM fin ORDER BY signal""".stripMargin),

    // per-pattern precision over the UNFILTERED sorted-neighborhood
    // candidate stream — mirrors Linkage.patternPrecision (the SN
    // candidate CTEs are the shared SN chain, pre-accept-gate)
    decl("linkage_pattern_precision", (s, d) => Linkage.patternPrecision(s, d)) {
      val L = graft.operators.Linkage
      val tau = graft.operators.Blocking.SnTau
      s"""WITH $SN_CTES,
         |lpc AS (SELECT d1, d2,
         |          ${ratio4Sql("inter", "greatest(uni, 1)")} AS jacc4 FROM snj),
         |lps AS (SELECT doc_id, source, lang,
         |          n_chars // ${L.LenBandChars} AS len_band,
         |          lower(substr(trim(text), 1, ${L.PrefixChars})) AS prefix
         |        FROM documents),
         |lpp AS (SELECT
         |    (CASE WHEN a.source = b.source THEN '1' ELSE '0' END ||
         |     CASE WHEN a.lang = b.lang THEN '1' ELSE '0' END ||
         |     CASE WHEN a.len_band = b.len_band THEN '1' ELSE '0' END ||
         |     CASE WHEN a.prefix = b.prefix THEN '1' ELSE '0' END) AS pattern,
         |    jacc4
         |  FROM lpc JOIN lps a ON a.doc_id = lpc.d1
         |           JOIN lps b ON b.doc_id = lpc.d2),
         |lpg AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n_cand,
         |          CAST(sum(CASE WHEN jacc4 >= $tau THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_match
         |        FROM lpp GROUP BY 1)
         |SELECT pattern, n_cand, n_match,
         |  ${ratio4Sql("n_match", "n_cand")} AS prec4
         |FROM lpg ORDER BY pattern""".stripMargin
    },

    // entity resolution over the UNION of the LSH and SN verified pair
    // families — mirrors Linkage.entityClusters (shared MH + SN CTE
    // chains, full-outer provenance join, label-prop closure)
    decl("linkage_entity_clusters", (s, d) => Linkage.entityClusters(s, d))(
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |$SN_CTES,
         |lshp AS (SELECT d1, d2 FROM pairs),
         |snp AS (SELECT least(d1, d2) AS d1, greatest(d1, d2) AS d2 FROM snacc),
         |ee AS MATERIALIZED (
         |  SELECT coalesce(l.d1, s.d1) AS d1, coalesce(l.d2, s.d2) AS d2,
         |    CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_lsh,
         |    CASE WHEN s.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_sn
         |  FROM lshp l FULL OUTER JOIN snp s ON s.d1 = l.d1 AND s.d2 = l.d2),
         |${starContractionCtes()},
         |ns AS (SELECT component_id AS entity_id,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |       FROM comp JOIN documents USING (doc_id) GROUP BY 1),
         |es AS (SELECT c.component_id AS entity_id,
         |         CAST(sum(CASE WHEN in_lsh = 1 AND in_sn = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS e_lsh_only,
         |         CAST(sum(CASE WHEN in_sn = 1 AND in_lsh = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS e_sn_only,
         |         CAST(sum(CASE WHEN in_lsh = 1 AND in_sn = 1 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS e_both
         |       FROM ee JOIN comp c ON c.doc_id = ee.d1 GROUP BY 1)
         |SELECT entity_id, n_docs, n_sources, e_lsh_only, e_sn_only, e_both
         |FROM ns JOIN es USING (entity_id) ORDER BY entity_id""".stripMargin),

    // FS scorer over the SN ∪ LSH candidate stream — mirrors
    // Linkage.scorePairs (shared FS calibration chain, both candidate
    // families' shared CTEs, half-of-total accept rule)
    decl("linkage_score_pairs", (s, d) => Linkage.scorePairs(s, d)) {
      val tau = graft.operators.Blocking.SnTau
      val k = graft.operators.Linkage.ScoreAcceptNum
      s"""WITH $SH_CTE,
         |$MH_CAND_CTE,
         |$MH_PAIRS_CTE,
         |$SN_CTES,
         |$FS_CTES,
         |w AS (SELECT
         |    max(CASE WHEN signal = 'same_source' THEN wgt END) AS w_source,
         |    max(CASE WHEN signal = 'same_lang' THEN wgt END) AS w_lang,
         |    max(CASE WHEN signal = 'same_len_band' THEN wgt END) AS w_len,
         |    max(CASE WHEN signal = 'same_prefix' THEN wgt END) AS w_prefix
         |  FROM (SELECT signal,
         |          CAST(${halfUpSql("m_ppm * 10000", "greatest(u_ppm, 1)")}
         |            AS BIGINT) AS wgt FROM fin)),
         |lc AS (SELECT d1, d2,
         |    (shared / (n1.n + n2.n - shared) >= 0.5) AS lsh_ok
         |  FROM shared JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id),
         |snc AS (SELECT least(d1, d2) AS d1, greatest(d1, d2) AS d2,
         |    (${ratio4Sql("inter", "greatest(uni, 1)")} >= $tau) AS sn_ok
         |  FROM snj),
         |cnd AS (SELECT coalesce(l.d1, s.d1) AS d1, coalesce(l.d2, s.d2) AS d2,
         |    CAST(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_lsh,
         |    CAST(CASE WHEN s.d1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_sn,
         |    (coalesce(lsh_ok, false) OR coalesce(sn_ok, false)) AS is_match
         |  FROM lc l FULL OUTER JOIN snc s ON s.d1 = l.d1 AND s.d2 = l.d2),
         |sc AS (SELECT c.d1, c.d2, c.in_lsh, c.in_sn, c.is_match,
         |    CAST(CASE WHEN a.source = b.source THEN w_source ELSE 0 END
         |       + CASE WHEN a.lang = b.lang THEN w_lang ELSE 0 END
         |       + CASE WHEN a.len_band = b.len_band THEN w_len ELSE 0 END
         |       + CASE WHEN a.prefix = b.prefix THEN w_prefix ELSE 0 END
         |      AS BIGINT) AS score4,
         |    CAST(w_source + w_lang + w_len + w_prefix AS BIGINT) AS total4
         |  FROM cnd c JOIN base a ON a.doc_id = c.d1
         |             JOIN base b ON b.doc_id = c.d2
         |  CROSS JOIN w)
         |SELECT d1, d2, in_lsh, in_sn, score4,
         |  (score4 * $k >= total4) AS accept, is_match
         |FROM sc ORDER BY d1, d2""".stripMargin
    },

    // set-similarity join over the winnowing fingerprint sets
    // the exact set-similarity join at the winnowing-FINGERPRINT grain
    // — mirrors Linkage.fpSetJoin (the generic prefixJoinOf over a
    // LongType element column; SSJOIN_CTES verbatim, only `sh` differs)
    decl("linkage_fp_ssjoin", (s, d) => Linkage.fpSetJoin(s, d))(
      s"""WITH $WINNOW_FP_CTES,
         |sh AS MATERIALIZED (SELECT doc_id, h AS shingle FROM wfp0),
         |${SSJOIN_CTES}
         |SELECT d1, d2, shared, n_union, jaccard
         |FROM sjpairs ORDER BY d1, d2""".stripMargin)
  )

  // ---- TPC-H and commerce -----------------------------------------------

  /** TPC-H queries and commerce panels over lineitem/orders/customer.
    * q2, q11, q16 and q20 are the partsupp family adapted to lineitem
    * facts: the data contract has no partsupp table. */
  private def tpch: Seq[Decl] = Seq(
    decl("q1_agg", (s, d) => Commerce.q1(s, d))(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${moneySum("CAST(l_quantity AS DECIMAL(18,4))")} AS sum_qty,
         |  ${moneySum("CAST(l_extendedprice AS DECIMAL(18,4))")} AS sum_base_price,
         |  ${moneySum(DISC_PRICE)} AS sum_disc_price,
         |  ${moneySum(s"CAST(ROUND($DISC_PRICE,4) AS DECIMAL(18,4)) * (CAST(1.0 AS DECIMAL(18,4)) + CAST(l_tax AS DECIMAL(18,4)))")} AS sum_charge,
         |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 4) AS avg_qty,
         |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 4) AS avg_price,
         |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 4) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    decl("q3_shipping", (s, d) => Commerce.q3(s, d))(
      s"""SELECT l_orderkey, epoch_ms(o_orderdate) AS o_odate_ms,
         |  ${moneySum(DISC_PRICE)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    decl("q5_local_supplier", (s, d) => Commerce.q5(s, d))(
      s"""SELECT n_name, ${moneySum(DISC_PRICE)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    decl("q4_priority", (s, d) => Commerce.q4(s, d))(
      s"""SELECT o_orderpriority, COUNT(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |  AND EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    decl("q6_forecast", (s, d) => Commerce.q6(s, d))(
      s"""SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.03 AND l_discount <= 0.05
         |  AND l_quantity < 24""".stripMargin),

    decl("q12_priority_class", (s, d) => Commerce.q12(s, d))(
      s"""SELECT l_linestatus,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    decl("q14_promo", (s, d) => Commerce.q14(s, d))(
      s"""SELECT
         |  CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN $DISC_PRICE ELSE CAST(0.0 AS DECIMAL(18,4)) END),2) AS DOUBLE) AS promo_revenue,
         |  ${moneySum(DISC_PRICE)} AS total_revenue,
         |  ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $DISC_PRICE ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0
         |        / CAST(SUM($DISC_PRICE) AS DOUBLE), 4) AS promo_ratio
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin),

    decl("q10_returns", (s, d) => Commerce.q10(s, d))(
      s"""SELECT c_custkey, c_name, n_name, ${moneySum(DISC_PRICE)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    decl("q7_volume", (s, d) => Commerce.q7(s, d))(
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year, ${moneySum(DISC_PRICE)} AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE sn.n_name IN ('NATION_1','NATION_2')
         |  AND cn.n_name IN ('NATION_1','NATION_2')
         |  AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    decl("q8_market_share", (s, d) => Commerce.q8(s, d))(
      s"""SELECT year(o_orderdate) AS o_year,
         |  CAST(ROUND(SUM(CASE WHEN n_name = 'NATION_1' THEN $DISC_PRICE ELSE CAST(0.0 AS DECIMAL(18,4)) END),2) AS DOUBLE) AS nation_revenue,
         |  ${moneySum(DISC_PRICE)} AS total_revenue,
         |  ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_1' THEN $DISC_PRICE ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE)
         |        / CAST(SUM($DISC_PRICE) AS DOUBLE), 4) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    decl("q13_order_dist", (s, d) => Commerce.q13(s, d))(
      s"""SELECT c_count, COUNT(*) AS custdist FROM (
         |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
         |  FROM customer LEFT JOIN orders
         |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         |  GROUP BY c_custkey
         |) GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    decl("q15_top_supplier", (s, d) => Commerce.q15(s, d))(
      s"""WITH rev AS (
         |  SELECT l_suppkey AS s_suppkey, ${moneySum(DISC_PRICE)} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1
         |)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier USING (s_suppkey)
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin),

    decl("q17_small_quantity", (s, d) => Commerce.q17(s, d))(
      s"""WITH a AS (
         |  SELECT l_partkey,
         |    ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 4) AS avg_qty
         |  FROM lineitem GROUP BY 1
         |)
         |SELECT COUNT(*) AS n_lines,
         |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)/7.0, 4) AS avg_yearly
         |FROM lineitem JOIN a USING (l_partkey)
         |WHERE l_quantity < 0.2 * avg_qty""".stripMargin),

    decl("q18_large_orders", (s, d) => Commerce.q18(s, d))(
      s"""WITH big AS (
         |  SELECT l_orderkey AS o_orderkey,
         |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_qty
         |  FROM lineitem GROUP BY 1
         |)
         |SELECT c_custkey, c_name, o_orderkey,
         |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)),2) AS DOUBLE) AS o_totalprice, sum_qty
         |FROM big JOIN orders USING (o_orderkey)
         |JOIN customer ON o_custkey = c_custkey
         |WHERE sum_qty > 200.0
         |ORDER BY sum_qty DESC, o_orderkey""".stripMargin),

    decl("q19_disjunctive", (s, d) => Commerce.q19(s, d))(
      s"""SELECT ${moneySum(DISC_PRICE)} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    decl("q22_idle_customers", (s, d) => Commerce.q22(s, d))(
      s"""WITH a AS (
         |  SELECT ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 4) AS a
         |  FROM customer WHERE c_acctbal > 0.0
         |)
         |SELECT c_nationkey, COUNT(*) AS numcust,
         |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))),2) AS DOUBLE) AS totacctbal
         |FROM customer, a
         |WHERE c_acctbal > a.a
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // repeat-purchase cadence per market segment — mirrors
    // Commerce.repeatInterval (customer-keyed lag window; exact
    // quantile_cont == the groupedQuantiles interpolation)
    decl("orders_repeat_interval", (s, d) => Commerce.repeatInterval(s, d))(
      s"""WITH g AS (
         |  SELECT o_custkey, o_orderkey,
         |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |      - lag(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
         |        OVER (PARTITION BY o_custkey
         |              ORDER BY datediff('day', DATE '1970-01-01',
         |                                CAST(o_orderdate AS DATE)), o_orderkey)
         |      AS gap_days
         |  FROM orders),
         |gs AS (SELECT c_mktsegment, o_custkey, o_orderkey,
         |         CAST(gap_days AS BIGINT) AS gap_days
         |       FROM g JOIN customer ON c_custkey = o_custkey
         |       WHERE gap_days IS NOT NULL)
         |SELECT c_mktsegment,
         |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
         |  CAST(count(*) AS BIGINT) AS n_gaps,
         |  ${ratio4Sql("sum(gap_days)", "count(*)")} AS mean_gap4,
         |  quantile_cont(gap_days, 0.25) AS p25,
         |  quantile_cont(gap_days, 0.5) AS p50,
         |  quantile_cont(gap_days, 0.75) AS p75
         |FROM gs GROUP BY 1 ORDER BY 1""".stripMargin),

    // Textbook correlated EXISTS / NOT-EXISTS form — the Spark plan is
    // the aggregate rewrite, so the hash-match proves the rewrite.
    decl("q21_waiting", (s, d) => Commerce.q21(s, d))(
      s"""WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
         |l AS (SELECT l_orderkey, l_suppkey,
         |        l_shipdate > o_orderdate + INTERVAL 365 DAY AS late
         |      FROM lineitem JOIN f ON l_orderkey = o_orderkey),
         |sel AS (
         |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
         |  FROM l l1
         |  WHERE l1.late
         |    AND EXISTS (SELECT 1 FROM l l2
         |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |    AND NOT EXISTS (SELECT 1 FROM l l3
         |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
         |        AND l3.late)
         |)
         |SELECT s_name, count(*) AS numwait
         |FROM sel JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name
         |LIMIT 10""".stripMargin),

    decl("lineitem_quantiles", (s, d) => Commerce.quantiles(s, d))(
      s"""SELECT l_returnflag,
         |  quantile_cont(l_quantity, 0.25) AS p25,
         |  quantile_cont(l_quantity, 0.5) AS p50,
         |  quantile_cont(l_quantity, 0.75) AS p75
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin),

    decl("lineitem_monthly", (s, d) => Commerce.monthlyRevenue(s, d))(
      s"""WITH m AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
         |    CAST(month(l_shipdate) AS INTEGER) AS month,
         |    count(*) AS n_items, SUM($DISC_PRICE) AS rev_exact
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT year, month, n_items,
         |  CAST(ROUND(rev_exact, 2) AS DOUBLE) AS revenue,
         |  CAST(ROUND(rev_exact * 100, 0) AS BIGINT) -
         |    coalesce(CAST(ROUND(lag(rev_exact) OVER (ORDER BY year, month) * 100, 0) AS BIGINT), 0) AS delta_cents
         |FROM m ORDER BY year, month""".stripMargin),

    // market-basket pair lift — mirrors Commerce.basketPairs (shared
    // BASKET_CTES: one definition, two consumers — assoc rules reuse it)
    decl("orders_basket_pairs", (s, d) => Commerce.basketPairs(s, d))(
      s"""WITH $BASKET_CTES
         |SELECT p1, p2, supp, s1, s2, lift4
         |FROM e ORDER BY p1, p2""".stripMargin),

    // per-month ship-lag quantiles — mirrors Commerce.fulfillmentLag
    // (integer day lags at binary-fraction positions: quantile_cont
    // reproduces Spark's percentile bit-for-bit)
    decl("orders_fulfillment_lag", (s, d) => Commerce.fulfillmentLag(s, d))(
      s"""WITH lg AS (
         |  SELECT o_orderdate,
         |    CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS lag_days
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         |SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         |  CAST(month(o_orderdate) AS INTEGER) AS month,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  quantile_cont(lag_days, 0.25) AS p25,
         |  quantile_cont(lag_days, 0.5) AS p50,
         |  quantile_cont(lag_days, 0.75) AS p75,
         |  CAST(max(lag_days) AS BIGINT) AS max_lag
         |FROM lg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // daily ordered/shipped counts + running backlog — mirrors
    // Commerce.backlogCurve (epoch-day integer export)
    decl("orders_backlog_curve", (s, d) => Commerce.backlogCurve(s, d))(
      s"""WITH j AS (
         |  SELECT CAST(datediff('day', DATE '1970-01-01',
         |           CAST(o_orderdate AS DATE)) AS BIGINT) AS od,
         |         CAST(datediff('day', DATE '1970-01-01',
         |           CAST(l_shipdate AS DATE)) AS BIGINT) AS sd
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |o AS (SELECT od AS day_epoch, CAST(count(*) AS BIGINT) AS n_ordered
         |      FROM j GROUP BY 1),
         |s AS (SELECT sd AS day_epoch, CAST(count(*) AS BIGINT) AS n_shipped
         |      FROM j GROUP BY 1),
         |f AS (SELECT coalesce(o.day_epoch, s.day_epoch) AS day_epoch,
         |        coalesce(n_ordered, 0) AS n_ordered,
         |        coalesce(n_shipped, 0) AS n_shipped
         |      FROM o FULL OUTER JOIN s ON s.day_epoch = o.day_epoch)
         |SELECT day_epoch, n_ordered, n_shipped,
         |  CAST(sum(n_ordered - n_shipped) OVER (ORDER BY day_epoch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS backlog
         |FROM f ORDER BY day_epoch""".stripMargin),

    // q9-style product revenue
    // directional association rules — mirrors Commerce.assocRules
    // (both directions of every surviving pair; confidence is the
    // exact HALF_UP rational supp(a,b)/supp(a))
    decl("orders_assoc_rules", (s, d) => Commerce.assocRules(s, d))(
      s"""WITH $BASKET_CTES,
         |r AS (
         |  SELECT p1 AS ante, p2 AS cons, supp, s1 AS s_ante, lift4 FROM e
         |  UNION ALL
         |  SELECT p2 AS ante, p1 AS cons, supp, s2 AS s_ante, lift4 FROM e)
         |SELECT ante, cons, supp, s_ante,
         |  ${ratio4Sql("supp", "greatest(s_ante, 1)")} AS conf4, lift4
         |FROM r ORDER BY ante, cons""".stripMargin),

    // q9-style product revenue (no partsupp in the corpus, so the
    // supplycost term is out of reach by data contract — revenue half)
    decl("q9_product_revenue", (s, d) => Commerce.q9(s, d))(
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  ${moneySum(DISC_PRICE)} AS revenue
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // lineitem facts (no partsupp table by data contract)
    // q2-style min-cost supplier over REALIZED unit prices (no
    // partsupp by data contract); integer-exact min selection on the
    // halfUp rational ×10⁴ — mirrors Commerce.q2
    decl("q2_min_cost_supplier", (s, d) => Commerce.q2(s, d))(
      s"""WITH ps AS (
         |  SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))*10000 AS BIGINT) AS ext_u,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))*10000 AS BIGINT) AS qty_u
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
         |    AND p_size BETWEEN 10 AND 20
         |  GROUP BY 1, 2, 3, 4, 5),
         |u AS (SELECT *, ${halfUpSql("ext_u * 10000", "qty_u")} AS unit_ppk FROM ps),
         |m AS (SELECT *, min(unit_ppk) OVER (PARTITION BY p_partkey) AS min_ppk FROM u)
         |SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
         |  unit_ppk/10000.0 AS unit_price
         |FROM m WHERE unit_ppk = min_ppk ORDER BY p_partkey, s_suppkey""".stripMargin),

    // q11-style important stock from one nation's realized supply
    // value; scale-free mean-relative cut, pure-int64 threshold
    // (value_u > halfUp(2·total_u/n_parts)) — mirrors Commerce.q11
    decl("q11_important_stock", (s, d) => Commerce.q11(s, d))(
      s"""WITH per AS (
         |  SELECT l_partkey AS p_partkey,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))*10000 AS BIGINT) AS value_u
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3'
         |  GROUP BY 1),
         |t AS (SELECT ${halfUpSql("CAST(sum(value_u) AS BIGINT) * 2",
                                   "greatest(CAST(count(*) AS BIGINT), 1)")} AS thr_u
         |      FROM per)
         |SELECT p_partkey, value_u/10000.0 AS value
         |FROM per CROSS JOIN t
         |WHERE value_u > thr_u
         |ORDER BY value DESC, p_partkey""".stripMargin),

    // q16-style observed part/supplier counts (supplier-of-part from
    // lineitem facts) — mirrors Commerce.q16
    decl("q16_part_supplier", (s, d) => Commerce.q16(s, d))(
      s"""SELECT p_brand, p_type, p_size,
         |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // q20-style dominant family suppliers in one region/year; dominance
    // integer-exact (qty_u × 100 > part_total_u × 30) — mirrors
    // Commerce.q20
    decl("q20_dominant_suppliers", (s, d) => Commerce.q20(s, d))(
      s"""WITH ps AS (
         |  SELECT l_partkey, l_suppkey,
         |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))*10000 AS BIGINT) AS qty_u
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_name LIKE 'red%' AND year(l_shipdate) = 1996
         |  GROUP BY 1, 2),
         |w AS (SELECT *,
         |  CAST(sum(qty_u) OVER (PARTITION BY l_partkey) AS BIGINT) AS part_total_u
         |  FROM ps),
         |dom AS (SELECT l_suppkey FROM w WHERE qty_u * 100 > part_total_u * 30)
         |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_parts_dominated
         |FROM dom JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin),

    decl("orders_segment_trend", (s, d) => Commerce.segmentTrend(s, d))(
      // the events_trend_ols OLS algebra on monthly discounted revenue per market
      // segment; moments in HUGEINT (cents magnitudes pass int64 here)
      // — mirrors Commerce.segmentTrend
      s"""WITH monthly AS (
         |  SELECT c_mktsegment AS segment,
         |    CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
         |    CAST(ROUND(SUM($DISC_PRICE) * 100, 0) AS BIGINT) AS y
         |  FROM lineitem
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  GROUP BY 1, 2),
         |d0 AS (SELECT min(mo) AS mo0 FROM monthly),
         |xy AS (SELECT segment, mo - mo0 AS x, y FROM monthly, d0),
         |st AS (
         |  SELECT segment,
         |    CAST(count(*) AS BIGINT) AS n_months,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x*x) AS BIGINT) AS sxx,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM xy GROUP BY 1),
         |c AS (
         |  SELECT *,
         |    n_months * sxy - sx * sy AS sn,
         |    n_months * sxx - sx * sx AS sd,
         |    CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy AS iin,
         |    CAST(n_months AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS syy_n
         |  FROM st)
         |SELECT segment, n_months, sy AS total_cents,
         |  CASE WHEN sd = 0 THEN NULL ELSE
         |    (CASE WHEN sn < 0 THEN -1.0 ELSE 1.0 END) *
         |    CAST((2 * abs(CAST(sn AS HUGEINT)) * 10000 + sd) // (2 * CAST(sd AS HUGEINT)) AS BIGINT)
         |    / 10000.0 END AS slope_cents,
         |  CASE WHEN sd = 0 THEN NULL ELSE
         |    (CASE WHEN iin < 0 THEN -1.0 ELSE 1.0 END) *
         |    CAST((2 * abs(iin) * 10000 + sd) // (2 * CAST(sd AS HUGEINT)) AS BIGINT)
         |    / 10000.0 END AS icept_cents,
         |  CASE WHEN sd = 0 OR syy_n = 0 THEN NULL ELSE
         |    CAST((2 * CAST(sn AS HUGEINT) * sn * 1000000 + CAST(sd AS HUGEINT) * syy_n)
         |      // (2 * CAST(sd AS HUGEINT) * syy_n) AS BIGINT) END AS r2_ppm
         |FROM c ORDER BY segment""".stripMargin),

    // per-segment customer Gini + top-decile share on the sorted-rank
    // identity, HUGEINT moments — mirrors Commerce.revenueGini
    decl("customer_revenue_gini", (s, d) => Commerce.revenueGini(s, d))(
      s"""WITH rev AS (
         |  SELECT c_mktsegment AS segment, o_custkey AS cust,
         |    CAST(ROUND(SUM($DISC_PRICE) * 100, 0) AS BIGINT) AS cents
         |  FROM lineitem
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT segment, cents,
         |    CAST(row_number() OVER (PARTITION BY segment
         |      ORDER BY cents, cust) AS BIGINT) AS rnk
         |  FROM rev),
         |nn AS (SELECT segment, CAST(count(*) AS BIGINT) AS n
         |       FROM rev GROUP BY 1),
         |ag AS (
         |  SELECT r.segment, any_value(nn.n) AS n,
         |    CAST(sum(r.cents) AS BIGINT) AS sv,
         |    sum(CAST(r.rnk AS HUGEINT) * r.cents) AS siv,
         |    CAST(sum(CASE WHEN r.rnk > (9 * nn.n) // 10
         |      THEN r.cents ELSE 0 END) AS BIGINT) AS topv
         |  FROM rk r JOIN nn USING (segment) GROUP BY 1)
         |SELECT segment, n AS n_customers, sv AS total_cents,
         |  CASE WHEN sv = 0 THEN NULL ELSE
         |    CAST((2 * (2 * siv - (CAST(n AS HUGEINT) + 1) * sv) * 10000
         |      + CAST(n AS HUGEINT) * sv)
         |      // (2 * CAST(n AS HUGEINT) * sv) AS BIGINT) / 10000.0
         |  END AS gini4,
         |  CASE WHEN sv = 0 THEN NULL ELSE
         |    CAST((2 * CAST(topv AS HUGEINT) * 10000 + sv)
         |      // (2 * CAST(sv AS HUGEINT)) AS BIGINT) / 10000.0
         |  END AS top10_share4
         |FROM ag ORDER BY segment""".stripMargin)
  )

  // ---- events -----------------------------------------------------------

  /** Event-stream analytics: windows, sessions, sketches, funnels,
    * retention and time-series panels. */
  private def events: Seq[Decl] = Seq(
    // KMV/theta sketch: min-64 md5 hashes of the distinct users — a pure
    // function of the input set, so the estimate replays exactly.
    decl("events_theta_users", (s, d) => Sketches.thetaUsersPerHour(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (
         |  SELECT DISTINCT ts_us // 3600000000 AS hour_bucket,
         |    ${H64("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM ev
         |),
         |mk AS (
         |  SELECT hour_bucket, h,
         |    row_number() OVER (PARTITION BY hour_bucket ORDER BY h) AS rn
         |  FROM h
         |),
         |s AS (
         |  SELECT hour_bucket, CAST(COUNT(*) AS BIGINT) AS n_sketch, max(h) AS kth_hash
         |  FROM mk WHERE rn <= 64 GROUP BY 1
         |)
         |SELECT hour_bucket, n_sketch, kth_hash,
         |  CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
         |       ELSE ROUND(63.0 * 1152921504606846976.0 / CAST(kth_hash AS DOUBLE), 4)
         |  END AS est_users
         |FROM s ORDER BY hour_bucket""".stripMargin),

    // daily sketch rollup: the Spark side merges the HOURLY sketches;
    // the oracle computes min-k from raw rows — the KMV union property
    // says they are identical.
    decl("events_theta_daily", (s, d) => Sketches.thetaUsersDaily(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (
         |  SELECT DISTINCT ts_us // 86400000000 AS day_bucket,
         |    ${H64("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM ev
         |),
         |mk AS (
         |  SELECT day_bucket, h,
         |    row_number() OVER (PARTITION BY day_bucket ORDER BY h) AS rn
         |  FROM h
         |),
         |s AS (
         |  SELECT day_bucket, CAST(COUNT(*) AS BIGINT) AS n_sketch, max(h) AS kth_hash
         |  FROM mk WHERE rn <= 64 GROUP BY 1
         |)
         |SELECT day_bucket, n_sketch, kth_hash,
         |  CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
         |       ELSE ROUND(63.0 * 1152921504606846976.0 / CAST(kth_hash AS DOUBLE), 4)
         |  END AS est_users
         |FROM s ORDER BY day_bucket""".stripMargin),

    // per-day sketch estimate next to the exact distinct count with
    // IEEE error columns — mirrors Sketches.thetaAccuracyDaily over
    // the SAME daily-sketch CTEs as events_theta_daily
    decl("events_theta_accuracy", (s, d) => Sketches.thetaAccuracyDaily(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (
         |  SELECT DISTINCT ts_us // 86400000000 AS day_bucket,
         |    ${H64("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM ev
         |),
         |mk AS (
         |  SELECT day_bucket, h,
         |    row_number() OVER (PARTITION BY day_bucket ORDER BY h) AS rn
         |  FROM h
         |),
         |s AS (
         |  SELECT day_bucket, CAST(COUNT(*) AS BIGINT) AS n_sketch, max(h) AS kth_hash
         |  FROM mk WHERE rn <= 64 GROUP BY 1
         |),
         |e AS (
         |  SELECT day_bucket, n_sketch,
         |    CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
         |         ELSE ROUND(63.0 * 1152921504606846976.0 / CAST(kth_hash AS DOUBLE), 4)
         |    END AS est_users
         |  FROM s
         |),
         |x AS (
         |  SELECT ts_us // 86400000000 AS day_bucket,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         |  FROM ev GROUP BY 1
         |)
         |SELECT e.day_bucket AS day_bucket, exact_users, n_sketch, est_users,
         |  abs(est_users - CAST(exact_users AS DOUBLE)) AS abs_err,
         |  abs(est_users - CAST(exact_users AS DOUBLE)) / CAST(exact_users AS DOUBLE) AS rel_err
         |FROM e JOIN x ON x.day_bucket = e.day_bucket
         |ORDER BY day_bucket""".stripMargin),

    // theta-sketch day-pair intersection graded against the exact
    // overlap — mirrors Sketches.thetaOverlapDaily (including the
    // deterministic estimate column)
    decl("events_theta_overlap", (s, d) => Sketches.thetaOverlapDaily(s, d)) {
      val k = graft.operators.Sketches.ThetaK
      s"""WITH ev AS ($EV),
         |hh AS (
         |  SELECT DISTINCT ts_us // 86400000000 AS day_bucket, user_id,
         |    ${H64("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM ev
         |),
         |mk AS (
         |  SELECT day_bucket, h,
         |    row_number() OVER (PARTITION BY day_bucket ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT day_bucket, h FROM hh) q
         |),
         |s AS (SELECT day_bucket, h FROM mk WHERE rn <= $k),
         |th AS (
         |  SELECT day_bucket, CAST(count(*) AS BIGINT) AS n_sk,
         |    CASE WHEN count(*) < $k THEN 1152921504606846976
         |         ELSE max(h) END AS theta
         |  FROM s GROUP BY 1),
         |pair AS (
         |  SELECT a.day_bucket, a.n_sk AS n_a, b.n_sk AS n_b,
         |    least(a.theta, b.theta) AS theta_c
         |  FROM th a JOIN th b ON b.day_bucket = a.day_bucket + 1),
         |i AS (
         |  SELECT p.day_bucket, CAST(count(*) AS BIGINT) AS inter
         |  FROM pair p JOIN s x ON x.day_bucket = p.day_bucket
         |  JOIN s y ON y.day_bucket = p.day_bucket + 1 AND y.h = x.h
         |  WHERE x.h < p.theta_c
         |  GROUP BY 1),
         |ex AS (
         |  SELECT d.day_bucket, CAST(count(*) AS BIGINT) AS exact_overlap
         |  FROM (SELECT DISTINCT day_bucket, user_id FROM hh) d
         |  JOIN (SELECT DISTINCT day_bucket, user_id FROM hh) e
         |    ON e.day_bucket = d.day_bucket + 1 AND e.user_id = d.user_id
         |  GROUP BY 1)
         |SELECT p.day_bucket, p.n_a, p.n_b,
         |  CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         |  ROUND(CAST(coalesce(i.inter, 0) AS DOUBLE) * 1152921504606846976.0
         |        / CAST(p.theta_c AS DOUBLE), 4) AS est_overlap,
         |  CAST(coalesce(ex.exact_overlap, 0) AS BIGINT) AS exact_overlap
         |FROM pair p LEFT JOIN i ON i.day_bucket = p.day_bucket
         |LEFT JOIN ex ON ex.day_bucket = p.day_bucket
         |ORDER BY p.day_bucket""".stripMargin
    },

    // trailing-7-day distinct users from merged daily sketches (KMV
    // merge = explode + re-min-k) — mirrors Sketches.slidingUniques
    decl("events_uniques_sliding", (s, d) => Sketches.slidingUniques(s, d)) {
      val k = graft.operators.Sketches.ThetaK
      val w = graft.operators.Sketches.SlideDays
      s"""WITH ev AS ($EV),
         |hh AS (
         |  SELECT DISTINCT ts_us // 86400000000 AS day, user_id,
         |    ${H64("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM ev
         |),
         |daily AS (
         |  SELECT day, h FROM (
         |    SELECT day, h,
         |      row_number() OVER (PARTITION BY day ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT day, h FROM hh) q)
         |  WHERE rn <= $k),
         |md AS (SELECT max(day) AS max_day FROM daily),
         |expanded AS (
         |  SELECT unnest(generate_series(day, least(day + ${w - 1}, max_day))) AS day_bucket,
         |    day, h
         |  FROM daily, md),
         |mrank AS (
         |  SELECT day_bucket, h, row_number() OVER (
         |    PARTITION BY day_bucket ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT day_bucket, h FROM expanded) q),
         |nd AS (
         |  SELECT day_bucket, CAST(count(DISTINCT day) AS BIGINT) AS n_days
         |  FROM expanded GROUP BY 1),
         |sk AS (
         |  SELECT m.day_bucket, nd.n_days,
         |    CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS kth_hash
         |  FROM mrank m JOIN nd ON nd.day_bucket = m.day_bucket
         |  WHERE rn <= $k GROUP BY 1, 2),
         |exd AS (
         |  SELECT unnest(generate_series(day, least(day + ${w - 1}, max_day))) AS day_bucket,
         |    user_id
         |  FROM (SELECT DISTINCT day, user_id FROM hh) d, md),
         |ex AS (
         |  SELECT day_bucket, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         |  FROM exd GROUP BY 1)
         |SELECT sk.day_bucket AS day_bucket, n_days, n_sketch,
         |  CASE WHEN n_sketch < $k THEN CAST(n_sketch AS DOUBLE)
         |       ELSE ROUND(${k - 1}.0 * 1152921504606846976.0
         |                  / CAST(kth_hash AS DOUBLE), 4) END AS est_users,
         |  exact_users
         |FROM sk JOIN ex ON ex.day_bucket = sk.day_bucket
         |ORDER BY day_bucket""".stripMargin
    },

    // deterministic KMV sample (min-256 hashes of the event ids) →
    // positional quantiles of the sorted sampled cents: exact integers.
    decl("events_kmv_quantiles", (s, d) => Sketches.kmvQuantiles(s, d))(
      s"""WITH ev AS ($EV),
         |$KMV_SAMPLE_CTES
         |SELECT event_type, n_sample,
         |  vs[CAST(ceil(0.5 * n_sample) AS BIGINT)] AS p50_cents,
         |  vs[CAST(ceil(0.9 * n_sample) AS BIGINT)] AS p90_cents
         |FROM kmvs ORDER BY event_type""".stripMargin),

    // KMV sketch error vs the exact positional quantiles — mirrors
    // Sketches.kmvAccuracy (shared sample chain; exact side = value at
    // rank ceil(p·n), the same positional question both engines answer)
    decl("events_kmv_accuracy", (s, d) => Sketches.kmvAccuracy(s, d))(
      s"""WITH ev AS ($EV),
         |$KMV_SAMPLE_CTES,
         |kq AS (SELECT event_type, n_sample,
         |    vs[CAST(ceil(0.5 * n_sample) AS BIGINT)] AS p50_cents,
         |    vs[CAST(ceil(0.9 * n_sample) AS BIGINT)] AS p90_cents
         |  FROM kmvs),
         |ex0 AS (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS cents,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY CAST(ROUND(value*100) AS BIGINT), event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM ev),
         |exq AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
         |    CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cents END)
         |      AS BIGINT) AS exact_p50,
         |    CAST(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cents END)
         |      AS BIGINT) AS exact_p90
         |  FROM ex0 GROUP BY 1)
         |SELECT event_type, n_events, n_sample, exact_p50, p50_cents,
         |  CAST(${halfUpSql("abs(p50_cents - exact_p50) * 1000000",
                             "greatest(abs(exact_p50), 1)")} AS BIGINT) AS err50_ppm,
         |  exact_p90, p90_cents,
         |  CAST(${halfUpSql("abs(p90_cents - exact_p90) * 1000000",
                             "greatest(abs(exact_p90), 1)")} AS BIGINT) AS err90_ppm
         |FROM kq JOIN exq USING (event_type) ORDER BY event_type""".stripMargin),

    decl("events_window", (s, d) => EventSeries.eventsWindow(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT ts_us // 3600000000 AS hour_bucket, event_type, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    decl("events_sessionize", (s, d) => EventUsers.sessionize(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM s2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the split (skew-safe) plan is bit-identical by construction, so
    // it shares the direct plan's oracle verbatim
    decl("events_sessionize_split", (s, d) => Skew.splitSessionize(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM s2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the auto dispatch picks one of two bit-identical plans from its
    // measured per-user hotness panel — same oracle verbatim again
    decl("events_sessionize_auto", (s, d) => Skew.sessionizeAuto(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE
         |SELECT user_id, session_idx, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM s2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    decl("topk_per_group", (s, d) => EventValues.topkPerGroup(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT event_type, rnk, event_id, value FROM (
         |  SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
         |  FROM ev
         |) WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin),

    // moving average exported as its exact (sum, count) integer pair —
    // a repeating-decimal double ratio is the one thing two engines
    // will format/round apart.
    decl("events_running", (s, d) => EventUsers.runningUser(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT event_id, user_id, ts_us,
         |  CAST(SUM(cents) OVER w_all AS BIGINT) AS running_cents,
         |  CAST(SUM(cents) OVER w5 AS BIGINT) AS mov5_sum_cents,
         |  CAST(COUNT(*) OVER w5 AS BIGINT) AS mov5_n
         |FROM (SELECT *, CAST(ROUND(value*100) AS BIGINT) AS cents FROM ev)
         |WINDOW
         |  w_all AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  w5 AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin),

    decl("events_distinct_hour", (s, d) => EventSeries.distinctUsersHour(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT ts_us // 3600000000 AS hour_bucket,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  COUNT(*) AS n_events
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin),

    // NULLS FIRST explicitly: Spark defaults nulls-first on ASC,
    // DuckDB defaults nulls-last.
    decl("events_rollup", (s, d) => EventSeries.eventsRollup(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT event_type, ts_us // 3600000000 AS hour_bucket, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM ev GROUP BY ROLLUP (event_type, ts_us // 3600000000)
         |ORDER BY event_type NULLS FIRST, hour_bucket NULLS FIRST""".stripMargin),

    decl("events_cube", (s, d) => EventSeries.eventsCube(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT event_type, ts_us // 3600000000 AS hour_bucket, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM ev GROUP BY CUBE (event_type, ts_us // 3600000000)
         |ORDER BY event_type NULLS FIRST, hour_bucket NULLS FIRST""".stripMargin),

    // HLL++ sketch (built-in approx_count_distinct): the estimate is
    // Spark-internal and cannot appear in a cross-engine output (unlike
    // the KMV/theta sketches), so the oracle gates its accuracy contract
    // instead: per hour, the exact distinct count plus a boolean pinning
    // |est − exact| ≤ max(3, 3·rsd·exact) (rsd 0.05; the absolute floor
    // covers tiny buckets where relative bounds are vacuous — DedupSpec's
    // measured bound, max abs err 3 at sf0.01). An estimate drifting out
    // of that bound flips the boolean and fails the hash.
    decl("events_approx_users", (s, d) => {
      import org.apache.spark.sql.functions._
      Dedup.eventsUs(s, d)
        .withColumn("hour_bucket", expr(s"ts_us div ${EventSeries.HourUs}L"))
        .groupBy("hour_bucket")
        .agg(approx_count_distinct("user_id").as("approx_users"),
          countDistinct("user_id").as("exact_users"))
        .select(col("hour_bucket"), col("exact_users"),
          (abs(col("approx_users").cast("double") - col("exact_users").cast("double"))
            <= greatest(lit(3.0), lit(0.15) * col("exact_users").cast("double")))
            .as("within_bound"))
        .orderBy("hour_bucket")
    })(
      s"""WITH ev AS ($EV)
         |SELECT ts_us // 3600000000 AS hour_bucket,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
         |  TRUE AS within_bound
         |FROM ev GROUP BY 1 ORDER BY hour_bucket""".stripMargin),

    // DuckDB has native ASOF JOIN; the Spark side reproduces it with a
    // union-scan + last(ignoreNulls) carry — same >= match semantics.
    decl("events_asof_signup", (s, d) => AsOfJoin.eventsAsOfSignup(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT e.event_id, e.ts_us, e.user_id, e.event_type, e.value,
         |       s.signup_id AS asof_signup_id, s.signup_value AS asof_signup_value
         |FROM ev e ASOF LEFT JOIN (
         |  SELECT user_id, ts_us AS sts, event_id AS signup_id, value AS signup_value
         |  FROM ev WHERE event_type = 'signup'
         |) s ON e.user_id = s.user_id AND e.ts_us >= s.sts
         |ORDER BY event_id""".stripMargin),

    // range join: the Spark side bucketizes intervals into an equi join;
    // the oracle states the plain BETWEEN containment over the same
    // sessionize CTEs.
    decl("events_session_lookup", (s, d) => RangeJoin.eventsSessionLookup(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE,
         |sessions AS (
         |  SELECT user_id, session_idx, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
         |  FROM s2 GROUP BY 1, 2
         |)
         |SELECT e.event_id, e.user_id, e.ts_us, x.session_idx
         |FROM ev e JOIN sessions x
         |  ON e.user_id = x.user_id AND e.ts_us BETWEEN x.start_us AND x.end_us
         |ORDER BY event_id""".stripMargin),

    // salting is an execution detail: the oracle states the plain agg.
    decl("events_salted_agg", (s, d) => Skew.saltedEventAgg(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT event_type, COUNT(*) AS n,
         |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin),

    decl("events_gap_stats", (s, d) => EventUsers.gapStats(s, d))(
      s"""WITH ev AS ($EV),
         |g AS (
         |  SELECT user_id,
         |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
         |  FROM ev)
         |SELECT user_id, count(*) AS n_gaps, CAST(sum(gap) AS BIGINT) AS sum_gap_us,
         |  max(gap) AS max_gap_us, ${ratio4Sql("sum(gap)", "count(*)")} AS avg_gap_us
         |FROM g WHERE gap IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin),

    decl("events_anomalies", (s, d) => EventValues.valueAnomalies(s, d))(
      s"""WITH ev AS (
         |  SELECT event_id, event_type,
         |    CAST(ROUND(value*100) AS BIGINT) AS cents
         |  FROM events),
         |f AS (
         |  SELECT event_type,
         |    quantile_cont(cents, 0.75)
         |      + 3.0 * (quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25))
         |      AS fence
         |  FROM ev GROUP BY event_type)
         |SELECT ev.event_id, ev.event_type, ev.cents, f.fence
         |FROM ev JOIN f ON ev.event_type = f.event_type
         |WHERE ev.cents > f.fence
         |ORDER BY ev.event_id""".stripMargin),

    decl("events_funnel", (s, d) => EventUsers.funnel(s, d))(
      s"""WITH ev AS ($EV),
         |v AS (SELECT user_id, min(ts_us) AS t_view FROM ev
         |      WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts_us) AS t_click
         |      FROM ev e JOIN v ON e.user_id = v.user_id
         |      WHERE e.event_type = 'click' AND e.ts_us > v.t_view
         |      GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase
         |      FROM ev e JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click
         |      GROUP BY e.user_id)
         |SELECT (SELECT count(*) FROM v) AS n_view,
         |       (SELECT count(*) FROM c) AS n_click,
         |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin),

    decl("events_retention", (s, d) => EventUsers.retention(s, d))(
      s"""WITH ev AS ($EV),
         |activity AS (SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev),
         |cohorts AS (SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id)
         |SELECT c.cohort_day, a.day - c.cohort_day AS offset, count(*) AS n_users
         |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
         |WHERE a.day - c.cohort_day <= 7
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin),

    decl("events_cooccurrence", (s, d) => EventUsers.cooccurrence(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE,
         |d AS (SELECT DISTINCT user_id, session_idx, event_type FROM s2)
         |SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_sessions
         |FROM d a JOIN d b ON a.user_id = b.user_id AND a.session_idx = b.session_idx
         |  AND a.event_type < b.event_type
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    decl("events_markov", (s, d) => EventUsers.markovTransitions(s, d))(
      s"""WITH ev AS ($EV),
         |t AS (
         |  SELECT event_type AS type_from,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS type_to
         |  FROM ev),
         |g AS (SELECT type_from, type_to, count(*) AS n FROM t
         |      WHERE type_to IS NOT NULL GROUP BY 1, 2)
         |SELECT type_from, type_to, n,
         |  ${ratio4Sql("n", "SUM(n) OVER (PARTITION BY type_from)")} AS p
         |FROM g ORDER BY type_from, type_to""".stripMargin),

    decl("events_pattern_sessions", (s, d) => EventUsers.patternSessions(s, d))(
      s"""WITH ev AS ($EV),
         |${sessCte(graft.operators.EventUsers.PatternGapUs)},
         |p1 AS (
         |  SELECT *, coalesce(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |    OVER wp, 0) AS saw_view
         |  FROM s2 WINDOW wp AS (PARTITION BY user_id, session_idx
         |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |),
         |p2 AS (
         |  SELECT *, coalesce(max(CASE WHEN event_type = 'click' AND saw_view = 1
         |      THEN 1 ELSE 0 END) OVER wp, 0) AS saw_qclick
         |  FROM p1 WINDOW wp AS (PARTITION BY user_id, session_idx
         |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |)
         |SELECT user_id, session_idx, count(*) AS n_events
         |FROM p2 GROUP BY user_id, session_idx
         |HAVING max(CASE WHEN event_type = 'purchase' AND saw_qclick = 1
         |  THEN 1 ELSE 0 END) = 1
         |ORDER BY user_id, session_idx""".stripMargin),

    decl("events_dau_wau", (s, d) => EventUsers.dauWau(s, d))(
      s"""WITH ev AS ($EV),
         |act AS (SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev),
         |dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1),
         |w AS (SELECT DISTINCT user_id, day + g.i AS day
         |      FROM act, generate_series(0, 6) g(i)),
         |wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1)
         |SELECT day, dau, wau, ${ratio4Sql("dau", "wau")} AS stickiness
         |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin),

    decl("events_histogram", (s, d) => EventValues.valueHistogram(s, d))(
      s"""WITH ev AS ($EV),
         |c AS (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS cents FROM ev)
         |SELECT event_type, cents // ${graft.operators.EventValues.HistBucketCents} AS bucket,
         |  count(*) AS n, min(cents) AS min_cents, max(cents) AS max_cents
         |FROM c GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),

    decl("events_hourly_change", (s, d) => EventSeries.hourlyChange(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (
         |  SELECT event_type, ts_us // 3600000000 AS hour, count(*) AS n,
         |    CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
         |  FROM ev GROUP BY 1, 2)
         |SELECT event_type, hour, n, sum_cents,
         |  coalesce(lag(n) OVER w, 0) AS prev_n,
         |  n - coalesce(lag(n) OVER w, 0) AS delta_n
         |FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour)
         |ORDER BY event_type, hour""".stripMargin),

    decl("events_attribution", (s, d) => EventUsers.attribution(s, d)) {
      val lookback = graft.operators.EventUsers.AttributionWindowUs
      s"""WITH ev AS ($EV),
         |t AS (
         |  SELECT event_id, ts_us, user_id, event_type,
         |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
         |      OVER w AS click_id,
         |    last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
         |      OVER w AS click_ts
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, click_id, ts_us - click_ts AS gap_us
         |FROM t
         |WHERE event_type = 'purchase' AND click_ts IS NOT NULL
         |  AND ts_us - click_ts <= $lookback
         |ORDER BY event_id""".stripMargin
    },

    decl("events_top_paths", (s, d) => EventUsers.topPaths(s, d))(
      s"""WITH ev AS ($EV),
         |p AS (
         |  SELECT concat_ws('>', event_type,
         |    lead(event_type, 1) OVER w, lead(event_type, 2) OVER w) AS path,
         |    lead(event_type, 2) OVER w AS t3
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         |SELECT path, count(*) AS n FROM p WHERE t3 IS NOT NULL
         |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin),

    // decile = (rn-1)*10 div N + 1 in pure int64 — deliberately NOT SQL
    // ntile (whose remainder distribution is a second thing to keep in
    // lockstep); rank comes from the scalable global-rank helper on the
    // Spark side and a window here.
    decl("events_spend_deciles", (s, d) => EventValues.spendDeciles(s, d))(
      s"""WITH ev AS ($EV),
         |sp AS (SELECT user_id,
         |         CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS spend_cents
         |       FROM ev GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY spend_cents DESC, user_id) AS rn,
         |        count(*) OVER () AS nn FROM sp)
         |SELECT user_id, spend_cents, rn, (rn-1)*10 // nn + 1 AS decile
         |FROM r ORDER BY user_id""".stripMargin),

    decl("events_session_histogram", (s, d) => EventUsers.sessionHistogram(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE,
         |per AS (SELECT user_id, session_idx, count(*) AS n_events
         |        FROM s2 GROUP BY 1, 2)
         |SELECT n_events, count(*) AS n_sessions FROM per
         |GROUP BY n_events ORDER BY n_events""".stripMargin),

    decl("events_trimmed_mean", (s, d) => EventValues.trimmedMean(s, d)) {
      val pct = graft.operators.EventValues.TrimPct
      s"""WITH ev AS ($EV),
         |c AS (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS cents, event_id FROM ev),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM c),
         |kept AS (SELECT * FROM r WHERE rn > n * $pct // 100 AND rn <= n - n * $pct // 100)
         |SELECT event_type, count(*) AS n_kept, min(cents) AS lo_cents,
         |  max(cents) AS hi_cents, ${ratio4Sql("sum(cents)", "count(*)")} AS mean_cents
         |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    decl("profile_events", (s, d) => EventValues.profileEvents(s, d)) {
      val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct
           |FROM ev""".stripMargin
      }.mkString(s"WITH ev AS ($EV)\nSELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY column_name")
    },

    decl("events_rolling_week", (s, d) => EventSeries.rollingWeek(s, d))(
      s"""WITH ev AS ($EV),
         |d AS (
         |  SELECT event_type, ts_us // 86400000000 AS day, count(*) AS n,
         |    CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS day_cents
         |  FROM ev GROUP BY 1, 2)
         |SELECT event_type, day, n, day_cents,
         |  CAST(sum(n) OVER w AS BIGINT) AS w7_n,
         |  CAST(sum(day_cents) OVER w AS BIGINT) AS w7_cents
         |FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, day""".stripMargin),

    // RFM quintiles: 5 = best, (N − rn)·5 div N + 1 in pure int64 —
    // scalable global ranks on the Spark side, windows here
    decl("events_rfm", (s, d) => EventUsers.rfm(s, d))(
      s"""WITH ev AS ($EV),
         |b AS (SELECT user_id, max(ts_us) AS last_us, count(*) AS n_events,
         |        CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS spend_cents
         |      FROM ev GROUP BY 1),
         |r AS (SELECT *,
         |        row_number() OVER (ORDER BY last_us DESC, user_id) AS rr,
         |        row_number() OVER (ORDER BY n_events DESC, user_id) AS rf,
         |        row_number() OVER (ORDER BY spend_cents DESC, user_id) AS rm,
         |        count(*) OVER () AS nn
         |      FROM b)
         |SELECT user_id, last_us, n_events, spend_cents,
         |  (nn - rr)*5 // nn + 1 AS r_score,
         |  (nn - rf)*5 // nn + 1 AS f_score,
         |  (nn - rm)*5 // nn + 1 AS m_score
         |FROM r ORDER BY user_id""".stripMargin),

    decl("events_seasonality", (s, d) => EventSeries.seasonality(s, d))(
      s"""WITH ev AS ($EV),
         |c AS (
         |  SELECT (ts_us // 86400000000) % 7 AS dow,
         |    (ts_us // 3600000000) % 24 AS hod, count(*) AS n
         |  FROM ev GROUP BY 1, 2)
         |SELECT dow, hod, n,
         |  ${ratio4Sql("n", "sum(n) OVER (PARTITION BY dow)")} AS day_share
         |FROM c ORDER BY dow, hod""".stripMargin),

    decl("events_cohort_revenue", (s, d) => EventUsers.cohortRevenue(s, d))(
      s"""WITH ev AS ($EV),
         |ud AS (SELECT user_id, ts_us // 86400000000 AS day,
         |         sum(CAST(ROUND(value*100) AS BIGINT)) AS cents
         |       FROM ev GROUP BY 1, 2),
         |c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM ud)
         |SELECT cohort_day, day - cohort_day AS offset,
         |  count(*) AS n_active, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM c WHERE day - cohort_day <= 7
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Lorenz concentration over the spend deciles: cumulative window on
    // the O(10) aggregate; shares via the exact ratio4 spelling
    decl("events_value_concentration", (s, d) => EventValues.valueConcentration(s, d))(
      s"""WITH ev AS ($EV),
         |sp AS (SELECT user_id,
         |         CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS spend_cents
         |       FROM ev GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY spend_cents DESC, user_id) AS rn,
         |        count(*) OVER () AS nn FROM sp),
         |d AS (SELECT (rn-1)*10 // nn + 1 AS decile, count(*) AS n_users,
         |        CAST(sum(spend_cents) AS BIGINT) AS decile_cents
         |      FROM r GROUP BY 1),
         |c AS (SELECT *,
         |        CAST(sum(n_users) OVER (ORDER BY decile) AS BIGINT) AS cum_users,
         |        CAST(sum(decile_cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents
         |      FROM d),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
         |        CAST(sum(decile_cents) AS BIGINT) AS tc FROM d)
         |SELECT decile, n_users, decile_cents, cum_cents,
         |  ${ratio4Sql("cum_users", "tu")} AS user_share,
         |  ${ratio4Sql("cum_cents", "tc")} AS spend_share
         |FROM c CROSS JOIN t ORDER BY decile""".stripMargin),

    // gap-regularity bot panel: integer mean + exact MAD around it;
    // mean 0 (all-identical timestamps) is the degenerate bot case
    decl("events_bot_regularity", (s, d) => EventUsers.botRegularity(s, d)) {
      val A = EventUsers
      s"""WITH ev AS ($EV),
         |g AS (SELECT user_id,
         |        ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
         |      FROM ev),
         |g2 AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
         |m AS (SELECT user_id, count(*) AS n_gaps,
         |        CAST(sum(gap) AS BIGINT) AS sum_gap
         |      FROM g2 GROUP BY 1 HAVING count(*) >= ${A.MinGaps}),
         |mm AS (SELECT user_id, n_gaps,
         |         CAST(${halfUpSql("sum_gap", "n_gaps")} AS BIGINT) AS mean_us
         |       FROM m),
         |d AS (SELECT g2.user_id,
         |        CAST(sum(abs(g2.gap - mm.mean_us)) AS BIGINT) AS sum_dev
         |      FROM g2 JOIN mm USING (user_id) GROUP BY 1),
         |f AS (SELECT mm.user_id, mm.n_gaps, mm.mean_us,
         |        CAST(${halfUpSql("d.sum_dev", "mm.n_gaps")} AS BIGINT) AS mad_us
         |      FROM mm JOIN d USING (user_id))
         |SELECT user_id, n_gaps, mean_us, mad_us,
         |  CASE WHEN mean_us > 0
         |       THEN ${ratio4Sql("mad_us", "mean_us")} END AS regularity,
         |  CASE WHEN mean_us = 0 THEN TRUE
         |       ELSE ${ratio4Sql("mad_us", "mean_us")} <= ${A.BotRegularityMax}
         |       END AS is_bot
         |FROM f ORDER BY user_id""".stripMargin
    },

    // user-lifecycle flux: first/last event days per user over the
    // distinct (user, day) frame, cumulative acquisitions
    decl("events_user_flux", (s, d) => EventUsers.userFlux(s, d))(
      s"""WITH ev AS ($EV),
         |act AS (SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev),
         |a AS (SELECT day, count(*) AS n_active FROM act GROUP BY 1),
         |sp AS (SELECT user_id, min(day) AS fd, max(day) AS ld FROM act GROUP BY 1),
         |f AS (SELECT fd AS day, count(*) AS n_new FROM sp GROUP BY 1),
         |l AS (SELECT ld AS day, count(*) AS n_last FROM sp GROUP BY 1)
         |SELECT a.day, a.n_active,
         |  CAST(coalesce(f.n_new, 0) AS BIGINT) AS n_new,
         |  CAST(coalesce(l.n_last, 0) AS BIGINT) AS n_last,
         |  CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY a.day) AS BIGINT) AS cum_users
         |FROM a LEFT JOIN f ON a.day = f.day LEFT JOIN l ON a.day = l.day
         |ORDER BY a.day""".stripMargin),

    // human-scale gap buckets — mirrors EventUsers.gapHistogram
    decl("events_gap_histogram", (s, d) => EventUsers.gapHistogram(s, d)) {
      val bks = graft.operators.EventUsers.GapBuckets
      val rankCase = bks.map { case (r, _, ub) => s"WHEN gap < $ub THEN $r" }
        .mkString("CASE ", " ", s" ELSE ${bks.length + 1} END")
      val labelCase = (bks.map { case (r, l, _) => s"WHEN $r THEN '$l'" })
        .mkString("CASE bucket_rank ", " ", " ELSE '>24h' END")
      s"""WITH ev AS ($EV),
         |g AS (
         |  SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
         |  FROM ev),
         |b AS (SELECT CAST($rankCase AS BIGINT) AS bucket_rank
         |      FROM g WHERE gap IS NOT NULL),
         |c AS (SELECT bucket_rank, CAST(count(*) AS BIGINT) AS n_gaps
         |      FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n_gaps) AS BIGINT) AS t FROM c),
         |cum AS (SELECT bucket_rank, n_gaps,
         |          CAST(sum(n_gaps) OVER (ORDER BY bucket_rank) AS BIGINT) AS cum_gaps
         |        FROM c)
         |SELECT bucket_rank, $labelCase AS bucket, n_gaps,
         |  ${ratio4Sql("n_gaps", "t")} AS share,
         |  ${ratio4Sql("cum_gaps", "t")} AS cum_share
         |FROM cum CROSS JOIN t ORDER BY bucket_rank""".stripMargin
    },

    // seasonal-naive hourly backtest — mirrors EventSeries.forecastError
    decl("events_forecast_error", (s, d) => EventSeries.forecastError(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, ts_us // ${graft.operators.EventSeries.HourUs} AS hour FROM ev),
         |c AS (SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
         |      FROM h GROUP BY 1, 2),
         |rng AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM h),
         |ty AS (SELECT DISTINCT event_type FROM h),
         |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
         |         FROM ty CROSS JOIN rng),
         |d AS (SELECT g.event_type, g.hour, coalesce(c.n, 0) AS n
         |      FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.hour = g.hour),
         |l AS (SELECT event_type, n,
         |        lag(n, 24) OVER (PARTITION BY event_type ORDER BY hour) AS l24,
         |        lag(n, 1) OVER (PARTITION BY event_type ORDER BY hour) AS l1
         |      FROM d),
         |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |          CAST(sum(n) AS BIGINT) AS total_events,
         |          CAST(sum(abs(n - l24)) AS BIGINT) AS sae_seasonal,
         |          CAST(sum(abs(n - l1)) AS BIGINT) AS sae_naive
         |        FROM l WHERE l24 IS NOT NULL GROUP BY 1)
         |SELECT event_type, n_hours, total_events, sae_seasonal, sae_naive,
         |  ${ratio4Sql("sae_seasonal", "n_hours")} AS mae4,
         |  ${ratio4Sql("sae_seasonal", "greatest(sae_naive, 1)")} AS mase4
         |FROM agg ORDER BY event_type""".stripMargin),

    // exact CUSUM drift panel — mirrors EventSeries.cusumDrift
    decl("events_cusum_drift", (s, d) => EventSeries.cusumDrift(s, d)) {
      val lam = graft.operators.EventSeries.CusumLambdaMeanHours
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, ts_us // ${graft.operators.EventSeries.HourUs} AS hour FROM ev),
         |c AS (SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
         |      FROM h GROUP BY 1, 2),
         |rng AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM h),
         |ty AS (SELECT DISTINCT event_type FROM h),
         |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
         |         FROM ty CROSS JOIN rng),
         |d AS (SELECT g.event_type, g.hour, coalesce(c.n, 0) AS n
         |      FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.hour = g.hour),
         |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         |        CAST(sum(n) AS BIGINT) AS total_events
         |      FROM d GROUP BY 1),
         |cc AS (
         |  SELECT d.event_type, d.hour, t.n_hours, t.total_events,
         |    CAST(sum(d.n * t.n_hours - t.total_events) OVER
         |      (PARTITION BY d.event_type ORDER BY d.hour
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
         |  FROM d JOIN t USING (event_type)),
         |s AS (
         |  SELECT *, c2 - least(0, min(c2) OVER w) AS s_pos,
         |    greatest(0, max(c2) OVER w) - c2 AS s_neg
         |  FROM cc
         |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |f AS (SELECT *, s_pos > total_events * $lam AS flagged FROM s),
         |a1 AS (
         |  SELECT event_type, min(n_hours) AS n_hours,
         |    min(total_events) AS total_events,
         |    max(s_pos) AS s_pos_max,
         |    CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |    min(CASE WHEN flagged THEN hour END) AS first_flag_hour,
         |    max(s_neg) AS s_neg_max
         |  FROM f GROUP BY 1),
         |pk AS (
         |  SELECT f.event_type, min(f.hour) AS peak_hour
         |  FROM f JOIN a1 USING (event_type) WHERE f.s_pos = a1.s_pos_max
         |  GROUP BY 1)
         |SELECT a1.event_type AS event_type, n_hours, total_events, s_pos_max,
         |  peak_hour, n_flagged, first_flag_hour, s_neg_max
         |FROM a1 JOIN pk USING (event_type) ORDER BY event_type""".stripMargin
    },

    // exact integer ACF — mirrors EventSeries.autocorrelation
    decl("events_autocorrelation", (s, d) => EventSeries.autocorrelation(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, ts_us // ${graft.operators.EventSeries.HourUs} AS hour FROM ev),
         |c AS (SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
         |      FROM h GROUP BY 1, 2),
         |rng AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM h),
         |ty AS (SELECT DISTINCT event_type FROM h),
         |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
         |         FROM ty CROSS JOIN rng),
         |d AS (SELECT g.event_type, g.hour, coalesce(c.n, 0) AS n
         |      FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.hour = g.hour),
         |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS h,
         |        CAST(sum(n) AS BIGINT) AS t FROM d GROUP BY 1),
         |r AS (SELECT d.event_type, d.hour,
         |        d.n - ((t.t + t.h // 2) // t.h) AS r
         |      FROM d JOIN t USING (event_type)),
         |den AS (SELECT event_type, CAST(sum(r * r) AS BIGINT) AS den
         |        FROM r GROUP BY 1),
         |l AS (SELECT event_type, hour + g.lag_h AS hour, g.lag_h, r AS r0
         |      FROM r, generate_series(1, ${graft.operators.EventSeries.MaxAcfLag}) g(lag_h)),
         |p AS (SELECT l.event_type, l.lag_h, CAST(count(*) AS BIGINT) AS n_pairs,
         |        CAST(sum(l.r0 * r.r) AS BIGINT) AS num
         |      FROM l JOIN r ON r.event_type = l.event_type AND r.hour = l.hour
         |      GROUP BY 1, 2)
         |SELECT p.event_type AS event_type, lag_h, n_pairs, num, den,
         |  CAST(num AS DOUBLE) / CAST(greatest(den, 1) AS DOUBLE) AS acf
         |FROM p JOIN den USING (event_type) ORDER BY event_type, lag_h""".stripMargin),

    // Benford first-digit audit — mirrors EventValues.benford (leading
    // digit off the cents STRING head, never log10; dense 9-digit grid)
    decl("events_benford", (s, d) => EventValues.benford(s, d)) {
      val ben = graft.operators.EventValues.BenfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
      s"""WITH ev AS ($EV),
         |c AS (SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS cents
         |      FROM ev),
         |dg AS (SELECT event_type,
         |         CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |       FROM c WHERE cents > 0),
         |cnt AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
         |        FROM dg GROUP BY 1, 2),
         |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
         |        FROM cnt GROUP BY 1),
         |ben AS (SELECT CAST(digit AS BIGINT) AS digit,
         |          CAST(benford_ppm AS BIGINT) AS benford_ppm
         |        FROM (VALUES $ben) b(digit, benford_ppm)),
         |grid AS (SELECT tot.event_type, ben.digit, tot.total,
         |           ben.benford_ppm, coalesce(cnt.n, 0) AS n
         |         FROM tot CROSS JOIN ben
         |         LEFT JOIN cnt ON cnt.event_type = tot.event_type
         |           AND cnt.digit = ben.digit)
         |SELECT event_type, digit, n,
         |  ${halfUpSql("n * 1000000", "total")} AS share_ppm, benford_ppm,
         |  abs(${halfUpSql("n * 1000000", "total")} - benford_ppm) AS dev_ppm
         |FROM grid ORDER BY event_type, digit""".stripMargin
    },

    // per-user Fano factor of hourly counts over the global hour span —
    // mirrors EventSeries.burstiness (var/mean = (H·Σc² − n²)/(H·n),
    // exact int64, Cauchy–Schwarz keeps the numerator non-negative)
    decl("events_burstiness", (s, d) => EventSeries.burstiness(s, d))(
      s"""WITH ev AS ($EV),
         |cells AS (
         |  SELECT user_id, ts_us // ${graft.operators.EventSeries.HourUs} AS hour,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1, 2),
         |span AS (SELECT max(hour) - min(hour) + 1 AS h FROM cells),
         |u AS (
         |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
         |    CAST(count(*) AS BIGINT) AS n_active_hours,
         |    CAST(sum(c * c) AS BIGINT) AS s2
         |  FROM cells GROUP BY 1)
         |SELECT user_id, n_events, n_active_hours,
         |  ${ratio4Sql("h * s2 - n_events * n_events", "h * n_events")} AS fano4
         |FROM u CROSS JOIN span ORDER BY user_id""".stripMargin),

    // week-over-week type-mix L1 shift in exact ppm with the top mover
    // — mirrors EventSeries.typeDrift (dense grid built from the
    // aggregate so absent cells contribute their full ppm)
    decl("events_type_drift", (s, d) => EventSeries.typeDrift(s, d))(
      s"""WITH ev AS ($EV),
         |wk AS (
         |  SELECT ts_us // ${graft.operators.EventSeries.WeekUs} AS week, event_type,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1, 2),
         |tot AS (SELECT week, CAST(sum(c) AS BIGINT) AS t FROM wk GROUP BY 1),
         |ppm AS (
         |  SELECT week, event_type,
         |    CAST(${halfUpSql("c * 1000000", "t")} AS BIGINT) AS ppm
         |  FROM wk JOIN tot USING (week)),
         |grid AS (
         |  SELECT w.week, e.event_type
         |  FROM (SELECT DISTINCT week FROM wk) w
         |  CROSS JOIN (SELECT DISTINCT event_type FROM wk) e),
         |dense AS (
         |  SELECT g.week, g.event_type, coalesce(p.ppm, 0) AS ppm
         |  FROM grid g LEFT JOIN ppm p
         |    ON p.week = g.week AND p.event_type = g.event_type),
         |diffs AS (
         |  SELECT week, event_type,
         |    abs(ppm - lag(ppm) OVER (PARTITION BY event_type ORDER BY week)) AS d
         |  FROM dense QUALIFY d IS NOT NULL),
         |agg AS (SELECT week, CAST(sum(d) AS BIGINT) AS l1_ppm,
         |          CAST(max(d) AS BIGINT) AS top_delta_ppm
         |        FROM diffs GROUP BY week),
         |pick AS (SELECT week, event_type FROM (
         |    SELECT week, event_type,
         |      row_number() OVER (PARTITION BY week ORDER BY d DESC, event_type DESC) AS rn
         |    FROM diffs) WHERE rn = 1)
         |SELECT week, l1_ppm, event_type AS top_mover, top_delta_ppm
         |FROM agg JOIN pick USING (week) ORDER BY week""".stripMargin),

    // theta-sketch set DIFFERENCE (day's users minus yesterday's) —
    // mirrors Sketches.thetaNewUsersDaily; the estimate replays
    // hash-exactly (pure function of the min-k sets)
    decl("events_theta_new_users", (s, d) => Sketches.thetaNewUsersDaily(s, d)) {
      val k = graft.operators.Sketches.ThetaK
      s"""WITH ev AS ($EV),
         |hh AS (
         |  SELECT DISTINCT ts_us // 86400000000 AS day_bucket, user_id,
         |    ${H64("concat('u:', CAST(user_id AS VARCHAR))")} AS h
         |  FROM ev
         |),
         |mk AS (
         |  SELECT day_bucket, h,
         |    row_number() OVER (PARTITION BY day_bucket ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT day_bucket, h FROM hh) q
         |),
         |s AS (SELECT day_bucket, h FROM mk WHERE rn <= $k),
         |th AS (
         |  SELECT day_bucket, CAST(count(*) AS BIGINT) AS n_sk,
         |    CASE WHEN count(*) < $k THEN 1152921504606846976
         |         ELSE max(h) END AS theta
         |  FROM s GROUP BY 1),
         |pair AS (
         |  SELECT a.day_bucket, a.n_sk AS n_a, b.n_sk AS n_b,
         |    least(a.theta, b.theta) AS theta_c
         |  FROM th a JOIN th b ON b.day_bucket = a.day_bucket - 1),
         |i AS (
         |  SELECT p.day_bucket, CAST(count(*) AS BIGINT) AS n_new
         |  FROM pair p JOIN s x ON x.day_bucket = p.day_bucket
         |  LEFT JOIN s y ON y.day_bucket = p.day_bucket - 1 AND y.h = x.h
         |  WHERE x.h < p.theta_c AND y.h IS NULL
         |  GROUP BY 1),
         |ex AS (
         |  SELECT d.day_bucket, CAST(count(*) AS BIGINT) AS exact_new
         |  FROM (SELECT DISTINCT day_bucket, user_id FROM hh) d
         |  LEFT JOIN (SELECT DISTINCT day_bucket, user_id FROM hh) e
         |    ON e.day_bucket = d.day_bucket - 1 AND e.user_id = d.user_id
         |  WHERE e.user_id IS NULL
         |  GROUP BY 1)
         |SELECT p.day_bucket, p.n_a, p.n_b,
         |  CAST(coalesce(i.n_new, 0) AS BIGINT) AS n_new_sample,
         |  ROUND(CAST(coalesce(i.n_new, 0) AS DOUBLE) * 1152921504606846976.0
         |        / CAST(p.theta_c AS DOUBLE), 4) AS est_new,
         |  CAST(coalesce(ex.exact_new, 0) AS BIGINT) AS exact_new
         |FROM pair p LEFT JOIN i ON i.day_bucket = p.day_bucket
         |LEFT JOIN ex ON ex.day_bucket = p.day_bucket
         |ORDER BY p.day_bucket""".stripMargin
    },

    // per-type hot-key skew panel — mirrors Skew.keySkew
    decl("events_key_skew", (s, d) => Skew.keySkew(s, d))(
      s"""WITH ev AS ($EV),
         |pu AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
         |       FROM ev GROUP BY 1, 2),
         |r AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_rows,
         |        CAST(count(*) AS BIGINT) AS n_users,
         |        CAST(max(n) AS BIGINT) AS top_user_rows
         |      FROM pu GROUP BY 1)
         |SELECT event_type, n_rows, n_users, top_user_rows,
         |  ${ratio4Sql("top_user_rows", "n_rows")} AS top_share4,
         |  ${ratio4Sql("top_user_rows * n_users", "n_rows")} AS skew_x4
         |FROM r ORDER BY event_type""".stripMargin),

    // the decision table dispatched end-to-end: exact distinct users per
    // type — the AUTO plan (direct vs value-salted) is bit-identical by
    // construction, so ONE oracle states the result
    decl("events_users_by_type_auto", (s, d) => Skew.usersByTypeAuto(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM ev GROUP BY 1 ORDER BY event_type""".stripMargin),

    // engagement-depth histogram — mirrors EventUsers.activeDaysHistogram
    decl("events_active_days_histogram", (s, d) => EventUsers.activeDaysHistogram(s, d))(
      s"""WITH ev AS ($EV),
         |pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS d
         |       FROM (SELECT DISTINCT user_id, ts_us // 86400000000 AS day
         |             FROM ev) q GROUP BY 1),
         |bk AS (SELECT
         |    CASE WHEN d = 1 THEN 1 WHEN d <= 4 THEN 2 WHEN d <= 9 THEN 3
         |         WHEN d <= 19 THEN 4 ELSE 5 END AS bucket_rank,
         |    CASE WHEN d = 1 THEN '1 day' WHEN d <= 4 THEN '2-4 days'
         |         WHEN d <= 9 THEN '5-9 days' WHEN d <= 19 THEN '10-19 days'
         |         ELSE '20+ days' END AS bucket,
         |    d
         |  FROM pu),
         |h AS (SELECT bucket_rank, bucket,
         |        CAST(count(*) AS BIGINT) AS n_users,
         |        CAST(sum(d) AS BIGINT) AS n_user_days
         |      FROM bk GROUP BY bucket_rank, bucket),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS t FROM h)
         |SELECT CAST(bucket_rank AS BIGINT) AS bucket_rank, bucket, n_users,
         |  n_user_days, ${ratio4Sql("n_users", "t")} AS user_share4
         |FROM h CROSS JOIN t ORDER BY bucket_rank""".stripMargin),

    // per-transition gap quantiles — mirrors
    // EventUsers.transitionQuantiles (groupedQuantiles replicates the
    // inclusive interpolation, so quantile_cont replays it exactly)
    decl("events_transition_quantiles", (s, d) => EventUsers.transitionQuantiles(s, d))(
      s"""WITH ev AS ($EV),
         |tr AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER w AS to_type,
         |    lead(ts_us) OVER w - ts_us AS gap_us
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         |SELECT from_type, to_type,
         |  CAST(count(*) AS BIGINT) AS n_transitions,
         |  quantile_cont(gap_us, 0.25) AS p25,
         |  quantile_cont(gap_us, 0.5) AS p50,
         |  quantile_cont(gap_us, 0.75) AS p75
         |FROM tr WHERE to_type IS NOT NULL
         |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin),

    // per-user behavioral Simpson concentration, banded — mirrors
    // EventUsers.userPredictability (band floors the exact 1e-4
    // integer numerator, never a double quotient)
    decl("events_user_predictability", (s, d) => EventUsers.userPredictability(s, d))(
      s"""WITH ev AS ($EV),
         |tf AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
         |       FROM ev GROUP BY 1, 2),
         |per AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
         |          CAST(count(*) AS BIGINT) AS k,
         |          CAST(sum(c * (c - 1)) AS BIGINT) AS s2
         |        FROM tf GROUP BY 1),
         |sp AS (SELECT user_id, n, k,
         |         ${halfUpSql("s2 * 10000", "greatest(n * (n - 1), 1)")} AS r4
         |       FROM per)
         |SELECT r4 // 500 AS band, CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(sum(k) AS BIGINT) AS sum_types
         |FROM sp GROUP BY 1 ORDER BY band""".stripMargin),

    // interval-sweep peak concurrency over the SAME session CTEs —
    // mirrors EventSeries.peakConcurrency (starts before ends on ties:
    // delta DESC, so point sessions register and touching sessions
    // count as overlapping)
    decl("events_peak_concurrency", (s, d) => EventSeries.peakConcurrency(s, d))(
      s"""WITH ev AS ($EV),
         |$SESS_CTE,
         |sess AS (SELECT user_id, session_idx,
         |           MIN(ts_us) AS s, MAX(ts_us) AS e
         |         FROM s2 GROUP BY 1, 2),
         |pts AS (
         |  SELECT s AS t, CAST(1 AS BIGINT) AS delta, user_id, session_idx FROM sess
         |  UNION ALL
         |  SELECT e, CAST(-1 AS BIGINT), user_id, session_idx FROM sess),
         |run AS (
         |  SELECT t, delta, CAST(SUM(delta) OVER (
         |    ORDER BY t, delta DESC, user_id, session_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
         |  FROM pts)
         |SELECT t // 86400000000 AS day_bucket,
         |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
         |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sessions_started
         |FROM run GROUP BY 1 ORDER BY 1""".stripMargin),

    // weekly activity grid on pure integer µs arithmetic (dow 0 =
    // Monday: epoch day 0 was a Thursday) — mirrors
    // EventSeries.dowHourHeatmap
    decl("events_dow_hour_heatmap", (s, d) => EventSeries.dowHourHeatmap(s, d))(
      s"""WITH ev AS ($EV)
         |SELECT ((ts_us // 86400000000) + 3) % 7 AS dow,
         |  (ts_us // 3600000000) % 24 AS hour,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS spend_cents
         |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // period-over-period value-segment migration — mirrors
    // EventUsers.rfmMigration (midpoint split, exact global M-quintile
    // per half, 0 = absent)
    decl("events_rfm_migration", (s, d) => EventUsers.rfmMigration(s, d))(
      s"""WITH ev AS ($EV),
         |m AS (SELECT min(ts_us) AS mn, max(ts_us) AS mx FROM ev),
         |a0 AS (SELECT user_id,
         |         CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS cents
         |       FROM ev, m WHERE ts_us < mn + (mx - mn)//2 GROUP BY 1),
         |ar AS (SELECT user_id, (nn - rn)*5 // nn + 1 AS seg_a FROM (
         |         SELECT user_id,
         |           row_number() OVER (ORDER BY cents DESC, user_id) AS rn,
         |           count(*) OVER () AS nn FROM a0)),
         |b0 AS (SELECT user_id,
         |         CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS cents
         |       FROM ev, m WHERE ts_us >= mn + (mx - mn)//2 GROUP BY 1),
         |br AS (SELECT user_id, (nn - rn)*5 // nn + 1 AS seg_b FROM (
         |         SELECT user_id,
         |           row_number() OVER (ORDER BY cents DESC, user_id) AS rn,
         |           count(*) OVER () AS nn FROM b0))
         |SELECT coalesce(seg_a, 0) AS seg_a, coalesce(seg_b, 0) AS seg_b,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM ar FULL OUTER JOIN br USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // rank-symbolized SAX-style motif trigrams over the dense hourly
    // grid — mirrors EventSeries.symbolicMotifs (quartile symbol = exact
    // rank within the type, integer division; motifs on adjacent hours)
    decl("events_symbolic_motifs", (s, d) => EventSeries.symbolicMotifs(s, d))(
      s"""WITH ev AS ($EV),
         |h AS (SELECT event_type, ts_us // ${graft.operators.EventSeries.HourUs} AS hour FROM ev),
         |c AS (SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
         |      FROM h GROUP BY 1, 2),
         |rng AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM h),
         |ty AS (SELECT DISTINCT event_type FROM h),
         |grid AS (SELECT event_type, unnest(generate_series(h0, h1)) AS hour
         |         FROM ty CROSS JOIN rng),
         |d AS (SELECT g.event_type, g.hour, coalesce(c.n, 0) AS n
         |      FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.hour = g.hour),
         |sy AS (SELECT event_type, hour,
         |         ((row_number() OVER (PARTITION BY event_type ORDER BY n, hour) - 1) * 4)
         |           // (count(*) OVER (PARTITION BY event_type)) AS sym
         |       FROM d),
         |tri AS (SELECT event_type,
         |          CAST(sym AS VARCHAR)
         |            || CAST(lead(sym, 1) OVER (PARTITION BY event_type ORDER BY hour) AS VARCHAR)
         |            || CAST(lead(sym, 2) OVER (PARTITION BY event_type ORDER BY hour) AS VARCHAR) AS motif,
         |          lead(sym, 2) OVER (PARTITION BY event_type ORDER BY hour) AS s2
         |        FROM sy),
         |mo AS (SELECT event_type, motif, CAST(count(*) AS BIGINT) AS n_occ
         |       FROM tri WHERE s2 IS NOT NULL GROUP BY 1, 2),
         |rk AS (SELECT event_type, motif, n_occ,
         |         CAST(row_number() OVER (PARTITION BY event_type
         |           ORDER BY n_occ DESC, motif) AS BIGINT) AS rank
         |       FROM mo)
         |SELECT event_type, rank, motif, n_occ FROM rk
         |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),

    // grouped OLS trend of daily spend: exact int64 running sums,
    // signed ratio4 slope/intercept, r² in HUGEINT (the one product
    // that outgrows int64) — mirrors EventSeries.trendOls
    decl("events_trend_ols", (s, d) => EventSeries.trendOls(s, d))(
      s"""WITH ev AS ($EV),
         |daily AS (
         |  SELECT event_type, ts_us // 86400000000 AS day,
         |    CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS y
         |  FROM ev GROUP BY 1, 2),
         |d0 AS (SELECT min(day) AS day0 FROM daily),
         |xy AS (SELECT event_type, day - day0 AS x, y FROM daily, d0),
         |st AS (
         |  SELECT event_type,
         |    CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x*x) AS BIGINT) AS sxx,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x*y) AS BIGINT) AS sxy,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM xy GROUP BY 1),
         |c AS (
         |  SELECT *,
         |    n_days * sxy - sx * sy AS sn,
         |    n_days * sxx - sx * sx AS sd,
         |    sy * sxx - sx * sxy AS iin,
         |    CAST(n_days AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS syy_n
         |  FROM st)
         |SELECT event_type, n_days, sy AS total_cents,
         |  CASE WHEN sd = 0 THEN NULL ELSE
         |    (CASE WHEN sn < 0 THEN -1.0 ELSE 1.0 END) *
         |    (${halfUpSql("abs(sn) * 10000", "sd")}) / 10000.0 END AS slope_cents,
         |  CASE WHEN sd = 0 THEN NULL ELSE
         |    (CASE WHEN iin < 0 THEN -1.0 ELSE 1.0 END) *
         |    (${halfUpSql("abs(iin) * 10000", "sd")}) / 10000.0 END AS icept_cents,
         |  CASE WHEN sd = 0 OR syy_n = 0 THEN NULL ELSE
         |    CAST((2 * CAST(sn AS HUGEINT) * sn * 1000000 + CAST(sd AS HUGEINT) * syy_n)
         |      // (2 * CAST(sd AS HUGEINT) * syy_n) AS BIGINT) END AS r2_ppm
         |FROM c ORDER BY event_type""".stripMargin),

    // multi-scale Fano: dense-grid variance-to-mean per (type, width)
    // on exact int64 moments — mirrors EventSeries.fanoSpectrum
    decl("events_fano_spectrum", (s, d) => EventSeries.fanoSpectrum(s, d))(
      s"""WITH ev AS ($EV),
         |cells AS (
         |  SELECT event_type, ts_us // 3600000000 AS hour,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1, 2),
         |span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM cells),
         |w(width_h) AS (
         |  SELECT CAST(unnest([${graft.operators.EventSeries.FanoWidthsH.mkString(", ")}]) AS BIGINT)),
         |cw AS (
         |  SELECT event_type, width_h, (hour - h0) // width_h AS slot,
         |    (h1 - h0) // width_h + 1 AS nslots, c
         |  FROM cells, span, w),
         |s AS (
         |  SELECT event_type, width_h, slot, max(nslots) AS nslots,
         |    CAST(sum(c) AS BIGINT) AS c
         |  FROM cw GROUP BY 1, 2, 3),
         |a AS (
         |  SELECT event_type, width_h,
         |    CAST(max(nslots) AS BIGINT) AS n_slots,
         |    CAST(sum(c) AS BIGINT) AS n_events,
         |    CAST(count(*) AS BIGINT) AS n_active_slots,
         |    CAST(sum(c*c) AS BIGINT) AS s2
         |  FROM s GROUP BY 1, 2)
         |SELECT event_type, width_h, n_slots, n_events, n_active_slots,
         |  ${ratio4Sql("n_slots*s2 - n_events*n_events", "n_slots*n_events")} AS fano4
         |FROM a ORDER BY event_type, width_h""".stripMargin),

    // robust trend
    // offline CUSUM changepoint: dense daily counts, argmax of
    // |n·S₁ − k·S| (ties → earliest day), explained-variance ppm in
    // HUGEINT — mirrors EventSeries.changepoint
    decl("events_changepoint", (s, d) => EventSeries.changepoint(s, d))(
      s"""WITH ev AS ($EV),
         |daily AS (
         |  SELECT event_type, ts_us // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1, 2),
         |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
         |dense AS (
         |  SELECT t.event_type, g.day, coalesce(d.c, 0) AS c
         |  FROM (SELECT DISTINCT event_type FROM daily) t
         |  CROSS JOIN days g
         |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day),
         |st AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(c) AS BIGINT) AS s,
         |    sum(CAST(c AS HUGEINT) * c) AS s2
         |  FROM dense GROUP BY 1),
         |cum AS (
         |  SELECT event_type, day,
         |    CAST(row_number() OVER w AS BIGINT) AS rn,
         |    CAST(sum(c) OVER w AS BIGINT) AS s1
         |  FROM dense
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day
         |               ROWS UNBOUNDED PRECEDING)),
         |best AS (
         |  SELECT c.event_type, c.day, c.rn AS n1, st.n - c.rn AS n2,
         |    c.s1, st.n, st.s, st.s2, abs(st.n * c.s1 - c.rn * st.s) AS g
         |  FROM cum c JOIN st USING (event_type)
         |  WHERE c.rn < st.n
         |  QUALIFY row_number() OVER (PARTITION BY c.event_type
         |    ORDER BY abs(st.n * c.s1 - c.rn * st.s) DESC, c.day) = 1),
         |rel AS (
         |  SELECT *,
         |    CAST(n1 AS HUGEINT) * n2 *
         |      (CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s) AS bt
         |  FROM best)
         |SELECT event_type, n AS n_days, s AS n_events, day + 1 AS split_day,
         |  n1 AS n_left, n2 AS n_right,
         |  ${ratio4Sql("s1", "n1")} AS mean_left4,
         |  ${ratio4Sql("s - s1", "n2")} AS mean_right4,
         |  g AS cusum_peak,
         |  CASE WHEN bt = 0 THEN NULL
         |    ELSE CAST((2 * CAST(g AS HUGEINT) * g * 1000000 + bt)
         |      // (2 * bt) AS BIGINT) END AS gain_ppm
         |FROM rel ORDER BY event_type""".stripMargin),

    // Theil–Sen robust trend: lower-median pairwise slope selected on
    // the exact fixed-scale integer key, median residual intercept on
    // the chosen (p, q) — mirrors EventSeries.theilSen
    decl("events_theil_sen", (s, d) => EventSeries.theilSen(s, d)) {
      val K = graft.operators.EventSeries.SlopeKeyScale
      s"""WITH ev AS ($EV),
         |daily AS (
         |  SELECT event_type, ts_us // 86400000000 AS day,
         |    CAST(sum(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS y
         |  FROM ev GROUP BY 1, 2),
         |d0 AS (SELECT min(day) AS day0 FROM daily),
         |pts AS (SELECT event_type, day - day0 AS x, y FROM daily, d0),
         |pr AS (
         |  SELECT a.event_type, b.y - a.y AS num, b.x - a.x AS den,
         |    (CASE WHEN b.y - a.y < 0 THEN -1 ELSE 1 END) *
         |      ((abs(b.y - a.y) * $K) // (b.x - a.x)) AS skey
         |  FROM pts a JOIN pts b
         |    ON a.event_type = b.event_type AND b.x > a.x),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM pr GROUP BY 1),
         |sl AS (
         |  SELECT pr.event_type, m.n_pairs, pr.num AS p, pr.den AS q
         |  FROM pr JOIN m USING (event_type)
         |  QUALIFY row_number() OVER (PARTITION BY pr.event_type
         |    ORDER BY pr.skey, pr.num, pr.den) = (m.n_pairs + 1) // 2),
         |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
         |       FROM pts GROUP BY 1),
         |res AS (
         |  SELECT pts.event_type, sl.n_pairs, sl.p, sl.q,
         |    sl.q * pts.y - sl.p * pts.x AS rnum
         |  FROM pts JOIN sl USING (event_type)),
         |med AS (
         |  SELECT res.event_type, nd.n_days, res.n_pairs, res.p, res.q,
         |    res.rnum
         |  FROM res JOIN nd USING (event_type)
         |  QUALIFY row_number() OVER (PARTITION BY res.event_type
         |    ORDER BY res.rnum) = (nd.n_days + 1) // 2)
         |SELECT event_type, n_days, n_pairs,
         |  (CASE WHEN p < 0 THEN -1.0 ELSE 1.0 END) *
         |    CAST((2 * abs(CAST(p AS HUGEINT)) * 10000 + q)
         |      // (2 * CAST(q AS HUGEINT)) AS BIGINT) / 10000.0 AS slope_cents,
         |  (CASE WHEN rnum < 0 THEN -1.0 ELSE 1.0 END) *
         |    CAST((2 * abs(CAST(rnum AS HUGEINT)) * 10000 + q)
         |      // (2 * CAST(q AS HUGEINT)) AS BIGINT) / 10000.0 AS icept_cents
         |FROM med ORDER BY event_type""".stripMargin
    },

    // Friedman rank statistic over complete Monday-aligned weeks:
    // doubled ranks (ties → average) in pure int64, exact rational Q —
    // mirrors EventSeries.friedmanDow
    decl("events_friedman_dow", (s, d) => EventSeries.friedmanDow(s, d))(
      s"""WITH ev AS ($EV),
         |daily AS (
         |  SELECT event_type, ts_us // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1, 2),
         |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |days AS (SELECT unnest(generate_series(d0, d1)) AS day, d0, d1
         |         FROM span),
         |dense AS (
         |  SELECT t.event_type, (g.day + 3) // 7 AS wk,
         |    (g.day + 3) % 7 AS dow, coalesce(d.c, 0) AS c
         |  FROM (SELECT DISTINCT event_type FROM daily) t
         |  CROSS JOIN days g
         |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day
         |  WHERE ((g.day + 3) // 7) * 7 - 3 >= g.d0
         |    AND ((g.day + 3) // 7) * 7 + 3 <= g.d1),
         |rk AS (
         |  SELECT event_type, wk, dow,
         |    CAST(rank() OVER (PARTITION BY event_type, wk ORDER BY c) AS BIGINT) * 2
         |      + CAST(count(*) OVER (PARTITION BY event_type, wk, c) AS BIGINT) - 1 AS rank2
         |  FROM dense),
         |pd AS (
         |  SELECT event_type, dow, CAST(sum(rank2) AS BIGINT) AS r2,
         |    CAST(count(DISTINCT wk) AS BIGINT) AS n_weeks
         |  FROM rk GROUP BY 1, 2),
         |top AS (
         |  SELECT event_type, dow AS top_dow, r2 AS top_r2, n_weeks
         |  FROM pd
         |  QUALIFY row_number() OVER (PARTITION BY event_type
         |    ORDER BY r2 DESC, dow) = 1),
         |ag AS (SELECT event_type, CAST(sum(r2 * r2) AS BIGINT) AS sr2sq
         |       FROM pd GROUP BY 1)
         |SELECT t.event_type, t.n_weeks,
         |  ${ratio4Sql("3 * ag.sr2sq - 1344 * t.n_weeks * t.n_weeks",
              "56 * t.n_weeks")} AS friedman_q4,
         |  t.top_dow,
         |  ${ratio4Sql("t.top_r2", "2 * t.n_weeks")} AS top_mean_rank4
         |FROM top t JOIN ag USING (event_type)
         |WHERE t.n_weeks > 0 ORDER BY t.event_type""".stripMargin)
  )

  /** The exact prefix-filter set-similarity join chain (sj-prefixed
    * CTE names so it composes beside the MH macros, whose `cand`/
    * `pairs` names it would otherwise shadow) — exposes
    * `sjpairs(d1, d2, shared, jaccard)`, the EXACT τ-Jaccard pair set
    * over the uncapped shingle sets. Expects `sh` in scope. Mirrors
    * DocDedup.prefixJoin; shared by the standalone query and the
    * MinHash-recall panel so the two can never drift. */
  private def SSJOIN_CTES: String = {
    val tau = graft.operators.DocDedup.PrefixTauPpm
    s"""sjdf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
       |         FROM sh GROUP BY 1),
       |sjszd AS (
       |  SELECT s.doc_id, s.shingle, d.df,
       |    CAST(row_number() OVER (PARTITION BY s.doc_id
       |      ORDER BY d.df, s.shingle) AS BIGINT) AS pos,
       |    CAST(count(*) OVER (PARTITION BY s.doc_id) AS BIGINT) AS n
       |  FROM sh s JOIN sjdf d USING (shingle)),
       |sjpref AS (
       |  SELECT doc_id, shingle, n FROM sjszd
       |  WHERE pos <= n - ((n * $tau + 999999) // 1000000) + 1),
       |sjcand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    a.n AS n1, b.n AS n2
       |  FROM sjpref a JOIN sjpref b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  WHERE a.n * $tau <= b.n * 1000000
       |    AND b.n * $tau <= a.n * 1000000),
       |sjov AS (
       |  SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS shared
       |  FROM sjcand c
       |  JOIN sh s1 ON s1.doc_id = c.d1
       |  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
       |  GROUP BY 1, 2),
       |sjpairs AS MATERIALIZED (
       |  SELECT c.d1, c.d2, ov.shared,
       |    c.n1 + c.n2 - ov.shared AS n_union,
       |    ov.shared / (c.n1 + c.n2 - ov.shared) AS jaccard
       |  FROM sjcand c JOIN sjov ov USING (d1, d2)
       |  WHERE ov.shared / (c.n1 + c.n2 - ov.shared) >= ${tau / 1000000.0})"""
      .stripMargin
  }

  /** The reliability-diagram decile substrate `g(decile, n_docs,
    * n_pos, ss4)` — shared by the raw calibration curve and the
    * isotonic fit so the two oracles can never disagree about the
    * binning. Mirrors Substrate.lexdec. */
  private def CAL_DECILE_CTES: String =
    s"""$LEX_CTES,
       |prior AS (SELECT ${halfUpSql("(CAST(sum(c_cur) AS BIGINT) + count(*)) * 10000",
                                     "CAST(sum(c_rest) AS BIGINT) + count(*)")} AS thr4
       |          FROM lex),
       |pdt AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
       |    CAST(sum(c * coalesce(aff4, thr4)) AS BIGINT) AS s4
       |  FROM pdt LEFT JOIN w USING (term) CROSS JOIN prior GROUP BY doc_id),
       |sc2 AS (SELECT doc_id,
       |          CAST(${halfUpSql("s4", "n_toks")} AS BIGINT) AS score4
       |        FROM sc),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc2),
       |rk AS (SELECT doc_id, score4,
       |         CAST(row_number() OVER (ORDER BY score4, doc_id) AS BIGINT)
       |           AS rn
       |       FROM sc2),
       |dd AS (SELECT doc_id, score4,
       |         CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS decile
       |       FROM rk CROSS JOIN nn),
       |lab AS (SELECT doc_id,
       |          CASE WHEN source IN $CUR_IN THEN 1 ELSE 0 END AS label
       |        FROM documents),
       |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(label) AS BIGINT) AS n_pos,
       |        CAST(sum(score4) AS BIGINT) AS ss4
       |      FROM dd JOIN lab USING (doc_id) GROUP BY 1)""".stripMargin

  /** u3-quantized (vec_id, label, dim, value) long grain over the
    * embedding table — the DuckDB twin of the engine's
    * `round(x·1000)::long` transform, shared by the spectral oracles. */
  private def EMB_U3_CTE: String =
    s"""embu3 AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    CAST(g.i - 1 AS BIGINT) AS i,
       |    CAST(ROUND(CAST(e[g.i] AS DOUBLE) * 1000.0) AS BIGINT) AS u3
       |  FROM (SELECT vec_id, label, embedding AS e FROM embeddings) v,
       |       generate_series(1, ${graft.operators.Similarity.Dim}) g(i))"""
      .stripMargin

  /** SQL list of [[graft.operators.QualityModels.CuratedSources]]. */
  private def CUR_IN: String =
    graft.operators.QualityModels.CuratedSources.map(s => s"'$s'").mkString("(", ", ", ")")

  /** DuckDB twin of QualityModels.clip4. */
  private def clipSql(x: String): String =
    s"LEAST(GREATEST($x, ${graft.operators.QualityModels.ClipLo4}), " +
      s"${graft.operators.QualityModels.ClipHi4})"

  /** The full training-mix CTE chain through `tmsurv` (survivor docs
    * with n_toks/score/importance) — tm-prefixed to avoid colliding
    * with the shared LEX/CONTAM macros (both claim `toks`); each block
    * mirrors its operator's standalone oracle verbatim. Shared by
    * pipeline_training_mix and mix_retention_report. */
  private def TM_CTES: String = {
    val mod = graft.operators.Curation.EvalMod
    s"""tmt AS (SELECT doc_id, source, $TOKS AS t FROM documents),
       |tms AS (
       |  SELECT doc_id, ${H64("shingle")} AS sh FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(t)-4),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS shingle
       |    FROM tmt WHERE len(t) >= 5)),
       |tmev AS (SELECT DISTINCT sh FROM tms WHERE doc_id % $mod = 0),
       |tmtr AS (SELECT * FROM tms WHERE doc_id % $mod <> 0),
       |tmn AS (SELECT doc_id, count(*) AS n_shingles FROM tmtr GROUP BY 1),
       |tmh AS (SELECT doc_id, count(*) AS n_contaminated FROM tmtr
       |        WHERE sh IN (SELECT sh FROM tmev) GROUP BY 1),
       |tmbad AS (
       |  SELECT tmn.doc_id FROM tmn JOIN tmh ON tmn.doc_id = tmh.doc_id
       |  WHERE ${ratio4Sql("n_contaminated", "n_shingles")}
       |        > ${graft.operators.Curation.MaxContamRatio}),
       |tmkeep AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id, ${H64("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} AS digest
       |    FROM documents
       |  ) GROUP BY digest),
       |tmtk AS (SELECT doc_id, source, unnest(t) AS term FROM tmt),
       |tmlex AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
       |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 0 ELSE 1 END) AS BIGINT) AS c_rest
       |  FROM tmtk GROUP BY term),
       |tmw AS (SELECT term,
       |          ${clipSql(halfUpSql("(c_cur + 1) * 10000", "c_rest + 1"))} AS aff4
       |        FROM tmlex),
       |tmprior AS (SELECT ${halfUpSql("(CAST(sum(c_cur) AS BIGINT) + count(*)) * 10000",
                                       "CAST(sum(c_rest) AS BIGINT) + count(*)")} AS thr4
       |            FROM tmlex),
       |tmpdt AS (SELECT doc_id, term, count(*) AS c FROM tmtk GROUP BY 1, 2),
       |tmsc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
       |    CAST(sum(c * aff4) AS BIGINT) AS s4, max(thr4) AS thr4
       |  FROM tmpdt JOIN tmw USING (term) CROSS JOIN tmprior GROUP BY doc_id),
       |tmscore AS (
       |  SELECT doc_id, n_toks, ${halfUpSql("s4", "n_toks")} / 10000.0 AS score
       |  FROM tmsc WHERE ${halfUpSql("s4", "n_toks")} >= thr4),
       |tmb AS (
       |  SELECT doc_id, source,
       |    ${H64("pair")} % ${graft.operators.QualityModels.DsirBuckets} AS bucket
       |  FROM (
       |    SELECT doc_id, source, unnest(list_transform(generate_series(1, len(t)-1),
       |      i -> concat_ws(' ', t[i], t[i+1]))) AS pair
       |    FROM tmt WHERE len(t) >= 2)),
       |tmbt AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 0 ELSE 1 END) AS BIGINT) AS cs
       |  FROM tmb GROUP BY 1),
       |tmwb AS (SELECT bucket, ${clipSql(halfUpSql("(ct + 1) * 10000", "cs + 1"))} AS w4
       |         FROM tmbt),
       |tmimp AS (
       |  SELECT doc_id,
       |    ${halfUpSql("CAST(sum(w4) AS BIGINT)", "CAST(count(*) AS BIGINT)")} / 10000.0
       |      AS importance
       |  FROM tmb JOIN tmwb USING (bucket) GROUP BY doc_id),
       |tmsurv AS (
       |  SELECT d.doc_id, d.source, s.n_toks, s.score, i.importance
       |  FROM documents d
       |  JOIN tmkeep k ON d.doc_id = k.doc_id
       |  JOIN tmscore s ON d.doc_id = s.doc_id
       |  JOIN tmimp i ON d.doc_id = i.doc_id
       |  WHERE d.doc_id % $mod <> 0
       |    AND d.doc_id NOT IN (SELECT doc_id FROM tmbad))""".stripMargin
  }

  /** Shared lexicon-training CTEs (tk token occurrences, lex class
    * counts, w clipped affinity4) — mirror QualityModels.lexiconTrain. */
  private def LEX_CTES: String =
    s"""toks AS (SELECT doc_id, source, $TOKS AS t FROM documents),
       |tk AS (SELECT doc_id, source, unnest(t) AS term FROM toks),
       |lex AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
       |    CAST(sum(CASE WHEN source IN $CUR_IN THEN 0 ELSE 1 END) AS BIGINT) AS c_rest
       |  FROM tk GROUP BY term),
       |w AS (SELECT term, c_cur, c_rest,
       |        ${clipSql(halfUpSql("(c_cur + 1) * 10000", "c_rest + 1"))} AS aff4
       |      FROM lex)""".stripMargin
}
