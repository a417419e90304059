package graft.operators

import graft.Partitioning._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM-data pipeline over `documents`.
  * All expression-only (whole-stage codegen; no UDFs) and reproducible
  * bit-for-bit in the DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text (empty tokens dropped). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Explicit whitespace CLASS (Java regex `\s` set, spelled out) for
    * every single-class regex that must reproduce in the DuckDB oracle:
    * Java's `\s` includes U+000B but RE2's Perl `\s` does not, so a
    * bare `\s` is parity-by-data-luck, not by construction. The token
    * SPLIT above keeps `\s+` deliberately — the tokenizer semantics are
    * owned Spark-side and shared with the fused shingle expressions. */
  val WsClass = " \\t\\n\\x0B\\f\\r"

  /** English-ish stopword profile used by quality + language-id. */
  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist")
  val StopEs: Seq[String] = Seq("el", "la", "de", "y", "es")
  val StopFr: Seq[String] = Seq("le", "les", "de", "et", "est")
  val StopZh: Seq[String] = Seq("的", "是", "不")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  // ---- column-level forms (compose over ANY (doc_id, text) frame; the
  // ---- dir-based operators below and api.DocPipeline share these) ----

  /** Exact integer quality key in 1e-4 units — the length (0.4·min(n/
    * 100,1)), stopword (0.4·(1−stop/n)) and token-shape (0.2·min(len/
    * (8n),1)) blend with every rational term HALF_UP-rounded in int64
    * (halfUpDiv). THE quality definition: scoring, gating and canonical
    * selection all read it, and because it is pure integer arithmetic
    * the score — and every threshold compare and argmax over it — is
    * bit-identical on any engine (ROUND over the double blend was only
    * parity-by-luck, the events_gap_stats hazard class). */
  def qualityKeyCol(nToks: Column, nStop: Column, lenNoWs: Column): Column = {
    import graft.functions.Hashing.halfUpDiv
    least(nToks * 40L, lit(4000L)) +
      (lit(4000L) - halfUpDiv(nStop * 4000L, nToks)) +
      least(halfUpDiv(lenNoWs * 250L, nToks), lit(2000L))
  }

  /** The full quality key straight from a text column — ONE spelling
    * of the key's inputs (tokens, StopEn count, whitespace-free
    * length) for every consumer: scoring, canonical selection, and
    * the gate-threshold histogram. */
  def qualityKeyFromText(text: Column): Column = {
    val toks = tokens(text)
    qualityKeyCol(size(toks).cast("long"), countIn(toks, StopEn),
      length(regexp_replace(text, s"[$WsClass]", "")).cast("long"))
  }

  /** Composite quality score in [0,1] (the key scaled to a double) —
    * identical arithmetic to `quality` (and the oracle). */
  def qualityScoreCol(toks: Column, lenNoWs: Column): Column =
    qualityKeyCol(size(toks).cast("long"), countIn(toks, StopEn),
      lenNoWs.cast("long")) / lit(10000.0)

  /** Deterministic-argmax language id — identical to `languageId`. */
  def predLangCol(toks: Column): Column = {
    val n_en = countIn(toks, StopEn); val n_de = countIn(toks, StopDe)
    val n_es = countIn(toks, StopEs); val n_fr = countIn(toks, StopFr)
    val n_zh = countIn(toks, StopZh)
    val top = greatest(n_en, n_de, n_es, n_fr, n_zh)
    // NULL toks (null text) must classify like an empty doc, not fall
    // through the when-chain to the 'zh' otherwise-branch
    when(top.isNull || top === 0, "und")
      .when(n_en === top, "en")
      .when(n_de === top, "de")
      .when(n_es === top, "es")
      .when(n_fr === top, "fr")
      .otherwise("zh")
  }

  /** #188 `docs_lang_confusion`: labeled-vs-predicted language
    * confusion matrix — the eval panel for the language-ID heuristic
    * itself, using the corpus's own `lang` labels as ground truth.
    * Per (label, prediction) cell: docs, the cell's share of the
    * label's row (ratio4 — row-normalized recall view: the diagonal
    * cell's share IS per-label recall), and the diagonal flag. A
    * lang-id gate is usually the FIRST corpus filter; this is the
    * number that says how much real data it throws away per language
    * and what it mislabels it as. One narrow corpus scan to an
    * O(langs²) cell aggregate (partial map-side); row totals are an
    * O(cells) rollup of the checkpointed cells, broadcast back. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val cells = Tables.documents(spark, dir).select("lang", "text").spread
      .select(col("lang"), predLangCol(tokens(col("text"))).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val tot = cells.groupBy("lang").agg(sum("n_docs").as("nl"))
    cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        ratio4(col("n_docs"), col("nl")).as("label_share"),
        (col("lang") === col("pred_lang")).as("correct"))
      .orderBy("lang", "pred_lang")
  }

  /** Rolling polynomial fingerprint — identical to `fingerprint`.
    * Fused kernel (plans.FingerprintHash): the former
    * aggregate(transform(...)) spelling ran md5 → hex → Conv radix
    * parse INTERPRETED per token; the kernel digests bytes in one
    * compiled pass, bit-identical (Round15KernelsSpec). */
  def fingerprintCol(text: Column): Column =
    graft.plans.TextExpressions.fingerprintHash(text)

  /** Character-class profile per document: counts and ratios of
    * uppercase / lowercase / digit / whitespace characters — the
    * C4-style "is this prose or a table dump?" signals. Counts are
    * length minus length-after-removal with ASCII-exact classes (and
    * the `\s` class whose cross-engine parity the quality oracle
    * already proves); ratios ride the ratio4 discipline. Pure per-row
    * expressions — no shuffle, codegen end to end. */
  def charStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val n = length(col("text")).cast("long")
    def cnt(cls: String) =
      n - length(regexp_replace(col("text"), cls, "")).cast("long")
    val denom = greatest(n, lit(1L))
    Tables.documents(spark, dir).select(
      col("doc_id"), n.as("n_chars"),
      cnt("[A-Z]").as("n_upper"), cnt("[a-z]").as("n_lower"),
      cnt("[0-9]").as("n_digit"), cnt(s"[$WsClass]").as("n_space"),
      ratio4(cnt("[A-Z]"), denom).as("upper_ratio"),
      ratio4(cnt("[0-9]"), denom).as("digit_ratio"),
      ratio4(cnt(s"[$WsClass]"), denom).as("space_ratio")
    ).orderBy("doc_id")
  }

  /** RAKE candidate-phrase length cap (longer stopword-free runs are
    * run-ons, not keyphrases) and the per-source report depth. */
  val RakeMaxLen = 4
  val RakeTopK = 5

  /** `text_keyphrases_rake`: RAKE keyword extraction (Rose et al.) in
    * fixed-point — candidate phrases are the maximal stopword-free
    * token runs (length ≤ [[RakeMaxLen]]); each word scores
    * deg/freq (deg = Σ length of the phrases its occurrences sit in,
    * freq = occurrence count) and a phrase scores the sum of its
    * words' scores. The published method sums float ratios; here each
    * word score is the exact HALF_UP rational ×10⁴ and the phrase
    * score a pure int64 sum — same ranking, engine-exact ties
    * (documented fixed-point RAKE, not an approximation of it). Word
    * statistics and phrases are PER SOURCE: the panel reports each
    * feed's top-[[RakeTopK]] keyphrases, the "what is this source
    * about" summary a mixture designer reads.
    *
    * Shape: positions/flags/islands are expression + one per-doc
    * window (prefix count of stopwords — the island idiom); phrase
    * assembly and both stat frames are partial-aggregable shuffles;
    * the top-K window runs per source over the distinct-phrase
    * aggregate. */
  def rakeKeyphrases(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.halfUpDiv
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        tokens(lower(col("text"))).as("t")).spread
      .select(col("doc_id"), col("source"),
        posexplode(col("t")).as(Seq("pos0", "tok")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos0")
    val phr = base
      .withColumn("is_stop", col("tok").isin(StopEn: _*))
      .withColumn("island",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
      .groupBy("doc_id", "source", "island")
      .agg(sort_array(collect_list(struct(col("pos0"), col("tok")))).as("pw"))
      .withColumn("words", expr("transform(pw, x -> x.tok)"))
      .withColumn("len", size(col("words")).cast("long"))
      .filter(col("len") <= RakeMaxLen)
      .withColumn("phrase", concat_ws(" ", col("words")))
    val wordScore = phr
      .select(col("source"), col("len"), explode(col("words")).as("w"))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("source"), col("w"),
        halfUpDiv(col("deg") * lit(10000L), col("freq")).as("wscore"))
    val scored = phr.groupBy("source", "phrase")
      .agg(count(lit(1)).as("n_occ"))
      // rebuild the word list from the phrase text itself — identical
      // for every instance, so no order-sensitive first() is needed
      .select(col("source"), col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, Seq("source", "w"))
      .groupBy("source", "phrase", "n_occ")
      .agg(sum(col("wscore")).as("score_u4"))
    val wTop = Window.partitionBy("source")
      .orderBy(col("score_u4").desc, col("phrase"))
    scored
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= RakeTopK)
      .select(col("source"), col("rank"), col("phrase"), col("n_occ"),
        col("score_u4"), (col("score_u4") / lit(10000.0)).as("score"))
      .orderBy("source", "rank")
  }

  /** Character class whose density separates code from prose: the
    * structural punctuation programming languages lean on and running
    * text mostly doesn't. Shared verbatim with the DuckDB oracle. */
  val CodeSymbolClass = ";{}()\\[\\]<>=#&|"

  /** `text_code_detect`: code-vs-prose screening histogram — per
    * source, documents banded by code-symbol density (the
    * [[CodeSymbolClass]] share of characters, in exact HALF_UP ppm;
    * band = ppm div 1000, i.e. 0.1% steps). The triage a mixed web
    * crawl runs before routing documents to a code or a prose
    * pipeline: prose sits in the bottom bands, config/code/markup
    * pushes into the tail, and the per-source share curve shows which
    * feeds carry it. Density is a pure int64 rational — no float
    * thresholds.
    *
    * Shape: per-doc signals are expression-only over the document
    * scan; ONE partial-aggregable (source, band) shuffle; the
    * per-source share divides by a window total over the O(sources ×
    * bands) aggregate frame (≤ 1001 bands by construction). */
  def codeDetect(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.{halfUpDiv, ratio4}
    import org.apache.spark.sql.expressions.Window
    val n = length(col("text")).cast("long")
    val nCode =
      n - length(regexp_replace(col("text"), s"[$CodeSymbolClass]", ""))
        .cast("long")
    val banded = Tables.documents(spark, dir)
      .select(col("source"),
        halfUpDiv(nCode * lit(1000000L), greatest(n, lit(1L))).as("code_ppm"))
      .select(col("source"), expr("code_ppm div 1000").as("band"),
        col("code_ppm"))
      .groupBy("source", "band")
      .agg(count(lit(1)).as("n_docs"), max(col("code_ppm")).as("max_ppm"))
    banded
      .withColumn("tot",
        sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("band"), col("n_docs"), col("max_ppm"),
        ratio4(col("n_docs"), greatest(col("tot"), lit(1L))).as("share4"))
      .orderBy("source", "band")
  }

  /** #14: token counting — whitespace tokens, word/number regex tokens,
    * and a BPE-ish length/4 estimate. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).cast("long").as("n_word_tokens"),
      size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_num_tokens"),
      ceil(length(col("text")) / 4.0).cast("long").as("est_bpe_tokens")
    ).orderBy("doc_id")
  }

  /** #15: quality scoring — length, stopword ratio, mean token length →
    * composite score in [0,1]. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_stop", countIn(col("toks"), StopEn))
      .withColumn("len_no_ws",
        length(regexp_replace(col("text"), s"[$WsClass]", "")).cast("long"))
    docs.select(
      col("doc_id"), col("n_toks"), col("n_stop"),
      graft.functions.Hashing.ratio4(col("len_no_ws"), col("n_toks")).as("mean_tok_len"),
      graft.functions.Hashing.ratio4(col("n_stop"), col("n_toks")).as("stop_ratio"),
      (qualityKeyCol(col("n_toks"), col("n_stop"), col("len_no_ws")) / lit(10000.0))
        .as("quality_score")
    ).orderBy("doc_id")
  }

  /** #16: language-id via stopword profiles with deterministic argmax
    * (priority en > de > es > fr > zh; all-zero → 'und'). */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_en", countIn(col("toks"), StopEn))
      .withColumn("n_de", countIn(col("toks"), StopDe))
      .withColumn("n_es", countIn(col("toks"), StopEs))
      .withColumn("n_fr", countIn(col("toks"), StopFr))
      .withColumn("n_zh", countIn(col("toks"), StopZh))
    val top = greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr"), col("n_zh"))
    docs.select(
      col("doc_id"), col("n_en"), col("n_de"), col("n_es"), col("n_fr"), col("n_zh"),
      when(top === 0, "und")
        .when(col("n_en") === top, "en")
        .when(col("n_de") === top, "de")
        .when(col("n_es") === top, "es")
        .when(col("n_fr") === top, "fr")
        .otherwise("zh").as("pred_lang")
    ).orderBy("doc_id")
  }

  /** PII/URL scrubbing — the redaction pass every training-data
    * pipeline runs before tokenization: emails, URLs and long digit
    * runs (phone/account numbers) are replaced with typed placeholder
    * tokens, with per-doc hit counts for audit. Pure regex expressions
    * (codegen'd, oracle-reproducible; DuckDB needs the 'g' flag for
    * replace-all parity). */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlRe = s"https?://[^$WsClass]+"
  val LongDigitsRe = "[0-9]{7,}"

  /** The redacted text itself (URL → EMAIL → NUM order). */
  def scrubbedText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      LongDigitsRe, "<NUM>")

  def scrub(spark: SparkSession, dir: String): DataFrame =
    scrubOf(Tables.documents(spark, dir))

  /** Same over an arbitrary (doc_id, text) frame. */
  def scrubOf(docs: DataFrame): DataFrame = {
    val scrubbed = scrubbedText(col("text"))
    // DSL (not expr) so the regexes bypass SQL string-literal escaping
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(LongDigitsRe), lit(0))).cast("long").as("n_long_nums"),
      graft.functions.Hashing.h64(scrubbed).as("scrubbed_digest")
    ).orderBy("doc_id")
  }

  /** #192 `docs_pii_prevalence`: the per-SOURCE privacy audit over the
    * scrub patterns — before a corpus trains anything, which feeds are
    * how contaminated with emails / URLs / long digit runs, and how
    * widely (docs affected vs total occurrence mass — one viral pasted
    * dump vs endemic presence read differently)? Per source: docs,
    * docs containing ≥1 hit per class, total hits per class, and
    * ratio4 affected-doc shares. The redaction pass (#65 text_scrub)
    * says WHAT was removed per doc; this panel says WHERE the exposure
    * concentrates, which is what decides per-source policy (drop the
    * feed vs trust the scrub).
    *
    * Shape: one narrow scan (three codegen'd regex counts per row) into
    * one O(sources) partial-aggregable shuffle — the panel costs the
    * same as any per-source rollup at any corpus size. */
  def piiPrevalence(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("u"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(col("text"), lit(LongDigitsRe), lit(0))).cast("long").as("d"))
      .spread
    per.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("u") > 0L, 1L).otherwise(0L)).as("docs_url"),
        sum(when(col("e") > 0L, 1L).otherwise(0L)).as("docs_email"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("docs_long_num"),
        sum("u").as("n_urls"),
        sum("e").as("n_emails"),
        sum("d").as("n_long_nums"))
      .select(col("source"), col("n_docs"),
        col("docs_url"), col("docs_email"), col("docs_long_num"),
        col("n_urls"), col("n_emails"), col("n_long_nums"),
        ratio4(col("docs_url"), col("n_docs")).as("url_doc_share"),
        ratio4(col("docs_email"), col("n_docs")).as("email_doc_share"),
        ratio4(col("docs_long_num"), col("n_docs")).as("num_doc_share"))
      .orderBy("source")
  }

  /** TF-IDF top terms per document. The idf is the rational N/df (no
    * log) so scores are exact integer ratios in double precision —
    * deterministic across engines; ranking is what matters.
    *
    * One tokenization pass: tf is the only corpus-grain aggregate, and
    * both df (documents containing a term = tf rows per term — the tf
    * grain IS (doc, term)-distinct) and N derive from the checkpointed
    * tf frame as plain partial-aggregable counts. The naive form paid
    * three tokenize+explode passes and a (term, doc_id)
    * distinct-shuffle for df; at sf1 the vocabulary grows Heaps-style
    * on top of the 10× rows, so those redundant passes dominated
    * (9.2× scale ratio — the registry's worst). */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select("doc_id", "text")
      .spread
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .checkpointSer
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct("doc_id").as("n"))
    val score = (col("tf") * col("n")).cast("double") / col("df")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "term", "score")
      .orderBy("doc_id", "rnk")
  }

  /** #17: document fingerprint — order-sensitive polynomial rolling hash
    * over per-token md5-derived values, mod 1e9+7. Same fold in DuckDB
    * (list_reduce), so near-identical docs with reordered tokens get
    * different fingerprints while byte-identical content collides. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      fingerprintCol(col("text")).as("fingerprint")
    ).orderBy("doc_id")

  /** Sentence-level readability profile per document: sentence count
    * (terminator runs — consecutive [.!?] collapse to one boundary),
    * word count, and ratio4 words-per-sentence — the cheap C4-style
    * "is this prose?" signal. Pure per-row regex counting, no
    * shuffle; documents with no terminator count as one sentence.
    *
    * Terminator-RUN count below: (length with each [.!?]+ run as one
    * char) minus (length with runs removed) = number of runs.
    * Column-level so the spec can probe it on a controlled fixture. */
  def sentenceRuns(text: Column): Column =
    (length(regexp_replace(text, "[.!?]+", "x")) -
      length(regexp_replace(text, "[.!?]+", ""))).cast("long")

  def readability(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val runs = sentenceRuns(col("text"))
    val words = size(tokens(col("text"))).cast("long")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      words.as("n_words"),
      greatest(runs, lit(1L)).as("n_sentences"),
      ratio4(words, greatest(runs, lit(1L))).as("words_per_sentence")
    ).orderBy("doc_id")
  }
}
