package graft.operators

import graft.SparkSpec
import graft.functions.Hashing
import org.apache.spark.sql.functions._

/** Pins the behavior of the canonical hasher on degenerate inputs —
  * the reference logs-and-skips malformed property bags
  * (cacheBuilding.ts getDigests); our digest treats them as empty. */
class NullRobustnessSpec extends SparkSpec {

  test("malformed or null props canonicalize to the empty bag") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"k": 1}"""),
      (2L, """not json"""),
      (3L, null.asInstanceOf[String]),
      (4L, """{}""")
    ).toDF("id", "props")
      .withColumn("canon", Hashing.canonicalProps(col("props"), Nil))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) === "k=1")
    assert(m(2L) === "")   // unparseable → empty bag, row still hashable
    assert(m(3L) === "")
    assert(m(4L) === "")
  }

  test("digest is non-null for every degenerate row") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.0, """{"k":1}"""), (2L, "b", 0.0, null.asInstanceOf[String]))
      .toDF("user_id", "event_type", "value", "props")
      .withColumn("digest",
        Hashing.eventDigest(col("user_id"), col("event_type"), col("value"), col("props")))
    assert(df.filter(col("digest").isNull).count() === 0)
  }

  test("curation operators tolerate null/empty/whitespace documents") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nulldocs").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "srcA", 35L),
      (1L, null.asInstanceOf[String], "en", "srcA", 0L),
      (2L, "", "en", "srcB", 0L),
      (3L, "   \t  ", "en", "srcB", 6L),
      (21L, "alpha beta gamma delta epsilon zeta", "en", "srcB", 35L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // token-less docs contribute nothing; nothing throws
    val contam = Curation.contamination(spark, dir).collect()
    assert(contam.map(_.getLong(0)).toSet == Set(21L)) // doc 0 is the eval split
    assert(Curation.bpePairCounts(spark, dir).collect()
      .forall(_.getString(0).trim.nonEmpty))
    assert(Curation.invertedIndex(spark, dir).collect()
      .map(_.getString(0)).toSet == Set("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    // sampling keys on doc_id/source (never the text) → all docs eligible
    assert(Curation.stratifiedSample(spark, dir, target = 10).count() === 5)
    // weighted sampling keeps w=1 rows, drops w=0 rows deterministically
    val kept = Curation.weightedSample(spark, dir, fullAt = 30).collect().map(_.getLong(1)).toSet
    assert(Set(0L, 21L).subsetOf(kept) && !kept.contains(1L) && !kept.contains(2L))
    // round-4 operators: token-less docs drop out, nothing throws and
    // no division hits a zero denominator
    assert(QualitySignals.repetition(spark, dir).collect()
      .map(_.getLong(0)).toSet == Set(0L, 21L))
    assert(QualitySignals.novelty(spark, dir).collect()
      .map(_.getLong(0)).toSet == Set(0L, 21L))
    assert(DocDedup.chunkDedup(spark, dir, w = 3).collect()
      .forall(r => r.getLong(0) == 21L)) // only the exact copy defers
    assert(QualitySignals.sourceLengthStats(spark, dir).count() === 2)
  }

  test("model operators tolerate null/empty/whitespace documents") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullmodels").toString
    Seq(
      (0L, "alpha beta gamma delta", "en", "src0", 22L), // curated source
      (1L, null.asInstanceOf[String], "en", "src0", 0L),
      (2L, "", "en", "srcB", 0L),
      (3L, "   \t  ", "en", "srcB", 6L),
      (4L, "single", "en", "srcB", 6L), // 1 token: scored, no bigrams
      (5L, "alpha beta gamma delta", "de", "srcB", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // token-less docs drop out of every model op; no zero denominators
    assert(QualityModels.lexiconScore(spark, dir).collect()
      .map(_.getLong(0)).toSet == Set(0L, 4L, 5L))
    assert(QualityModels.lmFluency(spark, dir).collect()
      .map(_.getLong(0)).toSet == Set(0L, 5L)) // ≥2 tokens only
    assert(QualityModels.dsirWeights(spark, dir).collect()
      .map(_.getLong(0)).toSet == Set(0L, 5L))
    assert(QualitySignals.lexicalDiversity(spark, dir).collect()
      .map(_.getLong(0)).toSet == Set(0L, 4L, 5L))
    // the flagship pipeline composes those gates without throwing
    assert(Pipeline.mixRetention(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap == Map("src0" -> 2L, "srcB" -> 4L))
  }

  test("round-8 doc panels tolerate null/empty/whitespace documents") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullw2").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "srcA", 30L),
      (1L, null.asInstanceOf[String], "en", "srcA", 0L),
      (2L, "", "en", "srcB", 0L),
      (3L, "   \t  ", "en", "srcB", 6L),
      (4L, "alpha beta gamma delta epsilon", "en", "srcB", 30L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // sorted neighborhood: token-less docs can never reach τ — only the
    // twin pair emits, at exactly 1.0
    val sn = Blocking.sortedNeighborhood(spark, dir).collect()
    assert(sn.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq ==
      Seq((0L, 4L, 1.0)))
    // span coverage: null text counts as an EMPTY doc (never −1 tokens);
    // the twins are fully covered, everyone else band 0
    val cov = Spans.dupSpanCoverage(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(cov(("srcA", 0L)) == (1L, 0L) && cov(("srcA", 10L)) == (1L, 5L))
    assert(cov(("srcB", 0L)) == (2L, 0L) && cov(("srcB", 10L)) == (1L, 5L))
    // simpson: sources aggregate over token-bearing docs, no zero division
    assert(CorpusStats.sourceSimpson(spark, dir).collect()
      .forall(r => r.getLong(1) == 5L))
    // dataset card: 5 docs, 10 total tokens (null/empty count 0), three
    // short docs; every doc (stopword-free, empty, whitespace AND null
    // text) votes 'und' — a null token array classifies like an empty
    // doc, never falling through the vote to a real language
    val card = DatasetCard.card(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(card("n_docs").getLong(1) == 5L)
    assert(card("n_tokens").getLong(1) == 10L)
    assert(card("short_share4").getDouble(2) == 1.0) // every doc < 32 toks
    assert(card("mean_tokens4").getDouble(2) == 2.0)
    assert(card("n_langs_pred").getLong(1) == 1L) // und only
    // the vote itself is pinned: null toks ≡ empty toks ≡ no-stopword
    val votes = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "the of and is"))
      .toDF("id", "text")
      .select(col("id"),
        TextAnalysis.predLangCol(TextAnalysis.tokens(col("text"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(votes == Map(1L -> "und", 2L -> "und", 3L -> "en"))
    // triangle census: a two-node graph has no triangles and coeff 0
    val tri = MinHashLSH.graphTriangles(spark, dir).collect()
    assert(tri.length == 2 && tri.forall(r =>
      r.getLong(2) == 0L && r.getDouble(3) == 0.0))
  }

  test("chain dedup of an empty stream is empty, of one row is that row") {
    import spark.implicits._
    val schema = Seq((0L, 0L, 0L, "x", 0.0, "{}", 7L))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props", "digest")
    assert(Dedup.chainNative(schema.limit(0)).count() === 0)
    assert(Dedup.chainNative(schema).count() === 1)
  }
}
