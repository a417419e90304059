package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 panels: graph-index health, cross-language dup matrix,
  * token-count Gini — each checked against an independent in-memory
  * model or a set-algebra identity over the operator it summarizes. */
class Round9PanelsSpec extends SparkSpec {

  test("graphDegreeStats reconciles with the shared edge list; degree ≤ 2M") {
    val edges = graft.Substrate.edges(spark, sf)
    val stats = Similarity.graphDegreeStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Σ degree·n_nodes == |edges|, Σ n_nodes == |nodes with out-edges|
    assert(stats.map(t => t._1 * t._2).sum == edges.count())
    assert(stats.map(_._2).sum ==
      edges.select("src").distinct().count())
    // symmetrized top-M keeps out-degree ≤ 2M; ring guarantees ≥ 1
    assert(stats.forall(t => t._1 >= 1 && t._1 <= 2L * Similarity.GraphM))
    // mean cosine is a valid micro-lifted cosine
    assert(stats.forall(t => t._3 >= -1000000L && t._3 <= 1000000L))
  }

  test("crossLangDup rolls up exactly the verified near-dup pair set") {
    val pairs = MinHashLSH.nearDupPairs(spark, sf)
    val m = MinHashLSH.crossLangDup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(m.map(_._3).sum == pairs.count())
    // unordered pair canonicalization: lang_a <= lang_b, no dup cells
    assert(m.forall(t => t._1 <= t._2))
    assert(m.map(t => (t._1, t._2)).distinct.length == m.length)
    // shares are ratio4 of the total and sum to ~1
    val tot = m.map(_._3).sum.toDouble
    m.foreach(t => assert(math.abs(t._4 - t._3 / tot) <= 1e-4 + 1e-12))
  }

  test("pqErrorStats is a complete per-subspace census with sane bounds") {
    val n = graft.Tables.embeddings(spark, sf).count()
    val rows = Similarity.pqErrorStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == (0L until Similarity.PqSubspaces.toLong))
    rows.foreach { case (_, nVecs, cells, topShare, mean, mx) =>
      assert(nVecs == n)                        // every vector encoded
      assert(cells >= 1 && cells <= Similarity.PqCodebook)
      assert(topShare * 10000 >= (10000.0 / Similarity.PqCodebook).floor)
      assert(mean >= 0 && mean <= mx)           // squared error, HALF_UP mean
    }
  }

  test("dedupCascade funnel equals an independently computed greedy cascade") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    // stage 1: keep-min per text (null texts all survive)
    val s1 = docs.groupBy(_._2).toSeq.flatMap {
      case (None, xs) => xs.map(_._1).toSeq
      case (Some(_), xs) => Seq(xs.map(_._1).min)
    }.toSet
    def greedy(prev: Set[Long], pairs: Array[(Long, Long)]): Set[Long] =
      prev -- pairs.collect {
        case (d1, d2) if prev(d1) && prev(d2) => d2 }
    val mh = MinHashLSH.nearDupPairs(spark, sf).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val s2 = greedy(s1, mh)
    val ct = DocDedup.containmentPairs(spark, sf).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val s3 = greedy(s2, ct)
    val got = graft.operators.Curation.dedupCascade(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "exact", docs.length.toLong, docs.length - s1.size.toLong, s1.size.toLong),
      (2L, "near_dup", s1.size.toLong, s1.size - s2.size.toLong, s2.size.toLong),
      (3L, "containment", s2.size.toLong, s2.size - s3.size.toLong, s3.size.toLong)))
    // the funnel actually funnels on this corpus
    assert(s3.size < docs.length)
  }

  test("tokenGini matches hand-computed values on a fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gini").toString
    val doc = (id: Long, src: String, n: Int) =>
      (id, ("tok " * n).trim, "en", src, n.toLong)
    (Seq(
      // equal lengths -> gini 0
      doc(1, "flat", 5), doc(2, "flat", 5), doc(3, "flat", 5),
      // one giant among stubs: x=(0,0,0,10) -> G=(2*40-5*10)/(4*10)=0.75
      (4L, null.asInstanceOf[String], "en", "spike", 0L),
      (5L, "", "en", "spike", 0L),
      (6L, "   ", "en", "spike", 3L),
      doc(7, "spike", 10),
      // all-empty source -> NULL gini (no tokens)
      (8L, "", "en", "void", 0L))
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = CorpusStats.tokenGini(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    assert(got("flat") == ((3L, 15L, Some(0.0))))
    assert(got("spike") == ((4L, 10L, Some(0.75))))
    assert(got("void") == ((1L, 0L, None)))
  }
}
