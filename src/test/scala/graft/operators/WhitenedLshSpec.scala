package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The whitened-hyperplane LSH variant — the MEASURED consumer of the
  * ZCA whitening transform (#293). Whitening's pitch is "correlated
  * dimensions waste hyperplanes"; this suite pins what that buys on a
  * real corpus at two scales: more even bucket occupancy (the max
  * band-0 bucket never exceeds the unwhitened one) at recall within a
  * tight band of plain LSH. On this near-isotropic synthetic corpus
  * whitening does NOT lift recall — the panel measures the claim
  * rather than assuming it, and the balance win is the part that
  * survives measurement (smaller hot buckets = lower per-query
  * candidate cost at equal recall). */
class WhitenedLshSpec extends SparkSpec {

  private val scales = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("whitened buckets never have a hotter band-0 bucket than plain LSH") {
    scales.foreach { dir =>
      val n = graft.Tables.embeddings(spark, dir).count()
      val ppb = Similarity.planesPerBandFor(n)
      def maxBucket(b: org.apache.spark.sql.DataFrame): Long =
        b.filter(col("band") === 0).groupBy("bucket").count()
          .agg(max("count")).collect().head.getLong(0)
      val plain = maxBucket(Similarity.buckets(spark, dir, 2 * ppb, ppb))
      val white = maxBucket(Similarity.whitenedBuckets(spark, dir, 2 * ppb, ppb))
      info(s"$dir max band-0 bucket: plain=$plain whitened=$white")
      assert(white <= plain,
        s"$dir: whitening made the hot bucket HOTTER ($white > $plain)")
    }
  }

  test("whitened recall stays within 5 hits of plain LSH at two scales") {
    scales.foreach { dir =>
      val brute = graft.Substrate.brute(spark, dir)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def hits(df: org.apache.spark.sql.DataFrame): Int =
        df.select("q_id", "vec_id").collect()
          .count(r => brute((r.getLong(0), r.getLong(1))))
      val p = hits(Similarity.lshTopK(spark, dir))
      val w = hits(Similarity.whitenedLshTopK(spark, dir))
      info(s"$dir recall hits: plain=$p whitened=$w (of ${brute.size})")
      assert(w >= p - 5, s"$dir: whitened recall collapsed ($w vs $p)")
    }
  }

  test("whitened top-k ranks by exact original-space cosine") {
    val got = Similarity.whitenedLshTopK(spark, sf).collect()
    assert(got.length === Similarity.TopK * Similarity.NumQueries)
    // per query: ranks are 1..k, cosines non-increasing, and the
    // reported cosine IS the exact original-space cosine
    val e = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to Similarity.TopK).toSeq)
      sorted.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0).getDouble(3) >= w(1).getDouble(3), s"q=$q")
      }
      sorted.foreach { r =>
        assert(r.getDouble(3) === cos(e(q), e(r.getLong(2))), s"q=$q cosine")
      }
    }
  }

  test("recall report carries the whitened row next to the plain one") {
    val rows = Similarity.recallReport(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.contains("ann_lsh_whitened"))
    assert(rows.contains("ann_lsh_topk"))
    assert(rows("ann_lsh_whitened") >= rows("ann_lsh_topk") - 5)
  }
}
