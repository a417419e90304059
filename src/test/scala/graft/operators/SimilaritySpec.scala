package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("planesPerBandFor keeps expected LSH bucket size scale-invariant") {
    import Similarity.{planesPerBandFor, PlanesPerBand, TargetBucket}
    // agreement anchors (incl. the test SFs and the 1e9-vector corpus)
    assert(planesPerBandFor(500) === 4)    // sf0.001 / sf0.01 — the floor
    assert(planesPerBandFor(2000) === 5)   // sf0.1
    assert(planesPerBandFor(4096) === 6)
    assert(planesPerBandFor(20000) === 9)  // ≈sf1 replica
    assert(planesPerBandFor(1000000000L) === 24)
    // beyond the floor: N/2^p ≤ target, and p is the SMALLEST such
    // width (one fewer plane would overflow the target) — i.e. the
    // expected bucket population neither grows with N nor wastes
    // bucket space
    for (e <- 2 to 40) {
      val n = 1L << e
      val p = planesPerBandFor(n)
      assert(n.toDouble / math.pow(2, p) <= TargetBucket, s"n=$n p=$p too coarse")
      if (p > PlanesPerBand)
        assert(n.toDouble / math.pow(2, p - 1) > TargetBucket, s"n=$n p=$p too fine")
    }
  }

  test("minhash candidates are a subset of true jaccard pairs at the same tau") {
    val lsh = MinHashLSH.nearDupPairs(spark, sf, tau = 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DocDedup.ngramJaccard(spark, sf, tau = 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty)
  }

  test("minhashQuality agrees with the near-dup pass and bounds its estimate") {
    val q = MinHashLSH.minhashQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(q.nonEmpty)
    // estimate stays in [0, 1] with k-quantized agreement counts
    q.values.foreach { case (agree, est, jac) =>
      assert(agree >= 0 && agree <= MinHashLSH.NumSeeds)
      assert(est >= 0.0 && est <= 1.0)
      assert(jac > 0.0 && jac <= 1.0)
    }
    // the verified near-dup pairs are exactly the quality rows with
    // true jaccard >= tau, with the SAME jaccard values
    val pairs = MinHashLSH.nearDupPairs(spark, sf, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(q.filter(_._2._3 >= 0.5).view.mapValues(_._3).toMap == pairs)
  }

  test("thresholdCurve matches an exact integer-band reverse-cumulative model") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val cand = MinHashLSH.lshCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sh = DocDedup.docShingles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bands = cand.flatMap { case (d1, d2) =>
      for {
        a <- sh.get(d1); b <- sh.get(d2)
        shared = (a & b).size.toLong if shared > 0
      } yield (d1, d2, shared * 20L / (a.size.toLong + b.size.toLong - shared))
    }
    val hist = bands.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val dmHist = bands.flatMap(t => Seq(t._1 -> t._3, t._2 -> t._3))
      .groupBy(_._1).values.map(_.map(_._2).max)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val model = hist.keys.toSeq.sorted.map { k =>
      (k, k * 500L, hist(k),
        hist.filter(_._1 >= k).values.sum,
        dmHist.filter(_._1 >= k).values.sum)
    }
    val got = MinHashLSH.thresholdCurve(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == model)
    // survivors only shrink as tau rises
    assert(got.map(_._4) == got.map(_._4).sortBy(-_))
    assert(got.map(_._5) == got.map(_._5).sortBy(-_))
  }

  test("normAudit matches a micro-unit model and catches planted defects") {
    import spark.implicits._
    def hu(a: Long, b: Long) = (a + b / 2) / b
    def u6(v: Seq[Float]): Long =
      hu(v.map(x => math.round(x.toDouble * 1000000.0)).map(q => q * q).sum,
        1000000L)
    val rows = graft.Tables.embeddings(spark, sf)
      .collect().map(r =>
        (r.getInt(2).toLong, r.getSeq[Float](1).toIndexedSeq))
    val model = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, g) =>
      val ns = g.map(t => u6(t._2))
      (l, g.length.toLong, 0L, 0L, ns.count(_ == 0L).toLong,
        ns.min, ns.max, hu(ns.sum, g.length.toLong))
    }
    val got = Similarity.normAudit(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got == model)
    // planted defects: a null vector, a wrong-dim vector, a zero vector
    val bad = Seq(
      (1L, Some(Seq.fill(Similarity.Dim)(0.5f))),
      (1L, None),
      (1L, Some(Seq(1.0f, 2.0f))),
      (1L, Some(Seq.fill(Similarity.Dim)(0.0f))))
      .toDF("label", "e")
    val a = Similarity.normAuditOf(bad).collect().head
    assert(a.getLong(1) == 4L && a.getLong(2) == 1L &&
      a.getLong(3) == 1L && a.getLong(4) == 1L)
  }

  test("semanticComponents merges exactly the embedding near-dup graph") {
    val pairs = Similarity.nearDupPairs(spark, sf, tau = 0.3)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = Similarity.semanticComponents(spark, sf, tau = 0.3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.nonEmpty)
    // every edge's endpoints share a component label
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b)) }
    // labels match a union-find model over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = comp.keys.map(v => v -> find(v)).toMap
    assert(comp == want)
  }

  test("PQ search from codes alone clears a recall floor vs brute force") {
    val rec = Similarity.recallReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    info(rec.map { case (v, h, r) => s"$v: $h hits (recall $r)" }.mkString("; "))
    val pq = rec.find(_._1 == "ann_pq_topk").get
    assert(pq._3 >= 0.2, s"PQ recall ${pq._3} below floor")
    // the small-world graph walk is the high-recall family member:
    // floor 0.7 even on the 500-vector corpus (measured 0.95 / 0.93 at
    // sf0.001 / sf0.01 — the beam covers a large fraction of a tiny
    // corpus's true neighborhoods)
    val g = rec.find(_._1 == "ann_graph_topk").get
    assert(g._3 >= 0.7, s"graph recall ${g._3} below floor")
    // SQ8 is near-lossless for cosine ranking (8 bits/dim): hold it to
    // a far higher floor than the pruning families
    val sq = rec.find(_._1 == "ann_sq_topk").get
    assert(sq._3 >= 0.9, s"SQ8 recall ${sq._3} below floor")
    // IVF×SQ loses only what the cell prune loses: hold it to the
    // kmeans-IVF floor (SQ adds no measurable loss at 8 bits/dim)
    val ivfsq = rec.find(_._1 == "ann_ivfsq_topk").get
    assert(ivfsq._3 >= 0.5, s"IVF+SQ recall ${ivfsq._3} below floor")
    // two-stage rerank: exact rerank of the SQ candidate pool can only
    // help — recall ≥ the one-stage SQ scan, and clears the same floor
    val brute = graft.Substrate.brute(spark, sf)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "vec_id").collect()
        .count(r => brute((r.getLong(0), r.getLong(1)))).toDouble / brute.size
    val sqR = recallOf(Similarity.sqTopK(spark, sf))
    val rrR = recallOf(Similarity.sqRerankTopK(spark, sf))
    info(f"sq one-stage recall $sqR%.3f; two-stage rerank $rrR%.3f")
    assert(rrR >= sqR, s"rerank recall $rrR below one-stage $sqR")
    assert(rrR >= 0.9, s"rerank recall $rrR below floor")
    // ... and at sf0.01 (the driver's correctness scale) — pinned at
    // BOTH scales so an edge-build change can't silently degrade the
    // walk at one scale while passing at the other (measured 0.93)
    val dir01 = "/root/testdata/sf0.01"
    val brute01 = graft.Substrate.brute(spark, dir01)
      .select("q_id", "vec_id")
    val hits01 = Similarity.graphTopK(spark, dir01)
      .select("q_id", "vec_id").intersect(brute01).count()
    val recall01 = hits01.toDouble / brute01.count()
    info(f"graph recall@5 at sf0.01 = $recall01%.3f")
    assert(recall01 >= 0.7, f"sf0.01 graph recall $recall01%.3f below floor")
    // sanity: every PQ row ranks a real vector with a finite score
    val out = Similarity.pqTopK(spark, sf).collect()
    assert(out.length == Similarity.TopK * Similarity.NumQueries)
    out.foreach(r => assert(!r.getDouble(3).isNaN))
  }

  test("IVF+PQ: pruned ADC scores equal exhaustive ADC and clear the PQ recall floor") {
    val ivfpq = Similarity.ivfPqTopK(spark, sf).collect()
    assert(ivfpq.length == Similarity.TopK * Similarity.NumQueries)
    ivfpq.foreach { r =>
      assert(!r.getDouble(3).isNaN)
      assert(r.getLong(2) != r.getLong(0))
    }
    // any (q, vec) pair both searches return must score identically:
    // the codebooks, codes, and LUT are shared — pruning only shrinks
    // the candidate set, it never changes an ADC estimate
    val pq = Similarity.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val shared = ivfpq.flatMap(r =>
      pq.get((r.getLong(0), r.getLong(2))).map(_ -> r.getDouble(3)))
    assert(shared.nonEmpty)
    shared.foreach { case (exhaustive, pruned) => assert(exhaustive == pruned) }
    // recall@5 vs brute force stays above the same floor PQ is held to
    val brute = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = ivfpq.map(r => (r.getLong(0), r.getLong(2))).toSet intersect brute
    val recall = hits.size.toDouble / brute.size
    info(f"IVF+PQ recall@5 = $recall%.3f")
    assert(recall >= 0.2, f"IVF+PQ recall $recall%.3f below floor")
  }

  test("simhash near-dup pairs are ordered and within the hamming bound") {
    val out = SimHash.nearDupPairs(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
      assert(r.getAs[Long]("hd") <= SimHash.HammingMax)
    }
  }

  test("simhash hamming profile: cumulative algebra and gate consistency") {
    val prof = SimHash.hammingProfile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(prof.nonEmpty)
    // cumulative columns are exact running sums over ascending hd
    var (cp, cd) = (0L, 0L)
    prof.sortBy(_._1).foreach { case (_, np, pAt, ndm, dAt) =>
      cp += np; cd += ndm
      assert(pAt === cp && dAt === cd)
    }
    // the accept gate's pair count reads straight off the curve
    val accepted = SimHash.nearDupPairs(spark, sf).count()
    val atGate = prof.filter(_._1 <= SimHash.HammingMax).map(_._2).sum
    assert(atGate === accepted)
    // the profile covers MORE than the gate (rejected candidates exist)
    assert(prof.map(_._2).sum > accepted)
  }

  test("multi-probe LSH recall@5 is at least single-bucket recall") {
    def pr(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pr(Similarity.bruteTopK(spark, sf))
    val single = (brute intersect pr(Similarity.lshTopK(spark, sf))).size
    val multi = (brute intersect pr(Similarity.lshMultiProbeTopK(spark, sf))).size
    info(s"recall@5 hits: single-bucket=$single, multi-probe=$multi of ${brute.size}")
    // probing a superset of buckets can only move top-k toward the truth
    assert(multi >= single)
    assert(multi > 0)
  }

  test("k-means IVF (nprobe=2) recall@5 vs brute force meets the floor") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteTopK(spark, sf))
    val km = pairs(Similarity.ivfKmeansTopK(spark, sf))
    val naive = pairs(Similarity.ivfTopK(spark, sf))
    val kmRecall = (brute intersect km).size.toDouble / brute.size
    val naiveRecall = (brute intersect naive).size.toDouble / brute.size
    info(f"recall@5: kmeans+nprobe2=$kmRecall%.3f, first8+nprobe1=$naiveRecall%.3f")
    assert(kmRecall >= 0.5, f"kmeans IVF recall $kmRecall%.3f below floor")
    // trained centroids + wider probe should not lose to the naive cells
    assert(kmRecall >= naiveRecall - 0.05)
  }

  test("ivfCellProfile matches a driver argmax model and conserves vectors") {
    import org.apache.spark.sql.functions.col
    val vs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val cents = vs.filter(_._1 < 8)
    val assign = vs.map { case (_, e) =>
      cents.map { case (cid, ce) => (-cos(e, ce), cid) }.min._2
    }
    val want = assign.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Similarity.ivfCellProfile(spark, sf).collect()
    assert(got.length === want.size)
    assert(got.map(_.getLong(1)).sum === vs.length.toLong)
    got.foreach { r =>
      assert(r.getLong(1) === want(r.getLong(0)), s"cell ${r.getLong(0)}")
      val t = vs.length.toLong
      val nc = want.size.toLong
      def r4(num: Long, den: Long) = ((num * 10000 + den / 2) / den) / 10000.0
      assert(r.getDouble(2) === r4(r.getLong(1), t))
      assert(r.getDouble(3) === r4(r.getLong(1) * nc, t))
    }
  }

  test("bruteTopK: k ranked neighbors per query, cos non-increasing, no self") {
    val out = Similarity.bruteTopK(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(out.size === Similarity.NumQueries)
    out.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq === (1L to Similarity.TopK))
      assert(sorted.forall(_.getAs[Long]("vec_id") != q))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // exact score ties break by ascending vec_id: ids 3 and 1 copy the
    // query (cos 1, tied with the dropped self match), ids 5 and 2 share
    // the next score, id 4 points away
    import spark.implicits._
    def vec(x: Float, y: Float) =
      Array.tabulate(Similarity.Dim)(i => if (i == 0) x else if (i == 1) y else 0f)
    val tied = Seq(0L -> vec(1f, 1f), 3L -> vec(1f, 1f), 1L -> vec(1f, 1f),
        5L -> vec(1f, 0f), 2L -> vec(1f, 0f), 4L -> vec(-1f, 0f))
      .toDF("vec_id", "e")
    val tk = Similarity.bruteTopKOf(tied, k = 3, nQueries = 1).collect()
    assert(tk.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"))).toSeq === Seq((0L, 1L, 1L), (0L, 2L, 3L), (0L, 3L, 2L)))
  }

  test("lshTopK neighbors share the query's band-0 bucket") {
    val b0 = Similarity.buckets(spark, sf).filter(col("band") === 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    val out = Similarity.lshTopK(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(b0(r.getAs[Long]("q_id")) === b0(r.getAs[Long]("vec_id")))
    }
  }

  test("nearDupComponents: labels are transitive minima over pair chains") {
    val pairs = MinHashLSH.nearDupPairs(spark, sf, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = MinHashLSH.nearDupComponents(spark, sf, tau = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both endpoints of every pair share a component
    pairs.foreach { case (a, b) => assert(comp(a) === comp(b)) }
    // each component's label is its minimum member
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min)
    }
  }

  test("native hyperplane buckets equal the HOF formulation exactly") {
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Number]("band").longValue(),
        r.getAs[Long]("bucket"))).toSet
    assert(key(Similarity.buckets(spark, sf)) === key(Similarity.bucketsHof(spark, sf)))
  }

  test("embedding near-dup pairs meet the cosine threshold") {
    val out = Similarity.nearDupPairs(spark, sf, tau = 0.3).collect()
    out.foreach(r => assert(r.getAs[Double]("cos") >= 0.3))
  }

  test("graphCentrality equals a driver-side int64 PageRank model exactly") {
    // hu = the operator's halfUpDiv: (a + b div 2) div b, all-positive here
    def hu(a: Long, b: Long): Long = (a + b / 2) / b
    val pairs = MinHashLSH.nearDupPairs(spark, sf, tau = 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs ++ pairs.map(_.swap)
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    val n = deg.size.toLong
    var rank: Map[Long, Long] = deg.map { case (u, _) => u -> (1000000L / n) }
    for (_ <- 1 to MinHashLSH.CentralityIters) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => hu(rank(u) * 85L, deg(u) * 100L) }.sum
      }
      rank = rank.map { case (v, _) =>
        v -> (hu(15000000L, 100L * n) + in.getOrElse(v, 0L))
      }
    }
    val got = MinHashLSH.graphCentrality(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === rank)
    // hubs exist: at least one node outranks the teleport-only floor
    assert(got.values.max > hu(15000000L, 100L * n))
  }

  test("semDedup flags exactly the within-cell earlier-neighbor relation") {
    val tau = 0.3
    val out = Similarity.semDedup(spark, sf, tau = tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // clusters agree with the oracle-pinned hard assignment
    val cl = Similarity.clusterKmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(t => t._1 -> t._2).toMap === cl)
    // driver model: brute-force cosine inside each cell only
    val vs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCell = out.groupBy(_._2)
    out.foreach { case (v, cell, dup) =>
      val expect = byCell(cell).exists { case (u, _, _) =>
        u < v && cos(vs(u), vs(v)) >= tau }
      assert(dup == expect, s"vec $v in cell $cell")
    }
    // the relation is non-trivial on the test corpus at this tau
    assert(out.exists(_._3) && out.exists(!_._3))
  }

  test("clusterBalance agrees with clusterKmeans assignments and bounds its means") {
    val assigns = Similarity.clusterKmeans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sizes = assigns.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val total = assigns.length.toLong
    val got = Similarity.clusterBalance(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == total)
    got.foreach { r =>
      val (cl, n) = (r.getLong(0), r.getLong(1))
      assert(n == sizes(cl))
      assert(r.getDouble(2) == ratio4Model(n, total))
      val (mn, mx, mean) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(mn <= mean && mean <= mx)
      assert(mn >= -1000000L && mx <= 1000000L)
      // the micro-unit mean agrees with the panel's own round-4 cosines
      val c4 = assigns.filter(_._2 == cl).map(_._3)
      assert(math.abs(mean / 1e6 - c4.sum / c4.length) < 1e-3)
    }
  }

  test("ivfProbeCurve: monotone recall, exhaustive probe reaches 1, point-consistency") {
    val got = Similarity.ivfProbeCurve(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.map(_._1) == Similarity.ProbeGrid.map(_.toLong))
    // recall can only grow with probed cells
    assert(got.map(_._4) == got.map(_._4).sorted)
    // nprobe = nCentroids searches every cell => IVF ≡ brute force
    val denom = Similarity.NumQueries.toLong * Similarity.TopK
    assert(got.last._4 == denom && got.last._5 == 1.0)
    // the nprobe=2 point is exactly the shipped ann_ivf_kmeans config
    val brute = Similarity.bruteTopK(spark, sf).select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = Similarity.ivfKmeansTopK(spark, sf).select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.find(_._1 == 2L).get._4 == (ivf2 & brute).size.toLong)
  }
  test("silhouette: driver replay of the u6 distance/mean/ratio algebra over the trained assignment") {
    def halfUp(num: Long, den: Long): Long = (num + den / 2) / den
    def r1e6(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1000000d)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) {
        ab += a(i).toDouble * b(i).toDouble
        aa += a(i).toDouble * a(i).toDouble
        bb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    // assignment is pinned by cluster_kmeans' own oracle; this pins the
    // silhouette ALGEBRA on top of it
    val emb = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cl = Similarity.clusterKmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qs = cl.keys.filter(_ < Similarity.SilhouetteQueries).toSeq.sorted
    val perPoint = qs.map { q =>
      val byCluster = cl.toSeq.filter(_._1 != q).groupBy(_._2).map {
        case (c, ms) =>
          val ds = ms.map(m => 1000000L - r1e6(cos(emb(q), emb(m._1))))
          c -> halfUp(ds.sum, ds.size.toLong)
      }
      val own = cl(q)
      val a = byCluster.get(own)
      val b = byCluster.view.filterKeys(_ != own).values.toSeq.sorted.headOption
      val s = (a, b) match {
        case (Some(av), Some(bv)) =>
          val sg = if (bv < av) -1L else 1L
          sg * halfUp(math.abs(bv - av) * 1000000L, math.max(math.max(av, bv), 1L))
        case _ => 0L
      }
      own -> s
    }
    val expected = perPoint.groupBy(_._1).toSeq.map { case (c, ss) =>
      val v = ss.map(_._2)
      val sum = v.sum
      val sg = if (sum < 0) -1L else 1L
      (c, v.size.toLong, v.count(_ < 0L).toLong,
        sg * halfUp(math.abs(sum), v.size.toLong), v.min, v.max)
    }.sortBy(_._1)
    val got = Similarity.silhouette(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == expected)
    // silhouettes live on the ppm scale and the sample is fully covered
    assert(got.map(_._2).sum == qs.size.toLong)
    assert(got.forall(r => r._5 >= -1000000L && r._6 <= 1000000L))
  }

  test("recallAtK: prefix intersections of the shipped top-ks match a driver model") {
    def halfUp(num: Long, den: Long): Long = (num + den / 2) / den
    def tk(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select("q_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val brute = tk(graft.Substrate.brute(spark, sf))
    val expected = Seq(
      "ann_ivf_kmeans" -> tk(Similarity.ivfKmeansTopK(spark, sf)),
      "ann_lsh_multiprobe" -> tk(Similarity.lshMultiProbeTopK(spark, sf)))
      .flatMap { case (name, v) =>
        Similarity.RecallKs.map { k =>
          val hits = v.count { case (key, rv) =>
            rv <= k && brute.get(key).exists(_ <= k)
          }.toLong
          val den = k.toLong * Similarity.NumQueries
          (name, k.toLong, hits, halfUp(hits * 10000L, den) / 1e4)
        }
      }.sortBy(r => (r._1, r._2))
    val got = Similarity.recallAtK(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // hit counts are monotone in k (prefix property), recalls in [0,1]
    got.groupBy(_._1).values.foreach { rows =>
      val byK = rows.sortBy(_._2).map(_._3)
      assert(byK == byK.sorted)
    }
    assert(got.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
  }

  test("rpDistortion: driver replay of the u6 JL distance-ratio histogram") {
    def halfUp(num: BigInt, den: BigInt): BigInt = (num * 2 + den) / (den * 2)
    def h64Model(str: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def r1e6(x: Double): Long =
      java.math.BigDecimal.valueOf(x * 1000000d)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val emb = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < Similarity.RpSample)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq.sortBy(_._1)
    val signs = (0 until Similarity.RpPlanes).map { p =>
      (1 to 64).map(j => (h64Model(s"pl:$p:$j") % 2) * 2 - 1).toArray
    }
    val pu = emb.map { case (id, e) =>
      id -> signs.map(sg =>
        r1e6(e.indices.foldLeft(0.0)((acc, j) => acc + e(j).toDouble * sg(j))))
    }.toMap
    val cu = emb.map { case (id, e) => id -> e.map(x => r1e6(x.toDouble)) }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val ids = emb.map(_._1)
    val ratios = for {
      i <- ids; j <- ids if j > i
      od2 = d2(cu(i), cu(j)) if od2 > 0
    } yield {
      val pd2 = d2(pu(i).toArray, pu(j).toArray)
      halfUp(BigInt(pd2) * 1000000, BigInt(Similarity.RpPlanes) * od2).toLong
    }
    val expected = ratios.groupBy(_ / Similarity.RpBandPpm).toSeq.map {
      case (band, rs) =>
        (band, rs.size.toLong, halfUp(BigInt(rs.sum), rs.size).toLong,
          rs.min, rs.max)
    }.sortBy(_._1)
    val got = Similarity.rpDistortion(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == expected)
    // every sampled pair lands in exactly one band
    assert(got.map(_._2).sum == ratios.size.toLong)
  }

  test("recallScaling: full-corpus row agrees with the recall report; prefix subsets nest") {
    val got = Similarity.recallScaling(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.size == Similarity.ScaleFracs.size)
    // subsets are strict prefixes: sizes strictly increase, ppb never shrinks
    assert(got.map(_._1) == got.map(_._1).sorted)
    assert(got.map(_._2) == got.map(_._2).sorted)
    assert(got.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    // the N/1 row IS the shipped single-bucket config: its hit count
    // must equal the recall report's ann_lsh_topk row exactly
    val reportHits = Similarity.recallReport(spark, sf).collect()
      .find(_.getString(0) == "ann_lsh_topk").get.getLong(1)
    assert(got.last._3 == reportHits)
  }

  test("minhashRecall: counts reconcile with the pair lists; LSH pairs are a subset of exact") {
    val exact = DocDedup.prefixJoin(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = MinHashLSH.nearDupPairs(spark, sf, tau = 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = MinHashLSH.minhashRecall(spark, sf).collect().head
    assert(got.getLong(0) == exact.size.toLong)
    assert(got.getLong(1) == mh.size.toLong)
    assert(got.getLong(2) == (mh & exact).size.toLong)
    assert(got.getLong(3) == (exact -- mh).size.toLong)
    // LSH verifies Jaccard on the uncapped sets, so it can never
    // accept a pair the exact join rejects
    assert(mh.subsetOf(exact))
    assert(got.getLong(1) == got.getLong(2))
  }

  test("recallByBand: banded ground-truth recall matches the driver model and reconciles with the totals") {
    def halfUp(num: Long, den: Long): Long = (num + den / 2) / den
    val exact = DocDedup.prefixJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        halfUp(r.getLong(2) * 10000L, r.getLong(3))).toMap
    val mh = MinHashLSH.nearDupPairs(spark, sf, tau = 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = exact.toSeq.groupBy(_._2 / MinHashLSH.RecallBand4)
      .toSeq.map { case (band, ps) =>
        val caught = ps.count(p => mh(p._1)).toLong
        (band * MinHashLSH.RecallBand4 / 10000.0, ps.size.toLong, caught,
          halfUp(caught * 10000L, ps.size.toLong) / 1e4)
      }.sortBy(_._1)
    val got = MinHashLSH.recallByBand(spark, sf).collect().toSeq
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // band sums reconcile with the flat recall panel's totals
    val flat = MinHashLSH.minhashRecall(spark, sf).collect().head
    assert(got.map(_._2).sum == flat.getLong(0))
    assert(got.map(_._3).sum == flat.getLong(2))
  }

}
