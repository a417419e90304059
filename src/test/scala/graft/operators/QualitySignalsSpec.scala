package graft.operators

import graft.SparkSpec

/** Round-4 operators vs independent in-memory models at sf0.001. */
class QualitySignalsSpec extends SparkSpec {

  private def toks(text: String): Array[String] =
    text.trim.split("\\s+").filter(_.nonEmpty)

  private lazy val docs: Seq[(Long, String)] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("repetition matches a sliding-window gram-count model") {
    val expected = docs.flatMap { case (id, text) =>
      val t = toks(text)
      if (t.length < 3) None
      else {
        val big = t.sliding(2).map(_.mkString(" ")).toSeq
        val tri = t.sliding(3).map(_.mkString(" ")).toSeq
        val bc = big.groupBy(identity).view.mapValues(_.size.toLong)
        val tc = tri.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val (n2, top2) = (big.size.toLong, bc.values.max)
        val (n3, dup3) = (tri.size.toLong, tc.values.filter(_ >= 2).sum)
        Some((id, n2, top2, ratio4Model(top2, n2), n3, dup3, ratio4Model(dup3, n3)))
      }
    }.sortBy(_._1)
    val got = QualitySignals.repetition(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got == expected)
  }

  test("novelty counts corpus-unique shingles per document") {
    val sh = docs.map { case (id, text) =>
      id -> toks(text).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val df = sh.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val expected = sh.map { case (id, s) =>
      val uniq = s.count(df(_) == 1).toLong
      (id, s.size.toLong, uniq, ratio4Model(uniq, s.size.toLong))
    }.sortBy(_._1)
    val got = QualitySignals.novelty(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
  }

  test("edit-distance pairs: lev matches the classic DP, threshold holds, " +
       "and candidates under the threshold are emitted") {
    def lev(a: String, b: String): Int = {
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (j <- 0 to b.length) prev(j) = j
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    def norm(s: String) = s.trim.replaceAll("\\s+", " ").toLowerCase
    val nrm = docs.map { case (id, t) => id -> norm(t) }.toMap
    val got = DocDedup.editDistancePairs(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (d1, d2, l, ml) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(l == lev(nrm(d1), nrm(d2)).toLong, s"lev mismatch on ($d1,$d2)")
      assert(ml == math.max(nrm(d1).length, nrm(d2).length).toLong)
      assert(l * 100 <= ml * DocDedup.MaxEditPct)
      assert(r.getDouble(4) == ratio4Model(l, ml))
    }
    // every LSH candidate within the threshold is reported (no misses)
    val cand = MinHashLSH.lshCandidates(
      graft.Tables.documents(spark, sf).select("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val under = cand.filter { case (a, b) =>
      lev(nrm(a), nrm(b)).toLong * 100 <=
        math.max(nrm(a).length, nrm(b).length).toLong * DocDedup.MaxEditPct }
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == under.toSet)
  }

  test("best-quality canonical keeps the max quality key (ties to min id)") {
    val out = Curation.bestQualityCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // q_key recomputed from the model
    val qk = docs.map { case (id, text) =>
      val t = toks(text)
      val n = t.length.toLong
      val stop = t.count(TextAnalysis.StopEn.contains).toLong
      val lenNoWs = text.replaceAll("\\s", "").length.toLong
      def hud(num: Long, den: Long) = (num + den / 2) / den
      id -> (math.min(n * 40, 4000L) + (4000L - hud(stop * 4000, n)) +
        math.min(hud(lenNoWs * 250, n), 2000L))
    }.toMap
    out.foreach { case (id, _, q, _) => assert(q == qk(id), s"q_key of $id") }
    out.groupBy(_._2).foreach { case (_, members) =>
      val best = members.map { case (id, _, q, _) => (-q, id) }.min._2
      members.foreach { case (_, _, _, keep) => assert(keep == best) }
    }
    // components match the component operator's membership
    val comp = MinHashLSH.nearDupComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(t => (t._1, t._2)).toSet == comp)
  }

  test("chunk dedup reports every non-first occurrence with its keeper") {
    val w = DocDedup.ChunkTokens
    val chunks = docs.flatMap { case (id, text) =>
      toks(text).grouped(w).filter(_.length == w).zipWithIndex
        .map { case (c, i) => (c.mkString(" "), id, (i + 1).toLong) }
    }
    val expected = chunks.groupBy(_._1).values.toSeq.flatMap { occ =>
      val sorted = occ.map { case (_, id, pos) => (id, pos) }.sorted
      val (kd, kp) = sorted.head
      sorted.tail.map { case (id, pos) => (id, pos, kd, kp) }
    }.sortBy(t => (t._1, t._2))
    val got = DocDedup.chunkDedup(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(got == expected)
  }

  test("pattern sessions match a per-session subsequence model") {
    val ev = graft.operators.Dedup.eventsUs(spark, sf)
      .select("user_id", "ts_us", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      // gap sessionization, then ordered view<click<purchase subsequence
      var idx = 0L; var last = Long.MinValue
      val sessions = sorted.map { r =>
        if (last == Long.MinValue || r._2 - last > EventUsers.PatternGapUs) idx += 1
        last = r._2
        (idx, r._4)
      }
      sessions.groupBy(_._1).toSeq.flatMap { case (si, evs) =>
        val types = evs.map(_._2)
        var sawView = false; var sawQClick = false; var hit = false
        types.foreach { t =>
          if (t == "purchase" && sawQClick) hit = true
          if (t == "click" && sawView) sawQClick = true
          if (t == "view") sawView = true
        }
        if (hit) Some((u, si, types.length.toLong)) else None
      }
    }.sortBy(t => (t._1, t._2))
    val got = EventUsers.patternSessions(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
  }

  test("lexicalDiversity matches a type/hapax count model") {
    val expected = docs.flatMap { case (id, text) =>
      val t = toks(text)
      if (t.isEmpty) None
      else {
        val counts = t.groupBy(identity).view.mapValues(_.size.toLong)
        val types = counts.size.toLong
        val hapax = counts.values.count(_ == 1L).toLong
        Some((id, t.length.toLong, types, hapax,
          ratio4Model(types, t.length.toLong), ratio4Model(hapax, types)))
      }
    }.sortBy(_._1)
    val got = QualitySignals.lexicalDiversity(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got == expected)
  }
}
