package graft.operators

import graft.{SparkSpec, Tables}

import java.math.{BigDecimal => JBD}

/** The partsupp-family TPC-H tranche (q2/q11/q16/q20) vs independent
  * in-memory models at sf0.001 — exact decimal sums via BigDecimal,
  * thresholds/min selection on the same ×10⁴ integer units the
  * operators use.
  */
class Analytics7Spec extends SparkSpec {

  private def halfUp(num: Long, den: Long): Long = (num + den / 2) / den

  /** value × 10⁴ as an exact long (the sumU4 twin). */
  private def u4(vs: Seq[Double]): Long =
    vs.map(new JBD(_).setScale(4, java.math.RoundingMode.HALF_UP))
      .foldLeft(JBD.ZERO)(_.add(_)).movePointRight(4).longValueExact()

  private lazy val li = {
    import org.apache.spark.sql.functions.{col, year}
    Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_quantity"), year(col("l_shipdate")).as("ship_year"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4)))
  }
  private lazy val partRows = Tables.part(spark, sf)
    .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    .collect().toSeq
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
  /** Integer-typed key regardless of the parquet physical width. */
  private def keyOf(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
    case l: Long => l
    case n: Int  => n.toLong
    case other   => sys.error(s"non-integral key: $other")
  }

  private lazy val suppNation: Map[Long, Long] = Tables.supplier(spark, sf)
    .select("s_suppkey", "s_nationkey").collect()
    .map(r => keyOf(r, 0) -> keyOf(r, 1)).toMap
  private lazy val suppName: Map[Long, String] = Tables.supplier(spark, sf)
    .select("s_suppkey", "s_name").collect()
    .map(r => keyOf(r, 0) -> r.getString(1)).toMap
  private lazy val nationRegion: Map[Long, (String, Long)] = Tables.nation(spark, sf)
    .select("n_nationkey", "n_name", "n_regionkey").collect()
    .map(r => keyOf(r, 0) -> (r.getString(1), keyOf(r, 2))).toMap
  private lazy val regionName: Map[Long, String] = Tables.region(spark, sf)
    .select("r_regionkey", "r_name").collect()
    .map(r => keyOf(r, 0) -> r.getString(1)).toMap

  private def supplierRegion(sk: Long): String =
    regionName(nationRegion(suppNation(sk))._2)

  test("q2: per-part min realized unit price among region suppliers, exact ties") {
    val parts = partRows.filter(p => p._4 == "STANDARD" && p._5 >= 10 && p._5 <= 20)
      .map(p => p._1 -> p._3).toMap
    val grouped = li
      .filter(l => parts.contains(l._1) && supplierRegion(l._2) == "EUROPE")
      .groupBy(l => (l._1, l._2)).map { case ((pk, sk), rows) =>
        val extU = u4(rows.map(_._3))
        val qtyU = u4(rows.map(_._4))
        (pk, sk, halfUp(extU * 10000L, qtyU))
      }.toSeq
    val expected = grouped.groupBy(_._1).toSeq.flatMap { case (pk, rows) =>
      val mn = rows.map(_._3).min
      rows.filter(_._3 == mn).map(r =>
        (pk, parts(pk), r._2, suppName(r._2),
          nationRegion(suppNation(r._2))._1, r._3 / 1e4))
    }.sortBy(r => (r._1, r._3))
    val got = Commerce.q2(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getDouble(5)))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q11: parts above the exact 2×-mean value threshold, value-ranked") {
    val perPart = li
      .filter(l => nationRegion(suppNation(l._2))._1 == "NATION_3")
      .groupBy(_._1).map { case (pk, rows) => (pk, u4(rows.map(_._3))) }.toSeq
    val thrU = halfUp(perPart.map(_._2).sum * 2L, math.max(perPart.size.toLong, 1L))
    val expected = perPart.filter(p => p._2 > thrU)
      .map(p => (p._1, p._2 / 1e4))
      .sortBy(p => (-p._2, p._1))
    val got = Commerce.q11(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got == expected)
    assert(got.nonEmpty)
    // every released value really is strictly above the threshold
    assert(expected.forall(_._2 * 10000L > thrU))
  }

  test("q16: distinct observed suppliers per surviving (brand, type, size)") {
    val sizes = Set(1, 9, 14, 19, 23, 36, 45, 49)
    val surviving = partRows
      .filter(p => p._3 != "Brand#13" && p._4 != "PROMO" && sizes.contains(p._5))
      .map(p => p._1 -> (p._3, p._4, p._5)).toMap
    val expected = li.filter(l => surviving.contains(l._1))
      .map(l => (surviving(l._1), l._2)).distinct
      .groupBy(_._1).map { case ((b, t, sz), rows) =>
        (b, t, sz, rows.size.toLong)
      }.toSeq.sortBy(r => (-r._4, r._1, r._2, r._3))
    val got = Commerce.q16(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q20: region suppliers dominating a family part-year, integer-exact cut") {
    val family = partRows.filter(_._2.startsWith("red")).map(_._1).toSet
    val perPS = li
      .filter(l => family.contains(l._1) && l._5 == 1996)
      .groupBy(l => (l._1, l._2)).map { case ((pk, sk), rows) =>
        (pk, sk, u4(rows.map(_._4)))
      }.toSeq
    val partTotal = perPS.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expected = perPS
      .filter(p => p._3 * 100L > partTotal(p._1) * 30L)
      .filter(p => supplierRegion(p._2) == "EUROPE")
      .groupBy(_._2).map { case (sk, rows) =>
        (sk, suppName(sk), rows.size.toLong)
      }.toSeq.sortBy(_._1)
    val got = Commerce.q20(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
