package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session memo itself, table-free: tiny `spark.range` builders in
  * a fresh session per test (the memo is keyed by session, so no other
  * suite's entries share the map). */
class SubstrateSpec extends SparkSpec {

  private def counted(n: AtomicInteger)(s: SparkSession): DataFrame = {
    n.incrementAndGet()
    s.range(3).toDF()
  }

  test("the same key returns the same frame") {
    val s = spark.newSession()
    val n = new AtomicInteger
    val d = new Substrate.Decl[Int]("t.same", "none", 1)((s, _, _) => counted(n)(s))
    val a = d(s, "/x")
    assert(d(s, "/x") eq a)
    assert(n.get == 1)
    assert(d(s, "/x", 2) ne a, "a different parameter is a different key")
    assert(n.get == 2)
    assert(a.collect().length == 3)
  }

  test("a builder may read another memo inside its closure") {
    val s = spark.newSession()
    val n = new AtomicInteger
    val inner = new Substrate.Decl[Unit]("t.inner", "none", ())((s, _, _) => counted(n)(s))
    val outer = new Substrate.Decl[Unit]("t.outer", "none", ())((s, dir, _) =>
      inner(s, dir).union(inner(s, dir)))
    assert(outer(s, "/x").count() == 6)
    assert(n.get == 1, "the nested read is memoized too")
    assert(inner(s, "/x").count() == 3)
    assert(n.get == 1)
  }

  test("a changed version token rebuilds") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("substrate-spec")
    val art = dir.resolve("a.bin")
    Files.write(art, Array[Byte](1))
    val n = new AtomicInteger
    val f = new Substrate.Family("t.version", "a.bin")
    val a = f(s, dir.toString, "p")(counted(n)(s))
    assert(f(s, dir.toString, "p")(counted(n)(s)) eq a)
    Files.write(art, Array[Byte](1, 2)) // new length → new version token
    val b = f(s, dir.toString, "p")(counted(n)(s))
    assert(b ne a)
    assert(n.get == 2)
    assert(f(s, dir.toString, "p")(counted(n)(s)) eq b)
    Files.delete(art); Files.delete(dir)
  }

  test("past the cap, the key just returned is never evicted") {
    val s = spark.newSession()
    val n = new AtomicInteger
    val f = new Substrate.Family("t.cap", "none")
    def get(i: Int) = f(s, "/x", i)(counted(n)(s))
    val frames = (0 to Substrate.MemoCap).map(get)
    assert(n.get == Substrate.MemoCap + 1)
    // the newest key survived the eviction its own insert triggered
    assert(get(Substrate.MemoCap) eq frames.last)
    assert(n.get == Substrate.MemoCap + 1)
    // the oldest was dropped; re-inserting it evicts the next-oldest,
    // never the key being returned
    val again = get(0)
    assert(again ne frames.head)
    assert(n.get == Substrate.MemoCap + 2)
    assert(get(0) eq again)
    assert(n.get == Substrate.MemoCap + 2)
  }

  test("declared substrate names are distinct") {
    val names = Substrate.all.map(_.name)
    assert(names.forall(_ != null))
    assert(names.distinct.size == names.size, names.diff(names.distinct))
  }

  test("keys keep the name|version|dir|params template") {
    val dir = Paths.get("/nonexistent-substrate-dir").toString
    assert(Substrate.shsig.key(spark, dir) == s"shsig|na|$dir")
    assert(Substrate.lshpairs.key(spark, dir) == s"lshpairs|na|$dir|0.5")
    assert(Substrate.embpairs.key(spark, dir) == s"embpairs|na|$dir|0.45|0|0")
    assert(Substrate.winpairs.key(spark, dir) == s"winpairs|na|$dir|3|4|16|2")
    assert(Substrate.basket.key(spark, dir) == s"basket|na|$dir|2")
  }
}
