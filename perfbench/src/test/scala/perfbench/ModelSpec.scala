package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference model on its boundary cases, and the generator on
  * the properties the workloads rely on. */
class ModelSpec extends AnyFunSuite {
  import Gen.{Msg, Prior}

  private val W = Gen.WindowUs
  private def msgs(xs: (Long, Long)*): Iterator[Msg] =
    xs.zipWithIndex.map { case ((ts, cid), i) => Msg(i.toLong, ts, cid, 0) }.iterator

  test("a copy at exactly +W is forwarded, one just inside W is dropped") {
    assert(Model.chain(msgs(0L -> 1L, (W - 1) -> 1L, W -> 1L), W) === Set(0L, 2L))
  }

  test("a dropped duplicate does not refresh the TTL") {
    // kept at 0; W/2 dropped; W kept (measured from 0, not W/2); 3W/2 dropped
    val kept = Model.chain(msgs(0L -> 7L, (W / 2) -> 7L, W -> 7L, (3 * W / 2) -> 7L), W)
    assert(kept === Set(0L, 2L))
  }

  test("contents are independent") {
    assert(Model.chain(msgs(0L -> 1L, 1L -> 2L, 2L -> 1L, 3L -> 2L), W) === Set(0L, 1L))
  }

  test("warm-up reads only the cache window, and the latest copy per content") {
    val now = 10 * Gen.CacheWindowUs
    val prior = Seq(
      Prior(0, now - Gen.CacheWindowUs - 1, 1, 0), // just outside the window
      Prior(1, now - Gen.CacheWindowUs, 2, 0),     // exactly at its edge
      Prior(2, now - 100, 3, 0),
      Prior(3, now - 50, 3, 0))
    assert(Model.warmState(prior, Gen.CacheWindowUs, now) === Map(2L -> (now - Gen.CacheWindowUs), 3L -> (now - 50)))
  }

  test("malformed origins contribute nothing to the warm state") {
    val prior = (0 to 5).map(k => Prior(k.toLong, 0L, 100L + k, k))
    assert(Model.warmState(prior, Gen.CacheWindowUs, 1L) === Map(100L -> 0L))
    (1 to 5).foreach(k => assert(Gen.originValue(k, 42L) != """["42"]"""))
  }

  test("the warm state suppresses copies within the TTL of the warmed time") {
    val now = 0L
    val warm = Map(5L -> (now - 600000000L)) // warmed 10 min before restart
    val kept = Model.chain(msgs((now + 60000000L) -> 5L, (now + W) -> 5L), W, warm)
    assert(kept === Set(1L))
  }

  test("generated streams arrive in event-time order, a third are replicas, per seed") {
    val a = Gen.live(3, 2000).take(30000).toVector
    assert(a === Gen.live(3, 2000).take(30000).toVector)
    assert(a != Gen.live(4, 2000).take(30000).toVector)
    assert(a.map(_.tsUs) === a.map(_.tsUs).sorted)
    assert(a.map(_.eventId) === a.indices.map(_.toLong))
    val share = a.count(_.copy == 1).toDouble / a.size
    assert(share > 0.28 && share < 0.36, share)
    val firstTs = a.filter(_.copy == 0).map(m => m.cid -> m.tsUs).toMap
    val gaps = a.filter(_.copy == 1).map(m => m.tsUs - firstTs(m.cid)).toSet
    assert(gaps === Set(Gen.NearUs, Gen.FarUs))
  }

  test("the backlog re-sends recent prior contents") {
    val prior = Gen.prior(24000)
    val recent = prior.filter(_.tsUs >= Gen.NowUs - 2L * 3600L * 1000000L).map(_.cid).toSet
    val b = Gen.backlog(1, prior).take(20000).toVector
    val resent = b.count(m => recent.contains(m.cid))
    assert(resent > 1000 && resent < 3000, resent)
    assert(b.forall(m => m.tsUs >= Gen.NowUs))
  }
}
