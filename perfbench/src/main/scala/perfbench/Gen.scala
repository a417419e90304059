package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. A message is identified by its content id
  * (`cid`); every copy of one content hashes to the same digest because
  * copies differ only in the `nonce` property, which the job ignores. */
object Gen {
  val WindowUs: Long = graft.operators.Dedup.WindowUs           // 1 h TTL
  val CacheWindowUs: Long = graft.operators.Dedup.CacheWindowUs // 48 h warm-up
  val Ignored: Seq[String] = Seq("nonce")
  val NearUs: Long = 37L * 1000000L        // replica inside the TTL
  val FarUs: Long = 2L * 3600L * 1000000L  // replica beyond it
  val T0: Long = 1704067200000000L         // 2024-01-01 00:00 UTC, in µs
  private val Types = Array("view", "click", "cart", "buy", "share")

  /** The envelope columns the job consumes (no digest: the job computes it). */
  final case class In(event_id: Long, ts_us: Long, user_id: Long,
                      event_type: String, value: Double, props: String)

  /** One generated message: `copy` 0 is the original, 1 a replica. */
  final case class Msg(eventId: Long, tsUs: Long, cid: Long, copy: Int)

  def toIn(m: Msg): In = In(m.eventId, m.tsUs, m.cid, Types((m.cid % 5).toInt),
    (m.cid % 100000L) / 100.0, s"""{"k":${m.cid % 100},"nonce":${m.copy}}""")

  /** Time-ordered messages. Originals arrive every `stepUs` of event
    * time from `startUs`; half of them get one replica, half of those at
    * +37 s and half at +2 h, so about a third of all messages are
    * replicas. `cidOf(k, rng)` names the content of the k-th original.
    * `eventId` is the arrival index, so a message's due time follows
    * from its id and the send schedule. */
  final class Stream(seed: Long, startUs: Long, stepUs: Long,
                     cidOf: (Long, SplittableRandom) => Long) extends Iterator[Msg] {
    private val rng = new SplittableRandom(seed)
    // replicas waiting for their event time: (ts, cid), earliest first
    private val pending =
      mutable.PriorityQueue.empty[(Long, Long)](Ordering[(Long, Long)].reverse)
    private var k = 0L
    private var id = 0L
    def hasNext: Boolean = true
    def next(): Msg = {
      val origTs = startUs + k * stepUs
      val m =
        if (pending.nonEmpty && pending.head._1 < origTs) {
          val (ts, cid) = pending.dequeue()
          Msg(id, ts, cid, 1)
        } else {
          val cid = cidOf(k, rng)
          k += 1
          if (rng.nextInt(2) == 0)
            pending.enqueue((origTs + (if (rng.nextBoolean()) NearUs else FarUs), cid))
          Msg(id, origTs, cid, 0)
        }
      id += 1
      m
    }
  }

  // ---- stream_live ------------------------------------------------------

  /** Event time runs `EventSecondsPerSecond` times faster than the send
    * schedule, so every 2 s of a run is one TTL and expired state is
    * removed while the run lasts. */
  val EventSecondsPerSecond = 1800L

  def live(seed: Long, ratePerS: Int): Stream = {
    // 1.5 messages per original on average
    val stepUs = EventSecondsPerSecond * 1000000L * 3 / (2L * ratePerS)
    new Stream(seed, T0, stepUs, (k, _) => k)
  }

  // ---- catch-up after downtime (traced stream_live runs) ----------------

  /** Restart time: the prior output covers the 72 h before it, the
    * backlog starts at it. */
  val NowUs: Long = T0 + 72L * 3600L * 1000000L
  val PriorSpanUs: Long = 72L * 3600L * 1000000L
  val PriorCidBase = 1000000000L

  /** A row of the previous incarnation's output. `originKind` 0 is a
    * well-formed origin; 1..5 are the malformed shapes warm-up skips. */
  final case class Prior(eventId: Long, tsUs: Long, cid: Long, originKind: Int)

  val MalformedEvery = 32

  /** The prior output is the same for every seed (it is prepared once);
    * the backlog that re-sends some of it varies with the seed. */
  def prior(n: Int): IndexedSeq[Prior] = {
    val rng = new SplittableRandom(0x5eedL)
    val step = PriorSpanUs / n
    (0 until n).map { j =>
      val kind = if (rng.nextInt(MalformedEvery) == 0) 1 + rng.nextInt(5) else 0
      Prior(j.toLong, NowUs - PriorSpanUs + j * step, PriorCidBase + j, kind)
    }
  }

  /** Origin value written for a prior row, given its digest. */
  def originValue(kind: Int, digest: Long): String = kind match {
    case 0 => s"""["$digest"]"""
    case 1 => "not json"
    case 2 => s"""{"origin":"$digest"}"""
    case 3 => s"""["$digest","x3"]"""
    case 4 => """["99999999999999999999"]"""
    case _ => null // origin property absent
  }

  /** One original in `ResendEvery` re-sends content from the last two
    * hours of prior output: within the TTL of its warmed copy it is a
    * duplicate, unless that copy's origin was malformed. */
  val ResendEvery = 10
  val BacklogStepUs = 10000L // 100 originals per event-time second

  def backlog(seed: Long, prior: IndexedSeq[Prior]): Stream = {
    val recent = prior.filter(_.tsUs >= NowUs - 2L * 3600L * 1000000L).map(_.cid)
    new Stream(seed, NowUs, BacklogStepUs, (k, rng) =>
      if (rng.nextInt(ResendEvery) == 0) recent(rng.nextInt(recent.size)) else k)
  }
}
