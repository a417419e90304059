package perfbench

import scala.collection.mutable

/** Independent model of the reference semantics, keyed by the
  * generator's content id, never by the engine's digest. */
object Model {

  /** Greedy TTL chain over messages in arrival (= event time) order: a
    * message is forwarded when its content has no forwarded copy yet or
    * the last forwarded copy is at least `windowUs` older (a copy at
    * exactly +W is forwarded). A dropped duplicate does not refresh the
    * TTL. `warm` seeds content → last forwarded time. Returns the
    * forwarded event ids. */
  def chain(msgs: Iterator[Gen.Msg], windowUs: Long,
            warm: collection.Map[Long, Long] = Map.empty): mutable.Set[Long] = {
    val last = mutable.HashMap.empty[Long, Long] ++= warm
    val kept = mutable.HashSet.empty[Long]
    msgs.foreach { m =>
      if (last.get(m.cid).forall(l => m.tsUs >= l + windowUs)) {
        last(m.cid) = m.tsUs
        kept += m.eventId
      }
    }
    kept
  }

  /** The warm-up: contents of prior output rows inside the trailing
    * cache window whose origin is well formed, each with its latest
    * time. Malformed origins contribute nothing. */
  def warmState(prior: Seq[Gen.Prior], cacheWindowUs: Long, nowUs: Long): Map[Long, Long] =
    prior.filter(p => p.originKind == 0 && p.tsUs >= nowUs - cacheWindowUs)
      .groupMapReduce(_.cid)(_.tsUs)(math.max)
}
