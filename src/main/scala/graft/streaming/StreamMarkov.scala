package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming first-order transition extraction: per user, each arriving
  * event pairs with the PREVIOUS event's type — the online form of the
  * batch Markov statistics (events_markov). State per user is one
  * (type, ts, id) tuple, so the state store stays O(users) regardless
  * of stream length; transitions append downstream into an ordinary
  * streaming count aggregation.
  *
  * Assumes per-user event-time-ordered delivery across micro-batches
  * (same contract as StreamFunnel); within a batch rows are sorted by
  * (ts_us, event_id). Under it the emitted transition multiset equals
  * the batch lead-window's exactly (StreamMarkovSpec). */
object StreamMarkov {

  case class Ev(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class Last(event_type: String, ts_us: Long, event_id: Long)
  case class Transition(user_id: Long, type_from: String, type_to: String)

  /** Raw (user, from, to) transition stream via flatMapGroupsWithState. */
  def transitions(ev: Dataset[Ev]): Dataset[Transition] = {
    implicit val stEnc = Encoders.product[Last]
    implicit val outEnc = Encoders.product[Transition]
    ev.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Last, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            last.foreach(l => out += Transition(uid, l.event_type, e.event_type))
            last = Some(Last(e.event_type, e.ts_us, e.event_id))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
