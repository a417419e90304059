package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming inter-event gap extraction — the online form of the batch
  * bot-regularity gate (events_bot_regularity, EventUsers): each arriving
  * event emits its gap to the PREVIOUS event of the same user. State per
  * user is ONE (ts, id) tuple, so the state store stays O(users)
  * regardless of stream length — the StreamMarkov discipline.
  *
  * The regularity panel itself (exact integer mean + MAD + flag) is
  * inherently two-pass — deviations need the final mean — so the online
  * part is exactly the stateful stage (the lag), and the panel runs as
  * `EventUsers.regularityOfGaps` over the accumulated gap stream: a
  * production ingest appends gaps to storage continuously and evaluates
  * the gate on whatever horizon it audits. StreamRegularitySpec pins
  * both layers: streamed gaps == batch lag-window gaps, and the panel
  * over them == events_bot_regularity row for row.
  *
  * Assumes per-user event-time-ordered delivery across micro-batches
  * (same contract as StreamFunnel/StreamMarkov); within a batch rows are
  * sorted by (ts_us, event_id).
  */
object StreamRegularity {

  case class Ev(user_id: Long, ts_us: Long, event_id: Long)
  case class Prev(ts_us: Long, event_id: Long)
  case class Gap(user_id: Long, gap: Long)

  /** Raw (user, gap) stream via flatMapGroupsWithState. */
  def gaps(ev: Dataset[Ev]): Dataset[Gap] = {
    implicit val stEnc = Encoders.product[Prev]
    implicit val outEnc = Encoders.product[Gap]
    ev.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[Prev, Gap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Gap]
          sorted.foreach { e =>
            last.foreach(l => out += Gap(uid, e.ts_us - l.ts_us))
            last = Some(Prev(e.ts_us, e.event_id))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
