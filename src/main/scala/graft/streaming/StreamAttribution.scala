package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming last-touch attribution: the online form of the batch
  * EventUsers.attribution. State per user is the latest click's
  * (event_id, ts_us) — one tuple, so the state store is O(users) —
  * and each arriving purchase is attributed against it immediately
  * (append output; an attribution never needs retraction because the
  * carried click can only move FORWARD in event time).
  *
  * Same ordered-delivery contract as StreamMarkov/StreamFunnel:
  * per-user event-time order across micro-batches; within a batch rows
  * are sorted by (ts_us, event_id). Under it the emitted attribution
  * set equals the batch window operator's exactly
  * (StreamAttributionSpec). */
object StreamAttribution {

  case class Ev(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class LastClick(event_id: Long, ts_us: Long)
  case class Attribution(event_id: Long, user_id: Long, click_id: Long, gap_us: Long)

  /** Attributed purchases via flatMapGroupsWithState. `lookbackUs`
    * mirrors EventUsers.AttributionWindowUs. */
  def attributions(ev: Dataset[Ev],
                   lookbackUs: Long = graft.operators.EventUsers.AttributionWindowUs)
      : Dataset[Attribution] = {
    implicit val stEnc = Encoders.product[LastClick]
    implicit val outEnc = Encoders.product[Attribution]
    ev.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Attribution]
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              last.foreach { c =>
                if (e.ts_us - c.ts_us <= lookbackUs)
                  out += Attribution(e.event_id, uid, c.event_id, e.ts_us - c.ts_us)
              }
            if (e.event_type == "click") last = Some(LastClick(e.event_id, e.ts_us))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
