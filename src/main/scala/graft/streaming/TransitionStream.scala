package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming Markov transition mining — the streaming twin of the batch
  * `EventOps.transitions` (q84): emit a (from_type, to_type) pair for every
  * consecutive same-user event pair at most `GapSeconds` (30 min) apart.
  *
  * Batch gets consecutiveness from a lag window; a stream keeps the ONE
  * row lag needs as state: per user, the last seen (second, id, type) —
  * O(active users) forever, the smallest state any stateful op here
  * carries. Pairs are emitted in Append mode as soon as the second event
  * arrives; a downstream `groupBy(from, to).count` (or the sink itself)
  * accumulates the transition matrix incrementally.
  *
  * Ordering matches the batch contract: second-grain with event_id as the
  * stable tiebreaker. Within a micro-batch events are sorted on that key
  * (arrival order inside a batch is not time order); across micro-batches
  * the fold follows arrival, so with batches delivered in time order —
  * the parity spec's setup, and what a watermarked source provides — the
  * emitted pair multiset is EXACTLY the batch operator's. An event
  * arriving in a LATER batch but ordered BEFORE the stored lag row (a
  * cross-batch late arrival — this op carries no watermark to drop it
  * upstream) is discarded rather than emitted: the state is monotone per
  * user, so late data can neither invert a pair's direction nor regress
  * the last-touch attribution state (round-13 review fix; same rule in
  * both state functions).
  */
object TransitionStream {

  case class Ev(user_id: Long, event_id: Long, event_type: String, ts: Timestamp)

  /** The lag row: last seen (second, id, type) for the user. */
  case class LastEv(tsec: Long, id: Long, typ: String)

  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Session gap of both faces, the batch twins' own. */
  private val GapSeconds = graft.ops.EventOps.SessionGapSeconds

  /** events(user_id, event_id, event_type, ts) -> stream of transition
    * pairs, one per qualifying consecutive event pair.
    */
  def transitions(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("user_id", "event_id", "event_type", "ts")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        stateFn)
  }

  private def stateFn(
      userId: Long, events: Iterator[Ev],
      state: GroupState[LastEv]): Iterator[Transition] = {
    val sorted = events
      .map(e => LastEv(e.ts.getTime / 1000L, e.event_id, e.event_type)).toArray
      .sortBy(e => (e.tsec, e.id))
    val out = Vector.newBuilder[Transition]
    var last = state.getOption
    sorted.foreach { e =>
      last match {
        case Some(p) if e.tsec < p.tsec || (e.tsec == p.tsec && e.id < p.id) =>
          // cross-batch LATE arrival: an event ordered before the stored
          // lag row (impossible within a batch — the sort above — so the
          // stored row is from an earlier micro-batch). Without this guard
          // the negative delta passes <= GapSeconds, emitting an INVERTED
          // pair (from an event that happened after the to-event) and
          // regressing the state so the next pair is wrong too. Dropping
          // it is the same monotone-per-user contract attributionFn
          // enforces; batch (total-order lag) never faces the case.
          ()
        case Some(p) if e.tsec - p.tsec <= GapSeconds =>
          out += Transition(userId, p.typ, e.typ)
          last = Some(e)
        case _ => // first event, or the gap broke the session: no pair
          last = Some(e)
      }
    }
    last.foreach(state.update)
    out.result().iterator
  }

  case class AttributedConversion(user_id: Long, attributed: String,
                                  value: Double)

  /** Streaming last-touch attribution — the streaming twin of the batch
    * `EventOps.lastTouchAttribution` (q92), sharing [[transitions]]' state
    * shape: per user the last NON-target (second, id, type) row. A target ("purchase")
    * event emits its attribution the moment it arrives ("direct" when the
    * last touch is absent or stale); non-target events just refresh the
    * state. Same ordering contract and micro-batch assumptions as
    * [[transitions]].
    */
  def attributions(events: DataFrame): Dataset[AttributedConversion] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("user_id", "event_id", "event_type", "ts", "value")
      .as[(Long, Long, String, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        attributionFn)
  }

  private def attributionFn(
      userId: Long, events: Iterator[(Long, Long, String, Timestamp, Double)],
      state: GroupState[LastEv]): Iterator[AttributedConversion] = {
    val sorted = events
      .map { case (_, id, ty, ts, v) => (ts.getTime / 1000L, id, ty, v) }
      .toArray.sortBy(e => (e._1, e._2))
    val out = Vector.newBuilder[AttributedConversion]
    var last = state.getOption
    sorted.foreach { case (tsec, id, ty, v) =>
      if (ty == "purchase") {
        val attributed = last match {
          // tsec >= p.tsec: a conversion that arrived in a LATER micro-
          // batch than a touch that happened AFTER it (cross-batch late
          // arrival) must not be credited to that future touch — the
          // negative delta trivially passes <= GapSeconds without the
          // lower bound, and "direct" is the batch operator's answer for
          // a conversion with no prior touch in the gap
          case Some(p) if tsec >= p.tsec && tsec - p.tsec <= GapSeconds => p.typ
          case _ => "direct"
        }
        out += AttributedConversion(userId, attributed, v)
      } else {
        // monotone-per-user state: a touch OLDER than the stored one
        // (cross-batch late arrival) must not regress the last-touch
        // state — a later conversion would be credited to the stale
        // channel, where batch credits the most recent prior touch
        if (last.forall(p => tsec > p.tsec || (tsec == p.tsec && id >= p.id)))
          last = Some(LastEv(tsec, id, ty))
      }
    }
    last.foreach(state.update)
    out.result().iterator
  }
}
