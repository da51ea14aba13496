package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Stateful
import graft.operators.Stateful.Outcome

/** Runs an incremental state machine — a step from the prior state plus
  * one micro-batch of a key's rows to the next state plus emissions, and
  * a flush for state that times out — under `flatMapGroupsWithState`.
  *
  * `GroupState` clears a group's timeout on every call unless the
  * function sets it again, so the timeout is re-armed on every call that
  * leaves state behind, not only on the call that created it.
  */
private[streaming] object GroupStep {

  /** When carried state times out. */
  sealed trait Clock[S] extends Serializable
  /** After `timeoutMs` of processing time without input for the key. */
  final case class ProcessingTime[S](timeoutMs: Long) extends Clock[S]
  /** When the watermark passes `deadline(state)` (epoch ms). */
  final case class EventTime[S](deadline: S => Long) extends Clock[S]

  def run[K, V, S: Encoder, U: Encoder](grouped: KeyValueGroupedDataset[K, V], clock: Clock[S])(
      step: (K, Option[S], Iterator[V]) => (Option[S], Iterator[U]))(
      flush: (K, S) => Iterator[U]): Dataset[U] = {
    val timeout = clock match {
      case ProcessingTime(_) => GroupStateTimeout.ProcessingTimeTimeout
      case EventTime(_) => GroupStateTimeout.EventTimeTimeout
    }
    grouped.flatMapGroupsWithState[S, U](OutputMode.Append, timeout) {
      (key: K, rows: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          flush(key, s)
        } else {
          val prior = state.getOption
          val (next, out) = step(key, prior, rows)
          (next, clock) match {
            case (None, _) =>
              state.remove()
              out
            case (Some(s), ProcessingTime(ms)) =>
              state.update(s)
              state.setTimeoutDuration(ms)
              out
            case (Some(s), EventTime(deadline)) =>
              val at = deadline(s)
              // a state carried from an earlier batch whose deadline the
              // watermark passed while its key kept receiving input (so no
              // timeout call came) is due now; Spark rejects a timeout
              // behind the watermark. A state born in this batch holds a
              // row the watermark has not passed (late rows never arrive).
              if (prior.isDefined && at < state.getCurrentWatermarkMs()) {
                state.remove()
                out ++ flush(key, s)
              } else {
                state.update(s)
                state.setTimeoutTimestamp(at)
                out
              }
          }
        }
    }
  }

  /** J1 ([[Stateful.correlateStep]]) under [[run]]: the state is the
    * pending request; `emit` maps every outcome, including the timed-out
    * request's flush, to output rows. */
  def correlate[K, V: Encoder, U: Encoder](grouped: KeyValueGroupedDataset[K, V], clock: Clock[V])(
      orderOf: V => Long, isRequest: V => Boolean)(
      emit: (K, Outcome[V]) => Iterator[U]): Dataset[U] =
    run(grouped, clock) { (key, prior, rows) =>
      val (next, outs) = Stateful.correlateStep(prior, rows.toSeq.sortBy(orderOf).iterator, isRequest)
      (next, outs.iterator.flatMap(emit(key, _)))
    } { (key, req) => emit(key, (Some(req), None)) }
}
