package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.operators.Stateful
import graft.operators.Stateful.Outcome
import graft.streaming.Sessions.{CorrEvent, CorrPair}

/** J1 correlation ([[Stateful.correlateStep]]) on the `transformWithState`
  * API (Spark 4 arbitrary stateful processing — the SURVEY §2.10 "upgrade
  * path" from flatMapGroupsWithState): the pending request in a
  * `ValueState` slot + a registered processing-time timer per pending
  * request for the residue flush. `emit` maps each outcome, including the
  * timer's flush, to output rows. Requires the RocksDB state store
  * provider (`spark.sql.streaming.stateStore.providerClass`).
  */
class CorrelateProcessor[T, O](timeoutMs: Long, msgEnc: Encoder[T],
    orderOf: T => Long, isRequest: T => Boolean)(emit: (String, Outcome[T]) => Iterator[O])
    extends StatefulProcessor[String, T, O] {

  @transient private var pending: ValueState[T] = _
  // Expiry timestamp of the timer registered for the pending request. Kept so
  // a match can deleteTimer() it — otherwise the stale timer fires while a
  // LATER request is pending on the same key and flushes it spuriously.
  @transient private var expiry: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pending = getHandle.getValueState[T]("pending", msgEnc, TTLConfig.NONE)
    expiry = getHandle.getValueState[Long]("expiry",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[T],
      timerValues: TimerValues): Iterator[O] = {
    val prior = if (pending.exists()) Some(pending.get()) else None
    val (next, outs) =
      Stateful.correlateStep(prior, rows.toSeq.sortBy(orderOf).iterator, isRequest)
    // a new pending request (or none) retires the old request's timer
    if (next != prior) {
      if (expiry.exists()) { getHandle.deleteTimer(expiry.get()); expiry.clear() }
      next match {
        case Some(req) =>
          pending.update(req)
          val at = timerValues.getCurrentProcessingTimeInMs() + timeoutMs
          expiry.update(at)
          getHandle.registerTimer(at)
        case None => pending.clear()
      }
    }
    outs.iterator.flatMap(emit(key, _))
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    // K3 residue flush: unmatched request aged out. Guard against a stale
    // timer racing a newer pending request: only flush if this expiry is the
    // one registered for the currently pending request.
    val isCurrent = pending.exists() && expiry.exists() &&
      expiry.get() == expiredTimerInfo.getExpiryTimeInMs()
    if (isCurrent) {
      val out = emit(key, (Some(pending.get()), None))
      pending.clear(); expiry.clear()
      out
    } else Iterator.empty
  }
}

object CorrelateTws {
  def correlate(events: Dataset[CorrEvent], timeoutMs: Long): Dataset[CorrPair] = {
    implicit val pairEnc: Encoder[CorrPair] = Encoders.product[CorrPair]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    events
      .groupByKey(_.key)
      .transformWithState(
        new CorrelateProcessor[CorrEvent, CorrPair](timeoutMs, Encoders.product[CorrEvent],
          _.frame, _.isRequest)((key, o) => Iterator(Sessions.corrPair(key, o)(_.frame))),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
