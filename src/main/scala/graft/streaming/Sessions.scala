package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

import graft.operators.Stateful.Outcome
import graft.streaming.GroupStep.{EventTime, ProcessingTime}

/** [[Sessions.correlateEventTime]] input: a correlation event with its
  * event-time column (top-level for encoder codegen). */
final case class TimedCorrEvent(key: String, isRequest: Boolean, frame: Long,
    eventTime: java.sql.Timestamp)

/** Streaming statefuls (SURVEY §2.10): the reference is batch-per-file
  * with dicts flushed at EOF; the streaming extension closes state by
  * *timeout* instead of EOF — `flatMapGroupsWithState` timeouts
  * ([[GroupStep]]) stand in for the dict + residual flush (K3,
  * `diameter.py:580-589`). Documented as an extension: the reference
  * defines no late-data policy.
  *
  * Works on both batch and streaming Datasets (on batch, Spark runs the
  * same state machine with a final implicit flush — semantics match the
  * reference's per-file EOF flush exactly).
  */
object Sessions {

  /** Generic gap-based session record. */
  final case class SessionEvent(key: Long, tsMicros: Long, id: Long, value: Double)
  final case class SessionSummary(key: Long, sessionStart: Long, sessionEnd: Long, nEvents: Long, sumValue: Double)
  final case class SessionBuf(start: Long, end: Long, n: Long, sum: Double)

  /** J7-style sessionization: a session closes when `gapMicros` elapses
    * between consecutive events of the same key (event-time order is the
    * arrival order within the group — batch callers must sort upstream or
    * accept arrival order, matching the reference's frame-order
    * semantics). */
  /** `flushAtEnd = true` is the batch mode: the trailing open session is
    * emitted when the group's data ends (the reference's per-file EOF
    * flush); in streaming mode (`false`) it stays in state and closes via
    * the processing-time timeout. */
  def sessionize(events: Dataset[SessionEvent], gapMicros: Long, flushAtEnd: Boolean = false)(
      implicit e1: Encoder[SessionSummary], e2: Encoder[SessionBuf], e3: Encoder[Long]): Dataset[SessionSummary] = {
    def summary(key: Long, b: SessionBuf) = SessionSummary(key, b.start, b.end, b.n, b.sum)
    GroupStep.run(events.groupByKey(_.key), ProcessingTime[SessionBuf](gapMicros / 1000 + 1)) {
      (key: Long, prior: Option[SessionBuf], it: Iterator[SessionEvent]) =>
        val closed = Seq.newBuilder[SessionSummary]
        var buf = prior.orNull
        for (ev <- it.toSeq.sortBy(e => (e.tsMicros, e.id))) {
          if (buf == null) buf = SessionBuf(ev.tsMicros, ev.tsMicros, 0L, 0.0)
          else if (ev.tsMicros - buf.end > gapMicros) {
            closed += summary(key, buf)
            buf = SessionBuf(ev.tsMicros, ev.tsMicros, 0L, 0.0)
          }
          buf = buf.copy(end = ev.tsMicros, n = buf.n + 1, sum = buf.sum + ev.value)
        }
        if (flushAtEnd && buf != null) {
          closed += summary(key, buf)
          buf = null
        }
        (Option(buf), closed.result().iterator)
    } { (key, b) => Iterator(summary(key, b)) }
  }

  /** J1 event and output pair: request stored per key, answer emits the
    * correlated pair; unmatched requests flush on state timeout (the
    * streaming analog of the EOF residue flush). */
  final case class CorrEvent(key: String, isRequest: Boolean, frame: Long, payload: String)
  final case class CorrPair(key: String, reqFrame: Long, resFrame: Long, matched: Boolean)

  /** One J1 outcome as a [[CorrPair]]; a missing side's frame is -1. */
  private[streaming] def corrPair[T](key: String, o: Outcome[T])(frame: T => Long): CorrPair =
    CorrPair(key, o._1.fold(-1L)(frame), o._2.fold(-1L)(frame), o._1.isDefined && o._2.isDefined)

  /** J1 on EVENT time: the unmatched-request flush fires when the
    * WATERMARK passes request-time + timeout, not when a wall clock
    * does — so a 100 TB backfill replayed at full speed produces exactly
    * the rows the live stream did (processing-time flushes cannot make
    * that promise). The state machine is
    * [[graft.operators.Stateful.correlateStep]]. */
  def correlateEventTime(events: Dataset[TimedCorrEvent], watermarkDelay: String,
      timeoutMs: Long)(
      implicit e1: Encoder[CorrPair], e2: Encoder[TimedCorrEvent],
      e3: Encoder[String]): Dataset[CorrPair] =
    GroupStep.correlate(
      events.withWatermark("eventTime", watermarkDelay).groupByKey(_.key),
      EventTime[TimedCorrEvent](_.eventTime.getTime + timeoutMs))(
      _.frame, _.isRequest) { (key, o) => Iterator(corrPair(key, o)(_.frame)) }
}
