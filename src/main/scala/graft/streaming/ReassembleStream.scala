package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import graft.etl.Diameter
import graft.operators.Stateful
import graft.operators.Stateful.{Piece, Stash}

/** One transport segment of a flow, as fed to the streaming reassembler.
  * `eventTime` is the capture timestamp (the watermark column). */
final case class SegEvent(
    flowKey: String,
    frame: Long,
    eventTime: java.sql.Timestamp,
    payload: Array[Byte])

/** A fully reassembled + decoded message ready for correlation.
  * `key` is the J1 correlation key; `eventTime` is the first segment's
  * timestamp, re-declared as the event-time column for the downstream
  * stateful operator. */
final case class AsmMsg(
    key: String,
    isRequest: Boolean,
    firstFrame: Long,
    framesList: String,
    eventTime: java.sql.Timestamp)

/** Correlated output pair; `reqFrames`/`resFrames` are the space-joined
  * source frames of each side (F20), proving multi-segment reassembly. */
final case class AsmPair(
    key: String,
    reqFrames: String,
    resFrames: String,
    matched: Boolean)

/** Streaming R1/R2 reassembly for one flow key: the
  * [[Stateful.reassembleStep]] stash carried in a `transformWithState`
  * `ValueState`, so a message split across *micro-batches* — not just
  * across segments within one batch — still assembles. Each assembled
  * message is decoded to an [[AsmMsg]]; a buffer whose declared length is
  * undecidable is emitted as-is (decode fails → quarantined, the
  * reference's path), which also bounds state on garbage flows.
  */
class DiameterReassembleProcessor
    extends StatefulProcessor[String, SegEvent, AsmMsg] {

  @transient private var stash: ValueState[Stash] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    stash = getHandle.getValueState[Stash]("stash",
      Encoders.product[Stash], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SegEvent],
      timerValues: TimerValues): Iterator[AsmMsg] = {
    val prior = if (stash.exists()) stash.get() else Stash.Empty
    val pieces = rows.toSeq.sortBy(_.frame).iterator.map { seg =>
      val ms = seg.eventTime.getTime
      Piece(seg.frame, ms / 1000, (ms % 1000 * 1000).toInt, "", "", key, seg.payload)
    }
    val (next, done) = Stateful.reassembleStep(prior, pieces, Diameter.expectedLength)
    if (next.buf.isEmpty) stash.clear() else stash.update(next)
    done.iterator.flatMap { a =>
      Diameter.decode(a.payload)
        .filter(_.commandCode != Diameter.CmdDeviceWatchdog)
        .map(m => AsmMsg(s"${m.commandCode}_${m.hopByHopId}_${m.endToEndId}_${m.sessionId}",
          m.request, a.firstFrame, a.framesList,
          new java.sql.Timestamp(a.tsSec * 1000 + a.tsUsec / 1000)))
    }
  }
}

/** The chained streaming pipeline NEXT.md #1 / round-1 verdict #7 asked
  * for: R1/R2 reassembly *then* J1 correlation as two stateful operators
  * in ONE streaming query. Chaining two stateful operators in append mode
  * requires the first to re-declare an event-time column on its output —
  * the `transformWithState(processor, eventTimeColumnName, outputMode)`
  * overload — so the watermark propagates to the second.
  *
  * The batch path keeps its two `flatMapGroups` stages
  * (`DiameterPipeline`); this is the streaming analog with state carried
  * across micro-batches instead of per-file EOF flushes.
  */
object ReassembleStream {

  def diameterPairs(
      segs: Dataset[SegEvent],
      watermarkDelay: String = "1 hour",
      timeoutMs: Long = 60000): Dataset[AsmPair] = {
    implicit val segEnc: org.apache.spark.sql.Encoder[SegEvent] = Encoders.product[SegEvent]
    implicit val msgEnc: org.apache.spark.sql.Encoder[AsmMsg] = Encoders.product[AsmMsg]
    implicit val pairEnc: org.apache.spark.sql.Encoder[AsmPair] = Encoders.product[AsmPair]
    implicit val strEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    segs
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(_.flowKey)
      .transformWithState(new DiameterReassembleProcessor,
        "eventTime", OutputMode.Append())
      .groupByKey(_.key)
      .transformWithState(
        new CorrelateProcessor[AsmMsg, AsmPair](timeoutMs, msgEnc, _.firstFrame, _.isRequest)(
          (key, o) => Iterator(AsmPair(key, o._1.fold("")(_.framesList),
            o._2.fold("")(_.framesList), o._1.isDefined && o._2.isDefined))),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
