package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import graft.etl.{Sigshark, TcapPkt, TcapSessState}
import graft.etl.Sigshark.Transaction

/** Streaming TCAP transaction sessionization (§2.10 analog of the batch
  * [[Sigshark.sessionize]]) on the `transformWithState` API: the SAME
  * incremental machine ([[Sigshark.stepTcap]]), keyed by capture file,
  * with still-open transactions and the tid-alias map carried in state —
  * a begin in one micro-batch closed by an end in a later one emits
  * exactly the batch machine's transaction.
  *
  * A sliding inactivity timer per capture file is the streaming analog of
  * the batch EOF flush: every micro-batch that brings packets for the key
  * deletes the previously registered timer and registers
  * `now + timeoutMs`, so the flush fires only after true inactivity; on
  * expiry the carried state surfaces (only) under `keepPartial`,
  * mirroring sigshark's `--incomplete`. Requires the RocksDB state store
  * provider (`spark.sql.streaming.stateStore.providerClass`).
  */
class TcapProcessor(timeoutMs: Long, keepPartial: Boolean)
    extends StatefulProcessor[String, TcapPkt, Transaction] {

  @transient private var sess: ValueState[TcapSessState] = _
  // Expiry of the currently registered timer, so each batch can delete
  // it before sliding — a leaked stale timer would flush a live session.
  @transient private var expiry: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sess = getHandle.getValueState[TcapSessState]("sess",
      Encoders.product[TcapSessState], TTLConfig.NONE)
    expiry = getHandle.getValueState[Long]("expiry",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[TcapPkt],
      timerValues: TimerValues): Iterator[Transaction] = {
    val prior = if (sess.exists()) sess.get() else TcapSessState(Nil, Map.empty)
    val (next, done) =
      Sigshark.stepTcap(prior, rows.toSeq.sortBy(_.frameNo), keepPartial)
    if (expiry.exists()) { getHandle.deleteTimer(expiry.get()); expiry.clear() }
    if (next.open.isEmpty && next.alias.isEmpty) sess.clear()
    else {
      sess.update(next)
      val at = timerValues.getCurrentProcessingTimeInMs() + timeoutMs
      expiry.update(at)
      getHandle.registerTimer(at)
    }
    done.iterator
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Transaction] = {
    // flush only if this is the currently armed timer (not a stale one
    // racing a session that re-armed after this expiry was registered)
    val isCurrent = sess.exists() && expiry.exists() &&
      expiry.get() == expiredTimerInfo.getExpiryTimeInMs()
    if (isCurrent) {
      val out = Sigshark.flushTcap(sess.get(), keepPartial).iterator
      sess.clear(); expiry.clear()
      out
    } else Iterator.empty
  }
}

object TcapTws {
  def transactions(pkts: Dataset[TcapPkt], timeoutMs: Long,
      keepPartial: Boolean = false): Dataset[Transaction] = {
    implicit val txEnc: org.apache.spark.sql.Encoder[Transaction] =
      Encoders.product[Transaction]
    implicit val strEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    pkts
      .groupByKey(_.pcapFilename)
      .transformWithState(new TcapProcessor(timeoutMs, keepPartial),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
