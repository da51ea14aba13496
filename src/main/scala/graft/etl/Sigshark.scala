package graft.etl

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.Stateful
import graft.sources.{Frame, Pcap, PcapWriter}

/** sigshark tool parity (SURVEY §2: J7, O1-O3, K5; `sigshark.py`):
  * group a capture's frames into protocol transactions, emit a new pcap
  * with transactions contiguous and ordered by start time (optionally
  * with 16-zero-byte separators), or restore global frame order.
  *
  * Transaction tracking here covers the Diameter rule (request opens,
  * answer closes — `sigshark.py:521-539`); the TCAP variant shares the
  * same machinery keyed on tids. `--incomplete` parity: `keepPartial`
  * keeps transactions that never saw their close.
  *
  * The final pcap write is a tool-parity path: frame lists are small
  * relative to the cluster (they are per-file), so the sorted frame
  * index is collected to the driver and the bytes streamed out — the
  * distributed part is the decode + sessionization.
  */
/** One still-open TCAP transaction carried across machine steps (and
  * micro-batches in the streaming mode). Top-level for encoder codegen. */
final case class TcapOpen(key: String, startTsSec: Long, startUsec: Int, frames: Seq[Long])

/** Carried TCAP machine state: open transactions in insertion order plus
  * the bidirectional tid-alias map. */
final case class TcapSessState(open: Seq[TcapOpen], alias: Map[String, String])

object Sigshark {

  /** One tracked transaction: ordered frame numbers + start timestamp. */
  final case class Transaction(key: String, startTsSec: Long, startUsec: Int, frames: Seq[Long])

  /** J7 Diameter transaction tracking (`sigshark.py:521-539`): request
    * opens a transaction at (command, hop-by-hop, end-to-end, session),
    * the answer closes it. Runs per capture file as a flatMapGroups
    * state machine on executors — same shape as [[tcapTransactions]],
    * no driver collect (a multi-GB capture never funnels through the
    * driver; only the final pcap-write in [[run]] does, tool-parity). */
  def diameterTransactions(spark: SparkSession, path: String,
      keepPartial: Boolean = false): Dataset[Transaction] = {
    import spark.implicits._
    DiameterPipeline.records(spark, path)
      .groupByKey(_.pcapFilename)
      .flatMapGroups { (_, it) => runDiameterMachine(it.toSeq, keepPartial) }
  }

  private[graft] def runDiameterMachine(recs: Seq[DiameterRec],
      keepPartial: Boolean): Iterator[Transaction] = {
    recs
      .groupBy(r => s"${r.commandCode}|${r.hopByHopId}|${r.endToEndId}|${r.sessionId}")
      .iterator
      .flatMap { case (key, rows) =>
        val sorted = rows.sortBy(r => (r.timeEpoch, r.usecondsEpoch))
        val frames = sorted.flatMap(_.framesList.split(" ").map(_.toLong))
        val complete = rows.exists(!_.request) // an answer closed it
        if (complete || keepPartial)
          Some(Transaction(key, sorted.head.timeEpoch, sorted.head.usecondsEpoch, frames))
        else None
      }
  }

  /** J7 TCAP transaction tracking (`sigshark.py:458-520`) — the tool's
    * main use case. BEGIN opens a transaction at okey = cgssn_cgpa_otid;
    * CONTINUE appends frames via okey or dkey (= cdssn_cdpa_dtid) and on
    * first sight records the bidirectional tid-alias pair; END/ABORT
    * closes via dkey directly or through the alias map. `keepPartial`
    * mirrors `--incomplete`: orphan continues open a transaction, orphan
    * ends emit a one-frame transaction, and still-open transactions flush
    * at EOF. Runs per capture file as a flatMapGroups state machine over
    * frame-ordered packets — distributed by file, no driver collect. */
  /** `excludeCidrs` = sigshark `--exclude-ip`; `displayFilter` is the
    * engine's replacement for the tool's tshark display filter — any SQL
    * predicate over the [[TcapPkt]] columns, applied before the machine
    * (`sigshark.py:557-576` applies both inside the transaction scan). */
  def tcapTransactions(spark: SparkSession, path: String,
      keepPartial: Boolean = false, excludeCidrs: Seq[String] = Nil,
      displayFilter: Option[String] = None): Dataset[Transaction] = {
    val pkts = GsmMapPipeline.tcapPackets(spark, path, excludeCidrs)
    sessionize(displayFilter.fold(pkts)(f =>
      pkts.filter(org.apache.spark.sql.functions.expr(f))), keepPartial)
  }

  /** J7 machine over an arbitrary [[TcapPkt]] dataset (decoupled from the
    * pcap pipeline so synthesized packet streams — e.g. the q26 oracle
    * query — exercise the identical executor-side state machine). */
  def sessionize(pkts: Dataset[TcapPkt],
      keepPartial: Boolean = false): Dataset[Transaction] = {
    import pkts.sparkSession.implicits._
    pkts
      .groupByKey(_.pcapFilename)
      .flatMapGroups { (_, it) =>
        runTcapMachine(it.toArray.sortBy(_.frameNo), keepPartial)
      }
  }

  /** Incremental step over a packet sequence from a prior state: returns
    * the carried-forward state (still-open transactions + tid-alias map)
    * and the transactions closed by this sequence. Shared verbatim by the
    * batch machine ([[runTcapMachine]] = step from empty + EOF flush) and
    * the streaming operator (`streaming.TcapTws`, state spanning
    * micro-batches) — one implementation, two execution modes, the same
    * discipline as `Stateful.reassembleStep`/`Stateful.correlateStep`. */
  private[graft] def stepTcap(prior: TcapSessState, pkts: Seq[TcapPkt],
      keepPartial: Boolean): (TcapSessState, Seq[Transaction]) = {
    final case class Open(startTsSec: Long, startUsec: Int, frames: mutable.ArrayBuffer[Long])
    val tas = mutable.LinkedHashMap.empty[String, Open]
    prior.open.foreach(o =>
      tas(o.key) = Open(o.startTsSec, o.startUsec, mutable.ArrayBuffer(o.frames: _*)))
    val alias = mutable.HashMap.empty[String, String]
    alias ++= prior.alias
    val done = mutable.ArrayBuffer.empty[Transaction]
    def close(key: String, tx: Open, closingFrames: Seq[Long]): Unit = {
      tx.frames ++= closingFrames
      done += Transaction(key, tx.startTsSec, tx.startUsec, tx.frames.toSeq)
    }
    def linkAlias(okey: String, dkey: String): Unit =
      if (!alias.contains(okey)) { alias(okey) = dkey; alias(dkey) = okey }
    // the tool's fragment expansion (`sigshark.py:460-466`): a
    // reassembled message contributes its fragment frame list, not its
    // own frame number
    def framesOf(p: TcapPkt): Seq[Long] =
      if (p.frameNos.nonEmpty) p.frameNos else Seq(p.frameNo)
    for (p <- pkts) {
      val okey = s"${p.cgSsn}_${p.cgGt}_${p.otid}"
      val dkey = s"${p.cdSsn}_${p.cdGt}_${p.dtid}"
      p.messType match {
        case "begin" =>
          tas(okey) = Open(p.tsSec, p.tsUsec, mutable.ArrayBuffer(framesOf(p): _*))
        case "continue" =>
          if (tas.contains(okey)) {
            tas(okey).frames ++= framesOf(p)
            linkAlias(okey, dkey)
          } else if (tas.contains(dkey)) {
            tas(dkey).frames ++= framesOf(p)
            linkAlias(okey, dkey)
          } else if (keepPartial) {
            tas(okey) = Open(p.tsSec, p.tsUsec, mutable.ArrayBuffer(framesOf(p): _*))
            alias(okey) = dkey
            alias(dkey) = okey
          } // else: missing begin — drop (`sigshark.py:495-498`)
        case "end" | "abort" =>
          if (tas.contains(dkey)) {
            close(dkey, tas.remove(dkey).get, framesOf(p))
            alias.remove(dkey).foreach(alias.remove)
          } else if (alias.contains(dkey)) {
            val okey2 = alias(dkey)
            tas.remove(okey2).foreach(close(okey2, _, framesOf(p)))
            alias.remove(dkey)
            alias.remove(okey2)
          } else if (keepPartial) {
            done += Transaction(dkey, p.tsSec, p.tsUsec, framesOf(p))
          } // else: missing begin — drop
        case _ => ()
      }
    }
    val carried = tas.toSeq.map { case (k, o) =>
      TcapOpen(k, o.startTsSec, o.startUsec, o.frames.toSeq)
    }
    (TcapSessState(carried, alias.toMap), done.toSeq)
  }

  /** EOF flush of a carried state (batch end / streaming timeout):
    * still-open transactions surface only under `keepPartial`. */
  private[graft] def flushTcap(st: TcapSessState,
      keepPartial: Boolean): Seq[Transaction] =
    if (keepPartial) st.open.map(o => Transaction(o.key, o.startTsSec, o.startUsec, o.frames))
    else Seq.empty

  private[graft] def runTcapMachine(pkts: Array[TcapPkt],
      keepPartial: Boolean): Iterator[Transaction] = {
    val (st, done) = stepTcap(TcapSessState(Nil, Map.empty), pkts.toSeq, keepPartial)
    done.iterator ++ flushTcap(st, keepPartial).iterator
  }

  /** End-to-end TCAP tool run (`diameter.sh` sigshark parity): read
    * capture, track TCAP transactions, write the transaction-sorted pcap
    * (optionally with O3 separators).
    *
    * DRIVER CONTRACT (by design, tool parity — one output pcap per
    * run): the returned `Seq[Transaction]` is transaction METADATA
    * collected to the driver; frame PAYLOADS stream in bounded memory
    * ([[streamTransactionSorted]]). Do NOT lift this method into a
    * pipeline over many captures — pipelines should use the
    * distributed Datasets [[tcapTransactions]] /
    * [[diameterTransactions]] and keep everything on executors. */
  def runTcap(spark: SparkSession, inPath: String, outPath: java.nio.file.Path,
      keepPartial: Boolean = false, separators: Boolean = false,
      excludeCidrs: Seq[String] = Nil,
      displayFilter: Option[String] = None): Seq[Transaction] = {
    val txs = tcapTransactions(spark, inPath, keepPartial, excludeCidrs, displayFilter)
      .collect().toSeq
    streamTransactionSorted(spark, inPath, txs, outPath, separators)
    txs
  }

  /** Bounded-memory transaction-sorted pcap write (round-9 verdict: the
    * former `frames.collect()` capped the tool at driver memory). The
    * transaction METADATA is driver-sized by the API contract (it is the
    * return value); the frame PAYLOADS never are: the desired output
    * order becomes a (frameNo, pos) frame, joins the distributed frame
    * payloads, sorts on pos (range-partitioned global sort), and streams
    * to the writer one partition at a time via `toLocalIterator` —
    * byte-identical to [[transactionSortedPcap]] (shared writer core,
    * pinned by SigsharkSpec's streamed-vs-in-memory A/B). */
  private def streamTransactionSorted(spark: SparkSession, inPath: String,
      txs: Seq[Transaction], outPath: java.nio.file.Path,
      separators: Boolean): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val frames = Pcap.frames(spark, inPath)
    val dlt = frames.limit(1).collect().headOption.map(_.dlt).getOrElse(1)
    val order = txs.sortBy(t => (t.startTsSec, t.startUsec, t.key))
      .flatMap(_.frames).zipWithIndex.map { case (no, i) => (no, i.toLong) }
    val sorted = frames.join(order.toDF("frameNo", "pos"), "frameNo")
      .orderBy(col("pos"))
      .select(col("pcapFilename"), col("frameNo"), col("tsSec"), col("tsUsec"),
        col("dlt"), col("data"))
      .as[graft.sources.Frame]
    PcapWriter.streamFile(outPath, dlt, sorted.toLocalIterator().asScala, separators)
  }

  /** O1: transactions ordered by start time, frames contiguous per
    * transaction; O3 separators optional. Returns the rewritten bytes. */
  def transactionSortedPcap(allFrames: Seq[Frame], txs: Seq[Transaction],
      dlt: Int, separators: Boolean = false): Array[Byte] = {
    val byNo = allFrames.map(f => f.frameNo -> f).toMap
    val ordered = txs.sortBy(t => (t.startTsSec, t.startUsec, t.key))
      .flatMap(_.frames).flatMap(byNo.get)
    // renumber so the writer's separator logic sees transaction gaps
    PcapWriter.toBytes(ordered, dlt, separators)
  }

  /** O2: global frame-order restore — flatten all transaction frames and
    * sort ascending (`sigshark.py:595-597`). */
  def globalOrderFrames(txs: Seq[Transaction]): Seq[Long] =
    txs.flatMap(_.frames).sorted

  /** End-to-end tool run: read capture, track transactions, write the
    * transaction-sorted capture. Same DRIVER CONTRACT as [[runTcap]]:
    * the returned transaction metadata is driver-resident by API
    * contract (tool parity); pipeline users take
    * [[diameterTransactions]] instead. */
  def run(spark: SparkSession, inPath: String, outPath: java.nio.file.Path,
      keepPartial: Boolean = false): Seq[Transaction] = {
    val txs = diameterTransactions(spark, inPath, keepPartial).collect().toSeq
    streamTransactionSorted(spark, inPath, txs, outPath, separators = false)
    txs
  }
}
