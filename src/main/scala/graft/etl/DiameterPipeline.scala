package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.operators.Stateful
import graft.operators.Stateful.{Assembled, Piece}
import graft.sources.Pcap

/** End-to-end Diameter ingestion (SURVEY §3.1), Spark-shaped:
  *
  * {{{
  * pcap frames → decode L2-L4 (narrow) → filter chain (narrow)
  *   → Exchange(flow key) → reassembly (flatMapGroups)
  *   → Exchange(correlation key) → correlation+enrichment (flatMapGroups)
  * }}}
  *
  * Two shuffles total, both on keys whose cardinality grows with traffic
  * (flows / transactions), never a global ordering step. The per-file
  * frame counter provides in-group order (§7.3 #1).
  */
/** SCTP flow key for R1 (stream id, stream seq, endpoints, file) —
  * `diameter.py:52-71`. */
final case class SctpFlowKey(
    file: String, srcIp: String, dstIp: String, streamId: Int, streamSeq: Int)

/** TCP flow key for R2 (4-tuple + ack, file) — `diameter.py:74-96`. */
final case class TcpFlowKey(
    file: String, srcIp: String, dstIp: String, srcPort: Int, dstPort: Int, ack: Long)

/** J1 correlation key — `diameter.py:30-49`. */
final case class CorrKey(
    file: String, commandCode: Int, hopByHopId: Long, endToEndId: Long, sessionId: String)

object DiameterPipeline {

  def records(spark: SparkSession, path: String): Dataset[DiameterRec] = {
    import spark.implicits._

    val pkts = Pcap.frames(spark, path)
      .flatMap(Packets.decode _)
      .filter(p => p.srcPort == Diameter.Port || p.dstPort == Diameter.Port)

    // SCTP branch: chunk explode (R7) → DATA filter (P8) → R1 reassembly
    val sctpAssembled = pkts
      .filter(_.ipProto == Packets.ProtoSctp)
      .flatMap(Packets.sctpChunks _)
      .filter(c => c.chunkType == 0 && c.payload.nonEmpty)
      .groupByKey(c => SctpFlowKey(c.pcapFilename, c.srcIp, c.dstIp, c.streamId, c.streamSeq))
      .flatMapGroups { (_, it) =>
        Stateful.reassemble(
          it.map(c => Piece(c.frameNo, c.tsSec, c.tsUsec, c.srcIp, c.dstIp, c.pcapFilename, c.payload)).toSeq,
          Diameter.expectedLength)
      }

    // TCP branch: ACK/PSH+ACK only (P5), non-empty payload (P6) → R2
    val tcpAssembled = pkts
      .filter(p => p.ipProto == Packets.ProtoTcp
        && (p.tcpFlags == 16 || p.tcpFlags == 24) && p.payload.nonEmpty)
      .groupByKey(p => TcpFlowKey(p.pcapFilename, p.srcIp, p.dstIp, p.srcPort, p.dstPort, p.tcpAck))
      .flatMapGroups { (_, it) =>
        Stateful.reassemble(
          it.map(p => Piece(p.frameNo, p.tsSec, p.tsUsec, p.srcIp, p.dstIp, p.pcapFilename, p.payload)).toSeq,
          Diameter.expectedLength)
      }

    val decoded = sctpAssembled.union(tcpAssembled)
      .flatMap { a: Assembled =>
        Diameter.decode(a.payload)
          .filter(_.commandCode != Diameter.CmdDeviceWatchdog) // P7
          .map(m => DiameterRec(a.framesList, a.tsSec, a.tsUsec, a.srcIp, a.dstIp,
            a.pcapFilename, m.request, m.commandCode, m.hopByHopId, m.endToEndId,
            m.sessionId, m.originHost, m.originRealm, m.destinationHost,
            m.destinationRealm, m.resultCode, m.expResultCode, m.msisdn, m.imsi))
      }

    // J1: correlation + bidirectional msisdn/imsi fill + residue flush
    decoded
      .groupByKey(r => CorrKey(r.pcapFilename, r.commandCode, r.hopByHopId, r.endToEndId, r.sessionId))
      .flatMapGroups { (_, it) =>
        Stateful.correlate[DiameterRec](
          it.toSeq,
          orderOf = _.framesList.split(" ").head.toLong,
          isRequest = _.request,
          merge = enrich)
      }
  }

  /** J1 bidirectional msisdn/imsi fill of a matched (request, answer). */
  def enrich(req: DiameterRec, res: DiameterRec): (DiameterRec, DiameterRec) = {
    val msisdn = if (req.msisdn.nonEmpty) req.msisdn else res.msisdn
    val imsi = if (req.imsi.nonEmpty) req.imsi else res.imsi
    (req.copy(msisdn = msisdn, imsi = imsi), res.copy(msisdn = msisdn, imsi = imsi))
  }
}
