package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl._
import graft.functions.BinaryCodecs.beLong
import graft.operators.Stateful
import graft.operators.Stateful.{Assembled, Piece}
import graft.sources.{Frame, Pcap, PcapWriter}

/** The pipelines of `graft.etl`, rebuilt from the same public layer
  * functions in the same order, with a [[Probe]] span around each call.
  * The traced run checks that every rebuilt table equals the one the
  * pipeline's own `records` wrote, row for row. */
object Rebuilt {

  private def packets(spark: SparkSession, path: String, probe: Probe): Dataset[Packet] = {
    import spark.implicits._
    Pcap.frames(spark, path).mapPartitions { it =>
      probe.frames[Frame](it, _.data.length).flatMap { f =>
        val p = probe.packets(Packets.decode(f))
        if (p.isDefined) probe.decodedPkts.add(1)
        p
      }
    }
  }

  private def piece(p: Packet): Piece =
    Piece(p.frameNo, p.tsSec, p.tsUsec, p.srcIp, p.dstIp, p.pcapFilename, p.payload)

  def diameter(spark: SparkSession, path: String, probe: Probe): Dataset[DiameterRec] = {
    import spark.implicits._
    val pkts = packets(spark, path, probe)
      .filter(p => p.srcPort == Diameter.Port || p.dstPort == Diameter.Port)
    val sctpAssembled = pkts
      .filter(_.ipProto == Packets.ProtoSctp)
      .flatMap(p => probe.packets(Packets.sctpChunks(p)))
      .filter(c => probe.keep(c.chunkType == 0 && c.payload.nonEmpty))
      .groupByKey(c => SctpFlowKey(c.pcapFilename, c.srcIp, c.dstIp, c.streamId, c.streamSeq))
      .flatMapGroups { (_, it) =>
        val pieces = it.map(c => Piece(c.frameNo, c.tsSec, c.tsUsec, c.srcIp, c.dstIp, c.pcapFilename, c.payload)).toSeq
        probe.group(pieces.size)
        probe.state(Stateful.reassemble(pieces, Diameter.expectedLength).toList).iterator
      }
    val tcpAssembled = pkts
      .filter(p => probe.keep(p.ipProto == Packets.ProtoTcp
        && (p.tcpFlags == 16 || p.tcpFlags == 24) && p.payload.nonEmpty))
      .groupByKey(p => TcpFlowKey(p.pcapFilename, p.srcIp, p.dstIp, p.srcPort, p.dstPort, p.tcpAck))
      .flatMapGroups { (_, it) =>
        val pieces = it.map(piece).toSeq
        probe.group(pieces.size)
        probe.state(Stateful.reassemble(pieces, Diameter.expectedLength).toList).iterator
      }
    sctpAssembled.union(tcpAssembled)
      .flatMap { a: Assembled =>
        val m = probe.decode(Diameter.decode(a.payload))
        if (m.isDefined) probe.useful(a.framesList)
        m.filter(_.commandCode != Diameter.CmdDeviceWatchdog)
          .map(m => DiameterRec(a.framesList, a.tsSec, a.tsUsec, a.srcIp, a.dstIp,
            a.pcapFilename, m.request, m.commandCode, m.hopByHopId, m.endToEndId,
            m.sessionId, m.originHost, m.originRealm, m.destinationHost,
            m.destinationRealm, m.resultCode, m.expResultCode, m.msisdn, m.imsi))
      }
      .groupByKey(r => CorrKey(r.pcapFilename, r.commandCode, r.hopByHopId, r.endToEndId, r.sessionId))
      .flatMapGroups { (_, it) =>
        val rows = it.toSeq
        probe.maxGroup.add(rows.size.toLong)
        probe.state(Stateful.correlate[DiameterRec](rows,
          orderOf = _.framesList.split(" ").head.toLong,
          isRequest = _.request,
          merge = { (req, res) =>
            val msisdn = if (req.msisdn.nonEmpty) req.msisdn else res.msisdn
            val imsi = if (req.imsi.nonEmpty) req.imsi else res.imsi
            (req.copy(msisdn = msisdn, imsi = imsi), res.copy(msisdn = msisdn, imsi = imsi))
          }).toList).iterator
      }
  }

  def ss7map(spark: SparkSession, path: String, probe: Probe): DataFrame = {
    import spark.implicits._
    val sccp = Pcap.frames(spark, path).mapPartitions { it =>
      probe.frames[Frame](it, _.data.length).flatMap { f =>
        if (f.dlt == 141) {
          probe.decode(GsmMap.mtp3Data(f.data).flatMap { case (opc, dpc, data) =>
            GsmMap.sccpParse(opc, dpc, data).map { m =>
              probe.kept.add(1)
              (SctpChunk(f.pcapFilename, f.frameNo, f.tsSec, f.tsUsec,
                "", "", 0, 0, 0, -1, -1, GsmMap.PpidM3ua, data), m)
            }
          }.toSeq)
        } else {
          val pkt = probe.packets(Packets.decode(f))
          if (pkt.isDefined) probe.decodedPkts.add(1)
          val chunks = probe.packets(pkt.toSeq.filter(_.ipProto == Packets.ProtoSctp).flatMap(Packets.sctpChunks _))
            .filter(c => probe.keep(c.chunkType == 0 && c.ppid == GsmMap.PpidM3ua && c.payload.nonEmpty))
          probe.decode(chunks.flatMap { c =>
            GsmMap.m3uaData(c.payload).flatMap { case (opc, dpc, _, data) =>
              GsmMap.sccpParse(opc, dpc, data).map(m => (c, m))
            }
          })
        }
      }
    }
    val direct = sccp.filter(_._2.segmentation.isEmpty)
      .flatMap { case (c, m) => probe.decode(toRow(c, m, m.data, c.frameNo.toString)) }
    val segmented = sccp.filter(_._2.segmentation.isDefined)
      .groupByKey { case (c, m) => SegKey(c.pcapFilename, c.srcIp, c.dstIp, m.segmentation.get._3) }
      .flatMapGroups { (_, it) =>
        val parts = it.toSeq.sortBy(_._1.frameNo)
        probe.group(parts.size)
        val frames = parts.map(_._1.frameNo).mkString(" ")
        probe.state(GsmMap.reassembleSegments(parts.map(_._2))).toSeq.flatMap { data =>
          val (c, m) = parts.head
          val row = probe.decode(toRow(c, m, data, frames))
          if (row.isDefined) probe.useful(frames)
          row
        }
      }
    direct.union(segmented).toDF()
  }

  private def toRow(c: SctpChunk, m: SccpMsg, data: Array[Byte], frames: String): Option[GsmMapPipeline.Ss7Row] =
    GsmMap.tcapParse(data).map { t =>
      GsmMapPipeline.Ss7Row(frames, c.tsSec, c.tsUsec, c.srcIp, c.dstIp, c.pcapFilename,
        m.opc, m.dpc, t.messType, t.tcapTid, t.otid, t.dtid,
        t.gsmComponent, t.gsmOpCode, t.gsmErrorCode, t.imsi, t.msisdn)
    }

  def sip(spark: SparkSession, path: String, probe: Probe): DataFrame = {
    import spark.implicits._
    packets(spark, path, probe)
      .filter(p => probe.keep(p.ipProto == Packets.ProtoUdp && p.srcPort != 53 && p.dstPort != 53))
      .groupByKey(p => (p.pcapFilename, p.srcIp, p.dstIp, p.ipId))
      .flatMapGroups { (_, it) =>
        val frags = it.toSeq
        probe.group(frags.size)
        probe.state(Sip.defragment(frags)).iterator.flatMap { case (framesList, first, payload) =>
          val msg = probe.decode(Sip.parse(framesList, first.frameNo, first.tsSec, first.tsUsec,
            first.srcIp, first.dstIp, first.pcapFilename, new String(payload, UTF_8)))
          if (msg.isDefined) probe.useful(framesList)
          msg
        }
      }
      .toDF()
  }

  def smpp(spark: SparkSession, path: String, probe: Probe): DataFrame = {
    import spark.implicits._
    def pduLen(b: Array[Byte]): Int = if (b.length < 4) Int.MaxValue else beLong(b, 0, 4).toInt
    val rows = packets(spark, path, probe)
      .filter(p => probe.keep(p.ipProto == Packets.ProtoTcp && p.tcpFlags == 24 && p.payload.nonEmpty))
      .groupByKey(p => (p.pcapFilename, p.srcIp, p.srcPort, p.dstIp, p.dstPort))
      .flatMapGroups { (key, it) =>
        val (file, srcIp, srcPort, dstIp, dstPort) = key
        val pieces = it.map(piece).toSeq
        probe.group(pieces.size)
        probe.state(Stateful.reassemble(pieces, pduLen).toList).iterator.flatMap { a =>
          probe.decode(Smpp.decodePdu(a.payload)).map { pdu =>
            probe.useful(a.framesList)
            val isResp = (pdu.commandId & Smpp.RespBit) != 0
            val fwd =
              if (isResp) s"$dstIp:$dstPort>$srcIp:$srcPort"
              else s"$srcIp:$srcPort>$dstIp:$dstPort"
            SmppPipeline.SmppRow(a.framesList, a.firstFrame, a.tsSec, a.tsUsec, srcIp, dstIp, file,
              pdu.commandName, pdu.sequenceNumber, pdu.sourceAddr, pdu.destinationAddr,
              pdu.commandStatus, s"$fwd#${pdu.sequenceNumber}")
          }
        }
      }
      .toDF()
    SmppPipeline.correlateAndDedup(rows).drop("frameNo", "corrKey")
  }

  def gtp(spark: SparkSession, path: String, probe: Probe): DataFrame = {
    import spark.implicits._
    import GtpPipeline.{PortGtpC, PortGtpU}
    val decoded = packets(spark, path, probe)
      .filter(p => probe.keep(p.ipProto == Packets.ProtoUdp
        && (p.srcPort == PortGtpC || p.dstPort == PortGtpC
          || p.srcPort == PortGtpU || p.dstPort == PortGtpU)))
      .flatMap { p =>
        probe.decode(Gtp.decode(p.payload)).map(g => GtpPipeline.GtpRow(p.frameNo.toString, p.frameNo,
          p.tsSec, p.tsUsec, p.srcIp, p.dstIp, p.pcapFilename,
          g.gtpVersion, g.gtpMessage, g.gtpTeid, g.gtpCause, g.gtpSeqNumber,
          g.imsi, g.msisdn))
      }
      .toDF()
    GtpPipeline.enrich(decoded).drop("frameNo")
  }

  /** `Http.messages` with spans; `countUseful` marks every parsed message
    * useful (the http table keeps them all). */
  private def httpMessages(spark: SparkSession, path: String, probe: Probe,
      countUseful: Boolean): Dataset[HttpMsg] = {
    import spark.implicits._
    packets(spark, path, probe)
      .filter(p => probe.keep(p.ipProto == Packets.ProtoTcp
        && (p.tcpFlags == 16 || p.tcpFlags == 24) && p.payload.nonEmpty))
      .groupByKey(p => (p.pcapFilename, p.srcIp, p.srcPort, p.dstIp, p.dstPort))
      .flatMapGroups { (key, it) =>
        val (_, _, srcPort, _, dstPort) = key
        val segs = it.map(p => (piece(p), p.tcpSeq, p.tcpAck)).toSeq
        probe.group(segs.size)
        val msgs = probe.state(Http.reassembleFlow(segs, srcPort, dstPort))
        if (countUseful) msgs.foreach(m => probe.useful(m.framesList))
        msgs
      }
  }

  def http(spark: SparkSession, path: String, probe: Probe): DataFrame =
    Http.link(httpMessages(spark, path, probe, countUseful = true).toDF())

  def httpSs7(spark: SparkSession, path: String, probe: Probe): DataFrame = {
    import spark.implicits._
    val msgs = httpMessages(spark, path, probe, countUseful = false).flatMap { m =>
      val r = probe.decode(HttpSs7.extract(m))
      if (r.isDefined) probe.useful(m.framesList)
      r
    }
    val extras = Seq("opType", "msisdnOrig", "msisdnDest", "msc",
      "sccpCdAdr", "imsi", "sessionId", "text", "udhi")
    val paired = HttpSs7.pairAndEnrich(msgs.toDF(), Seq("msisdnOrig", "msisdnDest", "imsi"),
      BenchAccess.envelope ++ extras)
    BenchAccess.unpivot(paired, extras).withColumnRenamed("op_type", "type")
  }

  def httpOcs(spark: SparkSession, path: String, probe: Probe): DataFrame = {
    import spark.implicits._
    val msgs = httpMessages(spark, path, probe, countUseful = false).flatMap { m =>
      val r = probe.decode(HttpOcs.extract(m))
      if (r.isDefined) probe.useful(m.framesList)
      r
    }
    val extras = Seq("opType", "operationId", "cdpa", "msisdn", "rdn",
      "periodDuration", "callActive", "startTime", "endTime", "status",
      "statusCode", "maxCallPeriodDuration", "dtmfRoute", "reqType",
      "shadowNumber", "called", "calling", "msrn", "phone", "code", "result",
      "tempCdpa", "dualNum", "mcc", "mnc", "imsi")
    val paired = HttpSs7.pairAndEnrich(msgs.toDF(), Seq("msisdn", "called", "calling", "phone", "imsi"),
      BenchAccess.envelope ++ extras)
    BenchAccess.unpivot(paired, extras).withColumnRenamed("op_type", "type")
  }

  /** `Sigshark.run`: Diameter transactions per file, then the
    * transaction-sorted capture streamed through `PcapWriter`. The
    * writer's own time excludes the time spent producing its frames. */
  def sigshark(spark: SparkSession, inPath: String, outPath: java.nio.file.Path,
      inner: Probe, probe: Probe, tracer: Tracer): Seq[Sigshark.Transaction] = {
    import spark.implicits._
    val txs = diameter(spark, inPath, inner)
      .groupByKey(_.pcapFilename)
      .flatMapGroups { (_, it) =>
        val recs = it.toSeq
        probe.group(recs.size)
        probe.state(Sigshark.runDiameterMachine(recs, keepPartial = false).toList).iterator
      }
      .collect().toSeq
    val frames = Pcap.frames(spark, inPath)
    val dlt = frames.limit(1).collect().headOption.map(_.dlt).getOrElse(1)
    val order = txs.sortBy(t => (t.startTsSec, t.startUsec, t.key))
      .flatMap(_.frames).zipWithIndex.map { case (no, i) => (no, i.toLong) }
    val sorted = frames.join(order.toDF("frameNo", "pos"), "frameNo")
      .orderBy(col("pos"))
      .select(col("pcapFilename"), col("frameNo"), col("tsSec"), col("tsUsec"),
        col("dlt"), col("data"))
      .as[Frame]
    val it = sorted.toLocalIterator().asScala
    var upstreamNs = 0L
    val timed = new Iterator[Frame] {
      override def hasNext: Boolean = { val t0 = System.nanoTime(); val r = it.hasNext; upstreamNs += System.nanoTime() - t0; r }
      override def next(): Frame = { val t0 = System.nanoTime(); val r = it.next(); upstreamNs += System.nanoTime() - t0; r }
    }
    val t0 = System.nanoTime()
    PcapWriter.streamFile(outPath, dlt, timed, separators = false)
    tracer.count("pcapwriter.write_us", (System.nanoTime() - t0 - upstreamNs) / 1000L)
    txs
  }
}
