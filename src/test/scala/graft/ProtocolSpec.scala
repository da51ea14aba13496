package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestBytes._
import graft.etl.{Diameter, Gtp, Smpp}
import graft.operators.Stateful
import graft.operators.Stateful.Piece
import graft.sources.Pcap

/** Decoder + state-machine unit tests (SURVEY §5 items 1-2): pcap/pcapng
  * readers, Diameter AVP walk incl. grouped AVPs, SMPP framing, GTP TBCD,
  * reassembly stash/prepend, correlation dedup + bidirectional fill.
  */
class ProtocolSpec extends AnyFunSuite {

  test("S1/S2 pcap reader: frames, timestamps, dlt") {
    val f1 = ether(Array[Byte](1, 2, 3))
    val f2 = ether(Array[Byte](4))
    val frames = Pcap.decodeFile("t.pcap", pcapFile(Seq((100L, 7, f1), (101L, 9999999, f2))))
    assert(frames.map(_.frameNo) == Seq(1L, 2L))
    assert(frames.head.tsSec == 100L && frames.head.tsUsec == 7)
    // F16: µs clamped to 6 digits
    assert(frames(1).tsUsec == 999999)
    assert(frames.head.dlt == 1)
    assert(frames.head.data.sameElements(f1))
  }

  test("S3 pcapng reader: SHB/IDB/EPB walk with µs split") {
    val data = ether(Array[Byte](42))
    val tsMicros = 1700000000123456L // 16 decimal digits → slice semantics
    val frames = Pcap.decodeFile("t.pcapng", pcapngFile(1, Seq((tsMicros, data))))
    assert(frames.size == 1)
    assert(frames.head.tsSec == 1700000000L)
    assert(frames.head.tsUsec == 123456)
    assert(frames.head.data.sameElements(data))
  }

  test("S3 pcapng reader: ms-resolution tick (13 digits) gets µs=0, " +
      "matching the reference's >=6-remaining-digits guard") {
    val data = ether(Array[Byte](43))
    val tsTicks = 1700000000123L // 13 digits: 10 sec digits + only 3 left
    val frames = Pcap.decodeFile("t.pcapng", pcapngFile(1, Seq((tsTicks, data))))
    assert(frames.size == 1)
    assert(frames.head.tsSec == 1700000000L)
    assert(frames.head.tsUsec == 0)
  }

  test("S1 sniffer rejects junk") {
    assert(Pcap.sniff("not a pcap".getBytes).isEmpty)
  }

  test("F21 Diameter decode: header, string AVPs, grouped 443 and 297") {
    val msg = diameterMsg(request = true, cmd = 316, hbh = 0x11L, e2e = 0x22L,
      strAvp(263, "sess;1"), strAvp(264, "mme.example"), strAvp(296, "example"),
      groupedAvp(443, u32Avp(450, 0), strAvp(444, "5215512345678")),
      groupedAvp(297, u32Avp(266, 10415), u32Avp(298, 5001)))
    val d = Diameter.decode(msg).get
    assert(d.request && d.commandCode == 316)
    assert(d.hopByHopId == 0x11L && d.endToEndId == 0x22L)
    assert(d.sessionId == "sess;1" && d.originHost == "mme.example")
    assert(d.msisdn == "5215512345678")
    assert(d.expResultCode.contains(5001L))
  }

  test("F6 Diameter NAI user-name → imsi") {
    val msg = diameterMsg(request = true, cmd = 316, hbh = 1, e2e = 1,
      strAvp(1, "123456789012345@nai.epc.example"))
    assert(Diameter.decode(msg).get.imsi == "123456789012345")
  }

  test("P7 Diameter version gate + incomplete length") {
    val msg = diameterMsg(request = true, cmd = 272, hbh = 1, e2e = 1)
    assert(Diameter.decode(msg.take(10)).isEmpty) // truncated
    val bad = msg.clone(); bad(0) = 2
    assert(Diameter.decode(bad).isEmpty) // version != 1
  }

  test("R8/F24 SMPP framing + submit_sm decode") {
    def pdu(cmd: Long, seq: Long, body: Array[Byte]): Array[Byte] = {
      val len = 16 + body.length
      cat(be32(len), be32(cmd), be32(0), be32(seq), body)
    }
    val body = cat("SMS".getBytes, Array[Byte](0), Array[Byte](1, 1),
      "15550001".getBytes, Array[Byte](0), Array[Byte](1, 1),
      "15559999".getBytes, Array[Byte](0))
    val seg = cat(pdu(4, 7, body), pdu(0x80000004L, 7, Array.emptyByteArray))
    val pdus = Smpp.framePdus(seg)
    assert(pdus.size == 2)
    val req = Smpp.decodePdu(pdus(0)).get
    assert(req.commandName == "submit_sm" && req.sequenceNumber == 7)
    assert(req.sourceAddr == "15550001" && req.destinationAddr == "15559999")
    val resp = Smpp.decodePdu(pdus(1)).get
    assert(resp.commandName == "submit_sm_resp" && resp.commandStatus == 0)
    // P16 whitelist: unknown command dropped
    assert(Smpp.decodePdu(pdu(0x15, 1, Array.emptyByteArray)).isEmpty)
  }

  test("F1/F29 GTPv2 decode with TBCD imsi") {
    // GTPv2 Create Session Request, TEID flag set, IMSI IE (type 1)
    val imsiTbcd = Array(0x21, 0x43, 0x65, 0x87, 0x09, 0x21, 0x43, 0xf5).map(_.toByte)
    val ie = cat(Array[Byte](1), be16(imsiTbcd.length), Array[Byte](0), imsiTbcd)
    val msg = cat(Array[Byte](0x48, 32), be16(8 + 4 + ie.length), be32(0xabcdL),
      Array[Byte](0, 0, 1, 0), ie)
    val g = Gtp.decode(msg).get
    assert(g.gtpVersion == "v2" && g.gtpMessage == "Create Session Request")
    assert(g.gtpTeid == 0xabcdL)
    assert(g.imsi == "123456789012345")
  }

  test("R1 reassembly: stash-and-prepend across segments, greedy emit") {
    val msg = diameterMsg(request = true, cmd = 272, hbh = 5, e2e = 5, strAvp(263, "x"))
    val (a, b) = msg.splitAt(11)
    def piece(no: Long, payload: Array[Byte]) =
      Piece(no, 100L, 0, "1.1.1.1", "2.2.2.2", "t.pcap", payload)
    val out = Stateful.reassemble(Seq(piece(1, a), piece(2, b)), Diameter.expectedLength).toSeq
    assert(out.size == 1)
    assert(out.head.framesList == "1 2")
    assert(out.head.payload.sameElements(msg))
    // two complete messages in one segment → greedy double emit
    val out2 = Stateful.reassemble(Seq(piece(3, cat(msg, msg))), Diameter.expectedLength).toSeq
    assert(out2.size == 2 && out2.forall(_.payload.sameElements(msg)))
    // incomplete residue dropped at EOF, carried in the step's state
    assert(Stateful.reassemble(Seq(piece(4, a)), Diameter.expectedLength).isEmpty)
    val (left, done) = Stateful.reassembleStep(Stateful.Stash.Empty,
      Iterator(piece(4, a)), Diameter.expectedLength)
    assert(done.isEmpty && left.buf.sameElements(a) && left.frames == Seq(4L))
  }

  test("J1/D1 correlate: dedup retransmission, bidirectional fill, residue") {
    final case class M(frame: Long, req: Boolean, msisdn: String, imsi: String)
    def merge(a: M, b: M): (M, M) = {
      val ms = if (a.msisdn.nonEmpty) a.msisdn else b.msisdn
      val im = if (a.imsi.nonEmpty) a.imsi else b.imsi
      (a.copy(msisdn = ms, imsi = im), b.copy(msisdn = ms, imsi = im))
    }
    val msgs = Seq(
      M(1, req = true, "555", ""), // request
      M(2, req = true, "555", ""), // retransmission → dropped
      M(3, req = false, "", "12345"), // answer → pairs with frame 1
      M(4, req = false, "", "9"), // unmatched answer → emitted
      M(5, req = true, "7", "")) // unmatched request → residue flush
    val out = Stateful.correlate[M](msgs, _.frame, _.req, merge).toSeq
    assert(out.map(_.frame) == Seq(1L, 3L, 4L, 5L))
    // bidirectional enrichment
    assert(out.find(_.frame == 1).get.imsi == "12345")
    assert(out.find(_.frame == 3).get.msisdn == "555")
  }
}
