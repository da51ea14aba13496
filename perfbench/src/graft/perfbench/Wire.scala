package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

/** Byte builders for the synthetic captures: link, IPv4/IPv6, TCP, UDP,
  * SCTP, and the signaling payloads the pipelines decode. Every builder
  * returns a fresh array in network byte order. */
object Wire {

  def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def be24(v: Long): Array[Byte] = Array((v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  def le32(v: Long): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)

  def cat(parts: Array[Byte]*): Array[Byte] = {
    val bos = new ByteArrayOutputStream(parts.iterator.map(_.length).sum)
    parts.foreach(p => bos.write(p, 0, p.length))
    bos.toByteArray
  }

  def pad4(b: Array[Byte]): Array[Byte] = {
    val p = (4 - b.length % 4) % 4
    if (p == 0) b else cat(b, new Array[Byte](p))
  }

  final val EtherIpv4 = 0x0800
  final val EtherArp = 0x0806
  final val EtherIpv6 = 0x86dd

  /** Link header for a capture's DLT: Ethernet (1) or Linux cooked (113). */
  def link(dlt: Int, etherType: Int, l3: Array[Byte]): Array[Byte] = dlt match {
    case 1 => cat(Array[Byte](0, 0x1b, 0x21, 1, 2, 3, 0, 0x1b, 0x21, 4, 5, 6), be16(etherType), l3)
    case 113 => cat(be16(0), be16(1), be16(6), Array[Byte](0, 0x1b, 0x21, 4, 5, 6, 0, 0),
      be16(etherType), l3)
    case other => throw new IllegalArgumentException(s"unsupported DLT $other")
  }

  def ip(a: Int, b: Int, c: Int, d: Int): Int = (a << 24) | (b << 16) | (c << 8) | d

  /** IPv4 header (no options) + payload; `fragOff` in bytes. */
  def ipv4(proto: Int, src: Int, dst: Int, payload: Array[Byte], ipId: Int = 0,
      moreFrags: Boolean = false, fragOff: Int = 0): Array[Byte] = {
    val flagsOff = (if (moreFrags) 0x2000 else 0) | ((fragOff / 8) & 0x1fff)
    cat(Array[Byte](0x45, 0), be16(20 + payload.length), be16(ipId & 0xffff),
      be16(flagsOff), Array[Byte](64, proto.toByte), be16(0), be32(src & 0xffffffffL),
      be32(dst & 0xffffffffL), payload)
  }

  def ipv6Udp(srcPort: Int, dstPort: Int, payload: Array[Byte]): Array[Byte] = {
    val udpB = udp(srcPort, dstPort, payload)
    cat(Array[Byte](0x60, 0, 0, 0), be16(udpB.length), Array[Byte](17, 64),
      Array.tabulate[Byte](16)(i => (0x20 + i).toByte), Array.tabulate[Byte](16)(i => (0x30 + i).toByte),
      udpB)
  }

  def arp(senderIp: Int, targetIp: Int): Array[Byte] =
    cat(be16(1), be16(0x0800), Array[Byte](6, 4), be16(1),
      Array[Byte](0, 0x1b, 0x21, 1, 2, 3), be32(senderIp & 0xffffffffL),
      new Array[Byte](6), be32(targetIp & 0xffffffffL))

  final val FlagFin = 0x01
  final val FlagSyn = 0x02
  final val FlagAck = 0x10
  final val FlagPshAck = 0x18

  def tcp(srcPort: Int, dstPort: Int, seq: Long, ack: Long, flags: Int,
      payload: Array[Byte]): Array[Byte] =
    cat(be16(srcPort), be16(dstPort), be32(seq), be32(ack),
      Array[Byte](0x50, flags.toByte), be16(65535), be16(0), be16(0), payload)

  def udp(srcPort: Int, dstPort: Int, payload: Array[Byte]): Array[Byte] =
    cat(be16(srcPort), be16(dstPort), be16(8 + payload.length), be16(0), payload)

  // --- SCTP ---

  def sctp(srcPort: Int, dstPort: Int, chunks: Array[Byte]*): Array[Byte] =
    cat((Seq(be16(srcPort), be16(dstPort), be32(0x5eed), be32(0)) ++ chunks): _*)

  /** DATA chunk; flags 3 = unfragmented, 2 = first, 0 = middle, 1 = last. */
  def dataChunk(flags: Int, tsn: Long, streamId: Int, streamSeq: Int, ppid: Long,
      payload: Array[Byte]): Array[Byte] =
    pad4(cat(Array[Byte](0, flags.toByte), be16(16 + payload.length), be32(tsn),
      be16(streamId), be16(streamSeq & 0xffff), be32(ppid), payload))

  def sackChunk(cumTsn: Long): Array[Byte] =
    cat(Array[Byte](3, 0), be16(16), be32(cumTsn), be32(65536), be16(0), be16(0))

  def heartbeatChunk(nonce: Long): Array[Byte] =
    cat(Array[Byte](4, 0), be16(16), be16(1), be16(12), be32(nonce), be32(nonce * 31))

  // --- Diameter ---

  def avp(code: Int, value: Array[Byte]): Array[Byte] =
    pad4(cat(be32(code), Array[Byte](0x40), be24(8 + value.length), value))

  def strAvp(code: Int, s: String): Array[Byte] = avp(code, ascii(s))
  def u32Avp(code: Int, v: Long): Array[Byte] = avp(code, be32(v))

  def diameter(request: Boolean, cmd: Int, appId: Long, hbh: Long, e2e: Long,
      avps: Array[Byte]*): Array[Byte] = {
    val body = cat(avps: _*)
    cat(Array[Byte](1), be24(20 + body.length),
      Array[Byte]((if (request) 0x80 else 0).toByte), be24(cmd),
      be32(appId), be32(hbh), be32(e2e), body)
  }

  // --- SS7: BER, TCAP, SCCP, M3UA ---

  def ber(tag: Int, value: Array[Byte]): Array[Byte] = {
    val n = value.length
    val len =
      if (n < 0x80) Array(n.toByte)
      else if (n < 0x100) Array(0x81.toByte, n.toByte)
      else Array(0x82.toByte, (n >> 8).toByte, n.toByte)
    cat(Array(tag.toByte), len, value)
  }

  /** Nibble-swapped BCD with F filler (TBCD): "12345" → 21 43 f5. */
  def tbcd(digits: String): Array[Byte] = {
    val d = if (digits.length % 2 == 1) digits + "f" else digits
    Array.tabulate(d.length / 2) { i =>
      val lo = Character.digit(d(2 * i), 16)
      val hi = Character.digit(d(2 * i + 1), 16)
      ((hi << 4) | lo).toByte
    }
  }

  /** Q.713 address: SSN present, GTI 4 (TT + NP/ES + NAI header). */
  def sccpAddr(ssn: Int, gt: String): Array[Byte] =
    cat(Array[Byte](0x12, ssn.toByte, 0, 0x11, 0x04), tbcd(gt))

  def sccpUdt(called: Array[Byte], calling: Array[Byte], data: Array[Byte]): Array[Byte] =
    cat(Array[Byte](9, 0x80.toByte),
      Array[Byte](3, (3 + called.length).toByte, (3 + called.length + calling.length).toByte),
      Array(called.length.toByte), called, Array(calling.length.toByte), calling,
      Array(data.length.toByte), data)

  /** SCCP XUDT carrying one segment; `first` and `remaining` per Q.713
    * §3.17, `ref` the 24-bit segmentation local reference. */
  def sccpXudtSegment(called: Array[Byte], calling: Array[Byte], data: Array[Byte],
      first: Boolean, remaining: Int, ref: Long): Array[Byte] = {
    val p0 = 4
    val p1 = p0 + called.length
    val p2 = p1 + calling.length
    val p3 = p2 + data.length
    val seg = Array[Byte](16, 4, ((if (first) 0x80 else 0) | (remaining & 0x0f)).toByte) ++ be24(ref)
    cat(Array[Byte](17, 0x80.toByte, 15), Array(p0.toByte, p1.toByte, p2.toByte, p3.toByte),
      Array(called.length.toByte), called, Array(calling.length.toByte), calling,
      Array(data.length.toByte), data, seg, Array[Byte](0))
  }

  def m3uaData(opc: Long, dpc: Long, sccpMsg: Array[Byte]): Array[Byte] = {
    val pd = cat(be32(opc), be32(dpc), Array[Byte](3, 2, 0, 5), sccpMsg)
    val param = pad4(cat(be16(0x0210), be16(4 + pd.length), pd))
    cat(Array[Byte](1, 0, 1, 1), be32(8L + param.length), param)
  }

  // --- SMPP ---

  def smppPdu(cmd: Long, status: Long, seq: Long, body: Array[Byte]): Array[Byte] =
    cat(be32(16L + body.length), be32(cmd), be32(status), be32(seq), body)

  def cstr(s: String): Array[Byte] = cat(ascii(s), Array[Byte](0))

  def submitBody(src: String, dst: String, text: String): Array[Byte] =
    cat(cstr(""), Array[Byte](1, 1), cstr(src), Array[Byte](1, 1), cstr(dst),
      Array[Byte](0, 0, 0), cstr(""), cstr(""), Array[Byte](0, 0, 0, 0),
      Array(text.length.toByte), ascii(text))

  // --- GTP ---

  def gtpV1(msgType: Int, teid: Long, seq: Int, ies: Array[Byte]): Array[Byte] =
    cat(Array[Byte](0x32, msgType.toByte), be16(4 + ies.length), be32(teid),
      be16(seq), Array[Byte](0, 0), ies)

  def gtpV2(msgType: Int, teid: Long, seq: Long, ies: Array[Byte]): Array[Byte] =
    cat(Array[Byte](0x48, msgType.toByte), be16(8 + ies.length), be32(teid),
      be24(seq), Array[Byte](0), ies)

  def gtpV2Ie(t: Int, value: Array[Byte]): Array[Byte] =
    cat(Array(t.toByte), be16(value.length), Array[Byte](0), value)
}
