package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

import graft.sources.{Frame, PcapWriter}

import Wire._

/** One synthetic frame above the link layer; the capture's DLT picks the
  * link header at write time. `no` is the 1-based frame number, assigned
  * when the frame is placed in its file. */
final class Fr(val l3: Array[Byte], val etherType: Int = EtherIpv4) {
  var no: Long = -1L
}

/** Expected output of one capture set: per table, a row count and an
  * order-independent checksum over key columns (see [[Expect.keyHash]]). */
final class Expect {
  val rows: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val sums: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var sigsharkTransactions = 0L
  var sigsharkFrames = 0L

  def add(table: String, key: String): Unit = {
    rows(table) += 1
    sums(table) += Expect.keyHash(key)
  }
}

object Expect {
  /** 64-bit hash of one row's key string; summed (wrapping) over a table
    * it is independent of row order. */
  def keyHash(key: String): Long =
    (MurmurHash3.stringHash(key, 0x2f0b3c1d).toLong << 32) ^
      (MurmurHash3.stringHash(key, 0x6a09e667) & 0xffffffffL)
}

/** One capture file being assembled: episodes (flows, associations,
  * calls) whose frames interleave at random, plus filler frames that
  * every pipeline's filter drops. */
final class CaptureFile(val name: String, val pcapng: Boolean, val dlt: Int) {
  val episodes = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Fr]]
  val placed = mutable.ArrayBuffer.empty[Fr]
  /** Expectations that need frame numbers run after placement. */
  val afterPlacement = mutable.ArrayBuffer.empty[() => Unit]
  val http = mutable.ArrayBuffer.empty[Gen.HttpExchange]

  def episode(): mutable.ArrayBuffer[Fr] = {
    val e = mutable.ArrayBuffer.empty[Fr]
    episodes += e
    e
  }

  /** Interleave episodes, at most `window` live at once, with filler
    * frames drawn at `fillerShare` of all frames. */
  def place(rnd: Random, window: Int, fillerShare: Double, filler: Random => Fr): Unit = {
    val pending = mutable.Queue(episodes.filter(_.nonEmpty).toSeq: _*)
    val live = mutable.ArrayBuffer.empty[(mutable.ArrayBuffer[Fr], Int)]
    def emit(f: Fr): Unit = { placed += f; f.no = placed.length.toLong }
    while (pending.nonEmpty || live.nonEmpty) {
      while (live.length < window && pending.nonEmpty) live += ((pending.dequeue(), 0))
      if (rnd.nextDouble() < fillerShare) emit(filler(rnd))
      else {
        val i = rnd.nextInt(live.length)
        val (ep, k) = live(i)
        emit(ep(k))
        if (k + 1 == ep.length) { live(i) = live.last; live.remove(live.length - 1) }
        else live(i) = (ep, k + 1)
      }
    }
    afterPlacement.foreach(_())
  }

  /** Write the placed frames; returns the file size in bytes. Classic
    * pcap goes through the engine's own writer. */
  def write(dir: Path, baseSec: Long): Long = {
    val path = dir.resolve(name)
    def tsMicros(i: Int): Long = baseSec * 1000000L + i.toLong * 20L + (i * 7919L) % 13L
    if (!pcapng) {
      val frames = placed.iterator.zipWithIndex.map { case (f, i) =>
        val us = tsMicros(i)
        Frame(name, f.no, us / 1000000L, (us % 1000000L).toInt, dlt, link(dlt, f.etherType, f.l3))
      }
      PcapWriter.streamFile(path, dlt, frames)
    } else {
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
      try {
        def block(t: Long, body: Array[Byte]): Unit = {
          val len = 12 + body.length
          out.write(le32(t)); out.write(le32(len)); out.write(body); out.write(le32(len))
        }
        block(0x0a0d0d0aL, cat(le32(0x1a2b3c4dL), le16(1), le16(0), Array.fill[Byte](8)(-1)))
        block(1L, cat(le16(dlt), le16(0), le32(65535)))
        placed.iterator.zipWithIndex.foreach { case (f, i) =>
          val data = link(dlt, f.etherType, f.l3)
          val ts = tsMicros(i)
          block(6L, cat(le32(0), le32(ts >>> 32), le32(ts & 0xffffffffL),
            le32(data.length), le32(data.length), pad4(data)))
        }
      } finally out.close()
    }
    Files.size(path)
  }
}

/** The generated inputs of one workload run. */
final case class Inputs(dir: Path, files: Seq[String], frames: Long, bytes: Long, expect: Expect)

/** Seeded, deterministic capture generator. The same seed and workload
  * give byte-identical files and the same expectations. */
object Gen {

  val Tables: Seq[String] =
    Seq("diameter", "ss7map", "sip", "smpp", "gtp", "http", "http_ss7", "http_ocs")

  /** One HTTP request/response exchange, resolved to frame numbers after
    * placement. `conn` identifies the TCP connection. */
  final case class HttpExchange(conn: Long, ocs: Boolean, reqType: String, resType: String,
      reqFirst: Fr, resFirst: Fr)

  /** Per-family traffic generator; ids stay unique across a workload. */
  final class Families(rnd: Random, expect: Expect, seed: Long) {
    private var hbh = 0x10000000L + (seed & 0xffff) * 4096
    private var sessions = 0L
    private var tids = 0x20000000L
    private var segRefs = 1L
    private var callIds = 0L
    private var ipIds = 0
    private var ports = 20000
    private var gtpSeq = 0
    private var conns = 0L

    private def nextPort(): Int = { ports += 1; if (ports > 64000) ports = 20001; ports }
    private def digits(n: Int): String = Seq.fill(n)(('0' + rnd.nextInt(10)).toChar).mkString
    private def filler(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString

    // ---- Diameter ----

    private val DiaCmds = Seq(316 -> 16777251L, 318 -> 16777251L, 272 -> 4L, 265 -> 1L)

    /** One Diameter request/answer pair, with the expected rows. */
    private def diaPair(padMax: Int): (Array[Byte], Array[Byte]) = {
      val (cmd, app) = DiaCmds(rnd.nextInt(DiaCmds.length))
      hbh += 1
      sessions += 1
      val e2e = hbh ^ 0x5a5a0000L
      val sess = s"mme$seed.epc;${sessions}"
      val msisdn = "52" + digits(10)
      val pad = avp(1100, Array.tabulate(8 + rnd.nextInt(padMax))(i => (i * 7 + 2).toByte))
      val req = diameter(request = true, cmd, app, hbh, e2e,
        strAvp(263, sess), strAvp(264, "mme1.epc.example"), strAvp(296, "epc.example"),
        strAvp(283, "hss.example"),
        avp(443, cat(u32Avp(450, 0), strAvp(444, msisdn))), pad)
      val ans = diameter(request = false, cmd, app, hbh, e2e,
        strAvp(263, sess), strAvp(264, "hss1.epc.example"), strAvp(296, "hss.example"),
        u32Avp(268, 2001), pad)
      expect.add("diameter", s"true|$cmd|$hbh|$e2e|$msisdn")
      expect.add("diameter", s"false|$cmd|$hbh|$e2e|$msisdn")
      expect.sigsharkTransactions += 1
      (req, ans)
    }

    private def watchdog(request: Boolean, n: Long): Array[Byte] =
      diameter(request, 280, 0L, 0x7f000000L + n, 0x7f000000L + n,
        strAvp(264, "peer.example"), strAvp(296, "example"))

    /** Split `b` into `k` non-empty parts at random cut points. */
    private def split(b: Array[Byte], k: Int): Seq[Array[Byte]] = {
      val n = math.max(1, math.min(k, b.length / 24))
      val cuts = (Seq(0) ++ (1 until n).map(i => i * b.length / n + rnd.nextInt(9) - 4) :+ b.length)
      cuts.sliding(2).map { case Seq(a, z) => java.util.Arrays.copyOfRange(b, a, z) }.toSeq
    }

    /** Diameter over SCTP: one association, messages spread over 1 to
      * `maxChunks` DATA chunks and over `streams` streams. */
    def diameterSctp(ep: mutable.ArrayBuffer[Fr], msgs: Int,
        streams: Int, maxChunks: Int, padMax: Int): Unit = {
      val cli = ip(10, 1, rnd.nextInt(200), 1 + rnd.nextInt(200))
      val srv = ip(10, 1, 250, 1 + rnd.nextInt(4))
      val port = nextPort()
      val tsn = Array(1000L, 5000L)
      val ssn = Array.fill(2, streams)(0)
      def send(dir: Int, msg: Array[Byte]): Int = {
        val sid = rnd.nextInt(streams)
        val parts = split(msg, 1 + rnd.nextInt(maxChunks))
        val (s, d, sp, dp) = if (dir == 0) (cli, srv, port, 3868) else (srv, cli, 3868, port)
        parts.zipWithIndex.foreach { case (p, i) =>
          val flags = (if (i == 0) 2 else 0) | (if (i == parts.length - 1) 1 else 0)
          tsn(dir) += 1
          ep += new Fr(ipv4(132, s, d, sctp(sp, dp,
            dataChunk(flags, tsn(dir), sid, ssn(dir)(sid), 46, p))))
        }
        ssn(dir)(sid) += 1
        // the peer acknowledges: a SACK-only packet every filter drops
        ep += new Fr(ipv4(132, d, s, sctp(dp, sp, sackChunk(tsn(dir)))))
        parts.length
      }
      for (i <- 0 until msgs) {
        if (i % 50 == 25) {
          ep += new Fr(ipv4(132, cli, srv, sctp(port, 3868, heartbeatChunk(i))))
          send(0, watchdog(request = true, i)); send(1, watchdog(request = false, i))
        }
        val (req, ans) = diaPair(padMax)
        val n = send(0, req) + send(1, ans)
        expect.sigsharkFrames += n
      }
    }

    /** Diameter over TCP: one connection; requests over `minSegs` to
      * `maxSegs` segments, answers over one or two, and a share of
      * requests whose last segment is retransmitted. */
    def diameterTcp(ep: mutable.ArrayBuffer[Fr], msgs: Int, minSegs: Int, maxSegs: Int,
        retransShare: Double, padMax: Int): Unit = {
      val cli = ip(10, 1, rnd.nextInt(200), 1 + rnd.nextInt(200))
      val srv = ip(10, 1, 251, 1 + rnd.nextInt(4))
      val port = nextPort()
      var cSeq = 100000L + rnd.nextInt(1 << 20)
      var sSeq = 900000L + rnd.nextInt(1 << 20)
      handshake(ep, cli, srv, port, 3868, cSeq, sSeq); cSeq += 1; sSeq += 1
      def segs(msg: Array[Byte], k: Int): Seq[Array[Byte]] = {
        // a retransmitted tail segment must not look like a message start
        var parts = split(msg, k)
        while (parts.length > 1 && parts.last(0) == 1) parts = split(msg, k)
        parts
      }
      for (i <- 0 until msgs) {
        val (req, ans) = diaPair(padMax)
        val rParts = segs(req, minSegs + rnd.nextInt(maxSegs - minSegs + 1))
        var n = 0
        var last: Array[Byte] = null
        for (p <- rParts) {
          last = tcp(port, 3868, cSeq, sSeq, FlagPshAck, p)
          ep += new Fr(ipv4(6, cli, srv, last)); cSeq += p.length; n += 1
        }
        if (rParts.length > 1 && rnd.nextDouble() < retransShare)
          ep += new Fr(ipv4(6, cli, srv, last))
        ep += new Fr(ipv4(6, srv, cli, tcp(3868, port, sSeq, cSeq, FlagAck, Array.emptyByteArray)))
        for (p <- split(ans, 1 + rnd.nextInt(2))) {
          ep += new Fr(ipv4(6, srv, cli, tcp(3868, port, sSeq, cSeq, FlagPshAck, p)))
          sSeq += p.length; n += 1
        }
        ep += new Fr(ipv4(6, cli, srv, tcp(port, 3868, cSeq, sSeq, FlagAck, Array.emptyByteArray)))
        expect.sigsharkFrames += n
      }
    }

    private def handshake(ep: mutable.ArrayBuffer[Fr], cli: Int, srv: Int, cp: Int, sp: Int,
        cSeq: Long, sSeq: Long): Unit = {
      ep += new Fr(ipv4(6, cli, srv, tcp(cp, sp, cSeq, 0, FlagSyn, Array.emptyByteArray)))
      ep += new Fr(ipv4(6, srv, cli, tcp(sp, cp, sSeq, cSeq + 1, FlagSyn | FlagAck, Array.emptyByteArray)))
      ep += new Fr(ipv4(6, cli, srv, tcp(cp, sp, cSeq + 1, sSeq + 1, FlagAck, Array.emptyByteArray)))
    }

    // ---- M3UA / TCAP ----

    private def tcapMsg(tag: Int, otid: Long, dtid: Long, comp: Int, op: Int,
        imsi: String, pad: Int): Array[Byte] = {
      val tids =
        (if (otid >= 0) ber(0x48, be32(otid)) else Array.emptyByteArray) ++
          (if (dtid >= 0) ber(0x49, be32(dtid)) else Array.emptyByteArray)
      val param = ber(0x30, cat(ber(0x04, tbcd(imsi)),
        ber(0x04, Array.tabulate(pad)(i => (i * 13 + 1).toByte))))
      val component = ber(comp, cat(ber(0x02, Array[Byte](1)), ber(0x02, Array(op.toByte)), param))
      ber(tag, cat(tids, ber(0x6c, component)))
    }

    /** TCAP dialogues over M3UA/SCTP between two signaling points;
      * `segShare` of messages are padded and sent as 2-3 XUDT segments. */
    def tcap(ep: mutable.ArrayBuffer[Fr], dialogues: Int, segShare: Double,
        continueShare: Double): Unit = {
      val a = ip(10, 2, 1, 1 + rnd.nextInt(100))
      val b = ip(10, 2, 2, 1 + rnd.nextInt(100))
      val port = nextPort()
      val gtA = "5255" + digits(8)
      val gtB = "5266" + digits(8)
      var tsn = 1L
      def send(fromA: Boolean, tcapBytes: Array[Byte], segmented: Boolean): Int = {
        val (s, d, sp, dp) = if (fromA) (a, b, port, 2905) else (b, a, 2905, port)
        val called = sccpAddr(if (fromA) 6 else 8, if (fromA) gtB else gtA)
        val calling = sccpAddr(if (fromA) 8 else 6, if (fromA) gtA else gtB)
        val sccpMsgs =
          if (!segmented) Seq(sccpUdt(called, calling, tcapBytes))
          else {
            val ref = segRefs; segRefs += 1
            // SCCP carries at most 255 data bytes per segment
            val n = math.max(2 + rnd.nextInt(2), (tcapBytes.length + 199) / 200)
            val size = (tcapBytes.length + n - 1) / n
            val parts = tcapBytes.grouped(size).toSeq
            parts.zipWithIndex.map { case (p, i) =>
              sccpXudtSegment(called, calling, p, i == 0, parts.length - 1 - i, ref)
            }
          }
        for (m <- sccpMsgs) {
          tsn += 1
          ep += new Fr(ipv4(132, s, d, sctp(sp, dp,
            dataChunk(3, tsn, rnd.nextInt(4), (tsn & 0xffff).toInt, 3, m3uaData(101, 202, m)))))
        }
        sccpMsgs.length
      }
      for (_ <- 0 until dialogues) {
        tids += 2
        val otidA = tids
        val otidB = tids + 1
        val imsi = "33401" + digits(10)
        def one(fromA: Boolean, tag: Int, otid: Long, dtid: Long, comp: Int, typ: String): Unit = {
          val seg = rnd.nextDouble() < segShare
          val n = send(fromA, tcapMsg(tag, otid, dtid, comp, 46, imsi,
            if (seg) 300 + rnd.nextInt(200) else 8 + rnd.nextInt(40)), seg)
          expect.add("ss7map", s"$typ|$otid|$dtid|$n")
        }
        one(fromA = true, 0x62, otidA, -1, 0xa1, "begin")
        if (rnd.nextDouble() < continueShare) {
          one(fromA = false, 0x65, otidB, otidA, 0xa1, "continue")
          one(fromA = true, 0x64, -1, otidB, 0xa2, "end")
        } else one(fromA = false, 0x64, -1, otidA, 0xa2, "end")
      }
    }

    // ---- SIP over UDP, IP-fragmented ----

    /** SIP calls between two proxies; INVITE and its 200 OK carry an SDP
      * body large enough to need 2-3 IPv4 fragments. */
    def sip(ep: mutable.ArrayBuffer[Fr], calls: Int): Unit = {
      val a = ip(10, 3, 1, 1 + rnd.nextInt(100))
      val b = ip(10, 3, 2, 1 + rnd.nextInt(100))
      def send(fromA: Boolean, text: String): Int = {
        val (s, d) = if (fromA) (a, b) else (b, a)
        ipIds = (ipIds + 1) & 0xffff
        val dgram = udp(5060, 5060, ascii(text))
        val mtu = 1480
        val frags = dgram.grouped(mtu).toSeq
        frags.zipWithIndex.foreach { case (f, i) =>
          ep += new Fr(ipv4(17, s, d, f, ipIds, moreFrags = i < frags.length - 1, fragOff = i * mtu))
        }
        frags.length
      }
      for (_ <- 0 until calls) {
        callIds += 1
        val cid = s"c$callIds-$seed@pbx.example"
        val from = "52155" + digits(8)
        val to = "52166" + digits(8)
        def msg(first: String, cseq: String, body: String): String =
          s"$first\r\nVia: SIP/2.0/UDP 10.3.0.1;branch=z9hG4bK$callIds\r\nFrom: <sip:+$from@pbx.example>;tag=1\r\n" +
            s"To: <sip:+$to@pbx.example>\r\nCall-ID: $cid\r\nCSeq: $cseq\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n$body"
        def sdp(n: Int): String = {
          val sb = new StringBuilder(s"v=0\r\no=user ${callIds} 1 IN IP4 10.3.0.1\r\ns=call\r\n")
          while (sb.length < n) sb ++= s"a=fmtp:${sb.length} ${filler(60)}\r\n"
          sb.toString
        }
        val steps = Seq(
          (true, s"INVITE sip:$to@pbx.example SIP/2.0", "1 INVITE", sdp(1600 + rnd.nextInt(1400)), "INVITE|null"),
          (false, "SIP/2.0 100 Trying", "1 INVITE", "", "|100"),
          (false, "SIP/2.0 200 OK", "1 INVITE", sdp(1600 + rnd.nextInt(1400)), "|200"),
          (true, s"ACK sip:$to@pbx.example SIP/2.0", "1 ACK", "", "ACK|null"),
          (true, s"BYE sip:$to@pbx.example SIP/2.0", "2 BYE", "", "BYE|null"),
          (false, "SIP/2.0 200 OK", "2 BYE", "", "|200"))
        for ((fromA, first, cseq, body, key) <- steps) {
          val n = send(fromA, msg(first, cseq, body))
          expect.add("sip", s"$cid|$key|$n")
        }
      }
    }

    // ---- SMPP over TCP ----

    /** One ESME↔SMSC bind: bind + enquire_link (not persisted), then
      * submit_sm / deliver_sm exchanges; `splitShare` of PDUs span two
      * segments. */
    def smpp(ep: mutable.ArrayBuffer[Fr], exchanges: Int, splitShare: Double): Unit = {
      val esme = ip(10, 4, rnd.nextInt(200), 1 + rnd.nextInt(200))
      val smsc = ip(10, 4, 250, 1)
      val port = nextPort()
      var eSeq = 300000L + rnd.nextInt(1 << 20)
      var sSeq = 700000L + rnd.nextInt(1 << 20)
      handshake(ep, esme, smsc, port, 2775, eSeq, sSeq); eSeq += 1; sSeq += 1
      var eNum = 0L
      var sNum = 0L
      def send(fromEsme: Boolean, pdu: Array[Byte]): Unit = {
        val parts =
          if (pdu.length > 24 && rnd.nextDouble() < splitShare) split(pdu, 2) else Seq(pdu)
        for (p <- parts) {
          if (fromEsme) {
            ep += new Fr(ipv4(6, esme, smsc, tcp(port, 2775, eSeq, sSeq, FlagPshAck, p))); eSeq += p.length
          } else {
            ep += new Fr(ipv4(6, smsc, esme, tcp(2775, port, sSeq, eSeq, FlagPshAck, p))); sSeq += p.length
          }
        }
      }
      def ack(fromEsme: Boolean): Unit =
        if (fromEsme) ep += new Fr(ipv4(6, esme, smsc, tcp(port, 2775, eSeq, sSeq, FlagAck, Array.emptyByteArray)))
        else ep += new Fr(ipv4(6, smsc, esme, tcp(2775, port, sSeq, eSeq, FlagAck, Array.emptyByteArray)))
      eNum += 1
      send(fromEsme = true, smppPdu(0x09, 0, eNum, cat(cstr("esme"), cstr("pw"), cstr(""), Array[Byte](0x34, 0, 0), cstr(""))))
      send(fromEsme = false, smppPdu(0x80000009L, 0, eNum, cstr("smsc")))
      for (i <- 0 until exchanges) {
        if (i % 40 == 39) {
          eNum += 1
          send(fromEsme = true, smppPdu(0x15, 0, eNum, Array.emptyByteArray))
          send(fromEsme = false, smppPdu(0x80000015L, 0, eNum, Array.emptyByteArray))
        }
        val src = "52" + digits(10)
        val dst = "52" + digits(10)
        val text = filler(20 + rnd.nextInt(100))
        if (rnd.nextBoolean()) {
          eNum += 1
          send(fromEsme = true, smppPdu(0x04, 0, eNum, submitBody(src, dst, text)))
          send(fromEsme = false, smppPdu(0x80000004L, 0, eNum, cstr(s"m$eNum")))
          expect.add("smpp", s"submit_sm|$eNum|$src|$dst")
          expect.add("smpp", s"submit_sm_resp|$eNum|$src|$dst")
        } else {
          sNum += 1
          send(fromEsme = false, smppPdu(0x05, 0, sNum, submitBody(src, dst, text)))
          send(fromEsme = true, smppPdu(0x80000005L, 0, sNum, cstr("")))
          expect.add("smpp", s"deliver_sm|$sNum|$src|$dst")
          expect.add("smpp", s"deliver_sm_resp|$sNum|$src|$dst")
        }
        if (i % 8 == 0) ack(fromEsme = true)
      }
    }

    // ---- GTP-C over UDP ----

    /** GTPv1 Create PDP Context and GTPv2 Create Session exchanges plus
      * echo; sequence numbers are unique within a file. */
    def gtp(ep: mutable.ArrayBuffer[Fr], exchanges: Int): Unit = {
      val sgsn = ip(10, 5, 1, 1 + rnd.nextInt(100))
      val ggsn = ip(10, 5, 2, 1 + rnd.nextInt(100))
      def send(fwd: Boolean, msg: Array[Byte]): Unit = {
        val (s, d) = if (fwd) (sgsn, ggsn) else (ggsn, sgsn)
        ep += new Fr(ipv4(17, s, d, udp(2123, 2123, msg)))
      }
      for (i <- 0 until exchanges) {
        gtpSeq += 1
        val seq = gtpSeq
        val imsi = "21407" + digits(10)
        val msisdn = "34" + digits(9)
        val teid = 0x1000L + seq
        if (i % 25 == 24) {
          send(fwd = true, gtpV1(1, 0, seq, Array[Byte](14, 0)))
          send(fwd = false, gtpV1(2, 0, seq, Array[Byte](14, 0)))
          expect.add("gtp", s"v1|Echo Request|$seq|")
          expect.add("gtp", s"v1|Echo Response|$seq|")
        } else if (rnd.nextBoolean()) {
          val req = cat(Array[Byte](2), tbcd(imsi), Array[Byte](14, 3), Array[Byte](16), be32(teid),
            Array[Byte](17), be32(teid + 1), Array(0x86.toByte), be16(1 + tbcd(msisdn).length),
            Array(0x91.toByte), tbcd(msisdn))
          send(fwd = true, gtpV1(16, 0, seq, req))
          send(fwd = false, gtpV1(17, teid, seq, cat(Array[Byte](1, 128.toByte), Array[Byte](16), be32(teid + 7))))
          expect.add("gtp", s"v1|Create PDP Context Request|$seq|$imsi")
          expect.add("gtp", s"v1|Create PDP Context Response|$seq|$imsi")
        } else {
          val req = cat(gtpV2Ie(1, tbcd(imsi)), gtpV2Ie(76, tbcd(msisdn)), gtpV2Ie(87, be32(teid)))
          send(fwd = true, gtpV2(32, 0, seq, req))
          send(fwd = false, gtpV2(33, teid, seq, cat(gtpV2Ie(2, Array[Byte](16, 0)), gtpV2Ie(87, be32(teid + 9)))))
          expect.add("gtp", s"v2|Create Session Request|$seq|$imsi")
          expect.add("gtp", s"v2|Create Session Response|$seq|$imsi")
        }
      }
    }

    // ---- HTTP-XML over TCP ----

    private val OcsOps = Seq("mo-acr", "mo-idp", "volte-acr", "shadow-number")
    private val Ss7Ops = Seq("sriForSm", "smsmo", "alertSC", "reportSMDeliver")

    private def ocsBody(op: String, dir: String, id: Long, pad: Int): String =
      s"""<$op-$dir id="$id"><msisdn>52${digits(10)}</msisdn><cdpa>52${digits(10)}</cdpa>""" +
        s"""<starttime>2026-01-01T00:00:00</starttime><periodduration>${rnd.nextInt(600)}</periodduration>""" +
        s"""<result>1</result><note>${filler(pad)}</note></$op-$dir>"""

    private def ss7Body(op: String, pad: Int): String =
      s"""<$op><msisdn np="1">52${digits(10)}</msisdn><orig np="1">52${digits(10)}</orig>""" +
        s"""<imsi>334${digits(12)}</imsi><msc np="1">m${rnd.nextInt(9)}</msc><note>${filler(pad)}</note></$op>"""

    /** One HTTP/1.1 connection carrying `exchanges` POST/200 pairs with
      * XML bodies split over 1-3 segments; OCS or SS7-SMS flavored. */
    def http(ep: mutable.ArrayBuffer[Fr], file: CaptureFile, exchanges: Int, ocs: Boolean,
        padMax: Int): Unit = {
      conns += 1
      val conn = conns
      val cli = ip(10, 6, rnd.nextInt(200), 1 + rnd.nextInt(200))
      val srv = ip(10, 6, 250, if (ocs) 1 else 2)
      val sport = if (ocs) 8080 else 8081
      val port = nextPort()
      var cSeq = 500000L + rnd.nextInt(1 << 20)
      var sSeq = 800000L + rnd.nextInt(1 << 20)
      handshake(ep, cli, srv, port, sport, cSeq, sSeq); cSeq += 1; sSeq += 1
      def send(fromCli: Boolean, text: String): Fr = {
        val bytes = ascii(text)
        val head = text.indexOf("\r\n") + 2
        val k = 1 + rnd.nextInt(3)
        // the first segment always holds the whole start line
        val cuts = (Seq(0) ++ (1 until k).map(i => head + (bytes.length - head) * i / k) :+ bytes.length).distinct
        var first: Fr = null
        for (Seq(a, z) <- cuts.sliding(2)) {
          val p = java.util.Arrays.copyOfRange(bytes, a, z)
          val f =
            if (fromCli) { val f = new Fr(ipv4(6, cli, srv, tcp(port, sport, cSeq, sSeq, FlagPshAck, p))); cSeq += p.length; f }
            else { val f = new Fr(ipv4(6, srv, cli, tcp(sport, port, sSeq, cSeq, FlagPshAck, p))); sSeq += p.length; f }
          ep += f
          if (first == null) first = f
        }
        first
      }
      for (_ <- 0 until exchanges) {
        val (reqBody, resBody, reqType, resType) =
          if (ocs) {
            val op = OcsOps(rnd.nextInt(OcsOps.length))
            val id = rnd.nextInt(100000).toLong
            (ocsBody(op, "request", id, rnd.nextInt(padMax)), ocsBody(op, "response", id, 8),
              s"$op-request", s"$op-response")
          } else {
            val op = Ss7Ops(rnd.nextInt(Ss7Ops.length))
            val resOp = if (rnd.nextInt(4) == 0) "error" else op
            val res = if (resOp == "error") "<error><text>unknown subscriber</text></error>" else ss7Body(op, 8)
            (ss7Body(op, rnd.nextInt(padMax)), res, op, resOp)
          }
        val req = send(fromCli = true,
          s"POST /${if (ocs) "ocs" else "ss7"} HTTP/1.1\r\nHost: gw\r\nContent-Type: text/xml\r\n" +
            s"Content-Length: ${reqBody.length}\r\n\r\n$reqBody")
        val res = send(fromCli = false,
          s"HTTP/1.1 200 OK\r\nContent-Type: text/xml\r\nContent-Length: ${resBody.length}\r\n\r\n$resBody")
        ep += new Fr(ipv4(6, cli, srv, tcp(port, sport, cSeq, sSeq, FlagAck, Array.emptyByteArray)))
        file.http += HttpExchange(conn, ocs, reqType, resType, req, res)
      }
      ep += new Fr(ipv4(6, cli, srv, tcp(port, sport, cSeq, sSeq, FlagFin | FlagAck, Array.emptyByteArray)))
      ep += new Fr(ipv4(6, srv, cli, tcp(sport, port, sSeq, cSeq + 1, FlagFin | FlagAck, Array.emptyByteArray)))
    }

    // ---- filler ----

    /** A frame every pipeline filter drops: pure TCP ACKs (some on the
      * Diameter port), SCTP SACK/HEARTBEAT, DNS, ARP and IPv6. */
    def fillerFrame(r: Random): Fr = {
      val x = r.nextInt(100)
      val a = ip(10, 9, r.nextInt(256), 1 + r.nextInt(250))
      val b = ip(10, 9, 255, 1 + r.nextInt(8))
      if (x < 35) {
        val dp = if (x < 8) 3868 else 443
        new Fr(ipv4(6, a, b, tcp(30000 + r.nextInt(30000), dp, r.nextInt(1 << 30), r.nextInt(1 << 30),
          FlagAck, Array.emptyByteArray)))
      } else if (x < 50) {
        val dp = if (x < 43) 3868 else 2905
        new Fr(ipv4(132, a, b, sctp(30000 + r.nextInt(30000), dp,
          if (x % 2 == 0) sackChunk(r.nextInt(1 << 30)) else heartbeatChunk(r.nextInt(1 << 20)))))
      } else if (x < 70) {
        val q = cat(be16(r.nextInt(65536)), Array[Byte](1, 0, 0, 1, 0, 0, 0, 0, 0, 0),
          Array[Byte](3), ascii("www"), Array[Byte](7), ascii("example"), Array[Byte](3), ascii("com"),
          Array[Byte](0, 0, 1, 0, 1))
        if (x < 60) new Fr(ipv4(17, a, b, udp(30000 + r.nextInt(30000), 53, q)))
        else new Fr(ipv4(17, b, a, udp(53, 30000 + r.nextInt(30000), q)))
      } else if (x < 80) new Fr(arp(a, b), EtherArp)
      else new Fr(ipv6Udp(30000 + r.nextInt(30000), 5353 + (x % 3), Array.fill[Byte](40 + x)(x.toByte)), EtherIpv6)
    }
  }

  /** Expected http, http_ss7 and http_ocs rows of one file, once frame
    * numbers are known: ids follow the pipelines' documented per-file
    * numbering (`Http.link`, `HttpSs7.unpivot`). */
  private def httpExpect(file: CaptureFile, expect: Expect): Unit = {
    val ex = file.http.toSeq
    // http: one id per message ordered by first frame; a request links
    // to the highest response id on its connection
    val msgs = ex.flatMap(e => Seq((e.reqFirst.no, true, e.conn), (e.resFirst.no, false, e.conn))).sortBy(_._1)
    val ids = msgs.zipWithIndex.map { case (m, i) => m -> (i + 1L) }.toMap
    val lastRes = msgs.filter(!_._2).groupBy(_._3).map { case (c, ms) => c -> ms.map(ids).max }
    for (m <- msgs) {
      val respIn = if (m._2) lastRes.get(m._3).map(_.toString).getOrElse("null") else "null"
      expect.add("http", s"${m._2}|${ids(m)}|$respIn")
    }
    // http_ss7 / http_ocs: request id 2k+1 and response id 2k, k ranking
    // pairs by the request's / the response's first frame
    def pairs(table: String, sel: Seq[HttpExchange], typeOf: (HttpExchange, Boolean) => String): Unit = {
      val qRank = sel.sortBy(_.reqFirst.no).zipWithIndex.map { case (e, i) => e -> (i + 1L) }.toMap
      val rRank = sel.sortBy(_.resFirst.no).zipWithIndex.map { case (e, i) => e -> (i + 1L) }.toMap
      for (e <- sel) {
        expect.add(table, s"${typeOf(e, true)}|${2 * qRank(e) + 1}|${2 * rRank(e)}|linked")
        expect.add(table, s"${typeOf(e, false)}|${2 * rRank(e)}|null|linked")
      }
    }
    pairs("http_ss7", ex, (e, req) => if (e.ocs) "null" else if (req) e.reqType else e.resType)
    pairs("http_ocs", ex.filter(_.ocs), (e, req) => if (req) e.reqType else e.resType)
  }

  /** Build, place and write one workload's captures under `dir`. */
  def workload(name: String, seed: Long, dir: Path): Inputs = {
    val rnd = new Random(seed * 1000003L + name.hashCode)
    val expect = new Expect
    val fam = new Families(rnd, expect, seed)
    val files = mutable.ArrayBuffer.empty[CaptureFile]
    name match {
      case "mixed_capture" =>
        // every family in every file; formats rotate over classic pcap
        // and pcapng, DLT 1 and 113
        val formats = Seq((false, 1), (true, 1), (false, 113), (true, 113))
        for (i <- 0 until 8) {
          val (ng, dlt) = formats(i % formats.length)
          val f = new CaptureFile(f"mixed-$i%02d.${if (ng) "pcapng" else "pcap"}", ng, dlt)
          for (_ <- 0 until 2) fam.diameterSctp(f.episode(), 40, 4, 3, 900)
          for (_ <- 0 until 4) fam.diameterTcp(f.episode(), 12, 1, 3, 0.05, 900)
          fam.tcap(f.episode(), 80, 0.2, 0.3)
          fam.sip(f.episode(), 16)
          for (_ <- 0 until 4) fam.smpp(f.episode(), 15, 0.1)
          fam.gtp(f.episode(), 80)
          for (k <- 0 until 16) fam.http(f.episode(), f, 1 + (k % 2), ocs = k % 3 != 0, 600)
          files += f
        }
        files.foreach(f => f.afterPlacement += (() => httpExpect(f, expect)))
        files.foreach(_.place(rnd, 48, 0.7, fam.fillerFrame))
      case "long_flows" =>
        // Diameter (sigshark → diameter) in one file; SMPP binds and TCAP
        // dialogues (smpp, ss7map) in the other
        val dia = new CaptureFile("long-diameter.pcap", pcapng = false, 1)
        for (_ <- 0 until 2) fam.diameterSctp(dia.episode(), 1000, 8, 4, 2400)
        for (_ <- 0 until 2) fam.diameterTcp(dia.episode(), 800, 2, 4, 0.1, 2400)
        dia.place(rnd, 8, 0.05, fam.fillerFrame)
        val other = new CaptureFile("long-ss7-smpp.pcapng", pcapng = true, 113)
        for (_ <- 0 until 3) fam.smpp(other.episode(), 1000, 0.15)
        for (_ <- 0 until 2) fam.tcap(other.episode(), 800, 0.5, 0.4)
        other.place(rnd, 8, 0.05, fam.fillerFrame)
        files += dia += other
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.createDirectories(dir)
    var bytes = 0L
    for ((f, i) <- files.zipWithIndex) bytes += f.write(dir, 1767225600L + i * 3600L)
    Inputs(dir, files.map(_.name).toSeq, files.map(_.placed.length.toLong).sum, bytes, expect)
  }
}
