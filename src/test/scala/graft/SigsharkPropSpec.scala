package graft

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{DiameterRec, Sigshark, TcapPkt, TcapSessState}
import graft.etl.Sigshark.Transaction

/** Property harness for the TCAP/Diameter sessionizers — the last big
  * stateful kernels without one (the same treatment Prefix/Components/
  * Bpe got in round 6): random interleaved begin/continue/end/abort
  * streams over a TINY tid/ssn/gt domain (so alias collisions, orphan
  * closes, re-opened tids and stale aliases actually occur) checked
  * against an independent single-threaded transcription of the tool's
  * own scan (`sigshark.py:470-520`), plus the chunk-composition law
  * that makes the batch machine and the streaming operator
  * (`TcapTws`) the same machine.
  *
  * One documented deviation mirrored by the model: on a close that
  * reaches a STALE alias (its transaction no longer open) the tool
  * would raise KeyError (`sigshark.py:507`, `del tas[key2]` unguarded);
  * the engine drops the close and clears the alias pair — the model
  * does what the engine documents, not what the tool crashes on.
  */
class SigsharkPropSpec extends AnyFunSuite {

  /** Single-threaded transcription of sigshark.py:470-520: insertion-
    * ordered open dict + bidirectional tid-alias dict. */
  private def referenceTcap(pkts: Seq[TcapPkt], keepPartial: Boolean): Seq[Transaction] = {
    final case class T(startSec: Long, startUsec: Int, frames: mutable.ArrayBuffer[Long])
    val tas = mutable.LinkedHashMap.empty[String, T]
    val mapTids = mutable.HashMap.empty[String, String]
    val done = mutable.ArrayBuffer.empty[Transaction]
    for (p <- pkts) {
      val okey = s"${p.cgSsn}_${p.cgGt}_${p.otid}"
      val dkey = s"${p.cdSsn}_${p.cdGt}_${p.dtid}"
      p.messType match {
        case "begin" =>
          tas(okey) = T(p.tsSec, p.tsUsec, mutable.ArrayBuffer(p.frameNo))
        case "continue" =>
          if (tas.contains(okey)) {
            tas(okey).frames += p.frameNo
            if (!mapTids.contains(okey)) { mapTids(okey) = dkey; mapTids(dkey) = okey }
          } else if (tas.contains(dkey)) {
            tas(dkey).frames += p.frameNo
            if (!mapTids.contains(okey)) { mapTids(okey) = dkey; mapTids(dkey) = okey }
          } else if (keepPartial) {
            tas(okey) = T(p.tsSec, p.tsUsec, mutable.ArrayBuffer(p.frameNo))
            mapTids(dkey) = okey
            mapTids(okey) = dkey
          }
        case "end" | "abort" =>
          if (tas.contains(dkey)) {
            val t = tas.remove(dkey).get
            done += Transaction(dkey, t.startSec, t.startUsec, (t.frames :+ p.frameNo).toSeq)
            mapTids.remove(dkey).foreach(mapTids.remove)
          } else if (mapTids.contains(dkey)) {
            val key2 = mapTids(dkey)
            tas.remove(key2).foreach(t =>
              done += Transaction(key2, t.startSec, t.startUsec, (t.frames :+ p.frameNo).toSeq))
            mapTids.remove(dkey)
            mapTids.remove(key2)
          } else if (keepPartial) {
            done += Transaction(dkey, p.tsSec, p.tsUsec, Seq(p.frameNo))
          }
        case _ => ()
      }
    }
    done.toSeq ++ (if (keepPartial)
      tas.toSeq.map { case (k, t) => Transaction(k, t.startSec, t.startUsec, t.frames.toSeq) }
    else Nil)
  }

  /** Tiny domains so the interesting collisions actually generate:
    * 4 tids × 2 ssns × 2 gts ≈ 16 keys, streams of ≤ 60 packets. */
  private val pktGen: Gen[Int => TcapPkt] = for {
    mess <- Gen.frequency(3 -> Gen.const("begin"), 4 -> Gen.const("continue"),
      2 -> Gen.const("end"), 1 -> Gen.const("abort"), 1 -> Gen.const("invoke"))
    otid <- Gen.chooseNum(0L, 3L)
    dtid <- Gen.chooseNum(0L, 3L)
    cgSsn <- Gen.oneOf(6, 8)
    cdSsn <- Gen.oneOf(6, 8)
    cgGt <- Gen.oneOf("491710001", "491710002")
    cdGt <- Gen.oneOf("491710001", "491710002")
  } yield (i: Int) =>
    TcapPkt("cap.pcap", i.toLong, 1000L + i, i % 1000000, mess, otid, dtid,
      cgSsn, cgGt, cdSsn, cdGt)

  private def stream(n: Int, seed: Long): Seq[TcapPkt] = {
    var s = org.scalacheck.rng.Seed(seed)
    (0 until n).map { i =>
      val mk = pktGen.apply(Gen.Parameters.default, s).get; s = s.next
      mk(i)
    }
  }

  test("random streams: the batch machine equals the sigshark.py transcription") {
    for (round <- 0 until 40; keepPartial <- Seq(false, true)) {
      val pkts = stream(60, seed = 1000 + round)
      val got = Sigshark.runTcapMachine(pkts.toArray, keepPartial).toSeq
      val want = referenceTcap(pkts, keepPartial)
      assert(got === want, s"round $round keepPartial=$keepPartial")
    }
  }

  test("chunk composition: stepTcap over any chunking equals the one-shot machine") {
    var s = org.scalacheck.rng.Seed(77L)
    for (round <- 0 until 25; keepPartial <- Seq(false, true)) {
      val pkts = stream(50, seed = 2000 + round)
      // random chunk boundaries, including empty chunks
      val nCuts = Gen.chooseNum(0, 6).apply(Gen.Parameters.default, s).get; s = s.next
      val cuts = (0 until nCuts).map { _ =>
        val c = Gen.chooseNum(0, pkts.length).apply(Gen.Parameters.default, s).get
        s = s.next; c
      }.sorted
      val bounds = (0 +: cuts :+ pkts.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => pkts.slice(a, b) }
      var st = TcapSessState(Nil, Map.empty)
      val emitted = mutable.ArrayBuffer.empty[Transaction]
      for (chunk <- chunks) {
        val (st2, done) = Sigshark.stepTcap(st, chunk, keepPartial)
        st = st2
        emitted ++= done
      }
      emitted ++= Sigshark.flushTcap(st, keepPartial)
      val oneShot = Sigshark.runTcapMachine(pkts.toArray, keepPartial).toSeq
      assert(emitted.toSeq === oneShot,
        s"round $round keepPartial=$keepPartial chunks=${chunks.map(_.length)}")
    }
  }

  test("sessionize: per-file machines over shuffled input equal per-file references") {
    val spark = SparkTest.spark
    import spark.implicits._
    for (round <- 0 until 3) {
      val files = Seq("a.pcap", "b.pcap", "c.pcap")
      val byFile = files.map { f =>
        f -> stream(40, seed = 3000 + round + f.hashCode % 97)
          .map(_.copy(pcapFilename = f))
      }
      // deterministic interleave ACROSS files + reversal WITHIN the
      // flattened order: the operator must restore frame order per file
      val shuffled = byFile.flatMap(_._2)
        .sortBy(p => (p.frameNo, p.pcapFilename)).reverse
      val gotAll = Sigshark.sessionize(shuffled.toDS(), keepPartial = true)
        .collect().toSet
      val want = byFile.flatMap { case (_, pkts) => referenceTcap(pkts, keepPartial = true) }
        .toSet
      assert(gotAll === want, s"round $round")
    }
  }

  /** Independent model of the Diameter rule (`sigshark.py:521-539`):
    * request opens at (command, hbh, e2e, session), any answer in the
    * group closes it; frames concatenate in time order. */
  private def referenceDiameter(recs: Seq[DiameterRec], keepPartial: Boolean): Set[Transaction] =
    recs.groupBy(r => s"${r.commandCode}|${r.hopByHopId}|${r.endToEndId}|${r.sessionId}")
      .collect { case (key, rows) if rows.exists(!_.request) || keepPartial =>
        val sorted = rows.sortBy(r => (r.timeEpoch, r.usecondsEpoch))
        Transaction(key, sorted.head.timeEpoch, sorted.head.usecondsEpoch,
          sorted.flatMap(_.framesList.split(" ").map(_.toLong)))
      }.toSet

  test("random Diameter records: machine equals the request/answer model") {
    var s = org.scalacheck.rng.Seed(55L)
    def gen[A](g: Gen[A]): A = { val v = g.apply(Gen.Parameters.default, s).get; s = s.next; v }
    for (round <- 0 until 20; keepPartial <- Seq(false, true)) {
      val n = gen(Gen.chooseNum(1, 40))
      val recs = (0 until n).map { i =>
        DiameterRec(s"${i * 2} ${i * 2 + 1}", 1000L + gen(Gen.chooseNum(0, 5)),
          gen(Gen.chooseNum(0, 3)), "1.1.1.1", "2.2.2.2", "cap.pcap",
          request = gen(Gen.prob(0.6)), commandCode = gen(Gen.oneOf(272, 316)),
          hopByHopId = gen(Gen.chooseNum(0L, 2L)), endToEndId = gen(Gen.chooseNum(0L, 2L)),
          sessionId = gen(Gen.oneOf("s1", "s2")), originHost = "oh", originRealm = "or",
          destinationHost = "dh", destinationRealm = "dr", resultCode = None,
          expResultCode = None, msisdn = "", imsi = "")
      }
      val got = Sigshark.runDiameterMachine(recs, keepPartial).toSet
      assert(got === referenceDiameter(recs, keepPartial), s"round $round kp=$keepPartial")
    }
  }
}
