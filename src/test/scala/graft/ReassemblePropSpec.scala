package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Diameter
import graft.operators.Stateful
import graft.operators.Stateful.{Assembled, Piece, Stash}

/** Property check for the stash-and-prepend reassembly machine: random
  * message trains cut at random byte boundaries — including cuts inside
  * the 4-byte length header, one-byte segments, segments spanning
  * several messages, and a trailing incomplete message — must
  * reassemble to exactly the original messages with frame attribution
  * following the batch rule (a message's frames are every segment that
  * contributed bytes to its buffer since the last empty-buffer point).
  * The unit examples pin representative shapes; this pins the boundary
  * arithmetic under arbitrary segmentation, and that the R1/R2 and J1
  * steps run over any micro-batch split equal their one-shot runs. */
class ReassemblePropSpec extends AnyFunSuite {

  /** One well-formed Diameter frame of `len` bytes (len ≥ 20): version
    * byte 1, 3-byte big-endian declared length, deterministic body. */
  private def msg(len: Int, tag: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    b(0) = 1
    b(1) = ((len >> 16) & 0xff).toByte
    b(2) = ((len >> 8) & 0xff).toByte
    b(3) = (len & 0xff).toByte
    var i = 4
    while (i < len) { b(i) = ((tag * 31 + i) & 0xff).toByte; i += 1 }
    b
  }

  private def piece(no: Long, payload: Array[Byte]): Piece =
    Piece(no, 1000L + no, 0, "1.1.1.1", "2.2.2.2", "cap.pcap", payload)

  test("random trains at random cuts reassemble to the original messages") {
    var s = org.scalacheck.rng.Seed(88L)
    def gen[A](g: Gen[A]): A = { val v = g.apply(Gen.Parameters.default, s).get; s = s.next; v }
    for (round <- 0 until 60) {
      val msgs = (0 until gen(Gen.chooseNum(1, 5))).map(t => msg(gen(Gen.chooseNum(20, 60)), t))
      val train = msgs.reduce(_ ++ _)
      // random distinct cut points anywhere in the byte stream
      val nCuts = gen(Gen.chooseNum(0, 8))
      val cuts = (0 until nCuts).map(_ => gen(Gen.chooseNum(1, math.max(1, train.length - 1))))
        .distinct.sorted
      val bounds = (0 +: cuts :+ train.length).distinct.sorted
      val pieces = bounds.zip(bounds.tail).zipWithIndex.map { case ((a, b), i) =>
        piece(i + 1, java.util.Arrays.copyOfRange(train, a, b))
      }
      val out = Stateful.reassemble(pieces, Diameter.expectedLength).toSeq
      assert(out.length == msgs.length, s"round $round cuts=$cuts")
      for ((got, want) <- out.zip(msgs))
        assert(java.util.Arrays.equals(got.payload, want),
          s"round $round: payload mismatch at cuts $cuts")
      // frame attribution: every emitted message's frames are a
      // contiguous ascending run, and together they cover all segments
      val frames = out.map(_.framesList.split(" ").map(_.toLong).toSeq)
      frames.foreach(f => assert(f == (f.min to f.max), s"non-contiguous frames $f"))
      assert(frames.flatten.toSet == pieces.map(_.frameNo).toSet
        || frames.flatten.toSet.subsetOf(pieces.map(_.frameNo).toSet),
        s"round $round: frames outside the segment set")
      // a trailing incomplete message must stash: dropped at EOF, and
      // exactly its bytes are the step's residue
      val cutTrain = java.util.Arrays.copyOfRange(train, 0, train.length - 5)
      val pieces2 = Seq(piece(1, cutTrain))
      val out2 = Stateful.reassemble(pieces2, Diameter.expectedLength).toSeq
      assert(out2.length == msgs.length - 1, s"round $round: truncated tail must stash")
      val cutBounds = bounds.filter(_ < cutTrain.length) :+ cutTrain.length
      val cutPieces = cutBounds.zip(cutBounds.tail).zipWithIndex.map { case ((a, b), i) =>
        piece(i + 1, java.util.Arrays.copyOfRange(cutTrain, a, b))
      }
      // the step over random micro-batch splits: concatenated emissions
      // and the final residue equal the one-shot run
      for (ps <- Seq(pieces, cutPieces)) {
        val (oneLeft, oneOut) = Stateful.reassembleStep(Stash.Empty, ps.iterator, Diameter.expectedLength)
        assert(oneOut.map(norm) == Stateful.reassemble(ps, Diameter.expectedLength).map(norm).toSeq)
        var left = Stash.Empty
        val emitted = Seq.newBuilder[Assembled]
        for (chunk <- splits(ps, gen(Gen.chooseNum(0, 4)), gen)) {
          val (next, done) = Stateful.reassembleStep(left, chunk.iterator, Diameter.expectedLength)
          left = next
          emitted ++= done
        }
        assert(emitted.result().map(norm) == oneOut.map(norm), s"round $round: split emissions")
        assert(norm(left) == norm(oneLeft), s"round $round: split residue")
      }
      val (residue, _) = Stateful.reassembleStep(Stash.Empty, cutPieces.iterator, Diameter.expectedLength)
      assert(residue.buf.sameElements(msgs.last.dropRight(5)), s"round $round: residue bytes")
    }
  }

  test("J1 step over random micro-batch splits equals one-shot correlate") {
    final case class M(frame: Long, req: Boolean, msisdn: String)
    def merge(q: M, a: M): (M, M) = {
      val ms = if (q.msisdn.nonEmpty) q.msisdn else a.msisdn
      (q.copy(msisdn = ms), a.copy(msisdn = ms))
    }
    var s = org.scalacheck.rng.Seed(89L)
    def gen[A](g: Gen[A]): A = { val v = g.apply(Gen.Parameters.default, s).get; s = s.next; v }
    for (round <- 0 until 60) {
      // runs of requests are retransmissions; answers may find no request
      val msgs = (1 to gen(Gen.chooseNum(0, 16))).map { f =>
        M(f.toLong, gen(Gen.oneOf(true, false)), gen(Gen.oneOf("", s"m$f")))
      }
      val oneShot = Stateful.correlate[M](msgs, _.frame, _.req, merge).toSeq
      var pending: Option[M] = None
      val emitted = Seq.newBuilder[M]
      for (chunk <- splits(msgs, gen(Gen.chooseNum(0, 4)), gen)) {
        val (next, outs) = Stateful.correlateStep(pending, chunk.iterator, (m: M) => m.req)
        pending = next
        outs.foreach(emitted ++= Stateful.rows(_, merge))
      }
      pending.foreach(req => emitted ++= Stateful.rows((Some(req), None), merge))
      assert(emitted.result() == oneShot, s"round $round msgs=$msgs")
    }
  }

  /** `xs` cut into `k` + 1 consecutive micro-batches at random points
    * (empty batches included). */
  private def splits[A](xs: Seq[A], k: Int, gen: Gen[Int] => Int): Seq[Seq[A]] = {
    val cuts = Seq.fill(k)(gen(Gen.chooseNum(0, xs.length))).sorted
    val bounds = 0 +: cuts :+ xs.length
    bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
  }

  private def norm(a: Assembled) =
    (a.framesList, a.firstFrame, a.tsSec, a.tsUsec, a.srcIp, a.dstIp, a.pcapFilename, a.payload.toSeq)

  private def norm(st: Stash) =
    (st.buf.toSeq, st.frames, Option(st.first).map(_.copy(payload = null)))
}
