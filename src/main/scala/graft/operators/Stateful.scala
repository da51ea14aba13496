package graft.operators

/** Keyed, order-dependent stateful operators (SURVEY §2.3 R1-R6 and §2.4
  * J1): payload reassembly and request↔response correlation.
  *
  * Each machine is written once, as an incremental step: a prior state
  * plus frame-ordered input gives the next state plus what it emits. The
  * batch operators (`groupByKey(...).flatMapGroups`) run the step once
  * per group from the empty state and flush at EOF; the streaming
  * operators (`streaming.GroupStep`, `streaming.CorrelateProcessor`,
  * `streaming.ReassembleStream`) carry the state across micro-batches and
  * flush on timeout. The flow/correlation key is the shuffle key; frame
  * order is restored *inside* the group by an explicit sort (SURVEY §7.3
  * #1: frame order is load-bearing; Spark must impose it, never assume
  * it).
  *
  * Scale: state is bounded per key (one in-flight buffer), groups are
  * per-flow — cardinality scales with flow count, not file size, so
  * `spark.sql.shuffle.partitions` spreads them evenly; no group ever holds
  * a whole file.
  */
object Stateful {

  /** One transport segment belonging to some flow key. */
  final case class Piece(
      frameNo: Long,
      tsSec: Long,
      tsUsec: Int,
      srcIp: String,
      dstIp: String,
      pcapFilename: String,
      payload: Array[Byte])

  /** A fully reassembled protocol message. `framesList` is the
    * space-joined source frame numbers (F20, `diameter.py:281,293`). */
  final case class Assembled(
      framesList: String,
      firstFrame: Long,
      tsSec: Long,
      tsUsec: Int,
      srcIp: String,
      dstIp: String,
      pcapFilename: String,
      payload: Array[Byte])

  /** R1/R2 carried state: the stashed bytes not yet forming a complete
    * message, the frames that contributed them (ascending), and the first
    * contributing piece (its payload dropped). An empty `buf` is the
    * no-stash state. */
  final case class Stash(buf: Array[Byte], frames: Seq[Long], first: Piece)

  object Stash {
    val Empty: Stash = Stash(Array.emptyByteArray, Nil, null)
  }

  /** R1/R2 stash-and-prepend reassembly step (`diameter.py:274-287,
    * 360-373`): walk frame-ordered segments; while the protocol's declared
    * length exceeds the buffered bytes, stash; each arrival appends to the
    * stash and concatenates frames_lists. Emits greedily: a buffer holding
    * more than one complete message yields one [[Assembled]] per message.
    * A partially consumed buffer keeps its accumulated frames.
    *
    * `expectedLen(buf)` returns the declared total length of the message
    * starting at buf(0), or -1 if undecidable (undecidable ⇒ emit as-is,
    * matching the reference's "parse will fail and be quarantined" path).
    * The returned [[Stash]] holds the incomplete residue.
    */
  def reassembleStep(
      prior: Stash,
      pieces: Iterator[Piece],
      expectedLen: Array[Byte] => Int): (Stash, Seq[Assembled]) = {
    val out = Seq.newBuilder[Assembled]
    var buf = prior.buf
    var frames: List[Long] = prior.frames.reverseIterator.toList
    var first = prior.first

    def flushComplete(): Unit = {
      var continue = true
      while (continue && buf.nonEmpty) {
        val want = expectedLen(buf)
        if (want > buf.length) continue = false // stash: wait for more
        else {
          val take = if (want > 0) want else buf.length
          out += Assembled(frames.reverse.mkString(" "), first.frameNo,
            first.tsSec, first.tsUsec, first.srcIp, first.dstIp,
            first.pcapFilename, java.util.Arrays.copyOfRange(buf, 0, take))
          buf = java.util.Arrays.copyOfRange(buf, take, buf.length)
          if (buf.isEmpty) { frames = Nil; first = null }
        }
      }
    }

    for (p <- pieces) {
      if (buf.isEmpty) {
        buf = p.payload
        frames = List(p.frameNo)
        first = p
      } else {
        buf = buf ++ p.payload
        frames = p.frameNo :: frames
      }
      flushComplete()
    }
    val next =
      if (buf.isEmpty) Stash.Empty
      else Stash(buf, frames.reverse, first.copy(payload = Array.emptyByteArray))
    (next, out.result())
  }

  /** Batch R1/R2 over one flow's segments: the step from the empty state.
    * Incomplete residue at EOF is dropped. */
  def reassemble(
      pieces: Seq[Piece],
      expectedLen: Array[Byte] => Int): Iterator[Assembled] =
    reassembleStep(Stash.Empty, pieces.sortBy(_.frameNo).iterator, expectedLen)._2.iterator

  /** One J1 emission: a matched pair `(Some(req), Some(res))`, an
    * unmatched answer `(None, Some(res))`, or a flushed request residue
    * `(Some(req), None)`. */
  type Outcome[T] = (Option[T], Option[T])

  /** J1 correlation step (`diameter.py:302-339`): one pending request slot
    * per key. Over frame-ordered messages:
    *   - request + empty slot → store; request + occupied slot →
    *     retransmission, dropped (D1, `diameter.py:307-309`);
    *   - answer → emitted with the slot's request (a match, or unmatched
    *     when the slot is empty), slot cleared.
    * Returns the slot left pending; flushing it (at EOF for batch, K3
    * `diameter.py:580-589`; on timeout for streaming) emits
    * `(Some(req), None)`.
    */
  def correlateStep[T](
      pending: Option[T],
      msgs: Iterator[T],
      isRequest: T => Boolean): (Option[T], Seq[Outcome[T]]) = {
    val out = Seq.newBuilder[Outcome[T]]
    var slot = pending
    for (m <- msgs) {
      if (isRequest(m)) {
        if (slot.isEmpty) slot = Some(m)
        // else: duplicate request with same key = retransmission → drop
      } else {
        out += ((slot, Some(m)))
        slot = None
      }
    }
    (slot, out.result())
  }

  /** An outcome as rows of the message type itself: a match yields the
    * `merge`d (req, res) pair, anything else its one side. */
  def rows[T](o: Outcome[T], merge: (T, T) => (T, T)): Iterator[T] = o match {
    case (Some(req), Some(res)) =>
      val (r1, r2) = merge(req, res)
      Iterator(r1, r2)
    case (req, res) => req.orElse(res).iterator
  }

  /** Batch J1 over one key's messages: the step from an empty slot, then
    * the EOF flush. `orderOf` supplies the frame order; `isRequest` splits
    * the sides; `merge(req, res)` returns the enriched (req, res) pair. */
  def correlate[T](
      msgs: Seq[T],
      orderOf: T => Long,
      isRequest: T => Boolean,
      merge: (T, T) => (T, T)): Iterator[T] = {
    val (left, outs) = correlateStep(None, msgs.sortBy(orderOf).iterator, isRequest)
    (outs.iterator ++ left.map(req => (Some(req), None))).flatMap(rows(_, merge))
  }
}
