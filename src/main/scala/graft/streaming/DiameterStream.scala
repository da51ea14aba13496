package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.{Diameter, DiameterPipeline, DiameterRec, Packets}
import graft.operators.Stateful
import graft.sources.Pcap
import graft.streaming.GroupStep.{EventTime, ProcessingTime}

/** [[DiameterStream.recordsEventTime]] carrier: the decoded record plus
  * its capture timestamp as an event-time column (top-level case class
  * for encoder codegen; the column name is what `withWatermark`
  * anchors). */
final case class TimedDiameterRec(rec: DiameterRec, eventTime: java.sql.Timestamp)

/** Streaming Diameter ingestion (SURVEY §2.10: "Structured Streaming
  * file source watching a drop directory = the ingestion_queue
  * pattern"): `readStream(binaryFile)` over a capture drop-dir → frame
  * decode → Diameter decode → J1 correlation via
  * `flatMapGroupsWithState` ([[GroupStep.correlate]]), with unmatched
  * requests flushed by state timeout (the streaming analog of the EOF
  * residue flush — an *extension*, the reference defines no late-data
  * policy).
  *
  * This drop-dir path decodes single-segment messages (the
  * overwhelmingly common case) with a single stateful operator. For
  * captures whose messages straddle transport segments *across
  * micro-batches*, [[ReassembleStream.diameterPairs]] chains the R1/R2
  * stash machine and J1 correlation as two `transformWithState`
  * operators in one query (NEXT.md #1, done).
  */
object DiameterStream {

  private val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** readStream(binaryFile) → pcap frame decode → Diameter decode: the
    * shared front of both correlation variants. */
  private def decoded(spark: SparkSession, watchDir: String): Dataset[DiameterRec] = {
    import spark.implicits._
    spark.readStream.format("binaryFile").schema(BinaryFileSchema)
      .load(watchDir)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => Pcap.decodeFile(p, bytes) }
      .flatMap(Packets.decode _)
      .filter(p => p.srcPort == Diameter.Port || p.dstPort == Diameter.Port)
      .flatMap { p =>
        // every DATA chunk of an SCTP packet, as the batch path decodes them
        val payloads = p.ipProto match {
          case Packets.ProtoSctp =>
            Packets.sctpChunks(p).filter(c => c.chunkType == 0 && c.payload.nonEmpty).map(_.payload)
          case Packets.ProtoTcp if p.payload.nonEmpty => Seq(p.payload)
          case _ => Nil
        }
        payloads.flatMap(Diameter.decode).filter(_.commandCode != Diameter.CmdDeviceWatchdog)
          .map(m => DiameterRec(p.frameNo.toString, p.tsSec, p.tsUsec, p.srcIp, p.dstIp,
            p.pcapFilename, m.request, m.commandCode, m.hopByHopId, m.endToEndId,
            m.sessionId, m.originHost, m.originRealm, m.destinationHost,
            m.destinationRealm, m.resultCode, m.expResultCode, m.msisdn, m.imsi))
      }
  }

  def records(spark: SparkSession, watchDir: String, timeoutMs: Long = 60000): Dataset[DiameterRec] = {
    import spark.implicits._
    // unlike the batch path, the correlation key does NOT include the
    // capture filename: the stream is one logical capture, so a request
    // in one dropped file pairs with its answer in a later one
    GroupStep.correlate(
      decoded(spark, watchDir)
        .groupByKey(r => (r.commandCode, r.hopByHopId, r.endToEndId, r.sessionId)),
      ProcessingTime[DiameterRec](timeoutMs))(
      _.framesList.split(" ").head.toLong, _.request) {
      (_, o) => Stateful.rows(o, DiameterPipeline.enrich)
    }
  }

  /** [[records]] on EVENT time, end-to-end: the correlation clock is the
    * CAPTURE timestamp, not the ingestion wall clock — the unmatched-
    * request flush fires when the watermark (derived from packet
    * timestamps across the whole stream) passes request-time + timeout.
    * A 100 TB backfill replayed at full speed therefore produces exactly
    * the rows the live tail did; the processing-time variant cannot make
    * that promise (its flushes depend on ingestion pacing). Same J1/D1/
    * K3 machine otherwise. */
  def recordsEventTime(spark: SparkSession, watchDir: String,
      watermarkDelay: String = "10 seconds",
      timeoutMs: Long = 60000): Dataset[DiameterRec] = {
    import spark.implicits._
    GroupStep.correlate(
      decoded(spark, watchDir)
        .map(r => TimedDiameterRec(r,
          new java.sql.Timestamp(r.timeEpoch * 1000L + r.usecondsEpoch / 1000)))
        .withWatermark("eventTime", watermarkDelay)
        .groupByKey(t => (t.rec.commandCode, t.rec.hopByHopId, t.rec.endToEndId, t.rec.sessionId)),
      EventTime[TimedDiameterRec](_.eventTime.getTime + timeoutMs))(
      _.rec.framesList.split(" ").head.toLong, _.rec.request) {
      (_, o) => Stateful.rows((o._1.map(_.rec), o._2.map(_.rec)), DiameterPipeline.enrich)
    }
  }
}
