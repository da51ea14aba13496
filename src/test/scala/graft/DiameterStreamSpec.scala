package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestBytes._
import graft.streaming.DiameterStream

/** File-watch streaming ingestion: captures dropped into a directory are
  * picked up per micro-batch; correlation state spans batches (an answer
  * arriving in a LATER file still pairs with its request).
  */
class DiameterStreamSpec extends AnyFunSuite {

  // The ProcessingTimeTimeout tests use bounded StreamSync.poll calls
  // and a consumed-rows wait before a zero-count assert; the event-time
  // test (EventTimeTimeout) drains deterministically on the query handle.

  test("drop-dir stream: cross-file correlation across micro-batches") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdrop")
    val a = Array[Byte](10, 0, 0, 1)
    val b = Array[Byte](10, 0, 0, 2)
    def sctpFrame(src: Array[Byte], dst: Array[Byte], payload: Array[Byte]) =
      ether(ipv4(132, src, dst, sctpData(3868, 3868, 1, 1, 46L, payload)))
    val req = diameterMsg(request = true, 316, 5, 5, strAvp(263, "s5"),
      groupedAvp(443, u32Avp(450, 0), strAvp(444, "5215")))
    val ans = diameterMsg(request = false, 316, 5, 5, strAvp(263, "s5"), u32Avp(268, 2001))

    val q = DiameterStream.records(spark, dir.toString, timeoutMs = 600000)
      .writeStream.format("memory").queryName("diam_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // batch 1: request only — nothing should emit (held in state)
      Files.write(dir.resolve("cap1.pcap"), pcapFile(Seq((1000L, 0, sctpFrame(a, b, req)))))
      assert(StreamSync.awaitInputRows(q, 1))
      assert(spark.sql("SELECT * FROM diam_stream").count() == 0)
      // batch 2: the answer arrives in a separate file
      Files.write(dir.resolve("cap2.pcap"), pcapFile(Seq((1001L, 0, sctpFrame(b, a, ans)))))
      assert(StreamSync.poll(60000) { spark.sql("SELECT * FROM diam_stream").count() == 2 })
      val rows = spark.sql("SELECT * FROM diam_stream")
        .as[graft.etl.DiameterRec].collect().sortBy(_.framesList)
      // J1 enrichment across micro-batches: answer got the request's msisdn
      assert(rows.exists(r => !r.request && r.msisdn == "5215" && r.resultCode.contains(2001L)))
      assert(rows.exists(r => r.request && r.pcapFilename.endsWith("cap1.pcap")))
    } finally q.stop()
  }

  test("event-time stream: correlation + watermark-driven residue flush") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdropet")
    val a = Array[Byte](10, 0, 0, 1)
    val b = Array[Byte](10, 0, 0, 2)
    def sctpFrame(src: Array[Byte], dst: Array[Byte], payload: Array[Byte]) =
      ether(ipv4(132, src, dst, sctpData(3868, 3868, 1, 1, 46L, payload)))
    val req1 = diameterMsg(request = true, 316, 5, 5, strAvp(263, "e1"),
      groupedAvp(443, u32Avp(450, 0), strAvp(444, "7777")))
    val ans1 = diameterMsg(request = false, 316, 5, 5, strAvp(263, "e1"), u32Avp(268, 2001))
    val req2 = diameterMsg(request = true, 316, 6, 6, strAvp(263, "e2"))
    val req3 = diameterMsg(request = true, 316, 7, 7, strAvp(263, "e3"))

    val q = DiameterStream.recordsEventTime(spark, dir.toString,
      watermarkDelay = "0 seconds", timeoutMs = 1000)
      .writeStream.format("memory").queryName("diam_et")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // batch 1: pair at capture time 1000s — emits both legs, enriched
      Files.write(dir.resolve("e1.pcap"), pcapFile(Seq(
        (1000L, 0, sctpFrame(a, b, req1)), (1000L, 500, sctpFrame(b, a, ans1)))))
      assert(StreamSync.drain(q) { spark.sql("SELECT * FROM diam_et").count() == 2 })
      assert(spark.sql("SELECT * FROM diam_et").as[graft.etl.DiameterRec]
        .collect().forall(_.msisdn == "7777"))
      // batch 2: lone request at 2000s — held (watermark still behind)
      Files.write(dir.resolve("e2.pcap"), pcapFile(Seq((2000L, 0, sctpFrame(a, b, req2)))))
      q.processAllAvailable()
      // batch 2b: e2's retransmission in a LATER file is dropped, and the
      // pending request's flush deadline must survive it
      Files.write(dir.resolve("e2r.pcap"), pcapFile(Seq((2000L, 500000, sctpFrame(a, b, req2)))))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM diam_et").count() == 2)
      // batch 3: unrelated request at 3000s advances the watermark past
      // 2000s + 1s, so e2's pending request flushes as the residue —
      // driven by CAPTURE time, not by how fast the files were dropped
      Files.write(dir.resolve("e3.pcap"), pcapFile(Seq((3000L, 0, sctpFrame(a, b, req3)))))
      assert(StreamSync.drain(q) {
        spark.sql("SELECT * FROM diam_et WHERE sessionId = 'e2'").count() == 1
      })
      assert(spark.sql("SELECT * FROM diam_et").count() == 3)
      assert(spark.sql("SELECT * FROM diam_et WHERE sessionId = 'e2'")
        .as[graft.etl.DiameterRec].head().pcapFilename.endsWith("e2.pcap"))
    } finally q.stop()
  }

  test("drop-dir stream: every DATA chunk of a bundled SCTP packet decodes") {
    val spark = SparkTest.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdropchunks")
    val a = Array[Byte](10, 0, 0, 1)
    val b = Array[Byte](10, 0, 0, 2)
    val req = diameterMsg(request = true, 316, 8, 8, strAvp(263, "s8"),
      groupedAvp(443, u32Avp(450, 0), strAvp(444, "4242")))
    val ans = diameterMsg(request = false, 316, 8, 8, strAvp(263, "s8"), u32Avp(268, 2001))
    // one SCTP packet, two DATA chunks: the second chunk is appended
    // after the first one's 12-byte common header
    val sctp = cat(sctpData(3868, 3868, 1, 1, 46L, req),
      sctpData(3868, 3868, 1, 2, 46L, ans).drop(12))

    val q = DiameterStream.records(spark, dir.toString, timeoutMs = 600000)
      .writeStream.format("memory").queryName("diam_chunks")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      Files.write(dir.resolve("bundle.pcap"), pcapFile(Seq((1000L, 0, ether(ipv4(132, a, b, sctp))))))
      assert(StreamSync.poll(60000) { spark.sql("SELECT * FROM diam_chunks").count() == 2 })
      val rows = spark.sql("SELECT * FROM diam_chunks").as[graft.etl.DiameterRec].collect()
      assert(rows.map(_.request).toSet == Set(true, false))
      assert(rows.forall(_.msisdn == "4242"))
    } finally q.stop()
  }
}
