package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CorrelateTws, Sessions}
import graft.streaming.Sessions.{CorrEvent, SessionEvent}

/** Structured-Streaming statefuls driven through MemoryStream — the
  * streaming extension of SURVEY §2.10 (state machines shared with the
  * batch path).
  */
class StreamingSpec extends AnyFunSuite {

  // The processing-time test must use StreamSync.poll —
  // `processAllAvailable` can NOT be used there: with a processing-time
  // timer the engine always reports another batch pending, so it never
  // quiesces. The event-time tests drain deterministically.

  test("streaming correlate: match emits pair, timeout flushes residue") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val input = MemoryStream[CorrEvent]
      val q = CorrelateTws.correlate(input.toDS(), timeoutMs = 500)
        .writeStream.format("memory").queryName("corr")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData(
          CorrEvent("k1", isRequest = true, 1, "req"),
          CorrEvent("k1", isRequest = true, 2, "retrans"),
          CorrEvent("k1", isRequest = false, 3, "ans"),
          CorrEvent("k2", isRequest = true, 4, "lonely"))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr WHERE matched").count() == 1
        })
        val matched = spark.sql("SELECT * FROM corr WHERE matched").as[Sessions.CorrPair].collect()
        assert(matched.toSeq == Seq(Sessions.CorrPair("k1", 1L, 3L, matched = true)))
        // k2's pending request must flush via its timer (K3 analog)
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr").as[Sessions.CorrPair].collect()
            .contains(Sessions.CorrPair("k2", 4L, -1L, matched = false))
        })
        // unmatched answer passes straight through
        input.addData(CorrEvent("k3", isRequest = false, 9, "late-ans"))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr").as[Sessions.CorrPair].collect()
            .contains(Sessions.CorrPair("k3", -1L, 9L, matched = false))
        })
      } finally q.stop()
    }
  }

  test("event-time correlate: watermark-driven flush, wall clock irrelevant") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[graft.streaming.TimedCorrEvent]
    // timeout 5s of EVENT time, watermark delay 0 — flushes depend only
    // on the data's own timestamps
    val q = Sessions.correlateEventTime(input.toDS(), "0 seconds", timeoutMs = 5000)
      .writeStream.format("memory").queryName("corr_et")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
    try {
      // matched pair, then an unmatched request at t=20
      input.addData(
        graft.streaming.TimedCorrEvent("a", isRequest = true, 1, ts(10)),
        graft.streaming.TimedCorrEvent("a", isRequest = false, 2, ts(11)),
        graft.streaming.TimedCorrEvent("b", isRequest = true, 3, ts(20)))
      assert(StreamSync.drain(q) {
        spark.sql("SELECT * FROM corr_et WHERE matched").count() == 1
      })
      // d's request, then its retransmission in a LATER micro-batch: the
      // retransmission is dropped and d's flush deadline must survive it
      input.addData(graft.streaming.TimedCorrEvent("d", isRequest = true, 6, ts(22)))
      q.processAllAvailable()
      input.addData(graft.streaming.TimedCorrEvent("d", isRequest = true, 7, ts(23)))
      // nothing flushes while the watermark sits below t=25...
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM corr_et").count() == 1)
      // ...an event at t=60 advances it past 20s+5s and 22s+5s → b's and
      // d's requests flush
      input.addData(graft.streaming.TimedCorrEvent("c", isRequest = true, 4, ts(60)))
      input.addData(graft.streaming.TimedCorrEvent("c", isRequest = false, 5, ts(61)))
      assert(StreamSync.drain(q) {
        spark.sql("SELECT * FROM corr_et WHERE NOT matched AND resFrame = -1").count() == 2
      })
      val flushed = spark.sql("SELECT key, reqFrame FROM corr_et WHERE NOT matched")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
      assert(flushed == Set("b" -> 3L, "d" -> 6L))
    } finally q.stop()
  }

  test("event-time correlate: a retransmission after the watermark passed the deadline flushes the request") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // without no-data batches, a timeout is only checked in a batch that
    // carries data — so e's retransmission can arrive while e's request
    // is already past its deadline
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val input = MemoryStream[graft.streaming.TimedCorrEvent]
      val q = Sessions.correlateEventTime(input.toDS(), "0 seconds", timeoutMs = 5000)
        .writeStream.format("memory").queryName("corr_et_late")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
      try {
        input.addData(graft.streaming.TimedCorrEvent("e", isRequest = true, 1, ts(10)))
        q.processAllAvailable()
        // z advances the watermark to 100 s, past e's 15 s deadline
        input.addData(graft.streaming.TimedCorrEvent("z", isRequest = true, 2, ts(100)))
        q.processAllAvailable()
        input.addData(graft.streaming.TimedCorrEvent("e", isRequest = true, 3, ts(101)))
        assert(StreamSync.drain(q) {
          spark.sql("SELECT * FROM corr_et_late WHERE key = 'e'").count() == 1
        })
        assert(spark.sql("SELECT * FROM corr_et_late").as[Sessions.CorrPair].collect().toSeq ==
          Seq(Sessions.CorrPair("e", 1L, -1L, matched = false)))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
  }

  test("batch sessionize: gap split matches the windowed-SQL analog") {
    val spark = SparkTest.spark
    import spark.implicits._
    val events = Seq(
      SessionEvent(1, 0L, 1, 1.0),
      SessionEvent(1, 1000L, 2, 2.0),
      SessionEvent(1, 100000L, 3, 3.0), // gap > 10ms → new session
      SessionEvent(2, 0L, 4, 4.0)).toDS()
    val out = Sessions.sessionize(events, gapMicros = 10000L, flushAtEnd = true)
      .collect().sortBy(s => (s.key, s.sessionStart))
    assert(out.length == 3)
    assert(out(0).nEvents == 2 && out(0).sumValue == 3.0)
    assert(out(1).nEvents == 1 && out(1).sessionStart == 100000L)
    assert(out(2).key == 2L)
  }
}
