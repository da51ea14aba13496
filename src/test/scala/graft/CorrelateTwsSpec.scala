package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CorrelateTws, Sessions}
import graft.streaming.Sessions.CorrEvent

class CorrelateTwsSpec extends AnyFunSuite {

  // CorrelateTws registers processing-time timers (transformWithState):
  // the engine keeps a timer batch pending, so waits are bounded
  // StreamSync.poll calls. The stale-timer test's sleeps are SEMANTIC
  // wall-clock (they position events inside/outside a timer window) and
  // sized with multi-second slack against box contention.

  test("transformWithState correlate: pairs + timer-based residue flush") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val input = MemoryStream[CorrEvent]
      val q = CorrelateTws.correlate(input.toDS(), timeoutMs = 500)
        .writeStream.format("memory").queryName("corr_tws")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData(
          CorrEvent("k1", isRequest = true, 1, "req"),
          CorrEvent("k1", isRequest = false, 2, "ans"),
          CorrEvent("k2", isRequest = true, 3, "lonely"))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr_tws WHERE matched").count() == 1
        })
        assert(spark.sql("SELECT * FROM corr_tws WHERE matched")
          .as[Sessions.CorrPair].head() == Sessions.CorrPair("k1", 1L, 2L, matched = true))
        // k2 flushes via the registered timer
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr_tws").as[Sessions.CorrPair].collect()
            .contains(Sessions.CorrPair("k2", 3L, -1L, matched = false))
        })
      } finally q.stop()
    }
  }

  test("transformWithState correlate: matched request deletes its timer " +
      "(no spurious flush of a later request on the same key)") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val input = MemoryStream[CorrEvent]
      val q = CorrelateTws.correlate(input.toDS(), timeoutMs = 6000)
        .writeStream.format("memory").queryName("corr_tws2")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // Cycle 1: matched within one batch; its timer must be deleted.
        input.addData(
          CorrEvent("k1", isRequest = true, 1, "req"),
          CorrEvent("k1", isRequest = false, 2, "ans"))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr_tws2 WHERE matched").count() == 1
        })
        // Cycle 2 starts well before cycle 1's (stale) timer would fire...
        // (sleeps only ever run LONG under load: "after the stale
        // expiry" is delay-safe, and the 6s cycle-2 timeout leaves
        // ~3.4s of slack on the "before cycle 2's own timeout" side)
        Thread.sleep(4000)
        input.addData(CorrEvent("k1", isRequest = true, 3, "req2"))
        // ...and its answer arrives after that stale expiry but before
        // cycle 2's own timeout. A leaked timer would flush frame 3 as
        // unmatched here; the fix keeps it pending.
        Thread.sleep(2600)
        input.addData(CorrEvent("k1", isRequest = false, 4, "ans2"))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM corr_tws2 WHERE matched").count() == 2
        })
        assert(spark.sql("SELECT * FROM corr_tws2 WHERE NOT matched").count() == 0)
      } finally q.stop()
    }
  }
}
