package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AsmPair, ReassembleStream, SegEvent}

/** Chained streaming reassembly→correlation (NEXT #1): a Diameter message
  * whose transport segments land in *different micro-batches* must still
  * assemble (R1/R2 state across batches) and then correlate (J1) — two
  * stateful operators in one streaming query, linked by the re-declared
  * event-time column.
  */
class ReassembleStreamSpec extends AnyFunSuite {

  // ReassembleStream registers processing-time timers
  // (transformWithState), so waits are bounded StreamSync.poll calls.

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("multi-segment message split across micro-batches reassembles, then correlates") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val req = TestBytes.diameterMsg(request = true, cmd = 272, hbh = 7, e2e = 9,
        TestBytes.strAvp(263, "sess-1"), TestBytes.strAvp(264, "client.example"))
      val ans = TestBytes.diameterMsg(request = false, cmd = 272, hbh = 7, e2e = 9,
        TestBytes.strAvp(263, "sess-1"), TestBytes.u32Avp(268, 2001))
      val cut = req.length / 2
      val reqA = req.slice(0, cut)
      val reqB = req.slice(cut, req.length)

      val input = MemoryStream[SegEvent]
      val q = ReassembleStream.diameterPairs(input.toDS(), timeoutMs = 60000)
        .writeStream.format("memory").queryName("asm_corr")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // micro-batch 1: first half of the request only — nothing can emit
        input.addData(SegEvent("flowA", 1, ts(10), reqA))
        // micro-batch 2: second half → request assembles from frames "1 2"
        input.addData(SegEvent("flowA", 2, ts(11), reqB))
        // micro-batch 3: the answer, whole, on the same flow
        input.addData(SegEvent("flowA", 3, ts(12), ans))

        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM asm_corr WHERE matched").count() == 1
        })
        val pair = spark.sql("SELECT * FROM asm_corr").as[AsmPair].head()
        assert(pair == AsmPair("272_7_9_sess-1", "1 2", "3", matched = true))
      } finally q.stop()
    }
  }

  test("greedy multi-emit: one segment carrying two messages yields both; " +
      "request residue flushes unmatched on timer") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val req = TestBytes.diameterMsg(request = true, cmd = 316, hbh = 1, e2e = 1,
        TestBytes.strAvp(263, "s2"))
      val ans = TestBytes.diameterMsg(request = false, cmd = 316, hbh = 1, e2e = 1,
        TestBytes.strAvp(263, "s2"))
      val lonely = TestBytes.diameterMsg(request = true, cmd = 317, hbh = 2, e2e = 2,
        TestBytes.strAvp(263, "s3"))

      val input = MemoryStream[SegEvent]
      val q = ReassembleStream.diameterPairs(input.toDS(), timeoutMs = 500)
        .writeStream.format("memory").queryName("asm_corr2")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // one segment = req + ans back-to-back (greedy multi-emit), plus a
        // lonely request on another flow whose timer must flush it
        input.addData(
          SegEvent("flowB", 1, ts(20), req ++ ans),
          SegEvent("flowC", 2, ts(21), lonely))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM asm_corr2 WHERE matched").count() == 1
        })
        val matched = spark.sql("SELECT * FROM asm_corr2 WHERE matched").as[AsmPair].head()
        assert(matched == AsmPair("316_1_1_s2", "1", "1", matched = true))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM asm_corr2").as[AsmPair].collect()
            .contains(AsmPair("317_2_2_s3", "2", "", matched = false))
        })
      } finally q.stop()
    }
  }
}
