package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DupWindow, SpanDedupStream}

/** Streaming span dedup: a later micro-batch repeating an earlier
  * document's window must mark BOTH occurrences (the retained first one
  * retroactively), a third occurrence marks immediately off the flag
  * state, and unique windows never emit.
  *
  * The operator runs on TimeMode.ProcessingTime (TTL state), so the
  * engine never quiesces and [[StreamSync.drain]] cannot be used;
  * waits are bounded [[StreamSync.poll]] calls, and the zero-output
  * check first waits for the batch to have consumed its rows
  * ([[StreamSync.awaitInputRows]]) so it cannot pass vacuously.
  */
class SpanDedupStreamSpec extends AnyFunSuite {

  test("second occurrence marks both docs' windows; third marks immediately") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val shared = "alpha beta gamma delta"  // exactly one 4-token window
      val input = MemoryStream[(Long, String)]
      val q = SpanDedupStream.dupWindows(input.toDS().toDF("doc_id", "text"),
        "doc_id", "text", w = 4)
        .writeStream.format("memory").queryName("span_stream")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // batch 1: doc 1 carries the window once; doc 2 is unrelated
        input.addData((1L, shared), (2L, "epsilon zeta eta theta iota"))
        assert(StreamSync.awaitInputRows(q, 2))
        assert(spark.sql("SELECT * FROM span_stream").count() == 0)
        // batch 2: doc 3 repeats it → both doc 1 (retroactive) and
        // doc 3 are marked
        input.addData((3L, shared))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM span_stream").count() == 2
        })
        // batch 3: doc 4 repeats it again → one immediate mark off the
        // collapsed flag state
        input.addData((4L, shared))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM span_stream").count() == 3
        })
        val marks = spark.sql("SELECT * FROM span_stream")
          .as[DupWindow].collect().toSet
        assert(marks === Set(DupWindow(1L, 1), DupWindow(3L, 1), DupWindow(4L, 1)))
      } finally q.stop()
    }
  }
}
