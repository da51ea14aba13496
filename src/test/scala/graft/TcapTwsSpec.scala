package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TcapPkt
import graft.streaming.TcapTws

/** Streaming TCAP sessionization on transformWithState: a transaction
  * whose begin, continue and end/abort land in different micro-batches
  * closes exactly like the batch machine — including the tid-alias close
  * path, where the close references the responder's otid that only the
  * continue introduced — plus the registered-timer residue flush for
  * still-open transactions.
  */
class TcapTwsSpec extends AnyFunSuite {

  // TcapTws registers processing-time timers (transformWithState), so
  // waits are bounded StreamSync.poll calls — the engine keeps a timer
  // batch pending and processAllAvailable would not be safe. A zero-count
  // check first waits for the batch to have CONSUMED the rows
  // (StreamSync.awaitInputRows) so it can't pass vacuously.

  private def pkt(cap: String)(frame: Long, mt: String, cgS: Int, cgG: String, ot: Long,
      cdS: Int, cdG: String, dt: Long) =
    TcapPkt(cap, frame, 100L + frame, 0, mt, ot, dt, cgS, cgG, cdS, cdG)

  test("begin/continue/abort across micro-batches close via the alias map") {
    SparkTest.withRocksDb {
      val spark = SparkTest.spark
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val p = pkt("tws.pcap") _
      val input = MemoryStream[TcapPkt]
      val q = TcapTws.transactions(input.toDS(), timeoutMs = 60000)
        .writeStream.format("memory").queryName("tcap_tws")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData(p(1, "begin", 6, "ga", 0x11, 8, "gb", -1L))
        input.addData(p(2, "continue", 8, "gb", 0x22, 6, "ga", 0x11))
        input.addData(p(3, "abort", 6, "ga", 0x11, 8, "gb", 0x22))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM tcap_tws").count() == 1
        })
        val row = spark.sql("SELECT key, frames FROM tcap_tws").collect().head
        assert(row.getString(0) == "6_ga_17")
        assert(row.getSeq[Long](1) == Seq(1L, 2L, 3L))
      } finally q.stop()
    }
  }

  test("begin/continue/end across micro-batches close via the alias map") {
    SparkTest.withRocksDb {
      val spark = SparkTest.spark
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val p = pkt("tws3.pcap") _
      val input = MemoryStream[TcapPkt]
      val q = TcapTws.transactions(input.toDS(), timeoutMs = 60000)
        .writeStream.format("memory").queryName("tcap_tws3")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // begin opens 6_ga_68; the responder's continue links 8_gb_85;
        // the end is addressed to the responder tid and closes via alias
        input.addData(p(1, "begin", 6, "ga", 0x44, 8, "gb", -1L))
        input.addData(p(2, "continue", 8, "gb", 0x55, 6, "ga", 0x44))
        input.addData(p(3, "end", 6, "ga", -1L, 8, "gb", 0x55))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM tcap_tws3").count() == 1
        })
        val row = spark.sql("SELECT key, frames FROM tcap_tws3").collect().head
        assert(row.getString(0) == "6_ga_68")
        assert(row.getSeq[Long](1) == Seq(1L, 2L, 3L))
      } finally q.stop()
    }
  }

  test("orphan end in its own micro-batch is dropped; state cleared after close") {
    SparkTest.withRocksDb {
      val spark = SparkTest.spark
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val p = pkt("tws4.pcap") _
      val input = MemoryStream[TcapPkt]
      val q = TcapTws.transactions(input.toDS(), timeoutMs = 60000)
        .writeStream.format("memory").queryName("tcap_tws4")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // orphan end (nothing open, no alias) → dropped
        input.addData(p(1, "end", 6, "ga", -1L, 8, "gb", 0x99))
        // begin opens 6_ga_66; an end addressed to 8_gb_66 has no alias yet
        input.addData(p(2, "begin", 6, "ga", 0x42, 8, "gb", -1L))
        input.addData(p(3, "end", 8, "gb", -1L, 8, "gb", 0x42))
        assert(StreamSync.awaitInputRows(q, 3))
        assert(spark.sql("SELECT * FROM tcap_tws4").count() == 0)
        // responder continue links 8_gb_153 ↔ 6_ga_66; end to 8_gb_153 closes
        input.addData(p(4, "continue", 8, "gb", 0x99, 6, "ga", 0x42))
        input.addData(p(5, "end", 6, "ga", -1L, 8, "gb", 0x99))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM tcap_tws4").count() == 1
        })
        val row = spark.sql("SELECT key, frames FROM tcap_tws4").collect().head
        assert(row.getString(0) == "6_ga_66")
        assert(row.getSeq[Long](1) == Seq(2L, 4L, 5L))
      } finally q.stop()
    }
  }

  test("registered timer flushes a still-open transaction under keepPartial") {
    SparkTest.withRocksDb {
      val spark = SparkTest.spark
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val p = pkt("tws2.pcap") _
      val input = MemoryStream[TcapPkt]
      val q = TcapTws.transactions(input.toDS(), timeoutMs = 500, keepPartial = true)
        .writeStream.format("memory").queryName("tcap_tws2")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        // begin only — never closed; the sliding inactivity timer fires
        // and surfaces the partial transaction (sigshark --incomplete)
        input.addData(p(1, "begin", 6, "ga", 0x33, 8, "gb", -1L))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM tcap_tws2").count() == 1
        })
        val row = spark.sql("SELECT key, frames FROM tcap_tws2").collect().head
        assert(row.getString(0) == "6_ga_51")
        assert(row.getSeq[Long](1) == Seq(1L))
      } finally q.stop()
    }
  }
}
