package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{NearDupStream, NearPair}

/** Streaming MinHash near-dup: an exact duplicate arriving in a LATER
  * micro-batch must pair with the original (bucket state spans batches,
  * all bands collide for identical docs so detection is deterministic);
  * an unrelated document must not pair with anything.
  *
  * The operator runs on TimeMode.ProcessingTime (TTL'd ListState), so
  * the engine never quiesces and [[StreamSync.drain]] cannot be used;
  * waits are bounded [[StreamSync.poll]] calls, and the zero-output
  * check first waits for the batch to have consumed its rows
  * ([[StreamSync.awaitInputRows]]) so it cannot pass vacuously.
  */
class NearDupStreamSpec extends AnyFunSuite {

  test("duplicate across micro-batches pairs once; unrelated doc stays unpaired") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val template = "the quick brown fox jumps over the lazy dog again and again"
      val other = "completely different content with no shared trigrams at all here"
      val input = MemoryStream[(Long, String)]
      val q = NearDupStream.pairs(input.toDS().toDF("doc_id", "text"),
        "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4, threshold = 0.5)
        .writeStream.format("memory").queryName("neardup_stream")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData((1L, template), (2L, other))
        assert(StreamSync.awaitInputRows(q, 2))
        assert(spark.sql("SELECT * FROM neardup_stream").count() == 0)
        // batch 2: an exact duplicate of doc 1 — every band bucket
        // collides, the in-bucket verify fires against the RETAINED
        // member from batch 1, and the canonical-band rule makes
        // exactly ONE of the four matching buckets emit the pair (all
        // four verify in the same micro-batch, so count==1 proves it)
        input.addData((3L, template))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM neardup_stream").count() == 1
        })
        val p = spark.sql("SELECT * FROM neardup_stream").as[NearPair].head()
        assert(p == NearPair(1L, 3L, 1.0))
      } finally q.stop()
    }
  }

  test("maxBucket saturates a hot bucket: bounded state, drops counted") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val template = "the quick brown fox jumps over the lazy dog again and again"
      val acc = spark.sparkContext.longAccumulator(
        graft.operators.Dedup.SkippedBucketsAcc)
      val input = MemoryStream[(Long, String)]
      // cap 3: docs 1-3 fill the bucket; doc 4 pairs then trips
      // saturation (state cleared, counted); docs 5-6 drop silently
      val q = NearDupStream.pairs(input.toDS().toDF("doc_id", "text"),
        "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4, threshold = 0.5,
        maxBucket = 3, skippedAcc = Some(acc))
        .writeStream.format("memory").queryName("neardup_sat")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData((1L to 4L).map(i => (i, template)): _*)
        // pairs among the first 4 arrivals: (1,2),(1,3),(2,3),(1,4),(2,4),(3,4)
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM neardup_sat").count() == 6
        })
        // saturation counted once per band bucket (identical docs share
        // all 4 band buckets, each trips independently)
        assert(acc.value == 4)
        input.addData((5L, template), (6L, template))
        assert(StreamSync.awaitInputRows(q, 6))
        assert(spark.sql("SELECT * FROM neardup_sat").count() == 6) // no new pairs
      } finally q.stop()
    }
  }
}
