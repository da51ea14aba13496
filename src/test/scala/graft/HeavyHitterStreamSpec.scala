package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Profiling
import graft.streaming.HeavyHitterStream

/** Streaming profiling analogs: the SpaceSaving heavy-hitter gate
  * (superset of the batch exact heavy hitters, count brackets hold,
  * state bounded at k per bucket) and the doc-length histogram under
  * complete mode (accumulates across micro-batches to the batch
  * histogram of the union; quantile read-out equals the batch
  * operator). Both run on TimeMode.None / plain aggregation, so
  * [[StreamSync.drain]]'s processAllAvailable is a deterministic wait.
  */
class HeavyHitterStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private val batchA: Seq[(Long, String)] = Seq(
    1L -> "hh hh hh hh spark joins tables",
    2L -> "hh hh window functions rank rows")
  private val batchB: Seq[(Long, String)] = Seq(
    3L -> "hh hh hh shuffle shuffle window",
    4L -> "hh gardening tulips and window boxes")

  test("SpaceSaving candidates are a superset of the batch heavy hitters with valid brackets") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val k = 4
      val input = MemoryStream[(Long, String)]
      val q = HeavyHitterStream.candidates(
          input.toDS().toDF("doc_id", "text"), "text", buckets = 2, k = k)
        .writeStream.format("memory").queryName("hh_stream")
        .outputMode("update").start()
      try {
        input.addData(batchA: _*)
        assert(StreamSync.drain(q) {
          spark.sql("SELECT count(*) FROM hh_stream").collect().head.getLong(0) > 0
        })
        input.addData(batchB: _*)
        val all = (batchA ++ batchB).toDF("doc_id", "text")
        val want = Profiling.heavyHitters(all, "text", k)
          .as[(String, Long, Long)].collect()
        assert(want.nonEmpty, "fixture must contain a true heavy hitter")
        assert(StreamSync.drain(q) {
          // latest emission per term: counts only grow, so max() is it
          val cands = spark.sql(
            "SELECT term, max(countUpper), max(countLower) FROM hh_stream GROUP BY term")
            .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
          want.forall { case (term, cnt, _) =>
            cands.contains(term) && cands(term)._2 <= cnt && cnt <= cands(term)._1
          }
        })
        // state bound: no bucket ever emitted more than k candidates in a batch
        val trueCounts = all.select(explode(split(trim(col("text")), "\\s+")).as("t"))
          .groupBy("t").count().as[(String, Long)].collect().toMap
        val rows = spark.sql("SELECT bucket, term, countUpper, countLower FROM hh_stream")
          .collect()
        assert(rows.map(_.getLong(0)).distinct.forall { b =>
          rows.count(r => r.getLong(0) == b) <= 2 * k // ≤ k per emission, 2 batches
        })
        // brackets: lower ≤ true ≤ upper for every FINAL candidate
        val finals = rows.groupBy(_.getString(1)).map { case (t, rs) =>
          t -> (rs.map(_.getLong(2)).max, rs.map(_.getLong(3)).max)
        }
        finals.foreach { case (t, (up, lo)) =>
          assert(lo <= trueCounts(t) && trueCounts(t) <= up, s"bracket broken for $t")
        }
      } finally q.stop()
    }
  }

  test("streaming doc-length histogram accumulates to the batch histogram; quantile read-out matches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = Profiling.docLengthHistogram(input.toDS().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("len_hist")
      .outputMode("complete").start()
    try {
      input.addData(batchA: _*)
      assert(StreamSync.drain(q) {
        spark.sql("SELECT count(*) FROM len_hist").collect().head.getLong(0) > 0
      })
      input.addData(batchB: _*)
      val all = (batchA ++ batchB).toDF("doc_id", "text")
      val wantHist = Profiling.docLengthHistogram(all, "text")
        .as[(Long, Long)].collect().toMap
      assert(StreamSync.drain(q) {
        spark.sql("SELECT v, c FROM len_hist").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap == wantHist
      })
      // read-out over the accumulated histogram == the batch operator
      val streamed = Profiling.quantilesFromHistogram(
          spark.sql("SELECT v, c FROM len_hist"), Seq(25, 50, 75))
        .as[(Int, Long)].collect().toMap
      val batch = Profiling.docLengthQuantiles(all, "text", Seq(25, 50, 75))
        .as[(Int, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }
}
