package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ClusterAdmit, ClusterSampleStream}

/** Streaming cluster-quota gate: per-cluster first-`quota` admission,
  * saturation persisting across micro-batches, and cap parity with the
  * batch [[graft.operators.SemDedup.clusterSample]] (same per-cluster
  * admitted COUNTS; membership differs by design — salted-md5 layout
  * vs arrival order).
  *
  * TimeMode.None (no timers, no TTL) → [[StreamSync.drain]] is a
  * deterministic wait.
  */
class ClusterSampleStreamSpec extends AnyFunSuite {

  private val cents = Array(Array(1f, 0f), Array(0f, 1f))

  test("per-cluster quota: first arrivals admitted, saturation persists across batches") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val x = Seq(1.0f, 0.0f); val y = Seq(0.0f, 1.0f)
      val input = MemoryStream[(Long, Seq[Float])]
      val q = ClusterSampleStream.gate(
        input.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, quota = 2)
        .writeStream.format("memory").queryName("cluster_gate")
        .outputMode("append").start()
      try {
        // batch 1: cluster 0 gets 3 arrivals (quota 2), cluster 1 gets 1
        input.addData((10L, x), (11L, x), (12L, x), (20L, y))
        assert(StreamSync.drain(q) {
          spark.sql("SELECT * FROM cluster_gate").count() == 4
        })
        // batch 2: cluster 0 already full — 13 rejected; cluster 1
        // admits 21 (its second) and rejects 22
        input.addData((13L, x), (21L, y), (22L, y))
        assert(StreamSync.drain(q) {
          spark.sql("SELECT * FROM cluster_gate").count() == 7
        })
        val rows = spark.sql("SELECT * FROM cluster_gate").as[ClusterAdmit]
          .collect().sortBy(_.vecId).toSeq
        assert(rows == Seq(
          ClusterAdmit(10L, 0L, 1L, true),
          ClusterAdmit(11L, 0L, 2L, true),
          ClusterAdmit(12L, 0L, 3L, false), // in-batch order by vec id
          ClusterAdmit(13L, 0L, 4L, false), // saturation persisted
          ClusterAdmit(20L, 1L, 1L, true),
          ClusterAdmit(21L, 1L, 2L, true),
          ClusterAdmit(22L, 1L, 3L, false)))
      } finally q.stop()
    }
  }

  test("stream admitted counts equal the batch cap per cluster") {
    val spark = SparkTest.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SparkTest.withRocksDb {
      val rows = (0 until 30).map { i =>
        val v = if (i % 3 == 0) Seq(1.0f, 0.001f * i) else Seq(0.001f * i, 1.0f)
        (i.toLong, v)
      }
      val input = MemoryStream[(Long, Seq[Float])]
      val q = ClusterSampleStream.gate(
        input.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding", cents, quota = 4)
        .writeStream.format("memory").queryName("cluster_gate_parity")
        .outputMode("append").start()
      try {
        input.addData(rows: _*)
        assert(StreamSync.drain(q) {
          spark.sql("SELECT * FROM cluster_gate_parity").count() == 30
        })
        val streamCounts = spark.sql(
          "SELECT clusterId, count(*) FROM cluster_gate_parity WHERE admitted GROUP BY clusterId")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val batchCounts = graft.operators.SemDedup.clusterSampleWithCentroids(
            rows.toDF("vec_id", "embedding"), "vec_id", "embedding", cents, quota = 4)
          .filter(org.apache.spark.sql.functions.col("selected"))
          .groupBy("cluster_id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(streamCounts == batchCounts && streamCounts.values.sum == 8L)
      } finally q.stop()
    }
  }
}
