package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MediaNearDupStream, MediaNearPair}

/** Streaming perceptual media near-dup: arrivals are flagged ON ARRIVAL
  * against TTL-retained bucket members, the pair set equals the batch
  * pigeonhole kernel's, and the maxBucket saturation guard bounds a
  * hot-bucket storm. TimeMode.ProcessingTime (TTL'd ListState) never
  * quiesces, so waits are StreamSync.poll / awaitInputRows. */
class MediaNearDupStreamSpec extends AnyFunSuite {

  test("near signature arriving in a later micro-batch is flagged on arrival, once") {
    val spark = SparkTest.spark
    import spark.implicits._
    SparkTest.withRocksDb {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val a = 0x0123456789abcd00L
      val far = ~a // ham 64 from a
      val input = MemoryStream[(Long, Long)]
      val q = MediaNearDupStream.sigPairs(input.toDS().toDF("mid", "sig"),
        "mid", "sig", maxDist = 3)
        .writeStream.format("memory").queryName("medianear_stream")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData((1L, a), (2L, far))
        assert(StreamSync.awaitInputRows(q, 2))
        assert(spark.sql("SELECT * FROM medianear_stream").count() == 0)
        // batch 2: ham-1 neighbor of the retained member 1 — identical
        // low chunks mean several buckets collide, but the
        // canonical-chunk rule emits exactly once
        input.addData((3L, a ^ (1L << 60)))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM medianear_stream").count() == 1
        })
        val p = spark.sql("SELECT * FROM medianear_stream").as[MediaNearPair].head()
        assert(p == MediaNearPair(1L, 3L, 1L))
      } finally q.stop()
    }
  }

  test("stream pair set equals the batch pigeonhole kernel's") {
    val spark = SparkTest.spark
    import spark.implicits._
    SparkTest.withRocksDb {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rnd = new scala.util.Random(23)
      val bases = Seq.fill(6)(rnd.nextLong())
      val sigs = bases.flatMap { b =>
        Seq(b, b, b ^ 1L, b ^ (1L << 17) ^ (1L << 41), rnd.nextLong())
      }.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val input = MemoryStream[(Long, Long)]
      val q = MediaNearDupStream.sigPairs(input.toDS().toDF("mid", "sig"),
        "mid", "sig", maxDist = 3)
        .writeStream.format("memory").queryName("medianear_parity")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData(sigs: _*)
        val batch = graft.operators.ImageDedup
          .nearPairs(sigs.toDF("img_id", "dhash"), maxDist = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(batch.nonEmpty)
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM medianear_parity").count() == batch.size
        })
        val stream = spark.sql("SELECT * FROM medianear_parity")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(stream === batch)
      } finally q.stop()
    }
  }

  test("image wrapper: a duplicate PNG arriving later flags on arrival") {
    val spark = SparkTest.spark
    import spark.implicits._
    SparkTest.withRocksDb {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val png = {
        val img = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 8).foreach(y => (0 until 9).foreach(x => {
          val v = 40 + x * 11 + y * 7
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }))
        graft.multimodal.Multimodal.JvmImageCodec.encodePng(img)
      }
      val input = MemoryStream[(Long, Array[Byte])]
      val q = MediaNearDupStream.imagePairs(input.toDS().toDF("img_id", "png"),
        "img_id", "png", maxDist = 0)
        .writeStream.format("memory").queryName("medianear_img")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData((1L, png), (2L, Array[Byte](1, 2, 3))) // junk never pairs
        assert(StreamSync.awaitInputRows(q, 2))
        assert(spark.sql("SELECT * FROM medianear_img").count() == 0)
        input.addData((3L, png))
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM medianear_img").count() == 1
        })
        val p = spark.sql("SELECT * FROM medianear_img").as[MediaNearPair].head()
        assert(p == MediaNearPair(1L, 3L, 0L))
      } finally q.stop()
    }
  }

  test("maxBucket saturates a hot bucket: bounded state, drops counted") {
    val spark = SparkTest.spark
    import spark.implicits._
    SparkTest.withRocksDb {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val acc = spark.sparkContext.longAccumulator(
        graft.operators.Dedup.SkippedBucketsAcc)
      val input = MemoryStream[(Long, Long)]
      // one identical signature for everyone — the thumbnail storm
      val q = MediaNearDupStream.sigPairs(input.toDS().toDF("mid", "sig"),
        "mid", "sig", maxDist = 3, maxBucket = 3, skippedAcc = Some(acc))
        .writeStream.format("memory").queryName("medianear_sat")
        .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
      try {
        input.addData((1L to 4L).map(i => (i, 42L)): _*)
        // pairs among the first 4 arrivals, then saturation
        assert(StreamSync.poll(60000) {
          spark.sql("SELECT * FROM medianear_sat").count() == 6
        })
        // identical sigs share all 4 pigeonhole chunks; each bucket
        // trips once
        assert(acc.value == 4)
        input.addData((5L, 42L), (6L, 42L))
        assert(StreamSync.awaitInputRows(q, 6))
        assert(spark.sql("SELECT * FROM medianear_sat").count() == 6)
      } finally q.stop()
    }
  }
}
