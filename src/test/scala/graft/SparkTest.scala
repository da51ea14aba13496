package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one per JVM; Test/fork is on). */
object SparkTest {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the RocksDB state store provider, which
    * `transformWithState` queries require, and unsets it afterwards. */
  def withRocksDb[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
