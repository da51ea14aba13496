package graft.etl

import org.apache.spark.sql.DataFrame

/** The http_ss7 / http_ocs unpivot step and envelope columns, reachable
  * from the benchmark's traced rebuild of those two pipelines. */
object BenchAccess {
  val envelope: Seq[String] = HttpSs7.Envelope

  def unpivot(paired: DataFrame, extraCols: Seq[String]): DataFrame =
    HttpSs7.unpivot(paired, extraCols)
}
