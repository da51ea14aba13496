package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, size, split}

import graft.etl._
import graft.sources.Pcap

/** One timed pass: wall time, per-file latencies, and the (uncharged)
  * check that reads its tables back. */
final case class PassOut(wallS: Double, fileLatencyS: Seq[Double], check: () => Checked)

/** Ops attempted and failed in a pass, and rows per table (-1: mismatch). */
final case class Checked(ops: Int, failed: Int, rowsOut: Map[String, Long])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The three workloads: what one pass runs, and how its tables are
  * checked against the generator's expectations. */
abstract class Workload(val name: String) {
  /** Pipelines whose per-layer metrics this workload reports. */
  def pipelines: Seq[String]

  /** One timed pass over `in`, writing tables under `sink`. */
  def pass(spark: SparkSession, in: Inputs, sink: Path, tracer: Option[Tracer]): PassOut

  protected def now(): Long = System.nanoTime()

  /** A pipeline as a function of its input path: the engine's own
    * `records`, or the traced rebuild of it. */
  protected def pipe(p: String, tracer: Option[Tracer]): (SparkSession, String) => DataFrame =
    tracer match {
      case None => p match {
        case "diameter" => (s, x) => DiameterPipeline.records(s, x).toDF()
        case "ss7map" => GsmMapPipeline.records
        case "sip" => Sip.records
        case "smpp" => SmppPipeline.records
        case "gtp" => GtpPipeline.records
        case "http" => Http.records
        case "http_ss7" => HttpSs7.records
        case "http_ocs" => HttpOcs.records
      }
      case Some(t) =>
        val probe = t.probe(p)
        p match {
          case "diameter" => (s, x) => Rebuilt.diameter(s, x, probe).toDF()
          case "ss7map" => (s, x) => Rebuilt.ss7map(s, x, probe)
          case "sip" => (s, x) => Rebuilt.sip(s, x, probe)
          case "smpp" => (s, x) => Rebuilt.smpp(s, x, probe)
          case "gtp" => (s, x) => Rebuilt.gtp(s, x, probe)
          case "http" => (s, x) => Rebuilt.http(s, x, probe)
          case "http_ss7" => (s, x) => Rebuilt.httpSs7(s, x, probe)
          case "http_ocs" => (s, x) => Rebuilt.httpOcs(s, x, probe)
        }
    }

  /** Run pipeline `p` on `input` and write its table to `out`. */
  protected def ingest(spark: SparkSession, p: String, input: String, out: Path,
      tracer: Option[Tracer]): Unit = tracer match {
    case None => pipe(p, None)(spark, input).write.mode("overwrite").parquet(out.toString)
    case Some(t) => t.pipeline(p)(t.write(pipe(p, tracer)(spark, input), out.toString, t.probe(p)))
  }

  /** Key columns each table is checked on (see [[Gen]]). */
  private val keys: Map[String, Seq[Column]] = {
    val nFrames = size(split(col("framesList"), " "))
    val httpTail = Seq(col("type"), col("id"), col("http_response_in"), col("link_state"))
    Map(
      "diameter" -> Seq(col("request"), col("commandCode"), col("hopByHopId"), col("endToEndId"), col("msisdn")),
      "ss7map" -> Seq(col("tcapMessType"), col("tcapOtid"), col("tcapDtid"), nFrames),
      "sip" -> Seq(col("callId"), col("method"), col("statusCode"), nFrames),
      "smpp" -> Seq(col("commandId"), col("sequenceNumber"), col("sourceAddr"), col("destinationAddr")),
      "gtp" -> Seq(col("gtpVersion"), col("gtpMessage"), col("gtpSeqNumber"), col("imsi")),
      "http" -> Seq(col("httpIsRequest"), col("id"), col("http_response_in")),
      "http_ss7" -> httpTail,
      "http_ocs" -> httpTail)
  }

  /** Compare table `t` (parquet under `path`, a glob allowed) with the
    * expectation; returns the row count read, or -1 on a mismatch. */
  protected def checkTable(spark: SparkSession, t: String, path: String, e: Expect): Long = {
    val rows = spark.read.parquet(path).select(keys(t): _*).collect()
    val sum = rows.iterator.map(r => Expect.keyHash(
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|"))).sum
    if (rows.length == e.rows(t) && sum == e.sums(t)) rows.length.toLong
    else {
      System.err.println(s"[perfbench] CHECK FAILED $t: rows ${rows.length} (expected ${e.rows(t)}), " +
        s"checksum $sum (expected ${e.sums(t)})")
      -1L
    }
  }

  protected def timed(body: => Unit): Double = {
    val t0 = now(); body; (now() - t0) / 1e9
  }
}

/** Every pipeline re-walks every frame of a mixed capture set. */
object MixedCapture extends Workload("mixed_capture") {
  override def pipelines: Seq[String] = Gen.Tables

  override def pass(spark: SparkSession, in: Inputs, sink: Path, tracer: Option[Tracer]): PassOut = {
    val wall = timed(Gen.Tables.foreach(p => ingest(spark, p, in.dir.toString, sink.resolve(p), tracer)))
    PassOut(wall, Seq.fill(in.files.size)(wall), () => {
      val rows = Gen.Tables.map(t => t -> checkTable(spark, t, sink.resolve(t).toString, in.expect)).toMap
      Checked(Gen.Tables.size, rows.count(_._2 < 0), rows)
    })
  }
}

/** Large associations, drained one file per job through the queue
  * runner in the reference's `diameter.sh` order: sigshark rewrites the
  * Diameter capture transaction-sorted and the diameter pipeline ingests
  * the rewrite; smpp and ss7map ingest the SMPP/TCAP capture. */
object LongFlows extends Workload("long_flows") {
  override def pipelines: Seq[String] = Seq("sigshark", "diameter", "smpp", "ss7map")

  private def tablesOf(file: String): Seq[String] =
    if (file.contains("diameter")) Seq("diameter") else Seq("smpp", "ss7map")

  private def pcapFrames(p: Path): Long = Pcap.decodeFile(p.toString, Files.readAllBytes(p)).size.toLong

  override def pass(spark: SparkSession, in: Inputs, sink: Path, tracer: Option[Tracer]): PassOut = {
    Files.createDirectories(sink)
    val sorted = sink.resolve("transactions.pcap")
    var txs: Seq[Sigshark.Transaction] = Nil
    val starts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (nanoTime, epoch ms)
    /** One queue job: the file's tables, read back for the queue row's count. */
    def job(s: SparkSession, file: String): DataFrame = {
      starts += ((now(), System.currentTimeMillis()))
      if (file.contains("diameter")) {
        txs = tracer match {
          case None => Sigshark.run(s, file, sorted)
          case Some(t) => t.pipeline("sigshark")(
            Rebuilt.sigshark(s, file, sorted, t.probe("sigshark_in"), t.probe("sigshark"), t))
        }
        ingest(s, "diameter", sorted.toString, sink.resolve("diameter"), tracer)
      } else {
        ingest(s, "smpp", file, sink.resolve("smpp"), tracer)
        ingest(s, "ss7map", file, sink.resolve("ss7map"), tracer)
      }
      tablesOf(file).map(t => s.read.parquet(sink.resolve(t).toString).select(lit(1).as("row"))).reduce(_ union _)
    }
    val t0 = now()
    val entries = QueueRunner.run(spark, s"${in.dir.toUri}long-*", 1L, job)
    val end = (now(), System.currentTimeMillis())
    val wall = (end._1 - t0) / 1e9
    val bounds = starts.toSeq :+ end
    val latencies = bounds.sliding(2).map { case Seq(a, b) => (b._1 - a._1) / 1e9 }.toSeq
    tracer.foreach(_.fileQueue(bounds.sliding(2).map { case Seq(a, b) => (a._2, b._2) }.toSeq))
    PassOut(wall, latencies, () => check(spark, in.expect, sink, sorted, txs, entries))
  }

  private def check(spark: SparkSession, e: Expect, sink: Path, sorted: Path,
      txs: Seq[Sigshark.Transaction], entries: Seq[QueueRunner.QueueEntry]): Checked = {
    val sigOk = txs.size == e.sigsharkTransactions && pcapFrames(sorted) == e.sigsharkFrames
    if (!sigOk) System.err.println(s"[perfbench] CHECK FAILED sigshark: ${txs.size} transactions " +
      s"(expected ${e.sigsharkTransactions}), ${pcapFrames(sorted)} frames (expected ${e.sigsharkFrames})")
    val rows = Seq("diameter", "smpp", "ss7map").map(t => t -> checkTable(spark, t, sink.resolve(t).toString, e)).toMap +
      ("sigshark" -> (if (sigOk) txs.size.toLong else -1L))
    // a failed queue job or a row count off the expectation fails the file's ops
    val badJobs = entries.filter(q => q.state != 2 || q.processed != tablesOf(q.filename).map(e.rows).sum)
    badJobs.foreach(q => System.err.println(s"[perfbench] CHECK FAILED queue job ${q.filename}: " +
      s"state ${q.state}, ${q.processed} rows"))
    val failedOps = rows.filter(_._2 < 0).keySet ++
      badJobs.flatMap(q => if (q.filename.contains("diameter")) Seq("sigshark", "diameter") else tablesOf(q.filename))
    Checked(4, failedOps.size, rows)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(MixedCapture, LongFlows)

  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Bytes of the regular files under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
