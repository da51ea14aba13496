package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, substring_index}

/** End-to-end ingest benchmark: generated captures in, protocol tables
  * out. One invocation runs one workload:
  *
  * {{{
  * Main --workload <mixed_capture|long_flows> --seed <n>
  *      --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * It generates the captures (uncharged), sets up a Spark session plus an
  * uncharged warm pass [[SetupReps]] times (`setup_s` is their median),
  * then runs timed passes for `--seconds`. Untraced, it prints the
  * end-to-end metrics; traced, it alternates untraced and traced passes
  * and prints the per-layer metrics of the traced ones. The last stdout
  * line is one JSON object with every metric measured.
  */
object Main {

  val SetupReps = 3
  val MinPasses = 1

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def session(cores: Int, scratch: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", scratch.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    .getOrCreate()

  /** Remove a directory tree; Spark's own shutdown hook may be deleting
    * parts of it at the same time, so a vanished entry means a retry. */
  def deleteTree(p: Path, tries: Int = 3): Unit =
    try {
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    } catch {
      case _: java.io.UncheckedIOException | _: java.nio.file.NoSuchFileException
          | _: java.nio.file.DirectoryNotEmptyException if tries > 1 => deleteTree(p, tries - 1)
    }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workloads.byName(opts.getOrElse("workload", ""))
      .getOrElse(sys.error(s"unknown workload; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val runDir = out.resolve(s"run-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(deleteTree(runDir))
    val t0 = System.nanoTime()
    val in = Gen.workload(wl.name, seed, runDir.resolve("captures"))
    log(f"generated ${in.files.size} files, ${in.frames} frames, ${in.bytes / 1e6}%.1f MB " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s (uncharged)")

    Heap.install()
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { k =>
      if (spark != null) spark.stop()
      Heap.fence()
      val s0 = System.nanoTime()
      spark = session(cores, runDir)
      spark.sparkContext.setLogLevel("ERROR")
      val s = (System.nanoTime() - s0) / 1e9 + wl.pass(spark, in, runDir.resolve(s"warm-$k"), None).wallS
      deleteTree(runDir.resolve(s"warm-$k"))
      log(f"setup $k: $s%.3f s")
      s
    }

    var ops, failed = 0
    /** One measured pass behind the GC fence: the pass, its peak heap and,
      * when traced, its per-layer metrics. */
    def measured(sink: Path, tracer: Option[Tracer]): (PassOut, Checked, Double, Map[String, Double]) = {
      deleteTree(sink)
      Heap.fence()
      Heap.reset()
      val gcs = Heap.gcCount
      tracer.foreach(_.beginPass())
      val p = wl.pass(spark, in, sink, tracer)
      val layers = tracer.fold(Map.empty[String, Double])(_.endPass(wl.pipelines, p.wallS, in.frames))
      if (Heap.gcCount == gcs) Heap.fence() // no collection during the pass: take the one after it
      val heap = Heap.peakMb
      val c = p.check()
      ops += c.ops
      failed += c.failed
      (p, c, heap, layers)
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val start = System.nanoTime()
    def more(n: Int): Boolean = n < MinPasses || System.nanoTime() - start < seconds * 1e9
    if (!traced) {
      val passes = mutable.ArrayBuffer.empty[(PassOut, Double)]
      while (more(passes.size)) {
        val (p, c, heap, _) = measured(runDir.resolve("sink"), None)
        passes += ((p, heap))
        log(f"pass ${passes.size}: ${p.wallS}%.3f s, ${in.frames / p.wallS}%.0f frames/s, heap $heap%.0f MB, " +
          s"failed ${c.failed}/${c.ops}")
      }
      val lat = passes.flatMap(_._1.fileLatencyS).toSeq
      metrics("setup_s") = Stats.median(setups)
      metrics("frames_per_s") = Stats.median(passes.map(p => in.frames / p._1.wallS).toSeq)
      metrics("file_latency_p50_s") = Stats.quantile(lat, 0.5)
      metrics("file_latency_p90_s") = Stats.quantile(lat, 0.9)
      metrics("peak_live_heap_mb") = Stats.median(passes.map(_._2).toSeq)
      log(s"${lat.size} file latency samples over ${passes.size} passes")
    } else {
      val tracer = new Tracer(spark)
      val plain = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      while (more(layers.size)) {
        val (u, _, _, _) = measured(runDir.resolve("sink-untraced"), None)
        plain += in.frames / u.wallS
        val (p, c, _, traced) = measured(runDir.resolve("sink-traced"), Some(tracer))
        val m = mutable.LinkedHashMap.empty[String, Double] ++= traced
        if (layers.isEmpty) failed += RebuildCheck.sameTables(spark, wl, runDir)
        m("sink.rows_out") = c.rowsOut.filter(_._1 != "sigshark").values.map(math.max(_, 0L)).sum.toDouble
        m("sink.mb_out") = wl.pipelines.filter(_ != "sigshark")
          .map(t => Workloads.treeBytes(runDir.resolve("sink-traced").resolve(t))).sum / 1e6
        for ((t, n) <- c.rowsOut) m(s"$t.rows_out") = math.max(n, 0L).toDouble
        if (wl == LongFlows)
          m("pcapwriter.mb_out") = Files.size(runDir.resolve("sink-traced").resolve("transactions.pcap")) / 1e6
        m("trace.frames_per_s") = in.frames / p.wallS
        layers += m.toMap
        log(f"traced pass ${layers.size}: untraced ${plain.last}%.0f, traced ${in.frames / p.wallS}%.0f frames/s")
      }
      for (k <- layers.head.keys) metrics(k) = Stats.median(layers.map(_.getOrElse(k, 0.0)).toSeq)
      metrics("trace.overhead_ratio") = Stats.median(plain.toSeq) / metrics("trace.frames_per_s")
      tracer.writeSpans(out.resolve("traces").resolve(s"${wl.name}-seed$seed.jsonl"))
    }
    spark.stop()
    log(s"ops $ops, failed $failed")
    val body = metrics.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    println(s"""{"ops": $ops, "ops_failed": $failed, "metrics": {$body}}""")
  }
}

/** The traced run's guard against drift: each rebuilt pipeline's table
  * must equal the one the pipeline's own `records` wrote. */
object RebuildCheck {
  /** Number of tables that differ (each counts as a failed op). */
  def sameTables(spark: SparkSession, wl: Workload, runDir: Path): Int = {
    val a = runDir.resolve("sink-untraced")
    val b = runDir.resolve("sink-traced")
    val tables = wl.pipelines.filter(_ != "sigshark")
    val bad = tables.count { t =>
      // the two passes read their inputs from different paths: compare
      // the capture file column on its file name
      def read(dir: Path) = {
        val df = spark.read.parquet(dir.resolve(t).toString)
        df.columns.filter(Set("pcapFilename", "pcap_filename")).foldLeft(df) { (d, c) =>
          d.withColumn(c, substring_index(col(c), "/", -1))
        }
      }
      val x = read(a)
      val y = read(b)
      val same = x.schema == y.schema && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
      if (!same) System.err.println(s"[perfbench] REBUILD DRIFT in $t: traced table differs from records()")
      !same
    }
    val pcapSame = wl != LongFlows || java.util.Arrays.equals(
      Files.readAllBytes(a.resolve("transactions.pcap")), Files.readAllBytes(b.resolve("transactions.pcap")))
    if (!pcapSame) System.err.println("[perfbench] REBUILD DRIFT in sigshark: transaction-sorted captures differ")
    bad + (if (pcapSame) 0 else 1)
  }
}
