package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

/** Maximum of the values added (largest group a stateful step saw). */
final class MaxAcc extends AccumulatorV2[Long, Long] {
  private var v = 0L
  override def isZero: Boolean = v == 0L
  override def copy(): MaxAcc = { val c = new MaxAcc; c.v = v; c }
  override def reset(): Unit = v = 0L
  override def add(x: Long): Unit = if (x > v) v = x
  override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
  override def value: Long = v
}

/** Executor-side span sinks for one pipeline: busy nanoseconds and
  * counts at each layer boundary, carried to the driver as accumulators.
  * The pcap/packets/sink accumulators are shared by all pipelines; the
  * rest (from `pipeFrames` on) belong to this pipeline. */
final case class Probe(
    pcapNs: LongAccumulator, framesIn: LongAccumulator, bytesIn: LongAccumulator,
    packetsNs: LongAccumulator, decodedPkts: LongAccumulator, sinkNs: LongAccumulator,
    pipeFrames: LongAccumulator, kept: LongAccumulator, stateNs: LongAccumulator,
    decodeNs: LongAccumulator, segsIn: LongAccumulator, segsUseful: LongAccumulator,
    maxGroup: MaxAcc) {

  def keep(b: Boolean): Boolean = { if (b) kept.add(1); b }

  def state[T](body: => T): T = {
    val t0 = System.nanoTime(); val r = body; stateNs.add(System.nanoTime() - t0); r
  }

  def decode[T](body: => T): T = {
    val t0 = System.nanoTime(); val r = body; decodeNs.add(System.nanoTime() - t0); r
  }

  def packets[T](body: => T): T = {
    val t0 = System.nanoTime(); val r = body; packetsNs.add(System.nanoTime() - t0); r
  }

  def group(n: Int): Unit = { maxGroup.add(n.toLong); segsIn.add(n.toLong) }

  def useful(framesList: String): Unit = segsUseful.add(framesList.count(_ == ' ') + 1L)

  /** The pcap walk: time spent inside the reader's iterator. */
  def frames[T](it: Iterator[T], bytesOf: T => Int): Iterator[T] = new Iterator[T] {
    override def hasNext: Boolean = {
      val t0 = System.nanoTime(); val r = it.hasNext; pcapNs.add(System.nanoTime() - t0); r
    }
    override def next(): T = {
      val t0 = System.nanoTime(); val f = it.next(); pcapNs.add(System.nanoTime() - t0)
      framesIn.add(1); pipeFrames.add(1); bytesIn.add(bytesOf(f).toLong); f
    }
  }

  /** Sink time of a write task: task wall from the writer's first pull
    * to task completion, minus the time spent producing rows upstream. */
  def sinkTimed[T](it: Iterator[T]): Iterator[T] = {
    val start = System.nanoTime()
    var upstream = 0L
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      sinkNs.add(System.nanoTime() - start - upstream)
    })
    new Iterator[T] {
      override def hasNext: Boolean = {
        val t0 = System.nanoTime(); val r = it.hasNext; upstream += System.nanoTime() - t0; r
      }
      override def next(): T = {
        val t0 = System.nanoTime(); val r = it.next(); upstream += System.nanoTime() - t0; r
      }
    }
  }
}

/** Job, stage and task metrics of the traced passes, keyed by the job
  * group each pipeline runs under. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long = -1L)
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageGroup = mutable.HashMap.empty[Int, String]
  val perGroup = mutable.HashMap.empty[String, Array[Double]] // jobs, shuffle bytes
  var stages, tasks = 0L
  var taskNs, gcMs, shuffleBytes, fetchWaitMs, spillBytes = 0.0
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile var lastEvent = System.nanoTime()

  private def g(name: String): Array[Double] = perGroup.getOrElseUpdate(name, new Array[Double](2))

  def reset(): Unit = synchronized {
    jobs.clear(); stageGroup.clear(); perGroup.clear(); taskSpans.clear()
    stages = 0; tasks = 0; taskNs = 0; gcMs = 0; shuffleBytes = 0; fetchWaitMs = 0; spillBytes = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    jobs += Job(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageGroup(s) = group)
    g(group)(0) += 1
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    lastEvent = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    lastEvent = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1e6
      gcMs += m.jvmGCTime
      val sw = m.shuffleWriteMetrics.bytesWritten.toDouble
      shuffleBytes += sw
      g(stageGroup.getOrElse(e.stageId, "none"))(1) += sw
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
    lastEvent = System.nanoTime()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment, so a pass's events are all counted before reading. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized(jobs.forall(_.end >= 0)) && System.nanoTime() - lastEvent > 300000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

/** In-memory spans and per-layer counters of the traced passes; writes
  * the spans as JSON lines when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val listener = new JobListener
  private val accs = mutable.LinkedHashMap.empty[String, LongAccumulator]
  private val maxAccs = mutable.LinkedHashMap.empty[String, MaxAcc]
  private val spans = mutable.ArrayBuffer.empty[String]
  private var passNo = 0
  private var passStartMs = 0L
  private var fileWindows: Seq[(Long, Long)] = Nil

  private def acc(name: String): LongAccumulator = accs.getOrElseUpdate(name, sc.longAccumulator(name))
  private def maxAcc(name: String): MaxAcc =
    maxAccs.getOrElseUpdate(name, { val m = new MaxAcc; sc.register(m, name); m })

  def probe(p: String): Probe = Probe(acc("pcap.ns"), acc("pcap.frames"), acc("pcap.bytes"),
    acc("packets.ns"), acc("packets.decoded"), acc("sink.ns"), acc(s"$p.frames"),
    acc(s"$p.kept"), acc(s"$p.state_ns"), acc(s"$p.decode_ns"), acc(s"$p.segs_in"),
    acc(s"$p.segs_useful"), maxAcc(s"$p.max_group"))

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s""""$k": "$v""""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")

  def beginPass(): Unit = {
    passNo += 1
    accs.values.foreach(_.reset()); maxAccs.values.foreach(_.reset())
    listener.reset()
    fileWindows = Nil
    sc.addSparkListener(listener)
    passStartMs = System.currentTimeMillis()
  }

  /** Run `body` as pipeline `p`: its jobs carry `p` as job group, and a
    * driver span (child of the pass) records its wall time. */
  def pipeline[T](p: String)(body: => T): T = {
    sc.setJobGroup(p, p)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body finally {
      val wall = (System.nanoTime() - n0) / 1e9
      acc(s"$p.wall_us").add((wall * 1e6).toLong)
      spans += json("span" -> s"pipeline:$p", "parent" -> s"pass:$passNo", "start_ms" -> t0,
        "end_ms" -> System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }

  def fileQueue(windows: Seq[(Long, Long)]): Unit = fileWindows = windows

  def count(name: String, v: Long): Unit = acc(name).add(v)

  /** Sink write with the write time split out from the rows' production. */
  def write(df: DataFrame, path: String, pr: Probe): Unit =
    df.mapPartitions(it => pr.sinkTimed(it))(Encoders.row(df.schema))
      .write.mode("overwrite").parquet(path)

  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var cur = lo
    for ((a, b) <- iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (b > cur) { covered += b - math.max(a, cur); cur = b }
    }
    covered
  }

  /** Close a traced pass; returns the per-layer metrics it measured. */
  def endPass(pipelines: Seq[String], wallS: Double, frames: Long): Map[String, Double] = {
    val endMs = System.currentTimeMillis()
    listener.quiesce()
    sc.removeSparkListener(listener)
    val l = listener
    def v(name: String): Double = accs.get(name).map(_.value.toDouble).getOrElse(0.0)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("pcap.frames_in") = v("pcap.frames")
    m("pcap.mb_in") = v("pcap.bytes") / 1e6
    m("pcap.self_s") = v("pcap.ns") / 1e9
    m("packets.self_s") = v("packets.ns") / 1e9
    m("packets.decoded_ratio") = ratio(v("packets.decoded"), v("pcap.frames"))
    val (jobs, spanJobs) = l.synchronized((l.jobs.toList, l.taskSpans.toList))
    m("spark.jobs") = jobs.size
    m("spark.stages") = l.stages
    m("spark.tasks") = l.tasks
    m("spark.task_s") = l.taskNs / 1e9
    m("spark.gc_s") = l.gcMs / 1e3
    m("spark.shuffle_mb") = l.shuffleBytes / 1e6
    m("spark.shuffle_fetch_wait_s") = l.fetchWaitMs / 1e3
    m("spark.spill_mb") = l.spillBytes / 1e6
    val covered = union(jobs.map(j => (j.start, j.end)), passStartMs, endMs)
    m("spark.driver_gap_s") = math.max(0L, endMs - passStartMs - covered) / 1e3
    val fw = fileWindows
    m("queue.jobs_per_file") =
      if (fw.isEmpty) 0.0 else jobs.count(j => j.start >= fw.head._1 && j.start < fw.last._2).toDouble / fw.size
    m("queue.overhead_s") =
      if (fw.isEmpty) 0.0
      else Stats.median(fw.map { case (a, b) => (b - a - union(spanJobs, a, b)) / 1e3 })
    m("sink.write_s") = v("sink.ns") / 1e9
    m("pcapwriter.write_s") = v("pcapwriter.write_us") / 1e6
    for (p <- pipelines) {
      val frames = v(s"$p.frames")
      m(s"$p.filter_kept_ratio") = ratio(v(s"$p.kept"), frames)
      m(s"$p.state_s") = v(s"$p.state_ns") / 1e9
      m(s"$p.max_group_rows") = maxAccs.get(s"$p.max_group").map(_.value.toDouble).getOrElse(0.0)
      m(s"$p.shuffle_mb") = l.perGroup.get(p).map(_(1)).getOrElse(0.0) / 1e6
      m(s"$p.decode_s") = v(s"$p.decode_ns") / 1e9
      m(s"$p.reassemble.useful_ratio") = ratio(v(s"$p.segs_useful"), v(s"$p.segs_in"))
      m(s"$p.jobs") = l.perGroup.get(p).map(_(0)).getOrElse(0.0)
      m(s"$p.wall_s") = v(s"$p.wall_us") / 1e6
    }
    for (j <- jobs)
      spans += json("span" -> s"job:${j.id}", "parent" -> s"pipeline:${j.group}",
        "start_ms" -> j.start, "end_ms" -> j.end)
    spans += json("span" -> s"pass:$passNo", "parent" -> "run", "start_ms" -> passStartMs,
      "end_ms" -> endMs, "frames" -> frames, "wall_s" -> wallS)
    spans += json(("span" -> s"layers:$passNo") +: m.toSeq.map { case (k, x) => k -> x }: _*)
    m.toMap
  }

  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, spans.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
