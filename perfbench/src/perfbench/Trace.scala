package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into the program, made by the benchmark.
  *
  * `channel` says how Spark jobs find the span: "" = the benchmark
  * thread (the span id rides in the [[Trace.Key]] local property),
  * "stream" = the streaming query's thread (inherits the property
  * value "stream" from the thread that started the query), "http" =
  * the HTTP server's dispatcher thread (which inherits nothing, so its
  * jobs carry no property). Jobs of the two shared channels are matched
  * to the channel's span whose wall interval holds their start: the
  * loop is closed, so a channel has at most one open span at a time.
  */
final case class Span(
    id: Long,
    name: String,
    parent: Long,
    channel: String,
    phase: String,
    startMs: Long,
    endMs: Long,
    wallS: Double)

/** Spark work attributed to one span. */
final class Cost {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var rowsRead = 0L
  var bytesWritten = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  var driverGapS = 0.0

  def add(o: Cost): Unit = {
    tasks += o.tasks; taskMs += o.taskMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
    rowsRead += o.rowsRead
    bytesWritten += o.bytesWritten
  }

  def field(name: String): Double = name match {
    case "jobs" => jobs.toDouble
    case "stages" => stages.toDouble
    case "tasks" => tasks.toDouble
    case "task_s" => taskMs / 1e3
    case "shuffle_read_bytes" => shuffleRead.toDouble
    case "shuffle_write_bytes" => shuffleWrite.toDouble
    case "spill_bytes" => spill.toDouble
    case "gc_s" => gcMs / 1e3
    case "driver_gap_s" => driverGapS
    case "rows_read" => rowsRead.toDouble
    case "bytes_written" => bytesWritten.toDouble
  }
}

object Trace {
  /** The local property the benchmark sets around each traced call. */
  val Key = "perfbench.span"
}

object Tracer {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Times calls from outside and, when `traced`, attributes Spark jobs,
  * stages, tasks, shuffle, spill and GC to them through a listener the
  * benchmark owns. Spans stay in memory; [[finish]] resolves the
  * attribution once, after the run, and [[writeSpans]] writes them.
  */
final class Tracer(spark: SparkSession, val traced: Boolean, runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val listener = new Recorder
  if (traced) spark.sparkContext.addSparkListener(listener)

  /** "setup", "warmup" or "timed": the run phase new spans belong to. */
  @volatile var phase = "setup"

  def all: Seq[Span] = synchronized(spans.toList)
  /** The span recorded last (an op's own, inside its output check). */
  def last: Span = synchronized(spans.last)
  /** Spans of one name in the given phases (the timed phase by default). */
  def named(name: String, phases: Set[String] = Set("timed")): Seq[Span] =
    all.filter(s => s.name == name && phases(s.phase))

  /** Time `f` as span `name`. On the benchmark thread the span id is
    * the local property for the call's duration (restored after).
    */
  def time[T](name: String, parent: Long = 0, channel: String = "")(
      f: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Trace.Key)
    if (traced && channel.isEmpty) sc.setLocalProperty(Trace.Key, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = f(id)
      val wall = (System.nanoTime() - t0) / 1e9
      val span = Span(id, name, parent, channel, phase, startMs,
        System.currentTimeMillis(), wall)
      synchronized(spans += span)
      if (wall >= 1.0 || parent == 0)
        System.err.println(f"[perfbench] $phase%-6s $name%-20s $wall%8.3fs " +
          f"at ${(startMs - Tracer.jvmStartMs) / 1e3}%.1fs")
      (out, span)
    } finally if (traced && channel.isEmpty) sc.setLocalProperty(Trace.Key, prior)
  }

  /** Run `f` with the local property set to a shared channel name, so
    * threads created inside `f` (a streaming query's) inherit it.
    */
  def withChannel[T](channel: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(Trace.Key)
    if (traced) sc.setLocalProperty(Trace.Key, channel)
    try f finally if (traced) sc.setLocalProperty(Trace.Key, prior)
  }

  private var costs: Map[Long, Cost] = Map.empty

  /** Drain the listener bus and attribute every recorded job and stage
    * to its span. Call once, after the last traced call.
    */
  def finish(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val spansNow = all
    val byId = spansNow.map(s => s.id -> s).toMap
    val byChannel = spansNow.filter(_.channel.nonEmpty).groupBy(_.channel)
    def resolve(key: String, atMs: Long): Option[Span] = {
      val channel = if (key == null) "http" else key
      key match {
        case k if k != null && k.forall(_.isDigit) => byId.get(k.toLong)
        case _ => byChannel.getOrElse(channel, Nil)
          .find(s => s.startMs <= atMs && atMs <= s.endMs)
      }
    }
    val acc = spansNow.map(s => s.id -> new Cost).toMap
    listener.jobs.values.asScala.foreach { j =>
      resolve(j.key, j.startMs).foreach { s =>
        val c = acc(s.id)
        c.jobs += 1
        c.jobIntervals += ((j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
      }
    }
    listener.stages.values.asScala.foreach { st =>
      resolve(st.key, st.submittedMs).foreach { s =>
        val c = acc(s.id)
        c.stages += 1
        c.add(st.cost)
      }
    }
    acc.foreach { case (id, c) =>
      val s = byId(id)
      val busyMs = union(c.jobIntervals.toSeq.map { case (a, b) =>
        (math.max(a, s.startMs), math.min(b, s.endMs))
      })
      c.driverGapS = math.max(0.0, s.wallS - busyMs / 1e3)
    }
    costs = acc
  }

  def cost(s: Span): Cost = costs.getOrElse(s.id, new Cost)

  /** Jobs the listener saw that no span claimed (checks, set-up). */
  def unattributedJobs: Int =
    if (!traced) 0 else listener.jobs.size - costs.values.map(_.jobs).sum.toInt

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Spans as JSON lines (name, start, end, parent, run id and, when
    * traced, the span's Spark cost), written once at the end of a run.
    */
  def writeSpans(file: java.io.File): Unit = {
    val out = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      val c = cost(s)
      out.println(Json.obj(
        "run" -> Json.str(runId), "id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "phase" -> Json.str(s.phase),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(s.wallS), "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "task_s" -> Json.num(c.taskMs / 1e3),
        "driver_gap_s" -> Json.num(c.driverGapS)))
    } finally out.close()
  }
}

private final class JobRec(val key: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

private final class StageRec(val key: String, val submittedMs: Long) {
  val cost = new Cost
}

/** Records every job and stage with the span key of the thread that
  * submitted it, and sums task metrics per stage.
  */
private final class Recorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()

  private def key(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(Trace.Key)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new JobRec(key(e.properties), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stages.put((si.stageId, si.attemptNumber()), new StageRec(key(e.properties),
      si.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get((e.stageId, e.stageAttemptId))).foreach { st =>
      val c = st.cost
      c.synchronized {
        c.tasks += 1
        if (e.taskInfo != null) c.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.rowsRead += m.inputMetrics.recordsRead
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
}
