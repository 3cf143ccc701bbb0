package kgbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.KgbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. `kind` is "call" for a layer call made by the
  * benchmark and "job" for a Spark job that ran inside such a call.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counters of one stage attempt. */
final class StageStat(val group: String) {
  var submitMs = 0L
  var completeMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  def wallSeconds: Double = math.max(0L, completeMs - submitMs) / 1000.0
}

/** Collects job and stage counters keyed by the job group the tracer sets
  * around each layer call. Spark 4 reports AQE stages under a generic call
  * site, so the job group is the only reliable attribution.
  */
final class JobListener extends SparkListener {
  val stageGroup = mutable.HashMap.empty[Int, String]
  val stages = mutable.HashMap.empty[(Int, Int), StageStat]
  val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  var tasks = 0L

  private def stat(stage: Int, attempt: Int): StageStat =
    stages.getOrElseUpdate((stage, attempt),
      new StageStat(stageGroup.getOrElse(stage, "")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) => jobs += ((e.jobId, g, t0, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stat(i.stageId, i.attemptNumber())
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(s.submitMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val s = stat(e.stageId, e.stageAttemptId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans recorded around the benchmark's calls into the program, held in
  * memory and written out at exit. With tracing off `span` only runs its
  * body. `active` switches recording per iteration, so one traced run can
  * time iterations both ways and report the tracing overhead.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = List(0L)
  private var nextId = 1L
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val listener = new JobListener
  private var _active = false

  def active: Boolean = _active

  def active_=(on: Boolean): Unit = if (enabled && on != _active) {
    drain()
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    _active = on
  }

  def drain(): Unit = if (_active) KgbenchBus.drain(sc)

  def span[T](name: String)(body: => T): T =
    if (!_active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      sc.setJobGroup(s"kgb-$id", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (stack.head == 0L) sc.clearJobGroup() else sc.setJobGroup(s"kgb-${stack.head}", "")
        spans += Span(id, parent, name, "call", t0, t1)
      }
    }

  def callSpans(name: String): Seq[Span] = spans.filter(s => s.kind == "call" && s.name == name).toSeq

  /** Stage counters of the jobs that ran inside the given spans. */
  def stagesOf(ss: Seq[Span]): Seq[StageStat] = {
    drain()
    val groups = ss.map(s => s"kgb-${s.id}").toSet
    listener.stages.values.filter(st => groups(st.group)).toSeq
  }

  /** Stages that wrote files (parquet output). */
  def writeStagesOf(ss: Seq[Span]): Seq[StageStat] = stagesOf(ss).filter(_.outputBytes > 0)

  /** Writes call spans plus one span per Spark job, parented by job group. */
  def write(file: File): Unit = if (enabled) {
    drain()
    val jobSpans = listener.jobs.map { case (jobId, g, t0, t1) =>
      val parent = if (g.startsWith("kgb-")) g.drop(4).toLong else 0L
      Span(-jobId.toLong - 1, parent, s"job-$jobId", "job",
        t0 * 1000000L - wallOffsetNs, t1 * 1000000L - wallOffsetNs)
    }
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, StandardCharsets.UTF_8.name)
    try (spans ++ jobSpans).sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","kind":"${s.kind}",""" +
        s""""start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}""")
    } finally w.close()
  }
}

object Tracer {
  /** max / median task duration over the given stages (0 without tasks). */
  def taskSkew(stages: Seq[StageStat]): Double = {
    val ts = stages.flatMap(_.taskMs).map(_.toDouble)
    val med = Stats.median(ts)
    if (ts.isEmpty || med <= 0) 0.0 else ts.max / med
  }

  def mb(bytes: Long): Double = bytes / 1048576.0
}
