package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One op's span as the driver saw it: name, epoch-ms bounds (the clock
  * Spark stamps scheduler events with) and a nanosecond wall time.
  */
final case class Span(name: String, startMs: Long, endMs: Long, wallNs: Long)

/** A job as reported on the scheduler bus: submit/end epoch ms and the
  * span tag carried in its local properties (None when untagged).
  */
final case class JobRec(id: Int, submitMs: Long, endMs: Long, tag: Option[String])

/** Task totals of one stage, with the tag and submit time of the job
  * that submitted it.
  */
final case class StageRec(id: Int, submitMs: Long, tag: Option[String],
                          tasks: Long, cpuNs: Long, shuffleWriteBytes: Long,
                          spillBytes: Long)

/** The seven per-span counters. */
final case class SpanCounters(wallS: Double, taskCpuS: Double, jobs: Long,
                              tasks: Long, shuffleWriteMb: Double,
                              spillMb: Double, driverIdleS: Double)

object Trace {
  /** SparkContext local property naming the open span. Child threads
    * (e.g. `Iterate.ckptAll`'s pool) inherit it, so their jobs are
    * tagged too.
    */
  val SpanKey = "perfbench.span"

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The span a job or stage belongs to: its tag when it names a span of
    * this run, otherwise the span whose interval holds `atMs`.
    */
  def attribute(spans: Seq[Span], tag: Option[String], atMs: Long): Option[String] =
    tag.filter(t => spans.exists(_.name == t))
      .orElse(spans.find(s => s.startMs <= atMs && atMs <= s.endMs).map(_.name))

  /** Per-span counters from one run's spans, jobs and stages. Driver
    * idle time is the span's wall minus the union of its jobs' intervals.
    */
  def countersBySpan(spans: Seq[Span], jobs: Seq[JobRec],
                     stages: Seq[StageRec]): Map[String, SpanCounters] = {
    val jobsOf = jobs.groupBy(j => attribute(spans, j.tag, j.submitMs))
    val stagesOf = stages.groupBy(s => attribute(spans, s.tag, s.submitMs))
    spans.map { s =>
      val js = jobsOf.getOrElse(Some(s.name), Nil)
      val ss = stagesOf.getOrElse(Some(s.name), Nil)
      val busyMs = unionLength(js.map(j => (j.submitMs, j.endMs)), s.startMs, s.endMs)
      s.name -> SpanCounters(
        wallS = s.wallNs / 1e9,
        taskCpuS = ss.map(_.cpuNs).sum / 1e9,
        jobs = js.size.toLong,
        tasks = ss.map(_.tasks).sum,
        shuffleWriteMb = ss.map(_.shuffleWriteBytes).sum / 1e6,
        spillMb = ss.map(_.spillBytes).sum / 1e6,
        driverIdleS = math.max(0L, s.endMs - s.startMs - busyMs) / 1e3)
    }.toMap
  }
}

/** Scheduler-bus recorder owned by the benchmark: keeps plain job and
  * stage records until [[drain]] hands them over.
  */
final class JobRecorder extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Long, Option[String])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(Trace.SpanKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, tagOf(e.properties))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, tag) =>
      jobs += JobRec(e.jobId, t0, e.time, tag)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (!stages.contains(id))
      stages(id) = StageRec(id, e.stageInfo.submissionTime.getOrElse(
        System.currentTimeMillis()), tagOf(e.properties), 0L, 0L, 0L, 0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tm = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      stages(e.stageId) = if (tm == null) s.copy(tasks = s.tasks + 1)
      else s.copy(tasks = s.tasks + 1,
        cpuNs = s.cpuNs + tm.executorCpuTime,
        shuffleWriteBytes = s.shuffleWriteBytes + tm.shuffleWriteMetrics.bytesWritten,
        spillBytes = s.spillBytes + tm.diskBytesSpilled)
    }
  }

  /** Hand over and forget every completed job and seen stage. */
  def drain(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val out = (jobs.toList, stages.values.toList)
    jobs.clear(); stages.clear()
    out
  }
}

/** Opens spans around op calls and, when traced, turns the recorder's
  * records into per-span counters after each run.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val recorder = new JobRecorder
  private val spans = mutable.ArrayBuffer.empty[Span]
  if (traced) spark.sparkContext.addSparkListener(recorder)

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Trace.SpanKey, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body finally {
      spans += Span(name, t0, System.currentTimeMillis(), System.nanoTime() - n0)
      if (traced) sc.setLocalProperty(Trace.SpanKey, null)
    }
  }

  /** Spans of the run since the last call, with wall times only. */
  def takeSpans(): Seq[Span] = { val s = spans.toList; spans.clear(); s }

  /** Counters for `runSpans`; drains the listener bus first (callers keep
    * this outside the timed region).
    */
  def counters(runSpans: Seq[Span]): Map[String, SpanCounters] = {
    org.apache.spark.sql.GraftShims.waitListenerBus(spark)
    val (jobs, stages) = recorder.drain()
    Trace.countersBySpan(runSpans, jobs, stages)
  }

  /** Drop records of work done outside any measured run. */
  def reset(): Unit = {
    if (traced) {
      org.apache.spark.sql.GraftShims.waitListenerBus(spark)
      recorder.drain()
    }
    spans.clear()
  }
}
