package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one process.
  *
  * Set-up (session, inputs, untimed warm-up) is followed by timed runs of
  * every op of the workload, started until `--seconds` have passed (at
  * least one). Every run counts; the reported figures are medians over
  * runs. With `--trace 1` the runs are traced and per-layer counters are
  * reported instead of the end-to-end figures. The last stdout line is
  * the JSON result.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --tables DIR [--cores C]
  *        perfbench.Main --train --work DIR --tables DIR [--cores C]
  *        perfbench.Main --selftest
  */
object Main {
  /** Input builds per process; set-up reports their median. */
  private val SetupRepeats = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Largest heap occupancy seen after any GC since the last [[reset]]. */
  private object HeapPeak {
    @volatile private var peak = 0L
    def reset(): Unit = peak = 0L
    def mb: Double = peak / 1e6
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ =>
    }
  }

  private def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist every RDD persisted since `before` was taken. */
  private def release(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }

  private def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  /** `--key value` pairs; a `--flag` followed by another option or
    * nothing maps to "".
    */
  private def options(args: Array[String]): Map[String, String] =
    args.indices.collect {
      case i if args(i).startsWith("--") =>
        args(i).drop(2) -> args.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("")
    }.toMap

  private def session(work: String, cores: String): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Build step: write the fixture tables and run every workload's ops
    * once, so that the classes they load can be archived for start-up.
    */
  private def train(opt: Map[String, String]): Unit = {
    val spark = session(opt("work"), opt.getOrElse("cores", "4"))
    Workloads.names.foreach { name =>
      val wl = Workloads(name, spark, 0L, opt("tables"))
      val before = persisted(spark)
      wl.prepare()
      wl.setup()
      wl.ops.foreach(_.run().digest())
      release(spark, before)
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opt = options(args)
    if (opt.contains("selftest")) {
      SelfTest.run()
      println("selftest: ok")
      return
    }
    if (opt.contains("train")) return train(opt)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    if (traced) SelfTest.run()

    val spark = session(opt("work"), opt.getOrElse("cores", "4"))
    HeapPeak.install()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl = Workloads(workload, spark, seed, opt("tables"))
    wl.prepare()
    val setupS = (1 to SetupRepeats).map { i =>
      val before = persisted(spark)
      val t0 = System.nanoTime()
      wl.setup()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) release(spark, before)
      dt
    }

    val tracer = new Tracer(spark, traced)
    var attempted = 0L
    var failed = 0L
    val findings = scala.collection.mutable.ArrayBuffer.empty[String]

    /** One run of every op. Returns (timed wall s, per-op results, spans). */
    def runOps(): (Double, Seq[(String, Option[Result])], Seq[Span]) = {
      val t0 = System.nanoTime()
      val results = wl.ops.map { op =>
        attempted += 1
        op.span -> (try Some(tracer.span(op.span)(op.run()))
        catch { case e: Exception =>
          failed += 1
          findings += s"${op.span}: threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
        })
      }
      ((System.nanoTime() - t0) / 1e9, results, tracer.takeSpans())
    }

    /** Digest every op result; a throwing digest or check counts as failed. */
    def digests(results: Seq[(String, Option[Result])]): Map[String, String] =
      results.collect { case (name, Some(r)) =>
        name -> (try r.digest() catch { case e: Exception =>
          failed += 1
          findings += s"$name: digest threw ${e.getMessage}"
          "error"
        })
      }.toMap

    // Warm-up: untimed; the one run whose outputs get the reference checks.
    val warmBefore = persisted(spark)
    val (warmS, warmResults, _) = runOps()
    val checkT0 = System.nanoTime()
    val warmDigests = digests(warmResults)
    warmResults.foreach {
      case (name, Some(r)) =>
        val problems = try r.check() catch {
          case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        if (problems.nonEmpty) { failed += 1; findings ++= problems.map(p => s"$name: $p") }
      case _ =>
    }
    val referenceCheckS = (System.nanoTime() - checkT0) / 1e9
    release(spark, warmBefore)
    System.gc()
    tracer.reset()
    val setupTotalS = sessionS + median(setupS) + warmS

    // Timed runs.
    case class Run(wallS: Double, cpuS: Double, gcS: Double, heapMb: Double,
                   checkS: Double, spanWall: Map[String, Double],
                   steps: Map[String, Long], counters: Map[String, SpanCounters])
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    val timedT0 = System.nanoTime()
    while (runs.isEmpty || (System.nanoTime() - timedT0) / 1e9 < seconds) {
      val before = persisted(spark)
      HeapPeak.reset()
      val cpu0 = cpuNs(); val gc0 = gcMs()
      val (wallS, results, spans) = runOps()
      val cpuS = (cpuNs() - cpu0) / 1e9
      val gcS = (gcMs() - gc0) / 1e3
      val heapMb = HeapPeak.mb
      val c0 = System.nanoTime()
      val ds = digests(results)
      ds.foreach { case (name, d) =>
        if (!warmDigests.get(name).contains(d)) {
          failed += 1
          findings += s"$name: digest $d differs from the warm-up's ${warmDigests.get(name)}"
        }
      }
      val checkS = (System.nanoTime() - c0) / 1e9
      val counters = if (traced) tracer.counters(spans) else Map.empty[String, SpanCounters]
      val steps = results.collect { case (name, Some(Result(Some(s), _, _))) => name -> s }.toMap
      runs += Run(wallS, cpuS, gcS, heapMb, checkS,
        spans.map(s => s.name -> s.wallNs / 1e9).toMap,
        steps, counters)
      release(spark, before)
      System.gc()
    }

    val runS = median(runs.map(_.wallS).toSeq)
    val spanWall = wl.ops.map(o =>
      o.span -> median(runs.flatMap(_.spanWall.get(o.span)).toSeq)).toMap
    val rates = wl.rates.map { case (n, f) => (n, f(spanWall), "1/s") }
    val endToEnd = Seq(
      ("setup_s", setupTotalS, "s"),
      ("run_s", runS, "s"),
      ("cpu_s", median(runs.map(_.cpuS).toSeq), "s"))
    // Per layer, not end to end: it spread 11 % across seeds (more than
    // the tenth an end-to-end metric needs).
    val peakHeapMb = median(runs.map(_.heapMb).toSeq)

    // Per-layer: every workload's names, zero for the spans of the other
    // workload, so each traced run reports the same metric set.
    def perLayer: Seq[(String, Double, String)] = Workloads.names.flatMap { name =>
      val mine = name == wl.name
      val w = if (mine) wl else Workloads(name, spark, seed, opt("tables"))
      def m(f: Run => Double): Double = if (mine) median(runs.map(f).toSeq) else 0.0
      w.ops.flatMap { op =>
        val span = op.span
        def c(f: SpanCounters => Double): Double =
          m(r => r.counters.get(span).map(f).getOrElse(0.0))
        Seq(
          (s"$span.wall_s", c(_.wallS), "s"),
          (s"$span.task_cpu_s", c(_.taskCpuS), "s"),
          (s"$span.jobs", c(_.jobs.toDouble), "count"),
          (s"$span.tasks", c(_.tasks.toDouble), "count"),
          (s"$span.shuffle_write_mb", c(_.shuffleWriteMb), "MB"),
          (s"$span.spill_mb", c(_.spillMb), "MB"),
          (s"$span.driver_idle_s", c(_.driverIdleS), "s")) ++
          (if (op.stepped)
            Seq((s"$span.steps", m(_.steps.getOrElse(span, 0L).toDouble), "count")) else Nil)
      } ++ Seq(
        (s"${w.prefix}.run_s", m(_.wallS), "s"),
        (s"${w.prefix}.gc_s", m(_.gcS), "s"),
        (s"${w.prefix}.peak_heap_mb", m(_.heapMb), "MB"),
        (s"${w.prefix}.check.wall_s", m(_.checkS), "s")) ++
        w.rates.map { case (n, _) =>
          (n, if (mine) rates.find(_._1 == n).map(_._2).getOrElse(0.0) else 0.0, "1/s") }
    }

    val metrics = if (traced) perLayer else endToEnd
    // Human-readable summary before the result line.
    println(f"[perfbench] $workload seed=$seed runs=${runs.size} " +
      f"session_s=$sessionS%.3f inputs_s=${median(setupS)}%.3f warmup_s=$warmS%.3f reference_check_s=$referenceCheckS%.3f " +
      f"fail_frac=${failed.toDouble / attempted}%.4f traced=$traced")
    (endToEnd ++ rates :+ (("peak_heap_mb", peakHeapMb, "MB"))).foreach { case (n, v, u) =>
      println(f"[perfbench]   $n%-27s $v%.4f $u") }
    println("[perfbench]   run walls (s): " + runs.map(r => f"${r.wallS}%.3f").mkString(" "))
    findings.foreach(f => println(s"[perfbench] FAILED $f"))
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
  }
}
