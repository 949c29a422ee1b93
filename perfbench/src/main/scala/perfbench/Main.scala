package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed and time budget, the run's
  * data directory, the outcome to fill, and the trace when tracing is on. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val dataDir: String, val out: Outcome, val trace: Option[Trace]) {
  def dir(name: String): String = s"$dataDir/$name"

  /** A span around a call into the program (a no-op when tracing is off). */
  def span[A](name: String)(body: => A): A = trace match {
    case Some(t) => t.tracer.span(name)(body)
    case None => body
  }

  /** Heap in use right after a full GC, in MB; the largest reading of the
    * run is `live_heap_peak_mb`. Only called outside timed phases. */
  private var heapPeakMb = 0.0
  def sampleHeap(): Unit = {
    // the second collection frees what Spark's cleaner released after the first
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    heapPeakMb = math.max(heapPeakMb, (rt.totalMemory - rt.freeMemory) / 1048576.0)
  }
  def heapPeak: Double = heapPeakMb

  /** Spark jobs started so far, counted by a listener that every run has. */
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobsStarted.incrementAndGet()
  })

  /** Run the timed phase and put its process CPU time as `cpu_s` and its
    * Spark job count as `spark_jobs`. Spans recorded inside it are the ones
    * the per-layer metrics cover; the stack sampler only counts inside it. */
  def timedPhase[A](body: => A): (A, Double, Long, Long) = {
    Stats.drainListenerBus(spark)
    val jobs0 = jobsStarted.get
    val fromMs = System.currentTimeMillis()
    trace.foreach(_.sampler.active = true)
    val t = System.nanoTime()
    val cpu0 = Stats.processCpuSeconds()
    val (jit0, gc0) = (Stats.jitSeconds(), Stats.gcSeconds())
    val a = try body finally trace.foreach(_.sampler.active = false)
    out.put("cpu_s", Stats.processCpuSeconds() - cpu0, "s")
    out.info("timed_jit_s") = Stats.jitSeconds() - jit0
    out.info("timed_gc_s") = Stats.gcSeconds() - gc0
    val result = (a, Stats.secondsSince(t), fromMs, System.currentTimeMillis())
    Stats.drainListenerBus(spark)
    out.put("spark_jobs", (jobsStarted.get - jobs0).toDouble, "count")
    result
  }

  /** Report per-layer metrics over a finished timed phase. */
  def putLayers(fromMs: Long, toMs: Long): Unit = trace.foreach { t =>
    val top = t.tracer.spans.filter(s => s.parent == 0 && s.startMs >= fromMs && s.startMs <= toMs)
    t.putLayers(out, top, fromMs, toMs)
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "cdc_trickle" -> CdcTrickle.run,
    "corpus_serve" -> CorpusServe.run)

  /** Set-up repeats input generation this often; `setup_s` takes the median. */
  val SetupReps = 3

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f)).map(f => Files.size(f)).sum
      finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val dataDir = args("data")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val cores = Runtime.getRuntime.availableProcessors

    val out = new Outcome
    val (spark, sessionS) = Stats.timed {
      val s = graft.Sessions.builder("local[4]", 4).appName(s"perfbench-$workload")
        .config("spark.local.dir", s"$dataDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dataDir/warehouse")
        .config("spark.sql.streaming.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val trace = if (traced) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, dataDir, out, trace)
    out.info("session_start_s") = sessionS
    try body(ctx)
    catch { case e: Exception =>
      e.printStackTrace()
      out.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // set-up includes the session start, which happens once per run
    out.metrics.get("setup_s").foreach(m => out.put("setup_s", m.value + sessionS, "s", m.n))
    out.put("live_heap_peak_mb", ctx.heapPeak, "MB")
    out.put("failed_ratio", out.failed.toDouble / math.max(1L, out.attempted), "failed/attempted",
      out.attempted)
    // the traced run's own wall and CPU time: against the untraced runs'
    // they give the tracing overhead
    if (traced) Seq("wall_s", "cpu_s").foreach(k =>
      out.metrics.get(k).foreach(m => out.put(s"trace.$k", m.value, "s", m.n)))
    trace.foreach(_.stop())

    val correct = out.failed == 0 && out.attempted > 0
    val result = Map(
      "correct" -> correct, "attempted" -> math.max(1L, out.attempted),
      "failed" -> (if (out.attempted == 0) 1L else out.failed),
      "metrics" -> out.metrics)
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "spark_master" -> spark.sparkContext.master,
      "data_location" -> dataDir, "correct" -> correct,
      "attempted" -> out.attempted, "failed" -> out.failed, "failures" -> out.failures,
      "metrics" -> out.metrics, "info" -> out.info)
    Files.writeString(Paths.get(args("artifact")), Json(artifact) + "\n")
    Files.writeString(Paths.get(args("result")), Json(result) + "\n")
    spark.stop()
    System.exit(0)
  }
}
