package perfbench

import java.lang.management.{ManagementFactory, ThreadInfo}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span around one call the benchmark makes into the program. */
final class Span(val id: Int, val parent: Int, val name: String, val startMs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Spans kept in memory; each carries the span open on its thread when it
  * started. */
final class Tracer {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private var nextId = 1

  def span[A](name: String)(body: => A): A = {
    val parent = open.get.headOption.map(_.id).getOrElse(0)
    val s = synchronized {
      val s = new Span(nextId, parent, name, System.currentTimeMillis())
      nextId += 1; all += s; s
    }
    open.set(s :: open.get)
    try body finally {
      s.endMs = System.currentTimeMillis()
      open.set(open.get.tail)
    }
  }
  def spans: Seq[Span] = synchronized(all.toList)
}

final case class JobRec(startMs: Long, var endMs: Long)
final case class StageRec(submitMs: Long, tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWriteB: Long, inputB: Long, outputB: Long, spillB: Long, gcMs: Long)
final case class BatchRec(startMs: Long, durations: Map[String, Long]) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Jobs, stages (with their executor metrics) and streaming progress, from
  * the listener bus. */
final class SparkLog extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.time, Long.MaxValue)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRec(i.submissionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      SparkLog.this.synchronized {
        batches += BatchRec(Instant.parse(p.timestamp).toEpochMilli, d)
      }
    }
  }
}

/** Samples the stacks of the driver threads that call into the program
  * (the main thread, stream execution threads, and the program's worker
  * pools) and charges each sample to the innermost `graft.*` frame's
  * module: `wait` when the thread is blocked (on a Spark job or anything
  * else), `busy` when it runs. */
final class StackSampler extends Thread("perfbench-stack-sampler") {
  private val IntervalMs = 10L
  setDaemon(true)
  private val mx = ManagementFactory.getThreadMXBean
  val busy = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val waiting = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  @volatile var active = false
  @volatile private var running = true
  var samples = 0L

  private def watched(t: Thread): Boolean = {
    val n = t.getName
    n == "main" || n.startsWith("stream execution thread") || n.startsWith("pool-")
  }

  def module(info: ThreadInfo): Option[String] =
    info.getStackTrace.iterator.map(_.getClassName).find(_.startsWith("graft.")).map { c =>
      val simple = c.substring(c.lastIndexOf('.') + 1)
      simple.takeWhile(_ != '$')
    }

  override def run(): Unit = {
    var ids = Array.empty[Long]
    var tick = 0
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(IntervalMs)
      val now = System.nanoTime()
      val dt = (now - last) / 1e9
      last = now
      if (active) {
        if (tick % 20 == 0)
          ids = Thread.getAllStackTraces.keySet.asScala.filter(watched).map(_.getId).toArray
        tick += 1
        mx.getThreadInfo(ids, Int.MaxValue).foreach { info =>
          if (info != null) module(info).foreach { m =>
            synchronized {
              samples += 1
              if (info.getThreadState == Thread.State.RUNNABLE) busy(m) += dt
              else waiting(m) += dt
            }
          }
        }
      }
    }
  }
  def shutdown(): Unit = { running = false; join(5000) }
}

/** Everything the traced run records, in memory until the run ends. */
final class Trace(spark: SparkSession) {
  val tracer = new Tracer
  val log = new SparkLog
  val sampler = new StackSampler
  spark.sparkContext.addSparkListener(log)
  spark.streams.addListener(log.streaming)
  sampler.start()

  def stop(): Unit = {
    sampler.shutdown()
    spark.streams.removeListener(log.streaming)
    spark.sparkContext.removeSparkListener(log)
  }

  private def jobs: Seq[JobRec] = log.synchronized(log.jobs.values.toList)
  private def stages: Seq[StageRec] = log.synchronized(log.stages.toList)
  def batches(fromMs: Long, toMs: Long): Seq[BatchRec] =
    log.synchronized(log.batches.filter(b => b.startMs >= fromMs && b.startMs <= toMs).toList)
  def spans(prefix: String): Seq[Span] = tracer.spans.filter(_.name.startsWith(prefix))

  def jobsIn(ss: Seq[Span]): Int = jobs.count(j => ss.exists(_.contains(j.startMs)))
  def stagesIn(ss: Seq[Span]): Seq[StageRec] = stages.filter(st => ss.exists(_.contains(st.submitMs)))

  /** Time inside the spans during which no Spark job was running. */
  def gapSeconds(ss: Seq[Span]): Double = ss.map { s =>
    val ivs = jobs.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    math.max(0.0, (s.endMs - s.startMs - covered) / 1000.0)
  }.sum

  /** The per-layer metrics every workload reports, over the timed phase
    * (`top` are its top-level spans). */
  def putLayers(out: Outcome, top: Seq[Span], fromMs: Long, toMs: Long): Unit = {
    Stats.drainListenerBus(spark)
    val bs = batches(fromMs, toMs)
    val cycles = top.filter(_.name == "cycle")
    out.put("stream.batches", bs.size.toDouble, "count")
    out.put("stream.cycles", cycles.size.toDouble, "count")
    if (bs.nonEmpty) {
      val dur = (k: String) => bs.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
      out.put("stream.batch_p50_s",
        Stats.median(bs.map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0)), "s", bs.size)
      out.put("stream.add_batch_s", dur("addBatch"), "s", bs.size)
      out.put("stream.engine_s", Seq("latestOffset", "getBatch", "queryPlanning",
        "walCommit", "commitOffsets").map(dur).sum, "s", bs.size)
      val starts = cycles.flatMap(c => bs.filter(b => c.contains(b.startMs))
        .map(_.startMs).minOption.map(b => (b - c.startMs) / 1000.0))
      if (starts.nonEmpty) out.put("stream.run_start_s", Stats.median(starts), "s", starts.size)
      val windows = bs.map(b => { val s = new Span(0, 0, "batch", b.startMs); s.endMs = b.endMs; s })
      val bStages = stagesIn(windows)
      out.put("spark.jobs_per_batch", jobsIn(windows).toDouble / bs.size, "count", bs.size)
      out.put("spark.stages_per_batch", bStages.size.toDouble / bs.size, "count", bs.size)
      out.put("spark.tasks_per_batch", bStages.map(_.tasks).sum.toDouble / bs.size, "count", bs.size)
    }
    val st = stagesIn(top)
    val mb = 1024.0 * 1024.0
    out.put("spark.executor_run_s", st.map(_.runMs).sum / 1000.0, "s", st.size)
    out.put("spark.executor_cpu_s", st.map(_.cpuNs).sum / 1e9, "s", st.size)
    out.put("spark.shuffle_write_mb", st.map(_.shuffleWriteB).sum / mb, "MB", st.size)
    out.put("spark.input_mb", st.map(_.inputB).sum / mb, "MB", st.size)
    out.put("spark.output_mb", st.map(_.outputB).sum / mb, "MB", st.size)
    out.put("spark.spill_mb", st.map(_.spillB).sum / mb, "MB", st.size)
    out.put("spark.gc_s", st.map(_.gcMs).sum / 1000.0, "s", st.size)
    out.put("driver.gap_s", gapSeconds(top), "s", top.size)
    sampler.synchronized {
      (Trace.Modules ++ sampler.busy.keys ++ sampler.waiting.keys).distinct.foreach { m =>
        out.put(s"driver.$m.busy_s", sampler.busy(m), "s", sampler.samples)
        out.put(s"driver.$m.wait_s", sampler.waiting(m), "s", sampler.samples)
      }
    }
  }
}

object Trace {
  /** The program modules whose driver time is always reported. */
  val Modules = Seq("ChangeStream", "PartitionedState", "StateStore", "IngestLock", "Cdc",
    "Caching", "CorpusIngest", "EmbeddingIngest", "HybridServe", "UnionFind")
}
