package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One reported figure: its value, unit and how many samples made it. */
final case class Metric(value: Double, unit: String, n: Long)

/** What a workload run produced: metrics, the attempted/failed operation
  * counts, and a line per failure. An operation is one call into the
  * program or one correctness check; a failed check is never skipped. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String, n: Long = 1): Unit =
    metrics(name) = Metric(value, unit, n)

  /** Put p50 and p90 of `xs` as `<prefix>_p50_s` / `<prefix>_p90_s`. */
  def putQuantiles(prefix: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
    put(s"${prefix}_p50_s", Stats.quantile(xs, 0.5), "s", xs.size)
    put(s"${prefix}_p90_s", Stats.quantile(xs, 0.9), "s", xs.size)
  }

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 50) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** A correctness check: counts as attempted; false counts as failed. */
  def check(what: String)(ok: => Boolean): Boolean = {
    synchronized { attempted += 1 }
    val passed = try ok catch {
      case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return false
    }
    if (!passed) fail(what)
    passed
  }

  /** A call into the program: counts as attempted; a throw counts as failed. */
  def op[A](what: String)(body: => A): Option[A] = {
    synchronized { attempted += 1 }
    val t = System.nanoTime()
    try {
      val a = body
      System.err.println(f"[perfbench] $what: ${Stats.secondsSince(t)}%.3f s")
      Some(a)
    } catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }
}

object Stats {
  /** Linear-interpolated quantile (the inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def secondsSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  /** Let Spark's listener bus deliver every event posted so far. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(1000) }
  }

  /** CPU time of the whole JVM (driver, executor threads, GC, JIT) so far. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Time the JIT compilers have spent so far, summed over their threads. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Time the garbage collectors have spent so far. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Time `body`, returning (result, seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, secondsSince(t))
  }
}

/** JSON for the result line and the run artifact. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
