package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What a block of work cost Spark: jobs started, input records read and
  * shuffle records written, summed over every task that ended inside it. */
final case class SparkCounts(jobs: Long, inputRecords: Long,
    shuffleRecordsWritten: Long)

object SparkCounts {

  /** Runs `body` under a listener and returns its result with the counts.
    * The listener bus is drained before the listener joins (earlier work's
    * events are not counted) and before the counters are read (this work's
    * tail events are). Suites run one at a time in the test JVM, so every
    * job in the window is `body`'s. */
  def measure[T](spark: SparkSession)(body: => T): (T, SparkCounts) = {
    val sc = spark.sparkContext
    val jobs, read, shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          read.addAndGet(m.inputMetrics.recordsRead)
          shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten); ()
        }
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val result =
      try body
      finally {
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (result, SparkCounts(jobs.get, read.get, shuffled.get))
  }
}
