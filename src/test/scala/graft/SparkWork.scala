package graft

import org.apache.spark.sql.SparkSession

/** Counts what a block of driver code made Spark do. */
object SparkWork {

  /** `f`'s result, the Spark jobs it started, the shuffle bytes its tasks
    * wrote plus read, and how many of its jobs ran under a SQL execution
    * (a Dataset action: their start carries `spark.sql.execution.id`).
    */
  def apply[A](spark: SparkSession)(f: => A): (A, Int, Long, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sqlJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(js.properties).exists(_.getProperty("spark.sql.execution.id") != null)) sqlJobs.incrementAndGet()
        ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Option(te.taskMetrics).foreach { m =>
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      (a, jobs.get, bytes.get, sqlJobs.get)
    } finally sc.removeSparkListener(l)
  }
}
