package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One finished Spark task, as the listener bus reports it. */
final case class TaskRec(finishMs: Long, cpuNs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, recordsRead: Long)

/** Spark runtime totals over a set of tasks and jobs. */
final case class SparkCounts(jobs: Long, tasks: Long, cpuNs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, recordsRead: Long)

object SparkCounts {
  def of(tasks: Iterable[TaskRec], jobs: Long): SparkCounts = SparkCounts(
    jobs, tasks.size.toLong, tasks.map(_.cpuNs).sum, tasks.map(_.shuffleWriteBytes).sum,
    tasks.map(_.shuffleReadBytes).sum, tasks.map(_.spillBytes).sum, tasks.map(_.recordsRead).sum)
}

/** Records every task end and job start while attached. Attached in traced
  * runs only; untraced runs leave the listener bus as the program has it.
  */
final class TaskLog extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobStarts = ArrayBuffer.empty[Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.diskBytesSpilled, m.inputMetrics.recordsRead)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time }

  /** Everything recorded since the last drain, after the bus is empty. */
  def drain(sc: SparkContext): (Seq[TaskRec], Seq[Long]) = {
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    synchronized {
      val out = (tasks.toSeq, jobStarts.toSeq)
      tasks.clear(); jobStarts.clear()
      out
    }
  }
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after a full collection. The second collection follows
    * a pause in which Spark's context cleaner drops the broadcast and
    * shuffle blocks the first one found unreachable.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** A span of the traced run: `parent` is the index of the enclosing span
  * (-1 for a root), `request` the request id (empty outside requests).
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, request: String,
    counts: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written once, at the end of the run. */
final class Trace {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def add(s: Span): Int = { spans += s; spans.size - 1 }

  /** Times `f` as a span and returns its result and the span's index. */
  def span[A](name: String, parent: Int, request: String)(f: => A): (A, Int) = {
    val t0 = System.nanoTime()
    val a = f
    (a, add(Span(name, t0, System.nanoTime(), parent, request, Map.empty)))
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.zipWithIndex.map { case (s, i) =>
      val counts = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString("{", ",", "}")
      s"""{"id":$i,"name":${Json.str(s.name)},"start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)},"parent":${s.parent},""" +
        s""""request":${Json.str(s.request)},"counts":$counts}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"not a finite number: $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
