package graft

import graft.engine.Wand
import graft.index.IndexBuilder
import graft.queries.QuerySet
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.apache.spark.sql.SparkSession

/** Concurrent-serving benchmark — the API-server shape the reference runs
  * (Beanstalk fleet serving /search, many in-flight requests): T client
  * threads issue the reference query set round-robin against a WARM reader,
  * all inside one Spark app (Spark schedules concurrent jobs from separate
  * threads). Reports QPS and cross-thread latency percentiles.
  *
  * What it exercises that the per-query bench cannot: the decoded-block
  * memo of the pinned [[graft.engine.SegmentShard]]s under real hit
  * contention, concurrent (salt × query) task scheduling, and the
  * per-reader term-metadata cache under parallel access.
  */
object ServeBench {

  def main(args: Array[String]): Unit = {
    val sfDir = Config.sfDir
    val threads = args.headOption.map(_.toInt).getOrElse(8)
    val reqPerThread = args.lift(1).map(_.toInt).getOrElse(25)
    // FAIR scheduling: concurrent requests share task slots round-robin
    // instead of queueing whole jobs FIFO behind each other — the service
    // configuration a query fleet runs with
    val spark = SparkSession.builder()
      .master(s"local[${Config.cpus}]")
      .config("spark.sql.shuffle.partitions", Config.cpus.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (paths, _) = IndexBuilder.ensure(spark, sfDir)
      Wand.topKAt(spark, paths, QuerySet.all).count() // warm reader + block cache

      val qs = QuerySet.all.toIndexedSeq
      val lat = new ConcurrentLinkedQueue[Double]
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(threads)
      val errors = new ConcurrentLinkedQueue[Throwable]
      (0 until threads).foreach { ti =>
        new Thread(() => {
          try {
            // one scheduler pool PER CLIENT: fair mode round-robins BETWEEN
            // pools — all jobs in one pool would still queue FIFO
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$ti")
            start.await()
            var i = 0
            while (i < reqPerThread) {
              val q = qs((ti + i) % qs.size)
              val t0 = System.nanoTime()
              Wand.topKAt(spark, paths, Seq(q)).count()
              lat.add((System.nanoTime() - t0) / 1e9)
              i += 1
            }
          } catch { case t: Throwable => errors.add(t) }
          finally done.countDown()
        }).start()
      }
      val t0 = System.nanoTime()
      start.countDown()
      done.await()
      val wall = (System.nanoTime() - t0) / 1e9
      if (!errors.isEmpty) throw errors.peek()

      import scala.jdk.CollectionConverters._
      val xs = lat.asScala.toSeq
      val qps = xs.size / wall
      println(s"""{"metric":"serve","sched":"FAIR+pool-per-client","threads":$threads,"requests":${xs.size},""" +
        s""""wall_sec":$wall,"qps":$qps,""" +
        s""""lat_p50":${Bench.percentile(xs, 0.5)},"lat_p99":${Bench.percentile(xs, 0.99)},""" +
        s""""cpus":${Config.cpus},"sf":"$sfDir"}""")
    } finally spark.stop()
  }
}
