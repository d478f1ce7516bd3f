package perfbench

import graft.corpus.{Corpus, CorpusTable}
import graft.engine.{IndexReader, QueryMetrics, SearchApi}
import graft.index.{IndexBuilder, IndexPaths, Incremental}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What a workload runs. The timed part of every run starts with one cold
  * `IndexBuilder.build` over the corpus table; `addBefore` appends a delta
  * batch to the table and runs `Incremental.addBatch` before the queries;
  * then `warmup` untimed queries and `blocks` blocks of the seeded stream go
  * to the newest root, one at a time. `tracedAdd` adds the delta after the
  * queries in traced runs only, so the incremental layer reports there too.
  */
final case class Plan(
    name: String,
    base: Seq[Int],   // corpus slices (10 % each) in the corpus table at setup
    delta: Seq[Int],  // the slices of the one delta batch
    addBefore: Boolean,
    warmup: Int,
    blocks: Int,
    tracedAdd: Boolean)

object Plan {
  val Names: Seq[String] = Seq("serve", "ingest")

  def of(name: String): Plan = name match {
    case "serve" => Plan(name, 0 to 8, Seq(9), addBefore = false, warmup = 6, blocks = 2, tracedAdd = true)
    case "ingest" => Plan(name, 0 to 7, Seq(8, 9), addBefore = true, warmup = 0, blocks = 1, tracedAdd = false)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (choose from ${Names.mkString(", ")})")
  }
}

/** One request of a burst, as measured. */
final case class Req(q: Inputs.Q, snapshot: Int, route: String, ms: Double,
    candidates: Long, blocksDecoded: Long, blockSkips: Long, traced: Boolean,
    answer: Option[Seq[Check.Hit]], error: Option[String])

/** A finished build or add phase, as the program's phase hook reports it. */
final case class PhaseEvent(name: String, endMs: Long, endNs: Long, wallS: Double)

/** One timed index write (a build or an add) and what the trace saw of it. */
final case class Write(kind: String, root: IndexPaths, wallS: Double, docs: Long,
    phases: Seq[(String, Double, SparkCounts)], total: SparkCounts, gcMs: Long)

final class Workload(spark: SparkSession, plan: Plan, seed: Long, scale: Inputs.Scale,
    work: Path, traced: Boolean) {

  private val sc = spark.sparkContext
  val trace = new Trace
  private val taskLog = new TaskLog
  private val phaseEvents = ArrayBuffer.empty[PhaseEvent]
  private val metrics = QueryMetrics(spark)
  val problems: ArrayBuffer[String] = ArrayBuffer.empty
  val requests: ArrayBuffer[Req] = ArrayBuffer.empty
  val writes: ArrayBuffer[Write] = ArrayBuffer.empty
  val opensMs: ArrayBuffer[Double] = ArrayBuffer.empty
  private val opened = scala.collection.mutable.Set.empty[String]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def withListener[A](f: => A): A =
    if (!traced) f
    else {
      sc.addSparkListener(taskLog)
      try f
      finally { taskLog.drain(sc); sc.removeSparkListener(taskLog) }
    }

  // ---------- setup ----------

  final case class Setup(table: String, staging: String)

  /** Source tables, the synthesized corpus (staged once as parquet) and a
    * corpus table holding the base slices.
    */
  def setup(i: Int): Setup = {
    val dir = work.resolve(s"setup$i")
    Inputs.writeSourceTables(spark, scale, dir.resolve("source").toString)
    val staging = dir.resolve("corpus").toString
    Corpus.corpus(spark, dir.resolve("source").toString)
      .withColumn("slice", Inputs.sliceCol(seed))
      .write.partitionBy("slice").parquet(staging)
    val table = dir.resolve("table").toString
    CorpusTable.create(spark, slices(staging, plan.base), table)
    Setup(table, staging)
  }

  private def slices(staging: String, ids: Seq[Int]): DataFrame =
    spark.read.parquet(staging).filter(col("slice").isin(ids: _*)).drop("slice")

  // ---------- timed part ----------

  /** Runs the timed part on `s`; returns the wall of the query loop. */
  def timed(s: Setup): Double = {
    val prevHook = IndexBuilder.phaseHook
    if (traced) IndexBuilder.phaseHook = (_, name, wall) => phaseEvents.synchronized {
      phaseEvents += PhaseEvent(name, System.currentTimeMillis(), System.nanoTime(), wall)
    }
    try {
      var root = IndexPaths(work.resolve("root0").toString)
      var version = 1
      index("build", root, CorpusTable.read(spark, s.table).count()) {
        IndexBuilder.build(spark, CorpusTable.read(spark, s.table), root,
          numSalts = Main.Salts, numBuckets = Main.Buckets, persistCorpus = false)
      }
      def add(): Unit = {
        version = CorpusTable.append(spark, slices(s.staging, plan.delta), s.table)
        val delta = spark.read.schema(CorpusTable.Schema)
          .parquet(CorpusTable.snapshot(s.table, version).dataDirs.last)
        val next = IndexPaths(work.resolve(s"root$version").toString)
        index("add", next, delta.count()) { Incremental.addBatch(spark, root, delta, next) }
        root = next
      }
      if (plan.addBefore) add()
      if (plan.warmup > 0) {
        // a warm index: every keyword's term metadata and fast list cached,
        // the fast route run twice per word (a fast request pays only its
        // query planning, so that code must be warm), then a few queries of
        // a separate stream
        openReader(root, -1, "")
        val reader = IndexReader.get(spark, root)
        reader.termMeta(Inputs.Keywords)
        reader.prefetchFastLists(Inputs.HotKeywords)
        for (_ <- 1 to 2; w <- Inputs.FastWords) SearchApi.search(spark, root, Seq(w), 10).collect()
        Inputs.stream(scale, seed, "warmup", 1).take(plan.warmup).foreach(q => search(root, q).collect())
      }
      val wall = burst(root, version, Inputs.stream(scale, seed, plan.name, plan.blocks))
      if (plan.tracedAdd && traced) add()
      wall
    } finally IndexBuilder.phaseHook = prevHook
  }

  /** Times one index write; in traced runs, attributes the tasks that
    * finished inside each phase's window to that phase.
    */
  private def index(kind: String, root: IndexPaths, docs: Long)(f: => Any): Unit = {
    val gc0 = Jvm.gcMs()
    phaseEvents.clear()
    val t0 = System.nanoTime()
    val tasks = withListener {
      f
      taskLog.drain(sc)
    }
    val wall = secs(t0)
    val endNs = System.nanoTime()
    val gc = Jvm.gcMs() - gc0
    val (taskRecs, jobStarts) = tasks
    val events = phaseEvents.toSeq
    val parent = if (traced) trace.add(Span(kind, t0, endNs, -1, "", Map("docs" -> docs.toDouble))) else -1
    val phases = events.map { e =>
      val fromMs = e.endMs - math.round(e.wallS * 1000)
      val in = taskRecs.filter(t => t.finishMs >= fromMs && t.finishMs <= e.endMs)
      val jobs = jobStarts.count(j => j >= fromMs && j <= e.endMs).toLong
      // '+' is not allowed in metric names: merge+index-write -> merge-index-write
      val name = e.name.replace("+", "-")
      val counts = SparkCounts.of(in, jobs)
      if (traced) trace.add(Span(s"$kind.$name", e.endNs - math.round(e.wallS * 1e9), e.endNs, parent, "",
        Map("task_cpu_s" -> counts.cpuNs / 1e9, "shuffle_write_mb" -> counts.shuffleWriteBytes / 1048576.0)))
      (name, e.wallS, counts)
    }
    writes += Write(kind, root, wall, docs, phases, SparkCounts.of(taskRecs, jobStarts.size.toLong), gc)
  }

  private def search(root: IndexPaths, q: Inputs.Q): DataFrame =
    SearchApi.search(spark, root, q.terms, q.k, q.conjunctive, Some(metrics), q.repos)

  private def openReader(root: IndexPaths, parent: Int, request: String): Unit =
    if (!opened.contains(root.root)) {
      opened += root.root
      if (traced) {
        val (_, i) = trace.span("reader_open", parent, request)(IndexReader.get(spark, root))
        opensMs += trace.spans(i).ms
      }
    }

  /** Sends `qs` one at a time to `root`; returns the loop wall. In traced
    * runs every other request is traced, so the run measures its own
    * overhead.
    */
  private def burst(root: IndexPaths, version: Int, qs: Seq[Inputs.Q]): Double = {
    val t0 = System.nanoTime()
    qs.zipWithIndex.foreach { case (q, i) =>
      requests += (if (traced && i % 2 == 0) tracedRequest(root, version, q) else request(root, version, q))
    }
    secs(t0)
  }

  /** The measured request, its route read from the query metrics' deltas
    * (the conjunctive path counts no route, so the benchmark counts it).
    */
  private def finish(q: Inputs.Q, version: Int, before: Map[String, Long], ms: Double,
      rows: Either[String, Array[org.apache.spark.sql.Row]], traced: Boolean): Req = {
    val after = metrics.snapshot
    def d(k: String) = after(k) - before(k)
    val route = if (q.conjunctive) "and"
      else Seq("fast", "hybrid", "wand", "absent").find(r => d(s"routed_$r") > 0).getOrElse("none")
    Req(q, version, route, ms, d("candidates_evaluated"), d("blocks_decoded"), d("block_skips"), traced,
      rows.toOption.map(Check.hits), rows.left.toOption)
  }

  private def request(root: IndexPaths, version: Int, q: Inputs.Q): Req = {
    val before = metrics.snapshot
    val t0 = System.nanoTime()
    val rows = try Right(search(root, q).collect()) catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    finish(q, version, before, ms, rows, traced = false)
  }

  /** A request split into spans: reader open (first request on a root),
    * term lookup, planning up to the returned DataFrame, and the collect.
    */
  private def tracedRequest(root: IndexPaths, version: Int, q: Inputs.Q): Req = {
    val before = metrics.snapshot
    sc.addSparkListener(taskLog)
    taskLog.drain(sc)
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    val parent = trace.add(Span("request", t0, t0, -1, q.id, Map.empty))
    val rows = try {
      openReader(root, parent, q.id)
      trace.span("term_meta", parent, q.id)(IndexReader.get(spark, root).termMeta(q.terms))
      val (df, _) = trace.span("plan", parent, q.id)(search(root, q))
      Right(trace.span("collect", parent, q.id)(df.collect())._1)
    } catch { case e: Exception => Left(e.toString) }
    val t1 = System.nanoTime()
    val gc = Jvm.gcMs() - gc0
    val (tasks, jobs) = taskLog.drain(sc)
    sc.removeSparkListener(taskLog)
    val c = SparkCounts.of(tasks, jobs.size.toLong)
    val nRows = rows.map(_.length).getOrElse(0)
    trace.spans(parent) = Span("request", t0, t1, -1, q.id, Map(
      "spark_jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble, "task_cpu_ms" -> c.cpuNs / 1e6,
      "shuffle_bytes" -> (c.shuffleWriteBytes + c.shuffleReadBytes).toDouble,
      "records_read" -> c.recordsRead.toDouble, "gc_ms" -> gc.toDouble, "rows" -> nRows.toDouble))
    finish(q, version, before, (t1 - t0) / 1e6, rows, traced = true)
  }

  // ---------- after the timed part ----------

  /** On-disk bytes of the roots the queries ran on (the base root, plus
    * the delta layer's root when the queries ran after an add).
    */
  def indexBytes: Long = writes.filter(w => w.kind == "build" || plan.addBefore)
    .map(w => Workload.dirBytes(Paths.get(w.root.root))).sum

  /** Output checks: the build's root against counts taken from the corpus
    * table, and a seeded sample of each route's queries answered again by
    * the naive plan over the snapshot the queries ran on. Returns the
    * counts of that snapshot.
    */
  def check(s: Setup, perRoute: Int): Check.CorpusCounts = {
    val version = requests.head.snapshot
    val queried = CorpusTable.read(spark, s.table, Some(version))
    val (built, all) = Check.corpusCounts(queried, CorpusTable.snapshot(s.table, 1).dataDirs.head)
    problems ++= Check.buildProblems(writes.head.root, built)
    requests.filter(_.error.isDefined).foreach(r => problems += s"${r.q.id}: ${r.error.get}")
    requests.filter(_.route == "none").foreach(r => problems += s"${r.q.id}: no route counted")
    val rng = new java.util.SplittableRandom(Inputs.mix(seed ^ 0x5EEDL))
    val sample = requests.filter(_.answer.isDefined).groupBy(_.route).toSeq.sortBy(_._1).flatMap {
      case (_, rs) =>
        val arr = rs.toArray
        (0 until math.min(perRoute, arr.length)).map { i =>
          val j = i + rng.nextInt(arr.length - i)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          arr(i)
        }
    }
    val expected = Check.naive(spark, queried, sample.map(_.q).toSeq)
    sample.foreach { r =>
      if (r.answer.get != expected(r.q.id))
        problems += s"${r.q.id} (${r.route}): engine ${r.answer.get.take(3)} != naive ${expected(r.q.id).take(3)}"
    }
    all
  }
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  /** Harrell-Davis estimate of the `p` quantile: the mean of all order
    * statistics weighted by the Beta((n+1)p, (n+1)(1-p)) mass of each one's
    * rank interval. Steadier than a single order statistic on the few
    * dozen requests a run sends.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n == 1) return s(0)
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    val steps = 64
    def logPdf(x: Double): Double = (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
    // Simpson's rule over each rank interval [i/n, (i+1)/n], up to a constant
    val grid = (0 to n * steps).map(j => j.toDouble / (n * steps))
    val logs = grid.map(x => if (x <= 0 || x >= 1) Double.NegativeInfinity else logPdf(x))
    val top = logs.max
    val pdf = logs.map(l => math.exp(l - top))
    val w = (0 until n).map { i =>
      (0 until steps by 2).map { k =>
        val j = i * steps + k
        pdf(j) + 4 * pdf(j + 1) + pdf(j + 2)
      }.sum
    }
    w.indices.map(i => w(i) * s(i)).sum / w.sum
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
