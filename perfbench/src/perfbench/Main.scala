package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import Workload.{mean, median, percentile}

/** The benchmark's entry point (run it through `perfbench/run.py`):
  *
  * {{{
  * Main --workload serve|ingest --seed N --seconds S --trace 0|1 --result FILE --work DIR [--trace-out FILE]
  * Main --selftest
  * }}}
  *
  * Writes one JSON result object to FILE: `correct`, `attempted`, `failed`
  * and the end-to-end metrics (untraced) or the per-layer metrics (traced).
  */
object Main {

  val Cpus: Int = 4
  val Lines: Long = 60000L
  val Setups: Int = 3
  // index shape for a 4-CPU box: one salt shard per core; the defaults
  // (16 salts x 32 buckets) would split a 60 k-doc build into 512 tiny
  // partitions and make file-count overhead the whole measurement
  val Salts: Int = 4
  val Buckets: Int = 8
  val CheckPerRoute: Int = 2

  val BuildPhases: Seq[String] = Seq("docs-sidecar", "stats", "edges", "segments", "manifests", "merge", "fast-lists")
  val AddPhases: Seq[String] = Seq("stats", "merge-index-write", "segments-write", "docs-write", "edges-write", "fast-lists")
  val Routes: Seq[String] = Seq("fast", "hybrid", "wand", "and", "absent")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) { SelfTest.run(); return }
    def need(n: String) = arg(args, n).getOrElse(throw new IllegalArgumentException(s"missing --$n"))
    val plan = Plan.of(need("workload"))
    val seed = need("seed").toLong
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val result = Paths.get(need("result"))
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    val out = try run(spark, plan, seed, traced, work, arg(args, "trace-out").map(Paths.get(_)))
      finally spark.stop()
    Files.writeString(result, out.json)
    if (!out.correct) sys.exit(1)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the UI is off; keep its status store small so retained_heap_mb
      // measures the program's state rather than the store's history
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Out(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]) {
    def json: String = {
      val m = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
    }
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def run(spark: SparkSession, plan: Plan, seed: Long, traced: Boolean, work: Path,
      traceOut: Option[Path]): Out = {
    val scale = Inputs.Scale(Lines)
    val wl = new Workload(spark, plan, seed, scale, work, traced)
    val setupWalls = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = wl.setup(i)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    log(f"setup walls ${setupWalls.map(_._2).mkString(", ")}")
    val setup = setupWalls.last._1
    setupWalls.init.foreach { case (s, _) =>
      Workload.deleteTree(Paths.get(s.table).getParent)
    }

    val t0 = System.nanoTime()
    val loopWall = wl.timed(setup)
    log(f"timed part ${(System.nanoTime() - t0) / 1e9}%.1f s: writes ${wl.writes.map(w => f"${w.kind} ${w.wallS}%.1f").mkString(", ")}, queries $loopWall%.1f")
    wl.requests.groupBy(_.q.kind.name).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      log(f"  $k%-8s n=${rs.size}%3d p50=${median(rs.map(_.ms).toSeq)}%7.1f max=${rs.map(_.ms).max}%7.1f routes=${rs.groupBy(_.route).map(r => s"${r._1}:${r._2.size}").mkString(",")}")
    }
    val heapMb = Jvm.retainedHeapMb()
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val c0 = System.nanoTime()
    val counts = wl.check(setup, CheckPerRoute)
    log(f"checks ${(System.nanoTime() - c0) / 1e9}%.1f s")
    val bytesPerContent = wl.indexBytes.toDouble / counts.contentBytes

    val reqs = wl.requests.toSeq
    val routeCount = Routes.map(r => r -> reqs.count(_.route == r)).toMap
    Routes.filter(routeCount(_) == 0).foreach(r => wl.problems += s"route $r never taken")
    println(s"routes ${Routes.map(r => s"$r=${routeCount(r)}").mkString(" ")}")
    wl.problems.foreach(p => log(s"CHECK FAILED: $p"))

    val writes = wl.writes.toSeq
    val metrics = if (!traced) Seq(
      ("setup_s", median(setupWalls.map(_._2)), "s"),
      ("index_docs_per_s", writes.map(_.docs).sum / writes.map(_.wallS).sum, "docs/s"),
      ("fast_query_p50_ms", median(reqs.filter(_.route == "fast").map(_.ms)), "ms"),
      ("query_p80_ms", percentile(reqs.map(_.ms), 0.8), "ms"),
      ("index_bytes_per_content_byte", bytesPerContent, "ratio"),
      ("retained_heap_mb", heapMb, "MB"))
    else perLayer(wl, storageMb)

    if (traced) traceOut.foreach { f =>
      wl.trace.write(f)
      log(s"trace: ${wl.trace.spans.size} spans in $f")
    }
    Out(wl.problems.isEmpty, reqs.size.toLong + wl.writes.size, wl.problems.size.toLong, metrics)
  }

  /** The per-layer metrics of a traced run. */
  def perLayer(wl: Workload, storageMb: Double): Seq[(String, Double, String)] = {
    val mb = 1048576.0
    val out = Seq.newBuilder[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    val b = wl.writes.find(_.kind == "build").get
    val phases = b.phases.map(p => p._1 -> p).toMap
    BuildPhases.foreach { p =>
      val ph = phases.get(p)
      add(s"index.$p.wall_s", ph.map(_._2).getOrElse(0.0), "s")
      add(s"index.$p.task_cpu_s", ph.map(_._3.cpuNs / 1e9).getOrElse(0.0), "s")
      add(s"index.$p.shuffle_write_mb", ph.map(_._3.shuffleWriteBytes / mb).getOrElse(0.0), "MB")
    }
    add("index.build_docs_per_s", b.docs / b.wallS, "docs/s")
    add("index.unattributed_s", b.wallS - b.phases.map(_._2).sum, "s")
    add("index.cpu_util", b.total.cpuNs / 1e9 / (b.wallS * Cpus), "ratio")
    add("index.spill_mb", b.total.spillBytes / mb, "MB")
    add("index.gc_s", b.gcMs / 1000.0, "s")
    add("index.spark_jobs", b.total.jobs.toDouble, "count")
    Seq("index" -> b.root.indexDir, "segments" -> b.root.segmentsDir, "docs" -> b.root.docsDir,
      "fast" -> b.root.fastDir, "edges" -> b.root.edgesDir).foreach { case (n, d) =>
      add(s"index.${n}_mb", Workload.dirBytes(Paths.get(d)) / mb, "MB")
    }

    val adds = wl.writes.filter(_.kind == "add").toSeq
    def perAdd(f: Write => Double): Double = mean(adds.map(f))
    AddPhases.foreach { p =>
      add(s"incremental.$p.wall_s", perAdd(_.phases.filter(_._1 == p).map(_._2).sum), "s")
      add(s"incremental.$p.task_cpu_s", perAdd(_.phases.filter(_._1 == p).map(_._3.cpuNs / 1e9).sum), "s")
    }
    add("incremental.add_s", perAdd(_.wallS), "s")
    add("incremental.unattributed_s", perAdd(w => w.wallS - w.phases.map(_._2).sum), "s")
    add("incremental.shuffle_write_mb", perAdd(_.total.shuffleWriteBytes / mb), "MB")
    add("incremental.spark_jobs", perAdd(_.total.jobs.toDouble), "count")
    add("incremental.layer_mb", perAdd(w => Workload.dirBytes(Paths.get(w.root.root)) / mb), "MB")

    val reqs = wl.requests.toSeq
    Routes.foreach(r => add(s"engine.route.$r.count", reqs.count(_.route == r).toDouble, "count"))
    Seq("fast", "hybrid", "wand", "and").foreach { r =>
      val ms = reqs.filter(_.route == r).map(_.ms)
      add(s"engine.route.$r.p50_ms", if (ms.isEmpty) 0.0 else median(ms), "ms")
    }

    // span-derived metrics over the traced requests
    val spans = wl.trace.spans.toSeq
    val reqSpans = spans.zipWithIndex.filter(_._1.name == "request")
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    def childMs(i: Int, name: String): Double = children.getOrElse(i, Nil).filter(_.name == name).map(_.ms).sum
    def perReq(f: Int => Double): Double = mean(reqSpans.map { case (_, i) => f(i) })
    def count(s: Span, k: String): Double = s.counts.getOrElse(k, 0.0)
    add("engine.reader.term_meta_ms", perReq(childMs(_, "term_meta")), "ms")
    add("engine.reader.open_ms", mean(wl.opensMs.toSeq), "ms")
    add("engine.search.plan_ms", perReq(childMs(_, "plan")), "ms")
    add("engine.search.collect_ms", perReq(childMs(_, "collect")), "ms")
    add("engine.unattributed_ms", perReq(i => spans(i).ms - children.getOrElse(i, Nil).map(_.ms).sum), "ms")
    val reqWall = reqSpans.map(_._1.ms).sum
    add("trace.request_coverage", children.filter(c => spans(c._1).name == "request")
      .values.flatten.map(_.ms).sum / reqWall, "ratio")

    val skips = reqs.map(_.blockSkips).sum.toDouble
    val decoded = reqs.map(_.blocksDecoded).sum.toDouble
    add("engine.wand.candidates_per_query", mean(reqs.map(_.candidates.toDouble)), "count")
    add("engine.wand.blocks_decoded_per_query", decoded / reqs.size, "count")
    add("engine.wand.block_skip_ratio", if (skips + decoded == 0) 0.0 else skips / (skips + decoded), "ratio")

    val rs = reqSpans.map(_._1)
    add("engine.spark_jobs_per_query", mean(rs.map(count(_, "spark_jobs"))), "count")
    add("engine.tasks_per_query", mean(rs.map(count(_, "tasks"))), "count")
    add("engine.shuffle_bytes_per_query", mean(rs.map(count(_, "shuffle_bytes"))), "bytes")
    val rows = rs.map(count(_, "rows")).sum
    add("engine.rows_read_per_result", rs.map(count(_, "records_read")).sum / math.max(rows, 1.0), "ratio")
    add("engine.task_cpu_ms_per_query", mean(rs.map(count(_, "task_cpu_ms"))), "ms")
    add("engine.gc_ms_per_query", mean(rs.map(count(_, "gc_ms"))), "ms")
    add("spark.storage_mb", storageMb, "MB")

    // the run's own overhead: traced against untraced requests of each kind
    val ratios = reqs.groupBy(_.q.kind).toSeq.flatMap { case (_, rk) =>
      val (t, u) = rk.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some((median(t.map(_.ms)) / median(u.map(_.ms)), rk.size))
    }
    add("trace.query_overhead_pct",
      100 * (ratios.map { case (r, n) => r * n }.sum / math.max(ratios.map(_._2).sum, 1) - 1), "%")
    out.result()
  }
}
