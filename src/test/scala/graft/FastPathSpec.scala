package graft

import graft.engine.{IndexReader, NaiveSearch, QueryMetrics, Wand}
import graft.index.{Incremental, IndexBuilder, IndexPaths, Postings}
import graft.model.Query
import graft.queries.QuerySet
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The v6 impact-ordered fast path: hot single-term queries serve from the
  * per-term top-FastK prefix in O(k) — the fix for the bench finding that
  * block-max pruning never fires on a flat score distribution (q01 "func"
  * evaluated every candidate with 0 skips). Pins: prefix existence +
  * boundary-tie capture, rank identity vs the naive oracle plan with the
  * fast route ENGAGED (candidate counter = prefix size, not df), and the
  * fallbacks (rare term, absent term, k > FastK, scoped query). The fast
  * lists and the term dictionary live on the driver, loaded by the
  * reader's first lookup: after it, fast and absent requests run no job.
  * Also: concurrent routed, WAND and AND requests on one reader,
  * racing on the segment shards' first decodes or on a fresh reader's
  * first load, answer exactly as sequential ones.
  */
class FastPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var paths: graft.index.IndexPaths = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    paths = IndexBuilder.ensure(spark, sfDir)._1
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A 2-layer root: a build over the 80 % base slice, then `addBatch`
    * with the full corpus. Built once, on first use.
    */
  private lazy val layered: IndexPaths = {
    val root = "target/graft-index/test-fast-layered"
    Bench.deleteTree(root)
    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    val full = graft.corpus.Corpus.corpus(spark, sfDir)
    IndexBuilder.build(spark, graft.corpus.Corpus.baseSlice(full), basePaths,
      buildArgs = "fast-layered-base")
    Incremental.addBatch(spark, basePaths, full, outPaths)
    outPaths
  }

  /** True when `df`'s plan is in the session's cache. */
  private def cached(df: DataFrame): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("hot term has an impact-ordered prefix; rare/absent terms do not") {
    val reader = IndexReader.get(spark, paths)
    val fl = reader.fastList("func")
    assert(fl.isDefined, "hot term 'func' (df = N) must have a fast list")
    val f = fl.get
    assert(f.df >= IndexBuilder.FastMinDf)
    assert(f.ids.length === math.min(IndexBuilder.FastK.toLong, f.df).toInt,
      s"prefix must be exactly min(FastK, df) entries, got ${f.ids.length}")
    assert(f.ids.length == f.tfs.length && f.ids.length == f.dls.length)
    // v7: natural doc keys ride along so serving needs no docs join
    assert(f.ids.length == f.repos.length && f.ids.length == f.paths.length &&
      f.ids.length == f.commits.length)
    assert(reader.fastList("handler_0_3").isEmpty, "rare term must fall back")
    assert(reader.fastList("zzznotfound").isEmpty, "absent term must fall back")
  }

  test("prefix IS the final ranking's head: stored order == naive top-k order") {
    // tie-dominated case: quantized hot-term scores collapse to a few
    // values, so the top-k is decided by natural keys — the prefix must be
    // selected and ordered by the SAME total order as the final ranking
    val reader = IndexReader.get(spark, paths)
    val ids = reader.fastList("func").get.ids
    val docs = spark.read.schema(IndexBuilder.DocsSchema).parquet(paths.docsDir)
      .select("doc_id", "repo", "path", "commit").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    val prefixKeys = ids.take(10).map(docs)
    val naiveKeys = NaiveSearch.topK(spark,
      graft.corpus.Corpus.corpus(spark, sfDir),
      QuerySet.df(spark).filter(org.apache.spark.sql.functions.col("query_id") === "q01"))
      .collect().map(r => (r.getString(2), r.getString(3), r.getString(4)))
    assert(prefixKeys.toSeq === naiveKeys.toSeq,
      "fast-list head diverged from the oracle plan's top-k order")
  }

  test("fast route engaged: q01 candidate count is k, not df") {
    val reader = IndexReader.get(spark, paths)
    val m = QueryMetrics(spark)
    Wand.topKAt(spark, paths, Seq(Query("q01", Seq("func"), 10)), Some(m)).count()
    // v7 serves take(k) of the driver-resident prefix: the served candidate
    // set is exactly k rows, nowhere near df
    assert(m.candidates.value === 10L,
      s"fast path not engaged: evaluated ${m.candidates.value}, expected k=10")
    assert(m.candidates.value < reader.fastList("func").get.df,
      "candidate count should be far below df")
  }

  test("fast single-term queries are answered with ZERO Spark jobs") {
    // only "func" clears FastMinDf at sf0.001 (~6k docs) — the batch mixes
    // two fast-single queries (different k) with an absent term (also
    // driver-answerable: empty)
    val qs = Seq(Query("z1", Seq("func"), 10), Query("z2", Seq("func"), 5),
      Query("z3", Seq("zzznotfound"), 10))
    // warm the driver caches (termMeta + fastList probes are one-time jobs)
    Wand.topKAt(spark, paths, qs.map(q => q.copy(queryId = q.queryId + "w"))).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val rows = Wand.topKAt(spark, paths, qs).collect()
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      assert(rows.length === 15, "10 + 5 + 0 rows expected")
      assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq ===
        rows.map(r => (r.getString(0), r.getInt(1))).toSeq.sorted,
        "driver-local result must come out (query_id, rank)-sorted")
      assert(jobs.get === 0,
        s"fast single-term serving scheduled ${jobs.get} Spark jobs; v7 contract is 0")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("fast lists are driver-resident: fastList runs no job after the first lookup") {
    IndexReader.invalidate(paths.root)
    val reader = IndexReader.get(spark, paths)
    reader.termMeta(Seq("func")) // the first lookup loads the fast lists too
    val (found, jobs, _, _) = SparkWork(spark)(
      Seq("func", "handler_0_3", "zzznotfound").map(reader.fastList(_).isDefined))
    assert(found === Seq(true, false, false), "hot, rare, absent")
    assert(jobs === 0, s"fastList after the first lookup scheduled $jobs jobs")
  }

  test("a fresh layered reader after its first request: fast and absent run no job, a cold identifier one") {
    IndexReader.invalidate(layered.root)
    val reader = IndexReader.get(spark, layered)
    assert(reader.layers.size === 2)
    Wand.topKAt(spark, layered, Seq(Query("first", Seq("buffer"), 10))).collect()
    // terms of the base layer only, the delta layer only, and both
    def termsOf(l: graft.engine.IndexLayer) = l.shards.flatMap(_.entries.map(_._1)).distinct().collect().toSet
    val Seq(base, delta) = reader.layers.map(termsOf)
    val (baseOnly, deltaOnly, both) = ((base -- delta).min, (delta -- base).min, (base & delta).min)

    val m = QueryMetrics(spark)
    val (rows, jobs, _, sql) = SparkWork(spark)(Wand.topKAt(spark, layered, Seq(
      Query("fast", Seq("func"), 10), Query("absent", Seq("zzznotfound"), 10)), Some(m)).collect())
    assert(m.routedFast.value === 1L && m.routedAbsent.value === 1L, s"routes: ${m.snapshot}")
    assert(rows.length === 10)
    assert(jobs === 0 && sql === 0, s"fast + absent batch ran $jobs jobs, $sql SQL")

    val (meta, metaJobs, _, _) = SparkWork(spark)(reader.termMeta(Seq(baseOnly, deltaOnly, both, "zzznotfound")))
    assert(meta.keySet === Set(baseOnly, deltaOnly, both))
    assert(metaJobs === 0, s"termMeta ran $metaJobs jobs")

    val (_, coldJobs, _, _) = SparkWork(spark)(
      Wand.topKAt(spark, layered, Seq(Query("cold", Seq(deltaOnly), 10))).collect())
    assert(coldJobs === 1, s"a cold identifier ran $coldJobs jobs")
  }

  test("serving path (fast + WAND mix) is rank-identical to the naive oracle plan") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getDouble(5))
    val got = Wand.topKAt(spark, paths, QuerySet.all).collect().map(key).toSeq
    val want = NaiveSearch.topK(spark,
      graft.corpus.Corpus.corpus(spark, sfDir), QuerySet.df(spark)).collect().map(key).toSeq
    assert(got === want, "fast-path-mixed serving diverged from the oracle plan")
  }

  test("hybrid hot+rare query serves from prefix ∪ rare lists, not O(N)") {
    // the classic "rare identifier + common keyword" shape (q06): exactly
    // one fast-listed term → candidates = prefix(hot) ∪ full(rare); any
    // other doc is hot-only outside the prefix and dominated by all FastK
    // prefix docs in the final total order
    val reader = IndexReader.get(spark, paths)
    val q = Query("hyb", Seq("func", "handler_0_3"), 10)
    val m = QueryMetrics(spark)
    val got = Wand.topKAt(spark, paths, Seq(q), Some(m)).collect()
    val hotDf = reader.fastList("func").get.df
    assert(m.candidates.value > 0L && m.candidates.value < hotDf / 2,
      s"hybrid path not engaged: evaluated ${m.candidates.value} of df=$hotDf")
    // rank-identical to the naive oracle plan on the same query
    val s = spark; import s.implicits._
    val want = NaiveSearch.topK(spark, graft.corpus.Corpus.corpus(spark, sfDir),
      Seq(("hyb", "func", 10), ("hyb", "handler_0_3", 10)).toDF("query_id", "term", "k")).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getDouble(5))
    assert(got.map(key).toSeq === want.map(key).toSeq)
    // duplicate terms collapse before routing (still the single-term path)
    val dup = Wand.topKAt(spark, paths, Seq(Query("mm", Seq("func", "func"), 5))).collect()
    assert(dup.map(_.getInt(1)).toSeq === (1 to 5))
  }

  test("hybrid many-rare-term query: routes hybrid, matches naive, evaluates < df/2") {
    // hybrid runs inside the shard job (prefix ∪ the shard's rare-list docs
    // as the WAND scope), so nothing funnels through the driver and no
    // Σ df_rare cap exists: a 15-term query still routes hybrid
    val reader = IndexReader.get(spark, paths)
    val rare = (0 until 14).map(i => s"cust_$i")
    assert(reader.termMeta(rare).size === rare.size, "fixture: every cust_* term must be present")
    val q = Query("many", "func" +: rare, 10)
    val m = QueryMetrics(spark)
    val got = Wand.topKAt(spark, paths, Seq(q), Some(m)).collect()
    assert(m.routedHybrid.value === 1L && m.routedWand.value === 0L, s"routes = ${m.snapshot}")
    val hotDf = reader.fastList("func").get.df
    assert(m.candidates.value > 0L && m.candidates.value < hotDf / 2,
      s"hybrid scope not applied: evaluated ${m.candidates.value} of df=$hotDf")
    val s = spark; import s.implicits._
    val want = NaiveSearch.topK(spark, graft.corpus.Corpus.corpus(spark, sfDir),
      ("func" +: rare).map(t => ("many", t, 10)).toDF("query_id", "term", "k")).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getDouble(5))
    assert(got.map(key).toSeq === want.map(key).toSeq, "hybrid answer diverged from the oracle plan")
  }

  test("layered root: the reader ranks fast lists at the new avgdl, fast route engages") {
    // the steady state at scale: between an add and the next compact the
    // root is layered, and hot single-term queries must STILL be O(k) —
    // the reader ranks every fast list at the post-add stats from every
    // layer (tfNorm order is not avgdl-stable, so the base's prefixes
    // cannot be reused)
    val outPaths = layered
    val full = graft.corpus.Corpus.corpus(spark, sfDir)
    val reader = IndexReader.get(spark, outPaths)
    assert(reader.layers.size === 2, "fixture must be a genuinely layered root")
    val m = QueryMetrics(spark)
    val got = Wand.topKAt(spark, outPaths, Seq(Query("lay", Seq("func"), 10)), Some(m)).collect()
    assert(m.routedFast.value === 1L,
      s"fast route must engage on the layered root: ${m.snapshot}")
    assert(m.candidates.value === 10L, "layered fast serve must evaluate k, not df")
    // rank-identical to the naive oracle plan over the FULL corpus (the
    // layered root's merged content)
    val s = spark; import s.implicits._
    val want = NaiveSearch.topK(spark, full,
      Seq(("lay", "func", 10)).toDF("query_id", "term", "k")).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4), r.getDouble(5))
    assert(got.map(key).toSeq === want.map(key).toSeq,
      "layered fast serve diverged from the full-corpus oracle plan")
  }

  test("layered reader pins one shard RDD per layer: no segments/ or index/ relation cached after every route") {
    // every route and termMeta read the layers' pinned segment shards, so
    // no relation over a layer's segments/ is ever cached (no layer has an
    // index/)
    val reader = IndexReader.get(spark, layered)
    assert(reader.layers.size === 2)
    val m = QueryMetrics(spark)
    Wand.topKAt(spark, layered, Seq(
      Query("pin-fast", Seq("func"), 10),
      Query("pin-hybrid", Seq("func", "handler_0_3"), 10),
      Query("pin-wand", Seq("handler_0_3", "handler_1_3"), 10),
      Query("pin-absent", Seq("zzznotfound"), 10)), Some(m)).collect()
    Wand.topKAt(spark, layered, Seq(Query("pin-and", Seq("func", "buffer"), 10)), Some(m),
      mode = Wand.Conjunctive).collect()
    assert(m.routedFast.value === 1L && m.routedHybrid.value === 1L &&
      m.routedWand.value === 2L && m.routedAbsent.value === 1L, s"routes: ${m.snapshot}")
    val persistent = spark.sparkContext.getPersistentRDDs
    reader.layers.zipWithIndex.foreach { case (l, li) =>
      assert(persistent.contains(l.shards.id), s"layer $li: segment shards not pinned")
      val segments = spark.read.schema(IndexBuilder.SegmentsSchema).parquet(l.paths.segmentsDir)
      assert(!cached(segments), s"layer $li: segments/ relation is pinned")
    }
    // the reader caches no relation: its fast lists live on the driver
    val entries = org.apache.spark.sql.GraftCacheBridge.cachedEntries(spark)
    IndexReader.invalidate(layered.root)
    assert(entries - org.apache.spark.sql.GraftCacheBridge.cachedEntries(spark) === 0,
      "the layered reader cached a relation")
  }

  /** Runs 8 request threads × 3 rounds of (WAND, hybrid, AND) batches on
    * a fresh reader, warmed first by `warm`, and checks every answer against
    * the sequential one. Returns the Spark jobs and SQL jobs the threads
    * ran, and the descriptions of those jobs that carry one.
    */
  private def race(warm: IndexReader => Unit): (Int, Int, Seq[String]) = {
    val hybrid = Seq(Query("hyb", Seq("func", "handler_0_3"), 10))
    def batches(): Seq[Array[Row]] = Seq(
      Wand.topKAt(spark, paths, QuerySet.all, mode = Wand.WandOnly).collect(),
      Wand.topKAt(spark, paths, hybrid).collect(),
      Wand.topKAt(spark, paths, QuerySet.conjunctive, mode = Wand.Conjunctive).collect())
    val m = QueryMetrics(spark)
    Wand.topKAt(spark, paths, hybrid, Some(m)).collect()
    assert(m.routedHybrid.value === 1L, s"fixture: not routed hybrid: ${m.snapshot}")
    val want = batches()
    assert(want.forall(_.nonEmpty))
    IndexReader.invalidate(paths.root)
    warm(IndexReader.get(spark, paths))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        try (0 until 3).foreach { _ =>
          batches().zip(want).foreach { case (got, w) => assert(got.toSeq === w.toSeq) }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val described = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => described.add(d))
    }
    spark.sparkContext.addSparkListener(l)
    val (_, jobs, _, sql) =
      try SparkWork(spark) { threads.foreach(_.start()); threads.foreach(_.join()) }
      finally spark.sparkContext.removeSparkListener(l)
    assert(errors.isEmpty, s"a concurrent request diverged: ${Option(errors.peek()).map(_.toString)}")
    (jobs, sql, described.asScala.toSeq)
  }

  test("8 concurrent request threads on one reader answer as sequential requests do") {
    // term metadata and fast lists warm but no block decoded yet, so the
    // threads race on the shards' first decodes
    race(_.prefetchFastLists(Nil))
  }

  test("8 concurrent first requests on a fresh reader load the dictionary and fast lists once") {
    val (jobs, sql, described) = race(_ => ())
    // every batch runs one shard job; beside them, the load's two jobs ran
    // once each: the dictionary job and the fast-list ranking job
    assert(described.sorted === Seq(IndexReader.DictionaryJob, IndexReader.RankingJob).sorted,
      s"the load ran the jobs $described")
    assert(jobs === 2 + 8 * 3 * 3, s"$jobs jobs: the load did not run exactly once")
    assert(sql === 0, s"the load ran $sql SQL jobs")
  }

  test("k > FastK falls back to the exact path (and still matches naive)") {
    val q = Query("big", Seq("func"), IndexBuilder.FastK + 1)
    val m = QueryMetrics(spark)
    val got = Wand.topKAt(spark, paths, Seq(q), Some(m)).count()
    assert(got === (IndexBuilder.FastK + 1).toLong)
    val reader = IndexReader.get(spark, paths)
    assert(m.candidates.value > reader.fastList("func").get.ids.length.toLong,
      "k > FastK must not use the truncated prefix")
  }
}
