package graft

import graft.corpus.Corpus
import graft.queries.QuerySet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4.2: "verify in explain() during
  * bring-up") — the plans the engine relies on at 100 TB must actually be
  * the plans Catalyst picks at test scale:
  *
  *  - query-term filters reach the segments parquet scan (PushedFilters)
  *    and the bucket partition column prunes directories (PartitionFilters);
  *  - the tiny query set broadcasts (BroadcastHashJoin), never shuffles
  *    the big tf relation on term at query time;
  *  - the merged view of a layered index is one aggregate over every
  *    layer's segments, with no join;
  *  - the corpus scan prunes lineitem to only the synthesis columns.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def sparkWork[A](f: => A): (A, Int, Long, Int) = SparkWork(spark)(f)

  test("index cold scan: term filter pushed down + bucket partitions pruned") {
    import org.apache.spark.sql.functions._
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    // the cold-start plan (what a fresh executor scan runs): filters must
    // reach the parquet source
    val cold = spark.read.parquet(paths.segmentsDir)
      .filter(col("bucket").isin(0, 1, 2))
      .filter(col("term").isin("func", "buffer"))
      .select("term", "df", "postings")
    val p = plan(cold)
    assert(p.contains("PushedFilters") && p.contains("In(term"), s"term filter not pushed:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("bucket"), s"no bucket pruning:\n$p")
  }

  test("naive BM25: query set joins are broadcast, not shuffled") {
    val p = plan(graft.engine.NaiveSearch.topK(spark, Corpus.corpus(spark, sfDir), QuerySet.df(spark)))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in naive plan:\n$p")
  }

  test("corpus scan prunes lineitem to synthesis columns only") {
    val p = plan(Corpus.corpus(spark, sfDir))
    // ReadSchema for lineitem must not include e.g. l_extendedprice/l_tax
    assert(!p.contains("l_extendedprice") && !p.contains("l_tax") && !p.contains("l_shipdate"),
      s"lineitem scan reads unused columns:\n$p")
  }

  test("corpus table reads stay declarative: filters pushed, columns pruned") {
    import org.apache.spark.sql.functions._
    // a snapshot read is a plain multi-directory parquet scan — predicates
    // and projections must reach the source exactly as on a bare directory
    // (the snapshot layer adds metadata resolution, never an opaque plan node)
    val root = java.nio.file.Files.createTempDirectory("graft-plan-ct").toString
    graft.corpus.CorpusTable.create(spark,
      Corpus.corpus(spark, sfDir).limit(100), root)
    val q = graft.corpus.CorpusTable.read(spark, root)
      .filter(col("repo") === "repo-1")
      .select("repo", "path")
    val p = plan(q)
    assert(p.contains("PushedFilters") && p.contains("EqualTo(repo"),
      s"repo predicate not pushed through the snapshot read:\n$p")
    assert(!p.contains("content"), s"pruned read still scans content:\n$p")
    graft.corpus.CorpusTable.drop(root)
  }

  test("ranking tails use the bounded top-k aggregate, never a query-id window") {
    // a Window.partitionBy(query_id) funnels each query's whole candidate
    // set through one task; the k-heap aggregate reduces map-side first.
    // The index routes rank inside their salt shards (ShardTail).
    val aggPlans = Seq(
      plan(graft.engine.NaiveSearch.topK(spark, Corpus.corpus(spark, sfDir), QuerySet.df(spark))),
      plan(graft.ops.Ann.bruteForceTopK(graft.ops.Ann.embeddings(spark, sfDir))),
      // IVF incl. k-means assignment + probe selection (max_by / TopK agg)
      plan(graft.ops.Ann.ivfTopK(graft.ops.Ann.embeddings(spark, sfDir))))
    aggPlans.foreach { p =>
      assert(p.contains("top_k_by_score"), s"ranking tail is not the top-k aggregate:\n$p")
      assert(!p.contains("RunningWindowFunction") && !p.contains("Window ["),
        s"query ranking still uses a window:\n$p")
    }
  }

  test("dedup group labeling is groupBy + join back, never a hash-partitioned window") {
    // Window.partitionBy(text_sha/fingerprint) funnels each duplicate group
    // through ONE task — the pathological input (a mass-duplicated doc) is
    // exactly what dedup targets, so the label join must hash-partition
    val docs = graft.ops.TextOps.documents(spark, sfDir)
    Seq(plan(graft.ops.Dedup.exact(docs)), plan(graft.ops.TextOps.fingerprint(docs))).foreach { p =>
      assert(!p.contains("RunningWindowFunction") && !p.contains("Window ["),
        s"dedup labeling still uses a window:\n$p")
    }
  }

  test("LSH dedup verify joins candidates to shingles (no corpus-wide self-join recompute)") {
    // the verify stage must hash-join the candidate pair list against the
    // per-doc shingle sets; a second full shingle⋈shingle self-join would
    // show up as a join keyed on shingle alone upstream of the jaccard agg
    val docs = graft.ops.TextOps.documents(spark, sfDir)
    val p = plan(graft.ops.Dedup.minhashLshPairs(docs))
    // a global shingle self-join appears in explain as an equi-join keyed on
    // shingle ALONE ("keys [1]: [shingle#..]"); the LSH path's joins are the
    // band-bucket join ([band, key]) and the verify joins ([ida] / [idb,
    // shingle]) — none single-keyed on shingle
    assert(!p.contains("keys [1]: [shingle"),
      s"LSH verify recomputes the global shingle self-join:\n$p")
  }

  /** Runs `run` once to warm the reader (term metadata, fast lists, reader
    * pins), then asserts the second, untagged run is one Spark job with no
    * shuffle, and that the job is a plain RDD job over the pins, not a
    * Dataset action.
    */
  private def assertWarmOneJob(name: String)(run: String => Unit): Unit = {
    run("-warm")
    val (_, jobs, shuffleBytes, sqlJobs) = sparkWork(run(""))
    assert(jobs === 1, s"warm $name request ran $jobs Spark jobs")
    assert(shuffleBytes === 0L, s"warm $name request shuffled $shuffleBytes bytes")
    assert(sqlJobs === 0, s"warm $name request ran a SQL execution")
  }

  private def tagged(qs: Seq[graft.model.Query], tag: String) =
    qs.map(q => q.copy(queryId = q.queryId + tag))

  test("warm WAND request runs one Spark job, no shuffle") {
    import graft.engine.Wand
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    assertWarmOneJob("wand batch") { tag =>
      Wand.topKAt(spark, paths, tagged(QuerySet.all, tag), mode = Wand.WandOnly).collect()
      ()
    }
  }

  test("warm index request runs one Spark job, no shuffle") {
    import graft.engine.Wand
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    assertWarmOneJob("index batch") { tag =>
      Wand.topKAt(spark, paths, tagged(QuerySet.all, tag), mode = Wand.Exhaustive).collect()
      ()
    }
  }

  test("warm AND request runs one Spark job, no shuffle") {
    import graft.engine.{QueryMetrics, Wand}
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    // qa5 has an absent term: counted absent, no shard work
    assertWarmOneJob("AND batch") { tag =>
      val m = QueryMetrics(spark)
      val rows = Wand.topKAt(spark, paths, tagged(QuerySet.conjunctive, tag), Some(m),
        mode = Wand.Conjunctive).collect()
      assert(m.routedAbsent.value >= 1L && m.routedWand.value + m.routedAbsent.value === 5L,
        s"routes: ${m.snapshot}")
      assert(rows.nonEmpty && !rows.exists(_.getString(0).startsWith("qa5")), "qa5 must match nothing")
    }
  }

  test("warm hybrid request runs one Spark job, no shuffle") {
    import graft.engine.{QueryMetrics, Wand}
    import graft.model.Query
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    val hybrid = Seq(Query("hyb", Seq("func", "handler_0_3"), 10))
    assertWarmOneJob("hybrid") { tag =>
      val m = QueryMetrics(spark)
      Wand.topKAt(spark, paths, tagged(hybrid, tag), Some(m)).collect()
      assert(m.routedHybrid.value === 1L, s"not routed hybrid: ${m.snapshot}")
    }
  }

  test("warm scoped request runs one Spark job, no shuffle") {
    import graft.engine.Wand
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    assertWarmOneJob("scoped") { tag =>
      Wand.topKAt(spark, paths, tagged(QuerySet.all, tag), repoScope = Some(QuerySet.scopeRepos)).collect()
      ()
    }
    // a scope this reader has never served costs no extra job: the repo
    // check runs inside the shard job, against the key shards
    val cold = Seq("repo-3")
    val (rows, jobs, shuffleBytes, _) = sparkWork(
      Wand.topKAt(spark, paths, tagged(QuerySet.all, "-cold"), repoScope = Some(cold)).collect())
    assert(jobs === 1, s"request with a new scope ran $jobs Spark jobs")
    assert(shuffleBytes === 0L, s"request with a new scope shuffled $shuffleBytes bytes")
    assert(rows.nonEmpty && rows.forall(r => cold.contains(r.getString(2))), "rows outside the scope")
  }

  test("layered WAND takes the exchange-free route: no groupByKey, no hash exchange under the candidate broadcast") {
    import graft.index.{Incremental, IndexBuilder, IndexPaths}
    val s = spark
    import s.implicits._
    def corpus(docs: Seq[(String, String)]) =
      docs.map { case (path, content) => ("repo-p", path, "c0ffee000000", "go", content) }
        .toDF("repo", "path", "commit", "lang", "content")
    // "basetail" is base-only; "common" has a list in BOTH layers, so the
    // query reads sub-lists of both layers
    val base = (0 until 20).map(i => (f"base$i%02d.go", s"common alpha$i" + (if (i % 2 == 0) " basetail" else "")))
    val delta = (0 until 10).map(i => (f"delta$i%02d.go", s"common common gamma$i"))
    val root = java.nio.file.Files.createTempDirectory("graft-plan-layered").toString
    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    IndexBuilder.build(spark, corpus(base), basePaths, buildArgs = "plan-spec-layered")
    Incremental.addBatch(spark, basePaths, corpus(base ++ delta), outPaths)
    val reader = graft.engine.IndexReader.get(spark, outPaths)
    val meta = reader.termMeta(Seq("basetail", "common"))
    // df sums each term's lists over the doc-disjoint layers
    assert(reader.layers.size === 2 && meta === Map("basetail" -> 10L, "common" -> 30L))

    def query(id: String) = graft.engine.Wand.topKAt(spark, outPaths,
      Seq(graft.model.Query(id, Seq("basetail", "common"), 5))).collect()
    query("warm")
    // a groupByKey((salt, query)) or any exchange would show as a second
    // job or as shuffle bytes
    val (rows, jobs, shuffleBytes, _) = sparkWork(query("x"))
    assert(jobs === 1, s"warm layered WAND request ran $jobs Spark jobs")
    assert(shuffleBytes === 0L, s"warm layered WAND request shuffled $shuffleBytes bytes")
    assert(rows.length === 5)
    graft.engine.IndexReader.invalidate(outPaths.root)
    Bench.deleteTree(root)
  }

  test("pins align: partition i of segment shards and key shards holds only salt i") {
    import graft.index.{Incremental, IndexBuilder, IndexPaths, TermHash}
    val s = spark
    import s.implicits._
    def corpus(docs: Seq[String]) =
      docs.map(path => ("repo-a", path, "c0ffee000000", "go", s"common $path"))
        .toDF("repo", "path", "commit", "lang", "content")
    val base = (0 until 40).map(i => f"base$i%02d")
    val delta = (0 until 20).map(i => f"delta$i%02d")
    val root = java.nio.file.Files.createTempDirectory("graft-plan-align").toString
    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    // 4 salts under 8 shuffle partitions: a hash repartition on salt would
    // leave 8 partitions with salts scattered over them
    IndexBuilder.build(spark, corpus(base), basePaths, numSalts = 4, numBuckets = 4,
      buildArgs = "plan-spec-align")
    Incremental.addBatch(spark, basePaths, corpus(base ++ delta), outPaths)
    val reader = graft.engine.IndexReader.get(spark, outPaths)
    assert(reader.layers.size === 2 && reader.stats.numSalts === 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "8")
    reader.layers.zipWithIndex.foreach { case (l, li) =>
      assert(l.shards.getNumPartitions === 4, s"layer $li segments pinned into the wrong partition count")
      val placed = l.shards.mapPartitionsWithIndex((i, it) => it.map(sh => (i, sh.salt, sh.size))).collect()
      assert(placed.map(_._1).toSeq === (0 until 4) && placed.forall { case (i, salt, _) => i == salt },
        s"layer $li: (partition, salt, size) = ${placed.toSeq}")
      val segRows = spark.read.schema(IndexBuilder.SegmentsSchema).parquet(l.paths.segmentsDir).count()
      assert(placed.map(_._3.toLong).sum === segRows, s"layer $li: shards lost or duplicated segments rows")
    }
    assert(reader.keys.getNumPartitions === 4, "key shards pinned into the wrong partition count")
    val shards = reader.keys.mapPartitionsWithIndex { (i, it) =>
      it.map(sh => (i, sh.salt, (0 until sh.size).map(j => TermHash.salt(sh.docId(j), 4)).toSet, sh.size))
    }.collect()
    assert(shards.map(_._1).toSeq === (0 until 4), "one key shard per partition")
    shards.foreach { case (i, salt, docSalts, _) =>
      assert(salt === i && docSalts.forall(_ == i), s"partition $i: shard salt $salt, doc salts $docSalts")
    }
    assert(shards.map(_._4).sum === base.size + delta.size, "key shards lost or duplicated docs")
    graft.engine.IndexReader.invalidate(outPaths.root)
    Bench.deleteTree(root)
  }

  test("merged view is one aggregate over both layers' segments, no join") {
    // the J2 merge lives only in the merged view: on a 2-layer root, the
    // executed plan of Incremental.readMergedIndex scans both layers'
    // segments and merges their sub-lists in one merge_postings aggregate
    import graft.index.{Incremental, IndexBuilder, IndexPaths}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    val s = spark
    import s.implicits._
    def corpus(docs: Seq[(String, String)]) =
      docs.map { case (path, content) => ("repo-p", path, "c0ffee000000", "go", content) }
        .toDF("repo", "path", "commit", "lang", "content")
    val base = (0 until 20).map(i => (f"base$i%02d.go", s"common alpha$i"))
    val delta = (0 until 10).map(i => (f"delta$i%02d.go", s"common gamma$i"))
    val root = java.nio.file.Files.createTempDirectory("graft-plan-view").toString
    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    IndexBuilder.build(spark, corpus(base), basePaths, buildArgs = "plan-spec-view")
    Incremental.addBatch(spark, basePaths, corpus(base ++ delta), outPaths)
    val merged = Incremental.readMergedIndex(spark, outPaths.root)
    // collect runs this Dataset's own plan, so the executed plan is final
    assert(merged.collect().length === 31, "merged view: one row per distinct term")
    val p = merged.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(p) { case j: BaseJoinExec => j }.isEmpty, s"merged view joins:\n$p")
    val finals = helper.collect(p) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(finals.size === 1 && finals.head.aggregateExpressions.map(_.aggregateFunction.prettyName) ===
      Seq("merge_postings"), s"merged view is not one merge_postings aggregate:\n$p")
    def dir(d: String) = java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
    val scanned = helper.collect(p) { case f: FileSourceScanExec => f.relation.location.rootPaths }
      .flatten.map(_.toUri.getPath.stripSuffix("/")).toSet
    assert(scanned === Set(dir(basePaths.segmentsDir), dir(outPaths.segmentsDir)),
      s"merged view scans $scanned, not both layers' segments")
    Bench.deleteTree(root)
  }

  test("stored graph traversal scans only the layers' docs, never edges/ or the corpus source") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val (paths, _) = graft.index.IndexBuilder.ensure(spark, sfDir)
    // every file scan of every query the traversal runs, the cached
    // relations' own plans included (the nodes are read once, into a cache)
    val helper = new AdaptiveSparkPlanHelper {}
    def scans(p: SparkPlan): Seq[String] = helper.collect(p) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toUri.getPath.stripSuffix("/"))
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans(qe.executedPlan).foreach(scanned.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val o = graft.ops.Graph.reachStored(spark, paths.root)
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
      o
    } finally spark.listenerManager.unregister(listener)
    def dir(d: String) = java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
    val docsDirs = graft.index.Snapshots.read(paths.root).get.layers.map(l => dir(l.docsDir)).toSet
    val seen = scanned.asScala.toSet
    assert(!seen.exists(_.contains("lineitem")), s"stored traversal re-derives from the corpus source: $seen")
    assert(!seen.exists(_.endsWith("/edges")), s"stored traversal reads an edges/ dir: $seen")
    assert(seen === docsDirs, s"stored traversal scans $seen, not the layers' docs $docsDirs")
    assert(out.count() > 0, "stored traversal returned no rows")
    graft.ops.Graph.release(out)
  }
}
