package graft

import graft.ops.Graph
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-hop traversal invariants on a hand-built graph: BFS min-depth
  * (diamond), cycle-guard termination + no revisits (3-cycle), early exit
  * below the depth bound, reverse-direction reach, and the reference's
  * depth-validation error analog (dgraph.go:86-90 — depth outside the
  * accepted range is an ERROR, not a silent clamp).
  */
class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def edgesDf(pairs: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    pairs.toSeq.toDF("src_id", "dst_id")
  }

  private def rootsDf(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toSeq.map(i => (i, i)).toDF("root_id", "doc_id")
  }

  private def reachSet(edges: org.apache.spark.sql.DataFrame, roots: org.apache.spark.sql.DataFrame, d: Int) =
    Graph.reach(edges, roots, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

  test("diamond: depth is the MINIMUM distance, not any path length") {
    // 1→2→4, 1→3→4→5 plus a long detour 1→6→7→4: node 4 must be depth 2
    val e = edgesDf(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L, 1L -> 6L, 6L -> 7L, 7L -> 4L)
    val r = reachSet(e, rootsDf(1L), 4)
    assert(r((1L, 1L)) === 0)
    assert(r((1L, 4L)) === 2, "diamond node must carry its BFS min depth")
    assert(r((1L, 5L)) === 3)
    assert(r.size === 7)
  }

  test("cycle: loop=false guard terminates and emits each node once") {
    val e = edgesDf(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val rows = Graph.reach(e, rootsDf(1L), Graph.MaxDepth).collect()
    assert(rows.length === 3, s"cycle must yield 3 visited nodes, got ${rows.toSeq}")
    val r = rows.map(x => x.getLong(1) -> x.getInt(2)).toMap
    assert(r === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("early exit: traversal stops when the frontier drains before maxDepth") {
    val e = edgesDf(1L -> 2L)
    val r = reachSet(e, rootsDf(1L), Graph.MaxDepth)
    assert(r === Map((1L, 1L) -> 0, (1L, 2L) -> 1))
  }

  test("per-root isolation: two roots traverse independently") {
    val e = edgesDf(1L -> 2L, 10L -> 11L, 2L -> 10L)
    val r = reachSet(e, rootsDf(1L, 10L), 2)
    assert(r((1L, 10L)) === 2)      // root 1 reaches 10 in 2 hops
    assert(r((10L, 11L)) === 1)     // root 10's own hop
    assert(!r.contains((10L, 1L)), "reverse reach must not leak between roots")
  }

  test("depth validation: out-of-range depth is an error (dgraph.go:86-90 analog)") {
    val e = edgesDf(1L -> 2L)
    intercept[IllegalArgumentException](Graph.reach(e, rootsDf(1L), 0))
    intercept[IllegalArgumentException](Graph.reach(e, rootsDf(1L), Graph.MaxDepth + 1))
  }

  test("a traversal whose hop fails rethrows and releases every persist") {
    import org.apache.spark.sql.functions.{col, udf}
    // the edge filter passes in the first task stage that evaluates it (the
    // first hop's job) and throws in every later one, so the first hop
    // persists its level and the second hop's job fails; evaluations the
    // optimizer makes on the driver pass
    val failing = udf { (src: Long) =>
      Option(org.apache.spark.TaskContext.get()).foreach { tc =>
        GraphSpec.firstEdgeStage.compareAndSet(-1, tc.stageId())
        if (tc.stageId() != GraphSpec.firstEdgeStage.get()) throw new IllegalStateException("injected hop failure")
      }
      src >= 0L
    }
    GraphSpec.firstEdgeStage.set(-1)
    val edges = edgesDf(1L -> 2L, 2L -> 3L, 3L -> 4L).repartition(2).filter(failing(col("src_id")))
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](Graph.reach(edges, rootsDf(1L), 3))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("injected hop failure")), s"not the injected failure: $e")
    assert(sc.getPersistentRDDs.keySet === baseline,
      s"a failed traversal left persisted RDDs: ${(sc.getPersistentRDDs.keySet -- baseline).toSeq}")
  }

  test("corpus link graph: reachBfs emits both directions with sane shapes") {
    val corpus = graft.corpus.Corpus.corpus(spark, "/root/testdata/sf0.001")
    val out = Graph.reachBfs(spark, corpus, maxDepth = 2).collect()
    val byDir = out.groupBy(_.getString(0))
    assert(byDir.contains("out") && byDir.contains("in"))
    // forward: out-degree 1 over canonical ring → exactly one node per depth per root
    val fwdDepths = byDir("out").groupBy(r => (r.getString(1), r.getString(2)))
    fwdDepths.values.foreach { rows =>
      val depths = rows.map(_.getInt(4)).sorted.toSeq
      assert(depths === Seq(0, 1, 2), s"forward chain must be one node per depth, got $depths")
    }
    // reverse: fan-in ≥ forward (canonical docs aggregate many importers)
    assert(byDir("in").length >= byDir("out").length)
    // depth 0 rows are the roots themselves in BOTH directions
    out.filter(_.getInt(4) == 0).foreach(r => assert(r.getString(2) === r.getString(3)))
  }

  test("stored and corpus traversals cache each plan once and release every pin") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // two docs per (root repo, module): module n imports module n + 1
    val s = spark
    import s.implicits._
    val corpus = (for {
      repo <- Graph.RootRepos; n <- 0 until Graph.CustModulus; copy <- 0 until 2
    } yield (repo, f"m$n%02d-$copy.go", "c0ffee000000", "go", s"cust_$n func body$copy"))
      .toDF("repo", "path", "commit", "lang", "content")
    val root = java.nio.file.Files.createTempDirectory("graft-graph").toString
    graft.index.IndexBuilder.build(spark, corpus, graft.index.IndexPaths(root), numSalts = 4, numBuckets = 4)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graph-cache-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { warnings.add(e.getMessage.getFormattedMessage); () }
    }
    appender.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.execution.CacheManager")
    val prevLevel = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    val sc = spark.sparkContext
    try {
      val baseline = sc.getPersistentRDDs.keySet
      Seq(Graph.reachStored(spark, root), Graph.reachBfs(spark, corpus)).foreach { out =>
        assert(out.collect().nonEmpty)
        Graph.release(out)
      }
      val cached = warnings.toArray.map(_.toString).filter(_.contains("already"))
      assert(cached.isEmpty, s"a traversal cached one plan twice: ${cached.toSeq}")
      assert(sc.getPersistentRDDs.keySet === baseline,
        s"a traversal left persisted RDDs: ${(sc.getPersistentRDDs.keySet -- baseline).toSeq}")
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(prevLevel)
      appender.stop()
      graft.engine.IndexReader.invalidate(root)
      Bench.deleteTree(root)
    }
  }
}

object GraphSpec {

  /** The first task stage that evaluated the failing edge filter:
    * JVM-static, so local-mode tasks and the spec share it.
    */
  val firstEdgeStage = new java.util.concurrent.atomic.AtomicInteger(-1)
}
