package graft.ops

import graft.corpus.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Depth-bounded multi-hop graph traversal — the engine analog of the
  * reference's defining query shape: a recursive graph expansion with a
  * depth bound and cycle guard (`@recurse(depth: D+1, loop: false)`,
  * `/root/reference/pkg/database/relationship/dgraph.go:66-75`) plus
  * bidirectional path finding via the `@reverse` edge index
  * (`dgraph.go:45`, `/root/reference/README.md:8`).
  *
  * Spark-first shape: BFS as DRIVER-BOUNDED iterative hash-joins — each
  * hop is `frontier ⋈ edges` (hash join on src) followed by a `left_anti`
  * against the visited set (the cycle guard / `loop: false`), with the
  * frontier persisted and materialized per hop so lineage stays flat
  * (Pregel-lite; GraphX does the same under the hood). Depth is bounded by
  * [[MaxDepth]] and validated up front, mirroring the reference's
  * depth-validation error ("Depth does not match dgraph result.",
  * `dgraph.go:86-90`). The anti-join guarantees each (root, node) is
  * emitted at its FIRST discovery, so `depth` is the BFS minimum distance
  * — the same semantics as the oracle's recursive-CTE `min(depth)`.
  *
  * Scale notes (1000-executor reasoning): every hop is two hash-partitioned
  * joins on doc_id — no windows, no driver-side adjacency, no broadcast
  * that grows with the corpus; the visited set lives as a persisted
  * DataFrame co-partitioned with the frontier by the join keys. Hop count
  * (≤ [[MaxDepth]]) bounds the number of stages, not the data volume per
  * stage.
  *
  * The link relation itself is CONTENT-DERIVED: each synthesized source doc
  * carries a `cust_<n>` token ([[Corpus.raw]]); a doc links to the
  * canonical provider (min path) of the next cust-module `(n+1) % 20`
  * within its repo — an import-graph shape with out-degree 1, large
  * fan-in on canonical docs, and 20-cycles, so the cycle guard and the
  * reverse direction are both genuinely exercised.
  */
object Graph {

  /** Validation bound on traversal depth (the reference clamps/validates
    * `display_depth`, `pkg/query/query.go:44-48`).
    */
  val MaxDepth: Int = 10

  /** Alias of the link semantics' module count ([[graft.index.LinkIndex]]
    * is the single definition — the content-derived and the stored-docs
    * traversals can never drift apart on link semantics).
    */
  val CustModulus: Int = graft.index.LinkIndex.CustModulus

  /** Repos whose cust-0 canonical docs serve as traversal roots in the
    * oracle entry (small fixed set — the reference's start-URL analog).
    */
  val RootRepos: Seq[String] = Seq("repo-1", "repo-2", "repo-3")

  private val Lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** (doc_id, repo, path, cust) — one node per corpus doc; `cust` is
    * extracted from the content (`cust_<n>`), not from metadata.
    */
  def docNodes(corpus: DataFrame): DataFrame =
    Corpus.withDocId(corpus).select(
      col("doc_id"), col("repo"), col("path"),
      graft.index.LinkIndex.custCol(col("content")).as("cust"))

  /** Depth-bounded BFS from `roots` (root_id, doc_id) over `edges`
    * (src_id, dst_id): returns (root_id, doc_id, depth) for every node
    * within `maxDepth` hops, depth = minimum distance (first discovery —
    * the per-root visited anti-join is the `loop: false` cycle guard).
    * Iteration stops EARLY when a frontier empties (all reachable found).
    */
  def reach(edges: DataFrame, roots: DataFrame, maxDepth: Int): DataFrame = {
    validateDepth(maxDepth)
    val level0 = rootLevel(roots)
    try reachFrom(edges, level0, maxDepth) finally level0.unpersist()
  }

  private def validateDepth(maxDepth: Int): Unit =
    if (maxDepth < 1 || maxDepth > MaxDepth)
      throw new IllegalArgumentException(
        s"reach: depth must be in [1, $MaxDepth], got $maxDepth " +
          "(the reference's depth-validation analog, dgraph.go:86-90)")

  /** Level 0 from `roots`, persisted: the caller releases it. */
  private def rootLevel(roots: DataFrame): DataFrame =
    roots.select(col("root_id"), col("doc_id")).distinct()
      .withColumn("depth", lit(0)).persist(Lvl)

  /** [[reach]]'s BFS from a `level0` the caller owns: it releases only the
    * levels it persisted, so two traversals can share one level 0. It
    * releases them on failure too: a hop whose job throws leaves nothing
    * persisted behind.
    */
  private def reachFrom(edges: DataFrame, level0: DataFrame, maxDepth: Int): DataFrame = {
    val handles = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      var visited = level0
      var frontier = visited
      var d = 1
      var exhausted = false
      while (d <= maxDepth && !exhausted) {
        val next = frontier.select(col("root_id"), col("doc_id").as("src_id"))
          .join(edges, "src_id")
          .select(col("root_id"), col("dst_id").as("doc_id"))
          .distinct()
          .join(visited.select("root_id", "doc_id"), Seq("root_id", "doc_id"), "left_anti")
          .withColumn("depth", lit(d))
          .persist(Lvl)
        handles += next
        if (next.count() == 0) exhausted = true
        else {
          visited = visited.unionByName(next).persist(Lvl)
          handles += visited
          frontier = next
          d += 1
        }
      }
      // Truncate lineage BEFORE releasing the per-level persists (r6): the
      // final view is a union chain over every persisted level, and
      // `unpersist` (cascade = false) RECOMPILES dependent cache entries —
      // dropping their materialized data — so releasing the levels while the
      // result still referenced them forced every later consumer to re-run
      // the whole traversal from scratch (measured: graph_reach_bfs re-ran
      // its BFS ~4× per Verify entry). localCheckpoint stores the result as
      // its own blocks (same footprint as the persist it replaces) with no
      // plan dependency on the levels, which can then be dropped safely.
      // Tradeoff: localCheckpoint storage is non-reliable — on a cluster,
      // losing an executor holding result blocks fails later actions instead
      // of recomputing; acceptable for a query result consumed promptly
      // (re-running the traversal is the recovery).
      visited.localCheckpoint(true)
    } finally handles.foreach(_.unpersist())
  }

  /** Bidirectional depth-bounded reach from the [[RootRepos]] cust-0
    * canonical docs: forward over the import edges and backward over the
    * reversed edge set (the `@reverse` analog), labeled by direction.
    * Output: (direction, root_repo, root_path, path, depth) in the pinned
    * oracle order. Nodes come from the corpus content ([[docNodes]]).
    */
  def reachBfs(spark: SparkSession, corpus: DataFrame, maxDepth: Int = 3): DataFrame =
    graft.index.IndexBuilder.phase("reach-bfs-total", tag = "graph") {
      reachNodes(graft.index.LinkIndex.nodesOf(docNodes(corpus)), maxDepth)
    }

  /** [[reachBfs]] over the stored docs of an index root: the nodes are the
    * root's merged docs ([[graft.index.Incremental.readMergedDocs]]), whose
    * `cust` column holds each doc's link, extracted once at ingest. No
    * content scan and no stored edge relation: the traversal reads only
    * docs metadata and resolves the links against the root's canon, the
    * relation [[graft.index.LinkIndex.readMergedEdges]] defines.
    */
  def reachStored(spark: SparkSession, root: String, maxDepth: Int = 3): DataFrame =
    reachNodes(graft.index.LinkIndex.nodesOf(
      graft.index.Incremental.readMergedDocs(spark, root)), maxDepth)

  /** The one traversal body of [[reachBfs]] and [[reachStored]], over
    * their `(doc_id, repo, path, cust)` nodes. One canon relation serves
    * both the roots (the cust-0 canonical docs of [[RootRepos]]) and the
    * edges ([[graft.index.LinkIndex.edgesFrom]]). Output is the
    * pinned oracle shape `(direction, root_repo, root_path, path, depth)`,
    * materialized; everything the body persists is released, on failure
    * too.
    */
  private def reachNodes(nodes: DataFrame, maxDepth: Int): DataFrame = {
    def phase[A](name: String)(f: => A): A =
      graft.index.IndexBuilder.phase(name, tag = "graph")(f)
    validateDepth(maxDepth)
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pins += df; df }
    val reached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val ns = pin(nodes.persist(Lvl))
      // the edges are pinned, not the canon: pinning the canon instead made
      // every hop shuffle more (measured at sf0.001: ~1 s more per stored
      // traversal); level 0 re-aggregates the canon from the pinned nodes
      val canon = graft.index.LinkIndex.canonOf(ns)
      val edges = pin(graft.index.LinkIndex.edgesFrom(ns, canon).persist(Lvl))
      val roots = canon.filter(col("cust") === 0 && col("repo").isin(RootRepos: _*))
        .select(col("canon_id").as("root_id"), col("canon_id").as("doc_id"))

      // Pin each traversal direction's edge relation hash-partitioned AND
      // sorted on the hop-join key (guide §2.4: operations keyed the same way
      // share one exchange; a cached partitioning persists across jobs like a
      // bucketed table — VERDICT r5 "what's wrong #3"): every BFS hop joins
      // `frontier ⋈ edges` on src_id, and with a scan-partitioned cache each
      // of the ≤ 2×maxDepth hops re-exchanged and re-sorted the full edge
      // relation; now only the (frontier-sized) probe side moves per hop.
      // The reverse direction gets its own dst-keyed copy — the
      // equivalent of the reference's materialized `@reverse` index
      // (dgraph.go:45) — instead of column-flipping one relation per hop.
      // persistPartitioned: cached partitioning must be STATICALLY visible or
      // every hop join re-exchanges the cached side anyway (see the helper's
      // doc in [[graft.engine.IndexReader]])
      val fwdEdges = pin(graft.engine.IndexReader.persistPartitioned(
        edges.repartition(col("src_id")).sortWithinPartitions("src_id")))
      val revEdges = pin(graft.engine.IndexReader.persistPartitioned(
        edges.select(col("dst_id").as("src_id"), col("src_id").as("dst_id"))
          .repartition(col("src_id")).sortWithinPartitions("src_id")))

      // The two directions are independent job chains of many SMALL actions
      // (per-hop count + persist on frontier-sized data), so their wall cost
      // is action-latency-bound, not data-bound — overlap them (guide §2.6:
      // concurrent independent jobs back-fill each other's stragglers; FIFO
      // scheduling keeps both progressing). Both directions share ONE
      // persisted level 0 (each persisting its own cached the same plan
      // twice). Both are awaited before either's failure is rethrown, so a
      // failed direction never leaves the other's jobs running past the
      // release below.
      val level0 = pin(rootLevel(roots))
      phase("edges-pin+roots") { fwdEdges.count(); revEdges.count(); level0.count() }
      val (fwdReach, revReach) = phase("bfs-both-directions") {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val runs = Seq(fwdEdges, revEdges).map(e => Future(reachFrom(e, level0, maxDepth)))
        val done = runs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        done.foreach(_.foreach(reached += _))
        done.foreach(_.get)
        (reached(0), reached(1))
      }
      val fwd = fwdReach.withColumn("direction", lit("out"))
      val rev = revReach.withColumn("direction", lit("in"))

      val rootKeys = ns.select(col("doc_id").as("root_id"),
        col("repo").as("root_repo"), col("path").as("root_path"))
      val nodeKeys = ns.select(col("doc_id"), col("path"))
      // materialize the labeled join BEFORE the output-edge orderBy: the range
      // partitioner's sampling pass re-executes its child, so an unpersisted
      // join subtree ran twice (r6 attribution: the tail was ~half of
      // reachBfs' wall). orderBy itself stays — the reach output is unbounded
      // at scale (every node within maxDepth hops), so a single-partition
      // sort is not an option here, unlike the ≤ Σk ranking tails.
      val joined = pin(fwd.unionByName(rev)
        .join(rootKeys, "root_id")
        .join(nodeKeys, "doc_id")
        .select(col("direction"), col("root_repo"), col("root_path"), col("path"), col("depth"))
        .persist(Lvl))
      phase("label-join")(joined.count())
      // lineage-truncate the sorted result (same cascade reasoning as in
      // [[reachFrom]]) so every persist above can be released without
      // invalidating it; a long-lived session must not accumulate BFS levels
      phase("label+sort-tail")(
        joined.orderBy("direction", "root_repo", "root_path", "path")
          .localCheckpoint(true))
    } finally {
      // dependents first: releasing a cached input before the caches built
      // on it would re-plan them
      pins.reverseIterator.foreach(_.unpersist())
      reached.foreach(release)
    }
  }

  /** Drops a traversal result's `localCheckpoint` blocks, which
    * `Dataset.unpersist` does not reach.
    */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
}
