package graft

import graft.index.{Incremental, IndexBuilder, IndexPaths, LinkIndex, Snapshots}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stored link-graph invariants (v7 — the reference stores `links: [uid]
  * @count @reverse` and traverses the store, dgraph.go:45/62-92):
  *
  *  1. a full build persists `edges/` derived from the docs sidecar;
  *  2. an addBatch's DELTA layer carries exactly the fresh docs' edges plus
  *     canon-change rewrites — sources whose target canon is untouched are
  *     NOT rewritten (the O(|fresh| + |rewritten groups|) bound is real);
  *  3. the newest-wins merged relation equals a from-scratch derivation
  *     over the merged docs;
  *  4. a replayed batch writes a valid EMPTY delta layer;
  *  5. compaction folds edges back to one exact layer.
  */
class LinkIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = "target/graft-index/test-linkidx"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.deleteTree(root)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def doc(path: String, content: String): (String, String, String, String, String) =
    ("repo-t", path, "c0ffee000000", "go", content)

  private def corpusOf(rows: Seq[(String, String, String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("repo", "path", "commit", "lang", "content")
  }

  // module layout: m0/b.go -> cust_0, m1/b.go -> cust_1 (initial canon),
  // m2/a.go -> cust_2; the add introduces m1/a.go (STEALS canon of module 1)
  // and m3/a.go (a brand-new module 3, giving m2/a.go its first edge)
  private val base = Seq(
    doc("m0/b.go", "alpha cust_0"),
    doc("m1/b.go", "beta cust_1"),
    doc("m2/a.go", "gamma cust_2"))
  private val add = Seq(
    doc("m1/b.go", "beta cust_1"),   // overlap: J1-filtered, must not resurface
    doc("m1/a.go", "delta cust_1"),  // new canonical provider of module 1
    doc("m3/a.go", "epsilon cust_3"))

  private val basePaths = IndexPaths(s"$root/base")
  private val outPaths = IndexPaths(s"$root/out")

  private def pathEdges(df: DataFrame, docsRoot: String): Set[(String, String)] = {
    val docs = Incremental.readMergedDocs(spark, docsRoot)
      .select("doc_id", "path").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    df.select("src_id", "dst_id").collect()
      .map(r => docs(r.getLong(0)) -> docs(r.getLong(1))).toSet
  }

  test("full build persists the edge relation beside the index") {
    IndexBuilder.build(spark, corpusOf(base), basePaths, buildArgs = "link-spec-base")
    assert(Files.exists(Paths.get(s"${basePaths.edgesDir}/_SUCCESS")))
    val got = pathEdges(LinkIndex.readMergedEdges(spark, basePaths.root), basePaths.root)
    assert(got === Set(
      "m0/b.go" -> "m1/b.go",   // cust_0 -> canon(cust_1)
      "m1/b.go" -> "m2/a.go"))  // cust_1 -> canon(cust_2); m2 has no target yet
  }

  test("delta layer: fresh edges + canon-change rewrites ONLY") {
    Incremental.addBatch(spark, basePaths, corpusOf(add), outPaths)
    val docs = Incremental.readMergedDocs(spark, outPaths.root)
      .select("doc_id", "path").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val delta = LinkIndex.readLayerEdges(spark, outPaths.edgesDir)
      .collect().map(r => docs(r.getLong(0)) -> docs(r.getLong(1))).toSet
    assert(delta === Set(
      "m1/a.go" -> "m2/a.go",   // fresh doc's own edge
      "m0/b.go" -> "m1/a.go",   // rewrite: module-1 canon changed
      "m2/a.go" -> "m3/a.go"),  // rewrite: module 3 is brand new
      "delta layer must hold exactly fresh edges + canon-change rewrites")
    assert(!delta.exists(_._1 == "m1/b.go"),
      "m1/b.go's target canon is untouched — it must NOT be rewritten")
  }

  test("newest-wins merged relation == from-scratch derivation over merged docs") {
    val merged = pathEdges(LinkIndex.readMergedEdges(spark, outPaths.root), outPaths.root)
    assert(merged === Set(
      "m0/b.go" -> "m1/a.go",   // delta wins over the base row
      "m1/b.go" -> "m2/a.go",   // base row survives untouched
      "m1/a.go" -> "m2/a.go",
      "m2/a.go" -> "m3/a.go"))
    val scratch = pathEdges(
      LinkIndex.edgesOf(LinkIndex.nodesOf(Incremental.readMergedDocs(spark, outPaths.root))),
      outPaths.root)
    assert(merged === scratch, "stored newest-wins drifted from the from-scratch derivation")
  }

  test("replayed batch writes a valid empty delta layer") {
    val replay = IndexPaths(s"$root/replay")
    Incremental.addBatch(spark, outPaths, corpusOf(add), replay)
    assert(Files.exists(Paths.get(s"${replay.edgesDir}/_SUCCESS")))
    assert(LinkIndex.readLayerEdges(spark, replay.edgesDir).count() === 0L)
    val merged = pathEdges(LinkIndex.readMergedEdges(spark, replay.root), replay.root)
    assert(merged.size === 4, s"replay changed the merged relation: $merged")
  }

  test("compaction folds edges to one exact layer") {
    val cRoot = s"$root/compacted"
    Incremental.compact(spark, outPaths.root, Some(cRoot))
    val snap = Snapshots.read(cRoot).get
    assert(snap.layers.size === 1)
    val got = pathEdges(LinkIndex.readMergedEdges(spark, cRoot), cRoot)
    assert(got === Set(
      "m0/b.go" -> "m1/a.go", "m1/b.go" -> "m2/a.go",
      "m1/a.go" -> "m2/a.go", "m2/a.go" -> "m3/a.go"))
  }
}
