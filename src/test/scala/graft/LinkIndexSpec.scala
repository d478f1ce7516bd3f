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
  *     the edges of the sources whose target module's canon set gained a
  *     fresh doc — sources whose target canon is untouched, a tie included,
  *     are NOT rewritten (also as a seeded property over 3 repos);
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

  /** A node's natural key, so ties (one path, two commits) stay apart. */
  private type Key = (String, String, String)

  private def keyed(df: DataFrame, docsRoot: String): Set[(Key, Key)] = {
    val keys = Incremental.readMergedDocs(spark, docsRoot)
      .select("doc_id", "repo", "path", "commit").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    df.select("src_id", "dst_id").collect().map(r => keys(r.getLong(0)) -> keys(r.getLong(1))).toSet
  }

  /** The delta layer of `out`, and checks that its newest-wins merged
    * relation equals the from-scratch `edgesOf` over the merged docs.
    */
  private def deltaOf(out: IndexPaths): Set[(Key, Key)] = {
    val merged = keyed(LinkIndex.readMergedEdges(spark, out.root), out.root)
    val scratch = keyed(LinkIndex.edgesOf(LinkIndex.nodesOf(Incremental.readMergedDocs(spark, out.root))), out.root)
    assert(merged === scratch, s"${out.root}: stored newest-wins drifted from the from-scratch derivation")
    keyed(LinkIndex.readLayerEdges(spark, out.edgesDir), out.root)
  }

  private def row(repo: String, path: String, commit: String, content: String) =
    (repo, path, commit, "go", content)

  test("a canon tie is rewritten only when the batch joins it") {
    // module 5's canon set is a tie: two commits of m5/a.go; m4/a.go links
    // to both. The first batch only touches module 7.
    val tie = Seq(row("repo-t", "m5/a.go", "c1", "five cust_5"), row("repo-t", "m5/a.go", "c2", "five cust_5"))
    val src = ("repo-t", "m4/a.go", "c1")
    val base = tie ++ Seq(row("repo-t", "m4/a.go", "c1", "four cust_4"), row("repo-t", "m6/a.go", "c1", "six cust_6"))
    val tieBase = IndexPaths(s"$root/tie-base")
    IndexBuilder.build(spark, corpusOf(base), tieBase, buildArgs = "link-spec-tie")
    val untouched = IndexPaths(s"$root/tie-untouched")
    Incremental.addBatch(spark, tieBase, corpusOf(base :+ row("repo-t", "m7/a.go", "c1", "seven cust_7")), untouched)
    val d1 = deltaOf(untouched)
    assert(d1 === Set(("repo-t", "m6/a.go", "c1") -> (("repo-t", "m7/a.go", "c1"))),
      "only module 6 links to the new module 7; the untouched tie's sources must not be rewritten")
    assert(!d1.exists(_._1 == src))

    // a third commit at the tie path joins the canon set: m4/a.go is
    // rewritten to all three
    val joined = IndexPaths(s"$root/tie-joined")
    Incremental.addBatch(spark, tieBase, corpusOf(base :+ row("repo-t", "m5/a.go", "c3", "five cust_5")), joined)
    val d2 = deltaOf(joined)
    assert(d2.filter(_._1 == src).map(_._2) ===
      Set("c1", "c2", "c3").map(c => ("repo-t", "m5/a.go", c)))
    assert(d2.filter(_._1 == (("repo-t", "m5/a.go", "c3"))).map(_._2) === Set(("repo-t", "m6/a.go", "c1")))
    assert(d2.size === 4)
  }

  test("seeded property: the delta is the fresh edges plus the sources of changed canon sets") {
    val M = LinkIndex.CustModulus
    val repos = Seq("repo-a", "repo-b", "repo-c")
    for (seed <- Seq(7, 8)) {
      val rnd = new scala.util.Random(seed)
      // base: modules with 0-3 docs at paths p2..p8 (two commits of one
      // path at random), plus a leaf doc without a link token per repo
      val base = repos.flatMap { r =>
        (0 until M).flatMap { c =>
          val n = if (rnd.nextInt(4) == 0) 0 else 1 + rnd.nextInt(3)
          val paths = rnd.shuffle((2 to 8).toList).take(n)
          paths.flatMap { k =>
            val commits = if (rnd.nextInt(5) == 0) Seq("c1", "c2") else Seq("c1")
            commits.map(cm => row(r, f"m$c%02d/p$k.go", cm, s"mod $k cust_$c"))
          }
        } :+ row(r, "leaf.go", "c1", "no link here")
      }
      def canonPath(r: String, c: Int): Option[String] =
        base.filter(d => d._1 == r && d._5.endsWith(s"cust_$c")).map(_._2).minOption
      // the batch: per repo a canon steal, a brand-new module, a tie with
      // the incumbent canon and a doc that does not reach the canon, plus
      // a slice of the base again (J1-filtered)
      val batch = repos.flatMap { r =>
        val present = (0 until M).filter(c => canonPath(r, c).isDefined)
        val absent = (0 until M).filterNot(present.contains)
        val Seq(steal, tie, late) = rnd.shuffle(present).take(3)
        val stealK = canonPath(r, steal).get.stripPrefix(f"m$steal%02d/p").stripSuffix(".go").toInt - 1
        Seq(row(r, f"m$steal%02d/p$stealK.go", "c1", s"steal cust_$steal"),
          row(r, canonPath(r, tie).get, "c9", s"tie cust_$tie"),
          row(r, f"m$late%02d/z.go", "c1", s"late cust_$late")) ++
          absent.headOption.map(c => row(r, f"m$c%02d/p5.go", "c1", s"new cust_$c"))
      } ++ rnd.shuffle(base).take(base.size / 3)

      val b = IndexPaths(s"$root/prop-$seed/base")
      val o = IndexPaths(s"$root/prop-$seed/out")
      IndexBuilder.build(spark, corpusOf(base), b, buildArgs = s"link-spec-prop-$seed")
      Incremental.addBatch(spark, b, corpusOf(batch.distinct), o)

      // the expectation, derived here: nodes as (key, repo, cust, path)
      def nodes(rows: Seq[(String, String, String, String, String)]) = rows.flatMap { d =>
        "cust_([0-9]+)".r.findFirstMatchIn(d._5).map(m => ((d._1, d._2, d._3), d._1, m.group(1).toInt, d._2))
      }
      val baseNodes = nodes(base)
      val freshNodes = nodes(batch.distinct).filterNot(n => baseNodes.exists(_._1 == n._1))
      val all = baseNodes ++ freshNodes
      val canon = all.groupBy(n => (n._2, n._3)).map { case (g, ns) =>
        val p = ns.map(_._4).min
        g -> ns.filter(_._4 == p).map(_._1).toSet
      }
      val freshKeys = freshNodes.map(_._1).toSet
      val changed = canon.filter(_._2.exists(freshKeys)).keySet
      assert(changed.size >= 3 * repos.size, s"fixture: too few changed canon sets $changed")
      val sources = freshNodes ++ baseNodes.filter(n => changed((n._2, (n._3 + 1) % M)))
      val expected = sources.flatMap(n => canon.getOrElse((n._2, (n._3 + 1) % M), Set.empty[Key]).map(n._1 -> _)).toSet
      assert(deltaOf(o) === expected, s"seed $seed")
    }
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
