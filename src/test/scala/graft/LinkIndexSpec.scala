package graft

import graft.index.{Incremental, IndexBuilder, IndexPaths, LinkIndex, Snapshots}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Link-graph invariants: the edge relation of a root is a view over its
  * stored docs ([[LinkIndex.readMergedEdges]]), never a stored artifact.
  *
  *  1. no build, add or compaction writes `edges/`;
  *  2. on a layered root, a fresh doc that takes a module's canon (by a
  *     smaller path, or as a brand-new module) retargets the base docs
  *     that link to it;
  *  3. compaction keeps the relation;
  *  4. a seeded property pins the view to a brute force computed here, on
  *     base, layered (a later batch ties an earlier layer's canon path),
  *     replayed and compacted roots.
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

  /** No layer of the root at `root` holds an `edges/` dir. */
  private def assertNoEdgesDir(root: String): Unit =
    Snapshots.read(root).get.layers.foreach { l =>
      assert(!Files.exists(Paths.get(l.edgesDir)), s"${l.root} holds an edges/ dir")
    }

  test("a full build writes no edges/; its edge view derives the links from the docs") {
    IndexBuilder.build(spark, corpusOf(base), basePaths, buildArgs = "link-spec-base")
    assertNoEdgesDir(basePaths.root)
    val got = pathEdges(LinkIndex.readMergedEdges(spark, basePaths.root), basePaths.root)
    assert(got === Set(
      "m0/b.go" -> "m1/b.go",   // cust_0 -> canon(cust_1)
      "m1/b.go" -> "m2/a.go"))  // cust_1 -> canon(cust_2); m2 has no target yet
  }

  test("layered edge view: a canon steal and a new module retarget base sources") {
    Incremental.addBatch(spark, basePaths, corpusOf(add), outPaths)
    assertNoEdgesDir(outPaths.root)
    val merged = pathEdges(LinkIndex.readMergedEdges(spark, outPaths.root), outPaths.root)
    assert(merged === Set(
      "m0/b.go" -> "m1/a.go",   // module-1 canon stolen by the fresh m1/a.go
      "m1/b.go" -> "m2/a.go",   // target canon untouched
      "m1/a.go" -> "m2/a.go",   // the fresh doc's own edge
      "m2/a.go" -> "m3/a.go"))  // module 3 is brand new
  }

  /** A node's natural key, so ties (one path, two commits) stay apart. */
  private type Key = (String, String, String)

  private def keyed(df: DataFrame, docsRoot: String): Set[(Key, Key)] = {
    val keys = Incremental.readMergedDocs(spark, docsRoot)
      .select("doc_id", "repo", "path", "commit").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    df.select("src_id", "dst_id").collect().map(r => keys(r.getLong(0)) -> keys(r.getLong(1))).toSet
  }

  private def row(repo: String, path: String, commit: String, content: String) =
    (repo, path, commit, "go", content)

  test("seeded property: the edge view equals a brute force on base, chained, replayed and compacted roots") {
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
      // the first batch: per repo a canon steal, a brand-new module, a tie
      // with the incumbent canon and a doc that does not reach the canon,
      // plus a slice of the base again (J1-filtered)
      val steals = repos.map { r =>
        val present = (0 until M).filter(c => canonPath(r, c).isDefined)
        val absent = (0 until M).filterNot(present.contains)
        val Seq(steal, tie, late) = rnd.shuffle(present).take(3)
        val stealK = canonPath(r, steal).get.stripPrefix(f"m$steal%02d/p").stripSuffix(".go").toInt - 1
        val stealPath = f"m$steal%02d/p$stealK.go"
        (r, steal, stealPath, Seq(row(r, stealPath, "c1", s"steal cust_$steal"),
          row(r, canonPath(r, tie).get, "c9", s"tie cust_$tie"),
          row(r, f"m$late%02d/z.go", "c1", s"late cust_$late")) ++
          absent.headOption.map(c => row(r, f"m$c%02d/p5.go", "c1", s"new cust_$c")))
      }
      val batch1 = (steals.flatMap(_._4) ++ rnd.shuffle(base).take(base.size / 3)).distinct
      // the second batch ties the canon path the first batch stole, so a
      // module's canon set spans two layers, adds a source that links to
      // it, and repeats a slice of batch 1
      val batch2 = (steals.flatMap { case (r, steal, stealPath, _) =>
        val from = (steal + M - 1) % M
        Seq(row(r, stealPath, "c8", s"tie2 cust_$steal"), row(r, f"m$from%02d/q.go", "c1", s"src cust_$from"))
      } ++ rnd.shuffle(batch1).take(batch1.size / 2)).distinct

      val b = IndexPaths(s"$root/prop-$seed/base")
      val l1 = IndexPaths(s"$root/prop-$seed/l1")
      val l2 = IndexPaths(s"$root/prop-$seed/l2")
      val replay = IndexPaths(s"$root/prop-$seed/replay")
      val compacted = s"$root/prop-$seed/compacted"
      IndexBuilder.build(spark, corpusOf(base), b, buildArgs = s"link-spec-prop-$seed")
      Incremental.addBatch(spark, b, corpusOf(batch1), l1)
      Incremental.addBatch(spark, l1, corpusOf(batch2), l2)
      Incremental.addBatch(spark, l2, corpusOf(batch2), replay)
      Incremental.compact(spark, replay.root, Some(compacted))
      assert(Snapshots.read(l2.root).get.layers.size === 3)
      assert(Snapshots.read(replay.root).get.layers.size === 4)

      // the expectation, derived here without LinkIndex: nodes as (key,
      // repo, cust, path), each link resolved to every doc at the min path
      // of the next module in its repo
      def expected(rows: Seq[(String, String, String, String, String)]): Set[(Key, Key)] = {
        val nodes = rows.groupBy(d => (d._1, d._2, d._3)).values.map(_.head).toSeq.flatMap { d =>
          "cust_([0-9]+)".r.findFirstMatchIn(d._5).map(m => ((d._1, d._2, d._3), d._1, m.group(1).toInt, d._2))
        }
        val canon = nodes.groupBy(n => (n._2, n._3)).map { case (g, ns) =>
          val p = ns.map(_._4).min
          g -> ns.filter(_._4 == p).map(_._1).toSet
        }
        nodes.flatMap(n => canon.getOrElse((n._2, (n._3 + 1) % M), Set.empty[Key]).map(n._1 -> _)).toSet
      }
      val all = base ++ batch1 ++ batch2
      val full = expected(all)
      // fixture: in every repo the stolen canon is a tie across layers 1
      // and 2, and some source links to both of its docs
      steals.foreach { case (r, steal, stealPath, _) =>
        val targets = full.filter(e => e._2._1 == r && e._2._2 == stealPath).map(_._2)
        assert(targets === Set((r, stealPath, "c1"), (r, stealPath, "c8")),
          s"seed $seed: module $steal of $r is not a linked cross-layer tie: $targets")
      }
      Seq(b.root -> expected(base), l1.root -> expected(base ++ batch1), l2.root -> full,
        replay.root -> full, compacted -> full).foreach { case (r, want) =>
        assertNoEdgesDir(r)
        assert(keyed(LinkIndex.readMergedEdges(spark, r), r) === want, s"seed $seed: $r")
      }
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
