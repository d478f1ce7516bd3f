package graft

import graft.engine.{FastList, IndexReader}
import graft.index.{Incremental, IndexBuilder, IndexPaths, Postings, Snapshots}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fast lists a reader ranks at its first lookup equal a brute-force
  * top FastK: every posting of every hot term decoded from every layer's
  * segments, scored at the root's current stats, and sorted by (quantized
  * score desc, repo, path, commit as unsigned UTF-8 bytes). Covered: a
  * single-layer root, a 2-layer root (a term hot only across layers, and a
  * hot term whose base bounds are rescaled), and its compaction. The load
  * also decodes nothing into the pinned segment shards, and persists
  * nothing beyond the layer shards and the key shards.
  */
class DerivedFastListSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = "target/graft-index/test-derived-fast"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.deleteTree(root)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // "hota" and "flat" are in every base doc (hot in the base alone),
  // "hota" also in half the delta; "across" is in 2,100 docs of each
  // layer, hot only across them. 19 of 20 base docs have one length, so
  // their "flat" and "hota" scores tie in classes larger than FastK per
  // salt and the natural keys decide; some paths start with U+E000 or with
  // a supplementary character, whose UTF-16 and UTF-8 orders disagree.
  // The delta's docs are longer, so the add raises avgdl and the base
  // layer's block bounds must be scaled to keep the ties.
  private val per = 2100
  private def key(i: Int, prefix: String): (String, String) = {
    val lead = i % 7 match { case 0 => "\uE000"; case 1 => "\uD83D\uDE00"; case _ => "" }
    (Seq("repo-a", "repo-b", "repo-é")(i % 3), f"$lead$prefix$i%04d.go")
  }
  private def pads(n: Int, p: String): String = (0 until n).map(j => s" $p$j").mkString
  private val base = (0 until 4500).map { i =>
    val (repo, path) = key(i, "b")
    val content =
      if (i % 20 != 0) s"hota flat ${if (i < per) "across" else "fill"} u$i"
      else ("hota " * (1 + i % 3)) + "flat " + (if (i < per) "across " else "") + s"u$i" + pads(i % 4, "p")
    (repo, path, "c0ffee000000", "go", content)
  }
  private val delta = (0 until per).map { i =>
    val (repo, path) = key(i, "d")
    (repo, path, "c0ffee000000", "go",
      ("across " * (1 + i % 4)) + (if (i % 2 == 0) "hota " else "") + s"v$i" + pads(3 + i % 9, "q"))
  }

  private def corpusOf(rows: Seq[(String, String, String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("repo", "path", "commit", "lang", "content")
  }

  private lazy val single: IndexPaths = {
    val p = IndexPaths(s"$root/base")
    IndexBuilder.build(spark, corpusOf(base), p, numSalts = 4, numBuckets = 4, buildArgs = "derived-fast-base")
    p
  }
  private lazy val layered: IndexPaths = {
    val p = IndexPaths(s"$root/out")
    Incremental.addBatch(spark, single, corpusOf(base ++ delta), p)
    p
  }
  private lazy val compacted: IndexPaths = {
    val p = IndexPaths(s"$root/compacted")
    Incremental.compact(spark, layered.root, Some(p.root))
    p
  }

  /** A fast list as comparable sequences. */
  private def flat(f: FastList): (Long, Seq[Long], Seq[Int], Seq[Long], Seq[String], Seq[String], Seq[String]) =
    (f.df, f.ids.toSeq, f.tfs.toSeq, f.dls.toSeq, f.repos.toSeq, f.paths.toSeq, f.commits.toSeq)

  /** Every term's brute-force fast list at `root`: all of its postings
    * decoded from every layer, scored at the current stats, fully sorted,
    * cut at FastK; only terms with df ≥ FastMinDf.
    */
  private def bruteForce(root: String) = {
    val src = Snapshots.open(root)
    val (n, avgdl) = (src.stats.nDocs, src.stats.avgdl)
    val postings = src.snapshot.layers.flatMap { l =>
      spark.read.schema(IndexBuilder.SegmentsSchema).parquet(l.segmentsDir)
        .select("term", "postings", "dls").collect().toSeq.flatMap { r =>
          val (ids, tfs, dls) = Postings.decode(r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))
          ids.indices.map(i => (r.getString(0), ids(i), tfs(i), dls(i)))
        }
    }
    val keys = Incremental.readMergedDocs(spark, root).select("doc_id", "repo", "path", "commit")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    def bytesCmp(a: String, b: String) = java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    postings.groupBy(_._1).filter(_._2.size >= IndexBuilder.FastMinDf).map { case (term, ps) =>
      val df = ps.size.toLong
      val idf = Postings.idf(df, n)
      val ranked = ps.map { case (_, id, tf, dl) =>
        (graft.score.BM25.quantize(idf * Postings.tfNorm(tf, dl, avgdl)), keys(id), id, tf, dl)
      }.sortWith { (a, b) =>
        val c = Seq(java.lang.Double.compare(b._1, a._1), bytesCmp(a._2._1, b._2._1),
          bytesCmp(a._2._2, b._2._2), bytesCmp(a._2._3, b._2._3)).find(_ != 0).getOrElse(0)
        c < 0
      }.take(IndexBuilder.FastK)
      term -> (df, ranked.map(_._3), ranked.map(_._4), ranked.map(_._5.toLong),
        ranked.map(_._2._1), ranked.map(_._2._2), ranked.map(_._2._3))
    }
  }

  /** The reader's fast lists at `p` against [[bruteForce]]: the same hot
    * terms, and per term the same df and arrays in the same order.
    */
  private def assertDerived(p: IndexPaths, hot: Set[String]): Unit = {
    IndexReader.invalidate(p.root)
    val reader = IndexReader.get(spark, p)
    val want = bruteForce(p.root)
    assert(want.keySet === hot, "fixture: the hot terms")
    want.foreach { case (term, w) =>
      val got = reader.fastList(term)
      assert(got.isDefined, s"$term: no fast list")
      assert(flat(got.get) === w, s"$term: the derived fast list differs from the brute-force top FastK")
    }
    Seq("across", "hota", "u1", "q1", "zzznotfound").filterNot(hot).foreach(t =>
      assert(reader.fastList(t).isEmpty, s"$t: a fast list for a term below FastMinDf"))
    IndexReader.invalidate(p.root)
  }

  test("single-layer root: derived fast lists equal the brute-force top FastK") {
    assertDerived(single, Set("hota", "flat"))
  }

  test("2-layer root: a term hot only across layers gets the brute-force top FastK at the new stats") {
    assert(Snapshots.open(layered.root).layers.size === 2)
    val reader = IndexReader.get(spark, layered)
    assert(reader.layers.head.boundScale > 1.0, "fixture: the add must raise avgdl")
    IndexReader.invalidate(layered.root)
    assertDerived(layered, Set("hota", "flat", "across"))
  }

  test("compacted root: derived fast lists equal the brute-force top FastK and the layered root's") {
    assertDerived(compacted, Set("hota", "flat", "across"))
    val lists = Seq(layered, compacted).map { p =>
      val r = IndexReader.get(spark, p)
      Seq("hota", "flat", "across").map(t => flat(r.fastList(t).get))
    }
    assert(lists.head === lists(1))
    Seq(single, layered, compacted).foreach(p => IndexReader.invalidate(p.root))
  }

  test("the load decodes nothing into the pins and persists only the layer and key shards") {
    IndexReader.invalidate(layered.root)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val reader = IndexReader.get(spark, layered)
    assert(reader.fastList("across").isDefined)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned === (reader.layers.map(_.shards.id) :+ reader.keys.id).toSet,
      "the load persisted something besides the layer shards and the key shards")
    reader.layers.zipWithIndex.foreach { case (l, li) =>
      val memoized = l.shards.map(_.memoized).collect()
      assert(memoized.length === reader.stats.numSalts && memoized.forall(_ == 0),
        s"layer $li: the load memoized decoded sub-lists in the pinned shards: ${memoized.toSeq}")
    }
    IndexReader.invalidate(layered.root)
  }
}
