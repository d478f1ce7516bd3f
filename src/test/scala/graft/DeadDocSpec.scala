package graft

import graft.index.{IndexBuilder, IndexPaths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** P7 dead-doc handling: a document whose content yields zero tokens (the
  * engine analog of the reference's 404 pages, `pkg/crawl/crawl.go:109-118`)
  * is recorded in the docs sidecar with its docId, lineage, and sha — but
  * produces no postings and can never be returned by a search.
  */
class DeadDocSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("zero-token doc: lineage row with dl=0, no postings, never a hit") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq(
      ("r1", "a.go", "c1", "go", "func alpha bravo"),
      ("r1", "b.go", "c2", "go", "func bravo charlie"),
      ("r1", "dead.bin", "c3", "bin", "!!! ### $$$")) // tokenizes to nothing
      .toDF("repo", "path", "commit", "lang", "content")

    val root = java.nio.file.Files.createTempDirectory("graft-dead").toString
    val paths = IndexPaths(root)
    val stats = IndexBuilder.build(sp, corpus, paths)

    // stats count only token-bearing docs (N for BM25), but the sidecar
    // records all three with the dead doc at dl=0
    assert(stats.nDocs == 2)
    val docs = sp.read.parquet(paths.docsDir)
      .select("path", "dl").as[(String, Long)].collect().toMap
    assert(docs.size == 3 && docs("dead.bin") == 0L)

    // no posting anywhere references the dead doc
    val deadId = docs.keySet // sanity
    val postings = sp.read.parquet(paths.segmentsDir).select("term").as[String].collect()
    assert(postings.nonEmpty && !postings.exists(_.isEmpty))
    val hits = graft.engine.Wand.topKAt(sp, paths, Seq(graft.model.Query("q1", Seq("bravo"), 10)),
      mode = graft.engine.Wand.Exhaustive)
      .select("path").as[String].collect()
    assert(hits.sorted.toSeq == Seq("a.go", "b.go"))
    assert(!hits.contains("dead.bin"))
  }
}
