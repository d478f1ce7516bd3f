package graft

import graft.corpus.Corpus
import graft.engine.IndexReader
import graft.index.{Incremental, IndexBuilder, IndexPaths, Postings, Snapshots}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Checkpoint/resume semantics (SURVEY.md §7 Step 3, FIXTURES.md §5):
  * kill-and-resume reproduces the identical index; re-running a completed
  * build is a no-op; querying an incomplete index is refused — the analogs
  * of the reference's idempotent upserts and depth-completeness validation.
  */
class IndexResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** Decoded logical content of the merged view, canonically ordered. */
  private def indexContent(paths: IndexPaths): Seq[(String, Seq[(Long, Int, Long)])] = {
    val sp = spark
    import sp.implicits._
    Incremental.readMergedIndex(sp, paths.root)
      .select("term", "postings", "dls")
      .as[(String, Array[Byte], Array[Byte])]
      .collect()
      .map { case (t, p, d) =>
        val (ids, tfs, dls) = Postings.decode(p, d)
        t -> ids.indices.map(i => (ids(i), tfs(i), dls(i))).toSeq
      }
      .sortBy(_._1).toSeq
  }

  /** Every file and dir under the segments, with file mtimes. */
  private def segmentListing(paths: IndexPaths): Map[String, Long] =
    Files.walk(Paths.get(paths.segmentsDir)).iterator().asScala
      .map(p => p.toString -> (if (Files.isRegularFile(p)) Files.getLastModifiedTime(p).toMillis else 0L))
      .toMap

  private def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("kill-and-resume produces the identical index; rerun is a no-op; incomplete open refused") {
    val corpus = Corpus.corpus(spark, sfDir)
    val rootA = Files.createTempDirectory("graft-resume-a").toString
    val pA = IndexPaths(rootA)
    IndexBuilder.build(spark, corpus, pA)
    assert(IndexBuilder.isComplete(pA))
    val single = indexContent(pA)
    assert(single.nonEmpty)

    // simulate a crash: lose 3 salt partitions (segments + manifests)
    Seq(2, 7, 11).foreach { s =>
      deleteTree(s"${pA.segmentsDir}/salt=$s")
      Files.deleteIfExists(Paths.get(s"${pA.manifestsDir}/salt-$s.json"))
    }
    assert(!IndexBuilder.isComplete(pA))
    intercept[IllegalStateException] { IndexBuilder.open(pA) }

    // manifests of completed salts must survive the resume untouched
    val untouchedBefore = Files.readString(Paths.get(s"${pA.manifestsDir}/salt-0.json"))

    IndexBuilder.build(spark, corpus, pA) // resume
    assert(IndexBuilder.isComplete(pA))
    assert(indexContent(pA) == single, "resumed index differs from single-shot build")
    assert(Files.readString(Paths.get(s"${pA.manifestsDir}/salt-0.json")) == untouchedBefore)

    // idempotent rerun: completed build → no segment file changes at all
    val listing = segmentListing(pA)
    IndexBuilder.build(spark, corpus, pA)
    assert(segmentListing(pA) == listing, "completed build rewrote segment files")

    deleteTree(rootA)
  }

  test("one watermark: a root without a published snapshot is refused, and the next build re-publishes it") {
    val s = spark
    import s.implicits._
    val corpus = (0 until 30).map(i => ("repo-w", f"w$i%02d.go", "c0ffee000000", "go", s"common word$i"))
      .toDF("repo", "path", "commit", "lang", "content")
    val root = Files.createTempDirectory("graft-watermark").toString
    val p = IndexPaths(root)
    IndexBuilder.build(spark, corpus, p, numSalts = 4, numBuckets = 4)
    assert(IndexBuilder.isComplete(p, numSalts = 4))

    // the state a crash between the stats write and the snapshot publish
    // leaves: every artifact and the stats on disk, no snapshot
    deleteTree(Snapshots.metadataDir(root))
    assert(IndexBuilder.readStats(p).isDefined)
    assert(!IndexBuilder.isComplete(p, numSalts = 4), "an unpublished root counts as complete")
    intercept[IllegalStateException](IndexReader.get(spark, p))
    intercept[IllegalStateException](
      Incremental.addBatch(spark, p, corpus, IndexPaths(s"$root/add")))

    // every phase is a _SUCCESS no-op: the rerun only re-publishes
    val listing = segmentListing(p)
    IndexBuilder.build(spark, corpus, p, numSalts = 4, numBuckets = 4)
    assert(IndexBuilder.isComplete(p, numSalts = 4))
    assert(Snapshots.read(root).map(_.layers) === Some(Seq(p)))
    assert(segmentListing(p) == listing, "re-publish rewrote segment files")
    assert(IndexReader.get(spark, p).layers.size === 1)
    IndexReader.invalidate(root)
    deleteTree(root)
  }

  test("cross-format resume wipes stale artifacts instead of re-stamping them") {
    // The per-phase _SUCCESS guards are schema-blind: a root built at an
    // OLDER FormatVersion has markers whose parquet lacks current columns
    // (a v6 docs sidecar has no cust, a v6 fast sidecar no doc keys), and a
    // naive resume would stamp it v7 around broken artifacts (empty stored
    // edges, NPE-ing fast route). build() must detect the version mismatch
    // — from stats.json (finished old build) or the in-flight format marker
    // — and rebuild everything from the corpus.
    val corpus = Corpus.corpus(spark, sfDir)
    val root = Files.createTempDirectory("graft-format").toString
    val p = IndexPaths(root)
    IndexBuilder.build(spark, corpus, p)
    val single = indexContent(p)

    // simulate a finished older-format build: same _SUCCESS markers on
    // disk, stats recording version-1, plus a sentinel that only survives
    // if build() trusts the stale markers
    val stale = Files.readString(Paths.get(p.statsPath))
      .replace(s""""version": ${IndexBuilder.FormatVersion}""",
        s""""version": ${IndexBuilder.FormatVersion - 1}""")
    Files.writeString(Paths.get(p.statsPath), stale)
    val sentinel = Paths.get(s"${p.docsDir}/stale-format-sentinel")
    Files.writeString(sentinel, "v6 leftovers")
    assert(!IndexBuilder.isComplete(p))

    IndexBuilder.build(spark, corpus, p)
    assert(!Files.exists(sentinel), "cross-format resume kept the stale docs sidecar")
    assert(IndexBuilder.isComplete(p))
    assert(IndexBuilder.readStats(p).get.version == IndexBuilder.FormatVersion)
    assert(indexContent(p) == single, "format-wiped rebuild differs from clean build")
    // the v7 sidecars must be real, not empty re-stamps: edges non-empty and
    // the fast sidecar readable through the CURRENT schema with doc keys
    assert(spark.read.parquet(p.edgesDir).count() > 0)
    val fastRow = spark.read.schema(IndexBuilder.FastSchema).parquet(p.fastDir)
      .filter(org.apache.spark.sql.functions.col("repos").isNotNull)
    assert(fastRow.count() > 0, "rebuilt fast sidecar lacks v7 doc-key columns")
    deleteTree(root)
  }

  test("manifest metrics reconcile with global stats (token/posting counts)") {
    val corpus = Corpus.corpus(spark, sfDir)
    val root = Files.createTempDirectory("graft-manifest").toString
    val p = IndexPaths(root)
    val stats = IndexBuilder.build(spark, corpus, p)
    val manifests = (0 until stats.numSalts).map { s =>
      Files.readString(Paths.get(s"${p.manifestsDir}/salt-$s.json"))
    }
    def num(j: String, k: String): Long =
      ("\"" + k + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(j).get.group(1).toLong
    val tokenSum = manifests.map(num(_, "token_count")).sum
    assert(tokenSum == stats.totalTokens,
      s"manifest token counts $tokenSum != corpus total ${stats.totalTokens}")
    deleteTree(root)
  }
}
