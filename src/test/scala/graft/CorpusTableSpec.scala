package graft

import graft.corpus.{Corpus, CorpusTable}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Iceberg-style corpus SOURCE table (BASELINE.json input_hint):
  * append-without-rewrite, snapshot isolation / time travel, and the
  * atomic current-snapshot protocol. Per-snapshot CONTENTS are pinned
  * cross-engine by the `corpus_table_timetravel` oracle entry; this spec
  * pins the storage-level invariants the oracle cannot see.
  */
class CorpusTableSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def keysOf(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.select("repo", "path", "commit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("append never rewrites committed files; time travel reads each immutable snapshot") {
    val root = Files.createTempDirectory("graft-corpus-table").toString
    val full = Corpus.corpus(spark, sfDir)
    val cls = ascii(substring(col("commit"), 1, 1)) % 3

    assert(CorpusTable.currentVersion(root).isEmpty)
    assert(CorpusTable.create(spark, full.filter(cls === 0), root) == 1)

    // committed v1 data files, before any append
    val v1Files = Files.walk(Paths.get(s"$root/data/v1")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val v1Keys = keysOf(CorpusTable.read(spark, root))

    assert(CorpusTable.append(spark, full.filter(cls === 1), root) == 2)
    assert(CorpusTable.append(spark, full.filter(cls === 2), root) == 3)

    // append-without-rewrite: v1's files are byte-untouched after 2 appends
    val v1FilesAfter = Files.walk(Paths.get(s"$root/data/v1")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    assert(v1FilesAfter == v1Files, "append rewrote committed v1 data files")

    // snapshot isolation: asOf 1 returns exactly the pre-append row set
    assert(keysOf(CorpusTable.read(spark, root, asOf = Some(1))) == v1Keys)
    // the three snapshots nest and the newest equals the full corpus
    val k1 = keysOf(CorpusTable.read(spark, root, asOf = Some(1)))
    val k2 = keysOf(CorpusTable.read(spark, root, asOf = Some(2)))
    val k3 = keysOf(CorpusTable.read(spark, root, asOf = Some(3)))
    assert(k1.subsetOf(k2) && k2.subsetOf(k3))
    assert(k3 == keysOf(full), "current snapshot must equal the full corpus")
    assert(CorpusTable.currentVersion(root).contains(3))
    // default read = current
    assert(keysOf(CorpusTable.read(spark, root)) == k3)

    // protocol errors are loud: unknown snapshot, create-over-existing
    intercept[IllegalArgumentException](CorpusTable.read(spark, root, asOf = Some(9)))
    intercept[IllegalArgumentException](CorpusTable.create(spark, full, root))

    graft.index.IndexBuilder.deleteRecursively(Paths.get(root))
  }

  test("an index built from a table snapshot equals one built from the same rows directly") {
    val root = Files.createTempDirectory("graft-corpus-table-ix").toString
    val full = Corpus.corpus(spark, sfDir)
    val cls = ascii(substring(col("commit"), 1, 1)) % 3
    CorpusTable.create(spark, full.filter(cls === 0), root)
    CorpusTable.append(spark, full.filter(cls =!= 0), root)

    // the engine consumes the TABLE as its source: build over read(asOf=1)
    // while the table has already moved on to v2 (the crawl-while-building
    // shape); the result must equal a build over the same rows read directly
    val ixA = graft.index.IndexPaths(Files.createTempDirectory("graft-ct-a").toString)
    val ixB = graft.index.IndexPaths(Files.createTempDirectory("graft-ct-b").toString)
    graft.index.IndexBuilder.build(spark,
      CorpusTable.read(spark, root, asOf = Some(1)), ixA, persistCorpus = false)
    graft.index.IndexBuilder.build(spark, full.filter(cls === 0), ixB)

    def content(p: graft.index.IndexPaths) = {
      val sp = spark
      import sp.implicits._
      graft.index.Incremental.readMergedIndex(sp, p.root).select("term", "df", "sum_tf")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(content(ixA) == content(ixB),
      "index built from the snapshot diverged from one built from the same rows")

    Seq(root, ixA.root, ixB.root).foreach(r =>
      graft.index.IndexBuilder.deleteRecursively(Paths.get(r)))
  }
}
