package graft

import graft.index.{Incremental, IndexBuilder, IndexPaths, Snapshots}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Delta-layer invariants of the incremental add (SURVEY.md §2.4 J1/J2 +
  * the LSM layout):
  *
  *  1. base segments FILES are byte-identical after an add — a delta
  *     never rewrites, decodes, or re-encodes base postings;
  *  2. the delta layer holds ONLY the fresh docs' postings: its terms, the
  *     doc ids decoded from its segments, and its Σ df;
  *  3. the layered read-back (the J2 merge view) equals a from-scratch
  *     full build's byte for byte, no root (a compacted one included)
  *     holds a materialized `index/` or a `fast/`,
  *     and the stats equal the full build's exactly (token-bearing
  *     docs only, dead docs excluded — P7); the delta docs sidecar's dl
  *     agrees with its postings' dl;
  *  4. replaying the same batch on the merged root is a no-op delta
  *     (J1 idempotency, incl. zero-token docs' dl=0 lineage rows);
  *  5. a failed add (a duplicate key) names the fault and releases what
  *     it persisted;
  *  6. a root whose layers record an older format is refused, and the
  *     base rebuild plus a re-add serve it again.
  */
class IncrementalDeltaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = "target/graft-index/test-delta"

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

  private def fileBytes(dir: String): Map[String, Long] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap

  private def fileSha(dir: String): Map[String, String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        p.toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap

  private def decodeCounts(df: DataFrame): Map[String, (Long, Long)] =
    df.select("term", "postings", "dls").collect().map { r =>
      val (ids, tfs, _) = graft.index.Postings.decode(
        r.getAs[Array[Byte]]("postings"), r.getAs[Array[Byte]]("dls"))
      r.getString(0) -> ((ids.length.toLong, tfs.map(_.toLong).sum))
    }.toMap

  test("delta add: base files untouched, delta terms only, merged == full rebuild, replay no-op") {
    val base = Seq(
      doc("a.go", "alpha beta gamma alpha"),
      doc("b.go", "beta delta"),
      doc("dead.go", "!!! ??? ..."))          // zero-token doc: dl=0 lineage row
    val add = Seq(
      doc("a.go", "alpha beta gamma alpha"),  // overlap: must be J1-filtered
      doc("c.go", "beta epsilon"),
      doc("dead2.go", "###"))                 // fresh zero-token doc

    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    IndexBuilder.build(spark, corpusOf(base), basePaths, buildArgs = "delta-spec-base")
    val baseShas = fileSha(basePaths.segmentsDir)

    // (base ++ add).distinct: the engine contract is a key-deduped corpus
    // (Corpus.corpus dedups upstream); the a.go overlap still exercises J1.
    val stats = Incremental.addBatch(spark, basePaths, corpusOf((base ++ add).distinct), outPaths)

    // 1. untouched base files byte-identical
    assert(fileSha(basePaths.segmentsDir) === baseShas)

    // 2. delta layer holds only the fresh docs' terms
    val deltaTerms = spark.read.parquet(outPaths.segmentsDir).select("term")
      .collect().map(_.getString(0)).toSet
    assert(deltaTerms === Set("beta", "epsilon"))

    // 2b. ... and only the fresh docs' postings: every doc id decoded from
    // its segments is a fresh doc, and the segments' Σ df is the number of
    // fresh (doc, term) pairs
    val freshDocs = graft.corpus.Corpus.withDocId(corpusOf(add))
      .filter(col("path").isin("c.go", "dead2.go"))
    val freshIds = freshDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    def decodedIds(df: DataFrame): Seq[Long] = df.select("postings", "dls").collect().toSeq.flatMap { r =>
      graft.index.Postings.decode(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))._1.toSeq
    }
    val segments = spark.read.schema(IndexBuilder.SegmentsSchema).parquet(outPaths.segmentsDir)
    assert(decodedIds(segments).nonEmpty && decodedIds(segments).forall(freshIds))
    assert(segments.agg(sum("df")).head().getLong(0) ===
      graft.tokenize.Tokenizer.termFreqsWithDl(freshDocs).count())

    // 3a. merged view == the from-scratch full build's view, decoded and
    // byte for byte; the view is computed, so no layer root holds index/.
    // Fast lists are ranked by the reader and the link graph is a view over
    // the docs, so no build, add or compaction root holds fast/ or edges/
    // either
    val fullPaths = IndexPaths(s"$root/full")
    IndexBuilder.build(spark, corpusOf((base ++ add).distinct), fullPaths, buildArgs = "delta-spec-full")
    val mergedView = Incremental.readMergedIndex(spark, outPaths.root)
    val fullView = Incremental.readMergedIndex(spark, fullPaths.root)
    val full = decodeCounts(fullView)
    assert(decodeCounts(mergedView) === full)
    val differing = PostingRows.differingKeys(PostingRows.of(mergedView, Seq("term"), PostingRows.Columns),
      PostingRows.of(fullView, Seq("term"), PostingRows.Columns))
    assert(differing.isEmpty, s"${differing.size} terms' rows differ from the full build's view: $differing")
    val compacted = IndexPaths(s"$root/compacted")
    Incremental.compact(spark, outPaths.root, Some(compacted.root))
    Seq(basePaths, outPaths, fullPaths, compacted).foreach { p =>
      assert(!Files.exists(Paths.get(p.indexDir)), s"${p.root} holds an index/ dir")
      assert(!Files.exists(Paths.get(p.fastDir)), s"${p.root} holds a fast/ dir")
      assert(!Files.exists(Paths.get(p.edgesDir)), s"${p.root} holds an edges/ dir")
    }

    // 3b. stats count token-bearing docs only (2 base + 1 fresh; dead docs
    // excluded), and equal the full build's exactly
    assert(stats.nDocs === 3)
    val fullStats = IndexBuilder.readStats(fullPaths).get
    assert(stats.copy(version = 0) === fullStats.copy(version = 0))

    // 3c. fresh zero-token doc landed in the delta docs sidecar with dl=0
    val deadRows = spark.read.parquet(outPaths.docsDir)
      .filter(col("path") === "dead2.go").select("dl").collect()
    assert(deadRows.map(_.getLong(0)).toSeq === Seq(0L))

    // 3d. each fresh doc's sidecar dl is the dl its postings carry (the
    // sidecar counts tokens in its own pass over the content), and the
    // zero-token doc, which has no postings, keeps dl = 0
    val sidecarDl = spark.read.schema(IndexBuilder.DocsSchema).parquet(outPaths.docsDir)
      .select("doc_id", "dl").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val postingDl = segments.select("postings", "dls").collect().toSeq.flatMap { r =>
      val (ids, _, dls) = graft.index.Postings.decode(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
      ids.toSeq.zip(dls.toSeq)
    }.toMap
    assert(sidecarDl.keySet === freshIds)
    assert(postingDl.nonEmpty && postingDl.forall { case (id, dl) => sidecarDl(id) == dl },
      s"sidecar dl $sidecarDl disagrees with the postings' dl $postingDl")
    assert((freshIds -- postingDl.keySet).map(sidecarDl) === Set(0L))

    // 4. replay the same batch against the merged root: no fresh docs
    // (dead2.go's dl=0 lineage row blocks re-admission), empty delta,
    // unchanged stats.
    val out2 = IndexPaths(s"$root/out2")
    val stats2 = Incremental.addBatch(spark, outPaths, corpusOf((base ++ add).distinct), out2)
    assert(stats2 === stats.copy(version = stats2.version))
    assert(spark.read.schema(IndexBuilder.SegmentsSchema).parquet(out2.segmentsDir).count() === 0)
    assert(decodeCounts(Incremental.readMergedIndex(spark, out2.root)) === full)
    assert(Snapshots.read(out2.root).get.version === 3)

    // 5. a batch with two rows of one (repo, path, commit) key: the error
    // that reaches the caller, through Spark's wrapping, names the fault,
    // and the failed add releases every relation it persisted
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val dup = intercept[Exception](Incremental.addBatch(spark, basePaths,
      corpusOf(base ++ Seq(doc("e.go", "beta zeta"), doc("e.go", "beta eta"))), IndexPaths(s"$root/dup")))
    val messages = Iterator.iterate[Throwable](dup)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).toSeq
    assert(messages.exists(m => m.contains("duplicate doc_id") &&
      m.contains("two input rows share one (repo, path, commit) key")), messages.mkString("\n"))
    assert(spark.sparkContext.getPersistentRDDs.size === pinned, "the failed add leaked persisted relations")
  }

  test("a layered root of an older format is refused, then rebuilt and served") {
    // an older delta layer holds each delta term's whole merged list, which
    // a summed df would count twice: every entry point must refuse it
    val base = Seq(doc("a.go", "alpha beta"), doc("b.go", "beta gamma"))
    val all = base ++ Seq(doc("c.go", "beta delta"))
    val basePaths = IndexPaths(s"$root/old-base")
    val outPaths = IndexPaths(s"$root/old-out")
    IndexBuilder.build(spark, corpusOf(base), basePaths, buildArgs = "delta-spec-old")
    Incremental.addBatch(spark, basePaths, corpusOf(all), outPaths)
    val v = IndexBuilder.FormatVersion
    Seq(basePaths, outPaths).foreach { l =>
      val p = Paths.get(l.statsPath)
      Files.writeString(p, Files.readString(p).replace(s""""version": $v""", s""""version": ${v - 1}"""))
    }
    graft.engine.IndexReader.invalidate(outPaths.root)
    val refused = intercept[IllegalStateException](Snapshots.open(outPaths.root))
    assert(refused.getMessage.contains(s"format v${v - 1}"), refused.getMessage)
    intercept[IllegalStateException](graft.engine.IndexReader.get(spark, outPaths))
    intercept[IllegalStateException](Incremental.addBatch(spark, outPaths, corpusOf(all), IndexPaths(s"$root/old-next")))
    intercept[IllegalStateException](Incremental.compact(spark, outPaths.root))

    // the build wipes and rebuilds the stale base; the add then rewrites
    // the delta at the current format, and the root serves again
    IndexBuilder.build(spark, corpusOf(base), basePaths, buildArgs = "delta-spec-old")
    Incremental.addBatch(spark, basePaths, corpusOf(all), outPaths)
    assert(Snapshots.open(outPaths.root).layers.forall(_._2.version == v))
    val hits = graft.engine.SearchApi.search(spark, outPaths, Seq("beta"), 10)
      .select("path").collect().map(_.getString(0)).toSet
    assert(hits === Set("a.go", "b.go", "c.go"))
  }
}

/** r6: the replay no-op path — re-running the SAME addBatch(base → out) must
  * skip the delta rewrite (artifact files untouched, byte-identical) while
  * publishing a fresh snapshot version; a DIFFERENT batch over the same
  * (base, out) pair must NOT be skipped (the fingerprint guard), even one
  * whose rows XOR to the same hash.
  */
class ReplayNoOpSpec extends org.scalatest.funsuite.AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import graft.index._
  import java.nio.file.{Files, Paths}
  import scala.jdk.CollectionConverters._

  private var spark: org.apache.spark.sql.SparkSession = _
  private val root = "target/graft-index/test-replay-noop"

  override def beforeAll(): Unit = {
    spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.deleteTree(root)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpusOf(rows: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (p, c) => ("repo-t", p, "c0ffee000000", "go", c) }
      .toDF("repo", "path", "commit", "lang", "content")
  }

  private def artifactShas(paths: IndexPaths): Map[String, String] =
    Seq(paths.segmentsDir, paths.docsDir)
      .flatMap { d =>
        Files.walk(Paths.get(d)).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val md = java.security.MessageDigest.getInstance("SHA-256")
            p.toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
          }
      }.toMap

  test("identical replay skips the rewrite; a different batch does not") {
    val base = Seq("a.go" -> "alpha beta gamma", "b.go" -> "beta delta epsilon")
    val add1 = base ++ Seq("c.go" -> "zeta eta theta alpha")
    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    IndexBuilder.build(spark, corpusOf(base), basePaths, buildArgs = "replay-noop-base")
    Incremental.addBatch(spark, basePaths, corpusOf(add1), outPaths)
    val v1 = Snapshots.read(outPaths.root).get.version
    val sha1 = artifactShas(outPaths)
    val mtimes1 = Files.walk(Paths.get(outPaths.segmentsDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => p.toString -> Files.getLastModifiedTime(p)).toMap

    // identical replay → rewrite skipped: same artifact bytes AND same file
    // mtimes (the phases never ran), snapshot version bumped
    Incremental.addBatch(spark, basePaths, corpusOf(add1), outPaths)
    val snap2 = Snapshots.read(outPaths.root).get
    assert(snap2.version == v1 + 1, "replay must still publish a new snapshot version")
    assert(artifactShas(outPaths) == sha1, "replay no-op must leave artifact bytes identical")
    val mtimes2 = Files.walk(Paths.get(outPaths.segmentsDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    assert(mtimes2 == mtimes1, "replay no-op must not rewrite the delta segments files")

    // a DIFFERENT batch over the same (base, out) pair must not be skipped —
    // and the served content must reflect the new batch
    val add2 = base ++ Seq("c.go" -> "zeta eta theta alpha", "d.go" -> "iota kappa")
    Incremental.addBatch(spark, basePaths, corpusOf(add2), outPaths)
    val docs = Incremental.readMergedDocs(spark, outPaths.root)
      .select("path").collect().map(_.getString(0)).toSet
    assert(docs == Set("a.go", "b.go", "c.go", "d.go"),
      s"different batch must rewrite the delta, got $docs")
  }

  test("replay fingerprint: a batch whose row hashes XOR like the last one is not a replay") {
    // X and Y differ only in where a \u0001 sits (repo/path boundary), so a
    // row hash over the \u0001-joined fields is the same for both and they
    // cancel under XOR; X2/Y2 likewise. Both batches have 3 rows whose
    // hashes XOR to h(B), and the same token counts, so the stats agree too
    val s = spark
    import s.implicits._
    def batch(rows: (String, String, String)*) = (Seq(("repo-t", "a.go", "alpha beta gamma")) ++ rows)
      .map { case (repo, path, content) => (repo, path, "c0ffee000000", "go", content) }
      .toDF("repo", "path", "commit", "lang", "content")
    val b = ("repo-t", "b.go", "seven eight")
    val basePaths = IndexPaths(s"$root/fp-base")
    val outPaths = IndexPaths(s"$root/fp-out")
    IndexBuilder.build(spark, batch(), basePaths, buildArgs = "fp-base")
    val s1 = Incremental.addBatch(spark, basePaths,
      batch(("repo-t", "x\u0001x.go", "one two"), ("repo-t\u0001x", "x.go", "one two"), b), outPaths)
    val s2 = Incremental.addBatch(spark, basePaths,
      batch(("repo-t", "y\u0001y.go", "four five"), ("repo-t\u0001y", "y.go", "four five"), b), outPaths)
    assert(s1 == s2, "fixture: both batches must give the same stats")
    def served(term: String) = graft.engine.SearchApi.search(spark, outPaths, Seq(term), 10)
      .select("path").collect().map(_.getString(0)).toSet
    assert(served("four") == Set("y\u0001y.go", "y.go") && served("one").isEmpty,
      "the second batch was skipped as a replay: the first one is still served")

    // equal pairs and NULL shifts change the fingerprint too
    def fp(rows: (String, String, String, String, String)*) =
      Incremental.fingerprint(rows.toDF("repo", "path", "commit", "lang", "content"))
    val (a, c) = (("r", "a.go", "c", "go", "x"), ("r", "c.go", "c", "go", "x"))
    val other = ("r", "b.go", "c", "go", "y")
    assert(fp(a, a, other) != fp(c, c, other))
    assert(fp(("r", "p.go", "c", null, "x")) != fp(("r", "p.go", null, "c", "x")))
  }
}
