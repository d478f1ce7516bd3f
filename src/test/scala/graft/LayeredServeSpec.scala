package graft

import graft.engine.{IndexReader, NaiveSearch, QueryMetrics, Wand}
import graft.index.{Incremental, IndexBuilder, IndexPaths, Snapshots}
import graft.model.Query
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Query serving OVER the layered (incremental) index — the round-3
  * flagship: an LSM index you can't query is half an LSM index. Pins:
  *
  *  1. the exhaustive run and WAND over a layered snapshot root are rank- AND
  *     score-identical to the naive full-scoring plan on the full corpus
  *     (the reference serves queries over whatever has been upserted,
  *     `pkg/database/relationship/dgraph.go:62-92`);
  *  2. the delta batch RAISES avgdl, so the base layer's block-max bounds
  *     are stale-low and WAND is only sound through the documented
  *     `max(1, avgdl_new/avgdl_base)` rescale — this corpus would drop
  *     true hits without it;
  *  3. an EMPTY replay layer (no parquet files) is servable;
  *  4. compaction folds the snapshot back to ONE layer with exact bounds
  *     (boundScale == 1), identical query results, and segments equal to
  *     a from-scratch rebuild's row for row, byte for byte;
  *  5. per-query metrics (candidates / blocks decoded) populate;
  *  6. a term hot only across layers gets a fast list ranked by its
  *     global df;
  *  7. snapshot metadata does not depend on where the tree lives.
  */
class LayeredServeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = "target/graft-index/test-layered"

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

  // base: 40 SHORT docs; delta: 20 LONG docs → avgdl roughly quadruples,
  // so base-layer block-max bounds are stale-LOW after the add (the unsound
  // direction without the rescale). Terms: "common" has a list in both
  // layers (each holding its own layer's docs), "basetail" is base-only
  // (served from the BASE layer with scaled bounds), "deltaword" is
  // delta-only.
  // Repo "repo-m" has docs in both layers (the scoped queries' scope).
  private def baseDocs: Seq[(String, String, String, String, String)] =
    (0 until 40).map { i =>
      val tail = if (i % 3 == 0) " basetail" else ""
      val mix = if (i % 4 == 0) " mix mix" else ""
      (if (i % 4 == 1) "repo-m" else "repo-l", f"base$i%02d.go", "c0ffee000000", "go",
        s"common alpha$i beta${i % 7}$tail$mix")
    }

  private def deltaDocs: Seq[(String, String, String, String, String)] =
    (0 until 20).map { i =>
      val dw = if (i % 2 == 0) " deltaword deltaword deltaword" else ""
      val mix = if (i % 5 == 0) " mix" else ""
      val filler = (0 until 24).map(j => s"pad${(i + j) % 11}").mkString(" ")
      (if (i % 3 == 1) "repo-m" else "repo-l", f"delta$i%02d.go", "c0ffee000000", "go",
        s"common common $filler$dw$mix gamma$i")
    }

  private def corpusOf(rows: Seq[(String, String, String, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("repo", "path", "commit", "lang", "content")
  }

  private val queries: Seq[Query] = Seq(
    Query("s1", Seq("common"), 5),
    Query("s2", Seq("basetail", "deltaword"), 10),
    Query("s3", Seq("mix", "common"), 7),
    Query("s4", Seq("basetail"), 25),  // k > df: full list, base layer only
    Query("s5", Seq("nosuch"), 10),
    // CROSS-LAYER summation: "basetail" serves from the BASE layer,
    // "common" from both layers' lists, and delta docs score through the
    // delta list only — the delta's docs are correct only if they land in
    // the same salt shard as their keys (pins the delta-segments salt
    // function == the build's doc-salt function)
    Query("s6", Seq("basetail", "common"), 15))

  private def queriesDf: DataFrame = {
    val s = spark
    import s.implicits._
    queries.flatMap(q => q.terms.map(t => (q.queryId, t, q.k)))
      .toDF("query_id", "term", "k")
  }

  private def rows(df: DataFrame): Seq[(String, Int, String, String, String, Double)] =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
      r.getString(3), r.getString(4), r.getDouble(5))).toSeq.sortBy(t => (t._1, t._2))

  /** The naive answers restricted to `scope`: scored over the whole corpus
    * (scoping restricts candidates, not BM25 statistics), then ranked over
    * the scope's docs only.
    */
  private def naiveScoped(corpus: DataFrame, scope: Seq[String]) = {
    val c = graft.corpus.Corpus.withDocId(corpus)
    rows(graft.engine.NaiveSearch.rankByKeys(graft.engine.NaiveSearch.scoreAll(c, queriesDf)
      .join(c.select("doc_id", "repo", "path", "commit"), "doc_id")
      .filter(col("repo").isin(scope: _*))))
  }

  /** The postings `layer` holds for `term`, summed over its salt shards. */
  private def layerDf(layer: graft.engine.IndexLayer, term: String): Long =
    layer.shards.map { sh => val i = sh.indexOf(term); if (i >= 0) sh.count(i) else 0L }.sum().toLong

  test("layered root serves: index + WAND rank/score-identical to naive; empty layer ok; compaction exact") {
    val all = baseDocs ++ deltaDocs
    val basePaths = IndexPaths(s"$root/base")
    val outPaths = IndexPaths(s"$root/out")
    IndexBuilder.build(spark, corpusOf(baseDocs), basePaths, buildArgs = "layered-spec-base")
    Incremental.addBatch(spark, basePaths, corpusOf(all), outPaths)

    val naive = rows(graft.engine.NaiveSearch.topK(spark, corpusOf(all), queriesDf))
    assert(naive.nonEmpty)

    // 2 layers; the base layer's bounds must be rescaled (avgdl grew ~4×)
    val reader = IndexReader.get(spark, outPaths)
    assert(reader.layers.size === 2)
    assert(reader.layers(0).boundScale > 1.5,
      s"base boundScale ${reader.layers(0).boundScale} — avgdl shift not captured")
    assert(reader.layers(1).boundScale === 1.0)

    // df is the sum of a term's lists over the doc-disjoint layers; the
    // delta layer holds only the delta's docs
    val meta = reader.termMeta(Seq("basetail", "common", "deltaword", "nosuch"))
    assert(meta === Map("basetail" -> 14L, "common" -> 60L, "deltaword" -> 10L))
    assert(reader.layers.map(layerDf(_, "common")) === Seq(40L, 20L))
    assert(reader.layers.map(layerDf(_, "basetail")) === Seq(14L, 0L))

    assert(rows(Wand.topKAt(spark, outPaths, queries, mode = Wand.Exhaustive)) === naive)
    assert(rows(Wand.topKAt(spark, outPaths, queries)) === naive)

    // scoped: the key shards hold the union of both layers' docs
    val scope = Seq("repo-m")
    val scoped = naiveScoped(corpusOf(all), scope)
    assert(scoped.exists(_._4.startsWith("base")) && scoped.exists(_._4.startsWith("delta")),
      s"fixture: scoped hits must come from both layers: $scoped")
    assert(rows(Wand.topKAt(spark, outPaths, queries, repoScope = Some(scope))) === scoped)
    assert(rows(Wand.topKAt(spark, outPaths, queries, repoScope = Some(scope), mode = Wand.Exhaustive)) === scoped)

    // empty replay layer (no parquet files in its dirs) is servable, and
    // metrics accumulate on a cold WAND pass
    val out2 = IndexPaths(s"$root/out2")
    Incremental.addBatch(spark, outPaths, corpusOf(all), out2)
    assert(IndexReader.get(spark, out2).layers.size === 3)
    val m = QueryMetrics(spark)
    val viaEmpty = rows(Wand.topKAt(spark, out2, queries, Some(m)))
    assert(viaEmpty === naive)
    assert(m.candidates.value > 0, "no candidates counted")
    assert(m.blocksDecoded.value > 0, "cold pass decoded no blocks")

    // in-place compaction: single exact layer, same results, segments
    // byte-identical to a from-scratch rebuild's, old layers unreferenced
    Incremental.compact(spark, outPaths.root)
    val snap = Snapshots.read(outPaths.root).get
    assert(snap.version === 3)
    assert(snap.layers.size === 1)
    assert(!snap.layers.contains(basePaths),
      "compacted snapshot still references the base layer")
    val cReader = IndexReader.get(spark, outPaths)
    assert(cReader.layers.size === 1 && cReader.newest.boundScale === 1.0)
    assert(rows(Wand.topKAt(spark, outPaths, queries, mode = Wand.Exhaustive)) === naive)
    assert(rows(Wand.topKAt(spark, outPaths, queries)) === naive)

    val fullPaths = IndexPaths(s"$root/full")
    IndexBuilder.build(spark, corpusOf(all), fullPaths, buildArgs = "layered-spec-full")
    def segmentRows(p: IndexPaths) = PostingRows.of(
      spark.read.schema(IndexBuilder.SegmentsSchema).parquet(p.segmentsDir), Seq("salt", "term"), PostingRows.Columns)
    val compacted = segmentRows(cReader.newest.paths)
    val differing = PostingRows.differingKeys(compacted, segmentRows(fullPaths))
    assert(compacted.nonEmpty && differing.isEmpty,
      s"${differing.size} (salt, term) rows differ from the full build's, e.g. ${differing.take(3)}")
    Seq(basePaths, outPaths, out2, cReader.newest.paths, fullPaths).foreach(p =>
      assert(!Files.exists(Paths.get(p.indexDir)), s"${p.root} holds an index/ dir"))
  }

  test("3-layer root: terms winning in three layers zip into one WAND shard run, identical to naive") {
    // base: 30 short docs, every third carries "uno due tre"; add 1 brings
    // more "due" docs (a "due" list in layers 0 and 1), add 2 more "tre"
    // docs (layers 0 and 2), "uno" stays base-only (layer 0). A query on
    // all three reads sub-lists of all three layers in one zipped task.
    // Both adds are long docs: avgdl grows twice, so layers 0 and 1 both
    // serve with rescaled bounds.
    val base = (0 until 30).map { i =>
      val trio = if (i % 3 == 0) " uno due tre" else ""
      ("repo-3", f"base$i%02d.go", "c0ffee000000", "go", s"common alpha$i$trio")
    }
    def longDocs(tag: String, word: String) = (0 until 10).map { i =>
      val filler = (0 until 16).map(j => s"pad${(i + j) % 9}").mkString(" ")
      ("repo-3", f"$tag$i%02d.go", "c0ffee000000", "go",
        s"common $filler" + (if (i % 2 == 0) s" $word $word" else ""))
    }
    val add1 = longDocs("addone", "due")
    val add2 = longDocs("addtwo", "tre")
    val p0 = IndexPaths(s"$root/tri-0")
    val p1 = IndexPaths(s"$root/tri-1")
    val p2 = IndexPaths(s"$root/tri-2")
    IndexBuilder.build(spark, corpusOf(base), p0, buildArgs = "layered-spec-tri")
    Incremental.addBatch(spark, p0, corpusOf(base ++ add1), p1)
    val chainStats = Incremental.addBatch(spark, p1, corpusOf(base ++ add1 ++ add2), p2)

    val reader = IndexReader.get(spark, p2)
    assert(reader.layers.size === 3)
    assert(reader.layers(0).boundScale > 1.0 && reader.layers(1).boundScale > 1.0)
    val meta = reader.termMeta(Seq("uno", "due", "tre"))
    // one dictionary entry per distinct term of the three layers' union
    assert(reader.termDict.size === corpusDf(corpusOf(base ++ add1 ++ add2)).size)
    assert(Seq("uno", "due", "tre").map(t => reader.layers.map(layerDf(_, t))) ===
      Seq(Seq(10L, 0L, 0L), Seq(10L, 5L, 0L), Seq(10L, 0L, 5L)))
    // df summed over every layer's salt rows == a full build's df, and the
    // chain's stats (from base stats + fresh docs) == the full build's
    val pf = IndexPaths(s"$root/tri-full")
    val fullStats = IndexBuilder.build(spark, corpusOf(base ++ add1 ++ add2), pf, buildArgs = "layered-spec-tri-full")
    assert(chainStats.copy(version = 0) === fullStats.copy(version = 0))
    val fullDf = Incremental.readMergedIndex(spark, pf.root).filter(col("term").isin("uno", "due", "tre"))
      .select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fullDf.size === 3 && meta === fullDf)

    val tri = Seq(Query("t1", Seq("uno", "due", "tre"), 8), Query("t2", Seq("due", "common"), 12))
    val triDf = {
      val s = spark
      import s.implicits._
      tri.flatMap(q => q.terms.map(t => (q.queryId, t, q.k))).toDF("query_id", "term", "k")
    }
    val naive = rows(graft.engine.NaiveSearch.topK(spark, corpusOf(base ++ add1 ++ add2), triDf))
    // the top hits of t1 are base docs that match through all three layers
    assert(naive.filter(_._1 == "t1").take(3).forall(r => r._4.startsWith("base")), naive)

    val m = QueryMetrics(spark)
    assert(rows(Wand.topKAt(spark, p2, tri, Some(m))) === naive)
    assert(m.candidates.value > 0, "no candidates counted")
    assert(m.blocksDecoded.value > 0, "cold pass decoded no blocks")
    assert(rows(Wand.topKAt(spark, p2, tri, mode = Wand.Exhaustive)) === naive)
  }

  /** A 2-layer root over [[baseDocs]] then [[deltaDocs]]. Built once, on
    * first use.
    */
  private lazy val twoLayers: IndexPaths = {
    val basePaths = IndexPaths(s"$root/jobs-base")
    val outPaths = IndexPaths(s"$root/jobs-out")
    IndexBuilder.build(spark, corpusOf(baseDocs), basePaths, buildArgs = "layered-spec-jobs")
    Incremental.addBatch(spark, basePaths, corpusOf(baseDocs ++ deltaDocs), outPaths)
    outPaths
  }

  /** Brute-force df of every term of `corpus`, counted over its rows. */
  private def corpusDf(corpus: DataFrame): Map[String, Long] =
    graft.tokenize.Tokenizer.termFreqs(graft.corpus.Corpus.withDocId(corpus)).groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("after a reader's first lookup, termMeta runs no job for any term") {
    IndexReader.invalidate(twoLayers.root)
    val reader = IndexReader.get(spark, twoLayers)
    assert(reader.layers.size === 2)
    reader.termMeta(Seq("common")) // the first lookup loads the dictionary
    // gamma3 is delta-only and alpha7 base-only
    val (deltaOnly, deltaJobs, _, _) = SparkWork(spark)(reader.termMeta(Seq("gamma3")))
    assert(deltaOnly === Map("gamma3" -> 1L))
    assert(deltaJobs === 0, s"a delta-only term ran $deltaJobs jobs")
    val (baseOnly, baseJobs, _, _) = SparkWork(spark)(reader.termMeta(Seq("alpha7")))
    assert(baseOnly === Map("alpha7" -> 1L))
    assert(baseJobs === 0, s"a base-only term ran $baseJobs jobs")
    // mix has lists in both layers (10 base + 4 delta docs), nosuch none
    val (both, bothJobs, _, _) = SparkWork(spark)(reader.termMeta(Seq("mix", "gamma5", "nosuch")))
    assert(both === Map("mix" -> 14L, "gamma5" -> 1L))
    assert(bothJobs === 0, s"a batch of terms ran $bothJobs jobs")
    IndexReader.invalidate(twoLayers.root)
  }

  test("the dictionary is exact on a layered root: termMeta == brute-force corpus df") {
    val reader = IndexReader.get(spark, twoLayers)
    val want = corpusDf(corpusOf(baseDocs ++ deltaDocs))
    // which salts hold each term's postings, over both layers
    val salts = reader.shards.flatMap(sh => sh.entries.map(_._1 -> sh.salt)).collect()
      .groupMapReduce(_._1)(e => Set(e._2))(_ ++ _)
    // the most frequent term whose postings all sit in one salt
    val singleSalt = want.keys.filter(salts(_).size == 1).toSeq.sortBy(t => (-want(t), t))
    assert(singleSalt.nonEmpty, "fixture: some term sits in one salt")
    assert(reader.layers.map(layerDf(_, "basetail")) === Seq(14L, 0L), "fixture: base-only")
    assert(reader.layers.map(layerDf(_, "deltaword")) === Seq(0L, 10L), "fixture: delta-only")
    assert(reader.layers.map(layerDf(_, "mix")) === Seq(10L, 4L), "fixture: in both layers")
    val probes = Seq("basetail", "deltaword", "mix", singleSalt.head)
    assert(reader.termMeta(probes :+ "nosuch") === probes.map(t => t -> want(t)).toMap)
    // and every term of the corpus, with nothing else in the dictionary
    assert(reader.termMeta(want.keys.toSeq) === want)
    assert(reader.termDict.size === want.size)
    IndexReader.invalidate(twoLayers.root)
  }

  test("addBatchCompacting bounds the layer count and keeps query identity") {
    val basePaths = IndexPaths(s"$root/pol-base")
    IndexBuilder.build(spark, corpusOf(baseDocs), basePaths, buildArgs = "policy-base")
    // first add: 2 layers ≤ maxLayers=2 → stays layered
    val o1 = IndexPaths(s"$root/pol-1")
    Incremental.addBatchCompacting(spark, basePaths, corpusOf(baseDocs ++ deltaDocs.take(10)), o1, maxLayers = 2)
    assert(Snapshots.read(o1.root).get.layers.size === 2)
    // second add: would be 3 layers > maxLayers → auto-compacts to 1
    val o2 = IndexPaths(s"$root/pol-2")
    Incremental.addBatchCompacting(spark, o1, corpusOf(baseDocs ++ deltaDocs), o2, maxLayers = 2)
    assert(Snapshots.read(o2.root).get.layers.size === 1)
    val naive = rows(graft.engine.NaiveSearch.topK(spark, corpusOf(baseDocs ++ deltaDocs), queriesDf))
    assert(rows(Wand.topKAt(spark, o2, queries)) === naive)
  }

  test("fast sidecar of a layered root ranks by the global df: a term hot only across layers gets a prefix") {
    // each layer's "hotw" list is below FastMinDf, their sum is above it;
    // the delta's docs are longer, so the base layer's bounds are rescaled
    val per = 2100
    assert(per < IndexBuilder.FastMinDf && 2 * per >= IndexBuilder.FastMinDf)
    val base = (0 until per).map(i =>
      ("repo-h", f"hb$i%04d.go", "c0ffee000000", "go", ("hotw " * (1 + i % 3)) + s"hb$i"))
    val delta = (0 until per).map(i =>
      ("repo-h", f"hd$i%04d.go", "c0ffee000000", "go",
        ("hotw " * (1 + i % 4)) + (0 until 1 + i % 9).map(j => s"pad$j").mkString(" ")))
    val bp = IndexPaths(s"$root/hot-base")
    val op = IndexPaths(s"$root/hot-out")
    IndexBuilder.build(spark, corpusOf(base), bp, buildArgs = "layered-spec-hot")
    assert(IndexReader.get(spark, bp).fastList("hotw").isEmpty, "fixture: hotw is hot in the base alone")
    Incremental.addBatch(spark, bp, corpusOf(base ++ delta), op)
    val reader = IndexReader.get(spark, op)
    assert(reader.layers.map(layerDf(_, "hotw")) === Seq(per.toLong, per.toLong))
    val fl = reader.fastList("hotw")
    assert(fl.map(_.df) === Some(2L * per), "the fast list must carry the global df")

    val q = Seq(Query("hot", Seq("hotw"), 20))
    val qDf = {
      val s = spark
      import s.implicits._
      Seq(("hot", "hotw", 20)).toDF("query_id", "term", "k")
    }
    val m = QueryMetrics(spark)
    val got = rows(Wand.topKAt(spark, op, q, Some(m)))
    assert(m.routedFast.value === 1L, s"routes: ${m.snapshot}")
    assert(got === rows(NaiveSearch.topK(spark, corpusOf(base ++ delta), qDf)))
    IndexReader.invalidate(bp.root)
    IndexReader.invalidate(op.root)
  }

  test("snapshot metadata stores relative layer roots: equal sizes under two root paths, a copied tree serves") {
    def buildAt(dir: String): Unit = {
      IndexBuilder.build(spark, corpusOf(baseDocs), IndexPaths(s"$dir/base"), buildArgs = "layered-spec-rel")
      Incremental.addBatch(spark, IndexPaths(s"$dir/base"), corpusOf(baseDocs ++ deltaDocs), IndexPaths(s"$dir/out"))
    }
    // the snapshot files and the stats (whose build_args carry the add's
    // lineage) of both layers
    def metadataSizes(dir: String): Map[String, Long] = Seq("base", "out").flatMap { layer =>
      scala.util.Using.resource(Files.list(Paths.get(s"$dir/$layer/metadata"))) { s =>
        s.iterator().asScala.map(p => s"$layer/${p.getFileName}" -> Files.size(p)).toList
      } :+ (s"$layer/stats.json" -> Files.size(Paths.get(s"$dir/$layer/stats.json")))
    }.toMap
    def batchIds(dir: String): Set[String] = Incremental.readMergedDocs(spark, s"$dir/out")
      .select("batch_id").distinct().collect().map(_.getString(0)).toSet
    val short = s"$root/rel"
    val long = s"$root/rel-under-a-much-longer-directory-name"
    buildAt(short)
    buildAt(long)
    assert(metadataSizes(short).size === 6 && metadataSizes(short) === metadataSizes(long))
    assert(batchIds(short) === batchIds(long))

    // move the tree: the copy resolves its own layers and serves
    val copy = s"$root/rel-copy"
    FileTrees.copy(short, copy)
    Bench.deleteTree(short)
    val out = IndexPaths(s"$copy/out")
    assert(Snapshots.read(out.root).get.layers === Seq(IndexPaths(s"$copy/base"), out))
    val naive = rows(NaiveSearch.topK(spark, corpusOf(baseDocs ++ deltaDocs), queriesDf))
    assert(rows(Wand.topKAt(spark, out, queries)) === naive)
    IndexReader.invalidate(out.root)
  }
}
