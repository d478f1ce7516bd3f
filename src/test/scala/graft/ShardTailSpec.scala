package graft

import graft.engine.{IndexReader, NaiveSearch, QueryMetrics, ShardTail, Wand}
import graft.index.{Incremental, IndexBuilder, IndexPaths}
import graft.model.Query
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The in-shard ranking tail ([[graft.engine.ShardTail]]): every index
  * route ranks its candidates inside the salt shard by (quantized score
  * desc, repo/path/commit asc as UTF-8 bytes) and ships at most k rows per
  * (salt, query). Pins: the byte order on keys where UTF-16 order
  * disagrees, the ≤ numSalts·k bound on an all-ties query, and that
  * invalidating a reader releases every pin it made.
  */
class ShardTailSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val root = "target/graft-index/test-shard-tail"
  private val numSalts = 4

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

  private def corpusOf(rows: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (path, content) => ("repo-t", path, "c0ffee000000", "go", content) }
      .toDF("repo", "path", "commit", "lang", "content")
  }

  private def build(name: String, rows: Seq[(String, String)]): IndexPaths = {
    val paths = IndexPaths(s"$root/$name")
    IndexBuilder.build(spark, corpusOf(rows), paths, numSalts = numSalts, numBuckets = 4,
      buildArgs = s"shard-tail-$name")
    paths
  }

  private def queriesDf(qs: Seq[Query]): DataFrame = {
    val s = spark
    import s.implicits._
    qs.flatMap(q => q.terms.map(t => (q.queryId, t, q.k))).toDF("query_id", "term", "k")
  }

  private def rows(df: DataFrame): Seq[(String, Int, String, String, String, Double)] =
    df.collect().map((r: Row) => (r.getString(0), r.getInt(1), r.getString(2),
      r.getString(3), r.getString(4), r.getDouble(5))).toSeq

  // U+FF21 (one UTF-16 unit 0xFF21, UTF-8 EF BC A1) vs U+1F600 (surrogates
  // 0xD83D 0xDE00, UTF-8 F0 9F 98 80): UTF-16 puts the emoji first, UTF-8
  // puts U+FF21 first
  private val tiePaths = Seq("u/\uFF21.go", "u/\uD83D\uDE00.go", "u/a\uFF21.go",
    "u/a\uD83D\uDE00.go", "u/\uFF21\uD83D\uDE00.go", "u/\uD83D\uDE00\uFF21.go")

  // "hot" is in > FastMinDf docs (fast-listed, so hot+rare routes hybrid);
  // every doc has dl 2, so all "hot" scores tie and the six "rare" docs tie
  private lazy val orderRows: Seq[(String, String)] =
    (0 until IndexBuilder.FastMinDf.toInt).map(i => (f"f/$i%05d.go", "hot pad")) ++
      tiePaths.map(p => (p, "hot rare"))
  private lazy val orderPaths: IndexPaths = build("order", orderRows)

  private lazy val tieRows: Seq[(String, String)] = (0 until 40).map(i => (f"t/$i%02d.go", "tie tie"))
  private lazy val tiePathsRoot: IndexPaths = build("ties", tieRows)

  test("keys order by UTF-8 bytes: WAND, hybrid, AND and naive agree") {
    val utf8 = tiePaths.sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    assert(utf8 !== tiePaths.sorted, "fixture: UTF-16 and UTF-8 orders must disagree")
    val wandQ = Query("w", Seq("rare"), 10)
    val hybridQ = Query("h", Seq("hot", "rare"), 10)
    val naive = rows(NaiveSearch.topK(spark, corpusOf(orderRows),
      queriesDf(Seq(wandQ, hybridQ))))
    assert(naive.filter(_._1 == "w").map(_._4) === utf8)

    val m = QueryMetrics(spark)
    val served = rows(Wand.topKAt(spark, orderPaths, Seq(wandQ, hybridQ), Some(m)))
    assert(m.routedWand.value === 1L && m.routedHybrid.value === 1L, s"routes = ${m.snapshot}")
    assert(served === naive)

    val and = rows(Wand.topKAt(spark, orderPaths, Seq(hybridQ), mode = Wand.Conjunctive))
    assert(and === naive.filter(_._1 == "h").take(tiePaths.size))
    assert(rows(Wand.topKAt(spark, orderPaths, Seq(wandQ, hybridQ), mode = Wand.Exhaustive)) === naive)
  }

  test("heavy ties: each salt shard ships at most k rows") {
    val q = Query("all", Seq("tie"), 3)
    val m = QueryMetrics(spark)
    val served = rows(Wand.topKAt(spark, tiePathsRoot, Seq(q), Some(m)))
    assert(m.routedWand.value === 1L)
    assert(m.candidates.value === tieRows.size.toLong, "fixture: every doc must tie")
    assert(m.tailRows.value <= numSalts * q.k, s"shards shipped ${m.tailRows.value} rows for k=${q.k}")
    val naive = rows(NaiveSearch.topK(spark, corpusOf(tieRows), queriesDf(Seq(q))))
    assert(served === naive)
    assert(served.map(_._4) === tieRows.map(_._1).take(3))
  }

  test("the result schema is the one toDF gives the result tuple") {
    val s = spark
    import s.implicits._
    val tupleSchema = Seq.empty[(String, Int, String, String, String, Double)]
      .toDF("query_id", "rank", "repo", "path", "commit", "score_r").schema
    assert(ShardTail.ResultSchema === tupleSchema)
    val paths = build("schema", Seq("a.go" -> "hot rare", "b.go" -> "hot"))
    val served = Wand.topKAt(spark, paths, Seq(Query("s", Seq("hot", "rare"), 5)))
    assert(served.schema === tupleSchema)
    assert(rows(served).map(_._4) === Seq("a.go", "b.go"))
    IndexReader.invalidate(paths.root)
  }

  test("invalidate releases every pin, key shards included (1 and 2 layers)") {
    val layered = IndexPaths(s"$root/ties-2")
    Incremental.addBatch(spark, tiePathsRoot,
      corpusOf(tieRows ++ (0 until 10).map(i => (f"d/$i%02d.go", "tie hot delta"))), layered)
    val sc = spark.sparkContext
    // the layered root's base layer IS the ties root's index: a reader still
    // open on it would share (and lose) those cache entries
    IndexReader.invalidate(tiePathsRoot.root)
    Seq(orderPaths -> Seq("hot", "rare"), layered -> Seq("tie", "hot")).foreach { case (paths, andTerms) =>
      IndexReader.invalidate(paths.root)
      val before = sc.getPersistentRDDs.size
      val qs = Seq(Query("f", Seq("hot"), 5), Query("w", Seq("tie", "rare", "hot"), 5))
      Wand.topKAt(spark, paths, qs).collect()
      Wand.topKAt(spark, paths, qs, repoScope = Some(Seq("repo-t"))).collect()
      Wand.topKAt(spark, paths, qs, mode = Wand.Exhaustive).collect()
      assert(Wand.topKAt(spark, paths, Seq(Query("a", andTerms, 5)), mode = Wand.Conjunctive).count() > 0)
      assert(IndexReader.get(spark, paths).keys.getStorageLevel.isValid, "key shards are not pinned")
      assert(sc.getPersistentRDDs.size > before, "the queries pinned nothing")
      IndexReader.invalidate(paths.root)
      assert(sc.getPersistentRDDs.size === before, s"pins leaked at ${paths.root}")
    }
  }
}
