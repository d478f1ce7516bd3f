package graft

import graft.engine.SearchApi
import graft.queries.QuerySet
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The query-API error matrix — SURVEY.md §5.2's mapping of the reference
  * HTTP status tests (`clamber/cmd/api/http_test.go:88-154`):
  * 400 (bad request) → IllegalArgumentException; 404 (unknown root) →
  * empty result, not an error; depth clamp → k clamp; 503 (store not
  * serving) → strict open() refusal (covered by IndexResumeSpec).
  */
class SearchApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var paths: graft.index.IndexPaths = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    paths = graft.index.IndexBuilder.ensure(spark, sfDir)._1
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("empty term list rejects (400 analog: http_test.go:117-129)") {
    intercept[IllegalArgumentException](SearchApi.search(spark, paths, Nil, 10))
  }

  test("blank term rejects (400 analog)") {
    intercept[IllegalArgumentException](SearchApi.search(spark, paths, Seq("func", "  "), 10))
  }

  test("k <= 0 rejects (400 analog: http_test.go:131-141)") {
    intercept[IllegalArgumentException](SearchApi.search(spark, paths, Seq("func"), 0))
    intercept[IllegalArgumentException](SearchApi.search(spark, paths, Seq("func"), -3))
  }

  test("unknown term returns EMPTY result, not an error (404 analog: api/http.go:87-91)") {
    assert(SearchApi.search(spark, paths, Seq("zzznotfound"), 10).count() === 0)
  }

  test("oversized k clamps to MaxK (display_depth clamp, query.go:44-48)") {
    val res = SearchApi.search(spark, paths, Seq("handler_0_3"), Int.MaxValue)
    assert(res.count() >= 1) // rare term: small result, but the plan ran with clamped k
  }

  test("valid search returns at most k ranked rows with the pinned columns") {
    val res = SearchApi.search(spark, paths, Seq("func", "buffer"), 5).collect()
    assert(res.length === 5)
    assert(res.map(_.getInt(1)).toSeq === (1 to 5))
  }

  test("repo scope: WAND inner-loop filter == shard-tail filter, and ranks are scope-local") {
    // the pruned WAND run and the exhaustive (unpruned) run both reject
    // out-of-scope candidates in the evaluation loop, ahead of the shard's
    // top-k; they must agree on the scope's own top-k
    val scope = QuerySet.scopeRepos
    val wand = SearchApi.search(spark, paths, Seq("func", "buffer"), 10, repoScope = Some(scope)).collect()
    val viaIndex = graft.engine.Wand.topKAt(spark, paths, Seq(graft.model.Query("adhoc", Seq("func", "buffer"), 10)),
      repoScope = Some(scope), mode = graft.engine.Wand.Exhaustive).collect()
    assert(wand.map(r => (r.getInt(1), r.getString(2), r.getString(3), r.getString(4))).toSeq ===
      viaIndex.map(r => (r.getInt(1), r.getString(2), r.getString(3), r.getString(4))).toSeq)
    assert(wand.nonEmpty && wand.forall(r => scope.contains(r.getString(2))),
      "scoped results must come from scoped repos only")
    assert(wand.map(_.getInt(1)).toSeq === (1 to wand.length), "ranks must be scope-local and gapless")
  }

  test("empty repo scope rejects (400 analog); scoping to an absent repo yields empty") {
    intercept[IllegalArgumentException](
      SearchApi.search(spark, paths, Seq("func"), 10, repoScope = Some(Nil)))
    assert(SearchApi.search(spark, paths, Seq("func"), 10,
      repoScope = Some(Seq("repo-does-not-exist"))).count() === 0)
  }

  test("metered search executes, returns rows + populated counters, and logs a request line") {
    val (rows, stats) = SearchApi.searchMetered(spark, paths, Seq("func", "buffer"), 5)
    assert(rows.length === 5)
    assert(stats("n_results") === 5L)
    assert(stats("candidates_evaluated") > 0L, s"no candidates counted: $stats")
    assert(stats.contains("latency_ms") && stats.contains("blocks_decoded") && stats.contains("block_skips"))
    // hot term at sf0.001 spans multiple blocks: a WARM rerun decodes none
    val (_, warm) = SearchApi.searchMetered(spark, paths, Seq("func", "buffer"), 5)
    assert(warm("blocks_decoded") === 0L, s"warm rerun re-decoded blocks: $warm")
    // AND requests meter like every other route
    val (andRows, and) = SearchApi.searchMetered(spark, paths, Seq("func", "buffer"), 5, conjunctive = true)
    assert(andRows.length === 5)
    assert(and.get("candidates_evaluated").exists(_ > 0L) && and.get("routed_wand").contains(1L),
      s"AND request not metered: $and")
  }

  test("conjunctive search returns only docs containing every term") {
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.select("repo", "path", "commit").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val keys = keySet(SearchApi.search(spark, paths, Seq("func", "handler_0_3"), 10, conjunctive = true))
    // every hit must also be a hit for the rare term alone (func is in all docs)
    val rare = keySet(SearchApi.search(spark, paths, Seq("handler_0_3"), 1000))
    assert(keys.nonEmpty && keys.subsetOf(rare))
    // conjunction with an absent term is empty
    assert(SearchApi.search(spark, paths, Seq("func", "zzznotfound"), 10, conjunctive = true).count() === 0)
    // no term in the index at all: nothing to score, still an empty result
    assert(SearchApi.search(spark, paths, Seq("zzznotfound", "zzzalsonot"), 10, conjunctive = true).count() === 0)
  }
}
