package graft.engine

import graft.index.IndexPaths
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The validated query entry point — the engine analog of the reference
  * API's request validation matrix (`clamber/cmd/api/http_test.go:88-154`,
  * `api/http.go:38-44`):
  *
  *  - empty / blank term list  → `IllegalArgumentException` (HTTP 400 analog)
  *  - k ≤ 0                    → `IllegalArgumentException` (HTTP 400 analog)
  *  - k above [[MaxK]]         → clamped, like the reference's
  *                               default+clamp of `display_depth`
  *                               (`pkg/query/query.go:44-48`)
  *  - unknown term             → EMPTY result, not an error (the reference
  *                               returns 404 with `results: null` for an
  *                               unreachable root, `api/http.go:87-91`)
  *  - serving a root without a published snapshot already throws from
  *    [[graft.index.Snapshots.open]] (the 503 analog).
  */
object SearchApi {

  /** Result-size clamp (the reference's display_depth default is 10). */
  val MaxK: Int = 1000

  /** Validated ad-hoc search over a built index, one [[Wand.topKAt]] call.
    * Default is OR semantics, routed per query ([[Wand.Routed]]: hot terms
    * to the v6 impact-ordered fast lists, else hybrid or block-max WAND,
    * all rank-identical to the full-scoring plan — WandSpec + the shared
    * oracle pin it). `conjunctive = true` requires every term (§2.7
    * intersection, [[Wand.Conjunctive]]) in the same shard job.
    *
    * `repoScope`: query-time corpus restriction to the given repos — the
    * engine analog of the reference's `allow_external_links` query scoping
    * (`README.md:41`, external-host links excluded at query time). Each salt
    * shard task checks a candidate's repo against its key shard inside the
    * WAND evaluation loop, so results are the scope's own top-k, not a
    * post-filtered global one. An empty scope list is a 400.
    *
    * The returned DataFrame is local: the request's Spark work has run by
    * the time this returns, and collecting it runs no further job.
    */
  def search(
      spark: SparkSession,
      paths: IndexPaths,
      terms: Seq[String],
      k: Int,
      conjunctive: Boolean = false,
      metrics: Option[QueryMetrics] = None,
      repoScope: Option[Seq[String]] = None): DataFrame = {
    if (terms == null || terms.isEmpty)
      throw new IllegalArgumentException("search: empty term list (400 analog: http_test.go:117-129)")
    if (terms.exists(t => t == null || t.trim.isEmpty))
      throw new IllegalArgumentException("search: blank term (400 analog)")
    if (k <= 0)
      throw new IllegalArgumentException(s"search: k must be >= 1, got $k (400 analog: http_test.go:131-141)")
    if (repoScope.exists(_.isEmpty))
      throw new IllegalArgumentException("search: empty repo scope (400 analog; omit the scope to search all)")
    val kk = math.min(k, MaxK)
    Wand.topKAt(spark, paths, Seq(graft.model.Query("adhoc", terms.distinct, kk)), metrics, repoScope,
      if (conjunctive) Wand.Conjunctive else Wand.Routed)
  }

  /** One search request, EXECUTED, with per-request observability — the
    * engine analog of the reference's request logging + `/metrics`
    * (`pkg/logging/http_logging.go:31-46`, `pkg/route/route.go:32`):
    * returns the collected rows plus a metrics map (latency, result count,
    * candidates evaluated, blocks decoded vs skipped), and emits one JSON
    * log line per request (request id = the reference's UID analog).
    */
  def searchMetered(
      spark: SparkSession,
      paths: IndexPaths,
      terms: Seq[String],
      k: Int,
      conjunctive: Boolean = false): (Array[org.apache.spark.sql.Row], Map[String, Long]) = {
    val m = QueryMetrics(spark)
    val t0 = System.nanoTime()
    val rows = search(spark, paths, terms, k, conjunctive, Some(m)).collect()
    val latencyMs = (System.nanoTime() - t0) / 1000000
    val reqId = java.lang.Long.toHexString(graft.index.TermHash.xxhash64(terms.mkString(" ") + t0))
    val stats = m.snapshot ++ Map("latency_ms" -> latencyMs, "n_results" -> rows.length.toLong)
    val kv = stats.toSeq.sortBy(_._1).map { case (key, v) => s""""$key":$v""" }.mkString(",")
    System.err.println(
      s"""{"graft_request":"$reqId","terms":${terms.size},"k":$k,"conjunctive":$conjunctive,$kv}""")
    (rows, stats)
  }
}
