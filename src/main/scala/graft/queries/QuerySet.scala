package graft.queries

import graft.model.Query
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fixed "reference query set" (FIXTURES.md §3) — the engine analog of
  * the reference's `/search?url=U&depth=D` queries (`pkg/query/query.go`).
  * Covers: hot term (df≈N), medium, 2/3-term OR, rare (df=1), absent term,
  * hot+rare mix, k=1, and k larger than needed. Deterministic: terms come
  * from the synthesis vocab. The rare identifier `handler_1_3` is exactly
  * one lineitem row with a matching order at sf0.001, sf0.01 and sf0.1
  * (checked with DuckDB on the test data).
  */
object QuerySet {

  val all: Seq[Query] = Seq(
    Query("q01", Seq("func"), 10),            // hot: in every doc
    Query("q02", Seq("buffer"), 10),          // medium (KwA)
    Query("q03", Seq("parser", "vector"), 10),// 2-term OR
    Query("q04", Seq("handler_1_3"), 10),     // rare identifier
    Query("q05", Seq("zzznotfound"), 10),     // absent -> empty result (the reference 404 analog)
    Query("q06", Seq("func", "handler_1_3"), 10), // hot + rare
    Query("q07", Seq("alpha"), 1),            // k = 1
    Query("q08", Seq("codec", "scan", "stream"), 15), // 3-term
    Query("q09", Seq("cust_7"), 10),          // orders-derived term (join materiality)
    Query("q10", Seq("segment", "merger"), 5))

  /** Conjunctive (AND) query set — SURVEY.md §2.7 posting-list
    * intersection, the engine analog of the reference's edge-existence
    * probe `CheckPredicate` (`pkg/database/relationship/dgraph.go:130-145`):
    * a doc qualifies only if it contains EVERY term. Covers hot∧medium,
    * medium∧medium, hot∧rare, 3-term, and hot∧absent (→ empty).
    */
  val conjunctive: Seq[Query] = Seq(
    Query("qa1", Seq("func", "buffer"), 10),
    Query("qa2", Seq("parser", "vector"), 10),
    Query("qa3", Seq("func", "handler_1_3"), 10),
    Query("qa4", Seq("codec", "scan", "stream"), 15),
    Query("qa5", Seq("func", "zzznotfound"), 10))

  /** The single-term subset — the queries eligible for the v6
    * impact-ordered fast path (plus its fallbacks: q04 rare → no fast
    * list, q05 absent → empty).
    */
  val singleTerm: Seq[Query] = all.filter(_.terms.size == 1)

  /** VALUES list for an arbitrary query subset. */
  def duckValuesFor(qs: Seq[Query]): String =
    qs.flatMap(q => q.terms.map(t => s"('${q.queryId}','$t',${q.k})")).mkString(",")

  /** Repo scope for the query-scoped search fixture (`bm25_scoped_topk`) —
    * the reference's `allow_external_links`-style query-time corpus
    * restriction (README.md:41). Three of the 50 synthesized repos.
    */
  val scopeRepos: Seq[String] = Seq("repo-7", "repo-21", "repo-35")

  /** Exploded to one row per (query_id, term, k) — the engine's query-side
    * join input (SURVEY.md J5).
    */
  def df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    all.flatMap(q => q.terms.map(t => (q.queryId, t, q.k)))
      .toDF("query_id", "term", "k")
  }

  /** Same rows as a DuckDB `VALUES` list for [[graft.corpus.OracleSql]]. */
  def duckValues: String =
    all.flatMap(q => q.terms.map(t => s"('${q.queryId}','$t',${q.k})")).mkString(",")

  /** Conjunctive VALUES list incl. n_terms. */
  def duckValuesAnd: String =
    conjunctive.flatMap(q => q.terms.distinct.map(t =>
      s"('${q.queryId}','$t',${q.k},${q.terms.distinct.size})")).mkString(",")
}
