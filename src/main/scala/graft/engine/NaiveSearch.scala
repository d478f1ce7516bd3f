package graft.engine

import graft.corpus.Corpus
import graft.score.BM25
import graft.tokenize.Tokenizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The naive full-scoring BM25 top-k plan — SURVEY.md §7 Step 1.
  *
  * This is the engine's correctness oracle: logically identical to the
  * DuckDB SQL in [[graft.corpus.OracleSql.bm25TopK]] (rank identity is
  * pinned by the shared oracle hash). The index and WAND paths must match
  * it rank-for-rank (the north rule's rank-identity criterion).
  *
  * Plan shape (scale notes, 1000-executor reasoning):
  *  - ONE corpus pass feeds everything: the synthesized corpus is persisted
  *    once; tf comes from the spec-pinned map-side tokenizer
  *    ([[Tokenizer.termFreqsWithDl]], TokenizerSpec pins equality with the
  *    explode+groupBy formulation) so no token-explosion shuffle exists;
  *  - the query-term set is driver-resident by contract (a query is a
  *    handful of terms), so the tf relation is filtered to query-term rows
  *    BEFORE any exchange — df for the query terms aggregates over those
  *    same rows (guide §2.3: project/filter before the exchange);
  *  - corpus stats (N, avgdl) come from a single token-count scan of the
  *    cached corpus (dl = Σ tf per doc ≡ token count; integer-valued
  *    doubles, so any summation order gives the bit-identical avg);
  *  - query terms and the query-restricted df table broadcast (SURVEY.md
  *    J5): no shuffle of the tf relation on `term` at query time.
  */
object NaiveSearch {

  /** Scores every (query, doc) pair for the given query rows
    * `(query_id, term, k)`; returns `(query_id, k, doc_id, score)`.
    * `corpusWithId` should be cheap to re-scan (callers pass a persisted
    * frame; [[topK]] persists it).
    */
  def scoreAll(corpusWithId: DataFrame, queries: DataFrame): DataFrame = {
    val spark = corpusWithId.sparkSession
    import spark.implicits._
    // the query-term list is tiny by contract — resolve it driver-side so
    // the tokenize output can drop non-query terms map-side (the previous
    // plan shuffled the full (doc, term) relation four ways; query-term
    // rows are typically ≪ 1% of it ... except for corpus-wide terms, which
    // no formulation can shrink)
    val qTermList = queries.select("term").distinct().as[String].collect().toSeq

    // dl ≡ Σ tf per doc ≡ token count: one cheap scan of the cached corpus
    // (TokenizerSpec pins tokenCountCol == size(tokensCol) == Σ tf), and
    // integer-valued doubles make avg() order-independent bit-exactly
    val dls = corpusWithId
      .select(Tokenizer.tokenCountCol(col("content")).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val stats = dls.agg(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"))

    // tf rows for the query terms only — the restricted tokenizer matches
    // each token run against the needle set in place (spec-pinned equal to
    // termFreqsWithDl + isin filter), so non-query tokens cost no
    // allocation; persisted because both the scoring branch and the df
    // aggregate consume it (bounded: Σ df over the query's terms)
    val tfq = Tokenizer.termFreqsRestricted(corpusWithId, qTermList)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val qTerms = queries.select("query_id", "term", "k")
    // exact per-term document frequency over the corpus (for query terms)
    val dfq = tfq.groupBy("term").agg(count(lit(1)).as("df"))

    tfq.join(broadcast(qTerms), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "k", "doc_id")
      .agg(sum(BM25.score(col("tf"), col("df"), col("dl"), col("n"), col("avgdl"))).as("score"))
  }

  /** Full oracle-shaped result: `(query_id, rank, repo, path, commit,
    * score_r)`, ranked by quantized score desc then natural key asc —
    * the pinned total order shared with DuckDB.
    */
  def topK(spark: SparkSession, corpus: DataFrame, queries: DataFrame): DataFrame = {
    // ONE persisted synthesis feeds the tf/stats scans and the keys join —
    // the previous shape persisted the exploded tf relation instead and
    // re-synthesized the corpus for the natural-key join
    val c = Corpus.withDocId(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = scoreAll(c, queries)
    rankByKeys(scored.join(c.select("doc_id", "repo", "path", "commit"), "doc_id"))
  }

  /** The naive plan's ranking tail (the index routes rank in their salt
    * shards instead, [[ShardTail]]): input must have (query_id, k, repo,
    * path, commit, score); emits the pinned oracle output shape.
    *
    * Scale shape: a k-bounded [[TopKAggExprs]] heap aggregate with map-side
    * partial aggregation — NOT a `Window.partitionBy(query_id)`, which would
    * funnel every candidate of a hot-term query through one task. The
    * exchange moves ≤ tasks×k pre-reduced rows; rank = position in the
    * aggregate's pinned (score_r desc, repo/path/commit asc) order, which is
    * exactly the oracle's `row_number()` order.
    */
  def rankByKeys(scoredWithKeys: DataFrame): DataFrame = {
    val hits = scoredWithKeys
      .groupBy("query_id")
      .agg(TopKAggExprs.topK(col("k"), BM25.quantize(col("score")),
        struct(col("repo"), col("path"), col("commit"))).as("hits"))
    // output-edge total order over ≤ Σ k rows: a single-partition sort gives
    // the same order as `orderBy` WITHOUT the range partitioner's sampling
    // job + exchange
    hits
      .select(col("query_id"), posexplode(col("hits")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.repo"), col("col.path"), col("col.commit"), col("col.score_r"))
      .coalesce(1).sortWithinPartitions("query_id", "rank")
  }
}
