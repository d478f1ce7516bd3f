package graft.engine

import graft.index.{IndexBuilder, Postings}
import graft.score.BM25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query execution over the built inverted index — the engine analog of the
  * reference's cache-probe query path (`api/http.go:45-67` + `FindNode`,
  * `pkg/database/relationship/dgraph.go:62-92`): never rescans the corpus,
  * reads only the posting lists of the query terms.
  *
  * Scan discipline (checked via `.explain`): the global index is partitioned
  * by term-hash bucket, so the driver pre-computes the buckets of the query
  * terms and the parquet scan prunes to those directories; the `term IN`
  * predicate additionally lands in PushedFilters. Postings decode is a
  * typed flatMap (one row per term → df rows), after which scoring is the
  * SAME Column expression tree as the naive plan — bit-identical scores.
  */
object IndexSearch {

  /** `(query_id, rank, repo, path, commit, score_r)` via the global index. */
  def topK(spark: SparkSession, sfDir: String, queries: DataFrame): DataFrame = {
    val (paths, _) = IndexBuilder.ensure(spark, sfDir)
    topKAt(spark, paths, queries)
  }

  /** Same, against an already-built (complete) index. `repoScope` restricts
    * scoring to docs of the given repos (the reference's
    * `allow_external_links`-style query-time filter, README.md:41): the
    * predicate lands on the docs-sidecar side of the join BEFORE the
    * ranking tail, so the emitted top-k is the scope's own top-k.
    */
  def topKAt(spark: SparkSession, paths: graft.index.IndexPaths, queries: DataFrame,
      repoScope: Option[Seq[String]] = None): DataFrame = {
    val reader = IndexReader.get(spark, paths)
    val stats = reader.stats
    // ONE exchange keyed the way the docs join needs it (guide §2.4): the
    // explicit doc_id repartition satisfies both the score aggregation
    // (doc_id ⊂ its grouping keys ⇒ clustered) and the subsequent join
    // against the reader's doc_id-pinned docs cache — the previous shape
    // exchanged the decoded rows on (query_id, k, doc_id) AND re-exchanged
    // + re-sorted the corpus-sized docs side on every query.
    val scored = decodedForQueries(spark, reader, queries)
      .join(broadcast(queries.select("query_id", "term", "k")), "term")
      .repartition(col("doc_id"))
      .groupBy("query_id", "k", "doc_id")
      .agg(sum(BM25.score(col("tf"), col("df"), col("dl"),
        lit(stats.nDocs), lit(stats.avgdl))).as("score"))
    val docs = scopedDocs(reader, repoScope)
    NaiveSearch.rankByKeys(scored.join(docs, "doc_id"))
  }

  /** Docs-sidecar key columns, optionally repo-scoped (scoping BEFORE the
    * rank tail — the inner join drops out-of-scope docs pre-ranking).
    */
  private def scopedDocs(reader: IndexReader, repoScope: Option[Seq[String]]): DataFrame = {
    val base = reader.docs.select("doc_id", "repo", "path", "commit")
    repoScope.fold(base)(rs => base.filter(col("repo").isin(rs.distinct: _*)))
  }

  /** Conjunctive (AND) top-k — SURVEY.md §2.7 posting-list intersection,
    * the reference's `CheckPredicate` analog (`dgraph.go:130-145`): a doc
    * scores only if it matched EVERY query term. The intersection is the
    * docId equi-join the groupBy already performs — each (term, doc)
    * contributes one row, so `count(*) == n_terms` ⇔ all terms present.
    * Queries DataFrame carries (query_id, term, k, n_terms).
    */
  def topKAndAt(spark: SparkSession, paths: graft.index.IndexPaths, queries: DataFrame,
      repoScope: Option[Seq[String]] = None): DataFrame = {
    val reader = IndexReader.get(spark, paths)
    val stats = reader.stats
    val scored = decodedForQueries(spark, reader, queries)
      .join(broadcast(queries.select("query_id", "term", "k", "n_terms")), "term")
      .repartition(col("doc_id")) // same one-exchange shape as [[topKAt]]
      .groupBy("query_id", "k", "n_terms", "doc_id")
      .agg(sum(BM25.score(col("tf"), col("df"), col("dl"),
        lit(stats.nDocs), lit(stats.avgdl))).as("score"),
        count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === col("n_terms"))
    val docs = scopedDocs(reader, repoScope)
    NaiveSearch.rankByKeys(scored.join(docs, "doc_id"))
  }

  /** Bucket-pruned scan + decode of the query terms' posting lists:
    * one row per (term, doc) with (df, tf, dl) — the shared front half of
    * the disjunctive and conjunctive plans.
    *
    * Layer-aware: each term reads exactly its newest-wins layer's row
    * ([[IndexReader.newestWins]]), so a layered (incrementally-updated) root
    * serves the same plan as a single-layer one. Decode routes through the
    * executor-local [[PostingCache]] (block-lazy handles memoized per
    * (build, layer, term)): a hot term's ~10^5-posting list is varint-
    * decoded AT MOST ONCE per executor, not once per query — this was the
    * round-2 hot-term p99 (9.1 s driver-measured vs 2.0 s WAND on the same
    * query; the fix makes steady-state index-path decode cache-resident).
    */
  private def decodedForQueries(spark: SparkSession, reader: IndexReader, queries: DataFrame): DataFrame = {
    import spark.implicits._
    val terms = queries.select("term").distinct().as[String].collect().toSeq
    decodedTermRows(spark, reader, terms, None)
  }

  /** Bucket-pruned scan + decode of the given terms' posting lists into
    * `(term, df, doc_id, tf, dl)` rows — the shared decode front end of the
    * index paths and the hybrid fast path. `wanted` (sorted docIds)
    * restricts the EMITTED rows executor-side (binary search per posting,
    * applied inside the decode flatMap) — the decode itself stays
    * cache-resident either way; the filter removes the row-explosion +
    * join + aggregation cost downstream.
    */
  private[engine] def decodedTermRows(
      spark: SparkSession, reader: IndexReader,
      terms: Seq[String], wanted: Option[Array[Long]]): DataFrame = {
    import spark.implicits._
    val tag = reader.cacheTag
    val parts = reader.newestWins(terms, _.index).map { case (layer, slice) =>
      val ord = layer.ordinal
      slice.select("term", "df", "postings", "dls", "block_dir")
        .as[(String, Long, Array[Byte], Array[Byte], Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (term, df, p, d, dir) =>
            val blocks = Postings.iterAll(PostingCache.open(s"$tag#L$ord", -1, term, df, p, d, dir))
            val rows = blocks.map { case (id, tf, dl) => (term, df, id, tf, dl) }
            wanted match {
              case Some(ids) => rows.filter(r => java.util.Arrays.binarySearch(ids, r._3) >= 0)
              case None => rows
            }
          }
        }
        .toDF("term", "df", "doc_id", "tf", "dl")
    }
    if (parts.isEmpty)
      spark.emptyDataset[(String, Long, Long, Int, Long)]
        .toDF("term", "df", "doc_id", "tf", "dl")
    else parts.reduce(_ unionByName _)
  }
}
