package graft.engine

import graft.index.{IndexBuilder, Postings}
import graft.score.BM25
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
    * the result to docs of the given repos (the reference's
    * `allow_external_links`-style query-time filter, README.md:41): the
    * shard tail drops out-of-scope docs BEFORE selecting each shard's top
    * k, so the emitted top-k is the scope's own top-k. The result is local:
    * the plan has run when this returns.
    */
  def topKAt(spark: SparkSession, paths: graft.index.IndexPaths, queries: DataFrame,
      repoScope: Option[Seq[String]] = None): DataFrame = {
    val reader = IndexReader.get(spark, paths)
    ShardTail.rank(reader, scoredAt(reader, queries), repoScope)
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
    ShardTail.rank(reader, scoredAndAt(reader, queries), repoScope)
  }

  /** `(query_id, k, doc_id, salt, score)` per (query, matching doc), with
    * partition i holding exactly salt i: ONE exchange, `repartitionById` on
    * the doc's salt, which also clusters the score aggregation (salt is a
    * grouping key, so no second exchange) and lines the rows up with the
    * reader's key shards for [[ShardTail.rank]].
    */
  private[graft] def scoredAt(reader: IndexReader, queries: DataFrame): DataFrame =
    bySalt(reader, queries.select("query_id", "term", "k"))
      .groupBy("query_id", "k", "doc_id", "salt")
      .agg(sum(score(reader)).as("score"))

  /** [[scoredAt]] for the conjunctive plan: only docs holding every term. */
  private[graft] def scoredAndAt(reader: IndexReader, queries: DataFrame): DataFrame =
    bySalt(reader, queries.select("query_id", "term", "k", "n_terms"))
      .groupBy("query_id", "k", "n_terms", "doc_id", "salt")
      .agg(sum(score(reader)).as("score"), count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === col("n_terms"))

  private def score(reader: IndexReader): Column =
    BM25.score(col("tf"), col("df"), col("dl"), lit(reader.stats.nDocs), lit(reader.stats.avgdl))

  private def bySalt(reader: IndexReader, queryTerms: DataFrame): DataFrame = {
    val numSalts = reader.stats.numSalts
    decodedForQueries(reader, queryTerms)
      .join(broadcast(queryTerms), "term")
      .withColumn("salt", graft.index.TermHash.saltCol(col("doc_id"), numSalts))
      .repartitionById(numSalts, col("salt"))
  }

  /** Bucket-pruned scan + decode of the query terms' posting lists into
    * `(term, df, doc_id, tf, dl)` rows, one per (term, doc).
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
  private def decodedForQueries(reader: IndexReader, queries: DataFrame): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val tag = reader.cacheTag
    val terms = queries.select("term").distinct().as[String].collect().toSeq
    val parts = reader.newestWins(terms, _.index).map { case (layer, slice) =>
      val ord = layer.ordinal
      slice.select("term", "df", "postings", "dls", "block_dir")
        .as[(String, Long, Array[Byte], Array[Byte], Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (term, df, p, d, dir) =>
            Postings.iterAll(PostingCache.open(s"$tag#L$ord", -1, term, df, p, d, dir))
              .map { case (id, tf, dl) => (term, df, id, tf, dl) }
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
