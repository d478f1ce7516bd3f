package perfbench

import graft.corpus.Corpus
import graft.engine.NaiveSearch
import graft.index.{IndexBuilder, IndexPaths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. Query answers are compared with `NaiveSearch`, the
  * full-scoring plan that shares no index code with the serving routes.
  */
object Check {

  /** One ranked hit: rank, natural key, quantized score. */
  final case class Hit(rank: Int, repo: String, path: String, commit: String, scoreR: Double)

  def hits(rows: Array[org.apache.spark.sql.Row]): Seq[Hit] =
    rows.toSeq.map(r => Hit(r.getAs[Int]("rank"), r.getAs[String]("repo"), r.getAs[String]("path"),
      r.getAs[String]("commit"), r.getAs[Double]("score_r"))).sortBy(_.rank)

  /** Counts taken straight from a corpus table, with Spark built-ins only. */
  final case class CorpusCounts(docs: Long, tokens: Long, contentBytes: Long)

  /** Counts of the rows of `corpus` stored under `baseDir`, and of all rows. */
  def corpusCounts(corpus: DataFrame, baseDir: String): (CorpusCounts, CorpusCounts) = {
    val tokens = size(filter(split(lower(col("content")), "[^a-z0-9_]+"), t => t =!= ""))
    val base = input_file_name().contains(java.nio.file.Paths.get(baseDir).toUri.getPath.stripSuffix("/") + "/")
    val r = corpus.select(tokens.as("n"), octet_length(col("content")).as("b"), base.as("base"))
      .agg(count(when(col("n") > 0 && col("base"), 1)), coalesce(sum(when(col("base"), col("n"))), lit(0L)),
        coalesce(sum(when(col("base"), col("b"))), lit(0L)),
        count(when(col("n") > 0, 1)), sum(col("n")), sum(col("b"))).head()
    (CorpusCounts(r.getLong(0), r.getLong(1), r.getLong(2)), CorpusCounts(r.getLong(3), r.getLong(4), r.getLong(5)))
  }

  /** Problems with a finished build at `paths` over a corpus with `counts`:
    * the root is complete and its stats hold the corpus's doc and token
    * counts (docs without tokens count in neither).
    */
  def buildProblems(paths: IndexPaths, counts: CorpusCounts): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (!IndexBuilder.isComplete(paths, Main.Salts)) problems += s"${paths.root}: not complete"
    val CorpusCounts(docs, tokens, _) = counts
    IndexBuilder.readStats(paths) match {
      case None => problems += s"${paths.root}: no stats"
      case Some(s) =>
        if (s.nDocs != docs) problems += s"${paths.root}: n_docs ${s.nDocs} != $docs"
        if (s.totalTokens != tokens) problems += s"${paths.root}: total_tokens ${s.totalTokens} != $tokens"
    }
    problems.result()
  }

  /** The naive answers to `qs` over `corpus`: OR queries score every doc
    * holding a query term; a repo scope keeps the scope's docs; a
    * conjunctive query keeps docs that hold every term.
    */
  def naive(spark: SparkSession, corpus: DataFrame, qs: Seq[Inputs.Q]): Map[String, Seq[Hit]] = {
    import spark.implicits._
    if (qs.isEmpty) return Map.empty
    val c = Corpus.withDocId(corpus).persist()
    try {
      // the whole query as one scoring row set, plus one row set per term of
      // each conjunctive query to find the docs that hold that term
      val rows = qs.flatMap { q =>
        q.terms.distinct.map(t => (q.id, t, q.k)) ++
          (if (q.conjunctive) q.terms.distinct.map(t => (s"${q.id}#$t", t, q.k)) else Nil)
      }
      val scored = NaiveSearch.scoreAll(c, rows.toDF("query_id", "term", "k")).persist()
      val whole = scored.filter(!col("query_id").contains("#"))
      val andQs = qs.filter(_.conjunctive)
      val conj = if (andQs.isEmpty) whole else {
        val need = andQs.map(q => (q.id, q.terms.distinct.size.toLong)).toDF("query_id", "n_terms")
        val holding = scored.filter(col("query_id").contains("#"))
          .select(substring_index(col("query_id"), "#", 1).as("query_id"), col("doc_id"))
          .groupBy("query_id", "doc_id").count()
          .join(need, "query_id")
          .filter(col("count") === col("n_terms"))
          .select("query_id", "doc_id")
        val andIds = andQs.map(_.id)
        whole.filter(!col("query_id").isin(andIds: _*))
          .unionByName(whole.join(holding, Seq("query_id", "doc_id"), "left_semi"))
      }
      val keyed = conj.join(c.select("doc_id", "repo", "path", "commit"), "doc_id")
      val scopedQs = qs.filter(_.repos.isDefined)
      val scoped = if (scopedQs.isEmpty) keyed else {
        val allowed = scopedQs.flatMap(q => q.repos.get.map(r => (q.id, r))).toDF("query_id", "repo")
        keyed.filter(!col("query_id").isin(scopedQs.map(_.id): _*))
          .unionByName(keyed.join(allowed, Seq("query_id", "repo"), "left_semi"))
      }
      val ranked = NaiveSearch.rankByKeys(scoped).collect()
      scored.unpersist()
      val byQuery = ranked.groupBy(_.getAs[String]("query_id")).map { case (q, rs) => q -> hits(rs) }
      qs.map(q => q.id -> byQuery.getOrElse(q.id, Seq.empty)).toMap
    } finally c.unpersist()
  }
}
