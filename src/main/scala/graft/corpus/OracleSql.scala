package graft.corpus

/** Generates the DuckDB side of every oracle check from the SAME constants
  * as the Spark plans ([[Corpus]] vocab, [[graft.score.BM25]] constants,
  * [[graft.queries.QuerySet]]), so Spark and oracle cannot drift.
  *
  * DuckDB 1.0 notes (validated against the driver's DuckDB):
  *  - every CTE is `AS MATERIALIZED` — DuckDB inlines plain CTEs and the
  *    re-expanded tokenize pipeline goes quadratic;
  *  - `sha256(x)` ≙ Spark `sha2(x, 256)` (both lowercase hex);
  *  - list indexing `(['a','b'])[i]` is 1-based like Spark `element_at`;
  *  - score quantization uses `floor(x*1e6 + 0.5)/1e6` — bit-identical
  *    float ops on both engines (Spark's `round` uses BigDecimal HALF_UP,
  *    which is NOT bit-identical to DuckDB's float rounding).
  */
object OracleSql {

  private def pickSql(vocab: Seq[String], expr: String): String =
    vocab.mkString("(['", "','", s"'])[CAST($expr AS INTEGER) + 1]")

  /** `floor(x*1e6+0.5)/1e6` — the shared score quantizer (see class doc). */
  def quant(expr: String): String = s"floor(($expr) * 1000000.0 + 0.5) / 1000000.0"

  private val kwA = pickSql(Corpus.KwA, "l_partkey % 8")
  private val kwB = pickSql(Corpus.KwB, "l_suppkey % 6")
  private val kwC = pickSql(Corpus.KwC, "(l_orderkey + l_linenumber) % 10")
  private val kwD = pickSql(Corpus.KwD, "l_partkey % 3")
  private val langSql = pickSql(Corpus.Langs, "l_partkey % 4")

  /** Mirrors [[Corpus.raw]] + [[Corpus.corpus]] dedup. */
  val corpusCte: String =
    s"""corpus AS MATERIALIZED (
       #  SELECT repo, path, commit, min(lang) AS lang, min(content) AS content FROM (
       #    SELECT
       #      'repo-' || (l_suppkey % 50) AS repo,
       #      'src/' || lower(l_returnflag) || '/' || l_orderkey || '/' || l_linenumber || '.go' AS path,
       #      substr(sha256('' || l_orderkey), 1, 12) AS commit,
       #      $langSql AS lang,
       #      repeat('func handler_' || l_orderkey || '_' || l_linenumber || ' ctx ' || $kwA || ' ' || $kwB
       #             || ' return ' || $kwC || ' ' || $kwD || ' ',
       #             CAST(1 + l_linenumber % 3 AS INTEGER))
       #        || 'package ' || $kwB || ' import ' || $kwA || ' cust_' || (o_custkey % 20) AS content
       #    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       #  ) corpus_raw
       #  GROUP BY repo, path, commit
       #)""".stripMargin('#')

  /** Token split regex — MUST equal [[graft.tokenize.Tokenizer.SplitRegex]]. */
  val splitRegex: String = "[^a-z0-9_]+"

  /** tokens / tf / doclen / stats / dfreq over the corpus — mirrors
    * [[graft.tokenize.Tokenizer]] + the corpus-stats aggregates.
    */
  val tokenCtes: String =
    s"""tokens AS MATERIALIZED (
       #  SELECT repo, path, commit,
       #         unnest(list_filter(string_split_regex(lower(content), '$splitRegex'), x -> x <> '')) AS term
       #  FROM corpus
       #),
       #tf AS MATERIALIZED (
       #  SELECT repo, path, commit, term, count(*) AS tf FROM tokens GROUP BY repo, path, commit, term
       #),
       #doclen AS MATERIALIZED (
       #  SELECT repo, path, commit, sum(tf) AS dl FROM tf GROUP BY repo, path, commit
       #),
       #stats AS MATERIALIZED (
       #  SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM doclen
       #),
       #dfreq AS MATERIALIZED (
       #  SELECT term, count(*) AS df FROM tf GROUP BY term
       #)""".stripMargin('#')

  /** The naive full-scoring BM25 top-k — the correctness oracle for every
    * query path (naive, index, WAND). k1/b literals come from
    * [[graft.score.BM25]]. Rank ties broken by (repo, path, commit) — both
    * engines compare ASCII strings bytewise, so the order is identical.
    */
  def bm25TopK(queryValuesSql: String, scopeRepos: Option[Seq[String]] = None): String = {
    val k1 = graft.score.BM25.K1
    val k1p1 = graft.score.BM25.K1Plus1
    val oneMinusB = graft.score.BM25.OneMinusB
    val b = graft.score.BM25.B
    // query-scoped corpus restriction: the predicate sits INSIDE scored,
    // before ranking, mirroring the engine's scoped WAND/docs-join filter
    // (idf/avgdl stay corpus-global on both sides — scoping restricts the
    // candidate set, not the collection statistics)
    val scopeSql = scopeRepos.fold("")(rs =>
      rs.map(r => s"'$r'").mkString("  WHERE t.repo IN (", ", ", ")\n"))
    s"""WITH $corpusCte,
       #$tokenCtes,
       #queries(query_id, term, k) AS (VALUES $queryValuesSql),
       #scored AS MATERIALIZED (
       #  SELECT q.query_id, q.k, t.repo, t.path, t.commit,
       #    sum(
       #      ln(1.0 + (CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
       #      * (CAST(t.tf AS DOUBLE) * $k1p1)
       #        / (CAST(t.tf AS DOUBLE) + $k1 * ($oneMinusB + ($b * CAST(l.dl AS DOUBLE)) / s.avgdl))
       #    ) AS score
       #  FROM queries q
       #  JOIN tf t ON t.term = q.term
       #  JOIN dfreq d ON d.term = q.term
       #  JOIN doclen l ON l.repo = t.repo AND l.path = t.path AND l.commit = t.commit
       #  CROSS JOIN stats s
       #$scopeSql  GROUP BY q.query_id, q.k, t.repo, t.path, t.commit
       #),
       #ranked AS MATERIALIZED (
       #  SELECT query_id, k, repo, path, commit, ${quant("score")} AS score_r,
       #         CAST(row_number() OVER (
       #           PARTITION BY query_id
       #           ORDER BY ${quant("score")} DESC, repo ASC, path ASC, commit ASC) AS INTEGER) AS rank
       #  FROM scored
       #)
       #SELECT query_id, rank, repo, path, commit, score_r
       #FROM ranked WHERE rank <= k
       #ORDER BY query_id, rank""".stripMargin('#')
  }

  /** Bidirectional depth-bounded BFS over the content-derived link relation
    * — mirrors [[graft.ops.Graph.reachBfs]] with a recursive CTE (`UNION`
    * dedup = the cycle guard; `min(depth)` = BFS first-discovery depth; the
    * depth predicate = the reference's `@recurse(depth: D)` bound).
    * Non-recursive CTEs stay MATERIALIZED (DuckDB inlining rule, class doc);
    * the recursive members cannot be.
    */
  def graphReachBfs(maxDepth: Int, rootRepos: Seq[String], custModulus: Int): String = {
    val reposIn = rootRepos.map(r => s"'$r'").mkString(", ")
    s"""WITH RECURSIVE $corpusCte,
       #nodes AS MATERIALIZED (
       #  SELECT repo, path, CAST(regexp_extract(content, 'cust_([0-9]+)', 1) AS INTEGER) AS cust
       #  FROM corpus
       #),
       #canon AS MATERIALIZED (
       #  SELECT repo, cust, min(path) AS path FROM nodes GROUP BY repo, cust
       #),
       #edges AS MATERIALIZED (
       #  SELECT n.repo, n.path AS src_path, c.path AS dst_path
       #  FROM nodes n JOIN canon c ON c.repo = n.repo AND c.cust = (n.cust + 1) % $custModulus
       #),
       #roots AS MATERIALIZED (
       #  SELECT repo, path FROM canon WHERE cust = 0 AND repo IN ($reposIn)
       #),
       #fwd(root_repo, root_path, path, depth) AS (
       #  SELECT repo, path, path, 0 FROM roots
       #  UNION
       #  SELECT f.root_repo, f.root_path, e.dst_path, f.depth + 1
       #  FROM fwd f JOIN edges e ON e.repo = f.root_repo AND e.src_path = f.path
       #  WHERE f.depth < $maxDepth
       #),
       #rev(root_repo, root_path, path, depth) AS (
       #  SELECT repo, path, path, 0 FROM roots
       #  UNION
       #  SELECT r.root_repo, r.root_path, e.src_path, r.depth + 1
       #  FROM rev r JOIN edges e ON e.repo = r.root_repo AND e.dst_path = r.path
       #  WHERE r.depth < $maxDepth
       #)
       #SELECT direction, root_repo, root_path, path, CAST(min(depth) AS INTEGER) AS depth FROM (
       #  SELECT 'out' AS direction, * FROM fwd
       #  UNION ALL
       #  SELECT 'in' AS direction, * FROM rev
       #) both_dirs
       #GROUP BY direction, root_repo, root_path, path
       #ORDER BY direction, root_repo, root_path, path""".stripMargin('#')
  }

  /** The full link-edge relation over the corpus, key-labeled — the oracle
    * for the edge relation of a layered root
    * ([[graft.index.LinkIndex.readMergedEdges]], a view over the links its
    * docs layers store): it must equal this from-scratch derivation
    * exactly.
    */
  def graphEdges(custModulus: Int): String =
    s"""WITH $corpusCte,
       #nodes AS MATERIALIZED (
       #  SELECT repo, path, CAST(regexp_extract(content, 'cust_([0-9]+)', 1) AS INTEGER) AS cust
       #  FROM corpus
       #),
       #canon AS MATERIALIZED (
       #  SELECT repo, cust, min(path) AS path FROM nodes GROUP BY repo, cust
       #),
       #edges AS MATERIALIZED (
       #  SELECT n.repo, n.path AS src_path, c.path AS dst_path
       #  FROM nodes n JOIN canon c ON c.repo = n.repo AND c.cust = (n.cust + 1) % $custModulus
       #)
       #SELECT repo, src_path, dst_path FROM edges
       #ORDER BY repo, src_path, dst_path""".stripMargin('#')

  /** Conjunctive (AND) BM25 top-k — same scoring, but a doc qualifies only
    * if it matched EVERY query term (`HAVING count(*) = n_terms`; terms are
    * distinct per query and tf has one row per (term, doc), so count(*) is
    * the matched-term count). §2.7 intersection / reference `CheckPredicate`.
    * `queryValuesSql` rows are (query_id, term, k, n_terms).
    */
  def bm25TopKAnd(queryValuesSql: String): String = {
    val k1 = graft.score.BM25.K1
    val k1p1 = graft.score.BM25.K1Plus1
    val oneMinusB = graft.score.BM25.OneMinusB
    val b = graft.score.BM25.B
    s"""WITH $corpusCte,
       #$tokenCtes,
       #queries(query_id, term, k, n_terms) AS (VALUES $queryValuesSql),
       #scored AS MATERIALIZED (
       #  SELECT q.query_id, q.k, t.repo, t.path, t.commit,
       #    sum(
       #      ln(1.0 + (CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
       #      * (CAST(t.tf AS DOUBLE) * $k1p1)
       #        / (CAST(t.tf AS DOUBLE) + $k1 * ($oneMinusB + ($b * CAST(l.dl AS DOUBLE)) / s.avgdl))
       #    ) AS score
       #  FROM queries q
       #  JOIN tf t ON t.term = q.term
       #  JOIN dfreq d ON d.term = q.term
       #  JOIN doclen l ON l.repo = t.repo AND l.path = t.path AND l.commit = t.commit
       #  CROSS JOIN stats s
       #  GROUP BY q.query_id, q.k, q.n_terms, t.repo, t.path, t.commit
       #  HAVING count(*) = q.n_terms
       #),
       #ranked AS MATERIALIZED (
       #  SELECT query_id, k, repo, path, commit, ${quant("score")} AS score_r,
       #         CAST(row_number() OVER (
       #           PARTITION BY query_id
       #           ORDER BY ${quant("score")} DESC, repo ASC, path ASC, commit ASC) AS INTEGER) AS rank
       #  FROM scored
       #)
       #SELECT query_id, rank, repo, path, commit, score_r
       #FROM ranked WHERE rank <= k
       #ORDER BY query_id, rank""".stripMargin('#')
  }
}
