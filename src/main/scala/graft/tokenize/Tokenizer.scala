package graft.tokenize

import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The tokenizer — the engine analog of the reference's per-document link
  * extraction `FetchChildPages` (`pkg/page/page.go:64-90`): document in,
  * normalized child records out, deduped per document. The reference keeps
  * first-occurrence-only (`localProcessed`, page.go:76-78); the engine keeps
  * the occurrence count as the term frequency, which BM25 needs.
  *
  * v1 is pure built-ins (`split` + `explode` + `groupBy`) so the whole path
  * stays inside WholeStageCodegen — no UDF, no custom Generator needed.
  */
object Tokenizer {

  /** Split regex: token chars are [a-z0-9_]; everything else separates.
    * Lowercasing first ≙ the reference's URL canonicalization
    * (`pkg/page/page.go:80, 110-115`): index-time and query-time MUST apply
    * the same normalization.
    */
  val SplitRegex: String = "[^a-z0-9_]+"

  /** Normalize one query/lookup term exactly like index-time tokens.
    * Lowering is pinned to `Locale.ROOT` here and in the scan tokenizers:
    * under a Turkish default locale `"I".toLowerCase` is the dotless `ı`
    * (not a token char), while [[TokenCount]]'s UTF8String lowering of
    * ASCII content is locale-free — dl and the token count would split
    * apart. (Spark's own non-ASCII lowering still follows the default
    * locale; TokenCountParitySpec exercises the lower-into-class cases.)
    */
  def normalizeTerm(t: String): String = t.toLowerCase(Locale.ROOT)

  /** Array-of-tokens column for a content column (empties filtered). */
  def tokensCol(content: Column): Column =
    filter(split(lower(content), SplitRegex), t => t =!= "")

  /** Token COUNT column — `size(tokensCol(content))` as a single scan with
    * no array materialization ([[TokenCount]]): the regex split + filter +
    * size formulation was ~13 s of the sf0.1 build's docs-sidecar phase for
    * a value that is just "number of maximal [a-z0-9_] runs in
    * lower(content)". [[TokenizerSpec]] pins equality of the two columns.
    */
  def tokenCountCol(content: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      TokenCount(org.apache.spark.sql.GraftColumnBridge.expression(content)))

  /** Count of maximal [a-z0-9_] runs in the LOWERED string — exactly
    * `split(lower(s), SplitRegex).count(_.nonEmpty)`: splitting on maximal
    * separator runs partitions the string, and the non-empty pieces are
    * precisely the maximal token-char runs. Lowering first matters even for
    * counting (a non-ASCII char can lower INTO the token class, e.g.
    * U+212A → 'k', joining two runs), so this scans `UTF8String.toLowerCase`
    * — the same lowering `lower()` applies — byte-wise: token bytes are
    * ASCII, UTF-8 continuation/lead bytes are ≥ 0x80 and never token chars.
    */
  def countTokens(lowered: UTF8String): Int = {
    val bytes = lowered.getBytes
    var n = 0
    var inTok = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      val tok = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '_'
      if (tok && !inTok) n += 1
      inTok = tok
      i += 1
    }
    n
  }

  /** Explode a corpus (must carry `doc_id`, `content`) to term frequencies:
    * `(doc_id, term, tf)` — operator E1+A1 of SURVEY.md §2. Pure built-ins;
    * this is the oracle-shaped formulation (used by the naive plan and the
    * tokenize_tf verification query).
    */
  def termFreqs(corpusWithId: DataFrame): DataFrame =
    corpusWithId
      .select(col("doc_id"), explode(tokensCol(col("content"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Document lengths `(doc_id, dl)` = Σ tf — input to BM25 normalization. */
  def docLens(termFreqs: DataFrame): DataFrame =
    termFreqs.groupBy("doc_id").agg(sum("tf").as("dl"))

  /** Shuffle-free tf: `(doc_id, term, tf, dl)` computed entirely map-side.
    * Per-document aggregation is embarrassingly local (every occurrence of
    * a doc's tokens lives in its row), so the explode → groupBy(doc_id,
    * term) formulation above shuffles 10-100× more rows than it needs to —
    * at sf0.1×4 that is a 200 M-row exchange for a 50 M-row result. The
    * engine build path uses this; [[TokenizerSpec]] pins equality of the
    * two formulations. Tokens come from a direct scan for maximal
    * [a-z0-9_] runs of the lowered string — the same pieces
    * `Pattern.split(SplitRegex)` produces with empties dropped, without the
    * regex engine (r6: the regex split was ~60% of this path's CPU).
    */
  def termFreqsWithDl(corpusWithId: DataFrame): DataFrame = {
    val spark = corpusWithId.sparkSession
    import spark.implicits._
    corpusWithId
      .select(col("doc_id"), col("content"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (docId, content) =>
          // maximal [a-z0-9_] runs of the lowered string — identical pieces
          // to Pattern.split(SplitRegex) with empties dropped (splitting on
          // maximal separator runs partitions the string; the non-empty
          // pieces ARE the token runs), without the regex engine or the
          // token-array materialization.
          val s = content.toLowerCase(Locale.ROOT)
          val counts = new java.util.HashMap[String, Int]()
          var dl = 0L
          var i = 0
          val n = s.length
          while (i < n) {
            val c = s.charAt(i)
            if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') {
              var j = i + 1
              var cj = ' '
              while (j < n && {
                cj = s.charAt(j)
                (cj >= 'a' && cj <= 'z') || (cj >= '0' && cj <= '9') || cj == '_'
              }) j += 1
              counts.merge(s.substring(i, j), 1, (a, b) => a + b)
              dl += 1
              i = j
            } else i += 1
          }
          val d = dl
          scala.jdk.CollectionConverters.IteratorHasAsScala(counts.entrySet().iterator()).asScala
            .map(e => (docId, e.getKey, e.getValue.toLong, d))
        }
      }
      .toDF("doc_id", "term", "tf", "dl")
  }

  /** [[termFreqsWithDl]] restricted to a SMALL known term set — exactly
    * `termFreqsWithDl(c).filter(term isin wanted)` (TokenizerSpec pins it),
    * computed without building the full per-doc term map: each token run is
    * matched against the needle set in place (no substring allocation for
    * non-matching tokens, no HashMap of the whole vocabulary), while `dl`
    * still counts EVERY token. The naive BM25 plan's shape: the query terms
    * are driver-resident, and only their rows survive the very next filter.
    */
  def termFreqsRestricted(corpusWithId: DataFrame, wanted: Seq[String]): DataFrame = {
    val spark = corpusWithId.sparkSession
    import spark.implicits._
    val needles = wanted.distinct.toArray
    corpusWithId
      .select(col("doc_id"), col("content"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // needles grouped by length: a run matches by length + char compare
        val byLen = needles.groupBy(_.length)
        val maxLen = if (needles.isEmpty) 0 else needles.map(_.length).max
        it.flatMap { case (docId, content) =>
          val s = content.toLowerCase(Locale.ROOT)
          val counts = new Array[Int](needles.length)
          var dl = 0L
          var i = 0
          val n = s.length
          while (i < n) {
            val c = s.charAt(i)
            if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') {
              var j = i + 1
              var cj = ' '
              while (j < n && {
                cj = s.charAt(j)
                (cj >= 'a' && cj <= 'z') || (cj >= '0' && cj <= '9') || cj == '_'
              }) j += 1
              dl += 1
              val len = j - i
              if (len <= maxLen) byLen.get(len).foreach { cands =>
                var ci = 0
                while (ci < cands.length) {
                  val cand = cands(ci)
                  var k = 0
                  while (k < len && cand.charAt(k) == s.charAt(i + k)) k += 1
                  if (k == len) {
                    // needle index for the counts array
                    var ni = 0
                    while (needles(ni) ne cand) ni += 1
                    counts(ni) += 1
                    ci = cands.length
                  } else ci += 1
                }
              }
              i = j
            } else i += 1
          }
          val d = dl
          Iterator.range(0, needles.length)
            .filter(counts(_) > 0)
            .map(ni => (docId, needles(ni), counts(ni).toLong, d))
        }
      }
      .toDF("doc_id", "term", "tf", "dl")
  }
}

/** Scalar expression: number of tokens of a string column — a single
  * lower-then-scan pass ([[Tokenizer.countTokens]]) equal by construction
  * to `size(filter(split(lower(s), SplitRegex), t => t =!= ""))` but with
  * no regex engine, no token array, and no per-token UTF8String
  * allocations. CodegenFallback like [[graft.ops.WinnowFingerprints]]: the
  * per-row cost is the character loop, not the dispatch.
  */
final case class TokenCount(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "token_count"

  override protected def nullSafeEval(input: Any): Any =
    Tokenizer.countTokens(input.asInstanceOf[UTF8String].toLowerCase)

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): TokenCount =
    copy(child = newChild)
}
