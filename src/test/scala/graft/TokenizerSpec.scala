package graft

import graft.score.BM25
import org.scalatest.funsuite.AnyFunSuite

/** Table-driven tokenizer cases (FIXTURES.md §2) — the analog of the
  * reference's URL-predicate tables (`pkg/page/page_test.go:90-115`).
  * The split contract is regex-level; these run it on the JVM exactly as
  * Spark's `split` does (java.util.regex), using the shared pattern.
  */
class TokenizerSpec extends AnyFunSuite {

  private def tokens(s: String): Seq[String] =
    s.toLowerCase.split(graft.tokenize.Tokenizer.SplitRegex).filter(_.nonEmpty).toSeq

  private val cases = Seq(
    ("Foo.bar(baz)", Seq("foo", "bar", "baz")),
    ("snake_case stays one", Seq("snake_case", "stays", "one")),
    ("MixedCASE", Seq("mixedcase")),
    ("x9 digits2keep", Seq("x9", "digits2keep")),
    ("", Seq.empty),
    ("   \t\n ", Seq.empty),
    ("...leading and trailing///", Seq("leading", "and", "trailing")),
    ("a+b=c", Seq("a", "b", "c")),
    ("func handler_0_1 ctx", Seq("func", "handler_0_1", "ctx")))

  cases.foreach { case (in, want) =>
    test(s"tokenize(${in.take(20)})") { assert(tokens(in) == want) }
  }

  test("BM25 scalar path == formula (rank-identity contract pinned)") {
    // idf: N=100, df=10 → ln(1 + 90.5/10.5)
    assert(graft.index.Postings.idf(10, 100) == math.log(1.0 + (100.0 - 10.0 + 0.5) / (10.0 + 0.5)))
    // tfNorm: tf=3, dl=40, avgdl=25
    val expect = (3.0 * BM25.K1Plus1) / (3.0 + BM25.K1 * (BM25.OneMinusB + (BM25.B * 40.0) / 25.0))
    assert(graft.index.Postings.tfNorm(3, 40L, 25.0) == expect)
  }

  test("score quantizer is floor(x*1e6+0.5)/1e6") {
    assert(BM25.quantize(1.2345678) == 1.234568)
    assert(BM25.quantize(0.0) == 0.0)
    assert(BM25.quantize(0.0000004) == 0.0)
    assert(BM25.quantize(0.0000006) == 0.000001)
  }
}

/** The shuffle-free map-side tokenizer must equal the built-in
  * explode+groupBy formulation exactly (same regex engine, same filter).
  */
class TokenizerParitySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("termFreqsWithDl == termFreqs ⋈ docLens on sf0.001") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val c = graft.corpus.Corpus.withDocId(graft.corpus.Corpus.corpus(spark, "/root/testdata/sf0.001"))
      val viaBuiltins = graft.tokenize.Tokenizer.termFreqs(c)
        .join(graft.tokenize.Tokenizer.docLens(graft.tokenize.Tokenizer.termFreqs(c)), "doc_id")
        .select("doc_id", "term", "tf", "dl")
      val viaLocal = graft.tokenize.Tokenizer.termFreqsWithDl(c)
        .select("doc_id", "term", "tf", "dl")
      assert(viaLocal.exceptAll(viaBuiltins).isEmpty && viaBuiltins.exceptAll(viaLocal).isEmpty)
    } finally spark.stop()
  }
}

/** r6: the single-scan token-count expression must equal the regex
  * formulation exactly — on the synthesized corpus AND on adversarial
  * strings (empty, separators-only, runs at both ends, non-ASCII chars
  * that LOWER into the token class, e.g. Kelvin sign U+212A → 'k').
  */
class TokenCountParitySpec extends org.scalatest.funsuite.AnyFunSuite {

  test("countTokens(scalar) == regex split count on adversarial strings") {
    val cases = Seq(
      "", "   \t\n ", "abc", "..a..b..", "a+b=c", "__", "x9 digits2keep",
      "MixedCASE", "ünïcödé sep", "aKb", "K", "aİb",
      "end_with_token", ".start", "many   spaces nbsp")
    cases.foreach { s =>
      val lowered = s.toLowerCase
      val want = lowered.split(graft.tokenize.Tokenizer.SplitRegex).count(_.nonEmpty)
      val got = graft.tokenize.Tokenizer.countTokens(
        org.apache.spark.unsafe.types.UTF8String.fromString(s).toLowerCase)
      assert(got == want, s"countTokens mismatch on '$s': got $got want $want")
    }
  }

  test("tokenCountCol == size(tokensCol) on sf0.001 corpus") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import org.apache.spark.sql.functions._
      val c = graft.corpus.Corpus.corpus(spark, "/root/testdata/sf0.001")
      val diff = c.select(
        graft.tokenize.Tokenizer.tokenCountCol(col("content")).as("fast"),
        size(graft.tokenize.Tokenizer.tokensCol(col("content"))).as("slow"))
        .filter(col("fast") =!= col("slow")).count()
      assert(diff == 0L, s"$diff corpus rows disagree between tokenCountCol and size(tokensCol)")
    } finally spark.stop()
  }

  test("Turkish default locale: dl == tokenCountCol on content with I") {
    // tr lowers 'I' to the dotless U+0131, which is no token char; the
    // UTF8String lowering behind tokenCountCol is locale-free on ASCII, so
    // a default-locale scan tokenizer would split "fooIbar" in two
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      import graft.tokenize.Tokenizer
      val c = Seq((1L, "fooIbar"), (2L, "FILE_ID Ident"), (3L, "INIT(I, i)")).toDF("doc_id", "content")
      val count = c.select(col("doc_id"), Tokenizer.tokenCountCol(col("content")).cast("long"))
        .as[(Long, Long)].collect().toMap
      val dl = Tokenizer.termFreqsWithDl(c).select("doc_id", "dl").as[(Long, Long)].collect().toMap
      val dlRestricted = Tokenizer.termFreqsRestricted(c, Seq("foo", "fooibar", "file_id", "ident", "init", "i"))
        .select("doc_id", "dl").as[(Long, Long)].collect().toMap
      assert(dl === count, "termFreqsWithDl dl diverges from tokenCountCol")
      assert(dlRestricted === count, "termFreqsRestricted dl diverges from tokenCountCol")
      assert(Tokenizer.normalizeTerm("FILE_ID") === "file_id")
    } finally {
      java.util.Locale.setDefault(prev)
      spark.stop()
    }
  }
}

/** r6: the needle-restricted tokenizer must equal the full tokenize +
  * isin filter exactly (rows, tfs, and the FULL-doc dl on every row).
  */
class TokenizerRestrictedSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("termFreqsRestricted == termFreqsWithDl.filter(isin) on sf0.001") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import org.apache.spark.sql.functions.col
      val c = graft.corpus.Corpus.withDocId(graft.corpus.Corpus.corpus(spark, "/root/testdata/sf0.001"))
      // hot, medium, rare, absent, and a prefix of a real token ("func" vs
      // "fun") to catch length/compare bugs
      val wanted = Seq("func", "buffer", "handler_1_3", "zzznotfound", "fun", "cust_7")
      val full = graft.tokenize.Tokenizer.termFreqsWithDl(c)
        .filter(col("term").isin(wanted: _*))
        .select("doc_id", "term", "tf", "dl")
      val fast = graft.tokenize.Tokenizer.termFreqsRestricted(c, wanted)
        .select("doc_id", "term", "tf", "dl")
      assert(fast.exceptAll(full).isEmpty && full.exceptAll(fast).isEmpty,
        "restricted tokenizer diverges from the filtered full tokenize")
    } finally spark.stop()
  }
}
