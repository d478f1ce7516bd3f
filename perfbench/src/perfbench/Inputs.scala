package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark inputs. Two kinds, both pure functions:
  *
  *  - the source tables the program's corpus synthesis reads
  *    (`lineitem`, `orders` with the TPC-H shape of the testdata): fixed,
  *    a function of the scale alone, so every seed indexes the same corpus;
  *  - the seeded part: the query stream and the split of the corpus into
  *    base and delta batches, functions of `(seed, scale)`.
  */
object Inputs {

  /** splitmix64 finalizer: the one hash every generator here uses. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def draw(i: Long, field: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(i * 31L + field * 0x632BE59BD9B4E019L), n)

  /** Table sizes for `lines` lineitem rows, in the testdata's ratios
    * (sf0.1: 600k lines, 150k orders, 20k parts, 1k suppliers, 15k customers).
    */
  final case class Scale(lines: Long) {
    val orders: Long = lines / 4
    val parts: Long = lines / 30
    val supps: Long = lines / 600
    val custs: Long = lines / 40
  }

  final case class Line(orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int, returnflag: String)

  private val Flags = Array("A", "N", "R")

  /** Lineitem row `i`: uniform keys, like the testdata generator. */
  def line(s: Scale, i: Long): Line = Line(
    draw(i, 1, s.orders), draw(i, 2, s.parts), draw(i, 3, s.supps),
    draw(i, 4, 7).toInt + 1, Flags(draw(i, 5, 3).toInt))

  def custOf(s: Scale, orderkey: Long): Long = draw(orderkey, 6, s.custs)

  /** Writes `lineitem.parquet` and `orders.parquet` under `dir`, the layout
    * `graft.corpus.Corpus.corpus(spark, dir)` reads.
    */
  def writeSourceTables(spark: SparkSession, s: Scale, dir: String): Unit = {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    spark.range(0, s.lines, 1, p).as[Long]
      .map { i => val l = line(s, i); (l.orderkey, l.partkey, l.suppkey, l.linenumber, l.returnflag) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(0, s.orders, 1, p).as[Long]
      .map(o => (o, custOf(s, o)))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  // ---------- seeded: base/delta split ----------

  /** Slice 0..9 (10 % each) of a corpus row under `seed`; the workloads
    * take their base and delta batches as sets of slices. Keyed on the
    * natural key, so it is a pure function of `(seed, row)`.
    */
  def sliceCol(seed: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(seed), col("repo"), col("path"), col("commit")), lit(10))

  // ---------- seeded: query stream ----------

  /** The query kinds of the mixed stream, each with its count per block of
    * [[BlockSize]] queries. Counts are exact per block, so every run of a
    * given length sends the same number of each kind whatever the seed.
    */
  sealed abstract class Kind(val name: String, val perBlock: Int)
  case object Fast extends Kind("fast", 16)       // one hot keyword, k <= 15
  case object Absent extends Kind("absent", 1)    // a term absent from the corpus
  case object Ident extends Kind("ident", 1)      // one identifier: rare, cold term lookup
  case object Hybrid extends Kind("hybrid", 1)    // identifier + hot keyword
  case object Scoped extends Kind("scoped", 1)    // keyword within 1-2 repos: WAND
  case object MultiKw extends Kind("multikw", 3)  // 2-3 keywords: WAND
  case object BigK extends Kind("bigk", 1)        // one keyword, 300 < k <= 1000: WAND
  case object And extends Kind("and", 1)          // 2 keywords, conjunctive
  val Kinds: Seq[Kind] = Seq(Fast, Absent, Ident, Hybrid, Scoped, MultiKw, BigK, And)
  val BlockSize: Int = Kinds.map(_.perBlock).sum

  final case class Q(id: String, kind: Kind, terms: Seq[String], k: Int,
      conjunctive: Boolean, repos: Option[Seq[String]])

  import graft.corpus.Corpus.{KwA, KwB, KwC, KwD}

  /** Keyword classes by document frequency in the corpus: `ClassA` words
    * are in every doc, `KwD` in about 1/3 of them, `KwB`, `KwA` and `KwC`
    * in 1/6 to 1/10, `ClassF` in 1/20. All but `ClassF` hold at least
    * `IndexBuilder.FastMinDf` docs at this scale, so they have fast lists.
    */
  val ClassA: IndexedSeq[String] = IndexedSeq("func", "ctx", "return", "package", "import")
  val ClassF: IndexedSeq[String] = (0 until 20).map(i => s"cust_$i")
  val Keywords: IndexedSeq[String] = ClassA ++ KwD ++ KwB ++ KwA ++ KwC ++ ClassF
  val HotKeywords: IndexedSeq[String] = Keywords.filterNot(ClassF.contains)

  /** The words of the fast-route queries, in Zipf rank order. No other
    * query kind uses them, so the first ask of each after a publish stays
    * cold whatever the other queries asked before it.
    */
  val FastWords: IndexedSeq[String] = (KwB ++ KwA ++ KwC).toIndexedSeq

  /** All fast words, in a Zipf-skewed order drawn without replacement. */
  private def zipfOrder(r: SplittableRandom): IndexedSeq[String] = {
    val left = scala.collection.mutable.ArrayBuffer(FastWords.indices: _*)
    IndexedSeq.fill(FastWords.size) {
      val w = left.map(i => 1.0 / (i + 1))
      var u = r.nextDouble() * w.sum
      var j = 0
      while (j < left.size - 1 && u >= w(j)) { u -= w(j); j += 1 }
      FastWords(left.remove(j))
    }
  }

  private def pick(r: SplittableRandom, words: Seq[String]): String = words(r.nextInt(words.size))

  private def pickTwo(r: SplittableRandom, words: Seq[String]): Seq[String] = {
    val a = pick(r, words)
    Seq(a, pick(r, words.filterNot(_ == a)))
  }

  /** An identifier term of a uniformly drawn lineitem row: present in the
    * full corpus, and it names one document.
    */
  private def identifier(s: Scale, r: SplittableRandom): String = {
    val l = line(s, r.nextLong(s.lines))
    s"handler_${l.orderkey}_${l.linenumber}"
  }

  /** One block of [[BlockSize]] queries. The work a block asks for is
    * nearly the same under every seed, so runs of different seeds stay
    * comparable: the fast-route queries ask `fastWords` (16 distinct words)
    * once each, and the other kinds draw their keywords from fixed
    * document-frequency classes. The seed picks the words, the identifiers
    * (whose doc may lie outside the indexed slices), the repos, `k` and the
    * order.
    */
  private def block(s: Scale, r: SplittableRandom, stream: String, b: Int, fastWords: Seq[String]): IndexedSeq[Q] = {
    def q(kind: Kind, terms: Seq[String], k: Int = 10, repos: Option[Seq[String]] = None) =
      (kind, terms, k, repos)
    val slots = fastWords.map(w => q(Fast, Seq(w), 5 + r.nextInt(11))) ++ Seq(
      q(Absent, Seq(s"nohit_${r.nextLong(1L << 40)}")),
      q(Ident, Seq(identifier(s, r))),
      q(Hybrid, Seq(identifier(s, r), pick(r, ClassA))),
      q(MultiKw, pickTwo(r, ClassA)),
      q(MultiKw, Seq(pick(r, ClassA), pick(r, KwD), pick(r, ClassF))),
      q(MultiKw, pickTwo(r, KwD)),
      q(BigK, Seq(pick(r, ClassA)), 301 + r.nextInt(700)),
      q(Scoped, Seq(pick(r, KwD)), repos = Some((0 until 1 + r.nextInt(2)).map(_ => s"repo-${r.nextInt(50)}").distinct)),
      q(And, Seq(pick(r, KwD), pick(r, ClassF))))
    val arr = slots.toArray
    var i = arr.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr.toIndexedSeq.zipWithIndex.map { case ((kind, terms, k, repos), slot) =>
      Q(f"$stream-$b%03d-$slot%02d-${kind.name}", kind, terms, k, kind == And, repos)
    }
  }

  /** `blocks` blocks of the stream named `stream`. The fast words of
    * successive blocks are successive slices of one Zipf-skewed order of
    * all fast words, so the first block asks 16 distinct words and later
    * blocks repeat some.
    */
  def stream(s: Scale, seed: Long, name: String, blocks: Int): IndexedSeq[Q] = {
    val r = new SplittableRandom(mix(mix(seed) ^ name.hashCode.toLong))
    val order = zipfOrder(r)
    val per = Fast.perBlock
    (0 until blocks).flatMap { b =>
      block(s, r, name, b, (0 until per).map(i => order((b * per + i) % order.size)))
    }
  }
}
