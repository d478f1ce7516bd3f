package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import scala.collection.mutable

/** An exact term → df dictionary, packed like [[DocKeyShard]]: the terms'
  * UTF-8 bytes sorted in unsigned byte order in one array, term `i` at
  * `bytes[offsets(i), offsets(i+1))`, with its df in `dfs(i)`: 12 B per
  * term plus its bytes, about 1 MB for the ~46k terms of the benchmark
  * corpus.
  *
  * Building, merging and lookup all compare with the same unsigned byte
  * order, so a lookup is one binary search and an absent term is a miss,
  * never an alias.
  */
final class TermDict private (
    private val bytes: Array[Byte], private val offsets: Array[Int], private val dfs: Array[Long])
    extends Serializable {

  /** Number of distinct terms. */
  def size: Int = dfs.length

  private def compare(i: Int, key: Array[Byte]): Int =
    Arrays.compareUnsigned(bytes, offsets(i), offsets(i + 1), key, 0, key.length)

  /** The df of `term`, or 0 if no entry holds it. */
  def df(term: String): Long = {
    val key = term.getBytes(UTF_8)
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = compare(mid, key)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return dfs(mid)
    }
    0L
  }
}

object TermDict {

  /** Appends terms in ascending byte order, summing the dfs of a term
    * added twice in a row.
    */
  private final class Builder {
    private val out = new java.io.ByteArrayOutputStream()
    private val offsets = mutable.ArrayBuilder.make[Int]
    private val dfs = mutable.ArrayBuffer.empty[Long]
    private var last: Array[Byte] = null
    offsets += 0

    def add(term: Array[Byte], df: Long): Unit =
      if (last != null && Arrays.equals(last, term)) dfs(dfs.length - 1) += df
      else {
        out.write(term)
        offsets += out.size()
        dfs += df
        last = term
      }

    def result(): TermDict = new TermDict(out.toByteArray, offsets.result(), dfs.toArray)
  }

  private def termBytes(d: TermDict, i: Int): Array[Byte] =
    Arrays.copyOfRange(d.bytes, d.offsets(i), d.offsets(i + 1))

  /** The dictionary of `(term, df)` entries in any order; the dfs of a
    * term listed more than once are summed.
    */
  def apply(entries: Iterator[(String, Long)]): TermDict = {
    val sorted = entries.map { case (t, df) => (t.getBytes(UTF_8), df) }.toArray
      .sortWith((a, b) => Arrays.compareUnsigned(a._1, b._1) < 0)
    val b = new Builder
    sorted.foreach { case (t, df) => b.add(t, df) }
    b.result()
  }

  /** One dictionary holding both inputs' terms, the dfs of a term in both
    * summed: a linear merge of the two sorted term lists.
    */
  def merge(x: TermDict, y: TermDict): TermDict = {
    val b = new Builder
    var i = 0
    var j = 0
    while (i < x.size || j < y.size) {
      val c =
        if (i == x.size) 1
        else if (j == y.size) -1
        else Arrays.compareUnsigned(x.bytes, x.offsets(i), x.offsets(i + 1), y.bytes, y.offsets(j), y.offsets(j + 1))
      if (c <= 0) { b.add(termBytes(x, i), x.dfs(i)); i += 1 }
      if (c >= 0) { b.add(termBytes(y, j), y.dfs(j)); j += 1 }
    }
    b.result()
  }
}
