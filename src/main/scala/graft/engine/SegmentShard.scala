package graft.engine

import graft.index.Postings.PostingsBlocks
import java.util.Arrays
import java.util.concurrent.atomic.AtomicReferenceArray

/** One layer's salted segments of ONE salt shard: every term's sub-list in
  * that salt, as parallel arrays over the terms sorted for an exact-string
  * binary search. Per term: the sub-list's posting count, its encoded
  * postings and dls, its block maxima and its block directory.
  *
  * The reader pins one shard per (layer, salt) for its whole life
  * ([[IndexReader]]), so the shard also memoizes each term's block-lazy
  * [[PostingsBlocks]] handle: a block is decompressed at most once per pin,
  * and only if a query's cursor lands in it. The memo is transient, so a
  * shard read back from disk starts it empty.
  */
final class SegmentShard private (
    val salt: Int,
    terms: Array[String],
    counts: Array[Long],
    postings: Array[Array[Byte]],
    dls: Array[Array[Byte]],
    blockMaxes: Array[Array[Double]],
    blockDirs: Array[Array[Byte]]) extends Serializable {

  @transient private lazy val memo = new AtomicReferenceArray[PostingsBlocks](terms.length)

  /** Number of terms (segments rows) in this shard. */
  def size: Int = terms.length

  /** Position of `term` in this shard, or a negative number if this salt
    * holds none of its postings.
    */
  def indexOf(term: String): Int = Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)

  /** Every term of this shard with its sub-list's posting count. */
  def entries: Iterator[(String, Long)] = terms.iterator.zip(counts.iterator)

  /** Posting count of the sub-list at position `i` (its segments `df`). */
  def count(i: Int): Long = counts(i)

  /** Block maxima of the sub-list at position `i`. */
  def blockMax(i: Int): Array[Double] = blockMaxes(i)

  /** The memoized block-lazy handle of the sub-list at position `i`: every
    * caller gets the same handle.
    */
  def blocks(i: Int): PostingsBlocks = {
    val hit = memo.get(i)
    if (hit != null) hit
    else {
      val opened = PostingsBlocks.fromEncoded(counts(i), postings(i), dls(i), blockDirs(i))
      if (memo.compareAndSet(i, null, opened)) opened else memo.get(i)
    }
  }
}

object SegmentShard {

  /** A segments row: `(salt, term, df, postings, dls, block_max, block_dir)`. */
  type Row = (Int, String, Long, Array[Byte], Array[Byte], Array[Double], Array[Byte])

  /** The shard of salt `salt` from its segments rows; throws on a row that
    * belongs to another salt.
    */
  def build(salt: Int, rows: Iterator[Row]): SegmentShard = {
    val sorted = rows.map { r =>
      if (r._1 != salt) throw new IllegalStateException(
        s"segments row of term ${r._2} (salt ${r._1}) in the partition of salt $salt")
      r
    }.toArray.sortBy(_._2)
    new SegmentShard(salt, sorted.map(_._2), sorted.map(_._3), sorted.map(_._4),
      sorted.map(_._5), sorted.map(_._6), sorted.map(_._7))
  }
}
