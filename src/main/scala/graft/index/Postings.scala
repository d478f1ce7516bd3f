package graft.index

import graft.score.BM25
import scala.collection.mutable.ArrayBuffer

/** One encoded posting list as stored in a segment / the merged view.
  *
  * The engine analog of the reference's `links: [uid] @count @reverse`
  * predicate (`pkg/database/relationship/dgraph.go:45`): a term's edge list
  * to its documents, with the `@count` index materialized as `df` and
  * block-max metadata added for WAND (north rule).
  *
  * - `postings`: delta+varint (docId gaps, then tfs) — [[Varint]] format
  * - `dls`: varint run of per-posting doc lengths (posting order) — makes
  *   scoring self-contained, no doc-table join on the query hot path
  * - `blockMax`: per-[[Postings.BlockSize]]-postings max of the BM25 tf
  *   normalization `tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))`; query-time upper
  *   bound for a block is `idf * blockMax` since idf is per-term constant
  * - `blockDir`: the block directory — per block, varints of
  *   `(firstDocId zigzag, gapOff, tfOff, dlOff)` byte offsets into
  *   `postings`/`dls`, so a reader can seek and decode ONE block without
  *   decompressing anything before it ([[PostingsBlocks]])
  */
final case class EncodedPostings(
    term: String,
    df: Long,
    sumTf: Long,
    postings: Array[Byte],
    dls: Array[Byte],
    blockMax: Array[Double],
    blockDir: Array[Byte])

object Postings {
  val BlockSize: Int = 128

  /** Encode postings sorted strictly by docId, with per-block max tfNorm
    * and the block directory.
    */
  def encode(term: String, docIds: Array[Long], tfs: Array[Int], dls: Array[Long], avgdl: Double): EncodedPostings = {
    val (bytes, gapOffs, tfOffs) = Varint.encodeBlocked(docIds, tfs, BlockSize)
    val nBlocks = (docIds.length + BlockSize - 1) / BlockSize
    val dlOffs = new Array[Int](nBlocks)
    val dlBuf = new ArrayBuffer[Byte](dls.length * 2)
    var i = 0
    while (i < dls.length) {
      if (i % BlockSize == 0) dlOffs(i / BlockSize) = dlBuf.length
      Varint.writeUnsigned(dlBuf, dls(i))
      i += 1
    }
    val bm = new Array[Double](nBlocks)
    var sumTf = 0L
    i = 0
    while (i < docIds.length) {
      val tfn = tfNorm(tfs(i), dls(i), avgdl)
      val b = i / BlockSize
      if (tfn > bm(b)) bm(b) = tfn
      sumTf += tfs(i)
      i += 1
    }
    val dir = new ArrayBuffer[Byte](nBlocks * 12)
    var b = 0
    while (b < nBlocks) {
      Varint.writeSigned(dir, docIds(b * BlockSize))
      Varint.writeUnsigned(dir, gapOffs(b).toLong)
      Varint.writeUnsigned(dir, tfOffs(b).toLong)
      Varint.writeUnsigned(dir, dlOffs(b).toLong)
      b += 1
    }
    EncodedPostings(term, docIds.length.toLong, sumTf, bytes, dlBuf.toArray, bm, dir.toArray)
  }

  /** Decode to (docIds, tfs, dls) — the full-materialization path (stats
    * recounts, merges). Serving uses [[PostingsBlocks]] instead.
    */
  def decode(postings: Array[Byte], dls: Array[Byte]): (Array[Long], Array[Int], Array[Long]) = {
    val (docIds, tfs) = Varint.decode(postings)
    val r = new Varint.Reader(dls)
    val out = new Array[Long](docIds.length)
    var i = 0
    while (i < out.length) { out(i) = r.readUnsigned(); i += 1 }
    (docIds, tfs, out)
  }

  /** EXACT top-k-by-score candidate set of one encoded posting list: every
    * posting whose QUANTIZED score (`BM25.quantize(idf × tfNorm)` at the
    * given n/avgdl) is ≥ the k-th best quantized score — i.e. the final
    * top-k PLUS all boundary ties, so a downstream (score desc, key asc)
    * selection over the emitted rows equals the same selection over the
    * full list. Used by the reader's fast-list ranking
    * ([[graft.engine.SegmentShard.topCandidates]]): blocks are visited in
    * descending block-max order and pruned with the same `idf × blockMax`
    * bound WAND uses — a block whose quantized bound cannot reach the
    * current k-th best is skipped WITHOUT decoding (pass 1) / emitting
    * (pass 2). No new metadata, exact result.
    *
    * `count` is the list's length and `df` the term's global df, which
    * sets the idf: a layered root's term holds one list per layer, each
    * shorter than the term's df.
    *
    * `boundScale ≥ 1` widens the bound for lists whose block maxima were
    * encoded at an older (smaller) avgdl — the layered-root soundness factor
    * `max(1, avgdl_now / avgdl_layer)` (see [[Incremental]]); scoring itself
    * always uses the CURRENT avgdl.
    *
    * Caveat (documented, measured): an ultra-hot term's idf is below the
    * 1e-6 quantization grid, so its whole list ties on a few grid points
    * and nothing can be pruned by score — those terms still emit ~df rows
    * (their ties are genuinely needed for the key-order tiebreak). The win
    * is on the moderately-hot range, where the grid resolves scores.
    */
  def topCandidatesByScore(
      count: Long, postings: Array[Byte], dls: Array[Byte], blockMax: Array[Double],
      blockDir: Array[Byte], df: Long, n: Long, avgdl: Double, k: Int,
      boundScale: Double = 1.0): Iterator[(Long, Int, Long)] = {
    val b = PostingsBlocks.fromEncoded(count, postings, dls, blockDir)
    val idfV = idf(df, n)
    val nb = b.nBlocks
    if (nb == 0 || k <= 0) return Iterator.empty
    val order = Array.range(0, nb).sortBy(i => -blockMax(i))
    // per-block quantized scores computed in pass 1, reused by pass 2 (a
    // block pass 1 skipped can still need scanning in pass 2 when its bound
    // TIES the k-th best — those compute lazily there)
    val scores = new Array[Array[Double]](nb)
    def blockScores(blk: Int): Array[Double] = {
      val cached = scores(blk)
      if (cached != null) return cached
      val start = blk * BlockSize
      val len = math.min(BlockSize, b.count - start)
      val a = new Array[Double](len)
      var i = 0
      while (i < len) {
        a(i) = graft.score.BM25.quantize(idfV * tfNorm(b.tf(start + i), b.dl(start + i), avgdl))
        i += 1
      }
      scores(blk) = a
      a
    }
    // pass 1: the k-th best quantized score via a primitive min-heap
    val heap = new Array[Double](k)
    var hs = 0
    def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && heap((i - 1) / 2) > heap(i)) {
        val t = heap(i); heap(i) = heap((i - 1) / 2); heap((i - 1) / 2) = t
        i = (i - 1) / 2
      }
    }
    def siftDown(): Unit = {
      var i = 0
      var cont = true
      while (cont) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < hs && heap(l) < heap(m)) m = l
        if (r < hs && heap(r) < heap(m)) m = r
        if (m == i) cont = false
        else { val t = heap(i); heap(i) = heap(m); heap(m) = t; i = m }
      }
    }
    var oi = 0
    var pruned = false
    while (oi < nb && !pruned) {
      val blk = order(oi)
      // full heap + block bound ≤ current k-th best ⇒ nothing in this block
      // (or any later one in descending-bound order) can RAISE the k-th
      // best; ties don't raise it either, so <= is safe for pass 1
      if (hs >= k && graft.score.BM25.quantize(idfV * blockMax(blk) * boundScale) <= heap(0))
        pruned = true
      else {
        val bs = blockScores(blk)
        var i = 0
        while (i < bs.length) {
          val s = bs(i)
          if (hs < k) { heap(hs) = s; hs += 1; siftUp(hs - 1) }
          else if (s > heap(0)) { heap(0) = s; siftDown() }
          i += 1
        }
      }
      oi += 1
    }
    val sk = if (hs >= k) heap(0) else Double.NegativeInfinity
    // pass 2: emit every posting with quantized score ≥ sk; blocks whose
    // quantized bound is < sk cannot contain one (quantize is monotone)
    Iterator.range(0, nb).flatMap { blk =>
      if (graft.score.BM25.quantize(idfV * blockMax(blk) * boundScale) < sk) Iterator.empty
      else {
        val start = blk * BlockSize
        val bs = blockScores(blk)
        Iterator.range(0, bs.length).filter(bs(_) >= sk)
          .map(i => (b.id(start + i), b.tf(start + i), b.dl(start + i)))
      }
    }
  }

  /** Scalar BM25 tf normalization — MUST mirror [[BM25.tfNorm]]'s Column
    * expression tree op-for-op so index-path scores are bit-identical to the
    * naive Catalyst plan.
    */
  @inline def tfNorm(tf: Int, dl: Long, avgdl: Double): Double =
    (tf.toDouble * BM25.K1Plus1) /
      (tf.toDouble + BM25.K1 * (BM25.OneMinusB + (BM25.B * dl.toDouble) / avgdl))

  /** Scalar idf — mirrors [[BM25.idf]]. */
  @inline def idf(df: Long, n: Long): Double =
    math.log(1.0 + (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))

  /** Block-lazy view of one encoded posting list: per-block decode on first
    * touch, block-directory seeks that skip decompression entirely — the
    * "skip *decompression*, not just scoring" half of block-max WAND. At
    * 10^12 docs a hot term's shard sub-list is millions of postings; a
    * query whose heap threshold rises quickly touches a handful of blocks.
    *
    * Thread-safe: block decode is synchronized (rare; one instance per
    * sub-list is shared by every task of a pin through
    * [[graft.engine.SegmentShard.blocks]]).
    */
  final class PostingsBlocks private (
      val count: Int,
      firstIds: Array[Long],
      gapOffs: Array[Int],
      tfOffs: Array[Int],
      dlOffs: Array[Int],
      postings: Array[Byte],
      dlBytes: Array[Byte]) {

    val nBlocks: Int = firstIds.length
    // idsB.set is the release, idsB.get the acquire: tfsB/dlsB writes in
    // decodeBlock happen-before any reader that saw a non-null ids array
    private val idsB = new java.util.concurrent.atomic.AtomicReferenceArray[Array[Long]](nBlocks)
    private val tfsB = new Array[Array[Int]](nBlocks)
    private val dlsB = new Array[Array[Long]](nBlocks)

    /** Number of blocks decoded so far (observability + tests). */
    def decodedBlocks: Int = { var n = 0; var b = 0; while (b < nBlocks) { if (idsB.get(b) != null) n += 1; b += 1 }; n }

    private def blockLen(b: Int): Int =
      math.min(BlockSize, count - b * BlockSize)

    private def ids(b: Int): Array[Long] = {
      val a = idsB.get(b)
      if (a != null) a else decodeBlock(b)
    }

    private def decodeBlock(b: Int): Array[Long] = synchronized {
      val existing = idsB.get(b)
      if (existing != null) return existing
      val n = blockLen(b)
      val ia = new Array[Long](n); val tfs = new Array[Int](n); val ds = new Array[Long](n)
      val gr = new Varint.Reader(postings, gapOffs(b))
      gr.readUnsigned() // skip the chain gap (zigzag first value for b=0)
      ia(0) = firstIds(b)
      var i = 1
      var prev = ia(0)
      while (i < n) { prev += gr.readUnsigned(); ia(i) = prev; i += 1 }
      val tr = new Varint.Reader(postings, tfOffs(b))
      i = 0
      while (i < n) { tfs(i) = tr.readUnsigned().toInt; i += 1 }
      val dr = new Varint.Reader(dlBytes, dlOffs(b))
      i = 0
      while (i < n) { ds(i) = dr.readUnsigned(); i += 1 }
      tfsB(b) = tfs; dlsB(b) = ds
      idsB.set(b, ia)
      ia
    }

    def id(pos: Int): Long = {
      val b = pos / BlockSize
      // block starts come straight from the directory — a BMW skip chain
      // that hops block-start to block-start never decompresses anything
      if (pos == b * BlockSize) firstIds(b)
      else ids(b)(pos - b * BlockSize)
    }
    def tf(pos: Int): Int = { val b = pos / BlockSize; ids(b); tfsB(b)(pos - b * BlockSize) }
    def dl(pos: Int): Long = { val b = pos / BlockSize; ids(b); dlsB(b)(pos - b * BlockSize) }

    /** First docId of the block after `pos`'s block — the BMW skip bound
      * (`Long.MaxValue` in the final block). Never decodes.
      */
    def nextBlockFirstId(pos: Int): Long = {
      val b = pos / BlockSize
      if (b + 1 < nBlocks) firstIds(b + 1) else Long.MaxValue
    }

    /** First position ≥ `from` whose docId ≥ `target` (or `count`): block
      * search over the directory's first-docIds (NO decode), then one
      * in-block binary search (decodes exactly that block) — with a
      * no-decode fast path when the target IS a block's first docId (the
      * common case for BMW block skips).
      */
    def seek(from: Int, target: Long): Int = {
      if (from >= count) return count
      val fromBlock = from / BlockSize
      // largest block in [fromBlock, nBlocks) whose firstId <= target
      var lo = fromBlock
      var hi = nBlocks - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (firstIds(mid) <= target) lo = mid else hi = mid - 1
      }
      val b = if (firstIds(lo) <= target) lo else fromBlock
      if (firstIds(b) == target && from <= b * BlockSize) return b * BlockSize
      val ia = ids(b)
      var l = math.max(from - b * BlockSize, 0)
      var h = blockLen(b)
      while (l < h) {
        val mid = (l + h) >>> 1
        if (ia(mid) < target) l = mid + 1 else h = mid
      }
      if (l < blockLen(b)) b * BlockSize + l
      else if (b + 1 < nBlocks) (b + 1) * BlockSize // firstIds(b+1) > target ⇒ ≥ target? no: > target ⇒ it IS ≥ target
      else count
    }
  }

  object PostingsBlocks {

    /** Open an encoded row (postings, dls, block directory). */
    def fromEncoded(count: Long, postings: Array[Byte], dls: Array[Byte], blockDir: Array[Byte]): PostingsBlocks = {
      val n = count.toInt
      val nBlocks = (n + BlockSize - 1) / BlockSize
      val firstIds = new Array[Long](nBlocks)
      val gapOffs = new Array[Int](nBlocks)
      val tfOffs = new Array[Int](nBlocks)
      val dlOffs = new Array[Int](nBlocks)
      val r = new Varint.Reader(blockDir)
      var b = 0
      while (b < nBlocks) {
        firstIds(b) = r.readSigned()
        gapOffs(b) = r.readUnsigned().toInt
        tfOffs(b) = r.readUnsigned().toInt
        dlOffs(b) = r.readUnsigned().toInt
        b += 1
      }
      new PostingsBlocks(n, firstIds, gapOffs, tfOffs, dlOffs, postings, dls)
    }
  }
}
