package graft.index

import scala.collection.mutable.ArrayBuffer

/** Delta + varint posting-list codec (SURVEY.md §2.8 F12, north-rule
  * "delta+varint-compressed posting lists").
  *
  * Wire format of one posting list, all numbers LEB128-style varints
  * (7 data bits per byte, high bit = continuation):
  *
  *   count                       — number of postings
  *   firstDocId (zigzag)         — xxhash64 ids can be negative
  *   then per posting i>0:  gap_i = docId_i - docId_{i-1}  (unsigned, >0:
  *                          postings are strictly sorted by docId)
  *   then per posting:      tf_i (unsigned)
  *
  * Gaps and tfs are stored in separate runs (struct-of-arrays) — small
  * values cluster together, and a later block-max skip only needs the gap
  * run. Pure JVM code, no Spark dependency: usable from an Aggregator
  * `finish`, a mapPartitions WAND scan, and plain ScalaTest/ScalaCheck.
  */
object Varint {

  @inline private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  def writeUnsigned(buf: ArrayBuffer[Byte], value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0L) {
      buf += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    buf += (v & 0x7f).toByte
  }

  def writeSigned(buf: ArrayBuffer[Byte], value: Long): Unit =
    writeUnsigned(buf, zigzag(value))

  /** Reader over a byte array with a mutable cursor. */
  final class Reader(bytes: Array[Byte], var pos: Int = 0) {
    def readUnsigned(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def readSigned(): Long = unzigzag(readUnsigned())
  }

  /** Encode postings that are ALREADY strictly sorted by docId. */
  def encode(docIds: Array[Long], tfs: Array[Int]): Array[Byte] =
    encodeBlocked(docIds, tfs, Int.MaxValue)._1

  /** Same wire format, but also returns per-block byte offsets into the gap
    * run and the tf run (block = `blockSize` postings): `gapOffs(b)` points
    * at the varint for posting `b·blockSize` in the gap run (for b=0 the
    * zigzag first value), `tfOffs(b)` at its tf varint. The offsets let a
    * reader decode one block WITHOUT decompressing everything before it —
    * the block-max WAND skip list ([[Postings.PostingsBlocks]]).
    */
  def encodeBlocked(docIds: Array[Long], tfs: Array[Int], blockSize: Int): (Array[Byte], Array[Int], Array[Int]) = {
    require(docIds.length == tfs.length, "docIds/tfs length mismatch")
    val nBlocks = if (docIds.length == 0) 0 else 1 + (docIds.length - 1) / blockSize
    val gapOffs = new Array[Int](nBlocks)
    val tfOffs = new Array[Int](nBlocks)
    val buf = new ArrayBuffer[Byte](docIds.length * 3 + 8)
    writeUnsigned(buf, docIds.length.toLong)
    var i = 0
    var prev = 0L
    while (i < docIds.length) {
      if (i % blockSize == 0) gapOffs(i / blockSize) = buf.length
      if (i == 0) writeUnsigned(buf, zigzag(docIds(0)))
      else {
        // compare, don't subtract: ids span the full Long range, so the gap
        // of a straddling pair overflows — the encoded gap is mod-2^64 and
        // decode's `prev + gap` wraps back to the exact id
        if (docIds(i) == prev) throw new IllegalArgumentException(
          s"duplicate doc_id $prev at $i: two input rows share one (repo, path, commit) key")
        require(docIds(i) > prev, s"postings not strictly sorted at $i")
        writeUnsigned(buf, docIds(i) - prev)
      }
      prev = docIds(i)
      i += 1
    }
    i = 0
    while (i < tfs.length) {
      if (i % blockSize == 0) tfOffs(i / blockSize) = buf.length
      writeUnsigned(buf, tfs(i).toLong)
      i += 1
    }
    (buf.toArray, gapOffs, tfOffs)
  }

  /** Decode a posting list back to parallel (docIds, tfs) arrays. */
  def decode(bytes: Array[Byte]): (Array[Long], Array[Int]) = {
    val r = new Reader(bytes)
    val n = r.readUnsigned().toInt
    val docIds = new Array[Long](n)
    val tfs = new Array[Int](n)
    var i = 0
    var prev = 0L
    while (i < n) {
      prev = if (i == 0) r.readSigned() else prev + r.readUnsigned()
      docIds(i) = prev
      i += 1
    }
    i = 0
    while (i < n) { tfs(i) = r.readUnsigned().toInt; i += 1 }
    (docIds, tfs)
  }

  /** Number of postings without decoding the whole list. */
  def count(bytes: Array[Byte]): Int = new Reader(bytes).readUnsigned().toInt
}
