package graft.index

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}

/** Mutable aggregation buffer for posting builds: primitive growable
  * parallel arrays (no per-element boxing — an `ArrayBuffer[Long]` buffer
  * boxed every docId and dominated GC at sf0.1). Custom Kryo serialization
  * writes only the live prefix, so shuffled partial buffers carry no slack
  * capacity.
  */
final class PostingBuf extends KryoSerializable with Serializable {
  var docIds: Array[Long] = new Array[Long](8)
  var tfs: Array[Int] = new Array[Int](8)
  var dls: Array[Long] = new Array[Long](8)
  var size: Int = 0

  private def ensure(n: Int): Unit = {
    if (n > docIds.length) {
      val cap = math.max(n, docIds.length * 2)
      docIds = java.util.Arrays.copyOf(docIds, cap)
      tfs = java.util.Arrays.copyOf(tfs, cap)
      dls = java.util.Arrays.copyOf(dls, cap)
    }
  }

  def add(d: Long, t: Int, l: Long): Unit = {
    ensure(size + 1)
    docIds(size) = d; tfs(size) = t; dls(size) = l
    size += 1
  }

  def addAll(o: PostingBuf): Unit = {
    ensure(size + o.size)
    System.arraycopy(o.docIds, 0, docIds, size, o.size)
    System.arraycopy(o.tfs, 0, tfs, size, o.size)
    System.arraycopy(o.dls, 0, dls, size, o.size)
    size += o.size
  }

  override def write(kryo: Kryo, out: Output): Unit = {
    out.writeInt(size, true)
    var i = 0
    while (i < size) { out.writeLong(docIds(i)); i += 1 }
    i = 0
    while (i < size) { out.writeInt(tfs(i), true); i += 1 }
    i = 0
    while (i < size) { out.writeLong(dls(i), true); i += 1 }
  }

  override def read(kryo: Kryo, in: Input): Unit = {
    size = in.readInt(true)
    docIds = new Array[Long](math.max(size, 8))
    tfs = new Array[Int](math.max(size, 8))
    dls = new Array[Long](math.max(size, 8))
    var i = 0
    while (i < size) { docIds(i) = in.readLong(); i += 1 }
    i = 0
    while (i < size) { tfs(i) = in.readInt(true); i += 1 }
    i = 0
    while (i < size) { dls(i) = in.readLong(true); i += 1 }
  }
}

object PostingBuf {

  /** In-place quicksort of three parallel primitive arrays by `docIds`
    * (insertion sort under 32 elements, median-of-three pivot) — replaces
    * the boxed `Array.range(n).sortBy(docIds(_))` index sort in the posting
    * aggregates' eval, which paid a boxed comparator call per comparison
    * across every (term) group of the segments phase and the merged view.
    */
  def sortByDocId(ids: Array[Long], tfs: Array[Int], dls: Array[Long], size: Int): Unit =
    qsort(ids, tfs, dls, 0, size - 1)

  @inline private def swap(ids: Array[Long], tfs: Array[Int], dls: Array[Long], a: Int, b: Int): Unit = {
    val i = ids(a); ids(a) = ids(b); ids(b) = i
    val t = tfs(a); tfs(a) = tfs(b); tfs(b) = t
    val d = dls(a); dls(a) = dls(b); dls(b) = d
  }

  private def qsort(ids: Array[Long], tfs: Array[Int], dls: Array[Long], lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      if (hi - lo < 32) {
        // insertion sort
        var i = lo + 1
        while (i <= hi) {
          val vi = ids(i); val vt = tfs(i); val vd = dls(i)
          var j = i - 1
          while (j >= lo && ids(j) > vi) {
            ids(j + 1) = ids(j); tfs(j + 1) = tfs(j); dls(j + 1) = dls(j)
            j -= 1
          }
          ids(j + 1) = vi; tfs(j + 1) = vt; dls(j + 1) = vd
          i += 1
        }
        return
      }
      // median-of-three pivot to hi-1
      val mid = (lo + hi) >>> 1
      if (ids(mid) < ids(lo)) swap(ids, tfs, dls, mid, lo)
      if (ids(hi) < ids(lo)) swap(ids, tfs, dls, hi, lo)
      if (ids(hi) < ids(mid)) swap(ids, tfs, dls, hi, mid)
      swap(ids, tfs, dls, mid, hi - 1)
      val pivot = ids(hi - 1)
      var i = lo
      var j = hi - 1
      var cont = true
      while (cont) {
        i += 1
        while (ids(i) < pivot) i += 1
        j -= 1
        while (ids(j) > pivot) j -= 1
        if (i >= j) cont = false
        else swap(ids, tfs, dls, i, j)
      }
      swap(ids, tfs, dls, i, hi - 1)
      // recurse into the smaller half, loop on the larger (bounded stack)
      if (i - lo < hi - i) { qsort(ids, tfs, dls, lo, i - 1); lo = i + 1 }
      else { qsort(ids, tfs, dls, i + 1, hi); hi = i - 1 }
    }
  }
}
