package graft

import graft.index.{Postings, Varint}
import org.scalatest.funsuite.AnyFunSuite

/** Codec tests — the engine analog of the reference's table-driven pure
  * function suites (`pkg/page/page_test.go:90-115`), plus seed-pinned
  * property tests (FIXTURES.md §2: `encode ∘ decode = id`).
  */
class VarintSpec extends AnyFunSuite {

  test("roundtrip: empty list") {
    val bytes = Varint.encode(Array.empty[Long], Array.empty[Int])
    val (d, t) = Varint.decode(bytes)
    assert(d.isEmpty && t.isEmpty)
    assert(Varint.count(bytes) == 0)
  }

  test("roundtrip: single negative docId (xxhash64 ids span the full Long range)") {
    val bytes = Varint.encode(Array(-42L), Array(7))
    val (d, t) = Varint.decode(bytes)
    assert(d.toSeq == Seq(-42L) && t.toSeq == Seq(7))
  }

  test("roundtrip: extreme ids") {
    val ids = Array(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    val tfs = Array(1, 2, 3, 4, 5)
    val (d, t) = Varint.decode(Varint.encode(ids, tfs))
    assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq)
  }

  test("gap overflow: adjacent ids straddling the Long range roundtrip exactly") {
    val ids = Array(Long.MinValue + 3, Long.MaxValue - 5) // gap > Long.MaxValue, wraps
    val tfs = Array(9, 11)
    val (d, t) = Varint.decode(Varint.encode(ids, tfs))
    assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq)
  }

  test("rejects unsorted postings") {
    val descending = intercept[IllegalArgumentException] {
      Varint.encode(Array(5L, 3L), Array(1, 1))
    }
    assert(descending.getMessage.contains("not strictly sorted at 1"))
    // an equal id is two input rows of one doc: the error names that fault
    val duplicate = intercept[IllegalArgumentException] {
      Varint.encode(Array(3L, 5L, 5L), Array(1, 1, 1))
    }
    assert(duplicate.getMessage.startsWith("duplicate doc_id 5 at 2:"), duplicate.getMessage)
    assert(duplicate.getMessage.contains("share one (repo, path, commit) key"))
  }

  test("property (seed-pinned): encode∘decode = id on sorted random postings") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = rnd.nextInt(500)
      val ids = Array.fill(n)(rnd.nextLong()).distinct.sorted
      val tfs = Array.fill(ids.length)(1 + rnd.nextInt(1 << 20))
      val (d, t) = Varint.decode(Varint.encode(ids, tfs))
      assert(d.toSeq == ids.toSeq && t.toSeq == tfs.toSeq)
    }
  }

  test("delta compression: dense ids encode ~1 byte per gap") {
    val ids = Array.tabulate(1000)(i => 1000000L + i * 3)
    val tfs = Array.fill(1000)(1)
    val bytes = Varint.encode(ids, tfs)
    // count + first id + 999 gaps (1B) + 1000 tfs (1B)
    assert(bytes.length < 2100, s"got ${bytes.length}")
  }

  test("Postings.encode/decode roundtrip with dls and block maxima") {
    val ids = Array.tabulate(300)(i => i * 1000L - 150000L)
    val tfs = Array.tabulate(300)(i => 1 + i % 7)
    val dls = Array.tabulate(300)(i => 10L + i % 50)
    val e = Postings.encode("t", ids, tfs, dls, avgdl = 33.3)
    assert(e.df == 300 && e.sumTf == tfs.map(_.toLong).sum)
    assert(e.blockMax.length == (300 + Postings.BlockSize - 1) / Postings.BlockSize)
    val (d2, t2, l2) = Postings.decode(e.postings, e.dls)
    assert(d2.toSeq == ids.toSeq && t2.toSeq == tfs.toSeq && l2.toSeq == dls.toSeq)
    // block maxima really are maxima of the block's tfNorms
    val norms = ids.indices.map(i => Postings.tfNorm(tfs(i), dls(i), 33.3))
    norms.grouped(Postings.BlockSize).zipWithIndex.foreach { case (blk, b) =>
      assert(math.abs(e.blockMax(b) - blk.max) == 0.0)
    }
  }
}
