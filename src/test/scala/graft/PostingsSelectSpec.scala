package graft

import graft.index.Postings
import graft.score.BM25
import org.scalatest.funsuite.AnyFunSuite

/** r6: the block-max-pruned fast-sidecar candidate selection
  * ([[Postings.topCandidatesByScore]]) must be EXACT — equal to the
  * brute-force "every posting whose quantized score ≥ the k-th best
  * quantized score" set, ties included — across flat (tie-dominated),
  * skewed, and boundary-sized lists, and with a widened bound scale.
  */
class PostingsSelectSpec extends AnyFunSuite {

  private def brute(ids: Array[Long], tfs: Array[Int], dls: Array[Long],
      n: Long, avgdl: Double, k: Int): Set[(Long, Int, Long)] = {
    val idf = Postings.idf(ids.length.toLong, n)
    val scored = ids.indices.map(i =>
      (BM25.quantize(idf * Postings.tfNorm(tfs(i), dls(i), avgdl)), i))
    val sk = scored.map(_._1).sorted(Ordering[Double].reverse)
      .take(k).lastOption.getOrElse(Double.NegativeInfinity)
    scored.filter(_._1 >= sk).map { case (_, i) => (ids(i), tfs(i), dls(i)) }.toSet
  }

  private def check(ids: Array[Long], tfs: Array[Int], dls: Array[Long],
      n: Long, avgdl: Double, k: Int, encodeAvgdl: Double, scale: Double): Unit = {
    val e = Postings.encode("t", ids, tfs, dls, encodeAvgdl)
    val got = Postings.topCandidatesByScore(
      ids.length.toLong, e.postings, e.dls, e.blockMax, e.blockDir, ids.length.toLong, n, avgdl, k, scale).toSet
    val want = brute(ids, tfs, dls, n, avgdl, k)
    assert(got == want,
      s"selection mismatch: got ${got.size} want ${want.size} (k=$k, n=$n, avgdl=$avgdl)")
  }

  private def mk(nPost: Int, tfOf: Int => Int, dlOf: Int => Long): (Array[Long], Array[Int], Array[Long]) = {
    val ids = Array.tabulate(nPost)(i => (i * 37 + 11).toLong)
    (ids, Array.tabulate(nPost)(tfOf), Array.tabulate(nPost)(dlOf))
  }

  test("skewed scores: selection equals brute force incl. boundary ties") {
    val (ids, tfs, dls) = mk(1000, i => 1 + (i % 7), i => 10L + (i % 5) * 7)
    check(ids, tfs, dls, n = 100000L, avgdl = 25.0, k = 50, encodeAvgdl = 25.0, scale = 1.0)
  }

  test("ultra-hot flat list (idf below the grid): whole tie class emitted") {
    val (ids, tfs, dls) = mk(2000, i => 1 + (i % 3), _ => 20L)
    // df == n → idf ~ ln(1 + 0.5/(n+0.5)): every score quantizes to ≤ 1 grid
    // point — selection must degrade to the full tie class, never drop a tie
    check(ids, tfs, dls, n = 2000L, avgdl = 20.0, k = 10, encodeAvgdl = 20.0, scale = 1.0)
  }

  test("k larger than the list emits everything") {
    val (ids, tfs, dls) = mk(300, i => 1 + (i % 4), i => 15L + (i % 3))
    check(ids, tfs, dls, n = 10000L, avgdl = 18.0, k = 500, encodeAvgdl = 18.0, scale = 1.0)
  }

  test("stale-avgdl block maxima with widened bound stay exact") {
    // encode at a SMALLER avgdl (older layer), score at the larger current
    // one with scale = avgdl_now / avgdl_enc — the layered-root case
    val (ids, tfs, dls) = mk(1500, i => 1 + (i % 6), i => 8L + (i % 11) * 3)
    check(ids, tfs, dls, n = 50000L, avgdl = 30.0, k = 40, encodeAvgdl = 22.0, scale = 30.0 / 22.0)
  }

  test("single short block") {
    val (ids, tfs, dls) = mk(5, i => 1 + i, _ => 12L)
    check(ids, tfs, dls, n = 1000L, avgdl = 12.0, k = 3, encodeAvgdl = 12.0, scale = 1.0)
  }
}

/** r6: the primitive parallel-array sort behind the posting aggregates'
  * eval must equal the boxed index sort it replaced.
  */
class PostingBufSortSpec extends AnyFunSuite {
  test("sortByDocId == boxed sortBy on random arrays (seed-pinned)") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(0, 1, 2, 31, 32, 33, 1000, 10000)) {
      val ids = Array.fill(n)(rnd.nextLong())
      val tfs = Array.fill(n)(rnd.nextInt(100) + 1)
      val dls = Array.fill(n)(rnd.nextLong().abs % 1000)
      val idx = Array.range(0, n).sortBy(ids(_))
      val wantIds = idx.map(ids(_)); val wantTfs = idx.map(tfs(_)); val wantDls = idx.map(dls(_))
      graft.index.PostingBuf.sortByDocId(ids, tfs, dls, n)
      assert(ids.sameElements(wantIds) && tfs.sameElements(wantTfs) && dls.sameElements(wantDls),
        s"sort mismatch at n=$n")
    }
  }

  test("sortByDocId with heavy duplicates keeps parallel rows aligned") {
    val rnd = new scala.util.Random(7)
    val n = 5000
    val ids = Array.fill(n)((rnd.nextInt(10)).toLong)
    // pair each id with a payload derived from it, so alignment is checkable
    val tfs = ids.map(i => i.toInt * 3 + 1)
    val dls = ids.map(_ * 7 + 2)
    graft.index.PostingBuf.sortByDocId(ids, tfs, dls, n)
    (1 until n).foreach(i => assert(ids(i - 1) <= ids(i)))
    ids.indices.foreach { i =>
      assert(tfs(i) == ids(i).toInt * 3 + 1 && dls(i) == ids(i) * 7 + 2, s"row $i misaligned")
    }
  }
}
