package graft

import graft.engine.Wand
import graft.index.Postings
import org.scalatest.funsuite.AnyFunSuite

/** Rank-identity of the shard-local WAND kernel against brute-force scoring
  * — the in-JVM version of the north rule's rank-identical criterion
  * (the Spark-level identity is checked by the shared DuckDB oracle of
  * bm25_naive_topk / bm25_wand_topk).
  */
class WandSpec extends AnyFunSuite {

  private def bruteForce(lists: Seq[Wand.TermList], avgdl: Double): Map[Long, Double] = {
    val m = scala.collection.mutable.Map.empty[Long, Double]
    lists.foreach { tl =>
      (0 until tl.blocks.count).foreach { i =>
        val s = tl.idf * Postings.tfNorm(tl.blocks.tf(i), tl.blocks.dl(i), avgdl)
        m.updateWith(tl.blocks.id(i))(prev => Some(prev.getOrElse(0.0) + s))
      }
    }
    m.toMap
  }

  private def mkList(term: String, idf: Double, postings: Seq[(Long, Int, Long)], avgdl: Double): Wand.TermList = {
    val sorted = postings.sortBy(_._1)
    val ids = sorted.map(_._1).toArray
    val tfs = sorted.map(_._2).toArray
    val dls = sorted.map(_._3).toArray
    val e = Postings.encode(term, ids, tfs, dls, avgdl)
    Wand.TermList(term, idf,
      Postings.PostingsBlocks.fromEncoded(ids.length.toLong, e.postings, e.dls, e.blockDir),
      e.blockMax)
  }

  /** `prune = false` must score every doc of the lists; `conjunctive`
    * restricts the run to [[Wand.inAll]] and the brute force to the docs
    * holding every term. A term may have several doc-disjoint lists (one
    * per layer of a layered root): its postings are their union.
    */
  private def check(lists: Seq[Wand.TermList], k: Int, avgdl: Double,
      prune: Boolean = true, conjunctive: Boolean = false): Unit = {
    val counters = new graft.engine.WandCounters
    val inScope = if (conjunctive) Wand.inAll(lists) else (_: Long) => true
    val got = Wand.wandShardTopK(lists, k, avgdl, counters, inScope, prune).toMap
    val docSets = lists.groupBy(_.term).values
      .map(_.flatMap(tl => (0 until tl.blocks.count).map(tl.blocks.id)).toSet)
    val inEvery = docSets.reduce(_ intersect _)
    val want = bruteForce(lists, avgdl).filter { case (d, _) => !conjunctive || inEvery(d) }
    if (!prune) assert(counters.evaluated === want.size.toLong, "unpruned run skipped docs")
    val topk = want.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
    // every true top-k doc must be present with its exact score
    topk.foreach { case (doc, s) =>
      assert(got.contains(doc), s"missing doc $doc (score $s); got ${got.size} candidates")
      assert(got(doc) == s, s"score mismatch for $doc: ${got(doc)} vs $s")
    }
    // and nothing fabricated
    got.foreach { case (doc, s) => assert(want(doc) == s) }
  }

  test("single term, fewer docs than k") {
    val avgdl = 20.0
    check(Seq(mkList("a", 1.5, Seq((10L, 2, 15L), (20L, 1, 30L)), avgdl)), k = 10, avgdl = avgdl)
  }

  test("empty") {
    assert(Wand.wandShardTopK(Nil, 10, 20.0).isEmpty)
  }

  test("multi-term overlap") {
    val avgdl = 25.0
    val a = mkList("a", 2.0, Seq((1L, 3, 20L), (5L, 1, 40L), (9L, 2, 10L)), avgdl)
    val b = mkList("b", 0.5, Seq((1L, 1, 20L), (7L, 4, 25L), (9L, 1, 10L)), avgdl)
    check(Seq(a, b), k = 2, avgdl = avgdl)
  }

  test("property (seed-pinned): WAND == brute force on random shards") {
    val rnd = new scala.util.Random(7)
    (1 to 100).foreach { _ =>
      val avgdl = 10.0 + rnd.nextInt(50)
      val nTerms = 1 + rnd.nextInt(4)
      // each term's postings split over 2–3 doc-disjoint lists, ordered by
      // term then list, the way a layered root holds one list per layer
      val lists = (0 until nTerms).flatMap { t =>
        val nDocs = 1 + rnd.nextInt(400)
        val docs = Seq.fill(nDocs)(rnd.nextInt(1000).toLong).distinct
          .map(d => (d, 1 + rnd.nextInt(5), 5L + rnd.nextInt(60)))
        val idf = 0.1 + rnd.nextDouble() * 3
        val parts = 2 + rnd.nextInt(2)
        val owner = docs.map(_ => rnd.nextInt(parts))
        (0 until parts).map(p => docs.zip(owner).collect { case (d, o) if o == p => d })
          .filter(_.nonEmpty).map(mkList(s"t$t", idf, _, avgdl))
      }
      val k = 1 + rnd.nextInt(20)
      check(lists, k, avgdl)
      check(lists, k, avgdl, prune = false)
      check(lists, k, avgdl, conjunctive = true)
    }
  }

  test("heavy ties: equal scores everywhere still yield full top-k") {
    val avgdl = 10.0
    // identical tf/dl → identical scores; WAND must keep ≥ k candidates
    val docs = (1L to 100L).map(d => (d, 1, 10L))
    val l = mkList("a", 1.0, docs, avgdl)
    val got = Wand.wandShardTopK(Seq(l), 10, avgdl)
    assert(got.size >= 10)
  }

  test("block-lazy seek: flat tail blocks are skipped without decompression") {
    val avgdl = 10.0
    // a tf=50 spike up front fills the k=1 heap; every later flat block's
    // bound is below the threshold, so the BMW skip chain hops block-start
    // to block-start through the directory and never decompresses them
    val n = 10000
    val docs = (0 until n).map(i => (i.toLong, if (i == 0) 50 else 1, 10L))
    val tl = mkList("a", 1.0, docs, avgdl)
    val got = Wand.wandShardTopK(Seq(tl), 1, avgdl)
    assert(got.map(_._1).contains(0L))
    val touched = tl.blocks.decodedBlocks
    val total = tl.blocks.nBlocks
    assert(touched <= 2, s"decoded $touched of $total blocks — lazy decode not skipping")
  }
}
