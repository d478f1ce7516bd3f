package graft

import graft.engine.SegmentShard
import graft.index.Postings
import org.scalatest.funsuite.AnyFunSuite

/** The pinned per-salt segments ([[SegmentShard]]): exact term lookup, one
  * memoized block-lazy handle per sub-list however many threads ask for
  * it, and a row of the wrong salt refused.
  */
class SegmentShardSpec extends AnyFunSuite {

  private def row(salt: Int, term: String, n: Int): SegmentShard.Row = {
    val ids = Array.tabulate(n)(i => (i * 3 + 1).toLong)
    val tfs = Array.tabulate(n)(i => 1 + (i % 5))
    val dls = Array.tabulate(n)(i => 10L + (i % 7))
    val e = Postings.encode(term, ids, tfs, dls, avgdl = 12.0)
    (salt, term, n.toLong, e.postings, e.dls, e.blockMax, e.blockDir)
  }

  test("concurrent lookups: one shared handle per term, content intact") {
    val terms = (0 until 64).map(t => s"t$t")
    val shard = SegmentShard.build(0, scala.util.Random.shuffle(terms.zipWithIndex.map { case (t, i) =>
      row(0, t, 200 + i) }).iterator)
    assert(shard.size === terms.size && shard.indexOf("absent") < 0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Postings.PostingsBlocks]
    val threads = (0 until 16).map { ti =>
      new Thread(() => {
        try {
          val rnd = new scala.util.Random(ti)
          (0 until 2000).foreach { _ =>
            val t = rnd.nextInt(terms.size)
            val i = shard.indexOf(terms(t))
            val h = shard.blocks(i)
            val prev = seen.putIfAbsent(terms(t), h)
            if (prev != null) assert(prev eq h, s"two live handles for ${terms(t)}")
            // spot-check content through the lazy decode path
            assert(shard.count(i) === 200L + t && h.count === 200 + t)
            assert(h.id(0) === 1L && h.tf(h.count - 1) === 1 + ((h.count - 1) % 5))
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent lookup failed: ${Option(errors.peek()).map(_.toString)}")
  }

  test("a segments row of another salt throws") {
    val e = intercept[IllegalStateException](
      SegmentShard.build(1, Iterator(row(1, "ok", 10), row(2, "stray", 10))))
    assert(e.getMessage.contains("stray"))
  }
}
