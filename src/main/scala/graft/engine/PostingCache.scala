package graft.engine

import graft.index.Postings
import java.util.{LinkedHashMap => JLinkedHashMap}

/** Executor-local posting-list cache — the engine analog of a search
  * engine's block cache (the reference holds its Dgraph LRU cache resident,
  * `deployments/docker-compose.yaml --lru_mb`).
  *
  * Round 1 re-decoded every hot posting list on EVERY query (q01 "func" =
  * ~600k postings × 16 shards per call — the 73 s WAND p99 in BENCH_r01).
  * This memoizes block-lazy [[Postings.PostingsBlocks]] handles per
  * (build, layer, salt, term), one per salt-shard sub-list the shard job
  * ([[Wand.topKAt]]) reads: a block is decompressed at most once per
  * executor, and only if a query's cursor actually lands in it.
  *
  * STRIPED for service concurrency (round-2 finding: one global JVM lock
  * serialized every cache hit across 32 query threads): keys hash into
  * [[NumStripes]] independent LRU shards, each with its own lock and its
  * own `maxPostings / NumStripes` budget — total memory bound unchanged,
  * lock contention cut by the stripe count. The bound counts postings HELD
  * (decoded or not, an upper bound on the decoded footprint ≈24 B each).
  * The key embeds the index root + snapshot version + build stats + a
  * stats-write nonce ([[IndexReader]] `cacheTag`), so ANY rebuild — same
  * stats or not — can never serve stale arrays. On a multi-executor
  * cluster each executor caches the shards it serves.
  */
object PostingCache {

  /** Max postings held across cached lists (≈24 B each decoded → ~400 MB
    * at the default; env `GRAFT_MAX_CACHED_POSTINGS`, see [[graft.Config]]).
    */
  @volatile var maxPostings: Long = graft.Config.maxCachedPostings

  private val NumStripes = 16

  /** Postings held across ALL stripes — the eviction budget is global, not
    * per-stripe: a hot-term set that happens to hash into one stripe may
    * fill it to the whole [[maxPostings]] budget while other stripes sit
    * empty, instead of thrashing at 1/16 of it (round-3 advice). Each
    * stripe still evicts only under its own lock (within the accessed
    * stripe), so the striping's contention win is unchanged; the global
    * total is a lock-free atomic.
    *
    * FAIR-SHARE FLOOR: eviction drains the accessed stripe only while it
    * holds MORE than `maxPostings / NumStripes` — without the floor, a hot
    * stripe pinned at the whole budget (whose hits never evict) would make
    * every miss in every OTHER stripe drain that stripe to ~1 entry
    * forever (re-introducing the round-1 repeated-decode pattern for all
    * non-hot terms). With the floor, each stripe always retains up to its
    * fair share; the worst-case total is therefore bounded by
    * `2 × maxPostings` (one over-full stripe + 15 fair shares), which is
    * the documented memory bound.
    */
  private val totalHeld = new java.util.concurrent.atomic.AtomicLong(0L)

  private final class Stripe {
    var held: Long = 0L
    val lru = new JLinkedHashMap[String, Postings.PostingsBlocks](128, 0.75f, true)
  }

  private val stripes = Array.fill(NumStripes)(new Stripe)

  private def stripeOf(key: String): Stripe =
    stripes(math.floorMod(key.hashCode, NumStripes))

  /** Memoized block-lazy handle for the sub-list of `term` in salt shard
    * `salt` of one (build, layer).
    */
  def open(tag: String, salt: Int, term: String, count: Long,
      postings: Array[Byte], dls: Array[Byte], blockDir: Array[Byte]): Postings.PostingsBlocks = {
    val key = s"$tag#$salt#$term"
    val s = stripeOf(key)
    s.synchronized {
      val hit = s.lru.get(key)
      if (hit != null) return hit
    }
    // directory parse outside the lock (block decode itself is lazy)
    val blocks = Postings.PostingsBlocks.fromEncoded(count, postings, dls, blockDir)
    s.synchronized {
      val race = s.lru.get(key)
      if (race != null) return race
      s.lru.put(key, blocks)
      s.held += blocks.count
      totalHeld.addAndGet(blocks.count)
      // evict within THIS stripe while the GLOBAL total is over budget, but
      // never below the stripe's fair share (see class doc: the floor keeps
      // one over-full hot stripe from starving every other stripe; a lone
      // hot stripe may still hold the whole budget)
      val fairShare = math.max(1L, maxPostings / NumStripes)
      val it = s.lru.entrySet().iterator()
      while (totalHeld.get() > maxPostings && s.held > fairShare && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          s.held -= e.getValue.count
          totalHeld.addAndGet(-e.getValue.count)
          it.remove()
        }
      }
      blocks
    }
  }

  /** Drop every entry of one index root (called on rebuild/invalidate);
    * best-effort hygiene — correctness rests on the per-build cache tag.
    */
  def invalidatePrefix(rootPrefix: String): Unit = stripes.foreach { s =>
    s.synchronized {
      val it = s.lru.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(rootPrefix)) {
          s.held -= e.getValue.count
          totalHeld.addAndGet(-e.getValue.count)
          it.remove()
        }
      }
    }
  }
}
