package graft.engine

import graft.index.{IndexBuilder, Postings}
import graft.model.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Block-max WAND top-k (SURVEY.md §2.6 T5, north rule) — sharded for
  * Spark's execution model:
  *
  *  - the salted SEGMENTS (docId-disjoint shards of every posting list) are
  *    the unit of parallelism: each (salt shard) runs a classic single-node
  *    block-max WAND over its sub-postings for every query, keeping a k-heap
  *    and skipping blocks whose upper bound can't reach the heap threshold;
  *  - each shard ranks its k + ε-tie candidates in the pinned (quantized
  *    score, natural key) order and ships at most k ([[ShardTail]]); the
  *    driver merges the shards' rows into the global top k.
  *
  * Global top-k ⊆ union of shard top-ks, so rank identity with the naive
  * plan is structural, not statistical. The ε slack ([[Eps]]) keeps any doc
  * that could still tie at the boundary after 1e-6 score quantization.
  *
  * Scale notes: a query touches `numSalts × |terms|` sub-posting rows; doc
  * upper bounds use per-term `idf × max(blockMax)` for pivoting and
  * per-block maxima for evaluation skipping. At 10^12 docs each shard's
  * sub-list is ~1/numSalts of the term's postings — numSalts scales with
  * the cluster, and no executor ever materializes a full hot-term list.
  */
object Wand {

  /** Threshold slack ≥ 2× the 1e-6 score-quantization grid (see class doc). */
  val Eps: Double = 1e-5

  /** How [[topKAt]] serves a batch. Every mode runs the same shard job;
    * results of [[Routed]], [[WandOnly]] and [[Exhaustive]] are identical
    * by construction.
    */
  sealed trait Mode extends Serializable

  /** Per query, the cheapest exact route: fast prefix, hybrid or WAND. */
  case object Routed extends Mode

  /** WAND for every query, fast and hybrid off: keeps a measurement of the
    * WAND path itself (the bench's `query_wand_*` leg) from becoming an
    * alias of the routed serving path.
    */
  case object WandOnly extends Mode

  /** The index plan: every doc holding a query term is scored (no pivot
    * pruning, no block skips), in WAND's summation order. The unpruned
    * reference the pruned routes are checked against.
    */
  case object Exhaustive extends Mode

  /** AND (§2.7 intersection, the reference's `CheckPredicate` analog,
    * `dgraph.go:130-145`): only docs holding every query term. A query
    * with an absent term runs nothing (routed absent).
    */
  case object Conjunctive extends Mode

  /** `(query_id, rank, repo, path, commit, score_r)` — rank-identical to
    * [[NaiveSearch.topK]] on every query.
    */
  def topK(spark: SparkSession, sfDir: String, querySet: Seq[Query], mode: Mode = Routed): DataFrame = {
    val (paths, _) = IndexBuilder.ensure(spark, sfDir)
    topKAt(spark, paths, querySet, mode = mode)
  }

  /** Same, against an already-built (complete) index — single-layer or
    * LAYERED (an [[graft.index.Incremental]] snapshot root). Layers are
    * doc-disjoint; a term's postings are the union of its layers' lists, so
    * each (term, layer) sub-list is its own WAND cursor, scored with the
    * term's global idf. The cursors are ordered by term, then layer: a doc
    * sits in at most one of a term's lists, so its score sums the same
    * terms in the same order as on a single layer, and the summed cursor
    * bounds stay sound. Older layers' block-max bounds are multiplied by
    * the layer's `boundScale = max(1, avgdl_now / avgdl_layer)`
    * (monotonicity bound, see [[graft.index.Incremental]]) so pruning stays
    * SOUND while exact scoring uses the current avgdl. Compaction resets
    * scales to 1.
    *
    * `mode` ([[Mode]]) picks how queries are served: routed per query
    * (the default), WAND only, exhaustive, or conjunctive. Every shard
    * query of the batch, whatever the mode, runs in ONE Spark job with no
    * exchange and no Dataset: every layer's pinned [[SegmentShard]] RDD
    * and the reader's key shards are zipped partition by partition
    * (partition i == salt i), each task looks every query term up in each
    * layer's shard, and each (salt shard, query) pair is
    * one independent WAND run inside the task, ranked there by
    * [[ShardTail.select]] to at most k finished rows. The driver merges
    * those with the fast-route rows and returns a LOCAL result, so the
    * shard job has run by the time this returns and collecting the result
    * runs no further job. Doc-salting is layer-independent, so a doc stays
    * in one salt shard across layers and shard runs remain docId-disjoint.
    * Decoded postings are memoized in the shard that holds them
    * ([[SegmentShard.blocks]]), so a steady-state query stream decodes each
    * hot sub-list once per pin, not per query. Per-term df and the fast
    * lists are driver lookups in the reader ([[IndexReader.termMeta]],
    * [[IndexReader.fastList]]), loaded at its first lookup: after that a
    * fast or absent request runs no Spark job and any other runs only the
    * shard job.
    */
  def topKAt(
      spark: SparkSession,
      paths: graft.index.IndexPaths,
      querySet: Seq[Query],
      metrics: Option[QueryMetrics] = None,
      repoScope: Option[Seq[String]] = None,
      mode: Mode = Routed): DataFrame = {
    val reader = IndexReader.get(spark, paths)
    val stats = reader.stats

    // Query-scoped corpus restriction (the reference's
    // `allow_external_links`-style filter, README.md:41): candidates outside
    // the scoped repos are rejected INSIDE the WAND evaluation loop — before
    // they can enter the heap — so the per-shard top-k is the top-k OF THE
    // SCOPE, not a post-filtered global top-k. Membership is exact and
    // answered inside the shard task from the key shard that already holds
    // every doc's repo ([[DocKeyShard.repoIn]]): no driver job, no
    // broadcast. Bounds stay sound: block maxima upper-bound every doc, a
    // fortiori the scoped subset.
    val repos = repoScope.map(ShardTail.repoBytes)

    val n = stats.nDocs
    val avgdl = stats.avgdl

    // FAST PATHS (v6 impact-ordered prefixes) — bench evidence for why:
    // block-max pruning never fires on a flat score distribution (q01
    // "func" evaluated all 598,902 candidates with 0 skips), so hot-term
    // queries need a sublinear candidate set, not better bounds. Routing:
    //
    //  - `single`: one present term, fast-listed → serve the prefix
    //    directly (driver-local rows, zero index jobs). O(k).
    //  - `hybrid`: ≥2 present terms of which EXACTLY ONE is fast-listed
    //    (the others have df < FastMinDf by definition) → a WAND run whose
    //    scope is prefix(hot) ∪ the shard's rare-list docs. SOUND: any doc
    //    outside the union contains ONLY the hot term and sits outside its
    //    prefix, so all FastK prefix docs precede it in the final total
    //    order (their totals only grow with rare-term contributions) — it
    //    cannot reach the top k ≤ FastK. This serves the classic "rare
    //    identifier + common keyword" query in O(k + Σ df_rare) scored
    //    candidates instead of O(N), in the same shard job as WAND.
    //  - `wand`: everything else — scoped queries, k > FastK, and queries
    //    with 2+ fast-listed terms (a doc containing several hot terms
    //    could outrank both prefixes, so prefix unions are unsound there).
    //
    // Only [[Routed]] takes the fast and hybrid routes; every other mode
    // sends each query with a present term to the shard job.
    //
    // The hybrid and WAND runs score with [[Postings.idf]]/[[Postings.tfNorm]],
    // like the fast-single path; those scalars MUST mirror BM25.score's
    // Column tree op-for-op (the bit-equality contract is documented and
    // spec-pinned at the mirror in [[Postings]] — change one side only and
    // rank identity with the naive plan silently breaks). Rank identity
    // across routes is then by construction, and the shared oracle pins it.
    val fastK = graft.index.IndexBuilder.FastK
    val metaAll = reader.termMeta(querySet.flatMap(_.terms).distinct)
    def presentOf(q: Query): Seq[String] = q.terms.distinct.filter(metaAll.contains)
    val routed = mode == Routed && repoScope.isEmpty
    def fastOf(q: Query): Seq[String] =
      if (routed && q.k <= fastK) presentOf(q).filter(t => reader.fastList(t).isDefined)
      else Nil
    val (fastSingleQs, rest) = querySet.partition(q =>
      presentOf(q).size == 1 && fastOf(q).size == 1)
    val (hybridQs, wandQs) = rest.partition(q => presentOf(q).size >= 2 && fastOf(q).size == 1)
    // an AND query with any absent term matches nothing
    val (absentQs, shardWandQs) = wandQs.partition(q => presentOf(q).isEmpty ||
      (mode == Conjunctive && presentOf(q).size < q.terms.distinct.size))
    metrics.foreach { m =>
      m.routedFast.add(fastSingleQs.size.toLong)
      m.routedHybrid.add(hybridQs.size.toLong)
      m.routedWand.add(shardWandQs.size.toLong)
      // all-terms-absent queries run NO route (404 analog, zero result rows);
      // counted separately so the four counters sum to the batch size
      m.routedAbsent.add(absentQs.size.toLong)
    }

    // FAST SINGLE — entirely driver-local, ZERO Spark jobs (v7): the
    // prefix carries (repo, path, commit) and is already in the final
    // (score_r desc, key asc) order, so the answer is take(k) + scalar
    // re-scoring ([[Postings.idf]]/[[Postings.tfNorm]] mirror the Column
    // tree op-for-op — bit-identical doubles, same oracle hash). The
    // round-4 bench showed this path's 0.27 s p50 was ~100% job-scheduling
    // overhead for 300 driver-resident rows.
    val fastLocal: Seq[(String, Int, String, String, String, Double)] =
      fastSingleQs.flatMap { q =>
        val fl = reader.fastList(presentOf(q).head).get
        val kk = math.min(q.k, fl.ids.length)
        metrics.foreach(_.candidates.add(kk.toLong))
        (0 until kk).map { i =>
          val raw = Postings.idf(fl.df, n) * Postings.tfNorm(fl.tfs(i), fl.dls(i), avgdl)
          (q.queryId, i + 1, fl.repos(i), fl.paths(i), fl.commits(i),
            graft.score.BM25.quantize(raw))
        }
      }

    val shardQs: Array[ShardQuery] = (hybridQs.map { q =>
      val hot = fastOf(q).head
      ShardQuery(q.queryId, q.k, presentOf(q).toArray, hot, reader.fastList(hot).get.sortedIds)
    } ++ shardWandQs.map(q => ShardQuery(q.queryId, q.k, presentOf(q).toArray, null, null))).toArray
    // only fast-single and/or all-terms-absent queries: answer from the
    // driver with ZERO Spark jobs (absent terms are the 404-with-null-results
    // analog and emit nothing)
    if (shardQs.isEmpty) return ShardTail.finish(spark, Nil, fastLocal)

    // Every layer's segment shards plus the key shards are zipped partition
    // by partition: the reader pins them all with partition i == salt i, so
    // one task sees ALL of a (salt, query)'s sub-lists and the doc keys of
    // that salt. zipPartitions throws if the partition counts ever differ,
    // and each segment shard's salt is checked against the key shard's, so
    // misalignment fails loudly instead of splitting a shard's terms across
    // tasks. Per-term idf and per-layer bound scales come from the driver.
    val idfs: Map[String, Double] =
      shardQs.flatMap(_.terms).distinct.map(t => t -> Postings.idf(metaAll(t), n)).toMap
    val scales = reader.layers.map(_.boundScale).toArray
    val prune = mode != Exhaustive
    val rows = reader.shards
      .zipPartitions(reader.keys) { (segs, shards) =>
        val shard = shards.next()
        val layerShards = segs.toArray
        layerShards.foreach(s => shard.requireSalt(s.salt))
        val scopeFn: Long => Boolean = repos match {
          case None => _ => true
          case Some(rs) => d => { val i = shard.indexOf(d); i >= 0 && shard.repoIn(i, rs) }
        }
        // per term, its sub-list in each layer that holds one, oldest first
        val byTerm = idfs.map { case (t, idf) =>
          t -> layerShards.indices.flatMap { li =>
            val seg = layerShards(li)
            val i = seg.indexOf(t)
            if (i < 0) None
            else {
              val bm = seg.blockMax(i)
              Some(TermList(t, idf, seg.blocks(i), if (scales(li) == 1.0) bm else bm.map(_ * scales(li))))
            }
          }
        }
        shardQs.iterator.flatMap { q =>
          val lists = q.terms.toSeq.flatMap(byTerm(_))
          // AND: a term with no sub-list here leaves this shard no match
          if (lists.isEmpty || (mode == Conjunctive && q.terms.exists(byTerm(_).isEmpty))) Iterator.empty
          else {
            val decodedBefore =
              if (metrics.isDefined) lists.iterator.map(_.blocks.decodedBlocks.toLong).sum else 0L
            val counters = new WandCounters
            val inScope =
              if (q.hot != null) q.hybridScope(lists)
              else if (mode == Conjunctive) { val all = inAll(lists); (d: Long) => all(d) && scopeFn(d) }
              else scopeFn
            val hits = ShardTail.select(shard, q.queryId, q.k,
              wandShardTopK(lists, q.k, avgdl, counters, inScope, prune))
            metrics.foreach { m =>
              m.candidates.add(counters.evaluated)
              m.blockSkips.add(counters.skips)
              m.blocksDecoded.add(lists.iterator.map(_.blocks.decodedBlocks.toLong).sum - decodedBefore)
              m.tailRows.add(hits.length.toLong)
            }
            hits.iterator
          }
        }
      }
      .collect()
    ShardTail.finish(spark, rows.toSeq, fastLocal)
  }

  /** One query of the shard job. `hot` and `prefix` (the hot term's fast
    * prefix ids, sorted) are set for a hybrid query, null for WAND.
    */
  private[engine] final case class ShardQuery(queryId: String, k: Int, terms: Array[String], hot: String, prefix: Array[Long]) {

    /** Hybrid candidate membership in one shard: the prefix ids plus every
      * doc of the shard's rare lists.
      */
    def hybridScope(lists: Seq[TermList]): Long => Boolean = {
      val ids = (prefix.iterator ++ lists.iterator.filter(_.term != hot).flatMap { tl =>
        Iterator.range(0, tl.blocks.count).map(tl.blocks.id)
      }).toArray
      java.util.Arrays.sort(ids)
      d => java.util.Arrays.binarySearch(ids, d) >= 0
    }
  }

  /** AND membership in one shard: the docs present in every query term.
    * A term's postings are the union of its lists (one per layer), so a
    * doc holds the term if any of them holds it. Walks the term with the
    * fewest postings in doc order and seeks the other terms' lists
    * block-lazily, so blocks that hold no doc of the shortest term are
    * never decoded. Block maxima bound every doc, a fortiori the
    * intersection, so WAND's pruning stays sound under this scope.
    */
  def inAll(lists: Seq[TermList]): Long => Boolean = {
    val terms = lists.groupBy(_.term).values.map(_.map(_.blocks).toArray).toArray
      .sortBy(_.iterator.map(_.count.toLong).sum)
    if (terms.length <= 1) _ => true
    else {
      val shortest = terms.head.flatMap(b => Iterator.range(0, b.count).map(b.id))
      java.util.Arrays.sort(shortest)
      val others = terms.tail
      val pos = others.map(ls => new Array[Int](ls.length))
      val ids = shortest.filter { d =>
        var i = 0
        var all = true
        while (all && i < others.length) {
          val ls = others(i)
          var any = false
          var j = 0
          while (!any && j < ls.length) {
            pos(i)(j) = ls(j).seek(pos(i)(j), d)
            any = pos(i)(j) < ls(j).count && ls(j).id(pos(i)(j)) == d
            j += 1
          }
          all = any
          i += 1
        }
        all
      }
      d => java.util.Arrays.binarySearch(ids, d) >= 0
    }
  }

  /** One term's shard sub-postings, accessed block-lazily: the cursor's
    * seeks route through the block directory ([[Postings.PostingsBlocks]]),
    * so skipped blocks are never DECOMPRESSED, not just never scored.
    */
  final case class TermList(
      term: String, idf: Double,
      blocks: Postings.PostingsBlocks, blockMax: Array[Double]) {
    def maxScore: Double = if (blockMax.isEmpty) 0.0 else idf * blockMax.max
    def blockUpper(pos: Int): Double = idf * blockMax(pos / Postings.BlockSize)
  }

  /** Primitive bounded min-heap of the top-k scores seen — replaces the
    * boxed `PriorityQueue[Double]` in the WAND kernels (r6: one boxed
    * Double allocation per evaluated candidate on a hot-term query was
    * measurable at ~600k evaluations/query).
    */
  private[engine] final class ScoreHeap(k: Int) {
    private val a = new Array[Double](math.max(k, 1))
    var size: Int = 0
    def min: Double = a(0)
    def threshold: Double = if (size < k) Double.NegativeInfinity else a(0) - Eps
    def add(v: Double): Unit = {
      if (size < k) {
        a(size) = v; size += 1
        var i = size - 1
        while (i > 0 && a((i - 1) / 2) > a(i)) {
          val t = a(i); a(i) = a((i - 1) / 2); a((i - 1) / 2) = t; i = (i - 1) / 2
        }
      } else if (v > a(0)) {
        a(0) = v
        var i = 0
        var cont = true
        while (cont) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < size && a(l) < a(m)) m = l
          if (r < size && a(r) < a(m)) m = r
          if (m == i) cont = false
          else { val t = a(i); a(i) = a(m); a(m) = t; i = m }
        }
      }
    }
  }

  /** Single-list block-max top-k — the hot-term shape ([[wandShardTopK]]
    * with one cursor degenerates to exactly this loop, minus its
    * per-iteration cursor sort/filter allocations): walk the list block by
    * block, skip a whole block when its bound cannot reach the heap
    * threshold, otherwise evaluate in place. Identical results to the
    * generic kernel by construction (same threshold, same Eps tie slack,
    * same scope handling); WandSpec pins kernel-vs-brute-force identity.
    */
  private def singleListTopK(
      tl: TermList, k: Int, avgdl: Double,
      counters: WandCounters, inScope: Long => Boolean, prune: Boolean): Seq[(Long, Double)] = {
    val b = tl.blocks
    val heap = new ScoreHeap(k)
    val evaluated = mutable.ArrayBuffer.empty[(Long, Double)]
    var pos = 0
    while (pos < b.count) {
      if (prune && tl.blockUpper(pos) < heap.threshold) {
        // the whole current block is bounded under the threshold — hop to
        // the next block start without decoding (the directory knows it)
        if (counters != null) counters.skips += 1
        pos = (pos / Postings.BlockSize + 1) * Postings.BlockSize
      } else {
        val end = math.min((pos / Postings.BlockSize + 1) * Postings.BlockSize, b.count)
        while (pos < end) {
          val doc = b.id(pos)
          if (inScope(doc)) {
            if (counters != null) counters.evaluated += 1
            val score = tl.idf * Postings.tfNorm(b.tf(pos), b.dl(pos), avgdl)
            if (score >= heap.threshold || heap.size < k) {
              evaluated += ((doc, score))
              heap.add(score)
            }
          }
          pos += 1
        }
      }
    }
    finishTies(evaluated, heap.threshold)
  }

  /** Classic block-max WAND over block-lazy shard sub-postings.
    * Returns every doc whose exact score ≥ (k-th best − [[Eps]]).
    * `counters` (optional) collects evaluated-doc and BMW-skip counts for
    * [[QueryMetrics]]. With `prune = false` ([[Exhaustive]]) pivot
    * selection and block skips compare against −∞, so every in-scope doc
    * is scored, in the same summation order; the heap threshold still
    * filters what is returned.
    */
  def wandShardTopK(
      lists: Seq[TermList], k: Int, avgdl: Double,
      counters: WandCounters = null,
      inScope: Long => Boolean = _ => true,
      prune: Boolean = true): Seq[(Long, Double)] = {
    if (lists.isEmpty || k <= 0) return Nil
    if (lists.size == 1) return singleListTopK(lists.head, k, avgdl, counters, inScope, prune)
    final class Cursor(val tl: TermList) { var pos: Int = 0
      def doc: Long = tl.blocks.id(pos)
      def done: Boolean = pos >= tl.blocks.count
      /** seek to first posting with docId >= target: block-directory search
        * first (no decode), then one in-block binary search
        */
      def seek(target: Long): Unit = pos = tl.blocks.seek(pos, target)
    }
    val cursors = lists.map(new Cursor(_)).toArray
    val heap = new ScoreHeap(k)
    val evaluated = mutable.ArrayBuffer.empty[(Long, Double)]

    def threshold: Double = heap.threshold
    // what pivot selection and block skips compare against
    def bound: Double = if (prune) heap.threshold else Double.NegativeInfinity

    // active-cursor maintenance in place (r6): the loop previously allocated
    // a filterNot array + a sortBy array + boxed comparator calls PER
    // ITERATION — on a 3-term query that was ~1 µs of allocation per
    // advanced posting (q08 task-CPU ~1 s for 5.7k evaluations). `sorted`
    // holds the live cursors in [0, nActive), insertion-sorted by doc —
    // nearly sorted between iterations, so the re-sort is ~n comparisons.
    val sorted = new Array[Cursor](cursors.length)
    var nActive = 0
    cursors.foreach { c => if (!c.done) { sorted(nActive) = c; nActive += 1 } }
    while (nActive > 0) {
      // drop exhausted cursors, then insertion-sort by current doc
      var w = 0
      var r = 0
      while (r < nActive) {
        if (!sorted(r).done) { sorted(w) = sorted(r); w += 1 }
        r += 1
      }
      nActive = w
      if (nActive == 0) return finishTies(evaluated, threshold)
      var si = 1
      while (si < nActive) {
        val c = sorted(si)
        val cd = c.doc
        var sj = si - 1
        while (sj >= 0 && sorted(sj).doc > cd) { sorted(sj + 1) = sorted(sj); sj -= 1 }
        sorted(sj + 1) = c
        si += 1
      }
      // find pivot: smallest prefix whose summed term upper bounds reach threshold
      var acc = 0.0
      var p = -1
      var i = 0
      while (i < nActive && p < 0) {
        acc += sorted(i).tl.maxScore
        if (acc >= bound) p = i
        i += 1
      }
      if (p < 0) return finishTies(evaluated, threshold)
      val pivotDoc = sorted(p).doc
      if (sorted(0).doc == pivotDoc) {
        // refined bound from the block maxima at the current positions —
        // over EVERY cursor sitting on pivotDoc, not just the pivot prefix
        // (cursors beyond p can share pivotDoc and contribute score)
        var blockUb = 0.0
        var j = 0
        while (j < nActive && (j <= p || sorted(j).doc == pivotDoc)) {
          blockUb += sorted(j).tl.blockUpper(sorted(j).pos); j += 1
        }
        if (blockUb >= bound) {
          if (inScope(pivotDoc)) {
            if (counters != null) counters.evaluated += 1
            var score = 0.0
            cursors.foreach { c =>
              if (!c.done) {
                if (c.doc < pivotDoc) c.seek(pivotDoc)
                if (!c.done && c.doc == pivotDoc)
                  score += c.tl.idf * Postings.tfNorm(c.tl.blocks.tf(c.pos), c.tl.blocks.dl(c.pos), avgdl)
              }
            }
            if (score >= threshold || heap.size < k) {
              evaluated += ((pivotDoc, score))
              heap.add(score)
            }
          }
          // advance every cursor sitting on pivotDoc (scoped-out docs are
          // skipped WITHOUT scoring — they never enter the heap, so the
          // threshold reflects the scope's own top-k)
          var ai = 0
          while (ai < nActive) {
            val c = sorted(ai)
            if (!c.done && c.doc == pivotDoc) c.pos += 1
            ai += 1
          }
        } else {
          // BMW block skip (Ding & Suel): the per-block bound over the
          // pivot set stays valid until the earliest of (a) some pivot-set
          // cursor crossing its block boundary, (b) the first cursor
          // beyond the set entering the window — so every doc in
          // [pivotDoc, d) is bounded < threshold and the whole window is
          // skipped WITHOUT decompressing its blocks (seek's block
          // directory + first-id fast path).
          if (counters != null) counters.skips += 1
          var d = Long.MaxValue
          var j = 0
          var beyond = -1
          while (j < nActive) {
            val inSet = j <= p || sorted(j).doc == pivotDoc
            if (inSet) {
              val nf = sorted(j).tl.blocks.nextBlockFirstId(sorted(j).pos)
              if (nf < d) d = nf
            } else if (beyond < 0) beyond = j
            j += 1
          }
          if (beyond >= 0 && sorted(beyond).doc < d) d = sorted(beyond).doc
          if (d == Long.MaxValue) {
            // every pivot-set list is in its final block and nothing lies
            // beyond: the bound holds to the end of all lists
            return finishTies(evaluated, threshold)
          }
          j = 0
          while (j < nActive && (j <= p || sorted(j).doc == pivotDoc)) {
            sorted(j).seek(d); j += 1
          }
        }
      } else {
        // advance all cursors before the pivot up to pivotDoc
        var j = 0
        while (j < p) { sorted(j).seek(pivotDoc); j += 1 }
      }
      // termination guard: exhausted cursors are dropped at the loop top
    }
    finishTies(evaluated, threshold)
  }

  private def finishTies(evaluated: mutable.ArrayBuffer[(Long, Double)], thr: Double): Seq[(Long, Double)] =
    if (thr == Double.NegativeInfinity) evaluated.toSeq
    else evaluated.filter(_._2 >= thr).toSeq
}
