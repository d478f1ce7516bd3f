package graft.engine

import graft.index.{Incremental, IndexBuilder, IndexPaths, IndexStats, Postings, Snapshots, TermHash}
import graft.score.BM25
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** One layer of a (possibly layered) index root. Layers are doc-disjoint;
  * a term's postings are the union of its layers' lists, each holding
  * only that layer's docs.
  *
  * `avgdl` is the layer's encode-time average doc length: block-max bounds
  * inside the layer were computed on that grid. `boundScale` is the WAND
  * soundness factor `max(1, avgdl_current / avgdl)` (see
  * [[graft.index.Incremental]] for the monotonicity proof) — exact layers
  * (the newest, or any compacted root) have scale 1.0.
  *
  * `shards` is the layer's one pin: its salted segments as one
  * [[SegmentShard]] per salt, partition i == salt i. Every route looks its
  * terms up there, and the reader's term dictionary is loaded from it.
  */
final case class IndexLayer(
    paths: IndexPaths,
    avgdl: Double,
    boundScale: Double,
    shards: RDD[SegmentShard])

/** A resident handle on one published index root — the engine analog of
  * the reference API server holding its Dgraph connection pool open across
  * requests (`pkg/database/relationship/dgraph.go:25-35`): the layers of
  * the current snapshot ([[Snapshots.open]]), one [[SegmentShard]] per
  * (layer, salt) and one [[DocKeyShard]] per salt (the natural doc keys
  * the ranking tail needs) are loaded once and kept persisted, so
  * per-query work is pruning + decode + score: a request looks its terms
  * up in pinned objects and plans no DataFrame. A root without a
  * published snapshot is refused.
  *
  * What a lookup needs lives on the driver: an exact [[TermDict]] of every
  * term's global df and every hot term's fast list, both loaded once at
  * the reader's first lookup ([[termMeta]], [[fastList]]); the fast lists
  * are ranked from the pins, built where they are read. After that a
  * fast or absent request runs no Spark job and every other request runs
  * exactly one, the shard job ([[Wand.topKAt]]) — the reference's
  * cache-or-404 lifecycle (`api/http.go:87-91`).
  *
  * Layered roots (incremental adds, [[graft.index.Incremental.addBatch]])
  * are served directly. Layers are doc-disjoint; a term's postings are the
  * union of its layers' lists, so its df is their summed counts and the
  * query paths read every layer's sub-list of each term. The key shards
  * are built from the union of the per-layer docs sidecars — the
  * reference's query-over-live-store
  * behavior (`dgraph.go:62-92`, `FindNode` serves whatever has been
  * upserted). The key shards also answer repo scopes: no request reads the
  * docs sidecars.
  *
  * At 10^12-doc scale you would pin only the term metadata and let posting
  * blocks stream from storage; at bench scale the whole index fits and the
  * pins model the steady-state service. The fast lists are ranked once
  * per reader open, not once per publish: every serving process pays the
  * ranking job once per snapshot it opens, and no write pays it.
  */
final case class IndexReader(
    spark: SparkSession, paths: IndexPaths, stats: IndexStats, snapshotVersion: Int,
    layers: Seq[IndexLayer], keys: RDD[DocKeyShard]) {

  /** True once the session this reader was opened in has stopped. */
  def stopped: Boolean = spark.sparkContext.isStopped

  /** Every layer's segment shards zipped partition by partition: partition
    * i yields each layer's shard of salt i, oldest layer first. Both the
    * shard job ([[Wand.topKAt]]) and the dictionary load run over it.
    */
  val shards: RDD[SegmentShard] = layers.map(_.shards).reduce((a, b) => a.zipPartitions(b)(_ ++ _))

  /** The term dictionary and the fast lists, loaded together at the first
    * lookup: one job over [[shards]] (it also materializes the layer pins)
    * returns each salt's terms and sub-list counts merged over its layers,
    * and the driver merges the salts; then one job over [[shards]] zipped
    * with [[keys]] (it also materializes the key shards) ranks the hot
    * terms' fast lists ([[IndexReader.rankFastLists]]). A lazy val, so
    * concurrent first requests wait for one load rather than each running it.
    */
  private lazy val lookups: (TermDict, Map[String, FastList]) = {
    val sc = spark.sparkContext
    val perSalt = IndexReader.described(sc, IndexReader.DictionaryJob)(
      shards.mapPartitions(it => Iterator(TermDict(it.flatMap(_.entries)))).collect())
    val dict = perSalt.reduce(TermDict.merge)
    val hot = dict.withDfAtLeast(IndexBuilder.FastMinDf).toArray
    (dict, IndexReader.described(sc, IndexReader.RankingJob)(
      IndexReader.rankFastLists(shards, keys, hot, layers.map(_.boundScale).toArray, stats)))
  }

  /** Global df per term for query planning (idf is a per-term constant
    * over the WHOLE corpus), looked up in the driver [[TermDict]]. Layers
    * are doc-disjoint, so a term's summed sub-list counts are its df.
    * Only the reader's first lookup runs a job (the load); every later one
    * runs none. Absent terms are omitted (the 404 analog).
    */
  def termMeta(terms: Seq[String]): Map[String, Long] =
    terms.distinct.map(t => t -> termDict.df(t)).filter(_._2 > 0).toMap

  /** The reader's term dictionary, loaded at its first lookup. */
  def termDict: TermDict = lookups._1

  /** The impact-ordered top-[[IndexBuilder.FastK]] prefix of one term:
    * parallel arrays in the FINAL total order, including the natural doc
    * keys — present only for hot terms (df ≥ [[IndexBuilder.FastMinDf]]).
    * Ranked by the reader itself at the root's CURRENT stats from every
    * layer's lists, so a layered root's prefixes are never stale. A driver
    * lookup: only the reader's first lookup runs jobs (the load).
    */
  def fastList(term: String): Option[FastList] = lookups._2.get(term)

  /** Forces the load of the term dictionary and the fast lists, so the
    * next request pays no load. `terms` is not needed: every fast list is
    * loaded.
    */
  def prefetchFastLists(terms: Seq[String]): Unit = { lookups; () }
}

/** One term's driver-resident impact-ordered prefix, ranked at the
  * reader's first lookup ([[IndexReader.fastList]]): parallel arrays,
  * already in the final (score_r desc, key asc) order. `sortedIds` is the
  * prefix's ids in ascending order, the hybrid route's candidate scope.
  */
final case class FastList(
    df: Long, ids: Array[Long], tfs: Array[Int], dls: Array[Long],
    repos: Array[String], paths: Array[String], commits: Array[String]) {
  val sortedIds: Array[Long] = ids.sorted
}

object IndexReader {

  // keyed by (session identity, root): DataFrames are bound to the session
  // that created them. Entries for STOPPED sessions are evicted on access
  // (sequential suites in one JVM must not alias a dead session's plans).
  private val cache = TrieMap.empty[(Int, String), IndexReader]
  // guards open(): TrieMap.getOrElseUpdate may evaluate the thunk on BOTH
  // racing threads, and the loser's persisted layer shards would leak
  // executor storage memory for the session's lifetime (round-3 advice).
  // open() itself is metadata reads + LAZY persists (no Spark jobs), so a
  // single lock adds no contention worth striping.
  private val openLock = new Object

  def get(spark: SparkSession, paths: IndexPaths): IndexReader = {
    val key = (System.identityHashCode(spark), paths.root)
    cache.get(key).foreach { r => if (r.stopped) cache.remove(key) }
    cache.get(key).getOrElse(openLock.synchronized {
      cache.getOrElseUpdate(key, open(spark, paths))
    })
  }

  /** Open a published root ([[Snapshots.open]] checks it): the segment
    * shards of every layer and the key shards over the layers' docs union.
    * Pins are lazy, and so are the term dictionary and fast lists: no Spark
    * job runs here.
    */
  private def open(spark: SparkSession, paths: IndexPaths): IndexReader = {
    val root = Snapshots.open(paths.root)
    val stats = root.stats
    val layers = root.layers.map { case (layer, layerStats) =>
      // explicit schema: an EMPTY delta layer (replayed batch) has no
      // parquet files to infer from
      val shards = pinShards(spark.read.schema(IndexBuilder.SegmentsSchema)
        .parquet(layer.segmentsDir), stats.numSalts)
      IndexLayer(layer, layerStats.avgdl, math.max(1.0, stats.avgdl / layerStats.avgdl), shards)
    }
    IndexReader(spark, paths, stats, root.snapshot.version, layers,
      pinKeys(Incremental.mergedDocs(spark, root.snapshot.layers), stats.numSalts))
  }

  /** Pin a segments layer as one [[SegmentShard]] per salt, partition i
    * holding exactly salt i (`repartitionById`; a hash repartition on
    * `salt` would scatter salts over partitions unevenly — 4 salts hashed
    * to partitions 3, 3, 2, 3 — and serialize shard runs that should run in
    * parallel).
    *
    * Alignment invariant the shard job relies on: partition i == salt i in
    * EVERY layer of the root and in the key shards ([[pinKeys]]), and doc
    * salting does not depend on the layer. So zipping the layers' and the
    * key shards' partitions positionally ([[IndexReader.shards]]) gives one
    * task ALL of a (salt, query)'s sub-lists across layers plus the shard's
    * doc keys — shard runs stay docId-disjoint with no exchange.
    */
  private def pinShards(segs: DataFrame, numSalts: Int): RDD[SegmentShard] = {
    import segs.sparkSession.implicits._
    // planned with AQE off: under AQE `.rdd` would run the exchange now,
    // and open() must stay free of Spark jobs
    val rows = withoutAqe(segs.sparkSession) {
      segs.select("salt", "term", "df", "postings", "dls", "block_max", "block_dir")
        .repartitionById(numSalts, col("salt"))
        .as[SegmentShard.Row].rdd
    }
    rows.mapPartitionsWithIndex((salt, it) => Iterator(SegmentShard.build(salt, it)),
      preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Pin the natural doc keys as one [[DocKeyShard]] per salt, partition
    * i == salt i (see [[pinShards]]): a sorted doc_id array plus UTF-8 key
    * bytes, built once from the docs union at the first query. The
    * ranking tail looks candidates up here inside the shard task, and repo
    * scopes are checked here too ([[DocKeyShard.repoIn]]), so no request
    * joins against or scans the corpus-sized docs relation.
    */
  private def pinKeys(docs: DataFrame, numSalts: Int): RDD[DocKeyShard] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // planned with AQE off: under AQE `.rdd` would run the exchange now,
    // and open() must stay free of Spark jobs
    val rows = withoutAqe(spark) {
      docs.select("doc_id", "repo", "path", "commit")
        .repartitionById(numSalts, TermHash.saltCol(col("doc_id"), numSalts))
        .as[(Long, String, String, String)].rdd
    }
    rows.mapPartitionsWithIndex((salt, it) => Iterator(DocKeyShard.build(salt, numSalts, it)),
      preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Persist with the partitioning/ordering STATICALLY visible to consumers.
    * Under AQE (Spark 4 default) a cached query compiles as an
    * `AdaptiveSparkPlan` whose output partitioning consumers cannot trust,
    * so every downstream consumer re-exchanges the cached side — exactly
    * the per-query cost the pin exists to remove. The cached plan is
    * captured at `persist()` time, so AQE is off around just that call
    * ([[withoutAqe]]): the CACHE BUILD of a pinned relation is a
    * single deliberate exchange+sort that needs no adaptivity, while every
    * query over it still runs with AQE on.
    */
  private[graft] def persistPartitioned(df: DataFrame): DataFrame =
    withoutAqe(df.sparkSession)(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Run `f` (a persist or an RDD conversion: plan capture, no job) with
    * AQE disabled on the session.
    *
    * Concurrency: the whole toggle-run-restore runs under one global lock —
    * two unsynchronized callers could otherwise interleave their
    * read-prev/set/restore and leave AQE disabled for the session (thread A
    * reads "true"/sets false, thread B reads "false", A restores "true",
    * B "restores" false). `f` runs no job, so the critical section is
    * cheap. A query PLANNED by an unrelated thread inside the window still
    * compiles without AQE — correct, marginally less adaptive, and bounded
    * to the call.
    */
  private val pinLock = new Object

  private def withoutAqe[A](spark: SparkSession)(f: => A): A = pinLock.synchronized {
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  /** Job descriptions of the load's two jobs, which tell them apart. */
  private[graft] val DictionaryJob = "graft: term dictionary"
  private[graft] val RankingJob = "graft: fast-list ranking"

  /** Run `f` under the Spark job description `what`. */
  private def described[A](sc: org.apache.spark.SparkContext, what: String)(f: => A): A = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try f finally sc.setJobDescription(prev)
  }

  /** A fast-list entry: its final-order row (keyed by term) and doc_id, tf, dl. */
  private type FastRow = (TailRow, Long, Int, Long)
  private val fastOrder: Ordering[FastRow] = ShardTail.order.on(_._1)

  /** Every `hot` term's fast list (`(term, global df)` pairs) ranked at
    * `stats`, in one job over the zipped layer shards and key shards.
    * Salt shards are doc-disjoint, so a term's top FastK lies inside the
    * union of the salts' top FastK in the final order ([[ShardTail.order]],
    * the partial-then-merge top-k every shard request relies on). Each
    * task ranks its salt: each layer's sub-list gives its exact top FastK
    * plus boundary ties ([[SegmentShard.topCandidates]]: block-max pruned,
    * bounds widened by the layer's bound scale, decoded outside the block
    * memo), a candidate without a key row is dropped (as in
    * [[ShardTail.select]]), and the salt's top FastK of their union leaves
    * the task. The driver merges the salts' lists. Scores are
    * [[Postings.idf]] × [[Postings.tfNorm]] at the current n and avgdl,
    * quantized, as on every route.
    */
  private def rankFastLists(
      shards: RDD[SegmentShard], keys: RDD[DocKeyShard], hot: Array[(String, Long)],
      scales: Array[Double], stats: IndexStats): Map[String, FastList] = {
    val (n, avgdl, k) = (stats.nDocs, stats.avgdl, IndexBuilder.FastK)
    val perSalt = shards.zipPartitions(keys) { (segs, ks) =>
      val keyShard = ks.next()
      val layerShards = segs.toArray
      layerShards.foreach(s => keyShard.requireSalt(s.salt))
      hot.iterator.map { case (term, df) =>
        val idf = Postings.idf(df, n)
        val rows = layerShards.indices.iterator.flatMap { li =>
          val i = layerShards(li).indexOf(term)
          if (i < 0) Iterator.empty else layerShards(li).topCandidates(i, df, n, avgdl, k, scales(li))
        }.flatMap { case (id, tf, dl) =>
          val pos = keyShard.indexOf(id)
          if (pos < 0) None
          else Some((TailRow(term, k, BM25.quantize(idf * Postings.tfNorm(tf, dl, avgdl)),
            keyShard.field(pos, 0), keyShard.field(pos, 1), keyShard.field(pos, 2)), id, tf, dl))
        }.toArray
        term -> rows.sorted(fastOrder).take(k)
      }
    }.collect()
    val dfOf = hot.toMap
    perSalt.groupBy(_._1).map { case (term, parts) =>
      val top = parts.flatMap(_._2).sorted(fastOrder).take(k)
      def str(key: TailRow => Array[Byte]) = top.map(r => new String(key(r._1), UTF_8))
      term -> FastList(dfOf(term), top.map(_._2), top.map(_._3), top.map(_._4),
        str(_.repo), str(_.path), str(_.commit))
    }.filter(_._2.ids.nonEmpty)
  }

  /** Drop cached readers for a root (used after rebuilds that invalidate it),
    * across all sessions: every pin (segment shards with their decoded
    * blocks, key shards) is released.
    */
  def invalidate(root: String): Unit = {
    cache.keys.filter(_._2 == root).foreach { k =>
      cache.remove(k).foreach { r =>
        if (!r.stopped) {
          r.layers.foreach(_.shards.unpersist(blocking = false))
          r.keys.unpersist(blocking = false)
        }
      }
    }
  }
}
