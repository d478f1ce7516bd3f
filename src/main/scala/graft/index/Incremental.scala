package graft.index

import graft.corpus.Corpus
import graft.tokenize.Tokenizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental index maintenance — SURVEY.md §2.4 J1 + J2, the engine
  * analog of the reference's conditional upserts:
  *
  *  - J1 `FindOrCreateNode` (`pkg/database/relationship/dgraph.go:95-127`,
  *    insert iff absent) → `left_anti` join of the incoming batch against
  *    the already-indexed docIds: only genuinely new docs produce postings;
  *  - J2 `CheckOrCreatePredicate` (`dgraph.go:148-176`, merge edge into
  *    existing edge list) → the merge aggregate
  *    ([[PostingAggExprs.mergePostings]]) grouping every layer's salted
  *    sub-lists by `term`: the merged view ([[readMergedIndex]]). The
  *    layers are doc-disjoint, so a layer's list is one more sub-list of
  *    the term, and [[compact]] needs no merge at all: it decodes every
  *    sub-list and regroups by `(salt, term)`.
  *
  * Delta layout (LSM-style, like Lucene's append-only segments): an add
  * indexes ONLY its fresh docs, through the same posting phases as the
  * full build ([[IndexBuilder.buildPostingsPhases]]), into its own layer
  * root (an [[IndexPaths]]: the fresh docs' salted segments, their docs
  * sidecar, the stats), and publishes a snapshot whose layer roots are
  * `base layers ++ [out]`. An add writes no fast lists: a reader of the
  * new root ranks them at the new stats from every layer
  * ([[graft.engine.IndexReader.fastList]]). Nor does it write edges: the
  * fresh docs carry their links (`cust`), and the link graph is derived
  * from the merged docs at read time ([[LinkIndex.readMergedEdges]]). So
  * an add pays for its batch, not for the whole index.
  * Base files are referenced through the snapshot ([[Snapshots]]), never
  * decoded, re-encoded or rewritten. Layers are doc-disjoint (J1): a
  * term's postings are the union of its layers' lists, its df their sum,
  * and the docs the union of the layers' sidecars ([[readMergedDocs]]).
  * Every entry point opens its source through [[Snapshots.open]], so only
  * a published root can be added to, compacted or read merged.
  *
  * An add's phases, tagged `add`: `stats` (one aggregate over the pinned
  * fresh docs), then, unless the batch is a replay, the build's posting
  * phases over the fresh docs' unpinned tf rows and `docs-write`.
  *
  * Stats semantics: nDocs/avgdl count TOKEN-BEARING docs only, matching
  * [[IndexBuilder]] (zero-token docs get a lineage row with dl=0 but no
  * postings — P7). The add's lists are encoded at the NEW avgdl, so their
  * block-max bounds are exact, and they are salted with the same doc-salt
  * function as the base build, so a layered root is directly WAND-servable
  * at full (salt × query) parallelism. Older layers keep block-max computed
  * at their own avgdl; since the BM25 tf-normalization is monotone
  * increasing in avgdl, the layered WAND reader ([[graft.engine.Wand]])
  * scales their bounds with `max(1, avgdl_new / avgdl_layer)` — an upper
  * bound because tfNorm(tf,dl,a')/tfNorm(tf,dl,a) ≤ a'/a for a' > a (the
  * ratio is (C + X/a)/(C + X/a') with C = tf + k1(1−b) ≥ 0, maximized at
  * C = 0). [[compact]] folds the layers back to one exact-bounds layer.
  */
object Incremental {

  /** Add `newCorpus` (which may overlap the already-indexed corpus) into
    * the index at `basePaths`, writing ONLY the delta layer — the fresh
    * docs — to `outPaths` and publishing a layered snapshot there. Returns
    * the new stats. Idempotent: replaying the same batch yields an
    * identical delta (J1 filters previously-indexed docIds, including dl=0
    * lineage rows).
    */
  def addBatch(
      spark: SparkSession,
      basePaths: IndexPaths,
      newCorpus: DataFrame,
      outPaths: IndexPaths): IndexStats = {
    def phase[A](name: String)(f: => A): A = IndexBuilder.phase(name, tag = "add")(f)
    // fails fast, BEFORE any expensive phase, on an unpublished or
    // stale-format base
    val base = Snapshots.open(basePaths.root)
    val baseStats = base.stats
    val layers = base.snapshot.layers :+ outPaths

    val existingIds = mergedDocs(spark, base.snapshot.layers).select("doc_id")
    val incoming = Corpus.withDocId(newCorpus)
    // J1: insert iff absent — idempotent replays, like the reference's
    // @if(eq(len(page),0)) upsert guard. Includes dl=0 lineage rows, so a
    // dead doc admitted once is never re-admitted on replay.
    val fresh = incoming.join(existingIds, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      // new global stats from the base stats plus the fresh docs alone: both
      // count TOKEN-BEARING docs only (the docs sidecar's dl=0 lineage rows
      // never count — DeadDocSpec), and avgdl = T / N is exactly the
      // build's avg over integer dls
      val (freshDocs, freshTokens, fp) = phase("stats")(summarize(fresh))
      val nDocs = baseStats.nDocs + freshDocs
      val totalTokens = baseStats.totalTokens + freshTokens
      val newStats = IndexStats(IndexBuilder.FormatVersion, nDocs, totalTokens.toDouble / nDocs,
        totalTokens, baseStats.numSalts, baseStats.numBuckets)

      // Replay no-op: when the out root already publishes this exact (base
      // layers, stats, fresh-set fingerprint) triple with every delta
      // artifact, the rewrite would reproduce the same content, so only the
      // snapshot/stats publish runs. Stats alone are not enough: two
      // batches can collide on (nDocs, avgdl, totalTokens).
      val publishArgs = s"incremental over ${Snapshots.relativize(outPaths.root, basePaths.root)} fp=$fp"
      // In-flight marker: a crashed rewrite of a DIFFERENT batch leaves
      // artifacts that no longer match the published stats (the _SUCCESS
      // checks see presence, not correspondence). It is written before the
      // first rewrite phase and removed after the publish, so the no-op is
      // never taken over an interrupted rewrite.
      val inflightMarker = java.nio.file.Paths.get(s"${outPaths.root}/add-inflight.json")
      val replayNoOp = !java.nio.file.Files.exists(inflightMarker) &&
        Snapshots.read(outPaths.root).exists(_.layers == layers) &&
        IndexBuilder.readStats(outPaths).contains(newStats) &&
        IndexBuilder.readJsonString(
          java.nio.file.Paths.get(outPaths.statsPath), "build_args").contains(publishArgs) &&
        Seq(outPaths.segmentsDir, outPaths.docsDir)
          .forall(d => java.nio.file.Files.exists(java.nio.file.Paths.get(s"$d/_SUCCESS")))
      if (replayNoOp)
        System.err.println(s"[add] replay no-op: ${outPaths.root} already carries this batch ($publishArgs)")
      else {
        java.nio.file.Files.createDirectories(inflightMarker.getParent)
        java.nio.file.Files.writeString(inflightMarker, "in-flight: " + publishArgs)
        addBatchRewrite(spark, basePaths, outPaths, fresh, newStats, publishArgs)
      }

      // persist stats + the layered snapshot: the merged table is openable
      // from outPaths alone.
      IndexBuilder.writeStatsJson(outPaths.statsPath, newStats, publishArgs)
      // version = strictly AFTER both the base chain and anything already
      // published at the out root: republishing (e.g. replaying an add onto a
      // root that was since compacted) must never move the hint BACKWARDS to
      // an older view
      val outVersion = math.max(base.snapshot.version,
        Snapshots.currentVersion(outPaths.root).getOrElse(0)) + 1
      Snapshots.write(outPaths.root, Snapshot(outVersion, layers, Some(basePaths.root)))
      // a new snapshot invalidates any resident reader on this root
      graft.engine.IndexReader.invalidate(outPaths.root)
      // rewrite (if any) and publish both landed — clear the in-flight marker
      java.nio.file.Files.deleteIfExists(inflightMarker)
      newStats
    } finally fresh.unpersist()
  }

  /** A batch's token-bearing doc count and token sum, and its fingerprint,
    * in one aggregate over its rows.
    *
    * The fingerprint is order-independent: the count, the XOR and the exact
    * (decimal) SUM of a row hash. XOR alone cancels equal pairs, so
    * {A, A, B} and {C, C, B} would collide; the sum does not. The row hash
    * takes each field as its own column plus a NULL flag: joining the
    * fields into one string aliases rows whose values shift across a
    * separator inside a value, or across a NULL field (which `concat_ws`
    * skips).
    */
  private def summarize(rows: DataFrame): (Long, Long, String) = {
    val fields = Seq("repo", "path", "commit", "lang", "content").map(col)
    val h = xxhash64(fields.map(coalesce(_, lit(""))) ++ fields.map(_.isNull): _*)
    val r = rows.select(Tokenizer.tokenCountCol(col("content")).as("dl"), h.as("h"))
      .agg(count(when(col("dl") > 0, 1)), coalesce(sum("dl"), lit(0L)),
        count(lit(1)), bit_xor(col("h")), sum(col("h").cast("decimal(20,0)")))
      .head()
    val xor = if (r.isNullAt(3)) 0L else r.getLong(3)
    val total = if (r.isNullAt(4)) "0" else r.getDecimal(4).toPlainString
    (r.getLong(0), r.getLong(1), s"${r.getLong(2)}:$xor:$total")
  }

  /** [[summarize]]'s fingerprint of a batch's corpus rows. */
  private[graft] def fingerprint(rows: DataFrame): String = summarize(rows)._3

  /** The rewrite half of [[addBatch]] — the fresh docs' postings and
    * docs. Skipped entirely on a detected replay no-op.
    */
  private def addBatchRewrite(
      spark: SparkSession,
      basePaths: IndexPaths,
      outPaths: IndexPaths,
      fresh: DataFrame,
      newStats: IndexStats,
      buildArgs: String): Unit = {
    def phase[A](name: String)(f: => A): A = IndexBuilder.phase(name, tag = "add")(f)
    // the fresh docs' (doc_id, term, tf, dl) rows through the build's own
    // posting phases: salted segments and manifests. A batch written here
    // before (a replaced batch) is cleared first, so every salt is rebuilt.
    // As in the build, the tf relation is not persisted: the segments phase
    // is its one consumer.
    Seq(outPaths.segmentsDir, outPaths.manifestsDir)
      .foreach(d => IndexBuilder.deleteRecursively(java.nio.file.Paths.get(d)))
    IndexBuilder.buildPostingsPhases(spark, Tokenizer.termFreqsWithDl(fresh), newStats, outPaths,
      buildArgs, tag = "add")

    // docs delta: fresh docs ONLY (base sidecar is referenced, not copied),
    // through the build's own one-pass docs rows, so zero-token fresh docs
    // keep their dl=0 lineage row (P7). batch_id stamps the layer's ingest
    // lineage (per-doc provenance, the reference's StartUrl analog
    // page.go:83) — deterministic per (base, out) pair, so a replayed batch
    // reproduces the identical sidecar, and, like the stats' build_args,
    // free of where the tree lives.
    val batchId = s"add:${Snapshots.relativize(outPaths.root, basePaths.root)}->" +
      java.nio.file.Paths.get(outPaths.root).getFileName
    phase("docs-write")(IndexBuilder.docsRows(fresh, batchId)
      .write.mode("overwrite").parquet(outPaths.docsDir))
  }

  /** [[addBatch]] + automatic LSM housekeeping: when the resulting snapshot
    * exceeds `maxLayers`, fold it back to one layer in place
    * ([[compact]]) — a query never reads more than `maxLayers` lists per
    * term and salt, the unbounded-chain failure mode of an append-only
    * LSM. The compaction is crash-safe (snapshot-last: an interrupted
    * compact leaves the previous version serving).
    */
  def addBatchCompacting(
      spark: SparkSession,
      basePaths: IndexPaths,
      newCorpus: DataFrame,
      outPaths: IndexPaths,
      maxLayers: Int = 8): IndexStats = {
    val stats = addBatch(spark, basePaths, newCorpus, outPaths)
    if (Snapshots.read(outPaths.root).get.layers.size > maxLayers) compact(spark, outPaths.root)
    stats
  }

  /** Compaction — fold a layered snapshot back to ONE layer, re-encoded at
    * the CURRENT avgdl so WAND block-max bounds are exact again and a query
    * reads one list per term and salt (the LSM compaction the layered
    * design promises; reference analog: Dgraph's periodic LSM compaction
    * behind the live store, `pkg/database/relationship/dgraph.go`).
    *
    * Decodes every layer's salted segments straight into
    * `(doc_id, term, tf, dl)` rows — the layers are doc-disjoint, so no
    * merge is needed — and rebuilds salted segments + manifests through the
    * SAME phases as a from-scratch build
    * ([[IndexBuilder.buildPostingsPhases]], which regroups by
    * `(salt, term)`), so the compacted segments equal a from-scratch
    * build's row for row. Writes the docs union and publishes a
    * single-layer snapshot (its readers rank the fast lists and derive the
    * link graph from the docs, as for any root). With
    * `toRoot = None` the snapshot is published in place at `root`
    * (version+1, data under `root/compact-v<N>/`); old layer files become
    * unreferenced (kept on disk — time travel / concurrent readers,
    * Iceberg-style). With `toRoot = Some(r)` the compacted table is
    * published as a NEW v1 root.
    */
  def compact(spark: SparkSession, root: String, toRoot: Option[String] = None): IndexStats = {
    // fails fast, BEFORE deleting dirs or publishing, on an unpublished or
    // stale-format root
    val src = Snapshots.open(root)
    val snap = src.snapshot
    val stats = src.stats

    val (inner, publishRoot, publishVersion) = toRoot match {
      case Some(r) => (IndexPaths(r), r, 1)
      case None => (IndexPaths(s"$root/compact-v${snap.version + 1}"), root, snap.version + 1)
    }
    Seq(inner.segmentsDir, inner.docsDir, inner.manifestsDir)
      .foreach(d => IndexBuilder.deleteRecursively(java.nio.file.Paths.get(d)))

    // docs union: per-layer docId sets are disjoint (J1), content_sha,
    // cust, and dl=0 lineage rows carry over unchanged.
    mergedDocs(spark, snap.layers).write.mode("overwrite").parquet(inner.docsDir)

    // (doc_id, term, tf, dl) relation from every layer's sub-lists —
    // decode is distributed (one task per segments row group), then the
    // shared posting phases re-encode everything at stats.avgdl.
    import spark.implicits._
    val tfd = segments(spark, snap.layers)
      .select("term", "postings", "dls")
      .as[(String, Array[Byte], Array[Byte])]
      .flatMap { case (term, p, d) =>
        val (ids, tfs, ls) = Postings.decode(p, d)
        Iterator.range(0, ids.length).map(i => (ids(i), term, tfs(i).toLong, ls(i)))
      }
      .toDF("doc_id", "term", "tf", "dl")
    IndexBuilder.buildPostingsPhases(spark, tfd, stats, inner, s"compact v$publishVersion of $root",
      tag = "compact")

    // record the SOURCE's identity (its build_args carries the batch
    // fingerprint for incremental roots) so fixture-reuse guards can check
    // "compacted from THIS source content", not merely stats equality —
    // stats alone can collide across different contents (same insufficiency
    // the addBatch replay fingerprint closes)
    val srcArgs = IndexBuilder.readJsonString(
      java.nio.file.Paths.get(snap.layers.last.statsPath), "build_args").getOrElse("")
    IndexBuilder.writeStatsJson(inner.statsPath, stats,
      s"compact v$publishVersion of $root src=[$srcArgs]")
    Snapshots.write(publishRoot, Snapshot(publishVersion, Seq(inner), snap.parentRoot))
    graft.engine.IndexReader.invalidate(publishRoot)
    stats
  }

  /** Union of the layers' salted segments (doc-disjoint sub-lists). The
    * schema is pinned: an empty layer (replayed batch) has no parquet files
    * to infer from.
    */
  private def segments(spark: SparkSession, layers: Seq[IndexPaths]): DataFrame =
    layers.map(l => spark.read.schema(IndexBuilder.SegmentsSchema).parquet(l.segmentsDir))
      .reduce(_ unionByName _)

  /** Union of the layers' docs sidecars (disjoint docId sets, J1). */
  private[graft] def mergedDocs(spark: SparkSession, layers: Seq[IndexPaths]): DataFrame =
    layers.map(l => spark.read.schema(IndexBuilder.DocsSchema).parquet(l.docsDir))
      .reduce(_ unionByName _)

  /** The logical merged index at the published `root` (term, df, sum_tf,
    * postings, dls, block_max, block_dir, bucket): one row per term, the
    * J2 merge of every layer's salted sub-lists, re-encoded at the root's
    * avgdl — one aggregate over the segments, no join. It is a view: no
    * build, add or compaction writes it. Base FILES are read as they
    * are — never rewritten by [[addBatch]].
    */
  def readMergedIndex(spark: SparkSession, root: String): DataFrame = {
    val src = Snapshots.open(root)
    segments(spark, src.snapshot.layers)
      .groupBy("term")
      .agg(PostingAggExprs.mergePostings(src.stats.avgdl, col("postings"), col("dls")).as("p"))
      .select(col("term"), col("p.df"), col("p.sum_tf"), col("p.postings"), col("p.dls"),
        col("p.block_max"), col("p.block_dir"),
        pmod(xxhash64(col("term")), lit(src.stats.numBuckets)).cast("int").as("bucket"))
  }

  /** The logical docs sidecar at the published `root`: union of disjoint
    * per-layer docs.
    */
  def readMergedDocs(spark: SparkSession, root: String): DataFrame =
    mergedDocs(spark, Snapshots.open(root).snapshot.layers)
}
