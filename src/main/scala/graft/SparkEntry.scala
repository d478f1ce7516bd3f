package graft

import graft.corpus.{Corpus, CorpusTable, OracleSql}
import graft.engine.NaiveSearch
import graft.queries.QuerySet
import graft.tokenize.Tokenizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching DuckDB SQL in [[oracleSql]]
  * generated from the same constants (vocab, BM25 literals, query set), so
  * the driver's DuckDB compare is a real cross-engine check, not a tautology.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    bm25Naive(spark, "/root/testdata/sf0.001")

  private def bm25Naive(s: SparkSession, dir: String): DataFrame =
    NaiveSearch.topK(s, Corpus.corpus(s, dir), QuerySet.df(s))

  /** (repo, path, commit, term, tf) over the whole corpus — E1+A1.
    * Unsorted: a global orderBy here would put a range exchange (plus its
    * sampling pass, which recomputes the whole upstream plan) under every
    * consumer. Sort only at output edges.
    */
  private def tokenizeTf(s: SparkSession, dir: String): DataFrame =
    Corpus.corpus(s, dir)
      .select(col("repo"), col("path"), col("commit"),
        explode(Tokenizer.tokensCol(col("content"))).as("term"))
      .groupBy("repo", "path", "commit", "term")
      .agg(count(lit(1)).as("tf"))

  /** base/out roots of the layered incremental fixture for `dir`. */
  private def incrPaths(dir: String): (graft.index.IndexPaths, graft.index.IndexPaths) = {
    val name = java.nio.file.Paths.get(dir).getFileName.toString
    val v = graft.index.IndexBuilder.FormatVersion
    (graft.index.IndexPaths(s"target/graft-index/v$v/incr-base-$name"),
      graft.index.IndexPaths(s"target/graft-index/v$v/incr-out-$name"))
  }

  /** Ensure the layered incremental root exists: base = 80% of the corpus
    * (doc-hash sampled), then [[graft.index.Incremental.addBatch]] with the
    * FULL corpus — the anti-join keeps only the new 20% as a delta layer.
    * `replay = true` re-runs the add even when a snapshot exists (exercises
    * J1 idempotency end-to-end). Every incremental query entry is
    * self-sufficient through this helper (map iteration order is arbitrary).
    */
  private def ensureIncr(s: SparkSession, dir: String, replay: Boolean = false): graft.index.IndexPaths = {
    val (basePaths, outPaths) = incrPaths(dir)
    if (replay || graft.index.Snapshots.read(outPaths.root).isEmpty) {
      val full = Corpus.corpus(s, dir)
      val base = Corpus.baseSlice(full)
      if (!graft.index.IndexBuilder.isComplete(basePaths))
        graft.index.IndexBuilder.build(s, base, basePaths, buildArgs = s"incr-base-$dir")
      graft.index.Incremental.addBatch(s, basePaths, full, outPaths)
    }
    outPaths
  }

  /** Decode every posting list of `df` back from its varint bytes and
    * recount — the codec/build roundtrip check shared by the index,
    * incremental, and compacted entries.
    */
  private def decodeRecount(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    df.select("term", "postings", "dls")
      .as[(String, Array[Byte], Array[Byte])]
      .map { case (term, p, d) =>
        val (docIds, tfs, _) = graft.index.Postings.decode(p, d)
        (term, docIds.length.toLong, tfs.map(_.toLong).sum)
      }
      .toDF("term", "df", "sum_tf")
      .orderBy("term")
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2/J1 dedup + synthesis: the corpus itself, with the sha256 per-row
    // invariant column (F10).
    "corpus_synth" -> ((s, dir) =>
      Corpus.corpus(s, dir)
        .withColumn("content_sha", sha2(col("content"), 256))
        .orderBy("repo", "path", "commit")),

    // S1-Iceberg: snapshot-versioned corpus SOURCE table (input_hint's
    // "Iceberg table of source-code repositories") — create at v1 with a
    // deterministic third of the corpus, append the other two thirds as v2
    // and v3 (append-without-rewrite), then TIME-TRAVEL: per-version
    // aggregates read each immutable snapshot after later appends landed.
    // The slice key is commit-derived (commit = sha256 prefix, computable
    // in DuckDB too), so the oracle reproduces each snapshot's row set from
    // the corpus CTE alone. CorpusTableSpec pins file immutability and
    // isolation; this entry pins the per-snapshot CONTENTS cross-engine.
    "corpus_table_timetravel" -> ((s, dir) => {
      val name = java.nio.file.Paths.get(dir).getFileName.toString
      val root = s"target/graft-index/v${graft.index.IndexBuilder.FormatVersion}/corpus-table-$name"
      val cls = ascii(substring(col("commit"), 1, 1)) % 3
      if (!CorpusTable.currentVersion(root).contains(3)) {
        // drop() removes the hint FIRST: a crash mid-wipe leaves "no table",
        // never a version-3 hint over partially-deleted data that this
        // reuse guard would trust. One persisted synthesis feeds all three
        // writes (the same convention as IndexBuilder.build's corpus cache).
        CorpusTable.drop(root)
        val full = Corpus.corpus(s, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          CorpusTable.create(s, full.filter(cls === 0), root)
          CorpusTable.append(s, full.filter(cls === 1), root)
          CorpusTable.append(s, full.filter(cls === 2), root)
        } finally full.unpersist()
      }
      (1 to 3).map { v =>
        CorpusTable.read(s, root, asOf = Some(v))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("repo")).as("n_repos"),
            sum(length(col("content")).cast("long")).as("sum_len"))
          .select(lit(v).as("version"), col("n_docs"), col("n_repos"), col("sum_len"))
      }.reduce(_ unionByName _).orderBy("version")
    }),

    // E1 tokenize + A1 tf aggregation.
    "tokenize_tf" -> ((s, dir) => tokenizeTf(s, dir).orderBy("repo", "path", "commit", "term")),

    // A4 corpus stats: N, avgdl, total token count.
    "corpus_stats" -> ((s, dir) => {
      val tf = tokenizeTf(s, dir)
      val dl = tf.groupBy("repo", "path", "commit").agg(sum("tf").as("dl"))
      dl.agg(
        count(lit(1)).as("n_docs"),
        graft.score.BM25.quantize(avg(col("dl").cast("double"))).as("avgdl_r"),
        sum("dl").as("total_tokens"))
    }),

    // A3 document frequency (exact, feeds idf).
    "term_df_top100" -> ((s, dir) =>
      tokenizeTf(s, dir)
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("sum_tf"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(100)),

    // §7 Step 1: naive full-scoring BM25 top-k over the reference query set.
    "bm25_naive_topk" -> ((s, dir) => bm25Naive(s, dir)),

    // A6+F12: build the salted-segment index, merge its sub-lists per term
    // (the merged view), then decode every posting list back from its
    // delta+varint bytes and recount — a full cross-engine codec/build
    // roundtrip check.
    "index_postings_stats" -> ((s, dir) => {
      val (paths, _) = graft.index.IndexBuilder.ensure(s, dir)
      decodeRecount(s, graft.index.Incremental.readMergedIndex(s, paths.root))
    }),

    // S4 segment sink totals: what landed in the salted segments equals the
    // tokenize relation (sum over all shards).
    "index_segment_totals" -> ((s, dir) => {
      val (paths, _) = graft.index.IndexBuilder.ensure(s, dir)
      s.read.parquet(paths.segmentsDir)
        .agg(sum("sum_tf").as("total_tokens"), sum("df").as("total_postings"))
    }),

    // J5/S5: query through the index, every matching doc scored (the
    // exhaustive shard run, no pruning). Must be rank- and score-identical
    // to bm25_naive_topk.
    "bm25_index_topk" -> ((s, dir) =>
      graft.engine.Wand.topK(s, dir, QuerySet.all, graft.engine.Wand.Exhaustive)),

    // §2.7 conjunctive (AND) queries: posting-list intersection inside the
    // salt shard (walk the shortest list, seek the others) — the reference
    // CheckPredicate analog (dgraph.go:130-145).
    "bm25_and_topk" -> ((s, dir) =>
      graft.engine.Wand.topK(s, dir, QuerySet.conjunctive, graft.engine.Wand.Conjunctive)),

    // T5: sharded block-max WAND. Same oracle as the naive plan.
    "bm25_wand_topk" -> ((s, dir) =>
      graft.engine.Wand.topK(s, dir, QuerySet.all)),

    // v6 impact-ordered fast path: the single-term queries served from
    // per-term top-FastK score prefixes (O(k), not O(df) — block-max
    // pruning can't fire on a flat score distribution). Same oracle as
    // every other query path: rank identity is the contract. q04 (rare →
    // no prefix) and q05 (absent) exercise the fallbacks in the same call.
    "bm25_fast_topk" -> ((s, dir) => {
      val (paths, _) = graft.index.IndexBuilder.ensure(s, dir)
      graft.engine.Wand.topKAt(s, paths, QuerySet.singleTerm)
    }),

    // Query-scoped search (the reference's allow_external_links analog,
    // README.md:41): the same WAND serving path restricted to a 3-repo
    // scope — the scope predicate reaches the WAND candidate filter, so
    // the result is the scope's own top-k (oracle mirrors the predicate
    // inside its scored CTE).
    "bm25_scoped_topk" -> ((s, dir) => {
      val (paths, _) = graft.index.IndexBuilder.ensure(s, dir)
      graft.engine.Wand.topKAt(s, paths, QuerySet.all, repoScope = Some(QuerySet.scopeRepos))
    }),

    // J6/F10: per-row invariant — the sha256 captured in the docs sidecar at
    // index time equals the sha256 recomputed from the source table at query
    // time, for every top-k hit (BASELINE.json input_hint).
    "sha256_invariant" -> ((s, dir) => {
      val (paths, _) = graft.index.IndexBuilder.ensure(s, dir)
      val res = graft.engine.Wand.topK(s, dir, QuerySet.all, graft.engine.Wand.Exhaustive)
      val docs = s.read.parquet(paths.docsDir)
        .select(col("repo"), col("path"), col("commit"), col("content_sha"))
      val src = Corpus.corpus(s, dir)
        .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256).as("sha_now"))
      res.join(docs, Seq("repo", "path", "commit"))
        .join(src, Seq("repo", "path", "commit"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_hits"),
          sum(when(col("content_sha") === col("sha_now"), 1L).otherwise(0L)).as("n_sha_match"))
        .orderBy("query_id")
    }),

    // ---- training-data pipeline ops (documents / embeddings tables) ----
    "text_stats" -> ((s, dir) => graft.ops.TextOps.textStats(graft.ops.TextOps.documents(s, dir))),
    "text_langid" -> ((s, dir) => graft.ops.TextOps.langId(graft.ops.TextOps.documents(s, dir))),
    "text_fingerprint" -> ((s, dir) => graft.ops.TextOps.fingerprint(graft.ops.TextOps.documents(s, dir))),
    "dedup_exact" -> ((s, dir) => graft.ops.Dedup.exact(graft.ops.TextOps.documents(s, dir))),
    // MOSS-style winnowing: rolling k-gram hashes → min-per-window
    // fingerprints (substring-level dedup, robust to tokenization), plus
    // the blocked near-dup pairs over them.
    "text_winnow" -> ((s, dir) => graft.ops.TextOps.winnow(graft.ops.TextOps.documents(s, dir))),
    "dedup_winnow" -> ((s, dir) => graft.ops.Dedup.winnowPairs(graft.ops.TextOps.documents(s, dir))),
    "dedup_ngram_jaccard" -> ((s, dir) => graft.ops.Dedup.ngramJaccardPairs(graft.ops.TextOps.documents(s, dir))),
    "dedup_minhash_lsh" -> ((s, dir) => graft.ops.Dedup.minhashLshPairs(graft.ops.TextOps.documents(s, dir))),
    "dedup_simhash" -> ((s, dir) => graft.ops.Dedup.simhashPairs(graft.ops.TextOps.documents(s, dir))),
    "embed_cosine_pairs" -> ((s, dir) => graft.ops.Ann.cosinePairs(graft.ops.Ann.embeddings(s, dir))),
    "ann_topk_brute" -> ((s, dir) => graft.ops.Ann.bruteForceTopK(graft.ops.Ann.embeddings(s, dir))),
    "ann_ivf_topk" -> ((s, dir) => graft.ops.Ann.ivfTopK(graft.ops.Ann.embeddings(s, dir))),
    "mm_binary_meta" -> ((s, dir) => graft.ops.Multimodal.decodeFeatures(s, dir)),

    // REAL image decode: payloads are genuine binary PGM (P5) images built
    // from the document bytes; the engine PARSES the byte-level header +
    // pixel plane (no codec libs — netpbm is pure byte arithmetic), while
    // the oracle derives the expected features from the CONSTRUCTION
    // without parsing, so a parser bug cannot self-verify.
    "mm_pgm_decode" -> ((s, dir) => graft.ops.Multimodal.decodePgmFeatures(s, dir)),

    // J1+J2: build on 80% of the corpus, then incrementally add the full
    // corpus — anti-join keeps only the new 20%, which alone is indexed
    // into a delta layer (base files are referenced through the snapshot,
    // never rewritten). The layered read-back — the merge aggregate over
    // every layer's salted sub-lists — must equal the single-shot full
    // build (oracle = full-corpus tf aggregate).
    "index_incremental" -> ((s, dir) => {
      val outPaths = ensureIncr(s, dir, replay = true)
      decodeRecount(s, graft.index.Incremental.readMergedIndex(s, outPaths.root))
    }),

    // The layered root SERVED: the reference's query-over-live-store
    // behavior (FindNode works over whatever has been upserted,
    // dgraph.go:62-92). Each query term reads every layer's list;
    // results must equal the full-corpus oracle — same one as
    // bm25_index_topk, proving incremental == rebuild at the query surface.
    "bm25_incremental_topk" -> ((s, dir) =>
      graft.engine.Wand.topKAt(s, ensureIncr(s, dir), QuerySet.all, mode = graft.engine.Wand.Exhaustive)),

    // Block-max WAND directly over the layered root: delta layers' salted
    // segments serve at full (salt × query) parallelism; base-layer bounds
    // are avgdl-rescaled (sound upper bound), scoring is exact at the new
    // avgdl — rank-identical to the naive plan.
    "bm25_wand_incr_topk" -> ((s, dir) =>
      graft.engine.Wand.topKAt(s, ensureIncr(s, dir), QuerySet.all)),

    // v7 fast lists over the LAYERED root: the reader ranks every fast list
    // at the post-add stats (tfNorm ORDER is not avgdl-stable), so
    // hot single-term queries stay O(k) between an add and the next compact —
    // the steady state at 100 TB, where the layered window never closes.
    // Route engagement is asserted in-line: rank identity alone could come
    // silently from the WAND fallback, so this entry fails loudly if the
    // fast route ever stops engaging on layered roots.
    "bm25_fast_incr_topk" -> ((s, dir) => {
      val out = ensureIncr(s, dir)
      val m = graft.engine.QueryMetrics(s)
      val res = graft.engine.Wand.topKAt(s, out, QuerySet.singleTerm, Some(m))
      require(m.routedFast.value >= 1L,
        s"fast route did not engage on the layered root: ${m.snapshot}")
      res
    }),

    // Three-batch LSM chain: build on ⅓ of the corpus, then two successive
    // addBatch calls (⅔, then full) — each appends one delta layer on top
    // of the previous snapshot (base files never rewritten). The 3-layer
    // merged read-back must still equal the full-corpus tf aggregate.
    "index_incremental_chain" -> ((s, dir) => {
      val name = java.nio.file.Paths.get(dir).getFileName.toString
      val v = graft.index.IndexBuilder.FormatVersion
      val r0 = graft.index.IndexPaths(s"target/graft-index/v$v/chain0-$name")
      val r1 = graft.index.IndexPaths(s"target/graft-index/v$v/chain1-$name")
      val r2 = graft.index.IndexPaths(s"target/graft-index/v$v/chain2-$name")
      if (graft.index.Snapshots.read(r2.root).isEmpty) {
        val full = Corpus.corpus(s, dir)
        val withId = Corpus.withDocId(full)
        def slice(maxPart: Int) = withId
          .filter(pmod(xxhash64(col("doc_id")), lit(3)) <= maxPart)
          .select("repo", "path", "commit", "lang", "content")
        if (!graft.index.IndexBuilder.isComplete(r0))
          graft.index.IndexBuilder.build(s, slice(0), r0, buildArgs = s"chain0-$dir")
        graft.index.Incremental.addBatch(s, r0, slice(1), r1)
        graft.index.Incremental.addBatch(s, r1, full, r2)
      }
      val snap = graft.index.Snapshots.read(r2.root).get
      require(snap.layers.size == 3, s"chain must be 3 layers, got ${snap.layers.size}")
      // per-doc ingest provenance (v5): the 3-layer root's docs union must
      // carry one distinct batch_id per ingest batch (StartUrl analog)
      val batchIds = graft.index.Incremental.readMergedDocs(s, r2.root)
        .select("batch_id").distinct().collect().map(_.getString(0)).toSet
      require(batchIds.size == 3, s"chain docs must carry 3 distinct batch ids, got $batchIds")
      decodeRecount(s, graft.index.Incremental.readMergedIndex(s, r2.root))
    }),

    // LSM compaction: fold the layered snapshot to ONE exact-bounds layer
    // (re-encoded at the current avgdl through the same build phases as a
    // from-scratch build); decode recount == the full-corpus tf aggregate.
    "index_compacted" -> ((s, dir) => {
      val out = ensureIncr(s, dir)
      val name = java.nio.file.Paths.get(dir).getFileName.toString
      val cRoot = s"target/graft-index/v${graft.index.IndexBuilder.FormatVersion}/incr-compact-$name"
      // r6 fixture reuse (same convention as the chain/timetravel entries):
      // recompact only when the compacted root is absent, its stats no
      // longer match the layered source's, OR it was compacted from a
      // DIFFERENT source content — compact records the source's build_args
      // (which carries the incremental batch fingerprint) in its own
      // build_args as `src=[...]`, so stats-collision across different
      // contents cannot serve a stale compacted layer. A replayed source
      // (content unchanged, version bumped) keeps the existing layer.
      def newest(root: String) = graft.index.Snapshots.read(root).map(_.layers.last)
      def args(root: String) = newest(root).flatMap(l => graft.index.IndexBuilder.readJsonString(
        java.nio.file.Paths.get(l.statsPath), "build_args")).getOrElse("")
      val srcStats = newest(out.root).flatMap(graft.index.IndexBuilder.readStats)
      val srcArgs = args(out.root)
      val cStats = newest(cRoot).flatMap(graft.index.IndexBuilder.readStats)
      val cArgs = args(cRoot)
      if (cStats.isEmpty || cStats != srcStats || !cArgs.endsWith(s"src=[$srcArgs]"))
        graft.index.Incremental.compact(s, out.root, Some(cRoot))
      val snap = graft.index.Snapshots.read(cRoot).get
      require(snap.layers.size == 1, "compacted root must be single-layer")
      decodeRecount(s, graft.index.Incremental.readMergedIndex(s, cRoot))
    }),

    // ST1/ST2: streamed tokenize+tf must equal the batch aggregation.
    "streaming_tokenize_tf" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamedTermCounts(s, dir)),

    // ST6: watermarked tumbling-window counts over the events stream.
    "streaming_window_events" -> ((s, dir) =>
      graft.streaming.StreamingOps.windowedEventCounts(s, dir)),

    // E2/S6 result assembly: nested per-query hit lists (the reference
    // returns a recursive JSON tree, page.go:136-164). The nested
    // array<struct> is serialized with to_json so the driver's hash compare
    // (pandas) gets a flat string column; score is carried as the integer
    // micrograde (floor(score_r·1e6 + 0.5) — score_r is already on that
    // grid) so JSON float formatting can't drift between engines.
    "bm25_nested_results" -> ((s, dir) => {
      val flat = graft.engine.Wand.topK(s, dir, QuerySet.all, graft.engine.Wand.Exhaustive)
      flat
        .withColumn("score_micro", floor(col("score_r") * 1e6 + 0.5).cast("long"))
        .groupBy("query_id")
        .agg(
          count(lit(1)).as("n_hits"),
          to_json(sort_array(collect_list(struct(
            col("rank"), col("repo"), col("path"), col("commit"), col("score_micro"))))).as("hits_json"))
        .orderBy("query_id")
    }),

    // P2 lang/file filter: predicate on the corpus lang column (the
    // reference's URL/host gate analog, pkg/crawl/crawl.go:120-127).
    "corpus_lang_filter" -> ((s, dir) =>
      Corpus.corpus(s, dir)
        .filter(col("lang").isin("go", "scala"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(length(col("content"))).as("total_chars"))
        .orderBy("lang")),

    // P3 content-type gate: only token-bearing, bounded-size docs pass
    // (the reference descends only content-type text/html,
    // pkg/crawl/crawl.go:109-118); binary/empty payloads are gated out
    // before tokenization.
    "corpus_content_gate" -> ((s, dir) => {
      val nTok = Tokenizer.tokenCountCol(col("content"))
      Corpus.corpus(s, dir)
        .select(col("lang"),
          (nTok >= 5 && length(col("content")) <= 100000).as("pass"))
        .groupBy("lang", "pass")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pass")
    }),

    // Scale path for embedding near-dup: hyperplane-LSH blocked candidates
    // + exact-cosine verify (the all-pairs embed_cosine_pairs stays as the
    // tiny-sf oracle cross-check only).
    "embed_cosine_lsh" -> ((s, dir) => graft.ops.Ann.cosineLshPairs(graft.ops.Ann.embeddings(s, dir))),

    // The reference's defining query shape: depth-bounded recursive graph
    // expansion with cycle guard (`@recurse(depth: D+1, loop: false)`,
    // dgraph.go:66-75) + bidirectional path finding over the reversed edge
    // set (`@reverse`, dgraph.go:45, README.md:8). BFS = driver-bounded
    // iterative hash-joins with a visited anti-join; oracle = DuckDB
    // recursive CTE with min(depth).
    "graph_reach_bfs" -> ((s, dir) => graft.ops.Graph.reachBfs(s, Corpus.corpus(s, dir))),

    // The SAME traversal over the STORED docs of the LAYERED incremental
    // root: each doc's link was extracted once at ingest (the docs' `cust`
    // column), and the traversal resolves it against the canon of the
    // merged docs — no content scan (the reference traverses its stored
    // `links` relation, dgraph.go:62-92). Matching the from-scratch oracle
    // proves the stored links survived an addBatch intact.
    "graph_reach_stored" -> ((s, dir) =>
      graft.ops.Graph.reachStored(s, ensureIncr(s, dir).root)),

    // The edge relation itself after an incremental add, key-labeled: the
    // view over the merged docs of the base (the 80% slice) and the delta
    // layer, so a fresh doc that takes over a module's canon retargets the
    // base docs that link to it — must equal DuckDB's from-scratch
    // derivation over the FULL corpus.
    "graph_edges_incr" -> ((s, dir) => {
      val out = ensureIncr(s, dir)
      val docs = graft.index.Incremental.readMergedDocs(s, out.root)
      graft.index.LinkIndex.readMergedEdges(s, out.root)
        .join(docs.select(col("doc_id").as("src_id"), col("repo"), col("path").as("src_path")), "src_id")
        .join(docs.select(col("doc_id").as("dst_id"), col("path").as("dst_path")), "dst_id")
        .select("repo", "src_path", "dst_path")
        .orderBy("repo", "src_path", "dst_path")
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "corpus_synth" ->
      s"""WITH ${OracleSql.corpusCte}
         #SELECT repo, path, commit, lang, content, sha256(content) AS content_sha
         #FROM corpus ORDER BY repo, path, commit""".stripMargin('#'),

    // snapshot v contains slice classes 0..v-1 (commit-derived class, both
    // engines compute ascii over the same sha256-hex first char)
    // LEFT JOIN + count(s.repo): a version whose slices are all empty must
    // still emit its row (n_docs=0, sum_len NULL) to match the Spark side's
    // unconditional three aggregates
    "corpus_table_timetravel" ->
      s"""WITH ${OracleSql.corpusCte},
         #sliced AS MATERIALIZED (
         #  SELECT repo, content, ascii(substr(commit, 1, 1)) % 3 AS cls FROM corpus
         #)
         #SELECT v.version, count(s.repo) AS n_docs,
         #       count(DISTINCT s.repo) AS n_repos,
         #       CAST(sum(length(s.content)) AS BIGINT) AS sum_len
         #FROM (VALUES (1), (2), (3)) v(version)
         #LEFT JOIN sliced s ON s.cls < v.version
         #GROUP BY v.version ORDER BY v.version""".stripMargin('#'),

    "tokenize_tf" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT repo, path, commit, term, tf FROM tf
         #ORDER BY repo, path, commit, term""".stripMargin('#'),

    "corpus_stats" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT count(*) AS n_docs,
         #       ${OracleSql.quant("avg(CAST(dl AS DOUBLE))")} AS avgdl_r,
         #       CAST(sum(dl) AS BIGINT) AS total_tokens
         #FROM doclen""".stripMargin('#'),

    "term_df_top100" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS sum_tf
         #FROM tf GROUP BY term
         #ORDER BY df DESC, term ASC LIMIT 100""".stripMargin('#'),

    "bm25_naive_topk" -> OracleSql.bm25TopK(QuerySet.duckValues),

    "index_postings_stats" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS sum_tf
         #FROM tf GROUP BY term ORDER BY term""".stripMargin('#'),

    "index_segment_totals" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT CAST(sum(tf) AS BIGINT) AS total_tokens,
         #       CAST(count(*) AS BIGINT) AS total_postings
         #FROM tf""".stripMargin('#'),

    "bm25_index_topk" -> OracleSql.bm25TopK(QuerySet.duckValues),

    "bm25_and_topk" -> OracleSql.bm25TopKAnd(QuerySet.duckValuesAnd),

    "bm25_wand_topk" -> OracleSql.bm25TopK(QuerySet.duckValues),

    "bm25_scoped_topk" -> OracleSql.bm25TopK(QuerySet.duckValues, Some(QuerySet.scopeRepos)),

    "bm25_fast_topk" -> OracleSql.bm25TopK(QuerySet.duckValuesFor(QuerySet.singleTerm)),

    // nested result assembly: DuckDB 1.0 to_json(list(struct_pack ORDER BY
    // rank)) emits the byte-identical compact JSON as Spark's
    // to_json(sort_array(collect_list(struct))) — verified format parity.
    "bm25_nested_results" ->
      s"""${OracleSql.bm25TopK(QuerySet.duckValues)
            .replace("SELECT query_id, rank, repo, path, commit, score_r\nFROM ranked WHERE rank <= k\nORDER BY query_id, rank",
              "SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,\n" +
              "  CAST(to_json(list(struct_pack(rank := rank, repo := repo, path := path, commit := commit,\n" +
              "    score_micro := CAST(floor(score_r * 1000000.0 + 0.5) AS BIGINT)) ORDER BY rank)) AS VARCHAR) AS hits_json\n" +
              "FROM ranked WHERE rank <= k GROUP BY query_id ORDER BY query_id")}""",

    "corpus_lang_filter" ->
      s"""WITH ${OracleSql.corpusCte}
         #SELECT lang, count(*) AS n_docs, CAST(sum(length(content)) AS BIGINT) AS total_chars
         #FROM corpus WHERE lang IN ('go', 'scala')
         #GROUP BY lang ORDER BY lang""".stripMargin('#'),

    "corpus_content_gate" ->
      s"""WITH ${OracleSql.corpusCte}
         #SELECT lang,
         #       (len(list_filter(string_split_regex(lower(content), '${OracleSql.splitRegex}'), x -> x <> '')) >= 5
         #        AND length(content) <= 100000) AS pass,
         #       count(*) AS n
         #FROM corpus GROUP BY lang, pass ORDER BY lang, pass""".stripMargin('#'),

    "embed_cosine_lsh" -> graft.ops.OpsOracleSql.cosineLsh,

    "graph_reach_bfs" -> OracleSql.graphReachBfs(
      maxDepth = 3, graft.ops.Graph.RootRepos, graft.ops.Graph.CustModulus),

    // stored-graph serving must equal the identical from-scratch traversal
    "graph_reach_stored" -> OracleSql.graphReachBfs(
      maxDepth = 3, graft.ops.Graph.RootRepos, graft.ops.Graph.CustModulus),

    // the stored newest-wins edge relation after an addBatch == the
    // from-scratch derivation over the full corpus
    "graph_edges_incr" -> OracleSql.graphEdges(graft.ops.Graph.CustModulus),

    // DuckDB recomputes hit counts per query from the same ranked CTE; the
    // Spark side's n_sha_match is a REAL recomputation (stored-at-index-time
    // vs recomputed-from-source), so equality here proves the invariant.
    "sha256_invariant" ->
      s"""${OracleSql.bm25TopK(QuerySet.duckValues)
            .replace("SELECT query_id, rank, repo, path, commit, score_r\nFROM ranked WHERE rank <= k\nORDER BY query_id, rank",
              "SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits, CAST(count(*) AS BIGINT) AS n_sha_match\nFROM ranked WHERE rank <= k GROUP BY query_id ORDER BY query_id")}""",

    "text_stats" -> graft.ops.OpsOracleSql.textStats,
    "text_langid" -> graft.ops.OpsOracleSql.langId,
    "text_fingerprint" -> graft.ops.OpsOracleSql.fingerprint,
    "dedup_exact" -> graft.ops.OpsOracleSql.dedupExact,
    "text_winnow" -> graft.ops.OpsOracleSql.textWinnow,
    "dedup_winnow" -> graft.ops.OpsOracleSql.dedupWinnow,
    "dedup_ngram_jaccard" -> graft.ops.OpsOracleSql.ngramJaccard,
    "dedup_minhash_lsh" -> graft.ops.OpsOracleSql.minhashLsh,
    "dedup_simhash" -> graft.ops.OpsOracleSql.simhashPairs,
    "embed_cosine_pairs" -> graft.ops.OpsOracleSql.cosinePairs,
    "ann_topk_brute" -> graft.ops.OpsOracleSql.bruteTopK,
    "ann_ivf_topk" -> graft.ops.OpsOracleSql.ivfTopK,
    "mm_binary_meta" -> graft.ops.OpsOracleSql.mmBinaryMeta,
    "mm_pgm_decode" -> graft.ops.OpsOracleSql.mmPgmDecode,

    // incremental result == single-shot full index == the tf aggregate
    "index_incremental" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS sum_tf
         #FROM tf GROUP BY term ORDER BY term""".stripMargin('#'),

    // 3-layer chain == the same full-corpus tf aggregate
    "index_incremental_chain" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS sum_tf
         #FROM tf GROUP BY term ORDER BY term""".stripMargin('#'),

    // layered root served == the same full-corpus BM25 oracle as the
    // single-layer index paths (incremental == rebuild at the query surface)
    "bm25_incremental_topk" -> OracleSql.bm25TopK(QuerySet.duckValues),
    "bm25_wand_incr_topk" -> OracleSql.bm25TopK(QuerySet.duckValues),
    // fast route over the layered root: same single-term oracle as
    // bm25_fast_topk — the add-then-serve path must be rank-identical to
    // the full-corpus scoring
    "bm25_fast_incr_topk" -> OracleSql.bm25TopK(QuerySet.duckValuesFor(QuerySet.singleTerm)),

    // compacted single layer == the tf aggregate (decode-level identity
    // with a from-scratch rebuild; layer count pinned by the entry itself)
    "index_compacted" ->
      s"""WITH ${OracleSql.corpusCte}, ${OracleSql.tokenCtes}
         #SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS sum_tf
         #FROM tf GROUP BY term ORDER BY term""".stripMargin('#'),

    "streaming_tokenize_tf" ->
      s"""WITH t AS MATERIALIZED (
         #  SELECT unnest(list_filter(string_split_regex(lower(text), '${graft.tokenize.Tokenizer.SplitRegex}'), x -> x <> '')) AS term
         #  FROM documents
         #)
         #SELECT term, count(*) AS n FROM t GROUP BY term ORDER BY term""".stripMargin('#'),

    "streaming_window_events" ->
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws_epoch, event_type,
         #       count(*) AS n,
         #       floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value_r
         #FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin('#'),
  )
}
