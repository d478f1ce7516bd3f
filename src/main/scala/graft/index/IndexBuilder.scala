package graft.index

import graft.corpus.Corpus
import graft.tokenize.Tokenizer
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Global corpus statistics captured at build time. */
final case class IndexStats(version: Int, nDocs: Long, avgdl: Double, totalTokens: Long, numSalts: Int, numBuckets: Int)

/** On-disk layout of one built index — one layer of a snapshot
  * ([[Snapshot]]): every artifact is a fixed child of `root`.
  */
final case class IndexPaths(root: String) {
  val segmentsDir: String = s"$root/segments"   // (term, df, sum_tf, postings, dls, block_max, block_dir) partitioned by salt, bucket
  val indexDir: String = s"$root/index"         // never written (the merged view is Incremental.readMergedIndex); perfbench still sizes it
  val docsDir: String = s"$root/docs"           // (doc_id, repo, path, commit, lang, dl, content_sha, batch_id, cust)
  val fastDir: String = s"$root/fast"           // never written (fast lists are ranked by IndexReader); perfbench still sizes it
  val edgesDir: String = s"$root/edges"         // never written (the link graph is LinkIndex.readMergedEdges); perfbench still sizes it
  val manifestsDir: String = s"$root/manifests" // one JSON per salt partition (the checkpoint unit)
  val statsPath: String = s"$root/stats.json"
}

/** The index build pipeline — SURVEY.md §3.2's engine equivalent of the
  * reference crawl loop, and §7 Step 2/3.
  *
  * Stages:
  *   corpus scan → docId assign → docs sidecar (stats from it) →
  *   tokenize/tf → per-(salt, term) posting build (Aggregator, one
  *   shuffle) → segment write + per-salt manifest → stats + snapshot
  *   publish.
  * The salted segments are the layer's one posting copy. The global
  * per-term index is a view, not an artifact: [[Incremental.readMergedIndex]]
  * groups the sub-lists by term through the merge Aggregator. The fast
  * lists are not an artifact either: a reader ranks them from the segments
  * and doc keys it pins ([[graft.engine.IndexReader.fastList]]). Nor is the
  * link graph: [[LinkIndex.readMergedEdges]] derives it from the docs.
  *
  * Salting (north rule): sub-postings are built per `(term, salt)` where
  * `salt = pmod(xxhash64(doc_id), numSalts)`, so a hot term's postings are
  * spread over `numSalts` reducers instead of one — no single task ever
  * owns a stop-word-sized posting list. Map-side partial aggregation
  * (ObjectHashAggregate) further combines within each task.
  *
  * Resume (north rule, ST4/ST5): the checkpoint unit is the salt partition.
  * A salt is complete iff its manifest JSON exists; on (re)build, salts with
  * manifests are skipped, salts without are wiped and rebuilt — re-running a
  * completed build is a no-op, mirroring the reference's idempotent
  * conditional upserts (`pkg/database/relationship/dgraph.go:110, 162`) and
  * depth-completeness validation (`dgraph.go:86-90`).
  */
object IndexBuilder {

  /** Bump when the on-disk format changes — stale caches self-invalidate.
    * v4: snapshot metadata v2 (per-layer segments dirs + stats paths) and
    * salted delta-layer segments, making layered roots WAND-servable.
    * v5: per-doc ingest provenance — `batch_id` in the docs sidecar (the
    * reference stamps every node with its crawl root `StartUrl`,
    * `pkg/page/page.go:83`), so each layer of an LSM root is auditable to
    * the ingest batch that produced it.
    * v6: impact-ordered fast lists (`fast/` sidecar) — per hot term, the
    * top-[[FastK]]-by-score posting prefix (+ quantized-score boundary
    * ties), built at index time. Single-term queries serve from the prefix
    * in O(k) instead of evaluating the full posting list: block-max
    * pruning cannot fire on a flat score distribution (bench evidence:
    * q01 "func" evaluated all 598,902 candidates with 0 block skips), and
    * at 10^12 docs an O(N)-per-query hot-term path is not servable.
    * v7: (a) the fast sidecar stores each prefix entry's natural doc key
    * `(repo, path, commit)` alongside (doc_id, tf, dl), so a single-fast-term
    * query is answered entirely on the driver — ZERO Spark jobs (the round-4
    * bench showed fast-path p50 was ~100% job-scheduling overhead for 300
    * driver-resident rows); (b) stored link-graph artifacts `nodes/` +
    * `edges/` in every root (the reference STORES its edge relation and
    * traverses the store, `links: [uid] @count @reverse`,
    * `pkg/database/relationship/dgraph.go:45, 62-92` — v6 re-derived edges
    * from raw content per traversal); (c) layered roots rebuild the fast
    * sidecar at the new avgdl on every addBatch, so hot-term queries stay
    * O(k) between compactions.
    * v8: snapshot metadata v3 lists each layer's root (`layer_roots`); a
    * layer's index, segments, docs, fast and edges dirs and stats are the
    * fixed children of its root ([[IndexPaths]]), and a root without a
    * published snapshot is not complete.
    * v9: every layer is append-only and layers are doc-disjoint: an add
    * writes postings for its fresh docs only, through the build's posting
    * phases, so a term's postings are the union of its layers' lists and
    * its df is their sum. A v8 delta layer holds each delta term's full
    * merged list, which a summed df would count twice, so v8 roots are
    * refused and rebuilt. Snapshot metadata stores layer roots relative to
    * the snapshot's root, and the fast sidecar stores each term's global
    * df. Later v9 roots carry no `fast/` at all: the reader ranks every fast
    * list at its first lookup ([[graft.engine.IndexReader.fastList]]), so
    * no build, add or compaction writes one. The version stays 9: no reader
    * reads `fast/`, so an older v9 root that still holds one serves exactly
    * as a new one, and a binary that still required `fast/_SUCCESS` sees a
    * new root as incomplete and rebuilds it. Later still, no root carries
    * `edges/`: every docs layer already stores each doc's extracted link
    * (`cust`), and the edge relation is derived from the merged docs at
    * read time ([[LinkIndex.readMergedEdges]]). The same argument holds: no
    * reader reads `edges/`, so an older v9 root that still holds one serves
    * exactly as a new one, and a binary that still required
    * `edges/_SUCCESS` sees a new root as incomplete and rebuilds it.
    */
  val FormatVersion: Int = 9

  /** Fast-list prefix length: single-term queries with k ≤ FastK are
    * served from the impact-ordered prefix (Anh & Moffat-style impact
    * ordering, reduced to a per-term top-k cache in the FINAL total
    * order). Must stay ≥ every bench/oracle k and ≪ [[FastMinDf]].
    */
  val FastK: Int = 300

  /** Only terms with df ≥ this get a fast list — shorter lists are cheap
    * to evaluate in full, and the driver-resident lists stay few (hot
    * terms only).
    */
  val FastMinDf: Long = 4096L

  /** On-disk schema of a segments layer (salt + bucket are partition dirs).
    * Layered WAND reads specify it explicitly: an empty delta layer has no
    * files to infer from.
    */
  val SegmentsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("term", StringType), StructField("df", LongType),
      StructField("sum_tf", LongType), StructField("postings", BinaryType),
      StructField("dls", BinaryType),
      StructField("block_max", ArrayType(DoubleType, containsNull = false)),
      StructField("block_dir", BinaryType),
      StructField("salt", IntegerType), StructField("bucket", IntegerType)))
  }

  /** On-disk schema of a docs-sidecar layer. `batch_id` is the ingest
    * batch's lineage stamp (v5) — build args for a full build, the
    * incremental batch tag for a delta layer. `cust` (v7) is the doc's
    * content-derived link attribute, extracted ONCE at ingest (the
    * reference extracts links while crawling the page,
    * `pkg/crawl/crawl.go:148-166`, and stores them — it never re-parses
    * content to traverse); null when the content carries no link token.
    */
  val DocsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("repo", StringType),
      StructField("path", StringType), StructField("commit", StringType),
      StructField("lang", StringType), StructField("dl", LongType),
      StructField("content_sha", StringType), StructField("batch_id", StringType),
      StructField("cust", IntegerType)))
  }

  val DefaultNumSalts: Int = 16
  val DefaultNumBuckets: Int = 32

  /** In-flight format marker: records the FormatVersion a build STARTED at,
    * before any phase runs (stats.json is only written on completion), so a
    * resumed build can detect cross-version partial artifacts and wipe them
    * instead of trusting their schema-blind `_SUCCESS` guards.
    */
  private[index] def formatMarkerPath(paths: IndexPaths): String = s"${paths.root}/format.json"

  // ---------- JSON helpers (no deps; values are numbers/flat strings) ----------

  private def jstr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeJson(path: String, fields: Seq[(String, Any)]): Unit = {
    val body = fields.map {
      case (k, v: String) => s"${jstr(k)}: ${jstr(v)}"
      case (k, v) => s"${jstr(k)}: $v"
    }.mkString("{", ", ", "}")
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    // atomic publish: write tmp then move — a manifest either exists complete
    // or not at all (the reference's at-most-once delete is exactly the bug
    // this avoids, SURVEY.md §7 "quirks to NOT copy")
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def readJsonNumber(path: Path, key: String): Option[Double] = {
    if (!Files.exists(path)) return None
    val txt = Files.readString(path)
    // full JSON-number grammar incl. negative exponents ("4.2E-5")
    val m = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+\\-]?[0-9]+)?)").r
    m.findFirstMatchIn(txt).map(_.group(1).toDouble)
  }

  private[graft] def readJsonString(path: Path, key: String): Option[String] = {
    if (!Files.exists(path)) return None
    val txt = Files.readString(path)
    val m = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\"([^\"]*)\"").r
    m.findFirstMatchIn(txt).map(_.group(1))
  }

  def readStats(paths: IndexPaths): Option[IndexStats] = {
    val p = Paths.get(paths.statsPath)
    for {
      v <- readJsonNumber(p, "version")
      n <- readJsonNumber(p, "n_docs")
      a <- readJsonNumber(p, "avgdl")
      t <- readJsonNumber(p, "total_tokens")
      s <- readJsonNumber(p, "num_salts")
      b <- readJsonNumber(p, "num_buckets")
    } yield IndexStats(v.toInt, n.toLong, a, t.toLong, s.toInt, b.toInt)
  }

  def completedSalts(paths: IndexPaths): Set[Int] = {
    val dir = Paths.get(paths.manifestsDir)
    if (!Files.exists(dir)) Set.empty
    else scala.util.Using.resource(Files.list(dir)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("salt-") && s.endsWith(".json") =>
          s.stripPrefix("salt-").stripSuffix(".json").toInt }
        .toSet
    }
  }

  /** A build is complete iff stats exist at the current format version,
    * every salt has its manifest, and a snapshot is published — the one
    * completeness watermark (ST5): complete and published mean the same
    * thing. Each build phase is individually `_SUCCESS`-guarded, so a root
    * failing only some checks (a crash between the stats write and the
    * snapshot publish included) re-runs [[build]] cheaply: completed phases
    * no-op and only the missing artifacts and the publish are produced.
    */
  def isComplete(paths: IndexPaths, numSalts: Int = DefaultNumSalts): Boolean =
    readStats(paths).exists(s => s.version == FormatVersion && s.numSalts == numSalts) &&
      completedSalts(paths) == (0 until numSalts).toSet &&
      Snapshots.read(paths.root).isDefined

  /** The ONE recursive-delete helper — Bench.deleteTree and the streaming
    * changelog cleanup delegate here (single source of truth for
    * filesystem deletion semantics).
    */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** Observer invoked after every completed build/add phase with
    * `(tag, name, wallSeconds)` — the bench harness plugs in here to write
    * one attributed JSONL sample per phase (task-CPU/GC/load deltas), so a
    * slow driver-environment build self-attributes per phase inside the
    * bench artifact instead of requiring cross-run comparison. No-op by
    * default; phases run sequentially on the caller's thread.
    */
  @volatile var phaseHook: (String, String, Double) => Unit = (_, _, _) => ()

  private[graft] def phase[A](name: String, tag: String = "build")(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[$tag] $name: $wall%.1f s")
    phaseHook(tag, name, wall)
    a
  }

  private val HashAggFallback = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Run `f` (a posting build) with ObjectHashAggregate's
    * fallback-to-sort threshold raised to 10^7 groups, restoring the
    * session's previous value after. Those aggregations hold ~10^4+ groups
    * per task, far past the default 128; the hash path with the
    * primitive-array buffer is both faster and bounded (total buffer memory
    * == total postings).
    */
  private def withHashAggFallbackRaised[A](spark: SparkSession)(f: => A): A = {
    val prev = spark.conf.getOption(HashAggFallback)
    spark.conf.set(HashAggFallback, "10000000")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(HashAggFallback, v)
      case None => spark.conf.unset(HashAggFallback)
    }
  }

  // ---------- the build ----------

  /** Build (or resume) the index for a corpus. Returns the stats.
    *
    * `persistCorpus`: cache the corpus across the build's three actions.
    * Right when the input is an EXPENSIVE derivation (the synthesized test
    * corpus); wrong when it is already a stored table — at 4.8M docs the
    * persist overflows execution memory and the GC wall makes the whole
    * build head core-count-independent (and at 100 TB you never cache the
    * input — you re-scan it). Callers reading parquet pass false.
    */
  def build(
      spark: SparkSession,
      corpus: DataFrame,
      paths: IndexPaths,
      numSalts: Int = DefaultNumSalts,
      numBuckets: Int = DefaultNumBuckets,
      buildArgs: String = "",
      persistCorpus: Boolean = true): IndexStats = {
    // Format guard (resume safety): the per-phase _SUCCESS guards below are
    // schema-blind — a root built at an OLDER FormatVersion has _SUCCESS
    // markers whose parquet lacks the current schema's columns (a v6 docs
    // sidecar has no `cust`, a v6 fast sidecar no doc keys), and resuming
    // over them would re-stamp the root v7 around silently-broken artifacts
    // (an empty stored link graph, an NPE-ing fast route). If the root
    // records ANY other version — a finished build (stats.json) or an
    // in-flight one (the format marker, written before the first phase
    // because stats.json only lands at the end) — wipe the WHOLE root and
    // rebuild from the corpus: everything under it (including snapshot
    // metadata and any compaction/delta layer dirs outside the six base
    // paths) was produced by the old format, and a partial wipe would leave
    // the still-published version hint resolving readers to old-format
    // artifacts until the final publish, plus the old layers leaked on disk.
    // Same-version interrupted builds still resume per phase, which is the
    // point of the guards.
    val recordedVersion = readStats(paths).map(_.version).orElse(
      readJsonNumber(Paths.get(formatMarkerPath(paths)), "format").map(_.toInt))
    if (recordedVersion.exists(_ != FormatVersion)) phase("format-wipe") {
      graft.engine.IndexReader.invalidate(paths.root)
      deleteRecursively(Paths.get(paths.root))
    }
    writeJson(formatMarkerPath(paths), Seq("format" -> FormatVersion))

    // The corpus lineage feeds three actions (stats, docs write, segment
    // build); persist it once instead of recomputing the synthesis per
    // action. The tf relation is NOT persisted: it has exactly one consumer
    // (the segments phase) and materializing 10^7+ (doc, term) rows through
    // the block manager was the build's dominant non-scaling cost — doc
    // lengths come from a cheap codegen'd size(tokens) projection instead
    // (TokenizerSpec pins split-semantics equality of the two paths).
    val c0 = Corpus.withDocId(corpus)
    val c = if (persistCorpus) c0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else c0
    if (!Files.exists(Paths.get(s"${paths.docsDir}/_SUCCESS"))) phase("docs-sidecar") {
      docsRows(c, s"build:$buildArgs").write.mode("overwrite").parquet(paths.docsDir)
    }
    val docsSidecar = spark.read.schema(DocsSchema).parquet(paths.docsDir)

    // Corpus stats from the sidecar just written — a column-pruned scan of
    // doc METADATA (one dl per doc), not a second pass over the corpus
    // content: the stats action used to be one of three full-corpus scans
    // in the build. avgdl parameterizes the posting Aggregators, so this
    // still runs before the segments phase. Stats count TOKEN-BEARING docs
    // only (dl > 0): zero-token docs get lineage rows but no postings (P7).
    val statsRow = phase("stats")(
      docsSidecar.select("dl").filter(col("dl") > 0).agg(
        count(lit(1)).as("n"),
        avg(col("dl").cast("double")).as("avgdl"),
        sum("dl").as("total")).head())
    val stats = IndexStats(FormatVersion, statsRow.getLong(0), statsRow.getDouble(1), statsRow.getLong(2), numSalts, numBuckets)

    // Salted segment build, resumable per salt — the tokenizer feeds the
    // salted groupBy directly, no intermediate persist.
    buildPostingsPhases(spark, Tokenizer.termFreqsWithDl(c), stats, paths, buildArgs, tag = "build")

    if (persistCorpus) c.unpersist()
    // a (re)build invalidates any resident reader on this root
    graft.engine.IndexReader.invalidate(paths.root)
    writeStatsJson(paths.statsPath, stats, buildArgs)
    // Iceberg-style snapshot: a full build is a single-layer v1 table;
    // incremental adds append delta layers on top (Snapshots/Incremental).
    // Published last: until it lands, the root is not complete.
    Snapshots.write(paths.root, Snapshot(1, Seq(paths), None))
    stats
  }

  /** The docs-sidecar rows of a `doc_id`-keyed corpus, written by the full
    * build and by an add (its fresh docs): natural keys, doc length (the
    * single-scan token count; TokenizerSpec pins its equality with the
    * tokenizer's dl), the sha256 per-row invariant (BASELINE.json
    * input_hint), the layer's `batch_id`, and the content-derived link
    * attribute (v7) — all in ONE pass over the content, like the reference
    * parsing links out of the page it just fetched
    * (pkg/crawl/crawl.go:148-166). Zero-token docs get a lineage row with
    * dl=0 but contribute no postings — the analog of the reference
    * persisting 404 nodes without descending them
    * (pkg/crawl/crawl.go:109-118, P7).
    */
  private[index] def docsRows(corpus: DataFrame, batchId: String): DataFrame =
    corpus.select(col("doc_id"), col("repo"), col("path"), col("commit"), col("lang"),
      Tokenizer.tokenCountCol(col("content")).cast("long").as("dl"),
      sha2(col("content"), 256).as("content_sha"), lit(batchId).as("batch_id"),
      LinkIndex.custCol(col("content")).as("cust"))

  /** Salted segments + per-salt manifests from a `(doc_id, term, tf, dl)`
    * relation — the one posting-write path, shared by the full build
    * (tokenizer output), [[Incremental.addBatch]] (the fresh docs' rows)
    * and [[Incremental.compact]] (every layer's decoded segments).
    * Resumable per salt. Its phases (`segments`, `manifests`) report under
    * the caller's `tag` (`build`, `add` or `compact`).
    */
  private[index] def buildPostingsPhases(
      spark: SparkSession,
      termFreqs: => DataFrame,
      stats: IndexStats,
      paths: IndexPaths,
      buildArgs: String,
      tag: String): Unit = {
    val numSalts = stats.numSalts
    val numBuckets = stats.numBuckets
    val done = completedSalts(paths)
    val missing = (0 until numSalts).filterNot(done)
    if (missing.nonEmpty) {
      // wipe partial (manifest-less) salt dirs so the rerun is idempotent
      missing.foreach { s => deleteRecursively(Paths.get(s"${paths.segmentsDir}/salt=$s")) }

      val tfd = termFreqs
        .withColumn("salt", TermHash.saltCol(col("doc_id"), numSalts))
        .filter(col("salt").isin(missing: _*))

      val t0 = System.nanoTime()
      // groupBy shuffles on (salt, term) with spark.sql.shuffle.partitions
      // tasks — hot terms are already spread across salts, and every core
      // gets work (an explicit repartition(numSalts) capped parallelism at
      // numSalts tasks and left half the cluster idle).
      withHashAggFallbackRaised(spark)(phase("segments", tag) {
        tfd
          .groupBy("salt", "term")
          .agg(PostingAggExprs.buildPostings(stats.avgdl, col("doc_id"), col("tf"), col("dl")).as("p"))
          .select(col("salt"), col("term"),
            pmod(xxhash64(col("term")), lit(numBuckets)).cast("int").as("bucket"),
            col("p.df"), col("p.sum_tf"), col("p.postings"), col("p.dls"), col("p.block_max"), col("p.block_dir"))
          // co-locate each (salt, bucket) output dir on one task: without
          // this, every agg task writes a sliver of every dir → ~16k tiny
          // files; with it, exactly one file per partition dir
          .repartition(col("salt"), col("bucket"))
          .write.mode("append").partitionBy("salt", "bucket").parquet(paths.segmentsDir)
      })
      val wallMs = (System.nanoTime() - t0) / 1000000

      // Per-salt manifests from read-back (validates what actually landed).
      // per-salt lineage + skew stats: max_term_df surfaces hot-term skew per
      // shard (the reference's @count index analog, dgraph.go:45) — at 100 TB
      // the ratio max_term_df/posting_count is the stop-list / extra-salting
      // trigger.
      val perSalt = phase("manifests", tag)(spark.read.schema(SegmentsSchema).parquet(paths.segmentsDir)
        .filter(col("salt").isin(missing: _*))
        .groupBy("salt")
        .agg(count(lit(1)).as("terms"), sum("sum_tf").as("tokens"), sum("df").as("postings"),
          max("df").as("max_term_df"))
        .collect())
      perSalt.foreach { r =>
        val salt = r.getAs[Int]("salt")
        writeJson(s"${paths.manifestsDir}/salt-$salt.json", Seq(
          "partition_id" -> salt,
          "segment_path" -> s"segments/salt=$salt",
          "term_count" -> r.getAs[Long]("terms"),
          "token_count" -> r.getAs[Long]("tokens"),
          "posting_count" -> r.getAs[Long]("postings"),
          "max_term_df" -> r.getAs[Long]("max_term_df"),
          "build_args" -> buildArgs,
          "wall_clock_ms" -> wallMs))
      }
      // a salt with zero rows still needs a manifest (possible at tiny sf)
      val seen = perSalt.map(_.getAs[Int]("salt")).toSet
      missing.filterNot(seen).foreach { salt =>
        writeJson(s"${paths.manifestsDir}/salt-$salt.json", Seq(
          "partition_id" -> salt, "segment_path" -> s"segments/salt=$salt",
          "term_count" -> 0, "token_count" -> 0, "posting_count" -> 0,
          "build_args" -> buildArgs, "wall_clock_ms" -> wallMs))
      }
    }
  }

  /** Persist an [[IndexStats]] JSON (shared by full build + incremental).
    * The random `nonce` uniquifies every (re)build: two rebuilds with
    * identical stats still carry different nonces, so anything keyed by a
    * layer's nonce (such as a pin shared across readers) can never alias
    * one build's decoded postings to another's.
    */
  def writeStatsJson(path: String, stats: IndexStats, buildArgs: String): Unit =
    writeJson(path, Seq(
      "version" -> stats.version, "n_docs" -> stats.nDocs, "avgdl" -> stats.avgdl,
      "total_tokens" -> stats.totalTokens, "num_salts" -> stats.numSalts,
      "num_buckets" -> stats.numBuckets, "build_args" -> buildArgs,
      "nonce" -> java.util.UUID.randomUUID().toString))


  /** Strict open — the analog of the reference's completeness validation
    * (`FindNode` rejecting too-shallow results with "Depth does not match
    * dgraph result.", `pkg/database/relationship/dgraph.go:86-90`): serving
    * from an incomplete index is an error, not a partial answer.
    */
  def open(paths: IndexPaths, numSalts: Int = DefaultNumSalts): IndexStats = {
    if (!isComplete(paths, numSalts)) {
      val missing = (0 until numSalts).toSet -- completedSalts(paths)
      throw new IllegalStateException(
        s"index at ${paths.root} incomplete: missing salt manifests [${missing.toSeq.sorted.mkString(",")}], " +
          s"snapshot published: ${Snapshots.read(paths.root).isDefined}")
    }
    readStats(paths).get
  }

  /** Cache-or-build (the reference's query lifecycle, `api/http.go:45-67`):
    * reuse a complete index, build otherwise. Default root lives under
    * `target/` keyed by sf-dir name and format version.
    */
  def ensure(spark: SparkSession, sfDir: String): (IndexPaths, IndexStats) = {
    val name = Paths.get(sfDir).getFileName.toString
    val paths = IndexPaths(s"target/graft-index/v$FormatVersion/$name")
    if (isComplete(paths)) (paths, readStats(paths).get)
    else {
      val stats = build(spark, Corpus.corpus(spark, sfDir), paths, buildArgs = s"sfDir=$sfDir")
      (paths, stats)
    }
  }

  // ---------- async build trigger (wait_crawl=false) ----------

  // one in-flight build per root; single daemon worker — builds are
  // whole-cluster jobs, queueing them beats interleaving them
  private val inFlight = scala.collection.concurrent.TrieMap
    .empty[String, scala.concurrent.Future[IndexStats]]
  private lazy val buildEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-async-build"); t.setDaemon(true); t
    })

  /** Fire-and-forget build trigger — the engine analog of the reference's
    * `wait_crawl=false` mode (`clamber/cmd/api/http.go:76-84`: a cache miss
    * kicks off the crawl in a goroutine and returns 404 immediately; the
    * client polls). Returns without blocking:
    *
    *  - already complete  → an already-completed Future (the cache-hit path);
    *  - build in flight   → the SAME Future as the original trigger
    *    (deduplicated per root — retriggering is a poll, not a second build,
    *    like the reference's conditional-upsert idempotency);
    *  - otherwise         → schedules [[build]] on a daemon worker.
    *
    * Serving the root before the Future completes keeps throwing from
    * [[open]] (the 503/incomplete analog — ST5's completeness watermark):
    * the async mode changes WHEN the build runs, never what is servable.
    */
  def buildAsync(
      spark: SparkSession,
      corpus: org.apache.spark.sql.DataFrame,
      paths: IndexPaths,
      buildArgs: String = ""): scala.concurrent.Future[IndexStats] = {
    if (isComplete(paths)) scala.concurrent.Future.successful(readStats(paths).get)
    else inFlight.synchronized { // TrieMap.getOrElseUpdate may double-evaluate
      inFlight.getOrElseUpdate(paths.root, {
        implicit val ec: scala.concurrent.ExecutionContext = buildEc
        val f = scala.concurrent.Future(build(spark, corpus, paths, buildArgs = buildArgs))
        f.andThen { case _ => inFlight.remove(paths.root) }
      })
    }
  }

  /** [[ensure]]'s non-blocking twin: trigger-or-reuse by sf dir. */
  def ensureAsync(spark: SparkSession, sfDir: String): (IndexPaths, scala.concurrent.Future[IndexStats]) = {
    val name = Paths.get(sfDir).getFileName.toString
    val paths = IndexPaths(s"target/graft-index/v$FormatVersion/$name")
    (paths, buildAsync(spark, Corpus.corpus(spark, sfDir), paths, buildArgs = s"sfDir=$sfDir"))
  }
}
