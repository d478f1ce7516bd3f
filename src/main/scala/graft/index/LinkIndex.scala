package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STORED link graph (v7) — the engine analog of the reference's
  * persisted edge relation: Dgraph stores `links: [uid] @count @reverse`
  * (`/root/reference/pkg/database/relationship/dgraph.go:45`) and every
  * traversal walks the stored relation (`dgraph.go:62-92`); it never
  * re-parses page content to find links at query time. Accordingly:
  *
  *  - link EXTRACTION happens once at ingest — [[custCol]] runs inside the
  *    docs-sidecar write, the same pass that already reads every content
  *    byte for the sha256 invariant (the reference parses links out of the
  *    page it just fetched, `pkg/crawl/crawl.go:148-166`);
  *  - the edge relation `(src_id, dst_id)` is DERIVED from stored doc
  *    metadata (never from content) and persisted beside the index
  *    ([[IndexPaths.edgesDir]]); traversals ([[graft.ops.Graph.reachStored]])
  *    scan the artifact — O(edge scan), not O(corpus tokenize);
  *  - incremental adds maintain it LSM-style like postings: a delta layer
  *    carries the edges of the fresh docs plus re-derived edges for
  *    existing docs whose target module's canon set gained a fresh doc
  *    ([[deltaEdges]]); readers resolve newest-wins per `src_id`
  *    ([[readMergedEdges]]).
  *
  * Link semantics (single definition — the content-derived path in
  * [[graft.ops.Graph]] delegates here, so the two can never drift): each
  * doc carries a content-derived module id `cust ∈ [0, CustModulus)`; a doc
  * links to the canonical provider (min path, [[canonOf]]) of the next
  * module `(cust + 1) % CustModulus` within its repo — an import-graph
  * shape with out-degree 1, heavy fan-in on canonical docs, and 20-cycles.
  *
  * Scale: nodes/edges are doc-METADATA-sized relations (16 B per edge), so
  * every derivation here is a metadata job — group-min + two hash joins —
  * independent of content volume. The delta path still scans every base
  * node (the canon of base ∪ fresh reads them all); what it writes is
  * O(|fresh| + |rewritten sources|) edges.
  */
object LinkIndex {

  /** Module count of the link relation (the `cust_<n> -> cust_<n+1 mod M>`
    * import cycle; [[graft.ops.Graph.CustModulus]] aliases this).
    */
  val CustModulus: Int = 20

  /** The ingest-time link extraction: first `cust_<n>` token of the
    * content, null when absent (a doc with no link token is a leaf node —
    * guarded `when`, because ANSI mode makes `cast('' as int)` throw).
    */
  def custCol(content: Column): Column = {
    val m = regexp_extract(content, "cust_([0-9]+)", 1)
    when(m =!= "", m.cast("int"))
  }

  /** On-disk schema of an edges layer. Pinned explicitly on read: an empty
    * delta layer (no fresh docs, no canon changes) has no files to infer
    * from.
    */
  val EdgesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("src_id", LongType), StructField("dst_id", LongType)))
  }

  /** Node view of a docs-sidecar relation: `(doc_id, repo, path, cust)`
    * for link-bearing docs (null-cust docs are leaf nodes — they can be
    * edge TARGETS only via canon, which requires a cust, so they simply
    * don't participate).
    */
  def nodesOf(docs: DataFrame): DataFrame =
    docs.filter(col("cust").isNotNull).select("doc_id", "repo", "path", "cust")

  /** Canonical provider per (repo, cust): the doc with the MIN path —
    * groupBy + join back (no window; the same funnel-avoidance shape as
    * exact dedup). Returns `(repo, cust, canon_id, canon_path)`.
    */
  def canonOf(nodes: DataFrame): DataFrame = {
    val mins = nodes.groupBy("repo", "cust").agg(min("path").as("path"))
    mins.join(nodes, Seq("repo", "cust", "path"))
      .select(col("repo"), col("cust"), col("doc_id").as("canon_id"), col("path").as("canon_path"))
  }

  /** The edge join against an EXPLICIT canon relation — the one definition
    * of the link semantics ([[edgesOf]] and the delta maintenance both go
    * through here).
    */
  def edgesFrom(nodes: DataFrame, canon: DataFrame): DataFrame =
    nodes.join(
      canon.select(col("repo"), linkingCust(col("cust")).as("cust"), col("canon_id")),
      Seq("repo", "cust"))
      .select(col("doc_id").as("src_id"), col("canon_id").as("dst_id"))

  /** The module whose docs link to module `cust`: `(cust - 1) mod M`. */
  private def linkingCust(cust: Column): Column = (cust + lit(CustModulus) - 1) % CustModulus

  /** The full edge relation of a node set. */
  def edgesOf(nodes: DataFrame): DataFrame = edgesFrom(nodes, canonOf(nodes))

  /** The DELTA edge layer for an incremental add: the fresh docs' edges,
    * plus the re-derived edges of every EXISTING doc whose target module's
    * canon set changed, so newest-wins-per-src resolution serves the new
    * targets. A batch only ADDS docs, so a canon set (the module's docs at
    * its min path) changes iff a fresh doc joined it: by a smaller path (a
    * steal), the same path (a tie) or a brand-new module. So no old canon
    * is derived, and a tie the batch does not join is not rewritten.
    *
    * One canon derivation over base ∪ fresh — [[canonOf]]'s group-min and
    * join back — also yields each module's changed flag: the group-min
    * takes `min(struct(path, !fresh))`, whose second field is false iff a
    * fresh doc sits at the min path. One join ([[edgesFrom]]'s) then keeps
    * every fresh source and every base source whose target changed. The
    * layers are doc-disjoint, so no source is counted twice.
    */
  def deltaEdges(baseNodes: DataFrame, freshNodes: DataFrame): DataFrame = {
    val nodes = baseNodes.withColumn("fresh", lit(false))
      .unionByName(freshNodes.withColumn("fresh", lit(true)))
    val mins = nodes.groupBy("repo", "cust")
      .agg(min(struct(col("path"), (!col("fresh")).as("base"))).as("m"))
      .select(col("repo"), col("cust"), col("m.path").as("path"), (!col("m.base")).as("changed"))
    val canon = mins.join(nodes, Seq("repo", "cust", "path"))
      .select(col("repo"), linkingCust(col("cust")).as("cust"), col("doc_id").as("dst_id"), col("changed"))
    nodes.join(canon, Seq("repo", "cust"))
      .filter(col("fresh") || col("changed"))
      .select(col("doc_id").as("src_id"), col("dst_id"))
  }

  /** Persist one edges layer (creates `_SUCCESS`; an empty relation writes
    * a valid empty layer).
    */
  def writeEdges(spark: SparkSession, edges: DataFrame, dir: String): Unit =
    edges.select(col("src_id").cast("long"), col("dst_id").cast("long"))
      .write.mode("overwrite").parquet(dir)

  /** One layer's stored edges (schema pinned — empty layers have no files
    * to infer from).
    */
  def readLayerEdges(spark: SparkSession, edgesDir: String): DataFrame =
    spark.read.schema(EdgesSchema).parquet(edgesDir)

  /** The logical edge relation at the published `root`: newest layer wins
    * per `src_id`, over each layer's [[IndexPaths.edgesDir]] (an add
    * re-derives the edges of existing docs whose target it changed).
    */
  def readMergedEdges(spark: SparkSession, root: String): DataFrame =
    Snapshots.open(root).snapshot.layers
      .map(l => readLayerEdges(spark, l.edgesDir))
      .reduceRight((older, newer) =>
        older.join(newer.select("src_id"), Seq("src_id"), "left_anti").unionByName(newer))
}
