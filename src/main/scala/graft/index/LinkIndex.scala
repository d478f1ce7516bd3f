package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The link graph of an index root, as a view over its stored docs.
  *
  *  - Link EXTRACTION happens once, at ingest: [[custCol]] runs inside the
  *    docs-sidecar write, the same pass that already reads every content
  *    byte for the sha256 invariant (the reference parses links out of the
  *    page it just fetched, `pkg/crawl/crawl.go:148-166`). Every docs layer
  *    stores the extracted link as its `cust` column.
  *  - RESOLUTION happens at read time. The reference resolves a link to a
  *    node uid at upsert time (`pkg/database/relationship/dgraph.go:45`,
  *    `:148-176`); here a link resolves to its target module's canonical
  *    doc, which can change with every add, so [[readMergedEdges]] derives
  *    the edge relation `(src_id, dst_id)` from the root's merged docs. It
  *    reads stored doc metadata only, never content, and no build, add or
  *    compaction writes an edge artifact.
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
  * independent of content volume.
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

  /** Node view of a docs-sidecar relation: `(doc_id, repo, path, cust)`
    * for link-bearing docs (null-cust docs are leaf nodes — they can be
    * edge TARGETS only via canon, which requires a cust, so they simply
    * don't participate).
    */
  def nodesOf(docs: DataFrame): DataFrame =
    docs.filter(col("cust").isNotNull).select("doc_id", "repo", "path", "cust")

  /** Canonical provider per (repo, cust): the doc with the MIN path —
    * groupBy + join back (no window; the same funnel-avoidance shape as
    * exact dedup). Ties are kept: every doc at the min path is a provider.
    * Returns `(repo, cust, canon_id, canon_path)`.
    */
  def canonOf(nodes: DataFrame): DataFrame = {
    val mins = nodes.groupBy("repo", "cust").agg(min("path").as("path"))
    mins.join(nodes, Seq("repo", "cust", "path"))
      .select(col("repo"), col("cust"), col("doc_id").as("canon_id"), col("path").as("canon_path"))
  }

  /** The edge join against an EXPLICIT canon relation — the one definition
    * of the link semantics, for callers that derive the canon once and use
    * it twice ([[graft.ops.Graph]]'s roots and edges).
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

  /** The edge relation at the published `root`: [[edgesOf]] over the nodes
    * of its merged docs ([[Incremental.readMergedDocs]]), so every layer's
    * docs resolve against the canon of the whole root.
    */
  def readMergedEdges(spark: SparkSession, root: String): DataFrame =
    edgesOf(nodesOf(Incremental.readMergedDocs(spark, root)))
}
