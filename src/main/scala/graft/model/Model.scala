package graft.model

/** A query from the reference query set fixture. `k` plays the role of the
  * reference's `display_depth` result bound (`pkg/query/query.go:40-52`).
  */
final case class Query(queryId: String, terms: Seq[String], k: Int)
