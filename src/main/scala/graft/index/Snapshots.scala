package graft.index

import java.nio.file.{Files, Paths}

/** Iceberg-style snapshot metadata for an index root (SURVEY.md §1.3 /
  * BASELINE.json input_hint "Iceberg table"): each index root carries a
  * `metadata/` directory with immutable `v<N>.metadata.json` snapshot files
  * and a `version-hint.text` pointing at the current one — the same
  * current-snapshot protocol Iceberg's HadoopCatalog uses.
  *
  * A snapshot is the ordered list of the table's LSM layers, oldest →
  * newest, and each layer is a whole build root ([[IndexPaths]]: its index,
  * segments, docs, fast and edges dirs and its stats). A full build is one
  * layer; an incremental add appends its delta root to its parent's layers,
  * so base files are referenced, never rewritten. Layers are doc-disjoint;
  * a term's postings are the union of its layers' lists, and the docs are
  * the union of the layers' sidecars. The current stats are the newest
  * layer's.
  *
  * Layer roots and the parent root are stored relative to the snapshot's
  * root, so the metadata does not depend on where the tree lives and a
  * copied tree still opens.
  */
final case class Snapshot(
    version: Int,
    layers: Seq[IndexPaths], // oldest → newest; doc-disjoint
    parentRoot: Option[String])

/** A published root as [[Snapshots.open]] returns it: the snapshot, and
  * each of its layers with the stats that layer was encoded at.
  */
final case class PublishedRoot(snapshot: Snapshot, layers: Seq[(IndexPaths, IndexStats)]) {

  /** The current stats: the newest layer's. */
  def stats: IndexStats = layers.last._2
}

object Snapshots {

  /** JSON string literal — shared with [[graft.corpus.CorpusTable]] so the
    * two snapshot protocols (index side, corpus-source side) cannot drift.
    */
  private[graft] def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Atomic publish: write tmp, ATOMIC_MOVE into place — a reader never
    * observes a half-written file. Shared protocol primitive.
    */
  private[graft] def atomicWrite(path: java.nio.file.Path, body: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def metadataDir(root: String): String = s"$root/metadata"

  /** `path` relative to `root`, both made absolute and normalized: what a
    * root stores about other roots, so its bytes do not depend on where
    * the tree lives.
    */
  private[graft] def relativize(root: String, path: String): String = {
    def abs(p: String) = Paths.get(p).toAbsolutePath.normalize
    abs(root).relativize(abs(path)).toString
  }

  /** Atomically publish a snapshot and move the version hint to it. */
  def write(root: String, snap: Snapshot): Unit = {
    val dir = Paths.get(metadataDir(root))
    Files.createDirectories(dir)
    def rel(p: String): String = jstr(relativize(root, p))
    val body =
      s"""{"format_version": 3, "snapshot_version": ${snap.version},
         | "layer_roots": ${snap.layers.map(l => rel(l.root)).mkString("[", ", ", "]")},
         | "parent_root": ${snap.parentRoot.map(rel).getOrElse("null")}}""".stripMargin
    atomicWrite(dir.resolve(s"v${snap.version}.metadata.json"), body)
    atomicWrite(dir.resolve("version-hint.text"), snap.version.toString)
  }

  def currentVersion(root: String): Option[Int] = {
    val hint = Paths.get(metadataDir(root), "version-hint.text")
    if (Files.exists(hint)) Some(Files.readString(hint).trim.toInt) else None
  }

  /** Escape-aware quoted-string-array extraction (shared with
    * [[graft.corpus.CorpusTable]] — a naive comma-split would break paths
    * containing commas or escaped quotes).
    */
  private[graft] def readArr(txt: String, key: String): Seq[String] = {
    val m = ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
    m.findFirstMatchIn(txt).map(_.group(1)).toSeq
      .flatMap(inner => "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(inner).map(_.group(1)))
  }

  /** The current snapshot as published, unchecked; None before the first
    * publish. Serving and adding go through [[open]]. The stored roots are
    * resolved against `root` and normalized, so they take `root`'s form
    * (relative or absolute).
    */
  def read(root: String): Option[Snapshot] =
    currentVersion(root).map { v =>
      val txt = Files.readString(Paths.get(metadataDir(root), s"v$v.metadata.json"))
      def resolve(p: String): String = Paths.get(root).resolve(p).normalize.toString
      val parent = "\"parent_root\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
      Snapshot(v, readArr(txt, "layer_roots").map(p => IndexPaths(resolve(p))), parent.map(resolve))
    }

  /** Open the published root at `root`: its snapshot plus every layer's
    * stats. The one check of a snapshot, shared by the reader, the add, the
    * compaction and the merged reads. Publishing is the last step of a
    * build, an add and a compaction, so a root without a snapshot is
    * unfinished and is refused (the 503 analog), as is a snapshot that
    * lists no layer roots (older metadata) or a layer whose stats are
    * missing or at another [[IndexBuilder.FormatVersion]].
    */
  def open(root: String): PublishedRoot = {
    val snap = read(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot at $root: the build or add is unfinished"))
    if (snap.layers.isEmpty)
      throw new IllegalStateException(
        s"snapshot v${snap.version} at $root lists no layer roots (older metadata?) — rebuild the root")
    PublishedRoot(snap, snap.layers.map { layer =>
      val stats = IndexBuilder.readStats(layer).getOrElse(
        throw new IllegalStateException(s"missing stats at ${layer.statsPath}"))
      if (stats.version != IndexBuilder.FormatVersion)
        throw new IllegalStateException(
          s"layer ${layer.root} of $root has format v${stats.version}, " +
            s"need v${IndexBuilder.FormatVersion} — rebuild the root")
      layer -> stats
    })
  }
}
