package graft.engine

import graft.index.TermHash
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The natural doc keys `(repo, path, commit)` of ONE salt shard, compact:
  * a sorted `doc_id` array plus every key field as UTF-8 bytes in one byte
  * array, field `f` of doc `i` at `bytes[offsets(3i+f), offsets(3i+f+1))`.
  * Bytes, not `java.lang.String`: unsigned byte order IS Spark's
  * `UTF8String` order (and DuckDB's), while UTF-16 `String.compareTo`
  * disagrees with it above the BMP.
  */
final class DocKeyShard private (
    val salt: Int, ids: Array[Long], bytes: Array[Byte], offsets: Array[Int]) extends Serializable {

  def size: Int = ids.length
  def docId(i: Int): Long = ids(i)

  /** Position of `docId` in this shard, or a negative number if it has no
    * key row.
    */
  def indexOf(docId: Long): Int = Arrays.binarySearch(ids, docId)

  /** Key field `f` (0 repo, 1 path, 2 commit) of the doc at position `i`. */
  def field(i: Int, f: Int): Array[Byte] =
    Arrays.copyOfRange(bytes, offsets(3 * i + f), offsets(3 * i + f + 1))

  /** True iff the repo of the doc at position `i` is one of `repos` (UTF-8
    * bytes), compared in place.
    */
  def repoIn(i: Int, repos: Array[Array[Byte]]): Boolean = {
    val from = offsets(3 * i)
    val to = offsets(3 * i + 1)
    repos.exists(r => Arrays.equals(bytes, from, to, r, 0, r.length))
  }

  /** Throws unless a row of salt `rowSalt` belongs in this shard: a row in
    * the wrong partition would find no key here and vanish silently.
    */
  def requireSalt(rowSalt: Int): Unit =
    if (rowSalt != salt) throw new IllegalStateException(
      s"salt $rowSalt row in the partition of salt shard $salt: shard pins are misaligned")
}

object DocKeyShard {

  /** The shard of salt `salt` from its `(doc_id, repo, path, commit)` rows;
    * throws on a row that belongs to another salt.
    */
  def build(salt: Int, numSalts: Int, rows: Iterator[(Long, String, String, String)]): DocKeyShard = {
    val sorted = rows.map { case (id, repo, path, commit) =>
      if (TermHash.salt(id, numSalts) != salt) throw new IllegalStateException(
        s"doc $id (salt ${TermHash.salt(id, numSalts)}) in the partition of salt $salt")
      (id, Array(repo, path, commit).map(_.getBytes(UTF_8)))
    }.toArray.sortBy(_._1)
    val offsets = new Array[Int](3 * sorted.length + 1)
    val out = new java.io.ByteArrayOutputStream()
    var o = 0
    sorted.iterator.flatMap(_._2).foreach { b => out.write(b); offsets(o + 1) = offsets(o) + b.length; o += 1 }
    new DocKeyShard(salt, sorted.map(_._1), out.toByteArray, offsets)
  }
}

/** One ranked candidate of a (salt shard, query) run, keys as UTF-8 bytes. */
final case class TailRow(
    queryId: String, k: Int, scoreR: Double,
    repo: Array[Byte], path: Array[Byte], commit: Array[Byte])

/** The ranking tail of every shard query ([[Wand.topKAt]], in each of its
  * modes): top-k per query in the pinned final order — quantized
  * score descending, then repo/path/commit ascending by unsigned UTF-8
  * bytes, which is Spark's `UTF8String` order and DuckDB's `ORDER BY`.
  *
  * Two halves, no exchange between them:
  *  - inside the task that owns salt shard `s` ([[select]]): each query's
  *    candidates of that shard get their keys from the shard's
  *    [[DocKeyShard]], and at most k leave the task. A shard can break
  *    score ties itself because it holds the keys, so an all-ties query
  *    ships ≤ numSalts·k rows, not its whole tie class;
  *  - on the driver ([[finish]]): the ≤ numSalts·k rows per query merge
  *    into the final top k, ranks are assigned, and the result is a local
  *    DataFrame (collecting it runs no Spark job).
  *
  * The global top k is contained in the union of the shards' top k under
  * the same total order, so the merge is exact.
  */
object ShardTail {

  /** The final total order (best first). */
  val order: Ordering[TailRow] = new Ordering[TailRow] {
    override def compare(a: TailRow, b: TailRow): Int = {
      var c = java.lang.Double.compare(b.scoreR, a.scoreR)
      if (c == 0) c = Arrays.compareUnsigned(a.repo, b.repo)
      if (c == 0) c = Arrays.compareUnsigned(a.path, b.path)
      if (c == 0) c = Arrays.compareUnsigned(a.commit, b.commit)
      c
    }
  }

  /** A repo scope as UTF-8 bytes, for [[DocKeyShard.repoIn]]. */
  def repoBytes(repos: Seq[String]): Array[Array[Byte]] = repos.distinct.map(_.getBytes(UTF_8)).toArray

  /** The ≤ k best of one (salt shard, query) run's `(doc_id, raw score)`
    * candidates. A candidate with no key row in the shard is dropped (the
    * docs inner-join semantics); the repo scope was applied in the run.
    */
  def select(shard: DocKeyShard, queryId: String, k: Int, candidates: Iterable[(Long, Double)]): Array[TailRow] = {
    val rows = mutable.ArrayBuffer.empty[TailRow]
    candidates.foreach { case (doc, score) =>
      val i = shard.indexOf(doc)
      if (i >= 0)
        rows += TailRow(queryId, k, graft.score.BM25.quantize(score),
          shard.field(i, 0), shard.field(i, 1), shard.field(i, 2))
    }
    rows.sorted(order).take(k).toArray
  }

  /** The result schema: the one `toDF` gives a Scala
    * `(String, Int, String, String, String, Double)` tuple.
    */
  val ResultSchema: StructType = StructType(Seq(
    StructField("query_id", StringType), StructField("rank", IntegerType, nullable = false),
    StructField("repo", StringType), StructField("path", StringType), StructField("commit", StringType),
    StructField("score_r", DoubleType, nullable = false)))

  /** Driver half: top k per query over the shard rows, ranks 1..k, plus the
    * already-final `fast` rows, as `(query_id, rank, repo, path, commit,
    * score_r)` sorted by (query_id, rank). Query ids compare as UTF-8 bytes
    * too, the order a Spark sort on the column gives. The rows go into a
    * local relation of the fixed [[ResultSchema]], so no request derives
    * an encoder.
    */
  def finish(spark: SparkSession, rows: Seq[TailRow],
      fast: Seq[(String, Int, String, String, String, Double)]): DataFrame = {
    def str(b: Array[Byte]) = new String(b, UTF_8)
    val ranked = rows.groupBy(_.queryId).map { case (q, rs) =>
      q -> rs.sorted(order).take(rs.head.k).zipWithIndex.map { case (r, i) =>
        (q, i + 1, str(r.repo), str(r.path), str(r.commit), r.scoreR)
      }
    }
    val byQuery = ranked ++ fast.groupBy(_._1)
    val out = byQuery.keys.toSeq
      .sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
      .flatMap(byQuery).map(Row.fromTuple)
    spark.createDataFrame(out.asJava, ResultSchema)
  }
}
