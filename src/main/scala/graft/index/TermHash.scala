package graft.index

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side twin of the build-time bucket expression
  * `pmod(xxhash64(term), numBuckets)` — evaluates Spark's own
  * `XxHash64Function` (seed 42, identical to the SQL `xxhash64`) on a local
  * string, so query planning can compute partition-pruning bucket lists
  * WITHOUT launching a Spark job per query (the round-1 path ran a
  * collect() over a 10-row Dataset just to hash the query terms).
  */
object TermHash {

  /** Spark SQL `xxhash64(s)` (seed 42), computed locally. */
  def xxhash64(s: String): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)

  /** Spark SQL `pmod(xxhash64(s), n)`, computed locally. */
  def bucket(s: String, n: Int): Int = {
    val m = xxhash64(s) % n
    (if (m < 0) m + n else m).toInt
  }

  /** The doc-salt function as a Column: the salt shard of a `doc_id`
    * column, `pmod(xxhash64(docId), n)`. Every doc-salted relation (the
    * build's segments, the reader's key shards)
    * uses it, so a doc lands in the same shard everywhere.
    */
  def saltCol(docId: Column, n: Int): Column = functions.pmod(functions.xxhash64(docId), functions.lit(n)).cast("int")

  /** [[saltCol]] computed locally for one doc id, used by the delta-layer
    * segments writer to split merged lists WITHOUT a Spark-side explode.
    */
  def salt(docId: Long, n: Int): Int = {
    val m = XxHash64Function.hash(docId, LongType, 42L) % n
    (if (m < 0) m + n else m).toInt
  }
}
