package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Byte-level content of a posting relation, for exact equality checks. */
object PostingRows {

  /** The `values` columns of every row of `df`, keyed by its `keys`
    * columns, with binary and array columns as `Seq`s so that equal bytes
    * compare equal. Fails if two rows share a key.
    */
  def of(df: DataFrame, keys: Seq[String], values: Seq[String]): Map[Seq[Any], Seq[Any]] = {
    val rows = df.select((keys ++ values).map(col): _*).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case a: scala.collection.Seq[_] => a.toSeq
      case v => v
    })
    val byKey = rows.map(r => r.take(keys.size) -> r.drop(keys.size)).toMap
    require(byKey.size == rows.size, s"${rows.size - byKey.size} rows share a key of $keys")
    byKey
  }

  /** The keys whose rows differ between `a` and `b`: present in one only,
    * or holding other values.
    */
  def differingKeys(a: Map[Seq[Any], Seq[Any]], b: Map[Seq[Any], Seq[Any]]): Set[Seq[Any]] =
    (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))

  /** The posting columns of a segments or merged-view row. */
  val Columns: Seq[String] = Seq("df", "sum_tf", "postings", "dls", "block_max", "block_dir")
}
