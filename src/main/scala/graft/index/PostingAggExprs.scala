package graft.index

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.DataType

/** Custom Catalyst aggregate expressions for posting-list construction —
  * the A6 build aggregate as a native `TypedImperativeAggregate` instead of
  * a `udaf(Aggregator)`:
  *
  *  - the Scala-Aggregator path serializes its buffer through a Kryo
  *    `ExpressionEncoder`; under 32 concurrent aggregation tasks the
  *    serializer-instance churn dominated the build (segments phase 15 s at
  *    8 threads but 150 s at 32 — inverse scaling). Here serialize/
  *    deserialize are hand-coded fixed-width packing of the primitive
  *    buffer arrays: no Kryo, no reflection, no shared state;
  *  - update/merge work directly on [[PostingBuf]]'s primitive arrays.
  */
object PostingAggExprs {

  import org.apache.spark.sql.types._

  /** Output schema of both aggregates: one encoded posting-list row. */
  val outputSchema: StructType = StructType(Seq(
    StructField("df", LongType, nullable = false),
    StructField("sum_tf", LongType, nullable = false),
    StructField("postings", BinaryType, nullable = false),
    StructField("dls", BinaryType, nullable = false),
    StructField("block_max", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("block_dir", BinaryType, nullable = false)))

  def packBuf(b: PostingBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + b.size * 20)
    bb.putInt(b.size)
    var i = 0
    while (i < b.size) { bb.putLong(b.docIds(i)); bb.putInt(b.tfs(i)); bb.putLong(b.dls(i)); i += 1 }
    bb.array()
  }

  def unpackBuf(bytes: Array[Byte]): PostingBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new PostingBuf
    var i = 0
    while (i < n) { b.add(bb.getLong(), bb.getInt(), bb.getLong()); i += 1 }
    b
  }

  /** finish → Catalyst InternalRow of [[outputSchema]]. */
  def evalBuf(b: PostingBuf, avgdl: Double): InternalRow = {
    val n = b.size
    val docIds = java.util.Arrays.copyOf(b.docIds, n)
    val tfs = java.util.Arrays.copyOf(b.tfs, n)
    val dls = java.util.Arrays.copyOf(b.dls, n)
    // primitive in-place sort (r6) — the previous boxed index sortBy paid a
    // boxed comparator call per comparison on every posting of every group
    PostingBuf.sortByDocId(docIds, tfs, dls, n)
    val e = Postings.encode("", docIds, tfs, dls, avgdl)
    new GenericInternalRow(Array[Any](e.df, e.sumTf, e.postings, e.dls, new GenericArrayData(e.blockMax), e.blockDir))
  }

  // Spark 4 moved Column off Expression; the classic bridge converts both ways.
  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)
  private def toCol(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)

  /** Column wrapper for [[BuildPostings]]. */
  def buildPostings(avgdl: Double, docId: Column, tf: Column, dl: Column): Column =
    toCol(BuildPostings(toExpr(docId), toExpr(tf), toExpr(dl), avgdl).toAggregateExpression())

  /** Column wrapper for [[MergePostings]]. */
  def mergePostings(avgdl: Double, postings: Column, dls: Column): Column =
    toCol(MergePostings(toExpr(postings), toExpr(dls), avgdl).toAggregateExpression())
}

/** groupBy(term) aggregate: raw `(doc_id, tf, dl)` rows → one encoded
  * posting-list row (df, sum_tf, postings, dls, block_max).
  */
case class BuildPostings(
    docId: Expression, tf: Expression, dl: Expression, avgdl: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PostingBuf] {

  override def children: Seq[Expression] = Seq(docId, tf, dl)
  override def nullable: Boolean = false
  override def dataType: DataType = PostingAggExprs.outputSchema

  override def createAggregationBuffer(): PostingBuf = new PostingBuf

  override def update(b: PostingBuf, input: InternalRow): PostingBuf = {
    b.add(
      docId.eval(input).asInstanceOf[Long],
      tf.eval(input).asInstanceOf[Long].toInt,
      dl.eval(input).asInstanceOf[Long])
    b
  }

  override def merge(a: PostingBuf, b: PostingBuf): PostingBuf = { a.addAll(b); a }
  override def eval(b: PostingBuf): Any = PostingAggExprs.evalBuf(b, avgdl)
  override def serialize(b: PostingBuf): Array[Byte] = PostingAggExprs.packBuf(b)
  override def deserialize(bytes: Array[Byte]): PostingBuf = PostingAggExprs.unpackBuf(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BuildPostings = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BuildPostings = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BuildPostings =
    copy(docId = c(0), tf = c(1), dl = c(2))
  override def prettyName: String = "build_postings"
}

/** groupBy(term) aggregate over already-encoded sub-postings (disjoint
  * docId (layer, salt) shards) → the merged global posting list,
  * re-encoded with the (possibly new) avgdl — the merged view
  * [[Incremental.readMergedIndex]].
  */
case class MergePostings(
    postings: Expression, dls: Expression, avgdl: Double,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PostingBuf] {

  override def children: Seq[Expression] = Seq(postings, dls)
  override def nullable: Boolean = false
  override def dataType: DataType = PostingAggExprs.outputSchema

  override def createAggregationBuffer(): PostingBuf = new PostingBuf

  override def update(b: PostingBuf, input: InternalRow): PostingBuf = {
    val (ids, tfs, ds) = Postings.decode(
      postings.eval(input).asInstanceOf[Array[Byte]],
      dls.eval(input).asInstanceOf[Array[Byte]])
    var i = 0
    while (i < ids.length) { b.add(ids(i), tfs(i), ds(i)); i += 1 }
    b
  }

  override def merge(a: PostingBuf, b: PostingBuf): PostingBuf = { a.addAll(b); a }
  override def eval(b: PostingBuf): Any = PostingAggExprs.evalBuf(b, avgdl)
  override def serialize(b: PostingBuf): Array[Byte] = PostingAggExprs.packBuf(b)
  override def deserialize(bytes: Array[Byte]): PostingBuf = PostingAggExprs.unpackBuf(bytes)

  override def withNewMutableAggBufferOffset(o: Int): MergePostings = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MergePostings = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MergePostings =
    copy(postings = c(0), dls = c(1))
  override def prettyName: String = "merge_postings"
}
