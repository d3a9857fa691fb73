// In the org.apache.spark.sql namespace for the same reason as
// NativeExpressions: the aggregate/codegen internals are private[sql].
package org.apache.spark.sql.graftnative

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k best (score desc, id asc) pairs.
  * A binary min-heap ordered by "worst first" would be asymptotically
  * ideal; for the k ≤ a-few-hundred regime this sorted-insert array
  * is simpler and the constant factors win. */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores = new Array[Double](k + 1)
  val ids = new Array[Long](k + 1)

  /** true if (s1, i1) ranks strictly better than (s2, i2). */
  @inline private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def add(score: Double, id: Long): Unit = {
    if (k <= 0) return // defensive: TopKByScore requires k >= 1
    if (n == k && !better(score, id, scores(n - 1), ids(n - 1))) return
    // find insert position (sorted best-first), shift the tail
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (better(score, id, scores(mid), ids(mid))) hi = mid else lo = mid + 1
    }
    val insertAt = lo
    val newN = math.min(n + 1, k)
    var j = newN - 1
    while (j > insertAt) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(insertAt) = score
    ids(insertAt) = id
    n = newN
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { add(other.scores(i), other.ids(i)); i += 1 }
  }

  def writeTo(out: DataOutputStream): Unit = {
    out.writeInt(k)
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeDouble(scores(i)); out.writeLong(ids(i)); i += 1 }
  }
}

object TopKBuffer {
  def readFrom(in: DataInputStream): TopKBuffer = {
    val buf = new TopKBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      buf.scores(i) = in.readDouble(); buf.ids(i) = in.readLong()
      i += 1
    }
    buf.n = n
    buf
  }
}

/** SURVEY §4 item 2: `TopKByScore` — a TypedImperativeAggregate that
  * replaces `window row_number <= k` for per-group top-k. Each
  * partition keeps one bounded k-buffer per group (map-side partial
  * aggregation), so the exchange carries O(groups × k) heap entries
  * instead of every scored row; the window formulation shuffles and
  * sorts the full scored corpus per group. Tie order (score desc, id
  * asc) matches the engine-wide determinism rule, so results are
  * bit-identical to the sort-based plan and the DuckDB oracle.
  *
  * Output: array<struct<id, rank, score>>, best first.
  */
case class TopKByScore(
    id: Expression,
    score: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  // fail at construction (= SQL analysis via GraftExtensions), not as
  // an ArrayIndexOutOfBounds inside a running task
  require(k >= 1, s"graft_topk requires k >= 1, got $k")

  override def children: Seq[Expression] = Seq(id, score)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val i = id.eval(input)
    val s = score.eval(input)
    if (i != null && s != null)
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val out = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      out(i) = InternalRow(buf.ids(i), (i + 1).toLong, buf.scores(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    buf.writeTo(out)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.readFrom(new DataInputStream(new ByteArrayInputStream(bytes)))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(id = newChildren(0), score = newChildren(1))
}

/** The query batch a [[BatchTopK]] scan scores, built on the driver.
  * One vector per query row, widened to double (null when the vector
  * or any element is null: such a query scores nothing, exactly as the
  * dot product's NULL did), and the heap each query row feeds — rows
  * sharing a qid feed one heap, so a qid keeps one top-k however many
  * rows carry it. `qids` holds each heap's qid as a Catalyst value of
  * `qidType`. `routes`, when set, maps a scanned row's cid to the query
  * rows that probe that cell; an unrouted batch scores every row
  * against every query. */
final class QueryBatch(
    val qidType: DataType,
    val qids: Array[Any],
    val heapOf: Array[Int],
    val vecs: Array[Array[Double]],
    val routes: Option[QueryRoutes]) extends Serializable {

  def size: Int = vecs.length

  /** This batch, scoring each scanned row only against the query rows
    * routed to its cid: `pairs` are (query row, cid). */
  def routed(pairs: Seq[(Int, Long)]): QueryBatch =
    new QueryBatch(qidType, qids, heapOf, vecs, Some(QueryRoutes(pairs)))

  /** One heap per query ROW, keyed by the row's index (an int qid) —
    * the shape of a per-query probe step, whose output routes rows. */
  def perRow: QueryBatch =
    new QueryBatch(IntegerType, Array.tabulate[Any](size)(i => i),
      Array.range(0, size), vecs, None)

  /** The external (Row) value of query row `q`'s qid. */
  def qidOf(q: Int): Any =
    CatalystTypeConverters.convertToScala(qids(heapOf(q)), qidType)

  // plans print the batch's size, never its vectors
  override def toString: String =
    s"$size queries" + routes.fold("")(r => s" over ${r.cids.length} cids")
}

object QueryBatch {
  /** A batch from collected (qid, vector) rows: the qid as an external
    * value of `qidType`, the vector as array<double> elements (null
    * elements allowed). */
  def apply(qidType: DataType, rows: Seq[(Any, Seq[Any])]): QueryBatch = {
    val keys = rows.map(_._1).distinct
    val heap = keys.zipWithIndex.toMap
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(qidType)
    val vecs = rows.map { case (_, v) =>
      if (v == null || v.contains(null)) null
      else v.map(_.asInstanceOf[Double]).toArray
    }.toArray
    new QueryBatch(qidType, keys.map(toCatalyst).toArray,
      rows.map(r => heap(r._1)).toArray, vecs, None)
  }
}

/** cid → the query rows that probe it, sorted by cid for an
  * allocation-free binary-search lookup per scanned row. */
final class QueryRoutes(val cids: Array[Long], val rows: Array[Array[Int]])
    extends Serializable {
  def rowsOf(cid: Long): Array[Int] = {
    val i = java.util.Arrays.binarySearch(cids, cid)
    if (i >= 0) rows(i) else QueryRoutes.NoRows
  }
}

object QueryRoutes {
  private val NoRows = Array.emptyIntArray

  def apply(pairs: Seq[(Int, Long)]): QueryRoutes = {
    val byCid = pairs.groupBy(_._2).toArray.sortBy(_._1)
    new QueryRoutes(byCid.map(_._1), byCid.map(_._2.map(_._1).distinct.sorted.toArray))
  }
}

/** [[BatchTopK]]'s buffer: one top-k heap per qid, plus the scanned
  * row's vector widened to double (reused per row, never serialized). */
final class BatchTopKBuffer(val heaps: Array[TopKBuffer]) {
  private var row = new Array[Double](0)
  def rowOf(n: Int): Array[Double] = {
    if (row.length < n) row = new Array[Double](n)
    row
  }
}

/** Batch top-k: scoring and per-query top-k of a whole query batch as
  * ONE aggregate over the scanned table — the FlatIP pass (the
  * reference scores a query batch in one pass over the float32
  * matrix, `src/pipeline/pipeline.py:126-136`), fused with the heap.
  * The batch comes from the driver inside the expression, so no join
  * feeds the scan: each scanned row's vector is read ONCE (float or
  * double, never cast per pair) and scored against every query — or,
  * with a `cid` input and a routed batch, only the queries that probe
  * the row's cell. Each score is the same left-to-right double sum as
  * [[DotProduct]] over the row and the query, and each heap keeps the
  * same (score desc, id asc) order as [[TopKByScore]], so results are
  * bit-identical to the scored join grouped by qid. NULL id, NULL
  * vector, a NULL element and a length mismatch score nothing, as the
  * dot's NULL did.
  *
  * A global aggregate: each task keeps queries × k heap entries, and
  * the single final merge receives partitions × queries × k.
  *
  * Output: array<struct<qid, id, rank, score>>, heap by heap, each
  * best first; `qid` has the batch's qid type. */
case class BatchTopK(
    id: Expression,
    vec: Expression,
    cid: Option[Expression],
    batch: QueryBatch,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BatchTopKBuffer] with ImplicitCastInputTypes {

  require(k >= 1, s"graft_topk_batch requires k >= 1, got $k")
  require(cid.isDefined == batch.routes.isDefined,
    "graft_topk_batch takes a cid input exactly when its batch is routed")

  override def children: Seq[Expression] = Seq(id, vec) ++ cid
  // double first: an array<int> vector casts to double, never to float
  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, TypeCollection(ArrayType(DoubleType), ArrayType(FloatType))) ++
      cid.map(_ => LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", batch.qidType, nullable = true),
    StructField("id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk_batch"
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(batch, k)

  private lazy val floatVec: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val elemsMayBeNull: Boolean = vec.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  private lazy val allRows: Array[Int] = Array.range(0, batch.size)

  override def createAggregationBuffer(): BatchTopKBuffer =
    new BatchTopKBuffer(Array.fill(batch.qids.length)(new TopKBuffer(k)))

  override def update(buf: BatchTopKBuffer, input: InternalRow): BatchTopKBuffer = {
    val i = id.eval(input)
    if (i == null) return buf
    val queries = cid match {
      case None => allRows
      case Some(c) =>
        val cell = c.eval(input)
        if (cell == null) return buf
        batch.routes.get.rowsOf(cell.asInstanceOf[Long])
    }
    if (queries.length == 0) return buf
    val v = vec.eval(input)
    if (v == null) return buf
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (elemsMayBeNull) {
      var j = 0
      while (j < n) { if (x.isNullAt(j)) return buf; j += 1 }
    }
    val r = buf.rowOf(n)
    var j = 0
    if (floatVec) while (j < n) { r(j) = x.getFloat(j).toDouble; j += 1 }
    else while (j < n) { r(j) = x.getDouble(j); j += 1 }
    val docId = i.asInstanceOf[Long]
    var qi = 0
    while (qi < queries.length) {
      val q = queries(qi)
      val qv = batch.vecs(q)
      if (qv != null && qv.length == n) {
        var s = 0.0
        j = 0
        while (j < n) { s += r(j) * qv(j); j += 1 }
        buf.heaps(batch.heapOf(q)).add(s, docId)
      }
      qi += 1
    }
    buf
  }

  override def merge(buf: BatchTopKBuffer, other: BatchTopKBuffer): BatchTopKBuffer = {
    var h = 0
    while (h < buf.heaps.length) { buf.heaps(h).mergeFrom(other.heaps(h)); h += 1 }
    buf
  }

  override def eval(buf: BatchTopKBuffer): Any = {
    val out = new Array[Any](buf.heaps.map(_.n).sum)
    var o = 0
    var h = 0
    while (h < buf.heaps.length) {
      val heap = buf.heaps(h)
      var i = 0
      while (i < heap.n) {
        out(o) = InternalRow(batch.qids(h), heap.ids(i), (i + 1).toLong, heap.scores(i))
        o += 1; i += 1
      }
      h += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: BatchTopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.heaps.length)
    buf.heaps.foreach(_.writeTo(out))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BatchTopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    new BatchTopKBuffer(Array.fill(in.readInt())(TopKBuffer.readFrom(in)))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BatchTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BatchTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BatchTopK =
    copy(id = newChildren(0), vec = newChildren(1), cid = newChildren.lift(2))
}

object TopKAggregate {
  /** Column wrapper: aggregate (id, score) pairs into the top-k
    * array<struct<id, rank, score>> for the group. */
  def topK(id: Column, score: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKByScore(ExpressionUtils.expression(id),
        ExpressionUtils.expression(score), k).toAggregateExpression())

  /** Column wrapper: the [[BatchTopK]] array for `batch` over the
    * scanned (id, vec[, cid]) rows; `cid` exactly when `batch` is
    * routed. */
  def topKBatch(id: Column, vec: Column, cid: Option[Column],
                batch: QueryBatch, k: Int): Column =
    ExpressionUtils.column(
      BatchTopK(ExpressionUtils.expression(id), ExpressionUtils.expression(vec),
        cid.map(ExpressionUtils.expression), batch, k).toAggregateExpression())
}
