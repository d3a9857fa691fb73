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
import org.apache.spark.unsafe.types.UTF8String

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

  /** The heap as array<struct<id, rank, score>>, best first. */
  def toArrayData: ArrayData = {
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = InternalRow(ids(i), (i + 1).toLong, scores(i)); i += 1 }
    new GenericArrayData(out)
  }

  def writeTo(out: DataOutputStream): Unit = {
    out.writeInt(k)
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeDouble(scores(i)); out.writeLong(ids(i)); i += 1 }
  }
}

object TopKBuffer {
  /** [[TopKBuffer.toArrayData]]'s type. */
  val RankedType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

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
  override def dataType: DataType = TopKBuffer.RankedType
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

  override def eval(buf: TopKBuffer): Any = buf.toArrayData

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

/** Per-group top-k of per-id SUMS: a group's `score` rows are summed
  * per id, and the group keeps the k best (sum desc, id asc) ids — a
  * grouped `sum` and a [[TopKByScore]] in one aggregate, so the sums
  * need no exchange on (group, id). Each sum starts from 0.0 and adds
  * in arrival order, as `sum` does; with at most two scores per id (a
  * rank fusion of two legs) IEEE commutativity makes the sum
  * independent of that order. A NULL id or score adds nothing.
  *
  * Output: array<struct<id, rank, score>>, best first. */
case class SumTopK(
    id: Expression,
    score: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.HashMap[Long, Double]]
  with ImplicitCastInputTypes {

  require(k >= 1, s"graft_topk_sum requires k >= 1, got $k")

  private type Sums = scala.collection.mutable.HashMap[Long, Double]

  override def children: Seq[Expression] = Seq(id, score)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKBuffer.RankedType
  override def prettyName: String = "graft_topk_sum"

  override def createAggregationBuffer(): Sums = new Sums

  private def add(buf: Sums, i: Long, s: Double): Unit =
    buf.update(i, buf.getOrElse(i, 0.0) + s)

  override def update(buf: Sums, input: InternalRow): Sums = {
    val i = id.eval(input)
    val s = score.eval(input)
    if (i != null && s != null) add(buf, i.asInstanceOf[Long], s.asInstanceOf[Double])
    buf
  }

  override def merge(buf: Sums, other: Sums): Sums = {
    other.foreach { case (i, s) => add(buf, i, s) }
    buf
  }

  override def eval(buf: Sums): Any = {
    val heap = new TopKBuffer(k)
    buf.foreach { case (i, s) => heap.add(s, i) }
    heap.toArrayData
  }

  override def serialize(buf: Sums): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (i, s) => out.writeLong(i); out.writeDouble(s) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Sums = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Sums
    var left = in.readInt()
    while (left > 0) { buf.update(in.readLong(), in.readDouble()); left -= 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SumTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SumTopK =
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

/** The term-query batch a [[BatchBM25]] scan scores, built on the
  * driver: the batch's distinct lower-cased terms, its distinct qids
  * in first-appearance order, and per qid the indices of its terms in
  * query order. Entries sharing a qid feed one query, their terms
  * concatenated; a term a query names twice is kept twice, so it
  * scores twice. */
final class LexicalBatch private (
    val qids: Array[Long],
    val terms: Array[String],
    val termsOf: Array[Array[Int]]) extends Serializable {
  // plans print the batch's size, never its terms
  override def toString: String = s"${qids.length} queries over ${terms.length} terms"
}

object LexicalBatch {
  def apply(queries: Seq[(Long, Seq[String])]): LexicalBatch = {
    val lowered = queries.map { case (q, ts) => (q, ts.map(_.toLowerCase)) }
    val terms = lowered.flatMap(_._2).distinct
    val index = terms.zipWithIndex.toMap
    val qids = lowered.map(_._1).distinct
    val byQid = lowered.groupBy(_._1)
    new LexicalBatch(qids.toArray, terms.toArray,
      qids.map(q => byQid(q).flatMap(_._2).map(index).toArray).toArray)
  }
}

/** One batch term's postings as [[BatchBM25]] gathers them: parallel
  * (doc, tf, len) arrays, grown by doubling. */
final class TermPostings {
  var n: Int = 0
  var docs = new Array[Long](4)
  var tfs = new Array[Double](4)
  var lens = new Array[Double](4)

  def add(doc: Long, tf: Double, len: Double): Unit = {
    if (n == docs.length) {
      docs = java.util.Arrays.copyOf(docs, 2 * n)
      tfs = java.util.Arrays.copyOf(tfs, 2 * n)
      lens = java.util.Arrays.copyOf(lens, 2 * n)
    }
    docs(n) = doc; tfs(n) = tf; lens(n) = len
    n += 1
  }

  def addAll(other: TermPostings): Unit = {
    var i = 0
    while (i < other.n) { add(other.docs(i), other.tfs(i), other.lens(i)); i += 1 }
  }

  /** Sorts the rows by (doc, tf, len) in place — a heap sort, so the
    * order does not depend on how the partitions merged. */
  def sort(): Unit = {
    var i = n / 2 - 1
    while (i >= 0) { siftDown(i, n); i -= 1 }
    var end = n - 1
    while (end > 0) { swap(0, end); siftDown(0, end); end -= 1 }
  }

  @inline private def less(i: Int, j: Int): Boolean =
    docs(i) < docs(j) || docs(i) == docs(j) &&
      (tfs(i) < tfs(j) || tfs(i) == tfs(j) && lens(i) < lens(j))

  private def swap(i: Int, j: Int): Unit = {
    val d = docs(i); docs(i) = docs(j); docs(j) = d
    val t = tfs(i); tfs(i) = tfs(j); tfs(j) = t
    val l = lens(i); lens(i) = lens(j); lens(j) = l
  }

  private def siftDown(root: Int, size: Int): Unit = {
    var i = root
    var c = 2 * i + 1
    while (c < size) {
      if (c + 1 < size && less(c, c + 1)) c += 1
      if (!less(i, c)) return
      swap(i, c)
      i = c; c = 2 * i + 1
    }
  }

  def writeTo(out: DataOutputStream): Unit = {
    out.writeInt(n)
    var i = 0
    while (i < n) {
      out.writeLong(docs(i)); out.writeDouble(tfs(i)); out.writeDouble(lens(i))
      i += 1
    }
  }
}

object TermPostings {
  def readFrom(in: DataInputStream): TermPostings = {
    val p = new TermPostings
    var left = in.readInt()
    while (left > 0) { p.add(in.readLong(), in.readDouble(), in.readDouble()); left -= 1 }
    p
  }
}

/** [[BatchBM25]]'s buffer: each batch term's postings, and the corpus
  * scalars (N, avgdl) once a row has carried them. */
final class BatchBM25Buffer(val postings: Array[TermPostings]) {
  var hasCorpus = false
  var n = 0.0
  var avgdl = 0.0
}

/** Batch BM25: scoring and per-query top-k of a whole term-query batch
  * as ONE aggregate over the term-filtered postings scan — the lexical
  * twin of [[BatchTopK]]. The buffer gathers each batch term's postings
  * (doc, tf, len); `eval`, which sees them all, takes each term's df as
  * its distinct-doc count and its idf from the corpus scalars `n` and
  * `avgdl` every row carries (one value per scan: the corpus is a
  * one-row frame), scores each posting with the Okapi formula in the
  * relational scorer's operation order, sums each doc's term scores in
  * the query's term order (a repeated term adds twice) and keeps one
  * (score desc, doc asc) heap per qid. No join fans the postings out
  * to the queries and no exchange groups the scores: the plan is the
  * scan, the broadcast corpus row and the aggregate's single merge.
  * That merge holds every matching posting of the batch (what the scan
  * read) in one task: O(matching postings) memory, the scale limit of
  * this plan.
  *
  * A row whose term is outside the batch, or with a NULL input, adds
  * nothing (postings carry none: tf is a count, len a token-array
  * size).
  *
  * Output: array<struct<qid, doc, rank, score>>, query by query, each
  * best first; scores unrounded. */
case class BatchBM25(
    term: Expression,
    doc: Expression,
    tf: Expression,
    len: Expression,
    n: Expression,
    avgdl: Expression,
    batch: LexicalBatch,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BatchBM25Buffer] with ImplicitCastInputTypes {

  require(k >= 1, s"graft_topk_bm25 requires k >= 1, got $k")

  override def children: Seq[Expression] = Seq(term, doc, tf, len, n, avgdl)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, LongType, DoubleType, DoubleType, DoubleType, DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("doc", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_topk_bm25"
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(batch, k)

  @transient private lazy val termIndex: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    batch.terms.zipWithIndex.foreach { case (t, i) => m.put(UTF8String.fromString(t), i) }
    m
  }

  override def createAggregationBuffer(): BatchBM25Buffer =
    new BatchBM25Buffer(Array.fill(batch.terms.length)(new TermPostings))

  override def update(buf: BatchBM25Buffer, input: InternalRow): BatchBM25Buffer = {
    val t = term.eval(input)
    val ti = if (t == null) null else termIndex.get(t)
    if (ti == null) return buf
    val d = doc.eval(input)
    val f = tf.eval(input)
    val l = len.eval(input)
    val nv = n.eval(input)
    val av = avgdl.eval(input)
    if (d == null || f == null || l == null || nv == null || av == null) return buf
    if (!buf.hasCorpus) {
      buf.hasCorpus = true
      buf.n = nv.asInstanceOf[Double]
      buf.avgdl = av.asInstanceOf[Double]
    }
    buf.postings(ti).add(d.asInstanceOf[Long], f.asInstanceOf[Double], l.asInstanceOf[Double])
    buf
  }

  override def merge(buf: BatchBM25Buffer, other: BatchBM25Buffer): BatchBM25Buffer = {
    var i = 0
    while (i < buf.postings.length) { buf.postings(i).addAll(other.postings(i)); i += 1 }
    if (!buf.hasCorpus && other.hasCorpus) {
      buf.hasCorpus = true
      buf.n = other.n
      buf.avgdl = other.avgdl
    }
    buf
  }

  /** Each posting's term score, the postings sorted by doc first:
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len / avgdl)),
    * with [[graft.lexical.BM25]]'s k1 and b. */
  private def termScores(buf: BatchBM25Buffer, p: TermPostings): Array[Double] = {
    val k1 = graft.lexical.BM25.K1
    val b = graft.lexical.BM25.B
    p.sort()
    var df = 0
    var i = 0
    while (i < p.n) { if (i == 0 || p.docs(i) != p.docs(i - 1)) df += 1; i += 1 }
    val idf = StrictMath.log(1.0 + (buf.n - df + 0.5) / (df + 0.5))
    val s = new Array[Double](p.n)
    i = 0
    while (i < p.n) {
      s(i) = idf * p.tfs(i) * (k1 + 1.0) /
        (p.tfs(i) + k1 * ((1.0 - b) + b * p.lens(i) / buf.avgdl))
      i += 1
    }
    s
  }

  override def eval(buf: BatchBM25Buffer): Any = {
    if (!buf.hasCorpus) return new GenericArrayData(Array.empty[Any])
    val scores = buf.postings.map(termScores(buf, _))
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var q = 0
    while (q < batch.qids.length) {
      // merge the query's doc-sorted term lists: one cursor per term
      // occurrence, each doc's scores summed in the query's term order
      val ts = batch.termsOf(q)
      val at = new Array[Int](ts.length)
      val heap = new TopKBuffer(k)
      var more = true
      while (more) {
        more = false
        var docId = 0L
        var j = 0
        while (j < ts.length) {
          val p = buf.postings(ts(j))
          if (at(j) < p.n && (!more || p.docs(at(j)) < docId)) { docId = p.docs(at(j)); more = true }
          j += 1
        }
        if (more) {
          var sum = 0.0
          j = 0
          while (j < ts.length) {
            val p = buf.postings(ts(j))
            val s = scores(ts(j))
            while (at(j) < p.n && p.docs(at(j)) == docId) { sum += s(at(j)); at(j) += 1 }
            j += 1
          }
          heap.add(sum, docId)
        }
      }
      var i = 0
      while (i < heap.n) {
        out += InternalRow(batch.qids(q), heap.ids(i), (i + 1).toLong, heap.scores(i))
        i += 1
      }
      q += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: BatchBM25Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(buf.hasCorpus)
    out.writeDouble(buf.n)
    out.writeDouble(buf.avgdl)
    out.writeInt(buf.postings.length)
    buf.postings.foreach(_.writeTo(out))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BatchBM25Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val hasCorpus = in.readBoolean()
    val n = in.readDouble()
    val avgdl = in.readDouble()
    val buf = new BatchBM25Buffer(Array.fill(in.readInt())(TermPostings.readFrom(in)))
    buf.hasCorpus = hasCorpus
    buf.n = n
    buf.avgdl = avgdl
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BatchBM25 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BatchBM25 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BatchBM25 =
    copy(term = newChildren(0), doc = newChildren(1), tf = newChildren(2),
      len = newChildren(3), n = newChildren(4), avgdl = newChildren(5))
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

  /** Column wrapper: the [[SumTopK]] array of the group's (id, score)
    * rows, summed per id. */
  def topKSum(id: Column, score: Column, k: Int): Column =
    ExpressionUtils.column(
      SumTopK(ExpressionUtils.expression(id),
        ExpressionUtils.expression(score), k).toAggregateExpression())

  /** Column wrapper: the [[BatchBM25]] array for `batch` over the
    * scanned (term, doc, tf, len) postings rows, each carrying the
    * corpus scalars (n, avgdl). */
  def topKBm25(term: Column, doc: Column, tf: Column, len: Column,
               n: Column, avgdl: Column, batch: LexicalBatch, k: Int): Column =
    ExpressionUtils.column(
      BatchBM25(ExpressionUtils.expression(term), ExpressionUtils.expression(doc),
        ExpressionUtils.expression(tf), ExpressionUtils.expression(len),
        ExpressionUtils.expression(n), ExpressionUtils.expression(avgdl),
        batch, k).toAggregateExpression())
}
