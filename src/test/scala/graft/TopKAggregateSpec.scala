package graft

import org.apache.spark.sql.graftnative.{BatchTopK, QueryBatch, TopKBuffer, TopKByScore}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** TopKBuffer / TopKByScore kernel semantics (the DataFrame-level
  * parity test lives in SearchSpec). */
class TopKAggregateSpec extends AnyFunSuite {

  test("buffer keeps k best with (score desc, id asc) tie order") {
    val b = new TopKBuffer(3)
    Seq((0.5, 10L), (0.9, 11L), (0.7, 12L), (0.9, 5L), (0.1, 1L))
      .foreach { case (s, i) => b.add(s, i) }
    val got = (0 until b.n).map(i => (b.scores(i), b.ids(i)))
    assert(got == Seq((0.9, 5L), (0.9, 11L), (0.7, 12L)))
  }

  test("buffer handles fewer than k inputs and duplicate scores") {
    val b = new TopKBuffer(5)
    b.add(1.0, 2L); b.add(1.0, 1L)
    assert(b.n == 2)
    assert((b.scores(0), b.ids(0)) == ((1.0, 1L)))
  }

  test("merge equals bulk add") {
    val a = new TopKBuffer(4); val b = new TopKBuffer(4); val ref = new TopKBuffer(4)
    val xs = Seq((0.3, 1L), (0.8, 2L), (0.5, 3L))
    val ys = Seq((0.9, 4L), (0.1, 5L), (0.8, 0L))
    xs.foreach { case (s, i) => a.add(s, i); ref.add(s, i) }
    ys.foreach { case (s, i) => b.add(s, i); ref.add(s, i) }
    a.mergeFrom(b)
    assert((0 until a.n).map(i => (a.scores(i), a.ids(i))) ==
      (0 until ref.n).map(i => (ref.scores(i), ref.ids(i))))
  }

  test("serialize/deserialize round-trips the buffer") {
    val agg = TopKByScore(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, DoubleType, nullable = false), 3)
    val b = new TopKBuffer(3)
    b.add(0.9, 7L); b.add(0.2, 9L)
    val back = agg.deserialize(agg.serialize(b))
    assert(back.k == 3 && back.n == 2)
    assert((0 until back.n).map(i => (back.scores(i), back.ids(i))) ==
      Seq((0.9, 7L), (0.2, 9L)))
  }

  private def floats(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray[Any])

  /** Run `agg` over `rows` split into two partial buffers that travel
    * serialized, as a two-task aggregate would; (qid, id, rank, score)
    * out, heap by heap. */
  private def runBatch(agg: BatchTopK, rows: Seq[InternalRow]): Seq[(Any, Long, Long, Double)] = {
    val (a, b) = rows.splitAt(rows.size / 2)
    def partial(rs: Seq[InternalRow]) =
      agg.serialize(rs.foldLeft(agg.createAggregationBuffer())(agg.update))
    val fin = agg.merge(agg.deserialize(partial(a)), agg.deserialize(partial(b)))
    val out = agg.eval(fin).asInstanceOf[ArrayData]
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 4)
      (r.get(0, LongType), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
  }

  test("BatchTopK: one heap per qid; NULL, NULL-element and mismatched rows score nothing") {
    val batch = QueryBatch(LongType, Seq(
      (7L, Seq(1.0, 0.0)), (8L, Seq(0.0, 1.0)), (7L, Seq(0.5, 0.5)), (9L, null),
      (10L, Seq(1.0, null))))
    val agg = BatchTopK(BoundReference(0, LongType, nullable = true),
      BoundReference(1, ArrayType(FloatType, containsNull = true), nullable = true),
      None, batch, 2)
    val rows = Seq(
      InternalRow(1L, floats(1.0f, 2.0f)), InternalRow(2L, floats(3.0f, 0.0f)),
      InternalRow(3L, null), InternalRow(4L, floats(1.0f)),
      InternalRow(5L, floats(null, 1.0f)), InternalRow(null, floats(9.0f, 9.0f)))
    // qid 7 merges both of its rows' scores: 3.0 (id 2), then the 1.5
    // tie of ids 1 and 2 broken by id; qids 9 and 10 have no vector
    assert(runBatch(agg, rows) == Seq(
      (7L, 2L, 1L, 3.0), (7L, 1L, 2L, 1.5),
      (8L, 1L, 1L, 2.0), (8L, 2L, 2L, 0.0)))
  }

  test("BatchTopK routed: a row scores only against the query rows probing its cid") {
    val batch = QueryBatch(LongType, Seq((0L, Seq(1.0)), (1L, Seq(-1.0))))
      .routed(Seq((0, 10L), (1, 11L), (0, 11L)))
    val agg = BatchTopK(BoundReference(0, LongType, nullable = false),
      BoundReference(1, ArrayType(DoubleType, containsNull = false), nullable = false),
      Some(BoundReference(2, LongType, nullable = true)), batch, 3)
    val rows = Seq(
      InternalRow(1L, new GenericArrayData(Array(2.0)), 10L),
      InternalRow(2L, new GenericArrayData(Array(3.0)), 11L),
      InternalRow(3L, new GenericArrayData(Array(5.0)), 12L), // unprobed cell
      InternalRow(4L, new GenericArrayData(Array(7.0)), null))
    assert(runBatch(agg, rows) == Seq(
      (0L, 2L, 1L, 3.0), (0L, 1L, 2L, 2.0), (1L, 2L, 1L, -3.0)))
  }

  test("BatchTopK takes a cid input exactly when its batch is routed") {
    val batch = QueryBatch(LongType, Seq((0L, Seq(1.0))))
    val id = BoundReference(0, LongType, nullable = false)
    val vec = BoundReference(1, ArrayType(DoubleType), nullable = false)
    intercept[IllegalArgumentException] {
      BatchTopK(id, vec, Some(BoundReference(2, LongType, nullable = false)), batch, 1)
    }
    intercept[IllegalArgumentException] {
      BatchTopK(id, vec, None, batch.routed(Seq((0, 1L))), 1)
    }
    intercept[IllegalArgumentException](BatchTopK(id, vec, None, batch, 0))
  }
}
