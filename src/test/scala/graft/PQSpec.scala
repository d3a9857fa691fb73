package graft

import graft.search.{IVF, PQ, Search}
import org.apache.spark.sql.functions._

/** Product-quantization ADC search (third ANN scale path). */
class PQSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  private lazy val cb = IVF.centroids(emb, "vec_id", "v", 16)

  test("adcTopK is deterministic and returns dense ranks 1..k") {
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val a = PQ.adcTopK(emb, "vec_id", "v", cb, q, "qv", 10, 8, 64)
      .orderBy("rank").collect().toSeq
    val b = PQ.adcTopK(emb, "vec_id", "v", cb, q, "qv", 10, 8, 64)
      .orderBy("rank").collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(1)) == (1L to 10L))
  }

  test("ADC recall@10 vs exact meets the floor on test embeddings") {
    // the synthetic embeddings are i.i.d. noise — no cluster
    // structure, PQ's worst case — so the pinned floor is a
    // non-degeneracy bar (better than the ~10/N random-draw
    // expectation), not a production recall target; the knob story
    // (bigger codebook / trained codebook → higher recall) parallels
    // q48's IVF/LSH contract
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val approx = PQ.adcTopK(emb, "vec_id", "v", cb, q, "qv", 10, 8, 64)
      .select("vec_id").as[Long].collect().toSet
    val exact = Search.topK(emb, "vec_id", "v", q, "qv", 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = approx.intersect(exact).size / 10.0
    assert(recall >= 0.2, s"ADC recall@10 = $recall")
  }

  test("multi-query ADC equals the per-query ADC serves") {
    val qs = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv"))
    val multi = PQ.adcMultiTopK(emb, "vec_id", "v", cb, qs, "qid", "qv", 10, 8, 64)
      .select("qid", "vec_id", "rank", "score")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
    val single = (0L until 5L).flatMap { q =>
      PQ.adcTopK(emb, "vec_id", "v", cb,
          emb.filter(col("vec_id") === q).select(col("v").as("qv")), "qv", 10, 8, 64)
        .select(lit(q).as("qid"), col("vec_id"), col("rank"), col("score"))
        .as[(Long, Long, Long, Double)].collect()
    }.sortBy(r => (r._1, r._3))
    assert(multi.length == 50)
    assert(multi == single)
  }

  test("argmin assignment strictly beats a fixed-code-0 assignment") {
    // pins that the per-subspace argmin actually minimizes: mean
    // squared reconstruction error under the chosen codes must beat
    // assigning every subspace to codebook entry 0
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val ids = emb.select("vec_id").as[Long].collect().toSet
    val all = emb.as[(Long, Seq[Double])].collect().toMap
    val cents = cb.as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2)
    def sqErr(x: Seq[Double], c: Seq[Double]) =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def reconstruct(x: Seq[Double], pick: (Seq[Double], Int) => Seq[Double]) =
      (0 until 8).flatMap { m => pick(x.slice(m * 8, m * 8 + 8), m) }
    val argminErr = all.values.map { x =>
      sqErr(x, reconstruct(x, (xm, m) =>
        cents.map(c => c.slice(m * 8, m * 8 + 8)).minBy(cm => sqErr(xm, cm))))
    }.sum / all.size
    val fixedErr = all.values.map { x =>
      sqErr(x, reconstruct(x, (_, m) => cents(0).slice(m * 8, m * 8 + 8)))
    }.sum / all.size
    assert(ids.nonEmpty && argminErr < fixedErr,
      s"argmin MSE $argminErr vs fixed-code MSE $fixedErr")
  }

  test("quantization is idempotent on codebook members") {
    // a vector that IS a codebook entry reconstructs to itself, so
    // its ADC score equals its exact score
    val member = cb.select(col("cid").as("vec_id"), col("cvec").as("v")).limit(4)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val adc = PQ.adcTopK(member, "vec_id", "v", cb, q, "qv", 4, 8, 64)
      .select("vec_id", "score").as[(Long, Double)].collect().toMap
    val ex = Search.topK(member, "vec_id", "v", q, "qv", 4)
      .select("vec_id", "score").as[(Long, Double)].collect().toMap
    assert(adc == ex)
  }

  test("native reconstruction matches the HOF fold bit-for-bit") {
    // the A/B contract (dotHof convention): the codegen'd
    // PQReconstruct and the aggregate() fold produce identical
    // rankings AND identical rounded scores
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val native = PQ.adcTopK(emb, "vec_id", "v", cb, q, "qv", 20, 8, 64)
      .orderBy("rank").collect().toSeq
    val hof = PQ.adcTopKHof(emb, "vec_id", "v", cb, q, "qv", 20, 8, 64)
      .orderBy("rank").collect().toSeq
    assert(native == hof)
  }

  test("adcTopK rejects a multi-row query frame instead of multiplying the corpus") {
    val q2 = emb.filter(col("vec_id") < 2).select(col("v").as("qv"))
    val e = intercept[IllegalArgumentException](
      PQ.adcTopK(emb, "vec_id", "v", cb, q2, "qv", 10, 8, 64))
    assert(e.getMessage.contains("ONE-ROW"))
  }

  test("adcTopK rejects invalid k and non-divisible subspaces") {
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    intercept[IllegalArgumentException] {
      PQ.adcTopK(emb, "vec_id", "v", cb, q, "qv", 0, 8, 64)
    }
    intercept[IllegalArgumentException] {
      PQ.adcTopK(emb, "vec_id", "v", cb, q, "qv", 10, 7, 64)
    }
  }
}
