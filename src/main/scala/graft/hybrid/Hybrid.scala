package graft.hybrid

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.TopKAggregate
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Hybrid retrieval: candidate union (R4) + MMR re-rank (R5).
  *
  * Reference: `src/pipeline/pipeline_mode.py:244-258` unions FAISS
  * candidates with BM25 candidates then greedily re-ranks with
  * Maximal Marginal Relevance (`src/pipeline/utils.py:17-41`).
  */
object Hybrid {

  /** R4: order-free distinct union of two candidate id sets — the
    * honest semantic of the reference's `list(set(a)|set(b))`. */
  def unionCandidates(a: DataFrame, b: DataFrame, idCol: String): DataFrame =
    a.select(col(idCol)).union(b.select(col(idCol))).distinct()

  /** R4 (rank-fusion form): reciprocal-rank fusion of two rankings —
    * `score(d) = 1/(c + rank_vec(d)) + 1/(c + rank_lex(d))`, absent
    * terms contributing 0 (Cormack et al., SIGIR 2009; c = 60 is the
    * canonical constant). RRF consumes only the RANKS, so it needs no
    * cross-system score calibration — the reason it is the robust
    * default over the reference's unscored set-union
    * (`src/pipeline/pipeline_mode.py:244-258`): candidates agreeing
    * across retrievers rise deterministically instead of arriving in
    * set order. [[rrfFuseMulti]] on a batch of one: the two k-row
    * term lists feed one sum-and-heap aggregate — driver-free, the
    * corpus never touched, no join. Output (id, rank, score), id in
    * the type the two legs' ids widen to. */
  def rrfFuse(vec: DataFrame, vecIdCol: String,
              lex: DataFrame, lexIdCol: String,
              c: Int, k: Int): DataFrame = {
    val idType = vec.select(col(vecIdCol)).union(lex.select(col(lexIdCol)))
      .schema.head.dataType
    rrfFuseMulti(vec.withColumn("qid", lit(0L)), vecIdCol,
        lex.withColumn("qid", lit(0L)), lexIdCol, c, k)
      .select(col("id").cast(idType).as("id"), col("rank"), col("score"))
      // k rows: one partition, so a consumer's global aggregate or
      // sort over the fused list needs no further exchange
      .coalesce(1)
  }

  /** MULTI-QUERY [[rrfFuse]]: both legs carry (qid, id, rank) for a
    * BATCH of queries (the multi-query index reads —
    * [[graft.search.IVF.searchIndexMulti]] for the vector leg,
    * [[graft.lexical.BM25.searchIndexedMulti]] for the lexical one).
    * Fusion is ONE aggregate grouped by qid, `graft_topk_sum`
    * ([[org.apache.spark.sql.graftnative.SumTopK]]): per query it sums
    * each id's reciprocal-rank terms (at most one per leg, so the sum
    * is order-free: IEEE addition of two terms commutes) and keeps the
    * top k by (score desc, id asc). The only exchange is the one on
    * qid, carrying the map-side partial sums — no (qid, id) exchange,
    * no sort, no window; the corpus-sized artifacts were already read
    * ONCE for the whole batch by the legs. */
  def rrfFuseMulti(vec: DataFrame, vecIdCol: String,
                   lex: DataFrame, lexIdCol: String,
                   c: Int, k: Int): DataFrame = {
    val v = vec.select(col("qid"), col(vecIdCol).as("id"),
      (lit(1.0) / (lit(c) + col("rank"))).as("__t"))
    val l = lex.select(col("qid"), col(lexIdCol).as("id"),
      (lit(1.0) / (lit(c) + col("rank"))).as("__t"))
    v.union(l)
      .groupBy("qid")
      .agg(TopKAggregate.topKSum(col("id"), col("__t"), k).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").as("id"), col("__e.rank").as("rank"),
        round(col("__e.score"), 6).as("score"))
  }

  /** R5: MMR greedy re-rank. Inherently sequential (each pick
    * conditions on all previous picks) over a candidate set the
    * reference caps at ~250 rows — so the candidates (id, vec, sim)
    * are collected to the driver and the O(k·|C|) greedy loop runs in
    * Scala; the big work (scoring/candidate generation) stayed
    * distributed. Ties broken by id ascending for determinism.
    *
    * mmr(d) = lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s);
    * vectors must be L2-normalized (sim = dot). */
  def mmrRerank(candidates: DataFrame, idCol: String, vecCol: String,
                simCol: String, k: Int, lambda: Double)
               (implicit spark: SparkSession): DataFrame = {
    val rows = candidates.select(col(idCol), col(vecCol), col(simCol)).collect()
    val ids = rows.map(_.getAs[Number](0).longValue())
    val vecs = rows.map(r => r.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val sims = rows.map(r => r.get(2) match {
      case f: Float => f.toDouble
      case d: Double => d
    })
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val n = rows.length
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val picked = new Array[Boolean](n)
    while (chosen.size < math.min(k, n)) {
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val maxSimChosen =
            if (chosen.isEmpty) 0.0
            else chosen.map(j => dot(vecs(i), vecs(j))).max
          val score = lambda * sims(i) - (1 - lambda) * maxSimChosen
          // NaN scores (NaN sim or NaN vector element) never win; if
          // every candidate is NaN we fall back to lowest-id below
          // rather than indexing with -1.
          if (!score.isNaN &&
              (score > bestScore ||
               (score == bestScore && bestIdx >= 0 && ids(i) < ids(bestIdx)))) {
            bestScore = score; bestIdx = i
          }
        }
        i += 1
      }
      if (bestIdx < 0) {
        // all remaining scores NaN: pick the unpicked candidate with
        // the lowest id so the loop always terminates deterministically
        var j = 0
        while (j < n) {
          if (!picked(j) && (bestIdx < 0 || ids(j) < ids(bestIdx))) bestIdx = j
          j += 1
        }
      }
      picked(bestIdx) = true
      chosen += bestIdx
    }
    spark.createDataFrame(
      java.util.Arrays.asList(chosen.toSeq.zipWithIndex
        .map { case (i, r) => Row(ids(i), (r + 1).toLong) }: _*),
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
  }
}
