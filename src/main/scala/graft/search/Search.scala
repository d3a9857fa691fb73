package graft.search

import graft.functions.VectorF._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftnative.{QueryBatch, TopKAggregate}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval operators (SURVEY §2.5).
  *
  * The reference's exact kNN is FAISS `IndexFlatIP` brute force over
  * an in-memory matrix (`src/pipeline/pipeline.py:126-136,143-159`).
  * Here the "index" is just the embeddings DataFrame: scoring is a
  * codegen'd dot product over a partitioned scan, and top-k is
  * `ORDER BY score DESC LIMIT k`, which Catalyst plans as
  * `TakeOrderedAndProject` — a per-partition bounded heap + driver
  * merge, i.e. exactly FlatIP's heap-select but distributed. No
  * global sort, no shuffle of the corpus.
  *
  * Every ranked vector serve ends in one of two tails here, which
  * own the output contract (SURVEY §7.4): ties broken by ascending
  * id, dense ranks from 1, scores rounded to 6 places.
  * [[rankTop]] ranks one query's `(id, score)` rows; [[rankTopPerQuery]]
  * ranks `(qid, id, score)` rows through one bounded heap per qid.
  * A serve spells only its scoring step.
  */
object Search {

  /** The single-partition window of [[rankTop]] (and of
    * [[IVF.centroids]]' dense cid numbering) — the only places it
    * runs. In [[rankTop]] it numbers the k rows a `limit(k)` kept, in
    * one task, so the single partition is intentional and harmless.
    * The literal partition key is CONSTANT-FOLDED AWAY by Spark 4's
    * optimizer (verified empirically), so it does NOT suppress
    * WindowExec's "No Partition Defined" warning —
    * `graft.Sessions.local` mutes that logger instead. */
  private[search] val wAll = Window.partitionBy(lit(0))

  /** The bounded-heap top-k aggregate carries ids as long; a
    * non-integral id column would cast to NULL and be silently
    * dropped by TopKByScore.update — the silent-wrong-result class
    * this guard exists to reject. Shared by every heap-aggregate
    * entry point (multiTopK, lshMultiTopK, IVF.ivfMultiTopK). */
  private[search] def requireIntegralId(df: DataFrame, idCol: String,
                                        caller: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok, s"$caller requires an integral id column; '$idCol' is " +
      df.schema(idCol).dataType.simpleString)
  }

  /** The ranked tail of every single-query vector serve: the k best
    * `(idCol, score)` rows by (score desc, id asc) — planned as
    * `TakeOrderedAndProject`, FlatIP's heap-select — numbered 1..k
    * over those k rows in one task. Output: idCol, rank (bigint),
    * score rounded to 6 places. */
  private[graft] def rankTop(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(wAll.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
      .select(col(idCol), col("rank"), round(col("score"), 6).as("score"))

  /** The ranked tail of every per-query vector serve: one bounded
    * `graft_topk` heap per qid over `(qid, idCol, score)` rows (the
    * exchange carries O(queries × k) heap entries), exploded to
    * (qid, idCol, rank, score) with [[rankTop]]'s order, ranks and
    * rounding. The id is carried as long; qid keeps its type. */
  private[graft] def rankTopPerQuery(scored: DataFrame, idCol: String,
                                     k: Int): DataFrame =
    scored
      .groupBy("qid")
      .agg(TopKAggregate.topK(col(idCol).cast("long"), col("score"), k).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").as(idCol), col("__e.rank").as("rank"),
        round(col("__e.score"), 6).as("score"))

  /** R1 single query: exact top-k by dot product against one query
    * vector (as a one-row DataFrame, broadcast), ranked by
    * [[rankTop]]. Output: id, rank, score. */
  def topK(docs: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int): DataFrame =
    rankTop(docs
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col(idCol), dot(col(vecCol), col("__qv")).as("score")), idCol, k)

  /** R1 multi-query: per-query exact top-k of a query batch in ONE
    * pass over the corpus — FlatIP's batch search (reference
    * `src/pipeline/pipeline.py:126-136,143-159`). The query set is
    * collected on the driver (the side a broadcast would have
    * collected) and rides inside the [[org.apache.spark.sql
    * .graftnative.BatchTopK]] aggregate: the plan is the corpus scan
    * feeding one `graft_topk_batch` aggregate, with no join, no
    * exchange of scored rows and no per-pair cast. Each task reads a
    * row's vector once and keeps a k-heap per query, so the single
    * final merge receives partitions × queries × k heap entries.
    * Scores, the (score desc, id asc) tie order and the output
    * (qid keeps its type; id and rank bigint; score rounded to 6)
    * match the window-sort formulation bit-for-bit. Rows that share
    * a qid feed one heap. */
  def multiTopK(docs: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int): DataFrame = {
    requireIntegralId(docs, idCol, "multiTopK")
    batchTopK(docs, idCol, vecCol, queryBatch(queries, qidCol, qvecCol), None, k)
  }

  /** The query batch of `queries`, collected on the driver once: qid
    * (any type) and the vector as array<double> — the same exact
    * widening the dot product applies to a float vector. */
  private[graft] def queryBatch(queries: DataFrame, qidCol: String,
                                qvecCol: String): QueryBatch =
    QueryBatch(queries.schema(qidCol).dataType,
      queries.select(col(qidCol), toDouble(col(qvecCol))).collect().toSeq
        .map(r => (r.get(0), if (r.isNullAt(1)) null else r.getSeq[Any](1))))

  /** Per-query top-k of `rows` against `batch` as one `BatchTopK`
    * aggregate, exploded to (qid, idCol, rank, score). With `cid` the
    * batch is routed: a row scores only against the queries that probe
    * its cell. */
  private[graft] def batchTopK(rows: DataFrame, idCol: String, vecCol: String,
                               batch: QueryBatch, cid: Option[Column],
                               k: Int): DataFrame =
    rows
      .agg(TopKAggregate.topKBatch(col(idCol).cast("long"), col(vecCol),
        cid.map(_.cast("long")), batch, k).as("__tk"))
      .select(explode(col("__tk")).as("__e"))
      .select(col("__e.qid").as("qid"), col("__e.id").as(idCol),
        col("__e.rank").as("rank"), round(col("__e.score"), 6).as("score"))

  /** The window-sort formulation of multi-query top-k — the
    * reference [[multiTopK]]'s batch kernel is tested against. */
  def multiTopKWindow(docs: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, qidCol: String, qvecCol: String,
                      k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol).asc)
    docs
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))))
      .select(col("qid"), col(idCol), dot(col(vecCol), col("__qv")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol), col("rank"), round(col("score"), 6).as("score"))
  }

  /** R8: DP query construction — weighted text part, zero attribute
    * pad, renormalize (reference `src/pipeline/pipeline_mode.py:92-104`). */
  def dpQueryVec(qvec: Column, attrDim: Int, wText: Double): Column =
    l2normalize(concat(scale(qvec, lit(wText)), zeros(attrDim)))

  /** Sign-bit LSH bucket id from `nBits` fixed hyperplanes
    * (VectorF.planeCoef: an independent multiplier per plane, so all
    * nBits bits carry signal — see the round-1 advisory on the old
    * projEntry-offset scheme degenerating past 7 bits). This is the
    * scale path for ANN / near-dup: at 100 TB the bucket id becomes
    * the shuffle/partition key, so candidate generation touches only
    * same-bucket rows instead of the cross product. Deterministic →
    * oracle-replayable.
    *
    * `planeOffset`: rotation set `r` uses planes
    * [r·nBits, (r+1)·nBits), giving independent bucketings whose
    * union recovers recall any single plane set loses (the standard
    * multi-hash-table LSH construction).
    *
    * `dim` (explicit — no silent default; vectors must have exactly
    * this many elements, guarded with raise_error, never a silent
    * wrong bucket): each hyperplane becomes a plan-time literal
    * coefficient array and the projection a single codegen'd native
    * dot. The per-row HOF formulation this replaces
    * (sequence+zip_with+aggregate per bit per row) spent ~60× more
    * expression-interpretation overhead (q33: 2.9 s → see bench) for
    * identical values — VectorFSpec pins the planeVec/planeCoef
    * equality. A NULL vector buckets to NULL (and drops out of the
    * bucket equi-join) instead of detonating the raise_error branch. */
  def lshBucket(v: Column, nBits: Int, dim: Int,
                planeOffset: Int = 0): Column = {
    val bits = (0 until nBits).map { b =>
      val proj = dot(v, typedLit(planeVec(dim, planeOffset + b)))
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    when(v.isNull, lit(null).cast("long"))
      .when(size(v) === dim, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"lshBucket: expected $dim-dim vector, got "),
        size(v).cast("string"))))
  }

  /** R2 multi-query LSH with the multi-probe recall knob: each query
    * probes its own bucket plus (with `hamming1`) every Hamming-1
    * neighbor bucket — the standard multi-probe LSH recall/cost dial
    * (more probes = more candidates = higher recall), the engine's
    * analog of the reference clamping HNSW efSearch
    * (`src/pipeline/pipeline_mode.py:221-228`). Probing stays an
    * EQUI-join on bucket id: the probe set is (1 + nBits) rows per
    * query, so candidate generation is bucket-partition-pruned at any
    * corpus size — never a similarity scan. One corpus scan for all
    * queries, ranked by [[rankTopPerQuery]]. */
  def lshMultiTopK(docs: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   k: Int, nBits: Int, dim: Int, hamming1: Boolean): DataFrame = {
    requireIntegralId(docs, idCol, "lshMultiTopK")
    val base = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"),
      lshBucket(col(qvecCol), nBits, dim).as("__qb"))
    // neighbor buckets differ from __qb in exactly one bit → all
    // probe buckets of one query are distinct, so no candidate is
    // scored twice and the heap sees each (qid, id) once
    val probeCols: Seq[Column] = col("__qb") +:
      (if (hamming1) (0 until nBits).map(b => col("__qb").bitwiseXOR(lit(1L << b)))
       else Seq.empty[Column])
    val probes = base.select(col("qid"), col("__qv"),
      explode(array(probeCols: _*)).as("__pb"))
    rankTopPerQuery(docs
      .withColumn("__db", lshBucket(col(vecCol), nBits, dim))
      .join(broadcast(probes), col("__db") === col("__pb"))
      .select(col("qid"), col(idCol), dot(col(vecCol), col("__qv")).as("score")),
      idCol, k)
  }

  /** R2 (approximate kNN, scale path): restrict the scan to the
    * query's LSH bucket, then exact re-score inside it. Trades recall
    * for a corpus-partition-pruned scan — the Spark-native analog of
    * the reference's HNSW approximation (`src/pipeline/pipeline_mode.py:217-240`). */
  def lshTopK(docs: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String, k: Int, nBits: Int,
              dim: Int): DataFrame = {
    val q = broadcast(query.select(
      col(queryVecCol).as("__qv"), lshBucket(col(queryVecCol), nBits, dim).as("__qb")))
    rankTop(docs
      .withColumn("__db", lshBucket(col(vecCol), nBits, dim))
      .join(q, col("__db") === col("__qb")) // bucket-pruned
      .select(col(idCol), dot(col(vecCol), col("__qv")).as("score")), idCol, k)
  }
}
