package graft.search

import graft.functions.VectorF._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** R7: the reference's "FHE" encrypted-scan path, modeled as its
  * observable semantic — an exact dot-product scan whose scores carry
  * a small bounded perturbation (CKKS decryption noise is ~1e-3 on
  * the reference's parameters, `src/pipeline/pipeline_mode.py:150-178`).
  * There is no JVM TenSEAL, and the cryptography is orthogonal to the
  * dataflow: what the engine owes the pipeline is (a) the same scan
  * shape and (b) tolerance of ε-perturbed scores, which is what the
  * reference itself measures via the overlap metric
  * (`src/pipeline/pipeline_mode.py:180-191`, SURVEY §2 M8).
  *
  * The noise here is hash-derived (deterministic per (id, seed)), so
  * the whole path — noisy scores, noisy top-k, overlap-vs-plain —
  * replays exactly in the DuckDB oracle.
  */
object NoisyScan {

  /** Deterministic score perturbation in [-eps/2, eps/2). The id is
    * reduced mod 2^31 BEFORE the seed addition and again after, so
    * neither the addition nor the LCG multiply can overflow in either
    * engine at any id (Spark wraps Long overflow silently, DuckDB
    * raises — same rationale as Ingest.pseudoShuffleKey); unchanged
    * for id + seed < 2^31. */
  def scoreNoise(id: Column, eps: Double, seed: Long): Column =
    ((((id % lit(2147483648L) + lit(seed)) % lit(2147483648L)) * lit(1103515245L)
      + lit(12345L)) % lit(1000003L))
      .cast("double") / lit(1000003.0) * eps - lit(eps / 2)

  /** Noisy exact scan: dot product + per-row deterministic ε-noise,
    * ranked by [[Search.rankTop]]. Same plan shape as Search.topK. */
  def noisyTopK(docs: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, queryVecCol: String, k: Int,
                eps: Double, seed: Long): DataFrame =
    Search.rankTop(docs
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col(idCol),
        (dot(col(vecCol), col("__qv")) + scoreNoise(col(idCol), eps, seed)).as("score")),
      idCol, k)

  /** M8: overlap fraction between two top-k id sets (the reference's
    * FHE-vs-plaintext sanity metric), as a single-row aggregate. */
  def overlap(a: DataFrame, b: DataFrame, idCol: String, k: Int): DataFrame =
    a.select(col(idCol)).join(b.select(col(idCol)), idCol)
      .agg((count(lit(1)).cast("double") / k).as("overlap"))
}
