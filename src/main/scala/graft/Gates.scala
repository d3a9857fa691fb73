package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared multiset-comparison gates for the in-query lifecycle
  * asserts (the `registration ≡ one-shot build`, `drain ≡ batch
  * replay`, `upgrade ≡ clean rebuild` class).
  *
  * Round-19 optimization: the historical idiom
  * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` plans TWO
  * aggregate jobs and evaluates BOTH inputs TWICE — Spark rewrites
  * each ExceptAll as union → count-aggregate → replicate-rows
  * Generate, so the two directions each re-run both input plans. For
  * gates whose "expected" side is a corpus-sized recomputation (a
  * one-shot MinHash build, a full IVF assignment, a v2 re-embed) that
  * doubles the most expensive leg of the whole declared row. One
  * ±1-tagged union aggregated ONCE is the same multiset equality —
  * some group sums ≠ 0 ⟺ a row is extra or missing on one side —
  * with each input evaluated once, one exchange, and map-side partial
  * aggregation collapsing duplicate rows before the shuffle
  * (optimization guide §2.3/§2.4). Column matching is POSITIONAL,
  * exactly like exceptAll; grouping uses the same null-safe,
  * NaN-normalizing equality ExceptAll's own rewrite aggregates with.
  */
object Gates {

  /** True iff `a` and `b` are equal as multisets of rows — the
    * drop-in replacement for
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    signedCounts(a, b).where(col("__gate_d") =!= 0L).isEmpty

  /** Row count of the symmetric multiset difference — the same value
    * as `a.exceptAll(b).unionByName(b.exceptAll(a)).count()` (each
    * distinct row contributes |count_a − count_b|), again with each
    * input evaluated once instead of twice. */
  def symDiffCount(a: DataFrame, b: DataFrame): Long =
    signedCounts(a, b)
      .agg(coalesce(sum(abs(col("__gate_d"))), lit(0L)))
      .head().getLong(0)

  /** Per-distinct-row signed multiplicity delta (+ on `a`'s side).
    * BOTH sides are renamed to synthetic positional names before the
    * union, exactly mirroring exceptAll's purely-positional,
    * name-agnostic resolution — an input column named `a.b` or
    * carrying backticks can never collide with a grouping reference,
    * and the reserved `__gate_*` names can never clash with input
    * names. `private[graft]` so GatesSpec (and the plan-evidence dump,
    * Scratch `gateplans` at commit 87ba306) plans the REAL gate
    * instead of a copy. */
  private[graft] def signedCounts(a: DataFrame, b: DataFrame): DataFrame = {
    require(b.columns.length == a.columns.length,
      s"Gates: column arity mismatch (${a.columns.length} vs ${b.columns.length})")
    val safe = a.columns.indices.map(i => s"__gate_c$i")
    a.toDF(safe: _*).withColumn("__gate_w", lit(1L))
      .unionByName(b.toDF(safe: _*).withColumn("__gate_w", lit(-1L)))
      .groupBy(safe.map(col): _*)
      .agg(sum(col("__gate_w")).as("__gate_d"))
  }
}
