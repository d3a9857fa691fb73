package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector scalar functions over `array<float|double>` columns.
  *
  * Re-expresses the reference's NumPy row-wise vector math
  * (reference `src/pipeline/utils.py:9-34`,
  * `src/pipeline/pipeline_mode.py:77-101,139-148`) as Catalyst
  * higher-order functions (`transform`/`zip_with`/`aggregate`), so
  * every operation stays inside whole-stage codegen, is column-pruned
  * and never leaves the executors. All accumulation is double
  * precision with left-to-right element order, which makes results
  * reproducible across engines (the DuckDB oracle folds lists in the
  * same order).
  */
object VectorF {

  /** Cast an array column to array<double> elementwise. */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product a·b in double precision, sequential accumulation.
    * Reference `src/pipeline/utils.py:24` (`float(np.dot(a, b))`).
    * Backed by the codegen'd [[NativeExpressions.dotNative]] — a
    * single fused loop, same left-to-right summation order as the
    * `aggregate(zip_with(...))` formulation it replaces. It reads
    * array<float> elements directly, widened to double, so a float
    * vector is never cast to a double array per row. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.NativeExpressions.dotNative(a, b)

  /** The original higher-order-function dot — kept as the reference
    * semantic definition and for A/B parity testing. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Squared L2 norm. */
  def norm2Sq(v: Column): Column =
    aggregate(toDouble(v), lit(0.0), (acc, x) => acc + x * x)

  /** L2 norm. */
  def norm2(v: Column): Column = sqrt(norm2Sq(v))

  /** L2 normalize with the reference's 1e-9 epsilon guard
    * (`src/pipeline/utils.py:9-15`: v / (||v|| + 1e-9)). Backed by the
    * codegen'd [[L2Normalize]] native expression — one fused pass,
    * same left-to-right summation and division order as the HOF
    * formulation it replaces (kept as [[l2normalizeHof]] for A/B
    * parity testing), so oracle parity is unchanged. */
  def l2normalize(v: Column): Column =
    org.apache.spark.sql.graftnative.NativeExpressions.l2normNative(toDouble(v))

  /** The original higher-order-function normalize — the reference
    * semantic definition and the A/B baseline. NOT
    * `transform(d, x => x / n)`: a non-trivial expression inside a
    * HOF lambda is re-evaluated PER ELEMENT (measured 20× slowdown);
    * `zip_with` against `array_repeat(n, …)` evaluates the norm once
    * per row. */
  def l2normalizeHof(v: Column): Column = {
    val d = toDouble(v)
    val n = sqrt(aggregate(d, lit(0.0), (acc, x) => acc + x * x)) + lit(1e-9)
    zip_with(d, array_repeat(n, size(d)), (x, m) => x / m)
  }

  /** Elementwise scale. */
  def scale(v: Column, w: Column): Column = transform(toDouble(v), x => x * w)

  /** Weighted concat: hstack(a*wa, b*wb) — the reference's DP index
    * construction (`src/pipeline/pipeline_mode.py:83-86`, weights
    * 0.7/0.3 from `src/main.py:16-17`). */
  def weightedConcat(a: Column, wa: Double, b: Column, wb: Double): Column =
    concat(scale(a, lit(wa)), scale(b, lit(wb)))

  /** Zero vector of dimension `dim` — DP query attribute pad
    * (`src/pipeline/pipeline_mode.py:98-101`). */
  def zeros(dim: Int): Column = array_repeat(lit(0.0), dim)

  /** Cosine similarity (inputs need not be pre-normalized). Equals
    * `dot` when both sides are unit vectors, which is how the
    * reference uses it (`src/pipeline/utils.py:34`). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b) + lit(1e-9))

  /** Deterministic pseudo-random value in [-0.5, 0.5) derived from
    * integer arithmetic on (id, dim) — replaces the reference's
    * unseeded `np.random.normal` (`src/pipeline/pipeline_mode.py:79`)
    * with a reproducible, oracle-checkable perturbation (SURVEY §7.4).
    * Pure int64 arithmetic → bit-identical in any engine. The id is
    * reduced mod 2^31 before the multiply for the same reason as
    * Ingest.pseudoShuffleKey: Spark wraps Long overflow silently
    * while DuckDB BIGINT raises, so without the reduction the engine
    * and its oracle diverge once ids approach ~8.4e9. Unchanged for
    * ids < 2^31. */
  def pseudoUniform(id: Column, dim: Column): Column =
    (((id % lit(2147483648L)) * lit(1103515245L) + dim * lit(12345L)) % lit(1000003L))
      .cast("double") / lit(1000003.0) - lit(0.5)

  /** Add deterministic noise of scale sigma to vector `v` keyed by
    * row `id`, then re-normalize — the reference's DP attribute
    * perturbation (`src/pipeline/pipeline_mode.py:77-80`) with
    * hash-derived (reproducible) noise per SURVEY §2 V7. */
  def addNoise(v: Column, id: Column, sigma: Double): Column =
    addNoise(v, id, lit(sigma))

  /** [[addNoise]] with a COLUMN sigma — the σ-sweep (q56) evaluates
    * all noise scales in one corpus pass with σ as an exploded
    * literal column. */
  def addNoise(v: Column, id: Column, sigma: Column): Column = {
    val noisy = zip_with(
      toDouble(v),
      sequence(lit(0), size(v) - 1),
      (x, i) => x + pseudoUniform(id, i.cast("long")) * sigma)
    l2normalize(noisy)
  }

  /** Deterministic random-projection matrix entry R(i, j): small
    * integer lattice in [-1, 1], expressible in ANSI SQL so the
    * DuckDB oracle can replay it (replaces the reference's seeded
    * `np.random.randn(d, dt)`, `src/pipeline/pipeline_mode.py:141-144`). */
  def projEntry(i: Column, j: Column): Column =
    (((i * lit(31L) + j * lit(17L)) % lit(7L)) - lit(3L)).cast("double") / lit(3.0)

  /** Deterministic hyperplane coefficient for sign-bit LSH: plane `b`,
    * component `i`. Unlike [[projEntry]]'s tiny mod-7 lattice, each
    * plane gets its OWN multiplier ((b+1)·2654435761 mod 1000003), so
    * no two planes are scalar multiples or shifts of each other — the
    * bits of an nBits-bucket id are independent for any practical
    * nBits (the round-1 advisor found the projEntry-offset scheme
    * collapsed to 2^7 effective buckets). Pure int64 arithmetic in
    * [-0.5, 0.5) → replayable in ANSI SQL. */
  def planeCoef(i: Column, b: Column): Column = {
    val m = (b + lit(1L)) * lit(2654435761L) % lit(1000003L)
    (((i + lit(1L)) * m + (b + lit(1L)) * lit(7919L)) % lit(1000003L))
      .cast("double") / lit(1000003.0) - lit(0.5)
  }

  /** [[planeCoef]] evaluated driver-side: identical Long arithmetic →
    * bit-identical doubles to the Column form and its SQL replay.
    * Lets a fixed-width hyperplane become a plan-time LITERAL array,
    * so the projection is one codegen'd dot instead of a per-row
    * sequence+zip_with+aggregate chain (VectorFSpec pins equality). */
  def planeVec(dim: Int, plane: Int): Seq[Double] = {
    val p = plane + 1L
    val m = p * 2654435761L % 1000003L
    Seq.tabulate(dim)(i =>
      (((i + 1L) * m + p * 7919L) % 1000003L).toDouble / 1000003.0 - 0.5)
  }

  /** Random projection of `v` (dim d) to `dt` dims:
    * out[j] = sum_i v[i] * R(i, j). Array-local (no shuffle): the
    * whole projection happens inside one codegen'd expression.
    * Reference `src/pipeline/pipeline_mode.py:139-148`. */
  def randomProjection(v: Column, dt: Int): Column =
    transform(
      sequence(lit(0L), lit(dt - 1L)),
      j =>
        aggregate(
          zip_with(toDouble(v), sequence(lit(0L), size(v).cast("long") - 1L),
            (x, i) => x * projEntry(i, j)),
          lit(0.0),
          (acc, x) => acc + x))
}
