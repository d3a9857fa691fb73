package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared cell-assignment kernel — the ONE definition of "which cells
  * does a vector live in" that every index family's build AND append
  * path goes through ([[GraphAnn]]'s replicated graph cells, [[IVF]]'s
  * inverted lists, [[SQ]]'s quantized lists), reference
  * `src/pipeline/pipeline.py:126-134` (FAISS trains a coarse quantizer
  * once and `index.add` routes every vector through it).
  *
  * Two regimes, ONE deterministic contract (ties resolve to the lowest
  * cell id; the same `VectorF.dot` arithmetic everywhere):
  *
  *  - FLAT (cells < [[TwoLevelMinParts]]): the packed broadcast fold —
  *    one corpus scan, no exchange, O(N × cells) flops. Exactly the
  *    pre-round-19 assignment; below the threshold the cell table is
  *    constant-bounded, so the term is linear in the corpus.
  *
  *  - TWO-LEVEL (cells ≥ [[TwoLevelMinParts]]): the round-18 SERVING
  *    sidecars applied to the BUILD side (round 19 — the engine's last
  *    quadratic term: at the graph family's parts = ⌈N/500⌉ sizing the
  *    flat fold is O(N²/500) flops and a GB-scale broadcast at 10⁸+
  *    cells). Vectors route to their top-[[SuperProbe]] supercells
  *    through the ⌈√parts⌉-row `routing2c` table (the only broadcast —
  *    √parts-sized), then score ONLY those supercells' member cells
  *    (2×-replicated membership, the SPANN boundary argument one level
  *    up): O(N × √parts) flops, and the parts-sized member table is
  *    JOINED (AQE-governed — it broadcasts only while it genuinely
  *    fits), never force-broadcast. Selection is bit-identical to the
  *    flat fold whenever every true top-R cell has one of its 2
  *    supercells among the vector's top-S — AssignSpec pins exact
  *    equality on the 160-cell clustered fixture; the round-18
  *    `graphbig` sweeps (Scratch, commit 87ba306) measure recall
  *    parity at 480/1500 cells and SCALE.md carries the build-time
  *    rungs.
  *
  * Both regimes are pure deterministic functions of (vector, cell
  * table), so append ≡ rebuild bit-identity gates (q84/q97/q99/q165
  * class) hold unchanged: the supercell tables are themselves pure
  * functions of the cell table ([[superTables]]), re-derivable at any
  * time and equal to the persisted `routing2c`/`routing2` sidecars. */
object Assign {

  /** Flat-fold ceiling: cell tables at or above this count assign
    * two-level (and, in [[GraphAnn]], carry the serving sidecars).
    * Spec-scale indexes below it keep the flat fold and its
    * bit-pinned gates. One constant for build AND serve — the two
    * sides must agree on when the sidecars exist. */
  val TwoLevelMinParts = 128

  /** Supercells scored per vector (build) / per query (serve) —
    * fixed-count, the autoProbe P=8 philosophy one level up: each
    * supercell holds ~2√parts member rows, so 8 supercells offer
    * ≥ 16√parts candidate cells, orders of magnitude above the R ≤ 4
    * replication (build) or P = 8 probe (serve) they feed. Measured
    * selection-exact at 160 cells and recall-1.0 at 480/1500
    * (SCALE.md round-18 decades); `probeParts` on the serve side and
    * an explicit flat [[flatTopR]] call on the build side remain the
    * escape hatches if a harder real-corpus boundary structure ever
    * needs more. */
  val SuperProbe = 8

  /** Lloyd iterations for every routing-table derivation (the graph
    * index's quantizer AND the supercell tables over it): 3 — the
    * measured knee (GraphAnn round-7 sweep: unrefined 0.44, 3 iters
    * 0.98, 6 iters 0.92; over-iterating rebalances cells away from
    * the local structure routing exploits). */
  private[graft] val RoutingRefineIters = 3

  /** The deterministic routing table for `docs`: `parts` coarse cells,
    * one (part, rvec) row each — [[IVF.centroids]]' rank-based LCG
    * sample refined by [[IVF.refine]]'s integer-quantized spherical
    * k-means (both deterministic, both SQL-replayable). */
  def routingTableFor(docs: DataFrame, idCol: String, vecCol: String,
                      parts: Int): DataFrame = {
    val src = docs.select(col(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val sampled = IVF.centroids(src, idCol, vecCol, parts)
    IVF.refine(src, idCol, vecCol, sampled, RoutingRefineIters)
      .select(col("cid").cast("int").as("part"),
        col("cvec").cast("array<double>").as("rvec"))
  }

  /** The supercell tables for a `cells` table (part, rvec) of `parts`
    * rows — the round-18 sidecar derivation, shared verbatim between
    * the persisted `routing2c`/`routing2` sidecars and the build-side
    * two-level assignment so the two can never drift:
    *
    *  - supers  (spart, srvec): ⌈√parts⌉ supercells, the same
    *    LCG+refine quantizer ONE LEVEL UP (over the cell vectors);
    *  - members (spart, part, rvec): each cell REPLICATED into its 2
    *    nearest supercells via [[topR]] — which recurses back through
    *    this derivation when ⌈√parts⌉ itself crosses the threshold
    *    (parts ≥ 128², i.e. ~10⁸ cells → three-level assignment), so
    *    no level is ever a flat parts-sized fold.
    *
    * Pure function of `cells`: recomputing it equals the sidecars a
    * round-18 build persisted, bit for bit. */
  def superTables(cells: DataFrame, parts: Int): (DataFrame, DataFrame) = {
    require(parts >= TwoLevelMinParts,
      s"superTables: $parts cells is below the two-level threshold " +
        s"$TwoLevelMinParts — the flat fold serves those exactly")
    val asDocs = cells.select(col("part").cast("long").as("id"),
      col("rvec").cast("array<double>").as("v"))
    val sCount = math.ceil(math.sqrt(parts.toDouble)).toInt
    val supers = routingTableFor(asDocs, "id", "v", sCount)
      .select(col("part").cast("int").as("spart"),
        col("rvec").cast("array<double>").as("srvec"))
    val members = topR(asDocs, "id", "v",
        supers.select(col("spart").as("part"), col("srvec").as("rvec")),
        r = 2, parts = sCount)
      .select(col("part").cast("int").as("spart"),
        col("id").cast("int").as("part"),
        col("vec").cast("array<double>").as("rvec"))
    (supers, members)
  }

  /** Assign every `docs` vector to its `r` best inner-product cells,
    * emitting (id, vec, part) — the regime split documented on the
    * object. `parts` < 0 counts `cells` (a cells-sized job — callers
    * that know the count pass it); `tables` short-circuits the
    * [[superTables]] derivation with an index's PERSISTED sidecars
    * (the append path — re-deriving would cost a k-means over the
    * cell table per delta batch for the same bits). */
  def topR(docs: DataFrame, idCol: String, vecCol: String,
           cells: DataFrame, r: Int, parts: Int = -1,
           tables: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(r >= 1, s"topR: replication factor must be >= 1, got $r")
    val n = if (parts >= 0) parts else cells.count().toInt
    if (n < TwoLevelMinParts) flatTopR(docs, idCol, vecCol, cells, r)
    else {
      // an inline derivation is consumed several times downstream
      // (members feeds both the live-supercell semi-join and the
      // packed member arrays) — materialize the cells-sized pair once
      // so each consumer reads a flat checkpoint instead of re-running
      // the supercell k-means plan (and re-planning its deep lineage)
      // per subtree. Persisted sidecars arrive via `tables` already
      // materialized; this mirrors writeIndexInto's own discipline.
      val (supers, members) = tables.getOrElse {
        val (s0, m0) = superTables(cells, n)
        (s0.localCheckpoint(), m0.localCheckpoint())
      }
      twoLevelTopR(docs, idCol, vecCol, supers, members, r)
    }
  }

  /** [[topR]] without the vector join-back: (id, part) pairs only.
    * Callers that immediately re-attach their OWN payload by id (the
    * IVF `assignAuto` join-back) were paying a second corpus-sized
    * id-join just to discard the `vec` column this one produced —
    * same regimes, same selection, one join instead of two. */
  def topRPairs(docs: DataFrame, idCol: String, vecCol: String,
                cells: DataFrame, r: Int, parts: Int = -1,
                tables: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(r >= 1, s"topRPairs: replication factor must be >= 1, got $r")
    val n = if (parts >= 0) parts else cells.count().toInt
    if (n < TwoLevelMinParts)
      flatTopR(docs, idCol, vecCol, cells, r).select(col("id"), col("part"))
    else {
      val (supers, members) = tables.getOrElse {
        val (s0, m0) = superTables(cells, n)
        (s0.localCheckpoint(), m0.localCheckpoint())
      }
      twoLevelPairs(docs, idCol, vecCol, supers, members, r)
    }
  }

  /** The FLAT fold — rank every cell by (score desc, part asc),
    * encoded as an ascending sort on (-score, part), and keep the `r`
    * best: one corpus scan against the broadcast packed cell table,
    * no row inflation before the final ≤r-way explode, no exchange.
    * Ties resolve to the lowest part, so assignment is deterministic.
    * Public as the explicit escape hatch (and the reference the
    * equality specs compare the two-level path against). */
  def flatTopR(docs: DataFrame, idCol: String, vecCol: String,
               cells: DataFrame, r: Int): DataFrame =
    if (r == 1)
      IVF.assign(
        docs.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec")),
        "id", "vec",
        cells.select(col("part").cast("long").as("cid"),
          col("rvec").as("cvec")))
        .select(col("id"), col("vec"), col("cid").cast("int").as("part"))
    else {
      val packed = cells.agg(
        array_sort(collect_list(struct(col("part"), col("rvec")))).as("__cells"))
      val ranked = array_sort(transform(col("__cells"),
        c => struct(
          (-graft.functions.VectorF.dot(col("vec"), c.getField("rvec"))).as("ns"),
          c.getField("part").as("p"))))
      docs
        .select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec"))
        .crossJoin(broadcast(packed))
        .select(col("id"), col("vec"),
          explode(slice(ranked, 1, r)).as("__c"))
        .select(col("id"), col("vec"), col("__c.p").cast("int").as("part"))
    }

  /** The TWO-LEVEL assignment (round 19): stage 1 scores the √parts
    * supercells per vector (packed + broadcast — genuinely small) and
    * keeps the top-[[SuperProbe]]; stage 2 joins the exploded
    * (id, spart) rows against the per-supercell PACKED member arrays
    * (a plain equi-join — AQE picks broadcast only while the member
    * table actually fits; at fleet scale it shuffles, and AQE's skew
    * split handles hot supercells) and folds each vector's local
    * top-r INSIDE the projection — no (id, part)-grained exchange
    * ever materializes the O(N·S·√parts) scored candidates. The
    * per-id merge then shuffles only N·S rows of ≤r-entry structs,
    * and the corpus joins back by id to reattach vectors.
    *
    * Local-top-r is globally sufficient: every global top-r cell
    * appears in some probed supercell, and within that member list
    * the cells ranked above it are exactly cells ranked above it
    * globally. Replica copies of a cell score bit-identically (same
    * dot, same operands), so `array_distinct` collapses them before
    * the final slice; ties resolve by the struct order (ns asc, part
    * asc) = (score desc, part asc) — the flat fold's contract.
    *
    * A vector whose probed supercells hold fewer than r member cells
    * (degenerate routing: refine dropped cells into < r reachable
    * members) assigns to all of them — fewer replicas, never a wrong
    * cell, and never ZERO cells: stage 1 probes only supercells with
    * members (see below), so every vector reaches at least one
    * candidate while the member table is non-empty. The serving
    * side's completeness net is the analogous guard per query. */
  private[graft] def twoLevelTopR(docs: DataFrame, idCol: String,
                                  vecCol: String, supers: DataFrame,
                                  members: DataFrame, r: Int): DataFrame = {
    val src = docs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    src.join(twoLevelPairs(docs, idCol, vecCol, supers, members, r),
      Seq("id")).select(col("id"), col("vec"), col("part"))
  }

  /** The two-level selection WITHOUT the final vector join-back:
    * (id, part) pairs. [[twoLevelTopR]] is this plus one id-join to
    * reattach vectors for callers that need them. */
  private[graft] def twoLevelPairs(docs: DataFrame, idCol: String,
                                   vecCol: String, supers: DataFrame,
                                   members: DataFrame, r: Int): DataFrame = {
    val src = docs.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // probe only supercells that HAVE members: membership is the
    // cells' own top-2 choice, so a supercell can be memberless
    // (tight clustering concentrates memberships) — a vector whose
    // every probed supercell were memberless would silently vanish
    // from the index at the joins below. Restricting stage 1 to the
    // live supercells makes every probe productive, and the live
    // top-S candidate pool is a SUPERSET of the unfiltered one
    // (any live supercell in the overall top-S also ranks in the
    // live top-S), so selection only improves. The semi-join's
    // distinct is √parts-sized.
    val liveSupers = supers.join(members.select(col("spart")).distinct(),
      Seq("spart"), "left_semi")
    val spacked = liveSupers.agg(
      array_sort(collect_list(struct(col("spart"), col("srvec")))).as("__sc"))
    val sRanked = array_sort(transform(col("__sc"),
      c => struct(
        (-graft.functions.VectorF.dot(col("vec"), c.getField("srvec"))).as("ns"),
        c.getField("spart").as("p"))))
    val bySpart = src.crossJoin(broadcast(spacked))
      .select(col("id"), col("vec"),
        explode(transform(slice(sRanked, 1, SuperProbe),
          x => x.getField("p"))).as("spart"))
    val mpacked = members
      .groupBy(col("spart"))
      .agg(array_sort(collect_list(struct(col("part"), col("rvec"))))
        .as("__mc"))
    val localTop = bySpart.join(mpacked, Seq("spart"))
      .select(col("id"),
        slice(array_sort(transform(col("__mc"),
          c => struct(
            (-graft.functions.VectorF.dot(col("vec"), c.getField("rvec"))).as("ns"),
            c.getField("part").as("p")))), 1, r).as("__lt"))
    localTop
      .groupBy(col("id"))
      .agg(flatten(collect_list(col("__lt"))).as("__all"))
      .select(col("id"),
        explode(slice(array_sort(array_distinct(col("__all"))), 1, r))
          .as("__c"))
      .select(col("id"), col("__c.p").cast("int").as("part"))
  }
}
