package graft.search

import graft.functions.VectorF._
import graft.ingest.Ingest
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.graftnative.QueryBatch
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest-neighbor: a coarse quantizer
  * partitions the corpus into inverted lists, queries probe only the
  * `nprobe` nearest lists. This is the second scale path the engine
  * offers next to sign-bit LSH (Search.lshTopK): at 100 TB the list
  * id becomes the partition key, so a query touches nprobe/K of the
  * corpus instead of all of it, and list assignment is a one-off
  * batch job whose output is just an extra int column on the table.
  *
  * Centroids are chosen DETERMINISTICALLY (the rank-based LCG sample
  * of Ingest.sampleN — id-distribution-free, so sparse or
  * non-contiguous id spaces still yield exactly K centroids), and the
  * whole path — assignment, probing, final ranking — replays exactly
  * in the DuckDB oracle. A k-means refinement would slot in without
  * changing any plan shape (it only moves the centroid vectors).
  */
object IVF {

  /** The K deterministic centroid rows: (cid, cvec). cid is the rank
    * in the LCG sample order — dense 0..K-1 whatever the id space. */
  def centroids(docs: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame =
    Ingest.sampleN(docs, col(idCol), k)
      .select(
        (row_number().over(Search.wAll.orderBy(
          Ingest.pseudoShuffleKey(col(idCol)).asc, col(idCol).asc)) - 1)
          .cast("long").as("cid"),
        col(vecCol).as("cvec"))

  /** Assign every vector to its best inner-product centroid
    * (tiebreak: lowest cid). The centroid table is collapsed to ONE
    * broadcast row holding the cid-sorted centroid array, and the
    * per-row argmax is a transform + left-to-right fold over that
    * array INSIDE the projection — no corpus × K row inflation, no
    * aggregate, no exchange, no sort: assignment is embarrassingly
    * parallel and each vector is scored against each centroid exactly
    * once (the transform materializes the K scores before the fold,
    * so the dot is not re-evaluated per comparison). The earlier
    * window / max_by formulations both forced a corpus-sized
    * sort-or-shuffle of K scored copies per row — at 100 TB and
    * K=1024 centroids that is a 1000× inflation ahead of the
    * exchange; this form scans the corpus once and emits one row per
    * vector in place. A strict `>` over the cid-sorted array makes
    * ties resolve to the lowest cid, identical to the old
    * (score desc, cid asc) rank and to the oracle's ROW_NUMBER
    * replay.
    *
    * Every OTHER column of `docs` passes through untouched, so
    * payload columns (a label, a timestamp, a quality score) ride
    * into the inverted lists and serving-time predicates over them
    * run INSIDE the partition-pruned list scan (q110's
    * label-excluded hard-negative mining). */
  def assign(docs: DataFrame, idCol: String, vecCol: String,
             cents: DataFrame): DataFrame = {
    require(!docs.columns.contains("cid"),
      "assign: docs already has a 'cid' column")
    val packed = cents.agg(
      array_sort(collect_list(struct(col("cid"), col("cvec")))).as("__cents"))
    val scored = transform(col("__cents"),
      c => struct(dot(col(vecCol), c.getField("cvec")).as("s"),
        c.getField("cid").as("cid")))
    val best = aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("cid")),
      (acc, c) => when(c.getField("s") > acc.getField("s"), c).otherwise(acc))
    docs.crossJoin(broadcast(packed))
      .select(docs.columns.map(col).toSeq :+ best.getField("cid").as("cid"): _*)
  }

  /** [[assign]] with the two-level regime switch (round 19): at
    * `k` ≥ [[Assign.TwoLevelMinParts]] centroids the flat fold is an
    * O(N × K) flop term behind a K-sized broadcast — quadratic in
    * corpus wherever K is sized from N — so vectors route through
    * [[Assign.superTables]]' supercell structure instead
    * (O(N × √K) flops, √K-sized broadcast) and the (id, cid) pairs
    * join back onto `docs` by id. Below the threshold this IS
    * [[assign]], bit for bit. Every INDEX build/append path routes
    * here; [[assign]] remains the explicit flat kernel (and the
    * in-query classification/verification sites that score a
    * constant-bounded centroid set keep calling it directly).
    *
    * The two-level branch requires `idCol` to be unique per row (the
    * join-back would multiply duplicate ids) — index paths already
    * enforce integral unique ids. Determinism and the
    * lowest-cid tie rule match [[assign]] exactly; selection equality
    * below/at the measured envelope is pinned by AssignSpec. */
  def assignAuto(docs: DataFrame, idCol: String, vecCol: String,
                 cents: DataFrame, k: Int): DataFrame =
    if (k < Assign.TwoLevelMinParts) assign(docs, idCol, vecCol, cents)
    else {
      require(!docs.columns.contains("cid"),
        "assignAuto: docs already has a 'cid' column")
      // the two-level join-back keys on the id CAST TO LONG — a
      // non-integral id column would null out and silently build an
      // EMPTY index (the flat fold is id-type-agnostic; this branch
      // is not). Loud schema gate instead.
      Search.requireIntegralId(docs, idCol, "IVF.assignAuto")
      val pairs = Assign.topRPairs(
          docs.select(col(idCol), col(vecCol)), idCol, vecCol,
          cents.select(col("cid").cast("int").as("part"),
            col("cvec").cast("array<double>").as("rvec")),
          r = 1, parts = k)
        .select(col("id").as("__aid"), col("part").cast("long").as("cid"))
      docs.join(pairs, docs(idCol).cast("long") === col("__aid"))
        .select(docs.columns.map(docs(_)).toSeq :+ col("cid"): _*)
    }

  /** Spherical k-means refinement of the coarse quantizer: Lloyd
    * iterations — assign to best inner-product centroid, recompute
    * each list's mean RELATIONALLY (posexplode → per-(cid, dim) mean →
    * re-assemble), L2-normalize the means. Each iteration ends in a
    * `localCheckpoint` so the lineage (and with it the plan size)
    * stays constant across iterations — the standard discipline for
    * iterative algorithms on DataFrames.
    *
    * The per-dimension mean is computed over 1e-6-QUANTIZED
    * coordinates (an exact integer sum divided by the count): a plain
    * double `avg` depends on partial-aggregation merge order, so two
    * engines — or two shuffle layouts — could disagree in the last
    * ulp and flip a downstream assignment tie. The integer sum is
    * order-independent, which makes refined centroids bit-identical
    * run-to-run AND replayable in the DuckDB oracle (q58); the 1e-6
    * coordinate quantization is far below any meaningful centroid
    * geometry. */
  def refine(docs: DataFrame, idCol: String, vecCol: String,
             cents: DataFrame, iterations: Int): DataFrame = {
    // materialize the seed once: iteration 1 and the per-iteration
    // regime count below both read it, and the caller's plan (often
    // the full-corpus LCG sample) must not re-run per consumer
    var c = if (iterations > 0) cents.localCheckpoint() else cents
    // per-iteration regime switch (round 19): Lloyd's assign step
    // over a corpus-sized K is the same quadratic term as the build
    // assignment — each iteration routes two-level above the
    // threshold. Refinement can only DROP cells (empty lists produce
    // no mean), so once the count sits below the two-level threshold
    // it stays there and the regime is pinned FLAT for every later
    // iteration — and the flat kernel never reads k — so the
    // per-iteration re-count is only paid while the iterate is still
    // at or above the threshold (where an exact count decides the
    // regime, exactly as before).
    var k = -1 // unknown until the first iteration counts the seed
    for (_ <- 0 until iterations) {
      if (k < 0 || k >= graft.search.Assign.TwoLevelMinParts)
        k = c.count().toInt
      // the per-position quantized mean in ONE aggregate (round 20):
      // the old posexplode → groupBy(cid, pos) → groupBy(cid) pipeline
      // inflated the corpus N×d ahead of TWO exchanges; QuantMeanVec
      // partial-aggregates (Σ round(x·1e6)::long, count) per position
      // map-side, so one exchange carries K rows of 2·d longs — see
      // the aggregate's scaladoc for the bit-identity argument. A
      // group whose every array is null/empty evaluates to NULL and is
      // dropped, exactly as the old pipeline produced no rows for it.
      val next = assignAuto(docs, idCol, vecCol, c, k)
        .groupBy(col("cid"))
        .agg(org.apache.spark.sql.graftnative.QuantMeanAggregate
          .quantMean(col(vecCol)).as("pm"))
        .where(col("pm").isNotNull)
        .select(col("cid"), l2normalize(col("pm")).as("cvec"))
      c = next.localCheckpoint()
    }
    c
  }

  /** Persist an IVF index at rest (SURVEY §2 S5: "an index is a
    * cached/partitioned DataFrame"): the assigned corpus is written
    * `partitionBy(cid)` so each inverted list is a parquet partition
    * directory, and probing becomes PARTITION PRUNING — a query reads
    * nprobe directories off disk, never the rest of the corpus. The
    * centroid table rides along. This is the engine's answer to the
    * reference's `faiss.write_index` file
    * (`src/pipeline/pipeline.py:134`). */
  def writeIndex(docs: DataFrame, idCol: String, vecCol: String,
                 k: Int, refineIters: Int, path: String): Unit = {
    val cents0 = centroids(docs, idCol, vecCol, k)
    // K-row table, materialized once: the assignment below (and, at
    // two-level scale, the supercell derivation inside it) reads the
    // quantizer several times — the full-corpus LCG sample plan must
    // not re-run per consumer
    val cents = (if (refineIters > 0)
      refine(docs, idCol, vecCol, cents0, refineIters) else cents0)
      .localCheckpoint()
    // CREATE semantics: a brand-new index replaces whatever lived at
    // the path (leftover generations from a prior index would
    // otherwise leak into this one's lifecycle), INCLUDING the
    // sibling exactly-once ledger — a fresh index inheriting a dead
    // stream's applied set would silently skip legitimate batches;
    // REBUILDING a live index in place is writeIndexFrom's staged path
    graft.FileTree.delete(new java.io.File(path))
    graft.FileTree.delete(appendLedger(path))
    writeIndexFrom(cents, assignAuto(docs, idCol, vecCol, cents, k), path)
  }

  /** Persist CALLER-SUPPLIED index artifacts (e.g. the session-memoized
    * centroids + assignment the in-memory queries share) — the
    * memoized index and the at-rest index are then the same object in
    * two representations. */
  /** Generation directories under `path` (the initial `lists` /
    * `centroids` plus every versioned `lists__vN` / `centroids__vN`),
    * minus `keep` — the ONE predicate both compaction's and the
    * rebuild's GC share. */
  private def staleGenerations(path: String, keep: Set[String]): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory &&
        (f.getName == "lists" || f.getName.startsWith("lists__v") ||
          f.getName == "centroids" || f.getName.startsWith("centroids__v") ||
          f.getName.startsWith("tomb__")) &&
        !keep.contains(f.getName))

  /** A lists generation's tombstone sidecar name: the sidecar is
    * VERSIONED WITH the lists (`tomb__<listsName>`), so a pinned
    * reader pairs its generation's lists with that generation's
    * delete set — and a compacted generation, which starts with no
    * sidecar, cannot resurrect a grace-window pin's hidden rows. */
  private def tombName(listsName: String): String = s"tomb__$listsName"
  private def tombDirFor(listsDir: String): String = {
    val f = new java.io.File(listsDir)
    new java.io.File(f.getParentFile, tombName(f.getName)).getPath
  }

  /** Hide tombstoned ids from a frame read out of `listsDir`'s
    * generation — the anti-join every serve and every maintenance
    * read of the live lists applies (the graph index's
    * `dropTombstoned` shape). The sidecar's single column carries the
    * index's own id column name, so the join key needs no metadata
    * beyond the sidecar schema. No sidecar → the frame passes through
    * untouched (a never-deleted index pays nothing).
    *
    * The join strategy is deliberately AQE-GOVERNED, not a forced
    * `broadcast()`: each delete request is request-sized, but between
    * compactions the sidecar ACCUMULATES requests, and months of
    * right-to-be-forgotten traffic on a 100 TB index can push the
    * union past the broadcast ceiling — an over-grown sidecar must
    * degrade to a shuffle anti-join, never a driver OOM (the SCALE.md
    * lesson from the dedup candidate sets). The sidecar is a parquet
    * read with file-level size stats, so AQE broadcasts it whenever
    * it actually is small — the common case costs exactly what the
    * forced hint did. [[needsCompact]] is the scheduling valve that
    * keeps the sidecar from living long at that size. */
  private[search] def dropTombstoned(spark: org.apache.spark.sql.SparkSession,
                                     listsDir: String, df: DataFrame): DataFrame = {
    val td = tombDirFor(listsDir)
    if (!new java.io.File(td).isDirectory) df
    else {
      val tomb = spark.read.parquet(td)
      df.join(tomb.select(tomb.columns.head),
        Seq(tomb.columns.head), "left_anti")
    }
  }

  /** The LIVE generation's standing tombstone sidecar, MATERIALIZED
    * (localCheckpoint — request-sized by the delete contract), or
    * None when the index has never been deleted from. Materialization
    * matters: the one caller class that needs this ([[graft.search.SQ
    * .rebuildIndex]]'s requant, a CREATE that destroys the path
    * before writing the new geometry) must hold the delete set AFTER
    * the files it was read from are gone — a lazy plan would fail at
    * the scan, or worse, silently read nothing. */
  private[search] def standingTombIds(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Option[DataFrame] = {
    val td = tombDirFor(listsPath(path))
    if (!new java.io.File(td).isDirectory) None
    else Some(spark.read.parquet(td).localCheckpoint())
  }

  /** Distinct ids in the LIVE generation's tombstone sidecar (0 when
    * none) — a sidecar-only count, no list bytes. Distinct, not raw
    * rows (round 18, the [[GraphAnn.tombstoneRows]] rule): the
    * default O(request) delete appends each request verbatim, so a
    * repeated forget list would inflate a raw count and fire
    * [[needsCompact]] on duplicates rather than on hidden ids. */
  def tombstoneRows(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val td = tombDirFor(listsPath(path))
    if (!new java.io.File(td).isDirectory) 0L
    else {
      val t = spark.read.parquet(td)
      t.select(col(t.columns.head)).distinct().count()
    }
  }

  /** Compaction trigger on DELETE ACCUMULATION — the twin of
    * [[needsRefine]] (list skew) and [[listFileCounts]] (append
    * fragmentation): true when the live sidecar holds more than
    * `maxTombRows` hidden ids. A maintenance job polls it after
    * deletes and schedules [[compactIndex]] when it fires, which
    * bounds both the serve-time anti-join's build side and the dead
    * bytes scans still pay to read — without a trigger the sidecar
    * grows until the hide join outweighs the rewrite it was
    * deferring. */
  def needsCompact(spark: org.apache.spark.sql.SparkSession, path: String,
                   maxTombRows: Long): Boolean =
    tombstoneRows(spark, path) > maxTombRows

  /** The LIVE list rows with tombstoned ids hidden — the one reader
    * every maintenance flow that rebuilds FROM the index's own
    * content (q96's refine-then-rewrite) must go through: a rebuild
    * sourced from a raw `listsPath` read would re-ingest rows a
    * delete already hid (the resurrection bug the graph index's
    * `refreshRouting` anti-join exists to prevent). */
  def listsRows(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val lp = listsPath(path)
    dropTombstoned(spark, lp, spark.read.parquet(lp))
  }

  /** The next free generation number: max over EVERY versioned dir
    * present (live, grace, or orphaned) + 1 — derived from the
    * listing, never from the live name, so a staged write can never
    * collide with a surviving generation (a liveName-based counter
    * restarts at v2 after a rebuild and overwrites the grace
    * generation readers may still hold). */
  private def dirVersions(path: String): Seq[Int] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
      .collect {
        case n if n.startsWith("lists__v") => n.stripPrefix("lists__v")
        case n if n.startsWith("centroids__v") => n.stripPrefix("centroids__v")
      }
      .flatMap(s => scala.util.Try(s.toInt).toOption)

  /** Derive + fence the next generation version in one step — the
    * shared [[graft.WriterFence.claim]] protocol (generation dirs ∪
    * standing markers, max + 1, create-exclusive acquire): the
    * version derives from the LISTING, never the live name (a
    * liveName-based counter restarts at v2 after a rebuild and
    * overwrites the grace generation readers may still hold), and
    * the loser of a same-version staging race fails loudly here. */
  private def claimVersion(path: String, what: String): Int =
    graft.WriterFence.claim(new java.io.File(path), FencePrefix,
      dirVersions(path), what)

  private val FencePrefix = "WRITER__v"

  /** Atomically point CURRENT at a (lists, centroids) generation
    * pair: single-file ATOMIC_MOVE on a filesystem, a small-object
    * PUT on an object store.
    *
    * COMMITS ARE ORDERED — the other half of the writer-fence
    * contract ([[graft.WriterFence]] orders staging CLAIMS; this
    * orders the commits): a flip must carry a version STRICTLY ABOVE
    * the currently-pointed generation's, or fail loudly. Without the
    * guard, a writer that stalled mid-staging while a staggered
    * newer writer claimed, committed, and swept could wake up and
    * flip the pointer BACK to its stale generation — silently
    * regressing the index and resurrecting whatever the newer
    * generation's sidecar was hiding (last-flip-wins, the failure
    * class the fence exists to kill). On a plain filesystem a
    * read-then-move window remains (microseconds, against the
    * documented single-writer contract); an object store closes it
    * exactly with a conditional PUT (`If-Match` on the CURRENT
    * object) — the guard is written so that swap is drop-in. */
  private[graft] def flipCurrent(path: String, listsN: String,
                                 centsN: String): Unit = {
    val ours = genVersionOf(listsN)
    val standing = genVersionOf(generationPair(path)._1)
    if (ours <= standing)
      throw new IllegalStateException(
        s"IVF.flipCurrent: stale commit — $path already points at " +
          s"generation v$standing while this writer staged v$ours; a " +
          "newer maintenance writer committed during staging. This " +
          "writer's generation is orphaned (the GC collects it); " +
          "re-run the maintenance op against the live pointer.")
    val tmp = java.nio.file.Paths.get(s"$path/CURRENT.tmp")
    java.nio.file.Files.write(tmp,
      s"$listsN $centsN".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$path/CURRENT"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A generation name's version: the base layout ("lists") is v1,
    * versioned names carry their own number. */
  private def genVersionOf(listsN: String): Int =
    if (!listsN.contains("__v")) 1
    else scala.util.Try(
      listsN.substring(listsN.indexOf("__v") + 3).toInt).getOrElse(1)

  def writeIndexFrom(cents: DataFrame, assigned: DataFrame, path: String): Unit = {
    // REBUILD — a wholesale replacement of the index (new centroids +
    // new lists). The quantizer and its lists are ONE consistency
    // unit: list cids are assigned under specific centroids, so a
    // reader pairing a new quantizer with old lists (or vice versa)
    // ranks probes against one geometry and scans lists laid out
    // under another — silently wrong candidates. On a live index the
    // rebuild therefore stages BOTH tables under a fresh versioned
    // generation and commits them with the single CURRENT pointer
    // flip (compactIndex's discipline): a crash before the flip
    // leaves the old generation serving and the staged one orphaned
    // (re-run to complete; the orphan is GC'd next cycle), a crash
    // after leaves the new one serving — no window pairs mismatched
    // tables. The superseded generation survives one cycle as the
    // in-flight readers' grace window, exactly like compaction's.
    val freshIndex = !new java.io.File(s"$path/CURRENT").isFile &&
      !new java.io.File(s"$path/lists").isDirectory
    // one file per inverted list: without the cid shuffle every
    // write task drops a fragment into every cid= dir it holds
    // rows for (tasks × K small files — the anti-layout for both
    // the local FS and a 100 TB object store); the write-side
    // exchange pays for every read after (the postings-write
    // discipline, SparkEntry.writePostings)
    def listWrite(df: DataFrame) = df.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid")
    if (freshIndex) {
      // first build at this path: nothing can be reading it, the base
      // names ARE the generation (no pointer until maintenance). A
      // leftover sibling ledger from a dead index at this path would
      // silently skip a fresh stream's batches — CREATE clears it.
      graft.FileTree.delete(appendLedger(path))
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      listWrite(assigned).parquet(s"$path/lists")
    } else {
      val (prevLists, prevCents) = generationPair(path)
      // DELETE AWARENESS — the upgrade-resurrection close: a rebuild
      // sourced from EXTERNAL content (the corpus table — q141's
      // embedder upgrade, SQ's requant recipe) knows nothing about
      // the deletes the live generation is hiding, and committing its
      // rows verbatim under a clean sidecar would resurrect every
      // tombstoned id through a routine maintenance op — a
      // right-to-be-forgotten request undone by an upgrade. The
      // staged lists therefore anti-join the STANDING sidecar:
      // physical removal rides the rewrite it was already paying
      // (deletion's phase 2, exactly compactIndex's discipline), the
      // new generation legitimately starts with a clean sidecar, and
      // forgotten stays forgotten across any rebuild. Rebuilds
      // sourced from the index's OWN content ([[listsRows]] — q96's
      // refresh) arrive pre-filtered; the anti-join is then a no-op
      // costing one sidecar-sized probe. AQE-governed like every
      // sidecar join — never a forced broadcast.
      // the compactIndex in-flight-append guard, for the same reason:
      // a rebuild folding a half-promoted ingest batch would hand its
      // re-delivery a double-write
      graft.streaming.ExactlyOnce.sweepStages(new java.io.File(path),
        appendLedger(path), failOnInflight = true, "IVF.writeIndexFrom")
      val staged = dropTombstoned(assigned.sparkSession,
        s"$path/$prevLists", assigned)
      // claim (derive + fence) BEFORE any staged bytes: the loser of
      // a same-version race fails loudly instead of overwriting the
      // winner's staged generation and racing the CURRENT flip
      val v = claimVersion(path, "IVF.writeIndexFrom")
      cents.write.mode("overwrite").parquet(s"$path/centroids__v$v")
      listWrite(staged).parquet(s"$path/lists__v$v")
      flipCurrent(path, s"lists__v$v", s"centroids__v$v")
      graft.WriterFence.sweep(new java.io.File(path), FencePrefix, v)
      // each kept lists generation keeps ITS tombstone sidecar: a
      // grace-window pin pairs its lists with its delete set, so the
      // sidecar must survive exactly as long as the lists do
      staleGenerations(path,
        keep = Set(s"lists__v$v", s"centroids__v$v", prevLists, prevCents,
          tombName(s"lists__v$v"), tombName(prevLists)))
        .foreach(graft.FileTree.delete)
    }
  }

  /** INCREMENTAL index maintenance: assign a delta batch against the
    * index's EXISTING centroid table and append the assigned rows to
    * the persisted inverted lists — the engine's `faiss index.add`
    * (the reference adds embeddings to a built index inside its build
    * loop, `src/pipeline/pipeline.py:131-134`). A continuously
    * ingested corpus appends per batch; nothing already at rest is
    * rewritten (parquet append creates new part files only under the
    * touched cid= directories), and a search over the updated index
    * equals a full rebuild over the union corpus with the same
    * centroids — bit for bit, since [[assign]] is deterministic and
    * list membership is searched exhaustively inside probed lists
    * (q84's oracle pins exactly this equivalence).
    *
    * What appending does NOT do is move centroids: drift in the
    * incoming distribution degrades list balance over time, which is
    * a SCHEDULING signal, not a per-batch cost — check [[needsRefine]]
    * after appending and rebuild with [[refine]]d centroids when list
    * skew passes the threshold (FAISS users retrain the coarse
    * quantizer on the same trigger).
    *
    * RE-INGEST REVIVES — by forcing deletion's phase 2 first: if an
    * appended id sits in the live generation's tombstone sidecar
    * (deleted earlier, ingested again), the ingest is the newer fact
    * and must serve — but simply clearing the sidecar entry would
    * RESURRECT the old physical copy alongside the new one (the hide
    * was the only thing keeping it dead), and leaving the entry would
    * silently anti-join the new row away and let [[compactIndex]]
    * drop it — a delete outliving the data it names. So a revive runs
    * [[compactIndex]] BEFORE the append: the staged rewrite
    * physically removes every tombstoned copy (the pending phase-2
    * work, paid early), the fresh generation starts with a clean
    * sidecar, and the new row appends into it as the id's ONLY copy.
    * The revive check is a directory probe on the never-deleted
    * common case and a request-sized semi-join otherwise; the
    * compaction itself is O(index), which is why it only fires on an
    * actual revive — at a scale where revives are routine, the
    * sequence-scoped tombstone (hide only rows ingested BEFORE the
    * delete) is the upgrade path, at the cost of a seq column in the
    * list schema. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    delta: DataFrame, idCol: String, vecCol: String): Unit = {
    if (hasRevives(spark, path, delta, idCol)) compactIndex(spark, path)
    // resolve the generation pair ONCE (and after any revive
    // compaction): the assignment's quantizer and the append's lists
    // must be the same consistency unit
    val (ln, cn) = generationPair(path)
    val cents = spark.read.parquet(s"$path/$cn")
    // the regime count is a K-row parquet read; above the threshold
    // the delta routes two-level (round 19) — same deterministic
    // selection, so append == rebuild stays bit-identical
    assignAuto(delta, idCol, vecCol, cents, cents.count().toInt)
      .repartition(col("cid")) // one appended file per touched list
      .write.mode("append").partitionBy("cid").parquet(s"$path/$ln")
  }

  /** The index's committed-batch ledger (one marker file per applied
    * streaming batch — [[graft.streaming.ExactlyOnce]]). A SIBLING of
    * the index path (`<path>__applied`, the postings/register
    * convention), not a child: it must survive generation flips AND
    * the whole-path wipe of [[graft.search.SQ.rebuildIndex]]'s
    * requant (a maintenance rebuild that lost the ledger would turn
    * the next crash's re-delivery of a committed batch into a second
    * append on top of a rebuild that already holds its docs — and a
    * save/restore around the wipe would still carry a crash window
    * between the delete and the restore). CREATE paths clear it
    * explicitly; maintenance never touches it. */
  private[graft] def appendLedger(path: String): java.io.File =
    new java.io.File(path.stripSuffix("/") + "__applied")

  /** [[appendToIndex]] with EXACTLY-ONCE semantics under streaming
    * re-delivery — the sink-side contract
    * [[graft.streaming.Streaming.runForeachBatchResumable]] names:
    * foreachBatch re-runs a batch whose checkpoint commit did not
    * land, and a raw append would then write its vectors twice. The
    * [[graft.streaming.ExactlyOnce]] protocol: committed batchId →
    * no-op before any plan runs; otherwise stage the assigned batch
    * to a scratch dir, PROMOTE each staged file into the live lists
    * under a deterministic (batchId, partition) name with
    * REPLACE_EXISTING renames, and write the ledger marker LAST — a
    * crash at any point makes the re-delivery converge on the same
    * file set instead of doubling rows. The revive probe runs exactly
    * as in [[appendToIndex]] (a re-delivered batch re-probes; if its
    * first attempt already compacted, the cleared sidecar makes the
    * probe a directory stat). Same per-batch cost as the raw append
    * plus one rename per touched list. */
  def appendToIndexIdempotent(spark: org.apache.spark.sql.SparkSession,
                              path: String, delta: DataFrame,
                              idCol: String, vecCol: String,
                              batchId: Long): Unit = {
    import graft.streaming.ExactlyOnce
    val ledger = appendLedger(path)
    if (ExactlyOnce.isApplied(ledger, batchId)) return
    val stage = ExactlyOnce.stageDir(new java.io.File(path), batchId)
    if (stage.isDirectory) {
      // our own earlier delivery crashed before its marker (the stage
      // dir is deleted only after commit). Scrub the partial
      // promotion FIRST: the live generation is still the crash-time
      // one (maintenance refuses while this stage exists), so the
      // batch's own `b<id>-p*` files are exactly the debris — then
      // the revive compaction below cannot fold rows the re-promote
      // would double, and a conf change between runs cannot strand
      // old deterministic keys.
      ExactlyOnce.scrub(new java.io.File(listsPath(path)), batchId)
      graft.FileTree.delete(stage)
    }
    if (hasRevives(spark, path, delta, idCol)) compactIndex(spark, path)
    val (ln, cn) = generationPair(path)
    val cents = spark.read.parquet(s"$path/$cn")
    assignAuto(delta, idCol, vecCol, cents, cents.count().toInt)
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(stage.getPath)
    ExactlyOnce.promote(stage, new java.io.File(s"$path/$ln"), batchId)
    ExactlyOnce.commit(ledger, batchId)
    graft.FileTree.delete(stage)
  }

  /** True when any of `delta`'s ids sit in the LIVE generation's
    * tombstone sidecar — the REVIVE probe every append writer into
    * the shared cid-partitioned list layout must run ([[IVF
    * .appendToIndex]] and [[SQ.appendToIndex]] both do): re-ingesting
    * a tombstoned id must force deletion's phase 2 first, because
    * clearing the sidecar entry alone would resurrect the old
    * physical copy next to the new row and leaving it would anti-join
    * the new row away — a delete silently outliving the data it
    * names. A directory probe on the never-deleted common case, a
    * request-sized semi-join otherwise. */
  private[search] def hasRevives(spark: org.apache.spark.sql.SparkSession,
                                 path: String, delta: DataFrame,
                                 idCol: String): Boolean = {
    val td = tombDirFor(listsPath(path))
    if (!new java.io.File(td).isDirectory) false
    else {
      val tomb = spark.read.parquet(td)
      !tomb.join(
        delta.select(col(idCol).cast("long").as(tomb.columns.head)),
        Seq(tomb.columns.head), "left_semi").isEmpty
    }
  }

  /** DELETE ids from the index — the right-to-be-forgotten lifecycle
    * op, TWO-PHASE like the graph index's (tombstone → compaction),
    * so deletion composes with the generation/pin contract every
    * other mutation honors. PHASE 1 (here): the request-sized id set
    * lands in the live generation's `tomb__<lists>` sidecar — an
    * O(request) append that opens NO list file — and every serve
    * ([[searchIndex]], [[searchIndexPinned]], [[searchIndexMulti]],
    * SQ8's reads) anti-joins it before the top-k, so deleted content
    * is hidden IMMEDIATELY while the at-rest bytes stand untouched.
    * PHASE 2: physical removal rides [[compactIndex]]'s staged
    * rewrite (it reads every byte anyway); the new generation starts
    * with a clean sidecar and the superseded one keeps its sidecar
    * through the grace window, so a reader pinned across the delete
    * or the flip always sees a coherent, delete-filtered snapshot —
    * never the half-rewritten list set an in-place rewrite could
    * expose. (An earlier revision rewrote touched lists in place
    * under dynamic partition overwrite; request-scoped, but the one
    * mutation that broke snapshot isolation for concurrent readers.)
    * The quantizer stands — deletion never changes geometry. Works on
    * any index sharing the cid-partitioned list layout (SQ8's lists
    * qualify, with idCol = "id").
    *
    * The DEFAULT is pure O(request): the distinct request ids land
    * id-only in the sidecar (no index read — round 18 retired the
    * per-delete column-pruned id scan from the default path), return
    * -1. Serving is unaffected (the anti-join keys on the first
    * column either way); the next [[compactIndex]] derives its
    * touched-list set through its id-only-sidecar fallback — ONE
    * amortized column-pruned scan across all accumulated deletes
    * instead of one per delete. Two default-mode consequences, both
    * CONVERGENT (the graph family has always had them — its sidecar
    * records the raw request): an id deleted while ABSENT from the
    * index sits in the sidecar, so its later first ingest reads as a
    * revive and triggers the deferred compaction before the append
    * (a spurious-but-correct maintenance pass; the compaction clears
    * the entry and the append lands clean), and repeated requests
    * append duplicate sidecar rows (harmless to serving's anti-join;
    * [[tombstoneRows]]/[[needsCompact]] count distinct ids, so the
    * valve never fires on duplicates). `countPresent = true` opts
    * into the per-delete scan and today's richer sidecar: rows are
    * request ∩ LIVE index (absent ids never recorded; a repeat of the
    * same request counts zero) as (id, cid) pairs, which keeps even
    * the compaction planning request-sized — the mode for callers
    * whose contract gates on the hidden count.
    *
    * MIGRATION NOTE (the round-18 default flip): before round 18 the
    * default return WAS the hidden-row count; the default is now the
    * -1 SENTINEL meaning "not counted" — it is never a count. Any
    * external caller gating on the old return must pass
    * `countPresent = true` explicitly (the declared
    * right-to-be-forgotten rows do; bulk forgets should not — the
    * count is a full per-request index scan the default exists to
    * avoid). Treat a negative return as "unknown", never as zero. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame, idCol: String,
                      countPresent: Boolean = false): Long = {
    val lp = listsPath(path)
    if (!countPresent) {
      ids.select(col(idCol).cast("long").as(idCol)).distinct()
        .coalesce(1).write.mode("append").parquet(tombDirFor(lp))
      return -1L
    }
    // the sidecar rows are request ∩ LIVE index (the semi-join runs
    // against the tombstone-filtered lists, so ids absent from the
    // index are never recorded and a repeated delete of the same ids
    // counts zero — no double-counting across requests). Column-pruned
    // id-only scan (cid is the partition column — directory names,
    // zero extra bytes); the hide itself never reads vector bytes.
    //
    // The sidecar records (id, cid), id FIRST: every consumer joins
    // on `columns.head`, and the cid rides along so COMPACTION can
    // derive its touched-list set from the request-sized sidecar
    // alone instead of re-scanning every list's ids — at 100 TB the
    // difference between an O(request) read and an O(index-ids) pass
    // per delete-triggered compaction.
    val hit = dropTombstoned(spark, lp,
        spark.read.parquet(lp).select(col(idCol).cast("long").as(idCol),
          col("cid").cast("long").as("cid")))
      .join(broadcast(ids.select(col(idCol).cast("long").as(idCol))),
        Seq(idCol), "left_semi")
      .localCheckpoint() // request-sized by contract: count + write share it
    val present = hit.count()
    if (present > 0L)
      hit.coalesce(1).write.mode("append").parquet(tombDirFor(lp))
    present
  }

  /** The LIVE generation pair: maintenance ops write each new
    * generation under fresh versioned names and flip the one-line
    * `$path/CURRENT` pointer (`"<listsName> <centroidsName>"`) to it;
    * an index that has never been compacted or rebuilt in place has
    * no pointer and lives at the base `lists` / `centroids`. A legacy
    * single-token pointer (written before centroids were versioned)
    * names only the lists generation — its centroids are the base
    * table, which that layout never moved. */
  private def parseCurrent(path: String): Option[(String, String)] = {
    val cur = new java.io.File(s"$path/CURRENT")
    if (!cur.isFile) None
    else {
      val toks = new String(java.nio.file.Files.readAllBytes(cur.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+")
      Some((toks(0), if (toks.length > 1) toks(1) else "centroids"))
    }
  }
  /** The live (listsName, centroidsName) pair from ONE pointer read.
    * Every caller that needs both names must go through this — two
    * independent `parseCurrent` reads can straddle a concurrent
    * maintenance flip and pair one generation's lists with another's
    * quantizer (the exact mixed-pair state the versioned-generation
    * design exists to prevent). */
  private def generationPair(path: String): (String, String) =
    parseCurrent(path).getOrElse(("lists", "centroids"))
  private def listsName(path: String): String = generationPair(path)._1
  private def centroidsName(path: String): String = generationPair(path)._2

  /** Resolved path of the live inverted lists — every reader and the
    * append writer go through this indirection so compaction can swap
    * generations without touching them. */
  def listsPath(path: String): String = s"$path/${listsName(path)}"

  /** Resolved path of the live centroid table — versioned WITH the
    * lists under the same pointer, so the (quantizer, lists) pair a
    * reader sees is always the pair one generation wrote. */
  def centroidsPath(path: String): String = s"$path/${centroidsName(path)}"

  /** The live generation PAIR as a pinnable handle — `(listsName,
    * centroidsName)`. A long-running reader resolves this ONCE and
    * passes it to [[searchIndexPinned]] for every query it serves:
    * the pair is one consistency unit (the quantizer its lists were
    * assigned under), so the reader keeps serving a coherent snapshot
    * across any concurrent [[compactIndex]] / [[writeIndexFrom]]
    * flip. Validity is the GC grace window — a pinned generation
    * survives exactly ONE further maintenance cycle; re-resolve at
    * least once per cycle (the standard snapshot-reader discipline on
    * a versioned table). */
  def currentGeneration(path: String): (String, String) =
    generationPair(path)

  /** [[searchIndex]] against a PINNED generation pair instead of the
    * CURRENT pointer — the snapshot-isolation read: answers come from
    * the exact (quantizer, lists) pair captured by
    * [[currentGeneration]], regardless of how many flips have
    * happened since (within the grace window). A pin whose files have
    * been GC'd fails loudly at scan time, never silently serves a
    * mixed pair. */
  def searchIndexPinned(spark: org.apache.spark.sql.SparkSession, path: String,
                        gen: (String, String), idCol: String, vecCol: String,
                        query: DataFrame, queryVecCol: String,
                        k: Int, nprobe: Int): DataFrame =
    searchResolved(spark, s"$path/${gen._1}", s"$path/${gen._2}",
      idCol, vecCol, query, queryVecCol, k, nprobe)

  /** COMPACTION — the last quarter of the index-maintenance
    * lifecycle (build → append → refine → compact): every append
    * lands one new file per touched list, so a long-lived index
    * accumulates small files and scan/footer overhead grows with
    * append COUNT rather than data size. Compacting rewrites each
    * list back to one file — contents unchanged (search answers are
    * bit-identical; SearchSpec and q109 pin it), read cost restored.
    * Runs as one scan + one cid shuffle; a maintenance job schedules
    * it like [[needsRefine]], e.g. when [[listFileCounts]] passes a
    * threshold.
    *
    * The rewrite is staged into a NEW VERSIONED generation directory
    * (never localCheckpoint: a 100 TB index must not round-trip
    * through executor memory) and committed by atomically replacing
    * the one-line `CURRENT` pointer file — a single-file
    * ATOMIC_MOVE on a filesystem, a single small-object PUT on an
    * object store, so the swap ports where directory renames do not.
    * A crash BEFORE the flip leaves the old generation live and the
    * new one orphaned (compaction is simply re-runnable); a crash
    * AFTER the flip leaves the new generation live and the old one
    * garbage — both states serve correctly, there is no window with
    * no live lists. Assumes one maintenance writer at a time (the
    * standard compactor discipline). Concurrent SEARCHES are safe
    * across the flip because the immediately superseded generation
    * is NOT deleted — it survives one compaction cycle as the grace
    * window for readers that resolved the pointer just before the
    * flip; only generations two or more cycles old are GC'd. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    // an UNCOMMITTED idempotent-append stage means an ingest batch is
    // in flight (or crashed mid-append): rewriting now would fold its
    // partial rows into the fresh generation, and the batch's
    // re-delivery would then double them — the one window file-level
    // replacement can't close alone. Refuse loudly; committed stage
    // debris is swept here instead.
    graft.streaming.ExactlyOnce.sweepStages(new java.io.File(path),
      appendLedger(path), failOnInflight = true, "IVF.compactIndex")
    val (liveLists, liveCents) = generationPair(path)
    // claim (derive + fence): two compactions racing (e.g. a
    // scheduled one and a valve-fired one from another session)
    // derive the same v from the same listing — the loser fails
    // loudly here
    val v = claimVersion(path, "IVF.compactIndex")
    val nextName = s"lists__v$v"
    // the rewrite is sourced through the tombstone filter: compaction
    // is deletion's PHASE 2, and the new generation starts with a
    // clean sidecar (its lists simply no longer hold the rows). A
    // list every member of which was deleted vanishes here too: the
    // cid shuffle produces no rows for it, so no directory is
    // written. Round 16 makes the rewrite TOUCHED-LISTS-ONLY: a list
    // goes through Spark only when it is fragmented (>1 file — the
    // merge this op exists for) or holds tombstoned rows (the
    // physical removal); every other list carries over at the FILE
    // level (raw byte copy — a server-side object copy on an object
    // store, no decode/re-encode pass). At 100 TB a delete-triggered
    // compaction over a mostly-clean index pays its request's lists,
    // not the index.
    val lp = s"$path/$liveLists"
    val td = tombDirFor(lp)
    val touchedByDelete: Set[Long] =
      if (!new java.io.File(td).isDirectory) Set.empty
      else {
        val tomb = spark.read.parquet(td)
        // null-guard: a sidecar mixing id-only files (older writers)
        // with (id, cid) files reads null cids for the old rows —
        // trusting it would CARRY a list that still holds hidden
        // rows into a clean-sidecar generation (resurrection). Any
        // null → the fallback scan; the check is request-sized.
        if (tomb.columns.contains("cid") &&
            tomb.filter(col("cid").isNull).isEmpty)
          // the sidecar carries each hidden id's cid (deleteFromIndex
          // records it), so the touched set is a REQUEST-SIZED read —
          // no list ids are scanned to plan the compaction
          tomb.select(col("cid").cast("long").as("cid")).distinct()
            .collect().map(_.getLong(0)).toSet
        else
          // legacy id-only sidecar (pre-round-16): K-bounded fallback
          // via a column-pruned semi-join over the list ids
          spark.read.parquet(lp)
            .join(tomb.select(tomb.columns.head),
              Seq(tomb.columns.head), "left_semi")
            .select(col("cid").cast("long").as("cid")).distinct()
            .collect().map(_.getLong(0)).toSet
      }
    val counts = fileCountsAt(lp)
    val rebuild = counts.keySet.filter(c => counts(c) > 1 || touchedByDelete(c))
    val carry = counts.keySet -- rebuild
    if (rebuild.nonEmpty) {
      val rebuildSeq = rebuild.toSeq.map(java.lang.Long.valueOf)
      dropTombstoned(spark, lp,
          spark.read.parquet(lp).filter(col("cid").isin(rebuildSeq: _*)))
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$path/$nextName")
    } else new java.io.File(s"$path/$nextName").mkdirs()
    carry.foreach { c =>
      graft.FileTree.copy(new java.io.File(lp, s"cid=$c"),
        new java.io.File(s"$path/$nextName/cid=$c"))
    }
    // compaction moves bytes, never content: the new lists still live
    // under the SAME quantizer, so the pointer keeps the centroids
    // name and swaps only the lists generation
    flipCurrent(path, nextName, liveCents)
    graft.WriterFence.sweep(new java.io.File(path), FencePrefix, v)
    // the superseded generation keeps its sidecar through the grace
    // window — a pinned reader pairs old lists with the old delete set
    staleGenerations(path,
        keep = Set(nextName, liveLists, liveCents, tombName(liveLists)))
      .foreach(graft.FileTree.delete)
  }

  /** Files per inverted list of a persisted index — the compaction
    * trigger's input, from a driver-side listing (K directory reads,
    * no data scan). */
  def listFileCounts(path: String): Map[Long, Int] =
    fileCountsAt(listsPath(path))

  /** [[listFileCounts]] for an explicit lists directory. */
  private def fileCountsAt(listsDir: String): Map[Long, Int] = {
    val lists = new java.io.File(listsDir)
    Option(lists.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("cid="))
      .map { d =>
        d.getName.stripPrefix("cid=").toLong ->
          Option(d.listFiles()).toSeq.flatten
            .count(f => f.isFile && f.getName.endsWith(".parquet"))
      }.toMap
  }

  /** Per-list row counts of a persisted index — one count aggregate
    * over the lists' cid partition column (column-pruned: no vector
    * bytes are read). */
  def listSizes(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(listsPath(path))
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))

  /** Refine trigger: true when max(list size) / mean(list size)
    * exceeds `maxSkew` — the balance signal a maintenance job polls
    * after appends to decide when the coarse quantizer needs
    * retraining. Driver-side scalar over K rows. */
  def needsRefine(spark: org.apache.spark.sql.SparkSession, path: String,
                  maxSkew: Double): Boolean = {
    val row = listSizes(spark, path)
      .agg(max(col("n")).cast("double").as("mx"), avg(col("n")).as("mean"))
      .head()
    row.getDouble(0) > maxSkew * row.getDouble(1)
  }

  /** Search a persisted IVF index: rank centroids for the query,
    * filter the lists table to the nprobe best cids (a pure partition
    * filter — see the PartitionFilters entry in the scan plan), exact
    * re-rank inside. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  idCol: String, vecCol: String,
                  query: DataFrame, queryVecCol: String,
                  k: Int, nprobe: Int): DataFrame = {
    // one pointer read for both names — listsPath + centroidsPath
    // would read CURRENT twice and could straddle a concurrent flip
    val (ln, cn) = generationPair(path)
    searchResolved(spark, s"$path/$ln", s"$path/$cn",
      idCol, vecCol, query, queryVecCol, k, nprobe)
  }

  private def searchResolved(spark: org.apache.spark.sql.SparkSession,
                             listsDir: String, centsDir: String,
                             idCol: String, vecCol: String,
                             query: DataFrame, queryVecCol: String,
                             k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(centsDir)
    val probes = query.select(col(queryVecCol).as("__qv"))
      .crossJoin(broadcast(cents))
      .withColumn("__cs", dot(col("__qv"), col("cvec")))
      .orderBy(col("__cs").desc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid"), col("__qv"))
    // every serve hides the generation's tombstoned ids BEFORE the
    // top-k (a request-sized broadcast anti-join; no sidecar → free):
    // a deleted row must never be served, whatever the at-rest bytes
    // still hold between delete and compaction
    val lists = dropTombstoned(spark, listsDir, spark.read.parquet(listsDir))
    val scored = lists
      .join(broadcast(probes), "cid") // becomes a partition filter on cid
      .select(col(idCol), dot(col(vecCol), col("__qv")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
    scored.withColumn("rank",
        row_number().over(Search.wAll.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
      .select(col(idCol), col("rank"), round(col("score"), 6).as("score"))
  }

  /** Multi-query IVF search over an in-memory corpus: trains the
    * centroids, assigns the corpus, then serves the batch as
    * [[ivfMultiTopKAssigned]] does. */
  def ivfMultiTopK(docs: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   k: Int, nCentroids: Int, nprobe: Int): DataFrame = {
    val cents = centroids(docs, idCol, vecCol, nCentroids)
    val assigned = assign(docs, idCol, vecCol, cents)
    ivfMultiTopKAssigned(assigned, cents, idCol, vecCol,
      queries, qidCol, qvecCol, k, nprobe)
  }

  /** [[ivfMultiTopK]] over a PRE-ASSIGNED corpus: callers that probe
    * the same index at several nprobe settings (the q48 recall
    * contract) compute `centroids` + `assign` ONCE (ideally
    * localCheckpoint'd) and share it here — the assignment is a
    * corpus × K crossJoin plus a per-row rank window, and recomputing
    * it per knob was ~2/3 of q48's cost. Over a persisted index the
    * same role is played by the partitionBy(cid) parquet layout.
    * Probe step as in [[searchIndexMulti]]; the scan of `assigned`
    * is one routed `graft_topk_batch` aggregate. */
  def ivfMultiTopKAssigned(assigned: DataFrame, cents: DataFrame,
                           idCol: String, vecCol: String,
                           queries: DataFrame, qidCol: String, qvecCol: String,
                           k: Int, nprobe: Int): DataFrame = {
    Search.requireIntegralId(assigned, idCol, "ivfMultiTopK")
    val batch = Search.queryBatch(queries, qidCol, qvecCol)
    Search.batchTopK(assigned, idCol, vecCol,
      batch.routed(probePairs(cents, batch, nprobe)), Some(col("cid")), k)
  }

  /** The probe step every multi-query IVF-family serve shares
    * (in-memory, persisted, SQ8): each query row's `nprobe` best
    * cids, as (query row, cid) pairs on the driver — queries × nprobe
    * pairs, driver-bounded by the multi-query contract.
    *
    * The CENTROID table is the scanned side: it grows with the corpus
    * at derived-K geometry (K = ⌈√N⌉ is ~10⁵ rows / ~50 MB at 10¹⁰
    * vectors — past any sane broadcast), so it is never collected or
    * broadcast. The query batch rides inside ONE `graft_topk_batch`
    * aggregate over that scan — a heap per query row, the (score
    * desc, cid asc) tie order and the left-to-right dot every IVF
    * probe uses — so probe sets are bit-identical to the per-query
    * centroid ranking, and only the pairs come back. */
  private[graft] def probePairs(cents: DataFrame, batch: QueryBatch,
                                nprobe: Int): Seq[(Int, Long)] =
    Search.batchTopK(cents, "cid", "cvec", batch.perRow, None, nprobe)
      .select(col("qid"), col("cid")).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1)))

  /** MULTI-QUERY search over a PERSISTED index: ONE pruned scan of
    * the at-rest lists serves every query (the
    * [[GraphAnn.searchIndexMulti]] contract brought to the IVF
    * path — [[searchIndex]] reads the lists once per query; a
    * serving tier answering a query batch reads them once, period).
    *
    * Plan shape: the query batch is collected on the driver once;
    * [[probePairs]] scans the centroids and returns queries × nprobe
    * (query, cid) pairs; the lists scan is filtered to the UNION of
    * the probed cids — a STATIC `cid IN (...)` partition filter, so
    * unprobed list directories never leave disk (PlanSpec asserts
    * it) — and feeds one routed `graft_topk_batch` aggregate that
    * scores each row only against the queries probing its cell. No
    * join and no per-pair cast on the scoring path; the single final
    * merge receives partitions × queries × k heap entries. */
  def searchIndexMulti(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String, vecCol: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int, nprobe: Int): DataFrame =
    // one pointer read for the (lists, centroids) consistency unit
    searchIndexMultiPinned(spark, path, generationPair(path),
      idCol, vecCol, queries, qidCol, qvecCol, k, nprobe)

  /** [[searchIndexMulti]] against a PINNED generation pair — the
    * batch server's snapshot read ([[searchIndexPinned]]'s
    * multi-query twin): a serving tier that pins
    * [[currentGeneration]] at session start answers every query
    * batch from the exact (quantizer, lists) pair it captured,
    * paired with that generation's own sidecar, across any
    * concurrent [[compactIndex]] flip within the grace window. Same
    * plan shape and bounds as [[searchIndexMulti]]. */
  def searchIndexMultiPinned(spark: org.apache.spark.sql.SparkSession,
                             path: String, gen: (String, String),
                             idCol: String, vecCol: String,
                             queries: DataFrame, qidCol: String, qvecCol: String,
                             k: Int, nprobe: Int): DataFrame = {
    val batch = Search.queryBatch(queries, qidCol, qvecCol)
    val pairs = probePairs(spark.read.parquet(s"$path/${gen._2}"), batch, nprobe)
    val cids = pairs.map(_._2).distinct.sorted
    val lists = dropTombstoned(spark, s"$path/${gen._1}",
      spark.read.parquet(s"$path/${gen._1}")
        .filter(col("cid").isin(cids: _*))) // union of probed cells
    Search.batchTopK(lists, idCol, vecCol, batch.routed(pairs), Some(col("cid")), k)
  }

  /** IVF search: probe the query's `nprobe` best lists, exact re-rank
    * inside them. Output (id, rank, score) like Search.topK. */
  def ivfTopK(docs: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String,
              k: Int, nCentroids: Int, nprobe: Int): DataFrame =
    ivfTopKWith(centroids(docs, idCol, vecCol, nCentroids),
      docs, idCol, vecCol, query, queryVecCol, k, nprobe)

  /** [[ivfTopK]] against a CALLER-SUPPLIED centroid table — the entry
    * point for refined quantizers (q58 passes [[refine]]'s output) or
    * any externally-trained codebook. */
  def ivfTopKWith(cents: DataFrame, docs: DataFrame, idCol: String, vecCol: String,
                  query: DataFrame, queryVecCol: String,
                  k: Int, nprobe: Int): DataFrame =
    ivfTopKAssigned(assign(docs, idCol, vecCol, cents), cents,
      idCol, vecCol, query, queryVecCol, k, nprobe)

  /** Single-query IVF search over a PRE-ASSIGNED corpus (the memoized
    * or persisted index): per-query work is centroid ranking + the
    * probed-list scan, never a fresh assignment. */
  def ivfTopKAssigned(assigned: DataFrame, cents: DataFrame,
                      idCol: String, vecCol: String,
                      query: DataFrame, queryVecCol: String,
                      k: Int, nprobe: Int): DataFrame = {
    val probes = query.select(col(queryVecCol).as("__qv"))
      .crossJoin(broadcast(cents))
      .withColumn("__cs", dot(col("__qv"), col("cvec")))
      .orderBy(col("__cs").desc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid"), col("__qv"))
    val scored = assigned
      .join(broadcast(probes), "cid") // list-pruned scan
      .select(col(idCol), dot(col(vecCol), col("__qv")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
    scored.withColumn("rank",
        row_number().over(Search.wAll.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
      .select(col(idCol), col("rank"), round(col("score"), 6).as("score"))
  }
}
