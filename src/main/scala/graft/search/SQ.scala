package graft.search

import graft.Tombstones
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.graftnative.NativeExpressions.{dotNative => dot, sqAdcNative, sqPackNative}

/** R2 (fifth scale path): IVF with SCALAR-QUANTIZED (SQ8) inverted
  * lists — the coarse structure of [[IVF]] with the at-rest list
  * payload shrunk 8×: each vector is stored as one uint8 code per
  * dimension (per-dimension affine quantization over corpus min/max
  * bounds), packed into a single BINARY column. Candidate generation
  * scans the pruned lists through the codegen'd asymmetric-distance
  * kernel ([[org.apache.spark.sql.graftnative.SqAdc]] — dequantize
  * and dot in one fused loop, no materialized array), then the top
  * `rerank` candidates are re-scored EXACTLY against the
  * full-precision source-of-truth table (an O(rerank)-row broadcast
  * join) — the standard two-tier serving layout (FAISS
  * `IndexIVFScalarQuantizer(QT_8bit)` + refine; the reference keeps
  * full float32 vectors in every index, `src/pipeline/pipeline.py:
  * 126-134`, the layout that stops fitting first at 100 TB).
  *
  * WHY THIS EXISTS NEXT TO PQ (q59/q81): PQ is the smaller-but-lossy
  * end of the compression dial (sub-vector codebooks, recall bounded
  * by codebook quality); SQ8 is the cheap 8× point whose error is a
  * per-dimension rounding bound, so ADC ordering degrades only where
  * true scores are closer than the quantization step — which the
  * exact re-rank then repairs. At 100 TB the lists are the dominant
  * bytes; centroids and bounds stay tiny and broadcastable.
  *
  * Layout at `path`: `centroids` (cid, cvec — full precision, K
  * rows), `bounds` (d, lo, hi — one row per dimension), `lists`
  * (partitionBy(cid): id, code BINARY). Every quantity is a
  * deterministic function of the indexed content, so the whole
  * build + search replays as SQL — q114's oracle runs the identical
  * chain in DuckDB.
  *
  * MAINTENANCE shares [[IVF]]'s machinery outright: the list layout
  * (cid-partitioned parquet + small sidecar tables) is deliberately
  * identical, so [[IVF.compactIndex]] compacts an SQ index's
  * fragmented lists into a fresh `lists__vN` generation committed by
  * the same ordered CURRENT flip ([[graft.Generations]] — the one
  * generation protocol every index family shares; bounds and
  * centroids never move during compaction — they are index
  * geometry, not list bytes), and
  * [[IVF.listFileCounts]] is the shared fragmentation trigger. Every
  * SQ list read and append below resolves the live generation
  * through [[IVF.listsPath]], so readers ride the same
  * grace-windowed swap discipline q109 pins for IVF. */
object SQ {

  /** Quantization levels: codes live in [0, Levels]. */
  val Levels = 255

  /** Per-dimension corpus bounds (d, lo, hi): posexplode + keyed
    * min/max — map-side partial aggregation collapses each task to
    * `dim` rows before the exchange, so the shuffle carries
    * O(dim × tasks) rows at any corpus size. */
  def bounds(docs: DataFrame, vecCol: String): DataFrame =
    docs.select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))

  /** The bounds table collapsed to ONE broadcastable row of
    * dim-ordered (lo, hi) arrays — the form the quantize and ADC
    * kernels consume. */
  def boundsArrays(b: DataFrame): DataFrame =
    b.agg(array_sort(collect_list(struct(col("d"), col("lo"), col("hi"))))
        .as("__b"))
      .select(
        transform(col("__b"), e => e.getField("lo")).as("lo"),
        transform(col("__b"), e => e.getField("hi")).as("hi"))

  /** Affine uint8 code per dimension:
    * `round((x - lo) * 255.0 / (hi - lo))` clamped to [0, 255]; a
    * degenerate dimension (hi = lo) codes to 0 and dequantizes back
    * to `lo` exactly. The arithmetic (operand order, HALF_UP round)
    * is written exactly as the oracle's `list_transform` replays it. */
  private[graft] def quantCodes(vecCol: org.apache.spark.sql.Column,
                                lo: org.apache.spark.sql.Column,
                                hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lohi = zip_with(lo, hi, (l, h) => struct(l.as("l"), h.as("h")))
    zip_with(vecCol, lohi, (x, lh) => {
      val l = lh.getField("l")
      val h = lh.getField("h")
      when(h === l, lit(0)).otherwise(
        least(lit(255.0), greatest(lit(0.0),
          round((x - l) * lit(255.0) / (h - l))))
          .cast("int"))
    })
  }

  /** The index's list projection — assignment under `cents`, codes
    * quantized+packed under the `ba` bounds geometry: the ONE
    * definition the build, the append, and the streamed-ingest
    * equality gate (q128) all share, so "what a list row is" cannot
    * drift between the write paths. */
  private[graft] def quantized(docs: DataFrame, idCol: String, vecCol: String,
                               cents: DataFrame, ba: DataFrame): DataFrame =
    // the regime count is a K-row read (every caller hands a
    // materialized/at-rest centroid table); above the two-level
    // threshold assignment routes through the supercell structure
    // (round 19) — the shared kernel keeps build, append and the
    // streamed-ingest equality gate on one selection
    IVF.assignAuto(docs, idCol, vecCol, cents, cents.count().toInt)
      .crossJoin(broadcast(ba))
      .select(col(idCol).as("id"),
        sqPackNative(quantCodes(col(vecCol), col("lo"), col("hi"))).as("code"),
        col("cid"))

  /** Build + persist the SQ8 index: full-precision centroids (the
    * probe structure — K rows), per-dimension bounds (dim rows), and
    * the quantized inverted lists (one parquet file per cid via the
    * write-side repartition — the postings-write discipline). CREATE
    * semantics like [[IVF.writeIndex]]: replaces whatever lived at
    * the path. */
  def writeIndex(docs: DataFrame, idCol: String, vecCol: String,
                 k: Int, path: String): Unit = {
    // CREATE also clears the sibling exactly-once ledger: a fresh
    // index inheriting a dead stream's applied set would silently
    // skip legitimate batches. The requant ([[rebuildIndex]]) goes
    // through [[writeTables]] directly — maintenance must PRESERVE
    // the ledger, and never-deleting beats any save/restore (which
    // would carry a crash window between the wipe and the restore).
    graft.FileTree.delete(IVF.appendLedger(path))
    writeTables(docs, idCol, vecCol, k, path)
  }

  /** The data write [[writeIndex]] (CREATE) and [[rebuildIndex]]
    * (maintenance) share: replace the index tables at `path`,
    * touching nothing else. */
  private def writeTables(docs: DataFrame, idCol: String, vecCol: String,
                          k: Int, path: String): Unit = {
    graft.FileTree.delete(new java.io.File(path))
    val cents = IVF.centroids(docs, idCol, vecCol, k)
    val b = bounds(docs, vecCol)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    b.write.mode("overwrite").parquet(s"$path/bounds")
    // quantize against the JUST-WRITTEN table, not the lazy sample
    // plan: parquet doubles are bit-exact, the full-corpus LCG window
    // does not re-run per consumer (quantized reads the quantizer
    // more than once), and the build uses literally the bytes it
    // persisted — the same artifact every later append assigns under
    quantized(docs, idCol, vecCol,
        docs.sparkSession.read.parquet(s"$path/centroids"),
        boundsArrays(b))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
  }

  /** REQUANTIZATION — the drift-triggered rebuild ([[appendToIndex]]'s
    * clamp fraction fired): fresh bounds, fresh centroids, fresh codes
    * from the full-precision source of truth, because codes are lossy
    * and the index can never re-derive itself. This is the SQ twin of
    * [[IVF.writeIndexFrom]]'s live rebuild, and it carries the SAME
    * delete-awareness: the rebuild sources from the CORPUS TABLE,
    * which knows nothing about the deletes the live index is hiding —
    * a raw [[writeIndex]] over it would resurrect every tombstoned id
    * through the maintenance op most likely to run fleet-wide (the
    * upgrade-resurrection class q163/q177 closed on the append paths).
    * So the standing sidecar is captured FIRST (materialized — the
    * CREATE below destroys the files it lives in) and anti-joined out
    * of the rebuild input: physical removal rides the rewrite,
    * forgotten stays forgotten, and the fresh index legitimately
    * starts with no sidecar. Geometry changes wholesale, so prior
    * generations cannot serve under the new bounds — requantization
    * is CREATE semantics by design and standing pins fail loudly at
    * scan time (their files are gone), never silently pair old codes
    * with new bounds. */
  def rebuildIndex(docs: DataFrame, idCol: String, vecCol: String,
                   k: Int, path: String): Unit = {
    val spark = docs.sparkSession
    val live = new java.io.File(path).isDirectory
    // the IVF.compactIndex in-flight-append guard: a requant that
    // folds a half-promoted ingest batch (the rebuild re-embeds the
    // corpus, which already holds the batch's docs) would hand its
    // re-delivery a double-write
    if (live) graft.streaming.ExactlyOnce.refuseInflight(path, "SQ.rebuildIndex")
    val src =
      if (!live) docs
      else Tombstones.hide(spark, Tombstones.ofLists(IVF.listsPath(path)), docs,
        on = Some(idCol), materialize = true)
    // MAINTENANCE on a live index, not a new index: the sibling
    // exactly-once ledger is PRESERVED by never touching it — wiping
    // the committed-batch markers with the lists would turn the next
    // crash's re-delivery of an already-committed batch into a second
    // append on top of a rebuild that already holds its docs (the
    // silent duplication the ledger exists to stop), and a
    // save/restore around the wipe would still carry a crash window
    // between the delete and the restore.
    writeTables(src, idCol, vecCol, k, path)
  }

  /** INCREMENTAL maintenance of the SQ8 index: assign a delta batch
    * against the STANDING quantizer and quantize it under the
    * STANDING bounds — the bounds are part of the index's geometry,
    * so an append must not move them (re-deriving bounds per batch
    * would silently re-scale every previously-written code). Values
    * outside the standing [lo, hi] clamp to the edge codes; the
    * RETURNED clamped-element fraction is the re-quantization
    * trigger's input (the SQ twin of [[IVF.needsRefine]]'s skew and
    * [[GraphAnn.needsReroute]]'s occupancy): distribution drift shows
    * up as out-of-range mass, and past a threshold the index needs a
    * fresh-bounds rebuild from the full-precision source of truth
    * (codes are lossy — the index can never re-derive itself). Two
    * delta passes: one aggregate for the clamp fraction, one
    * assign + quantize + append write (one new file per touched
    * list, the q84/q87 append discipline). Maintenance-path cost,
    * never a query's.
    *
    * RE-INGEST REVIVES — the [[IVF.appendToIndex]] discipline on the
    * shared sidecar: the SQ lists live under the SAME delete
    * sidecar IVF's delete writes, so a delta id that was tombstoned
    * earlier must force the deferred [[IVF.compactIndex]] FIRST
    * (clearing the entry alone would resurrect the old code next to
    * the new one; leaving it would anti-join the new code away — a
    * delete silently outliving the data it names). The probe is a
    * directory read on the never-deleted common case, a
    * request-sized semi-join otherwise; compaction moves codes,
    * never geometry (centroids and bounds stand), so the quantizer
    * this append reads is unchanged by the flip. */
  def appendToIndex(spark: SparkSession, path: String,
                    delta: DataFrame, idCol: String, vecCol: String): Double = {
    if (IVF.hasRevives(spark, path, delta, idCol))
      IVF.compactIndex(spark, path)
    val cents = spark.read.parquet(s"$path/centroids")
    val ba = boundsArrays(spark.read.parquet(s"$path/bounds"))
    val oobFrac = clampFraction(delta, vecCol, ba)
    quantized(delta, idCol, vecCol, cents, ba)
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid")
      .parquet(IVF.listsPath(path)) // the LIVE lists generation
    oobFrac
  }

  /** The clamped-element fraction of `delta` against the standing
    * bounds — the requant trigger's input, shared by both append
    * paths so the drift signal can never diverge between them. */
  private def clampFraction(delta: DataFrame, vecCol: String,
                            ba: DataFrame): Double = {
    val lohi = zip_with(col("lo"), col("hi"), (l, h) => struct(l.as("l"), h.as("h")))
    val oobRow = delta.crossJoin(broadcast(ba))
      .select(
        size(filter(zip_with(col(vecCol), lohi,
          (x, lh) => x < lh.getField("l") || x > lh.getField("h")), b => b))
          .cast("long").as("oob"),
        size(col(vecCol)).cast("long").as("n"))
      .agg(sum(col("oob")).cast("double").as("o"), sum(col("n")).cast("double").as("t"))
      .head()
    if (oobRow.getDouble(1) == 0.0) 0.0
    else oobRow.getDouble(0) / oobRow.getDouble(1)
  }

  /** [[appendToIndex]] with EXACTLY-ONCE semantics under streaming
    * re-delivery — [[graft.streaming.ExactlyOnce.append]] over the
    * IVF list layout (same ledger, stage root and live lists as
    * [[graft.search.IVF.appendToIndexIdempotent]]). The landing step
    * computes the clamp fraction before the staged write and returns
    * it like the raw append; a skipped duplicate returns 0.0 — its
    * first delivery already fed the requant trigger, and re-counting
    * a re-delivered batch's clamps would double-charge the drift
    * signal. */
  def appendToIndexIdempotent(spark: SparkSession, path: String,
                              delta: DataFrame, idCol: String,
                              vecCol: String, batchId: Long): Double =
    IVF.appendOnce(path, batchId)(0.0) { stageIn =>
      if (IVF.hasRevives(spark, path, delta, idCol))
        IVF.compactIndex(spark, path)
      val cents = spark.read.parquet(s"$path/centroids")
      val ba = boundsArrays(spark.read.parquet(s"$path/bounds"))
      val oobFrac = clampFraction(delta, vecCol, ba)
      val stage = stageIn(new java.io.File(path))
      quantized(delta, idCol, vecCol, cents, ba)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(stage.getPath)
      graft.streaming.ExactlyOnce.Landing(stage,
        new java.io.File(IVF.listsPath(path)), oobFrac)
    }

  /** Multi-query SQ8 search WITHOUT the coarse IVF structure (full
    * quantized scan) — the form q48's recall surface probes, because
    * it isolates the QUANTIZATION dial from the probe dial: one scan
    * quantizes and ADC-scores every query through the fused kernel,
    * per-query top-`rerank` candidates through the bounded heap,
    * exact re-score from the full-precision vectors (an
    * O(queries × rerank)-row broadcast join), per-query top-k.
    * `rerank = k` measures raw ADC ordering; `rerank > k` measures
    * how much exact margin repairs. Ranked by
    * [[Search.rankTopPerQuery]]. */
  def sqMultiTopK(docs: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"need rerank >= k, got rerank=$rerank k=$k")
    val ba = boundsArrays(bounds(docs, vecCol))
    val qs = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
    val cand = docs.crossJoin(broadcast(ba))
      .select(col(idCol).cast("long").as("id"),
        sqPackNative(quantCodes(col(vecCol), col("lo"), col("hi"))).as("code"),
        col("lo"), col("hi"))
      .crossJoin(broadcast(qs))
      .select(col("qid"), col("id"),
        sqAdcNative(col("code"), col("lo"), col("hi"), col("__qv")).as("__adc"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("id"), col("__adc"), rerank).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").as("id"))
      // O(queries × rerank) rows: checkpointed so the id collect and
      // the pairing join don't each re-run the corpus-sized ADC scan
      .localCheckpoint()
    // candidate ids are contract-bounded (≤ queries × rerank): pushed
    // into the fetch scan as an In predicate, paired per query by the
    // broadcast join
    val ids = cand.select(col("id")).distinct()
      .as(org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    val candQ = cand.join(qs, "qid")
    Search.rankTopPerQuery(docs.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
        .filter(col("id").isin(ids: _*))
        .join(broadcast(candQ), "id")
        .select(col("qid"), col("id"), dot(col("__v"), col("__qv")).as("score")), "id", k)
      .withColumnRenamed("id", idCol)
  }

  /** The candidate stage of [[searchIndex]]: rank centroids for the
    * query (K-row broadcast), scan the `nprobe` best lists (a cid
    * partition filter — only those bytes leave disk), ADC-score each
    * candidate code through the fused kernel, keep the `rerank` best
    * by (adc desc, id asc) via the bounded heap. */
  private[graft] def adcCandidates(spark: SparkSession, path: String,
                                   qv: Seq[Double], nprobe: Int,
                                   rerank: Int): DataFrame =
    adcCandidatesAt(spark, path, IVF.listsPath(path), qv, nprobe, rerank)

  /** [[adcCandidates]] against an explicit lists generation — the
    * live pointer resolve happens in the caller, so a pinned reader
    * ([[searchIndexPinned]]) can keep scanning the generation it
    * captured while compaction flips the pointer underneath. The
    * tombstone hide pairs the GENERATION with its own path-keyed
    * sidecar (the grace-window contract): a superseded generation's
    * codes hide under the delete set that generation carried. */
  private def adcCandidatesAt(spark: SparkSession, path: String, lp: String,
                              qv: Seq[Double], nprobe: Int,
                              rerank: Int): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val ba = boundsArrays(spark.read.parquet(s"$path/bounds"))
    val probes = IVF.probeCells(spark.range(1).select(typedLit(qv).as("__qv")), "__qv",
      cents, nprobe)
    // tombstoned ids are hidden from the candidate scan (IVF's delete
    // sidecar — shared layout, shared hide), so a deleted code can
    // never reach the re-rank between delete and compaction
    Tombstones.hide(spark, Tombstones.ofLists(lp), spark.read.parquet(lp))
      .join(broadcast(probes), "cid") // becomes a partition filter on cid
      .crossJoin(broadcast(ba))
      .select(col("id"),
        sqAdcNative(col("code"), col("lo"), col("hi"), col("__qv")).as("__adc"))
      .orderBy(col("__adc").desc, col("id").asc)
      .limit(rerank)
  }

  /** MULTI-QUERY search over the persisted SQ8 index — ONE pruned
    * scan of the quantized lists serves every query (the
    * [[IVF.searchIndexMulti]] contract on the SQ8 layout). The query
    * batch is collected on the driver once; [[IVF.probePairs]] scans
    * the centroids and returns each query's `nprobe` cids (queries ×
    * nprobe pairs on the driver); the lists scan is filtered to the
    * UNION of probed cids (static partition filter), every surviving
    * code is ADC-scored against the queries probing its cell (the
    * pairs broadcast as a local table) through the fused kernel,
    * per-query top-`rerank` candidates come off the bounded heap, and
    * ONE exact point-fetch (the union of all queries' candidate ids
    * as an `In` predicate on the source scan) re-scores them
    * full-precision before [[Search.rankTopPerQuery]]. The exchange
    * carries O(queries × rerank) rows; the fetch reads
    * O(queries × rerank) source rows. */
  def searchIndexMulti(spark: SparkSession, path: String,
                       source: DataFrame, idCol: String, vecCol: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int, nprobe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"need rerank >= k, got rerank=$rerank k=$k")
    val cents = spark.read.parquet(s"$path/centroids")
    val ba = boundsArrays(spark.read.parquet(s"$path/bounds"))
    val batch = Search.queryBatch(queries, qidCol, qvecCol)
    val pairs = IVF.probePairs(cents, batch, nprobe)
    val cids = pairs.map(_._2).distinct.sorted
    val probes = spark.createDataFrame( // queries × nprobe rows
      java.util.Arrays.asList(pairs.map { case (q, c) =>
        Row(batch.qidOf(q), batch.vecs(q).toSeq, c) }: _*),
      StructType(Seq(StructField("qid", batch.qidType),
        StructField("__qv", ArrayType(DoubleType, containsNull = false)),
        StructField("cid", LongType, nullable = false))))
    val lp = IVF.listsPath(path) // one pointer read
    val cand = Tombstones.hide(spark, Tombstones.ofLists(lp), // deletes hidden here too
        spark.read.parquet(lp)
          .filter(col("cid").isin(cids: _*))) // union of probed cells
      .join(broadcast(probes), "cid")
      .crossJoin(broadcast(ba))
      .select(col("qid"), col("id"),
        sqAdcNative(col("code"), col("lo"), col("hi"), col("__qv")).as("__adc"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("id"), col("__adc"), rerank).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").as("id"))
      // O(queries x rerank) rows: checkpointed so the id collect and
      // the pairing join don't each re-run the pruned ADC scan
      .localCheckpoint()
    val ids = cand.select(col("id")).distinct()
      .as(org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    val qs = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qv"))
    val candQ = cand.join(qs, "qid")
    Search.rankTopPerQuery(source.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
        .filter(col("id").isin(ids: _*)) // pushed: point fetch by id
        .join(broadcast(candQ), "id")
        .select(col("qid"), col("id"), dot(col("__v"), col("__qv")).as("score")), "id", k)
      .withColumnRenamed("id", idCol)
  }

  /** Search the persisted SQ8 index: [[adcCandidates]] over the
    * pruned lists, then re-score EXACTLY from the full-precision
    * `source` table. The candidate ids are contract-bounded
    * (≤ rerank), so they collect to the driver — the routing-table /
    * MMR-candidate discipline — and re-enter as an `In` predicate
    * PUSHED INTO the source scan: the re-rank is a point fetch
    * (parquet min/max row-group pruning on the id column), not a
    * corpus scan wearing a broadcast join, ranked by
    * [[Search.rankTop]] — [[searchIndexPinned]] on the live
    * generation. */
  def searchIndex(spark: SparkSession, path: String,
                  source: DataFrame, idCol: String, vecCol: String,
                  query: DataFrame, queryVecCol: String,
                  k: Int, nprobe: Int, rerank: Int): DataFrame =
    searchIndexPinned(spark, path, IVF.currentGeneration(path), source, idCol, vecCol,
      query, queryVecCol, k, nprobe, rerank)

  /** [[searchIndex]] against a PINNED lists generation instead of the
    * CURRENT pointer — the quantized family's snapshot-isolation read
    * ([[IVF.searchIndexPinned]]'s SQ8 twin). The SQ8 index versions
    * only its LISTS: geometry (centroids + bounds) is standing by
    * contract — deletion never moves it, appends quantize under it,
    * and requantization is a rebuild — so the pin is the lists half
    * of [[IVF.currentGeneration]], paired at scan time with that
    * generation's own sidecar. A pin whose files have been GC'd fails
    * loudly at scan time, never silently serves a mixed snapshot. */
  def searchIndexPinned(spark: SparkSession, path: String,
                        gen: (String, String),
                        source: DataFrame, idCol: String, vecCol: String,
                        query: DataFrame, queryVecCol: String,
                        k: Int, nprobe: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"need rerank >= k, got rerank=$rerank k=$k")
    import spark.implicits._
    val qv = query.select(col(queryVecCol).cast("array<double>"))
      .as[Seq[Double]].head()
    val ids = adcCandidatesAt(spark, path, s"$path/${gen._1}", qv, nprobe, rerank)
      .select(col("id").cast("long")).as[Long].collect().toSeq
    if (ids.isEmpty)
      return source.select(col(idCol), lit(0L).as("rank"),
        lit(0.0).as("score")).limit(0)
    Search.rankTop(source
        .select(col(idCol).as("id"), col(vecCol).as("__v"))
        .filter(col("id").isin(ids: _*)) // pushed: point fetch by id
        .select(col("id"), dot(col("__v"), typedLit(qv)).as("score")), "id", k)
      .withColumnRenamed("id", idCol)
  }
}
