package graft.search

import graft.Tombstones
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition graph ANN (SURVEY §2 R2 option (c), the deferred
  * fourth path next to LSH / IVF / PQ): each partition builds an
  * NSW-style proximity graph over ITS vectors with mapPartitions —
  * the one operator family where per-partition imperative logic is
  * the honest design, matching how FAISS/HNSW shards compose — then
  * greedy beam search inside every partition yields candidate sets
  * that merge through an EXACT re-score into the global top-k.
  *
  * Scale shape: the graph never leaves its partition (no shuffle to
  * build), a query broadcast-fans out to all partitions, and the
  * exchange carries only O(partitions × ef) candidate rows into a
  * bounded-heap top-k. At 100 TB each partition is a segment file's
  * worth of vectors (the standard "one graph per segment, merge by
  * re-score" layout of Lucene-style vector search); recall per probe
  * cost beats list-pruning when lists are unbalanced because beam
  * search adapts to local density.
  *
  * The AT-REST index additionally routes: parts are CONTENT cells,
  * not id-hash buckets — a deterministic coarse quantizer ([[IVF]]'s
  * LCG-sampled centroids) assigns every vector to its best
  * inner-product cell, one NSW graph is built per cell, and the
  * routing table rides with the index. A query scores the routing
  * vectors (a parts-sized driver table, the nprobe discipline) and
  * beam-searches only its top-P cells — a PARTITION-PRUNED scan that
  * reads P/parts of the corpus off disk. This is the
  * coarse-quantizer-over-per-cell-graphs layout of SPANN/DiskANN-
  * style sharded vector search: IVF decides WHERE to look, the NSW
  * graph decides HOW to look inside each cell.
  *
  * Determinism: nodes insert in ascending-id order, neighbor lists
  * and beams break score ties by lowest id, so the same partition
  * content always yields the same graph and candidates; the FINAL
  * ranking re-scores candidates exactly, so output order is as
  * deterministic as Search.topK over the candidate union. The result
  * is NOT SQL-replayable (graph construction is iterative and
  * partition-local), so this path is spec-gated (GraphAnnSpec pins
  * recall floors vs exact), ✗-marked in SURVEY like S7/M9.
  *
  * Not the reference's HNSW (hnswlib via FAISS,
  * `src/pipeline/pipeline_mode.py:217-223`) — a single-layer NSW per
  * partition with beam search, which preserves the navigable-graph
  * recall behavior the reference tunes with efSearch while staying
  * dependency-free and deterministic.
  */
object GraphAnn {

  /** One partition's navigable graph: adjacency lists over local row
    * indices, built by INCREMENTAL insertion — each new node beam-
    * searches the graph-so-far for its m nearest reachable neighbors
    * and links bidirectionally (neighbor lists trimmed back to m by
    * score). Insertion order is ascending id, entry point is the
    * first row. */
  private[graft] type Adjacency = Array[scala.collection.mutable.ArrayBuffer[Int]]

  private[graft] def buildGraph(vecs: Array[Array[Double]],
                                 m: Int, efC: Int): Adjacency = {
    val nbrs: Adjacency = Array.fill(vecs.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    insertFrom(vecs, nbrs, 1, m, efC)
    nbrs
  }

  /** HNSW's neighbor-selection heuristic (Malkov & Yashunin 2018,
    * Algorithm 4), similarity form: walk candidates best-first and
    * KEEP c only if it is closer to the node than to every
    * already-kept neighbor (sim(c, node) > sim(c, kept)) — an edge
    * must open a new direction, not duplicate one. Closest-only
    * selection saturates neighbor lists with mutually-near points on
    * clustered corpora (measured: 0.85 recall on a 16-cluster
    * near-clique corpus, identical at every probe — the beam, not
    * the routing, was the loss; the heuristic restores it, see
    * GraphAnnSpec's clustered case). Skipped candidates backfill in
    * closeness order if fewer than m survive (keepPrunedConnections).
    * Deterministic: candidates arrive (score desc, id asc), the keep
    * test is exact arithmetic. */
  private def selectDiverse(vecs: Array[Array[Double]], node: Array[Double],
                            cands: Seq[(Int, Double)], m: Int): Seq[Int] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    val it = cands.iterator
    while (kept.length < m && it.hasNext) {
      val (c, simToNode) = it.next()
      if (kept.forall(k => simToNode > dot(vecs(c), vecs(k)))) kept += c
    }
    if (kept.length < m) {
      val have = kept.toSet
      cands.iterator.filter { case (c, _) => !have.contains(c) }
        .take(m - kept.length).foreach { case (c, _) => kept += c }
    }
    kept.toSeq
  }

  /** Insert nodes `from until vecs.length` into a graph already built
    * over `0 until from` (shared by [[buildGraph]], which starts at 1
    * over an empty graph, and [[appendToIndex]], which starts at the
    * existing part size). Because [[buildGraph]] itself inserts in
    * ascending index order, inserting a sorted suffix here is
    * IDENTICAL to having built the whole array from scratch — the
    * bit-for-bit append ≡ rebuild contract GraphAnnSpec pins. */
  private[graft] def insertFrom(vecs: Array[Array[Double]], nbrs: Adjacency,
                                from: Int, m: Int, efC: Int): Unit = {
    // node→neighbor similarity cache, parallel to nbrs: an overflow
    // trim re-sorts from these cached values instead of recomputing
    // m dot products against the node per overflow (the scores are
    // the identical dot(a, j) values, so selection is unchanged —
    // this only removes the m·dim recompute from every trim).
    // Existing adjacency (the append path) fills lazily, once.
    val simsCache =
      new Array[scala.collection.mutable.ArrayBuffer[Double]](vecs.length)
    def sims(a: Int): scala.collection.mutable.ArrayBuffer[Double] = {
      var sc = simsCache(a)
      if (sc == null) {
        sc = nbrs(a).map(j => dot(vecs(a), vecs(j)))
        simsCache(a) = sc
      }
      sc
    }
    def link(a: Int, b: Int): Unit = {
      val buf = nbrs(a)
      if (!buf.contains(b)) {
        val sc = sims(a)
        buf += b
        sc += dot(vecs(a), vecs(b))
        if (buf.length > m) {
          // re-select m diverse neighbors (heuristic trim — dropping
          // the single farthest keeps near-clique duplicates and
          // strands beams on clustered data)
          val sorted = buf.indices.map(i => (buf(i), sc(i)))
            .sortBy { case (j, s) => (-s, j) }
          val sel = selectDiverse(vecs, vecs(a), sorted, m)
          val score = sorted.toMap
          buf.clear(); buf ++= sel
          sc.clear(); sc ++= sel.map(score)
        }
      }
    }
    var i = math.max(from, 1)
    while (i < vecs.length) {
      val found = searchGraph(vecs, nbrs, vecs(i), efC, i)
      selectDiverse(vecs, vecs(i),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(found), m)
        .foreach { j => link(i, j); link(j, i) }
      i += 1
    }
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** HNSW-style coarse entry layer, flattened: instead of upper graph
    * levels, score every `stride`-th node (⌈√n⌉ landmarks) against
    * the query and descend from the best (ties: lowest index). Same
    * role as the reference HNSW's log-time entry descent
    * (`IndexHNSWFlat(d, M=32)`, `src/pipeline/pipeline.py:126-129`):
    * the beam starts near the query's neighborhood instead of at
    * node 0, cutting hops on large partitions for O(√n) extra dots.
    * Deterministic, and search-time only — graphs are built with the
    * fixed entry so the at-rest artifact is unchanged.
    *
    * WHY NOT THE FULL MULTI-LEVEL DESCENT (the one structural gap vs
    * the reference's HNSW): a log-time descent needs a proximity
    * GRAPH at every level — upper levels of id-strided landmarks have
    * no edges, so the only navigation over them is the linear scan
    * this layer already does. Materializing level graphs would change
    * the at-rest artifact for a win that only exists in very large
    * single cells: the flat layer costs ⌈√n⌉ extra dots vs
    * ~m·log₂(n) for HNSW's descent, crossing over around
    * √n ≈ m·log₂(n) — n ≈ 30k nodes per cell at m=8. The builder
    * sizes cells at ~[[graft.RetrievalQueries.graphTargetPart]] (500)
    * nodes (more data → more cells, never bigger ones), and
    * occupancy-triggered rerouting ([[needsReroute]]/
    * [[refreshRouting]]) re-partitions drifted indexes long before
    * any cell grows 60×, so the flat layer is the cheaper side of the
    * crossover everywhere the engine operates; GraphAnnSpec's
    * forced-large-cell A/B pins that it still holds recall at 10×
    * the target cell size. */
  private[graft] def landmarkEntry(vecs: Array[Array[Double]],
                                   q: Array[Double], limit: Int): Int = {
    if (limit <= 0) return 0
    val stride = math.max(1, math.ceil(math.sqrt(limit.toDouble)).toInt)
    var best = 0
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < limit) {
      val s = dot(vecs(i), q)
      if (s > bestS) { bestS = s; best = i }
      i += stride
    }
    best
  }

  /** Greedy best-first beam search from `entry` over the first `limit`
    * nodes: expand the best unexpanded candidate, keep a beam of the
    * ef best seen, stop when the beam's worst beats every frontier
    * node. Returns (index, score) sorted by (score desc, index asc). */
  private[graft] def searchGraph(vecs: Array[Array[Double]],
                                  nbrs: Adjacency,
                                  q: Array[Double], ef: Int,
                                  limit: Int, entry: Int = 0): Array[(Int, Double)] = {
    if (limit <= 0) return Array.empty
    val visited = new java.util.BitSet(limit)
    // frontier: max-heap by score (ties: lowest index first)
    val ord = Ordering.by[(Int, Double), (Double, Int)] { case (i, s) => (s, -i) }
    val frontier = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](ord)
    val beam = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](ord.reverse)
    def consider(i: Int): Unit = if (!visited.get(i)) {
      visited.set(i)
      val s = dot(vecs(i), q)
      frontier.enqueue((i, s))
      beam.enqueue((i, s))
      if (beam.size > ef) beam.dequeue()
    }
    consider(if (entry >= 0 && entry < limit) entry else 0)
    var continue = true
    while (continue && frontier.nonEmpty) {
      val (best, bestScore) = frontier.dequeue()
      if (beam.size >= ef && bestScore < beam.head._2) continue = false
      else {
        nbrs(best).foreach(j => if (j < limit) consider(j))
        // implicit CHAIN BACKBONE: every node also reaches its id
        // neighbors i±1. Proximity links alone can disconnect — a
        // clique of exact-duplicate vectors fills each member's
        // trimmed neighbor list with fellow copies and strands the
        // entry component (surfaced by the 10× ScaleProbe corpus,
        // whose id-shifted embedding copies are exact duplicates);
        // the chain keeps the graph navigable from any entry point
        // with zero storage and no effect on the trim heuristic.
        if (best + 1 < limit) consider(best + 1)
        if (best - 1 >= 0) consider(best - 1)
      }
    }
    beam.dequeueAll.toArray.sortBy { case (i, s) => (-s, i) }
  }

  /** Final ranking shared by the in-memory and at-rest paths: sort
    * the candidate union by (score desc, id asc), keep k, emit dense
    * ranks and 6-dp scores (the Search.topK output contract). */
  private def rankTopK(cands: DataFrame, idCol: String, k: Int): DataFrame =
    cands
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Search.wAll.orderBy(col("score").desc, col(idCol).asc)).cast("long"))
      .select(col(idCol), col("rank"), round(col("score"), 6).as("score"))

  /** Graph-ANN top-k: build/search one NSW graph per partition,
    * exact-re-score the per-partition beams, global bounded top-k.
    * `query` must be a ONE-ROW frame (Search.topK contract). Knobs:
    * `m` = max neighbors per node (graph degree), `ef` = search beam
    * width — the efSearch dial of the reference's HNSW config.
    *
    * This ad-hoc path partitions by id hash and scans every
    * partition, unlike the at-rest index's content routing: a
    * one-shot query has no standing quantizer, and training one
    * (sample + Lloyd refinement) costs a multiple of the single scan
    * it would prune. Queries that repeat against the same corpus
    * should build the routed index once ([[writeIndex]]) and serve
    * pruned ([[searchIndex]]). */
  def graphTopK(docs: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, queryVecCol: String,
                k: Int, m: Int = 8, ef: Int = 48): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(m >= 1 && ef >= k,
      s"need m >= 1 and ef >= k, got m=$m ef=$ef k=$k")
    Search.requireIntegralId(docs, idCol, "graphTopK")
    val spark = docs.sparkSession
    import spark.implicits._
    // one query row, bounded driver materialization (same contract as
    // every single-query entry point)
    val qv = query.select(col(queryVecCol).cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val bq = spark.sparkContext.broadcast(qv)
    val src = docs.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    // graph build cost is superlinear in rows-per-partition (each
    // insertion beam-searches the partition's graph-so-far), so an
    // under-parallel scan — a small local file arriving as ONE split —
    // must be spread before building; the id-hash repartition keeps
    // each graph a deterministic function of corpus content. No-op at
    // real scale, where maxPartitionBytes bounds rows per partition.
    val par = spark.sparkContext.defaultParallelism
    val spread = if (src.rdd.getNumPartitions < par)
      src.repartition(par, col(idCol)) else src
    val cands = spread
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        // ascending-id order makes the graph a pure function of the
        // partition's CONTENT, independent of scan row order
        val rows = it.map { case (id, v) => (id, v.toArray) }.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val vecs = rows.map(_._2)
          val graph = buildGraph(vecs, m, efC = ef)
          searchGraph(vecs, graph, bq.value, ef, vecs.length,
              landmarkEntry(vecs, bq.value, vecs.length))
            .iterator.map { case (i, s) => (rows(i)._1, s) }
        }
      }
      .toDF(idCol, "score")
    rankTopK(cands, idCol, k)
  }

  // ------------------------------------------------------------------
  // Persisted graph index (the at-rest twin of graphTopK, the q54/q20
  // discipline applied to the graph path): graph CONSTRUCTION is the
  // superlinear part — each insertion beam-searches the graph-so-far —
  // and rebuilding it inside every query charges an index build to
  // query latency. writeIndex pays that cost once and serializes each
  // partition's nodes WITH their adjacency lists; searchIndex then
  // serves beam searches from the at-rest graph: per-query work is a
  // scan of the index rows + beam search + the O(parts × ef) merge.
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // VERSIONED CELL POOL (round 17 — the per-part-generation layout the
  // SCALE.md upgrade path named): node data lives OUTSIDE the
  // generation roots, one immutable directory per (part, version) —
  //
  //   path/cells/p<P>/v<V>_n<N>/   (part, id, vec, nbrs) parquet,
  //                               N = row count, baked into the name
  //                               so the completeness gate needs no
  //                               meta table read
  //   path/<genroot>/CELLS        one line: the generation's cell
  //                               VISIBILITY VERSION V_c
  //   path/<genroot>/routing, params, delete sidecar   as before
  //
  // A generation resolves part P to the HIGHEST version ≤ its V_c —
  // so a maintenance rewrite that claims version V and rebuilds only
  // the TOUCHED cells carries every untouched part BY REFERENCE (its
  // standing version still resolves), an append COMMITS atomically by
  // replacing the live generation's one-line CELLS file (crash before
  // it leaves only invisible orphan versions — the torn-job-commit
  // window of the old in-place dynamic overwrite is gone
  // structurally), and a PINNED superseded generation keeps resolving
  // its own frozen V_c against the shared pool. Version uniqueness is
  // the same fence-claimed space the generation names use, so a
  // resolution can never tie. Cost shape: an append's driver-side
  // file work is O(touched cells); only full builds and GC walk all
  // parts, and both are O(index) operations by definition.
  // ------------------------------------------------------------------

  private def cellsRoot(idxPath: String) = new java.io.File(idxPath, "cells")

  private val CellDir = "v(\\d+)_n(\\d+)".r

  /** (version, rows, dir) for every at-rest version of `part`. One
    * directory listing — O(versions of that part), never a data
    * read. */
  private def listCellVersions(idxPath: String, part: Int): Seq[(Int, Long, java.io.File)] =
    Option(new java.io.File(cellsRoot(idxPath), s"p$part").listFiles())
      .toSeq.flatten.flatMap { f =>
        f.getName match {
          case CellDir(v, n) if f.isDirectory => Some((v.toInt, n.toLong, f))
          case _ => None
        }
      }

  /** The cell `part` resolves to at visibility version `vc` — the
    * highest at-rest version ≤ vc, None when the part has never had
    * a cell (or only invisible orphans). */
  private def resolveCell(idxPath: String, part: Int,
                          vc: Int): Option[(Int, Long, java.io.File)] =
    listCellVersions(idxPath, part).filter(_._1 <= vc)
      .sortBy(-_._1).headOption

  /** Every part id with at least one at-rest cell version. O(parts)
    * listing — maintenance/full-scan callers only. NOTE: the pool can
    * hold parts beyond a given generation's routing (a refresh can
    * shrink the part count), so generation-scoped readers bound their
    * part range by [[partsOf]], never by this listing. */
  private def listParts(idxPath: String): Seq[Int] =
    Option(cellsRoot(idxPath).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("p"))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("p").toInt).toOption)
      .sorted

  /** The generation's valid part ids — its ROUTING TABLE's `part`
    * column (NOT 0 until the count: Lloyd refinement drops cells
    * whose members all migrate, so part ids can be non-contiguous).
    * A parts-sized collect — full-scan and maintenance callers only;
    * the serving path passes its probed parts explicitly. */
  private val paramsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (Int, Int, Int, Int)]

  /** The generation's one-row params table as (parts, m, efC,
    * replicas) — memoized under the same content-fingerprint rule as
    * [[partIdsOf]]: every append/serve/maintenance entry point reads
    * it, and each uncached read is two driver jobs (footer + head)
    * over an immutable one-row table. Pre-replication params lack the
    * `replicas` column — those indexes were built at the then-default
    * 2× assignment (same back-compat rule as partBeams' routing
    * read). */
  private def paramsOf(spark: SparkSession, root: String): (Int, Int, Int, Int) = {
    val fp = graft.Memo.dirFingerprint(s"$root/params")
    paramsCache.keys
      .filter(k => k._1 == spark && k._2 == root && k._3 != fp)
      .foreach(paramsCache.remove)
    paramsCache.getOrElseUpdate((spark, root, fp), {
      val paramsDf = spark.read.parquet(s"$root/params")
      paramsDf.select(col("parts").cast("int"),
          col("m").cast("int"), col("efC").cast("int"),
          (if (paramsDf.columns.contains("replicas"))
            col("replicas").cast("int") else lit(2)).as("replicas"))
        .as[(Int, Int, Int, Int)](
          org.apache.spark.sql.Encoders.product[(Int, Int, Int, Int)])
        .head()
    })
  }

  private val partIdsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Seq[Int]]

  private def partIdsOf(spark: SparkSession, genRoot: String): Seq[Int] = {
    import spark.implicits._
    // maintenance/gate paths re-read the same generation's routing
    // several times per lifecycle row; the table is immutable once
    // written, so memoize the collected ids under the same
    // content-fingerprint invalidation rule as graft.Memo (a deleted
    // and rebuilt index at the same path re-keys and re-reads)
    val fp = graft.Memo.dirFingerprint(s"$genRoot/routing")
    partIdsCache.keys
      .filter(k => k._1 == spark && k._2 == genRoot && k._3 != fp)
      .foreach(partIdsCache.remove)
    partIdsCache.getOrElseUpdate((spark, genRoot, fp),
      spark.read.parquet(s"$genRoot/routing")
        .select(col("part").cast("int")).as[Int].collect().toSeq.sorted)
  }

  /** The generation's cell visibility version (its `CELLS` file). */
  private[graft] def cellsVersion(genRoot: String): Int = {
    val f = new java.io.File(genRoot, "CELLS")
    require(f.isFile,
      s"GraphAnn: no CELLS visibility file under $genRoot — not a " +
        "versioned-cell-pool graph index (rebuild with GraphAnn.writeIndex)")
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
  }

  /** Atomically replace the generation's CELLS file — an APPEND's
    * commit point (tmp + ATOMIC_MOVE on a filesystem; a conditional
    * small-object PUT on an object store). */
  private def setCellsVersion(genRoot: String, v: Int): Unit = {
    new java.io.File(genRoot).mkdirs()
    val tmp = java.nio.file.Paths.get(s"$genRoot/CELLS.tmp")
    java.nio.file.Files.write(tmp,
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$genRoot/CELLS"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Stage `nodes` (part, id, vec, nbrs) into the pool as version
    * `version` cells — one Spark write partitioned by part, then one
    * driver rename per TOUCHED part (`emptied` parts whose member set
    * vanished get an explicit v<V>_n0 marker, so resolution never
    * falls back to their pre-rewrite members — absence must mean
    * "untouched", not "emptied"). Nothing is visible until the caller
    * commits (CELLS bump or generation flip). Returns (part, n). */
  private def writeCells(nodes: DataFrame, idxPath: String, version: Int,
                         emptied: Set[Int] = Set.empty): Seq[(Int, Long)] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // NOT dot-prefixed: the staging dir is itself read back by the
    // counts job (Spark's hidden-path filtering makes a dot-dir read
    // warn today and is not a contract), and nothing ever lists the
    // index root for parquet, so visibility costs nothing; stale
    // stages from crashed writers sweep with the orphan cells
    val stage = new java.io.File(idxPath, s"stage__cells_v$version")
    graft.FileTree.delete(stage)
    nodes.withColumn("__pdir", col("part"))
      .write.mode("overwrite").partitionBy("__pdir").parquet(stage.getPath)
    val counts = spark.read.parquet(stage.getPath)
      .groupBy(col("__pdir").cast("int").as("part"))
      .agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toSeq
    counts.foreach { case (p, n) =>
      val parent = new java.io.File(cellsRoot(idxPath), s"p$p")
      parent.mkdirs()
      // a same-version debris dir cannot exist (versions are
      // fence-claimed once); clear defensively all the same
      Option(parent.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"v${version}_"))
        .foreach(graft.FileTree.delete)
      java.nio.file.Files.move(
        new java.io.File(stage, s"__pdir=$p").toPath,
        new java.io.File(parent, s"v${version}_n$n").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val present = counts.map(_._1).toSet
    (emptied -- present).foreach { p =>
      val parent = new java.io.File(cellsRoot(idxPath), s"p$p")
      parent.mkdirs()
      Option(parent.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"v${version}_"))
        .foreach(graft.FileTree.delete)
      new java.io.File(parent, s"v${version}_n0").mkdirs()
    }
    graft.FileTree.delete(stage)
    counts
  }

  private lazy val nodesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("part",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("vec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("nbrs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))

  /** The node rows a generation (genRoot, with the index's pool at
    * `idxPath`) resolves for `parts` (None = every part — O(parts)
    * listing, full-scan/maintenance callers only): one multi-path
    * parquet read of exactly the resolved cell directories — path
    * selection IS the partition pruning, no row filter needed.
    * Returns the frame plus the resolved (part → n) completeness
    * map. */
  private def nodesAt(spark: SparkSession, idxPath: String, genRoot: String,
                      parts: Option[Seq[Int]]): (DataFrame, Map[Int, Long]) = {
    val vc = cellsVersion(genRoot)
    val ps = parts.getOrElse(partIdsOf(spark, genRoot))
    val resolved = ps.map(p => resolveCell(idxPath, p, vc)
      .map { case (_, n, dir) => (p, n, dir) }
      .getOrElse(throw new IllegalStateException(
        s"GraphAnn: part $p of generation $genRoot resolves to NO pool " +
          s"cell at visibility version $vc — every routing part must " +
          "resolve (emptied parts carry an n0 marker); the pool lost a " +
          "cell a live or pinned generation still names (GC raced a " +
          "reader, or the pool was modified outside the index protocol)")))
    val dirs = resolved.collect { case (_, n, dir) if n > 0 => dir.getPath }
    val df =
      if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          nodesSchema)
      else spark.read.parquet(dirs: _*)
        .select(col("part").cast("int").as("part"), col("id"), col("vec"),
          col("nbrs"))
    (df, resolved.collect { case (p, n, _) if n > 0 => p -> n }.toMap)
  }

  /** The LIVE generation's node rows of a versioned-pool graph index
    * — the public read for gates, rebuild-equivalence checks and
    * external consumers (the old `tablePath(path, "nodes")` parquet
    * read; the nodes table is no longer one directory). Schema
    * (part, id, vec, nbrs). */
  def nodesDf(spark: SparkSession, path: String): DataFrame = {
    val root = resolveRoot(path)
    nodesAt(spark, indexPathOf(path, root), root, None)._1
  }

  /** [[nodesDf]] against a PINNED generation. */
  def nodesDfPinned(spark: SparkSession, path: String, gen: String): DataFrame =
    nodesAt(spark, path, pinnedRoot(path, gen), None)._1

  /** (part, n) occupancy of the live generation, from the cell-pool
    * listing — parts-sized, no data read (what the old `meta` table
    * recorded; maintenance polls and gates read it). */
  def cellCounts(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val root = resolveRoot(path)
    val idx = indexPathOf(path, root)
    val vc = cellsVersion(root)
    partIdsOf(spark, root).flatMap(p => resolveCell(idx, p, vc)
      .collect { case (_, n, _) if n > 0 => p -> n })
  }

  /** The pool lives at the INDEX path even when the live generation
    * is a `gen__vN` subdirectory — peel the generation suffix. */
  private def indexPathOf(path: String, root: String): String =
    if (root == path) path
    else new java.io.File(root).getParentFile.getPath

  /** Delete every cell version not resolved by any of `keepRoots`'
    * visibility versions — the pool half of generation GC (the
    * directory half is [[graft.Generations.commit]]). Orphans from crashed
    * appends (versions above every kept V_c) sweep too: the claim
    * protocol guarantees the caller's own fresh version is the
    * maximum, and a re-delivered batch re-stages under a NEW claim,
    * never reuses an orphan. O(parts) listing — maintenance-time
    * only. */
  /** The ONE per-part keep predicate both GC paths share (round 18 —
    * the round-17 divergence was exactly this rule existing twice):
    * for each surviving (visibility version, valid part range), keep
    * that generation's own resolution of `p` — the newest at-rest
    * version ≤ its V_c — iff `p` is in its routing. */
  private def keepFor(p: Int, versions: Seq[(Int, Long, java.io.File)],
                      keeps: Seq[(Int, Set[Int])]): Set[Int] =
    keeps.flatMap { case (vc, valid) =>
      if (!valid.contains(p)) None
      else versions.filter(_._1 <= vc).sortBy(-_._1).headOption.map(_._1)
    }.toSet

  private def gcCells(spark: SparkSession, idxPath: String,
                      keepRoots: Seq[String]): Unit = {
    // keep is PER GENERATION: each kept root keeps the resolutions of
    // ITS OWN routing's part range at ITS visibility version (a
    // refresh can shrink the part count — the live generation must
    // not keep alive parts only the superseded routing knew)
    val keeps = keepRoots.map(r =>
      (cellsVersion(r), partIdsOf(spark, r).toSet))
    listParts(idxPath).foreach { p =>
      val versions = listCellVersions(idxPath, p)
      val keep = keepFor(p, versions, keeps)
      versions.filterNot(v => keep.contains(v._1))
        .foreach(v => graft.FileTree.delete(v._3))
      if (keep.isEmpty)
        graft.FileTree.delete(new java.io.File(cellsRoot(idxPath), s"p$p"))
    }
  }

  /** Delete every pool version ABOVE the live visibility version —
    * uncommitted orphans from a crashed append (nothing above the
    * live V_c can be committed: committed appends bump it, committed
    * maintenance flips to a generation whose V_c is its claim).
    * Every maintenance rewrite runs this after claiming its version
    * and before staging, so a later flip can never make a crashed
    * partial batch resolvable. O(parts) listing — maintenance-time
    * only; an append sweeps just its own touched parts. */
  private def sweepOrphanCells(idxPath: String, vcLive: Int): Unit = {
    listParts(idxPath).foreach { p =>
      listCellVersions(idxPath, p).filter(_._1 > vcLive)
        .foreach(x => graft.FileTree.delete(x._3))
    }
    // crashed writers' staging dirs are transient by construction —
    // any standing one belongs to a claim that died before its move
    Option(new java.io.File(idxPath).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("stage__cells_v"))
      .foreach(graft.FileTree.delete)
  }

  /** Lloyd iterations applied to the routing sample: routing quality
    * IS recall under pruning, so the graph index always trains its
    * quantizer — a one-off batch cost charged to the build, like
    * FAISS's coarse-quantizer training. Measured on the test corpus
    * (probe=parts/2, 2× replication): unrefined 0.44, 3 iterations
    * 0.98, 6 iterations 0.92 — over-iterating rebalances cells away
    * from the local structure routing exploits, so 3 is the pin.
    * Shared with the supercell derivation ([[Assign]] owns it). */
  private val RoutingRefineIters = Assign.RoutingRefineIters

  /** Default boundary-replication factor. The round-10 sweep at the
    * LARGEST measured scale point (sf0.1, 8 cells, 50 queries, ef=48)
    * moved this from 2 to 3: at equal probed-cell count (parts/2)
    * recall@10 is 0.918 at R=2 — no headroom over the 0.9 spec
    * floor — vs 0.978 at R=3; matching R=2's recall instead needs
    * probe=3·parts/4, the same bytes scanned (probe/parts × R·n) with
    * more per-query beam searches. 1.5× index bytes at rest buys the
    * ≥0.95 recall target at half-probe serving. */
  private[graft] val DefaultReplicas = 3

  /** Scale-aware serving default — FIXED-COUNT probing (round 17).
    * The pre-17 default probed coverage 1.5, i.e. ceil(1.5·parts/R)
    * cells: a constant FRACTION of the index, which at fleet scale
    * reads half the index per serve. The round-17 fixed-count sweep
    * (Scratch `graphfixed` at commit 87ba306, 50 queries, recall@10
    * vs exact, R=3, ef ∈ {48, 96}) retired the fraction: at 10×
    * (parts=40) recall is BIT-IDENTICAL to the full unpruned scan from P=3 upward
    * (0.944/0.978 — the same values the round-11 coverage sweep
    * measured at coverage 0.75–full), and at 30× (parts=120)
    * likewise from P=3 (0.984/0.992), with even P=2 (coverage 0.05)
    * reading 0.972/0.980. Routing loss at a CONSTANT probe count is
    * zero across the measured decade; the residual recall dial is
    * the beam width ef, not coverage — exactly the SPANN serving
    * shape (probe a fixed count of closest cells).
    *
    * Default therefore: P = 8 (2.7× the measured-flat P=3, full
    * scan below 8 cells) for replicas ≥ 3 indexes — the shipped
    * [[DefaultReplicas]] — PURE FIXED COUNT (round 18). The round-17
    * default still grew the probe linearly beyond 480 cells (a 5%
    * coverage fraction — honest then, because fixed-count was
    * measured only to 120 cells, but a linear-in-N serving term all
    * the same). The round-18 `graphbig` sweeps closed the next two
    * decades: perturbed-copy clustered corpora at 240k vectors /
    * parts = 480 and 750k vectors / parts = 1500 (Scratch `graphbig`
    * at commit 87ba306, 50 queries, recall@10 vs the exact scan, R=3)
    * measure recall
    * 1.0000 at CONSTANT P ∈ {3, 8, 16} × ef ∈ {48, 96} at BOTH
    * rungs — routing loss at a fixed probe count stays zero through
    * two more orders of magnitude of cell count, so the linear guard
    * is deleted: per-serve cell I/O is O(1) in corpus size at the
    * default. The remaining guard is the full-scan floor below 8
    * cells.
    *
    * R = 2 indexes flipped the same round (Scratch `graphfixedr2` at
    * commit 87ba306, the same grid on R=2 indexes at parts ∈ {40,
    * 120, 480}): recall at
    * constant P is FLAT and equal to the full unpruned scan at every
    * rung (0.916/0.960 at 40 cells — the exact round-11 full-scan
    * values, the beam is the ceiling there, not the probe —
    * 0.972/0.982 at 120, and 1.0 from P=8 at 480), so the
    * coverage-1.5 knee bought nothing over fixed P=8 anywhere in the
    * measured envelope. Only R = 1 (no boundary replication — the
    * one shape with no SPANN recall argument, never measured at
    * fixed count) keeps the conservative full scan.
    *
    * The sweeps are perturbed-copy synthetic corpora (the clustered
    * shape); a real corpus with harder boundary structure could need
    * more. The explicit `probeParts` argument on every serve entry
    * point is the documented ESCAPE HATCH (any fixed count, or the
    * full scan via probeParts = parts), and a deployment relying on
    * constant-P at a new decade should run a periodic RECALL CANARY —
    * a sampled exact-scan comparison, exactly the in-query floor q95
    * pins per round — before trusting the default there. */
  private[graft] def autoProbe(parts: Int, replicas: Int): Int =
    if (replicas < 2) parts
    else math.min(parts, 8)

  /** Sentinel for `probeParts`: resolve the probe count from the
    * index's routing table via [[autoProbe]]. */
  val AutoProbe = 0

  /** The index's deterministic routing table: `parts` coarse cells,
    * one (part, rvec) row each — [[IVF.centroids]]' rank-based LCG
    * sample refined by [[IVF.refine]]'s integer-quantized spherical
    * k-means (both deterministic), renamed to the graph index's
    * vocabulary. Public so lifecycle tests and rebuild-equivalence
    * checks can pin "rebuild UNDER THE SAME ROUTING" (the IVF q84
    * contract applied to the graph path). */
  def routingFor(docs: DataFrame, idCol: String, vecCol: String,
                 parts: Int): DataFrame =
    Assign.routingTableFor(docs, idCol, vecCol, parts)

  /** Assign every vector to its `replicas` best inner-product routing
    * cells via the shared [[Assign.topR]] kernel, emitting
    * (id, vec, part). Boundary REPLICATION is SPANN's answer to
    * routed recall: a vector near a cell boundary lives in both
    * cells, so a query probing P cells finds a near neighbor if ANY
    * of the neighbor's cells is among them — recall per byte scanned
    * beats widening P over single-assigned cells (measured on the
    * test corpus: probe=2 of 8 at 2× replication ≥ 0.9 recall where
    * single assignment needs probe=5). Ties resolve to the lowest
    * part, so assignment is deterministic.
    *
    * At `parts` ≥ [[Assign.TwoLevelMinParts]] the kernel routes
    * two-level through the supercell tables — O(N × √parts) flops
    * with no parts-sized broadcast (round 19; the build-side twin of
    * the round-18 serving sidecars). `tables` passes an index's
    * PERSISTED sidecars in (the append/revive paths); a build derives
    * them once and persists them for exactly that reuse. */
  private def assignParts(docs: DataFrame, idCol: String, vecCol: String,
                          routing: DataFrame, replicas: Int,
                          parts: Int = -1,
                          tables: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(replicas >= 1 && replicas <= 4,
      s"replicas must be in 1..4, got $replicas")
    Assign.topR(docs, idCol, vecCol,
      routing.select(col("part").cast("int").as("part"),
        col("rvec").cast("array<double>").as("rvec")),
      replicas, parts, tables)
  }

  /** An index generation's persisted supercell sidecars as the
    * (supers, members) pair [[Assign.topR]] takes — None for flat
    * (below-threshold or legacy) generations, which either stay on
    * the flat fold or re-derive deterministically. */
  private def superTablesAt(spark: SparkSession,
                            root: String): Option[(DataFrame, DataFrame)] =
    if (!new java.io.File(s"$root/routing2c").isDirectory) None
    else Some((
      spark.read.parquet(s"$root/routing2c")
        .select(col("spart").cast("int").as("spart"),
          col("srvec").cast("array<double>").as("srvec")),
      spark.read.parquet(s"$root/routing2")
        .select(col("spart").cast("int").as("spart"),
          col("part").cast("int").as("part"),
          col("rvec").cast("array<double>").as("rvec"))))

  /** Build one NSW graph per CONTENT cell of `docs` and persist the
    * result at `path` as a self-contained parquet index. Routing
    * vectors are the deterministic LCG-sampled coarse centroids
    * ([[routingFor]]); see [[writeIndexWith]] for the layout. */
  def writeIndex(docs: DataFrame, idCol: String, vecCol: String,
                 m: Int, efC: Int, parts: Int, path: String,
                 replicas: Int = DefaultReplicas): Unit = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    writeIndexWith(routingFor(docs, idCol, vecCol, parts),
      docs, idCol, vecCol, m, efC, path, replicas)
  }

  /** Build the index under a CALLER-SUPPLIED routing table (the
    * [[IVF.writeIndexFrom]] twin): the deployed shape trains the
    * coarse quantizer once and keeps it fixed while the corpus grows,
    * so append ≡ rebuild is pinned AGAINST THE SAME ROUTING. Layout:
    *
    *   path/nodes   — (id, vec, nbrs: array<long>) partitioned by
    *     `part` = the vector's best inner-product routing cell;
    *   path/routing — (part, rvec, replicas) the coarse quantizer,
    *     read per query to choose the top-P cells (driver-sized by
    *     contract; `replicas` rides along so serving learns the
    *     replication factor from the same read);
    *   path/meta    — (part, n) node counts, the completeness guard
    *     searchIndex enforces when a scan split ever halves a part;
    *   path/params  — (parts, m, efC) so append re-derives the SAME
    *     degree bound and beam width (an append under different knobs
    *     would silently produce a different graph family).
    *
    * Adjacency is stored as GLOBAL id lists (sorted), so the artifact
    * is row-order-free; searchGraph's result is invariant to
    * neighbor-list order (every neighbor of an expanded node is
    * considered). Two sessions build bit-identical indexes: routing
    * is deterministic, assignment is a pure fold, and nodes insert in
    * ascending-id order per cell.
    *
    * `replicas` = 2 (default) stores each vector in its TWO best
    * cells — SPANN's boundary replication: 2× index bytes buys the
    * routed-recall floor at a small probe count (the candidate merge
    * collapses duplicate finds). `replicas` = 1 is the plain IVF
    * assignment for storage-constrained deployments.
    *
    * Scale shape: each part is a segment-sized graph (the Lucene/
    * FAISS shard layout); the build shuffles the corpus ONCE by part
    * and writes in place. More data → more cells (the caller sizes
    * `parts` from corpus size), never bigger ones. */
  def writeIndexWith(routing: DataFrame, docs: DataFrame,
                     idCol: String, vecCol: String,
                     m: Int, efC: Int, path: String,
                     replicas: Int = DefaultReplicas): Unit = {
    // CREATE semantics for a direct build at this path: a leftover
    // CURRENT pointer (plus its generation dirs and cell pool) from a
    // prior index would otherwise shadow or pollute the tables this
    // build is about to write — readers would resolve stale state
    // instead of the new index
    graft.Generations.reset(generations(path))
    graft.FileTree.delete(cellsRoot(path))
    // a pre-pool index at this path left partitioned nodes/meta
    // tables the v2 layout never reads — dead bytes a long-lived
    // memoized path would otherwise carry forever
    graft.FileTree.delete(new java.io.File(s"$path/nodes"))
    graft.FileTree.delete(new java.io.File(s"$path/meta"))
    // a leftover phase-1 delete sidecar from a prior index at this
    // path would silently hide legitimate ids from the fresh index —
    // CREATE semantics clear it unconditionally
    Tombstones.clear(Tombstones.inRoot(path))
    // ...and a prior incarnation's exactly-once append ledger: stale
    // committed-batch markers would make the fresh index silently
    // SKIP legitimate re-used batch ids (the ledger twin of the
    // stale-sidecar class — the ghost hides NEW data)
    graft.FileTree.delete(appendLedger(path))
    writeIndexInto(routing, docs, idCol, vecCol, m, efC,
      idxPath = path, genRoot = path, version = 1, replicas = replicas)
  }

  /** The build kernel [[writeIndexWith]] and the staged in-place
    * rebuilds share: cells land in `idxPath`'s pool at `version`
    * (invisible until committed), the generation tables (routing,
    * params, CELLS) land under `genRoot`. */
  private def writeIndexInto(routing: DataFrame, docs: DataFrame,
                             idCol: String, vecCol: String,
                             m: Int, efC: Int, idxPath: String,
                             genRoot: String, version: Int,
                             replicas: Int): Unit = {
    Search.requireIntegralId(docs, idCol, "GraphAnn.writeIndex")
    val spark = docs.sparkSession
    import spark.implicits._
    // the routing table is parts-sized — its count is a Spark job,
    // never a collect
    val parts = routing.count().toInt
    require(parts >= 1, s"routing table is empty under $idxPath")
    val routed = routing.select(col("part").cast("int").as("part"),
      col("rvec").cast("array<double>").as("rvec"),
      lit(replicas).as("replicas"))
    // derive the supercell tables ONCE (parts >= threshold) and share
    // them between the two-level assignment and the persisted
    // sidecars — one derivation, two consumers, zero drift; the
    // localCheckpoint keeps the super-quantizer k-means from running
    // twice (the tables are cells-sized, never corpus-sized)
    val superTabs =
      if (parts < Assign.TwoLevelMinParts) None
      else {
        val (s0, m0) = Assign.superTables(
          routed.select(col("part"), col("rvec")), parts)
        Some((s0.localCheckpoint(), m0.localCheckpoint()))
      }
    val nodes = assignParts(docs, idCol, vecCol, routed, replicas,
        parts, superTabs)
      // co-locate each part in one task (a task may hold several
      // parts — grouped in-iterator below — but never half a part)
      .repartition(parts, col("part"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).iterator.flatMap { case (part, rows0) =>
          // ascending-id order: the graph is a pure function of the
          // part's CONTENT (same contract as the in-memory path)
          val rows = rows0.sortBy(_._1)
          val vecs = rows.map(_._2.toArray)
          val graph = buildGraph(vecs, m, efC)
          rows.indices.iterator.map { i =>
            (part, rows(i)._1, rows(i)._2,
              graph(i).toArray.map(j => rows(j)._1).sorted.toSeq)
          }
        }
      }
      .toDF("part", "id", "vec", "nbrs")
    // a FULL build owns every part of its routing: parts the
    // assignment left empty get explicit n0 markers, so this
    // generation's resolution can never fall back to an older era's
    // cell for them (part ids from the routing table — refinement
    // can drop cells, leaving non-contiguous ids)
    val partIds = routed.select(col("part")).distinct()
      .as[Int](org.apache.spark.sql.Encoders.scalaInt).collect().toSet
    writeCells(nodes, idxPath, version, emptied = partIds)
    routed.orderBy("part")
      .coalesce(1).write.mode("overwrite").parquet(s"$genRoot/routing")
    writeRouting2(genRoot, parts, superTabs)
    Seq((parts, m, efC, replicas)).toDF("parts", "m", "efC", "replicas")
      .coalesce(1).write.mode("overwrite").parquet(s"$genRoot/params")
    setCellsVersion(genRoot, version)
  }

  // ------------------------------------------------------------------
  // TWO-LEVEL ROUTING (round 18): at fleet scale the routing table is
  // itself corpus-proportional (parts = ⌈N/cell⌉ — ~10⁸ rows / ~10 GB
  // at 10⁹ vectors × R=3), so even the round-17 DISTRIBUTED routing
  // scan reads O(parts) rows per serve. SPANN's answer is an in-memory
  // index over the centroids; the relational analog is the same
  // LCG+refine quantizer ONE LEVEL UP: ⌈√parts⌉ SUPERCELLS over the
  // routing vectors, each routing cell REPLICATED into its 2 nearest
  // supercells (the boundary-replication recall argument, applied to
  // cells instead of vectors). A serve then scans the ⌈√parts⌉-row
  // supercell table, keeps each query's top-S supercells, and scans
  // ONLY their member rows — a genuine `spart` partition filter, so
  // per-serve routing bytes are O(S·√parts) instead of O(parts).
  // Engaged at parts ≥ TwoLevelMinParts so every spec-scale index
  // (≤ 120 cells) keeps the flat scan and its bit-pinned gates; the
  // selection is bit-identical to the flat scan whenever every true
  // top-P cell has a probed supercell (GraphAnnSpec pins exact
  // equality on a 160-cell clustered corpus; the graphbig sweep
  // measures it at 480/1500 cells).
  // ------------------------------------------------------------------

  /** Flat-scan ceiling: routing tables at or above this part count
    * get the supercell sidecars — and, since round 19, two-level
    * BUILD assignment. Spec-scale indexes stay flat. One constant,
    * owned by [[Assign]]. */
  private[graft] val TwoLevelMinParts = Assign.TwoLevelMinParts

  /** Supercells per query at serve time — fixed-count, the autoProbe
    * P=8 philosophy one level up (each supercell holds ~2√parts
    * member rows, so 8 supercells offer ≥ 16√parts candidate cells —
    * orders of magnitude above the P=8 cell probe they feed). Shared
    * with the build side ([[Assign]] owns it). */
  private[graft] val SuperProbe = Assign.SuperProbe

  /** Write the supercell sidecars for a generation:
    * `routing2c` — (spart, srvec), ⌈√parts⌉ rows, the serve's
    * first-stage scan; `routing2` — (spart, part, rvec) membership,
    * 2 × parts rows PARTITIONED BY spart (the second stage's
    * partition filter). Both deterministic functions of the routing
    * table ([[Assign.superTables]] — the SAME tables the build's
    * two-level assignment just routed through), so refresh ≡ rebuild
    * equivalence is preserved. No-op below [[TwoLevelMinParts]]. */
  private def writeRouting2(genRoot: String, parts: Int,
                            tables: Option[(DataFrame, DataFrame)]): Unit = {
    // a REBUILD over a root that previously carried supercells must
    // never leave the old sidecars behind (the serve engages on their
    // presence — a stale routing2c would route against dead parts)
    graft.FileTree.delete(new java.io.File(s"$genRoot/routing2c"))
    graft.FileTree.delete(new java.io.File(s"$genRoot/routing2"))
    if (parts < TwoLevelMinParts) return
    val (supers, members) = tables.getOrElse(
      throw new IllegalStateException(
        s"writeRouting2: a $parts-part build reached the sidecar " +
          "write without the supercell tables its assignment used"))
    supers.orderBy("spart").coalesce(1)
      .write.mode("overwrite").parquet(s"$genRoot/routing2c")
    members.repartition(col("spart"))
      .write.mode("overwrite").partitionBy("spart")
      .parquet(s"$genRoot/routing2")
  }

  /** Carry a superseded generation's supercell sidecars into a staged
    * generation that keeps its routing verbatim (compaction / revive —
    * routing unchanged ⇒ the sidecars, pure functions of it, carry
    * too). No-op for flat (below-threshold or legacy) indexes. */
  private def carryRouting2(spark: SparkSession, root: String,
                            out: String): Unit = {
    if (!new java.io.File(s"$root/routing2c").isDirectory) return
    spark.read.parquet(s"$root/routing2c").orderBy("spart").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/routing2c")
    spark.read.parquet(s"$root/routing2")
      .select(col("spart").cast("int").as("spart"),
        col("part").cast("int").as("part"),
        col("rvec").cast("array<double>").as("rvec"))
      .repartition(col("spart"))
      .write.mode("overwrite").partitionBy("spart")
      .parquet(s"$out/routing2")
  }

  /** INCREMENTAL graph-index maintenance — the [[IVF.appendToIndex]]
    * discipline applied to the graph path (the engine's
    * `faiss index.add` for HNSW-family indexes, reference
    * `src/pipeline/pipeline.py:131-134`): route each delta vector
    * through the index's OWN standing routing table, reconstruct
    * only the TOUCHED parts' adjacency, insert the delta nodes with
    * the same beam-search-and-link rule the builder used, and stage
    * just those cells as NEW POOL VERSIONS — untouched parts stay at
    * rest byte for byte, and the batch COMMITS by atomically bumping
    * the live generation's CELLS visibility version (round 17: the
    * in-place dynamic overwrite and its torn-job-commit window are
    * gone structurally — a crash at any point before the bump leaves
    * only invisible orphan versions, and a re-run converges).
    *
    * CONTRACT: every delta id must exceed every id already in the
    * index (enforced per part). New content arriving with fresh,
    * monotonically growing ids is exactly the continuous-ingest shape
    * — and under it, because delta vectors route through the index's
    * OWN standing routing table and [[buildGraph]] inserts in
    * ascending id order, append ≡ from-scratch rebuild over the union
    * corpus UNDER THE SAME ROUTING, BIT FOR BIT (node rows, adjacency
    * lists, and every search answer; GraphAnnSpec pins all three via
    * [[writeIndexWith]] — the IVF q84 contract, where the rebuild
    * target shares the appended index's centroids). Inserting a delta
    * that interleaves with existing ids would yield a different
    * (still navigable) graph than the rebuild, so it is rejected
    * rather than silently weakening the equivalence. */
  def appendToIndex(spark: SparkSession, path0: String,
                    delta: DataFrame, idCol: String, vecCol: String): Unit = {
    import spark.implicits._
    Search.requireIntegralId(delta, idCol, "GraphAnn.appendToIndex")
    // ONE pointer read: the whole append (params, routing, nodes,
    // meta) runs against the generation live at entry — a concurrent
    // refresh flip mid-append cannot split the write across two
    // generations (single maintenance writer is still the contract,
    // as for IVF)
    val path = resolveRoot(path0)
    requireRouted(path, "appendToIndex")
    // REVIVE GUARD — the graph twin of [[IVF.hasRevives]], made LOUD
    // instead of automatic: a tombstoned delta id usually interleaves
    // with existing ids and trips the growing-id require below, but a
    // tombstoned id that happens to exceed its part's max would append
    // SILENTLY HIDDEN (the sidecar anti-joins the new row away and
    // compactTombstones would then drop it — a delete outliving the
    // data it names, the SQ8 round-14 defect on the graph family).
    // The append path cannot revive in place (insertion order is part
    // of the graph's content), so the CDC apply contract routes
    // tombstoned-id upserts through [[reviveToIndex]]. Directory probe
    // when clean, request-sized semi-join otherwise.
    require(!Tombstones.revives(spark, Tombstones.inRoot(path), delta, idCol),
      "GraphAnn.appendToIndex: delta re-ingests tombstoned ids — " +
        "append cannot revive (insertion order is graph content); " +
        "route the upsert through GraphAnn.reviveToIndex")
    val (parts, m, efC, replicas) = paramsOf(spark, path)
    // delta vectors route through the index's OWN standing routing —
    // at two-level scale through its PERSISTED sidecars (re-deriving
    // them would cost a k-means over the cell table per batch for
    // the same bits; a legacy >=128-part index without sidecars
    // re-derives them deterministically inside the kernel)
    val d = assignParts(delta, idCol, vecCol,
      spark.read.parquet(s"$path/routing"), replicas,
      parts, superTablesAt(spark, path))
    // the touched-part list is ≤ parts rows — driver-sized by design
    val touched = d.select(col("part")).distinct().as[Int].collect().sorted
    if (touched.isEmpty) return
    val idx = indexPathOf(path0, path)
    val vc = cellsVersion(path)
    val existing = nodesAt(spark, idx, path, Some(touched.toSeq))._1
      .select(col("part"), col("id"), col("vec"), col("nbrs"),
        lit(false).as("isNew"))
    val union = existing.unionByName(
      d.select(col("part"), col("id"), col("vec"),
        lit(null).cast("array<long>").as("nbrs"), lit(true).as("isNew")))
    val rewritten = union
      .repartition(touched.length, col("part"))
      .as[(Int, Long, Seq[Double], Seq[Long], Boolean)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (part, all) =>
          val (newRows0, oldRows0) = all.partition(_._5)
          val oldRows = oldRows0.sortBy(_._2)
          val newRows = newRows0.sortBy(_._2)
          require(oldRows.isEmpty || newRows.head._2 > oldRows.last._2,
            s"GraphAnn.appendToIndex: delta id ${newRows.head._2} does not " +
              s"exceed existing max id ${oldRows.last._2} in part $part — " +
              "append requires monotonically growing ids (rebuild instead)")
          val rows = oldRows ++ newRows
          val idToIdx = rows.iterator.map(_._2).zipWithIndex.toMap
          val vecs = rows.map(_._3.toArray)
          val adj: Adjacency = rows.map { r =>
            if (r._5) scala.collection.mutable.ArrayBuffer.empty[Int]
            else scala.collection.mutable.ArrayBuffer(r._4.map(idToIdx): _*)
          }
          insertFrom(vecs, adj, oldRows.length, m, efC)
          rows.indices.iterator.map { i =>
            (part, rows(i)._2, rows(i)._3,
              adj(i).toArray.map(j => rows(j)._2).sorted.toSeq)
          }
        }
      }
      .toDF("part", "id", "vec", "nbrs")
    // claim the commit version through the shared fence (the same
    // version space the generation names use — uniqueness is what
    // makes pool resolution unambiguous). A crashed attempt's marker
    // burns its number; its orphan cells stay invisible.
    val (_, v) = claimNextGen(idx, "GraphAnn.appendToIndex")
    // a crashed EARLIER attempt of this logical batch staged cells
    // for these same parts at versions in (vc, v) — they must never
    // become resolvable when CELLS passes them; sweep before writing
    touched.foreach { p =>
      listCellVersions(idx, p).filter(x => x._1 > vc && x._1 < v)
        .foreach(x => graft.FileTree.delete(x._3))
    }
    writeCells(rewritten, idx, v)
    setCellsVersion(path, v) // COMMIT — atomic, all touched cells at once
    graft.Generations.release(generations(idx), v)
    // per-part grace GC: keep the committed version, the immediately
    // superseded LIVE resolution (the one-cycle window for in-flight
    // readers of this generation), AND — the gcCells predicate, which
    // the round-17 shortcut missed — every OTHER surviving
    // generation's own resolution at ITS frozen V_c over ITS routing
    // part range. After a maintenance flip the grace/base generation
    // resolves versions OLDER than the live V_c's predecessor, and a
    // pinned reader holds them for the whole grace cycle (which spans
    // arbitrarily many appends); keeping only the live predecessor
    // deleted those cells on the first post-flip append, silently
    // truncating searchIndexPinned/nodesDfPinned. Drop everything
    // else so an append-only stream never accumulates unbounded
    // superseded cells.
    val liveCanon = new java.io.File(path).getCanonicalPath
    val graceKeeps = survivingGenRoots(spark, idx)
      .filterNot(r => new java.io.File(r._1).getCanonicalPath == liveCanon)
      .map(_._2)
    touched.foreach { p =>
      val versions = listCellVersions(idx, p)
      val keep = Set(v) ++
        versions.filter(_._1 <= vc).sortBy(-_._1).headOption.map(_._1) ++
        keepFor(p, versions, graceKeeps)
      versions.filterNot(x => keep.contains(x._1))
        .foreach(x => graft.FileTree.delete(x._3))
    }
  }

  /** Every standing generation root under the index path that can
    * still RESOLVE cells — a CELLS visibility file AND a readable
    * routing table (paired with each root's (V_c, part range) keep
    * input). A root with CELLS but no readable routing is
    * HALF-DELETED DEBRIS from a crashed generation GC (FileTree
    * deletion order is arbitrary): no reader can serve it
    * (requireRouted fails first), so it contributes nothing to the
    * keep set and is skipped rather than throwing — a crashed sweep
    * must never wedge the append path (round 18; the next maintenance
    * pass collects the debris). Also conservatively includes a
    * crashed writer's orphaned staged generation, whose extra keeps
    * the next [[gcCells]] sweeps. */
  private def survivingGenRoots(spark: SparkSession,
                                idxPath: String): Seq[(String, (Int, Set[Int]))] = {
    (graft.Generations.generationDirs(generations(idxPath)).map(_.getPath) :+ idxPath)
      .filter(r => new java.io.File(r, "CELLS").isFile &&
        new java.io.File(r, "routing").isDirectory)
      .flatMap { r =>
        // recovery is NARROW (round 19): only the debris signatures —
        // an unreadable/empty routing dir (AnalysisException: the
        // parquet files went before the dir) or a torn CELLS write
        // (unparseable version) — are skipped. Any OTHER failure
        // (a transient IO error on a HEALTHY pinned generation's
        // routing) must abort the caller instead of silently
        // dropping that generation from the grace keep set — the GC
        // would then destroy a live pin's cells mid-window.
        try Some((r, (cellsVersion(r), partIdsOf(spark, r).toSet)))
        catch {
          case _: org.apache.spark.sql.AnalysisException => None
          case _: NumberFormatException => None
          // a generation GC'd BETWEEN the listing filter and this
          // read: cellsVersion's own require fires on the vanished
          // CELLS file — the same debris class, racing instead of
          // torn
          case _: IllegalArgumentException => None
        }
      }
  }

  /** The graph family's exactly-once append ledger: committed-batch
    * markers and intents ([[graft.streaming.ExactlyOnce]]) under
    * `<path>/applied__appends`. It lives at the INDEX path, not the
    * generation root: whether a batch was applied must survive
    * generation flips (reviveToIndex/compactTombstones swap gen__vN
    * subdirs under the same index path). */
  def appendLedger(path: String): java.io.File =
    new java.io.File(path, "applied__appends")

  /** [[appendToIndex]] with EXACTLY-ONCE semantics under streaming
    * re-delivery — the [[graft.search.IVF.appendToIndexIdempotent]]
    * contract on the graph family. Round 17's staged cell commit
    * (new pool versions, one atomic CELLS bump) collapsed the
    * recovery to two cases, both CONVERGENT — the per-(part, id)
    * torn-commit gate of the in-place-overwrite era is gone
    * structurally:
    *
    *  - COMMITTED batch (the checkpoint-didn't-land re-delivery, the
    *    common case): the ledger marker skips it before any plan
    *    runs. Without the ledger the growing-id require would reject
    *    the duplicate LOUDLY — the graph family never duplicates
    *    silently — but exactly-once means the drain finishes instead
    *    of needing an operator.
    *  - CRASH MID-APPEND: an INTENT marker (written before the
    *    append, cleared with the commit) tells the re-delivery to
    *    probe before re-appending. Because the append commits ALL
    *    touched cells in one CELLS move, the crashed attempt either
    *    landed the whole batch (crash in the bump→marker window —
    *    every delta id is present; just commit the marker) or none
    *    of it (crash anywhere earlier — only invisible orphan
    *    versions exist, which the re-run's pre-write sweep deletes;
    *    re-append everything). A distinct-id presence count
    *    distinguishes the two; a partial count is impossible by
    *    construction and gates loudly as corruption evidence. The
    *    clean first delivery pays two marker file ops and nothing
    *    else.
    *
    * This also makes maintenance-vs-crashed-append composition
    * convergent: a compaction/refresh that runs between the crash
    * and the re-delivery folds the committed rows (presence probe
    * then finds them — marker-only) or sweeps the orphans (probe
    * finds nothing — clean re-append). The old refuse-while-intent
    * guard is gone with the window it guarded. */
  def appendToIndexIdempotent(spark: SparkSession, path0: String,
                              delta: DataFrame, idCol: String,
                              vecCol: String, batchId: Long): Unit = {
    import spark.implicits._
    import graft.streaming.ExactlyOnce
    val root = resolveRoot(path0)
    val ledger = appendLedger(path0)
    val intent = ExactlyOnce.intent(ledger, batchId)
    if (ExactlyOnce.isApplied(ledger, batchId)) {
      // a crash BETWEEN the commit and the intent delete leaves the
      // intent behind; clear it here so committed batches' intents
      // never accumulate as ledger debris
      java.nio.file.Files.deleteIfExists(intent.toPath)
      return
    }
    val crashed = intent.isFile
    ledger.mkdirs()
    if (!crashed)
      java.nio.file.Files.createFile(intent.toPath)
    val mustAppend =
      if (!crashed) true
      else {
        requireRouted(root, "appendToIndexIdempotent")
        val (nParts, _, _, replicas) = paramsOf(spark, root)
        val dIds = delta.select(col(idCol).cast("long").as("id"))
          .distinct().localCheckpoint()
        val nDelta = dIds.count()
        val touched = assignParts(delta, idCol, vecCol,
            spark.read.parquet(s"$root/routing"), replicas,
            nParts, superTablesAt(spark, root))
          .select(col("part")).distinct().as[Int].collect().sorted
        val present = nodesAt(spark, indexPathOf(path0, root), root,
            Some(touched.toSeq))._1
          .select(col("id")).join(dIds, Seq("id"), "left_semi")
          .distinct().count()
        require(present == 0L || present == nDelta,
          s"GraphAnn.appendToIndexIdempotent: batch $batchId shows " +
            s"$present of $nDelta ids present — a partial batch is " +
            "impossible under the atomic CELLS commit; the pool has " +
            "been modified outside the append protocol")
        present == 0L
      }
    // re-resolve through the INDEX path (the pool lives there, and a
    // maintenance flip between the probe and here is excluded by the
    // single-writer contract)
    if (mustAppend && !delta.isEmpty)
      appendToIndex(spark, path0, delta, idCol, vecCol)
    ExactlyOnce.commit(ledger, batchId)
    java.nio.file.Files.deleteIfExists(intent.toPath)
  }

  /** Occupancy skew of a persisted graph index: max / mean of the
    * per-cell node counts — read from the cell-pool LISTING (parts
    * dir stats, no data scan; the counts are baked into the cell
    * directory names). The routing-drift signal a maintenance job
    * polls, the graph twin of [[IVF.needsRefine]]'s list balance. */
  def cellSkew(spark: SparkSession, path: String): Double = {
    val ns = cellCounts(spark, path).map(_._2.toDouble)
    require(ns.nonEmpty, s"graph index at $path has no occupied cells")
    ns.max / (ns.sum / ns.length)
  }

  /** Reroute trigger: content drift concentrates new vectors in a few
    * cells (the routing table is fixed at deployment while the corpus
    * grows — q97's contract), so cell occupancy skews, per-cell graphs
    * grow super-linearly, and routed recall decays toward whatever the
    * stale quantizer covers. Fire when max/mean passes `maxSkew`. */
  def needsReroute(spark: SparkSession, path: String, maxSkew: Double): Boolean =
    cellSkew(spark, path) > maxSkew

  // ---------- generations: the IVF CURRENT-pointer contract ----------

  /* The graph index carries [[IVF]]'s versioned-generation contract:
    * a generation is ONE consistency unit — the four tables
    * (nodes/routing/meta/params) one build wrote together, since
    * nodes are partitioned under the exact routing they were assigned
    * with. An index that has never been refreshed in place lives at
    * the BASE layout (the four tables directly under `path`, no
    * pointer — generation name ""); each in-place [[refreshRouting]]
    * stages a complete new index under `path/gen__vN/` and commits it
    * with the ordered flip of the one-line `path/CURRENT` pointer
    * ([[graft.Generations.flip]]). A crash before the flip leaves the old
    * generation serving and the staged one orphaned (re-run; the
    * orphan is GC'd next cycle); a crash after leaves the new one
    * serving — no window straddles old nodes and new routing, the
    * exact mixed-pair state a path-variable swap (the pre-generation
    * q116/q120 shape) could expose to a reader resolving mid-flip.
    * The immediately superseded generation survives ONE further cycle
    * as the in-flight readers' grace window; older generations are
    * GC'd. */
  /** The live generation name — "" for the base layout, `gen__vN`
    * once maintenance has flipped the pointer. This is the PINNABLE
    * handle: a long-running reader resolves it once and serves every
    * query through [[searchIndexPinned]] /
    * [[searchIndexMultiPinned]], keeping a coherent snapshot across
    * any concurrent [[refreshRouting]] flip. Validity is the GC grace
    * window — a pinned generation survives exactly one further
    * maintenance cycle; re-resolve at least once per cycle (the
    * [[IVF.currentGeneration]] snapshot-reader discipline). */
  def currentGeneration(path: String): String =
    graft.Generations.pointer(new java.io.File(path)).getOrElse("")

  private def genRoot(path: String, gen: String): String =
    if (gen.isEmpty) path else s"$path/$gen"

  /** The live root directory with ONE pointer read — every reader and
    * maintenance writer resolves through this so a flip can never be
    * straddled within one operation. */
  private def resolveRoot(path: String): String =
    genRoot(path, currentGeneration(path))

  /** Resolved live path of one index table — for callers outside the
    * search/maintenance surface that read index sidecars directly
    * (e.g. a query gating on `meta` part counts or the `routing`
    * table). One pointer read per call; read the tables of ONE
    * operation through one [[currentGeneration]] pin if consistency
    * across them matters. */
  def tablePath(path: String, table: String): String =
    s"${resolveRoot(path)}/$table"

  // the delete sidecar rides along so a GC'd base layout cannot leak
  // a stale sidecar into a later index at the same path; CELLS so a
  // dead base's visibility version cannot linger
  private val IndexTables =
    Seq("routing", "routing2", "routing2c", "params", Tombstones.RootEntry, "CELLS")

  /** The index's generation family ([[graft.Generations]]): every
    * `gen__vN` root, plus the base layout as generation "" — its
    * table directories and CELLS file are collected once it leaves
    * the grace window (the POOL half of GC is [[gcCells]]). */
  private def generations(path: String): graft.Generations.Family =
    graft.Generations.pointerFamily(path, Seq("gen__v"),
      f => (f.isDirectory && f.getName.startsWith("gen__v")) ||
        IndexTables.contains(f.getName),
      g => if (g.isEmpty) IndexTables else Seq(g))

  /** Derive the next generation name AND acquire the single-writer
    * fence for it in one step ([[graft.Generations.claim]]) — every
    * in-place staging op ([[refreshRouting]], [[compactTombstones]],
    * [[reviveToIndex]], [[upgradeIndex]]) and the append's cell
    * commit go through this, so a same-version race between two
    * writers fails loudly at the loser. Returns (genName, version). */
  private def claimNextGen(path: String, what: String): (String, Int) = {
    val gens = generations(path)
    // appends consume versions WITHOUT creating generation dirs —
    // their commits live in the CELLS files, so the claim must read
    // the standing generations' visibility versions too or a later
    // claim could collide with a committed append's cells
    val cells = (graft.Generations.generationDirs(gens).map(_.getPath) :+ path)
      .flatMap(r => scala.util.Try(cellsVersion(r)).toOption)
    val v = graft.Generations.claim(gens, what, extra = cells)
    (s"gen__v$v", v)
  }

  /** Commit a staged generation: the ordered CURRENT flip, the marker
    * sweep and the directory GC ([[graft.Generations.commit]], keeping
    * `newGen` and the superseded `prevGen`), then the cell-pool GC
    * over the two surviving roots. */
  private def commitGen(spark: SparkSession, path: String, newGen: String,
                        prevGen: String, v: Int, what: String): Unit = {
    graft.Generations.commit(generations(path), v, keep = Seq(newGen, prevGen),
      what, pointer = Some(newGen))
    gcCells(spark, path, Seq(s"$path/$newGen", genRoot(path, prevGen)))
  }

  /** ROUTING REFRESH — [[IVF]]'s q96 retrain discipline applied to the
    * graph index (FAISS users retrain the coarse quantizer on the same
    * drift trigger; the reference rebuilds its in-memory HNSW on
    * distribution shift, `src/pipeline/evaluation.py:84-89`): retrain
    * the routing table on the index's OWN content (each vector read
    * once — replica copies collapse on id) and rebuild the cells under
    * the new quantizer, carrying the build knobs (m/efC/replicas)
    * from the live index so the refreshed index is the same graph
    * family.
    *
    * Because [[routingFor]] and the per-cell build are deterministic
    * functions of CONTENT, refresh ≡ a from-scratch [[writeIndex]]
    * over the union corpus, BIT FOR BIT — the equivalence
    * GraphAnnSpec pins at spec scale (q116/q120 gate the lifecycle
    * with cheap generation/occupancy checks and trust the spec-pinned
    * equivalence — the O(index) bit-identity compare is a spec cost,
    * not a serving-path cost), closing the lifecycle the way q96
    * closes IVF's (append ≡ rebuild is q97's gate; retrain ≡ rebuild
    * is this one's).
    *
    * This overload refreshes IN PLACE: the rebuilt index stages under
    * a fresh `gen__vN` and commits with the atomic CURRENT flip —
    * serving paths, pins, and the append writer all keep pointing at
    * `path` and resolve the new generation on their next pointer
    * read; readers that resolved just before the flip keep a coherent
    * superseded generation for one grace cycle.
    *
    * Scale shape: one partition-parallel scan of the index (the id
    * dedup is one hash shuffle), the routing train (sample + 3 Lloyd
    * iterations), and the build's single part shuffle — a scheduled
    * maintenance job's cost, never a query's. */
  def refreshRouting(spark: SparkSession, path: String, parts: Int): Unit = {
    val prevGen = currentGeneration(path)
    val root = genRoot(path, prevGen)
    val vc = cellsVersion(root)
    val (src, m, efC, replicas) = refreshSource(spark, path, root)
    val (newGen, v) = claimNextGen(path, "GraphAnn.refreshRouting")
    sweepOrphanCells(path, vc)
    writeIndexInto(routingFor(src, "id", "vec", parts), src, "id", "vec",
      m, efC, idxPath = path, genRoot = s"$path/$newGen", version = v,
      replicas = replicas)
    commitGen(spark, path, newGen, prevGen, v, "GraphAnn.refreshRouting")
  }

  /** [[refreshRouting]] into an EXPLICIT new deployment path (no
    * generation mechanics — the caller owns the serving cutover).
    * The source index's live generation is resolved through its own
    * pointer. */
  def refreshRouting(spark: SparkSession, path: String, parts: Int,
                     outPath: String): Unit = {
    val root = resolveRoot(path)
    val (src, m, efC, replicas) =
      refreshSource(spark, indexPathOf(path, root), root)
    writeIndexWith(routingFor(src, "id", "vec", parts), src, "id", "vec",
      m, efC, outPath, replicas)
  }

  /** EMBEDDER-UPGRADE REBUILD IN PLACE — the graph twin of the IVF
    * upgrade recipe (q141/q187: [[IVF.writeIndexFrom]] staged at the
    * SAME path): the caller re-featurized its corpus from text under
    * a new model and hands the new-space vectors here; the index
    * rebuilds completely — fresh routing trained on the new space
    * ([[routingFor]]; old routing vectors live in the OLD feature
    * space and would route the new one arbitrarily), per-cell graphs
    * from scratch, build knobs (m/efC/replicas) carried from the
    * live index so the upgraded index is the same graph family —
    * staged under a fence-claimed `gen__vN` and committed with the
    * ordered CURRENT flip. Serving pins keep the superseded
    * generation for the grace cycle; the ingest drain keeps flowing
    * (its next append resolves the flipped pointer and routes under
    * the new geometry automatically — q193 composes exactly this).
    *
    * FORGOTTEN STAYS FORGOTTEN: ids tombstoned in the live
    * generation are anti-joined out of the upgrade corpus — the
    * upgrade sources from CALLER text, so without this a routine
    * model swap would silently resurrect deleted content (the IVF
    * round-16 writeIndexFrom lesson, applied here). Composes
    * CONVERGENTLY with a crashed idempotent append — no intent guard
    * since round 17: the upgrade's orphan sweep deletes the crashed
    * attempt's invisible cells, and the re-delivery's presence probe
    * then finds either the whole committed batch (marker-only) or
    * none of it (clean re-append). */
  def upgradeIndex(spark: SparkSession, path: String, docs: DataFrame,
                   idCol: String, vecCol: String, parts: Int): Unit = {
    import spark.implicits._
    Search.requireIntegralId(docs, idCol, "GraphAnn.upgradeIndex")
    val prevGen = currentGeneration(path)
    val root = genRoot(path, prevGen)
    requireRouted(root, "upgradeIndex")
    val vc = cellsVersion(root)
    val (_, m, efC, replicas) = paramsOf(spark, root)
    val src = Tombstones.hide(spark, Tombstones.inRoot(root), docs, on = Some(idCol))
    val (newGen, fenceV) = claimNextGen(path, "GraphAnn.upgradeIndex")
    sweepOrphanCells(path, vc)
    writeIndexInto(routingFor(src, idCol, vecCol, parts), src, idCol,
      vecCol, m, efC, idxPath = path, genRoot = s"$path/$newGen",
      version = fenceV, replicas = replicas)
    commitGen(spark, path, newGen, prevGen, fenceV, "GraphAnn.upgradeIndex")
  }

  /** TOMBSTONE DELETE — the right-to-be-forgotten op on the index
    * family whose at-rest structure cannot drop rows in place: a
    * graph node's neighbors POINT AT IT, so removing the row breaks
    * the adjacency of every node that linked to it. The production
    * pattern (FAISS IDMap remove / HNSW soft delete) is two-phase:
    * (1) here, the request-sized id set lands in the delete
    * sidecar of the LIVE generation — served beams exclude
    * tombstoned ids (the k-filling is absorbed by ef ≫ k, the q129
    * over-retrieval argument), while the nodes still participate in
    * NAVIGATION (their edges route traffic — content is hidden
    * immediately, structure is repaired later); (2)
    * [[compactTombstones]] physically removes them. Deleting by id
    * removes EVERY replica copy.
    *
    * The DEFAULT is pure O(request): one sidecar append, no index
    * read, return -1 (round 18 — the present count was the last
    * O(index) pass in a delete path's default). `countPresent = true`
    * additionally returns the count of distinct requested ids present
    * in the index — an OPT-IN column-pruned O(index-ids) scan for
    * callers whose contract gates on it (the declared
    * right-to-be-forgotten rows do; a bulk forget pipeline should
    * not). */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame,
                      idCol: String, countPresent: Boolean = false): Long = {
    val root = resolveRoot(path)
    requireRouted(root, "deleteFromIndex")
    val tomb = ids.select(col(idCol).cast("long").as("id")).distinct()
    Tombstones.record(tomb, Tombstones.inRoot(root))
    if (!countPresent) -1L
    else nodesAt(spark, indexPathOf(path, root), root, None)._1
      .select(col("id")).distinct()
      .join(broadcast(tomb), Seq("id"), "left_semi").count()
  }

  /** PHYSICAL REMOVAL of tombstoned nodes — the second phase: parts
    * holding tombstoned ids rebuild their cell graphs over the
    * REMAINING members (the same ascending-id pure-function-of-
    * content build [[writeIndexWith]] runs, so the compacted index
    * equals a from-scratch rebuild of the corpus-without-them under
    * the same routing, BIT FOR BIT — GraphAnnSpec pins it);
    * untouched parts carry over row-for-row without reading their
    * vectors into a build. The staged generation commits with the
    * atomic CURRENT flip (routing/params carried verbatim, meta
    * recomputed, tombstones NOT carried — the new generation starts
    * clean), the superseded generation surviving one grace cycle
    * exactly like [[refreshRouting]]'s. A no-tombstone index is a
    * no-op. */
  def compactTombstones(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val prevGen = currentGeneration(path)
    val root = genRoot(path, prevGen)
    val tomb = Tombstones.materialized(spark, Tombstones.inRoot(root)) match {
      case Some(t) => t
      case None => return
    }
    val (_, m, efC, _) = paramsOf(spark, root)
    val vc = cellsVersion(root)
    val nodes = nodesAt(spark, path, root, None)._1
    val touched = nodes.join(broadcast(tomb), Seq("id"), "left_semi")
      .select(col("part")).distinct().as[Int].collect().toSet
    val (newGen, fenceV) = claimNextGen(path, "GraphAnn.compactTombstones")
    sweepOrphanCells(path, vc)
    val out = s"$path/$newGen"
    val rebuilt = nodesAt(spark, path, root, Some(touched.toSeq.sorted))._1
      .join(broadcast(tomb), Seq("id"), "left_anti")
      .select(col("part"), col("id"), col("vec").cast("array<double>"))
      .repartition(math.max(1, touched.size), col("part"))
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (part, rows0) =>
          val rows = rows0.sortBy(_._2)
          val vecs = rows.map(_._3.toArray)
          val graph = buildGraph(vecs, m, efC)
          rows.indices.iterator.map(i => (part, rows(i)._2, rows(i)._3,
            graph(i).toArray.map(j => rows(j)._2).sorted.toSeq))
        }
      }
      .toDF("part", "id", "vec", "nbrs")
    // only the TOUCHED cells go through Spark (path-selected scan,
    // per-cell rebuild) and only they are written — every untouched
    // part carries BY REFERENCE: the new generation's visibility
    // version resolves their standing pool cells untouched, no copy
    // of any kind (round 17; the round-16 file-level carry copied
    // bytes). Parts whose member set vanished get explicit empty
    // markers so resolution cannot fall back to their dead members.
    writeCells(rebuilt, path, fenceV, emptied = touched)
    spark.read.parquet(s"$root/routing").orderBy("part").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/routing")
    carryRouting2(spark, root, out)
    spark.read.parquet(s"$root/params").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/params")
    setCellsVersion(out, fenceV)
    commitGen(spark, path, newGen, prevGen, fenceV, "GraphAnn.compactTombstones")
  }

  /** REVIVE — re-ingest of tombstoned ids, the graph family's upsert
    * contract (the [[IVF.appendToIndex]] revive discipline on the
    * index whose append CANNOT absorb old ids: [[appendToIndex]]
    * requires monotonically growing ids per part because insertion
    * order is part of the graph's content, so it rejects tombstoned
    * ids loudly and routes them here). A revive is
    * [[compactTombstones]] WITH THE DELTA FOLDED IN — one staged
    * rewrite instead of compact-then-append, because the rebuild of a
    * touched cell is a pure function of its post-revive MEMBER SET
    * (ascending-id from-scratch build), so folding costs nothing
    * extra and never exposes an intermediate generation:
    *
    *   - every delta id must be tombstoned in the live generation
    *     (the CDC upsert-of-forgotten shape; fresh ids go through
    *     [[appendToIndex]] — a mixed batch splits at the caller);
    *   - touched parts = parts holding tombstoned nodes ∪ parts the
    *     delta routes to (the routed set can differ when the revived
    *     CONTENT changed — old copies drop from their old cells, new
    *     copies insert in their new ones);
    *   - each touched part rebuilds from scratch over
    *     (standing members ∖ tombstoned) ∪ routed delta — ids may
    *     interleave freely, the from-scratch build owns ordering;
    *   - untouched parts carry over row for row without a build;
    *   - the staged generation commits with the atomic CURRENT flip,
    *     starts with a CLEAN sidecar (stay-tombstoned ids are
    *     physically gone, revived ids live), and the superseded one
    *     keeps the grace window.
    *
    * Equivalence contract (GraphAnnSpec pins it): revive ≡
    * [[writeIndexWith]] over (live ∖ tombstoned ∪ delta) under the
    * standing routing, BIT FOR BIT — node rows, adjacency, serves.
    * Cost: the deferred compaction the revive forces anyway (touched
    * cells only), plus the request-sized routing of the delta. */
  def reviveToIndex(spark: SparkSession, path: String,
                    delta: DataFrame, idCol: String, vecCol: String): Unit = {
    import spark.implicits._
    Search.requireIntegralId(delta, idCol, "GraphAnn.reviveToIndex")
    val prevGen = currentGeneration(path)
    val root = genRoot(path, prevGen)
    requireRouted(root, "reviveToIndex")
    val standing = Tombstones.materialized(spark, Tombstones.inRoot(root))
    require(standing.isDefined,
      "GraphAnn.reviveToIndex: index has no tombstones — nothing to " +
        "revive; fresh ids append through GraphAnn.appendToIndex")
    val tomb = standing.get
    // request-sized by contract: the count gate and the routing below
    // share one materialization
    val d0 = delta.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .localCheckpoint()
    require(d0.select(col("id")).distinct().count() == d0.count(),
      "GraphAnn.reviveToIndex: delta carries duplicate ids")
    require(d0.join(tomb, Seq("id"), "left_anti").isEmpty,
      "GraphAnn.reviveToIndex: every delta id must be tombstoned in " +
        "the live generation — fresh ids go through appendToIndex")
    val (nParts, m, efC, replicas) = paramsOf(spark, root)
    val routed = assignParts(d0, "id", "vec",
      spark.read.parquet(s"$root/routing"), replicas,
      nParts, superTablesAt(spark, root))
    val vc = cellsVersion(root)
    val nodes = nodesAt(spark, path, root, None)._1
    // touched = cells with dead rows ∪ cells gaining revived rows —
    // both sets are request-scaled (≤ parts rows each, driver-sized)
    val touched = (nodes.join(broadcast(tomb), Seq("id"), "left_semi")
        .select(col("part")).distinct().as[Int].collect().toSet ++
      routed.select(col("part")).distinct().as[Int].collect().toSet).toSeq
    val (newGen, fenceV) = claimNextGen(path, "GraphAnn.reviveToIndex")
    sweepOrphanCells(path, vc)
    val out = s"$path/$newGen"
    val rebuilt = nodesAt(spark, path, root, Some(touched.sorted))._1
      .join(broadcast(tomb), Seq("id"), "left_anti")
      .select(col("part"), col("id"), col("vec").cast("array<double>"))
      .unionByName(routed.select(col("part"), col("id"), col("vec")))
      .repartition(math.max(1, touched.size), col("part"))
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (part, rows0) =>
          val rows = rows0.sortBy(_._2)
          val vecs = rows.map(_._3.toArray)
          val graph = buildGraph(vecs, m, efC)
          rows.indices.iterator.map(i => (part, rows(i)._2, rows(i)._3,
            graph(i).toArray.map(j => rows(j)._2).sorted.toSeq))
        }
      }
      .toDF("part", "id", "vec", "nbrs")
    // touched cells through Spark; untouched parts carry BY REFERENCE
    // (the compactTombstones discipline — see above)
    writeCells(rebuilt, path, fenceV, emptied = touched.toSet)
    spark.read.parquet(s"$root/routing").orderBy("part").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/routing")
    carryRouting2(spark, root, out)
    spark.read.parquet(s"$root/params").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/params")
    setCellsVersion(out, fenceV)
    commitGen(spark, path, newGen, prevGen, fenceV, "GraphAnn.reviveToIndex")
  }

  /** CDC UPSERT APPLY — the batch router the feed-drain loop calls
    * per micro-batch: ids tombstoned in the live generation REVIVE
    * through [[reviveToIndex]] (the only legal path — [[appendToIndex]]
    * rejects them loudly), everything else APPENDS (the growing-id
    * contract applies to that side as always). One sidecar probe per
    * batch — a directory read on the clean common case, a
    * batch-sized semi-join otherwise. The revive leg runs FIRST, so
    * the same batch's fresh appends land in the generation the
    * revive flipped to (never the superseded one). */
  def applyUpserts(spark: SparkSession, path: String,
                   batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val side = Tombstones.inRoot(resolveRoot(path))
    if (!Tombstones.exists(side)) {
      appendToIndex(spark, path, batch, idCol, vecCol)
      return
    }
    val b = batch.select(col(idCol).cast("long").as(idCol), col(vecCol))
      .localCheckpoint() // batch-sized: the split reads it twice
    val (rev, fresh) = Tombstones.split(spark, side, b, Some(idCol))
    if (!rev.isEmpty) reviveToIndex(spark, path, rev, idCol, vecCol)
    if (!fresh.isEmpty) appendToIndex(spark, path, fresh, idCol, vecCol)
  }

  /** The retrain source every refresh shape shares: the generation's
    * live vectors (replica copies collapse on id — identical (id,
    * vec), so dropDuplicates is content-deterministic) minus the
    * tombstoned set (the rebuild sources from phase-1 nodes that
    * still physically hold them, and the new generation starts with
    * no sidecar — without the anti-join a routine refresh would
    * silently RESURRECT deleted content), plus the live build knobs
    * to carry. */
  private def refreshSource(spark: SparkSession, idxPath: String,
                            root: String): (DataFrame, Int, Int, Int) = {
    import spark.implicits._
    requireRouted(root, "refreshRouting")
    val (_, m, efC, replicas) = paramsOf(spark, root)
    val src0 = nodesAt(spark, idxPath, root, None)._1
      .select(col("id"), col("vec")).dropDuplicates("id")
    (Tombstones.hide(spark, Tombstones.inRoot(root), src0), m, efC, replicas)
  }

  /** The shared index-scan kernel: one pass over the at-rest node
    * rows serves EVERY query in `qvs` — each part's adjacency is
    * reassembled once in its scan task (parts grouped in-iterator;
    * completeness enforced against path/meta so a part file ever
    * split across scan tasks fails loudly instead of silently
    * searching half a graph), then beam-searched per query. Output:
    * (qid, id, score) candidate rows, O(parts × queries × ef) of
    * them. No graph is ever rebuilt.
    *
    * `probeParts` < parts engages ROUTING: each query scores the
    * routing table DISTRIBUTIVELY ([[routeQueriesDf]] — the table is
    * parts = ⌈N/cell⌉ rows, corpus-proportional, so it is scanned,
    * never collected) and keeps its top-P cells (ties: lowest part);
    * the nodes scan is filtered to the UNION of every query's
    * cells — a genuine partition filter on the parquet `part`
    * column, so unprobed cells are never read off disk — and inside
    * a task each cell beam-searches only the queries routed to it. */
  /** Layout guard: a graph index written before content routing
    * (id-hash parts, no `routing` dir) cannot be routed or appended
    * under the standing-quantizer contract — fail with the remedy
    * instead of the raw missing-path AnalysisException the routing
    * read would throw. */
  private def requireRouted(path: String, op: String): Unit =
    require(new java.io.File(s"$path/routing").exists(),
      s"GraphAnn.$op: index at $path has no routing table — its layout " +
        "predates content routing; rebuild it with GraphAnn.writeIndex")

  /** Per-query top-P routing cells, computed DISTRIBUTIVELY — the
    * direction [[IVF.probePairs]] also takes: the
    * routing table is parts = ⌈N/cell⌉ rows, CORPUS-PROPORTIONAL at
    * fleet scale (10⁷–10⁸ full vectors at the 100 TB north star), so
    * it is the scanned side — never collected, never broadcast; the
    * QUERY set is the driver-sized side by the multi-query contract
    * and broadcasts into the scan. Per-query top-P runs through the
    * bounded-heap aggregate — tie order (score desc, part asc), the
    * exact order the pre-round-17 driver-side scan used, and the dot
    * product accumulates left-to-right in both, so the probed cell
    * sets are BIT-IDENTICAL to the old path (GraphAnnSpec pins it) —
    * and the exchange carries O(queries × P) rows: the serve's
    * driver footprint is query-sized regardless of corpus size.
    * Output rows (qid, part). */
  private[graft] def routeQueriesDf(spark: SparkSession, root: String,
                                    qvs: Array[(Long, Array[Double])],
                                    probe: Int): DataFrame = {
    import spark.implicits._
    val qdf = qvs.toSeq.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "__qv")
    // two-level engages only in the FIXED-COUNT regime it was built
    // and measured for (probe ≤ SuperProbe — the autoProbe default):
    // a LARGE probe request (an explicit probeParts override or
    // sweep, an R=1 index's conservative full scan — the knee-era
    // linear defaults are retired) can exceed the top-S supercells'
    // member pool,
    // and the pruned scan would silently return fewer cells than
    // asked — the flat scan serves those exactly. A runtime
    // completeness check inside the two-level path falls back to the
    // flat scan if any query's pool still comes up short (e.g. a
    // degenerate supercell assignment), so under-filled routing can
    // never reach a serve silently.
    if (probe <= SuperProbe &&
        new java.io.File(s"$root/routing2c").isDirectory) {
      val two = routeQueriesTwoLevel(spark, root, qvs, qdf, probe)
      if (two.isDefined) return two.get
    }
    spark.read.parquet(s"$root/routing")
      .select(col("part").cast("long").as("part"),
        col("rvec").cast("array<double>").as("rvec"))
      .crossJoin(broadcast(qdf))
      .select(col("qid"), col("part"),
        graft.functions.VectorF.dot(col("rvec"), col("__qv")).as("__s"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("part"), col("__s"), probe).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").cast("int").as("part"))
  }

  /** [[routeQueriesDf]] through the supercell sidecars (round 18):
    * stage 1 scans the ⌈√parts⌉-row `routing2c` table and keeps each
    * query's top-[[SuperProbe]] supercells (same bounded-heap
    * aggregate, same (score desc, id asc) tie order as the flat
    * scan); the O(queries × S) (qid, spart) pairs come to the driver
    * — within the serve's established query-sized footprint — and
    * their spart UNION prunes stage 2's member scan to a genuine
    * `spart=` partition filter (PlanSpec pins it): only
    * O(queries × S × √parts) member rows leave disk instead of the
    * whole parts-row table. Each member may carry 2 replica rows
    * with identical scores, so the per-(qid, part) max collapses
    * them before the same top-P heap the flat scan runs; selection is
    * therefore BIT-IDENTICAL to the flat scan whenever every true
    * top-P cell has one of its 2 supercells among the query's top-S
    * (GraphAnnSpec pins exact equality at 160 cells; the graphbig
    * sweep measures recall parity at 480/1500). */
  private def routeQueriesTwoLevel(spark: SparkSession, root: String,
                                   qvs: Array[(Long, Array[Double])],
                                   qdf: DataFrame,
                                   probe: Int): Option[DataFrame] = {
    import spark.implicits._
    val rows = twoLevelMemberScan(spark, root, qvs, qdf, probe)
      .as[(Long, Int)].collect()
    // COMPLETENESS NET: the pruned pool must fill every query's
    // top-P exactly (parts >= TwoLevelMinParts > SuperProbe >=
    // probe here, so a full pool always yields `probe` rows). A
    // degenerate supercell assignment (empty supercells, extreme
    // overlap) falls back to the flat scan — exact selection,
    // never a silent under-probe. The collect is O(queries x P),
    // the serve's established driver footprint (partBeams
    // collects this same result next).
    val byQ = rows.groupBy(_._1)
    if (byQ.size == qvs.length && byQ.forall(_._2.length == probe))
      Some(rows.toSeq.toDF("qid", "part"))
    else {
      // the fallback serve is CORRECT but pays both scans — make a
      // degenerate supercell assignment observable in production
      // logs rather than only as doubled routing cost
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"GraphAnn.routeQueriesTwoLevel: supercell-pruned pool " +
          s"under-filled for ${qvs.length - byQ.count(_._2.length == probe)} " +
          s"of ${qvs.length} queries at $root — falling back to the flat " +
          "routing scan (degenerate supercell assignment; consider a " +
          "routing refresh)")
      None
    }
  }

  /** The DISTRIBUTED two-stage plan behind [[routeQueriesTwoLevel]]
    * (stage 1's supercell top-S runs eagerly inside — its
    * O(queries × S) pairs prune stage 2's member scan); exposed so
    * PlanSpec can pin the spart partition filter on the member scan
    * before the completeness collect consumes it. */
  private[graft] def twoLevelMemberScan(spark: SparkSession, root: String,
                                        qvs: Array[(Long, Array[Double])],
                                        qdf: DataFrame,
                                        probe: Int): DataFrame = {
    import spark.implicits._
    val topS = spark.read.parquet(s"$root/routing2c")
      .select(col("spart").cast("long").as("spart"),
        col("srvec").cast("array<double>").as("srvec"))
      .crossJoin(broadcast(qdf))
      .select(col("qid"), col("spart"),
        graft.functions.VectorF.dot(col("srvec"), col("__qv")).as("__s"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("spart"), col("__s"), SuperProbe).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").cast("int").as("spart"))
      .as[(Long, Int)].collect() // O(queries × S) — query-sized
    val byQ = qvs.toMap
    val pairs = topS.toSeq
      .map { case (q, sp) => (q, sp, byQ(q).toSeq) }
      .toDF("qid", "spart", "__qv")
    val sparts = topS.map(_._2).distinct.toSeq.sorted
    spark.read.parquet(s"$root/routing2")
      .filter(col("spart").isin(sparts: _*)) // partition-pruned members
      .select(col("spart").cast("int").as("spart"),
        col("part").cast("long").as("part"),
        col("rvec").cast("array<double>").as("rvec"))
      .join(broadcast(pairs), Seq("spart"))
      .select(col("qid"), col("part"),
        graft.functions.VectorF.dot(col("rvec"), col("__qv")).as("__s"))
      // replica copies of a (qid, part) score identically — collapse
      // before the heap so top-P can never hold a duplicate part
      .groupBy(col("qid"), col("part"))
      .agg(max(col("__s")).as("__s"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("part"), col("__s"), probe).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").cast("int").as("part"))
  }

  private def partBeams(spark: SparkSession, idxPath: String, root: String,
                        qvs: Array[(Long, Array[Double])],
                        ef: Int, probeParts: Int): DataFrame = {
    import spark.implicits._
    val path = root // one RESOLVED generation root: routing, CELLS and
    // the resolved cells below all come from the same consistency unit
    requireRouted(path, "searchIndex")
    val bqs = spark.sparkContext.broadcast(qvs)
    // params is the ONE-ROW knob table (parts, m, efC, replicas) —
    // the occupancy read that used to ride a full routing-table
    // collect. The routing table itself is parts-sized
    // (corpus-proportional at fleet scale) and never reaches the
    // driver: per-query cells come from [[routeQueriesDf]].
    val (parts, _, _, replicas) = paramsOf(spark, path)
    // AutoProbe resolves against the index's own occupancy here, read
    // from the one-row params table
    val probe = if (probeParts == AutoProbe) autoProbe(parts, replicas)
      else probeParts
    val pruned = probe < parts
    val allowed: Map[Long, Set[Int]] =
      if (!pruned) Map.empty
      else routeQueriesDf(spark, path, qvs, probe)
        .as[(Long, Int)].collect()
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val bAllowed = spark.sparkContext.broadcast(allowed)
    val union = allowed.valuesIterator.flatten.toSet.toSeq.sorted
    // cell resolution doubles as the completeness map: the probed
    // parts' pool listings give both the directories to scan (path
    // selection IS the partition pruning — unprobed cells never
    // leave disk) and the expected row counts (baked into the cell
    // dir names — no meta table exists). Driver work is O(probed
    // parts) dir listings; only an EXPLICIT full scan walks all
    // parts — that request is O(index) by definition.
    val (scan, expected) = nodesAt(spark, idxPath, path,
      if (pruned) Some(union) else None)
    val bExpected = spark.sparkContext.broadcast(expected)
    scan
      .as[(Int, Long, Seq[Double], Seq[Long])]
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (part, rows0) =>
          require(rows0.length == bExpected.value.getOrElse(part, -1L),
            s"graph part $part incomplete in this scan task " +
              s"(${rows0.length}/${bExpected.value.getOrElse(part, -1L)} rows): " +
              "a part file was split across tasks — raise " +
              "spark.sql.files.maxPartitionBytes above the largest part file")
          val rows = rows0.sortBy(_._2)
          val idToIdx = rows.iterator.map(_._2).zipWithIndex.toMap
          val vecs = rows.map(_._3.toArray)
          val adj: Adjacency = rows.map(r =>
            scala.collection.mutable.ArrayBuffer(r._4.map(idToIdx): _*))
          val mine = if (bAllowed.value.isEmpty) bqs.value.iterator
            else bqs.value.iterator.filter(q => bAllowed.value(q._1).contains(part))
          mine.flatMap { case (qid, qv) =>
            searchGraph(vecs, adj, qv, ef, vecs.length,
                landmarkEntry(vecs, qv, vecs.length))
              .iterator.map { case (i, s) => (qid, rows(i)._2, s) }
          }
        }
      }
      .toDF("qid", "id", "score") match {
        // collapse replica duplicates: a 2×-replicated vector found in
        // two probed cells yields the same (qid, id) twice with the
        // identical exact score; the aggregate runs over
        // O(parts × queries × ef) candidate rows (bounded by design)
        // and is SKIPPED for replicas = 1 indexes, where no duplicate
        // can exist. Deleted ids are hidden from the candidates BEFORE
        // the top-k (ef ≫ k absorbs them); the nodes still navigate
        // until [[compactTombstones]].
        case beams if replicas == 1 => Tombstones.hide(spark, Tombstones.inRoot(path), beams)
        case beams => Tombstones.hide(spark, Tombstones.inRoot(path),
          beams.groupBy("qid", "id").agg(max("score").as("score")))
      }
  }

  /** Distinct ids in the LIVE generation's tombstone sidecar (0 when
    * none) — sidecar-only, no node bytes. (Distinct, not raw rows:
    * [[deleteFromIndex]] appends each request verbatim, so repeated
    * requests would inflate a raw count.) */
  def tombstoneRows(spark: SparkSession, path: String): Long =
    Tombstones.count(spark, Tombstones.inRoot(resolveRoot(path)), distinct = true)

  /** Compaction trigger on delete accumulation — the graph twin of
    * [[IVF.needsCompact]], read beside [[needsReroute]] (routing
    * drift): true when the sidecar hides more than `maxTombRows`
    * distinct ids. A maintenance job polls it after deletes and
    * schedules [[compactTombstones]] (or lets the next
    * [[refreshRouting]] fold the set, which sources through the
    * tombstone anti-join). */
  def needsCompact(spark: SparkSession, path: String,
                   maxTombRows: Long): Boolean =
    tombstoneRows(spark, path) > maxTombRows

  /** Beam-search a persisted graph index for ONE query (Search.topK
    * output contract): per-query cost is the routed index scan +
    * beams + the O(probeParts × ef) exact-score merge. `probeParts`
    * is the nprobe dial — cells to route to. The default is
    * [[AutoProbe]]: the scale-aware probe count derived from the
    * index's own routing occupancy ([[autoProbe]]); pass
    * `Int.MaxValue` (or `parts`) for an explicit full scan. */
  def searchIndex(spark: SparkSession, path: String, idCol: String,
                  query: DataFrame, queryVecCol: String,
                  k: Int, ef: Int, probeParts: Int = AutoProbe): DataFrame =
    searchIndexPinned(spark, path, currentGeneration(path), idCol,
      query, queryVecCol, k, ef, probeParts)

  /** [[searchIndex]] against a PINNED generation instead of the
    * CURRENT pointer — the snapshot-isolation read (the
    * [[IVF.searchIndexPinned]] contract): answers come from the exact
    * four-table unit captured by [[currentGeneration]], regardless of
    * how many [[refreshRouting]] flips have happened since, within
    * the one-cycle grace window. A pin whose generation has been
    * GC'd fails loudly here, never silently serves a newer graph. */
  def searchIndexPinned(spark: SparkSession, path: String, gen: String,
                        idCol: String, query: DataFrame, queryVecCol: String,
                        k: Int, ef: Int,
                        probeParts: Int = AutoProbe): DataFrame = {
    require(k >= 1 && ef >= k, s"need k >= 1 and ef >= k, got k=$k ef=$ef")
    require(probeParts >= 0, s"probeParts must be >= 0, got $probeParts")
    import spark.implicits._
    val root = pinnedRoot(path, gen)
    val qv = query.select(col(queryVecCol).cast("array<double>"))
      .as[Seq[Double]].head().toArray
    rankTopK(
      partBeams(spark, path, root, Array((0L, qv)), ef, probeParts)
        .select(col("id").as(idCol), col("score")),
      idCol, k)
  }

  /** Resolve a pinned generation's root, failing LOUDLY on an expired
    * pin (a generation two or more maintenance cycles old has been
    * GC'd — the grace-window contract). */
  private def pinnedRoot(path: String, gen: String): String = {
    val root = genRoot(path, gen)
    require(new java.io.File(s"$root/CELLS").isFile,
      s"GraphAnn: pinned generation '${if (gen.isEmpty) "<base>" else gen}' " +
        s"at $path has been GC'd — a pin is valid for one maintenance " +
        "cycle; re-resolve currentGeneration and retry")
    root
  }

  /** Multi-query search over a persisted graph index: ONE index scan
    * serves every query (the multiTopK shape — the query set is the
    * driver-sized side by contract), per-query top-k through the
    * bounded-heap aggregate so the exchange carries
    * O(queries × k) rows. Output (qid, id, rank, score). */
  def searchIndexMulti(spark: SparkSession, path: String, idCol: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int, ef: Int, probeParts: Int = AutoProbe): DataFrame =
    searchIndexMultiPinned(spark, path, currentGeneration(path), idCol,
      queries, qidCol, qvecCol, k, ef, probeParts)

  /** [[searchIndexMulti]] against a PINNED generation — see
    * [[searchIndexPinned]]. */
  def searchIndexMultiPinned(spark: SparkSession, path: String, gen: String,
                             idCol: String, queries: DataFrame, qidCol: String,
                             qvecCol: String, k: Int, ef: Int,
                             probeParts: Int = AutoProbe): DataFrame = {
    require(k >= 1 && ef >= k, s"need k >= 1 and ef >= k, got k=$k ef=$ef")
    require(probeParts >= 0, s"probeParts must be >= 0, got $probeParts")
    import spark.implicits._
    val root = pinnedRoot(path, gen)
    val qvs = queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (qid, v) => (qid, v.toArray) }
    partBeams(spark, path, root, qvs, ef, probeParts)
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("id"), col("score"), k).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").as(idCol), col("__e.rank").as("rank"),
        round(col("__e.score"), 6).as("score"))
  }
}

/** Deterministic clustered test corpus — `nClusters` tight unit-norm
  * clusters of `perCluster` points each (LCG-seeded centers, 0.08
  * noise) — the corpus of GraphAnnSpec's clustered serving case
  * (Scratch `clustdiag` at commit 87ba306 diagnosed this same
  * corpus). Dev/spec fixture only; not part of the query surface. */
private[graft] object ClusteredFixture {
  def rows(dim: Int = 16, nClusters: Int = 16,
           perCluster: Int = 125): Seq[(Long, Seq[Double])] = {
    def lcg(seed: Long): Long =
      seed * 6364136223846793005L + 1442695040888963407L
    def unit(seed: Long): Array[Double] = {
      var s = seed; val v = Array.ofDim[Double](dim)
      var j = 0
      while (j < dim) {
        s = lcg(s)
        v(j) = (s >>> 11).toDouble / (1L << 53).toDouble - 0.5
        j += 1
      }
      val n = math.sqrt(v.map(x => x * x).sum) + 1e-9
      v.map(_ / n)
    }
    (0 until nClusters).flatMap { cIdx =>
      val center = unit(1000L + cIdx)
      (0 until perCluster).map { i =>
        val id = cIdx.toLong * perCluster + i
        val noise = unit(7000L + id)
        val raw = center.zip(noise).map { case (c, e) => c + 0.08 * e }
        val n = math.sqrt(raw.map(x => x * x).sum) + 1e-9
        (id, raw.map(_ / n).toSeq)
      }
    }
  }
}
