package graft

import graft.search.{GraphAnn, IVF, Search}
import org.apache.spark.sql.functions._

/** Per-partition graph ANN: determinism, ranking contract, and the
  * recall floor vs exact — the spec gate for the one search path that
  * is not SQL-replayable (graph construction is iterative and
  * partition-local), mirroring how SURVEY ✗-marks S7/M9. */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def query(id: Long) =
    emb.filter(col("vec_id") === id).select(col("v").as("qv"))

  test("graphTopK returns dense ranks with exact re-scored values") {
    val got = GraphAnn.graphTopK(emb, "vec_id", "v", query(0), "qv", 10)
      .select("vec_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._2) == (1L to 10L))
    // scores are the exact dot products of the returned ids (re-score
    // contract: approximation prunes candidates, never alters scores)
    val exact = Search.topK(emb, "vec_id", "v", query(0), "qv", 200)
      .select("vec_id", "score").as[(Long, Double)].collect().toMap
    got.foreach { case (id, _, s) => assert(exact(id) == s) }
    // the query vector itself must be found (it is its own argmax)
    assert(got.head._1 == 0L)
  }

  test("graphTopK is deterministic run-to-run") {
    def run() = GraphAnn.graphTopK(emb, "vec_id", "v", query(3), "qv", 10)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq
    assert(run() == run())
  }

  test("recall@10 vs exact meets the floor and is competitive with IVF at equal probe cost") {
    val queries = (0L until 5L)
    def recallOf(approx: Long => Seq[Long]): Double = {
      val hits = queries.map { q =>
        val exact = Search.topK(emb, "vec_id", "v", query(q), "qv", 10)
          .select("vec_id").as[Long].collect().toSet
        approx(q).count(exact.contains)
      }.sum
      hits.toDouble / (queries.size * 10)
    }
    val graphRecall = recallOf(q =>
      GraphAnn.graphTopK(emb, "vec_id", "v", query(q), "qv", 10, m = 8, ef = 48)
        .select("vec_id").as[Long].collect().toSeq)
    // IVF at nprobe=2 of 8 lists reads ~1/4 of the corpus — a probe
    // budget comparable to ef=48 beams per partition on this corpus
    val ivfRecall = recallOf(q =>
      IVF.ivfMultiTopK(emb, "vec_id", "v", query(q).withColumn("qid", lit(q)),
          "qid", "qv", 10, 8, 2)
        .select("vec_id").as[Long].collect().toSeq)
    assert(graphRecall >= 0.9, s"graph recall $graphRecall below floor")
    assert(graphRecall >= ivfRecall,
      s"graph recall $graphRecall below IVF nprobe=2 recall $ivfRecall")
  }

  test("exact-duplicate cliques do not strand the search (chain backbone)") {
    // every vector duplicated 10x with shifted ids — the ScaleProbe
    // corpus shape that trapped the pre-chain graph inside the entry
    // point's duplicate clique (9 rows returned, query never found)
    val n = emb.count()
    val dup = (0 until 10).map(c =>
      emb.select((col("vec_id") + lit(c * n)).as("vec_id"), col("v")))
      .reduce(_ union _)
    val got = GraphAnn.graphTopK(dup, "vec_id", "v", query(1), "qv", 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(got.size == 10, s"expected a full top-10, got ${got.size}")
    // the query point and its 9 duplicates all score 1.0 (normalized
    // corpus) and must be exactly the top-10
    assert(got.map(_._1).toSet == (0 until 10).map(c => 1L + c * n).toSet)
  }

  test("graph build links every inserted node (no orphans)") {
    val vecs = (0 until 64).map { i =>
      Array.tabulate(8)(j => math.sin(i * 31 + j * 7).abs + 0.1)
    }.toArray
    val g = GraphAnn.buildGraph(vecs, m = 4, efC = 16)
    (1 until 64).foreach(i => assert(g(i).nonEmpty, s"node $i has no neighbors"))
    // degree bound holds after trimming
    g.foreach(nb => assert(nb.length <= 4))
  }

  test("persisted index serves exact-scored deterministic beams from at-rest adjacency") {
    val path = java.nio.file.Files.createTempDirectory("graphann_spec").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    def run() = GraphAnn.searchIndex(spark, path, "vec_id", query(0), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    val got = run()
    assert(got.map(_._2) == (1L to 10L))
    assert(got.head._1 == 0L) // the query finds itself
    // scores are exact dot products (re-score contract holds at rest)
    val exact = Search.topK(emb, "vec_id", "v", query(0), "qv", 200)
      .select("vec_id", "score").as[(Long, Double)].collect().toMap
    got.foreach { case (id, _, s) => assert(exact(id) == s) }
    // serving is deterministic: the graph is at rest, not rebuilt
    assert(run() == run())
    assert(GraphAnn.searchIndex(spark, path, "vec_id", query(0), "qv", 10, ef = 48)
      .schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("vec_id" -> "bigint", "rank" -> "bigint", "score" -> "double"))
    // every vector lives in several cells; a full-probe serve finds
    // the replicas in their cells and still serves each id once
    assert(GraphAnn.DefaultReplicas > 1)
    val wide = GraphAnn.searchIndex(spark, path, "vec_id", query(0), "qv", 60, ef = 64,
        probeParts = Int.MaxValue)
      .select("vec_id").as[Long].collect().toSeq
    assert(wide.size == 60 && wide.distinct.size == wide.size,
      s"a replicated id was served twice: ${wide.diff(wide.distinct)}")
  }

  test("searchIndexMulti matches per-query searchIndex over the same index") {
    val path = java.nio.file.Files.createTempDirectory("graphann_multi").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val multi = GraphAnn.searchIndexMulti(spark, path, "vec_id",
        qs, "qid", "qv", 10, ef = 48)
      .select("qid", "vec_id", "rank", "score")
      .as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._2)).toMap
    (0L until 3L).foreach { q =>
      val single = GraphAnn.searchIndex(spark, path, "vec_id",
          query(q), "qv", 10, ef = 48)
        .select("vec_id", "rank", "score").as[(Long, Long, Double)]
        .collect().toSeq.sortBy(_._2)
      assert(multi(q) == single, s"multi/single divergence for qid=$q")
    }
  }

  test("q95_graph_recall pins the recall floor in its output rows") {
    val rows = RetrievalQueries.q95GraphRecall(spark, sf0001)
      .select("method", "knob", "recall")
      .as[(String, String, Double)].collect().toSeq
    assert(rows.size == 6 && rows.forall(_._1 == "graph"))
    rows.foreach { case (_, knob, r) =>
      assert(r > 0.0 && r <= 1.0, s"recall $r out of range at $knob") }
    // full-probe ef=48 pins the beam-width floor; the q86 serving
    // config (probe=parts/2) pins the routed floor
    val ef48 = rows.find(_._2.contains("ef=48 probe=8")).get._3
    assert(ef48 >= 0.9, s"ef=48 full-probe recall $ef48 below the 0.9 floor")
    val routed = rows.find(_._2.contains("ef=48 probe=4")).get._3
    assert(routed >= 0.9, s"probe=4 routed recall $routed below the 0.9 floor")
  }

  test("q129 filtered serving: over-retrieval buys back post-filter recall, floors hold") {
    val rows = RetrievalQueries.q129GraphFiltered(spark, sf0001)
      .select("method", "knob", "recall")
      .as[(String, String, Double)].collect().toSeq
    assert(rows.size == RetrievalQueries.filterFactors.size &&
      rows.forall(_._1 == "graph+filter"))
    val byFactor = rows.map(r =>
      "factor=(\\d+)".r.findFirstMatchIn(r._2).get.group(1).toInt -> r._3).toMap
    assert(byFactor.keySet == RetrievalQueries.filterFactors.toSet)
    // the dial's point: post-filtering at factor 1 loses whatever the
    // predicate removes from the beam; widening the beam buys it back
    // (measured 0.86 / 0.96 / 0.96 at sf0.001, 0.78 / 1.0 / 1.0 at
    // sf0.1 — floors leave drift margin)
    assert(byFactor(4) >= byFactor(1), s"over-retrieval dial inverted: $byFactor")
    assert(byFactor(4) >= 0.9, s"factor-4 filtered recall ${byFactor(4)} below floor")
    assert(byFactor(1) >= 0.6, s"factor-1 filtered recall ${byFactor(1)} degenerate")
  }

  test("clustered corpus: a constant small probe reaches near-exact recall (the sub-linear serving regime)") {
    // SCALE.md's serving-cost claim, substantiated: the isotropic
    // testdata forces coverage ~1.5 because i.i.d. neighbors spread
    // uniformly over cells — but on data with cluster structure (the
    // regime content routing exists for) a query's true neighbors
    // concentrate in its own few cells, so a CONSTANT probe, a small
    // and shrinking fraction of parts, holds recall. 16 tight
    // clusters x 125 points, deterministic construction.
    val nClusters = 16; val perCluster = 125
    val docs = graft.search.ClusteredFixture
      .rows(nClusters = nClusters, perCluster = perCluster).toDF("vec_id", "v")
    val path = java.nio.file.Files.createTempDirectory("graphann_clust").toString
    GraphAnn.writeIndex(docs, "vec_id", "v", m = 8, efC = 48,
      parts = nClusters, path)
    // one query per 4th cluster, the cluster's first member
    val qs = docs.filter(col("vec_id") % (4L * perCluster) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
    val exact = Search.multiTopK(docs, "vec_id", "v", qs, "qid", "qv", 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // The routing claim, measured exactly: on clustered data a
    // CONSTANT probe=2 of 16 cells returns the SAME result set as
    // probing every cell — routing prunes 7/8 of the index at ZERO
    // recall cost, because a query's neighbors live in its own
    // cluster's cell(s). At 10x the clusters the constant probe
    // becomes 2 of 160 — the fraction SHRINKS with scale, the
    // property autoProbe's fixed-count default (rounds 17-18) now
    // ships — which is what SCALE.md's serving-regime paragraph
    // claims. (Closest-only neighbor
    // selection used to lose 0.15 here to beam stranding on the
    // near-clique cells, at EVERY probe; the HNSW diversity
    // heuristic — selectDiverse — restored 1.0.)
    def resultAt(probe: Int): Set[(Long, Long)] =
      GraphAnn.searchIndexMulti(spark, path, "vec_id",
          qs, "qid", "qv", 10, ef = 48, probeParts = probe)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(exact.size == 40, s"exact baseline incomplete: ${exact.size}")
    val constant = resultAt(2)
    assert(constant == resultAt(nClusters),
      "probe=2 must equal the full-probe result set on clustered data")
    val recall = (exact & constant).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"clustered-corpus recall $recall (measured 1.0 with the diversity heuristic)")
  }

  test("landmark entry descent: no recall loss vs entry-0 (hierarchical entry A/B)") {
    // driver-side A/B over one partition's worth of real vectors: the
    // √n-landmark descent must not lose recall relative to the fixed
    // entry, and must meet the per-query floor on its own
    val vecs = emb.orderBy("vec_id").select("v")
      .as[Seq[Double]].collect().map(_.toArray)
    val g = GraphAnn.buildGraph(vecs, m = 8, efC = 48)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => p._1 * p._2).sum
    vecs.take(5).foreach { q =>
      val exact = vecs.zipWithIndex
        .map { case (v, i) => (i, dot(v, q)) }
        .sortBy { case (i, s) => (-s, i) }.take(10).map(_._1).toSet
      def top10(entry: Int) =
        GraphAnn.searchGraph(vecs, g, q, 48, vecs.length, entry)
          .take(10).map(_._1).toSet
    val e0 = (top10(0) intersect exact).size
      val lmEntry = GraphAnn.landmarkEntry(vecs, q, vecs.length)
      val lm = (top10(lmEntry) intersect exact).size
      assert(lm >= e0, s"landmark entry lost recall: $lm < $e0")
      assert(lm >= 9, s"landmark-entry recall $lm/10 below floor")
    }
  }

  test("appendToIndex with growing ids equals a same-routing rebuild bit for bit") {
    val n = emb.count()
    val split = 4L * n / 5L
    val pathA = java.nio.file.Files.createTempDirectory("graphann_append").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < split), "vec_id", "v",
      m = 8, efC = 48, parts = 4, pathA)
    GraphAnn.appendToIndex(spark, pathA,
      emb.filter(col("vec_id") >= split), "vec_id", "v")
    // the rebuild target shares the appended index's routing (the
    // quantizer is fixed at deployment; IVF q84's same-centroids
    // contract) — a rebuild that re-trained routing on the union
    // corpus would be a different, also-valid index
    val pathB = java.nio.file.Files.createTempDirectory("graphann_rebuild").toString
    GraphAnn.writeIndexWith(spark.read.parquet(s"$pathA/routing"),
      emb, "vec_id", "v", m = 8, efC = 48, pathB)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("int"), col("id"), col("vec"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Seq[Long])].collect().toSeq.sortBy(_._2)
    assert(nodes(pathA) == nodes(pathB),
      "appended node/adjacency rows diverge from the rebuild")
    // and the served search answers are identical too
    def top(p: String) = GraphAnn.searchIndex(spark, p, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    assert(top(pathA) == top(pathB))
  }

  test("refresh over a deleted-from index never forces a broadcast of the delete sidecar") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val path = java.nio.file.Files.createTempDirectory("graphann_nobc").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    GraphAnn.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") % 9 === 4).select(col("vec_id")), "vec_id")
    object Plans extends AdaptiveSparkPlanHelper
    def sidecarScans(p: SparkPlan) = Plans.collect(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == Tombstones.RootEntry) => s
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      GraphAnn.refreshRouting(spark, path, 4)
      // the listener bus delivers in order: once a sentinel action is
      // seen, every plan of the refresh has been seen too
      spark.range(1).toDF("refresh_sentinel").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!plans.toArray.exists(_.toString.contains("refresh_sentinel")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    assert(all.exists(_.toString.contains("refresh_sentinel")), "listener never caught up")
    assert(all.exists(p => sidecarScans(p).nonEmpty), "the refresh never read the sidecar")
    val forced = all.flatMap(p => Plans.collect(p) { case j: BroadcastHashJoinExec => j })
      .filter(j => sidecarScans(if (j.buildSide == BuildLeft) j.left else j.right).nonEmpty)
    assert(forced.isEmpty, s"the sidecar was broadcast with broadcasts disabled: $forced")
  }

  test("tombstone delete hides ids now; compaction equals rebuild-without-them bit for bit") {
    val path = java.nio.file.Files.createTempDirectory("graphann_del").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val doomed = emb.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val nDoomed = doomed.count()
    // growth valve: silent on a clean index, tracks the distinct
    // standing set after deletes (repeat requests must not inflate it)
    assert(GraphAnn.tombstoneRows(spark, path) == 0L)
    assert(!GraphAnn.needsCompact(spark, path, 0L))
    assert(GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) == nDoomed)
    GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) // repeat request
    assert(GraphAnn.tombstoneRows(spark, path) == nDoomed)
    assert(GraphAnn.needsCompact(spark, path, nDoomed - 1))
    assert(!GraphAnn.needsCompact(spark, path, nDoomed))
    def top(p: String) = GraphAnn.searchIndex(spark, p, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    // phase 1: tombstoned ids never surface, k still fills
    val hidden = top(path)
    assert(hidden.size == 10 && hidden.forall(_._1 % 9 != 4),
      s"tombstoned ids surfaced or k underfilled: $hidden")
    // the hide join is AQE-governed: with broadcast disabled (the
    // over-grown-sidecar degradation) it serves the same answers
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(top(path) == hidden, "shuffle-degraded hide changed answers")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    // phase 2: physical removal — answers unchanged, and the index
    // equals a from-scratch build of the corpus-without-them under
    // the SAME routing
    GraphAnn.compactTombstones(spark, path)
    assert(top(path) == hidden, "compaction changed the served answers")
    val rebuilt = java.nio.file.Files.createTempDirectory("graphann_del_rb").toString
    GraphAnn.writeIndexWith(
      spark.read.parquet(GraphAnn.tablePath(path, "routing")),
      emb.join(doomed, Seq("vec_id"), "left_anti"), "vec_id", "v",
      m = 8, efC = 48, rebuilt)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("int"), col("id"), col("vec"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Seq[Long])].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(nodes(path) == nodes(rebuilt),
      "compacted node/adjacency rows diverge from the rebuild-without-them")
    // compacting a clean index is a no-op (pointer stays)
    val gen = GraphAnn.currentGeneration(path)
    GraphAnn.compactTombstones(spark, path)
    assert(GraphAnn.currentGeneration(path) == gen)
  }

  test("delete default is O(request): -1 return, no cell read, hide identical to the counted path") {
    // round 18: the DEFAULT delete opens no pool cell — one sidecar
    // append, -1 sentinel; the present count is the countPresent=true
    // opt-in pinned by the test above. On the graph family the
    // sidecar content is IDENTICAL either way (the raw distinct
    // request), so hide, compaction and revive semantics are
    // unchanged by the flag.
    val path = java.nio.file.Files.createTempDirectory("graphann_deldef").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val doomed = emb.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val nDoomed = doomed.count()
    val cellSnap = GraphAnn.cellCounts(spark, path).sortBy(_._1)
    assert(GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id") == -1L,
      "the default (no-count) delete must return the -1 sentinel")
    assert(GraphAnn.tombstoneRows(spark, path) == nDoomed,
      "the default delete must land the distinct request in the sidecar")
    assert(GraphAnn.cellCounts(spark, path).sortBy(_._1) == cellSnap,
      "the default hide must not touch pool cells")
    val got = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.size == 10 && got.forall(_ % 9 != 4),
      s"tombstoned ids surfaced under the default delete: $got")
    // the opt-in count over the SAME standing sidecar still reports
    // request∩index (counting is read-only — no second sidecar write
    // semantics change)
    assert(GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id",
      countPresent = true) == nDoomed)
  }

  test("q157 mid-drain delete: delete between appends, then compaction equals rebuild-without-them bit for bit") {
    // the full-strength pin behind q157's parts-sized gates: a delete
    // interleaved between growing-id appends must compose — the
    // post-delete append serves through the standing sidecar, and the
    // deferred compaction equals a from-scratch build of the
    // corpus-without-them under the same routing
    val n = emb.count()
    val split = 4L * n / 5L
    val half = (split + n) / 2L
    val path = java.nio.file.Files.createTempDirectory("graphann_sdel").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < split), "vec_id", "v",
      m = 8, efC = 48, parts = 4, path)
    GraphAnn.appendToIndex(spark, path,
      emb.filter(col("vec_id") >= split && col("vec_id") < half), "vec_id", "v")
    val doomed = emb.filter(col("vec_id") < split && col("vec_id") % 9 === 4)
      .select(col("vec_id"))
    assert(GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true)
      == doomed.count())
    GraphAnn.appendToIndex(spark, path,
      emb.filter(col("vec_id") >= half), "vec_id", "v")
    val served = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    assert(served.forall(id => !(id < split && id % 9 == 4)),
      "a tombstoned id surfaced through the post-delete append")
    GraphAnn.compactTombstones(spark, path)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graphann_sdel_rb").toString
    GraphAnn.writeIndexWith(
      spark.read.parquet(GraphAnn.tablePath(path, "routing")),
      emb.join(doomed, Seq("vec_id"), "left_anti"), "vec_id", "v",
      m = 8, efC = 48, rebuilt)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("int"), col("id"), col("vec"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Seq[Long])].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(nodes(path) == nodes(rebuilt),
      "mid-drain-deleted + compacted rows diverge from the rebuild-without-them")
  }

  test("revive: tombstoned-id re-ingest rebuilds touched cells, equals rebuild-over-union bit for bit; append rejects it loudly") {
    val path = java.nio.file.Files.createTempDirectory("graphann_rev").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val maxId = emb.agg(max(col("vec_id"))).as[Long].head()
    // the request includes the CORPUS MAX id: its re-ingest would pass
    // the growing-id require, so only the revive guard stands between
    // it and a silently-hidden append (the SQ8 round-14 defect shape)
    val doomed = emb
      .filter(col("vec_id") % 9 === 4 || col("vec_id") === maxId)
      .select(col("vec_id"))
    assert(GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true)
      == doomed.count())
    val exMax = intercept[Exception] {
      GraphAnn.appendToIndex(spark, path,
        emb.filter(col("vec_id") === maxId), "vec_id", "v")
    }
    assert(exMax.getMessage.contains("reviveToIndex"),
      s"append of a tombstoned growing id must route to revive: $exMax")
    // revive rejects fresh (never-tombstoned) ids — those are appends
    val exFresh = intercept[Exception] {
      GraphAnn.reviveToIndex(spark, path,
        emb.filter(col("vec_id") === 1).select(col("vec_id"), col("v")),
        "vec_id", "v")
    }
    assert(exFresh.getMessage.contains("must be tombstoned"))
    // the upsert: even members of the 9-class return with CHANGED
    // vectors (the user re-consents with new content), plus the max id
    val revive = emb
      .filter((col("vec_id") % 9 === 4 && col("vec_id") % 2 === 0)
        || col("vec_id") === maxId)
      .select(col("vec_id"), transform(col("v"), x => x * lit(2.0)).as("v"))
    val genBefore = GraphAnn.currentGeneration(path)
    GraphAnn.reviveToIndex(spark, path, revive, "vec_id", "v")
    assert(GraphAnn.currentGeneration(path) != genBefore,
      "a revive must commit through the CURRENT flip")
    assert(!new java.io.File(GraphAnn.tablePath(path, "tombstones"))
        .isDirectory && GraphAnn.tombstoneRows(spark, path) == 0L,
      "the post-revive generation must start with a clean sidecar")
    // THE contract: revive ≡ from-scratch rebuild over
    // (live ∖ tombstoned ∪ revived) under the standing routing
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graphann_rev_rb").toString
    GraphAnn.writeIndexWith(
      spark.read.parquet(GraphAnn.tablePath(path, "routing")),
      emb.join(doomed, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("v")).unionByName(revive),
      "vec_id", "v", m = 8, efC = 48, rebuilt)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("int"), col("id"), col("vec"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Seq[Long])].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(nodes(path) == nodes(rebuilt),
      "post-revive node/adjacency rows diverge from the rebuild-over-union")
    // the serve hides the stay-deleted, fills k, and the revived max
    // id is servable again (query AT its new vector finds it first)
    val served = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    assert(served.size == 10 &&
      served.forall(id => !(id % 9 == 4 && id % 2 == 1 && id != maxId)),
      s"a stay-deleted id surfaced post-revive: $served")
    val qAtRevived = emb.filter(col("vec_id") === maxId)
      .select(transform(col("v"), x => x * lit(2.0)).as("qv"))
    val top1 = GraphAnn.searchIndex(spark, path, "vec_id",
        qAtRevived, "qv", 1, ef = 48)
      .select("vec_id").as[Long].head()
    assert(top1 == maxId, s"the revived id must serve at its new vector, got $top1")
  }

  test("applyUpserts routes a mixed batch: tombstoned ids revive, fresh ids append, one flip, equals rebuild-over-union") {
    val n = emb.count()
    val cut = 4L * n / 5L
    val path = java.nio.file.Files.createTempDirectory("graphann_ups").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < cut), "vec_id", "v",
      m = 8, efC = 48, parts = 4, path)
    val doomed = emb.filter(col("vec_id") < cut && col("vec_id") % 9 === 4)
      .select(col("vec_id"))
    assert(GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true)
      == doomed.count())
    val genBefore = GraphAnn.currentGeneration(path)
    // ONE mixed batch: the even doomed ids return (revive) alongside
    // the brand-new growing tail (append) — the CDC upsert shape
    val mixed = emb.filter(
        (col("vec_id") < cut && col("vec_id") % 9 === 4 &&
          col("vec_id") % 2 === 0) || col("vec_id") >= cut)
      .select(col("vec_id"), col("v"))
    GraphAnn.applyUpserts(spark, path, mixed, "vec_id", "v")
    assert(GraphAnn.currentGeneration(path) != genBefore,
      "the revive leg must flip the generation")
    assert(GraphAnn.tombstoneRows(spark, path) == 0L,
      "the flip must fold the whole sidecar")
    // final state ≡ from-scratch rebuild over union ∖ stay-deleted
    // under the standing routing — the fresh appends must have landed
    // in the FLIPPED generation for this to hold
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graphann_ups_rb").toString
    GraphAnn.writeIndexWith(
      spark.read.parquet(GraphAnn.tablePath(path, "routing")),
      emb.filter(!(col("vec_id") < cut && col("vec_id") % 9 === 4 &&
        col("vec_id") % 2 === 1)),
      "vec_id", "v", m = 8, efC = 48, rebuilt)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("int"), col("id"), col("vec"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Seq[Long])].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(nodes(path) == nodes(rebuilt),
      "mixed-upsert drain diverges from the rebuild-over-union")
    // a clean-sidecar batch takes the pure append fast path (no flip)
    val gen2 = GraphAnn.currentGeneration(path)
    GraphAnn.applyUpserts(spark, path,
      emb.filter(col("vec_id") === n - 1)
        .select(col("vec_id") + n, col("v")).toDF("vec_id", "v"),
      "vec_id", "v")
    assert(GraphAnn.currentGeneration(path) == gen2,
      "a fresh-only batch must not flip the generation")
  }

  test("routine refresh between delete and compaction does not resurrect tombstoned ids") {
    val path = java.nio.file.Files.createTempDirectory("graphann_del_rr").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val doomed = emb.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true)
    // phase 1 only — then a scheduled routing refresh runs first
    GraphAnn.refreshRouting(spark, path, parts = 4)
    val served = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    assert(served.forall(_ % 9 != 4),
      "a tombstoned id came back after refreshRouting")
    // and the refresh removed them PHYSICALLY (rides the rebuild)
    val ids = GraphAnn.nodesDf(spark, path)
      .select(col("id")).as[Long].collect().toSet
    assert(ids.forall(_ % 9 != 4), "tombstoned nodes survived the refresh")
    // the q151 bit-identity pin: refresh-after-tombstone equals the
    // same refresh procedure over an index that never held the
    // deleted ids — routing retrain and cell builds are pure
    // functions of the surviving content
    val cleanPath = java.nio.file.Files
      .createTempDirectory("graphann_del_rr_clean").toString
    GraphAnn.writeIndex(emb.join(doomed, Seq("vec_id"), "left_anti"),
      "vec_id", "v", m = 8, efC = 48, parts = 4, cleanPath)
    GraphAnn.refreshRouting(spark, cleanPath, parts = 4)
    def nodesOf(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("long"), col("id"), col("vec"), col("nbrs"))
    assert(nodesOf(path).exceptAll(nodesOf(cleanPath)).isEmpty &&
        nodesOf(cleanPath).exceptAll(nodesOf(path)).isEmpty,
      "refresh-after-tombstone diverged from rebuild-without-them")
  }

  test("a fresh build at a path with a stale tombstone sidecar serves every id") {
    val path = java.nio.file.Files.createTempDirectory("graphann_del_stale").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    GraphAnn.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") === 1).select(col("vec_id")), "vec_id", countPresent = true)
    // CREATE semantics must clear the sidecar: id 1 is legitimate in
    // the new index and must be servable again
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val top = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 1, ef = 48)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L), s"stale sidecar hid the query's own id: $top")
  }

  test("appendToIndex touches only the delta's parts and rejects interleaved ids") {
    val n = emb.count()
    val split = 4L * n / 5L
    val path = java.nio.file.Files.createTempDirectory("graphann_touch").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < split), "vec_id", "v",
      m = 8, efC = 48, parts = 4, path)
    // pick ONE delta row; only its R routed content cells (the
    // replicated assignment) may be rewritten
    val one = emb.filter(col("vec_id") === split)
    val cells = spark.read.parquet(s"$path/routing")
      .select(col("part").cast("int"), col("rvec").cast("array<double>"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val qv = one.select(col("v").cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val deltaParts = cells
      .map { case (p, rv) => (p, rv.zip(qv).map(t => t._1 * t._2).sum) }
      .sortBy { case (p, s) => (-s, p) }.take(GraphAnn.DefaultReplicas).map(_._1)
      .map(p => s"p$p").toSet
    // the cell pool is versioned: an untouched part's RESOLVED cell
    // files must be byte-identical (same dirs, same files, same
    // mtimes — carried by reference, not rewritten), while a touched
    // part gains a NEW version
    def fileSig(): Map[String, Set[String]] =
      new java.io.File(s"$path/cells").listFiles().toSeq
        .filter(_.getName.startsWith("p"))
        .map { d =>
          def walk(f: java.io.File): Seq[java.io.File] =
            Option(f.listFiles()).toSeq.flatten
              .flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
          d.getName -> walk(d)
            .map(f => s"${f.getParentFile.getName}/${f.getName}:${f.lastModified}")
            .toSet
        }.toMap
    val before = fileSig()
    GraphAnn.appendToIndex(spark, path, one, "vec_id", "v")
    val after = fileSig()
    before.keys.filterNot(deltaParts.contains).foreach { p =>
      assert(after(p) == before(p), s"untouched $p was rewritten") }
    deltaParts.foreach(p => assert(after(p) != before(p),
      s"the delta's own $p was not rewritten"))
    // the cell-dir-name occupancy record must still equal a recount
    val metaCounts = GraphAnn.cellCounts(spark, path).toMap
    val trueCounts = GraphAnn.nodesDf(spark, path)
      .groupBy(col("part").cast("int")).count()
      .as[(Int, Long)].collect().toMap
    assert(metaCounts == trueCounts,
      s"cell-name counts diverged from a recount: $metaCounts vs $trueCounts")
    // interleaved ids (id 0 already exists below every index id) are
    // rejected rather than silently breaking append ≡ rebuild
    intercept[org.apache.spark.SparkException](
      GraphAnn.appendToIndex(spark, path,
        emb.filter(col("vec_id") === 0), "vec_id", "v"))
  }

  test("q99 streamed ingest equals q97's batch append: node tables bit for bit, same answers") {
    // the O(index) bit-identity gates moved OUT of the declared
    // queries (their in-query gates are parts-sized occupancy
    // compares — the q116/q120 discipline); this spec carries the
    // full-strength pin at spec scale: streamed micro-batch ingest
    // and one batch append reach byte-identical index STATE (and the
    // single-append ≡ same-routing-rebuild case above closes the
    // chain to the from-scratch build), so the served top-k agrees
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "rank", "score")
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(rows(RetrievalQueries.q99StreamIndex(spark, sf0001)) ==
      rows(RetrievalQueries.q97GraphAppend(spark, sf0001)))
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part").cast("int"), col("id"), col("vec"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Seq[Long])].collect().toSeq.sortBy(_._2)
    val q97Nodes = nodes(PipelineQueries.roundtripPath(sf0001, "q97"))
    assert(nodes(PipelineQueries.roundtripPath(sf0001, "q99")) == q97Nodes,
      "drained and batch-appended node tables diverge")
    assert(q97Nodes.nonEmpty)
  }

  test("routed serving: top-P probe prunes the nodes scan and holds the recall floor") {
    val path = java.nio.file.Files.createTempDirectory("graphann_route").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 8, path)
    val queries = (0L until 5L)
    val exact = queries.map { q =>
      q -> Search.topK(emb, "vec_id", "v", query(q), "qv", 10)
        .select("vec_id").as[Long].collect().toSet
    }.toMap
    def recallAt(probe: Int): Double = queries.map { q =>
      GraphAnn.searchIndex(spark, path, "vec_id", query(q), "qv", 10,
          ef = 48, probeParts = probe)
        .select("vec_id").as[Long].collect().count(exact(q).contains)
    }.sum.toDouble / (queries.size * 10)
    // the q86 serving config: probe = parts/2 of the 2×-replicated cells
    val r4 = recallAt(4)
    assert(r4 >= 0.9, s"probe=4/8 recall $r4 below the 0.9 serving floor")
    // more cells probed can only add candidates (monotone dial)
    assert(recallAt(6) >= r4)
    // and the probe is a genuine partition filter on the nodes scan
    val plan = GraphAnn.searchIndex(spark, path, "vec_id", query(0), "qv", 10,
        ef = 48, probeParts = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("part#"),
      s"expected partition pruning on part:\n$plan")
  }

  test("forced large cell: the sqrt(n) landmark layer holds recall at 10x the target cell size") {
    // ONE cell of 5000 distinct vectors — 10x the builder's ~500-node
    // sizing target, the regime the multi-level-descent question is
    // about (below the ~30k/cell crossover where the flat layer's
    // sqrt(n) dots overtake an HNSW descent's m*log n; see
    // landmarkEntry's scaladoc). The landmark entry must not lose
    // recall vs the fixed entry, and must hold a floor of its own.
    val n = 5000
    val dim = 16
    val vecs = Array.tabulate(n) { i =>
      val raw = Array.tabulate(dim)(j => math.sin(i * 31.0 + j * 7.0) + 0.1)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / nrm)
    }
    val g = GraphAnn.buildGraph(vecs, m = 8, efC = 48)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => p._1 * p._2).sum
    val qs = Seq(17, 1234, 2500, 3999, 4777).map(vecs(_))
    val (hits0, hitsLm) = qs.map { q =>
      val exact = vecs.zipWithIndex
        .map { case (v, i) => (i, dot(v, q)) }
        .sortBy { case (i, s) => (-s, i) }.take(10).map(_._1).toSet
      def top10(entry: Int) =
        GraphAnn.searchGraph(vecs, g, q, 48, n, entry)
          .take(10).map(_._1).toSet
      ((top10(0) intersect exact).size,
        (top10(GraphAnn.landmarkEntry(vecs, q, n)) intersect exact).size)
    }.unzip
    assert(hitsLm.sum >= hits0.sum,
      s"landmark entry lost recall at the large cell: ${hitsLm.sum} < ${hits0.sum}")
    assert(hitsLm.sum >= 40, s"large-cell recall ${hitsLm.sum}/50 below 0.8 floor")
  }

  test("routing refresh: drift trips the trigger, retrain equals a from-scratch rebuild") {
    val n = emb.count()
    val split = 3L * n / 5L
    val path = java.nio.file.Files.createTempDirectory("graphann_rr").toString
    val out = java.nio.file.Files.createTempDirectory("graphann_rr_out").toString
    val target = java.nio.file.Files.createTempDirectory("graphann_rr_t").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < split), "vec_id", "v",
      m = 8, efC = 48, parts = 8, path)
    val skew0 = GraphAnn.cellSkew(spark, path)
    // the q116 drift shape: the newest 40% of ids all re-embedded at
    // cell 0's routing vector — new content clustering where the
    // standing quantizer has one cell
    val rv0 = spark.read.parquet(s"$path/routing").filter(col("part") === 0)
      .select(col("rvec"))
    val delta = emb.filter(col("vec_id") >= split)
      .crossJoin(broadcast(rv0)).select(col("vec_id"), col("rvec").as("v"))
    GraphAnn.appendToIndex(spark, path, delta, "vec_id", "v")
    assert(GraphAnn.cellSkew(spark, path) > skew0,
      "the drifted append should skew cell occupancy")
    assert(GraphAnn.needsReroute(spark, path, 1.5),
      s"skew ${GraphAnn.cellSkew(spark, path)} should trip the 1.5 trigger")
    GraphAnn.refreshRouting(spark, path, 8, out)
    // retrain-and-rebuild from the live index ≡ from-scratch build
    // over the union corpus, bit for bit (deterministic routing +
    // deterministic per-cell construction)
    GraphAnn.writeIndex(
      emb.filter(col("vec_id") < split).select(col("vec_id"), col("v"))
        .unionByName(delta),
      "vec_id", "v", m = 8, efC = 48, parts = 8, target)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part"), col("id"), col("vec"), col("nbrs"))
    assert(nodes(out).exceptAll(nodes(target)).isEmpty &&
      nodes(target).exceptAll(nodes(out)).isEmpty,
      "refreshRouting must equal the from-scratch rebuild bit for bit")
    // the refreshed index serves (auto-probed) the same answers as the
    // from-scratch one — the user-visible consequence of bit equality
    def top(p: String) = GraphAnn.searchIndex(spark, p, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(top(out) == top(target))
  }

  test("interleaved maintenance: append after a mid-lifecycle refresh stays structurally sound") {
    // q120's step rule at spec scale: base → drifted append →
    // IN-PLACE refresh (staged generation + CURRENT flip) → ANOTHER
    // drifted append through the SAME path — the tail of the stream
    // must land in the LIVE generation via the pointer, and the final
    // state must keep the structural contracts (every id in exactly R
    // cells, deterministic dense serving).
    val n = emb.count()
    val split = 3L * n / 5L
    val mid = 4L * n / 5L
    val path = java.nio.file.Files.createTempDirectory("graphann_im").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < split), "vec_id", "v",
      m = 8, efC = 48, parts = 8, path)
    val rv0 = spark.read.parquet(s"$path/routing").filter(col("part") === 0)
      .select(col("rvec"))
    def drifted(lo: Long, hi: Long) =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .crossJoin(broadcast(rv0)).select(col("vec_id"), col("rvec").as("v"))
    GraphAnn.appendToIndex(spark, path, drifted(split, mid), "vec_id", "v")
    // pin the BASE generation before the flip — a pinned reader must
    // keep resolving its full frozen snapshot across BOTH the refresh
    // flip and any number of post-flip appends (the grace contract
    // spans the whole maintenance cycle, not just the flip itself)
    val basePinnedBefore = GraphAnn.nodesDfPinned(spark, path, "").count()
    def servePinnedBase() = GraphAnn.searchIndexPinned(spark, path, "",
        "vec_id", query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    val basePinnedServe = servePinnedBase()
    GraphAnn.refreshRouting(spark, path, 8)
    val gen = GraphAnn.currentGeneration(path)
    assert(gen.startsWith("gen__v"), "in-place refresh must flip CURRENT")
    // the tail of the stream lands on the REFRESHED index, resolved
    // through the pointer — never the superseded base tables
    GraphAnn.appendToIndex(spark, path, drifted(mid, n), "vec_id", "v")
    // REGRESSION (round-18, the advice's grace-GC hole): the post-flip
    // append's per-part GC must keep the cells the pinned BASE
    // generation resolves at its own frozen V_c — the round-17 code
    // kept only the live V_c's predecessor, so the first append after
    // a flip silently deleted whole pinned cells. These gates are
    // NON-VACUOUS: nodesAt now throws when a routing part fails to
    // resolve, so a vanished cell can no longer read as 0 rows.
    assert(GraphAnn.nodesDfPinned(spark, path, "").count() == basePinnedBefore,
      "a post-flip append must not GC cells the pinned base generation resolves")
    assert(servePinnedBase() == basePinnedServe,
      "a pinned base reader must serve identical answers across flip + append")
    val nodes = GraphAnn.nodesDf(spark, path)
    val r = spark.read.parquet(GraphAnn.tablePath(path, "routing"))
      .select(col("replicas")).as[Int].head()
    val perId = nodes.groupBy(col("id"))
      .agg(countDistinct(col("part")).as("cells"), count(lit(1)).as("copies"))
    assert(perId.count() == n, "every id must survive the interleaved lifecycle")
    assert(perId.filter(col("cells") =!= r || col("copies") =!= r).isEmpty,
      s"every id must live in exactly R=$r distinct cells")
    // the superseded base generation kept its pre-append shape: the
    // tail ids must NOT have leaked into the grace tables
    assert(GraphAnn.nodesDfPinned(spark, path, "")
        .filter(col("id") >= mid).count() == 0,
      "a post-flip append leaked into the superseded generation")
    def serve() = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    val a = serve()
    assert(a.map(_._2) == (1L to 10L), "dense ranks after interleaved maintenance")
    assert(a == serve(), "serving stays deterministic")
  }

  test("boundary replication: every vector lives in exactly R distinct cells, one primary") {
    val path = java.nio.file.Files.createTempDirectory("graphann_repl").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 8, path)
    val nodes = GraphAnn.nodesDf(spark, path)
      .select(col("id").cast("long"), col("part").cast("int"))
      .as[(Long, Int)].collect().toSeq
    val n = emb.count()
    val r = GraphAnn.DefaultReplicas
    assert(nodes.size == r * n, s"expected ${r}x replication, got ${nodes.size}/$n")
    val cells = nodes.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(cells.values.forall(_.size == r), s"a vector's $r cells collide")
    // the primary cell is the IVF-style single assignment under the
    // same routing table: it must be one of the two
    val routing = spark.read.parquet(s"$path/routing")
      .select(col("part").cast("long").as("cid"), col("rvec").as("cvec"))
    val primary = IVF.assign(
        emb.select(col("vec_id").cast("long").as("id"),
          col("v").cast("array<double>").as("vec")), "id", "vec", routing)
      .select(col("id"), col("cid").cast("int"))
      .as[(Long, Int)].collect().toMap
    cells.foreach { case (id, cs) =>
      assert(cs.contains(primary(id)), s"vector $id not in its primary cell") }
  }

  test("graphTopK rejects bad knobs and non-integral ids") {
    intercept[IllegalArgumentException](
      GraphAnn.graphTopK(emb, "vec_id", "v", query(0), "qv", 0))
    intercept[IllegalArgumentException](
      GraphAnn.graphTopK(emb, "vec_id", "v", query(0), "qv", 10, m = 8, ef = 5))
    val strId = emb.select(col("vec_id").cast("string").as("vec_id"), col("v"))
    intercept[IllegalArgumentException](
      GraphAnn.graphTopK(strId, "vec_id", "v", query(0), "qv", 10))
  }

  // ---------- in-place generations: the IVF CURRENT contract ----------

  /** Build a base index over the 60% prefix at `path` and append the
    * q116-shape drifted delta (the rest of the ids re-embedded at
    * cell 0's routing vector), returning the union corpus frame for
    * target rebuilds. */
  private def driftedIndex(path: String) = {
    val n = emb.count()
    val split = 3L * n / 5L
    GraphAnn.writeIndex(emb.filter(col("vec_id") < split), "vec_id", "v",
      m = 8, efC = 48, parts = 8, path)
    val rv0 = spark.read.parquet(s"$path/routing").filter(col("part") === 0)
      .select(col("rvec"))
    val delta = emb.filter(col("vec_id") >= split)
      .crossJoin(broadcast(rv0)).select(col("vec_id"), col("rvec").as("v"))
    GraphAnn.appendToIndex(spark, path, delta, "vec_id", "v")
    emb.filter(col("vec_id") < split).select(col("vec_id"), col("v"))
      .unionByName(delta)
  }

  test("in-place refresh: CURRENT flip, bit-identity with from-scratch, grace + GC, loud pin expiry") {
    val path = java.nio.file.Files.createTempDirectory("graphann_gen").toString
    val target = java.nio.file.Files.createTempDirectory("graphann_gen_t").toString
    val union = driftedIndex(path)
    assert(GraphAnn.currentGeneration(path) == "",
      "a never-refreshed index lives at the base layout")
    // a reader pins the base generation before maintenance runs
    val pin0 = GraphAnn.currentGeneration(path)
    def serve(gen: String) = GraphAnn.searchIndexPinned(spark, path, gen,
        "vec_id", query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    val before = serve(pin0)
    // IN-PLACE refresh: stage + atomic flip. The refreshed generation
    // must be bit-identical to a from-scratch build over the union
    // corpus — the q116/q120 gate, pinned HERE at spec scale.
    GraphAnn.refreshRouting(spark, path, 8)
    val gen1 = GraphAnn.currentGeneration(path)
    assert(gen1.startsWith("gen__v"), s"CURRENT must name a generation, got '$gen1'")
    GraphAnn.writeIndex(union, "vec_id", "v", m = 8, efC = 48, parts = 8, target)
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("part"), col("id"), col("vec"), col("nbrs"))
    val genNodes = nodes(GraphAnn.nodesDfPinned(spark, path, gen1))
    val tgtNodes = nodes(GraphAnn.nodesDf(spark, target))
    assert(genNodes.exceptAll(tgtNodes).isEmpty &&
      tgtNodes.exceptAll(genNodes).isEmpty,
      "in-place refresh must equal the from-scratch rebuild bit for bit")
    // SNAPSHOT ISOLATION: the pre-flip pin keeps serving the OLD
    // generation's answers coherently (grace window — the base tables
    // survive one cycle)
    assert(serve(pin0) == before,
      "a pinned reader must keep serving the superseded generation across the flip")
    // the unpinned path serves the NEW generation
    val after = GraphAnn.searchIndex(spark, path, "vec_id",
        query(1), "qv", 10, ef = 48)
      .select("vec_id", "rank", "score")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(after == serve(gen1))
    // SECOND refresh: the base generation leaves the grace window and
    // is GC'd; the stale pin now fails LOUDLY, never silently serving
    // a newer graph
    GraphAnn.refreshRouting(spark, path, 8)
    val gen2 = GraphAnn.currentGeneration(path)
    assert(gen2 != gen1, "second refresh must advance the generation")
    assert(!new java.io.File(s"$path/CELLS").isFile,
      "the base generation must be GC'd after leaving the grace window")
    assert(new java.io.File(s"$path/$gen1/CELLS").isFile,
      "the immediately superseded generation must survive as grace")
    val ex = intercept[IllegalArgumentException](serve(pin0))
    assert(ex.getMessage.contains("GC'd"), s"expiry must be loud: ${ex.getMessage}")
    // appends keep flowing through the pointer after any number of flips
    val nMax = emb.count()
    val extra = emb.limit(1)
      .select((col("vec_id") + lit(10L * nMax)).as("vec_id"), col("v"))
    GraphAnn.appendToIndex(spark, path, extra, "vec_id", "v")
    val live = GraphAnn.nodesDfPinned(spark, path, gen2)
      .filter(col("id") >= 10L * nMax).count()
    assert(live == spark.read.parquet(s"$path/$gen2/routing")
        .select(col("replicas")).as[Int].head().toLong,
      "a post-refresh append must land in the LIVE generation")
  }

  test("compactTombstones crash-recovery: an orphaned staged generation is versioned past and GC'd") {
    // the crash-before-flip contract on the graph family: a staged
    // gen__vN left behind by a crash must never be staged INTO or
    // flipped TO by the re-run — the version derives from the
    // listing, the re-run commits a fresh generation, the orphan is
    // collected, and the serve equals the pre-crash hide
    val path = java.nio.file.Files.createTempDirectory("graft_gr_crash").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def rows() = GraphAnn.searchIndex(spark, path, "vec_id", q, "qv", 10, 48)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    GraphAnn.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") % 9 === 2).select(col("vec_id")), "vec_id", countPresent = true)
    val hidden = rows()
    val orphan = new java.io.File(path, "gen__v99")
    graft.FileTree.copy(new java.io.File(s"$path/routing"),
      new java.io.File(orphan, "routing"))
    graft.FileTree.copy(new java.io.File(s"$path/params"),
      new java.io.File(orphan, "params"))
    java.nio.file.Files.write(new java.io.File(orphan, "CELLS").toPath,
      "99".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    GraphAnn.compactTombstones(spark, path)
    assert(GraphAnn.currentGeneration(path) == "gen__v100",
      s"the re-run must version PAST the orphan, got ${GraphAnn.currentGeneration(path)}")
    assert(!orphan.exists(),
      "the orphaned generation must be collected by the re-run")
    assert(rows() == hidden,
      "recovery must serve the exact pre-crash answers")
  }

  test("upgradeIndex: new-space rebuild flips a generation, equals the clean build, never resurrects tombstoned ids") {
    val path = java.nio.file.Files.createTempDirectory("graphann_upg").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    val doomed = emb.filter(col("vec_id") % 9 === 2).select(col("vec_id"))
    GraphAnn.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true)
    val gen0 = GraphAnn.currentGeneration(path)
    // the "new model": a deterministic different feature space
    val v2 = emb.select(col("vec_id"), reverse(col("v")).as("v"))
    GraphAnn.upgradeIndex(spark, path, v2, "vec_id", "v", parts = 4)
    assert(GraphAnn.currentGeneration(path) != gen0,
      "the upgrade must commit through a fresh generation")
    // forgotten stays forgotten: the upgrade sourced from caller
    // vectors that still contain the doomed ids — the standing
    // sidecar must have anti-joined them out of the new generation
    val ids = GraphAnn.nodesDf(spark, path)
      .select(col("id")).distinct().as[Long].collect().toSet
    val doomedIds = doomed.as[Long].collect().toSet
    assert(doomedIds.nonEmpty && doomedIds.forall(!ids.contains(_)),
      "a routine model upgrade must never resurrect deleted content")
    assert(ids == emb.select(col("vec_id")).as[Long].collect().toSet -- doomedIds)
    // upgrade ≡ clean build of the survivors in the new space under
    // the upgraded routing, bit for bit (the q141 equivalence on the
    // graph family)
    val clean = java.nio.file.Files.createTempDirectory("graphann_upg_c").toString
    GraphAnn.writeIndexWith(
      spark.read.parquet(GraphAnn.tablePath(path, "routing")),
      v2.join(doomed, Seq("vec_id"), "left_anti"), "vec_id", "v",
      8, 48, clean)
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part"), col("id"), col("vec"), col("nbrs"))
    assert(nodes(path).exceptAll(nodes(clean)).isEmpty &&
      nodes(clean).exceptAll(nodes(path)).isEmpty)
    // an upgrade while a crashed append's intent stands SUCCEEDS
    // (round 17: maintenance composes convergently with crashed
    // appends — the orphan sweep + the re-delivery's presence probe
    // replace the old refuse-while-intent guard; ExactlyOnceSpec
    // drives the full composition)
    val intent = new java.io.File(s"$path/applied__appends/i7")
    intent.getParentFile.mkdirs()
    java.nio.file.Files.createFile(intent.toPath)
    GraphAnn.upgradeIndex(spark, path, v2, "vec_id", "v", parts = 4)
    // the first upgrade REMOVED the doomed ids physically and started
    // a clean sidecar, so this caller-supplied corpus (which includes
    // them) legitimately re-ingests them — forgotten-stays-forgotten
    // binds while the request STANDS, not after its physical removal
    assert(GraphAnn.nodesDf(spark, path).select(col("id")).distinct().count()
      == emb.count())
  }

  test("a part-count-shrinking refresh never resurrects old-era cells; expired eras GC from the pool") {
    // the pool resolves by version, so a generation whose routing has
    // FEWER parts than a previous era must bound its reads by ITS OWN
    // routing's part ids (Lloyd refinement can also drop cells,
    // leaving non-contiguous ids) — without the bound, p3..p7's
    // old-era cells would "resolve" into the shrunk generation's full
    // scans as ghosts (the round-17 rework's nastiest found-by-test
    // defect, pinned here)
    val path = java.nio.file.Files.createTempDirectory("graphann_shrink").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 8, path)
    GraphAnn.refreshRouting(spark, path, parts = 3)
    val cells = spark.read.parquet(GraphAnn.tablePath(path, "routing"))
      .select(col("part").cast("int")).as[Int].collect().toSet
    assert(cells.nonEmpty && cells.subsetOf(Set(0, 1, 2)))
    val live = GraphAnn.nodesDf(spark, path)
      .select(col("part").cast("int"), col("id"))
      .as[(Int, Long)].collect().toSeq
    assert(live.map(_._1).toSet.subsetOf(cells),
      s"an old-era cell id resolved into the shrunk generation: ${live.map(_._1).toSet}")
    assert(live.map(_._2).toSet ==
      emb.select(col("vec_id")).as[Long].collect().toSet,
      "the shrunk generation must hold exactly the corpus ids")
    val copies = math.min(GraphAnn.DefaultReplicas, cells.size)
    assert(live.size == copies * emb.count(),
      s"every id must carry min(R, cells)=$copies copies")
    // the base era's high parts survive exactly one grace cycle
    assert(new java.io.File(s"$path/cells/p7").isDirectory,
      "the superseded era keeps its cells for the grace window")
    GraphAnn.refreshRouting(spark, path, parts = 3)
    assert(!new java.io.File(s"$path/cells/p7").exists(),
      "cells no kept generation resolves must leave the pool")
    // and the shrunk index still serves a full deterministic top-k
    val got = GraphAnn.searchIndex(spark, path, "vec_id", query(1), "qv",
        10, ef = 48)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._2) == (1L to 10L) && got.head._1 == 1L)
  }

  test("distributed routing: routeQueriesDf's cells equal the driver-side reference bit for bit") {
    // round 17 moved per-query cell selection off the driver (the
    // routing table is corpus-proportional at fleet scale); the
    // bounded-heap formulation must pick the EXACT same cells the
    // old driver-side scan did — same dot accumulation order, same
    // (score desc, part asc) tie order — or serving answers drift
    val path = java.nio.file.Files.createTempDirectory("graphann_route").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 8, path)
    val qvs = emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().map { case (q, v) => (q, v.toArray) }
    val routing = spark.read.parquet(s"$path/routing")
      .select(col("part").cast("int"), col("rvec").cast("array<double>"))
      .as[(Int, Seq[Double])].collect()
      .map { case (p, v) => (p, v.toArray) }.sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    for (probe <- Seq(2, 3, 5)) {
      val want = qvs.map { case (qid, qv) =>
        qid -> routing.map { case (p, rv) => (p, dot(rv, qv)) }
          .sortBy { case (p, s) => (-s, p) }.take(probe).map(_._1).toSet
      }.toMap
      val got = GraphAnn.routeQueriesDf(spark, path, qvs, probe)
        .as[(Long, Int)].collect().toSeq
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      assert(got == want, s"probe=$probe: distributed routing diverged " +
        "from the driver-side reference")
    }
  }

  test("two-level routing: supercell-pruned selection equals the flat scan; serve answers unchanged") {
    // round 18: at parts >= TwoLevelMinParts the generation carries
    // routing2c (⌈√parts⌉ supercells) + routing2 (2x-replicated
    // membership partitioned by spart), and routeQueriesDf scans
    // O(S·√parts) member rows instead of the whole parts-row table.
    // On a clustered corpus the pruned selection must be BIT-IDENTICAL
    // to the flat driver-side reference — routing loss would show up
    // here before it ever reached a recall floor.
    import graft.search.ClusteredFixture
    val nClusters = 40; val perCluster = 40 // 1600 rows, parts=160
    val docs = ClusteredFixture.rows(nClusters = nClusters, perCluster = perCluster)
      .toDF("vec_id", "v").localCheckpoint()
    val parts = 160
    assert(parts >= GraphAnn.TwoLevelMinParts)
    val path = java.nio.file.Files.createTempDirectory("graphann_2lvl").toString
    GraphAnn.writeIndex(docs, "vec_id", "v", m = 8, efC = 48, parts, path)
    assert(new java.io.File(s"$path/routing2c").isDirectory &&
      new java.io.File(s"$path/routing2").isDirectory,
      "a >=128-part build must write the supercell sidecars")
    // membership: every routing part lives in exactly 2 supercells
    val mem = spark.read.parquet(s"$path/routing2")
      .select(col("part").cast("int"), col("spart").cast("int"))
      .as[(Int, Int)].collect().toSeq
    val routingParts = spark.read.parquet(s"$path/routing")
      .select(col("part").cast("int")).as[Int].collect().toSet
    assert(mem.groupBy(_._1).forall { case (_, xs) => xs.map(_._2).toSet.size == 2 },
      "every part must be replicated into exactly 2 distinct supercells")
    assert(mem.map(_._1).toSet == routingParts,
      "membership must cover exactly the routing's part set")
    val qvs = docs.filter(col("vec_id") % 100 === 0).limit(16)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().map { case (q, v) => (q, v.toArray) }
    val routing = spark.read.parquet(s"$path/routing")
      .select(col("part").cast("int"), col("rvec").cast("array<double>"))
      .as[(Int, Seq[Double])].collect()
      .map { case (p, v) => (p, v.toArray) }.sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // probes 3/8 ride the two-level path; 16 and 60 EXCEED SuperProbe
    // so routeQueriesDf must fall back to the flat scan — a large
    // probe request (an explicit probeParts override or sweep, an
    // R=1 full scan) can exceed the top-S supercells' member pool,
    // and serving fewer cells than asked silently would starve the
    // recall contract
    for (probe <- Seq(3, 8, 16, 60)) {
      val want = qvs.map { case (qid, qv) =>
        qid -> routing.map { case (p, rv) => (p, dot(rv, qv)) }
          .sortBy { case (p, s) => (-s, p) }.take(probe).map(_._1).toSet
      }.toMap
      val got = GraphAnn.routeQueriesDf(spark, path, qvs, probe)
        .as[(Long, Int)].collect().toSeq
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      assert(got == want, s"probe=$probe: routing diverged " +
        "from the flat driver-side reference")
      // top-P can never hold a replica duplicate and never underfill
      val sizes = GraphAnn.routeQueriesDf(spark, path, qvs, probe)
        .as[(Long, Int)].collect().toSeq.groupBy(_._1).map(_._2.size)
      assert(sizes.forall(_ == probe), "duplicate parts leaked into top-P")
    }
    // the end-to-end serve through the pruned routing stays exact on
    // the re-score contract and finds the query point itself
    val q0 = docs.filter(col("vec_id") === qvs.head._1)
      .select(col("v").as("qv"))
    val served = GraphAnn.searchIndex(spark, path, "vec_id", q0, "qv",
        10, ef = 48)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(served.map(_._2) == (1L to 10L) && served.head._1 == qvs.head._1)
  }

  test("half-deleted generation debris (CELLS without routing) never wedges the append path") {
    // a crashed generation GC can delete an expired root's routing
    // dir before its CELLS file (deletion order is arbitrary);
    // survivingGenRoots must SKIP such debris — no reader can serve
    // it (requireRouted fails first), so it contributes nothing to
    // the append's grace keep set — instead of throwing on the
    // missing routing parquet forever after
    val path = java.nio.file.Files.createTempDirectory("graphann_debris").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    // fabricate the debris: a generation dir holding ONLY a CELLS file
    val debris = new java.io.File(path, "gen__v40")
    debris.mkdirs()
    java.nio.file.Files.write(new java.io.File(debris, "CELLS").toPath,
      "1".getBytes)
    val nMax = emb.count()
    val extra = emb.limit(3)
      .select((col("vec_id") + lit(10L * nMax)).as("vec_id"), col("v"))
    GraphAnn.appendToIndex(spark, path, extra, "vec_id", "v")
    val r = spark.read.parquet(GraphAnn.tablePath(path, "routing"))
      .select(col("replicas").cast("long")).as[Long].head()
    assert(GraphAnn.nodesDf(spark, path)
        .filter(col("id") >= 10L * nMax).count() == 3L * r,
      "the append must land despite the debris root")
    // serving still works and finds the query point
    val got = GraphAnn.searchIndex(spark, path, "vec_id", query(1), "qv",
        10, ef = 48)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._2) == (1L to 10L) && got.head._1 == 1L)
  }

  test("two-level routing survives the lifecycle: compaction carries the sidecars, refresh regenerates them") {
    // the supercell sidecars are pure functions of the routing table:
    // a compaction (routing unchanged) must CARRY them into the new
    // generation, a refresh (routing retrained) must REGENERATE them
    // — and routed selection must stay bit-identical to the flat
    // reference through both flips
    import graft.search.ClusteredFixture
    val docs = ClusteredFixture.rows(nClusters = 40, perCluster = 40)
      .toDF("vec_id", "v").localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("graphann_2lvl_lc").toString
    GraphAnn.writeIndex(docs, "vec_id", "v", m = 8, efC = 48, 160, path)
    val qvs = docs.filter(col("vec_id") % 200 === 0).limit(8)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().map { case (q, v) => (q, v.toArray) }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def flatWant(probe: Int): Map[Long, Set[Int]] = {
      val routing = spark.read.parquet(GraphAnn.tablePath(path, "routing"))
        .select(col("part").cast("int"), col("rvec").cast("array<double>"))
        .as[(Int, Seq[Double])].collect()
        .map { case (p, v) => (p, v.toArray) }.sortBy(_._1)
      qvs.map { case (qid, qv) =>
        qid -> routing.map { case (p, rv) => (p, dot(rv, qv)) }
          .sortBy { case (p, s) => (-s, p) }.take(probe).map(_._1).toSet
      }.toMap
    }
    def gotVsFlat(label: String): Unit = {
      val root = GraphAnn.tablePath(path, "routing").stripSuffix("/routing")
      assert(new java.io.File(s"$root/routing2c").isDirectory &&
        new java.io.File(s"$root/routing2").isDirectory,
        s"$label: the live generation must carry the supercell sidecars")
      val got = GraphAnn.routeQueriesDf(spark, root, qvs, 8)
        .as[(Long, Int)].collect().toSeq
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      assert(got == flatWant(8),
        s"$label: two-level selection diverged from the flat reference")
    }
    gotVsFlat("fresh build")
    // COMPACTION: routing verbatim → sidecars carried
    GraphAnn.deleteFromIndex(spark, path,
      docs.filter(col("vec_id") % 13 === 3).select(col("vec_id")), "vec_id")
    GraphAnn.compactTombstones(spark, path)
    assert(GraphAnn.currentGeneration(path).startsWith("gen__v"))
    gotVsFlat("post-compaction")
    // REFRESH: routing retrained → sidecars regenerated for it
    GraphAnn.refreshRouting(spark, path, 160)
    gotVsFlat("post-refresh")
  }
}
