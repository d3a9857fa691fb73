package graft

/** Physical-plan regression tests: the scale-critical plan properties
  * (pushdown, pruning, broadcast strategy, heap top-k, bucket
  * pruning) must survive refactors, not just the result values. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("q01: filter is pushed to the parquet scan, schema pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey")) // untouched columns never read
  }

  test("q02: dimension join is broadcast, fact side never shuffles on the key") {
    val p = plan("q02_revenue_by_brand")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q10: single-query top-k plans as TakeOrderedAndProject (bounded heap)") {
    val p = plan("q10_knn_exact")
    assert(p.contains("TakeOrderedAndProject"))
  }

  /** The scoring-path properties of a batch-kernel plan: scoring and
    * top-k are one graft_topk_batch aggregate, fed by no pair join,
    * whose vector input is read as stored — never cast per pair. */
  private def assertBatchKernel(p: String): Unit = {
    assert(p.contains("graft_topk_batch("), s"expected the batch top-k kernel:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the scoring path must not cross-join:\n$p")
    assert("""graft_topk_batch\([^,]*, cast\(""".r.findFirstIn(p).isEmpty &&
      !p.contains("graft_dot(cast("), s"no per-pair cast on the scoring path:\n$p")
  }

  test("q11: multi-query top-k runs through the graft_topk heap aggregate, no window sort") {
    val p = plan("q11_knn_multi")
    assertBatchKernel(p)
    assert(!p.contains("Window"))
  }

  test("q10/q11: scoring uses the fused native dot product") {
    assert(plan("q10_knn_exact").contains("graft_dot"))
    // q11 scores inside the batch kernel: the same fused dot loop
    assertBatchKernel(plan("q11_knn_multi"))
  }

  test("q33: near-dup candidates meet via bucket equi-join, never a nested-loop pair join") {
    val p = plan("q33_neardup_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("q42: candidate generation is exchange-free — scan, broadcast query, heap top-50") {
    // the declared q42 output is the driver-side MMR selection (a
    // local table); the scale-critical plan is the candidate frame's
    val p = RetrievalQueries.q42Candidates(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"expected a bounded-heap top-k:\n$p")
    // the only allowed exchange is the one-row query broadcast; a
    // corpus repartition ahead of the broadcast join is pure cost
    assert(!p.contains("Exchange hashpartitioning"),
      s"q42 must not shuffle the corpus:\n$p")
  }

  test("q110: pruned labeled lists feed the label-excluded heap top-k") {
    val p = plan("q110_hard_negatives_ann")
    // candidate generation is the partition-pruned list scan
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters: [isnotnull(cid"),
      s"expected partition pruning on cid:\n$p")
    // per-query top-k through the bounded heap, not a window sort
    assert(p.contains("graft_topk"), s"expected the heap aggregate:\n$p")
    // the positive-exclusion predicate rides the scan side of the plan
    assert(p.contains("NOT (label"), s"expected the label filter:\n$p")
  }

  test("q114: re-rank is an id-pushed point fetch ending in a heap top-k") {
    // the candidate stage's plan (cid pruning + fused ADC kernel) is
    // asserted in SQSpec; the query's returned plan is the re-rank
    // fetch — candidate ids pushed into the scan, nothing sort-merged
    val p = plan("q114_ann_sq")
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"expected the candidate-id In pushdown:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q114 sort-merged a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
  }

  test("q118: RRF fuses two k-row lists — no corpus-sized exchange after the legs") {
    val p = plan("q118_rrf_fusion")
    assert(!p.contains("SortMergeJoin"), s"q118 sort-merged the fusion:\n$p")
    // the fusion is a hash aggregate over the ≤2k unioned term rows:
    // both legs end in a bounded heap before the union: the vector
    // leg's TakeOrderedAndProject, the lexical leg's BM25 kernel
    assert(p.contains("TakeOrderedAndProject") && p.contains("graft_topk_bm25("),
      s"expected heap top-k legs:\n$p")
    assert(p.contains("HashAggregate"), s"expected the fused-sum aggregate:\n$p")
  }

  test("q119: per-doc argmax is one doc-keyed window; final sort is post-limit") {
    val p = plan("q119_parent_doc")
    // the chunk-scoring side must not sort-merge against the query
    assert(!p.contains("SortMergeJoin"), s"q119 sort-merged a join:\n$p")
    // global ordering appears only after the 10-row limit
    assert(p.contains("TakeOrderedAndProject"), s"expected post-limit heap:\n$p")
  }

  test("q123: MaxSim is broadcast units + doc-keyed hash aggregates; final sort post-limit") {
    val p = plan("q123_late_interaction")
    // the unit set joins by broadcast — the corpus never shuffles to
    // meet a |Q|-row table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q123 lost the unit broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q123 sort-merged a join:\n$p")
    // per-(doc,unit) max and per-doc sum are hash aggregates (partial
    // map-side), never window sorts
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
    // global ordering only after the 10-row limit
    assert(p.contains("TakeOrderedAndProject"), s"expected post-limit heap:\n$p")
  }

  test("q124: every dial row runs through the graft_topk heap, no window sort") {
    val p = plan("q124_matryoshka_recall")
    assertBatchKernel(p)
    assert(!p.contains("Window"), s"q124 fell back to a window sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q124 sort-merged the recall join:\n$p")
  }

  test("q125: the pack cumsum window is source-partitioned, never a single global sort") {
    val p = plan("q125_pack_manifest")
    // the window exchange is keyed by source (partition-parallel) —
    // a missing partition key would collapse the corpus to one task
    assert(p.contains("hashpartitioning(source"),
      s"q125 cumsum window lost its source partitioning:\n$p")
    // the span explode is a Generate over the windowed rows
    assert(p.contains("Generate explode"), s"expected the span explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q125 grew a join:\n$p")
  }

  test("q139: semdedup pairs meet via the cell equi-join; scoring is the fused dot") {
    val p = plan("q139_semdedup")
    // the within-cell triangular join is keyed on cid (cells are
    // occupancy-capped, so pair work stays ~cell * N); the only
    // unkeyed join allowed is the 1-row packed-quantizer broadcast
    assert(p.contains("graft_dot"), s"expected the fused dot product:\n$p")
    assert(p.contains("hashpartitioning(cid"),
      s"q139 lost the cell-keyed partitioning:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q139 degenerated to an all-pairs join:\n$p")
  }

  test("q142: both serving legs read pruned at-rest artifacts; fusion joins k-row lists") {
    val p = plan("q142_persisted_rag")
    // vector leg: the pinned IVF lists scan is partition-pruned to
    // the probed cids; lexical leg: the postings scan stays
    // bucket-pruned (the bkt filter); fusion is a full outer join of
    // two k-row rank lists — nothing corpus-sized crosses an exchange
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters: [isnotnull(cid"),
      s"expected partition pruning on cid in the IVF leg:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"expected the bucket-pruned postings leg:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q142 degenerated to an unkeyed join:\n$p")
  }

  test("q140: quality scoring is one fused-dot scan; the bucket cuts are scalar compares") {
    val p = plan("q140_quality_classifier")
    // training happened before the plan (64-double collects); the
    // declared query must be scan + keyed label join + projection —
    // no global window ranking the corpus, no pair join
    assert(p.contains("graft_dot"), s"expected the fused dot scorer:\n$p")
    assert(!p.contains("Window"), s"q140 grew a global ranking window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q140 degenerated to a pair join:\n$p")
  }

  test("q138: BPE pack keeps the keyed encode join and the source-partitioned cumsum") {
    val p = plan("q138_bpe_pack")
    // the corpus meets the vocab through the word-keyed equi-join —
    // never a pair nested loop — and the pack window stays
    // source-partitioned (q125's property, inherited via the shared
    // packer); the span explode is the output-sized Generate
    assert(p.contains("hashpartitioning(source"),
      s"q138 pack window lost its source partitioning:\n$p")
    assert(p.contains("Generate explode"), s"expected the span explode:\n$p")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"q138 encode join degenerated to a pair join:\n$p")
  }

  test("q126: both mining legs ride the broadcast anchors + heap; the leg join is broadcast") {
    val p = plan("q126_contrastive_triplets")
    assert(p.contains("graft_topk"), s"expected heap aggregates:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"anchors must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q126 sort-merged the leg join:\n$p")
  }

  test("q112/q113: model and allocation join by broadcast, never sort-merge") {
    val p112 = plan("q112_perplexity_filter")
    assert(!p112.contains("SortMergeJoin"), s"q112 sort-merged a model join:\n$p112")
    assert(p112.contains("BroadcastHashJoin"), s"q112 lost the broadcast:\n$p112")
    val p113 = plan("q113_mixture_sample")
    assert(!p113.contains("SortMergeJoin"), s"q113 sort-merged the alloc join:\n$p113")
    assert(p113.contains("BroadcastHashJoin"), s"q113 lost the broadcast:\n$p113")
  }

  test("IVF assign is a pure projection over the corpus: no window, no sort-agg, no corpus shuffle") {
    import graft.search.IVF
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // checkpoint the (K-row) centroid build so the printed plan is the
    // assign subtree alone — the centroid-side cid window is K rows
    // and not what this spec guards
    val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    val p = IVF.assign(emb, "vec_id", "v", cents)
      .queryExecution.executedPlan.toString
    // the argmax is a per-row fold over the broadcast centroid array —
    // the K-fold row inflation of the window/max_by forms must not
    // come back (the only exchange allowed is the K-row centroid pack)
    assert(!p.contains("WindowExec") && !p.contains("Window "))
    assert(!p.contains("SortAggregate"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("q20: BM25 scores from the materialized postings index, never re-tokenizing") {
    val p = plan("q20_bm25")
    // the declared path reads the memoized postings (Memo.cached
    // checkpoint) with a term filter — a token Generate (or the
    // tokenizer's split) would mean the corpus is being exploded per
    // query again; the one Generate explodes the kernel's top-k array
    assert("Generate explode\\((?!__tk)".r.findFirstIn(p).isEmpty && !p.contains("split("),
      s"the postings must not be re-tokenized:\n$p")
    // the term filter must actually appear (INSET for the 3-term
    // list, or an IN/equality form if the term count changes)
    assert(p.contains("INSET") || p.contains("term#") && p.contains(" IN "),
      s"expected a term filter over the postings scan:\n$p")
  }

  test("q20: postings scan is bucket-pruned and the term-keyed agg reuses the bucketing") {
    val p = plan("q20_bm25")
    // the persisted index is a term-bucketed table; a 3-term query
    // must read a strict subset of the buckets
    assert(p.contains("SelectedBucketsCount"),
      s"expected a bucketed postings scan:\n$p")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(p)
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"expected bucket pruning to select a strict subset:\n$p")
    // the df aggregate (groupBy term) must ride the table's bucketing:
    // no exchange may hash-partition on term
    assert(!p.contains("hashpartitioning(term"),
      s"expected the term-keyed aggregate to reuse bucketing:\n$p")
  }

  test("q149: ONE bucket-pruned postings scan serves every query; per-query top-k rides the heap") {
    val p = plan("q149_bm25_multi")
    // the multi-query contract: however many term-sets are scored,
    // the bucketed postings table is scanned exactly ONCE — df, idf,
    // scores and every query's heap come out of the one batch
    // aggregate over that scan, with no df pass and no qid exchange
    val postingsScans = """FileScan parquet \S*bm25_postings""".r.findAllIn(p).size
    assert(postingsScans == 1,
      s"expected exactly 1 postings scan, got $postingsScans:\n$p")
    assert(!p.contains("count(distinct"), s"expected no separate df pass:\n$p")
    assert(!p.contains("hashpartitioning(qid"), s"expected no exchange on qid:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"expected the bucket-pruned postings scan:\n$p")
    // per-query top-k is the bounded-heap aggregate, not a window sort
    assert(p.contains("graft_topk"),
      s"expected the heap top-k aggregate:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q150: multi-query hybrid reads each at-rest artifact once; fusion joins per-qid k-row lists") {
    val p = plan("q150_hybrid_multi")
    // vector leg: the lists scan is filtered to the UNION of probed
    // cells (static partition filter); lexical leg: bucket-pruned
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"expected the cid partition filter on the IVF leg:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"expected the bucket-pruned postings leg:\n$p")
    assert(p.contains("graft_topk"),
      s"expected heap top-k in the legs:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q150 degenerated to an unkeyed join:\n$p")
  }

  test("rrfFuseMulti is one aggregate grouped by qid: one exchange, no window") {
    import spark.implicits._
    val vec = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 30L, 1L)).toDF("qid", "vec_id", "rank")
    val lex = Seq((1L, 20L, 1L), (2L, 40L, 1L)).toDF("qid", "doc", "rank")
    val p = graft.hybrid.Hybrid.rrfFuseMulti(vec, "vec_id", lex, "doc", 60, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_topk_sum("), s"expected the summing heap aggregate:\n$p")
    assert(!p.contains("Window"), s"fusion grew a window:\n$p")
    val exchanges = """\bExchange """.r.findAllIn(p).size
    assert(exchanges == 1 && p.contains("Exchange hashpartitioning(qid"),
      s"expected exactly one exchange, on qid, got $exchanges:\n$p")
  }

  test("q167: ONE routed nodes scan serves the whole query batch through the heap top-k") {
    import org.apache.spark.sql.functions._
    // the declared row localCheckpoints its gate frame, so pin the
    // serve expression directly (the q42 pattern)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qs = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val path = RetrievalQueries.graphIndexPath(spark, sf0001)
    val df = graft.search.GraphAnn.searchIndexMulti(spark, path, "vec_id",
        qs, "qid", "qv", 10, 48, probeParts = 2)
    val p = df.queryExecution.executedPlan.toString
    // however many queries are in the batch, the at-rest nodes table
    // is scanned exactly ONCE (the query set collects driver-side by
    // the multi-query contract — no second parquet scan may appear)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly ONE at-rest scan for the whole batch:\n$p")
    // the union of every query's routed cells prunes by PATH
    // SELECTION (round 17's versioned cell pool: the scan is handed
    // exactly the probed cells' directories — unprobed cells never
    // even reach the file index, stronger than a partition filter)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1)
    val scanned = scans.head.relation.location.rootPaths.size
    val parts = RetrievalQueries.graphPartsFor(spark, sf0001)
    assert(scanned < parts && scanned <= 2 * 2,
      s"expected a probed-cells-only path set, got $scanned of $parts cells")
    // per-query top-k rides the bounded heap, never a window sort
    assert(p.contains("graft_topk"), s"expected the heap top-k:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph routing is distributed: the routing table is scanned (never broadcast), top-P rides the heap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the round-17 scale contract: the routing table is
    // parts = ceil(N/cell) rows — corpus-proportional at fleet
    // scale — so per-query cell selection must stream it through the
    // bounded-heap aggregate with the QUERY SET as the broadcast
    // side, never collect or broadcast the table itself
    val path = RetrievalQueries.graphIndexPath(spark, sf0001)
    val root = graft.search.GraphAnn.tablePath(path, "routing")
      .stripSuffix("/routing")
    val qvs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().map { case (q, v) => (q, v.toArray) }
    val df = graft.search.GraphAnn.routeQueriesDf(spark, root, qvs, 2)
    val sp = df.queryExecution.sparkPlan
    val joins = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.size == 1, s"expected the one routing × queries join:\n$sp")
    val j = joins.head
    val build = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
      case _ => j.left
    }
    assert(build.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.isEmpty,
      s"the corpus-proportional routing table must never be the broadcast side:\n$sp")
    val streamed = if (build eq j.right) j.left else j.right
    assert(streamed.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.size == 1,
      s"the routing table must be the streamed scan side:\n$sp")
    // per-query top-P rides the bounded heap — the exchange and the
    // driver collect carry O(queries × P) rows, never parts rows
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_topk"), s"expected the heap top-P:\n$p")
    assert(df.count() <= qvs.length.toLong * 2)
  }

  test("IVF probe table: the centroid table is scanned (never broadcast), top-P rides the heap") {
    import org.apache.spark.sql.functions._
    import graft.search.{IVF, Search}
    // at derived-K geometry the centroid table is corpus-proportional
    // (K = ⌈√N⌉), so the probe step must stream it: the query batch
    // rides inside the batch top-k aggregate, and neither side is
    // broadcast or joined
    val path = java.nio.file.Files.createTempDirectory("plan_ivfprobe").toString
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    IVF.writeIndex(e, "vec_id", "v", 8, 0, path)
    val qs = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val cents = spark.read.parquet(IVF.centroidsPath(path))
    val batch = Search.queryBatch(qs, "qid", "qv")
    // the frame IVF.probePairs collects
    val df = Search.batchTopK(cents, "cid", "cvec", batch.perRow, None, 2)
    val sp = df.queryExecution.sparkPlan
    assert(sp.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      s"the probe step must not join:\n$sp")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastExchange"), s"nothing may be broadcast:\n$p")
    val scans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scans.size == 1 && scans.head.contains("centroids"),
      s"the centroid table must be the one scanned side:\n$sp")
    assert(p.contains("graft_topk_batch"), s"expected the batch heap top-P:\n$p")
    assert(IVF.probePairs(cents, batch, 2).size == 4 * 2)
  }

  test("two-level routing: the member scan is spart-partition-pruned, supercell table is the streamed side") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // round 18: at parts >= TwoLevelMinParts routeQueriesDf scans the
    // ⌈√parts⌉-row supercell table, then ONLY the probed supercells'
    // member partitions — a genuine spart= path filter, so per-serve
    // routing bytes are O(S·√parts), sublinear in parts
    import graft.search.{ClusteredFixture, GraphAnn}
    val docs = ClusteredFixture.rows(nClusters = 64, perCluster = 40)
      .toDF("vec_id", "v").localCheckpoint()
    // parts=512 → 23 supercells: 2 queries × S=8 can select at most
    // 16 of them, so the pruning is visible in the partition listing
    val path = java.nio.file.Files.createTempDirectory("plan_2lvl").toString
    GraphAnn.writeIndex(docs, "vec_id", "v", 8, 48, parts = 512, path)
    val qvs = docs.filter(col("vec_id") % 1280 === 0).limit(2)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().map { case (q, v) => (q, v.toArray) }
    // the public entry validates completeness and hands back a
    // query-sized local frame; the plan pin inspects the DISTRIBUTED
    // stage-2 member scan behind it
    val pub = graft.search.GraphAnn.routeQueriesDf(spark, path, qvs, 8)
    assert(pub.count() == qvs.length.toLong * 8)
    val qdf = qvs.toSeq.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "__qv")
    val df = graft.search.GraphAnn.twoLevelMemberScan(spark, path, qvs, qdf, 8)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // stage 1 (supercells) already ran at plan-build time (its top-S
    // pairs came to the driver); this plan is stage 2 — exactly one
    // member scan whose partition set is the probed supercells only
    assert(scans.size == 1, s"expected the one member scan, got ${scans.size}")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"expected an spart partition filter on the member scan:\n$scan")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).size
    val superCells = spark.read.parquet(s"$path/routing2c").count().toInt
    assert(selected < superCells,
      s"expected an spart-pruned member scan, got $selected of $superCells supercell dirs")
    assert(selected <= 2 * GraphAnn.SuperProbe,
      s"member scan must read at most queries x S supercell dirs, got $selected")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_topk"), s"expected the heap top-P:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(df.count() == qvs.length.toLong * 8)
  }

  test("q87: incrementally-appended postings table stays bucket-pruned") {
    val p = plan("q87_bm25_append")
    // append lands delta files in the SAME term buckets, so the
    // 3-term query still reads a strict subset of buckets and the
    // term-keyed aggregates still reuse the bucketing
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"expected bucket pruning on the appended table:\n$p")
    assert(!p.contains("hashpartitioning(term"),
      s"expected the term-keyed aggregate to reuse bucketing:\n$p")
  }

  test("q122: the compacted postings table stays bucket-pruned and exchange-free") {
    val p = plan("q122_bm25_compact")
    // the metastore swap must carry the bucketBy metadata: the served
    // search still reads a strict subset of buckets and the term-keyed
    // aggregates still reuse the bucketing with no exchange
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"expected bucket pruning on the compacted table:\n$p")
    assert(!p.contains("hashpartitioning(term"),
      s"expected the term-keyed aggregate to reuse bucketing:\n$p")
  }

  test("one-off BM25.search explodes only the query terms (pre-explode array filter)") {
    import graft.lexical.BM25
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = BM25.search(docs, "doc_id", "text", Seq("spark", "join"), 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("filter(")) // the array-level token filter feeds the generate
    assert(p.contains("Generate explode"))
  }

  test("q59: PQ is scan -> fused reconstruct -> heap top-k; no shuffle before the limit") {
    val p = plan("q59_pq_ann")
    // quantize+reconstruct is the single codegen'd expression, and the
    // interpreted ArrayAggregate fold must not creep back into the
    // per-row path
    assert(p.contains("graft_pq_reconstruct"))
    assert(!p.contains("aggregate("))
    // corpus-side ranking is a bounded heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"))
    // the only exchanges feeding the scored scan are broadcasts
    // (codebook pack + query row)
    assert(p.contains("BroadcastExchange"))
  }

  test("q88: redaction is a pure pushed-down projection — one exchange (the declared sort)") {
    val p = plan("q88_redact")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]"),
      s"expected the doc_id filter at the scan:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1, s"expected 1 exchange:\n$p")
  }

  test("q93: the prep pipeline's only wide stages are dedup, the shard agg and the sort") {
    val p = plan("q93_prep_e2e")
    // dedup window + final aggregate + declared ORDER BY — chunking,
    // redaction and shard hashing must all stay narrow
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 4, s"expected <= 4 exchanges in the prep pipeline, got $n:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q72: chunking is a pure generate over the pushed-down scan, no pre-sort shuffle") {
    val p = plan("q72_chunk_docs")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"))
    // exactly one exchange: the final declared ORDER BY (rangepartitioning)
    assert("Exchange".r.findAllIn(p).length == 1, s"expected 1 exchange:\n$p")
    assert(!p.contains("Window"))
  }

  test("q100 flagged-window build: one corpus explode + one scored-doc explode") {
    // the build plan (memoized at query time behind dupWins500):
    // exactly two generate passes — the corpus-wide dup vote (no
    // filter) and the scored-doc window pass (doc_id < 500 pushed) —
    // meeting via an equi semi-join on the 8-byte hash
    val p = PrepQueries.dupWinsRaw(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("Generate posexplode".r.findAllIn(p).length == 2,
      s"expected exactly 2 explodes:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,500)]"))
    assert(p.contains("LeftSemi"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q100 audit serves from the flagged-window memo: no explode, totals a projection") {
    val p = plan("q100_substring_dedup")
    // n_windows must come from the len(toks)-15 projection, not an
    // explode; the island merge is the only window and it is keyed
    // per document
    assert(!p.contains("Generate posexplode"), s"audit should not re-explode:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,500)]"))
    assert(p.contains("hashpartitioning(doc_id"),
      s"expected the island window keyed by doc_id:\n$p")
  }

  test("q106 removal: interleave window keyed per doc; slice scan pushed; no re-explode of the vote") {
    val p = plan("q106_substring_dedup_apply")
    // exactly one explode — the slice's token rows (the flagged
    // windows come from the memo)
    assert("Generate posexplode".r.findAllIn(p).length == 1,
      s"expected exactly 1 explode:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,500)]"))
    assert(p.contains("hashpartitioning(doc_id"),
      s"expected the coverage window keyed by doc_id:\n$p")
    assert(!p.contains("rangepartitioning(pos") && !p.contains("CartesianProduct"))
  }

  test("q101: the DSIR model joins by broadcast; scoring scans are filter-pushed") {
    val p = plan("q101_dsir_weights")
    // every live scan is the scored slice (the corpus model pass is
    // materialized behind the checkpoint, so the query-time plan
    // re-reads 512 rows, not the corpus)
    val scans = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("LessThan(doc_id,200)")),
      s"expected all query-time scans pushed to doc_id < 200: $scans")
    // bucket model meets feature rows via broadcast hash join on b
    assert(p.contains("BroadcastHashJoin [b#"), s"expected broadcast model join:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q105: decon candidates meet via the bucket equi-join, never a pair nested loop") {
    val p = plan("q105_semantic_decon")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    // the witness pick is a per-tid window over HITS (candidate-sized),
    // partitioned by tid — not a global sort
    assert(p.contains("hashpartitioning(tid"),
      s"expected the argmax window keyed by tid:\n$p")
  }

  test("q104: encode scans are filter-pushed; the vocab join never sort-merges") {
    val p = plan("q104_bpe_encode")
    // the corpus-side scan reads only the scored slice
    assert("PushedFilters: \\[[^\\]]*LessThan\\(doc_id,200\\)[^\\]]*\\]".r
      .findFirstIn(p).isDefined, s"expected doc_id<200 pushed:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab join should stay hash/broadcast:\n$p")
  }

  test("q107: hard negatives ride the heap aggregate; exclusion is a scan-side filter") {
    val p = plan("q107_hard_negatives")
    assert(p.contains("graft_topk"))
    assert(!p.contains("Window"), s"top-k must not fall back to a window sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q77: packing cumsum is a PER-SOURCE window, never a global ordering") {
    val p = plan("q77_packing_stats")
    // the window exchange must hashpartition on source — a
    // rangepartitioning before the Window would mean a global sort
    // crept into the packing scan
    assert(p.contains("hashpartitioning(source"),
      s"expected the cumsum window keyed by source:\n$p")
  }

  test("q134: ONE union-pruned lists scan serves every query; per-query heap top-k") {
    val p = plan("q134_ivf_multi")
    // the union of the queries' probed cids is a STATIC partition
    // filter on the at-rest lists scan — unprobed list directories
    // never leave disk
    assert(p.contains("PartitionFilters: [cid") && p.contains(" IN "),
      s"expected the static cid IN partition filter:\n$p")
    // exactly one scan of the persisted lists serves all queries
    // (the probe table is checkpointed — no second parquet scan)
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1 && p.contains("ivf_idx0"),
      s"expected ONE lists scan serving the whole query batch, got $scans:\n$p")
    // per-query top-k through the batch kernel, never a window sort
    assertBatchKernel(p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q178's pinned multi-query IVF leg keeps the live plan shape and reads the PINNED generation") {
    import org.apache.spark.sql.functions._
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_pinmulti").toString
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    IVF.writeIndex(e, "vec_id", "v", 8, refineIters = 0, path)
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val pin = IVF.currentGeneration(path)
    def planOf() = IVF.searchIndexMultiPinned(spark, path, pin,
        "vec_id", "v", qs, "qid", "qv", 10, 2)
      .queryExecution.executedPlan.toString
    val p = planOf()
    // the pinned batch serve keeps the live path's properties: ONE
    // lists scan for the whole batch, the union-of-probed-cids
    // partition filter, per-query heap top-k
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly ONE pinned lists scan for the batch:\n$p")
    assert(p.contains("PartitionFilters: [cid") && p.contains(" IN "),
      s"expected the static cid IN partition filter:\n$p")
    assertBatchKernel(p)
    assert(!p.contains("SortMergeJoin"))
    // across a concurrent flip the pin still reads ITS generation —
    // the scan path names the pinned lists, not the flipped ones
    IVF.compactIndex(spark, path)
    val p2 = planOf()
    assert(p2.contains(pin._1),
      s"the pinned scan must keep reading the pinned generation ${pin._1}:\n$p2")
    assert(p2.contains("PartitionFilters: [cid") &&
      "FileScan parquet".r.findAllIn(p2).size == 1,
      s"the pinned plan shape must survive the flip:\n$p2")
  }

  test("pinned postings: the pin table re-attaches the bucket spec — SelectedBucketsCount survives the pin") {
    import org.apache.spark.sql.functions.col
    // a pinned-path parquet read carries no bucket metadata (the
    // documented postingsPinned trade-off); pinPostingsTable captures
    // the generation's bucket spec as an external table, so the
    // snapshot serve keeps pruning — the round-15 What's-wrong #3
    val tbl = "bm25_pin_plan_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("pin_plan").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    val pin = Queries.postingsLivePath(spark, tbl)
    val pinTbl = Queries.pinPostingsTable(spark, tbl, pin)
    val terms = Seq("spark", "data", "model")
    def served(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bucketed = graft.lexical.BM25.searchIndexedPinnedWith(
      spark, pin, spark.table(pinTbl), terms, 10)
    val p = bucketed.queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"),
      s"expected the pinned serve to keep bucket pruning:\n$p")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"expected a strict bucket subset on the pinned scan:\n$p")
    // answers identical to the unpruned pinned path read
    assert(served(bucketed) == served(
      graft.lexical.BM25.searchIndexedPinned(spark, pin, terms, 10)),
      "the bucket-pruned pin must serve exactly the path read's answers")
    // idempotent re-pin of the same generation
    assert(Queries.pinPostingsTable(spark, tbl, pin) == pinTbl)
  }

  test("q135: one pruned ADC scan + one id-pushed point fetch serve the query batch") {
    val p = plan("q135_sq_multi")
    // the declared plan is the re-rank stage: candidate ids pushed
    // into the source scan as one In predicate for ALL queries
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"expected the batched candidate-id In pushdown:\n$p")
    assert(p.contains("graft_topk"), s"expected the heap aggregate:\n$p")
    assert(!p.contains("SortMergeJoin"))
    // the ADC candidate stage runs behind a checkpoint (its pruning +
    // fused-kernel plan properties are SQSpec's single-query
    // assertions, shared stage code) — the declared plan must not
    // re-scan the quantized lists
    assert(!p.contains("sq_idx0/lists"),
      s"the re-rank must point-fetch, not re-scan the lists:\n$p")
  }
}
