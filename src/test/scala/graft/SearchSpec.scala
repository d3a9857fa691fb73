package graft

import graft.functions.VectorF
import graft.hybrid.Hybrid
import graft.search.Search
import org.apache.spark.sql.functions._

/** R1/R2/R4/R5/R8 retrieval operators. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("topK matches driver-side brute force on real embeddings") {
    val q = emb.filter(col("vec_id") === 7).select(col("v").as("qv"))
    val got = Search.topK(emb, "vec_id", "v", q, "qv", 10)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq

    val all = emb.as[(Long, Seq[Double])].collect()
    val qv = all.find(_._1 == 7L).get._2
    val want = all.map { case (id, v) =>
      (id, v.zip(qv).map { case (a, b) => a * b }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq
    assert(got == want)
  }

  test("multiTopK returns k rows per query, rank 1..k, same as single topK") {
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val multi = Search.multiTopK(emb, "vec_id", "v", qs, "qid", "qv", 5)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(multi.length == 15)
    (0L until 3L).foreach { q =>
      val ranks = multi.filter(_._1 == q).map(_._3).sorted.toSeq
      assert(ranks == Seq(1L, 2L, 3L, 4L, 5L))
      val single = Search.topK(emb, "vec_id", "v",
        emb.filter(col("vec_id") === q).select(col("v").as("qv")), "qv", 5)
        .orderBy("rank").select("vec_id").as[Long].collect().toSeq
      assert(multi.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq == single)
    }
  }

  test("multiTopK rejects non-integral id columns instead of dropping rows") {
    val qs = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val strId = emb.select(concat(lit("doc-"), col("vec_id")).as("vec_id"), col("v"))
    val e = intercept[IllegalArgumentException] {
      Search.multiTopK(strId, "vec_id", "v", qs, "qid", "qv", 5)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("lshTopK: bucket-pruned results are a subset ranked consistently, query itself found") {
    val q = emb.filter(col("vec_id") === 7).select(col("v").as("qv"))
    val approx = Search.lshTopK(emb, "vec_id", "v", q, "qv", 10, nBits = 4, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    // the query vector shares its own bucket, so it must be retrieved
    assert(approx.contains(7L))
    assert(approx.size <= 10)
  }

  test("multiTopK heap aggregate matches the window-sort formulation exactly") {
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val heap = Search.multiTopK(emb, "vec_id", "v", qs, "qid", "qv", 7)
      .select("qid", "vec_id", "rank", "score")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    val win = Search.multiTopKWindow(emb, "vec_id", "v", qs, "qid", "qv", 7)
      .select("qid", "vec_id", "rank", "score")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
    assert(heap.toSeq == win.toSeq)
  }

  /** The sf0.001 corpus with the batch kernel's edge rows, vectors
    * as stored (array<float>): exact copies of 20 vectors under new
    * ids (score ties broken by id), a NULL vector, a length mismatch
    * and a NULL element. */
  private lazy val edgeCorpus = {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("v"))
    val ties = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
    val edge = spark.sql("""SELECT * FROM VALUES
        (900001L, CAST(NULL AS ARRAY<FLOAT>)),
        (900002L, array(CAST(0.5 AS FLOAT), CAST(0.5 AS FLOAT))),
        (900003L, array_repeat(CAST(NULL AS FLOAT), 64))
      AS t(vec_id, v)""")
    base.unionByName(ties).unionByName(edge)
  }

  /** Query rows over the first 8 vectors; rows 6 and 7 repeat qids 0
    * and 1 with other vectors (one heap per qid). */
  private def edgeQueries(corpus: org.apache.spark.sql.DataFrame) =
    corpus.filter(col("vec_id") < 8)
      .select((col("vec_id") % 6).as("qid"), col("v").as("qv"))

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "vec_id", "rank", "score")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq

  test("batch kernel multiTopK equals the window sort on float and double vectors") {
    Seq("array<float>", "array<double>").foreach { t =>
      val corpus = edgeCorpus.select(col("vec_id"), col("v").cast(t).as("v"))
      val qs = edgeQueries(corpus)
      val heap = ranked(Search.multiTopK(corpus, "vec_id", "v", qs, "qid", "qv", 7))
      val win = ranked(Search.multiTopKWindow(corpus, "vec_id", "v", qs, "qid", "qv", 7))
      assert(heap == win, s"$t: batch kernel diverges from the window sort")
      assert(heap.size == 6 * 7)
      // the self-match ties its exact copy; the lower id ranks first
      assert(heap.filter(r => r._1 == 2L && r._3 <= 2L).map(_._2) == Seq(2L, 1000002L))
      // many partitions: partial heaps really merge
      assert(ranked(Search.multiTopK(corpus.repartition(13), "vec_id", "v",
        qs, "qid", "qv", 7)) == win, s"$t: merged partial heaps diverge")
      assert(Search.multiTopK(corpus.filter(lit(false)), "vec_id", "v",
        qs, "qid", "qv", 7).count() == 0)
    }
  }

  test("batch kernel output schema: qid keeps its type, id and rank are bigint") {
    val corpus = edgeCorpus.select(col("vec_id").cast("int").as("vec_id"), col("v"))
    Seq("int", "string").foreach { t =>
      val qs = edgeQueries(corpus).select(col("qid").cast(t).as("qid"), col("qv"))
      val out = Search.multiTopK(corpus, "vec_id", "v", qs, "qid", "qv", 3)
      assert(out.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
        "qid" -> t, "vec_id" -> "bigint", "rank" -> "bigint", "score" -> "double"))
      assert(out.count() == 6 * 3)
    }
  }

  test("IVF probe step: the batch kernel returns the joined heap's (qid, cid) set, nprobe 1..K") {
    import graft.search.IVF
    import org.apache.spark.sql.graftnative.TopKAggregate
    val path = java.nio.file.Files.createTempDirectory("graft_probe").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, 0, path)
    val cents = spark.read.parquet(IVF.centroidsPath(path))
    // float query vectors against the double centroids
    val qs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 16).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Search.queryBatch(qs, "qid", "qv")
    (1 to 8).foreach { p =>
      // the joined formulation: centroids × broadcast queries, one
      // bounded heap per qid
      val want = cents.crossJoin(broadcast(qs))
        .select(col("qid"), col("cid"), VectorF.dot(col("qv"), col("cvec")).as("s"))
        .groupBy("qid")
        .agg(TopKAggregate.topK(col("cid").cast("long"), col("s"), p).as("tk"))
        .select(col("qid"), explode(col("tk.id")).as("cid"))
        .as[(Long, Long)].collect().toSet
      val got = IVF.probePairs(cents, batch, p)
        .map { case (q, c) => (batch.qidOf(q).asInstanceOf[Long], c) }
      assert(got.size == 16 * p && got.toSet == want, s"nprobe=$p")
    }
  }

  test("IVF multi-query serves equal the per-query serves at every nprobe") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivfmulti").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, 0, path)
    val cents = spark.read.parquet(IVF.centroidsPath(path))
    val assigned = IVF.assign(emb, "vec_id", "v", cents).localCheckpoint()
    val qs = emb.filter(col("vec_id") < 4).select(col("vec_id").as("qid"), col("v").as("qv"))
    def perQuery(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      (0L until 4L).flatMap { q =>
        f(emb.filter(col("vec_id") === q).select(col("v").as("qv")))
          .select(lit(q).as("qid"), col("vec_id"), col("rank"), col("score"))
          .as[(Long, Long, Long, Double)].collect()
      }.sortBy(r => (r._1, r._3))
    Seq(1, 3, 8).foreach { p =>
      assert(ranked(IVF.searchIndexMulti(spark, path, "vec_id", "v", qs, "qid", "qv", 10, p)) ==
        perQuery(q => IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, p)),
        s"searchIndexMulti, nprobe=$p")
      assert(ranked(IVF.ivfMultiTopKAssigned(assigned, cents, "vec_id", "v",
          qs, "qid", "qv", 10, p)) ==
        perQuery(q => IVF.ivfTopKAssigned(assigned, cents, "vec_id", "v", q, "qv", 10, p)),
        s"ivfMultiTopKAssigned, nprobe=$p")
    }
  }

  test("IVF: assignment covers the corpus, probe-pruned top-k is a ranked subset") {
    import graft.search.IVF
    val cents = IVF.centroids(emb, "vec_id", "v", 8)
    assert(cents.count() == 8)
    val assigned = IVF.assign(emb, "vec_id", "v", cents)
    assert(assigned.count() == emb.count()) // every vector lands in exactly one list
    val got = IVF.ivfTopK(emb, "vec_id", "v",
      emb.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, 8, 2)
      .select("vec_id", "rank").as[(Long, Long)].collect()
    assert(got.length == 10)
    assert(got.map(_._2).sorted.toSeq == (1L to 10L))
    // the query vector itself is in a probed list (its own best list)
    assert(got.map(_._1).contains(1L))
  }

  test("ANN recall contract: multi-probe and nprobe raise recall, floors hold, full probe is exact") {
    import graft.search.IVF
    val rec = RetrievalQueries.q48AnnRecall(spark, sf0001)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh1 = rec(("lsh", "bits=4 probes=1"))
    val lshH = rec(("lsh", "bits=4 probes=1+H1"))
    val ivf1 = rec(("ivf", "k=8 nprobe=1"))
    val ivf2 = rec(("ivf", "k=8 nprobe=2"))
    val ivf4 = rec(("ivf", "k=8 nprobe=4"))
    // more probes = superset candidates = recall can only rise
    assert(lshH >= lsh1)
    assert(ivf2 >= ivf1 && ivf4 >= ivf2)
    // pinned floors (measured 0.28/0.56/0.78 on sf0.001): a change
    // that silently degrades an ANN path below these fails the build
    assert(lsh1 >= 0.25, s"lsh single-probe recall $lsh1")
    assert(lshH >= 0.50, s"lsh multi-probe recall $lshH")
    assert(ivf4 >= 0.70, s"ivf nprobe=4 recall $ivf4")
    // the PQ dials (round 9): more subspaces = finer reconstruction,
    // bigger codebook = finer cells (measured 0.30/0.32/0.44 — the
    // i.i.d. embeddings are PQ's worst case, so these are
    // non-degeneracy bars, not production targets)
    val pq46 = rec(("pq", "m=4 k=16"))
    val pq86 = rec(("pq", "m=8 k=16"))
    val pq864 = rec(("pq", "m=8 k=64"))
    assert(pq86 >= pq46, s"subspace dial inverted: m=8 $pq86 < m=4 $pq46")
    assert(pq864 >= pq86, s"codebook dial inverted: k=64 $pq864 < k=16 $pq86")
    assert(pq46 >= 0.2, s"pq m=4 k=16 recall $pq46 degenerate")
    // probing every list IS the exact scan
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val full = IVF.ivfMultiTopK(emb, "vec_id", "v", qs, "qid", "qv", 10, 8, 8)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    val exact = Search.multiTopK(emb, "vec_id", "v", qs, "qid", "qv", 10)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    assert(full.toSeq == exact.toSeq)
  }

  test("q124 matryoshka dial: full-dim row is the exact anchor, prefixes degrade gracefully") {
    val rows = RetrievalQueries.q124MatryoshkaRecall(spark, sf0001)
      .as[(Long, Double)].collect().toMap
    assert(rows.keySet == RetrievalQueries.mrlDims.map(_.toLong).toSet)
    // dim 64 = no truncation; the corpus is unit-norm so renormalize
    // is the identity and the row must anchor at exactly 1.0
    assert(rows(64L) == 1.0, s"full-dim anchor ${rows(64L)}")
    assert(rows.values.forall(r => r >= 0.0 && r <= 1.0))
    // the widest prefix must beat the narrowest (measured 1.0 vs
    // 0.18 at sf0.001 — the hash featurizer is not MRL-trained, so
    // narrow prefixes are the pessimistic floor, not a target)
    assert(rows(64L) > rows(8L), s"dim dial inverted: ${rows(64L)} <= ${rows(8L)}")
  }

  test("q126 triplets: positive is the same-label argmax, negatives never share the anchor's label, margin exact") {
    val rows = RetrievalQueries.q126ContrastiveTriplets(spark, sf0001)
      .select("anchor_id", "pos_id", "neg_id", "neg_rank", "pos_sim", "neg_sim", "margin")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.length == 5 * RetrievalQueries.tripletNegs)
    // ground truth recomputed driver-side over the raw table
    val all = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Long, Seq[Double])].collect()
    val byId = all.map(r => r._1 -> r).toMap
    def dotp(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    rows.groupBy(_._1).foreach { case (aid, trip) =>
      val (_, albl, av) = byId(aid)
      val train = all.filter(r => r._1 % 10 != 0)
      // the served positive IS the same-label argmax
      val wantPos = train.filter(_._2 == albl)
        .map(r => (r._1, dotp(r._3, av))).minBy { case (id, s) => (-s, id) }
      assert(trip.forall(_._2 == wantPos._1), s"anchor $aid positive")
      // negatives: different label, descending, the true top-3
      val wantNegs = train.filter(_._2 != albl)
        .map(r => (r._1, dotp(r._3, av))).sortBy { case (id, s) => (-s, id) }
        .take(RetrievalQueries.tripletNegs).map(_._1).toSeq
      assert(trip.sortBy(_._4).map(_._3).toSeq == wantNegs, s"anchor $aid negatives")
      trip.foreach { t =>
        assert(byId(t._3)._2 != albl, s"anchor $aid negative label leak")
        assert(math.abs(t._7 - BigDecimal(t._5 - t._6).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6,
          s"anchor $aid margin arithmetic")
      }
    }
  }

  test("lshMultiTopK single-probe agrees with single-query lshTopK") {
    val q = emb.filter(col("vec_id") === 7)
    val multi = Search.lshMultiTopK(emb, "vec_id", "v",
        q.select(col("vec_id").as("qid"), col("v").as("qv")), "qid", "qv", 10, 4,
        dim = 64, hamming1 = false)
      .select("vec_id", "rank").as[(Long, Long)].collect().sortBy(_._2).toSeq
    val single = Search.lshTopK(emb, "vec_id", "v",
        q.select(col("v").as("qv")), "qv", 10, 4, dim = 64)
      .select("vec_id", "rank").as[(Long, Long)].collect().sortBy(_._2).toSeq
    assert(multi == single)
  }

  test("IVF centroids: sparse/non-contiguous ids still yield exactly k dense cids") {
    import graft.search.IVF
    // an adversarial id space the old id-stride rule would have
    // yielded 0 centroids on (no id divisible by the stride in range)
    val sparse = emb.select((col("vec_id") * 1000003L + 17L).as("vec_id"), col("v"))
    val cents = IVF.centroids(sparse, "vec_id", "v", 8)
    val cids = cents.select("cid").as[Long].collect().sorted.toSeq
    assert(cids == (0L until 8L))
    // deterministic: same frame, same centroids
    val again = IVF.centroids(sparse, "vec_id", "v", 8)
      .select("cid", "cvec").as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val first = cents.select("cid", "cvec")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(again == first)
  }

  test("pinned-generation reads: coherent snapshot across an in-place rebuild, pins expire with the grace window") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_pin").toString
    val base = emb.filter(col("vec_id") >= 50)
    IVF.writeIndex(base, "vec_id", "v", 8, refineIters = 0, path)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    val r0 = rows(IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2))
    val pin0 = IVF.currentGeneration(path)
    // in-place rebuild over the FULL corpus with a retrained quantizer
    // — a genuine semantic change (the query vector itself enters)
    val cents2 = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    IVF.writeIndexFrom(cents2, IVF.assign(emb, "vec_id", "v", cents2), path)
    val r1 = rows(IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2))
    assert(r1 != r0, "rebuild premise: answers must actually change")
    assert(r1.head._1 == 1L, "query vector should now be its own top hit")
    // the pre-rebuild pin keeps serving the OLD (quantizer, lists)
    // pair — bit-identical snapshot, never a mixed pair
    assert(rows(IVF.searchIndexPinned(spark, path, pin0,
      "vec_id", "v", q, "qv", 10, 2)) == r0,
      "pinned read diverged from its snapshot")
    val pin1 = IVF.currentGeneration(path)
    // one more maintenance cycle: the immediately superseded pin
    // survives (grace window), the two-cycle-old pin is GC'd
    IVF.compactIndex(spark, path)
    assert(rows(IVF.searchIndexPinned(spark, path, pin1,
      "vec_id", "v", q, "qv", 10, 2)) == r1,
      "grace-window pin must keep serving")
    val dead = intercept[Exception] {
      IVF.searchIndexPinned(spark, path, pin0,
        "vec_id", "v", q, "qv", 10, 2).collect()
    }
    assert(dead != null, "expired pin must fail loudly, not serve a mixed pair")
  }

  test("delete → upgrade: writeIndexFrom anti-joins the standing sidecar — forgotten stays forgotten across a corpus-sourced rebuild") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_upg_del").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    val pin0 = IVF.currentGeneration(path)
    val doomed = emb.filter(col("vec_id") % 9 === 2)
      .select("vec_id").localCheckpoint()
    val doomedIds = doomed.as[Long].collect().toSet
    assert(IVF.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) == doomed.count())
    // the upgrade: a corpus-sourced rebuild under a retrained
    // quantizer (q141's embedder-upgrade shape) — the input knows
    // nothing about the live generation's sidecar
    val cents2 = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    IVF.writeIndexFrom(cents2, IVF.assign(emb, "vec_id", "v", cents2), path)
    // physically absent from the flipped generation, clean sidecar
    assert(spark.read.parquet(IVF.listsPath(path))
        .join(doomed, Seq("vec_id"), "left_semi").isEmpty,
      "the upgrade resurrected tombstoned ids")
    assert(IVF.tombstoneRows(spark, path) == 0L)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val served = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 20, 8)
      .select("vec_id").as[Long].collect().toSet
    assert(served.intersect(doomedIds).isEmpty)
    // the pinned PRE-upgrade generation keeps hiding them through its
    // own surviving sidecar — both sides of the flip agree
    val pinServed = IVF.searchIndexPinned(spark, path, pin0,
        "vec_id", "v", q, "qv", 20, 8)
      .select("vec_id").as[Long].collect().toSet
    assert(pinServed.intersect(doomedIds).isEmpty,
      "the pinned pre-upgrade serve surfaced a deleted id")
  }

  test("compaction crash-recovery: an orphaned staged generation is versioned past, never overwritten, and GC'd") {
    // the documented crash contract, proven: a crash BEFORE the flip
    // leaves a fully staged generation orphaned with the old one
    // still live — the re-run must (a) derive its version from the
    // LISTING so it can never stage INTO the orphan, (b) flip to a
    // fresh generation, (c) collect the orphan, and (d) serve the
    // exact pre-crash answers (compaction moves bytes, not content)
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def rows() = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    IVF.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") % 9 === 2).select(col("vec_id")), "vec_id", countPresent = true)
    val hidden = rows()
    // simulate the crash: the staged rewrite completed, the flip never ran
    val orphan = new java.io.File(path, "lists__v99")
    graft.FileTree.copy(new java.io.File(IVF.listsPath(path)), orphan)
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v100"),
      s"the re-run must version PAST the orphan, got ${IVF.listsPath(path)}")
    assert(!orphan.exists(),
      "the orphaned generation must be collected by the re-run")
    assert(rows() == hidden,
      "recovery must serve the exact pre-crash answers")
  }

  test("persisted IVF index: partition-pruned search matches in-memory IVF") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val fromIndex = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq
    val inMemory = IVF.ivfTopK(emb, "vec_id", "v", q, "qv", 10, 8, 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq
    assert(fromIndex == inMemory)
    // the probe is a genuine partition filter on the lists scan
    val plan = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(cid"),
      s"expected partition pruning on cid:\n$plan")
  }

  test("IVF append: search over appended index equals full rebuild over the union") {
    import graft.search.IVF
    val base = emb.filter(col("vec_id") >= 50)
    val delta = emb.filter(col("vec_id") < 50)
    val cents = IVF.centroids(base, "vec_id", "v", 8).localCheckpoint()
    val appended = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    IVF.writeIndexFrom(cents, IVF.assign(base, "vec_id", "v", cents), appended)
    IVF.appendToIndex(spark, appended, delta, "vec_id", "v")
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ivf_full").toString
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), rebuilt)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def search(p: String) =
      IVF.searchIndex(spark, p, "vec_id", "v", q, "qv", 10, 2)
        .select("vec_id", "rank", "score")
        .as[(Long, Long, Double)].collect().toSeq
    assert(search(appended) == search(rebuilt))
    // appended rows really landed in the lists (union cardinality)
    assert(spark.read.parquet(IVF.listsPath(appended)).count() == emb.count())
  }

  test("IVF delete: tombstone hides now, compaction removes later, equals rebuild-without-them") {
    import graft.search.IVF
    val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), path)
    val total = emb.count()
    // delete EVERY member of one list (the emptied-list branch) plus
    // a spread set, and two ids the index never held
    val lists = spark.read.parquet(IVF.listsPath(path))
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
    val victimCid = lists.groupBy("cid").count()
      .orderBy(col("count").asc, col("cid").asc).head().getLong(0)
    val doomed = lists.filter(col("cid") === victimCid).select("vec_id")
      .unionAll(emb.filter(col("vec_id") % 11 === 5).select("vec_id"))
      .distinct().localCheckpoint()
    val nDoomed = doomed.count()
    val absent = spark.range(10000000L, 10000002L).toDF("vec_id")
    assert(IVF.deleteFromIndex(spark, path, absent, "vec_id", countPresent = true) == 0L,
      "deleting absent ids must be a no-op")
    assert(!new java.io.File(s"$path/tomb__lists").isDirectory,
      "an all-absent request must not create a sidecar")
    assert(IVF.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) == nDoomed)
    // PHASE 1 is a pure hide: at-rest bytes stand, sidecar holds
    // request∩index, a repeat of the same request counts zero
    assert(spark.read.parquet(IVF.listsPath(path)).count() == total,
      "tombstoning must not touch list bytes")
    assert(spark.read.parquet(s"$path/tomb__lists").count() == nDoomed)
    assert(IVF.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) == 0L,
      "re-deleting tombstoned ids must count zero (no double-counting)")
    assert(IVF.listsRows(spark, path).count() == total - nDoomed)
    // hide-now: search equals an index built without the doomed ids
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ivf_del_rb").toString
    IVF.writeIndexFrom(cents,
      IVF.assign(emb.join(doomed, Seq("vec_id"), "left_anti"), "vec_id", "v", cents),
      rebuilt)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def search(p: String) =
      IVF.searchIndex(spark, p, "vec_id", "v", q, "qv", 10, 2)
        .select("vec_id", "rank", "score")
        .as[(Long, Long, Double)].collect().toSeq
    val want = search(rebuilt)
    assert(search(path) == want)
    // PHASE 2: compaction physically removes, drops the emptied
    // list's directory, starts the fresh generation with a clean
    // sidecar — and a pinned pre-flip reader keeps its coherent
    // (old lists + old sidecar) snapshot through the grace window
    val pin = IVF.currentGeneration(path)
    IVF.compactIndex(spark, path)
    assert(spark.read.parquet(IVF.listsPath(path)).count() == total - nDoomed,
      "compaction must fold the tombstones into the rewrite")
    assert(!new java.io.File(s"${IVF.listsPath(path)}/cid=$victimCid").exists(),
      "a fully-deleted list must drop its directory at compaction")
    val newName = new java.io.File(IVF.listsPath(path)).getName
    assert(!new java.io.File(s"$path/tomb__$newName").isDirectory,
      "the compacted generation must start with a clean sidecar")
    assert(search(path) == want, "post-compaction serve must not move")
    assert(IVF.searchIndexPinned(spark, path, pin, "vec_id", "v", q, "qv", 10, 2)
        .select("vec_id", "rank", "score")
        .as[(Long, Long, Double)].collect().toSeq == want,
      "a grace-window pin must keep serving the delete-filtered snapshot")
  }

  test("IVF delete default is O(request): id-only sidecar, -1 return, hide + compaction still correct") {
    // round 18: the DEFAULT delete path opens no list file and scans
    // no index ids — it appends the distinct request ids to the
    // sidecar and returns -1; the count (and the request∩index
    // (id, cid) sidecar enrichment) is the countPresent = true opt-in
    // pinned by the test above. The hide and the eventual compaction
    // must behave identically under the cheap default.
    import graft.search.IVF
    val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_deldef").toString
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), path)
    val total = emb.count()
    val doomed = emb.filter(col("vec_id") % 11 === 5).select("vec_id")
      .localCheckpoint()
    val nDoomed = doomed.count()
    val listSnap = Option(new java.io.File(IVF.listsPath(path)).listFiles())
      .toSeq.flatten.map(f => (f.getName, f.lastModified)).sortBy(_._1)
    assert(IVF.deleteFromIndex(spark, path, doomed, "vec_id") == -1L,
      "the default (no-count) delete must return the -1 sentinel")
    // the sidecar holds exactly the distinct request, id-only
    val tomb = spark.read.parquet(s"$path/tomb__lists")
    assert(tomb.columns.toSeq == Seq("vec_id"),
      s"default sidecar rows must be id-only, got ${tomb.columns.toSeq}")
    assert(tomb.count() == nDoomed)
    // no list file was opened or touched by the hide
    assert(Option(new java.io.File(IVF.listsPath(path)).listFiles())
        .toSeq.flatten.map(f => (f.getName, f.lastModified)).sortBy(_._1)
      == listSnap, "the default hide must not touch list bytes")
    // serving hides immediately, exactly like the counted path
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ivf_deldef_rb").toString
    IVF.writeIndexFrom(cents,
      IVF.assign(emb.join(doomed, Seq("vec_id"), "left_anti"), "vec_id", "v", cents),
      rebuilt)
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def search(p: String) =
      IVF.searchIndex(spark, p, "vec_id", "v", q, "qv", 10, 2)
        .select("vec_id", "rank", "score")
        .as[(Long, Long, Double)].collect().toSeq
    val want = search(rebuilt)
    assert(search(path) == want)
    // compaction's id-only-sidecar fallback derives the touched lists
    // and physically removes the rows — one amortized column-pruned
    // scan for all accumulated default deletes
    IVF.compactIndex(spark, path)
    assert(spark.read.parquet(IVF.listsPath(path)).count() == total - nDoomed,
      "compaction must fold id-only tombstones into the rewrite")
    assert(search(path) == want, "post-compaction serve must not move")
  }

  test("IVF delete valves: needsCompact trigger, shuffle-degraded hide join, re-ingest compacts first") {
    import graft.search.IVF
    val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_valve").toString
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), path)
    val total = emb.count()
    // trigger silent on a never-deleted index (directory probe only)
    assert(IVF.tombstoneRows(spark, path) == 0L)
    assert(!IVF.needsCompact(spark, path, 0L))
    val doomed = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
      .localCheckpoint()
    val nDoomed = doomed.count()
    assert(IVF.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) == nDoomed)
    // the trigger reads exactly the accumulated sidecar
    assert(IVF.tombstoneRows(spark, path) == nDoomed)
    assert(IVF.needsCompact(spark, path, nDoomed - 1))
    assert(!IVF.needsCompact(spark, path, nDoomed),
      "needsCompact must stay silent at or under the threshold")
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def serve() = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    // the hide join is AQE-governed, not hint-forced: with broadcast
    // disabled (the over-grown-sidecar degradation) it must plan as a
    // shuffle anti-join and serve the same answers
    val hidden = serve()
    assert(hidden.forall(_._1 % 10 != 3))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(serve() == hidden, "shuffle-degraded hide join changed answers")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    // RE-INGEST REVIVES by forcing deletion's phase 2 first: append
    // id 3 back with a DIFFERENT vector — the compaction physically
    // drops every tombstoned copy (old 3 included), then the new row
    // lands as the id's only copy
    val lp0 = IVF.listsPath(path)
    val revive = emb.filter(col("vec_id") === 3)
      .select(col("vec_id"), transform(col("v"), x => x * 2.0).as("v"))
    IVF.appendToIndex(spark, path, revive, "vec_id", "v")
    assert(IVF.listsPath(path) != lp0,
      "a revive append must run the deferred compaction (generation flip)")
    assert(IVF.tombstoneRows(spark, path) == 0L,
      "the revive compaction must fold and clear the whole sidecar")
    val lists = spark.read.parquet(IVF.listsPath(path))
    assert(lists.count() == total - nDoomed + 1)
    assert(lists.filter(col("vec_id") === 3).count() == 1,
      "the revived id must have exactly ONE physical copy")
    // the revived row serves with its NEW vector; the rest of the
    // doomed set stays dead — equals a from-scratch index over
    // exactly that corpus
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_ivf_valve_rb").toString
    IVF.writeIndexFrom(cents,
      IVF.assign(emb.filter(col("vec_id") % 10 =!= 3).unionByName(revive),
        "vec_id", "v", cents),
      rebuilt)
    val want = IVF.searchIndex(spark, rebuilt, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    assert(serve() == want,
      "post-revive serve must equal the rebuild over (survivors + new row)")
  }

  test("IVF compaction generations: repeat compacts advance the pointer, appends land in the live one") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_gen").toString
    IVF.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 8, 0, path)
    IVF.appendToIndex(spark, path, emb.filter(col("vec_id") < 25), "vec_id", "v")
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def search() = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v2"))
    val afterFirst = search()
    // an append AFTER compaction must land in the live generation
    IVF.appendToIndex(spark, path,
      emb.filter(col("vec_id") >= 25 && col("vec_id") < 50), "vec_id", "v")
    assert(spark.read.parquet(IVF.listsPath(path)).count() == emb.count())
    // and a second compaction advances the pointer again, same answers
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v3"))
    assert(IVF.listFileCounts(path).values.forall(_ == 1))
    assert(search().map(_._1).nonEmpty && afterFirst.nonEmpty)
    // GC keeps the immediately superseded generation as the in-flight
    // readers' grace window; generations two cycles old are deleted
    assert(!new java.io.File(s"$path/lists").exists())
    assert(new java.io.File(s"$path/lists__v2").exists(),
      "grace-window generation was deleted")
    // an in-place rebuild STAGES a fresh generation pair (centroids +
    // lists under one pointer flip — a reader can never pair the new
    // quantizer with the old lists) at max(existing)+1, so it cannot
    // collide with the surviving v2/v3 generations
    val cents = spark.read.parquet(IVF.centroidsPath(path)).localCheckpoint()
    IVF.writeIndexFrom(cents,
      IVF.assign(emb, "vec_id", "v", cents), path)
    assert(IVF.listsPath(path).endsWith("lists__v4"),
      s"rebuild should stage past surviving generations, got ${IVF.listsPath(path)}")
    assert(IVF.centroidsPath(path).endsWith("centroids__v4"),
      "rebuild must version the centroids with the lists")
    assert(search() == afterFirst, "in-place rebuild changed answers")
    // the rebuild's GC follows the same grace rule: the generation
    // that was live before the rebuild (v3) and its centroids (the
    // base table) survive one cycle for in-flight readers; older
    // lists (v2) are deleted
    assert(!new java.io.File(s"$path/lists__v2").exists())
    assert(new java.io.File(s"$path/lists__v3").exists(),
      "rebuild deleted the grace-window generation")
    assert(new java.io.File(s"$path/centroids").exists(),
      "rebuild deleted the grace-window centroids")
    // the NEXT maintenance cycle retires the rebuild's grace pair
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v5"))
    assert(IVF.centroidsPath(path).endsWith("centroids__v4"),
      "compaction must keep serving the same quantizer")
    assert(!new java.io.File(s"$path/lists__v3").exists() &&
      !new java.io.File(s"$path/centroids").exists(),
      "generations two cycles old must be GC'd")
    assert(new java.io.File(s"$path/lists__v4").exists())
    assert(search() == afterFirst)
  }

  test("IVF compaction crash window: an orphaned generation never serves; re-running completes") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    IVF.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 8, 0, path)
    IVF.appendToIndex(spark, path, emb.filter(col("vec_id") < 50), "vec_id", "v")
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def search() = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    val before = search()
    // simulate a crash AFTER the new generation is written but BEFORE
    // the pointer flip: the staged dir exists, CURRENT does not point
    // at it — reads must keep serving the old generation untouched
    spark.read.parquet(IVF.listsPath(path)).repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists__v2")
    assert(IVF.listsPath(path).endsWith("/lists"), "orphan generation went live")
    assert(search() == before)
    // re-running compaction from this state completes: the version
    // counter skips PAST the orphan (a name an in-flight reader could
    // in principle hold is never re-staged into), flips the pointer,
    // GCs the orphan, and answers are unchanged
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v3"))
    assert(!new java.io.File(s"$path/lists__v2").exists(),
      "the orphaned generation should be GC'd once a real one commits")
    assert(search() == before)
  }

  test("IVF compaction: one file per list, identical search answers") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    IVF.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 8, 0, path)
    // three append batches -> up to 4 files per touched list
    Seq(0L -> 20L, 20L -> 35L, 35L -> 50L).foreach { case (lo, hi) =>
      IVF.appendToIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), "vec_id", "v")
    }
    assert(IVF.listFileCounts(path).values.max > 1,
      "expected multi-file lists before compaction")
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def search() = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    val before = search()
    IVF.compactIndex(spark, path)
    val counts = IVF.listFileCounts(path)
    assert(counts.nonEmpty && counts.values.forall(_ == 1),
      s"expected one file per list after compaction, got $counts")
    assert(search() == before, "compaction changed search answers")
    assert(spark.read.parquet(IVF.listsPath(path)).count() == emb.count())
  }

  test("IVF compaction carries untouched single-file lists at the file level; only deleted/fragmented lists rewrite") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_carry").toString
    val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), path)
    // delete SOME members of one list — that list must rewrite, the
    // other seven must carry over as raw byte copies
    val lists = spark.read.parquet(IVF.listsPath(path))
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
    val victimCid = lists.groupBy("cid").count()
      .orderBy(col("count").desc, col("cid").asc).head().getLong(0)
    val doomed = lists.filter(col("cid") === victimCid).select("vec_id")
      .orderBy("vec_id").limit(3).localCheckpoint()
    assert(IVF.deleteFromIndex(spark, path, doomed, "vec_id", countPresent = true) == 3L)
    def names(dir: String): Map[Long, Set[String]] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("cid="))
        .map(d => d.getName.stripPrefix("cid=").toLong ->
          Option(d.listFiles()).toSeq.flatten
            .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet)
        .toMap
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def rows() = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 8)
      .select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    val before = names(IVF.listsPath(path))
    val hidden = rows()
    IVF.compactIndex(spark, path)
    val after = names(IVF.listsPath(path))
    // a Spark rewrite mints fresh part-file names; a file-level copy
    // preserves them — identical names prove the carry path ran
    (before.keySet - victimCid).foreach { c =>
      assert(after(c) == before(c),
        s"untouched list $c was rewritten instead of carried (files " +
          s"${before(c)} -> ${after(c)})")
    }
    assert(after(victimCid) != before(victimCid),
      "the deleted-from list must go through the rewrite")
    assert(after.values.forall(_.size == 1), "one file per list after compaction")
    assert(rows() == hidden, "carry must move bytes, never content")
  }

  test("IVF listSizes/needsRefine expose list balance of a persisted index") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_skew").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    val sizes = IVF.listSizes(spark, path)
    assert(sizes.count() <= 8)
    assert(sizes.agg(sum(col("n"))).as[Long].head() == emb.count())
    // every corpus is "skewed" at threshold 0 and balanced at a huge one
    assert(IVF.needsRefine(spark, path, 0.0))
    assert(!IVF.needsRefine(spark, path, 1e9))
  }

  test("IVF k-means refinement improves the quantizer objective") {
    import graft.search.IVF
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      IVF.assign(emb, "vec_id", "v", cents)
        .join(broadcast(cents.select(col("cid").as("c2"), col("cvec"))),
          col("cid") === col("c2"))
        .select(graft.functions.VectorF.dot(col("v"), col("cvec")).as("s"))
        .agg(avg("s")).as[Double].head()
    val init = IVF.centroids(emb, "vec_id", "v", 8)
      .select(col("cid"), graft.functions.VectorF.l2normalize(col("cvec")).as("cvec"))
    val refined = IVF.refine(emb, "vec_id", "v", init, 3)
    assert(refined.count() <= 8)
    // unit-norm centroids of the right dimension
    val norms = refined
      .select(graft.functions.VectorF.norm2(col("cvec"))).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-6))
    // Lloyd steps don't decrease the (spherical) objective (1e-5
    // slack covers the 1e-6 coordinate quantization in the mean)
    assert(objective(refined) >= objective(init) - 1e-5)
  }

  test("refined quantizer does not lose recall vs the seed quantizer at equal nprobe") {
    import graft.search.IVF
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Search.multiTopK(emb, "vec_id", "v", qs, "qid", "qv", 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val assigned = IVF.assign(emb, "vec_id", "v", cents)
      val got = IVF.ivfMultiTopKAssigned(assigned, cents, "vec_id", "v",
          qs, "qid", "qv", 10, 2)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val seed = IVF.centroids(emb, "vec_id", "v", 8)
    val r0 = recall(seed)
    val r1 = recall(IVF.refine(emb, "vec_id", "v", seed, 2))
    assert(r1 >= r0 - 1e-9, s"refined recall $r1 < seed recall $r0")
  }

  test("q58: refined-quantizer search returns a full ranking over genuinely moved centroids") {
    import graft.search.IVF
    val got = RetrievalQueries.q58IvfRefined(spark, sf0001)
      .select("vec_id", "rank").as[(Long, Long)].collect()
    assert(got.length == 10)
    assert(got.map(_._2).sorted.toSeq == (1L to 10L))
    assert(got.map(_._1).contains(2L)) // the query doc is in its own refined list
    // the Lloyd step actually changed the quantizer (otherwise the
    // declared query would be exercising dormant machinery)
    val init = IVF.centroids(emb, "vec_id", "v", 8)
      .select(col("cid"), graft.functions.VectorF.l2normalize(col("cvec")).as("cvec"))
      .as[(Long, Seq[Double])].collect().toMap
    val refined = IVF.refine(emb, "vec_id", "v",
        IVF.centroids(emb, "vec_id", "v", 8), 1)
      .as[(Long, Seq[Double])].collect().toMap
    assert(refined.exists { case (cid, v) => init.get(cid).exists(_ != v) })
  }

  test("dpQueryVec: unit norm, zero attr part") {
    val q = emb.filter(col("vec_id") === 0)
      .select(Search.dpQueryVec(col("v"), 16, 0.7).as("dq"))
      .as[Seq[Double]].head()
    assert(q.size == 64 + 16)
    assert(q.takeRight(16).forall(_ == 0.0))
    assert(math.abs(math.sqrt(q.map(x => x * x).sum) - 1.0) < 1e-6)
  }

  test("MMR: first pick is argmax sim; lambda=1 gives pure relevance order") {
    implicit val s = spark
    val cands = Seq(
      (10L, Seq(1.0, 0.0), 0.9),
      (11L, Seq(0.99, 0.14), 0.85), // redundant with 10
      (12L, Seq(0.0, 1.0), 0.5),    // diverse
      (13L, Seq(0.1, 0.99), 0.4)
    ).toDF("id", "v", "sim")
    val pure = Hybrid.mmrRerank(cands, "id", "v", "sim", 3, 1.0)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(pure == Seq(10L, 11L, 12L))
    val diverse = Hybrid.mmrRerank(cands, "id", "v", "sim", 3, 0.5)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    assert(diverse.head == 10L)   // first pick = argmax sim always
    assert(diverse(1) == 12L)     // diversity beats redundancy at lambda=.5
  }

  test("unionCandidates is order-free distinct union") {
    val a = Seq(1L, 2L, 3L).toDF("id")
    val b = Seq(3L, 4L).toDF("id")
    val u = Hybrid.unionCandidates(a, b, "id").as[Long].collect().toSet
    assert(u == Set(1L, 2L, 3L, 4L))
  }

  test("q107: negatives never carry the query's label and never come from the eval slice") {
    val labels = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val out = RetrievalQueries.q107HardNegatives(spark, sf0001)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (q, n, _) =>
      assert(q % 10 == 0 && n % 10 != 0, s"slice violation: q=$q n=$n")
      assert(labels(q) != labels(n), s"positive leaked: q=$q n=$n label=${labels(q)}")
    }
    // full negative lists: every query returns k=10 ranked 1..10
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to 10L), s"query $q ranks")
    }
  }
}
