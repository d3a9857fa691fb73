package graft

import graft.functions.VectorF
import graft.hybrid.Hybrid
import org.apache.spark.sql.functions._

/** The composed RAG entry point (SURVEY §3.2): q55 candidate stage +
  * q57 MMR tail. The candidate stage is oracle-checked by the driver;
  * these specs pin the parts the oracle can't see. */
class RagSpec extends SparkSpec {
  import spark.implicits._

  test("RRF fusion: hand-computed scores, absent-term zeros, rank-only input") {
    // vec ranks: a=1, b=2, c=3; lex ranks: b=1, d=2 (scores irrelevant)
    val vec = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("vec_id", "rank")
    val lex = Seq((20L, 1L), (40L, 2L)).toDF("doc", "rank")
    val got = Hybrid.rrfFuse(vec, "vec_id", lex, "doc", 60, 10)
      .select(col("id"), col("rank"), col("score"))
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 20 appears in both: 1/62 + 1/61; singles contribute one term
    val want = Seq(
      20L -> r6(1.0 / 62 + 1.0 / 61),
      10L -> r6(1.0 / 61),
      40L -> r6(1.0 / 62),
      30L -> r6(1.0 / 63))
    assert(got.map(g => (g._1, g._3)).toSeq == want)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
    // the fused id keeps the type the two legs' ids widen to
    val intVec = vec.select(col("vec_id").cast("int").as("vec_id"), col("rank"))
    val intLex = lex.select(col("doc").cast("int").as("doc"), col("rank"))
    Seq((intVec, intLex, "int"), (intVec, lex, "bigint")).foreach { case (v, l, t) =>
      val fused = Hybrid.rrfFuse(v, "vec_id", l, "doc", 60, 10)
      assert(fused.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("id" -> t, "rank" -> "bigint", "score" -> "double"), t)
      assert(fused.select(col("id").cast("long"), col("rank"), col("score"))
        .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq == got.toSeq, t)
    }
    // a NULL id in a leg fuses with nothing and is never served
    val nullVec = vec.union(Seq((Option.empty[Long], 1L)).toDF("vec_id", "rank"))
    assert(Hybrid.rrfFuse(nullVec, "vec_id", lex, "doc", 60, 10)
      .select(col("id"), col("rank"), col("score"))
      .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq == got.toSeq)
  }

  test("rrfFuseMulti equals rrfFuse for each qid") {
    // qid 1: 20 in both legs, 10/30/40 in one leg each; qid 2: 10 and
    // 20 tie on two terms, 30 and 40 on one (ties go to the lower id);
    // qid 3: an empty lexical leg
    val vec = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 10L, 1L), (2L, 20L, 2L), (2L, 30L, 3L),
      (3L, 50L, 1L), (3L, 60L, 2L)).toDF("qid", "vec_id", "rank")
    val lex = Seq((1L, 20L, 1L), (1L, 40L, 2L),
      (2L, 20L, 1L), (2L, 10L, 2L), (2L, 40L, 3L)).toDF("qid", "doc", "rank")
    def fused(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("rank"), col("score")).as[(Long, Long, Double)]
        .collect().toSeq.sortBy(_._2)
    def check(vec: org.apache.spark.sql.DataFrame, lex: org.apache.spark.sql.DataFrame,
              k: Int): Unit = {
      val got = Hybrid.rrfFuseMulti(vec, "vec_id", lex, "doc", 60, k)
        .select(col("qid"), col("id"), col("rank"), col("score"))
        .as[(Long, Long, Long, Double)].collect().toSeq
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3, r._4)).sortBy(_._2) }
      val want = Seq(1L, 2L, 3L).map(q => q -> fused(Hybrid.rrfFuse(
        vec.filter(col("qid") === q), "vec_id", lex.filter(col("qid") === q), "doc", 60, k)))
        .filter(_._2.nonEmpty).toMap
      assert(got == want, s"k = $k")
    }
    check(vec, lex, 10) // k larger than every qid's fused count
    check(vec, lex, 2)
    check(vec, lex.limit(0), 10)
    val ties = fused(Hybrid.rrfFuseMulti(vec, "vec_id", lex, "doc", 60, 10)
      .filter(col("qid") === 2L))
    assert(ties.map(_._1) == Seq(10L, 20L, 30L, 40L))
  }

  test("q118: fused top-10 ⊆ union of the two candidate lists, ranks dense") {
    val df = RetrievalQueries.q118RrfFusion(spark, sf0001)
      .select(col("id"), col("rank")).as[(Long, Long)].collect()
    assert(df.length == 10 && df.map(_._2).sorted.toSeq == (1L to 10L))
    assert(df.map(_._1).distinct.length == 10)
  }

  test("q119 parent-doc: served score IS the max over the doc's chunk scores") {
    val got = RetrievalQueries.q119ParentDoc(spark, sf0001)
      .select(col("doc_id"), col("chunk_id"), col("n_chunks"), col("score"))
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 10)
    // recompute every chunk score independently and check the pooling
    val emb64 = new graft.embed.PortableHashEmbedder(64)
    val qv = emb64.embed("spark hash join").map(_.toDouble)
    val chunks = graft.text.Chunker.chunkRows(
        graft.sources.Tables.load(spark, sf0001, "documents")
          .filter(col("doc_id") < 200), "doc_id", "text",
        PrepQueries.chunkSize, PrepQueries.chunkStride)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      .as[(Long, Long, String)].collect()
    val byDoc = chunks.groupBy(_._1)
    got.foreach { case (doc, chunkId, nChunks, score) =>
      val cs = byDoc(doc).map { case (_, cid, text) =>
        val v = emb64.embed(text).map(_.toDouble)
        (cid, v.zip(qv).map { case (a, b) => a * b }.sum)
      }
      assert(cs.length.toLong == nChunks, s"doc $doc chunk count")
      val (bestCid, bestS) = cs.minBy { case (cid, s) => (-s, cid) }
      assert(bestCid == chunkId, s"doc $doc argmax chunk")
      assert(math.abs(bestS - score) < 1e-6, s"doc $doc max score")
    }
  }

  test("q123 late interaction: served score IS Σ per-unit max over chunk dots") {
    val got = RetrievalQueries.q123LateInteraction(spark, sf0001)
      .select(col("doc_id"), col("rank"), col("n_pos_units"), col("score"))
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 10 && got.map(_._2).sorted.toSeq == (1L to 10L))
    assert(got.forall(r => r._3 >= 0 && r._3 <= Queries.bm25Terms.length))
    // recompute MaxSim independently per top doc: embed every chunk,
    // take each unit's max dot, quantize, sum
    val emb64 = new graft.embed.PortableHashEmbedder(64)
    val units = Queries.bm25Terms.map(t => emb64.embed(t).map(_.toDouble))
    val chunks = graft.text.Chunker.chunkRows(
        graft.sources.Tables.load(spark, sf0001, "documents")
          .filter(col("doc_id") < 200), "doc_id", "text",
        PrepQueries.chunkSize, PrepQueries.chunkStride)
      .select(col("doc_id"), col("chunk_text"))
      .as[(Long, String)].collect()
    val byDoc = chunks.groupBy(_._1)
    got.foreach { case (doc, _, nPos, score) =>
      val cvs = byDoc(doc).map(c => emb64.embed(c._2).map(_.toDouble))
      val maxq = units.map(u =>
        math.round(cvs.map(v => v.zip(u).map { case (a, b) => a * b }.sum).max * 1e6))
      assert(maxq.count(_ > 0).toLong == nPos, s"doc $doc unit coverage")
      assert(math.abs(maxq.sum / 1e6 - score) < 1e-9, s"doc $doc MaxSim score")
    }
    // the multi-vector property: at least one served doc matches ALL
    // units positively (different passages can answer different terms)
    assert(got.exists(_._3 == Queries.bm25Terms.length))
  }

  test("q162 cascade forget: deferred compaction physically drops every derived row on BOTH artifacts, serves unchanged") {
    // the phase-2 pin behind q162's hide-now gates: after the declared
    // query tombstones the doc request into the postings sidecar and
    // its derived chunk keys into the index sidecar, compacting each
    // artifact must drop exactly the cascaded rows — no orphaned
    // derived data anywhere — and serve the identical fused answer
    import graft.search.IVF
    import graft.lexical.BM25
    val hidden = RetrievalQueries.q162CascadeForget(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSeq
    val ivfPath = PipelineQueries.roundtripPath(sf0001, "q162_ivf")
    val postPath = PipelineQueries.roundtripPath(sf0001, "q162_post")
    val tbl = "bm25_cascade_" + PipelineQueries.sanitizeTag(sf0001)
    val chunksBefore = spark.read.parquet(IVF.listsPath(ivfPath)).count()
    val tombChunks = spark.read.parquet(Tombstones.ofLists(IVF.listsPath(ivfPath))).count()
    IVF.compactIndex(spark, ivfPath)
    assert(spark.read.parquet(IVF.listsPath(ivfPath)).count()
      == chunksBefore - tombChunks,
      "index compaction must drop exactly the cascaded chunk rows")
    val postBefore = spark.table(tbl).count()
    val tombDocs = spark.read.parquet(Tombstones.beside(postPath))
    val deadPost = spark.table(tbl)
      .join(tombDocs, Seq("doc"), "left_semi").count()
    val live = Queries.compactPostings(spark, tbl, postPath)
    assert(spark.table(tbl).count() == postBefore - deadPost,
      "postings compaction must drop exactly the forgotten docs' rows")
    // remove-later ≡ hide-now at the composed serve
    val post = spark.table(tbl)
    val qv = new graft.embed.PortableHashEmbedder(64)
      .embed(Queries.bm25Terms.mkString(" ")).map(_.toDouble).toSeq
    val chunks = IVF.searchIndex(spark, ivfPath, "ckey", "v",
      spark.range(1).select(typedLit(qv).as("qv")), "qv",
      RetrievalQueries.rrfDepth, RetrievalQueries.ivfProbe)
    val vecDocs = chunks
      .select(expr("ckey div 4096").as("id"), col("score"))
      .groupBy("id").agg(max(col("score")).as("__s"))
      .withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("__s").desc, col("id").asc)).cast("long"))
    val lex = BM25.searchIndexed(spark, live, post,
      BM25.statsFromPostings(post), Queries.bm25Terms, RetrievalQueries.rrfDepth)
    val served = Hybrid.rrfFuse(vecDocs, "id", lex, "doc",
        RetrievalQueries.rrfC, 10)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(served == hidden,
      "hide-now and remove-later must serve the identical fused answer")
  }

  test("q55 candidates: legs contribute, ids distinct, sims bounded") {
    val c = RetrievalQueries.q55RagCandidates(spark, sf0001)
      .select("id", "in_vec", "in_lex", "sim")
      .as[(Long, Int, Int, Double)].collect()
    assert(c.nonEmpty)
    assert(c.forall(r => r._2 == 1 || r._3 == 1)) // every candidate has a provenance
    assert(c.exists(_._2 == 1) && c.exists(_._3 == 1)) // both legs fire
    assert(c.map(_._1).distinct.length == c.length) // union is distinct
    assert(c.forall(r => math.abs(r._4) <= 1.0 + 1e-6)) // normalized cosines
    // the query document itself is its own nearest neighbor
    assert(c.exists(r => r._1 == 0L && r._2 == 1))
  }

  test("lambda=1 MMR over the q55 frame degenerates to pure vector order") {
    implicit val s = spark
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("id"),
        VectorF.l2normalize(col("embedding").cast("array<double>")).as("nv"))
    val cands = RetrievalQueries.q55RagCandidates(spark, sf0001).join(e, "id")
    val pure = Hybrid.mmrRerank(cands, "id", "nv", "sim", 10, 1.0)
      .orderBy("rank").select("id").as[Long].collect().toSeq
    val want = cands.orderBy(col("sim").desc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    assert(pure == want)
  }

  test("q57 RAG e2e returns 10 ranked rows with resolved snippets") {
    val rows = RetrievalQueries.q57RagE2e(spark, sf0001)
      .select("rank", "id", "snippet").as[(Long, Long, String)].collect().toSeq
    assert(rows.map(_._1) == (1L to 10L))
    assert(rows.map(_._2).distinct.length == 10)
    assert(rows.forall(_._3.nonEmpty))
    // MMR's first pick is always the argmax-sim candidate = the query doc
    assert(rows.head._2 == 0L)
  }
}
