package graft.perfbench

import graft.hybrid.Hybrid
import graft.lexical.BM25
import graft.search.{GraphAnn, IVF, Search}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `serve`: read-only RAG serving. Closed loop, one client: 16-query
  * batches, operation types round-robin (exact, dp, ivf, graph,
  * hybrid). The indexes never change, so the session memos stay warm. */
final class Serve(env: Env, docsN: Int, params: IndexParams) {
  import Env._
  private def spark = env.spark
  private val corpus = new Corpus(env.seed)
  private val truth = new Truth(env.embedder)
  private val Batch = 16
  /** Queries of the fixed recall probe (the ivf and graph warm-up). */
  private val ProbeQueries = 128
  private val Types = IndexedSeq("exact", "dp", "ivf", "graph", "hybrid")
  private var set: IndexSet = _
  private var stats: DataFrame = _
  private var nextQid = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]

  def run(sessionS: Double): Outcome = {
    val docs = corpus.docs(0, docsN)
    docs.foreach(truth.put)
    // set-up: the corpus write and every index build
    val b0 = System.nanoTime()
    set = new IndexSet(env, env.dir("serve"), "pb_serve", params,
      withGraph = true, withRegister = false)
    env.docsFrame(docs).coalesce(1).write.mode("overwrite").parquet(env.dir("docs"))
    set.build(env.dir("docs"))
    val buildS = (System.nanoTime() - b0) / 1e9
    val t0 = System.nanoTime()
    stats = BM25.statsFromPostings(set.post).localCheckpoint()
    // warm-up: one untimed operation of each type, outputs checked. The
    // ivf and graph ones serve a fixed 128-query probe whose recall is
    // the run's recall_at_10: a fixed query count, so recall does not
    // depend on how many batches the window held
    Types.foreach { t =>
      val b = batch(if (t == "ivf" || t == "graph") ProbeQueries else Batch)
      serveOp(t, b, expected(b), probe = true)
    }
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + buildS + warmS
    val calib = Calibration.probe(env)

    val lat = mutable.ArrayBuffer.empty[Double]
    val byType = Types.map(_ -> mutable.ArrayBuffer.empty[Timing]).toMap
    val deadline = System.nanoTime() + (env.seconds * 1e9).toLong
    var i = 0
    // at least one batch of every type, however slow the host
    while ((System.nanoTime() < deadline || i < Types.size) && env.failed < 3) {
      val t = Types(i % Types.size)
      val b = batch(Batch)
      val want = expected(b)
      env.op(s"serve.$t")(serveOp(t, b, want, probe = false)).foreach { s =>
        lat += s.wallS
        byType(t) += s
      }
      i += 1
    }
    val (tp, tv) = tail(lat.toSeq)
    // per-type medians, averaged over the five types: the batch cost
    // of the round-robin mix, whatever type the window happened to end on
    def mix(f: Timing => Double): (Seq[(String, Double)], Double) = {
      val byT = Types.map(t => t -> median(byType(t).map(f).toSeq))
      (byT, byT.map(_._2).sum / Types.size)
    }
    val (typeP50, mixP50) = mix(_.wallS)
    val (_, mixCpu) = mix(_.cpuS)
    Outcome(
      Seq(("setup_s", setupS, "s"),
        ("op_cpu_s", mixCpu, "s"),
        ("recall_at_10", recalls.sum / recalls.size, "ratio"),
        ("index_bytes_per_doc", set.bytes.toDouble / docsN, "B")),
      Seq("docs" -> docsN.toString, "batches" -> lat.size.toString,
        "op_p50_s" -> mixP50.toString,
        "serve_qps" -> (Batch / mixP50).toString,
        "serve_batch_p50_s" -> median(lat.toSeq).toString,
        "batch_queries" -> Batch.toString,
        "tail_percentile" -> tp.toString, "serve_batch_tail_s" -> tv.toString,
        "build_s" -> buildS.toString, "warmup_s" -> warmS.toString) ++
        typeP50.map { case (t, v) => s"p50_s.$t" -> v.toString } ++
        calib)
  }

  private def batch(n: Int): Seq[Query] = {
    val qs = corpus.queries(nextQid, n)
    nextQid += n
    qs
  }

  /** The exact top-10 of each query, computed on the Spark driver
    * before the timed call (the check's reference, not the engine's
    * work). */
  private def expected(qs: Seq[Query]): Map[Long, Seq[Long]] =
    qs.map(q => q.qid -> truth.topK(env.embedder.embed(q.text), K)).toMap

  private def results(span: String, got: Map[Long, Seq[Long]]): Map[Long, Seq[Long]] = {
    env.tracer.count(span, "results", got.values.map(_.size).sum)
    got
  }

  private def recall(got: Map[Long, Seq[Long]], want: Map[Long, Seq[Long]]): Unit =
    want.foreach { case (q, w) =>
      recalls += got.getOrElse(q, Nil).count(w.toSet).toDouble / w.size }

  /** One query batch of one operation type, with its output check;
    * the recall probe also records the ivf and graph recall. */
  def serveOp(t: String, qs: Seq[Query], want: Map[Long, Seq[Long]], probe: Boolean): Unit = {
    val qdf = env.queryFrame(qs)
    t match {
      case "exact" =>
        val got = results("search.exact", env.ranked(env.span("search.exact") {
          Search.multiTopK(set.vecs, "doc_id", "vec", qdf, "qid", "qv", K)
            .select("qid", "doc_id", "rank").collect()
        }))
        env.check("exact equals the ground truth")(got == want)
      case "dp" =>
        val dq = qdf.select(col("qid"), Search.dpQueryVec(col("qv"), Env.AttrDim, 0.7).as("qv"))
        val got = results("search.dp", env.ranked(env.span("search.dp") {
          Search.multiTopK(set.dpVecs, "doc_id", "dpv", dq, "qid", "qv", K)
            .select("qid", "doc_id", "rank").collect()
        }))
        env.check("dp returns k distinct ids per query")(
          got.size == qs.size && got.values.forall(r => r.size == K && r.distinct.size == K))
      case "ivf" =>
        val got = results("ivf.search", env.ranked(env.span("ivf.search") {
          IVF.searchIndexMulti(spark, set.ivf, "doc_id", "vec", qdf, "qid", "qv", K, params.nprobe)
            .select("qid", "doc_id", "rank").collect()
        }))
        env.check("ivf returns k ids per query")(got.size == qs.size && got.values.forall(_.size == K))
        if (probe) recall(got, want)
      case "graph" =>
        val got = results("graph.search", env.ranked(env.span("graph.search") {
          GraphAnn.searchIndexMulti(spark, set.graph, "doc_id", qdf, "qid", "qv", K, params.graphEf)
            .select("qid", "doc_id", "rank").collect()
        }))
        env.check("graph returns k ids per query")(got.size == qs.size && got.values.forall(_.size == K))
        if (probe) recall(got, want)
      case "hybrid" =>
        hybrid(qs, qdf)
    }
  }

  /** The reference's rag mode: IVF and BM25 legs, RRF fusion, then an
    * MMR re-rank of each query's fused candidates. */
  private def hybrid(qs: Seq[Query], qdf: DataFrame): Unit = {
    val depth = 2 * K
    val vec = env.span("ivf.search") {
      env.tracer.force(IVF.searchIndexMulti(spark, set.ivf, "doc_id", "vec", qdf, "qid", "qv",
        depth, params.nprobe))
    }
    val lex = env.span("lexical.search") {
      env.tracer.force(BM25.searchIndexedMulti(spark, set.postLive, set.post, stats,
        qs.map(q => (q.qid, q.terms)), depth))
    }
    if (env.tracer.enabled) {
      env.tracer.count("ivf.search", "results", vec.count().toDouble)
      env.tracer.count("lexical.search", "results", lex.count().toDouble)
    }
    val fused = env.span("hybrid.rrf") {
      env.tracer.force(Hybrid.rrfFuseMulti(vec, "doc_id", lex, "doc", 60, K))
    }
    val picks = env.span("hybrid.mmr") {
      val cands = fused.join(set.vecs, fused("id") === col("doc_id"))
        .join(qdf, "qid")
        .select(col("qid"), col("id"), col("vec"),
          graft.functions.VectorF.dot(col("vec"), col("qv")).as("sim"))
        .collect()
      cands.groupBy(_.getLong(0)).map { case (q, rows) =>
        // a local relation: the re-rank's collect runs on the driver
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows.toSeq.map(r =>
            org.apache.spark.sql.Row(r.getLong(1), r.getSeq[Float](2), r.getDouble(3))): _*),
          org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, vec ARRAY<FLOAT>, sim DOUBLE"))
        q -> Hybrid.mmrRerank(local, "id", "vec", "sim", 5, 0.5)(spark)
          .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._2).toSeq
      }
    }
    env.check("hybrid returns distinct MMR picks for every query")(
      picks.size == qs.size && picks.values.forall(p => p.nonEmpty && p.distinct.size == p.size))
  }
}
