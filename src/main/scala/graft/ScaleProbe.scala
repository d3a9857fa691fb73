package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: empirical scaling probe. Synthesizes a K-times larger
  * documents/embeddings corpus (id-shifted copies with perturbed
  * text, so dedup structure stays realistic) in /tmp, then times the
  * heaviest pipelines at 1x and Kx to measure their scaling exponent.
  * Usage: sbt "runMain graft.ScaleProbe [K] [query...]"
  * (trailing query names restrict the probe to that subset)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val spark = Sessions.local(defaultCpus = 32, envCpus = false)
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_scale_${k}x"

    // SCALE_PROBE_REUSE: skip the Kx corpus re-synthesis when the dst
    // dir already exists — lets repeated single-query probes (fresh
    // JVM per measurement, to keep streaming state stores and memory
    // sinks from cross-contaminating timings) start at the queries
    if (sys.env.contains("SCALE_PROBE_REUSE") &&
        new java.io.File(s"$dst/events.parquet").exists()) {
      probe(spark, k, src, dst, args)
      spark.stop()
      return
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    // K copies; copy 0 is verbatim, copies >0 get a distinct prefix
    // token so they are near-dups (not exact dups) of the original
    val big = docs.crossJoin(
        spark.range(0, k).toDF("copy"))
      .select((col("doc_id") + col("copy") * nDocs).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(lit("v"), col("copy"), lit(" "), col("text"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    big.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nEmb = emb.count()
    val bigEmb = emb.crossJoin(spark.range(0, k).toDF("copy"))
      .select((col("vec_id") + col("copy") * nEmb).as("vec_id"),
        col("embedding"), col("label"))
    bigEmb.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // events scale along the KEY axis: K id-shifted user populations
    // with the same per-user density/timeline — the growth profile the
    // temporal joins (q62/q66) are built for (per-key work constant,
    // key count K×)
    val ev = spark.read.parquet(s"$src/events.parquet")
    val nEv = ev.count()
    val nUsers = ev.agg(max(col("user_id"))).head.getLong(0) + 1
    ev.crossJoin(spark.range(0, k).toDF("copy"))
      .select((col("event_id") + col("copy") * nEv).as("event_id"),
        col("ts"), (col("user_id") + col("copy") * nUsers).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    // the remaining relational tables aren't probed here; copy the
    // small ones so table loads still resolve
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    probe(spark, k, src, dst, args)
    spark.stop()
  }

  private def probe(spark: SparkSession, k: Int, src: String, dst: String,
                    args: Array[String]): Unit = {
    def time(label: String, dir: String, q: String): Double = {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE $label $q rows=$n ${dt}%.2fs")
      dt
    }

    val defaults = Seq("q30_dedup_exact", "q31_minhash_pairs", "q47_curation_e2e",
      "q20_bm25", "q21_top_terms", "q10_knn_exact", "q11_knn_multi",
      "q16_ann_lsh", "q33_neardup_cosine", "q49_dp_attr_search",
      "q45_ann_ivf", "q58_ivf_refined", "q55_rag_candidates",
      "q62_asof_join", "q66_range_join", "q63_cms_heavy_hitters",
      "q67_quality_quantiles",
      "q59_pq_ann", "q72_chunk_docs", "q73_repetition",
      "q74_decontaminate", "q75_novelty", "q76_int8_quantize",
      "q77_packing_stats", "q78_centroid_classify",
      "q84_ivf_append", "q86_graph_ann", "q87_bm25_append",
      "q88_redact", "q93_prep_e2e", "q89_embedding_pc",
      "q94_all_but_top",
      "q61_stream_sessionize", "q83_stream_stream_join",
      "q95_graph_recall", "q96_ivf_refresh",
      "q97_graph_append", "q98_stream_neardup", "q99_stream_index",
      "q100_substring_dedup", "q101_dsir_weights", "q102_stream_bm25",
      "q103_bpe_train", "q104_bpe_encode",
      "q105_semantic_decon", "q106_substring_dedup_apply",
      "q107_hard_negatives", "q108_budget_allocation",
      "q109_ivf_compact", "q110_hard_negatives_ann",
      "q111_stream_sessionize_append", "q112_perplexity_filter",
      "q113_mixture_sample", "q115_leakfree_split",
      "q116_graph_reroute", "q117_curation_pipeline",
      "q132_curated_pack", "q133_sq_compact", "q134_ivf_multi",
      "q135_sq_multi", "q136_stream_curation", "q194_ivf_derived_k",
      "q195_pq_derived")
    val probeQs = if (args.length > 1) args.drop(1).toSeq else defaults
    probeQs.foreach {
      // vocab-axis probe for the BPE trainer (not a declared query):
      // rounds drive cost, corpus size must not — time 64 merge
      // rounds at both corpus sizes and compare against the q103 row
      // (16 rounds) to separate the two exponents
      case "bpe64" =>
        def timeBpe(label: String, dir: String): Double = {
          val d = graft.sources.Tables.load(spark, dir, "documents")
          val t0 = System.nanoTime()
          val n = graft.text.Bpe.train(d, "text", 64).count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"SCALE $label bpe64 rows=$n ${dt}%.2fs")
          dt
        }
        val a = timeBpe("1x", src)
        val b = timeBpe(s"${k}x", dst)
        println(f"SCALE RATIO bpe64 ${b / a}%.2f (data ${k}x)")
      // cell-local graph delete probe (not a declared query): the
      // complement of q157/q179's %13-spans-every-cell rows — a
      // request confined to ONE cell's members, so SCALE.md can
      // separate the CONTRACT cost (compaction stages a full new
      // generation: O(index) bytes copied) from the REQUEST-SHAPE
      // cost (graph construction reruns only in touched cells:
      // O(touched) CPU). Prints touched/total cells and splits the
      // timing into hide / compaction.
      case "graphcelllocal" =>
        import graft.search.GraphAnn
        def run(label: String, dir: String): (Double, Double) = {
          val idx = RetrievalQueries.graphIndexPath(spark, dir)
          val path = s"/tmp/graft_cell_probe_$label"
          graft.FileTree.delete(new java.io.File(path))
          graft.FileTree.copy(new java.io.File(idx), new java.io.File(path))
          val nodes = GraphAnn.nodesDf(spark, path)
            .select(col("part").cast("int").as("part"), col("id"))
            .localCheckpoint()
          val parts = nodes.select("part").distinct().count()
          // a handful of the smallest cell's members — replicas
          // scatter each id across 2-3 cells, so a genuinely
          // cell-local request must stay small (a 40-id slice of one
          // part touched 33 cells at 10x via replica spread)
          val smallest = nodes.groupBy("part").count()
            .orderBy(col("count").asc, col("part").asc).head().getInt(0)
          val ids = nodes.filter(col("part") === smallest)
            .select(col("id").as("vec_id")).orderBy("vec_id")
            .limit(5).localCheckpoint()
          // touched = cells holding ANY replica of a requested id
          val touched = nodes
            .join(ids.select(col("vec_id").as("id")), Seq("id"), "left_semi")
            .select("part").distinct().count()
          val t0 = System.nanoTime()
          GraphAnn.deleteFromIndex(spark, path, ids, "vec_id")
          val tHide = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          GraphAnn.compactTombstones(spark, path)
          val tComp = (System.nanoTime() - t1) / 1e9
          println(f"SCALE $label graphcelllocal touched=$touched/$parts " +
            f"hide=${tHide}%.2fs compact=${tComp}%.2fs")
          (tHide, tComp)
        }
        val (h1, c1) = run("1x", src)
        val (h2, c2) = run(s"${k}x", dst)
        println(f"SCALE RATIO graphcelllocal hide=${h2 / h1}%.2f " +
          f"compact=${c2 / c1}%.2f (data ${k}x)")
      // exactly-once append overhead probe (not a declared query):
      // the idempotent path stages the batch to scratch and renames
      // each file into the live lists instead of writing them there
      // directly — same bytes written once either way, so the
      // overhead is the renames + one ledger stat and must stay flat
      // as the INDEX grows (only the batch matters). Prints raw vs
      // idempotent append time and the committed-duplicate skip cost.
      case "exactlyonce" =>
        import graft.search.IVF
        def run(label: String, dir: String): (Double, Double) = {
          val e = RetrievalQueries.emb(spark, dir).localCheckpoint()
          val base = e.filter(col("vec_id") % 10 =!= 0)
          val delta = e.filter(col("vec_id") % 10 === 0).localCheckpoint()
          val cents = IVF.centroids(base, "vec_id", "v", 32).localCheckpoint()
          val p = s"/tmp/graft_eo_probe_$label"
          def freshIndex(): Unit = {
            graft.FileTree.delete(new java.io.File(p))
            IVF.writeIndexFrom(cents, IVF.assign(base, "vec_id", "v", cents), p)
          }
          freshIndex()
          val t0 = System.nanoTime()
          IVF.appendToIndex(spark, p, delta, "vec_id", "v")
          val tRaw = (System.nanoTime() - t0) / 1e9
          freshIndex()
          val t1 = System.nanoTime()
          IVF.appendToIndexIdempotent(spark, p, delta, "vec_id", "v", 1L)
          val tIdem = (System.nanoTime() - t1) / 1e9
          val t2 = System.nanoTime()
          IVF.appendToIndexIdempotent(spark, p, delta, "vec_id", "v", 1L)
          val tSkip = (System.nanoTime() - t2) / 1e9
          println(f"SCALE $label exactlyonce raw=${tRaw}%.2fs " +
            f"idem=${tIdem}%.2fs skip=${tSkip}%.4fs overhead=${tIdem / tRaw}%.2f")
          (tRaw, tIdem)
        }
        val (r1, i1) = run("1x", src)
        val (r2, i2) = run(s"${k}x", dst)
        println(f"SCALE RATIO exactlyonce raw=${r2 / r1}%.2f " +
          f"idem=${i2 / i1}%.2f (data ${k}x)")
      case q =>
        val a = time("1x", src, q)
        val b = time(s"${k}x", dst, q)
        println(f"SCALE RATIO $q ${b / a}%.2f (data ${k}x)")
    }
  }
}
