package graft

/** Throwaway profiling experiments (not part of the library surface).
  * Edit freely: time a query, dump a plan, probe a cross-engine
  * numeric question — whatever the current investigation needs. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(defaultCpus = 16)
    // round 9: dump a named-query subset to parquet for a fast local
    // oracle spot-check (tools/oracle_check.py on the partial dir)
    if (args.contains("dumpsubset")) {
      val out = "/tmp/verify_subset"
      new java.io.File(out).mkdirs()
      args.drop(2).filter(SparkEntry.queries.contains).foreach { name =>
        SparkEntry.queries(name)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
        println(s"dumped $name")
      }
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
      spark.stop(); return
    }
    // round 16: measure pinned-vs-flipped divergence of the graph
    // batch serve (q181 gate calibration) — the flip REBUILDS touched
    // cells, so beams navigate different edges; how many of the 16
    // queries' top-10 sets differ, and by how much?
    if (args.contains("graphpinneddiv")) {
      import org.apache.spark.sql.functions._
      import graft.search.GraphAnn
      val e = RetrievalQueries.emb(spark, dir)
      val path = "/tmp/graft_q181_div"
      graft.FileTree.delete(new java.io.File(path))
      graft.FileTree.copy(new java.io.File(RetrievalQueries.graphIndexPath(spark, dir)),
        new java.io.File(path))
      val delIds = e.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
      GraphAnn.deleteFromIndex(spark, path, delIds, "vec_id")
      val qs = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val pin = GraphAnn.currentGeneration(path)
      val probe = RetrievalQueries.graphProbeFor(spark, dir)
      def serve(gen: Option[String]) = (gen match {
        case Some(g) => GraphAnn.searchIndexMultiPinned(spark, path, g,
          "vec_id", qs, "qid", "qv", 10, RetrievalQueries.graphEf, probeParts = probe)
        case None => GraphAnn.searchIndexMulti(spark, path, "vec_id",
          qs, "qid", "qv", 10, RetrievalQueries.graphEf, probeParts = probe)
      }).collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val pinned = serve(Some(pin))
      GraphAnn.compactTombstones(spark, path)
      val pinned2 = serve(Some(pin))
      val current = serve(None)
      println(s"pin-stable: ${pinned == pinned2}")
      val overlaps = pinned.keys.toSeq.sorted.map { q =>
        val o = (pinned(q) intersect current(q)).size
        println(s"qid=$q overlap=$o/10")
        o
      }
      println(s"min overlap=${overlaps.min}, total=${overlaps.sum}/160")
      spark.stop(); return
    }
    // round 14: q152 banded-growth probe — candidate pairs vs
    // all-pairs as the image corpus grows 10× (the dedup candidate-
    // tracking story on the perceptual-hash axis)
    if (args.contains("dhashgrowth")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      for (n <- Seq(60, 600)) {
        val t0 = System.nanoTime()
        val feats = spark.range(n).select(col("id").as("media_id")).as[Long]
          .mapPartitions(_.map { id =>
            val (w, h, px) = PipelineQueries.dhashPattern(id)
            (id, PipelineQueries.dhash64(
              graft.multimodal.Png.decode(graft.multimodal.Png.encode(w, h, px))))
          }).toDF("media_id", "dhash").localCheckpoint()
        val bands = feats.select(col("media_id"),
            posexplode(array((0 until 4).map(j =>
              shiftright(col("dhash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*)))
          .toDF("media_id", "band", "bval")
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
              col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id"), col("b.media_id")).distinct().count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"DHASHGROWTH n=$n cand=$cand allpairs=${n.toLong * (n - 1) / 2} sec=$dt%.2f")
      }
      spark.stop(); return
    }
    // round 10: clustered-corpus probe diagnosis — recall per probe
    // incl. full probe, separating routing loss from beam loss
    if (args.contains("clustdiag")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val nClusters = 16; val perCluster = 125
      val docs = graft.search.ClusteredFixture
        .rows(nClusters = nClusters, perCluster = perCluster)
        .toDF("vec_id", "v").localCheckpoint()
      val path = "/tmp/graft_clustdiag/idx"
      graft.FileTree.delete(new java.io.File("/tmp/graft_clustdiag"))
      graft.search.GraphAnn.writeIndex(docs, "vec_id", "v", 8, 48, nClusters, path)
      val qs = docs.filter(col("vec_id") % (4L * perCluster) === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(docs, "vec_id", "v", qs, "qid", "qv", 10)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      for (p <- Seq(2, 3, 4, 8, nClusters)) {
        val got = graft.search.GraphAnn.searchIndexMulti(spark, path, "vec_id",
            qs, "qid", "qv", 10, 48, probeParts = p)
          .select("qid", "vec_id").as[(Long, Long)].collect().toSet
        val perQ = exact.groupBy(_._1).map { case (q, s) =>
          q -> s.count(got.contains) }
        println(s"CLUSTDIAG probe=$p recall=${(exact & got).size.toDouble / exact.size} perQ=${perQ.toSeq.sortBy(_._1)}")
      }
      spark.stop(); return
    }
    // round 17 debug: interleaved lifecycle copy-count probe
    if (args.contains("graphdbg")) {
      import org.apache.spark.sql.functions._
      import graft.search.GraphAnn
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val path = "/tmp/graft_dbg/idx"
      graft.FileTree.delete(new java.io.File("/tmp/graft_dbg"))
      GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, 8, path)
      GraphAnn.refreshRouting(spark, path, 8)
      GraphAnn.refreshRouting(spark, path, 8)
      val gen2 = GraphAnn.currentGeneration(path)
      val nMax = e.count()
      val extra = e.limit(1)
        .select((col("vec_id") + lit(10L * nMax)).as("vec_id"), col("v"))
      GraphAnn.appendToIndex(spark, path, extra, "vec_id", "v")
      val live = GraphAnn.nodesDfPinned(spark, path, gen2)
        .filter(col("id") >= 10L * nMax)
      println("COPIES=" + live.count())
      live.select("part", "id").show(10)
      println("cells p dirs:")
      new java.io.File(s"$path/cells").listFiles().sortBy(_.getName).foreach { p =>
        println("  " + p.getName + " -> " + p.listFiles().map(_.getName).sorted.mkString(","))
      }
      println("CELLS=" + new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$path/$gen2/CELLS"))))
      spark.stop(); return
    }
    // round 17: serving wall at the FIXED-COUNT default as the corpus
    // grows — the whole point of the constant probe: per-serve work
    // (routing top-P job + P cell beams + merge) should be flat in N.
    // Reuses the graphfixed indexes (/tmp/graft_fixed/graph_r3_p*).
    if (args.contains("graphserve")) {
      import org.apache.spark.sql.functions._
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint()
      val n = e.count()
      val parts = math.max(8, math.ceil(n.toDouble / 500).toInt)
      val path = s"/tmp/graft_fixed/graph_r3_p$parts"
      if (!new java.io.File(s"$path/CELLS").isFile)
        graft.search.GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, parts, path)
      val qs = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      // one warm serve (parquet footers), then three timed serves
      def serve(): Long = graft.search.GraphAnn.searchIndexMulti(spark, path,
        "vec_id", qs, "qid", "qv", 10, 48).count()
      serve()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); serve(); (System.nanoTime() - t0) / 1e9
      }
      println(f"GRAPHSERVE sf=$dir%s n=$n parts=$parts " +
        f"probe=${graft.search.GraphAnn.autoProbe(parts, 3)} " +
        f"min=${times.min}%.2f med=${times.sorted.apply(1)}%.2f")
      spark.stop(); return
    }
    // round 18: serving wall + recall at the NEW decades under the
    // shipped defaults — two-level routing (supercell sidecars) +
    // fixed P=8 autoProbe. Rebuilds the graphbig corpus's index with
    // the current builder (so routing2c/routing2 exist), then times
    // three 50-query serves at AutoProbe and prints recall vs exact.
    // Usage: runMain graft.Scratch <dir> graphserve2 <K>
    if (args.contains("graphserve2")) {
      import org.apache.spark.sql.functions._
      val k = args(args.indexOf("graphserve2") + 1).toInt
      val corpus = s"/tmp/graft_fixed/emb_${k}x.parquet"
      val e = spark.read.parquet(corpus).localCheckpoint()
      val n = e.count()
      val parts = math.max(8, math.ceil(n.toDouble / 500).toInt)
      val path = s"/tmp/graft_fixed/graph_big2_r3_p$parts"
      if (!new java.io.File(s"$path/routing2c").isDirectory) {
        graft.FileTree.delete(new java.io.File(path))
        val t0 = System.nanoTime()
        graft.search.GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, parts, path)
        println(f"GRAPHSERVE2 build n=$n parts=$parts ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      val qs = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", 10)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      def serve() = graft.search.GraphAnn.searchIndexMulti(spark, path,
        "vec_id", qs, "qid", "qv", 10, 48)
      serve().count() // warm footers
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); serve().count(); (System.nanoTime() - t0) / 1e9
      }
      val hits = exact.join(serve().select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_semi").count()
      println(f"GRAPHSERVE2 n=$n parts=$parts " +
        f"probe=${graft.search.GraphAnn.autoProbe(parts, 3)} twoLevel=true " +
        f"recall=${hits / exactN}%.4f " +
        f"min=${times.min}%.2f med=${times.sorted.apply(1)}%.2f")
      spark.stop(); return
    }
    // round 18: the R=2 fixed-count question — autoProbe kept the
    // coverage-1.5 knee for replicas < 3 because fixed-count was only
    // measured at R=3. Sweeps constant probes on R=2 indexes at the
    // same rungs (pass a dir: /tmp/graft_scale_{10,30}x, or the
    // graphbig corpus via 'big120'). ANSWERED: flat and equal to the
    // full scan at 40/120/480 cells — the R=2 branch dropped its
    // linear term (see autoProbe's scaladoc for the numbers).
    if (args.contains("graphfixedr2")) {
      import org.apache.spark.sql.functions._
      val big = args.contains("big120")
      val e = (if (big) spark.read.parquet("/tmp/graft_fixed/emb_120x.parquet")
        else graft.sources.Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        .localCheckpoint()
      val n = e.count()
      val parts = math.max(8, math.ceil(n.toDouble / 500).toInt)
      val nq = 50; val kk = 10
      val qs = e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", kk)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      val path = s"/tmp/graft_fixed/graph_r2_p$parts"
      if (!new java.io.File(s"$path/CELLS").isFile) {
        val routing = graft.search.GraphAnn.routingFor(e, "vec_id", "v", parts)
        val t0 = System.nanoTime()
        graft.search.GraphAnn.writeIndexWith(routing, e, "vec_id", "v",
          8, 48, path, replicas = 2)
        println(f"GRAPHFIXEDR2 build n=$n parts=$parts ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      for (probe <- Seq(2, 3, 8, 16).filter(_ <= parts); ef <- Seq(48, 96)) {
        val t1 = System.nanoTime()
        val hits = exact.join(
          graft.search.GraphAnn.searchIndexMulti(spark, path, "vec_id",
            qs, "qid", "qv", kk, ef, probeParts = probe)
            .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count()
        println(f"GRAPHFIXEDR2 n=$n parts=$parts R=2 probe=$probe " +
          f"cov=${probe * 2.0 / parts}%.4f ef=$ef " +
          f"recall=${hits / exactN}%.4f sec=${(System.nanoTime() - t1) / 1e9}%.1f")
      }
      spark.stop(); return
    }
    // round 18: the ≥480-cell decades for autoProbe — the round-17
    // fixed-count sweep stopped at parts=120; the default's growth
    // guard stays linear-in-N beyond 480 cells until these decades
    // are measured. Synthesizes an embeddings-only K× corpus with
    // DETERMINISTIC per-copy perturbation (sigma 0.08, renormalized —
    // exact copies would make routing degenerate once cells approach
    // the 2,000 distinct base points; perturbed copies give 2,000
    // fuzzy clusters, the clustered shape real corpora show), builds
    // the R=3 index at parts = ceil(N/500), and sweeps recall@10 at
    // CONSTANT probe counts vs the exact scan over 50 base queries.
    // K=120 → parts=480; K=375 → parts=1500.
    // round 19: dump the two-level assignment's physical plan at a
    // >=128-cell geometry — eyeball the exchanges (broadcast only on
    // the packed supercell row and the skinny pairs, shuffles on
    // spart/id, no corpus-sized broadcast, codegen spans wide)
    if (args.contains("assignplan")) {
      import org.apache.spark.sql.functions._
      import graft.search.Assign
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint()
      val cells = Assign.routingTableFor(e, "vec_id", "v", 160)
        .localCheckpoint()
      val plan = Assign.topR(e, "vec_id", "v", cells, 3,
        cells.count().toInt)
      plan.explain("formatted")
      println("ASSIGNPLAN rows=" + plan.count())
      spark.stop(); return
    }
    // round 19: BUILD-ASSIGNMENT regime measurement — the retired
    // quadratic term, old (flat fold) vs new (two-level through the
    // persisted sidecars), over the round-18 big corpora/indexes at
    // 480 and 1500 cells. Prints per-rung walls; the flat/flat and
    // two/two cross-rung ratios are the complexity signature
    // (N×parts ≈ 9.8× vs N×√parts ≈ 5.5× for 3.1× data), plus the
    // selection symmetric-diff between the two paths at each rung.
    // Usage: runMain graft.Scratch <ignored> assignscale [480|1500|both]
    if (args.contains("assignscale")) {
      import org.apache.spark.sql.functions._
      import graft.search.Assign
      val which = args.lift(args.indexOf("assignscale") + 1).getOrElse("both")
      val rungs = Seq(
        (480, "/tmp/graft_fixed/emb_120x.parquet",
          "/tmp/graft_fixed/graph_big2_r3_p480"),
        (1500, "/tmp/graft_fixed/emb_375x.parquet",
          "/tmp/graft_fixed/graph_big2_r3_p1500"))
        .filter(r => which == "both" || which == r._1.toString)
      for ((parts, embPath, idxPath) <- rungs) {
        val e = spark.read.parquet(embPath).localCheckpoint()
        val n = e.count()
        val root = graft.search.GraphAnn.tablePath(idxPath, "routing")
          .stripSuffix("/routing")
        val cells = spark.read.parquet(s"$root/routing")
          .select(col("part").cast("int").as("part"),
            col("rvec").cast("array<double>").as("rvec")).localCheckpoint()
        val tabs = Some((
          spark.read.parquet(s"$root/routing2c")
            .select(col("spart").cast("int").as("spart"),
              col("srvec").cast("array<double>").as("srvec")).localCheckpoint(),
          spark.read.parquet(s"$root/routing2")
            .select(col("spart").cast("int").as("spart"),
              col("part").cast("int").as("part"),
              col("rvec").cast("array<double>").as("rvec")).localCheckpoint()))
        def time(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val c = f
          (c, (System.nanoTime() - t0) / 1e9)
        }
        val (cFlat, sFlat) = time(
          Assign.flatTopR(e, "vec_id", "v", cells, 3).count())
        val (cTwo, sTwo) = time(
          Assign.topR(e, "vec_id", "v", cells, 3, cells.count().toInt, tabs)
            .count())
        val diff = Assign.flatTopR(e, "vec_id", "v", cells, 3)
          .select(col("id"), col("part"))
          .exceptAll(Assign.topR(e, "vec_id", "v", cells, 3,
              cells.count().toInt, tabs).select(col("id"), col("part")))
          .count()
        println(f"ASSIGNSCALE parts=$parts n=$n flat=$sFlat%.1fs " +
          f"two=$sTwo%.1fs rows flat=$cFlat two=$cTwo diff=$diff " +
          f"speedup=${sFlat / sTwo}%.2fx")
      }
      spark.stop(); return
    }
    // round 19: the SUPERCELL regime one more decade out (~5k cells,
    // the verdict's #4) — parts = 5000 over the persisted 750k
    // corpus: train routing (now itself two-level per Lloyd pass),
    // build the index, and measure two-level vs flat SELECTION
    // equality at P=8 over 50 queries plus routed recall@10 and the
    // serving wall. SPARK_GRAFT_5K_REUSE=1 skips the build.
    // Usage: runMain graft.Scratch <ignored> graphfive
    if (args.contains("graphfive")) {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      import graft.search.{Assign, GraphAnn}
      val e = spark.read.parquet("/tmp/graft_fixed/emb_375x.parquet")
        .localCheckpoint()
      val n = e.count()
      val parts = 5000
      val path = s"/tmp/graft_fixed/graph_r19_p$parts"
      if (!sys.env.contains("SPARK_GRAFT_5K_REUSE") ||
          !new java.io.File(s"$path/CELLS").isFile) {
        val t0 = System.nanoTime()
        GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, parts, path)
        println(f"GRAPHFIVE build n=$n parts=$parts " +
          f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      val root = GraphAnn.tablePath(path, "routing").stripSuffix("/routing")
      val routing = spark.read.parquet(s"$root/routing")
        .select(col("part").cast("int"), col("rvec").cast("array<double>"))
        .as[(Int, Seq[Double])].collect()
        .map { case (p, v) => (p, v.toArray) }.sortBy(_._1)
      println(s"GRAPHFIVE live cells=${routing.length}")
      val nq = 50; val k = 10
      val qvs = e.filter(col("vec_id") < nq)
        .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .collect().map { case (q, v) => (q, v.toArray) }
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }; s
      }
      val probe = Assign.SuperProbe
      val want = qvs.map { case (qid, qv) =>
        qid -> routing.map { case (p, rv) => (p, dot(rv, qv)) }
          .sortBy { case (p, s) => (-s, p) }.take(probe).map(_._1).toSet
      }.toMap
      val got = GraphAnn.routeQueriesDf(spark, root, qvs, probe)
        .as[(Long, Int)].collect().toSeq
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      val matched = qvs.count { case (q, _) => got.get(q).contains(want(q)) }
      println(s"GRAPHFIVE selection matched=$matched/$nq at S=8 P=$probe")
      val qs = qvs.toSeq.map { case (q, v) => (q, v.toSeq) }
        .toDF("qid", "qv")
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v",
          qs, "qid", "qv", k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      for (ef <- Seq(48, 96)) {
        val t1 = System.nanoTime()
        val hits = exact.join(
          GraphAnn.searchIndexMulti(spark, path, "vec_id", qs, "qid", "qv",
            k, ef).select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count()
        println(f"GRAPHFIVE parts=${routing.length} P=$probe ef=$ef " +
          f"recall=${hits / exactN}%.4f sec=${(System.nanoTime() - t1) / 1e9}%.1f")
      }
      spark.stop(); return
    }
    // round 19: CELL-OCCUPANCY sweep (the verdict's #5) — is 500
    // vectors/cell the right target? Build the 240k corpus at
    // occupancy {250, 500, 1000} (parts {960, 480, 240}) and measure
    // build wall, routed recall@10 at the shipped defaults, and the
    // 50-query serving wall.
    // Usage: runMain graft.Scratch <ignored> occsweep
    if (args.contains("occsweep")) {
      import org.apache.spark.sql.functions._
      import graft.search.GraphAnn
      val e = spark.read.parquet("/tmp/graft_fixed/emb_120x.parquet")
        .localCheckpoint()
      val n = e.count()
      val nq = 50; val k = 10
      val qs = e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v",
          qs, "qid", "qv", k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      for (occ <- Seq(250, 500, 1000)) {
        val parts = math.ceil(n.toDouble / occ).toInt
        val path = s"/tmp/graft_fixed/graph_occ$occ"
        val t0 = System.nanoTime()
        GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, parts, path)
        val build = (System.nanoTime() - t0) / 1e9
        for (ef <- Seq(48, 96)) {
          val t1 = System.nanoTime()
          val hits = exact.join(
            GraphAnn.searchIndexMulti(spark, path, "vec_id", qs, "qid",
              "qv", k, ef).select(col("qid"), col("vec_id")),
            Seq("qid", "vec_id"), "left_semi").count()
          println(f"OCCSWEEP occ=$occ parts=$parts build=$build%.1fs " +
            f"ef=$ef recall=${hits / exactN}%.4f " +
            f"serve=${(System.nanoTime() - t1) / 1e9}%.1fs")
        }
        graft.FileTree.delete(new java.io.File(path))
      }
      spark.stop(); return
    }
    if (args.contains("graphbig")) {
      import org.apache.spark.sql.functions._
      val k = args(args.indexOf("graphbig") + 1).toInt
      val src = "/root/testdata/sf0.1"
      val e0 = spark.read.parquet(s"$src/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val n0 = e0.count()
      val corpus = s"/tmp/graft_fixed/emb_${k}x.parquet"
      if (!new java.io.File(corpus).exists())
        e0.crossJoin(spark.range(0, k).toDF("copy"))
          .select((col("vec_id") + col("copy") * n0).as("vec_id"),
            when(col("copy") === 0, col("v")).otherwise(
              graft.functions.VectorF.l2normalize(graft.functions.VectorF
                .addNoise(col("v"), col("vec_id") + col("copy") * n0, 0.08)))
              .as("v"))
          .repartition(32)
          .write.mode("overwrite").parquet(corpus)
      val e = spark.read.parquet(corpus).localCheckpoint()
      val n = e.count()
      val parts = math.max(8, math.ceil(n.toDouble / 500).toInt)
      val nq = 50; val kk = 10
      val qs = e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", kk)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      val path = s"/tmp/graft_fixed/graph_big_r3_p$parts"
      if (!new java.io.File(s"$path/CELLS").isFile) {
        val t0 = System.nanoTime()
        graft.search.GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, parts, path)
        println(f"GRAPHBIG build n=$n parts=$parts ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      for (probe <- Seq(3, 8, 16); ef <- Seq(48, 96)) {
        val t1 = System.nanoTime()
        val hits = exact.join(
          graft.search.GraphAnn.searchIndexMulti(spark, path, "vec_id",
            qs, "qid", "qv", kk, ef, probeParts = probe)
            .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count()
        println(f"GRAPHBIG n=$n parts=$parts probe=$probe " +
          f"cov=${probe * 3.0 / parts}%.4f ef=$ef " +
          f"recall=${hits / exactN}%.4f sec=${(System.nanoTime() - t1) / 1e9}%.1f")
      }
      spark.stop(); return
    }
    // round 17: the FIXED-COUNT probing regime — recall at CONSTANT
    // probe counts (P independent of parts, the SPANN serving shape)
    // below the coverage-0.75 floor the round-11 sweep stopped at.
    // Run against /tmp/graft_scale_10x (parts=40) and _30x (parts=120)
    // to decide whether autoProbe's default can drop its linear term.
    if (args.contains("graphfixed")) {
      import org.apache.spark.sql.functions._
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint()
      val n = e.count()
      val parts = math.max(8, math.ceil(n.toDouble / 500).toInt)
      val nq = 50; val k = 10
      val qs = e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      val path = s"/tmp/graft_fixed/graph_r3_p$parts"
      if (!new java.io.File(s"$path/CELLS").isFile) {
        val t0 = System.nanoTime()
        graft.search.GraphAnn.writeIndex(e, "vec_id", "v", 8, 48, parts, path)
        println(f"GRAPHFIXED build parts=$parts ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      for (probe <- Seq(2, 3, 4, 6, 8, 12, 16, 24).filter(_ <= parts)
             ++ Seq(parts);
           ef <- Seq(48, 96)) {
        val t1 = System.nanoTime()
        val hits = exact.join(
          graft.search.GraphAnn.searchIndexMulti(spark, path, "vec_id",
            qs, "qid", "qv", k, ef, probeParts = probe)
            .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count()
        println(f"GRAPHFIXED sf=$dir%s parts=$parts probe=$probe " +
          f"cov=${probe * 3.0 / parts}%.2f ef=$ef " +
          f"recall=${hits / exactN}%.4f sec=${(System.nanoTime() - t1) / 1e9}%.1f")
      }
      spark.stop(); return
    }
    // round 10: routed-graph recall sweep — (replication, probe, ef)
    // dials at the CURRENT sf, 50 queries, vs the exact top-10
    if (args.contains("graphsweep")) {
      import org.apache.spark.sql.functions._
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint()
      val n = e.count()
      val parts = math.max(8, math.ceil(n.toDouble / 500).toInt)
      val nq = 50; val k = 10
      val qs = e.filter(col("vec_id") < nq)
        .select(col("vec_id").as("qid"), col("v").as("qv")).localCheckpoint()
      val exact = graft.search.Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val exactN = exact.count().toDouble
      val routing = graft.search.GraphAnn.routingFor(e, "vec_id", "v", parts)
        .localCheckpoint()
      def recallAt(path: String, probe: Int, ef: Int): (Double, Double) = {
        val t1 = System.nanoTime()
        val hits = exact.join(
          graft.search.GraphAnn.searchIndexMulti(spark, path, "vec_id",
            qs, "qid", "qv", k, ef, probeParts = probe)
            .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi").count()
        (hits / exactN, (System.nanoTime() - t1) / 1e9)
      }
      for (r <- Seq(2, 3)) {
        val path = s"/tmp/graft_sweep/graph_r$r"
        val t0 = System.nanoTime()
        graft.search.GraphAnn.writeIndexWith(routing, e, "vec_id", "v",
          8, 48, path, replicas = r)
        val buildSec = (System.nanoTime() - t0) / 1e9
        val dials = Seq(0.25, 1.0 / 3, 0.5, 2.0 / 3).map(f =>
          math.max(2, math.ceil(parts * f).toInt))
        for (probe <- (dials :+ parts).distinct; ef <- Seq(48, 96)) {
          val (rec, sec) = recallAt(path, probe, ef)
          println(f"GRAPHSWEEP sf=$dir%s parts=$parts R=$r probe=$probe " +
            f"ef=$ef recall=$rec%.4f sec=$sec%.1f build=$buildSec%.1f")
        }
      }
      spark.stop(); return
    }
    // round 20: per-JOB profile of named bench entries — a listener
    // records every Spark job's callsite + wall time while the entry
    // runs, so a 10-second lifecycle row decomposes into its build /
    // gate / serve / write jobs without touching the engine (the
    // guide's "label your jobs" discipline, supplied by callSite).
    // Output: one line per job (desc, sec) sorted by cost, plus the
    // gap between entry wall time and summed job time (= driver-side
    // planning/commit work that never became a job).
    if (args.contains("jobprofile")) {
      val names = args.drop(args.indexOf("jobprofile") + 1)
      val inflight = new scala.collection.concurrent.TrieMap[Int, (String, Long)]()
      val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
      // executionId → the SQL action's callsite, so AQE-stage and
      // broadcast-exchange jobs (whose own callsite is the thread-pool
      // frame) attribute to the action that triggered them
      val execDesc = new scala.collection.concurrent.TrieMap[String, String]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              execDesc(s.executionId.toString) = s.description.takeWhile(_ != '\n').take(90)
            case _ => ()
          }
      })
      // (start, end, desc) intervals for the driver-gap report: wall
      // time not covered by ANY job is driver-side (planning, commit
      // protocol, file ops) — the report names the job each gap
      // precedes so the stall attributes to real code
      val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val base = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim))
            .getOrElse("?")
          val desc =
            if (!base.contains("withThreadLocalCaptured")) base
            else Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
                .orElse(Option(p.getProperty("spark.sql.execution.id"))))
              .flatMap(execDesc.get).map("exec: " + _).getOrElse(base)
          inflight(js.jobId) = (desc, js.time)
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          inflight.remove(je.jobId).foreach { case (d, t0) =>
            done.add((d, (je.time - t0) / 1e3))
            spans.add((t0, je.time, d)) }
      })
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("nation", "lineitem", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      for (n <- names) {
        done.clear(); spans.clear()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        if (SparkEntry.builds.contains(n)) SparkEntry.builds(n)(spark, dir)
        else { SparkEntry.queries(n)(spark, dir).count(); () }
        val wall = (System.nanoTime() - t0) / 1e9
        val w1 = System.currentTimeMillis()
        Thread.sleep(200) // let trailing listener events drain
        import scala.jdk.CollectionConverters._
        val jobs = done.asScala.toSeq
        val byDesc = jobs.groupBy(_._1).view
          .mapValues(v => (v.size, v.map(_._2).sum)).toSeq
          .sortBy(-_._2._2)
        println(f"JOBPROFILE $n wall=$wall%.2f jobs=${jobs.size} jobsec=${jobs.map(_._2).sum}%.2f")
        byDesc.foreach { case (d, (c, s)) =>
          println(f"  $s%7.2f  n=$c%-3d $d") }
        // driver-gap report: merge job intervals, walk the uncovered
        // wall; report gaps >= 150 ms with the job that ENDED the gap
        val iv = spans.asScala.toSeq.filter(_._2 > w0).sortBy(_._1)
        var cursor = w0
        var gapTot = 0L
        val gaps = scala.collection.mutable.ArrayBuffer[(Long, String)]()
        for ((s0, e0, d) <- iv) {
          if (s0 > cursor) { gapTot += s0 - cursor
            if (s0 - cursor >= 150) gaps += ((s0 - cursor, d)) }
          cursor = math.max(cursor, e0)
        }
        if (w1 > cursor) { gapTot += w1 - cursor
          if (w1 - cursor >= 150) gaps += ((w1 - cursor, "<end of entry>")) }
        println(f"  DRIVERGAP total=${gapTot / 1e3}%.2f s uncovered; gaps >= 150ms:")
        gaps.sortBy(-_._1).take(20).foreach { case (ms, d) =>
          println(f"    ${ms / 1e3}%6.2f  before ${d}") }
      }
      spark.stop(); return
    }
    // round 20: the pure micro-batch floor — drain a staged source
    // with a NO-OP foreachBatch (the body only counts the batch), so
    // the per-batch offset/commit/planning overhead is measured
    // separately from any row's declared batch body.
    if (args.contains("streamfloor")) {
      val stage = args(args.indexOf("streamfloor") + 1)
      val reps = 3
      for (i <- 1 to reps) {
        val schema = spark.read.parquet(stage).schema
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
        val t0 = System.nanoTime()
        var batches = 0
        graft.streaming.Streaming.runForeachBatch(spark, src,
          (b, _) => { b.count(); batches += 1 })
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"STREAMFLOOR rep=$i batches=$batches sec=$sec%.2f perBatch=${sec / math.max(1, batches)}%.3f")
      }
      spark.stop(); return
    }
    // round 20: dump the kernel-plan evidence pairs for the refine
    // mean swap and the assignAuto join-back removal. The AFTER plans
    // come from the REAL kernels (IVF.assignAuto at two-level scale;
    // the refine iteration body is reconstructed verbatim from
    // IVF.refine's code); the BEFORE plans rebuild the retired idioms
    // inline — the same evidence shape as round 19's gateplans pair.
    if (args.contains("r20kernplans")) {
      import org.apache.spark.sql.functions._
      val out = args(args.indexOf("r20kernplans") + 1)
      new java.io.File(out).mkdirs()
      def fmt(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val e = RetrievalQueries.emb(spark, dir)
      val cents = graft.search.IVF.centroids(e, "vec_id", "v", 8)
        .localCheckpoint()
      val assigned = graft.search.IVF.assign(e, "vec_id", "v", cents)
      // refine-iteration mean: OLD posexplode → two aggregates
      val oldIter = assigned
        .select(col("cid"), posexplode(col("v")))
        .toDF("cid", "pos", "x")
        .groupBy("cid", "pos")
        .agg((sum(round(col("x") * 1e6).cast("long")).cast("double") /
          (count(lit(1)).cast("double") * 1e6)).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), graft.functions.VectorF.l2normalize(
          transform(col("pm"), p => p.getField("m"))).as("cvec"))
      // refine-iteration mean: NEW one-pass QuantMeanVec (the exact
      // frame IVF.refine now builds per iteration)
      val newIter = assigned
        .groupBy(col("cid"))
        .agg(org.apache.spark.sql.graftnative.QuantMeanAggregate
          .quantMean(col("v")).as("pm"))
        .where(col("pm").isNotNull)
        .select(col("cid"), graft.functions.VectorF.l2normalize(col("pm")).as("cvec"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/refine_iter_before.txt"),
        "== OLD refine iteration: posexplode -> groupBy(cid,pos) -> " +
          "groupBy(cid) — N x d row inflation, TWO exchanges ==\n" + fmt(oldIter))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/refine_iter_after.txt"),
        "== NEW refine iteration: ONE QuantMeanVec aggregate — map-side " +
          "partial aggregation, one exchange, no explode ==\n" + fmt(newIter))
      // assignAuto at two-level scale: OLD = topR (vec join-back) then
      // discard vec + second id-join; NEW = the real assignAuto
      // (topRPairs, one join)
      val cells160 = graft.search.IVF.centroids(e, "vec_id", "v", 160)
        .select(col("cid").cast("int").as("part"),
          col("cvec").cast("array<double>").as("rvec"))
        .localCheckpoint()
      val oldPairs = graft.search.Assign.topR(
          e.select(col("vec_id"), col("v")), "vec_id", "v",
          cells160, r = 1, parts = 160)
        .select(col("id").as("__aid"), col("part").cast("long").as("cid"))
      val oldAssign = e.join(oldPairs, e("vec_id").cast("long") === col("__aid"))
        .select(e.columns.map(e(_)).toSeq :+ col("cid"): _*)
      val newAssign = graft.search.IVF.assignAuto(
        e, "vec_id", "v",
        cells160.select(col("part").cast("long").as("cid"),
          col("rvec").as("cvec")), 160)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/assign_auto_before.txt"),
        "== OLD assignAuto (two-level): topR joins the corpus to " +
          "reattach vec, assignAuto discards it and joins the corpus " +
          "AGAIN — two id-keyed corpus joins ==\n" + fmt(oldAssign))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/assign_auto_after.txt"),
        "== NEW assignAuto (two-level): topRPairs -> ONE id-join onto " +
          "the caller's frame ==\n" + fmt(newAssign))
      println("kernel plans dumped")
      spark.stop(); return
    }
    // round 19: dump the gate-idiom plan evidence — the q185-shaped
    // equality gate (at-rest lists vs a fresh assignment) planned the
    // old way (two ExceptAlls) and the new way (Gates' one signed
    // union + aggregate) — to <out>/gate_multiset_{before,after}.txt.
    if (args.contains("gateplans")) {
      import org.apache.spark.sql.functions._
      val out = args(args.indexOf("gateplans") + 1)
      new java.io.File(out).mkdirs()
      val e = RetrievalQueries.emb(spark, dir)
      val path = "/tmp/graft_gateplan_idx"
      graft.search.IVF.writeIndex(e.filter(col("vec_id") >= 100),
        "vec_id", "v", 8, 0, path)
      val cents = spark.read.parquet(graft.search.IVF.centroidsPath(path))
      val streamed = spark.read.parquet(graft.search.IVF.listsPath(path))
        .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
      val expected = graft.search.IVF.assign(e.filter(col("vec_id") >= 100),
          "vec_id", "v", cents)
        .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
      def fmt(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/gate_multiset_before.txt"),
        "== OLD GATE: a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty ==\n" +
          "== job 1: a.exceptAll(b) — evaluates BOTH inputs ==\n" +
          fmt(streamed.exceptAll(expected)) +
          "\n== job 2: b.exceptAll(a) — evaluates BOTH inputs AGAIN ==\n" +
          fmt(expected.exceptAll(streamed)))
      val tagged = Gates.signedCounts(streamed, expected)
        .where(col("__gate_d") =!= 0L)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/gate_multiset_after.txt"),
        "== NEW GATE: Gates.sameRows — ONE signed union + aggregate, " +
          "each input evaluated once ==\n" + fmt(tagged))
      println("gate plans dumped")
      spark.stop(); return
    }
    // round 19: dump the formatted physical plan of named declared
    // queries to <out>/<name>.txt (the plans/r19 evidence files).
    // Constructing a lifecycle row's frame still runs its in-query
    // actions (builds, drains, gates) — only the returned frame's
    // plan is dumped.
    if (args.contains("dumpplans")) {
      val rest = args.drop(args.indexOf("dumpplans") + 1)
      val out = rest.head
      new java.io.File(out).mkdirs()
      rest.tail.foreach { q =>
        val df = SparkEntry.queries(q)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/$q.txt"), txt)
        println(s"planned $q")
      }
      spark.stop(); return
    }
    // round 19: config-A/B harness — time a named subset of bench
    // entries (build names and query names both accepted, run
    // name-sorted with builds first, after the Bench warm-up +
    // calibration) so a session-config candidate can be measured on
    // the rows it targets without a full 10-minute bench run. Configs
    // come in via -Dspark.* system properties (SparkConf picks them
    // up), e.g.:
    //   SPARK_GRAFT_CPUS=32 java -Dspark.hadoop.fs.file.impl=... \
    //     -cp ... graft.Scratch /root/testdata/sf0.1 benchsubset q109_ivf_compact ...
    if (args.contains("benchsubset")) {
      val names = args.drop(args.indexOf("benchsubset") + 1)
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("nation", "lineitem", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      val t0c = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id % 97)").collect()
      spark.read.parquet(s"$dir/lineitem.parquet")
        .selectExpr("sum(l_quantity)", "count(distinct l_partkey)").collect()
      println(f"CALIB ${(System.nanoTime() - t0c) / 1e9}%.3f")
      val ioT0 = System.nanoTime()
      val ioDir = java.nio.file.Files.createTempDirectory("graft_iocalib").toString
      spark.range(2000000L).selectExpr("id", "md5(cast(id as string)) as h")
        .write.mode("overwrite").parquet(ioDir)
      spark.read.parquet(ioDir).selectExpr("count(distinct h)").collect()
      println(f"IOCALIB ${(System.nanoTime() - ioT0) / 1e9}%.3f")
      FileTree.delete(new java.io.File(ioDir))
      val (builds, queries) = names.distinct.sorted.partition(SparkEntry.builds.contains)
      var total = 0.0
      for (n <- builds) {
        val t0 = System.nanoTime()
        SparkEntry.builds(n)(spark, dir)
        val sec = (System.nanoTime() - t0) / 1e9
        total += sec
        println(f"BUILD $n $sec%.3f")
      }
      for (n <- queries) {
        require(SparkEntry.queries.contains(n), s"unknown bench entry: $n")
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        total += sec
        println(f"QUERY $n $sec%.3f")
      }
      println(f"SUBTOTAL $total%.3f over ${names.distinct.length} entries")
      spark.stop(); return
    }
    // one-off: how many micro-batches does the q61 drain split into
    // on a directory-shaped (32-part-file) staged source?
    if (args.contains("probe61batches")) {
      val stage = "/tmp/graft_rt/events_stream__tmp_graft_scale_10x"
      val schema = spark.read.parquet(stage).schema
      val ev = spark.readStream.schema(schema).parquet(stage)
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      val t0 = System.nanoTime()
      val q = graft.streaming.Streaming.sessionize(ev, "30 minutes").writeStream
        .format("memory").queryName("probe61").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      println(s"PROBE61 batches=${q.recentProgress.length} " +
        s"ids=${q.recentProgress.map(_.batchId).mkString(",")} " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      spark.stop(); return
    }
    val dumped = scala.collection.mutable.LinkedHashMap[String, String]()
    for (q <- args.drop(1)) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      val n = df.count()
      println(f"SCRATCH $q rows=$n ${(System.nanoTime() - t0) / 1e9}%.2fs")
      df.show(5, truncate = false)
      // optional dump for a targeted tools/oracle_check.py run —
      // accumulated across the arg list (a per-query overwrite would
      // leave only the last query's oracle entry), escaped by the
      // same jstr as the Verify/Bench dumps
      sys.env.get("SCRATCH_OUT").foreach { out =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        SparkEntry.oracleSql.get(q).foreach(sql => dumped += q -> sql)
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
          dumped.map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
            .mkString("{", ", ", "}").getBytes)
      }
    }
    spark.stop()
  }
}
