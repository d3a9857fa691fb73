package graft

import org.apache.spark.sql.functions._

/** The single-maintenance-writer fence of the generation protocol
  * ([[graft.Generations]]) on every index family. The protected race
  * is two CONCURRENT writers deriving the same next version from the
  * same listing and
  * then racing the create-exclusive marker — the loser of that
  * `createFile` race throws (unit-tested directly, since a
  * sequential test can never lose it: a marker that exists at
  * listing time is COUNTED by the version derivation, so sequential
  * writers always version past each other). The machinery-level
  * properties that ARE sequentially observable: a held marker's
  * version is never staged into by a later writer, a crashed
  * writer's dead marker burns one version number instead of wedging
  * re-runs, and a committing writer sweeps markers at or below its
  * own version. */
class WriterFenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    .localCheckpoint()

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox leaps over the lazy dog"),
    (4L, "completely different content about spark engines"),
    (5L, "spark engines run distributed query plans fast"),
    (6L, "a second spark engine document for the postings")
  ).toDF("doc_id", "text")

  private def markers(dir: java.io.File, prefix: String): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith(prefix)).map(_.getName)

  test("acquire: the loser of a same-version createFile race fails loudly with the contract message") {
    val dir = java.nio.file.Files.createTempDirectory("fence_unit").toFile
    val marker = new java.io.File(dir, "WRITER__v5")
    // writer A wins the create-exclusive
    Generations.acquire(marker, "specA")
    // writer B derived the same version from the same listing — the
    // atomic CREATE_NEW makes it the loser, loudly, before any bytes
    val e = intercept[IllegalStateException] {
      Generations.acquire(marker, "specB")
    }
    assert(e.getMessage.contains("specB"))
    assert(e.getMessage.contains("concurrent maintenance writer"))
    assert(e.getMessage.contains("single-writer"))
  }

  test("markerVersions/sweep: versions parse, sweep stops at upTo") {
    val dir = java.nio.file.Files.createTempDirectory("fence_ms").toFile
    Seq(2, 3, 7).foreach { v =>
      java.nio.file.Files.createFile(
        new java.io.File(dir, s"WRITER__v$v").toPath)
    }
    java.nio.file.Files.createFile(
      new java.io.File(dir, "WRITER__vjunk").toPath) // unparseable: ignored
    assert(Generations.markerVersions(dir, "WRITER__v").sorted == Seq(2, 3, 7))
    Generations.sweep(dir, "WRITER__v", upTo = 3)
    assert(Generations.markerVersions(dir, "WRITER__v") == Seq(7),
      "sweep must drop markers <= upTo and keep those above")
  }

  test("IVF: a held rival marker is never staged into — the next compaction versions PAST it and sweeps") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("fence_ivf").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    // a rival writer holds v2 (the version a naive listing would
    // derive next) — the committed run must never stage lists__v2
    java.nio.file.Files.createFile(
      new java.io.File(path, "WRITER__v2").toPath)
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v3"),
      s"must version past the held marker, got ${IVF.listsPath(path)}")
    assert(!new java.io.File(path, "lists__v2").exists(),
      "the rival's claimed version must never be staged into")
    assert(markers(new java.io.File(path), "WRITER__v").isEmpty,
      "commit sweeps markers at or below its version")
  }

  test("IVF: writeIndexFrom on a live index versions past a held marker") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("fence_ivf_rb").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    java.nio.file.Files.createFile(
      new java.io.File(path, "WRITER__v2").toPath)
    val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), path)
    assert(IVF.listsPath(path).endsWith("lists__v3"))
    assert(!new java.io.File(path, "lists__v2").exists())
  }

  test("GraphAnn: compactTombstones versions past a held marker and sweeps") {
    import graft.search.GraphAnn
    val path = java.nio.file.Files.createTempDirectory("fence_graph").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, path)
    GraphAnn.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") % 9 === 2).select(col("vec_id")), "vec_id", countPresent = true)
    java.nio.file.Files.createFile(
      new java.io.File(path, "WRITER__v2").toPath)
    GraphAnn.compactTombstones(spark, path)
    assert(GraphAnn.currentGeneration(path) == "gen__v3",
      s"must version past the held marker, got ${GraphAnn.currentGeneration(path)}")
    assert(!new java.io.File(path, "gen__v2").exists())
    assert(markers(new java.io.File(path), "WRITER__v").isEmpty)
  }

  test("postings: compactPostings versions past a held marker and sweeps") {
    val tbl = "bm25_fence_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("fence_post").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    val parent = new java.io.File(path).getParentFile
    java.nio.file.Files.createFile(
      new java.io.File(parent, "t__WRITER__v2").toPath)
    val live = Queries.compactPostings(spark, tbl, path)
    assert(live.endsWith("t__gen3"),
      s"must version past the held marker, got $live")
    assert(!new java.io.File(parent, "t__gen2").exists())
    assert(markers(parent, "t__WRITER__v").isEmpty)
  }

  test("register: compactRegister versions past a held marker and sweeps") {
    import graft.dedup.Dedup
    val base = java.nio.file.Files.createTempDirectory("fence_reg").toString
    val path = base + "/reg"
    Dedup.bandedSignatures(docs, "doc_id", "text", 3, 16, 4)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
      .repartition(4, col("sigbucket"))
      .write.mode("overwrite").partitionBy("sigbucket").parquet(path)
    assert(Dedup.deleteFromRegister(spark, path, Seq(1L).toDF("id")) == 1L)
    java.nio.file.Files.createFile(
      new java.io.File(base, "reg__WRITER__v2").toPath)
    val gen = Dedup.compactRegister(spark, path, 4)
    assert(gen.endsWith("reg__gen3"),
      s"must version past the held marker, got $gen")
    assert(!new java.io.File(base, "reg__gen2").exists())
    assert(markers(new java.io.File(base), "reg__WRITER__v").isEmpty)
  }

  test("ordered commits: a stalled writer's stale flip is rejected — the pointer never regresses") {
    import graft.search.{IVF, GraphAnn}
    // the staggered race the fence alone cannot order: writer A
    // claims and stages v2, stalls; writer B claims v3, commits, and
    // sweeps. A wakes up and flips — without the commit guard the
    // pointer would regress to A's stale generation and resurrect
    // whatever B's sidecar was hiding (last-flip-wins)
    val path = java.nio.file.Files.createTempDirectory("fence_commit").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    // A's completed staging of v2 (simulated: a full copy)
    graft.FileTree.copy(new java.io.File(s"$path/lists"),
      new java.io.File(s"$path/lists__v2"))
    graft.FileTree.copy(new java.io.File(s"$path/centroids"),
      new java.io.File(s"$path/centroids__v2"))
    // B: derives past A's dirs, commits v3
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v3"))
    // A wakes up and tries to commit its stale v2
    val e = intercept[IllegalStateException] {
      Generations.flip(new java.io.File(path), "lists__v2 centroids__v2", "specA")
    }
    assert(e.getMessage.contains("stale commit"))
    assert(IVF.listsPath(path).endsWith("lists__v3"),
      "the pointer must never regress to a stale generation")
    // equal-version re-flip is rejected too (idempotent-commit abuse)
    intercept[IllegalStateException] {
      Generations.flip(new java.io.File(path), "lists__v3 centroids__v3", "specA")
    }
    // the graph twin: after a commit at gen__v2, a flip carrying the
    // base generation (v1) must be rejected
    val gp = java.nio.file.Files.createTempDirectory("fence_commit_g").toString
    GraphAnn.writeIndex(emb, "vec_id", "v", m = 8, efC = 48, parts = 4, gp)
    GraphAnn.deleteFromIndex(spark, gp,
      emb.filter(col("vec_id") % 9 === 2).select(col("vec_id")), "vec_id", countPresent = true)
    GraphAnn.compactTombstones(spark, gp)
    val gen = GraphAnn.currentGeneration(gp)
    val eg = intercept[IllegalStateException] {
      Generations.flip(new java.io.File(gp), "", "specA")
    }
    assert(eg.getMessage.contains("stale commit"))
    assert(GraphAnn.currentGeneration(gp) == gen)
  }

  /** One step of an on-disk layout pin: the action, then the exact
    * sorted top-level listing expected after it and the `CURRENT`
    * text (None: no pointer file). */
  private case class Step(name: String, run: () => Unit,
                          listing: Seq[String], current: Option[String])

  /** Drive `steps` in order; after each, the entries of `dir` that
    * `member` selects must list exactly as pinned. */
  private def pinLayout(family: String, dir: java.io.File,
                        member: String => Boolean, steps: Seq[Step]): Unit =
    steps.foreach { st =>
      st.run()
      val got = Option(dir.listFiles()).toSeq.flatten.map(_.getName)
        .filter(member).sorted
      assert(got == st.listing, s"$family/${st.name}: listing $got")
      val cur = new java.io.File(dir, "CURRENT")
      val text = if (cur.isFile) Some(new String(
        java.nio.file.Files.readAllBytes(cur.toPath), "UTF-8")) else None
      assert(text == st.current, s"$family/${st.name}: CURRENT $text")
    }

  test("on-disk layout: every family's generation names, keep sets and CURRENT text through a lifecycle") {
    import graft.dedup.Dedup
    import graft.lexical.BM25
    import graft.search.{GraphAnn, IVF}
    val del = (m: Int) => emb.filter(col("vec_id") % 9 === m).select(col("vec_id"))

    val ivf = java.nio.file.Files.createTempDirectory("layout_ivf").toFile
    val ip = ivf.getPath
    pinLayout("ivf", ivf, _ => true, Seq(
      Step("build", () => IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, ip),
        Seq("centroids", "lists"), None),
      Step("delete", () => IVF.deleteFromIndex(spark, ip, del(2), "vec_id"),
        Seq("centroids", "lists", "tomb__lists"), None),
      Step("compact", () => IVF.compactIndex(spark, ip),
        Seq("CURRENT", "centroids", "lists", "lists__v2", "tomb__lists"),
        Some("lists__v2 centroids")),
      Step("rebuild", () => {
        val cents = IVF.centroids(emb, "vec_id", "v", 8).localCheckpoint()
        IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), ip)
      }, Seq("CURRENT", "centroids", "centroids__v3", "lists__v2", "lists__v3"),
      Some("lists__v3 centroids__v3")),
      Step("compact2", () => IVF.compactIndex(spark, ip),
        Seq("CURRENT", "centroids__v3", "lists__v3", "lists__v4"),
        Some("lists__v4 centroids__v3"))))

    val graph = java.nio.file.Files.createTempDirectory("layout_graph").toFile
    val gp = graph.getPath
    pinLayout("graph", graph, _ => true, Seq(
      Step("build", () => GraphAnn.writeIndex(emb, "vec_id", "v", m = 8,
        efC = 48, parts = 4, gp), Seq("CELLS", "cells", "params", "routing"), None),
      Step("delete", () => GraphAnn.deleteFromIndex(spark, gp, del(2), "vec_id"),
        Seq("CELLS", "cells", "params", "routing", "tombstones"), None),
      Step("compact", () => GraphAnn.compactTombstones(spark, gp),
        Seq("CELLS", "CURRENT", "cells", "gen__v2", "params", "routing", "tombstones"),
        Some("gen__v2")),
      Step("refresh", () => GraphAnn.refreshRouting(spark, gp, 4),
        Seq("CURRENT", "cells", "gen__v2", "gen__v3"), Some("gen__v3"))))

    val regDir = java.nio.file.Files.createTempDirectory("layout_reg").toFile
    var reg = regDir.getPath + "/reg"
    Dedup.writeRegister(Dedup.bandedSignatures(docs, "doc_id", "text", 3, 16, 4)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4))),
      reg, 4)
    pinLayout("register", regDir, _.startsWith("reg"), Seq(
      Step("delete", () => Dedup.deleteFromRegister(spark, reg, Seq(1L).toDF("id")),
        Seq("reg", "reg__tomb"), None),
      Step("compact", () => reg = Dedup.compactRegister(spark, reg, 4),
        Seq("reg", "reg__gen2", "reg__tomb"), None),
      Step("delete2", () => Dedup.deleteFromRegister(spark, reg, Seq(4L).toDF("id")),
        Seq("reg", "reg__gen2", "reg__gen2__tomb", "reg__tomb"), None),
      Step("compact2", () => reg = Dedup.compactRegister(spark, reg, 4),
        Seq("reg__gen2", "reg__gen2__tomb", "reg__gen3"), None)))

    val tbl = "bm25_layout_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val postDir = java.nio.file.Files.createTempDirectory("layout_post").toFile
    var post = postDir.getPath + "/t"
    Queries.writePostings(spark, docs, tbl, post, "overwrite")
    pinLayout("postings", postDir, _.startsWith("t"), Seq(
      Step("delete", () => BM25.deleteFromPostings(spark, post, spark.table(tbl),
        Seq(1L).toDF("doc")), Seq("t", "t__tomb"), None),
      Step("compact", () => post = Queries.compactPostings(spark, tbl, post),
        Seq("t", "t__gen2", "t__tomb"), None),
      Step("delete2", () => BM25.deleteFromPostings(spark, post, spark.table(tbl),
        Seq(4L).toDF("doc")), Seq("t", "t__gen2", "t__gen2__tomb", "t__tomb"),
        None),
      Step("compact2", () => post = Queries.compactPostings(spark, tbl, post),
        Seq("t__gen2", "t__gen2__tomb", "t__gen3"), None)))
  }

  test("IVF: a legacy one-token CURRENT still reads, and the next commit versions past it") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("fence_legacy").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    IVF.compactIndex(spark, path)
    // a pointer written before centroids were versioned names only
    // the lists generation; its quantizer is the base table
    java.nio.file.Files.write(new java.io.File(path, "CURRENT").toPath,
      "lists__v2\n".getBytes("UTF-8"))
    assert(IVF.currentGeneration(path) == ("lists__v2", "centroids"))
    IVF.compactIndex(spark, path)
    assert(IVF.currentGeneration(path) == ("lists__v3", "centroids"))
  }

  test("a crashed writer's dead marker (no staged dir) burns one version, never wedges repeated runs") {
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("fence_dead").toString
    IVF.writeIndex(emb, "vec_id", "v", 8, refineIters = 0, path)
    // a writer crashed right after acquiring, before staging anything:
    // a marker with NO corresponding generation directory
    java.nio.file.Files.createFile(
      new java.io.File(path, "WRITER__v7").toPath)
    // the next run derives v8 (markers count), commits, and the serve
    // is unchanged — the dead marker cost one version number, nothing
    // else, and the commit swept it
    val q = emb.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val before = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq
    IVF.compactIndex(spark, path)
    assert(IVF.listsPath(path).endsWith("lists__v8"),
      s"the run must version past the dead marker, got ${IVF.listsPath(path)}")
    assert(markers(new java.io.File(path), "WRITER__v").isEmpty)
    val after = IVF.searchIndex(spark, path, "vec_id", "v", q, "qv", 10, 2)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq
    assert(after == before)
  }
}
