package graft

import graft.dedup.Dedup
import graft.lexical.BM25
import graft.search.{GraphAnn, IVF, SQ}
import graft.streaming.ExactlyOnce
import org.apache.spark.sql.functions._

/** The exactly-once streaming-append contract
  * ([[graft.streaming.ExactlyOnce]]): a foreachBatch sink re-runs a
  * batch whose checkpoint commit did not land, and every crash window
  * of the idempotent appends must CONVERGE on the single-delivery
  * state instead of doubling rows. */
class ExactlyOnceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def bandsOf(d: org.apache.spark.sql.DataFrame) =
    Dedup.bandedSignatures(d, "doc_id", "text", 3, 16, 4)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))

  /** Spark jobs `body` runs on this thread: jobs carrying the probe's
    * local property, counted once the closing bracket job's start
    * event has come off the (asynchronous) listener bus — events
    * arrive in submission order, so every earlier job start has too. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("eo.probe")))
          .foreach(tags.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty("eo.probe", "body")
      try body finally sc.setLocalProperty("eo.probe", null)
      sc.setLocalProperty("eo.probe", "close")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("eo.probe", null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!tags.contains("close") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains("close"), "the closing bracket job never reached the listener")
      tags.toArray.count(_ == "body")
    } finally sc.removeSparkListener(l)
  }

  test("partKey/promotedName: task + bucket + file counter parsed, non-data files skipped, bucket suffix survives") {
    assert(ExactlyOnce.partKey(
      "part-00003-0aa6256b-9ea6-4c07-8d5f-ab.c000.snappy.parquet")
      == Some((3, None, Some("c000"))))
    assert(ExactlyOnce.partKey(
      "part-00012-0aa6256b-9ea6-4c07-8d5f-ab_00007.c000.snappy.parquet")
      == Some((12, Some("00007"), Some("c000"))))
    // a task that ROLLS files (maxRecordsPerFile) emits c001/c002/…
    // for the same (task, bucket) — the counter must key the
    // promoted name or the REPLACE rename would keep only one roll.
    // Unbucketed writers put the counter IN THE BASE (-c002),
    // bucketed writers in the extensions (.c002) — both parse
    assert(ExactlyOnce.partKey(
      "part-00003-0aa6256b-9ea6-4c07-8d5f-ab-c002.snappy.parquet")
      == Some((3, None, Some("c002"))))
    assert(ExactlyOnce.partKey(
      "part-00012-0aa6256b-9ea6-4c07-8d5f-ab_00007.c002.snappy.parquet")
      == Some((12, Some("00007"), Some("c002"))))
    // a write uuid whose last segment reads `c` + digits is not the
    // counter: the promoted name must not depend on the run's uuid
    assert(ExactlyOnce.partKey(
      "part-00000-0aa6256b-9ea6-4c07-8d5f-c94186886476.c000.snappy.parquet")
      == Some((0, None, Some("c000"))))
    assert(ExactlyOnce.partKey("_SUCCESS").isEmpty)
    assert(ExactlyOnce.partKey(".part-00003.crc").isEmpty)
    assert(ExactlyOnce.promotedName(5L, 3, None, Some("c000"))
      == "b5-p00003-c000.parquet")
    assert(ExactlyOnce.promotedName(5L, 3, None, Some("c002"))
      == "b5-p00003-c002.parquet")
    assert(ExactlyOnce.promotedName(5L, 12, Some("00007"), Some("c000"))
      == "b5-p00012-c000_00007.parquet")
    // counterless legacy names still promote (no silent skip)
    assert(ExactlyOnce.promotedName(5L, 3, None, None) == "b5-p00003.parquet")
  }

  test("a rolled task (maxRecordsPerFile) promotes EVERY roll; a counter-blind collision fails loudly") {
    // stage a batch whose one shuffle partition rolls into several
    // files — before round 17 all rolls mapped to one promoted name
    // and REPLACE silently kept only the last: row loss inside the
    // protocol built to prevent it
    val live = java.nio.file.Files.createTempDirectory("eo_roll").toFile
    val stage = ExactlyOnce.stageDir(live, 7L)
    spark.range(0, 1000).toDF("id").coalesce(1)
      .write.option("maxRecordsPerFile", 100)
      .mode("overwrite").parquet(stage.getPath)
    val staged = Option(stage.listFiles()).toSeq.flatten
      .count(f => f.getName.startsWith("part-"))
    assert(staged > 1, s"fixture must roll several files, got $staged")
    ExactlyOnce.promote(stage, live, 7L)
    val promoted = Option(live.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("b7-p"))
    assert(promoted.size == staged,
      s"every roll must promote: staged $staged, promoted ${promoted.size}")
    assert(spark.read.parquet(live.getPath).count() == 1000L,
      "no rows may be lost across the rolled promotion")
    // two staged files that the parser cannot tell apart must fail
    // loudly instead of silently replacing each other
    val live2 = java.nio.file.Files.createTempDirectory("eo_collide").toFile
    val stage2 = ExactlyOnce.stageDir(live2, 8L)
    stage2.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(stage2, "part-00001-aaaa.c000.parquet").toPath,
      Array[Byte](1))
    java.nio.file.Files.write(
      new java.io.File(stage2, "part-00001-bbbb.c000.parquet").toPath,
      Array[Byte](2))
    val ex = intercept[IllegalStateException] {
      ExactlyOnce.promote(stage2, live2, 8L)
    }
    assert(ex.getMessage.contains("both map to promoted name"))
  }

  test("sweepLedger: markers below the watermark retire (tmp debris too); intents and live markers survive") {
    val ledger = java.nio.file.Files.createTempDirectory("eo_ledger").toFile
    Seq(0L, 1L, 2L).foreach(ExactlyOnce.commit(ledger, _))
    // an intent marker (the graph family's in-flight recovery signal)
    // and a stale commit temp ride along
    java.nio.file.Files.createFile(new java.io.File(ledger, "i1").toPath)
    java.nio.file.Files.write(
      new java.io.File(ledger, ".b0.deadbeef.tmp").toPath, Array[Byte](0))
    assert(ExactlyOnce.sweepLedger(ledger, 2L) == 3) // b0, b1, .b0 tmp
    val left = Option(ledger.listFiles()).toSeq.flatten.map(_.getName).toSet
    assert(left == Set("b2", "i1"),
      s"only the live marker and the intent may survive, got $left")
    assert(!ExactlyOnce.isApplied(ledger, 0L) && ExactlyOnce.isApplied(ledger, 2L))
  }

  test("drain-wired ledger sweep: markers retire at the checkpoint watermark; a swept batch is impossible to re-deliver") {
    // the retirement path the ledger contract promised: after each
    // resumable drain, markers below the checkpoint's committed
    // low-watermark sweep — and re-delivery of a swept batch is
    // impossible BY CONSTRUCTION (the commit log is already past
    // it), so the sweep opens no silent re-application window. A
    // years-lived stream's ledger stays O(live window), not one
    // marker file per batch forever.
    import graft.streaming.Streaming
    val root = java.nio.file.Files.createTempDirectory("eo_sweep").toString
    val live = s"$root/live"; val ckpt = s"$root/ckpt"; val idx = s"$root/idx"
    new java.io.File(live).mkdirs()
    IVF.writeIndex(emb.filter(col("vec_id") >= 100), "vec_id", "v", 8, 0, idx)
    val staged = PipelineQueries.stageOrderedFiles(
      emb.filter(col("vec_id") < 100), "vec_id", 4, s"$root/staged")
    val files = Option(new java.io.File(staged).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.length == 4)
    val ledger = IVF.appendLedger(idx)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(staged).schema)
        .option("maxFilesPerTrigger", 1).parquet(live)
      Streaming.runForeachBatchResumable(spark, src, ckpt, (b, id) => {
        delivered += id
        IVF.appendToIndexIdempotent(spark, idx, b.localCheckpoint(),
          "vec_id", "v", id)
      }, sweepLedgers = Seq(ledger))
    }
    def markers(): Set[String] = Option(ledger.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("b")).toSet
    files.take(2).foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(live, f.getName)) }
    drain()
    assert(delivered.toSeq == Seq(0L, 1L))
    val wm1 = Streaming.checkpointWatermark(ckpt)
    assert(wm1.contains(2L), s"watermark after two committed batches, got $wm1")
    assert(markers().isEmpty,
      s"every marker is below the watermark and must retire, got ${markers()}")
    // impossible by construction: the same checkpoint re-drained with
    // no new files re-delivers NOTHING — the swept batches' commits
    // are in the log, so their absence from the ledger cannot matter
    drain()
    assert(delivered.toSeq == Seq(0L, 1L),
      "a swept batch must never be re-delivered by its own checkpoint")
    // new files continue PAST the watermark — batch ids never reuse a
    // swept id, so the ledger's no-marker state is always consistent
    files.drop(2).foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(live, f.getName)) }
    drain()
    assert(delivered.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(markers().isEmpty)
    // end-to-end: the swept-ledger stream still lands every row
    // exactly once
    val cents = spark.read.parquet(IVF.centroidsPath(idx))
    val streamed = spark.read.parquet(IVF.listsPath(idx))
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    val expected = IVF.assign(emb, "vec_id", "v", cents)
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    assert(streamed.exceptAll(expected).isEmpty &&
      expected.exceptAll(streamed).isEmpty,
      "the swept-ledger drains must equal one batch assignment")
  }

  test("IVF idempotent append: duplicate delivery is a no-op; every crash window converges on the single-delivery lists") {
    val base = emb.filter(col("vec_id") >= 50)
    val delta = emb.filter(col("vec_id") < 50 && col("vec_id") >= 25)
    val cents = IVF.centroids(base, "vec_id", "v", 8).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("eo_ivf").toString
    IVF.writeIndexFrom(cents, IVF.assign(base, "vec_id", "v", cents), path)
    def lists() = spark.read.parquet(IVF.listsPath(path))
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .as[(Long, Long)].collect().toSeq.sorted

    IVF.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    val once = lists()
    assert(once.map(_._1).toSet == (base.select("vec_id").as[Long].collect()
      ++ delta.select("vec_id").as[Long].collect()).toSet)

    // re-delivery with the marker present: no plan runs, nothing changes
    IVF.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    assert(lists() == once, "a committed batch re-delivered must be a no-op")

    // crash AFTER promote BEFORE marker: delete the marker, re-run —
    // deterministic names + REPLACE_EXISTING converge, rows never double
    val marker = new java.io.File(IVF.appendLedger(path), "b1")
    assert(marker.isFile)
    assert(marker.delete())
    IVF.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    assert(lists() == once, "crash-after-promote re-delivery must converge")

    // crash MID-append (stage dir left, marker absent): the recovery
    // scrubs the batch's own promoted files and re-appends cleanly
    assert(new java.io.File(IVF.appendLedger(path), "b1").delete())
    ExactlyOnce.stageDir(new java.io.File(path), 1L).mkdirs()
    IVF.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    assert(lists() == once, "mid-append re-delivery must scrub and converge")
    assert(!ExactlyOnce.stageDir(new java.io.File(path), 1L).exists(),
      "a committed append must clean its stage")
  }

  test("IVF idempotent append: a committed batch re-delivered ACROSS a compaction flip is skipped — the ledger survives generations") {
    // the window file-level replacement alone cannot close: after a
    // compaction, the batch's rows live in a fresh generation under
    // NEW file names, so a re-promote would duplicate them. The
    // ledger (index-root, generation-independent) is what makes the
    // re-delivery a no-op regardless of how many flips happened.
    val base = emb.filter(col("vec_id") >= 50)
    val delta = emb.filter(col("vec_id") < 10)
    val cents = IVF.centroids(base, "vec_id", "v", 4).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("eo_ivf_flip").toString
    IVF.writeIndexFrom(cents, IVF.assign(base, "vec_id", "v", cents), path)
    IVF.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    val before = spark.read.parquet(IVF.listsPath(path))
      .select(col("vec_id")).as[Long].collect().toSeq.sorted
    IVF.compactIndex(spark, path) // folds the batch, new file names
    IVF.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    val after = spark.read.parquet(IVF.listsPath(path))
      .select(col("vec_id")).as[Long].collect().toSeq.sorted
    assert(after == before,
      "a committed batch re-delivered across a flip must not re-append")
  }

  test("IVF maintenance refuses an in-flight idempotent append and sweeps committed stage debris") {
    val cents = IVF.centroids(emb, "vec_id", "v", 4).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("eo_ivf_guard").toString
    IVF.writeIndexFrom(cents, IVF.assign(emb, "vec_id", "v", cents), path)
    // uncommitted stage = in-flight append: compaction must fail loudly
    ExactlyOnce.stageDir(new java.io.File(path), 7L).mkdirs()
    val e = intercept[IllegalStateException] { IVF.compactIndex(spark, path) }
    assert(e.getMessage.contains("in-flight idempotent append"))
    // commit the batch: the same stage dir is now debris — swept, not fatal
    ExactlyOnce.commit(IVF.appendLedger(path), 7L)
    IVF.compactIndex(spark, path)
    assert(!ExactlyOnce.stageDir(new java.io.File(path), 7L).exists(),
      "maintenance must sweep committed stage debris")
  }

  test("SQ idempotent append: duplicate returns 0.0 and leaves the code lists untouched") {
    val path = java.nio.file.Files.createTempDirectory("eo_sq").toString
    SQ.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4, path)
    val delta = emb.filter(col("vec_id") < 20)
    SQ.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 3L)
    def lists() = spark.read.parquet(IVF.listsPath(path))
      .select(col("id")).as[Long].collect().toSeq.sorted
    val once = lists()
    assert(SQ.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 3L) == 0.0)
    assert(lists() == once)
    // crash-window replay: marker gone, stage left → converge
    assert(new java.io.File(IVF.appendLedger(path), "b3").delete())
    ExactlyOnce.stageDir(new java.io.File(path), 3L).mkdirs()
    SQ.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 3L)
    assert(lists() == once)
  }

  test("register idempotent append: duplicate skip, crash replay converges, revive flip converges") {
    val reg = java.nio.file.Files.createTempDirectory("eo_reg").toString + "/reg"
    def bandsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.bandedSignatures(d, "doc_id", "text", 3, 16, 4)
        .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
    Dedup.writeRegister(bandsOf(docs.filter(col("doc_id") >= 3)), reg, 4)
    val batch = bandsOf(docs.filter(col("doc_id") < 3)).localCheckpoint()
    def rows(p: String) = spark.read.parquet(p)
      .select(col("id").cast("long"), col("band").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted

    val landed = Dedup.appendToRegisterIdempotent(spark, reg, batch, 4, 1L)
    assert(landed == reg, "no sidecar: the batch lands in place")
    val once = rows(reg)
    assert(Dedup.appendToRegisterIdempotent(spark, reg, batch, 4, 1L) == reg)
    assert(rows(reg) == once, "duplicate delivery must be a no-op")

    // crash-after-promote replay
    val ledger = new java.io.File(reg.replaceAll("__gen\\d+$", "") + "__applied")
    assert(new java.io.File(ledger, "b1").delete())
    assert(Dedup.appendToRegisterIdempotent(spark, reg, batch, 4, 1L) == reg)
    assert(rows(reg) == once, "crash replay must converge, never double bands")

    // REVIVE path: forget doc 1, then batch 2 re-ingests it — the
    // probe fires, the append compacts forward and lands in the
    // flipped generation; its own re-delivery then skips
    assert(Dedup.deleteFromRegister(spark, reg, Seq(1L).toDF("id")) == 1L)
    val rebatch = bandsOf(docs.filter(col("doc_id") === 1)).localCheckpoint()
    val flipped = Dedup.appendToRegisterIdempotent(spark, reg, rebatch, 4, 2L)
    assert(flipped != reg, "a revive must flip the generation")
    val after = rows(flipped)
    assert(Dedup.appendToRegisterIdempotent(spark, flipped, rebatch, 4, 2L) == flipped)
    assert(rows(flipped) == after)
    // exactly one copy of the revived doc's bands
    assert(after.count(_._1 == 1L) == 16 / 4,
      "the revived doc must carry exactly one copy of its bands")

    // the crash-restart echo: a re-delivery arrives with the STALE
    // pre-flip path threaded (the drain restarted from its last
    // checkpoint, which predates the revive flip). Echoing it would
    // abandon the flipped generation holding the committed batch —
    // the marker records where the batch LANDED and returns that.
    assert(Dedup.appendToRegisterIdempotent(spark, reg, rebatch, 4, 2L)
      == flipped,
      "a committed batch re-delivered with the stale pre-flip path " +
        "must return the generation it actually landed in")
    assert(rows(flipped) == after)

    // FLIP-THEN-CRASH debris: a prior attempt compacted to its own
    // fresh generation, staged and half-promoted THERE, and died
    // before the marker — the re-delivery resolves a different fresh
    // generation, so neither the threaded path nor the new target
    // ever points at the debris. The family-wide probe must scrub it
    // on re-delivery instead of leaving it for generation GC.
    val orphanGen = new java.io.File(flipped.replaceAll("__gen\\d+$", "")
      + "__gen90")
    val oStage = graft.streaming.ExactlyOnce.stageDir(orphanGen, 3L)
    new java.io.File(oStage, "sigbucket=0").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphanGen, "b3-p00000-c000.parquet").toPath,
      Array[Byte](1)) // the crashed attempt's half-promoted file
    val batch3 = bandsOf(docs.filter(col("doc_id") === 2)).localCheckpoint()
    Dedup.appendToRegisterIdempotent(spark, flipped, batch3, 4, 3L)
    assert(!oStage.exists(),
      "the crashed attempt's stage dir must be scrubbed on re-delivery")
    assert(!new java.io.File(orphanGen, "b3-p00000-c000.parquet").exists(),
      "the crashed attempt's half-promoted files must be scrubbed on re-delivery")
  }

  test("SQ requant rebuild preserves the exactly-once ledger and refuses an in-flight stage") {
    val path = java.nio.file.Files.createTempDirectory("eo_sq_requant").toString
    SQ.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4, path)
    val delta = emb.filter(col("vec_id") < 20)
    SQ.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 5L)
    def listIds() = spark.read.parquet(IVF.listsPath(path))
      .select(col("id")).as[Long].collect().toSeq.sorted
    // an uncommitted stage blocks the rebuild loudly
    ExactlyOnce.stageDir(new java.io.File(path), 6L).mkdirs()
    val e = intercept[IllegalStateException] {
      SQ.rebuildIndex(emb, "vec_id", "v", 4, path)
    }
    assert(e.getMessage.contains("in-flight idempotent append"))
    graft.FileTree.delete(ExactlyOnce.stageDir(new java.io.File(path), 6L))
    // the requant (a CREATE underneath) must keep the committed-batch
    // markers: wiping them would turn the next crash's re-delivery of
    // batch 5 into a second append on top of a rebuild that already
    // holds its docs
    SQ.rebuildIndex(emb, "vec_id", "v", 4, path)
    assert(ExactlyOnce.isApplied(IVF.appendLedger(path), 5L),
      "the requant must preserve the exactly-once ledger")
    val once = listIds()
    SQ.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 5L)
    assert(listIds() == once,
      "a committed batch re-delivered after a requant must not re-append")
    // ...while a fresh CREATE at the same path clears the ledger: a
    // NEW index must not inherit a dead stream's applied set
    SQ.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4, path)
    assert(!IVF.appendLedger(path).exists(),
      "SQ CREATE must clear the sibling ledger")
  }

  test("register and postings maintenance rebuilds preserve the ledger; CREATE clears it; a GC'd payload falls back to a live path") {
    // register: rebuildRegister is maintenance — the committed-batch
    // markers survive (a wipe would double a re-delivered batch on a
    // rebuild that already re-derived its bands)
    val reg = java.nio.file.Files.createTempDirectory("eo_reg_rb").toString + "/reg"
    def bandsOf(d: org.apache.spark.sql.DataFrame, rpb: Int) =
      Dedup.bandedSignatures(d, "doc_id", "text", 3, 16, rpb)
        .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
    Dedup.writeRegister(bandsOf(docs.filter(col("doc_id") >= 3), 4), reg, 4)
    val batch = bandsOf(docs.filter(col("doc_id") < 3), 4).localCheckpoint()
    assert(Dedup.appendToRegisterIdempotent(spark, reg, batch, 4, 1L) == reg)
    val ledger = new java.io.File(reg + "__applied")
    assert(new java.io.File(ledger, "b1").isFile)
    // the fingerprint-parameter upgrade (rowsPerBand 4 → 2)
    Dedup.rebuildRegister(spark, bandsOf(docs, 2), reg, 4)
    assert(new java.io.File(ledger, "b1").isFile,
      "rebuildRegister must preserve the exactly-once ledger")
    val afterRebuild = spark.read.parquet(reg).count()
    assert(Dedup.appendToRegisterIdempotent(spark, reg, batch, 4, 1L) == reg)
    assert(spark.read.parquet(reg).count() == afterRebuild,
      "a committed batch re-delivered after a register rebuild must not re-append")
    // a marker whose recorded landed path has been GC'd falls back to
    // a path that exists, never a dangling directory
    ExactlyOnce.commit(ledger, 9L, payload = reg + "__gen999_gone")
    val got = Dedup.appendToRegisterIdempotent(spark, reg, batch, 4, 9L)
    assert(new java.io.File(got).isDirectory,
      s"marker-hit must return an existing path, got $got")
    // CREATE clears the ledger
    Dedup.writeRegister(bandsOf(docs, 4), reg, 4)
    assert(!ledger.exists(), "writeRegister CREATE must clear the ledger")

    // postings: rebuildPostings is maintenance — markers survive
    val tbl = "eo_post_rb_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("eo_post_rb").toString + "/t"
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, path, "overwrite")
    val pbatch = docs.filter(col("doc_id") < 3).localCheckpoint()
    Queries.writePostingsIdempotent(spark, pbatch, tbl, 1L)
    val pledger = Generations.ledger(path)
    assert(new java.io.File(pledger, "b1").isFile)
    Queries.rebuildPostings(spark,
      docs.select(col("doc_id"), concat(lit("v2 "), col("text")).as("text")),
      tbl, path)
    assert(new java.io.File(pledger, "b1").isFile,
      "rebuildPostings must preserve the exactly-once ledger")
    val afterPost = spark.table(tbl).count()
    Queries.writePostingsIdempotent(spark, pbatch, tbl, 1L)
    assert(spark.table(tbl).count() == afterPost,
      "a committed batch re-delivered after a postings rebuild must not re-append")
  }

  test("graph crash-before-commit: re-delivery sweeps orphan cells and converges — torn state is impossible") {
    // round 17 closed the in-place-overwrite torn-commit window
    // structurally: an append stages IMMUTABLE pool versions and
    // commits them all at once with the CELLS bump, so a crash leaves
    // either the whole batch (marker-less, handled below in the
    // committed-window test) or nothing visible — only orphan cell
    // versions above the live visibility version, which the re-run
    // sweeps. This case pins the CONVERGENCE (the old per-(part,id)
    // loud gate is gone with the window it guarded), gated
    // bit-for-bit against a clean single delivery.
    val path = java.nio.file.Files.createTempDirectory("eo_graph_crash").toString
    val ref = java.nio.file.Files.createTempDirectory("eo_graph_crash_ref").toString
    val base = emb.filter(col("vec_id") < 80)
    GraphAnn.writeIndex(base, "vec_id", "v", m = 4, efC = 8, parts = 2, path = path)
    GraphAnn.writeIndexWith(spark.read.parquet(s"$path/routing"),
      base, "vec_id", "v", m = 4, efC = 8, ref)
    val delta = emb.filter(col("vec_id") >= 80 && col("vec_id") < 85)
    GraphAnn.appendToIndexIdempotent(spark, ref, delta, "vec_id", "v", 1L)
    // the "crashed attempt": intent standing, marker absent, and
    // staged-but-uncommitted orphan cells in the pool under a burned
    // fence version
    val ledger = new java.io.File(path, "applied__appends")
    ledger.mkdirs()
    java.nio.file.Files.createFile(new java.io.File(ledger, "i1").toPath)
    val p0 = new java.io.File(s"$path/cells/p0")
    val src = Option(p0.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("v")).head
    val orphan = new java.io.File(p0, "v40_n" + src.getName.split("_n")(1))
    graft.FileTree.copy(src, orphan)
    java.nio.file.Files.createFile(new java.io.File(path, "WRITER__v40").toPath)
    // the re-delivery: the presence probe finds NOTHING committed
    // (the crash was before the CELLS bump), so it re-appends in
    // full; the pre-write sweep must delete the orphans rather than
    // let the commit make them resolvable
    GraphAnn.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    assert(!orphan.exists(),
      "the crashed attempt's orphan cells must be swept, not resolved")
    assert(new java.io.File(ledger, "b1").isFile &&
      !new java.io.File(ledger, "i1").isFile,
      "the re-delivery must commit the marker and clear the intent")
    def nodes(p: String) = GraphAnn.nodesDf(spark, p)
      .select(col("part"), col("id"), col("vec"), col("nbrs"))
    assert(nodes(path).exceptAll(nodes(ref)).isEmpty &&
      nodes(ref).exceptAll(nodes(path)).isEmpty,
      "crash-recovery must converge bit-for-bit on the single-delivery state")
    // maintenance composes convergently too: a compaction running
    // while ANOTHER batch's intent stands must not wedge — the
    // staged-generation machinery makes the later re-delivery
    // converge against whatever state maintenance left (the old
    // refuse-while-intent guard died with the torn window)
    java.nio.file.Files.createFile(new java.io.File(ledger, "i2").toPath)
    GraphAnn.deleteFromIndex(spark, path,
      emb.filter(col("vec_id") === 3).select(col("vec_id")), "vec_id", countPresent = true)
    GraphAnn.compactTombstones(spark, path)
    // the "crashed batch 2" re-delivers AFTER the compaction flip and
    // must still converge (its content was never committed, so it
    // simply appends into the flipped generation)
    val delta2 = emb.filter(col("vec_id") >= 85 && col("vec_id") < 90)
    GraphAnn.appendToIndexIdempotent(spark, path, delta2, "vec_id", "v", 2L)
    assert(new java.io.File(ledger, "b2").isFile &&
      !new java.io.File(ledger, "i2").isFile)
    val ids = GraphAnn.nodesDf(spark, path).select(col("id"))
      .distinct().as[Long].collect().toSet
    assert(ids == ((0L until 90L).toSet - 3L),
      "post-maintenance re-delivery must land exactly the batch, minus the tombstoned id")
  }

  test("postings idempotent append: no-op duplicate, crash replay converges, bucket pruning survives the promote") {
    val tbl = "eo_postings_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("eo_post").toString + "/t"
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, path, "overwrite")
    val batch = docs.filter(col("doc_id") < 3).localCheckpoint()
    def all() = spark.table(tbl)
      .as[(Long, Double, String, Double)].collect().toSeq.sorted
    Queries.writePostingsIdempotent(spark, batch, tbl, 1L)
    val once = all()
    assert(once.map(_._1).toSet == docs.select("doc_id").as[Long].collect().toSet)
    Queries.writePostingsIdempotent(spark, batch, tbl, 1L)
    assert(all() == once, "duplicate delivery must be a no-op")
    // crash-after-promote replay
    val ledger = Generations.ledger(Queries.postingsLivePath(spark, tbl))
    assert(new java.io.File(ledger, "b1").delete())
    Queries.writePostingsIdempotent(spark, batch, tbl, 1L)
    assert(all() == once, "crash replay must converge — postings tf must never double")
    // the promoted names keep the bucket suffix: the bucketed scan
    // still reads bucket ids off the file names and prunes
    val live = Queries.postingsLivePath(spark, tbl)
    assert(Option(new java.io.File(live).listFiles()).toSeq.flatten
      .exists(f => f.getName.startsWith("b1-p") && f.getName.matches(".*_\\d+\\.parquet")),
      "promoted postings files must carry the bucket suffix")
    // the real serving read (term-keyed scoring over the bucketed
    // table — a bare filter would have autoBucketedScan disable the
    // bucketed read as not beneficial)
    val serve = BM25.searchIndexed(spark, live, spark.table(tbl),
      BM25.statsFromPostings(spark.table(tbl)), Seq("spark", "engine"), 10)
    assert(serve.queryExecution.executedPlan.toString.contains("SelectedBucketsCount"),
      "bucket pruning must survive the idempotent append")
    // and the served scores equal a one-shot build over the union
    val got = serve
      .select("doc", "score").as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val post = BM25.postings(docs, "doc_id", "text")
    val want = BM25.searchIndexed(post, BM25.statsFromPostings(post),
        Seq("spark", "engine"), 10)
      .select("doc", "score").as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == want)
  }

  test("CREATE clears a leftover exactly-once ledger: a fresh index never inherits a dead stream's applied set") {
    // the ledger twin of the stale-sidecar class: stale committed-
    // batch markers would make a REBUILT index silently SKIP
    // legitimate batches whose ids a previous incarnation committed —
    // the ghost hides NEW data instead of resurrecting old
    val tbl = "eo_create_ledger_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("eo_led").toString + "/t"
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, path, "overwrite")
    val batch = docs.filter(col("doc_id") < 3).localCheckpoint()
    Queries.writePostingsIdempotent(spark, batch, tbl, 1L)
    assert(new java.io.File(Generations.ledger(path), "b1").isFile)
    // the rebuild: same (tbl, path); the dead stream's ledger must go
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, path, "overwrite")
    assert(!Generations.ledger(path).exists(),
      "postings CREATE must clear the sibling ledger")
    Queries.writePostingsIdempotent(spark, batch, tbl, 1L)
    assert(spark.table(tbl).select("doc").as[Long].distinct().collect().toSet
      == docs.select("doc_id").as[Long].collect().toSet,
      "a fresh index inherited a dead stream's applied set and skipped a batch")

    // graph CREATE, same contract
    val gpath = java.nio.file.Files.createTempDirectory("eo_led_g").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < 80), "vec_id", "v",
      m = 4, efC = 8, parts = 2, path = gpath)
    val gdelta = emb.filter(col("vec_id") >= 80 && col("vec_id") < 85)
    GraphAnn.appendToIndexIdempotent(spark, gpath, gdelta, "vec_id", "v", 1L)
    assert(new java.io.File(s"$gpath/applied__appends/b1").isFile)
    GraphAnn.writeIndex(emb.filter(col("vec_id") < 80), "vec_id", "v",
      m = 4, efC = 8, parts = 2, path = gpath)
    assert(!new java.io.File(s"$gpath/applied__appends").exists(),
      "graph CREATE must clear the append ledger")
    GraphAnn.appendToIndexIdempotent(spark, gpath, gdelta, "vec_id", "v", 1L)
    // 85 docs × 2-cell boundary replication = 170 node rows
    assert(GraphAnn.nodesDf(spark, gpath).count() == 170L,
      "a fresh graph inherited a dead stream's applied set and skipped a batch")
  }

  test("graph idempotent append: ledger skips duplicates; committed-window recovery just commits the marker") {
    val path = java.nio.file.Files.createTempDirectory("eo_graph").toString
    GraphAnn.writeIndex(emb.filter(col("vec_id") < 80), "vec_id", "v",
      m = 4, efC = 8, parts = 2, path = path)
    val delta = emb.filter(col("vec_id") >= 80 && col("vec_id") < 90)
    def served() = GraphAnn.searchIndex(spark, path, "vec_id",
        emb.filter(col("vec_id") === 85).select(col("v").as("qv")), "qv",
        5, ef = 16)
      .select("vec_id", "rank").as[(Long, Long)].collect().toSeq

    GraphAnn.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    val once = served()
    def nodesCount() = GraphAnn.nodesDf(spark, path).count()
    val n1 = nodesCount()
    // duplicate delivery: the raw append would fail the growing-id
    // require; the ledger makes it a clean no-op
    GraphAnn.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    assert(nodesCount() == n1 && served() == once)

    // crash AFTER the CELLS commit BEFORE the ledger marker: intent
    // present, batch fully visible. The recovery's presence probe
    // finds every id and just commits the marker.
    val ledger = new java.io.File(path, "applied__appends")
    assert(new java.io.File(ledger, "b1").delete())
    java.nio.file.Files.createFile(new java.io.File(ledger, "i1").toPath)
    GraphAnn.appendToIndexIdempotent(spark, path, delta, "vec_id", "v", 1L)
    assert(nodesCount() == n1 && served() == once,
      "graph recovery must converge without duplicating nodes")
    assert(new java.io.File(ledger, "b1").isFile &&
      !new java.io.File(ledger, "i1").isFile,
      "recovery must commit the marker and clear the intent")
    // the cell-dir-name occupancy record matches a recount
    val meta = GraphAnn.cellCounts(spark, path).toMap
    val byPart = GraphAnn.nodesDf(spark, path)
      .groupBy(col("part").cast("int").as("p")).agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(meta == byPart, "cell-name counts must equal per-part node counts")
  }

  test("a committed batch's leftover stage dir goes with its re-delivery: the retired ledger never wedges maintenance") {
    // crash between the marker commit and the stage delete: the
    // re-delivery is skipped by the marker, the drain's watermark
    // sweep then retires the marker — a stage dir still standing
    // would now read as an UNCOMMITTED append and every later
    // compaction or rebuild would refuse, with no re-delivery left to
    // clear it
    def crashAfterMarker(root: String, ledger: java.io.File)(deliver: => Unit): Unit = {
      deliver
      ExactlyOnce.stageDir(new java.io.File(root), 5L).mkdirs()
      deliver // the re-delivery, skipped by its marker
      assert(!ExactlyOnce.stageDir(new java.io.File(root), 5L).exists(),
        s"the committed batch's re-delivery must delete its stage dir under $root")
      ExactlyOnce.sweepLedger(ledger, 6L)
    }
    def noStage(root: String) =
      assert(ExactlyOnce.stages(new java.io.File(root)).isEmpty, s"stage dir left under $root")

    // IVF → compactIndex
    val delta = emb.filter(col("vec_id") < 20)
    val ivf = java.nio.file.Files.createTempDirectory("eo_wedge_ivf").toString
    val cents = IVF.centroids(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4).localCheckpoint()
    IVF.writeIndexFrom(cents, IVF.assign(emb.filter(col("vec_id") >= 50), "vec_id", "v", cents), ivf)
    crashAfterMarker(ivf, IVF.appendLedger(ivf)) {
      IVF.appendToIndexIdempotent(spark, ivf, delta, "vec_id", "v", 5L)
    }
    IVF.compactIndex(spark, ivf)
    noStage(ivf)

    // SQ8 → the requant rebuild
    val sq = java.nio.file.Files.createTempDirectory("eo_wedge_sq").toString
    SQ.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4, sq)
    crashAfterMarker(sq, IVF.appendLedger(sq)) {
      SQ.appendToIndexIdempotent(spark, sq, delta, "vec_id", "v", 5L)
    }
    SQ.rebuildIndex(emb, "vec_id", "v", 4, sq)
    noStage(sq)

    // register → compactRegister
    val reg = java.nio.file.Files.createTempDirectory("eo_wedge_reg").toString + "/reg"
    Dedup.writeRegister(bandsOf(docs.filter(col("doc_id") >= 3)), reg, 4)
    val bands = bandsOf(docs.filter(col("doc_id") < 3)).localCheckpoint()
    crashAfterMarker(reg, Generations.ledger(reg)) {
      assert(Dedup.appendToRegisterIdempotent(spark, reg, bands, 4, 5L) == reg)
    }
    noStage(Dedup.compactRegister(spark, reg, 4))
    noStage(reg)

    // postings → compactPostings
    val tbl = "eo_wedge_postings_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val post = java.nio.file.Files.createTempDirectory("eo_wedge_post").toString + "/t"
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, post, "overwrite")
    val batch = docs.filter(col("doc_id") < 3).localCheckpoint()
    crashAfterMarker(post, Generations.ledger(post)) {
      Queries.writePostingsIdempotent(spark, batch, tbl, 5L)
    }
    noStage(Queries.compactPostings(spark, tbl, post))
  }

  test("a committed batch re-delivered runs no Spark job, in every stage-and-promote family") {
    val delta = emb.filter(col("vec_id") < 20).localCheckpoint()
    val ivf = java.nio.file.Files.createTempDirectory("eo_nojob_ivf").toString
    val cents = IVF.centroids(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4).localCheckpoint()
    IVF.writeIndexFrom(cents, IVF.assign(emb.filter(col("vec_id") >= 50), "vec_id", "v", cents), ivf)
    assert(jobsIn(IVF.appendToIndexIdempotent(spark, ivf, delta, "vec_id", "v", 1L)) > 0,
      "the probe must see the first delivery's jobs")
    assert(jobsIn(IVF.appendToIndexIdempotent(spark, ivf, delta, "vec_id", "v", 1L)) == 0)

    val sq = java.nio.file.Files.createTempDirectory("eo_nojob_sq").toString
    SQ.writeIndex(emb.filter(col("vec_id") >= 50), "vec_id", "v", 4, sq)
    assert(jobsIn(SQ.appendToIndexIdempotent(spark, sq, delta, "vec_id", "v", 1L)) > 0)
    assert(jobsIn(SQ.appendToIndexIdempotent(spark, sq, delta, "vec_id", "v", 1L)) == 0)

    val reg = java.nio.file.Files.createTempDirectory("eo_nojob_reg").toString + "/reg"
    Dedup.writeRegister(bandsOf(docs.filter(col("doc_id") >= 3)), reg, 4)
    val bands = bandsOf(docs.filter(col("doc_id") < 3)).localCheckpoint()
    assert(jobsIn(Dedup.appendToRegisterIdempotent(spark, reg, bands, 4, 1L)) > 0)
    assert(jobsIn(Dedup.appendToRegisterIdempotent(spark, reg, bands, 4, 1L)) == 0)

    val tbl = "eo_nojob_postings_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val post = java.nio.file.Files.createTempDirectory("eo_nojob_post").toString + "/t"
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, post, "overwrite")
    val batch = docs.filter(col("doc_id") < 3).localCheckpoint()
    assert(jobsIn(Queries.writePostingsIdempotent(spark, batch, tbl, 1L)) > 0)
    assert(jobsIn(Queries.writePostingsIdempotent(spark, batch, tbl, 1L)) == 0)
  }
}
