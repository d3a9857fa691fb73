package graft.perfbench

import graft.dedup.Dedup
import graft.embed.Embed
import graft.lexical.BM25
import graft.search.IVF
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `ingest`: streaming ingest with writes beside reads, starting from
  * an index set built over the seeded corpus. Each cycle lands one
  * micro-batch file, drains it through the dedup gate, embed, the
  * idempotent IVF append and the idempotent postings append, then reads
  * the admitted docs back as one IVF batch against the fragmented
  * index. Every third cycle a forget request deletes from IVF, postings
  * and register; when `IVF.needsCompact` fires, all three families are
  * compacted. */
final class IngestLoad(env: Env, docsN: Int, params: IndexParams, batchSize: Int) {
  import Env._
  import IngestLoad._
  private def spark = env.spark
  private val corpus = new Corpus(env.seed)
  private val truth = new Truth(env.embedder)
  private val live = mutable.LinkedHashMap.empty[Long, Doc]
  /** Forgotten since the last IVF compaction (still in the sidecar). */
  private val pending = mutable.LinkedHashMap.empty[Long, Doc]
  /** Forgotten and compacted away: eligible for revival. */
  private val revivable = mutable.LinkedHashMap.empty[Long, Doc]
  private var set: IndexSet = _
  private var store: String = _
  private var nextId = 0L
  private var cycle = 0
  private var lastAdmitted: Seq[Long] = Nil
  private var lastBatchId = -1L
  private var offeredN = 0L
  private var admittedN = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var compactions = 0

  private val land = env.dir("land")
  private val src = env.dir("stream")
  private val ckpt = env.dir("ckpt")

  def run(sessionS: Double): Outcome = {
    val docs = corpus.docs(0, docsN)
    nextId = docsN
    // set-up: the corpus write and every index build
    val b0 = System.nanoTime()
    set = new IndexSet(env, env.dir("ingest"), "pb_ingest", params,
      withGraph = false, withRegister = true)
    store = env.dir("store")
    env.docsFrame(docs).coalesce(1).write.mode("overwrite").parquet(s"$store/batch=-1")
    set.build(s"$store/batch=-1")
    val buildS = (System.nanoTime() - b0) / 1e9
    docs.foreach { d => live(d.id) = d; truth.put(d) }
    // warm-up: one untimed cycle, read, forget and compaction
    val t0 = System.nanoTime()
    ingestCycle()
    freshRead()
    forget()
    compactAll()
    offeredN = 0; admittedN = 0
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + buildS + warmS
    val calib = Calibration.probe(env)

    val visible = mutable.ArrayBuffer.empty[Timing]
    val maint = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    compactions = 0
    val deadline = System.nanoTime() + (env.seconds * 1e9).toLong
    // at least MinCycles cycles, however slow the host: a median of one
    // sample is that sample's noise
    while ((System.nanoTime() < deadline || visible.size < MinCycles) && env.failed < 3) {
      env.op("ingest.cycle")(visible += ingestCycle())
      env.op("ingest.read")(reads += freshRead())
      if (cycle % ForgetEvery == 0)
        env.op("ingest.forget") {
          forget()
          if (IVF.needsCompact(spark, set.ivf, CompactAbove)) {
            compactAll()
            compactions += 1
          }
        }.foreach(maint += _.wallS)
    }
    checkRedelivery()
    val visibleS = visible.map(_.wallS).toSeq
    val (tp, tv) = tail(visibleS)
    Outcome(
      Seq(("setup_s", setupS, "s"),
        ("op_cpu_s", median(visible.map(_.cpuS).toSeq), "s"),
        ("recall_at_10", recalls.sum / recalls.size, "ratio"),
        ("index_bytes_per_doc", set.bytes.toDouble / live.size, "B")),
      Seq("docs" -> docsN.toString, "cycles" -> visible.size.toString,
        "batch_docs" -> batchSize.toString,
        "op_p50_s" -> median(visibleS).toString,
        "ingest_visible_p50_s" -> median(visibleS).toString,
        "fresh_read_p50_s" -> median(reads.toSeq).toString,
        "ingest_docs_per_s" -> (batchSize / median(visibleS)).toString,
        "tail_percentile" -> tp.toString, "ingest_visible_tail_s" -> tv.toString,
        "forget_p50_s" -> median(maint.toSeq).toString, "forgets" -> maint.size.toString,
        "compactions" -> compactions.toString,
        "admit_ratio" -> (admittedN.toDouble / offeredN).toString,
        "live_docs" -> live.size.toString,
        "build_s" -> buildS.toString, "warmup_s" -> warmS.toString) ++ calib)
  }

  /** Land one micro-batch file and drain it; returns the time from the
    * file landing to the batch being searchable. */
  private def ingestCycle(): Timing = {
    cycle += 1
    val (batch, next) = corpus.microBatch(batchSize, nextId, live.valuesIterator.toIndexedSeq, revivable)
    nextId = next
    val tmp = s"$land/c$cycle"
    env.untraced(env.docsFrame(batch).coalesce(1).write.mode("overwrite").parquet(tmp))
    new java.io.File(src).mkdirs()
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(src, f"c$cycle%06d.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    graft.FileTree.delete(new java.io.File(tmp))
    val t0 = env.now()
    val stream = spark.readStream.schema(env.docsFrame(Nil).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    env.span("streaming.drain") {
      graft.streaming.Streaming.runForeachBatchResumable(spark, stream, ckpt,
        (b, id) => { lastAdmitted = applyBatch(b, id); lastBatchId = id })
    }
    val s = env.since(t0)
    val byId = batch.map(d => d.id -> d).toMap
    lastAdmitted.foreach { id =>
      val d = byId(id)
      live(id) = d; truth.put(d); revivable.remove(id)
    }
    offeredN += batch.size; admittedN += lastAdmitted.size
    env.tracer.count("dedup.gate", "offered", batch.size)
    env.tracer.count("dedup.gate", "admitted", lastAdmitted.size)
    env.tracer.count("ingest", "cycles", 1)
    s
  }

  /** The micro-batch body: dedup gate, embed, idempotent appends. Every
    * append is keyed by `batchId`, so a re-delivery is a no-op. The
    * benchmark's own doc log (the text the gate's Jaccard verify reads)
    * gets one partition per batch.
    * Returns the admitted ids. */
  private def applyBatch(b: DataFrame, batchId: Long): Seq[Long] = {
    val admitted = env.span("dedup.gate") {
      val sigs = set.bands(b).localCheckpoint()
      val buckets = sigs.select(col("sigbucket")).distinct().collect().map(_.getInt(0))
      val base = Dedup.liveRegister(spark, set.register,
        spark.read.parquet(set.register).filter(col("sigbucket").isin(buckets.map(Integer.valueOf): _*)))
      val cands = sigs.as("a").join(base.as("r"),
          col("a.band") === col("r.band") && col("a.bandsig") === col("r.bandsig"))
        .select(col("a.id").as("id1"), col("r.id").as("id2"))
        .where(col("id1") =!= col("id2")).distinct()
      val allDocs = spark.read.parquet(store).select("doc_id", "text")
        .union(b.select("doc_id", "text"))
      val rejected = Dedup.jaccardVerify(allDocs, "doc_id", "text", cands, IndexSet.ShingleN)
        .where(col("jaccard") >= 0.5).select(col("id1")).distinct()
      val adm = b.join(rejected, b("doc_id") === rejected("id1"), "left_anti").localCheckpoint()
      set.register = Dedup.appendToRegisterIdempotent(spark, set.register,
        sigs.join(adm.select(col("doc_id").as("id")), Seq("id"), "left_semi")
          .select("id", "band", "bandsig", "sigbucket"),
        params.regBuckets, batchId)
      adm
    }
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSeq
    val delta = env.span("embed.delta") {
      env.tracer.force(Embed.embedDocs(admitted, "doc_id", "text", env.embedder))
    }
    env.span("ivf.append") {
      val before = fileCount(set.ivf)
      IVF.appendToIndexIdempotent(spark, set.ivf, delta, "doc_id", "vec", batchId)
      env.tracer.count("ivf.append", "files_written", (fileCount(set.ivf) - before).toDouble)
    }
    env.span("lexical.append") {
      graft.Queries.writePostingsIdempotent(spark, admitted.select("doc_id", "text"), set.table, batchId)
    }
    admitted.write.mode("overwrite").parquet(s"$store/batch=$batchId")
    ids
  }

  private def forget(): Unit = {
    val victims = corpus.pick(live.keysIterator.toIndexedSeq, ForgetN)
    val ids = spark.createDataFrame(victims.map(Tuple1(_))).toDF("doc_id")
    env.span("ivf.delete")(IVF.deleteFromIndex(spark, set.ivf, ids, "doc_id"))
    env.span("lexical.delete")(BM25.deleteFromPostings(spark, set.postLive, set.post, ids))
    env.span("dedup.delete")(Dedup.deleteFromRegister(spark, set.register, ids))
    victims.foreach { id => pending(id) = live(id); live.remove(id); truth.remove(id) }
  }

  /** Compact every family together, so a forgotten id leaves every
    * sidecar at once; only then does it become eligible for revival
    * (a revive therefore never pulls a compaction into the append). */
  private def compactAll(): Unit = {
    env.span("ivf.compact")(IVF.compactIndex(spark, set.ivf))
    env.span("lexical.compact")(graft.Queries.compactPostings(spark, set.table, set.postLive))
    env.span("dedup.compact") {
      set.register = Dedup.compactRegister(spark, set.register, params.regBuckets)
    }
    env.tracer.count("ivf.compact", "count", 1)
    revivable ++= pending
    pending.clear()
  }

  private def forgotten: Set[Long] = (pending.keySet ++ revivable.keySet).toSet

  /** The fresh read: the cycle's admitted docs, sent back as one IVF
    * query batch against the fragmented index (read-your-writes). Each
    * must rank first for its own text (exact-score ties count as
    * first), no forgotten id may be served, and recall is taken
    * against the exact top-10 over the live docs. Returns the
    * seconds of the read itself (query embed and search); the checks
    * and their reference are not timed. */
  private def freshRead(): Double = {
    val qs = lastAdmitted.map(id => Query(id, live(id).text))
    val t0 = System.nanoTime()
    val qdf = env.queryFrame(qs)
    val rows = env.span("ivf.search") {
      IVF.searchIndexMulti(spark, set.ivf, "doc_id", "vec", qdf, "qid", "qv", K, params.nprobe)
        .select("qid", "doc_id", "rank", "score").collect()
    }
    val s = (System.nanoTime() - t0) / 1e9
    val want = qs.map(q => q.qid -> truth.topK(truth.vec(q.qid), K)).toMap
    env.tracer.count("ivf.search", "results", rows.length)
    val got = env.ranked(rows)
    val byQ = rows.groupBy(_.getLong(0))
    env.check("every admitted doc self-retrieves at rank 1")(qs.forall { q =>
      byQ.get(q.qid).exists { rs =>
        val top = rs.map(_.getDouble(3)).max
        rs.exists(r => r.getLong(1) == q.qid && r.getDouble(3) == top)
      }
    })
    env.check("a fresh read serves no forgotten id")(!got.values.flatten.exists(forgotten))
    want.foreach { case (q, w) => recalls += got.getOrElse(q, Nil).count(w.toSet).toDouble / w.size }
    s
  }

  /** After the measured window: re-delivering the last committed batch
    * to the idempotent appends (as a restart whose checkpoint commit did
    * not land would) leaves every index's live row count unchanged. */
  private def checkRedelivery(): Unit = env.untraced {
    def counts = (IVF.listsRows(spark, set.ivf).count(), set.post.count(),
      Dedup.liveRegister(spark, set.register, spark.read.parquet(set.register)).count())
    val before = counts
    val admitted = spark.read.parquet(s"$store/batch=$lastBatchId")
    Dedup.appendToRegisterIdempotent(spark, set.register,
      set.bands(admitted).select("id", "band", "bandsig", "sigbucket"), params.regBuckets, lastBatchId)
    IVF.appendToIndexIdempotent(spark, set.ivf,
      Embed.embedDocs(admitted, "doc_id", "text", env.embedder), "doc_id", "vec", lastBatchId)
    graft.Queries.writePostingsIdempotent(spark, admitted.select("doc_id", "text"), set.table,
      lastBatchId)
    env.check("a re-delivered committed batch is a no-op")(counts == before)
  }
}

object IngestLoad {
  val MinCycles = 2
  val ForgetEvery = 3
  val ForgetN = 12
  /** Hidden ids above which `IVF.needsCompact` fires: two forgets. */
  val CompactAbove = 20L
}
