package graft.streaming

/** EXACTLY-ONCE batch appends for the file-backed index machineries.
  *
  * Structured Streaming's `foreachBatch` contract is AT-LEAST-ONCE
  * under mid-batch failure: a batch whose function ran but whose
  * checkpoint commit did not land is RE-DELIVERED with the same
  * batchId on restart ([[Streaming.runForeachBatchResumable]]
  * documents it). Every index append in this engine lands parquet
  * part files into a live layout (`cid=`/`sigbucket=` partition dirs,
  * term-bucketed postings), so a re-delivered batch would silently
  * DOUBLE its rows — doubled tf in postings, duplicate vectors in
  * lists, doubled fingerprints in the register — the quiet sibling of
  * the crash-before-commit class the generation machineries already
  * spec. This object is the sink-side half that turns the streaming
  * contract into exactly-once, with nothing but the primitives the
  * rest of the engine already relies on (deterministic shuffles,
  * per-file atomic rename, create-exclusive markers):
  *
  *  1. A LEDGER of committed batch ids (one empty marker file per
  *     batch, `b<id>`, next to the index) — a delivery whose marker
  *     exists is a duplicate and becomes a no-op before any plan
  *     runs.
  *  2. A delivery that finds its own stage dir standing (an earlier
  *     attempt crashed before its marker) SCRUBS that attempt's
  *     promoted `b<id>-p*` files and the stage dir first.
  *  3. The batch's rows are STAGED to a scratch dir with Spark's
  *     normal writer (`part-NNNNN-<uuid>…` names under the same
  *     partition-dir structure as the live layout).
  *  4. [[promote]] renames each staged file into the live layout
  *     under a DETERMINISTIC name derived from (batchId, writing
  *     shuffle partition, bucket suffix): `b<id>-p<NNNNN>[_<bucket>]
  *     .parquet`. Hash repartitioning is deterministic for the same
  *     input and conf, so a re-run of the same batch produces the
  *     same (partition-dir, NNNNN, bucket) key set — every rename is
  *     REPLACE_EXISTING, so a retry CONVERGES on the same file set
  *     instead of appending a second copy. Per-file moves are atomic
  *     on a filesystem; on an object store each becomes an
  *     idempotent PUT to the same key.
  *  5. The marker is written LAST. Crash anywhere before it and the
  *     re-delivery re-stages and re-promotes over its own debris;
  *     crash after it and the re-delivery is skipped by (1).
  *
  * [[append]] runs these steps in this order for every stage-and-
  * promote family (IVF and SQ8 lists, BM25 postings, the dedup
  * register); each family supplies only its landing step (revive
  * probe, target resolution, the staged write).
  *
  * The one window file-level replacement cannot close alone: a crash
  * mid-append followed by a MAINTENANCE REWRITE (compaction folds the
  * partial batch into a fresh generation under new file names) and
  * only then the re-delivery, which would re-append rows the rewrite
  * already absorbed. The machineries close it on their side:
  * maintenance refuses to run while an UNCOMMITTED stage dir exists
  * ([[refuseInflight]]) — an in-flight append is the ingest loop's to
  * finish (just re-run the drain), in the same spirit as
  * [[graft.Generations]]'s loud loser. Committed stage debris (crash
  * between marker and cleanup) is garbage: the committed batch's
  * re-delivery deletes it, and maintenance sweeps it, never fatal.
  *
  * CONTRACT — ONE INGEST STREAM PER INDEX (the ingest twin of the
  * single-maintenance-writer contract [[graft.Generations]] states
  * for rewrites): batchIds come from ONE streaming checkpoint, so
  * the ledger's `b<id>` namespace and the promoted `b<id>-p*` names
  * are unambiguous. Two checkpoints feeding the same index would
  * collide on both (stream A's committed b5 silently skips stream
  * B's batch 5; same-named promotions REPLACE each other's files) —
  * but namespacing names would NOT make dual-stream ingest safe,
  * because the protocol's other half already assumes one ingest
  * writer: a revive probe fires [[graft.search.IVF.compactIndex]]
  * mid-drain, and that compaction REFUSES while any other stream's
  * stage is uncommitted. A deployment that needs N feeds unions them
  * upstream into one query (the standard Kafka-source shape) or
  * partitions the corpus into N indexes.
  *
  * Scale notes: the ledger is one empty file per committed batch —
  * listing it is O(batches), never a data read, and [[sweepLedger]]
  * retires markers below the checkpoint's low-watermark
  * ([[Streaming.checkpointWatermark]] derives it from the commit
  * log; the resumable drain's `sweepLedgers` parameter wires the two
  * together), keeping it O(live window) on a years-lived stream.
  * Staging writes each batch's bytes exactly once
  * (the same bytes a raw append would write) plus one rename per
  * file; nothing index-sized moves. */
object ExactlyOnce {
  import java.io.File

  /** What a family's landing step hands [[append]]: the batch's stage
    * dir (written through the stage handle `append` passes in), the
    * live dir it promotes into, the family's result and the payload
    * the marker records ([[commit]]). */
  final case class Landing[A](stage: File, live: File, result: A,
                              payload: String = "")

  /** Append streaming batch `batchId` exactly once — the whole
    * protocol, in its fixed order:
    *
    *  1. LEDGER PROBE, before any plan: a committed batch returns
    *     `skip` of the marker's payload. Its own stage dir in every
    *     `debris` root is deleted first — debris of a crash between
    *     the marker and the cleanup, which maintenance would otherwise
    *     have to sweep against a marker [[sweepLedger]] may retire
    *     first. The committed batch's promoted files stay.
    *  2. DEBRIS SCRUB: for each `(stage root, live dir)` pair, a
    *     standing stage dir means an earlier attempt crashed before
    *     its marker — its `b<id>-p*` files in the live dir and the
    *     stage dir are removed BEFORE `land` can run a revive
    *     compaction that would fold them.
    *  3. LANDING: the family's `land` (revive probe, target
    *     resolution, the write into the stage dir it names through
    *     the handle it is given).
    *  4. [[promote]] into the live dir, [[commit]] the marker with the
    *     payload, delete the stage dir; returns the landing's result.
    */
  def append[A](ledger: File, batchId: Long, debris: Seq[(File, File)])(
      skip: Option[String] => A)(land: (File => File) => Landing[A]): A = {
    if (isApplied(ledger, batchId)) {
      debris.foreach { case (root, _) => graft.FileTree.delete(stageDir(root, batchId)) }
      skip(appliedPayload(ledger, batchId))
    } else {
      debris.foreach { case (root, live) =>
        val crashed = stageDir(root, batchId)
        if (crashed.isDirectory) {
          scrub(live, batchId)
          graft.FileTree.delete(crashed)
        }
      }
      val landed = land(stageDir(_, batchId))
      promote(landed.stage, landed.live, batchId)
      commit(ledger, batchId, landed.payload)
      graft.FileTree.delete(landed.stage)
      landed.result
    }
  }

  /** Marker-file handle for `batchId` under `ledger`. */
  private[graft] def marker(ledger: File, batchId: Long): File =
    new File(ledger, s"b$batchId")

  /** Intent-marker handle for `batchId` under `ledger` — the graph
    * family's in-flight recovery signal (written before its append,
    * cleared after the commit; [[sweepLedger]] never retires it). */
  private[graft] def intent(ledger: File, batchId: Long): File =
    new File(ledger, s"i$batchId")

  /** True when `batchId` has already been committed under `ledger` —
    * the re-delivery probe, one file stat. */
  def isApplied(ledger: File, batchId: Long): Boolean =
    marker(ledger, batchId).isFile

  /** Record `batchId` as committed. Idempotent (a marker that
    * already exists — two racing re-deliveries of the same batch —
    * is the same commit, not a conflict). `payload` (optional) is
    * recorded IN the marker — the pointer-less machineries (the
    * dedup register, whose live path is threaded by the caller, not
    * read from a metastore) record the path the batch LANDED in, so
    * a marker-hit re-delivery after a revive flip can return the
    * flipped generation instead of echoing the caller's stale
    * pre-crash path (which a later compaction's GC would destroy
    * with the committed batch inside). */
  def commit(ledger: File, batchId: Long,
             payload: String = ""): Unit = {
    ledger.mkdirs()
    val m = marker(ledger, batchId)
    // payload and marker must be INSEPARABLE (a visible marker with a
    // lost payload would re-introduce the stale-path echo): stage the
    // content in a hidden temp and rename — atomic on a filesystem.
    // The temp name is PER-ATTEMPT (two racing commits of the same
    // batch must not share it — the loser's move would find its temp
    // stolen and throw on a batch that is in fact committed; with
    // per-attempt temps, last-rename-wins and both attempts wrote
    // equivalent content)
    val tmp = new File(ledger,
      s".b$batchId.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    java.nio.file.Files.write(tmp.toPath,
      payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, m.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The payload recorded with a committed marker (None when the
    * batch is not committed, or committed with no payload). */
  def appliedPayload(ledger: File, batchId: Long): Option[String] = {
    val m = marker(ledger, batchId)
    if (!m.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(m.toPath),
      java.nio.charset.StandardCharsets.UTF_8)).filter(_.nonEmpty)
  }

  /** The writing shuffle partition (`NNNNN` of `part-NNNNN-…`), the
    * optional bucket suffix (`_MMMMM` before the extensions — Spark
    * derives a bucketed file's bucket id from exactly this suffix,
    * so promotion must carry it) and the writer's FILE COUNTER
    * (`cKKK` — the first extension segment; a task that ROLLS files,
    * e.g. under spark.sql.files.maxRecordsPerFile, emits c000/c001/…
    * for the same (partition-dir, task, bucket), so the counter must
    * be part of the deterministic key or promotion's REPLACE rename
    * would silently keep only the last roll) of a staged part file.
    * None for non-data files (`_SUCCESS`, checksums, hidden). */
  private[graft] def partKey(name: String): Option[(Int, Option[String], Option[String])] = {
    if (!name.startsWith("part-")) None
    else {
      val task = name.stripPrefix("part-").takeWhile(_.isDigit)
      if (task.isEmpty) None
      else {
        // uuid segments are hyphen-separated hex and extensions carry
        // no '_', so the LAST underscore (if any) introduces the
        // bucket suffix: part-00000-<uuid>_00003.c000.snappy.parquet
        val base = name.takeWhile(_ != '.')
        val i = base.lastIndexOf('_')
        val bucket =
          if (i >= 0 && i + 1 < base.length && base.drop(i + 1).forall(_.isDigit))
            Some(base.drop(i + 1))
          else None
        // the counter's position depends on the writer: the first
        // extension segment (part-00000-<uuid>_00003.c001.snappy
        // .parquet), or the base's last segment (part-00000-<uuid>
        // -c003.snappy.parquet). The extension is read first: a base
        // whose uuid tail happens to be `c` + digits would otherwise
        // key the name on the run's random uuid
        val baseTail = base.drop(base.lastIndexOf('-') + 1)
        val counter = name.drop(base.length).split('.')
          .find(s => s.length > 1 && s.head == 'c' && s.tail.forall(_.isDigit))
          .orElse(
            if (base.lastIndexOf('-') >= 0 && baseTail.length > 1 &&
                baseTail.head == 'c' && baseTail.tail.forall(_.isDigit))
              Some(baseTail)
            else None)
        Some((task.toInt, bucket, counter))
      }
    }
  }

  /** The deterministic live-layout name for a staged part file of
    * `batchId`: same (batch, writing partition, counter, bucket) →
    * same name on every re-run, which is what makes the
    * rename-REPLACE retry converge (hash repartitioning is
    * deterministic for the same input and conf, so a re-run rolls
    * files at the same row boundaries and reproduces the same
    * counter set). The bucket suffix stays the trailing `_<digits>`
    * so Spark's bucketed scan still reads the bucket id off the
    * name; the counter segment carries no underscore, so it never
    * shadows the bucket parse. */
  private[graft] def promotedName(batchId: Long, task: Int,
                                  bucket: Option[String],
                                  counter: Option[String]): String =
    f"b$batchId%d-p$task%05d" + counter.fold("")("-" + _) +
      bucket.fold("")("_" + _) + ".parquet"

  /** Rename every staged part file under `stage` into the mirrored
    * partition directory under `live`, REPLACE_EXISTING, under
    * [[promotedName]]. Partition subdirectories (`cid=7/`,
    * `sigbucket=3/`) are mirrored; `_SUCCESS`/hidden files are not
    * promoted. Idempotent: a re-run after a crash at ANY point
    * re-promotes over its own earlier moves. */
  private[graft] def promote(stage: File, live: File, batchId: Long): Unit = {
    def walk(src: File, dst: File): Unit = {
      // belt-and-braces against silent row loss: two staged files in
      // ONE promotion mapping to the same deterministic target (a
      // writer naming scheme this parser doesn't fully key) must fail
      // loudly — the REPLACE rename is for RE-RUN convergence, never
      // for discarding a sibling staged in the same attempt
      val claimed = scala.collection.mutable.Map.empty[String, String]
      Option(src.listFiles()).toSeq.flatten.foreach { f =>
        if (f.isDirectory) {
          if (!f.getName.startsWith(".") && !f.getName.startsWith("_"))
            walk(f, new File(dst, f.getName))
        } else partKey(f.getName).foreach { case (task, bucket, counter) =>
          val target = promotedName(batchId, task, bucket, counter)
          claimed.put(target, f.getName).foreach { prior =>
            throw new IllegalStateException(
              s"ExactlyOnce.promote: staged files '$prior' and " +
                s"'${f.getName}' both map to promoted name '$target' — " +
                "promoting would silently discard one; the writer's " +
                "file naming is not fully keyed by (task, counter, " +
                "bucket)")
          }
          dst.mkdirs()
          java.nio.file.Files.move(f.toPath,
            new File(dst, target).toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
    walk(stage, live)
  }

  /** Remove every file `batchId` promoted into `live` (the
    * deterministic `b<id>-p*` prefix makes a batch's own debris
    * identifiable) — the recovery scrub a RE-DELIVERY runs when it
    * finds its own stage dir still present (crash anywhere before the
    * marker). Two reasons this beats relying on rename-REPLACE alone:
    * the revive probe may need to run [[graft.search.IVF.compactIndex]]
    * first, which must not fold the partial promotion a re-promote
    * would then double; and a conf change between crash and re-run
    * (shuffle partition count) can shift the deterministic key set,
    * leaving old keys no re-promote would overwrite. O(touched
    * partition dirs) file stats; only correct BEFORE the batch's
    * marker exists and only for the caller's own batchId — both
    * guaranteed by the single-stream-per-ledger contract. */
  private def scrub(live: File, batchId: Long): Unit = {
    val prefix = s"b$batchId-p"
    def walk(d: File): Unit =
      Option(d.listFiles()).toSeq.flatten.foreach { f =>
        if (f.isDirectory) { if (!f.getName.startsWith(".")) walk(f) }
        else if (f.getName.startsWith(prefix))
          java.nio.file.Files.deleteIfExists(f.toPath)
      }
    walk(live)
  }

  /** Stage-dir handle for `batchId` under the machinery root `dir` —
    * dot-prefixed so no Spark reader over the machinery's data dirs
    * ever lists it. */
  private[graft] def stageDir(dir: File, batchId: Long): File =
    new File(dir, s".stage_append_b$batchId")

  /** The stage dirs standing under `dir` (any batch). */
  private[graft] def stages(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(".stage_append_b"))

  /** Leave what an attempt of `batchId` that crashed before its
    * marker leaves under `dir`: its stage dir — the crash-debris
    * injection of the exactly-once drains' gates. */
  private[graft] def crashedStage(dir: File, batchId: Long): Unit = {
    stageDir(dir, batchId).mkdirs(); ()
  }

  /** The maintenance writers' in-flight guard on the index at `path`
    * (its ledger is [[graft.Generations.ledger]]). A stage dir whose
    * batch is COMMITTED is garbage from a crash between marker and
    * cleanup — deleted. An UNCOMMITTED stage is an IN-FLIGHT append:
    * this throws loudly instead of letting a rewrite fold a partial
    * batch that a later re-delivery would then double. */
  def refuseInflight(path: String, what: String): Unit = {
    val ledger = graft.Generations.ledger(path)
    stages(new File(path)).foreach { f =>
      val bid = scala.util.Try(
        f.getName.stripPrefix(".stage_append_b").toLong).toOption
      if (bid.exists(isApplied(ledger, _))) graft.FileTree.delete(f)
      else
        throw new IllegalStateException(
          s"$what: in-flight idempotent append ${f.getName} is staged " +
            "but not committed — a rewrite now would fold a partial " +
            "batch that its re-delivery would then double. Finish the " +
            "ingest drain (re-running it is safe and converges) or " +
            "delete the stage dir if the stream is retired.")
    }
    // hidden `.b<id>.<attempt>.tmp` marker temps are crash debris of
    // [[commit]] (died between the payload write and the atomic
    // rename) — only the RENAMED marker is ever authoritative, and
    // the single-writer contract means no live commit can be racing a
    // maintenance sweep, so they are safe to delete at any age;
    // without this a long-lived stream's repeated crash windows would
    // accumulate hidden files in the ledger forever
    Option(ledger.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith(".b") &&
        f.getName.endsWith(".tmp"))
      .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
  }

  /** Retire committed-batch markers BELOW a streaming checkpoint's
    * low-watermark — the retirement path the ledger contract
    * promised ("a deployment that retires checkpoints can sweep
    * markers below the checkpoint's low-watermark", now in code). A
    * batch id strictly below `belowBatchId` can never be
    * RE-DELIVERED once the checkpoint's commit log has passed it
    * (Structured Streaming re-runs only a batch whose foreachBatch
    * ran but whose checkpoint commit did not land — every batch
    * below a committed one is committed), so its marker is dead
    * weight: sweeping it keeps the ledger O(live window), not
    * O(stream lifetime), without opening any re-application window.
    * Derive `belowBatchId` from the checkpoint, not from folklore —
    * [[Streaming.checkpointWatermark]] reads the commit log;
    * [[Streaming.runForeachBatchResumable]]'s `sweepLedgers`
    * parameter wires the two together after each drain. Stale
    * `.b<id>.*.tmp` commit temps below the watermark sweep too.
    * Intent markers (`i<id>`, the graph family's recovery signal)
    * are NOT swept — an intent is in-flight state, never retired
    * history. Returns the number of markers removed. */
  def sweepLedger(ledger: File, belowBatchId: Long): Int = {
    def idOf(name: String): Option[Long] =
      if (name.startsWith("b") && name.length > 1 &&
          name.tail.forall(_.isDigit))
        scala.util.Try(name.tail.toLong).toOption
      else if (name.startsWith(".b") && name.endsWith(".tmp"))
        scala.util.Try(
          name.stripPrefix(".b").takeWhile(_.isDigit).toLong).toOption
      else None
    val dead = Option(ledger.listFiles()).toSeq.flatten
      .filter(f => f.isFile && idOf(f.getName).exists(_ < belowBatchId))
    dead.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    dead.size
  }
}
