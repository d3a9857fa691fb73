package graft.dedup

import graft.Tombstones
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation.
  *
  * Generalizes the reference's exact text dedup
  * (`src/pipeline/pipeline.py:67` pandas `drop_duplicates`) to the
  * family a 100 TB training-data pipeline needs: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup. All
  * hashing is MD5 (identical across engines, so the DuckDB oracle
  * replays signatures bit-for-bit); all pair generation goes through
  * a bucket key so the shuffle is (band, signature)-partitioned and
  * the quadratic candidate join never touches the cross product.
  */
object Dedup {

  /** Normalized text key for exact dedup. */
  def normKey(text: Column): Column = regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact dedup: keep first occurrence by id; single hash shuffle. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(normKey(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  def tokenize(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word n-gram shingles from a MATERIALIZED token-array column
    * (distinct). `toks` must be a bound attribute, not an inline
    * split() expression: the shingle window references it ~3n times
    * per row, and an inline subtree would re-run the regex split per
    * reference (observed 6x slowdown at sf0.1). */
  def shinglesFromToks(toks: Column, n: Int, distinct: Boolean = true): Column = {
    // guard: sequence(1, x) with x<1 would generate a DESCENDING range
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)),
      k => concat_ws(" ", (0 until n).map(o => element_at(toks, k + o)): _*))
    when(size(toks) >= n, if (distinct) array_distinct(grams) else grams)
      .otherwise(array().cast("array<string>"))
  }

  /** Expression-level shingles (tokenizes inline — fine for single
    * use / small inputs; prefer [[shingleRows]] in pipelines). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromToks(tokenize(text), n)

  /** Exploded (id, s) shingle rows via posexplode + lead() windows.
    * This is the FAST formulation: per-element array accessors inside
    * a higher-order lambda (element_at/get) cost ~20x more than the
    * codegen'd window path at sf0.1, so tokens explode once and each
    * shingle is assembled from the current row plus n-1 leads. One
    * hash shuffle on id (the window partition key), which also spreads
    * a single-split parquet scan across cores. Non-distinct — MinHash
    * is duplicate-invariant and Jaccard deduplicates downstream. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val posed = df
      .select(col(idCol).as("id"), posexplode(tokenize(col(textCol))))
      .toDF("id", "pos", "tok")
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until n).map(o => lead(col("tok"), o).over(w).as(s"t$o"))
    posed.select(col("id") +: col("tok") +: leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("id"),
        concat_ws(" ", col("tok") +: (1 until n).map(o => col(s"t$o")): _*).as("s"))
  }

  /** [[shingleRows]] with the window's 1-based start-token position
    * kept: `(id, pos, s)`. Same lead()-window formulation and the
    * same single id-keyed shuffle; `pos` matches DuckDB's
    * `generate_series(1, len(toks)-n+1)` numbering so span oracles
    * replay positions exactly. Used by the exact-substring dedup
    * path, where coverage math needs WHERE each duplicated window
    * sits, not just that it exists. */
  def shingleRowsPos(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"positioned shingles need n >= 2, got $n")
    val posed = df
      .select(col(idCol).as("id"), posexplode(tokenize(col(textCol))))
      .toDF("id", "pos", "tok")
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until n).map(o => lead(col("tok"), o).over(w).as(s"t$o"))
    posed.select(col("id") +: col("pos") +: col("tok") +: leads: _*)
      .filter(col(s"t${n - 1}").isNotNull)
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        concat_ws(" ", col("tok") +: (1 until n).map(o => col(s"t$o")): _*).as("s"))
  }

  /** Base shingle hash: first 8 hex digits of MD5 as an int64 in
    * [0, 2^32). ONE digest per shingle — the per-permutation values
    * are derived arithmetically (see [[minhashValue]]), not re-hashed.
    * DuckDB replays it as `('0x' || substr(md5(s),1,8))::BIGINT`. */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** MinHash permutation value: permutation `p` maps
    * h -> (a_p*h + b_p) mod (2^31-1) with a distinct multiplier per
    * permutation — the classic universal-hash MinHash. All
    * intermediates stay below 2^63 (a_p < 2^31, h < 2^32), so the
    * arithmetic is exact and engine-portable. */
  def minhashValue(h: Column, p: Column): Column = {
    val a = (p + lit(1L)) * lit(2654435761L) % lit(2147483647L)
    val b = (p + lit(1L)) * lit(7919L)
    (a * h + b) % lit(2147483647L)
  }

  /** Banded MinHash signatures, computed RELATIONALLY: explode
    * shingles, one codegen'd hash-aggregate `min` per (doc,
    * permutation) with map-side partial aggregation, then re-assemble
    * each band's signature string. This keeps the whole MinHash hot
    * path inside whole-stage codegen (interpreted higher-order
    * lambdas were ~5x slower at sf0.1) and shuffles only the
    * (doc × nPerm) partial minima, not the posting explosion.
    * Output: (id, band, bandsig). */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, nPerm: Int, rowsPerBand: Int): DataFrame =
    // Docs with fewer than shingleN tokens have NO shingles: their
    // minhash would be undefined and every such doc would share the
    // same empty bandsig — a quadratic all-pairs blowup of contentless
    // candidates. They carry no n-gram signal, so they drop out here.
    shingleRows(df, idCol, textCol, shingleN)
      .select(col("id"), shingleHash(col("s")).as("h"))
      .select(col("id"), col("h"),
        explode(sequence(lit(0L), lit(nPerm - 1L))).as("p"))
      .withColumn("v", minhashValue(col("h"), col("p")))
      .groupBy("id", "p").agg(min(col("v")).as("v"))
      .withColumn("band", (col("p") / rowsPerBand).cast("long"))
      .groupBy("id", "band")
      .agg(array_sort(collect_list(struct(col("p"), col("v")))).as("pv"))
      .select(col("id"), col("band"),
        array_join(transform(col("pv"), x => x.getField("v").cast("string")), "|")
          .as("bandsig"))

  /** CREATE a banded-signature register at `path` — the bucketed
    * write every register build must go through: one file per
    * sigbucket (the postings-write discipline), and CREATE semantics
    * that clear the path AND its sidecar/generation SIBLINGS
    * (delete sidecar, `__genN`). The sidecar lives NEXT TO the data
    * path, so overwriting the data alone would leave a dead
    * register's delete set silently hiding legitimate ids from the
    * fresh one — the leftover-sidecar class [[graft.search.GraphAnn
    * .writeIndexWith]] clears on its in-root sidecar. */
  def writeRegister(bands: DataFrame, path: String, buckets: Int): Unit = {
    // CREATE clears the exactly-once ledger too (a fresh register
    // inheriting a dead stream's applied set would silently skip
    // batches); the fingerprint-upgrade rebuild goes through
    // [[writeRegisterData]] directly — maintenance preserves it
    graft.FileTree.delete(graft.Generations.ledger(path))
    writeRegisterData(bands, path, buckets)
  }

  /** The data write [[writeRegister]] (CREATE) and [[rebuildRegister]]
    * (maintenance) share: replace the register, its sidecar, and its
    * stale generations at `path` — everything EXCEPT the `__applied`
    * ledger. */
  private def writeRegisterData(bands: DataFrame, path: String,
                                buckets: Int): Unit = {
    val base = new java.io.File(path)
    val ledger = graft.Generations.ledger(path)
    Option(base.getParentFile.listFiles()).toSeq.flatten
      .filter(f => (f.getName == base.getName ||
          f.getName.startsWith(base.getName + "__")) && f != ledger)
      .foreach(graft.FileTree.delete)
    bands.repartition(buckets, col("sigbucket"))
      .write.mode("overwrite").partitionBy("sigbucket").parquet(path)
  }

  /** DELETE-AWARE register rebuild — the dedup twin of
    * [[graft.search.SQ.rebuildIndex]]: a fingerprint-parameter
    * upgrade (new shingle width, permutation count, banding)
    * re-derives every signature from the CORPUS, which knows nothing
    * about the forgets the live register is hiding — a raw
    * [[writeRegister]] (CREATE) would re-admit every forgotten doc's
    * bands, resuming the influence a right-to-be-forgotten request
    * ended. The standing sidecar is captured FIRST (materialized —
    * the CREATE clears the sidecar it lives in) and anti-joined out
    * of the rebuild input. `livePath` is the register's current
    * generation (the threaded [[compactRegister]] pointer). */
  def rebuildRegister(spark: org.apache.spark.sql.SparkSession,
                      bands: DataFrame, livePath: String,
                      buckets: Int): Unit = {
    // maintenance, not CREATE: refuse to fold a half-promoted ingest
    // batch (its re-delivery would double), and PRESERVE the
    // exactly-once ledger — the [[graft.search.SQ.rebuildIndex]]
    // discipline on the register (a rebuild that wiped the markers
    // would turn the next crash's re-delivery of a committed batch
    // into doubled bands on a rebuild that already re-derived them)
    graft.streaming.ExactlyOnce.refuseInflight(livePath, "Dedup.rebuildRegister")
    writeRegisterData(
      Tombstones.hide(spark, Tombstones.beside(livePath), bands, materialize = true),
      livePath, buckets)
  }

  /** PHASE-1 deletion from a banded-signature register stored at
    * `path` (rows (id, band, bandsig, sigbucket)): record
    * request ∩ register ids in the sidecar beside the register's DATA
    * path ([[graft.Tombstones.beside]]; a compaction that returns a
    * fresh generation path starts with no sidecar by construction) —
    * an O(request) write that opens no bucket file — and every
    * register read goes through [[liveRegister]]'s anti-join from
    * then on. Ids absent from the live register are never recorded
    * (repeat deletes count zero). PHASE 2 rides [[compactRegister]].
    * Returns the number of DOCS the request hides.
    *
    * The register is DERIVED data (fingerprints of document content),
    * so right-to-be-forgotten reaches it like any other artifact — and
    * a register that keeps a forgotten doc's bands both retains
    * derived content AND keeps suppressing future near-dups of it
    * (ghost suppression: the forgotten doc still shapes what the
    * pipeline admits). */
  def deleteFromRegister(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame): Long =
    Tombstones.recordPresent(spark, Tombstones.beside(path),
      spark.read.parquet(path).select(col("id")),
      ids.select(col(ids.columns.head).cast("long").as("id")), distinct = true)

  /** Append one batch's banded signatures (id, band, bandsig,
    * sigbucket) into the register at `path`, running the REVIVE
    * discipline first — the [[graft.search.SQ.appendToIndex]] /
    * [[graft.lexical.BM25]] writePostings contract on the dedup
    * artifact: a batch id that sits in the register's sidecar is a
    * re-consented doc whose fresh fingerprints MUST take effect, but
    * a raw append would land bands [[liveRegister]]'s anti-join then
    * hides — the forget silently outliving the data it names, and
    * worse here than on a serve index: a revived doc with hidden
    * bands is an ADMITTED GHOST — the pipeline re-ingests unlimited
    * near-copies of its content without a single match firing. So a
    * revive pulls the deferred [[compactRegister]] forward (stale
    * copies and stay-forgotten rows drop, the sidecar clears) and
    * the batch lands in the flipped generation as its ids' only
    * bands. The probe is a directory read on the never-deleted
    * common case, a batch-sized semi-join otherwise. Returns the
    * path the batch landed in — `path` unless the probe fired; the
    * caller threads it ([[compactRegister]]'s no-metastore
    * contract). */
  def appendToRegister(spark: org.apache.spark.sql.SparkSession,
                       path: String, bands: DataFrame,
                       buckets: Int): String = {
    // with a standing sidecar the batch plan is consumed TWICE (the
    // probe's isEmpty, then the write) — and streaming callers pass
    // un-checkpointed bandedSignatures plans, so every post-forget
    // batch would pay the MinHash signature computation twice.
    // Materialize once (batch-sized by contract); the never-deleted
    // common case stays zero-cost — one directory probe, no
    // checkpoint.
    val staged = if (Tombstones.exists(Tombstones.beside(path))) bands.localCheckpoint() else bands
    val target = resolveAppendTarget(spark, path, staged, buckets)
    staged
      .repartition(col("sigbucket"))
      .write.mode("append").partitionBy("sigbucket").parquet(target)
    target
  }

  /** The revive-probe target resolution BOTH register append paths
    * share (raw and idempotent — one implementation so the revive
    * semantics can never diverge between them): no sidecar → append
    * in place; sidecar but no forgotten id in the batch → append in
    * place; a forgotten id re-ingesting → pull [[compactRegister]]
    * forward and land in the flipped generation. */
  private def resolveAppendTarget(spark: org.apache.spark.sql.SparkSession,
                                  path: String, staged: DataFrame,
                                  buckets: Int): String =
    if (!Tombstones.revives(spark, Tombstones.beside(path),
        staged.select(col("id")).distinct(), "id")) path
    else compactRegister(spark, path, buckets)

  /** [[appendToRegister]] with EXACTLY-ONCE semantics under streaming
    * re-delivery — [[graft.streaming.ExactlyOnce.append]] on the dedup
    * artifact. The crash-debris probe covers the base path and every
    * sibling generation (one parent-dir listing): the revive probe
    * compacts to a flipped generation BEFORE staging, so a
    * flip-then-crash attempt leaves its stage dir and promoted
    * `b<id>-p*` files inside a generation the re-delivery never
    * threads. The landing step is [[appendToRegister]]'s (checkpoint
    * under a standing sidecar, [[resolveAppendTarget]]); the marker
    * records the landed path. Returns the path the batch landed in,
    * exactly like the raw append — the caller threads it. A
    * re-delivery that raced a revive flip converges too: the
    * half-promoted generation was never threaded (the crash happened
    * before the return), so the re-run simply compacts again and the
    * orphan is GC'd by a later cycle. */
  def appendToRegisterIdempotent(spark: org.apache.spark.sql.SparkSession,
                                 path: String, bands: DataFrame,
                                 buckets: Int, batchId: Long): String = {
    val gens = graft.Generations.siblings(path)
    val debris = (new java.io.File(graft.Generations.baseOf(path)) +:
      graft.Generations.generationDirs(gens)).map(d => d -> d)
    graft.streaming.ExactlyOnce.append(graft.Generations.ledger(path), batchId,
        debris) { recorded =>
      // a skip returns the path the batch LANDED in (recorded with
      // the marker), NOT the caller's threaded path: the register has
      // no pointer, so a crash after a revive flip restarts the drain
      // with the stale pre-flip path — echoing it would abandon the
      // flipped generation holding the committed batch (and a later
      // compaction's GC would destroy it). A recorded path superseded
      // by ONE post-commit compaction is still within its GC grace
      // cycle (the drain's next valve poll re-compacts it forward);
      // one superseded by TWO OR MORE cycles may already be GC'd —
      // the content lives on in its descendants, so fall back to the
      // newest generation that actually exists (what a restarted
      // operator would re-derive as the pointer).
      recorded.filter(p => new java.io.File(p).isDirectory).getOrElse {
        if (new java.io.File(path).isDirectory) path
        else graft.Generations.versions(gens).maxOption
          .fold(graft.Generations.baseOf(path))(graft.Generations.siblingPath(path, _))
      }
    } { stageIn =>
      val staged = if (Tombstones.exists(Tombstones.beside(path))) bands.localCheckpoint() else bands
      val target = resolveAppendTarget(spark, path, staged, buckets)
      val stage = stageIn(new java.io.File(target))
      staged
        .repartition(col("sigbucket"))
        .write.mode("overwrite").partitionBy("sigbucket").parquet(stage.getPath)
      graft.streaming.ExactlyOnce.Landing(stage, new java.io.File(target), target,
        payload = target)
    }
  }

  /** The LIVE view of a register frame stored at `path`: deleted ids
    * hidden ([[graft.Tombstones.hide]]; no sidecar → passthrough, a
    * never-deleted register pays nothing). */
  def liveRegister(spark: org.apache.spark.sql.SparkSession,
                   path: String, df: DataFrame): DataFrame =
    Tombstones.hide(spark, Tombstones.beside(path), df)

  /** Distinct docs in the register's sidecar (0 when none). */
  def registerTombstoneRows(spark: org.apache.spark.sql.SparkSession,
                            path: String): Long =
    Tombstones.count(spark, Tombstones.beside(path), distinct = true)

  /** Compaction trigger on delete accumulation — the register twin
    * of [[graft.search.IVF.needsCompact]]. */
  def needsCompactRegister(spark: org.apache.spark.sql.SparkSession,
                           path: String, maxTombRows: Long): Boolean =
    registerTombstoneRows(spark, path) > maxTombRows

  /** PHYSICAL removal from the register — deletion's phase 2: stage
    * a one-file-per-bucket rewrite of the LIVE (sidecar-filtered)
    * rows under a fresh `__genN` sibling path and return it; the
    * caller MUST thread the returned path into every subsequent read
    * and delete (the [[graft.Queries.compactPostings]] contract —
    * the register has no metastore, so the returned path IS the
    * pointer, and threading it is the COMMIT: the ordered-commit
    * guard the pointer-carrying machineries enforce at their flip
    * reduces here to the single-writer-per-register contract — one
    * thread of control owns the threaded path). The superseded path
    * keeps its files AND sidecar as the in-flight readers' grace
    * window; generations two or more cycles old are GC'd with their
    * sidecars. */
  def compactRegister(spark: org.apache.spark.sql.SparkSession,
                      path: String, buckets: Int): String = {
    // the IVF.compactIndex in-flight-append guard: an uncommitted
    // idempotent-append stage under this path is a half-landed ingest
    // batch whose re-delivery would double whatever a rewrite folds
    graft.streaming.ExactlyOnce.refuseInflight(path, "Dedup.compactRegister")
    // claim (derive + fence): the loser of a same-version race fails
    // loudly before staging
    val gens = graft.Generations.siblings(path)
    val v = graft.Generations.claim(gens, "Dedup.compactRegister")
    val stagePath = graft.Generations.siblingPath(path, v)
    liveRegister(spark, path, spark.read.parquet(path))
      .repartition(buckets, col("sigbucket"))
      .write.mode("overwrite").partitionBy("sigbucket").parquet(stagePath)
    // GC generations two+ cycles old (with sidecars); keep the new
    // generation and the immediately superseded `path` + its sidecar
    graft.Generations.commit(gens, v, keep = Seq(stagePath, path)
      .map(new java.io.File(_).getName), "Dedup.compactRegister")
    stagePath
  }

  /** MinHash-LSH candidate pairs: band the signature (`rowsPerBand`
    * consecutive values concatenated), self-join on (band, bandSig).
    * Output: (id1, id2) candidates with id1 < id2, distinct. The join
    * key is the bucket — at scale this is THE trick: shuffle is keyed
    * by (band, sig), identical docs co-locate, nothing else meets. */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int, nPerm: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, shingleN, nPerm, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Exact n-gram Jaccard for a pair DataFrame (id1, id2): verify
    * step after LSH candidate generation. Relational: explode both
    * shingle sets, count intersection, |A|+|B|-∩ union. */
  def jaccardVerify(df: DataFrame, idCol: String, textCol: String,
                    pairs: DataFrame, shingleN: Int): DataFrame = {
    // only docs that appear in a candidate pair need their shingle
    // set — semi-join prune BEFORE the (expensive) shingling, so the
    // verify cost scales with |candidates|, not |corpus|
    // single reference to the pairs plan (explode, not a two-leg
    // union) so a self-join candidate pipeline is computed once and
    // reused via its final exchange
    val needed = pairs
      .select(explode(array(col("id1"), col("id2"))).as("id")).distinct()
    // no broadcast() hint: `needed` scales with the candidate-pair
    // count, which an adversarial corpus can blow past the broadcast
    // cap — leave the join strategy to AQE / size thresholds
    val sh = shingleRows(
        df.join(needed, df(idCol) === needed("id"), "left_semi"),
        idCol, textCol, shingleN)
      .groupBy("id").agg(collect_set(col("s")).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val a = sh.select(col("id").as("id1"), col("sh").as("sh1"), col("nsh").as("n1"))
    val b = sh.select(col("id").as("id2"), col("sh").as("sh2"), col("nsh").as("n2"))
    val emptyArr = array().cast("array<string>")
    // left joins + coalesce: a doc shorter than the shingle width has
    // NO shingle rows; its pairs must still surface with J = 0, and
    // two empty sets would otherwise divide 0/0 = NaN
    pairs.join(a, Seq("id1"), "left").join(b, Seq("id2"), "left")
      .withColumn("inter",
        size(array_intersect(coalesce(col("sh1"), emptyArr),
          coalesce(col("sh2"), emptyArr))).cast("double"))
      .withColumn("union",
        coalesce(col("n1"), lit(0)) + coalesce(col("n2"), lit(0)) - col("inter"))
      .withColumn("jaccard",
        when(col("union") > 0, round(col("inter") / col("union"), 4))
          .otherwise(lit(0.0)))
      .select("id1", "id2", "jaccard")
  }

  /** SimHash (16-bit, from the first 4 hex digits of MD5(token)):
    * per bit b, sum +1/-1 over token occurrences by whether bit b of
    * the token hash is set; simhash = Σ 2^b over positive bits.
    * Near-dup docs differ in few bits. One token explode, ONE hash
    * aggregate with 16 conditional sums (no per-bit row blowup, no
    * second shuffle), then a local projection folds the bit sums. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long"))
    val bitSums = (0 until 16).map { b =>
      sum(when(floor(col("h") / (1L << b)).cast("long") % 2 === 1, 1)
        .otherwise(-1)).as(s"v$b")
    }
    toks.groupBy("id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 16).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }
}
