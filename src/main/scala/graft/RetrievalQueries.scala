package graft

import graft.functions.VectorF._
import graft.hybrid.Hybrid
import graft.ingest.Ingest
import graft.lexical.BM25
import graft.metrics.RankMetrics
import graft.search.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval/metrics/ingest query catalog: ranking-fidelity metrics
  * (M1–M5), hybrid candidate union (R4), MMR re-rank (R5 — the
  * iterative greedy loop, oracle-replayed as a recursive CTE),
  * LSH-bucketed approximate kNN (R2 scale path), ingest row ops
  * (P3/P5/P8/P9), and rollup aggregation.
  */
object RetrievalQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "documents")
  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  // ---------- ingest row ops ----------

  /** P3/P5/P9: clean text, display snippet, conditional source
    * prefix — all codegen'd string expressions, zero shuffles. */
  def q07IngestClean(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        Ingest.snippet(Ingest.cleanText(col("text")), 60).as("snip"),
        Ingest.prefixWhenPresent(col("source"),
          Ingest.snippet(col("text"), 30)).as("titled"))
      .orderBy("doc_id")

  /** S1/S2 + P1/P3–P6: the reference's ACTUAL entry point — the
    * quoted-multiline CSV scan and preprocessing chain
    * (`src/pipeline/pipeline.py:26-68`): header CSV with
    * quote-escape `"` → case-insensitive select+rename → clean_text
    * → drop null text → conditional specialty prefix → dedup
    * keep-first by text. The fixture (data/mtsamples_fixture.csv)
    * exercises every dialect feature: quoted newlines in both text
    * and attribute columns, doubled-quote escapes, embedded commas,
    * null specialty/transcription, and a whitespace-variant
    * duplicate that only collapses AFTER cleaning. Oracle replays it
    * via DuckDB `read_csv` with the matching dialect. Resolved
    * relative to the working directory (or SPARK_GRAFT_FIXTURE) so
    * the query — and the oracle SQL interpolating this path — work
    * from any checkout location, not just /root/repo. */
  val csvFixture: String = sys.env.getOrElse("SPARK_GRAFT_FIXTURE",
    new java.io.File("data/mtsamples_fixture.csv").getAbsolutePath)

  def q51CsvIngest(s: SparkSession, dir: String): DataFrame = {
    val raw = graft.sources.Tables.csv(s, csvFixture)
    val named = Ingest.resolveColumns(raw,
      Seq("id", "name", "medical_specialty", "transcription"))
    val rows = named
      .select(col("id").cast("long").as("id"), col("name"),
        col("medical_specialty"),
        Ingest.cleanText(col("transcription")).as("cleaned"))
      .filter(col("cleaned").isNotNull)
      .select(col("id"), col("name"),
        Ingest.prefixWhenPresent(col("medical_specialty"), col("cleaned")).as("text"))
    Ingest.dedupFirst(rows, col("text"), col("id")).orderBy("id")
  }

  val q51Sql: String =
    raw"""WITH rw AS (SELECT * FROM read_csv('$csvFixture', header=true, all_varchar=true)),
       r AS (SELECT CAST(Id AS BIGINT) AS id, Name AS name, Medical_Specialty AS spec,
               trim(regexp_replace(regexp_replace(Transcription, '[\r\n]+', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
             FROM rw),
       p AS (SELECT id, name,
               CASE WHEN spec IS NOT NULL AND len(trim(spec)) > 0
                    THEN trim(spec) || ', ' || cleaned ELSE cleaned END AS text
             FROM r WHERE cleaned IS NOT NULL),
       d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY id) AS rn FROM p)
       SELECT id, name, text FROM d WHERE rn = 1 ORDER BY id"""

  val q07Sql: String =
    """WITH t AS (SELECT doc_id, text, source,
         trim(regexp_replace(regexp_replace(text, '[\r\n]+', ' ', 'g'), '\s+', ' ', 'g')) AS clean
       FROM documents WHERE doc_id < 100)
       SELECT doc_id,
         regexp_replace(substr(clean, 1, 60), '[\r\n]', ' ', 'g') AS snip,
         CASE WHEN source IS NOT NULL AND length(trim(source)) > 0
           THEN concat(trim(source), ', ', regexp_replace(substr(text, 1, 30), '[\r\n]', ' ', 'g'))
           ELSE regexp_replace(substr(text, 1, 30), '[\r\n]', ' ', 'g') END AS titled
       FROM t ORDER BY doc_id"""

  /** P8: deterministic fixed-size sample via LCG shuffle key —
    * a single TakeOrderedAndProject pass, no full sort at scale. */
  def q08Sample(s: SparkSession, dir: String): DataFrame =
    Ingest.sampleN(docs(s, dir).select(col("doc_id")), col("doc_id"), 25)
      .select(col("doc_id"))
      .orderBy("doc_id")

  val q08Sql: String =
    """SELECT doc_id FROM (
         SELECT doc_id FROM documents
         ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648, doc_id LIMIT 25)
       ORDER BY doc_id"""

  /** Rollup aggregation over lineitem (super-aggregate rows coalesced
    * to 'ALL' so both engines hash identically). */
  def q09Rollup(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity") * 100).cast("long").as("qc"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("qc")).as("sum_qty_c"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty_c"), col("n"))
      .orderBy("rf", "ls")

  val q09Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       COUNT(*) AS n
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       ORDER BY rf, ls"""

  // ---------- approximate kNN (R2 scale path) ----------

  /** LSH-bucketed approximate kNN: the corpus scan is pruned to the
    * query's sign-bit bucket before exact re-scoring. Deterministic
    * hyperplanes (VectorF.planeCoef) make it oracle-replayable. */
  val annBits = 4; val embDim = 64
  def q16AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Search.lshTopK(e, "vec_id", "v",
      e.filter(col("vec_id") === 0).select(col("v").as("qv")), "qv", 10, annBits,
      embDim)
      .orderBy("rank")
  }

  /** DuckDB replay of `Search.lshBucket(v, nBits)` over a 64-dim
    * column named `v`: bucket = sum_b [proj_b(v) >= 0] * 2^b, with
    * planeCoef written out exactly as VectorF.planeCoef defines it. */
  private def bucketSql(nBits: Int): String = {
    val proj = (b: Int) =>
      s"""list_sum(list_transform(generate_series(0, 63),
          i -> v[i + 1] * ((((i + 1) * ((${b + 1} * 2654435761) % 1000003) + ${b + 1} * 7919) % 1000003) / 1000003.0 - 0.5)))"""
    (0 until nBits).map(b =>
      s"CASE WHEN ${proj(b)} >= 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
  }

  val q16Sql: String = {
    val bucket = bucketSql(annBits)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       bk AS (SELECT vec_id, v, ($bucket) AS b FROM e),
       q AS (SELECT v AS qv, b AS qb FROM bk WHERE vec_id = 0),
       sc AS (SELECT vec_id, list_dot_product(v, qv) AS sc
              FROM bk, q WHERE bk.b = q.qb),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  /** R2 (second scale path): IVF coarse-quantized ANN — 8 centroids
    * seeded by the rank-based LCG sample (id-distribution-free),
    * probe the 2 best lists, exact re-rank inside them. */
  val ivfK = 8; val ivfProbe = 2

  /** The shared IVF index artifacts. The CENTROID tables (K rows) are
    * session memos — genuinely small, localCheckpoint is the right
    * home. The corpus-sized LIST ASSIGNMENTS are PERSISTED once per
    * corpus as partitionBy(cid) parquet (the q54 layout as the
    * DEFAULT artifact, not the demo): an executor-memory checkpoint
    * of a corpus-sized frame neither fits executor storage at 100 TB
    * nor survives an executor loss (localCheckpoint truncates
    * lineage), while the at-rest lists make every probe a
    * partition-pruned read and persist across sessions. q45/q48/q54/
    * q58/q81 all ride these; build cost is charged to the
    * `_build_ivf_index` bench entry. "Build the index once, query it
    * many times" — the exact discipline the reference violates by
    * rebuilding per query (SURVEY §7.5). */
  private def ivfCents0(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "ivf_c0")(
      graft.search.IVF.centroids(emb(s, dir), "vec_id", "v", ivfK))
  private def ivfCentsR(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "ivf_c1")(
      graft.search.IVF.refine(emb(s, dir), "vec_id", "v", ivfCents0(s, dir), refineIters))

  /** Write (once per session × corpus) and reopen the persisted
    * inverted lists for `cents`; reads restore cid to long (parquet
    * partition-column inference narrows it to int). */
  private def persistedListsPath(s: SparkSession, dir: String, tag: String,
                                 cents: => DataFrame): String =
    Memo.cachedValue(s, dir, tag) {
      val p = PipelineQueries.roundtripPath(dir, tag)
      val c = cents
      graft.search.IVF.writeIndexFrom(c,
        graft.search.IVF.assign(emb(s, dir), "vec_id", "v", c), p)
      p
    }

  private def persistedLists(s: SparkSession, dir: String, tag: String,
                             cents: => DataFrame): DataFrame = {
    val path = persistedListsPath(s, dir, tag, cents)
    s.read.parquet(graft.search.IVF.listsPath(path))
      .withColumn("cid", col("cid").cast("long"))
  }

  private def ivfAssigned0(s: SparkSession, dir: String): DataFrame =
    persistedLists(s, dir, "ivf_idx0", ivfCents0(s, dir))
  private def ivfAssignedR(s: SparkSession, dir: String): DataFrame =
    persistedLists(s, dir, "ivf_idx1", ivfCentsR(s, dir))

  /** PRISTINE SOURCE INDEXES for the mutating lifecycle rows
    * (round-19 optimization). A delete/append/compact/CDC row needs
    * its OWN mutable index, but the pristine state it starts from is
    * a pure deterministic function of (corpus, params) — writeIndex
    * is documented bit-reproducible for all three families (routing
    * is deterministic, assignment a pure fold, codes a pure
    * quantization), which is the property every append ≡ rebuild
    * gate already leans on. Eight rows each re-ran the same
    * IVF k-means + partitioned write (and eight more the same SQ
    * build) only to mutate their private copy; a session-shared
    * pristine build cloned per consumer with a recursive file copy
    * starts each row from the IDENTICAL bytes for the price of a
    * local copy instead of a full build (guide §1.2: don't compute
    * things twice). The sources are built from the parquet inputs
    * once per session × corpus, charged to their own `_build_*`
    * bench entries like every shared artifact; consumers clone with
    * [[cloneIndexTo]] (CREATE semantics: dest and its sibling
    * exactly-once ledger are wiped first, exactly like writeIndex). */
  private def pristineSrc(s: SparkSession, dir: String, tag: String)
                         (build: String => Unit): String =
    Memo.cachedValue(s, dir, s"src_$tag") {
      val p = PipelineQueries.roundtripPath(dir, s"src_$tag")
      // uniform CREATE semantics for EVERY source path (round-19
      // advice): writeIndex-backed builds wipe their own sibling
      // exactly-once ledger, but a cloneTree-backed build would
      // inherit a stale one — wipe it here so the symmetry holds for
      // any build shape
      graft.FileTree.delete(graft.search.IVF.appendLedger(p))
      build(p)
      p
    }

  /** Clone a pristine source index into a row's private mutable
    * path — byte-identical to running the source's writeIndex at
    * `dest` (strictly stronger: even shuffle-order row permutations
    * within list files are carried over, not re-rolled). */
  private def cloneIndexTo(src: String, dest: String): Unit = {
    graft.FileTree.delete(graft.search.IVF.appendLedger(dest))
    cloneTree(src, dest)
  }

  /** IVF over the standing slice (vec_id ≥ 100) — the base state of
    * q84/q109/q127/q147/q158/q160/q161/q185. */
  private def ivfBase100Src(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "ivf_b100") { p =>
      graft.search.IVF.writeIndex(emb(s, dir).filter(col("vec_id") >= 100),
        "vec_id", "v", ivfK, 0, p)
    }

  /** SQ8 over the standing slice (vec_id ≥ 100) — the base state of
    * q121/q128/q133/q156/q163/q173/q189/q192. */
  private def sqBase100Src(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "sq_b100") { p =>
      graft.search.SQ.writeIndex(emb(s, dir).filter(col("vec_id") >= 100),
        "vec_id", "v", ivfK, p)
    }

  /** The chunk-corpus IVF/SQ8/graph trio the cascade rows
    * (q162/q166/q174) each mutate a private copy of. */
  private def cascadeIvfSrc(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "ivf_cv") { p =>
      graft.search.IVF.writeIndex(chunkVecs(s, dir), "ckey", "v", ivfK, 0, p)
    }
  private def cascadeSqSrc(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "sq_cv") { p =>
      graft.search.SQ.writeIndex(chunkVecs(s, dir), "ckey", "v", ivfK, p)
    }
  private def cascadeGraphSrc(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "graph_cv") { p =>
      val cv = chunkVecs(s, dir)
      val nCh = Memo.cachedCount(s, dir, "q166_ncv")(cv.count())
      graft.search.GraphAnn.writeIndex(cv, "ckey", "v", graphM, graphEf,
        math.max(8, math.ceil(nCh.toDouble / graphTargetPart).toInt), p)
    }

  /** SQ8 over the FULL embedding corpus as a mutable-clone SOURCE:
    * a byte copy of the shared `_build_sq_index` serving artifact,
    * kept at its own path so the delete rows (q155/q176) never name
    * the read-only serving artifact as a clone endpoint — a src/dest
    * mix-up in a mutating row must be able to corrupt only a
    * sacrificial copy, never the artifact q114/q134/q135 serve from
    * (the same isolation rule as [[ivfFullSrc]] below). */
  private def sqFullSrc(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "sq_e") { p => cloneTree(sqIndexPath(s, dir), p) }

  /** IVF over the FULL embedding corpus — the base state q172/q178
    * mutate; identical construction to the `ivf_idx0` shared lists
    * (seed centroids, zero refine iterations), but kept as its own
    * source so the read-only shared artifact is never cloned from a
    * path a bug could mutate. */
  private def ivfFullSrc(s: SparkSession, dir: String): String =
    pristineSrc(s, dir, "ivf_e") { p =>
      graft.search.IVF.writeIndex(emb(s, dir), "vec_id", "v", ivfK, 0, p)
    }

  def q45AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.IVF.ivfTopKAssigned(ivfAssigned0(s, dir), ivfCents0(s, dir),
      "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  val q45Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** S5 round-trip under the oracle gate: persist the IVF index at
    * rest (inverted lists `partitionBy(cid)` + centroid table — the
    * engine's `faiss.write_index`, reference
    * `src/pipeline/pipeline.py:134`), then answer the SAME query as
    * q45 from the on-disk index. Probing the persisted lists is a
    * parquet partition filter, and the oracle is q45's: the index
    * path must return bit-identical results to the in-memory path. */
  def q54IvfPersist(s: SparkSession, dir: String): DataFrame = {
    val path = PipelineQueries.roundtripPath(dir, "q54")
    val e = emb(s, dir)
    // persist the SAME memoized artifacts the in-memory queries use —
    // the at-rest index is the session index written down (parquet
    // doubles are bit-exact, so the persisted search replays q45)
    graft.search.IVF.writeIndexFrom(ivfCents0(s, dir), ivfAssigned0(s, dir), path)
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** R2 build-quality knob: IVF search through a k-means-REFINED
    * quantizer — one Lloyd iteration over the deterministic seed
    * centroids (assign → per-dimension quantized-exact mean →
    * L2-normalize), then the same probe-2 search as q45, query
    * vec_id=2. This is the engine's analog of the reference tuning
    * HNSW build quality (efConstruction/M clamps,
    * `src/pipeline/pipeline_mode.py:217-223`): better centroids →
    * better lists → higher recall at the same nprobe. The whole
    * iteration is relational and replayed in the oracle; SearchSpec
    * pins that refinement does not degrade the quantizer objective. */
  val refineIters = 1
  def q58IvfRefined(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.IVF.ivfTopKAssigned(ivfAssignedR(s, dir), ivfCentsR(s, dir),
      "vec_id", "v",
      e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  val q58Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c0 AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a0 AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c0 c) WHERE r = 1),
       px AS (SELECT cid, i.i AS pos, v[i.i + 1] AS x
              FROM a0, (SELECT UNNEST(generate_series(0, 63)) AS i) i),
       m AS (SELECT cid, pos,
               CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) /
                 (COUNT(*) * 1000000.0) AS m
             FROM px GROUP BY cid, pos),
       g AS (SELECT cid, list(m ORDER BY pos) AS lm FROM m GROUP BY cid),
       c1 AS (SELECT cid,
               list_transform(lm, x -> x / (sqrt(list_dot_product(lm, lm)) + 1e-9)) AS cvec
             FROM g),
       a1 AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c1 c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 2),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c1 c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a1 a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** S5/R2 incremental maintenance under the oracle gate: build the
    * at-rest IVF index over the BASE corpus slice (vec_id >= 100),
    * APPEND the delta batch (vec_id < 100) against the existing
    * centroids with [[graft.search.IVF.appendToIndex]] — the daily
    * operation of a continuously-ingested vector store; the
    * reference's FAISS analog is add-then-search
    * (`src/pipeline/pipeline.py:131-158`) — then answer a query from
    * the updated index. The oracle replays a FULL REBUILD over the
    * union corpus with the same base-sampled centroids, so the hash
    * match IS the append ≡ rebuild equivalence; the query vector
    * itself (vec_id=1) arrived via the append. */
  def q84IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q84")
    val delta = e.filter(col("vec_id") < 100)
    cloneIndexTo(ivfBase100Src(s, dir), path)
    graft.search.IVF.appendToIndex(s, path, delta, "vec_id", "v")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** q45's replay with the centroid sample drawn from the BASE slice
    * only (the index's standing quantizer) and assignment over the
    * full union corpus (base written + delta appended). */
  val q84Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** The vec_id < 100 delta slice staged as four range-split files
    * with ascending mtimes (the q99/q102 staging recipe), so a file
    * source drains it as four id-ordered micro-batches — shared by
    * the two vector-index streaming-ingest queries (q127 IVF, q128
    * SQ8). */
  private def embDeltaStage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q127_stage") {
      PipelineQueries.stageOrderedFiles(
        emb(s, dir).filter(col("vec_id") < 100), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q127_stream"))
    }

  /** STREAMING INGEST INTO THE IVF INDEX — the stream quarter of the
    * IVF maintenance matrix (build q54 → append q84 → STREAM here →
    * skew-refresh q96 → compact q109), the vector-index twin of q99
    * (graph) and q102 (BM25): the delta slice drains in four
    * id-ordered micro-batches, each appending through
    * [[graft.search.IVF.appendToIndex]] inside foreachBatch — every
    * batch assigns against the STANDING quantizer and lands one new
    * file per touched list, so per-trigger write cost is O(batch),
    * never O(index) (the q102 discipline on the vector index;
    * StreamingSpec pins the file-level contract). Two gates: the
    * drained lists are require-pinned row-for-row equal to a one-shot
    * assignment of the full union under the same quantizer, and the
    * served search hash-matches q84's full SQL replay (base-slice
    * centroid sample, assignment over the union) — so streaming in
    * the delta is provably indistinguishable from the batch append. */
  def q127StreamIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q127")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    val stage = embDeltaStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) =>
      graft.search.IVF.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v"))
    // gate: the streamed-in lists equal one assignment of the whole
    // union corpus under the index's own standing quantizer
    val cents = s.read.parquet(graft.search.IVF.centroidsPath(path))
    val streamed = s.read.parquet(graft.search.IVF.listsPath(path))
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    val expected = graft.search.IVF.assign(e, "vec_id", "v", cents)
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    require(Gates.sameRows(streamed, expected),
      "q127: the streamed-in lists must equal the batch assignment row for row")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** STREAMING INGEST INTO THE SQ8 INDEX — q127's discipline on the
    * quantized path, completing live ingest for ALL FOUR persisted
    * index families (graph q99, BM25 q102, IVF q127, SQ8 here). The
    * twist the quantized index adds: every micro-batch quantizes
    * under the STANDING bounds (index geometry — re-deriving bounds
    * per batch would silently re-scale every previously-written
    * code), and the per-batch clamped-element fraction is
    * require-pinned under [[sqClampThreshold]] — an in-distribution
    * stream must never trip the requant trigger mid-drain (q121 owns
    * the tripped side). Gates: the drained code lists are
    * require-pinned row-for-row equal to ONE quantization of the
    * union under the standing geometry ([[graft.search.SQ.quantized]]
    * — the same projection the build and append write), and the
    * served search (ADC over cid-pruned lists + exact re-rank from
    * the full-precision source) hash-matches the SQL replay with
    * base-slice centroids and bounds. The streamed-in query vector
    * (vec_id 1, part of the delta) surfacing as its own top hit is
    * the end-to-end freshness witness. */
  def q128StreamSq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q128")
    cloneIndexTo(sqBase100Src(s, dir), path)
    val stage = embDeltaStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) => {
      val f = graft.search.SQ.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      require(f <= sqClampThreshold,
        s"q128: in-distribution batch must not trip requant (clamped $f)")
      ()
    })
    val cents = s.read.parquet(s"$path/centroids")
    val ba = graft.search.SQ.boundsArrays(s.read.parquet(s"$path/bounds"))
    val streamed = s.read.parquet(s"$path/lists")
      .select(col("id"), col("code"), col("cid").cast("long").as("cid"))
    val expected = graft.search.SQ.quantized(e, "vec_id", "v", cents, ba)
      .select(col("id"), col("code"), col("cid").cast("long").as("cid"))
    require(Gates.sameRows(streamed, expected),
      "q128: the streamed-in code lists must equal the batch quantization byte for byte")
    graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** EXACTLY-ONCE STREAMING INGEST — q127's drain under the
    * AT-LEAST-ONCE delivery the foreachBatch contract actually
    * guarantees ([[graft.streaming.Streaming.runForeachBatchResumable]]
    * names it: a batch whose function ran but whose checkpoint commit
    * did not land is RE-DELIVERED with the same batchId on restart).
    * Every batch here is delivered TWICE through
    * [[graft.search.IVF.appendToIndexIdempotent]] — the raw
    * [[graft.search.IVF.appendToIndex]] would double every vector —
    * and two batches additionally replay the harder crash windows:
    * batch 1 starts over its own MID-APPEND DEBRIS (a stage dir left
    * by a "crashed" first attempt — the recovery scrub path), and
    * batch 2's re-delivery arrives with the ledger marker DELETED
    * (crash after the file promote, before the commit marker — the
    * deterministic-name REPLACE path). Gates: all four batches end
    * committed in the ledger, no stage debris survives, and q127's
    * row-for-row gate (drained lists ≡ ONE batch assignment of the
    * union under the standing quantizer — `exceptAll` both ways, so
    * a single duplicated vector fails loudly). Oracle: q84's full SQL
    * replay — the drained-under-failures index answers exactly like
    * the clean batch build.
    *
    * Round 18: the drain runs on a DURABLE checkpoint and RETIRES its
    * ledger through the watermark sweep ([[graft.streaming.Streaming
    * .runForeachBatchResumable]]'s `sweepLedgers` — the q193
    * discipline applied to every durable-checkpoint row): post-drain
    * the ledger holds no committed markers and no intents, keeping a
    * years-lived ingest's ledger O(live window), while the
    * row-for-row gate proves retirement re-applied nothing. */
  def q185IvfExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q185")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    Drains.exactlyOnce(s, "q185", embDeltaStage(s, dir),
        PipelineQueries.roundtripPath(dir, "q185_ckpt"),
        graft.search.IVF.appendLedger(path),
        Some(() => new java.io.File(path))) { (batch, bid) =>
      val b = batch.select(col("vec_id"), col("v")).localCheckpoint()
      _ => graft.search.IVF.appendToIndexIdempotent(s, path, b, "vec_id", "v", bid)
    }
    val cents = s.read.parquet(graft.search.IVF.centroidsPath(path))
    val streamed = s.read.parquet(graft.search.IVF.listsPath(path))
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    val expected = graft.search.IVF.assign(e, "vec_id", "v", cents)
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    require(Gates.sameRows(streamed, expected),
      "q185: the exactly-once drain must equal the batch assignment " +
        "row for row — a doubled vector is a silent-duplication failure")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** q114's replay with centroids AND bounds drawn from the base
    * slice only (the index's standing geometry) and assignment +
    * codes over the full union — the streamed-in SQ8 state. LAZY:
    * declared above the sqDim/sqRerank vals it interpolates — an
    * eager val here would bake their pre-init zeros into the SQL. */
  lazy val q128Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM (SELECT v FROM e WHERE vec_id >= 100),
               (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT a.vec_id, a.cid,
           list_transform(generate_series(1, $sqDim), d ->
             CASE WHEN hi[d] = lo[d] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[d] - lo[d]) * 255.0 / (hi[d] - lo[d]), 0))) AS INT) END) AS code
         FROM a, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), d ->
             lo[d] + code[d] * ((hi[d] - lo[d]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** Full file-listing snapshot of a partitioned index directory
    * (name, length, mtime of every file under every partition dir —
    * `cid=` for the inverted-list families, `part=` for the graph's
    * nodes) — the witness the delete gates compare around a tombstone
    * write to prove the hide phase opened NO data file. */
  private def listFileSnap(lp: String, prefix: String = "cid="): Map[String, Seq[(String, Long, Long)]] =
    Option(new java.io.File(lp).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(prefix))
      .map(d => d.getName ->
        Option(d.listFiles()).toSeq.flatten.filter(_.isFile)
          .map(f => (f.getName, f.length(), f.lastModified()))
          .sortBy(_._1))
      .toMap

  /** DELETION UNDER LIVE INGEST — the lifecycle composition the
    * matrix lacked: a right-to-be-forgotten request lands MID-DRAIN,
    * between q127's append micro-batches, exercising the two-phase
    * tombstone machinery under the concurrency it was built for. The
    * drain is q127's (base index over vec_id ≥ 100, the < 100 slice
    * as four id-ordered micro-batches appending through
    * [[graft.search.IVF.appendToIndex]]); after batch 1 commits, the
    * delete request (base ids ≡ 3 mod 7 — rows ingested BEFORE the
    * stream started) runs [[graft.search.IVF.deleteFromIndex]]
    * against the live index, and batches 2–3 keep appending AFTER it.
    * In-query gates, all request- or parts-sized (the q116/q120
    * discipline — full-strength row equality lives in StreamingSpec):
    * the mid-drain delete counts exactly request∩index and touches
    * ZERO list files (full file-listing snapshot around it — hide
    * cost is O(request) even while the index is mid-ingest), and the
    * drained index's per-cell live occupancy equals the batch
    * replay's (assign the union under the standing quantizer, drop
    * the deleted ids — K rows per side). The declared output is the
    * post-drain serve, hash-matched against the SQL replay of
    * append → delete → append, so the oracle certifies the stream
    * and the delete COMPOSED: the index answers as if the deleted
    * rows were never ingested and the post-delete batches always
    * had been. The appended ids are disjoint from the request, so
    * no batch trips the revive path — [[graft.search.IVF
    * .appendToIndex]]'s revive probe stays a directory read per
    * batch. */
  def q147StreamIvfDelete(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q147")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    val stage = embDeltaStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val delIds = e.filter(col("vec_id") >= 100 && col("vec_id") % 7 === 3)
      .select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q147_ndel")(delIds.count())
    var nDel = -1L
    var filesTouched = true
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      graft.search.IVF.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      if (bid == 1L) {
        val lp = graft.search.IVF.listsPath(path)
        val snapBefore = listFileSnap(lp)
        nDel = graft.search.IVF.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
        filesTouched = listFileSnap(lp) != snapBefore
      }
    })
    require(nDel == nReq,
      s"q147: the mid-drain delete hid $nDel of a $nReq-id request")
    require(!filesTouched,
      "q147: the mid-drain delete must not touch a single list file")
    // the growth valve reads exactly the accumulated sidecar: fires
    // just under the standing delete count, silent at it (a
    // maintenance job polling this after the drain would schedule
    // the compaction)
    require(graft.search.IVF.needsCompact(s, path, nReq - 1) &&
        !graft.search.IVF.needsCompact(s, path, nReq),
      "q147: needsCompact must track the standing sidecar exactly")
    // parts-sized occupancy gate: live (tombstone-filtered) per-cell
    // counts equal the batch replay's — assign the union under the
    // standing quantizer, drop the deleted ids
    val cents = s.read.parquet(graft.search.IVF.centroidsPath(path))
    val liveOcc = graft.search.IVF.listsRows(s, path)
      .groupBy(col("cid").cast("long").as("cid")).count()
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().toMap
    val wantOcc = graft.search.IVF.assign(
        e.filter(!(col("vec_id") >= 100 && col("vec_id") % 7 === 3)),
        "vec_id", "v", cents)
      .groupBy(col("cid").cast("long").as("cid")).count()
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().toMap
    require(liveOcc == wantOcc,
      "q147: drained+deleted per-cell occupancy must equal the batch replay")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** q84's replay (standing base-slice quantizer, assignment over the
    * union) with the delete predicate applied to the lists — the
    * stream and the delete composed: deleted base rows were never
    * ingested, post-delete batches always were. */
  val q147Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id >= 100 AND vec_id % 7 = 3)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT d.vec_id, list_dot_product(d.v, pr.qv) AS sc
              FROM d JOIN pr ON d.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** DELETION UNDER LIVE INGEST, QUANTIZED — q147's composition on
    * the SQ8 family (q128's drain + the shared two-phase delete): the
    * delta slice drains in four id-ordered micro-batches, each
    * quantizing under the STANDING bounds inside foreachBatch (the
    * per-batch clamped fraction require-pinned under
    * [[sqClampThreshold]] — a delete must not perturb the requant
    * trigger), and after batch 1 commits a right-to-be-forgotten
    * request (base ids ≡ 3 mod 7) tombstones through
    * [[graft.search.IVF.deleteFromIndex]] against the live lists
    * while batches 2–3 keep appending AFTER it. Gates, all request-
    * or parts-sized: the mid-drain delete counts exactly
    * request∩index and opens ZERO code files (full file-listing
    * snapshot around it), [[graft.search.IVF.needsCompact]] tracks
    * the standing sidecar exactly (the valve that schedules the
    * deferred rewrite), and the drained index's per-cell LIVE
    * occupancy equals the batch replay's (assign union-minus-deleted
    * under the standing quantizer — K rows per side; the full
    * byte-for-byte code equality is StreamingSpec's pin, the
    * q116/q120 discipline). Declared output: the post-drain ADC +
    * exact-re-rank serve, hash-matched against q128's replay with
    * the delete predicate on the lists — stream, quantization, and
    * deletion COMPOSED under one oracle. */
  def q156StreamSqDelete(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q156")
    cloneIndexTo(sqBase100Src(s, dir), path)
    val stage = embDeltaStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val delIds = e.filter(col("vec_id") >= 100 && col("vec_id") % 7 === 3)
      .select(col("vec_id").as("id"))
    val nReq = Memo.cachedCount(s, dir, "q156_ndel")(delIds.count())
    var nDel = -1L
    var filesTouched = true
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val f = graft.search.SQ.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      require(f <= sqClampThreshold,
        s"q156: in-distribution batch must not trip requant (clamped $f)")
      if (bid == 1L) {
        val lp = graft.search.IVF.listsPath(path)
        val snapBefore = listFileSnap(lp)
        nDel = graft.search.IVF.deleteFromIndex(s, path, delIds, "id", countPresent = true)
        filesTouched = listFileSnap(lp) != snapBefore
      }
    })
    require(nDel == nReq,
      s"q156: the mid-drain delete hid $nDel of a $nReq-id request")
    require(!filesTouched,
      "q156: the mid-drain delete must not open a single code file")
    require(graft.search.IVF.needsCompact(s, path, nReq - 1) &&
        !graft.search.IVF.needsCompact(s, path, nReq),
      "q156: needsCompact must track the standing sidecar exactly")
    // parts-sized occupancy gate: per-cell LIVE code counts equal the
    // batch replay's assignment of union-minus-deleted under the
    // standing quantizer (codes are a pure function of (assignment,
    // bounds); StreamingSpec pins the bytes)
    val cents = s.read.parquet(s"$path/centroids")
    val liveOcc = graft.search.IVF.listsRows(s, path)
      .groupBy(col("cid").cast("long").as("cid")).count()
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().toMap
    val wantOcc = graft.search.IVF.assign(
        e.filter(!(col("vec_id") >= 100 && col("vec_id") % 7 === 3)),
        "vec_id", "v", cents)
      .groupBy(col("cid").cast("long").as("cid")).count()
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().toMap
    require(liveOcc == wantOcc,
      "q156: drained+deleted per-cell occupancy must equal the batch replay")
    graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** q128's replay with the delete predicate applied to the code
    * lists — standing base-slice geometry, union assignment, deleted
    * ids dropped before quantization (a hidden code never ADC-scores).
    * LAZY per the init-order rule (interpolates sqDim/sqRerank,
    * declared later). */
  lazy val q156Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id >= 100 AND vec_id % 7 = 3)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM (SELECT v FROM e WHERE vec_id >= 100),
               (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT d.vec_id, d.cid,
           list_transform(generate_series(1, $sqDim), dd ->
             CASE WHEN hi[dd] = lo[dd] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[dd] - lo[dd]) * 255.0 / (hi[dd] - lo[dd]), 0))) AS INT) END) AS code
         FROM d, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), dd ->
             lo[dd] + code[dd] * ((hi[dd] - lo[dd]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** THE MAINTENANCE LOOP CLOSED UNDER LIVE INGEST — q147 proved the
    * hide lands mid-drain and left the rewrite "for the maintenance
    * job polling [[graft.search.IVF.needsCompact]]"; q158 IS that
    * job: every micro-batch polls the valve after its append (the
    * production pattern — ingest and maintenance share one serial
    * loop, so the flip can never race an in-flight append), the
    * mid-drain delete (after batch 1's append) pushes the sidecar
    * over the threshold, the poll fires INSIDE the drain, and
    * [[graft.search.IVF.compactIndex]] runs between micro-batches —
    * generation flip, physical removal, clean sidecar — with batches
    * 2–3 appending into the FLIPPED generation. Gates: the valve
    * fires exactly once (silent before the delete, fired by it,
    * silent after the flip — the fresh sidecarless generation resets
    * the trigger, so the poll is self-quenching), the drain finishes
    * inside the generation the mid-drain flip committed, the
    * superseded generation is FROZEN from the flip onward (its full
    * file-listing snapshot stands through the remaining batches —
    * post-flip appends land only in the new generation, while the
    * frozen one survives as the grace window for pinned readers),
    * the flipped generation starts and ENDS the drain with no
    * sidecar, and post-drain at-rest mass is union minus deleted —
    * nothing hidden, everything physically gone. Declared output:
    * the post-drain serve, hash-matched against q147's replay
    * verbatim — hide-then-compact and hide-only MUST answer
    * identically, so the same SQL certifies ingest, deletion, and
    * compaction composed. */
  def q158StreamIvfValve(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q158")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    val stage = embDeltaStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val delIds = e.filter(col("vec_id") >= 100 && col("vec_id") % 7 === 3)
      .select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q158_ndel")(delIds.count())
    val valve = nReq - 1 // fires only once the full request lands
    var fired = List.empty[Long]
    var genAtFlip: String = null
    var frozenPath: String = null
    var frozenSnap: Map[String, Seq[(String, Long, Long)]] = null
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      graft.search.IVF.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      if (bid == 1L)
        require(graft.search.IVF.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
            == nReq,
          "q158: the mid-drain delete must hide exactly the request")
      // the maintenance poll — every batch, after its append
      if (graft.search.IVF.needsCompact(s, path, valve)) {
        fired ::= bid
        frozenPath = graft.search.IVF.listsPath(path)
        graft.search.IVF.compactIndex(s, path)
        genAtFlip = graft.search.IVF.listsPath(path)
        frozenSnap = listFileSnap(frozenPath)
      }
    })
    require(fired == List(1L),
      s"q158: the valve must fire exactly once, at the delete's batch " +
        s"(fired at ${fired.reverse.mkString(",")})")
    val lp = graft.search.IVF.listsPath(path)
    require(lp == genAtFlip,
      "q158: the drain must finish inside the mid-drain-flipped generation")
    require(listFileSnap(frozenPath) == frozenSnap,
      "q158: post-flip appends must never leak into the superseded generation")
    require(!Tombstones.exists(Tombstones.ofLists(lp)),
      "q158: the flipped generation must end the drain with a clean sidecar")
    val nAll = Memo.cachedCount(s, dir, "emb_n")(e.count())
    require(s.read.parquet(lp).count() == nAll - nReq,
      "q158: post-compaction at-rest mass must be union minus deleted")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** Stage op-tagged feed slices as ONE FILE EACH under `path`,
    * mtimes ascending in slice order — the deterministic multi-batch
    * staging for feeds whose batch boundaries are SEMANTIC (runs of
    * one operation), where [[PipelineQueries.stageOrderedFiles]]'
    * range split on a key column cannot promise file-per-slice. */
  private[graft] def stageFeedSlices(slices: Seq[DataFrame], path: String): String = {
    val dir = new java.io.File(path)
    graft.FileTree.delete(dir)
    dir.mkdirs()
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = new java.io.File(dir, s"__slice$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Option(tmp.listFiles()).toSeq.flatten
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"feed stage: slice $i produced no part file"))
      val target = new java.io.File(dir, f"feed-$i%05d.parquet")
      require(part.renameTo(target), s"feed stage: rename failed for slice $i")
      graft.FileTree.delete(tmp)
    }
    PipelineQueries.pinAscendingMtimes(
      Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("feed-")).sortBy(_.getName))
    path
  }

  /** A CHANGE-DATA-CAPTURE FEED APPLIED TO THE AT-REST INDEX — the
    * composition the lifecycle rows above feed into: ONE ordered
    * stream of tagged operations (op ∈ {I, D}) drained as
    * micro-batches onto the live IVF index — inserts through
    * [[graft.search.IVF.appendToIndex]], deletes through
    * [[graft.search.IVF.deleteFromIndex]], the [[graft.search.IVF
    * .needsCompact]] valve polled after every batch. The feed is
    * insert half the delta / delete base rows / insert the other
    * half / delete STREAMED-IN rows — batch 3's targets arrived
    * through batches 0 and 2, so a delete must not care how its
    * target was ingested. The valve fires TWICE (each delete batch
    * trips it), so the drain crosses two generation flips, and the
    * second flip exercises the grace-window GC UNDER INGEST: the
    * generation superseded two cycles back is collected while the
    * stream is still draining, gated here by its directory being
    * gone at the end. Apply order within a micro-batch is inserts
    * before deletes (feed order — the declared feed's batches are
    * single-op, so the contract is only load-bearing for mixed
    * batches). Remaining gates: each delete batch hides exactly its
    * request, the valve fires at exactly the delete batches with a
    * distinct generation per firing, the final generation is
    * sidecarless with at-rest mass = base + inserts − deletes.
    * Oracle: q147's replay shape under the feed's COMPOSITE delete
    * predicate — the index must answer as if surviving rows were
    * always there and deleted ones never were, regardless of which
    * side of the feed they entered from. */
  def q160CdcFeed(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q160")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    val gen0 = graft.search.IVF.listsPath(path)
    val stage = Memo.cachedValue(s, dir, "q160_stage") {
      stageFeedSlices(Seq(
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 0)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") >= 100 && col("vec_id") % 7 === 3)
          .select(lit("D").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 1)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") < 100 && col("vec_id") % 5 === 2)
          .select(lit("D").as("op"), col("vec_id"), col("v"))),
        PipelineQueries.roundtripPath(dir, "q160_feed"))
    }
    val nDel1 = Memo.cachedCount(s, dir, "q160_nd1")(
      e.filter(col("vec_id") >= 100 && col("vec_id") % 7 === 3).count())
    val nDel3 = Memo.cachedCount(s, dir, "q160_nd3")(
      e.filter(col("vec_id") < 100 && col("vec_id") % 5 === 2).count())
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var applied = Map.empty[Long, Long]
    var fired = List.empty[Long]
    var gens = List.empty[String]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      // CDC apply order: inserts, then deletes (feed order)
      val ins = batch.filter(col("op") === "I").select(col("vec_id"), col("v"))
      if (!ins.isEmpty)
        graft.search.IVF.appendToIndex(s, path, ins, "vec_id", "v")
      val del = batch.filter(col("op") === "D").select(col("vec_id"))
      if (!del.isEmpty)
        applied += bid ->
          graft.search.IVF.deleteFromIndex(s, path, del, "vec_id", countPresent = true)
      // the maintenance poll — every batch, after its operations
      if (graft.search.IVF.needsCompact(s, path, 0)) {
        fired ::= bid
        graft.search.IVF.compactIndex(s, path)
        gens ::= graft.search.IVF.listsPath(path)
      }
    })
    require(applied == Map(1L -> nDel1, 3L -> nDel3),
      s"q160: each delete batch must hide exactly its request (got $applied)")
    require(fired == List(3L, 1L),
      "q160: the valve must fire at exactly the delete batches")
    require(gens.distinct.size == 2,
      "q160: each firing must commit a distinct generation")
    val lp = graft.search.IVF.listsPath(path)
    require(lp == gens.head,
      "q160: the drain must finish inside the second flip's generation")
    require(!new java.io.File(gen0).exists(),
      "q160: the twice-superseded generation must be GC'd under ingest")
    require(!Tombstones.exists(Tombstones.ofLists(lp)),
      "q160: the final generation must be sidecarless")
    val nAll = Memo.cachedCount(s, dir, "emb_n")(e.count())
    require(s.read.parquet(lp).count() == nAll - nDel1 - nDel3,
      "q160: at-rest mass must be base + inserts minus deletes")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** UPSERT / REVIVE UNDER LIVE INGEST — the one delete semantics
    * with spec-only coverage until now, declared and oracled: a CDC
    * feed whose LAST batch re-ingests ids a mid-drain delete
    * tombstoned (an upsert of previously-forgotten rows — the user
    * re-consents, the row returns). The contract under test is
    * [[graft.search.IVF.appendToIndex]]'s revive discipline:
    * re-ingesting a tombstoned id runs the DEFERRED COMPACTION FIRST
    * — clearing the sidecar entry alone would resurrect the old
    * physical copy NEXT TO the new row (a duplicate the serve scores
    * twice), and leaving it would anti-join the new row away (a
    * delete outliving the data it names) — then appends the new rows
    * into the flipped, sidecarless generation as each id's ONLY
    * copy. Gates: the delete batch hides exactly its request, the
    * generation flips at EXACTLY the revive batch (the probe is a
    * directory read per batch — no compaction fires anywhere else),
    * the revived ids hold exactly one list row each (request-sized
    * semi-join), the final generation is sidecarless, and at-rest
    * mass is all − deleted + revived. Oracle: the index must answer
    * as if the revived rows were NEVER deleted and the
    * stay-deleted rows never ingested. */
  def q161UpsertRevive(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q161")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    val delPred = col("vec_id") >= 100 && col("vec_id") % 7 === 3
    val revPred = delPred && col("vec_id") % 3 === 0
    val stage = Memo.cachedValue(s, dir, "q161_stage") {
      stageFeedSlices(Seq(
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 0)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(delPred).select(lit("D").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 1)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(revPred).select(lit("I").as("op"), col("vec_id"), col("v"))),
        PipelineQueries.roundtripPath(dir, "q161_feed"))
    }
    val nDel = Memo.cachedCount(s, dir, "q161_ndel")(e.filter(delPred).count())
    val nRev = Memo.cachedCount(s, dir, "q161_nrev")(e.filter(revPred).count())
    require(nRev > 0 && nRev < nDel,
      "q161 needs a proper revive subset of the delete request")
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var applied = Map.empty[Long, Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val ins = batch.filter(col("op") === "I").select(col("vec_id"), col("v"))
      if (!ins.isEmpty)
        graft.search.IVF.appendToIndex(s, path, ins, "vec_id", "v")
      val del = batch.filter(col("op") === "D").select(col("vec_id"))
      if (!del.isEmpty)
        applied += bid ->
          graft.search.IVF.deleteFromIndex(s, path, del, "vec_id", countPresent = true)
      gens ::= bid -> graft.search.IVF.listsPath(path)
    })
    require(applied == Map(1L -> nDel),
      s"q161: the delete batch must hide exactly its request (got $applied)")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) == byBatch(2L) && byBatch(2L) != byBatch(3L),
      "q161: the generation must flip at exactly the revive batch")
    val lp = graft.search.IVF.listsPath(path)
    require(!Tombstones.exists(Tombstones.ofLists(lp)),
      "q161: the post-revive generation must be sidecarless")
    // single-copy semantics: each revived id holds exactly one row
    val copies = s.read.parquet(lp).select(col("vec_id"))
      .join(broadcast(e.filter(revPred).select(col("vec_id"))),
        Seq("vec_id"), "left_semi")
      .groupBy(col("vec_id")).count()
      .agg(count(lit(1)).as("ids"), max(col("count")).as("mx"))
      .head()
    require(copies.getLong(0) == nRev && copies.getLong(1) == 1L,
      "q161: every revived id must return as exactly one list row")
    val nAll = Memo.cachedCount(s, dir, "emb_n")(e.count())
    require(s.read.parquet(lp).count() == nAll - nDel + nRev,
      "q161: at-rest mass must be all minus deleted plus revived")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** q147's replay shape where only the STAY-deleted rows (deleted,
    * never re-ingested) are dropped: a revived row is
    * indistinguishable from one that was never deleted. */
  val q161Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id >= 100 AND vec_id % 7 = 3
             AND vec_id % 3 <> 0)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT d.vec_id, list_dot_product(d.v, pr.qv) AS sc
              FROM d JOIN pr ON d.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** UPSERT / REVIVE ON THE QUANTIZED FAMILY — q161's feed shape on
    * the SQ8 index, the declared row for the one revive path that had
    * none: [[graft.search.SQ.appendToIndex]] shares [[graft.search
    * .IVF]]'s sidecar outright, so a delta id tombstoned earlier must
    * force the deferred compaction FIRST (the [[graft.search.IVF
    * .hasRevives]] probe — a directory read per clean batch, a
    * request-sized semi-join otherwise); without it the stale sidecar
    * entry silently anti-joins the NEW code away — a delete outliving
    * the data it names, on the family whose delete (q155/q156) shares
    * the IVF sidecar. The feed: insert half the delta / delete base
    * ids ≡ 3 mod 7 / insert the other half / RE-INGEST the deleted
    * ids ≡ 0 mod 3 (the revive batch). Gates: every insert batch
    * quantizes in-distribution (clamp fraction under
    * [[sqClampThreshold]] — the revive must not perturb the requant
    * trigger), the delete batch hides exactly its request, the
    * generation flips at EXACTLY the revive batch, the post-revive
    * generation is sidecarless, each revived id holds exactly ONE
    * code row, and at-rest code mass is all − deleted + revived.
    * Oracle: q156's replay where only the STAY-deleted rows are
    * dropped — codes are a pure function of (assignment, standing
    * bounds), so a revived code is indistinguishable from one never
    * deleted. */
  def q163SqRevive(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q163")
    cloneIndexTo(sqBase100Src(s, dir), path)
    val delPred = col("vec_id") >= 100 && col("vec_id") % 7 === 3
    val revPred = delPred && col("vec_id") % 3 === 0
    val stage = Memo.cachedValue(s, dir, "q163_stage") {
      stageFeedSlices(Seq(
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 0)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(delPred).select(lit("D").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 1)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(revPred).select(lit("I").as("op"), col("vec_id"), col("v"))),
        PipelineQueries.roundtripPath(dir, "q163_feed"))
    }
    val nDel = Memo.cachedCount(s, dir, "q161_ndel")(e.filter(delPred).count())
    val nRev = Memo.cachedCount(s, dir, "q161_nrev")(e.filter(revPred).count())
    require(nRev > 0 && nRev < nDel,
      "q163 needs a proper revive subset of the delete request")
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var applied = Map.empty[Long, Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val ins = batch.filter(col("op") === "I").select(col("vec_id"), col("v"))
      if (!ins.isEmpty) {
        val f = graft.search.SQ.appendToIndex(s, path, ins, "vec_id", "v")
        require(f <= sqClampThreshold,
          s"q163: in-distribution batch must not trip requant (clamped $f)")
      }
      val del = batch.filter(col("op") === "D")
        .select(col("vec_id").as("id"))
      if (!del.isEmpty)
        applied += bid -> graft.search.IVF.deleteFromIndex(s, path, del, "id", countPresent = true)
      gens ::= bid -> graft.search.IVF.listsPath(path)
    })
    require(applied == Map(1L -> nDel),
      s"q163: the delete batch must hide exactly its request (got $applied)")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) == byBatch(2L) && byBatch(2L) != byBatch(3L),
      "q163: the generation must flip at exactly the revive batch")
    val lp = graft.search.IVF.listsPath(path)
    require(!Tombstones.exists(Tombstones.ofLists(lp)),
      "q163: the post-revive generation must be sidecarless")
    // single-copy semantics: each revived id holds exactly one code row
    val copies = s.read.parquet(lp).select(col("id"))
      .join(broadcast(e.filter(revPred).select(col("vec_id").as("id"))),
        Seq("id"), "left_semi")
      .groupBy(col("id")).count()
      .agg(count(lit(1)).as("ids"), max(col("count")).as("mx"))
      .head()
    require(copies.getLong(0) == nRev && copies.getLong(1) == 1L,
      "q163: every revived id must return as exactly one code row")
    val nAll = Memo.cachedCount(s, dir, "emb_n")(e.count())
    require(s.read.parquet(lp).count() == nAll - nDel + nRev,
      "q163: at-rest code mass must be all minus deleted plus revived")
    graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** q156's replay where only the STAY-deleted rows (deleted, never
    * re-ingested) are dropped before quantization — a revived code is
    * indistinguishable from one that was never deleted, because codes
    * are a pure function of (assignment, standing bounds). LAZY per
    * the init-order rule (interpolates sqDim/sqRerank, declared
    * later). */
  lazy val q163Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id >= 100 AND vec_id % 7 = 3
             AND vec_id % 3 <> 0)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM (SELECT v FROM e WHERE vec_id >= 100),
               (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT d.vec_id, d.cid,
           list_transform(generate_series(1, $sqDim), dd ->
             CASE WHEN hi[dd] = lo[dd] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[dd] - lo[dd]) * 255.0 / (hi[dd] - lo[dd]), 0))) AS INT) END) AS code
         FROM d, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), dd ->
             lo[dd] + code[dd] * ((hi[dd] - lo[dd]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** CDC FEED + UPSERT/REVIVE + VALVE ON THE QUANTIZED FAMILY — the
    * last empty cell of the CDC matrix (q160 IVF, q164 lexical, q168
    * graph), and like the lexical twin FULLY ORACLED: codes are a
    * pure function of (assignment, standing bounds), so the whole
    * drain replays in SQL. One ordered I/D stream drains as five
    * micro-batches onto the live SQ8 lists: inserts through
    * [[graft.search.SQ.appendToIndex]] (whose [[graft.search.IVF
    * .hasRevives]] probe runs per batch — a directory read when the
    * sidecar is clean), deletes through [[graft.search.IVF
    * .deleteFromIndex]] (the SHARED sidecar — quantized lists ride
    * IVF's tombstone machinery outright), the [[graft.search.IVF
    * .needsCompact]] valve polled after every batch. The feed:
    * insert half the delta / delete an ABSOLUTE-WINDOW base request
    * (AT the valve threshold — the hide stands, q164's 30×-proofed
    * sizing rule) / insert the other half / RE-INGEST half the
    * deleted ids (the revive batch: the probe fires and the deferred
    * [[graft.search.IVF.compactIndex]] runs FIRST — CURRENT flip 1 —
    * then the new codes land in the flipped generation as the ids'
    * only rows) / delete STREAMED-IN ids (a second, larger request
    * that pushes the fresh sidecar OVER the valve — flip 2 fires
    * inside the drain, and its grace-window GC collects the
    * twice-superseded base generation UNDER ingest). Gates: every
    * insert batch quantizes in-distribution (clamp fraction under
    * [[sqClampThreshold]] — neither the revive nor the CDC deletes
    * may perturb the requant trigger), each delete batch hides
    * exactly its request, the generation flips at exactly the revive
    * and valve batches, the valve fires exactly once, each revived
    * id holds exactly ONE code row, the base generation is GC'd, the
    * final generation is sidecarless, and at-rest code mass is
    * all − deleted + revived − CDC-deleted. Oracle: q163's replay
    * under the feed's COMPOSITE predicate — stay-deleted and
    * CDC-deleted rows never quantized, everything else (revived
    * included) indistinguishable from always-present. */
  def q173SqCdcRevive(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q173")
    cloneIndexTo(sqBase100Src(s, dir), path)
    val gen0 = graft.search.IVF.listsPath(path)
    // del1 is an ABSOLUTE id window (q164's scale rule): the request
    // must stay request-sized as the corpus grows, or it would
    // outgrow del2's fixed feed slice and flip the valve relation
    val del1Pred = col("vec_id") >= 100 && col("vec_id") < 300 &&
      col("vec_id") % 7 === 3
    val revPred = del1Pred && col("vec_id") % 2 === 0
    val del2Pred = col("vec_id") < 100 && col("vec_id") % 3 === 0
    val stage = Memo.cachedValue(s, dir, "q173_stage") {
      stageFeedSlices(Seq(
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 0)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(del1Pred).select(lit("D").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") < 100 && col("vec_id") % 2 === 1)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(revPred).select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(del2Pred).select(lit("D").as("op"), col("vec_id"), col("v"))),
        PipelineQueries.roundtripPath(dir, "q173_feed"))
    }
    val nDel1 = Memo.cachedCount(s, dir, "q173_nd1")(e.filter(del1Pred).count())
    val nRev = Memo.cachedCount(s, dir, "q173_nrev")(e.filter(revPred).count())
    val nDel2 = Memo.cachedCount(s, dir, "q173_nd2")(e.filter(del2Pred).count())
    require(nRev > 0 && nRev < nDel1,
      "q173 needs a proper revive subset of the first delete request")
    require(nDel2 > nDel1,
      "q173 needs the second request over the valve the first stays under")
    val valve = nDel1 // first delete sits AT the threshold: silent
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var applied = Map.empty[Long, Long]
    var fired = List.empty[Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val ins = batch.filter(col("op") === "I").select(col("vec_id"), col("v"))
      if (!ins.isEmpty) {
        val f = graft.search.SQ.appendToIndex(s, path, ins, "vec_id", "v")
        require(f <= sqClampThreshold,
          s"q173: in-distribution batch must not trip requant (clamped $f)")
      }
      val del = batch.filter(col("op") === "D")
        .select(col("vec_id").as("id"))
      if (!del.isEmpty)
        applied += bid -> graft.search.IVF.deleteFromIndex(s, path, del, "id", countPresent = true)
      // the maintenance poll — every batch, after its operations
      if (graft.search.IVF.needsCompact(s, path, valve)) {
        fired ::= bid
        graft.search.IVF.compactIndex(s, path)
      }
      gens ::= bid -> graft.search.IVF.listsPath(path)
    })
    require(applied == Map(1L -> nDel1, 4L -> nDel2),
      s"q173: each delete batch must hide exactly its request (got $applied)")
    require(fired == List(4L),
      s"q173: the valve must fire exactly once, at the second delete " +
        s"(fired at ${fired.reverse.mkString(",")})")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) == byBatch(1L) && byBatch(1L) == byBatch(2L),
      "q173: no flip may land before the revive batch")
    require(byBatch(2L) != byBatch(3L),
      "q173: the revive batch must run the deferred compaction (flip 1)")
    require(byBatch(3L) != byBatch(4L),
      "q173: the valve batch must commit a second generation (flip 2)")
    require(!new java.io.File(gen0).exists(),
      "q173: the twice-superseded base generation must be GC'd under ingest")
    val lp = graft.search.IVF.listsPath(path)
    require(!Tombstones.exists(Tombstones.ofLists(lp)),
      "q173: the final generation must be sidecarless")
    // single-copy semantics: each revived id holds exactly one code row
    val copies = s.read.parquet(lp).select(col("id"))
      .join(broadcast(e.filter(revPred).select(col("vec_id").as("id"))),
        Seq("id"), "left_semi")
      .groupBy(col("id")).count()
      .agg(count(lit(1)).as("ids"), max(col("count")).as("mx"))
      .head()
    require(copies.getLong(0) == nRev && copies.getLong(1) == 1L,
      "q173: every revived id must return as exactly one code row")
    val nAll = Memo.cachedCount(s, dir, "emb_n")(e.count())
    require(s.read.parquet(lp).count() == nAll - nDel1 + nRev - nDel2,
      "q173: at-rest code mass must be all minus deleted plus revived minus CDC-deleted")
    graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** q163's replay under the composite CDC predicate: stay-deleted
    * (deleted, never re-ingested) and CDC-deleted rows dropped before
    * quantization; a revived code is indistinguishable from one never
    * deleted because codes are a pure function of (assignment,
    * standing bounds). LAZY per the init-order rule (interpolates
    * sqDim/sqRerank, declared later). */
  lazy val q173Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a
           WHERE NOT (vec_id >= 100 AND vec_id < 300 AND vec_id % 7 = 3
                 AND vec_id % 2 <> 0)
             AND NOT (vec_id < 100 AND vec_id % 3 = 0)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM (SELECT v FROM e WHERE vec_id >= 100),
               (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT d.vec_id, d.cid,
           list_transform(generate_series(1, $sqDim), dd ->
             CASE WHEN hi[dd] = lo[dd] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[dd] - lo[dd]) * 255.0 / (hi[dd] - lo[dd]), 0))) AS INT) END) AS code
         FROM d, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), dd ->
             lo[dd] + code[dd] * ((hi[dd] - lo[dd]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  // ---------- q162: cascade forget across derived artifacts ----------

  /** CASCADE RIGHT-TO-BE-FORGOTTEN ACROSS THE FACTORY — a document
    * delete is only done when every DERIVED artifact forgets it too:
    * the postings that index its terms AND the chunk-vector index
    * built from its chunk embeddings ([[chunkVecs]], the q119
    * parent-doc artifact). One doc-level request (docs ≡ 4 mod 9 in
    * the chunked slice) cascades through both legs: the lexical leg
    * tombstones the doc ids into the postings sidecar
    * ([[graft.lexical.BM25.deleteFromPostings]]); the vector leg
    * derives the request's CHUNK keys from the manifest (the parent
    * id is encoded in the ckey — a request-sized broadcast semi-join
    * against the chunk table, never a corpus scan) and tombstones
    * them into the index sidecar ([[graft.search.IVF
    * .deleteFromIndex]]). Gates: the lexical delete counts exactly
    * the doc request, the vector delete counts exactly the derived
    * chunk set (every chunk of every forgotten doc — no orphaned
    * derived rows), and neither serve surfaces a forgotten doc or
    * any of its chunks. Declared output: the composed parent-doc
    * hybrid serve — probed chunk top-k rolled up to parent docs
    * (best chunk per doc), RRF-fused with the sidecar-aware lexical
    * serve — hash-matched against the replay where the forgotten
    * docs' text was never chunked, embedded, indexed, or posted. */
  def q162CascadeForget(s: SparkSession, dir: String): DataFrame = {
    require(Queries.bm25Terms == Seq("spark", "hash", "join"),
      "q162Sql's literal query terms are out of sync with Queries.bm25Terms")
    val cv = chunkVecs(s, dir)
    val ivfPath = PipelineQueries.roundtripPath(dir, "q162_ivf")
    cloneIndexTo(cascadeIvfSrc(s, dir), ivfPath)
    val tbl = "bm25_cascade_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val postPath = PipelineQueries.roundtripPath(dir, "q162_post")
    Queries.clonePostingsTo(s, Queries.postingsSrcLt200(s, dir), tbl, postPath)
    val delDocs = docs(s, dir)
      .filter(col("doc_id") < 200 && col("doc_id") % 9 === 4)
      .select(col("doc_id"))
    val nDocs = Memo.cachedCount(s, dir, "q162_ndocs")(delDocs.count())
    val nLex = graft.lexical.BM25.deleteFromPostings(s, postPath,
      s.table(tbl), delDocs.select(col("doc_id").as("doc")))
    require(nLex == nDocs,
      s"q162: the lexical cascade hid $nLex of a $nDocs-doc request")
    // derive the request's chunk keys from the manifest
    val delKeys = cv.select(col("ckey"))
      .join(broadcast(delDocs.select(col("doc_id").as("__p"))),
        expr(s"ckey div $pdChunkMul") === col("__p"), "left_semi")
    val nChunks = Memo.cachedCount(s, dir, "q162_nchunks")(delKeys.count())
    require(nDocs > 0 && nChunks >= nDocs,
      "q162 needs a non-empty chunked request for a real cascade")
    val nVec = graft.search.IVF.deleteFromIndex(s, ivfPath, delKeys, "ckey", countPresent = true)
    require(nVec == nChunks,
      s"q162: the vector cascade hid $nVec of $nChunks derived chunks")
    // the composed serve: probed chunk top-k → parent rollup, RRF'd
    // with the sidecar-aware lexical serve
    val qv = new graft.embed.PortableHashEmbedder(64)
      .embed(Queries.bm25Terms.mkString(" ")).map(_.toDouble).toSeq
    val qdf = s.range(1).select(typedLit(qv).as("qv"))
    val chunks = graft.search.IVF.searchIndex(s, ivfPath, "ckey", "v",
      qdf, "qv", rrfDepth, ivfProbe).localCheckpoint()
    require(chunks.filter(expr(s"ckey div $pdChunkMul") % 9 === 4).isEmpty,
      "q162: a forgotten doc's chunk surfaced in the vector serve")
    val vecDocs = chunks
      .select(expr(s"ckey div $pdChunkMul").as("id"), col("score"))
      .groupBy("id").agg(max(col("score")).as("__s"))
      .withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("__s").desc, col("id").asc)).cast("long"))
    val post = s.table(tbl)
    val lex = graft.lexical.BM25.searchIndexed(s, postPath, post,
      graft.lexical.BM25.statsFromPostings(post), Queries.bm25Terms, rrfDepth)
      .localCheckpoint()
    require(lex.filter(col("doc") % 9 === 4).isEmpty,
      "q162: a forgotten doc surfaced in the lexical serve")
    Hybrid.rrfFuse(vecDocs, "id", lex, "doc", rrfC, 10)
      .orderBy("rank")
  }

  /** The replay where the forgotten docs were never chunked,
    * embedded, indexed, or posted: chunk + portable-hash embed CTEs
    * (q119's), standing centroids trained over ALL chunks (geometry
    * never moves on delete), the parent-filtered probe scan rolled up
    * to best-chunk-per-doc, and q20's lexical scoring over the
    * surviving documents — RRF-fused exactly as the engine fuses.
    * LAZY per the init-order rule (interpolates rrfC/rrfDepth,
    * declared later in this object). */
  lazy val q162Sql: String = {
    val sz = PrepQueries.chunkSize; val st = PrepQueries.chunkStride
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents WHERE doc_id < 200),
       sch AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $st)) AS stt FROM t),
       cbase AS (SELECT doc_id * $pdChunkMul + ((stt - 1) // $st) AS doc_id,
           array_to_string(toks[stt : stt + ${sz - 1}], ' ') AS ctext FROM sch),
       ${embedCteSql("cbase", "ctext", 64, "")},
       cv AS (SELECT doc_id AS ckey, list(x ORDER BY j) AS v FROM vf GROUP BY doc_id),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((ckey % 2147483648) * 1103515245 + 12345) % 2147483648, ckey) - 1 AS BIGINT) AS cid,
             v AS cvec FROM cv) WHERE cid < $ivfK),
       a AS (SELECT ckey, v, cid FROM (
           SELECT cv.ckey, cv.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY cv.ckey
               ORDER BY list_dot_product(cv.v, c.cvec) DESC, c.cid) AS r
           FROM cv, c) WHERE r = 1),
       live AS (SELECT * FROM a WHERE (ckey // $pdChunkMul) % 9 <> 4),
       qbase AS (SELECT 0 AS doc_id, 'spark hash join' AS qtext),
       ${embedCteSql("qbase", "qtext", 64, "q")},
       qvec AS (SELECT list(x ORDER BY j) AS qv FROM qvf GROUP BY doc_id),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, qvec q) WHERE r <= $ivfProbe),
       vs AS (SELECT live.ckey, list_dot_product(live.v, pr.qv) AS sc
              FROM live JOIN pr ON live.cid = pr.cid),
       vchunk AS (SELECT ckey, sc FROM (
           SELECT ckey, sc, ROW_NUMBER() OVER (ORDER BY sc DESC, ckey) AS r FROM vs)
         WHERE r <= $rrfDepth),
       vr AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank FROM (
           SELECT ckey // $pdChunkMul AS id, MAX(ROUND(sc, 6)) AS s FROM vchunk GROUP BY 1)),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
             FROM documents WHERE doc_id < 200 AND doc_id % 9 <> 4),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       lsc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lr AS (SELECT doc_id AS id, rank FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM lsc)
           WHERE rank <= $rrfDepth),
       f AS (SELECT COALESCE(v.id, l.id) AS id,
           COALESCE(1.0 / ($rrfC + v.rank), 0.0) + COALESCE(1.0 / ($rrfC + l.rank), 0.0) AS s
         FROM vr v FULL OUTER JOIN lr l ON v.id = l.id),
       r AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank,
                    ROUND(s, 6) AS score FROM f)
       SELECT id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  // ---------- q166: cascade forget across FOUR artifact families ----------

  /** q162 GROWN TO THE WHOLE FACTORY — one doc-level
    * right-to-be-forgotten request cascades through EVERY derived
    * artifact a serving stack holds over the same content: (1) the
    * term-bucketed postings, (2) the chunk-vector IVF index, (3) the
    * SQ8 code lists over the same chunk embeddings, and (4) the graph
    * index over them. The request's chunk keys derive from the
    * manifest once (the parent id is encoded in the ckey — a
    * request-sized broadcast semi-join, never a corpus scan) and land
    * in each family's own sidecar through its own delete op — the
    * hide is O(request) × 4, the physical removal rides each family's
    * next rewrite. Orphan-free gates PER LEG: each delete counts
    * exactly the doc request (lexical) or exactly the derived chunk
    * set (all three vector families — every chunk of every forgotten
    * doc, no orphaned derived rows), each sidecar holds exactly that
    * set, and NO serve — lexical, IVF, SQ8's ADC path, or the graph's
    * routed beams (rows-gated; construction not SQL-expressible) —
    * surfaces a forgotten doc or any of its chunks. Declared output,
    * fully oracled: the fused parent-doc hybrid (IVF chunk top-k
    * rolled to parents, RRF'd with the sidecar-aware lexical serve —
    * q162's composition) UNION the SQ8 chunk serve, each leg
    * hash-matched against the replay where the forgotten docs' text
    * was never chunked, embedded, quantized, indexed, or posted. */
  def q166CascadeAll(s: SparkSession, dir: String): DataFrame = {
    require(Queries.bm25Terms == Seq("spark", "hash", "join"),
      "q166Sql's literal query terms are out of sync with Queries.bm25Terms")
    val cv = chunkVecs(s, dir)
    val ivfPath = PipelineQueries.roundtripPath(dir, "q166_ivf")
    cloneIndexTo(cascadeIvfSrc(s, dir), ivfPath)
    val sqPath = PipelineQueries.roundtripPath(dir, "q166_sq")
    cloneIndexTo(cascadeSqSrc(s, dir), sqPath)
    val graphPath = PipelineQueries.roundtripPath(dir, "q166_graph")
    cloneIndexTo(cascadeGraphSrc(s, dir), graphPath)
    val tbl = "bm25_cascall_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val postPath = PipelineQueries.roundtripPath(dir, "q166_post")
    Queries.clonePostingsTo(s, Queries.postingsSrcLt200(s, dir), tbl, postPath)
    val delDocs = docs(s, dir)
      .filter(col("doc_id") < 200 && col("doc_id") % 9 === 4)
      .select(col("doc_id"))
    val nDocs = Memo.cachedCount(s, dir, "q162_ndocs")(delDocs.count())
    // leg 1, lexical: the doc-level request
    val nLex = graft.lexical.BM25.deleteFromPostings(s, postPath,
      s.table(tbl), delDocs.select(col("doc_id").as("doc")))
    require(nLex == nDocs,
      s"q166: the lexical cascade hid $nLex of a $nDocs-doc request")
    // the derived chunk keys, from the manifest — ONE derivation
    // shared by all three vector legs
    val delKeys = cv.select(col("ckey"))
      .join(broadcast(delDocs.select(col("doc_id").as("__p"))),
        expr(s"ckey div $pdChunkMul") === col("__p"), "left_semi")
      .localCheckpoint() // request-sized: three deletes + gates share it
    val nChDel = Memo.cachedCount(s, dir, "q166_nchunks")(delKeys.count())
    require(nDocs > 0 && nChDel >= nDocs,
      "q166 needs a non-empty chunked request for a real cascade")
    // legs 2–4: the SAME derived set lands in each family's sidecar
    val nIvf = graft.search.IVF.deleteFromIndex(s, ivfPath, delKeys, "ckey", countPresent = true)
    require(nIvf == nChDel,
      s"q166: the IVF cascade hid $nIvf of $nChDel derived chunks")
    val nSq = graft.search.IVF.deleteFromIndex(s, sqPath,
      delKeys.select(col("ckey").as("id")), "id", countPresent = true)
    require(nSq == nChDel,
      s"q166: the SQ8 cascade hid $nSq of $nChDel derived chunks")
    val nGr = graft.search.GraphAnn.deleteFromIndex(s, graphPath,
      delKeys, "ckey", countPresent = true)
    require(nGr == nChDel,
      s"q166: the graph cascade hid $nGr of $nChDel derived chunks")
    // orphan-free: each sidecar holds exactly the derived set
    require(graft.search.IVF.tombstoneRows(s, ivfPath) == nChDel &&
        graft.search.IVF.tombstoneRows(s, sqPath) == nChDel &&
        graft.search.GraphAnn.tombstoneRows(s, graphPath) == nChDel,
      "q166: a family's sidecar diverged from the derived chunk set")
    val qv = new graft.embed.PortableHashEmbedder(64)
      .embed(Queries.bm25Terms.mkString(" ")).map(_.toDouble).toSeq
    val qdf = s.range(1).select(typedLit(qv).as("qv"))
    // IVF leg serve → parent rollup (q162's fused composition)
    // serve results are <= rrfDepth rows consumed twice (gate +
    // declared output) — materialize once per serve
    val chunks = graft.search.IVF.searchIndex(s, ivfPath, "ckey", "v",
      qdf, "qv", rrfDepth, ivfProbe).localCheckpoint()
    require(chunks.filter(expr(s"ckey div $pdChunkMul") % 9 === 4).isEmpty,
      "q166: a forgotten doc's chunk surfaced in the IVF serve")
    val vecDocs = chunks
      .select(expr(s"ckey div $pdChunkMul").as("id"), col("score"))
      .groupBy("id").agg(max(col("score")).as("__s"))
      .withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("__s").desc, col("id").asc)).cast("long"))
    val post = s.table(tbl)
    val lex = graft.lexical.BM25.searchIndexed(s, postPath, post,
      graft.lexical.BM25.statsFromPostings(post), Queries.bm25Terms, rrfDepth)
      .localCheckpoint()
    require(lex.filter(col("doc") % 9 === 4).isEmpty,
      "q166: a forgotten doc surfaced in the lexical serve")
    val fused = Hybrid.rrfFuse(vecDocs, "id", lex, "doc", rrfC, 10)
    // SQ8 leg serve (chunk-level, oracled)
    val sqServe = graft.search.SQ.searchIndex(s, sqPath, cv, "ckey", "v",
      qdf, "qv", 10, ivfProbe, sqRerank).localCheckpoint()
    require(sqServe.filter(expr(s"ckey div $pdChunkMul") % 9 === 4).isEmpty,
      "q166: a forgotten doc's chunk surfaced in the SQ8 ADC serve")
    // graph leg serve (rows-gated: construction not SQL-expressible)
    val grServe = graft.search.GraphAnn.searchIndex(s, graphPath, "ckey",
      qdf, "qv", 10, graphEf)
    require(grServe.filter(expr(s"ckey div $pdChunkMul") % 9 === 4).isEmpty,
      "q166: a forgotten doc's chunk surfaced in the graph serve")
    fused.select(lit("fused").as("leg"), col("id"), col("rank"), col("score"))
      .unionByName(sqServe.select(lit("sq").as("leg"),
        col("ckey").as("id"), col("rank"), col("score")))
      .orderBy("leg", "rank")
  }

  /** q162's never-existed replay grown to both oracled legs: the
    * fused parent-doc hybrid AND the SQ8 chunk serve, each over the
    * corpus where the forgotten docs were never chunked, embedded,
    * quantized, indexed, or posted. Standing geometry throughout:
    * centroids and bounds trained over ALL chunks (deletion never
    * moves geometry). LAZY per the init-order rule. */
  lazy val q166Sql: String = {
    val sz = PrepQueries.chunkSize; val st = PrepQueries.chunkStride
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents WHERE doc_id < 200),
       sch AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $st)) AS stt FROM t),
       cbase AS (SELECT doc_id * $pdChunkMul + ((stt - 1) // $st) AS doc_id,
           array_to_string(toks[stt : stt + ${sz - 1}], ' ') AS ctext FROM sch),
       ${embedCteSql("cbase", "ctext", 64, "")},
       cv AS (SELECT doc_id AS ckey, list(x ORDER BY j) AS v FROM vf GROUP BY doc_id),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((ckey % 2147483648) * 1103515245 + 12345) % 2147483648, ckey) - 1 AS BIGINT) AS cid,
             v AS cvec FROM cv) WHERE cid < $ivfK),
       a AS (SELECT ckey, v, cid FROM (
           SELECT cv.ckey, cv.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY cv.ckey
               ORDER BY list_dot_product(cv.v, c.cvec) DESC, c.cid) AS r
           FROM cv, c) WHERE r = 1),
       live AS (SELECT * FROM a WHERE (ckey // $pdChunkMul) % 9 <> 4),
       qbase AS (SELECT 0 AS doc_id, 'spark hash join' AS qtext),
       ${embedCteSql("qbase", "qtext", 64, "q")},
       qvec AS (SELECT list(x ORDER BY j) AS qv FROM qvf GROUP BY doc_id),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, qvec q) WHERE r <= $ivfProbe),
       vs AS (SELECT live.ckey, list_dot_product(live.v, pr.qv) AS sc
              FROM live JOIN pr ON live.cid = pr.cid),
       vchunk AS (SELECT ckey, sc FROM (
           SELECT ckey, sc, ROW_NUMBER() OVER (ORDER BY sc DESC, ckey) AS r FROM vs)
         WHERE r <= $rrfDepth),
       vr AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank FROM (
           SELECT ckey // $pdChunkMul AS id, MAX(ROUND(sc, 6)) AS s FROM vchunk GROUP BY 1)),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
             FROM documents WHERE doc_id < 200 AND doc_id % 9 <> 4),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       lsc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lr AS (SELECT doc_id AS id, rank FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM lsc)
           WHERE rank <= $rrfDepth),
       f AS (SELECT COALESCE(v.id, l.id) AS id,
           COALESCE(1.0 / ($rrfC + v.rank), 0.0) + COALESCE(1.0 / ($rrfC + l.rank), 0.0) AS s
         FROM vr v FULL OUTER JOIN lr l ON v.id = l.id),
       r AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank,
                    ROUND(s, 6) AS score FROM f),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM cv, (SELECT UNNEST(generate_series(1, 64)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT live.ckey, live.cid,
           list_transform(generate_series(1, 64), dd ->
             CASE WHEN hi[dd] = lo[dd] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[dd] - lo[dd]) * 255.0 / (hi[dd] - lo[dd]), 0))) AS INT) END) AS code
         FROM live, bl),
       ad AS (SELECT cd.ckey,
           list_dot_product(list_transform(generate_series(1, 64), dd ->
             lo[dd] + code[dd] * ((hi[dd] - lo[dd]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       scand AS (SELECT ckey FROM (
           SELECT ckey, ROW_NUMBER() OVER (ORDER BY adc DESC, ckey) AS r FROM ad)
         WHERE r <= $sqRerank),
       ssc AS (SELECT cv.ckey, list_dot_product(cv.v, q.qv) AS sc
              FROM cv JOIN scand USING (ckey), qvec q),
       sr AS (SELECT ckey AS id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, ckey) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM ssc)
       SELECT leg, id, rank, score FROM (
         SELECT 'fused' AS leg, id, rank, score FROM r WHERE rank <= 10
         UNION ALL
         SELECT 'sq' AS leg, id, rank, score FROM sr WHERE rank <= 10)
       ORDER BY leg, rank"""
  }

  // ---------- q174: factory-wide forget, registers included ----------

  /** THE FACTORY-WIDE FORGET — q166's cascade grown to the LAST
    * derived-artifact family it did not reach: the curation REGISTER
    * (q169's banded-MinHash band table — fingerprints of document
    * content that, if kept, GHOST-SUPPRESS every future near-dup of
    * the forgotten text). ONE logical request — "forget this cohort's
    * documents" (standing docs ≡ 0 mod 9) — lands in FIVE sidecars
    * through five family-specific delete ops, each hide O(request ∩
    * artifact): (1) the term-bucketed postings hold the request's
    * < 200 slice, (2–4) the chunk-IVF / SQ8-code / graph indexes hold
    * its manifest-derived chunk keys (one broadcast semi-join shared
    * by all three), and (5) the register holds its band rows over the
    * full standing corpus — different artifacts hold different
    * SLICES of the same content, and each delete must count exactly
    * its own intersection (the orphan-free discipline: nothing
    * missed, nothing over-deleted). Register-specific gates ride
    * along from q169: the tombstone phase opens no bucket file, a
    * repeat counts zero, and the GHOST-SUPPRESSION WITNESS — the
    * incoming slice's match table loses exactly the forgotten-member
    * pairs. Serve gates per family: no forgotten doc or derived
    * chunk surfaces in the lexical, IVF, SQ8, or graph (rows-gated)
    * serves. Declared output, THREE legs fully oracled in one SQL:
    * the fused parent-doc hybrid, the SQ8 chunk serve, and the
    * register match table, each replayed against the corpus where
    * the forgotten docs were never chunked, embedded, quantized,
    * indexed, posted, or fingerprinted. */
  def q174FactoryForget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    require(Queries.bm25Terms == Seq("spark", "hash", "join"),
      "q174Sql's literal query terms are out of sync with Queries.bm25Terms")
    val d = docs(s, dir)
    // THE one request: a cohort's standing documents, corpus-wide
    val reqPred = CurationQueries.forgetCohortPred
    val req = d.filter(reqPred).select(col("doc_id")).localCheckpoint()
    val nReq = Memo.cachedCount(s, dir, "q174_nreq")(req.count())
    // the artifacts: postings + three vector indexes over the < 200
    // chunked slice, the register over the full standing corpus
    val cv = chunkVecs(s, dir)
    val ivfPath = PipelineQueries.roundtripPath(dir, "q174_ivf")
    cloneIndexTo(cascadeIvfSrc(s, dir), ivfPath)
    val sqPath = PipelineQueries.roundtripPath(dir, "q174_sq")
    cloneIndexTo(cascadeSqSrc(s, dir), sqPath)
    val graphPath = PipelineQueries.roundtripPath(dir, "q174_graph")
    cloneIndexTo(cascadeGraphSrc(s, dir), graphPath)
    val tbl = "bm25_ffg_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val postPath = PipelineQueries.roundtripPath(dir, "q174_post")
    Queries.clonePostingsTo(s, Queries.postingsSrcLt200(s, dir), tbl, postPath)
    val mut = PipelineQueries.roundtripPath(dir, "q174_bands")
    Option(new java.io.File(mut).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q174_bands"))
      .foreach(graft.FileTree.delete)
    graft.FileTree.copy(
      new java.io.File(CurationQueries.streamBandsPath(s, dir)),
      new java.io.File(mut))
    // leg 1, lexical: the request ∩ the < 200 postings slice
    val nLexReq = Memo.cachedCount(s, dir, "q174_nlexreq")(
      d.filter(reqPred && col("doc_id") < 200).count())
    require(nLexReq > 0 && nLexReq < nReq,
      "q174 needs the postings to hold a proper slice of the request")
    val nLex = graft.lexical.BM25.deleteFromPostings(s, postPath,
      s.table(tbl), req.select(col("doc_id").as("doc")))
    require(nLex == nLexReq,
      s"q174: the lexical hide must count exactly request ∩ postings " +
        s"($nLex of $nLexReq)")
    // legs 2–4: the manifest-derived chunk keys, ONE derivation
    val delKeys = cv.select(col("ckey"))
      .join(broadcast(d.filter(reqPred).select(col("doc_id").as("__p"))),
        expr(s"ckey div $pdChunkMul") === col("__p"), "left_semi")
      .localCheckpoint()
    val nChDel = Memo.cachedCount(s, dir, "q174_nchdel")(delKeys.count())
    require(nChDel >= nLexReq,
      "q174 needs every requested doc in the chunked slice to cascade")
    val nIvf = graft.search.IVF.deleteFromIndex(s, ivfPath, delKeys, "ckey", countPresent = true)
    require(nIvf == nChDel,
      s"q174: the IVF cascade hid $nIvf of $nChDel derived chunks")
    val nSq = graft.search.IVF.deleteFromIndex(s, sqPath,
      delKeys.select(col("ckey").as("id")), "id", countPresent = true)
    require(nSq == nChDel,
      s"q174: the SQ8 cascade hid $nSq of $nChDel derived chunks")
    val nGr = graft.search.GraphAnn.deleteFromIndex(s, graphPath,
      delKeys, "ckey", countPresent = true)
    require(nGr == nChDel,
      s"q174: the graph cascade hid $nGr of $nChDel derived chunks")
    require(graft.search.IVF.tombstoneRows(s, ivfPath) == nChDel &&
        graft.search.IVF.tombstoneRows(s, sqPath) == nChDel &&
        graft.search.GraphAnn.tombstoneRows(s, graphPath) == nChDel,
      "q174: a vector family's sidecar diverged from the derived chunk set")
    // leg 5, the register: request ∩ standing bands = the full request
    def matches(p: String) = CurationQueries.q98BatchMatchesSigs(s,
      CurationQueries.incomingSigs7(s, dir), p, d)
        .select(col("id1"), col("id2"), col("jaccard"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
    val before = matches(mut)
    require(before.exists(_._2 % 9 == 0),
      "q174 needs at least one pair whose standing member is forgotten " +
        "for the ghost-suppression witness to bite")
    def bucketSnap(): Map[String, Long] =
      Option(new java.io.File(mut).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("sigbucket="))
        .flatMap(dd => Option(dd.listFiles()).toSeq.flatten)
        .map(f => f.getPath -> f.lastModified()).toMap
    val snap = bucketSnap()
    val nReg = graft.dedup.Dedup.deleteFromRegister(s, mut,
      req.select(col("doc_id").as("id")))
    require(nReg == nReq,
      s"q174: the register hide must count the full standing request " +
        s"($nReg of $nReq)")
    require(graft.dedup.Dedup.deleteFromRegister(s, mut,
        req.select(col("doc_id").as("id"))) == 0L,
      "q174: re-deleting tombstoned docs must count zero")
    require(bucketSnap() == snap,
      "q174: the register tombstone phase must not touch a bucket file")
    val after = matches(mut)
    require(!after.exists(_._2 % 9 == 0),
      "q174: a forgotten doc still suppresses incoming content")
    require(after == before.filterNot(_._2 % 9 == 0),
      "q174: the register hide changed pairs beyond the forgotten members")
    // the serves, one per family, each blind to the request
    val qv = new graft.embed.PortableHashEmbedder(64)
      .embed(Queries.bm25Terms.mkString(" ")).map(_.toDouble).toSeq
    val qdf = s.range(1).select(typedLit(qv).as("qv"))
    val forgottenChunk = expr(s"ckey div $pdChunkMul") % 9 === 0 &&
      expr(s"ckey div $pdChunkMul") % 10 =!= 7
    // each serve is a <= rrfDepth-row result consumed TWICE (the
    // forgotten-doc gate and the declared output) — materialize the
    // k rows once instead of running the serve per consumer
    val chunks = graft.search.IVF.searchIndex(s, ivfPath, "ckey", "v",
      qdf, "qv", rrfDepth, ivfProbe).localCheckpoint()
    require(chunks.filter(forgottenChunk).isEmpty,
      "q174: a forgotten doc's chunk surfaced in the IVF serve")
    val vecDocs = chunks
      .select(expr(s"ckey div $pdChunkMul").as("id"), col("score"))
      .groupBy("id").agg(max(col("score")).as("__s"))
      .withColumn("rank", row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("__s").desc, col("id").asc)).cast("long"))
    val post = s.table(tbl)
    val lex = graft.lexical.BM25.searchIndexed(s, postPath, post,
      graft.lexical.BM25.statsFromPostings(post), Queries.bm25Terms, rrfDepth)
      .localCheckpoint()
    require(lex.filter(col("doc") % 9 === 0 && col("doc") % 10 =!= 7).isEmpty,
      "q174: a forgotten doc surfaced in the lexical serve")
    val fused = Hybrid.rrfFuse(vecDocs, "id", lex, "doc", rrfC, 10)
    val sqServe = graft.search.SQ.searchIndex(s, sqPath, cv, "ckey", "v",
      qdf, "qv", 10, ivfProbe, sqRerank).localCheckpoint()
    require(sqServe.filter(forgottenChunk).isEmpty,
      "q174: a forgotten doc's chunk surfaced in the SQ8 ADC serve")
    val grServe = graft.search.GraphAnn.searchIndex(s, graphPath, "ckey",
      qdf, "qv", 10, graphEf)
    require(grServe.filter(forgottenChunk).isEmpty,
      "q174: a forgotten doc's chunk surfaced in the graph serve")
    // three oracled legs in one declared frame
    fused.select(lit("fused").as("leg"), col("id").as("a"),
        col("rank").as("b"), round(col("score"), 6).as("x"))
      .unionByName(sqServe.select(lit("sq").as("leg"),
        col("ckey").as("a"), col("rank").as("b"),
        round(col("score"), 6).as("x")))
      .unionByName(after.toDF("id1", "id2", "jaccard")
        .select(lit("reg").as("leg"), col("id1").as("a"),
          col("id2").as("b"), round(col("jaccard"), 6).as("x")))
      .orderBy("leg", "a", "b")
  }

  /** The never-existed replay across three artifact families at once:
    * q166Sql's fused-hybrid and SQ8 legs under the cohort predicate
    * (docs ≡ 0 mod 9, standing), plus q169Sql's register match table
    * (prefixed CTE chain — same WITH clause, disjoint names). LAZY
    * per the init-order rule. */
  lazy val q174Sql: String = {
    val sz = PrepQueries.chunkSize; val st = PrepQueries.chunkStride
    val fg = "(doc_id % 9 = 0 AND doc_id % 10 <> 7)"
    val fgc = s"((ckey // $pdChunkMul) % 9 = 0 AND (ckey // $pdChunkMul) % 10 <> 7)"
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents WHERE doc_id < 200),
       sch AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $st)) AS stt FROM t),
       cbase AS (SELECT doc_id * $pdChunkMul + ((stt - 1) // $st) AS doc_id,
           array_to_string(toks[stt : stt + ${sz - 1}], ' ') AS ctext FROM sch),
       ${embedCteSql("cbase", "ctext", 64, "")},
       cv AS (SELECT doc_id AS ckey, list(x ORDER BY j) AS v FROM vf GROUP BY doc_id),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((ckey % 2147483648) * 1103515245 + 12345) % 2147483648, ckey) - 1 AS BIGINT) AS cid,
             v AS cvec FROM cv) WHERE cid < $ivfK),
       a AS (SELECT ckey, v, cid FROM (
           SELECT cv.ckey, cv.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY cv.ckey
               ORDER BY list_dot_product(cv.v, c.cvec) DESC, c.cid) AS r
           FROM cv, c) WHERE r = 1),
       live AS (SELECT * FROM a WHERE NOT $fgc),
       qbase AS (SELECT 0 AS doc_id, 'spark hash join' AS qtext),
       ${embedCteSql("qbase", "qtext", 64, "q")},
       qvec AS (SELECT list(x ORDER BY j) AS qv FROM qvf GROUP BY doc_id),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, qvec q) WHERE r <= $ivfProbe),
       vs AS (SELECT live.ckey, list_dot_product(live.v, pr.qv) AS sc
              FROM live JOIN pr ON live.cid = pr.cid),
       vchunk AS (SELECT ckey, sc FROM (
           SELECT ckey, sc, ROW_NUMBER() OVER (ORDER BY sc DESC, ckey) AS r FROM vs)
         WHERE r <= $rrfDepth),
       vr AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank FROM (
           SELECT ckey // $pdChunkMul AS id, MAX(ROUND(sc, 6)) AS s FROM vchunk GROUP BY 1)),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
             FROM documents WHERE doc_id < 200 AND NOT $fg),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       lsc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lr AS (SELECT doc_id AS id, rank FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM lsc)
           WHERE rank <= $rrfDepth),
       f AS (SELECT COALESCE(v.id, l.id) AS id,
           COALESCE(1.0 / ($rrfC + v.rank), 0.0) + COALESCE(1.0 / ($rrfC + l.rank), 0.0) AS s
         FROM vr v FULL OUTER JOIN lr l ON v.id = l.id),
       r AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank,
                    ROUND(s, 6) AS score FROM f),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM cv, (SELECT UNNEST(generate_series(1, 64)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT live.ckey, live.cid,
           list_transform(generate_series(1, 64), dd ->
             CASE WHEN hi[dd] = lo[dd] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[dd] - lo[dd]) * 255.0 / (hi[dd] - lo[dd]), 0))) AS INT) END) AS code
         FROM live, bl),
       ad AS (SELECT cd.ckey,
           list_dot_product(list_transform(generate_series(1, 64), dd ->
             lo[dd] + code[dd] * ((hi[dd] - lo[dd]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       scand AS (SELECT ckey FROM (
           SELECT ckey, ROW_NUMBER() OVER (ORDER BY adc DESC, ckey) AS r FROM ad)
         WHERE r <= $sqRerank),
       ssc AS (SELECT cv.ckey, list_dot_product(cv.v, q.qv) AS sc
              FROM cv JOIN scand USING (ckey), qvec q),
       sr AS (SELECT ckey AS id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, ckey) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM ssc),
       ${CurationQueries.pairsCteSqlWith(
        "a.doc_id % 10 = 7 AND c.doc_id % 10 <> 7 AND NOT (c.doc_id % 9 = 0)",
        "SELECT doc_id, text FROM documents", "rg_")}
       SELECT leg, a, b, x FROM (
         SELECT 'fused' AS leg, id AS a, rank AS b, score AS x FROM r WHERE rank <= 10
         UNION ALL
         SELECT 'sq' AS leg, id AS a, rank AS b, score AS x FROM sr WHERE rank <= 10
         UNION ALL
         SELECT 'reg' AS leg, id1 AS a, id2 AS b, ROUND(jaccard, 6) AS x FROM rg_pairs)
       ORDER BY leg, a, b"""
  }

  // ---------- q175/q176: pinned serving, graph + SQ8 ----------

  /** PINNED GRAPH SERVING ACROSS A CONCURRENT COMPACTION — the graph
    * cell of the serving-consistency matrix q142 (IVF), q171
    * (lexical), and q172 (hybrid) fill for the other families: a
    * long-running reader captures [[graft.search.GraphAnn
    * .currentGeneration]] ONCE and serves every query through
    * [[graft.search.GraphAnn.searchIndexPinned]]; a delete lands in
    * the pinned generation's OWN sidecar (the hide rides the pin —
    * the generation-keyed `tombstones` table is part of the snapshot
    * unit); maintenance then runs [[graft.search.GraphAnn
    * .compactTombstones]], flipping CURRENT to a rebuilt generation
    * UNDER the standing pin. The pinned reader must (a) hide the
    * request BEFORE the flip (sidecar-aware pin), (b) serve
    * IDENTICAL answers before and after the flip (the superseded
    * generation and its sidecar are the grace window), and (c) agree
    * with the flipped generation's serve row for row (hide-now ≡
    * remove-later, across the pin). Rows-only per the graph
    * discipline (construction is not SQL-expressible); the three
    * equality gates are the contract, GraphAnnSpec pins expiry
    * loudness. */
  def q175GraphPinnedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q175")
    cloneTree(graphIndexPath(s, dir), path)
    val delIds = e.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q145_ndel")(delIds.count())
    require(GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true) == nReq,
      "q175: the request must land fully in the live sidecar")
    // the reader's pin: ONE pointer resolve, then never again
    val pin = GraphAnn.currentGeneration(path)
    val probe = graphProbeFor(s, dir)
    def pinned() = GraphAnn.searchIndexPinned(s, path, pin, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = probe)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val before = pinned()
    require(before.forall(_._1 % 9 != 4),
      "q175: the pinned serve must hide the standing request " +
        "(the sidecar is part of the snapshot unit)")
    GraphAnn.compactTombstones(s, path)
    require(GraphAnn.currentGeneration(path) != pin,
      "q175: the compaction must flip to a fresh generation")
    val after = pinned()
    require(after == before,
      "q175: the pin must serve identical answers across the flip")
    val current = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = probe)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    require(after == current,
      "q175: the pinned snapshot must serve exactly the flipped " +
        "generation's answers (hide-now ≡ remove-later, across the pin)")
    after.toDF("vec_id", "rank", "score").orderBy("rank")
  }

  /** CELL-POOL GC UNDER A STANDING PIN — the declared-row treatment
    * for the versioned pool's GRACE CONTRACT (round 18; the other pin
    * contracts got theirs in q142/q171/q172/q175/q176): a pinned
    * generation keeps resolving its own frozen cell VERSIONS against
    * the shared pool across (1) an APPEND to the live generation —
    * whose per-part grace GC must keep every surviving generation's
    * own resolution, not just the live V_c's predecessor (the
    * round-18 keep-set fix; before it, the first post-flip append
    * silently deleted whole pinned cells) — and (2) a full
    * MAINTENANCE FLIP ([[graft.search.GraphAnn.refreshRouting]]),
    * whose [[gcCells]] sweep keeps each kept root's resolution at its
    * own visibility version. After a SECOND maintenance cycle the pin
    * leaves the grace window, its cells GC from the pool, and the
    * stale read fails LOUDLY — never silently serving a newer graph.
    * Gates: pinned serve bit-identical and pinned node mass constant
    * across append + flip; generation advances at each cycle; expiry
    * raises with the GC'd remedy message. Rows-only per the graph ✗
    * discipline; the declared output is the live serve after the
    * full lifecycle. */
  def q196GraphPoolGcUnderPin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q196")
    cloneTree(graphIndexPath(s, dir), path)
    val parts = graphPartsFor(s, dir)
    val probe = graphProbeFor(s, dir)
    val nMax = Memo.cachedCount(s, dir, "emb_n")(e.count())
    // the reader's pin: ONE pointer resolve before any maintenance
    val pin = GraphAnn.currentGeneration(path)
    val massBefore = GraphAnn.nodesDfPinned(s, path, pin).count()
    def pinned() = GraphAnn.searchIndexPinned(s, path, pin, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = probe)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    // (1) APPEND to the pinned live generation: the pin IS the live
    // unit here, so the append (CELLS bump + grace GC) is part of its
    // history — the baseline snapshot is taken AFTER it
    GraphAnn.appendToIndex(s, path,
      e.limit(8).select((col("vec_id") + lit(10L * nMax)).as("vec_id"),
        col("v")),
      "vec_id", "v")
    val replicas = s.read.parquet(GraphAnn.tablePath(path, "routing"))
      .select(col("replicas").cast("long")).as[Long].head()
    val massPinned = massBefore + 8L * replicas
    require(GraphAnn.nodesDfPinned(s, path, pin).count() == massPinned,
      "q196: the pinned live generation must hold base + appended mass")
    val before = pinned()
    // (2) MAINTENANCE FLIP under the pin: a fresh generation commits,
    // gcCells sweeps — keeping the superseded pin's own resolutions
    // (the grace window)
    GraphAnn.refreshRouting(s, path, parts)
    val gen1 = GraphAnn.currentGeneration(path)
    require(gen1 != pin, "q196: the refresh must flip to a fresh generation")
    require(pinned() == before,
      "q196: the pinned serve must be bit-identical across the flip " +
        "(the grace window is the contract)")
    // (3) POST-FLIP APPEND to the new live generation: its grace GC
    // must keep the cells the SUPERSEDED pin resolves at its frozen
    // V_c — the round-18 keep-set contract, gated in the declared row
    GraphAnn.appendToIndex(s, path,
      e.limit(8).select((col("vec_id") + lit(20L * nMax)).as("vec_id"),
        col("v")),
      "vec_id", "v")
    require(pinned() == before,
      "q196: the pinned serve must be bit-identical across a post-flip " +
        "append's grace GC (superseded resolutions are part of the keep set)")
    require(GraphAnn.nodesDfPinned(s, path, pin).count() == massPinned,
      "q196: the superseded pin's node mass must stand through the " +
        "post-flip append")
    // live mass gate: base + both appends, every copy in R cells
    require(GraphAnn.nodesDf(s, path).count() == massPinned + 8L * replicas,
      "q196: the live generation must hold base + both appended batches")
    // (3) SECOND cycle: the pin leaves the grace window — its cells
    // GC from the pool and the stale read fails LOUDLY
    GraphAnn.refreshRouting(s, path, parts)
    require(GraphAnn.currentGeneration(path) != gen1,
      "q196: the second refresh must advance the generation again")
    val expiry = scala.util.Try(pinned())
    require(expiry.isFailure &&
        expiry.failed.get.getMessage.contains("GC'd"),
      s"q196: an expired pin must fail loudly with the GC'd remedy, got $expiry")
    GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = probe)
      .orderBy("rank")
  }

  /** The q197 fixture corpus: the first 40 embeddings as cluster
    * centers, each with 39 deterministic perturbed copies (hash-noise
    * σ=0.08 — the CLUSTERED shape of the round-18 `graphbig` sweeps
    * and of GraphAnnSpec's 160-cell equality pin, where top-P cells
    * nest inside top-S supercells and the pruned selection is exact).
    * Copy 0 keeps the original ids/vectors, so the recall queries are
    * real corpus points. Constant-size by design: the row certifies
    * the two-level MACHINERY every round (engagement, selection
    * equality, recall); the decades are SCALE.md's measured rungs. */
  private def twoLevelCorpus(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "2lvl_corpus") {
      val e = emb(s, dir)
      val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
      val copies = s.range(0, 40).toDF("__c")
      e.filter(col("vec_id") < 40).crossJoin(copies).select(
        (col("__c") * lit(10L * n) + col("vec_id")).as("vec_id"),
        when(col("__c") === 0, col("v"))
          .otherwise(graft.functions.VectorF.addNoise(col("v"),
            col("__c") * lit(10L * n) + col("vec_id"), 0.08)).as("v"))
    }

  private[graft] val twoLevelParts = 160

  /** The ONE declared index that engages the two-level machinery at
    * every SF (parts = 160 ≥ the 128 threshold; the organic graph
    * index sits below it at spec scale by design) — built ONCE per
    * (session, dir) and charged to `_build_graph_2lvl`. */
  private def twoLevelIndexPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann_2lvl") {
      val p = PipelineQueries.roundtripPath(dir, "graphann_2lvl")
      graft.search.GraphAnn.writeIndex(twoLevelCorpus(s, dir), "vec_id", "v",
        graphM, graphEf, twoLevelParts, p)
      p
    }

  /** TWO-LEVEL BUILD + SERVE AS A DECLARED ROW (round 19): every
    * production path the [[graft.search.Assign.TwoLevelMinParts]]
    * threshold gates — the supercell-pruned routing scan on the serve
    * side (round 18) and the two-level build assignment (round 19) —
    * runs inside the per-round driver artifact here, over a
    * parts = 160 index on the perturbed-copy corpus. Gates, all
    * in-query:
    *
    *  1. ENGAGEMENT — the generation carries the `routing2c`/
    *     `routing2` sidecars (parts ≥ threshold by construction);
    *  2. SERVE SELECTION EQUALITY — the supercell-pruned
    *     [[graft.search.GraphAnn.routeQueriesDf]] top-P equals the
    *     flat parts-row reference scan, query for query (the
    *     GraphAnnSpec pin, re-asserted against the live artifact
    *     every round);
    *  3. BUILD ASSIGNMENT — the index's at-rest (id, part) node
    *     placement vs [[graft.search.Assign.flatTopR]]'s
    *     O(N × parts) reference fold: the symmetric difference is
    *     surfaced as a declared output row and gated ≤ 0.5% of
    *     placement rows (exact-zero on most SFs; a handful of
    *     boundary REPLICAS may legitimately differ where a cluster
    *     straddles supercells — AssignSpec pins the exact-zero case
    *     on the deterministic fixture, and the assignment rungs in
    *     SCALE.md quantify the shape-dependence);
    *  4. RECALL FLOOR — routed recall@10 ≥ 0.9 vs the exact scan at
    *     the fixed-count defaults.
    *
    * Rows-only per the graph family's ✗ discipline (graph build is
    * not SQL-expressible); the declared output is the gate ledger. */
  def q197GraphTwoLevel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.search.{Assign, GraphAnn}
    val corpus = twoLevelCorpus(s, dir)
    val path = twoLevelIndexPath(s, dir)
    val root = GraphAnn.tablePath(path, "routing").stripSuffix("/routing")
    require(new java.io.File(s"$root/routing2c").isDirectory &&
      new java.io.File(s"$root/routing2").isDirectory,
      "q197: a parts >= 128 build must carry the supercell sidecars")
    val routing = s.read.parquet(s"$root/routing")
    val parts = routing.count().toInt
    require(parts >= Assign.TwoLevelMinParts,
      s"q197: the fixture routing must stay above the two-level " +
        s"threshold, got $parts cells")
    // (2) serve selection: two-level vs the flat reference scan
    val qvs = corpus.filter(col("vec_id") < recallNq)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .collect().map { case (q, v) => (q, v.toArray) }
    val probe = Assign.SuperProbe // <= SuperProbe, so the pruned path engages
    val qdf = qvs.toSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("qid", "__qv")
    val flatSel = routing
      .select(col("part").cast("long").as("part"),
        col("rvec").cast("array<double>").as("rvec"))
      .crossJoin(broadcast(qdf))
      .select(col("qid"), col("part"),
        graft.functions.VectorF.dot(col("rvec"), col("__qv")).as("__s"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("part"), col("__s"), probe).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").cast("int").as("part"))
      .as[(Long, Int)].collect().groupBy(_._1)
      .map { case (q, ps) => q -> ps.map(_._2).toSet }
    val twoSel = GraphAnn.routeQueriesDf(s, root, qvs, probe)
      .as[(Long, Int)].collect().groupBy(_._1)
      .map { case (q, ps) => q -> ps.map(_._2).toSet }
    require(twoSel == flatSel,
      "q197: the supercell-pruned selection must equal the flat " +
        "reference scan query for query")
    // (2b) PlanSpec's pruned-listing pin, re-asserted against the
    // LIVE artifact: stage 2's member scan carries a genuine spart
    // partition filter and lists at most queries × S supercell dirs
    val memberScan = GraphAnn.twoLevelMemberScan(s, root, qvs, qdf, probe)
    val scans = memberScan.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    require(scans.size == 1 && scans.head.partitionFilters.nonEmpty,
      "q197: the two-level member scan must be spart-partition-pruned")
    require(scans.head.relation.location
        .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
        .size <= qvs.length * Assign.SuperProbe,
      "q197: the member scan must list at most queries x S supercell dirs")
    // (3) build assignment: at-rest placement vs the flat fold
    val replicas = routing.select(col("replicas").cast("int"))
      .as[Int].head()
    val atRest = GraphAnn.nodesDf(s, path)
      .select(col("id"), col("part").cast("int").as("part"))
    val reference = Assign.flatTopR(corpus, "vec_id", "v",
      routing.select(col("part").cast("int").as("part"),
        col("rvec").cast("array<double>").as("rvec")), replicas)
      .select(col("id"), col("part"))
    val assignDiff = Gates.symDiffCount(atRest, reference)
    val placementRows = corpus.count() * replicas
    require(assignDiff.toDouble <= 0.005 * placementRows,
      s"q197: two-level build assignment diverged from the flat fold " +
        s"($assignDiff of $placementRows placement rows differ — above " +
        "the 0.5% boundary-replica ceiling)")
    // (4) recall floor at the fixed-count serving defaults
    val exact = Search.multiTopK(corpus, "vec_id", "v",
        qdf.select(col("qid"), col("__qv").as("qv")), "qid", "qv", recallK)
      .select(col("qid"), col("vec_id")).localCheckpoint()
    val got = GraphAnn.searchIndexMulti(s, path, "vec_id",
        qdf.select(col("qid"), col("__qv").as("qv")), "qid", "qv",
        recallK, graphEf)
      .select(col("qid"), col("vec_id"))
    val hits = exact.join(got, Seq("qid", "vec_id"), "left_semi").count()
    val recall = hits.toDouble / (recallNq * recallK)
    require(recall >= 0.9,
      s"q197: routed recall $recall fell below the 0.9 floor")
    Seq(
      ("assign_flat_vs_two_level_diff_rows", assignDiff.toDouble),
      ("recall_at_10", recall),
      ("routing_matched_queries", twoSel.size.toDouble),
      ("parts", parts.toDouble))
      .toDF("leg", "value").orderBy("leg")
  }

  /** TWO-LEVEL ASSIGNMENT UNDER THE ORACLE GATE (round 19) — the one
    * piece of the two-level machinery that IS SQL-expressible, hash-
    * matched against DuckDB: 160 LCG-sampled cells over the
    * embeddings (≥ the [[graft.search.Assign.TwoLevelMinParts]]
    * threshold, so [[graft.search.Assign.topR]] takes the two-level
    * branch — supercell derivation, top-[[graft.search.Assign
    * .SuperProbe]] supercells per vector, member-pruned candidate
    * scoring, top-2 replication), replayed end to end: the oracle
    * derives the ⌈√160⌉ = 13 supercell seeds from the same LCG
    * ordering, unrolls the 3 quantized-mean Lloyd iterations (the
    * q58 template over the CELL table), takes each cell's 2 member
    * supercells and each vector's top-8 MEMBER-BEARING supercells by
    * (dot desc, id asc) — stage 1 probes only supercells with
    * members, the kernel's zero-candidate guard — and ranks the
    * DISTINCT member-pruned candidates — the exact selection
    * [[graft.search.Assign.twoLevelTopR]]'s local-top-r merge
    * computes. A hash mismatch
    * here means the build-side two-level selection drifted from its
    * spec — the q84-class defense for the round-19 assignment flip. */
  def q198TwoLevelAssign(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cells = Memo.cached(s, dir, "q198_cells")(
      graft.search.IVF.centroids(e, "vec_id", "v", twoLevelParts)
        .select(col("cid").cast("int").as("part"),
          col("cvec").cast("array<double>").as("rvec")))
    graft.search.Assign.topR(e.select(col("vec_id"), col("v")),
        "vec_id", "v", cells, r = 2, parts = twoLevelParts)
      .select(col("id").as("vec_id"), col("part").cast("long").as("part"))
      .orderBy("vec_id", "part")
  }

  /** q198's replay — the supercell pipeline in ANSI SQL: LCG cells →
    * LCG supercell seeds → 3 unrolled quantized-mean Lloyd passes
    * (the q58 template over the cell table) → 2-replicated membership
    * → per-vector top-8 supercells → DISTINCT member-pruned
    * candidates → top-2 by (dot desc, part asc). */
  val q198Sql: String = {
    val sCount = math.ceil(math.sqrt(twoLevelParts.toDouble)).toInt
    def lloyd(i: Int, prev: String): String =
      s"""a$i AS (SELECT part, rvec, cid FROM (
         SELECT cl.part, cl.rvec, c.cid,
           ROW_NUMBER() OVER (PARTITION BY cl.part
             ORDER BY list_dot_product(cl.rvec, c.cvec) DESC, c.cid) AS r
         FROM cl, $prev c) WHERE r = 1),
       px$i AS (SELECT cid, i.i AS pos, rvec[i.i + 1] AS x
              FROM a$i, (SELECT UNNEST(generate_series(0, ${embDim - 1})) AS i) i),
       m$i AS (SELECT cid, pos,
               CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) /
                 (COUNT(*) * 1000000.0) AS m
             FROM px$i GROUP BY cid, pos),
       g$i AS (SELECT cid, list(m ORDER BY pos) AS lm FROM m$i GROUP BY cid),
       s$i AS (SELECT cid,
               list_transform(lm, x -> x / (sqrt(list_dot_product(lm, lm)) + 1e-9)) AS cvec
             FROM g$i)"""
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cl AS (SELECT part, rvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS part,
             v AS rvec FROM e) WHERE part < $twoLevelParts),
       s0 AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((part % 2147483648) * 1103515245 + 12345) % 2147483648, part) - 1 AS BIGINT) AS cid,
             rvec AS cvec FROM cl) WHERE cid < $sCount),
       ${lloyd(1, "s0")},
       ${lloyd(2, "s1")},
       ${lloyd(3, "s2")},
       mem AS (SELECT part, spart FROM (
           SELECT cl.part, s.cid AS spart,
             ROW_NUMBER() OVER (PARTITION BY cl.part
               ORDER BY list_dot_product(cl.rvec, s.cvec) DESC, s.cid) AS r
           FROM cl, s3 s) WHERE r <= 2),
       live AS (SELECT DISTINCT spart FROM mem),
       vt AS (SELECT vec_id, spart FROM (
           SELECT e.vec_id, s.cid AS spart,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, s.cvec) DESC, s.cid) AS r
           FROM e, s3 s JOIN live ON s.cid = live.spart)
           WHERE r <= ${graft.search.Assign.SuperProbe}),
       cand AS (SELECT DISTINCT vt.vec_id, mem.part
                FROM vt JOIN mem USING (spart)),
       sc AS (SELECT c.vec_id, c.part, list_dot_product(e.v, cl.rvec) AS sc
              FROM cand c JOIN e ON c.vec_id = e.vec_id
                          JOIN cl ON c.part = cl.part),
       top AS (SELECT vec_id, part FROM (
           SELECT vec_id, part,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, part) AS r
           FROM sc) WHERE r <= 2)
       SELECT vec_id, part FROM top ORDER BY vec_id, part"""
  }

  /** PINNED SQ8 SERVING ACROSS A CONCURRENT COMPACTION — the
    * quantized cell of the same matrix, and unlike the graph twin
    * FULLY ORACLED: a reader pins [[graft.search.IVF
    * .currentGeneration]] once (the SQ8 index versions only its
    * lists — geometry is standing by contract, so the lists half IS
    * the snapshot), q155's delete lands in the pinned generation's
    * sidecar, and [[graft.search.IVF.compactIndex]] flips CURRENT
    * under the standing pin. Gates mirror q175: the pinned ADC serve
    * hides the request before the flip, serves identically across
    * it (superseded lists + their own sidecar = the grace window),
    * and agrees with the flipped generation's serve row for row.
    * Oracle: q155's replay — pin, flip, and fresh generation all
    * serve the one truth where the deleted codes never reach the
    * re-rank and geometry never moves. */
  def q176SqPinnedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q176")
    cloneIndexTo(sqFullSrc(s, dir), path)
    val delIds = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("id"))
    val nReq = Memo.cachedCount(s, dir, "q155_ndel")(delIds.count())
    require(graft.search.IVF.deleteFromIndex(s, path, delIds, "id", countPresent = true) == nReq,
      "q176: the request must land fully in the live sidecar")
    // the reader's pin: ONE pointer resolve, then never again
    val pin = graft.search.IVF.currentGeneration(path)
    def pinned() = graft.search.SQ.searchIndexPinned(s, path, pin,
        e, "vec_id", "v",
        e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
        10, ivfProbe, sqRerank)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val before = pinned()
    require(before.forall(_._1 % 7 != 3),
      "q176: the pinned ADC serve must hide the standing request")
    graft.search.IVF.compactIndex(s, path)
    require(graft.search.IVF.currentGeneration(path) != pin,
      "q176: the compaction must flip to a fresh generation")
    val after = pinned()
    require(after == before,
      "q176: the pin must serve identical answers across the flip")
    val current = graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
        e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
        10, ivfProbe, sqRerank)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    require(after == current,
      "q176: the pinned snapshot must serve exactly the flipped " +
        "generation's answers")
    after.toDF("vec_id", "rank", "score").orderBy("rank")
  }

  // ---------- q181: pinned multi-query graph serving ----------

  /** THE LAST (family × pinned × multi) CELL — q178 pins the batch
    * server on IVF + lexical; the graph family had the single-query
    * pin (q175) and the un-pinned batch serve (q167) but no declared
    * row serving a QUERY BATCH from a pinned graph generation across
    * a concurrent [[graft.search.GraphAnn.compactTombstones]] flip.
    * Composition: a delete lands in the live generation's sidecar,
    * the batch server pins [[graft.search.GraphAnn
    * .currentGeneration]] ONCE, serves the 16-query batch through
    * [[graft.search.GraphAnn.searchIndexMultiPinned]] (ONE routed
    * nodes scan for the whole batch, the q167 shape), maintenance
    * compacts under the standing pin, and the server re-serves the
    * identical batch from the pinned snapshot. Gates: the pinned
    * batch hides the request before the flip (the generation-keyed
    * sidecar is part of the snapshot unit), serves IDENTICAL rows
    * across the flip (the grace window — the hard snapshot
    * invariant, bit for bit), the FLIPPED serve hides the request
    * too, and pinned-vs-flipped agree within a per-query floor.
    * Exact row equality with the flipped serve is deliberately NOT
    * the graph gate (it IS the IVF/SQ8 one, q176/q178): graph
    * compaction REBUILDS touched cells from their remaining members,
    * so post-flip beams navigate different edges, and two exact-
    * scored serves can legitimately differ at the candidate margin —
    * measured 159/160 ids shared at sf0.01; the floor (≥8/10 per
    * query, ≥95% overall) pins that margin without faking an
    * equality the structure does not promise. Rows-only per the
    * graph ✗ discipline; PlanSpec pins the one-scan shape of the
    * multi-pinned read. */
  def q181GraphPinnedMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q181")
    cloneTree(graphIndexPath(s, dir), path)
    val delIds = e.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q145_ndel")(delIds.count())
    require(GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true) == nReq,
      "q181: the request must land fully in the live sidecar")
    val qs = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint() // driver-sized query batch by contract
    val nq = qs.count()
    require(nq > 0, "q181 needs a non-empty query batch")
    // the batch server's pin: ONE pointer resolve for the session
    val pin = GraphAnn.currentGeneration(path)
    val probe = graphProbeFor(s, dir)
    def pinnedBatch() = GraphAnn.searchIndexMultiPinned(s, path, pin,
        "vec_id", qs, "qid", "qv", 10, graphEf, probeParts = probe)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    val before = pinnedBatch()
    require(before.size == nq * 10,
      s"q181: the pinned batch must serve k rows per query, got ${before.size}")
    require(before.forall(_._2 % 9 != 4),
      "q181: the pinned batch serve must hide the standing request " +
        "(the sidecar is part of the snapshot unit)")
    GraphAnn.compactTombstones(s, path)
    require(GraphAnn.currentGeneration(path) != pin,
      "q181: the compaction must flip to a fresh generation")
    val after = pinnedBatch()
    require(after == before,
      "q181: the pin must serve the identical batch across the flip")
    val current = GraphAnn.searchIndexMulti(s, path, "vec_id",
        qs, "qid", "qv", 10, graphEf, probeParts = probe)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    require(current.forall(_._2 % 9 != 4),
      "q181: the flipped batch serve surfaced a deleted id")
    // agreement floor, not equality: the flip rebuilt touched cells,
    // so beams navigate different edges (see the doc above)
    val pinnedIds = after.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val currentIds = current.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // guardrail floors with deliberate margin (measured min 9/10,
    // total 159/160 at sf0.01): they catch a broken pairing — a
    // generation served with the wrong sidecar diverges wholesale —
    // without turning the legitimate rebuild margin into flakiness
    // at other scale factors or build knobs
    val overlaps = pinnedIds.keys.toSeq.sorted
      .map(q => (pinnedIds(q) intersect currentIds(q)).size)
    require(overlaps.forall(_ >= 7),
      s"q181: per-query pinned-vs-flipped floor broken (min ${overlaps.min}/10)")
    require(overlaps.sum * 100 >= nq * 10 * 90,
      s"q181: overall pinned-vs-flipped floor broken (${overlaps.sum}/${nq * 10})")
    after.toDF("qid", "vec_id", "rank", "score").orderBy("qid", "rank")
  }

  // ---------- q167: multi-query graph serving ----------

  /** MULTI-QUERY SERVING FROM THE AT-REST GRAPH INDEX — the last cell
    * of the multi-query serving matrix (q134 IVF, q135 SQ8, q149
    * lexical, q150 hybrid, graph: here): [[graft.search.GraphAnn
    * .searchIndexMulti]] answers a 16-query batch from ONE routed
    * scan of the shared persisted index — each query keeps its top-P
    * routed cells, the nodes scan is filtered to the UNION of every
    * query's cells (a genuine partition filter on the parquet `part`
    * column — unprobed cells never leave disk; PlanSpec pins one
    * nodes scan), each scan task reassembles its cells' adjacency
    * ONCE and beam-searches only the queries routed to it, and
    * per-query top-k rides the bounded-heap aggregate so the exchange
    * carries O(queries × k) rows. Meta gates (request-sized): exactly
    * k dense-ranked rows per query, scores non-increasing in rank,
    * and the SELF-HIT floor — every query vector IS an indexed
    * vector, so ≥ 90% of queries must return their own id (the q95
    * recall contract read pointwise). Rows-only: graph construction
    * is not SQL-expressible (SURVEY ✗); GraphAnnSpec pins
    * multi ≡ per-query single serves bit for bit. */
  def q167GraphMulti(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val nq = Memo.cachedCount(s, dir, "q167_nq")(qs.count())
    require(nq > 0, "q167 needs a non-empty query batch")
    val res = graft.search.GraphAnn.searchIndexMulti(s,
        graphIndexPath(s, dir), "vec_id", qs, "qid", "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .localCheckpoint() // nq × k rows by contract
    val shape = res.groupBy("qid")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .agg(count(lit(1)).as("qids"),
        count(when(col("n") === 10 && col("lo") === 1 && col("hi") === 10,
          lit(1))).as("ok"))
      .head()
    require(shape.getLong(0) == nq && shape.getLong(1) == nq,
      "q167: every query must serve exactly k dense-ranked rows")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy("rank")
    require(res.withColumn("__p", lag(col("score"), 1).over(w))
        .filter(col("__p").isNotNull && col("__p") < col("score")).isEmpty,
      "q167: scores must be non-increasing in rank within a query")
    val selfHits = res.filter(col("qid") === col("vec_id")).count()
    require(selfHits * 10L >= nq * 9L,
      s"q167: self-hit floor broken ($selfHits of $nq queries found themselves)")
    res.orderBy("qid", "rank")
  }

  /** q147's replay shape under the feed's composite delete predicate:
    * deleted rows (base AND streamed-in alike) were never ingested,
    * every surviving row always was. */
  val q160Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id >= 100 AND vec_id % 7 = 3)
             AND NOT (vec_id < 100 AND vec_id % 5 = 2)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT d.vec_id, list_dot_product(d.v, pr.qv) AS sc
              FROM d JOIN pr ON d.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** S5/R2 INDEX LIFECYCLE under the oracle gate — the composition
    * whose halves q84 (append ≡ rebuild) and q58 (refine replay) pin
    * separately: build the at-rest index over the odd-id slice,
    * append a deliberately SKEWED delta (every even id re-embedded AT
    * the cid-0 centroid — the drift shape of a corpus whose new
    * content clusters where the standing quantizer under-covers),
    * observe [[graft.search.IVF.needsRefine]] FIRE (the require makes
    * the trigger itself part of the correctness gate: one list holds
    * ≥ half the corpus, ≥ 4× the mean at any SF), retrain the
    * quantizer with one Lloyd iteration over the index's OWN rows,
    * rewrite via [[graft.search.IVF.writeIndexFrom]], and serve the
    * query from the refreshed index. The oracle replays the whole
    * composition from scratch, so the hash match pins
    * append → trigger → retrain → rewrite ≡ one straight-line
    * rebuild. (The cloned delta stays one indivisible list after
    * refinement — identical vectors cannot be split — so the trigger
    * remains hot on the refreshed index; the contract is the
    * lifecycle, not that one iteration cures duplication.) */
  def q96IvfRefresh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q96")
    val path2 = PipelineQueries.roundtripPath(dir, "q96r")
    val base = e.filter(col("vec_id") % 2 === 1)
    graft.search.IVF.writeIndex(base, "vec_id", "v", ivfK, 0, path)
    val cz = s.read.parquet(graft.search.IVF.centroidsPath(path))
      .filter(col("cid") === 0).select(col("cvec"))
    val delta = e.filter(col("vec_id") % 2 === 0)
      .crossJoin(broadcast(cz)).select(col("vec_id"), col("cvec").as("v"))
    graft.search.IVF.appendToIndex(s, path, delta, "vec_id", "v")
    require(graft.search.IVF.needsRefine(s, path, 2.0),
      "q96: the skewed append must trip the refine trigger")
    // rebuilds FROM the index's own content go through listsRows (the
    // tombstone-filtered reader): a raw listsPath read would re-ingest
    // rows a delete already hid. No sidecar here → identical plan.
    val rows = graft.search.IVF.listsRows(s, path)
      .select(col("vec_id"), col("v"))
    val refined = graft.search.IVF.refine(rows, "vec_id", "v",
      s.read.parquet(graft.search.IVF.centroidsPath(path)), refineIters)
    graft.search.IVF.writeIndexFrom(refined,
      graft.search.IVF.assign(rows, "vec_id", "v", refined), path2)
    graft.search.IVF.searchIndex(s, path2, "vec_id", "v",
      e.filter(col("vec_id") === 3).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** The straight-line replay: base-slice LCG centroids, the union
    * corpus with even ids re-embedded at cid 0's vector, q58's
    * quantized-exact Lloyd step, assignment + probe + top-k. */
  val q96Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cs AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id % 2 = 1) WHERE cid < $ivfK),
       cz AS (SELECT cvec FROM cs WHERE cid = 0),
       u AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1
             UNION ALL SELECT vec_id, cz.cvec AS v FROM e, cz WHERE vec_id % 2 = 0),
       a0 AS (SELECT vec_id, v, cid FROM (
           SELECT u.vec_id, u.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY u.vec_id
               ORDER BY list_dot_product(u.v, c.cvec) DESC, c.cid) AS r
           FROM u, cs c) WHERE r = 1),
       px AS (SELECT cid, i.i AS pos, v[i.i + 1] AS x
              FROM a0, (SELECT UNNEST(generate_series(0, ${embDim - 1})) AS i) i),
       m AS (SELECT cid, pos,
               CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) /
                 (COUNT(*) * 1000000.0) AS m
             FROM px GROUP BY cid, pos),
       g AS (SELECT cid, list(m ORDER BY pos) AS lm FROM m GROUP BY cid),
       c1 AS (SELECT cid,
               list_transform(lm, x -> x / (sqrt(list_dot_product(lm, lm)) + 1e-9)) AS cvec
             FROM g),
       a1 AS (SELECT vec_id, v, cid FROM (
           SELECT u.vec_id, u.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY u.vec_id
               ORDER BY list_dot_product(u.v, c.cvec) DESC, c.cid) AS r
           FROM u, c1 c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 3),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c1 c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a1 a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** S5 COMPACTION under the oracle gate — the quarter of the index
    * lifecycle q84 (append), q58 (refine), and q96 (refresh) leave
    * open: build the at-rest IVF index over the base slice, append
    * FOUR delta batches — each lands one new parquet file per touched
    * list, so files-per-list grows with append COUNT, the
    * fragmentation shape of a week of continuous ingest — observe
    * [[graft.search.IVF.listFileCounts]] report the fragmentation
    * (the require makes the trigger input part of the gate), run
    * [[graft.search.IVF.compactIndex]] — which stages the rewrite
    * into a fresh versioned generation and commits it by atomically
    * replacing the CURRENT pointer file, so there is no crash window
    * with no live lists — require one-file-per-list afterwards, and
    * serve a query from the compacted index. The oracle replays a
    * straight-line rebuild over the union corpus with base-sampled
    * centroids: the hash match IS "compaction changes bytes-on-disk
    * layout, never content". */
  def q109IvfCompact(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q109")
    cloneIndexTo(ivfBase100Src(s, dir), path)
    (0 until 2).foreach { b =>
      graft.search.IVF.appendToIndex(s, path,
        e.filter(col("vec_id") < 100 && col("vec_id") % 4 === b),
        "vec_id", "v")
    }
    require(graft.search.IVF.listFileCounts(path).values.max >= 2,
      "q109: append batches must fragment the lists")
    graft.search.IVF.compactIndex(s, path)
    require(graft.search.IVF.listFileCounts(path).values.forall(_ == 1),
      "q109: compaction must restore one file per list")
    // the GRACE WINDOW is live state, not a comment: the superseded
    // base generation must survive exactly one compaction cycle for
    // readers that resolved the pointer just before the flip ...
    require(new java.io.File(s"$path/lists").isDirectory,
      "q109: first compaction must keep the superseded generation")
    (2 until 4).foreach { b =>
      graft.search.IVF.appendToIndex(s, path,
        e.filter(col("vec_id") < 100 && col("vec_id") % 4 === b),
        "vec_id", "v")
    }
    require(graft.search.IVF.listFileCounts(path).values.max >= 2,
      "q109: the live generation must absorb post-compaction appends")
    graft.search.IVF.compactIndex(s, path)
    // ... and the SECOND cycle retires it while the first compacted
    // generation becomes the new grace window — the full
    // fragment → compact → re-fragment → compact → GC lifecycle under
    // the oracle (searches stay green throughout; the hash match
    // proves no append or swap lost a row)
    require(!new java.io.File(s"$path/lists").isDirectory,
      "q109: a generation two cycles old must be GC'd")
    require(new java.io.File(s"$path/lists__v2").isDirectory,
      "q109: the immediately superseded generation must survive as grace")
    require(graft.search.IVF.listFileCounts(path).values.forall(_ == 1),
      "q109: second compaction must restore one file per list")
    graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** q84's replay at a different query point: compaction must be
    * invisible to every answer, so the oracle is simply the
    * append ≡ rebuild replay over the same union corpus. */
  val q109Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 2),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** q114 knobs: exact re-rank depth and the (fixed) embedding
    * dimensionality the oracle's per-dimension CTEs unroll over. */
  val sqRerank = 40; val sqDim = 64

  /** R2 (fifth scale path): IVF with SCALAR-QUANTIZED (SQ8) lists —
    * the at-rest payload is one uint8 code per dimension packed into
    * a BINARY column (8× smaller than the double lists; the dominant
    * bytes at 100 TB), candidates are ADC-scored through the fused
    * codegen'd kernel over the cid-pruned partitions, and the top
    * [[sqRerank]] approximate candidates are re-scored EXACTLY from
    * the full-precision embeddings table (the two-tier
    * quantize-then-refine serving layout; FAISS
    * `IndexIVFScalarQuantizer` + refine — the reference stores full
    * float32 in every index, `src/pipeline/pipeline.py:126-134`).
    * Same query point as q45/q59 so all five ANN paths (LSH / IVF /
    * PQ / SQ) and the exact scan are directly comparable. Build and
    * search are deterministic functions of content, so the oracle
    * replays the ENTIRE chain — bounds, codes, ADC ordering, re-rank
    * — in SQL; the hash match certifies the quantized index returns
    * exactly what the replay says it must. */
  def q114AnnSq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.SQ.searchIndex(s, sqIndexPath(s, dir), e, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  val q114Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM e, (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT a.vec_id, a.cid,
           list_transform(generate_series(1, $sqDim), d ->
             CASE WHEN hi[d] = lo[d] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[d] - lo[d]) * 255.0 / (hi[d] - lo[d]), 0))) AS INT) END) AS code
         FROM a, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), d ->
             lo[d] + code[d] * ((hi[d] - lo[d]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** Clamped-element fraction past which the SQ index needs fresh
    * bounds: 2% of out-of-range mass distorts the edge codes enough
    * to matter, while in-distribution appends sit well under it. */
  val sqClampThreshold = 0.02

  /** THE SQ8 MAINTENANCE LIFECYCLE under the oracle — build → append
    * → drift trips the requant trigger → fresh-bounds rebuild →
    * serve (the q84/q96/q109 discipline applied to the SQ8 ANN
    * path, whose twist is that the BOUNDS are index geometry): an
    * in-distribution delta appends under the standing bounds with
    * ~zero clamped mass (the require pins the trigger's quiet side),
    * then a drifted delta — the newest vectors shifted by +1.0, a
    * recalibrated embedder's systematic offset, a range the standing
    * quantizer never saw (an offset, unlike a scale factor, clamps at
    * EVERY corpus size — wider corpora have wider min/max bounds that
    * absorb multiplicative drift) — lands mostly OUT of [lo, hi], the
    * clamped fraction crosses [[sqClampThreshold]] (the require
    * makes the trigger input part of the gate), and the index
    * re-quantizes from the full-precision source of truth (codes are
    * lossy; an SQ index can never re-derive itself — requantization
    * is always a source-table rebuild, which is why the source stays
    * the system of record). File discipline gates fragmentation
    * (appends land new files per touched list) and restoration (the
    * rebuild is one file per list). Round 16 grows the DELETE leg: a
    * forget request lands before the requant, and because the rebuild
    * sources from the corpus table — which knows nothing about the
    * sidecar — a raw rebuild would resurrect the forgotten ids.
    * [[graft.search.SQ.rebuildIndex]] anti-joins the standing sidecar
    * out of the rebuild input; an in-query gate proves the rebuilt
    * lists hold not one tombstoned id. The oracle replays the ENTIRE
    * post-requant state — union corpus with the scaled delta MINUS
    * the forgotten ids, fresh bounds, codes, probe, ADC ordering,
    * exact re-rank — so the hash match certifies requantization
    * reproduces exactly the clean build over the drifted,
    * delete-filtered corpus. */
  /** q192's staged feed: doc-quartile files like q187's, with
    * quartile 2 ([50,75)) DRIFTED (+1.0 per element) so the drain's
    * third batch trips the requant trigger mid-stream. Explicit
    * value predicates — the oracle needs the drift membership and
    * the requant boundary as pure SQL. */
  private def q192Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q192_stage") {
      val p = PipelineQueries.roundtripPath(dir, "q192_feed")
      graft.FileTree.delete(new java.io.File(p))
      val e = emb(s, dir).filter(col("vec_id") < 100)
      def partFiles(): Set[java.io.File] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).toSet
      val written = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      (0 until 4).foreach { b =>
        val before = partFiles()
        val q = e.filter(col("vec_id") >= b * 25 && col("vec_id") < (b + 1) * 25)
        val out = if (b == 2)
          q.select(col("vec_id"), transform(col("v"), x => x + lit(1.0)).as("v"))
        else q.select(col("vec_id"), col("v"))
        out.coalesce(1).write.mode("append").parquet(p)
        val fresh = (partFiles() -- before).toSeq.sortBy(_.getName)
        require(fresh.size == 1, s"q192 stage batch $b wrote ${fresh.size} files")
        written ++= fresh
      }
      PipelineQueries.pinAscendingMtimes(written.toSeq)
      p
    }

  /** REQUANTIZATION UNDER LIVE INGEST — the last cell of the
    * (upgrade × ingest) matrix (IVF q187, lexical q191, graph q120's
    * mid-drain routing retrain; the quantized family's "upgrade" is
    * the drift-triggered requant, and q121 runs it on a QUIET index):
    * the base corpus serves from an SQ8 index while four micro-
    * batches drain through [[graft.search.SQ.appendToIndexIdempotent]].
    * Batches 0–1 are in-distribution (clamp fraction under the
    * threshold, require-pinned); batch 2 is DRIFTED (+1.0 per
    * element — out-of-range mass trips the trigger, require-pinned)
    * and the caller answers with [[graft.search.SQ.rebuildIndex]]
    * MID-DRAIN: fresh bounds and centroids from the full-precision
    * corpus-so-far, CREATE semantics, ledger PRESERVED (the
    * maintenance contract). The drain then RE-DELIVERS batch 1 —
    * committed BEFORE the requant — and the preserved ledger makes
    * it a no-op (clamp 0.0, lists untouched): the end-to-end declared
    * witness that a model-maintenance rebuild cannot turn a stream
    * re-delivery into silent duplication. Batch 3 quantizes under the
    * POST-REQUANT geometry and appends. Gates: the final code lists
    * equal ONE quantization of the whole (drifted) union under the
    * standing geometry, byte for byte. Oracle: q121's shape — exact
    * re-ranked serving replayed with the centroid sample cut at the
    * requant boundary (base + batches 0–2, batch 2 drifted). */
  def q192SqRequantUnderIngest(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q192")
    cloneIndexTo(sqBase100Src(s, dir), path)
    // the full corpus as the drain leaves it: [50,75) drifted
    def u = e.select(col("vec_id"),
      when(col("vec_id") >= 50 && col("vec_id") < 75,
        transform(col("v"), x => x + lit(1.0))).otherwise(col("v")).as("v"))
    val stage = q192Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var b1Frame: DataFrame = null
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val b = batch.select(col("vec_id"), col("v")).localCheckpoint()
      if (bid == 1L) b1Frame = b
      val f = graft.search.SQ.appendToIndexIdempotent(
        s, path, b, "vec_id", "v", bid)
      if (bid <= 1L || bid == 3L) require(f <= sqClampThreshold,
        s"q192: in-distribution batch $bid must not trip requant (clamped $f)")
      if (bid == 2L) {
        require(f > sqClampThreshold,
          s"q192: the drifted batch must trip requant (clamped $f)")
        // the REQUANT, mid-drain: fresh geometry from the corpus so
        // far (base + batches 0-2, batch 2 drifted), ledger preserved
        graft.search.SQ.rebuildIndex(
          u.filter(col("vec_id") >= 100 || col("vec_id") < 75),
          "vec_id", "v", ivfK, path)
        require(graft.search.IVF.listFileCounts(path).values.forall(_ == 1),
          "q192: requantization must restore one file per list")
        // the ledger-preservation witness: batch 1 (committed before
        // the requant) re-delivers AFTER it — the preserved marker
        // makes it a no-op instead of a double-append over a rebuild
        // that already re-quantized its vectors
        val n0 = s.read.parquet(graft.search.IVF.listsPath(path)).count()
        val fDup = graft.search.SQ.appendToIndexIdempotent(
          s, path, b1Frame, "vec_id", "v", 1L)
        require(fDup == 0.0 &&
            s.read.parquet(graft.search.IVF.listsPath(path)).count() == n0,
          "q192: a committed batch re-delivered across the requant " +
            "must be a no-op — the requant wiped the ledger")
      }
    })
    // the composed gate: final lists ≡ one quantization of the whole
    // drifted union under the post-requant geometry
    val cents = s.read.parquet(s"$path/centroids")
    val ba = graft.search.SQ.boundsArrays(s.read.parquet(s"$path/bounds"))
    val uDf = u.localCheckpoint()
    val streamed = s.read.parquet(graft.search.IVF.listsPath(path))
      .select(col("id"), col("code"), col("cid").cast("long").as("cid"))
    val expected = graft.search.SQ.quantized(uDf, "vec_id", "v", cents, ba)
      .select(col("id"), col("code"), col("cid").cast("long").as("cid"))
    require(Gates.sameRows(streamed, expected),
      "q192: requant-under-ingest must equal the clean quantization " +
        "of the union byte for byte")
    graft.search.SQ.searchIndex(s, path, uDf, "vec_id", "v",
      uDf.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** q192's replay: the drifted union, centroids LCG-rank-sampled
    * from the REQUANT-TIME corpus only (vec_id ≥ 100 OR < 75, with
    * [50,75) drifted), assignment over everything, probe + exact
    * top-k (the served scores are exact via the re-rank, so the
    * oracle needs no quantization model — q121's argument). */
  lazy val q192Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       u AS (SELECT vec_id, CASE WHEN vec_id >= 50 AND vec_id < 75
               THEN list_transform(v, x -> x + 1.0) ELSE v END AS v FROM e),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM u WHERE vec_id >= 100 OR vec_id < 75) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT u.vec_id, u.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY u.vec_id
               ORDER BY list_dot_product(u.v, c.cvec) DESC, c.cid) AS r
           FROM u, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM u WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  def q121SqAppend(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q121")
    cloneIndexTo(sqBase100Src(s, dir), path)
    val f1 = graft.search.SQ.appendToIndex(s, path,
      e.filter(col("vec_id") >= 50 && col("vec_id") < 100), "vec_id", "v")
    require(f1 <= sqClampThreshold,
      s"q121: in-distribution delta must not trip requant (clamped $f1)")
    val drift = e.filter(col("vec_id") < 50)
      .select(col("vec_id"), transform(col("v"), x => x + lit(1.0)).as("v"))
    val f2 = graft.search.SQ.appendToIndex(s, path, drift, "vec_id", "v")
    require(f2 > sqClampThreshold,
      s"q121: the out-of-range delta must trip requant (clamped $f2)")
    require(graft.search.IVF.listFileCounts(path).values.max >= 2,
      "q121: appends must land as new files per touched list")
    // THE DELETE LEG (round-16): a right-to-be-forgotten request
    // lands BEFORE the drift-triggered requant — the exact
    // composition where a source-table rebuild would silently
    // resurrect the forgotten ids (the requant sources from the
    // corpus, which knows nothing about the sidecar). rebuildIndex
    // captures the standing sidecar and anti-joins it out of the
    // rebuild input, so the fresh geometry is derived from — and the
    // fresh codes written over — the corpus WITHOUT them.
    val u = e.filter(col("vec_id") >= 50).select(col("vec_id"), col("v"))
      .unionByName(drift)
    val doomed = u.filter(col("vec_id") % 17 === 3 && col("vec_id") =!= 2)
      .select(col("vec_id").as("id")) // SQ lists carry idCol "id"
    val nDel = graft.search.IVF.deleteFromIndex(s, path, doomed, "id", countPresent = true)
    require(nDel > 0, "q121: the delete request must hit the live index")
    graft.search.SQ.rebuildIndex(u, "vec_id", "v", ivfK, path)
    require(graft.search.IVF.listFileCounts(path).values.forall(_ == 1),
      "q121: requantization must restore one file per list")
    // forgotten stays forgotten THROUGH the requant: the rebuilt
    // lists must not hold a single tombstoned id (physical absence,
    // not a sidecar hide — the fresh index has no sidecar)
    require(s.read.parquet(graft.search.IVF.listsPath(path))
        .join(doomed, Seq("id"), "left_semi").isEmpty,
      "q121: requantization resurrected tombstoned ids")
    val live = u.filter(!(col("vec_id") % 17 === 3 && col("vec_id") =!= 2))
    graft.search.SQ.searchIndex(s, path, live, "vec_id", "v",
      e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  val q121Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       u AS (SELECT vec_id, v FROM e WHERE vec_id >= 50
             UNION ALL
             SELECT vec_id, list_transform(v, x -> x + 1.0) AS v FROM e WHERE vec_id < 50),
       u2 AS (SELECT vec_id, v FROM u
              WHERE NOT (vec_id % 17 = 3 AND vec_id <> 2)),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM u2) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT u2.vec_id, u2.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY u2.vec_id
               ORDER BY list_dot_product(u2.v, c.cvec) DESC, c.cid) AS r
           FROM u2, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 2),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM u2, (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT a.vec_id, a.cid,
           list_transform(generate_series(1, $sqDim), d ->
             CASE WHEN hi[d] = lo[d] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[d] - lo[d]) * 255.0 / (hi[d] - lo[d]), 0))) AS INT) END) AS code
         FROM a, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), d ->
             lo[d] + code[d] * ((hi[d] - lo[d]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT u2.vec_id, list_dot_product(u2.v, q.qv) AS sc
              FROM u2 JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** S5 COMPACTION ON THE SQ8 INDEX — q109's
    * fragment → compact → re-fragment → compact → GC lifecycle
    * applied to the quantized-list layout (the gap q128's streaming
    * drain exposes: every drained batch lands one file per touched
    * cid, and SQ8 had no repair op). The machinery is literally
    * [[graft.search.IVF.compactIndex]]: the SQ list layout
    * (cid-partitioned parquet + small sidecars) is identical by
    * design, so the same staged `lists__vN` generation + atomic
    * CURRENT flip + one-cycle grace window + GC applies unchanged —
    * bounds and centroids are index GEOMETRY and never move during
    * compaction. Gates mirror q109 (fragmentation observed, one file
    * per list restored, grace survives one cycle, GC after two) plus
    * the SQ-specific quiet side of the requant trigger (appends stay
    * under the clamp threshold). The oracle replays the straight-line
    * build: base-trained centroids AND bounds, every append quantized
    * under the STANDING bounds, ADC + exact re-rank — the hash match
    * IS "compaction moves bytes, never content" on the lossy
    * layout. */
  def q133SqCompact(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q133")
    cloneIndexTo(sqBase100Src(s, dir), path)
    def appendBatch(b: Int): Unit = {
      val f = graft.search.SQ.appendToIndex(s, path,
        e.filter(col("vec_id") < 100 && col("vec_id") % 4 === b), "vec_id", "v")
      require(f <= sqClampThreshold,
        s"q133: in-distribution append must stay under requant (clamped $f)")
    }
    (0 until 2).foreach(appendBatch)
    require(graft.search.IVF.listFileCounts(path).values.max >= 2,
      "q133: appends must fragment the quantized lists")
    graft.search.IVF.compactIndex(s, path)
    require(graft.search.IVF.listFileCounts(path).values.forall(_ == 1),
      "q133: compaction must restore one file per list")
    require(new java.io.File(s"$path/lists").isDirectory,
      "q133: first compaction must keep the superseded generation")
    (2 until 4).foreach(appendBatch)
    require(graft.search.IVF.listFileCounts(path).values.max >= 2,
      "q133: the live generation must absorb post-compaction appends")
    graft.search.IVF.compactIndex(s, path)
    require(!new java.io.File(s"$path/lists").isDirectory,
      "q133: a generation two cycles old must be GC'd")
    require(new java.io.File(s"$path/lists__v2").isDirectory,
      "q133: the immediately superseded generation must survive as grace")
    require(graft.search.IVF.listFileCounts(path).values.forall(_ == 1),
      "q133: second compaction must restore one file per list")
    graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** q114's replay with base-slice geometry (centroids AND bounds
    * from vec_id >= 100 — appends quantize under the standing
    * bounds, clamped at the edges exactly as the engine clamps). */
  val q133Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e WHERE vec_id >= 100) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 2),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM e, (SELECT UNNEST(generate_series(1, $sqDim)) AS d)
             WHERE vec_id >= 100 GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT a.vec_id, a.cid,
           list_transform(generate_series(1, $sqDim), d ->
             CASE WHEN hi[d] = lo[d] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[d] - lo[d]) * 255.0 / (hi[d] - lo[d]), 0))) AS INT) END) AS code
         FROM a, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), d ->
             lo[d] + code[d] * ((hi[d] - lo[d]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** The multi-query serving query set: three corpus vectors as
    * queries — enough to exercise distinct probe sets while the
    * probe table stays driver-trivial. */
  private val multiQids = Seq(1L, 2L, 3L)

  /** The multi-query lexical workload: per-qid term sets (terms from
    * the synthetic corpus's stable vocabulary so every SF has
    * matches). qids mirror [[multiQids]] so the hybrid q150 pairs the
    * legs. Lives HERE, not in Queries (the q-catalog layering rule):
    * q150Sql below interpolates it during THIS object's init, and a
    * cross-catalog read at init time deadlocks the <clinit> cycle. */
  private[graft] val bm25MultiQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "hash", "join"),
    2L -> Seq("vector", "scan", "filter"),
    3L -> Seq("stream", "batch", "merge"))

  private def multiQueries(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("vec_id").isin(multiQids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))

  /** MULTI-QUERY SERVING FROM THE PERSISTED IVF INDEX — the serving
    * asymmetry the graph path closed in round 9
    * ([[graft.search.GraphAnn.searchIndexMulti]]) applied to IVF:
    * [[graft.search.IVF.searchIndex]] reads the at-rest lists once
    * PER QUERY; a serving tier answering a query batch should read
    * them ONCE, with the scan filtered to the union of every query's
    * probed cells (a static cid partition filter — PlanSpec asserts
    * unprobed list directories never leave disk) and per-query top-k
    * through the bounded heap. Serves from the SAME persisted index
    * artifact q45/q48/q54 ride (`_build_ivf_index`); the oracle is
    * q45's chain with per-qid windows. */
  def q134IvfMulti(s: SparkSession, dir: String): DataFrame = {
    require(multiQids == Seq(1L, 2L, 3L),
      "q134Sql/q135Sql literal qids are out of sync with multiQids")
    val path = persistedListsPath(s, dir, "ivf_idx0", ivfCents0(s, dir))
    graft.search.IVF.searchIndexMulti(s, path, "vec_id", "v",
      multiQueries(s, dir), "qid", "qv", 10, ivfProbe)
      .orderBy("qid", "rank")
  }

  val q134Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
       pr AS (SELECT qid, cid, qv FROM (
           SELECT q.qid, c.cid, q.qv,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT pr.qid, a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT qid, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
               ROUND(sc, 6) AS score FROM sc)
       SELECT qid, vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY qid, rank"""

  /** The shared at-rest SQ8 index over the full corpus (the q114
    * build, persisted once per session × corpus and charged to
    * `_build_sq_index`) — the artifact q135 serves from. */
  private def sqIndexPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "sq_idx0") {
      val p = PipelineQueries.roundtripPath(dir, "sq_idx0")
      graft.search.SQ.writeIndex(emb(s, dir), "vec_id", "v", ivfK, p)
      p
    }

  /** MULTI-QUERY SERVING FROM THE PERSISTED SQ8 INDEX — q134's one
    * scan-per-batch contract on the quantized two-tier layout: one
    * union-pruned ADC scan scores every query's candidates through
    * the fused kernel, per-query top-[[sqRerank]] off the bounded
    * heap, then ONE exact point-fetch (the union of candidate ids as
    * an In predicate on the source scan) re-scores full-precision
    * before the per-query top-k. Oracle: q114's chain with per-qid
    * windows. */
  def q135SqMulti(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.SQ.searchIndexMulti(s, sqIndexPath(s, dir), e, "vec_id", "v",
      multiQueries(s, dir), "qid", "qv", 10, ivfProbe, sqRerank)
      .orderBy("qid", "rank")
  }

  val q135Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
       pr AS (SELECT qid, cid, qv FROM (
           SELECT q.qid, c.cid, q.qv,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM e, (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT a.vec_id, a.cid,
           list_transform(generate_series(1, $sqDim), d ->
             CASE WHEN hi[d] = lo[d] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[d] - lo[d]) * 255.0 / (hi[d] - lo[d]), 0))) AS INT) END) AS code
         FROM a, bl),
       ad AS (SELECT pr.qid, cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), d ->
             lo[d] + code[d] * ((hi[d] - lo[d]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT qid, vec_id FROM (
           SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS r
           FROM ad) WHERE r <= $sqRerank),
       sc AS (SELECT qid, vec_id, list_dot_product(v, qv) AS sc
              FROM e JOIN cand USING (vec_id) JOIN q USING (qid)),
       r AS (SELECT qid, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
               ROUND(sc, 6) AS score FROM sc)
       SELECT qid, vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY qid, rank"""

  // ---------- q141: embedder-upgrade reindex lifecycle ----------

  /** EMBEDDER UPGRADE — the one lifecycle event every other
    * maintenance op (append q84, refresh q96, compact q109, requant
    * q121) assumes away: the EMBEDDER ITSELF changes, every vector
    * in the corpus must be re-derived, and the at-rest index must
    * swap to the new geometry without a serving gap. The codes
    * cannot re-derive themselves (the q121 lesson, one level up):
    * the rebuild sources from the TEXT — the full-precision truth —
    * re-embeds under the v2 featurizer, and stages a complete
    * (centroids, lists) generation which [[graft.search.IVF
    * .writeIndexFrom]] commits with the atomic CURRENT flip. A
    * reader that pinned the pre-upgrade generation KEEPS SERVING the
    * v1 snapshot through the grace window — witnessed here by
    * running the pinned v1 search AFTER the flip — while new readers
    * resolve the pointer and serve v2. Output is both serves under a
    * phase column, BOTH legs fully oracled: the v2 "upgrade" is the
    * same portable featurizer over version-prefixed text ('v2 ' ||
    * text) — deterministic, genuinely different vectors, and exactly
    * SQL-replayable, the [[graft.embed.Embedder]] trait's slot for a
    * real model swap. Reference analogy: swapping the
    * SentenceTransformer checkpoint under `src/pipeline/pipeline
    * .py:80-104` invalidates the FAISS index wholesale — the
    * reference would rebuild and atomically... restart; this is that
    * event made a zero-downtime index lifecycle op. */
  def q141EmbedderUpgrade(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents")
    def feats(df: org.apache.spark.sql.DataFrame) =
      graft.embed.Embed.embedDocs(df, "doc_id", "text",
          new graft.embed.PortableHashEmbedder(64))
        .select(col("doc_id"), col("vec").cast("array<double>").as("v"))
        .localCheckpoint()
    val v1 = feats(d)
    val path = PipelineQueries.roundtripPath(dir, "q141")
    graft.search.IVF.writeIndex(v1, "doc_id", "v", ivfK, 0, path)
    val pin = graft.search.IVF.currentGeneration(path)
    val q1 = v1.filter(col("doc_id") === 1).select(col("v").as("qv"))
    // THE DELETE LEG (round-16): a forget request lands BEFORE the
    // upgrade — the composition where a corpus-sourced rebuild would
    // silently resurrect the forgotten ids, because the corpus table
    // knows nothing about the live generation's sidecar. writeIndexFrom
    // anti-joins the standing sidecar into the staged lists, so the
    // flipped v2 generation physically lacks them (gated below), and
    // the PINNED v1 serve keeps hiding them through its own sidecar —
    // both serves agree: forgotten stays forgotten across the upgrade.
    val doomed = d.filter(col("doc_id") % 7 === 3 && col("doc_id") =!= 1)
      .select(col("doc_id"))
    require(graft.search.IVF.deleteFromIndex(s, path, doomed, "doc_id", countPresent = true) > 0,
      "q141: the delete request must hit the live index")
    // THE UPGRADE: re-embed from text under v2, staged generation +
    // atomic flip (writeIndexFrom's live-rebuild path)
    val v2 = feats(d.select(col("doc_id"),
      concat(lit("v2 "), col("text")).as("text")))
    val c2 = graft.search.IVF.centroids(v2, "doc_id", "v", ivfK)
    graft.search.IVF.writeIndexFrom(c2,
      graft.search.IVF.assign(v2, "doc_id", "v", c2), path)
    require(graft.search.IVF.currentGeneration(path) != pin,
      "q141: the upgrade must commit a new generation through the CURRENT flip")
    require(s.read.parquet(graft.search.IVF.listsPath(path))
        .join(doomed, Seq("doc_id"), "left_semi").isEmpty,
      "q141: the upgrade resurrected tombstoned ids")
    val q2 = v2.filter(col("doc_id") === 1).select(col("v").as("qv"))
    // pinned v1 serve AFTER the flip (snapshot isolation across the
    // upgrade) UNION the current v2 serve (the upgraded geometry)
    graft.search.IVF.searchIndexPinned(s, path, pin, "doc_id", "v",
        q1, "qv", 10, ivfProbe)
      .withColumn("phase", lit("pinned_v1"))
      .unionAll(
        graft.search.IVF.searchIndex(s, path, "doc_id", "v",
            q2, "qv", 10, ivfProbe)
          .withColumn("phase", lit("current_v2")))
      .select(col("phase"), col("doc_id"), col("rank"), col("score"))
      .orderBy("phase", "rank")
  }

  /** EXACTLY-ONCE QUANTIZED INGEST — q185's at-least-once drain on
    * the SQ8 index (completing the exactly-once matrix on the oracled
    * families: IVF q185, lexical q186, register q188, SQ8 here; the
    * graph family is spec-pinned — ExactlyOnceSpec's ledger-skip and
    * crash-convergence cases — because its build is not
    * SQL-expressible). Every batch is delivered twice through
    * [[graft.search.SQ.appendToIndexIdempotent]]; batch 1 starts over
    * crash debris, batch 2's re-delivery arrives with its marker
    * deleted. The SQ twist rides along: the duplicate delivery
    * returns clamp fraction 0.0 (its first delivery already fed the
    * requant trigger — re-counting would double-charge the drift
    * signal), require-pinned per batch. Gates: q128's row-for-row
    * code-list equality against ONE quantization of the union under
    * the standing geometry; oracle: q128's SQL replay verbatim. */
  def q189SqExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q189")
    cloneIndexTo(sqBase100Src(s, dir), path)
    Drains.exactlyOnce(s, "q189", embDeltaStage(s, dir),
        PipelineQueries.roundtripPath(dir, "q189_ckpt"),
        graft.search.IVF.appendLedger(path),
        Some(() => new java.io.File(path))) { (batch, bid) =>
      val b = batch.select(col("vec_id"), col("v")).localCheckpoint()
      redelivery => {
        val f = graft.search.SQ.appendToIndexIdempotent(
          s, path, b, "vec_id", "v", bid)
        if (!redelivery) require(f <= sqClampThreshold,
          s"q189: in-distribution batch must not trip requant (clamped $f)")
        // the marker-hit duplicate must not re-charge the drift
        // signal; batch 2's replay re-runs fully and reports its real
        // fraction
        else if (bid != 2L) require(f == 0.0,
          s"q189: a committed duplicate must report clamp 0.0, got $f")
      }
    }
    val cents = s.read.parquet(s"$path/centroids")
    val ba = graft.search.SQ.boundsArrays(s.read.parquet(s"$path/bounds"))
    val streamed = s.read.parquet(s"$path/lists")
      .select(col("id"), col("code"), col("cid").cast("long").as("cid"))
    val expected = graft.search.SQ.quantized(e, "vec_id", "v", cents, ba)
      .select(col("id"), col("code"), col("cid").cast("long").as("cid"))
    require(Gates.sameRows(streamed, expected),
      "q189: the exactly-once drain must equal the batch quantization " +
        "byte for byte — a doubled code is a silent duplication")
    graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
      .orderBy("rank")
  }

  /** q187's staged feed: doc_id < 100 as four EXPLICIT quarter files
    * ([0,25), [25,50), [50,75), [75,100)) with pinned ascending
    * mtimes — value-predicate splits (not repartitionByRange's
    * sampled boundaries), because the oracle needs the upgrade
    * boundary as a pure SQL predicate: batches 0–1 ≡ doc_id < 50. */
  private[graft] def q187Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q187_stage") {
      val p = PipelineQueries.roundtripPath(dir, "q187_feed")
      graft.FileTree.delete(new java.io.File(p))
      val d = graft.sources.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      def partFiles(): Set[java.io.File] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).toSet
      val written = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      (0 until 4).foreach { b =>
        val before = partFiles()
        d.filter(col("doc_id") >= b * 25 && col("doc_id") < (b + 1) * 25)
          .coalesce(1).write.mode("append").parquet(p)
        val fresh = (partFiles() -- before).toSeq.sortBy(_.getName)
        require(fresh.size == 1, s"q187 stage batch $b wrote ${fresh.size} files")
        written ++= fresh
      }
      PipelineQueries.pinAscendingMtimes(written.toSeq)
      p
    }

  /** EMBEDDER UPGRADE UNDER LIVE INGEST — the composition q141 leaves
    * open (its upgrade runs on a quiet index; production model swaps
    * happen while the ingest stream keeps flowing): the base corpus
    * (doc_id ≥ 100) serves from a v1-featurized IVF index while the
    * < 100 slice drains in four ordered micro-batches. Batches 0–1
    * embed with v1 and append; after batch 1 the UPGRADE fires —
    * re-embed everything ingested so far (base + batches 0–1 ≡
    * doc_id ≥ 100 OR < 50) from TEXT under the v2 featurizer, fresh
    * centroids, [[graft.search.IVF.writeIndexFrom]]'s staged
    * generation + atomic flip; batches 2–3 then embed with v2 and
    * append INTO THE FLIPPED GENERATION (the append resolves the
    * live quantizer per batch, so post-upgrade ingest assigns under
    * the new geometry automatically). The composed claim, gated
    * row-for-row and carried by the oracle: drain + mid-drain
    * upgrade + post-upgrade drain ≡ ONE clean v2 build whose
    * quantizer was sampled from the upgrade-time corpus — as if the
    * model had always been v2 and the stream had never stopped
    * (which it didn't). */
  def q187UpgradeUnderIngest(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents")
    def feats(df: org.apache.spark.sql.DataFrame) =
      graft.embed.Embed.embedDocs(df, "doc_id", "text",
          new graft.embed.PortableHashEmbedder(64))
        .select(col("doc_id"), col("vec").cast("array<double>").as("v"))
    def v2text(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"))
    val path = PipelineQueries.roundtripPath(dir, "q187")
    graft.search.IVF.writeIndex(feats(d.filter(col("doc_id") >= 100)),
      "doc_id", "v", ivfK, 0, path)
    val genBefore = graft.search.IVF.currentGeneration(path)
    val stage = q187Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val b = batch.localCheckpoint()
      // pre-upgrade batches embed with v1, post-upgrade with v2 — the
      // recipe swaps the featurizer at the same moment it flips the
      // index, never mixing feature spaces within a generation
      graft.search.IVF.appendToIndex(s, path,
        feats(if (bid <= 1L) b else v2text(b)), "doc_id", "v")
      if (bid == 1L) {
        // THE UPGRADE, mid-drain: everything ingested so far,
        // re-featurized from text under v2; fresh geometry; staged
        // generation; atomic CURRENT flip. The stream never pauses —
        // batch 2 is already staged behind this callback.
        val upCorpus = feats(v2text(
          d.filter(col("doc_id") >= 100 || col("doc_id") < 50)))
          .localCheckpoint()
        val c2 = graft.search.IVF.centroids(upCorpus, "doc_id", "v", ivfK)
        graft.search.IVF.writeIndexFrom(c2,
          graft.search.IVF.assign(upCorpus, "doc_id", "v", c2), path)
      }
    })
    require(graft.search.IVF.currentGeneration(path) != genBefore,
      "q187: the mid-drain upgrade must commit a new generation")
    // the composed gate: final lists ≡ one v2 assignment of the FULL
    // corpus under the upgrade-time quantizer, row for row
    val cents = s.read.parquet(graft.search.IVF.centroidsPath(path))
    val allV2 = feats(v2text(d)).localCheckpoint()
    val streamed = s.read.parquet(graft.search.IVF.listsPath(path))
      .select(col("doc_id"), col("v"), col("cid").cast("long").as("cid"))
    val expected = graft.search.IVF.assign(allV2, "doc_id", "v", cents)
      .select(col("doc_id"), col("v"), col("cid").cast("long").as("cid"))
    require(Gates.sameRows(streamed, expected),
      "q187: upgrade-under-ingest must equal the clean v2 build row for row")
    graft.search.IVF.searchIndex(s, path, "doc_id", "v",
      allV2.filter(col("doc_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
      .orderBy("rank")
  }

  /** q187's replay: v2 features over the whole corpus, centroids
    * LCG-rank-sampled from the UPGRADE-TIME corpus only (doc_id ≥ 100
    * OR < 50 — base plus the two pre-upgrade batches), assignment
    * over everything, probe + top-k for the v2 query — q84's shape
    * with the quantizer cut at the upgrade boundary. */
  lazy val q187Sql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       ${graft.RetrievalQueries.embedCteSql("base", "'v2 ' || text", 64, "w")},
       wxs AS (SELECT doc_id, list(x ORDER BY j) AS v FROM wvf GROUP BY doc_id),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648, doc_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM wxs WHERE doc_id >= 100 OR doc_id < 50) WHERE cid < $ivfK),
       a AS (SELECT doc_id, v, cid FROM (
           SELECT x.doc_id, x.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.doc_id
               ORDER BY list_dot_product(x.v, c.cvec) DESC, c.cid) AS r
           FROM wxs x, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM wxs WHERE doc_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT a.doc_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       r AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT doc_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** Both legs replayed end to end: features from the portable
    * embed CTE (v2's text is "'v2 ' || text"), then q45's
    * centroid/assign/probe/top-k chain per leg. Both legs exclude
    * the forgotten set (doc_id % 7 = 3) at the candidate-scoring
    * stage — the pinned v1 leg because its sidecar hides them, the
    * current v2 leg because writeIndexFrom's anti-join made them
    * physically absent; centroids per leg still derive from the
    * full corpus, because deletion never changes geometry. */
  lazy val q141Sql: String = {
    def leg(p: String, textExpr: String, phase: String): String =
      s"""${graft.RetrievalQueries.embedCteSql("base", textExpr, 64, p)},
       ${p}xs AS (SELECT doc_id, list(x ORDER BY j) AS v FROM ${p}vf GROUP BY doc_id),
       ${p}c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648, doc_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM ${p}xs) WHERE cid < $ivfK),
       ${p}a AS (SELECT doc_id, v, cid FROM (
           SELECT x.doc_id, x.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.doc_id
               ORDER BY list_dot_product(x.v, c.cvec) DESC, c.cid) AS r
           FROM ${p}xs x, ${p}c c) WHERE r = 1),
       ${p}q AS (SELECT v AS qv FROM ${p}xs WHERE doc_id = 1),
       ${p}pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM ${p}c c, ${p}q q) WHERE r <= $ivfProbe),
       ${p}sc AS (SELECT a.doc_id, list_dot_product(a.v, pr.qv) AS sc
           FROM ${p}a a JOIN ${p}pr pr ON a.cid = pr.cid
           WHERE a.doc_id % 7 <> 3 OR a.doc_id = 1),
       ${p}r AS (SELECT '$phase' AS phase, doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS rank,
           ROUND(sc, 6) AS score FROM ${p}sc)"""
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       ${leg("u1", "text", "pinned_v1")},
       ${leg("u2", "'v2 ' || text", "current_v2")}
       SELECT phase, doc_id, rank, score FROM u1r WHERE rank <= 10
       UNION ALL
       SELECT phase, doc_id, rank, score FROM u2r WHERE rank <= 10
       ORDER BY phase, rank"""
  }

  /** q193's drain boundary: the graph append contract requires
    * monotonically GROWING ids (insertion order is graph content), so
    * unlike q187 the delta must sit ABOVE the base — the top 100 doc
    * ids drain while everything below them serves as the base. */
  private def q193Cut(s: SparkSession, dir: String): Long =
    Memo.cachedCount(s, dir, "q193_cut") {
      graft.sources.Tables.load(s, dir, "documents")
        .agg(max(col("doc_id"))).head().getLong(0) - 99L
    }

  /** q193's staged feed: the top-100 doc ids as four EXPLICIT quarter
    * files with pinned ascending mtimes (the q187Stage shape, cut at
    * [[q193Cut]] so batch ids grow past the base). */
  private[graft] def q193Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q193_stage") {
      val cut = q193Cut(s, dir)
      val p = PipelineQueries.roundtripPath(dir, "q193_feed")
      graft.FileTree.delete(new java.io.File(p))
      val d = graft.sources.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      def partFiles(): Set[java.io.File] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).toSet
      val written = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      (0 until 4).foreach { b =>
        val before = partFiles()
        d.filter(col("doc_id") >= cut + b * 25 && col("doc_id") < cut + (b + 1) * 25)
          .coalesce(1).write.mode("append").parquet(p)
        val fresh = (partFiles() -- before).toSeq.sortBy(_.getName)
        require(fresh.size == 1, s"q193 stage batch $b wrote ${fresh.size} files")
        written ++= fresh
      }
      PipelineQueries.pinAscendingMtimes(written.toSeq)
      p
    }

  /** EMBEDDER UPGRADE UNDER LIVE INGEST, GRAPH FAMILY — the last cell
    * of the (upgrade × ingest) matrix (IVF q187, lexical q191, SQ8
    * q192; the graph row q120 is a routing refresh, not a featurizer
    * swap). The base corpus serves from a v1-featurized graph index
    * while the top-100 doc slice drains in four ordered micro-batches
    * through the EXACTLY-ONCE append (every batch delivered twice —
    * the at-least-once contract — over a DURABLE checkpoint whose
    * post-drain watermark sweeps the ledger: the q185 discipline plus
    * the round-17 retirement path, both gated). Batches 0–1 embed
    * with v1 and append; after batch 1 [[graft.search.GraphAnn
    * .upgradeIndex]] fires MID-DRAIN — everything ingested so far
    * re-embedded from TEXT under v2, fresh routing trained on the new
    * space, staged generation, ordered CURRENT flip — and batches
    * 2–3 embed with v2 and append INTO THE FLIPPED GENERATION (the
    * append resolves the live pointer per batch, so post-upgrade
    * ingest routes under the new geometry automatically). The
    * composed gate: final nodes ≡ ONE clean v2 [[graft.search
    * .GraphAnn.writeIndexWith]] over the full corpus UNDER THE
    * UPGRADED ROUTING, bit for bit — as if the model had always been
    * v2 and the stream had never stopped (it didn't). Rows-only per
    * the graph ✗ discipline (construction is not SQL-expressible);
    * the bit-identity require IS the gate, GraphAnnSpec pins the
    * upgrade API's forgotten-stays-forgotten leg. */
  def q193GraphUpgradeUnderIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val d = graft.sources.Tables.load(s, dir, "documents")
    val cut = q193Cut(s, dir)
    def feats(df: DataFrame) =
      graft.embed.Embed.embedDocs(df, "doc_id", "text",
          new graft.embed.PortableHashEmbedder(64))
        .select(col("doc_id"), col("vec").cast("array<double>").as("v"))
    def v2text(df: DataFrame) =
      df.select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"))
    val path = PipelineQueries.roundtripPath(dir, "q193")
    val ckpt = PipelineQueries.roundtripPath(dir, "q193_ckpt")
    graft.FileTree.delete(new java.io.File(path))
    graft.FileTree.delete(new java.io.File(ckpt))
    val base = d.filter(col("doc_id") < cut)
    val parts = math.max(8,
      math.ceil(base.count().toDouble / graphTargetPart).toInt)
    GraphAnn.writeIndex(feats(base), "doc_id", "v", graphM, graphEf,
      parts, path)
    val genBefore = GraphAnn.currentGeneration(path)
    val ledger = GraphAnn.appendLedger(path)
    val stage = q193Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatchResumable(s, src, ckpt,
      (batch, bid) => {
        val b = batch.localCheckpoint()
        def deliver(): Unit = GraphAnn.appendToIndexIdempotent(s, path,
          feats(if (bid <= 1L) b else v2text(b)), "doc_id", "v", bid)
        deliver()
        deliver() // the at-least-once re-delivery, every batch
        if (bid == 1L) {
          // THE UPGRADE, mid-drain: everything ingested so far,
          // re-featurized from text under v2; fresh routing on the
          // new space; staged generation; ordered flip. Batch 2 is
          // already staged behind this callback — the stream never
          // pauses.
          GraphAnn.upgradeIndex(s, path,
            feats(v2text(d.filter(col("doc_id") < cut + 50))),
            "doc_id", "v", parts)
        }
      }, sweepLedgers = Seq(ledger))
    require(GraphAnn.currentGeneration(path) != genBefore,
      "q193: the mid-drain upgrade must commit a new generation")
    // the round-17 retirement gate: the drain's watermark swept every
    // committed marker — the ledger is O(live window), yet nothing
    // was re-applied (the bit-identity gate below would catch it)
    val markers = Option(ledger.listFiles()).toSeq.flatten.map(_.getName)
    require(!markers.exists(_.startsWith("b")),
      s"q193: the post-drain sweep must retire every committed marker, got $markers")
    require(!markers.exists(_.startsWith("i")),
      s"q193: no intent may survive a clean drain, got $markers")
    // the composed gate: final nodes ≡ one clean v2 build of the FULL
    // corpus under the UPGRADED routing, bit for bit — upgrade,
    // post-upgrade ingest and double deliveries all collapse to the
    // one index a never-interrupted v2 stream would have built
    val rebuilt = PipelineQueries.roundtripPath(dir, "q193_rebuild")
    GraphAnn.writeIndexWith(
      s.read.parquet(GraphAnn.tablePath(path, "routing")),
      feats(v2text(d)), "doc_id", "v", graphM, graphEf, rebuilt)
    def nodes(p: String) = GraphAnn.nodesDf(s, p)
      .select(col("part"), col("id"), col("vec"), col("nbrs"))
    require(Gates.sameRows(nodes(path), nodes(rebuilt)),
      "q193: upgrade-under-ingest must equal the clean v2 build bit for bit")
    GraphAnn.searchIndex(s, path, "doc_id",
      feats(v2text(d.filter(col("doc_id") === 1)))
        .select(col("v").as("qv")), "qv", 10, graphEf)
      .orderBy("rank")
  }

  /** R2 (third scale path): product-quantization ADC search — a
    * 16-entry codebook over 8 subspaces of 8 dims, every data vector
    * scored through its reconstruction. Same query point as q45 so
    * the five ANN paths (IVF / LSH / PQ / SQ / graph) and the exact
    * scan are directly comparable on one query. The codebook reuses the
    * rank-based LCG sample (session-memoized like the IVF
    * artifacts); PQSpec pins recall@10 vs exact. */
  val pqM = 8; val pqK = 16; val pqDim = 64
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "pq_cb")(
      graft.search.IVF.centroids(emb(s, dir), "vec_id", "v", pqK))

  /** The finer K=64 codebook for q48's PQ resolution dial —
    * the same LCG sample cut at 64 instead of [[pqK]]. */
  private def pqCodebook64(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "pq_cb64")(
      graft.search.IVF.centroids(emb(s, dir), "vec_id", "v", 64))

  def q59PqAnn(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.PQ.adcTopK(e, "vec_id", "v", pqCodebook(s, dir),
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, pqM, pqDim)
      .orderBy("rank")
  }

  /** Replays the full PQ path: codebook (same centroid CTE as q45,
    * K=16), per-(vector, subspace) argmin over dot(c,c) − 2·dot(x,c)
    * with ROW_NUMBER ties-to-lowest-cid (identical to the Spark
    * fold's strict `<`), reconstruction by flattening the chosen
    * sub-centroids in subspace order (so the final dot product runs
    * in the SAME element order as the Spark side), then top-10. */
  val q59Sql: String = {
    val sub = pqDim / pqM
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $pqK),
       sp AS (SELECT UNNEST(generate_series(0, ${pqM - 1})) AS m),
       d AS (SELECT e.vec_id, sp.m, c.cid,
               c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub] AS cm,
               list_dot_product(c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub])
                 - 2 * list_dot_product(e.v[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                        c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub]) AS dist
             FROM e, sp, c),
       b AS (SELECT vec_id, m, cm FROM (
               SELECT vec_id, m, cm,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS r
               FROM d) WHERE r = 1),
       x AS (SELECT vec_id, flatten(list(cm ORDER BY m)) AS xhat FROM b GROUP BY vec_id),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       sc AS (SELECT vec_id, list_dot_product(qv, xhat) AS sc FROM x, q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  /** R2 (composed scale path): IVF+PQ — coarse lists bound WHICH
    * vectors the query touches (nprobe/K of the corpus), PQ codes
    * bound WHAT is read per vector. Every artifact comes from the
    * session memos (coarse centroids + assignment shared with
    * q45/q48/q58, codebook shared with q59). */
  def q81IvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.PQ.ivfAdcTopK(ivfAssigned0(s, dir), ivfCents0(s, dir),
      pqCodebook(s, dir), "vec_id", "v",
      e.filter(col("vec_id") === 3).select(col("v").as("qv")), "qv",
      10, ivfProbe, pqM, pqDim)
      .orderBy("rank")
  }

  /** One LCG-ranked ordering CTE cut at 8 (coarse) and 16 (PQ
    * codebook — the memoized artifacts share the sample), q45's
    * probe + assignment replay, q59's per-subspace argmin over the
    * PROBED candidates only. */
  val q81Sql: String = {
    val sub = pqDim / pqM
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ord AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY
             ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
           v AS cvec FROM e),
       c8 AS (SELECT cid, cvec FROM ord WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c8 c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 3),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c8 c, q) WHERE r <= $ivfProbe),
       cand AS (SELECT a.vec_id, a.v FROM a JOIN pr ON a.cid = pr.cid),
       c16 AS (SELECT cid, cvec FROM ord WHERE cid < $pqK),
       sp AS (SELECT UNNEST(generate_series(0, ${pqM - 1})) AS m),
       d AS (SELECT cand.vec_id, sp.m, c.cid,
               c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub] AS cm,
               list_dot_product(c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub])
                 - 2 * list_dot_product(cand.v[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                        c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub]) AS dist
             FROM cand, sp, c16 c),
       b AS (SELECT vec_id, m, cm FROM (
               SELECT vec_id, m, cm,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS r
               FROM d) WHERE r = 1),
       x AS (SELECT vec_id, flatten(list(cm ORDER BY m)) AS xhat FROM b GROUP BY vec_id),
       sc AS (SELECT vec_id, list_dot_product(qv, xhat) AS sc FROM x, q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  /** The persisted graph-ANN index (m and efConstruction pinned;
    * part count derived from CORPUS SIZE, so the at-rest graphs are
    * environment-independent yet stay segment-sized), built once per
    * (session, dir-content) under `_build_graph_ann` — the graph
    * path's q54/q20 discipline: construction is superlinear IN PART
    * SIZE (each insertion beam-searches the part's graph-so-far) and
    * must neither run inside a query's clock nor grow per-part. The
    * q33-adaptive-bits discipline applied to partitioning:
    * parts = max(8, ⌈N / 500⌉) caps parts at ~500 nodes, making
    * total build cost linear in N (more data → more segments, never
    * bigger ones — the 10× ScaleProbe measured 37× build growth with
    * parts frozen at 8, the motivating defect). A real deployment
    * derives the same number from maxPartitionBytes. */
  private[graft] val graphM = 8; private[graft] val graphEf = 48
  private[graft] val graphTargetPart = 500
  private[graft] def graphPartsFor(s: SparkSession, dir: String): Int = {
    val n = Memo.cachedCount(s, dir, "emb_n")(emb(s, dir).count())
    math.max(8, math.ceil(n.toDouble / graphTargetPart).toInt)
  }
  private[graft] def graphIndexPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann") {
      val p = PipelineQueries.roundtripPath(dir, "graphann")
      graft.search.GraphAnn.writeIndex(emb(s, dir), "vec_id", "v",
        graphM, graphEf, graphPartsFor(s, dir), p)
      p
    }

  /** The routed serving dial: cells probed per query (of
    * [[graphPartsFor]] total) — [[graft.search.GraphAnn.autoProbe]]'s
    * default, since round 17 a FIXED count (P=8; full scan below 8
    * cells — the rounds-17/18 sweeps measured zero routing loss at
    * constant P through 1,500 cells). At the spec-scale part counts
    * here it coincides with the old coverage knee's value, so every
    * recall floor pinned under the knee still gates the default. */
  private[graft] def graphProbeFor(s: SparkSession, dir: String): Int =
    graft.search.GraphAnn.autoProbe(graphPartsFor(s, dir),
      graft.search.GraphAnn.DefaultReplicas)

  /** Full-corpus rebuild UNDER THE ROUTING TRAINED ON THE FIRST 80%
    * of ids — the equivalence target q97/q99 pin their appended /
    * streamed indexes against ([[graft.search.IVF]]'s q84 contract
    * applied to the graph path: append ≡ rebuild with the SAME coarse
    * quantizer; the quantizer is fixed at deployment while the corpus
    * grows, so a rebuild that re-trained routing on the union corpus
    * would be a different — also valid — index, not the equivalence
    * class). Memoized: q97 and q99 share one build. */
  private def graphRebuildPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann_rb80") {
      val e = emb(s, dir)
      val p = PipelineQueries.roundtripPath(dir, "graphann_rb80")
      // the rebuild shares the BASE index's at-rest routing table —
      // the deployed quantizer is the artifact, not a recomputation
      graft.search.GraphAnn.writeIndexWith(
        s.read.parquet(s"${graphBase80Path(s, dir)}/routing"),
        e, "vec_id", "v", graphM, graphEf, p)
      p
    }

  /** The 80%-prefix BASE graph index, built once per (session,
    * dir-content): q97 and q99 each CLONE it (an index is a directory
    * of parquet — a clone is a file copy) and append their deltas
    * onto the clone, so each lifecycle query's clock times the
    * APPEND, not a repeated base build; the shared build is charged
    * to `_build_graph_base80`. */
  private def graphBase80Path(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann_base80") {
      val e = emb(s, dir)
      val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
      val split = 4L * n / 5L
      val p = PipelineQueries.roundtripPath(dir, "graphann_base80")
      graft.search.GraphAnn.writeIndex(e.filter(col("vec_id") < split),
        "vec_id", "v", graphM, graphEf, graphPartsFor(s, dir), p)
      p
    }

  /** Recursive file-tree clone (delete-then-copy), the index-clone
    * primitive behind [[graphBase80Path]]'s consumers. */
  private def cloneTree(src: String, dst: String): Unit = {
    FileTree.delete(new java.io.File(dst))
    FileTree.copy(new java.io.File(src), new java.io.File(dst))
  }

  /** R2 (fourth scale path): NSW graph ANN served from the AT-REST
    * per-part adjacency ([[graft.search.GraphAnn.searchIndex]]) —
    * per-query work is the index scan + beam search + exact-score
    * merge; the superlinear graph build is charged to
    * `_build_graph_ann`. Same query point as q45/q59 so all five
    * approximate paths are comparable on one query. NO oracle: graph
    * construction is iterative and partition-local (not
    * SQL-expressible), so this row rides the driver's rows-only
    * check + GraphAnnSpec's recall floors + q95's recall-as-data
    * rows — the SURVEY ✗-mark discipline. */
  def q86GraphAnn(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.GraphAnn.searchIndex(s, graphIndexPath(s, dir), "vec_id",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, graphEf,
      probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
  }

  /** Graph-ANN recall surfaced AS DATA (the q48 contract shape for
    * the one path q48 cannot carry — graph build is not
    * SQL-replayable): recall@10 over the first [[recallNq]] queries
    * vs the exact top-k, one row per (method, knob) across the ef
    * beam-width dial on the shared persisted index. Rows-only check
    * by design; the recall FLOORS ride in the output so the driver
    * records them, and GraphAnnSpec pins them (≥ 0.9 at ef=48). One
    * index scan serves every (query, knob) via searchIndexMulti. */
  def q95GraphRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", recallK)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint() // reused by every (ef, probe) row below
    // denominator from the exact frame itself, not the recallNq×recallK
    // constant — fewer queries or short exact lists would silently
    // understate recall (round-8 advice), so divergence fails loudly
    val exactN = exact.count()
    require(exactN == recallNq.toLong * recallK,
      s"q95: exact baseline has $exactN rows, expected ${recallNq * recallK}")
    val path = graphIndexPath(s, dir)
    val parts = graphPartsFor(s, dir)
    def row(ef: Int, probe: Int): DataFrame =
      exact.join(
          graft.search.GraphAnn.searchIndexMulti(s, path, "vec_id",
            qs, "qid", "qv", recallK, ef, probeParts = probe)
            .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit(exactN.toDouble), 4).as("recall"))
        .select(lit("graph").as("method"),
          lit(s"m=$graphM parts=$parts ef=$ef probe=${math.min(probe, parts)}")
            .as("knob"), col("recall"))
    // the FIXED-COUNT serving default (autoProbe, round 17: P constant
    // in parts, the SPANN shape) rides the dial with its floor PINNED
    // in-query — the default regime must never silently sink below
    // the spec floor as the corpus (and with it parts) grows
    val defProbe = graphProbeFor(s, dir)
    // the default-regime leg is consumed TWICE — the floor gate below
    // and the declared dial union — so materialize the 1-row frame
    // once and share it (the q182/q183 discipline; this leg was the
    // one gated dial row still re-running its multi-serve at action
    // time)
    val defRow = row(graphEf, defProbe).localCheckpoint()
    val defRecall = defRow.select(col("recall")).head().getDouble(0)
    require(defRecall >= 0.9,
      s"q95: the fixed-count serving default (probe=$defProbe of " +
        s"$parts) reads recall $defRecall — below the 0.9 floor; " +
        "the autoProbe constant no longer holds at this scale")
    // two dials on the shared at-rest index: the ef beam width at full
    // probe, and the routed probe count (the nprobe trade) at ef=48 —
    // including the fixed-P default regime (distinct: at spec scale
    // the default IS the full probe, so the row already exists)
    (Seq(recallK, 24, graphEf).map(ef => (ef, parts)) ++
      Seq(1, math.max(2, parts / 4), math.max(4, parts / 2), defProbe)
        .map(p => (graphEf, math.min(p, parts))))
      .distinct
      .map { case (ef, p) =>
        if (ef == graphEf && p == math.min(defProbe, parts)) defRow
        else row(ef, p) }
      .reduce(_ union _)
      .orderBy("method", "knob")
  }

  /** Over-retrieval factors probed by the filtered-graph dial. */
  val filterFactors: Seq[Int] = Seq(1, 2, 4)

  /** FILTERED SEARCH ON THE ROUTED GRAPH INDEX — the
    * predicate-plus-vector serving shape q110 gives the IVF path
    * (whose lists carry the label, so the predicate rides the pruned
    * scan), answered for the index family whose at-rest nodes carry
    * NO payload: over-retrieve-then-filter, the standard post-filter
    * recipe when the filter lives outside the index — beam k′ =
    * factor × k candidates from the routed index, resolve labels by
    * joining the k′-row candidate set into the source table
    * (broadcast — a point fetch, never a corpus shuffle), apply the
    * predicate (label ≠ the query's label, the q107/q110
    * hard-negative semantic), keep the top k survivors. The
    * over-retrieval factor is surfaced as a MEASURED dial against
    * the exact filtered baseline rather than promised: post-filtering
    * loses exactly the candidates the filter removes from the beam,
    * so recall rises with factor, and the dial row is how a user
    * picks the factor for their filter's selectivity. Rows-only (the
    * beam is not SQL-replayable); the in-query require pins the
    * baseline's completeness and GraphAnnSpec pins the dial floor
    * and ordering at spec scale. */
  def q129GraphFiltered(s: SparkSession, dir: String): DataFrame = {
    val el = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val qs = el.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    // exact filtered baseline: one corpus scan, predicate before the
    // bounded heap (the q107 shape)
    val exact = el.filter(col("vec_id") >= recallNq)
      .crossJoin(broadcast(qs))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), dot(col("v"), col("qv")).as("score"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("vec_id").cast("long"), col("score"), recallK).as("__tk"))
      .select(col("qid"), explode(col("__tk")).as("__e"))
      .select(col("qid"), col("__e.id").as("vec_id"))
      .localCheckpoint()
    val exactN = exact.count()
    require(exactN == recallNq.toLong * recallK,
      s"q129: exact filtered baseline has $exactN rows, expected ${recallNq * recallK}")
    val path = graphIndexPath(s, dir)
    val labels = el.select(col("vec_id"), col("label"))
    // ONE routed search at the widest k' serves every factor row: the
    // beam depends only on (ef, probe) — k just cuts the ranked
    // candidates — so the factor dial is a rank slice of the same
    // label-resolved list, never a repeated search (was 3 identical
    // index scans)
    val kMax = filterFactors.max * recallK
    val ef = math.max(graphEf, kMax)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id").asc)
    val cands = graft.search.GraphAnn.searchIndexMulti(s, path, "vec_id",
        qs.select(col("qid"), col("qv")), "qid", "qv", kMax, ef,
        probeParts = graphProbeFor(s, dir))
      .join(broadcast(qs.select(col("qid"), col("qlabel"))), "qid")
      .join(labels, "vec_id") // candidate side broadcast by AQE: k'-rows
      .localCheckpoint() // ≤ nq × k' rows, reused by every factor row
    def row(factor: Int): DataFrame = {
      val kPrime = factor * recallK
      val kept = cands
        .filter(col("rank") <= kPrime)
        // the query's own row never appears in the exact baseline
        .filter(col("vec_id") >= recallNq)
        .filter(col("label") =!= col("qlabel"))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <= recallK)
      exact.join(broadcast(kept.select(col("qid"), col("vec_id"))),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit(exactN.toDouble), 4).as("recall"))
        .select(lit("graph+filter").as("method"), lit(factor).as("factor"),
          lit(s"k'=$kPrime ef=$ef factor=$factor").as("knob"), col("recall"))
    }
    // order by the NUMERIC factor (knob strings are display-only —
    // lexicographic order on them is only coincidentally numeric)
    filterFactors.map(row).reduce(_ union _).orderBy("method", "factor")
      .select("method", "knob", "recall")
  }

  /** Parts-sized per-cell CONTENT SIGNATURE of a graph index: sum
    * over each cell of hash(id, nbrs) — one column-pruned scan (id +
    * adjacency, never vector bytes), map-side partial agg, parts
    * rows out. Order-independent (sum), content-sensitive (an index
    * that keeps per-cell counts but corrupts ids or adjacency gets a
    * different signature) — the cheap in-query stand-in for the
    * O(index) exceptAll equality that lives in GraphAnnSpec
    * (q116/q120 discipline, hardened per the round-13 advisory). */
  private def cellSignature(s: SparkSession, p: String): Seq[(Long, Long)] =
    graft.search.GraphAnn.nodesDf(s, p)
      .select(col("part").cast("long").as("part"),
        hash(col("id"), col("nbrs")).cast("long").as("h"))
      .groupBy("part").agg(sum(col("h")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** S5/R2 GRAPH-INDEX LIFECYCLE (the q84/q96 maintenance discipline
    * applied to the graph path): build the at-rest NSW index over the
    * FIRST 80% of ids, append the newest 20% as a delta through
    * [[graft.search.GraphAnn.appendToIndex]] — the continuous-ingest
    * shape: new content arrives with fresh, growing ids — and serve
    * the q86 query from the appended index. Because the delta routes
    * through the index's OWN standing routing table and the builder
    * inserts in ascending id order, append ≡ from-scratch rebuild
    * UNDER THE SAME ROUTING, BIT FOR BIT — GraphAnnSpec pins that
    * equivalence at spec scale ("appendToIndex with growing ids
    * equals a same-routing rebuild bit for bit"); the in-query gate
    * is parts-sized (the q116/q120 discipline): a per-cell CONTENT
    * SIGNATURE — sum over the cell of hash(id, nbrs), a column-pruned
    * scan that never reads vector bytes, order-independent under the
    * sum — must equal the full rebuild's cell for cell, so an append
    * bug that preserves per-cell counts but corrupts ids or adjacency
    * still fails here, not only in the spec. The O(index) exceptAll
    * that used to live here made a linear append look like a
    * full-index scan in the bench clock — production appends and
    * trusts the spec-pinned equivalence. NO oracle: graph
    * construction is not SQL-expressible (the SURVEY ✗-mark
    * discipline; GraphAnnSpec also pins recall floors at spec
    * scale). */
  def q97GraphAppend(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val path = PipelineQueries.roundtripPath(dir, "q97")
    cloneTree(graphBase80Path(s, dir), path)
    graft.search.GraphAnn.appendToIndex(s, path,
      e.filter(col("vec_id") >= split), "vec_id", "v")
    require(cellSignature(s, path) == cellSignature(s, graphRebuildPath(s, dir)),
      "q97: appended index's per-cell content signature must equal the same-routing full rebuild's")
    // serve ROUTED (the production shape — every serving call site
    // exercises the partition-pruned path, not just q86)
    graft.search.GraphAnn.searchIndex(s, path, "vec_id",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, graphEf,
      probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
  }

  /** STREAMING INGEST INTO THE GRAPH INDEX — the round's two
    * maintenance pieces composed into the production shape: a vector
    * index that grows as embeddings ARRIVE. The newest 20% of ids is
    * staged as four RANGE-split files whose mtimes ascend with the id
    * ranges, so the AvailableNow file source (maxFilesPerTrigger=1)
    * delivers four micro-batches in id order; each batch appends into
    * the at-rest index through [[graft.search.GraphAnn.appendToIndex]]
    * inside `foreachBatch`. Because every batch's ids exceed all ids
    * already indexed, the multi-batch suffix insertion composes (the
    * PropertiesSpec identity, applied 4 times) and the drained index
    * equals [[graphRebuildPath]] — the full-corpus rebuild under the
    * same 80%-trained routing table — BIT FOR BIT; that equivalence
    * is GraphAnnSpec's cost at spec scale ("q99 streamed ingest
    * serves the same answers" + the append≡rebuild pin), and the
    * in-query gate is the parts-sized per-cell CONTENT-SIGNATURE
    * compare ([[cellSignature]] — the q116/q120 meta-gate
    * discipline with q97's content-sensitivity; the O(index)
    * exceptAll here made a linear drain look superlinear in the
    * bench clock). A mis-ordered batch would fail appendToIndex's
    * monotonic-id contract loudly rather than building a silently
    * different graph. Rows-only (graph construction is not
    * SQL-expressible). */
  def q99StreamIndex(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val stage = Memo.cachedValue(s, dir, "q99_stage") {
      PipelineQueries.stageOrderedFiles(
        e.filter(col("vec_id") >= split), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q99_stream"))
    }
    val path = PipelineQueries.roundtripPath(dir, "q99")
    cloneTree(graphBase80Path(s, dir), path)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) =>
      graft.search.GraphAnn.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v"))
    require(cellSignature(s, path) == cellSignature(s, graphRebuildPath(s, dir)),
      "q99: the drained index's per-cell content signature must equal the same-routing full rebuild's")
    // routed serving, like q86/q97 — the streamed-in index is served
    // exactly as the production index would be
    graft.search.GraphAnn.searchIndex(s, path, "vec_id",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, graphEf,
      probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
  }

  /** EXACTLY-ONCE GRAPH INGEST — q99's drain under at-least-once
    * delivery, completing the declared exactly-once matrix on all
    * five machineries (IVF q185, lexical q186, register q188, SQ8
    * q189 — all oracled; the graph family here, rows-only per the ✗
    * discipline because its build is not SQL-expressible). The graph
    * twist: appends rewrite whole cells — since round 17 as staged
    * immutable POOL VERSIONS committed by one atomic CELLS bump, so
    * every crash window is all-or-nothing by construction —
    * [[graft.search.GraphAnn.appendToIndexIdempotent]] ledger-skips
    * committed duplicates (the raw append would fail the growing-id
    * require LOUDLY — never silently — but the drain would need an
    * operator) and an INTENT-marked recovery probes id presence:
    * everything there → commit the marker; nothing there → re-append
    * over swept orphans. (The pre-17 layout's torn-cell residual and
    * its loud per-(part, id) gate are gone with the in-place
    * overwrite that caused them.) Every batch is delivered twice;
    * batch 2 additionally replays the crash-after-commit-before-
    * marker window (marker deleted, intent restored — the probe
    * finds all ids present and just re-commits). Gate: q99's
    * per-cell content signature against the same-routing full
    * rebuild — one duplicated or dropped node row changes a cell's
    * signature. */
  def q190GraphExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val stage = Memo.cachedValue(s, dir, "q99_stage") {
      PipelineQueries.stageOrderedFiles(
        e.filter(col("vec_id") >= split), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q99_stream"))
    }
    val path = PipelineQueries.roundtripPath(dir, "q190")
    cloneTree(graphBase80Path(s, dir), path)
    graft.FileTree.delete(graft.search.GraphAnn.appendLedger(path))
    // batch 2's crash lands AFTER the cell rewrites, BEFORE the ledger
    // commit: the harness restores the intent the crashed attempt
    // would have left
    Drains.exactlyOnce(s, "q190", stage,
        PipelineQueries.roundtripPath(dir, "q190_ckpt"),
        graft.search.GraphAnn.appendLedger(path), None,
        restoreIntent = true) { (batch, bid) =>
      val b = batch.select(col("vec_id"), col("v")).localCheckpoint()
      _ => graft.search.GraphAnn.appendToIndexIdempotent(s, path, b,
        "vec_id", "v", bid)
    }
    require(cellSignature(s, path) == cellSignature(s, graphRebuildPath(s, dir)),
      "q190: the exactly-once drain's per-cell content signature must " +
        "equal the same-routing full rebuild's — a duplicated node row " +
        "is a silent-duplication failure")
    graft.search.GraphAnn.searchIndex(s, path, "vec_id",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, graphEf,
      probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
  }

  /** GRAPH ROUTING REFRESH LIFECYCLE — the maintenance quarter
    * q97/q99 leave open (their routing is "fixed at deployment while
    * the corpus grows"): at 100 TB with drift, new content clusters
    * where the standing quantizer under-covers, cell occupancy skews,
    * per-cell graphs grow super-linearly, and routed recall decays.
    * This is q96's trigger discipline applied to the graph index:
    * build the at-rest index over the FIRST 60% of ids, append a
    * deliberately drifted delta — the newest 40% re-embedded AT cell
    * 0's routing vector, so every delta vector routes to the same
    * replica cells (growing ids keep the append contract) — observe
    * [[graft.search.GraphAnn.needsReroute]] FIRE (the require makes
    * the trigger part of the gate: the hot cells hold base + the
    * whole delta, ≥ 1.5× the mean at any SF by construction), retrain
    * the routing on the index's OWN content with
    * [[graft.search.GraphAnn.refreshRouting]] IN PLACE — staged
    * generation + atomic CURRENT flip, the IVF compaction commit
    * discipline — and serve the q86 query through the flipped
    * pointer, routed.
    *
    * The gates are META-LEVEL and cheap: the CURRENT pointer must
    * move, the refreshed index must span exactly `parts` cells, and
    * total node mass must be preserved (two parts-sized meta reads).
    * The refresh ≡ from-scratch-rebuild BIT-FOR-BIT equivalence that
    * used to be gated here is GraphAnnSpec's cost at spec scale
    * ("routing refresh: drift trips the trigger..." plus the
    * generation-lifecycle cases): the exceptAll compare is O(index)
    * per maintenance event, so gating it in the declared query made
    * linear maintenance look superlinear in the bench — production
    * runs the refresh and trusts the spec-pinned equivalence. (Like
    * q96: the cloned delta is one indivisible point mass — identical
    * vectors cannot be split across cells — so the refreshed index
    * may stay skewed; the contract is the lifecycle, not that one
    * retrain cures duplication.) Rows-only: graph construction is not
    * SQL-expressible (SURVEY ✗-mark discipline). */
  /** The 60%-prefix base index q116 clones and drifts — built once
    * per (session, dir-content), charged to `_build_graph_base60`
    * (the graphBase80Path discipline). */
  private def graphBase60Path(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann_base60") {
      val e = emb(s, dir)
      val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
      val p = PipelineQueries.roundtripPath(dir, "graphann_base60")
      graft.search.GraphAnn.writeIndex(e.filter(col("vec_id") < 3L * n / 5L),
        "vec_id", "v", graphM, graphEf, graphPartsFor(s, dir), p)
      p
    }

  /** q116's drift delta: the newest 40% of ids re-embedded AT cell
    * 0's routing vector — new content clustering where the standing
    * quantizer has one cell; growing ids keep the append contract.
    * (Deliberately the worst-case insert — the whole drift mass lands
    * in one cell's graph, the degenerate growth rerouting exists to
    * fix; a production corpus drifts across many batches and polls
    * the trigger long before one cell absorbs 40% of the corpus.) */
  private def graph116Delta(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val rv0 = s.read.parquet(s"${graphBase60Path(s, dir)}/routing")
      .filter(col("part") === 0).select(col("rvec"))
    e.filter(col("vec_id") >= 3L * n / 5L)
      .crossJoin(broadcast(rv0)).select(col("vec_id"), col("rvec").as("v"))
  }

  def q116GraphReroute(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val parts = graphPartsFor(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q116")
    cloneTree(graphBase60Path(s, dir), path)
    graft.search.GraphAnn.appendToIndex(s, path, graph116Delta(s, dir),
      "vec_id", "v")
    require(graft.search.GraphAnn.needsReroute(s, path, 1.5),
      "q116: the drifted append must trip the reroute trigger")
    // the index's total node mass before the refresh (parts-sized
    // meta read) — the refresh retrains routing and re-partitions,
    // it must never gain or lose a node copy
    val massBefore =
      graft.search.GraphAnn.cellCounts(s, path).map(_._2).sum
    val genBefore = graft.search.GraphAnn.currentGeneration(path)
    // IN-PLACE refresh: stage a fresh generation, commit with the
    // atomic CURRENT flip — serving below resolves the pointer
    graft.search.GraphAnn.refreshRouting(s, path, parts)
    // lifecycle gates are META-LEVEL on the declared path (generation
    // counter + parts-sized occupancy reads): the O(index)
    // bit-identity compare against a from-scratch rebuild is
    // GraphAnnSpec's cost ("routing refresh ... equals a from-scratch
    // rebuild" + the in-place generation cases), so this query's
    // clock tracks the refresh itself, which is linear in the index
    require(graft.search.GraphAnn.currentGeneration(path) != genBefore,
      "q116: refresh must commit a new generation through the CURRENT flip")
    // the retrained quantizer must be a non-degenerate cell table (at
    // most `parts` rows — Lloyd refinement DROPS cells whose members
    // all migrate, so a point-mass drift corpus can legitimately land
    // on fewer; the exact table is content-deterministic and pinned
    // bit-for-bit against the from-scratch rebuild in GraphAnnSpec),
    // and the refresh must never gain or lose a node copy
    val routingRows = s.read
      .parquet(graft.search.GraphAnn.tablePath(path, "routing")).count()
    require(routingRows >= 1 && routingRows <= parts.toLong,
      s"q116: refreshed routing must have 1..$parts cells, got $routingRows")
    val massAfter =
      graft.search.GraphAnn.cellCounts(s, path).map(_._2).sum
    require(massAfter == massBefore,
      s"q116: refresh changed total node mass $massBefore -> $massAfter")
    graft.search.GraphAnn.searchIndex(s, path, "vec_id",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, graphEf,
      probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
  }

  /** q116's drifted delta staged as 4 id-ordered stream files (q99's
    * ascending-mtime discipline pins the file source's batch order to
    * the id ranges). */
  private def q120Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q120_stage") {
      PipelineQueries.stageOrderedFiles(graph116Delta(s, dir), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q120_stream"))
    }

  /** ONE maintenance-aware ingest step — the per-batch rule BOTH the
    * streamed drain and the batch replay run: append the batch to the
    * live index (the pointer resolves the live generation), then (if
    * no refresh has happened yet) poll the occupancy trigger and,
    * when it fires, retrain the routing IN PLACE — staged generation
    * + atomic CURRENT flip, so later batches append under the new
    * routing through the same path. Threaded state is just the
    * refresh batch (or -1). One refresh per run — the
    * maintenance-window discipline: the trigger schedules a retrain,
    * it does not retrain per batch (q116's point-mass drift would
    * otherwise re-fire every batch forever, since identical vectors
    * can never be split across cells). */
  private def rerouteStep(s: SparkSession, parts: Int, path: String)
                         (refreshedAt: Int, batch: DataFrame, i: Int): Int = {
    graft.search.GraphAnn.appendToIndex(s, path,
      batch.select(col("vec_id"), col("v")), "vec_id", "v")
    if (refreshedAt < 0 && graft.search.GraphAnn.needsReroute(s, path, 1.5)) {
      graft.search.GraphAnn.refreshRouting(s, path, parts)
      i
    } else refreshedAt
  }

  /** The batch replay of q120's lifecycle — clone the 60% base, apply
    * the four staged delta files in order through [[rerouteStep]] —
    * memoized as the equivalence target (`_build_q120_target`).
    * Returns (replay index path, refresh batch). */
  private def q120TargetState(s: SparkSession, dir: String): (String, Int) =
    Memo.cachedValue(s, dir, "q120_target") {
      val pB = PipelineQueries.roundtripPath(dir, "q120b")
      cloneTree(graphBase60Path(s, dir), pB)
      val parts = graphPartsFor(s, dir)
      val files = Option(new java.io.File(q120Stage(s, dir)).listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)
      var refreshedAt = -1
      files.zipWithIndex.foreach { case (f, i) =>
        refreshedAt = rerouteStep(s, parts, pB)(refreshedAt,
          s.read.parquet(f.getPath), i)
      }
      (pB, refreshedAt)
    }

  /** MAINTENANCE UNDER LIVE INGEST — the composition q99 and q116
    * leave to each other: the drifted delta arrives as a STREAM (four
    * in-order micro-batches through the file source), each batch
    * appends into the live graph index inside foreachBatch, and the
    * occupancy trigger is polled per batch exactly as a production
    * maintenance job would — when it fires MID-DRAIN, the routing
    * retrains on the index's own content and the remaining batches
    * append under the NEW routing — through the SAME path, because
    * the refresh commits by the atomic CURRENT pointer flip (the
    * generation discipline q116 exercises in batch). The gates:
    * (1) the trigger must fire mid-drain (not at the end — the drift
    * is front-loaded enough by construction); (2) the pointer must
    * have flipped; (3) the streamed lifecycle must refresh at the
    * SAME batch as the batch replay; (4) the streamed and replayed
    * lifecycles must land on the SAME routing table and per-cell
    * occupancy (parts-sized sidecar compares). The full node-table
    * bit-identity compare lives at spec scale (GraphAnnSpec) — it is
    * O(index) per maintenance event and was making this linear
    * lifecycle look superlinear in the bench; with every append
    * spec-pinned append ≡ rebuild and the refresh spec-pinned
    * refresh ≡ rebuild, identical routing + occupancy certifies the
    * composition at the artifact level. Then the index serves routed.
    * Rows-only like the rest of the graph family. */
  def q120StreamReroute(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val parts = graphPartsFor(s, dir)
    val stage = q120Stage(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q120")
    cloneTree(graphBase60Path(s, dir), path)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var refreshedAt = -1
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) =>
      refreshedAt = rerouteStep(s, parts, path)(refreshedAt, batch, bid.toInt))
    require(refreshedAt >= 0 && refreshedAt < 3,
      s"q120: the reroute trigger must fire mid-drain, fired at $refreshedAt")
    require(graft.search.GraphAnn.currentGeneration(path).nonEmpty,
      "q120: the mid-drain refresh must have flipped the CURRENT pointer")
    val (pathB, refreshedAtB) = q120TargetState(s, dir)
    require(refreshedAt == refreshedAtB,
      s"q120: streamed refresh at batch $refreshedAt, batch replay at $refreshedAtB")
    // stream ≡ batch-replay gates at META level (parts-sized reads —
    // the O(index) node-table exceptAll moved to spec scale, so this
    // clock tracks the drain + refresh, which are linear): the two
    // lifecycles must land on the SAME routing table and the SAME
    // per-cell occupancy. Every append is spec-pinned append ≡
    // rebuild and the refresh is spec-pinned refresh ≡ rebuild, so
    // identical routing + identical occupancy certifies the
    // composition at the artifact level.
    def sidecar(p: String, t: String) =
      s.read.parquet(graft.search.GraphAnn.tablePath(p, t))
    require(Gates.sameRows(sidecar(path, "routing"), sidecar(pathB, "routing")),
      "q120: streamed lifecycle's routing table must equal the batch replay's")
    require(graft.search.GraphAnn.cellCounts(s, path) ==
        graft.search.GraphAnn.cellCounts(s, pathB),
      "q120: streamed lifecycle's cell occupancy must equal the batch replay's")
    graft.search.GraphAnn.searchIndex(s, path, "vec_id",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv", 10, graphEf,
      probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
  }

  /** Embedding-quality diagnostics: corpus mean + top principal
    * component of the centered embeddings via relational power
    * iteration ([[graft.embed.Spectral]]) — the artifacts of the
    * "all-but-the-top" post-process a pipeline computes before
    * committing a corpus to a new embedder. Every cross-row sum is
    * integer-quantized (the q58/q78 discipline), so three full
    * power-iteration steps — including normalization — hash-match
    * the unrolled SQL replay bit for bit. */
  val pcaIters = 3

  /** The (mu, pc) artifact as a session memo — a ONE-ROW frame, the
    * right home for localCheckpoint — shared by q89 (inspect) and
    * q94 (apply); built once per corpus under `_build_spectral`. */
  private def spectralArtifacts(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "spectral")(
      graft.embed.Spectral.topComponent(emb(s, dir), "v", pcaIters))

  def q89EmbeddingPc(s: SparkSession, dir: String): DataFrame =
    spectralArtifacts(s, dir)
      .select(posexplode(arrays_zip(col("mu"), col("pc"))))
      .select(col("pos").cast("long").as("j"),
        round(col("col.mu"), 6).as("mu"),
        round(col("col.pc"), 6).as("loading"))
      .orderBy("j")

  /** The power iteration unrolled as a reusable CTE chain (ends at
    * `v$pcaIters` = the top PC and `mu`): centered exploded
    * coordinates, v0 = 1/√embDim (interpolated from the SAME constant
    * the Scala side derives from size(mu), so changing embDim cannot
    * silently split the two sides — the q78Sql hardcoding class; the
    * CAST pins DuckDB to the shortest-round-trip double rather than a
    * DECIMAL reading of the literal), each step = quantized projection
    * sum per row, quantized component sum per dimension, quantized
    * norm. Shared by the q89 and q94 oracles. */
  private def spectralCtes: String = {
    val v0 = 1.0 / math.sqrt(embDim.toDouble)
    def iter(t: Int): String = {
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s"""s$t AS (SELECT i, SUM(CAST(ROUND(xc * v * 1000000000) AS BIGINT)) / 1000000000.0 AS s
           FROM cx JOIN $prev USING (j) GROUP BY i),
         wq$t AS (SELECT j, SUM(CAST(ROUND(xc * s * 1000000) AS BIGINT)) AS wq
           FROM cx JOIN s$t USING (i) GROUP BY j),
         n$t AS (SELECT sqrt(SUM(CAST(ROUND((wq/1000000.0)*(wq/1000000.0)*1000000) AS BIGINT))/1000000.0) AS nrm
           FROM wq$t),
         v$t AS (SELECT j, (wq/1000000.0) / (nrm + 1e-9) AS v FROM wq$t, n$t)"""
    }
    val dims = s"SELECT UNNEST(generate_series(0, ${embDim - 1})) AS j"
    s"""e AS (SELECT vec_id AS i, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       px AS (SELECT i, jj.j AS j, v[jj.j + 1] AS x FROM e, ($dims) jj),
       mu AS (SELECT j, CAST(SUM(CAST(ROUND(x*1000000) AS BIGINT)) AS DOUBLE)/(COUNT(*)*1000000.0) AS m
              FROM px GROUP BY j),
       cx AS (SELECT i, j, x - m AS xc FROM px JOIN mu USING (j)),
       v0 AS (SELECT j, CAST($v0 AS DOUBLE) AS v FROM ($dims)),
       ${(1 to pcaIters).map(iter).mkString(",\n       ")}"""
  }

  val q89Sql: String =
    s"""WITH $spectralCtes
       SELECT j, ROUND(m, 6) AS mu, ROUND(v, 6) AS loading
       FROM v$pcaIters JOIN mu USING (j) ORDER BY j"""

  /** The correction APPLIED ("all-but-the-top" proper): every vector
    * centered, its top-component projection removed, re-normalized
    * (all via the memoized artifact), then a per-label audit — count,
    * quantized-integer sum of the first corrected coordinate (pins
    * the transform), and the quantized mean |projection onto pc| of
    * the corrected vectors, which removal drives to ≈0: the output
    * is its own evidence the common direction is gone. */
  def q94AllButTop(s: SparkSession, dir: String): DataFrame = {
    import graft.embed.Spectral
    val e = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val corrected = e.crossJoin(broadcast(spectralArtifacts(s, dir)))
      .select(col("label"), col("pc"),
        Spectral.removeTopRaw(col("v"), col("mu"), col("pc")).as("r"))
      .select(col("label"), col("pc"), Spectral.normalizeQuant(col("r")).as("c"))
    val resid = aggregate(zip_with(col("c"), col("pc"),
      (x, p) => round(x * p * 1e9).cast("long")),
      lit(0L), (acc, q) => acc + q)
    corrected
      .select(col("label"),
        abs(resid).as("absproj_q"), // already the 1e-9-quantized integer
        round(element_at(col("c"), 1) * 1e6).cast("long").as("c0_q"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("absproj_q")).as("sum_absproj_q"),
        sum(col("c0_q")).as("sum_c0_q"))
      .orderBy("label")
  }

  /** q89's chain + the per-row correction replay: projection,
    * removal, quantized norm, residual projection — all in the same
    * integer-quantized arithmetic. */
  val q94Sql: String =
    s"""WITH $spectralCtes,
       proj AS (SELECT cx.i, SUM(CAST(ROUND(xc * v * 1000000000) AS BIGINT)) AS pq
           FROM cx JOIN v$pcaIters USING (j) GROUP BY cx.i),
       rem AS (SELECT cx.i, cx.j, xc - (pq / 1000000000.0) * v AS r
           FROM cx JOIN v$pcaIters USING (j) JOIN proj ON proj.i = cx.i),
       nq AS (SELECT i, sqrt(SUM(CAST(ROUND(r*r*1000000) AS BIGINT))/1000000.0) AS nrm
           FROM rem GROUP BY i),
       cvec AS (SELECT rem.i, rem.j, r / (nrm + 1e-9) AS c
           FROM rem JOIN nq ON nq.i = rem.i),
       resid AS (SELECT cvec.i, SUM(CAST(ROUND(c * v * 1000000000) AS BIGINT)) AS rq
           FROM cvec JOIN v$pcaIters USING (j) GROUP BY cvec.i),
       c0 AS (SELECT i, CAST(ROUND(c * 1000000) AS BIGINT) AS c0_q FROM cvec WHERE j = 0)
       SELECT CAST(e.label AS BIGINT) AS label, COUNT(*) AS n,
         CAST(SUM(ABS(rq)) AS BIGINT) AS sum_absproj_q,
         CAST(SUM(c0_q) AS BIGINT) AS sum_c0_q
       FROM e JOIN resid ON resid.i = e.i JOIN c0 ON c0.i = e.i
       GROUP BY e.label ORDER BY label"""

  /** R2 quality: the ANN recall CONTRACT. recall@10 of each
    * approximate path against the exact scan, one row per
    * (method, knob) — LSH single-probe vs multi-probe (Hamming-1
    * neighbors) and IVF across nprobe. This is the knob-tuning /
    * regression evidence the reference gets from clamping HNSW
    * efSearch (`src/pipeline/pipeline_mode.py:221-228`): a user
    * swapping in real embeddings reruns this query to pick the
    * recall/cost point, and SearchSpec pins floors so a code change
    * that silently degrades recall fails the build. */
  val recallK = 10; val recallNq = 5
  def q48AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", recallK)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint() // reused by all nine knob rows below
    def recallRow(approx: DataFrame, method: String, knob: String): DataFrame =
      exact.join(approx.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit((recallNq * recallK).toDouble), 4).as("recall"))
        .select(lit(method).as("method"), lit(knob).as("knob"), col("recall"))
    // the IVF index artifacts (seed + refined centroids, both list
    // assignments) come from the session memo shared with q45/q58 —
    // computed once per corpus, probed here at three nprobe knobs;
    // recomputing per knob was ~2/3 of this query's cost (round-4
    // plan audit). The refined row makes build quality (refine) and
    // probe width (nprobe) independent, measured dials.
    val cents = ivfCents0(s, dir)
    val assigned = ivfAssigned0(s, dir)
    val centsR = ivfCentsR(s, dir)
    val assignedR = ivfAssignedR(s, dir)
    def ivfRow(nprobe: Int): DataFrame =
      recallRow(graft.search.IVF.ivfMultiTopKAssigned(assigned, cents,
        "vec_id", "v", qs, "qid", "qv", recallK, nprobe),
        "ivf", s"k=$ivfK nprobe=$nprobe")
    // the PQ dials — subspace count m (compression: dim/m floats of
    // code per vector) and codebook size K (cell resolution) — probed
    // over the shared memoized codebooks, so all FOUR ANN paths (lsh
    // / ivf / pq here, graph in q95) surface their knob→recall trade
    // as recorded data
    def pqRow(cb: DataFrame, m: Int, kk: Int): DataFrame =
      recallRow(graft.search.PQ.adcMultiTopK(e, "vec_id", "v", cb,
        qs, "qid", "qv", recallK, m, embDim), "pq", s"m=$m k=$kk")
    Seq(
      recallRow(Search.lshMultiTopK(e, "vec_id", "v", qs, "qid", "qv",
        recallK, annBits, embDim, hamming1 = false), "lsh", s"bits=$annBits probes=1"),
      recallRow(Search.lshMultiTopK(e, "vec_id", "v", qs, "qid", "qv",
        recallK, annBits, embDim, hamming1 = true), "lsh", s"bits=$annBits probes=1+H1"),
      ivfRow(1), ivfRow(2), ivfRow(4),
      recallRow(graft.search.IVF.ivfMultiTopKAssigned(assignedR, centsR,
        "vec_id", "v", qs, "qid", "qv", recallK, ivfProbe),
        "ivf", s"k=$ivfK nprobe=$ivfProbe refine=$refineIters"),
      pqRow(pqCodebook(s, dir), pqM, pqK),
      pqRow(pqCodebook(s, dir), 4, pqK),
      pqRow(pqCodebook64(s, dir), pqM, 64),
      // the SQ8 dial (round 10): rerank = k is raw ADC ordering,
      // rerank = 4k the serving default's exact-margin repair — the
      // fifth ANN path's knob→recall trade next to the others
      sqRow(s, dir, qs, recallRow(_, _, _), recallK),
      sqRow(s, dir, qs, recallRow(_, _, _), sqRerank))
      .reduce(_ union _)
      .orderBy("method", "knob")
  }

  private def sqRow(s: SparkSession, dir: String, qs: DataFrame,
                    recallRow: (DataFrame, String, String) => DataFrame,
                    rerank: Int): DataFrame =
    recallRow(graft.search.SQ.sqMultiTopK(emb(s, dir), "vec_id", "v",
      qs, "qid", "qv", recallK, rerank), "sq", s"rerank=$rerank")

  /** SCALE-AWARE INDEX GEOMETRY (round 17 — the fleet-shape dial the
    * fixture-pinned knobs cannot measure): every other IVF row pins
    * K = $ivfK cells, the spec-scale constant; here K = ⌈√N⌉ DERIVES
    * from the corpus — the standard IVF sizing rule (√N cells of √N
    * vectors balance the quantizer scoring term against the probed
    * list scan, both O(√N) per query), the geometry a 100 TB
    * deployment actually runs. The dial reads recall at
    * nprobe ∈ {1, 2, ⌈√K⌉, K}: the FULL-probe row is pinned EXACTLY
    * 1.0 in-query (probing every cell of an exact-vector index is the
    * exact scan — the q182 discipline), so the partial rows are
    * measured routing loss at derived-K geometry, not noise. Fully
    * oracled: the SQL derives the same K with CEIL(SQRT(COUNT(*)))
    * and replays the same LCG centroid sample, assignment, probe and
    * top-k. ScaleProbe re-reads the dial at 10×/30× (K 45 → 142 →
    * 245), where the derived geometry's probe cost per query stays
    * O(√N) — the SCALE.md row. */
  def q194IvfDerivedK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val cents = Memo.cached(s, dir, "q194_cents")(
      graft.search.IVF.centroids(e, "vec_id", "v", k))
    val assigned = Memo.cached(s, dir, "q194_assigned")(
      graft.search.IVF.assign(e, "vec_id", "v", cents))
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", recallK)
      .select(col("qid"), col("vec_id")).localCheckpoint()
    def row(nprobe: Int, knob: String): DataFrame =
      exact.join(graft.search.IVF.ivfMultiTopKAssigned(assigned, cents,
            "vec_id", "v", qs, "qid", "qv", recallK, nprobe)
          .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit((recallNq * recallK).toDouble), 4)
          .as("recall"))
        .select(lit("ivf").as("method"), lit(knob).as("knob"), col("recall"))
    val full = row(k, "k=sqrt_n nprobe=full").localCheckpoint()
    require(full.select(col("recall")).head().getDouble(0) == 1.0,
      "q194: the full-probe row over an exact-vector index IS the " +
        "exact scan and must read recall 1.0")
    Seq(row(1, "k=sqrt_n nprobe=1"), row(2, "k=sqrt_n nprobe=2"),
      row(math.ceil(math.sqrt(k.toDouble)).toInt, "k=sqrt_n nprobe=sqrt_k"),
      full)
      .reduce(_ union _)
      .orderBy("knob")
  }

  /** q194's replay: K and ⌈√K⌉ derive from COUNT(*) in SQL, the
    * centroid sample is the shared LCG rank ordering, and each knob
    * leg filters the per-query centroid ranking at its own nprobe. */
  val q194Sql: String = {
    def leg(tag: String, rlimit: String, label: String): String =
      s"""cand$tag AS (SELECT pr.qid, x.vec_id,
             list_dot_product(x.v, pr.qv) AS sc
           FROM pr JOIN a x ON x.cid = pr.cid
           WHERE pr.r <= ($rlimit)),
       top$tag AS (SELECT qid, vec_id FROM (
           SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS r
           FROM cand$tag) WHERE r <= $recallK),
       r$tag AS (SELECT 'ivf' AS method, '$label' AS knob,
           ROUND(COUNT(*) / ${recallNq * recallK}.0, 4) AS recall
           FROM ex JOIN top$tag USING (qid, vec_id))"""
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       kk AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k FROM e),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < (SELECT k FROM kk)),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $recallNq),
       ex AS (SELECT qid, vec_id FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv) DESC, e.vec_id) AS r
           FROM e, q) WHERE r <= $recallK),
       pr AS (SELECT qid, qv, cid, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY sc DESC, cid) AS r
           FROM (SELECT q.qid, q.qv, c.cid,
               list_dot_product(q.qv, c.cvec) AS sc FROM q, c)),
       ${leg("n1", "1", "k=sqrt_n nprobe=1")},
       ${leg("n2", "2", "k=sqrt_n nprobe=2")},
       ${leg("ns", "SELECT CAST(CEIL(SQRT(k)) AS BIGINT) FROM kk", "k=sqrt_n nprobe=sqrt_k")},
       ${leg("nf", "SELECT k FROM kk", "k=sqrt_n nprobe=full")}
       SELECT method, knob, recall FROM rn1
       UNION ALL SELECT method, knob, recall FROM rn2
       UNION ALL SELECT method, knob, recall FROM rns
       UNION ALL SELECT method, knob, recall FROM rnf
       ORDER BY knob"""
  }

  /** SCALE-AWARE PQ GEOMETRY (round 18 — q194's derived-geometry
    * discipline on the product-quantization path): every other PQ row
    * pins the fixture codebook (m=$pqM, K=$pqK); here BOTH knobs
    * DERIVE from (d, N) — m = d/8 (8-dim subvectors, the standard PQ
    * sizing: code bytes scale with dimension, never with corpus) and
    * K = min(256, ⌈√N⌉) (codebook entries grow with the corpus until
    * the one-byte-code ceiling; past it recall rides m). The dial
    * reads ADC recall at the derived (m, K), at half the subspaces
    * (same K, half the code bytes), and at double K (the next
    * resolution rung); the EXACT-PIN leg quantizes a FIXED 600-row
    * ANCHOR SLICE onto itself (m=1, K=N_slice — every slice vector
    * reconstructs to itself, so ADC over the slice IS the exact scan
    * of the slice) and is required exactly 1.0 in-query, the
    * q194/q182 discipline, so the partial rows read as measured
    * quantization loss at derived geometry, not noise. The anchor is
    * slice-sized BY DESIGN: self-quantization is O(N²) per leg (every
    * vector argmins over N codewords), so pinning it on the full
    * corpus would grow quadratically with scale while certifying
    * nothing new — the pin certifies the ADC MACHINERY, the derived
    * legs measure the geometry, and only the latter ride the corpus
    * (at sf0.01 the slice IS the whole corpus, so the oracle also
    * certifies the full-corpus equivalence once). Fully oracled: the
    * SQL derives the same K from COUNT(*) and replays the shared LCG
    * codebook sample, per-subspace argmin, reconstruction and top-k.
    * ScaleProbe re-reads the dial at 10×/30×, where per-vector code
    * bytes stay m, the codebook broadcast stays K·d, and the anchor
    * leg stays constant. */
  def q195PqDerived(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val k = math.min(256, math.ceil(math.sqrt(n.toDouble)).toInt)
    val m = embDim / 8
    def cb(kk: Int) = Memo.cached(s, dir, s"q195_cb$kk")(
      graft.search.IVF.centroids(e, "vec_id", "v", kk))
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", recallK)
      .select(col("qid"), col("vec_id")).localCheckpoint()
    def rowOver(corpus: DataFrame, cbDf: DataFrame, mm: Int, knob: String,
                want: DataFrame): DataFrame =
      want.join(graft.search.PQ.adcMultiTopK(corpus, "vec_id", "v", cbDf,
            qs, "qid", "qv", recallK, mm, embDim)
          .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit((recallNq * recallK).toDouble), 4)
          .as("recall"))
        .select(lit("pq").as("method"), lit(knob).as("knob"), col("recall"))
    def row(mm: Int, kk: Int, knob: String): DataFrame =
      rowOver(e, cb(kk), mm, knob, exact)
    // the anchor: a fixed slice quantized onto itself — constant cost
    // at every corpus size, exact-by-construction
    val eAnchor = e.filter(col("vec_id") < 600).localCheckpoint()
    val nAnchor = eAnchor.count().toInt
    val exactAnchor = Search.multiTopK(eAnchor, "vec_id", "v", qs,
        "qid", "qv", recallK)
      .select(col("qid"), col("vec_id")).localCheckpoint()
    val exactPin = rowOver(eAnchor,
        graft.search.IVF.centroids(eAnchor, "vec_id", "v", nAnchor),
        1, "m=1 k=n exact-pin", exactAnchor)
      .localCheckpoint()
    require(exactPin.select(col("recall")).head().getDouble(0) == 1.0,
      "q195: quantizing the anchor slice onto itself (m=1, K=N) IS its " +
        "exact scan and must read recall 1.0")
    Seq(row(m, k, "m=d/8 k=sqrt_n"),
      row(m / 2, k, "m=d/16 k=sqrt_n"),
      row(m, math.min(256, 2 * k), "m=d/8 k=2sqrt_n"),
      exactPin)
      .reduce(_ union _)
      .orderBy("knob")
  }

  /** q195's replay: K derives from COUNT(*) (LEAST(256, ⌈√N⌉)) and
    * each leg is the q48 per-subspace argmin/reconstruct template cut
    * from the shared LCG ordering at its own (m, K) — the exact-pin
    * leg quantizes the 600-row anchor slice onto itself (its corpus,
    * codebook AND exact baseline are the slice). */
  val q195Sql: String = {
    // per-(tag, m, K-limit) PQ leg over a (corpus, LCG-ordering,
    // exact-baseline) CTE triple — the full corpus for the derived
    // legs, the anchor slice for the exact pin
    def leg(tag: String, m: Int, klimit: String, corpus: String,
            ord: String, exCte: String): String = {
      val sub = embDim / m
      s"""cb$tag AS (SELECT cid, cvec FROM $ord WHERE cid < ($klimit)),
       sp$tag AS (SELECT UNNEST(generate_series(0, ${m - 1})) AS m),
       d$tag AS (SELECT e.vec_id, sp.m, c.cid,
               c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub] AS cm,
               list_dot_product(c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub])
                 - 2 * list_dot_product(e.v[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                        c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub]) AS dist
             FROM $corpus e, sp$tag sp, cb$tag c),
       b$tag AS (SELECT vec_id, m, cm FROM (
               SELECT vec_id, m, cm,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS r
               FROM d$tag) WHERE r = 1),
       x$tag AS (SELECT vec_id, flatten(list(cm ORDER BY m)) AS xhat FROM b$tag GROUP BY vec_id),
       pqk$tag AS (SELECT qid, vec_id FROM (
           SELECT q.qid, x.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, x.xhat) DESC, x.vec_id) AS r
           FROM x$tag x, q) WHERE r <= $recallK),
       r$tag AS (SELECT 'pq' AS method, LBL$tag AS knob,
           ROUND(COUNT(*) / ${recallNq * recallK}.0, 4) AS recall
           FROM $exCte JOIN pqk$tag USING (qid, vec_id))"""
    }
    val m = embDim / 8
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       kk AS (SELECT LEAST(256, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k,
              COUNT(*) AS n FROM e),
       ordc AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $recallNq),
       ex AS (SELECT qid, vec_id FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv) DESC, e.vec_id) AS r
           FROM e, q) WHERE r <= $recallK),
       ea AS (SELECT vec_id, v FROM e WHERE vec_id < 600),
       nna AS (SELECT COUNT(*) AS n FROM ea),
       ordca AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM ea),
       exa AS (SELECT qid, vec_id FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv) DESC, e.vec_id) AS r
           FROM ea e, q) WHERE r <= $recallK),
       ${leg("g1", m, "SELECT k FROM kk", "e", "ordc", "ex")},
       ${leg("g2", m / 2, "SELECT k FROM kk", "e", "ordc", "ex")},
       ${leg("g3", m, "SELECT LEAST(256, 2 * k) FROM kk", "e", "ordc", "ex")},
       ${leg("gx", 1, "SELECT n FROM nna", "ea", "ordca", "exa")}
       SELECT method, knob, recall FROM rg1
       UNION ALL SELECT method, knob, recall FROM rg2
       UNION ALL SELECT method, knob, recall FROM rg3
       UNION ALL SELECT method, knob, recall FROM rgx
       ORDER BY knob"""
      .replace("LBLg1", "'m=d/8 k=sqrt_n'")
      .replace("LBLg2", "'m=d/16 k=sqrt_n'")
      .replace("LBLg3", "'m=d/8 k=2sqrt_n'")
      .replace("LBLgx", "'m=1 k=n exact-pin'")
  }

  val q48Sql: String = {
    val bucket = bucketSql(annBits)
    // per-(m, K) PQ replay (the q59Sql quantize/reconstruct CTEs cut
    // from the shared `ordc` LCG ordering), one candidate CTE per knob
    def pqKnob(tag: String, m: Int, kk: Int): String = {
      val sub = embDim / m
      s"""cb$tag AS (SELECT cid, cvec FROM ordc WHERE cid < $kk),
       sp$tag AS (SELECT UNNEST(generate_series(0, ${m - 1})) AS m),
       d$tag AS (SELECT e.vec_id, sp.m, c.cid,
               c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub] AS cm,
               list_dot_product(c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub])
                 - 2 * list_dot_product(e.v[sp.m * $sub + 1 : sp.m * $sub + $sub],
                                        c.cvec[sp.m * $sub + 1 : sp.m * $sub + $sub]) AS dist
             FROM e, sp$tag sp, cb$tag c),
       b$tag AS (SELECT vec_id, m, cm FROM (
               SELECT vec_id, m, cm,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS r
               FROM d$tag) WHERE r = 1),
       x$tag AS (SELECT vec_id, flatten(list(cm ORDER BY m)) AS xhat FROM b$tag GROUP BY vec_id),
       pqk$tag AS (SELECT qid, vec_id FROM (
           SELECT q.qid, x.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, x.xhat) DESC, x.vec_id) AS r
           FROM x$tag x, q) WHERE r <= $recallK)"""
    }
    val pqCtes = Seq(pqKnob("p1", pqM, pqK), pqKnob("p2", 4, pqK),
      pqKnob("p3", pqM, 64)).mkString(",\n       ")
    // per-rerank SQ8 replay off the shared bounds/codes/adc CTEs
    def sqKnob(rerank: Int): String =
      s"""sqc$rerank AS (SELECT qid, vec_id FROM (
           SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS r
           FROM sqad) WHERE r <= $rerank),
       sqk$rerank AS (SELECT qid, vec_id FROM (
           SELECT s.qid, s.vec_id,
             ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.sc DESC, s.vec_id) AS r
           FROM (SELECT c.qid, c.vec_id, list_dot_product(e.v, q.qv) AS sc
                 FROM sqc$rerank c JOIN e USING (vec_id) JOIN q USING (qid)) s)
           WHERE r <= $recallK)"""
    val sqCtes = Seq(sqKnob(recallK), sqKnob(sqRerank)).mkString(",\n       ")
    val sqRows =
      s"""         UNION ALL SELECT 'sq', 'rerank=$recallK',
           ROUND(COUNT(*) / PQDENOM, 4) FROM ex JOIN sqk$recallK USING (qid, vec_id)
         UNION ALL SELECT 'sq', 'rerank=$sqRerank',
           ROUND(COUNT(*) / PQDENOM, 4) FROM ex JOIN sqk$sqRerank USING (qid, vec_id)"""
        .replace("PQDENOM", s"${recallNq * recallK}.0")
    val pqRows =
      s"""         UNION ALL SELECT 'pq', 'm=$pqM k=$pqK',
           ROUND(COUNT(*) / PQDENOM, 4) FROM ex JOIN pqkp1 USING (qid, vec_id)
         UNION ALL SELECT 'pq', 'm=4 k=$pqK',
           ROUND(COUNT(*) / PQDENOM, 4) FROM ex JOIN pqkp2 USING (qid, vec_id)
         UNION ALL SELECT 'pq', 'm=$pqM k=64',
           ROUND(COUNT(*) / PQDENOM, 4) FROM ex JOIN pqkp3 USING (qid, vec_id)"""
        .replace("PQDENOM", s"${recallNq * recallK}.0")
    val hProbes = (0 until annBits)
      .map(b => s"UNION ALL SELECT qid, qv, xor(qb, ${1L << b}) AS pb FROM qb")
      .mkString("\n            ")
    val denom = s"${recallNq * recallK}.0"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $recallNq),
       ex AS (SELECT qid, vec_id FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv) DESC, e.vec_id) AS r
           FROM e, q) WHERE r <= $recallK),
       bk AS (SELECT vec_id, v, ($bucket) AS b FROM e),
       qb AS (SELECT q.qid, q.qv, bk.b AS qb FROM q JOIN bk ON bk.vec_id = q.qid),
       p1 AS (SELECT qid, qv, qb AS pb FROM qb),
       ph AS (SELECT qid, qv, qb AS pb FROM qb
            $hProbes),
       lsh1 AS (SELECT qid, vec_id FROM (
           SELECT p.qid, bk.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY list_dot_product(bk.v, p.qv) DESC, bk.vec_id) AS r
           FROM bk JOIN p1 p ON bk.b = p.pb) WHERE r <= $recallK),
       lshh AS (SELECT qid, vec_id FROM (
           SELECT p.qid, bk.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY list_dot_product(bk.v, p.qv) DESC, bk.vec_id) AS r
           FROM bk JOIN ph p ON bk.b = p.pb) WHERE r <= $recallK),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       pq AS (SELECT qid, qv, cid, r FROM (
           SELECT q.qid, q.qv, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM q, c)),
       ivf1 AS (SELECT qid, vec_id FROM (
           SELECT p.qid, a.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY list_dot_product(a.v, p.qv) DESC, a.vec_id) AS r2
           FROM a JOIN (SELECT * FROM pq WHERE r <= 1) p ON a.cid = p.cid)
           WHERE r2 <= $recallK),
       ivf2 AS (SELECT qid, vec_id FROM (
           SELECT p.qid, a.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY list_dot_product(a.v, p.qv) DESC, a.vec_id) AS r2
           FROM a JOIN (SELECT * FROM pq WHERE r <= 2) p ON a.cid = p.cid)
           WHERE r2 <= $recallK),
       ivf4 AS (SELECT qid, vec_id FROM (
           SELECT p.qid, a.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY list_dot_product(a.v, p.qv) DESC, a.vec_id) AS r2
           FROM a JOIN (SELECT * FROM pq WHERE r <= 4) p ON a.cid = p.cid)
           WHERE r2 <= $recallK),
       px AS (SELECT cid, i.i AS pos, v[i.i + 1] AS x
              FROM a, (SELECT UNNEST(generate_series(0, 63)) AS i) i),
       mm AS (SELECT cid, pos,
               CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) /
                 (COUNT(*) * 1000000.0) AS m
             FROM px GROUP BY cid, pos),
       gg AS (SELECT cid, list(m ORDER BY pos) AS lm FROM mm GROUP BY cid),
       c1 AS (SELECT cid,
               list_transform(lm, x -> x / (sqrt(list_dot_product(lm, lm)) + 1e-9)) AS cvec
             FROM gg),
       ar AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c1 c) WHERE r = 1),
       pqr AS (SELECT qid, qv, cid, r FROM (
           SELECT q.qid, q.qv, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM q, c1 c)),
       ivfr AS (SELECT qid, vec_id FROM (
           SELECT p.qid, a.vec_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY list_dot_product(a.v, p.qv) DESC, a.vec_id) AS r2
           FROM ar a JOIN (SELECT * FROM pqr WHERE r <= $ivfProbe) p ON a.cid = p.cid)
           WHERE r2 <= $recallK),
       ordc AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e),
       sqb AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM e, (SELECT UNNEST(generate_series(1, $embDim)) AS d) GROUP BY d),
       sqbl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM sqb),
       sqcd AS (SELECT vec_id, list_transform(generate_series(1, $embDim), d ->
             CASE WHEN hi[d] = lo[d] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[d] - lo[d]) * 255.0 / (hi[d] - lo[d]), 0))) AS INT) END) AS code
           FROM e, sqbl),
       sqad AS (SELECT q.qid, cd.vec_id,
             list_dot_product(list_transform(generate_series(1, $embDim), d ->
               lo[d] + code[d] * ((hi[d] - lo[d]) / 255.0)), q.qv) AS adc
           FROM sqcd cd, sqbl, q),
       $sqCtes,
$pqCtes
       SELECT method, knob, recall FROM (
         SELECT 'lsh' AS method, 'bits=$annBits probes=1' AS knob,
           ROUND(COUNT(*) / $denom, 4) AS recall FROM ex JOIN lsh1 USING (qid, vec_id)
         UNION ALL SELECT 'lsh', 'bits=$annBits probes=1+H1',
           ROUND(COUNT(*) / $denom, 4) FROM ex JOIN lshh USING (qid, vec_id)
         UNION ALL SELECT 'ivf', 'k=$ivfK nprobe=1',
           ROUND(COUNT(*) / $denom, 4) FROM ex JOIN ivf1 USING (qid, vec_id)
         UNION ALL SELECT 'ivf', 'k=$ivfK nprobe=2',
           ROUND(COUNT(*) / $denom, 4) FROM ex JOIN ivf2 USING (qid, vec_id)
         UNION ALL SELECT 'ivf', 'k=$ivfK nprobe=4',
           ROUND(COUNT(*) / $denom, 4) FROM ex JOIN ivf4 USING (qid, vec_id)
         UNION ALL SELECT 'ivf', 'k=$ivfK nprobe=$ivfProbe refine=$refineIters',
           ROUND(COUNT(*) / $denom, 4) FROM ex JOIN ivfr USING (qid, vec_id)
$pqRows
$sqRows)
       ORDER BY method, knob"""
  }

  // ---------- q182/q183: recall under DELETION (the quality valve) ----------

  /** THE RECALL-UNDER-DELETION DIAL — q48/q95 read recall on pristine
    * indexes; no row measured ANN recall as a function of the
    * TOMBSTONE FRACTION, the number the valve question actually
    * needs: [[graft.search.IVF.needsCompact]] fires on sidecar SIZE
    * (cost), but a serving owner also wants to know when deferral
    * starts costing QUALITY. One cloned index takes two accumulating
    * forget requests (10%, then 30% of the corpus — nested, the way
    * sidecars actually grow between compactions), and after each the
    * multi-query serve is scored against exact kNN over the LIVE
    * (corpus ∖ deleted) truth, at the serving probe width and at
    * full probe. The pinned invariant: FULL-probe recall is 1.0 at
    * EVERY delete fraction — the sidecar hide is exact, deletion
    * costs IVF no correctness, only whatever the probe dial already
    * cost (for IVF, hidden rows never crowd a candidate heap the way
    * they crowd a graph beam — contrast q183, where ef = k degrades
    * with the fraction). FULLY ORACLED: centroids and assignment
    * replay over the FULL corpus (deletion never changes geometry),
    * candidates and exact truth filter to each stage's live set. */
  def q182IvfRecallDeletion(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q182")
    cloneTree(persistedListsPath(s, dir, "ivf_idx0", ivfCents0(s, dir)), path)
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def row(live: DataFrame, delPct: Int, nprobe: Int): DataFrame =
      Search.multiTopK(live, "vec_id", "v", qs, "qid", "qv", recallK)
        .select(col("qid"), col("vec_id"))
        .join(graft.search.IVF.searchIndexMulti(s, path, "vec_id", "v",
            qs, "qid", "qv", recallK, nprobe).select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit((recallNq * recallK).toDouble), 4)
          .as("recall"))
        .select(lit("ivf").as("family"),
          lit(delPct.toLong).as("del_pct"),
          lit(s"nprobe=$nprobe").as("knob"), col("recall"))
        .localCheckpoint() // 1 row; the floor gate and the union share it
    def floor(df: DataFrame): Double = df.head().getDouble(3)
    val rows = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(live: DataFrame, delPct: Int): Unit = {
      val serving = row(live, delPct, ivfProbe)
      val full = row(live, delPct, ivfK)
      require(floor(full) == 1.0,
        s"q182: full-probe recall must be exact at del=$delPct% " +
          s"(got ${floor(full)}) — the sidecar hide is exact")
      rows += serving += full
    }
    stage(e, 0)
    require(graft.search.IVF.deleteFromIndex(s, path,
        e.filter(col("vec_id") % 10 === 1).select(col("vec_id")), "vec_id", countPresent = true) > 0,
      "q182: the 10% request must hit the index")
    stage(e.filter(col("vec_id") % 10 =!= 1), 10)
    require(graft.search.IVF.deleteFromIndex(s, path,
        e.filter(col("vec_id") % 10 isin (3, 5)).select(col("vec_id")),
        "vec_id", countPresent = true) > 0,
      "q182: the 30% request must hit the index")
    stage(e.filter(!(col("vec_id") % 10 isin (1, 3, 5))), 30)
    rows.reduce(_ unionAll _).orderBy("family", "del_pct", "knob")
  }

  /** q182's replay: geometry (centroids + assignment) over the FULL
    * corpus, exact truth and candidate set filtered to each stage's
    * live slice, at both probe widths. */
  val q182Sql: String = {
    val denom = s"${recallNq * recallK}.0"
    def stage(tag: String, pred: String): String =
      s"""l$tag AS (SELECT vec_id, v FROM e WHERE $pred),
       ex$tag AS (SELECT qid, vec_id FROM (
           SELECT q.qid, l.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(l.v, q.qv) DESC, l.vec_id) AS r
           FROM l$tag l, q) WHERE r <= $recallK)"""
    def appx(tag: String, p: Int): String =
      s"""iv${tag}_$p AS (SELECT qid, vec_id FROM (
           SELECT pr.qid, a.vec_id,
             ROW_NUMBER() OVER (PARTITION BY pr.qid
               ORDER BY list_dot_product(a.v, pr.qv) DESC, a.vec_id) AS r2
           FROM a JOIN (SELECT qid, cid, qv FROM pq WHERE r <= $p) pr
             ON a.cid = pr.cid
           JOIN l$tag l ON a.vec_id = l.vec_id) WHERE r2 <= $recallK)"""
    def outRow(tag: String, pct: Int, p: Int): String =
      s"""SELECT 'ivf' AS family, CAST($pct AS BIGINT) AS del_pct,
           'nprobe=$p' AS knob, ROUND(COUNT(*) / $denom, 4) AS recall
         FROM ex$tag JOIN iv${tag}_$p USING (qid, vec_id)"""
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $recallNq),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       pq AS (SELECT q.qid, c.cid, q.qv,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM q, c),
       ${stage("0", "TRUE")},
       ${stage("10", "vec_id % 10 <> 1")},
       ${stage("30", "vec_id % 10 NOT IN (1, 3, 5)")},
       ${appx("0", ivfProbe)}, ${appx("0", ivfK)},
       ${appx("10", ivfProbe)}, ${appx("10", ivfK)},
       ${appx("30", ivfProbe)}, ${appx("30", ivfK)}
       SELECT family, del_pct, knob, recall FROM (
         ${outRow("0", 0, ivfProbe)}
         UNION ALL ${outRow("0", 0, ivfK)}
         UNION ALL ${outRow("10", 10, ivfProbe)}
         UNION ALL ${outRow("10", 10, ivfK)}
         UNION ALL ${outRow("30", 30, ivfProbe)}
         UNION ALL ${outRow("30", 30, ivfK)})
       ORDER BY family, del_pct, knob"""
  }

  /** THE GRAPH CELL OF THE SAME DIAL — and the family where deferral
    * DOES cost quality: a graph beam navigates THROUGH tombstoned
    * nodes (their edges still route — the q129 over-retrieval
    * argument) but cannot SERVE them, so hidden members crowd the
    * beam's candidate budget. At the serving beam (ef = 48 ≫ k) the
    * crowding is absorbed — the floor gate pins recall ≥ 0.9 at
    * EVERY delete fraction, q95's pristine floor carried into the
    * tombstoned regime. At the minimal beam (ef = k) the output rows
    * record how recall decays with the fraction — the measured
    * answer to "when must the valve fire for quality, not just for
    * sidecar size". Rows-only per the graph ✗ discipline; the ≥0.9
    * floor and the exactness of the 0% full-beam row are the
    * in-query gates. */
  def q183GraphRecallDeletion(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q183")
    cloneTree(graphIndexPath(s, dir), path)
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probe = graphProbeFor(s, dir)
    def row(live: DataFrame, delPct: Int, ef: Int): DataFrame =
      Search.multiTopK(live, "vec_id", "v", qs, "qid", "qv", recallK)
        .select(col("qid"), col("vec_id"))
        .join(GraphAnn.searchIndexMulti(s, path, "vec_id",
            qs, "qid", "qv", recallK, ef, probeParts = probe)
            .select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit((recallNq * recallK).toDouble), 4)
          .as("recall"))
        .select(lit("graph").as("family"),
          lit(delPct.toLong).as("del_pct"),
          lit(s"ef=$ef").as("knob"), col("recall"))
        .localCheckpoint() // 1 row; floor gate and union share it
    val rows = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(live: DataFrame, delPct: Int): Unit = {
      val serving = row(live, delPct, graphEf)
      require(serving.head().getDouble(3) >= 0.9,
        s"q183: serving-beam recall floor (0.9) broken at del=$delPct%")
      rows += serving += row(live, delPct, recallK)
    }
    stage(e, 0)
    require(GraphAnn.deleteFromIndex(s, path,
        e.filter(col("vec_id") % 10 === 1).select(col("vec_id")), "vec_id", countPresent = true) > 0,
      "q183: the 10% request must hit the index")
    stage(e.filter(col("vec_id") % 10 =!= 1), 10)
    require(GraphAnn.deleteFromIndex(s, path,
        e.filter(col("vec_id") % 10 isin (3, 5)).select(col("vec_id")),
        "vec_id", countPresent = true) > 0,
      "q183: the 30% request must hit the index")
    stage(e.filter(!(col("vec_id") % 10 isin (1, 3, 5))), 30)
    rows.reduce(_ unionAll _).orderBy("family", "del_pct", "knob")
  }

  // ---------- noise QA / FHE-as-contract (V9, M7, R7, M8) ----------

  /** V9/M7: corpus-wide noise QA — mean/min/max cosine between each
    * vector and its deterministically-perturbed twin, one aggregate
    * row. Per-row cosines are rounded before averaging so partial-agg
    * summation order can't leak into the 6dp output. */
  def q17NoiseQa(s: SparkSession, dir: String): DataFrame = {
    val noisy = addNoise(col("v"), col("vec_id"), 0.15)
    emb(s, dir)
      .select(round(dot(col("v"), noisy), 6).as("c"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("c")), 6).as("mean_cos"),
        round(min(col("c")), 6).as("min_cos"),
        round(max(col("c")), 6).as("max_cos"))
  }

  val q17Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       nv AS (SELECT vec_id, i.i AS i, v[i.i + 1] AS x,
                v[i.i + 1] + ((((vec_id % 2147483648)*1103515245 + i.i*12345) % 1000003) / 1000003.0 - 0.5) * 0.15 AS y
              FROM e, (SELECT UNNEST(generate_series(0, 63)) AS i) i),
       agg AS (SELECT vec_id, SUM(x*y) AS xy, SUM(y*y) AS yy FROM nv GROUP BY vec_id),
       c AS (SELECT ROUND(xy / (sqrt(yy) + 1e-9), 6) AS c FROM agg)
       SELECT COUNT(*) AS n, ROUND(AVG(c), 6) AS mean_cos,
         ROUND(MIN(c), 6) AS min_cos, ROUND(MAX(c), 6) AS max_cos FROM c"""

  /** R7: the "FHE" encrypted scan as its observable semantic — exact
    * dot products with bounded deterministic ε-noise (CKKS decrypt
    * noise stand-in), same top-k plan shape. */
  val fheEps = 0.002; val fheSeed = 7L
  def q18FheSim(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.search.NoisyScan.noisyTopK(e, "vec_id", "v",
      e.filter(col("vec_id") === 0).select(col("v").as("qv")), "qv", 10,
      fheEps, fheSeed)
      .orderBy("rank")
  }

  private def noisySql(eps: Double, seed: Long): String =
    s"""((((vec_id % 2147483648 + $seed) % 2147483648) * 1103515245 + 12345) % 1000003) / 1000003.0 * $eps - ${eps / 2}"""

  val q18Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       sc AS (SELECT vec_id, list_dot_product(v, qv) + (${noisySql(fheEps, fheSeed)}) AS sc
              FROM e, q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** M8: overlap fraction between the noisy ("FHE") top-10 and the
    * exact top-10 — the reference's encrypted-vs-plaintext sanity
    * check, as a single-row aggregate. */
  def q19FheOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val noisy = graft.search.NoisyScan.noisyTopK(e, "vec_id", "v", q, "qv", 10, fheEps, fheSeed)
    val exact = Search.topK(e, "vec_id", "v", q, "qv", 10)
    graft.search.NoisyScan.overlap(noisy, exact, "vec_id", 10)
      .select(round(col("overlap"), 6).as("overlap"))
  }

  val q19Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       sc AS (SELECT vec_id, list_dot_product(v, qv) AS ex,
                list_dot_product(v, qv) + (${noisySql(fheEps, fheSeed)}) AS no
              FROM e, q),
       a AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY no DESC, vec_id) AS r FROM sc) WHERE r <= 10),
       b AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY ex DESC, vec_id) AS r FROM sc) WHERE r <= 10)
       SELECT ROUND(COUNT(*) / 10.0, 6) AS overlap FROM a JOIN b USING (vec_id)"""

  // ---------- ranking metrics (M1–M5) ----------

  /** Full-dim exact kNN vs random-projected (64→16) kNN, 5 queries:
    * recall/precision/agreement/MRR and the reference's unnormalized
    * "NDCG" (SURVEY §2 M5) as one grouped aggregate per query. */
  def q40RankMetrics(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val base = Search.multiTopK(e, "vec_id", "v", queries, "qid", "qv", 10)
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    val proj = e.select(col("vec_id"), randomProjection(col("v"), 16).as("v"))
    val queriesP = proj.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val other = Search.multiTopK(proj, "vec_id", "v", queriesP, "qid", "qv", 10)
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    RankMetrics.all(base, other, 10)
      .select(col("qid"),
        round(col("recall"), 6).as("recall"),
        round(col("precision"), 6).as("precision"),
        round(col("agreement"), 6).as("agreement"),
        round(col("mrr"), 6).as("mrr"),
        round(col("ndcg_ref"), 6).as("ndcg_ref"))
      .orderBy("qid")
  }

  val q40Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       p AS (SELECT vec_id, list_transform(generate_series(0, 15),
               j -> list_sum(list_transform(generate_series(0, 63),
                 i -> v[i + 1] * ((((i*31 + j*17) % 7) - 3) / 3.0)))) AS v
             FROM e),
       base AS (SELECT qid, vec_id AS id, rank FROM (
           SELECT q.vec_id AS qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_dot_product(e.v, q.v) DESC, e.vec_id) AS rank
           FROM e, (SELECT * FROM e WHERE vec_id < 5) q) WHERE rank <= 10),
       other AS (SELECT qid, vec_id AS id, rank FROM (
           SELECT q.vec_id AS qid, p.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_dot_product(p.v, q.v) DESC, p.vec_id) AS rank
           FROM p, (SELECT * FROM p WHERE vec_id < 5) q) WHERE rank <= 10),
       j AS (SELECT o.qid, o.rank AS orank, b.rank AS brank,
               1.0 / log2(o.rank + 1.0) AS g
             FROM other o LEFT JOIN base b ON o.qid = b.qid AND o.id = b.id)
       SELECT qid,
         ROUND(COUNT(brank) / 10.0, 6) AS recall,
         ROUND(CAST(COUNT(brank) AS DOUBLE) / COUNT(*), 6) AS precision,
         ROUND(AVG(CASE WHEN brank = orank THEN 1.0 ELSE 0.0 END), 6) AS agreement,
         ROUND(COALESCE(MAX(CASE WHEN brank IS NOT NULL THEN 1.0 / orank END), 0), 6) AS mrr,
         ROUND(SUM(g * COALESCE(brank, 0)) / SUM(g), 6) AS ndcg_ref
       FROM j GROUP BY qid ORDER BY qid"""

  /** q40's 5-row result, materialized once per (session, dir-content):
    * q44 is the mean over exactly this frame, and without the memo it
    * would re-run both multiTopK corpus scans wholesale (0.8 s of
    * pure recompute per bench run). Memo.cached fingerprints the dir,
    * so rewritten testdata gets fresh rows, not stale ones. */
  private def q40Materialized(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "q40")(q40RankMetrics(s, dir))

  /** M6: mean of every ranking metric over the query set — the
    * reference's `df.mean(numeric_only=True)` summary row. */
  def q44MetricsMean(s: SparkSession, dir: String): DataFrame =
    q40Materialized(s, dir)
      .agg(round(avg(col("recall")), 6).as("recall"),
        round(avg(col("precision")), 6).as("precision"),
        round(avg(col("agreement")), 6).as("agreement"),
        round(avg(col("mrr")), 6).as("mrr"),
        round(avg(col("ndcg_ref")), 6).as("ndcg_ref"))

  val q44Sql: String =
    s"""SELECT ROUND(AVG(recall), 6) AS recall, ROUND(AVG(precision), 6) AS precision,
       ROUND(AVG(agreement), 6) AS agreement, ROUND(AVG(mrr), 6) AS mrr,
       ROUND(AVG(ndcg_ref), 6) AS ndcg_ref
       FROM ($q40Sql)"""

  /** E1/E2: distributed hash-featurizer embedding over the documents
    * table (mapPartitions, one embedder per partition). The portable
    * md5-prefix featurizer replays in SQL (embedCteSql), so this is
    * fully oracle-checked; EmbedderSpec pins the semantics (dim, unit
    * norm, determinism). */
  def q43EmbedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 200)
    graft.embed.Embed.embedDocs(docs, "doc_id", "text",
        new graft.embed.PortableHashEmbedder(64))
      .select(col("doc_id"),
        round(element_at(col("vec"), 1).cast("double"), 6).as("e0"),
        round(norm2(col("vec")), 6).as("norm"))
      .orderBy("doc_id")
  }

  /** The portable feature-hash embedding replayed relationally:
    * token → md5-prefix hash → (bucket, sign) → integer bucket sums →
    * double normalize → ONE rounding to float per element. Shared by
    * the q43/q46/q49 oracles. Ends in a `vf(doc_id, j, x)` CTE of
    * dense float-rounded components over `$base(doc_id, textExpr)`.
    * The tokenizer is PortableHashEmbedder's: non-empty runs of
    * non-whitespace with the class spelled out — see the scaladoc
    * there for why neither trim nor \\s survives cross-engine. */
  private[graft] def embedCteSql(base: String, textExpr: String,
                                 dim: Int, prefix: String): String =
    s"""${prefix}tok AS (SELECT doc_id, unnest(regexp_extract_all(lower($textExpr), '[^ \\t\\n\\r\\f]+')) AS tok
         FROM $base),
       ${prefix}h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM ${prefix}tok),
       ${prefix}cnt AS (SELECT doc_id, CAST(h % $dim AS INT) AS j,
             CAST(SUM(CASE WHEN (h // 65536) % 2 = 1 THEN 1 ELSE -1 END) AS DOUBLE) AS c
           FROM ${prefix}h GROUP BY doc_id, j),
       ${prefix}grid AS (SELECT b.doc_id, j.j FROM $base b,
           (SELECT unnest(generate_series(0, ${dim - 1})) AS j) j),
       ${prefix}dense AS (SELECT g.doc_id, g.j, COALESCE(c.c, 0.0) AS c
           FROM ${prefix}grid g LEFT JOIN ${prefix}cnt c
             ON g.doc_id = c.doc_id AND g.j = c.j),
       ${prefix}nrm AS (SELECT doc_id, sqrt(SUM(c*c)) + 1e-9 AS nrm
           FROM ${prefix}dense GROUP BY doc_id),
       ${prefix}vf AS (SELECT d.doc_id, d.j, CAST(CAST(d.c / n.nrm AS REAL) AS DOUBLE) AS x
           FROM ${prefix}dense d JOIN ${prefix}nrm n ON d.doc_id = n.doc_id)"""

  val q43Sql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
       ${embedCteSql("base", "text", 64, "")},
       vec AS (SELECT doc_id, list(x ORDER BY j) AS v FROM vf GROUP BY doc_id)
       SELECT doc_id,
         ROUND(v[1], 6) AS e0,
         ROUND(sqrt(list_sum(list_transform(v, z -> z*z))), 6) AS norm
       FROM vec ORDER BY doc_id"""

  /** E2 end-to-end: the reference's DP attribute flow
    * (`src/pipeline/pipeline_mode.py:60-104`) with a REAL attribute
    * embedding, not the q15 synthetic stand-in. Attribute text
    * "{lang} {source} {n_chars}" (Embed.attrText — the reference's
    * f"{name} {gender} {age} {city}", :68-71) → hash embedder →
    * deterministic noise at the reference's default sigma 0.15
    * (`src/main.py:16`) → renormalize → normalize(0.7·text ⊕
    * 0.3·noisy_attr) (:83-86) → top-10 with a zero-attribute query
    * vector (:98-104). Text and attribute vectors come from ONE
    * mapPartitions pass (Embed.embedDocsAttr) — one corpus scan, no
    * self-join of two embedding passes. Fully oracle-checked via the
    * portable featurizer (q49Sql replays the whole flow); EmbedderSpec
    * pins the semantics and the retrieval drift vs exact text-only
    * search. */
  def q49DpAttrSearch(s: SparkSession, dir: String): DataFrame = {
    // repartition the RAW rows (narrow: id + texts) before the
    // CPU-bound embed, so both the embedding and the vector math run
    // on all cores (the small parquet arrives as one split) and no
    // wide post-embed shuffle is needed
    val raw = docs(s, dir).select(col("doc_id"), col("text"),
      graft.embed.Embed.attrText(Seq("lang", "source", "n_chars")).as("atext"))
      .repartition(col("doc_id"))
    val both = graft.embed.Embed.embedDocsAttr(raw, "doc_id", "text", "atext",
      new graft.embed.PortableHashEmbedder(64),
      new graft.embed.PortableHashEmbedder(attrDim49))
    // staged projections (as in q15): each step's array materializes
    // as a column attribute, so the next step's multiple references
    // read it instead of re-evaluating the upstream subtree
    val dpDocs = both
      .select(col("doc_id"), col("vec"),
        addNoise(col("avec"), col("doc_id"), 0.15).as("na"))
      .select(col("doc_id"),
        weightedConcat(col("vec"), 0.7, col("na"), 0.3).as("w"))
      .select(col("doc_id"), l2normalize(col("w")).as("dpv"))
    // query text encoded with the same model, zero attribute pad —
    // exactly the reference's query path (:92-104)
    // q49Sql carries a literal copy of these terms (cyclic-init rule);
    // fail loudly if they ever drift apart
    require(Queries.bm25Terms == Seq("spark", "hash", "join"),
      "q49Sql's literal query terms are out of sync with Queries.bm25Terms")
    val qv = new graft.embed.PortableHashEmbedder(64)
      .embed(Queries.bm25Terms.mkString(" "))
      .map(_.toDouble).toSeq
    val query = s.range(1)
      .select(Search.dpQueryVec(typedLit(qv), attrDim49, 0.7).as("qv"))
    Search.topK(dpDocs, "doc_id", "dpv", query, "qv", 10).orderBy("rank")
  }

  private val attrDim49 = 16

  /** q49's oracle: the whole DP attribute flow replayed — portable
    * text + attribute embeddings (list-ordered, so every float chain
    * is sequential like the Scala fold), per-doc seeded noise on the
    * attribute vector (q14's pseudoUniform, 0-based dims → the
    * 1-based lambda index shifts by one), 0.7/0.3 weighted concat,
    * renormalize, and the zero-attribute query built from the SAME
    * portable embedding of the literal query terms. */
  val q49Sql: String = {
    // literal copy of Queries.bm25Terms — catalog objects must not
    // reference Queries during their own init (cyclic-init NPE);
    // q49DpAttrSearch guards the copy with a require at call time
    val qText = "'" + Seq("spark", "hash", "join").mkString(" ") + "'"
    def normalize(l: String) =
      s"list_transform($l, v -> v / (sqrt(list_sum(list_transform($l, z -> z*z))) + 1e-9))"
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       abase AS (SELECT doc_id, concat_ws(' ',
             COALESCE(CAST(lang AS VARCHAR), ''),
             COALESCE(CAST(source AS VARCHAR), ''),
             COALESCE(CAST(n_chars AS VARCHAR), '')) AS atext
           FROM documents),
       ${embedCteSql("base", "text", 64, "")},
       ${embedCteSql("abase", "atext", attrDim49, "a")},
       tv AS (SELECT doc_id, list(x ORDER BY j) AS t FROM vf GROUP BY doc_id),
       av AS (SELECT doc_id, list(x ORDER BY j) AS a FROM avf GROUP BY doc_id),
       nz AS (SELECT doc_id, list_transform(a, (x, i) ->
             x + ((((doc_id % 2147483648) * 1103515245 + (i-1) * 12345) % 1000003)
                  / 1000003.0 - 0.5) * 0.15) AS y FROM av),
       nn AS (SELECT doc_id, ${normalize("y")} AS na FROM nz),
       w AS (SELECT tv.doc_id,
             list_concat(list_transform(t, v -> v * 0.7),
                         list_transform(na, v -> v * 0.3)) AS w
           FROM tv JOIN nn ON tv.doc_id = nn.doc_id),
       dp AS (SELECT doc_id, ${normalize("w")} AS dpv FROM w),
       qbase AS (SELECT 0 AS doc_id, $qText AS qtext),
       ${embedCteSql("qbase", "qtext", 64, "q")},
       qvec AS (SELECT list(x ORDER BY j) AS q FROM qvf GROUP BY doc_id),
       qw AS (SELECT list_concat(list_transform(q, v -> v * 0.7),
             list_transform(generate_series(1, $attrDim49), x -> 0.0)) AS qw FROM qvec),
       dq AS (SELECT ${normalize("qw")} AS qv FROM qw),
       sc AS (SELECT doc_id, list_dot_product(dpv, qv) AS s FROM dp, dq),
       r AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank,
             ROUND(s, 6) AS score FROM sc)
       SELECT doc_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  /** Composite chunk key stride: doc_id · 4096 + chunk_id. Chunks per
    * doc are bounded by ⌈tokens/stride⌉, far under 4096 for this
    * corpus — the require in [[chunkVecs]] keeps the bound honest. */
  private val pdChunkMul = 4096L

  /** The declared ≤200-doc slice chunked under the composite key and
    * embedded — the doc side BOTH chunk-level retrieval queries score
    * (q119 parent-doc max-pool, q123 MaxSim), factored out so the
    * key-aliasing guard cannot drift out of one of them: a doc whose
    * chunk_id reaches the key stride would silently fold its spilled
    * chunks into the NEXT doc's scores. Chunking is a narrow per-doc
    * explode; the embed rides one mapPartitions scan (repartitioned
    * first so the CPU-bound stage parallelizes). MEMOIZED per
    * (session, dir-content) and charged to `_build_chunk_vecs` —
    * chunk embeddings are a precomputed serving artifact in
    * production (the passage index), not per-query work, so neither
    * retrieval query pays the embed twice. */
  private[graft] def chunkVecs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "chunk_vecs")(chunkVecsBuild(s, dir))

  private def chunkVecsBuild(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") < 200)
    val ch = graft.text.Chunker.chunkRows(base, "doc_id", "text",
        PrepQueries.chunkSize, PrepQueries.chunkStride)
      .select((col("doc_id") * pdChunkMul + col("chunk_id")).as("ckey"),
        col("chunk_id"), col("chunk_text"))
    // composite-key safety: chunk ids must stay under the stride
    // (one tiny agg over the narrow chunk rows — metadata-scale)
    require(ch.agg(max(col("chunk_id"))).head().getLong(0) < pdChunkMul,
      s"chunked slice: a document exceeds $pdChunkMul chunks; widen pdChunkMul")
    graft.embed.Embed.embedDocs(
        ch.select(col("ckey"), col("chunk_text")).repartition(col("ckey")),
        "ckey", "chunk_text", new graft.embed.PortableHashEmbedder(64))
      .select(col("ckey"), col("vec").cast("array<double>").as("v"))
  }

  /** PARENT-DOCUMENT RETRIEVAL (the passage-level serving pattern):
    * documents are chunked into overlapping token windows (q72's
    * chunker), every CHUNK is embedded and scored against the query,
    * and each document is ranked by its BEST chunk — returning the
    * winning chunk as the citation witness plus the doc's chunk
    * count. This is the standard long-document recipe (a whole-doc
    * embedding dilutes a relevant passage; chunk-level scoring with
    * doc-level max-pooling recovers it) — the retrieval twin of
    * q72's chunking audit. Shape: chunking is a narrow per-doc
    * explode, embedding rides one mapPartitions corpus scan
    * (repartitioned first so the CPU-bound embed parallelizes), the
    * per-doc argmax is a doc-keyed window over chunk rows (partition-
    * parallel), and only the final 10 rows sort globally — post-limit
    * rank window. Fully oracle-checked: chunk text, the portable
    * featurizer, scoring, and the max-pool all replay in SQL. */
  def q119ParentDoc(s: SparkSession, dir: String): DataFrame = {
    require(Queries.bm25Terms == Seq("spark", "hash", "join"),
      "q119Sql's literal query terms are out of sync with Queries.bm25Terms")
    val cv = chunkVecs(s, dir)
    val qv = new graft.embed.PortableHashEmbedder(64)
      .embed(Queries.bm25Terms.mkString(" ")).map(_.toDouble).toSeq
    val scored = cv
      .select(expr(s"ckey div $pdChunkMul").as("doc_id"),
        pmod(col("ckey"), lit(pdChunkMul)).as("chunk_id"),
        dot(col("v"), typedLit(qv)).as("__s"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val best = scored
      .withColumn("n_chunks", count(lit(1)).over(w).cast("long"))
      .withColumn("__r",
        row_number().over(w.orderBy(col("__s").desc, col("chunk_id").asc)))
      .filter(col("__r") === 1)
    best
      .orderBy(col("__s").desc, col("doc_id").asc)
      .limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("__s").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rank"), col("chunk_id"), col("n_chunks"),
        round(col("__s"), 6).as("score"))
      .orderBy("rank")
  }

  val q119Sql: String = {
    val sz = PrepQueries.chunkSize; val st = PrepQueries.chunkStride
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents WHERE doc_id < 200),
       sch AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $st)) AS stt FROM t),
       base AS (SELECT doc_id * $pdChunkMul + ((stt - 1) // $st) AS doc_id,
           array_to_string(toks[stt : stt + ${sz - 1}], ' ') AS ctext FROM sch),
       ${embedCteSql("base", "ctext", 64, "")},
       cv AS (SELECT doc_id AS ckey, list(x ORDER BY j) AS v FROM vf GROUP BY doc_id),
       qbase AS (SELECT 0 AS doc_id, 'spark hash join' AS qtext),
       ${embedCteSql("qbase", "qtext", 64, "q")},
       qvec AS (SELECT list(x ORDER BY j) AS qv FROM qvf GROUP BY doc_id),
       sc AS (SELECT ckey // $pdChunkMul AS doc_id, ckey % $pdChunkMul AS chunk_id,
              list_dot_product(v, qv) AS s FROM cv, qvec),
       best AS (SELECT doc_id, chunk_id, s, n_chunks FROM (
           SELECT doc_id, chunk_id, s,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, chunk_id) AS r
           FROM sc) WHERE r = 1),
       r AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank,
             chunk_id, n_chunks, ROUND(s, 6) AS score FROM best)
       SELECT doc_id, rank, chunk_id, n_chunks, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  // ---------- hybrid retrieval (R4/R5) ----------

  /** R4: vector top-20 ∪ BM25 top-20 with provenance flags — the
    * honest order-free union semantic of the reference's
    * `list(set(a)|set(b))`, plus which leg found each candidate. */
  def q41Hybrid(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val vec = Search.topK(e, "vec_id", "v",
      e.filter(col("vec_id") === 0).select(col("v").as("qv")), "qv", 20)
      .select(col("vec_id").as("id"), lit(1).as("in_vec"))
    val lex = BM25.searchIndexed(s, Queries.bm25IndexPath(s, dir),
        Queries.bm25Postings(s, dir),
        Queries.bm25Stats(s, dir), Queries.bm25Terms, 20)
      .select(col("doc").as("id"), lit(1).as("in_lex"))
    vec.join(lex, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("in_vec"), lit(0)).as("in_vec"),
        coalesce(col("in_lex"), lit(0)).as("in_lex"))
      .orderBy("id")
  }

  val q41Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       vec AS (SELECT vec_id AS id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY list_dot_product(v, qv) DESC, vec_id) AS rank
           FROM e, q) WHERE rank <= 20),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lex AS (SELECT doc_id AS id FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           WHERE rank <= 20)
       SELECT COALESCE(v.id, l.id) AS id,
         CASE WHEN v.id IS NOT NULL THEN 1 ELSE 0 END AS in_vec,
         CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END AS in_lex
       FROM vec v FULL OUTER JOIN lex l ON v.id = l.id
       ORDER BY id"""

  /** RRF constant (Cormack et al., SIGIR 2009) and fusion depth. */
  val rrfC = 60; val rrfDepth = 20

  /** R4 (rank-fusion form): q41's two candidate streams — exact
    * vector top-20 and indexed BM25 top-20 over the same query —
    * fused by reciprocal-rank fusion instead of the unscored set
    * union: `score = 1/(60+rank_vec) + 1/(60+rank_lex)`, absent terms
    * 0, final top-10 by fused score. Rank-only fusion needs no score
    * calibration between the cosine and BM25 scales, which is what
    * makes it the production default for hybrid serving. The oracle
    * replays both rankings and the fused arithmetic; the exchange is
    * bounded by the two k-row candidate lists. */
  def q118RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val vec = Search.topK(e, "vec_id", "v",
      e.filter(col("vec_id") === 0).select(col("v").as("qv")), "qv", rrfDepth)
    val lex = BM25.searchIndexed(s, Queries.bm25IndexPath(s, dir),
      Queries.bm25Postings(s, dir),
      Queries.bm25Stats(s, dir), Queries.bm25Terms, rrfDepth)
    Hybrid.rrfFuse(vec, "vec_id", lex, "doc", rrfC, 10)
      .orderBy("rank")
  }

  val q118Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       vr AS (SELECT vec_id AS id, rank FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY list_dot_product(v, qv) DESC, vec_id) AS rank
           FROM e, q) WHERE rank <= $rrfDepth),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lr AS (SELECT doc_id AS id, rank FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           WHERE rank <= $rrfDepth),
       f AS (SELECT COALESCE(v.id, l.id) AS id,
           COALESCE(1.0 / ($rrfC + v.rank), 0.0) + COALESCE(1.0 / ($rrfC + l.rank), 0.0) AS s
         FROM vr v FULL OUTER JOIN lr l ON v.id = l.id),
       r AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank,
                    ROUND(s, 6) AS score FROM f)
       SELECT id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  // ---------- q142: hybrid serving from at-rest indexes ----------

  /** THE PRODUCTION RAG SERVING PATH — q118's fusion with BOTH legs
    * reading AT-REST artifacts through their read contracts, because
    * at 100 TB neither leg can afford a per-query corpus scan: the
    * vector candidates come from the persisted IVF index via a
    * PINNED generation read (resolve [[graft.search.IVF
    * .currentGeneration]] once, serve through
    * [[graft.search.IVF.searchIndexPinned]] — the long-running
    * server's snapshot discipline, coherent across any concurrent
    * compaction/rebuild flip), probing [[ivfProbe]] partition-pruned
    * lists; the lexical candidates come from the materialized BM25
    * postings (bucket-pruned term reads, q20's artifact); RRF fuses
    * the two k-row rank lists. The exchange after the index reads is
    * bounded by 2·[[rrfDepth]] rows. The oracle replays the IVF
    * approximation exactly (q45's centroid/assign/probe chain at
    * fusion depth) plus q118's postings scoring and fused
    * arithmetic — so the hash gate certifies the SERVED
    * approximation, not an idealized exact ranking. */
  def q142PersistedRag(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = persistedListsPath(s, dir, "ivf_idx0", ivfCents0(s, dir))
    val pin = graft.search.IVF.currentGeneration(path)
    val vec = graft.search.IVF.searchIndexPinned(s, path, pin, "vec_id", "v",
      e.filter(col("vec_id") === 0).select(col("v").as("qv")), "qv",
      rrfDepth, ivfProbe)
    val lex = BM25.searchIndexed(s, Queries.bm25IndexPath(s, dir),
      Queries.bm25Postings(s, dir),
      Queries.bm25Stats(s, dir), Queries.bm25Terms, rrfDepth)
    Hybrid.rrfFuse(vec, "vec_id", lex, "doc", rrfC, 10)
      .orderBy("rank")
  }

  val q142Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       vs AS (SELECT a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid),
       vr AS (SELECT vec_id AS id, rank FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS rank
           FROM vs) WHERE rank <= $rrfDepth),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lr AS (SELECT doc_id AS id, rank FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           WHERE rank <= $rrfDepth),
       f AS (SELECT COALESCE(v.id, l.id) AS id,
           COALESCE(1.0 / ($rrfC + v.rank), 0.0) + COALESCE(1.0 / ($rrfC + l.rank), 0.0) AS s
         FROM vr v FULL OUTER JOIN lr l ON v.id = l.id),
       r AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, id) AS BIGINT) AS rank,
                    ROUND(s, 6) AS score FROM f)
       SELECT id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  // ---------- q172: fully-pinned hybrid across concurrent flips ----------

  /** THE SERVING TIER'S CONSISTENCY STORY, COMPLETED — q142 pins the
    * vector leg; this row pins BOTH legs and flips BOTH indexes
    * underneath them: a long-running hybrid server resolves its two
    * read contracts ONCE at session start ([[graft.search.IVF
    * .currentGeneration]] for the lists, [[graft.Queries
    * .postingsLivePath]] for the postings generation), maintenance
    * then compacts BOTH artifacts (an IVF CURRENT flip and a
    * metastore-rename postings flip) under the standing pins, and
    * the server keeps serving the fused answer from the two
    * SUPERSEDED generations — each paired with its own sidecar, each
    * held by its family's grace window — while the gates prove the
    * flips really happened and that the pinned fusion equals the
    * flipped generations' fusion ROW FOR ROW (compaction moves
    * bytes, never content — across two index families at once).
    * Oracle: q142's replay verbatim — pin, flip, and fresh
    * generations all serve one truth. */
  def q172PinnedHybrid(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val ivfPath = PipelineQueries.roundtripPath(dir, "q172_ivf")
    cloneIndexTo(ivfFullSrc(s, dir), ivfPath)
    val tbl = "bm25_pinh_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val postPath = PipelineQueries.roundtripPath(dir, "q172_post")
    Option(new java.io.File(postPath).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q172_post"))
      .foreach(graft.FileTree.delete)
    Queries.clonePostingsTo(s, Queries.postingsSrcFull(s, dir), tbl, postPath)
    // the server's session start: pin BOTH read contracts once
    val ivfPin = graft.search.IVF.currentGeneration(ivfPath)
    val lexPin = Queries.postingsLivePath(s, tbl)
    // maintenance flips BOTH indexes under the standing pins
    graft.search.IVF.compactIndex(s, ivfPath)
    val lexLive = Queries.compactPostings(s, tbl, lexPin)
    require(graft.search.IVF.currentGeneration(ivfPath) != ivfPin,
      "q172: the IVF compaction must flip the CURRENT pointer")
    require(lexLive != lexPin,
      "q172: the postings compaction must flip the metastore location")
    val qdf = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the pinned serve: both legs from the superseded generations
    val fusedPinned = rows(Hybrid.rrfFuse(
      graft.search.IVF.searchIndexPinned(s, ivfPath, ivfPin, "vec_id", "v",
        qdf, "qv", rrfDepth, ivfProbe),
      "vec_id",
      BM25.searchIndexedPinned(s, lexPin, Queries.bm25Terms, rrfDepth),
      "doc", rrfC, 10))
    // the flipped generations fuse the identical answer
    val post = s.table(tbl)
    val fusedLive = rows(Hybrid.rrfFuse(
      graft.search.IVF.searchIndex(s, ivfPath, "vec_id", "v",
        qdf, "qv", rrfDepth, ivfProbe),
      "vec_id",
      BM25.searchIndexed(s, lexLive, post,
        BM25.statsFromPostings(post), Queries.bm25Terms, rrfDepth),
      "doc", rrfC, 10))
    require(fusedPinned == fusedLive,
      "q172: the pinned fusion must equal the flipped generations' fusion")
    import s.implicits._
    fusedPinned.toDF("id", "rank", "score").orderBy("rank")
  }

  // ---------- q178: pinned multi-query hybrid server ----------

  /** THE PRODUCTION BATCH SERVER, SNAPSHOT-ISOLATED — q150's
    * multi-query hybrid serve composed with q172's dual pin: a batch
    * server pins BOTH read contracts once at session start
    * ([[graft.search.IVF.currentGeneration]] + [[graft.Queries
    * .postingsLivePath]]), maintenance compacts BOTH indexes under
    * the standing pins, and the server answers the whole query batch
    * from the two superseded generations — ONE pinned
    * partition-pruned lists scan for every vector query
    * ([[graft.search.IVF.searchIndexMultiPinned]], new) and ONE
    * pinned postings scan for every term set ([[graft.lexical.BM25
    * .searchIndexedMultiPinned]], new), RRF-fused per qid. The gate:
    * the pinned batch fusion equals the flipped generations' batch
    * fusion ROW FOR ROW — compaction moves bytes, never content, and
    * the multi-query path inherits the single-query pin's coherence
    * (each generation paired with its own sidecar, held by its
    * family's grace window). Round 16: a forget request lands on
    * BOTH legs before the pins, so the equality gate exercises the
    * (generation, sidecar) PAIRING — the pinned serves hide the
    * request via their sidecars, the flipped serves physically lack
    * it. Oracle: q150's replay with the forget predicate per leg —
    * pin, flip, and fresh generations serve one truth for the whole
    * batch. */
  def q178PinnedHybridMulti(s: SparkSession, dir: String): DataFrame = {
    require(bm25MultiQueries.map(_._1) == multiQids,
      "q178's routing qids are out of sync with multiQids")
    val e = emb(s, dir)
    val ivfPath = PipelineQueries.roundtripPath(dir, "q178_ivf")
    cloneIndexTo(ivfFullSrc(s, dir), ivfPath)
    val tbl = "bm25_pinm_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val postPath = PipelineQueries.roundtripPath(dir, "q178_post")
    Option(new java.io.File(postPath).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q178_post"))
      .foreach(graft.FileTree.delete)
    Queries.clonePostingsTo(s, Queries.postingsSrcFull(s, dir), tbl, postPath)
    // round-16: a small forget request lands on BOTH legs BEFORE the
    // pins, so the pinned-equals-flipped gate exercises the
    // (generation, sidecar) PAIRING, not just byte movement — the
    // pinned generations hide the request through their sidecars
    // while the flipped generations physically lack it; a serve that
    // paired either generation with the other's delete set would
    // break the row-for-row equality below
    val delVec = e.filter(col("vec_id") % 23 === 7).select(col("vec_id"))
    require(graft.search.IVF.deleteFromIndex(s, ivfPath, delVec, "vec_id", countPresent = true) > 0,
      "q178: the vector delete request must hit the live index")
    val delDoc = docs(s, dir).filter(col("doc_id") % 23 === 7)
      .select(col("doc_id").as("doc"))
    require(BM25.deleteFromPostings(s, postPath, s.table(tbl), delDoc) > 0,
      "q178: the lexical delete request must hit the live postings")
    // the server's session start: pin BOTH read contracts once
    val ivfPin = graft.search.IVF.currentGeneration(ivfPath)
    val lexPin = Queries.postingsLivePath(s, tbl)
    // maintenance flips BOTH indexes under the standing pins
    graft.search.IVF.compactIndex(s, ivfPath)
    val lexLive = Queries.compactPostings(s, tbl, lexPin)
    require(graft.search.IVF.currentGeneration(ivfPath) != ivfPin,
      "q178: the IVF compaction must flip the CURRENT pointer")
    require(lexLive != lexPin,
      "q178: the postings compaction must flip the metastore location")
    val qs = e.filter(col("vec_id").isin(multiQids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the pinned batch serve: both legs from the superseded
    // generations — the lexical pin through the BUCKET-PRUNED pin
    // table (the bucket spec captured at pin time, so the snapshot
    // reader keeps SelectedBucketsCount pruning; PlanSpec pins it)
    val lexPinTbl = Queries.pinPostingsTable(s, tbl, lexPin)
    val fusedPinned = rows(Hybrid.rrfFuseMulti(
      graft.search.IVF.searchIndexMultiPinned(s, ivfPath, ivfPin,
        "vec_id", "v", qs, "qid", "qv", rrfDepth, ivfProbe),
      "vec_id",
      BM25.searchIndexedMultiPinnedWith(s, lexPin, s.table(lexPinTbl),
        bm25MultiQueries, rrfDepth),
      "doc", rrfC, 10))
    // the flipped generations fuse the identical batch answer
    val post = s.table(tbl)
    val fusedLive = rows(Hybrid.rrfFuseMulti(
      graft.search.IVF.searchIndexMulti(s, ivfPath, "vec_id", "v",
        qs, "qid", "qv", rrfDepth, ivfProbe),
      "vec_id",
      BM25.searchIndexedMulti(s, lexLive, post,
        BM25.statsFromPostings(post), bm25MultiQueries, rrfDepth),
      "doc", rrfC, 10))
    require(fusedPinned == fusedLive,
      "q178: the pinned batch fusion must equal the flipped generations' fusion")
    import s.implicits._
    fusedPinned.toDF("qid", "id", "rank", "score").orderBy("qid", "rank")
  }

  // ---------- q150: multi-query hybrid from at-rest indexes ----------

  /** MULTI-QUERY HYBRID SERVING — q142's production RAG path for a
    * QUERY BATCH, reading each at-rest artifact ONCE for the whole
    * batch: the vector leg is [[graft.search.IVF.searchIndexMulti]]
    * (one partition-pruned lists scan filtered to the UNION of every
    * query's probed cells), the lexical leg is
    * [[graft.lexical.BM25.searchIndexedMulti]] (one bucket-pruned
    * postings scan scoring all term-sets), and
    * [[graft.hybrid.Hybrid.rrfFuseMulti]] fuses per qid over
    * ≤ 2·[[rrfDepth]] candidates each — the whole post-scan exchange
    * is O(queries × depth) rows. Every other serving family has its
    * multi-query row (q134 IVF, q135 SQ8, graph multi); this closes
    * the lexical and hybrid legs. The oracle replays both legs per
    * qid (the IVF approximation chain partitioned by qid, the BM25
    * scoring over a VALUES routing table) plus the fused arithmetic. */
  def q150HybridMulti(s: SparkSession, dir: String): DataFrame = {
    require(bm25MultiQueries.map(_._1) == multiQids,
      "q150Sql/q149 routing qids are out of sync with multiQids")
    val e = emb(s, dir)
    val path = persistedListsPath(s, dir, "ivf_idx0", ivfCents0(s, dir))
    val qs = e.filter(col("vec_id").isin(multiQids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val vec = graft.search.IVF.searchIndexMulti(s, path, "vec_id", "v",
      qs, "qid", "qv", rrfDepth, ivfProbe)
    val lex = BM25.searchIndexedMulti(s, Queries.bm25IndexPath(s, dir),
      Queries.bm25Postings(s, dir), Queries.bm25Stats(s, dir),
      bm25MultiQueries, rrfDepth)
    Hybrid.rrfFuseMulti(vec, "vec_id", lex, "doc", rrfC, 10)
      .orderBy("qid", "rank")
  }

  /** q142's replay generalized per qid: the vector approximation
    * chain partitioned by query, the lexical scoring joined through
    * the VALUES routing table, RRF fused on (qid, id). LAZY, over
    * THIS object's [[bm25MultiQueries]] (initialization-order
    * safe). */
  lazy val q150Sql: String = q150SqlWhere("TRUE", "TRUE")

  /** q150's replay with a forget predicate per leg — q178's oracle:
    * deleted ids drop out at the candidate-scoring stage on the
    * vector side (centroids still derive from the full corpus —
    * deletion never changes geometry) and out of the corpus on the
    * lexical side (BM25 stats are re-derived from the filtered
    * postings, exactly what statsFromPostings does over a compacted
    * or sidecar-filtered table). */
  private def q150SqlWhere(vecPred: String, docPred: String): String = {
    val qtVals = bm25MultiQueries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val union = bm25MultiQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val qids = multiQids.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ($qids)),
       pr AS (SELECT qid, cid, qv FROM (
           SELECT q.qid, c.cid, q.qv,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       vs AS (SELECT pr.qid, a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid WHERE $vecPred),
       vr AS (SELECT qid, vec_id AS id, rank FROM (
           SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS rank
           FROM vs) WHERE rank <= $rrfDepth),
       qt AS (SELECT CAST(qid AS BIGINT) AS qid, term
           FROM (VALUES $qtVals) t(qid, term)),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
             FROM documents WHERE $docPred),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ($union) GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       lsc AS (SELECT qt.qid, tf.doc_id,
                SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term) JOIN qt USING (term), corpus
              GROUP BY qt.qid, tf.doc_id),
       lr AS (SELECT qid, doc_id AS id, rank FROM (
           SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
           FROM lsc) WHERE rank <= $rrfDepth),
       f AS (SELECT COALESCE(v.qid, l.qid) AS qid, COALESCE(v.id, l.id) AS id,
           COALESCE(1.0 / ($rrfC + v.rank), 0.0) + COALESCE(1.0 / ($rrfC + l.rank), 0.0) AS s
         FROM vr v FULL OUTER JOIN lr l ON v.qid = l.qid AND v.id = l.id),
       r AS (SELECT qid, id,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, id) AS BIGINT) AS rank,
               ROUND(s, 6) AS score FROM f)
       SELECT qid, id, rank, score FROM r WHERE rank <= 10 ORDER BY qid, rank"""
  }

  // ---------- q144: deletion from the at-rest index ----------

  /** DELETE FROM THE LIVE INDEX — the right-to-be-forgotten quarter
    * the lifecycle matrix was missing (build q54 → append q84 →
    * refresh q96 → compact q109 → stream q127 → upgrade q141 → DELETE
    * here), run as the production TWO-PHASE pattern the graph index
    * (q145) already honors. PHASE 1 — TOMBSTONE:
    * [[graft.search.IVF.deleteFromIndex]] records request∩index in
    * the live generation's sidecar, an O(request) write that opens NO
    * list file (gated here by a full file-listing snapshot: name,
    * length, mtime of EVERY list file unchanged), and every serve
    * anti-joins it before the top-k, so deleted content is hidden
    * IMMEDIATELY (gated: the served top-k contains none of the
    * deleted ids) while at-rest mass stands (gated: raw list count
    * unchanged). PHASE 2 — COMPACT:
    * [[graft.search.IVF.compactIndex]] sources its staged rewrite
    * through the tombstone filter, so physical removal rides the
    * rewrite it was already paying for — gated: mass drops by exactly
    * the deleted count, and the fresh generation starts with a clean
    * sidecar. The quantizer stands — deletion never changes geometry.
    * The declared output is the POST-COMPACTION serve, and the
    * pre-compaction serve must equal it row for row (hide-now ≡
    * remove-later); both hash-match the SQL replay with the delete
    * predicate applied to the lists — the index answers as if the
    * ids never existed. The same function deletes from SQ8's lists
    * (shared layout, idCol = "id"; SearchSpec pins that family). */
  def q144IndexDelete(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q144")
    graft.FileTree.delete(new java.io.File(path))
    graft.search.IVF.writeIndexFrom(ivfCents0(s, dir), ivfAssigned0(s, dir), path)
    val lp = graft.search.IVF.listsPath(path)
    val before = s.read.parquet(lp).count()
    val delIds = e.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q144_ndel")(delIds.count())
    val snapBefore = listFileSnap(lp)
    val nDel = graft.search.IVF.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
    require(nDel == nReq,
      s"q144: tombstoned $nDel of a $nReq-id request fully inside the index")
    require(listFileSnap(lp) == snapBefore,
      "q144: the tombstone phase must not touch a single list file")
    require(s.read.parquet(lp).count() == before,
      "q144: at-rest mass must stand until compaction")
    def serve() = graft.search.IVF.searchIndex(s, path, "vec_id", "v",
      e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
      10, ivfProbe)
    val hidden = serve().collect().toSeq // pre-compaction: hide-now
    require(!hidden.map(_.getLong(0)).exists(_ % 7 == 3),
      "q144: a tombstoned id was served")
    graft.search.IVF.compactIndex(s, path)
    val lp2 = graft.search.IVF.listsPath(path)
    require(lp2 != lp, "q144: compaction must flip to a fresh generation")
    require(s.read.parquet(lp2).count() == before - nDel,
      "q144: compaction must physically drop exactly the deleted count")
    require(!Tombstones.exists(Tombstones.ofLists(lp2)),
      "q144: the compacted generation must start with a clean sidecar")
    val served = serve()
    require(served.collect().toSeq == hidden,
      "q144: hide-now and remove-later must serve identical answers")
    served.orderBy("rank")
  }

  /** q45's replay with the delete predicate applied to the LISTS
    * (the quantizer stands): the index must answer as if the ids
    * were never ingested. */
  val q144Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id % 7 = 3)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT d.vec_id, list_dot_product(d.v, pr.qv) AS sc
              FROM d JOIN pr ON d.cid = pr.cid),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  // ---------- q155: SQ8 index deletion (tombstone + compact) ----------

  /** DELETION FROM THE SQ8 INDEX — q144's lifecycle quarter DECLARED
    * for the quantized family (SearchSpec/SQSpec pinned it; this row
    * puts it under the oracle): the SQ8 lists share IVF's
    * cid-partitioned layout by design, so the SAME two-phase
    * machinery applies verbatim — [[graft.search.IVF.deleteFromIndex]]
    * tombstones request∩index into the live generation's sidecar (an
    * O(request) write; gated here by the full file-listing snapshot:
    * not one code file opened), every SQ8 read
    * ([[graft.search.SQ.adcCandidates]], `searchIndexMulti`)
    * anti-joins the sidecar before the ADC heap so a deleted CODE can
    * never reach the exact re-rank, and [[graft.search.IVF
    * .compactIndex]] folds the sidecar into its staged rewrite
    * (physical removal rides the rewrite; the fresh generation starts
    * clean). What the quantized family adds: geometry STANDS through
    * deletion — centroids AND bounds were derived from the build
    * corpus including the deleted rows, and they must not move
    * (re-deriving bounds from survivors would silently re-scale every
    * remaining code; the oracle's bounds CTE reads the FULL corpus
    * for exactly this reason). Gates mirror q144 — count, zero-touch
    * snapshot, standing mass, hidden serve, exact mass drop, clean
    * sidecar, hide-now ≡ remove-later — and the declared output is
    * the post-compaction ADC + exact-re-rank serve, hash-matched
    * against q114's replay with the delete predicate applied to the
    * LISTS only. */
  def q155SqDelete(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q155")
    cloneIndexTo(sqFullSrc(s, dir), path)
    val lp = graft.search.IVF.listsPath(path)
    val before = s.read.parquet(lp).count()
    val delIds = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("id"))
    val nReq = Memo.cachedCount(s, dir, "q155_ndel")(delIds.count())
    val snapBefore = listFileSnap(lp)
    val nDel = graft.search.IVF.deleteFromIndex(s, path, delIds, "id", countPresent = true)
    require(nDel == nReq,
      s"q155: tombstoned $nDel of a $nReq-id request fully inside the index")
    require(listFileSnap(lp) == snapBefore,
      "q155: the tombstone phase must not open a single code file")
    require(s.read.parquet(lp).count() == before,
      "q155: at-rest code mass must stand until compaction")
    require(graft.search.IVF.needsCompact(s, path, nReq - 1) &&
        !graft.search.IVF.needsCompact(s, path, nReq),
      "q155: needsCompact must track the standing sidecar exactly")
    def serve() = graft.search.SQ.searchIndex(s, path, e, "vec_id", "v",
      e.filter(col("vec_id") === 2).select(col("v").as("qv")), "qv",
      10, ivfProbe, sqRerank)
    val hidden = serve().collect().toSeq // pre-compaction: hide-now
    require(!hidden.map(_.getLong(0)).exists(_ % 7 == 3),
      "q155: a tombstoned id was served through the ADC path")
    graft.search.IVF.compactIndex(s, path)
    val lp2 = graft.search.IVF.listsPath(path)
    require(lp2 != lp, "q155: compaction must flip to a fresh generation")
    require(s.read.parquet(lp2).count() == before - nDel,
      "q155: compaction must physically drop exactly the deleted codes")
    require(!Tombstones.exists(Tombstones.ofLists(lp2)),
      "q155: the compacted generation must start with a clean sidecar")
    val served = serve()
    require(served.collect().toSeq == hidden,
      "q155: hide-now and remove-later must serve identical answers")
    served.orderBy("rank")
  }

  /** q114's replay with the delete predicate applied to the code
    * LISTS only — centroids and bounds still read the FULL corpus
    * (the standing geometry; deletion never re-scales codes), and the
    * exact re-rank can only ever fetch surviving candidates. LAZY per
    * the init-order rule (interpolates sqDim/sqRerank). */
  lazy val q155Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e) WHERE cid < $ivfK),
       a AS (SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       d AS (SELECT * FROM a WHERE NOT (vec_id % 7 = 3)),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 2),
       pr AS (SELECT cid, qv FROM (
           SELECT c.cid, q.qv,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       b AS (SELECT d, MIN(v[d]) AS lo, MAX(v[d]) AS hi
             FROM e, (SELECT UNNEST(generate_series(1, $sqDim)) AS d) GROUP BY d),
       bl AS (SELECT list(lo ORDER BY d) AS lo, list(hi ORDER BY d) AS hi FROM b),
       cd AS (SELECT d.vec_id, d.cid,
           list_transform(generate_series(1, $sqDim), dd ->
             CASE WHEN hi[dd] = lo[dd] THEN 0
               ELSE CAST(least(255.0, greatest(0.0,
                 round((v[dd] - lo[dd]) * 255.0 / (hi[dd] - lo[dd]), 0))) AS INT) END) AS code
         FROM d, bl),
       ad AS (SELECT cd.vec_id,
           list_dot_product(list_transform(generate_series(1, $sqDim), dd ->
             lo[dd] + code[dd] * ((hi[dd] - lo[dd]) / 255.0)), pr.qv) AS adc
         FROM cd JOIN pr ON cd.cid = pr.cid, bl),
       cand AS (SELECT vec_id FROM (
           SELECT vec_id, ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS r FROM ad)
         WHERE r <= $sqRerank),
       sc AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS sc
              FROM e JOIN cand USING (vec_id), q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  // ---------- q145: graph-index deletion (tombstone + compact) ----------

  /** DELETION FROM THE GRAPH INDEX — q144's lifecycle quarter for the
    * family whose structure cannot drop rows in place (neighbors
    * POINT AT the deleted node), run as the production two-phase
    * pattern: TOMBSTONE (the request-sized id set lands in a sidecar;
    * every serve anti-joins it before the top-k, so deleted content
    * is hidden IMMEDIATELY while the nodes keep navigating traffic —
    * ef ≫ k absorbs the dropped candidates) then COMPACT (touched
    * cells rebuild their graphs over the remaining members — the same
    * ascending-id pure-function-of-content build, so the compacted
    * index equals a from-scratch rebuild of the corpus-without-them
    * under the same routing, GraphAnnSpec pins it bit for bit —
    * staged as a fresh generation and committed by the atomic CURRENT
    * flip). In-query gates: the tombstoned serve returns none of the
    * deleted ids; compaction flips the generation, clears the
    * sidecar, and drops node mass by EXACTLY the deleted ids' replica
    * copies (meta-level counts); and the post-compaction serve equals
    * the tombstone-filtered serve ROW FOR ROW — hide-now ≡
    * remove-later at the answer level, the witness that makes the
    * two-phase design safe to serve through. Rows-only (graph
    * construction is not SQL-expressible; the ✗-mark discipline). */
  def q145GraphDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q145")
    cloneTree(graphIndexPath(s, dir), path)
    val delIds = e.filter(col("vec_id") % 9 === 4).select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q145_ndel")(delIds.count())
    val nodesBefore = GraphAnn.nodesDf(s, path)
    val massBefore = nodesBefore.count()
    // every replica copy of a deleted id must go (column-pruned count)
    val delCopies = nodesBefore
      .join(broadcast(delIds.select(col("vec_id").as("id"))), Seq("id"),
        "left_semi")
      .count()
    val present = GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
    require(present == nReq,
      s"q145: $present of the $nReq requested ids were in the index")
    def serve() = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .select(col("vec_id"), col("rank"), col("score"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val hidden = serve()
    require(hidden.forall(_._1 % 9 != 4),
      "q145: a tombstoned id surfaced in the served top-k")
    val genBefore = GraphAnn.currentGeneration(path)
    GraphAnn.compactTombstones(s, path)
    require(GraphAnn.currentGeneration(path) != genBefore,
      "q145: compaction must commit a new generation through the CURRENT flip")
    require(!Tombstones.exists(GraphAnn.tablePath(path, Tombstones.RootEntry)),
      "q145: the new generation must start with a clean tombstone sidecar")
    require(GraphAnn.nodesDf(s, path).count()
        == massBefore - delCopies,
      "q145: node mass must drop by exactly the deleted ids' replica copies")
    // equality holds for this query's SPREAD delete set (ef ≫
    // deleted-per-cell, so both beams keep the same survivors); a
    // delete concentrated inside a probed cell could legitimately
    // shift approximate answers — the invariant form (compacted ≡
    // rebuild-without-them, bit for bit) is GraphAnnSpec's pin
    val removed = serve()
    require(hidden == removed,
      "q145: tombstone-filtered serving must equal physical removal row for row")
    // the gates already collected the k-row answer — return it
    // without a third index serve
    import s.implicits._
    removed.toDF("vec_id", "rank", "score").orderBy("rank")
  }

  // ---------- q151: graph delete composed with routing refresh ----------

  /** TOMBSTONE → ROUTING REFRESH → SERVE — the one graph lifecycle
    * composition q145 (delete → compact) and q116 (drift → refresh)
    * leave uncovered: a standing delete set when the SCHEDULED
    * maintenance that runs next is a routing refresh, not a
    * tombstone compaction. The refresh rebuilds from phase-1 nodes
    * that still physically hold the deleted rows, so its source read
    * MUST anti-join the sidecar ([[graft.search.GraphAnn
    * .refreshRouting]]'s tombstone filter — spec-covered until now,
    * never exercised by a declared query): without it a routine
    * refresh would silently RESURRECT deleted content into the new
    * generation. Gates (meta-level, the q116 discipline): the
    * tombstoned serve hides the ids immediately; the refresh commits
    * a new generation through the CURRENT flip whose root starts
    * with NO tombstone sidecar (physical removal rode the refresh
    * for free); total node mass drops by exactly the deleted ids'
    * replica copies; and the post-refresh serve — under the
    * RETRAINED routing — still returns none of them, with the
    * streamed-in query vector as its own top hit (freshness
    * witness). Rows-only (graph construction is not
    * SQL-expressible); GraphAnnSpec pins refreshed ≡
    * rebuild-without-them bit for bit. */
  def q151GraphRerouteDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val parts = graphPartsFor(s, dir)
    val path = PipelineQueries.roundtripPath(dir, "q151")
    cloneTree(graphIndexPath(s, dir), path)
    val delIds = e.filter(col("vec_id") % 11 === 6).select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q151_ndel")(delIds.count())
    val nodesBefore = GraphAnn.nodesDf(s, path)
    val massBefore = nodesBefore.count()
    val delCopies = nodesBefore
      .join(broadcast(delIds.select(col("vec_id").as("id"))), Seq("id"),
        "left_semi")
      .count()
    val present = GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
    require(present == nReq,
      s"q151: $present of the $nReq requested ids were in the index")
    // the growth valve tracks the standing sidecar (the q147/q148
    // gate on the graph family) — this is the signal that would have
    // scheduled the maintenance the refresh below performs
    require(GraphAnn.needsCompact(s, path, nReq - 1) &&
        !GraphAnn.needsCompact(s, path, nReq),
      "q151: needsCompact must track the standing sidecar exactly")
    def serve() = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .select(col("vec_id"), col("rank"), col("score"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val hidden = serve()
    require(hidden.forall(_._1 % 11 != 6),
      "q151: a tombstoned id surfaced in the pre-refresh serve")
    val genBefore = GraphAnn.currentGeneration(path)
    GraphAnn.refreshRouting(s, path, parts)
    require(GraphAnn.currentGeneration(path) != genBefore,
      "q151: refresh must commit a new generation through the CURRENT flip")
    require(!Tombstones.exists(GraphAnn.tablePath(path, Tombstones.RootEntry)),
      "q151: the refreshed generation must start with a clean sidecar")
    require(GraphAnn.nodesDf(s, path).count()
        == massBefore - delCopies,
      "q151: the refresh must drop exactly the deleted ids' replica copies")
    val refreshed = serve()
    require(refreshed.forall(_._1 % 11 != 6),
      "q151: a deleted id resurrected through the routing refresh")
    require(refreshed.nonEmpty && refreshed.head._1 == 1L,
      "q151: the surviving query vector must remain its own top hit")
    import s.implicits._
    refreshed.toDF("vec_id", "rank", "score").orderBy("rank")
  }

  // ---------- q157: graph-index deletion under live ingest ----------

  /** DELETION UNDER LIVE INGEST ON THE GRAPH INDEX — q147/q156's
    * composition for the family whose nodes carry adjacency (the last
    * family without its mid-drain row): q99's drain (the newest 20%
    * of ids in four id-ordered micro-batches through
    * [[graft.search.GraphAnn.appendToIndex]], each routing against
    * the STANDING routing table), with a right-to-be-forgotten
    * request (base ids ≡ 5 mod 13 — rows ingested before the stream
    * started) landing through [[graft.search.GraphAnn
    * .deleteFromIndex]] after batch 1 commits; batches 2–3 append
    * AFTER it, their ids disjoint from the request (the revive probe
    * stays a directory read per batch). Gates: the mid-drain delete
    * counts exactly the request (all present in the base), opens ZERO
    * node files (full file-listing snapshot over the `part=` dirs),
    * [[graft.search.GraphAnn.needsCompact]] tracks the standing
    * sidecar exactly, the drained RAW per-cell content signature
    * still equals the same-routing full rebuild's (the q99 gate —
    * the tombstone is a sidecar, so the drain's physical outcome is
    * untouched by the delete), and the routed serve hides every
    * deleted id. Then the deferred phase 2 runs
    * ([[graft.search.GraphAnn.compactTombstones]]): generation flip,
    * clean sidecar, node mass down by exactly the deleted ids'
    * replica copies, and the post-compaction serve equals the
    * tombstone-filtered serve row for row (the spread request keeps
    * beams intact — the q145 caveat; the invariant form, compacted ≡
    * rebuild-without-them bit for bit, is GraphAnnSpec's mid-drain
    * pin). Rows-only: graph construction is not SQL-expressible. */
  def q157StreamGraphDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val stage = Memo.cachedValue(s, dir, "q99_stage") {
      PipelineQueries.stageOrderedFiles(
        e.filter(col("vec_id") >= split), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q99_stream"))
    }
    val path = PipelineQueries.roundtripPath(dir, "q157")
    cloneTree(graphBase80Path(s, dir), path)
    val delIds = e.filter(col("vec_id") < split && col("vec_id") % 13 === 5)
      .select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q157_ndel")(delIds.count())
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var nDel = -1L
    var filesTouched = true
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      GraphAnn.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      if (bid == 1L) {
        // deep snapshot of the CELL POOL (cells/p<P>/v<V>_n<N>/files):
        // the hide must not open a single node file
        def cellSnap(): Seq[(String, Long, Long)] = {
          def walk(f: java.io.File, base: String): Seq[(String, Long, Long)] =
            Option(f.listFiles()).toSeq.flatten.flatMap { c =>
              if (c.isDirectory) walk(c, base + c.getName + "/")
              else Seq((base + c.getName, c.length(), c.lastModified()))
            }
          walk(new java.io.File(s"$path/cells"), "").sortBy(_._1)
        }
        val snapBefore = cellSnap()
        nDel = GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
        filesTouched = cellSnap() != snapBefore
      }
    })
    require(nDel == nReq,
      s"q157: the mid-drain delete hid $nDel of a $nReq-id request")
    require(!filesTouched,
      "q157: the mid-drain delete must not open a single node file")
    require(GraphAnn.needsCompact(s, path, nReq - 1) &&
        !GraphAnn.needsCompact(s, path, nReq),
      "q157: needsCompact must track the standing sidecar exactly")
    require(cellSignature(s, path) == cellSignature(s, graphRebuildPath(s, dir)),
      "q157: the drained raw cells must still equal the same-routing rebuild")
    def serve() = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .select(col("vec_id"), col("rank"), col("score"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val hidden = serve()
    require(hidden.forall(_._1 % 13 != 5),
      "q157: a tombstoned id surfaced in the mid-drain-deleted serve")
    val nodesBefore = GraphAnn.nodesDf(s, path)
    val massBefore = nodesBefore.count()
    val delCopies = nodesBefore
      .join(broadcast(delIds.select(col("vec_id").as("id"))), Seq("id"),
        "left_semi")
      .count()
    val genBefore = GraphAnn.currentGeneration(path)
    GraphAnn.compactTombstones(s, path)
    require(GraphAnn.currentGeneration(path) != genBefore,
      "q157: compaction must commit a new generation through the CURRENT flip")
    require(!Tombstones.exists(GraphAnn.tablePath(path, Tombstones.RootEntry)),
      "q157: the new generation must start with a clean tombstone sidecar")
    require(GraphAnn.nodesDf(s, path).count()
        == massBefore - delCopies,
      "q157: node mass must drop by exactly the deleted ids' replica copies")
    val removed = serve()
    require(removed == hidden,
      "q157: hide-now and remove-later must serve identical answers")
    import s.implicits._
    removed.toDF("vec_id", "rank", "score").orderBy("rank")
  }

  // ---------- q179: valve-fired graph compaction mid-drain ----------

  /** The valve row's equivalence target: a from-scratch rebuild over
    * the FULL corpus minus the whole delete request, under the
    * base-80 routing — what q179's post-drain index must equal cell
    * for cell. Memoized per (session, dir-content), charged to
    * `_build_q179_target`. */
  private def q179TargetPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann_valve_target") {
      val e = emb(s, dir)
      val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
      val split = 4L * n / 5L
      val p = PipelineQueries.roundtripPath(dir, "graphann_valve_target")
      graft.search.GraphAnn.writeIndexWith(
        s.read.parquet(s"${graphBase80Path(s, dir)}/routing"),
        e.filter(!(col("vec_id") < split && col("vec_id") % 13 === 5)),
        "vec_id", "v", graphM, graphEf, p)
      p
    }

  /** VALVE-FIRED COMPACTION INSIDE THE DRAIN, GRAPH FAMILY — the
    * last empty cell of the valve matrix (q158 IVF, q159 lexical,
    * q173 SQ8): q157's feed where the maintenance poll
    * ([[graft.search.GraphAnn.needsCompact]] after every batch)
    * FIRES at the delete's own batch and runs [[graft.search
    * .GraphAnn.compactTombstones]] mid-drain — touched cells rebuilt
    * over their remaining members, CURRENT flipped, sidecar cleared
    * — and the remaining batches append INTO the flipped generation
    * (their growing ids route against the standing table exactly as
    * before; the flip moved bytes, not the routing). The composed
    * claim, gated by the parts-sized per-cell content signature:
    * drain + mid-drain valve compaction + post-flip appends ≡ ONE
    * from-scratch rebuild over corpus ∖ request — the three
    * equivalences GraphAnnSpec pins separately (append ≡ rebuild,
    * compact ≡ rebuild-without-them, per-cell purity), composed
    * across a generation flip that lands in the middle of live
    * ingest. Remaining gates: the delete hides exactly its request,
    * the valve fires EXACTLY once (at the delete batch; the flipped
    * generation's clean sidecar keeps it silent after), the final
    * generation is sidecarless, and the routed serve hides every
    * deleted id. Rows-only per the graph ✗ discipline. */
  def q179GraphValve(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val stage = Memo.cachedValue(s, dir, "q99_stage") {
      PipelineQueries.stageOrderedFiles(
        e.filter(col("vec_id") >= split), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q99_stream"))
    }
    val path = PipelineQueries.roundtripPath(dir, "q179")
    cloneTree(graphBase80Path(s, dir), path)
    val delIds = e.filter(col("vec_id") < split && col("vec_id") % 13 === 5)
      .select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q157_ndel")(delIds.count())
    // an empty request would make the valve -1 and fire needsCompact
    // on EVERY batch — surface the precondition, not a confusing
    // "valve must fire exactly once" failure (q173/q177's discipline)
    require(nReq > 0, "q179 needs a non-empty delete request")
    val valve = nReq - 1 // the request itself trips the poll
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var nDel = -1L
    var fired = List.empty[Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      GraphAnn.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      if (bid == 1L)
        nDel = GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
      // the maintenance poll — every batch, after its operations
      if (GraphAnn.needsCompact(s, path, valve)) {
        fired ::= bid
        GraphAnn.compactTombstones(s, path)
      }
      gens ::= bid -> GraphAnn.currentGeneration(path)
    })
    require(nDel == nReq,
      s"q179: the mid-drain delete hid $nDel of a $nReq-id request")
    require(fired == List(1L),
      s"q179: the valve must fire exactly once, at the delete batch " +
        s"(fired at ${fired.reverse.mkString(",")})")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) != byBatch(1L),
      "q179: the valve batch must commit a fresh generation mid-drain")
    require(byBatch(1L) == byBatch(2L) && byBatch(2L) == byBatch(3L),
      "q179: the post-flip batches must append into the flipped generation")
    require(!Tombstones.exists(GraphAnn.tablePath(path, Tombstones.RootEntry)) &&
        GraphAnn.tombstoneRows(s, path) == 0L,
      "q179: the post-drain generation must be sidecarless")
    require(cellSignature(s, path) == cellSignature(s, q179TargetPath(s, dir)),
      "q179: drain + valve flip + post-flip appends must equal the " +
        "one-shot rebuild over corpus minus request, cell for cell")
    val served = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
    require(served.filter(col("vec_id") < split &&
        col("vec_id") % 13 === 5).isEmpty,
      "q179: a deleted id surfaced in the post-drain serve")
    served
  }

  // ---------- q165: graph-index upsert/revive ----------

  /** The revive row's equivalence target: a from-scratch rebuild over
    * union − stay-deleted UNDER THE BASE-80 ROUTING (the standing
    * quantizer q97/q99/q157 share) — what q165's post-revive index
    * must equal cell for cell. Memoized per (session, dir-content),
    * charged to `_build_q165_target`. */
  private def q165TargetPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "graphann_rev_target") {
      val e = emb(s, dir)
      val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
      val split = 4L * n / 5L
      val p = PipelineQueries.roundtripPath(dir, "graphann_rev_target")
      graft.search.GraphAnn.writeIndexWith(
        s.read.parquet(s"${graphBase80Path(s, dir)}/routing"),
        e.filter(!(col("vec_id") < split && col("vec_id") % 13 === 5 &&
          col("vec_id") % 3 =!= 0)),
        "vec_id", "v", graphM, graphEf, p)
      p
    }

  /** UPSERT / REVIVE ON THE GRAPH FAMILY — q161's semantics for the
    * index whose APPEND cannot absorb old ids (insertion order is
    * part of the graph's content, so [[graft.search.GraphAnn
    * .appendToIndex]] requires growing ids and REJECTS a tombstoned
    * re-ingest loudly — the first gate here proves the guard, the
    * round-14 SQ8 silent-loss shape made impossible on this family).
    * The CDC apply contract routes the upsert through
    * [[graft.search.GraphAnn.reviveToIndex]]: one staged rewrite
    * drops the stay-tombstoned ids, folds the revived rows into
    * their routed cells, rebuilds exactly the touched cells from
    * scratch (ids interleave freely there — the from-scratch build
    * owns ordering), carries untouched cells byte for byte, and
    * commits with the CURRENT flip into a clean-sidecar generation.
    * Composition: q157's drain (base-80 clone, four growing-id
    * micro-batches, the %13 delete landing after batch 1), then the
    * revive of the ≡0 mod 3 subset AFTER the drain. Gates, parts- or
    * request-sized: the append guard fires with the reviveToIndex
    * remedy, the revive flips the generation exactly once and ends
    * sidecarless, and the post-revive per-cell content signature
    * (hash(id, nbrs) summed per cell — adjacency included) equals the
    * from-scratch rebuild over union − stay-deleted under the same
    * routing, cell for cell. Rows-only: graph construction is not
    * SQL-expressible (the SURVEY ✗ discipline); GraphAnnSpec carries
    * the bit-identity pin at spec scale. */
  def q165GraphRevive(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val stage = Memo.cachedValue(s, dir, "q99_stage") {
      PipelineQueries.stageOrderedFiles(
        e.filter(col("vec_id") >= split), "vec_id", 4,
        PipelineQueries.roundtripPath(dir, "q99_stream"))
    }
    val path = PipelineQueries.roundtripPath(dir, "q165")
    cloneTree(graphBase80Path(s, dir), path)
    val delPred = col("vec_id") < split && col("vec_id") % 13 === 5
    val revPred = delPred && col("vec_id") % 3 === 0
    val delIds = e.filter(delPred).select(col("vec_id"))
    val nReq = Memo.cachedCount(s, dir, "q157_ndel")(delIds.count())
    val nRev = Memo.cachedCount(s, dir, "q165_nrev")(
      e.filter(revPred).count())
    require(nRev > 0 && nRev < nReq,
      "q165 needs a proper revive subset of the delete request")
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var nDel = -1L
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      GraphAnn.appendToIndex(s, path,
        batch.select(col("vec_id"), col("v")), "vec_id", "v")
      if (bid == 1L)
        nDel = GraphAnn.deleteFromIndex(s, path, delIds, "vec_id", countPresent = true)
    })
    require(nDel == nReq,
      s"q165: the mid-drain delete hid $nDel of a $nReq-id request")
    // the guard: a tombstoned-id re-ingest through the APPEND path
    // must fail loudly with the revive remedy, never append hidden
    val revive = e.filter(revPred).select(col("vec_id"), col("v"))
    val guard = scala.util.Try(
      GraphAnn.appendToIndex(s, path, revive, "vec_id", "v"))
    require(guard.isFailure &&
        guard.failed.get.getMessage.contains("reviveToIndex"),
      "q165: the append path must reject tombstoned ids loudly")
    val genBefore = GraphAnn.currentGeneration(path)
    GraphAnn.reviveToIndex(s, path, revive, "vec_id", "v")
    require(GraphAnn.currentGeneration(path) != genBefore,
      "q165: the revive must commit through the CURRENT flip")
    require(!Tombstones.exists(GraphAnn.tablePath(path, Tombstones.RootEntry)) &&
        GraphAnn.tombstoneRows(s, path) == 0L,
      "q165: the post-revive generation must be sidecarless")
    require(cellSignature(s, path) == cellSignature(s, q165TargetPath(s, dir)),
      "q165: the revived cells must equal the rebuild over union minus stay-deleted")
    val served = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
    require(served.filter(col("vec_id") < split &&
        col("vec_id") % 13 === 5 && col("vec_id") % 3 =!= 0).isEmpty,
      "q165: a stay-deleted id surfaced in the post-revive serve")
    served
  }

  // ---------- q168: CDC feed on the graph family ----------

  /** THE CDC FEED APPLIED TO THE GRAPH INDEX — q160's op-tagged
    * drain on the family whose upserts cannot ride the append path,
    * completing the CDC matrix (IVF q160/q161, SQ8 q163, lexical
    * q164, graph: here): one ordered I/D/U stream drained as four
    * micro-batches, inserts through [[graft.search.GraphAnn
    * .appendToIndex]] (growing ids — the continuous-ingest shape),
    * the delete through [[graft.search.GraphAnn.deleteFromIndex]],
    * and the final batch a MIXED UPSERT — re-ingests of tombstoned
    * ids AND brand-new growing ids in one batch — routed by
    * [[graft.search.GraphAnn.applyUpserts]]: the tombstoned side
    * revives through the staged rewrite (touched cells rebuilt over
    * members ∖ tombstoned ∪ revived, CURRENT flip, clean sidecar),
    * the fresh side appends INTO the flipped generation. Gates: the
    * delete hides exactly its request, the generation flips at
    * EXACTLY the upsert batch, the final generation is sidecarless,
    * the post-drain per-cell content signature equals q165's
    * rebuild-over-union-minus-stay-deleted target cell for cell
    * (same final state, feed-shaped arrival — one memoized target
    * serves both rows), and the serve hides every stay-deleted id.
    * Rows-only per the graph ✗ discipline; GraphAnnSpec pins the
    * revive bit-identity and append≡rebuild equivalences this row
    * composes. */
  def q168GraphCdcFeed(s: SparkSession, dir: String): DataFrame = {
    import graft.search.GraphAnn
    val e = emb(s, dir)
    val n = Memo.cachedCount(s, dir, "emb_n")(e.count())
    val split = 4L * n / 5L
    val half = (split + n) / 2L
    val cut3 = (half + n) / 2L
    val path = PipelineQueries.roundtripPath(dir, "q168")
    cloneTree(graphBase80Path(s, dir), path)
    val delPred = col("vec_id") < split && col("vec_id") % 13 === 5
    val revPred = delPred && col("vec_id") % 3 === 0
    val nReq = Memo.cachedCount(s, dir, "q157_ndel")(
      e.filter(delPred).count())
    val nRev = Memo.cachedCount(s, dir, "q165_nrev")(
      e.filter(revPred).count())
    val nFresh3 = Memo.cachedCount(s, dir, "q168_nf3")(
      e.filter(col("vec_id") >= cut3).count())
    require(nRev > 0 && nRev < nReq && nFresh3 > 0,
      "q168 needs a proper revive subset and a non-empty fresh tail")
    val stage = Memo.cachedValue(s, dir, "q168_stage") {
      stageFeedSlices(Seq(
        e.filter(col("vec_id") >= split && col("vec_id") < half)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(delPred).select(lit("D").as("op"), col("vec_id"), col("v")),
        e.filter(col("vec_id") >= half && col("vec_id") < cut3)
          .select(lit("I").as("op"), col("vec_id"), col("v")),
        e.filter(revPred || col("vec_id") >= cut3)
          .select(lit("U").as("op"), col("vec_id"), col("v"))),
        PipelineQueries.roundtripPath(dir, "q168_feed"))
    }
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var applied = Map.empty[Long, Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val ins = batch.filter(col("op") === "I").select(col("vec_id"), col("v"))
      if (!ins.isEmpty)
        GraphAnn.appendToIndex(s, path, ins, "vec_id", "v")
      val del = batch.filter(col("op") === "D").select(col("vec_id"))
      if (!del.isEmpty)
        applied += bid -> GraphAnn.deleteFromIndex(s, path, del, "vec_id", countPresent = true)
      val ups = batch.filter(col("op") === "U").select(col("vec_id"), col("v"))
      if (!ups.isEmpty)
        GraphAnn.applyUpserts(s, path, ups, "vec_id", "v")
      gens ::= bid -> GraphAnn.currentGeneration(path)
    })
    require(applied == Map(1L -> nReq),
      s"q168: the delete batch must hide exactly its request (got $applied)")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) == byBatch(2L) && byBatch(2L) != byBatch(3L),
      "q168: the generation must flip at exactly the upsert batch")
    require(!Tombstones.exists(GraphAnn.tablePath(path, Tombstones.RootEntry)) &&
        GraphAnn.tombstoneRows(s, path) == 0L,
      "q168: the post-drain generation must be sidecarless")
    require(cellSignature(s, path) == cellSignature(s, q165TargetPath(s, dir)),
      "q168: the drained cells must equal the rebuild over union minus stay-deleted")
    val served = GraphAnn.searchIndex(s, path, "vec_id",
        e.filter(col("vec_id") === 1).select(col("v").as("qv")), "qv",
        10, graphEf, probeParts = graphProbeFor(s, dir))
      .orderBy("rank")
    require(served.filter(col("vec_id") < split &&
        col("vec_id") % 13 === 5 && col("vec_id") % 3 =!= 0).isEmpty,
      "q168: a stay-deleted id surfaced in the post-drain serve")
    served
  }

  // ---------- q123: late-interaction (MaxSim) retrieval ----------

  /** LATE-INTERACTION retrieval (the ColBERT MaxSim scoring shape,
    * Khattab & Zaharia, SIGIR 2020): the query is a SET of unit
    * vectors (each query term embedded on its own), each document a
    * set of chunk vectors (q119's chunk embeddings), and
    * score(doc) = Σ_u max_c ⟨u, c⟩ — every query unit independently
    * finds its best-matching passage, so a doc that answers all
    * terms in different places beats one that matches a single term
    * everywhere (the failure mode of single-vector scoring that
    * motivates the multi-vector model). `n_pos_units` reports how
    * many units matched positively — the coverage witness.
    *
    * Shape at 100 TB: the corpus-sized work is ONE chunk explode +
    * one mapPartitions embed scan (identical to q119); the query-unit
    * set is broadcast (|Q| rows), per-(doc, unit) max and the per-doc
    * sum are ordinary partial-aggregating hash aggregates keyed by
    * doc, and only k rows reach the global sort (TakeOrdered). Unit
    * maxima are quantized to 1e-6 integers before the cross-unit sum,
    * so the sum is order-free (exact long addition) and the ranking
    * key is deterministic cross-engine. Fully oracle-checked: chunker,
    * portable featurizer, MaxSim, and ranking all replay in SQL. */
  def q123LateInteraction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cv = chunkVecs(s, dir)
    // q123Sql carries a literal copy of these terms (cyclic-init rule)
    require(Queries.bm25Terms == Seq("spark", "hash", "join"),
      "q123Sql's literal query units are out of sync with Queries.bm25Terms")
    val e64 = new graft.embed.PortableHashEmbedder(64)
    val qdf = Queries.bm25Terms.zipWithIndex
      .map { case (t, i) => (i.toLong, e64.embed(t).map(_.toDouble).toSeq) }
      .toDF("qidx", "qv")
    val perUnit = cv
      .crossJoin(broadcast(qdf))
      .select(expr(s"ckey div $pdChunkMul").as("doc_id"), col("qidx"),
        dot(col("v"), col("qv")).as("__s"))
      .groupBy("doc_id", "qidx")
      .agg(round(max(col("__s")) * 1e6).cast("long").as("__msq"))
    perUnit
      .groupBy("doc_id")
      .agg(sum(col("__msq")).as("__sq"),
        count(when(col("__msq") > 0, lit(1))).as("n_pos_units"))
      .orderBy(col("__sq").desc, col("doc_id").asc)
      .limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("__sq").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("rank"), col("n_pos_units"),
        round(col("__sq") / 1e6, 6).as("score"))
      .orderBy("rank")
  }

  val q123Sql: String = {
    val sz = PrepQueries.chunkSize; val st = PrepQueries.chunkStride
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents WHERE doc_id < 200),
       sch AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $st)) AS stt FROM t),
       base AS (SELECT doc_id * $pdChunkMul + ((stt - 1) // $st) AS doc_id,
           array_to_string(toks[stt : stt + ${sz - 1}], ' ') AS ctext FROM sch),
       ${embedCteSql("base", "ctext", 64, "")},
       cv AS (SELECT doc_id AS ckey, list(x ORDER BY j) AS v FROM vf GROUP BY doc_id),
       qbase AS (SELECT * FROM (VALUES (0, 'spark'), (1, 'hash'), (2, 'join')) AS u(doc_id, qtext)),
       ${embedCteSql("qbase", "qtext", 64, "q")},
       qvec AS (SELECT doc_id AS qidx, list(x ORDER BY j) AS qv FROM qvf GROUP BY doc_id),
       pu AS (SELECT ckey // $pdChunkMul AS doc_id, qidx,
             CAST(ROUND(MAX(list_dot_product(v, qv)) * 1000000) AS BIGINT) AS msq
           FROM cv, qvec GROUP BY 1, 2),
       ds AS (SELECT doc_id, SUM(msq) AS sq,
             COUNT(CASE WHEN msq > 0 THEN 1 END) AS n_pos_units
           FROM pu GROUP BY doc_id),
       r AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sq DESC, doc_id) AS BIGINT) AS rank,
             CAST(n_pos_units AS BIGINT) AS n_pos_units,
             ROUND(sq / 1000000.0, 6) AS score FROM ds)
       SELECT doc_id, rank, n_pos_units, score FROM r WHERE rank <= 10 ORDER BY rank"""
  }

  // ---------- q124: matryoshka truncation recall dial ----------

  /** Truncation dims probed by the matryoshka dial (64 = the full
    * dim, the recall-1.0 anchor row). */
  val mrlDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** MATRYOSHKA truncation recall dial (Kusupati et al., NeurIPS
    * 2022): recall@10 of exact search over PREFIX-TRUNCATED,
    * renormalized embeddings against the full-dimension exact
    * baseline, one row per kept dim. This is the serving dial an
    * MRL-trained embedding ships with — how much recall each prefix
    * width buys — measured the q48 way (same queries, same exact
    * baseline, same recall arithmetic), so the truncation trade
    * reads side-by-side with the LSH/IVF/PQ/SQ/graph knobs. The hash
    * featurizer is NOT matryoshka-trained, so the small-prefix rows
    * are the pessimistic floor; a real MRL encoder raises them, and
    * the dial is how a user sees it.
    *
    * Shape: one corpus scan per dim row (the dial is |dims| exact
    * scans — deliberately, it calibrates approximations rather than
    * being one); truncate+renormalize is a narrow per-row projection
    * feeding the bounded-heap top-k aggregate, exchange
    * O(queries × k) per row. Fully oracle-checked. */
  def q124MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < recallNq)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = Search.multiTopK(e, "vec_id", "v", qs, "qid", "qv", recallK)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint() // reused by every dim row
    mrlDims.map { d =>
      val ed = e.select(col("vec_id"), l2normalize(slice(col("v"), 1, d)).as("v"))
      val qd = qs.select(col("qid"), l2normalize(slice(col("qv"), 1, d)).as("qv"))
      exact.join(
          broadcast(Search.multiTopK(ed, "vec_id", "v", qd, "qid", "qv", recallK)
            .select(col("qid"), col("vec_id"))),
          Seq("qid", "vec_id"), "left_semi")
        .agg(round(count(lit(1)) / lit((recallNq * recallK).toDouble), 4).as("recall"))
        .select(lit(d.toLong).as("dim"), col("recall"))
    }.reduce(_ union _).orderBy("dim")
  }

  val q124Sql: String = {
    // l2normalize replayed: v / (||v|| + 1e-9), norm summed
    // left-to-right like the native expression; lambda vars must not
    // shadow the sliced column name (DuckDB resolves v[1:dim] against
    // the lambda's element otherwise)
    def nz(l: String) =
      s"list_transform($l, xe -> xe / (sqrt(list_sum(list_transform($l, ze -> ze*ze))) + 1e-9))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $recallNq),
       ex AS (SELECT qid, vec_id FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv) DESC, e.vec_id) AS rank
           FROM e, q) WHERE rank <= $recallK),
       dims AS (SELECT unnest([${mrlDims.mkString(", ")}]) AS dim),
       ed AS (SELECT dim, vec_id, ${nz("v[1:dim]")} AS v FROM e, dims),
       qd AS (SELECT dim, qid, ${nz("qv[1:dim]")} AS qv FROM q, dims),
       ap AS (SELECT dim, qid, vec_id FROM (
           SELECT ed.dim, qd.qid, ed.vec_id,
             ROW_NUMBER() OVER (PARTITION BY ed.dim, qd.qid
               ORDER BY list_dot_product(ed.v, qd.qv) DESC, ed.vec_id) AS rank
           FROM ed JOIN qd ON ed.dim = qd.dim) WHERE rank <= $recallK)
       SELECT CAST(dim AS BIGINT) AS dim,
         ROUND(COUNT(*) / ${(recallNq * recallK).toDouble}, 4) AS recall
       FROM ap JOIN ex USING (qid, vec_id) GROUP BY dim ORDER BY dim"""
  }

  /** The reference's second flagship entry point — `--mode rag
    * --enable_hybrid` (`src/pipeline/pipeline_mode.py:198-264`,
    * SURVEY §3.2) — candidate-generation + scoring stage, fully
    * oracle-checked: multi-probe LSH approximate kNN top-20 (the
    * engine's HNSW analog; the Hamming-1 probe set is the efSearch
    * recall knob, reference :221-228) UNIONED with BM25 top-20
    * (:244-246), provenance flags, then each candidate's exact cosine
    * to the query (:249). [[q57RagE2e]] consumes exactly this frame
    * for the sequential MMR tail — the one stage that cannot be
    * SQL-replayed. Memoized: the declared q55 row and q57's input are
    * the same materialized ~40-row frame, not two candidate runs. */
  def q55RagCandidates(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "q55")(q55Build(s, dir)).orderBy("id")

  private def q55Build(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val vecLeg = Search.lshMultiTopK(e, "vec_id", "v",
        e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        "qid", "qv", 20, annBits, embDim, hamming1 = true)
      .select(col("vec_id").as("id"), lit(1).as("in_vec"))
    val lexLeg = BM25.searchIndexed(s, Queries.bm25IndexPath(s, dir),
        Queries.bm25Postings(s, dir),
        Queries.bm25Stats(s, dir), Queries.bm25Terms, 20)
      .select(col("doc").as("id"), lit(1).as("in_lex"))
    val cand = vecLeg.join(lexLeg, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("in_vec"), lit(0)).as("in_vec"),
        coalesce(col("in_lex"), lit(0)).as("in_lex"))
    // resolve candidate ids back to L2-normalized vectors (P10 join —
    // candidate side is ~2k rows at most, AQE broadcasts it) and
    // score against the normalized query, exactly the reference's
    // sims-for-MMR step (:249, evaluation.py:289-291)
    val nv = e.select(col("vec_id").as("id"), l2normalize(col("v")).as("nv"))
    val qn = e.filter(col("vec_id") === 0).select(l2normalize(col("v")).as("qnv"))
    cand.join(nv, "id")
      .crossJoin(broadcast(qn))
      .select(col("id"), col("in_vec"), col("in_lex"),
        round(dot(col("nv"), col("qnv")), 6).as("sim"))
  }

  /** q55's CTE chain (ANN leg ∪ BM25 leg → provenance-flagged
    * candidates → normalized vectors → scored), ending in a
    * `scored(id, in_vec, in_lex, nv, sim)` CTE so the MMR-tail oracle
    * (q57) can build on the same frame. */
  private val q55CteSql: String = {
    val bucket = bucketSql(annBits)
    val hProbes = (0 until annBits)
      .map(b => s"UNION ALL SELECT xor(qb, ${1L << b}) AS pb FROM qb")
      .mkString("\n            ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       bk AS (SELECT vec_id, v, ($bucket) AS b FROM e),
       qb AS (SELECT b AS qb FROM bk WHERE vec_id = 0),
       ph AS (SELECT qb AS pb FROM qb
            $hProbes),
       vec AS (SELECT vec_id AS id FROM (
           SELECT bk.vec_id,
             ROW_NUMBER() OVER (ORDER BY list_dot_product(bk.v, q.qv) DESC, bk.vec_id) AS r
           FROM bk JOIN ph p ON bk.b = p.pb, q) WHERE r <= 20),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       lex AS (SELECT doc_id AS id FROM (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
           WHERE rank <= 20),
       cand AS (SELECT COALESCE(v.id, l.id) AS id,
             CASE WHEN v.id IS NOT NULL THEN 1 ELSE 0 END AS in_vec,
             CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END AS in_lex
           FROM vec v FULL OUTER JOIN lex l ON v.id = l.id),
       nrm AS (SELECT vec_id AS id,
             list_transform(v, x -> x / (sqrt(list_dot_product(v, v)) + 1e-9)) AS nv
           FROM e),
       qn AS (SELECT list_transform(qv, x -> x / (sqrt(list_dot_product(qv, qv)) + 1e-9)) AS qnv
           FROM q),
       scored AS (SELECT cand.id AS id, in_vec, in_lex, nrm.nv AS nv,
             ROUND(list_dot_product(nrm.nv, qn.qnv), 6) AS sim
           FROM cand JOIN nrm ON cand.id = nrm.id, qn)"""
  }

  val q55Sql: String =
    s"""WITH $q55CteSql
       SELECT id, in_vec, in_lex, sim FROM scored ORDER BY id"""

  /** Recursive-CTE replay of the greedy MMR loop over a
    * `cand(id, nv, sim)` CTE: each recursion step appends the
    * candidate no other unselected candidate beats on
    * (λ·sim − (1−λ)·max cos to selected, ties to the lower id) — the
    * argmax is NOT EXISTS, not an aggregate, because SQL forbids
    * aggregation in the recursive term. The score arithmetic is
    * written exactly as the Scala loop computes it — including
    * (1.0 − λ), so both engines share the same rounded constant
    * (1 − 0.7 is NOT the double 0.3) — and the normalize/dot chains
    * are bit-identical across engines (verified empirically:
    * element-wise bit equality on the probe frame), so the greedy
    * argmax replays exactly despite comparing unrounded doubles. */
  private def mmrSelSql(lambda: String, k: Int, candCte: String): String = {
    def score(x: String, mx: String) = s"($lambda*$x.sim - (1.0-$lambda)*$mx)"
    def mxOver(x: String) =
      s"list_max(list_transform(s.sel_vecs, v -> list_dot_product($x.nv, v)))"
    s"""sel AS (
       SELECT 1 AS rank, c.id AS id, c.nv AS nv, [c.id] AS sel_ids, [c.nv] AS sel_vecs
       FROM $candCte c
       WHERE NOT EXISTS (SELECT 1 FROM $candCte d WHERE
           ${score("d", "0.0")} > ${score("c", "0.0")}
           OR (${score("d", "0.0")} = ${score("c", "0.0")} AND d.id < c.id))
       UNION ALL
       SELECT s.rank + 1, c.id, c.nv,
              list_append(s.sel_ids, c.id), list_append(s.sel_vecs, c.nv)
       FROM sel s, $candCte c
       WHERE s.rank < $k AND NOT list_contains(s.sel_ids, c.id)
         AND NOT EXISTS (
           SELECT 1 FROM $candCte d
           WHERE NOT list_contains(s.sel_ids, d.id) AND d.id != c.id
             AND (${score("d", mxOver("d"))} > ${score("c", mxOver("c"))}
               OR (${score("d", mxOver("d"))} = ${score("c", mxOver("c"))}
                   AND d.id < c.id))))"""
  }

  /** q42's oracle: top-50 cosine candidates, then the greedy MMR
    * (λ=0.7, k=10) replayed as a recursive CTE. */
  val q42Sql: String =
    s"""WITH RECURSIVE
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       n AS (SELECT vec_id AS id,
           list_transform(v, x -> x / (sqrt(list_sum(list_transform(v, y -> y*y))) + 1e-9)) AS nv
         FROM e),
       q AS (SELECT nv AS qv FROM n WHERE id = 0),
       cand AS (SELECT id, nv, list_dot_product(nv, qv) AS sim FROM n, q
                ORDER BY sim DESC, id LIMIT 50),
       ${mmrSelSql("0.7", 10, "cand")}
       SELECT id AS vec_id, CAST(rank AS BIGINT) AS rank FROM sel ORDER BY rank"""

  /** q57's oracle: the q55 scored-candidate chain, the greedy MMR
    * tail (λ=0.5, k=10) as a recursive CTE, and the q07-style
    * clean+snippet projection. */
  val q57Sql: String =
    s"""WITH RECURSIVE $q55CteSql,
       mcand AS (SELECT id, nv, sim FROM scored),
       ${mmrSelSql("0.5", 10, "mcand")},
       snip AS (SELECT doc_id AS id,
           regexp_replace(substr(trim(regexp_replace(regexp_replace(text, '[\\r\\n]+', ' ', 'g'), '\\s+', ' ', 'g')), 1, 60), '[\\r\\n]', ' ', 'g') AS snippet
         FROM documents)
       SELECT CAST(sel.rank AS BIGINT) AS rank, sel.id AS id, snip.snippet AS snippet
       FROM sel JOIN snip ON sel.id = snip.id
       ORDER BY rank"""

  /** The σ-sweep DP evaluation — the variant of the reference's
    * harness that produced its PUBLISHED artifact
    * (`evaluation_results.csv:1` columns `dp_*_0p05…0p2`;
    * `evaluation.py:161-170` fixes σ=0.15, the sweep is the CSV's
    * shape): one row per σ ∈ {0.05, 0.1, 0.15, 0.2} with the mean
    * attribute drift (M7, the q17 noise-QA cosine) and the mean rank
    * metrics M1–M5 of the DP search against the exact baseline over
    * the 5-query set. ONE corpus scan serves every σ — the noise
    * scale is an exploded literal column, so at 100 TB this is a 4×
    * row-inflation inside one pass, not four pipeline runs; the DP
    * rankings for all (σ, query) pairs come out of a single
    * bounded-heap aggregate grouped by (σ, qid).
    *
    * Faithful-degeneracy note: the rank-metric columns come out
    * CONSTANT across σ (ndcg_ref = 4.404706 — the published CSV's
    * exact `ndcg_dp_*` value) for the same structural reason the
    * reference's artifact shows `4.4047 / 1.00 / 1.00` in every σ
    * column (SURVEY §6): the noised attribute vector is
    * RE-NORMALIZED, so against a zero-attribute query the score is
    * monotone in the text dot whatever σ is — only the drift column
    * actually moves. The engine reproduces the published numbers,
    * quirk included. */
  val sweepSigmas = Seq(0.05, 0.1, 0.15, 0.2)
  // local constant (= Queries.attrDim): q56Sql interpolates it at
  // object init, and referencing Queries there would create an
  // object-initialization cycle (Queries.all includes this object's
  // catalog)
  private val sweepAttrDim = 16
  def q56DpSweep(s: SparkSession, dir: String): DataFrame = {
    // call-time is cycle-safe (only object-INIT references would
    // deadlock); a drifted attrDim would otherwise surface as a
    // silent dimension mismatch between engine and oracle
    require(sweepAttrDim == Queries.attrDim,
      s"sweepAttrDim ($sweepAttrDim) must equal Queries.attrDim (${Queries.attrDim})")
    val el = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // one corpus scan, σ exploded; staged projections as in q15 so
    // each array materializes once per row; checkpointed because both
    // the scoring branch and the drift branch consume it
    val withSigma = el
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("v"), Queries.attrVec.as("av"))
      .select(col("vec_id"), col("v"), col("av"),
        explode(typedLit(sweepSigmas)).as("sigma"))
      .select(col("sigma"), col("vec_id"), col("v"), col("av"),
        addNoise(col("av"), col("vec_id"), col("sigma")).as("na"))
      .select(col("sigma"), col("vec_id"),
        round(cosine(col("av"), col("na")), 6).as("c"),
        weightedConcat(col("v"), 0.7, col("na"), 0.3).as("w"))
      .select(col("sigma"), col("vec_id"), col("c"),
        l2normalize(col("w")).as("dpv"))
      .localCheckpoint()
    val qsRaw = el.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val qsDp = qsRaw.select(col("qid"),
      Search.dpQueryVec(col("qv"), sweepAttrDim, 0.7).as("qv"))
    val base = Search.multiTopK(emb(s, dir), "vec_id", "v", qsRaw, "qid", "qv", 10)
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    val dpRank = withSigma.crossJoin(broadcast(qsDp))
      .select(col("sigma"), col("qid"), col("vec_id"),
        dot(col("dpv"), col("qv")).as("score"))
      .groupBy("sigma", "qid")
      .agg(org.apache.spark.sql.graftnative.TopKAggregate
        .topK(col("vec_id").cast("long"), col("score"), 10).as("__tk"))
      .select(col("sigma"), col("qid"), explode(col("__tk")).as("__e"))
      .select(col("sigma"), col("qid"), col("__e.id").as("id"), col("__e.rank").as("rank"))
    val metrics = RankMetrics.allGrouped(base, dpRank, 10, Seq("sigma"))
      .groupBy("sigma")
      .agg(round(avg(col("recall")), 6).as("recall"),
        round(avg(col("precision")), 6).as("precision"),
        round(avg(col("agreement")), 6).as("agreement"),
        round(avg(col("mrr")), 6).as("mrr"),
        round(avg(col("ndcg_ref")), 6).as("ndcg_ref"))
    val drift = withSigma.groupBy("sigma")
      .agg(round(avg(col("c")), 6).as("attr_drift"))
    metrics.join(drift, "sigma")
      .select(col("sigma"), col("attr_drift"), col("recall"), col("precision"),
        col("agreement"), col("mrr"), col("ndcg_ref"))
      .orderBy("sigma")
  }

  val q56Sql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       sg AS (SELECT UNNEST([${sweepSigmas.mkString(", ")}]) AS sigma),
       att AS (SELECT vec_id, label, v,
           list_transform(generate_series(0, ${sweepAttrDim - 1}),
             j -> (((label*31 + j*7) % 11) - 5) / 5.0) AS av
         FROM e),
       nz AS (SELECT s.sigma, a.vec_id, a.v, a.av,
           list_transform(generate_series(0, ${sweepAttrDim - 1}),
             j -> a.av[j+1] + (((((a.vec_id % 2147483648)*1103515245 + j*12345) % 1000003) / 1000003.0) - 0.5) * s.sigma) AS nraw
         FROM att a, sg s),
       nn AS (SELECT sigma, vec_id, v, av,
           list_transform(nraw, x -> x / (sqrt(list_dot_product(nraw, nraw)) + 1e-9)) AS na
         FROM nz),
       dp AS (SELECT sigma, vec_id,
           ROUND(list_dot_product(av, na) /
             (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(na, na)) + 1e-9), 6) AS c,
           list_concat(list_transform(v, x -> 0.7*x), list_transform(na, x -> 0.3*x)) AS w
         FROM nn),
       dpv AS (SELECT sigma, vec_id, c,
           list_transform(w, x -> x / (sqrt(list_dot_product(w, w)) + 1e-9)) AS dpv
         FROM dp),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       qdp AS (SELECT qid,
           list_transform(qw, x -> x / (sqrt(list_dot_product(qw, qw)) + 1e-9)) AS qv
         FROM (SELECT qid, list_concat(list_transform(qv, x -> 0.7*x),
              list_transform(generate_series(0, ${sweepAttrDim - 1}), j -> 0.0)) AS qw FROM q)),
       base AS (SELECT qid, vec_id AS id, rank FROM (
           SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv) DESC, e.vec_id) AS rank
           FROM e, q) WHERE rank <= 10),
       oth AS (SELECT sigma, qid, vec_id AS id, rank FROM (
           SELECT d.sigma, qd.qid, d.vec_id,
             ROW_NUMBER() OVER (PARTITION BY d.sigma, qd.qid
               ORDER BY list_dot_product(d.dpv, qd.qv) DESC, d.vec_id) AS rank
           FROM dpv d, qdp qd) WHERE rank <= 10),
       j AS (SELECT o.sigma, o.qid, o.rank AS orank, b.rank AS brank,
             1.0 / log2(o.rank + 1.0) AS g
           FROM oth o LEFT JOIN base b ON o.qid = b.qid AND o.id = b.id),
       pq AS (SELECT sigma, qid,
           COUNT(brank) / 10.0 AS recall,
           CAST(COUNT(brank) AS DOUBLE) / COUNT(*) AS precision,
           AVG(CASE WHEN brank = orank THEN 1.0 ELSE 0.0 END) AS agreement,
           COALESCE(MAX(CASE WHEN brank IS NOT NULL THEN 1.0 / orank END), 0) AS mrr,
           SUM(g * COALESCE(brank, 0)) / SUM(g) AS ndcg_ref
         FROM j GROUP BY sigma, qid),
       met AS (SELECT sigma, ROUND(AVG(recall), 6) AS recall,
           ROUND(AVG(precision), 6) AS precision,
           ROUND(AVG(agreement), 6) AS agreement, ROUND(AVG(mrr), 6) AS mrr,
           ROUND(AVG(ndcg_ref), 6) AS ndcg_ref
         FROM pq GROUP BY sigma),
       dr AS (SELECT sigma, ROUND(AVG(c), 6) AS attr_drift FROM dpv GROUP BY sigma)
       SELECT sigma, attr_drift, recall, precision, agreement, mrr, ndcg_ref
       FROM met JOIN dr USING (sigma) ORDER BY sigma"""

  /** The full RAG flow end-to-end — the reference's
    * `--mode rag --enable_hybrid` run to its final answer: the q55
    * candidate frame → MMR re-rank at the reference's default λ=0.5
    * (`src/main.py:28`) → top-10 → resolve snippets (P9/P10,
    * reference :261-264). The MMR tail runs as a sequential greedy
    * loop over ≤40 candidates (SURVEY §2 R5) and is oracle-checked
    * end to end — q57Sql replays it as a recursive CTE on top of the
    * q55 chain; RagSpec additionally pins the λ=1 degenerate case to
    * pure vector order. */
  def q57RagE2e(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val e = emb(s, dir)
    val cands = q55RagCandidates(s, dir)
      .join(e.select(col("vec_id").as("id"), l2normalize(col("v")).as("nv")), "id")
    val reranked = Hybrid.mmrRerank(cands, "id", "nv", "sim", 10, 0.5)
    reranked
      .join(docs(s, dir).select(col("doc_id").as("id"),
        Ingest.snippet(Ingest.cleanText(col("text")), 60).as("snippet")), "id")
      .select(col("rank"), col("id"), col("snippet"))
      .orderBy("rank")
  }

  /** R5: MMR diversity re-rank over the top-50 vector candidates
    * (λ=0.7). The greedy selection runs on the driver (SURVEY §2 R5)
    * but IS oracle-checked since round 6: the loop replays as a
    * recursive CTE ([[mmrSelSql]]) because the engines' normalize/dot
    * chains are bit-identical. */
  /** q42's candidate generation, exchange-free: scan → broadcast the
    * one query row → TakeOrderedAndProject keeps the global top-50
    * with per-partition heaps, no corpus shuffle (PlanSpec pins this
    * frame's plan — the declared q42 output is the driver-side MMR
    * selection, a local table whose plan says nothing). */
  private[graft] def q42Candidates(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val q = base.filter(col("vec_id") === 0)
      .select(l2normalize(col("v")).as("qv"))
    base.select(col("vec_id"), l2normalize(col("v")).as("nv"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("nv"), dot(col("nv"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(50)
  }

  def q42Mmr(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    Hybrid.mmrRerank(q42Candidates(s, dir), "vec_id", "nv", "sim", 10, 0.7)
      .orderBy("rank")
  }

  // ---------- q107: hard-negative mining ----------

  /** Hard-negative mining for retrieval/embedding training — for each
    * held-out query vector (the first five eval-slice ids:
    * vec_id % 10 = 0, < 50), the top-10 most-similar TRAIN vectors
    * whose label differs from the query's (same-label rows are
    * positives and are excluded BEFORE the top-k, so the negative
    * list is never truncated by them). One corpus scan scores all
    * queries (broadcast query set), the per-(query, candidate) label
    * predicate rides the scan, and per-query top-k runs through the
    * bounded-heap `TopKByScore` aggregate — the q11 shape with an
    * exclusion predicate, so the exchange stays O(queries × k). At
    * 100 TB the same predicate composes unchanged with the IVF /
    * LSH / PQ candidate paths (it is a filter between candidate
    * generation and the heap); the exact scan here is the declared
    * R1 baseline. */
  def q107HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val queries = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    graft.search.Search.rankTopPerQuery(e.filter(col("vec_id") % 10 =!= 0)
        .crossJoin(broadcast(queries))
        .filter(col("label") =!= col("qlabel"))
        .select(col("qid"), col("vec_id"), dot(col("v"), col("qv")).as("score")),
        "vec_id", 10)
      .orderBy("qid", "rank")
  }

  /** The at-rest LABELED IVF index over the train slice
    * (vec_id % 10 ≠ 0): [[graft.search.IVF.assign]] passes payload
    * columns through, so the label rides each inverted list and
    * serving-time exclusion predicates run INSIDE the
    * partition-pruned list scan. Built once per (session,
    * dir-content), charged to `_build_ivf_labeled`. */
  private def ivfLabeledPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "ivf_lbl") {
      val p = PipelineQueries.roundtripPath(dir, "ivf_lbl")
      val train = graft.sources.Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("v"))
      val cents = graft.search.IVF.centroids(train, "vec_id", "v", ivfK)
      graft.search.IVF.writeIndexFrom(cents,
        graft.search.IVF.assign(train, "vec_id", "v", cents), p)
      p
    }

  /** q107 COMPOSED WITH THE ANN CANDIDATE PATH — hard negatives
    * served from the at-rest labeled IVF index instead of the exact
    * corpus scan: each query ranks the standing centroids and keeps
    * its `nprobe` best lists (over the persisted index: partition
    * pruning — a query reads its probed list directories off disk,
    * never the rest of the corpus), the positive-exclusion predicate
    * `label ≠ qlabel` runs between candidate generation and the
    * bounded heap exactly as q107's doc promises — INSIDE the pruned
    * list scan, since the label column rides the lists — and
    * per-query top-k flows through `TopKByScore`, so the exchange
    * stays O(queries × k). The oracle replays the whole composition
    * (train-slice LCG centroids, assignment, probes, label-excluded
    * rank), so the approximation is pinned deterministically, not
    * waved at. */
  def q110HardNegativesAnn(s: SparkSession, dir: String): DataFrame = {
    val path = ivfLabeledPath(s, dir)
    val cents = s.read.parquet(graft.search.IVF.centroidsPath(path))
    val queries = graft.sources.Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel"),
        col("embedding").cast("array<double>").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__cs").desc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("__cs", dot(col("qv"), col("cvec")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= ivfProbe)
      .select(col("qid"), col("qlabel"), col("qv"), col("cid"))
    graft.search.Search.rankTopPerQuery(s.read.parquet(graft.search.IVF.listsPath(path))
        .join(broadcast(probes), "cid") // partition-pruned list scan
        .filter(col("label") =!= col("qlabel")) // exclusion rides the scan
        .select(col("qid"), col("vec_id"), dot(col("v"), col("qv")).as("score")),
        "vec_id", 10)
      .orderBy("qid", "rank")
  }

  /** The straight-line replay of the labeled-index composition:
    * train-slice LCG centroid sample, full assignment, per-query
    * probe ranking, label-excluded scoring, per-query rank. */
  val q110Sql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       t AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
       c AS (SELECT cid, cvec FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM t) WHERE cid < $ivfK),
       a AS (SELECT vec_id, label, v, cid FROM (
           SELECT t.vec_id, t.label, t.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY t.vec_id
               ORDER BY list_dot_product(t.v, c.cvec) DESC, c.cid) AS r
           FROM t, c) WHERE r = 1),
       q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
             FROM e WHERE vec_id % 10 = 0 AND vec_id < 50),
       pr AS (SELECT qid, qlabel, qv, cid FROM (
           SELECT q.qid, q.qlabel, q.qv, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.qid
               ORDER BY list_dot_product(q.qv, c.cvec) DESC, c.cid) AS r
           FROM c, q) WHERE r <= $ivfProbe),
       sc AS (SELECT pr.qid, a.vec_id, list_dot_product(a.v, pr.qv) AS sc
              FROM a JOIN pr ON a.cid = pr.cid AND a.label <> pr.qlabel),
       r AS (SELECT qid, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
               ROUND(sc, 6) AS score FROM sc)
       SELECT qid, vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY qid, rank"""

  val q107Sql: String =
    """WITH q AS (SELECT vec_id AS qid, label AS qlabel, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 50),
       s AS (SELECT qid, e.vec_id, list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) AS sc
             FROM embeddings e, q
             WHERE e.vec_id % 10 <> 0 AND e.label <> q.qlabel),
       r AS (SELECT qid, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
               ROUND(sc, 6) AS score FROM s)
       SELECT qid, vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY qid, rank"""

  // ---------- q126: contrastive triplet mining ----------

  /** Negatives per anchor in the mined triplet table. */
  val tripletNegs = 3

  /** CONTRASTIVE TRIPLET MINING — the materialized (anchor, positive,
    * hard-negative) table an embedding-model trainer consumes
    * (triplet/InfoNCE mining): for each anchor query, the single
    * most-similar SAME-label train vector (the in-class positive) is
    * paired with q107's top-[[tripletNegs]] different-label hard
    * negatives, each row carrying pos/neg similarities and the
    * training margin pos−neg. A NEGATIVE margin is the signal the
    * miner exists to surface — a confusable negative outscoring the
    * true positive.
    *
    * Shape at 100 TB: two corpus scans (one per leg — the label
    * predicate splits before the bounded heap, so each leg is the
    * q107/q11 shape: broadcast anchor set, map-side partial heap,
    * O(anchors × k) exchange), then a k-row × k-row join of the two
    * legs. Nothing anchor×corpus-sized survives an aggregate. Fully
    * oracle-checked. */
  def q126ContrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val anchors = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    // anchors are the vec_id%10==0 slice, the train legs the
    // complement — no self-pair can arise, so neither leg needs an
    // id-exclusion predicate
    def leg(sameLabel: Boolean, k: Int): DataFrame = {
      val cmp = if (sameLabel) col("label") === col("qlabel")
                else col("label") =!= col("qlabel")
      e.filter(col("vec_id") % 10 =!= 0)
        .crossJoin(broadcast(anchors))
        .filter(cmp)
        .select(col("qid"), col("vec_id"), dot(col("v"), col("qv")).as("score"))
        .groupBy("qid")
        .agg(org.apache.spark.sql.graftnative.TopKAggregate
          .topK(col("vec_id").cast("long"), col("score"), k).as("__tk"))
        .select(col("qid"), explode(col("__tk")).as("__e"))
    }
    val pos = leg(sameLabel = true, 1)
      .select(col("qid"), col("__e.id").as("pos_id"), col("__e.score").as("__ps"))
    val neg = leg(sameLabel = false, tripletNegs)
      .select(col("qid"), col("__e.id").as("neg_id"),
        col("__e.rank").as("neg_rank"), col("__e.score").as("__ns"))
    pos.join(broadcast(neg), "qid")
      .select(col("qid").as("anchor_id"), col("pos_id"), col("neg_id"),
        col("neg_rank"),
        round(col("__ps"), 6).as("pos_sim"),
        round(col("__ns"), 6).as("neg_sim"),
        round(col("__ps") - col("__ns"), 6).as("margin"))
      .orderBy("anchor_id", "neg_rank")
  }

  val q126Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, label AS qlabel, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 50),
       ps AS (SELECT qid, e.vec_id, list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) AS sc
             FROM embeddings e, q
             WHERE e.vec_id % 10 <> 0 AND e.label = q.qlabel),
       pr AS (SELECT qid, vec_id, sc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS r FROM ps),
       p1 AS (SELECT qid, vec_id AS pos_id, sc AS psc FROM pr WHERE r = 1),
       ns AS (SELECT qid, e.vec_id, list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) AS sc
             FROM embeddings e, q
             WHERE e.vec_id % 10 <> 0 AND e.label <> q.qlabel),
       nr AS (SELECT qid, vec_id, sc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS r FROM ns),
       n3 AS (SELECT qid, vec_id AS neg_id, CAST(r AS BIGINT) AS neg_rank, sc AS nsc
             FROM nr WHERE r <= $tripletNegs)
       SELECT p1.qid AS anchor_id, pos_id, neg_id, neg_rank,
         ROUND(psc, 6) AS pos_sim, ROUND(nsc, 6) AS neg_sim,
         ROUND(psc - nsc, 6) AS margin
       FROM p1 JOIN n3 ON p1.qid = n3.qid ORDER BY anchor_id, neg_rank"""

  // ---------- catalog ----------

  /** Shared-artifact builds, surfaced to the bench harness as named
    * `_build_*` entries so their one-time cost is charged to the
    * BUILD, not to whichever declared query happens to touch the memo
    * first in name-sorted order (the round-6 q20/q31 attribution
    * skew). Each is idempotent — a no-op when the memo is warm. */
  val builds: Map[String, (SparkSession, String) => Unit] = Map(
    "_build_ivf_index" -> ((s, dir) => { ivfAssigned0(s, dir).count(); () }),
    "_build_chunk_vecs" -> ((s, dir) => { chunkVecs(s, dir).count(); () }),
    "_build_ivf_refined" -> ((s, dir) => { ivfAssignedR(s, dir).count(); () }),
    "_build_pq_codebook" -> ((s, dir) => { pqCodebook(s, dir).count(); () }),
    "_build_eval_metrics" -> ((s, dir) => { q40Materialized(s, dir).count(); () }),
    "_build_rag_candidates" -> ((s, dir) => { q55RagCandidates(s, dir).count(); () }),
    "_build_spectral" -> ((s, dir) => { spectralArtifacts(s, dir).count(); () }),
    "_build_graph_ann" -> ((s, dir) => { graphIndexPath(s, dir); () }),
    "_build_graph_2lvl" -> ((s, dir) => { twoLevelIndexPath(s, dir); () }),
    "_build_ivf_labeled" -> ((s, dir) => { ivfLabeledPath(s, dir); () }),
    "_build_graph_base80" -> ((s, dir) => { graphBase80Path(s, dir); () }),
    "_build_graph_rebuild80" -> ((s, dir) => { graphRebuildPath(s, dir); () }),
    "_build_graph_base60" -> ((s, dir) => { graphBase60Path(s, dir); () }),
    "_build_q120_target" -> ((s, dir) => { q120TargetState(s, dir); () }),
    "_build_sq_index" -> ((s, dir) => { sqIndexPath(s, dir); () }),
    "_build_ivf_base" -> ((s, dir) => { ivfBase100Src(s, dir); () }),
    "_build_sq_base" -> ((s, dir) =>
      { sqBase100Src(s, dir); sqFullSrc(s, dir); () }),
    "_build_ivf_full" -> ((s, dir) => { ivfFullSrc(s, dir); () }),
    "_build_cascade_src" -> ((s, dir) => {
      cascadeIvfSrc(s, dir); cascadeSqSrc(s, dir); cascadeGraphSrc(s, dir); () }),
    "_build_q165_target" -> ((s, dir) => { q165TargetPath(s, dir); () }),
    "_build_q179_target" -> ((s, dir) => { q179TargetPath(s, dir); () }))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q07_ingest_clean" -> (q07IngestClean _),
    "q08_sample" -> (q08Sample _),
    "q09_rollup" -> (q09Rollup _),
    "q16_ann_lsh" -> (q16AnnLsh _),
    "q17_noise_qa" -> (q17NoiseQa _),
    "q45_ann_ivf" -> (q45AnnIvf _),
    "q48_ann_recall" -> (q48AnnRecall _),
    "q194_ivf_derived_k" -> (q194IvfDerivedK _),
    "q195_pq_derived" -> (q195PqDerived _),
    "q182_ivf_recall_deletion" -> (q182IvfRecallDeletion _),
    "q183_graph_recall_deletion" -> (q183GraphRecallDeletion _),
    "q18_fhe_sim" -> (q18FheSim _),
    "q19_fhe_overlap" -> (q19FheOverlap _),
    "q40_rank_metrics" -> (q40Materialized _),
    "q41_hybrid" -> (q41Hybrid _),
    "q42_mmr" -> (q42Mmr _),
    "q43_embed_docs" -> (q43EmbedDocs _),
    "q44_metrics_mean" -> (q44MetricsMean _),
    "q49_dp_attr_search" -> (q49DpAttrSearch _),
    "q51_csv_ingest" -> (q51CsvIngest _),
    "q54_ivf_persist" -> (q54IvfPersist _),
    "q55_rag_candidates" -> (q55RagCandidates _),
    "q56_dp_sweep" -> (q56DpSweep _),
    "q57_rag_e2e" -> (q57RagE2e _),
    "q58_ivf_refined" -> (q58IvfRefined _),
    "q59_pq_ann" -> (q59PqAnn _),
    "q81_ivf_pq" -> (q81IvfPq _),
    "q84_ivf_append" -> (q84IvfAppend _),
    "q96_ivf_refresh" -> (q96IvfRefresh _),
    "q109_ivf_compact" -> (q109IvfCompact _),
    "q114_ann_sq" -> (q114AnnSq _),
    "q121_sq_append" -> (q121SqAppend _),
    "q118_rrf_fusion" -> (q118RrfFusion _),
    "q119_parent_doc" -> (q119ParentDoc _),
    "q123_late_interaction" -> (q123LateInteraction _),
    "q124_matryoshka_recall" -> (q124MatryoshkaRecall _),
    "q86_graph_ann" -> (q86GraphAnn _),
    "q95_graph_recall" -> (q95GraphRecall _),
    "q97_graph_append" -> (q97GraphAppend _),
    "q99_stream_index" -> (q99StreamIndex _),
    "q190_graph_exactly_once" -> (q190GraphExactlyOnce _),
    "q193_graph_upgrade_under_ingest" -> (q193GraphUpgradeUnderIngest _),
    "q116_graph_reroute" -> (q116GraphReroute _),
    "q120_stream_reroute" -> (q120StreamReroute _),
    "q89_embedding_pc" -> (q89EmbeddingPc _),
    "q94_all_but_top" -> (q94AllButTop _),
    "q107_hard_negatives" -> (q107HardNegatives _),
    "q110_hard_negatives_ann" -> (q110HardNegativesAnn _),
    "q126_contrastive_triplets" -> (q126ContrastiveTriplets _),
    "q127_stream_ivf" -> (q127StreamIvf _),
    "q128_stream_sq" -> (q128StreamSq _),
    "q185_ivf_exactly_once" -> (q185IvfExactlyOnce _),
    "q187_upgrade_under_ingest" -> (q187UpgradeUnderIngest _),
    "q189_sq_exactly_once" -> (q189SqExactlyOnce _),
    "q192_sq_requant_under_ingest" -> (q192SqRequantUnderIngest _),
    "q147_stream_ivf_delete" -> (q147StreamIvfDelete _),
    "q155_sq_delete" -> (q155SqDelete _),
    "q156_stream_sq_delete" -> (q156StreamSqDelete _),
    "q158_stream_ivf_valve" -> (q158StreamIvfValve _),
    "q160_cdc_feed" -> (q160CdcFeed _),
    "q161_upsert_revive" -> (q161UpsertRevive _),
    "q162_cascade_forget" -> (q162CascadeForget _),
    "q163_sq_revive" -> (q163SqRevive _),
    "q173_sq_cdc_revive" -> (q173SqCdcRevive _),
    "q174_factory_forget" -> (q174FactoryForget _),
    "q175_graph_pinned_read" -> (q175GraphPinnedRead _),
    "q196_graph_pool_gc_pin" -> (q196GraphPoolGcUnderPin _),
    "q197_graph_two_level" -> (q197GraphTwoLevel _),
    "q198_two_level_assign" -> (q198TwoLevelAssign _),
    "q181_graph_pinned_multi" -> (q181GraphPinnedMulti _),
    "q176_sq_pinned_read" -> (q176SqPinnedRead _),
    "q178_pinned_hybrid_multi" -> (q178PinnedHybridMulti _),
    "q179_graph_valve" -> (q179GraphValve _),
    "q129_graph_filtered" -> (q129GraphFiltered _),
    "q133_sq_compact" -> (q133SqCompact _),
    "q134_ivf_multi" -> (q134IvfMulti _),
    "q135_sq_multi" -> (q135SqMulti _),
    "q141_embedder_upgrade" -> (q141EmbedderUpgrade _),
    "q142_persisted_rag" -> (q142PersistedRag _),
    "q144_index_delete" -> (q144IndexDelete _),
    "q145_graph_delete" -> (q145GraphDelete _),
    "q150_hybrid_multi" -> (q150HybridMulti _),
    "q151_graph_reroute_delete" -> (q151GraphRerouteDelete _),
    "q157_stream_graph_delete" -> (q157StreamGraphDelete _),
    "q165_graph_revive" -> (q165GraphRevive _),
    "q166_cascade_all" -> (q166CascadeAll _),
    "q167_graph_multi" -> (q167GraphMulti _),
    "q168_graph_cdc_feed" -> (q168GraphCdcFeed _),
    "q172_pinned_hybrid" -> (q172PinnedHybrid _))

  val oracle: Map[String, String] = Map(
    "q198_two_level_assign" -> q198Sql,
    "q07_ingest_clean" -> q07Sql,
    "q51_csv_ingest" -> q51Sql,
    "q08_sample" -> q08Sql,
    "q09_rollup" -> q09Sql,
    "q16_ann_lsh" -> q16Sql,
    "q17_noise_qa" -> q17Sql,
    "q45_ann_ivf" -> q45Sql,
    "q48_ann_recall" -> q48Sql,
    "q194_ivf_derived_k" -> q194Sql,
    "q195_pq_derived" -> q195Sql,
    "q182_ivf_recall_deletion" -> q182Sql,
    "q54_ivf_persist" -> q45Sql,
    "q18_fhe_sim" -> q18Sql,
    "q19_fhe_overlap" -> q19Sql,
    "q40_rank_metrics" -> q40Sql,
    "q41_hybrid" -> q41Sql,
    "q42_mmr" -> q42Sql,
    "q43_embed_docs" -> q43Sql,
    "q44_metrics_mean" -> q44Sql,
    "q49_dp_attr_search" -> q49Sql,
    "q55_rag_candidates" -> q55Sql,
    "q56_dp_sweep" -> q56Sql,
    "q57_rag_e2e" -> q57Sql,
    "q58_ivf_refined" -> q58Sql,
    "q59_pq_ann" -> q59Sql,
    "q81_ivf_pq" -> q81Sql,
    "q84_ivf_append" -> q84Sql,
    "q96_ivf_refresh" -> q96Sql,
    "q109_ivf_compact" -> q109Sql,
    "q114_ann_sq" -> q114Sql,
    "q121_sq_append" -> q121Sql,
    "q133_sq_compact" -> q133Sql,
    "q134_ivf_multi" -> q134Sql,
    "q135_sq_multi" -> q135Sql,
    "q141_embedder_upgrade" -> q141Sql,
    "q142_persisted_rag" -> q142Sql,
    "q144_index_delete" -> q144Sql,
    "q118_rrf_fusion" -> q118Sql,
    "q119_parent_doc" -> q119Sql,
    "q123_late_interaction" -> q123Sql,
    "q124_matryoshka_recall" -> q124Sql,
    "q89_embedding_pc" -> q89Sql,
    "q94_all_but_top" -> q94Sql,
    "q107_hard_negatives" -> q107Sql,
    "q110_hard_negatives_ann" -> q110Sql,
    "q126_contrastive_triplets" -> q126Sql,
    // q127's final state IS q84's (standing quantizer + union
    // assignment), so the append replay oracles the streamed index
    "q127_stream_ivf" -> q84Sql,
    "q128_stream_sq" -> q128Sql,
    "q185_ivf_exactly_once" -> q84Sql,
    "q187_upgrade_under_ingest" -> q187Sql,
    "q189_sq_exactly_once" -> q128Sql,
    "q192_sq_requant_under_ingest" -> q192Sql,
    "q147_stream_ivf_delete" -> q147Sql,
    "q158_stream_ivf_valve" -> q147Sql,
    "q160_cdc_feed" -> q160Sql,
    "q161_upsert_revive" -> q161Sql,
    "q162_cascade_forget" -> q162Sql,
    "q163_sq_revive" -> q163Sql,
    "q173_sq_cdc_revive" -> q173Sql,
    "q174_factory_forget" -> q174Sql,
    // q176 serves q155's exact truth through the pinned generation —
    // compaction is content-invariant, so one SQL certifies pin,
    // flip, and fresh generation alike (q175 is rows-only: graph)
    "q176_sq_pinned_read" -> q155Sql,
    // q178 serves q150's exact batch truth through the dual pin —
    // compaction is content-invariant on both legs, so one SQL
    // certifies the pinned and flipped batch fusions alike
    "q178_pinned_hybrid_multi" ->
      q150SqlWhere("NOT (a.vec_id % 23 = 7)", "NOT (doc_id % 23 = 7)"),
    "q166_cascade_all" -> q166Sql,
    // q172 serves q142's exact truth through pinned generations on
    // both legs — compaction is content-invariant, so one SQL
    // certifies pin, flip, and fresh generation alike
    "q172_pinned_hybrid" -> q142Sql,
    "q155_sq_delete" -> q155Sql,
    "q156_stream_sq_delete" -> q156Sql,
    "q150_hybrid_multi" -> q150Sql)
}
