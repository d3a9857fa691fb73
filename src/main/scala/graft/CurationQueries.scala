package graft

import graft.dedup.Dedup
import graft.functions.VectorF._
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation query catalog: the LLM-training-data operators the
  * north star calls out beyond the reference's own surface — text
  * analysis, quality scoring, language-ID, fingerprinting, and the
  * dedup family (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup). Every query has a DuckDB oracle.
  *
  * Scale notes: q22–q24 and q32 are per-row expressions — linear,
  * shuffle-free, codegen'd. q30 shuffles once on the dedup key. q31
  * shuffles on (band, bandsig) — the LSH trick that replaces the
  * quadratic candidate join at 100 TB. q33 applies the same trick to
  * embeddings: sign-bit LSH buckets (Search.lshBucket) as the
  * candidate equi-join key, exact cosine re-score inside buckets.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  // ---------- text analysis ----------

  /** Token statistics per document: whitespace tokens, BPE-ish
    * subword pieces, lexical diversity, mean token length, stopword
    * mass. One scan, zero shuffles. */
  def q22TextStats(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis._
    docs(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        subwordCount(col("text")).as("n_subwords"),
        round(distinctRatio(col("text")), 4).as("distinct_ratio"),
        round(meanTokenLen(col("text")), 4).as("mean_tok_len"),
        round(stopwordOccurrenceRatio(col("text")), 4).as("stop_ratio"))
      .orderBy("doc_id")
  }

  private val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  val q22Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks, text
         FROM documents WHERE doc_id < 200)
       SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords,
         ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS distinct_ratio,
         ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / greatest(len(toks), 1), 4) AS mean_tok_len,
         ROUND(CAST(len(list_filter(toks, x -> list_contains([$stopList], x))) AS DOUBLE) / greatest(len(toks), 1), 4) AS stop_ratio
       FROM t ORDER BY doc_id"""

  /** PII redaction under the oracle gate: every doc gets a
    * deterministic synthetic PII tail (email + URL + phone derived
    * from doc_id — the corpus text itself carries no PII, so the
    * fixture guarantees every redaction branch actually fires), then
    * the scrub replaces each kind with its typed placeholder and the
    * audit counts matches per kind. The md5 of the REDACTED text is
    * declared, so one mis-replaced character anywhere breaks the
    * hash; patterns live in the Java∩RE2 dialect so the identical
    * strings run in both engines. Pure per-row codegen'd projection —
    * scales with the scan. */
  def q88Redact(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis._
    val t2 = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com via http://ex"), col("doc_id").cast("string"),
      lit(".io or 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    docs(s, dir)
      .filter(col("doc_id") < 200)
      .select(Seq(col("doc_id")) ++ piiCounts(t2) :+
        md5(redactPii(t2)).as("fp"): _*)
      .orderBy("doc_id")
  }

  val q88Sql: String = {
    import TextAnalysis._
    s"""WITH t AS (SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com via http://ex' || CAST(doc_id AS VARCHAR)
              || '.io or 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
       FROM documents WHERE doc_id < 200)
       SELECT doc_id,
         CAST(len(regexp_extract_all(t2, '$emailRe')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(t2, '$urlRe')) AS BIGINT) AS n_url,
         CAST(len(regexp_extract_all(t2, '$phoneRe')) AS BIGINT) AS n_phone,
         md5(regexp_replace(regexp_replace(regexp_replace(t2,
           '$emailRe', '<EMAIL>', 'g'),
           '$urlRe', '<URL>', 'g'),
           '$phoneRe', '<PHONE>', 'g')) AS fp
       FROM t ORDER BY doc_id"""
  }

  /** Quality score + language-ID heuristic per document. The langId
    * profile table is a broadcast literal — per-row argmax, no
    * shuffle. `lang` ground truth included for eyeball comparison. */
  def q23QualityLangid(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis._
    docs(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"),
        col("lang"))
      .orderBy("doc_id")
  }

  val q23Sql: String = {
    val langs = TextAnalysis.langProfiles.keys.toSeq.sorted
    val scores = langs.map { l =>
      val grams = TextAnalysis.langProfiles(l)
      val sum = grams.map(g =>
        s"CASE WHEN contains(lower(text), '$g') THEN 1.0 ELSE 0.0 END").mkString(" + ")
      s"(($sum) / ${grams.size}) AS s_$l"
    }.mkString(", ")
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val pick = "CASE " + langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ") + " END"
    s"""WITH t AS (SELECT doc_id, lang, text,
           string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
         WHERE doc_id < 200),
       q AS (SELECT doc_id, lang,
           least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) AS ls,
           CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS dr,
           1.0 - abs(CAST(len(list_filter(toks, x -> list_contains([$stopList], x))) AS DOUBLE)
                     / greatest(len(toks), 1) - 0.4) AS ss,
           $scores, text FROM t),
       m AS (SELECT *, $mx AS mx FROM q)
       SELECT doc_id, ROUND(((ls + dr) + ss) / 3.0, 4) AS quality,
         $pick AS lang_pred, lang
       FROM m ORDER BY doc_id"""
  }

  /** Document fingerprints: exact (MD5 of normalized text) and
    * winnowing-style (min MD5 over 5-gram shingles, robust to local
    * edits). */
  def q24Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.minShingleFingerprint(col("text"), 5).as("msfp"),
        TextAnalysis.rollingFingerprint(col("text")).as("fp_roll"))
      .orderBy("doc_id")

  val q24Sql: String =
    """WITH t AS (SELECT doc_id, text,
           string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
         WHERE doc_id < 200),
       sh AS (SELECT doc_id, text, toks,
           CASE WHEN len(toks) >= 5 THEN
             list_distinct(list_transform(generate_series(1, len(toks) - 4),
               k -> array_to_string(toks[k:k+4], ' ')))
           ELSE [] END AS sh FROM t)
       SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS msfp,
         list_reduce(list_prepend(0, list_transform(toks,
           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)),
           (a, b) -> (a * 31 + b) % 2147483647) AS fp_roll
       FROM sh ORDER BY doc_id"""

  // ---------- dedup family ----------

  /** Exact dedup on normalized text, keep-first; emits the kept id and
    * how many copies collapsed into it. Single hash shuffle on the
    * normalized key. */
  def q30DedupExact(s: SparkSession, dir: String): DataFrame = {
    val key = Dedup.normKey(col("text"))
    val w = Window.partitionBy(key)
    docs(s, dir)
      .withColumn("__rn", row_number().over(w.orderBy(col("doc_id").asc)))
      .withColumn("n_copies", count(lit(1)).over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")
  }

  val q30Sql: String =
    """SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies FROM (
         SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                              ORDER BY doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_copies
         FROM documents)
       WHERE rn = 1 ORDER BY doc_id"""

  /** MinHash-LSH near-dup candidates + exact Jaccard verify.
    * 16 permutations banded 4×4; candidates meet only inside a
    * (band, signature) bucket, then the exact n-gram Jaccard of each
    * candidate pair is computed — the standard two-phase near-dedup at
    * corpus scale. */
  val shingleN = 3; val nPerm = 16; val rowsPerBand = 4

  /** Session-shared ONE-SHOT BAND BUILDS the registration ≡ batch
    * gates compare against (round-19 optimization): the expected side
    * of q130's and q188's gate is the identical deterministic
    * full-corpus MinHash build, and q170's and q180's the identical
    * survivor-slice build — four corpus-sized shingle+permute passes
    * where two memoized frames serve all four gates. Pure functions
    * of the corpus, so each gate still compares against exactly the
    * one-shot build its contract names. */
  private def gateBandsFull(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "gate_bands_full")(
      Dedup.bandedSignatures(docs(s, dir), "doc_id", "text",
          shingleN, nPerm, rowsPerBand)
        .withColumn("sigbucket", sigbucket(col("band"), col("bandsig")))
        .select(col("id"), col("band"), col("bandsig"),
          col("sigbucket").cast("int")))

  /** THE forget cohort (standing docs ≡ 0 mod 9) — the ONE predicate
    * q169/q170/q174/q177/q180's requests and [[gateBandsKept]]'s
    * survivor filter must stay exact negations of; a hand-copied
    * variant drifting in one site would make the shared gate fail
    * for a confusing reason. */
  private[graft] def forgetCohortPred =
    col("doc_id") % 10 =!= 7 && col("doc_id") % 9 === 0

  private def gateBandsKept(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "gate_bands_kept")(
      Dedup.bandedSignatures(
          docs(s, dir)
            .filter(!forgetCohortPred),
          "doc_id", "text", shingleN, nPerm, rowsPerBand)
        .withColumn("sigbucket", sigbucket(col("band"), col("bandsig")))
        .select(col("id"), col("band"), col("bandsig"),
          col("sigbucket").cast("int")))

  /** Verified near-dup pairs over the full corpus, materialized once
    * per (session, dir-content) and shared by pair-level reporting
    * (q31) and cluster-level closure (q68) — the MinHash pipeline is
    * an index build, not a per-query cost. The inner localCheckpoint
    * exists because jaccardVerify references the candidate list twice
    * (pair list + needed-ids prune). */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "neardup_pairs") {
      val d = docs(s, dir)
      val cand = Dedup.lshCandidates(d, "doc_id", "text", shingleN, nPerm, rowsPerBand)
        .localCheckpoint()
      Dedup.jaccardVerify(d, "doc_id", "text", cand, shingleN)
    }

  def q31MinhashPairs(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(s, dir).orderBy("id1", "id2")

  /** The verified-near-dup-pairs CTE chain (shingles → MinHash banded
    * signatures → bucket candidates → exact Jaccard), exposed so other
    * oracles (q68's transitive closure) can build on the same pair
    * set. Ends with a `pairs(id1, id2, jaccard)` CTE. */
  private[graft] val pairsCteSql: String = pairsCteSqlWith("a.doc_id < c.doc_id")

  /** [[pairsCteSql]] with a caller-chosen candidate-pair predicate
    * (`a` = the id1 side, `c` = the id2 side of the bucket
    * self-join) — q31 keeps the canonical `a.doc_id < c.doc_id`
    * within-corpus form; q98 swaps in the delta × base slice split —
    * and a caller-chosen source relation providing (doc_id, text):
    * q117's composed pipeline runs the pair chain over its
    * cleaned-and-exact-deduped survivors instead of raw documents. */
  private[graft] def pairsCteSqlWith(pairPred: String,
      srcSql: String = "SELECT doc_id, text FROM documents",
      prefix: String = ""): String = {
    val nBands = nPerm / rowsPerBand
    val p = prefix
    s"""${p}t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM ($srcSql)),
       ${p}d AS (SELECT doc_id,
           CASE WHEN len(toks) >= $shingleN THEN
             list_distinct(list_transform(generate_series(1, len(toks) - ${shingleN - 1}),
               k -> array_to_string(toks[k:k+${shingleN - 1}], ' ')))
           ELSE [] END AS sh FROM ${p}t),
       ${p}nz AS (SELECT doc_id, sh, len(sh) AS nsh FROM ${p}d WHERE len(sh) > 0),
       ${p}hs AS (SELECT doc_id, sh, nsh,
               list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
             FROM ${p}nz),
       ${p}sig AS (SELECT doc_id, list_transform(generate_series(0, ${nPerm - 1}),
               p -> list_aggregate(list_transform(hs,
                 h -> (((p+1) * 2654435761 % 2147483647) * h + (p+1) * 7919) % 2147483647), 'min')) AS sig
             FROM ${p}hs),
       ${p}banded AS (SELECT doc_id, b.b AS band,
               array_to_string(sig[b.b*$rowsPerBand+1 : b.b*$rowsPerBand+$rowsPerBand], '|') AS bandsig
             FROM ${p}sig, (SELECT unnest(generate_series(0, ${nBands - 1})) AS b) b),
       ${p}cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
              FROM ${p}banded a JOIN ${p}banded c
                ON a.band = c.band AND a.bandsig = c.bandsig AND ($pairPred)),
       ${p}pairs AS (SELECT id1, id2,
         ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
               (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
       FROM ${p}cand JOIN ${p}nz x ON ${p}cand.id1 = x.doc_id
         JOIN ${p}nz y ON ${p}cand.id2 = y.doc_id)"""
  }

  val q31Sql: String =
    s"WITH $pairsCteSql SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"

  // ---------- streaming near-dup (continuous-ingest curation) ----------

  /** The standing corpus's banded MinHash signatures — the at-rest
    * "dedup index" an ingest pipeline keeps next to its corpus so each
    * incoming batch can be checked without re-signaturing what is
    * already there. PERSISTED partitioned by
    * `sigbucket = pmod(hash(band, bandsig), 16)` (the IVF-lists /
    * BM25-buckets discipline applied to dedup): an incoming batch's
    * signatures touch a bounded set of buckets, so its candidate
    * lookup reads ONLY those partition directories — per-batch read
    * cost scales with the batch, not the corpus. Base slice = every
    * document outside the q98 delta (doc_id % 10 ≠ 7); built once per
    * (session, dir-content) under `_build_stream_bands`. At 100 TB
    * the bucket count is the only knob that changes (sized so
    * batch-signatures ≪ buckets ≪ files-per-dir limits). */
  private[graft] val q98SigBuckets = 16
  private[graft] def sigbucket(band: Column, bandsig: Column): Column =
    pmod(hash(band, bandsig), lit(q98SigBuckets))
  private[graft] def streamBandsPath(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q98_base_bands") {
      val p = PipelineQueries.roundtripPath(dir, "q98_bands")
      // the CREATE helper clears the path AND its sidecar/generation
      // siblings — a fresh register must not inherit a dead one's
      // delete set (the sibling-sidecar leftover class)
      Dedup.writeRegister(
        Dedup.bandedSignatures(docs(s, dir).filter(col("doc_id") % 10 =!= 7),
            "doc_id", "text", shingleN, nPerm, rowsPerBand)
          .withColumn("sigbucket", sigbucket(col("band"), col("bandsig"))),
        p, q98SigBuckets)
      p
    }
  private[graft] def streamBaseBands(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(streamBandsPath(s, dir))

  /** One micro-batch's near-dup matches against the at-rest band
    * table: derive the batch's banded signatures, collect its
    * DISTINCT sigbuckets (driver-sized: ≤ 4 bands × batch rows,
    * the MMR-candidate class of bounded collect), read ONLY those
    * bucket directories (explicit partition filter — deterministic
    * pruning, not an optimizer bet), bucket-join, exact-Jaccard
    * verify. Factored out of the stream so StreamingSpec can pin the
    * pruned-scan plan shape directly. The verify step's text fetch
    * (jaccardVerify's semi-join against `allDocs`) scans the corpus
    * table here; at real scale the corpus lives id-bucketed (the
    * postings discipline), making that fetch a bucket-pruned point
    * lookup of the batch's candidate ids — the layout changes, the
    * plan does not. */
  private[graft] def q98BatchMatches(s: SparkSession, batch: DataFrame,
                                     bandsPath: String,
                                     allDocs: DataFrame): DataFrame =
    q98BatchMatchesSigs(s,
      Dedup.bandedSignatures(batch, "doc_id", "text",
          shingleN, nPerm, rowsPerBand)
        .withColumn("sigbucket", sigbucket(col("band"), col("bandsig")))
        .localCheckpoint(), // referenced three times below; batch-sized
      bandsPath, allDocs)

  /** The standing `doc_id % 10 = 7` slice's banded signatures,
    * derived ONCE per session × corpus: the register witness rows
    * (q169/q174/q177) call [[q98BatchMatches]] with this same slice
    * 2–3 times each against DIFFERENT register generations — the
    * signatures are a pure function of the slice's text and never
    * change across those calls. */
  private[graft] def incomingSigs7(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "sigs_mod10_7")(
      Dedup.bandedSignatures(docs(s, dir).filter(col("doc_id") % 10 === 7),
          "doc_id", "text", shingleN, nPerm, rowsPerBand)
        .withColumn("sigbucket", sigbucket(col("band"), col("bandsig"))))

  /** [[q98BatchMatches]] with the batch's signatures PRE-DERIVED
    * (already materialized) — the whole-slice witness callers reuse
    * one memoized derivation across their per-generation calls. */
  private[graft] def q98BatchMatchesSigs(s: SparkSession, sigs: DataFrame,
                                         bandsPath: String,
                                         allDocs: DataFrame): DataFrame = {
    val buckets = sigs.select(col("sigbucket")).distinct()
      .collect().map(_.getInt(0))
    // the register read is SIDECAR-AWARE (Dedup.liveRegister — a
    // passthrough when the register was never deleted from): a
    // forgotten doc's bands must stop suppressing incoming content
    // between the delete and the compaction rewrite (q169's ghost-
    // suppression contract)
    val base = Dedup.liveRegister(s, bandsPath,
      s.read.parquet(bandsPath)
        .filter(col("sigbucket").isin(buckets.map(Integer.valueOf): _*)))
    val cands = sigs.as("a")
      .join(base.as("b"),
        col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    Dedup.jaccardVerify(allDocs, "doc_id", "text", cands, shingleN)
  }

  /** The q98 delta slice staged as a FOUR-file parquet directory so
    * the file-stream source delivers it as several micro-batches
    * (maxFilesPerTrigger=1), not one — the multi-batch path is the
    * part worth exercising. Hash-split by doc_id: deterministic file
    * contents, and the batch split must not matter (the contract
    * [[q98StreamNeardup]] relies on). */
  private[graft] def q98Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q98_stage") {
      val p = PipelineQueries.roundtripPath(dir, "q98_stream")
      docs(s, dir).filter(col("doc_id") % 10 === 7)
        .repartition(4, col("doc_id"))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** STREAMING NEAR-DUP against the standing corpus — the
    * continuous-ingest shape of q31: documents arrive as a stream
    * (the doc_id % 10 = 7 slice, staged as a 4-file source drained in
    * 4 micro-batches), each micro-batch derives its banded MinHash
    * signatures, candidates meet the STATIC base-corpus band table
    * through the (band, bandsig) equi-join, and each candidate pair
    * is exact-Jaccard verified — all inside `foreachBatch`, because
    * signature derivation chains two aggregations that the
    * incremental streaming planner cannot express in one stateful
    * query, while per-batch batch semantics express them exactly.
    *
    * Every delta doc's matches depend only on its own text and the
    * static base table, so the drained union is independent of how
    * the source splits batches and equals the batch replay — which is
    * exactly what the DuckDB oracle checks (q31's CTE chain with the
    * candidate join restricted to delta × base). Within-stream
    * duplicates are q30/q31's domain, not this query's: matched pairs
    * always cross the slice boundary (id1 = incoming, id2 = corpus).
    *
    * Scale shape: the base band table lives AT REST partitioned by
    * sigbucket, and each batch reads only its own buckets (explicit
    * partition filter from the batch's collected bucket set —
    * [[q98BatchMatches]]); per-batch verify cost scales with that
    * batch's candidates, never the corpus. */
  def q98StreamNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val bandsPath = streamBandsPath(s, dir)
    val stage = q98Stage(s, dir)
    val out = PipelineQueries.roundtripPath(dir, "q98_out")
    // seed with the empty schema: a drain whose every batch verified
    // zero pairs must still read back as an empty typed frame
    Seq.empty[(Long, Long, Double)].toDF("id1", "id2", "jaccard")
      .write.mode("overwrite").parquet(out)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) =>
      q98BatchMatches(s, batch, bandsPath, d)
        .write.mode("append").parquet(out))
    s.read.parquet(out).orderBy("id1", "id2")
  }

  val q98Sql: String =
    s"""WITH ${pairsCteSqlWith("a.doc_id % 10 = 7 AND c.doc_id % 10 <> 7")}
       SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""

  // ---------- q130: CUMULATIVE streaming near-dup ----------

  /** The incoming slice staged as four id-ordered batch files with
    * DETERMINISTIC rank-quartile boundaries — batch(doc) =
    * ⌊4·(rank−1)/n⌋ over the incoming ids in order — so the oracle
    * can replay exactly which earlier-batch documents each batch
    * dedups against (q98's hash-split staging is deliberately
    * order-free because its matches only ever face the standing
    * corpus; cumulative matching makes arrival order part of the
    * semantics, so the split rule must be cross-engine computable).
    * The rank window runs over the corpus/10 incoming slice — the
    * same staging-harness class as every other stream stage. */
  private def q130Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q130_stage") {
      val p = PipelineQueries.roundtripPath(dir, "q130_stream")
      graft.FileTree.delete(new java.io.File(p))
      val inc = docs(s, dir).filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"))
      val cnt = inc.count()
      require(cnt > 0, "q130: incoming slice is empty — nothing to stage")
      val staged = inc
        .withColumn("bat", expr(s"((row_number() OVER (ORDER BY doc_id) - 1) * 4) div $cnt"))
        .localCheckpoint()
      // each batch's files identified by a directory-listing diff
      // (never by wall-clock mtime windows), then pinned in batch
      // order through the shared asserting primitive
      def partFiles(): Set[java.io.File] =
        Option(new java.io.File(p).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).toSet
      val written = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      (0 until 4).foreach { b =>
        val before = partFiles()
        staged.filter(col("bat") === b).select(col("doc_id"), col("text"))
          .coalesce(1).write.mode("append").parquet(p)
        val fresh = (partFiles() -- before).toSeq.sortBy(_.getName)
        require(fresh.nonEmpty, s"q130 stage batch $b wrote no file")
        written ++= fresh
      }
      PipelineQueries.pinAscendingMtimes(written.toSeq)
      p
    }

  /** CUMULATIVE streaming near-dup — the register-after-vetting
    * semantic q98 leaves open: q98 checks every incoming batch
    * against the STANDING corpus only, so two near-identical
    * documents arriving in different batches both pass. Here each
    * drained batch (1) matches against the band table AS IT IS —
    * standing corpus plus every PREVIOUSLY REGISTERED batch — and
    * (2) registers its own banded signatures into the table
    * (bucket-partitioned append, one file per touched sigbucket: the
    * q87/q127 write discipline on the dedup index), so later batches
    * dedup against it. The standing band table is cloned first —
    * maintenance mutates a private copy, never the shared artifact.
    * Fully oracle-checked: the staged batch boundaries are
    * deterministic rank quartiles, so the DuckDB replay knows exactly
    * which (incoming, earlier-incoming) pairs each batch can see, and
    * the in-query require pins the final mutated band table equal to
    * a one-shot build over standing ∪ incoming — registration ≡
    * batch, the stream-equals-batch discipline on the dedup index
    * itself. */
  def q130StreamNeardupCumulative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mut = PipelineQueries.roundtripPath(dir, "q130_bands")
    graft.FileTree.delete(new java.io.File(mut))
    graft.FileTree.copy(new java.io.File(streamBandsPath(s, dir)),
      new java.io.File(mut))
    val stage = q130Stage(s, dir)
    val out = PipelineQueries.roundtripPath(dir, "q130_out")
    Seq.empty[(Long, Long, Double)].toDF("id1", "id2", "jaccard")
      .write.mode("overwrite").parquet(out)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) => {
      val b = batch.localCheckpoint()
      // vet against everything registered so far...
      q98BatchMatches(s, b, mut, d).write.mode("append").parquet(out)
      // ...then register this batch for the ones after it (the
      // revive-probed append — a directory read here: never deleted;
      // the require turns that assumption into a loud gate)
      val landed = Dedup.appendToRegister(s, mut,
        Dedup.bandedSignatures(b, "doc_id", "text", shingleN, nPerm, rowsPerBand)
          .withColumn("sigbucket", sigbucket(col("band"), col("bandsig"))),
        q98SigBuckets)
      require(landed == mut,
        s"q130: revive probe fired on a never-deleted register ($landed)")
    })
    // registration ≡ batch: the mutated table equals a one-shot build
    // over the whole corpus
    val full = gateBandsFull(s, dir)
    val mutRows = s.read.parquet(mut)
      .select(col("id"), col("band"), col("bandsig"), col("sigbucket").cast("int"))
    require(Gates.sameRows(mutRows, full),
      "q130: the registered band table must equal a one-shot build row for row")
    s.read.parquet(out).orderBy("id1", "id2")
  }

  /** EXACTLY-ONCE REGISTRATION — q130's cumulative drain under the
    * at-least-once delivery foreachBatch actually guarantees (the
    * q185/q186 discipline on the dedup register): every batch's WHOLE
    * function runs TWICE — both the vetting output and the
    * registration — because a real re-delivery re-runs everything,
    * not just the part under test. Both legs are idempotent: the
    * match output writes one OVERWRITE-mode directory per batch
    * (`bat=<id>` — the standard idempotent foreachBatch output sink:
    * a re-delivery replaces its own batch's rows, never appends) AND
    * reads deterministically (the vet excludes the batch's own ids —
    * a re-delivery reads a register that already holds its first
    * delivery's bands, and without the exclusion the batch would
    * match itself and the overwrite would replace the correct output
    * with the polluted one: idempotent writes alone are not enough
    * when the function reads state it also mutates), and
    * registration rides [[graft.dedup.Dedup.appendToRegisterIdempotent]]
    * (batch 1 starts over a "crashed" attempt's stage debris, batch
    * 2's re-delivery arrives with its ledger marker deleted — the
    * recovery-scrub and post-promote crash windows). Without the
    * ledger the doubled registration would double every band —
    * q130's registration ≡ one-shot-build gate (exceptAll both ways)
    * makes a single duplicated row loud. Oracle: q130's cumulative
    * replay verbatim — exactly-once under failures is
    * indistinguishable from never having failed. */
  def q188RegisterExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mut = PipelineQueries.roundtripPath(dir, "q188_bands")
    // clear the register AND its siblings (__applied ledger, delete
    // sidecar, __genN) from a prior run — the maintenance copy starts fresh
    Option(new java.io.File(mut).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q188_bands"))
      .foreach(graft.FileTree.delete)
    graft.FileTree.copy(new java.io.File(streamBandsPath(s, dir)),
      new java.io.File(mut))
    val stage = q130Stage(s, dir)
    val out = PipelineQueries.roundtripPath(dir, "q188_out")
    val ckpt = PipelineQueries.roundtripPath(dir, "q188_ckpt")
    graft.FileTree.delete(new java.io.File(out))
    graft.FileTree.delete(new java.io.File(ckpt))
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatchResumable(s, src, ckpt, (batch, bid) => {
      val b = batch.localCheckpoint()
      def deliver(): Unit = {
        // idempotence needs DETERMINISTIC READS, not just idempotent
        // writes: a re-delivery vets against a register that already
        // holds the batch's own first-delivery bands, so the batch
        // would match ITSELF and the overwrite would replace the
        // correct output with the polluted one. Excluding the
        // batch's own ids makes the vet a pure function of
        // (batch, state-before-batch) on every delivery.
        q98BatchMatches(s, b, mut, d)
          .join(b.select(col("doc_id").as("id2")), Seq("id2"), "left_anti")
          .write.mode("overwrite").parquet(s"$out/bat=$bid")
        val landed = Dedup.appendToRegisterIdempotent(s, mut,
          Dedup.bandedSignatures(b, "doc_id", "text", shingleN, nPerm, rowsPerBand)
            .withColumn("sigbucket", sigbucket(col("band"), col("bandsig"))),
          q98SigBuckets, bid)
        require(landed == mut,
          s"q188: batch $bid landed in $landed instead of $mut")
      }
      if (bid == 1L) // a "crashed" earlier attempt left its stage dir
        graft.streaming.ExactlyOnce.stageDir(new java.io.File(mut), bid).mkdirs()
      deliver()
      if (bid == 2L) { // crash AFTER the promote, BEFORE the marker
        val m = new java.io.File(Generations.ledger(mut), s"b$bid")
        require(m.delete(), s"q188: batch $bid must have committed a marker")
      }
      deliver() // the at-least-once re-delivery, every batch
      require(graft.streaming.ExactlyOnce.isApplied(
          Generations.ledger(mut), bid),
        s"q188: batch $bid must end committed in the ledger")
    }, sweepLedgers = Seq(Generations.ledger(mut)))
    // ledger RETIREMENT (round 18, the q193 discipline): the durable
    // checkpoint's watermark sweep retired every committed marker;
    // the one-shot-build gate below proves it re-applied nothing
    val q188Markers = Option(Generations.ledger(mut).listFiles())
      .toSeq.flatten.map(_.getName)
    require(q188Markers.isEmpty,
      s"q188: the post-drain sweep must retire every marker, got $q188Markers")
    (0L until 4L).foreach { bid =>
      require(!graft.streaming.ExactlyOnce.stageDir(
          new java.io.File(mut), bid).exists(),
        s"q188: batch $bid must leave no stage debris")
    }
    // q130's gate: registration ≡ one-shot build over the whole
    // corpus, row for row — a single band doubled by any of the
    // eight deliveries fails here
    val full = gateBandsFull(s, dir)
    val mutRows = s.read.parquet(mut)
      .select(col("id"), col("band"), col("bandsig"), col("sigbucket").cast("int"))
    require(Gates.sameRows(mutRows, full),
      "q188: the exactly-once drain must equal the one-shot build — " +
        "a doubled band is a silent duplication")
    s.read.parquet(out).select(col("id1"), col("id2"), col("jaccard"))
      .orderBy("id1", "id2")
  }

  // ---------- q136: the STREAMING curation front half ----------

  /** The whole corpus staged as 4 doc_id-ordered batch files with
    * ascending mtimes — arrival order IS id order, which is the one
    * property the streamed front half needs: cross-batch keep-first
    * then equals batch keep-first-by-id, and every pair's earlier
    * member is registered before its later member arrives. The exact
    * range boundaries don't matter (the final vetted table is
    * split-invariant), so the generic range stager suffices where
    * q130 needed rank quartiles. */
  private def q136Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q136_stage") {
      PipelineQueries.stageOrderedFiles(
        docs(s, dir).select(col("doc_id"), col("source"), col("text")),
        "doc_id", 4, PipelineQueries.roundtripPath(dir, "q136_stream"))
    }

  /** Norm-key register bucketing — the sigbucket discipline applied
    * to the exact-dedup index: a batch's key lookups read only its
    * own bucket directories. */
  private val q136KeyBuckets = 16
  private def kbucket(k: Column): Column = pmod(hash(k), lit(q136KeyBuckets))

  /** STREAMING CURATION FRONT HALF — q117's stages 1–4 as one drained
    * lifecycle (the stream-equals-batch discipline applied one level
    * up from q130): documents arrive as four id-ordered micro-batches;
    * each batch (1) cleans, (2) exact-dedups — keep-first WITHIN the
    * batch, then drop every norm key the standing KEY REGISTER has
    * seen (bucket-pruned read), (3) derives banded MinHash signatures
    * and meets the standing BAND REGISTER (standing corpus = every
    * earlier batch) plus itself for candidates, exact-Jaccard
    * verified against the at-rest survivor texts, and (4) registers
    * its survivors: keys, bands (bucket-partitioned appends — one
    * file per touched bucket), and the survivor rows themselves.
    * After the drain, the accumulated pair table closes into near-dup
    * components and the component-keyed decontamination drops the
    * eval slice (doc_id % 10 = 7) and everything sharing a component
    * with it — the exact front half of q117's chain, so the FINAL
    * VETTED TABLE is fully oracle-checked against the batch replay
    * (the q117Sql front CTEs): the hash match IS the
    * stream ≡ batch equality gate on the artifact that matters. The
    * in-query require pins the register-after-vetting wiring the
    * oracle cannot see: the key register must equal the survivors'
    * norm keys row for row.
    *
    * Scale shape: per-batch cost is the batch's own keys/buckets
    * (bucket-pruned register reads, batch-sized writes); the
    * post-drain close is the already-audited component + decon
    * chain. Arrival id-order is the continuous-ingest contract
    * (growing ids), the same one q97/q99 enforce for index appends. */
  def q136StreamCuration(s: SparkSession, dir: String): DataFrame =
    q136Vetted(s, dir)
      .select(col("doc_id"), col("source"), col("ck"))
      .orderBy("doc_id")

  /** The streamed vetted table WITH its cleaned text — drained ONCE
    * per session x corpus (charged to `_build_q136_vetted`, which the
    * bench runs before any query): the declared q136 AND q137 both
    * read this one artifact, so the 4-batch lifecycle runs exactly
    * once per bench/verify instead of once per consumer (the round-11
    * double-drain was ~35 s of a 253 s bench on one operator family).
    * The in-lifecycle require gates still run — inside the single
    * memoized drain. */
  private[graft] def q136Vetted(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "q136_vetted")(q136Lifecycle(s, dir, "q136"))

  /** The q136 drain + post-drain close.
    * Returns (doc_id, source, ck, ctext). */
  private def q136Lifecycle(s: SparkSession, dir: String, tag: String): DataFrame = {
    import s.implicits._
    import graft.ingest.Ingest
    val stage = q136Stage(s, dir)
    val keysP = PipelineQueries.roundtripPath(dir, s"${tag}_keys")
    val survP = PipelineQueries.roundtripPath(dir, s"${tag}_surv")
    val bandsP = PipelineQueries.roundtripPath(dir, s"${tag}_bands")
    val pairsP = PipelineQueries.roundtripPath(dir, s"${tag}_pairs")
    Seq(keysP, survP, bandsP, pairsP)
      .foreach(p => graft.FileTree.delete(new java.io.File(p)))
    // empty partitioned writes land no files at all — the register
    // dirs are created empty and read back under explicit schemas
    // until their first append
    val keysSchema = "k string, kb int"
    val bandsSchema = "id bigint, band bigint, bandsig string, sigbucket int"
    Seq(keysP, bandsP).foreach(p => new java.io.File(p).mkdirs())
    Seq.empty[(Long, String, String)].toDF("doc_id", "source", "ctext")
      .write.mode("overwrite").parquet(survP)
    Seq.empty[(Long, Long, Double)].toDF("id1", "id2", "jaccard")
      .write.mode("overwrite").parquet(pairsP)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) => {
      val b = batch.select(col("doc_id"), col("source"),
          Ingest.cleanText(col("text")).as("ctext"))
        .withColumn("k", Dedup.normKey(col("ctext")))
        .localCheckpoint()
      // (2) exact dedup: keep-first within the batch, then the
      // standing register (bucket-pruned: only this batch's kbuckets)
      val inBatch = Ingest.dedupFirst(b, col("k"), col("doc_id"))
      val kbs = inBatch.select(kbucket(col("k")).as("kb")).distinct()
        .as[Int].collect()
      val standingKeys = s.read.schema(keysSchema).parquet(keysP)
        .filter(col("kb").isin(kbs.map(Integer.valueOf): _*))
      val survB = inBatch.join(standingKeys.select("k"), Seq("k"), "left_anti")
        .localCheckpoint()
      // (3) near-dup candidates: batch bands × (register ∪ batch)
      val sigs = Dedup.bandedSignatures(survB, "doc_id", "ctext",
          shingleN, nPerm, rowsPerBand)
        .withColumn("sigbucket", sigbucket(col("band"), col("bandsig")))
        .localCheckpoint()
      val sbs = sigs.select(col("sigbucket")).distinct().as[Int].collect()
      val reg = s.read.schema(bandsSchema).parquet(bandsP)
        .filter(col("sigbucket").isin(sbs.map(Integer.valueOf): _*))
      // registered ids precede every batch id (ordered arrival), so
      // (register, batch) is already the id1 < id2 orientation
      val crossCand = reg.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
      val withinCand = sigs.as("a").join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
      val cands = crossCand.unionByName(withinCand).distinct()
      val texts = s.read.parquet(survP).select(col("doc_id"), col("ctext"))
        .unionByName(survB.select(col("doc_id"), col("ctext")))
      Dedup.jaccardVerify(texts, "doc_id", "ctext", cands, shingleN)
        .write.mode("append").parquet(pairsP)
      // (4) register AFTER vetting: keys, bands, survivor rows
      survB.select(col("k"), kbucket(col("k")).as("kb"))
        .repartition(col("kb"))
        .write.mode("append").partitionBy("kb").parquet(keysP)
      require(Dedup.appendToRegister(s, bandsP, sigs, q98SigBuckets) == bandsP,
        "q136: revive probe fired on a never-deleted register")
      survB.select(col("doc_id"), col("source"), col("ctext"))
        .write.mode("append").parquet(survP)
    })
    val surv = s.read.parquet(survP)
    // register ≡ survivors (narrow single-column compare): the key
    // register holds exactly the surviving norm keys — the
    // registration wiring the final-table oracle cannot observe
    val keyRows = s.read.schema(keysSchema).parquet(keysP).select(col("k"))
    val survKeys = surv.select(Dedup.normKey(col("ctext")).as("k"))
    require(Gates.sameRows(keyRows, survKeys),
      "q136: the key register must equal the survivors' norm keys row for row")
    // post-drain close: components over the accumulated pairs, then
    // component-keyed decontamination — q117 stages 3–4
    val pairs = s.read.parquet(pairsP).filter(col("jaccard") >= nearDupTau)
    val comp = graft.operators.ConnectedComponents.components(pairs, "id1", "id2")
      .select(col("v").as("doc_id"), col("component"))
    val keyed = surv.join(comp, Seq("doc_id"), "left")
      .withColumn("ck", coalesce(col("component"), col("doc_id")))
    val evalCk = keyed.filter(col("doc_id") % 10 === 7).select("ck").distinct()
    keyed.filter(col("doc_id") % 10 =!= 7)
      .join(evalCk, Seq("ck"), "left_anti")
      .select(col("doc_id"), col("source"), col("ck"), col("ctext"))
  }

  /** The batch replay: q117Sql's front half verbatim — clean,
    * keep-first exact dedup, the pair chain over the survivors, the
    * recursive component closure, component-keyed decon — ending at
    * the vetted table instead of rolling on into the LM filter.
    * (lazy: interpolates [[nearDupTau]], declared later in the
    * object — an eager val would capture 0.0 at init.) */
  lazy val q136Sql: String = {
    val tau = nearDupTau
    s"""WITH RECURSIVE cl AS (SELECT doc_id, source,
           trim(regexp_replace(regexp_replace(text, '[\\r\\n]+', ' ', 'g'), '\\s+', ' ', 'g')) AS ctext
         FROM documents),
       surv AS (SELECT doc_id, source, ctext FROM cl
         QUALIFY ROW_NUMBER() OVER (
           PARTITION BY regexp_replace(lower(trim(ctext)), '\\s+', ' ', 'g')
           ORDER BY doc_id) = 1),
       ${pairsCteSqlWith("a.doc_id < c.doc_id",
          "SELECT doc_id, ctext AS text FROM surv")},
       e AS (SELECT id1 AS a, id2 AS b FROM pairs WHERE jaccard >= $tau
             UNION ALL SELECT id2 AS a, id1 AS b FROM pairs WHERE jaccard >= $tau),
       vnodes AS (SELECT DISTINCT a AS v FROM e),
       r AS (SELECT v, v AS l FROM vnodes
             UNION SELECT e.b AS v, r.l AS l FROM r JOIN e ON e.a = r.v),
       comps AS (SELECT v AS doc_id, CAST(MIN(l) AS BIGINT) AS component FROM r GROUP BY v),
       keyed AS (SELECT s.doc_id, s.source,
           COALESCE(c.component, s.doc_id) AS ck
         FROM surv s LEFT JOIN comps c ON s.doc_id = c.doc_id),
       evalck AS (SELECT DISTINCT ck FROM keyed WHERE doc_id % 10 = 7)
       SELECT doc_id, source, CAST(ck AS BIGINT) AS ck FROM keyed
       WHERE doc_id % 10 <> 7 AND ck NOT IN (SELECT ck FROM evalck)
       ORDER BY doc_id"""
  }

  /** q98's replay with the cumulative arrival predicate: an incoming
    * document also matches incoming documents from STRICTLY EARLIER
    * rank-quartile batches. */
  val q130Sql: String =
    s"""WITH bq AS (SELECT doc_id,
           CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) * 4 //
             (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 7) AS BIGINT) AS bat
         FROM documents WHERE doc_id % 10 = 7),
       ${pairsCteSqlWith("a.doc_id % 10 = 7 AND (c.doc_id % 10 <> 7 OR " +
        "(SELECT x.bat FROM bq x WHERE x.doc_id = c.doc_id) < " +
        "(SELECT y.bat FROM bq y WHERE y.doc_id = a.doc_id))")}
       SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""

  // ---------- q169: right-to-be-forgotten on the dedup register ----------

  /** FORGETTING REACHES THE CURATION REGISTER — the derived artifact
    * the cascade rows (q162/q166) did not cover: the at-rest banded
    * MinHash register is FINGERPRINTS OF DOCUMENT CONTENT, so a
    * right-to-be-forgotten request must erase the doc's bands too —
    * and not just for data hygiene: a register that keeps them
    * SUPPRESSES every future near-duplicate of the forgotten doc
    * (ghost suppression — deleted content keeps shaping what the
    * pipeline admits). Two-phase like every index: phase 1 lands the
    * request in the register's sidecar ([[graft.dedup.Dedup
    * .deleteFromRegister]] — O(request), opens no bucket file,
    * repeat counts zero) and the register read inside
    * [[q98BatchMatches]] anti-joins it (AQE-governed); phase 2 rides
    * [[graft.dedup.Dedup.compactRegister]]'s staged one-file-per-
    * bucket rewrite into a fresh `__genN` path with a clean sidecar.
    * Gates: the delete counts exactly request ∩ register with the
    * bucket files snapshot-untouched, [[graft.dedup.Dedup
    * .needsCompactRegister]] tracks the standing sidecar exactly,
    * the GHOST-SUPPRESSION WITNESS — the incoming slice's match
    * table loses EXACTLY the pairs whose standing member was
    * forgotten (k-sized set algebra, so the hide changes nothing
    * else) — and after compaction the register physically holds zero
    * forgotten rows while serving the identical match table.
    * Declared output: the post-forget match table, hash-matched
    * against q98's replay with the forgotten docs never in the
    * standing corpus. */
  def q169RegisterForget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mut = PipelineQueries.roundtripPath(dir, "q169_bands")
    // clean THIS row's whole generation family (a prior run's __genN
    // siblings and sidecars would leak into the version counter)
    Option(new java.io.File(mut).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q169_bands"))
      .foreach(graft.FileTree.delete)
    graft.FileTree.copy(new java.io.File(streamBandsPath(s, dir)),
      new java.io.File(mut))
    val req = d.filter(forgetCohortPred)
      .select(col("doc_id").as("id"))
    val nReq = Memo.cachedCount(s, dir, "q169_nreq")(req.count())
    def matches(p: String) = q98BatchMatchesSigs(s, incomingSigs7(s, dir), p, d)
      .select(col("id1"), col("id2"), col("jaccard"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val before = matches(mut)
    require(before.exists(_._2 % 9 == 0),
      "q169 needs at least one pair whose standing member is forgotten " +
        "for the ghost-suppression witness to bite")
    def bucketSnap(): Map[String, Long] =
      Option(new java.io.File(mut).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("sigbucket="))
        .flatMap(dd => Option(dd.listFiles()).toSeq.flatten)
        .map(f => f.getPath -> f.lastModified()).toMap
    val snap = bucketSnap()
    // phase 1: O(request) sidecar, no bucket file opened, idempotent
    val nDel = Dedup.deleteFromRegister(s, mut, req)
    require(nDel == nReq,
      s"q169: the sidecar must record exactly request∩register ($nDel of $nReq)")
    require(Dedup.deleteFromRegister(s, mut, req) == 0L,
      "q169: re-deleting tombstoned docs must count zero")
    require(bucketSnap() == snap,
      "q169: the tombstone phase must not touch a bucket file")
    require(Dedup.needsCompactRegister(s, mut, nReq - 1) &&
        !Dedup.needsCompactRegister(s, mut, nReq),
      "q169: needsCompactRegister must track the standing sidecar exactly")
    // the ghost-suppression witness: the hide removes exactly the
    // forgotten-member pairs and nothing else
    val after = matches(mut)
    require(!after.exists(_._2 % 9 == 0),
      "q169: a forgotten doc still suppresses incoming content")
    require(after == before.filterNot(_._2 % 9 == 0),
      "q169: the hide changed pairs beyond the forgotten members")
    // phase 2: staged rewrite into a fresh generation, clean sidecar,
    // physically zero forgotten rows, identical serve
    val rawRows = s.read.parquet(mut).count()
    val forgottenRows = s.read.parquet(mut)
      .join(broadcast(req), Seq("id"), "left_semi").count()
    val live = Dedup.compactRegister(s, mut, q98SigBuckets)
    require(live != mut, "q169: compaction must return a fresh generation")
    require(!Tombstones.exists(Tombstones.beside(live)),
      "q169: the compacted generation must start with a clean sidecar")
    require(s.read.parquet(live).count() == rawRows - forgottenRows,
      "q169: compaction must drop exactly the forgotten docs' band rows")
    require(s.read.parquet(live).join(broadcast(req), Seq("id"), "left_semi")
        .isEmpty,
      "q169: a forgotten doc's bands survived the rewrite")
    require(matches(live) == after,
      "q169: hide-now and remove-later must serve identical match tables")
    after.toDF("id1", "id2", "jaccard").orderBy("id1", "id2")
  }

  /** q98's replay where the forgotten docs were never in the standing
    * corpus: the register must be indistinguishable from one that
    * never fingerprinted them. */
  val q169Sql: String =
    s"""WITH ${pairsCteSqlWith(
      "a.doc_id % 10 = 7 AND c.doc_id % 10 <> 7 AND NOT (c.doc_id % 9 = 0)")}
       SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""

  // ---------- q170: register forget UNDER LIVE INGEST ----------

  /** q169's FORGET LANDING MID-DRAIN on q130's cumulative stream —
    * the register twin of q147/q148/q156/q157: the incoming slice
    * drains as four rank-quartile micro-batches, each matching
    * against the register-so-far and registering its own bands; the
    * forget request (standing docs ≡ 0 mod 9) lands through
    * [[graft.dedup.Dedup.deleteFromRegister]] AFTER batch 1's match
    * commits, so batches 0–1 still matched the forgotten content and
    * batches 2–3 must not — the mid-stream ghost-suppression
    * witness, gated in-query by joining the accumulated match table
    * to the deterministic batch assignment (forgotten-member pairs
    * exist for pre-delete batches, none for post-delete ones).
    * Mid-drain gates ride along: the delete counts exactly
    * request ∩ register with the bucket files snapshot-untouched
    * around it (batch registrations keep appending AFTER it), a
    * repeat counts zero, the valve tracks the standing sidecar, and
    * the LIVE register ends the drain equal to the one-shot build
    * over (standing ∖ forgotten) ∪ incoming (q130's
    * registration ≡ batch gate, minus the forgotten). Phase 2 closes
    * it: [[graft.dedup.Dedup.compactRegister]] physically drops the
    * forgotten rows into a clean-sidecar generation. FULLY ORACLED:
    * q130's cumulative replay where forgotten standing members stop
    * pairing from batch 2 on. */
  def q170RegisterForgetMidDrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mut = PipelineQueries.roundtripPath(dir, "q170_bands")
    Option(new java.io.File(mut).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q170_bands"))
      .foreach(graft.FileTree.delete)
    graft.FileTree.copy(new java.io.File(streamBandsPath(s, dir)),
      new java.io.File(mut))
    val req = d.filter(forgetCohortPred)
      .select(col("doc_id").as("id"))
    val nReq = Memo.cachedCount(s, dir, "q169_nreq")(req.count())
    val stage = q130Stage(s, dir)
    val out = PipelineQueries.roundtripPath(dir, "q170_out")
    Seq.empty[(Long, Long, Double)].toDF("id1", "id2", "jaccard")
      .write.mode("overwrite").parquet(out)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var nDel = -1L; var nRepeat = -1L; var filesTouched = true
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val b = batch.localCheckpoint()
      // match against everything registered so far (sidecar-aware)...
      q98BatchMatches(s, b, mut, d).write.mode("append").parquet(out)
      // ...register this batch for the ones after it (revive-probed;
      // the feed never re-ingests a forgotten id, so the probe is a
      // batch-sized semi-join that stays silent — q177 declares the
      // firing path). The require makes that invariant LOUD: if the
      // feed ever did re-ingest a forgotten id, the probe would flip
      // the generation and every later batch would silently
      // read/write the stale `mut` path — fail here instead.
      val landed = Dedup.appendToRegister(s, mut,
        Dedup.bandedSignatures(b, "doc_id", "text", shingleN, nPerm, rowsPerBand)
          .withColumn("sigbucket", sigbucket(col("band"), col("bandsig"))),
        q98SigBuckets)
      require(landed == mut,
        s"q170: revive probe fired mid-drain — batch $bid landed in $landed, " +
          s"but the drain reads $mut; thread the returned path (q177's shape)")
      // the right-to-be-forgotten request lands between batches
      if (bid == 1L) {
        def snap() = Option(new java.io.File(mut).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("sigbucket="))
          .flatMap(dd => Option(dd.listFiles()).toSeq.flatten)
          .map(f => f.getPath -> f.lastModified()).toMap
        val before = snap()
        nDel = Dedup.deleteFromRegister(s, mut, req)
        nRepeat = Dedup.deleteFromRegister(s, mut, req)
        filesTouched = snap() != before
      }
    })
    require(nDel == nReq,
      s"q170: the mid-drain forget hid $nDel of a $nReq-doc request")
    require(nRepeat == 0L, "q170: a repeated mid-drain forget must count zero")
    require(!filesTouched,
      "q170: the mid-drain forget must not touch a bucket file")
    require(Dedup.needsCompactRegister(s, mut, nReq - 1) &&
        !Dedup.needsCompactRegister(s, mut, nReq),
      "q170: needsCompactRegister must track the standing sidecar exactly")
    // registration ≡ batch, minus the forgotten: the LIVE view ends
    // the drain equal to the one-shot build over survivors + incoming
    // (q130's own O(register) in-query gate, with the delete folded)
    val full = gateBandsKept(s, dir)
    val liveRows = Dedup.liveRegister(s, mut, s.read.parquet(mut))
      .select(col("id"), col("band"), col("bandsig"), col("sigbucket").cast("int"))
    require(Gates.sameRows(liveRows, full),
      "q170: the live register must equal the one-shot survivor+incoming build")
    // the mid-stream witness: forgotten standing members pair ONLY
    // with pre-delete batches (batch assignment is deterministic —
    // the same rank quartiles the stager wrote)
    val nInc = Memo.cachedCount(s, dir, "q170_ninc")(
      d.filter(col("doc_id") % 10 === 7).count())
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val bat = d.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("id1"),
        floor((row_number().over(w) - 1).cast("long") * 4 / nInc)
          .cast("long").as("bat"))
    val ghost = s.read.parquet(out)
      .join(broadcast(req.select(col("id").as("id2"))), Seq("id2"), "left_semi")
      .join(broadcast(bat), Seq("id1"))
    require(ghost.filter(col("bat") >= 2).isEmpty,
      "q170: a forgotten doc matched a post-forget batch")
    require(!ghost.filter(col("bat") <= 1).isEmpty,
      "q170: the witness needs a pre-forget forgotten-member pair")
    // phase 2: physical removal into a clean-sidecar generation
    val live = Dedup.compactRegister(s, mut, q98SigBuckets)
    require(s.read.parquet(live)
        .join(broadcast(req), Seq("id"), "left_semi").isEmpty,
      "q170: a forgotten doc's bands survived the rewrite")
    require(!Tombstones.exists(Tombstones.beside(live)),
      "q170: the compacted generation must start with a clean sidecar")
    s.read.parquet(out).orderBy("id1", "id2")
  }

  /** q130's cumulative replay with the mid-drain forget: a forgotten
    * STANDING member (≡ 0 mod 9, outside the incoming slice) pairs
    * only with incoming batches 0–1 (matched before the request
    * landed); incoming-vs-earlier-incoming pairs are untouched (the
    * request never names incoming docs). */
  val q170Sql: String =
    s"""WITH bq AS (SELECT doc_id,
           CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) * 4 //
             (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 7) AS BIGINT) AS bat
         FROM documents WHERE doc_id % 10 = 7),
       ${pairsCteSqlWith("a.doc_id % 10 = 7 AND (c.doc_id % 10 <> 7 OR " +
        "(SELECT x.bat FROM bq x WHERE x.doc_id = c.doc_id) < " +
        "(SELECT y.bat FROM bq y WHERE y.doc_id = a.doc_id)) " +
        "AND NOT (c.doc_id % 10 <> 7 AND c.doc_id % 9 = 0 AND " +
        "(SELECT z.bat FROM bq z WHERE z.doc_id = a.doc_id) >= 2)")}
       SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""

  // ---------- q177: revive (re-consent) on the dedup register ----------

  /** REVIVE ON THE CURATION REGISTER — the register's cell of the
    * revive matrix (q161 IVF / q163 SQ8 / q164 lexical / q165 graph),
    * and the one whose failure mode is WORSE than a wrong serve: a
    * forgotten doc that re-consents gets its bands re-registered, but
    * before this round the registration path was a raw parquet append
    * — the stale sidecar entry would anti-join the FRESH bands away,
    * and a revived doc with hidden fingerprints is an ADMITTED GHOST:
    * the pipeline re-ingests unlimited near-copies of its content
    * without a single match firing (the inverse of q169's ghost
    * suppression — not retained influence but silently ABSENT
    * influence). [[graft.dedup.Dedup.appendToRegister]] closes it
    * with the family-standard discipline: the probe (directory read
    * when clean, batch-sized semi-join otherwise) pulls the deferred
    * [[graft.dedup.Dedup.compactRegister]] forward — stale copies and
    * stay-forgotten rows drop, the sidecar clears — and the batch
    * lands in the flipped generation as its ids' only bands. Gates:
    * the forget hides the full request, the post-forget match table
    * is blind to ALL of it, the revive append FLIPS (returned path
    * differs; clean sidecar), stay-forgotten bands are physically
    * gone, each revived id's live bands equal a fresh fingerprint of
    * exactly its text (single copy — the compaction dropped the old
    * ones), and the ADMITTED-GHOST WITNESS: the post-revive match
    * table equals the pre-forget table minus exactly the
    * stay-forgotten members' pairs — revived content matches AGAIN,
    * with the original jaccards (bands are a pure function of text).
    * FULLY ORACLED: q98's replay where only the stay-forgotten docs
    * were never in the standing corpus. */
  def q177RegisterRevive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mut = PipelineQueries.roundtripPath(dir, "q177_bands")
    Option(new java.io.File(mut).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q177_bands"))
      .foreach(graft.FileTree.delete)
    graft.FileTree.copy(new java.io.File(streamBandsPath(s, dir)),
      new java.io.File(mut))
    val reqPred = forgetCohortPred
    val revPred = reqPred && col("doc_id") % 2 === 1
    val stayPred = reqPred && col("doc_id") % 2 === 0
    val req = d.filter(reqPred).select(col("doc_id").as("id"))
    val nReq = Memo.cachedCount(s, dir, "q169_nreq")(req.count())
    val nRev = Memo.cachedCount(s, dir, "q177_nrev")(d.filter(revPred).count())
    require(nRev > 0 && nRev < nReq,
      "q177 needs a proper revive subset of the forget request")
    def matches(p: String) = q98BatchMatchesSigs(s, incomingSigs7(s, dir), p, d)
      .select(col("id1"), col("id2"), col("jaccard"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val before = matches(mut)
    require(before.exists(p => p._2 % 9 == 0 && p._2 % 2 == 1),
      "q177 needs at least one pair on a to-be-revived member for the " +
        "admitted-ghost witness to bite")
    // the forget: full request into the sidecar, match table blind
    require(Dedup.deleteFromRegister(s, mut, req) == nReq,
      "q177: the forget must hide the full standing request")
    require(!matches(mut).exists(_._2 % 9 == 0),
      "q177: a forgotten doc still matched after the forget")
    // the re-consent: fresh bands through the PROBED append — the
    // raw-append admitted-ghost hole this row exists to close
    val revBands = Dedup.bandedSignatures(d.filter(revPred),
        "doc_id", "text", shingleN, nPerm, rowsPerBand)
      .withColumn("sigbucket", sigbucket(col("band"), col("bandsig")))
      .localCheckpoint() // batch-sized: the append and the gate share it
    val live = Dedup.appendToRegister(s, mut, revBands, q98SigBuckets)
    require(live != mut,
      "q177: the revive append must pull the deferred compaction forward")
    require(!Tombstones.exists(Tombstones.beside(live)),
      "q177: the post-revive generation must start with a clean sidecar")
    require(s.read.parquet(live)
        .join(broadcast(d.filter(stayPred).select(col("doc_id").as("id"))),
          Seq("id"), "left_semi").isEmpty,
      "q177: a stay-forgotten doc's bands survived the revive compaction")
    // single-copy, exact-content revive: the live bands of revived ids
    // are precisely one fresh fingerprint of their text
    def norm(df: DataFrame) = df.select(col("id"), col("band"),
      col("bandsig"), col("sigbucket").cast("int"))
    val gotRev = norm(s.read.parquet(live)
      .join(broadcast(d.filter(revPred).select(col("doc_id").as("id"))),
        Seq("id"), "left_semi"))
    val wantRev = norm(revBands)
    require(Gates.sameRows(gotRev, wantRev),
      "q177: a revived doc must carry ONLY its re-registered bands")
    // the admitted-ghost witness: revived content matches again, with
    // the original jaccards; only the stay-forgotten pairs are gone
    val after = matches(live)
    require(after == before.filterNot(p => p._2 % 9 == 0 && p._2 % 2 == 0),
      "q177: the post-revive match table must equal pre-forget minus " +
        "exactly the stay-forgotten members' pairs")
    require(after.exists(p => p._2 % 9 == 0 && p._2 % 2 == 1),
      "q177: a revived member must match incoming content again")
    after.toDF("id1", "id2", "jaccard").orderBy("id1", "id2")
  }

  /** q98's replay where only the STAY-forgotten docs (forgotten,
    * never re-consented) were never in the standing corpus: a revived
    * doc's fingerprints are a pure function of its text, so it is
    * indistinguishable from one never forgotten. */
  val q177Sql: String =
    s"""WITH ${pairsCteSqlWith(
      "a.doc_id % 10 = 7 AND c.doc_id % 10 <> 7 AND " +
        "NOT (c.doc_id % 9 = 0 AND c.doc_id % 2 = 0)")}
       SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""

  // ---------- q180: register valve fires MID-DRAIN ----------

  /** THE REGISTER'S VALVE-MATRIX CELL — q158/q159/q173/q179 fire the
    * delete-accumulation valve mid-drain on the four index families;
    * this closes the matrix on the fifth generation machinery, the
    * curation register. A q170-shaped cumulative near-dup drain takes
    * TWO forget requests between batches: the first (the odd half of
    * the q169 request) leaves the sidecar exactly AT the valve
    * threshold — the poll stays silent, deferral is free; the second
    * (the even half) pushes it past — [[graft.dedup.Dedup
    * .needsCompactRegister]] fires ONCE, [[graft.dedup.Dedup
    * .compactRegister]] stages a clean-sidecar generation and the
    * drain THREADS the returned path (the no-metastore contract the
    * q170 advice note asked to make loud): post-flip batches match
    * against and register into the FRESH generation, the poll stays
    * silent after (clean sidecar), and the register never serves a
    * forgotten band past its request's batch. Gates: both forgets
    * count exactly, the valve fires exactly once (at the second
    * forget's batch), every append lands in the CURRENT live path,
    * post-flip generations differ, forgotten bands are physically
    * gone with a clean sidecar, and the final live register equals
    * the one-shot build over (standing ∖ request) ∪ incoming. FULLY
    * ORACLED: q170's replay with per-half forget batches — odd-half
    * members pair only with batch 0, even-half only with batches
    * 0–1. */
  def q180RegisterValve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val mut = PipelineQueries.roundtripPath(dir, "q180_bands")
    Option(new java.io.File(mut).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("q180_bands"))
      .foreach(graft.FileTree.delete)
    graft.FileTree.copy(new java.io.File(streamBandsPath(s, dir)),
      new java.io.File(mut))
    val reqPred = forgetCohortPred
    val req1 = d.filter(reqPred && col("doc_id") % 2 === 1)
      .select(col("doc_id").as("id"))
    val req2 = d.filter(reqPred && col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"))
    val nReq1 = Memo.cachedCount(s, dir, "q180_nreq1")(req1.count())
    val nReq2 = Memo.cachedCount(s, dir, "q180_nreq2")(req2.count())
    require(nReq1 > 0 && nReq2 > 0,
      "q180 needs both halves of the forget request non-empty")
    val valve = nReq1 // first forget lands AT the threshold: deferral
    val stage = q130Stage(s, dir)
    val out = PipelineQueries.roundtripPath(dir, "q180_out")
    Seq.empty[(Long, Long, Double)].toDF("id1", "id2", "jaccard")
      .write.mode("overwrite").parquet(out)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var live = mut // the threaded pointer — compactRegister's contract
    var nDel1 = -1L; var nDel2 = -1L
    var fired = List.empty[Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val b = batch.localCheckpoint()
      // match against the CURRENT live generation (sidecar-aware)...
      q98BatchMatches(s, b, live, d).write.mode("append").parquet(out)
      // ...register into it (probed append; incoming ids are never
      // forgotten, so the probe must stay silent — landed == live)
      val landed = Dedup.appendToRegister(s, live,
        Dedup.bandedSignatures(b, "doc_id", "text", shingleN, nPerm, rowsPerBand)
          .withColumn("sigbucket", sigbucket(col("band"), col("bandsig"))),
        q98SigBuckets)
      require(landed == live,
        s"q180: batch $bid landed in $landed instead of the live $live")
      // the forget requests land between batches
      if (bid == 0L) nDel1 = Dedup.deleteFromRegister(s, live, req1)
      if (bid == 1L) nDel2 = Dedup.deleteFromRegister(s, live, req2)
      // the maintenance poll — every batch, after its operations
      if (Dedup.needsCompactRegister(s, live, valve)) {
        fired ::= bid
        live = Dedup.compactRegister(s, live, q98SigBuckets)
      }
      gens ::= bid -> live
    })
    require(nDel1 == nReq1 && nDel2 == nReq2,
      s"q180: the forgets hid ($nDel1, $nDel2) of ($nReq1, $nReq2)")
    require(fired == List(1L),
      s"q180: the valve must fire exactly once, at the second forget's " +
        s"batch (fired at ${fired.reverse.mkString(",")})")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) == mut && byBatch(1L) != mut,
      "q180: the valve batch must flip to a fresh generation mid-drain")
    require(byBatch(1L) == byBatch(2L) && byBatch(2L) == byBatch(3L),
      "q180: the post-flip batches must stay on the flipped generation")
    // physical removal + clean sidecar on the flipped generation
    val reqAll = req1.unionByName(req2).localCheckpoint()
    require(s.read.parquet(live)
        .join(broadcast(reqAll), Seq("id"), "left_semi").isEmpty,
      "q180: a forgotten doc's bands survived the valve compaction")
    require(!Tombstones.exists(Tombstones.beside(live)),
      "q180: the flipped generation must start with a clean sidecar")
    // registration ≡ batch, minus the forgotten — on the FLIPPED path
    val full = gateBandsKept(s, dir)
    val liveRows = s.read.parquet(live)
      .select(col("id"), col("band"), col("bandsig"), col("sigbucket").cast("int"))
    require(Gates.sameRows(liveRows, full),
      "q180: the flipped register must equal the one-shot survivor build")
    // ghost witness per half: odd-half pairs only at batch 0 (its
    // forget landed after batch 0's match), even-half only at 0-1
    val nInc = Memo.cachedCount(s, dir, "q170_ninc")(
      d.filter(col("doc_id") % 10 === 7).count())
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val bat = d.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("id1"),
        floor((row_number().over(w) - 1).cast("long") * 4 / nInc)
          .cast("long").as("bat"))
    val got = s.read.parquet(out)
    def ghost(half: DataFrame) = got
      .join(broadcast(half.select(col("id").as("id2"))), Seq("id2"), "left_semi")
      .join(broadcast(bat), Seq("id1"))
    require(ghost(req1).filter(col("bat") >= 1).isEmpty,
      "q180: an odd-half forgotten doc matched past batch 0")
    require(ghost(req2).filter(col("bat") >= 2).isEmpty,
      "q180: an even-half forgotten doc matched past the valve batch")
    require(!ghost(reqAll).filter(col("bat") === 0).isEmpty,
      "q180: the witness needs a pre-forget forgotten-member pair")
    got.orderBy("id1", "id2")
  }

  /** q170's replay with the per-half forget batches: odd-half
    * standing members (≡0 mod 9, odd) pair only with incoming batch
    * 0, even-half only with batches 0–1; everything else is q130's
    * cumulative predicate. */
  val q180Sql: String =
    s"""WITH bq AS (SELECT doc_id,
           CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) * 4 //
             (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 7) AS BIGINT) AS bat
         FROM documents WHERE doc_id % 10 = 7),
       ${pairsCteSqlWith("a.doc_id % 10 = 7 AND (c.doc_id % 10 <> 7 OR " +
        "(SELECT x.bat FROM bq x WHERE x.doc_id = c.doc_id) < " +
        "(SELECT y.bat FROM bq y WHERE y.doc_id = a.doc_id)) " +
        "AND NOT (c.doc_id % 10 <> 7 AND c.doc_id % 9 = 0 AND c.doc_id % 2 = 1 AND " +
        "(SELECT z.bat FROM bq z WHERE z.doc_id = a.doc_id) >= 1) " +
        "AND NOT (c.doc_id % 10 <> 7 AND c.doc_id % 9 = 0 AND c.doc_id % 2 = 0 AND " +
        "(SELECT v.bat FROM bq v WHERE v.doc_id = a.doc_id) >= 2)")}
       SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""

  /** 16-bit SimHash per document (token-hash sign aggregation). */
  def q32Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash16(docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  val q32Sql: String = {
    def hexval(i: Int) = s"(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1)"
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         FROM documents WHERE doc_id < 100),
       h AS (SELECT doc_id,
           (${hexval(1)}*4096 + ${hexval(2)}*256 + ${hexval(3)}*16 + ${hexval(4)}) AS h FROM toks),
       bits AS (SELECT doc_id, b.b AS b,
           CASE WHEN CAST(floor(h / pow(2, b.b)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS sgn
         FROM h, (SELECT unnest(generate_series(0, 15)) AS b) b),
       agg AS (SELECT doc_id, b, SUM(sgn) AS v FROM bits GROUP BY doc_id, b)
       SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       FROM agg GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Embedding-cosine near-dup pairs above τ=0.35, LSH-bucketed:
    * candidate pairs meet only inside a (plane-set, sign-bit bucket)
    * cell — `q33Rot` independent rotations of `bits` hyperplanes each
    * (Search.lshBucket with a plane offset), unioned for recall —
    * then each candidate pair is exactly re-scored with the codegen'd
    * dot product. Every join is an equi-join (bucket key, then id), so
    * at 100 TB the cost tracks Σ bucket² per cell, not corpus².
    *
    * `bits` GROWS WITH THE CORPUS: bits = clamp(⌈log2 N⌉ − 8, 4, 12),
    * so expected bucket occupancy stays ≤ ~2^8 rows and Σ bucket²
    * stays ~N·2^8 per rotation instead of N²/2^bits with a frozen
    * bits (the round-4 scale-posture note). Rotation r uses planes
    * [r·MAXBITS, r·MAXBITS + bits) — the plane index is DECOUPLED
    * from bits so the hyperplane set for any given (r, b) is the same
    * whatever the corpus size, and the oracle replays the same
    * formula from its own COUNT(*) with integer threshold cases (no
    * cross-engine float log2). The exact all-pairs form survives as
    * [[q33ExactAllPairs]], the spec-side ground truth (DedupSpec pins
    * bucketed ⊆ exact and the achieved recall). */
  val q33Rot = 3; val q33Tau = 0.35; val q33MaxBits = 12

  /** clamp(⌈log2 n⌉ − 8, 4, 12), exact integer arithmetic. */
  def q33BitsFor(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1))
    math.min(q33MaxBits, math.max(4, ceilLog2 - 8))
  }

  /** The normalized-vector frame q33 and q105 share, memoized per
    * (session, dir-content). */
  private def lshVecs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "lsh_e")(
      emb(s, dir).select(col("vec_id"), col("v"), norm2(col("v")).as("n")))

  /** The multi-rotation (vec_id, bkey) bucket table q33 and q105
    * share — one row per (vector, rotation), key = rot·2^bits +
    * bucket, with the corpus-adaptive bit width. Both queries'
    * candidate generation starts from this same explode, so it is
    * built ONCE per (session, dir-content) and charged to
    * `_build_lsh_buckets` (the band-table discipline: the bench
    * clock on each query then measures serving, not re-hashing).
    * The corpus count that sizes the buckets is memoized too, so
    * repeated construction re-runs no counting job. */
  private[graft] def lshBuckets(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "lsh_bk") {
      val bits = q33BitsFor(Memo.cachedCount(s, dir, "embN")(
        graft.sources.Tables.load(s, dir, "embeddings").count()))
      val keys = (0 until q33Rot).map(r =>
        graft.search.Search.lshBucket(col("v"), bits, 64, r * q33MaxBits)
          + lit(r.toLong * (1L << bits)))
      lshVecs(s, dir).select(col("vec_id"), explode(array(keys: _*)).as("bkey"))
    }

  def q33NeardupCosine(s: SparkSession, dir: String): DataFrame = {
    val e = lshVecs(s, dir)
    val bk = lshBuckets(s, dir)
    val cand = bk.select(col("vec_id").as("id1"), col("bkey"))
      .join(bk.select(col("vec_id").as("id2"), col("bkey")), Seq("bkey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    cand
      .join(e.select(col("vec_id").as("id1"), col("v").as("v1"), col("n").as("n1")), Seq("id1"))
      .join(e.select(col("vec_id").as("id2"), col("v").as("v2"), col("n").as("n2")), Seq("id2"))
      .withColumn("c", dot(col("v1"), col("v2")) / (col("n1") * col("n2") + lit(1e-9)))
      .filter(col("c") >= q33Tau)
      .select(col("id1"), col("id2"), round(col("c"), 6).as("cos"))
      .orderBy("id1", "id2")
  }

  /** The exact quadratic form of q33 — ground truth for the bucketed
    * variant's recall, spec-only (a cartesian pair join cannot be the
    * declared plan at corpus scale). */
  def q33ExactAllPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v"), norm2(col("v")).as("n"))
    val a = e.select(col("vec_id").as("id1"), col("v").as("v1"), col("n").as("n1"))
    val b = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("n").as("n2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("c", dot(col("v1"), col("v2")) / (col("n1") * col("n2") + lit(1e-9)))
      .filter(col("c") >= q33Tau)
      .select(col("id1"), col("id2"), round(col("c"), 6).as("cos"))
  }

  /** The e/bt/bk CTE prefix shared by q33 and q105: normalized
    * vectors, the corpus-adaptive bit width (integer thresholds
    * replaying [[q33BitsFor]] — no cross-engine float log2), and one
    * (vec_id, bkey) row per rotation. planeCoef(i, p) is replayed
    * exactly as VectorF.planeCoef defines it (same formula as q16Sql,
    * plane p = rot*MAXBITS + b — decoupled from the corpus-dependent
    * bits so plane identity is stable); all MAXBITS projections are
    * written out and b >= bits terms mask to 0. */
  private def lshBucketCtes: String = {
    def proj(p: Int) =
      s"""list_sum(list_transform(generate_series(0, 63),
          i -> v[i + 1] * ((((i + 1) * ((${p + 1} * 2654435761) % 1000003) + ${p + 1} * 7919) % 1000003) / 1000003.0 - 0.5)))"""
    def key(r: Int) = (0 until q33MaxBits).map(b =>
      s"CASE WHEN $b < bits THEN (CASE WHEN ${proj(r * q33MaxBits + b)} >= 0 THEN ${1L << b} ELSE 0 END) ELSE 0 END")
      .mkString("(", " + ", s" + $r * (CAST(1 AS BIGINT) << bits))")
    val keyList = (0 until q33Rot).map(key).mkString("[", ", ", "]")
    val thresholds = (4 to 11)
      .map(k => s"WHEN COUNT(*) <= ${1L << (k + 8)} THEN $k").mkString(" ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS n
             FROM embeddings),
       bt AS (SELECT CASE $thresholds ELSE 12 END AS bits FROM embeddings),
       bk AS (SELECT vec_id, unnest($keyList) AS bkey FROM e, bt)"""
  }

  val q33Sql: String =
    s"""WITH $lshBucketCtes,
       cand AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
              FROM bk a JOIN bk c ON a.bkey = c.bkey AND a.vec_id < c.vec_id),
       sc AS (SELECT id1, id2,
               list_dot_product(x.v, y.v) / (x.n * y.n + 1e-9) AS c
             FROM cand JOIN e x ON cand.id1 = x.vec_id JOIN e y ON cand.id2 = y.vec_id)
       SELECT id1, id2, ROUND(c, 6) AS cos FROM sc WHERE c >= $q33Tau ORDER BY id1, id2"""

  // ---------- q105: semantic decontamination ----------

  /** SEMANTIC decontamination — the embedding-cosine sibling of q74's
    * n-gram benchmark decontamination: flag every training vector
    * whose cosine to ANY held-out eval vector (the vec_id % 10 = 0
    * slice, q74's corpus/10 eval convention) reaches τ. Candidates
    * meet ONLY inside q33's multi-rotation sign-LSH buckets (the
    * corpus-adaptive `bits` keeps bucket occupancy flat at any N) and
    * are exactly re-scored with the codegen'd dot product, so the
    * cost tracks Σ bucket·(eval-share of bucket) per cell — never
    * train × eval. Output per contaminated vector: hit count, max
    * cosine, and the argmax eval id (row_number with a total
    * tie-break, so both engines pick the same witness). At 100 TB
    * the eval side is benchmark-sized: the bucket join is the same
    * plan with the eval bucket table broadcast. */
  def q105SemanticDecon(s: SparkSession, dir: String): DataFrame = {
    val e = lshVecs(s, dir)
    val bk = lshBuckets(s, dir)
    val cand = bk.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("tid"), col("bkey"))
      .join(bk.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("eid"), col("bkey")), Seq("bkey"))
      .select(col("tid"), col("eid")).distinct()
    val hits = cand
      .join(e.select(col("vec_id").as("tid"), col("v").as("v1"), col("n").as("n1")), Seq("tid"))
      .join(e.select(col("vec_id").as("eid"), col("v").as("v2"), col("n").as("n2")), Seq("eid"))
      .withColumn("c", dot(col("v1"), col("v2")) / (col("n1") * col("n2") + lit(1e-9)))
      .filter(col("c") >= q33Tau)
      .select(col("tid"), col("eid"), col("c"))
    val w = Window.partitionBy("tid").orderBy(col("c").desc, col("eid").asc)
    val top = hits.withColumn("r", row_number().over(w))
      .filter(col("r") === 1).select(col("tid"), col("eid").as("top_eval_id"))
    hits.groupBy("tid")
      .agg(count(lit(1)).as("n_eval_hits"), round(max(col("c")), 6).as("max_cos"))
      .join(top, Seq("tid"))
      .select(col("tid").as("vec_id"), col("n_eval_hits"), col("max_cos"),
        col("top_eval_id"))
      .orderBy("vec_id")
  }

  val q105Sql: String =
    s"""WITH $lshBucketCtes,
       cand AS (SELECT DISTINCT a.vec_id AS tid, c.vec_id AS eid
              FROM bk a JOIN bk c ON a.bkey = c.bkey
              WHERE a.vec_id % 10 <> 0 AND c.vec_id % 10 = 0),
       hits AS (SELECT tid, eid, c FROM (
               SELECT tid, eid, list_dot_product(x.v, y.v) / (x.n * y.n + 1e-9) AS c
               FROM cand JOIN e x ON cand.tid = x.vec_id JOIN e y ON cand.eid = y.vec_id)
             WHERE c >= $q33Tau),
       agg AS (SELECT tid, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
               ROUND(MAX(c), 6) AS max_cos FROM hits GROUP BY tid),
       r1 AS (SELECT tid, eid AS top_eval_id,
               ROW_NUMBER() OVER (PARTITION BY tid ORDER BY c DESC, eid ASC) AS r
             FROM hits)
       SELECT agg.tid AS vec_id, n_eval_hits, max_cos, top_eval_id
       FROM agg JOIN r1 ON agg.tid = r1.tid AND r1.r = 1
       ORDER BY vec_id"""

  // ---------- q139: cluster-keyed semantic dedup (SemDeDup) ----------

  /** CLUSTER-KEYED SEMANTIC DEDUP — the published industrial design
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"), the THIRD candidate
    * generation next to sign-LSH (q33/q105) and MinHash bands (q31):
    * partition the embedding space into ~[[graft.RetrievalQueries
    * .graphPartsFor occupancy-sized]] centroid cells (the SAME
    * ⌈N/500⌉ discipline the graph index routes by, seeded by the
    * id-distribution-free LCG rank sample q45's quantizer uses),
    * then examine pairs ONLY within a cell. The keep rule is the
    * reference implementation's triangular max: order each cell's
    * members by (cosine-to-centroid ASC, id ASC); a member survives
    * iff its max cosine to any EARLIER member stays below τ — no
    * recursion, no connected components, deterministic at any
    * parallelism. Output is the per-document audit row (cell,
    * position, max-prior-cosine, kept), the table a curation run
    * joins against to apply the drop.
    *
    * Scale shape: the cell assignment is one broadcast-quantizer
    * scan (parts-sized centroid table — the graph routing table's
    * story at 100 TB); the within-cell triangular join is an
    * equi-join on cid with cells capped ~500 by construction, so
    * total pair work is ~500·N — LINEAR in corpus, the property
    * that lets SemDeDup run at web scale where all-pairs cosine
    * cannot. τ reuses [[q33Tau]] (one near-dup dial across all
    * three candidate generators). */
  def q139SemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = lshVecs(s, dir)
    val cents = Memo.cached(s, dir, "semdedup_c")(
      graft.search.IVF.centroids(emb(s, dir), "vec_id", "v",
        RetrievalQueries.graphPartsFor(s, dir)))
    val cn = cents.select(col("cid"), col("cvec"), norm2(col("cvec")).as("cn"))
    val p = graft.search.IVF.assign(e, "vec_id", "v", cents)
      .join(broadcast(cn), "cid")
      .withColumn("csim",
        dot(col("v"), col("cvec")) / (col("n") * col("cn") + lit(1e-9)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("cid").orderBy(col("csim").asc, col("vec_id").asc)))
      .select(col("vec_id"), col("cid"), col("v"), col("n"), col("pos"))
      // consumed three times (both triangular-join sides + the final
      // left join): checkpoint so the assignment + window run once
      .localCheckpoint()
    val prior = p
      .select(col("cid"), col("pos").as("p1"), col("v").as("v1"), col("n").as("n1"))
      .join(p.select(col("cid"), col("vec_id"), col("pos").as("p2"),
        col("v").as("v2"), col("n").as("n2")), Seq("cid"))
      .filter(col("p1") < col("p2"))
      .groupBy("vec_id")
      .agg(max(dot(col("v1"), col("v2")) /
        (col("n1") * col("n2") + lit(1e-9))).as("maxp"))
    p.join(prior, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("pos").cast("long").as("pos"),
        round(col("maxp"), 6).as("max_prior_cos"),
        when(col("maxp").isNull || col("maxp") < q33Tau, 1L).otherwise(0L)
          .as("kept"))
      .orderBy("cid", "pos")
  }

  /** The centroid CTE is q45Sql's LCG rank sample with the cell
    * count computed IN-QUERY (⌈N/500⌉ min 8 — replaying
    * graphPartsFor, no host-side constant that could drift from the
    * Spark side across SFs). */
  val q139Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS n
         FROM embeddings),
       kt AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 500.0) AS BIGINT)) AS k
         FROM embeddings),
       c AS (SELECT cid, cvec, sqrt(list_dot_product(cvec, cvec)) AS cn FROM (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY
               ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id) - 1 AS BIGINT) AS cid,
             v AS cvec FROM e), kt WHERE cid < kt.k),
       a AS (SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cvec) DESC, c.cid) AS r
           FROM e, c) WHERE r = 1),
       p AS (SELECT vec_id, cid, v, n, csim,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY csim, vec_id) AS pos
         FROM (SELECT a.vec_id, a.cid, a.v, a.n,
             list_dot_product(a.v, c.cvec) / (a.n * c.cn + 1e-9) AS csim
           FROM a JOIN c USING (cid))),
       pr AS (SELECT b.vec_id,
           MAX(list_dot_product(x.v, b.v) / (x.n * b.n + 1e-9)) AS maxp
         FROM p b JOIN p x ON x.cid = b.cid AND x.pos < b.pos
         GROUP BY b.vec_id)
       SELECT p.vec_id, p.cid, CAST(p.pos AS BIGINT) AS pos,
         ROUND(pr.maxp, 6) AS max_prior_cos,
         CAST(CASE WHEN pr.maxp IS NULL OR pr.maxp < $q33Tau THEN 1 ELSE 0 END AS BIGINT) AS kept
       FROM p LEFT JOIN pr ON p.vec_id = pr.vec_id
       ORDER BY p.cid, p.pos"""

  // ---------- q140: trained model-based quality filter ----------

  /** GD step count and rate for the in-engine quality classifier.
    * lr = 0.5 is exactly representable, so the driver-side weight
    * update and the oracle's in-query update perform bit-identical
    * IEEE arithmetic. */
  val qcSteps = 3; val qcLr = 0.5

  /** The classifier's training frame: portable-hash features (the
    * q43 embedder — bit-exact cross-engine by construction) + the
    * weak-supervision label y = [source = 'src0'] (the curated
    * reference domain). Corpus-sized; memoized per session × corpus
    * like [[lshVecs]] — at 100 TB this frame IS the embeddings
    * table at rest. */
  private def qcFeats(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "qc_feats") {
      val d = docs(s, dir)
      graft.embed.Embed.embedDocs(d, "doc_id", "text",
          new graft.embed.PortableHashEmbedder(64))
        .select(col("doc_id"), col("vec").cast("array<double>").as("xd"))
        .join(d.select(col("doc_id"),
          when(col("source") === "src0", 1.0).otherwise(0.0).as("y")),
          "doc_id")
    }

  /** TRAIN the linear model: [[qcSteps]] unrolled full-batch
    * gradient steps on squared loss (w ← w − lr·XᵀꞮ(Xw − y)/n). Each
    * step is ONE corpus scan (fused dot for the margins, posexplode
    * + 64-group aggregate for the gradient) and collects exactly 64
    * doubles — the routing-table-sized collect the driver
    * discipline allows. The gradient's cross-row sums are
    * 1e-6-quantized integer sums (the q58/q89 discipline), so the
    * learned weights are bit-identical at any parallelism AND
    * replayable by the oracle's unrolled CTE chain; squared loss
    * (not logistic) is the deliberate substitution that keeps every
    * training op inside exactly-replayable IEEE arithmetic — no
    * transcendental whose last ulp differs between engines. */
  private def qcWeights(s: SparkSession, dir: String): Array[Double] =
    Memo.cachedValue(s, dir, "qc_w") {
      val f = qcFeats(s, dir)
      val n = Memo.cachedCount(s, dir, "qc_n")(f.count()).toDouble
      var w = Array.fill(64)(0.0)
      for (_ <- 1 to qcSteps) {
        val wl = array(w.toSeq.map(lit): _*)
        val g = f
          .select((dot(col("xd"), wl) - col("y")).as("resid"),
            posexplode(col("xd")).as(Seq("j", "xj")))
          .groupBy("j")
          .agg((sum(round(col("resid") * col("xj") * lit(1e6)).cast("long"))
            .cast("double") / 1e6).as("gsum"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        w = Array.tabulate(64)(j => w(j) - qcLr * (g.getOrElse(j, 0.0) / n))
      }
      w
    }

  /** MODEL-BASED QUALITY FILTERING — the published web-corpus recipe
    * (GPT-3 Appendix A; CCNet, Wenzek et al. 2020): train a linear
    * classifier to recognize a curated reference domain, score every
    * document, keep the ones that look reference-like. Training runs
    * IN-ENGINE and fully relationally ([[qcWeights]]); scoring is
    * one fused-dot corpus scan. Documents bucket CCNet-style into
    * head / middle / tail RELATIVE to the reference domain — head ≥
    * the positive-class mean score, middle ≥ half of it, tail below
    * — each cut decided by an exact integer cross-multiplication
    * (scoreQ·nPos ≥ ΣposQ etc., the q112 integer-threshold
    * discipline: no cross-engine float division anywhere near a
    * cut); kept = not tail. Output is the per-document audit row
    * (label, score, bucket, kept) a curation run joins to apply the
    * filter or the bucket-conditional sampling CCNet prescribes.
    * The whole thing — features, 3 training steps, scores, the
    * threshold — replays in ONE oracle query. */
  /** The STANDING MODEL artifact — weights plus the reference-domain
    * threshold aggregate (ΣposQ, nPos), trained/derived ONCE per
    * session × corpus: q140 scores the corpus with it in batch, q143
    * scores the live stream under it. A no-reference corpus yields
    * (w, 0, 0) — no threshold, every doc is tail (the SQL's NULL
    * comparisons land there too). */
  private def qcModel(s: SparkSession, dir: String): (Array[Double], Long, Long) =
    Memo.cachedValue(s, dir, "qc_model") {
      val w = qcWeights(s, dir)
      val wl = array(w.toSeq.map(lit): _*)
      val pos = qcFeats(s, dir).filter(col("y") === 1.0)
        .agg(sum(round(dot(col("xd"), wl) * lit(1e6)).cast("long")).as("spq"),
          count(lit(1)).as("np"))
        .head()
      if (pos.isNullAt(0)) (w, 0L, 0L) else (w, pos.getLong(0), pos.getLong(1))
    }

  /** The per-document audit projection over a scored frame
    * (doc_id, y, score, sq) — ONE definition for the batch (q140)
    * and streamed (q143) paths. Tail is decided FIRST: with a
    * negative reference mean the head cut (≥ mean) is WEAKER than
    * the middle cut (≥ mean/2), so a head-ordered CASE could emit
    * bucket='head' with kept=0 — tail-first keeps
    * head ⊆ middle ⊆ kept at any mean sign. */
  private def qcAudit(scored: DataFrame, spq: Long, np: Long): DataFrame = {
    val bucket =
      if (np == 0L) lit("tail")
      else when(col("sq") * lit(np) * 2 < lit(spq), "tail")
        .when(col("sq") * lit(np) >= lit(spq), "head")
        .otherwise("middle")
    val kept =
      if (np == 0L) lit(0L)
      else when(col("sq") * lit(np) * 2 >= lit(spq), 1L).otherwise(0L)
    scored.select(col("doc_id"), col("y").cast("long").as("label"),
      round(col("score"), 6).as("score"), bucket.as("bucket"),
      kept.as("kept"))
  }

  def q140QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val (w, spq, np) = qcModel(s, dir)
    val wl = array(w.toSeq.map(lit): _*)
    val scored = qcFeats(s, dir)
      .withColumn("score", dot(col("xd"), wl))
      .withColumn("sq", round(col("score") * lit(1e6)).cast("long"))
    qcAudit(scored, spq, np).orderBy("doc_id")
  }

  /** STREAMING SCORING UNDER THE STANDING MODEL — the q127/q128
    * standing-artifact discipline applied to the TRAINED model,
    * completing the live-ingest matrix for every at-rest artifact
    * family (standing quantizer q127, standing bounds q128, standing
    * routing q99, standing registers q130/q136, standing WEIGHTS +
    * THRESHOLD here): re-training or re-thresholding per batch would
    * silently score two arrivals of the same document under two
    * different models, exactly as per-batch bounds would re-scale
    * q128's codes. Documents drain as four id-ordered micro-batches;
    * each batch embeds and scores INSIDE foreachBatch under the
    * standing (w, ΣposQ, nPos) literals and appends its audit rows
    * to the scored table — per-trigger cost is batch-sized, the
    * model is driver-held (64 doubles + 2 longs). The staged stream
    * is the training corpus itself, so the drained table must equal
    * q140's batch scoring ROW FOR ROW — and the oracle IS q140's SQL
    * (the stream-equals-batch gate made total); at 100 TB the same
    * drain scores NEW documents under the deployed model. */
  def q143StreamScoring(s: SparkSession, dir: String): DataFrame = {
    val (w, spq, np) = qcModel(s, dir)
    val wl = array(w.toSeq.map(lit): _*)
    val stage = q136Stage(s, dir)
    val out = PipelineQueries.roundtripPath(dir, "q143")
    graft.FileTree.delete(new java.io.File(out))
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var batches = 0
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) => {
      batches += 1
      val scoredB = graft.embed.Embed.embedDocs(batch, "doc_id", "text",
          new graft.embed.PortableHashEmbedder(64))
        .select(col("doc_id"), col("vec").cast("array<double>").as("xd"))
        .join(batch.select(col("doc_id"),
          when(col("source") === "src0", 1.0).otherwise(0.0).as("y")),
          "doc_id")
        .withColumn("score", dot(col("xd"), wl))
        .withColumn("sq", round(col("score") * lit(1e6)).cast("long"))
      qcAudit(scoredB, spq, np).write.mode("append").parquet(out)
    })
    require(batches == 4, s"q143: expected a 4-batch drain, got $batches")
    val drained = s.read.parquet(out)
    val n = Memo.cachedCount(s, dir, "docs_n")(docs(s, dir).count())
    require(drained.count() == n,
      s"q143: drained ${drained.count()} scored rows for a $n-doc corpus")
    drained.orderBy("doc_id")
  }

  /** The unrolled trainer + scorer chain: w0 = 0, per step t the
    * margins come from an ORDERED list dot (same sequential
    * accumulation as the fused Spark dot), the gradient from the
    * quantized integer sum, the update from the same
    * `w − 0.5·(g/n)` expression the driver evaluates. */
  lazy val q140Sql: String = {
    def step(t: Int): String = {
      val prev = s"w${t - 1}"
      s"""wl${t - 1} AS (SELECT list(w ORDER BY j) AS wv FROM $prev),
       r$t AS (SELECT f.doc_id, list_dot_product(f.xv, wl.wv) - l.y AS resid
         FROM xs f CROSS JOIN wl${t - 1} wl JOIN lab l ON f.doc_id = l.doc_id),
       g$t AS (SELECT d.j,
           CAST(SUM(CAST(round(r.resid * d.x * 1000000.0) AS BIGINT)) AS DOUBLE) / 1e6 AS gsum
         FROM r$t r JOIN vf d ON r.doc_id = d.doc_id GROUP BY d.j),
       w$t AS (SELECT w.j, w.w - $qcLr * (g.gsum / n.n) AS w
         FROM $prev w JOIN g$t g ON w.j = g.j CROSS JOIN nt n)"""
    }
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       ${graft.RetrievalQueries.embedCteSql("base", "text", 64, "")},
       lab AS (SELECT doc_id,
           CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
         FROM documents),
       xs AS (SELECT doc_id, list(x ORDER BY j) AS xv FROM vf GROUP BY doc_id),
       nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       w0 AS (SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS j, 0.0 AS w),
       ${(1 to qcSteps).map(step).mkString(",\n       ")},
       wl$qcSteps AS (SELECT list(w ORDER BY j) AS wv FROM w$qcSteps),
       sc AS (SELECT f.doc_id, list_dot_product(f.xv, wl.wv) AS score
         FROM xs f CROSS JOIN wl$qcSteps wl),
       scq AS (SELECT doc_id, score,
           CAST(round(score * 1000000.0) AS BIGINT) AS sq FROM sc),
       pos AS (SELECT SUM(s.sq) AS spq, CAST(COUNT(*) AS BIGINT) AS np
         FROM scq s JOIN lab l ON s.doc_id = l.doc_id WHERE l.y = 1.0)
       SELECT s.doc_id, CAST(l.y AS BIGINT) AS label,
         ROUND(s.score, 6) AS score,
         CASE WHEN p.np = 0 OR s.sq * p.np * 2 < p.spq THEN 'tail'
              WHEN s.sq * p.np >= p.spq THEN 'head'
              ELSE 'middle' END AS bucket,
         CAST(CASE WHEN p.np > 0 AND s.sq * p.np * 2 >= p.spq THEN 1 ELSE 0 END AS BIGINT) AS kept
       FROM scq s JOIN lab l ON s.doc_id = l.doc_id CROSS JOIN pos p
       ORDER BY s.doc_id"""
  }

  /** Exact n-gram Jaccard over all pairs in a bounded id range —
    * the verify-everything variant for small candidate sets. */
  def q34NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 40)
    val ids = d.select(col("doc_id"))
    val pairs = ids.select(col("doc_id").as("id1"))
      .join(ids.select(col("doc_id").as("id2")), col("id1") < col("id2"))
    Dedup.jaccardVerify(d, "doc_id", "text", pairs, shingleN)
      .orderBy("id1", "id2")
  }

  val q34Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         FROM documents WHERE doc_id < 40),
       d AS (SELECT doc_id,
           CASE WHEN len(toks) >= $shingleN THEN
             list_distinct(list_transform(generate_series(1, len(toks) - ${shingleN - 1}),
               k -> array_to_string(toks[k:k+${shingleN - 1}], ' ')))
           ELSE [] END AS sh FROM t),
       n AS (SELECT doc_id, sh, len(sh) AS nsh FROM d)
       SELECT x.doc_id AS id1, y.doc_id AS id2,
         CASE WHEN (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))) > 0 THEN
           ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))), 4)
         ELSE 0.0 END AS jaccard
       FROM n x JOIN n y ON x.doc_id < y.doc_id
       ORDER BY id1, id2"""

  /** Unigram log-probability scoring — the perplexity-proxy quality
    * filter: corpus unigram distribution (one explode + aggregate),
    * broadcast back, per-doc mean token log-prob. Low scores flag
    * gibberish / OOV-heavy docs. Two corpus-sized passes, shuffle
    * keyed by term then by doc — both with map-side partial
    * aggregation. */
  def q27UnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    // the corpus unigram table IS the BM25 postings index rolled up
    // by term (identical whitespace-lowercase tokenizer): freqs(t) =
    // Σ_doc tf, served from the memoized postings — building the
    // language model re-exploads nothing, and the roll-up is a
    // vocabulary-sized aggregate over materialized rows. tf values
    // are integral doubles < 2^53, so the cast back to long is exact
    // and the counts equal the old explode-and-count form.
    val freqs = Queries.bm25Postings(s, dir)
      .groupBy(col("term").as("t"))
      .agg(sum(col("tf")).cast("long").as("c"))
      .localCheckpoint()
    val total = freqs.agg(sum(col("c")).as("tot"))
    // the frequency table must stay CORPUS-wide (it IS the language
    // model), but only the output docs need scoring — the id filter
    // sits on the scoring side BEFORE the explode/join/aggregate, so
    // at scale this scores 200 docs, not the corpus
    val withLp = docs(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(TextAnalysis.toks(col("text"))).as("t"))
      .join(broadcast(freqs.crossJoin(broadcast(total))), "t")
      .select(col("doc_id"),
        log(col("c").cast("double") / col("tot").cast("double")).as("lp"))
    withLp.groupBy("doc_id")
      .agg(round(avg(col("lp")), 6).as("mean_logprob"), count(lit(1)).as("n_tokens"))
      .orderBy("doc_id")
  }

  val q27Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
         FROM documents),
       freqs AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
       total AS (SELECT SUM(c) AS tot FROM freqs)
       SELECT doc_id, ROUND(AVG(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS mean_logprob,
         COUNT(*) AS n_tokens
       FROM toks JOIN freqs USING (t), total
       WHERE doc_id < 200 GROUP BY doc_id ORDER BY doc_id"""

  /** Deterministic stratified sampling — the data-mixing primitive:
    * per-stratum Bernoulli keep with an LCG threshold on the doc id,
    * so the mixture is reproducible run-to-run and replayable in SQL
    * (`sampleBy`'s RNG is not). English kept at 50%, other languages
    * at 20%. */
  /** Uniform-in-[0, 1000003) LCG key on doc_id — the portable seeded
    * sampler shared by q26/q71 (same recipe as Ingest.pseudoShuffleKey;
    * id reduced mod 2^31 before the multiply so the arithmetic is
    * overflow-free in both engines). Keep the Column and SQL forms in
    * lockstep: every sampling oracle replays this expression. */
  private def lcgKey: org.apache.spark.sql.Column =
    ((col("doc_id") % 2147483648L) * 1103515245L + 12345L) % 1000003L
  private val lcgKeySql = "(((doc_id % 2147483648) * 1103515245 + 12345) % 1000003)"

  val strataFractions: Map[String, Double] = Map("en" -> 0.5).withDefaultValue(0.2)
  def q26StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val u = lcgKey.cast("double") / 1000003.0
    val f = when(col("lang") === "en", strataFractions("en"))
      .otherwise(strataFractions("other"))
    docs(s, dir)
      .filter(u < f)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  val q26Sql: String =
    s"""SELECT lang, COUNT(*) AS n_kept FROM documents
       WHERE $lcgKeySql / 1000003.0 <
             CASE WHEN lang = 'en' THEN ${strataFractions("en")} ELSE ${strataFractions("other")} END
       GROUP BY lang ORDER BY lang"""

  /** Temperature-based mixture resampling — the multilingual
    * balancing op (XLM-R-style): each language keeps documents with
    * probability (n_min / n_lang)^0.5, so the smallest language keeps
    * everything and head languages are downsampled toward balance.
    * The fraction is DERIVED FROM THE DATA (one count pass), then
    * applied as an integer LCG threshold, so the whole thing replays
    * bit-exactly in SQL: sqrt and one division are correctly-rounded
    * IEEE ops on integers (no float accumulation anywhere), and the
    * per-doc keep test is pure integer arithmetic. Two scans total;
    * the per-lang threshold table is keys-sized and broadcast. */
  def q71TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val counts = docs(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val thr = counts.crossJoin(broadcast(nMin))
      .withColumn("thr",
        round(sqrt(col("n_min").cast("double") / col("n_docs").cast("double"))
          * 1000003).cast("long"))
      .select(col("lang"), col("n_docs"), col("thr"))
    docs(s, dir).select(col("doc_id"), col("lang"))
      .join(broadcast(thr), "lang")
      .filter(lcgKey < col("thr"))
      .groupBy(col("lang"), col("n_docs"), col("thr"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  val q71Sql: String =
    s"""WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       m AS (SELECT MIN(n_docs) AS n_min FROM counts),
       thr AS (SELECT lang, n_docs,
           CAST(ROUND(sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 1000003) AS BIGINT) AS thr
         FROM counts, m)
       SELECT d.lang, t.n_docs, t.thr, COUNT(*) AS n_kept
       FROM documents d JOIN thr t ON d.lang = t.lang
       WHERE ${lcgKeySql.replace("doc_id", "d.doc_id")} < t.thr
       GROUP BY d.lang, t.n_docs, t.thr
       ORDER BY d.lang"""

  /** The canonical training-data curation flow as ONE declarative
    * pipeline, every stage oracle-replayable: exact dedup keep-first →
    * MinHash-LSH near-dup removal (drop the higher id of any verified
    * pair with J ≥ 0.5 — single-pass policy, not transitive closure) →
    * quality floor → language filter. Survivors + quality out. */
  val nearDupTau = 0.5
  def q47CurationE2e(s: SparkSession, dir: String): DataFrame = {
    import TextAnalysis._
    // d1 feeds the two survivor semi-joins and the final anti-join:
    // materialize the exact-dedup survivors once
    val d1 = Dedup.exact(docs(s, dir), "text", "doc_id")
      .select(col("doc_id"), col("text")).localCheckpoint()
    // the survivors' verified pair set IS the memoized full-corpus
    // pair index filtered to survivor×survivor: per-doc MinHash
    // signatures (hence buckets) and per-pair Jaccard are corpus-
    // independent, and an exact-dup's surviving twin has identical
    // signatures, so no candidate is lost by filtering after the
    // fact. Build the index once (shared with q31/q68), never per
    // pipeline.
    val survivors = d1.select(col("doc_id"))
    val dropIds = nearDupPairs(s, dir)
      .filter(col("jaccard") >= nearDupTau)
      .join(survivors.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_semi")
      .join(survivors.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_semi")
      .select(col("id2").as("doc_id")).distinct()
    // no broadcast() hint: dropIds scales with the near-dup pair
    // count — strategy is AQE's call (it will still broadcast when
    // the runtime size is actually small)
    d1.join(dropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"))
      .filter(col("quality") >= 0.5 && col("lang_pred") === "en")
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  val q47Sql: String = {
    val langs = TextAnalysis.langProfiles.keys.toSeq.sorted
    val scores = langs.map { l =>
      val grams = TextAnalysis.langProfiles(l)
      val sum = grams.map(g =>
        s"CASE WHEN contains(lower(text), '$g') THEN 1.0 ELSE 0.0 END").mkString(" + ")
      s"(($sum) / ${grams.size}) AS s_$l"
    }.mkString(", ")
    val mx = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val pick = "CASE " + langs.map(l => s"WHEN s_$l = mx THEN '$l'").mkString(" ") + " END"
    s"""WITH dd AS (SELECT doc_id, text FROM (
           SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                                ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1),
       tk AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM dd),
       d AS (SELECT doc_id,
           CASE WHEN len(toks) >= $shingleN THEN
             list_distinct(list_transform(generate_series(1, len(toks) - ${shingleN - 1}),
               k -> array_to_string(toks[k:k+${shingleN - 1}], ' ')))
           ELSE [] END AS sh FROM tk),
       nz AS (SELECT doc_id, sh, len(sh) AS nsh FROM d WHERE len(sh) > 0),
       hs AS (SELECT doc_id, sh, nsh,
               list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs FROM nz),
       sig AS (SELECT doc_id, list_transform(generate_series(0, ${nPerm - 1}),
               p -> list_aggregate(list_transform(hs,
                 h -> (((p+1) * 2654435761 % 2147483647) * h + (p+1) * 7919) % 2147483647), 'min')) AS sig
             FROM hs),
       banded AS (SELECT doc_id, b.b AS band,
               array_to_string(sig[b.b*$rowsPerBand+1 : b.b*$rowsPerBand+$rowsPerBand], '|') AS bandsig
             FROM sig, (SELECT unnest(generate_series(0, ${nPerm / rowsPerBand - 1})) AS b) b),
       cand AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
              FROM banded a JOIN banded c
                ON a.band = c.band AND a.bandsig = c.bandsig AND a.doc_id < c.doc_id),
       jac AS (SELECT id1, id2,
           ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh))), 4) AS j
         FROM cand JOIN nz x ON cand.id1 = x.doc_id JOIN nz y ON cand.id2 = y.doc_id),
       dropids AS (SELECT DISTINCT id2 FROM jac WHERE j >= $nearDupTau),
       kept AS (SELECT tk.doc_id, tk.text, tk.toks FROM tk
              WHERE tk.doc_id NOT IN (SELECT id2 FROM dropids)),
       q AS (SELECT doc_id,
           least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) AS ls,
           CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS dr,
           1.0 - abs(CAST(len(list_filter(toks, x -> list_contains([$stopList], x))) AS DOUBLE)
                     / greatest(len(toks), 1) - 0.4) AS ss,
           $scores FROM kept),
       m AS (SELECT *, $mx AS mx, ROUND(((ls + dr) + ss) / 3.0, 4) AS quality FROM q)
       SELECT doc_id, quality FROM m
       WHERE quality >= 0.5 AND ($pick) = 'en'
       ORDER BY doc_id"""
  }

  // ---------- catalog ----------

  /** Shared-artifact builds (see RetrievalQueries.builds). */
  val builds: Map[String, (SparkSession, String) => Unit] = Map(
    "_build_neardup_pairs" -> ((s, dir) => { nearDupPairs(s, dir).count(); () }),
    "_build_lsh_buckets" -> ((s, dir) => { lshBuckets(s, dir).count(); () }),
    "_build_stream_bands" -> ((s, dir) =>
      { streamBandsPath(s, dir); q98Stage(s, dir); q130Stage(s, dir); () }),
    "_build_q136_vetted" -> ((s, dir) => { q136Vetted(s, dir).count(); () }),
    "_build_gate_bands" -> ((s, dir) =>
      { gateBandsFull(s, dir).count(); gateBandsKept(s, dir).count(); () }))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_text_stats" -> (q22TextStats _),
    "q23_quality_langid" -> (q23QualityLangid _),
    "q24_fingerprint" -> (q24Fingerprint _),
    "q26_stratified_sample" -> (q26StratifiedSample _),
    "q27_unigram_logprob" -> (q27UnigramLogprob _),
    "q30_dedup_exact" -> (q30DedupExact _),
    "q31_minhash_pairs" -> (q31MinhashPairs _),
    "q32_simhash" -> (q32Simhash _),
    "q33_neardup_cosine" -> (q33NeardupCosine _),
    "q34_ngram_jaccard" -> (q34NgramJaccard _),
    "q47_curation_e2e" -> (q47CurationE2e _),
    "q71_temperature_mix" -> (q71TemperatureMix _),
    "q88_redact" -> (q88Redact _),
    "q98_stream_neardup" -> (q98StreamNeardup _),
    "q130_stream_neardup_cumulative" -> (q130StreamNeardupCumulative _),
    "q188_register_exactly_once" -> (q188RegisterExactlyOnce _),
    "q169_register_forget" -> (q169RegisterForget _),
    "q170_register_forget_stream" -> (q170RegisterForgetMidDrain _),
    "q177_register_revive" -> (q177RegisterRevive _),
    "q180_register_valve" -> (q180RegisterValve _),
    "q136_stream_curation" -> (q136StreamCuration _),
    "q105_semantic_decon" -> (q105SemanticDecon _),
    "q139_semdedup" -> (q139SemDedup _),
    "q140_quality_classifier" -> (q140QualityClassifier _),
    "q143_stream_scoring" -> (q143StreamScoring _))

  val oracle: Map[String, String] = Map(
    "q22_text_stats" -> q22Sql,
    "q23_quality_langid" -> q23Sql,
    "q24_fingerprint" -> q24Sql,
    "q26_stratified_sample" -> q26Sql,
    "q27_unigram_logprob" -> q27Sql,
    "q30_dedup_exact" -> q30Sql,
    "q31_minhash_pairs" -> q31Sql,
    "q32_simhash" -> q32Sql,
    "q33_neardup_cosine" -> q33Sql,
    "q34_ngram_jaccard" -> q34Sql,
    "q47_curation_e2e" -> q47Sql,
    "q71_temperature_mix" -> q71Sql,
    "q88_redact" -> q88Sql,
    "q98_stream_neardup" -> q98Sql,
    "q130_stream_neardup_cumulative" -> q130Sql,
    "q188_register_exactly_once" -> q130Sql,
    "q169_register_forget" -> q169Sql,
    "q170_register_forget_stream" -> q170Sql,
    "q177_register_revive" -> q177Sql,
    "q180_register_valve" -> q180Sql,
    "q136_stream_curation" -> q136Sql,
    "q105_semantic_decon" -> q105Sql,
    "q139_semdedup" -> q139Sql,
    "q140_quality_classifier" -> q140Sql,
    "q143_stream_scoring" -> q140Sql)
}
