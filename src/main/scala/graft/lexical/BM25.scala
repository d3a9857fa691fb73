package graft.lexical

import graft.Tombstones
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{LexicalBatch, TopKAggregate}

/** Lexical (BM25) retrieval as pure relational algebra (SURVEY §2 R3).
  *
  * The reference builds a `BM25Okapi` index over the whole corpus on
  * the driver — and rebuilds it on EVERY query
  * (`src/pipeline/pipeline.py:166-176`). Here the corpus statistics
  * (term frequencies, document frequencies, document lengths, average
  * length) are DataFrames built once and reusable/cacheable across
  * queries; scoring a query batch is one term-filtered postings scan
  * into one scoring aggregate — O(matching postings), not
  * O(corpus).
  *
  * Scoring formula (Robertson/Okapi, k1=1.5 b=0.75):
  *   idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
  *   s(d, t) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))
  */
object BM25 {
  val K1 = 1.5
  val B = 0.75

  /** Whitespace-lowercase tokenizer (reference `src/pipeline/pipeline.py:169`).
    * NULL text coalesces to "" (→ the [""] token array) so a null-text
    * document behaves exactly like an empty-text one: it still emits a
    * posting row, which [[statsFromPostings]]' equivalence to
    * [[corpusStats]] relies on — without the coalesce, explode drops
    * the doc from postings while corpusStats still counts it in N,
    * and q87's append-then-derive ≡ rebuild contract would diverge on
    * a corpus with null text. */
  def tokens(text: Column): Column =
    split(lower(trim(coalesce(text, lit("")))), "\\s+")

  /** Posting list: (id, term, tf) + doc length. One explode + one
    * aggregation; partitioned by (id, term) hash. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .withColumn("len", size(col("toks")).cast("double"))
      .select(col("doc"), col("len"), explode(col("toks")).as("term"))
      .groupBy("doc", "len", "term")
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Corpus scalars (N, avgdl) as a one-row frame. This is the part
    * of the BM25 "index" that costs a full corpus tokenize pass and
    * is QUERY-INDEPENDENT — compute it once per corpus and pass it to
    * [[search]] (graft.Memo.cached is the session-lifetime memo the
    * declared queries use), instead of the reference's
    * rebuild-per-query anti-pattern (`src/pipeline/pipeline.py:171-172`,
    * SURVEY §7.5). */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(size(tokens(col(textCol))).cast("double").as("__dl"))
      .agg(count(lit(1)).cast("double").as("__n"), avg(col("__dl")).as("__avgdl"))

  /** Corpus stats DERIVED FROM a postings frame instead of the raw
    * corpus: every document contributes at least one posting row
    * (the tokenizer emits [""] for empty text), so
    * distinct (doc, len) recovers exactly the (N, avgdl) that
    * [[corpusStats]] computes from the documents table. This is what
    * makes the postings table the SINGLE incremental artifact:
    * append a delta batch's postings and the stats follow from the
    * table itself — no separately-maintained counter to drift out of
    * sync (q87 pins append-then-derive ≡ full rebuild under the
    * oracle). */
  def statsFromPostings(post: DataFrame): DataFrame =
    post.select(col("doc"), col("len")).distinct()
      .agg(count(lit(1)).cast("double").as("__n"), avg(col("len")).as("__avgdl"))

  /** [[search]] computing corpus stats inline (one-off callers). */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queryTerms: Seq[String], k: Int): DataFrame =
    search(docs, idCol, textCol, queryTerms, k, corpusStats(docs, textCol))

  /** Score `queryTerms` against the corpus; returns (doc, rank, score)
    * top-k. The token arrays are filtered to the query's terms BEFORE
    * the explode and the resulting postings are served by
    * [[searchIndexed]]. `corpus` is the (possibly memoized)
    * [[corpusStats]] frame. */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queryTerms: Seq[String], k: Int, corpus: DataFrame): DataFrame = {
    // postings of the QUERY TERMS only: the token array is filtered
    // BEFORE the explode, so the generate emits just matching tokens
    // (a predicate after the explode still pays for the full posting
    // blowup — at corpus scale that's the difference between
    // O(matching postings) and O(all tokens))
    val terms = queryTerms.map(_.toLowerCase)
    val post = docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), size(col("toks")).cast("double").as("len"),
        explode(filter(col("toks"), t => t.isin(terms: _*))).as("term"))
      .groupBy("doc", "len", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    searchIndexed(post, corpus, terms, k)
  }

  /** Files per term bucket of a persisted postings table — the
    * compaction trigger's input, from a driver-side listing (the
    * Spark bucket id rides the file name as the `_NNNNN` suffix
    * before `.c000`). The BM25 twin of [[graft.search.IVF
    * .listFileCounts]]: every append lands one new file per touched
    * bucket, so files-per-bucket grows with append count. */
  def bucketFileCounts(path: String): Map[Int, Int] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .flatMap(f => "_(\\d{5})\\.".r.findFirstMatchIn(f.getName)
        .map(_.group(1).toInt))
      .groupBy(identity).map { case (b, fs) => b -> fs.size }

  /** [[search]] over a PRE-BUILT postings frame (the [[postings]]
    * output, memoized once per corpus): [[searchIndexedMulti]] on a
    * batch of one — a term-filtered postings scan into one scoring
    * aggregate; the corpus is never re-tokenized. With the stats memo
    * this is the engine's full escape from the reference's
    * rebuild-BM25-per-query anti-pattern (`src/pipeline/pipeline.py:171-172`,
    * SURVEY §7.5): build once, score many. Values are identical to
    * [[search]] — tf/df/len come out the same whether the term filter
    * runs before or after the tf aggregation. */
  def searchIndexed(post: DataFrame, corpus: DataFrame,
                    queryTerms: Seq[String], k: Int): DataFrame =
    single(searchIndexedMulti(post, corpus, oneQuery(queryTerms), k), post)

  /** `queryTerms` as a batch of one, lower-cased and distinct: a term
    * the query names twice still scores once (the batch kernel scores
    * a repeated term per mention). */
  private def oneQuery(queryTerms: Seq[String]): Seq[(Long, Seq[String])] =
    Seq((0L, queryTerms.map(_.toLowerCase).distinct))

  /** A batch-of-one result in the single-query contract: (doc, rank,
    * score), doc in `post`'s own id type. */
  private def single(batch: DataFrame, post: DataFrame): DataFrame =
    batch.select(col("doc").cast(post.schema("doc").dataType).as("doc"),
      col("rank"), col("score"))

  /** PHASE-1 deletion from the postings index: record request∩index
    * doc ids in the postings generation's delete sidecar
    * ([[graft.Tombstones.beside]] the DATA path, so a compaction that
    * swaps in a fresh data path starts with no sidecar) — an
    * O(request) write that opens no posting file — and every
    * sidecar-aware serve hides them before scoring. Ids absent from
    * the live (already-filtered) postings are never recorded, so a
    * repeated delete of the same docs counts zero. PHASE 2 rides the
    * compaction rewrite (it reads every byte anyway), which swaps in a
    * clean-sidecar generation. Returns the number of DOCS the request
    * hides. */
  def deleteFromPostings(spark: org.apache.spark.sql.SparkSession,
                         path: String, post: DataFrame,
                         ids: DataFrame): Long =
    Tombstones.recordPresent(spark, Tombstones.beside(path), post.select(col("doc")),
      ids.select(col(ids.columns.head).as("doc")), distinct = true)

  /** The LIVE view of a postings frame stored at `path`: deleted docs
    * hidden ([[graft.Tombstones.hide]]). Every maintenance read that
    * rebuilds FROM the postings must also go through this (the
    * resurrection discipline). */
  def livePostings(spark: org.apache.spark.sql.SparkSession,
                   path: String, post: DataFrame): DataFrame =
    Tombstones.hide(spark, Tombstones.beside(path), post)

  /** Docs in the sidecar at `path` (0 when none) — sidecar-only. Raw
    * rows: [[deleteFromPostings]] records distinct docs absent from
    * the sidecar, so the rows are already distinct. */
  def tombstoneRows(spark: org.apache.spark.sql.SparkSession,
                    path: String): Long =
    Tombstones.count(spark, Tombstones.beside(path), distinct = false)

  /** Compaction trigger on delete accumulation — the lexical twin of
    * [[graft.search.IVF.needsCompact]] next to [[bucketFileCounts]]
    * (append fragmentation): true when the sidecar hides more than
    * `maxTombRows` docs. A maintenance job polls it after deletes and
    * schedules the postings compaction, which folds the sidecar into
    * the rewrite and bounds the serve-time anti-join's build side. */
  def needsCompact(spark: org.apache.spark.sql.SparkSession, path: String,
                   maxTombRows: Long): Boolean =
    tombstoneRows(spark, path) > maxTombRows

  /** True when any of `ids` (doc ids, any column name) sit in
    * `path`'s sidecar — the REVIVE probe the append writer runs
    * ([[graft.Tombstones.revives]]): re-ingesting a deleted doc must
    * first run the deferred compaction, or its old posting rows would
    * come back beside the new ones (doubled tf, wrong scores). */
  def hasRevives(spark: org.apache.spark.sql.SparkSession,
                 path: String, ids: DataFrame): Boolean =
    Tombstones.revives(spark, Tombstones.beside(path), ids, ids.columns.head)

  /** SIDECAR-AWARE [[searchIndexed]] — the default serve for a
    * postings table that supports deletion: with no sidecar it is
    * exactly the memoized-stats fast path; with one, the postings are
    * filtered AND the corpus scalars are re-derived from the filtered
    * frame, so the served ranking (idf, avgdl, every score) equals a
    * from-scratch index over the corpus-without-them — the hide-now
    * half of the two-phase contract, fully SQL-replayable. */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                    post: DataFrame, corpus: DataFrame,
                    queryTerms: Seq[String], k: Int): DataFrame =
    single(searchIndexedMulti(spark, path, post, corpus, oneQuery(queryTerms), k), post)

  /** MULTI-QUERY [[searchIndexed]] — ONE postings scan serves every
    * query (the [[graft.search.IVF.searchIndexMulti]] contract on the
    * lexical index: a serving tier answering a query batch must not
    * read the postings once per query). The scan is filtered to the
    * UNION of every query's terms — a single bucket-pruned read
    * (PlanSpec asserts one scan) — and feeds ONE global aggregate,
    * `graft_topk_bm25` ([[org.apache.spark.sql.graftnative.BatchBM25]]),
    * which carries the query batch from the driver: it gathers the
    * matching postings, takes each term's df from them (corpus
    * statistics do not depend on which query asked), reads (N, avgdl)
    * off the `corpus` row broadcast into the scan, scores, and keeps
    * one (score desc, doc asc) heap per query. No df pass, no
    * query-term join and no exchange on (qid, doc) or qid: the only
    * exchange is the aggregate's single merge. Entries sharing a qid
    * score as one query over their concatenated terms, and a term a
    * query names twice scores twice. Output (qid, doc, rank, score);
    * the single-query serves ([[searchIndexed]] and its sidecar and
    * pinned twins) run this kernel on a batch of one whose terms are
    * made distinct. */
  def searchIndexedMulti(post: DataFrame, corpus: DataFrame,
                         queries: Seq[(Long, Seq[String])],
                         k: Int): DataFrame = {
    val batch = LexicalBatch(queries)
    post.filter(col("term").isin(batch.terms.toIndexedSeq: _*))
      .crossJoin(broadcast(corpus))
      .agg(TopKAggregate.topKBm25(col("term"), col("doc"), col("tf"), col("len"),
        col("__n"), col("__avgdl"), batch, k).as("__tk"))
      .select(explode(col("__tk")).as("__e"))
      .select(col("__e.qid").as("qid"), col("__e.doc").as("doc"),
        col("__e.rank").as("rank"), round(col("__e.score"), 4).as("score"))
  }

  /** PINNED postings read — snapshot isolation for long-running
    * readers, the lexical twin of [[graft.search.IVF
    * .searchIndexPinned]] / [[graft.search.GraphAnn
    * .searchIndexPinned]]: the postings table's generation IS its
    * data path (each [[graft.Queries.compactPostings]] cycle moves
    * the data to a fresh `__genN` path and the sidecar is
    * path-keyed), so a reader that resolves the live path ONCE and
    * serves every query through this path-addressed read gets a
    * coherent (files, delete-set) pair across any concurrent
    * compaction flip — the superseded generation keeps BOTH through
    * the grace window. Without the pin, a reader that resolved the
    * path pre-compaction but re-reads the metastore table mid-serve
    * can pair one generation's files with another's sidecar. A pin
    * whose generation has been GC'd (two or more cycles old) fails
    * LOUDLY here, never silently serves a newer generation.
    *
    * Trade-off, documented not hidden: a path read carries no bucket
    * metadata, so the pinned serve scans the generation's files
    * without bucket pruning — the snapshot reader pays scan breadth
    * for isolation. Steady-state serving stays on the
    * metastore-resolved bucketed table; re-resolve at least once per
    * maintenance cycle (the standard snapshot-reader discipline). */
  def postingsPinned(spark: org.apache.spark.sql.SparkSession,
                     pinnedPath: String): DataFrame = {
    require(new java.io.File(pinnedPath).isDirectory,
      s"BM25: pinned postings generation at $pinnedPath has been GC'd — " +
        "a pin is valid for one maintenance cycle; re-resolve the live " +
        "path and retry")
    spark.read.parquet(pinnedPath)
  }

  /** [[searchIndexed]] against a PINNED generation path instead of
    * the metastore-resolved table — the snapshot-isolation serve:
    * answers come from the pinned generation's files filtered by ITS
    * OWN sidecar, with corpus scalars re-derived from the filtered
    * frame, coherent across any concurrent [[graft.Queries
    * .compactPostings]] flip. */
  def searchIndexedPinned(spark: org.apache.spark.sql.SparkSession,
                          pinnedPath: String, queryTerms: Seq[String],
                          k: Int): DataFrame =
    searchIndexedPinnedWith(spark, pinnedPath, postingsPinned(spark, pinnedPath),
      queryTerms, k)

  /** SIDECAR-AWARE [[searchIndexedMulti]] — the default multi-query
    * serve for a postings table that supports deletion (the
    * path-taking [[searchIndexed]] twin): with no sidecar the raw
    * fast path; with one, postings filtered and corpus scalars
    * re-derived, so every query's ranking equals a from-scratch
    * index over the corpus-without-them. */
  def searchIndexedMulti(spark: org.apache.spark.sql.SparkSession,
                         path: String, post: DataFrame, corpus: DataFrame,
                         queries: Seq[(Long, Seq[String])],
                         k: Int): DataFrame =
    if (!Tombstones.exists(Tombstones.beside(path))) searchIndexedMulti(post, corpus, queries, k)
    else {
      val live = livePostings(spark, path, post)
      searchIndexedMulti(live, statsFromPostings(live), queries, k)
    }

  /** [[searchIndexedMulti]] against a PINNED generation path — the
    * batch server's snapshot serve ([[searchIndexedPinned]]'s
    * multi-query twin): the pinned generation's files filtered by
    * ITS OWN sidecar, corpus scalars re-derived from the filtered
    * frame, one scan for the whole query batch, coherent across any
    * concurrent [[graft.Queries.compactPostings]] flip. */
  def searchIndexedMultiPinned(spark: org.apache.spark.sql.SparkSession,
                               pinnedPath: String,
                               queries: Seq[(Long, Seq[String])],
                               k: Int): DataFrame = {
    val live = livePostings(spark, pinnedPath, postingsPinned(spark, pinnedPath))
    searchIndexedMulti(live, statsFromPostings(live), queries, k)
  }

  /** [[searchIndexedPinned]] with the postings frame SUPPLIED by the
    * caller — the BUCKET-PRUNED pin: a raw path read carries no
    * bucket metadata (the [[postingsPinned]] trade-off), but the pin
    * can CAPTURE the generation's bucket spec by registering the
    * pinned path as an external bucketed table
    * ([[graft.Queries.pinPostingsTable]] — metadata-only, the bytes
    * never move) and passing its table read here. The sidecar is
    * still keyed by `pinnedPath` (the snapshot pairing is unchanged);
    * only the scan gains `SelectedBucketsCount` pruning, so a
    * snapshot reader pays query-term breadth instead of full postings
    * breadth for the pin's duration. PlanSpec pins the pruned shape;
    * answers are identical to [[searchIndexedPinned]]. */
  def searchIndexedPinnedWith(spark: org.apache.spark.sql.SparkSession,
                              pinnedPath: String, post: DataFrame,
                              queryTerms: Seq[String], k: Int): DataFrame =
    single(searchIndexedMultiPinnedWith(spark, pinnedPath, post, oneQuery(queryTerms), k),
      post)

  /** [[searchIndexedMultiPinned]] with a caller-supplied (bucketed)
    * postings frame — the batch server's bucket-pruned pin. */
  def searchIndexedMultiPinnedWith(spark: org.apache.spark.sql.SparkSession,
                                   pinnedPath: String, post: DataFrame,
                                   queries: Seq[(Long, Seq[String])],
                                   k: Int): DataFrame = {
    val live = livePostings(spark, pinnedPath, post)
    searchIndexedMulti(live, statsFromPostings(live), queries, k)
  }
}
