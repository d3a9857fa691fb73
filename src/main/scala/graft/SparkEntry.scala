package graft

import graft.dedup.Dedup
import graft.embed.Embed
import graft.functions.VectorF
import graft.ingest.Ingest
import graft.lexical.BM25
import graft.metrics.RankMetrics
import graft.search.Search
import graft.sources.Tables
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each with an equivalent DuckDB oracle SQL over the
  * same parquet tables (TESTDATA.md layout).
  *
  * Determinism rules (SURVEY §7.4): explicit ids, total-order
  * tiebreaks on every top-k, double-precision accumulation, scores
  * rounded before output, exact-integer "cents" arithmetic for money
  * sums so Spark and DuckDB hash-match bit-for-bit.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full reference dataflow end-to-end: ingest → clean →
    * dedup → distributed embed → multi-query kNN → snippets. */
  def entry(spark: SparkSession): DataFrame =
    queries("q46_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  def oracleSql: Map[String, String] = Queries.oracle

  /** Shared-artifact builds (indexes, memos, staged dirs) as named
    * units of work: the bench harness runs and times these FIRST so
    * each declared query's number is the query, never a first-touch
    * index build. Idempotent — warm memos make them no-ops. */
  def builds: Map[String, (SparkSession, String) => Unit] = Queries.builds
}

/** The query catalog. Kept separate so SparkEntry stays the thin
  * driver contract. */
object Queries {
  import VectorF._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------- relational ----------

  /** TPC-H Q1-style pricing summary over lineitem (scan + single
    * hash aggregate; filter pushed to parquet). Exact cents sums. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1997-06-30 00:00:00")))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity") * 100).cast("long").as("qc"),
        round(col("l_extendedprice") * 100).cast("long").as("epc"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("dpc"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("qc")).as("sum_qty_c"),
        sum(col("epc")).as("sum_price_c"),
        sum(col("dpc")).as("sum_disc_price_c4"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_c4,
       COUNT(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-06-30 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** Revenue by part brand: lineitem JOIN part. `part` is the small
    * dimension — broadcast, so the fact table never shuffles. */
  def q02RevenueByBrand(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000)
          .cast("long").as("rc"))
      .groupBy("p_brand")
      .agg(sum(col("rc")).as("revenue_c4"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue_c4").desc, col("p_brand").asc)
      .limit(10)

  val q02Sql: String =
    """SELECT p_brand,
       CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*10000) AS BIGINT)) AS BIGINT) AS revenue_c4,
       COUNT(*) AS n_items
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY p_brand ORDER BY revenue_c4 DESC, p_brand LIMIT 10"""

  /** Orders by nation: two broadcast joins up the star schema. */
  def q03OrdersByNation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        round(col("o_totalprice") * 100).cast("long").as("tc"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"), sum(col("tc")).as("total_c"))
      .orderBy("n_name")

  val q03Sql: String =
    """SELECT n_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name"""

  /** Top-3 orders per customer by totalprice — window function over
    * the orders table, partitioned by customer (parallel by key). */
  def q04TopOrdersPerCust(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3 && col("o_custkey") < 100)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))
      .orderBy("o_custkey", "rank")
  }

  val q04Sql: String =
    """SELECT o_custkey, rank, o_orderkey, price_c FROM (
         SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
           CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c
         FROM orders WHERE o_custkey < 100)
       WHERE rank <= 3 ORDER BY o_custkey, rank"""

  /** events.ts is TIMESTAMP(NANOS) in parquet; with
    * `spark.sql.legacy.parquet.nanosAsLong` it arrives as a raw nanos
    * long — convert to a real timestamp with exact integer division. */
  /** events with `ts` restored to a real timestamp (see below). */
  def eventsTable(s: SparkSession, dir: String): DataFrame = events(s, dir)

  private def events(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive parquet micros arrive as TIMESTAMP_NTZ under Spark 4's
        // NTZ inference; the session runs in UTC, so the cast to the
        // instant type is exact and unix_micros/watermarks work again
        e.withColumn("ts", col("ts").cast("timestamp"))
      case _ => e
    }
  }

  /** JSON scalar extraction over events (`props` is a JSON string) +
    * grouped aggregate. Regexp-based so no JSON extension needed. */
  def q05EventsJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), sum(col("vc")).as("sum_value_c"))
      .orderBy("event_type")

  val q05Sql: String =
    """SELECT event_type, COUNT(*) AS n,
       CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Hourly event rollup — date_trunc + grouped agg; the timestamp is
    * emitted as a formatted string so both engines hash identically. */
  def q06EventsHourly(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_value_c"))
      .orderBy("hour", "event_type")

  val q06Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_value_c
       FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  /** Anti join: customers with no high-value order — the filter is
    * pushed into the orders scan BEFORE the distinct+broadcast, so
    * the anti side ships only qualifying keys. */
  def q08bCustomersNoOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "orders")
          .filter(col("o_totalprice") > 300000).select(col("o_custkey")).distinct()),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  val q08bSql: String =
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
       ORDER BY c_custkey"""

  /** Semi join: suppliers that supply at least one shipped line item —
    * left_semi, no row multiplication from the fact side. */
  def q08cActiveSuppliers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(t(s, dir, "lineitem").select(col("l_suppkey")),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")

  val q08cSql: String =
    """SELECT s_suppkey, s_name FROM supplier
       WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
       ORDER BY s_suppkey"""

  /** Pivot (long → wide): events per market segment × event type.
    * Pivot values are EXPLICIT, so the output schema is deterministic
    * (no value-discovery pass over the data — at scale an implicit
    * pivot runs an extra distinct job and can explode the schema);
    * missing cells are 0, and the whole thing is one broadcast join +
    * one aggregate. */
  val pivotEventTypes = Seq("click", "error", "purchase", "signup", "view")
  def q70Pivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("user_id"), col("event_type"))
      .join(broadcast(t(s, dir, "customer").filter(col("c_custkey") < 150)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))), "user_id")
      .groupBy("c_mktsegment")
      .pivot("event_type", pivotEventTypes)
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("c_mktsegment")

  val q70Sql: String = {
    val cells = pivotEventTypes.map(t =>
      s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(", ")
    s"""SELECT c_mktsegment, $cells
       FROM events JOIN customer ON user_id = c_custkey
       WHERE c_custkey < 150
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""
  }

  // ---------- vector / search ----------

  private def embDouble(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** R1: exact kNN, query = vec_id 0, top-10 by dot product. */
  def q10KnnExact(s: SparkSession, dir: String): DataFrame = {
    val e = embDouble(s, dir)
    Search.topK(e, "vec_id", "v",
      e.filter(col("vec_id") === 0).select(col("v").as("qv")), "qv", 10)
      .orderBy("rank")
  }

  val q10Sql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       s AS (SELECT vec_id, list_dot_product(CAST(embedding AS DOUBLE[]), qv) AS sc
             FROM embeddings, q),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM s)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  /** R1 multi-query: 5 query vectors broadcast against the corpus,
    * one scan for all queries, window top-5 per query. */
  def q11KnnMulti(s: SparkSession, dir: String): DataFrame = {
    val e = embDouble(s, dir)
    Search.multiTopK(e, "vec_id", "v",
      e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv")),
      "qid", "qv", 5)
      .orderBy("qid", "rank")
  }

  val q11Sql: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 5),
       s AS (SELECT qid, vec_id, list_dot_product(CAST(embedding AS DOUBLE[]), qv) AS sc
             FROM embeddings, q),
       r AS (SELECT qid, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
               ROUND(sc, 6) AS score FROM s)
       SELECT qid, vec_id, rank, score FROM r WHERE rank <= 5 ORDER BY qid, rank"""

  /** V1/V2: scale + shift then L2-normalize; emit components + norm. */
  def q12Normalize(s: SparkSession, dir: String): DataFrame = {
    val v2 = l2normalize(transform(col("v"), x => x * 2.0 + 0.1))
    embDouble(s, dir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        round(element_at(v2, 1), 6).as("e0"),
        round(element_at(v2, 2), 6).as("e1"),
        round(norm2(v2), 6).as("norm"))
      .orderBy("vec_id")
  }

  val q12Sql: String =
    """WITH e AS (SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]), x -> x*2.0 + 0.1) AS w
         FROM embeddings WHERE vec_id < 100),
       n AS (SELECT vec_id, w,
           sqrt(list_sum(list_transform(w, x -> x*x))) + 1e-9 AS nrm FROM e),
       v AS (SELECT vec_id, list_transform(w, x -> x/nrm) AS v2 FROM n)
       SELECT vec_id, ROUND(v2[1], 6) AS e0, ROUND(v2[2], 6) AS e1,
         ROUND(sqrt(list_sum(list_transform(v2, x -> x*x))), 6) AS norm
       FROM v ORDER BY vec_id"""

  /** V8: deterministic random projection 64 → 8 dims, exploded. */
  def q13RandomProjection(s: SparkSession, dir: String): DataFrame =
    embDouble(s, dir)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), posexplode(randomProjection(col("v"), 8)))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        round(col("col"), 6).as("val"))
      .orderBy("vec_id", "j")

  val q13Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id < 200),
       x AS (SELECT vec_id, i.i AS i, v[i.i + 1] AS x
             FROM e, (SELECT UNNEST(generate_series(0, 63)) AS i) i)
       SELECT vec_id, j.j AS j,
         ROUND(SUM(x * ((((i*31 + j.j*17) % 7) - 3) / 3.0)), 6) AS val
       FROM x, (SELECT UNNEST(generate_series(0, 7)) AS j) j
       GROUP BY vec_id, j.j ORDER BY vec_id, j"""

  /** V7/M7: deterministic noise perturbation + renormalize; emit
    * cosine(original, noisy) and first noisy component. */
  def q14NoisePerturb(s: SparkSession, dir: String): DataFrame = {
    val noisy = addNoise(col("v"), col("vec_id"), 0.15)
    embDouble(s, dir)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"),
        round(dot(col("v"), noisy), 6).as("cos_orig"),
        round(element_at(noisy, 1), 6).as("e0"))
      .orderBy("vec_id")
  }

  val q14Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id < 200),
       nv AS (SELECT vec_id, i.i AS i, v[i.i + 1] AS x,
                v[i.i + 1] + ((((vec_id % 2147483648)*1103515245 + i.i*12345) % 1000003) / 1000003.0 - 0.5) * 0.15 AS y
              FROM e, (SELECT UNNEST(generate_series(0, 63)) AS i) i),
       agg AS (SELECT vec_id, SUM(x*y) AS xy, SUM(y*y) AS yy FROM nv GROUP BY vec_id),
       e0 AS (SELECT vec_id, y AS y0 FROM nv WHERE i = 0)
       SELECT agg.vec_id,
         ROUND(xy / (sqrt(yy) + 1e-9), 6) AS cos_orig,
         ROUND(y0 / (sqrt(yy) + 1e-9), 6) AS e0
       FROM agg JOIN e0 ON agg.vec_id = e0.vec_id ORDER BY agg.vec_id"""

  /** V5/V6/R8: DP-style search — docs = normalize(0.7·text ⊕ 0.3·attr),
    * query = normalize(0.7·qv ⊕ zeros). attr vector is a deterministic
    * 16-dim pattern from `label` (stands in for the reference's
    * attribute embedding). */
  private[graft] val attrDim = 16
  private[graft] def attrVec: Column =
    transform(sequence(lit(0L), lit(attrDim - 1L)),
      j => ((col("label").cast("long") * 31L + j * 7L) % 11L - 5L).cast("double") / 5.0)

  def q15DpSearch(s: SparkSession, dir: String): DataFrame = {
    val e = embDouble(s, dir)
    // repartition: the concat+normalize is CPU-bound per-row work and
    // a small parquet arrives as one split; materializing the concat
    // in its own projection keeps l2normalize's two references to it
    // reading an attribute instead of re-evaluating the subtree
    val docs = e.repartition(col("vec_id"))
      .select(col("vec_id"), weightedConcat(col("v"), 0.7, attrVec, 0.3).as("w"))
      .select(col("vec_id"), l2normalize(col("w")).as("dpv"))
    val query = e.filter(col("vec_id") === 0)
      .select(Search.dpQueryVec(col("v"), attrDim, 0.7).as("qv"))
    Search.topK(docs, "vec_id", "dpv", query, "qv", 10).orderBy("rank")
  }

  val q15Sql: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       tp AS (SELECT vec_id, i.i AS i, 0.7 * v[i.i + 1] AS a
              FROM e, (SELECT UNNEST(generate_series(0, 63)) AS i) i),
       ap AS (SELECT vec_id, j.j AS j,
                0.3 * (((label*31 + j.j*7) % 11 - 5) / 5.0) AS b
              FROM e, (SELECT UNNEST(generate_series(0, ${attrDim - 1})) AS j) j),
       dn AS (SELECT tp.vec_id,
                sqrt(SUM(a*a) + (SELECT SUM(b*b) FROM ap WHERE ap.vec_id = tp.vec_id)) + 1e-9 AS nrm
              FROM tp GROUP BY tp.vec_id),
       q AS (SELECT i.i AS i, 0.7 * v[i.i + 1] AS qa
             FROM e, (SELECT UNNEST(generate_series(0, 63)) AS i) i WHERE vec_id = 0),
       qn AS (SELECT sqrt(SUM(qa*qa)) + 1e-9 AS qnrm FROM q),
       sc AS (SELECT tp.vec_id, SUM(tp.a * q.qa) / MIN(dn.nrm) / MIN(qn.qnrm) AS sc
              FROM tp JOIN q ON tp.i = q.i JOIN dn ON dn.vec_id = tp.vec_id, qn
              GROUP BY tp.vec_id),
       r AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, vec_id) AS BIGINT) AS rank,
                    ROUND(sc, 6) AS score FROM sc)
       SELECT vec_id, rank, score FROM r WHERE rank <= 10 ORDER BY rank"""

  // ---------- lexical ----------

  /** BM25 corpus stats (N, avgdl) materialized once per (session,
    * dir-content) and shared by every BM25-scoring query (q20, q41,
    * the RAG pipeline) — the full-corpus tokenize pass behind these
    * two scalars is query-independent, and recomputing it per query
    * was the engine's residual echo of the reference's
    * rebuild-BM25-per-query anti-pattern (SURVEY §7.5). */
  private[graft] def bm25Stats(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "bm25stats")(
      BM25.corpusStats(t(s, dir, "documents"), "text"))

  /** The full (doc, len, term, tf) postings table — with [[bm25Stats]]
    * this is the whole BM25 "index"; per-query cost is a filter +
    * scoring join over it, never a re-tokenize.
    *
    * The index is PERSISTED at rest as a term-bucketed table (the q64
    * layout discipline), not held as an executor-memory checkpoint: a
    * corpus-sized artifact must survive executor loss and must not
    * occupy executor storage between queries — at 100 TB a
    * localCheckpoint'd postings frame does neither. Bucketing by term
    * makes every per-query term filter a BUCKET-PRUNED read
    * (SelectedBucketsCount in the scan), and the term-keyed df
    * aggregate inside scoring reuses the bucketing with no exchange.
    * Build-once cost is charged to the `_build_bm25_index` bench
    * entry, not to whichever query first touches the index. */

  /** Target postings rows per bucket — ~128 MB of (doc, len, term,
    * tf) rows at rest, the file size a bucket-pruned scan wants to
    * lift per selected bucket (small enough to read fast, large
    * enough that the file count stays sane at fleet scale: 10¹²
    * postings rows → ~244k buckets ≈ one 128 MB file per bucket per
    * writer wave). */
  private[graft] val bm25BucketTargetRows = 4L * 1024 * 1024

  /** DERIVED postings bucket count (round 19, the q194/q195
    * discipline applied to the last fixture-pinned index-geometry
    * constant): buckets = max(8, ⌈token mass / target rows⌉), where
    * the token mass is the postings row count the corpus will
    * produce (one pass over the documents with the indexer's own
    * tokenizer — a build-time cost charged to the build entry, the
    * corpusStats shape). The old `bm25Buckets = 8` made every
    * per-term read scan ⅛ of a corpus-sized postings table; derived,
    * the per-bucket bytes are CONSTANT in corpus size and a query's
    * term set reads O(terms) buckets of bounded size. The floor
    * keeps spec-scale tables at the historical 8 buckets (every
    * pinned plan and oracle unchanged below ~34M tokens); the
    * q199 dial row gates score invariance across the derived /
    * half / double geometries, and the SQL oracle replays this
    * exact derivation. */
  private[graft] def bm25BucketsFor(s: SparkSession, docs: DataFrame): Int = {
    // coalesce: an EMPTY corpus (a full right-to-be-forgotten sweep's
    // rebuild) sums to null — it must derive the floor and write the
    // empty table, not throw
    val tokens = docs
      .select(coalesce(sum(size(split(lower(trim(col("text"))), "\\s+")))
        .cast("long"), lit(0L)))
      .head().getLong(0)
    math.max(8, math.ceil(tokens.toDouble / bm25BucketTargetRows).toInt)
  }

  /** A standing postings table's bucket count from the metastore —
    * the ONE authority after creation: appends, the idempotent
    * stream stage, compaction rewrites and generation pins must all
    * reuse the count the table was CREATED under (geometry is fixed
    * at deployment, like the coarse quantizers; a re-derivation
    * mid-life would split the table across two layouts). Pre-derived
    * tables without a spec read as the historical 8. */
  private[graft] def bucketCountOf(s: SparkSession, tbl: String): Int =
    s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .bucketSpec.map(_.numBuckets).getOrElse(8)

  /** The table's LIVE data path from the metastore — the one
    * authority on which generation serves after any number of
    * [[compactPostings]] cycles (each cycle moves the data to a fresh
    * `__genN` path; the metastore rename IS the pointer flip, so
    * resolving through it can never read a superseded generation).
    * The delete sidecar and the file-count trigger hang off this
    * path. */
  private[graft] def postingsLivePath(s: SparkSession, tbl: String): String =
    java.nio.file.Paths.get(s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location).toString

  /** Tokenize `docs` and write (or append) their postings into the
    * term-bucketed table `tbl`. Append preserves the bucket spec, so
    * an incrementally-grown index prunes identically to a rebuilt
    * one.
    *
    * An APPEND that re-ingests a tombstoned doc (REVIVE) first runs
    * the deferred [[compactPostings]] — the [[graft.search.IVF
    * .appendToIndex]] discipline: clearing the sidecar entry alone
    * would resurrect the doc's old posting rows next to the new ones
    * (doubled tf, wrong scores), and leaving it would anti-join the
    * new rows away — a delete outliving the data it names. The
    * staged rewrite physically drops every tombstoned doc, the fresh
    * generation starts with a clean sidecar, and the new postings
    * append as the doc's only rows. Appends resolve the live
    * location through the metastore ([[postingsLivePath]]), so they
    * land in whatever generation is current. */
  private[graft] def writePostings(s: SparkSession, docs: DataFrame,
                                   tbl: String, path: String,
                                   mode: String,
                                   preserveLedger: Boolean = false,
                                   bucketsOverride: Option[Int] = None): Unit = {
    if (mode == "append" &&
        BM25.hasRevives(s, postingsLivePath(s, tbl), docs.select(col("doc_id"))))
      compactPostings(s, tbl, postingsLivePath(s, tbl))
    // geometry: derived from the corpus at CREATE, read back from the
    // metastore for appends (an append under a freshly-derived count
    // would split the table across two layouts); the explicit
    // override is the q199 dial's escape hatch
    val buckets = bucketsOverride.getOrElse(
      if (mode == "append") bucketCountOf(s, tbl)
      else bm25BucketsFor(s, docs))
    val post = bucketedPostingsFrame(s, docs, buckets)
    // appends pass the table's CURRENT metastore location as the
    // path (a caller-fixed path would fight the metastore after a
    // compaction cycle; omitting the option entirely leaves the
    // calling session's cached file listing stale when the write
    // runs on a streaming-cloned session — the foreachBatch case)
    val target = if (mode == "append") postingsLivePath(s, tbl) else path
    // CREATE semantics must not inherit a dead index's delete set:
    // the postings sidecar is a SIBLING of the data path
    // (Tombstones.beside), so overwriting the data alone would leave
    // a stale sidecar silently hiding legitimate docs from the fresh
    // index — the leftover-sidecar class GraphAnn.writeIndexWith
    // clears in its generation root and IVF/SQ clear by deleting the
    // whole index path
    if (mode != "append") {
      Tombstones.clear(Tombstones.beside(target))
      // ...and the exactly-once LEDGER sibling, the same class: a
      // fresh index inheriting a dead stream's applied set would
      // silently SKIP legitimate batches whose ids a previous
      // incarnation committed (the mirror image of the stale-sidecar
      // resurrection — here the ghost hides NEW data). MAINTENANCE
      // rebuilds ([[rebuildPostings]]) pass preserveLedger: wiping
      // the markers would turn a re-delivered committed batch into
      // doubled postings on a rebuild that already re-tokenized it.
      if (!preserveLedger) graft.FileTree.delete(Generations.ledger(target))
    }
    post.write.mode(mode)
      .option("path", target)
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(tbl)
    if (mode == "append") s.catalog.refreshTable(tbl)
  }

  /** PRISTINE SOURCE POSTINGS for the mutating lexical lifecycle rows
    * (round-19 optimization, the [[graft.RetrievalQueries]] vector
    * clone's lexical twin): [[writePostings]] over a fixed corpus
    * slice is deterministic (tokenize → aggregate → bucket shuffle
    * under a derived bucket count), and eight delete/append/valve/
    * upgrade rows re-ran the identical standing-slice build only to
    * mutate their private copy (four more per the full-corpus and
    * < 200 slices). Build each slice's postings ONCE per session ×
    * corpus (charged to `_build_postings_src`), clone files with a
    * local copy and re-register the bucketed external table DDL —
    * bucket ids live in the part-file NAMES, so a byte copy keeps
    * `SelectedBucketsCount` pruning intact (BM25Spec's promoted-file
    * pin is the same argument). */
  private def pristinePostings(s: SparkSession, dir: String, tag: String)
                              (docsOf: => DataFrame): String =
    Memo.cachedValue(s, dir, s"src_$tag") {
      val tbl = s"${tag}_src_" + PipelineQueries.sanitizeTag(dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val p = PipelineQueries.roundtripPath(dir, s"src_$tag")
      graft.FileTree.delete(new java.io.File(p))
      Tombstones.clear(Tombstones.beside(p))
      graft.FileTree.delete(Generations.ledger(p))
      writePostings(s, docsOf, tbl, p, "overwrite")
      tbl
    }

  private[graft] def postingsSrcB100(s: SparkSession, dir: String): String =
    pristinePostings(s, dir, "post_b100")(
      t(s, dir, "documents").filter(col("doc_id") >= 100))
  private[graft] def postingsSrcFull(s: SparkSession, dir: String): String =
    pristinePostings(s, dir, "post_full")(t(s, dir, "documents"))
  private[graft] def postingsSrcLt200(s: SparkSession, dir: String): String =
    pristinePostings(s, dir, "post_lt200")(
      t(s, dir, "documents").filter(col("doc_id") < 200))

  /** Clone a pristine postings source into a row's private mutable
    * (table, path) — CREATE semantics exactly like
    * [[writePostings]](overwrite): stale tomb sidecar and ledger
    * sibling wiped, files copied, and the same external bucketed
    * table registered over them (schema, bucket count and sort spec
    * read from the source's metastore entry, so the two can never
    * drift). */
  private[graft] def clonePostingsTo(s: SparkSession, srcTbl: String,
                                     tbl: String, path: String): Unit = {
    val srcPath = postingsLivePath(s, srcTbl)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Tombstones.clear(Tombstones.beside(path))
    graft.FileTree.delete(Generations.ledger(path))
    graft.FileTree.delete(new java.io.File(path))
    graft.FileTree.copy(new java.io.File(srcPath), new java.io.File(path))
    val buckets = bucketCountOf(s, srcTbl)
    val ddl = s.table(srcTbl).schema.toDDL
    // escape the interpolated LOCATION (round-19 advice: a quote or
    // backslash in the path would break the DDL — paths are internal
    // today, but the literal should be well-formed for any input)
    val loc = path.replace("\\", "\\\\").replace("'", "\\'")
    s.sql(s"""CREATE TABLE $tbl ($ddl) USING parquet
      CLUSTERED BY (term) SORTED BY (term) INTO $buckets BUCKETS
      LOCATION '$loc'""")
  }

  /** Tokenized postings of `docs`, scan-widened and pre-shuffled to
    * one file per term bucket — the frame BOTH postings writers stage
    * (one implementation so the bucket spec and the tokenize path can
    * never diverge between the raw and idempotent appends). A small
    * local corpus file arrives as ONE scan partition, serializing the
    * tokenize+explode; spread it across cores when under-parallel —
    * a no-op at real scale, where maxPartitionBytes splits the scan.
    * The write-side bucket shuffle pays for the read-side pruning of
    * every query after. */
  private def bucketedPostingsFrame(s: SparkSession, docs: DataFrame,
                                    buckets: Int): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val dp = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    BM25.postings(dp, "doc_id", "text")
      .repartition(buckets, col("term"))
  }

  /** [[writePostings]](append) with EXACTLY-ONCE semantics under
    * streaming re-delivery — the
    * [[graft.search.IVF.appendToIndexIdempotent]] contract on the
    * lexical family, with the bucketed twist: staged files carry
    * Spark's `_NNNNN` bucket suffix in their names, and
    * [[graft.streaming.ExactlyOnce.promote]] PRESERVES it as the
    * trailing `_<digits>` of the deterministic promoted name, so the
    * bucketed scan still reads each promoted file's bucket id off the
    * file name and `SelectedBucketsCount` pruning survives the
    * idempotent path byte for byte (BM25Spec pins it). The stage is a
    * per-batch EXTERNAL table (versioned name, like compactPostings'
    * per-version stage names) whose metadata is dropped after the
    * promote — the files have already moved. */
  private[graft] def writePostingsIdempotent(s: SparkSession, docs: DataFrame,
                                             tbl: String, batchId: Long): Unit = {
    import graft.streaming.ExactlyOnce
    val live0 = postingsLivePath(s, tbl)
    val ledger = Generations.ledger(live0)
    if (ExactlyOnce.isApplied(ledger, batchId)) return
    val debris = ExactlyOnce.stageDir(new java.io.File(live0), batchId)
    if (debris.isDirectory) {
      ExactlyOnce.scrub(new java.io.File(live0), batchId)
      graft.FileTree.delete(debris)
    }
    if (BM25.hasRevives(s, live0, docs.select(col("doc_id"))))
      compactPostings(s, tbl, live0)
    val live = postingsLivePath(s, tbl) // re-resolve: the revive flips
    val stage = ExactlyOnce.stageDir(new java.io.File(live), batchId)
    val stageTbl = s"${tbl}__bstage$batchId"
    s.sql(s"DROP TABLE IF EXISTS $stageTbl")
    // the stage MUST carry the live table's creation-time bucket
    // count — promoted files join the standing layout
    val buckets = bucketCountOf(s, tbl)
    bucketedPostingsFrame(s, docs, buckets)
      .write.mode("overwrite")
      .option("path", stage.getPath)
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(stageTbl)
    ExactlyOnce.promote(stage, new java.io.File(live), batchId)
    // drop the stage table's metadata (external — files already
    // promoted) BEFORE the marker: a crash after the commit would
    // leave metadata nothing ever cleans, because the re-delivery
    // returns at the isApplied probe (a crash before the commit
    // re-runs the whole body, whose leading DROP sweeps it)
    s.sql(s"DROP TABLE IF EXISTS $stageTbl")
    ExactlyOnce.commit(ledger, batchId)
    graft.FileTree.delete(stage)
    s.catalog.refreshTable(tbl)
  }

  /** BUCKET-PRUNED PIN on a postings generation — closes the
    * [[graft.lexical.BM25.postingsPinned]] trade-off (a raw path
    * read carries no bucket metadata, so the pinned serve scanned
    * the generation's full breadth): the pin CAPTURES the bucket
    * spec by registering the pinned generation path as an EXTERNAL
    * table with the same `CLUSTERED BY (term) INTO n BUCKETS` spec
    * the generation was written under. Metadata-only — the bytes
    * never move; the bucket id rides the part-file names the
    * bucketed write stamped, so the re-attached spec prunes exactly
    * the files the original table did. Readers serve through
    * [[graft.lexical.BM25.searchIndexedPinnedWith]] /
    * [[graft.lexical.BM25.searchIndexedMultiPinnedWith]] over
    * `spark.table(<returned name>)` and keep `SelectedBucketsCount`
    * pruning for the pin's duration (PlanSpec pins it). The pin
    * table is named for its generation, so repeated pins of the
    * same generation are idempotent; [[compactPostings]]' GC drops
    * pin tables whose generation has left the grace window (their
    * reads would fail loudly anyway — the files are gone). */
  private[graft] def pinPostingsTable(s: SparkSession, tbl: String,
                                      pinnedPath: String): String = {
    require(new java.io.File(pinnedPath).isDirectory,
      s"pinPostingsTable: generation at $pinnedPath has been GC'd — " +
        "a pin is valid for one maintenance cycle; re-resolve and retry")
    val gen = PipelineQueries.sanitizeTag(new java.io.File(pinnedPath).getName)
    val pinTbl = s"${tbl}__pin_$gen"
    // the pinned generation was written under the LIVE table's
    // creation-time bucket count (appends and compactions both carry
    // it), so the re-attached spec reads from the metastore too
    s.sql(s"""CREATE TABLE IF NOT EXISTS $pinTbl
      (doc BIGINT, len DOUBLE, term STRING, tf DOUBLE)
      USING parquet
      CLUSTERED BY (term) SORTED BY (term) INTO ${bucketCountOf(s, tbl)} BUCKETS
      LOCATION '$pinnedPath'""")
    s.catalog.refreshTable(pinTbl)
    pinTbl
  }

  /** COMPACTION of the bucketed postings table — the last quarter of
    * the BM25 maintenance lifecycle (build q20 → append q87 → stream
    * q102 → compact here), the lexical twin of
    * [[graft.search.IVF.compactIndex]]: every append lands one new
    * file per touched bucket, so a long-lived postings table
    * accumulates files-per-bucket and every term read pays the
    * open/seek tax. Stage a one-file-per-bucket rewrite under a
    * fresh external path WITH THE SAME bucketBy metadata (bucket
    * pruning and the exchange-free stats aggregate must survive the
    * rewrite), then swap via metastore renames: each RENAME is
    * atomic; a crash between them leaves the old table serving under
    * `__old` or the new one live — never a half-written table,
    * because the staged write completed before the first rename. The
    * superseded files stay on disk as the in-flight readers' grace
    * window (a reader's plan holds the file list it resolved; the
    * IVF generation-GC discipline applies if cycles repeat). Returns
    * the LIVE data path — callers MUST thread it into every
    * subsequent read, delete, and compaction of this table.
    *
    * `path` is the CURRENT live data path (the original build path,
    * or the path a previous compaction returned). The stage path is
    * derived from a VERSION COUNTER over the base path's sibling
    * generations (the IVF `nextVersion` discipline), never a fixed
    * suffix: with a fixed stage name, a second cycle handed the
    * ORIGINAL path would re-read the superseded generation's files —
    * dropping every append/delete that landed since — and overwrite
    * the live files in place under the metastore's feet. Generations
    * two or more cycles old are GC'd with their sidecars; the
    * immediately superseded path keeps both as the in-flight
    * readers' grace window. */
  private[graft] def compactPostings(s: SparkSession, tbl: String,
                                     path: String): String = {
    // the IVF.compactIndex in-flight-append guard: an uncommitted
    // idempotent-append stage under this path is a half-landed ingest
    // batch whose re-delivery would double whatever a rewrite folds
    graft.streaming.ExactlyOnce.sweepStages(new java.io.File(path),
      Generations.ledger(path), failOnInflight = true, s"compactPostings($tbl)")
    // claim (derive + fence, [[Generations.claim]]): two compactions
    // racing from the same listing derive the same v — the loser
    // fails loudly before any staged bytes or metastore DDL; a crashed
    // writer's marker burns one number, never wedges
    val gens = Generations.siblings(path)
    val v = Generations.claim(gens, s"compactPostings($tbl)")
    val stagePath = Generations.siblingPath(path, v)
    // the intermediate metastore names are VERSIONED with the fence:
    // un-versioned `tbl__stage`/`tbl__old` were a shared resource a
    // STAGGERED second writer (fenced at v+1) could DROP out from
    // under the first writer mid-write — the same-version race the
    // fence kills, resurfacing one resource over. Per-version names
    // make the two writers' DDL disjoint; the loser of the RENAME
    // race then fails loudly at the metastore (its `tbl` rename
    // target already moved), never silently
    val stage = s"${tbl}__stage$v"
    val old = s"${tbl}__old$v"
    // (a CRASHED writer's stage/old metadata may linger at ITS
    // version — harmless litter pointing at a dir the generation GC
    // collects; it is deliberately NOT swept here, because a sweep
    // cannot distinguish a dead writer's table from a slower LIVE
    // writer's, and dropping the latter is the stomp this versioning
    // exists to prevent. A read of a lingering name fails loudly.)
    s.sql(s"DROP TABLE IF EXISTS $stage")
    s.sql(s"DROP TABLE IF EXISTS $old")
    // read the FILES, not the table: the bucketed-table scan already
    // claims the bucket distribution, which lets the planner elide
    // the aligning repartition and write one file per (task, bucket)
    // instead of one per bucket; a plain parquet scan forces the real
    // exchange, and the bucket id is a pure function of term so the
    // re-hash re-derives exactly the same buckets
    //
    // the rewrite is sourced through the DELETE SIDECAR filter
    // (BM25.livePostings): compaction is deletion's phase 2 — it
    // reads every byte anyway, so physical removal rides it for
    // free, and the swapped-in generation (a fresh data path) starts
    // with a clean sidecar by construction. The superseded path
    // keeps its files AND its sidecar as the in-flight readers'
    // coherent grace window.
    // the rewrite carries the table's creation-time bucket count
    // (geometry is fixed at deployment; compaction moves bytes, not
    // layout — the generation-pin DDL depends on this invariance)
    val buckets = bucketCountOf(s, tbl)
    BM25.livePostings(s, path, s.read.parquet(path))
      .repartition(buckets, col("term"))
      .write.mode("overwrite")
      .option("path", stagePath)
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(stage)
    // ORDERED commit (the Generations.flip guard's metastore twin): if a
    // staggered newer writer already swapped the table while this one
    // was staging, committing would silently replace its generation
    // with ours — sourced from a now-superseded path, resurrecting
    // whatever the newer sidecar was hiding. Fail loudly instead; the
    // staged table/path are orphaned and GC'd. (Read-then-rename
    // window documented at Generations.flip; a metastore with
    // transactional DDL closes it exactly.)
    if (postingsLivePath(s, tbl) != path) {
      s.sql(s"DROP TABLE IF EXISTS $stage")
      throw new IllegalStateException(
        s"compactPostings($tbl): stale commit — the table moved to " +
          s"${postingsLivePath(s, tbl)} while this writer compacted " +
          s"$path; a newer maintenance writer committed during staging. " +
          "Re-run against the live path.")
    }
    s.sql(s"ALTER TABLE $tbl RENAME TO $old")
    s.sql(s"ALTER TABLE $stage RENAME TO $tbl")
    s.sql(s"DROP TABLE $old") // external: files remain as the grace window
    // GC generations two+ cycles old (with their sidecars); the
    // immediately superseded `path` keeps its files AND sidecar as
    // the in-flight readers' coherent grace window
    Generations.commit(gens, v, keep = Seq(stagePath, path)
      .map(new java.io.File(_).getName), s"compactPostings($tbl)")
    // drop pin tables whose generation left the grace window — their
    // files are gone, a read would fail loudly anyway; this is
    // metastore hygiene (metadata-only, external locations)
    s.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(tbl + "__pin_"))
      .foreach { pt =>
        val loc = scala.util.Try(postingsLivePath(s, pt)).toOption
        if (!loc.exists(l => new java.io.File(l).isDirectory))
          s.sql(s"DROP TABLE IF EXISTS $pt")
      }
    stagePath
  }

  /** THE POSTINGS COMPACTION LIFECYCLE under the oracle — q109's
    * discipline applied to the lexical index, closing the BM25
    * maintenance matrix (build → append → stream-ingest → compact):
    * build the bucketed table over the ≥100 slice, fragment it with
    * two delta appends (one new file per touched bucket each —
    * [[graft.lexical.BM25.bucketFileCounts]] reports it, the require
    * makes the trigger input part of the gate), compact into a
    * one-file-per-bucket rewrite swapped in by metastore renames,
    * require restoration AND that the bucket count carried over,
    * then serve the q20 search from the compacted table with stats
    * derived from it. The oracle is q20's whole-corpus SQL: the hash
    * match certifies compaction moved bytes, never content. */
  def q122Bm25Compact(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_compact_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25compact")
    graft.FileTree.delete(new java.io.File(path))
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    (0 until 2).foreach { b =>
      writePostings(s, d.filter(col("doc_id") < 100 && col("doc_id") % 2 === b),
        tbl, path, "append")
    }
    require(BM25.bucketFileCounts(path).values.max >= 2,
      "q122: appends must fragment the buckets")
    val live = compactPostings(s, tbl, path)
    require(BM25.bucketFileCounts(live).values.forall(_ == 1),
      "q122: compaction must restore one file per bucket")
    val post = s.table(tbl)
    BM25.searchIndexed(post, BM25.statsFromPostings(post), bm25Terms, 20)
      .orderBy("rank")
  }

  /** DELETION FROM THE BM25 POSTINGS — the lexical quarter of the
    * delete lifecycle (q144 tombstones the IVF/SQ8 lists, q145 the
    * graph): a bucketed table's files are immutable too, so deletion
    * is two-phase, and the tombstone set is a PERSISTED SIDECAR
    * ([[graft.lexical.BM25.deleteFromPostings]] — the IVF sidecar's
    * twin on the lexical index), not per-query plumbing: EVERY
    * sidecar-aware serve ([[graft.lexical.BM25.searchIndexed]]'s
    * path-taking overload — q20 and the hybrid q142's lexical leg go
    * through it) hides the docs from then on, with BOTH stats legs
    * derived from the filtered frame, so the tombstoned serve is
    * EXACTLY the from-scratch index over the corpus-without-them:
    * idf, avgdl, every score — which is why this family's delete,
    * unlike the graph's, is FULLY ORACLED (the SQL replays q20 over
    * the surviving documents). Phase 2 PHYSICAL: the deletion rides
    * [[compactPostings]]' staged rewrite (it reads every byte anyway
    * and now sources through the sidecar filter), swapped by
    * metastore renames; the fresh data path starts with a clean
    * sidecar by construction. Gates: sidecar count = request∩index
    * docs, a repeat delete counts zero, no deleted doc serves, the
    * compacted table drops exactly the deleted docs' posting rows,
    * and the post-compaction serve equals the tombstone-filtered
    * serve row for row — hide-now ≡ remove-later, q145's witness on
    * the lexical index. */
  /** DELETE-AWARE postings rebuild — the lexical twin of
    * [[graft.search.SQ.rebuildIndex]] / the delete-aware
    * [[graft.search.IVF.writeIndexFrom]]: a tokenizer or analyzer
    * upgrade re-derives every posting from the CORPUS TABLE, which
    * knows nothing about the deletes the live table is hiding — a
    * raw [[writePostings]] overwrite (CREATE semantics) would
    * resurrect every tombstoned doc through routine maintenance. The
    * standing sidecar is captured FIRST (materialized — the CREATE
    * clears the sidecar it lives in) and anti-joined out of the
    * rebuild input: forgotten stays forgotten across the upgrade,
    * and the fresh table legitimately starts clean. `livePath` is
    * the table's CURRENT data path ([[postingsLivePath]]). */
  private[graft] def rebuildPostings(s: SparkSession, docs: DataFrame,
                                     tbl: String, livePath: String): Unit = {
    // maintenance, not CREATE: refuse to fold a half-promoted ingest
    // batch, and PRESERVE the exactly-once ledger across the rebuild
    // (the SQ.rebuildIndex / Dedup.rebuildRegister discipline on the
    // lexical family)
    graft.streaming.ExactlyOnce.sweepStages(new java.io.File(livePath),
      Generations.ledger(livePath), failOnInflight = true, s"rebuildPostings($tbl)")
    val src = Tombstones.hide(s, Tombstones.beside(livePath), docs,
      on = Some("doc_id"), materialize = true)
    // maintenance CARRIES the creation-time bucket count (the
    // compaction/pin invariance): a rebuild that re-derived from the
    // new corpus mass could land a different count while a pinned
    // pre-rebuild generation still declares the old one — the pin's
    // DDL would then prune against the wrong physical hash
    writePostings(s, src, tbl, livePath, "overwrite", preserveLedger = true,
      bucketsOverride = Some(bucketCountOf(s, tbl)))
  }

  /** TOKENIZER-UPGRADE × PENDING-DELETES on the lexical index — the
    * last family cell of the upgrade-resurrection matrix (IVF q141,
    * SQ8 q121, graph q151's reroute anti-join; lexical: here): a
    * forget request lands in the live postings' sidecar, then an
    * analyzer upgrade re-tokenizes the WHOLE corpus (modeled as a
    * deterministic 'v2 '-prefix re-tokenization — genuinely new
    * postings: one extra token per doc shifts every length and df)
    * and rebuilds the table. [[rebuildPostings]] anti-joins the
    * standing sidecar out of the rebuild input, so the upgraded
    * table physically lacks the forgotten docs (gated in-query) and
    * starts with a clean sidecar. FULLY ORACLED: q20's replay under
    * the v2 tokenization over corpus ∖ deleted. */
  def q184Bm25Upgrade(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_upg_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25upg")
    Option(new java.io.File(path).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(new java.io.File(path).getName))
      .foreach(graft.FileTree.delete)
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcFull(s, dir), tbl, path)
    val del = d.filter(col("doc_id") % 11 === 4)
      .select(col("doc_id").as("doc")).localCheckpoint()
    require(BM25.deleteFromPostings(s, path, s.table(tbl), del) == del.count(),
      "q184: the forget request must land fully in the sidecar")
    // THE UPGRADE: re-tokenize from the corpus — the input knows
    // nothing about the sidecar; the delete-aware rebuild carries
    // the forget into the fresh table's content
    rebuildPostings(s,
      d.select(col("doc_id"), concat(lit("v2 "), col("text")).as("text")),
      tbl, path)
    require(!Tombstones.exists(Tombstones.beside(path)),
      "q184: the upgraded table must start with a clean sidecar")
    require(s.table(tbl).join(broadcast(del), Seq("doc"), "left_semi").isEmpty,
      "q184: the upgrade resurrected tombstoned docs")
    val post = s.table(tbl)
    BM25.searchIndexed(post, BM25.statsFromPostings(post), bm25Terms, 20)
      .orderBy("rank")
  }

  /** q20's replay under the v2 tokenization over corpus ∖ deleted:
    * the 'v2 ' prefix adds one token per doc (len + avgdl shift) and
    * the deleted docs drop out of every statistic. */
  val q184Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim('v2 ' || text)), '\s+') AS toks
         FROM documents WHERE doc_id % 11 <> 4),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  /** TOKENIZER UPGRADE UNDER LIVE INGEST — q187's composition on the
    * lexical family (q184 upgrades a QUIET index; production analyzer
    * swaps happen while the ingest stream keeps flowing): the base
    * corpus (doc_id ≥ 100) serves from v1-tokenized postings while
    * the < 100 slice drains in four ordered micro-batches. Batches
    * 0–1 tokenize with v1 and append; after batch 1 the UPGRADE
    * fires — [[rebuildPostings]] re-tokenizes everything ingested so
    * far (≥ 100 OR < 50) under the v2 analyzer (the deterministic
    * 'v2 '-prefix model: one extra token per doc shifts every length
    * and df) and rebuilds the live table, PRESERVING the exactly-once
    * ledger (the maintenance contract); batches 2–3 tokenize with v2
    * and append into the rebuilt table through the metastore-resolved
    * live path. Gate + oracle: the drained table equals a one-shot v2
    * build over the WHOLE corpus row for row, and the serve replays
    * q20 under v2 tokenization — the analyzer swap is
    * indistinguishable from having always run v2, without stopping
    * the stream. */
  def q191LexUpgradeUnderIngest(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_upgi_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25upgi")
    Option(new java.io.File(path).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bm25upgi"))
      .foreach(graft.FileTree.delete)
    val d = t(s, dir, "documents")
    def v2(df: DataFrame) = df.select(col("doc_id"),
      concat(lit("v2 "), col("text")).as("text"))
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    val stage = RetrievalQueries.q187Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val b = batch.localCheckpoint()
      writePostings(s, if (bid <= 1L) b else v2(b), tbl, path, "append")
      if (bid == 1L)
        rebuildPostings(s,
          v2(d.filter(col("doc_id") >= 100 || col("doc_id") < 50)),
          tbl, postingsLivePath(s, tbl))
    })
    val post = s.table(tbl)
    val full = BM25.postings(v2(d), "doc_id", "text")
    require(Gates.sameRows(post, full),
      "q191: upgrade-under-ingest must equal the one-shot v2 build " +
        "row for row — a v1 posting surviving the swap is a silent " +
        "mixed-analyzer index")
    BM25.searchIndexed(post, BM25.statsFromPostings(post), bm25Terms, 20)
      .orderBy("rank")
  }

  /** q20's replay under the v2 tokenization over the whole corpus —
    * the analyzer swap mid-drain left no v1 posting behind. */
  val q191Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim('v2 ' || text)), '\s+') AS toks
         FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  def q146Bm25Delete(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_delete_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25delete")
    graft.FileTree.delete(new java.io.File(path))
    graft.FileTree.delete(new java.io.File(path + "__compact"))
    Tombstones.clear(Tombstones.beside(path))
    Tombstones.clear(Tombstones.beside(path + "__compact"))
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcFull(s, dir), tbl, path)
    val del = d.filter(col("doc_id") % 9 === 4)
      .select(col("doc_id").as("doc")).localCheckpoint()
    val nDocs = del.count()
    val delRows = s.table(tbl)
      .join(broadcast(del), Seq("doc"), "left_semi").count()
    val before = s.table(tbl).count()
    // phase 1: the request lands in the persisted sidecar — O(request),
    // no posting file touched, idempotent across repeats
    require(BM25.deleteFromPostings(s, path, s.table(tbl), del) == nDocs,
      "q146: the sidecar must record exactly the request∩index docs")
    require(BM25.deleteFromPostings(s, path, s.table(tbl), del) == 0L,
      "q146: re-deleting tombstoned docs must count zero")
    require(s.table(tbl).count() == before,
      "q146: the tombstone phase must not touch posting bytes")
    // the DEFAULT serve hides from now on — same call shape q20 and
    // q142's lexical leg use; stats re-derive from the filtered frame
    def serve(livePath: String) = {
      val post = s.table(tbl)
      BM25.searchIndexed(s, livePath, post,
          BM25.statsFromPostings(post), bm25Terms, 20)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._2)
    }
    val hidden = serve(path)
    require(hidden.forall(_._1 % 9 != 4),
      "q146: a deleted doc surfaced in the sidecar-aware serve")
    // phase 2: physical removal rides the compaction rewrite; the
    // swapped-in generation has no sidecar
    val live = compactPostings(s, tbl, path)
    require(BM25.bucketFileCounts(live).values.forall(_ == 1),
      "q146: the delete rewrite must restore one file per bucket")
    require(!Tombstones.exists(Tombstones.beside(live)),
      "q146: the compacted generation must start with a clean sidecar")
    val post = s.table(tbl)
    require(post.count() == before - delRows,
      "q146: the compacted table must drop exactly the deleted docs' posting rows")
    require(post.join(broadcast(del), Seq("doc"), "left_semi").isEmpty,
      "q146: a deleted doc's postings survived the rewrite")
    // rounded 4-dp scores compared on rank-sorted tuples — the same
    // tolerance the cross-engine oracle compare applies
    val removed = serve(live)
    require(hidden == removed,
      "q146: sidecar-aware serving must equal physical removal row for row")
    // the gate collected the k-row answer — return it without a
    // second full scoring pass
    import s.implicits._
    removed.toDF("doc", "rank", "score").orderBy("rank")
  }

  /** q20's replay over the surviving documents: deletion must leave
    * the index indistinguishable from one never containing them —
    * stats included. */
  val q146Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
         FROM documents WHERE NOT (doc_id % 9 = 4)),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  private[graft] def bm25PostingsTable(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "bm25index") {
      val tbl = "bm25_postings_" + PipelineQueries.sanitizeTag(dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      writePostings(s, t(s, dir, "documents"), tbl,
        PipelineQueries.roundtripPath(dir, "bm25index"), "overwrite")
      tbl
    }

  private[graft] def bm25Postings(s: SparkSession, dir: String): DataFrame =
    s.table(bm25PostingsTable(s, dir))

  /** The shared postings table's data path — the key the delete
    * sidecar hangs off; every serve of the shared index passes it so
    * a standing delete set is honored by default. */
  private[graft] def bm25IndexPath(s: SparkSession, dir: String): String = {
    bm25PostingsTable(s, dir) // ensure the table (and path) exist
    PipelineQueries.roundtripPath(dir, "bm25index")
  }

  /** R3: BM25 top-20 for a fixed term query, served from the
    * memoized index (postings + corpus stats) through the
    * SIDECAR-AWARE path — a standing delete set would be hidden here
    * without the query changing (no sidecar → the memoized-stats
    * fast path, zero cost). */
  val bm25Terms = Seq("spark", "hash", "join")
  def q20Bm25(s: SparkSession, dir: String): DataFrame =
    BM25.searchIndexed(s, bm25IndexPath(s, dir), bm25Postings(s, dir),
        bm25Stats(s, dir), bm25Terms, 20)
      .orderBy("rank")

  val q20Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  /** DERIVED POSTINGS GEOMETRY AS A DIAL ROW (round 19 — the q194/
    * q195 discipline applied to the lexical family's last
    * fixture-pinned constant): the bucket count now derives from the
    * corpus's token mass ([[bm25BucketsFor]] — buckets =
    * max(8, ⌈tokens / target⌉), replayed by the oracle from the SAME
    * formula over SUM(len(tokens))), and this row builds the postings
    * index at the DERIVED count plus the half / double geometries and
    * serves q20's query from each. Gates: the three legs' top-20
    * answers are IDENTICAL (bucketing is physical layout — geometry
    * must never move a score) and every leg's term-filtered scan is
    * bucket-pruned (`SelectedBucketsCount` in the executed plan — the
    * PlanSpec pin re-asserted per geometry, in-query). FULLY ORACLED:
    * the SQL derives the same buckets column per leg and replays the
    * bucket-count-free scoring once. */
  def q199Bm25DerivedBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val derived = bm25BucketsFor(s, d)
    def leg(knob: String, buckets: Int): DataFrame = {
      val tbl = s"q199_${knob}_" + PipelineQueries.sanitizeTag(dir)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      writePostings(s, d, tbl,
        PipelineQueries.roundtripPath(dir, s"q199_$knob"), "overwrite",
        bucketsOverride = Some(buckets))
      require(bucketCountOf(s, tbl) == buckets,
        s"q199: the $knob leg's table must carry $buckets buckets")
      val post = s.table(tbl)
      val serve = BM25.searchIndexed(post, BM25.statsFromPostings(post),
        bm25Terms, 20)
      // the SERVE plan is the pruning witness (a bare term filter gets
      // its bucketed scan elided by DisableUnnecessaryBucketedScan;
      // the scoring query's term-keyed aggregate keeps it — the exact
      // shape PlanSpec pins on q20, re-asserted here per geometry)
      val plan = serve.queryExecution.executedPlan.toString
      require(plan.contains("SelectedBucketsCount"),
        s"q199: the $knob leg's term scan must be bucket-pruned:\n$plan")
      // ≤20-row leg consumed TWICE (the cross-leg equality gate below
      // and the declared union) — materialize it once so the second
      // consumer reads k rows instead of re-running the whole
      // bucket-pruned serve (the round's O7 discipline; the pruning
      // witness above already planned the live serve)
      serve.select(lit(knob).as("knob"), lit(buckets.toLong).as("buckets"),
        col("doc"), col("rank"), col("score"))
        .localCheckpoint()
    }
    val legs = Seq(
      leg("derived", derived),
      leg("half", math.max(1, derived / 2)),
      leg("double", derived * 2))
    // layout must never move a score: the three legs answer
    // identically, gated loudly here and hash-matched by the oracle.
    // (Tolerance note: per-doc sums are over <= |terms| = 3 doubles;
    // cross-leg partial-order variation is bounded by ulps and the
    // compared scores are 4-dp ROUNDED — the exact tolerance the
    // whole q20-family cross-engine oracle has ridden since round 2.)
    val answers = legs.map(_.select(col("doc"), col("rank"), col("score"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2))
    require(answers.distinct.size == 1,
      "q199: bucket geometry moved a BM25 answer across legs")
    legs.reduce(_ unionByName _).orderBy("knob", "rank")
  }

  /** q199's replay: the bucket derivation from token mass (the exact
    * [[bm25BucketsFor]] arithmetic) joined onto q20's
    * bucket-count-free scoring — one score set, three labeled
    * geometries. */
  val q199Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       tok AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS tokens FROM d),
       b AS (SELECT GREATEST(8, CAST(CEIL(tokens / $bm25BucketTargetRows.0) AS BIGINT)) AS derived FROM tok),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc),
       legs AS (SELECT 'derived' AS knob, derived AS buckets FROM b
                UNION ALL SELECT 'half' AS knob, GREATEST(1, derived // 2) AS buckets FROM b
                UNION ALL SELECT 'double' AS knob, derived * 2 AS buckets FROM b)
       SELECT knob, buckets, doc, rank, score FROM legs, r
       WHERE rank <= 20 ORDER BY knob, rank"""

  /** MULTI-QUERY BM25 SERVING from the shared at-rest postings —
    * [[graft.lexical.BM25.searchIndexedMulti]]: ONE bucket-pruned
    * postings scan feeds one `graft_topk_bm25` aggregate that scores
    * all three term-sets (per-term idf computed once and shared) and
    * keeps each query's top-k in a bounded heap — no df pass, no
    * routing join, no exchange on qid. The lexical row of the multi-query
    * serving matrix (q134 IVF, q135 SQ8, graph multi — this was the
    * gap); PlanSpec pins the one-scan contract. Oracle: per-qid BM25
    * replay over a VALUES routing table. */
  def q149Bm25Multi(s: SparkSession, dir: String): DataFrame =
    BM25.searchIndexedMulti(s, bm25IndexPath(s, dir), bm25Postings(s, dir),
        bm25Stats(s, dir), RetrievalQueries.bm25MultiQueries, 10)
      .orderBy("qid", "rank")

  // LAZY and sourced from RetrievalQueries (the q-catalog layering
  // rule): an eager val would force RetrievalQueries.<clinit> from
  // inside Queries.<clinit> — and RetrievalQueries' own map build
  // reads this catalog's state
  lazy val q149Sql: String = {
    val qtVals = RetrievalQueries.bm25MultiQueries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val union = RetrievalQueries.bm25MultiQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH qt AS (SELECT CAST(qid AS BIGINT) AS qid, term
           FROM (VALUES $qtVals) t(qid, term)),
       d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ($union) GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT qt.qid, tf.doc_id,
                SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term) JOIN qt USING (term), corpus
              GROUP BY qt.qid, tf.doc_id),
       r AS (SELECT qid, doc_id AS doc,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
               ROUND(score, 4) AS score FROM sc)
       SELECT qid, doc, rank, score FROM r WHERE rank <= 10 ORDER BY qid, rank"""
  }

  /** R3 incremental maintenance under the oracle gate (the BM25 twin
    * of q84's IVF append): build the term-bucketed postings table
    * over the BASE corpus slice (doc_id >= 100), APPEND the delta
    * batch's postings (doc_id < 100), derive (N, avgdl) FROM the
    * grown table ([[BM25.statsFromPostings]]) and search it. The
    * oracle is q20's full-corpus SQL, so the hash match pins
    * append-then-derive ≡ full rebuild: postings are per-doc rows
    * (appending docs never rewrites existing rows), df/idf and the
    * corpus scalars are recomputed at query time from the table, and
    * the appended files land in the same term buckets so pruning is
    * unchanged. */
  def q87Bm25Append(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_append_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25append")
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    writePostings(s, d.filter(col("doc_id") < 100), tbl, path, "append")
    val post = s.table(tbl)
    BM25.searchIndexed(post, BM25.statsFromPostings(post), bm25Terms, 20)
      .orderBy("rank")
  }

  /** STREAMING INGEST INTO THE BM25 INDEX — q87's append discipline
    * under a live micro-batch drain (the q99 shape applied to the
    * lexical index, closing the streaming row of the maintenance
    * matrix: IVF q84/q96, graph q97/q99, BM25 q87/here). The delta
    * slice (doc_id < 100) is staged as four range-split files with
    * ascending mtimes, so the AvailableNow file source
    * (maxFilesPerTrigger=1) drains it as four ordered micro-batches;
    * each batch's postings APPEND into the term-bucketed at-rest
    * table inside `foreachBatch`. Postings are per-doc rows and the
    * buckets are append-stable, so the drained table must equal the
    * one-shot full build row for row — the require() pins that, and
    * unlike the graph twin this lifecycle ALSO carries the full
    * DuckDB oracle: the post-drain search hash-matches q20's
    * whole-corpus SQL. */
  /** q102's staged delta: the doc_id < 100 slice as four range-split
    * files with ascending mtimes so the file source drains them as
    * four ordered micro-batches (the q99 staging recipe). */
  private[graft] def q102Stage(s: SparkSession, dir: String): String =
    Memo.cachedValue(s, dir, "q102_stage") {
      PipelineQueries.stageOrderedFiles(
        t(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", 4,
        PipelineQueries.roundtripPath(dir, "q102_stream"))
    }

  def q102StreamBm25(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_stream_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25stream")
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    val stage = q102Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, _) =>
      writePostings(s, batch, tbl, path, "append"))
    val post = s.table(tbl)
    val rebuilt = bm25Postings(s, dir)
    require(Gates.sameRows(post, rebuilt),
      "q102: the streamed-in postings table must equal the full build row for row")
    BM25.searchIndexed(post, BM25.statsFromPostings(post), bm25Terms, 20)
      .orderBy("rank")
  }

  /** EXACTLY-ONCE LEXICAL INGEST — q185's at-least-once drain on the
    * term-bucketed postings table: every micro-batch is delivered
    * TWICE through [[writePostingsIdempotent]] (the raw append would
    * double every tf — BM25 scores would silently inflate, the
    * quietest corruption in the engine because nothing crashes),
    * batch 1 starts over a "crashed" attempt's stage-dir debris
    * (recovery-scrub path) and batch 2's re-delivery arrives with its
    * ledger marker deleted (crash-after-promote path; the promoted
    * names keep the `_NNNNN` bucket suffix, so the replayed files
    * still prune — ExactlyOnceSpec pins the plan). Gates: all four
    * batches committed (checked per batch, post-re-delivery), no
    * debris, the post-drain ledger RETIRED by the durable
    * checkpoint's watermark sweep (the q193 discipline — round 18),
    * and the drained table equals the one-shot full build row for
    * row. Oracle: q20's whole-corpus SQL — exactly-once under
    * failures is indistinguishable from never having failed. */
  def q186LexExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_eo_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25eo")
    val ckpt = PipelineQueries.roundtripPath(dir, "bm25eo_ckpt")
    graft.FileTree.delete(new java.io.File(ckpt))
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    val stage = q102Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    graft.streaming.Streaming.runForeachBatchResumable(s, src, ckpt, (batch, bid) => {
      val b = batch.localCheckpoint()
      if (bid == 1L) // a "crashed" earlier attempt left its stage dir
        graft.streaming.ExactlyOnce.stageDir(
          new java.io.File(postingsLivePath(s, tbl)), bid).mkdirs()
      writePostingsIdempotent(s, b, tbl, bid)
      if (bid == 2L) { // crash AFTER the promote, BEFORE the marker
        val m = new java.io.File(
          Generations.ledger(postingsLivePath(s, tbl)), s"b$bid")
        require(m.delete(), s"q186: batch $bid must have committed a marker")
      }
      writePostingsIdempotent(s, b, tbl, bid) // the re-delivery
      require(graft.streaming.ExactlyOnce.isApplied(
          Generations.ledger(postingsLivePath(s, tbl)), bid),
        s"q186: batch $bid must end committed in the ledger")
    }, sweepLedgers = Seq(Generations.ledger(postingsLivePath(s, tbl))))
    val live = postingsLivePath(s, tbl)
    // ledger RETIREMENT (round 18): the watermark sweep retired every
    // committed marker; the row-for-row gate below proves it
    // re-applied nothing
    val q186Markers = Option(Generations.ledger(live).listFiles())
      .toSeq.flatten.map(_.getName)
    require(q186Markers.isEmpty,
      s"q186: the post-drain sweep must retire every marker, got $q186Markers")
    (0L until 4L).foreach { bid =>
      require(!graft.streaming.ExactlyOnce.stageDir(
          new java.io.File(live), bid).exists(),
        s"q186: batch $bid must leave no stage debris")
    }
    val post = s.table(tbl)
    val rebuilt = bm25Postings(s, dir)
    require(Gates.sameRows(post, rebuilt),
      "q186: the exactly-once drain must equal the full build row for " +
        "row — a doubled tf is a silent score inflation")
    BM25.searchIndexed(post, BM25.statsFromPostings(post), bm25Terms, 20)
      .orderBy("rank")
  }

  /** DELETION UNDER LIVE LEXICAL INGEST — q147's composition on the
    * BM25 index, and unlike the vector twin FULLY ORACLED (every leg
    * of this family is SQL-replayable): q102's drain (base postings
    * over doc_id ≥ 100, the < 100 slice as four ordered micro-batches
    * appending through [[writePostings]]), with a delete request
    * (base docs ≡ 4 mod 9 — ingested BEFORE the stream started)
    * landing through [[graft.lexical.BM25.deleteFromPostings]] after
    * batch 1 commits, and batches 2–3 appending AFTER it. In-query
    * gates are request-sized: the mid-drain delete records exactly
    * request∩index in the sidecar, a repeat counts zero, and the
    * at-rest posting files stand untouched around it (full
    * file-listing snapshot — hide cost is O(request) mid-ingest).
    * The declared output is the post-drain SIDECAR-AWARE serve, and
    * the oracle replays q20 over the surviving corpus: the stream
    * and the delete composed — idf, avgdl, every score as if the
    * deleted docs were never ingested and the post-delete batches
    * always had been. The appended ids are disjoint from the
    * request, so no batch trips [[writePostings]]' revive
    * compaction. */
  def q148StreamBm25Delete(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_sdelete_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25sdelete")
    graft.FileTree.delete(new java.io.File(path))
    Tombstones.clear(Tombstones.beside(path))
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    val stage = q102Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val del = d.filter(col("doc_id") >= 100 && col("doc_id") % 9 === 4)
      .select(col("doc_id").as("doc"))
    val nReq = Memo.cachedCount(s, dir, "q148_ndel")(del.count())
    def fileSnap(): Map[String, (Long, Long)] =
      Option(new java.io.File(path).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => f.getName -> (f.length(), f.lastModified()))
        .toMap
    var nDel = -1L; var nRepeat = -1L
    var filesTouched = true
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      writePostings(s, batch, tbl, path, "append")
      if (bid == 1L) {
        val snapBefore = fileSnap()
        nDel = BM25.deleteFromPostings(s, path, s.table(tbl), del)
        nRepeat = BM25.deleteFromPostings(s, path, s.table(tbl), del)
        filesTouched = fileSnap() != snapBefore
      }
    })
    require(nDel == nReq,
      s"q148: the mid-drain delete hid $nDel of a $nReq-doc request")
    require(nRepeat == 0L, "q148: a repeated mid-drain delete must count zero")
    require(!filesTouched,
      "q148: the mid-drain delete must not touch a posting file")
    // the growth valve tracks the standing sidecar (the q147 gate on
    // the lexical index)
    require(BM25.needsCompact(s, path, nReq - 1) &&
        !BM25.needsCompact(s, path, nReq),
      "q148: needsCompact must track the standing sidecar exactly")
    val post = s.table(tbl)
    BM25.searchIndexed(s, path, post, BM25.statsFromPostings(post),
        bm25Terms, 20)
      .orderBy("rank")
  }

  /** THE LEXICAL MAINTENANCE LOOP CLOSED UNDER LIVE INGEST — q158's
    * valve discipline on the postings table, FULLY ORACLED like
    * every BM25 leg: each micro-batch polls [[graft.lexical.BM25
    * .needsCompact]] against the CURRENT live generation after its
    * append (ingest and maintenance in one serial loop), q148's
    * mid-drain delete pushes the sidecar over the threshold, the
    * poll fires INSIDE the drain, and [[compactPostings]] runs
    * between micro-batches — metastore-rename generation flip,
    * physical removal riding the rewrite, clean-sidecar `__genN`
    * path — with the remaining batches appending into the FLIPPED
    * generation ([[writePostings]] resolves the live location
    * through the metastore, so post-flip appends land there by
    * construction). Gates: the valve fires exactly once (silent
    * before the delete, fired by it, quenched by the fresh
    * generation), the drain finishes in the generation the flip
    * committed, the superseded generation's files are FROZEN from
    * the flip onward (the in-flight readers' grace window — its
    * full file snapshot stands through the remaining batches), the
    * flipped generation ends the drain with no sidecar, and the
    * compaction's one-file-per-bucket restoration degrades only by
    * the post-flip appends (≤ one new file per touched bucket per
    * batch). The oracle is q148's replay verbatim: valve-compacted
    * mid-drain and hide-only must serve identically — stream,
    * deletion, and compaction composed under one hash. */
  def q159StreamBm25Valve(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_valve_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25valve")
    graft.FileTree.delete(new java.io.File(path))
    Tombstones.clear(Tombstones.beside(path))
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    val stage = q102Stage(s, dir)
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val del = d.filter(col("doc_id") >= 100 && col("doc_id") % 9 === 4)
      .select(col("doc_id").as("doc"))
    val nReq = Memo.cachedCount(s, dir, "q159_ndel")(del.count())
    def fileSnap(p: String): Map[String, (Long, Long)] =
      Option(new java.io.File(p).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => f.getName -> (f.length(), f.lastModified()))
        .toMap
    var fired = List.empty[Long]
    var liveAtFlip: String = null
    var frozen: String = null
    var frozenSnap: Map[String, (Long, Long)] = null
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      writePostings(s, batch, tbl, path, "append")
      if (bid == 1L)
        require(BM25.deleteFromPostings(s, postingsLivePath(s, tbl),
            s.table(tbl), del) == nReq,
          "q159: the mid-drain delete must hide exactly the request")
      // the maintenance poll — every batch, against the live generation
      val lp = postingsLivePath(s, tbl)
      if (BM25.needsCompact(s, lp, nReq - 1)) {
        fired ::= bid
        frozen = lp
        liveAtFlip = compactPostings(s, tbl, lp)
        frozenSnap = fileSnap(frozen)
      }
    })
    require(fired == List(1L),
      s"q159: the valve must fire exactly once, at the delete's batch " +
        s"(fired at ${fired.reverse.mkString(",")})")
    val lp = postingsLivePath(s, tbl)
    require(lp == liveAtFlip,
      "q159: the drain must finish inside the mid-drain-flipped generation")
    require(fileSnap(frozen) == frozenSnap,
      "q159: post-flip appends must never leak into the superseded generation")
    require(!Tombstones.exists(Tombstones.beside(lp)),
      "q159: the flipped generation must end the drain with a clean sidecar")
    // two post-flip batches, each ≤ one new file per touched bucket
    // on top of the compaction's one-per-bucket restoration
    require(BM25.bucketFileCounts(lp).values.forall(_ <= 3),
      "q159: post-flip fragmentation must be bounded by the remaining batches")
    val post = s.table(tbl)
    BM25.searchIndexed(s, lp, post, BM25.statsFromPostings(post),
        bm25Terms, 20)
      .orderBy("rank")
  }

  /** CDC FEED + UPSERT/REVIVE ON THE LEXICAL FAMILY — q160's
    * op-tagged feed and q161's revive batch composed on the postings
    * table, and unlike both IVF twins FULLY ORACLED (every leg of the
    * BM25 lifecycle is SQL-replayable). One ordered I/D stream drains
    * as five micro-batches onto the live bucketed table: inserts
    * through [[writePostings]] (whose [[graft.lexical.BM25
    * .hasRevives]] probe runs per batch), deletes through
    * [[graft.lexical.BM25.deleteFromPostings]], the [[graft.lexical
    * .BM25.needsCompact]] valve polled after every batch against the
    * CURRENT live generation. The feed: insert half the delta /
    * delete base docs (UNDER the valve threshold — the hide stands) /
    * insert the other half / RE-INGEST a subset of the deleted docs
    * (the revive batch: the probe fires and [[writePostings]] runs
    * the deferred [[compactPostings]] FIRST — metastore-rename flip
    * 1 — then appends the new postings as the docs' only rows) /
    * delete STREAMED-IN docs (a second, larger request that pushes
    * the fresh sidecar OVER the valve — flip 2 fires inside the
    * drain). Gates: each delete batch hides exactly its request, the
    * generation flips at exactly the revive and valve batches (live
    * path tracked per batch), the valve fires exactly once, each
    * revived doc's postings equal a fresh tokenize of exactly its
    * text (request-sized exceptAll both ways), the final generation
    * is sidecarless, and distinct at-rest docs = all − deleted +
    * revived − second-delete. Oracle: q20's replay over
    * base + inserts − stay-deleted − second-delete — a revived doc is
    * indistinguishable from one never deleted, idf and avgdl
    * included. */
  def q164LexCdcRevive(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_cdc_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25cdc")
    graft.FileTree.delete(new java.io.File(path))
    Tombstones.clear(Tombstones.beside(path))
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcB100(s, dir), tbl, path)
    // del1 is bounded by an ABSOLUTE id window: the request must stay
    // request-sized as the corpus scales (a corpus-proportional del1
    // would outgrow del2's fixed feed slice and flip the valve
    // relation — the 30x probe caught exactly that)
    val del1Pred = col("doc_id") >= 100 && col("doc_id") < 300 &&
      col("doc_id") % 9 === 4 && col("doc_id") % 2 === 0
    val revPred = del1Pred && col("doc_id") % 4 === 0
    val del2Pred = col("doc_id") < 100 && col("doc_id") % 3 === 0
    val stage = Memo.cachedValue(s, dir, "q164_stage") {
      RetrievalQueries.stageFeedSlices(Seq(
        d.filter(col("doc_id") < 100 && col("doc_id") % 2 === 0)
          .select(lit("I").as("op"), col("doc_id"), col("text")),
        d.filter(del1Pred).select(lit("D").as("op"), col("doc_id"), col("text")),
        d.filter(col("doc_id") < 100 && col("doc_id") % 2 === 1)
          .select(lit("I").as("op"), col("doc_id"), col("text")),
        d.filter(revPred).select(lit("I").as("op"), col("doc_id"), col("text")),
        d.filter(del2Pred).select(lit("D").as("op"), col("doc_id"), col("text"))),
        PipelineQueries.roundtripPath(dir, "q164_feed"))
    }
    val nDel1 = Memo.cachedCount(s, dir, "q164_nd1")(d.filter(del1Pred).count())
    val nRev = Memo.cachedCount(s, dir, "q164_nrev")(d.filter(revPred).count())
    val nDel2 = Memo.cachedCount(s, dir, "q164_nd2")(d.filter(del2Pred).count())
    require(nRev > 0 && nRev < nDel1,
      "q164 needs a proper revive subset of the first delete request")
    require(nDel2 > nDel1,
      "q164 needs the second request over the valve the first stays under")
    val valve = nDel1 // first delete sits AT the threshold: silent
    val schema = s.read.parquet(stage).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    var applied = Map.empty[Long, Long]
    var fired = List.empty[Long]
    var gens = List.empty[(Long, String)]
    graft.streaming.Streaming.runForeachBatch(s, src, (batch, bid) => {
      val ins = batch.filter(col("op") === "I").select(col("doc_id"), col("text"))
      if (!ins.isEmpty) writePostings(s, ins, tbl, path, "append")
      val del = batch.filter(col("op") === "D")
        .select(col("doc_id").as("doc"))
      if (!del.isEmpty)
        applied += bid ->
          BM25.deleteFromPostings(s, postingsLivePath(s, tbl), s.table(tbl), del)
      // the maintenance poll — every batch, against the live generation
      val lp = postingsLivePath(s, tbl)
      if (BM25.needsCompact(s, lp, valve)) {
        fired ::= bid
        compactPostings(s, tbl, lp)
      }
      gens ::= bid -> postingsLivePath(s, tbl)
    })
    require(applied == Map(1L -> nDel1, 4L -> nDel2),
      s"q164: each delete batch must hide exactly its request (got $applied)")
    require(fired == List(4L),
      s"q164: the valve must fire exactly once, at the second delete " +
        s"(fired at ${fired.reverse.mkString(",")})")
    val byBatch = gens.reverse.toMap
    require(byBatch(0L) == byBatch(1L) && byBatch(1L) == byBatch(2L),
      "q164: no flip may land before the revive batch")
    require(byBatch(2L) != byBatch(3L),
      "q164: the revive batch must run the deferred compaction (flip 1)")
    require(byBatch(3L) != byBatch(4L),
      "q164: the valve batch must commit a second generation (flip 2)")
    val lp = postingsLivePath(s, tbl)
    require(!Tombstones.exists(Tombstones.beside(lp)),
      "q164: the final generation must be sidecarless")
    // each revived doc's postings are exactly a fresh tokenize of its
    // text — request-sized frames on both sides
    val revDocs = d.filter(revPred)
    val gotRev = s.table(tbl)
      .join(broadcast(revDocs.select(col("doc_id").as("doc"))), Seq("doc"),
        "left_semi")
    val wantRev = BM25.postings(revDocs, "doc_id", "text")
    require(Gates.sameRows(gotRev, wantRev),
      "q164: a revived doc must carry ONLY its re-ingested postings")
    val nAll = Memo.cachedCount(s, dir, "docs_n")(d.count())
    require(s.table(tbl).select(col("doc")).distinct().count()
        == nAll - nDel1 + nRev - nDel2,
      "q164: at-rest doc mass must be all minus deleted plus revived minus CDC-deleted")
    val post = s.table(tbl)
    BM25.searchIndexed(s, lp, post, BM25.statsFromPostings(post),
        bm25Terms, 20)
      .orderBy("rank")
  }

  /** q20's replay over base + inserts − stay-deleted − CDC-deleted:
    * the revived docs are indistinguishable from never-deleted ones —
    * idf, avgdl, every score. */
  val q164Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
         FROM documents
         WHERE NOT (doc_id >= 100 AND doc_id < 300 AND doc_id % 9 = 4
                    AND doc_id % 2 = 0 AND doc_id % 4 <> 0)
           AND NOT (doc_id < 100 AND doc_id % 3 = 0)),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  /** PINNED LEXICAL SERVING ACROSS A CONCURRENT COMPACTION — the
    * declared row for [[graft.lexical.BM25.searchIndexedPinned]]
    * (q142 declares the vector leg's pin; this is the lexical
    * parity): a long-running reader resolves the postings
    * generation ONCE ([[postingsLivePath]]), a maintenance
    * compaction flips the metastore to a fresh `__genN` path UNDER
    * the standing pin, and the reader keeps serving from the
    * superseded generation — its files and path-keyed sidecar are
    * the grace window — answering EXACTLY what the flipped
    * generation answers (compaction moves bytes, never content).
    * Gates: the flip really happened (live path differs from the
    * pin), the pinned serve equals the post-flip metastore serve row
    * for row, and the pinned read scans the pinned files (no silent
    * re-resolution). Oracle: q20's scoring over the doc_id < 200
    * slice — one SQL certifies the pinned snapshot, the flip, and
    * the fresh generation all serve the same truth. */
  def q171LexPinnedRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = "bm25_pin_" + PipelineQueries.sanitizeTag(dir)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = PipelineQueries.roundtripPath(dir, "bm25pin")
    Option(new java.io.File(path).getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bm25pin"))
      .foreach(graft.FileTree.delete)
    val d = t(s, dir, "documents")
    clonePostingsTo(s, postingsSrcLt200(s, dir), tbl, path)
    // the reader's pin: ONE metastore resolve, then never again
    val pin = postingsLivePath(s, tbl)
    // maintenance flips the generation under the standing pin
    val live = compactPostings(s, tbl, pin)
    require(live != pin,
      "q171: the compaction must flip to a fresh generation")
    require(postingsLivePath(s, tbl) == live,
      "q171: the metastore must resolve to the flipped generation")
    val pinned = BM25.searchIndexedPinned(s, pin, bm25Terms, 20)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    val post = s.table(tbl)
    val current = BM25.searchIndexed(s, live, post,
        BM25.statsFromPostings(post), bm25Terms, 20)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._2)
    require(pinned == current,
      "q171: the pinned snapshot must serve exactly the flipped generation's answers")
    import s.implicits._
    pinned.toDF("doc", "rank", "score").orderBy("rank")
  }

  /** q20's scoring over the doc_id < 200 slice: pin, flip, and fresh
    * generation must all serve this one truth. */
  val q171Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
         FROM documents WHERE doc_id < 200),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  /** q20's replay over the corpus minus the mid-drain delete: the
    * streamed index must be indistinguishable from one that never
    * held the deleted base docs — stats included. */
  val q148Sql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
         FROM documents WHERE NOT (doc_id >= 100 AND doc_id % 9 = 4)),
       corpus AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
       post AS (SELECT doc_id, len(toks) AS len, UNNEST(toks) AS term FROM d),
       tf AS (SELECT doc_id, len, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM post
              WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, len, term),
       stats AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
       idf AS (SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf FROM stats, corpus),
       sc AS (SELECT doc_id, SUM(idf * tf * 2.5 / (tf + 1.5 * (1.0 - 0.75 + 0.75 * len / avgdl))) AS score
              FROM tf JOIN idf USING (term), corpus GROUP BY doc_id),
       r AS (SELECT doc_id AS doc, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                    ROUND(score, 4) AS score FROM sc)
       SELECT doc, rank, score FROM r WHERE rank <= 20 ORDER BY rank"""

  /** Corpus-wide term frequencies, top 20 — explode + aggregate. */
  def q21TopTerms(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(BM25.tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(20)

  val q21Sql: String =
    """SELECT term, COUNT(*) AS n
       FROM (SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents)
       GROUP BY term ORDER BY n DESC, term LIMIT 20"""

  // ---------- catalog ----------

  // a DEF, not a val: Queries aggregates the per-catalog builds maps,
  // and the catalog objects reference Queries during THEIR init (the
  // q-catalog layering rule) — an eager val here would read a
  // mid-initialization catalog's builds as null
  def builds: Map[String, (SparkSession, String) => Unit] = Map(
    "_build_bm25_index" -> ((s: SparkSession, dir: String) => {
      bm25PostingsTable(s, dir); bm25Stats(s, dir).count(); ()
    }),
    "_build_postings_src" -> ((s: SparkSession, dir: String) => {
      postingsSrcB100(s, dir); postingsSrcFull(s, dir)
      postingsSrcLt200(s, dir); ()
    })) ++
    CurationQueries.builds ++ RetrievalQueries.builds ++
    PipelineQueries.builds ++ ScaleQueries.builds ++ PrepQueries.builds

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_revenue_by_brand" -> (q02RevenueByBrand _),
    "q03_orders_by_nation" -> (q03OrdersByNation _),
    "q04_top_orders_per_cust" -> (q04TopOrdersPerCust _),
    "q05_events_json" -> (q05EventsJson _),
    "q06_events_hourly" -> (q06EventsHourly _),
    "q08b_customers_no_orders" -> (q08bCustomersNoOrders _),
    "q08c_active_suppliers" -> (q08cActiveSuppliers _),
    "q10_knn_exact" -> (q10KnnExact _),
    "q11_knn_multi" -> (q11KnnMulti _),
    "q12_normalize" -> (q12Normalize _),
    "q13_random_projection" -> (q13RandomProjection _),
    "q14_noise_perturb" -> (q14NoisePerturb _),
    "q15_dp_search" -> (q15DpSearch _),
    "q20_bm25" -> (q20Bm25 _),
    "q199_bm25_derived_buckets" -> (q199Bm25DerivedBuckets _),
    "q21_top_terms" -> (q21TopTerms _),
    "q70_pivot" -> (q70Pivot _),
    "q87_bm25_append" -> (q87Bm25Append _),
    "q122_bm25_compact" -> (q122Bm25Compact _),
    "q146_bm25_delete" -> (q146Bm25Delete _),
    "q184_bm25_upgrade" -> (q184Bm25Upgrade _),
    "q102_stream_bm25" -> (q102StreamBm25 _),
    "q186_lex_exactly_once" -> (q186LexExactlyOnce _),
    "q191_lex_upgrade_under_ingest" -> (q191LexUpgradeUnderIngest _),
    "q148_stream_bm25_delete" -> (q148StreamBm25Delete _),
    "q159_stream_bm25_valve" -> (q159StreamBm25Valve _),
    "q164_lex_cdc_revive" -> (q164LexCdcRevive _),
    "q171_lex_pinned_read" -> (q171LexPinnedRead _),
    "q149_bm25_multi" -> (q149Bm25Multi _)) ++
    CurationQueries.all ++ RetrievalQueries.all ++ PipelineQueries.all ++
    ScaleQueries.all ++ PrepQueries.all

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_revenue_by_brand" -> q02Sql,
    "q03_orders_by_nation" -> q03Sql,
    "q04_top_orders_per_cust" -> q04Sql,
    "q05_events_json" -> q05Sql,
    "q06_events_hourly" -> q06Sql,
    "q08b_customers_no_orders" -> q08bSql,
    "q08c_active_suppliers" -> q08cSql,
    "q10_knn_exact" -> q10Sql,
    "q11_knn_multi" -> q11Sql,
    "q12_normalize" -> q12Sql,
    "q13_random_projection" -> q13Sql,
    "q14_noise_perturb" -> q14Sql,
    "q15_dp_search" -> q15Sql,
    "q20_bm25" -> q20Sql,
    "q199_bm25_derived_buckets" -> q199Sql,
    "q21_top_terms" -> q21Sql,
    "q70_pivot" -> q70Sql,
    "q87_bm25_append" -> q20Sql,
    "q122_bm25_compact" -> q20Sql,
    "q146_bm25_delete" -> q146Sql,
    "q184_bm25_upgrade" -> q184Sql,
    "q102_stream_bm25" -> q20Sql,
    "q186_lex_exactly_once" -> q20Sql,
    "q191_lex_upgrade_under_ingest" -> q191Sql,
    "q148_stream_bm25_delete" -> q148Sql,
    "q159_stream_bm25_valve" -> q148Sql,
    "q164_lex_cdc_revive" -> q164Sql,
    "q171_lex_pinned_read" -> q171Sql,
    "q149_bm25_multi" -> q149Sql) ++
    CurationQueries.oracle ++ RetrievalQueries.oracle ++ PipelineQueries.oracle ++
    ScaleQueries.oracle ++ PrepQueries.oracle
}
