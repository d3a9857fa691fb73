package graft

import graft.lexical.BM25
import org.apache.spark.sql.functions._

/** R3 BM25 relational scoring. */
class BM25Spec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark engine spark"),      // tf(spark)=2, len 3
    (2L, "spark joins data"),        // tf(spark)=1, len 3
    (3L, "python pandas numpy"),     // no hit
    (4L, "engine room")              // tf(engine)=1, len 2
  ).toDF("doc_id", "text")

  test("matches hand-computed Okapi scores, ranked desc") {
    val got = BM25.search(docs, "doc_id", "text", Seq("spark"), 10)
      .orderBy("rank").select("doc", "score").as[(Long, Double)].collect().toSeq

    val n = 4.0; val dfT = 2.0; val avgdl = 11.0 / 4
    val idf = math.log(1 + (n - dfT + 0.5) / (dfT + 0.5))
    def s(tf: Double, len: Double) =
      idf * tf * 2.5 / (tf + 1.5 * (1 - 0.75 + 0.75 * len / avgdl))
    val w1 = BigDecimal(s(2, 3)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w2 = BigDecimal(s(1, 3)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(math.abs(got(0)._2 - w1) < 1e-9)
    assert(math.abs(got(1)._2 - w2) < 1e-9)
  }

  test("multi-term query sums per-term scores; k truncates") {
    val got = BM25.search(docs, "doc_id", "text", Seq("spark", "engine"), 2)
      .orderBy("rank").select("doc").as[Long].collect().toSeq
    assert(got.size == 2)
    assert(got.head == 1L) // doc 1 matches both terms
    // a term named twice, or in another case, still scores once
    def served(terms: Seq[String]) = BM25.search(docs, "doc_id", "text", terms, 10)
      .select("doc", "rank", "score").as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(served(Seq("spark", "SPARK", "engine", "Spark")) == served(Seq("spark", "engine")))
  }

  test("single-query serves keep the doc id type of the corpus or postings") {
    val intDocs = docs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val post = BM25.postings(intDocs, "doc_id", "text")
    val stats = BM25.statsFromPostings(post)
    val path = java.nio.file.Files.createTempDirectory("bm25_int").toString + "/p"
    post.write.parquet(path)
    val contract = Seq("doc" -> "int", "rank" -> "bigint", "score" -> "double")
    val want = Seq(1 -> 1L, 4 -> 2L, 2 -> 3L) // doc 4 is shorter than doc 2
    Seq(
      "search" -> BM25.search(intDocs, "doc_id", "text", Seq("spark", "engine"), 10),
      "search(corpus)" -> BM25.search(intDocs, "doc_id", "text", Seq("spark", "engine"), 10,
        BM25.corpusStats(intDocs, "text")),
      "searchIndexed" -> BM25.searchIndexed(post, stats, Seq("spark", "engine"), 10),
      "searchIndexed(path)" -> BM25.searchIndexed(spark, path, post, stats,
        Seq("spark", "engine"), 10),
      "searchIndexedPinned" -> BM25.searchIndexedPinned(spark, path,
        Seq("spark", "engine"), 10),
      "searchIndexedPinnedWith" -> BM25.searchIndexedPinnedWith(spark, path,
        spark.read.parquet(path), Seq("spark", "engine"), 10)
    ).foreach { case (what, df) =>
      assert(df.schema.map(f => f.name -> f.dataType.simpleString) == contract, what)
      assert(df.select("doc", "rank").as[(Int, Long)].collect().toSeq.sortBy(_._2) == want,
        what)
    }
    // a postings row without a doc id is never served
    val nullDoc = post.unionByName(
      Seq((Option.empty[Int], 3.0, "spark", 1.0)).toDF("doc", "len", "term", "tf"))
    assert(BM25.searchIndexed(nullDoc, stats, Seq("spark", "engine"), 10)
      .select("doc", "rank").as[(Int, Long)].collect().toSeq.sortBy(_._2) == want)
  }

  test("statsFromPostings recovers corpusStats exactly (incl. empty AND null text)") {
    // null text must behave like empty text (tokens coalesces to ""):
    // without that, explode drops the null-text doc from postings
    // while corpusStats still counts it in N — the q87 append≡rebuild
    // contract would diverge on a corpus with nulls
    val withEdge = docs.union(Seq((5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val fromCorpus = BM25.corpusStats(withEdge, "text")
      .as[(Double, Double)].head()
    val fromPostings = BM25.statsFromPostings(
      BM25.postings(withEdge, "doc_id", "text"))
      .as[(Double, Double)].head()
    assert(fromCorpus == fromPostings)
    assert(fromCorpus._1 == docs.count() + 2.0) // both edge docs in N
  }

  test("appended postings score identically to a full one-shot index") {
    val base = docs.filter(col("doc_id") <= 2)
    val delta = docs.filter(col("doc_id") > 2)
    val appended = BM25.postings(base, "doc_id", "text")
      .union(BM25.postings(delta, "doc_id", "text"))
    val full = BM25.postings(docs, "doc_id", "text")
    def score(post: org.apache.spark.sql.DataFrame) =
      BM25.searchIndexed(post, BM25.statsFromPostings(post), Seq("spark", "engine"), 10)
        .select("doc", "rank", "score").as[(Long, Long, Double)]
        .collect().toSeq.sortBy(_._2)
    assert(score(appended) == score(full))
  }

  test("no matching docs gives empty result") {
    assert(BM25.search(docs, "doc_id", "text", Seq("zzz"), 5).count() == 0)
  }

  test("compactPostings: one file per bucket, rows identical, grace files kept") {
    val tbl = "bm25_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_compact").toString + "/t"
    Queries.writePostings(spark, docs.filter(col("doc_id") < 3), tbl, path, "overwrite")
    Queries.writePostings(spark, docs.filter(col("doc_id") >= 3), tbl, path, "append")
    assert(BM25.bucketFileCounts(path).values.max >= 2,
      "the append should fragment at least one bucket")
    val before = spark.table(tbl)
      .as[(Long, Double, String, Double)].collect().toSet
    val live = Queries.compactPostings(spark, tbl, path)
    assert(BM25.bucketFileCounts(live).values.forall(_ == 1),
      s"compaction must restore one file per bucket: ${BM25.bucketFileCounts(live)}")
    // content identical row for row
    val after = spark.table(tbl)
      .as[(Long, Double, String, Double)].collect().toSet
    assert(after == before, "compaction must move bytes, never content")
    // the superseded files survive as the in-flight readers' grace window
    assert(Option(new java.io.File(path).listFiles()).toSeq.flatten
      .exists(_.getName.startsWith("part-")),
      "the superseded generation's files must remain on disk")
  }

  test("CREATE clears a leftover sibling sidecar: an overwrite rebuild never inherits a dead index's delete set") {
    // the postings sidecar lives NEXT TO the data path
    // (Tombstones.beside = path + "__tomb"), so a fresh
    // writePostings(overwrite) at a path a previous index was
    // deleted from would otherwise silently hide
    // legitimate docs — the leftover-sidecar class GraphAnn's CREATE
    // clears on its in-path tombstones table
    val tbl = "bm25_stale_tomb_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_stale").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    def serve() = {
      val post = spark.table(tbl)
      BM25.searchIndexed(spark, path, post, BM25.statsFromPostings(post),
          Seq("spark", "engine"), 10)
        .select("doc").as[Long].collect().toSet
    }
    val victim = serve().min
    assert(BM25.deleteFromPostings(spark, path, spark.table(tbl),
      Seq(victim).toDF("doc")) == 1L)
    assert(!serve().contains(victim), "premise: the sidecar hides")
    // the REBUILD: a fresh index at the same (tbl, path) — CREATE
    // semantics; content authority is the caller's input, so the old
    // delete set must not survive
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    assert(!new java.io.File(Tombstones.beside(path)).isDirectory,
      "CREATE must clear the sibling sidecar")
    assert(serve().contains(victim),
      "a fresh index inherited a dead index's delete set")
  }

  test("delete sidecar: default serve hides docs, compaction folds + clears, no-op without one") {
    val tbl = "bm25_tomb_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_tomb").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    def serve() = {
      val post = spark.table(tbl)
      BM25.searchIndexed(spark, path, post, BM25.statsFromPostings(post),
          Seq("spark", "engine"), 10)
        .select("doc", "rank", "score").as[(Long, Long, Double)]
        .collect().toSeq.sortBy(_._2)
    }
    val all = serve() // no sidecar: the raw fast path
    assert(all.nonEmpty)
    val victim = all.head._1
    val del = Seq(victim).toDF("doc")
    assert(BM25.deleteFromPostings(spark, path, spark.table(tbl), del) == 1L)
    assert(BM25.deleteFromPostings(spark, path, spark.table(tbl), del) == 0L,
      "re-delete must count zero")
    assert(BM25.deleteFromPostings(spark, path, spark.table(tbl),
        Seq(999999L).toDF("doc")) == 0L,
      "absent docs must count zero")
    val hidden = serve()
    assert(!hidden.map(_._1).contains(victim), "deleted doc still served")
    // hide-now equals the from-scratch index over the corpus-without:
    // stats (N, avgdl, df) must re-derive from the filtered frame
    val rebuilt = BM25.search(docs.filter(col("doc_id") =!= victim),
        "doc_id", "text", Seq("spark", "engine"), 10)
      .select("doc", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    assert(hidden == rebuilt, "sidecar-aware serve must equal rebuild-without")
    // compaction folds the sidecar into the rewrite; the new data
    // path starts clean and serves identically
    val live = Queries.compactPostings(spark, tbl, path)
    assert(!new java.io.File(Tombstones.beside(live)).isDirectory)
    assert(spark.table(tbl).filter(col("doc") === victim).isEmpty,
      "deleted doc's postings survived compaction")
    val post = spark.table(tbl)
    val removed = BM25.searchIndexed(spark, live, post,
        BM25.statsFromPostings(post), Seq("spark", "engine"), 10)
      .select("doc", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    assert(removed == hidden, "hide-now and remove-later diverge")
  }

  test("delete valves: needsCompact trigger, shuffle-degraded hide, re-ingest compacts first, cycles thread the live path") {
    val tbl = "bm25_valve_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_valve").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    assert(BM25.tombstoneRows(spark, path) == 0L)
    assert(!BM25.needsCompact(spark, path, 0L))
    val del = Seq(1L, 3L).toDF("doc")
    assert(BM25.deleteFromPostings(spark, path, spark.table(tbl), del) == 2L)
    assert(BM25.tombstoneRows(spark, path) == 2L)
    assert(BM25.needsCompact(spark, path, 1L))
    assert(!BM25.needsCompact(spark, path, 2L),
      "needsCompact must stay silent at or under the threshold")
    def serve(p: String) = {
      val post = spark.table(tbl)
      BM25.searchIndexed(spark, p, post, BM25.statsFromPostings(post),
          Seq("spark", "engine"), 10)
        .select("doc", "rank", "score").as[(Long, Long, Double)]
        .collect().toSeq.sortBy(_._2)
    }
    // AQE-governed hide join: broadcast disabled (the over-grown
    // sidecar degradation) must serve identically
    val hidden = serve(path)
    assert(!hidden.map(_._1).exists(Set(1L, 3L)))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(serve(path) == hidden, "shuffle-degraded hide changed answers")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    // RE-INGEST doc 1 with NEW text: the append must run the deferred
    // compaction first (old rows of 1 and 3 die physically, sidecar
    // clears), then land the new postings as doc 1's only rows
    Queries.writePostings(spark,
      Seq((1L, "fresh spark material")).toDF("doc_id", "text"),
      tbl, path, "append")
    val live = Queries.postingsLivePath(spark, tbl)
    assert(live != path, "a revive append must cycle the generation")
    assert(BM25.tombstoneRows(spark, live) == 0L)
    assert(spark.table(tbl).filter(col("doc") === 3L).isEmpty,
      "the non-revived tombstoned doc must be physically gone")
    assert(spark.table(tbl).filter(col("doc") === 1L).count() == 3L,
      "the revived doc must carry ONLY its new text's postings")
    // serves equal a from-scratch index over (docs - {1,3}) + new 1
    val wantCorpus = docs.filter(!col("doc_id").isin(1L, 3L))
      .unionByName(Seq((1L, "fresh spark material")).toDF("doc_id", "text"))
    val want = BM25.search(wantCorpus, "doc_id", "text",
        Seq("spark", "engine"), 10)
      .select("doc", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    assert(serve(live) == want)
    // SECOND cycle on the same table: a delete + compaction against
    // the CURRENT live path (version-counter staging — a fixed stage
    // suffix would re-read the superseded generation and drop the
    // revive). Nothing appended since the first cycle may be lost.
    assert(BM25.deleteFromPostings(spark, live, spark.table(tbl),
      Seq(4L).toDF("doc")) == 1L)
    val live2 = Queries.compactPostings(spark, tbl, live)
    assert(live2 != live && live2 != path)
    assert(Queries.postingsLivePath(spark, tbl) == live2,
      "the metastore must resolve to the newest generation")
    val want2 = BM25.search(wantCorpus.filter(col("doc_id") =!= 4L),
        "doc_id", "text", Seq("spark", "engine"), 10)
      .select("doc", "rank", "score").as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._2)
    assert(serve(live2) == want2,
      "second compaction cycle lost post-first-cycle state")
    // generation GC: two-cycles-old data dir is gone, the immediately
    // superseded one survives as the grace window
    assert(!new java.io.File(path).exists(),
      "two-cycles-old generation must be GC'd")
    assert(new java.io.File(live).exists(),
      "the immediately superseded generation is the grace window")
  }

  test("pinned postings read: one resolve serves coherently through a concurrent compaction; an expired pin fails loudly") {
    val tbl = "bm25_pin_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_pin").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    // the pin: resolve the live generation ONCE, then never re-read
    // the metastore mid-serve
    val pin = Queries.postingsLivePath(spark, tbl)
    def served(df: org.apache.spark.sql.DataFrame) =
      df.select("doc", "rank", "score").as[(Long, Long, Double)]
        .collect().toSeq.sortBy(_._2)
    def metastoreServe() = {
      val post = spark.table(tbl)
      served(BM25.searchIndexed(spark, Queries.postingsLivePath(spark, tbl),
        post, BM25.statsFromPostings(post), Seq("spark", "engine"), 10))
    }
    // on a quiet table the pinned serve is the sidecar-aware serve
    assert(served(BM25.searchIndexedPinned(spark, pin, Seq("spark", "engine"), 10))
      == metastoreServe())
    // a delete lands in the PINNED generation's sidecar — the pinned
    // reader hides it immediately (the snapshot is generation-level:
    // the files plus THAT generation's delete set)
    assert(BM25.deleteFromPostings(spark, pin, spark.table(tbl),
      Seq(2L).toDF("doc")) == 1L)
    val hidden = served(
      BM25.searchIndexedPinned(spark, pin, Seq("spark", "engine"), 10))
    assert(!hidden.map(_._1).contains(2L))
    // a CONCURRENT compaction flips the metastore to a fresh
    // generation mid-serve: the pin keeps serving the superseded one
    // coherently (its files AND sidecar are the grace window), and
    // its answers equal the flipped generation's — hide ≡ remove
    val live2 = Queries.compactPostings(spark, tbl, pin)
    assert(live2 != pin)
    assert(served(BM25.searchIndexedPinned(spark, pin, Seq("spark", "engine"), 10))
      == hidden, "the pinned serve changed answers across the flip")
    assert(metastoreServe() == hidden,
      "the pinned snapshot diverged from the compacted generation")
    // a second cycle GCs the pinned generation: the pin expires
    // LOUDLY, never silently serves a newer graph of files
    assert(BM25.deleteFromPostings(spark, live2, spark.table(tbl),
      Seq(4L).toDF("doc")) == 1L)
    Queries.compactPostings(spark, tbl, live2)
    val ex = intercept[IllegalArgumentException] {
      BM25.searchIndexedPinned(spark, pin, Seq("spark", "engine"), 10)
    }
    assert(ex.getMessage.contains("GC'd"))
  }

  test("postings append writes only the delta's term buckets, at-rest files untouched") {
    // the q87/q102 append discipline as a file-level contract: a delta
    // batch must land NEW files only, and only in buckets some delta
    // term hashes to — never rewrite the postings dir (per-batch write
    // scope is what keeps streaming ingest O(delta), not O(index))
    val tbl = "bm25_scope_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_scope").toString + "/t"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    def files(): Map[String, Long] =
      Option(new java.io.File(path).listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified).toMap
    val before = files()
    // one tiny delta doc: its terms touch a strict subset of buckets
    val delta = Seq((99L, "spark")).toDF("doc_id", "text")
    Queries.writePostings(spark, delta, tbl, path, "append")
    val after = files()
    // at-rest files byte-stable (same names, same mtimes)
    before.foreach { case (name, m) =>
      assert(after.get(name).contains(m), s"at-rest file $name was rewritten") }
    // new files only in the delta's own buckets (Spark bucket id =
    // pmod(murmur3(term), buckets), the bucket id rides the file name
    // as the _NNNNN suffix before .c000)
    val touched = BM25.postings(delta, "doc_id", "text")
      .select(pmod(hash(col("term")), lit(Queries.bucketCountOf(spark, tbl))).cast("int"))
      .distinct().as[Int].collect().toSet
    val newBuckets = (after.keySet -- before.keySet).map { name =>
      "_(\\d{5})\\.".r.findFirstMatchIn(name)
        .getOrElse(fail(s"no bucket id in appended file name $name"))
        .group(1).toInt
    }
    assert(newBuckets.nonEmpty && newBuckets == touched,
      s"appended buckets $newBuckets != delta's term buckets $touched")
  }

  test("compactPostings crash-recovery: an orphaned staged generation is versioned past and GC'd") {
    // the crash-before-rename contract on the lexical family: a
    // staged __genN data path whose metastore rename never ran must
    // be versioned past by the re-run (the sibling listing is the
    // version source), then collected by its GC
    val tbl = "bm25_crash"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("graft_bm_crash")
      .toString + "/post"
    Queries.writePostings(spark, docs, tbl, path, "overwrite")
    BM25.deleteFromPostings(spark, path, spark.table(tbl),
      Seq(2L).toDF("doc"))
    def rows(p: String) = {
      val post = spark.table(tbl)
      BM25.searchIndexed(spark, p, post, BM25.statsFromPostings(post),
          Seq("spark", "hash", "join"), 10)
        .select("doc", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    }
    val hidden = rows(path)
    val orphan = new java.io.File(path + "__gen99")
    graft.FileTree.copy(new java.io.File(path), orphan)
    val live = Queries.compactPostings(spark, tbl, path)
    assert(live.endsWith("__gen100"),
      s"the re-run must version PAST the orphan, got $live")
    assert(!orphan.exists(),
      "the orphaned generation must be collected by the re-run")
    assert(rows(live) == hidden,
      "recovery must serve the exact pre-crash answers")
  }

  /** (doc, rank, score) of one query, by rank. */
  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.select("doc", "rank", "score").as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)

  /** (doc, rank, score) per qid of a multi-query serve, by rank. */
  private def rankedMulti(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Long, Double)]] =
    df.select("qid", "doc", "rank", "score").as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3, r._4)).sortBy(_._2) }

  /** A query batch over the sf0.001 vocabulary: shared terms, a
    * mixed-case term, a term no doc has, a query that matches nothing
    * and a qid given twice (one query over both entries' terms). */
  private val multiBatch: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "hash", "join"),
    2L -> Seq("Spark", "dup"),
    3L -> Seq("dup", "zzznope"),
    4L -> Seq("zzznope"),
    5L -> Seq("vector"),
    5L -> Seq("scan", "dup"))

  /** `serve` run once per qid of [[multiBatch]] over the qid's
    * concatenated terms; queries serving no rows are left out. */
  private def perQuery(serve: Seq[String] => org.apache.spark.sql.DataFrame) =
    multiBatch.groupBy(_._1)
      .map { case (q, es) => q -> ranked(serve(es.flatMap(_._2))) }
      .filter(_._2.nonEmpty)

  test("searchIndexedMulti equals per-query searchIndexed on the sf0.001 postings") {
    val post = Queries.bm25Postings(spark, sf0001)
    val stats = Queries.bm25Stats(spark, sf0001)
    val got = rankedMulti(BM25.searchIndexedMulti(post, stats, multiBatch, 10))
    assert(got.keySet == Set(1L, 2L, 3L, 5L), "only the query matching nothing serves no rows")
    assert(got == perQuery(ts => BM25.searchIndexed(post, stats, ts, 10)))
  }

  test("searchIndexedMulti: a term a query names twice scores twice") {
    val post = BM25.postings(docs, "doc_id", "text")
    val stats = BM25.statsFromPostings(post)
    val got = rankedMulti(BM25.searchIndexedMulti(post, stats,
      Seq(7L -> Seq("spark", "SPARK", "engine"), 8L -> Seq("spark", "engine")), 10))
    assert(got(8L) == ranked(BM25.searchIndexed(post, stats, Seq("spark", "engine"), 10)))
    // spark: df 2 (docs 1, 2); engine: df 2 (docs 1, 4)
    val n = 4.0; val avgdl = 11.0 / 4
    val idf = math.log(1 + (n - 2.0 + 0.5) / (2.0 + 0.5))
    def s(tf: Double, len: Double) =
      idf * tf * 2.5 / (tf + 1.5 * (1 - 0.75 + 0.75 * len / avgdl))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Seq(1L -> r4(2 * s(2, 3) + s(1, 3)), 2L -> r4(2 * s(1, 3)), 4L -> r4(s(1, 2)))
      .sortBy(-_._2)
    assert(got(7L).map(_._1) == want.map(_._1))
    assert(got(7L).map(_._2) == Seq(1L, 2L, 3L))
    got(7L).zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._2) < 1e-9) }
  }

  test("searchIndexedMulti after deleteFromPostings, and searchIndexedMultiPinned, equal their per-query serves") {
    val tbl = "bm25_multi_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val path = java.nio.file.Files.createTempDirectory("bm25_multi").toString + "/t"
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    Queries.writePostings(spark, corpus, tbl, path, "overwrite")
    val post = spark.table(tbl)
    // the pre-delete stats: the sidecar-aware serves must re-derive them
    val stats = BM25.statsFromPostings(post).localCheckpoint()
    val del = corpus.filter(col("doc_id") % 7 === 3).select(col("doc_id").as("doc"))
    assert(BM25.deleteFromPostings(spark, path, post, del) > 0L)
    val got = rankedMulti(BM25.searchIndexedMulti(spark, path, post, stats, multiBatch, 10))
    assert(got.values.flatten.forall(_._1 % 7 != 3), "a deleted doc was served")
    assert(got == perQuery(ts => BM25.searchIndexed(spark, path, post, stats, ts, 10)))
    val pin = Queries.postingsLivePath(spark, tbl)
    assert(rankedMulti(BM25.searchIndexedMultiPinned(spark, pin, multiBatch, 10)) ==
      perQuery(ts => BM25.searchIndexedPinned(spark, pin, ts, 10)))
  }
}
