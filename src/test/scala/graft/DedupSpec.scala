package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Dedup family: exact, shingles, MinHash-LSH, Jaccard, SimHash. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),      // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "THE  QUICK   brown fox jumps over the lazy dog"),   // ws/case dup of 1
    (6L, "tiny")                                              // < shingle length
  ).toDF("doc_id", "text")

  test("exact dedup keeps first occurrence per normalized key") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 6L)) // 2 and 5 collapse into 1
  }

  test("shingles: distinct n-grams; short docs get empty array") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(6L).isEmpty)
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).size == sh(1L).distinct.size)
  }

  test("shingleRowsPos drops to exactly shingleRows (content), one row per position") {
    for (n <- Seq(2, 3, 5)) {
      val plain = Dedup.shingleRows(docs, "doc_id", "text", n)
        .groupBy("id", "s").count()
      val posed = Dedup.shingleRowsPos(docs, "doc_id", "text", n)
      // positions are a bijection onto 1..len-n+1 per doc…
      val byDoc = posed.groupBy("id")
        .agg(count(lit(1)).as("c"), min("pos").as("lo"),
          max("pos").as("hi"), count_distinct(col("pos")).as("d"))
        .as[(Long, Long, Long, Long, Long)].collect()
      byDoc.foreach { case (_, c, lo, hi, d) =>
        assert(lo == 1L && hi == c && d == c)
      }
      // …and forgetting them recovers shingleRows' multiset exactly
      val dropped = posed.groupBy("id", "s").count()
      assert(dropped.exceptAll(plain).isEmpty && plain.exceptAll(dropped).isEmpty,
        s"positioned shingles diverge from shingleRows at n=$n")
    }
  }

  test("LSH candidates find exact and near dups, not unrelated docs") {
    val pairs = Dedup.lshCandidates(docs, "doc_id", "text",
      shingleN = 2, nPerm = 16, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    assert(pairs.contains((1L, 5L))) // whitespace/case-normalized dup
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated
  }

  test("jaccardVerify: identical docs 1.0, near dups high, bounds [0,1]") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val j = Dedup.jaccardVerify(docs, "doc_id", "text", pairs, 2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) == 0.0)
  }

  test("bandedSignatures: nBands rows per doc, identical docs share every bandsig") {
    val banded = Dedup.bandedSignatures(docs, "doc_id", "text", 2, 16, 4)
      .as[(Long, Long, String)].collect()
    val perDoc = banded.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // doc 6 ("tiny") has no 2-gram shingles and drops out; others get 4 bands
    assert(!perDoc.contains(6L))
    perDoc.values.foreach(bands => assert(bands == Seq(0L, 1L, 2L, 3L)))
    // exact dup pair (1, 2) collides on every band
    val sigs = banded.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("q33 bucketed near-dup pairs: subset of exact all-pairs, recall floor holds") {
    val got = CurationQueries.q33NeardupCosine(spark, sf0001)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val exact = CurationQueries.q33ExactAllPairs(spark, sf0001)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact)) // re-score is exact: no false positives
    assert(exact.nonEmpty && got.nonEmpty)
    val recall = got.size.toDouble / exact.size
    info(f"q33 LSH recall vs exact: $recall%.3f (${got.size}/${exact.size})")
    assert(recall >= 0.3, s"recall $recall under floor — raise q33Rot or lower q33Bits")
  }

  test("q105 semantic decon: flagged set subset of exact cross-pairs, recall floor holds") {
    val got = CurationQueries.q105SemanticDecon(spark, sf0001)
      .select("vec_id", "max_cos", "top_eval_id")
      .as[(Long, Double, Long)].collect()
    // the eval witness is always from the eval slice; flagged ids never are
    assert(got.forall { case (t, _, e) => t % 10 != 0 && e % 10 == 0 })
    // exact ground truth: train x eval pairs over tau, from the exact
    // all-pairs form restricted to the slice boundary
    val exact = CurationQueries.q33ExactAllPairs(spark, sf0001)
      .select("id1", "id2", "cos").as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, c) =>
        if (a % 10 == 0 && b % 10 != 0) Some((b, a, c))
        else if (b % 10 == 0 && a % 10 != 0) Some((a, b, c)) else None }
    val exactByTid = exact.groupBy(_._1)
    assert(got.map(_._1).toSet.subsetOf(exactByTid.keySet)) // exact re-score: no false flags
    // per flagged vector, max_cos never exceeds the true max over eval
    got.foreach { case (t, mc, _) =>
      val trueMax = exactByTid(t).map(_._3).max
      assert(mc <= trueMax + 1e-9, s"vec $t max_cos $mc > true $trueMax")
    }
    val recall = got.length.toDouble / exactByTid.size
    info(f"q105 decon recall vs exact: $recall%.3f (${got.length}/${exactByTid.size})")
    assert(recall >= 0.3, s"recall $recall under floor")
  }

  test("writeRegister CREATE clears a leftover sibling sidecar and stale generations") {
    // the register's sidecar and __genN generations are SIBLINGS of
    // the data path — a fresh register written over the data alone
    // would inherit a dead register's delete set (hidden legit ids)
    // and stale generations (wrong version derivation)
    val base = java.nio.file.Files.createTempDirectory("dedup_create").toString
    val path = base + "/reg"
    def bands = Dedup.bandedSignatures(docs, "doc_id", "text", 3, 16, 4)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
    Dedup.writeRegister(bands, path, 4)
    assert(Dedup.deleteFromRegister(spark, path, Seq(1L).toDF("id")) == 1L)
    val gen2 = Dedup.compactRegister(spark, path, 4)
    assert(Dedup.deleteFromRegister(spark, gen2, Seq(3L).toDF("id")) == 1L)
    // the fresh CREATE at the BASE path: sidecars and generations of
    // the dead register must all go
    Dedup.writeRegister(bands, path, 4)
    assert(!new java.io.File(Tombstones.beside(path)).isDirectory,
      "CREATE must clear the sibling sidecar")
    assert(!new java.io.File(gen2).exists(),
      "CREATE must clear stale sibling generations")
    assert(Dedup.liveRegister(spark, path, spark.read.parquet(path))
        .filter(col("id") === 1L).count() > 0,
      "a fresh register inherited a dead register's delete set")
  }

  test("delete → re-fingerprint: rebuildRegister anti-joins the standing sidecar — forgotten influence never resumes") {
    // the register's upgrade-resurrection cell: a fingerprint-param
    // upgrade re-derives signatures from the corpus, which knows
    // nothing about the forgets the live register hides
    val base = java.nio.file.Files.createTempDirectory("dedup_rebuild").toString
    val path = base + "/reg"
    def bandsWith(rpb: Int) =
      Dedup.bandedSignatures(docs, "doc_id", "text", 3, 16, rpb)
        .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
    Dedup.writeRegister(bandsWith(4), path, 4)
    assert(Dedup.deleteFromRegister(spark, path, Seq(1L).toDF("id")) == 1L)
    // the upgrade: NEW banding (rowsPerBand 4 → 2) from the corpus —
    // a raw writeRegister here would re-admit doc 1's bands
    Dedup.rebuildRegister(spark, bandsWith(2), path, 4)
    val atRest = spark.read.parquet(path)
    assert(atRest.filter(col("id") === 1L).isEmpty,
      "the re-fingerprint resurrected a forgotten doc's bands")
    assert(!new java.io.File(Tombstones.beside(path)).isDirectory,
      "the rebuilt register must start with a clean sidecar")
    // the surviving docs carry the NEW banding (8 bands at rpb=2)
    assert(atRest.filter(col("id") === 3L).select("band").distinct().count() == 8,
      "survivors must carry the upgraded fingerprints")
    // and a never-deleted register rebuild is a plain CREATE
    Dedup.rebuildRegister(spark, bandsWith(2), path, 4)
    assert(spark.read.parquet(path).filter(col("id") === 1L).count() > 0,
      "CREATE semantics on a clean register: content authority is the input")
  }

  test("register delete: sidecar hides now, compaction removes later, generations cycle and GC") {
    // the band register as a deletable artifact (q169's machinery):
    // build a small register, tombstone one doc, verify the live
    // view, compact, verify physical removal + a second cycle's GC
    val base = java.nio.file.Files.createTempDirectory("dedup_reg").toString
    val path = base + "/reg"
    Dedup.bandedSignatures(docs, "doc_id", "text", 3, 16, 4)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
      .repartition(4, col("sigbucket"))
      .write.mode("overwrite").partitionBy("sigbucket").parquet(path)
    val total = spark.read.parquet(path).count()
    assert(Dedup.registerTombstoneRows(spark, path) == 0L)
    assert(!Dedup.needsCompactRegister(spark, path, 0L))
    // delete doc 1 (which has dups 2/5 still registered)
    assert(Dedup.deleteFromRegister(spark, path, Seq(1L).toDF("id")) == 1L)
    assert(Dedup.deleteFromRegister(spark, path, Seq(1L).toDF("id")) == 0L,
      "repeat delete must count zero")
    assert(Dedup.registerTombstoneRows(spark, path) == 1L)
    assert(Dedup.needsCompactRegister(spark, path, 0L) &&
      !Dedup.needsCompactRegister(spark, path, 1L))
    val live = Dedup.liveRegister(spark, path, spark.read.parquet(path))
    assert(live.filter(col("id") === 1L).isEmpty,
      "a tombstoned doc's bands leaked through the live view")
    val doc1Rows = total - live.count()
    assert(doc1Rows > 0)
    // phase 2: fresh generation, clean sidecar, survivors only
    val gen2 = Dedup.compactRegister(spark, path, 4)
    assert(gen2 != path)
    assert(!new java.io.File(Tombstones.beside(gen2)).isDirectory)
    val atRest = spark.read.parquet(gen2)
    assert(atRest.count() == total - doc1Rows)
    assert(atRest.filter(col("id") === 1L).isEmpty)
    // the compacted register equals a one-shot build over survivors
    val want = Dedup.bandedSignatures(docs.filter(col("doc_id") =!= 1L),
        "doc_id", "text", 3, 16, 4)
      .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
      .select(col("id"), col("band"), col("bandsig"), col("sigbucket").cast("int"))
    val got = atRest
      .select(col("id"), col("band"), col("bandsig"), col("sigbucket").cast("int"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "compacted register diverges from the one-shot survivor build")
    // second cycle: the first generation leaves the grace window
    assert(Dedup.deleteFromRegister(spark, gen2, Seq(3L).toDF("id")) == 1L)
    val gen3 = Dedup.compactRegister(spark, gen2, 4)
    assert(gen3 != gen2 && gen3 != path)
    assert(!new java.io.File(path).exists(),
      "the two-cycles-old generation must be GC'd")
    assert(new java.io.File(gen2).exists(),
      "the immediately superseded generation is the grace window")
    assert(spark.read.parquet(gen3).filter(col("id").isin(1L, 3L)).isEmpty)
  }

  test("register revive: probed append flips on a tombstoned id, fresh bands land as the only copy") {
    // q177's machinery at spec scale: a raw append after a forget
    // would land bands the live view then hides (the admitted-ghost
    // hole); appendToRegister must detect the revive, pull the
    // deferred compaction forward, and register the fresh bands in
    // the flipped generation as the doc's only copy
    val base = java.nio.file.Files.createTempDirectory("dedup_rev").toString
    val path = base + "/reg"
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandedSignatures(df, "doc_id", "text", 3, 16, 4)
        .withColumn("sigbucket", pmod(hash(col("band"), col("bandsig")), lit(4)))
    bands(docs).repartition(4, col("sigbucket"))
      .write.mode("overwrite").partitionBy("sigbucket").parquet(path)
    // a CLEAN append never flips (directory-read probe)
    val extra = Seq((100L, "fresh content never seen before in this register"))
      .toDF("doc_id", "text")
    assert(Dedup.appendToRegister(spark, path, bands(extra), 4) == path,
      "a clean append must land in place")
    // forget doc 1, then a NON-revive append still doesn't flip
    // (batch-sized semi-join probe, no intersection)
    assert(Dedup.deleteFromRegister(spark, path, Seq(1L).toDF("id")) == 1L)
    val extra2 = Seq((101L, "more fresh content for the silent-probe case"))
      .toDF("doc_id", "text")
    assert(Dedup.appendToRegister(spark, path, bands(extra2), 4) == path,
      "a post-forget append with no tombstoned id must not flip")
    // the revive: doc 1 re-consents — the append must flip and its
    // bands must come back as exactly one fresh copy
    val live = Dedup.appendToRegister(spark, path,
      bands(docs.filter(col("doc_id") === 1L)), 4)
    assert(live != path, "a revive append must pull the compaction forward")
    assert(!new java.io.File(Tombstones.beside(live)).isDirectory,
      "the flipped generation must start with a clean sidecar")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("band"), col("bandsig"),
        col("sigbucket").cast("int"))
    // live register ≡ one-shot build over docs ∪ extras (doc 1's old
    // and new bands are identical — pure function of its text — so
    // single-copy and content-exact are one equality)
    val want = norm(bands(docs
      .unionByName(extra).unionByName(extra2)))
    val got = norm(Dedup.liveRegister(spark, live, spark.read.parquet(live)))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "post-revive register diverges from the never-forgotten build")
    assert(spark.read.parquet(live).filter(col("id") === 1L).count() ==
      want.filter(col("id") === 1L).count(),
      "a revived doc must hold exactly one copy of its bands")
  }

  test("simhash: identical docs same hash, near dups few differing bits") {
    val sh = Dedup.simhash16(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) <= 6)                 // one word changed
    assert(hamming(sh(1L), sh(4L)) > hamming(sh(1L), sh(3L))) // unrelated farther
    sh.values.foreach(v => assert(v >= 0 && v < (1L << 16)))
  }
}
