package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.NativeExpressions.{dotNative, sqAdcNative, sqPackNative}
import graft.search.SQ

/** Scalar-quantized (SQ8) IVF: quantization bounds, the fused
  * pack / ADC kernels, the two-tier search's exactness contract, and
  * the at-rest layout (q114's operator). */
class SQSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = graft.sources.Tables.load(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    .localCheckpoint()

  private def dims: Int = e.select(size(col("v"))).as[Int].head()

  test("quantize→dequantize error is bounded by half a step; degenerate dims exact") {
    val b = SQ.bounds(e, "v")
    val ba = SQ.boundsArrays(b)
    val staged = e.crossJoin(broadcast(ba))
      .select(col("vec_id"), col("v"), col("lo"), col("hi"),
        SQ.quantCodes(col("v"), col("lo"), col("hi")).as("codes"))
    val rows = staged
      .select(col("v"), col("lo"), col("hi"), col("codes"))
      .as[(Seq[Double], Seq[Double], Seq[Double], Seq[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, lo, hi, codes) =>
      v.indices.foreach { d =>
        val step = (hi(d) - lo(d)) / 255.0
        val deq = lo(d) + codes(d) * step
        if (hi(d) == lo(d)) assert(deq == lo(d))
        else assert(math.abs(deq - v(d)) <= step / 2 + 1e-12,
          s"dim $d: |$deq - ${v(d)}| > step/2 ($step)")
      }
    }
  }

  test("SqPack clamps out-of-range codes and nulls on null elements") {
    val df = Seq((1L, Seq(-5, 0, 128, 255, 300))).toDF("id", "codes")
      .select(sqPackNative(col("codes")).as("p"))
    val p = df.as[Array[Byte]].head()
    assert(p.toSeq.map(_ & 0xFF) == Seq(0, 0, 128, 255, 255))
    val withNull = Seq((1L, Seq[Integer](1, null, 3))).toDF("id", "codes")
      .select(sqPackNative(col("codes")).as("p"))
    assert(withNull.filter(col("p").isNull).count() == 1)
  }

  test("fused ADC kernel is bit-identical to the HOF dequantize-then-dot") {
    val b = SQ.bounds(e, "v")
    val ba = SQ.boundsArrays(b)
    val qv = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val staged = e.crossJoin(broadcast(ba)).crossJoin(broadcast(qv))
      .select(col("vec_id"), col("lo"), col("hi"), col("qv"),
        SQ.quantCodes(col("v"), col("lo"), col("hi")).as("codes"),
        sqPackNative(SQ.quantCodes(col("v"), col("lo"), col("hi"))).as("code"))
    // the HOF reference: materialize the dequantized array from the
    // UNPACKED int codes with the SAME per-element arithmetic, then
    // the codegen'd dot (SqPack's byte fidelity is pinned above)
    val lohi = zip_with(col("lo"), col("hi"), (l, h) => struct(l.as("l"), h.as("h")))
    val deq = zip_with(col("codes").cast("array<double>"), lohi, (c, lh) => {
      val l = lh.getField("l"); val h = lh.getField("h")
      l + c * ((h - l) / lit(255.0))
    })
    val rows = staged
      .select(
        sqAdcNative(col("code"), col("lo"), col("hi"), col("qv")).as("fused"),
        dotNative(deq, col("qv")).as("hof"))
      .as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (fused, hof) =>
      assert(java.lang.Double.doubleToLongBits(fused) ==
        java.lang.Double.doubleToLongBits(hof), s"$fused != $hof")
    }
  }

  test("ADC length mismatch and null inputs yield NULL, not garbage") {
    val df = Seq((Array[Byte](1, 2, 3), Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(1.0, 1.0)))
      .toDF("code", "lo", "hi", "qv")
      .select(sqAdcNative(col("code"), col("lo"), col("hi"), col("qv")).as("s"))
    assert(df.filter(col("s").isNull).count() == 1)
  }

  test("persisted SQ index: two-tier search serves EXACT scores and holds recall") {
    val path = "/tmp/graft_test/sq_index"
    SQ.writeIndex(e, "vec_id", "v", 8, path)
    val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val got = SQ.searchIndex(spark, path, e, "vec_id", "v", q, "qv",
      10, 8, RetrievalQueries.sqRerank) // probe ALL cells: isolates SQ error
      .select(col("vec_id"), col("rank"), col("score"))
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    val exact = graft.search.Search.topK(e, "vec_id", "v", q, "qv", 10)
      .select(col("vec_id"), col("rank"), col("score"))
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    // scores of served ids are the full-precision dots (re-rank is
    // exact): every returned (id, score) must appear in the exact
    // ranking's score map
    val exactScores = graft.search.Search
      .topK(e, "vec_id", "v", q, "qv", e.count().toInt)
      .select(col("vec_id"), col("score")).as[(Long, Double)].collect().toMap
    got.foreach { case (id, _, s) => assert(exactScores(id) == s, s"id $id") }
    // with all cells probed and rerank 4x k, the served top-10 should
    // recover at least 8 of the exact top-10 on this corpus
    val overlap = got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    assert(overlap >= 8, s"recall@10 too low: $overlap/10")
  }

  test("SQ8 multi-query serve equals the per-query serves at every nprobe") {
    val path = "/tmp/graft_test/sq_index_multi"
    SQ.writeIndex(e, "vec_id", "v", 8, path)
    val qs = e.filter(col("vec_id") < 4).select(col("vec_id").as("qid"), col("v").as("qv"))
    Seq(1, 3, 8).foreach { p =>
      val multi = SQ.searchIndexMulti(spark, path, e, "vec_id", "v", qs, "qid", "qv",
          10, p, RetrievalQueries.sqRerank)
        .select("qid", "vec_id", "rank", "score")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._3)).toSeq
      val single = (0L until 4L).flatMap { q =>
        SQ.searchIndex(spark, path, e, "vec_id", "v",
            e.filter(col("vec_id") === q).select(col("v").as("qv")), "qv",
            10, p, RetrievalQueries.sqRerank)
          .select(lit(q).as("qid"), col("vec_id"), col("rank"), col("score"))
          .as[(Long, Long, Long, Double)].collect()
      }.sortBy(r => (r._1, r._3))
      assert(multi == single, s"nprobe=$p")
    }
  }

  test("SQ8 delete: tombstone hides from ADC serve now, compaction removes later") {
    import graft.search.IVF
    val path = "/tmp/graft_test/sq_delete"
    SQ.writeIndex(e, "vec_id", "v", 8, path)
    val total = e.count()
    val doomed = e.filter(col("vec_id") % 9 === 2)
      .select(col("vec_id").as("id")).localCheckpoint()
    val nDoomed = doomed.count()
    // shared layout, shared delete: IVF.deleteFromIndex on idCol "id"
    assert(IVF.deleteFromIndex(spark, path, doomed, "id", countPresent = true) == nDoomed)
    assert(spark.read.parquet(IVF.listsPath(path)).count() == total,
      "tombstoning must not touch SQ list bytes")
    val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    def serve() = SQ.searchIndex(spark, path, e, "vec_id", "v", q, "qv",
        10, 8, RetrievalQueries.sqRerank)
      .select(col("vec_id"), col("rank"), col("score"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._2)
    val hidden = serve()
    assert(hidden.nonEmpty && !hidden.map(_._1).exists(_ % 9 == 2),
      "a tombstoned id reached the SQ8 serve")
    // compaction (IVF's, shared machinery) folds the tombstones in
    IVF.compactIndex(spark, path)
    assert(spark.read.parquet(IVF.listsPath(path)).count() == total - nDoomed,
      "compaction must physically drop the deleted codes")
    assert(serve() == hidden, "hide-now and remove-later must serve alike")
  }

  test("SQ8 revive: re-ingesting a tombstoned id runs the deferred compaction first") {
    import graft.search.IVF
    val path = "/tmp/graft_test/sq_revive"
    SQ.writeIndex(e, "vec_id", "v", 8, path)
    val total = e.count()
    val doomed = e.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id").as("id")).localCheckpoint()
    val nDoomed = doomed.count()
    assert(IVF.deleteFromIndex(spark, path, doomed, "id", countPresent = true) == nDoomed)
    val lp0 = IVF.listsPath(path)
    // re-ingest id 3 with a DIFFERENT vector through the QUANTIZED
    // append path: the stale sidecar entry must not hide the new code
    // (the silent-loss defect this probe exists to prevent), and the
    // old code must not resurrect next to it
    val revive = e.filter(col("vec_id") === 3)
      .select(col("vec_id"), transform(col("v"), x => x * lit(2.0)).as("v"))
    SQ.appendToIndex(spark, path, revive, "vec_id", "v")
    assert(IVF.listsPath(path) != lp0,
      "an SQ revive append must run the deferred compaction (generation flip)")
    assert(IVF.tombstoneRows(spark, path) == 0L,
      "the revive compaction must fold and clear the whole sidecar")
    val lists = spark.read.parquet(IVF.listsPath(path))
    assert(lists.count() == total - nDoomed + 1)
    assert(lists.filter(col("id") === 3).count() == 1,
      "the revived id must have exactly ONE physical code row")
    // the revived code is the NEW vector quantized under the STANDING
    // bounds — byte-identical to the direct computation (geometry
    // never moves on compaction, so the standing bounds still apply)
    val ba = SQ.boundsArrays(spark.read.parquet(s"$path/bounds"))
    val want = revive.crossJoin(broadcast(ba))
      .select(sqPackNative(SQ.quantCodes(col("v"), col("lo"), col("hi"))).as("code"))
      .as[Array[Byte]].head()
    val got = lists.filter(col("id") === 3)
      .select(col("code")).as[Array[Byte]].head()
    assert(java.util.Arrays.equals(got, want),
      "the revived code must be the NEW vector's, under standing bounds")
    // the serve surfaces no stay-deleted id; the revived id is live
    val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val served = SQ.searchIndex(spark, path, e, "vec_id", "v", q, "qv",
        10, 8, RetrievalQueries.sqRerank)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(!served.exists(i => i % 10 == 3 && i != 3),
      "a stay-deleted id surfaced in the post-revive SQ8 serve")
  }

  test("delete → requant: rebuildIndex anti-joins the standing sidecar — fresh geometry never re-admits forgotten ids") {
    import graft.search.IVF
    val path = "/tmp/graft_test/sq_requant_del"
    SQ.writeIndex(e, "vec_id", "v", 8, path)
    val doomed = e.filter(col("vec_id") % 9 === 2)
      .select(col("vec_id").as("id")).localCheckpoint()
    val doomedIds = doomed.as[Long].collect().toSet
    assert(IVF.deleteFromIndex(spark, path, doomed, "id", countPresent = true) == doomed.count())
    // the requant sources from the CORPUS TABLE (codes are lossy, the
    // index can never re-derive itself) — which knows nothing about
    // the sidecar; a raw writeIndex here would resurrect every
    // forgotten id through the maintenance op that runs fleet-wide
    SQ.rebuildIndex(e, "vec_id", "v", 8, path)
    val lists = spark.read.parquet(IVF.listsPath(path))
    assert(lists.join(doomed, Seq("id"), "left_semi").isEmpty,
      "requantization resurrected tombstoned ids")
    assert(IVF.tombstoneRows(spark, path) == 0L,
      "the rebuilt index must start with a clean sidecar")
    assert(lists.count() == e.count() - doomedIds.size)
    // the post-requant serve never surfaces a forgotten id (full
    // probe so absence is structural, not probe luck)
    val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val served = SQ.searchIndex(spark, path, e, "vec_id", "v", q, "qv",
        20, 8, RetrievalQueries.sqRerank)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(served.intersect(doomedIds).isEmpty,
      "a forgotten id surfaced in the post-requant serve")
    // and on a NEVER-DELETED index, rebuildIndex ≡ writeIndex (the
    // anti-join is a directory probe, nothing filtered)
    val clean = "/tmp/graft_test/sq_requant_clean"
    SQ.rebuildIndex(e, "vec_id", "v", 8, clean)
    assert(spark.read.parquet(IVF.listsPath(clean)).count() == e.count())
  }

  test("append quantizes under the STANDING bounds and reports the clamped fraction") {
    val path = "/tmp/graft_test/sq_append"
    val base = e.filter(col("vec_id") >= 100)
    SQ.writeIndex(base, "vec_id", "v", 8, path)
    val baseBounds = SQ.boundsArrays(SQ.bounds(base, "v"))
    // a delta scaled beyond the standing range: most elements clamp
    val drift = e.filter(col("vec_id") < 50)
      .select(col("vec_id"), transform(col("v"), x => x * lit(2.0)).as("v"))
    val frac = SQ.appendToIndex(spark, path, drift, "vec_id", "v")
    // 2x scaling pushes the tail mass past the standing per-dim
    // min/max — well past the 2% requant threshold, under 1
    assert(frac > RetrievalQueries.sqClampThreshold && frac <= 1.0,
      s"expected clamping past the requant threshold, got $frac")
    // the appended codes must be the delta quantized under the BASE
    // bounds (not bounds re-derived from base+delta): compare byte
    // for byte against the directly-computed standing-bounds codes
    val want = drift.crossJoin(broadcast(baseBounds))
      .select(col("vec_id").as("id"),
        org.apache.spark.sql.graftnative.NativeExpressions
          .sqPackNative(SQ.quantCodes(col("v"), col("lo"), col("hi"))).as("code"))
      .as[(Long, Array[Byte])].collect().toMap
    val got = spark.read.parquet(s"$path/lists")
      .filter(col("id") < 50)
      .select(col("id"), col("code")).as[(Long, Array[Byte])].collect()
    assert(got.length == want.size)
    got.foreach { case (id, code) =>
      assert(java.util.Arrays.equals(code, want(id)), s"id $id codes differ") }
    // an in-distribution delta reports ~zero clamped mass
    val inDist = e.filter(col("vec_id") >= 50 && col("vec_id") < 100)
    assert(SQ.appendToIndex(spark, path, inDist, "vec_id", "v") <= 0.02)
  }

  test("at-rest lists are 1 byte per dimension; candidates cid-pruned; re-rank id-pushed") {
    val path = "/tmp/graft_test/sq_index" // written by the previous test
    val lists = spark.read.parquet(s"$path/lists")
    val sizes = lists.select(length(col("code")).cast("int")).distinct().as[Int].collect()
    assert(sizes.toSeq == Seq(dims), s"code bytes $sizes != dims $dims")
    val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val qv = q.select(col("qv").cast("array<double>")).as[Seq[Double]].head()
    // stage 1: the candidate scan reads only the probed cid partitions
    val candPlan = SQ.adcCandidates(spark, path, qv, 2, RetrievalQueries.sqRerank)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("dynamicpruning") ||
      candPlan.contains("PartitionFilters: [isnotnull(cid"),
      s"expected partition pruning on cid:\n$candPlan")
    assert(candPlan.contains("graft_sq_adc"),
      s"expected the fused ADC kernel in the candidate scan:\n$candPlan")
    // stage 2: the exact re-rank is a point fetch — the candidate ids
    // arrive as an In predicate pushed into the source scan
    val servePlan = SQ.searchIndex(spark, path, e, "vec_id", "v", q, "qv", 10, 2,
        RetrievalQueries.sqRerank)
      .queryExecution.executedPlan.toString
    // (the spec corpus is a localCheckpoint, so the predicate shows
    // as an INSET filter on the RDD scan; over parquet — PlanSpec's
    // q114 case — the same predicate lands in PushedFilters)
    assert(servePlan.contains("PushedFilters: [In(vec_id") ||
      servePlan.contains("INSET"),
      s"expected the candidate-id In predicate on the re-rank fetch:\n$servePlan")
  }

  test("pinned SQ8 reads: snapshot across a compaction flip, delete rides the pin, expiry is loud") {
    // the q176 contract at spec scale: the SQ8 pin is the lists half
    // of IVF.currentGeneration (geometry is standing by contract);
    // the pinned serve pairs the superseded lists with their OWN
    // sidecar, so hide-now ≡ remove-later holds across the pin, and a
    // pin two maintenance cycles old fails loudly instead of serving
    // a GC'd generation
    import graft.search.IVF
    val path = java.nio.file.Files.createTempDirectory("graft_sq_pin").toString
    SQ.writeIndex(e, "vec_id", "v", 8, path)
    val q = e.filter(col("vec_id") === 2).select(col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "rank", "score").as[(Long, Long, Double)].collect().toSeq
    IVF.deleteFromIndex(spark, path,
      e.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("id")), "id", countPresent = true)
    val pin0 = IVF.currentGeneration(path)
    val r0 = rows(SQ.searchIndexPinned(spark, path, pin0,
      e, "vec_id", "v", q, "qv", 10, 2, 40))
    assert(r0.forall(_._1 % 7 != 3),
      "the pinned serve must hide the pinned generation's sidecar")
    IVF.compactIndex(spark, path)
    assert(rows(SQ.searchIndexPinned(spark, path, pin0,
      e, "vec_id", "v", q, "qv", 10, 2, 40)) == r0,
      "the pin must serve identically across the flip (grace window)")
    assert(rows(SQ.searchIndex(spark, path,
      e, "vec_id", "v", q, "qv", 10, 2, 40)) == r0,
      "hide-now and remove-later must agree across the pin")
    // one more cycle GC's the pinned generation: loud failure
    IVF.deleteFromIndex(spark, path,
      e.filter(col("vec_id") % 11 === 5).select(col("vec_id").as("id")), "id", countPresent = true)
    IVF.compactIndex(spark, path)
    val dead = intercept[Exception] {
      SQ.searchIndexPinned(spark, path, pin0,
        e, "vec_id", "v", q, "qv", 10, 2, 40).collect()
    }
    assert(dead != null, "an expired pin must fail loudly")
  }

  test("q128Sql interpolates the REAL dial constants, not pre-init zeros") {
    // q128Sql is declared above the sqDim/sqRerank vals it references;
    // it is lazy for exactly this reason, and this case pins the fix:
    // an eager re-declaration would bake generate_series(1, 0) into
    // the oracle and the whole bounds pipeline would go empty
    val sql = RetrievalQueries.q128Sql
    assert(sql.contains(s"generate_series(1, ${RetrievalQueries.sqDim})"))
    assert(sql.contains(s"r <= ${RetrievalQueries.sqRerank}"))
    assert(RetrievalQueries.sqDim == 64 && RetrievalQueries.sqRerank == 40)
  }
}
