package graft

import graft.functions.VectorF._
import org.apache.spark.sql.functions._

/** V1–V9 vector scalar functions (SURVEY §2.3). */
class VectorFSpec extends SparkSpec {
  import spark.implicits._

  private def vecDf(vs: Seq[Seq[Double]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")

  test("l2normalize produces unit vectors and is idempotent") {
    val df = vecDf(Seq(Seq(3.0, 4.0), Seq(0.5, 0.5), Seq(10.0, 0.0)))
    val norms = df.select(norm2(l2normalize(col("v"))).as("n")).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-6))
    val twice = df.select(
      zip_with(l2normalize(l2normalize(col("v"))), l2normalize(col("v")),
        (a, b) => abs(a - b)).as("d"))
      .select(array_max(col("d"))).as[Double].collect()
    twice.foreach(d => assert(d < 1e-9))
  }

  test("l2normalize of the zero vector stays zero (epsilon guard)") {
    val r = vecDf(Seq(Seq(0.0, 0.0)))
      .select(array_max(l2normalize(col("v")))).as[Double].head()
    assert(r == 0.0)
  }

  test("dot matches hand computation and is symmetric") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val (ab, ba) = df.select(dot(col("a"), col("b")), dot(col("b"), col("a")))
      .as[(Double, Double)].head()
    assert(ab == 32.0 && ba == 32.0)
  }

  test("cosine is bounded by 1 in magnitude (Cauchy–Schwarz)") {
    val df = vecDf(Seq(Seq(1.0, 2.0, -3.0), Seq(-5.0, 0.1, 2.0), Seq(7.0, 7.0, 7.0)))
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(cosine(col("a.v"), col("b.v")).as("c")).as[Double].collect()
    pairs.foreach(c => assert(c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9))
  }

  test("weightedConcat doubles dimension and scales parts") {
    val df = Seq((Seq(1.0, 1.0), Seq(2.0, 2.0))).toDF("a", "b")
    val out = df.select(weightedConcat(col("a"), 0.7, col("b"), 0.3).as("w"))
      .as[Seq[Double]].head()
    assert(out == Seq(0.7, 0.7, 0.6, 0.6))
  }

  test("addNoise is deterministic, unit-norm, and id-dependent") {
    val df = vecDf(Seq(Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0)))
    val out = df.select(col("id"), addNoise(col("v"), col("id"), 0.15).as("n"))
      .orderBy("id").as[(Long, Seq[Double])].collect()
    // unit norm
    out.foreach { case (_, n) =>
      assert(math.abs(math.sqrt(n.map(x => x * x).sum) - 1.0) < 1e-6)
    }
    // different ids -> different noise
    assert(out(0)._2 != out(1)._2)
    // re-evaluation identical (pure hash, no rand())
    val again = df.select(col("id"), addNoise(col("v"), col("id"), 0.15).as("n"))
      .orderBy("id").as[(Long, Seq[Double])].collect()
    assert(out.toSeq == again.toSeq)
  }

  test("randomProjection has target dim and is linear in v") {
    val df = Seq((Seq(1.0, 2.0, 3.0, 4.0), Seq(2.0, 4.0, 6.0, 8.0))).toDF("v", "v2")
    val (p1, p2) = df.select(randomProjection(col("v"), 3).as("p1"),
        randomProjection(col("v2"), 3).as("p2"))
      .as[(Seq[Double], Seq[Double])].head()
    assert(p1.size == 3)
    p1.zip(p2).foreach { case (a, b) => assert(math.abs(b - 2 * a) < 1e-9) }
  }

  test("native DotProduct is bit-identical to the HOF formulation on real embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 3).select(col("v").as("qv"))
    val diffs = emb.crossJoin(q)
      .select((dot(col("v"), col("qv")) - dotHof(col("v"), col("qv"))).as("d"))
      .as[Double].collect()
    // same left-to-right double accumulation -> exactly zero, not epsilon
    diffs.foreach(d => assert(d == 0.0))
  }

  test("DotProduct reads array<float> directly: bit-identical to the double-cast HOF, interpreted and codegen'd") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding").as("f"))
    val q = emb.limit(1).select(col("f").as("g"), col("f").cast("array<double>").as("d"))
    val edge = spark.sql("""SELECT * FROM VALUES
        (array(CAST(0.1 AS FLOAT), CAST(NULL AS FLOAT)),
         array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), array(0.3D, 0.7D)),
        (array(CAST(0.1 AS FLOAT), CAST(0.2 AS FLOAT)),
         array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT)), array(0.3D, CAST(NULL AS DOUBLE))),
        (array(CAST(0.1 AS FLOAT)),
         array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), array(0.3D, 0.1D)),
        (CAST(NULL AS ARRAY<FLOAT>), array(CAST(1 AS FLOAT)), CAST(NULL AS ARRAY<DOUBLE>))
      AS t(f, g, d)""")
    // through parquet, so the projection is planned (and codegen'd),
    // not folded over a local relation
    val path = java.nio.file.Files.createTempDirectory("graft_fdot").toString
    emb.crossJoin(q).unionByName(edge).write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path)
    def bits(c: org.apache.spark.sql.Column): Seq[Option[Long]] =
      rows.select(c.as("x")).as[Option[Double]].collect().toSeq
        .map(_.map(java.lang.Double.doubleToRawLongBits))
    def check(mode: String): Unit =
      Seq(("f", "g"), ("f", "d"), ("d", "f")).foreach { case (a, b) =>
        val fused = bits(dot(col(a), col(b)))
        assert(fused == bits(dotHof(toDouble(col(a)), toDouble(col(b)))), s"$mode ${a}·$b")
        assert(fused.count(_.isEmpty) == 4, s"$mode ${a}·$b: the NULL cases")
      }
    check("codegen")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check("interpreted")
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // the fused dot reads the float column as stored: no cast to
    // array<double> in the plan
    val p = rows.select(dot(col("f"), col("g"))).queryExecution.executedPlan.toString
    assert(p.contains("graft_dot(f#") && !p.contains("as array<double>"), p)
  }

  test("DotProduct casts an array<int> input to double, never to float") {
    val df = Seq((Seq(1, 2, 3), Seq(0.5f, 0.25f, 0.125f))).toDF("i", "f")
    val e = df.select(dot(col("i"), col("f")).as("x"))
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val elems = e.queryExecution.analyzed.expressions.flatMap(_.collect {
      case d: org.apache.spark.sql.graftnative.DotProduct => d.children.map(_.dataType)
    }).flatten.collect { case ArrayType(t, _) => t }
    assert(elems == Seq(DoubleType, FloatType))
    assert(e.as[Double].head() == 0.5 + 0.5 + 0.375)
  }

  test("planeCoef gives distinct hyperplanes across bits") {
    val df = spark.range(0, 32).toDF("i")
    val planes = (0 until 12).map { b =>
      df.select(planeCoef(col("i"), lit(b.toLong)).as("c")).as[Double].collect().toSeq
    }
    assert(planes.distinct.size == 12)
  }

  test("planeVec literal equals planeCoef column evaluation bit-for-bit") {
    val df = spark.range(0, 64).toDF("i")
    (0 until 12).foreach { b =>
      val colForm =
        df.select(planeCoef(col("i"), lit(b.toLong)).as("c")).as[Double].collect().toSeq
      assert(planeVec(64, b) == colForm, s"plane $b diverges")
    }
  }

  test("lshBucket literal-plane path: raises on dim mismatch, matches HOF semantics") {
    import graft.search.Search
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // reference HOF formulation, inlined (the shape lshBucket replaced)
    def hofBucket(v: org.apache.spark.sql.Column, nBits: Int): org.apache.spark.sql.Column =
      (0 until nBits).map { b =>
        val proj = aggregate(
          zip_with(v, sequence(lit(0L), size(v).cast("long") - 1L),
            (x, i) => x * planeCoef(i, lit(b.toLong))),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    val diff = emb.select(
        (Search.lshBucket(col("v"), 6, 64) - hofBucket(col("v"), 6)).as("d"))
      .filter(col("d") =!= 0).count()
    assert(diff == 0)
    val ragged = Seq((1L, Seq(0.1, 0.2))).toDF("id", "v")
    val e = intercept[Exception] {
      ragged.select(Search.lshBucket(col("v"), 4, 64)).collect()
    }
    assert(e.getMessage != null)
  }

  test("native L2Normalize is bit-identical to the HOF formulation on real embeddings") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val diff = emb.select(
        zip_with(l2normalize(col("v")), l2normalizeHof(col("v")),
          (a, b) => when(a === b, 0).otherwise(1)).as("d"))
      .select(aggregate(col("d"), lit(0), (acc, x) => acc + x).as("nd"))
      .filter(col("nd") =!= 0).count()
    assert(diff == 0)
    // NULL contract: null vector -> null; null element -> all-null
    // elements of the same length (what zip_with against a null-norm
    // repeat produces)
    val withNulls = Seq(
      (1L, Some(Seq[java.lang.Double](3.0, 4.0))),
      (2L, None),
      (3L, Some(Seq[java.lang.Double](1.0, null)))).toDF("id", "v")
    val got = withNulls.select(col("id"), l2normalize(col("v")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1))).toMap
    assert(got(2L) == null)
    assert(got(3L).asInstanceOf[Seq[Any]] == Seq(null, null))
    val n1 = got(1L).asInstanceOf[Seq[Double]]
    assert(math.abs(n1.head - 3.0 / (5.0 + 1e-9)) < 1e-15)
  }

  test("lshBucket: NULL vector buckets to NULL instead of raising") {
    import graft.search.Search
    val df = Seq((1L, Some(Seq.fill(64)(0.1))), (2L, None))
      .toDF("id", "v")
    val got = df.select(col("id"), Search.lshBucket(col("v"), 4, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!got(1L) && got(2L))
  }
}
