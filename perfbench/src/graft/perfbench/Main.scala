package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *        --work DIR [--trace-out FILE]
  *
  * Generates the workload's inputs from the seed, sets up, warms up,
  * measures a closed loop with one client for S seconds, checks every
  * output, and prints one JSON result as the last stdout line: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Exits 1 when any operation or check failed.
  *
  * Launched by `perfbench/run.py`, which keeps this process's stdin
  * open for the whole run; the run halts (exit 3) when stdin closes. */
object Main {
  /** Workload sizes, bounded by the time budget of one run: session
    * start, set-up, warm-up, calibration and the measured window
    * together stay near one minute on 4 cores. 2,000 docs is the
    * reference's corpus: MTSamples is about 5k notes, 2-3k after its
    * text dedup (SURVEY.md section 6). */
  val ServeDocs = 2000
  val ServeParams = IndexParams(ivfK = 32, refineIters = 2, graphParts = 8, nprobe = 16)
  val IngestDocs = 2000
  val IngestParams = ServeParams
  val IngestBatch = 200
  /** Spark's task threads. Every operation is bound by per-action
    * overhead, so two threads run it as fast as four (measured 5.3-5.9 s
    * per ingest cycle at one, two and four), and they leave the rest of
    * a 4-core host to the driver, GC and JIT threads instead of
    * contending with them. */
  val Cores = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    require(Set("serve", "ingest")(workload), s"unknown workload $workload")

    // the launcher holds stdin open for the whole run: end-of-file
    // means it is gone, and the run must not outlive it
    val orphanGuard = new Thread(() => {
      while (System.in.read() >= 0) {}
      Runtime.getRuntime.halt(3)
    })
    orphanGuard.setDaemon(true)
    orphanGuard.start()

    val t0 = System.nanoTime()
    val cpus = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    val listener = new JobListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, traced)
    val env = new Env(spark, tracer, work, seed, seconds)
    val w0 = System.nanoTime()
    val jiffies0 = cpuJiffies()
    val outcome = try {
      Some(workload match {
        case "serve" => new Serve(env, ServeDocs, ServeParams).run(sessionS)
        case "ingest" => new IngestLoad(env, IngestDocs, IngestParams, IngestBatch).run(sessionS)
      })
    } catch { case e: Throwable =>
      env.attempted += 1; env.failed += 1
      env.failures += s"$workload: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      e.printStackTrace()
      None
    }
    val wallS = (System.nanoTime() - w0) / 1e9
    // share of the run's CPU time the hypervisor gave to other guests:
    // the host's load, which moves every wall time of the run
    val steal = for ((st0, all0) <- jiffies0; (st1, all1) <- cpuJiffies() if all1 > all0)
      yield (st1 - st0).toDouble / (all1 - all0)
    val e2e = outcome.map(_.metrics).getOrElse(Nil)
    // a metric without samples means the loop measured nothing: a failure
    if (outcome.isDefined && e2e.exists(m => m._2.isNaN || m._2.isInfinite || m._2 <= 0)) {
      env.attempted += 1; env.failed += 1
      env.failures += s"metric without a valid value: ${e2e.filter(m => m._2.isNaN || m._2 <= 0).map(_._1)}"
    }
    val correct = outcome.isDefined && env.failed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val report = Layers.report(tracer, listener.jobs)
        opts.get("trace-out").foreach(f => Json.write(f, Json.obj(
          "workload" -> Json.str(workload), "seed" -> seed.toString,
          "wall_s" -> wallS.toString,
          "traced_end_to_end" -> Json.obj(e2e.map(m => m._1 -> Json.num(m._2)): _*),
          "spans" -> report.spansJson,
          "coverage" -> report.coverageJson(wallS))))
        report.metrics
      }
    val context = outcome.map(_.context).getOrElse(Nil) ++ Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (traced) "1" else "0"), "cores" -> cpus.toString,
      "session_start_s" -> sessionS.toString,
      "host_steal_share" -> steal.fold("n/a")(_.toString),
      "error_rate" -> (env.failed.toDouble / math.max(1, env.attempted)).toString) ++
      (if (traced) e2e.map(m => s"traced.${m._1}" -> m._2.toString) else Nil)
    println(Json.obj("context" -> Json.obj(context.map { case (k, v) => k -> Json.str(v) }: _*),
      "failures" -> Json.arr(env.failures.toSeq.map(Json.str))))
    spark.stop()
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> env.attempted.toString,
      "failed" -> env.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** (steal, total) CPU time of the machine since boot, in jiffies,
    * from the first line of /proc/stat; None where it is unreadable. */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
              finally src.close()
      Some((if (f.length == 8) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }
}

/** Minimal JSON text builders (values are pre-rendered strings). */
object Json {
  def str(s: String): String = graft.Bench.jstr(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kvs: (String, String)*): String = kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, (text + "\n").getBytes("UTF-8"))
  }
}
