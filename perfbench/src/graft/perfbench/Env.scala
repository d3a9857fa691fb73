package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What one workload run hands back to [[Main]]. `metrics` are the
  * end-to-end metrics (name → value, unit); `context` carries the
  * numbers a reader needs to interpret them (sample counts, which
  * percentile the tail is, calibration probes) but that are not
  * metrics. */
final case class Outcome(metrics: Seq[(String, Double, String)],
                         context: Seq[(String, String)])

/** Wall seconds and engine CPU seconds ([[Env.engineCpuS]]) of one
  * timed operation. */
final case class Timing(wallS: Double, cpuS: Double)

/** Shared run state: the session, the tracer, the run's scratch
  * directory, and the attempted/failed ledger every operation and
  * check reports into. */
final class Env(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Double) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val embedder = new graft.embed.PortableHashEmbedder(64)
  val attrEmbedder = new graft.embed.PortableHashEmbedder(Env.AttrDim)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Run `body` with span recording paused (checks and probes that are
    * not part of the workload's layers). */
  def untraced[T](body: => T): T = {
    val on = tracer.enabled
    tracer.enabled = false
    try body finally tracer.enabled = on
  }

  /** Record one check; a false result counts against `error_rate`. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      false
    }
    if (!pass) {
      failed += 1
      if (failures.size < 20) failures += s"check failed: $what"
    }
  }

  /** A point on both clocks, for [[since]]. */
  def now(): (Double, Long) = {
    val cpu = Env.engineCpuS()
    (cpu, System.nanoTime())
  }
  /** The timing since `t0` (the CPU reads stay outside the wall time). */
  def since(t0: (Double, Long)): Timing = {
    val wall = (System.nanoTime() - t0._2) / 1e9
    Timing(wall, Env.engineCpuS() - t0._1)
  }

  /** Run one timed operation; returns its timing, or None when it
    * threw (counted as failed). */
  def op(what: String)(body: => Unit): Option[Timing] = {
    attempted += 1
    val t0 = now()
    try { body; Some(since(t0)) }
    catch { case e: Throwable =>
      failed += 1
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  def dir(name: String): String = s"$work/$name"

  def docsFrame(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.attr)).toDF("doc_id", "text", "atext")
  }

  /** Query batch as (qid, qv), embedded by the engine's distributed
    * embedder (the `embed.query` layer). */
  def queryFrame(qs: Seq[Query]): DataFrame = span("embed.query") {
    import spark.implicits._
    tracer.force(graft.embed.Embed.embedDocs(
        qs.map(q => (q.qid, q.text)).toDF("qid", "text"), "qid", "text", embedder)
      .withColumnRenamed("vec", "qv"))
  }

  /** `(qid, id)` results collected and grouped in rank order. */
  def ranked(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[Long]] =
    rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }
}

object Env {
  val AttrDim = 16
  val K = 10

  /** CPU seconds (user + system, all threads, exited ones included)
    * this JVM has used, less what its JIT compiler threads used. The
    * compilers run beside the engine, not in its path: Spark generates
    * new classes for every new plan, so they keep compiling through the
    * whole run, about half of a cycle's CPU, at a pace the host's load
    * sets. GC threads stay counted: the engine's allocation drives them.
    * Read from /proc in clock ticks (USER_HZ, 100 a second on Linux);
    * the compiler threads are fixed for the JVM's life
    * (-XX:-UseDynamicNumberOfCompilerThreads, set by run.py). 0 where
    * /proc is unreadable. */
  def engineCpuS(): Double =
    (procTicks("/proc/self/stat") - compilerTasks.map(t => procTicks(s"$t/stat")).sum) / 100.0

  private lazy val compilerTasks: Seq[String] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter(t => scala.util.Try {
        val src = scala.io.Source.fromFile(new java.io.File(t, "comm"))
        try src.mkString.contains("CompilerThre") finally src.close()
      }.getOrElse(false))
      .map(_.getPath)

  /** utime + stime of a /proc stat file, in clock ticks. */
  private def procTicks(path: String): Long = scala.util.Try {
    val src = scala.io.Source.fromFile(path)
    val line = try src.mkString finally src.close()
    // fields after the parenthesised command name; utime and stime
    // are fields 14 and 15 of the whole line
    val f = line.substring(line.lastIndexOf(')') + 2).trim.split(" ")
    f(11).toLong + f(12).toLong
  }.getOrElse(0L)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples
    * beyond it, and its value (nearest rank). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.size
    val p = Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)
    val idx = math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))
    (p, if (n == 0) Double.NaN else s(idx))
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(path))
  }

  def fileCount(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path))
  }

  /** Order-independent content hash of a frame (sum of row hashes),
    * with the row count — two builds of one corpus must agree. */
  def contentHash(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.sorted.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").cast("decimal(38,0)")), lit(BigDecimal(0))).cast("string"))
      .head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}
