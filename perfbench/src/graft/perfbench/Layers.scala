package graft.perfbench

/** Per-layer metrics of a traced run, named `<span>.<stat>`.
  *
  * Per call of a span: `self_s` (median wall time minus child spans),
  * `jobs` (mean Spark jobs attributed to the span itself), `gap_s`
  * (median self time not covered by any of the span's own jobs:
  * planning, commit and file operations, loops on the Spark driver).
  * The extra stats `shuffle_mb` (mean shuffle MB written per call) and
  * `rows_read` (mean input rows per call) are kept for the spans an
  * optimisation of scans or exchanges would move. Spans a workload
  * never opens report 0. */
object Layers {
  val Spans: Seq[String] = Seq(
    // serve
    "embed.query", "search.exact", "search.dp", "ivf.search", "graph.search",
    "lexical.search", "hybrid.rrf", "hybrid.mmr",
    // build
    "embed.corpus", "ivf.train", "ivf.assign_write", "graph.build", "lexical.build",
    "dedup.build",
    // ingest
    "streaming.drain", "dedup.gate", "embed.delta", "ivf.append", "lexical.append",
    "ivf.delete", "lexical.delete", "dedup.delete", "ivf.compact", "lexical.compact",
    "dedup.compact")
  val WithIo: Set[String] = Set("search.exact", "search.dp", "ivf.search", "graph.search",
    "lexical.search", "ivf.train", "ivf.assign_write", "graph.build", "ivf.compact", "dedup.gate")
  val Ratios: Seq[(String, String)] = Seq(
    "ivf.search.rows_per_result" -> "rows/result",
    "graph.search.rows_per_result" -> "rows/result",
    "lexical.search.rows_per_result" -> "rows/result",
    "dedup.gate.admit_ratio" -> "ratio",
    "ivf.compact.count" -> "1/cycle",
    "ivf.append.files_written" -> "files/call")

  final case class Stat(name: String, calls: Int, selfS: Seq[Double], durS: Double,
                        jobs: Int, gapS: Seq[Double], shuffleBytes: Long, rowsRead: Long,
                        tasks: Long, stages: Long)

  final class Report(val stats: Map[String, Stat], val unattributedJobs: Int,
                     val metrics: Seq[(String, Double, String)]) {
    def spansJson: String = Json.obj(stats.toSeq.sortBy(_._1).map { case (n, s) =>
      n -> Json.obj("calls" -> s.calls.toString, "self_s_total" -> Json.num(s.selfS.sum),
        "wall_s_total" -> Json.num(s.durS), "jobs_total" -> s.jobs.toString,
        "stages_total" -> s.stages.toString, "tasks_total" -> s.tasks.toString,
        "gap_s_total" -> Json.num(s.gapS.sum), "shuffle_bytes_total" -> s.shuffleBytes.toString,
        "rows_read_total" -> s.rowsRead.toString)
    }: _*)
    /** How much of the run's wall time the spans' self times account
      * for; the remainder is set-up outside spans, checks and the
      * harness. */
    def coverageJson(wallS: Double): String = {
      val self = stats.values.map(_.selfS.sum).sum
      Json.obj("run_wall_s" -> Json.num(wallS), "span_self_s" -> Json.num(self),
        "share" -> Json.num(self / wallS), "unattributed_jobs" -> unattributedJobs.toString)
    }
  }

  def report(tracer: Tracer, jobs: Seq[JobRec]): Report = {
    val spans = tracer.recorded
    val bySpan = jobs.groupBy(_.span)
    /** Length of [t0, t1] not covered by any of `ivs`. */
    def uncovered(t0: Long, t1: Long, ivs: Seq[(Long, Long)]): Long = {
      var cursor = t0; var gap = 0L
      for ((a, b) <- ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
             .filter { case (a, b) => b > a }.sortBy(_._1)) {
        if (a > cursor) gap += a - cursor
        cursor = math.max(cursor, b)
      }
      gap + math.max(0L, t1 - cursor)
    }
    val stats = spans.groupBy(_.name).map { case (name, ss) =>
      val own = ss.flatMap(s => bySpan.getOrElse(s.id, Nil))
      name -> Stat(name, ss.size,
        ss.map(s => (s.durNs - s.childNs) / 1e9), ss.map(_.durNs / 1e9).sum, own.size,
        ss.map(s => uncovered(s.t0Ms, s.t1Ms,
          s.childIv.toSeq ++ bySpan.getOrElse(s.id, Nil).map(j => (j.t0Ms, j.t1Ms))) / 1e3),
        own.map(_.shuffleBytes).sum, own.map(_.rowsRead).sum,
        own.map(_.tasks.toLong).sum, own.map(_.stages.toLong).sum)
    }
    def per(n: String)(f: Stat => Double): Double =
      stats.get(n).filter(_.calls > 0).fold(0.0)(f)
    def ratio(num: Double, den: Double): Double = if (den > 0) num / den else 0.0
    val base = Spans.flatMap { n =>
      Seq((s"$n.self_s", per(n)(s => Env.median(s.selfS)), "s"),
        (s"$n.jobs", per(n)(s => s.jobs.toDouble / s.calls), "count"),
        (s"$n.gap_s", per(n)(s => Env.median(s.gapS)), "s")) ++
        (if (WithIo(n)) Seq(
          (s"$n.shuffle_mb", per(n)(s => s.shuffleBytes / 1e6 / s.calls), "MB"),
          (s"$n.rows_read", per(n)(s => s.rowsRead.toDouble / s.calls), "count"))
         else Nil)
    }
    def rowsPerResult(n: String) =
      ratio(per(n)(_.rowsRead.toDouble), tracer.counter(n, "results"))
    val ratios = Seq(
      rowsPerResult("ivf.search"), rowsPerResult("graph.search"), rowsPerResult("lexical.search"),
      ratio(tracer.counter("dedup.gate", "admitted"), tracer.counter("dedup.gate", "offered")),
      ratio(tracer.counter("ivf.compact", "count"), tracer.counter("ingest", "cycles")),
      ratio(tracer.counter("ivf.append", "files_written"), per("ivf.append")(_.calls.toDouble)))
    new Report(stats, bySpan.getOrElse(-1, Nil).size,
      base ++ Ratios.zip(ratios).map { case ((n, u), v) => (n, v, u) })
  }
}
