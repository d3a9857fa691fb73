package graft.perfbench

import scala.collection.mutable

/** Span recorder for the traced run.
  *
  * A span wraps one call into an engine layer. Spans nest (a stack, not
  * a thread-local one: the client is one thread, and the only other
  * thread that opens spans is a streaming drain's micro-batch thread
  * while the client blocks on it). Every Spark job submitted inside a
  * span is attributed to it through the `perfbench.span` local
  * property; jobs submitted from Spark's own pools (broadcast
  * exchanges, AQE stages) inherit the property or are mapped through
  * their SQL execution root id by [[JobListener]].
  *
  * With tracing off, [[span]] is a plain call: no clock reads, no
  * property writes, no forcing.
  */
final class Tracer(sc: org.apache.spark.SparkContext, var enabled: Boolean) {
  final class Span(val id: Int, val name: String, val parent: Int,
                   val t0Ms: Long, val t0Ns: Long) {
    var t1Ms = 0L
    var durNs = 0L
    var childNs = 0L
    val childIv = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val sp = new Span(spans.size, name, stack.headOption.fold(-1)(_.id),
          System.currentTimeMillis(), System.nanoTime())
        spans += sp
        stack = sp :: stack
        sp
      }
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(Tracer.Prop, prevProp)
        synchronized {
          s.durNs = System.nanoTime() - s.t0Ns
          s.t1Ms = System.currentTimeMillis()
          stack = stack.tail
          stack.headOption.foreach { p =>
            p.childNs += s.durNs
            p.childIv += ((s.t0Ms, s.t1Ms))
          }
        }
      }
    }

  private val counters = mutable.Map.empty[(String, String), Double]

  /** Add `v` to the run's counter `key` of layer `name` (no-op when
    * tracing is off). Counters are the numerators and bases of the
    * per-layer ratios. */
  def count(name: String, key: String, v: Double): Unit =
    if (enabled) synchronized {
      counters((name, key)) = counters.getOrElse((name, key), 0.0) + v
    }

  def counter(name: String, key: String): Double =
    synchronized(counters.getOrElse((name, key), 0.0))

  /** Force a lazy layer output inside a traced span, so the span's
    * time is its own work and not the consumer's. Untraced runs stay
    * lazy, as a user's call is. */
  def force(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (enabled) df.localCheckpoint() else df

  def recorded: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val Prop = "perfbench.span"
}

/** One finished Spark job, reduced to what the per-layer stats need. */
final case class JobRec(jobId: Int, span: Int, t0Ms: Long, t1Ms: Long,
                        stages: Int, tasks: Int, shuffleBytes: Long,
                        rowsRead: Long)

/** Job-attributing listener: records every job's span, wall interval,
  * stage and task counts, shuffle bytes written and input rows read.
  * A job with no span property (submitted from a pool thread that did
  * not inherit it) is attributed through its SQL execution root id to
  * the span of another job of the same execution. */
final class JobListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private final case class Open(span: Option[Int], root: Option[String],
                                t0: Long, stageIds: Seq[Int])
  private val open = mutable.Map.empty[Int, Open]
  private val stageTasks = mutable.Map.empty[Int, Int]
  private val stageShuffle = mutable.Map.empty[Int, Long]
  private val stageRows = mutable.Map.empty[Int, Long]
  private val rootSpan = mutable.Map.empty[String, Int]
  private val done = mutable.ArrayBuffer.empty[(Open, Int, Long)]

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop(Tracer.Prop).map(_.toInt)
    val root = prop("spark.sql.execution.root.id")
      .orElse(prop("spark.sql.execution.id"))
    for (r <- root; s <- span) rootSpan.getOrElseUpdate(r, s)
    open(js.jobId) = Open(span, root, js.time, js.stageIds)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageTasks(te.stageId) = stageTasks.getOrElse(te.stageId, 0) + 1
    Option(te.taskMetrics).foreach { m =>
      stageShuffle(te.stageId) = stageShuffle.getOrElse(te.stageId, 0L) +
        m.shuffleWriteMetrics.bytesWritten
      stageRows(te.stageId) = stageRows.getOrElse(te.stageId, 0L) +
        m.inputMetrics.recordsRead
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    open.remove(je.jobId).foreach(o => done += ((o, je.jobId, je.time)))
  }

  /** Finished jobs with spans resolved (-1: outside every span). */
  def jobs: Seq[JobRec] = synchronized {
    done.toList.map { case (o, id, t1) =>
      val span = o.span.orElse(o.root.flatMap(rootSpan.get)).getOrElse(-1)
      JobRec(id, span, o.t0, t1, o.stageIds.size,
        o.stageIds.map(stageTasks.getOrElse(_, 0)).sum,
        o.stageIds.map(stageShuffle.getOrElse(_, 0L)).sum,
        o.stageIds.map(stageRows.getOrElse(_, 0L)).sum)
    }
  }
}
