package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** In-memory span tracer for the benchmark's own calls into the engine.
  *
  * A span wraps one call into a module's public entry point. Spans nest
  * through a single stack: the benchmark is one closed-loop client, and
  * the only other thread that opens spans (a stream's `foreachBatch`) runs
  * while the client blocks on that stream, so at most one thread is inside
  * a span at a time.
  *
  * Task counters reach a span through the SparkContext local property
  * [[Prop]], which [[span]] sets on whichever thread enters it (the client
  * thread, or the stream thread inside `foreachBatch`). The engine
  * overwrites `spark.job.description` in its own job wrappers, so that
  * property cannot carry the span id. Counters are attributed to the
  * innermost span and rolled up to its ancestors when read. */
object Trace {
  val Prop = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Option[Span],
                   val op: Int, val startNs: Long) {
    var endNs = 0L
    var cpuNs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var inputRows = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Whether spans are recorded; toggled per op by the run loop. */
  @volatile var enabled = false
  @volatile var op = -1
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  // Job intervals in System.nanoTime units, for driver-only time.
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // Listener times are epoch millis; spans use nanoTime.
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def install(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .foreach(id => byId(id.toInt).foreach(stageSpan.put(e.stageInfo.stageId, _)))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { t0 =>
          Trace.synchronized {
            jobIntervals += ((t0 * 1000000L + epochToNano, e.time * 1000000L + epochToNano))
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stageSpan.get(e.stageId)
        val m = e.taskMetrics
        if (s != null && m != null) s.synchronized {
          s.cpuNs += m.executorCpuTime
          s.tasks += 1
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
        }
      }
    })
  }

  private def byId(id: Int): Option[Span] = synchronized(spans.lift(id))

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, stack.headOption, op, System.nanoTime())
        spans += s
        stack = s :: stack
        s
      }
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(Prop, prev)
        synchronized { stack = stack.dropWhile(_ ne s).drop(1) }
      }
    }

  /** Per-name totals over all recorded spans, counters rolled up to
    * ancestors. `driverMs` is span time during which no Spark job ran;
    * `selfMs` is span time not covered by child spans. */
  final case class Totals(var n: Long = 0, var ms: Double = 0, var selfMs: Double = 0,
                          var driverMs: Double = 0, var cpuMs: Double = 0,
                          var tasks: Long = 0, var shuffleBytes: Long = 0)

  def totals(): (Map[String, Totals], Long, Long) = {
    PerfbenchBus.drain(sc)
    synchronized {
      val jobs = mergeIntervals(jobIntervals.toSeq)
      val children = spans.groupBy(_.parent.map(_.id))
      val out = mutable.Map.empty[String, Totals]
      def rolled(s: Span): (Long, Long, Long) =
        children.getOrElse(Some(s.id), Nil).map(rolled)
          .foldLeft((s.cpuNs, s.tasks, s.shuffleBytes)) {
            case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
          }
      spans.foreach { s =>
        val t = out.getOrElseUpdate(s.name, Totals())
        val (cpu, tasks, shuffle) = rolled(s)
        val childMs = children.getOrElse(Some(s.id), Nil).map(_.ms).sum
        t.n += 1
        t.ms += s.ms
        t.selfMs += s.ms - childMs
        t.driverMs += s.ms - overlapNs(jobs, s.startNs, s.endNs) / 1e6
        t.cpuMs += cpu / 1e6
        t.tasks += tasks
        t.shuffleBytes += shuffle
      }
      (out.toMap, spans.map(_.inputBytes).sum, spans.map(_.inputRows).sum)
    }
  }

  /** Write every span as one JSON line: id, name, parent, op, start and
    * end (ms since the first span) and its own task counters. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent.map(_.id.toString).getOrElse("null")}, """ +
        f""""op": ${s.op}, "start_ms": ${(s.startNs - t0) / 1e6}%.3f, "end_ms": ${(s.endNs - t0) / 1e6}%.3f, """ +
        f""""cpu_ms": ${s.cpuNs / 1e6}%.3f, "tasks": ${s.tasks}, "shuffle_bytes": ${s.shuffleBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Milliseconds per op covered by top-level spans, keyed by op id. */
  def topLevelMsByOp(): Map[Int, Double] = synchronized {
    spans.filter(_.parent.isEmpty).groupBy(_.op).view.mapValues(_.map(_.ms).sum).toMap
  }

  private def mergeIntervals(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def overlapNs(merged: Seq[(Long, Long)], s: Long, e: Long): Long =
    merged.iterator.map { case (a, b) => math.max(0L, math.min(b, e) - math.max(a, s)) }.sum
}
