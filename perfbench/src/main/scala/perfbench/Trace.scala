package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, as seen from the benchmark. Times are epoch
  * nanoseconds so they line up with Spark's job event times. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Tracer {
  /** Spark local property carrying the enclosing span id into every job. */
  val SpanKey = "perfbench.span"

  /** Self time per layer: a span's duration minus the part of it its child
    * spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> (s.durNs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Records a span around every call the benchmark makes into a layer, and
  * tags the Spark jobs a call starts with the span's id. With tracing off a
  * span is just its body. Spans stay in memory until the run writes them. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        spans += Span(id, parent, layer, name, t0, now())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }
}

/** Spark-side counters per span: jobs, stages, tasks and task metrics,
  * attributed through the span id each job carries. */
final class SpanCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs = 0L
    var inputBytes, outputBytes, outputRecords = 0L
    def +=(o: C): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
      inputBytes += o.inputBytes; outputBytes += o.outputBytes
      outputRecords += o.outputRecords
    }
  }
  private val bySpan = mutable.Map.empty[Int, C]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  private def c(span: Int) = bySpan.getOrElseUpdate(span, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
    c(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = c(stageSpan.getOrElse(e.stageId, 0))
    x.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.runMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.gcMs += m.jvmGCTime
      x.inputBytes += m.inputMetrics.bytesRead
      x.outputBytes += m.outputMetrics.bytesWritten
      x.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Counters summed over the given spans. */
  def sum(spans: Set[Int]): C = synchronized {
    val out = new C
    bySpan.foreach { case (s, x) => if (spans.contains(s)) out += x }
    out
  }
}

/** Catalyst phase times of every query that ran, from each
  * `QueryExecution.tracker`. */
final class PhaseTimes extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phase match {
        case "analysis" => analysisMs += s.durationMs
        case "optimization" => optimizationMs += s.durationMs
        case "planning" => planningMs += s.durationMs
        case _ => ()
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}
