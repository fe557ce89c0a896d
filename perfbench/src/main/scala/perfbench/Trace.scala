package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One clock for spans and Spark events: milliseconds since the epoch, with
  * the sub-millisecond part taken from `nanoTime`. Spark stamps its events
  * with `currentTimeMillis`, so both land on the same axis. */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** Seconds `body` took. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** Spans around the calls the benchmark makes into the program, kept in
  * memory and written out when the run ends. A disabled trace runs the body
  * and records nothing, so untraced runs pay no tracing cost.
  *
  * Spark jobs are linked to the innermost open span through two local
  * properties, which Spark copies onto every job the thread starts. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  /** Runs `body` as a span of `layer`. A span opened with a `req` starts a
    * new request; nested spans inherit the request of their parent. */
  def span[A](layer: String, name: String, req: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val request = Option(req).orElse(stack.headOption.map(_._2)).getOrElse("")
      val id = ids.incrementAndGet()
      open.set((id, request) :: stack)
      setProps(id.toString, request)
      val t0 = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, parent, request, layer, name, t0, Clock.nowMs))
        open.set(stack)
        stack.headOption match {
          case Some((p, r)) => setProps(p.toString, r)
          case None => setProps(null, null)
        }
      }
    }

  private def setProps(span: String, req: String): Unit = if (sc != null) {
    sc.setLocalProperty(SpanProp, span)
    sc.setLocalProperty(ReqProp, req)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Trace {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"

  final case class Span(id: Long, parent: Long, req: String, layer: String,
      name: String, t0: Double, t1: Double) {
    def json: Map[String, Any] = Map("id" -> id, "parent" -> parent, "req" -> req,
      "layer" -> layer, "name" -> name, "t0" -> t0, "t1" -> t1)
  }
}

/** Records every Spark job with the span that started it and the summed
  * metrics of its tasks. Registered only for traced runs. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: String, val req: String, val t0: Double) {
    var t1: Double = Double.NaN
    var ok = true
    var tasks = 0L
    var taskMs = 0L        // launch to finish, summed over tasks
    var runMs = 0L         // executor run time, summed over tasks
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var resultBytes = 0L
    var outputBytes = 0L
    def json: Map[String, Any] = Map("id" -> id, "span" -> span, "req" -> req,
      "t0" -> t0, "t1" -> t1, "ok" -> ok, "tasks" -> tasks, "task_ms" -> taskMs,
      "run_ms" -> runMs, "input_bytes" -> inputBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "result_bytes" -> resultBytes,
      "output_bytes" -> outputBytes)
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, prop(Trace.SpanProp), prop(Trace.ReqProp), e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.t1 = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def all: Seq[Job] = synchronized(jobs.values.toList)
}
