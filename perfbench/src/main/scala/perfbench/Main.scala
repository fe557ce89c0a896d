package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** What a workload gets to run with. `work` is a scratch directory that the
  * run owns. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, trace: Trace, cores: Int)

/** Outcomes of the measured phase: one entry per timed operation (times on
  * the [[Clock]] axis), every failed check by name, and named scalars. */
final class Record {
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val failures = new ConcurrentLinkedQueue[Map[String, Any]]()
  val values = TrieMap.empty[String, Double]
  val attempted = new AtomicLong(0)

  /** A timed operation. `due` is when it should have started (open loop),
    * `start` when a sender picked it up, `end` when its result arrived. */
  def op(kind: String, due: Double, start: Double, end: Double, ok: Boolean): Unit =
    ops.add(Map("kind" -> kind, "due" -> due, "start" -> start, "end" -> end, "ok" -> ok))

  /** A checked operation; a false `ok` counts as a failure named `name`. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted.incrementAndGet()
    if (!ok) failures.add(Map("name" -> name, "detail" -> detail))
    ok
  }

  def add(name: String, v: Double): Unit = values.updateWith(name)(o => Some(o.getOrElse(0.0) + v))

  def json: Map[String, Any] = Map("ops" -> ops.asScala.toSeq,
    "failures" -> failures.asScala.toSeq, "values" -> values.toMap,
    "attempted" -> attempted.get())
}

trait Workload {
  /** One complete set-up from nothing. Returns named part times in seconds. */
  def setup(): Map[String, Double]
  /** The measured phase, run against the latest set-up. */
  def measure(seconds: Double, rec: Record): Unit
  /** Releases what the set-ups hold (pins, caches). */
  def close(): Unit
}

/** Runs one workload and writes a JSON record of raw samples to `--out`;
  * `perfbench/run.py` turns the record into metrics.
  *
  * Untraced: three set-ups (the median is `setup_s`), then the measured
  * phase. Traced: an untraced pass (two set-ups, the first of which warms
  * the JVM, and the measured phase), then a pass with spans and the job
  * listener on (one set-up and the measured phase), so the record carries
  * both sides of the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val passes = if (traced) Seq(false, true) else Seq(false)
    val results = passes.map { tracedPass =>
      val trace = new Trace(tracedPass)
      trace.attach(sc)
      val listener = if (tracedPass) Some(new JobListener) else None
      listener.foreach(sc.addSparkListener)
      val ctx = Ctx(spark, seed, s"$work/${if (tracedPass) "traced" else "plain"}", trace, cores)
      val wl: Workload = name match {
        case "serve" => new Serve(ctx)
        case "ingest" => new Ingest(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      val setups = (1 to (if (tracedPass) 1 else if (traced) 2 else 3)).map { _ =>
        val t0 = Clock.nowMs
        val parts = wl.setup()
        parts + ("total_s" -> (Clock.nowMs - t0) / 1e3)
      }
      val rec = new Record
      val gc0 = gcMs()
      val t0 = Clock.nowMs
      wl.measure(seconds, rec)
      val t1 = Clock.nowMs
      val gc1 = gcMs()
      val heapMb = retainedHeapMb()
      listener.foreach { l => BenchBus.drain(sc); sc.removeSparkListener(l) }
      wl.close()
      Map("traced" -> tracedPass, "setups" -> setups, "measure_t0" -> t0,
        "measure_t1" -> t1, "gc_ms" -> (gc1 - gc0), "retained_heap_mb" -> heapMb,
        "record" -> rec.json,
        "spans" -> trace.all.map(_.json),
        "jobs" -> listener.map(_.all.map(_.json)).getOrElse(Nil))
    }
    val out = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "passes" -> results)
    Files.write(Paths.get(a("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full collections: what the workload keeps alive. */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
