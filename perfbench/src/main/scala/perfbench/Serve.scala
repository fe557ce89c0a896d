package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import graft.index.{Ann, Vamana}
import org.apache.spark.sql.Row

/** Pinned, centroid-routed ANN serving: the read path.
  *
  * Set-up generates the corpus, builds the clustered index, pins it and
  * computes exact top-k for the held-out queries. The measured phase, after
  * untimed warm-up requests, has an open loop of single-query requests at
  * 16, 8 and 4 per second (traced pass only), one closed-loop client
  * sending 50-query batches, and one closed-loop client sending single
  * queries. Every timed request
  * collects its rows, is checked for k distinct ids, and is scored against
  * the exact top-k. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  import ctx.{spark, trace}

  private val queries = Corpus.points(ctx.seed, (Rows.toLong until Rows.toLong + Queries).toSeq)
  private var built = 0
  private var path: String = _
  private var truth: Map[Long, Set[Long]] = Map.empty

  def setup(): Map[String, Double] = {
    close()
    built += 1
    path = s"${ctx.work}/serve/idx$built"
    val base = Corpus.frame(spark, ctx.seed, 0, Rows, ctx.cores)
    val buildS = Clock.seconds(trace.span("index", "buildIndexClustered")(
      Ann.buildIndexClustered(base, path, Params, nlist = Corpus.Clusters)))
    val pinS = Clock.seconds(trace.span("index", "pin")(Ann.pin(spark, path)))
    val truthS = Clock.seconds(trace.span("truth", "exact") { truth = exactTopK() })
    Map("index.build_s" -> buildS, "index.pin_s" -> pinS, "truth_s" -> truthS)
  }

  def measure(seconds: Double, rec: Record): Unit = {
    // The first requests of a JVM pay for class loading and JIT: a few
    // untimed ones let the timed phases see a warm request path.
    val scratch = new Record
    val pool = Executors.newFixedThreadPool(ctx.cores)
    (0 until Warm).foreach(i => pool.execute { () =>
      request("warm", s"warm-$i", Seq(queries(i % Queries)), scratch)
    })
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    (0 until WarmBatches).foreach(i =>
      request("warm", s"warm-batch-$i", queries.slice(i, i + Batch).toSeq, scratch))

    // Latency keeps falling for the first few hundred requests of a JVM, so
    // one client sends untimed single-query requests before the timed loops.
    closedLoop("warm", 1, WarmShare * seconds, 0, scratch, minRequests = MinWarm)
    // The open-loop ladder feeds only per-layer metrics, so it runs only in
    // the traced pass; untraced passes give its time to the closed loops.
    var sent = 0
    if (trace.enabled) Rates.reverse.foreach { case (rate, share) =>
      val n = (share * seconds * rate).round.toInt
      openLoop(rateKind(rate), rate, n, sent, rec)
      sent += n
    }
    val left = if (trace.enabled) 1 - WarmShare - Rates.map(_._2).sum else 1 - WarmShare
    closedLoop("batch", Batch, BatchShare * left * seconds, sent, rec)
    closedLoop("single", 1, (1 - BatchShare) * left * seconds, sent, rec,
      minRequests = MinSingles)
    if (trace.enabled) inProcess(rec)
  }

  private def exactTopK(): Map[Long, Set[Long]] = {
    val base = Corpus.points(ctx.seed, 0L until Rows)
    queries.map { case (qid, q) => qid -> Corpus.exactTopK(base, q, K) }.toMap
  }

  /** Sends `n` single-query requests on a fixed schedule from up to `cores`
    * sender threads. A request is timed from when it was due. */
  private def openLoop(kind: String, rate: Double, n: Int, offset: Int, rec: Record): Unit = {
    val pool = Executors.newFixedThreadPool(ctx.cores)
    try {
      val t0 = Clock.nowMs + 50
      (0 until n).foreach { i =>
        val due = t0 + i * 1000.0 / rate
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val sent = Clock.nowMs
        pool.execute { () =>
          val start = Clock.nowMs
          val ok = request(kind, s"$kind-$i", Seq(queries((offset + i) % Queries)), rec)
          rec.op(kind, due, start, Clock.nowMs, ok)
          rec.add(s"late_ms.$kind", sent - due)
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
  }

  /** One client: the next request goes out when the previous one returned.
    * Runs for `seconds` and at least `minRequests` requests. */
  private def closedLoop(kind: String, size: Int, seconds: Double, offset: Int, rec: Record,
      minRequests: Int = 1): Unit = {
    val end = Clock.nowMs + seconds * 1e3
    var i = 0
    while (i < minRequests || Clock.nowMs < end) {
      val qs = (0 until size).map(j => queries((offset + i * size + j) % Queries))
      val start = Clock.nowMs
      val ok = request(kind, s"$kind-$i", qs, rec)
      rec.op(kind, start, start, Clock.nowMs, ok)
      i += 1
    }
  }

  private def request(kind: String, req: String, qs: Seq[(Long, Array[Float])],
      rec: Record): Boolean = trace.span("request", kind, req) {
    val metrics = if (trace.enabled) Some(Ann.newMetrics(spark)) else None
    val rows: Array[Row] =
      try {
        val df = trace.span("index", "searchIndex")(Ann.searchIndex(spark, path,
          Corpus.queryFrame(spark, qs), K, Ef, Params, probeSegments = Ann.AutoProbe,
          metrics = metrics))
        trace.span("index", "collect")(df.select("qid", "nid").collect())
      } catch {
        case e: Exception =>
          rec.check(s"serve.$kind.error", ok = false, e.toString.take(200))
          return false
      }
    metrics.foreach { m =>
      rec.add("index.visited", m.visited.value.toDouble)
      rec.add("index.expanded", m.expanded.value.toDouble)
      rec.add("index.scanned", m.scanned.value.toDouble * qs.size)
      rec.add("index.queries", qs.size)
    }
    val byQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }
    // Every query of a batch is checked, also after one fails.
    qs.map { case (qid, _) =>
      val ids = byQuery.getOrElse(qid, Array.empty[Long])
      rec.add("recall_hits", ids.count(truth.getOrElse(qid, Set.empty)))
      rec.add("recall_total", K)
      rec.check("serve.k_distinct_ids", ids.length == K && ids.distinct.length == K,
        s"query $qid returned ${ids.length} rows, ${ids.distinct.length} distinct")
    }.forall(identity)
  }

  /** The beam alone: one segment's worth of rows searched in this JVM, with
    * no Spark job around it. */
  private def inProcess(rec: Record): Unit = {
    val cs = Corpus.centres(ctx.seed)
    val rows = (0L until Rows).iterator.map(i => Corpus.vec(ctx.seed, cs, i))
      .take(Rows / Corpus.Clusters).toArray
    val g = new Vamana(rows, "COSINE", Params.maxDegree, Params.beamWidth).build(ctx.cores)
    queries.foreach { case (_, q) => g.search(q, K, Ef) } // warm
    val t0 = System.nanoTime()
    queries.foreach { case (_, q) => g.search(q, K, Ef) }
    val s = (System.nanoTime() - t0) / 1e9
    rec.values("index.vamana_search_us") = s * 1e6 / Queries
    rec.values("index.vamana_qps") = Queries / s
  }

  def close(): Unit = if (path != null) Ann.unpin(path)
}

object Serve {
  val Rows = 4096
  val Queries = 100
  val Warm = 40
  val WarmBatches = 3
  val K = 10
  val Ef = 64
  val Batch = 50
  val Params = Ann.Params(metric = "COSINE", maxDegree = 32, beamWidth = 64)
  /** Open-loop rates in queries per second, with their shares of the
    * measured time. The index sustains about 11/s on 4 cores, so 4/s is
    * light, 8/s loaded and 16/s past saturation. */
  val Rates = Seq(4.0 -> 0.15, 8.0 -> 0.1, 16.0 -> 0.06)
  /** Untimed single-client warm-up: a share of the measured time, and at
    * least `MinWarm` requests. */
  val WarmShare = 0.3
  val MinWarm = 40
  /** Share of the closed-loop time that goes to batches; singles get the rest. */
  val BatchShare = 0.2
  /** Enough single-client requests for a p75 with 10 samples beyond it. */
  val MinSingles = 40
  def rateKind(rate: Double): String = s"rate${rate.toInt}"
}
