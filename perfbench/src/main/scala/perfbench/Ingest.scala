package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import graft.service.VectorService

/** The `VectorService` lifecycle: the write path. Nothing is pinned, so
  * every SEARCH reads the index from storage.
  *
  * Set-up is CREATE, the first WRITE and OPTIMIZE(cluster), which builds
  * the routable index. The measured phase runs rounds of WRITE, DELETE, a
  * flushing OPTIMIZE and SEARCH calls over the multi-batch tree with
  * tombstones, then compacts, warms the search path with untimed SEARCH
  * calls from `cores` threads, times single-query SEARCH calls on the
  * compacted index and reads MEMORY.
  *
  * Checks: no SEARCH returns a tombstoned id; a freshly flushed row is
  * found by a query for its own vector; after compaction, results are
  * scored against exact top-k over the live rows. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  import ctx.{spark, trace}

  private val svc = new VectorService(spark, s"${ctx.work}/ingest")
  private var created = 0
  private var name: String = _
  private val rnd = new java.util.Random(ctx.seed)
  private val queries = Corpus.points(ctx.seed, (0 until Queries).map(QueryBase + _))
  private val warmQueries =
    Corpus.points(ctx.seed, (0 until WarmSearches).map(QueryBase + Queries + _))

  def setup(): Map[String, Double] = {
    created += 1
    name = s"idx$created"
    val createS = Clock.seconds(trace.span("service", "create")(
      svc.create(name, "COSINE", maxDegree = 32, beamWidth = 64, segmentRows = SegmentRows)))
    val writeS = Clock.seconds(trace.span("service", "write")(
      svc.write(name, Corpus.frame(spark, ctx.seed, 0, BaseRows, ctx.cores))))
    val clusterS = Clock.seconds(trace.span("service", "optimize.cluster")(
      svc.optimize(name, cluster = true)))
    Map("service.create_s" -> createS, "service.write_s" -> writeS,
      "service.cluster_optimize_s" -> clusterS)
  }

  def measure(seconds: Double, rec: Record): Unit = {
    // The search count scales with the measured time.
    val searches = math.max(Searches, (Searches * seconds / 16).round.toInt)
    val deleted = scala.collection.mutable.HashSet.empty[Long]
    var next = BaseRows.toLong
    var reqs = 0

    def timed(kind: String)(body: => Unit): Unit = {
      val t0 = Clock.nowMs
      reqs += 1
      val ok =
        try { trace.span("request", kind, s"$kind-$reqs")(body); true }
        catch { case e: Exception => rec.check(s"ingest.$kind.error", ok = false, e.toString.take(200)) }
      rec.op(kind, t0, t0, Clock.nowMs, ok)
    }

    /** One SEARCH, collected; returns the ids of its rows. */
    def search(kind: String, qid: Long, v: Array[Float]): Array[Long] = {
      var ids = Array.empty[Long]
      timed(kind) {
        val df = trace.span("service", "search")(
          svc.search(name, Corpus.queryFrame(spark, Seq((qid, v))), K, Ef))
        ids = trace.span("service", "collect")(df.select("nid").collect().map(_.getLong(0)))
      }
      rec.check("ingest.no_tombstoned_ids", !ids.exists(deleted),
        s"query $qid returned tombstoned ${ids.filter(deleted).take(3).mkString(",")}")
      ids
    }

    (0 until Rounds).foreach { r =>
      val from = next
      next += RoundRows
      timed("write")(trace.span("service", "write")(
        svc.write(name, Corpus.frame(spark, ctx.seed, from, next, ctx.cores))))
      val victims = Iterator.continually(rnd.nextInt(next.toInt).toLong)
        .filterNot(deleted).distinct.take(RoundDeletes).toSeq
      timed("delete")(trace.span("service", "delete")(
        svc.delete(name, spark.createDataFrame(victims.map(Tuple1(_))).toDF("id"))))
      deleted ++= victims
      timed("flush")(trace.span("service", "optimize.flush")(svc.optimize(name)))
      rec.add("rows.flush", RoundRows)
      // A row of this round that survived the deletes must be found by a
      // query for its own vector.
      val fresh = Iterator.continually(from + rnd.nextInt(RoundRows)).filterNot(deleted).next()
      Corpus.points(ctx.seed, Seq(fresh)).foreach { case (id, v) =>
        val ids = search("round_search", id, v)
        rec.check("ingest.flushed_row_found", ids.contains(id), s"row $id not in its own top-$K")
      }
      val (qid, v) = queries(r)
      search("round_search", qid, v)
    }

    val live = (0L until next).filterNot(deleted)
    timed("compact")(trace.span("service", "optimize.compact")(
      svc.optimize(name, compactNow = true)))
    rec.add("rows.compact", live.size)

    // SEARCH keeps getting faster for the first few dozen calls of a JVM:
    // untimed ones from `cores` threads warm the path before the timed ones.
    val pool = Executors.newFixedThreadPool(ctx.cores)
    warmQueries.zipWithIndex.foreach { case ((qid, v), i) =>
      pool.execute { () =>
        try {
          val ids = trace.span("request", "warm", s"warm-$i")(
            svc.search(name, Corpus.queryFrame(spark, Seq((qid, v))), K, Ef)
              .select("nid").collect().map(_.getLong(0)))
          rec.check("ingest.no_tombstoned_ids", !ids.exists(deleted),
            s"query $qid returned tombstoned ${ids.filter(deleted).take(3).mkString(",")}")
        } catch {
          case e: Exception => rec.check("ingest.warm.error", ok = false, e.toString.take(200))
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)

    val liveVecs = Corpus.points(ctx.seed, live)
    (0 until searches).foreach { i =>
      val (qid, v) = queries((Rounds + i) % Queries)
      val got = search("search", qid, v)
      rec.add("recall_hits", got.count(Corpus.exactTopK(liveVecs, v, K)))
      rec.add("recall_total", K)
    }

    val mem = trace.span("service", "memory")(svc.memory(name).collect())
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gen = mem.keys.find(_.startsWith("gen=")).map(mem(_)._2).getOrElse(0L)
    rec.check("ingest.memory_reports_generation", gen > 0, s"MEMORY rows: ${mem.keys.mkString(",")}")
    rec.values("bytes_per_vector") = gen.toDouble / live.size
    rec.values("index.segments") = mem.get("segments").map(_._1.toDouble).getOrElse(0.0)
    rec.values("index.batches") = Rounds + 1
    rec.values("rows.base") = BaseRows
  }

  def close(): Unit = ()
}

object Ingest {
  val BaseRows = 4096
  val SegmentRows = 512
  val Rounds = 2
  val RoundRows = 1024
  val RoundDeletes = 128
  /** Untimed searches of the compacted index, sent before the timed ones. */
  val WarmSearches = 48
  /** Timed searches of the compacted index at 16 s measured: enough for a
    * p75 with 10 samples beyond it. */
  val Searches = 40
  val Queries = 100
  val QueryBase = 1L << 40
  val K = 10
  val Ef = 64
}
