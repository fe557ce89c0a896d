package graft

import graft.index.Ann
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** No driver-side structure grows with the deletion count (ROADMAP aim 3):
  * repair, merge compaction and a paged-session page reach their
  * tombstones through `__live` and executor-side joins, not through a
  * delete set collected to the driver. With the broadcast threshold off,
  * the bytes of task results that reach the driver stay flat as the
  * deletes grow 10x. Below the threshold (the default config) Spark
  * broadcasts the list, so it still reaches the driver once per join,
  * bounded by the threshold. A pinned tree's search routes broadcast the
  * list whatever its size, to keep the pin's segment layout. */
class DriverDeletesSpec extends SparkSpec {
  import spark.implicits._

  /** (jobs, summed task result bytes) of the Spark jobs `body` starts on
    * this thread, tagged through a local property as `AnnSpec.jobsOf`. */
  private def driverLoad(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.jobs") == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.jobs", tag)
    try body
    finally {
      sc.setLocalProperty("graft.spec.jobs", null)
      org.apache.spark.SpecBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, bytes.get)
  }

  private lazy val root = java.nio.file.Files.createTempDirectory("graft_deldriver").toString
  // scattered ids: a collected delete set then costs ~8 bytes per id,
  // well above the few hundred bytes task results vary by run to run
  private lazy val rows = {
    val rnd = new scala.util.Random(31)
    (0 until 1200).map { i =>
      ((i.toLong * 0x9E3779B97F4A7C15L) >>> 1, Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    }
  }
  private val params = Ann.Params(metric = "COSINE", maxDegree = 16, beamWidth = 64,
    segmentRows = 300)
  /** A 4-segment tree over `rows`, built once. */
  private lazy val src: String = {
    Ann.buildIndex(rows.toDF("id", "vec"), s"$root/src", params)
    s"$root/src"
  }

  test("driver-side delete data stays flat as deletes grow 10x: repair, merge compaction, session page") {
    val queries = rows.take(4).toDF("qid", "qvec")

    /** (repair, merge compaction, next session page) with n deletes. */
    def run(n: Int): Seq[(Int, Long)] = {
      val dels = rows.indices.filter(_ % 6 == 1).take(n).map(rows(_)._1)
      val delDf = dels.toDF("id")
      val dir = s"$root/n$n-${System.nanoTime}"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(src), new java.io.File(s"$dir/rep"))
      val repair = driverLoad(Ann.repairDeleted(spark, s"$dir/rep", delDf, params))
      val merge = driverLoad(Ann.compact(spark, src, s"$dir/merged", params,
        deletes = Some(delDf)))
      Seq(s"$dir/rep", s"$dir/merged").foreach { t =>
        val ids = Ann.readIndex(spark, t).select("node_id").as[Long].collect()
        assert(ids.length === rows.length - n && ids.intersect(dels).isEmpty, t)
      }
      Ann.openPagedSession(spark, src, s"$dir/sess", queries, 10, ef = 64, params)
        .collect()
      var page: Array[Long] = null
      val session = driverLoad {
        page = Ann.nextSessionPage(spark, src, s"$dir/sess", 10, 64, params,
          deletes = Some(delDf)).select("nid").as[Long].collect()
      }
      assert(page.nonEmpty && page.intersect(dels).isEmpty)
      Seq(repair, merge, session)
    }

    // Tombstone joins leave the strategy to Spark: a delete list under
    // spark.sql.autoBroadcastJoinThreshold is broadcast (through the
    // driver, bounded by that threshold), a larger one is shuffled. With
    // the threshold off, 20 and 200 deletes both take the large-list path.
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Seq("repairDeleted", "merge compact", "nextSessionPage").zip(run(20).zip(run(200)))
        .foreach { case (op, ((_, few), (_, many))) =>
          assert(many - few < 1024L,
            s"$op: task result bytes grew from $few to $many with 10x deletes")
        }
    }
    // with the default threshold the delete list is broadcast and no job
    // collects it as a set: repair runs 7 jobs, merge compaction 8
    val defaults = run(20)
    assert(defaults(0)._1 === 7, "repairDeleted jobs")
    assert(defaults(1)._1 === 8, "merge compact jobs")
  }

  test("a pinned tree serves deletes and accepts in its segment layout with the broadcast threshold off") {
    val dels = rows.indices.filter(_ % 5 == 2).map(rows(_)._1).toDF("id")
    val accepts = rows.indices.filter(_ % 3 != 0).map(rows(_)._1).toDF("id")
    val queries = rows.indices.filter(_ % 150 == 7).map(rows(_)).toDF("qid", "qvec")
    def serve(tag: String): (Seq[String], Seq[String]) = {
      val hits = Ann.searchIndex(spark, src, queries, 10, 64, params, deletes = Some(dels),
        accepts = Some(accepts)).orderBy("qid", "rank").collect().map(_.toString).toSeq
      val state = s"$root/sess-$tag-${System.nanoTime}"
      val first = Ann.openPagedSession(spark, src, state, queries, 10, 64, params,
        deletes = Some(dels)).collect()
      val next = Ann.nextSessionPage(spark, src, state, 10, 64, params, deletes = Some(dels))
        .collect()
      (hits, (first ++ next).map(_.toString).sorted.toSeq)
    }
    // a shuffle join of the delete or accept list would hash a pinned
    // tree's rows by node_id: tasks would then see partial segments (kept
    // apart here by turning off AQE's coalescing of this small tree's
    // shuffle partitions into one)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (coldHits, coldPages) = serve("cold")
      Ann.pin(spark, src)
      try {
        val (pinnedHits, pinnedPages) = serve("pinned")
        assert(coldHits.nonEmpty && pinnedHits === coldHits, "searchIndex")
        assert(coldPages.nonEmpty && pinnedPages === coldPages, "session pages")
      } finally Ann.unpin(src)
    }
  }
}
