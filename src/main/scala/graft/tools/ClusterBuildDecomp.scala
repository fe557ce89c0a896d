package graft.tools

import graft.index.{Ann, Ivf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase decomposition of [[Ann.buildIndexClustered]] at the mseg bench
  * shape (verdict r11 task #3: 625.6s at 4M x 64 — which phase is the
  * frontier?). Phases measured separately on a persisted intermediate so
  * each number is one phase, not a lineage replay:
  *
  *   train    — Ivf.train (bounded-sample k-means, driver-side Lloyd's)
  *   assign   — Ivf.assign + identity-route repartition, materialized
  *   build    — per-cell Vamana build + parquet write (exact-scored)
  *   buildPq  — same, residual-PQ-scored construction (pqBuild=true);
  *              includes residual model train + per-cell encode
  *
  * plus exact-recall@10 of both trees (routed, ef=64) vs brute force so a
  * faster build that loses recall is visible in the same table.
  *
  * Kept under rule (a) of the probe audit (see the package doc): ROADMAP
  * direction D asks where the clustered build's serial fraction sits
  * (4x the cores bought 1.58x on the 4M x 64 build, BENCH_r15 vs
  * BENCH_r15_c8); run it at `threads` = 1, 2, 4 for the core-scaling
  * table.
  *
  * Run: sbt "runMain graft.tools.ClusterBuildDecomp [n] [segs] [threads] [degree]"
  * (defaults 4194304 64 32 32)
  */
object ClusterBuildDecomp {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(1 << 22)
    val segs = args.lift(1).map(_.toInt).getOrElse(64)
    val threads = args.lift(2).map(_.toInt).getOrElse(32)
    val degree = args.lift(3).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-build-decomp")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dim = 64
    val rnd = new java.util.Random(9)
    val centers = Array.fill(segs)(Array.fill(dim)(rnd.nextGaussian().toFloat * 2f))
    val centersB = spark.sparkContext.broadcast(centers)
    def vecOf(i: Long): Array[Float] = {
      val r = new java.util.Random(i * 2654435761L)
      val c = centersB.value((i % segs).toInt)
      Array.tabulate(dim)(j => c(j) + r.nextGaussian().toFloat)
    }
    val df = spark.range(0, n, 1, threads).map(i => (i, vecOf(i).toSeq)).toDF("id", "vec")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()

    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[decomp] $name%-8s $s%8.1fs")
      s
    }

    val params = Ann.Params(metric = "COSINE", maxDegree = degree, beamWidth = 64)
    var model: Ivf.IvfModel = null
    timed("train") { model = Ivf.train(df, "vec", segs, params.metric) }
    var parted: org.apache.spark.sql.DataFrame = null
    timed("assign") {
      val assigned = Ivf.assign(df, "vec", model)
      val preimage = Ann.identityPreimages(segs)
      parted = assigned
        .withColumn("_route",
          element_at(array(preimage.map(lit(_)).toSeq: _*), col("cluster_id") + 1))
        .repartition(segs, col("_route"))
        .drop("_route", "cluster_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      parted.count()
    }
    val root = java.nio.file.Files.createTempDirectory("graft_decomp").toString
    // exact-scored per-cell build + write, from the materialized partition
    timed("build") {
      Ann.buildIndex(parted, s"$root/exact", params.copy(segmentRows = 0), "id", "vec")
    }
    // full production path (train+assign+build in one lineage) for both
    // modes — the honest end-to-end numbers
    timed("e2e") {
      Ann.buildIndexClustered(df, s"$root/e2e", params, nlist = segs)
    }
    timed("e2ePq") {
      Ann.buildIndexClustered(df, s"$root/e2epq", params.copy(pqM = 8, pqBuild = true),
        nlist = segs)
    }

    val queries = (0 until 50).map { i =>
      val id = i.toLong * (n / 50) + 7
      (id, vecOf(id).toSeq)
    }.toDF("qid", "qvec")
    val truth = graft.operators.KnnExact.knn(df, queries, 10, "COSINE").cache()
    val tn = truth.count()
    for ((tag, p2) <- Seq(("e2e", params), ("e2epq", params.copy(pqM = 8, pqBuild = true)))) {
      val got = Ann.searchIndex(spark, s"$root/$tag", queries, 10, ef = 64, p2,
        probeSegments = Ann.AutoProbe)
      val hit = got.select("qid", "nid")
        .join(truth.select("qid", "nid"), Seq("qid", "nid"), "left_semi").count()
      System.err.println(f"[decomp] $tag%-8s routed recall_abs@10 ${hit.toDouble / tn}%.3f")
    }
    spark.stop()
  }
}
