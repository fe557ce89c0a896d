package graft.tools

import graft.index.{Ann, Ivf}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** The INTEGRATION gate for the clustered lifecycle's sublinear pieces
  * (r13 built and measured each in isolation; this runs them COMPOSED in
  * one real tree): at `cells` >= 32768 a single build+serve engages
  *
  *   - hierarchical two-level training   (Ivf.trainHierarchical,
  *     cells >= Ivf.HierTrainCells)
  *   - coarse two-level assignment       (IvfModel.coarseLevel,
  *     cells >= Ivf.CoarseAssignCells)
  *   - residual ADC two-phase serving    (pqM > 0 clustered build:
  *     res_code + _pqres_model)
  *
  * and serves it routed (exact centroid scan), unfiltered and under an
  * accept-list (the reference's >= 0.95-under-filters contract,
  * TestLowCardinalityFiltering.java:54-57).
  * recall_abs is vs a brute-force oracle over the full corpus — composition
  * is where pairing/threshold bugs hide, so the bar is the end answer, not
  * any stage's own metric.
  *
  * Run: sbt "runMain graft.tools.ClusteredLifecycleProbe [n] [cells] [threads] [baseDir]"
  * (baseDir reuses an existing build — serving-constant iteration should
  * not pay the multi-minute build again)
  */
object ClusteredLifecycleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(1 << 20)
    val cells = args.lift(1).map(_.toInt).getOrElse(32768)
    val threads = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-clustered-lifecycle-probe")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dim = 64
    val rnd = new java.util.Random(17)
    val centers = Array.fill(cells)(Array.fill(dim)(rnd.nextGaussian().toFloat * 2f))
    val centersB = spark.sparkContext.broadcast(centers)
    def vecOf(i: Long): Array[Float] = {
      val r = new java.util.Random(i * 2654435761L)
      val c = centersB.value((i % cells).toInt)
      Array.tabulate(dim)(j => c(j) + r.nextGaussian().toFloat)
    }
    val df = spark.range(0, n, 1, threads).map(i => (i, vecOf(i).toSeq)).toDF("id", "vec")
    // pqM > 0 => the clustered build persists residual codes + _pqres_model
    // and two-phase serving scores residual ADC (the r13 serving fix)
    val params = Ann.Params(metric = "COSINE", maxDegree = 16, beamWidth = 64,
      pqM = 8, pqBuild = true)
    System.err.println(s"[lifecycle] n=$n cells=$cells " +
      s"hierTrain=${cells >= Ivf.HierTrainCells} coarseAssign=${cells >= Ivf.CoarseAssignCells}")

    val path = args.lift(3).map(_ + "/idx").getOrElse(
      java.nio.file.Files.createTempDirectory("graft_lifecycle").toString + "/idx")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_clustered"))) {
      val t0 = System.nanoTime()
      Ann.buildIndexClustered(df, path, params, nlist = cells)
      System.err.println(f"[lifecycle] build ${(System.nanoTime() - t0) / 1e9}%.1fs")
    } else System.err.println(s"[lifecycle] reusing index at $path")
    // the residual payload must be present AND paired, or the probe is not
    // testing the composition it claims to
    val tok = Ann.buildToken(spark, path)
    require(Ann.loadResAdc(spark, path, tok, rerankK = 10).isDefined,
      "residual sidecar must pair on the built tree")
    Ann.pin(spark, path)

    val nQ = 200
    val queries = (0 until nQ).map { i =>
      val id = i.toLong * (n / nQ) + 7
      (id, vecOf(id).toSeq)
    }.toDF("qid", "qvec").cache()
    queries.count()
    val truth = graft.operators.KnnExact.knn(df, queries, 10, "COSINE").cache()
    val truthN = truth.count()
    val accepts = df.filter(col("id") % 3 === 0).select("id").cache()
    accepts.count()
    val truthF = graft.operators.KnnExact.knn(df.filter(col("id") % 3 === 0),
      queries, 10, "COSINE").cache()
    val truthFN = truthF.count()

    def recallOf(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame, wantN: Long): Double =
      got.select("qid", "nid").join(want.select("qid", "nid"),
        Seq("qid", "nid"), "left_semi").count().toDouble / wantN

    // rerankK=40 (the oq4 slack the serving default uses at topK=10); the
    // beam traverses on RESIDUAL ADC on every segment (pairing asserted
    // above), pages rerank exactly
    Ann.searchIndex(spark, path, queries, 10, ef = 64, params,
      probeSegments = Ann.AutoProbe, rerankK = 40).count() // warm
    val tb = System.nanoTime()
    val got = Ann.searchIndex(spark, path, queries, 10, ef = 64, params,
      probeSegments = Ann.AutoProbe, rerankK = 40)
    val rec = recallOf(got, truth, truthN)
    val wall = (System.nanoTime() - tb) / 1e9
    Ann.searchIndex(spark, path, queries, 10, ef = 64, params,
      probeSegments = Ann.AutoProbe, rerankK = 40, accepts = Some(accepts)).count()
    val tf = System.nanoTime()
    val gotF = Ann.searchIndex(spark, path, queries, 10, ef = 64, params,
      probeSegments = Ann.AutoProbe, rerankK = 40, accepts = Some(accepts))
    val recF = recallOf(gotF, truthF, truthFN)
    val wallF = (System.nanoTime() - tf) / 1e9
    System.err.println(f"[lifecycle] recall_abs=$rec%.4f batch=${wall}%.2fs " +
      f"filtered_recall=$recF%.4f filtered_batch=${wallF}%.2fs")
    Ann.unpin(path)
    spark.stop()
  }
}
