package graft

import graft.index.Ann
import graft.operators.{KnnExact, Metrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A tree written before its optional columns existed: no pq_code,
  * upper_nbrs, res_code, res_cell, seg_centroid or nvq columns on disk.
  * `readIndex` fills them in (nvq_bits 0, the rest null) and no other
  * reader backfills, so every route and maintenance op must still serve
  * and rewrite such a tree. */
class LegacyTreeSpec extends SparkSpec {
  import spark.implicits._

  private val params = Ann.Params(metric = "COSINE", maxDegree = 16, beamWidth = 64,
    segmentRows = 300)

  test("a legacy tree searches, repairs, compacts and rescores through readIndex's defaults") {
    val root = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    val rnd = new scala.util.Random(23)
    val rows = (0 until 900).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val base = rows.toDF("id", "vec")
    Ann.buildIndex(base, s"$root/full", params.copy(pqM = 4))
    val optional = Seq("pq_code", "upper_nbrs", "res_code", "res_cell", "seg_centroid",
      "nvq_code", "nvq_params", "nvq_bits")
    spark.read.parquet(s"$root/full").drop(optional: _*)
      .write.partitionBy("seg").parquet(s"$root/legacy")
    val onDisk = spark.read.parquet(s"$root/legacy").columns
    assert(optional.forall(c => !onDisk.contains(c)), onDisk.mkString(","))

    val dels = rows.map(_._1).filter(_ % 9 == 4)
    val delDf = dels.toDF("id")
    val live = base.filter(!$"id".isin(dels: _*))
    val queries = rows.filter(_._1 % 50 == 7).toDF("qid", "qvec")
    def check(what: String, path: String, p: Ann.Params = params,
        deletes: Option[DataFrame] = None, metric: String = "COSINE"): Unit = {
      val tree = Ann.readIndex(spark, path)
      assert(Ann.TreeCols.fieldNames.forall(tree.columns.contains),
        s"$what: readIndex lacks ${Ann.TreeCols.fieldNames.filterNot(tree.columns.contains).mkString(",")}")
      val got = Ann.searchIndex(spark, path, queries, 10, 64, p, deletes = deletes)
      val found = got.select("nid").as[Long].collect().toSet
      assert(found.intersect(dels.toSet).isEmpty, s"$what returned a tombstoned id")
      val rec = Metrics.recallAtK(got, KnnExact.knn(live, queries, 10, metric, "id", "vec"), 10)
        .head().getDouble(0)
      assert(rec >= 0.9, s"$what recall $rec < 0.9")
    }

    check("search with deletes", s"$root/legacy", deletes = Some(delDf))

    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/legacy"), new java.io.File(s"$root/repaired"))
    Ann.repairDeleted(spark, s"$root/repaired", delDf, params)
    check("repair", s"$root/repaired")

    Ann.compact(spark, s"$root/legacy", s"$root/merged", params, deletes = Some(delDf))
    check("merge compaction", s"$root/merged")

    Ann.rescore(spark, s"$root/legacy", s"$root/rescored", "EUCLIDEAN", params)
    check("rescore", s"$root/rescored", params.copy(metric = "EUCLIDEAN"),
      deletes = Some(delDf), metric = "EUCLIDEAN")
  }
}
