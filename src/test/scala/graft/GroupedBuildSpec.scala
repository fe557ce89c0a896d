package graft

import graft.index.Ann
import org.apache.spark.sql.functions._

/** Grouped clustered-build tasks (many whole cells per write task, one
  * segment per cell) must be a pure LAYOUT choice: the written tree —
  * segments, graphs, codes, sidecar payloads — must be row-identical under
  * any grouping, because seg UUIDs derive from each cell's row ids and
  * every per-segment computation consumes only the cell's own rows. The
  * grouping exists because one-cell-per-task was ~all scheduler/writer
  * fixed cost at large cell counts (~150 ms/task against a sub-ms 32-row
  * graph build, timed per Spark job at 1M x 32768 cells). */
class GroupedBuildSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextDouble().toFloat * 2 - 1)))
  }

  private def treeRows(path: String) =
    Ann.readIndex(spark, path)
      .select(col("seg"), col("local_id"), col("node_id"),
        col("neighbors").cast("array<int>"), col("is_entry"),
        col("pq_code").cast("array<int>"), col("res_code").cast("array<int>"))
      .as[(String, Int, Long, Seq[Int], Boolean, Seq[Int], Seq[Int])]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("grouped and one-cell-per-task clustered builds write the identical tree") {
    val df = corpus(4000, 8, 41L).toDF("id", "vec")
    val p = Ann.Params(metric = "COSINE", maxDegree = 8, beamWidth = 32, pqM = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_grouped").toString
    val saved = Ann.GroupRowsTarget
    try {
      Ann.GroupRowsTarget = 0L // cellsPerTask = 1: the old identity layout
      Ann.buildIndexClustered(df, s"$base/one", p, nlist = 24)
      Ann.GroupRowsTarget = 1L << 17 // default: whole-cell groups
      Ann.buildIndexClustered(df, s"$base/grp", p, nlist = 24)
    } finally Ann.GroupRowsTarget = saved
    val a = treeRows(s"$base/one")
    val b = treeRows(s"$base/grp")
    assert(a.nonEmpty && a.size === b.size)
    assert(a === b, "grouped build differs from one-cell-per-task build")
    // each segment must still land whole in ONE parquet file (the pruning
    // unit stays a single-file directory; grouping only changes tasks)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val segDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/grp"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
    assert(segDirs.nonEmpty)
    segDirs.foreach { d =>
      val files = fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getPath.getName} has ${files.length} files")
    }
  }

  test("grouped aligned flush keeps cell alignment and residual pairing") {
    val df = corpus(3000, 8, 43L).toDF("id", "vec")
    val p = Ann.Params(metric = "COSINE", maxDegree = 8, beamWidth = 32, pqM = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_grouped_fl").toString
    Ann.buildIndexClustered(df, s"$base/idx/batch=0", p, nlist = 16)
    val cells = Ann.loadCells(spark, s"$base/idx").get
    val flush = corpus(500, 8, 44L).map { case (i, v) => (100000L + i, v) }
      .toDF("id", "vec")
    val saved = Ann.GroupRowsTarget
    val (one, grp) = try {
      Ann.GroupRowsTarget = 0L
      Ann.buildIndexAlignedTo(flush, s"$base/idx/batch=1", p, cells)
      val one = treeRows(s"$base/idx/batch=1")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/idx/batch=1"), true)
      Ann.GroupRowsTarget = 1L << 17
      Ann.buildIndexAlignedTo(flush, s"$base/idx/batch=1", p, cells)
      (one, treeRows(s"$base/idx/batch=1"))
    } finally Ann.GroupRowsTarget = saved
    assert(one.nonEmpty && one === grp, "grouped flush differs from one-cell-per-task flush")
    // pairing: the two-batch tree still serves residual ADC on every segment
    val tok = Ann.buildToken(spark, s"$base/idx")
    assert(Ann.loadResAdc(spark, s"$base/idx", tok, rerankK = 10).isDefined)
  }
}
