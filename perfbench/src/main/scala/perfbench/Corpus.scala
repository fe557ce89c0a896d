package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Synthetic vectors: Gaussian clusters around seeded centres. Every vector
  * is a pure function of `(seed, id)`, so executors generate the corpus
  * without anything row-sized on the driver, and the driver recomputes any
  * single vector (queries, deleted rows) exactly. */
object Corpus {
  val Dim = 64
  val Clusters = 16

  def centres(seed: Long): Array[Array[Float]] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat * 2f))
  }

  def vec(seed: Long, centres: Array[Array[Float]], id: Long): Array[Float] = {
    val r = new java.util.Random(seed * 0x2545F4914F6CDD1DL ^ (id * 0x9E3779B97F4A7C15L))
    val c = centres(r.nextInt(Clusters))
    Array.tabulate(Dim)(j => c(j) + r.nextGaussian().toFloat)
  }

  /** Rows `[from, until)` as `(id: long, vec: array<float>)`. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val cs = centres(seed)
    spark.range(from, until, 1, parts).map(i => (i.longValue, vec(seed, cs, i).toSeq))
      .toDF("id", "vec")
  }

  /** Driver-side points for the given ids. */
  def points(seed: Long, ids: Seq[Long]): Array[(Long, Array[Float])] = {
    val cs = centres(seed)
    ids.map(i => (i, vec(seed, cs, i))).toArray
  }

  /** `(qid, qvec)` query frame, the shape `Ann.searchIndex` takes. */
  def queryFrame(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qvec")
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Ids of the `k` rows most cosine-similar to `q`, by brute force: the
    * recall truth, computed without the program under test. */
  def exactTopK(rows: Array[(Long, Array[Float])], q: Array[Float], k: Int): Set[Long] =
    rows.map { case (id, v) => (cosine(q, v), id) }.sortBy(-_._1).take(k).map(_._2).toSet
}
