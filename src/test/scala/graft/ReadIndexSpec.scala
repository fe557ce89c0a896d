package graft

import graft.index.Ann
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `Ann.readIndex` over a batch glob reads the expanded batch roots: the
  * same files, schema and rows as Spark's own glob read, without the
  * streaming-sink metadata probe of the literal `*` that logs a
  * FileNotFoundException trace per read. */
class ReadIndexSpec extends SparkSpec {
  import spark.implicits._

  private class Capture extends AbstractAppender("read-index-capture", null, null,
      true, Property.EMPTY_ARRAY) {
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit = messages.add(e.getMessage.getFormattedMessage)
  }

  /** Log messages containing "metadata directory" while `body` runs. */
  private def metadataWarnings[A](body: => A): (A, Int) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val cap = new Capture
    cap.start()
    root.addAppender(cap, null, null)
    ctx.updateLoggers()
    try {
      val a = body
      (a, cap.messages.toArray.count(_.toString.contains("metadata directory")))
    } finally {
      root.removeAppender(cap.getName)
      ctx.updateLoggers()
      cap.stop()
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("readIndex on a two-batch glob: same files, schema and rows as the glob read, no metadata probe warning") {
    val tmp = java.nio.file.Files.createTempDirectory("readindex").toString
    val params = Ann.Params(metric = "COSINE", maxDegree = 8, beamWidth = 16)
    val rnd = new java.util.Random(5)
    def vecs(from: Long) = (from until from + 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
    Ann.buildIndex(vecs(0L).toDF("id", "vec").repartition(2), s"$tmp/tree/batch=0", params)
    Ann.buildIndex(vecs(200L).toDF("id", "vec").repartition(2), s"$tmp/tree/batch=1", params)
    val glob = s"$tmp/tree/*"

    val (ref, refWarnings) = metadataWarnings(spark.read
      .option("basePath", s"$tmp/tree").option("mergeSchema", "true").parquet(glob))
    assert(refWarnings > 0, "the glob read itself should warn, or this spec shows nothing")
    val (got, warnings) = metadataWarnings(Ann.readIndex(spark, glob))
    assert(warnings == 0, s"$warnings metadata directory warnings from readIndex")

    assert(got.inputFiles.sorted.toSeq == ref.inputFiles.sorted.toSeq)
    assert(got.inputFiles.length >= 2)
    // readIndex rebuilds `vec` from NVQ codes where a batch has them; these
    // batches are full resolution, so its `vec` is the stored one
    val expected = if (ref.columns.contains("nvq_code"))
      ref.withColumn("vec", col("vec").cast("array<float>")) else ref
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      expected.schema.map(f => (f.name, f.dataType)))
    assert(got.select("batch").distinct().as[Int].collect().sorted.toSeq == Seq(0, 1))
    assert(sortedRows(got) == sortedRows(expected))
  }
}
