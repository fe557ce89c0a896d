package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit utility: prints formatted physical plans for representative
  * queries so scan pruning, pushdown, broadcast choices, and partial
  * aggregation can be inspected (see PLANS.md for the audit notes). Kept
  * under rule (a) of the probe audit (see `graft.tools`): ROADMAP
  * direction C replaces it with plan-shape specs, and the BM25 df-window
  * item compares its plan with `plans/r15`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q3_top10", "knn_cosine", "minhash_pairs", "events_sessions")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
