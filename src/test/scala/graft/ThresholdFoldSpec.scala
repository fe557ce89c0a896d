package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator

/** Pins the two fold paths of the threshold-gate comparators (r15): the
  * capped driver-side fold (gate-scale fast path) and the distributed
  * union+group fold (corpus-scale path, forced here with cap = 0) must
  * produce identical stats on the same relations — including duplicate
  * rows, disjoint pairs, and empty sides. */
class ThresholdFoldSpec extends SparkSpec {
  import spark.implicits._

  private def res(rows: (Long, Long, Double)*): DataFrame =
    rows.toDF("qid", "nid", "score")
  private def exact(rows: (Long, Long)*): DataFrame =
    rows.toDF("qid", "nid")
  private def flagged(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("qid", "nid", "probed")

  test("thresholdStats: driver and distributed folds agree") {
    val cases = Seq(
      (res((1L, 10L, 0.9), (1L, 11L, 0.5), (2L, 10L, 0.7)),
        exact((1L, 10L), (1L, 12L), (2L, 10L))),
      // duplicate route rows and duplicate exact rows
      (res((1L, 10L, 0.9), (1L, 10L, 0.4)), exact((1L, 10L), (1L, 10L))),
      // disjoint
      (res((1L, 10L, 0.8)), exact((2L, 20L))),
      // empty sides
      (res(), exact((1L, 10L))),
      (res((1L, 10L, 0.8)), exact()),
      (res(), exact()))
    for ((r, e) <- cases) {
      val fast = AnnQueries.thresholdStats(r, e, 0.6)
      val dist = AnnQueries.thresholdStats(r, e, 0.6, cap = 0)
      assert(fast == dist, s"mismatch: fast=$fast dist=$dist")
    }
  }

  test("probedThresholdStats: driver and distributed folds agree") {
    val cases = Seq(
      (exact((1L, 10L), (2L, 10L)),
        flagged((1L, 10L, 1L), (1L, 12L, 0L), (2L, 10L, 1L))),
      // route pair present in exact but unprobed
      (exact((1L, 12L)), flagged((1L, 12L, 0L), (1L, 13L, 1L))),
      // duplicate route rows
      (exact((1L, 10L), (1L, 10L)), flagged((1L, 10L, 1L))),
      (exact(), flagged((1L, 10L, 1L))),
      (exact((1L, 10L)), flagged()))
    for ((r, e) <- cases) {
      val fast = AnnQueries.probedThresholdStats(r, e)
      val dist = AnnQueries.probedThresholdStats(r, e, cap = 0)
      assert(fast == dist, s"mismatch: fast=$fast dist=$dist")
    }
  }

  test("flagProbed: an exact hit missing from the assignment counts, unprobed") {
    val e = exact((1L, 10L), (1L, 11L), (2L, 12L))
    // node 12 has no cluster assignment
    val assigned = Seq((10L, 0), (11L, 1)).toDF("nid", "cl")
    val probes = Seq((1L, 0, 1L), (2L, 1, 1L)).toDF("qid", "cl", "pp")
    val f = AnnQueries.flagProbed(e, assigned, probes)
    assert(f.as[(Long, Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 10L, 1L), (1L, 11L, 0L), (2L, 12L, 0L)))
    val st = AnnQueries.probedThresholdStats(res((2L, 12L, 0.9)), f)
    assert(st.exactRows == 3L && st.exactHitRows == 1L && st.probedDistinct == 1L)
    // an id assigned twice would inflate the denominator: refused
    val dup = Seq((10L, 0), (10L, 1), (11L, 1)).toDF("nid", "cl")
    intercept[IllegalArgumentException](AnnQueries.flagProbed(e, dup, probes))
  }

  test("thresholdStats folds match the r14 collected-set semantics") {
    // hand-computed reference: below = raw rows under t; recall num/denom =
    // raw exact rows hit / raw exact rows
    val r = res((1L, 10L, 0.9), (1L, 11L, 0.55), (2L, 10L, 0.7), (2L, 11L, 0.61))
    val e = exact((1L, 10L), (1L, 12L), (2L, 10L), (2L, 11L))
    val st = AnnQueries.thresholdStats(r, e, 0.6)
    assert(st == AnnQueries.ThresholdStats(belowT = 1L, resRows = 4L,
      resDistinct = 4L, exactRows = 4L, exactHitRows = 3L))
  }

  test("threshold gates compute each side's rows once per call, over the cap as under it") {
    val routeRows = spark.sparkContext.longAccumulator("route rows")
    val twinRows = spark.sparkContext.longAccumulator("twin rows")
    def counted(acc: LongAccumulator) = udf { (x: Long) => acc.add(1L); x }.asNondeterministic()
    // 6 route rows and 5 twin rows, each over 3 partitions
    def route(): DataFrame = spark.range(0, 6, 1, 3)
      .select(counted(routeRows)(col("id")).as("x"))
      .select((col("x") % 2).as("qid"), col("x").as("nid"), (col("x") / 10.0 + 0.3).as("score"))
    def twin(): DataFrame = spark.range(1, 6, 1, 3)
      .select(counted(twinRows)(col("id")).as("x"))
      .select((col("x") % 2).as("qid"), col("x").as("nid"), (col("x") % 3).as("probed"))
    def rowsComputed(body: => Any): (Long, Long) = {
      routeRows.reset(); twinRows.reset()
      body
      (routeRows.value.longValue, twinRows.value.longValue)
    }
    val st = AnnQueries.thresholdStats(route(), twin(), 0.6)
    val pst = AnnQueries.probedThresholdStats(route(), twin())
    for (cap <- Seq(2, RouteMemo.maxMemoRows)) {
      assert(rowsComputed(assert(AnnQueries.thresholdStats(route(), twin(), 0.6, cap) == st))
        == ((6L, 5L)), s"thresholdStats, cap $cap")
      assert(rowsComputed(assert(AnnQueries.probedThresholdStats(route(), twin(), cap) == pst))
        == ((6L, 5L)), s"probedThresholdStats, cap $cap")
      // a gate call: the bounded route memo, then the fold against the twin
      def gate(): Unit = {
        val res = RouteMemo.dfBounded(spark, s"fold_spec_$cap", "dir", cap)(route())
        try assert(AnnQueries.thresholdStats(res, twin(), 0.6, cap) == st)
        finally res.unpersist()
      }
      assert(rowsComputed(gate()) == ((6L, 5L)), s"first gate call, cap $cap")
      // over the cap the route runs once per call, its persisted frame
      // serving both the capped collect and the fold; under it the memo
      // serves the route's rows from the driver
      val again = if (cap == 2) (6L, 5L) else (0L, 5L)
      assert(rowsComputed(gate()) == again, s"second gate call, cap $cap")
    }
  }
}
