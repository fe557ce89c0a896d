package graft

import graft.operators.{Bm25, Dedup}
import org.apache.spark.sql.functions._
class DedupGroupsSpec extends SparkSpec {

  test("duplicateGroups: transitive clusters resolve to min-id canonical") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; singletons 20, 21
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id1", "id2")
    val got = Dedup.duplicateGroups(nodes, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got === Array(
      (1L, 1L, 4L, true), (2L, 1L, 4L, false), (3L, 1L, 4L, false), (4L, 1L, 4L, false),
      (10L, 10L, 2L, true), (11L, 10L, 2L, false),
      (20L, 20L, 1L, true), (21L, 21L, 1L, true)))
  }

  test("duplicateGroups: empty pair list leaves every node a singleton") {
    import spark.implicits._
    val nodes = Seq(5L, 6L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val got = Dedup.duplicateGroups(nodes, "id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got === Array((5L, 5L, 1L, true), (6L, 6L, 1L, true)))
  }

  test("duplicateGroups: long chain converges in O(log diameter) star rounds") {
    import spark.implicits._
    // a 256-node path graph: diameter 255 would need 255 HashMin rounds
    // (more than maxIters=50 allows); alternating large/small-star folds it
    // in ~log2(n) alternations
    val n = 256
    val nodes = (0 until n).map(_.toLong).toDF("id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("id1", "id2")
    val got = Dedup.duplicateGroups(nodes, "id", pairs).collect()
    assert(got.length === n)
    assert(got.forall(_.getLong(1) === 0L))
    assert(got.forall(_.getLong(2) === n.toLong))
    assert(Dedup.lastCcRounds <= 14,
      s"star contraction took ${Dedup.lastCcRounds} rounds on a 255-diameter chain " +
        "(HashMin would take 255)")
  }

  test("duplicateGroups matches a reference union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 6) {
      val n = 30 + rnd.nextInt(120)
      val nEdges = rnd.nextInt(3 * n)
      val edges = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reference union-find with min-root merging: component root = min id
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a.toInt); val rb = find(b.toInt)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want: Map[Long, Long] =
        (0 until n).map(x => x.toLong -> find(x).toLong).toMap
      val got = Dedup.duplicateGroups((0 until n).map(_.toLong).toDF("id"), "id",
        edges.toDF("id1", "id2")).select("id", "group_id")
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"trial $trial n=$n edges=$nEdges")
    }
  }

  test("bm25: exact-match doc outranks partial matches; ranks are dense") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark vector search engine"),
      (2L, "vector vector vector"),
      (3L, "relational joins only"),
      (4L, "search and search again"),
      (5L, "")).toDF("doc_id", "text")
    val got = Bm25.search(docs, "doc_id", "text", Seq("vector", "search"), topN = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // docs 3 and 5 contain no query term -> absent
    assert(got.map(_._2).toSet === Set(1L, 2L, 4L))
    assert(got.map(_._1).toSeq === Seq(1, 2, 3))
    // scores strictly ordered desc (ties broken by id upstream)
    assert(got.sliding(2).forall(p => p(0)._3 >= p(1)._3))
    // doc 1 matches both terms -> highest score
    assert(got.head._2 === 1L)
  }

  test("misraGries: guarantees hold on a planted-skew stream; exact when vocab fits") {
    import spark.implicits._
    import graft.operators.Sketches
    // planted skew: "hot" 40%, "warm" 20%, 1000 singleton tails
    val stream = (Seq.fill(800)("hot") ++ Seq.fill(400)("warm") ++
      (0 until 800).map(i => s"tail$i"))
    val n = stream.length
    val k = 8
    val df = spark.sparkContext.parallelize(stream, 4).toDF("tok")
    val sk = df.agg(Sketches.misraGries(k)($"tok").as("t"))
      .select(explode($"t")).select($"col._1".as("tok"), $"col._2".as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val bound = n.toDouble / (k + 1)
    val exact = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // guarantee 1: items above n/(k+1) present ("hot" 800 > 222, "warm" 400 > 222)
    assert(sk.contains("hot") && sk.contains("warm"))
    // guarantee 2+3: lower bound with bounded deficit
    sk.foreach { case (t, est) =>
      assert(est <= exact(t), s"$t overcounted")
      assert(exact(t) - est <= bound, s"$t deficit too large")
    }
    assert(sk.size <= k)
    // exact mode: vocab <= k -> no decrements, counts exact
    val small = spark.sparkContext.parallelize(
      Seq("a", "a", "b", "c", "a", "b"), 3).toDF("tok")
    val sk2 = small.agg(Sketches.misraGries(8)($"tok").as("t"))
      .select(explode($"t")).select($"col._1", $"col._2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sk2.toSeq === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("semantic: planted near-dup pairs collapse to one keeper, distinct points survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dim = 8
    // 4 well-separated base directions; each contributes 10 distinct points
    // plus one planted near-duplicate pair (two nearly identical vectors)
    def base(c: Int): Array[Float] = Array.tabulate(dim)(j => if (j == c * 2) 10f else 0f)
    val rows = (for (c <- 0 until 4; i <- 0 until 10) yield {
      val v = base(c).clone()
      for (j <- 0 until dim) v(j) += rnd.nextFloat() * 3f - 1.5f // spread: not near-dups
      ((c * 100 + i).toLong, v)
    }) ++ (for (c <- 0 until 4) yield {
      val v = base(c).clone(); v(1) += 0.01f
      ((c * 100 + 50).toLong, v)
    }) ++ (for (c <- 0 until 4) yield {
      val v = base(c).clone(); v(1) += 0.02f
      ((c * 100 + 51).toLong, v)
    })
    val emb = rows.toDF("vec_id", "embedding")
    val res = operators.Dedup.semantic(emb, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999).cache()
    assert(res.count() === rows.length.toLong)
    // every id exactly once; exactly one keeper per group
    assert(res.select("id").distinct().count() === rows.length.toLong)
    val groups = res.groupBy("group_id")
      .agg(count(lit(1)).as("n"), sum(col("keep").cast("int")).as("k"))
      .collect()
    assert(groups.forall(_.getLong(2) === 1L))
    // the 4 planted pairs are the only multi-member groups
    val multi = groups.filter(_.getLong(1) > 1L)
    assert(multi.length === 4, s"expected 4 dup groups, got ${multi.length}")
    // removed = one member of each planted pair
    assert(res.filter(!col("keep")).count() === 4L)
    val removed = res.filter(!col("keep")).select("id").as[Long].collect().toSet
    assert(removed.subsetOf(Set(50L, 51L, 150L, 151L, 250L, 251L, 350L, 351L)))
    // keep="far": within each pair the kept member has the smaller c_sim
    val pairRows = res.filter(col("group_size") === 2)
      .select("group_id", "c_sim", "keep").collect()
      .groupBy(_.getLong(0))
    pairRows.values.foreach { ms =>
      val kept = ms.find(_.getBoolean(2)).get.getDouble(1)
      val dropped = ms.find(!_.getBoolean(2)).get.getDouble(1)
      assert(kept <= dropped)
    }

    // alternative keep policies on the same corpus: "near" inverts the
    // pair choice, "min_id" keeps the lower id
    val near = operators.Dedup.semantic(emb, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999, keep = "near")
      .filter(col("group_size") === 2).select("group_id", "c_sim", "keep")
      .collect().groupBy(_.getLong(0))
    near.values.foreach { ms =>
      assert(ms.find(_.getBoolean(2)).get.getDouble(1)
        >= ms.find(!_.getBoolean(2)).get.getDouble(1))
    }
    val minId = operators.Dedup.semantic(emb, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999, keep = "min_id")
      .filter(col("group_size") === 2).select("group_id", "id", "keep")
      .collect().groupBy(_.getLong(0))
    minId.values.foreach { ms =>
      assert(ms.find(_.getBoolean(2)).get.getLong(1)
        < ms.find(!_.getBoolean(2)).get.getLong(1))
    }
  }

  test("semantic/embeddingNearDup hubCap: a planted mega-cluster emits O(n) star pairs, still one keeper") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    // one mega-cluster of 600 near-identical vectors + 50 scattered points
    val hub = Array.fill(8)(rnd.nextFloat())
    val mega = (0L until 600L).map { i =>
      (i, hub.map(x => x + rnd.nextFloat() * 1e-4f).toSeq)
    }
    val scatter = (1000L until 1050L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 10 - 5).toSeq)
    }
    val emb = (mega ++ scatter).toDF("id", "vec")
    // uncapped would emit ~600*599/2 = 179k pairs for the mega-cluster;
    // the cap bounds it to star edges (<= members - 1 per oversize block)
    val capped = operators.Dedup.semantic(emb, "id", "vec",
      nClusters = 8, threshold = 0.999, hubCap = 64)
    val megaRows = capped.filter(col("id") < 600L).collect()
    assert(megaRows.map(_.getAs[Long]("group_id")).distinct.length === 1,
      "star edges must keep the mega-cluster one connected group")
    assert(megaRows.count(_.getAs[Boolean]("keep")) === 1, "exactly one keeper survives")
    // the pair relation itself is provably linear in the block size
    val assigned = emb.select(col("id"), col("vec").as("v"), lit(0).as("blk"))
    val pairs = operators.Dedup.embeddingNearDup(
      assigned.filter(col("id") < 600L), "id", "v", "blk", 0.999, hubCap = 64)
    assert(pairs.count() === 599L, "oversize block must emit exactly (members - 1) star pairs")
    // and uncapped semantics are unchanged for blocks under the cap
    val smallPairs = operators.Dedup.embeddingNearDup(
      assigned.filter(col("id") >= 1000L), "id", "v", "blk", 0.0, hubCap = 64)
    assert(smallPairs.count() === 50L * 49 / 2, "under-cap blocks keep all-pairs semantics")
  }

  test("minhashLsh and semantic compute their per-row pass only inside checkpointed leaves") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.functions.{MinHashSignatureExpr, NearestCentroidExpr, NgramShinglesExpr}
    // a checkpointed leaf carries rows, not expressions: any match found in
    // the plan would be re-evaluated by every subtree that consumes it
    def live(plan: LogicalPlan)(hit: Expression => Boolean): Boolean =
      plan.collectWithSubqueries { case n => n.expressions.exists(_.exists(hit)) }
        .contains(true)
    def fromCheckpoint(plan: LogicalPlan, column: String): Boolean =
      plan.collectWithSubqueries {
        case r: LogicalRDD if r.output.exists(_.name == column) => r
      }.nonEmpty

    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "a completely different document about spark engines")
    ).toDF("doc_id", "text")
    val mh = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 32, rowsPerBand = 4, threshold = 0.5).queryExecution.analyzed
    assert(!live(mh)(_.isInstanceOf[MinHashSignatureExpr]),
      "MinHash signatures must be computed once, inside a checkpointed leaf")
    assert(!live(mh)(_.isInstanceOf[NgramShinglesExpr]),
      "verify shingles must be computed once, inside a checkpointed leaf")
    assert(fromCheckpoint(mh, "band_hash") && fromCheckpoint(mh, "toks"))

    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i % 4) 10f else (i * j % 7).toFloat))
    }.toDF("vec_id", "embedding")
    val sem = Dedup.semantic(emb, "vec_id", "embedding",
      nClusters = 4, threshold = 0.999).queryExecution.analyzed
    assert(!live(sem)(_.isInstanceOf[NearestCentroidExpr]),
      "nearest-centroid assignment must be computed once, inside a checkpointed leaf")
    assert(fromCheckpoint(sem, "cluster_id"))
  }
}
