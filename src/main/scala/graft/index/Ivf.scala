package graft.index

import graft.functions.VectorFunctions
import graft.operators.{KnnExact, PQ, TopK}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN: k-means partitioning + probed-cluster scan.
  *
  * This is the "scale path" complement to the Vamana graph: at 100 TB the
  * base table is written partitioned/bucketed by `cluster_id`, so a search
  * with nprobe clusters prunes the scan to nprobe/nlist of the data at the
  * parquet-partition level (Catalyst partition pruning does the skipping —
  * no index structure needs to fit anywhere). Visited ratio ~= nprobe/nlist.
  */
object Ivf {

  /** Bounded candidate caching for the PQ-layout searches: `cache()` keeps
    * the phase-1 plan visible (the codes-only-scan gates assert on the
    * REAL executed plan, so lineage must survive) but CacheManager holds
    * cached plans until unpersist — a serving loop would leak one per
    * batch. One slot: caching a new candidate frame unpersists the
    * previous call's. A concurrent in-flight query whose cands get
    * unpersisted recomputes them — correct, just uncached. */
  private val lastCands =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private def cacheBounded(df: DataFrame): DataFrame = {
    val prev = lastCands.getAndSet(df)
    if (prev != null && (prev ne df)) {
      try prev.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    df.cache()
  }

  case class IvfModel(metric: String, centroids: Array[Array[Double]]) {
    // resolved once — simTo runs per (row, centroid) in the assign UDF
    @transient private lazy val metricCode: Int = metric.toUpperCase match {
      case "EUCLIDEAN" => 0
      case "DOT_PRODUCT" | "DOT" => 1
      case "COSINE" => 2
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

    // SIMD kernels + centroid norms hoisted out of the per-(row, centroid)
    // loop: assign runs once per ROW of the whole corpus on the write path,
    // so nlist * dim work per row is the 100 TB-relevant inner loop
    @transient private lazy val kern = graft.simd.Kernels.INSTANCE
    @transient private lazy val centNormSqrts: Array[Double] =
      centroids.map(c => math.sqrt(kern.dotD(c, c)))

    /** Two-level assignment structure (FAISS coarse-quantizer pattern over
      * our own centroid set): ~4*sqrt(S) super-centroids (seeded k-means
      * over the centroids) with spill-2 membership. Built ONCE at model
      * construction on the driver and serialized WITH the model, so
      * executors never pay the clustering; engaged only at
      * S >= [[Ivf.CoarseAssignCells]]. assignOne/nearestClusters run once
      * per CORPUS row on the write path and once per LEFT row in knnJoin —
      * the O(S*d)-per-row exact scan is the hottest 100 TB ingest scalar,
      * and the coarse pool cuts it to O(sqrt(S)*d + pool*d). */
    val coarseLevel: Option[(Array[Array[Double]], Array[Array[Int]])] =
      if (centroids.length < Ivf.CoarseAssignCells) None
      else {
        val kk = graft.simd.Kernels.INSTANCE
        val s = centroids.length
        val ns = math.max(2, math.min(s / 2,
          4 * math.ceil(math.sqrt(s.toDouble)).toInt))
        val sup = PQ.kmeans(centroids, ns, 4, 20260816L)
        val members = Array.fill(ns)(new scala.collection.mutable.ArrayBuilder.ofInt)
        var i = 0
        while (i < s) {
          var b = 0; var bd = Double.MaxValue; var b2 = 0; var bd2 = Double.MaxValue
          var j = 0
          while (j < ns) {
            val d = kk.l2sqD(centroids(i), sup(j))
            if (d < bd) { bd2 = bd; b2 = b; bd = d; b = j }
            else if (d < bd2) { bd2 = d; b2 = j }
            j += 1
          }
          members(b) += i
          if (b2 != b) members(b2) += i
          i += 1
        }
        Some((sup, members.map(_.result())))
      }
    @transient private lazy val supNormSqrts: Array[Double] =
      coarseLevel.map(_._1.map(c => math.sqrt(kern.dotD(c, c)))).orNull

    /** Candidate centroid pool: supers ranked by the row's similarity,
      * member lists appended (deduped — spill) until `need` candidates and
      * a sqrt(ns) breadth floor. The constants are pinned by
      * CoarseAssignSpec (>= 0.99 assignment agreement and >= 0.95 probe-set
      * recall vs the exact scan at 4096 cells) and held end to end on real
      * 32768- and 131072-cell trees (NOTES_r14 §1, §10). */
    private def coarsePool(v: Array[Double], vn: Double, need: Int): Array[Int] = {
      val (sup, members) = coarseLevel.get
      val ns = sup.length
      val packed = new Array[Long](ns)
      var j = 0
      while (j < ns) {
        val s = (metricCode: @annotation.switch) match {
          case 0 => 1.0 / (1.0 + kern.l2sqD(v, sup(j)))
          case 1 => (1.0 + kern.dotD(v, sup(j))) / 2.0
          case 2 => (1.0 + kern.dotD(v, sup(j)) / (vn * supNormSqrts(j))) / 2.0
        }
        packed(j) = LongHeap.pack(s, j)
        j += 1
      }
      java.util.Arrays.sort(packed)
      val minSupers = math.min(ns, math.max(4, math.ceil(math.sqrt(ns.toDouble)).toInt))
      val seen = new Array[Long]((centroids.length + 63) >> 6)
      val b = new scala.collection.mutable.ArrayBuilder.ofInt
      b.sizeHint(math.min(centroids.length, need + 64))
      var got = 0
      var p = ns - 1
      while (p >= 0 && (got < need || ns - 1 - p < minSupers)) {
        val mem = members(LongHeap.id(packed(p)))
        var i = 0
        while (i < mem.length) {
          val c = mem(i)
          if (((seen(c >>> 6) >>> (c & 63)) & 1L) == 0L) {
            seen(c >>> 6) |= 1L << (c & 63)
            b += c; got += 1
          }
          i += 1
        }
        p -= 1
      }
      b.result()
    }

    @inline private def simWith(v: Array[Double], vn: Double, c: Int): Double =
      (metricCode: @annotation.switch) match {
        case 0 => 1.0 / (1.0 + kern.l2sqD(v, centroids(c)))
        case 1 => (1.0 + kern.dotD(v, centroids(c))) / 2.0
        case 2 => (1.0 + kern.dotD(v, centroids(c)) / (vn * centNormSqrts(c))) / 2.0
      }

    /** Exact bounded top-n over `pool` (null = all centroids): DOUBLE
      * scores, (score desc, id asc) — identical ordering contract to the
      * historical full sort, zero boxing. Best-first result. */
    private def topNExact(v: Array[Double], vn: Double,
        pool: Array[Int], n: Int): Array[Int] = {
      val m = if (pool == null) centroids.length else pool.length
      val nn = math.min(n, m)
      if (nn <= 0) return Array.emptyIntArray
      val ss = new Array[Double](nn)
      val ids = new Array[Int](nn)
      var size = 0
      var i = 0
      while (i < m) {
        val c = if (pool == null) i else pool(i)
        val s = simWith(v, vn, c)
        if (size < nn || s > ss(nn - 1) || (s == ss(nn - 1) && c < ids(nn - 1))) {
          var p = math.min(size, nn - 1)
          while (p > 0 && (ss(p - 1) < s || (ss(p - 1) == s && ids(p - 1) > c))) {
            ss(p) = ss(p - 1); ids(p) = ids(p - 1); p -= 1
          }
          ss(p) = s; ids(p) = c
          if (size < nn) size += 1
        }
        i += 1
      }
      if (size == nn) ids else ids.take(size)
    }

    def nearestClusters(v: Array[Double], nprobe: Int): Array[Int] = {
      val vn = if (metricCode == 2) math.sqrt(kern.dotD(v, v)) else 0.0
      // probe pools run deep (measured on unstructured centroids — the
      // adversarial case: 4*nprobe pools lost 15% of the exact top-8 probe
      // set, 256-member pools 8%; CoarsePoolBase=512 holds >= 0.95
      // overlap) — CONSTANT in S, so at 10^5 cells it is still a 0.5% scan
      // and the per-row win keeps growing with the centroid count
      val pool =
        if (coarseLevel.isDefined)
          coarsePool(v, vn, math.max(Ivf.CoarsePoolBase, 16 * nprobe))
        else null
      topNExact(v, vn, pool, nprobe)
    }

    def simTo(v: Array[Double], c: Int): Double =
      simWith(v, if (metricCode == 2) math.sqrt(kern.dotD(v, v)) else 0.0, c)

    /** Nearest centroid with the row's norm computed ONCE (ties to the
      * lowest cluster id, same order as [[nearestClusters]] — above
      * [[Ivf.CoarseAssignCells]] both draw the SAME
      * [[Ivf.CoarsePoolBase]]-member coarse pool, so
      * `assignOne(v) == nearestClusters(v, 1).head` holds on every
      * centroid set, structured or not). */
    def assignOne(v: Array[Double]): Int = {
      val vn = if (metricCode == 2) math.sqrt(kern.dotD(v, v)) else 0.0
      if (coarseLevel.isDefined) {
        val pool = coarsePool(v, vn, Ivf.CoarsePoolBase)
        var best = -1
        var bestS = Double.MinValue
        var i = 0
        while (i < pool.length) {
          val c = pool(i)
          val s = simWith(v, vn, c)
          if (s > bestS || (s == bestS && c < best)) { bestS = s; best = c }
          i += 1
        }
        best
      } else {
        var best = 0
        var bestS = Double.MinValue
        var c = 0
        while (c < centroids.length) {
          val s = simWith(v, vn, c)
          if (s > bestS) { bestS = s; best = c }
          c += 1
        }
        best
      }
    }
  }

  /** Centroid count at which [[IvfModel.assignOne]]/[[IvfModel.nearestClusters]]
    * switch from the exact O(S) scan to the two-level coarse pool (see
    * [[IvfModel.coarseLevel]]). Below it — every oracle fixture — results
    * are bit-identical to the historical scan. A var so specs can force
    * the coarse path on small fixtures. */
  private[graft] var CoarseAssignCells: Int = 4096

  /** The ONE coarse-pool size both [[IvfModel.assignOne]] and
    * [[IvfModel.nearestClusters]] draw from (the probe path widens it to
    * 16*nprobe when that is larger). Sharing the constant is a correctness
    * contract, not a tuning nicety: with different pools assignOne(v) could
    * disagree with nearestClusters(v, 1).head — and small pools measurably
    * lose head accuracy on unstructured centroid sets (32-member pools were
    * validated only on a well-clustered COSINE fixture). */
  private[graft] val CoarsePoolBase: Int = 512

  /** Train nlist centroids on a bounded sample (reuses PQ's deterministic
    * k-means++; same sampling contract as PQ training). At
    * nlist >= [[HierTrainCells]] training goes HIERARCHICAL
    * ([[trainHierarchical]]): single-level k-means needs >= nlist sample
    * points and O(sample * nlist * d) driver work — intractable toward
    * 10^5 cells even parallelized (and a 128k sample is 1.3 points/cell
    * at 10^5, degenerate clustering). */
  def train(
      df: DataFrame,
      vecCol: String,
      nlist: Int,
      metric: String = "COSINE",
      iters: Int = 6,
      sampleCap: Int = 128000,
      seed: Long = 1L): IvfModel = {
    if (nlist >= HierTrainCells)
      return trainHierarchical(df, vecCol, nlist, metric, iters, seed)
    val vectors = graft.operators.Sampling.sampleVectors(df, vecCol, sampleCap, seed)
    IvfModel(metric, PQ.kmeans(vectors, math.min(nlist, vectors.length), iters, seed))
  }

  /** Cell count at which [[train]] switches to [[trainHierarchical]].
    * A var so specs can exercise the hierarchical path on small fixtures. */
  private[graft] var HierTrainCells: Int = 32768

  /** Hierarchical (two-level) k-means training — the scale path for very
    * large cell counts (standard large-nlist IVF practice; FAISS reaches
    * the same shape through its HNSW/IVF coarse quantizers over trained
    * sub-lists). Level 1 trains ~sqrt(nlist) SUPER clusters with the
    * existing bounded-sample driver k-means; level 2 sub-clusters each
    * super INSIDE ITS EXECUTOR GROUP (flatMapGroups): per-super targets
    * are mass-proportional (largest-remainder rounding sums exactly to
    * nlist), each group trains on an order-insensitive bounded sample
    * (smallest content-hash — deterministic under any partitioning or
    * shuffle order), and the final model is the union of sub-centroids.
    * Work per group is O(sample_s * k_s * d) — thousands of independent
    * small k-means jobs instead of one impossible nlist-wide one, so
    * training scales out with executors. The quota sum is pinned to
    * EXACTLY nlist (floors that overshoot — every nonempty super is
    * bumped to >= 1 — are trimmed back from the largest quotas), but the
    * returned model may still hold FEWER than nlist centroids when a
    * super's rows cannot support its quota (tiny supers); callers size
    * layouts from `model.centroids.length`, never the requested nlist. */
  def trainHierarchical(
      df: DataFrame,
      vecCol: String,
      nlist: Int,
      metric: String = "COSINE",
      iters: Int = 6,
      seed: Long = 1L): IvfModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val ns = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    val superModel = train(df, vecCol, ns, metric, iters,
      sampleCap = math.max(32768, ns * 64), seed)
    val nsEff = superModel.centroids.length
    val assigned = assign(df, vecCol, superModel, "__sup")
      .select(col("__sup"), col(vecCol).cast("array<double>").as("__v"))
    // mass-proportional quotas, largest remainder, exactly nlist total
    val counts: Map[Int, Long] = assigned.groupBy("__sup").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val total = math.max(1L, counts.values.sum)
    val raw = (0 until nsEff).map { s =>
      val share = nlist.toDouble * counts.getOrElse(s, 0L) / total
      (s, share.toInt, share - share.toInt)
    }
    val base = raw.map { case (s, w, _) => (s, math.max(if (counts.getOrElse(s, 0L) > 0) 1 else 0, w)) }.toMap
    var left = nlist - base.values.sum
    val order = raw.sortBy { case (_, _, frac) => -frac }.map(_._1)
    val quota = scala.collection.mutable.Map(base.toSeq: _*)
    var oi = 0
    while (left > 0 && oi < order.length) {
      val s = order(oi)
      if (counts.getOrElse(s, 0L) > 0) { quota(s) = quota(s) + 1; left -= 1 }
      oi = (oi + 1) % order.length
      if (oi == 0 && left > 0 && !order.exists(s => counts.getOrElse(s, 0L) > 0)) left = 0
    }
    // the >= 1 floor on nonempty supers can OVERSHOOT nlist (many tiny
    // supers each bumped to 1): trim 1 from the largest-quota supers until
    // the sum lands exactly on nlist. Terminates: whenever the sum exceeds
    // nlist >= #nonempty-supers, some quota > 1 remains to trim.
    if (left < 0) {
      val trimOrder = quota.toSeq.sortBy { case (s, q) => (-q, s) }.map(_._1).toArray
      var ti = 0
      while (left < 0) {
        val s = trimOrder(ti % trimOrder.length)
        if (quota(s) > 1) { quota(s) -= 1; left += 1 }
        ti += 1
      }
    }
    val quotaB = spark.sparkContext.broadcast(quota.toMap)
    val subCents: Array[Array[Double]] = assigned
      .as[(Int, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (sup: Int, it: Iterator[(Int, Array[Double])]) =>
        val k = quotaB.value.getOrElse(sup, 0)
        if (k <= 0) Iterator.empty
        else {
          // order-insensitive bounded sample: keep the cap rows with the
          // SMALLEST seeded content hash — deterministic regardless of
          // iteration order, so training is reproducible run to run
          val cap = math.max(256, 16 * k)
          val heap = new java.util.PriorityQueue[(Long, Array[Double])](
            cap + 1, (a: (Long, Array[Double]), b: (Long, Array[Double])) =>
              java.lang.Long.compare(b._1, a._1)) // max-heap on hash: evict largest
          it.foreach { case (_, v) =>
            var h = seed * 1000003L + sup
            var i = 0
            while (i < v.length) {
              h = h * 31 + java.lang.Double.doubleToLongBits(v(i)); i += 1
            }
            h = h ^ (h >>> 33)
            if (heap.size < cap) heap.add((h, v))
            else if (h < heap.peek()._1) { heap.poll(); heap.add((h, v)) }
          }
          // deterministic input ORDER for k-means: ascending hash
          val pts = heap.toArray(Array.empty[(Long, Array[Double])])
            .sortBy(_._1).map(_._2)
          if (pts.isEmpty) Iterator.empty
          else PQ.kmeans(pts, math.min(k, pts.length), iters, seed * 131 + sup)
            .iterator.map(c => (sup, c.toSeq))
        }
      }
      // (sup, numeric-lexicographic) sort makes the final centroid INDEXING
      // deterministic too — cluster ids are positions in this array. A
      // direct element-wise comparator: the former mkString(",") key
      // allocated a string per centroid per comparison (O(n log n) of them
      // at 10^5 centroids) and ordered "10" < "9".
      .collect().sortWith { case ((s1, c1), (s2, c2)) =>
        if (s1 != s2) s1 < s2
        else {
          var i = 0
          val n = math.min(c1.length, c2.length)
          while (i < n && c1(i) == c2(i)) i += 1
          if (i < n) c1(i) < c2(i) else c1.length < c2.length
        }
      }
      .map(_._2.toArray)
    IvfModel(metric, subCents)
  }

  /** Assign each row to its nearest centroid — the write-path partitioner.
    * At scale: `.write.partitionBy("cluster_id")` for pruned reads. */
  def assign(df: DataFrame, vecCol: String, model: IvfModel, outCol: String = "cluster_id"): DataFrame = {
    df.withColumn(outCol, graft.functions.VectorExpressions.nearestCentroid(
      col(vecCol).cast("array<double>"), model))
  }

  /** Distributed k-NN JOIN: every LEFT row gets its top-k RIGHT neighbors.
    * Both sides can be arbitrarily large — no driver collect: the right
    * side is bucketed by nearest centroid, each left row probes its nprobe
    * nearest clusters (a per-row map), and the join is a plain equi-join on
    * cluster_id followed by the bounded top-k aggregation. The 100 TB
    * embedding-dedup path: shuffle is O(|left| * nprobe + |right|), never
    * the cross product. Returns (qid, rank, nid, score). */
  def knnJoin(
      left: DataFrame,
      right: DataFrame,
      model: IvfModel,
      nprobe: Int,
      topK: Int,
      leftId: String = "id",
      leftVec: String = "vec",
      rightId: String = "id",
      rightVec: String = "vec",
      excludeSelf: Boolean = false,
      /** >1 spreads each cluster over this many shuffle buckets: the join
        * key cardinality is only nlist, which caps parallelism and skews
        * under uneven clusters; salting replicates the (small) probe rows
        * saltBuckets ways while the heavy right side stays single-copy.
        * Same scored pairs, nlist*saltBuckets-way parallelism. */
      saltBuckets: Int = 1): DataFrame = {

    val m = model
    val l0 = left.select(col(leftId).cast("long").as("__qid"), col(leftVec).as("__qvec"))
      .withColumn("cluster_id", explode(graft.functions.VectorExpressions.nearestClusters(
        col("__qvec").cast("array<double>"), m, nprobe)))
    // the probes side is small and gets broadcast, so the join streams the
    // right side — spread it when it's a single split (no-op at scale)
    val r0 = KnnExact.spreadSmall(assign(right, rightVec, m)
      .select(col("cluster_id"), col(rightId).cast("long").as("__nid"), col(rightVec).as("__nvec")))

    val (l, r, joinKeys) =
      if (saltBuckets > 1) (
        l0.withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1)))),
        r0.withColumn("__salt", pmod(hash(col("__nid")), lit(saltBuckets))),
        Seq("cluster_id", "__salt"))
      else (l0, r0, Seq("cluster_id"))

    val scored = l.join(r, joinKeys)
      .filter(if (excludeSelf) col("__qid") =!= col("__nid") else lit(true))
      .withColumn("__score",
        VectorFunctions.similarity(m.metric)(col("__nvec"), col("__qvec")))

    val agg = TopK.udf(topK)
    scored.groupBy(col("__qid").as("qid"))
      .agg(agg(col("__nid"), col("__score")).as("t"))
      .select(col("qid"), posexplode(col("t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").as("nid"), col("col._2").as("score"))
  }

  /** Write the base table hive-partitioned by nearest centroid — the IVF
    * write path at 100 TB: `path/cluster_id=<c>/part-*.parquet`. A probed
    * search then filters on cluster_id and Catalyst PARTITION PRUNING skips
    * every non-probed cluster's files at planning time — the "inverted
    * file" is the storage layout itself, no index structure to load. */
  def writePartitioned(
      df: DataFrame,
      vecCol: String,
      model: IvfModel,
      path: String,
      mode: String = "overwrite",
      idCol: String = "id",
      options: Map[String, String] = Map.empty): Unit =
    assign(df, vecCol, model)
      .repartitionByRange(col("cluster_id"), col(idCol))
      .sortWithinPartitions(col("cluster_id"), col(idCol))
      .write.partitionBy("cluster_id").options(options).mode(mode).parquet(path)

  /** IVF+PQ layout (FAISS-style IVFPQ re-expressed as a storage layout;
    * jvector pairs its graph with the same PQ sidecars —
    * `PQVectors.java:210`): rows are hive-partitioned by nearest centroid
    * AND carry their PQ code column, so the candidate stage of a probed
    * search reads ONLY the code bytes of probed directories. Parquet's
    * columnar layout leaves the full-resolution vectors untouched until
    * the bounded rerank set is known — late materialization pushed down
    * to storage. At pqM=8 over dim-64 floats the candidate scan reads
    * ~32x fewer bytes than [[writePartitioned]]'s, on top of the same
    * nprobe/nlist partition pruning. */
  /** Train a PQ model on RESIDUALS r = v − clusterCentroid for a residual
    * [[writePartitionedPQ]] layout (FAISS IVF-PQ: a globally-trained
    * codebook cannot discriminate within a tight k-means cell — the same
    * collapse measured on clustered graph trees, NOTES_r11 §2b). */
  def trainResidualPQ(
      df: DataFrame,
      vecCol: String,
      model: IvfModel,
      m: Int,
      k: Int = 256): graft.operators.PQModel = {
    val resFrame = assign(df, vecCol, model).withColumn("__res",
      VectorFunctions.sub(col(vecCol),
        graft.functions.VectorExpressions.centroidAt(col("cluster_id"), model)))
    PQ.train(resFrame, "__res", m, k)
  }

  /** True iff the layout at `path` was written with residual codes
    * (`residualPq = true` — the `_ivfpq_res` marker). */
  private def isResidualLayout(spark: SparkSession, path: String): Boolean = {
    val mp = new org.apache.hadoop.fs.Path(
      s"${path.stripSuffix("/")}/_ivfpq_res")
    try mp.getFileSystem(spark.sessionState.newHadoopConf()).exists(mp)
    catch { case _: Exception => false }
  }

  /** Phase-1 shift frames for residual scoring: the probes frame carrying
    * the per-(query, cluster) scalar `__qc` = q·cell, and the
    * per-PROBED-cluster table frame (cluster_id, cell_dots = cell·codebook
    * LUT, cell_cn = |cell|²). Both are bounded by the PROBED set (≤ batch ×
    * nprobe), never by nlist — at 10⁵ cells nothing here grows with the
    * tree. */
  private def residualProbeFrames(
      spark: SparkSession,
      qRows: Array[(Long, Array[Double])],
      probePairs: Array[(Long, Int)],
      probedClusters: Array[Int],
      model: IvfModel,
      pq: graft.operators.PQModel): (DataFrame, DataFrame) = {
    import spark.implicits._
    val qById = qRows.toMap
    val probes = probePairs.map { case (qid, c) =>
      (qid, c, VectorFunctions.dotSeq(qById(qid), model.centroids(c)))
    }.toSeq.toDF("qid", "cluster_id", "__qc")
    val cells = probedClusters.map { c =>
      val cent = model.centroids(c)
      val (cd, _) = PQ.adcTables(cent, pq)
      (c, cd, VectorFunctions.dotSeq(cent, cent))
    }.toSeq.toDF("cluster_id", "cell_dots", "cell_cn")
    (broadcast(probes), broadcast(cells))
  }

  def writePartitionedPQ(
      df: DataFrame,
      vecCol: String,
      model: IvfModel,
      pq: graft.operators.PQModel,
      path: String,
      mode: String = "overwrite",
      idCol: String = "id",
      options: Map[String, String] = Map.empty,
      /** Encode RESIDUALS v − clusterCentroid instead of raw vectors
        * (FAISS IVF-PQ): `pq` must then be residual-trained
        * ([[trainResidualPQ]]). The searches detect the layout via the
        * `_ivfpq_res` marker and shift their ADC tables per
        * (query, cluster); at equal rerankK the within-cluster ordering
        * is strictly sharper (gated by `ivfpq_res`). */
      residualPq: Boolean = false): Unit = {
    // Range-partition on (cluster_id, id) and sort, then stamp each row
    // with a DENSE cluster-major ordinal (`row_ord`). User ids are useless
    // for phase-2 page skipping: a cluster's members subsample the global
    // id range, so each parquet page's id min/max spans ~nlist times its
    // row count and every page's range contains some survivor value —
    // nothing is ever eliminated (measured: zero skipping). Dense ordinals
    // make pages contiguous ordinal ranges, so a pushed survivor-ordinal
    // In filter reads exactly the pages holding survivors — the Spark/
    // parquet re-expression of FAISS/jvector IVF list-local offsets
    // (`PQVectors.java:210`). One shuffle + one zipWithIndex pass, paid
    // once at write time.
    // Row-range elimination works at the granularity of the PREDICATE
    // column's pages: a row_ord page of parquet's default 20k-row limit
    // would drag ~20k-row vec ranges into every survivor read. Cap page
    // rows near the vec column's natural page row count so a survivor
    // costs ~one vec page. Caller options override.
    val opts = Map("parquet.page.row.count.limit" -> "2048") ++ options
    val encoded =
      if (residualPq) {
        PQ.encode(
          assign(df, vecCol, model).withColumn("__res",
            VectorFunctions.sub(col(vecCol),
              graft.functions.VectorExpressions.centroidAt(col("cluster_id"), model))),
          "__res", pq).drop("__res")
      } else PQ.encode(assign(df, vecCol, model), vecCol, pq)
    val sorted = encoded
      .repartitionByRange(col("cluster_id"), col(idCol))
      .sortWithinPartitions(col("cluster_id"), col(idCol))
    val spark = df.sparkSession
    val withOrd = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, ord) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ord)
      },
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("row_ord",
          org.apache.spark.sql.types.LongType, nullable = false)))
    withOrd.write.partitionBy("cluster_id").options(opts).mode(mode).parquet(path)
    if (residualPq) {
      // marker AFTER the main write (overwrite would wipe it): searches
      // switch to shifted ADC when present
      val mp = new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/_ivfpq_res")
      val out = mp.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
        .create(mp, true)
      try out.write("residual".getBytes("UTF-8")) finally out.close()
    }
  }

  /** Two-phase probed search over a [[writePartitionedPQ]] layout.
    *
    * Phase 1 (candidates): one `cluster_id IN (...)` partition-pruned scan
    * that selects ONLY (id, pq_code); each scanned code is ADC-scored for
    * the queries that probed its cluster (broadcast probe pairs + broadcast
    * per-query tables, lookup-sum HOF expression — no UDF); a bounded
    * top-rerankK survives per query.
    *
    * Phase 2 (rerank): a second scan of the probed directories reading
    * (id, vec), pruned to the survivors — their dense cluster-major
    * ordinals (bounded by nQueries * rerankK, a serving-batch size) are
    * sorted and pushed as chunked In filters that parquet's column index
    * turns into page-level skips; exact re-score, final top-k.
    *
    * Returns (qid, rank, nid, score) like [[search]]. */
  /** Query-chunk size for the declarative ADC routes: bounds the broadcast
    * per-query table frame (two m*k double tables per query) at ~64 MB.
    * m=8, k=256 -> 4096 queries/chunk. Spec override forces small chunks
    * to pin chunked == unchunked results. */
  private[graft] var adcChunkOverride: Int = 0
  private def adcChunkSize(pq: graft.operators.PQModel): Int =
    if (adcChunkOverride > 0) adcChunkOverride
    else {
      val perQ = 2L * pq.codebooks.length * pq.codebooks(0).length * 8L
      math.max(256, (64L * 1024 * 1024 / math.max(1L, perQ)).toInt)
    }

  def searchPartitionedPQ(
      path: String,
      queries: DataFrame,
      model: IvfModel,
      pq: graft.operators.PQModel,
      nprobe: Int,
      topK: Int,
      rerankK: Int,
      baseId: String = "id",
      baseVec: String = "vec",
      maxPushdownIds: Int = 65536): DataFrame = {
    require(rerankK >= topK, s"rerankK ($rerankK) must be >= topK ($topK)")
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // auto-chunk very large batches: the declarative route broadcasts a
    // per-query ADC table frame of O(batch x m x k) doubles (the codegen
    // lookup-sum needs columns), which at 10k+ queries x k=256 becomes a
    // multi-hundred-MB broadcast — a driver/executor memory hazard at
    // 100 TB batch sizes. Queries are independent, so a chunked union is
    // EXACT; chunks select by qid from the ORIGINAL frame so column types
    // and values reach scoring bit-identically. The graph routes never
    // need this (tables build in-task from a model-only broadcast).
    val chunkQ = adcChunkSize(pq)
    if (qRows.length > chunkQ) {
      return qRows.map(_._1).grouped(chunkQ).map { qids =>
        searchPartitionedPQ(path,
          queries.filter(col("qid").cast("long")
            .isin(qids.map(java.lang.Long.valueOf).toSeq: _*)),
          model, pq, nprobe, topK, rerankK, baseId, baseVec, maxPushdownIds)
      }.reduce(_ unionByName _)
    }
    val probePairs = qRows.flatMap { case (qid, qv) =>
      model.nearestClusters(qv, nprobe).map(c => (qid, c))
    }
    val probedClusters = probePairs.map(_._2).distinct.sorted
    // ONE schema resolution per call: the reader result is immutable and
    // reusable; a fresh spark.read per probe re-ran footer reads
    val layoutDf = spark.read.parquet(path)
    def pruned(): DataFrame = layoutDf
      .filter(col("cluster_id").isin(probedClusters.map(Integer.valueOf).toSeq: _*))
    // residual layouts score v̂ = cell + r̂: the probes frame carries the
    // per-(query, cluster) q·cell scalar and a per-probed-cluster shift
    // frame joins in; global layouts keep the plain probes frame
    val residual = isResidualLayout(spark, path)
    val (probesDf, cellsDf) =
      if (residual) residualProbeFrames(spark, qRows, probePairs, probedClusters, model, pq)
      else (broadcast(probePairs.toSeq.toDF("qid", "cluster_id")), null)

    // Layouts written by [[writePartitionedPQ]] carry a dense cluster-major
    // ordinal; candidates are keyed by it so the phase-2 In pushdown hits
    // tight contiguous page ranges. Pre-row_ord layouts fall back to the
    // user id key (correct, but page stats can't skip — see write path).
    val keyCol = if (layoutDf.columns.contains("row_ord")) "row_ord" else baseId

    // phase 1: narrow scan — the vec column is never materialized here
    val approx0 = pruned()
      .select(col(keyCol).cast("long").as("__nid"), col("cluster_id"), col("pq_code"))
      .join(probesDf, "cluster_id")
      .join(PQ.adcQueryFrame(spark, qRows, pq), "qid")
    val approx =
      if (residual) approx0.join(cellsDf, "cluster_id")
        .withColumn("__approx", PQ.adcResidualApproxScore(model.metric, pq, "pq_code"))
      else approx0
        .withColumn("__approx", PQ.adcApproxScore(model.metric, pq, "pq_code"))
    val candAgg = TopK.udf(rerankK)
    val cands = cacheBounded(approx.groupBy("qid")
      .agg(candAgg(col("__nid"), col("__approx")).as("t"))
      .select(col("qid"), explode(col("t._1")).as("__nid")))
    // gate the pushdown on what is actually pushed: DISTINCT survivor
    // keys (overlapping per-query survivor sets collapse)
    val nCand = cands.select("__nid").distinct().count()

    // phase 2: targeted full-res re-read of survivors only
    val vecs = survivorFullResScan(spark, path, probedClusters, keyCol,
      cands, nCand, maxPushdownIds, baseId, baseVec)
    val exact = cands.join(vecs, "__nid")
      .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
      .withColumn("__score",
        VectorFunctions.similarity(model.metric)(col("__vec"), col("qvec")))
    val fin = TopK.udf(topK)
    exact.groupBy("qid")
      .agg(fin(col("__uid"), col("__score")).as("t"))
      .select(col("qid"), posexplode(col("t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").as("nid"), col("col._2").as("score"))
  }

  /** Shared phase-2 machinery of the PQ-layout searches: read the
    * full-resolution rows of `cands`' survivor keys only — the survivor
    * keys are sorted and pushed as chunked In filters that parquet's
    * column index turns into page-level skips. The id filter goes on the
    * RAW scan column (before the long cast) so it reaches parquet as a
    * pushed In filter rather than dying under the Cast.
    * Returns (__nid, __uid, __vec). */
  private def survivorFullResScan(
      spark: SparkSession,
      path: String,
      probedClusters: Array[Int],
      keyCol: String,
      cands: DataFrame,
      nCand: Long,
      maxPushdownIds: Int,
      baseId: String,
      baseVec: String): DataFrame = {
    import spark.implicits._
    def pruned(): DataFrame = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probedClusters.map(Integer.valueOf).toSeq: _*))
    val base =
      if (nCand <= maxPushdownIds) {
          val ids = cands.select("__nid").distinct().as[Long].collect().sorted
          // Pushdown mechanics (measured, Spark 4.1 + parquet-mr): an In of
          // <= spark.sql.parquet.pushdown.inFilterThreshold values becomes
          // an Or-chain of Eq — the only translation whose column-index
          // evaluation actually eliminates pages — but its evaluation
          // recurses once per value and overflows the stack in the low
          // thousands. Above the threshold Spark pushes parquet's native
          // in(Set), which does NOT drive page elimination here. So: sort
          // the survivor ordinals, push them in chunks small enough for a
          // safe Or-chain (each chunk also gets a redundant between-range
          // conjunct for cheap row-group pruning — sorted dense ordinals
          // make chunks tight ranges), and union the chunk scans.
          val chunk = 1000
          // The In -> Or-chain cliff is a SESSION conf read lazily when the
          // scan executes (after this method returns), so save-and-restore
          // here would undo the widening before it takes effect, and a bare
          // set would leak the change into every later query on the
          // caller's session (whose own 10..1000-value INs would silently
          // switch translation strategy). Scope it instead: a throwaway
          // child session carries the widened threshold, and a parquet
          // relation resolves pushdown conf from the session that CREATED
          // it — so scans built here keep the Or-chain translation when the
          // combined plan runs under the caller's session, and the caller's
          // conf is never touched.
          val thrKey = "spark.sql.parquet.pushdown.inFilterThreshold"
          val scanSession =
            if (spark.conf.get(thrKey, "10").toInt >= chunk) spark
            else {
              // newSession() starts from SparkConf defaults — carry over
              // the caller's RUNTIME SQL confs first (a caller that e.g.
              // disabled the vectorized reader to dodge a reader bug must
              // see that honored on these scans too), THEN widen the one
              // conf this scope exists for. Static/immutable entries
              // reject the set — skip them.
              val s2 = spark.newSession()
              spark.conf.getAll.foreach { case (key, v) =>
                try if (s2.conf.get(key, null) != v) s2.conf.set(key, v)
                catch { case scala.util.control.NonFatal(_) => () }
              }
              s2.conf.set(thrKey, chunk)
              s2
            }
          def prunedScan(): DataFrame = scanSession.read.parquet(path)
            .filter(col("cluster_id").isin(probedClusters.map(Integer.valueOf).toSeq: _*))
          if (ids.isEmpty) pruned().filter(lit(false))
          else ids.grouped(chunk).map { g =>
            prunedScan()
              .filter(col(keyCol).between(g.head, g.last))
              .filter(col(keyCol).isin(g.map(java.lang.Long.valueOf).toSeq: _*))
          }.reduce(_ union _)
        } else pruned() // huge batch: let the shuffled join do the filtering
    base.select(col(keyCol).cast("long").as("__nid"),
      col(baseId).cast("long").as("__uid"), col(baseVec).as("__vec"))
  }

  /** Range (threshold) search over a [[writePartitionedPQ]] layout — the
    * compressed analog of [[thresholdSearchPartitioned]], with the same
    * two-phase IO economics as [[searchPartitionedPQ]]: phase 1 scans ONLY
    * (key, cluster_id, pq_code) of the probed directories and keeps rows
    * whose ADC score clears `threshold - margin`; phase 2 re-reads just the
    * survivors at full resolution (chunked ordinal pushdown, page-level
    * skips), re-scores exactly, and re-applies the threshold on the exact
    * scale — so precision is exact BY CONSTRUCTION and the margin governs
    * only recall (a true hit is lost only when quantization error exceeds
    * the margin) and rerank cost (rows in [t - margin, t)).
    *
    * The margin defaults to per-query CALIBRATION (the same policy as the
    * graph engine's compressed threshold route, `Ann.thresholdSearchIndex`):
    * an evenly-strided ~64-row sample of the probed rows is scored BOTH
    * ways with the exact phase-1 ADC arithmetic, and the margin is the
    * sampled max positive (exact - adc) deviation, floored at 0.01 and
    * capped at 0.25; queries whose probe set the sample misses fall back
    * to the conservative cap. Pass `adcMargin` to pin it instead.
    * Returns (qid, nid, score). */
  def thresholdSearchPartitionedPQ(
      path: String,
      queries: DataFrame,
      model: IvfModel,
      pq: graft.operators.PQModel,
      nprobe: Int,
      threshold: Double,
      adcMargin: Double = Double.NaN,
      baseId: String = "id",
      baseVec: String = "vec",
      maxPushdownIds: Int = 65536): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // same auto-chunking as [[searchPartitionedPQ]]: the per-query ADC
    // frame is O(batch x m x k). PRECISION is exact by construction
    // (phase 2 rescores at full resolution); with a PINNED adcMargin the
    // chunked union is row-for-row exact, but the default auto-margin
    // samples its deviation estimate from each chunk's pruned probe set,
    // so phase-1 margins — and hence recall/hit sets — can differ
    // slightly from an unchunked run (IvfResSpec pins the margin to
    // assert equality for this reason)
    val chunkQ = adcChunkSize(pq)
    if (qRows.length > chunkQ) {
      return qRows.map(_._1).grouped(chunkQ).map { qids =>
        thresholdSearchPartitionedPQ(path,
          queries.filter(col("qid").cast("long")
            .isin(qids.map(java.lang.Long.valueOf).toSeq: _*)),
          model, pq, nprobe, threshold, adcMargin, baseId, baseVec,
          maxPushdownIds)
      }.reduce(_ unionByName _)
    }
    val probePairs = qRows.flatMap { case (qid, qv) =>
      model.nearestClusters(qv, nprobe).map(c => (qid, c))
    }
    val probedClusters = probePairs.map(_._2).distinct.sorted
    val layoutDf = spark.read.parquet(path) // one schema resolution per call
    def pruned(): DataFrame = layoutDf
      .filter(col("cluster_id").isin(probedClusters.map(Integer.valueOf).toSeq: _*))
    val keyCol = if (layoutDf.columns.contains("row_ord")) "row_ord" else baseId
    val qFrame = PQ.adcQueryFrame(spark, qRows, pq)
    // residual layouts shift the ADC per (query, cluster) — same switch as
    // [[searchPartitionedPQ]]; the margin calibration below then measures
    // the RESIDUAL quantization error, which is what phase 1 traverses on
    val residual = isResidualLayout(spark, path)
    val (probesDf, cellsDf) =
      if (residual) residualProbeFrames(spark, qRows, probePairs, probedClusters, model, pq)
      else (broadcast(probePairs.toSeq.toDF("qid", "cluster_id")), null)
    def withApprox(df: DataFrame): DataFrame = {
      // qFrame already carries the (double-cast) qvec — exact for the
      // deviation estimate, no second queries join needed
      val j = df.join(probesDf, "cluster_id").join(qFrame, "qid")
      if (residual) j.join(cellsDf, "cluster_id")
        .withColumn("__approx", PQ.adcResidualApproxScore(model.metric, pq, "pq_code"))
      else j.withColumn("__approx", PQ.adcApproxScore(model.metric, pq, "pq_code"))
    }

    val margins: DataFrame =
      if (!adcMargin.isNaN) qRows.map(q => (q._1, adcMargin)).toSeq.toDF("qid", "__margin")
      else {
        val cnt = pruned().select(col(keyCol)).count()
        val stride = math.max(1L, cnt / 64L)
        withApprox(pruned()
          .filter(pmod(col(keyCol), lit(stride)) === 0)
          .select(col("cluster_id"), col("pq_code"), col(baseVec).as("__vec")))
          .withColumn("__dev",
            VectorFunctions.similarity(model.metric)(col("__vec"), col("qvec"))
              - col("__approx"))
          .groupBy("qid")
          .agg(greatest(lit(0.01), least(lit(0.25), max(col("__dev")))).as("__margin"))
      }

    // phase 1: codes-only candidate scan at the widened approximate bar
    val cands = cacheBounded(withApprox(pruned()
      .select(col(keyCol).cast("long").as("__nid"), col("cluster_id"), col("pq_code")))
      .join(broadcast(margins), Seq("qid"), "left")
      .filter(col("__approx") >=
        lit(threshold) - coalesce(col("__margin"), lit(0.25)))
      .select(col("qid"), col("__nid")))
    val nCand = cands.select("__nid").distinct().count()

    // phase 2: exact re-score of survivors, threshold on the exact scale
    val vecs = survivorFullResScan(spark, path, probedClusters, keyCol,
      cands, nCand, maxPushdownIds, baseId, baseVec)
    cands.join(vecs, "__nid")
      .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
      .withColumn("score",
        VectorFunctions.similarity(model.metric)(col("__vec"), col("qvec")))
      .filter(col("score") >= threshold)
      .select(col("qid"), col("__uid").as("nid"), col("score"))
  }

  /** Probed search over a [[writePartitioned]] layout: the union of all
    * queries' probe lists becomes ONE `cluster_id IN (...)` scan filter
    * (partition pruning — only probed directories are read), then the
    * per-query (qid, cluster) probe join assigns each scanned row to the
    * queries that probed its cluster. Returns (qid, rank, nid, score). */
  def searchPartitioned(
      path: String,
      queries: DataFrame,
      model: IvfModel,
      nprobe: Int,
      topK: Int,
      baseId: String = "id",
      baseVec: String = "vec"): DataFrame = {
    val spark = queries.sparkSession
    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probedClusters = qRows.flatMap { case (_, qv) =>
      model.nearestClusters(qv, nprobe)
    }.distinct.sorted
    val assigned = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probedClusters.map(Integer.valueOf).toSeq: _*))
    search(assigned, queries, model, nprobe, topK, baseId, baseVec)
  }

  /** Range (threshold) search over a [[writePartitioned]] layout — the
    * FAISS `range_search` shape on the partition-pruned read path: per
    * query, every row in its probed clusters whose similarity clears
    * `threshold`. Same probe machinery and pruning economics as
    * [[searchPartitioned]] (one `cluster_id IN (...)` scan over the union
    * of probe lists, then the (qid, cluster) probe join fans rows out to
    * probing queries); the bounded TopK aggregate is replaced by a plain
    * predicate, so the plan is scan -> two broadcast joins -> filter, no
    * per-query state at all. Result size is data-dependent (like any range
    * query) but each row is emitted at most once per probing query — never
    * quadratic in the corpus. Returns (qid, nid, score). */
  def thresholdSearchPartitioned(
      path: String,
      queries: DataFrame,
      model: IvfModel,
      nprobe: Int,
      threshold: Double,
      baseId: String = "id",
      baseVec: String = "vec"): DataFrame = {
    val spark = queries.sparkSession
    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probedClusters = qRows.flatMap { case (_, qv) =>
      model.nearestClusters(qv, nprobe)
    }.distinct.sorted
    val assigned = spark.read.parquet(path)
      .filter(col("cluster_id").isin(probedClusters.map(Integer.valueOf).toSeq: _*))
    thresholdSearch(assigned, queries, model, nprobe, threshold, baseId, baseVec)
  }

  /** Probed range search core (see [[thresholdSearchPartitioned]]):
    * every (query, row-in-probed-cluster) pair with similarity >=
    * threshold. Returns (qid, nid, score). */
  def thresholdSearch(
      assigned: DataFrame,
      queries: DataFrame,
      model: IvfModel,
      nprobe: Int,
      threshold: Double,
      baseId: String = "id",
      baseVec: String = "vec",
      clusterCol: String = "cluster_id"): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probes = qRows.flatMap { case (qid, qv) =>
      model.nearestClusters(qv, nprobe).map(c => (qid, c))
    }.toSeq.toDF("qid", clusterCol)
    val qdf = queries.select(col("qid").cast("long"), col("qvec"))
    assigned
      .join(broadcast(probes), clusterCol)
      .join(broadcast(qdf), "qid")
      .withColumn("score",
        VectorFunctions.similarity(model.metric)(col(baseVec), col("qvec")))
      .filter(col("score") >= threshold)
      .select(col("qid"), col(baseId).cast("long").as("nid"), col("score"))
  }

  /** Probed search: per query, pick nprobe nearest centroids (driver-side —
    * centroids are tiny), then score ONLY rows in those clusters via an
    * equi-join on cluster_id (shuffle-hash/broadcast join on a small pair
    * set — never a cross product). Returns (qid, rank, nid, score). */
  def search(
      assigned: DataFrame,
      queries: DataFrame,
      model: IvfModel,
      nprobe: Int,
      topK: Int,
      baseId: String = "id",
      baseVec: String = "vec",
      clusterCol: String = "cluster_id"): DataFrame = {

    val spark = assigned.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probes = qRows.flatMap { case (qid, qv) =>
      model.nearestClusters(qv, nprobe).map(c => (qid, c))
    }.toSeq.toDF("qid", clusterCol)
    val qdf = queries.select(col("qid").cast("long"), col("qvec"))

    val scored = assigned
      .join(broadcast(probes), clusterCol) // partition-pruning join
      .join(broadcast(qdf), "qid")
      .withColumn("__score",
        VectorFunctions.similarity(model.metric)(col(baseVec), col("qvec")))

    val agg = TopK.udf(topK)
    scored.groupBy("qid")
      .agg(agg(col(baseId).cast("long"), col("__score")).as("t"))
      .select(col("qid"), posexplode(col("t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").as("nid"), col("col._2").as("score"))
  }
}
