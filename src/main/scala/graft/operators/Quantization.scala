package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product Quantization model (jvector `quantization/ProductQuantization.java`):
  * the vector dimension is split into `m` subspaces (sizes `dim/m`, remainder
  * spread over the first subspaces — `getSubvectorSizesAndOffsets`,
  * ProductQuantization.java:122), each with its own k-means codebook.
  *
  * Codebooks are tiny (m * k * subDim doubles ≤ a few MB) and are shipped to
  * executors inside closures/literals — the 100 TB-scale design is:
  * train on a bounded driver-side sample (reference caps at 128k vectors,
  * ProductQuantization.java:62-64), encode distributed, score via per-query
  * lookup tables (ADC, `PQVectors.java:210`).
  */
case class PQModel(
    dim: Int,
    m: Int,
    k: Int,
    subSizes: Array[Int],
    subOffsets: Array[Int],
    codebooks: Array[Array[Array[Double]]]) {

  def decode(code: Array[Int]): Array[Double] = {
    val out = new Array[Double](dim)
    var i = 0
    while (i < m) {
      val c = codebooks(i)(code(i))
      System.arraycopy(c, 0, out, subOffsets(i), subSizes(i))
      i += 1
    }
    out
  }

  def encodeOne(v: Array[Double]): Array[Int] = {
    val out = new Array[Int](m)
    var i = 0
    while (i < m) {
      var best = 0
      var bestD = Double.MaxValue
      val cb = codebooks(i)
      var c = 0
      while (c < cb.length) {
        var d = 0.0
        var j = 0
        val off = subOffsets(i)
        while (j < subSizes(i)) {
          val diff = v(off + j) - cb(c)(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(i) = best
      i += 1
    }
    out
  }
}

/** Code-to-code scorer for approximate-scored graph builds
  * ([[graft.index.Vamana.buildApprox]] — the reference's default
  * construction mode, `BuildScoreProvider.pqBuildScoreProvider`,
  * `similarity/BuildScoreProvider.java:170-212`).
  *
  * Decoded vectors are concatenations of per-subspace centroids, so
  * dot(decode(a), decode(b)) == Σ_s dot(cb_s(a_s), cb_s(b_s)) exactly —
  * precomputing the per-subspace centroid-pair dot tables (m * k * k
  * doubles: ~4 MB at m=8/k=256, independent of n) and per-centroid
  * subvector norms makes a pair score m table lookups, with no full-res
  * vector access at all. Normalization formulas match [[graft.index.Vamana]]
  * sim exactly (EUCLIDEAN 1/(1+l2²), DOT (1+d)/2, COSINE (1+cos)/2) so an
  * approximate build drops into the same RobustPrune thresholds. */
final class PQPairScorer(model: PQModel, codesFlat: Array[Int], metric: String)
    extends Serializable {
  private val m = model.m
  private val metricCode: Int = metric.toUpperCase match {
    case "EUCLIDEAN" => 0
    case "DOT_PRODUCT" | "DOT" => 1
    case "COSINE" => 2
    case x => throw new IllegalArgumentException(s"unknown metric: $x")
  }
  // ks(s) = actual centroid count in subspace s (k capped by sample size)
  private val ks: Array[Int] = Array.tabulate(m)(s => model.codebooks(s).length)
  private val kern = graft.simd.Kernels.INSTANCE
  // dotCC(s)(ca * ks(s) + cb) = dot(cb_s(ca), cb_s(cb))
  private val dotCC: Array[Array[Double]] = Array.tabulate(m) { s =>
    val cb = model.codebooks(s)
    val k = ks(s)
    val t = new Array[Double](k * k)
    var a = 0
    while (a < k) {
      var b = a
      while (b < k) {
        val d = kern.dotD(cb(a), cb(b))
        t(a * k + b) = d
        t(b * k + a) = d
        b += 1
      }
      a += 1
    }
    t
  }
  // magC(s)(c) = |cb_s(c)|² (diagonal of dotCC, kept separate for locality)
  private val magC: Array[Array[Double]] =
    Array.tabulate(m)(s => Array.tabulate(ks(s))(c => dotCC(s)(c * ks(s) + c)))

  /** Similarity between nodes a and b from codes alone. */
  def score(a: Int, b: Int): Double = {
    val ba = a * m
    val bb = b * m
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var s = 0
    while (s < m) {
      val ca = codesFlat(ba + s)
      val cb = codesFlat(bb + s)
      dot += dotCC(s)(ca * ks(s) + cb)
      na += magC(s)(ca)
      nb += magC(s)(cb)
      s += 1
    }
    (metricCode: @annotation.switch) match {
      case 0 => 1.0 / (1.0 + (na - 2.0 * dot + nb))
      case 1 => (1.0 + dot) / 2.0
      case 2 => (1.0 + dot / (math.sqrt(na) * math.sqrt(nb))) / 2.0
    }
  }

  /** Entry node: argmax similarity to the approximate centroid (reference
    * `approximateCentroid`, `BuildScoreProvider.java:207-210`), computed
    * from code frequencies — again without touching full-res vectors.
    * Ties break to the lowest node id (matches the exact build's medoid
    * scan). */
  def entryNode(): Int = {
    val nRows = codesFlat.length / m
    if (nRows == 0) return 0
    // centroid subvector per subspace: frequency-weighted mean of centroids
    val cent: Array[Array[Double]] = Array.tabulate(m) { s =>
      val freq = new Array[Long](ks(s))
      var i = 0
      while (i < nRows) { freq(codesFlat(i * m + s)) += 1L; i += 1 }
      val sub = new Array[Double](model.subSizes(s))
      var c = 0
      while (c < ks(s)) {
        if (freq(c) > 0) {
          val cb = model.codebooks(s)(c)
          val w = freq(c).toDouble / nRows
          var j = 0
          while (j < sub.length) { sub(j) += w * cb(j); j += 1 }
        }
        c += 1
      }
      sub
    }
    // per-code dot/mag tables vs the centroid
    val dCent: Array[Array[Double]] =
      Array.tabulate(m)(s => Array.tabulate(ks(s))(c => kern.dotD(cent(s), model.codebooks(s)(c))))
    val centMag = cent.map(sub => kern.dotD(sub, sub)).sum
    var best = 0
    var bestS = Double.MinValue
    var i = 0
    while (i < nRows) {
      var dot = 0.0
      var nb = 0.0
      var s = 0
      while (s < m) {
        val c = codesFlat(i * m + s)
        dot += dCent(s)(c)
        nb += magC(s)(c)
        s += 1
      }
      val sc = (metricCode: @annotation.switch) match {
        case 0 => 1.0 / (1.0 + (centMag - 2.0 * dot + nb))
        case 1 => (1.0 + dot) / 2.0
        case 2 => (1.0 + dot / (math.sqrt(centMag) * math.sqrt(nb))) / 2.0
      }
      if (sc > bestS) { bestS = sc; best = i }
      i += 1
    }
    best
  }
}

/** Residual-code pair scorer for CLUSTERED builds (the IVF-PQ
  * construction, FAISS-style; the reference never needs it because it
  * doesn't cell-partition its corpus — see `BuildScoreProvider.
  * pqBuildScoreProvider`, `similarity/BuildScoreProvider.java:170-212`,
  * which scores GLOBAL codes). A globally-trained codebook cannot
  * discriminate within a tight k-means cell: same-cell vectors collapse
  * onto few codes and construction scores become quantization noise
  * (measured: exact-recall@10 0.120 vs 0.532 exact-scored, NOTES_r11 §2b).
  * Here `model` is trained on residuals r = v - cellCentroid and
  * `codesFlat` encodes each node's residual; reconstructed vectors are
  * v̂ = c + decode(r), so pair similarity needs only the residual LUTs
  * plus per-node scalars against the SHARED cell centroid:
  *   dot(v̂a, v̂b)  = |c|² + dot(c,r̂a) + dot(c,r̂b) + dot(r̂a,r̂b)
  *   |v̂a|²        = |c|² + 2·dot(c,r̂a) + |r̂a|²
  * For EUCLIDEAN the centroid cancels exactly (||v̂a−v̂b|| = ||r̂a−r̂b||);
  * DOT/COSINE carry the centroid terms. Still no full-res vector access:
  * per-pair cost is m table lookups + scalars, same as [[PQPairScorer]]. */
final class ResidualPQPairScorer(
    model: PQModel, codesFlat: Array[Int], metric: String,
    cellCentroid: Array[Double]) extends Serializable {
  private val m = model.m
  private val metricCode: Int = metric.toUpperCase match {
    case "EUCLIDEAN" => 0
    case "DOT_PRODUCT" | "DOT" => 1
    case "COSINE" => 2
    case x => throw new IllegalArgumentException(s"unknown metric: $x")
  }
  private val ks: Array[Int] = Array.tabulate(m)(s => model.codebooks(s).length)
  private val kern = graft.simd.Kernels.INSTANCE
  // residual-residual LUTs, identical construction to PQPairScorer
  private val dotCC: Array[Array[Double]] = Array.tabulate(m) { s =>
    val cb = model.codebooks(s)
    val k = ks(s)
    val t = new Array[Double](k * k)
    var a = 0
    while (a < k) {
      var b = a
      while (b < k) {
        val d = kern.dotD(cb(a), cb(b))
        t(a * k + b) = d
        t(b * k + a) = d
        b += 1
      }
      a += 1
    }
    t
  }
  private val magC: Array[Array[Double]] =
    Array.tabulate(m)(s => Array.tabulate(ks(s))(c => dotCC(s)(c * ks(s) + c)))
  // centroid terms: dotCentC(s)(c) = dot(cell_sub_s, cb_s(c)); cc2 = |cell|²
  private val dotCentC: Array[Array[Double]] = Array.tabulate(m) { s =>
    val sub = java.util.Arrays.copyOfRange(
      cellCentroid, model.subOffsets(s), model.subOffsets(s) + model.subSizes(s))
    Array.tabulate(ks(s))(c => kern.dotD(sub, model.codebooks(s)(c)))
  }
  private val cc2: Double = kern.dotD(cellCentroid, cellCentroid)
  private val nRows = codesFlat.length / math.max(1, m)
  // per-node scalars: dot(c, r̂i) and |v̂i|² — O(n·m) once
  private val centDot: Array[Double] = Array.tabulate(nRows) { i =>
    var d = 0.0; var s = 0
    while (s < m) { d += dotCentC(s)(codesFlat(i * m + s)); s += 1 }
    d
  }
  private val resMag: Array[Double] = Array.tabulate(nRows) { i =>
    var rm = 0.0; var s = 0
    while (s < m) { rm += magC(s)(codesFlat(i * m + s)); s += 1 }
    rm
  }
  private val norm2: Array[Double] =
    Array.tabulate(nRows)(i => cc2 + 2.0 * centDot(i) + resMag(i))

  /** Similarity between nodes a and b from residual codes + shared cell. */
  def score(a: Int, b: Int): Double = {
    val ba = a * m
    val bb = b * m
    var rdot = 0.0
    var s = 0
    while (s < m) {
      rdot += dotCC(s)(codesFlat(ba + s) * ks(s) + codesFlat(bb + s))
      s += 1
    }
    (metricCode: @annotation.switch) match {
      case 0 =>
        // centroid cancels: ||v̂a − v̂b||² = |r̂a|² − 2 dot(r̂a,r̂b) + |r̂b|²
        1.0 / (1.0 + (resMag(a) - 2.0 * rdot + resMag(b)))
      case 1 =>
        (1.0 + (cc2 + centDot(a) + centDot(b) + rdot)) / 2.0
      case 2 =>
        val dot = cc2 + centDot(a) + centDot(b) + rdot
        (1.0 + dot / (math.sqrt(norm2(a)) * math.sqrt(norm2(b)))) / 2.0
    }
  }

  /** Entry node: argmax similarity to the segment's approximate centroid
    * ĝ = cell + freq-weighted mean of decoded residuals (the residual
    * analogue of `BuildScoreProvider.approximateCentroid`), from codes and
    * the shared cell alone. Ties break to the lowest node id. */
  def entryNode(): Int = {
    if (nRows == 0) return 0
    // freq-weighted residual mean per subspace
    val rbar: Array[Array[Double]] = Array.tabulate(m) { s =>
      val freq = new Array[Long](ks(s))
      var i = 0
      while (i < nRows) { freq(codesFlat(i * m + s)) += 1L; i += 1 }
      val sub = new Array[Double](model.subSizes(s))
      var c = 0
      while (c < ks(s)) {
        if (freq(c) > 0) {
          val cb = model.codebooks(s)(c)
          val w = freq(c).toDouble / nRows
          var j = 0
          while (j < sub.length) { sub(j) += w * cb(j); j += 1 }
        }
        c += 1
      }
      sub
    }
    // ĝ = cell + r̄ assembled full-dim once (one vector, not per node)
    val g = cellCentroid.clone()
    var s = 0
    while (s < m) {
      var j = 0
      while (j < rbar(s).length) { g(model.subOffsets(s) + j) += rbar(s)(j); j += 1 }
      s += 1
    }
    val gMag = kern.dotD(g, g)
    val cgDot = kern.dotD(cellCentroid, g)
    // dot(r̂i, g) via per-code LUT against g's subspace slices
    val dG: Array[Array[Double]] = Array.tabulate(m) { ss =>
      val sub = java.util.Arrays.copyOfRange(
        g, model.subOffsets(ss), model.subOffsets(ss) + model.subSizes(ss))
      Array.tabulate(ks(ss))(c => kern.dotD(sub, model.codebooks(ss)(c)))
    }
    var best = 0
    var bestS = Double.MinValue
    var i = 0
    while (i < nRows) {
      var rg = 0.0
      var ss = 0
      while (ss < m) { rg += dG(ss)(codesFlat(i * m + ss)); ss += 1 }
      val dot = cgDot + rg
      val sc = (metricCode: @annotation.switch) match {
        case 0 => 1.0 / (1.0 + (gMag - 2.0 * dot + norm2(i)))
        case 1 => (1.0 + dot) / 2.0
        case 2 => (1.0 + dot / (math.sqrt(gMag) * math.sqrt(norm2(i)))) / 2.0
      }
      if (sc > bestS) { bestS = sc; best = i }
      i += 1
    }
    best
  }
}

/** Hamming-scored build companion to [[PQPairScorer]] (the reference's
  * other approximate construction mode:
  * `BuildScoreProvider.bqBuildScoreProvider`,
  * `similarity/BuildScoreProvider.java:214-246`): node-pair similarity is
  * `1 - hamming/dim` over sign-bit codes — one XOR+popcount word op per 64
  * dims, no codebooks at all. Coarser than PQ (1 bit/dim); the reference
  * offers it for the same build-memory reason with the same recall caveat.
  * Entry selection follows the reference's zeros approximate-centroid
  * ("centroid = zeros is actually a decent approximation"): the all-zero
  * query code makes similarity monotone in -popcount, so entry = node with
  * the fewest set bits (ties to the lowest id). */
final class BQPairScorer(codes: Array[Array[Long]], dim: Int) extends Serializable {

  def score(a: Int, b: Int): Double = {
    val ca = codes(a)
    val cb = codes(b)
    var h = 0
    var w = 0
    while (w < ca.length) { h += java.lang.Long.bitCount(ca(w) ^ cb(w)); w += 1 }
    1.0 - h.toDouble / dim
  }

  def entryNode(): Int = {
    var best = 0
    var bestPop = Int.MaxValue
    var i = 0
    while (i < codes.length) {
      var pop = 0
      var w = 0
      while (w < codes(i).length) { pop += java.lang.Long.bitCount(codes(i)(w)); w += 1 }
      if (pop < bestPop) { bestPop = pop; best = i }
      i += 1
    }
    best
  }
}

object BQPairScorer {
  /** Sign-bit pack (bit j of word i set iff v[i*64+j] > 0 — BQ contract). */
  def encode(vecs: Array[Array[Float]]): Array[Array[Long]] = {
    vecs.map { v =>
      val words = new Array[Long]((v.length + 63) / 64)
      var i = 0
      while (i < v.length) {
        if (v(i) > 0f) words(i / 64) |= 1L << (i % 64)
        i += 1
      }
      words
    }
  }

  def apply(vecs: Array[Array[Float]]): BQPairScorer =
    new BQPairScorer(encode(vecs), if (vecs.isEmpty) 1 else vecs(0).length)
}

/** Bounded deterministic driver-side training sample (the reference caps PQ
  * training at 128k vectors — ProductQuantization.java:62-64; same contract
  * reused by IVF). */
private[graft] object Sampling {
  /** PARTITION-LAYOUT-INVARIANT bounded sample: the `cap` rows with the
    * smallest seeded content hash, in hash order (trainHierarchical's
    * pattern). The previous `df.sample(...).limit(cap)` was seeded PER
    * PARTITION and `limit` kept whichever partitions answered first, so the
    * trained model — and every index built from it — silently depended on
    * the input's partition COUNT: the same 4M rows at 4 vs 32 input
    * partitions trained different centroids and built trees with mseg
    * recall_abs 0.788 vs 0.806. At 100 TB partition layouts are never
    * stable across runs; a training sample must be a function of the ROWS
    * alone. A hash-threshold prefilter bounds the top-cap sort to
    * ~1.25*cap expected rows; ties break on the vector itself. */
  def sampleVectors(df: DataFrame, vecCol: String, cap: Int, seed: Long): Array[Array[Double]] = {
    val total = df.count()
    val casted = df.select(col(vecCol).cast("array<double>").as("__v"))
    val hashed = casted.withColumn("__h", xxhash64(col("__v"), lit(seed)))
    // the (hash, vector) order is applied DRIVER-side over the bounded
    // candidate set, never as a cluster sort: `orderBy(...).limit(cap)`
    // ran a top-cap heap on EVERY map task — ruinous on many-partition
    // relations (at a 32768-partition input each task paid the top-131072
    // machinery for ~32 rows; a per-job build profile put the sampling jobs
    // at ~55% of a whole clustered build) — and the no-limit variant was a
    // full global sort with a range-partitioner sampling pass. Ties beyond
    // the hash can only be bit-identical vectors (xxhash64 hashes the raw
    // bytes, so distinct vectors share a hash only at 2^-64), so the
    // driver comparator's tiebreak order cannot change the sample.
    def sortTake(rows: Array[(Long, Array[Double])], n: Int): Array[Array[Double]] = {
      java.util.Arrays.sort(rows, new java.util.Comparator[(Long, Array[Double])] {
        def compare(a: (Long, Array[Double]), b: (Long, Array[Double])): Int = {
          val h = java.lang.Long.compare(a._1, b._1)
          if (h != 0) return h
          val (x, y) = (a._2, b._2)
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val c = java.lang.Double.compare(x(i), y(i))
            if (c != 0) return c
            i += 1
          }
          java.lang.Integer.compare(x.length, y.length)
        }
      })
      val out = new Array[Array[Double]](math.min(n, rows.length))
      var i = 0
      while (i < out.length) { out(i) = rows(i)._2; i += 1 }
      out
    }
    def collectHashed(src: DataFrame): Array[(Long, Array[Double])] =
      src.select(col("__h"), col("__v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (total <= cap) return sortTake(collectHashed(hashed), total.toInt)
    val frac = math.min(1.0, cap * 1.25 / total)
    // threshold over the full signed-long hash range (double precision is
    // plenty: the margin above cap is >= 20 sigma at any cap >= 64)
    val bound = (Long.MinValue + frac * 1.8446744073709552e19).toLong
    val pre = collectHashed(hashed.where(col("__h") <= lit(bound)))
    if (pre.length >= cap) sortTake(pre, cap)
    else {
      // tiny caps: prefilter variance can undershoot — fall back to the
      // cluster-side bounded top-cap (cheap exactly when cap is tiny)
      hashed.orderBy(col("__h"), col("__v")).limit(cap).select("__v")
        .collect().map(_.getSeq[Double](0).toArray)
    }
  }

  /** Balanced proportional sampling across strata (the reference's
    * PQRetrainer.sampleBalanced, `graph/disk/PQRetrainer.java:121-170`):
    * each stratum (source segment) gets a quota proportional to its live
    * size with a floor of min(1000, cap/nStrata), quotas normalized to the
    * cap — a tiny segment still contributes training signal instead of
    * vanishing under uniform sampling of the merged data. */
  def sampleVectorsBalanced(
      df: DataFrame, vecCol: String, strataCol: String,
      cap: Int, seed: Long): Array[Array[Double]] = {
    val counts = df.groupBy(strataCol).count()
      .collect().map(r => (String.valueOf(r.get(0)), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    if (total <= cap)
      return df.select(col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__h", xxhash64(col("__v"), lit(seed)))
        .orderBy(col("__h"), col("__v")).select("__v")
        .collect().map(_.getSeq[Double](0).toArray)
    val n = counts.length
    val minPer = math.min(1000L, cap.toLong / n)
    val quota = scala.collection.mutable.LinkedHashMap(counts.map { case (s, c) =>
      s -> math.max(minPer, cap.toLong * c / total)
    }: _*)
    var assigned = quota.values.sum
    while (assigned > cap) {
      for (s <- quota.keys if assigned > cap) {
        if (quota(s) > minPer) { quota(s) -= 1; assigned -= 1 }
      }
    }
    while (assigned < cap) {
      for (s <- quota.keys if assigned < cap) { quota(s) += 1; assigned += 1 }
    }
    // per-stratum smallest-content-hash quota (no sampleBy: its per-
    // partition seeding made the sample — hence the retrained model —
    // depend on the input's partition layout, same hazard as
    // [[sampleVectors]]); one window pass, output in deterministic
    // (stratum, hash) order so k-means seeding sees a stable sequence
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("__r"), col("__v"))
    df.select(col(strataCol).cast("string").as(strataCol),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__r", xxhash64(col("__v"), lit(seed)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= element_at(
        typedLit(quota.map { case (k, v) => k -> v.toInt }.toMap),
        col(strataCol)))
      .orderBy(col(strataCol), col("__r"), col("__v"))
      .select(col("__v"))
      .collect().map(_.getSeq[Double](0).toArray)
  }
}

object PQ {

  /** dim split into m subspaces; remainder distributed to the first ones. */
  def subvectorSizes(dim: Int, m: Int): (Array[Int], Array[Int]) = {
    val base = dim / m
    val rem = dim % m
    val sizes = Array.tabulate(m)(i => base + (if (i < rem) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _).dropRight(1)
    (sizes, offsets)
  }

  /** Deterministic k-means++ + Lloyd's iterations on a local sample
    * (mirrors jvector KMeansPlusPlusClusterer semantics: k-means++ seeding,
    * fixed iteration count, empty clusters keep their centroid). */
  private[graft] def kmeans(points: Array[Array[Double]], k: Int, iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.length >= k, s"need >= $k training points, got ${points.length}")
    val rnd = new scala.util.Random(seed)
    val dim = points(0).length
    val centers = new Array[Array[Double]](k)
    // The two O(n·k·d) loops (k-means++ distance refresh, Lloyd assign)
    // run parallel across driver cores — BIT-IDENTICAL to the sequential
    // form: every parallel write is index-addressed (no accumulation), and
    // the order-sensitive parts (d2 prefix walk, centroid accumulation)
    // stay sequential. Without this, Ivf.train at nlist >= 4096 was a
    // single-thread driver wall (128k sample x 4096 x 64d x 6 iters
    // ~ 2e11 flops — minutes; intractable toward 10^5 cells).
    // DRIVER-only parallelism: inside an executor task (TaskContext set —
    // e.g. Ivf.trainHierarchical runs one kmeans per super concurrently in
    // flatMapGroups) spawning cores-2 threads per task would oversubscribe
    // the CPU N-fold; there the scheduler already owns the parallelism.
    val threads =
      if (points.length.toLong * k * dim < (1L << 24)) 1
      else if (org.apache.spark.TaskContext.get() != null) 1
      else math.max(1, Runtime.getRuntime.availableProcessors - 2)
    val pool = if (threads == 1) null
      else java.util.concurrent.Executors.newFixedThreadPool(threads)
    def parChunks(body: (Int, Int) => Unit): Unit = {
      if (pool == null) body(0, points.length)
      else {
        val chunk = math.max(1, (points.length + threads - 1) / threads)
        val futs = (0 until points.length by chunk).map { lo =>
          pool.submit(new Runnable {
            def run(): Unit = body(lo, math.min(points.length, lo + chunk))
          })
        }
        futs.foreach(_.get())
      }
    }
    try {
    // k-means++ seeding
    centers(0) = points(rnd.nextInt(points.length)).clone()
    val d2 = Array.fill(points.length)(Double.MaxValue)
    // Training distances go through the SIMD kernel seam (graft.simd) —
    // training arithmetic is free to change in ulps; only ENCODE argmin
    // must stay sequential-double to match the DuckDB oracle's list_reduce.
    val kern = graft.simd.Kernels.INSTANCE
    def updateD2(c: Array[Double]): Unit = parChunks { (lo, hi) =>
      var i = lo
      while (i < hi) {
        val d = kern.l2sqD(points(i), c)
        if (d < d2(i)) d2(i) = d
        i += 1
      }
    }
    updateD2(centers(0))
    var ci = 1
    while (ci < k) {
      val total = d2.sum
      var pick = 0
      if (total <= 0) pick = rnd.nextInt(points.length)
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < points.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        pick = i
      }
      centers(ci) = points(pick).clone()
      updateD2(centers(ci))
      ci += 1
    }
    // Lloyd's
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      parChunks { (lo, hi) =>
        var i = lo
        while (i < hi) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val d = kern.l2sqD(points(i), centers(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assign(i) = best
          i += 1
        }
      }
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      var i = 0
      while (i < points.length) {
        val a = assign(i)
        counts(a) += 1
        var j = 0
        while (j < dim) { sums(a)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
    } finally { if (pool != null) pool.shutdown() }
  }

  /** Anisotropic k-means refinement (ScaNN "Accelerating Large-Scale
    * Inference with Anisotropic Vector Quantization" Theorem 3.4; jvector
    * `quantization/KMeansPlusPlusClusterer.java:111-131,278-324,379-431`).
    * Quantization error PARALLEL to the datapoint hurts dot-product scores
    * more than the perpendicular part, so:
    *   - pcm = max(1, T^2 / ((1-T^2)/(dim-1))) for dot threshold T
    *     (points assumed ~unit-normalized, as in the reference);
    *   - assignment minimizes pcm*parallelErr + perpendicularErr with
    *     parallelErr = (c.x - |x|^2)^2, perpErr = |c-x|^2 - parallelErr;
    *   - centroid update solves (ocm*I + (1-ocm)/|L| * sum xx^T/|x|^2) c =
    *     mean(L) with ocm = 1/pcm (small dense system, subvector-sized).
    * Seeds from the deterministic k-means++; all `iters` rounds are
    * anisotropic, mirroring `ProductQuantization.java:214-216`. Stops early
    * when < 1% of assignments change (`KMeansPlusPlusClusterer.java:131-146`). */
  private[graft] def kmeansAnisotropic(
      points: Array[Array[Double]], k: Int, iters: Int, seed: Long,
      threshold: Double): Array[Array[Double]] = {
    val centers = kmeans(points, k, 0, seed) // deterministic ++ seeding only
    val dim = points(0).length
    if (dim < 2) return kmeans(points, k, iters, seed)
    val parallelCost = threshold * threshold
    val perpCost = (1.0 - parallelCost) / (dim - 1)
    val pcm = math.max(1.0, parallelCost / perpCost)
    val ocm = 1.0 / pcm
    val xNorm2 = points.map(p => { var s = 0.0; var j = 0; while (j < dim) { s += p(j) * p(j); j += 1 }; s })

    // initial nearest-by-L2 assignment (training-side: SIMD kernels ok)
    val kern = graft.simd.Kernels.INSTANCE
    val assign = new Array[Int](points.length)
    def dot(a: Array[Double], b: Array[Double]): Double = kern.dotD(a, b)
    var i = 0
    while (i < points.length) {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) {
        val d = kern.l2sqD(points(i), centers(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      assign(i) = best
      i += 1
    }

    // Gaussian elimination with partial pivoting (subvector-sized systems)
    def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
      val n = b.length
      var col = 0
      while (col < n) {
        var p = col; var r = col + 1
        while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(p)(col))) p = r; r += 1 }
        val tmp = a(col); a(col) = a(p); a(p) = tmp
        val tb = b(col); b(col) = b(p); b(p) = tb
        val piv = a(col)(col)
        if (math.abs(piv) > 1e-12) {
          r = col + 1
          while (r < n) {
            val f = a(r)(col) / piv
            if (f != 0.0) {
              var j = col
              while (j < n) { a(r)(j) -= f * a(col)(j); j += 1 }
              b(r) -= f * b(col)
            }
            r += 1
          }
        }
        col += 1
      }
      val x = new Array[Double](n)
      var r2 = n - 1
      while (r2 >= 0) {
        var s = b(r2); var j = r2 + 1
        while (j < n) { s -= a(r2)(j) * x(j); j += 1 }
        x(r2) = if (math.abs(a(r2)(r2)) > 1e-12) s / a(r2)(r2) else 0.0
        r2 -= 1
      }
      x
    }

    var it = 0
    var changed = points.length
    while (it < iters && changed > points.length / 100) {
      // centroid update: per-cluster regularized outer-product system
      val byCluster = Array.fill(k)(List.newBuilder[Int])
      i = 0
      while (i < points.length) { byCluster(assign(i)) += i; i += 1 }
      var c = 0
      while (c < k) {
        val members = byCluster(c).result()
        if (members.nonEmpty) {
          val mean = new Array[Double](dim)
          val mat = Array.fill(dim, dim)(0.0)
          for (pi <- members) {
            val p = points(pi)
            var j = 0
            while (j < dim) { mean(j) += p(j); j += 1 }
            val denom = xNorm2(pi)
            if (denom > 0) {
              var r = 0
              while (r < dim) {
                val pr = p(r) / denom
                var j2 = 0
                while (j2 < dim) { mat(r)(j2) += pr * p(j2); j2 += 1 }
                r += 1
              }
            }
          }
          val n = members.size
          var r = 0
          while (r < dim) {
            var j2 = 0
            while (j2 < dim) { mat(r)(j2) *= (1.0 - ocm) / n; j2 += 1 }
            mat(r)(r) += ocm
            mean(r) /= n
            r += 1
          }
          centers(c) = solve(mat, mean)
        }
        c += 1
      }
      // anisotropic re-assignment
      val cNorm2 = centers.map(cv => dot(cv, cv))
      changed = 0
      i = 0
      while (i < points.length) {
        val x = points(i)
        val xn = xNorm2(i)
        var best = assign(i); var bestD = Double.MaxValue; var c2 = 0
        while (c2 < k) {
          val cx = dot(centers(c2), x)
          val parallelErr = { val t = cx - xn; t * t }
          val residual2 = cNorm2(c2) - 2.0 * cx + xn
          val d = pcm * parallelErr + (residual2 - parallelErr)
          if (d < bestD) { bestD = d; best = c2 }
          c2 += 1
        }
        if (best != assign(i)) { changed += 1; assign(i) = best }
        i += 1
      }
      it += 1
    }
    centers
  }

  /** Train a PQ model on a bounded sample of `df`'s vector column.
    * Reference defaults: k=256 clusters, 6 iterations, sample cap 128k
    * (ProductQuantization.java:62-64). */
  def train(
      df: DataFrame,
      vecCol: String,
      m: Int,
      k: Int = 256,
      iters: Int = 6,
      sampleCap: Int = 128000,
      seed: Long = 1L,
      /** -1 = isotropic L2 (the reference's default: anisotropicThreshold
        * -1.0 in default.yml); a dot-product threshold in (-1, 1) switches
        * every Lloyd's round to the ScaNN anisotropic objective
        * (`ProductQuantization.java:214-216`). Meant for unit-normalized
        * vectors scored by dot product. */
      anisotropicThreshold: Double = -1.0): PQModel = {

    val vectors = Sampling.sampleVectors(df, vecCol, sampleCap, seed)
    require(vectors.nonEmpty, "empty training set")
    val dim = vectors(0).length
    val (sizes, offsets) = subvectorSizes(dim, m)
    val aniso = anisotropicThreshold > -1.0 && anisotropicThreshold < 1.0
    // subspaces are independent (seed + i each) — train them in parallel;
    // bit-deterministic regardless of scheduling (the reference parallelizes
    // the same way: parallel IntStream over the M subspaces,
    // ProductQuantization.java:487-494)
    val codebooks = new Array[Array[Array[Double]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { i =>
      val sub = vectors.map(v => java.util.Arrays.copyOfRange(v, offsets(i), offsets(i) + sizes(i)))
      codebooks(i) =
        if (aniso) kmeansAnisotropic(sub, math.min(k, sub.length), iters, seed + i, anisotropicThreshold)
        else kmeans(sub, math.min(k, sub.length), iters, seed + i)
    }
    PQModel(dim, m, k, sizes, offsets, codebooks)
  }

  /** Persist codebooks as a parquet sidecar (jvector PQ sidecar,
    * `CompressedVectors.java:99-112`): one row per (subspace, centroid). */
  def save(spark: org.apache.spark.sql.SparkSession, model: PQModel, path: String): Unit = {
    import spark.implicits._
    val rows = for {
      m <- 0 until model.m
      c <- model.codebooks(m).indices
    } yield (model.dim, model.m, model.k, m, c, model.codebooks(m)(c).toSeq)
    rows.toDF("dim", "m", "k", "subspace", "centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): PQModel = {
    // Address concrete data files, not the directory: the sidecar dir's
    // name starts with "_" (so index-root reads skip it), and reading the
    // dir itself makes Spark's hidden-path filter log a spurious
    // "All paths were ignored" WARN on every load. Don't hard-code the
    // part-* naming (a different committer or a compaction may name data
    // files anything): list the dir and read whatever non-hidden files are
    // there, falling back to the directory read (one spurious WARN, but
    // correct) if the listing comes up empty.
    val dirPath = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = Option(fs.listStatus(dirPath)).getOrElse(Array.empty)
      .filter { st =>
        val nm = st.getPath.getName
        st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
      }
      .map(_.getPath.toString).sorted
    val df =
      if (dataFiles.nonEmpty) spark.read.parquet(dataFiles: _*)
      else spark.read.parquet(dirPath.toString)
    val rows = df
      .select("dim", "m", "k", "subspace", "centroid_id", "centroid")
      .collect()
    val head = rows.head
    val (dim, m, k) = (head.getInt(0), head.getInt(1), head.getInt(2))
    // a glob over multiple sidecars (e.g. per-batch streaming indexes, each
    // trained separately) concatenates incompatible models — fail loudly so
    // callers fall back to the exact beam instead of scoring with a merged
    // garbage codebook
    require(rows.length == rows.map(r => (r.getInt(3), r.getInt(4))).distinct.length,
      s"duplicate (subspace, centroid) rows at $path: multiple PQ sidecars merged?")
    val (sizes, offsets) = subvectorSizes(dim, m)
    val codebooks = Array.tabulate(m) { s =>
      rows.filter(_.getInt(3) == s).sortBy(_.getInt(4))
        .map(_.getSeq[Double](5).toArray)
    }
    PQModel(dim, m, k, sizes, offsets, codebooks)
  }

  /** Compaction-time retrain (jvector `PQRetrainer.retrain`,
    * `graph/disk/PQRetrainer.java:83-117`): a FRESH codebook at the base
    * model's (m, k) parameters, trained on a balanced proportional sample
    * across the merged segments — each source segment is guaranteed
    * representation, so a small fresh batch doesn't get drowned out by a
    * large old segment (or vice versa). */
  def retrain(
      df: DataFrame,
      vecCol: String,
      strataCol: String,
      base: PQModel,
      iters: Int = 6,
      sampleCap: Int = 128000,
      seed: Long = 1L): PQModel = {
    val vectors = Sampling.sampleVectorsBalanced(df, vecCol, strataCol, sampleCap, seed)
    require(vectors.nonEmpty, "empty retraining set")
    val dim = vectors(0).length
    val (sizes, offsets) = subvectorSizes(dim, base.m)
    val codebooks = Array.tabulate(base.m) { i =>
      val sub = vectors.map(v => java.util.Arrays.copyOfRange(v, offsets(i), offsets(i) + sizes(i)))
      kmeans(sub, math.min(base.k, sub.length), iters, seed + i)
    }
    PQModel(dim, base.m, base.k, sizes, offsets, codebooks)
  }

  /** Warm-start refinement (jvector `ProductQuantization.refine`,
    * Q2): re-run Lloyd's from the existing codebooks on new data. */
  def refine(
      df: DataFrame,
      vecCol: String,
      model: PQModel,
      lloydsRounds: Int = 1,
      sampleCap: Int = 128000,
      seed: Long = 1L): PQModel = {
    val vectors = Sampling.sampleVectors(df, vecCol, sampleCap, seed)
    // independent subspaces: parallel, bit-deterministic (see train)
    val codebooks = new Array[Array[Array[Double]]](model.m)
    java.util.stream.IntStream.range(0, model.m).parallel().forEach { i =>
      val sub = vectors.map(v => java.util.Arrays.copyOfRange(v,
        model.subOffsets(i), model.subOffsets(i) + model.subSizes(i)))
      codebooks(i) = lloydIterate(sub, model.codebooks(i).map(_.clone()), lloydsRounds)
    }
    model.copy(codebooks = codebooks)
  }

  /** Lloyd's iterations from given starting centers (refine path). */
  private def lloydIterate(points: Array[Array[Double]], centers: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    val k = centers.length
    val dim = centers(0).length
    val kern = graft.simd.Kernels.INSTANCE
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Int](k)
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val d = kern.l2sqD(points(i), centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Distributed encode: adds `codeCol` array<int> (one centroid id per
    * subspace). Native codegen expression — encode runs once per corpus
    * row on the write path; same encodeOne arithmetic as the oracle. */
  def encode(df: DataFrame, vecCol: String, model: PQModel, codeCol: String = "pq_code"): DataFrame =
    df.withColumn(codeCol, graft.functions.VectorExpressions.pqEncode(
      col(vecCol).cast("array<double>"), model))

  /** Distributed decode of a code column back to approximate vectors. */
  def decode(df: DataFrame, codeCol: String, model: PQModel, outCol: String = "pq_decoded"): DataFrame = {
    val dec = udf { c: Seq[Int] => model.decode(c.toArray) }
    df.withColumn(outCol, dec(col(codeCol)))
  }

  /** Per-query ADC tables (jvector `PQVectors.precomputedScoreFunctionFor`,
    * O3 per-query constant folding): partial dot products and centroid
    * squared magnitudes per (subspace, centroid), flattened to m*k arrays. */
  def adcTables(q: Array[Double], model: PQModel): (Array[Double], Array[Double]) = {
    val dots = new Array[Double](model.m * model.codebooks(0).length)
    val mags = new Array[Double](dots.length)
    var i = 0
    while (i < model.m) {
      val cb = model.codebooks(i)
      val off = model.subOffsets(i)
      var c = 0
      while (c < cb.length) {
        var d = 0.0; var g = 0.0; var j = 0
        while (j < model.subSizes(i)) {
          d += q(off + j) * cb(c)(j)
          g += cb(c)(j) * cb(c)(j)
          j += 1
        }
        dots(i * cb.length + c) = d
        mags(i * cb.length + c) = g
        c += 1
      }
      i += 1
    }
    (dots, mags)
  }

  /** Broadcast relation of per-query ADC state: (qid, qvec, adc_dots,
    * adc_mags, qnorm) — one row per query, tables flattened m*k wide.
    * Shared by [[knn]] and [[graft.index.Ivf.searchPartitionedPQ]]. */
  /** Broadcast per-query ADC table frame for the DECLARATIVE scoring
    * routes (the codegen'd lookup-sum over joined columns). Size is
    * O(batch × m × k) doubles — fine for serving batches (the callers
    * collect qRows anyway, so the batch is already driver-bounded), but
    * callers with very large query sets should chunk; the task-side
    * graph routes avoid this entirely ([[graft.index.Ann]] builds tables
    * in-task from a model-only broadcast). */
  private[graft] def adcQueryFrame(
      spark: org.apache.spark.sql.SparkSession,
      qRows: Array[(Long, Array[Double])],
      model: PQModel): DataFrame = {
    import spark.implicits._
    val qTab = qRows.map { case (qid, qv) =>
      val (dots, mags) = adcTables(qv, model)
      (qid, qv, dots, mags, VectorFunctions.dotSeq(qv, qv))
    }
    broadcast(qTab.toSeq.toDF("qid", "qvec", "adc_dots", "adc_mags", "qnorm"))
  }

  /** Approximate-similarity column for `codeCol` given an [[adcQueryFrame]]
    * join: a codegen'd lookup-sum expression
    * ([[graft.functions.VectorExpressions.adcLookupSum]]) — the whole
    * candidate-scoring scan stays in one whole-stage codegen span (the
    * earlier transform/aggregate HOF composition was interpreted per
    * element; results are bit-identical). */
  private[graft] def adcApproxScore(metric: String, model: PQModel, codeCol: String): Column = {
    val kk = model.codebooks(0).length
    def lookupSum(table: Column): Column =
      graft.functions.VectorExpressions.adcLookupSum(table, col(codeCol), kk)
    metric.toUpperCase match {
      case "DOT_PRODUCT" | "DOT" => (lit(1.0) + lookupSum(col("adc_dots"))) / 2.0
      case "COSINE" =>
        (lit(1.0) + lookupSum(col("adc_dots")) /
          (sqrt(lookupSum(col("adc_mags"))) * sqrt(col("qnorm")))) / 2.0
      case "EUCLIDEAN" =>
        // ||q-c||^2 = |q|^2 - 2 q.c + |c|^2 summed per subspace
        lit(1.0) / (lit(1.0) + (col("qnorm") - lit(2.0) * lookupSum(col("adc_dots"))
          + lookupSum(col("adc_mags"))))
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Residual twin of [[adcApproxScore]] (FAISS IVF-PQ serving): codes
    * encode r = v − clusterCentroid, so v̂ = cell + r̂ and the score needs
    * the per-cluster shift columns (`cell_dots` = cell·codebook LUT,
    * `cell_cn` = |cell|²) and the per-(query, cluster) scalar
    * `__qc` = q·cell alongside the residual query tables (adc_dots,
    * adc_mags, qnorm). Same normalized score scales as [[adcApproxScore]];
    * stays one whole-stage-codegen span (three lookup-sums + arithmetic). */
  private[graft] def adcResidualApproxScore(metric: String, model: PQModel, codeCol: String): Column = {
    val kk = model.codebooks(0).length
    def lookupSum(table: Column): Column =
      graft.functions.VectorExpressions.adcLookupSum(table, col(codeCol), kk)
    val dotQ = col("__qc") + lookupSum(col("adc_dots"))
    val norm2 = col("cell_cn") + lit(2.0) * lookupSum(col("cell_dots")) +
      lookupSum(col("adc_mags"))
    metric.toUpperCase match {
      case "DOT_PRODUCT" | "DOT" => (lit(1.0) + dotQ) / 2.0
      case "COSINE" =>
        (lit(1.0) + dotQ / (sqrt(norm2) * sqrt(col("qnorm")))) / 2.0
      case "EUCLIDEAN" =>
        lit(1.0) / (lit(1.0) + (col("qnorm") - lit(2.0) * dotQ + norm2))
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Approximate kNN over PQ codes with optional exact rerank (two-phase
    * search, jvector `GraphSearcher.java:471-507` / NodeQueue.rerank):
    * phase 1 scores all codes via ADC table lookups (cheap, in-memory),
    * keeps rerankK per query; phase 2 joins survivors back to the full-res
    * vectors and re-scores exactly — late materialization (O2).
    *
    * `queries` must carry (qid, qvec). Returns (qid, rank, nid, score).
    */
  def knn(
      baseEncoded: DataFrame,
      queries: DataFrame,
      model: PQModel,
      topK: Int,
      rerankK: Int,
      metric: String,
      baseId: String = "id",
      baseVec: String = "vec",
      codeCol: String = "pq_code"): DataFrame = {

    val qRows = queries.select(col("qid").cast("long"), col("qvec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val spark = baseEncoded.sparkSession
    val qdf = adcQueryFrame(spark, qRows, model)

    val approx = baseEncoded
      .select(col(baseId).cast("long").as("__nid"), col(codeCol))
      .crossJoin(broadcast(qdf))
      .withColumn("__approx", adcApproxScore(metric, model, codeCol))
    val topkAgg = TopK.udf(rerankK)
    val candidates = approx.groupBy("qid")
      .agg(topkAgg(col("__nid"), col("__approx")).as("t"))
      .select(col("qid"), explode(col("t._1")).as("__nid"))

    // phase 2: exact rerank on full-res vectors
    val exact = candidates
      .join(baseEncoded.select(col(baseId).cast("long").as("__nid"), col(baseVec).as("__vec")), "__nid")
      .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
      .withColumn("__score", VectorFunctions.similarity(metric)(col("__vec"), col("qvec")))
    val finalAgg = TopK.udf(topK)
    exact.groupBy("qid")
      .agg(finalAgg(col("__nid"), col("__score")).as("t"))
      .select(col("qid"), posexplode(col("t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").as("nid"), col("col._2").as("score"))
  }
}

/** Binary Quantization (jvector `quantization/BinaryQuantization.java:100-115`,
  * `BQVectors.java:117`): bit j of word i is set iff v[i*64+j] > 0;
  * similarity = 1 - hammingDistance/dim. */
object BQ {

  private val powers: Column = typedLit((0 until 64).map(j => 1L << j))

  /** Pack sign bits into array<long>, 64 per word, little-endian within word. */
  def encodePacked(vec: Column, dim: Int): Column = {
    val nWords = (dim + 63) / 64
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, j) => {
        val idx = w * 64 + j
        acc.bitwiseOR(
          when(idx < dim && element_at(vec.cast("array<double>"), idx + 1) > 0.0,
            element_at(powers, j + 1)).otherwise(lit(0L)))
      }))
  }

  /** '0'/'1' string view of a packed code (for oracle verification). */
  def bitsString(packed: Column, dim: Int): Column =
    array_join(
      transform(sequence(lit(0), lit(dim - 1)), i =>
        when(element_at(packed, (i / 64).cast("int") + 1)
          .bitwiseAND(element_at(powers, pmod(i, lit(64)) + 1)) =!= 0L, lit("1"))
          .otherwise(lit("0"))),
      "")

  /** BQ similarity between two packed codes. */
  def sim(a: Column, b: Column, dim: Int): Column =
    lit(1.0) - VectorFunctions.hammingDistance(a, b).cast("double") / lit(dim.toDouble)
}
