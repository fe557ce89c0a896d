package graft.index

import scala.collection.mutable

/** Single-segment Vamana (DiskANN-family) graph: batch build over an
  * in-memory vector slice, greedy best-first beam search with bounded
  * result set, RobustPrune diversity selection.
  *
  * Semantics follow the reference engine (jvector):
  *  - similarity-ordered search with bounded result heap and the
  *    "best frontier < worst result" stop rule
  *    (`graph/GraphSearcher.java:355-369,405-457`)
  *  - diversity pruning with alpha relaxation
  *    (`graph/diversity/VamanaDiversityProvider.java:45-96`)
  *  - neighbor overflow during build, degree enforced on cleanup
  *    (`graph/GraphIndexBuilder.java:308-310,498-505`)
  *  - deterministic result order: score desc, id asc
  *    (`graph/SearchResult.java:100-106`)
  *
  * This class is deliberately plain Scala with primitive arrays: it runs
  * inside one Spark task per segment (SURVEY.md §3.2's batch formulation —
  * partitions are the unit of parallelism, not threads).
  */
object Vamana {
  /** Scalar similarity with the engine's normalization formulas (used for
    * cold paths like segment routing; the hot path is the instance `sim`). */
  def similarity(metric: String, a: Array[Float], b: Array[Float]): Double = {
    metric.toUpperCase match {
      case "EUCLIDEAN" =>
        var d = 0.0; var i = 0
        while (i < a.length) { val t = a(i).toDouble - b(i).toDouble; d += t * t; i += 1 }
        1.0 / (1.0 + d)
      case "DOT_PRODUCT" | "DOT" =>
        var d = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i).toDouble; i += 1 }
        (1.0 + d) / 2.0
      case "COSINE" =>
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        (1.0 + d / (math.sqrt(na) * math.sqrt(nb))) / 2.0
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
  }

  /** Per-call effort counters: task/thread-local, so concurrent searches
    * over one shared (cached) graph report exact per-call effort without
    * racing on the graph's cumulative `visitedCount`. Mirrors the
    * reference's per-search metrics (`graph/SearchResult.java:26-31`):
    * `n` = visited (nodes SCORED, the reference's `visitedCount`);
    * `expanded` = nodes popped from the frontier whose neighbor lists were
    * iterated (the reference's `expandedCount`). expanded <= n always —
    * a beam scores every frontier candidate but expands only the ones that
    * survive the "best frontier < worst result" cut. */
  final class VisitCounter { var n: Long = 0L; var expanded: Long = 0L }

  /** Saved cursor for resumable search (jvector `GraphSearcher.resume`,
    * `GraphSearcher.java:509-547`): the live beam frontier, the visited set,
    * everything scored-but-not-yet-returned (the "evicted" pool), and the
    * ids already handed to the caller. Single-threaded, like a jvector
    * searcher instance. */
  final class SearchState private[index] (
      private[index] val scorer: Int => Double,
      private[index] val accept: Int => Boolean,
      private[index] val visited: java.util.BitSet,
      private[index] val frontier: LongHeap,
      private[index] val evicted: mutable.ArrayBuffer[Long],
      private[index] val returned: java.util.BitSet)

  /** Density-adaptive bitset codec for exported cursors. A beam visits
    * ~ef·degree nodes per page — a few THOUSAND of a potentially
    * million-row segment — so the dense `BitSet.toByteArray` image
    * (O(segment rows / 8) per (query, segment), the measured ~54 MB/page
    * durable-state cost at 4M x 64) is almost entirely zeros. Encode
    * whichever image is smaller:
    *   tag 0 = dense: BitSet.toByteArray as-is
    *   tag 1 = sparse: ascending set-bit indices, delta - varint (LEB128)
    * Sparse wins until ~1 set bit per 16 rows; the tag keeps the dense
    * fallback for late pages on small segments. Cursor state is
    * bounded-lifetime serving state — no cross-version compatibility is
    * promised (the build-token guard already invalidates sessions on any
    * index change). */
  private[graft] def encodeBits(bs: java.util.BitSet): Array[Byte] = {
    val denseLen = bs.toByteArray.length // NOTE: cheap relative to a page
    // exact sparse size: varint bytes for each gap
    var sparseLen = 0
    var i = bs.nextSetBit(0)
    var prev = -1
    var n = 0
    while (i >= 0) {
      var gap = i - prev
      do { sparseLen += 1; gap >>>= 7 } while (gap != 0)
      prev = i; n += 1
      i = bs.nextSetBit(i + 1)
    }
    if (sparseLen < denseLen) {
      val out = new Array[Byte](1 + sparseLen)
      out(0) = 1
      var o = 1
      var j = bs.nextSetBit(0)
      var pv = -1
      while (j >= 0) {
        var gap = j - pv
        while ((gap & ~0x7f) != 0) { out(o) = ((gap & 0x7f) | 0x80).toByte; o += 1; gap >>>= 7 }
        out(o) = gap.toByte; o += 1
        pv = j
        j = bs.nextSetBit(j + 1)
      }
      out
    } else {
      val dense = bs.toByteArray
      val out = new Array[Byte](1 + dense.length)
      out(0) = 0
      System.arraycopy(dense, 0, out, 1, dense.length)
      out
    }
  }

  private[graft] def decodeBits(b: Array[Byte]): java.util.BitSet = {
    if (b.length == 0) return new java.util.BitSet()
    if (b(0) == 0)
      java.util.BitSet.valueOf(java.util.Arrays.copyOfRange(b, 1, b.length))
    else {
      val bs = new java.util.BitSet()
      var o = 1
      var prev = -1
      while (o < b.length) {
        var gap = 0
        var shift = 0
        var more = true
        while (more) {
          val v = b(o); o += 1
          gap |= (v & 0x7f) << shift
          shift += 7
          more = (v & 0x80) != 0
        }
        prev += gap
        bs.set(prev)
      }
      bs
    }
  }
}

final class Vamana(
    val vectors: Array[Array[Float]],
    metric: String,
    val maxDegree: Int = 32,
    val beamWidth: Int = 100,
    val alpha: Double = 1.2,
    val neighborOverflow: Double = 1.2,
    seed: Long = 0L,
    /** Per-layer max out-degrees (reference `GraphIndexBuilder.java:246-266`,
      * UPGRADING.md 4.0: "specify different maximum out-degrees for the
      * graphs in each layer"): entry 0 caps layer 0, entry i caps layer i,
      * and the LAST ENTRY REPEATS for all deeper layers. Empty = the
      * single-degree default (layer 0 = `maxDegree`, upper layers =
      * `min(maxDegree, 8)`). When non-empty, the head governs all layer-0
      * pruning and `maxDegree` is unused. */
    val maxDegreeByLevel: Seq[Int] = Nil) extends Serializable {

  require(maxDegreeByLevel.forall(_ > 0), s"maxDegreeByLevel entries must be > 0: $maxDegreeByLevel")

  /** Effective max out-degree at `level` under [[maxDegreeByLevel]]. */
  def degreeAt(level: Int): Int =
    if (maxDegreeByLevel.isEmpty) { if (level == 0) maxDegree else math.min(maxDegree, 8) }
    else maxDegreeByLevel(math.min(level, maxDegreeByLevel.length - 1))

  // layer-0 degree: every base-layer prune/overflow cap below uses this
  private val degL0: Int = degreeAt(0)

  private val n = vectors.length
  val neighbors: Array[mutable.ArrayBuffer[Int]] = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
  var entryNode: Int = 0
  // Accumulated across searches. LongAdder so concurrent searchers (the
  // bench's parallel throughput section, multi-threaded serving on a pinned
  // graph) don't lose updates or tear the long — search itself touches no
  // other shared mutable state.
  @transient private lazy val visitedAdder = new java.util.concurrent.atomic.LongAdder
  def visitedCount: Long = visitedAdder.sum()
  def visitedCount_=(v: Long): Unit = { visitedAdder.reset(); if (v != 0) visitedAdder.add(v) }

  /** Optional HNSW-style hierarchy (jvector merges the HNSW hierarchy with
    * a Vamana-pruned layer 0 — README "merges the DiskANN and HNSW family
    * trees"; level assignment is the geometric -ln(U)*ml rule,
    * `GraphIndexBuilder.getRandomGraphLevel:562-575`). Upper layers are a
    * greedy-descent accelerator for picking the layer-0 entry point; they
    * hold only node ids + small neighbor lists. */
  val levels: Array[Int] = {
    val ml = 1.0 / math.log(math.max(2, degL0))
    val rnd = new java.util.Random(seed ^ 0x9E3779B97F4A7C15L)
    Array.fill(n)(math.min((-math.log(rnd.nextDouble()) * ml).toInt, 8))
  }
  // upperNeighbors(l)(node) defined only for nodes with levels(node) >= l.
  // A var (with maxLevel derived from it) because [[restoreUpperAdjacency]]
  // can install a persisted hierarchy whose depth differs from this shell's
  // freshly drawn `levels` (e.g. a repaired segment re-assembled with a
  // different row count draws different levels than the one that built it).
  private var upperNeighbors: Array[mutable.Map[Int, Array[Int]]] =
    Array.fill(math.max(0, if (n == 0) 0 else levels.max))(mutable.Map.empty)
  private def maxLevel: Int = upperNeighbors.length

  /** Per-node upper-layer adjacency for index persistence (S7/S8 — the
    * reference serializes the full multi-layer graph, v6 format
    * `OnDiskGraphIndex.java:68-162`, layer info `CommonHeader.java:59-75`):
    * element j is this node's neighbor list at level j+1 (local-id space);
    * null when the node lives only on layer 0 — so a persisted column of
    * these is almost-all-null and costs ~nothing. Membership-derived (not
    * `levels`-derived) so it also serializes a RESTORED + repaired
    * hierarchy faithfully. */
  def upperAdjacencyOf(node: Int): Array[Array[Int]] = {
    var lv = 0
    while (lv < upperNeighbors.length && upperNeighbors(lv).contains(node)) lv += 1
    if (lv == 0) null
    else Array.tabulate(lv)(j => upperNeighbors(j)(node))
  }

  /** Install a node's persisted upper-layer adjacency into this shell
    * (inverse of [[upperAdjacencyOf]]; grows the layer stack as needed).
    * Callers assembling a stored segment invoke this per row — after
    * which [[descendScored]] seeds the layer-0 beam through the restored
    * hierarchy instead of starting cold at the stored entry node. */
  def restoreUpperAdjacency(node: Int, adj: Array[Array[Int]]): Unit = {
    if (adj == null || adj.length == 0) return
    if (adj.length > upperNeighbors.length)
      upperNeighbors = upperNeighbors ++
        Array.fill(adj.length - upperNeighbors.length)(mutable.Map.empty[Int, Array[Int]])
    var j = 0
    while (j < adj.length) { upperNeighbors(j)(node) = adj(j); j += 1 }
  }

  /** Build upper layers by incremental beam insert (the reference's
    * `addGraphNode` shape per layer, `GraphIndexBuilder.java:605-659`):
    * members arrive in deterministic order, each finds its neighbors by a
    * beam search over the partially-built layer, backlinks prune on
    * overflow. O(members * ef * degree) per layer — the previous exact
    * all-pairs construction was O(members^2), which at a 1M-row segment
    * (~31k level-1 members under ml = 1/ln(32)) would dominate the whole
    * segment build. Tiny layers (<= 64) stay exact. */
  private def buildHierarchy(): Unit = {
    var l = 1
    while (l <= maxLevel) {
      // per-layer cap (reference maxDegrees list, last entry repeating)
      val degUpper = degreeAt(l)
      val efC = math.max(4 * degUpper, 32)
      val members = (0 until n).filter(levels(_) >= l).toArray
      val layer = upperNeighbors(l - 1)
      if (members.length == 1) layer(members(0)) = Array.empty
      else if (members.length > 1 && members.length <= 64) {
        for (m <- members) {
          layer(m) = members.filter(_ != m)
            .map(o => (o, pairScore(m, o)))
            .sortBy { case (id, s) => (-s, id) }
            .take(degUpper).map(_._1)
        }
      } else if (members.length > 64) {
        // adjacency under construction, sims cached alongside (symmetric, so
        // backlinks reuse the forward score)
        val adj = mutable.Map.empty[Int, mutable.ArrayBuffer[(Int, Double)]]
        val entry0 = members(0)
        adj(entry0) = mutable.ArrayBuffer.empty
        def searchLayer(q: Int, ef: Int): Array[(Int, Double)] = {
          val visited = new java.util.HashSet[Integer]()
          val cand = new LongHeap(64, min = false)
          val res = new LongHeap(ef + 1, min = true)
          val s0 = pairScore(q, entry0)
          visited.add(entry0)
          cand.push(LongHeap.pack(s0, entry0))
          var stop = false
          while (!stop && cand.nonEmpty) {
            val packed = cand.pop()
            if (res.size >= ef && LongHeap.score(packed) < LongHeap.score(res.top)) stop = true
            else {
              res.push(packed)
              if (res.size > ef) res.pop()
              val nbrs = adj.getOrElse(LongHeap.id(packed), mutable.ArrayBuffer.empty)
              var i = 0
              while (i < nbrs.length) {
                val nb = nbrs(i)._1
                if (!visited.contains(nb)) {
                  visited.add(nb)
                  val s = pairScore(q, nb)
                  if (res.size < ef || s > LongHeap.score(res.top)) cand.push(LongHeap.pack(s, nb))
                }
                i += 1
              }
            }
          }
          res.toArray.map { p => (LongHeap.id(p), LongHeap.score(p).toDouble) }
            .sortBy { case (id, s) => (-s, id) }
        }
        var mi = 1
        while (mi < members.length) {
          val m = members(mi)
          val found = searchLayer(m, efC)
          val chosen = found.take(degUpper)
          adj(m) = mutable.ArrayBuffer(chosen: _*)
          // backlinks with overflow trim (keep the degUpper most similar)
          var ci = 0
          while (ci < chosen.length) {
            val (nb, s) = chosen(ci)
            val lst = adj(nb)
            if (!lst.exists(_._1 == m)) {
              lst += ((m, s))
              if (lst.length > degUpper) {
                val trimmed = lst.sortBy { case (id, sc) => (-sc, id) }.take(degUpper)
                adj(nb) = trimmed
              }
            }
            ci += 1
          }
          mi += 1
        }
        for ((m, lst) <- adj)
          layer(m) = lst.sortBy { case (id, s) => (-s, id) }.map(_._1).toArray
      }
      l += 1
    }
    // entry = highest-level node (ties: lowest id), as in HNSW
    if (maxLevel > 0) {
      val top = (0 until n).filter(levels(_) == maxLevel)
      if (top.nonEmpty) entryNode = top.min
    }
  }

  /** Greedy 1-best descent through upper layers to seed layer-0 search
    * (jvector `internalSearch` descent, GraphSearcher.java:263-282). */
  private def descendScored(scorer: Int => Double, vc: Vamana.VisitCounter): Int = {
    var cur = entryNode
    var l = maxLevel
    var visits = 0L
    while (l >= 1) {
      val layer = upperNeighbors(l - 1)
      var improved = true
      while (improved) {
        improved = false
        var best = scorer(cur)
        val lst = layer.getOrElse(cur, Array.empty[Int])
        // empty adjacency = nothing iterated = not an expansion: keeps the
        // expanded <= visited invariant (every real expansion here scores
        // its whole list, so it contributes >= 1 visit)
        if (lst.nonEmpty) {
          if (vc != null) vc.expanded += 1
          for (nb <- lst) {
            val s = scorer(nb)
            visits += 1
            if (s > best) { best = s; cur = nb; improved = true }
          }
        }
      }
      l -= 1
    }
    visitedAdder.add(visits)
    if (vc != null) vc.n += visits
    cur
  }

  // similarity in (0,1], higher better — must match VectorFunctions/reference.
  // Metric resolved ONCE (this is the hottest kernel in the engine:
  // O(n*beam*degree) calls per build + one per visited node per query).
  private val metricCode: Int = metric.toUpperCase match {
    case "EUCLIDEAN" => 0
    case "DOT_PRODUCT" | "DOT" => 1
    case "COSINE" => 2
    case m => throw new IllegalArgumentException(s"unknown metric: $m")
  }

  // All instance scoring goes through one VectorKernels implementation
  // (Panama SIMD when jdk.incubator.vector is readable, scalar fallback —
  // graft.simd.Kernels). Every path below composes the SAME dot/l2sq/normSq
  // calls, so sim == simNodes == queryScorer stays bit-identical by
  // construction regardless of which kernel set is active.
  private val kernels = graft.simd.Kernels.INSTANCE

  def sim(a: Array[Float], b: Array[Float]): Double = (metricCode: @annotation.switch) match {
    case 0 => 1.0 / (1.0 + kernels.l2sq(a, b))
    case 1 => (1.0 + kernels.dot(a, b)) / 2.0
    case 2 =>
      (1.0 + kernels.dot(a, b) / (math.sqrt(kernels.normSq(a)) * math.sqrt(kernels.normSq(b)))) / 2.0
  }

  // COSINE: node norms are fixed — precompute sqrt(sum sq) once so the hot
  // kernel does one dot instead of three reductions. normSq(v) is bit-equal
  // to dot(v, v) (VectorKernels contract), so the precomputed-norm scorers
  // stay bit-identical to the unfused `sim` formula.
  private val normSqrts: Array[Double] =
    if (metricCode == 2) Array.tabulate(n)(i => math.sqrt(normSq(vectors(i)))) else null

  private def normSq(v: Array[Float]): Double = kernels.normSq(v)

  private def dot(a: Array[Float], b: Array[Float]): Double = kernels.dot(a, b)

  private def simNodes(i: Int, j: Int): Double =
    if (metricCode == 2)
      (1.0 + dot(vectors(i), vectors(j)) / (normSqrts(i) * normSqrts(j))) / 2.0
    else sim(vectors(i), vectors(j))

  /** BUILD-time pair-scorer seam (jvector's BuildScoreProvider,
    * `similarity/BuildScoreProvider.java:170-212`): non-null only while an
    * approximate-scored build ([[buildApprox]]) is running. Insert beams,
    * RobustPrune diversity, backlink scores and hierarchy construction all
    * route through [[pairScore]], so an approximate build never consults
    * full-res vectors; search-time scoring and post-build maintenance
    * (repair, rescore) always see null and stay exact. */
  private var buildPair: (Int, Int) => Double = null

  @inline private def pairScore(a: Int, b: Int): Double =
    if (buildPair == null) simNodes(a, b) else buildPair(a, b)

  /** Insert-time beam for `node` against the current graph: exact query
    * scorer normally, the build pair scorer during an approximate build. */
  private def buildSearch(node: Int): Array[(Int, Double)] = buildSearch(node, beamWidth)

  private def buildSearch(node: Int, ef: Int): Array[(Int, Double)] =
    if (buildPair == null) searchInternal(vectors(node), ef, _ => true)
    else {
      val sc: Int => Double = j => buildPair(node, j)
      searchInternalScored(sc, descendScored(sc, null), ef, _ => true)
    }

  /** Refine-pass beam width. The second construction pass re-searches
    * EVERY node against the FINISHED graph, which is the most expensive
    * beam of the build (measured 30-45% of total, NOTES_r12 §5). It is
    * capped at beamWidth/4: measured Pareto-better than the full beam on
    * every fixture shape (cell/multi/uniform x dim 16-64, r12 table in
    * NOTES_r12 §5) — recall equal or higher (the refine mostly repacks
    * existing edges; a few fresh candidates suffice) at ~40% of the refine
    * cost, 1.3-1.4x on the whole build. Skipping refine entirely is faster
    * still but measurably loses recall at low degree/dim (0.972 -> 0.940
    * at dim16/deg16), so the pass stays. jvector's refineFinalGraph
    * contract is the quality, not the effort. */
  @inline private def refineEf: Int = math.max(1, beamWidth / 4)

  /** Query-to-node scorer with the query norm hoisted out of the loop
    * (COSINE); other metrics fall through to `sim`. Bit-identical results. */
  /** Public exact per-node scorer for `q` — the rerank seam the compressed
    * paged/threshold routes use to re-score approx-selected survivors. */
  def exactScorer(q: Array[Float]): Int => Double = queryScorer(q)

  private def queryScorer(q: Array[Float]): Int => Double =
    if (metricCode == 2) {
      val qn = math.sqrt(normSq(q))
      i => (1.0 + dot(q, vectors(i)) / (qn * normSqrts(i))) / 2.0
    } else { i => sim(q, vectors(i)) }

  /** Greedy best-first beam search (one layer). Returns up to `ef` results
    * sorted score desc, id asc (final scores recomputed in double for the
    * deterministic output contract). Counts visited nodes. Heaps hold
    * packed longs (float score bits + id) — no boxing in the hot loop. */
  def searchInternal(q: Array[Float], ef: Int, accept: Int => Boolean,
      vc: Vamana.VisitCounter = null): Array[(Int, Double)] = {
    val scorer = queryScorer(q)
    searchInternalScored(scorer, descendScored(scorer, vc), ef, accept, vc)
  }

  /** Beam search with a pluggable node scorer (jvector's
    * ApproximateScoreFunction seam, `similarity/ScoreFunction.java`):
    * two-phase search drives the beam with cheap approximate scores (PQ
    * ADC, BQ hamming) and reranks survivors exactly. */
  def searchInternalScored(scorer: Int => Double, entry: Int, ef: Int,
      accept: Int => Boolean, vc: Vamana.VisitCounter = null): Array[(Int, Double)] = {
    if (n == 0) return Array.empty
    val visited = new java.util.BitSet(n)
    val cand = new LongHeap(64, min = false) // best frontier on top
    val res = new LongHeap(ef + 1, min = true) // worst kept result on top
    cand.push(LongHeap.pack(scorer(entry), entry))
    visited.set(entry)
    var visits = 1L
    var stop = false
    while (!stop && cand.nonEmpty) {
      val packed = cand.pop()
      val cs = LongHeap.score(packed)
      val c = LongHeap.id(packed)
      if (res.size >= ef && cs < LongHeap.score(res.top)) {
        stop = true // best frontier worse than worst kept result
      } else {
        if (accept(c)) {
          res.push(packed)
          if (res.size > ef) res.pop()
        }
        if (vc != null) vc.expanded += 1
        val nbrs = neighbors(c)
        var i = 0
        while (i < nbrs.length) {
          val nb = nbrs(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            visits += 1
            val s = scorer(nb)
            if (res.size < ef || s > LongHeap.score(res.top)) cand.push(LongHeap.pack(s, nb))
          }
          i += 1
        }
      }
    }
    // one cumulative add per call (not per node): cheap, and concurrent
    // searches over a shared cached graph report exact effort via `vc`
    visitedAdder.add(visits)
    if (vc != null) vc.n += visits
    res.toArray.map { p => val id = LongHeap.id(p); (id, scorer(id)) }
      .sortBy { case (id, s) => (-s, id) }
  }

  /** Two-phase search (jvector `GraphSearcher` approx + rerank,
    * `GraphSearcher.java:471-507`): the beam runs entirely on `approx`
    * scores keeping rerankK candidates; survivors are re-scored with the
    * exact similarity (late materialization — at scale the full-res
    * vectors are the expensive fetch). Returns (topK sorted score desc /
    * id asc, worst APPROXIMATE score among the kept top-k) — the second is
    * the value the reference propagates as the next segment's rerankFloor
    * (`SearchResult.getWorstApproximateScoreInTopK`, `SearchResult.java:
    * 82-84`); floors compare approx-to-approx, never across score scales. */
  def searchTwoPhase(q: Array[Float], approx: Int => Double, topK: Int, rerankK: Int,
      accept: Int => Boolean = _ => true, vc: Vamana.VisitCounter = null,
      /** Cross-segment rerank floor (jvector `GraphSearcher.java:386-404`,
        * `SearchResult.java:82-84`): candidates whose APPROXIMATE score is
        * below the worst already-kept top-k exact score from earlier
        * segments skip the exact rerank — they could not enter the merged
        * top-k unless the approximation underestimates, the same accepted
        * trade the reference makes. */
      rerankFloor: Double = Double.NegativeInfinity,
      /** Counts performed exact reranks (effort metric, A8). */
      rc: Vamana.VisitCounter = null): (Array[(Int, Double)], Double) = {
    // descend the upper layers on the same approx scorer before the layer-0
    // beam (jvector runs its compressed SSP through the full hierarchy,
    // GraphSearcher.java:263-282) — a no-op on hierarchy-less shells
    val candidates = searchInternalScored(approx, descendScored(approx, vc),
      math.max(rerankK, topK), accept, vc)
    val surviving =
      if (rerankFloor == Double.NegativeInfinity) candidates
      else candidates.filter(_._2 >= rerankFloor)
    if (rc != null) rc.n += surviving.length
    val exact = queryScorer(q)
    val approxOf = surviving.toMap
    val kept = surviving.map { case (id, _) => (id, exact(id)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(topK)
    val worstApprox =
      if (kept.length < topK) Double.NegativeInfinity
      else kept.iterator.map { case (id, _) => approxOf(id) }.min
    (kept, worstApprox)
  }

  /** Resumable search (jvector T6): like `search`, but also returns a
    * cursor from which [[resume]] continues the SAME beam for the next k —
    * frontier, visited set and evicted results carry over, so pagination
    * costs only the incremental expansion, not a re-search. */
  def searchResumable(q: Array[Float], topK: Int, ef: Int,
      accept: Int => Boolean = _ => true): (Array[(Int, Double)], Vamana.SearchState) =
    searchResumableScored(queryScorer(q), topK, ef, accept)

  /** [[searchResumable]] with a pluggable node scorer — the compressed
    * resume path: jvector's resume runs on the SAME (possibly approximate)
    * SearchScoreProvider as the initial search (`GraphSearcher.java:
    * 298-303,509-547`), so a PQ-backed index pages on ADC scores and the
    * caller reranks each page's survivors exactly. */
  def searchResumableScored(scorer: Int => Double, topK: Int, ef: Int,
      accept: Int => Boolean = _ => true): (Array[(Int, Double)], Vamana.SearchState) = {
    val state = new Vamana.SearchState(scorer, accept, new java.util.BitSet(n),
      new LongHeap(64, min = false), mutable.ArrayBuffer.empty[Long], new java.util.BitSet(n))
    if (n == 0) return (Array.empty, state)
    val entry = descendScored(scorer, null)
    state.visited.set(entry)
    visitedAdder.add(1)
    state.frontier.push(LongHeap.pack(scorer(entry), entry))
    (advance(state, topK, math.max(ef, topK)), state)
  }

  /** Continue a [[searchResumable]] cursor: returns the NEXT `additionalK`
    * results (best first, never repeating already-returned ids), mirroring
    * `GraphSearcher.resume(additionalK, rerankK)` — `ef` plays rerankK's
    * role (exploration width of the resumed phase; defaults to 4x). */
  def resume(state: Vamana.SearchState, additionalK: Int, ef: Int = 0): Array[(Int, Double)] =
    advance(state, additionalK, math.max(if (ef <= 0) additionalK * 4 else ef, additionalK))

  /** Serialize a resumable cursor for CROSS-INVOCATION pagination (T6
    * beyond the reference's in-process resume): everything [[resume]]
    * needs except the scorer/accept closures, which [[importCursor]]
    * recreates from the query vector and live-filter. Cost note: the two
    * bitsets are O(n bits) per (query, segment) — persisted sessions pay
    * that storage, which is why they're a session feature, not the default
    * batch-paging path. */
  def exportCursor(st: Vamana.SearchState): (Array[Byte], Array[Byte], Array[Long], Array[Long]) =
    (Vamana.encodeBits(st.visited), Vamana.encodeBits(st.returned),
      st.frontier.toArray, st.evicted.toArray)

  /** Rebuild a [[resume]]-able cursor from [[exportCursor]] blobs against
    * THIS graph (must be the same persisted segment the cursor was
    * exported from — same rows, same local-id order). */
  def importCursor(q: Array[Float], accept: Int => Boolean,
      visited: Array[Byte], returned: Array[Byte],
      frontier: Array[Long], evicted: Array[Long]): Vamana.SearchState =
    importCursorScored(queryScorer(q), accept, visited, returned, frontier, evicted)

  /** [[importCursor]] with a pluggable scorer — the COMPRESSED session
    * route resumes its cursor on the same approx scorer it traversed on
    * (jvector resume runs on the same compressed SSP,
    * `GraphSearcher.java:509-547`); packed frontier/evicted scores stay
    * on that scorer's scale across pages by construction. */
  def importCursorScored(scorer: Int => Double, accept: Int => Boolean,
      visited: Array[Byte], returned: Array[Byte],
      frontier: Array[Long], evicted: Array[Long]): Vamana.SearchState = {
    val f = new LongHeap(math.max(64, frontier.length + 1), min = false)
    frontier.foreach(f.push)
    new Vamana.SearchState(scorer, accept,
      Vamana.decodeBits(visited), f,
      mutable.ArrayBuffer.from(evicted), Vamana.decodeBits(returned))
  }

  /** Run the shared beam loop until `ef` results are held and the frontier
    * can no longer improve them; return the best `k`, stash the rest in the
    * evicted pool, mark returned. */
  private def advance(state: Vamana.SearchState, k: Int, ef: Int): Array[(Int, Double)] = {
    if (n == 0) return Array.empty
    val res = new LongHeap(ef + 1, min = true)
    // re-admit evicted candidates (scored in an earlier phase, not
    // returned); overflow stays in the pool for LATER pages — dropping it
    // would lose already-paid scoring work. accept is RE-CHECKED here:
    // on a persisted session the predicate can change between pages
    // (tombstones added after the cursor was exported), and a node that
    // stops being accepted must not surface from the pool.
    val overflow = mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < state.evicted.length) {
      val p = state.evicted(i)
      if (!state.returned.get(LongHeap.id(p)) && state.accept(LongHeap.id(p))) {
        res.push(p)
        if (res.size > ef) overflow += res.pop()
      }
      i += 1
    }
    state.evicted.clear()
    state.evicted ++= overflow
    var visits = 0L
    var stop = false
    while (!stop && state.frontier.nonEmpty) {
      val packed = state.frontier.pop()
      val cs = LongHeap.score(packed)
      val c = LongHeap.id(packed)
      if (res.size >= ef && cs < LongHeap.score(res.top)) {
        state.frontier.push(packed) // keep for the next resume
        stop = true
      } else {
        if (state.accept(c) && !state.returned.get(c)) {
          res.push(packed)
          // evictions stay in the pool: the node is already visited, so a
          // later page could never re-score it through expansion
          if (res.size > ef) state.evicted += res.pop()
        }
        val nbrs = neighbors(c)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (!state.visited.get(nb)) {
            state.visited.set(nb)
            visits += 1
            val s = state.scorer(nb)
            state.frontier.push(LongHeap.pack(s, nb))
          }
          j += 1
        }
      }
    }
    visitedAdder.add(visits)
    val all = res.toArray
      .map { p => val id = LongHeap.id(p); (id, state.scorer(id)) }
      .sortBy { case (id, s) => (-s, id) }
    val (out, rest) = all.splitAt(k)
    out.foreach { case (id, _) => state.returned.set(id) }
    rest.foreach { case (id, s) => state.evicted += LongHeap.pack(s, id) }
    out
  }

  /** RobustPrune: keep up to `deg` diverse candidates (closest-first greedy;
    * a candidate is dropped if an already-kept neighbor dominates it within
    * the alpha slack, alpha relaxed 1.0 -> alpha in 0.2 steps). Operates on
    * packed (score, id) longs sorted ascending — iterated from the top —
    * with a reusable scratch BitSet for dedupe; no per-call boxing. */
  private val pruneSeen = new java.util.BitSet(math.max(1, n))

  private def robustPrune(p: Int, packed: Array[Long], deg: Int,
      scoresOut: mutable.ArrayBuffer[Double] = null,
      /** dedupe scratch — parallel build workers pass their own (the shared
        * default is NOT thread-safe) */
      seen: java.util.BitSet = pruneSeen): mutable.ArrayBuffer[Int] = {
    java.util.Arrays.sort(packed)
    val kept = new mutable.ArrayBuffer[Int](deg)
    val alive = Array.fill(packed.length)(true)
    seen.clear()
    var a = 1.0
    while (kept.size < deg && a <= alpha + 1e-9) {
      var i = packed.length - 1 // best score first; ties -> smaller id first
      while (i >= 0 && kept.size < deg) {
        if (alive(i)) {
          val c = LongHeap.id(packed(i))
          if (c == p || seen.get(c)) alive(i) = false
          else {
            val sPC = LongHeap.score(packed(i)).toDouble
            var dominated = false
            var j = 0
            while (j < kept.length && !dominated) {
              if (pairScore(kept(j), c) > sPC * a) dominated = true
              j += 1
            }
            if (!dominated) {
              kept += c
              if (scoresOut != null) scoresOut += sPC
              seen.set(c)
              alive(i) = false
            }
          }
        }
        i -= 1
      }
      a += 0.2
    }
    kept
  }

  private def packPairs(pairs: Iterator[(Int, Double)], len: Int): Array[Long] = {
    val out = new Array[Long](len)
    var i = 0
    while (pairs.hasNext) { val (id, s) = pairs.next(); out(i) = LongHeap.pack(s, id); i += 1 }
    out
  }

  /** One incremental insert against the current graph: beam search, prune,
    * set forward edges, backlink with overflow re-prune (the body of the
    * sequential build loop, also the parallel build's seed phase). */
  private def insertOne(node: Int, overflowDeg: Int,
      nbrSims: Array[mutable.ArrayBuffer[Double]]): Unit = {
    val found = buildSearch(node)
    val chosenScores = mutable.ArrayBuffer.empty[Double]
    val chosen = robustPrune(node, packPairs(found.iterator, found.length), degL0, chosenScores)
    neighbors(node) = chosen
    nbrSims(node) = chosenScores
    // reverse edges (backlink), prune on overflow
    var ci = 0
    while (ci < chosen.length) {
      val nb = chosen(ci)
      val lst = neighbors(nb)
      if (!lst.contains(node)) {
        lst += node
        nbrSims(nb) += chosenScores(ci)
        if (lst.length > overflowDeg) {
          val sims = nbrSims(nb)
          val packed = new Array[Long](lst.length)
          var i2 = 0
          while (i2 < lst.length) { packed(i2) = LongHeap.pack(sims(i2), lst(i2)); i2 += 1 }
          val outScores = mutable.ArrayBuffer.empty[Double]
          neighbors(nb) = robustPrune(nb, packed, degL0, outScores)
          nbrSims(nb) = outScores
        }
      }
      ci += 1
    }
  }

  /** Batch build: seeded insertion order, beam-search-then-prune per node,
    * reverse edges with overflow, final degree enforcement + refine pass. */
  def build(): this.type = build(1)

  /** Build with `threads` worker threads (the reference's builder inserts
    * concurrently, `GraphIndexBuilder.java` addGraphNode + its concurrent
    * neighbor sets; our parallel schedule is the deterministic prefix-
    * doubling batch variant). threads <= 1 runs the exact sequential path.
    *
    * Parallel schedule: a sequential seed prefix, then rounds that at most
    * double the built prefix — within a round every pending node's beam
    * search + self-prune runs against the FROZEN round-start graph on the
    * pool (reads only), then forward edges + backlinks apply in insertion
    * order on the caller thread, with overflowed backlink lists re-pruned
    * in a final parallel sweep (each trim touches only its own node).
    * Deterministic regardless of thread interleaving: searches see the same
    * frozen graph, applies are ordered, trims are per-node independent.
    *
    * Intended for driver-side / pinned builds and `spark.task.cpus > 1`
    * deployments; inside default Spark tasks (1 core) keep threads = 1 —
    * segments already build in parallel across tasks. */
  def build(threads: Int): this.type = {
    if (n == 0) return this
    // entry = node nearest to the centroid (medoid approximation)
    val dim = vectors(0).length
    val centroid = new Array[Float](dim)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < dim) { centroid(j) += vectors(i)(j) / n; j += 1 }
      i += 1
    }
    var best = 0; var bestS = Double.MinValue
    i = 0
    while (i < n) {
      val s = sim(centroid, vectors(i))
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    entryNode = best
    buildFrom(threads)
  }

  /** Approximate-scored build — the reference's DEFAULT build mode
    * (default.yml's construction `compression: PQ`;
    * `BuildScoreProvider.pqBuildScoreProvider`,
    * `similarity/BuildScoreProvider.java:170-212`): every construction-time
    * score (insert beams, RobustPrune diversity, backlinks, hierarchy)
    * routes through `pair`, and full-res vectors are never consulted — at
    * scale the builder needs only codes + codebooks in memory while
    * full-res stays on disk for search-time rerank. `entry` is the
    * caller-selected entry node (e.g. argmax similarity to the approximate
    * centroid, the reference's `approximateCentroid` seam). Post-build
    * maintenance (repair, rescore) resumes exact scoring: the seam is
    * nulled before this returns. */
  def buildApprox(pair: (Int, Int) => Double, entry: Int, threads: Int = 1): this.type = {
    if (n == 0) return this
    require(entry >= 0 && entry < n, s"entry $entry out of range [0, $n)")
    buildPair = pair
    try {
      entryNode = entry
      buildFrom(threads)
    } finally buildPair = null
  }

  private def buildFrom(threads: Int): this.type = {
    val overflowDeg = math.max(degL0 + 1, (degL0 * neighborOverflow).toInt)
    val rnd = new scala.util.Random(seed)
    val order = rnd.shuffle((0 until n).toVector)
    // owner->neighbor sims cached parallel to each adjacency list: sim is
    // symmetric, so a backlink's score is the forward score we just computed —
    // overflow re-prunes then need zero fresh similarity evaluations to pack.
    val nbrSims: Array[mutable.ArrayBuffer[Double]] =
      Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    val nodes = order.filter(_ != entryNode).toArray
    if (threads <= 1 || n < 4096) {
      var oi = 0
      while (oi < nodes.length) { insertOne(nodes(oi), overflowDeg, nbrSims); oi += 1 }
      // refine pass (jvector refineFinalGraph / improveConnections); existing
      // edges are re-packed from the cached sims, only the fresh beam results
      // need scoring (which searchInternal already produced)
      if (refineEf > 0) for (node <- 0 until n) {
        val found = buildSearch(node, refineEf)
        val lst = neighbors(node)
        val sims = nbrSims(node)
        val packed = new Array[Long](found.length + lst.length)
        var i2 = 0
        while (i2 < found.length) { packed(i2) = LongHeap.pack(found(i2)._2, found(i2)._1); i2 += 1 }
        var j2 = 0
        while (j2 < lst.length) { packed(i2 + j2) = LongHeap.pack(sims(j2), lst(j2)); j2 += 1 }
        neighbors(node) = robustPrune(node, packed, degL0)
      }
    } else buildParallel(nodes, overflowDeg, nbrSims, threads)
    buildHierarchy()
    lastBuildVisited = visitedAdder.sum()
    visitedAdder.reset() // build traffic doesn't count as search effort
    this
  }

  /** Beam-visited nodes during the last batch [[build]]/[[buildApprox]] —
    * the measured construction-effort counter the compaction-economics gate
    * compares against the merge path. [[buildFromCandidates]] sets it to 0:
    * merge construction runs no internal searches (its cross-source beam
    * effort is counted by the caller's own `VisitCounter`). */
  var lastBuildVisited: Long = 0L

  /** Merge-mode construction (the reference compactor's shape,
    * `graph/disk/OnDiskGraphIndexCompactor.java:1160-1210`): the caller
    * supplies each node's candidate edge set — same-source adjacency
    * gathered WITHOUT any search, plus cross-source beam results — as
    * packed (score, id) longs in this graph's id space. Each set is
    * robust-pruned into forward edges, backlinks are added with overflow
    * re-prune (pruned forward sets alone need not be symmetric), the entry
    * is re-elected as the medoid approximation, and the hierarchy is built.
    * No layer-0 beam searches run here — reusing same-source structure
    * instead of re-searching the merged corpus is the whole economics of
    * merge compaction vs a full rebuild. */
  def buildFromCandidates(cands: Array[Array[Long]]): this.type = {
    require(cands.length == n, s"candidate sets ${cands.length} != n $n")
    if (n == 0) return this
    val overflowDeg = math.max(degL0 + 1, (degL0 * neighborOverflow).toInt)
    val nbrSims: Array[mutable.ArrayBuffer[Double]] =
      Array.fill(n)(mutable.ArrayBuffer.empty[Double])
    var u = 0
    while (u < n) {
      val scoresOut = mutable.ArrayBuffer.empty[Double]
      neighbors(u) = robustPrune(u, cands(u), degL0, scoresOut)
      nbrSims(u) = scoresOut
      u += 1
    }
    // reverse-edge phase (same contract as insertOne's backlinks): every
    // forward edge u->v becomes visible from v, overflow re-pruned. Scores
    // reuse the forward score (sim is symmetric) — zero fresh evaluations.
    u = 0
    while (u < n) {
      val lst = neighbors(u)
      val sims = nbrSims(u)
      var ci = 0
      while (ci < lst.length) {
        val nb = lst(ci)
        val back = neighbors(nb)
        if (!back.contains(u)) {
          back += u
          nbrSims(nb) += sims(ci)
          if (back.length > overflowDeg) {
            val bs = nbrSims(nb)
            val packed = new Array[Long](back.length)
            var i2 = 0
            while (i2 < back.length) { packed(i2) = LongHeap.pack(bs(i2), back(i2)); i2 += 1 }
            val outScores = mutable.ArrayBuffer.empty[Double]
            neighbors(nb) = robustPrune(nb, packed, degL0, outScores)
            nbrSims(nb) = outScores
          }
        }
        ci += 1
      }
      u += 1
    }
    // entry = node nearest the merged centroid (medoid approximation, as in
    // build()); buildHierarchy may then promote a higher-level node.
    val dim = vectors(0).length
    val centroid = new Array[Float](dim)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < dim) { centroid(j) += vectors(i)(j) / n; j += 1 }
      i += 1
    }
    var best = 0; var bestS = Double.MinValue
    i = 0
    while (i < n) {
      val s = sim(centroid, vectors(i))
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    entryNode = best
    buildHierarchy()
    lastBuildVisited = 0L
    visitedAdder.reset()
    this
  }

  /** Submit `workers` copies of `body` and await them all; exceptions
    * surface on the caller thread. */
  private def runOnPool(pool: java.util.concurrent.ExecutorService, workers: Int)(
      body: () => Unit): Unit = {
    val futs = (0 until workers).map(_ => pool.submit(new Runnable {
      def run(): Unit = body()
    }))
    futs.foreach(_.get())
  }

  /** Prefix-doubling parallel build (see [[build(threads:Int)*]] scaladoc for
    * the schedule and the determinism argument). Worker phases only READ the
    * graph (each worker has its own prune scratch; `visitedCount` bumps from
    * concurrent searches are lost-update racy but the value is reset when
    * build returns); all adjacency writes happen either on the caller thread
    * in insertion order or in the per-node-independent trim/refine sweeps. */
  private def buildParallel(nodes: Array[Int], overflowDeg: Int,
      nbrSims: Array[mutable.ArrayBuffer[Double]], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      // seed prefix: sequential inserts so early beams have a graph to walk
      var done = 0
      val seedCount = math.min(1024, nodes.length)
      while (done < seedCount) { insertOne(nodes(done), overflowDeg, nbrSims); done += 1 }
      while (done < nodes.length) {
        val batch = math.min(nodes.length - done, math.max(done, 1024))
        val chosenArr = new Array[mutable.ArrayBuffer[Int]](batch)
        val scoresArr = new Array[mutable.ArrayBuffer[Double]](batch)
        val next = new java.util.concurrent.atomic.AtomicInteger(0)
        val base = done
        runOnPool(pool, threads) { () =>
          val scratch = new java.util.BitSet(math.max(1, n))
          var i = next.getAndIncrement()
          while (i < batch) {
            val node = nodes(base + i)
            val found = buildSearch(node)
            val ss = mutable.ArrayBuffer.empty[Double]
            chosenArr(i) =
              robustPrune(node, packPairs(found.iterator, found.length), degL0, ss, scratch)
            scoresArr(i) = ss
            i = next.getAndIncrement()
          }
        }
        // apply in insertion order; overflow trims deferred to the sweep
        // below so the serial section is list appends only
        val overflowed = mutable.LinkedHashSet.empty[Int]
        var i = 0
        while (i < batch) {
          val node = nodes(base + i)
          val chosen = chosenArr(i)
          neighbors(node) = chosen
          nbrSims(node) = scoresArr(i)
          var ci = 0
          while (ci < chosen.length) {
            val nb = chosen(ci)
            val lst = neighbors(nb)
            if (!lst.contains(node)) {
              lst += node
              nbrSims(nb) += scoresArr(i)(ci)
              if (lst.length > overflowDeg) overflowed += nb
            }
            ci += 1
          }
          i += 1
        }
        val ovf = overflowed.toArray
        val next2 = new java.util.concurrent.atomic.AtomicInteger(0)
        runOnPool(pool, threads) { () =>
          val scratch = new java.util.BitSet(math.max(1, n))
          var i = next2.getAndIncrement()
          while (i < ovf.length) {
            val nb = ovf(i)
            val lst = neighbors(nb)
            val sims = nbrSims(nb)
            val packed = new Array[Long](lst.length)
            var j = 0
            while (j < lst.length) { packed(j) = LongHeap.pack(sims(j), lst(j)); j += 1 }
            val out = mutable.ArrayBuffer.empty[Double]
            neighbors(nb) = robustPrune(nb, packed, degL0, out, scratch)
            nbrSims(nb) = out
            i = next2.getAndIncrement()
          }
        }
        done += batch
      }
      // refine pass, chunked Jacobi: each chunk's searches + prunes read the
      // frozen pre-chunk graph in parallel, then the chunk's new adjacency
      // lands in one ordered sweep (the sequential path's Gauss-Seidel
      // refine sees earlier refinements mid-pass; at chunk granularity the
      // difference is quality-neutral — both end degree-enforced)
      val chunk = 65536
      var start = 0
      while (refineEf > 0 && start < n) {
        val end = math.min(n, start + chunk)
        val out = new Array[mutable.ArrayBuffer[Int]](end - start)
        val next = new java.util.concurrent.atomic.AtomicInteger(0)
        runOnPool(pool, threads) { () =>
          val scratch = new java.util.BitSet(math.max(1, n))
          var i = next.getAndIncrement()
          while (i < end - start) {
            val node = start + i
            val found = buildSearch(node, refineEf)
            val lst = neighbors(node)
            val sims = nbrSims(node)
            val packed = new Array[Long](found.length + lst.length)
            var i2 = 0
            while (i2 < found.length) { packed(i2) = LongHeap.pack(found(i2)._2, found(i2)._1); i2 += 1 }
            var j2 = 0
            while (j2 < lst.length) { packed(i2 + j2) = LongHeap.pack(sims(j2), lst(j2)); j2 += 1 }
            out(i) = robustPrune(node, packed, degL0, null, scratch)
            i = next.getAndIncrement()
          }
        }
        var i = 0
        while (i < end - start) { neighbors(start + i) = out(i); i += 1 }
        start = end
      }
    } finally pool.shutdown()
  }

  /** FreshDiskANN §4.2 delete repair (jvector `removeDeletedNodes`,
    * `GraphIndexBuilder.java:689-799`): for every live node with an edge
    * into the deleted set, splice the deleted neighbors' own live neighbors
    * into the candidate list and re-run RobustPrune — the graph keeps its
    * navigability without touching nodes that never pointed at a tombstone.
    * Deleted nodes' adjacency is cleared; upper layers drop deleted members;
    * a deleted entry point is replaced by the live node nearest the live
    * centroid (same medoid approximation as build). */
  def repairDeleted(deleted: java.util.BitSet): Unit = {
    if (n == 0 || deleted.isEmpty) return
    var a = 0
    while (a < n) {
      if (!deleted.get(a)) {
        val lst = neighbors(a)
        var touches = false
        var i = 0
        while (i < lst.length && !touches) { if (deleted.get(lst(i))) touches = true; i += 1 }
        if (touches) {
          val cand = mutable.LinkedHashSet.empty[Int]
          i = 0
          while (i < lst.length) {
            val nb = lst(i)
            if (deleted.get(nb)) {
              val nn = neighbors(nb)
              var j = 0
              while (j < nn.length) {
                if (!deleted.get(nn(j)) && nn(j) != a) cand += nn(j)
                j += 1
              }
            } else cand += nb
            i += 1
          }
          val packed = cand.toArray.map(c => LongHeap.pack(simNodes(a, c), c))
          neighbors(a) = robustPrune(a, packed, degL0)
        }
      }
      a += 1
    }
    var d = deleted.nextSetBit(0)
    while (d >= 0) { neighbors(d) = mutable.ArrayBuffer.empty; d = deleted.nextSetBit(d + 1) }
    for (layer <- upperNeighbors) {
      val gone = layer.keys.filter(deleted.get).toArray
      gone.foreach(layer.remove)
      for (m <- layer.keys.toArray) layer(m) = layer(m).filterNot(deleted.get)
    }
    if (deleted.get(entryNode)) {
      val dim = vectors(0).length
      val centroid = new Array[Float](dim)
      var live = 0
      var i = 0
      while (i < n) { if (!deleted.get(i)) live += 1; i += 1 }
      if (live == 0) { entryNode = 0; return }
      i = 0
      while (i < n) {
        if (!deleted.get(i)) {
          var j = 0
          while (j < dim) { centroid(j) += vectors(i)(j) / live; j += 1 }
        }
        i += 1
      }
      var best = -1; var bestS = Double.MinValue
      i = 0
      while (i < n) {
        if (!deleted.get(i)) {
          val s = sim(centroid, vectors(i))
          if (s > bestS) { bestS = s; best = i }
        }
        i += 1
      }
      entryNode = best
    }
  }

  /** Public search with optional accept filter (pushed INTO the beam loop,
    * jvector P1 semantics) and threshold. Returns (localId, score). */
  def search(q: Array[Float], topK: Int, ef: Int, accept: Int => Boolean = _ => true,
      vc: Vamana.VisitCounter = null): Array[(Int, Double)] =
    searchInternal(q, math.max(ef, topK), accept, vc).take(topK)

  /** Threshold search with the reference's adaptive stop (jvector T5:
    * `GraphSearcher.java:298-303` + `ScoreTracker.TwoPhaseTracker`,
    * `ScoreTracker.java:75-146`, citing VBase §3.1 "relaxed monotonicity"):
    * greedy best-first expansion collecting every accepted node with
    * score >= threshold, stopping once the 99th percentile of the last 500
    * scored nodes falls below BOTH the worst of the 100 best scores seen
    * and the threshold — the search has left the local-maximum region
    * (phase 1) and is only finding worse options (phase 2). One pass, no
    * re-search; results unbounded. `ef` is kept for signature compatibility
    * (the adaptive stop replaces the result-set bound). */
  def thresholdSearch(q: Array[Float], threshold: Double, ef: Int, accept: Int => Boolean = _ => true,
      vc: Vamana.VisitCounter = null): Array[(Int, Double)] =
    thresholdSearchScored(queryScorer(q), threshold, ef, accept, vc)

  /** [[thresholdSearch]] with a pluggable node scorer — the compressed
    * threshold path (jvector runs threshold searches on the same, possibly
    * approximate, SearchScoreProvider as top-k, `GraphSearcher.java:
    * 298-303`): traversal, collection, AND the adaptive stop all run on
    * `scorer`'s scale; the caller reranks survivors exactly and re-applies
    * the threshold on exact scores to restore the precision contract. */
  def thresholdSearchScored(scorer: Int => Double, threshold: Double, ef: Int,
      accept: Int => Boolean = _ => true,
      vc: Vamana.VisitCounter = null): Array[(Int, Double)] = {
    if (n == 0) return Array.empty
    val visited = new java.util.BitSet(n)
    val cand = new LongHeap(64, min = false)
    val out = new mutable.ArrayBuffer[(Int, Double)]
    // TwoPhaseTracker state (reference constants: 500 recent, 100 best,
    // evaluate ~1% of the time)
    val RECENT = 500
    val BEST = 100
    val recent = new Array[Double](RECENT)
    val scratch = new Array[Double](RECENT)
    var recentIdx = 0
    var obs = 0
    var lastCheck = 0
    val best = new LongHeap(BEST + 1, min = true)
    def track(s: Double): Unit = {
      best.push(LongHeap.pack(s, 0))
      if (best.size > BEST) best.pop()
      recent(recentIdx) = s
      recentIdx = (recentIdx + 1) % RECENT
      obs += 1
    }
    def shouldStop(): Boolean = {
      if (obs < RECENT || obs - lastCheck < 100) return false
      lastCheck = obs
      System.arraycopy(recent, 0, scratch, 0, RECENT)
      java.util.Arrays.sort(scratch)
      val p99 = scratch(RECENT * 99 / 100)
      val worstBest = LongHeap.score(best.top).toDouble
      p99 < worstBest && p99 < threshold
    }
    val entry = descendScored(scorer, vc)
    val es = scorer(entry)
    visited.set(entry)
    var visits = 1L
    track(es)
    if (es >= threshold && accept(entry)) out += ((entry, es))
    cand.push(LongHeap.pack(es, entry))
    var stop = false
    while (!stop && cand.nonEmpty) {
      val c = LongHeap.id(cand.pop())
      if (vc != null) vc.expanded += 1
      val nbrs = neighbors(c)
      var i = 0
      while (i < nbrs.length) {
        val nb = nbrs(i)
        if (!visited.get(nb)) {
          visited.set(nb)
          visits += 1
          val s = scorer(nb)
          track(s)
          if (s >= threshold && accept(nb)) out += ((nb, s))
          cand.push(LongHeap.pack(s, nb))
        }
        i += 1
      }
      if (shouldStop()) stop = true
    }
    visitedAdder.add(visits)
    if (vc != null) vc.n += visits
    out.sortBy { case (id, s) => (-s, id) }.toArray
  }
}
