package graft.index

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-invocation pagination sessions, part of [[Ann]]'s API (T6
  * beyond the reference's in-process `GraphSearcher.resume`): the
  * per-(query, segment) beam cursors are PERSISTED under `statePath`, so
  * pagination continues from a new driver/JVM without re-searching
  * earlier pages. Open with [[openPagedSession]] (returns page 1),
  * continue with [[nextSessionPage]]; each call returns (qid, rank, nid,
  * score) for its page, pages are globally ordered and disjoint, and match
  * the batch route ([[Ann.searchIndexPaged]], exact path) page for page.
  *
  * Layout under statePath (see [[Sessions.Generation]]):
  * {{{
  *   _current          pointer to the committed generation: "gen=N <session id>"
  *   gen=N/_meta       build token, mode (two_phase), big, generation number
  *   gen=N/out/kind=1/ cursors: (qid, seg, qvec + exported beam state)
  *   gen=N/pool/       (qid, rank, nid, score): rank 0 rows are produced but
  *                     not yet emitted candidates, rank > 0 rows (big
  *                     sessions only) were emitted as their page
  * }}}
  *
  * Commit point: a page writes generation N+1 completely — cursors, pool
  * and `_meta` — and writes the `_current` pointer LAST, the protocol
  * `VectorService` uses for its index generations; older generations are
  * deleted after the flip. The state on disk is therefore always one whole
  * generation, the one before a page or the one after it: a page that
  * dies before its flip leaves the previous generation current, and the
  * next call writes that page again. State cost per (query, PROBED
  * segment) is O(visited nodes) — the bitsets export density-adaptive
  * ([[Vamana.encodeBits]]), and on clustered trees only the
  * ~sqrt(segments) probed segments carry cursors — so state scales with
  * beam work, not with tree size. */
trait Sessions {
  import Sessions._

  /** Open a persisted session at `statePath` and return its page 1 (see
    * [[Sessions]]). Exact traversal unless `rerankK` > 0. */
  def openPagedSession(
      spark: SparkSession,
      path: String,
      statePath: String,
      queries: DataFrame,
      k: Int,
      ef: Int,
      params: Ann.Params = Ann.Params(),
      deletes: Option[DataFrame] = None,
      /** See [[Ann.searchIndex]]: AutoProbe (default) routes on clustered
        * trees — only probed segments get durable cursors, so session
        * state scales with sqrt(segments), not segments. Later pages resume
        * exactly the cursors that exist — no re-routing. */
      probeSegments: Int = Ann.AutoProbe,
      /** >0 = COMPRESSED session on a pqM > 0 tree: the persisted cursor
        * traverses on ADC scores (residual on clustered trees) and each
        * page's per-segment candidates rerank exactly before the pool
        * merge — jvector's resume on the same compressed SSP
        * (`GraphSearcher.java:509-547`). A session opens in one mode and
        * stays there (guarded). Unlike the exact mode, page membership
        * follows approx DISCOVERY order (the reference's own trade):
        * pages are exact-scored, disjoint, and complete, but a later page
        * may hold an exactly-better hit than an earlier one emitted. */
      rerankK: Int = 0): DataFrame =
    sessionPage(spark, path, statePath, Some(queries), k, ef, params, deletes,
      probeSegments, rerankK)

  /** Next page of a persisted session (see [[openPagedSession]]). */
  def nextSessionPage(
      spark: SparkSession,
      path: String,
      statePath: String,
      k: Int,
      ef: Int,
      params: Ann.Params = Ann.Params(),
      deletes: Option[DataFrame] = None,
      /** Must match the mode the session was OPENED with (guarded). */
      rerankK: Int = 0): DataFrame =
    sessionPage(spark, path, statePath, None, k, ef, params, deletes, Ann.AutoProbe, rerankK)

  /** Candidate-row bound above which a persisted session keeps its
    * page/pool split DISTRIBUTED instead of the driver-side fast path
    * (boxed triples are ~110 bytes each — 2M rows ≈ ~220 MB of driver
    * heap). Decided at open time from cursor rows x page candidates,
    * recorded in each generation's `_meta`, and RE-EVALUATED per page
    * against the actual collected candidate count: the carried pool grows
    * across pages (each page adds up to cursorRows x pageCands rows and
    * retires only nQ x k), so a session opened under the bound can outgrow
    * it mid-session — the next generation is then marked big. A var so
    * specs can force the distributed path on small fixtures. */
  private[graft] var BigSessionRows: Long = 2000000L

  /** The committed generation of the session at `statePath`, None when no
    * page has committed there. */
  private[graft] def sessionGeneration(spark: SparkSession, statePath: String): Option[Generation] = {
    val state = new HPath(statePath)
    val fs = state.getFileSystem(spark.sessionState.newHadoopConf())
    Ann.readSmall(fs, new HPath(state, "_current")).map(Generation.read(fs, state, _))
  }

  private def sessionPage(
      spark: SparkSession,
      path: String,
      statePath: String,
      queriesOpt: Option[DataFrame],
      k: Int,
      ef: Int,
      p: Ann.Params,
      deletes: Option[DataFrame],
      probeSegments: Int,
      rerankK: Int): DataFrame = {
    import spark.implicits._
    val tok = Ann.buildToken(spark, path)
    val gen = Ann.treeGen(spark, path, tok)
    val segToks = gen.segToks
    val twoPhase = rerankK > 0
    // candidates resumed per (query, segment, page) on the compressed
    // route: oversampled like the batch routes' ADC frontier
    val pageCands = math.max(math.max(k, rerankK), p.adcFrontierPerK * k)
    val state = new HPath(statePath)
    val fs = state.getFileSystem(spark.sessionState.newHadoopConf())

    // the committed generation: the driver that committed it keeps its
    // metadata and pool rows (memo), any other driver reads `_meta`
    val memo = SessMemoCache.get(statePath)
    val cur: Option[Generation] = Ann.readSmall(fs, new HPath(state, "_current")).map(ptr =>
      memo.map(_.gen).filter(_.pointer == ptr).getOrElse(Generation.read(fs, state, ptr)))
    val poolMemo = memo.filter(m => cur.contains(m.gen)).map(_.pool)
    cur match {
      case None =>
        require(queriesOpt.isDefined, s"no open session at $statePath (no _current " +
          "pointer; a state dir from before generations must be reopened) — call openPagedSession")
      case Some(c) =>
        require(queriesOpt.isEmpty, s"session already open at $statePath — use nextSessionPage")
        // a session opened compressed must resume compressed (the cursor's
        // visited/returned sets reflect APPROX traversal; resuming exact
        // over them would silently mix semantics) — and vice versa
        require(c.twoPhase == twoPhase,
          s"session at $statePath was opened with " +
            s"${if (c.twoPhase) "rerankK > 0 (compressed)" else "rerankK = 0 (exact)"} — " +
            "pass the same mode to nextSessionPage")
        // cursors index LOCAL ids of the segment assembly they were
        // exported from; a rebuild/repair/compact under the session would
        // silently remap those ids to different rows — fail loudly instead
        require(c.tok == tok,
          s"index at $path changed since this session opened " +
            s"(build token ${c.tok} != $tok) — " +
            "persisted cursors cannot survive a rebuild; open a new session")
    }
    val adcB = Ann.loadAdcTables(spark, path, tok, rerankK)
    val resAdcB = Ann.loadResAdc(spark, path, tok, rerankK)
    val mc = Ann.adcMetricCode(p.metric)
    val liveConst = deletes.isEmpty

    // BIG sessions read their cursors in 256-row columnar batches: 4096-row
    // batches of multi-KB blob rows put multi-ten-MB column vectors on
    // every task at once. Set before the cursor scan is planned.
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    val savedBatch = if (cur.exists(_.big)) Some(spark.conf.getOption(batchKey)) else None
    if (savedBatch.isDefined) spark.conf.set(batchKey, "256")
    val writer = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      // open: the batch routes' serving plan ([[Ann.servePersisted]]) —
      // on a routable tree only the per-query probed segments get cursors,
      // the same routing as the batch route, so session pages stay page for
      // page identical to it. State then scales O(sqrt(S)) per query
      // instead of O(S): at 4M x 64 the exhaustive session exported 64
      // cursor blobs per query where the batch route probed 8.
      var cursorRows = 0L
      val outRdd: org.apache.spark.rdd.RDD[OutRow] = queriesOpt match {
        case Some(queries) =>
          val qArr = Ann.collectQueries(queries)
          Ann.servePersisted[OutRow](spark, path, qArr, p, deletes, probeSegments, rerankK,
              routed = r => cursorRows = r.fold(qArr.length.toLong * gen.segmentCount)(
                _.valuesIterator.map(_.length.toLong).sum)) { qs =>
            seg => seg.qIdx.iterator.flatMap { qi =>
              val (qid, qv) = qs(qi)
              val g = seg.graph
              seg.approx(qi, qv) match {
                case Some(approx) =>
                  // compressed cursor: approx traversal, exact rerank of
                  // this page's candidates before the pool merge
                  val (cands, st) = g.searchResumableScored(approx, pageCands,
                    math.max(ef, pageCands), seg.accept)
                  val exact = g.exactScorer(qv)
                  emit(seg.sg.segId, qid, qv, g, seg.ids, st,
                    cands.map { case (l, _) => (l, exact(l)) })
                case None =>
                  val (first, st) = g.searchResumable(qv, k, ef, seg.accept)
                  emit(seg.sg.segId, qid, qv, g, seg.ids, st, first)
              }
            }
          }
        case None =>
          val c = cur.get
          // Index rows travel through the batch routes' index side and
          // warm fast path (groupSegTask), sharing their SegmentCache
          // assemblies; cursor rows travel as a SEPARATE RDD partitioned
          // onto the index partitions and zipped with them — no driver-side
          // collect of the (large) cursor blobs, and no decode of every
          // index row per page. Pinned: no per-page index shuffle
          // (measured at 4M x 64: the forced repartition alone held session
          // pages at ~2.3s vs 0.34s for the shuffle-free paged route).
          val pinnedOpt = Ann.pinnedIndexes.get(Ann.pinKey(path))
          val idxRdd = Ann.indexSide(
            Ann.withLiveCol(gen.served, deletes, keepLayout = pinnedOpt.isDefined),
            pinnedOpt.isDefined, None, 1,
            Some(spark.sessionState.conf.numShufflePartitions)).queryExecution.toRdd
          // seg -> partition map of the ACTUAL index layout (one tiny string
          // per segment), memoized per (path+pin identity, tok): pinned
          // layouts are fixed while pinned, unpinned layouts are the
          // deterministic hash repartition above. The custom partitioner
          // then lands each cursor on its segment's partition BY
          // CONSTRUCTION — no assumption about Spark's hash placement, no
          // index-side shuffle. The key includes the partition count: an
          // unpinned layout is a function of (plan, shuffle partitions).
          val pinId = pinnedOpt.map(System.identityHashCode).getOrElse(0)
          val nIdxParts = idxRdd.getNumPartitions
          val segPart: Map[String, Int] = SegPartCache.getOrCompute(
            (s"$path|$pinId|$nIdxParts", tok),
            idxRdd.mapPartitionsWithIndex { (pid, it) =>
              val segs = scala.collection.mutable.Set.empty[String]
              var lastU8: org.apache.spark.unsafe.types.UTF8String = null
              it.foreach { r =>
                val u8 = r.getUTF8String(0)
                if (lastU8 == null || !u8.equals(lastU8)) {
                  lastU8 = u8.clone(); segs += lastU8.toString
                }
              }
              segs.iterator.map(s => (s, pid))
            }.collect().toMap)
          val bySeg = new org.apache.spark.Partitioner {
            def numPartitions: Int = nIdxParts
            def getPartition(key: Any): Int =
              segPart.getOrElse(key.asInstanceOf[String],
                throw new IllegalStateException(
                  s"session cursor references segment $key absent from the " +
                    s"index at $path — the index changed under the open session"))
          }
          val curRdd = spark.read.schema(CursorSchema).parquet(c.cursors.toString)
            .as[(String, Long, Array[Float], Array[Byte], Array[Byte], Array[Long], Array[Long])]
            .rdd
            .map(t => (t._1, t))
            .partitionBy(bySeg)
            .values
          idxRdd.zipPartitions(curRdd) { (idxIt, curIt) =>
            val tabs = new Ann.TaskAdcTables
            // index side consumed first (groupSegTask drains it), then the
            // partition's cursors resume against the resident assemblies
            val groups = Ann.groupSegTask(idxIt, path, tok, segToks, p, None, 1, 1, liveConst)
              .map(g => g.segId -> g).toMap
            curIt.toArray.groupBy(_._1).iterator.flatMap { case (segId, curs) =>
              val sg = groups.getOrElse(segId, throw new IllegalStateException(
                s"session cursor for segment $segId found no index rows — " +
                  s"index at $path changed under the open session"))
              val seg = new Ann.SegView(sg, adcB, resAdcB, mc, tabs)
              val g = seg.graph
              curs.iterator.flatMap { c =>
                seg.approx(c._2, c._3) match {
                  case Some(approx) =>
                    // resume on the SAME approx scorer the cursor was
                    // exported from (packed heap scores stay on one
                    // scale), exact-rerank the new candidates
                    val st = g.importCursorScored(approx, seg.accept, c._4, c._5, c._6, c._7)
                    val exact = g.exactScorer(c._3)
                    emit(segId, c._2, c._3, g, seg.ids, st,
                      g.resume(st, pageCands, math.max(ef, pageCands))
                        .map { case (l, _) => (l, exact(l)) })
                  case None =>
                    val st = g.importCursor(c._3, seg.accept, c._4, c._5, c._6, c._7)
                    emit(segId, c._2, c._3, g, seg.ids, st, g.resume(st, k, ef))
                }
              }
            }
          }
      }

      // BIG sessions (decided at open from cursor rows x page candidates,
      // no counting job) keep the page/pool split DISTRIBUTED: the
      // driver-side split below collects candidate triples bounded by
      // cursors x pageCands, which a 10^5-query session would turn into a
      // driver memory hazard.
      val bigSession = cur.fold(cursorRows * math.max(k, pageCands) > BigSessionRows)(_.big)
      val next = Generation(state, cur.fold(1)(_.n + 1),
        cur.fold(java.util.UUID.randomUUID().toString)(_.session), tok, twoPhase, bigSession)
      // leftovers of an attempt at this page that died before its flip
      fs.delete(next.dir, true)
      val outBase = spark.createDataset(outRdd)
        .toDF("seg", "kind", "qid", "qvec", "visited", "returned", "frontier",
          "evicted", "node_id", "score")
      // materialize ONCE in memory (localCheckpoint beats any write-then-
      // read-back scheme here — measured: a partitionBy("kind") parquet
      // round-trip for the same purpose cost +0.4s/page at 1M x 64), then
      // the cursors write streams from the checkpointed blocks and OVERLAPS
      // the page/pool split below.
      //
      // BIG sessions invert that trade: their durable cursor state runs to
      // GBs (10^5 queries x ~8 probed segments x ~8 KB of bitset/heap blobs
      // per cursor — 6.5-8.4 GB measured at 1M x 64, NOTES_r14 §4), so
      // holding the page's out relation in block-manager MEMORY doubled the
      // footprint and OOMed a 16 GB driver. Their materialization is a
      // STREAMING parquet write partitioned by kind: blobs flow from the
      // search tasks to disk without ever being resident all at once, the
      // kind=1 partition IS the generation's cursors (no second write of
      // the blobs), and the page/pool split reads the small kind=0 rows.
      val out =
        if (!bigSession) outBase.localCheckpoint(true)
        else {
          val outDir = new HPath(next.dir, "out").toString
          outBase.write.partitionBy("kind").parquet(outDir)
          spark.read.option("basePath", outDir).parquet(outDir)
        }
      // small sessions write the cursors from the checkpointed blocks
      // (coalesce(8): cursor state is a few MB and the commit protocol's
      // per-file renames were the cost), overlapped with the split
      val cursorsWritten = if (bigSession) None else Some(writer.submit(new Runnable {
        def run(): Unit =
          out.filter(col("kind") === 1).select(CursorSchema.fieldNames.map(col).toSeq: _*)
            .coalesce(8).write.parquet(next.cursors.toString)
      }))
      val produced = out.filter(col("kind") === 0)
        .select(col("qid").cast("long"), col("node_id").cast("long").as("nid"),
          col("score").cast("double"))
      // pooled candidates were scored on an EARLIER page: re-filter against
      // the CURRENT tombstones (the fresh rows were live-filtered in-task,
      // but the pool predates deletes added between pages), executor-side,
      // so what reaches the driver is bounded by the candidates, not by the
      // deletion count. The new pool inherits the filter.
      def carried: DataFrame = cur.fold(
        spark.emptyDataset[(Long, Long, Double)].toDF("qid", "nid", "score"))(c =>
        spark.read.schema(PoolSchema).parquet(c.pool.toString)
          .filter(col("rank") === 0).select(col("qid"), col("nid"), col("score")))

      val (page, poolRows, nextBig) =
        if (bigSession) {
          // distributed split (one grouped shuffle pass, pool dir = the
          // whole split relation): candidates never land on the driver
          Ann.dropDeleted(produced.unionByName(carried), deletes)
            .as[(Long, Long, Double)]
            .groupByKey(_._1)
            .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double)]) =>
              val rows = it.toArray.sortBy { case (_, nid, s) => (-s, nid) }
              rows.iterator.zipWithIndex.map { case ((_, nid, s), i) =>
                (qid, if (i < k) i + 1 else 0, nid, s)
              }
            }
            .toDF("qid", "rank", "nid", "score")
            .write.parquet(next.pool.toString)
          // localCheckpoint: the next page deletes this generation, and a
          // lazy read of a path a reopened session writes again would
          // canonicalize to the same plan, which Spark's CacheManager could
          // serve from a user's cached page
          (spark.read.schema(PoolSchema).parquet(next.pool.toString)
            .filter(col("rank") > 0).localCheckpoint(true), null, true)
        } else {
          // The page/pool SPLIT runs on the DRIVER: candidates are (qid,
          // nid, score) triples bounded by queries x probed segments x
          // pageCands plus the carried pool — the same order as the query
          // batch this route already collects (the cursor blobs never leave
          // the executors). A distributed groupByKey split measured
          // 0.4-0.5s/page at 1M x 64 in pure shuffle+commit fixed costs for
          // ~0.2 MB of data. Ordering contract: score desc, nid asc
          // (TopK.udf). Without deletes, this driver's pool memo replaces
          // the pool read.
          val candRows: Array[(Long, Long, Double)] = (poolMemo, deletes) match {
            case (Some(cached), None) => produced.as[(Long, Long, Double)].collect() ++ cached
            case _ =>
              Ann.dropDeleted(produced.unionByName(carried), deletes)
                .as[(Long, Long, Double)].collect()
          }
          val pageBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
          val poolBuf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          candRows.groupBy(_._1).foreach { case (qid, rows) =>
            val sorted = rows.sortBy { case (_, nid, s) => (-s, nid) }
            var i = 0
            while (i < sorted.length) {
              val (_, nid, s) = sorted(i)
              if (i < k) pageBuf += ((qid, i + 1, nid, s))
              else poolBuf += ((qid, nid, s))
              i += 1
            }
          }
          // the pool file is written DRIVER-side: the rows are already
          // local, and even a single-task Spark job for this ~sub-MB file
          // measured 0.2s/page in launch+commit fixed costs
          writePoolParquet(fs.getConf, new HPath(next.pool, "part-00000.parquet"), poolBuf)
          // the page sorted (qid, rank) for a deterministic, lineage-free
          // return; the bound is re-checked per page because the carried
          // pool grows: past it, the next page takes the distributed split
          (spark.createDataset(pageBuf.sortBy(t => (t._1, t._2)).toIndexedSeq)
            .toDF("qid", "rank", "nid", "score"), poolBuf.toArray,
            candRows.length > BigSessionRows)
        }
      cursorsWritten.foreach(_.get())
      val committed = next.copy(big = nextBig)
      Ann.writeSmall(fs, new HPath(committed.dir, "_meta"), committed.meta)
      Ann.writeSmall(fs, new HPath(state, "_current"), committed.pointer) // the commit point
      if (poolRows == null) SessMemoCache.remove(statePath)
      else SessMemoCache.put(statePath, SessMemo(committed, poolRows))
      // the page is committed: a generation this delete leaves behind is
      // deleted by the next page
      try fs.listStatus(state).map(_.getPath)
        .filter(g => g.getName.startsWith("gen=") && g.getName != committed.dir.getName)
        .foreach(fs.delete(_, true))
      catch { case scala.util.control.NonFatal(_) => }
      page.select(col("qid"), col("rank").cast("int"), col("nid"), col("score"))
    } finally {
      // a failed page still waits for its cursors write: nothing it
      // started may write into a generation after the call returns
      writer.shutdown()
      writer.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      savedBatch.foreach(_.fold(spark.conf.unset(batchKey))(spark.conf.set(batchKey, _)))
    }
  }
}

private[graft] object Sessions {

  /** One committed generation of a session's state: `gen=n/` under the
    * state dir, its `_meta`, and the session id the pointer carries (so a
    * driver's memo never matches a different session reopened at the same
    * path). The one place that records where a generation keeps its
    * cursors and its pool. */
  final case class Generation(state: HPath, n: Int, session: String, tok: String,
      twoPhase: Boolean, big: Boolean) {
    def dir: HPath = new HPath(state, s"gen=$n")
    /** The big path's streamed `out/kind=1` partition; the small path
      * writes the same location. */
    def cursors: HPath = new HPath(dir, "out/kind=1")
    def pool: HPath = new HPath(dir, "pool")
    /** The `_current` text that commits this generation. */
    def pointer: String = s"gen=$n $session"
    /** The `_meta` text. */
    def meta: String = s"tok=$tok\ntwo_phase=$twoPhase\nbig=$big\ngen=$n"
  }

  object Generation {
    /** The generation `pointer` (a `_current` text) names. */
    def read(fs: FileSystem, state: HPath, pointer: String): Generation = {
      val Array(dir, session) = pointer.split(" ", 2)
      val meta = Ann.readSmall(fs, new HPath(new HPath(state, dir), "_meta"))
        .getOrElse(throw new IllegalStateException(s"$state/$dir has no _meta"))
        .split("\n").map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      Generation(state, meta("gen").toInt, session, meta("tok"),
        meta("two_phase").toBoolean, meta("big").toBoolean)
    }
  }

  /** The cursor columns a page reads and a small page writes. */
  val CursorSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "seg string, qid bigint, qvec array<float>, visited binary, returned binary, " +
        "frontier array<bigint>, evicted array<bigint>")

  val PoolSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("qid bigint, rank int, nid bigint, score double")

  /** A page's materialized row: (seg, kind, qid, qvec, visited, returned,
    * frontier, evicted, node_id, score); kind 1 is a cursor, kind 0 a
    * candidate (node_id, score). */
  type OutRow = (String, Int, Long, Array[Float], Array[Byte], Array[Byte],
    Array[Long], Array[Long], Long, Double)

  /** One (query, segment) cursor row followed by its candidate rows. */
  def emit(segId: String, qid: Long, qv: Array[Float], g: Vamana,
      ids: Array[Long], st: Vamana.SearchState,
      found: Array[(Int, Double)]): Iterator[OutRow] = {
    val (vis, ret, fr, ev) = g.exportCursor(st)
    Iterator.single((segId, 1, qid, qv, vis, ret, fr, ev, 0L, 0.0)) ++
      found.iterator.map { case (l, s) =>
        (segId, 0, qid, null: Array[Float], null: Array[Byte],
          null: Array[Byte], null: Array[Long], null: Array[Long], ids(l), s)
      }
  }

  /** Write-through memo of the generation THIS driver committed at a
    * state path: its metadata and candidate-pool rows (never the cursor
    * blobs). Valid while `_current` still names that generation; a fresh
    * JVM misses it and reads the state dir — cross-JVM resume is the
    * session feature and stays fully disk-backed. Pool rows are bounded
    * by queries x probed segments x page candidates, the same order the
    * route already holds driver-side for its query batch. */
  final case class SessMemo(gen: Generation, pool: Array[(Long, Long, Double)])
  object SessMemoCache {
    /** Eviction budget is TOTAL POOL ROWS retained, not session count: a
      * boxed (Long, Long, Double) triple is ~110 bytes of driver heap
      * (Tuple3 + two boxed Longs + a boxed Double), so a row-blind
      * 64-session cap could retain 64 near-threshold pools — tens of GB.
      * 2M rows ≈ ~220 MB worst case; eviction is insertion-ordered and a
      * single over-budget pool is simply never memoized (the next page
      * reads the pool dir from disk — correctness is disk-backed always). */
    val MaxPoolRows: Long = 2000000L
    private val m = new java.util.LinkedHashMap[String, SessMemo]()
    def get(k: String): Option[SessMemo] = m.synchronized(Option(m.get(k)))
    def put(k: String, v: SessMemo): Unit = m.synchronized {
      m.remove(k)
      if (v.pool.length <= MaxPoolRows) {
        m.put(k, v)
        var total = 0L
        val vs = m.values.iterator()
        while (vs.hasNext) total += vs.next().pool.length.toLong
        val it = m.entrySet().iterator()
        while (total > MaxPoolRows && it.hasNext) {
          val e = it.next()
          if (e.getKey != k) { total -= e.getValue.pool.length; it.remove() }
        }
      }
    }
    def remove(k: String): Unit = m.synchronized { m.remove(k); () }
    def clear(): Unit = m.synchronized(m.clear())
  }

  /** seg -> RDD-partition map of a session's index layout (one tiny entry
    * per segment), memoized per (path + pin identity, build token): lets
    * session cursors partition themselves onto the index's ACTUAL layout
    * instead of forcing a per-page index shuffle. */
  val SegPartCache = new Ann.TokenKeyedMemo[Map[String, Int]]

  /** Driver-side parquet write of a small session's pool (rank 0 rows of
    * [[PoolSchema]]) via parquet-hadoop: no Spark job, the rows are
    * already local and tiny. */
  def writePoolParquet(conf: org.apache.hadoop.conf.Configuration, file: HPath,
      rows: scala.collection.Seq[(Long, Long, Double)]): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message pool { required int64 qid; required int32 rank; required int64 nid; " +
        "required double score; }")
    val c = new org.apache.hadoop.conf.Configuration(conf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, c)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(file)
      .withConf(c).withType(schema).build()
    try rows.foreach { case (q, n, s) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("qid", q); g.add("rank", 0); g.add("nid", n); g.add("score", s)
      w.write(g)
    } finally w.close()
  }
}
