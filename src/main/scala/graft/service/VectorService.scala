package graft.service

import graft.index.Ann
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's service lifecycle (`jvector-examples/.../IPCService.java:
  * 85-93`: `CREATE <dim> <sim> <M> <ef>`, `WRITE [vec]…`, `BULKLOAD path`,
  * `OPTIMIZE`, `SEARCH <ef> <limit> [vec]…`, `MEMORY`) re-expressed as a
  * catalog of named vector indexes over parquet storage — the public API a
  * reference user would reach for first.
  *
  * Storage layout per index (everything under `root/<name>/`):
  * {{{
  *   _meta            params (metric/M/beam/pq/nvq), written at CREATE
  *   _current         pointer to the serving generation ("gen=K")
  *   pending/         WRITE/BULKLOAD appends, not yet searchable
  *   deletes/         tombstoned ids (merge-on-read at SEARCH)
  *   gen=K/batch=N/   immutable index segments (Ann.buildIndex output)
  * }}}
  *
  * OPTIMIZE flushes `pending/` as a new batch under the serving generation
  * (incremental build, B9) and — with `compactNow` — folds all batches and
  * tombstones into a fresh generation (B10 compaction; PQ retrain included
  * via [[Ann.compact]]). Generations are immutable: a new one is written
  * COMPLETELY before `_current` flips, so concurrent readers never observe
  * a half-built index, and stale-cache invalidation rides on the `_build_id`
  * token `Ann.buildIndex` already writes.
  */
class VectorService(spark: SparkSession, root: String) {

  import VectorService.Meta

  private def dir(name: String, part: String = "") =
    s"$root/$name${if (part.isEmpty) "" else s"/$part"}"

  /** Resolved once: every `_meta`, `_current` and glob read would
    * otherwise copy the session's Hadoop conf. */
  private lazy val fs: FileSystem =
    new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def meta(name: String): Meta = {
    val s = Ann.readSmall(fs, new HPath(dir(name, "_meta")))
      .getOrElse(throw new IllegalStateException(s"index '$name' does not exist (CREATE first)"))
    Meta.parse(s)
  }

  private def currentGen(name: String): Option[String] =
    Ann.readSmall(fs, new HPath(dir(name, "_current")))

  private def hasData(path: String): Boolean = {
    val p = new HPath(path)
    fs.exists(p) && fs.globStatus(new HPath(s"$path/*.parquet")).nonEmpty
  }

  /** CREATE: register an index with its build/search parameters.
    * `segmentRows` is the serving-shape knob: target rows per segment for
    * incremental builds AND the k-means cell size OPTIMIZE CLUSTER
    * targets. */
  def create(
      name: String,
      metric: String = "COSINE",
      maxDegree: Int = 32,
      beamWidth: Int = 100,
      pqM: Int = 0,
      nvqBits: Int = 0,
      segmentRows: Int = 8192): Unit = {
    require(!fs.exists(new HPath(dir(name, "_meta"))), s"index '$name' already exists")
    Ann.writeSmall(fs, new HPath(dir(name, "_meta")),
      Meta(metric, maxDegree, beamWidth, pqM, nvqBits, segmentRows).render)
  }

  /** WRITE: append (id, vec) rows; searchable after the next OPTIMIZE. */
  def write(name: String, rows: DataFrame, idCol: String = "id", vecCol: String = "vec"): Unit = {
    meta(name) // existence check
    rows.select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("vec"))
      .write.mode("append").parquet(dir(name, "pending"))
  }

  /** BULKLOAD: ingest a parquet or fvecs file (by extension). */
  def bulkLoad(name: String, path: String, idCol: String = "id", vecCol: String = "vec"): Unit = {
    val df =
      if (path.endsWith(".fvecs")) spark.read.format("fvecs").load(path)
      else spark.read.parquet(path)
    write(name, df, idCol, vecCol)
  }

  /** DELETE: tombstone ids — excluded from SEARCH immediately
    * (merge-on-read), physically removed by OPTIMIZE(compactNow). */
  def delete(name: String, ids: DataFrame, idCol: String = "id"): Unit = {
    meta(name)
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("append").parquet(dir(name, "deletes"))
  }

  /** The pending parquet files at a point in time. Flushes operate on a
    * SNAPSHOT of this list (never "the directory"): rows written
    * concurrently with an OPTIMIZE land as new files outside the snapshot
    * and flush on the next OPTIMIZE instead of being deleted unseen. */
  private def pendingFiles(name: String): Array[org.apache.hadoop.fs.FileStatus] =
    Option(fs.globStatus(new HPath(s"${dir(name, "pending")}/*.parquet")))
      .getOrElse(Array.empty)

  /** Identity of one pending file (name + length) as recorded in a
    * batch's `_flushed_files` — the per-FILE idempotency unit: a crash
    * between batch commit and pending cleanup re-runs as cleanup of
    * exactly the recorded files, and files that arrived after the
    * snapshot are never mistaken for flushed ones. */
  private def fileKey(f: org.apache.hadoop.fs.FileStatus): String =
    s"${f.getPath.getName}:${f.getLen}"

  /** Remove a snapshot-cleaned directory once only commit markers
    * (_SUCCESS, .crc) remain. Anything else — a concurrent write's data
    * file or in-flight `_temporary/` — keeps the directory alive; the
    * next OPTIMIZE retries. */
  private def dropIfOnlyMarkers(path: String): Unit = {
    val p = new HPath(path)
    if (!fs.exists(p)) return
    val remaining = Option(fs.listStatus(p)).getOrElse(Array.empty)
    def isMarker(n: String) = n == "_SUCCESS" || n.endsWith(".crc")
    if (remaining.forall(st => st.isFile && isMarker(st.getPath.getName)))
      fs.delete(p, true)
  }

  private def flushedFileKeys(genDir: String): Set[String] =
    Option(fs.globStatus(new HPath(s"$genDir/batch=*/_flushed_files")))
      .getOrElse(Array.empty)
      .flatMap(st => Ann.readSmall(fs, st.getPath).toSeq
        .flatMap(_.split("\n")).filter(_.nonEmpty))
      .toSet

  /** Exclusive OPTIMIZE lease via atomic create-if-absent of a lock file.
    * A crashed writer's lock is broken once older than `leaseMs`. This is
    * a best-effort single-writer guard (the strongest available on a bare
    * filesystem without a coordination service): concurrent OPTIMIZEs on
    * the same index fail fast instead of both building the same batch or
    * generation. */
  private def acquireOptimizeLock(name: String, leaseMs: Long): HPath = {
    val lock = new HPath(dir(name, "_optimize_lock"))
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false) // atomic create-if-absent
        try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val stale =
        try Ann.readSmall(fs, lock).map(_.toLong)
          .forall(ts => System.currentTimeMillis() - ts > leaseMs)
        catch { case _: Exception => true }
      if (!stale)
        throw new IllegalStateException(
          s"another OPTIMIZE is running on '$name' (lock ${lock}; " +
            s"stale after ${leaseMs / 1000}s)")
      fs.delete(lock, false)
      if (!tryCreate())
        throw new IllegalStateException(
          s"another OPTIMIZE is running on '$name' (lost the lock race after lease break)")
    }
    lock
  }

  /** OPTIMIZE: make pending writes searchable (new immutable batch under
    * the serving generation); with `compactNow`, fold all batches and
    * tombstones into a fresh generation and flip the pointer.
    *
    * Crash-safety + concurrency: the flush operates on a SNAPSHOT of the
    * pending file list — built in `_staging/`, committed with one atomic
    * rename, the batch recording the exact files it ingested
    * (`_flushed_files`), and cleanup deleting only those files. So a
    * crash anywhere between commit and cleanup re-runs as cleanup (never
    * duplicate ids), rows written concurrently with the OPTIMIZE are
    * untouched and flush next time, and `_current` is written before
    * cleanup so a committed first batch is always discoverable.
    * Compaction snapshots the tombstone FILES the same way (concurrent
    * DELETEs stay active and fold into the next compaction); its commit
    * point is the `_current` flip — un-flipped next-generation leftovers
    * from a crash are deleted and rebuilt. Single-writer via
    * [[acquireOptimizeLock]]. */
  def optimize(name: String, compactNow: Boolean = false,
      lockLeaseMs: Long = 10 * 60 * 1000L,
      /** Full re-clustering compaction ([[Ann.compact]] mode "cluster"):
        * rebuilds the live rows with k-means cell = segment and marks the
        * new generation `_clustered`, flipping SEARCH from exhaustive to
        * ~sqrt(segments) AutoProbe routing. Implies compaction. Unlike
        * merge compaction this pays a corpus-shaped build — the price of
        * making every subsequent query sublinear in segments. */
      cluster: Boolean = false): Option[Ann.CompactStats] = {
    val m = meta(name)
    val params = m.params
    val lock = acquireOptimizeLock(name, lockLeaseMs)
    try {
      val gen = currentGen(name).getOrElse("gen=0")
      val genDir = dir(name, gen)
      // orphaned staging dirs from a crashed writer are garbage (their
      // batch never got renamed in) — safe to GC under the lock
      fs.delete(new HPath(dir(name, "_staging")), true)

      val snapshot = pendingFiles(name)
      if (snapshot.nonEmpty) {
        val flushed = flushedFileKeys(genDir)
        val leftovers = snapshot.filter(f => flushed.contains(fileKey(f)))
        val fresh = snapshot.filterNot(f => flushed.contains(fileKey(f)))
        if (fresh.nonEmpty) {
          val staging = dir(name, s"_staging/${java.util.UUID.randomUUID()}")
          val freshDf = spark.read.parquet(fresh.map(_.getPath.toString).toIndexedSeq: _*)
          // A clustered generation accepts flushes WITHOUT losing
          // routability: the batch is built cell-ALIGNED to the serving
          // tree's `_cells` model (one segment per existing cell,
          // Ann.buildIndexAlignedTo), so its centroids stay informative
          // and AutoProbe keeps routing across appends — a streaming tree
          // no longer ping-pongs between regimes on every flush. Demotion
          // now happens only when (a) the tree predates the `_cells`
          // sidecar, or (b) the new rows DRIFTED: their mean assignment
          // distance exceeds MaxAlignDrift x the build-corpus baseline —
          // rows that far from every old centroid make any partitioning
          // of them uninformative, so exhaustive serving is the honest
          // regime until the next OPTIMIZE CLUSTER re-clusters.
          val clusteredServing = fs.exists(new HPath(s"$genDir/_clustered"))
          val aligned: Boolean =
            if (clusteredServing) {
              Ann.loadCells(spark, genDir) match {
                case Some(cells) =>
                  val drift = Ann.buildIndexAlignedTo(freshDf, staging, params, cells, "id", "vec")
                  drift <= VectorService.MaxAlignDrift
                case None =>
                  Ann.buildIndex(freshDf, staging, params, "id", "vec"); false
              }
            } else { Ann.buildIndex(freshDf, staging, params, "id", "vec"); false }
          // an UNALIGNED batch demotes, and the marker drops BEFORE the
          // batch commit: (a) crash safety — a crash after the delete
          // leaves a fully-clustered tree temporarily unmarked
          // (exhaustive = conservative), while the reverse order leaves a
          // MIXED tree marked routable, and the re-run would skip the
          // delete because the leftover batch makes `fresh` empty;
          // (b) marker-memo coherence — a concurrent search that reads
          // the marker at the pre-commit build token caches a verdict
          // that is CORRECT for that token; the commit changes the token,
          // so post-commit searches re-check and see the marker gone.
          // Leftovers need no demotion pass of their own: a crashed run
          // that committed an unaligned batch already dropped the marker
          // pre-commit, and one that committed an aligned batch rightly
          // kept it.
          if (clusteredServing && !aligned)
            fs.delete(new HPath(s"$genDir/_clustered"), false)
          Ann.writeSmall(fs, new HPath(s"$staging/_flushed_files"),
            fresh.map(fileKey).sorted.mkString("\n"))
          val nextBatch = Option(fs.globStatus(new HPath(s"$genDir/batch=*")))
            .map(_.length).getOrElse(0)
          fs.mkdirs(new HPath(genDir))
          val target = new HPath(s"$genDir/batch=$nextBatch")
          if (!fs.rename(new HPath(staging), target))
            throw new IllegalStateException(s"batch commit failed: $staging -> $target")
        }
        // _current BEFORE cleanup: a crash between them leaves flushed
        // leftovers (cleaned next run) — never a committed batch that no
        // re-run would ever make searchable
        if (currentGen(name).isEmpty) Ann.writeSmall(fs, new HPath(dir(name, "_current")), gen)
        // delete exactly the snapshot (fresh now flushed, leftovers were):
        // files a concurrent write() added since are NOT touched. The
        // now-empty dir goes too — via NON-recursive delete, which fails
        // harmlessly if a concurrent write landed a file in the meantime
        (leftovers ++ fresh).foreach(f => fs.delete(f.getPath, false))
        dropIfOnlyMarkers(dir(name, "pending"))
        Ann.invalidateSegmentCounts(s"$genDir/*")
      }

      if (!((compactNow || cluster) && currentGen(name).isDefined)) None
      else {
        val cur = currentGen(name).get
        val curN = cur.stripPrefix("gen=").toInt
        val nextGen = s"gen=${curN + 1}"
        // tombstones are snapshotted as a FILE LIST: ids deleted while the
        // (long) compact job runs land as new files outside the snapshot,
        // stay merge-on-read active, and fold into the NEXT compaction —
        // deleting the whole directory would silently resurrect them
        val delFiles = Option(fs.globStatus(
            new HPath(s"${dir(name, "deletes")}/*.parquet")))
          .getOrElse(Array.empty).map(_.getPath)
        val deletes =
          if (delFiles.nonEmpty)
            Some(spark.read.parquet(delFiles.map(_.toString).toIndexedSeq: _*))
          else None
        // a crashed compaction's un-flipped generation is garbage: the
        // pointer never moved, so rebuild it from scratch
        fs.delete(new HPath(dir(name, nextGen)), true)
        val stats = Ann.compact(spark, s"${dir(name, cur)}/*",
          s"${dir(name, nextGen)}/batch=0", params, deletes,
          mode = if (cluster) "cluster" else "merge")
        // the routable marker goes at the GENERATION level (the serving
        // glob's root, where [[search]]/[[memory]] look for it), and BEFORE
        // the `_current` flip so readers always see marker and tree
        // together. An all-tombstoned compaction yields a token-only empty
        // generation — nothing to route, so it is NOT marked (keeping the
        // marker's contract: marker present => segments are cell-aligned)
        if (cluster && Option(fs.globStatus(
            new HPath(s"${dir(name, nextGen)}/*/seg=*"))).exists(_.nonEmpty))
          Ann.writeSmall(fs, new HPath(s"${dir(name, nextGen)}/_clustered"), "clustered")
        Ann.writeSmall(fs, new HPath(dir(name, "_current")), nextGen) // readers flip atomically
        delFiles.foreach(p => fs.delete(p, false))
        dropIfOnlyMarkers(dir(name, "deletes"))
        // read-grace GC: a reader that resolved `_current` just before the
        // flip may still be scanning gen=K, so K survives one compaction and
        // is reclaimed at the K+1 -> K+2 flip (generations are immutable, so
        // the stale read is consistent, just pre-compaction)
        // each generation serves from its own path, so its memoized record
        // in Ann would outlive it: drop the record with the files
        if (curN > 0) {
          fs.delete(new HPath(dir(name, s"gen=${curN - 1}")), true)
          Ann.invalidateSegmentCounts(dir(name, s"gen=${curN - 1}"))
        }
        Ann.invalidateSegmentCounts(s"${dir(name, nextGen)}/*")
        Some(stats)
      }
    } finally fs.delete(lock, false)
  }

  /** SEARCH: top-`limit` over the serving generation; tombstones are
    * excluded merge-on-read. Queries: (qid, qvec).
    *
    * Serving regime: the search runs under [[Ann.AutoProbe]] — on a
    * routable tree (`_clustered` marker) it probes ~sqrt(segments) by
    * centroid; incrementally-built generations are arrival-partitioned
    * (no marker), so SEARCH on them runs EXHAUSTIVE by design — centroid
    * routing over uninformative centroids would silently drop recall.
    * `optimize(cluster = true)` promotes the tree to the routed regime
    * (k-means cell = segment); subsequent incremental flushes build
    * cell-ALIGNED batches and KEEP it routable, demoting only when the
    * flushed rows drift past [[VectorService.MaxAlignDrift]] x the build
    * baseline (or on a merge compaction, which re-packs segments across
    * cells). [[memory]] reports the regime (`segments` / `routable` rows)
    * so operators can see which one they're in.
    *
    * `ef` — the serving-time QUALITY lever (the reference's
    * `SEARCH <searchEf> ...`, `IPCService.java:85-93`): beam width per
    * probed segment. Wider beams buy recall at ZERO build cost and, on
    * routed trees, near-flat batch cost (the beam is a minority of the
    * job at serving batch shapes). Default 64 is the throughput point;
    * **ef = 256 is the recommended quality setting on routed clustered
    * trees** — measured at 4M x 64 segments: deg32 + ef256 reaches
    * 0.952 recall_abs, dominating a deg64 BUILD (0.942 at 2.2x the
    * build cost). Gated: `svc_cluster_ef256_recall_ge_ef64`. */
  def search(name: String, queries: DataFrame, limit: Int, ef: Int = 64): DataFrame = {
    val m = meta(name)
    val gen = currentGen(name)
      .getOrElse(throw new IllegalStateException(s"index '$name' has no data (OPTIMIZE first)"))
    // read with the schema [[delete]] writes: no schema-inference job
    val deletes =
      if (hasData(dir(name, "deletes")))
        Some(spark.read.schema(VectorService.DeletesSchema).parquet(dir(name, "deletes")))
      else None
    // an all-tombstoned compaction leaves a token-only empty generation
    // (no parquet to infer a schema from): zero results, not an error
    val hasSegments = Option(fs.globStatus(
        new HPath(s"${dir(name, gen)}/*/seg=*"))).exists(_.nonEmpty)
    if (!hasSegments) {
      import spark.implicits._
      spark.emptyDataset[(Long, Int, Long, Double)].toDF("qid", "rank", "nid", "score")
    } else Ann.searchIndex(spark, s"${dir(name, gen)}/*", queries, limit, ef, m.params,
      deletes = deletes, rerankK = if (m.pqM > 0) math.max(4 * limit, limit) else 0)
  }

  /** MEMORY: storage accounting per component (the reference reports
    * `ramBytesUsed`; segments live in storage here, so bytes are file
    * sizes — metadata-only, no data scan). */
  def memory(name: String): DataFrame = {
    import spark.implicits._
    meta(name)
    def usage(part: String): (String, Long, Long) = {
      val p = new HPath(dir(name, part))
      if (!fs.exists(p)) (part, 0L, 0L)
      else {
        val it = fs.listFiles(p, true) // recursive
        var files = 0L; var bytes = 0L
        while (it.hasNext) { val f = it.next(); files += 1; bytes += f.getLen }
        (part, files, bytes)
      }
    }
    val curGen = currentGen(name) // resolved ONCE: a concurrent compaction
    // flip between two reads would mix one generation's footprint with
    // another's regime rows
    val gen = curGen.toSeq.map(usage)
    // serving-regime visibility (metadata-only): segment count of the
    // serving generation, and whether the tree is routable (`_clustered`
    // marker at the search root — the exact condition AutoProbe routing
    // checks). Service-built trees are arrival-partitioned and report
    // routable=0: SEARCH on them runs exhaustive BY DESIGN (centroid
    // routing on uninformative centroids would silently drop recall);
    // operators read this row to know which serving regime they're in.
    val regime: Seq[(String, Long, Long)] = curGen.toSeq.flatMap { g =>
      val segs = Option(fs.globStatus(new HPath(s"${dir(name, g)}/*/seg=*")))
        .map(_.length.toLong).getOrElse(0L)
      val routable = fs.exists(new HPath(s"${dir(name, g)}/_clustered"))
      Seq(("segments", segs, 0L), ("routable", if (routable) 1L else 0L, 0L))
    }
    (gen ++ Seq(usage("pending"), usage("deletes")) ++ regime)
      .toDF("component", "files", "bytes")
  }
}

object VectorService {

  /** Drift bound for cell-aligned flushes: a flushed batch whose mean
    * assignment distance exceeds this multiple of the clustered build's
    * baseline demotes the generation to exhaustive serving (the old cells
    * no longer describe the new rows). 2x tolerates ordinary variation
    * (same-distribution appends land near 1.0) while catching a genuine
    * distribution shift. */
  val MaxAlignDrift: Double = 2.0

  /** The schema of `deletes/`, as [[VectorService.delete]] writes it. */
  private val DeletesSchema = "id LONG"

  private[service] case class Meta(
      metric: String, maxDegree: Int, beamWidth: Int, pqM: Int, nvqBits: Int,
      segmentRows: Int = 8192) {
    def render: String = s"$metric,$maxDegree,$beamWidth,$pqM,$nvqBits,$segmentRows"
    def params: Ann.Params = Ann.Params(metric = metric, maxDegree = maxDegree,
      beamWidth = beamWidth, pqM = pqM, nvqBits = nvqBits, segmentRows = segmentRows)
  }

  private[service] object Meta {
    /** Pre-segmentRows metas (5 fields) parse with the historical default. */
    def parse(s: String): Meta = {
      val a = s.split(",")
      Meta(a(0), a(1).toInt, a(2).toInt, a(3).toInt, a(4).toInt,
        if (a.length > 5) a(5).toInt else 8192)
    }
  }
}
