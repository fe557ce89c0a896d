package graft

import graft.operators.KnnExact
import graft.service.VectorService
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class VectorServiceSpec extends SparkSpec {
  import spark.implicits._

  private def randVectors(n: Int, dim: Int, seed: Long, idFrom: Long = 0L) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (idFrom + i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
  }

  private def recallOf(got: DataFrame, want: DataFrame): Double = {
    val g = got.select("qid", "nid").as[(Long, Long)].collect().toSet
    val w = want.select("qid", "nid").as[(Long, Long)].collect().toSet
    g.intersect(w).size.toDouble / w.size
  }

  test("service lifecycle: create -> write -> optimize -> search -> delete -> compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_svc").toString
    val svc = new VectorService(spark, root)
    svc.create("t", metric = "COSINE", maxDegree = 16, beamWidth = 64)
    intercept[IllegalArgumentException](svc.create("t")) // double CREATE

    // two WRITE batches, then OPTIMIZE makes them searchable
    val b1 = randVectors(600, 16, seed = 1).toDF("id", "vec")
    val b2 = randVectors(400, 16, seed = 2, idFrom = 600).toDF("id", "vec")
    svc.write("t", b1)
    svc.write("t", b2)
    intercept[IllegalStateException](
      svc.search("t", randVectors(1, 16, 3).toDF("qid", "qvec"), 5))
    svc.optimize("t")

    val all = b1.union(b2).cache()
    val queries = all.filter($"id" < 5).select($"id".as("qid"), $"vec".as("qvec")).cache()
    val got = svc.search("t", queries, limit = 10)
    val want = KnnExact.knn(all, queries, 10, "COSINE")
    assert(recallOf(got, want) >= 0.9)

    // incremental WRITE + OPTIMIZE: new rows become visible
    val b3 = randVectors(200, 16, seed = 4, idFrom = 1000).toDF("id", "vec")
    svc.write("t", b3)
    svc.optimize("t")
    val all2 = all.union(b3).cache()
    val got2 = svc.search("t", queries, limit = 10)
    val want2 = KnnExact.knn(all2, queries, 10, "COSINE")
    assert(recallOf(got2, want2) >= 0.9)

    // DELETE is merge-on-read: tombstoned ids vanish without a rebuild
    val victims = got2.select($"nid".as("id")).limit(3).cache()
    val victimSet = victims.as[Long].collect().toSet
    svc.delete("t", victims)
    val got3 = svc.search("t", queries, limit = 10)
    assert(got3.filter($"nid".isin(victimSet.toSeq: _*)).count() === 0)

    // OPTIMIZE(compactNow): one generation, tombstones folded in physically
    svc.optimize("t", compactNow = true)
    val got4 = svc.search("t", queries, limit = 10)
    assert(got4.filter($"nid".isin(victimSet.toSeq: _*)).count() === 0)
    val wantLive = KnnExact.knn(all2.filter(!$"id".isin(victimSet.toSeq: _*)), queries, 10, "COSINE")
    assert(recallOf(got4, wantLive) >= 0.9)
    // new generation serves; gen=0 survives one flip as the read-grace
    // window (in-flight readers of the pre-flip pointer), reclaimed at the
    // NEXT compaction
    assert(new java.io.File(s"$root/t/gen=1").exists())
    assert(new java.io.File(s"$root/t/gen=0").exists())
    svc.optimize("t", compactNow = true) // gen=1 -> gen=2 reclaims gen=0
    assert(!new java.io.File(s"$root/t/gen=0").exists())
    assert(new java.io.File(s"$root/t/gen=1").exists(), "grace window for gen=1")
    assert(new java.io.File(s"$root/t/gen=2").exists())

    // MEMORY: storage accounting reports the serving generation's footprint
    val mem = svc.memory("t").as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(mem("gen=2")._3 > 0, s"expected bytes in gen=2: ${mem.toSeq}")
    assert(mem("pending")._2 === 0)
    assert(mem("deletes")._2 === 0)
    // the second compaction had no tombstones: results unchanged
    val got5 = svc.search("t", queries, limit = 10)
    assert(recallOf(got5, wantLive) >= 0.9)
  }

  test("OPTIMIZE is crash-safe: replayed pending after a batch commit is not re-ingested") {
    val root = java.nio.file.Files.createTempDirectory("graft_svc_crash").toString
    val svc = new VectorService(spark, root)
    svc.create("c", metric = "COSINE", maxDegree = 16, beamWidth = 64)
    svc.write("c", randVectors(500, 8, seed = 9).toDF("id", "vec"))
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val pending = new org.apache.hadoop.fs.Path(s"$root/c/pending")
    val backup = new org.apache.hadoop.fs.Path(s"$root/c_pending_backup")
    // snapshot pending/ — the crash scenario is "batch commit landed but
    // the pending cleanup never ran", i.e. pending reappears verbatim
    org.apache.hadoop.fs.FileUtil.copy(fs, pending, fs, backup, false, conf)
    svc.optimize("c")
    def batches() =
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/c/gen=0/batch=*")).length
    assert(batches() === 1)
    org.apache.hadoop.fs.FileUtil.copy(fs, backup, fs, pending, false, conf)
    svc.optimize("c")
    assert(batches() === 1, "replayed pending must not become a duplicate batch")
    assert(!fs.exists(pending), "replay OPTIMIZE must still clear pending/")
    val res = svc.search("c", randVectors(3, 8, seed = 10).toDF("qid", "qvec"), limit = 20)
    assert(res.groupBy("qid", "nid").count().filter($"count" > 1).count() === 0,
      "no id may be served twice")
    // genuinely NEW writes still flush as a new batch
    svc.write("c", randVectors(100, 8, seed = 12, idFrom = 500).toDF("id", "vec"))
    svc.optimize("c")
    assert(batches() === 2)

    // the MIXED window: already-flushed files reappear (crash replay)
    // ALONGSIDE a fresh write in the same pending/ — only the fresh files
    // may ingest; the replayed ones are recognized per-file and cleaned
    org.apache.hadoop.fs.FileUtil.copy(fs, backup, fs, pending, false, conf)
    svc.write("c", randVectors(50, 8, seed = 13, idFrom = 600).toDF("id", "vec"))
    svc.optimize("c")
    assert(batches() === 3, "exactly one new batch from the fresh files")
    assert(!fs.exists(pending))
    val res2 = svc.search("c", randVectors(3, 8, seed = 10).toDF("qid", "qvec"), limit = 50)
    assert(res2.groupBy("qid", "nid").count().filter($"count" > 1).count() === 0,
      "replayed files must not re-ingest duplicate ids")
  }

  test("OPTIMIZE is single-writer: a live lock rejects a second run, a stale one is broken") {
    val root = java.nio.file.Files.createTempDirectory("graft_svc_lock").toString
    val svc = new VectorService(spark, root)
    svc.create("l", metric = "COSINE", maxDegree = 8, beamWidth = 32)
    svc.write("l", randVectors(100, 8, seed = 11).toDF("id", "vec"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new org.apache.hadoop.fs.Path(s"$root/l/_optimize_lock")
    val out = fs.create(lock, false)
    out.write(System.currentTimeMillis().toString.getBytes("UTF-8")); out.close()
    intercept[IllegalStateException](svc.optimize("l"))
    // a crashed writer's stale lease is broken and OPTIMIZE proceeds
    fs.delete(lock, false)
    val out2 = fs.create(lock, false)
    out2.write("1000".getBytes("UTF-8")); out2.close() // ancient timestamp
    svc.optimize("l")
    assert(!fs.exists(lock), "lock must be released after OPTIMIZE")
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/l/gen=0/batch=*")).length === 1)
  }

  test("bulkLoad ingests fvecs through the V2 source") {
    val root = java.nio.file.Files.createTempDirectory("graft_svc2").toString
    val tmp = java.nio.file.Files.createTempDirectory("svc_fvecs").toString
    val rnd = new scala.util.Random(7)
    val vecs = Array.fill(300)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    graft.sources.Fvecs.writeFvecs(s"$tmp/x.fvecs", vecs.iterator)

    val svc = new VectorService(spark, root)
    svc.create("f", maxDegree = 8, beamWidth = 32)
    svc.bulkLoad("f", s"$tmp/x.fvecs")
    svc.optimize("f")
    val q = Seq((0L, vecs(42).toSeq)).toDF("qid", "qvec")
    val got = svc.search("f", q, limit = 1)
    assert(got.select("nid").as[Long].head() === 42L, "nearest neighbor of a base vector is itself")
  }

  test("optimize(cluster): routable; aligned flush keeps it; drifted flush demotes") {
    val root = java.nio.file.Files.createTempDirectory("graft_svc_cluster").toString
    val svc = new VectorService(spark, root)
    // segmentRows=600 => ~4 k-means cells on 2000 rows (matching the 4
    // planted centers): alignment and drift are exercised for real
    svc.create("c", metric = "COSINE", maxDegree = 16, beamWidth = 64, segmentRows = 600)

    // 4 separated clusters with enough spread that neighbors are
    // distinguishable (near-duplicate fixtures make top-10 near-tied and
    // cap ANY beam search's recall — that measures the fixture, not the
    // engine)
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + (rnd.nextFloat() * 2 - 1) * 0.5f))
    }.toDF("id", "vec")
    svc.write("c", rows)
    svc.optimize("c")

    def routable(): Long = svc.memory("c")
      .filter(col("component") === "routable").select("files").as[Long].head()
    assert(routable() === 0L, "incremental build must NOT be routable")

    val queries = rows.filter($"id" < 8).select($"id".as("qid"), $"vec".as("qvec")).cache()
    val want = KnnExact.knn(rows, queries, 10, "COSINE")

    // cluster-compaction: routable flips on, results stay correct
    val stats = svc.optimize("c", cluster = true)
    assert(stats.exists(_.mode == "cluster"))
    assert(routable() === 1L, "cluster-compaction must mark the generation routable")
    val got = svc.search("c", queries, limit = 10)
    assert(recallOf(got, want) >= 0.9, "routed serving lost recall vs exact")
    // regime parity on the SAME tree: AutoProbe (service default) vs
    // exhaustive — the ann_routed gate's contract, service edition
    locally {
      import graft.index.Ann
      val params = Ann.Params(metric = "COSINE", maxDegree = 16, beamWidth = 64,
        segmentRows = 600)
      val exh = Ann.searchIndex(spark, s"$root/c/gen=1/*", queries, 10, 64,
        params, probeSegments = 0)
      assert(recallOf(got, exh) >= 0.95, "routed must track exhaustive on its own tree")
    }

    // an IN-DISTRIBUTION flush builds a cell-ALIGNED batch: the tree stays
    // routable (no regime ping-pong) and the new rows are searchable
    val extra = (10000 until 10100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + (rnd.nextFloat() * 2 - 1) * 0.5f))
    }.toDF("id", "vec")
    svc.write("c", extra)
    svc.optimize("c")
    assert(routable() === 1L, "aligned flush must keep the tree routable")
    val all2 = rows.union(extra)
    val got2 = svc.search("c", queries, limit = 10)
    val want2 = KnnExact.knn(all2, queries, 10, "COSINE")
    assert(recallOf(got2, want2) >= 0.9)

    // a DRIFTED flush (shifted all-positive blob no old cell describes)
    // trips MaxAlignDrift and demotes the tree to exhaustive serving
    val drifted = (5000 until 5100).map(i =>
      (i.toLong, Seq.fill(16)(5f + rnd.nextFloat()))).toDF("id", "vec")
    svc.write("c", drifted)
    svc.optimize("c")
    assert(routable() === 0L, "drifted flush must demote to exhaustive serving")

    // cluster-compacting a fully-tombstoned tree writes the empty
    // footprint instead of crashing in k-means (merge mode's contract) —
    // and the empty generation is NOT marked routable (nothing to route)
    svc.delete("c", all2.select("id").union(drifted.select("id")))
    val emptyStats = svc.optimize("c", cluster = true)
    assert(emptyStats.exists(s => s.mode == "cluster" && s.visited == 0L))
    assert(svc.search("c", queries, limit = 10).count() === 0L)
    assert(routable() === 0L, "empty generation must not be marked routable")
  }

  test("compactions keep the driver's generation records flat") {
    // every compaction serves from a new gen=K path; a reclaimed
    // generation must take its memoized record with it
    val root = java.nio.file.Files.createTempDirectory("graft_svc_gens").toString
    val svc = new VectorService(spark, root)
    svc.create("g", maxDegree = 8, beamWidth = 32)
    svc.write("g", randVectors(300, 8, seed = 21).toDF("id", "vec"))
    svc.optimize("g")
    val q = randVectors(1, 8, seed = 22).toDF("qid", "qvec")
    assert(svc.search("g", q, limit = 5).count() === 5L)
    val counts = (1 to 5).map { _ =>
      svc.optimize("g", compactNow = true)
      assert(svc.search("g", q, limit = 5).count() === 5L)
      graft.index.Ann.treeGenCount
    }
    assert(counts.distinct.size === 1, s"records after each compaction: ${counts.mkString(",")}")
  }
}
