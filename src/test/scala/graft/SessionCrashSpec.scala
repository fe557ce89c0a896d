package graft

import graft.index.Ann
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A local file system under the `crash` scheme that models a process
  * death while a paged session commits a page: once armed with `n`, the
  * first `n` mutations (create, rename, delete of an existing path,
  * mkdirs) of a path directly under the state dir or under one of its
  * `gen=` dirs go through, and after them every mutation anywhere under
  * the state dir is refused. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crash:///")
  override def getScheme: String = "crash"

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    CrashFs.mutate(f); super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.mutate(src, dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (exists(p)) CrashFs.mutate(p)
    super.delete(p, recursive)
  }
  override def mkdirs(f: Path): Boolean = { CrashFs.mutate(f); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.mutate(f); super.mkdirs(f, permission)
  }
}

object CrashFs {
  private var state = "/nonexistent"
  private var allowed = Int.MaxValue
  private var seen = 0

  /** Count mutations under `stateDir` from zero and refuse all after the
    * `n`-th counted one; `Int.MaxValue` only counts. */
  def arm(stateDir: String, n: Int): Unit = synchronized {
    state = new Path(stateDir).toUri.getPath; allowed = n; seen = 0
  }

  /** Counted mutations since the last [[arm]]. */
  def counted: Int = synchronized(seen)

  private def mutate(paths: Path*): Unit = synchronized {
    val under = paths.map(_.toUri.getPath).filter(p => p == state || p.startsWith(state + "/"))
    if (under.nonEmpty) {
      if (seen >= allowed) throw new java.io.IOException(s"process died before mutating $under")
      val top = under.exists { p =>
        val parent = new Path(p).getParent
        parent.toUri.getPath == state ||
          (parent.getName.startsWith("gen=") && parent.getParent.toUri.getPath == state)
      }
      if (top) seen += 1
    }
  }
}

/** A process that dies at any point of a page leaves a session that
  * resumes: the next call returns the interrupted page or the one after
  * it, equal to the uninterrupted run's page of that number (and so does
  * the page after an interrupted open), and the pages stay disjoint.
  * Deaths are injected at every counted [[CrashFs]] mutation of the open
  * page and of a resume page, for the small exact, the small compressed
  * and the big (distributed split) session. */
class SessionCrashSpec extends SparkSpec {
  import spark.implicits._

  private val params = Ann.Params(metric = "COSINE", maxDegree = 8, beamWidth = 24,
    segmentRows = 300, pqM = 4)
  private val k = 5
  private lazy val tmp = java.nio.file.Files.createTempDirectory("sesscrash").toString
  private lazy val (idx, queries) = {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 600).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    Ann.buildIndex(rows.toDF("id", "vec").repartition(2), s"$tmp/idx", params)
    (s"$tmp/idx", rows.take(3).toDF("qid", "qvec"))
  }

  test("a paged session resumes after a death at every state mutation: small exact, small compressed, big") {
    val saved = Ann.BigSessionRows
    withSQLConf("fs.crash.impl" -> classOf[CrashFs].getName) {
      try for ((mode, rerankK, bigRows) <- Seq(("exact", 0, saved), ("compressed", 2 * k, saved),
          ("big", 0, 1L))) {
        Ann.BigSessionRows = bigRows
        def page(state: String, n: Int): Seq[String] = {
          val df =
            if (n == 1) Ann.openPagedSession(spark, idx, s"crash://$state", queries, k, 24,
              params, rerankK = rerankK)
            else Ann.nextSessionPage(spark, idx, s"crash://$state", k, 24, params,
              rerankK = rerankK)
          df.select("qid", "rank", "nid", "score").collect().map(_.mkString(",")).sorted.toSeq
        }
        // the uninterrupted run, its mutation count per page, and its state
        // before each resume page
        val ref = s"$tmp/$mode-ref"
        val pages = (1 to 3).map { n =>
          if (n > 1) org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(ref), new java.io.File(s"$tmp/$mode-before$n"))
          CrashFs.arm(ref, Int.MaxValue)
          (page(ref, n), CrashFs.counted)
        }
        for (n <- 1 to 2; died <- 0 until pages(n - 1)._2) {
          val state = s"$tmp/$mode-p$n-d$died"
          if (n > 1) org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(s"$tmp/$mode-before$n"), new java.io.File(state))
          CrashFs.arm(state, died)
          val interrupted = scala.util.Try(page(state, n))
          CrashFs.arm(state, Int.MaxValue)
          // the next call comes from a new process (a fresh driver: no
          // memo, no cached segments) after every other death, from the
          // same driver after the rest
          if (died % 2 == 0) Ann.clearSegmentCache()
          val at = s"$mode: death after mutation $died of page $n"
          // the page the caller gets next, and its number
          val (first, got) = interrupted match {
            case scala.util.Success(rows) => (n, rows)
            case scala.util.Failure(_) =>
              val rows =
                if (n > 1) page(state, 2)
                else try page(state, 1) catch {
                  case _: IllegalArgumentException => page(state, 2) // already open
                }
              (if (rows == pages(n - 1)._1) n else n + 1, rows)
          }
          assert(got === pages(first - 1)._1,
            s"$at: the next call returned neither page $n nor ${n + 1}")
          // after a death on the open page, the page after it too: the
          // open page's commit is the one without an earlier generation
          val later = (first + 1 to (if (n == 1) 2 else first)).map { m =>
            val rows = page(state, m)
            assert(rows === pages(m - 1)._1, s"$at: page $m differs from the uninterrupted run")
            rows
          }
          val all = pages.take(n - 1).flatMap(_._1) ++ got ++ later.flatten
          val pairs = all.map(_.split(",")).map(r => (r(0), r(2)))
          assert(pairs.distinct.size === pairs.size, s"$at: pages overlap")
        }
      } finally Ann.BigSessionRows = saved
    }
  }
}
