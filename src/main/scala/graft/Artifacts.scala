package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The process's scratch location, its build-once latch and its recursive
  * delete — the one home of the "write a prefix the next step reads"
  * mechanism (the reference's JSON lines on S3, `dag-knlp.py:109,142`):
  * staged artifacts (signature stores, pair lists, raw fixtures), the
  * per-corpus SQL catalog fixtures, pipeline scratch and test catalogs
  * all live under [[root]].
  */
object Artifacts {

  /** One pid-scoped directory per process, under `SPARK_GRAFT_SCRATCH`
    * when set, else under `java.io.tmpdir`: concurrent processes never
    * share partial writes, and one shutdown hook removes it so bench,
    * verify and test runs leave the host clean. A failed removal is
    * printed once to stderr. A real deployment passes durable paths to
    * the writers instead. */
  lazy val root: Path = {
    val base = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    val p = Files.createTempDirectory(base, s"graft-${ProcessHandle.current().pid()}-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(p)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[graft] scratch root $p not removed: ${e.getClass.getName}: ${e.getMessage}")
      }))
    p
  }

  /** The pid-scoped scratch directory for corpus `dir` (pipeline staging,
    * CSV/ORC round-trips, partitioned layouts) — one path convention. */
  private[graft] def scratch(dir: String): String =
    root.resolve("scratch").resolve(dir.replaceAll("[^A-Za-z0-9.]", "_")).toString

  private val latches = new ConcurrentHashMap[String, Object]()
  private val done = ConcurrentHashMap.newKeySet[String]()

  /** Run `build` once per (process, key). One latch PER KEY: a single
    * global lock would mean a watchdog-cancelled build keeps every OTHER
    * key's first consumer waiting while its Spark job winds down. Racers
    * for the SAME key serialize and the losers find it built; builds of
    * different keys never block each other. A build that throws leaves
    * the key unbuilt, so the next caller retries. No deadlock is
    * possible: nested builds only ever go "downstream" (clusters → pairs
    * → signature store), so the latch order is acyclic. */
  def once(key: String)(build: => Unit): Unit =
    if (!done.contains(key)) latches.computeIfAbsent(key, _ => new Object).synchronized {
      if (!done.contains(key)) {
        build
        done.add(key)
      }
    }

  /** Build the staged artifact `key` once per process and return its
    * path: `build` writes into a fresh temp dir which is renamed into
    * place atomically, so a partially written artifact is never visible
    * and a failed build is simply retried by the next caller. The Spark
    * write runs under only this key's latch. */
  def ensure(key: String)(build: Path => Unit): Path = {
    val path = root.resolve(key)
    once(key) {
      if (!Files.exists(path)) {
        val tmp = Files.createTempDirectory(root, "build-")
        build(tmp)
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    path
  }

  /** Delete `p` and everything under it, children before parents; a
    * missing `p` is a no-op. Failures propagate. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(q => Files.deleteIfExists(q))
      finally s.close()
    }
}
