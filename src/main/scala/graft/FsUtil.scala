package graft

import java.nio.file.{Files, NoSuchFileException, Path, Paths}

/** Small shared filesystem helpers (one definition for the recursive
  * delete the benches, scratch dirs and store GC all need).
  */
object FsUtil {
  /** Run `f` over a directory STREAM and close it. `Files.list`/`walk`
    * hold an open directory fd until closed — call sites that leak the
    * stream exhaust the process fd limit over long runs (the 10^4-epoch
    * MetadataSoak died of EMFILE at ~epoch 1000 through writeBuckets'
    * per-epoch walk).
    */
  def listDir[T](dir: Path)(f: Iterator[Path] => T): T =
    scala.util.Using.resource(Files.list(dir)) { st =>
      import scala.jdk.CollectionConverters._
      f(st.iterator().asScala)
    }

  def walkDir[T](dir: Path)(f: Iterator[Path] => T): T =
    scala.util.Using.resource(Files.walk(dir)) { st =>
      import scala.jdk.CollectionConverters._
      f(st.iterator().asScala)
    }

  private lazy val scratchRoot: Path = {
    // tmpfs when available: scratch index state (the dd08/dd09/dd13
    // per-invocation dirs) is written and re-read inside the timed
    // query path, and the sandbox's single virtio disk is both ~5x
    // slower than tmpfs and shared with every other tenant — the same
    // rationale as Bench's spark.local.dir/feed-dir placement (cluster
    // executors get local SSDs). Override with SPARK_GRAFT_SCRATCH.
    val base = sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(Paths.get(_))
      .orElse(Option(Paths.get("/dev/shm"))
        .filter(p => Files.isDirectory(p) && Files.isWritable(p)))
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    val r = Files.createTempDirectory(base, "graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  /** A temp dir reclaimed at JVM exit — for query builders that
    * materialize per-invocation scratch state (the dd08/dd09 index
    * dirs) whose lazy consumers outlive the builder call: without the
    * shared reclaimed root, every invocation leaks a directory into
    * java.io.tmpdir for the life of the machine.
    */
  def scratchDir(prefix: String): String =
    Files.createTempDirectory(scratchRoot, prefix).toString

  /** Delete `dir` and everything under it; missing paths, also ones a
    * concurrent delete removes mid-walk, are a no-op.
    */
  def deleteTree(dir: Path): Unit =
    try scala.util.Using.resource(Files.walk(dir)) { st =>
      st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    } catch {
      case e: Exception if e.isInstanceOf[NoSuchFileException] ||
        e.getCause.isInstanceOf[NoSuchFileException] => ()
    }

  def deleteTree(dir: String): Unit = deleteTree(Paths.get(dir))
}
