package graft.table

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.util.control.NonFatal

/** The one commit primitive of every versioned store (the lake table,
  * the signature indexes, the IVF centroid set, the rollup stores): a
  * put-if-absent version log, as in Delta Lake (Armbrust et al., VLDB
  * 2020). Under a store dir:
  *   meta/v{N}.json — version N's body, created put-if-absent and never
  *                    rewritten; its creation is the ONLY point where a
  *                    commit takes effect
  *   meta/CURRENT   — "vN", a read hint rewritten after each commit;
  *                    readers roll forward past it
  *
  * A writer that read N−1 as latest attempts N, so the put-if-absent IS
  * the compare-and-swap: exactly one of the writers racing for N wins,
  * every other one fails loudly naming the dir, N and the parent N−1.
  * The data a version names is written first, to paths only its attempt
  * writes ([[token]]), so a loser never touches a winner's files. The
  * engine stays single-writer: there is no retry loop.
  */
object Commit {

  private def meta(dir: String): Path = Paths.get(dir, "meta")
  private def file(dir: String, v: Long): Path = meta(dir).resolve(s"v$v.json")
  private def hint(dir: String): Path = meta(dir).resolve("CURRENT")
  private val VersionFile = """v(\d+)\.json""".r

  /** Committed versions present under `meta/`, ascending. */
  def versions(dir: String): Seq[Long] =
    if (!Files.isDirectory(meta(dir))) Nil
    else graft.FsUtil.listDir(meta(dir))(_.map(_.getFileName.toString).collect {
      case VersionFile(n) => n.toLong
    }.toList.sorted)

  /** The newest version: the CURRENT hint rolled forward while
    * `v{N+1}.json` exists, or the highest listed version when the hint
    * is missing or names a version that no longer exists.
    */
  def latest(dir: String): Option[Long] = {
    val hinted = scala.util.Try(Files.readString(hint(dir)).trim.stripPrefix("v").toLong)
      .toOption.filter(v => Files.exists(file(dir, v)))
    hinted.orElse(versions(dir).lastOption).map { v0 =>
      var v = v0
      while (Files.exists(file(dir, v + 1))) v += 1
      v
    }
  }

  /** The body of version `v`; fails loudly once it was expired. */
  def read(dir: String, v: Long): String = {
    require(Files.exists(file(dir, v)), s"version v$v does not exist under $dir/meta")
    Files.readString(file(dir, v))
  }

  /** Commit `body` as version `v` iff no version `v` exists: written to a
    * private temp file, then hard-linked to `v{v}.json` — link(2) fails
    * with EEXIST atomically, so the version appears complete or not at
    * all. Only then is the CURRENT hint rewritten.
    */
  def put(dir: String, v: Long, body: String): Unit = {
    Files.createDirectories(meta(dir))
    val tmp = Files.createTempFile(meta(dir), s".v$v.", ".tmp")
    try {
      Files.writeString(tmp, body)
      try Files.createLink(file(dir, v), tmp)
      catch { case _: FileAlreadyExistsException => throw conflict(dir, v, null) }
    } finally Files.deleteIfExists(tmp)
    val h = Files.createTempFile(meta(dir), ".CURRENT.", ".tmp")
    Files.writeString(h, s"v$v")
    Files.move(h, hint(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def conflict(dir: String, v: Long, cause: Throwable) =
    new IllegalArgumentException(s"concurrent commit at $dir: v$v already " +
      s"exists, expected parent v${v - 1}", cause)

  /** [[put]] the body `write` returns after writing the attempt's data,
    * for stores using [[expireWithData]]: once another writer committed
    * `v`, its expiry may delete this attempt's data mid-write, and that
    * failure is reported as the conflict it is.
    */
  def attempt(dir: String, v: Long)(write: => String): Unit = {
    val body =
      try write
      catch { case NonFatal(e) if latest(dir).exists(_ >= v) => throw conflict(dir, v, e) }
    put(dir, v, body)
  }

  /** Delete versions older than the newest `keepLast`; returns how many. */
  def expire(dir: String, keepLast: Int): Int = {
    require(keepLast >= 1)
    val cur = latest(dir).getOrElse(return 0)
    versions(dir).filter(_ <= cur - keepLast)
      .count(v => Files.deleteIfExists(file(dir, v)))
  }

  /** A name part no other attempt shares: each attempt writes its own
    * data paths, once.
    */
  def token(): String = java.util.UUID.randomUUID().toString.take(8)

  /** [[expire]] plus the data GC of a store without a grace-based
    * vacuum, whose data entries under `root` are named
    * `{prefix}v{N}-{token}…` after the version N their attempt tried to
    * commit (`pathOf` maps a body to the entry it names). An entry
    * stamped N ≤ latest that no kept version names is garbage: version N
    * exists, so its attempt lost, crashed or was expired. Entries stamped
    * above latest belong to attempts in flight. Returns entries deleted.
    */
  def expireWithData(dir: String, keepLast: Int, root: Path, prefix: String)
                    (pathOf: String => String): Int = {
    expire(dir, keepLast)
    val cur = latest(dir).getOrElse(return 0)
    // a concurrent expiry may delete a version between listing and read
    val kept = versions(dir).flatMap(v =>
      scala.util.Try(pathOf(Files.readString(file(dir, v)))).toOption).toSet
    val Stamped = (java.util.regex.Pattern.quote(prefix) + """v(\d+)-.*""").r
    graft.FsUtil.listDir(root)(_.filter(p => p.getFileName.toString match {
      case Stamped(n) => n.toLong <= cur && !kept(p.getFileName.toString)
      case _ => false
    }).toList).count { p => graft.FsUtil.deleteTree(p); true }
  }
}
