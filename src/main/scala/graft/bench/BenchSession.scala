package graft.bench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The bench mains' one local session and scratch root. Shuffle files
  * and bench data go to tmpfs (`/dev/shm`) when the host has it: the
  * sandbox's single virtio disk caps shuffle scaling at ~1.1× (measured)
  * and adds its own variance, while cluster executors get local SSDs
  * whose aggregate bandwidth scales with node count.
  */
object BenchSession {

  private def tmpfs(name: String): Path =
    if (new java.io.File("/dev/shm").isDirectory) Paths.get("/dev/shm", name)
    else Paths.get(System.getProperty("java.io.tmpdir"))

  /** AQE with parallelism-first coalescing, shuffle files on tmpfs, UTC
    * session time zone, no UI, WARN log level.
    */
  def apply(appName: String, master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.local.dir", scratchRoot("graft-spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `/dev/shm/<name>`, created, or the JVM temp dir without tmpfs. */
  def scratchRoot(name: String): Path = Files.createDirectories(tmpfs(name))
}
