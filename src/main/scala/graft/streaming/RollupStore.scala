package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Epoch-idempotent store for BOUNDED-CARDINALITY keyed rollup tables
  * (shared by the windowed metrics rollup and the additive keyed stats
  * rollup): versioned parquet dirs behind a PTR pointer file, swapped
  * atomically, plus an `_epochs` ledger that makes a redelivered
  * foreachBatch epoch a no-op — the same exactly-once scheme as the main
  * MERGE sink's manifest. The per-epoch rewrite is O(rollup keys), never
  * O(feed); anything unbounded belongs in a LakeTable, not here.
  */
object RollupStore {

  /** Hard ceiling on rollup state rows (override per session via the
    * `spark.graft.rollup.maxRows` conf). The store's contract is
    * BOUNDED-cardinality state — the per-epoch rewrite is O(rows), so a
    * key domain that grows with the feed would degrade every epoch
    * silently. Exceeding the ceiling fails the epoch loudly BEFORE the
    * commit point, with the fix in the message.
    */
  val DefaultMaxRows: Long = 10000000L

  /** Apply one epoch: skip if `epochId` is already in the ledger,
    * otherwise compute the next state from the previous one (None before
    * the first epoch) and commit it. Returns true if applied.
    *
    * The applied-epoch ledger lives INSIDE the versioned state dir
    * (`v-N/_epochs`; the leading underscore keeps parquet readers from
    * touching it), so the atomic PTR swap commits state and ledger
    * together — the same single-commit-point protocol as the lake
    * table's manifest. A separate top-level ledger would open a crash
    * window between state swap and ledger append in which a retried
    * epoch double-applies its delta.
    */
  def applyEpoch(spark: SparkSession, rollupDir: String, epochId: Long)
                (next: Option[DataFrame] => DataFrame): Boolean = {
    val dir = Paths.get(rollupDir)
    Files.createDirectories(dir)
    val ptr = dir.resolve("PTR")
    val (prev, seen) =
      if (!Files.exists(ptr)) (None, Set.empty[Long])
      else {
        val cur = dir.resolve(Files.readString(ptr).trim)
        val ledger = cur.resolve("_epochs")
        val s: Set[Long] =
          if (!Files.exists(ledger)) Set.empty
          else Files.readString(ledger).split("\n").filter(_.nonEmpty)
            .map(_.toLong).toSet
        (Some(spark.read.parquet(cur.toString)), s)
      }
    if (seen.contains(epochId)) return false
    // swap: parquet dirs can't be renamed atomically over an existing
    // target, so point reads at a versioned dir via a CURRENT-style file.
    // A crash before the swap leaves only an orphan v-dir, rewritten on
    // retry; a crash after it has committed state+ledger atomically.
    val nextDir = dir.resolve(s"v-$epochId")
    next(prev).coalesce(1).write.mode("overwrite").parquet(nextDir.toString)
    // bounded-state guard BEFORE the commit point: the parquet-footer
    // count is metadata-only, and a failure here leaves only an orphan
    // v-dir (same as a crash pre-swap) — the store never commits a state
    // it would grind on every subsequent epoch.
    val maxRows = spark.conf.getOption("spark.graft.rollup.maxRows")
      .map(_.toLong).getOrElse(DefaultMaxRows)
    val stateRows = spark.read.parquet(nextDir.toString).count()
    if (stateRows > maxRows)
      throw new IllegalStateException(
        s"rollup state at $rollupDir grew to $stateRows rows (> $maxRows): " +
          "RollupStore rewrites the WHOLE state each epoch and is for " +
          "bounded key domains only — move this key domain to a LakeTable " +
          "MERGE, or raise spark.graft.rollup.maxRows if the domain is " +
          "genuinely bounded")
    Files.writeString(nextDir.resolve("_epochs"),
      (seen + epochId).toSeq.sorted.mkString("\n") + "\n")
    val ptrTmp = dir.resolve(s".ptr.tmp.$epochId")
    Files.writeString(ptrTmp, s"v-$epochId")
    Files.move(ptrTmp, ptr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // retention: superseded v-* dirs are unreachable once PTR moved on;
    // keep the latest few for readers mid-swap, GC the rest
    val keep = 3
    val old = scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("v-"))
        .toSeq.sortBy(p => p.getFileName.toString.stripPrefix("v-").toLong)
        .dropRight(keep)
    }
    old.foreach(p => graft.FsUtil.deleteTree(p))
    true
  }

  def exists(rollupDir: String): Boolean =
    Files.exists(Paths.get(rollupDir, "PTR"))

  /** Read the current rollup state. */
  def read(spark: SparkSession, rollupDir: String): DataFrame = {
    val dir = Paths.get(rollupDir)
    val ptr = dir.resolve("PTR")
    require(Files.exists(ptr), s"no rollup at $rollupDir")
    spark.read.parquet(dir.resolve(Files.readString(ptr).trim).toString)
  }
}
