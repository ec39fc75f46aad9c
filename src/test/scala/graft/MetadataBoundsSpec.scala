package graft

import graft.table.{EpochStat, EpochTotals, LakeTable, Maintenance, Snapshot}

/** Bounded-metadata invariants (round 4): the manifest must stay O(1)
  * in epoch count — epoch ledger via floor+list, stats via window+
  * totals, meta/ via expireSnapshots — without weakening exactly-once.
  */
class MetadataBoundsSpec extends SparkSpec {

  private def stat(e: Long) = EpochStat(e, 10, 10, 0, 5, 2000.0)

  private val s0 = Snapshot(0L, -1L, 1, 8, Nil, Nil, Map.empty, Nil, 0L, 0L)

  test("contiguous epochs collapse into the floor; list stays empty") {
    val s = (0L until 1000L).foldLeft(s0)((s, e) => s.withEpoch(e, stat(e)))
    assert(s.epochFloor === 999L)
    assert(s.committedEpochs.isEmpty)
    assert((0L until 1000L).forall(s.isCommitted))
    assert(!s.isCommitted(1000L))
    assert(s.totals === EpochTotals(1000L, 10000L, 10000L, 0L, 5000L))
  }

  test("sparse epoch ids stay in the list; floor catches up when the gap fills") {
    val a = s0.withEpoch(0L, stat(0)).withEpoch(5L, stat(5))
    assert(a.epochFloor === 0L)
    assert(a.committedEpochs === List(5L))
    assert(a.isCommitted(5L) && !a.isCommitted(3L))
    val b = (1L to 4L).foldLeft(a)((s, e) => s.withEpoch(e, stat(e)))
    assert(b.epochFloor === 5L)
    assert(b.committedEpochs.isEmpty)
  }

  test("epoch stats window is bounded; totals cover evicted epochs") {
    val n = LakeTable.EpochStatsWindow + 100
    val s = (0L until n.toLong).foldLeft(s0)((s, e) => s.withEpoch(e, stat(e)))
    assert(s.epochStats.size === LakeTable.EpochStatsWindow)
    assert(s.epochStats.head.epochId === (n - LakeTable.EpochStatsWindow).toLong)
    assert(s.epochStats.last.epochId === (n - 1).toLong)
    assert(s.totals.epochs === n.toLong)
    assert(s.totals.events === n * 10L)
  }

  test("negative epoch ids are rejected") {
    intercept[IllegalArgumentException] { s0.withEpoch(-1L, stat(-1)) }
  }

  test("a pre-floor snapshot json (no floor/totals fields) still loads") {
    val dir = tmpDir("mb-compat")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "meta"))
    // a round-3-shaped manifest: committedEpochs list only
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "meta", "v7.json"),
      """{"snapshotId":7,"parentId":6,"schemaId":1,"numBuckets":8,
        |"committedEpochs":[0,1,2],"files":[],"lineage":{},
        |"epochStats":[],"liveRows":0,"tombstones":0}""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "meta", "CURRENT"), "v7")
    val s = LakeTable.load(dir)
    assert(s.epochFloor === -1L)
    assert(s.totals === EpochTotals())
    assert(s.isCommitted(1L) && !s.isCommitted(3L))
    // and the next epoch folds the legacy list into the floor
    val s2 = s.withEpoch(3L, stat(3))
    assert(s2.epochFloor === 3L && s2.committedEpochs.isEmpty)
  }

  test("expireSnapshots keeps the newest K manifests and expired reads fail loudly") {
    val dir = tmpDir("mb-expire")
    LakeTable.create(dir, numBuckets = 4)
    (1L to 30L).foldLeft(LakeTable.load(dir)) { (prev, i) =>
      val s = prev.withEpoch(i - 1, stat(i - 1))
        .copy(snapshotId = i, parentId = prev.snapshotId)
      LakeTable.commit(dir, s)
      s
    }
    val removed = Maintenance.expireSnapshots(dir, keepLast = 10)
    assert(removed === 21) // v0..v20 expired, v21..v30 kept
    import scala.jdk.CollectionConverters._
    val left = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "meta")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq
    assert(left.size === 10)
    assert(LakeTable.load(dir).snapshotId === 30L) // CURRENT intact
    val e = intercept[IllegalArgumentException] {
      graft.table.Changelog.loadVersion(dir, 5L)
    }
    assert(e.getMessage.contains("does not exist"))
    // re-running is a no-op at the same keepLast
    assert(Maintenance.expireSnapshots(dir, keepLast = 10) === 0)
  }
}
