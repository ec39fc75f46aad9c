package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.json4s.jackson.JsonMethods.parse
import graft.feedgen.FeedGen
import graft.operators.{AdditiveRollup, DedupIndex, IvfCentroids, MergeInto}
import graft.streaming.CdcIngest
import graft.table.{Changelog, Commit, LakeTable}

/** The put-if-absent version log under every store: racing writers get
  * exactly one winner per version, losers fail naming the parent they
  * expected, nothing is lost or applied twice, and no file a committed
  * version references is ever removed. Also: a lost or stale CURRENT
  * hint never hides a committed version.
  */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private val Loss = """concurrent commit at (.+): v(\d+) already exists, expected parent v(-?\d+)""".r

  /** Thread t runs `ops(t)` in order, all threads released together;
    * each op is retried while it loses a commit race. Returns the
    * losers' messages.
    */
  private def race(ops: Seq[Seq[() => Unit]]): Seq[String] = {
    val losses = new ConcurrentLinkedQueue[String]()
    val start = new CyclicBarrier(ops.size)
    Parallel.all(ops.map(seq => () => {
      start.await()
      seq.foreach { op =>
        var done = false
        while (!done)
          try { op(); done = true }
          catch {
            case e: IllegalArgumentException
                if e.getMessage.startsWith("concurrent commit") =>
              losses.add(e.getMessage)
          }
      }
    }))
    losses.asScala.toSeq
  }

  /** Every loss names `dir`, a version that exists, and its parent. */
  private def checkLosses(dir: String, losses: Seq[String]): Unit = {
    val latest = Commit.latest(dir).get
    losses.foreach {
      case Loss(d, v, parent) =>
        assert(d === dir)
        assert(parent.toLong === v.toLong - 1L)
        assert(v.toLong <= latest)
      case m => fail(s"unexpected loser message: $m")
    }
  }

  /** Centroid sets as stats versions (one vector each, sums unused). */
  private def stats(cents: Seq[(Long, Array[Double])]) =
    cents.map { case (cid, cv) => IvfCentroids.ListStat(cid, cv, 1L, Array(0L, 0L)) }

  private def meta(dir: String): Path = Paths.get(dir, "meta")
  private def rewindHint(dir: String, v: Long): Unit =
    Files.writeString(meta(dir).resolve("CURRENT"), s"v$v")
  private def dropHint(dir: String): Unit =
    Files.delete(meta(dir).resolve("CURRENT"))

  test("Commit alone: 8 threads x 5 commits, one winner per version, nothing lost") {
    val dir = tmpDir("commit-race")
    val (k, m) = (8, 5)
    val losses = race((0 until k).map(t => (0 until m).map(i => () => {
      val v = Commit.latest(dir).fold(0L)(_ + 1L)
      Commit.put(dir, v, s"$t:$i")
    })))
    assert(Commit.versions(dir) === (0L until (k * m).toLong))
    assert(Commit.latest(dir) === Some((k * m - 1).toLong))
    val bodies = Commit.versions(dir).map(Commit.read(dir, _))
    assert(bodies.sorted === (for (t <- 0 until k; i <- 0 until m) yield s"$t:$i").sorted)
    // each thread's commits land in its program order
    (0 until k).foreach { t =>
      val mine = bodies.filter(_.startsWith(s"$t:")).map(_.split(':')(1).toInt)
      assert(mine === (0 until m))
    }
    checkLosses(dir, losses)
    // no temp file survives a won or lost attempt
    val names = graft.FsUtil.listDir(meta(dir))(_.map(_.getFileName.toString).toList)
    assert(names.forall(n => n == "CURRENT" || n.matches("""v\d+\.json""")), names)
  }

  test("Commit.latest rolls forward past a lost, stale or dangling hint; expire keeps the newest") {
    val dir = tmpDir("commit-hint")
    assert(Commit.latest(dir) === None)
    (0L to 4L).foreach(v => Commit.put(dir, v, s"b$v"))
    rewindHint(dir, 1L)
    assert(Commit.latest(dir) === Some(4L))
    dropHint(dir)
    assert(Commit.latest(dir) === Some(4L))
    assert(Commit.expire(dir, keepLast = 2) === 3)
    rewindHint(dir, 0L) // names an expired version
    assert(Commit.latest(dir) === Some(4L))
    assert(intercept[IllegalArgumentException](Commit.read(dir, 0L))
      .getMessage.contains("does not exist"))
    Commit.put(dir, 5L, "b5")
    assert(Commit.latest(dir) === Some(5L) && Commit.read(dir, 5L) === "b5")
  }

  // ---- every store through its real write path -------------------------

  private val cfg = FeedGen.Config(seed = 11L, n = 1200L, nDomains = 20,
    pathsPerDomain = 5, segments = 1)
  private def liveKey(df: DataFrame) =
    df.select($"url", $"seq", $"text").collect().map(_.toString).sorted

  test("MergeInto.merge: 3 writers x 2 epochs equal a serial replay") {
    val feed = FeedGen.events(spark, cfg).toDF()
    def slice(e: Int) = feed.filter($"seq" % 6 === e)
    val dir = tmpDir("race-merge") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    val losses = race((0 until 3).map(t => Seq(t, t + 3).map(e => () => {
      MergeInto.merge(spark, dir, slice(e), e.toLong); ()
    })))
    val serial = tmpDir("race-merge-serial") + "/t"
    LakeTable.create(serial, numBuckets = 4)
    (0 until 6).foreach(e => MergeInto.merge(spark, serial, slice(e), e.toLong))
    assert(liveKey(LakeTable.readLive(spark, dir)) ===
      liveKey(LakeTable.readLive(spark, serial)))
    val snap = LakeTable.load(dir)
    assert(snap.snapshotId === 6L)
    assert(snap.totals.epochs === 6L && snap.totals.events === cfg.n)
    // one epoch per version, each on its parent: no epoch applied twice
    (1L to 6L).foreach { v =>
      val s = Changelog.loadVersion(dir, v)
      assert(s.parentId === v - 1L && s.totals.epochs === v)
    }
    checkLosses(dir, losses)
    // every file any committed snapshot references is still readable
    (0L to 6L).flatMap(Changelog.loadVersion(dir, _).files).distinct.foreach { f =>
      assert(spark.read.parquet(s"$dir/${f.path}").count() === f.rows)
    }
  }

  test("AdditiveRollup.upsert: 3 writers x 2 epochs equal a serial replay") {
    val dir = tmpDir("race-rollup")
    val combine = Seq("n" -> AdditiveRollup.add)
    def delta(e: Int) = Seq((e % 3 + 1L, 1L << e)).toDF("k", "n")
    val losses = race((0 until 3).map(t => Seq(t, t + 3).map(e => () => {
      assert(AdditiveRollup.upsert(spark, dir, delta(e), Seq("k"), e.toLong, combine))
    })))
    val got = AdditiveRollup.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got === (0 until 6).groupBy(_ % 3 + 1L).map { case (k, es) =>
      k -> es.map(1L << _).sum })
    assert(Commit.latest(dir) === Some(5L))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // epochs 0..5 all applied: the bounded ledger holds them as its floor
    val v5 = parse(Commit.read(dir, 5L))
    assert((v5 \ "floor").extract[Long] === 5L)
    assert((v5 \ "epochs").extract[List[Long]].isEmpty)
    checkLosses(dir, losses)
    // every kept version's state dir is readable; nothing else is left
    val kept = Commit.versions(dir).map(v =>
      (parse(Commit.read(dir, v)) \ "path").values.toString)
    kept.foreach(p => assert(spark.read.parquet(s"$dir/$p").count() > 0))
    val stateDirs = graft.FsUtil.listDir(Paths.get(dir))(_
      .map(_.getFileName.toString).filter(_ != "meta").toSet)
    assert(stateDirs === kept.toSet)
  }

  test("DedupIndex.appendEpoch: 3 writers x 2 epochs equal a serial replay") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def docs(e: Int) = (0 until 4).map(i => (e * 10L + i, s"$words $e $i"))
      .toDF("doc_id", "text")
    val dir = tmpDir("race-dedup")
    val losses = race((0 until 3).map(t => Seq(t, t + 3).map(e => () => {
      assert(DedupIndex.appendEpoch(spark, dir, e.toLong, docs(e)))
    })))
    val serial = tmpDir("race-dedup-serial")
    (0 until 6).foreach(e => DedupIndex.appendEpoch(spark, serial, e.toLong, docs(e)))
    def sigs(d: String) = DedupIndex.readSigs(spark, d, 0L to 5L)
      .drop("_sig_epoch").collect().map(_.toString).sorted
    assert(sigs(dir) === sigs(serial))
    val m = DedupIndex.loadManifest(dir)
    assert(m.version === 6L && m.epochs === (0L to 5L))
    // one entry added per version: no append lost or applied twice
    (1L to 6L).foreach(v => assert(parse(Commit.read(dir, v)) \ "entries" match {
      case org.json4s.JArray(es) => es.size == v
      case _ => false
    }))
    checkLosses(dir, losses)
    m.entries.foreach { e =>
      assert(spark.read.parquet(s"$dir/${e.path}").count() === 4L)
      assert(Files.isDirectory(Paths.get(dir, e.path.replaceFirst("^sigs/", "buckets/"))))
      assert(Files.isRegularFile(Paths.get(dir, e.path.replaceFirst("^sigs/", "bloom/"))))
    }
  }

  test("IvfCentroids.persistStats: 3 writers x 2 retrains, every set committed once") {
    val dir = tmpDir("race-ivf")
    def cents(t: Int, i: Int) = Seq((0L, Array(t.toDouble, i.toDouble)),
      (1L, Array(-t.toDouble, -i.toDouble)))
    val committed = new ConcurrentLinkedQueue[(Long, (Int, Int))]()
    val losses = race((0 until 3).map(t => (0 until 2).map(i => () => {
      committed.add(IvfCentroids.persistStats(spark, dir, stats(cents(t, i))) -> (t, i)); ()
    })))
    val byVersion = committed.asScala.toMap
    assert(byVersion.keySet === (1L to 6L).toSet) // one winner per version
    assert(byVersion.values.toSet.size === 6)      // no retrain lost
    checkLosses(dir, losses)
    def read(file: String) = spark.read.parquet(s"$dir/$file").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    (1L to 6L).foreach { v =>
      val (t, i) = byVersion(v)
      assert(read(Commit.read(dir, v)) === cents(t, i).map(c => (c._1, c._2.toSeq)))
    }
    val (t, i) = byVersion(6L)
    assert(IvfCentroids.load(spark, dir).map(c => (c._1, c._2.toSeq)) ===
      cents(t, i).map(c => (c._1, c._2.toSeq)))
    // expiry keeps the newest two and reclaims the rest: four expired
    // versions' files plus one file per lost attempt
    assert(IvfCentroids.expire(dir, keepLast = 2) === 4 + losses.size)
    assert(graft.FsUtil.listDir(Paths.get(dir))(_.count(
      _.getFileName.toString.startsWith("cents-"))) === 2)
  }

  // ---- a lost or stale CURRENT hint, one per store ---------------------

  test("lost hint: LakeTable keeps its newest snapshot, commits at N+1, never re-creates") {
    val feed = FeedGen.events(spark, cfg).toDF()
    val dir = tmpDir("hint-lake") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    MergeInto.merge(spark, dir, feed.filter($"seq" < 400), 0L)
    MergeInto.merge(spark, dir, feed.filter($"seq" >= 400 && $"seq" < 800), 1L)
    rewindHint(dir, 1L)
    assert(LakeTable.load(dir).snapshotId === 2L)
    assert(MergeInto.merge(spark, dir, feed.filter($"seq" >= 800), 2L).snapshot.snapshotId === 3L)
    dropHint(dir)
    assert(LakeTable.load(dir).snapshotId === 3L)
    assert(LakeTable.load(dir).totals.events === cfg.n)
    assert(intercept[IllegalArgumentException](LakeTable.create(dir, numBuckets = 4))
      .getMessage.contains("already exists"))

    // a crash between creating v0 and writing the hint: the table exists,
    // so an ingest restart resumes instead of wedging on create
    val base = tmpDir("hint-ingest")
    val table = s"$base/table"
    LakeTable.create(table, numBuckets = 4)
    dropHint(table)
    assert(LakeTable.exists(table))
    FeedGen.writeSegments(spark, cfg.copy(n = 300L), s"$base/feed")
    CdcIngest.runAvailableNow(spark, s"$base/feed", table, s"$base/ckpt", 4)
    assert(LakeTable.load(table).totals.events === 300L)
  }

  test("lost hint: RollupStore keeps its newest state and commits at N+1") {
    val dir = tmpDir("hint-rollup")
    val combine = Seq("n" -> AdditiveRollup.add)
    def up(e: Long) = AdditiveRollup.upsert(spark, dir,
      Seq((1L, e + 1L)).toDF("k", "n"), Seq("k"), e, combine)
    def n() = AdditiveRollup.read(spark, dir).head.getLong(1)
    up(0L); up(1L)
    rewindHint(dir, 0L)
    assert(n() === 3L)
    assert(up(2L) && Commit.latest(dir) === Some(2L) && n() === 6L)
    dropHint(dir)
    assert(n() === 6L)
    assert(!up(1L), "the ledger of the newest version still holds epoch 1")
  }

  test("lost hint: DedupIndex keeps its newest manifest and commits at N+1") {
    val dir = tmpDir("hint-dedup")
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def app(e: Long) = DedupIndex.appendEpoch(spark, dir, e,
      Seq((e, s"$words $e")).toDF("doc_id", "text"))
    app(0L); app(1L)
    rewindHint(dir, 1L)
    assert(DedupIndex.loadManifest(dir).version === 2L)
    assert(app(2L) && DedupIndex.loadManifest(dir).version === 3L)
    dropHint(dir)
    assert(DedupIndex.committedEpochs(dir) === Seq(0L, 1L, 2L))
    assert(!app(1L))
  }

  test("lost hint: IvfCentroids keeps its newest set and commits at N+1") {
    val dir = tmpDir("hint-ivf")
    def set(x: Double) = stats(Seq((0L, Array(x, x))))
    IvfCentroids.persistStats(spark, dir, set(1.0))
    IvfCentroids.persistStats(spark, dir, set(2.0))
    rewindHint(dir, 1L)
    assert(IvfCentroids.load(spark, dir).head._2.toSeq === Seq(2.0, 2.0))
    assert(IvfCentroids.persistStats(spark, dir, set(3.0)) === 3L)
    dropHint(dir)
    assert(IvfCentroids.load(spark, dir).head._2.toSeq === Seq(3.0, 3.0))
  }
}
