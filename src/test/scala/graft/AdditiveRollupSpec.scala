package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.feedgen.FeedGen
import graft.operators.AdditiveRollup
import graft.streaming.{CdcIngest, DomainStatsRollup}

/** The maintained additive-merge stats table through the ingest sink —
  * the reference's `_update_user_stats` analog: per-epoch partial
  * aggregates folded into a keyed dimension exactly-once, surviving
  * restarts and at-least-once epoch redelivery, always equal to the
  * from-scratch aggregate over the replayed feed.
  */
class AdditiveRollupSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("combine rules: new keys, absent keys, additive counts, coalesce refresh") {
    val dir = tmpDir("ar-unit")
    val combine = Seq("n" -> AdditiveRollup.add,
      "name" -> AdditiveRollup.newestNonNull)
    val d0 = Seq((1L, 5L, Option("alice")), (2L, 3L, Option.empty[String]))
      .toDF("user_id", "n", "name")
    val d1 = Seq((2L, 4L, Option("bob")), (3L, 1L, Option.empty[String]))
      .toDF("user_id", "n", "name")
    assert(AdditiveRollup.upsert(spark, dir, d0, Seq("user_id"), 0L, combine))
    assert(AdditiveRollup.upsert(spark, dir, d1, Seq("user_id"), 1L, combine))
    // redelivered epoch is a no-op: counts must not double
    assert(!AdditiveRollup.upsert(spark, dir, d1, Seq("user_id"), 1L, combine))
    val got = AdditiveRollup.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(got === Map(
      1L -> ((5L, Some("alice"))),   // untouched by epoch 1
      2L -> ((7L, Some("bob"))),     // 3+4, name refreshed via COALESCE
      3L -> ((1L, None))))           // new key in epoch 1
  }

  test("crash before the PTR swap: retried epoch applies exactly once") {
    val dir = tmpDir("ar-crash")
    val combine = Seq("n" -> AdditiveRollup.add)
    def d(v: Long) = Seq((1L, v)).toDF("k", "n")
    def readN(): Long = AdditiveRollup.read(spark, dir).head.getLong(1)
    AdditiveRollup.upsert(spark, dir, d(5L), Seq("k"), 0L, combine)
    // epoch 1 commits, then we simulate a crash that happened BEFORE its
    // version file was created by deleting that file: the state dir it
    // named is left as an orphan, exactly the crash residue
    AdditiveRollup.upsert(spark, dir, d(2L), Seq("k"), 1L, combine)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "meta", "v1.json")) // "crash"
    assert(readN() === 5L) // pre-crash state visible, epoch 1 invisible
    // retry must APPLY (the committed ledger doesn't contain epoch 1) …
    assert(AdditiveRollup.upsert(spark, dir, d(2L), Seq("k"), 1L, combine))
    assert(readN() === 7L) // …exactly once: 5+2, not 5+2+2
    // …and a second retry after the successful commit is a no-op
    assert(!AdditiveRollup.upsert(spark, dir, d(2L), Seq("k"), 1L, combine))
    assert(readN() === 7L)
  }

  test("property: any epoch partitioning + epoch redelivery == one-shot aggregate") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val genRows = Gen.listOfN(40, for {
      k <- Gen.choose(1L, 5L)
      n <- Gen.choose(1L, 100L)
    } yield (k, n))
    val combine = Seq("total" -> AdditiveRollup.add,
      "mn" -> AdditiveRollup.minOf, "mx" -> AdditiveRollup.maxOf)
    def delta(rows: Seq[(Long, Long)]) = rows.toDF("k", "n")
      .groupBy($"k").agg(sum($"n").as("total"), min($"n").as("mn"), max($"n").as("mx"))
    val prop = Prop.forAll(genRows, Gen.choose(1, 4), Gen.choose(0, 3)) {
      (rows, nEpochs, redeliver) =>
        val dir = tmpDir("ar-prop")
        val slices = rows.grouped(math.max(1, rows.size / nEpochs)).toSeq
        slices.zipWithIndex.foreach { case (sl, e) =>
          AdditiveRollup.upsert(spark, dir, delta(sl), Seq("k"), e.toLong, combine)
        }
        // redeliver one already-applied epoch — must be a no-op
        val re = redeliver % slices.size
        AdditiveRollup.upsert(spark, dir, delta(slices(re)), Seq("k"), re.toLong, combine)
        val got = AdditiveRollup.read(spark, dir).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
        val want = rows.groupBy(_._1).map { case (k, vs) =>
          k -> ((vs.map(_._2).sum, vs.map(_._2).min, vs.map(_._2).max))
        }
        got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.toString)
  }

  test("bounded-state guard: an epoch that blows the key-domain ceiling fails loudly") {
    val dir = tmpDir("ar-guard")
    val combine = Seq("n" -> AdditiveRollup.add)
    // 50 keys: under the ceiling, commits
    assert(AdditiveRollup.upsert(spark, dir,
      spark.range(50).select($"id".as("k"), lit(1L).as("n")),
      Seq("k"), 0L, combine, maxRows = 100L))
    // 200 more keys: state would exceed the ceiling — must throw, not
    // silently commit a state every later epoch grinds over
    val e = intercept[IllegalStateException] {
      AdditiveRollup.upsert(spark, dir,
        spark.range(1000, 1200).select($"id".as("k"), lit(1L).as("n")),
        Seq("k"), 1L, combine, maxRows = 100L)
    }
    assert(e.getMessage.contains("LakeTable") && e.getMessage.contains("maxRows"))
    // the failed epoch did NOT commit: state is epoch 0's, and the
    // epoch can be retried after the operator fixes the domain
    assert(AdditiveRollup.read(spark, dir).count() === 50L)
    assert(AdditiveRollup.upsert(spark, dir,
      spark.range(1000, 1200).select($"id".as("k"), lit(1L).as("n")),
      Seq("k"), 1L, combine, maxRows = 1000000L))
    assert(AdditiveRollup.read(spark, dir).count() === 250L)
  }

  test("applied-epoch ledger stays bounded: contiguous epochs fold into the floor") {
    // the version file is rewritten every epoch, so its ledger must not
    // list every epoch ever applied
    val dir = tmpDir("ar-ledger")
    val combine = Seq("n" -> AdditiveRollup.add)
    val delta = Seq((1L, 1L)).toDF("k", "n")
    (0L until 40L).foreach(e =>
      assert(AdditiveRollup.upsert(spark, dir, delta, Seq("k"), e, combine)))
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val v = org.json4s.jackson.JsonMethods.parse(
      graft.table.Commit.read(dir, graft.table.Commit.latest(dir).get))
    assert((v \ "floor").extract[Long] === 39L)
    assert((v \ "epochs").extract[List[Long]].isEmpty)
    // a redelivered epoch below the floor is still a no-op
    assert(!AdditiveRollup.upsert(spark, dir, delta, Seq("k"), 5L, combine))
    assert(AdditiveRollup.read(spark, dir).collect().map(_.getLong(1)).toSeq === Seq(40L))
  }

  test("domain stats via the ingest sink across restarts == from-scratch aggregate") {
    val cfg = FeedGen.Config(seed = 21L, n = 6000L, nDomains = 25,
      pathsPerDomain = 6, dupRate = 0.05, evolveAt = 4000L, segments = 4)
    val base = tmpDir("ar-cdc")
    FeedGen.writeSegments(spark, cfg, s"$base/feed")
    def run(): Unit = CdcIngest.start(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 8, maxFilesPerTrigger = Some(2),
      trigger = Trigger.AvailableNow(),
      statsDir = Some(s"$base/stats")).awaitTermination()
    run() // several epochs (maxFilesPerTrigger=2 over 4 segments)
    // restart with a tail segment that also REDELIVERS seqs 5990..5999
    val c2 = cfg.copy(n = 6400L)
    val tail = FeedGen.events(spark, c2).toDF().filter($"seq" >= 5990L)
    FeedGen.appendSegment(spark, s"$base/feed", tail, "t1")
    run()
    val exp = DomainStatsRollup.delta(FeedGen.readFeed(spark, s"$base/feed"))
    val got = DomainStatsRollup.read(spark, s"$base/stats")
    assert(got.count() > 0)
    assert(sortedRows(got) === sortedRows(exp))
    // restart with no new data: state unchanged
    run()
    assert(sortedRows(DomainStatsRollup.read(spark, s"$base/stats")) ===
      sortedRows(exp))
  }
}
