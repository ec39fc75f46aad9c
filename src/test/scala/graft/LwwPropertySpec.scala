package graft

import org.apache.spark.sql.functions.{lit, xxhash64}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.model.CdcSchema
import graft.operators.{LwwCollapse, MergeInto}
import graft.table.LakeTable

/** ScalaCheck properties (SURVEY §5.4): random event permutations,
  * duplications, and epoch splits never change the final state —
  * idempotence + commutativity of the merge up to LWW (warc_ts, seq)
  * order, with deterministic tie-breaks. Driven with a fixed seed so CI
  * is reproducible.
  */
class LwwPropertySpec extends SparkSpec {
  import spark.implicits._

  case class Ev(seq: Long, op: String, url: String, tsMs: Long, text: String)

  val genEv: Gen[Ev] = for {
    seq <- Gen.choose(0L, 49L)
    op <- Gen.frequency(5 -> "U", 2 -> "I", 2 -> "D")
    url <- Gen.oneOf("u1", "u2", "u3") // few keys → many collisions/ties
    ts <- Gen.oneOf(1000L, 2000L, 2000L, 3000L) // forced equal-ts ties
    txt <- Gen.alphaStr.map(_.take(6))
  } yield Ev(seq, op, url, ts, txt)

  def toDf(evs: List[Ev]) =
    evs.map(e => (e.seq, e.op, e.url, new java.sql.Timestamp(e.tsMs),
        null: Array[Byte], if (e.op == "D") null else e.text, "en",
        null.asInstanceOf[java.lang.Double]))
      .toDF(CdcSchema.latest.fieldNames: _*)

  /** Re-number seq by list position: the WAL contract says seq is unique
    * at the source, and a (url, seq, warc_ts) tie with DIFFERENT payloads
    * is unorderable by the LWW key — the generator must not emit inputs
    * the contract forbids (a latent flake otherwise: list-order maxBy vs
    * partition-order max_by may pick different winners). Redelivered
    * duplicates added AFTER this step are payload-identical, as in the
    * real at-least-once stream.
    */
  def uniqueSeq(evs: List[Ev]): List[Ev] =
    evs.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }

  /** Reference implementation in plain Scala (not Spark). NB ties on
    * (tsMs, seq) resolve to the same winner regardless of list order.
    */
  def scalaOracle(evs: List[Ev]): Map[String, Long] =
    evs.groupBy(_.url).flatMap { case (u, es) =>
      val w = es.maxBy(e => (e.tsMs, e.seq))
      if (w.op == "D") None else Some(u -> w.seq)
    }

  def check(name: String)(prop: Prop): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8)
      .withInitialSeed(Seed(42L))
    val res = SCTest.check(params, prop)
    assert(res.passed, s"$name: $res")
  }

  test("collapse == plain-Scala LWW oracle under permutation + duplication") {
    check("collapse-oracle")(Prop.forAll(
      Gen.listOfN(30, genEv), Gen.choose(0, 5), Gen.choose(0L, 999L)) {
      (evs0, dups, shuffleSeed) =>
        val evs = uniqueSeq(evs0)
        val withDups = evs ++ evs.take(dups) // redeliveries
        val shuffled = new scala.util.Random(shuffleSeed).shuffle(withDups)
        val collapsed = LwwCollapse.collapse(toDf(shuffled))
          .filter($"op" =!= "D")
          .select($"url", $"seq")
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        collapsed == scalaOracle(withDups)
    })
  }

  test("random epoch splits converge to the same table state") {
    check("epoch-splits")(Prop.forAll(
      Gen.listOfN(40, genEv), Gen.choose(1, 4)) { (evs0, nEpochs) =>
        val evs = uniqueSeq(evs0)
        val dir = tmpDir("prop") + "/t"
        LakeTable.create(dir, numBuckets = 4)
        val chunks = evs.grouped(math.max(1, evs.size / nEpochs)).toSeq
        chunks.zipWithIndex.foreach { case (chunk, e) =>
          MergeInto.merge(spark, dir, toDf(chunk.toList), e.toLong)
        }
        val got = LakeTable.readLive(spark, dir)
          .select($"url", $"seq").collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        got == scalaOracle(evs)
    })
  }

  /** `broadcastKeyLimit = 0` forces the salted shuffled-hash key join,
    * so the fallback path is state-checked, not only shape-checked.
    */
  for ((suffix, keyLimit) <- Seq("" -> MergeInto.BroadcastKeyLimit,
                                 " (salted key join)" -> 0L))
  test(s"random CoW/MoR mode per epoch + cross-epoch duplication: same state$suffix") {
    // the few-keys generator already forces same-(warc_ts, seq) dup
    // redeliveries across epoch boundaries; the mode die adds every
    // write-path interleaving (base∪delta generations) on top
    check(s"mode-mix$suffix")(Prop.forAll(
      Gen.listOfN(40, genEv), Gen.choose(2, 4),
      Gen.listOfN(5, Gen.choose(0, 2)), Gen.choose(0, 4)) {
      (evs0, nEpochs, modeDie, dupFrom) =>
        val evs = uniqueSeq(evs0)
        val dir = tmpDir("prop-mix") + "/t"
        LakeTable.create(dir, numBuckets = 4)
        // duplicate a slice of earlier events into the LAST epoch — the
        // at-least-once redelivery crossing a write-path boundary
        val chunks0 = evs.grouped(math.max(1, evs.size / nEpochs)).toList
        val redelivered = evs.drop(dupFrom).take(4)
        val chunks = chunks0.init :+ (chunks0.last ++ redelivered)
        chunks.zipWithIndex.foreach { case (chunk, e) =>
          val mode = modeDie(e % modeDie.size) match {
            case 0 => MergeInto.CopyOnWrite
            case 1 => MergeInto.MergeOnRead
            case _ => MergeInto.Auto
          }
          MergeInto.merge(spark, dir, toDf(chunk), e.toLong, mode,
            broadcastKeyLimit = keyLimit)
        }
        val live = LakeTable.readLive(spark, dir)
          .select($"url", $"seq").collect()
        val got = live.map(r => (r.getString(0), r.getLong(1))).toMap
        // no duplicated urls, and exact LWW state
        live.length == got.size && got == scalaOracle(evs)
    })
  }

  for (mode <- Seq(MergeInto.CopyOnWrite, MergeInto.MergeOnRead))
  test(s"$mode: a null-warc_ts event beside dated ones keeps the dated winner") {
    // lww_seq ignores null warc_ts, and so must the write's collapse — the
    // undated event carries the url's highest seq and must still lose
    val dir = tmpDir("prop-nullts") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    def ev(seq: Long, tsMs: Option[Long], text: String, url: String = "u1") =
      (seq, "U", url, tsMs.map(new java.sql.Timestamp(_)).orNull,
        null: Array[Byte], text, "en", null.asInstanceOf[java.lang.Double])
    def df(evs: (Long, String, String, java.sql.Timestamp, Array[Byte],
        String, String, java.lang.Double)*) =
      evs.toDF(CdcSchema.latest.fieldNames: _*)
    // a seeded target, so the CoW epoch has stored rows to fold in
    MergeInto.merge(spark, dir, df(ev(0L, Some(500L), "seed"),
      ev(1L, Some(600L), "seed", url = "u2")), 0L)
    MergeInto.merge(spark, dir, df(ev(2L, Some(1000L), "dated-old"),
      ev(3L, Some(2000L), "dated-new"), ev(4L, None, "undated")), 1L, mode)
    val live = LakeTable.readLive(spark, dir)
      .select($"url", $"seq", $"text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(live === Set(("u1", 3L, "dated-new"), ("u2", 1L, "seed")))
  }

  test("writeBuckets' collapse: a null warc_ts never wins; undated-only urls are dropped") {
    // the write-level half of the case above: uncollapsed rows straight
    // into the collapse, no key join in front of it
    val dir = tmpDir("prop-nullts-write") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    val rows = Seq(("u1", Some(1000L), 1L), ("u1", None, 9L), ("u2", None, 5L))
      .map { case (u, ts, seq) => (u, ts.map(new java.sql.Timestamp(_)).orNull, seq) }
      .toDF("url", "warc_ts", "seq")
      .select($"url", xxhash64($"url").as("url_hash"),
        $"warc_ts", $"seq", lit(false).as("tombstone"),
        lit(null).cast("binary").as("html"),
        lit(null).cast("string").as("text"),
        lit("en").as("lang"),
        lit(null).cast("double").as("extra_score"))
      .withColumn("bucket", LakeTable.bucketOf($"url", 4))
    val files = LakeTable.writeBuckets(spark, dir, 1L, rows, 0 until 4)
    assert(files.map(_.rows).sum === 1L)
    val got = spark.read.parquet(files.map(f => s"$dir/${f.path}"): _*)
      .select($"url", $"seq").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("u1", 1L)))
  }

  test("random maintenance interleavings (compact/rebucket/vacuum) preserve state") {
    check("maintenance-mix")(Prop.forAll(
      Gen.listOfN(40, genEv), Gen.choose(2, 4),
      Gen.listOfN(4, Gen.choose(0, 3))) { (evs0, nEpochs, opsDie) =>
        val evs = uniqueSeq(evs0)
        val dir = tmpDir("prop-maint") + "/t"
        LakeTable.create(dir, numBuckets = 8)
        val chunks = evs.grouped(math.max(1, evs.size / nEpochs)).toList
        chunks.zipWithIndex.foreach { case (chunk, e) =>
          val mode = if (e % 2 == 1) MergeInto.MergeOnRead else MergeInto.Auto
          MergeInto.merge(spark, dir, toDf(chunk), e.toLong, mode)
          opsDie(e % opsDie.size) match {
            case 1 => graft.table.Maintenance.compact(spark, dir)
            case 2 => graft.table.Maintenance.rebucket(spark, dir,
              Seq(4, 8, 16)((e + 1) % 3))
            case 3 => graft.table.Maintenance.vacuum(dir, graceMs = 0L)
            case _ => ()
          }
        }
        val live = LakeTable.readLive(spark, dir)
          .select($"url", $"seq").collect()
        val got = live.map(r => (r.getString(0), r.getLong(1))).toMap
        live.length == got.size && got == scalaOracle(evs)
    })
  }
}
