package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.operators.MergeInto
import graft.table.{FileEntry, LakeTable, Maintenance}

/** Plan-shape guard for the MERGE path itself (PlanShapeSpec covers the
  * 57 queries, not the epoch): the LWW winner selection must stay the
  * primitive-buffer lww_seq HashAggregate, and no SortAggregate may
  * appear in an epoch's executed plans (PLANS.md "Ingest merge" shape).
  * This is the measured-10× Spark-4 trap — max(struct)/max_by buffers
  * planize as SortAggregate, sorting the whole batch per partition —
  * wired to fail CI at sf-tiny if it ever returns to the hot path. It
  * also pins the payload traffic: phase B is a map-side winner filter,
  * so an epoch plans no join, the bucket write's repartition is the one
  * exchange that carries html/text, and each touched target file is
  * scanned once. The merged
  * read is pinned the same way: its LWW collapse is the write's window,
  * one exchange and no join-back; and so is compaction, the same bucket
  * rewrite with no batch, which never reads a clean bucket.
  */
class MergePlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def batch(n: Int, urls: Int) =
    spark.range(n).select(
      col("id").as("seq"),
      lit("U").as("op"),
      concat(lit("https://d"), pmod(col("id"), lit(urls)), lit(".com/p")).as("url"),
      (lit(1700000000000L) + col("id")).cast("timestamp").as("warc_ts"),
      lit(null).cast("binary").as("html"),
      concat(lit("text-"), col("id")).as("text"),
      lit("en").as("lang"),
      lit(null).cast("double").as("extra_score"))

  /** Every distinct physical node of the epoch's plans, descending into
    * AQE query stages and cached relations' plans. A cached plan is
    * shared by the jobs that read it, so nodes are deduped by identity:
    * an exchange or scan counts once however many jobs reuse it.
    */
  private def epochNodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
    val out = Seq.newBuilder[SparkPlan]
    object walk extends AdaptiveSparkPlanHelper {
      def apply(p: SparkPlan): Unit = foreach(p) { n =>
        if (!seen.containsKey(n)) {
          seen.put(n, ())
          out += n
          n match {
            case m: InMemoryTableScanExec => apply(m.relation.cachedPlan)
            case _ => ()
          }
        }
      }
    }
    plans.foreach(walk(_))
    out.result()
  }

  /** html/text as a top-level column or nested in a struct (a `max_by`
    * payload struct carries them as fields).
    */
  private def isPayload(name: String, dt: DataType): Boolean =
    name == "html" || name == "text" || (dt match {
      case st: StructType => st.fields.exists(f => isPayload(f.name, f.dataType))
      case _ => false
    })

  private def payloadExchanges(plans: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    epochNodes(plans).collect {
      case e: ShuffleExchangeExec
          if e.output.exists(a => isPayload(a.name, a.dataType)) => e
    }

  /** One payload exchange per epoch: the bucket write's repartition. */
  private def assertPayloadExchanges(plans: Seq[SparkPlan], label: String): Unit = {
    val ex = payloadExchanges(plans)
    assert(ex.size === 1 && ex.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"$label: expected exactly one payload exchange, the bucket write's; got $ex")
  }

  /** Each of `files` is read by exactly `times` distinct scans. */
  private def assertTargetScans(plans: Seq[SparkPlan], files: Seq[FileEntry],
                                times: Int, label: String): Unit = {
    val scanned = epochNodes(plans).collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }
    assert(files.nonEmpty, s"$label: no touched target files")
    files.foreach { f =>
      val n = scanned.count(_.exists(_.endsWith(f.path)))
      assert(n === times, s"$label: ${f.path} scanned $n times, expected $times")
    }
  }

  private def assertMergeShape(plans: Seq[SparkPlan], label: String): Unit = {
    assert(plans.nonEmpty, s"$label: no executed plans captured")
    val all = plans.map(_.toString).mkString("\n===\n")
    // 1. the winner selection ran as the primitive-buffer HashAggregate
    val lwwLines = all.linesIterator.filter(_.contains("lww_seq")).toSeq
    assert(lwwLines.nonEmpty, s"$label: no lww_seq aggregate in epoch plans")
    assert(lwwLines.exists(_.contains("HashAggregate")),
      s"$label: lww_seq not planned as HashAggregate")
    assert(!lwwLines.exists(_.contains("SortAggregate")),
      s"$label: lww_seq degraded to SortAggregate — the measured-10× trap:\n$all")
    // 2. no SortAggregate anywhere in the epoch
    assert(!all.contains("SortAggregate"),
      s"$label: SortAggregate in the merge path:\n$all")
    // 3. phase B is the map-side winner filter: no join of any kind
    val joins = epochNodes(plans).collect { case j: BaseJoinExec => j }
    assert(joins.isEmpty, s"$label: unexpected joins in the epoch: $joins")
  }

  test("column pruning survives the merged read: narrow projections never scan the payload") {
    // a reader selecting (url, lang) off the live table must not scan
    // html/text — at web scale the payload is ~95% of the bytes, and the
    // merged read's collapse is a window over the scanned rows (no
    // aggregate, no cache), so projections reach the parquet scans
    val dir = tmpDir("mps-prune") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(2000, 200), 0L)
    MergeInto.merge(spark, dir, batch(500, 200), 1L, MergeInto.MergeOnRead)
    val plan = LakeTable.readLive(spark, dir).select(col("url"), col("lang"))
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toList
    assert(schemas.nonEmpty, "no parquet scans found in the plan")
    schemas.foreach { s =>
      assert(!s.contains("html") && !s.contains("text"),
        s"payload column scanned for a narrow projection: $s")
    }
  }

  test("merged read over delta files: one exchange, no join, each dirty file scanned once") {
    // readMerged resolves the delta-carrying buckets with the write's own
    // LWW window — one exchange over the dirty rows and no join-back, so
    // no file is scanned twice; the dirty files (a base and two delta
    // write generations) are one scan, each row's generation read from
    // its file path; clean buckets stream through unshuffled
    val dir = tmpDir("mps-read") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(2000, 200), 0L)
    MergeInto.merge(spark, dir, batch(60, 3), 1L, MergeInto.MergeOnRead)
    MergeInto.merge(spark, dir, batch(40, 2), 2L, MergeInto.MergeOnRead)
    val snap = LakeTable.load(dir)
    val dirtyBuckets = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    assert(dirtyBuckets.nonEmpty && dirtyBuckets.size < snap.numBuckets)
    val plans = capturedPlans { LakeTable.readMerged(spark, dir, snap).collect() }
    val nodes = epochNodes(plans)
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"expected exactly one exchange, got $exchanges")
    val joins = nodes.collect { case j: BaseJoinExec => j }
    assert(joins.isEmpty, s"unexpected joins in the merged read: $joins")
    assertTargetScans(plans, snap.files, 1, "readMerged")
    val dirty = snap.files.filter(f => dirtyBuckets(f.bucket)).map(_.path)
    assert(dirty.size >= 3, s"expected a base and two delta generations: $dirty")
    val dirtyScans = nodes.collect { case s: FileSourceScanExec
      if s.relation.location.inputFiles.exists(p => dirty.exists(p.endsWith)) => s }
    assert(dirtyScans.size === 1, s"the dirty files took ${dirtyScans.size} scans")
  }

  test("compaction: one payload exchange, dirty buckets' files scanned once, clean ones never") {
    // compaction is the copy-on-write epoch's bucket rewrite with no
    // batch: the delta-carrying buckets cross the write's one exchange
    // and are collapsed once; clean buckets keep their files unread
    val dir = tmpDir("mps-compact") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(2000, 200), 0L)
    MergeInto.merge(spark, dir, batch(60, 3), 1L, MergeInto.MergeOnRead)
    MergeInto.merge(spark, dir, batch(40, 2), 2L, MergeInto.MergeOnRead)
    val snap = LakeTable.load(dir)
    val dirtyBuckets = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    val (dirty, clean) = snap.files.partition(f => dirtyBuckets(f.bucket))
    assert(dirtyBuckets.nonEmpty && clean.nonEmpty)
    val plans = capturedPlans { Maintenance.compact(spark, dir) }
    val ex = payloadExchanges(plans)
    assert(ex.size === 1, s"expected exactly one payload exchange, got $ex")
    assertTargetScans(plans, dirty, 1, "compact/dirty")
    assertTargetScans(plans, clean, 0, "compact/clean")
  }

  test("CoW epoch: lww_seq HashAggregate, no join, one payload exchange") {
    val dir = tmpDir("mps-cow") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(4000, 300), 0L) // seed the target
    val target = LakeTable.load(dir).files
    val plans = capturedPlans {
      MergeInto.merge(spark, dir, batch(4000, 300), 1L, MergeInto.CopyOnWrite)
    }
    assertMergeShape(plans, "CoW")
    assertPayloadExchanges(plans, "CoW")
    assertTargetScans(plans, target, 1, "CoW")
  }

  test("CoW and MoR epochs cache no payload: file stats come from the written files") {
    // the bucket write's per-file stats are one narrow aggregate over the
    // files it wrote, so no epoch plan reads a cached relation carrying
    // html/text, and an epoch leaves nothing cached behind it
    val dir = tmpDir("mps-nocache") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(4000, 300), 0L)
    // a cached Dataset the epoch leaves behind keeps its persisted RDD
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    Seq((MergeInto.CopyOnWrite, 1L), (MergeInto.MergeOnRead, 2L)).foreach { case (mode, e) =>
      val cachedBefore = persisted
      val plans = capturedPlans { MergeInto.merge(spark, dir, batch(500, 300), e, mode) }
      val payloadCaches = epochNodes(plans).collect {
        case m: InMemoryTableScanExec
            if m.relation.output.exists(a => isPayload(a.name, a.dataType)) => m
      }
      assert(payloadCaches.isEmpty, s"$mode: cached payload scans $payloadCaches")
      assert((persisted -- cachedBefore).isEmpty, s"$mode: the epoch left a cache behind")
    }
  }

  test("winner filter: one partial Bloom aggregate task over a many-partition key aggregate") {
    // every partial buffer of Spark's Bloom-filter aggregate has the full
    // filter size, so the filter's shuffle carries one full-size filter
    // per task of its partial stage: that stage must be one task however
    // many partitions the cached key aggregate has
    val dir = tmpDir("mps-bloom") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    // stages are told apart by their SQL execution: the filter's is the
    // one whose plan holds the Bloom-filter aggregate
    val bloomExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val stageExec = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stages = new ConcurrentLinkedQueue[(Int, String, Int)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("bloom_filter_agg") =>
          bloomExecs.add(s.executionId.toString); ()
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => j.stageIds.foreach(stageExec.put(_, id)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.stageId, e.stageInfo.name, e.stageInfo.numTasks))
    }
    // AQE would coalesce the small key aggregate to one partition
    val coalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceConf, "false")
    spark.sparkContext.addSparkListener(listener)
    import scala.jdk.CollectionConverters._
    def filterStages = stages.asScala.toSeq
      .filter(s => Option(stageExec.get(s._1)).exists(bloomExecs.contains))
    try {
      MergeInto.merge(spark, dir, batch(4000, 300), 0L)
      val deadline = System.nanoTime() + 30000000000L
      while (filterStages.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(coalesceConf)
    }
    val all = stages.asScala.toSeq
    // the stats collect reads the cached key aggregate: ≥ 2 partitions
    assert(all.exists { case (_, n, t) => n.startsWith("collect at MergeInto") && t >= 2 },
      s"the key aggregate must span several partitions: $all")
    assert(filterStages.nonEmpty, s"no Bloom filter stages seen: $all")
    assert(filterStages.forall(_._3 == 1),
      s"the winner filter's stages must run one task each: $filterStages")
  }

  test("MoR epoch: winner selection stays the lww_seq HashAggregate") {
    val dir = tmpDir("mps-mor") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(4000, 300), 0L)
    val target = LakeTable.load(dir).files
    val plans = capturedPlans {
      MergeInto.merge(spark, dir, batch(500, 300), 1L, MergeInto.MergeOnRead)
    }
    assertMergeShape(plans, "MoR")
    assertPayloadExchanges(plans, "MoR")
    // merge-on-read never opens the target
    assertTargetScans(plans, target, 0, "MoR")
  }
}
