package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.MergeInto
import graft.table.{FileEntry, LakeTable}

/** Plan-shape guard for the MERGE path itself (PlanShapeSpec covers the
  * 57 queries, not the epoch): the LWW winner selection must stay the
  * primitive-buffer lww_seq HashAggregate, and no SortAggregate may
  * appear in an epoch's executed plans outside the documented
  * winner-sized max_by residual (PLANS.md "Ingest merge" shape). This is
  * the measured-10× Spark-4 trap — max(struct)/max_by buffers planize as
  * SortAggregate, sorting the whole batch per partition — wired to fail
  * CI at sf-tiny if it ever returns to the hot path. It also pins the
  * payload traffic: the bucket write's repartition is the one exchange
  * that carries html/text (the salted fallback adds its key-join
  * exchange), and each touched target file is scanned once.
  */
class MergePlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def capturedPlans(work: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      work
      // the listener bus is async: wait until the captured set quiesces
      // (no growth for 1 s) — a fixed post-first-event sleep can miss the
      // write-job plans on a loaded host
      val deadline = System.nanoTime() + 30000000000L
      var last = -1
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             (plans.isEmpty || System.nanoTime() - stableSince < 1000000000L)) {
        Thread.sleep(50)
        if (plans.size != last) { last = plans.size; stableSince = System.nanoTime() }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

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

  /** One payload exchange per epoch — the bucket write's repartition — plus
    * the salted key join's exchange when the fallback path runs.
    */
  private def assertPayloadExchanges(plans: Seq[SparkPlan], label: String,
                                     saltedJoin: Boolean): Unit = {
    val ex = payloadExchanges(plans)
    val (write, other) = ex.partition(_.shuffleOrigin == REPARTITION_BY_NUM)
    assert(write.size === 1,
      s"$label: expected exactly one bucket-write payload exchange, got $ex")
    assert(other.size === (if (saltedJoin) 1 else 0),
      s"$label: unexpected payload exchanges: $other")
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
    // 2. any SortAggregate in the epoch is the documented winner-sized
    //    max_by residual (runs over winner rows only, after the key join)
    val sortAggLines = all.linesIterator.filter(_.contains("SortAggregate")).toSeq
    sortAggLines.foreach(l => assert(l.contains("max_by"),
      s"$label: undocumented SortAggregate in the merge path: $l"))
  }

  test("column pruning survives the merged read: narrow projections never scan the payload") {
    // a reader selecting (url, lang) off the live table must not scan
    // html/text — at web scale the payload is ~95% of the bytes, and the
    // two-phase collapse (narrow key pass + join-back) exists precisely
    // so projections reach the parquet scans
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

  test("CoW epoch (broadcast path): lww_seq HashAggregate, SortAggregate only in the winner residual") {
    val dir = tmpDir("mps-cow") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(4000, 300), 0L) // seed the target
    val target = LakeTable.load(dir).files
    val plans = capturedPlans {
      MergeInto.merge(spark, dir, batch(4000, 300), 1L, MergeInto.CopyOnWrite)
    }
    assertMergeShape(plans, "CoW/broadcast")
    assertPayloadExchanges(plans, "CoW/broadcast", saltedJoin = false)
    assertTargetScans(plans, target, 1, "CoW/broadcast")
  }

  test("CoW epoch (salted fallback above the broadcast ceiling): same shape") {
    val dir = tmpDir("mps-fb") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, batch(4000, 300), 0L)
    val target = LakeTable.load(dir).files
    val plans = capturedPlans {
      // broadcastKeyLimit=0 forces the salted ShuffledHashJoin path in
      // both phases — the 10^10-event backfill shape
      MergeInto.merge(spark, dir, batch(4000, 300), 1L, MergeInto.CopyOnWrite,
        broadcastKeyLimit = 0L)
    }
    assertMergeShape(plans, "CoW/fallback")
    assertPayloadExchanges(plans, "CoW/fallback", saltedJoin = true)
    assertTargetScans(plans, target, 1, "CoW/fallback")
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
    assertPayloadExchanges(plans, "MoR", saltedJoin = false)
    // merge-on-read never opens the target
    assertTargetScans(plans, target, 0, "MoR")
  }
}
