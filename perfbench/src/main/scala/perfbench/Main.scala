package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM on `local[4]`:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR --out FILE
  *
  * Set-up runs three times (median reported), then one timed window of
  * S seconds (whole units of work, at least one). With `--trace 1` an
  * untraced window runs first, then the tracer's listeners are attached
  * for a second window, which supplies the per-layer metrics; the ratio
  * of the two windows' median operation latencies is the tracing overhead. Output checks
  * run after the windows. The result goes to FILE as one JSON object.
  */
object Main {
  val Workloads = Seq("ingest_bulk", "ingest_sinks", "trickle_serve", "query_suite")
  /** The workloads' own named metrics; each workload measures some of them. */
  val Views = Seq("backfill_eps", "tail_eps", "sinks_eps", "epoch_p50_s", "epoch_p90_s",
    "live_read_p50_s", "live_read_p90_s", "changes_p50_s", "changes_p90_s",
    "table_bytes_per_row", "suite_s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val (seed, seconds, traced) = (a("seed").toLong, a("seconds").toDouble, a("trace") == "1")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"perfbench: session ready after $sessionS%.2f s")

    val c = new Ctx(spark, seed, work)
    val wl: Workload = workload match {
      case "ingest_bulk" => new IngestBulk(64000L)
      case "ingest_sinks" => new IngestSinks(1500L)
      case "trickle_serve" => new TrickleServe(32000L)
      case "query_suite" => new QuerySuite(Paths.get(a("data")).toAbsolutePath.toString)
    }
    val gen = (0 until 3).map(r => Units.timed(wl.setup(c, r)))
    val warm = Units.timed(wl.warmUp(c))
    val setupS = sessionS + Stats.median(gen) + warm

    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (!traced) {
      val w = wl.window(c, seconds)
      metrics ++= Seq(
        "setup_s" -> setupS,
        "work_s" -> Stats.median(w.units))
      System.err.println(s"perfbench: $workload views ${w.views} units ${w.units} ops ${w.ops.size}")
    } else {
      val control0 = graft.bench.PlatformControl.run(spark)
      val w0 = wl.window(c, seconds)
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      heap.foreach(_.resetPeakUsage())
      val tracer = new Tracer
      tracer.attach(spark)
      c.tracer = Some(tracer)
      val w1 = wl.window(c, seconds)
      c.tracer = None
      tracer.detach(spark)
      val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
      val heapMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val control1 = graft.bench.PlatformControl.run(spark)
      metrics ++= Layers.summarize(tracer, w1)
      metrics ++= wl.layers(c)
      metrics ++= Views.map(_ -> 0.0) ++ w0.views
      metrics ++= Seq(
        "failed_ratio" -> c.failed.toDouble / math.max(c.attempted, 1L),
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> heapMb,
        "jvm.control_s" -> (control0 + control1) / 2,
        "feedgen.gen_s" -> (if (workload == "query_suite") 0.0 else Stats.median(gen)),
        "trace.overhead" -> (Stats.median(w1.ops) / math.max(Stats.median(w0.ops), 1e-9) - 1))
    }

    val t0 = System.nanoTime()
    val failures = try wl.check(c) finally wl.close(c)
    System.err.println(f"perfbench: $workload set-up ${gen.mkString(" ")} warm-up $warm%.2f checks ${(System.nanoTime() - t0) / 1e9}%.2f s")
    failures.foreach(f => System.err.println(s"perfbench: CHECK FAILED: $f"))
    val oracles = wl match {
      case q: QuerySuite => q.oracles
      case _ => Map.empty[String, Option[String]]
    }
    Files.writeString(Paths.get(a("out")), Json.obj(Seq(
      "correct" -> Json.bool(failures.isEmpty),
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "oracles" -> Json.obj(oracles.toSeq.map { case (k, v) => k -> v.fold("null")(Json.str) }),
      "results" -> Json.str(c.dir("results")))))
    spark.stop()
    System.err.println("perfbench: session stopped")
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
