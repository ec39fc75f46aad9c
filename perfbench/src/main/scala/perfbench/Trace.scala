package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory tracer for the traced run.
  *
  * Spans are recorded by the benchmark around its calls into the engine
  * (one client thread, so the open span at a job's start owns the job).
  * Child records come from two listeners the tracer registers:
  *  - a `SparkListener`: one record per Spark job with its stages' task
  *    metrics, the batch id of the streaming epoch that ran it
  *    (`streaming.sql.batchId`) and its SQL execution, whose physical
  *    plan names the store directories the job reads and writes;
  *  - a `StreamingQueryListener`: one record per micro-batch progress
  *    report with its phase durations.
  * Nothing is written until the run ends.
  */
final class Tracer {
  final case class Span(name: String, parent: Int, t0: Long, var t1: Long = 0L) {
    def seconds: Double = (t1 - t0) / 1e9
  }
  final case class Job(id: Int, t0: Long, execution: Option[Long], batchId: Option[Long],
                       span: Int, stages: Seq[Int], var t1: Long = 0L)
  final class StageAgg(var shuffleWrite: Long = 0L, var spill: Long = 0L,
                       var input: Long = 0L, var output: Long = 0L)
  final case class Progress(batchId: Long, rows: Long, durations: Map[String, Long])

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[Job]()
  val stageAgg = mutable.Map[Int, StageAgg]()
  val progress = mutable.ArrayBuffer[Progress]()
  /** SQL execution id → the epoch stage its plan belongs to. */
  val executionOwner = mutable.Map[Long, String]()
  @volatile private var open: Int = -1

  def span[T](name: String)(f: => T): T = {
    val s = Span(name, open, System.nanoTime())
    val id = synchronized { spans += s; spans.size - 1 }
    val prev = open
    open = id
    try f finally { s.t1 = System.nanoTime(); open = prev }
  }

  /** The span that owns `job`, walking up to the first whose name passes `p`. */
  def ownerOf(job: Job, p: String => Boolean): Option[Span] = synchronized {
    var i = job.span
    while (i >= 0 && !p(spans(i).name)) i = spans(i).parent
    if (i >= 0) Some(spans(i)) else None
  }

  def ownerOfEpochJob(job: Job): String = synchronized(
    job.execution.flatMap(executionOwner.get).getOrElse("merge"))

  def agg(job: Job): StageAgg = synchronized {
    val a = new StageAgg
    job.stages.flatMap(stageAgg.get).foreach { s =>
      a.shuffleWrite += s.shuffleWrite; a.spill += s.spill
      a.input += s.input; a.output += s.output
    }
    a
  }

  private val jobListener = new SparkListener {
    private val stageOwner = mutable.Map[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toLong)
      val batch = prop("streaming.sql.batchId")
      val execution = prop("spark.sql.execution.id")
      Tracer.this.synchronized {
        val fresh = e.stageIds.filterNot(stageOwner.contains)
        fresh.foreach(stageOwner(_) = e.jobId)
        jobs += Job(e.jobId, System.nanoTime(), execution, batch, open, fresh)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach(_.t1 = System.nanoTime())
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        val owner = Layers.planOwner(s.physicalPlanDescription)
        Tracer.this.synchronized(executionOwner(s.executionId) = owner)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch"))
        Tracer.this.synchronized(progress += Progress(p.batchId, p.numInputRows, d))
    }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued listener event, then unregister. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
}
