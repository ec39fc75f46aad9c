package perfbench

/** Per-layer metrics of a traced window, from the tracer's spans, jobs
  * and micro-batch progress reports. Every name is always present (zero
  * when the layer was idle), so runs of different workloads line up.
  */
object Layers {
  /** Queries whose own time and job count are reported. */
  val Named = Seq("dd13", "dd08", "dd04", "s02", "t03", "q34")
  val Families = Seq("q", "t", "dd", "s", "mm")
  val Sinks = Seq("stats", "dedup", "cluster", "metrics")

  /** Sink store directories end in these names (see [[IngestSinks]]). */
  val SinkDirs = Seq("cluster" -> "/sink-cluster", "metrics" -> "/sink-metrics",
    "dedup" -> "/sink-dedup", "stats" -> "/sink-stats")

  /** Which epoch stage ran a SQL execution, from the store directories its
    * physical plan reads or writes. Every epoch job shares the streaming
    * query's call site (Spark pins it to the query start), so the plan is
    * what tells the merge and the four sinks apart. The cluster fold also
    * reads the dedup index, hence the order.
    */
  def planOwner(plan: String): String =
    SinkDirs.collectFirst { case (sink, d) if plan.contains(d) => sink }.getOrElse("merge")

  def summarize(t: Tracer, w: Window): Map[String, Double] = {
    val events = w.events
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spans = t.spans.toSeq
    val jobs = t.jobs.toSeq
    def iv(js: Seq[t.Job]) = js.map(j => (j.t0, if (j.t1 > 0) j.t1 else j.t0))
    def sumAgg(js: Seq[t.Job]) = js.map(t.agg).foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, c, d), s) => (a + s.shuffleWrite, b + s.spill, c + s.input, d + s.output)
    }

    // streaming: micro-batch phases and the calls that ran them
    val pr = t.progress.toSeq
    def dur(k: String*) = pr.map(p => k.map(p.durations.getOrElse(_, 0L)).sum).sum / 1e3
    val trigger = dur("triggerExecution")
    val calls = spans.filter(s => s.name.startsWith("streaming.")).map(_.seconds).sum
    out ++= Seq(
      "streaming.epochs" -> pr.size.toDouble,
      "streaming.input_rows" -> pr.map(_.rows).sum.toDouble,
      "streaming.trigger_s" -> trigger,
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.offset_log_s" -> dur("walCommit", "commitOffsets"),
      "streaming.plan_s" -> dur("latestOffset", "getBatch", "queryPlanning"),
      "streaming.start_stop_s" -> math.max(calls - trigger, 0.0))

    // operators: epoch jobs by the engine object that started them
    val epochJobs = jobs.filter(_.batchId.nonEmpty)
    val byOwner = epochJobs.groupBy(t.ownerOfEpochJob)
    val merge = byOwner.getOrElse("merge", Nil)
    val (mShuffle, mSpill, _, mOut) = sumAgg(merge)
    val addBatch = pr.map(p => p.batchId -> p.durations.getOrElse("addBatch", 0L) / 1e3).toMap
    val driverOnly = epochJobs.groupBy(_.batchId.get).map { case (b, js) =>
      math.max(addBatch.getOrElse(b, 0.0) - Stats.union(iv(js)), 0.0)
    }.sum
    out ++= Seq(
      "operators.merge.jobs" -> merge.size.toDouble,
      "operators.merge.stages" -> merge.map(_.stages.size).sum.toDouble,
      "operators.merge.job_s" -> Stats.union(iv(merge)),
      "operators.merge.driver_only_s" -> driverOnly,
      "operators.merge.shuffle_write_bytes" -> mShuffle.toDouble,
      "operators.merge.spill_bytes" -> mSpill.toDouble,
      "operators.merge.output_bytes" -> mOut.toDouble,
      "operators.merge.mor_epochs" -> 0.0)
    Sinks.foreach { s =>
      val js = byOwner.getOrElse(s, Nil)
      out(s"operators.$s.jobs") = js.size.toDouble
      out(s"operators.$s.job_s") = Stats.union(iv(js))
    }
    val sinkJobs = Sinks.flatMap(byOwner.getOrElse(_, Nil))
    val (sShuffle, _, sInput, _) = sumAgg(sinkJobs)
    out ++= Seq(
      "operators.sinks.input_bytes_per_event" -> (if (events > 0) sInput / events else 0.0),
      "operators.sinks.shuffle_write_bytes" -> sShuffle.toDouble,
      "operators.sinks.index_bytes" -> 0.0)

    // table: client calls, by the benchmark span that was open at job start
    def owned(name: String) = jobs.filter(j => j.batchId.isEmpty &&
      t.ownerOf(j, _.startsWith("table.")).exists(_.name == name))
    val maintainJobs = owned("table.maintain")
    out ++= Seq(
      "table.read_live.jobs" -> owned("table.read_live").size.toDouble,
      "table.read_live.input_bytes" -> sumAgg(owned("table.read_live"))._3.toDouble,
      "table.changes.jobs" -> owned("table.changes").size.toDouble,
      "table.changes.input_bytes" -> sumAgg(owned("table.changes"))._3.toDouble,
      "table.maintain_s" -> spans.filter(_.name == "table.maintain").map(_.seconds).sum,
      "table.maintain.compactions" -> 0.0,
      "table.maintain.bytes_rewritten" -> sumAgg(maintainJobs)._4.toDouble,
      "table.files_live" -> 0.0,
      "table.delta_files_live" -> 0.0,
      "table.bytes_live" -> 0.0,
      "table.manifest_bytes" -> 0.0,
      "table.bytes_written_per_event" -> (if (events > 0) mOut / events else 0.0))

    // analytics: one span per query, build and action spans inside it
    val qSpans = spans.filter(_.name.startsWith("analytics.query:"))
    def qid(s: t.Span) = s.name.stripPrefix("analytics.query:").takeWhile(_ != '_')
    val qJobs = jobs.filter(j => j.batchId.isEmpty && t.ownerOf(j, _.startsWith("analytics.query:")).nonEmpty)
    val (aShuffle, aSpill, _, _) = sumAgg(qJobs)
    out ++= Seq(
      "analytics.build_s" -> spans.filter(_.name == "analytics.build").map(_.seconds).sum,
      "analytics.action_s" -> spans.filter(_.name == "analytics.action").map(_.seconds).sum,
      "analytics.jobs" -> qJobs.size.toDouble,
      "analytics.stages" -> qJobs.map(_.stages.size).sum.toDouble,
      "analytics.shuffle_write_bytes" -> aShuffle.toDouble,
      "analytics.spill_bytes" -> aSpill.toDouble)
    // per pass: a query suite window runs one or more whole passes
    val passes = math.max(w.units.size, 1).toDouble
    Families.foreach { f =>
      out(s"analytics.family.${f}_s") =
        qSpans.filter(s => qid(s).takeWhile(_.isLetter) == f).map(_.seconds).sum / passes
    }
    Named.foreach { q =>
      out(s"analytics.$q.s") = qSpans.filter(qid(_) == q).map(_.seconds).sum / passes
      out(s"analytics.$q.jobs") = qJobs.count(j =>
        t.ownerOf(j, _.startsWith("analytics.query:")).exists(s => qid(s) == q)) / passes
    }

    // reconciliation: the window's wall against the benchmark's own spans
    val top = spans.filter(_.parent < 0).map(_.seconds).sum
    out ++= Seq(
      "trace.span_coverage" -> (if (w.wall > 0) top / w.wall else 0.0),
      "trace.gap_s" -> math.max(w.wall - top, 0.0))
    out.toMap
  }
}
