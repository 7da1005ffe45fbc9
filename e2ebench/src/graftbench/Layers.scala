package graftbench

/** Per-layer metrics of a traced run. Every workload reports every
  * metric in [[Units]]; a layer the workload does not call reports 0.
  */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "ingest.call_s" -> "s", "ingest.task_s" -> "s", "ingest.jobs_per_batch" -> "count",
    "ingest.read_amplification" -> "ratio", "ingest.jobs_per_file" -> "count",
    "ingest.driver_gap_s" -> "s", "ingest.rejected_files" -> "count",
    "sink.call_s" -> "s", "sink.jobs_per_batch" -> "count", "sink.task_s" -> "s",
    "sink.read_amplification" -> "ratio", "sink.files_written" -> "count",
    "sink.bytes_written" -> "bytes",
    "query.plan_ms" -> "ms", "query.exec_ms" -> "ms", "query.jobs_per_op" -> "count",
    "query.stages_per_op" -> "count", "query.tasks_per_op" -> "count",
    "query.driver_gap_ms" -> "ms", "query.rows_read_per_row_returned" -> "ratio",
    "query.point_ms" -> "ms", "query.count_ms" -> "ms",
    "operators.neardup_append_s" -> "s", "operators.vector_append_s" -> "s",
    "operators.jobs_per_append" -> "count", "operators.neardup_probe_ms" -> "ms",
    "operators.vector_probe_ms" -> "ms", "operators.jobs_per_probe" -> "count",
    "operators.forget_s" -> "s", "operators.vacuum_s" -> "s",
    "operators.neardup_recall" -> "ratio", "operators.vector_recall_at_k" -> "ratio",
    "state.committed_batches" -> "count", "state.index_files" -> "count",
    "state.index_bytes_per_corpus_byte" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_gap_share" -> "ratio",
    "trace.overhead_share" -> "ratio", "trace.unattributed_share" -> "ratio",
    "trace.unattributed_wall_share" -> "ratio")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics(w: Workload, plain: Main.Phase, traced: Main.Phase): Seq[(String, Double, String)] = {
    val t = traced.trace.get
    def spans(p: String => Boolean) = t.spans.filter(s => p(s.name))
    def dur(ss: Seq[Span]) = ss.map(t.selfMs(_).toDouble)
    def jobs(ss: Seq[Span]) = ss.map(t.workOf(_).jobs.toDouble)
    def sum(ss: Seq[Span])(f: Work => Long) = ss.map(s => f(t.workOf(s)).toDouble).sum
    def extra(k: String, ops: Seq[Op] = traced.ops) = ops.flatMap(_.extra.get(k))

    val m = Map.newBuilder[String, Double]
    val landed = extra("landed_bytes").sum

    val ingest = spans(_.startsWith("ingest."))
    m += "ingest.call_s" -> med(dur(ingest)) / 1000
    m += "ingest.task_s" -> med(ingest.map(t.workOf(_).taskMs.toDouble)) / 1000
    m += "ingest.jobs_per_batch" -> mean(jobs(ingest))
    m += "ingest.read_amplification" -> ratio(sum(ingest)(_.bytesRead), landed)
    m += "ingest.jobs_per_file" -> ratio(jobs(ingest).sum, extra("files").sum)
    m += "ingest.driver_gap_s" -> med(ingest.map(t.driverGapMs(_).toDouble)) / 1000
    m += "ingest.rejected_files" -> extra("rejected").sum

    val save = spans(_ == "sink.save")
    m += "sink.call_s" -> med(dur(save)) / 1000
    m += "sink.jobs_per_batch" -> mean(jobs(save))
    m += "sink.task_s" -> med(save.map(t.workOf(_).taskMs.toDouble)) / 1000
    m += "sink.read_amplification" -> ratio(sum(save)(_.bytesRead), landed)
    m += "sink.files_written" -> mean(extra("files_written"))
    m += "sink.bytes_written" -> mean(save.map(t.workOf(_).bytesWritten.toDouble))

    val query = spans(_.startsWith("query."))
    m += "query.plan_ms" -> med(w.queries.map(_.planMs).toSeq)
    m += "query.exec_ms" -> med(w.queries.map(_.execMs).toSeq)
    m += "query.jobs_per_op" -> mean(jobs(query))
    m += "query.stages_per_op" -> mean(query.map(t.workOf(_).stages.toDouble))
    m += "query.tasks_per_op" -> mean(query.map(t.workOf(_).tasks.toDouble))
    m += "query.driver_gap_ms" -> med(query.map(t.driverGapMs(_).toDouble))
    m += "query.rows_read_per_row_returned" ->
      ratio(sum(query)(_.recordsRead), w.queries.map(_.rows.toDouble).sum)
    Seq("point", "count").foreach(k =>
      m += s"query.${k}_ms" -> med(dur(spans(_ == s"query.$k"))))

    val ndAppend = spans(_ == "operators.neardup_append")
    val vAppend = spans(_ == "operators.vector_append")
    val ndProbe = spans(_ == "operators.neardup_probe")
    val vProbe = spans(_ == "operators.vector_probe")
    m += "operators.neardup_append_s" -> med(dur(ndAppend)) / 1000
    m += "operators.vector_append_s" -> med(dur(vAppend)) / 1000
    m += "operators.jobs_per_append" -> ratio(jobs(ndAppend ++ vAppend).sum, ndAppend.size)
    m += "operators.neardup_probe_ms" -> med(dur(ndProbe))
    m += "operators.vector_probe_ms" -> med(dur(vProbe))
    m += "operators.jobs_per_probe" -> ratio(jobs(ndProbe ++ vProbe).sum, ndProbe.size)
    m += "operators.forget_s" -> med(dur(spans(_ == "operators.forget"))) / 1000
    m += "operators.vacuum_s" -> med(dur(spans(_ == "operators.vacuum"))) / 1000

    val all = t.total
    val wall = (traced.endMs - traced.startMs).toDouble
    m += "spark.jobs" -> all.jobs
    m += "spark.stages" -> all.stages
    m += "spark.tasks" -> all.tasks
    m += "spark.task_s" -> all.taskMs / 1000.0
    m += "spark.gc_s" -> all.gcMs / 1000.0
    m += "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble
    m += "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble
    m += "spark.spill_bytes" -> all.spill.toDouble
    m += "spark.driver_gap_share" ->
      ratio(Stats.gap(all.jobIntervals.toSeq, traced.startMs, traced.endMs).toDouble, wall)

    m += "trace.overhead_share" ->
      ratio(med(traced.ops.map(_.ms)), med(plain.ops.map(_.ms))).-(1.0)
    m += "trace.unattributed_share" -> ratio(t.unattributed.jobs, all.jobs)
    val roots = t.spans.filter(_.parent < 0).map(s => (s.startMs, s.endMs))
    m += "trace.unattributed_wall_share" -> ratio(Stats.gap(roots, traced.startMs, traced.endMs).toDouble, wall)

    val got = m.result() ++ w.stateMetrics
    Units.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
  }
}
