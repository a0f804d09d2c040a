package valbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from the spans, the task metrics and
  * the executed-plan shapes the [[Tracer]] attributed to them. Every
  * workload reports every metric; a layer that does no work on a workload
  * reports 0 there. Values are medians over the traced operations unless
  * the name says otherwise. */
object Layers {

  val selfLayers = Seq("io", "functions", "run", "checks")

  def metrics(spark: SparkSession, w: Workload, t: Tracer, ops: Seq[OpSample],
              parseMs: Double): Seq[(String, (Double, String))] = {
    import Run.{median => med}
    val traced = ops.filter(o => o.traced && o.error.isEmpty)
    val untraced = ops.filter(o => !o.traced && !o.warm && o.error.isEmpty)

    // calibration: a scan that reads every column of one operation's input
    // and does nothing else, then the validation expression built alone
    t.start()
    t.op = -1
    val scans = (1 to 3).map { _ =>
      t.span("io", "scan.calibration") {
        spark.read.parquet(w.scanInput: _*).write.format("noop").mode("overwrite").save()
      }
      t.spans.last
    }
    val scanS = med(scans.map(s => (s.endNs - s.startNs) / 1e9))
    val scanCpu = med(scans.map(s => t.tasksOf(Seq(s.id)).cpuNs / 1e9))
    val compiles = (1 to 5).map { _ =>
      t.span("compile", "compile")(w.compileOnce(spark))
      val s = t.spans.last
      (s.endNs - s.startNs) / 1e6
    }

    val stream = w.isInstanceOf[StreamVerdicts]
    val progress = t.progress.synchronized(t.progress.toSeq).map(_.progress).filter(_.numInputRows > 0)

    // per-operation span sets; a micro-batch's jobs are keyed by its batch id
    def root(i: Int) = t.spans.find(s => s.layer == "op" && s.op == i)
    def inOp(i: Int): Seq[Span] = root(i).map(r => t.subtree(r.id)).getOrElse(Nil)
    def named(i: Int, names: String*): Seq[Span] = inOp(i).filter(s => names.contains(s.name))
    def tasks(spans: Seq[Span]) = t.tasksOf(spans.map(_.id))
    def cpu(spans: Seq[Span]) = tasks(spans).cpuNs / 1e9
    def wall(spans: Seq[Span]) = spans.map(s => (s.endNs - s.startNs) / 1e9).sum
    def shapes(spans: Seq[Span]) = t.shapesOf(spans.map(_.id))
    def perOp(f: Int => Double): Double =
      if (stream) med(progress.map(p => f(Tracer.batchKey(p.batchId))))
      else med(traced.map(o => f(o.idx)))
    def opTasks(i: Int) = if (stream) t.tasksOf(Seq(i)) else tasks(inOp(i))
    def opShapes(i: Int) = if (stream) w.asInstanceOf[StreamVerdicts].lastPlan.toSeq else shapes(inOp(i))
    def only(names: String*)(f: Seq[Span] => Double): Double =
      if (stream) 0.0 else perOp(i => f(named(i, names: _*)))
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def state(p: org.apache.spark.sql.streaming.StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum.toDouble
    def streamMed(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (stream) med(progress.map(f)) else 0.0

    val name = w.name
    val rowPass = if (name == "table_pass") Seq("flagged.count") else Nil
    val walk = if (name == "tool_args_json") Seq("violations.write", "passes.count") else Nil
    val checkSpans = Seq("TableRunner.run", "uniqueness.collect", "referential.count", "stats.collect")
    val truthDocs = if (name == "tool_args_json") w.inputSummary(spark) else (0L, 0L, 0.0)
    val scansIn = (ss: Seq[Span]) => shapes(ss).map(_.sourceScans).sum.toDouble
    val sinkRows = (i: Int) => opShapes(i).map(_.sinkRows).sum.toDouble

    // batch spans, so the JSONL shows every micro-batch (progress times
    // are wall-clock; spans use the monotonic clock)
    val clockNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    progress.zipWithIndex.foreach { case (p, i) =>
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + clockNs
      t.record("streaming", "micro-batch", i, startNs, startNs + (dur(p, "triggerExecution") * 1e6).toLong)
    }

    val skew = (i: Int) => {
      val u = named(i, "uniqueness.collect")
      u.flatMap(s => Option(t.shuffleStageTasks.get(s.id)).map(_.values.toSeq).getOrElse(Nil))
        .filter(_.nonEmpty).map(ts => ts.max.toDouble / math.max(1.0, med(ts.map(_.toDouble).toSeq)))
        .foldLeft(0.0)(_ max _)
    }

    Seq(
      "io.source_scans" -> (perOp(i => opShapes(i).map(_.sourceScans).sum.toDouble), "count"),
      "io.scan_s" -> (scanS, "s"),
      "io.scan_cpu_s" -> (scanCpu, "s"),
      "io.scan_bytes" -> (perOp(i => opTasks(i).bytesRead.toDouble), "bytes"),
      "spec.parse_ms" -> (parseMs, "ms"),
      "compile.compile_ms" -> (med(compiles), "ms"),
      "compile.plan_ms" -> (if (stream) streamMed(dur(_, "queryPlanning"))
                            else perOp(i => opShapes(i).map(_.planMs).sum.toDouble), "ms"),
      "compile.expr_nodes" -> (perOp(i => opShapes(i).map(_.exprNodes).sum.toDouble), "count"),
      "compile.rowpass_cpu_s" -> (
        if (stream) perOp(i => t.tasksOf(Seq(i)).cpuNs / 1e9 - scanCpu)
        else if (rowPass.isEmpty) 0.0
        else perOp(i => cpu(named(i, rowPass: _*)) - scansIn(named(i, rowPass: _*)) * scanCpu), "s"),
      "functions.walk_cpu_s" -> (if (walk.isEmpty) 0.0
        else perOp(i => cpu(named(i, walk: _*)) - scansIn(named(i, walk: _*)) * scanCpu), "s"),
      "functions.walk_sites" -> (perOp(i => opShapes(i).map(_.walkSites).sum.toDouble), "count"),
      "functions.docs" -> (truthDocs._1.toDouble, "count"),
      "functions.parse_failures" -> (
        if (name == "tool_args_json") w.asInstanceOf[ToolArgs].malformed.toDouble else 0.0, "count"),
      "functions.fail_frac" -> (truthDocs._3, "ratio"),
      "run.rowpass_s" -> (
        if (stream) streamMed(dur(_, "addBatch")) / 1000
        else perOp(i => wall(named(i, (rowPass ++ walk): _*))), "s"),
      "run.verdicts_cpu_s" -> (only("verdicts.collect")(cpu), "s"),
      "run.violations_cpu_s" -> (only("violations.write")(cpu), "s"),
      "run.violation_rows" -> (only("violations.write")(ss => shapes(ss).map(_.sinkRows).sum.toDouble), "count"),
      "run.sink_bytes" -> (perOp(i => opShapes(i).map(_.sinkBytes).sum.toDouble), "bytes"),
      "run.sink_bytes_per_row" -> (perOp(i =>
        opShapes(i).map(_.sinkBytes).sum.toDouble / math.max(1.0, sinkRows(i))), "bytes"),
      "run.sink_files" -> (perOp(i => opShapes(i).map(_.sinkFiles).sum.toDouble), "count"),
      "run.jobs_per_op" -> (perOp(i => opTasks(i).jobs.toDouble), "count"),
      "run.tasks_per_op" -> (perOp(i => opTasks(i).tasks.toDouble), "count"),
      "run.gc_s" -> (perOp(i => opTasks(i).gcMs / 1000.0), "s"),
      "run.task_retries" -> (perOp(i => opTasks(i).failedTasks.toDouble), "count"),
      "checks.uniqueness_cpu_s" -> (only("uniqueness.collect")(cpu), "s"),
      "checks.referential_cpu_s" -> (only("referential.count")(cpu), "s"),
      "checks.stats_cpu_s" -> (only("stats.collect")(cpu), "s"),
      // TableRunner.run itself runs only the eager drift sketch job
      "checks.drift_cpu_s" -> (only("TableRunner.run")(cpu), "s"),
      "checks.shuffle_write_bytes" -> (only(checkSpans: _*)(tasks(_).shuffleWrite.toDouble), "bytes"),
      "checks.shuffle_read_bytes" -> (only(checkSpans: _*)(tasks(_).shuffleRead.toDouble), "bytes"),
      "checks.spill_bytes" -> (only(checkSpans: _*)(tasks(_).spill.toDouble), "bytes"),
      "checks.skew_ratio" -> (if (stream) 0.0 else perOp(skew), "ratio"),
      "checks.job_wait_s" -> (only(checkSpans: _*)(tasks(_).jobWaitMs / 1000.0), "s"),
      "streaming.add_batch_ms" -> (streamMed(dur(_, "addBatch")), "ms"),
      "streaming.query_planning_ms" -> (streamMed(dur(_, "queryPlanning")), "ms"),
      "streaming.wal_commit_ms" -> (streamMed(dur(_, "walCommit")), "ms"),
      "streaming.get_batch_ms" -> (streamMed(dur(_, "getBatch")), "ms"),
      "streaming.state_rows" -> (streamMed(state(_)(_.numRowsTotal)), "count"),
      "streaming.state_bytes" -> (streamMed(state(_)(_.memoryUsedBytes)), "bytes"),
      "streaming.rows_per_batch" -> (streamMed(_.numInputRows.toDouble), "count"),
    ) ++ selfLayers.map { l =>
      s"$l.self_ms" -> (if (stream) 0.0 else perOp(i => inOp(i).filter(_.layer == l).map(t.selfNs).sum / 1e6), "ms")
    } ++ Seq(
      "streaming.self_ms" -> (streamMed(dur(_, "triggerExecution")), "ms"),
      "trace.traced_ops" -> ((if (stream) progress.size else traced.size).toDouble, "count"),
      "trace.overhead_pct" -> (
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else (med(traced.map(_.ms)) / med(untraced.map(_.ms)) - 1) * 100, "%"))
  }
}
