package valbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, ValbenchBridge}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval: `layer` is the library module whose public function
  * (or the Spark action on its output) runs inside it; `op` is the timed
  * operation it belongs to (-1 outside any operation). */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Int,
                      startNs: Long, var endNs: Long = 0L)

/** Task metrics summed over every task attributed to a span. */
final class TaskAgg {
  var jobs = 0; var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var bytesRead = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var jobWaitMs = 0L
  def add(o: TaskAgg): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; bytesRead += o.bytesRead; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; jobWaitMs += o.jobWaitMs
  }
}

/** What one executed query plan contains, recorded by the query listener. */
final case class PlanShape(sourceScans: Int, walkSites: Int, exprNodes: Int, planMs: Long,
                           sinkFiles: Long, sinkBytes: Long, sinkRows: Long)

/** Spans kept in memory, with Spark task metrics and executed-plan shapes
  * attributed to them. Everything is recorded from outside the library: a
  * span wraps a call into a layer's public function or an action on its
  * output, and runs under its own job group, so the listeners can map each
  * job and each query back to the span that caused it. */
final class Tracer(spark: SparkSession, sourceRoots: Seq[String]) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile private var innermost = 0
  var op: Int = -1

  val perSpan = new ConcurrentHashMap[Int, TaskAgg]()
  val shapes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[PlanShape]]()
  /** Task run times per stage that read shuffle data, by span (skew). */
  val shuffleStageTasks = new ConcurrentHashMap[Int, mutable.Map[Int, mutable.ArrayBuffer[Long]]]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStarted = ConcurrentHashMap.newKeySet[Int]()

  private def agg(span: Int): TaskAgg = perSpan.computeIfAbsent(span, _ => new TaskAgg)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // a micro-batch's jobs carry its batch id; any other job outside a
      // bench job group belongs to the innermost span open when it started
      val span = prop("spark.jobGroup.id").collect { case g if g.startsWith("vb-") => g.stripPrefix("vb-").toInt }
        .orElse(prop("streaming.sql.batchId").map(b => Tracer.batchKey(b.toLong)))
        .getOrElse(innermost)
      e.stageIds.foreach { s => stageSpan.put(s, span); stageJob.put(s, e.jobId) }
      jobSubmit.put(e.jobId, e.time)
      agg(span).synchronized { agg(span).jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span: Int = stageSpan.getOrDefault(e.stageId, innermost)
      val a = agg(span)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        val job = stageJob.getOrDefault(e.stageId, -1)
        if (job >= 0 && jobStarted.add(job))
          a.jobWaitMs += math.max(0L, e.taskInfo.launchTime - jobSubmit.getOrDefault(job, e.taskInfo.launchTime))
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          a.bytesRead += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          if (m.shuffleReadMetrics.totalBytesRead > 0)
            shuffleStageTasks.computeIfAbsent(span, _ => mutable.Map())
              .getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = Tracer.shapeOf(qe, sourceRoots)
      shapes.computeIfAbsent(innermost, _ => mutable.ArrayBuffer()).synchronized {
        shapes.get(innermost) += s
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var active = false

  /** Registers the listeners, after draining the bus so that events of
    * untraced work are not attributed; [[stop]] drains and removes them. */
  def start(): Unit = if (!active) {
    drain()
    sc.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  def stop(): Unit = if (active) {
    drain()
    sc.removeSparkListener(taskListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    active = false
  }

  def drain(): Unit = ValbenchBridge.drain(sc)

  def span[A](layer: String, name: String)(f: => A): A = {
    val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), layer, name, op,
      System.nanoTime())
    spans += s
    stack = s :: stack
    innermost = s.id
    sc.setJobGroup(s"vb-${s.id}", s"$layer.$name", interruptOnCancel = false)
    try { val a = f; drain(); a }
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      innermost = stack.headOption.map(_.id).getOrElse(0)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"vb-${p.id}", s"${p.layer}.${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds a finished span whose interval was measured elsewhere (a
    * micro-batch, timed by the stream's own progress report). */
  def record(layer: String, name: String, op: Int, startNs: Long, endNs: Long): Unit =
    spans += Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), layer, name, op,
      startNs, endNs)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part of it covered by its children. */
  def selfNs(s: Span): Long = {
    val ivs = children(s.id).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs) - covered
  }

  /** All spans below `id`, itself included. */
  def subtree(id: Int): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    def go(i: Int): Unit = spans.foreach { s => if (s.id == i) out += s }
    def kids(i: Int): Unit = children(i).foreach { c => out += c; kids(c.id) }
    go(id); kids(id); out.toSeq
  }

  def tasksOf(spanIds: Seq[Int]): TaskAgg = {
    val t = new TaskAgg
    spanIds.foreach(i => Option(perSpan.get(i)).foreach(t.add))
    t
  }

  def shapesOf(spanIds: Seq[Int]): Seq[PlanShape] =
    spanIds.flatMap(i => Option(shapes.get(i)).map(_.toSeq).getOrElse(Nil))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val r = new java.util.LinkedHashMap[String, Any]()
      r.put("id", s.id); r.put("parent", s.parent); r.put("layer", s.layer); r.put("name", s.name)
      r.put("op", s.op)
      r.put("start_ms", (s.startNs - t0) / 1e6); r.put("end_ms", (s.endNs - t0) / 1e6)
      r.put("self_ms", selfNs(s) / 1e6)
      Option(perSpan.get(s.id)).foreach { a =>
        r.put("jobs", a.jobs); r.put("tasks", a.tasks); r.put("task_run_s", a.runMs / 1e3)
        r.put("cpu_s", a.cpuNs / 1e9)
        r.put("bytes_read", a.bytesRead); r.put("shuffle_write_bytes", a.shuffleWrite)
      }
      m.writeValueAsString(r)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {

  /** Key under which the task metrics of micro-batch `batchId` are kept. */
  def batchKey(batchId: Long): Int = 1000000 + batchId.toInt

  /** Children of a physical plan node, looking through adaptive execution
    * wrappers and query stages, which hide the plan they run. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  def shapeOf(qe: QueryExecution, sourceRoots: Seq[String]): PlanShape = {
    val all = nodes(qe.executedPlan)
    val scans = all.count {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(p => sourceRoots.exists(r => p.toString.contains(r)))
      case _ => false
    }
    def exprs(e: Expression): Seq[Expression] = e +: e.children.flatMap(exprs)
    val allExprs = all.flatMap(_.expressions).flatMap(exprs)
    val walks = allExprs.count(_.getClass.getSimpleName == "ValidateJsonExpr")
    val phases = qe.tracker.phases
    val planMs = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val write = all.collectFirst { case w: DataWritingCommandExec => w.metrics }
    def wm(k: String) = write.flatMap(_.get(k)).map(_.value).getOrElse(0L)
    PlanShape(scans, walks, allExprs.size, planMs, wm("numFiles"), wm("numOutputBytes"),
      wm("numOutputRows"))
  }
}
