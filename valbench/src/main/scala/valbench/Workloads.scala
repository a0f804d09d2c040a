package valbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Graft
import graft.checks.Drift
import graft.compile.Compiler
import graft.run.TableRunner
import graft.run.TableRunner._
import graft.spec.SchemaSpec
import graft.streaming.StreamingValidator

/** One operation: its latency and the rows (turns or documents) it
  * processed. `warm` marks operations of the untimed warm-up window, which
  * are checked but not measured; `traced` marks operations run with tracing
  * on. */
final case class OpSample(idx: Int, ms: Double, rows: Long, warm: Boolean, traced: Boolean,
                          error: Option[String])

/** A closed-loop workload: one client thread issues each operation only
  * after the previous one finished. */
abstract class Workload(val in: Inputs, val out: Path) {
  def name: String = in.workload
  def rowUnit: String

  /** Milliseconds spent in `Graft.parseSchema` by the last [[prepare]]. */
  var parseMs = 0.0

  /** Parses the schemas and builds the validation config. */
  def prepare(spark: SparkSession): Unit

  /** Runs the operation once untimed, on input of the timed operations'
    * size. */
  def warmup(spark: SparkSession): Unit

  /** Seconds of operations, after set-up, that run untimed so the JIT has
    * compiled the hot paths before timing starts. */
  def settleSeconds: Double

  /** Runs operations until `deadlineNs`; those started before `timedFromNs`
    * are warm-up. With a tracer, odd timed operations are traced and even
    * ones are not; a stream, whose batches run on their own, is traced from
    * `traceFromNs` on. */
  def measure(spark: SparkSession, timedFromNs: Long, traceFromNs: Long, deadlineNs: Long,
              tracer: Option[Tracer]): Seq[OpSample]

  /** Compares every operation's output with the generator's truth:
    * op index -> mismatches. Not timed. */
  def check(spark: SparkSession, ops: Seq[OpSample]): Map[Int, Seq[String]]

  /** (rows, parquet bytes, failing-row share) of the input one operation reads. */
  def inputSummary(spark: SparkSession): (Long, Long, Double)

  /** Input the scan calibration reads: what one operation scans. */
  def scanInput: Seq[String]

  /** Roots of the input files, to count source scans in executed plans. */
  def sourceRoots: Seq[String] = Seq(in.dir.toString)

  /** Builds the validation expression once, for `compile.compile_ms`. */
  def compileOnce(spark: SparkSession): Unit

  protected def parse(json: String): SchemaSpec = {
    val t0 = System.nanoTime()
    val s = Graft.parseSchema(json)
    parseMs += (System.nanoTime() - t0) / 1e6
    s
  }

  protected def sp[A](t: Option[Tracer], layer: String, name: String)(f: => A): A =
    t match { case Some(tr) => tr.span(layer, name)(f); case None => f }

  /** Shared closed loop for workloads whose operations the client issues.
    * Traced and untraced operations alternate, so the untraced ones give the
    * baseline for the tracing overhead. */
  protected def loop(timedFromNs: Long, deadlineNs: Long, tracer: Option[Tracer])
                    (op: (Int, Option[Tracer]) => Long): Seq[OpSample] = {
    val out = mutable.ArrayBuffer[OpSample]()
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      val warm = System.nanoTime() < timedFromNs
      val t = tracer.filter(_ => !warm && i % 2 == 1)
      t.foreach { tr => tr.start(); tr.op = i }
      val t0 = System.nanoTime()
      val (rows, err) =
        try (sp(t, "op", "op")(op(i, t)), None)
        catch { case e: Exception => (0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      out += OpSample(i, (System.nanoTime() - t0) / 1e6, rows, warm, t.isDefined, err)
      t.foreach { tr => tr.op = -1; tr.stop() }
      i += 1
    }
    out.toSeq
  }

  protected def kindCounts(df: DataFrame, keys: String*): Map[Seq[Any], Map[String, Long]] =
    df.groupBy((keys :+ "kind").map(col): _*).count().collect().toSeq
      .groupBy(r => keys.indices.map(r.get))
      .map { case (k, rs) => k -> rs.map(r => r.getString(keys.length) -> r.getLong(keys.length + 1)).toMap }

  protected def diff(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** Transcript faults expected per partition (or in total) from the truth
  * sidecar. */
final case class PartTruth(rows: Long, fail: Long, kinds: Map[String, Long])

object PartTruth {
  def of(n: JsonNode): PartTruth =
    PartTruth(n.get("rows").asLong, n.get("fail_rows").asLong,
      n.get("kinds").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
}

// ---------------------------------------------------------------------------

/** The whole-table job: `TableRunner.run` with uniqueness, referential,
  * stats and drift specs, every report output materialized. */
final class TablePass(in: Inputs, out: Path) extends Workload(in, out) {
  def rowUnit = "turns"
  def settleSeconds = 10.0
  private val keys = Seq("conv_id", "turn_idx")
  private var cfg: TableValidationConfig = _
  private val sink = out.resolve("violations").toString

  private case class Result(op: Int, passes: Long, verdicts: Array[Row], dups: Array[Row],
                            refMisses: Long, stats: Array[Row], drift: Drift.DriftVerdict)
  private val results = mutable.Map[Int, Result]()
  private lazy val truthParts: Map[Int, PartTruth] =
    in.truth.get("parts").properties().asScala.map(e => e.getKey.toInt -> PartTruth.of(e.getValue)).toMap
  private lazy val total = PartTruth.of(in.truth.get("total"))

  def prepare(spark: SparkSession): Unit = {
    val spec = parse(Gen.transcriptSchema)
    val counts = in.truth.get("hist").elements().asScala.map(_.asLong).toArray
    cfg = TableValidationConfig(spec, keys,
      uniqueness = Seq(UniquenessSpec(keys)),
      referential = Seq(ReferentialSpec("tool", Left(Gen.toolVocab))),
      statsCols = Seq("role", "text", "turn_idx"),
      drift = Seq(DriftSpec("text", Some(length(col("text")).cast("double")),
        Drift.Histogram(0, 200, counts))))
  }

  private def pass(spark: SparkSession, src: String, dest: String, op: Int, t: Option[Tracer]): Result = {
    val df = sp(t, "io", "read.parquet")(spark.read.parquet(src))
    // the drift sketches are the report's one eager part: their job runs here
    val rep = sp(t, "run", "TableRunner.run")(TableRunner.run(df, cfg))
    val passes = sp(t, "run", "flagged.count")(rep.flagged.where(col("pass")).count())
    sp(t, "run", "violations.write")(rep.violations.write.mode("overwrite").parquet(s"$dest/op=$op"))
    val verdicts = sp(t, "run", "verdicts.collect")(rep.partitionVerdicts.collect())
    val dups = sp(t, "checks", "uniqueness.collect")(rep.duplicateKeys.values.head.collect())
    val refs = sp(t, "checks", "referential.count")(rep.referentialViolations.values.head.count())
    val stats = sp(t, "checks", "stats.collect")(rep.stats.get.collect())
    Result(op, passes, verdicts, dups, refs, stats, rep.driftVerdicts.head._2)
  }

  def warmup(spark: SparkSession): Unit = {
    pass(spark, in.path("table"), out.resolve("warm").toString, 0, None); ()
  }

  def measure(spark: SparkSession, timedFromNs: Long, traceFromNs: Long, deadlineNs: Long,
              tracer: Option[Tracer]): Seq[OpSample] = {
    loop(timedFromNs, deadlineNs, tracer) { (i, t) =>
      results(i) = pass(spark, in.path("table"), sink, i, t); total.rows
    }
  }

  def check(spark: SparkSession, ops: Seq[OpSample]): Map[Int, Seq[String]] = {
    val dupTruth = in.truth.get("dups").elements().asScala.map(d => (d.get(0).asText, d.get(1).asInt)).toSet
    val written = spark.read.parquet(sink)
    val kinds = kindCounts(written, "op")
    val perPart = written.groupBy("op", "part_id").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    ops.filter(_.error.isEmpty).map { o =>
      val r = results(o.idx)
      val errs = mutable.ArrayBuffer[String]()
      errs ++= diff("passing rows", r.passes, total.rows - total.fail)
      errs ++= diff("violations by kind", kinds.getOrElse(Seq(o.idx), Map()), total.kinds)
      r.verdicts.foreach { v =>
        val part = v.getAs[Int]("part_id")
        val want = truthParts.getOrElse(part, PartTruth(0, 0, Map()))
        val (rows, fail, nv) = (v.getAs[Long]("rows"), v.getAs[Long]("fail_rows"), v.getAs[Long]("violation_count"))
        errs ++= diff(s"part $part rows/fail_rows/violations", (rows, fail, nv),
          (want.rows, want.fail, want.kinds.values.sum))
        if (v.getAs[Boolean]("pass") != (nv == 0))
          errs += s"part $part: pass=${v.getAs[Boolean]("pass")} with $nv violations"
        errs ++= diff(s"part $part violation rows written", perPart.getOrElse((o.idx, part), 0L), nv)
      }
      errs ++= diff("verdict partitions", r.verdicts.length, truthParts.size)
      errs ++= diff("duplicate keys",
        r.dups.map(d => (d.getString(0), d.getInt(1), d.getLong(2))).toSet, dupTruth.map(k => (k._1, k._2, 2L)))
      errs ++= diff("referential misses", r.refMisses, total.kinds.getOrElse("pattern", 0L))
      r.stats.foreach { s =>
        val part = s.getAs[Int]("part_id")
        errs ++= diff(s"part $part stats rows", s.getAs[Long]("text_rows"), truthParts(part).rows)
      }
      if (!r.drift.pass || r.drift.value > 1e-9) errs += s"drift: ${r.drift} against the input's own histogram"
      o.idx -> errs.toSeq
    }.filter(_._2.nonEmpty).toMap
  }

  def inputSummary(spark: SparkSession): (Long, Long, Double) =
    (total.rows, in.bytes("table"), total.fail.toDouble / total.rows)

  def scanInput: Seq[String] = Seq(in.path("table"))
  def compileOnce(spark: SparkSession): Unit =
    Compiler.compileRow(cfg.rowSpec, spark.read.parquet(in.path("table")).schema)
}

// ---------------------------------------------------------------------------

/** valijson's own job: each tool call's argument document validated against
  * its tool's schema, violations exploded and written, passes counted. */
final class ToolArgs(in: Inputs, out: Path) extends Workload(in, out) {
  def rowUnit = "docs"
  def settleSeconds = 6.0
  private var specs: Map[String, SchemaSpec] = Map()
  private val sink = out.resolve("violations").toString
  private val passes = mutable.Map[Int, Long]()

  def prepare(spark: SparkSession): Unit =
    specs = (0 until Gen.numTools).map(k => Gen.toolName(k) -> parse(Gen.toolSchema(k))).toMap

  private def pass(spark: SparkSession, src: String, dest: String, op: Int, t: Option[Tracer]): Long = {
    val df = sp(t, "io", "read.parquet")(spark.read.parquet(src))
    val flagged = sp(t, "functions", "validateJsonColumnBy")(
      Graft.validateJsonColumnBy(df, "args", "tool", specs))
    sp(t, "run", "violations.write")(flagged.where(!col("pass"))
      .select(col("doc_id"), posexplode(col("violations")).as(Seq("seq", "v")))
      .select(col("doc_id"), col("seq"), col("v.kind").as("kind"), col("v.json_pointer").as("json_pointer"))
      .write.mode("overwrite").parquet(s"$dest/op=$op"))
    sp(t, "run", "passes.count")(flagged.where(col("pass")).count())
  }

  def warmup(spark: SparkSession): Unit = {
    pass(spark, in.path("docs"), out.resolve("warm").toString, 0, None); ()
  }

  private lazy val docs = in.truth.get("docs").asLong
  lazy val malformed: Long = in.truth.get("malformed").asLong

  def measure(spark: SparkSession, timedFromNs: Long, traceFromNs: Long, deadlineNs: Long,
              tracer: Option[Tracer]): Seq[OpSample] =
    loop(timedFromNs, deadlineNs, tracer) { (i, t) =>
      passes(i) = pass(spark, in.path("docs"), sink, i, t); docs
    }

  def check(spark: SparkSession, ops: Seq[OpSample]): Map[Int, Seq[String]] = {
    val wantPasses = in.truth.get("passes").asLong
    val wantKinds = in.truth.get("kinds").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    // per document: violation rows written == violations expected, so a
    // passing document must have none
    val wantPerDoc = spark.read.parquet(in.path("truth")).where(!col("exp_pass"))
      .select("doc_id", "exp_viol").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val written = spark.read.parquet(sink)
    val kinds = kindCounts(written, "op")
    val perDoc = written.groupBy("op", "doc_id").count().collect()
      .groupBy(_.getInt(0)).map { case (op, rs) => op -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    ops.filter(_.error.isEmpty).map { o =>
      val got = perDoc.getOrElse(o.idx, Map.empty[Long, Long])
      val wrong = (got.keySet ++ wantPerDoc.keySet).count(d => got.get(d) != wantPerDoc.get(d))
      val errs = diff("passing docs", passes(o.idx), wantPasses).toSeq ++
        diff("violations by kind", kinds.getOrElse(Seq(o.idx), Map()), wantKinds) ++
        (if (wrong > 0) Some(s"$wrong documents with a wrong violation count") else None)
      o.idx -> errs
    }.filter(_._2.nonEmpty).toMap
  }

  def inputSummary(spark: SparkSession): (Long, Long, Double) =
    (docs, in.bytes("docs"), 1 - in.truth.get("passes").asLong.toDouble / docs)

  def scanInput: Seq[String] = Seq(in.path("docs"))
  def compileOnce(spark: SparkSession): Unit =
    Graft.validateJsonColumnBy(spark.read.parquet(in.path("docs")), "args", "tool", specs)
}

// ---------------------------------------------------------------------------

/** Windowed verdicts over landing files, one file per micro-batch. */
final class StreamVerdicts(in: Inputs, out: Path) extends Workload(in, out) {
  def rowUnit = "turns"
  // the measured query's first batches also start its state store
  def settleSeconds = 4.0
  private var spec: SchemaSpec = _
  private lazy val schema = SparkSession.active.read.parquet(in.files("files").head).schema
  private val emitted = new ConcurrentHashMap[Long, Array[Row]]()
  /** Data micro-batches in order: (batch id, input rows). */
  private var batches = Seq.empty[(Long, Long)]
  /** Shape of the last micro-batch's executed plan. */
  var lastPlan: Option[PlanShape] = None

  def prepare(spark: SparkSession): Unit = spec = parse(Gen.transcriptSchema)

  private def start(spark: SparkSession, landing: String, ckpt: Path,
                    sink: ConcurrentHashMap[Long, Array[Row]]) = {
    Run.rmTree(ckpt)
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    val emit: (DataFrame, Long) => Unit = (b, id) => { sink.put(id, b.collect()); () }
    StreamingValidator.windowedVerdicts(stream, spec)
      .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(emit).start()
  }

  def warmup(spark: SparkSession): Unit =
    start(spark, in.dir.resolve("warm").toString, out.resolve("warm-ckpt"), new ConcurrentHashMap())
      .awaitTermination()

  def measure(spark: SparkSession, timedFromNs: Long, traceFromNs: Long, deadlineNs: Long,
              tracer: Option[Tracer]): Seq[OpSample] = {
    val timedFromMs = System.currentTimeMillis() + (timedFromNs - System.nanoTime()) / 1000000
    val q = start(spark, in.dir.resolve("files").toString, out.resolve("ckpt"), emitted)
    var tracedFromMs = Long.MaxValue
    while (q.isActive && System.nanoTime() < deadlineNs) {
      if (tracer.isDefined && tracedFromMs == Long.MaxValue && System.nanoTime() >= traceFromNs) {
        tracer.get.start(); tracedFromMs = System.currentTimeMillis()
      }
      q.awaitTermination(50)
    }
    if (q.isActive) q.stop()
    lastPlan = Option(q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution).map(Tracer.shapeOf(_, sourceRoots))
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    batches = progress.map(p => (p.batchId, p.numInputRows))
    progress.zipWithIndex.map { case (p, i) =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      OpSample(i, p.durationMs.get("triggerExecution").toDouble, p.numInputRows,
        startMs < timedFromMs, startMs >= tracedFromMs, None)
    }
  }

  def check(spark: SparkSession, ops: Seq[OpSample]): Map[Int, Seq[String]] = {
    val truthFiles = in.truth.get("files").elements().asScala.toSeq
    val done = ops.size
    // final value of each window: its last emission among completed batches
    val last = mutable.Map[Long, (Long, Long, Int)]() // window start s -> (rows, fail, op)
    batches.zipWithIndex.foreach { case ((id, _), op) =>
      Option(emitted.get(id)).getOrElse(Array.empty[Row]).foreach { r =>
        val start = r.getStruct(0).getTimestamp(0).getTime / 1000
        last(start) = (r.getAs[Long]("rows"), r.getAs[Long]("fail_rows"), op)
      }
    }
    // window start s -> (rows, fail, last file contributing)
    val want = mutable.Map[Long, (Long, Long, Int)]()
    truthFiles.take(done).zipWithIndex.foreach { case (f, file) =>
      f.get("windows").elements().asScala.foreach { w =>
        val (r, fl, _) = want.getOrElse(w.get(0).asLong, (0L, 0L, 0))
        want(w.get(0).asLong) = (r + w.get(1).asLong, fl + w.get(2).asLong, file)
      }
    }
    val errs = mutable.Map[Int, mutable.ArrayBuffer[String]]()
    def err(op: Int, m: String): Unit = errs.getOrElseUpdate(op, mutable.ArrayBuffer()) += m
    batches.zipWithIndex.foreach { case ((_, rows), op) =>
      diff("input rows", rows, truthFiles(op).get("rows").asLong).foreach(err(op, _))
    }
    (want.keySet ++ last.keySet).foreach { w =>
      (want.get(w), last.get(w)) match {
        case (Some((r, f, file)), Some((gr, gf, op))) =>
          if ((r, f) != (gr, gf)) err(op, s"window $w: got ($gr, $gf), want ($r, $f)")
        case (Some((r, f, file)), None) => err(file, s"window $w missing, want ($r, $f)")
        case (None, Some((gr, gf, op))) => err(op, s"window $w unexpected ($gr, $gf): late rows counted?")
        case _ =>
      }
    }
    errs.map { case (k, v) => k -> v.toSeq }.toMap
  }

  def inputSummary(spark: SparkSession): (Long, Long, Double) = {
    val fs = in.truth.get("files").elements().asScala.toSeq
    val rows = fs.map(_.get("rows").asLong).sum
    (rows / fs.size, in.bytes("files") / fs.size, fs.map(_.get("fail_rows").asLong).sum.toDouble / rows)
  }

  def scanInput: Seq[String] = Seq(in.files("files")(1))
  override def sourceRoots: Seq[String] = Seq(in.dir.resolve("files").toString)
  def compileOnce(spark: SparkSession): Unit = Compiler.compileRow(spec, schema)
}

object Workload {
  val names: Seq[String] = Seq("table_pass", "tool_args_json", "stream_verdicts")

  def apply(in: Inputs, out: Path): Workload = in.workload match {
    case "table_pass" => new TablePass(in, out)
    case "tool_args_json" => new ToolArgs(in, out)
    case "stream_verdicts" => new StreamVerdicts(in, out)
  }
}
