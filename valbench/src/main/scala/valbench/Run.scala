package valbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Run --workload W --seed N --seconds S --trace T --work DIR
  * Run --load-classes --work DIR
  * }}}
  *
  * A run generates W's inputs for seed N unless they are cached in DIR,
  * then sets up three times (fresh session, schema parse, one warm-up
  * operation), then issues operations from one client thread: untimed for
  * the workload's settle time, then timed for `S` seconds. It checks every
  * operation's output against the generator's truth and prints one JSON
  * line. With `--trace 1` every other timed operation is traced (a stream:
  * from a third of the way in); the untraced ones give the baseline for the
  * tracing overhead, and the per-layer metrics come from the traced
  * operations.
  */
object Run {

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("valbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def metric(value: Double, unit: String, samples: Option[Int] = None) = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("value", value); m.put("unit", unit)
    samples.foreach(n => m.put("samples", n))
    m
  }

  private val started = System.nanoTime()
  /** Phase timings on stderr, for the run log. */
  def phase(what: String): Unit =
    System.err.println(f"[valbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  /** Sets every workload up once, so a class-data archive recorded from
    * this JVM holds the classes the runs load. */
  private def loadClasses(work: Path): Unit = Workload.names.foreach { name =>
    val in = new Inputs(work, name, 0)
    if (!in.done) Inputs.generate(in)
    val out = work.resolve(s"run/$name")
    Files.createDirectories(out)
    val w = Workload(in, out)
    val spark = session(work)
    try { w.prepare(spark); w.warmup(spark) } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    if (args.contains("--load-classes")) { loadClasses(work); return }
    val in = new Inputs(work, opts("workload"), opts("seed").toLong)
    if (!in.done) {
      Inputs.generate(in)
      phase("generated")
      // generation is not measured: drop its garbage and restart the peak
      // resident-memory mark (Linux: writing 5 to clear_refs resets VmHWM)
      System.gc()
      Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    }
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val out = work.resolve(s"run/${in.workload}")
    rmTree(out)
    Files.createDirectories(out)
    val w = Workload(in, out)

    // set up three times; each time a fresh session, schema parse and one
    // warm-up operation
    var spark: SparkSession = null
    val parseMs = mutable.ArrayBuffer[Double]()
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      w.parseMs = 0
      w.prepare(spark)
      parseMs += w.parseMs
      w.warmup(spark)
      phase("set up")
      (System.nanoTime() - t0) / 1e9
    }
    phase(s"set up: ${setups.mkString(", ")}")
    val tracer = if (trace) Some(new Tracer(spark, w.sourceRoots)) else None
    // operations of the first `settleSeconds` bring the JIT closer to its
    // steady state; they are checked, not measured
    val timedFrom = System.nanoTime() + (w.settleSeconds * 1e9).toLong
    val deadline = timedFrom + (seconds * 1e9).toLong
    val traceFrom = if (trace) timedFrom + (seconds * 1e9 / 3).toLong else Long.MaxValue
    val ops = w.measure(spark, timedFrom, traceFrom, deadline, tracer)
    val layers = tracer.map { t =>
      val ls = Layers.metrics(spark, w, t, ops, median(parseMs.toSeq))
      t.stop()
      ls
    }

    phase(s"measured ${ops.size} operations")
    val mismatches: Map[Int, Seq[String]] =
      try w.check(spark, ops)
      catch { case e: Exception => ops.map(o => o.idx -> Seq(s"check failed: $e")).toMap }
    phase("checked")
    val failedOps = ops.filter(o => o.error.isDefined || mismatches.contains(o.idx))
    val good = ops.filterNot(o => o.warm || failedOps.contains(o))
    val ms = good.map(_.ms)
    val rate = good.map(o => o.rows / (o.ms / 1000))
    val (inRows, inBytes, inFail) = w.inputSummary(spark)
    val rss = peakRssMb()
    val setupS = median(setups)
    val p50 = quantile(ms, 0.5)
    val p90 = quantile(ms, 0.9)
    val failedFrac = if (ops.isEmpty) 1.0 else failedOps.size.toDouble / ops.size

    // the workload's own names for its end-to-end metrics
    val report = new java.util.LinkedHashMap[String, Any]()
    report.put("setup_s", metric(setupS, "s", Some(setups.size)))
    report.put("setup_cold_s", metric(setups.head, "s", Some(1)))
    report.put("peak_rss_mb", metric(rss, "MB"))
    report.put("failed_frac", metric(failedFrac, "ratio", Some(ops.size)))
    report.put(s"${w.rowUnit}_per_s", metric(median(rate), s"${w.rowUnit}/s", Some(rate.size)))
    val opName = if (w.name == "stream_verdicts") "batch_ms" else "op_ms"
    report.put(s"${opName}_p50", metric(p50, "ms", Some(ms.size)))
    report.put(s"${opName}_p90", metric(p90, "ms", Some(ms.size)))
    val input = new java.util.LinkedHashMap[String, Any]()
    input.put("rows_per_op", inRows); input.put("bytes_per_op", inBytes); input.put("fail_share", inFail)
    val head = new java.util.LinkedHashMap[String, Any]()
    head.put("workload", w.name); head.put("seed", in.seed); head.put("trace", trace)
    head.put("input", input); head.put("report", report)
    head.put("warm_ops", ops.count(_.warm))
    head.put("op_ms", ops.map(o => math.round(o.ms * 10) / 10.0).asJava)
    head.put("failed_ops", failedOps.map(o =>
      o.idx.toString -> (o.error.toSeq ++ mismatches.getOrElse(o.idx, Nil)).take(5).asJava).toMap.asJava)
    tracer.foreach { t =>
      val p = work.resolve(s"trace/${w.name}-s${in.seed}.jsonl")
      t.writeJsonl(p)
      head.put("spans_jsonl", work.getParent.relativize(p).toString)
      // the keys behind checks.skew_ratio
      if (w.name == "table_pass") head.put("hot_conv_ids", in.truth.get("hot"))
    }
    println(json.writeValueAsString(head))

    val metrics = new java.util.LinkedHashMap[String, Any]()
    layers match {
      case Some(ls) => ls.foreach { case (k, (v, u)) => metrics.put(k, metric(v, u)) }
      case None =>
        metrics.put("setup_s", metric(setupS, "s"))
        metrics.put("rows_per_s", metric(median(rate), "rows/s"))
        metrics.put("op_ms_p50", metric(p50, "ms"))
    }
    val last = new java.util.LinkedHashMap[String, Any]()
    last.put("correct", failedOps.isEmpty && ops.nonEmpty)
    last.put("attempted", math.max(ops.size, 1))
    last.put("failed", if (ops.isEmpty) 1 else failedOps.size)
    last.put("metrics", metrics)
    spark.stop()
    println(json.writeValueAsString(last))
  }
}
