package graft.tools

import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Graft
import graft.checks.TableChecks
import graft.data.TranscriptGen
import graft.io.Scratch

/** Clean scaling measurement: fresh JVM, one parallelism level, N timed
  * repetitions of the full validation pass over a stored table.
  *
  * The pass's seven outputs form a shallow DAG: the single-scan row output
  * is written first, then verdicts + violations (which derive from it) and
  * the four independent table checks (uniqueness, referential, stats,
  * drift) run as CONCURRENT Spark jobs — the shape a production
  * orchestrator uses, and what keeps a big executor pool busy instead of
  * serializing each check's fixed job cost (the round-3 artifact's 8→32
  * flatness was exactly those serial tails).
  *
  * Emits one machine-readable line per rep with the total, plus a
  * `[steps]` line with per-step wall times so a slow step is attributable
  * per level per rep in the bench artifact. */
object ScalingProbe {

  val stepNames = Seq("rowpass", "verdicts", "violations", "uniqueness",
    "referential", "stats", "drift")

  /** Locale-pinned number rendering: the `[scaling]`/`[steps]` lines are
    * PARSED by Bench and the artifact must be valid JSON — a comma-decimal
    * default locale would corrupt both. */
  def num(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Spark's shuffle/spill dir for bench sessions: on the fast root, since
    * disk writeback storms (30-60s stalls on a virtio disk) otherwise land
    * inside timed runs. */
  val localDir: String = s"${Scratch.fast}/graft-spark"

  /** Where a probe writes its row-pass output: keyed by the input path as
    * well as the core count, so two probes over different inputs at the
    * same core count never overwrite each other's output mid-read. */
  def rowOutPath(cores: Int, path: String): String =
    s"$localDir/rowout-${cores}_${Scratch.sanitized(path)}"

  /** THE bench Spark session config — one definition for Bench's part-1
    * query sweep and every pinned probe level, so a knob (split sizing,
    * tmpfs spill dir) can never apply to one and not the other. */
  def newBenchSession(cores: Int, appName: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // size scan splits so the input stage has >= 2 waves at full cores
      .config("spark.sql.files.maxPartitionBytes", sys.env.getOrElse("GRAFT_MAX_PART", "16m"))
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val path = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = newBenchSession(cores, s"graft-probe-$cores")

    // pool sized for the check-job fan-out; Spark's scheduler interleaves
    // the concurrent jobs' task sets over the `cores` task slots
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(
      Executors.newFixedThreadPool(8))

    val keys = Seq("conv_id", "turn_idx")
    val spec = Graft.parseSchema(TranscriptGen.transcriptSchemaJson)
    val rowOutDir = rowOutPath(cores, path)

    def pass(): (Long, Map[String, Double]) = {
      val stepT = new ConcurrentHashMap[String, Double]()
      def step[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val a = f
        stepT.put(label, (System.nanoTime() - t0) / 1e9)
        a
      }
      val turns = spark.read.parquet(path)
      // Row-level outputs from ONE scan of the source: the slim
      // (keys, part_id, pass, violations) projection is written once;
      // verdicts AND the violation table derive from the written
      // intermediate (no payload columns, no re-validation).
      val rowDerived = Future {
        step("rowpass") {
          graft.run.Runner.rowOutput(turns, spec, keys)
            .write.mode("overwrite").parquet(rowOutDir)
        }
        val rowOut = spark.read.parquet(rowOutDir)
        val fVerdicts = Future(step("verdicts") {
          graft.run.Runner.verdictsOf(rowOut).agg(sum("rows")).head().getLong(0)
        })
        val fViolations = Future(step("violations") {
          graft.run.Runner.violationsOf(rowOut, keys).count()
        })
        Await.result(fViolations, Duration.Inf)
        Await.result(fVerdicts, Duration.Inf)
      }
      val checks: Seq[Future[Any]] = Seq(
        Future(step("uniqueness")(
          TableChecks.uniqueness(turns, Seq("conv_id", "turn_idx")).count())),
        Future(step("referential")(
          TableChecks.referentialStatic(turns, "tool", TranscriptGen.toolVocab).count())),
        Future(step("stats")(
          TableChecks.stats(turns, Seq("part_id"), Seq("role", "text", "turn_idx")).count())),
        Future(step("drift")(
          graft.checks.Drift.histogramDF(turns,
            length(col("text")).cast("double"), 0, 400, 40).count())))
      checks.foreach(Await.result(_, Duration.Inf))
      val rows = Await.result(rowDerived, Duration.Inf)
      (rows, stepNames.map(n => n -> stepT.get(n).toDouble).toMap)
    }

    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val (rows, steps) = pass()
      val t = (System.nanoTime() - t0) / 1e9
      println(s"[scaling] cores=$cores rep=$i rows=$rows time=${num(t, 2)}s " +
        s"thr=${num(rows / t, 0)} turns/s")
      println(s"[steps] cores=$cores rep=$i " +
        stepNames.flatMap(n => steps.get(n).map(v => s"$n=${num(v, 3)}")).mkString(" "))
    }
    spark.stop()
    sys.exit(0) // don't wait on the non-daemon pool threads
  }
}
