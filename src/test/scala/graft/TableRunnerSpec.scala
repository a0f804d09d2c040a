package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, lit, length => fnLength}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.checks.{Drift, TableChecks}
import graft.data.TranscriptGen
import graft.run.{Runner, TableRunner}
import graft.run.TableRunner._
import graft.spec.SpecParser

class TableRunnerSpec extends SparkTestBase {

  lazy val turns = TranscriptGen.turns(spark, 1500, parts = 4, numParts = 8).cache()
  lazy val spec = SpecParser.parse(TranscriptGen.transcriptSchemaJson)

  test("full table validation report: all check families wired") {
    val baseline = Drift.sketch(turns, fnLength(col("text")).cast("double"), 0, 200, 20)
    val cfg = TableValidationConfig(
      rowSpec = spec,
      keyCols = Seq("conv_id", "turn_idx"),
      uniqueness = Seq(UniquenessSpec(Seq("conv_id", "turn_idx"))),
      referential = Seq(ReferentialSpec("tool", Left(TranscriptGen.toolVocab))),
      statsCols = Seq("role", "turn_idx"),
      drift = Seq(DriftSpec("text_len", Some(fnLength(col("text")).cast("double")), baseline)))
    val report = TableRunner.run(turns, cfg)
    // injected violations make every family non-trivial except drift
    report.violations.count() should be > 0L
    report.duplicateKeys.values.head.count() should be > 0L
    report.referentialViolations.values.head.count() should be > 0L
    report.stats.get.count() shouldBe 8L
    report.driftVerdicts.head._2.pass shouldBe true // same distribution
    report.pass() shouldBe false // row violations + dups + refs
  }

  test("clean table passes") {
    val clean = turns
      .where(col("role").isin(TranscriptGen.roleVocab: _*))
      .where(fnLength(col("text")) > 0)
      .where(!col("conv_id").isin("c0000000000")) // keep it simple
      .dropDuplicates("conv_id", "turn_idx")
      .where(col("tool").isNull || col("tool").rlike("^tool_[0-9]{2}$"))
    val cfg = TableValidationConfig(
      rowSpec = spec,
      keyCols = Seq("conv_id", "turn_idx"),
      uniqueness = Seq(UniquenessSpec(Seq("conv_id", "turn_idx"))),
      referential = Seq(ReferentialSpec("tool", Left(TranscriptGen.toolVocab))))
    TableRunner.run(clean, cfg).pass() shouldBe true
  }

  test("empty input table passes (sum over zero verdict rows is SQL NULL, not a crash)") {
    val cfg = TableValidationConfig(
      rowSpec = spec,
      keyCols = Seq("conv_id", "turn_idx"),
      uniqueness = Seq(UniquenessSpec(Seq("conv_id", "turn_idx"))))
    val report = TableRunner.run(turns.where(col("conv_id").isNull), cfg)
    report.pass() shouldBe true // pre-fix: NullPointerException
    report.violations.count() shouldBe 0L
  }

  test("two referential specs on one column both run (Map collision used to silently drop one)") {
    val cfg = TableValidationConfig(
      rowSpec = spec,
      keyCols = Seq("conv_id", "turn_idx"),
      referential = Seq(
        ReferentialSpec("role", Left(TranscriptGen.roleVocab)), // narrator violates
        ReferentialSpec("role", Left(Seq("user")))))            // much stricter
    val report = TableRunner.run(turns, cfg)
    // pre-fix: .toMap keyed by column collapsed these to ONE entry, so the
    // dropped spec's violations were never computed and pass() could lie
    report.referentialViolations.keySet shouldBe Set("role", "role#1")
    val loose = report.referentialViolations("role").count()
    val strict = report.referentialViolations("role#1").count()
    loose should be > 0L
    strict should be > loose
  }

  test("statsCols over a table without the partition column derives it like the row pass") {
    val noPart = turns.drop("part_id")
    val cfg = TableValidationConfig(
      rowSpec = spec,
      keyCols = Seq("conv_id", "turn_idx"),
      statsCols = Seq("role"))
    // pre-fix: TableChecks.stats groupBy'd the raw df on the absent column
    // and run() threw AnalysisException before returning a report
    val report = TableRunner.run(noPart, cfg)
    report.stats.get.count() should be > 0L
    report.stats.get.columns should contain("part_id")
  }

  test("Graft.validate honors CompileOptions (rowChecks used to drop opts silently)") {
    // a digit STRING column against a numeric bound — the q_weak_typing
    // divergence: strict mode skips numeric constraints on non-numbers
    // (zero violations), weak mode coerces and checks the bound
    val numSpec = SpecParser.parse("""{"properties":{"v":{"maximum":100}}}""")
    val df = turns.withColumn("v", (col("turn_idx") * 60).cast("string"))
    val strictFails = graft.Graft.validate(df, numSpec, Seq("conv_id", "turn_idx"))
      .flagged.where(!col("pass")).count()
    val weakFails = graft.Graft.validate(df, numSpec, Seq("conv_id", "turn_idx"),
        opts = graft.compile.CompileOptions(strictTypes = false))
      .flagged.where(!col("pass")).count()
    strictFails shouldBe 0L
    weakFails should be > 0L // pre-fix: 0 — opts never reached the compiler
  }

  // --- one pinned scan per report -------------------------------------------

  private val keys = Seq("conv_id", "turn_idx")
  private val textLen = fnLength(col("text")).cast("double")
  private lazy val textBaseline = Drift.sketch(turns, textLen, 0, 200, 20)

  private def fullCfg(partCol: String = "part_id") = TableValidationConfig(
    rowSpec = spec,
    keyCols = keys,
    uniqueness = Seq(UniquenessSpec(keys)),
    referential = Seq(ReferentialSpec("tool", Left(TranscriptGen.toolVocab))),
    statsCols = Seq("role", "turn_idx"),
    drift = Seq(DriftSpec("text_len", Some(textLen), textBaseline)),
    partCol = partCol)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every action a caller can take on the report, as the benchmark does. */
  private def materialize(r: TableValidationReport): Unit = {
    r.flagged.where(col("pass")).count()
    r.violations.collect()
    r.partitionVerdicts.collect()
    r.duplicateKeys.values.foreach(_.collect())
    r.referentialViolations.values.foreach(_.count())
    r.stats.foreach(_.collect())
    r.pass()
    ()
  }

  test("every report output equals the per-check derivation on the raw frame") {
    // the raw table; one without the partition column (derived); and one
    // whose source columns are named `pass` and `violations` (first, so an
    // in-place replacement and an append would differ)
    val named = turns.select((Seq(lit("src").as("pass"), lit(7).as("violations")) ++
      turns.columns.map(col)): _*)
    for ((label, df) <- Seq("raw" -> turns, "no part_id" -> turns.drop("part_id"),
                            "pass/violations columns" -> named)) withClue(s"$label: ") {
      val cfg = fullCfg()
      val report = TableRunner.run(df, cfg)
      val row = Runner.rowChecks(df, spec, keys, cfg.partCol)
      val withPart = if (df.columns.contains("part_id")) df
        else row.flagged.drop("pass")
      val want = Seq(
        "flagged" -> row.flagged,
        "violations" -> row.violations,
        "verdicts" -> row.partitionVerdicts,
        "duplicates" -> TableChecks.uniqueness(df, keys),
        "referential" -> TableChecks.referentialStatic(df, "tool", TranscriptGen.toolVocab),
        "stats" -> TableChecks.stats(withPart, Seq("part_id"), cfg.statsCols))
      val got = Seq(
        "flagged" -> report.flagged,
        "violations" -> report.violations,
        "verdicts" -> report.partitionVerdicts,
        "duplicates" -> report.duplicateKeys("conv_id,turn_idx"),
        "referential" -> report.referentialViolations("tool"),
        "stats" -> report.stats.get)
      got.zip(want).foreach { case ((name, g), (_, w)) =>
        withClue(s"$name: ") {
          g.schema shouldBe w.schema // names, types, nullability and order
          rowsOf(g) shouldBe rowsOf(w)
        }
      }
      report.violations.count() should be > 0L
      report.driftVerdicts shouldBe Seq("text_len" -> Drift.check(df, textLen, textBaseline))
    }
  }

  private def withTempDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-table-runner")
    try f(dir.toString)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("the pin registers no cache entry: a run after the source is rewritten sees the new rows") {
    withTempDir { dir =>
      val path = s"$dir/turns.parquet"
      turns.where(col("part_id") < 4).write.parquet(path)
      val first = TableRunner.run(spark.read.parquet(path), fullCfg())
      materialize(first)
      val firstRows = first.partitionVerdicts.collect().map(_.getAs[Long]("rows")).sum
      val outputs = Seq(first.flagged, first.violations, first.partitionVerdicts) ++
        first.duplicateKeys.values ++ first.referentialViolations.values ++ first.stats
      outputs.foreach { o =>
        withClue("cached relations in the plan: ") {
          o.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.size shouldBe 0
        }
      }

      turns.write.mode("overwrite").parquet(path)
      val second = TableRunner.run(spark.read.parquet(path), fullCfg())
      val secondRows = second.partitionVerdicts.collect().map(_.getAs[Long]("rows")).sum
      secondRows shouldBe turns.count()
      secondRows should be > firstRows
      second.stats.get.count() shouldBe 8L
      // the first report still reads its own pinned rows, not the new files
      first.flagged.count() shouldBe firstRows
    }
  }

  test("all outputs of one report execute exactly one scan of the source") {
    withTempDir { dir =>
      val path = s"$dir/turns.parquet"
      val scans = new java.util.concurrent.atomic.AtomicInteger()
      val helper = new AdaptiveSparkPlanHelper {}
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          scans.addAndGet(helper.collect(qe.executedPlan) {
            case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
          }.size)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      try {
        turns.write.parquet(path)
        org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
        spark.listenerManager.register(listener)
        val report = TableRunner.run(spark.read.parquet(path), fullCfg())
        materialize(report)
        report.violations.write.parquet(s"$dir/violations")
        org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
        scans.get() shouldBe 1
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
