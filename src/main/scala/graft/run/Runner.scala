package graft.run

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.{CompileOptions, Compiler}
import graft.spec.SchemaSpec

/** Partition-parallel validation runner.
  *
  * Mirrors the reference benchmark's two-pass shape
  * (`examples/valijson_benchmark.cpp:171-202`): a cheap fail-fast boolean
  * scan over every row, then violation expansion ONLY for failing rows —
  * here expressed as a filter(!pass) *before* the violations projection, so
  * Catalyst evaluates the expensive exhaustive expression solely on the
  * failing slice. Both passes are shuffle-free; only the per-partition
  * verdict aggregation shuffles, and it shuffles O(partitions) rows.
  *
  * ONE row-validation derivation: [[validated]] builds the validated frame
  * and [[rowOutputs]] derives flagged rows, violation rows and verdicts
  * from it — for [[rowChecks]] unpinned, for `TableRunner.run` pinned;
  * `StreamingValidator.validateStream` exposes the frame's two columns.
  *
  * Resumability (north rule): a driver-side manifest ledger records each
  * completed `part_id`; `resume` filters already-done partitions out of the
  * scan (partition-pruned when part_id is the storage partition column) —
  * the Hive-partitioned-parquet stand-in for Iceberg snapshot checkpoints
  * (SURVEY.md §1.3).
  */
object Runner {

  final case class RowCheckOutput(flagged: DataFrame, violations: DataFrame,
                                  partitionVerdicts: DataFrame)

  /** A validated frame and the private names of its `pass` and violation
    * columns. */
  private[graft] final case class Validated(frame: DataFrame, passCol: String, violationsCol: String)

  /** THE row-validation rule: every column of `df` (carried by `*`, so no
    * name is parsed); then `partCol` when given, derived by hashing the
    * first key column if the table has none; then `pass` and the violation
    * array, evaluated ONLY for failing rows (the CaseWhen short-circuit
    * keeps passing rows at fail-fast cost). The validation columns get
    * names no input column has. The spec compiles against the schema AS
    * GIVEN: the partition column is bookkeeping, not a property of the
    * document (it would trip additionalProperties/maxProperties/
    * propertyNames on every row). */
  private[graft] def validated(df: DataFrame, spec: SchemaSpec, keyCols: Seq[String],
                               partCol: Option[String],
                               opts: CompileOptions = CompileOptions()): Validated = {
    val withPart = partCol.filterNot(df.columns.contains)
      .fold(df)(df.withColumn(_, pmod(hash(col(keyCols.head)), lit(64))))
    def fresh(base: String): String =
      Iterator.iterate(base)(_ + "_").find(n => !withPart.columns.exists(_.equalsIgnoreCase(n))).get
    val (passCol, violationsCol) = (fresh("__graft_pass"), fresh("__graft_violations"))
    val compiled = Compiler.compileRow(spec, df.schema, opts)
    Validated(withPart.select(col("*"), compiled.pass.as(passCol),
      when(compiled.pass, array().cast(Compiler.violationArrayType))
        .otherwise(compiled.violations).as(violationsCol)),
      passCol, violationsCol)
  }

  /** The slim row output `(keyCols…, partCol, pass, violations)`. */
  private def slim(v: Validated, keyCols: Seq[String], partCol: String): DataFrame =
    v.frame.select(keyCols.map(col) :+ col(partCol) :+
      col(v.passCol).as("pass") :+ col(v.violationsCol).as("violations"): _*)

  /** THE derivation of the three row outputs: every row with `pass`
    * (replacing a source column of that name in place, as `withColumn`
    * does), the violation rows and the per-partition verdicts. Over an
    * unpinned frame Catalyst collapses the projections and pushes the
    * `!pass` conjunct to the scan (PlanSpec). */
  private[graft] def rowOutputs(v: Validated, keyCols: Seq[String], partCol: String): RowCheckOutput = {
    val rowOut = slim(v, keyCols, partCol)
    RowCheckOutput(v.frame.withColumn("pass", col(v.passCol)).drop(v.passCol, v.violationsCol),
      violationsOf(rowOut, keyCols, partCol), verdictsOf(rowOut, partCol))
  }

  /** Row-level validation: adds `pass`, explodes violations for failing
    * rows, aggregates per-partition verdicts.
    *
    * @param keyCols  identifying columns carried into the violation table
    * @param partCol  partition column for verdicts (derived if absent)
    */
  def rowChecks(df: DataFrame, spec: SchemaSpec, keyCols: Seq[String],
                partCol: String = "part_id",
                opts: CompileOptions = CompileOptions()): RowCheckOutput =
    rowOutputs(validated(df, spec, keyCols, Some(partCol), opts), keyCols, partCol)

  /** Single-scan row-level output: the slim projection
    * `(keyCols…, partCol, pass, violations)` of the validated frame. At
    * scale this is THE row pass: write it once (it carries no payload
    * columns), then derive both the violation table (explode) and
    * per-partition verdicts (aggregate) from the written intermediate
    * without ever re-scanning or re-validating the source. */
  def rowOutput(df: DataFrame, spec: SchemaSpec, keyCols: Seq[String],
                partCol: String = "part_id",
                opts: CompileOptions = CompileOptions()): DataFrame =
    slim(validated(df, spec, keyCols, Some(partCol), opts), keyCols, partCol)

  /** Violation rows from a written/cached [[rowOutput]] frame. The v1.0
    * `legacy_context` rendering is a column a caller adds with
    * [[graft.Graft.legacyContext]] over `json_pointer`. */
  def violationsOf(rowOut: DataFrame, keyCols: Seq[String],
                   partCol: String = "part_id"): DataFrame =
    rowOut.where(!col("pass"))
      .select(keyCols.map(col) :+ col(partCol) :+
        posexplode(col("violations")).as(Seq("constraint_seq", "__graft_viol")): _*)
      .select(keyCols.map(col) :+ col(partCol) :+ col("constraint_seq") :+
        col("__graft_viol.json_pointer").as("json_pointer") :+
        col("__graft_viol.description").as("description") :+
        col("__graft_viol.kind").as("kind"): _*)

  /** Per-partition verdicts (incl. violation counts) from a [[rowOutput]]
    * frame — one hash aggregate, O(partitions) result rows. */
  def verdictsOf(rowOut: DataFrame, partCol: String = "part_id"): DataFrame =
    rowOut.groupBy(col(partCol))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("pass"), 0L).otherwise(1L)).as("fail_rows"),
        sum(size(col("violations")).cast("long")).as("violation_count"))
      .withColumn("pass", col("fail_rows") === 0)

  // -------------------------------------------------------------------------
  // Manifest ledger (Iceberg-snapshot stand-in; SURVEY.md §6 hard part 6)
  // -------------------------------------------------------------------------

  /** Append-only ledger of completed partition ids for a run. Ids are
    * STRINGS (the canonical rendering of the partition value): an Iceberg
    * partition value is as often a date or a region name as an integer,
    * and a Long-keyed ledger NPE'd after the sinks were already written
    * for any non-numeric `partCol`. Numeric values round-trip through
    * their canonical string form unchanged. The line-oriented file escapes
    * %/newline/CR in values — rejecting them instead would fire AFTER the
    * sink appends, stranding the run in an append-duplicates-then-throw
    * loop on every retry. */
  final class Manifest(dir: String, runId: String) {
    private val path = Paths.get(dir, s"manifest-$runId.txt")
    Files.createDirectories(Paths.get(dir))

    private def esc(id: String): String =
      id.replace("%", "%25").replace("\n", "%0A").replace("\r", "%0D")
    private def unesc(line: String): String =
      line.replace("%0D", "\r").replace("%0A", "\n").replace("%25", "%")

    /** Completed ids, in their original (unescaped) value form. */
    def completed(): Set[String] =
      if (!Files.exists(path)) Set.empty
      else Files.readAllLines(path).asScala.filter(_.nonEmpty).map(unesc).toSet

    def markDone(partIds: Seq[String]): Unit = {
      val line = partIds.map(esc).mkString("", "\n", "\n")
      Files.write(path, line.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  /** Filter out partitions recorded as completed — with a storage-level
    * `part_id` partition column this prunes whole directories at scan time
    * (the NOT-IN predicate references only the partition column, so
    * PruneFileSourcePartitions evaluates it on partition metadata even
    * through the cast). Rows with a NULL part id can never be marked done
    * (the manifest keys by the value's string form), so they must survive
    * the NOT-IN filter explicitly: under SQL three-valued logic
    * `!isin(...)` is NULL for a NULL part id and the rows would silently
    * vanish from every increment after the first. */
  def resume(df: DataFrame, manifest: Manifest, partCol: String = "part_id"): DataFrame = {
    val done = manifest.completed()
    if (done.isEmpty) df
    else df.where(col(partCol).isNull ||
      !col(partCol).cast("string").isin(done.toSeq: _*))
  }

  /** Run row checks partition-incrementally: validate the remaining
    * partitions, write violations + verdicts, mark them complete. Returns
    * the verdicts of THIS increment.
    *
    * Delivery is AT-LEAST-ONCE per partition: sinks are parquet appends
    * and the manifest is marked only after both writes succeed, so a crash
    * between append and markDone re-emits that increment's rows on retry.
    * Every sink row carries this invocation's `attempt_id` — consumers
    * needing exactly-once keep the latest attempt per part_id (the same
    * honest contract as StreamingDedup's batch_id). Rows with NULL part
    * ids are validated every increment and never marked done. */
  def runResumable(spark: SparkSession, df: DataFrame, spec: SchemaSpec,
                   keyCols: Seq[String], outDir: String, runId: String,
                   partCol: String = "part_id"): DataFrame = {
    val manifest = new Manifest(outDir, runId)
    val attemptId = java.util.UUID.randomUUID().toString
    val t0 = System.nanoTime()
    // ONE scan of the source: the slim row output is persisted, and both
    // sinks (violation rows, per-partition verdicts) derive from it.
    // `resume` filters the ROW OUTPUT, not the raw df: when `partCol` is
    // absent from the source it only exists after rowOutput derives it
    // (filtering the raw df crashed every resume on the derived path), and
    // when it IS a storage partition column Catalyst pushes the NOT-IN
    // predicate through the slim projection to the scan, so directory
    // pruning is unchanged.
    val rowOut = resume(rowOutput(df, spec, keyCols, partCol), manifest, partCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      violationsOf(rowOut, keyCols, partCol)
        .withColumn("attempt_id", lit(attemptId))
        .write.mode("append").partitionBy(partCol)
        .parquet(s"$outDir/violations")
      // the O(partitions) verdict rows, collected once for the sink, the
      // ledger, the metrics and the result — no `.cache()`, whose entry
      // would outlive the call and answer a later run over a rewritten path
      val computed = verdictsOf(rowOut, partCol)
      val verdictRows = computed.collect()
      val verdicts = spark.createDataFrame(verdictRows.toSeq.asJava, computed.schema)
      verdicts.withColumn("attempt_id", lit(attemptId))
        .write.mode("append").parquet(s"$outDir/verdicts")
      // Spark's string form of the partition value, as `resume` compares
      val doneIds = verdicts.where(col(partCol).isNotNull)
        .select(col(partCol).cast("string")).collect().map(_.getString(0)).toSeq
      manifest.markDone(doneIds)
      // per-run lineage + metrics line (north rule: "per-partition lineage
      // and metrics logged"); JSONL, one record per increment. Serialized
      // with Jackson: runId is caller-supplied free text and string
      // concatenation produced unparseable lines for ids with quotes.
      val rec = new java.util.LinkedHashMap[String, Any]
      rec.put("run_id", runId)
      rec.put("attempt_id", attemptId)
      rec.put("partitions", doneIds.length)
      rec.put("rows", verdictRows.map(_.getAs[Long]("rows")).sum)
      rec.put("fail_rows", verdictRows.map(_.getAs[Long]("fail_rows")).sum)
      rec.put("wall_sec", (System.nanoTime() - t0) / 1e9)
      rec.put("part_ids", doneIds.sorted.toArray)
      val metrics =
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(rec) + "\n"
      Files.write(Paths.get(outDir, s"metrics-$runId.jsonl"), metrics.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      verdicts
    } finally rowOut.unpersist() // even when a sink write throws
  }

  /** Validate ONLY the rows added between two snapshots of a
    * [[graft.io.SnapshotLog]]-versioned table — the incremental form of
    * [[rowChecks]]: each new commit validates its delta files, never the
    * whole table (at 100 TB a full re-validation per ingest batch is the
    * difference between minutes and days). Returns None when the delta is
    * empty. Verdict/violation rows are exactly what a full validation of
    * those files would produce; callers tag them with the version range if
    * they append to a shared sink. */
  def validateDelta(spark: SparkSession, log: graft.io.SnapshotLog,
                    fromVersion: Long, toVersion: Long, spec: SchemaSpec,
                    keyCols: Seq[String], partCol: String = "part_id",
                    opts: CompileOptions = CompileOptions()): Option[RowCheckOutput] =
    log.readDelta(spark, fromVersion, toVersion)
      .map(delta => rowChecks(delta, spec, keyCols, partCol, opts))
}
