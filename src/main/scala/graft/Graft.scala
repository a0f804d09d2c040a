package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.compile.{CompileOptions, Compiler}
import graft.run.Runner
import graft.spec.{SchemaSpec, SpecParser}

/** Library front door — what a valijson user migrating to Spark calls.
  *
  * valijson:                         graft:
  *   SchemaParser().populateSchema     Graft.parseSchema(json)
  *   Validator().validate(doc)         Graft.validate(df, spec) per row
  *   ValidationResults drain           .violations Dataset
  *
  * plus the table-scale checks the north rule adds (uniqueness,
  * referential, stats, drift) under [[graft.checks]].
  */
object Graft {

  /** Compile a JSON Schema document into a constraint spec (the analog of
    * `SchemaParser::populateSchema`, schema_parser.hpp:108-134). */
  def parseSchema(json: String): SchemaSpec = SpecParser.parse(json)

  /** Parse with external documents for URI `$ref`s — the offline analog of
    * the reference's fetchDoc callback + document cache
    * (schema_parser.hpp:106-124, 143-158): keys are absolute URIs, values
    * the referenced JSON schema text. */
  def parseSchema(json: String, externalDocs: Map[String, String]): SchemaSpec =
    SpecParser.parse(json, externalDocs)

  /** Parse with custom-keyword builders registered (the
    * `SchemaParser::addConstraintBuilder` analog, schema_parser.hpp:91-94):
    * a schema DOCUMENT carrying a registered keyword compiles — the builder
    * maps the keyword's value node to the [[graft.spec.CustomC]] that runs
    * on all three evaluation paths. */
  def parseSchema(json: String, externalDocs: Map[String, String],
                  builders: Map[String, SpecParser.ConstraintBuilder]): SchemaSpec =
    SpecParser.parse(json, externalDocs, builders)

  /** Validate every row of `df` against `spec` (the analog of
    * `Validator::validate` per document, validator.hpp:71-85): fail-fast
    * `pass` flag on every row; exhaustive violation rows only for failures;
    * per-partition verdicts. */
  def validate(df: DataFrame, spec: SchemaSpec, keyCols: Seq[String],
               opts: CompileOptions = CompileOptions()): Runner.RowCheckOutput =
    Runner.rowChecks(df, spec, keyCols, opts = opts)

  def validate(df: DataFrame, schemaJson: String, keyCols: Seq[String]): Runner.RowCheckOutput =
    validate(df, parseSchema(schemaJson), keyCols)

  /** Violation rows (keys + json_pointer + description [+ kind]) for a
    * schema, optionally filtered to specific constraint kinds — convenient
    * for per-constraint result tables. */
  def violations(df: DataFrame, schemaJson: String, keyCols: Seq[String],
                 kinds: Seq[String] = Nil): DataFrame = {
    val v = validate(df, parseSchema(schemaJson), keyCols).violations
    val filtered = if (kinds.isEmpty) v else v.where(col("kind").isin(kinds: _*))
    filtered.select((keyCols.map(col) :+ col("json_pointer") :+ col("description")): _*)
  }

  /** Legacy v1.0 context rendering of a violation `json_pointer` column
    * (`validation_results.hpp:167-186`): `array("<root>", "[\"prop\"]",
    * "[0]", …)`. Numeric segments render as array indexes — see
    * [[graft.compile.Messages.legacyContext]] for the one pointer-encoding
    * ambiguity (purely-numeric object keys). */
  def legacyContext(jsonPointer: Column): Column = {
    val segs = org.apache.spark.sql.functions.transform(
      slice(split(jsonPointer, "/", -1), 2, 100000),
      raw => {
        // unescape ~1 before ~0 (validation_results.hpp:140-160 inverse)
        val seg = regexp_replace(regexp_replace(raw, "~1", "/"), "~0", "~")
        when(seg.rlike("^[0-9]+$"), concat(lit("["), seg, lit("]")))
          .otherwise(concat(lit("[\""), seg, lit("\"]")))
      })
    concat(array(lit("<root>")), segs)
  }

  /** Default dynamic-JSON path: ONE parse + ONE document walk per row via
    * the native [[graft.functions.ValidateJsonExpr]] (the reference's
    * ValidationVisitor shape, vectorized by the scan). NULL documents pass
    * (absent); malformed JSON fails with a parse violation. */
  def validateJsonColumn(df: DataFrame, jsonCol: String, spec: SchemaSpec,
                         opts: CompileOptions = CompileOptions()): DataFrame = {
    val res = graft.functions.ValidateJsonExpr.validate(col(jsonCol), spec,
      opts.strictDateTime, opts.strictTypes, opts.regexEngine)
    df.withColumn("__graft_res", res)
      .withColumn("pass", col("__graft_res.pass"))
      .withColumn("violations", col("__graft_res.violations"))
      .drop("__graft_res")
  }

  /** Pure-Catalyst dynamic path (expression-tree formulation) — kept as
    * the cross-checking oracle for the native validator; slower (the
    * optimizer clones document probes across constraint sites). */
  def validateJsonColumnCatalyst(df: DataFrame, jsonCol: String, spec: SchemaSpec,
                                 opts: CompileOptions = CompileOptions()): DataFrame = {
    // materialize the parsed variant ONCE: the compiled tree references the
    // document many times (type probe + casts per constraint), and an
    // inlined try_parse_json would re-parse per reference
    val vCol = "__graft_variant"
    val withV = df.withColumn(vCol, try_parse_json(col(jsonCol)))
    val v = col(vCol)
    val c = Compiler.compile(spec, v, org.apache.spark.sql.types.VariantType, lit(""), opts)
    val malformed = col(jsonCol).isNotNull && v.isNull
    withV.withColumn("pass", !malformed && coalesce(c.pass, lit(true)))
      .withColumn("violations",
        when(malformed, array(struct(
          lit("").as("json_pointer"),
          lit("Failed to parse JSON document.").as("description"),
          lit("parse").as("kind"))).cast(Compiler.violationArrayType))
          .when(col("pass"), array().cast(Compiler.violationArrayType))
          .otherwise(c.violations))
      .drop(vCol)
  }

  def validateJsonColumn(df: DataFrame, jsonCol: String, schemaJson: String): DataFrame =
    validateJsonColumn(df, jsonCol, parseSchema(schemaJson))

  /** Validate a JSON column against a schema SELECTED PER ROW by a key
    * column — the agent-transcript shape: each tool call's `arguments`
    * document validates against that tool's own registered schema.
    *
    * One codegen'd projection: the CaseWhen dispatch evaluates only the
    * matching branch per row, so every row pays exactly ONE parse + ONE
    * document walk no matter how many schemas are registered — never
    * per-schema scans, a join, or a shuffle. The schema registry rides the
    * plan as compiled constants (broadcast with the closure).
    *
    * The result is pinned with a lazy `localCheckpoint`, as
    * [[graft.run.TableRunner.run]] pins its row pass: the first action on
    * the returned frame pays for the one scan, parse and walk, and every
    * later action (a pass count after a violation write, say) reads the
    * pinned blocks instead of walking every document again. The pin makes
    * no `CacheManager` entry; its blocks are freed by the `ContextCleaner`
    * once the frame is unreachable. Lineage is truncated at the pin, so an
    * executor lost after the first action fails later actions on the
    * frame. With adaptive execution the validation plan is planned here,
    * so a shuffle below it (a repartition of `df`) runs at call time. The
    * pin stores every column of `df`: select the columns the actions need
    * before the call. [[validateJsonColumn]] is not pinned, nor is a
    * streaming `df`.
    *
    * Keys absent from the registry (including NULL keys) follow
    * `default`: `Some(spec)` validates against it, `None` passes —
    * absent schema = unconstrained, the same rule the reference applies
    * to unknown `format` values. Enforce the key vocabulary itself with
    * [[graft.checks.TableChecks.referential]]; that check, not a schema
    * dispatch, is where "unknown tool" belongs. */
  def validateJsonColumnBy(df: DataFrame, jsonCol: String, keyCol: String,
                           specs: Map[String, SchemaSpec],
                           default: Option[SchemaSpec] = None,
                           opts: CompileOptions = CompileOptions()): DataFrame = {
    require(specs.nonEmpty, "validateJsonColumnBy needs at least one schema")
    def res(spec: SchemaSpec): Column =
      graft.functions.ValidateJsonExpr.validate(col(jsonCol), spec,
        opts.strictDateTime, opts.strictTypes, opts.regexEngine)
    val fallback = default.map(res).getOrElse(
      struct(lit(true).as("pass"),
        array().cast(Compiler.violationArrayType).as("violations")))
    val dispatched = specs.toSeq.sortBy(_._1).foldRight(fallback) {
      case ((k, spec), other) => when(col(keyCol) === k, res(spec)).otherwise(other)
    }
    val out = df.withColumn("__graft_res", dispatched)
      .withColumn("pass", col("__graft_res.pass"))
      .withColumn("violations", col("__graft_res.violations"))
      .drop("__graft_res")
    // a stream cannot be checkpointed; each micro-batch is planned afresh
    if (out.isStreaming) out else out.localCheckpoint(eager = false)
  }
}
