package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.compile.Compiler
import graft.spec.SpecParser

/** Conformance harness mirroring the reference's JSON-Schema-Test-Suite
  * driver (`tests/test_validator.cpp:96-182`): files of
  * `{description, schema, tests: [{description, data, valid}]}` groups;
  * assertion is `validate(schema, data) == valid` per case.
  *
  * Data values are arbitrary JSON; they are lifted into typed single-row
  * DataFrames (flat-row convention: JSON objects become rows, other values
  * a single `doc` column). Cases whose data shape cannot inhabit a static
  * Spark type (heterogeneous arrays, objects with null-valued properties)
  * are skipped with a count assertion, like the reference's skip-lists
  * (test_validator.cpp:129-134). */
class ConformanceSpec extends SparkTestBase {
  import ConformanceSpec.Case

  private val mapper = new ObjectMapper()


  private def infer(n: JsonNode) = TypedLift.infer(n)

  /** Dynamic path: the document as an arbitrary JSON value through the
    * VariantType compiler — no typing restrictions, nothing skipped. */
  private def runCaseVariant(schemaJson: JsonNode, data: JsonNode,
                             ext: Map[String, String] = Map.empty): (Boolean, Int) = {
    val spec = SpecParser.parseNode(schemaJson, ext)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(data.toString))),
      StructType(Seq(StructField("j", StringType))))
    val out = Graft.validateJsonColumnCatalyst(df, "j", spec)
    val r = out.select(col("pass"), violationCount(col("violations"))).collect()(0)
    (r.getBoolean(0), r.getInt(1))
  }

  /** Violations in an array column; a NULL array holds none. */
  private def violationCount(v: Column): Column =
    when(v.isNull, 0).otherwise(functions.size(v)) // Matchers shadows `size`

  /** Native single-pass path: the ValidateJsonExpr parse + document walk
    * (`Graft.validateJsonColumn`). */
  private def runCaseNative(schemaJson: JsonNode, data: JsonNode,
                            ext: Map[String, String] = Map.empty): (Boolean, Seq[(String, String)]) = {
    val (pass, viols) = runCaseNativeRows(schemaJson, data, ext)
    (pass, viols.map(x => (x.getString(0), x.getString(1))))
  }

  /** `pass` and the violation rows `(json_pointer, description, kind)`. */
  private def runCaseNativeRows(schemaJson: JsonNode, data: JsonNode,
                                ext: Map[String, String]): (Boolean, Seq[Row]) = {
    val spec = SpecParser.parseNode(schemaJson, ext)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(data.toString))),
      StructType(Seq(StructField("j", StringType))))
    val out = Graft.validateJsonColumn(df, "j", spec)
    val r = out.select("pass", "violations").collect()(0)
    (r.getBoolean(0), r.getSeq[Row](1))
  }

  /** Typed path: `pass` and the `(json_pointer, kind)` of each violation. */
  private def runCase(schemaJson: JsonNode, data: JsonNode,
                      ext: Map[String, String] = Map.empty): Option[(Boolean, Seq[(String, String)])] = {
    val spec = SpecParser.parseNode(schemaJson, ext)
    // `pass` and `violations` are compiled as independent columns; both are
    // read here so the invariant test below can hold them to each other
    val r = infer(data).map {
      case (st: StructType, row: Row) =>
        val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(row)), st)
        val c = Compiler.compileRow(spec, st)
        df.select(c.pass, c.violations).collect()(0)
      case (dt, v) =>
        val st = StructType(Seq(StructField("doc", dt)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(v))), st)
        val c = Compiler.compile(spec, col("doc"), dt, lit(""))
        df.select(coalesce(c.pass, lit(true)), c.violations).collect()(0)
    }
    // a NULL violations array holds none
    r.map(x => (x.getBoolean(0), Option(x.getSeq[Row](1)).getOrElse(Nil)
      .map(v => (v.getString(0), v.getString(2)))))
  }

  /** Optional per-group `externalDocs` map — the remote-$ref surface (the
    * reference's fetchDocument callback, schema_parser.hpp:143-158),
    * resolved offline from the group's own fixture map. */
  private def extDocsOf(g: JsonNode): Map[String, String] =
    Option(g.get("externalDocs")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.toString).toMap).getOrElse(Map.empty)

  private lazy val corpus: Seq[Case] = {
    val dir = new java.io.File(getClass.getResource("/conformance").toURI)
    dir.listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq.flatMap { file =>
      mapper.readTree(file).elements().asScala.toSeq.flatMap { g =>
        val ext = extDocsOf(g)
        g.get("tests").elements().asScala.map { t =>
          Case(s"${file.getName}: ${g.get("description").asText()} / ${t.get("description").asText()}",
            ext, g.get("schema"), t.get("data"), t.get("valid").asBoolean())
        }
      }
    }
  }

  // (pass, violation count) per case on each path, None where the path
  // skips the case; computed once, read by the path tests and the
  // pass ⇔ no-violations invariant test. The typed and native paths also
  // keep each violation's (json_pointer, kind) for the violation-level test.
  private lazy val typedViolations: Seq[(Case, Option[(Boolean, Seq[(String, String)])])] =
    corpus.map { c =>
      c -> (try runCase(c.schema, c.data, c.ext)
        catch { case _: IllegalArgumentException => None }) // unsupported construct
    }
  private lazy val typedResults: Seq[(Case, Option[(Boolean, Int)])] =
    typedViolations.map { case (c, r) => c -> r.map { case (pass, vs) => (pass, vs.size) } }
  // The variant Catalyst path compiles the schema to a FINITE expression
  // tree, so cyclic $ref cannot inhabit it by design (Compiler.scala throws
  // with a pointer to the native path, which runs every case). Those cases
  // are the only permitted skips.
  private lazy val variantResults: Seq[(Case, Option[(Boolean, Int)])] = corpus.map { c =>
    c -> (try Some(runCaseVariant(c.schema, c.data, c.ext)) catch {
      case e: IllegalArgumentException if e.getMessage.contains("cyclic $ref") => None
    })
  }
  private lazy val nativeViolations: Seq[(Case, (Boolean, Seq[(String, String)]))] =
    corpus.map { c =>
      val (pass, viols) = runCaseNativeRows(c.schema, c.data, c.ext)
      c -> ((pass, viols.map(v => (v.getString(0), v.getString(2)))))
    }
  private lazy val nativeResults: Seq[(Case, Option[(Boolean, Int)])] =
    nativeViolations.map { case (c, (pass, vs)) => c -> Some((pass, vs.size)) }

  private def failuresOf(results: Seq[(Case, Option[(Boolean, Int)])]): Seq[String] =
    results.collect { case (c, Some((got, _))) if got != c.valid =>
      s"${c.label}: got $got want ${c.valid}" }

  test("conformance suite: typed-column path (JSON-Schema-Test-Suite format)") {
    val total = typedResults.size
    val skipped = typedResults.count(_._2.isEmpty)
    val failures = failuresOf(typedResults)
    val passed = total - skipped - failures.size
    info(s"typed conformance: $passed passed, $skipped skipped, ${failures.size} failed of $total")
    failures.foreach(f => info(s"  FAIL $f"))
    failures shouldBe empty
    passed should be > 80
  }

  test("conformance suite: dynamic variant path (cyclic refs excepted)") {
    val total = variantResults.size
    val cyclicSkipped = variantResults.count(_._2.isEmpty)
    val failures = failuresOf(variantResults)
    val passed = total - cyclicSkipped - failures.size
    info(s"variant conformance: $passed passed, $cyclicSkipped cyclic-ref skipped, " +
      s"${failures.size} failed of $total")
    failures.foreach(f => info(s"  FAIL $f"))
    failures shouldBe empty
    // cyclic-ref cases (metaschema_definitions, ref_recursion_loops, the
    // anchors file's recursive groups) are the only permitted skips here;
    // the native path below runs them all
    cyclicSkipped should be <= 90
    passed shouldBe total - cyclicSkipped
  }

  test("conformance suite: native single-pass validator (no skips)") {
    val total = nativeResults.size
    val failures = failuresOf(nativeResults)
    val passed = total - failures.size
    info(s"native conformance: $passed passed, ${failures.size} failed of $total")
    failures.foreach(f => info(s"  FAIL $f"))
    failures shouldBe empty
    passed shouldBe total
  }

  test("pass ⇔ size(violations) = 0 on every conformance case, all three paths") {
    // pass (fail-fast) and violations (accumulating) are built separately
    // on every path; consumers that keep only one of them (a `!pass`
    // filter dropped in favour of an explode, a verdict count of failing
    // rows) rely on the two agreeing
    val paths = Seq("typed" -> typedResults, "variant" -> variantResults,
      "native" -> nativeResults)
    val breaks = paths.flatMap { case (path, results) =>
      results.collect { case (c, Some((pass, n))) if pass != (n == 0) =>
        s"$path ${c.label}: pass=$pass with $n violations" }
    }
    paths.foreach { case (path, results) =>
      info(s"$path: ${results.count(_._2.nonEmpty)} cases checked") }
    breaks shouldBe empty
    paths.foreach { case (_, results) => results.count(_._2.nonEmpty) should be > 80 }
  }

  test("native walk and typed path report equal (json_pointer, kind) multisets on every comparable case") {
    // `pass` agreement (the path tests above) does not see a path that
    // reports one violation too many or too few, or at the wrong pointer
    val diffs = typedViolations.zip(nativeViolations).collect {
      case ((c, Some((_, typed))), (_, (_, native))) if typed.sorted != native.sorted =>
        s"${c.label}: typed ${typed.sorted} native ${native.sorted}"
    }
    val compared = typedViolations.count(_._2.nonEmpty)
    info(s"typed vs native: ${diffs.size} of $compared comparable cases differ")
    diffs.foreach(d => info(s"  DIFF $d"))
    diffs shouldBe empty
    compared should be > 1000
  }

  test("document text that is not one JSON value: native walk against the variant path") {
    // the corpus holds parsed values, so text-level cases are listed here;
    // the typed path reads no document text. `hex` is the document's UTF-8
    // bytes, so invalid UTF-8 can be fed too.
    val spec = SpecParser.parse("""{"type": "object", "required": ["a"]}""")
    def hex(s: String) = s.getBytes("UTF-8").map(b => f"$b%02x").mkString
    val docs = Seq(
      "trailing value" -> hex("1 2"),
      "trailing text" -> hex("""{"a": 1} x"""),
      "trailing close" -> hex("""{"a": 1}}"""),
      "two objects" -> hex("""{"a": 1} {"a": 2}"""),
      "trailing whitespace" -> hex("{\"a\": 1} \n\t "),
      "unclosed" -> hex("{not json"),
      "byte order mark" -> ("efbbbf" + hex("""{"a": 1}""")),
      "invalid UTF-8" -> (hex("""{"a": """") + "ff" + hex("\"}")))
    val df = spark.createDataFrame(docs).toDF("label", "hex")
      .select(col("label"), unhex(col("hex")).cast("string").as("j"))
    def verdicts(out: org.apache.spark.sql.DataFrame): Map[String, (Boolean, Seq[String])] =
      out.select("label", "pass", "violations").collect().map { r =>
        r.getString(0) -> ((r.getBoolean(1), r.getSeq[Row](2).map(_.getString(2))))
      }.toMap
    val native = verdicts(Graft.validateJsonColumn(df, "j", spec))
    val variant = verdicts(Graft.validateJsonColumnCatalyst(df, "j", spec))
    val parseFail = (false, Seq("parse"))
    native shouldBe Map(
      "trailing value" -> parseFail, "trailing text" -> parseFail,
      "trailing close" -> parseFail, "two objects" -> parseFail,
      "trailing whitespace" -> ((true, Seq())), "unclosed" -> parseFail,
      // Jackson skips a UTF-8 byte order mark (RFC 8259 lets a parser
      // ignore one) and rejects bytes that are not UTF-8
      "byte order mark" -> ((true, Seq())), "invalid UTF-8" -> parseFail)
    // KNOWN DEFECT (CHANGES.md FOUND, try_parse_json): Spark's parse reads
    // the first value of the document's UTF-16 copy and ignores the rest,
    // so the variant path validates the first value of a trailing-text
    // document, rejects a byte order mark and reads invalid UTF-8 as U+FFFD
    val disagree = native.keySet.filter(k => native(k) != variant(k))
    disagree.toSeq.sorted.foreach(k => info(s"  DIFF $k: native ${native(k)} variant ${variant(k)}"))
    disagree shouldBe Set("trailing value", "trailing text", "trailing close", "two objects",
      "byte order mark", "invalid UTF-8")
  }

  test("propertyNames on a typed map column: one wrapper per failing key, as on the native path") {
    // typed lifting makes objects structs, so the corpus never reaches the
    // map branch; two of the three keys fail maxLength
    val schema = mapper.readTree("""{"properties":{"m":{"propertyNames":{"maxLength":2}}}}""")
    val data = mapper.readTree("""{"m":{"ab":0,"abc":1,"defg":2}}""")
    val st = StructType(Seq(StructField("m", MapType(StringType, IntegerType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(Map("ab" -> 0, "abc" -> 1, "defg" -> 2)))), st)
    val c = Compiler.compileRow(SpecParser.parseNode(schema), st)
    val typed = df.select(c.pass, c.violations).collect()(0)
    val (nativePass, nativeViols) = runCaseNative(schema, data)
    typed.getBoolean(0) shouldBe nativePass
    typed.getSeq[Row](1).map(x => (x.getString(0), x.getString(1))) shouldBe nativeViols
    nativeViols.count(_._2.contains("'propertyNames'")) shouldBe 2
  }

  test("native validator replicates the reference golden violation sequence") {
    val schema = mapper.readTree(
      """{"allOf": [
           {"items": {"type": "integer"}, "additionalItems": false, "type": "array"},
           {"items": {"type": "number"}, "additionalItems": false, "type": "array",
            "uniqueItems": true}]}""")
    val (pass, viols) = runCaseNative(schema, mapper.readTree("[1.5, 2.5, 3.5]"))
    pass shouldBe false
    viols shouldBe Seq(
      ("/0", "Value type not permitted by 'type' constraint."),
      ("",   "Failed to validate item #0 in array."),
      ("/1", "Value type not permitted by 'type' constraint."),
      ("",   "Failed to validate item #1 in array."),
      ("/2", "Value type not permitted by 'type' constraint."),
      ("",   "Failed to validate item #2 in array."),
      ("",   "Failed to validate against child schema #0."))
  }
}

object ConformanceSpec {
  /** One conformance case: `valid` is the suite's expected verdict. */
  final case class Case(label: String, ext: Map[String, String],
                        schema: JsonNode, data: JsonNode, valid: Boolean)
}
