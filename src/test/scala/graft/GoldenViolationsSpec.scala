package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.compile.{Compiler, Messages}
import graft.spec.SpecParser

/** Byte-exact replication of the reference's golden error-output tests
  * (`tests/test_validation_errors.cpp:29-199`): same schemas, same
  * documents, same FIFO (json_pointer, description) sequences. */
class GoldenViolationsSpec extends SparkTestBase {
  import spark.implicits._

  private def viols(schemaJson: String, df: org.apache.spark.sql.DataFrame,
                    colName: Option[String] = None): Seq[(String, String)] = {
    val spec = SpecParser.parse(schemaJson)
    val c = colName match {
      case Some(n) => // top-level value is the named column (array documents)
        Compiler.compile(spec, col(n), df.schema(n).dataType, lit(""))
      case None => Compiler.compileRow(spec, df.schema)
    }
    df.select(c.violations).collect()(0).getSeq[Row](0)
      .map(r => (r.getString(0), r.getString(1)))
  }

  test("AllOfConstraintFailure (test_validation_errors.cpp:29-108)") {
    // schema: tests/data/schemas/allof_integers_and_numbers.schema.json
    // document: tests/data/documents/array_doubles_1p5_2p5_3p5.json
    val schema =
      """{"allOf": [
           {"items": {"type": "integer"}, "additionalItems": false, "type": "array"},
           {"items": {"type": "number"}, "additionalItems": false, "type": "array",
            "uniqueItems": true}]}"""
    val df = Seq(Tuple1(Seq(1.5, 2.5, 3.5))).toDF("doc")
    viols(schema, df, Some("doc")) shouldBe Seq(
      ("/0", "Value type not permitted by 'type' constraint."),
      ("",   "Failed to validate item #0 in array."),
      ("/1", "Value type not permitted by 'type' constraint."),
      ("",   "Failed to validate item #1 in array."),
      ("/2", "Value type not permitted by 'type' constraint."),
      ("",   "Failed to validate item #2 in array."),
      ("",   "Failed to validate against child schema #0."))
  }

  test("AdditionalPropertiesConstraintError_1 (cpp:110-157): number property vs string schema") {
    // schema: additional_properties_string.schema.json
    // document: object_property_number.json {"abc": 123}
    val schema = """{"additionalProperties": {"type": "string"}}"""
    val df = Seq(Tuple1(123L)).toDF("abc")
    viols(schema, df) shouldBe Seq(
      ("/abc", "Value type not permitted by 'type' constraint."),
      ("",     "Failed to validate against additional properties schema."))
  }

  test("AdditionalPropertiesConstraintError_2 (cpp:159-199): string property vs number schema") {
    val schema = """{"additionalProperties": {"type": "number"}}"""
    val df = Seq(Tuple1("world")).toDF("hello")
    viols(schema, df) shouldBe Seq(
      ("/hello", "Value type not permitted by 'type' constraint."),
      ("",       "Failed to validate against additional properties schema."))
  }

  test("tuple items overflow with additionalItems:false emits tooManyItems AND cannotValidateItem (VV:554-614)") {
    // LinearItemsConstraint: no additionalItems subschema ⇒ both messages,
    // in that order, and NO per-item validation for the uncovered tail.
    val schema = """{"items": [{"type": "integer"}], "additionalItems": false}"""
    val expected = Seq(
      ("", "Array contains more items than allowed by items constraint."),
      ("", "Cannot validate item #1 or greater using 'items' constraint or 'additionalItems' constraint."))
    // Catalyst typed-array path
    val df = Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("doc")
    viols(schema, df, Some("doc")) shouldBe expected
    // native variant-walker path
    val jdf = Seq("[1,2,3]").toDF("doc")
    val out = Graft.validateJsonColumn(jdf, "doc", SpecParser.parse(schema))
    out.select(col("violations")).collect()(0).getSeq[Row](0)
      .map(r => (r.getString(0), r.getString(1))) shouldBe expected
    // items:[] + additionalItems:false: cannotValidateItem(0) ONLY (VV:554 gate)
    val schema0 = """{"items": [], "additionalItems": false}"""
    val out0 = Graft.validateJsonColumn(jdf, "doc", SpecParser.parse(schema0))
    out0.select(col("violations")).collect()(0).getSeq[Row](0)
      .map(r => (r.getString(0), r.getString(1))) shouldBe Seq(
      ("", "Cannot validate item #0 or greater using 'items' constraint or 'additionalItems' constraint."))
  }

  test("legacy context rendering matches the reference goldens (test_validation_errors.cpp:59-108)") {
    // AllOf fixture: pointers /0, "", /1, "", /2, "", "" →
    // contexts (<root>,[0]), (<root>), (<root>,[1]), …
    Messages.legacyContext("/0") shouldBe Vector("<root>", "[0]")
    Messages.legacyContext("") shouldBe Vector("<root>")
    Messages.legacyContext("/abc") shouldBe Vector("<root>", "[\"abc\"]")
    Messages.legacyContext("/my_object/1/some_property") shouldBe
      Vector("<root>", "[\"my_object\"]", "[1]", "[\"some_property\"]")
    Messages.legacyContext("/a~1b/c~0d") shouldBe Vector("<root>", "[\"a/b\"]", "[\"c~d\"]")
    // Column form agrees with the driver-side renderer
    val ptrs = Seq("/0", "", "/abc", "/my_object/1/some_property", "/a~1b/c~0d")
    val got = ptrs.toDF("p").select(Graft.legacyContext(col("p"))).collect()
      .map(_.getSeq[String](0).toVector)
    got shouldBe ptrs.map(Messages.legacyContext).toArray
  }

  test("violation SINK emits legacy_context alongside json_pointer (opt-in), golden vs cpp:59-108") {
    // The AllOf fixture through the runner's sink path: rowOutput-shaped
    // frame → violationsOf + Graft.legacyContext; every row must
    // carry BOTH renderings, byte-matching the reference's golden pairs in
    // FIFO order (constraint_seq).
    val schema =
      """{"allOf": [
           {"items": {"type": "integer"}, "additionalItems": false, "type": "array"},
           {"items": {"type": "number"}, "additionalItems": false, "type": "array",
            "uniqueItems": true}]}"""
    val rowOut = Graft.validateJsonColumn(
        Seq(("k1", "[1.5, 2.5, 3.5]")).toDF("k", "doc"), "doc", SpecParser.parse(schema))
      .withColumn("part_id", lit(0L))
    val sink = graft.run.Runner.violationsOf(rowOut, Seq("k"))
      .withColumn("legacy_context", Graft.legacyContext(col("json_pointer")))
    val got = sink.orderBy("constraint_seq").collect().map(r =>
      (r.getAs[String]("json_pointer"), r.getAs[String]("description"),
       r.getSeq[String](r.fieldIndex("legacy_context")).toVector))
    got.toSeq shouldBe Seq(
      ("/0", "Value type not permitted by 'type' constraint.", Vector("<root>", "[0]")),
      ("",   "Failed to validate item #0 in array.",           Vector("<root>")),
      ("/1", "Value type not permitted by 'type' constraint.", Vector("<root>", "[1]")),
      ("",   "Failed to validate item #1 in array.",           Vector("<root>")),
      ("/2", "Value type not permitted by 'type' constraint.", Vector("<root>", "[2]")),
      ("",   "Failed to validate item #2 in array.",           Vector("<root>")),
      ("",   "Failed to validate against child schema #0.",    Vector("<root>")))
    // default shape unchanged: no legacy_context column
    graft.run.Runner.violationsOf(rowOut, Seq("k"))
      .columns should not contain "legacy_context"
  }

  test("JSON Pointer escaping: ~ and / in property names (validation_results.hpp:140-160)") {
    val schema = """{"properties": {"a/b": {"type": "integer"}, "c~d": {"type": "integer"}}}"""
    val st = StructType(Seq(StructField("a/b", StringType), StructField("c~d", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("x", "y"))), st)
    val got = viols(schema, df)
    got.map(_._1) should contain allOf ("/a~1b", "/c~0d")
  }
}
