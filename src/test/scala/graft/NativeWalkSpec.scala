package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.compile.CompileOptions
import graft.spec.{MetaSchemas, SchemaSpec, SpecParser}

/** The native walker (`ValidateJsonExpr`) pinned as literal FIFO
  * `(json_pointer, description, kind)` sequences on the document shapes
  * where its object and pointer handling has edge cases: objects of 32+
  * fields (where Spark's own key lookup switches to binary search), keys
  * that need `~0`/`~1` escapes, the empty key, keys whose UTF-8 and UTF-16
  * orders differ, every object keyword on one object, array-index
  * pointers, combinator child sinks, and NULL / malformed documents. */
class NativeWalkSpec extends SparkTestBase {
  import NativeWalkSpec._

  private def walk(spec: SchemaSpec, docs: Seq[String],
                   strict: Boolean): Seq[(Boolean, Seq[(String, String, String)])] = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(docs.map(Row(_)), 1),
      StructType(Seq(StructField("j", StringType))))
    Graft.validateJsonColumn(df, "j", spec, CompileOptions(strictTypes = strict))
      .select("pass", "violations").collect().toSeq.map { r =>
        (r.getBoolean(0),
          r.getSeq[Row](1).map(x => (x.getString(0), x.getString(1), x.getString(2))))
      }
  }

  private def walk(schema: String, docs: String*): Seq[(Boolean, Seq[(String, String, String)])] =
    walk(SpecParser.parse(schema), docs, strict = true)

  test("draft-07 metaschema: two parses print the same spec and give the same violation sequence") {
    val a = SpecParser.parse(MetaSchemas.draft07)
    val b = SpecParser.parse(MetaSchemas.draft07)
    a.toString shouldBe b.toString
    // one failing value per keyword, so the order of the metaschema's
    // PropertiesC entries is the order of the violations
    val doc = """{"type": 5, "enum": [], "required": "x", "minLength": -1, "title": 1,
                  "items": 7, "properties": 3, "default": 0, "maxItems": "m", "$id": 2,
                  "pattern": true, "allOf": [], "format": 4, "description": false}"""
    val va = walk(a, Seq(doc), strict = true)
    val vb = walk(b, Seq(doc), strict = true)
    va.head._1 shouldBe false
    va.head._2.size should be > 20
    vb shouldBe va
  }

  test("objects of 32+ fields: declared, pattern and additional properties, required, dependencies, propertyNames") {
    walk("""{"type": "object",
        "properties": {"f05": {"type": "string"}, "f33": {"minimum": 10}, "f00": {"maxLength": 1}},
        "required": ["f39", "missing", "f07"],
        "patternProperties": {"^f3[0-4]$": {"type": "integer"}},
        "additionalProperties": {"type": "integer", "maximum": 35},
        "dependencies": {"f38": ["nope"], "f02": {"required": ["zz"]}},
        "propertyNames": {"maxLength": 3}}""",
      wide(""", "longkey": 1"""),
      """{"f00": "ab", "f05": 5, "f33": 3, "f36": 36, "f38": 0, "f02": 1, "longkey": 1}""") shouldBe Seq(
      (false, Seq(
        ("", "Missing dependency 'nope'.", "dependencies"),
        ("", "Missing required property 'zz'.", "required"),
        ("", "Failed to validate against dependent schema.", "dependencies"),
        ("/f05", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name 'f05'.", "properties"),
        ("/f33", "Expected number greater than or equal to 10.000000", "minimum"),
        ("", "Failed to validate against schema associated with property name 'f33'.", "properties"),
        ("/f00", "String should be no more than 1 characters in length.", "maxLength"),
        ("", "Failed to validate against schema associated with property name 'f00'.", "properties"),
        ("/f31", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with pattern '^f3[0-4]$'.", "patternProperties"),
        ("/f36", "Expected number less than or equal to 35.000000", "maximum"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("/f37", "Expected number less than or equal to 35.000000", "maximum"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("/f38", "Expected number less than or equal to 35.000000", "maximum"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("/f39", "Expected number less than or equal to 35.000000", "maximum"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("", "Failed to validate against 'propertyNames' constraint.", "propertyNames"),
        ("", "Missing required property 'missing'.", "required"))),
      (false, Seq(
        ("", "Missing dependency 'nope'.", "dependencies"),
        ("", "Missing required property 'zz'.", "required"),
        ("", "Failed to validate against dependent schema.", "dependencies"),
        ("/f05", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name 'f05'.", "properties"),
        ("/f33", "Expected number greater than or equal to 10.000000", "minimum"),
        ("", "Failed to validate against schema associated with property name 'f33'.", "properties"),
        ("/f00", "String should be no more than 1 characters in length.", "maxLength"),
        ("", "Failed to validate against schema associated with property name 'f00'.", "properties"),
        ("/f36", "Expected number less than or equal to 35.000000", "maximum"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("", "Failed to validate against 'propertyNames' constraint.", "propertyNames"),
        ("", "Missing required property 'f39'.", "required"),
        ("", "Missing required property 'missing'.", "required"),
        ("", "Missing required property 'f07'.", "required"))))
  }

  test("keys that need ~0/~1 escapes, and the empty key, at every depth") {
    walk("""{"properties": {"a/b": {"type": "string"}, "m~n": {"type": "string"},
          "": {"type": "string"}, "~01": {"type": "string"},
          "nest": {"properties": {"": {"properties": {"": {"type": "string"}}}}}},
        "additionalProperties": {"type": "string"}}""",
      """{"a/b": 1, "m~n": 2, "": 3, "~01": 4, "x/~y": 5, "nest": {"": {"": 6}}}""") shouldBe Seq(
      (false, Seq(
        ("/a~1b", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name 'a/b'.", "properties"),
        ("/m~0n", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name 'm~n'.", "properties"),
        ("/", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name ''.", "properties"),
        ("/~001", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name '~01'.", "properties"),
        ("/nest//", "Value type not permitted by 'type' constraint.", "type"),
        ("/nest/", "Failed to validate against schema associated with property name ''.", "properties"),
        ("/nest", "Failed to validate against schema associated with property name ''.", "properties"),
        ("", "Failed to validate against schema associated with property name 'nest'.", "properties"),
        ("/x~1~0y", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"))))
  }

  test("non-ASCII and non-BMP keys keep the variant's UTF-16 field order, in small and 32+ field objects") {
    walk(s"""{"additionalProperties": {"type": "string"},
        "required": ["$ff", "$smile", "$eAcute", "absent$eAcute"]}""",
      s"""{"z": 1, "$eAcute": 2, "$smile": 3, "$ff": 4, "$del": 5}""",
      (0 until 40).map(i => f"\"f$i%02d\": \"v\"")
        .mkString("{", ", ", s""", "$eAcute": 2, "$smile": 3, "$ff": 4, "$del": 5}""")) shouldBe Seq(
      (false, Seq(
        ("/z", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${del}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${eAcute}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${smile}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${ff}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("", s"Missing required property 'absent${eAcute}'.", "required"))),
      (false, Seq(
        (s"/${del}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${eAcute}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${smile}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        (s"/${ff}", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"),
        ("", s"Missing required property 'absent${eAcute}'.", "required"))))
  }

  test("patternProperties with an additionalProperties schema on one object") {
    walk("""{"properties": {"a": {"type": "integer"}},
        "patternProperties": {"^a": {"minimum": 5}, "b$": {"type": "string"}},
        "additionalProperties": {"type": "boolean"}}""",
      """{"a": 1, "ab": 2, "cb": 3, "zz": 4, "ok": true, "b": "s"}""") shouldBe Seq(
      (false, Seq(
        ("/a", "Expected number greater than or equal to 5.000000", "minimum"),
        ("", "Failed to validate against schema associated with pattern '^a'.", "patternProperties"),
        ("/ab", "Expected number greater than or equal to 5.000000", "minimum"),
        ("", "Failed to validate against schema associated with pattern '^a'.", "patternProperties"),
        ("/ab", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with pattern 'b$'.", "patternProperties"),
        ("/cb", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with pattern 'b$'.", "patternProperties"),
        ("/zz", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against additional properties schema.", "additionalProperties"))))
  }

  test("patternProperties with additionalProperties false: the first unmatched key is reported") {
    walk("""{"properties": {"a": {"type": "integer"}},
        "patternProperties": {"^a": {"minimum": 5}, "b$": {"type": "string"}},
        "additionalProperties": false}""",
      """{"a": 1, "ab": 2, "cb": 3, "zz": 4, "ok": true, "b": "s"}""",
      """{"a": 7, "b": "s"}""") shouldBe Seq(
      (false, Seq(
        ("/a", "Expected number greater than or equal to 5.000000", "minimum"),
        ("", "Failed to validate against schema associated with pattern '^a'.", "patternProperties"),
        ("/ab", "Expected number greater than or equal to 5.000000", "minimum"),
        ("", "Failed to validate against schema associated with pattern '^a'.", "patternProperties"),
        ("/ab", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with pattern 'b$'.", "patternProperties"),
        ("/cb", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with pattern 'b$'.", "patternProperties"),
        ("", "Object contains a property that could not be validated using 'properties' or 'additionalProperties' constraints: 'ok'.", "additionalProperties"))),
      (true, Seq()))
  }

  test("required, dependencies and propertyNames on one object") {
    walk("""{"required": ["a", "b", "c"],
        "dependencies": {"a": ["d", "e"], "x": {"required": ["y"], "properties": {"x": {"type": "string"}}},
          "q": ["r"]},
        "propertyNames": {"pattern": "^[a-x]$"}}""",
      """{"a": 1, "x": 2, "zz": 3}""", """{"a": 1, "b": 2, "c": 3, "d": 4, "e": 5}""") shouldBe Seq(
      (false, Seq(
        ("", "Missing dependency 'd'.", "dependencies"),
        ("", "Missing dependency 'e'.", "dependencies"),
        ("/x", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name 'x'.", "properties"),
        ("", "Missing required property 'y'.", "required"),
        ("", "Failed to validate against dependent schema.", "dependencies"),
        ("", "Failed to validate against 'propertyNames' constraint.", "propertyNames"),
        ("", "Missing required property 'b'.", "required"),
        ("", "Missing required property 'c'.", "required"))),
      (true, Seq()))
  }

  test("array-index pointers under items, tuple items and additionalItems") {
    walk("""{"properties": {"m": {"items": {"items": {"type": "integer"}}},
        "t": {"items": [{"type": "string"}, {"type": "integer"}], "additionalItems": {"type": "boolean"}},
        "u": {"items": [{"type": "string"}], "additionalItems": false}}}""",
      """{"m": [[1, "x"], [2.5, 3, "y"]], "t": [1, "a", true, 4], "u": ["s", 1, 2]}""") shouldBe Seq(
      (false, Seq(
        ("/m/0/1", "Value type not permitted by 'type' constraint.", "type"),
        ("/m/0", "Failed to validate item #1 in array.", "items"),
        ("/m", "Failed to validate item #0 in array.", "items"),
        ("/m/1/0", "Value type not permitted by 'type' constraint.", "type"),
        ("/m/1", "Failed to validate item #0 in array.", "items"),
        ("/m/1/2", "Value type not permitted by 'type' constraint.", "type"),
        ("/m/1", "Failed to validate item #2 in array.", "items"),
        ("/m", "Failed to validate item #1 in array.", "items"),
        ("", "Failed to validate against schema associated with property name 'm'.", "properties"),
        ("/t/0", "Value type not permitted by 'type' constraint.", "type"),
        ("/t/0", "Failed to validate item #0 against corresponding item schema.", "items"),
        ("/t/1", "Value type not permitted by 'type' constraint.", "type"),
        ("/t/1", "Failed to validate item #1 against corresponding item schema.", "items"),
        ("/t/3", "Value type not permitted by 'type' constraint.", "type"),
        ("/t", "Failed to validate item #3 against additional items schema.", "items"),
        ("", "Failed to validate against schema associated with property name 't'.", "properties"),
        ("/u", "Array contains more items than allowed by items constraint.", "items"),
        ("/u", "Cannot validate item #1 or greater using 'items' constraint or 'additionalItems' constraint.", "items"),
        ("", "Failed to validate against schema associated with property name 'u'.", "properties"))))
  }

  test("oneOf / anyOf / if-then-else child sinks, nested and under not") {
    walk("""{"properties": {
        "o": {"oneOf": [{"type": "string"}, {"properties": {"k": {"minimum": 3}}, "required": ["k"]}]},
        "n": {"anyOf": [{"type": "string"}, {"items": {"type": "string"}}]},
        "two": {"oneOf": [{"type": "integer"}, {"minimum": 0}]},
        "c": {"if": {"type": "string"}, "then": {"minLength": 3}, "else": {"maximum": 1}},
        "nt": {"not": {"anyOf": [{"type": "integer"}, {"oneOf": [{"type": "null"}, {"maximum": 0}]}]}},
        "nest": {"anyOf": [{"oneOf": [{"type": "string"}, {"type": "integer"}]},
                           {"items": {"anyOf": [{"type": "null"}, {"minimum": 2}]}}]}}}""",
      """{"o": {"k": 1}, "n": [1, "a", 2], "two": 5, "c": "ab", "nt": 3, "nest": [1, null, "z"]}""",
      """{"o": "s", "n": "x", "two": -1.5, "c": 5, "nt": "s", "nest": "q"}""") shouldBe Seq(
      (false, Seq(
        ("/o", "Value type not permitted by 'type' constraint.", "type"),
        ("/o/k", "Expected number greater than or equal to 3.000000", "minimum"),
        ("/o", "Failed to validate against schema associated with property name 'k'.", "properties"),
        ("/o", "Failed to validate against any child schemas allowed by oneOf constraint.", "oneOf"),
        ("", "Failed to validate against schema associated with property name 'o'.", "properties"),
        ("/n", "Value type not permitted by 'type' constraint.", "type"),
        ("/n/0", "Value type not permitted by 'type' constraint.", "type"),
        ("/n", "Failed to validate item #0 in array.", "items"),
        ("/n/2", "Value type not permitted by 'type' constraint.", "type"),
        ("/n", "Failed to validate item #2 in array.", "items"),
        ("/n", "Failed to validate against any schemas allowed by anyOf constraint.", "anyOf"),
        ("", "Failed to validate against schema associated with property name 'n'.", "properties"),
        ("/two", "Failed to validate against exactly one child schema.", "oneOf"),
        ("", "Failed to validate against schema associated with property name 'two'.", "properties"),
        ("/c", "String should be no fewer than 3 characters in length.", "minLength"),
        ("/c", "Failed to validate against a conditional schema set by if-then-else constraints.", "conditional"),
        ("", "Failed to validate against schema associated with property name 'c'.", "properties"),
        ("/nt", "Target should not validate against schema specified in 'not' constraint.", "not"),
        ("", "Failed to validate against schema associated with property name 'nt'.", "properties"),
        ("/nest", "Value type not permitted by 'type' constraint.", "type"),
        ("/nest", "Value type not permitted by 'type' constraint.", "type"),
        ("/nest", "Failed to validate against any child schemas allowed by oneOf constraint.", "oneOf"),
        ("/nest/0", "Value type not permitted by 'type' constraint.", "type"),
        ("/nest/0", "Expected number greater than or equal to 2.000000", "minimum"),
        ("/nest/0", "Failed to validate against any schemas allowed by anyOf constraint.", "anyOf"),
        ("/nest", "Failed to validate item #0 in array.", "items"),
        ("/nest", "Failed to validate against any schemas allowed by anyOf constraint.", "anyOf"),
        ("", "Failed to validate against schema associated with property name 'nest'.", "properties"))),
      (false, Seq(
        ("/o", "Failed to validate against exactly one child schema.", "oneOf"),
        ("", "Failed to validate against schema associated with property name 'o'.", "properties"),
        ("/two", "Value type not permitted by 'type' constraint.", "type"),
        ("/two", "Expected number greater than or equal to 0.000000", "minimum"),
        ("/two", "Failed to validate against any child schemas allowed by oneOf constraint.", "oneOf"),
        ("", "Failed to validate against schema associated with property name 'two'.", "properties"),
        ("/c", "Expected number less than or equal to 1.000000", "maximum"),
        ("/c", "Failed to validate against a conditional schema set by if-then-else constraints.", "conditional"),
        ("", "Failed to validate against schema associated with property name 'c'.", "properties"),
        ("/nt", "Target should not validate against schema specified in 'not' constraint.", "not"),
        ("", "Failed to validate against schema associated with property name 'nt'.", "properties"))))
  }

  test("NULL passes; malformed, empty and duplicate-key documents fail to parse") {
    walk("""{"type": "object", "required": ["a"]}""",
      null, "{", "[1, 2", "", "  ", "nul", """{"a": 1, "a": 2}""", "{}") shouldBe Seq(
      (true, Seq()),
      (false, Seq(
        ("", "Failed to parse JSON document.", "parse"))),
      (false, Seq(
        ("", "Failed to parse JSON document.", "parse"))),
      (false, Seq(
        ("", "Failed to parse JSON document.", "parse"))),
      (false, Seq(
        ("", "Failed to parse JSON document.", "parse"))),
      (false, Seq(
        ("", "Failed to parse JSON document.", "parse"))),
      (false, Seq(
        ("", "Failed to parse JSON document.", "parse"))),
      (false, Seq(
        ("", "Missing required property 'a'.", "required"))))
  }

  test("text after the first JSON value fails to parse; trailing whitespace does not") {
    // a document is one JSON text (RFC 8259): a second value or stray
    // characters after the first make it malformed
    val parseFail = (false, Seq(("", "Failed to parse JSON document.", "parse")))
    walk("""{"type": "object", "required": ["a"]}""",
        "1 2", """{"a": 1} x""", """{"a": 1}}""", """{"a": 1} {"a": 2}""", "{\"a\": 1} \n\t ") shouldBe Seq(
      parseFail, parseFail, parseFail, parseFail, (true, Seq()))
  }

  test("weak typing: an empty array stands in for an object with no fields") {
    walk(SpecParser.parse("""{"required": ["a"], "properties": {"a": {"type": "integer"}},
        "additionalProperties": false, "minProperties": 1, "propertyNames": {"minLength": 2}}"""),
      Seq("[]", "{}", """{"a": "5"}""", """{"a": "x", "b": 1}"""), strict = false) shouldBe Seq(
      (false, Seq(
        ("", "Object should have no fewer than 1 properties.", "minProperties"),
        ("", "Missing required property 'a'.", "required"))),
      (false, Seq(
        ("", "Object should have no fewer than 1 properties.", "minProperties"),
        ("", "Missing required property 'a'.", "required"))),
      (false, Seq(
        ("", "Failed to validate against 'propertyNames' constraint.", "propertyNames"))),
      (false, Seq(
        ("/a", "Value type not permitted by 'type' constraint.", "type"),
        ("", "Failed to validate against schema associated with property name 'a'.", "properties"),
        ("", "Object contains a property that could not be validated using 'properties' or 'additionalProperties' constraints: 'b'.", "additionalProperties"),
        ("", "Failed to validate against 'propertyNames' constraint.", "propertyNames"),
        ("", "Failed to validate against 'propertyNames' constraint.", "propertyNames"))))
  }

  test("enum, const and uniqueItems compare objects by key") {
    walk("""{"properties": {"e": {"enum": [{"a": 1, "b": [1, 2]}, "x"]},
        "c": {"const": {"k": {"j": null}}}, "u": {"uniqueItems": true}}}""",
      """{"e": {"b": [1, 2], "a": 1.0}, "c": {"k": {"j": 0}}, "u": [{"a": 1, "b": 2}, {"b": 2, "a": 1.0}, [1], [1.0]]}""",
      """{"e": {"a": 1}, "c": {"k": {"j": null}}, "u": [1, 2]}""") shouldBe Seq(
      (false, Seq(
        ("/c", "Failed to match expected value set by 'const' constraint.", "const"),
        ("", "Failed to validate against schema associated with property name 'c'.", "properties"),
        ("/u", "Elements at indexes #0 and #1 violate uniqueness constraint.", "uniqueItems"),
        ("/u", "Elements at indexes #2 and #3 violate uniqueness constraint.", "uniqueItems"),
        ("", "Failed to validate against schema associated with property name 'u'.", "properties"))),
      (false, Seq(
        ("/e", "Failed to match against any enum values.", "enum"),
        ("", "Failed to validate against schema associated with property name 'e'.", "properties"))))
  }
}

object NativeWalkSpec {
  private val eAcute = "\u00e9"
  private val del = "\u007f"
  // U+FB00 sorts after a surrogate pair in UTF-16 but before it in UTF-8
  private val ff = new String(Character.toChars(0xFB00))
  private val smile = new String(Character.toChars(0x1F600))

  /** An object of 40 fields `f00`..`f39` (plus `extra`), integer-valued
    * except `f00` ("ab"), `f31` (1.5) and `f33` (3). */
  private def wide(extra: String): String =
    (0 until 40).map { i =>
      val v = i match { case 0 => "\"ab\""; case 31 => "1.5"; case 33 => "3"; case _ => i.toString }
      f"\"f$i%02d\": $v"
    }.mkString("{", ", ", extra + "}")
}
