package graft

import org.apache.spark.sql.functions._

import graft.spec.SpecParser

/** `$ref` machinery: cyclic refs (registry memoization,
  * `schema_parser.hpp:486-531`), `$id` scope registration
  * (`findSchemaById`, SP:311-417), and external-document resolution via the
  * caller-supplied map (offline `fetchDoc` analog, SP:106-124, 1267-1292). */
class RefSpec extends SparkTestBase {
  import spark.implicits._

  private def nativePass(spec: graft.spec.SchemaSpec, docs: Seq[String]): Seq[Boolean] =
    Graft.validateJsonColumn(docs.toDF("doc"), "doc", spec)
      .select("pass").collect().toSeq.map(_.getBoolean(0))

  test("cyclic $ref: recursive linked-list schema validates on the native path") {
    val spec = SpecParser.parse(
      """{"type": "object",
          "properties": {
            "value": {"type": "integer"},
            "next": {"$ref": "#"}},
          "required": ["value"]}""")
    nativePass(spec, Seq(
      """{"value": 1}""",
      """{"value": 1, "next": {"value": 2, "next": {"value": 3}}}""",
      """{"value": 1, "next": {"value": "bad"}}""",
      """{"value": 1, "next": {"next": {"value": 2}}}""" // inner missing value
    )) shouldBe Seq(true, true, false, false)
  }

  test("cyclic $ref through definitions (mutual recursion) terminates") {
    val spec = SpecParser.parse(
      """{"$ref": "#/definitions/node",
          "definitions": {
            "node": {"type": "object",
                     "properties": {"children": {"type": "array",
                       "items": {"$ref": "#/definitions/node"}}}}}}""")
    nativePass(spec, Seq(
      """{"children": [{"children": []}, {}]}""",
      """{"children": [{"children": "nope"}]}"""
    )) shouldBe Seq(true, false)
  }

  test("cyclic $ref rejected by the Catalyst compiler with a clear message") {
    val spec = SpecParser.parse(
      """{"properties": {"next": {"$ref": "#"}}}""")
    val e = intercept[IllegalArgumentException] {
      Graft.validateJsonColumnCatalyst(Seq("{}").toDF("doc"), "doc", spec).collect()
    }
    e.getMessage should include("cyclic")
    e.getMessage should include("validateJsonColumn")
  }

  test("external $ref resolved from the caller-supplied document map") {
    val external = Map(
      "http://example.com/item.json" ->
        """{"type": "object", "required": ["name"],
            "properties": {"name": {"type": "string", "minLength": 2}}}""")
    val spec = SpecParser.parse(
      """{"type": "array", "items": {"$ref": "http://example.com/item.json"}}""",
      external)
    nativePass(spec, Seq(
      """[{"name": "ok"}]""",
      """[{"name": "x"}]""",
      """[{}]""")) shouldBe Seq(true, false, false)
  }

  test("URN-keyed external document resolves through the map (fetch-by-opaque-key)") {
    // the reference's test_fetch_urn_document_callback.cpp scenario: a
    // `urn:` URI is absolute (scheme-prefixed) but non-hierarchical — it
    // must be used verbatim as the fetch key, with the JSON Pointer applied
    // inside the fetched document
    val spec = SpecParser.parse(
      """{"properties":{"x":{"$ref":"urn:uuid:ee2e6cbb-3339-4bb1-b719-ee8eb18dba9f#/definitions/item"}}}""",
      Map("urn:uuid:ee2e6cbb-3339-4bb1-b719-ee8eb18dba9f" ->
        """{"definitions":{"item":{"type":"string","minLength":2}}}"""))
    nativePass(spec, Seq(
      """{"x":"ok"}""", """{"x":"a"}""", """{"x":7}""", """{}"""
    )) shouldBe Seq(true, false, false, true)
    // whole-document URN ref (no fragment) works too
    val spec2 = SpecParser.parse(
      """{"properties":{"x":{"$ref":"urn:example:graft:positive"}}}""",
      Map("urn:example:graft:positive" -> """{"minimum":0}"""))
    nativePass(spec2, Seq("""{"x":1}""", """{"x":-1}""")) shouldBe Seq(true, false)
  }

  test("external $ref missing from the map fails with a helpful error") {
    val e = intercept[IllegalArgumentException] {
      SpecParser.parse("""{"$ref": "http://example.com/missing.json"}""")
    }
    e.getMessage should include("externalDocs")
    e.getMessage should include("http://example.com/missing.json")
  }

  test("relative $ref resolves against the root $id scope") {
    val external = Map(
      "http://example.com/schemas/part.json" -> """{"type": "integer", "minimum": 0}""")
    val spec = SpecParser.parse(
      """{"$id": "http://example.com/schemas/root.json",
          "properties": {"p": {"$ref": "part.json"}}}""", external)
    nativePass(spec, Seq("""{"p": 3}""", """{"p": -1}""", """{"p": "s"}""")) shouldBe
      Seq(true, false, false)
  }

  test("$id-registered subschema resolves without a fetch (findSchemaById analog)") {
    val spec = SpecParser.parse(
      """{"$id": "http://x.test/root.json",
          "definitions": {
            "aint": {"$id": "http://x.test/a.json", "type": "integer"}},
          "properties": {"v": {"$ref": "http://x.test/a.json"}}}""")
    nativePass(spec, Seq("""{"v": 1}""", """{"v": "s"}""")) shouldBe Seq(true, false)
  }

  test("pointer into an external document + nested $id scope") {
    val external = Map(
      "http://y.test/defs.json" ->
        """{"definitions": {"tiny": {"type": "string", "maxLength": 3}}}""")
    val spec = SpecParser.parse(
      """{"properties": {"s": {"$ref": "http://y.test/defs.json#/definitions/tiny"}}}""",
      external)
    nativePass(spec, Seq("""{"s": "ab"}""", """{"s": "abcd"}""")) shouldBe Seq(true, false)
  }

  test("pure $ref cycles with no schema content are rejected at parse (reference fixture)") {
    // tests/data/schemas/circular_reference.schema.json — populateSchema
    // throws in the reference (test_json_pointer.cpp CircularReferences)
    val e = intercept[IllegalArgumentException] {
      SpecParser.parse(
        """{"properties": {
             "foo": {"$ref": "#/properties/bar"},
             "bar": {"$ref": "#/properties/baz"},
             "baz": {"$ref": "#/properties/foo"}}}""")
    }
    e.getMessage should (include("circular") or include("cycle"))
    // root self-reference (reference issue #200 currently crashes there;
    // we reject cleanly)
    intercept[IllegalArgumentException] {
      SpecParser.parse("""{"$ref": "#"}""")
    }.getMessage should (include("circular") or include("cycle"))
  }

  test("cross-document plain-name anchors resolve to the anchored subschema, not the doc root") {
    val external = Map(
      "http://y.test/defs.json" ->
        """{"definitions": {"t": {"$id": "#tiny", "type": "string", "maxLength": 3}}}""")
    val spec = SpecParser.parse(
      """{"properties": {"s": {"$ref": "http://y.test/defs.json#tiny"}}}""", external)
    nativePass(spec, Seq("""{"s": "ab"}""", """{"s": "abcd"}""")) shouldBe Seq(true, false)
    // unknown anchor errors instead of silently matching the document root
    intercept[IllegalArgumentException] {
      SpecParser.parse(
        """{"$ref": "http://y.test/defs.json#nope"}""", external)
    }.getMessage should include("anchor")
  }

  test("combinator-only $ref cycles (no document descent) are rejected at parse") {
    // {"anyOf":[{"$ref":"#"}]} would re-enter the same schema with the SAME
    // value and recurse forever; the descent-depth guard rejects it
    for (schema <- Seq(
        """{"anyOf": [{"$ref": "#"}]}""",
        """{"not": {"$ref": "#"}}""",
        """{"allOf": [{"type": "object"}, {"$ref": "#"}]}""",
        """{"dependencies": {"a": {"$ref": "#"}}}""")) {
      withClue(schema) {
        intercept[IllegalArgumentException] {
          SpecParser.parse(schema)
        }.getMessage should (include("cycle") or include("circular"))
      }
    }
    // but a cycle guarded by a descending keyword inside a combinator is fine
    val ok = SpecParser.parse(
      """{"anyOf": [{"type": "integer"},
                    {"type": "object", "properties": {"next": {"$ref": "#"}}}]}""")
    nativePass(ok, Seq("""{"next": {"next": 3}}""", """{"next": {"next": "s"}}""")) shouldBe
      Seq(true, false)
  }

  test("intermediate $id scopes along a $ref pointer path govern nested relative refs") {
    val external = Map(
      "http://a.test/rel.json" -> """{"type": "integer", "minimum": 0}""")
    val spec = SpecParser.parse(
      """{"$ref": "#/definitions/outer/inner",
          "definitions": {
            "outer": {"$id": "http://a.test/outer.json",
                      "inner": {"$ref": "rel.json"}}}}""", external)
    nativePass(spec, Seq("3", "-1", "\"s\"")) shouldBe Seq(true, false, false)
  }

  test("DAG reuse (non-cyclic shared $ref) still compiles on the Catalyst paths") {
    val spec = SpecParser.parse(
      """{"definitions": {"pos": {"minimum": 0}},
          "properties": {"x": {"$ref": "#/definitions/pos"},
                         "y": {"$ref": "#/definitions/pos"}}}""")
    val df = Seq((1L, 2L), (1L, -2L)).toDF("x", "y")
    val c = graft.compile.Compiler.compileRow(spec, df.schema)
    df.select(c.pass).collect().toSeq.map(_.getBoolean(0)) shouldBe Seq(true, false)
  }

  test("pathologically deep schema documents fail with a clear error, not a crash") {
    def deep(n: Int): String =
      ("""{"properties":{"p":""" * n) + """{"type":"integer"}""" + ("}}" * n)
    // moderate nesting parses fine
    SpecParser.parse(deep(100)) should not be null
    // a single deep document is bounded by the mapper's CONFIGURED 512
    // nesting cap (matching the walk guard): Jackson's streaming depth
    // check throws with a shallow stack, deterministically
    intercept[Exception](SpecParser.parse(deep(800)))
    intercept[Exception](SpecParser.parse(deep(5000)))
    // the band Jackson cannot see: unbounded nesting assembled from a CHAIN
    // of shallow external documents — the parser's own 512-level guard
    // rejects it instead of recursing to a StackOverflowError
    val e = intercept[IllegalArgumentException](
      SpecParser.parse("""{"$ref": "http://deep.test/s0.json"}""", deepRefChain(700)))
    e.getMessage should include("nesting exceeds the parser limit")
  }

  test("the $ref-chain nesting guard fires whatever the caller's stack (512 KB thread)") {
    // the parse must not depend on the caller's stack headroom: on a thread
    // this small the recursive descent overflowed before the 512-level
    // guard could fire
    var outcome: Throwable = null
    val t = new Thread(null, () => {
      outcome =
        try { SpecParser.parse("""{"$ref": "http://deep.test/s0.json"}""", deepRefChain(700)); null }
        catch { case e: Throwable => e }
    }, "small-stack-parse", 512L * 1024)
    t.start()
    t.join()
    outcome shouldBe an[IllegalArgumentException]
    outcome.getMessage should include("nesting exceeds the parser limit")
  }

  test("a custom-keyword builder that parses a schema itself runs inline on the parse thread") {
    // every parse runs on one long-lived thread; a parse started on that
    // thread must not queue behind the parse that started it
    var builderThread: String = null
    val builders = Map[String, SpecParser.ConstraintBuilder]("sub" -> { n =>
      builderThread = Thread.currentThread.getName
      val inner = SpecParser.parse(n.toString)
      graft.spec.CustomC("sub", _ => lit(true), "value fails its 'sub' schema",
        nativePredicate = Some { v: org.apache.spark.types.variant.Variant =>
          v.getType == org.apache.spark.types.variant.VariantUtil.Type.STRING && inner != null })
    })
    val parse = scala.concurrent.Future(
      SpecParser.parse("""{"sub": {"type": "string"}}""", Map.empty[String, String], builders))(
      scala.concurrent.ExecutionContext.global)
    val spec = scala.concurrent.Await.result(parse, scala.concurrent.duration.Duration(60, "s"))
    builderThread shouldBe "graft-spec-parse"
    nativePass(spec, Seq("\"x\"", "1")) shouldBe Seq(true, false)
  }

  /** `n` shallow external documents, each `$ref`-ing the next from inside a
    * property: nesting Jackson cannot see, assembled across documents. */
  private def deepRefChain(n: Int): Map[String, String] =
    (0 until n).map { i =>
      s"http://deep.test/s$i.json" ->
        s"""{"properties":{"p":{"$$ref":"http://deep.test/s${i + 1}.json"}}}"""
    }.toMap + (s"http://deep.test/s$n.json" -> """{"type":"integer"}""")

  test("pointer token decoding error paths mirror the reference's strict resolver") {
    // "%4z": strtoul consumed one hex digit then hit garbage — the ONLY
    // %-decode shape that errors (decodePercentEncodedChar end!=begin &&
    // *end!='\0', internal/json_pointer.hpp:58-62)
    val e1 = intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"x": {"type": "integer"}}, "$ref": "#/definitions/x%4z"}"""))
    e1.getMessage should include("Failed to decode %-encoded character")
    // a '%' with fewer than two characters after it: length check throws
    val e2 = intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"x": {"type": "integer"}}, "$ref": "#/definitions/x%4"}"""))
    e2.getMessage should include("expected two characters")
    // array token "-" is rejected before stoul (hyphen special case)
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"arr": [{"type": "integer"}]}, "$ref": "#/definitions/arr/-"}"""))
    // "-1" wraps unsigned to a huge index -> bounds failure
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"arr": [{"type": "integer"}]}, "$ref": "#/definitions/arr/-1"}"""))
    // 2^64 overflows stoul (out_of_range analog)
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"arr": [{"type": "integer"}]},
         "$ref": "#/definitions/arr/18446744073709551616"}"""))
    // non-numeric array token (invalid_argument analog)
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"arr": [{"type": "integer"}]}, "$ref": "#/definitions/arr/x"}"""))
    // a fragment of exactly "/" is sanitised to the document ROOT
    // (sanitiseJsonPointer, schema_parser.hpp:263-276) — referenced through
    // a value-descending keyword it is the usual guarded self-cycle...
    val rootSlash = SpecParser.parse(
      """{"properties": {"p": {"$ref": "#/"}}, "required": ["q"]}""")
    val df = Seq(
      Tuple1("""{"q": 1, "p": {"q": 2}}"""),
      Tuple1("""{"q": 1, "p": {"x": 2}}""")).toDF("j")
    Graft.validateJsonColumn(df, "j", rootSlash)
      .select("pass").collect().map(_.getBoolean(0)).toSeq shouldBe Seq(true, false)
    // ...but "#//" (a genuinely empty first token) stays strict and is
    // unresolvable when no ""-named root member exists
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"x": {"type": "integer"}}, "$ref": "#//"}"""))
  }

  test("relative-URI resolution mirrors the reference's own algorithm, not the JDK's") {
    import org.apache.spark.sql.functions.col
    def passes(schema: String, ext: Map[String, String], doc: Long): Boolean = {
      val spec = SpecParser.parse(schema, ext)
      val df = Seq(Tuple1(doc)).toDF("doc")
      val c = graft.compile.Compiler.compile(spec, col("doc"), df.schema("doc").dataType,
        org.apache.spark.sql.functions.lit(""))
      df.select(c.pass).collect()(0).getBoolean(0)
    }
    // ($id sits on the PARENT: a $ref node's own siblings are never read —
    // resolveThenPopulateSchema checks $ref before populateSchema applies id)
    //
    // network-path reference "//x/y.json": the reference treats it as a plain
    // absolute PATH under the scope's authority (uri.hpp:126-130 — a leading
    // '/' path is used as-is, then "//" collapses in segment normalisation),
    // NOT as an authority replacement (java.net.URI would give http://x/...)
    passes(
      """{"$id": "http://h/a/b.json", "allOf": [{"$ref": "//x/y.json"}]}""",
      Map("http://h/x/y.json" -> """{"minimum": 0}"""), 5L) shouldBe true
    // a scheme without "://" is NOT absolute (isUriAbsolute requires the
    // marker, uri.hpp:17-33): "a:b" resolves as a relative path segment
    passes(
      """{"$id": "http://h/dir/doc.json", "allOf": [{"$ref": "a:b"}]}""",
      Map("http://h/dir/a:b" -> """{"minimum": 0}"""), 5L) shouldBe true
    // query-only reference appends to the scope's stripped base path
    passes(
      """{"$id": "http://h/p.json", "allOf": [{"$ref": "?q=1"}]}""",
      Map("http://h/p.json?q=1" -> """{"minimum": 0}"""), 5L) shouldBe true
    // unmatched "..": segments above the root are dropped for absolute paths
    passes(
      """{"$id": "http://h/a.json", "allOf": [{"$ref": "../../up.json"}]}""",
      Map("http://h/up.json" -> """{"minimum": 0}"""), 5L) shouldBe true
    // trailing slash of the merged path is preserved through normalisation
    passes(
      """{"$id": "http://h/a/b.json", "allOf": [{"$ref": "sub/"}]}""",
      Map("http://h/a/sub/" -> """{"minimum": 0}"""), 5L) shouldBe true
    // non-URN "urn"-prefixed string (single colon, no NSS) fails the RFC-8141
    // regex and resolves as a relative path
    passes(
      """{"$id": "http://h/d/doc.json", "allOf": [{"$ref": "urn:x"}]}""",
      Map("http://h/d/urn:x" -> """{"minimum": 0}"""), 5L) shouldBe true
  }

  test("%-decoded tokens that are invalid UTF-8 stay in byte space") {
    // the reference compares raw std::string bytes: %ff is the lone byte
    // 0xFF, which matches no member of a valid-UTF-8 document — in
    // particular NOT a key named with the U+FFFD replacement character,
    // which a lossy decode would silently hit
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"�": {"type": "integer"}}, "$ref": "#/definitions/%ff"}"""))
    // distinct invalid bytes stay distinct failures (no %fe/%ff collapse)
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"�": {"type": "integer"}}, "$ref": "#/definitions/%fe"}"""))
    // a hostile multi-hundred-kB digit token bails once past 2^64 instead of
    // growing a BigInt quadratically; outcome is the unified pointer error
    val big = "9" * 300000
    intercept[IllegalArgumentException](SpecParser.parse(
      s"""{"definitions": {"arr": [{"type": "integer"}]}, "$$ref": "#/definitions/arr/$big"}"""))
  }

  test("registry walk descends into enum values, matching findSchemaById") {
    // The reference's $id discovery walk (findSchemaById,
    // schema_parser.hpp:311-356) is KEYWORD-BLIND: it descends every object
    // member and array element, so an $id inside an enum VALUE is found and
    // referenceable. The official suite's draft-7 'id inside an enum is not
    // a real identifier' case expects the opposite; this engine follows the
    // REFERENCE. (Non-string $id values are ignored, also per the
    // reference's maybeString check.)
    val spec = SpecParser.parse(
      """{"definitions": {"holder": {"enum":
           [{"$id": "http://reg.test/inner.json", "type": "integer"}]}},
         "allOf": [{"$ref": "http://reg.test/inner.json"}]}""")
    val df = Seq(Tuple1("5"), Tuple1(""""s"""")).toDF("j")
    Graft.validateJsonColumn(df, "j", spec)
      .select("pass").collect().map(_.getBoolean(0)).toSeq shouldBe Seq(true, false)
    // non-string $id: skipped by the walk, ref stays unresolvable offline
    intercept[IllegalArgumentException](SpecParser.parse(
      """{"definitions": {"h": {"enum": [{"$id": 7}]}},
         "allOf": [{"$ref": "http://reg.test/other.json"}]}"""))
  }

  test("a non-string $ref value is rejected at parse (extractJsonReference analog)") {
    // schema_parser.hpp:253-255: "$ref property expected to contain string value."
    val e = intercept[IllegalArgumentException](SpecParser.parse("""{"$ref": 42}"""))
    e.getMessage should include("expected to contain string value")
    intercept[IllegalArgumentException](SpecParser.parse("""{"$ref": {"$ref": "#"}}"""))
  }
}
