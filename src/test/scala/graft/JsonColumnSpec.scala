package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** validateJsonColumn edge behavior: NULL documents pass (absent),
  * malformed JSON fails with a parse violation, violations carry exact
  * pointers/messages. */
class JsonColumnSpec extends SparkTestBase {

  test("null / malformed / failing / passing documents") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, null),
        Row(2L, "{not json"),
        Row(3L, """{"k": 99}"""),
        Row(4L, """{"k": 5}"""))),
      StructType(Seq(StructField("id", LongType), StructField("doc", StringType))))
    val out = Graft.validateJsonColumn(df, "doc",
      Graft.parseSchema("""{"type":"object","required":["k"],
        "properties":{"k":{"maximum":50}}}"""))
    val rows = out.select("id", "pass", "violations").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getSeq[Row](2)
        .map(v => (v.getString(0), v.getString(1), v.getString(2))))).toMap
    rows(1L)._1 shouldBe true
    rows(2L)._1 shouldBe false
    rows(2L)._2 shouldBe Seq(("", "Failed to parse JSON document.", "parse"))
    rows(3L)._1 shouldBe false
    rows(3L)._2.head shouldBe (("/k", "Expected number less than or equal to 50.000000", "maximum"))
    rows(4L)._1 shouldBe true
    rows(4L)._2 shouldBe empty
  }

  test("pathologically deep documents fail with a depth violation, never a crashed task") {
    // a recursive schema makes the walk recurse once per document level;
    // depths between the walker's stack tolerance and the variant parser's
    // own nesting cap used to StackOverflowError the task before the
    // MaxWalkDepth guard (the very-deep cases are rejected by the parser
    // with a parse violation — also asserted here)
    val spec = Graft.parseSchema("""{"items": {"$ref": "#"}, "type": ["array", "integer"]}""")
    val docs = Seq(12, 200, 400, 900, 5000, 50000).map(d => "[" * d + "1" + "]" * d)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.zipWithIndex.map { case (doc, i) => Row(i.toLong, doc) }),
      StructType(Seq(StructField("id", LongType), StructField("doc", StringType))))
    val rows = Graft.validateJsonColumn(df, "doc", spec)
      .select("id", "pass", "violations").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        r.getSeq[Row](2).headOption.map(_.getString(2)).getOrElse(""))).toMap
    rows(0L) shouldBe ((true, ""))                  // shallow: validates
    // depth 200 is under the MaxWalkDepth guard: validates on a default
    // task stack (the StackOverflowError backstop may demote it to a depth
    // violation on unusually small stacks — either way, no crash)
    if (!rows(1L)._1) rows(1L)._2 shouldBe "depth"
    Seq(2L, 3L).foreach { i =>                      // guard band (256 < d < parser cap)
      rows(i) shouldBe ((false, "depth"))
    }
    Seq(4L, 5L).foreach { i =>                      // beyond the parser's nesting cap
      rows(i)._1 shouldBe false
      rows(i)._2 should (be("parse") or be("depth"))
    }
  }

  test("depth exhaustion is not invertible by not/oneOf/anyOf (fail-open guard)") {
    // the depth guard propagates OUT-OF-BAND: a too-deep document probed
    // inside `not` must NOT make the inner walk 'fail' and thereby let the
    // row PASS — the row always fails with the depth violation. Same for
    // oneOf counting and anyOf suppression.
    val deep = "[" * 400 + "1" + "]" * 400 // past MaxWalkDepth, inside parser cap
    val recursiveArray = """{"items": {"$ref": "#"}, "type": ["array", "integer"]}"""
    val specs = Seq(
      s"""{"not": $recursiveArray}""",
      s"""{"oneOf": [$recursiveArray, {"type": "string"}]}""",
      s"""{"anyOf": [$recursiveArray, {"if": $recursiveArray, "then": {}, "else": {}}]}""")
    specs.foreach { schemaJson =>
      val spec = Graft.parseSchema(schemaJson)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(0L, deep))),
        StructType(Seq(StructField("id", LongType), StructField("doc", StringType))))
      val r = Graft.validateJsonColumn(df, "doc", spec)
        .select("pass", "violations").collect().head
      withClue(schemaJson) {
        r.getBoolean(0) shouldBe false
        r.getSeq[Row](1).map(_.getString(2)) should contain("depth")
      }
    }
  }

  test("YAML ingest: yamlToJson feeds the same walker as JSON documents") {
    import spark.implicits._
    import graft.functions.YamlToJsonExpr.yamlToJson
    val spec = Graft.parseSchema(
      """{"properties": {"v": {"maximum": 100}, "tags": {"type": "array", "minItems": 2}},
         "required": ["v"]}""")
    val docs = Seq(
      (0L, "v: 42\ntags: [a, b]"),          // valid
      (1L, "v: 250\ntags: [a, b]"),         // maximum violation
      (2L, "tags: [only]"),                 // required + minItems violations
      (3L, "v: [unclosed"),                 // unreadable YAML -> parse violation
      (4L, null.asInstanceOf[String]))      // absent document -> pass
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (i, y) => Row(i, y) }),
      StructType(Seq(StructField("id", LongType), StructField("yaml", StringType))))
      .withColumn("__doc", yamlToJson(col("yaml")))
    val out = Graft.validateJsonColumn(df, "__doc", spec)
      .select("id", "pass", "violations").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        r.getSeq[Row](2).map(_.getString(2)))).toMap
    out(0L) shouldBe ((true, Seq()))
    out(1L)._1 shouldBe false
    out(1L)._2 should contain("maximum")
    out(2L)._1 shouldBe false
    out(2L)._2 should contain allOf ("required", "minItems")
    out(3L) shouldBe ((false, Seq("parse")))
    out(4L) shouldBe ((true, Seq()))
    // equivalence: the YAML path and the handwritten-JSON path agree bit
    // for bit on violations
    val json = Seq("""{"v":250,"tags":["a","b"]}""").toDF("doc")
    val a = Graft.validateJsonColumn(json, "doc", spec)
      .select("violations").collect()(0).getSeq[Row](0)
    val b = Graft.validateJsonColumn(
        Seq("v: 250\ntags: [a, b]").toDF("yaml")
          .withColumn("doc", yamlToJson(col("yaml"))), "doc", spec)
      .select("violations").collect()(0).getSeq[Row](0)
    a shouldBe b
  }

  test("properties ingest: propsToJson nests dotted keys, strings-only, weak typing") {
    import spark.implicits._
    import graft.functions.PropsToJsonExpr
    // pure conversion semantics first (JDK Properties line syntax)
    def conv(s: String): String =
      Option(PropsToJsonExpr.convert(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .map(_.toString).orNull
    conv("a=1\nb.c=2\nb.d=x y") shouldBe """{"a":"1","b":{"c":"2","d":"x y"}}"""
    // comments, colon/space separators, continuation, last-wins per key
    conv("# c\n! c2\nk: v\nk2 v2\nk3=a\\\n   b\nk=v9") shouldBe
      """{"k":"v9","k2":"v2","k3":"ab"}"""
    // structure wins over scalar, independent of line order
    conv("a=1\na.b=2") shouldBe """{"a":{"b":"2"}}"""
    conv("a.b=2\na=1") shouldBe """{"a":{"b":"2"}}"""
    // escaping survives JSON rendering
    conv("""q="quoted"A""") shouldBe """{"q":"\"quoted\"A"}"""
    // empty text -> empty object; NULL -> NULL
    conv("") shouldBe "{}"
    conv(null) shouldBe null
    // depth bound: a 100k-segment dotted key degrades to PASSTHROUGH
    // (-> downstream parse violation), deterministically — not via the
    // JSON writer's version-dependent nesting constraint
    val bombKey = Array.fill(100000)("a").mkString(".") + "=v"
    conv(bombKey) shouldBe bombKey
    // a deep-but-legal key (400 segments) still converts
    val deepOk = Array.fill(400)("d").mkString(".") + "=v"
    conv(deepOk) should startWith("""{"d":{"d":""")

    // through the walker, weak typing = the untyped-ptree adapter shape
    val spec = Graft.parseSchema(
      """{"properties": {"meta": {"properties": {"v": {"maximum": 100}},
                                  "required": ["v"]}}}""")
    val docs = Seq((0L, "meta.v=42"), (1L, "meta.v=250"), (2L, "meta.kind=x"),
      (3L, null.asInstanceOf[String]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (i, p) => Row(i, p) }),
      StructType(Seq(StructField("id", LongType), StructField("props", StringType))))
      .withColumn("__doc", PropsToJsonExpr.propsToJson(col("props")))
    val out = Graft.validateJsonColumn(df, "__doc", spec,
        graft.compile.CompileOptions(strictTypes = false))
      .select("id", "pass", "violations").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        r.getSeq[Row](2).map(_.getString(2)))).toMap
    out(0L) shouldBe ((true, Seq()))
    out(1L)._1 shouldBe false
    out(1L)._2 should contain("maximum") // plus parent "properties" rows, as the reference reports
    out(2L)._1 shouldBe false
    out(2L)._2 should contain("required")
    out(3L) shouldBe ((true, Seq()))
    // strict mode: string leaves skip numeric bounds (type-gated), as with
    // any other string-typed document — the adapter adds no magic
    val strict = Graft.validateJsonColumn(df.where(col("id") === 1L), "__doc", spec)
      .select("pass").collect()(0).getBoolean(0)
    strict shouldBe true
  }

  test("YAML ingest: anchors/aliases and merge keys RESOLVE; expansion bombs pass through") {
    import graft.functions.YamlToJsonExpr
    def conv(s: String): String =
      Option(YamlToJsonExpr.convert(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .map(_.toString).orNull
    // aliases must resolve to the anchored VALUE (yaml-cpp semantics) —
    // Jackson's YAMLMapper silently rendered `*x` as the literal string
    // "x", corrupting every aliased document before validation
    conv("a: &x 5\nb: *x\n") shouldBe """{"a":5,"b":5}"""
    conv("a: &x [1, 2]\nb: *x\n") shouldBe """{"a":[1,2],"b":[1,2]}"""
    conv("base: &b {k: v}\nderived:\n  <<: *b\n  j: w\n") shouldBe
      """{"base":{"k":"v"},"derived":{"k":"v","j":"w"}}"""
    // scalar typing is preserved through the same walker
    conv("i: 42\nf: 1.5\nb: true\nn: null\nbig: 123456789012345678901234567890\n") shouldBe
      """{"i":42,"f":1.5,"b":true,"n":null,"big":123456789012345678901234567890}"""
    // JSON is a YAML subset: a JSON document converts to itself
    conv("""{"v": 250, "tags": ["a", "b"]}""") shouldBe """{"v":250,"tags":["a","b"]}"""

    // bombs degrade to PASSTHROUGH (→ downstream parse violation), never
    // an executor-killing throw or a multi-hundred-MB string:
    // (1) billion laughs — SnakeYAML's 50-alias cap fires
    val bl = new StringBuilder("l0: &l0 [x, x]\n")
    for (i <- 1 to 30) bl.append(s"l$i: &l$i [*l${i - 1}, *l${i - 1}]\n")
    conv(bl.toString) shouldBe bl.toString
    // (2) alias pyramid UNDER the alias cap (24×2 = 48 aliases): the
    // loaded graph shares subtrees, so the 2^24-leaf blowup would happen
    // at render time — the node budget fires instead
    val bl2 = new StringBuilder("l0: &l0 [x, x]\n")
    for (i <- 1 to 24) bl2.append(s"l$i: &l$i [*l${i - 1}, *l${i - 1}]\n")
    conv(bl2.toString) shouldBe bl2.toString
    // (3) self-referencing anchors (legal YAML, no finite JSON) — cycle guard
    conv("a: &x\n  b: *x\n") shouldBe "a: &x\n  b: *x\n"
    // (4) 100k-deep nesting — parser depth guard
    val deep = "k: " + ("[" * 100000)
    conv(deep) shouldBe deep
  }

  test("XML ingest: ptree-rule mapping, weak typing, bombs pass through") {
    import graft.functions.XmlToJsonExpr
    def conv(s: String): String =
      Option(XmlToJsonExpr.convert(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        .map(_.toString).orNull
    // text-only element -> string leaf (ptree data); nesting via elements
    conv("<m><v>42</v><kind>x</kind></m>") shouldBe
      """{"m":{"v":"42","kind":"x"}}"""
    // empty element -> [] (the reference's empty-ptree-is-an-ARRAY rule,
    // property_tree_adapter.hpp:271-283)
    conv("<m><e/></m>") shouldBe """{"m":{"e":[]}}"""
    conv("<m/>") shouldBe """{"m":[]}"""
    // attributes land under "<xmlattr>", boost read_xml's exact convention
    conv("""<m id="7"><v>1</v></m>""") shouldBe
      """{"m":{"<xmlattr>":{"id":"7"},"v":"1"}}"""
    // repeated same-name children -> array in document order (the ptree
    // multimap shape JSON objects cannot express)
    conv("<m><t>a</t><t>b</t><u>c</u></m>") shouldBe
      """{"m":{"t":["a","b"],"u":"c"}}"""
    // mixed content keeps trimmed text under "#text"
    conv("<m>hello <b>w</b></m>") shouldBe """{"m":{"b":"w","#text":"hello"}}"""
    // entity escapes + CDATA resolve; text is trimmed like ptree's
    // trim_whitespace loading
    conv("<m> a &amp; b <![CDATA[<raw>]]> </m>") shouldBe
      """{"m":"a & b <raw>"}"""
    // NULL -> NULL; non-XML passes through (uniform parse violation later)
    conv(null) shouldBe null
    conv("not xml") shouldBe "not xml"
    conv("<unclosed><a></unclosed>") shouldBe "<unclosed><a></unclosed>"
    // DOCTYPE is disallowed outright: both XXE and billion-laughs entity
    // expansion degrade to passthrough, never a file read or a blowup
    val xxe = """<!DOCTYPE m [<!ENTITY x SYSTEM "file:///etc/passwd">]><m>&x;</m>"""
    conv(xxe) shouldBe xxe
    val laughs = "<!DOCTYPE m [<!ENTITY a \"x\"><!ENTITY b \"&a;&a;&a;&a;&a;&a;\">]><m>&b;</m>"
    conv(laughs) shouldBe laughs
    // depth bound: 100k-deep element nesting degrades to passthrough
    val deep = (1 to 100000).map(_ => "<d>").mkString
    conv(deep) shouldBe deep

    // through the walker under WEAK typing (untyped ptree adapter shape)
    import spark.implicits._
    val spec = Graft.parseSchema(
      """{"properties": {"m": {"properties": {"v": {"maximum": 100}},
                               "required": ["v"]}}}""")
    val docs = Seq((0L, "<m><v>42</v></m>"), (1L, "<m><v>250</v></m>"),
      (2L, "<m><kind>x</kind></m>"), (3L, null.asInstanceOf[String]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (i, x) => Row(i, x) }),
      StructType(Seq(StructField("id", LongType), StructField("xml", StringType))))
      .withColumn("__doc", XmlToJsonExpr.xmlToJson(col("xml")))
    val out = Graft.validateJsonColumn(df, "__doc", spec,
        graft.compile.CompileOptions(strictTypes = false))
      .select("id", "pass", "violations").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        r.getSeq[Row](2).map(_.getString(2)))).toMap
    out(0L) shouldBe ((true, Seq()))
    out(1L)._1 shouldBe false
    out(1L)._2 should contain("maximum")
    out(2L)._1 shouldBe false
    out(2L)._2 should contain("required")
    out(3L) shouldBe ((true, Seq()))
    // SQL surface
    graft.GraftExtensions.register(spark)
    spark.sql("""SELECT xml_to_json('<a><b>1</b></a>') AS j""")
      .collect()(0).getString(0) shouldBe """{"a":{"b":"1"}}"""
  }

  test("driver entry() smoke: violations present") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("validateJsonColumnBy dispatches per key; unknown/NULL keys follow default") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "lo", """{"k": 5}"""),   // lo: k<=10 → pass
        Row(2L, "lo", """{"k": 50}"""),  // lo: fail maximum 10
        Row(3L, "hi", """{"k": 50}"""),  // hi: k>=20 → pass
        Row(4L, "hi", """{"k": 5}"""),   // hi: fail minimum 20
        Row(5L, "mystery", """{"k": -1}"""), // unregistered key
        Row(6L, null, """{"k": -1}"""))),    // NULL key
      StructType(Seq(StructField("id", LongType),
        StructField("tool", StringType), StructField("args", StringType))))
    val specs = Map(
      "lo" -> Graft.parseSchema("""{"properties":{"k":{"maximum":10}}}"""),
      "hi" -> Graft.parseSchema("""{"properties":{"k":{"minimum":20}}}"""))
    def passMap(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "pass").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val (noDefault, validationPlan) = pinPlan(Graft.validateJsonColumnBy(df, "args", "tool", specs))
    passMap(noDefault) shouldBe Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> true)
    // the failing row carries the DISPATCHED schema's exact violation
    noDefault.where(col("id") === 2L).select(explode(col("violations")))
      .select("col.kind").collect().map(_.getString(0)) should contain("maximum")
    // with a default, unknown and NULL keys validate against it
    val withDefault = Graft.validateJsonColumnBy(df, "args", "tool", specs,
      default = Some(Graft.parseSchema("""{"properties":{"k":{"minimum":0}}}""")))
    passMap(withDefault) shouldBe Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> false, 6L -> false)
    // single projection: no join/exchange anywhere in the validation plan
    // (the plan the pin runs; the frame's own plan is a scan of the pin)
    validationPlan should include("validatejsonexpr")
    validationPlan should not include "Exchange"
    validationPlan should not include "Join"
    // the same rows and violations as the unpinned per-key formulation
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "pass", "violations").collect().map(r => r.getLong(0) -> r).toMap
    rows(noDefault) shouldBe rows(unpinnedBy(df, specs, None))
    val dflt = Graft.parseSchema("""{"properties":{"k":{"minimum":0}}}""")
    rows(withDefault) shouldBe rows(unpinnedBy(df, specs, Some(dflt)))
  }

  test("validateJsonColumnBy: two actions on one result walk each document once") {
    val walks = spark.sparkContext.longAccumulator("walks")
    // a custom keyword at each schema's root runs once per document walk
    def counted(s: String) = {
      val c = Graft.parseSchema(s).asInstanceOf[graft.spec.ConstraintSchema]
      c.copy(constraints = graft.spec.CustomC("walked", _ => lit(true), "never fails",
        nativePredicate = Some { (_: org.apache.spark.types.variant.Variant) =>
          walks.add(1); true }) +: c.constraints)
    }
    val specs = Map(
      "lo" -> counted("""{"properties":{"k":{"maximum":10}}}"""),
      "hi" -> counted("""{"properties":{"k":{"minimum":20}}}"""))
    val docs = (0 until 200).map(i => (i.toLong, if (i % 2 == 0) "lo" else "hi", s"""{"k": ${i % 40}}"""))
    val df = spark.createDataFrame(docs).toDF("id", "tool", "args").repartition(4)
    val flagged = Graft.validateJsonColumnBy(df, "args", "tool", specs)
    val passes = flagged.where(col("pass")).count()
    walks.value shouldBe 200L
    val violations = flagged.where(!col("pass"))
      .select(col("id"), explode(col("violations")).as("v")).select("id", "v.kind")
    val viol = violations.collect()
    walks.value shouldBe 200L // the second action read the pin
    violations.queryExecution.executedPlan.toString should not include "validatejsonexpr"
    // lo fails k > 10, hi fails k < 20
    val want = docs.count { case (_, t, a) =>
      val k = a.drop(6).dropRight(1).toInt
      if (t == "lo") k <= 10 else k >= 20 }
    passes shouldBe want.toLong
    viol.count(_.getString(1) == "maximum") + viol.count(_.getString(1) == "minimum") shouldBe 200 - want
  }

  /** Runs `pinned`'s first action, returning it with the executed plan of
    * the `localCheckpoint` it came from. */
  private def pinPlan(pinned: => org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, String) = {
    @volatile var plan: String = null
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plan = qe.executedPlan.toString
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = pinned
      // listener events arrive on the listener bus, after the call
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plan == null && System.nanoTime() < deadline) Thread.sleep(10)
      plan should not be null
      (out, plan)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The dispatch without the pin: each key's rows through
    * `validateJsonColumn` against its own schema, the rest against the
    * default or passing. */
  private def unpinnedBy(df: org.apache.spark.sql.DataFrame, specs: Map[String, graft.spec.SchemaSpec],
                         default: Option[graft.spec.SchemaSpec]): org.apache.spark.sql.DataFrame = {
    val keyed = specs.toSeq.map { case (k, s) =>
      Graft.validateJsonColumn(df.where(col("tool") === k), "args", s) }
    val rest = df.where(col("tool").isNull || !col("tool").isin(specs.keys.toSeq: _*))
    val others = default.map(Graft.validateJsonColumn(rest, "args", _)).getOrElse(
      rest.withColumn("pass", lit(true))
        .withColumn("violations", array().cast(graft.compile.Compiler.violationArrayType)))
    (keyed :+ others).reduce(_ unionByName _)
  }
}
