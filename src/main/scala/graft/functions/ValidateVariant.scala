package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{Variant, VariantUtil}
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.compile.{CompileOptions, Messages}
import graft.spec._

/** Whole-document dynamic validation in ONE pass: a custom Expression that
  * takes a JSON string, parses it to a variant and runs the entire compiled
  * constraint tree over the variant binary in JVM code, returning
  * `struct(pass, violations)` (one parse + one walk per row; NULL input
  * passes, malformed input fails with a parse violation).
  *
  * Why it exists: the pure-Catalyst variant path
  * (`Graft.validateJsonColumnCatalyst`) re-reads the document at every
  * constraint site (optimizer rules clone the parse/probe subexpressions
  * across CASE branches where CSE cannot reach), costing O(constraints)
  * document walks per row. This expression is the direct analog of the
  * reference's `ValidationVisitor` tree walk
  * (`validation_visitor.hpp:105-134`) — one walk, identical FIFO violation
  * order and byte-identical messages — vectorized row-by-row by Spark's
  * scan. The Catalyst formulation remains as the cross-checking oracle
  * (ConformanceSpec runs both paths over the full suite).
  *
  * Keeping parse + walk + malformed handling inside ONE expression makes
  * downstream `getField` extractions ordinary top-level common
  * subexpressions, which whole-stage codegen deduplicates — no document
  * probe is ever cloned. */
case class ValidateJsonExpr(child: Expression, spec: SchemaSpec,
                            strictDateTime: Boolean = false,
                            strictTypes: Boolean = true,
                            regexEngine: RegexEngine = JavaRegexEngine)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("pass", BooleanType, nullable = false),
    StructField("violations", graft.compile.Compiler.violationArrayType)))

  override def nullable: Boolean = false

  // Planning-time non-determinism (guide §4.4 — the same trick as marking
  // an expensive UDF nondeterministic): the parse+walk is THE cost of every
  // dynamic-JSON query, and with a deterministic node the optimizer clones
  // it — InferFiltersFromGenerate derives `size(res.violations) > 0` from
  // the downstream explode and predicate pushdown sinks that filter (a FULL
  // second walk per row) into the scan, below any repartition. Observed in
  // every dynamic-query plan: two validatejsonexpr evaluations per row in
  // one stage (whole-stage codegen has no cross-operator CSE). Marking the
  // node nondeterministic forbids duplication/reordering: the result struct
  // is projected ONCE and the inferred filter evaluates on the projected
  // attribute. The function itself is pure — only the planner's freedom to
  // clone it is being revoked.
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"validate_json requires a string input, got ${child.dataType}")

  @transient private lazy val validator =
    new VariantValidator(spec, strictDateTime, strictTypes, regexEngine)

  override def eval(input: InternalRow): Any =
    VariantValidator.validateJsonString(validator,
      child.eval(input).asInstanceOf[UTF8String])

  // NULL child handled inside validateJsonString (NULL document passes), so
  // this expression is never-null and stays inside whole-stage codegen —
  // its getField extractions become ordinary common subexpressions.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("graftValidator", validator,
      classOf[VariantValidator].getName)
    val childGen = child.genCode(ctx)
    val jt = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
         |${childGen.code}
         |$jt ${ev.value} = graft.functions.VariantValidator.validateJsonString(
         |  $ref, ${childGen.isNull} ? null : ${childGen.value});
       """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ValidateJsonExpr =
    copy(child = newChild)
}

object ValidateJsonExpr {
  def validate(jsonText: Column, spec: SchemaSpec,
               strictDateTime: Boolean = false,
               strictTypes: Boolean = true,
               regexEngine: RegexEngine = JavaRegexEngine): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      ValidateJsonExpr(org.apache.spark.sql.GraftSqlBridge.expression(jsonText),
        spec, strictDateTime, strictTypes, regexEngine))
}

/** Serializable single-pass evaluator over the variant binary — the
  * `ValidationVisitor` port. `strictTypes=false` enables the reference's
  * kWeakTypes mode: per-constraint maybe/as conversions
  * (basic_adapter.hpp:335-547, 762-880). */
final class VariantValidator(spec: SchemaSpec, strictDateTime: Boolean,
                             strictTypes: Boolean = true,
                             regexEngine: RegexEngine = JavaRegexEngine)
    extends Serializable {

  import VariantUtil.Type._

  VariantValidator.assertSupported(spec)

  // regex evaluation goes through the pluggable engine (validator.hpp:18,
  // 100-116 analog); each engine keeps its own per-JVM compiled cache
  private def regexFind(p: String, s: String): Boolean = regexEngine.search(p, s)

  private type Sink = mutable.ArrayBuffer[(String, String, String)]

  def validateRow(vv: VariantVal): InternalRow = {
    val v = new Variant(vv.getValue, vv.getMetadata)
    val sink: Sink = mutable.ArrayBuffer.empty
    val pass =
      try validateSchema(spec, v, "", Some(sink))
      catch {
        case VariantValidator.DepthExceeded =>
          // the MaxWalkDepth guard fires out-of-band so no enclosing
          // not/oneOf/if can invert it into a pass: the ROW always fails
          // with the depth violation
          sink.clear()
          sink += (("", VariantValidator.depthExceededMsg, "depth"))
          false
        case _: StackOverflowError =>
          // belt-and-braces behind the MaxWalkDepth guard: deep-equality
          // recursions (enum/const/uniqueItems over deep values) are bounded
          // by the parser's own nesting cap, but a crash here must degrade
          // to a violation, never kill the task
          sink.clear()
          sink += (("", VariantValidator.depthExceededMsg, "depth"))
          false
      }
    val arr = new GenericArrayData(sink.map { case (p, d, k) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(p),
        UTF8String.fromString(d), UTF8String.fromString(k)))
    }.toArray[Any])
    new GenericInternalRow(Array[Any](pass, arr))
  }

  private def push(sink: Option[Sink], ptr: String, desc: String, kind: String): Unit =
    sink.foreach(_ += ((ptr, desc, kind)))

  // --- type probes -----------------------------------------------------------

  private def isString(v: Variant) = v.getType == STRING
  private def isBool(v: Variant) = v.getType == BOOLEAN
  private def isNullT(v: Variant) = v.getType == NULL
  private def isObject(v: Variant) = v.getType == OBJECT
  private def isArray(v: Variant) = v.getType == ARRAY
  private def isLong(v: Variant) = v.getType == LONG
  private def isNumber(v: Variant) = v.getType match {
    case LONG | DOUBLE | DECIMAL | FLOAT => true
    case _ => false
  }
  private def asDouble(v: Variant): Double = v.getType match {
    case LONG    => v.getLong.toDouble
    case DOUBLE  => v.getDouble
    case FLOAT   => v.getFloat.toDouble
    case DECIMAL => v.getDecimal.doubleValue()
    case _       => Double.NaN
  }
  private def isIntegerLike(v: Variant): Boolean = v.getType match {
    case LONG => true
    case DOUBLE | DECIMAL | FLOAT =>
      val d = asDouble(v)
      d == Math.floor(d) && !d.isInfinite &&
        d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble
    case _ => false
  }
  private def codePoints(s: String): Int = s.codePointCount(0, s.length)
  private def escSeg(s: String) = Messages.escapePointerSegment(s)

  // --- kWeakTypes maybe/as conversions (basic_adapter.hpp:335-547,762-880)

  // full-string numeric parses shared with the Catalyst paths (WeakNum is
  // the single source of truth so all three paths accept identical strings)
  private def parseD(s: String): Option[Double] = Option(WeakNum.parseDouble(s)).map(_.doubleValue())
  private def parseL(s: String): Option[Long] = Option(WeakNum.parseLong(s)).map(_.longValue())

  private def maybeString(v: Variant): Boolean =
    isString(v) || isBool(v) || isNumber(v) ||
      (isObject(v) && v.objectSize() == 0) || (isArray(v) && v.arraySize() == 0)
  private def maybeBool(v: Variant): Boolean =
    isBool(v) || (isString(v) && { val s = v.getString; s == "true" || s == "false" })
  private def maybeDouble(v: Variant): Boolean =
    isNumber(v) || (isString(v) && parseD(v.getString).isDefined)
  private def maybeInteger(v: Variant): Boolean =
    isIntegerLike(v) || (isString(v) && parseL(v.getString).isDefined)
  private def maybeNull(v: Variant): Boolean =
    isNullT(v) || (isString(v) && v.getString.isEmpty)
  private def maybeArray(v: Variant): Boolean =
    isArray(v) || (isObject(v) && v.objectSize() == 0)
  private def maybeObject(v: Variant): Boolean =
    isObject(v) || (isArray(v) && v.arraySize() == 0)

  private def asDoubleW(v: Variant): Double =
    if (isNumber(v)) asDouble(v) else parseD(v.getString).get
  private def asIntegerW(v: Variant): Long =
    if (isLong(v)) v.getLong
    else if (isNumber(v)) asDouble(v).toLong
    else parseL(v.getString).get
  /** asString (basic_adapter.hpp:467-507): std::to_string rendering —
    * doubles get 6 fixed decimals. */
  private def asStringW(v: Variant): String = v.getType match {
    case STRING  => v.getString
    case BOOLEAN => if (v.getBoolean) "true" else "false"
    case LONG    => v.getLong.toString
    case DOUBLE | FLOAT | DECIMAL => Messages.cppDouble(asDouble(v))
    case _       => "" // empty array/object (guarded by maybeString)
  }

  /** Type-applicability guards (the `(m_strictTypes && !isX) || !maybeX`
    * pattern): true = constraint does NOT apply (passes silently). */
  private def skipNumeric(v: Variant): Boolean =
    (strictTypes && !isNumber(v)) || !maybeDouble(v)
  private def skipString(v: Variant): Boolean =
    (strictTypes && !isString(v)) || !maybeString(v)
  private def skipObject(v: Variant): Boolean =
    (strictTypes && !isObject(v)) || !maybeObject(v)
  private def skipArray(v: Variant): Boolean =
    (strictTypes && !isArray(v)) || !maybeArray(v)

  // object/array views that tolerate the weak-mode empty-container aliases
  private def objSizeW(v: Variant): Int = if (isObject(v)) v.objectSize() else 0
  private def fieldByKeyW(v: Variant, k: String): Variant =
    if (isObject(v)) v.getFieldByKey(k) else null
  private def arrSizeW(v: Variant): Int = if (isArray(v)) v.arraySize() else 0

  /** Weak deep equality (equalTo with strict=false,
    * basic_adapter.hpp:509-547). */
  private def weakEq(v: Variant, jv: JsonValue): Boolean = {
    def jvIsNullish = jv == JNullV || jv == JStringV("")
    def jvBool: Option[Boolean] = jv match {
      case JBoolV(b)         => Some(b)
      case JStringV("true")  => Some(true)
      case JStringV("false") => Some(false)
      case _                 => None
    }
    def jvDouble: Option[Double] = jv match {
      case JLongV(l)   => Some(l.toDouble)
      case JDoubleV(d) => Some(d)
      case JStringV(s) => parseD(s)
      case _           => None
    }
    def jvString: Option[String] = jv match {
      case JStringV(s)                  => Some(s)
      case JBoolV(b)                    => Some(if (b) "true" else "false")
      case JLongV(l)                    => Some(l.toString)
      case JDoubleV(d)                  => Some(Messages.cppDouble(d))
      case JArrayV(xs) if xs.isEmpty    => Some("")
      case JObjectV(fs) if fs.isEmpty   => Some("")
      case _                            => None
    }
    if (isNullT(v) || maybeNull(v)) jvIsNullish
    else if (isBool(v) || maybeBool(v))
      jvBool.contains(if (isBool(v)) v.getBoolean else v.getString == "true")
    else if (maybeDouble(v)) jvDouble.contains(asDoubleW(v))
    else if (maybeInteger(v)) jvDouble.contains(asIntegerW(v).toDouble)
    else if (isString(v) || maybeString(v)) jvString.contains(asStringW(v))
    else if (isArray(v)) jv match {
      case JArrayV(xs) => v.arraySize() == xs.length &&
        xs.indices.forall(i => weakEq(v.getElementAtIndex(i), xs(i)))
      case JObjectV(fs) if fs.isEmpty => v.arraySize() == 0
      case _ => false
    }
    else if (isObject(v)) jv match {
      case JObjectV(fs) => v.objectSize() == fs.size && fs.forall { case (k, x) =>
        val f = v.getFieldByKey(k); f != null && weakEq(f, x)
      }
      case JArrayV(xs) if xs.isEmpty => v.objectSize() == 0
      case _ => false
    }
    else false
  }

  /** Deep equality (basic_adapter.hpp:509-547, strict): numbers as doubles,
    * arrays ordered, objects key-unordered. */
  private def deepEq(a: Variant, b: Variant): Boolean =
    VariantValidator.strictDeepEq(a, b)

  private def eqJson(v: Variant, jv: JsonValue): Boolean = jv match {
    case JNullV      => isNullT(v)
    case JBoolV(x)   => isBool(v) && v.getBoolean == x
    case JLongV(l)   => isNumber(v) && asDouble(v) == l.toDouble
    case JDoubleV(d) => isNumber(v) && asDouble(v) == d
    case JStringV(s) => isString(v) && v.getString == s
    case JArrayV(xs) => isArray(v) && v.arraySize() == xs.length &&
      xs.indices.forall(i => eqJson(v.getElementAtIndex(i), xs(i)))
    case JObjectV(fs) => isObject(v) && v.objectSize() == fs.size &&
      fs.forall { case (k, x) =>
        val f = v.getFieldByKey(k); f != null && eqJson(f, x)
      }
  }

  // --- schema walk -------------------------------------------------------------

  private def validateSchema(s: SchemaSpec, v: Variant, path: String,
                             sink: Option[Sink], depth: Int = 0): Boolean = s match {
    // explicit nesting bound: a hostile/pathological document must fail
    // with a violation, not kill the task with a StackOverflowError. The
    // walk recurses once per document level (plus finite schema nesting);
    // the variant PARSER already rejects very deep documents, but the band
    // between walker stack exhaustion and the parser cap crashed before
    // this guard (found by the deep-document probe; the reference has no
    // such guard — its C++ recursion is equally unbounded).
    //
    // Depth exhaustion propagates OUT-OF-BAND (an exception caught only in
    // validateRow), never as an in-band `false`: a plain `false` would be
    // logically inverted by an enclosing NotC (and mis-counted by OneOfC /
    // misread by CondC if-probes), making a hostile-deep document PASS
    // inside `not` — fail-open on exactly the inputs the guard targets.
    case _ if depth > VariantValidator.MaxWalkDepth =>
      throw VariantValidator.DepthExceeded
    case r: RefSchema => validateSchema(r.target, v, path, sink, depth) // cycle: finite doc ⇒ terminates
    case TrueSchema  => true
    case FalseSchema => false // no error of its own (VV:107-109)
    case ConstraintSchema(cs, _, _) =>
      var ok = true
      cs.foreach { c => if (!visit(c, v, path, sink, depth)) { ok = false; if (sink.isEmpty) return false } }
      ok
  }

  private def visit(c: Constraint, v: Variant, path: String, sink: Option[Sink],
                    depth: Int): Boolean = c match {

    case TypeC(types, schemas) =>
      // Weak mode affects only bool/integer/null/number; string, array and
      // object stay strict even under kWeakTypes (VV:1654-1681).
      val named = types.exists {
        case JsonType.JAny     => true
        case JsonType.JString  => isString(v)
        case JsonType.JBoolean => isBool(v) || (!strictTypes && maybeBool(v))
        case JsonType.JInteger => isIntegerLike(v) || (!strictTypes && maybeInteger(v))
        case JsonType.JNumber  => isNumber(v) || (!strictTypes && maybeDouble(v))
        case JsonType.JNull    => isNullT(v) || (!strictTypes && maybeNull(v))
        case JsonType.JArray   => isArray(v)
        case JsonType.JObject  => isObject(v)
      }
      val ok = named || schemas.exists(validateSchema(_, v, path, None, depth + 1))
      if (!ok) push(sink, path, Messages.typeNotPermitted, "type")
      ok

    case EnumC(values) =>
      val ok =
        if (strictTypes) values.exists(eqJson(v, _)) else values.exists(weakEq(v, _))
      if (!ok) push(sink, path, Messages.enumNoMatch, "enum")
      ok

    case ConstC(jv) =>
      val ok = if (strictTypes) eqJson(v, jv) else weakEq(v, jv)
      if (!ok) push(sink, path, Messages.constNoMatch, "const")
      ok

    case MinimumC(m, excl) =>
      if (skipNumeric(v)) true
      else {
        val d = asDoubleW(v)
        val ok = if (excl) d > m else d >= m
        if (!ok) push(sink, path,
          if (excl) Messages.minimumExcl(m) else Messages.minimumIncl(m), "minimum")
        ok
      }

    case MaximumC(m, excl) =>
      if (skipNumeric(v)) true
      else {
        val d = asDoubleW(v)
        val ok = if (excl) d < m else d <= m
        if (!ok) push(sink, path,
          if (excl) Messages.maximumExcl(m) else Messages.maximumIncl(m), "maximum")
        ok
      }

    case MultipleOfIntC(div) =>
      // VV:934-984 — maybe-conversions apply regardless of strictness
      // (the reference's multipleOf visitors have no m_strictTypes gate),
      // so numeric STRINGS are checked; non-numeric values pass.
      if (maybeInteger(v)) {
        val i = asIntegerW(v)
        val ok = i == 0 || i % div == 0
        if (!ok) push(sink, path, Messages.multipleOfInt(div), "multipleOf")
        ok
      } else if (maybeDouble(v)) {
        val d = asDoubleW(v)
        val ok =
          if (d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
            Math.abs(Math.IEEEremainder(d, div.toDouble)) <= Math.ulp(1.0)
          else { val i = d.toLong; i == 0 || i % div == 0 }
        if (!ok) push(sink, path, Messages.multipleOfInt(div), "multipleOf")
        ok
      } else true

    case MultipleOfDoubleC(div) =>
      // VV:863-925 tolerance port; maybeDouble first, then maybeInteger
      val dOpt =
        if (maybeDouble(v)) Some(asDoubleW(v))
        else if (maybeInteger(v)) Some(asIntegerW(v).toDouble)
        else None
      dOpt match {
        case None => true
        case Some(d) =>
          val ok =
            if (d == 0) true
            else if (div == 0) false
            else {
              val q = d / div
              if (q.isNaN || q.isInfinite) false
              else {
                // Math.rint, NOT Math.round: round(double) returns a
                // SATURATING long (caps at 2^63), but std::round (VV:912)
                // returns a double — for |q| > 2^63 the saturated value
                // made huge exact multiples fail. rint vs round differ
                // only at exact .5, where diff = 0.5 > tol either way.
                val diff = Math.abs(q - Math.rint(q))
                val tol = Math.max(Math.abs(q), 1.0) * 2.220446049250313e-16
                diff <= tol
              }
            }
          if (!ok) push(sink, path, Messages.multipleOfDouble(div), "multipleOf")
          ok
      }

    case PatternC(p) =>
      if (skipString(v)) true
      else {
        val ok = regexFind(p, asStringW(v))
        if (!ok) push(sink, path, Messages.patternNoMatch, "pattern")
        ok
      }

    case MinLengthC(n) =>
      if (skipString(v)) true
      else {
        val ok = codePoints(asStringW(v)) >= n
        if (!ok) push(sink, path, Messages.minLength(n), "minLength")
        ok
      }

    case MaxLengthC(n) =>
      if (skipString(v)) true
      else {
        val ok = codePoints(asStringW(v)) <= n
        if (!ok) push(sink, path, Messages.maxLength(n), "maxLength")
        ok
      }

    case FormatC(fmt) =>
      if (!isString(v)) true else Formats.check(fmt, v.getString, strictDateTime) match {
        case None => true
        case Some(msg) => push(sink, path, msg, "format"); false
      }

    case RequiredC(props) =>
      if (skipObject(v)) true
      else {
        var ok = true
        props.foreach { p =>
          if (fieldByKeyW(v, p) == null) {
            push(sink, path, Messages.missingRequired(p), "required")
            ok = false
          }
        }
        ok
      }

    case PropertiesC(props, patProps, additional) =>
      if (skipObject(v)) true
      else {
        var ok = true
        val matched = mutable.Set[String]()
        props.foreach { case (name, s) =>
          val f = fieldByKeyW(v, name)
          if (f != null) {
            matched += name
            if (!validateSchema(s, f, s"$path/${escSeg(name)}", sink, depth + 1)) {
              push(sink, path, Messages.propertySchemaFail(name), "properties")
              ok = false
            }
          }
        }
        patProps.foreach { case (pat, s) =>
          var i = 0
          while (i < objSizeW(v)) {
            val f = v.getFieldAtIndex(i)
            if (regexFind(pat, f.key)) {
              matched += f.key
              if (!validateSchema(s, f.value, s"$path/${escSeg(f.key)}", sink, depth + 1)) {
                push(sink, path, Messages.patternPropertySchemaFail(pat), "patternProperties")
                ok = false
              }
            }
            i += 1
          }
        }
        additional match {
          case Some(TrueSchema) => // allow
          case Some(s) =>
            var i = 0
            while (i < objSizeW(v)) {
              val f = v.getFieldAtIndex(i)
              if (!matched.contains(f.key)) {
                if (!validateSchema(s, f.value, s"$path/${escSeg(f.key)}", sink, depth + 1)) {
                  push(sink, path, Messages.additionalPropertiesSchemaFail, "additionalProperties")
                  ok = false
                }
              }
              i += 1
            }
          case None =>
            // reject first unexpected property (VV:1160-1177); objSizeW,
            // not objectSize: weak mode admits empty arrays as objects
            var i = 0
            var unwanted: String = null
            while (i < objSizeW(v) && unwanted == null) {
              val f = v.getFieldAtIndex(i)
              if (!matched.contains(f.key)) unwanted = f.key
              i += 1
            }
            if (unwanted != null) {
              push(sink, path, Messages.unexpectedProperty(unwanted), "additionalProperties")
              ok = false
            }
        }
        ok
      }

    case MinPropertiesC(n) =>
      if (skipObject(v)) true
      else {
        val ok = objSizeW(v) >= n
        if (!ok) push(sink, path, Messages.minProperties(n), "minProperties")
        ok
      }
    case MaxPropertiesC(n) =>
      if (skipObject(v)) true
      else {
        val ok = objSizeW(v) <= n
        if (!ok) push(sink, path, Messages.maxProperties(n), "maxProperties")
        ok
      }

    case PropertyNamesC(s) =>
      // Each key is evaluated as a string VALUE against the FULL subschema
      // (combinators, not, format, …) by wrapping it as a variant — the
      // reference routes names through a complete ValidationVisitor over a
      // StdStringAdapter with a null results sink (VV:1213-1230), so child
      // errors are suppressed; one wrapper violation per failing key.
      if (skipObject(v)) true
      else {
        var ok = true
        var i = 0
        while (i < objSizeW(v)) {
          val key = v.getFieldAtIndex(i).key
          if (!validateSchema(s, VariantValidator.stringVariant(key), path, None, depth + 1)) {
            push(sink, path, s"Failed to validate against 'propertyNames' constraint.", "propertyNames")
            ok = false
          }
          i += 1
        }
        ok
      }

    case DependenciesC(propDeps, schemaDeps) =>
      if (skipObject(v)) true
      else {
        var ok = true
        propDeps.foreach { case (p, deps) =>
          if (fieldByKeyW(v, p) != null) {
            deps.foreach { q =>
              if (fieldByKeyW(v, q) == null) {
                push(sink, path, Messages.missingDependency(q), "dependencies")
                ok = false
              }
            }
          }
        }
        schemaDeps.foreach { case (p, s) =>
          if (fieldByKeyW(v, p) != null) {
            if (!validateSchema(s, v, path, sink, depth + 1)) {
              push(sink, path, Messages.dependentSchemaFail, "dependencies")
              ok = false
            }
          }
        }
        ok
      }

    case ItemsC(s) =>
      if (skipArray(v)) true
      else {
        var ok = true
        var i = 0
        while (i < arrSizeW(v)) {
          if (!validateSchema(s, v.getElementAtIndex(i), s"$path/$i", sink, depth + 1)) {
            push(sink, path, Messages.itemFail(i), "items")
            ok = false
          }
          i += 1
        }
        ok
      }

    case TupleItemsC(items, additional) =>
      if (skipArray(v)) true
      else {
        // LinearItemsConstraint order (validation_visitor.hpp:531-621):
        // tooManyItems first (only when there ARE item subschemas), then
        // per-item errors, then cannotValidateItem for the uncovered tail.
        var ok = true
        val n = arrSizeW(v)
        if (additional.isEmpty && items.nonEmpty && n > items.length) {
          push(sink, path, Messages.tooManyItems, "items")
          ok = false
        }
        var i = 0
        while (i < n) {
          if (i < items.length) {
            if (!validateSchema(items(i), v.getElementAtIndex(i), s"$path/$i", sink, depth + 1)) {
              push(sink, s"$path/$i", Messages.tupleItemFail(i), "items")
              ok = false
            }
          } else additional match {
            case Some(TrueSchema) =>
            case Some(s) =>
              if (!validateSchema(s, v.getElementAtIndex(i), s"$path/$i", sink, depth + 1)) {
                push(sink, path, Messages.additionalItemFail(i), "items")
                ok = false
              }
            case None => // reported once below (VV:611)
          }
          i += 1
        }
        if (additional.isEmpty && n > items.length) {
          push(sink, path, Messages.cannotValidateItem(items.length), "items")
          ok = false
        }
        ok
      }

    case MinItemsC(n) =>
      if (skipArray(v)) true
      else {
        val ok = arrSizeW(v) >= n
        if (!ok) push(sink, path, Messages.minItems(n), "minItems")
        ok
      }
    case MaxItemsC(n) =>
      if (skipArray(v)) true
      else {
        val ok = arrSizeW(v) <= n
        if (!ok) push(sink, path, Messages.maxItems(n), "maxItems")
        ok
      }

    case UniqueItemsC =>
      if (skipArray(v)) true
      else {
        var ok = true
        var i = 0
        while (i < arrSizeW(v)) {
          var j = i + 1
          while (j < arrSizeW(v)) {
            if (deepEq(v.getElementAtIndex(i), v.getElementAtIndex(j))) {
              push(sink, path, Messages.uniqueViolation(i, j), "uniqueItems")
              ok = false
            }
            j += 1
          }
          i += 1
        }
        ok
      }

    case ContainsC(s) =>
      if (skipArray(v)) true
      else {
        var found = false
        var i = 0
        while (i < arrSizeW(v) && !found) {
          if (validateSchema(s, v.getElementAtIndex(i), path, None, depth + 1)) found = true
          i += 1
        }
        if (!found) push(sink, path, Messages.containsFail, "contains")
        found
      }

    case AllOfC(schemas) =>
      var ok = true
      schemas.zipWithIndex.foreach { case (s, i) =>
        if (!validateSchema(s, v, path, sink, depth + 1)) {
          push(sink, path, Messages.allOfChildFail(i), "allOf")
          ok = false
        }
      }
      ok

    case AnyOfC(schemas) =>
      val child: Sink = mutable.ArrayBuffer.empty
      val ok = schemas.exists(validateSchema(_, v, path, Some(child), depth + 1))
      if (!ok) {
        sink.foreach(_ ++= child)
        push(sink, path, Messages.anyOfFail, "anyOf")
      }
      ok

    case OneOfC(schemas) =>
      val child: Sink = mutable.ArrayBuffer.empty
      val n = schemas.count(validateSchema(_, v, path, Some(child), depth + 1))
      if (n == 1) true
      else if (n == 0) {
        sink.foreach(_ ++= child)
        push(sink, path, Messages.oneOfNone, "oneOf")
        false
      } else {
        push(sink, path, Messages.oneOfTooMany, "oneOf")
        false
      }

    case NotC(s) =>
      val ok = !validateSchema(s, v, path, None, depth + 1)
      if (!ok) push(sink, path, Messages.notFail, "not")
      ok

    case CondC(ifS, thenS, elseS) =>
      val branch = if (validateSchema(ifS, v, path, None, depth + 1)) thenS else elseS
      val child: Sink = mutable.ArrayBuffer.empty
      val ok = branch.forall(validateSchema(_, v, path, Some(child), depth + 1))
      if (!ok) {
        sink.foreach(_ ++= child)
        push(sink, path, Messages.conditionalFail, "conditional")
      }
      ok

    case cc: CustomC => cc.nativePredicate match {
      // PolyConstraint::validate shape (concrete_constraints.hpp:959-961):
      // raw value in, boolean out, message pushed on failure
      case Some(p) =>
        val ok = p(v)
        if (!ok) push(sink, path, cc.message, s"custom:${cc.name}")
        ok
      case None => throw new UnsupportedOperationException(
        s"CustomC(${cc.name}) is Column-only (no nativePredicate); " +
          "supply a Variant => Boolean to run it on the native walker")
    }
  }

}

/** Format checks (VV:388-513 + helpers 2024-2080), JVM-side port. All
  * patterns precompiled once per JVM (the reference caches compiled regexes
  * across calls, validator.hpp:96). */
private[graft] object Formats {
  private val dateRe = java.util.regex.Pattern.compile(
    "^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])$")
  private val timeReStrict = java.util.regex.Pattern.compile(
    "^([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])|([+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$")
  private val timeReLax = java.util.regex.Pattern.compile(
    "^([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])?|([+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$")
  private val dtReStrict = java.util.regex.Pattern.compile(
    "^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])[Tt]([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])|([+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$")
  private val dtReLax = java.util.regex.Pattern.compile(
    "^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])[Tt]([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])?|([+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$")
  private def timeRe(strict: Boolean) = if (strict) timeReStrict else timeReLax
  private def dtRe(strict: Boolean) = if (strict) dtReStrict else dtReLax
  private val ipv4Re = java.util.regex.Pattern.compile(
    "^(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$")

  private def dateRangeOk(y: Int, m: Int, d: Int): Boolean = {
    if (d < 1) return false
    val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
    val limit =
      if (m == 2) { if (leap) 29 else 28 }
      else if (m <= 7) { if (m % 2 == 0) 30 else 31 }
      else { if (m % 2 != 0) 30 else 31 }
    d <= limit
  }
  private def leapOk(h: Int, mi: Int, offMin: Int): Boolean = {
    val utc = (((h * 60 + mi - offMin) % 1440) + 1440) % 1440
    utc == 1439
  }
  private def g(m: java.util.regex.Matcher, i: Int): Int = {
    val s = m.group(i); if (s == null || s.isEmpty) 0 else s.toInt
  }

  /** None = pass; Some(msg) = the verbatim failure message. */
  def check(fmt: String, s: String, strict: Boolean): Option[String] = fmt match {
    case "date" =>
      val m = dateRe.matcher(s)
      if (m.matches() && dateRangeOk(g(m, 1), g(m, 2), g(m, 3))) None
      else Some(Messages.badDate)
    case "time" =>
      val m = timeRe(strict).matcher(s)
      if (!m.matches()) Some(Messages.badTime)
      else if (g(m, 3) == 60) {
        val sign = if ("-" == m.group(7)) -1 else 1
        val off = sign * (g(m, 8) * 60 + g(m, 9))
        if (leapOk(g(m, 1), g(m, 2), off)) None else Some(Messages.badTime)
      } else None
    case "date-time" =>
      val m = dtRe(strict).matcher(s)
      if (!m.matches()) Some(Messages.badDateTime)
      else if (!dateRangeOk(g(m, 1), g(m, 2), g(m, 3))) Some(Messages.badDateTime)
      else if (g(m, 6) == 60) {
        val sign = if ("-" == m.group(10)) -1 else 1
        val off = sign * (g(m, 11) * 60 + g(m, 12))
        if (leapOk(g(m, 4), g(m, 5), off)) None else Some(Messages.badDateTime)
      } else None
    case "ipv4" =>
      if (ipv4Re.matcher(s).matches()) None else Some(Messages.badIpv4)
    case _ => None
  }
}

object VariantValidator {

  /** Maximum schema-walk nesting (document levels + finite schema
    * nesting). 256 is far above any sane document (and the variant parser
    * rejects very deep documents outright) while keeping the recursion
    * safely inside a default 1 MiB task-thread stack. Documents deeper
    * than this fail with a `depth` violation instead of crashing. */
  val MaxWalkDepth = 256
  val depthExceededMsg = "Document nesting depth exceeds the evaluator limit."

  /** Out-of-band signal for MaxWalkDepth exhaustion. A control-flow
    * singleton (no stack trace) caught ONLY in validateRow, so depth
    * failure can never be inverted by an enclosing not/oneOf/if into a
    * pass. Extends ControlThrowable so incidental NonFatal catches don't
    * swallow it. */
  private[functions] case object DepthExceeded
      extends scala.util.control.ControlThrowable

  /** Strict deep equality between two RUNTIME variants — the reference's
    * `equalTo(strict=true)` with numbers in DOUBLE space (getNumber casts
    * int64 to double, basic_adapter.hpp:515-516,633-651). Shared by the
    * native walker's uniqueItems and the Catalyst variant path's
    * [[VariantEqExpr]] so both collapse `7` vs `7.0` and adjacent int64s
    * beyond 2^53 identically. */
  private[graft] def strictDeepEq(a: Variant, b: Variant): Boolean = {
    import org.apache.spark.types.variant.VariantUtil.Type._
    def isNum(v: Variant) = v.getType match {
      case LONG | DOUBLE | DECIMAL | FLOAT => true
      case _ => false
    }
    def dbl(v: Variant): Double = v.getType match {
      case LONG    => v.getLong.toDouble
      case DOUBLE  => v.getDouble
      case FLOAT   => v.getFloat.toDouble
      case DECIMAL => v.getDecimal.doubleValue()
      case _       => Double.NaN
    }
    if (a.getType == NULL || b.getType == NULL)
      return a.getType == NULL && b.getType == NULL
    if (a.getType == BOOLEAN || b.getType == BOOLEAN)
      return a.getType == BOOLEAN && b.getType == BOOLEAN && a.getBoolean == b.getBoolean
    if (isNum(a) || isNum(b))
      return isNum(a) && isNum(b) && dbl(a) == dbl(b)
    if (a.getType == STRING || b.getType == STRING)
      return a.getType == STRING && b.getType == STRING && a.getString == b.getString
    if (a.getType == ARRAY || b.getType == ARRAY) {
      if (!(a.getType == ARRAY && b.getType == ARRAY) ||
          a.arraySize() != b.arraySize()) return false
      var i = 0
      while (i < a.arraySize()) {
        if (!strictDeepEq(a.getElementAtIndex(i), b.getElementAtIndex(i))) return false
        i += 1
      }
      return true
    }
    if (a.getType == OBJECT && b.getType == OBJECT) {
      if (a.objectSize() != b.objectSize()) return false
      var i = 0
      while (i < a.objectSize()) {
        val f = a.getFieldAtIndex(i)
        val other = b.getFieldByKey(f.key)
        if (other == null || !strictDeepEq(f.value, other)) return false
        i += 1
      }
      return true
    }
    false
  }

  /** Wrap a bare string as a variant value (StdStringAdapter analog) so
    * propertyNames subschemas get the full walker. */
  private[functions] def stringVariant(s: String): Variant = {
    val b = new org.apache.spark.types.variant.VariantBuilder(false)
    b.appendString(s)
    b.result()
  }

  private val passRow: InternalRow =
    new GenericInternalRow(Array[Any](true, new GenericArrayData(Array.empty[Any])))
  private val parseFailRow: InternalRow =
    new GenericInternalRow(Array[Any](false, new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](UTF8String.fromString(""),
        UTF8String.fromString("Failed to parse JSON document."),
        UTF8String.fromString("parse")))))))

  /** NULL input passes (absent document); malformed fails with a parse
    * violation; otherwise one walk. */
  def validateJsonString(validator: VariantValidator, s: UTF8String): InternalRow = {
    if (s == null) return passRow
    val vv =
      try org.apache.spark.sql.catalyst.expressions.variant.VariantExpressionEvalUtils
        .parseJson(s, false, false)
      catch { case scala.util.control.NonFatal(_) => null } // fatal errors (OOM, task kill) propagate
    if (vv == null) parseFailRow
    else validator.validateRow(vv)
  }

  def assertSupported(s: SchemaSpec): Unit = {
    // identity-visited set: the spec graph may be cyclic (RefSchema knots)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SchemaSpec, java.lang.Boolean]())
    def walk(s: SchemaSpec): Unit = {
      if (!seen.add(s)) return
      s match {
        case r: RefSchema => walk(r.target)
        case ConstraintSchema(cs, _, _) => cs.foreach {
          case cc: CustomC if cc.nativePredicate.isEmpty =>
            throw new UnsupportedOperationException(
              s"CustomC(${cc.name}) is Column-only (no nativePredicate); " +
                "supply a Variant => Boolean to run it on the native walker")
          case PropertiesC(p, pp, a) =>
            p.foreach(x => walk(x._2)); pp.foreach(x => walk(x._2)); a.foreach(walk)
          case PropertyNamesC(x)    => walk(x)
          case DependenciesC(_, sd) => sd.foreach(x => walk(x._2))
          case ItemsC(x)            => walk(x)
          case TupleItemsC(is, a)   => is.foreach(walk); a.foreach(walk)
          case ContainsC(x)         => walk(x)
          case AllOfC(xs)           => xs.foreach(walk)
          case AnyOfC(xs)           => xs.foreach(walk)
          case OneOfC(xs)           => xs.foreach(walk)
          case NotC(x)              => walk(x)
          case CondC(i, t, e)       => walk(i); t.foreach(walk); e.foreach(walk)
          case TypeC(_, xs)         => xs.foreach(walk)
          case _                    =>
        }
        case _ =>
      }
    }
    walk(s)
  }
}

/** Strict deep equality of two runtime variant values — Boolean,
  * whole-stage codegen'd; used by the Catalyst variant path's uniqueItems
  * so element equality matches the native walker (numbers in double
  * space) instead of comparing canonical JSON text. */
case class VariantEqExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == VariantType && right.dataType == VariantType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"variant_eq requires variant inputs, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VariantEqExpr.eq(a.asInstanceOf[VariantVal], b.asInstanceOf[VariantVal])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VariantEqExpr.eq($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VariantEqExpr = copy(left = newLeft, right = newRight)
}

object VariantEqExpr {
  /** Called from both interpreted eval and generated code. */
  def eq(a: VariantVal, b: VariantVal): Boolean =
    VariantValidator.strictDeepEq(
      new Variant(a.getValue, a.getMetadata), new Variant(b.getValue, b.getMetadata))

  def variantEq(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(VariantEqExpr(
      org.apache.spark.sql.GraftSqlBridge.expression(x),
      org.apache.spark.sql.GraftSqlBridge.expression(y)))
}
