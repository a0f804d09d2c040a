package graft.functions

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{GraftVariantBridge, Variant, VariantBuilder, VariantUtil}
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

import graft.compile.Messages
import graft.spec._

/** Whole-document dynamic validation in ONE pass: a custom Expression that
  * takes a JSON string, parses it to a variant and runs the entire compiled
  * constraint tree over the variant binary in JVM code, returning
  * `struct(pass, violations)` (one parse + one walk per row; NULL input
  * passes, malformed input, or text after the document's JSON value, fails
  * with a parse violation).
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
  * The per-row cost is the parse plus the walk. The walk
  * ([[VariantValidator]]) pays no per-call set-up: it decodes each
  * document key at most once, builds JSON pointers only for violations
  * and allocates nothing for a passing node.
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
  * (basic_adapter.hpp:335-547, 762-880).
  *
  * The walk allocates nothing for a node that passes:
  *  - the spec is compiled once per validator into its own tree
  *    (`VariantValidator.Sch` / `VariantValidator.Op`): `$ref`s
  *    resolved, each `properties` keyword with a name → declared-index map,
  *    each `pattern` / `patternProperties` regex held compiled from the
  *    configured [[RegexEngine]], each `type` set as a bit mask;
  *  - a value is a byte offset into the document's value buffer, not a
  *    `Variant` object;
  *  - each metadata-dictionary key is decoded at most once per document,
  *    into a table indexed by dictionary id, and object fields resolve
  *    through their field ids and offsets;
  *  - JSON pointers are a stack of (key or index) segments; the escaped
  *    `/a~1b/0` string is rendered only when a violation is pushed;
  *  - `anyOf` / `oneOf` / if-then-else collect their branches' violations
  *    in a region of the enclosing sink (or of a scratch buffer when the
  *    enclosing walk keeps none) and drop it when the keyword passes. */
final class VariantValidator(spec: SchemaSpec, strictDateTime: Boolean,
                             strictTypes: Boolean = true,
                             regexEngine: RegexEngine = JavaRegexEngine)
    extends Serializable {

  import VariantUtil.Type._
  import VariantValidator._

  assertSupported(spec)

  // built on first use in each JVM the validator is shipped to
  @transient private lazy val root: Sch = new Planner(regexEngine).schema(spec)

  /** Walk one parsed document, given as a variant's value and metadata. */
  def validate(value: Array[Byte], metadata: Array[Byte]): InternalRow = {
    val w = new Walk(value, metadata)
    val sink: Sink = mutable.ArrayBuffer.empty
    val pass =
      try validateSchema(root, w, 0, 0, sink, 0)
      catch {
        case DepthExceeded =>
          // the MaxWalkDepth guard fires out-of-band so no enclosing
          // not/oneOf/if can invert it into a pass: the ROW always fails
          // with the depth violation
          sink.clear()
          sink += (("", depthExceededMsg, "depth"))
          false
        case _: StackOverflowError =>
          // belt-and-braces behind the MaxWalkDepth guard: deep-equality
          // recursions (enum/const/uniqueItems over deep values) are bounded
          // by the parser's own nesting cap, but a crash here must degrade
          // to a violation, never kill the task
          sink.clear()
          sink += (("", depthExceededMsg, "depth"))
          false
      }
    if (pass && sink.isEmpty) passRow
    else {
      val arr = new GenericArrayData(sink.map { case (p, d, k) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(p),
          UTF8String.fromString(d), UTF8String.fromString(k)))
      }.toArray[Any])
      new GenericInternalRow(Array[Any](pass, arr))
    }
  }

  /** Append a violation at the pointer of the first `plen` segments; the
    * pointer and the message are built only when a sink keeps them. */
  private def push(w: Walk, sink: Sink, plen: Int, desc: => String, kind: String): Unit =
    if (sink != null) sink += ((w.pointer(plen), desc, kind))

  // --- type probes -----------------------------------------------------------

  private def ty(w: Walk, v: Int) = VariantUtil.getType(w.value, v)
  private def isString(w: Walk, v: Int) = ty(w, v) == STRING
  private def isBool(w: Walk, v: Int) = ty(w, v) == BOOLEAN
  private def isNullT(w: Walk, v: Int) = ty(w, v) == NULL
  private def isObject(w: Walk, v: Int) = ty(w, v) == OBJECT
  private def isArray(w: Walk, v: Int) = ty(w, v) == ARRAY
  private def isLong(w: Walk, v: Int) = ty(w, v) == LONG
  private def isNumber(w: Walk, v: Int) = ty(w, v) match {
    case LONG | DOUBLE | DECIMAL | FLOAT => true
    case _ => false
  }
  private def asDouble(w: Walk, v: Int): Double = ty(w, v) match {
    case LONG    => VariantUtil.getLong(w.value, v).toDouble
    case DOUBLE  => VariantUtil.getDouble(w.value, v)
    case FLOAT   => VariantUtil.getFloat(w.value, v).toDouble
    case DECIMAL => VariantUtil.getDecimal(w.value, v).doubleValue()
    case _       => Double.NaN
  }
  private def isIntegerLike(w: Walk, v: Int): Boolean = ty(w, v) match {
    case LONG => true
    case DOUBLE | DECIMAL | FLOAT =>
      val d = asDouble(w, v)
      d == Math.floor(d) && !d.isInfinite &&
        d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble
    case _ => false
  }
  private def getBool(w: Walk, v: Int): Boolean = VariantUtil.getBoolean(w.value, v)
  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

  // --- kWeakTypes maybe/as conversions (basic_adapter.hpp:335-547,762-880)

  // full-string numeric parses shared with the Catalyst paths (WeakNum is
  // the single source of truth so all three paths accept identical strings)
  private def parseD(s: String): Option[Double] = Option(WeakNum.parseDouble(s)).map(_.doubleValue())
  private def parseL(s: String): Option[Long] = Option(WeakNum.parseLong(s)).map(_.longValue())

  private def maybeString(w: Walk, v: Int): Boolean =
    isString(w, v) || isBool(w, v) || isNumber(w, v) ||
      (isObject(w, v) && objSize(w.value, v) == 0) || (isArray(w, v) && arrSize(w.value, v) == 0)
  private def maybeBool(w: Walk, v: Int): Boolean =
    isBool(w, v) || (isString(w, v) && { val s = VariantUtil.getString(w.value, v); s == "true" || s == "false" })
  private def maybeDouble(w: Walk, v: Int): Boolean =
    isNumber(w, v) || (isString(w, v) && parseD(VariantUtil.getString(w.value, v)).isDefined)
  private def maybeInteger(w: Walk, v: Int): Boolean =
    isIntegerLike(w, v) || (isString(w, v) && parseL(VariantUtil.getString(w.value, v)).isDefined)
  private def maybeNull(w: Walk, v: Int): Boolean =
    isNullT(w, v) || (isString(w, v) && VariantUtil.getString(w.value, v).isEmpty)
  private def maybeArray(w: Walk, v: Int): Boolean =
    isArray(w, v) || (isObject(w, v) && objSize(w.value, v) == 0)
  private def maybeObject(w: Walk, v: Int): Boolean =
    isObject(w, v) || (isArray(w, v) && arrSize(w.value, v) == 0)

  private def asDoubleW(w: Walk, v: Int): Double =
    if (isNumber(w, v)) asDouble(w, v) else parseD(VariantUtil.getString(w.value, v)).get
  private def asIntegerW(w: Walk, v: Int): Long =
    if (isLong(w, v)) VariantUtil.getLong(w.value, v)
    else if (isNumber(w, v)) asDouble(w, v).toLong
    else parseL(VariantUtil.getString(w.value, v)).get
  /** asString (basic_adapter.hpp:467-507): std::to_string rendering —
    * doubles get 6 fixed decimals. */
  private def asStringW(w: Walk, v: Int): String = ty(w, v) match {
    case STRING  => VariantUtil.getString(w.value, v)
    case BOOLEAN => if (getBool(w, v)) "true" else "false"
    case LONG    => VariantUtil.getLong(w.value, v).toString
    case DOUBLE | FLOAT | DECIMAL => Messages.cppDouble(asDouble(w, v))
    case _       => "" // empty array/object (guarded by maybeString)
  }

  /** Type-applicability guards (the `(m_strictTypes && !isX) || !maybeX`
    * pattern): true = constraint does NOT apply (passes silently). */
  private def skipNumeric(w: Walk, v: Int): Boolean =
    (strictTypes && !isNumber(w, v)) || !maybeDouble(w, v)
  private def skipString(w: Walk, v: Int): Boolean =
    (strictTypes && !isString(w, v)) || !maybeString(w, v)
  private def skipObject(w: Walk, v: Int): Boolean =
    (strictTypes && !isObject(w, v)) || !maybeObject(w, v)
  private def skipArray(w: Walk, v: Int): Boolean =
    (strictTypes && !isArray(w, v)) || !maybeArray(w, v)

  // object/array views that tolerate the weak-mode empty-container aliases
  private def objSizeW(w: Walk, v: Int): Int = if (isObject(w, v)) objSize(w.value, v) else 0
  private def arrSizeW(w: Walk, v: Int): Int = if (isArray(w, v)) arrSize(w.value, v) else 0
  private def fieldKey(w: Walk, v: Int, i: Int): String = w.key(fieldId(w.value, v, i))

  /** Index of the field named `key` in the object at `v`, or -1 (also for
    * a non-object) — `Variant.getFieldByKey`'s search, linear under 32
    * fields and binary by `String.compareTo` from 32 on, over the
    * document's key table instead of a fresh decode per probe. */
  private def fieldIndex(w: Walk, v: Int, key: String): Int = {
    if (!isObject(w, v)) return -1
    val n = objSize(w.value, v)
    if (n < 32) {
      var i = 0
      while (i < n) {
        if (key == fieldKey(w, v, i)) return i
        i += 1
      }
    } else {
      var lo = 0
      var hi = n - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val cmp = fieldKey(w, v, mid).compareTo(key)
        if (cmp < 0) lo = mid + 1
        else if (cmp > 0) hi = mid - 1
        else return mid
      }
    }
    -1
  }

  /** Weak deep equality (equalTo with strict=false,
    * basic_adapter.hpp:509-547). */
  private def weakEq(w: Walk, v: Int, jv: JsonValue): Boolean = {
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
    if (isNullT(w, v) || maybeNull(w, v)) jvIsNullish
    else if (isBool(w, v) || maybeBool(w, v))
      jvBool.contains(if (isBool(w, v)) getBool(w, v) else VariantUtil.getString(w.value, v) == "true")
    else if (maybeDouble(w, v)) jvDouble.contains(asDoubleW(w, v))
    else if (maybeInteger(w, v)) jvDouble.contains(asIntegerW(w, v).toDouble)
    else if (isString(w, v) || maybeString(w, v)) jvString.contains(asStringW(w, v))
    else if (isArray(w, v)) jv match {
      case JArrayV(xs) => arrSize(w.value, v) == xs.length &&
        xs.indices.forall(i => weakEq(w, elementAt(w.value, v, i), xs(i)))
      case JObjectV(fs) if fs.isEmpty => arrSize(w.value, v) == 0
      case _ => false
    }
    else if (isObject(w, v)) jv match {
      case JObjectV(fs) => objSize(w.value, v) == fs.size && fs.forall { case (k, x) =>
        val i = fieldIndex(w, v, k); i >= 0 && weakEq(w, fieldValue(w.value, v, i), x)
      }
      case JArrayV(xs) if xs.isEmpty => objSize(w.value, v) == 0
      case _ => false
    }
    else false
  }

  private def eqJson(w: Walk, v: Int, jv: JsonValue): Boolean = jv match {
    case JNullV      => isNullT(w, v)
    case JBoolV(x)   => isBool(w, v) && getBool(w, v) == x
    case JLongV(l)   => isNumber(w, v) && asDouble(w, v) == l.toDouble
    case JDoubleV(d) => isNumber(w, v) && asDouble(w, v) == d
    case JStringV(s) => isString(w, v) && VariantUtil.getString(w.value, v) == s
    case JArrayV(xs) => isArray(w, v) && arrSize(w.value, v) == xs.length &&
      xs.indices.forall(i => eqJson(w, elementAt(w.value, v, i), xs(i)))
    case JObjectV(fs) => isObject(w, v) && objSize(w.value, v) == fs.size &&
      fs.forall { case (k, x) =>
        val i = fieldIndex(w, v, k); i >= 0 && eqJson(w, fieldValue(w.value, v, i), x)
      }
  }

  // --- schema walk -------------------------------------------------------------

  /** `v` is the value's offset in `w.value`; its JSON pointer is the first
    * `plen` segments of `w`'s stack. A null `sink` keeps no violations,
    * and a failing constraint then ends the schema early. */
  private def validateSchema(s: Sch, w: Walk, v: Int, plen: Int,
                             sink: Sink, depth: Int): Boolean = {
    // explicit nesting bound: a hostile/pathological document must fail
    // with a violation, not kill the task with a StackOverflowError. The
    // walk recurses once per document level (plus finite schema nesting);
    // the variant PARSER already rejects very deep documents, but the band
    // between walker stack exhaustion and the parser cap crashed before
    // this guard (found by the deep-document probe; the reference has no
    // such guard — its C++ recursion is equally unbounded).
    //
    // Depth exhaustion propagates OUT-OF-BAND (an exception caught only in
    // validate), never as an in-band `false`: a plain `false` would be
    // logically inverted by an enclosing NotOp (and mis-counted by OneOfOp /
    // misread by CondOp if-probes), making a hostile-deep document PASS
    // inside `not` — fail-open on exactly the inputs the guard targets.
    if (depth > MaxWalkDepth) throw DepthExceeded
    s match {
      case o: Ops =>
        val ops = o.ops
        var ok = true
        var i = 0
        while (i < ops.length) {
          if (!visit(ops(i), w, v, plen, sink, depth)) {
            ok = false
            if (sink == null) return false
          }
          i += 1
        }
        ok
      case TrueSch  => true
      case FalseSch => false // no error of its own (VV:107-109)
    }
  }

  private def visit(o: Op, w: Walk, v: Int, plen: Int, sink: Sink, depth: Int): Boolean = o match {
    case l: LeafOp         => leaf(l.c, w, v, plen, sink)
    case t: TypeOp         => typeOp(t, w, v, plen, sink, depth)
    case p: PropertiesOp   => properties(p, w, v, plen, sink, depth)
    case p: PatternOp      =>
      if (skipString(w, v)) true
      else {
        val ok = p.re.find(asStringW(w, v))
        if (!ok) push(w, sink, plen, Messages.patternNoMatch, "pattern")
        ok
      }
    case r: RequiredOp     =>
      if (skipObject(w, v)) true
      else {
        var ok = true
        var i = 0
        while (i < r.props.length) {
          val p = r.props(i)
          if (fieldIndex(w, v, p) < 0) {
            push(w, sink, plen, Messages.missingRequired(p), "required")
            ok = false
          }
          i += 1
        }
        ok
      }
    case d: DependenciesOp => dependencies(d, w, v, plen, sink, depth)
    case n: PropertyNamesOp =>
      // Each key is evaluated as a string VALUE against the FULL subschema
      // (combinators, not, format, …) by wrapping it as a variant — the
      // reference routes names through a complete ValidationVisitor over a
      // StdStringAdapter with a null results sink (VV:1213-1230), so child
      // errors are suppressed; one wrapper violation per failing key. The
      // key's walk keeps nothing, so its pointer stack starts empty.
      if (skipObject(w, v)) true
      else {
        var ok = true
        var i = 0
        val size = objSizeW(w, v)
        while (i < size) {
          val key = stringVariant(fieldKey(w, v, i))
          if (!validateSchema(n.s, new Walk(key.getValue, key.getMetadata), 0, 0, null, depth + 1)) {
            push(w, sink, plen, "Failed to validate against 'propertyNames' constraint.", "propertyNames")
            ok = false
          }
          i += 1
        }
        ok
      }
    case it: ItemsOp =>
      if (skipArray(w, v)) true
      else {
        var ok = true
        var i = 0
        val size = arrSizeW(w, v)
        while (i < size) {
          w.setIndex(plen, i)
          if (!validateSchema(it.s, w, elementAt(w.value, v, i), plen + 1, sink, depth + 1)) {
            push(w, sink, plen, Messages.itemFail(i), "items")
            ok = false
          }
          i += 1
        }
        ok
      }
    case t: TupleOp  => tuple(t, w, v, plen, sink, depth)
    case c: ContainsOp =>
      if (skipArray(w, v)) true
      else {
        var found = false
        var i = 0
        val size = arrSizeW(w, v)
        while (i < size && !found) {
          if (validateSchema(c.s, w, elementAt(w.value, v, i), plen, null, depth + 1)) found = true
          i += 1
        }
        if (!found) push(w, sink, plen, Messages.containsFail, "contains")
        found
      }
    case a: AllOfOp =>
      var ok = true
      var i = 0
      while (i < a.ss.length) {
        if (!validateSchema(a.ss(i), w, v, plen, sink, depth + 1)) {
          push(w, sink, plen, Messages.allOfChildFail(i), "allOf")
          ok = false
        }
        i += 1
      }
      ok
    case a: AnyOfOp =>
      // the branches' violations go straight into the enclosing sink and
      // are dropped again unless every branch fails
      val into = if (sink != null) sink else w.scratch
      val mark = into.length
      var ok = false
      var i = 0
      while (!ok && i < a.ss.length) {
        ok = validateSchema(a.ss(i), w, v, plen, into, depth + 1)
        i += 1
      }
      if (ok || sink == null) truncate(into, mark)
      if (!ok) push(w, sink, plen, Messages.anyOfFail, "anyOf")
      ok
    case o: OneOfOp =>
      val into = if (sink != null) sink else w.scratch
      val mark = into.length
      var n = 0
      var i = 0
      while (i < o.ss.length) {
        if (validateSchema(o.ss(i), w, v, plen, into, depth + 1)) n += 1
        i += 1
      }
      if (n == 0) {
        if (sink == null) truncate(into, mark)
        push(w, sink, plen, Messages.oneOfNone, "oneOf")
        false
      } else {
        truncate(into, mark)
        if (n == 1) true
        else {
          push(w, sink, plen, Messages.oneOfTooMany, "oneOf")
          false
        }
      }
    case n: NotOp =>
      val ok = !validateSchema(n.s, w, v, plen, null, depth + 1)
      if (!ok) push(w, sink, plen, Messages.notFail, "not")
      ok
    case c: CondOp =>
      val branch = if (validateSchema(c.ifS, w, v, plen, null, depth + 1)) c.thenS else c.elseS
      if (branch == null) true
      else {
        val into = if (sink != null) sink else w.scratch
        val mark = into.length
        val ok = validateSchema(branch, w, v, plen, into, depth + 1)
        if (ok || sink == null) truncate(into, mark)
        if (!ok) push(w, sink, plen, Messages.conditionalFail, "conditional")
        ok
      }
  }

  private def typeOp(t: TypeOp, w: Walk, v: Int, plen: Int, sink: Sink, depth: Int): Boolean = {
    // Weak mode affects only bool/integer/null/number; string, array and
    // object stay strict even under kWeakTypes (VV:1654-1681).
    val m = t.mask
    val tv = ty(w, v)
    var ok =
      (m & AnyBit) != 0 ||
        ((m & StringBit) != 0 && tv == STRING) ||
        ((m & BooleanBit) != 0 && (tv == BOOLEAN || (!strictTypes && maybeBool(w, v)))) ||
        ((m & IntegerBit) != 0 && (isIntegerLike(w, v) || (!strictTypes && maybeInteger(w, v)))) ||
        ((m & NumberBit) != 0 && (isNumber(w, v) || (!strictTypes && maybeDouble(w, v)))) ||
        ((m & NullBit) != 0 && (tv == NULL || (!strictTypes && maybeNull(w, v)))) ||
        ((m & ArrayBit) != 0 && tv == ARRAY) ||
        ((m & ObjectBit) != 0 && tv == OBJECT)
    var i = 0
    while (!ok && i < t.schemas.length) {
      ok = validateSchema(t.schemas(i), w, v, plen, null, depth + 1)
      i += 1
    }
    if (!ok) push(w, sink, plen, Messages.typeNotPermitted, "type")
    ok
  }

  /** properties, then patternProperties, then additionalProperties
    * (VV:1123-1204) in one pass over the object's fields: each field's key
    * is looked up once in the declared-name map; declared properties are
    * then visited in spec order. */
  private def properties(o: PropertiesOp, w: Walk, v: Int, plen: Int,
                         sink: Sink, depth: Int): Boolean = {
    if (skipObject(w, v)) return true
    var ok = true
    val size = objSizeW(w, v)
    val declared = o.names.length
    // field index per declared name (by its first declaration), -1 if absent
    val fieldOf =
      if (declared == 0 || size == 0) null
      else {
        val at = new Array[Int](declared)
        java.util.Arrays.fill(at, -1)
        var i = 0
        while (i < size) {
          val d = o.index.get(fieldKey(w, v, i))
          if (d != null) at(d) = i
          i += 1
        }
        at
      }
    // fields matched by a declared name or a pattern; only the
    // additionalProperties stage reads it
    val matched = if (o.addMode == AddAllow || size == 0) null else new Array[Boolean](size)
    if (fieldOf != null) {
      var d = 0
      while (d < declared) {
        val i = fieldOf(o.slot(d))
        if (i >= 0) {
          if (matched != null) matched(i) = true
          val name = o.names(d)
          w.setKey(plen, name)
          if (!validateSchema(o.schemas(d), w, fieldValue(w.value, v, i), plen + 1, sink, depth + 1)) {
            push(w, sink, plen, Messages.propertySchemaFail(name), "properties")
            ok = false
          }
        }
        d += 1
      }
    }
    var p = 0
    while (p < o.patterns.length) {
      var i = 0
      while (i < size) {
        val key = fieldKey(w, v, i)
        if (o.patterns(p).find(key)) {
          if (matched != null) matched(i) = true
          w.setKey(plen, key)
          if (!validateSchema(o.patSchemas(p), w, fieldValue(w.value, v, i), plen + 1, sink, depth + 1)) {
            push(w, sink, plen, Messages.patternPropertySchemaFail(o.patterns(p).source),
              "patternProperties")
            ok = false
          }
        }
        i += 1
      }
      p += 1
    }
    if (o.addMode == AddSchema) {
      var i = 0
      while (i < size) {
        if (!matched(i)) {
          w.setKey(plen, fieldKey(w, v, i))
          if (!validateSchema(o.addSchema, w, fieldValue(w.value, v, i), plen + 1, sink, depth + 1)) {
            push(w, sink, plen, Messages.additionalPropertiesSchemaFail, "additionalProperties")
            ok = false
          }
        }
        i += 1
      }
    } else if (o.addMode == AddNone) {
      // reject first unexpected property (VV:1160-1177); objSizeW, not
      // objectSize: weak mode admits empty arrays as objects
      var i = 0
      while (i < size && matched(i)) i += 1
      if (i < size) {
        push(w, sink, plen, Messages.unexpectedProperty(fieldKey(w, v, i)), "additionalProperties")
        ok = false
      }
    }
    ok
  }

  private def dependencies(o: DependenciesOp, w: Walk, v: Int, plen: Int,
                           sink: Sink, depth: Int): Boolean = {
    if (skipObject(w, v)) return true
    var ok = true
    var d = 0
    while (d < o.propKeys.length) {
      if (fieldIndex(w, v, o.propKeys(d)) >= 0) {
        val deps = o.propDeps(d)
        var j = 0
        while (j < deps.length) {
          if (fieldIndex(w, v, deps(j)) < 0) {
            push(w, sink, plen, Messages.missingDependency(deps(j)), "dependencies")
            ok = false
          }
          j += 1
        }
      }
      d += 1
    }
    d = 0
    while (d < o.schemaKeys.length) {
      if (fieldIndex(w, v, o.schemaKeys(d)) >= 0) {
        if (!validateSchema(o.schemas(d), w, v, plen, sink, depth + 1)) {
          push(w, sink, plen, Messages.dependentSchemaFail, "dependencies")
          ok = false
        }
      }
      d += 1
    }
    ok
  }

  private def tuple(o: TupleOp, w: Walk, v: Int, plen: Int, sink: Sink, depth: Int): Boolean = {
    if (skipArray(w, v)) return true
    // LinearItemsConstraint order (validation_visitor.hpp:531-621):
    // tooManyItems first (only when there ARE item subschemas), then
    // per-item errors, then cannotValidateItem for the uncovered tail.
    var ok = true
    val n = arrSizeW(w, v)
    val items = o.items
    if (o.addMode == AddNone && items.nonEmpty && n > items.length) {
      push(w, sink, plen, Messages.tooManyItems, "items")
      ok = false
    }
    var i = 0
    while (i < n) {
      if (i < items.length) {
        w.setIndex(plen, i)
        if (!validateSchema(items(i), w, elementAt(w.value, v, i), plen + 1, sink, depth + 1)) {
          push(w, sink, plen + 1, Messages.tupleItemFail(i), "items")
          ok = false
        }
      } else if (o.addMode == AddSchema) {
        w.setIndex(plen, i)
        if (!validateSchema(o.addSchema, w, elementAt(w.value, v, i), plen + 1, sink, depth + 1)) {
          push(w, sink, plen, Messages.additionalItemFail(i), "items")
          ok = false
        }
      } // AddNone: reported once below (VV:611)
      i += 1
    }
    if (o.addMode == AddNone && n > items.length) {
      push(w, sink, plen, Messages.cannotValidateItem(items.length), "items")
      ok = false
    }
    ok
  }

  /** The constraints that read one value and descend into no schema. */
  private def leaf(c: Constraint, w: Walk, v: Int, plen: Int, sink: Sink): Boolean = c match {

    case EnumC(values) =>
      var ok = false
      var i = 0
      while (!ok && i < values.length) {
        ok = if (strictTypes) eqJson(w, v, values(i)) else weakEq(w, v, values(i))
        i += 1
      }
      if (!ok) push(w, sink, plen, Messages.enumNoMatch, "enum")
      ok

    case ConstC(jv) =>
      val ok = if (strictTypes) eqJson(w, v, jv) else weakEq(w, v, jv)
      if (!ok) push(w, sink, plen, Messages.constNoMatch, "const")
      ok

    case MinimumC(m, excl) =>
      if (skipNumeric(w, v)) true
      else {
        val d = asDoubleW(w, v)
        val ok = if (excl) d > m else d >= m
        if (!ok) push(w, sink, plen,
          if (excl) Messages.minimumExcl(m) else Messages.minimumIncl(m), "minimum")
        ok
      }

    case MaximumC(m, excl) =>
      if (skipNumeric(w, v)) true
      else {
        val d = asDoubleW(w, v)
        val ok = if (excl) d < m else d <= m
        if (!ok) push(w, sink, plen,
          if (excl) Messages.maximumExcl(m) else Messages.maximumIncl(m), "maximum")
        ok
      }

    case MultipleOfIntC(div) =>
      // VV:934-984 — maybe-conversions apply regardless of strictness
      // (the reference's multipleOf visitors have no m_strictTypes gate),
      // so numeric STRINGS are checked; non-numeric values pass.
      if (maybeInteger(w, v)) {
        val i = asIntegerW(w, v)
        val ok = i == 0 || i % div == 0
        if (!ok) push(w, sink, plen, Messages.multipleOfInt(div), "multipleOf")
        ok
      } else if (maybeDouble(w, v)) {
        val d = asDoubleW(w, v)
        val ok =
          if (d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
            Math.abs(Math.IEEEremainder(d, div.toDouble)) <= Math.ulp(1.0)
          else { val i = d.toLong; i == 0 || i % div == 0 }
        if (!ok) push(w, sink, plen, Messages.multipleOfInt(div), "multipleOf")
        ok
      } else true

    case MultipleOfDoubleC(div) =>
      // VV:863-925 tolerance port; maybeDouble first, then maybeInteger
      val dOpt =
        if (maybeDouble(w, v)) Some(asDoubleW(w, v))
        else if (maybeInteger(w, v)) Some(asIntegerW(w, v).toDouble)
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
          if (!ok) push(w, sink, plen, Messages.multipleOfDouble(div), "multipleOf")
          ok
      }

    case MinLengthC(n) =>
      if (skipString(w, v)) true
      else {
        val ok = codePoints(asStringW(w, v)) >= n
        if (!ok) push(w, sink, plen, Messages.minLength(n), "minLength")
        ok
      }

    case MaxLengthC(n) =>
      if (skipString(w, v)) true
      else {
        val ok = codePoints(asStringW(w, v)) <= n
        if (!ok) push(w, sink, plen, Messages.maxLength(n), "maxLength")
        ok
      }

    case FormatC(fmt) =>
      if (!isString(w, v)) true else Formats.check(fmt, VariantUtil.getString(w.value, v), strictDateTime) match {
        case None => true
        case Some(msg) => push(w, sink, plen, msg, "format"); false
      }

    case MinPropertiesC(n) =>
      if (skipObject(w, v)) true
      else {
        val ok = objSizeW(w, v) >= n
        if (!ok) push(w, sink, plen, Messages.minProperties(n), "minProperties")
        ok
      }
    case MaxPropertiesC(n) =>
      if (skipObject(w, v)) true
      else {
        val ok = objSizeW(w, v) <= n
        if (!ok) push(w, sink, plen, Messages.maxProperties(n), "maxProperties")
        ok
      }

    case MinItemsC(n) =>
      if (skipArray(w, v)) true
      else {
        val ok = arrSizeW(w, v) >= n
        if (!ok) push(w, sink, plen, Messages.minItems(n), "minItems")
        ok
      }
    case MaxItemsC(n) =>
      if (skipArray(w, v)) true
      else {
        val ok = arrSizeW(w, v) <= n
        if (!ok) push(w, sink, plen, Messages.maxItems(n), "maxItems")
        ok
      }

    case UniqueItemsC =>
      if (skipArray(w, v)) true
      else {
        val items = Array.tabulate(arrSizeW(w, v))(i =>
          GraftVariantBridge.at(w.value, w.metadata, elementAt(w.value, v, i)))
        var ok = true
        var i = 0
        while (i < items.length) {
          var j = i + 1
          while (j < items.length) {
            if (strictDeepEq(items(i), items(j))) {
              push(w, sink, plen, Messages.uniqueViolation(i, j), "uniqueItems")
              ok = false
            }
            j += 1
          }
          i += 1
        }
        ok
      }

    case cc: CustomC => cc.nativePredicate match {
      // PolyConstraint::validate shape (concrete_constraints.hpp:959-961):
      // raw value in, boolean out, message pushed on failure
      case Some(p) =>
        val ok = p(GraftVariantBridge.at(w.value, w.metadata, v))
        if (!ok) push(w, sink, plen, cc.message, s"custom:${cc.name}")
        ok
      case None => throw new UnsupportedOperationException(
        s"CustomC(${cc.name}) is Column-only (no nativePredicate); " +
          "supply a Variant => Boolean to run it on the native walker")
    }

    case other => throw new IllegalStateException(s"not a leaf constraint: $other")
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
    * singleton (no stack trace) caught ONLY in validate, so depth
    * failure can never be inverted by an enclosing not/oneOf/if into a
    * pass. Extends ControlThrowable so incidental NonFatal catches don't
    * swallow it. */
  private[functions] case object DepthExceeded
      extends scala.util.control.ControlThrowable

  private type Sink = mutable.ArrayBuffer[(String, String, String)]

  private def truncate(sink: Sink, mark: Int): Unit =
    if (sink.length > mark) sink.remove(mark, sink.length - mark)

  // --- the compiled spec ------------------------------------------------------

  /** A subschema compiled for the walk; `$ref`s are resolved to their
    * targets (a cycle becomes a cycle of nodes). */
  private sealed abstract class Sch
  private case object TrueSch extends Sch
  private case object FalseSch extends Sch
  private final class Ops extends Sch { var ops: Array[Op] = Array.empty }

  /** A compiled constraint. */
  private sealed abstract class Op
  /** A constraint that reads one value and descends into no schema. */
  private final class LeafOp(val c: Constraint) extends Op
  private final class TypeOp(val mask: Int, val schemas: Array[Sch]) extends Op
  private final class PatternOp(val re: Regex) extends Op
  private final class RequiredOp(val props: Array[String]) extends Op
  /** `names(d)` / `schemas(d)`: the declared properties in spec order;
    * `index`: name → its first declared index, `slot(d)` that index for
    * `names(d)`. */
  private final class PropertiesOp(val names: Array[String], val schemas: Array[Sch],
                                   val slot: Array[Int],
                                   val index: java.util.HashMap[String, Integer],
                                   val patterns: Array[Regex], val patSchemas: Array[Sch],
                                   val addMode: Int, val addSchema: Sch) extends Op
  private final class PropertyNamesOp(val s: Sch) extends Op
  private final class DependenciesOp(val propKeys: Array[String], val propDeps: Array[Array[String]],
                                     val schemaKeys: Array[String], val schemas: Array[Sch]) extends Op
  private final class ItemsOp(val s: Sch) extends Op
  private final class TupleOp(val items: Array[Sch], val addMode: Int, val addSchema: Sch) extends Op
  private final class ContainsOp(val s: Sch) extends Op
  private final class AllOfOp(val ss: Array[Sch]) extends Op
  private final class AnyOfOp(val ss: Array[Sch]) extends Op
  private final class OneOfOp(val ss: Array[Sch]) extends Op
  private final class NotOp(val s: Sch) extends Op
  /** `thenS` / `elseS` are null when absent. */
  private final class CondOp(val ifS: Sch, val thenS: Sch, val elseS: Sch) extends Op

  /** additionalProperties / additionalItems: `Some(TrueSchema)` allows
    * anything, another `Some` applies a schema, `None` allows nothing. */
  private val AddAllow = 0
  private val AddSchema = 1
  private val AddNone = 2

  private val AnyBit = 1 << JsonType.JAny.id
  private val ArrayBit = 1 << JsonType.JArray.id
  private val BooleanBit = 1 << JsonType.JBoolean.id
  private val IntegerBit = 1 << JsonType.JInteger.id
  private val NullBit = 1 << JsonType.JNull.id
  private val NumberBit = 1 << JsonType.JNumber.id
  private val ObjectBit = 1 << JsonType.JObject.id
  private val StringBit = 1 << JsonType.JString.id

  /** One `pattern` / `patternProperties` regex: compiled through the
    * configured engine when a document first reaches it, then held, so no
    * cache lookup happens per test. Compiling on first use, not when the
    * validator is built, keeps a pattern the engine rejects failing only
    * the documents that reach it. */
  private final class Regex(val source: String, engine: RegexEngine) {
    @volatile private var searcher: String => Boolean = null
    def find(s: String): Boolean = {
      var f = searcher
      if (f == null) {
        f = engine.searcher(source)
        searcher = f
      }
      f(s)
    }
  }

  /** Compiles a spec once; memoized by identity, so a shared subschema is
    * one node and a `$ref` cycle is a cycle of nodes. */
  private final class Planner(engine: RegexEngine) {
    private val memo = new java.util.IdentityHashMap[SchemaSpec, Sch]()

    def schema(s: SchemaSpec): Sch = memo.get(s) match {
      case null => s match {
        case TrueSchema  => TrueSch
        case FalseSchema => FalseSch
        case r: RefSchema =>
          val t = schema(r.target)
          memo.put(r, t)
          t
        case ConstraintSchema(cs, _, _) =>
          val node = new Ops
          memo.put(s, node) // before the constraints: a cycle comes back here
          node.ops = cs.map(op).toArray
          node
      }
      case done => done
    }

    private def schemas(ss: Seq[SchemaSpec]): Array[Sch] = ss.map(schema).toArray

    private def addMode(add: Option[SchemaSpec]): Int = add match {
      case Some(TrueSchema) => AddAllow
      case Some(_)          => AddSchema
      case None             => AddNone
    }

    private def op(c: Constraint): Op = c match {
      case TypeC(types, ss) => new TypeOp(types.foldLeft(0)((m, t) => m | (1 << t.id)), schemas(ss))
      case PatternC(p)      => new PatternOp(new Regex(p, engine))
      case RequiredC(ps)    => new RequiredOp(ps.toArray)
      case PropertiesC(props, patProps, additional) =>
        val names = props.map(_._1).toArray
        val index = new java.util.HashMap[String, Integer]()
        names.indices.foreach(d => index.putIfAbsent(names(d), d))
        new PropertiesOp(names, schemas(props.map(_._2)), names.map(index.get(_).intValue), index,
          patProps.map(p => new Regex(p._1, engine)).toArray, schemas(patProps.map(_._2)),
          addMode(additional), additional.map(schema).orNull)
      case PropertyNamesC(s) => new PropertyNamesOp(schema(s))
      case DependenciesC(propDeps, schemaDeps) =>
        new DependenciesOp(propDeps.map(_._1).toArray, propDeps.map(_._2.toArray).toArray,
          schemaDeps.map(_._1).toArray, schemas(schemaDeps.map(_._2)))
      case ItemsC(s)              => new ItemsOp(schema(s))
      case TupleItemsC(items, additional) =>
        new TupleOp(schemas(items), addMode(additional), additional.map(schema).orNull)
      case ContainsC(s)           => new ContainsOp(schema(s))
      case AllOfC(ss)             => new AllOfOp(schemas(ss))
      case AnyOfC(ss)             => new AnyOfOp(schemas(ss))
      case OneOfC(ss)             => new OneOfOp(schemas(ss))
      case NotC(s)                => new NotOp(schema(s))
      case CondC(ifS, thenS, elseS) =>
        new CondOp(schema(ifS), thenS.map(schema).orNull, elseS.map(schema).orNull)
      case leaf                   => new LeafOp(leaf)
    }
  }

  // --- the variant binary, read in place (Spark's VariantUtil layout) ----------

  private def objSize(value: Array[Byte], v: Int): Int = {
    val info = (value(v) >> 2) & 0x3F
    VariantUtil.readUnsigned(value, v + 1, if (((info >> 4) & 1) != 0) 4 else 1)
  }

  /** Metadata-dictionary id of the key of field `i` of the object at `v`. */
  private def fieldId(value: Array[Byte], v: Int, i: Int): Int = {
    val info = (value(v) >> 2) & 0x3F
    val sizeBytes = if (((info >> 4) & 1) != 0) 4 else 1
    val idSize = ((info >> 2) & 3) + 1
    VariantUtil.readUnsigned(value, v + 1 + sizeBytes + i * idSize, idSize)
  }

  /** Offset of the value of field `i` of the object at `v`. */
  private def fieldValue(value: Array[Byte], v: Int, i: Int): Int = {
    val info = (value(v) >> 2) & 0x3F
    val sizeBytes = if (((info >> 4) & 1) != 0) 4 else 1
    val size = VariantUtil.readUnsigned(value, v + 1, sizeBytes)
    val idSize = ((info >> 2) & 3) + 1
    val offsetSize = (info & 3) + 1
    val offsetStart = v + 1 + sizeBytes + size * idSize
    val dataStart = offsetStart + (size + 1) * offsetSize
    dataStart + VariantUtil.readUnsigned(value, offsetStart + i * offsetSize, offsetSize)
  }

  private def arrSize(value: Array[Byte], v: Int): Int = {
    val info = (value(v) >> 2) & 0x3F
    VariantUtil.readUnsigned(value, v + 1, if (((info >> 2) & 1) != 0) 4 else 1)
  }

  /** Offset of element `i` of the array at `v`. */
  private def elementAt(value: Array[Byte], v: Int, i: Int): Int = {
    val info = (value(v) >> 2) & 0x3F
    val sizeBytes = if (((info >> 2) & 1) != 0) 4 else 1
    val size = VariantUtil.readUnsigned(value, v + 1, sizeBytes)
    val offsetSize = (info & 3) + 1
    val offsetStart = v + 1 + sizeBytes
    val dataStart = offsetStart + (size + 1) * offsetSize
    dataStart + VariantUtil.readUnsigned(value, offsetStart + i * offsetSize, offsetSize)
  }

  /** One document's walk state: its variant buffers, its key table, the
    * JSON-pointer segment stack and a scratch sink for combinator
    * branches whose enclosing walk keeps nothing. */
  private final class Walk(val value: Array[Byte], val metadata: Array[Byte]) {
    private var keys: Array[String] = null
    private var segKeys: Array[String] = null
    private var segIndexes: Array[Int] = null
    private var scratchSink: Sink = null

    /** Dictionary key `id`, decoded on first use. */
    def key(id: Int): String = {
      if (keys == null)
        keys = new Array[String](VariantUtil.readUnsigned(metadata, 1, ((metadata(0) >> 6) & 3) + 1))
      var k = keys(id)
      if (k == null) {
        k = VariantUtil.getMetadataKey(metadata, id)
        keys(id) = k
      }
      k
    }

    def setKey(at: Int, k: String): Unit = {
      reserve(at)
      segKeys(at) = k
    }

    def setIndex(at: Int, i: Int): Unit = {
      reserve(at)
      segKeys(at) = null
      segIndexes(at) = i
    }

    private def reserve(at: Int): Unit =
      if (segKeys == null) {
        segKeys = new Array[String](math.max(8, at + 1))
        segIndexes = new Array[Int](segKeys.length)
      } else if (at >= segKeys.length) {
        val n = math.max(segKeys.length * 2, at + 1)
        segKeys = java.util.Arrays.copyOf(segKeys, n)
        segIndexes = java.util.Arrays.copyOf(segIndexes, n)
      }

    /** The JSON pointer of the first `len` segments: `/` + escaped key or
      * index per segment. */
    def pointer(len: Int): String =
      if (len == 0) ""
      else {
        val b = new java.lang.StringBuilder
        var i = 0
        while (i < len) {
          b.append('/')
          val k = segKeys(i)
          if (k != null) b.append(Messages.escapePointerSegment(k)) else b.append(segIndexes(i))
          i += 1
        }
        b.toString
      }

    def scratch: Sink = {
      if (scratchSink == null) scratchSink = mutable.ArrayBuffer.empty
      scratchSink
    }
  }

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
    val b = new VariantBuilder(false)
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

  /** NULL input passes (absent document); malformed or over-size input,
    * and input with anything but whitespace after its JSON value, fails
    * with a parse violation; otherwise one walk. */
  def validateJsonString(validator: VariantValidator, s: UTF8String): InternalRow = {
    if (s == null) return passRow
    val doc =
      try parseJsonText(s)
      catch { case scala.util.control.NonFatal(_) => null } // fatal errors (OOM, task kill) propagate
    if (doc == null) parseFailRow
    else validator.validate(doc.getValue, doc.getMetadata)
  }

  /** One JSON text (RFC 8259) as a variant, parsed straight from the
    * string's UTF-8 bytes (no UTF-16 copy of the document), or null when
    * something other than whitespace follows the value. Jackson's default
    * factory and limits, as `VariantBuilder.parseJson(String, Boolean)`
    * uses, which reads the first value and ignores the rest. */
  private def parseJsonText(s: UTF8String): Variant = {
    val p = s.getBaseObject match {
      case a: Array[Byte] => new JsonFactory().createParser(a,
        (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => new JsonFactory().createParser(s.getBytes)
    }
    try {
      p.nextToken()
      val v = VariantBuilder.parseJson(p, false)
      if (p.nextToken() == null) v else null
    } finally p.close()
  }

  def assertSupported(s: SchemaSpec): Unit =
    SchemaSpec.reachableConstraints(s).foreach {
      case cc: CustomC if cc.nativePredicate.isEmpty =>
        throw new UnsupportedOperationException(
          s"CustomC(${cc.name}) is Column-only (no nativePredicate); " +
            "supply a Variant => Boolean to run it on the native walker")
      case _ =>
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
