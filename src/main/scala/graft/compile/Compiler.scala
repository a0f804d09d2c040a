package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.spec._

/** A compiled subschema: a fail-fast boolean `pass` Column plus an ordered
  * `violations` Column of `array<struct<json_pointer,description,kind>>`.
  *
  * This is the Spark analog of the reference's two evaluation modes
  * (valijson `subschema.hpp:153-187`): `pass` is the short-circuiting
  * fail-fast conjunction (`applyStrict`), `violations` the exhaustive
  * error-accumulating pass (`apply` with a ValidationResults sink). Both are
  * pure Catalyst expression trees — the whole constraint tree is flattened
  * at plan time and executed by whole-stage codegen, one row at a time, with
  * no shuffle (the analog of the reference's single-threaded tree walk,
  * `validation_visitor.hpp:105-134`, but vectorized and distributed).
  */
final case class Compiled(pass: Column, violations: Column)

/** Compile options mirroring `valijson::Validator` modes
  * (`validator.hpp:22-26`: kStrongTypes/kWeakTypes;
  * `validation_visitor.hpp` m_strictDateTime). Strong typing is the natural
  * mode for typed Spark columns; `strictTypes = false` is weak mode. */
final case class CompileOptions(strictTypes: Boolean = true,
                                strictDateTime: Boolean = false,
                                regexEngine: graft.functions.RegexEngine =
                                  graft.functions.JavaRegexEngine)

/** ConstraintSpec → Catalyst compiler.
  *
  * The "document" is a Spark value: the top-level row (treated as a JSON
  * object whose properties are the columns), nested `StructType`s (closed
  * objects), `MapType(String, _)` (open objects), `ArrayType`s, and scalar
  * columns. Strong-typing applicability rules follow the reference: a
  * constraint that targets a type the value cannot be passes silently
  * (e.g. `minLength` on a number — `validation_visitor.hpp:808-812`).
  *
  * Flat-row convention: a NULL column/struct-field is an *absent* property
  * (required fails; the property subschema is skipped), while a NULL array
  * element is a JSON `null` value. This matches how fixed-schema tables
  * encode optionality.
  */
object Compiler {

  val violationStructType: StructType = StructType(Seq(
    StructField("json_pointer", StringType),
    StructField("description", StringType),
    StructField("kind", StringType)))
  val violationArrayType: ArrayType = ArrayType(violationStructType, containsNull = true)

  private val emptyViols: Column = array().cast(violationArrayType)

  private def viol(ptr: Column, desc: Column, kind: String): Column =
    array(struct(ptr.as("json_pointer"), desc.as("description"), lit(kind).as("kind"))).cast(violationArrayType)

  private def b(c: Column): Column = coalesce(c, lit(false))

  /** Single leaf check → Compiled. `ok` must already be null-safe. */
  private def leaf(ok: Column, ptr: Column, desc: Column, kind: String): Compiled =
    Compiled(ok, when(ok, emptyViols).otherwise(viol(ptr, desc, kind)))

  private val alwaysTrue = Compiled(lit(true), emptyViols)

  private def combine(cs: Seq[Compiled]): Compiled = cs match {
    case Seq()  => alwaysTrue
    case Seq(c) => c
    case many   => Compiled(many.map(_.pass).reduce(_ && _),
                            concat(many.map(_.violations): _*))
  }

  /** JSON-type view of a Spark type (SURVEY.md §1.1 table). Timestamps and
    * dates present as RFC3339 strings in the JSON view. */
  private def jsonTypeOf(dt: DataType): JsonType.Value = dt match {
    case StringType | _: CharType | _: VarcharType    => JsonType.JString
    case ByteType | ShortType | IntegerType | LongType => JsonType.JInteger
    case FloatType | DoubleType | _: DecimalType       => JsonType.JNumber
    case BooleanType                                   => JsonType.JBoolean
    case NullType                                      => JsonType.JNull
    case _: ArrayType                                  => JsonType.JArray
    case _: StructType | _: MapType                    => JsonType.JObject
    case TimestampType | DateType | TimestampNTZType   => JsonType.JString
    case other => throw new IllegalArgumentException(s"unsupported Spark type for validation: $other")
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }
  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }
  private def isStringLike(dt: DataType): Boolean = dt match {
    case StringType | _: CharType | _: VarcharType => true
    case _                                         => false
  }

  // ---------------------------------------------------------------------
  // Entry points
  // ---------------------------------------------------------------------

  /** Compile a spec against a whole row of `schema` — the row is the
    * document, columns are its properties. Shuffle-free: one projection. */
  def compileRow(spec: SchemaSpec, schema: StructType,
                 opts: CompileOptions = CompileOptions()): Compiled = {
    // Backtick-quote names: col("a.b") would parse as nested-field access,
    // breaking columns whose names contain dots (e.g. IPv4-shaped keys).
    val rowStruct = struct(schema.fieldNames.toIndexedSeq
      .map(n => col("`" + n.replace("`", "``") + "`")): _*)
    // Catalyst's SimplifyExtractValueOps collapses GetStructField(CreateStruct)
    // back to the raw column references, so this costs nothing at runtime.
    compile(spec, rowStruct, schema, lit(""), opts)
  }

  /** Compile a spec against a single typed value.
    *
    * Weak mode + container-typed value: delegate through the VARIANT
    * compiler (a `to_json`/`parse_json` lift). The kWeakTypes maybe-rules
    * let containers cross kinds — an empty struct is maybeString ""/
    * maybeArray [], an empty array is maybeObject {} (basic_adapter.hpp:
    * 335-547) — which a statically-typed dispatch cannot express; the
    * variant compiler implements exactly those rules (fuzz-proven against
    * the native walker). Scalar types keep their direct weak conversions
    * (stringTarget/numericTarget/weak enum). The JSON round-trip costs only
    * in the opt-in weak mode; null struct fields drop out of to_json,
    * matching the typed path's null-field-is-absent convention. */
  def compile(spec: SchemaSpec, value: Column, dt: DataType, ptr: Column,
              opts: CompileOptions = CompileOptions()): Compiled = dt match {
    case (_: StructType | _: ArrayType | _: MapType) if !opts.strictTypes &&
        !spec.isInstanceOf[RefSchema] && !containsCustom(spec) =>
      // keep strict mode's plan-time rejection of unsupported nested types
      jsonTypeOf(dt)
      // NULL container = JSON null (typed-path convention): coalesce the
      // serialized form to the literal "null" so the variant path sees a
      // JSON null, not an absent value
      val doc = coalesce(jsonOf(value), lit("null"))
      compileTyped(spec, parse_json(doc), VariantType, ptr, opts)
    case _ => compileTyped(spec, value, dt, ptr, opts)
  }

  /** to_json with ignoreNullFields PINNED true: the delegation contract
    * (null struct field = absent) must not flip with the session conf
    * `spark.sql.jsonGenerator.ignoreNullFields`. */
  private def jsonOf(value: Column): Column = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("ignoreNullFields", "true")
    to_json(value, opts)
  }

  /** Does the spec (anywhere in its graph) carry a CustomC? Those keep the
    * legacy typed compilation in weak mode: a user's Column predicate is
    * written against the TYPED value shape, and the variant delegation
    * would hand it a VariantType column instead. */
  private def containsCustom(spec: SchemaSpec): Boolean =
    SchemaSpec.reachableConstraints(spec).exists(_.isInstanceOf[CustomC])

  private def compileTyped(spec: SchemaSpec, value: Column, dt: DataType, ptr: Column,
                           opts: CompileOptions): Compiled = spec match {
    case r: RefSchema =>
      // A RefSchema appears only on a $ref cycle (SpecParser knot-tying);
      // an expression tree is finite, so the Catalyst paths cannot express
      // it — the native walker (Graft.validateJsonColumn) can.
      throw new IllegalArgumentException(
        s"cyclic $$ref (${r.key}) cannot compile to a finite Catalyst expression tree; " +
          "use the native dynamic path (Graft.validateJsonColumn) for recursive schemas")
    case TrueSchema  => alwaysTrue
    case FalseSchema =>
      // Boolean-false schema: alwaysInvalid with NO error of its own
      // (validation_visitor.hpp:107-109) — enclosing wrappers still report.
      Compiled(lit(false), emptyViols)
    case ConstraintSchema(cs, _, _) =>
      combine(cs.map(c => compileConstraint(c, value, dt, ptr, opts)))
  }

  /** Compile a property-site subschema: NULL value = absent ⇒ subschema is
    * not evaluated (the reference never visits a property that is missing). */
  private def compileAtProperty(spec: SchemaSpec, value: Column, dt: DataType,
                                ptr: Column, opts: CompileOptions): Compiled = {
    val c = compile(spec, value, dt, ptr, opts)
    Compiled(value.isNull || c.pass, when(value.isNull, emptyViols).otherwise(c.violations))
  }

  // ---------------------------------------------------------------------
  // Constraint dispatch
  // ---------------------------------------------------------------------

  private def compileConstraint(c: Constraint, value: Column, dt: DataType,
                                ptr: Column, opts: CompileOptions): Compiled =
    if (dt == VariantType) compileVariantConstraint(c, value, ptr, opts)
    else compileTypedConstraint(c, value, dt, ptr, opts)

  private def compileTypedConstraint(c: Constraint, value: Column, dt: DataType,
                                     ptr: Column, opts: CompileOptions): Compiled = c match {

    // ---- §2.1 leaves ----------------------------------------------------

    case TypeC(types, schemas) =>
      val staticOk: Boolean = {
        val jt = jsonTypeOf(dt)
        types.contains(JsonType.JAny) || types.contains(jt) ||
          (jt == JsonType.JInteger && types.contains(JsonType.JNumber))
      }
      val intLikeDouble: Column = {
        // Exact-integer doubles count as integers even in strict mode
        // (validation_visitor.hpp:30-48 isDoubleAnInteger).
        val d = value.cast(DoubleType)
        d === floor(d) && d >= lit(Long.MinValue.toDouble) && d <= lit(Long.MaxValue.toDouble)
      }
      val strictDyn: Column =
        if (staticOk) lit(true)
        else if ((dt == DoubleType || dt == FloatType || dt.isInstanceOf[DecimalType]) &&
                 types.contains(JsonType.JInteger)) intLikeDouble
        else lit(false)
      val dynOk: Column =
        if (staticOk || opts.strictTypes) strictDyn
        else {
          // Weak typing (kWeakTypes) affects ONLY bool/integer/null/number —
          // string, array and object stay strict even in weak mode
          // (ValidateNamedTypes, VV:1654-1681: kString/kArray/kObject have
          // no maybe* branch).
          val weak: Seq[Column] = dt match {
            case t if isStringLike(t) =>
              types.toSeq.flatMap {
                case JsonType.JInteger => Some(weakLong(value).isNotNull)
                case JsonType.JNumber  => Some(weakDouble(value).isNotNull)
                case JsonType.JBoolean => Some(value.isin("true", "false"))
                case JsonType.JNull    => Some(value === "")
                case _                 => None
              }
            case t if isNumeric(t) && types.contains(JsonType.JInteger) => Seq(intLikeDouble)
            case _ => Nil
          }
          weak.foldLeft(strictDyn)(_ || _)
        }
      val schemaOk: Column = schemas.map(s => compile(s, value, dt, ptr, opts).pass)
        .foldLeft(dynOk)(_ || _)
      // NULL element = JSON null; NULL at a property site is filtered by
      // compileAtProperty before we get here.
      val ok = when(value.isNull, lit(types.contains(JsonType.JNull) || types.contains(JsonType.JAny)))
        .otherwise(b(schemaOk))
      leaf(ok, ptr, lit(Messages.typeNotPermitted), "type")

    case EnumC(values) =>
      // JSON null (NULL element / scalar) matches a null constant — and in
      // weak mode also "" (the nullish group of weak equalTo,
      // basic_adapter.hpp:511-512); absent properties never reach here
      // (guarded at the property site).
      val ok = when(value.isNull, lit(values.exists(nullishMatch(_, opts))))
        .otherwise(b(typedEnumMatch(value, dt, values, opts)))
      leaf(ok, ptr, lit(Messages.enumNoMatch), "enum")

    case ConstC(v) =>
      val ok = when(value.isNull, lit(nullishMatch(v, opts)))
        .otherwise(b(typedEnumMatch(value, dt, Vector(v), opts)))
      leaf(ok, ptr, lit(Messages.constNoMatch), "const")

    case MinimumC(m, excl) =>
      numericTarget(value, dt, opts) match {
        case None => alwaysTrue
        case Some(d) =>
          val ok = d.isNull || (if (excl) d > lit(m) else d >= lit(m))
          leaf(b(value.isNull || ok), ptr,
            lit(if (excl) Messages.minimumExcl(m) else Messages.minimumIncl(m)), "minimum")
      }

    case MaximumC(m, excl) =>
      numericTarget(value, dt, opts) match {
        case None => alwaysTrue
        case Some(d) =>
          val ok = d.isNull || (if (excl) d < lit(m) else d <= lit(m))
          leaf(b(value.isNull || ok), ptr,
            lit(if (excl) Messages.maximumExcl(m) else Messages.maximumIncl(m)), "maximum")
      }

    case MultipleOfIntC(d) =>
      // The reference's multipleOf visitors apply maybe-conversions
      // REGARDLESS of strictness (VV:934-984 has no m_strictTypes gate):
      // integer-parseable strings get the integer check, double-parseable
      // strings the truncating-double check, everything else passes.
      if (!isNumeric(dt) && !isStringLike(dt)) alwaysTrue
      else if (isStringLike(dt)) {
        val iL = weakLong(value)
        val dv = weakDouble(value)
        val outOfRange = dv < lit(Long.MinValue.toDouble) || dv > lit(Long.MaxValue.toDouble)
        val rem = dv - bround(dv / lit(d.toDouble)) * lit(d.toDouble)
        val fromD = when(outOfRange, abs(rem) <= lit(2.220446049250313e-16))
          .otherwise(dv.cast(LongType) === 0 || dv.cast(LongType) % lit(d) === 0)
        val ok = value.isNull ||
          when(iL.isNotNull, iL === 0 || iL % lit(d) === 0)
            .when(dv.isNotNull, fromD)
            .otherwise(lit(true))
        leaf(b(ok), ptr, lit(Messages.multipleOfInt(d)), "multipleOf")
      } else {
        val ok: Column =
          if (isIntegral(dt)) value === 0 || value % lit(d) === 0
          else {
            // Double target, integer divisor (validation_visitor.hpp:934-984):
            // out-of-int64-range doubles via IEEE remainder, in-range via
            // C++-style truncating cast then integer modulo.
            val dv = value.cast(DoubleType)
            val outOfRange = dv < lit(Long.MinValue.toDouble) || dv > lit(Long.MaxValue.toDouble)
            val rem = dv - bround(dv / lit(d.toDouble)) * lit(d.toDouble) // IEEE remainder: round-half-even quotient
            val i = dv.cast(LongType)
            when(outOfRange, abs(rem) <= lit(2.220446049250313e-16))
              .otherwise(i === 0 || i % lit(d) === 0)
          }
        leaf(b(value.isNull || ok), ptr, lit(Messages.multipleOfInt(d)), "multipleOf")
      }

    case MultipleOfDoubleC(d) =>
      // maybe-conversions regardless of strictness (VV:863-925): numeric
      // strings are checked; unparseable strings pass (try_cast → NULL).
      val target =
        if (isNumeric(dt)) Some(value.cast(DoubleType))
        else if (isStringLike(dt)) Some(weakDouble(value))
        else None
      if (target.isEmpty) alwaysTrue
      else if (d == 0.0) leaf(b(value.isNull || target.get.isNull || target.get === 0.0), ptr,
                              lit(Messages.multipleOfDouble(d)), "multipleOf")
      else {
        // Relative-epsilon tolerance, ported exactly from
        // validation_visitor.hpp:898-925.
        val x = target.get
        val q = x / lit(d)
        val finite = !isnan(q) && abs(q) <= lit(Double.MaxValue)
        val rounded = round(q, 0) // HALF_UP = away-from-zero, same as std::round
        val diff = abs(q - rounded)
        val tol = greatest(abs(q), lit(1.0)) * lit(2.220446049250313e-16)
        val ok = value.isNull || x.isNull || x === 0.0 || (finite && diff <= tol)
        leaf(b(ok), ptr, lit(Messages.multipleOfDouble(d)), "multipleOf")
      }

    case PatternC(p) =>
      stringTarget(value, dt, opts) match {
        case None    => alwaysTrue
        case Some(s) => leaf(b(value.isNull || regexSearch(s, p, opts)), ptr,
          lit(Messages.patternNoMatch), "pattern")
      }

    case MinLengthC(n) =>
      // Spark length() counts Unicode code points — same as u8_strlen
      // (utils/utf8_utils.hpp:25-55).
      stringTarget(value, dt, opts) match {
        case None    => alwaysTrue
        case Some(s) => leaf(b(value.isNull || length(s) >= lit(n)), ptr, lit(Messages.minLength(n)), "minLength")
      }

    case MaxLengthC(n) =>
      stringTarget(value, dt, opts) match {
        case None    => alwaysTrue
        case Some(s) => leaf(b(value.isNull || length(s) <= lit(n)), ptr, lit(Messages.maxLength(n)), "maxLength")
      }

    case FormatC(fmt) => compileFormat(fmt, value, dt, ptr, opts)

    // ---- §2.2 object ------------------------------------------------------

    case RequiredC(props) => dt match {
      case st: StructType =>
        combine(props.map { p =>
          val present = if (st.fieldNames.contains(p)) value.getField(p).isNotNull else lit(false)
          leaf(present, ptr, lit(Messages.missingRequired(p)), "required")
        })
      case MapType(_, _, _) =>
        combine(props.map { p =>
          leaf(b(value.isNull || map_contains_key(value, p)), ptr, lit(Messages.missingRequired(p)), "required")
        })
      case _ => alwaysTrue // non-objects pass
    }

    case pc: PropertiesC => compileProperties(pc, value, dt, ptr, opts)

    case MinPropertiesC(n) => objectSize(value, dt) match {
      case Some(sz) => leaf(b(value.isNull || sz >= lit(n)), ptr, lit(Messages.minProperties(n)), "minProperties")
      case None     => alwaysTrue
    }
    case MaxPropertiesC(n) => objectSize(value, dt) match {
      case Some(sz) => leaf(b(value.isNull || sz <= lit(n)), ptr, lit(Messages.maxProperties(n)), "maxProperties")
      case None     => alwaysTrue
    }

    case PropertyNamesC(s) => dt match {
      case st: StructType =>
        // Closed object: key set is static — evaluate each field name as a
        // string value at plan time (the reference routes names through
        // StdStringAdapter with a null results sink,
        // validation_visitor.hpp:1213-1230): the name's own errors are
        // suppressed and each failing present key gets one wrapper, as on
        // the native path — so a `false` subschema, which has no error of
        // its own, still reports.
        combine(st.fieldNames.toSeq.map { name =>
          val c = compile(s, lit(name), StringType, ptr, opts)
          leaf(b(value.isNull || value.getField(name).isNull || c.pass), ptr,
            lit("Failed to validate against 'propertyNames' constraint."), "propertyNames")
        })
      case MapType(_, _, _) =>
        // fail-fast pass; on failure one wrapper per failing key, as above
        def keyOk(k: Column): Column = compile(s, k, StringType, ptr, opts).pass
        val ok = b(value.isNull || forall(map_keys(value), keyOk))
        val wrappers = transform(filter(map_keys(value), k => !b(keyOk(k))), _ =>
          struct(ptr.as("json_pointer"),
            lit("Failed to validate against 'propertyNames' constraint.").as("description"),
            lit("propertyNames").as("kind")))
        Compiled(ok, when(ok, emptyViols).otherwise(wrappers.cast(violationArrayType)))
      case _ => alwaysTrue
    }

    case DependenciesC(propDeps, schemaDeps) => dt match {
      case st: StructType =>
        def present(p: String): Column =
          if (st.fieldNames.contains(p)) value.getField(p).isNotNull else lit(false)
        val pd = propDeps.flatMap { case (p, deps) =>
          deps.map { q =>
            leaf(b(!present(p) || present(q)), ptr, lit(Messages.missingDependency(q)), "dependencies")
          }
        }
        val sd = schemaDeps.map { case (p, s) =>
          val c = compile(s, value, dt, ptr, opts)
          Compiled(!present(p) || c.pass,
            when(present(p) && !c.pass,
                 concat(c.violations, viol(ptr, lit(Messages.dependentSchemaFail), "dependencies")))
              .otherwise(emptyViols))
        }
        combine(pd ++ sd)
      case MapType(_, _, _) =>
        def present(p: String): Column = b(map_contains_key(value, p))
        val pd = propDeps.flatMap { case (p, deps) =>
          deps.map { q =>
            leaf(b(value.isNull || !present(p) || present(q)), ptr,
                 lit(Messages.missingDependency(q)), "dependencies")
          }
        }
        val sd = schemaDeps.map { case (p, s) =>
          val c = compile(s, value, dt, ptr, opts)
          Compiled(b(value.isNull || !present(p) || c.pass),
            when(value.isNotNull && present(p) && !c.pass,
                 concat(c.violations, viol(ptr, lit(Messages.dependentSchemaFail), "dependencies")))
              .otherwise(emptyViols))
        }
        combine(pd ++ sd)
      case _ => alwaysTrue
    }

    // ---- §2.3 arrays --------------------------------------------------------

    case ItemsC(s) => dt match {
      case ArrayType(et, _) =>
        // items (singular): child visitor per element with extended path;
        // wrapper "Failed to validate item #N in array." at the PARENT path
        // (validation_visitor.hpp:1288-1301).
        val itemViols = flatten(transform(value, (x, i) => {
          val childPtr = concat(ptr, lit("/"), i.cast(StringType))
          val ch = compile(s, x, et, childPtr, opts)
          when(ch.pass, emptyViols).otherwise(concat(ch.violations,
            viol(ptr, concat(lit("Failed to validate item #"), i.cast(StringType), lit(" in array.")), "items")))
        }))
        val ok = value.isNull || forall(value, x => b(compile(s, x, et, ptr, opts).pass))
        Compiled(b(ok), when(value.isNull, emptyViols).otherwise(itemViols))
      case _ => alwaysTrue
    }

    case TupleItemsC(items, additional) => dt match {
      case ArrayType(et, _) =>
        // LinearItemsConstraint (validation_visitor.hpp:531-621).
        val n = items.length
        // "Array contains more items than allowed by items constraint." fires
        // FIRST when there is no additionalItems subschema AND there are item
        // subschemas (VV:554-562).
        val overflowC: Compiled = additional match {
          case None if items.nonEmpty =>
            leaf(b(value.isNull || size(value) <= lit(n)), ptr, lit(Messages.tooManyItems), "items")
          case _ => alwaysTrue
        }
        // "Cannot validate item #N or greater…" fires LAST for the uncovered
        // tail (VV:609-614); N = number of item subschemas (static here).
        val cannotValidateC: Compiled = additional match {
          case None =>
            leaf(b(value.isNull || size(value) <= lit(n)), ptr,
              lit(Messages.cannotValidateItem(n)), "items")
          case Some(_) => alwaysTrue
        }
        val perItem = flatten(transform(value, (x, i) => {
          val childPtr = concat(ptr, lit("/"), i.cast(StringType))
          val branches = items.zipWithIndex.map { case (s, idx) =>
            val ch = compile(s, x, et, childPtr, opts)
            (lit(idx) === i, when(ch.pass, emptyViols).otherwise(concat(ch.violations,
              viol(childPtr, concat(lit("Failed to validate item #"), i.cast(StringType),
                lit(" against corresponding item schema.")), "items"))))
          }
          val extra: Column = additional match {
            case Some(s) =>
              val ch = compile(s, x, et, childPtr, opts)
              when(ch.pass, emptyViols).otherwise(concat(ch.violations,
                viol(ptr, concat(lit("Failed to validate item #"), i.cast(StringType),
                  lit(" against additional items schema.")), "items")))
            case None => emptyViols
          }
          branches.foldRight(extra) { case ((cond, v), rest) => when(cond, v).otherwise(rest) }
        }))
        val itemPassFlags = transform(value, (x, i) => {
          val branches = items.zipWithIndex.map { case (s, idx) =>
            (lit(idx) === i, b(compile(s, x, et, ptr, opts).pass))
          }
          val extra: Column = additional match {
            case Some(s) => b(compile(s, x, et, ptr, opts).pass)
            case None    => lit(true) // overflow handled by overflowC
          }
          branches.foldRight(extra) { case ((cond, v), rest) => when(cond, v).otherwise(rest) }
        })
        val itemPass = forall(itemPassFlags, p => p)
        val inner = Compiled(b(value.isNull || itemPass),
                             when(value.isNull, emptyViols).otherwise(perItem))
        combine(Seq(overflowC, inner, cannotValidateC))
      case _ => alwaysTrue
    }

    case MinItemsC(n) => dt match {
      case _: ArrayType => leaf(b(value.isNull || size(value) >= lit(n)), ptr, lit(Messages.minItems(n)), "minItems")
      case _            => alwaysTrue
    }
    case MaxItemsC(n) => dt match {
      case _: ArrayType => leaf(b(value.isNull || size(value) <= lit(n)), ptr, lit(Messages.maxItems(n)), "maxItems")
      case _            => alwaysTrue
    }

    case UniqueItemsC => dt match {
      case ArrayType(et, _) =>
        // Pairwise deep-equality (validation_visitor.hpp:1362-1399) — O(n²)
        // like the reference, but only within one row's array. Equality is
        // the reference's strict equalTo: numbers in DOUBLE space at every
        // level (basic_adapter.hpp:515-516,633-651) — variant elements via
        // the native VariantEqExpr, typed elements via a doubleSpace cast.
        val cmp = if (et == VariantType || doubleSpace(et) == et) value
                  else value.cast(doubleSpace(dt))
        def deepEq(x: Column, y: Column): Column =
          if (et == VariantType) graft.functions.VariantEqExpr.variantEq(x, y)
          else x <=> y
        val pairViols = flatten(transform(cmp, (x, i) =>
          filter(transform(cmp, (y, j) =>
            when(j > i && deepEq(x, y),
              struct(ptr.as("json_pointer"),
                concat(lit("Elements at indexes #"), i.cast(StringType), lit(" and #"),
                  j.cast(StringType), lit(" violate uniqueness constraint.")).as("description"),
                lit("uniqueItems").as("kind"))).otherwise(lit(null).cast(violationStructType))),
            v => v.isNotNull)))
        // ok comes from the SAME pairwise equality on every path —
        // array_distinct hashes raw double bits, so it calls 0.0 and -0.0
        // distinct while <=> (like the reference's equalTo) calls them equal
        val ok = value.isNull || size(pairViols) === 0
        Compiled(b(ok), when(value.isNull, emptyViols).otherwise(pairViols.cast(violationArrayType)))
      case _ => alwaysTrue
    }

    case ContainsC(s) => dt match {
      case ArrayType(et, _) =>
        val ok = value.isNull || exists(value, x => b(compile(s, x, et, ptr, opts).pass))
        leaf(b(ok), ptr, lit(Messages.containsFail), "contains")
      case _ => alwaysTrue
    }

    // ---- §2.4 combinators ---------------------------------------------------

    case AllOfC(schemas) =>
      combine(schemas.zipWithIndex.map { case (s, i) =>
        val ch = compile(s, value, dt, ptr, opts)
        Compiled(ch.pass, when(ch.pass, emptyViols).otherwise(
          concat(ch.violations, viol(ptr, lit(Messages.allOfChildFail(i)), "allOf"))))
      })

    case AnyOfC(schemas) =>
      val children = schemas.map(s => compile(s, value, dt, ptr, opts))
      val pass = children.map(_.pass).reduceOption(_ || _).getOrElse(lit(false))
      Compiled(b(pass), when(b(pass), emptyViols).otherwise(
        concat(children.map(_.violations) :+ viol(ptr, lit(Messages.anyOfFail), "anyOf"): _*)))

    case OneOfC(schemas) =>
      val children = schemas.map(s => compile(s, value, dt, ptr, opts))
      val numValid = children.map(c => b(c.pass).cast(IntegerType)).reduceOption(_ + _).getOrElse(lit(0))
      val pass = numValid === 1
      val noneViols = concat(children.map(_.violations) :+ viol(ptr, lit(Messages.oneOfNone), "oneOf"): _*)
      Compiled(pass, when(pass, emptyViols)
        .when(numValid === 0, noneViols)
        .otherwise(viol(ptr, lit(Messages.oneOfTooMany), "oneOf")))

    case NotC(s) =>
      val ch = compile(s, value, dt, ptr, opts)
      leaf(!b(ch.pass), ptr, lit(Messages.notFail), "not")

    case CondC(ifS, thenS, elseS) =>
      val ifPass = b(compile(ifS, value, dt, ptr, opts).pass)
      val thenC = thenS.map(compile(_, value, dt, ptr, opts)).getOrElse(alwaysTrue)
      val elseC = elseS.map(compile(_, value, dt, ptr, opts)).getOrElse(alwaysTrue)
      val pass = when(ifPass, thenC.pass).otherwise(elseC.pass)
      val branchViols = when(ifPass, thenC.violations).otherwise(elseC.violations)
      Compiled(b(pass), when(b(pass), emptyViols).otherwise(
        concat(branchViols, viol(ptr, lit(Messages.conditionalFail), "conditional"))))

    case CustomC(name, pred, message, _) =>
      leaf(b(value.isNull || pred(value)), ptr, lit(message), s"custom:$name")
  }

  // ---------------------------------------------------------------------
  // Dynamic JSON documents (Spark VariantType) — the fully-dynamic path:
  // arbitrary JSON values validated with the same spec, type dispatch done
  // per row via schema_of_variant, containers recursing through
  // map<string,variant> / array<variant> casts into the typed machinery.
  // This is the closest analog of the reference's adapter interface
  // (internal/adapter.hpp:22-457) — one "parser adapter", Spark's variant.
  // ---------------------------------------------------------------------

  private val mapOfVariant = MapType(StringType, VariantType)
  private val arrOfVariant = ArrayType(VariantType)

  /** Typed empty containers for the weak-mode aliases (built through a JSON
    * parse so no NullType→Variant cast is needed). */
  private def emptyVariantArr: Column = try_parse_json(lit("[]")).try_cast("array<variant>")
  private def emptyVariantMap: Column = try_parse_json(lit("{}")).try_cast("map<string,variant>")

  /** Weak deep equality of a variant value against a schema-side constant
    * (equalTo with strict=false, basic_adapter.hpp:509-547) — mirrors
    * [[graft.functions.ValidateVariant]].weakEq branch for branch, with the
    * constant side folded at compile time. The DOCUMENT side's type picks
    * the branch, exactly like the reference's maybe-dispatch order:
    * null/empty-string → boolish → double-parseable → stringish (incl.
    * empty containers) → array → object. */
  /** Strict variant equality against a frozen constant — element-wise
    * recursion with numbers compared as DOUBLES at every level (the
    * reference's equalTo goes through getNumber, basic_adapter.hpp:516,
    * 633-651), so `[7]` equals `[7.0]` and int64s collapse beyond 2^53. */
  private def strictEqCol(v: Column, jv: JsonValue): Column = {
    val sch = schema_of_variant(v)
    jv match {
      case JNullV      => is_variant_null(v)
      case JBoolV(x)   => sch === "BOOLEAN" && v.try_cast("boolean") === x
      case JLongV(l)   => (sch.isin("TINYINT", "SMALLINT", "INT", "BIGINT") ||
        sch.startsWith("DECIMAL") || sch.isin("DOUBLE", "FLOAT")) &&
        v.try_cast("double") === lit(l.toDouble)
      case JDoubleV(d) => (sch.isin("TINYINT", "SMALLINT", "INT", "BIGINT") ||
        sch.startsWith("DECIMAL") || sch.isin("DOUBLE", "FLOAT")) &&
        v.try_cast("double") === lit(d)
      case JStringV(s) => sch === "STRING" && v.try_cast("string") === s
      case JArrayV(xs) =>
        val arr = v.try_cast("array<variant>")
        sch.startsWith("ARRAY") && b(size(arr) === xs.length) &&
          xs.zipWithIndex.map { case (x, i) => b(strictEqCol(get(arr, lit(i)), x)) }
            .foldLeft(lit(true))(_ && _)
      case JObjectV(fs) =>
        val m = v.try_cast("map<string,variant>")
        sch.startsWith("OBJECT") && b(size(m) === fs.size) &&
          fs.toSeq.map { case (k, x) =>
            b(try_element_at(m, lit(k)).isNotNull) &&
              b(strictEqCol(try_element_at(m, lit(k)), x))
          }.foldLeft(lit(true))(_ && _)
    }
  }

  private def weakEqCol(v: Column, jv: JsonValue): Column = {
    val sch   = schema_of_variant(v)
    val vStr  = sch === "STRING"
    val vBool = sch === "BOOLEAN"
    val vLong = sch.isin("TINYINT", "SMALLINT", "INT", "BIGINT")
    val vFrac = sch.startsWith("DECIMAL") || sch.isin("DOUBLE", "FLOAT")
    val vNum  = vLong || vFrac
    val vNull = is_variant_null(v)
    val vArr  = sch.startsWith("ARRAY")
    val vObj  = sch.startsWith("OBJECT")
    val asS   = v.try_cast("string")
    val asD   = v.try_cast("double")
    val asArr = v.try_cast("array<variant>")
    val asMap = v.try_cast("map<string,variant>")

    val jvNullish = jv == JNullV || jv == JStringV("")
    val jvBool: Option[Boolean] = jv match {
      case JBoolV(x)         => Some(x)
      case JStringV("true")  => Some(true)
      case JStringV("false") => Some(false)
      case _                 => None
    }
    val jvDouble: Option[Double] = jv match {
      case JLongV(l)   => Some(l.toDouble)
      case JDoubleV(d) => Some(d)
      case JStringV(s) => Option(graft.functions.WeakNum.parseDouble(s)).map(_.doubleValue())
      case _           => None
    }
    val jvString: Option[String] = jv match {
      case JStringV(s)                => Some(s)
      case JBoolV(x)                  => Some(if (x) "true" else "false")
      case JLongV(l)                  => Some(l.toString)
      case JDoubleV(d)                => Some(Messages.cppDouble(d))
      case JArrayV(xs) if xs.isEmpty  => Some("")
      case JObjectV(fs) if fs.isEmpty => Some("")
      case _                          => None
    }

    val docNum = when(vNum, asD).when(vStr, weakDouble(asS))
    val docStr = when(vStr, asS)
      .when(vBool, when(v.try_cast("boolean"), "true").otherwise("false"))
      .when(vLong, v.try_cast("bigint").cast(StringType))
      .when(vFrac, format_string("%.6f", asD))
      .otherwise(lit("")) // empty containers (guarded by the branch condition)
    def cmp(o: Option[Column]): Column = o.map(b).getOrElse(lit(false))

    when(vNull || (vStr && asS === ""), lit(jvNullish))
      .when(vBool || (vStr && asS.isin("true", "false")),
        cmp(jvBool.map(x =>
          when(vBool, v.try_cast("boolean")).otherwise(asS === "true") === lit(x))))
      .when(docNum.isNotNull, cmp(jvDouble.map(d => docNum === lit(d))))
      .when(vStr || (vArr && size(asArr) === 0) || (vObj && size(asMap) === 0),
        cmp(jvString.map(s => docStr === lit(s))))
      .when(vArr, jv match {
        case JArrayV(xs) =>
          b(size(asArr) === xs.length) &&
            xs.zipWithIndex.map { case (x, i) => b(weakEqCol(get(asArr, lit(i)), x)) }
              .foldLeft(lit(true))(_ && _)
        case _ => lit(false) // nonempty array vs non-array constant
      })
      .when(vObj, jv match {
        case JObjectV(fs) =>
          b(size(asMap) === fs.size) &&
            fs.toSeq.map { case (k, x) =>
              b(try_element_at(asMap, lit(k)).isNotNull) &&
                b(weakEqCol(try_element_at(asMap, lit(k)), x))
            }.foldLeft(lit(true))(_ && _)
        case _ => lit(false)
      })
      .otherwise(lit(false))
  }

  private def compileVariantConstraint(c: Constraint, v: Column, ptr: Column,
                                       opts: CompileOptions): Compiled = {
    val sch = schema_of_variant(v)
    def vStr  = sch === "STRING"
    def vBool = sch === "BOOLEAN"
    def vLong = sch.isin("TINYINT", "SMALLINT", "INT", "BIGINT")
    def vFrac = sch.startsWith("DECIMAL") || sch.isin("DOUBLE", "FLOAT")
    def vNum  = vLong || vFrac
    def vNull = is_variant_null(v)
    def vArr  = sch.startsWith("ARRAY")
    def vObj  = sch.startsWith("OBJECT")
    def asD   = v.try_cast("double")
    def asS   = v.try_cast("string")
    def asArr = v.try_cast("array<variant>")
    def asMap = v.try_cast("map<string,variant>")
    val weak  = !opts.strictTypes

    /** Numeric view for bounds/multipleOf: numbers always; in weak mode
      * also double-parseable strings (maybeDouble). NULL = not applicable. */
    def numV: Column =
      if (weak) when(vNum, asD).when(vStr, weakDouble(asS)) else when(vNum, asD)
    /** String view for length/pattern: strings always; in weak mode the
      * asString renderings (std::to_string semantics) of bools/numbers and
      * "" for empty containers (basic_adapter.hpp:467-507). */
    def strV: Column =
      if (!weak) when(vStr, asS)
      else when(vStr, asS)
        .when(vBool, when(v.try_cast("boolean"), "true").otherwise("false"))
        .when(vLong, v.try_cast("bigint").cast(StringType))
        .when(vFrac, format_string("%.6f", asD))
        .when((vArr && size(asArr) === 0) || (vObj && size(asMap) === 0), lit(""))

    /** Apply `inner` only when `applicable`; other types pass (the
      * reference's type-applicability rule). NULL variant = absent. */
    def guarded(applicable: Column, inner: Compiled): Compiled =
      Compiled(b(v.isNull || !b(applicable) || inner.pass),
        when(v.isNull || !b(applicable), emptyViols).otherwise(inner.violations))

    def constEq(jv: JsonValue): Column =
      if (weak) weakEqCol(v, jv) else strictEqCol(v, jv)

    c match {
      case TypeC(types, schemas) =>
        // weak mode widens only bool/integer/null/number (VV:1654-1681)
        val named: Seq[Column] = types.toSeq.map {
          case JsonType.JAny     => lit(true)
          case JsonType.JString  => vStr
          case JsonType.JBoolean => vBool ||
            (lit(weak) && vStr && asS.isin("true", "false"))
          case JsonType.JInteger => vLong || (vFrac && asD === floor(asD) &&
            asD >= lit(Long.MinValue.toDouble) && asD <= lit(Long.MaxValue.toDouble)) ||
            (lit(weak) && vStr && weakLong(asS).isNotNull)
          case JsonType.JNumber  => vNum ||
            (lit(weak) && vStr && weakDouble(asS).isNotNull)
          case JsonType.JNull    => vNull || (lit(weak) && vStr && asS === "")
          case JsonType.JArray   => vArr
          case JsonType.JObject  => vObj
        }
        val schemaOk = schemas.map(s => compile(s, v, VariantType, ptr, opts).pass)
        val ok = (named ++ schemaOk).foldLeft(lit(false))(_ || b(_))
        leaf(b(v.isNull || ok), ptr, lit(Messages.typeNotPermitted), "type")

      case EnumC(values) =>
        val ok = values.map(constEq).foldLeft(lit(false))(_ || b(_))
        leaf(b(v.isNull || ok), ptr, lit(Messages.enumNoMatch), "enum")

      case ConstC(jv) =>
        leaf(b(v.isNull || constEq(jv)), ptr, lit(Messages.constNoMatch), "const")

      case MinimumC(m, excl) =>
        val nv = numV
        val cmp = if (excl) nv > lit(m) else nv >= lit(m)
        leaf(b(v.isNull || nv.isNull || cmp), ptr,
          lit(if (excl) Messages.minimumExcl(m) else Messages.minimumIncl(m)), "minimum")

      case MaximumC(m, excl) =>
        val nv = numV
        val cmp = if (excl) nv < lit(m) else nv <= lit(m)
        leaf(b(v.isNull || nv.isNull || cmp), ptr,
          lit(if (excl) Messages.maximumExcl(m) else Messages.maximumIncl(m)), "maximum")

      case MultipleOfIntC(d) =>
        // maybe-conversions regardless of strictness (VV:934-984): numeric
        // strings are checked through the same integer/double dispatch.
        val i = v.try_cast("bigint")
        val intOk = i === 0 || i % lit(d) === 0
        def fracOkOf(dv: Column): Column = {
          val outOfRange = dv < lit(Long.MinValue.toDouble) || dv > lit(Long.MaxValue.toDouble)
          val rem = dv - bround(dv / lit(d.toDouble)) * lit(d.toDouble)
          when(outOfRange, abs(rem) <= lit(2.220446049250313e-16))
            .otherwise(dv.try_cast("bigint") === 0 || dv.try_cast("bigint") % lit(d) === 0)
        }
        val sL = weakLong(asS)
        val sD = weakDouble(asS)
        val strOk = when(sL.isNotNull, sL === 0 || sL % lit(d) === 0)
          .when(sD.isNotNull, fracOkOf(sD))
          .otherwise(lit(true))
        leaf(b(v.isNull || when(vLong, intOk).when(vFrac, fracOkOf(asD))
            .when(vStr, strOk).otherwise(lit(true))),
          ptr, lit(Messages.multipleOfInt(d)), "multipleOf")

      case MultipleOfDoubleC(d) =>
        val dv = when(vNum, asD).when(vStr, weakDouble(asS))
        if (d == 0.0) leaf(b(v.isNull || dv.isNull || dv === 0.0), ptr,
          lit(Messages.multipleOfDouble(d)), "multipleOf")
        else {
          val q = dv / lit(d)
          val finite = !isnan(q) && abs(q) <= lit(Double.MaxValue)
          val diff = abs(q - round(q, 0))
          val tol = greatest(abs(q), lit(1.0)) * lit(2.220446049250313e-16)
          leaf(b(v.isNull || dv.isNull || dv === 0.0 || (finite && diff <= tol)), ptr,
            lit(Messages.multipleOfDouble(d)), "multipleOf")
        }

      case PatternC(p) =>
        val sv = strV
        leaf(b(v.isNull || sv.isNull || regexSearch(sv, p, opts)), ptr,
          lit(Messages.patternNoMatch), "pattern")
      case MinLengthC(n) =>
        val sv = strV
        leaf(b(v.isNull || sv.isNull || length(sv) >= lit(n)), ptr, lit(Messages.minLength(n)), "minLength")
      case MaxLengthC(n) =>
        val sv = strV
        leaf(b(v.isNull || sv.isNull || length(sv) <= lit(n)), ptr, lit(Messages.maxLength(n)), "maxLength")
      case FormatC(fmt) =>
        guarded(vStr, compileFormat(fmt, asS, StringType, ptr, opts))

      // objects: recurse through map<string,variant>. Weak mode admits the
      // empty-array alias (maybeObject, basic_adapter.hpp:762-880): the
      // constraint then sees an EMPTY object, not an absent value.
      case _: RequiredC | _: PropertiesC | _: MinPropertiesC | _: MaxPropertiesC |
           _: PropertyNamesC | _: DependenciesC =>
        val applicable = if (weak) vObj || (vArr && size(asArr) === 0) else vObj
        val view = if (weak) when(vObj, asMap).otherwise(emptyVariantMap) else asMap
        guarded(applicable, compileTypedConstraint(c, view, mapOfVariant, ptr, opts))

      // arrays: recurse through array<variant> (weak: empty-object alias)
      case _: ItemsC | _: TupleItemsC | _: MinItemsC | _: MaxItemsC |
           UniqueItemsC | _: ContainsC =>
        val applicable = if (weak) vArr || (vObj && size(asMap) === 0) else vArr
        val view = if (weak) when(vArr, asArr).otherwise(emptyVariantArr) else asArr
        guarded(applicable, compileTypedConstraint(c, view, arrOfVariant, ptr, opts))

      // combinators + custom recurse with VariantType unchanged
      case _ => compileTypedConstraint(c, v, VariantType, ptr, opts)
    }
  }

  // ---------------------------------------------------------------------
  // weak-typing targets (kWeakTypes, basic_adapter.hpp:335-547)
  // ---------------------------------------------------------------------

  /** The numeric view of a value for bounds/multipleOf checks. Strict:
    * numeric columns only. Weak: strings too, via try_cast (parse failure
    * = constraint passes, mirroring `!maybeDouble -> return true`,
    * validation_visitor.hpp:632,749). */
  private def numericTarget(value: Column, dt: DataType, opts: CompileOptions): Option[Column] =
    if (isNumeric(dt)) Some(value.cast(DoubleType))
    else if (!opts.strictTypes && isStringLike(dt)) Some(weakDouble(value))
    else None

  // weak-mode numeric-string parses, identical across ALL paths (see
  // graft.functions.WeakNum — try_cast would trim whitespace / accept
  // Infinity & NaN and diverge from the native walker)
  private def weakDouble(s: Column): Column = graft.functions.WeakNum2Col.double(s)
  private def weakLong(s: Column): Column = graft.functions.WeakNum2Col.long(s)

  /** Unanchored regex search: the codegen'd built-in `rlike` for the
    * default JDK engine, or a [[graft.functions.RegexSearchExpr]] wrapping
    * the configured engine (e.g. the linear-time Thompson NFA) otherwise. */
  private def regexSearch(s: Column, pat: String, opts: CompileOptions): Column = {
    // fail fast on the driver: an invalid pattern aborts compilation here
    // instead of throwing per-task inside rlike / the engine at runtime
    opts.regexEngine.compile(pat)
    if (opts.regexEngine eq graft.functions.JavaRegexEngine) s.rlike(pat)
    else org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.RegexSearchExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(s), pat, opts.regexEngine))
  }

  /** The string view of a value for length/pattern checks. Weak mode
    * renders bools as true/false and numbers via C++ std::to_string
    * (asString, basic_adapter.hpp:467-507: doubles get 6 fixed decimals). */
  private def stringTarget(value: Column, dt: DataType, opts: CompileOptions): Option[Column] =
    if (isStringLike(dt)) Some(value)
    else if (opts.strictTypes) None
    else dt match {
      case BooleanType => Some(when(value, "true").otherwise("false"))
      case t if isIntegral(t) => Some(value.cast(StringType))
      case DoubleType | FloatType => Some(format_string("%.6f", value.cast(DoubleType)))
      case _: DecimalType => Some(value.cast(StringType))
      case _ => None
    }

  // ---------------------------------------------------------------------
  // properties / patternProperties / additionalProperties
  // ---------------------------------------------------------------------

  private def compileProperties(pc: PropertiesC, value: Column, dt: DataType,
                                ptr: Column, opts: CompileOptions): Compiled = dt match {
    case st: StructType =>
      val fieldNames = st.fieldNames.toSeq
      val named = pc.properties.filter { case (n, _) => fieldNames.contains(n) }
      val namedChecks = named.map { case (n, s) =>
        val f = st(st.fieldIndex(n))
        val childPtr = concat(ptr, lit("/" + Messages.escapePointerSegment(n)))
        val ch = compileAtProperty(s, value.getField(n), f.dataType, childPtr, opts)
        Compiled(ch.pass, when(ch.pass, emptyViols).otherwise(
          concat(ch.violations, viol(ptr, lit(Messages.propertySchemaFail(n)), "properties"))))
      }
      // patternProperties: static key set ⇒ match patterns against field
      // names on the driver (regex *search* semantics, like the reference).
      val patChecks = pc.patternProperties.flatMap { case (pat, s) =>
        val re = java.util.regex.Pattern.compile(pat)
        fieldNames.filter(n => re.matcher(n).find()).map { n =>
          val f = st(st.fieldIndex(n))
          val childPtr = concat(ptr, lit("/" + Messages.escapePointerSegment(n)))
          val ch = compileAtProperty(s, value.getField(n), f.dataType, childPtr, opts)
          Compiled(ch.pass, when(ch.pass, emptyViols).otherwise(
            concat(ch.violations, viol(ptr, lit(Messages.patternPropertySchemaFail(pat)), "patternProperties"))))
        }
      }
      // additionalProperties over leftover (present) fields. None = boolean
      // false schema ⇒ any present unmatched property is rejected with the
      // reference's "Object contains a property…" message (VV:1160-1177).
      val matchedNames = (named.map(_._1) ++ pc.patternProperties.flatMap { case (pat, _) =>
        val re = java.util.regex.Pattern.compile(pat)
        fieldNames.filter(n => re.matcher(n).find())
      }).toSet
      val leftover = fieldNames.filterNot(matchedNames)
      val addChecks = pc.additional match {
        case Some(TrueSchema) => Nil
        case Some(s) => leftover.map { n =>
          val f = st(st.fieldIndex(n))
          val childPtr = concat(ptr, lit("/" + Messages.escapePointerSegment(n)))
          val ch = compileAtProperty(s, value.getField(n), f.dataType, childPtr, opts)
          Compiled(ch.pass, when(ch.pass, emptyViols).otherwise(
            concat(ch.violations, viol(ptr, lit(Messages.additionalPropertiesSchemaFail), "additionalProperties"))))
        }
        case None => leftover.map { n =>
          leaf(value.getField(n).isNull, ptr, lit(Messages.unexpectedProperty(n)), "additionalProperties")
        }
      }
      combine(namedChecks ++ patChecks ++ addChecks)

    case MapType(_, vdt, _) =>
      // Open object: dynamic keys via higher-order map functions.
      val namedChecks = pc.properties.map { case (n, s) =>
        val childPtr = concat(ptr, lit("/" + Messages.escapePointerSegment(n)))
        val v = element_at(value, n)
        val ch = compile(s, v, vdt, childPtr, opts)
        val guarded = !b(map_contains_key(value, n)) || ch.pass
        Compiled(b(value.isNull || guarded),
          when(value.isNull || !b(map_contains_key(value, n)) || ch.pass, emptyViols)
            .otherwise(concat(ch.violations, viol(ptr, lit(Messages.propertySchemaFail(n)), "properties"))))
      }
      val patChecks = pc.patternProperties.map { case (pat, s) =>
        val ok = value.isNull || forall(map_entries(value), e =>
          !b(regexSearch(e.getField("key"), pat, opts)) ||
            b(compile(s, e.getField("value"), vdt, ptr, opts).pass))
        leaf(b(ok), ptr, lit(Messages.patternPropertySchemaFail(pat)), "patternProperties")
      }
      val namedKeys = pc.properties.map(_._1)
      def isLeftover(k: Column): Column = {
        val notNamed = if (namedKeys.isEmpty) lit(true) else !k.isin(namedKeys: _*)
        val notPattern = pc.patternProperties.map { case (pat, _) => !b(regexSearch(k, pat, opts)) }
          .foldLeft(lit(true))(_ && _)
        notNamed && notPattern
      }
      val addChecks = pc.additional match {
        case Some(TrueSchema) => Nil
        case Some(s) => Seq({
          val ok = value.isNull || forall(map_entries(value), e =>
            !isLeftover(e.getField("key")) ||
              b(compile(s, e.getField("value"), vdt, ptr, opts).pass))
          leaf(b(ok), ptr, lit(Messages.additionalPropertiesSchemaFail), "additionalProperties")
        })
        case None => Seq({
          val firstUnwanted = array_compact(transform(map_entries(value),
            e => when(isLeftover(e.getField("key")), e.getField("key"))))
          val ok = value.isNull || size(firstUnwanted) === 0
          Compiled(b(ok), when(b(ok), emptyViols).otherwise(viol(ptr,
            concat(lit("Object contains a property that could not be validated using 'properties' " +
              "or 'additionalProperties' constraints: '"), element_at(firstUnwanted, 1), lit("'.")),
            "additionalProperties")))
        })
      }
      combine(namedChecks ++ patChecks ++ addChecks)

    case _ => alwaysTrue
  }

  private def objectSize(value: Column, dt: DataType): Option[Column] = dt match {
    case st: StructType =>
      // Closed object: count of present (non-null) fields.
      Some(st.fieldNames.map(n => when(value.getField(n).isNotNull, 1).otherwise(0))
        .reduceOption(_ + _).getOrElse(lit(0)))
    case MapType(_, _, _) => Some(size(value))
    case _                => None
  }

  // ---------------------------------------------------------------------
  // format (RFC3339 incl. Gregorian day-range + leap-second rules,
  // validation_visitor.hpp:388-513, 2024-2080)
  // ---------------------------------------------------------------------

  private val dateRe = "^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])$"
  private def timeRe(strict: Boolean) =
    if (strict) "^([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])|([\\+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$"
    else        "^([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])?|([\\+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$"
  private def dateTimeRe(strict: Boolean) =
    if (strict) "^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])[Tt]([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])|([\\+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$"
    else        "^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])[Tt]([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\\.[0-9]+)?(([Zz])?|([\\+\\-])([01][0-9]|2[0-3]):([0-5][0-9]))$"
  private val ipv4Re = "^(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$"

  /** Gregorian day-in-month check (validate_date_range, VV:2024-2052). */
  private def dateRangeOk(y: Column, m: Column, d: Column): Column = {
    val leap = y % 4 === 0 && (y % 100 =!= 0 || y % 400 === 0)
    val limit = when(m === 2, when(leap, 29).otherwise(28))
      .when(m <= 7, when(m % 2 === 0, 30).otherwise(31))
      .otherwise(when(m % 2 =!= 0, 30).otherwise(31))
    d >= 1 && d <= limit
  }

  /** Leap-second rule (validate_leap_second, VV:2055-2080): :60 only at
    * 23:59 UTC after applying the numeric offset. */
  private def leapSecondOk(h: Column, mi: Column, offsetMin: Column): Column = {
    val localMin = h * 60 + mi
    val utc = ((localMin - offsetMin) % 1440 + 1440) % 1440
    utc === 1439
  }

  private def grp(s: Column, re: String, i: Int): Column =
    nullif(regexp_extract(s, re, i), lit("")).cast(IntegerType) // unmatched group → NULL (ANSI-safe)

  private def offsetMinutes(s: Column, re: String, signG: Int, hG: Int, mG: Int): Column = {
    val sign = when(regexp_extract(s, re, signG) === "-", -1).otherwise(1)
    val oh = coalesce(grp(s, re, hG), lit(0))
    val om = coalesce(grp(s, re, mG), lit(0))
    sign * (oh * 60 + om)
  }

  private def formatMessage(fmt: String): Option[String] = fmt match {
    case "date"      => Some(Messages.badDate)
    case "time"      => Some(Messages.badTime)
    case "date-time" => Some(Messages.badDateTime)
    case "ipv4"      => Some(Messages.badIpv4)
    case _           => None // unknown formats pass (reference behavior)
  }

  /** Default format compilation: the native codegen'd
    * [[graft.functions.FormatCheckExpr]] — one precompiled-regex pass per
    * row instead of the 4-13 regexp_extract calls of the pure-Catalyst
    * formulation (kept below as the cross-checking oracle). */
  private def compileFormat(fmt: String, value: Column, dt: DataType, ptr: Column,
                            opts: CompileOptions): Compiled = {
    // Non-strings pass (VV:405-408). A native timestamp column is by
    // construction a valid RFC3339 instant, so date-time/date/time pass.
    if (dt == TimestampType || dt == DateType || dt == TimestampNTZType) return alwaysTrue
    if (!isStringLike(dt)) return alwaysTrue
    formatMessage(fmt) match {
      case None => alwaysTrue
      case Some(msg) =>
        val ok = value.isNull ||
          graft.functions.FormatCheckExpr.check(value, fmt, opts.strictDateTime)
        leaf(b(ok), ptr, lit(msg), "format")
    }
  }

  /** Pure-Catalyst regex formulation of `format` (the original compile
    * target) — retained as an independent oracle for the native expression
    * (CompilerSpec asserts row-for-row agreement). */
  private[graft] def compileFormatCatalyst(fmt: String, value: Column, dt: DataType,
                                           ptr: Column, opts: CompileOptions): Compiled = {
    if (dt == TimestampType || dt == DateType || dt == TimestampNTZType) return alwaysTrue
    if (!isStringLike(dt)) return alwaysTrue
    val s = value
    fmt match {
      case "date" =>
        val ok = s.isNull || (s.rlike(dateRe) &&
          dateRangeOk(grp(s, dateRe, 1), grp(s, dateRe, 2), grp(s, dateRe, 3)))
        leaf(b(ok), ptr, lit(Messages.badDate), "format")
      case "time" =>
        val re = timeRe(opts.strictDateTime)
        val secOk = grp(s, re, 3) =!= 60 ||
          leapSecondOk(grp(s, re, 1), grp(s, re, 2), offsetMinutes(s, re, 7, 8, 9))
        leaf(b(s.isNull || (s.rlike(re) && secOk)), ptr, lit(Messages.badTime), "format")
      case "date-time" =>
        val re = dateTimeRe(opts.strictDateTime)
        val dOk = dateRangeOk(grp(s, re, 1), grp(s, re, 2), grp(s, re, 3))
        val secOk = grp(s, re, 6) =!= 60 ||
          leapSecondOk(grp(s, re, 4), grp(s, re, 5), offsetMinutes(s, re, 10, 11, 12))
        leaf(b(s.isNull || (s.rlike(re) && dOk && secOk)), ptr, lit(Messages.badDateTime), "format")
      case "ipv4" =>
        leaf(b(s.isNull || s.rlike(ipv4Re)), ptr, lit(Messages.badIpv4), "format")
      case _ => alwaysTrue // unknown formats pass (reference behavior)
    }
  }

  // ---------------------------------------------------------------------
  // enum / const deep equality on typed columns
  // ---------------------------------------------------------------------

  /** Does a JSON-null document value match this constant? Strict: only a
    * null constant. Weak: null and "" are one nullish group
    * (basic_adapter.hpp:511-512). */
  private def nullishMatch(jv: JsonValue, opts: CompileOptions): Boolean =
    jv == JNullV || (!opts.strictTypes && jv == JStringV(""))

  /** Enum/const match honoring the typing mode: strict uses the frozen
    * double-space literals; weak lifts the scalar into a VARIANT (a
    * to_json/parse_json hop) and applies the kWeakTypes equalTo rules
    * (weakEqCol) — bool↔"true", numbers↔numeric strings, ""↔null
    * (basic_adapter.hpp:509-547). Container types never reach here in weak
    * mode (compile() delegates them to the variant compiler wholesale). */
  private def typedEnumMatch(value: Column, dt: DataType, values: Vector[JsonValue],
                             opts: CompileOptions): Column =
    if (opts.strictTypes) enumMatch(value, dt, values)
    else {
      val lifted = element_at(
        parse_json(jsonOf(array(value))).try_cast("array<variant>"), 1)
      values.map(x => b(weakEqCol(lifted, x))).foldLeft(lit(false))(_ || _)
    }

  /** Deep-equality match of a typed column against frozen constants
    * (`basic_adapter.hpp:509-547`). Constants that cannot inhabit the
    * column's type never match. */
  private def enumMatch(value: Column, dt: DataType, values: Vector[JsonValue]): Column = {
    // Numbers compare in DOUBLE space at EVERY nesting level: the
    // reference's strict equality goes through getNumber(), which casts
    // int64 to double (basic_adapter.hpp:516,633-651), so adjacent int64s
    // beyond 2^53 collapse — also inside arrays and objects. Cast the
    // integral parts of the column to double and build the constants in
    // the same double-space type, keeping all three paths in agreement.
    val cmpDt = doubleSpace(dt)
    val v = if (cmpDt == dt) value else value.cast(cmpDt)
    val lits: Vector[Column] = values.flatMap(x => literalFor(x, cmpDt))
    if (lits.isEmpty) lit(false)
    else lits.map(l => v <=> l).reduce(_ || _)
  }

  /** Replace integral types with DoubleType recursively (arrays, structs)
    * so enum/const equality happens in the reference's number space. */
  private def doubleSpace(dt: DataType): DataType = dt match {
    case t if isIntegral(t)   => DoubleType
    case ArrayType(et, n)     => ArrayType(doubleSpace(et), n)
    case st: StructType       =>
      StructType(st.fields.map(f => f.copy(dataType = doubleSpace(f.dataType))))
    case t                    => t
  }

  /** Build a Catalyst literal of `dt` for a frozen JSON constant, if the
    * constant can inhabit that type (FrozenValue analog — a Literal
    * materialized at plan time). */
  private[graft] def literalFor(v: JsonValue, dt: DataType): Option[Column] = (v, dt) match {
    case (JStringV(s), t) if isStringLike(t)          => Some(lit(s))
    // Integral target types never reach here: enumMatch casts them to
    // DoubleType first (doubleSpace), matching getNumber's int64→double
    // collapse (basic_adapter.hpp:515-516,633-651).
    case (JLongV(l), DoubleType | FloatType)          => Some(lit(l.toDouble).cast(dt))
    // Decimal columns: numbers compare as doubles (basic_adapter.hpp:515-516);
    // the <=> against a double literal coerces the decimal side to double.
    case (JLongV(l), _: DecimalType)                  => Some(lit(l.toDouble))
    case (JDoubleV(d), _: DecimalType)                => Some(lit(d))
    case (JDoubleV(d), DoubleType | FloatType)        => Some(lit(d).cast(dt))
    case (JBoolV(x), BooleanType)                     => Some(lit(x))
    case (JNullV, _)                                  => None // NULL handled by <=> against isNull upstream
    case (JArrayV(xs), ArrayType(et, _)) =>
      val elems = xs.map(x => literalFor(x, et))
      if (elems.forall(_.isDefined)) Some(array(elems.flatten: _*).cast(dt)) else None
    case (JObjectV(fields), st: StructType) =>
      val cols = st.fields.toSeq.map { f =>
        fields.get(f.name) match {
          case Some(x) => literalFor(x, f.dataType).map(_.as(f.name))
          case None    => Some(lit(null).cast(f.dataType).as(f.name))
        }
      }
      if (cols.forall(_.isDefined) && fields.keySet.subsetOf(st.fieldNames.toSet))
        Some(struct(cols.flatten: _*)) else None
    case _ => None
  }
}
