package graft.spec

/** Constraint-spec ADT — the driver-side "query plan" of the validation
  * engine.
  *
  * Re-expresses the reference's schema model (valijson:
  * `include/valijson/schema.hpp:17-257`, `subschema.hpp:23-333`,
  * `constraints/concrete_constraints.hpp`) as an immutable Scala ADT that is
  * compiled ONCE on the driver into Catalyst `Column`s and shipped to
  * executors inside the physical plan. There is no per-row interpretation:
  * the whole constraint tree is flattened into a single expression tree at
  * plan time (whole-stage codegen specializes it per schema, the analog of
  * the reference's per-parser template specialization).
  *
  * A [[SchemaSpec]] corresponds to a valijson `Subschema`: an ordered list
  * of constraints (order mirrors the reference parser's insertion order,
  * `schema_parser.hpp:825-1149`, which fixes violation-row ordering) plus
  * the boolean-schema special cases.
  */
sealed trait SchemaSpec {
  def constraints: Seq[Constraint] = Nil
}

object SchemaSpec {

  /** The subschemas a constraint carries, in keyword order. */
  private def subschemas(c: Constraint): Seq[SchemaSpec] = c match {
    case TypeC(_, ss)              => ss
    case PropertiesC(ps, pps, add) => ps.map(_._2) ++ pps.map(_._2) ++ add
    case PropertyNamesC(s)         => Seq(s)
    case DependenciesC(_, sd)      => sd.map(_._2)
    case ItemsC(s)                 => Seq(s)
    case TupleItemsC(is, add)      => is ++ add
    case ContainsC(s)              => Seq(s)
    case AllOfC(ss)                => ss
    case AnyOfC(ss)                => ss
    case OneOfC(ss)                => ss
    case NotC(s)                   => Seq(s)
    case CondC(i, t, e)            => i +: (t.toSeq ++ e)
    case _                         => Nil
  }

  /** Every constraint reachable from `root`, depth first, each constraint
    * before its subschemas. Each schema node is visited once (an identity
    * set), so cyclic graphs knotted through [[RefSchema]] terminate. Lazy:
    * `exists` / `find` stop at the first hit. */
  def reachableConstraints(root: SchemaSpec): Iterator[Constraint] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SchemaSpec, java.lang.Boolean]())
    def walk(s: SchemaSpec): Iterator[Constraint] =
      if (!seen.add(s)) Iterator.empty
      else s match {
        case r: RefSchema => walk(r.target)
        case _ => s.constraints.iterator.flatMap(c =>
          Iterator.single(c) ++ subschemas(c).iterator.flatMap(walk))
      }
    walk(root)
  }
}

/** Boolean schema `true` / empty schema — always valid. */
case object TrueSchema extends SchemaSpec

/** Lazy reference node emitted ONLY for cyclic `$ref` targets — the analog
  * of the reference's registry memoization that makes cycles terminate
  * (`schema_parser.hpp:486-531`): the target is knot-tied after the
  * referenced subschema finishes parsing, producing a finite cyclic object
  * graph. The native walker follows it at evaluation time (documents are
  * finite, so evaluation terminates); the Catalyst compiler rejects it with
  * a clear error (a cycle cannot unroll into a finite expression tree). */
final class RefSchema(val key: String) extends SchemaSpec with Serializable {
  @volatile private[spec] var boundTarget: SchemaSpec = null
  def target: SchemaSpec = {
    val t = boundTarget
    require(t != null, s"unresolved $$ref: $key")
    t
  }
  override def toString: String = s"RefSchema($key)"
}

/** Boolean schema `false` — alwaysInvalid (valijson `subschema.hpp:189-192`,
  * parse at `schema_parser.hpp:785-804`). */
case object FalseSchema extends SchemaSpec

/** A subschema with an ordered constraint list. */
final case class ConstraintSchema(override val constraints: Seq[Constraint],
                                  id: Option[String] = None,
                                  title: Option[String] = None) extends SchemaSpec

/** The 7 JSON types + any (valijson
  * `concrete_constraints.hpp:1170-1179` `TypeConstraint::JsonType`). */
object JsonType extends Enumeration {
  val JAny, JArray, JBoolean, JInteger, JNull, JNumber, JObject, JString = Value
}

/** Frozen schema-side constant (valijson `internal/frozen_value.hpp:22-49`):
  * a parse-time snapshot of an `enum`/`const` value, comparable with the
  * reference's deep-equality rules (`basic_adapter.hpp:509-547`): numbers
  * compare as doubles, arrays element-wise ordered, objects key-wise
  * order-insensitive. */
sealed trait JsonValue
case object JNullV extends JsonValue
final case class JBoolV(v: Boolean) extends JsonValue
final case class JLongV(v: Long) extends JsonValue
final case class JDoubleV(v: Double) extends JsonValue
final case class JStringV(v: String) extends JsonValue
final case class JArrayV(vs: Vector[JsonValue]) extends JsonValue
final case class JObjectV(vs: Map[String, JsonValue]) extends JsonValue

object JsonValue {
  /** Serialize back to JSON text (for canonical comparison of composite
    * frozen constants through Spark's variant encoding). */
  def render(v: JsonValue): String = v match {
    case JNullV       => "null"
    case JBoolV(b)    => if (b) "true" else "false"
    case JLongV(l)    => l.toString
    case JDoubleV(d)  => if (d == Math.floor(d) && !d.isInfinite && math.abs(d) < 1e15)
                           s"${d.toLong}.0" else d.toString
    case JStringV(s)  => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case JArrayV(xs)  => xs.map(render).mkString("[", ",", "]")
    case JObjectV(fs) => fs.toSeq.sortBy(_._1)
      .map { case (k, x) => render(JStringV(k)) + ":" + render(x) }
      .mkString("{", ",", "}")
  }

  /** Deep equality per valijson `basic_adapter.hpp:509-547`: numeric kinds
    * unify through double comparison (515-516); arrays ordered (525-530);
    * objects unordered by key (534-540). */
  def deepEq(a: JsonValue, b: JsonValue): Boolean = (a, b) match {
    case (JNullV, JNullV)             => true
    case (JBoolV(x), JBoolV(y))       => x == y
    case (JLongV(x), JLongV(y))       => x == y
    case (JLongV(x), JDoubleV(y))     => x.toDouble == y
    case (JDoubleV(x), JLongV(y))     => x == y.toDouble
    case (JDoubleV(x), JDoubleV(y))   => x == y
    case (JStringV(x), JStringV(y))   => x == y
    case (JArrayV(x), JArrayV(y))     =>
      x.length == y.length && x.zip(y).forall { case (u, v) => deepEq(u, v) }
    case (JObjectV(x), JObjectV(y))   =>
      x.keySet == y.keySet && x.forall { case (k, v) => deepEq(v, y(k)) }
    case _                            => false
  }
}

/** One constraint node. `kind` is the stable name used in violation rows
  * (mirrors the 29 visitor kinds, `constraints/constraint_visitor.hpp:37-104`). */
sealed trait Constraint { def kind: String }

// ---- Leaf predicates (SURVEY.md §2.1) --------------------------------------

/** `type` — value must be one of the named types, or valid against one of
  * the schema-types (draft3). Integer-double rule: a double with zero
  * fractional part satisfies `integer` (`validation_visitor.hpp:30-48`). */
final case class TypeC(types: Set[JsonType.Value],
                       schemas: Seq[SchemaSpec] = Nil) extends Constraint { val kind = "type" }
final case class EnumC(values: Vector[JsonValue]) extends Constraint { val kind = "enum" }
final case class ConstC(value: JsonValue) extends Constraint { val kind = "const" }
/** minimum / exclusiveMinimum (non-numbers pass; `validation_visitor.hpp:747-773`). */
final case class MinimumC(min: Double, exclusive: Boolean) extends Constraint { val kind = "minimum" }
final case class MaximumC(max: Double, exclusive: Boolean) extends Constraint { val kind = "maximum" }
/** multipleOf with an integer divisor (`concrete_constraints.hpp:805-833`). */
final case class MultipleOfIntC(divisor: Long) extends Constraint { val kind = "multipleOf" }
/** multipleOf with a double divisor — relative-epsilon tolerance
  * (`validation_visitor.hpp:898-925`). */
final case class MultipleOfDoubleC(divisor: Double) extends Constraint { val kind = "multipleOf" }
/** ECMA regex *search* (unanchored), `validation_visitor.hpp:1064-1085`. */
final case class PatternC(pattern: String) extends Constraint { val kind = "pattern" }
/** UTF-8 code-point length bounds (`utils/utf8_utils.hpp:25-55`). */
final case class MinLengthC(n: Long) extends Constraint { val kind = "minLength" }
final case class MaxLengthC(n: Long) extends Constraint { val kind = "maxLength" }
/** `format`: date | time | date-time | ipv4 implemented with full RFC3339
  * day-range + leap-second rules (`validation_visitor.hpp:388-513,2024-2080`);
  * unknown format names pass (reference behavior). */
final case class FormatC(format: String) extends Constraint { val kind = "format" }

// ---- Object constraints (§2.2) ---------------------------------------------

final case class RequiredC(properties: Vector[String]) extends Constraint { val kind = "required" }
/** 3-stage properties / patternProperties / additionalProperties
  * (`validation_visitor.hpp:1123-1204,1703-1884`). */
final case class PropertiesC(properties: Vector[(String, SchemaSpec)],
                             patternProperties: Vector[(String, SchemaSpec)],
                             additional: Option[SchemaSpec]) extends Constraint { val kind = "properties" }
final case class MinPropertiesC(n: Long) extends Constraint { val kind = "minProperties" }
final case class MaxPropertiesC(n: Long) extends Constraint { val kind = "maxProperties" }
final case class PropertyNamesC(schema: SchemaSpec) extends Constraint { val kind = "propertyNames" }
/** dependencies: property-deps (other props must exist) + schema-deps
  * (`concrete_constraints.hpp:247-345`). The reference's cross-field
  * mechanism. */
final case class DependenciesC(propertyDeps: Vector[(String, Vector[String])],
                               schemaDeps: Vector[(String, SchemaSpec)]) extends Constraint { val kind = "dependencies" }

// ---- Array constraints (§2.3) ----------------------------------------------

/** items (singular): every element against one subschema
  * (`validation_visitor.hpp:1267-1312`). */
final case class ItemsC(schema: SchemaSpec) extends Constraint { val kind = "items" }
/** items (tuple) + additionalItems (`validation_visitor.hpp:531-621,1550-1625`). */
final case class TupleItemsC(items: Vector[SchemaSpec],
                             additional: Option[SchemaSpec]) extends Constraint { val kind = "items" }
final case class MinItemsC(n: Long) extends Constraint { val kind = "minItems" }
final case class MaxItemsC(n: Long) extends Constraint { val kind = "maxItems" }
/** pairwise deep-equality uniqueness (`validation_visitor.hpp:1362-1399`). */
case object UniqueItemsC extends Constraint { val kind = "uniqueItems" }
final case class ContainsC(schema: SchemaSpec) extends Constraint { val kind = "contains" }

// ---- Combinators (§2.4) ----------------------------------------------------

final case class AllOfC(schemas: Vector[SchemaSpec]) extends Constraint { val kind = "allOf" }
final case class AnyOfC(schemas: Vector[SchemaSpec]) extends Constraint { val kind = "anyOf" }
final case class OneOfC(schemas: Vector[SchemaSpec]) extends Constraint { val kind = "oneOf" }
final case class NotC(schema: SchemaSpec) extends Constraint { val kind = "not" }
/** if/then/else, draft7 (`concrete_constraints.hpp:133-181`). */
final case class CondC(ifS: SchemaSpec, thenS: Option[SchemaSpec],
                       elseS: Option[SchemaSpec]) extends Constraint { val kind = "conditional" }

// ---- Extension point (§2.5 UDF surface) ------------------------------------

/** Custom-keyword hook — the analog of the reference's `ConstraintBuilder` +
  * `PolyConstraint` (`constraint_builder.hpp:13-19`,
  * `concrete_constraints.hpp:937-969`, exercised by
  * `tests/test_poly_constraint.cpp`): a user-supplied Column-level predicate
  * plus the violation message it should emit.
  *
  * `nativePredicate` optionally carries the same keyword as a serializable
  * JVM predicate over the parsed document value, so custom keywords run on
  * ALL THREE evaluation paths: the Column form serves the typed and variant
  * Catalyst compilers, the Variant form the native single-pass walker
  * (PolyConstraint::validate's shape — the raw adapter value in, boolean
  * out, message pushed on failure). Scala function literals are
  * Serializable, so the spec still ships inside the physical plan. */
final case class CustomC(name: String,
                         predicate: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                         message: String,
                         nativePredicate: Option[org.apache.spark.types.variant.Variant => Boolean] = None)
    extends Constraint { val kind = "custom" }
