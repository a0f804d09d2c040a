package graft.compile

import java.util.Locale

/** Verbatim violation message strings from the reference validator
  * (`include/valijson/validation_visitor.hpp`, pushError sites — asserted
  * byte-for-byte in the reference's own `tests/test_validation_errors.cpp:
  * 56-108`). Numeric interpolation replicates C++ `std::to_string`:
  * integers render plain decimal, doubles render with exactly 6 fixed
  * decimals. */
object Messages {

  /** C++ std::to_string(double) — "%f" i.e. 6 fixed decimals. */
  def cppDouble(v: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(v))
  def cppLong(v: Long): String = v.toString

  // §2.1 leaves
  val typeNotPermitted = "Value type not permitted by 'type' constraint."        // VV:1344
  val enumNoMatch      = "Failed to match against any enum values."              // VV:372
  val constNoMatch     = "Failed to match expected value set by 'const' constraint." // VV:257
  def maximumExcl(m: Double)    = s"Expected number less than ${cppDouble(m)}"    // VV:642
  def maximumIncl(m: Double)    = s"Expected number less than or equal to ${cppDouble(m)}" // VV:650
  def minimumExcl(m: Double)    = s"Expected number greater than ${cppDouble(m)}" // VV:759
  def minimumIncl(m: Double)    = s"Expected number greater than or equal to ${cppDouble(m)}" // VV:766
  def multipleOfInt(d: Long)    = s"Value should be a multiple of ${cppLong(d)}"  // VV:978
  def multipleOfDouble(d: Double) = s"Value should be a multiple of ${cppDouble(d)}" // VV:907,919
  val patternNoMatch   = "Failed to match regex specified by 'pattern' constraint." // VV:1078
  def maxLength(n: Long) = s"String should be no more than ${cppLong(n)} characters in length."  // VV:706
  def minLength(n: Long) = s"String should be no fewer than ${cppLong(n)} characters in length." // VV:822
  val badDate     = "String should be a valid date"       // VV:424
  val badTime     = "String should be a valid time"       // VV:447,455
  val badDateTime = "String should be a valid date-time"  // VV:484,492,2028,2046
  val badIpv4     = "String should be a valid IPv4 address" // VV:506-507

  // §2.2 object
  def missingRequired(p: String) = s"Missing required property '$p'."            // VV:1480
  def maxProperties(n: Long) = s"Object should have no more than ${cppLong(n)} properties."  // VV:733
  def minProperties(n: Long) = s"Object should have no fewer than ${cppLong(n)} properties." // VV:849
  def missingDependency(p: String) = s"Missing dependency '$p'."                 // VV:1530
  val dependentSchemaFail = "Failed to validate against dependent schema."       // VV:1916
  def propertySchemaFail(name: String) =
    s"Failed to validate against schema associated with property name '$name'."  // VV:1861
  def patternPropertySchemaFail(pattern: String) =
    s"Failed to validate against schema associated with pattern '$pattern'."     // VV:1768
  val additionalPropertiesSchemaFail = "Failed to validate against additional properties schema." // VV:1195
  def unexpectedProperty(name: String) =
    "Object contains a property that could not be validated using 'properties' " +
      s"or 'additionalProperties' constraints: '$name'."                         // VV:1171-1173

  // §2.3 array
  def maxItems(n: Long) = s"Array should contain no more than ${cppLong(n)} elements."  // VV:678
  def minItems(n: Long) = s"Array should contain no fewer than ${cppLong(n)} elements." // VV:794
  def itemFail(index: Long) = s"Failed to validate item #$index in array."        // VV:1301
  def tupleItemFail(index: Long) = s"Failed to validate item #$index against corresponding item schema." // VV:1607
  def additionalItemFail(index: Long) = s"Failed to validate item #$index against additional items schema." // VV:599
  def cannotValidateItem(index: Long) =
    s"Cannot validate item #$index or greater using 'items' constraint or 'additionalItems' constraint." // VV:611
  val tooManyItems = "Array contains more items than allowed by items constraint." // VV:560
  def uniqueViolation(i: Long, j: Long) =
    s"Elements at indexes #$i and #$j violate uniqueness constraint."             // VV:1389
  val containsFail = "Failed to any values against subschema in 'contains' constraint." // VV:295 (sic)

  // §2.4 combinators
  def allOfChildFail(index: Long) = s"Failed to validate against child schema #$index." // VV:1983
  val anyOfFail = "Failed to validate against any schemas allowed by anyOf constraint." // VV:198
  val oneOfNone = "Failed to validate against any child schemas allowed by oneOf constraint." // VV:1043-1044
  val oneOfTooMany = "Failed to validate against exactly one child schema."        // VV:1049
  val notFail = "Target should not validate against schema specified in 'not' constraint." // VV:1008
  val conditionalFail = "Failed to validate against a conditional schema set by if-then-else constraints." // VV:238

  /** JSON Pointer segment escaping (`validation_results.hpp:140-160`):
    * `~` → `~0`, `/` → `~1`. */
  def escapePointerSegment(s: String): String =
    s.replace("~", "~0").replace("/", "~1")

  /** Legacy v1.0 context rendering (`validation_results.hpp:167-186`):
    * `<root>` then `["name"]` per object segment / `[N]` per array segment.
    * Derived from the JSON pointer, so purely-numeric OBJECT keys render as
    * array segments (`[0]` instead of `["0"]`) — the one ambiguity of the
    * pointer encoding; byte-exact everywhere else, asserted against the
    * reference's own golden expectations
    * (`tests/test_validation_errors.cpp:59-108`). */
  def legacyContext(jsonPointer: String): Vector[String] = {
    val segs =
      if (jsonPointer.isEmpty) Vector.empty
      else jsonPointer.split("/", -1).toVector.drop(1)
        .map(_.replace("~1", "/").replace("~0", "~"))
    "<root>" +: segs.map { s =>
      if (s.nonEmpty && s.forall(c => c >= '0' && c <= '9')) s"[$s]" else "[\"" + s + "\"]"
    }
  }
}
