package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JSON Schema (draft 4/7 subset) → [[SchemaSpec]] parser.
  *
  * Mirrors the reference's `SchemaParser::populateSchema`
  * (valijson `schema_parser.hpp:766-1168`): boolean-schema check first
  * (SP:785-804), then keyword dispatch with `type` deliberately first
  * (SP:825-831) and the remaining keywords in the reference's insertion
  * order (SP:833-1149) — that order fixes violation-row ordering.
  *
  * `$ref` resolution (`resolveThenPopulateSchema`, SP:1195-1308):
  *  - in-document JSON Pointer refs (`#/...`), memoized by target location
  *    (the registry reuse of `makeOrReuseSchema`, SP:486-531);
  *  - `$id`-registered scopes: every loaded document is scanned for `$id`
  *    (and draft-3/4 `id`) declarations, each registered under its
  *    scope-resolved absolute URI (`findSchemaById`, SP:311-417), so
  *    `{"$ref": "http://x/sub.json"}` resolves without a fetch when a
  *    subschema declares that id;
  *  - external refs resolved from a caller-supplied `externalDocs`
  *    URI → JSON map — the offline analog of the reference's `fetchDoc`
  *    callback + document cache (SP:106-124, 143-158, 1267-1292);
  *  - relative URIs resolved against the current `$id` scope
  *    (`internal/uri.hpp:31-52` semantics via `java.net.URI.resolve`).
  *
  * Cyclic refs are supported: re-entering a location that is still being
  * built yields a [[RefSchema]] placeholder whose target is knot-tied after
  * the build completes (registry memoization makes cycles terminate in the
  * reference). The Catalyst compiler rejects RefSchema with a clear error;
  * the native walker follows it.
  */
object SpecParser {

  // Nesting capped at the parser's own walk bound (512): a hostile-deep
  // schema document then fails DETERMINISTICALLY inside Jackson's streaming
  // depth check (shallow stack) instead of riding databind recursion toward
  // the default 1000 cap with the stack already ~1600 frames deep — the
  // walk guard below stays as the bound for depth assembled across
  // external documents, which Jackson cannot see.
  private val mapper: ObjectMapper = {
    val f = new com.fasterxml.jackson.core.JsonFactory()
    f.setStreamReadConstraints(
      com.fasterxml.jackson.core.StreamReadConstraints.builder()
        .maxNestingDepth(512).build())
    new ObjectMapper(f)
  }

  /** RFC-8141 URN test — the reference's regex (uri.hpp:43-45) ported
    * verbatim (its character classes include a literal backslash). */
  private val UrnPattern = java.util.regex.Pattern.compile(
    "^((urn)|(URN)):(?!urn:)([a-zA-Z0-9][a-zA-Z0-9-]{1,31})" +
      "(:[-a-zA-Z0-9\\\\._~%!$&'()/*+,;=]+)+" +
      "(\\?[-a-zA-Z0-9\\\\._~%!$&'()/*+,;:=]+){0,1}" +
      "(#[-a-zA-Z0-9\\\\._~%!$&'()/*+,;:=]+){0,1}$")

  /** ULONG_MAX + 1 — std::stoul's wrap modulus. */
  private val Twop64 = BigInt(2).pow(64)

  /** `isUriAbsolute` analog (uri.hpp:28-33): the reference requires a
    * literal "://" marker, so "mailto:"-style schemes without an authority
    * are NOT absolute and resolve as relative paths (URNs are the separate
    * carve-out below). */
  private def isAbsolute(u: String): Boolean = u.contains("://")

  private def isUrn(u: String): Boolean = UrnPattern.matcher(u).matches()

  /** `resolveId`/`resolveDocumentUri` shape (schema_parser.hpp:199-210,
    * 298-309): absolute URIs and URNs pass through; everything else merges
    * into the scope via the reference's own algorithm. */
  private def resolveUri(scope: String, uri: String): String =
    if (isAbsolute(uri) || isUrn(uri) || scope.isEmpty) uri
    else resolveRelativeUri(scope, uri)

  /** `resolveRelativeUri` port (uri.hpp:52-187) — the reference's
    * hand-rolled merge-and-normalise, kept step-faithful rather than
    * delegating to java.net.URI, which differs in corners the reference's
    * algorithm defines: network-path "//h/p" references are treated as
    * plain absolute PATHS under the scope's authority (not an authority
    * replacement), query-only references append to the stripped base
    * path, unmatched ".." segments are retained on relative scopes, and
    * an empty reference returns the scope as-is (fragment included).
    * Known shared corner: a PATHLESS scope carrying a fragment/query
    * ("http://h#a") has no '/' after the authority, so the whole scope —
    * fragment included — becomes schemeAndAuthority and survives into the
    * resolved URI, exactly as the reference's find('/', schemeEnd) does
    * (uri.hpp:72-82); java.net.URI would instead strip it.
    * private[graft] so UriResolutionSpec can property-test it against the
    * JDK resolver on the clean-input subset where both define the same
    * RFC-3986 merge. */
  private[graft] def resolveRelativeUri(scope: String, rel: String): String = {
    if (rel.isEmpty) return scope
    var schemeAndAuthority = ""
    var basePath = ""
    val schemeEnd = scope.indexOf("://")
    if (schemeEnd >= 0) {
      // scheme+authority, e.g. http://userinfo@example.com:8080
      val authorityEnd = scope.indexOf('/', schemeEnd + 3)
      schemeAndAuthority = if (authorityEnd < 0) scope else scope.substring(0, authorityEnd)
      basePath =
        if (schemeAndAuthority.length < scope.length) scope.substring(schemeAndAuthority.length)
        else "/"
    } else {
      // a relative resolution scope still represents a URI path
      basePath = scope
    }
    val fragPos = basePath.indexOf('#')
    if (fragPos >= 0) basePath = basePath.substring(0, fragPos)
    val qPos = basePath.indexOf('?')
    if (qPos >= 0) basePath = basePath.substring(0, qPos)
    // a reference that is just a fragment or a query appends to the
    // scheme+authority and stripped base path
    if (rel(0) == '#' || rel(0) == '?') return schemeAndAuthority + basePath + rel
    var relativePath = rel
    var suffix = ""
    val rf = relativePath.indexOf('#')
    val rq = relativePath.indexOf('?')
    val suffixPos = if (rf < 0) rq else if (rq < 0) rf else math.min(rf, rq)
    if (suffixPos >= 0) {
      suffix = relativePath.substring(suffixPos)
      relativePath = relativePath.substring(0, suffixPos)
    }
    val mergedPath =
      if (relativePath.nonEmpty && relativePath(0) == '/') relativePath
      else {
        val lastSlash = basePath.lastIndexOf('/')
        if (lastSlash < 0) relativePath
        else basePath.substring(0, lastSlash + 1) + relativePath
      }
    val absolutePath = mergedPath.nonEmpty && mergedPath(0) == '/'
    val segments = mutable.ArrayBuffer[String]()
    def push(segment: String): Unit = {
      if (segment == "..") {
        if (segments.nonEmpty && segments.last != "..") segments.remove(segments.length - 1)
        else if (!absolutePath) segments += segment
      } else if (segment.nonEmpty && segment != ".") segments += segment
    }
    var seg = new StringBuilder
    mergedPath.foreach { c =>
      if (c == '/') { push(seg.toString); seg = new StringBuilder } else seg += c
    }
    push(seg.toString)
    val normalised0 = (if (absolutePath) "/" else "") + segments.mkString("/")
    val normalised =
      if (mergedPath.nonEmpty && mergedPath.last == '/' &&
          (normalised0.isEmpty || normalised0.last != '/')) normalised0 + "/"
      else normalised0
    schemeAndAuthority + normalised + suffix
  }

  /** Parse-time custom-keyword builder — the `ConstraintBuilder` analog
    * (valijson `constraint_builder.hpp:13-19`, registered via
    * `SchemaParser::addConstraintBuilder` `schema_parser.hpp:91-94`,
    * dispatched in the keyword loop `schema_parser.hpp:1151-1167`): the
    * builder receives the keyword's VALUE node from the schema document and
    * produces the [[CustomC]] to append. Registering one makes a schema
    * DOCUMENT carrying the keyword compile on all three evaluation paths
    * (tests/test_poly_constraint.cpp is the reference's usage shape). */
  type ConstraintBuilder = JsonNode => CustomC

  def parse(json: String): SchemaSpec = parse(json, Map.empty[String, String])

  /** Parse with external documents available for URI `$ref`s (offline
    * fetchDoc analog). Keys are absolute URIs, values JSON schema text. */
  def parse(json: String, externalDocs: Map[String, String]): SchemaSpec =
    parseNode(mapper.readTree(json), externalDocs)

  /** Parse with custom-keyword builders registered (ConstraintBuilder
    * analog): any subschema object carrying a registered keyword gets the
    * builder's CustomC appended, in document keyword order. */
  def parse(json: String, externalDocs: Map[String, String],
            builders: Map[String, ConstraintBuilder]): SchemaSpec =
    parseNode(mapper.readTree(json), externalDocs, builders)

  def parseNode(root: JsonNode): SchemaSpec = parseNode(root, Map.empty[String, String])

  def parseNode(root: JsonNode, externalDocs: Map[String, String]): SchemaSpec =
    parseNode(root, externalDocs, Map.empty[String, ConstraintBuilder])

  def parseNode(root: JsonNode, externalDocs: Map[String, String],
                builders: Map[String, ConstraintBuilder]): SchemaSpec =
    onParseStack(new Parser(root, externalDocs, builders).rootSpec())

  /** Stack of the thread every parse runs on. The parser recurses a few
    * frames per subschema level, across `$ref`'d documents too, and a
    * caller's stack can run out before the 512-level guard fires (a
    * 700-document `$ref` chain overflows a 512 KB or 768 KB stack); on a
    * thread with this much stack the guard always fires first. */
  private val ParseStackBytes = 16L << 20

  /** The one long-lived daemon thread, with [[ParseStackBytes]] of stack,
    * that every parse runs on; started on the first parse. Parses from
    * several callers queue, so the parser's state is only ever used by one
    * thread at a time. */
  @volatile private var parseThreadRef: Thread = null
  private lazy val parseThread = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(null, r, "graft-spec-parse", ParseStackBytes)
    t.setDaemon(true)
    parseThreadRef = t
    t
  }

  /** Run `body` on the parse thread and hand its result or exception back;
    * the caller waits. A parse already on that thread (a custom-keyword
    * builder that parses a schema) runs inline, so it cannot wait on
    * itself. The body runs with the caller's context class loader. */
  private def onParseStack[T](body: => T): T =
    if (Thread.currentThread eq parseThreadRef) body
    else {
      val loader = Thread.currentThread.getContextClassLoader
      val task: java.util.concurrent.Callable[T] = () => {
        Thread.currentThread.setContextClassLoader(loader)
        body
      }
      try parseThread.submit(task).get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

  /** Freeze a JSON constant (FrozenValue analog,
    * `internal/frozen_value.hpp:22-49`). */
  def jsonValue(n: JsonNode): JsonValue =
    if (n.isNull) JNullV
    else if (n.isBoolean) JBoolV(n.asBoolean())
    else if (n.isIntegralNumber) JLongV(n.asLong())
    else if (n.isNumber) JDoubleV(n.asDouble())
    else if (n.isTextual) JStringV(n.asText())
    else if (n.isArray) JArrayV(n.elements().asScala.map(jsonValue).toVector)
    else JObjectV(n.properties().asScala.map(e => e.getKey -> jsonValue(e.getValue)).toMap)

  // -------------------------------------------------------------------------

  private final class Parser(rootNode: JsonNode, externalDocs: Map[String, String],
                             builders: Map[String, ConstraintBuilder] = Map.empty) {

    /** JSON Pointer token escaping for memo/cycle keys built from property
      * names — mirrors the reference's `escapeJsonPointerToken` on child
      * paths (schema_parser.hpp:1690-1691). Without it a property literally
      * named `a~1b` and a `$ref` to a property named `a/b` would collide on
      * the same (docKey, path) key. */
    private def esc(s: String): String = graft.compile.Messages.escapePointerSegment(s)

    /** Loaded documents: docKey ("" = root, else absolute URI) → root node. */
    private val docs = mutable.Map[String, JsonNode]()
    /** `$id` registry: absolute id URI → (docKey, node, scope). */
    private val idIndex = mutable.Map[String, (String, JsonNode, String)]()
    /** Subschema registry, keyed by (docKey, node path). */
    private val memo = mutable.Map[(String, String), SchemaSpec]()
    /** Locations currently being built → document-descent depth at entry. */
    private val building = mutable.Map[(String, String), Int]()
    private val placeholders = mutable.Map[(String, String), RefSchema]()
    /** Number of value-descending keyword edges (properties/items/contains/
      * propertyNames/…) on the current build stack. A $ref cycle is only
      * evaluable if every loop passes through at least one descending edge —
      * then each iteration consumes document depth and terminates on finite
      * documents. Combinator-only cycles (anyOf/not/allOf re-entering the
      * same location at the same depth) would recurse forever on the SAME
      * value, so they are rejected at parse. */
    private var descentDepth = 0

    private def idOf(n: JsonNode): Option[String] =
      (Option(n.get("$id")) orElse Option(n.get("id"))).filter(_.isTextual).map(_.asText())

    private def loadDoc(uri: String): JsonNode = docs.getOrElseUpdate(uri, {
      val text = externalDocs.getOrElse(uri,
        throw new IllegalArgumentException(
          s"external $$ref not resolvable offline: '$uri' — supply it via the externalDocs map " +
            "(the offline analog of the reference's fetchDoc callback, schema_parser.hpp:106-124)"))
      val node = mapper.readTree(text)
      // scope INVARIANT (everywhere below): a scope handed to scanIds/
      // schemaFor/resolvePointer is the scope OUTSIDE the node — each layer
      // applies a node's own $id exactly once. Double application is
      // idempotent for absolute $ids but compounds relative FOLDER $ids
      // ("baseUriChange/" applied twice = nested twice).
      scanIds(uri, node, uri)
      node
    })

    /** Register every `$id` declaration under its scope-resolved URI
      * (findSchemaById analog, SP:311-417). */
    private def scanIds(docKey: String, node: JsonNode, scope: String): Unit = {
      if (node.isObject) {
        val newScope = idOf(node).map(resolveUri(scope, _)).getOrElse(scope)
        // registry stores the PARENT scope: consumers re-enter via schemaFor,
        // whose build applies the node's own $id (once)
        if (idOf(node).isDefined) idIndex.getOrElseUpdate(newScope, (docKey, node, scope))
        node.properties().asScala.foreach(e => scanIds(docKey, e.getValue, newScope))
      } else if (node.isArray) {
        node.elements().asScala.foreach(scanIds(docKey, _, scope))
      }
    }

    /** C-locale isspace — what `strtoul`/`std::stoul` skip. Deliberately NOT
      * Java's Unicode-aware isWhitespace (bytes 0x1C-0x1F are Java whitespace
      * but not C whitespace). */
    private def isCSpace(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

    private def hexVal(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1

    /** `decodePercentEncodedChar` analog (internal/json_pointer.hpp:48-66):
      * the two bytes after '%' are fed to C `strtoul(_, _, 16)`, with its
      * quirks preserved — an error is raised only when the conversion
      * CONSUMED something and left trailing garbage ("%4z"); a token where
      * nothing converts ("%zz") silently yields byte 0; leading C-whitespace
      * and a sign are accepted ("% 4", "%+4"), and a negative value wraps
      * unsigned then truncates to the low byte ("%-1" → 0xFF). */
    private def strtoulHex2(c1: Char, c2: Char, tok: String): Int = {
      val s = "" + c1 + c2
      var i = 0
      while (i < 2 && isCSpace(s(i))) i += 1
      var neg = false
      if (i < 2 && (s(i) == '+' || s(i) == '-')) { neg = s(i) == '-'; i += 1 }
      var v = 0; var consumed = false
      while (i < 2 && hexVal(s(i)) >= 0) { v = v * 16 + hexVal(s(i)); consumed = true; i += 1 }
      if (!consumed) return 0 // strtoul made no conversion: end==begin, no error, value 0
      if (i != 2)
        throw new IllegalArgumentException(
          s"Failed to decode %-encoded character '$s' in $$ref pointer token '$tok'")
      (if (neg) -v else v) & 0xFF
    }

    /** RFC-3986 %-decoding of one reference token, applied AFTER the ~1/~0
      * replacement — mirroring `extractReferenceToken`
      * (internal/json_pointer.hpp:96-121) including its ordering quirk:
      * "%7E0" decodes to the literal two-character key "~0" (the decoded
      * '~' is NOT re-examined for pointer escapes), and a '%' yielding
      * another '%' is not rescanned. Decoded bytes splice into the token's
      * UTF-8 byte stream, as in the reference's std::string arithmetic —
      * returned RAW so lookups happen at the byte level: a decode that
      * produces invalid UTF-8 (e.g. "%ff") must never equal any member name
      * of a valid-UTF-8 document (the reference's raw std::string compare),
      * not collapse to U+FFFD and accidentally match a "�" key. */
    private def percentDecodeToken(tok: String): Array[Byte] = {
      val in = tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new java.io.ByteArrayOutputStream(in.length)
      var i = 0
      while (i < in.length) {
        if (in(i) == '%') {
          if (i + 2 >= in.length)
            throw new IllegalArgumentException(
              s"Failed to decode %-encoded character in $$ref pointer token '$tok': " +
                "expected two characters")
          out.write(strtoulHex2((in(i + 1) & 0xFF).toChar, (in(i + 2) & 0xFF).toChar, tok))
          i += 3
        } else { out.write(in(i)); i += 1 }
      }
      out.toByteArray
    }

    /** Strict UTF-8 decode of a spliced token: None when the byte stream is
      * malformed (such a token can never name a member of a document Jackson
      * parsed, so the caller raises the unified unresolvable-pointer error —
      * the same terminal outcome as the reference's raw-byte compare
      * missing every key). */
    private def strictUtf8(bytes: Array[Byte]): Option[String] = {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
      catch { case _: java.nio.charset.CharacterCodingException => None }
    }

    /** `std::stoul` analog for array reference tokens
      * (internal/json_pointer.hpp:190-232): leading C-whitespace and a sign
      * are accepted, trailing garbage is silently ignored ("01"→1, "1x"→1,
      * "+1"→1), a negative value wraps unsigned ("-0"→0; "-1" wraps huge and
      * fails the bounds check), and a bare "-" is rejected before parsing.
      * Returns -1 for any form the reference rejects (caller raises the
      * unified unresolvable-pointer error). */
    private def stoulArrayIndex(tok: String, arraySize: Int): Int = {
      if (tok == "-") return -1 // hyphen special case: "element does not yet exist"
      var i = 0
      while (i < tok.length && isCSpace(tok(i))) i += 1
      var neg = false
      if (i < tok.length && (tok(i) == '+' || tok(i) == '-')) { neg = tok(i) == '-'; i += 1 }
      val start = i
      var v = BigInt(0)
      while (i < tok.length && tok(i) >= '0' && tok(i) <= '9') {
        // once v >= 2^64 the outcome is fixed (out_of_range either way, sign
        // or not), so bail instead of growing the BigInt over a hostile
        // multi-MB digit token (quadratic word ops otherwise)
        if (v >= Twop64) return -1 // out_of_range analog
        v = v * 10 + (tok(i) - '0'); i += 1
      }
      if (i == start) return -1 // invalid_argument analog: no digits
      if (v >= Twop64) return -1 // out_of_range analog
      val u = if (neg) (Twop64 - v) mod Twop64 else v
      if (u >= BigInt(arraySize)) return -1 // bounds check (wrapped negatives land here)
      u.toInt
    }

    /** Walk a JSON Pointer, tracking `$id` scopes declared on intermediate
      * nodes along the path (a relative $ref inside the pointed-to subtree
      * must resolve against the innermost enclosing $id, not the caller's
      * scope). Token decoding mirrors the reference's STRICT resolver
      * (`resolveJsonPointerStrict`, the one the schema parser uses —
      * schema_parser.hpp:561,1236): empty tokens are PRESERVED and identify
      * an empty object member name ("#/a//b" looks up the "" key; a trailing
      * '/' looks up "" in the final node), ~1/~0 replacement runs first,
      * then RFC-3986 %-decoding. Returns (target node, its resolution
      * scope). */
    private def resolvePointer(docKey: String, root: JsonNode, ptr: String,
                               outerScope: String): (JsonNode, String) = {
      var node = root
      var scope = outerScope
      if (ptr.nonEmpty) ptr.split("/", -1).drop(1).foreach { raw =>
        // descending INTO node's subtree: apply node's own $id now; the
        // final target's own $id is NOT applied here — schemaFor/build
        // applies it (scope invariant: returned scope is OUTSIDE the target)
        if (node.isObject) scope = idOf(node).map(resolveUri(scope, _)).getOrElse(scope)
        val seg0 = raw.replace("~1", "/").replace("~0", "~")
        // %-splicing happens in byte space; a token without '%' keeps its
        // String form (preserving any lone surrogates Jackson let through)
        val segBytes = if (seg0.indexOf('%') >= 0) percentDecodeToken(seg0) else null
        node = if (node != null && node.isArray) {
          // C parses the raw bytes: ISO-8859-1 maps each byte to one char,
          // and the digit/space/sign tests below are ASCII-only
          val tok = if (segBytes == null) seg0
                    else new String(segBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
          val idx = stoulArrayIndex(tok, node.size())
          if (idx < 0) null else node.get(idx)
        } else if (node != null) {
          val segOpt = if (segBytes == null) Some(seg0) else strictUtf8(segBytes)
          segOpt.map(node.get).orNull
        } else null
        if (node == null)
          throw new IllegalArgumentException(s"unresolvable JSON Pointer in $$ref: $docKey#$ptr")
      }
      (node, scope)
    }

    def rootSpec(): SchemaSpec = {
      docs("") = rootNode
      scanIds("", rootNode, "")
      schemaFor("", rootNode, "", "")
    }

    /** makeOrReuseSchema analog: memoize by (docKey, path); re-entry while
      * building = cycle → RefSchema placeholder, knot-tied on completion. */
    private def schemaFor(docKey: String, node: JsonNode, path: String, scope: String,
                          selfReqOk: Boolean = false): SchemaSpec = {
      val key = (docKey, path)
      memo.get(key) match {
        case Some(s) => s
        case None if building.contains(key) =>
          if (descentDepth == building(key))
            throw new IllegalArgumentException(
              s"unguarded $$ref cycle at '$docKey#$path': the loop passes through no " +
                "value-descending keyword (properties/items/contains/…), so evaluation " +
                "would recurse forever on the same value")
          placeholders.getOrElseUpdate(key, new RefSchema(s"$docKey#$path"))
        case None =>
          // explicit nesting bound: a pathologically deep schema document
          // must fail with a clear error, not a StackOverflowError (Jackson
          // itself rejects nesting beyond ~1000; this catches the band in
          // between, mirroring the walker's MaxWalkDepth guard)
          if (building.size > 512)
            throw new IllegalArgumentException(
              "schema nesting exceeds the parser limit (512 levels)")
          building(key) = descentDepth
          val s =
            try build(docKey, node, path, scope, selfReqOk)
            finally building -= key
          // A pure $ref cycle with NO schema content resolves to its own
          // placeholder (e.g. foo→bar→baz→foo, or a root "$ref":"#"):
          // the reference's parser throws on these too
          // (tests/test_json_pointer.cpp CircularReferences / issue #200).
          placeholders.get(key) match {
            case Some(ph) if ph eq s =>
              throw new IllegalArgumentException(
                s"circular $$ref with no schema content at '$docKey#$path'")
            case other => other.foreach(_.boundTarget = s)
          }
          memo(key) = s
          s
      }
    }

    /** Resolve a `$ref` string to its target (resolveThenPopulateSchema,
      * SP:1195-1308): URI part against the current scope; `$id` registry
      * first, then document cache / externalDocs; JSON Pointer within. */
    private def refTarget(ref: String, docKey: String, scope: String): SchemaSpec = {
      val hashIdx = ref.indexOf('#')
      val (uriPart, frag0) =
        if (hashIdx < 0) (ref, "") else (ref.substring(0, hashIdx), ref.substring(hashIdx + 1))
      // sanitiseJsonPointer (schema_parser.hpp:263-276): a fragment of
      // exactly "/" means the document ROOT (before the strict resolver
      // would see it as one empty token)
      val frag = if (frag0 == "/") "" else frag0

      /** Pointer or plain-name-anchor fragment within a resolved document/
        * subschema. */
      /** `outerScope` = scope OUTSIDE `base` (pointer descent applies $ids
        * on the way down); `anchorScope` = the scope a plain-name anchor
        * resolves against (the scope INSIDE the enclosing document). */
      def within(dk: String, base: JsonNode, outerScope: String, anchorScope: String,
                 pathPrefix: String): SchemaSpec =
        if (frag.isEmpty || frag.startsWith("/")) {
          val (target, targetOuter) = resolvePointer(dk, base, frag, outerScope)
          schemaFor(dk, target, s"$pathPrefix$frag", targetOuter)
        } else {
          // plain-name fragment: $id anchor resolved against the TARGET
          // document's scope
          val abs = resolveUri(anchorScope, "#" + frag)
          idIndex.get(abs) match {
            // registry holds the anchor node's PARENT scope; build re-applies
            // the "#frag" $id (fragment change only — same resolved scope)
            case Some((adk, anode, aParent)) => schemaFor(adk, anode, s"id:$abs", aParent)
            case None => throw new IllegalArgumentException(
              s"unresolvable $$ref anchor '#$frag' in '$dk'")
          }
        }

      if (uriPart.isEmpty) {
        // a same-document POINTER is relative to the document root (descent
        // re-applies the root's own $id); a plain-name anchor resolves
        // against the CURRENT scope
        val baseUri = if (docKey == "") "" else docKey
        within(docKey, docs(docKey), baseUri, scope, "")
      } else {
        val abs = resolveUri(scope, uriPart)
        idIndex.get(abs) match {
          // parent scope from the registry; anchors inside the registered
          // subschema resolve against its own resolved scope (= abs)
          case Some((dk, node, parentScope)) => within(dk, node, parentScope, abs, s"id:$abs")
          case None =>
            val doc = loadDoc(abs)
            val docScope = idOf(doc).map(resolveUri(abs, _)).getOrElse(abs)
            within(abs, doc, abs, docScope, "")
        }
      }
    }

    private def build(docKey: String, node: JsonNode, path: String, outerScope: String,
                      selfReqOk: Boolean = false): SchemaSpec = {
      if (node.isBoolean) return if (node.asBoolean()) TrueSchema else FalseSchema
      if (!node.isObject)
        throw new IllegalArgumentException(s"schema at $docKey#$path must be an object or boolean")

      // $ref: resolve and reuse the target ($ref siblings ignored, draft-7)
      if (node.has("$ref")) {
        val r = node.get("$ref")
        if (!r.isTextual) // extractJsonReference (schema_parser.hpp:253-255)
          throw new IllegalArgumentException("$ref property expected to contain string value.")
        return refTarget(r.asText(), docKey, outerScope)
      }

      // $id establishes a new resolution scope for nested refs (SP:809-823)
      val scope = idOf(node).map(resolveUri(outerScope, _)).getOrElse(outerScope)

      val cs = mutable.ArrayBuffer[Constraint]()
      def sub(name: String): Option[JsonNode] = Option(node.get(name))
      def childSchema(n: JsonNode, p: String): SchemaSpec = schemaFor(docKey, n, p, scope)
      // descending variant: the subschema applies to a strictly smaller
      // piece of the document (property value / array element / key string)
      def childDescend(n: JsonNode, p: String, selfReqOk: Boolean = false): SchemaSpec = {
        descentDepth += 1
        try schemaFor(docKey, n, p, scope, selfReqOk) finally descentDepth -= 1
      }

      // type — first (SP:825-831)
      sub("type").foreach { t =>
        def named(s: String): Option[JsonType.Value] = s match {
          case "any" => Some(JsonType.JAny);     case "array" => Some(JsonType.JArray)
          case "boolean" => Some(JsonType.JBoolean); case "integer" => Some(JsonType.JInteger)
          case "null" => Some(JsonType.JNull);   case "number" => Some(JsonType.JNumber)
          case "object" => Some(JsonType.JObject); case "string" => Some(JsonType.JString)
          case _ => None
        }
        if (t.isTextual) cs += TypeC(named(t.asText()).toSet.ensuring(_.nonEmpty, s"unknown type ${t.asText()}"))
        else if (t.isArray) {
          val (names, schemas) = t.elements().asScala.toVector.partition(_.isTextual)
          cs += TypeC(names.flatMap(n => named(n.asText())).toSet,
                      schemas.zipWithIndex.map { case (s, i) => childSchema(s, s"$path/type/$i") })
        }
        // draft-3 single-schema form: `"type": {..schema..}` behaves as a
        // one-member schema union (SP:2573-2577 — previously silently
        // ignored here, which failed OPEN on a constraint the document
        // author wrote down)
        else if (t.isObject) cs += TypeC(Set.empty, Vector(childSchema(t, s"$path/type")))
      }
      // allOf, anyOf, const, contains, dependencies (SP:833-868)
      sub("allOf").foreach { a =>
        cs += AllOfC(a.elements().asScala.zipWithIndex.map { case (s, i) =>
          childSchema(s, s"$path/allOf/$i") }.toVector)
      }
      sub("anyOf").foreach { a =>
        cs += AnyOfC(a.elements().asScala.zipWithIndex.map { case (s, i) =>
          childSchema(s, s"$path/anyOf/$i") }.toVector)
      }
      sub("const").foreach { c => cs += ConstC(jsonValue(c)) }
      sub("contains").foreach { c => cs += ContainsC(childDescend(c, s"$path/contains")) }
      sub("dependencies").foreach { d =>
        val propDeps = mutable.ArrayBuffer[(String, Vector[String])]()
        val schemaDeps = mutable.ArrayBuffer[(String, SchemaSpec)]()
        d.properties().asScala.foreach { e =>
          val (k, v) = (e.getKey, e.getValue)
          if (v.isArray) propDeps += k -> v.elements().asScala.map(_.asText()).toVector
          // draft-3: a single string names one dependent property (SP:1701-1703)
          else if (v.isTextual) propDeps += k -> Vector(v.asText())
          else schemaDeps += k -> childSchema(v, s"$path/dependencies/${esc(k)}")
        }
        cs += DependenciesC(propDeps.toVector, schemaDeps.toVector)
      }
      // divisibleBy — draft3 alias of multipleOf (SP:879-897)
      sub("divisibleBy").foreach { m =>
        if (m.isIntegralNumber) cs += MultipleOfIntC(m.asLong())
        else cs += MultipleOfDoubleC(m.asDouble())
      }
      // enum (SP:899)
      sub("enum").foreach { e => cs += EnumC(e.elements().asScala.map(jsonValue).toVector) }
      // extends — draft3: value (or array) of schemas that must also hold
      // (SP:905-911); equivalent to allOf
      sub("extends").foreach { ext =>
        val schemas =
          if (ext.isArray) ext.elements().asScala.zipWithIndex.map { case (s, i) =>
            childSchema(s, s"$path/extends/$i") }.toVector
          else Vector(childSchema(ext, s"$path/extends"))
        cs += AllOfC(schemas)
      }
      // disallow — draft3: must NOT match any listed type/schema
      sub("disallow").foreach { d =>
        val items = if (d.isArray) d.elements().asScala.toVector else Vector(d)
        val subSchemas = items.zipWithIndex.map { case (it, i) =>
          if (it.isTextual) ConstraintSchema(Vector(TypeC(Set(it.asText() match {
            case "any" => JsonType.JAny;     case "array" => JsonType.JArray
            case "boolean" => JsonType.JBoolean; case "integer" => JsonType.JInteger
            case "null" => JsonType.JNull;   case "number" => JsonType.JNumber
            case "object" => JsonType.JObject; case _ => JsonType.JString
          }))))
          else childSchema(it, s"$path/disallow/$i")
        }
        cs += NotC(ConstraintSchema(Vector(AnyOfC(subSchemas))))
      }
      // format (SP:913)
      sub("format").foreach { f => cs += FormatC(f.asText()) }
      // items / additionalItems (SP:919-941)
      sub("items").foreach { it =>
        if (it.isArray) {
          val items = it.elements().asScala.zipWithIndex.map { case (s, i) =>
            childDescend(s, s"$path/items/$i") }.toVector
          val add = sub("additionalItems").map {
            case bnode if bnode.isBoolean =>
              if (bnode.asBoolean()) Some(TrueSchema) else None
            case onode => Some(childDescend(onode, s"$path/additionalItems"))
          }.getOrElse(Some(TrueSchema)) // absent ⇒ empty schema (allow)
          cs += TupleItemsC(items, add)
        } else cs += ItemsC(childDescend(it, s"$path/items"))
      }
      // if/then/else (SP:946-963, draft7)
      sub("if").foreach { ifn =>
        cs += CondC(childSchema(ifn, s"$path/if"),
          sub("then").map(childSchema(_, s"$path/then")),
          sub("else").map(childSchema(_, s"$path/else")))
      }
      // maximum/exclusiveMaximum (SP:966-992; draft7 numeric exclusive*)
      (sub("maximum"), sub("exclusiveMaximum")) match {
        case (_, Some(em)) if em.isNumber => cs += MaximumC(em.asDouble(), exclusive = true)
          sub("maximum").foreach(m => cs += MaximumC(m.asDouble(), exclusive = false))
        case (Some(m), Some(em)) if em.isBoolean =>
          cs += MaximumC(m.asDouble(), exclusive = em.asBoolean())
        case (Some(m), None) => cs += MaximumC(m.asDouble(), exclusive = false)
        case _ =>
      }
      sub("maxItems").foreach { n => cs += MaxItemsC(n.asLong()) }
      sub("maxLength").foreach { n => cs += MaxLengthC(n.asLong()) }
      sub("maxProperties").foreach { n => cs += MaxPropertiesC(n.asLong()) }
      (sub("minimum"), sub("exclusiveMinimum")) match {
        case (_, Some(em)) if em.isNumber => cs += MinimumC(em.asDouble(), exclusive = true)
          sub("minimum").foreach(m => cs += MinimumC(m.asDouble(), exclusive = false))
        case (Some(m), Some(em)) if em.isBoolean =>
          cs += MinimumC(m.asDouble(), exclusive = em.asBoolean())
        case (Some(m), None) => cs += MinimumC(m.asDouble(), exclusive = false)
        case _ =>
      }
      sub("minItems").foreach { n => cs += MinItemsC(n.asLong()) }
      sub("minLength").foreach { n => cs += MinLengthC(n.asLong()) }
      sub("minProperties").foreach { n => cs += MinPropertiesC(n.asLong()) }
      // multipleOf (SP:1051-1065): integer node → int constraint, else double
      sub("multipleOf").foreach { m =>
        if (m.isIntegralNumber) cs += MultipleOfIntC(m.asLong())
        else cs += MultipleOfDoubleC(m.asDouble())
      }
      sub("not").foreach { n => cs += NotC(childSchema(n, s"$path/not")) }
      sub("oneOf").foreach { a =>
        cs += OneOfC(a.elements().asScala.zipWithIndex.map { case (s, i) =>
          childSchema(s, s"$path/oneOf/$i") }.toVector)
      }
      sub("pattern").foreach { p => cs += PatternC(p.asText()) }
      // properties / patternProperties / additionalProperties (SP:1086-1107)
      if (node.has("properties") || node.has("patternProperties") || node.has("additionalProperties")) {
        // `.toVector` BEFORE mapping: `properties()` is a Set view, and
        // mapping a Set builds a hash set of (name, subschema) tuples, in
        // hash order — identity-hash order wherever a RefSchema is inside.
        // PropertiesC keeps document order, so violation order is the same
        // in every JVM
        val props = sub("properties").map(_.properties().asScala.toVector.map { e =>
          // draft-3 self-required: `"required": true` INSIDE a property
          // subschema adds that property to the ENCLOSING object's required
          // set (makeRequiredConstraintForSelf, schema_parser.hpp:1120-1134,
          // 2452-2480) — one single-name constraint per property, added to
          // the parent during the child's parse, i.e. before PropertiesC.
          // (A self-required reached only through $ref is not propagated —
          // the reference threads parentSubschema through ref resolution;
          // draft-3 + $ref + self-required is not exercised by its suite.)
          val selfReq = Option(e.getValue.get("required")).exists(r => r.isBoolean && r.asBoolean())
          if (selfReq) cs += RequiredC(Vector(e.getKey))
          e.getKey -> childDescend(e.getValue, s"$path/properties/${esc(e.getKey)}", selfReqOk = true)
        }).getOrElse(Vector.empty)
        val patProps = sub("patternProperties").map(_.properties().asScala.toVector.map { e =>
          e.getKey -> childDescend(e.getValue, s"$path/patternProperties/${esc(e.getKey)}")
        }).getOrElse(Vector.empty)
        val add: Option[SchemaSpec] = sub("additionalProperties") match {
          case Some(bn) if bn.isBoolean => if (bn.asBoolean()) Some(TrueSchema) else None
          case Some(on)                 => Some(childDescend(on, s"$path/additionalProperties"))
          case None                     => Some(TrueSchema) // absent ⇒ empty schema (SP:2425-2429)
        }
        cs += PropertiesC(props, patProps, add)
      }
      sub("propertyNames").foreach { p => cs += PropertyNamesC(childDescend(p, s"$path/propertyNames")) }
      sub("required").foreach { r =>
        if (r.isBoolean) {
          // draft-3 self-required: consumed by the ENCLOSING object's
          // properties parse (see above); not a constraint on this schema.
          // Anywhere else the reference rejects it (schema_parser.hpp:1127).
          if (!selfReqOk) throw new IllegalArgumentException(
            "'required' boolean (draft-3 self-required) is only valid inside a " +
              "property subschema (schema_parser.hpp:1120-1134)")
        } else cs += RequiredC(r.elements().asScala.map(_.asText()).toVector)
      }
      sub("uniqueItems").foreach { u => if (u.asBoolean()) cs += UniqueItemsC }

      // registered custom keywords — dispatched like the reference's
      // constraint-builder hook at the end of the keyword loop
      // (schema_parser.hpp:1151-1167), in DOCUMENT keyword order so
      // violation ordering is deterministic
      if (builders.nonEmpty)
        node.properties().asScala.foreach { e =>
          builders.get(e.getKey).foreach(mk => cs += mk(e.getValue))
        }

      ConstraintSchema(cs.toVector,
        id = idOf(node),
        title = sub("title").map(_.asText()))
    }
  }
}
