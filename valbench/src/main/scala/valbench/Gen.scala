package valbench

/** One generated transcript turn plus its ground truth. The `f*`, `late`,
  * `dup` and `hot` fields go only to the truth sidecar, never to the table
  * the library reads. */
final case class Turn(convId: String, turnIdx: Int, role: String, text: String, tool: String,
                      tsMs: Long, part: Int, fRole: Boolean, fText: Boolean, fTool: Boolean,
                      late: Boolean, dup: Boolean, hot: Boolean) {
  def fail: Boolean = fRole || fText || fTool
}

/** One generated tool-call argument document plus its ground truth: the
  * violations it should produce, counted by kind. */
final case class Doc(id: Long, tool: String, args: String, kinds: Map[String, Int], malformed: Boolean) {
  def pass: Boolean = kinds.isEmpty
  def kindsText: String = kinds.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")
}

/** Seeded input generators. Every value is a pure function of
  * (seed, row coordinates, salt), so the same seed gives the same bytes at
  * any parallelism, and the truth for each row is known without running
  * the library. */
object Gen {

  /** Bump on any change to generated data: the input cache is keyed on it. */
  val version = 6

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n) for (seed, a, b, salt). */
  def u(seed: Long, a: Long, b: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(
      mix(mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ a) + b), n.toLong).toInt

  // ---------------------------------------------------------------------
  // Transcripts
  // ---------------------------------------------------------------------

  val roleVocab: Seq[String] = Seq("system", "user", "assistant", "tool")
  val toolVocab: Seq[String] = (0 until 16).map(i => f"tool_$i%02d")
  val baseEpoch = 1600000000L
  val numParts = 64

  /** The row schema of the transcript table. Its five leaf constraints are
    * what the injected faults break: enum (role), minLength (text) and
    * pattern (tool); each failing property adds one `properties` wrapper. */
  val transcriptSchema: String =
    """{
      "type": "object",
      "required": ["conv_id", "turn_idx", "role", "text", "ts"],
      "properties": {
        "conv_id":  {"type": "string", "pattern": "^c[0-9]{10}$"},
        "turn_idx": {"type": "integer", "minimum": 0},
        "role":     {"type": "string", "enum": ["system", "user", "assistant", "tool"]},
        "text":     {"type": "string", "minLength": 1},
        "tool":     {"type": "string", "pattern": "^tool_[0-9]{2}$"}
      }
    }"""

  private def pad(n: Int, width: Int, sb: java.lang.StringBuilder): Unit = {
    val s = Integer.toString(n)
    var i = s.length
    while (i < width) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  /** Turns of conversation `cid`. One conversation in 997 is a hot
    * 2000-turn one; the rest have 1-8 turns. Each fault kind hits about
    * 0.1% of rows; one key in 2000 is emitted twice. `streamTs` packs
    * conversations 3 s apart (so a landing file spans a few hours of event
    * time) and makes 1% of rows late in every file from the third on. A
    * late row lies three hours back. Spark drops rows older than the
    * watermark of the previous batch, which covers files up to two back, so
    * a late row is dropped while a file spans under 85 minutes
    * (convsPerFile < 1700). */
  def conversation(seed: Long, cid: Long, fileIdx: Int, streamTs: Boolean): Iterator[Turn] = {
    // every 997th conversation from a seeded offset, so the table size does
    // not depend on the seed
    val hot = Math.floorMod(cid + u(seed, 0, 0, 11, 997), 997L) == 0
    val len = if (hot) 2000 else 1 + u(seed, cid, 0, 12, 8)
    val convId = {
      val sb = new java.lang.StringBuilder(11).append('c'); pad(cid.toInt, 10, sb); sb.toString
    }
    val part = u(seed, cid, 0, 15, numParts)
    Iterator.range(0, len).flatMap { t =>
      val fRole = u(seed, cid, t, 1, 1000) == 0
      val role =
        if (fRole) "narrator"
        else if (t == 0) "system"
        else roleVocab(1 + Seq(0, 1, 1, 2)(t % 4))
      val fText = u(seed, cid, t, 2, 1000) == 0
      val text =
        if (fText) ""
        else {
          val n = 3 + u(seed, cid, t, 13, 18)
          val sb = new java.lang.StringBuilder(n * 8)
          var i = 0
          while (i < n) {
            if (i > 0) sb.append(' ')
            sb.append("tok"); pad(u(seed, cid, t, 100 + i, 5000), 4, sb)
            i += 1
          }
          sb.toString
        }
      val fTool = role == "tool" && u(seed, cid, t, 3, 250) == 0
      val tool =
        if (role != "tool") null
        else if (fTool) "tool_zz"
        else toolVocab(u(seed, cid, t, 7, 16))
      val late = streamTs && fileIdx >= 2 && u(seed, cid, t, 6, 100) == 0
      val tsMs =
        if (streamTs) (baseEpoch + cid * 3) * 1000L + t * 10L - (if (late) 3 * 3600 * 1000L else 0L)
        else (baseEpoch + cid * 7200 + t * 30) * 1000L
      val dup = u(seed, cid, t, 5, 2000) == 0
      val row = Turn(convId, t, role, text, tool, tsMs, part, fRole, fText, fTool, late, dup, hot)
      if (dup) Iterator(row, row) else Iterator(row)
    }
  }

  // ---------------------------------------------------------------------
  // Tool-call argument documents
  // ---------------------------------------------------------------------

  val numTools = 16
  def toolName(k: Int): String = f"tool_$k%02d"
  private val modeWords = Seq("fast", "slow", "full", "lite", "deep", "flat", "read", "scan")
  def modes(k: Int): Seq[String] = (0 until 4).map(i => modeWords((k + i * 3) % modeWords.length) + k)
  def limitMax(k: Int): Int = 100 * (k + 1)
  def idPrefix(k: Int): String = ('a' + k).toChar.toString

  /** The argument schema of tool `k`: required, type, enum, pattern,
    * format, minimum/maximum, minLength, items, additionalProperties, oneOf
    * and a recursive `$ref`. The 16 tools differ in their enum vocabulary,
    * limit, id prefix and draft. */
  def toolSchema(k: Int): String = {
    val draft = Seq("draft-04", "draft-07")(k % 2)
    s"""{
      "$$schema": "http://json-schema.org/$draft/schema#",
      "definitions": {
        "node": {
          "type": "object",
          "required": ["id"],
          "properties": {
            "id":   {"type": "string", "pattern": "^${idPrefix(k)}[0-9]+$$"},
            "w":    {"type": "number", "minimum": 0},
            "kids": {"type": "array", "items": {"$$ref": "#/definitions/node"}}
          },
          "additionalProperties": false
        }
      },
      "type": "object",
      "required": ["op", "query", "mode"],
      "properties": {
        "op":     {"type": "string"},
        "query":  {"type": "string", "minLength": 1, "maxLength": 16384},
        "mode":   {"enum": [${modes(k).map(m => "\"" + m + "\"").mkString(", ")}]},
        "limit":  {"type": "integer", "minimum": 1, "maximum": ${limitMax(k)}},
        "at":     {"type": "string", "format": "date-time"},
        "tags":   {"type": "array", "items": {"type": "string", "pattern": "^[a-z]{1,12}$$"}},
        "target": {"oneOf": [{"type": "string", "pattern": "^/"},
                             {"type": "integer", "minimum": 0}]},
        "tree":   {"$$ref": "#/definitions/node"}
      },
      "additionalProperties": false
    }"""
  }

  /** Fault slots. Each breaks a different root property, so their
    * violations add up: a failing property contributes its leaf
    * violation(s) plus one `properties` wrapper; a failing array item adds
    * one `items` wrapper; `$ref` adds none; a oneOf matching no branch
    * reports every branch's violations plus its own. */
  private val slots = Vector("required", "type", "maximum", "enum", "format", "pattern",
    "additional", "oneOf", "deep", "minLength")

  private def jsonStr(sb: java.lang.StringBuilder, s: String): Unit =
    sb.append('"').append(s).append('"')

  def doc(seed: Long, i: Long): Doc = {
    val k = u(seed, i, 0, 21, numTools)
    val malformed = u(seed, i, 0, 22, 200) == 0
    val faulty = !malformed && u(seed, i, 0, 23, 5) == 0
    // 1-5 distinct slots; "type" and "maximum" share the limit property
    val chosen = scala.collection.mutable.LinkedHashSet[String]()
    if (faulty) {
      val n = 1 + u(seed, i, 0, 24, 5)
      var j = 0
      while (chosen.size < n) {
        val s = slots(u(seed, i, j, 25, slots.length))
        if (!(s == "type" && chosen("maximum")) && !(s == "maximum" && chosen("type"))) chosen += s
        j += 1
      }
    }
    val kinds = scala.collection.mutable.TreeMap[String, Int]()
    def add(kind: String, n: Int = 1): Unit = kinds(kind) = kinds.getOrElse(kind, 0) + n

    // long-tailed size: the tree and tag counts grow geometrically
    val sizeClass = u(seed, i, 0, 26, 1000) match {
      case r if r < 500 => 0
      case r if r < 800 => 1
      case r if r < 930 => 2
      case r if r < 980 => 3
      case _ => 4
    }
    val nodes = (1 << (sizeClass * 2)) + u(seed, i, 0, 27, 2 << (sizeClass * 2))
    val nTags = u(seed, i, 0, 28, 2 + 4 * sizeClass) + (if (chosen("pattern")) 1 else 0)

    val sb = new java.lang.StringBuilder(256)
    sb.append('{')
    var first = true
    def field(name: String): Unit = {
      if (!first) sb.append(','); first = false
      jsonStr(sb, name); sb.append(':')
    }
    if (chosen("required")) add("required")
    else { field("op"); jsonStr(sb, "call" + (i % 97)) }
    field("query")
    if (chosen("minLength")) { jsonStr(sb, ""); add("minLength"); add("properties") }
    else jsonStr(sb, "q" + u(seed, i, 0, 29, 1000000) + " of " + toolName(k))
    field("mode")
    if (chosen("enum")) { jsonStr(sb, "bogus"); add("enum"); add("properties") }
    else jsonStr(sb, modes(k)(u(seed, i, 0, 30, 4)))
    if (chosen("type")) { field("limit"); jsonStr(sb, "many"); add("type"); add("properties") }
    else if (chosen("maximum")) { field("limit"); sb.append(limitMax(k) + 1); add("maximum"); add("properties") }
    else if (u(seed, i, 0, 31, 2) == 0) { field("limit"); sb.append(1 + u(seed, i, 0, 32, limitMax(k))) }
    if (chosen("format")) { field("at"); jsonStr(sb, "2024-13-45T99:00:00Z"); add("format"); add("properties") }
    else if (u(seed, i, 0, 33, 2) == 0) {
      field("at"); jsonStr(sb, f"2024-0${1 + u(seed, i, 0, 34, 9)}-1${u(seed, i, 0, 35, 9)}T10:00:00Z")
    }
    if (nTags > 0) {
      field("tags"); sb.append('[')
      val bad = if (chosen("pattern")) u(seed, i, 0, 36, nTags) else -1
      var t = 0
      while (t < nTags) {
        if (t > 0) sb.append(',')
        if (t == bad) jsonStr(sb, "BAD_TAG") else jsonStr(sb, "tag" + ('a' + u(seed, i, t, 37, 26)).toChar)
        t += 1
      }
      sb.append(']')
      if (bad >= 0) { add("pattern"); add("items"); add("properties") }
    }
    if (chosen("oneOf")) { field("target"); sb.append("true"); add("type", 2); add("oneOf"); add("properties") }
    else if (u(seed, i, 0, 38, 2) == 0) { field("target"); sb.append(u(seed, i, 0, 39, 500)) }
    else { field("target"); jsonStr(sb, "/p/" + u(seed, i, 0, 40, 500)) }

    // tree: node j's parent is a random earlier node of depth < 7, so the
    // depth stays within 8 levels
    val parent = new Array[Int](nodes)
    val depth = new Array[Int](nodes)
    var j = 1
    while (j < nodes) {
      var p = u(seed, i, j, 41, j)
      while (depth(p) >= 7) p = (p - 1) max 0
      parent(j) = p; depth(j) = depth(p) + 1
      j += 1
    }
    val badNode = if (chosen("deep")) u(seed, i, 0, 42, nodes) else -1
    val kidsOf = Array.fill(nodes)(scala.collection.mutable.ArrayBuffer[Int]())
    j = 1
    while (j < nodes) { kidsOf(parent(j)) += j; j += 1 }
    def node(n: Int): Unit = {
      sb.append("{\"id\":")
      jsonStr(sb, if (n == badNode) "X" + n else idPrefix(k) + n)
      if (u(seed, i, n, 43, 3) == 0) sb.append(",\"w\":").append(u(seed, i, n, 44, 1000) / 10.0)
      if (kidsOf(n).nonEmpty) {
        sb.append(",\"kids\":[")
        var c = 0
        while (c < kidsOf(n).length) { if (c > 0) sb.append(','); node(kidsOf(n)(c)); c += 1 }
        sb.append(']')
      }
      sb.append('}')
    }
    field("tree"); node(0)
    if (badNode >= 0) {
      val d = depth(badNode)
      add("pattern"); add("properties", d + 2); if (d > 0) add("items", d)
    }
    if (chosen("additional")) { field("zz_extra"); sb.append('1'); add("additionalProperties") }
    sb.append('}')

    if (malformed) {
      val full = sb.toString
      Doc(i, toolName(k), full.substring(0, full.length / 2), Map("parse" -> 1), malformed = true)
    } else
      Doc(i, toolName(k), sb.toString, kinds.toMap, malformed = false)
  }

}
